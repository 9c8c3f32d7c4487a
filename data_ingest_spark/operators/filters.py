"""QC threshold filters and structural prunes (SURVEY.md §2.2 F1–F11).

Each filter is a lazy predicate; composed filters collapse into a
single Parquet scan with pushed-down predicates (Catalyst). Null
semantics deliberately match R's ``subset``: ``col <= t`` drops NULL
rows, exactly as R drops NA rows (src/QC_helpers/classifier.r:63).
A threshold is a number or a Column (a per-sample lookup); a null
threshold keeps no row.

Reference citations:
  F1 src/QC_helpers/cellSizeDistribution.r:74
  F2 src/QC_helpers/mitochondrialContent.r:54
  F3 src/QC_helpers/classifier.r:63
  F4 src/QC_helpers/doubletScores.r:49
  F5 src/2-2_Compute-metrics_doublets.r:31-34
  F6 src/3_Seurat.r:55-59 (CreateSeuratObject min.cells/min.features)
  F7 src/2-1_Compute-metrics_emptyDrops.r:18-24
  F9 src/3_Seurat.r:69-72
  F11 src/QC_helpers/numGenesVsNumUmis.r:82-85
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def filter_min_cell_size(cells: DataFrame,
                         min_cell_size: float | Column) -> DataFrame:
    """F1: keep cells with nCount_RNA >= minCellSize."""
    return cells.filter(F.col("nCount_RNA") >= F.lit(min_cell_size))


def filter_mt_content(cells: DataFrame, max_fraction: float | Column = 0.1,
                      col: str = "fraction_mt") -> DataFrame:
    """F2: keep cells with fraction.mt <= maxFraction (default 0.1,
    on the [0,1] scale — ``metrics.percent_mt`` emits ``fraction_mt``
    alongside ``percent_mt`` so the scales can't be confused)."""
    return cells.filter(F.col(col) <= F.lit(max_fraction))


def filter_classifier_fdr(cells: DataFrame, fdr: float | Column = 0.01,
                          col: str = "emptyDrops_FDR") -> DataFrame:
    """F3: keep cells with emptyDrops_FDR <= FDR; NULL rows drop
    (Spark null comparison == R subset NA semantics)."""
    return cells.filter(F.col(col) <= F.lit(fdr))


def filter_doublet_score(cells: DataFrame,
                         threshold: float | Column = 0.25,
                         col: str = "doublet_scores") -> DataFrame:
    """F4: keep cells with doublet_scores <= probabilityThreshold."""
    return cells.filter(F.col(col) <= F.lit(threshold))


def filter_min_features(expr: DataFrame, min_features: int = 10) -> DataFrame:
    """F5: drop barcodes expressing fewer than ``min_features`` genes.

    Implemented as a left-semi join against the qualifying barcode set;
    at scale this is one co-partitioned shuffle (both sides keyed on
    (sample, barcode)) and AQE will broadcast the qualifying set when
    it is small."""
    qualifying = (
        expr.groupBy("sample", "barcode")
        .agg(F.count(F.when(F.col("count") > 0, 1)).alias("nf"))
        .filter(F.col("nf") >= F.lit(min_features))
        .select("sample", "barcode")
    )
    return expr.join(qualifying, ["sample", "barcode"], "left_semi")


def prune_genes_and_cells(expr: DataFrame, min_cells: int = 3,
                          min_features: int = 10) -> DataFrame:
    """F6: CreateSeuratObject-style two-axis prune — first drop genes
    seen in < min_cells cells, then drop cells expressing < min_features
    of the *surviving* genes (Seurat applies gene prune before the cell
    prune; the order is observable)."""
    good_genes = (
        expr.groupBy("gene")
        .agg(F.count(F.when(F.col("count") > 0, 1)).alias("nc"))
        .filter(F.col("nc") >= F.lit(min_cells))
        .select("gene")
    )
    pruned = expr.join(good_genes, "gene", "left_semi")
    return filter_min_features(pruned, min_features)


def subset_samples(df: DataFrame, samples: list[str], col: str = "sample") -> DataFrame:
    """F7: restrict to configured samples. With the expression table
    partitioned by sample this becomes Catalyst partition pruning."""
    return df.filter(F.col(col).isin(list(samples)))


def mt_gene_predicate(genes: DataFrame, pattern: str = "^mt-",
                      name_col: str = "name") -> DataFrame:
    """F9: case-insensitive regex detection of mitochondrial genes.
    The (?i) flag is applied to the raw column (matching R's
    ``ignore.case=TRUE``) so callers may pass "^MT-" or "^mt-"."""
    return genes.filter(F.col(name_col).rlike("(?i)" + pattern))


def project(df: DataFrame, cols: list[str]) -> DataFrame:
    """F8: column projection (src/4_Prepare_experiment.r:178)."""
    return df.select(*cols)


def remove_outliers(cells: DataFrame, outliers: DataFrame,
                    keys: list[str] | None = None) -> DataFrame:
    """F11: drop cells present in the outlier barcode list (anti join).
    Outlier sets are tiny (regression outliers) → broadcast anti join."""
    keys = keys or ["sample", "barcode"]
    return cells.join(F.broadcast(outliers.select(*keys)), keys, "left_anti")
