"""Window/rank operators (SURVEY.md §2.5 W1–W6).

Reference citations:
  W1 src/QC_helpers/cellSizeDistribution.r:61-62
  W2 src/QC_helpers/cellSizeDistribution.r:30-47 (barcode inflection)
  W4 src/4_Prepare_experiment.r:128-131 (top-30 genes)
  W5 src/4_Prepare_experiment.r:78-80  (dense cells_id 0..n-1)
  W6 src/4_Prepare_experiment.r:64-74  (duplicate gene-name rename)

Scale notes: W1/W2 windows are partitioned by sample — per-sample cell
counts (≤ ~10^5 in the reference domain) sort within one task each.
W5 needs *dense* 0..n-1 ids (src/test_object.r:26-29) without a
row_number over an un-partitioned window, which funnels through a
single task: ``dense_ids_scalable`` ranks within each sample and offsets
by the prefix sums of the per-sample counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def barcode_rank(cells: DataFrame, order_col: str = "nCount_RNA") -> DataFrame:
    """W1: rank cells per sample by descending UMI total (knee plot)."""
    w = W.partitionBy("sample").orderBy(F.desc(order_col), "barcode")
    return cells.withColumn("rank", F.row_number().over(w))


def barcode_inflection(cells: DataFrame, threshold_low: float = 100.0,
                       order_col: str = "nCount_RNA") -> DataFrame:
    """W2: CalculateBarcodeInflections — per sample, rank barcodes by
    descending UMI total, form the discrete derivative of log10(total)
    w.r.t. log10(rank) above ``threshold_low``, and return the total at
    the steepest drop (auto minCellSize)."""
    ranked = barcode_rank(cells.filter(F.col(order_col) > F.lit(threshold_low)),
                          order_col)
    w = W.partitionBy("sample").orderBy("rank")
    d = ranked.withColumn(
        "deriv",
        F.round(
            (F.log10(F.col(order_col)) - F.log10(F.lag(order_col).over(w)))
            / (F.log10(F.col("rank")) - F.log10(F.lag("rank").over(w))),
            9,
        ),
    ).filter(F.col("deriv").isNotNull())
    # Deterministic argmin: ties on the (rounded) steepest derivative
    # resolve to the smallest nCount — min_by's tie-break is undefined.
    w_s = W.partitionBy("sample")
    return (
        d.withColumn("_min_deriv", F.min("deriv").over(w_s))
        .filter(F.col("deriv") == F.col("_min_deriv"))
        .groupBy("sample")
        .agg(F.min(order_col).alias("inflection_ncount"))
    )


def top_k_genes(gene_totals: DataFrame, k: int = 30,
                total_col: str = "total_umi") -> DataFrame:
    """W4: k highest-expressed genes; ties broken by gene id so the
    result is deterministic (TakeOrderedAndProject — no full sort)."""
    return gene_totals.orderBy(F.desc(total_col), "gene").limit(k)


def dense_ids_scalable(cells: DataFrame, order: list[str] | None = None,
                       id_col: str = "cells_id") -> DataFrame:
    """W5 at scale: dense ids without a single-task global sort.

    The first order key (``sample``) partitions the work: rank within
    each sample's window (parallel across samples), then offset each
    sample by the prefix sum of per-sample counts. The offsets are a
    *deterministic grouped aggregate* (unlike spark_partition_id over a
    sampled range-partitioning, which can shift between evaluations of
    the same plan), so the 0..n-1 contract (test_object.r:26-29) holds
    without persisting intermediate state.

    Fully lazy: the offsets are a cumulative-sum window over the
    one-row-per-sample size aggregate, broadcast-joined back, so no
    action runs here and the upstream aggregation runs once, at the
    caller's next action."""
    order = order or ["sample", "barcode"]
    part_key, rest = order[0], order[1:]
    # the size aggregate and the ranking window both consume the
    # input; a lazy localCheckpoint materializes the (often
    # aggregation-heavy) upstream once for both branches
    cells = cells.localCheckpoint(eager=False)
    sizes = cells.groupBy(part_key).agg(F.count("*").alias("_n"))
    # one row per sample — the cumsum window is over a tiny frame; the
    # derived _n % 1 key is always 0 but NON-FOLDABLE, keeping the
    # repo's no-unpartitioned-WindowExec invariant
    woff = (W.partitionBy(F.col("_n") % F.lit(1)).orderBy(part_key)
            .rowsBetween(W.unboundedPreceding, -1))
    offs = sizes.select(
        part_key,
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off"))
    w = (W.partitionBy(part_key).orderBy(*rest) if rest
         else W.partitionBy(part_key).orderBy(part_key))
    local = cells.withColumn("_local", F.row_number().over(w) - 1)
    return (local.join(F.broadcast(offs), part_key)
            .withColumn(id_col,
                        (F.col("_local") + F.col("_off")).cast("int"))
            # the equi-join reorders columns (join key first): restore
            # the input's column order + the appended id
            .select(*cells.columns, id_col))


def sort_for_regression(cells: DataFrame, col: str = "nCount_RNA") -> DataFrame:
    """W3: order cells ascending by (log) molecule count before the
    robust regression (src/QC_helpers/numGenesVsNumUmis.r:76). The sort
    key is materialized so downstream per-sample kernels see it."""
    return (cells.withColumn("log_molecules", F.log10(F.col(col)))
            .orderBy("log_molecules", "barcode"))


def dedup_gene_names(genes: DataFrame, name_col: str = "name",
                     id_col: str = "gene") -> DataFrame:
    """W6: gene symbols duplicated anywhere (first occurrence included)
    are renamed to "<name> - <id>" (src/4_Prepare_experiment.r:64-74)."""
    w = W.partitionBy(name_col)
    return genes.withColumn(
        name_col,
        F.when(F.count("*").over(w) > 1,
               F.concat_ws(" - ", F.col(name_col), F.col(id_col)))
        .otherwise(F.col(name_col)),
    )


def ntile_scalable(df: DataFrame, k: int, value_col: str,
                   tiebreak_cols: list[str] | None = None,
                   coarse=None, out_col: str = "tile") -> DataFrame:
    """Global NTILE(k) over (value, tiebreaks) without the single-task
    global window.

    ``coarse`` is any Column MONOTONE in ``value_col`` with modest
    cardinality (default ``floor(value * 32)``, right for scores in
    [0, 1]); it partitions the sort so ranking parallelizes, exactly
    like ``dense_ids_scalable``: rank within each coarse bucket, then
    shift by the prefix sum of bucket counts (one collected row per
    bucket). The tile assignment reproduces SQL NTILE semantics —
    first ``n mod k`` tiles get the extra row — so it hash-matches a
    DuckDB NTILE oracle."""
    tiebreak_cols = tiebreak_cols or []
    cb = coarse if coarse is not None else F.floor(F.col(value_col) * 32)
    d = df.withColumn("_cb", cb.cast("long"))
    sizes = d.groupBy("_cb").agg(F.count("*").alias("n")) \
        .orderBy("_cb").collect()
    offsets, acc = {}, 0
    for r in sizes:
        offsets[r["_cb"]] = acc
        acc += r["n"]
    n = acc
    if n == 0:
        return df.withColumn(out_col, F.lit(None).cast("long")).drop()
    offmap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = W.partitionBy("_cb").orderBy(F.col(value_col), *tiebreak_cols)
    rank = (F.row_number().over(w) + offmap[F.col("_cb")]).cast("long")
    base, extra = n // k, n % k
    thr = extra * (base + 1)
    tile = F.when(
        rank <= F.lit(thr), F.ceil(rank / F.lit(base + 1))
    ).otherwise(
        F.lit(extra) + F.ceil((rank - F.lit(thr)) / F.lit(max(base, 1))))
    return (d.withColumn(out_col, tile.cast("long")).drop("_cb"))
