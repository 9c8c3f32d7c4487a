"""emptyDrops re-expressed as DataFrame ops (SURVEY.md §2.8 M1).

Reference behavior (src/2-1_Compute-metrics_emptyDrops.r:32-60 calling
DropletUtils::emptyDrops(lower=100), run ONCE PER SAMPLE):
  1. per-sample ambient profile from barcodes with total <= lower,
  2. per-barcode multinomial goodness-of-fit p-value vs that sample's
     profile (Monte-Carlo in DropletUtils),
  3. Benjamini-Hochberg FDR across the sample's barcodes.

Spark-first design — everything keyed by ``sample`` so multi-sample
experiments stay embarrassingly partition-parallel (the reference runs
a sequential per-sample loop; here one lazy plan covers all samples):

  - ambient weights and log-likelihood: see :func:`empty_drops`.
  - p-values: deterministic normal approximation of the Monte-Carlo
    null. Under the multinomial null with T draws, LogProb has mean
    T·Σp·ln(p) and variance T·(Σp·ln²p − (Σp·ln p)²); DropletUtils'
    MC estimates exactly this distribution. The approximation keeps
    the operator fully distributed, seed-free, and — because the CDF
    is the portable A&S polynomial (functions/stats.py) — DuckDB
    oracle-checkable.
  - BH FDR: two window functions per sample (rank ascending p;
    running min of p·n/rank over the suffix).

No `.collect()` anywhere: per-sample moments travel as a broadcast
join instead of driver-side scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from data_ingest_spark.functions.stats import normal_cdf


def bh_fdr(df: DataFrame, p_col: str = "PValue", out_col: str = "FDR",
           group: list[str] | None = None) -> DataFrame:
    """Benjamini-Hochberg FDR: with p(1)<=...<=p(n),
    fdr(i) = min_{j>=i} ( p(j) * n / j ), capped at 1.

    Pure window-function implementation: rank ascending p, then a
    running minimum over the suffix. Defaults to per-sample grouping —
    the ungrouped variant funnels the whole table through one task and
    should only be used on small frames. Tied p-values provably get
    identical FDR (the suffix-min absorbs rank permutations within a
    tie group), so results are deterministic.

    Scale note: the suffix-min is computed as a running min over the
    REVERSED rank order (UNBOUNDED PRECEDING frame, O(n) streaming),
    never as a `CURRENT ROW .. UNBOUNDED FOLLOWING` frame — Spark
    executes shrinking frames by rescanning the remainder per row,
    which is O(n²) per partition (measured 140 s vs <2 s on 3×110k
    rows)."""
    part = ["sample"] if group is None else group
    w_rank = W.partitionBy(*part).orderBy(F.col(p_col).asc_nulls_last())
    w_n = W.partitionBy(*part)
    n = F.sum(F.when(F.col(p_col).isNotNull(), 1).otherwise(0)).over(w_n)
    ranked = df.withColumn("_rank", F.row_number().over(w_rank)).withColumn("_n", n)
    adj = F.col(p_col) * F.col("_n") / F.col("_rank")
    w_cummin = (W.partitionBy(*part).orderBy(F.col("_rank").desc())
                .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        ranked.withColumn("_adj", adj)
        .withColumn(
            out_col,
            F.when(F.col(p_col).isNotNull(),
                   F.least(F.lit(1.0), F.min("_adj").over(w_cummin))),
        )
        .drop("_rank", "_n", "_adj")
    )


def empty_drops(expr: DataFrame, lower: float = 100.0,
                n_iter: int = 10000, alpha: float = 0.5) -> DataFrame:
    """Full emptyDrops: returns (sample, barcode, Total, LogProb,
    PValue, Limited, FDR). Barcodes with Total <= lower are ambient by
    definition and get NULL results (they seed the null, they are not
    tested) — mirroring DropletUtils. All statistics are per sample
    (reference runs one emptyDrops call per sample:
    src/2-1_Compute-metrics_emptyDrops.r:63-65).

    ``Limited`` flags barcodes at the MC resolution floor
    (p < 1/(n_iter+1)), mirroring the reference's Limited column.

    Plan shape (scale-tuned): the smoothed ambient WEIGHTS
    (sample, gene, w) are computed once and persisted — the table is
    |samples|·|genes| rows (kilobytes per sample), and both consumers
    (per-sample moments, likelihood join) would otherwise recompute
    its subtree. The ambient gene sums are computed by SUBTRACTION:
    amb(gene) = total(gene) − cell(gene), where `cell` restricts to
    the NON-ambient barcodes. That inversion matters at 100 TB: the
    ambient barcodes are the overwhelming majority of rows (droplet
    data is mostly empties), so joining them directly forces a
    full-fact-table shuffle, whereas the non-ambient barcode list is
    the small side (real cells) — AQE turns that join into a
    broadcast, and every remaining shuffle in the plan carries only
    partially-aggregated (map-side combined) data. Counts are
    integers, so the subtraction is exact. Normalization never
    materializes: with W = Σw per sample, ln p = ln w − ln W, so the
    per-sample moments come algebraically from one tiny aggregation
    (m1 = Σw·ln w / W − ln W; m2 = (Σw·ln²w − 2lnW·Σw·ln w + ln²W·W)/W)
    and the per-barcode log-likelihood is Σc·ln w − T·ln W — one pass
    over the expression table.
    """
    totals = expr.groupBy("sample", "barcode").agg(F.sum("count").alias("_t"))
    cells_bc = totals.filter(F.col("_t") > lower).select("sample", "barcode")
    # ONE conditional aggregation replaces the former two corpus-wide
    # passes (gene totals, then gene totals over the joined cell
    # slice, then an outer join of the two): left-join the small
    # non-ambient barcode list (AQE broadcasts it) and split each
    # (sample, gene) sum by the flag in the same map-side combine.
    # amb = all − cells stays exact integer arithmetic; the saved
    # corpus scan + gene-keyed shuffle is the dominant cost at scale.
    flagged = expr.join(
        cells_bc.withColumn("_is_cell", F.lit(1)),
        ["sample", "barcode"], "left")
    weights = (
        flagged.groupBy("sample", "gene")
        .agg(F.sum("count").alias("_g_all"),
             F.sum(F.when(F.col("_is_cell") == 1, F.col("count")))
             .alias("_g_cells"))
        .select("sample", "gene",
                (F.col("_g_all") - F.coalesce(F.col("_g_cells"), F.lit(0))
                 + F.lit(alpha)).alias("w"))
        .persist()
    )

    lnw = F.log("w")
    mom = weights.groupBy("sample").agg(
        F.sum("w").alias("_W"),
        F.sum(F.col("w") * lnw).alias("_swl"),
        F.sum(F.col("w") * lnw * lnw).alias("_swl2"),
    ).select(
        "sample",
        F.log("_W").alias("_lnW"),
        (F.col("_swl") / F.col("_W") - F.log("_W")).alias("m1"),
        ((F.col("_swl2") - 2 * F.log("_W") * F.col("_swl")
          + F.log("_W") ** 2 * F.col("_W")) / F.col("_W")).alias("m2"),
    )

    ll = (
        expr.join(F.broadcast(weights), ["sample", "gene"])
        .groupBy("sample", "barcode")
        .agg(
            F.sum("count").alias("Total"),
            F.sum(F.col("count") * F.log("w")).alias("_slnw"),
        )
    )
    z = (F.col("LogProb") - F.col("Total") * F.col("m1")) / F.sqrt(
        F.col("Total") * (F.col("m2") - F.col("m1") ** 2)
    )
    tested = (
        ll.join(F.broadcast(mom), "sample")
        .withColumn("LogProb", F.col("_slnw") - F.col("Total") * F.col("_lnW"))
        .withColumn("_z", z)
        .withColumn("PValue",
                    F.when(F.col("Total") > lower, normal_cdf("_z")))
        .withColumn("Limited", F.when(F.col("Total") > lower,
                                      F.col("PValue") < F.lit(1.0 / (n_iter + 1))))
        .drop("_z", "m1", "m2", "_lnW", "_slnw")
    )
    return bh_fdr(tested, "PValue", "FDR", group=["sample"])
