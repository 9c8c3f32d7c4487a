"""M4: genes-vs-UMIs regression with prediction band (SURVEY.md §2.8).

Reference: src/QC_helpers/numGenesVsNumUmis.r:51-112 — per sample, fit
MASS::rlm(log10(genes) ~ log10(molecules)), compute a prediction
interval at level 1-p.level (p.level = min(0.001, 1/ncells)), and mark
cells outside the band as outliers (removed via F11 anti-join).

Two implementations:

- :func:`ols_band` — closed-form least squares from the five classical
  sums, per sample, entirely as DataFrame aggregations. Exactly
  expressible in ANSI SQL, so it carries the DuckDB oracle row. The
  band multiplier is a fixed z (the reference's t-quantile converges to
  z for the cell counts involved).
- :func:`huber_rlm_fit` — IRLS Huber fit per sample via ``applyInPandas``
  (the reference's actual estimator). Iterative ⇒ not SQL-expressible;
  covered by property tests. Each sample's (x, y) pairs fit in one
  Arrow batch at reference scale (≤ ~10^5 cells/sample); samples fit in
  parallel across executors.

Both consume a cells frame with ``nCount_RNA``/``nFeature_RNA`` (A1/A2)
and emit per-cell predictions + outlier flags.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (DoubleType, StringType, StructField,
                               StructType)


def _xy(cells: DataFrame) -> DataFrame:
    return cells.select(
        "sample", "barcode",
        F.log10(F.col("nCount_RNA")).alias("x"),
        F.log10(F.col("nFeature_RNA")).alias("y"),
    )


def ols_band(cells: DataFrame, z: float = 3.0) -> DataFrame:
    """Per-sample OLS fit of log10(genes) ~ log10(molecules) with a
    ±z·RMSE prediction band. Returns (sample, barcode, x, y, pred,
    is_outlier). One aggregation shuffle + one broadcast join."""
    pts = _xy(cells)
    fit = pts.groupBy("sample").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).select(
        "sample", "n",
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
         ).alias("slope"),
        "sx", "sy", "sxx", "sxy", "syy",
    ).select(
        "sample", "n", "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n")
         ).alias("intercept"),
        F.sqrt(
            (F.col("syy")
             - F.col("slope") * F.col("sxy")
             - ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n"))
             * F.col("sy"))
            / (F.col("n") - F.lit(2.0))
        ).alias("rmse"),
    )
    return (
        pts.join(F.broadcast(fit), "sample")
        .withColumn("pred", F.col("intercept") + F.col("slope") * F.col("x"))
        .withColumn("is_outlier",
                    F.abs(F.col("y") - F.col("pred")) > F.lit(z) * F.col("rmse"))
        .select("sample", "barcode", "x", "y", "pred", "is_outlier")
    )


_RLM_SCHEMA = StructType([
    StructField("sample", StringType()),
    StructField("slope", DoubleType()),
    StructField("intercept", DoubleType()),
    StructField("scale", DoubleType()),
])


def huber_rlm_fit(cells: DataFrame, c: float = 1.345,
                  max_iter: int = 50, tol: float = 1e-8) -> DataFrame:
    """Per-sample Huber IRLS fit (MASS::rlm defaults: tuning c=1.345,
    MAD scale). Returns one row per sample (slope, intercept, scale);
    a sample with fewer than 3 cells or a constant log10(nCount) has no
    line to fit and gets no row."""
    pts = _xy(cells)

    def fit(pdf):
        import numpy as np
        import pandas as pd
        x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        if len(x) < 3 or np.ptp(x) == 0:
            return pd.DataFrame(columns=_RLM_SCHEMA.fieldNames())
        X = np.column_stack([np.ones_like(x), x])
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        scale = 1.0
        for _ in range(max_iter):
            r = y - X @ beta
            scale = np.median(np.abs(r - np.median(r))) / 0.6745 or 1e-12
            u = r / (scale * c)
            w = np.where(np.abs(u) <= 1.0, 1.0, 1.0 / np.maximum(np.abs(u), 1e-12))
            Xw = X * w[:, None]
            beta_new = np.linalg.solve(X.T @ Xw, Xw.T @ y)
            if np.max(np.abs(beta_new - beta)) < tol:
                beta = beta_new
                break
            beta = beta_new
        return pd.DataFrame({
            "sample": [pdf["sample"].iloc[0]],
            "slope": [float(beta[1])],
            "intercept": [float(beta[0])],
            "scale": [float(scale)],
        })

    return pts.groupBy("sample").applyInPandas(fit, schema=_RLM_SCHEMA)


def huber_band_outliers(cells: DataFrame,
                        z: float | Column = 3.29) -> DataFrame:
    """Full M4: Huber fit per sample, flag cells outside ±z·scale of the
    prediction (z = Phi^-1(1 - 0.001/2) ≈ 3.29, the reference's default
    p.level=0.001 two-sided band; a Column gives a per-sample z).
    Returns (sample, barcode, pred, is_outlier) — feed the outliers to
    filters.remove_outliers (F11). A sample huber_rlm_fit has no line
    for gets a null pred and no outliers."""
    pts = _xy(cells)
    fit = huber_rlm_fit(cells)
    return (
        pts.join(F.broadcast(fit), "sample", "left")
        .withColumn("pred", F.col("intercept") + F.col("slope") * F.col("x"))
        .withColumn("is_outlier", F.coalesce(
            F.abs(F.col("y") - F.col("pred")) > F.lit(z) * F.col("scale"),
            F.lit(False)))
        .select("sample", "barcode", "x", "y", "pred", "is_outlier")
    )


def theil_sen(events: DataFrame, key_col: str = "user_id",
              ts_col: str = "ts", val_col: str = "value",
              seq_col: str = "event_id") -> DataFrame:
    """Per-key Theil–Sen robust trend: the median of all pairwise
    slopes (value per HOUR) over a key's event history — the classic
    29.3%-breakdown-point alternative to OLS when a user's metric
    series carries outliers (Sen 1968; the reference's rlm fit solves
    the same robustness problem for the gene/UMI fit, see
    src/QC_helpers/numGenesVsNumUmis.r:51-66 — this is the
    nonparametric sibling for event streams).

    Pairwise slopes are O(k²) per key — correct for the bounded
    per-entity histories this targets (sessions, accounts: k ≤ ~10³);
    the self-join keys the shuffle on ``key_col`` so every key's pairs
    build inside one partition, and keys scale out embarrassingly.
    Timestamps go through the repo's epoch_seconds (NTZ-safe, matches
    DuckDB's naive-as-UTC epoch()); one double division per pair, and the median is a positional pick (avg of the
    two middles) via one row_number window on the same key partition —
    no driver state anywhere.

    Returns ``(key, n_pairs, theil_slope)`` with slope in value-units
    per hour, rounded 6dp.
    """
    from data_ingest_spark.functions.stats import epoch_seconds
    e = events.select(
        F.col(key_col).alias("_k"), F.col(seq_col).alias("_i"),
        epoch_seconds(F.col(ts_col)).alias("_t"),
        F.col(val_col).cast("double").alias("_v"))
    a = e.select(F.col("_k"), F.col("_i").alias("_ia"),
                 F.col("_t").alias("_ta"), F.col("_v").alias("_va"))
    b = e.select(F.col("_k"), F.col("_i").alias("_ib"),
                 F.col("_t").alias("_tb"), F.col("_v").alias("_vb"))
    sl = (a.join(b, "_k")
          .filter((F.col("_ia") < F.col("_ib"))
                  & (F.col("_ta") != F.col("_tb")))
          .select("_k",
                  (((F.col("_vb") - F.col("_va")) * F.lit(3600.0))
                   / (F.col("_tb") - F.col("_ta")))
                  .alias("_sl")))
    from pyspark.sql import Window as W
    win = W.partitionBy("_k").orderBy("_sl")
    r = (sl.withColumn("_rn", F.row_number().over(win))
         .withColumn("_n", F.count("*").over(W.partitionBy("_k"))))
    mid = r.filter((F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
                   | (F.col("_rn") == F.floor(F.col("_n") / 2) + 1))
    return (mid.groupBy(F.col("_k").alias(key_col))
            .agg(F.max("_n").cast("long").alias("n_pairs"),
                 F.round(F.avg("_sl"), 6).alias("theil_slope")))


def logreg_newton2(events: DataFrame, value_col: str = "value",
                   type_col: str = "event_type",
                   positive_type: str = "purchase") -> DataFrame:
    """In-engine logistic regression: P(y=1 | x) with x = ln(1+cents),
    fit by TWO unrolled Newton–Raphson steps from β = 0 — enough to
    land within ~1e-3 of the converged MLE on well-conditioned 1-D
    problems, and, because the iteration count is FIXED, every
    intermediate is a deterministic function of exact aggregates, so
    the whole fit carries a cross-engine value oracle (the x99/m13
    fixed-iteration discipline applied to model TRAINING).

    Determinism: x quantizes once to 1e-6 fixed-point int64 (the x39
    pattern); step-1 moments (Σxq, Σxq², Σ_{y=1} xq) sum as
    decimal(38,0) — exact integers, immune to float summation order.
    Step 2's per-row sigmoid is libm exp, so its weights/residuals
    quantize to 1e-9 fixed-point int64 per ROW before the decimal
    sums (a last-ulp exp disagreement flips at most ±1e-9 on isolated
    rows, invisible at the 6dp output). The 2×2 Newton solve is a
    closed-form Cramer chain over identical doubles in both engines.

    Plan: two map-side-combined aggregates over the scan (one per
    step) + one broadcast of the 1-row β frame — no iteration state,
    no driver math. Returns one row: (n, n_pos, beta0, beta1)."""
    from pyspark.sql import functions as F

    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    xq = F.floor(F.log(F.lit(1.0) + cents) * 1_000_000
                 + F.lit(0.5)).cast("long")
    y = (F.col(type_col) == positive_type).cast("int")
    base = events.select(xq.alias("xq"), y.alias("y"))
    dec = "decimal(38,0)"
    m1 = base.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("np"),
        F.sum(F.col("xq").cast(dec)).alias("sx"),
        F.sum((F.col("xq").cast(dec) * F.col("xq"))).alias("sxx"),
        F.sum(F.when(F.col("y") == 1, F.col("xq")).otherwise(0)
              .cast(dec)).alias("sx1"))
    # Newton step 1 from beta = 0: p = 1/2, w = 1/4.
    # g = [np − n/2, (sx1 − sx/2)/1e6]; H = 1/4·[[n, sx/1e6],
    # [sx/1e6, sxx/1e12]]; beta = H⁻¹ g (Cramer).
    sxd = F.col("sx").cast("double") / 1e6
    sxxd = F.col("sxx").cast("double") / 1e12
    g0 = F.col("np") - F.col("n") / 2
    g1 = F.col("sx1").cast("double") / 1e6 - sxd / 2
    detm = F.col("n") * sxxd - sxd * sxd
    b0_1 = 4 * (sxxd * g0 - sxd * g1) / detm
    b1_1 = 4 * (F.col("n") * g1 - sxd * g0) / detm
    beta1f = m1.select(F.col("n"), F.col("np"),
                       b0_1.alias("b0"), b1_1.alias("b1"))
    # Newton step 2: per-row sigmoid at (b0, b1); weights/residuals
    # quantized 1e-9 per row, summed exactly as decimal(38,0).
    rowed = base.join(F.broadcast(beta1f))
    p = F.lit(1.0) / (F.lit(1.0)
                      + F.exp(-(F.col("b0")
                                + F.col("b1") * (F.col("xq") / 1e6))))
    wq = F.floor(p * (1 - p) * 1e9 + F.lit(0.5)).cast("long")
    rq = F.floor((F.col("y") - p) * 1e9 + F.lit(0.5)).cast("long")
    m2 = (rowed
          .withColumn("_wq", wq).withColumn("_rq", rq)
          .agg(F.max("b0").alias("b0"), F.max("b1").alias("b1"),
               F.max("n").alias("n"), F.max("np").alias("np"),
               F.sum(F.col("_wq").cast(dec)).alias("sw"),
               F.sum(F.col("_wq").cast(dec) * F.col("xq")).alias("swx"),
               F.sum(F.col("_wq").cast(dec) * F.col("xq")
                     * F.col("xq")).alias("swxx"),
               F.sum(F.col("_rq").cast(dec)).alias("sr"),
               F.sum(F.col("_rq").cast(dec) * F.col("xq")).alias("srx")))
    swd = F.col("sw").cast("double") / 1e9
    swxd = F.col("swx").cast("double") / 1e15
    swxxd = F.col("swxx").cast("double") / 1e21
    srd = F.col("sr").cast("double") / 1e9
    srxd = F.col("srx").cast("double") / 1e15
    det2 = swd * swxxd - swxd * swxd
    db0 = (swxxd * srd - swxd * srxd) / det2
    db1 = (swd * srxd - swxd * srd) / det2
    return m2.select(
        F.col("n").cast("long").alias("n"),
        F.col("np").cast("long").alias("n_pos"),
        F.round(F.col("b0") + db0, 6).alias("beta0"),
        F.round(F.col("b1") + db1, 6).alias("beta1"))
