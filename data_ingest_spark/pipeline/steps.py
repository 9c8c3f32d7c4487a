"""The QC step registry — the platform's public query surface.

Reference contract (src/QC_helpers/*.r): every step is
`step(scdata, config) -> list(data, config, plotData)`, chained by
stage 4; per-sample default configs are derived by
`add_custom_config_per_sample` (src/4_Prepare_experiment.r:310-334).

Here: `Step = Callable[[Experiment, dict], StepResult]`, registered in
STEPS in the reference's execution order
(src/4_Prepare_experiment.r:222-269 config list). `run_qc` composes
them into ONE lazy plan — the reference's seven eager passes become a
single Catalyst-optimized DAG; nothing materializes until the caller
writes a checkpoint.

Config layout: ``config[step][key]`` is the step-wide value and
``config[step]["sample-<s>"][key]`` a per-sample override, which wins
for sample ``s``. Every threshold is read through `_threshold`, one
Column over ``sample``. The keys each step reads (default):

  cellSizeDistribution  minCellSize (the per-sample W2 knee)
  mitochondrialContent  maxFraction (0.1)
  classifier            FDR (0.01)
  numGenesVsNumUmis     pLevel (0.001)
  doubletScores         probabilityThreshold (0.25)
  dataIntegration       nfeatures (2000), numPCs (50),
                        selection_method ("vst" | "vst_quad"),
                        reduction, integrate (True)
  configureEmbedding    k (20), lpaIter (10), computeEmbedding (True),
                        driverEmbedCeiling

The auto thresholds (knee, singlet max, pLevel) are computed only in
`derive_config_per_sample`, which returns them as ``sample-<s>``
overrides; the steps only apply them.

Step ↔ reference file map:
  cellSizeDistribution  cellSizeDistribution.r  (F1 + W1/W2 auto)
  mitochondrialContent  mitochondrialContent.r  (F2)
  classifier            classifier.r            (F3, emptyDrops FDR)
  numGenesVsNumUmis     numGenesVsNumUmis.r     (M4 band + F11)
  doubletScores         doubletScores.r         (F4 + A7 auto)
  dataIntegration       dataIntegration.r       (M5-M9)
  configureEmbedding    configureEmbedding.r    (M12-M13 + M10/M11)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from statistics import NormalDist
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from data_ingest_spark.operators import (clustering as cl, doublets as db,
                                         embedding as em, filters as fl,
                                         integrate as ig, metrics as mx,
                                         neighbors as nb, normalize as nz,
                                         reduction as rd, regression as rg,
                                         windows as wd)
from data_ingest_spark.pipeline.experiment import Experiment


@dataclass
class StepResult:
    data: Experiment
    config: dict
    plot_data: dict[str, DataFrame] = field(default_factory=dict)


Step = Callable[[Experiment, dict], StepResult]
STEPS: dict[str, Step] = {}


def _step(name: str):
    def deco(fn: Step) -> Step:
        STEPS[name] = fn
        return fn
    return deco


_SAMPLE = "sample-"


def _overrides(cfg: dict, key: str) -> dict:
    """{sample: value} of the ``sample-<s>`` overrides of ``key``."""
    return {k[len(_SAMPLE):]: v[key] for k, v in cfg.items()
            if k.startswith(_SAMPLE) and key in v}


def _threshold(cfg: dict, key: str,
               fn: Callable[[float], float] = float) -> Column:
    """``fn(cfg[key])`` as a Column over ``sample``: a ``sample-<s>``
    override wins over the step-wide value; null where neither is set
    (a null threshold keeps no cell, as R's NA subset)."""
    wide = cfg.get(key)
    col = F.lit(None if wide is None else fn(wide)).cast("double")
    per = _overrides(cfg, key)
    if per:
        by_sample = F.create_map(*[F.lit(x) for s, v in per.items()
                                   for x in (s, fn(v))])
        col = F.coalesce(by_sample[F.col("sample")], col)
    return col


@_step("cellSizeDistribution")
def cell_size_distribution(exp: Experiment, config: dict) -> StepResult:
    """F1 (cellSizeDistribution.r:50-74); with no minCellSize configured
    at all, the per-sample W2 knee of derive_config_per_sample
    (*_config.r:15-33). plotData = barcode-rank curve (W1)."""
    cfg = dict(config)
    if cfg.get("minCellSize") is None and not _overrides(cfg, "minCellSize"):
        cfg.update(derive_config_per_sample(exp)["cellSizeDistribution"])
    kept = fl.filter_min_cell_size(exp.cells, _threshold(cfg, "minCellSize"))
    return StepResult(exp.subset_cells(kept), cfg,
                      {"barcode_rank": wd.barcode_rank(exp.cells)})


@_step("mitochondrialContent")
def mitochondrial_content(exp: Experiment, config: dict) -> StepResult:
    """F2 (mitochondrialContent.r:38-54): fraction scale."""
    cfg = {"maxFraction": 0.1, **config}
    kept = fl.filter_mt_content(exp.cells, _threshold(cfg, "maxFraction"))
    return StepResult(exp.subset_cells(kept), cfg,
                      {"mt_hist": mx.histogram(exp.cells, "fraction_mt",
                                               0.05, group=["sample"])})


@_step("classifier")
def classifier(exp: Experiment, config: dict) -> StepResult:
    """F3 (classifier.r:63): emptyDrops_FDR <= FDR; NULL rows drop
    (R NA-subset semantics)."""
    cfg = {"FDR": 0.01, **config}
    if "emptyDrops_FDR" not in exp.cells.columns:
        return StepResult(exp, cfg, {})
    kept = fl.filter_classifier_fdr(exp.cells, _threshold(cfg, "FDR"),
                                    "emptyDrops_FDR")
    return StepResult(exp.subset_cells(kept), cfg, {})


def _band_z(p_level: float) -> float:
    """Two-sided normal band multiplier at level 1 - p.level."""
    return NormalDist().inv_cdf(1.0 - p_level / 2.0)


@_step("numGenesVsNumUmis")
def num_genes_vs_num_umis(exp: Experiment, config: dict) -> StepResult:
    """M4 + F11 (numGenesVsNumUmis.r:51-112): robust log-log band at
    level 1 - pLevel, z = Phi^-1(1 - pLevel/2) per sample."""
    cfg = {"pLevel": 0.001, **config}
    banded = rg.huber_band_outliers(exp.cells,
                                    z=_threshold(cfg, "pLevel", _band_z))
    outliers = banded.filter(F.col("is_outlier"))
    kept = fl.remove_outliers(exp.cells, outliers)
    return StepResult(exp.subset_cells(kept), cfg,
                      {"band": banded.select("sample", "barcode", "pred",
                                             "is_outlier")})


@_step("doubletScores")
def doublet_scores_step(exp: Experiment, config: dict) -> StepResult:
    """F4 (doubletScores.r:49): doublet_scores <= probabilityThreshold.
    Cells without scores are scored by the distributed grid scorer
    (every stage a shuffle-bounded DataFrame op)."""
    cfg = {"probabilityThreshold": 0.25, **config}
    if "doublet_scores" not in exp.cells.columns:
        scored = db.doublet_scores_grid(exp.expression)
        exp = exp.with_(cells=exp.cells.join(scored, ["sample", "barcode"],
                                             "left"))
    kept = fl.filter_doublet_score(
        exp.cells, _threshold(cfg, "probabilityThreshold"))
    return StepResult(exp.subset_cells(kept), cfg, {})


@_step("dataIntegration")
def data_integration(exp: Experiment, config: dict) -> StepResult:
    """M5 normalize → M6 HVG → M7 scale → M8 PCA → M9 integrate when
    multi-sample (dataIntegration.r:86-112)."""
    cfg = {"nfeatures": 2000, "numPCs": 50,
           "selection_method": "vst", **config}
    # Seurat FindVariableFeatures(vst) selects on RAW counts
    # (dataIntegration.r:93,102); "vst_quad" swaps the loess smoother
    # for the closed-form quadratic fit (oracle-exact end to end —
    # the m6_vst_quad contract).
    select = {"vst": nz.find_variable_features_vst,
              "vst_quad": nz.find_variable_features_quad}
    if cfg["selection_method"] not in select:
        raise ValueError(
            f"dataIntegration: unknown selection_method "
            f"{cfg['selection_method']!r}; expected one of {sorted(select)}")
    normalized = nz.log_normalize(exp.expression)
    hvgs = select[cfg["selection_method"]](
        exp.expression, cfg["nfeatures"]).cache()
    scaled = nz.scale_data(
        normalized.join(F.broadcast(hvgs.select("gene")), "gene"),
        n_cells_src=exp.expression)
    # PCA consumes the assembled vectors three times (dim probe, fit,
    # transform): materialize once instead of recomputing the
    # normalize→HVG→scale chain per action.
    vectors = rd.assemble_vectors(scaled, hvgs).localCheckpoint()
    if cfg.get("reduction") == "none":
        # Skip the eigen re-basis and use the scaled HVG matrix
        # itself as the reduced space (each HVG = one dimension,
        # gene-ascending index — exactly assemble_vectors' layout).
        # This is the path a fully SQL-replayable pipeline takes:
        # every downstream distance is a deterministic function of
        # oracle-exact scaled values, where PCA is deterministic only
        # up to eigen-sign (m8's rows-only caveat).
        dim = vectors.select("features").head()["features"].size
        red = rd.pc_columns(vectors.withColumnRenamed("features", "pc"),
                            dim)
        misc = {**exp.misc, "numPCs": dim}
        return StepResult(exp.with_(normalized=normalized,
                                    reductions=red, misc=misc), cfg, {})
    pcs, explained = rd.run_pca(vectors, cfg["numPCs"])
    k = len(explained)
    red = rd.pc_columns(pcs, k)
    n_samples = exp.cells.select("sample").distinct().count()
    if n_samples > 1 and cfg.get("integrate", True):
        # distributed MNN (LSH joins, no matrix collect)
        red = ig.integrate_mnn_distributed(red)
    misc = {**exp.misc, "explained_variance": explained, "numPCs": k}
    return StepResult(exp.with_(normalized=normalized, reductions=red,
                                misc=misc), cfg, {})


@_step("configureEmbedding")
def configure_embedding(exp: Experiment, config: dict) -> StepResult:
    """M12 kNN/SNN → M13 clustering → M10 embedding
    (configureEmbedding.r:73-115)."""
    cfg = {"k": 20, "computeEmbedding": True, **config}
    # knn_auto: exact while the matrix fits the staging ceiling,
    # LSH-bucketed beyond it — the pipeline never hard-wires the
    # collect-everything strategy.
    knn = nb.knn_auto(_with_vec(exp.reductions), k=cfg["k"],
                      max_exact_rows=2_000_000)
    snn = nb.snn_graph(knn, k=cfg["k"])
    # Fixed-point vote weights (clustering.LPA_SCALE): integer sums
    # make the cluster assignment independent of float summation
    # order — the same determinism convention as the registry's
    # unrolled LPA oracle, now applied in the pipeline itself.
    clusters = cl.label_propagation(
        cl.scale_weights_fixed(snn),
        max_iter=cfg.get("lpaIter", 10))
    plots: dict[str, DataFrame] = {"snn": snn}
    if cfg["computeEmbedding"]:
        # same gate as knn_auto: the driver-side UMAP/spectral
        # fallback only below the documented collect ceiling; above it
        # the distributed Laplacian eigenmap runs on the SNN edges the
        # step already built (no per-cell collect possible).
        from data_ingest_spark.operators.guards import DRIVER_ROWS_CEILING
        ceiling = cfg.get("driverEmbedCeiling", DRIVER_ROWS_CEILING)
        if exp.reductions.count() <= ceiling:
            plots["embedding"] = em.embed_umap(
                exp.reductions, max_driver_rows=ceiling)
        else:
            plots["embedding"] = em.spectral_embedding_distributed(
                cl._undirect(snn))
    cells = (exp.cells.withColumn(
        "_id", F.concat_ws("_", "sample", "barcode"))
        .join(clusters.withColumnRenamed("id", "_id"), "_id", "left")
        .drop("_id"))
    return StepResult(exp.with_(cells=cells), cfg, plots)


def _with_vec(red: DataFrame) -> DataFrame:
    pc_cols = [c for c in red.columns if c.startswith("pc_")]
    return red.withColumn(
        "pc", F.array(*[F.col(c).cast("double") for c in pc_cols]))


DEFAULT_ORDER = ["cellSizeDistribution", "mitochondrialContent", "classifier",
                 "numGenesVsNumUmis", "doubletScores", "dataIntegration",
                 "configureEmbedding"]


def _truncate(new: Experiment, old: Experiment) -> Experiment:
    """Lazy localCheckpoint on every slot a step changed, so the next
    step's eager actions (PCA fit, kNN count, LPA rounds) start from a
    truncated plan instead of re-executing the upstream chain. These
    are the stage boundaries where the reference writes its RDS
    checkpoints (§3 IR list).

    The expression slot checkpoints once, at the run_qc entry
    (old.expression is None): a step changes it only by a semi-join
    against the step's checkpointed kept cells, which re-derives in
    one flat scan."""
    kw = {}
    for slot in ("expression", "cells", "normalized", "reductions"):
        a, b = getattr(new, slot), getattr(old, slot)
        if a is not None and a is not b:
            if slot == "expression" and b is not None:
                continue
            kw[slot] = a.localCheckpoint(eager=False)
    return new.with_(**kw) if kw else new


def run_qc(exp: Experiment, config: dict | None = None,
           order: list[str] | None = None) -> tuple[Experiment, dict]:
    """Chain the steps (reference order); returns the final Experiment
    and the enriched config (the config_dataProcessing.json content)."""
    config = dict(config or {})
    out_cfg: dict[str, Any] = {}
    exp = _truncate(exp, Experiment(expression=None, cells=None))
    for name in order or DEFAULT_ORDER:
        res = STEPS[name](exp, config.get(name, {}))
        new, out_cfg[name] = res.data, res.config
        exp = _truncate(new, exp)
    return exp, out_cfg


def derive_config_per_sample(exp: Experiment) -> dict:
    """add_custom_config_per_sample (4_Prepare_experiment.r:310-334):
    the only place the auto thresholds are computed, each returned as a
    ``sample-<s>`` override of its step — the W2 knee as minCellSize,
    M4's p.level = min(0.001, 1/ncells), and the A7 singlet max as
    probabilityThreshold when the cells carry doublet scores. One
    collect; a sample without a knee or a singlet gets no override."""
    per = (exp.cells.groupBy("sample").agg(F.count("*").alias("n"))
           .join(wd.barcode_inflection(exp.cells, 100.0), "sample", "left"))
    doublets = "doublet_scores" in exp.cells.columns
    if doublets:
        per = per.join(mx.singlet_max(exp.cells), "sample", "left")
    cfg: dict[str, Any] = {"cellSizeDistribution": {},
                           "numGenesVsNumUmis": {}}
    if doublets:
        cfg["doubletScores"] = {}
    for r in per.collect():
        key = f"{_SAMPLE}{r['sample']}"
        if r["inflection_ncount"] is not None:
            cfg["cellSizeDistribution"][key] = {
                "minCellSize": float(r["inflection_ncount"]), "binStep": 200}
        cfg["numGenesVsNumUmis"][key] = {"pLevel": min(0.001, 1.0 / r["n"])}
        if doublets and r["max_singlet_score"] is not None:
            cfg["doubletScores"][key] = {
                "probabilityThreshold": float(r["max_singlet_score"])}
    return cfg
