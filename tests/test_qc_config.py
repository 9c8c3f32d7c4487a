"""The per-sample config path through run_qc: derive_config_per_sample
computes every auto threshold, the steps apply them, a ``sample-<s>``
override wins over the step-wide value, and the step config run_qc
returns shows what was applied."""

import numpy as np
import pandas as pd
import pytest

from data_ingest_spark.operators import emptydrops as ed
from data_ingest_spark.pipeline import (Experiment, assemble_cells,
                                        derive_config_per_sample, run_qc)

FILTER_STEPS = ["cellSizeDistribution", "mitochondrialContent", "classifier",
                "numGenesVsNumUmis"]


def _synthetic_expr(seed: int = 3) -> pd.DataFrame:
    """Two samples, sb at twice sa's depth: 40 cells expressing G00-G09,
    60 shallow droplets above 100 UMIs and 30 ambient ones below it,
    both drawn from the ambient profile (G10-G19 and MT-1)."""
    rng = np.random.default_rng(seed)
    genes = [f"G{g:02d}" for g in range(21)]
    cell_p = np.r_[np.full(10, 0.09), np.full(10, 0.005), 0.05]
    amb_p = np.r_[np.full(10, 0.01), np.full(10, 0.08), 0.1]
    rows = []
    for s, depth in (("sa", 1), ("sb", 2)):
        kinds = ([("c", cell_p, (300, 1200))] * 40
                 + [("e", amb_p, (101, 160))] * 60
                 + [("a", amb_p, (5, 50))] * 30)
        for i, (kind, p, (lo, hi)) in enumerate(kinds):
            total = int(rng.integers(lo, hi)) * depth
            for g, c in zip(genes, rng.multinomial(total, p / p.sum())):
                if c:
                    rows.append((s, f"{kind}{i:03d}", g, int(c)))
    return pd.DataFrame(rows, columns=["sample", "barcode", "gene", "count"])


@pytest.fixture(scope="module")
def qc_exp(spark):
    expr = spark.createDataFrame(
        _synthetic_expr(),
        "sample string, barcode string, gene string, count int").cache()
    genes = spark.createDataFrame(
        [(f"G{g:02d}", "MT-1" if g == 20 else f"SYM{g}") for g in range(21)],
        "gene string, name string")
    cells = assemble_cells(expr, genes=genes,
                           emptydrops=ed.empty_drops(expr)).cache()
    return Experiment(expression=expr, cells=cells, genes=genes)


def _cells(df) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in df.collect()])


def _kept(exp: Experiment) -> set:
    return {(r["sample"], r["barcode"])
            for r in exp.cells.select("sample", "barcode").collect()}


def test_derived_knee_is_the_applied_threshold(qc_exp):
    derived = derive_config_per_sample(qc_exp)
    knee = {k[len("sample-"):]: v["minCellSize"]
            for k, v in derived["cellSizeDistribution"].items()}
    assert sorted(knee) == ["sa", "sb"]
    assert knee["sa"] != knee["sb"]

    final, cfg = run_qc(qc_exp, derived, order=["cellSizeDistribution"])
    cells = _cells(qc_exp.cells)
    want = cells[cells["nCount_RNA"] >= cells["sample"].map(knee)]
    assert _kept(final) == set(zip(want["sample"], want["barcode"]))
    for s in ("sa", "sb"):
        n_kept = (want["sample"] == s).sum()
        assert 0 < n_kept < (cells["sample"] == s).sum()
    assert cfg["cellSizeDistribution"] == derived["cellSizeDistribution"]

    n = cells.groupby("sample").size()
    assert derived["numGenesVsNumUmis"] == {
        f"sample-{s}": {"pLevel": min(0.001, 1.0 / n[s])} for s in n.index}


def test_unconfigured_cell_size_applies_the_derived_knee(qc_exp):
    derived = derive_config_per_sample(qc_exp)["cellSizeDistribution"]
    final, cfg = run_qc(qc_exp, {}, order=["cellSizeDistribution"])
    assert cfg["cellSizeDistribution"] == derived
    by_knee, _ = run_qc(qc_exp, {"cellSizeDistribution": derived},
                        order=["cellSizeDistribution"])
    assert _kept(final) == _kept(by_knee)


def test_sample_override_beats_step_wide_value(qc_exp):
    exp = qc_exp.with_(cells=qc_exp.cells.withColumn(
        "doublet_scores", qc_exp.cells["fraction_mt"]))
    cells = _cells(exp.cells)
    config = {
        "cellSizeDistribution": {"minCellSize": 1.0,
                                 "sample-sb": {"minCellSize": 1000.0}},
        "mitochondrialContent": {"maxFraction": 1.0,
                                 "sample-sa": {"maxFraction": 0.05}},
        "doubletScores": {"sample-sa": {"probabilityThreshold": 0.04}},
    }
    final, cfg = run_qc(exp, config, order=["cellSizeDistribution",
                                            "mitochondrialContent",
                                            "doubletScores"])
    sa = cells["sample"] == "sa"
    keep = ((sa & (cells["fraction_mt"] <= 0.04))
            | (~sa & (cells["nCount_RNA"] >= 1000.0)
               & (cells["fraction_mt"] <= 0.25)))
    assert _kept(final) == set(zip(cells[keep]["sample"],
                                   cells[keep]["barcode"]))
    assert 0 < keep[sa].sum() < sa.sum()
    assert 0 < keep[~sa].sum() < (~sa).sum()
    assert cfg["cellSizeDistribution"] == config["cellSizeDistribution"]
    assert cfg["mitochondrialContent"] == config["mitochondrialContent"]
    assert cfg["doubletScores"] == {"probabilityThreshold": 0.25,
                                    **config["doubletScores"]}


@pytest.fixture
def arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_filter_steps_run_with_arrow_disabled(qc_exp, arrow_off):
    derived = derive_config_per_sample(qc_exp)
    final, cfg = run_qc(qc_exp, derived, order=FILTER_STEPS)
    assert 0 < final.cells.count() < qc_exp.cells.count()
    assert cfg["numGenesVsNumUmis"]["pLevel"] == 0.001
    assert cfg["numGenesVsNumUmis"]["sample-sa"] == \
        derived["numGenesVsNumUmis"]["sample-sa"]


def test_band_skips_a_single_cell_sample(qc_exp):
    cells = _cells(qc_exp.cells)
    lone = cells[cells["sample"] == "sb"].nlargest(1, "nCount_RNA")
    config = {"cellSizeDistribution": {
        "minCellSize": 300.0,
        "sample-sb": {"minCellSize": float(lone["nCount_RNA"].iloc[0])}}}
    final, _ = run_qc(qc_exp, config, order=["cellSizeDistribution",
                                             "numGenesVsNumUmis"])
    kept = _kept(final)
    assert ("sb", lone["barcode"].iloc[0]) in kept
    assert {s for s, _ in kept} == {"sa", "sb"}
    assert sum(s == "sb" for s, _ in kept) == 1


def test_huber_fit_skips_samples_without_a_line(spark):
    from data_ingest_spark.operators import regression as rg
    rows = ([("a", f"a{i}", 100.0 + 37 * i, 40.0 + 9 * i + (i % 3))
             for i in range(12)]
            + [("c", f"c{i}", 200.0, 50.0 + i) for i in range(4)]
            + [("d", "d0", 300.0, 80.0), ("d", "d1", 500.0, 90.0)])
    cells = spark.createDataFrame(
        rows, "sample string, barcode string, nCount_RNA double, "
              "nFeature_RNA double")
    assert [r["sample"] for r in rg.huber_rlm_fit(cells).collect()] == ["a"]
    banded = {r["barcode"]: r for r in
              rg.huber_band_outliers(cells).collect()}
    assert len(banded) == len(rows)
    for b, r in banded.items():
        if b[0] != "a":
            assert r["pred"] is None and r["is_outlier"] is False


def test_derived_singlet_max_is_the_applied_threshold(qc_exp):
    from pyspark.sql import functions as F
    exp = qc_exp.with_(cells=qc_exp.cells
                       .withColumn("doublet_scores", F.col("fraction_mt"))
                       .withColumn("doublet_class", F.when(
                           F.col("barcode").startswith("c"), "singlet")
                           .otherwise("doublet")))
    derived = derive_config_per_sample(exp)
    cells = _cells(exp.cells)
    singlet_max = (cells[cells["doublet_class"] == "singlet"]
                   .groupby("sample")["doublet_scores"].max())
    assert derived["doubletScores"] == {
        f"sample-{s}": {"probabilityThreshold": v}
        for s, v in singlet_max.items()}
    final, _ = run_qc(exp, derived, order=["doubletScores"])
    want = cells[cells["doublet_scores"]
                 <= cells["sample"].map(singlet_max)]
    assert _kept(final) == set(zip(want["sample"], want["barcode"]))


def test_unknown_hvg_selection_method_is_named(qc_exp):
    from data_ingest_spark.pipeline import STEPS
    with pytest.raises(ValueError, match="selection_method 'dispersion'"):
        STEPS["dataIntegration"](qc_exp, {"selection_method": "dispersion"})
