"""ML operators (M2, M8, M12, M13, M10, M9) and end-to-end pipeline
assembly. Non-deterministic-by-nature ops get property + seed-stability
checks (SURVEY §5), not value hashes."""

import math

import pyspark.sql.functions as F
import pytest

from data_ingest_spark.harness import registry
from data_ingest_spark.operators import (clustering as cl, doublets as db,
                                         embedding as em, integrate as ig,
                                         neighbors as nb, normalize as nz,
                                         reduction as rd)
from data_ingest_spark.pipeline import (Experiment, assemble_cells,
                                        derive_config_per_sample, run_qc)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def small_expr(spark):
    """~120-cell 2-sample synthetic with two planted expression
    programs, so PCA/clustering have structure to find."""
    import random
    random.seed(5)
    rows = []
    for s in ("sa", "sb"):
        for i in range(60):
            bc = f"{s}_c{i:03d}"
            program = i % 2
            for g in range(20):
                base = 30 if (g < 10) == (program == 0) else 2
                v = max(1, int(random.gauss(base, 3)))
                rows.append((s, bc, f"G{g:02d}", v))
    return spark.createDataFrame(
        rows, "sample string, barcode string, gene string, count int")


def test_pca_pipeline(small_expr):
    normalized = nz.log_normalize(small_expr)
    hvgs = nz.highly_variable_genes(normalized, 20, value_col="normalized")
    scaled = nz.scale_data(normalized)
    vectors = rd.assemble_vectors(scaled, hvgs)
    assert vectors.count() == 120
    scores, explained = rd.run_pca(vectors, k=5)
    assert len(explained) == 5
    assert explained[0] > 0.3  # planted 2-program structure dominates
    assert abs(sum(explained)) <= 1.0 + 1e-9
    cols = rd.pc_columns(scores, 5)
    assert {f"pc_{i}" for i in range(5)} <= set(cols.columns)


@pytest.fixture(scope="module")
def pcs(small_expr):
    normalized = nz.log_normalize(small_expr)
    hvgs = nz.highly_variable_genes(normalized, 20, value_col="normalized")
    scaled = nz.scale_data(normalized)
    scores, _ = rd.run_pca(rd.assemble_vectors(scaled, hvgs), k=5)
    return rd.pc_columns(scores, 5).cache()


def test_knn_exact_properties(pcs):
    from data_ingest_spark.pipeline.steps import _with_vec
    knn = nb.knn_exact(_with_vec(pcs), k=5)
    per_src = knn.groupBy("src").count().select(F.min("count"), F.max("count")).head()
    assert per_src == (5, 5)
    assert knn.filter(F.col("src") == F.col("dst")).count() == 0
    assert knn.filter((F.col("cosine") > 1.000001) | (F.col("cosine") < -1.000001)).count() == 0


def test_snn_and_clustering_find_planted_programs(pcs):
    from data_ingest_spark.pipeline.steps import _with_vec
    knn = nb.knn_exact(_with_vec(pcs), k=10)
    snn = nb.snn_graph(knn, k=10)
    assert snn.filter("snn_weight < 0 or snn_weight > 1").count() == 0
    for impl in (cl.label_propagation, cl.louvain_driver,
                 cl.louvain_distributed):
        labels = impl(snn)
        got = {r["id"]: r["cluster"] for r in labels.collect()}
        # cells of the same planted program must co-cluster
        programs = {}
        for cid, lab in got.items():
            prog = int(cid.split("_c")[1]) % 2
            programs.setdefault(prog, set()).add(lab)
        # each program maps to exactly one dominant cluster
        assert len(programs[0] & programs[1]) == 0, impl.__name__


def test_spectral_embedding_shape_and_determinism(pcs):
    e1 = em.spectral_embedding(pcs, k=10).collect()
    e2 = em.spectral_embedding(pcs, k=10).collect()
    assert len(e1) == 120
    assert all(r["method"] == "spectral" for r in e1)
    m1 = {(r["sample"], r["barcode"]): (r["x"], r["y"]) for r in e1}
    m2 = {(r["sample"], r["barcode"]): (r["x"], r["y"]) for r in e2}
    for k_ in m1:
        assert abs(m1[k_][0] - m2[k_][0]) < 1e-9
        assert abs(m1[k_][1] - m2[k_][1]) < 1e-9


def test_doublet_scores_properties(small_expr):
    out = db.doublet_scores(small_expr, seed=42).cache()
    assert out.count() == 120
    assert out.filter("doublet_scores < 0 or doublet_scores > 1").count() == 0
    assert {r["doublet_class"] for r in out.select("doublet_class").distinct().collect()} \
        <= {"singlet", "doublet"}
    again = db.doublet_scores(small_expr, seed=42)
    assert out.exceptAll(again).count() == 0  # seed-stable


def test_doublet_scores_grid_flags_planted_doublet(spark):
    """20 identical singlets + 1 cell that IS a pairwise sum: the
    planted cell lands on the simulated-doublet feature point and
    votes doublet; singlets fill their k neighbors with each other
    (score 0.0). Fully deterministic — no seed. The exact score is
    9/10, not 10/10: this dense fixture has 50 rows/cell, so the
    rows/128 bucket census (sized for the reference's ~2 rows/cell)
    splits the 21 cells across 8 hash buckets, one bucket pairs the
    planted cell itself with a singlet, and the resulting
    (2+4)-per-gene sim is the one non-identical neighbor among the
    planted cell's k=10."""
    rows = []
    for c in range(20):
        rows += [("s", f"b{c:02d}", f"G{g:02d}", 2) for g in range(50)]
    rows += [("s", "dbl", f"G{g:02d}", 4) for g in range(50)]
    df = spark.createDataFrame(
        rows, "sample string, barcode string, gene string, count int")
    out = {r["barcode"]: r for r in db.doublet_scores_grid(df).collect()}
    assert len(out) == 21
    assert out["dbl"]["doublet_scores"] == 0.9
    assert out["dbl"]["doublet_class"] == "doublet"
    assert out["b00"]["doublet_scores"] == 0.0
    assert out["b00"]["doublet_class"] == "singlet"


def test_doublet_scores_grid_keeps_isolated_cell(spark):
    """A cell whose feature point has NO neighbor (real or simulated)
    within its 3x3 grid neighborhood must still be classified — score
    0.0 / singlet — not silently dropped from the output. The far
    outlier (1 gene, count 1) sits many grid cells away from the dense
    cluster and every simulated doublet."""
    rows = []
    for c in range(20):
        rows += [("s", f"b{c:02d}", f"G{g:02d}", 2) for g in range(50)]
    rows += [("s", "lonely", "G00", 1)]
    df = spark.createDataFrame(
        rows, "sample string, barcode string, gene string, count int")
    out = {r["barcode"]: r for r in db.doublet_scores_grid(df).collect()}
    assert len(out) == 21
    assert out["lonely"]["doublet_scores"] == 0.0
    assert out["lonely"]["doublet_class"] == "singlet"


def test_integrate_mnn_reduces_batch_shift(spark, pcs):
    # Shift sample sb by a constant vector clearly larger than the
    # cloud spread; integration should remove most of it. (A shift of
    # the same order as the spread is MNN's known-degenerate regime —
    # edge cells pair across mismatched subpopulations.)
    shifted = pcs.withColumn(
        "pc_0", F.when(F.col("sample") == "sb", F.col("pc_0") + 30.0)
        .otherwise(F.col("pc_0")))
    means = lambda df: {r["sample"]: r["m"] for r in
                        df.groupBy("sample").agg(F.avg("pc_0").alias("m")).collect()}
    before = means(shifted)
    after = means(ig.integrate_mnn(shifted))
    gap_before = abs(before["sa"] - before["sb"])
    gap_after = abs(after["sa"] - after["sb"])
    assert gap_after < gap_before * 0.5


def test_mnn_scoring_exchange_gate(spark):
    """r10: integrate_mnn_exact's scoring repartition is gated on the
    pair count (>= ~4 tasks' worth of BLAS at 4e6 pairs/task) — small
    inputs must keep the scan's own splits (no round-robin exchange in
    the plan), and the predicate flips exactly at the documented
    threshold so a refactor can't silently drop the multi-node path."""
    assert not ig._scoring_exchange_pays(1_300, 700)       # sf0.1 regime
    assert not ig._scoring_exchange_pays(3_999, 4_000)
    assert ig._scoring_exchange_pays(4_000, 4_000)         # 16M pairs
    assert ig._scoring_exchange_pays(13_000, 6_600)        # sf1 regime
    rows = [("sa" if i % 2 else "sb", f"b{i:03d}",
             [float(i % 7), float(i % 5)]) for i in range(60)]
    df = spark.createDataFrame(
        rows, "sample string, barcode string, pc array<double>")
    plan = ig.integrate_mnn_exact(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan


def test_assemble_cells_and_run_qc(spark, small_expr):
    genes = spark.createDataFrame(
        [(f"G{g:02d}", f"SYM{g}" if g else "MT-X") for g in range(20)],
        "gene string, name string")
    cells = assemble_cells(small_expr, genes=genes)
    assert cells.count() == 120
    ids = sorted(r["cells_id"] for r in cells.collect())
    assert ids == list(range(120))
    assert "percent_mt" in cells.columns

    exp = Experiment(expression=small_expr, cells=cells, genes=genes)
    final, cfg = run_qc(exp, {
        "cellSizeDistribution": {"minCellSize": 1.0},
        "doubletScores": {"probabilityThreshold": 1.0},
        "dataIntegration": {"nfeatures": 20, "numPCs": 5},
        "configureEmbedding": {"k": 10},
    })
    assert final.reductions is not None
    assert "cluster" in final.cells.columns
    assert final.cells.count() > 0
    assert 0 < cfg["dataIntegration"]["numPCs"] <= 5
    assert "explained_variance" in final.misc

    derived = derive_config_per_sample(exp.with_(cells=final.cells))
    assert any(k.startswith("sample-") for k in derived["cellSizeDistribution"])
    per_sample = derived["numGenesVsNumUmis"]
    assert sorted(per_sample) == ["sample-sa", "sample-sb"]
    assert all(v["pLevel"] <= 0.001 for v in per_sample.values())


def test_integrate_mnn_distributed_matches_v1(spark, pcs):
    """v2 (LSH joins, no matrix collect) must correct the same planted
    batch shift as the driver-side v1 and land within tolerance of it
    at the per-sample-mean level."""
    shifted = pcs.withColumn(
        "pc_0", F.when(F.col("sample") == "sb", F.col("pc_0") + 30.0)
        .otherwise(F.col("pc_0")))
    means = lambda df: {r["sample"]: r["m"] for r in
                        df.groupBy("sample").agg(F.avg("pc_0").alias("m"))
                        .collect()}
    before = means(shifted)
    v2 = ig.integrate_mnn_distributed(shifted)
    assert v2.count() == 120
    after = means(v2)
    gap_before = abs(before["sa"] - before["sb"])
    gap_after = abs(after["sa"] - after["sb"])
    assert gap_after < gap_before * 0.5
    v1_after = means(ig.integrate_mnn(shifted))
    gap_v1 = abs(v1_after["sa"] - v1_after["sb"])
    # same correction regime as v1 (both collapse the planted shift)
    assert abs(gap_after - gap_v1) < gap_before * 0.25


def test_run_qc_defaults_avoid_driver_side_paths(spark, small_expr,
                                                 monkeypatch):
    """The default pipeline must route through the distributed
    operators: grid doublet scoring (not the per-sample applyInPandas
    densifier) and label propagation (not driver-side Louvain). Booby-
    trap the non-distributed variants and run the full chain."""
    from data_ingest_spark.operators import clustering as cl_mod
    from data_ingest_spark.operators import doublets as db_mod

    def boom(*a, **k):
        raise AssertionError("non-distributed path used by default")
    monkeypatch.setattr(db_mod, "doublet_scores", boom)
    monkeypatch.setattr(cl_mod, "louvain_driver", boom)
    genes = spark.createDataFrame(
        [(f"G{g:02d}", f"SYM{g}") for g in range(20)],
        "gene string, name string")
    cells = assemble_cells(small_expr, genes=genes)
    exp = Experiment(expression=small_expr, cells=cells, genes=genes)
    final, _ = run_qc(exp, {
        "cellSizeDistribution": {"minCellSize": 1.0},
        "doubletScores": {"probabilityThreshold": 1.0},
        "dataIntegration": {"nfeatures": 20, "numPCs": 5},
        "configureEmbedding": {"k": 10},
    })
    assert "cluster" in final.cells.columns
    assert final.cells.count() > 0


def test_umap_tsne_fallback_methods(pcs):
    # Neither umap-learn nor sklearn ships in this container: embed_umap
    # falls back to the deterministic UMAP-lite refinement (round-7
    # verdict ask #5), embed_tsne to the spectral embedding — each says
    # so in the method column.
    out = em.embed_umap(pcs)
    assert [r["method"] for r in
            out.select("method").distinct().collect()] == ["umap_lite"]
    assert out.count() == 120
    out = em.embed_tsne(pcs)
    assert [r["method"] for r in
            out.select("method").distinct().collect()] == ["spectral"]
    assert out.count() == 120


def test_umap_lite_beats_spectral_trustworthiness():
    """The fallback-quality gate the round-7 verdict prescribed: the
    fixed-iteration seeded UMAP-lite must preserve high-dimensional
    neighborhoods BETTER than its own spectral initialization
    (trustworthiness@10, Venna & Kaski), deterministically."""
    import numpy as np
    from data_ingest_spark.operators.embedding import (
        _spectral_2d, _umap_lite_2d, trustworthiness)
    rng = np.random.default_rng(0)
    centers = rng.normal(0, 8, (3, 10))
    x = np.vstack([c + rng.normal(0, 1.0, (120, 10)) for c in centers])
    e_spec = _spectral_2d(x, 15)
    e_lite = _umap_lite_2d(x, 15)
    assert np.array_equal(e_lite, _umap_lite_2d(x, 15))  # seeded
    t_spec = trustworthiness(x, e_spec, 10)
    t_lite = trustworthiness(x, e_lite, 10)
    assert t_lite > t_spec + 0.05, (t_lite, t_spec)
    # swiss-roll manifold: must not regress the spectral baseline
    t = np.linspace(0, 4 * np.pi, 400)
    sw = np.zeros((400, 10))
    sw[:, 0] = t * np.cos(t)
    sw[:, 1] = t * np.sin(t)
    sw[:, 2] = rng.normal(0, .5, 400)
    assert trustworthiness(sw, _umap_lite_2d(sw, 15), 10) >= \
        trustworthiness(sw, _spectral_2d(sw, 15), 10)


def test_knn_lsh_pairs_subset_of_exact(pcs):
    from data_ingest_spark.pipeline.steps import _with_vec
    vec = _with_vec(pcs)
    exact = {(r["src"], r["dst"]) for r in
             nb.knn_exact(vec, k=10).collect()}
    lsh = nb.knn_lsh(vec, k=10, max_distance=2.0).collect()
    got = {(r["src"], r["dst"]) for r in lsh}
    # recall is approximate but the planted 2-program geometry is easy:
    # most exact edges must appear, cosines must be valid
    assert len(got & exact) > len(exact) * 0.6
    assert all(-1.000001 <= r["cosine"] <= 1.000001 for r in lsh)


def test_experiment_save_load_roundtrip(spark, small_expr, tmp_path):
    genes = small_expr.select("gene").distinct().withColumn(
        "name", F.concat(F.lit("G"), F.col("gene")))
    cells = assemble_cells(small_expr, genes=genes)
    exp = Experiment(expression=small_expr, cells=cells, genes=genes,
                     misc={"numPCs": 5})
    out = str(tmp_path / "ckpt")
    exp.save(out)
    back = Experiment.load(spark, out)
    assert back.cells.count() == 120
    assert back.expression.count() == small_expr.count()
    assert back.normalized is None and back.reductions is None
    assert back.misc == {"numPCs": 5}
    # checkpointed slots are sample-partitioned for predicate pruning
    import os
    assert any(d.startswith("sample=")
               for d in os.listdir(f"{out}/expression"))


def test_validate_experiment_invariants(spark, small_expr):
    from data_ingest_spark.pipeline import validate_experiment
    genes = spark.createDataFrame(
        [(f"G{g:02d}", f"SYM{g}") for g in range(20)],
        "gene string, name string")
    exp = Experiment(expression=small_expr,
                     cells=assemble_cells(small_expr, genes=genes),
                     genes=genes)
    assert validate_experiment(exp) == []
    # break the dense-id contract and the gene-name dedup
    broken = exp.with_(
        cells=exp.cells.withColumn("cells_id", F.col("cells_id") + 1),
        genes=genes.withColumn("name", F.lit("same")))
    problems = validate_experiment(broken)
    assert any("cells_id" in p for p in problems)
    assert any("gene names" in p for p in problems)


def test_louvain_distributed_matches_driver_on_separated_cliques(spark):
    """On a graph of two well-separated cliques the parallel (Jacobi)
    and sequential (Gauss-Seidel) Louvain phase-1 find the identical
    partition, and the result is deterministic across runs."""
    from data_ingest_spark.operators import clustering as cl

    cliq_a = [(f"a{i}", f"a{j}", 1.0) for i in range(5) for j in range(i + 1, 5)]
    cliq_b = [(f"b{i}", f"b{j}", 1.0) for i in range(5) for j in range(i + 1, 5)]
    bridge = [("a0", "b0", 0.05)]
    edges = spark.createDataFrame(cliq_a + cliq_b + bridge,
                                  "src string, dst string, snn_weight double")
    dist = {r["id"]: r["cluster"]
            for r in cl.louvain_distributed(edges).collect()}
    seq = {r["id"]: r["cluster"]
           for r in cl.louvain_driver(edges).collect()}
    assert dist == seq
    dist2 = {r["id"]: r["cluster"]
             for r in cl.louvain_distributed(edges).collect()}
    assert dist == dist2
    # exactly two communities, one per clique
    assert len(set(dist.values())) == 2
    assert {dist[f"a{i}"] for i in range(5)} == {"a0"}
    assert {dist[f"b{i}"] for i in range(5)} == {"b0"}


def test_spectral_embedding_distributed_separates_cliques(spark):
    """Distributed Laplacian-eigenmap embedding: on two weakly-bridged
    cliques the first coordinate separates the communities by sign
    (Fiedler structure), the result is deterministic across runs, and
    every node is embedded."""
    from data_ingest_spark.operators import clustering as cl
    from data_ingest_spark.operators.embedding import (
        spectral_embedding_distributed)

    cliq_a = [(f"a{i}", f"a{j}", 1.0) for i in range(5) for j in range(i + 1, 5)]
    cliq_b = [(f"b{i}", f"b{j}", 1.0) for i in range(5) for j in range(i + 1, 5)]
    bridge = [("a0", "b0", 0.05)]
    edges = spark.createDataFrame(cliq_a + cliq_b + bridge,
                                  "src string, dst string, snn_weight double")
    und = cl._undirect(edges)
    e1 = {r["id"]: (r["x"], r["y"])
          for r in spectral_embedding_distributed(und).collect()}
    assert len(e1) == 10
    xs_a = [e1[f"a{i}"][0] for i in range(5)]
    xs_b = [e1[f"b{i}"][0] for i in range(5)]
    assert (all(v > 0 for v in xs_a) and all(v < 0 for v in xs_b)) or \
           (all(v < 0 for v in xs_a) and all(v > 0 for v in xs_b))
    e2 = {r["id"]: (r["x"], r["y"])
          for r in spectral_embedding_distributed(und).collect()}
    for k in e1:
        # x (the Fiedler direction) has an eigengap -> stable; y lies
        # in the cliques' DEGENERATE eigenspace where any eigensolver
        # resolves the direction arbitrarily, so only its magnitude
        # scale is comparable
        assert abs(e1[k][0] - e2[k][0]) < 1e-6
    assert abs(max(abs(v[1]) for v in e1.values())
               - max(abs(v[1]) for v in e2.values())) < 0.3
