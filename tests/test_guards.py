"""Driver-materialization ceiling guards (operators.guards).

The sanctioned small-data fallbacks (driver embeddings, driver MNN,
driver Louvain) must refuse inputs above the collect ceiling BEFORE
collecting, and the pipeline must route to the distributed siblings —
no per-cell collect can trigger on a DataFrame above the ceiling.
"""

import pytest
from pyspark.sql import functions as F

from data_ingest_spark.operators import (clustering as cl, embedding as em,
                                         integrate as ig)


@pytest.fixture(scope="module")
def pc10(spark):
    return spark.createDataFrame(
        [("s", f"b{i:02d}", float(i), float(i % 3)) for i in range(10)],
        "sample string, barcode string, pc_0 double, pc_1 double")


def test_embedding_fallbacks_raise_above_ceiling(pc10):
    for fn in (em.spectral_embedding, em.embed_umap, em.embed_tsne):
        with pytest.raises(ValueError, match="ceiling"):
            fn(pc10, max_driver_rows=5)
    # below the ceiling they still work
    assert em.spectral_embedding(pc10, max_driver_rows=100).count() == 10


def test_integrate_mnn_raises_above_ceiling(pc10):
    with pytest.raises(ValueError, match="integrate_mnn_distributed"):
        ig.integrate_mnn(pc10, max_driver_rows=5)


@pytest.fixture(scope="module")
def pc_arr2(spark):
    """Two samples x 6 cells of 4-dim arrays for the exact-MNN guard."""
    rows = [(s, f"{s}_c{i}", [float(i + j) for j in range(4)])
            for s in ("sa", "sb") for i in range(6)]
    return spark.createDataFrame(
        rows, "sample string, barcode string, pc array<double>")


def test_exact_mnn_refuses_above_pair_ceiling(pc_arr2):
    """The broadcast-cartesian correctness anchor must fail fast when
    N_qry x N_ref exceeds the pair ceiling (6 x 6 = 36 > 10)."""
    with pytest.raises(ValueError, match="integrate_mnn_distributed"):
        ig.integrate_mnn_exact(pc_arr2, max_pairs=10)
    with pytest.raises(ValueError, match="integrate_mnn_distributed"):
        ig.mnn_anchor_pairs(pc_arr2, "sa", "sb", max_pairs=10)
    # under the ceiling both run: 12 cells x 4 dims = 48 output rows
    assert ig.integrate_mnn_exact(pc_arr2, max_pairs=100).count() == 48


def test_integrate_auto_routes_by_pair_count(pc_arr2):
    """integrate_auto dispatches exact under the ceiling (per-dim rows)
    and the LSH-distributed sibling above it (wide pc_i columns)."""
    exact = ig.integrate_auto(pc_arr2, max_pairs=100)
    assert set(exact.columns) == {"sample", "barcode", "dim", "value"}
    assert exact.count() == 48
    dist = ig.integrate_auto(pc_arr2, max_pairs=10, k_anchor=2, k_weight=3)
    assert set(dist.columns) == {"sample", "barcode",
                                 "pc_0", "pc_1", "pc_2", "pc_3"}
    assert dist.count() == 12


def test_louvain_driver_raises_above_ceiling(spark):
    edges = spark.createDataFrame(
        [(f"a{i}", f"b{i}", 1.0) for i in range(10)],
        "src string, dst string, snn_weight double")
    with pytest.raises(ValueError, match="louvain_distributed"):
        cl.louvain_driver(edges, max_driver_rows=5)
    assert cl.louvain_driver(edges, max_driver_rows=100).count() == 20


def test_ann_query_collect_raises_above_ceiling(spark):
    """The broadcast-query ANN scorers collect the query side to the
    driver at plan-build time (round-8 verdict nit #1): a corpus-sized
    query set must raise with a pointer at the distributed siblings
    instead of silently OOMing the driver."""
    from data_ingest_spark.extensions import similarity as sim
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(i, [float(i), 2.0]) for i in range(6)],
        "query_id long, query_vec array<double>")
    with pytest.raises(ValueError, match="cosine_topk_lsh"):
        sim.cosine_topk(emb, q, k=2, max_driver_rows=3)
    with pytest.raises(ValueError, match="cosine_topk_ivf"):
        sim.cosine_topk_fixed_ivf(emb, q, k=2, n_cells=2,
                                  max_driver_rows=3)
    # under the ceiling both still run
    assert sim.cosine_topk(emb, q, k=2, max_driver_rows=100).count() == 12


def test_knn_exact_rejects_zero_norm_vectors(spark):
    """Cosine kNN is undefined on zero vectors: the preselection must
    fail loudly (naming an offending id) instead of emitting a
    silently-wrong fixed-stride gather (round-8 advice #2)."""
    from py4j.protocol import Py4JJavaError
    from data_ingest_spark.operators import neighbors as nb
    rows = [(f"c{i}", [float(i + 1), 1.0, 0.5]) for i in range(6)]
    rows.append(("zz", [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "barcode string, pc array<double>")
    with pytest.raises(Exception, match="zero-norm|undefined cosine"):
        nb.knn_exact(df, k=3, id_cols=("barcode",)).collect()


def test_knn_exact_tie_dense_fallback_exact(spark):
    """Near-duplicate-heavy input inflates the float32 kept set past
    the per-row cap (k=3 ⇒ cap = max(8k, k+64) = 67, so the corpus
    must exceed 67 near-identical vectors for the branch to fire —
    100 here); those rows must fall back to the exact full-row
    rescore and still return the oracle ranking (cosine desc @6dp,
    dst asc) — pinned against a numpy brute-force mirror. A handful
    of distinct vectors keeps the ordinary gather path exercised in
    the SAME batch (mixed dense/non-dense rows)."""
    import numpy as np
    from data_ingest_spark.operators import neighbors as nb
    rng = np.random.default_rng(7)
    n = 100
    base = rng.normal(size=4)
    vecs = [base + (1e-9 * rng.normal(size=4) if i % 2 else 0.0)
            for i in range(n - 5)]
    vecs += [rng.normal(size=4) for _ in range(5)]  # non-dense rows
    ids = [f"d{i:03d}" for i in range(n)]
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, vecs)],
        "barcode string, pc array<double>")
    out = {(r["src"], r["rank"]): (r["dst"], r["cosine"])
           for r in nb.knn_exact(df, k=3, id_cols=("barcode",)).collect()}
    m = np.array(vecs)
    sims = (m @ m.T) / np.outer(np.linalg.norm(m, axis=1),
                                np.linalg.norm(m, axis=1))
    sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
    np.fill_diagonal(sims, -np.inf)
    for i, src in enumerate(ids):
        order = sorted(range(n), key=lambda j: (-sims[i, j], ids[j]))[:3]
        for rk, j in enumerate(order, 1):
            assert out[(src, rk)] == (ids[j], sims[i, j]), (src, rk)


def test_pipeline_embedding_routes_distributed_above_ceiling(spark):
    """configure_embedding with a tiny driverEmbedCeiling must emit
    the DISTRIBUTED spectral embedding (id/x/y/method schema, method
    spectral_dist) — proof the per-cell collect path cannot fire."""
    from data_ingest_spark.pipeline import Experiment, assemble_cells
    from data_ingest_spark.pipeline.steps import STEPS

    rows = []
    for s in ("sa", "sb"):
        for i in range(25):
            for g in range(6):
                rows.append((s, f"{s}_c{i:02d}", f"G{g}",
                             5 + (i % 3) * (g % 2) + g))
    expr = spark.createDataFrame(
        rows, "sample string, barcode string, gene string, count int")
    genes = spark.createDataFrame([(f"G{g}", f"S{g}") for g in range(6)],
                                  "gene string, name string")
    cells = assemble_cells(expr, genes=genes)
    red = (expr.groupBy("sample", "barcode")
           .agg(F.sum("count").cast("double").alias("pc_0"),
                F.countDistinct("gene").cast("double").alias("pc_1")))
    exp = Experiment(expression=expr, cells=cells, genes=genes,
                     reductions=red)
    out = STEPS["configureEmbedding"](exp, {"driverEmbedCeiling": 3,
                                            "k": 5})
    emb = out.plot_data["embedding"]
    assert set(emb.columns) == {"id", "x", "y", "method"}
    assert emb.select("method").distinct().collect()[0][0] == "spectral_dist"


def test_session_heap_fits_the_host(spark):
    """Unless SPARK_GRAFT_DRIVER_MEM sets it, the session's heap is at
    most half the host's memory: the JVM grows its heap toward the
    maximum, and the Python workers need the rest."""
    import os
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("heap set by SPARK_GRAFT_DRIVER_MEM")
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh
                   if line.startswith("MemTotal:"))
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert heap.endswith("m") and int(heap[:-1]) <= kib // 2048
