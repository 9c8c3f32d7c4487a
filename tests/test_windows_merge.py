"""Window/sort/merge operator tests, incl. the test_object.r invariants
(dense ids 0..n-1 at src/test_object.r:26-29, dedup names at :47)."""

import pyspark.sql.functions as F

from data_ingest_spark.operators import merge as mg, metrics as mx, windows as wd


def test_barcode_rank(expr):
    cells = mx.cell_counts(expr)
    out = wd.barcode_rank(cells)
    m = {(r["sample"], r["barcode"]): r["rank"] for r in out.collect()}
    assert m[("s1", "b2")] == 1  # highest nCount in s1
    assert m[("s1", "b3")] == 3


def test_dense_ids_contract(sf_expr):
    """cells_id must be dense 0..n-1 in (sample, barcode) order,
    checked on the real sf0.001 table."""
    cells = mx.cell_counts(sf_expr).select("sample", "barcode")
    n = cells.count()
    ids = [r["cells_id"] for r in wd.dense_ids_scalable(cells)
           .orderBy("sample", "barcode").collect()]
    assert ids == list(range(n))


def test_dedup_gene_names(spark):
    genes = spark.createDataFrame(
        [("E1", "ACTB"), ("E2", "ACTB"), ("E3", "TP53")],
        "gene string, name string")
    m = {r["gene"]: r["name"] for r in wd.dedup_gene_names(genes).collect()}
    # duplicated() | duplicated(fromLast): BOTH occurrences renamed
    assert m == {"E1": "ACTB - E1", "E2": "ACTB - E2", "E3": "TP53"}


def test_top_k_genes(expr):
    gs = mx.gene_stats(expr)
    top2 = wd.top_k_genes(gs, 2).collect()
    assert [r["gene"] for r in top2] == ["ENSG1", "ENSG2"]


def test_merge_samples_prefixes_barcodes(expr):
    a = expr.filter(F.col("sample") == "s1")
    b = expr.filter(F.col("sample") == "s2")
    merged = mg.merge_samples([a, b])
    bcs = {r["barcode"] for r in merged.select("barcode").distinct().collect()}
    assert bcs == {"s1_b1", "s1_b2", "s1_b3", "s2_b4"}
    assert merged.count() == expr.count()


def test_union_dedup(spark):
    a = spark.createDataFrame([("E1", "A")], "gene string, name string")
    b = spark.createDataFrame([("E1", "A"), ("E2", "B")], "gene string, name string")
    assert mg.union_dedup([a, b]).count() == 2


def test_barcode_inflection_monotone(sf_expr):
    """Inflection nCount must lie within the observed range above the
    low threshold, per sample."""
    cells = mx.cell_counts(sf_expr)
    infl = {r["sample"]: r["inflection_ncount"]
            for r in wd.barcode_inflection(cells, 100.0).collect()}
    rng = {r["sample"]: (r["lo"], r["hi"]) for r in
           cells.filter(F.col("nCount_RNA") > 100)
           .groupBy("sample")
           .agg(F.min("nCount_RNA").alias("lo"), F.max("nCount_RNA").alias("hi"))
           .collect()}
    for s, v in infl.items():
        lo, hi = rng[s]
        assert lo <= v <= hi


def test_ntile_scalable_matches_native_ntile(spark):
    from pyspark.sql import Window, functions as F
    from data_ingest_spark.operators.windows import ntile_scalable
    df = spark.range(137).select(
        F.col("id"),
        ((F.col("id") * 37 % 100) / 100.0).alias("score"))
    native = df.withColumn(
        "tile", F.ntile(7).over(Window.orderBy("score", "id")).cast("long"))
    scalable = ntile_scalable(df, 7, "score", ["id"])
    a = {(r["id"], r["tile"]) for r in native.collect()}
    b = {(r["id"], r["tile"]) for r in scalable.collect()}
    assert a == b


def test_ntile_scalable_no_single_task_exchange(spark):
    from pyspark.sql import functions as F
    from data_ingest_spark.operators.windows import ntile_scalable
    df = spark.range(1000).select(
        F.col("id"), ((F.col("id") % 97) / 97.0).alias("score"))
    out = ntile_scalable(df, 10, "score", ["id"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_dense_ids_scalable_empty_input(spark):
    from data_ingest_spark.operators.windows import dense_ids_scalable
    empty = spark.createDataFrame([], "sample string, barcode string")
    out = dense_ids_scalable(empty)
    assert out.count() == 0
    assert dict(out.dtypes)["cells_id"] == "int"
