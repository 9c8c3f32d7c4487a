"""S1 10x reader against a synthetic FIXTURES.md §A directory; TSV
contract readers; MTX/TSV/JSON sinks round-trip."""

import gzip
import json
import os

import pyspark.sql.functions as F
import pytest

from data_ingest_spark.sinks import exports as sk
from data_ingest_spark.sources import tables as tb, tenx as tx


TRIPLETS = [(1, 1, 5), (1, 2, 3), (2, 2, 7), (3, 1, 1)]
FEATURES = ["ENSG1\tACTB\tGene Expression",
            "ENSG2\tMT-CO1\tGene Expression",
            "ENSG3\tTP53\tGene Expression",
            "ENSG4\tGAPDH\tGene Expression"]     # no counts
BARCODES = ["AAAC-1", "GGGT-1"]
MTX_HEADER = ["%%MatrixMarket matrix coordinate integer general",
              "% extra comment"]
MTX = MTX_HEADER + ["4 2 4"] + [f"{g} {c} {v}" for g, c, v in TRIPLETS]


def _write_sample(d, mtx_lines, gz=True):
    """One CellRanger sample dir: V3 gzipped, or V2 plain text."""
    d.mkdir()
    names = (["features.tsv.gz", "barcodes.tsv.gz", "matrix.mtx.gz"] if gz
             else ["genes.tsv", "barcodes.tsv", "matrix.mtx"])
    for fname, lines in zip(names, [FEATURES, BARCODES, mtx_lines]):
        text = "\n".join(lines) + "\n"
        if gz:
            with gzip.open(d / fname, "wt") as fh:
                fh.write(text)
        else:
            (d / fname).write_text(text)


@pytest.fixture(scope="module")
def tenx_dir(tmp_path_factory):
    """Two-sample 10x input: sample_a V3 (gz), sample_b V2 (plain)."""
    root = tmp_path_factory.mktemp("tenx")
    _write_sample(root / "sample_a", MTX)
    _write_sample(root / "sample_b", MTX, gz=False)
    (root / "meta.json").write_text(json.dumps({
        "name": "t", "organism": "hsapiens", "input": {"type": "10x"},
        "samples": ["sample_a", "sample_b"],
        "metadata": {"condition": ["WT", "KO"]}}))
    return str(root)


def test_detect_layout(tenx_dir):
    assert tx.detect_layout(os.path.join(tenx_dir, "sample_a")) == "v3"
    assert tx.detect_layout(os.path.join(tenx_dir, "sample_b")) == "v2"
    with pytest.raises(ValueError):
        tx.detect_layout(tenx_dir)


def test_read_10x_sample_triplets(spark, tenx_dir):
    """One V3-gz sample: each MTX triplet lands on its barcode and gene id;
    annotations hold every features row."""
    expr, annots = tx.read_10x_experiment(spark, tenx_dir, ["sample_a"])
    got = {(r["barcode"], r["gene"]): r["count"] for r in expr.collect()}
    assert got == {("AAAC-1", "ENSG1"): 5, ("GGGT-1", "ENSG1"): 3,
                   ("GGGT-1", "ENSG2"): 7, ("AAAC-1", "ENSG3"): 1}
    assert {r["sample"] for r in expr.select("sample").collect()} \
        == {"sample_a"}
    assert {(r["gene"], r["name"]) for r in annots.collect()} == {
        ("ENSG1", "ACTB"), ("ENSG2", "MT-CO1"), ("ENSG3", "TP53"),
        ("ENSG4", "GAPDH")}


def test_read_10x_experiment_merges(spark, tenx_dir):
    """V3-gz and V2-plain samples: every entry once, with its sample,
    barcode and gene id; annotations hold every features row, the gene
    without counts included, once across samples."""
    cfg = tb.load_config(os.path.join(tenx_dir, "meta.json"))
    expr, annots = tx.read_10x_experiment(spark, tenx_dir, cfg["samples"])
    assert expr.schema.simpleString() == (
        "struct<sample:string,barcode:string,gene:string,count:int>")
    want = sorted((s, BARCODES[c - 1], f"ENSG{g}", v)
                  for s in ("sample_a", "sample_b") for g, c, v in TRIPLETS)
    assert sorted(tuple(r) for r in expr.collect()) == want
    assert sorted(tuple(r) for r in annots.collect()) == [
        ("ENSG1", "ACTB"), ("ENSG2", "MT-CO1"), ("ENSG3", "TP53"),
        ("ENSG4", "GAPDH")]


def test_read_10x_experiment_matches_fixture_truth(spark, tmp_path):
    """perfbench's ``tiny`` 10x fixture, read by Spark, against the same
    files read back with pandas."""
    from perfbench import fixtures as fx
    from perfbench.workloads import QcFull
    fx.tenx_experiment(str(tmp_path), 1, QcFull.sizes["tiny"])
    truth = fx.load_truth(str(tmp_path))
    samples = [t.name for t in truth]
    expr, annots = tx.read_10x_experiment(spark, str(tmp_path), samples)
    got = expr.toPandas()
    assert list(got.dtypes.astype(str)) == ["object", "object", "object",
                                            "int32"]
    want_annots = set()
    for s in samples:
        coo, feats = fx.read_sample_coo(os.path.join(tmp_path, s))
        mine = got[got["sample"] == s][["barcode", "gene", "count"]]
        assert sorted(map(tuple, mine.to_numpy().tolist())) \
            == sorted(map(tuple, coo.to_numpy().tolist()))
        want_annots |= set(zip(feats["gene"], feats["name"]))
    assert len(got) == sum(t.nnz for t in truth)
    rows = [tuple(r) for r in annots.collect()]
    assert len(rows) == len(set(rows)) and set(rows) == want_annots


MALFORMED = {
    "index 0": (["4 2 1", "0 1 5"], "line 4: index (0, 1)"),
    "index past the end": (["4 2 1", "1 3 5"], "line 4: index (1, 3)"),
    "two fields": (["4 2 2", "1 1 5", "2 2"],
                   "line 5: expected 'gene cell count'"),
    "garbled count": (["4 2 1", "1 1 x"], "line 4: expected 'gene cell count'"),
    "short matrix": (["4 2 3", "1 1 5", "2 2 7"],
                     "header declares 3 entries, found 2"),
    "features count": (["5 2 1", "1 1 5"],
                       "line 3: header declares 5 genes but"),
    "barcodes count": (["4 1 1", "1 1 5"],
                       "line 3: header declares 1 barcodes but"),
    "size line": (["4 2", "1 1 5"], "line 3: size line '4 2'"),
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_matrix_is_named(spark, tmp_path, case):
    """Each defect fails the read with a ValueError naming the matrix
    file and the line; raised in the task, it reaches the driver
    inside the PythonException's message."""
    from pyspark.errors import PythonException
    body, message = MALFORMED[case]
    _write_sample(tmp_path / "s", MTX_HEADER + body)
    expr, _ = tx.read_10x_experiment(spark, str(tmp_path), ["s"])
    with pytest.raises(PythonException) as err:
        expr.collect()
    path = os.path.join(tmp_path, "s", "matrix.mtx.gz")
    assert f"ValueError: {path}" in str(err.value)
    assert message in str(err.value)


def test_workers_import_the_package_without_pythonpath(tmp_path):
    """A driver started outside the checkout, with PYTHONPATH unset,
    still reads 10x input and runs a pandas UDF: the session tells its
    Python workers where the package is."""
    import subprocess
    import sys
    import textwrap
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _write_sample(tmp_path / "s", MTX)
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from data_ingest_spark.session import get_spark
        from data_ingest_spark.sources.tenx import read_10x_experiment

        def total(frames):
            import data_ingest_spark
            for f in frames:
                yield f[["count"]]

        spark = get_spark("no-pythonpath", cpus=2)
        expr, _ = read_10x_experiment(spark, {str(tmp_path)!r}, ["s"])
        print("sum", expr.mapInPandas(total, "count int")
              .groupBy().sum("count").first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert run.returncode == 0, run.stderr[-3000:]
    assert "sum 16" in run.stdout


def test_load_config_validation(tenx_dir, tmp_path):
    cfg = tb.load_config(os.path.join(tenx_dir, "meta.json"))
    assert cfg["samples"] == ["sample_a", "sample_b"]
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"name": "x"}))
    with pytest.raises(ValueError):
        tb.load_config(str(bad))


def test_contract_readers(spark, tmp_path):
    ds = tmp_path / "doublet-scores-a.csv"
    ds.write_text("b1\t0.1\tsinglet\nb2\t0.9\tdoublet\n")
    out = tb.read_doublet_scores(spark, str(ds)).collect()
    assert out[0]["doublet_scores"] == 0.1

    fl = tmp_path / "df_flag_filtered.txt"
    fl.write_text("samples\tflag_filtered\ns1\tFiltered\ns2\tUnfiltered\n")
    flags = {r["samples"]: r["prefiltered"]
             for r in tb.read_flag_file(spark, str(fl)).collect()}
    assert flags == {"s1": True, "s2": False}

    an = tmp_path / "features_annotations.tsv"
    an.write_text("input\tname\nENSG1\tACTB\n")
    assert tb.read_features_annotations(spark, str(an)).collect()[0]["gene"] \
        == "ENSG1"


def test_dense_table_scan(spark, tmp_path):
    t = tmp_path / "dense.tsv"
    t.write_text("gene\tc1\tc2\nG1\t0\t5\nG2\t3\t0\n")
    out = {(r["barcode"], r["gene"]): r["count"]
           for r in tb.read_dense_table(spark, str(t), "s").collect()}
    assert out == {("c2", "G1"): 5, ("c1", "G2"): 3}


def test_checkpoint_roundtrip(spark, expr, tmp_path):
    path = tb.checkpoint(expr, str(tmp_path), "stage1")
    back = tb.read_checkpoint(spark, str(tmp_path), "stage1")
    assert back.count() == expr.count()
    assert os.path.isdir(path)
    # partitioned by sample for downstream pruning
    assert any(d.startswith("sample=") for d in os.listdir(path))


def test_read_parquet_evolving_merges_added_column(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string") \
        .write.parquet(path)
    spark.createDataFrame([(3, "c", "en")],
                          "doc_id long, text string, lang string") \
        .write.mode("append").parquet(path)
    back = tb.read_parquet_evolving(spark, path)
    assert set(back.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in back.collect()}
    assert rows[3] == "en" and rows[1] is None


def test_write_tsv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "name string, v int")
    out = str(tmp_path / "tsv")
    sk.write_tsv(df, out)
    part = [f for f in os.listdir(out) if f.startswith("part-")][0]
    lines = open(os.path.join(out, part)).read().strip().split("\n")
    assert lines[0] == "name\tv"
    assert set(lines[1:]) == {"a\t1", "b\t2"}


def test_write_mtx_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 1, 5), (2, 3, 7)], "cell_idx int, gene_idx int, count int")
    out = str(tmp_path / "mtx")
    sk.write_mtx(df, out)
    part = [f for f in os.listdir(out) if f.startswith("part-")][0]
    lines = open(os.path.join(out, part)).read().strip().split("\n")
    assert lines[0].startswith("%%MatrixMarket")
    assert lines[1] == "2 3 2"
    assert set(lines[2:]) == {"1 1 5", "2 3 7"}


def test_cell_sets_json_and_checksum(spark, tmp_path):
    cells = spark.createDataFrame(
        [("s1", 2), ("s1", 0), ("s2", 1)], "samples string, cells_id int")
    tree = sk.cell_sets_json(cells, "samples", "sample", "metadataCategorical",
                             colors=["#111111", "#222222"])
    assert tree["rootNode"] is True
    assert tree["children"][0] == {
        "key": "sample-s1", "name": "s1", "cellIds": [0, 2],
        "color": "#111111"}
    p = tmp_path / "cell_sets.json"
    sk.write_json(tree, str(p))
    assert json.load(open(p))["children"][1]["cellIds"] == [1]

    c1 = sk.experiment_checksum([str(p), str(tmp_path / "missing.tsv")])
    c2 = sk.experiment_checksum([str(p)])
    assert c1 == c2  # skip-missing semantics (5_Upload-to-aws.py:201-207)


def test_upload_sink_stub(spark):
    sink = sk.UploadSink()
    sink.put_record("experiments", {"experimentId": "e1"})
    sink.put_object("cell_sets.json", b"{}")
    assert sink.records[0][0] == "experiments"
    assert sink.objects[0][1] == b"{}"


def test_jsonl_corpus_roundtrip_and_corrupt_records(spark, tmp_path):
    from data_ingest_spark.sources.tables import (read_jsonl_corpus,
                                                  write_jsonl_corpus)
    src = spark.createDataFrame(
        [(1, "hello world", "en", "web"), (2, "hallo welt", "de", "book")],
        "doc_id long, text string, lang string, source string")
    out = str(tmp_path / "corpus")
    write_jsonl_corpus(src, out, partitions=2)
    back = read_jsonl_corpus(spark, out)
    got = {r["doc_id"]: r["text"]
           for r in back.filter("_corrupt_record IS NULL").collect()}
    assert got == {1: "hello world", 2: "hallo welt"}

    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 3, "text": "ok", "lang": "en", "source": "s"}\n'
                   'NOT JSON AT ALL\n')
    mixed = read_jsonl_corpus(spark, str(bad)).cache()
    try:
        assert mixed.filter("_corrupt_record IS NOT NULL").count() == 1
        assert mixed.filter("_corrupt_record IS NULL").count() == 1
    finally:
        mixed.unpersist()


def test_webdataset_roundtrip_deterministic(spark, tmp_path):
    import hashlib
    from data_ingest_spark.sinks.webdataset import (read_webdataset,
                                                    write_webdataset)
    rows = [(i, bytes([i % 251]) * (10 + i), f"lang{i % 3}")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, lang string")
    out = str(tmp_path / "wds")
    write_webdataset(df, out, n_shards=3, meta_cols=["lang"])

    import os
    shards = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert 1 <= len(shards) <= 3

    back = read_webdataset(spark, out)
    got = {r["doc_id"]: (bytes(r["payload"]), r["meta_json"])
           for r in back.collect()}
    assert set(got) == set(range(20))
    for i in range(20):
        assert got[i][0] == bytes([i % 251]) * (10 + i)
        assert f'"lang{i % 3}"' in got[i][1]

    # byte-determinism: rewrite and compare shard digests
    out2 = str(tmp_path / "wds2")
    write_webdataset(df, out2, n_shards=3, meta_cols=["lang"])
    d1 = {s: hashlib.md5(open(os.path.join(out, s), "rb").read()).hexdigest()
          for s in shards}
    d2 = {s: hashlib.md5(open(os.path.join(out2, s), "rb").read()).hexdigest()
          for s in os.listdir(out2) if s.endswith(".tar")}
    assert d1 == d2


def test_upload_records_foreach_partition(spark, tmp_path):
    """S9 distributed writer: every row lands exactly once, batches
    never exceed the DynamoDB batch ceiling, sinks are built
    worker-side (one file per partition that received rows). The fake
    sink is defined inside the test so cloudpickle ships it to the
    executors by value (an in-memory sink cannot cross the
    executor/driver process boundary — hence the JSONL files)."""
    import json

    class _JsonlFileSink:
        def __init__(self, out_dir):
            import os
            import uuid
            self.path = os.path.join(out_dir,
                                     f"part-{uuid.uuid4().hex}.jsonl")

        def put_batch(self, table, records):
            import json as _json
            with open(self.path, "a") as fh:
                for r in records:
                    fh.write(_json.dumps(
                        {"table": table, "n_batch": len(records),
                         "rec": r}, sort_keys=True) + "\n")

    out = tmp_path / "uploads"
    out.mkdir()
    out_dir = str(out)
    df = spark.range(0, 103).selectExpr(
        "id AS experiment_id", "concat('exp-', id) AS name").repartition(4)
    sk.upload_records(df, "experiments-test",
                      lambda: _JsonlFileSink(out_dir),
                      batch_size=25)
    lines = [json.loads(ln) for p in sorted(out.iterdir())
             for ln in p.read_text().splitlines()]
    assert len(lines) == 103
    assert {ln["rec"]["experiment_id"] for ln in lines} == set(range(103))
    assert all(ln["table"] == "experiments-test" for ln in lines)
    assert max(ln["n_batch"] for ln in lines) <= 25
    assert 1 <= len(list(out.iterdir())) <= 4


def test_boto_upload_sink_with_fake_clients():
    """BotoUploadSink drives the boto3 client surface (Table.put_item /
    batch_writer / s3 put_object) — checked against a local fake, no
    AWS, mirroring src/5_Upload-to-aws.py:267-302's contract."""

    class _FakeBatchWriter:
        def __init__(self, items):
            self.items = items

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def put_item(self, Item):
            self.items.append(Item)

    class _FakeTable:
        def __init__(self):
            self.items = []

        def put_item(self, Item):
            self.items.append(Item)

        def batch_writer(self):
            return _FakeBatchWriter(self.items)

    class _FakeDynamo:
        def __init__(self):
            self.tables = {}

        def Table(self, name):
            return self.tables.setdefault(name, _FakeTable())

    class _FakeS3:
        def __init__(self):
            self.objects = {}

        def put_object(self, Bucket, Key, Body):
            self.objects[(Bucket, Key)] = Body

    dyn, s3 = _FakeDynamo(), _FakeS3()
    sink = sk.BotoUploadSink(dynamo_factory=lambda: dyn,
                             s3_factory=lambda: s3)
    sink.put_record("experiments-test", {"experimentId": "e1"})
    sink.put_batch("experiments-test", [{"experimentId": f"e{i}"}
                                        for i in range(2, 5)])
    sink.put_object("cell-sets-test/e1", b'{"cellSets": []}')
    assert [i["experimentId"] for i in dyn.tables["experiments-test"].items] \
        == ["e1", "e2", "e3", "e4"]
    assert s3.objects[("cell-sets-test", "e1")] == b'{"cellSets": []}'


def test_orc_roundtrip_pushdown(spark, tmp_path):
    """ORC write -> read roundtrip preserves values; the read supports
    predicate pushdown + column pruning like the parquet path."""
    from data_ingest_spark.plans import scan_columns
    from data_ingest_spark.sources.tables import read_orc, write_orc
    df = spark.createDataFrame(
        [(i, f"d{i}", float(i) * 1.5) for i in range(100)],
        ["id", "name", "score"])
    path = str(tmp_path / "orc_tbl")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert sorted(r["id"] for r in back.collect()) == list(range(100))
    pruned = back.filter("score > 100.0").select("id", "score")
    assert scan_columns(pruned) == [["id", "score"]]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "score" in plan
