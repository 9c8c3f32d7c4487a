"""S6–S11: export sinks.

References: TSV exports src/4_Prepare_experiment.r:167-201 & the flag
file src/3_Seurat.r:136; MTX export (transposed) :204-214; config JSON
:338-357; cell-sets JSON src/5_Upload-to-aws.py:138-196; checksum id
:37-42,201-207; DynamoDB/S3 uploads :267-302 (stubbed — out of
correctness scope behind an interface).

Single-file exports (`coalesce(1)`) mirror the reference's file
contract and are driver-light: data streams through one task, never
through the driver.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, functions as F


def write_tsv(df: DataFrame, path: str) -> None:
    """S6: TSV sink: one file with a header line, the reference's
    write.table contract."""
    df.coalesce(1).write.mode("overwrite").csv(path, sep="\t", header=True)


def write_mtx(expr: DataFrame, path: str, value_col: str = "count") -> None:
    """S7: MatrixMarket COO sink, TRANSPOSED like the reference
    (writeMM(t(...)) — cells as rows): lines `cell_idx gene_idx value`
    after the two header lines. Indices must already be dense 1-based
    (`cell_idx`, `gene_idx` columns). Header dims are aggregated
    lazily; the body is written by Spark with a global sort-key so the
    header sorts first — one text file, one pass."""
    dims = expr.agg(
        F.max("cell_idx").alias("nr"), F.max("gene_idx").alias("nc"),
        F.count("*").alias("nnz")).collect()[0]
    header = expr.sparkSession.createDataFrame(
        [(0, "%%MatrixMarket matrix coordinate integer general"),
         (1, f"{dims['nr']} {dims['nc']} {dims['nnz']}")],
        "ord long, line string")
    body = expr.select(
        (F.lit(2)).alias("ord"),
        F.concat_ws(" ", "cell_idx", "gene_idx", value_col).alias("line"))
    (header.unionByName(body).orderBy("ord").select("line")
     .coalesce(1).write.mode("overwrite").text(path))


def cell_sets_json(cells: DataFrame, key_col: str, name: str,
                   set_type: str, colors: list[str] | None = None) -> dict:
    """S8/A11/J7: the cell-sets JSON tree
    (src/5_Upload-to-aws.py:138-157): children = one node per distinct
    key value with its sorted cellIds array; colors assigned from the
    pool in key order. The collect is of (n_groups) rows of id arrays —
    the reference's own output size."""
    grouped = (
        cells.groupBy(key_col)
        .agg(F.sort_array(F.collect_list("cells_id")).alias("cellIds"))
        .orderBy(key_col)
        .collect()
    )
    children = []
    for i, row in enumerate(grouped):
        child = {
            "key": f"{name}-{row[key_col]}",
            "name": str(row[key_col]),
            "cellIds": [int(x) for x in row["cellIds"]],
        }
        if colors:
            child["color"] = colors[i % len(colors)]
        children.append(child)
    return {"key": name, "name": name, "rootNode": True,
            "children": children, "type": set_type}


def write_json(obj: dict, path: str) -> None:
    """S8: config/cell-sets JSON emission (driver-side, scalar
    metadata). The reference's true/false/null gsub fixups
    (4_Prepare_experiment.r:350-357) are unnecessary with a real JSON
    encoder."""
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=2, sort_keys=True)


def experiment_checksum(paths: list[str]) -> str:
    """A12: md5 over the concatenation of output files, silently
    skipping missing ones (replicates src/5_Upload-to-aws.py:37-42,
    201-207 — including the skip-missing behavior its stray
    r-out-cells.tsv name depends on)."""
    h = hashlib.md5()
    for p in paths:
        if not os.path.exists(p):
            continue
        with open(p, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


class UploadSink:
    """S9/S10 stub interface: the reference's DynamoDB put_item and S3
    uploads (src/5_Upload-to-aws.py:267-302). Records pass through
    `put_record`/`put_object`; the default sink collects them in memory
    for tests; a production subclass wires boto3. Cloud creds and
    network are intentionally absent here."""

    def __init__(self) -> None:
        self.records: list[tuple[str, dict]] = []
        self.objects: list[tuple[str, bytes]] = []

    def put_record(self, table: str, record: dict) -> None:
        self.records.append((table, record))

    def put_batch(self, table: str, records: list[dict]) -> None:
        for r in records:
            self.put_record(table, r)

    def put_object(self, key: str, body: bytes) -> None:
        self.objects.append((key, body))


def upload_records(df: DataFrame, table: str, sink_factory,
                   batch_size: int = 25) -> None:
    """S9 distributed path: ship a DataFrame to a record sink with
    ``foreachPartition`` — the scale counterpart of the reference's
    single driver-side put_item loop (src/5_Upload-to-aws.py:267-302).

    ``sink_factory`` is a zero-arg picklable callable invoked ONCE PER
    PARTITION on the executor, so network clients (boto3 resources)
    are created worker-side and never serialized through the driver.
    Records are flushed in ``batch_size`` groups (25 = the DynamoDB
    batch_write_item ceiling). Rows never pass through the driver.
    """
    cols = df.columns

    def _write(rows) -> None:
        sink = sink_factory()
        batch: list[dict] = []
        for row in rows:
            batch.append(dict(zip(cols, row)))
            if len(batch) >= batch_size:
                sink.put_batch(table, batch)
                batch = []
        if batch:
            sink.put_batch(table, batch)
        close = getattr(sink, "close", None)
        if callable(close):
            close()

    df.foreachPartition(_write)


class BotoUploadSink(UploadSink):
    """S9/S10 production sink: DynamoDB batch writes + S3 puts via
    boto3 (mirrors src/5_Upload-to-aws.py:267-302's table/bucket
    contract). A client factory is injectable so tests run against a
    local fake; the default builds real boto3 clients from the
    standard credential chain. Import is deferred — constructing with
    a fake factory needs no boto3 at all."""

    def __init__(self, region: str = "eu-west-1",
                 dynamo_factory=None, s3_factory=None) -> None:
        super().__init__()
        self._region = region
        self._dynamo_factory = dynamo_factory
        self._s3_factory = s3_factory
        self._dynamo = None
        self._s3 = None

    def _dyn(self):
        if self._dynamo is None:
            if self._dynamo_factory is not None:
                self._dynamo = self._dynamo_factory()
            else:
                import boto3
                self._dynamo = boto3.resource(
                    "dynamodb", region_name=self._region)
        return self._dynamo

    def _s3c(self):
        if self._s3 is None:
            if self._s3_factory is not None:
                self._s3 = self._s3_factory()
            else:
                import boto3
                self._s3 = boto3.client("s3", region_name=self._region)
        return self._s3

    def put_record(self, table: str, record: dict) -> None:
        self._dyn().Table(table).put_item(Item=record)

    def put_batch(self, table: str, records: list[dict]) -> None:
        t = self._dyn().Table(table)
        writer = getattr(t, "batch_writer", None)
        if writer is None:
            for r in records:
                t.put_item(Item=r)
            return
        with writer() as bw:
            for r in records:
                bw.put_item(Item=r)

    def put_object(self, key: str, body: bytes) -> None:
        bucket, obj_key = key.split("/", 1)
        self._s3c().put_object(Bucket=bucket, Key=obj_key, Body=body)
