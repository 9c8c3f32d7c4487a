"""S1: 10x Genomics (CellRanger V2/V3) MTX directories.

Reference: src/1_Preproc.r:35-59 (layout detection: V2 ships
genes.tsv.gz, V3 features.tsv.gz) and :114-142 (Read10X with
gene.column=1, per-sample loop, annotation harvest).

``read_10x_experiment`` is the one entry point. It returns

- expression ``(sample string, barcode string, gene string, count int)``,
  one row per MatrixMarket entry, read by the ``tenx`` Python data
  source (``spark.read.format("tenx")``);
- annotations ``(gene, name)``: every row of every sample's features
  file, genes without counts included, rbind + unique (U2,
  1_Preproc.r:143); a features file without a name column names each
  gene by its id.

The data source runs one task per sample. A sample's matrix indexes
its own features and barcodes by line number, so one task reads all
three files and resolves the indices in memory. A gzipped file is one
split to any reader, so no reader splits a CellRanger sample further;
samples read concurrently. Paths are local (the layout is sniffed with
``os.listdir``).

Malformed input raises ``ValueError`` naming the file and, where there
is one, the line: a size line that is not three integers, header
dimensions that differ from the features or barcodes line counts, an
entry without three fields, an index outside ``1..n``, and an entry
count that differs from the header's. Raised inside the task, it
reaches the caller as a ``PythonException`` carrying that message.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType)

V2_FILES = {"genes.tsv.gz", "barcodes.tsv.gz", "matrix.mtx.gz"}
V3_FILES = {"features.tsv.gz", "barcodes.tsv.gz", "matrix.mtx.gz"}
FEATURES = ["features.tsv.gz", "genes.tsv.gz", "genes.tsv"]
BARCODES = ["barcodes.tsv.gz", "barcodes.tsv"]
MATRIX = ["matrix.mtx.gz", "matrix.mtx"]

TENX_SCHEMA = StructType([
    StructField("sample", StringType()),
    StructField("barcode", StringType()),
    StructField("gene", StringType()),
    StructField("count", IntegerType()),
])


def detect_layout(sample_dir: str) -> str:
    """'v2' | 'v3' per check_10x_input (1_Preproc.r:35-59); also accepts
    the uncompressed V2 variant the reference handles by renaming."""
    names = set(os.listdir(sample_dir))
    if V3_FILES <= names:
        return "v3"
    if V2_FILES <= names or {"genes.tsv", "barcodes.tsv", "matrix.mtx"} <= names:
        return "v2"
    raise ValueError(f"{sample_dir}: not a CellRanger V2/V3 layout "
                     f"(found {sorted(names)})")


def _first_present(sample_dir: str, candidates: list[str]) -> str:
    for c in candidates:
        p = os.path.join(sample_dir, c)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"none of {candidates} in {sample_dir}")


def _open(path: str):
    return gzip.open(path, "rt") if path.endswith(".gz") else open(path)


def _first_column(path: str) -> list[str]:
    with _open(path) as fh:
        return [line.rstrip("\n").split("\t", 1)[0] for line in fh]


def _sample_rows(sample: str, sample_dir: str):
    """Yield ``(sample, barcode, gene, count)`` for every entry of one
    sample's matrix, in file order."""
    genes_path = _first_present(sample_dir, FEATURES)
    barcodes_path = _first_present(sample_dir, BARCODES)
    path = _first_present(sample_dir, MATRIX)
    genes = _first_column(genes_path)
    barcodes = _first_column(barcodes_path)
    with _open(path) as fh:
        for n_lines, line in enumerate(fh, 1):
            if not line.startswith("%") and line.strip():
                break
        else:
            raise ValueError(f"{path}: no size line")
        try:
            n_genes, n_cells, nnz = map(int, line.split())
        except ValueError:
            raise ValueError(f"{path} line {n_lines}: size line "
                             f"{line.strip()!r} is not three integers"
                             ) from None
        for n, what, listed, dim_path in (
                (n_genes, "genes", genes, genes_path),
                (n_cells, "barcodes", barcodes, barcodes_path)):
            if n != len(listed):
                raise ValueError(f"{path} line {n_lines}: header declares "
                                 f"{n} {what} but {dim_path} has "
                                 f"{len(listed)} lines")
        entries = 0
        for n_lines, line in enumerate(fh, n_lines + 1):
            fields = line.split()
            if not fields:
                continue
            try:
                g, c, v = fields
                gi, ci, count = int(g), int(c), int(float(v))
            except ValueError:
                raise ValueError(f"{path} line {n_lines}: expected "
                                 f"'gene cell count', got {line.strip()!r}"
                                 ) from None
            if not (0 < gi <= n_genes and 0 < ci <= n_cells):
                raise ValueError(f"{path} line {n_lines}: index ({gi}, {ci}) "
                                 f"outside the {n_genes} x {n_cells} matrix")
            entries += 1
            yield sample, barcodes[ci - 1], genes[gi - 1], count
    if entries != nnz:
        raise ValueError(f"{path}: header declares {nnz} entries, "
                         f"found {entries}")


class SamplePartition(InputPartition):
    def __init__(self, sample: str, sample_dir: str):
        self.sample = sample
        self.sample_dir = sample_dir


class TenxReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]
        self.samples = options["samples"].split(",")

    def partitions(self):
        return [SamplePartition(s, os.path.join(self.root, s))
                for s in self.samples]

    def read(self, partition: SamplePartition):
        return _sample_rows(partition.sample, partition.sample_dir)


class TenxDataSource(DataSource):
    """``spark.read.format("tenx")``; options ``path`` (the directory of
    sample directories) and ``samples`` (comma-separated names)."""

    @classmethod
    def name(cls) -> str:
        return "tenx"

    def schema(self):
        return TENX_SCHEMA

    def reader(self, schema) -> TenxReader:
        return TenxReader(self.options)


def read_10x_experiment(spark: SparkSession, input_dir: str,
                        samples: list[str]) -> tuple[DataFrame, DataFrame]:
    """All samples → (expression, annotations); see the module doc."""
    dirs = [os.path.join(input_dir, s) for s in samples]
    for d in dirs:
        detect_layout(d)
    spark.dataSource.register(TenxDataSource)
    expr = (spark.read.format("tenx").option("path", input_dir)
            .option("samples", ",".join(samples)).load())
    # quote="": features files are plain TSV, a quote is part of a name
    features = spark.read.csv([_first_present(d, FEATURES) for d in dirs],
                              schema="gene string, name string",
                              sep="\t", quote="")
    annots = features.select(
        "gene", F.coalesce("name", "gene").alias("name")).dropDuplicates()
    return expr, annots
