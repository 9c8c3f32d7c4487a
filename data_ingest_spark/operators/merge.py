"""Multi-sample merge / set operations (SURVEY.md §2.6 U1–U2).

Reference citations:
  U1 src/4_Prepare_experiment.r:45-51 (Seurat merge + add.cell.ids)
  U2 src/1_Preproc.r:143 (rbind + unique of per-sample annotations)

In the long format the outer gene-space alignment of Seurat's merge is
free: a (gene, cell) pair absent from a sample simply contributes no
row. unionByName is a zero-shuffle operator (partitions concatenate).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def merge_samples(per_sample: list[DataFrame]) -> DataFrame:
    """U1: union per-sample expression DataFrames; prefix barcodes with
    the sample name (add.cell.ids) so barcodes are globally unique."""
    merged = reduce(lambda a, b: a.unionByName(b), per_sample)
    return merged.withColumn(
        "barcode", F.concat_ws("_", F.col("sample"), F.col("barcode")))


def union_dedup(frames: list[DataFrame]) -> DataFrame:
    """U2/A9: rbind + unique across samples' annotation tables."""
    return reduce(lambda a, b: a.unionByName(b), frames).dropDuplicates()
