"""End-to-end quickstart: what a user of the reference pipeline runs
here instead.

Builds a synthetic two-sample CellRanger directory, ingests it with the
10x reader, derives per-sample auto thresholds, runs the full QC chain
with them (size filter → MT content → emptyDrops classifier → gene/UMI
regression band → doublets → normalize → HVG → scale → PCA → kNN/SNN →
clustering), and writes the reference's export set (TSV + MTX +
cell-sets JSON).

    python examples/quickstart.py [workdir]

Mirrors the reference flow end to end:
/root/reference/src/docker-entrypoint.sh:4-10 (stage chain),
1_Preproc.r (ingest), QC_helpers/* (steps), 4_Prepare_experiment.r
(exports).
"""

from __future__ import annotations

import gzip
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_synthetic_10x(root: str, n_genes: int = 60,
                        n_cells: int = 80) -> list[str]:
    """Two CellRanger V3 sample dirs with overlapping gene panels."""
    rng = random.Random(7)
    samples = []
    for s in ("sample_a", "sample_b"):
        d = os.path.join(root, s)
        os.makedirs(d, exist_ok=True)
        feats = "\n".join(
            f"ENSG{g}\t{'MT-' if g % 13 == 0 else 'G'}{g}\tGene Expression"
            for g in range(n_genes))
        bcs = "\n".join(f"BC{i:04d}-1" for i in range(n_cells))
        triplets = [(g + 1, c + 1, rng.randrange(1, 40))
                    for g in range(n_genes) for c in range(n_cells)
                    if rng.random() < 0.25]
        mtx = ("%%MatrixMarket matrix coordinate integer general\n"
               f"{n_genes} {n_cells} {len(triplets)}\n"
               + "\n".join(f"{g} {c} {v}" for g, c, v in triplets))
        for name, text in [("features.tsv.gz", feats),
                           ("barcodes.tsv.gz", bcs),
                           ("matrix.mtx.gz", mtx)]:
            with gzip.open(os.path.join(d, name), "wt") as fh:
                fh.write(text + "\n")
        samples.append(s)
    return samples


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="quickstart_")
    from data_ingest_spark.pipeline import (Experiment, assemble_cells,
                                            derive_config_per_sample, run_qc)
    from data_ingest_spark.session import get_spark
    from data_ingest_spark.sinks.exports import cell_sets_json, write_tsv
    from data_ingest_spark.sources.tenx import read_10x_experiment

    spark = get_spark("quickstart", cpus=8)
    samples = build_synthetic_10x(os.path.join(work, "input"))
    expr, annots = read_10x_experiment(spark, os.path.join(work, "input"),
                                       samples)

    genes = annots.selectExpr("gene", "name")
    cells = assemble_cells(expr, genes=genes)
    exp = Experiment(expression=expr, cells=cells, genes=genes)

    # per-sample auto thresholds (knee minCellSize, pLevel) as
    # ``sample-<s>`` overrides, merged step by step with explicit values
    auto_cfg = derive_config_per_sample(exp)
    overrides = {
        "doubletScores": {"probabilityThreshold": 1.0},
        "dataIntegration": {"nfeatures": 40, "numPCs": 5,
                            "integrate": False},
        "configureEmbedding": {"k": 8, "computeEmbedding": False},
    }
    final, cfg = run_qc(exp, {
        step: {**auto_cfg.get(step, {}), **overrides.get(step, {})}
        for step in {**auto_cfg, **overrides}})
    print(f"applied cell-size config: {cfg['cellSizeDistribution']}")

    out = os.path.join(work, "output")
    os.makedirs(out, exist_ok=True)
    write_tsv(final.cells, os.path.join(out, "cells_tsv"))
    cs = cell_sets_json(final.cells, key_col="cluster", name="louvain",
                        set_type="cellSets")
    import json
    with open(os.path.join(out, "cell_sets.json"), "w") as fh:
        json.dump(cs, fh)

    n = final.cells.count()
    k = final.cells.select("cluster").distinct().count()
    print(f"pipeline complete: {n} cells in {k} clusters -> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
