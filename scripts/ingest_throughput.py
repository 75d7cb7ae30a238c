#!/usr/bin/env python
"""Ingest-throughput readings for the incremental (foreachBatch)
sinks — the streaming counterparts the headline bench's streaming
section does not cover: exact dedup, semantic dedup, and frozen-model
DSIR scoring. Each pipeline streams the sf0.1 corpus from a file
source in N_FILES micro-batches through its real sink (index reads,
staged swaps, per-batch output) and reports end-to-end rows/s plus
per-batch wall — the number that matters for a 100 TB ingest tier is
rows/s at steady state, and the per-batch breakdown shows whether the
index probe (which grows with the survivor set) stays flat.

Usage: python scripts/ingest_throughput.py [--sf /root/testdata/sf0.1]
                                           [--n-batches 8]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

def run_stream(spark, src_dir: str, schema: str, sink, ckpt: str):
    """Returns (total_wall_s, per_batch_wall_s list) — the per-batch
    walls are the flat-index-probe diagnostic the docstring promises."""
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    batch_walls: list[float] = []

    def timed(df, bid):
        t = time.monotonic()
        sink(df, bid)
        batch_walls.append(round(time.monotonic() - t, 2))

    t0 = time.monotonic()
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", ckpt)
        .start()
    )
    run_to_completion(q)
    return time.monotonic() - t0, batch_walls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n-batches", type=int, default=8)
    ap.add_argument(
        "--sem-blocks",
        type=int,
        default=0,
        help="re-key the semantic-dedup block as vec_id %% N instead of "
        "the label column — the bounded-block stand-in a production "
        "deployment gets from its k-means assignment; REQUIRED at "
        "corpus scales where the 10-value label would make blocks "
        "corpus/10 wide and measure a contract violation instead of "
        "the sink (BASELINE.md r10 note on semdedup_label_blocks)",
    )
    args = ap.parse_args()
    N_FILES = args.n_batches

    from pyspark.sql import functions as F

    from flink_realtime_edu_spark.queries.training import (
        dsir_features,
        dsir_fit,
    )
    from flink_realtime_edu_spark.session import get_spark
    from flink_realtime_edu_spark.sources import load
    from flink_realtime_edu_spark.streaming.dedup import streaming_exact_dedup
    from flink_realtime_edu_spark.streaming.scoring import (
        streaming_dsir_scorer,
        write_dsir_model,
    )
    from flink_realtime_edu_spark.streaming.semdedup import (
        streaming_semantic_dedup,
    )

    spark = get_spark(app_name="fres-ingest-throughput")
    tmp = Path(tempfile.mkdtemp(prefix="ingest_tp_"))
    out: dict = {"sf_dir": args.sf, "n_batches": N_FILES}
    try:
        docs = load(spark, args.sf, "documents").select(
            "doc_id", "source", "text"
        )
        n_docs = docs.count()
        block_col = (
            (F.col("vec_id") % args.sem_blocks)
            if args.sem_blocks
            else F.col("label")
        )
        emb = load(spark, args.sf, "embeddings").select(
            "vec_id", block_col.cast("long").alias("block"), "embedding"
        )
        n_vecs = emb.count()
        out["sem_blocks"] = args.sem_blocks or "label"

        doc_src = tmp / "docs_src"
        docs.select("doc_id", "text").repartition(N_FILES).write.parquet(
            str(doc_src)
        )
        emb_src = tmp / "emb_src"
        emb.repartition(N_FILES).write.parquet(str(emb_src))

        # 1) incremental exact dedup
        wall, walls = run_stream(
            spark,
            str(doc_src),
            "doc_id long, text string",
            streaming_exact_dedup(
                str(tmp / "dedup_idx"), str(tmp / "dedup_out"), n_buckets=8
            ),
            str(tmp / "dedup_ckpt"),
        )
        out["exact_dedup"] = {
            "rows": n_docs,
            "wall_s": round(wall, 2),
            "rows_per_s": round(n_docs / wall, 1),
            "batch_walls_s": walls,
        }

        # 2) incremental semantic dedup (label blocks)
        wall, walls = run_stream(
            spark,
            str(emb_src),
            "vec_id long, block long, embedding array<float>",
            streaming_semantic_dedup(
                str(tmp / "sem_idx"), str(tmp / "sem_out"), threshold=0.40
            ),
            str(tmp / "sem_ckpt"),
        )
        out["semantic_dedup"] = {
            "rows": n_vecs,
            "wall_s": round(wall, 2),
            "rows_per_s": round(n_vecs / wall, 1),
            "batch_walls_s": walls,
        }

        # 3) frozen-model DSIR scoring
        feat_t = dsir_features(
            docs.select(
                "doc_id", (F.col("source") == "src0").alias("is_t"), "text"
            ),
            carry=("is_t",),
        )
        model_dir = str(tmp / "dsir_model")
        write_dsir_model(dsir_fit(feat_t), model_dir)
        wall, walls = run_stream(
            spark,
            str(doc_src),
            "doc_id long, text string",
            streaming_dsir_scorer(model_dir, str(tmp / "score_out")),
            str(tmp / "score_ckpt"),
        )
        out["dsir_scoring"] = {
            "rows": n_docs,
            "wall_s": round(wall, 2),
            "rows_per_s": round(n_docs / wall, 1),
            "batch_walls_s": walls,
        }

        # 4) streaming IVF vector-index maintenance (frozen quantizer
        #    + frozen PQ codebooks — codes encoded at append time, the
        #    r12 codes-at-rest posture; the throughput number carries
        #    the encode cost the production sink pays)
        from flink_realtime_edu_spark.operators.quantization import (
            pq_fit_sample,
        )
        from flink_realtime_edu_spark.operators.similarity import (
            _ivf_fit_assign,
        )
        from flink_realtime_edu_spark.streaming.annindex import (
            streaming_ivf_index,
            write_ivf_quantizer,
            write_pq_codebooks,
        )

        raw_emb = load(spark, args.sf, "embeddings").select(
            "vec_id", "embedding"
        )
        _, centers = _ivf_fit_assign(raw_emb, "vec_id", "embedding", 16)
        quant_dir = str(tmp / "ivf_quant")
        write_ivf_quantizer(spark, centers, quant_dir)
        cb_dir = str(tmp / "pq_codebooks")
        write_pq_codebooks(spark, pq_fit_sample(raw_emb, m=16, k=256), cb_dir)
        raw_src = tmp / "raw_emb_src"
        raw_emb.repartition(N_FILES).write.parquet(str(raw_src))
        wall, walls = run_stream(
            spark,
            str(raw_src),
            "vec_id long, embedding array<float>",
            streaming_ivf_index(
                quant_dir, str(tmp / "ivf_index"), codebooks_dir=cb_dir
            ),
            str(tmp / "ivf_ckpt"),
        )
        out["ivf_index"] = {
            "rows": n_vecs,
            "wall_s": round(wall, 2),
            "rows_per_s": round(n_vecs / wall, 1),
            "batch_walls_s": walls,
        }

        # 5) incremental k-NN graph maintenance (r13): frozen LSH
        #    geometry, per-batch bucket-mate scoring + top-k merge —
        #    per-batch wall grows with stored bucket occupancy, so
        #    the batch breakdown is the diagnostic here
        from flink_realtime_edu_spark.operators.similarity import (
            adaptive_n_planes,
        )
        from flink_realtime_edu_spark.streaming.knngraph import (
            streaming_knn_graph,
        )

        if n_vecs <= 100_000:
            # freeze geometry sized for the ANTICIPATED final corpus
            # (the sink's contract: geometry re-tuning is a
            # batch-side rebuild)
            kg_planes = adaptive_n_planes(n_vecs, target_bucket_rows=128)
            wall, walls = run_stream(
                spark,
                str(raw_src),
                "vec_id long, embedding array<float>",
                streaming_knn_graph(
                    str(tmp / "kg_tags"),
                    str(tmp / "kg_edges"),
                    k=5,
                    n_planes=kg_planes,
                ),
                str(tmp / "kg_ckpt"),
            )
            out["knn_graph"] = {
                "rows": n_vecs,
                "wall_s": round(wall, 2),
                "rows_per_s": round(n_vecs / wall, 1),
                "batch_walls_s": walls,
            }
        else:
            # no silent caps: the streaming maintenance keeps the
            # UNCAPPED bucket-mate top-k, and this corpus's label
            # mega-clusters make that quadratic at sf1 (the measured
            # 20k-row buckets — BASELINE.md r13); past this size the
            # honest path is the batch rebuild with capped adaptive
            # geometry, so the sweep would measure the documented
            # contract boundary, not the sink
            out["knn_graph"] = {
                "rows": n_vecs,
                "skipped": "uncapped streaming maintenance is the "
                "batch-rebuild boundary past ~100k clustered vectors "
                "(streaming/knngraph.py header)",
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
