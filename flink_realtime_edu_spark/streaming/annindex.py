"""Streaming IVF vector-index maintenance — the X6 ingest sibling of
streaming/dedup.py (hash index) and streaming/semdedup.py (survivor
index): newly-ingested embedding vectors are APPENDED to a persisted
IVF index against a FROZEN coarse quantizer, so a growing vector
corpus pays O(batch) per micro-batch instead of per-batch index
rebuilds — the FAISS `add` discipline as a Structured Streaming
foreachBatch sink.

Shape: the quantizer (the k×dim centroid matrix from
``operators/similarity._ivf_fit_assign`` — driver-side Lloyd's on
the learning sample the PQ codebooks also train on) is fit ONCE on a
reference corpus batch-side and frozen to parquet (the
streaming/scoring.py model-freeze discipline); each micro-batch runs
``operators/similarity.ivf_append`` (one vectorized pandas-UDF
argmin against the broadcast centroids — the same argmin the batch
fit assigns the reference corpus with) and folds the assigned rows
into the cluster-bucketed on-disk index via the shared
staged-swap/bucket-layout helpers (streaming/sinks.py), deduped by
vec_id so LAST-BATCH CRASH REPLAY is a pure idempotent overwrite —
assignment depends only on the frozen centroids, never on index
state, so stream ≡ batch holds per-vector by construction.

Search over the read-back index is exactly the batch probe path
(``_ivf_probe_search`` or IVF×PQ over the (nid, cluster, cv[, code])
layout). Refreshing the quantizer is a batch-side concern —
:func:`rebuild_ivf_index` (r12): refit on the current corpus, write
quantizer/codebooks/index to FRESH paths, restart the stream against
them. Assignments under the OLD quantizer stay valid for search
under the old centroids; a refit implies an index rebuild, which is
why production systems refit rarely and append often.

Scale: per batch one narrow shuffle (bucket id), touched-bucket-only
index IO, centroid matrix k×dim broadcast. With ``codebooks_dir`` set
(the 100 TB posture, r12 — VERDICT r11 item 2) every appended vector
is ALSO PQ-encoded at append time against frozen codebooks
(operators/quantization.pq_encode_index — one Arrow pass riding the
same batch), so the index carries m-byte codes next to the floats and
the IVF×PQ search path scores codes without ever re-encoding; parquet
column pruning means an ADC scan over the index reads only
(nid, cluster, code). Floats stay in the same files for the
shortlist rerank (column-pruned away from the hot scan, not
duplicated storage).

Contract: vec_id is the upsert key and the stream must send a STABLE
(vec_id → embedding) mapping (the exact-dedup sink upstream in the
ingest tier guarantees it). A vec_id re-sent with a DIFFERENT
embedding can land in a different cluster bucket, and touched-only
index IO cannot see the old row to evict it — the same keyed-index
limitation as streaming/dedup.py; ``read_ivf_index`` deduplicates by
nid on read as a guard, not a license.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_realtime_edu_spark.streaming.sinks import (
    BUCKET_COL,
    check_bucket_layout,
    key_bucket_col,
    read_buckets,
    staged_swap_buckets,
)

INDEX_SCHEMA = (
    "nid bigint, cluster int, cv array<float>, code binary, "
    "first_seen_batch bigint"
)


def write_ivf_quantizer(spark, centers: "np.ndarray", model_dir: str) -> None:
    """Freeze a (k, dim) centroid matrix to parquet (cluster id +
    center array) — tiny by construction, one file."""
    rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centers)
    ]
    spark.createDataFrame(
        rows, "cluster int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(model_dir)


def read_ivf_quantizer(spark, model_dir: str) -> "np.ndarray":
    """Read the frozen quantizer back as the (k, dim) matrix
    ivf_append/_ivf_probe_search expect (cluster id = row index)."""
    rows = spark.read.parquet(model_dir).orderBy("cluster").collect()
    if not rows:
        raise ValueError(f"no quantizer rows under {model_dir}")
    if [r.cluster for r in rows] != list(range(len(rows))):
        raise ValueError("quantizer cluster ids are not dense 0..k-1")
    return np.array([r.center for r in rows], dtype=np.float64)


def write_pq_codebooks(spark, codebooks: "np.ndarray", model_dir: str) -> None:
    """Freeze (m, k, d_sub) PQ codebooks to parquet (one row per
    (subspace, code) pair) — the model-freeze discipline shared with
    the quantizer: fit once batch-side (pq_fit_sample), append
    forever."""
    m, k, _ = codebooks.shape
    rows = [
        (int(i), int(j), [float(x) for x in codebooks[i, j]])
        for i in range(m)
        for j in range(k)
    ]
    spark.createDataFrame(
        rows, "sub int, code int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(model_dir)


def read_pq_codebooks(spark, model_dir: str) -> "np.ndarray":
    """Read frozen PQ codebooks back as the (m, k, d_sub) tensor
    pq_encode_index/ivfpq_topk expect."""
    rows = spark.read.parquet(model_dir).orderBy("sub", "code").collect()
    if not rows:
        raise ValueError(f"no codebook rows under {model_dir}")
    m = rows[-1].sub + 1
    k = rows[-1].code + 1
    if len(rows) != m * k or [(r.sub, r.code) for r in rows] != [
        (i, j) for i in range(m) for j in range(k)
    ]:
        raise ValueError("codebook (sub, code) ids are not dense")
    d_sub = len(rows[0].center)
    return np.array([r.center for r in rows], dtype=np.float64).reshape(
        m, k, d_sub
    )


def streaming_ivf_index(
    quantizer_dir: str,
    index_dir: str,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks_dir: str | None = None,
):
    """Build the foreachBatch function: assign each micro-batch of
    (id, embedding) vectors to the frozen quantizer's nearest
    centroid (ivf_append), PQ-encode them against the frozen
    codebooks when ``codebooks_dir`` is given (codes at rest — the
    scale posture; NULL codes otherwise, schema stable), and fold
    them into the cluster-bucketed index (staged swap, vec_id-deduped
    → replay-idempotent: assignment AND encoding depend only on
    frozen models, never on index state)."""
    from flink_realtime_edu_spark.operators.quantization import (
        pq_encode_index,
    )
    from flink_realtime_edu_spark.operators.similarity import ivf_append

    # Frozen models are read ONCE, on the first batch, and cached in
    # the closure (ADVICE r12): the quantizer/codebooks are immutable
    # by the freeze contract this module's header states — a refit
    # writes FRESH paths and restarts the stream — so re-reading and
    # re-collecting the m·k codebook table per micro-batch was pure
    # redundant driver work on the hot append path. Hot-swapping
    # models in place is NOT intended (assignments are only
    # meaningful under the centroids that produced them).
    frozen: dict[str, "np.ndarray"] = {}

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        check_bucket_layout(index_dir, n_buckets)
        if "centers" not in frozen:
            frozen["centers"] = read_ivf_quantizer(spark, quantizer_dir)
            if codebooks_dir is not None:
                frozen["codebooks"] = read_pq_codebooks(spark, codebooks_dir)
        assigned = ivf_append(
            batch_df, frozen["centers"], id_col=id_col, vec_col=vec_col
        )
        if codebooks_dir is not None:
            assigned = pq_encode_index(assigned, frozen["codebooks"])
        else:
            assigned = assigned.withColumn(
                "code", F.lit(None).cast("binary")
            )
        assigned = (
            assigned.select(
                "nid",
                "cluster",
                F.col("cv").cast("array<float>").alias("cv"),
                "code",
                F.lit(batch_id).cast("long").alias("first_seen_batch"),
            )
            .withColumn(BUCKET_COL, key_bucket_col(["cluster"], n_buckets))
            .persist()
        )
        try:
            touched = [
                r[0] for r in assigned.select(BUCKET_COL).distinct().collect()
            ]
            index = read_buckets(spark, index_dir, touched, merge_schema=True)
            if index is None:
                index = spark.createDataFrame([], INDEX_SCHEMA).withColumn(
                    BUCKET_COL, F.lit(0)
                )
            # On-disk schema migration (ADVICE r12): a pre-r13 index
            # written before INDEX_SCHEMA gained `code` reads back
            # without the column — appending would fail in
            # unionByName. Null-fill it: the codes-at-rest search
            # dispatch treats null codes as encode-in-scan, so the
            # migrated rows stay correct (at bootstrap cost) until a
            # rebuild_ivf_index re-encodes them. Touched buckets are
            # rewritten whole by the staged swap, so no single bucket
            # ever mixes file schemas.
            if "code" not in index.columns:
                index = index.withColumn("code", F.lit(None).cast("binary"))
            # crash-window duplicates are identical rows; a replayed
            # batch re-assigns identically (frozen centroids), so the
            # min_by keeps the FIRST batch's row and replay is a no-op
            merged = (
                index.unionByName(assigned)
                .groupBy("nid")
                .agg(
                    F.min_by(
                        F.struct(
                            "cluster", "cv", "code", "first_seen_batch",
                            BUCKET_COL,
                        ),
                        "first_seen_batch",
                    ).alias("m")
                )
                .select(
                    "nid",
                    F.col("m.cluster").alias("cluster"),
                    F.col("m.cv").alias("cv"),
                    F.col("m.code").alias("code"),
                    F.col("m.first_seen_batch").alias("first_seen_batch"),
                    F.col(f"m.{BUCKET_COL}").alias(BUCKET_COL),
                )
            )
            staged_swap_buckets(merged, index_dir, touched, batch_id)
        finally:
            assigned.unpersist()

    return write


def rebuild_ivf_index(
    vectors: DataFrame,
    quantizer_dir: str,
    index_dir: str,
    codebooks_dir: str | None = None,
    n_clusters: int = 16,
    n_buckets: int = 8,
    pq_m: int = 16,
    pq_k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The RARE batch-side counterpart of the streaming append path —
    the refit this module's header defers to ("refit, write to a new
    path, restart the stream"): fit a FRESH coarse quantizer (and PQ
    codebooks when ``codebooks_dir`` is given) on the CURRENT corpus,
    freeze them, and bulk-write the re-assigned (and re-encoded)
    index in the same cluster-bucketed layout the streaming sink
    appends into. Production cadence: append per batch (O(batch)),
    rebuild when quantizer drift accumulates (O(corpus), scheduled).

    Contract: write to FRESH ``quantizer_dir``/``index_dir`` paths
    and restart the stream against them — assignments are only
    meaningful under the centroids that produced them, so an
    in-place rebuild under a live appender would interleave rows
    from two quantizers (the single-writer discipline of every sink
    in this package). ``first_seen_batch`` restarts at -1 so every
    first post-rebuild streaming batch (batch_id ≥ 0) loses min_by
    ties to rebuilt rows, keeping replay idempotent across the swap.

    Both fits are driver-side Lloyd's over the same driver-sized
    learning sample (_ivf_fit_assign, pq_fit_sample), then one
    assignment pass (the streaming appender's ivf_append argmin) and
    one bucketed write. Everything reuses the batch operators, so
    rebuild ≡ _ivf_fit_assign by construction (pinned in tests)."""
    from flink_realtime_edu_spark.operators.quantization import (
        pq_encode_index,
        pq_fit_sample,
    )
    from flink_realtime_edu_spark.operators.similarity import _ivf_fit_assign

    spark = vectors.sparkSession
    assigned, centers = _ivf_fit_assign(vectors, id_col, vec_col, n_clusters)
    write_ivf_quantizer(spark, centers, quantizer_dir)
    if codebooks_dir is not None:
        codebooks = pq_fit_sample(
            vectors, m=pq_m, k=pq_k, id_col=id_col, vec_col=vec_col
        )
        write_pq_codebooks(spark, codebooks, codebooks_dir)
        assigned = pq_encode_index(assigned, codebooks)
    else:
        assigned = assigned.withColumn("code", F.lit(None).cast("binary"))
    (
        assigned.select(
            "nid",
            "cluster",
            F.col("cv").cast("array<float>").alias("cv"),
            "code",
            F.lit(-1).cast("long").alias("first_seen_batch"),
        )
        .withColumn(BUCKET_COL, key_bucket_col(["cluster"], n_buckets))
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(index_dir)
    )
    # stamp the layout marker AFTER the data lands so the streaming
    # appender's check_bucket_layout accepts (and pins) this count
    check_bucket_layout(index_dir, n_buckets)


def read_ivf_index(
    spark, index_dir: str, clusters: "list[int] | None" = None
) -> DataFrame:
    """The searchable (nid, cluster, cv, code) layout — feed it to
    ``operators.similarity._ivf_probe_search`` or
    ``operators.quantization.ivfpq_topk``. The search path scores
    stored codes directly only when every probed code is non-null
    (the sink was built with ``codebooks_dir``); NULL or mixed codes
    — including a pre-r13 index read back here, whose missing column
    null-fills via mergeSchema — fall back to encode-in-scan
    automatically (ivfpq_topk's dispatch probe).

    ``clusters`` (e.g. operators.quantization.probed_clusters' union
    for a known query set) prunes the read to the bucket dirs those
    clusters hash into BEFORE the file index is even built — the
    'prunes files, not merely rows' posture the partitioned layout
    exists for: at 100 TB an n_probe/n_clusters probe set touches
    that fraction of bucket dirs and the rest are never listed. Rows
    from co-bucketed OTHER clusters still load (hash granularity);
    the search's own cluster filter removes them. The cluster→bucket
    mapping runs through the one shared key_bucket_col definition
    (a collect over a clusters-sized local frame, never guessed
    driver-side)."""
    dirs = sorted(
        str(p) for p in Path(index_dir).glob(f"{BUCKET_COL}=*") if p.is_dir()
    )
    if not dirs:
        raise FileNotFoundError(f"no index buckets under {index_dir}")
    if clusters is not None:
        from flink_realtime_edu_spark.streaming.sinks import (
            N_BUCKETS_META,
            key_bucket_col,
        )

        n_buckets = int((Path(index_dir) / N_BUCKETS_META).read_text().strip())
        cdf = spark.createDataFrame(
            [(int(c),) for c in clusters], "cluster int"
        )
        wanted = {
            r[0]
            for r in cdf.select(
                key_bucket_col(["cluster"], n_buckets)
            ).collect()
        }
        dirs = [
            d for d in dirs if int(Path(d).name.split("=", 1)[1]) in wanted
        ]
        if not dirs:
            raise FileNotFoundError(
                f"no index buckets under {index_dir} for clusters {clusters}"
            )
    df = (
        spark.read.option("basePath", index_dir)
        .option("mergeSchema", "true")
        .parquet(*dirs)
    )
    if "code" not in df.columns:  # wholly pre-r13 index: no file has it
        df = df.withColumn("code", F.lit(None).cast("binary"))
    return df.dropDuplicates(["nid"]).select("nid", "cluster", "cv", "code")


# ---------------------------------------------------------------------------
# Generationed store lifecycle (VERDICT r12 item 6)
#
# rebuild_ivf_index's contract is "write to FRESH paths and restart the
# stream against them" — correct for atomicity, but each refit strands
# the previous quantizer/index/codebooks trio on disk. The helpers
# below make the generations explicit and reclaimable under the
# txn_vacuum discipline (sources/sinks.py): a store root holds
# gen-NNNNNN dirs plus a _CURRENT pointer file; rebuilds create a new
# generation and atomically repoint; vacuum is TWO-PHASE so an
# in-flight reader of a superseded generation survives one full
# maintenance cycle. Maintenance (rebuild/vacuum) is SINGLE-MAINTAINER,
# exactly like txn_compact/txn_vacuum; reads stay fully concurrent.
# ---------------------------------------------------------------------------

_GEN_PREFIX = "gen-"
_CURRENT = "_CURRENT"
_GEN_COMPLETE = "_COMPLETE"


def _gen_dirs(root: "Path") -> "list[Path]":
    return sorted(
        p
        for p in root.iterdir()
        if p.is_dir() and p.name.startswith(_GEN_PREFIX) and "." not in p.name
    )


def ivf_store_current(store_root: str) -> tuple[str, str, str]:
    """Resolve the live generation → (quantizer_dir, index_dir,
    codebooks_dir). Raises loudly if the pointer or its target is
    gone (a vacuumed generation must fail a NEW resolution at once —
    the txn_read contract — never serve a half-deleted index)."""
    root = Path(store_root)
    ptr = root / _CURRENT
    if not ptr.exists():
        raise FileNotFoundError(f"no live generation under {store_root}")
    gen = root / ptr.read_text().strip()
    if not (gen / _GEN_COMPLETE).exists():
        raise FileNotFoundError(
            f"current generation {gen.name} is vacuumed or incomplete "
            f"under {store_root}"
        )
    return (
        str(gen / "quantizer"),
        str(gen / "index"),
        str(gen / "codebooks"),
    )


def ivf_store_rebuild(vectors: DataFrame, store_root: str, **kwargs) -> str:
    """Refit into a NEW generation of the store and atomically
    repoint _CURRENT at it (write-tmp + os.replace — readers resolve
    either the old or the new generation, never a torn pointer).
    The build lands under gen-N.build first and renames into place
    with its _COMPLETE marker already inside, so a visible gen dir is
    always whole (the _ivfpq_store_dirs discipline). Superseded
    generations stay on disk for in-flight readers until
    :func:`ivf_store_vacuum` reclaims them. kwargs pass through to
    rebuild_ivf_index (n_clusters, pq_m, ...); codebooks are always
    built (the codes-at-rest posture). Returns the generation name."""
    import os
    import shutil

    root = Path(store_root)
    root.mkdir(parents=True, exist_ok=True)
    gens = _gen_dirs(root)
    nxt = (
        int(gens[-1].name[len(_GEN_PREFIX):]) + 1 if gens else 1
    )
    gen = root / f"{_GEN_PREFIX}{nxt:06d}"
    build = root / f"{gen.name}.build"
    shutil.rmtree(build, ignore_errors=True)
    rebuild_ivf_index(
        vectors,
        str(build / "quantizer"),
        str(build / "index"),
        codebooks_dir=str(build / "codebooks"),
        **kwargs,
    )
    (build / _GEN_COMPLETE).touch()
    build.rename(gen)
    tmp = root / (_CURRENT + ".tmp")
    tmp.write_text(gen.name)
    os.replace(tmp, root / _CURRENT)
    return gen.name


def ivf_store_vacuum(store_root: str, keep_generations: int = 1) -> int:
    """Reclaim superseded generations, TWO-PHASE (the txn_vacuum
    shape): this call DEMOTES doomed generations (deletes their
    _COMPLETE marker — any NEW resolution fails loudly at once) and
    DELETES only generations a PRIOR call already demoted, so an
    in-flight reader that resolved its dirs just before this vacuum
    keeps scanning intact files and only breaks if a further full
    maintenance cycle completes first. Also sweeps crashed-rebuild
    staging dirs (*.build — single-maintainer, so any visible one is
    dead). ``keep_generations`` counts INTACT generations retained
    below the current one (0 = reclaim everything but current).
    Returns the number of generation dirs deleted this call."""
    import shutil

    root = Path(store_root)
    ptr = root / _CURRENT
    current = ptr.read_text().strip() if ptr.exists() else None
    deleted = 0
    for b in root.glob(f"{_GEN_PREFIX}*.build"):
        shutil.rmtree(b)
    gens = [g for g in _gen_dirs(root) if g.name != current]
    # phase 2 first: anything a prior call demoted is now unreferenced
    # by every reader that could still be in flight across ONE cycle
    for g in list(gens):
        if not (g / _GEN_COMPLETE).exists():
            shutil.rmtree(g)
            gens.remove(g)
            deleted += 1
    # phase 1: demote everything older than the retention window
    doomed = gens[: max(0, len(gens) - keep_generations)]
    for g in doomed:
        (g / _GEN_COMPLETE).unlink(missing_ok=True)
    return deleted
