"""Streaming semantic dedup — continuous embedding-space curation.

The embedding twin of the text (``streaming/increment.py``) and
perceptual (``streaming/media.py``) sinks, completing the dedup
matrix: token space, perceptual space, and embedding space each dedup
batch AND streaming-incrementally. Vectors arrive as a stream; each
micro-batch is deduped by exact cosine (candidates from the banded
SRP LSH of ``llm/simsearch.py::embedding_neardup_pairs`` — never
all-pairs) against the persisted index of earlier KEPT embeddings
plus itself, and only survivors' embeddings grow the index.

The per-item state is the embedding itself (the exact-cosine verify
needs it); SRP band ids are recomputed on read — deterministic
hyperplanes, a scan-stage projection. A deployment with billions of
kept vectors would persist the band ids as index columns and
band-partition the layout (the MinHash index's shape); same plan,
noted not needed at this scale.

Transactional/replay semantics are the shared pair-dedup core
(``streaming/pairdedup.py``): deterministic ``batch_id=`` epoch
overwrites read through a ``batch_id < current`` snapshot, so
crashed-and-replayed micro-batches converge; the intra-batch drop
rule is order-greedy (see the core's docstring). Unlike batch
``llm/semdedup.py`` — which keeps one canonical member per cosine
component — the streaming rule keeps the FIRST-ARRIVED member: a
stream cannot know a better-quality member arrives later. The two
agree exactly when quality order matches arrival order. A production
pipeline reconciles the two offline: periodically run batch
``semantic_dedup`` over the kept index (compacted first via
``pairdedup.compact_epoch_index`` — membership-preserving, so the
pair graph is unchanged), swap each first-arrived keeper for the
quality-canonical member of its cluster, and seed the next stream
epoch with the re-canonicalized index. Both pieces exist here; the
cadence (stream → compact → re-canonicalize → next epoch) is the
operator's maintenance loop, not part of the per-batch path.

The reference engine has no streaming or vector surface at all
(command enum INSERT/COMMIT, `database/command/types.go:11-14`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mora_spark.engine.storefs import store_fs
from mora_spark.llm.simsearch import embedding_neardup_pairs
from mora_spark.streaming.pairdedup import dedup_pairs_batch


def dedup_embed_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.95,
    n_bits: int | None = None,
    n_bands: int | None = None,
    kept_count: int | None = None,
) -> int | None:
    """One micro-batch step of :func:`stream_semantic_dedup` — exposed
    so the replay-idempotence contract is directly testable:
    re-invoking a batch (foreachBatch is at-least-once) recomputes the
    same answer against the same ``batch_id < current`` index snapshot
    and overwrites its own epoch directories, never duplicating.
    Emits pair rows (vec_id, dup_id, score, src) with the dropped
    vector first and returns the batch's survivor count when
    ``kept_count`` is supplied (the running-count path needs the
    increment; otherwise no count job is scheduled and None returns);
    the banded pass verifies candidates with exact rounded cosine, so
    emitted pairs are exactly the pair graph restricted to this
    batch's greedy step.

    ``n_bits=None`` (default) re-derives the band width (and, when
    ``n_bands`` is also None, the band count — the recall-envelope
    pair, ``simsearch.derive_srp_params``) per batch from the pair
    pass's actual input size — kept index ∪ batch — so the candidate
    stage stays linear as the kept corpus grows across a long-lived
    stream. The result is unchanged whenever the banded pass holds
    full recall on the batch's pair graph, which the derivation
    targets (>= 0.99 at the threshold boundary, better above it) but
    cannot guarantee per-pair; explicit ints override. ``kept_count``
    is the caller's running index size: when supplied, sizing costs
    zero extra jobs beyond one count of the (small) batch — without
    it, the derived path falls back to counting kept ∪ batch, a
    per-batch full scan of the ever-growing kept index
    (:func:`stream_semantic_dedup` threads the running count)."""
    hint = None
    if n_bits is None and kept_count is not None:
        hint = kept_count + batch.count()
    return dedup_pairs_batch(
        spark,
        batch.select("vec_id", "embedding"),
        batch_id,
        index_dir,
        pairs_dir,
        # broadcast_vectors=False: the kept index grows without bound
        # on a long-lived stream, so the verify rejoin must never be
        # FORCED onto the driver — AQE still broadcasts it while it's
        # small and shuffles once it isn't.
        pair_fn=lambda vecs: embedding_neardup_pairs(
            vecs,
            threshold=threshold,
            n_bits=n_bits,
            n_bands=n_bands,
            broadcast_vectors=False,
            n_hint=hint,
        ),
        id_col="vec_id",
        score_col="score",
        count_survivors=kept_count is not None,
    )


def stream_semantic_dedup(
    spark: SparkSession,
    src: str,
    work_dir: str,
    threshold: float = 0.95,
    n_bits: int | None = None,
    n_bands: int | None = None,
) -> DataFrame:
    """Run the continuous semantic-dedup loop over an embedding file
    stream; returns the accumulated dup-pair table
    (vec_id, dup_id, score, src). The kept corpus afterwards is the
    index's membership — first-arrived canonicals."""
    index_dir = os.path.join(work_dir, "embed_index")
    pairs_dir = os.path.join(work_dir, "dup_pairs")
    ckpt = os.path.join(work_dir, "ckpt_semdedup")

    # Running kept-index size for the derived-width path: initialized
    # ONCE per run from the first batch's snapshot (0 when the index
    # doesn't exist yet; a compacted batch_id=-1 seed is counted), then
    # advanced by each batch's survivor count — so a long-lived stream
    # never pays a per-batch full scan of the kept index just to size
    # the bands. A crash-restart re-initializes from the replayed
    # batch's own snapshot, which IS the pre-batch count — replay
    # converges to the same derivation.
    running = {"kept": None}
    fs = store_fs(index_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if n_bits is None and running["kept"] is None:
            if fs.exists(index_dir):
                running["kept"] = (
                    spark.read.parquet(index_dir)
                    .where(F.col("batch_id") < batch_id)
                    .count()
                )
            else:
                running["kept"] = 0
        surv = dedup_embed_batch(
            spark,
            batch,
            batch_id,
            index_dir,
            pairs_dir,
            threshold=threshold,
            n_bits=n_bits,
            n_bands=n_bands,
            kept_count=running["kept"],
        )
        if running["kept"] is not None:
            running["kept"] += surv

    schema = "vec_id long, embedding array<double>"
    from mora_spark.streaming.ingest import _state_partitions

    # Micro-batches are corpus-increments, not the whole corpus: size
    # the shuffles to the batch, not the session default.
    with _state_partitions(spark, 8):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # batch_id is a layout detail (partition discovery surfaces it);
    # the result contract is the four pair columns.
    return spark.read.parquet(pairs_dir).select(
        "vec_id", "dup_id", "score", "src"
    )
