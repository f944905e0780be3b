"""Generic per-micro-batch pair-dedup step against a persisted index.

The shared core of the streaming near-dup sinks: perceptual media
dedup (``streaming/media.py``, Hamming pairs over 8-byte dHash
signatures) and embedding-space semantic dedup
(``streaming/semdedup.py``, banded SRP cosine pairs) run the identical
transactional step per micro-batch — only the per-item state columns
and the pair function differ. One implementation keeps the two sinks'
replay/WAL semantics from drifting (the round-9 ``hamming.py``
extraction showed copies diverge).

Per batch: (1) read the kept-state index AS OF earlier batches
(``batch_id < current`` snapshot over the epoch layout); (2) one pair
pass over kept ∪ batch; (3) classify pairs — same-batch pairs emit as
``src='batch'`` (the later id is the dup), pairs against earlier kept
state as ``src='corpus'`` (the batch side is the dup, either id
orientation); (4) survivors (batch items appearing in no pair as the
dropped side) append their state to the index under the batch's own
epoch.

Replay-idempotence is the increment sink's WAL discipline: every
write (pairs AND index) targets its own deterministic
``batch_id=<n>`` directory with mode=overwrite, and the index is read
through the snapshot filter, so a crashed-and-replayed micro-batch
recomputes the same answer and overwrites, never duplicates.

The intra-batch drop rule is ORDER-GREEDY, not component-greedy: a
batch item pairing with an EARLIER batchmate is dropped even if that
batchmate was itself dropped against the corpus index — the kept set
is "items pairing with nothing earlier", NOT "survivors of a greedy
replay over kept items only". A consumer reconstructing the kept set
from the pairs table must apply the same rule.

The reference engine has no streaming surface at all (command enum
INSERT/COMMIT, `database/command/types.go:11-14`).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mora_spark.engine.storefs import store_fs


def dedup_pairs_batch(
    spark: SparkSession,
    state_b: DataFrame,
    batch_id: int,
    index_dir: str,
    pairs_dir: str,
    pair_fn: Callable[[DataFrame], DataFrame],
    id_col: str,
    score_col: str,
    count_survivors: bool = False,
) -> int | None:
    """One micro-batch pair-dedup step (see module docstring);
    returns the number of batch survivors appended to the index when
    ``count_survivors=True``, else None (no count job is scheduled).

    ``state_b`` carries the batch's per-item dedup state —
    ``(id_col, *state columns)``; the index persists exactly these
    columns per kept item. ``pair_fn`` maps a state frame to its
    near-dup pairs ``(id_a, id_b, score_col)`` with ``id_a < id_b``.
    Batch ids and index ids must be disjoint (each item arrives once),
    so pair classification is pure membership arithmetic. Emitted pair
    rows are ``(id_col, dup_id, score_col, src)`` with the dropped
    item first. The survivor count lets a sink maintain a RUNNING
    kept count — the derived-band-width corpus size the semantic sink
    threads (``streaming/semdedup.py``); it is recomputed from the
    persisted batch + checkpointed pairs (both already materialized —
    one cheap job, no index scan, and NEVER a read-back of the
    just-written epoch dir: a zero-survivor batch writes zero
    partitions, which parquet schema inference cannot read — the
    localCheckpoint comment above)."""
    state_b = state_b.persist()
    try:
        if store_fs(index_dir).exists(index_dir):
            kept = (
                spark.read.parquet(index_dir)
                .where(F.col("batch_id") < batch_id)
                .select(state_b.columns)
            )
        else:
            kept = state_b.where(F.lit(False))
        b_ids = state_b.select(F.col(id_col).alias("bid"))
        all_pairs = pair_fn(kept.unionByName(state_b))
        a_in = F.col("a_in_batch")
        b_in = F.col("b_in_batch")
        classified = (
            all_pairs.join(
                b_ids.withColumnRenamed("bid", "id_a").withColumn(
                    "a_in_batch", F.lit(True)
                ),
                "id_a",
                "left",
            )
            .join(
                b_ids.withColumnRenamed("bid", "id_b").withColumn(
                    "b_in_batch", F.lit(True)
                ),
                "id_b",
                "left",
            )
            .select(
                "id_a",
                "id_b",
                score_col,
                F.coalesce(a_in, F.lit(False)).alias("a_in_batch"),
                F.coalesce(b_in, F.lit(False)).alias("b_in_batch"),
            )
        )
        intra = classified.where(a_in & b_in).select(
            F.col("id_b").alias(id_col),
            F.col("id_a").alias("dup_id"),
            score_col,
            F.lit("batch").alias("src"),
        )
        cross = classified.where(a_in != b_in).select(
            F.when(a_in, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias(id_col),
            F.when(a_in, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("dup_id"),
            score_col,
            F.lit("corpus").alias("src"),
        )
        # Eager checkpoint: the pair set is fully materialized once,
        # then feeds both the pairs sink and the survivor anti-join
        # from the SAME evaluated lineage — a read-back of the
        # just-written directory would cost an extra job and fail
        # schema inference on a zero-pair batch written with zero
        # partitions.
        pairs = intra.unionByName(cross).localCheckpoint(eager=True)
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch_id={batch_id}")
        )
        dropped = pairs.select(id_col).distinct()
        epoch = os.path.join(index_dir, f"batch_id={batch_id}")
        survivors = state_b.join(dropped, id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(epoch)
        if count_survivors:
            # Recompute the (persisted ⋈ checkpointed) anti-join —
            # cheap, batch-sized, and safe on a zero-survivor batch,
            # unlike reading back an epoch dir written with zero
            # partitions.
            return survivors.count()
        return None
    finally:
        state_b.unpersist()


def compact_epoch_index(
    spark: SparkSession,
    index_dir: str,
    dest: str,
    n_files: int = 1,
) -> int:
    """Fold a ``batch_id=``-epoch state index (grown one directory per
    micro-batch by :func:`dedup_pairs_batch`, forever, on a long-lived
    stream) into ``n_files`` files at ``dest`` — the epoch-layout
    analogue of ``compact_stream_index`` for the LSH index and
    ``CandleStore.compact`` for the store.

    The compacted state lands under ``batch_id=-1``, so the SAME sink
    reads it: a fresh stream epoch's batches start at 0 and the
    snapshot filter ``batch_id < current`` always admits the seed.
    Membership is exactly the input's (one projection, no dedup logic
    re-run); writing to ``dest`` — never in place, ENFORCED below —
    keeps readers of ``index_dir`` consistent mid-compaction. Returns
    the number of kept items folded in. The production cadence is
    stream → compact → next epoch reads the compacted dir."""
    src_abs = os.path.abspath(index_dir)
    dest_abs = os.path.abspath(dest)
    if dest_abs == src_abs or dest_abs.startswith(src_abs + os.sep):
        # A dest inside the live index would add a batch_id=-1 dir the
        # snapshot filter always admits ON TOP of the epochs it folds,
        # duplicating every kept id — silently breaking the sinks'
        # id-disjointness precondition.
        raise ValueError(
            f"dest {dest!r} must lie outside index_dir {index_dir!r} "
            "(in-place compaction would double every kept item)"
        )
    state = spark.read.parquet(index_dir).drop("batch_id")
    out = os.path.join(dest, "batch_id=-1")
    state.coalesce(n_files).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()
