"""Streaming incremental dedup — continuous corpus curation.

The production loop a training-data pipeline runs forever: documents
arrive in micro-batches; each batch is deduped against the persisted
LSH index of every EARLIER KEPT document and within itself, and its
survivors are appended to the index so later batches dedup against
them — the shared text-dedup step of
:mod:`mora_spark.streaming.textdedup`, which also states the drop rule
and the replay contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mora_spark.datasets import load_table

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def docs_chunked_source(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 4,
    filter_expr: str | None = None,
    chunk_expr: str = "doc_id",
) -> str:
    """Materialize documents as ``n_chunks`` parquet files (chunk k =
    rows with ``chunk_expr % n_chunks == k``, optionally restricted to
    ``filter_expr``) with increasing mtimes, so a
    ``maxFilesPerTrigger=1`` file stream replays them as deterministic
    micro-batches. Both expressions are plain SQL over ``doc_id`` so
    the chunking (unlike range chunking) is exactly reproducible in
    the DuckDB oracle. Delegates to
    :func:`mora_spark.streaming.chunked.chunked_replay_source` (the
    shared hardened machinery: coverage assert, corpus-keyed cache,
    atomic publish); the cache token names the corpus — sf_dir plus
    the corpus-defining filter."""
    from mora_spark.streaming.chunked import chunked_replay_source

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if filter_expr is not None:
        docs = docs.where(F.expr(filter_expr))
    return chunked_replay_source(
        spark,
        docs,
        os.path.join(out_dir, "docs_source"),
        n_chunks,
        f"({chunk_expr}) % {n_chunks}",
        cache_token=f"{sf_dir}|{filter_expr}",
    )


def stream_dedup_increment(
    spark: SparkSession,
    src: str,
    work_dir: str,
    threshold: float = 0.5,
    seed_index_path: str | None = None,
) -> DataFrame:
    """Run the continuous-curation loop over a document file stream;
    returns the accumulated dup-pair table (doc_id, dup_id, jaccard,
    src). The kept corpus is the index's group membership afterwards.

    Per micro-batch: the shared step
    :func:`mora_spark.streaming.textdedup.dedup_text_batch`, whose pair
    set lands in ``work_dir/dup_pairs/batch_id=<n>``.

    ``work_dir``'s index is SINK-OWNED: it must start empty (first run)
    or contain only this sink's own ``batch_id=`` layout (restart);
    anything else is refused. To dedup the stream against a PREBUILT
    ``save_minhash_index`` corpus, pass it as ``seed_index_path`` — the
    seed keeps its sharded layout (and its directory-pruned joins) and
    is treated as an always-in-snapshot batch "-1"; only streamed
    survivors are appended to the sink-owned index.
    """
    from mora_spark.streaming.ingest import _state_partitions
    from mora_spark.streaming.textdedup import dedup_text_batch, open_text_index

    pairs_dir = os.path.join(work_dir, "dup_pairs")
    ckpt = os.path.join(work_dir, "ckpt_dedup_incr")
    index = open_text_index(
        spark, work_dir, seed_index_path, "stream_dedup_increment"
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        out = os.path.join(pairs_dir, f"batch_id={batch_id}")
        dedup_text_batch(
            spark, batch.select("doc_id", "text"), batch_id, index,
            threshold,
            lambda pairs, dropped: [
                lambda: pairs.write.mode("overwrite").parquet(out)
            ],
        )

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # Micro-batches are corpus-increments, not the whole corpus: size
    # the shuffles to the batch, not the session default.
    with _state_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # batch_id is a layout detail (partition discovery surfaces it);
    # the result contract is the four pair columns.
    return spark.read.parquet(pairs_dir).select(
        "doc_id", "dup_id", "jaccard", "src"
    )


def compact_stream_index(
    spark: SparkSession,
    work_dir: str,
    dest: str,
    seed_index_path: str | None = None,
) -> None:
    """Close the curation loop: re-shard the sink-owned streaming index
    (one ``batch_id=`` subdir per micro-batch, accumulated forever by a
    long-running stream) into the ``save_minhash_index`` layout at
    ``dest`` — band-key-sharded bands, gid-sharded groups, one file per
    shard. The compacted index is the natural SEED for the next stream
    epoch (``seed_index_path=dest``), so the production cadence is
    stream → compact → seed, mirroring ``CandleStore.compact`` for the
    store.

    If the epoch itself ran seeded, pass the SAME ``seed_index_path``
    here: the sink only appends streamed survivors to its own index,
    so the seed corpus must be folded into the compaction or the next
    epoch would forget every document older than one epoch and
    re-admit their duplicates. Seed and stream groups are merged by
    gid (an identical token set in both can only be the degenerate
    empty-token case — any non-empty match would have been dropped as
    a duplicate — but the merge unions members regardless, so the
    result is a well-formed group table either way). Group membership
    is exactly seed ∪ kept streamed docs, so searches and increments
    against the compacted index return what the two-index composition
    returns, now with directory-pruned joins."""
    from mora_spark.llm.dedup import (
        _band_table,
        load_minhash_family,
        load_minhash_index,
        save_minhash_index,
    )

    index_path = os.path.join(work_dir, "lsh_index")
    # The sink stamped its family (seed-inherited or default) onto the
    # work index; the compacted index re-bands with, and re-persists,
    # that same family — so the next epoch's seed metadata survives
    # the compaction round-trip.
    family = load_minhash_family(index_path)
    _, groups = load_minhash_index(spark, index_path)
    groups = groups.select("gid", "members", "ti", "n")
    if seed_index_path is not None:
        _, seed_groups = load_minhash_index(spark, seed_index_path)
        groups = (
            groups.unionByName(
                seed_groups.select("gid", "members", "ti", "n")
            )
            .groupBy("gid")
            .agg(
                F.sort_array(
                    F.array_distinct(F.flatten(F.collect_list("members")))
                ).alias("members"),
                F.first("ti").alias("ti"),
                F.first("n").alias("n"),
            )
        )
    save_minhash_index(
        _band_table(groups, *family), groups, dest,
        band_size=family[0], n_bands=family[1],
    )
