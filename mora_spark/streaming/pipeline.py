"""The crawl-shaped corpus pipeline as ONE streaming job.

JSONL shards in → curated corpus out, per micro-batch:

1. **Quarantine**: malformed lines land in ``_corrupt_record``
   (PERMISSIVE JSONL contract, ``sources/jsonl.py``) and are diverted
   to a quarantine table instead of killing the stream mid-crawl.
2. **Gates**: caller-supplied row-local filters (language ID, quality
   score, token floor — all scan-stage JVM HOFs).
3. **Incremental LSH dedup**: the shared text-dedup step
   (:mod:`mora_spark.streaming.textdedup`) against the seed, the
   sink-owned index of earlier KEPT docs and the batch itself.
4. **Curated append**: survivors land batch-atomically in a
   ``batch_id=``-partitioned curated table; downstream packing/
   sharding runs over it (the query composes
   :func:`mora_spark.llm.curation.pack_sequences`).

Quarantine and curated writes ride the dedup step's concurrent
``batch_id=<n>`` overwrites, so a replayed batch overwrites, never
duplicates. Each stage is batch-sized, not corpus-sized: per-batch
cost tracks batch size as the curated set grows.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_curate_jsonl(
    spark: SparkSession,
    src: str,
    work_dir: str,
    template: DataFrame,
    threshold: float = 0.8,
    gate: Callable[[DataFrame], DataFrame] | None = None,
    n_files: int = 1,
    seed_index_path: str | None = None,
) -> tuple[DataFrame, int]:
    """Run the JSONL curation pipeline over ``src`` shards; returns
    ``(curated_docs, n_quarantined)`` — the kept (doc_id, text) corpus
    and the count of malformed lines diverted mid-stream.

    ``n_files``: parquet parts per per-batch table write (quarantine,
    curated, index bands/groups; see ``textdedup.batch_write``). One
    file serializes a write into one task, so at production batch
    sizes set it to batch_rows / target_rows_per_file. Layout only:
    the unit of overwrite stays the ``batch_id=`` directory.

    Per-batch rows and sink wall are in the stream's progress events
    (``numInputRows``, ``durationMs["addBatch"]``).

    ``seed_index_path`` (optional): a prebuilt ``save_minhash_index``
    corpus the stream additionally dedups against; the banding family
    follows it (see :mod:`mora_spark.streaming.textdedup`)."""
    from mora_spark.sources.jsonl import CORRUPT_COL, read_jsonl_stream
    from mora_spark.streaming.ingest import _state_partitions
    from mora_spark.streaming.textdedup import (
        batch_write,
        dedup_text_batch,
        open_text_index,
    )

    curated_dir = os.path.join(work_dir, "curated")
    quar_dir = os.path.join(work_dir, "quarantine")
    ckpt = os.path.join(work_dir, "ckpt_pipeline")
    index = open_text_index(
        spark, work_dir, seed_index_path, "stream_curate_jsonl"
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        good = batch.where(F.col(CORRUPT_COL).isNull())
        if gate is not None:
            good = gate(good)
        good = good.select("doc_id", "text")

        dedup_text_batch(
            spark, good, batch_id, index, threshold,
            lambda pairs, dropped: (
                batch_write(
                    batch.where(F.col(CORRUPT_COL).isNotNull()).select(
                        CORRUPT_COL
                    ),
                    quar_dir, batch_id, n_files,
                ),
                batch_write(
                    good.join(dropped, "doc_id", "left_anti"),
                    curated_dir, batch_id, n_files,
                ),
            ),
            n_files=n_files,
        )

    stream = read_jsonl_stream(spark, src, template, max_files_per_trigger=1)
    with _state_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    curated = spark.read.parquet(curated_dir).select("doc_id", "text")
    n_quarantined = spark.read.parquet(quar_dir).count()
    return curated, n_quarantined
