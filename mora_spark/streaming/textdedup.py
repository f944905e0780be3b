"""The per-micro-batch MinHash dedup step shared by the text sinks.

``stream_curate_jsonl`` (``streaming/pipeline.py``) and
``stream_dedup_increment`` (``streaming/increment.py``) run the same
transactional step per micro-batch against a sink-owned LSH index at
``work_dir/lsh_index``; they differ only in the outputs they keep
(curated + quarantine tables, or the dup-pair table). One
implementation keeps their replay semantics from drifting, as
``streaming/pairdedup.py`` does for the media and semantic sinks.

Per micro-batch, :func:`dedup_text_batch`:

1. builds the batch's unique-token-set table, with each set's band-key
   array ``bks``, in ONE eager ``localCheckpoint``; the group table
   ``(gid, members, ti, n)`` and the band rows ``posexplode(bks)`` are
   both read from it, so the tokenization, grouping and 16-hash
   MinHash/md5 banding run once per batch instead of once per consumer;
2. dedups the batch against the seed index (if any) and against the
   sink-owned index AS OF the earlier batches (``batch_id < current``
   snapshot filter), plus the pairs within the batch (the later id is
   the dup);
3. materializes that pair set (eager ``localCheckpoint``) against the
   index as it stood BEFORE this batch's append;
4. runs the sink's own writes and the kept ``bands``/``groups`` index
   writes concurrently (``parallel.run_concurrent``). The kept tables
   derive from the checkpointed batch table: exactly the rows
   ``build_minhash_index(kept docs)`` would produce, since gids and
   token sets depend only on a doc's text.

Drop rule: a doc is a duplicate iff it near-dups a doc of the seed, a
kept doc of an earlier batch (``src='corpus'``) or an EARLIER doc of
its own batch (``src='batch'``, whether or not that doc survived). The
kept set is order-dependent by construction: it is what sequential
ingestion keeps.

Replay: ``foreachBatch`` is at-least-once, so every write targets a
deterministic ``batch_id=<n>`` directory with mode=overwrite, and the
index is read through the snapshot filter. A batch replayed after a
crash anywhere in steps 1-4 recomputes the same pairs and overwrites,
never duplicates: the streaming analogue of the store's
WAL-before-apply + committed-only replay.

The banding family follows the seed index when there is one, else
whatever the sink-owned index already carries (the fixed defaults on
a fresh dir), and is stamped onto the sink-owned index so later
epochs (compaction, reseeding) recover it. :func:`open_text_index`
refuses, before the stream starts, a seed whose family conflicts with
an existing sink-owned index, and a ``work_dir/lsh_index`` that holds
anything but this sink's ``batch_id=`` layout: read with the sink's
fixed schema, a foreign (e.g. ``shard=``) layout's rows have a null
``batch_id`` and the snapshot filter would drop every one of them.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TextIndex(NamedTuple):
    """A text sink's dedup state: its own index root, the banding
    family, and the seed index's ``(bands, groups)`` or None."""

    path: str
    family: tuple[int, int]
    seed: tuple[DataFrame, DataFrame] | None


def batch_write(
    df: DataFrame, root: str, batch_id: int, n_files: int = 1
) -> Callable[[], None]:
    """A thunk overwriting ``root/batch_id=<n>`` with ``df`` as
    ``n_files`` parquet files: a narrow ``coalesce`` for 1, else a
    ``repartition`` (AQE may have merged the upstream shuffle into
    fewer partitions than requested, and ``coalesce`` only reduces)."""
    out = os.path.join(root, f"batch_id={batch_id}")
    df = df.coalesce(1) if n_files == 1 else df.repartition(n_files)
    return lambda: df.write.mode("overwrite").parquet(out)


def open_text_index(
    spark: SparkSession,
    work_dir: str,
    seed_index_path: str | None,
    caller: str,
) -> TextIndex:
    """Resolve and stamp the banding family of ``work_dir``'s sink-owned
    index, load the seed, and refuse a foreign layout or a family
    conflict (see the module docstring)."""
    from mora_spark.llm.dedup import (
        load_minhash_family,
        load_minhash_index,
        write_minhash_family,
    )

    path = os.path.join(work_dir, "lsh_index")
    for table in ("bands", "groups"):
        d = os.path.join(path, table)
        foreign = sorted(
            n
            for n in (os.listdir(d) if os.path.isdir(d) else ())
            if not n.startswith(("batch_id=", "_", "."))
        )
        if foreign:
            raise ValueError(
                f"{caller}: {d} holds {foreign[:3]}, not this sink's "
                "batch_id= layout; the sink would dedup against none "
                "of it. Pass a prebuilt save_minhash_index corpus as "
                "seed_index_path instead of placing it under work_dir"
            )
    own_family = load_minhash_family(path)
    if seed_index_path is None:
        family = own_family
    else:
        family = load_minhash_family(seed_index_path)
        if os.path.isdir(os.path.join(path, "groups")) and own_family != family:
            raise ValueError(
                f"{caller}: seed index family {family} conflicts with "
                f"the existing sink-owned index's family {own_family} "
                f"at {path}; start a fresh work_dir (or compact the old "
                "epoch with its own family) instead of mixing banding "
                "families in one index"
            )
    write_minhash_family(path, *family)
    seed = (
        load_minhash_index(spark, seed_index_path)
        if seed_index_path is not None
        else None
    )
    return TextIndex(path, family, seed)


def batch_table(docs: DataFrame, family: tuple[int, int]) -> DataFrame:
    """``(gid, members, ti, n, bks)`` of ``docs`` (doc_id, text),
    materialized by one eager ``localCheckpoint``."""
    from mora_spark.llm.dedup import _group_table, _with_band_keys

    return _with_band_keys(
        _group_table(docs, "text", "doc_id"), *family
    ).localCheckpoint(eager=True)


def batch_index_tables(
    table: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """``(bands, groups)`` read from a :func:`batch_table`: the rows
    of ``build_minhash_index`` over the same docs and family."""
    from mora_spark.llm.dedup import _explode_bands

    return _explode_bands(table), table.drop("bks")


def dedup_text_batch(
    spark: SparkSession,
    docs: DataFrame,
    batch_id: int,
    index: TextIndex,
    threshold: float,
    sink_writes: Callable[
        [DataFrame, DataFrame], Iterable[Callable[[], None]]
    ],
    n_files: int = 1,
) -> None:
    """One micro-batch of the text-dedup step (see the module
    docstring) over ``docs`` (doc_id, text). ``sink_writes`` receives
    the checkpointed pair set ``(doc_id, dup_id, jaccard, src)``, the
    dropped doc first, and the dropped ids ``(doc_id)`` ready for an
    anti-join; it returns the sink's own write thunks, which
    run concurrently with the two index writes of ``n_files`` files
    each."""
    from mora_spark import parallel
    from mora_spark.llm.dedup import (
        STREAM_BANDS_SCHEMA,
        STREAM_GROUPS_SCHEMA,
        dedup_increment,
        load_minhash_index,
        minhash_lsh_pairs,
    )

    table = batch_table(docs, index.family)
    bands_b, groups_b = batch_index_tables(table)
    prebuilt = (groups_b, bands_b)
    pairs = minhash_lsh_pairs(
        docs, threshold=threshold, prebuilt=prebuilt
    ).select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("dup_id"),
        "jaccard",
        F.lit("batch").alias("src"),
    )
    indexes = [index.seed] if index.seed is not None else []
    own = [os.path.join(index.path, t) for t in ("bands", "groups")]
    if all(map(os.path.isdir, own)):
        # The fixed schema skips a per-batch schema-inference job.
        bands, groups = load_minhash_index(
            spark,
            index.path,
            bands_schema=STREAM_BANDS_SCHEMA,
            groups_schema=STREAM_GROUPS_SCHEMA,
        )
        snapshot = F.col("batch_id") < batch_id
        indexes.append((bands.where(snapshot), groups.where(snapshot)))
    for bands, groups in indexes:
        pairs = pairs.unionByName(
            dedup_increment(
                docs, bands, groups, threshold=threshold,
                prebuilt=prebuilt, include_intra=False,
                index_family=index.family,
            )
        )
    # The unnumbered repartition lets AQE size the checkpoint to the
    # pair count (one partition at small batches) instead of keeping
    # the verification join's fixed fan-out for every reader.
    pairs = pairs.repartition("doc_id").localCheckpoint(eager=True)
    # Batch-bounded (this batch's pairs): broadcast it rather than
    # shuffle the batch tables against it.
    dropped = F.broadcast(pairs.select("doc_id"))
    kept_members = (
        groups_b.select("gid", F.explode("members").alias("doc_id"))
        .join(dropped, "doc_id", "left_anti")
        .groupBy("gid")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
    )
    kept_bands, kept_groups = batch_index_tables(
        table.drop("members").join(kept_members, "gid")
    )

    parallel.run_concurrent(
        *sink_writes(pairs, dropped),
        batch_write(
            kept_bands, os.path.join(index.path, "bands"), batch_id, n_files
        ),
        batch_write(
            kept_groups.select("gid", "members", "ti", "n"),
            os.path.join(index.path, "groups"),
            batch_id,
            n_files,
        ),
        max_workers=4,
    )
