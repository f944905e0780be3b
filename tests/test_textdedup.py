"""The per-batch text-dedup step shared by the two text sinks
(streaming/textdedup.py): its checkpointed batch tables equal a
rebuild, the index rows a batch appends equal a rebuild over the kept
docs, a foreign index under work_dir is refused, and a crash after the
overlapped writes replays to the uninterrupted answer."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mora_spark import parallel
from mora_spark.datasets import load_table
from mora_spark.llm.dedup import (
    BAND_SIZE,
    N_HASHES,
    build_minhash_index,
    derive_minhash_params,
    save_minhash_index,
)
from mora_spark.streaming.increment import (
    docs_chunked_source,
    stream_dedup_increment,
)
from mora_spark.streaming.pipeline import stream_curate_jsonl
from mora_spark.streaming.textdedup import batch_index_tables, batch_table

THRESHOLD = 0.8


def _rows(df):
    """Order-insensitive rows, arrays as tuples."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def _docs(spark, sf_dir, n=120):
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < n)
        .select("doc_id", "text")
    )


def _jsonl_shards(docs, src, n=3):
    """``n`` JSONL shards (doc_id % n == k) with increasing mtimes,
    replayed one per micro-batch."""
    os.makedirs(src)
    rows = docs.collect()
    for k in range(n):
        path = os.path.join(src, f"shard-{k}.json")
        with open(path, "w") as f:
            for r in rows:
                if r["doc_id"] % n == k:
                    f.write(json.dumps(r.asDict()) + "\n")
        os.utime(path, (1_600_000_000 + k,) * 2)


def _index_rows(spark, work):
    ix = os.path.join(work, "lsh_index")
    return (
        _rows(spark.read.parquet(os.path.join(ix, "bands"))),
        _rows(spark.read.parquet(os.path.join(ix, "groups"))),
    )


@pytest.mark.parametrize(
    "family",
    [(BAND_SIZE, N_HASHES // BAND_SIZE), derive_minhash_params(THRESHOLD)],
    ids=["fixed", "derived"],
)
def test_batch_tables_equal_rebuild(spark, sf_dir, family):
    """The one-checkpoint (bands, groups) pair holds exactly the rows
    build_minhash_index computes, for the fixed and a derived family."""
    docs = _docs(spark, sf_dir, n=200)
    got = batch_index_tables(batch_table(docs, family))
    want = build_minhash_index(docs, band_size=family[0], n_bands=family[1])
    assert _rows(got[0]) == _rows(want[0])
    assert _rows(got[1]) == _rows(want[1])


@pytest.fixture(scope="module")
def curated_run(spark, sf_dir, tmp_path_factory):
    """One uninterrupted 3-batch pipeline run: (docs, src, work)."""
    tmp = tmp_path_factory.mktemp("curate")
    docs = _docs(spark, sf_dir)
    src = str(tmp / "src")
    _jsonl_shards(docs, src)
    work = str(tmp / "work")
    stream_curate_jsonl(spark, src, work, docs, threshold=THRESHOLD)
    return docs, src, work


def test_sink_index_rows_equal_rebuild_of_kept(spark, curated_run):
    """Each batch's appended index rows, derived from the checkpointed
    batch table, equal build_minhash_index over that batch's kept docs."""
    _, _, work = curated_run
    curated = spark.read.parquet(os.path.join(work, "curated"))
    bands = spark.read.parquet(os.path.join(work, "lsh_index", "bands"))
    groups = spark.read.parquet(os.path.join(work, "lsh_index", "groups"))
    for b in range(3):
        kept = curated.where(F.col("batch_id") == b).select("doc_id", "text")
        assert kept.count() > 0
        want_bands, want_groups = build_minhash_index(kept)
        at = F.col("batch_id") == b
        assert _rows(bands.where(at).drop("batch_id")) == _rows(want_bands)
        assert _rows(groups.where(at).drop("batch_id")) == _rows(want_groups)


def _crash_after_writes_of_batch_1(monkeypatch):
    """Make ``run_concurrent`` run its thunks, then raise once on its
    second call: the overlapped writes of micro-batch 1 have landed,
    but the batch never commits."""
    calls = []

    def crashing(*thunks, **_):
        for t in thunks:
            t()
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("killed after the writes of batch 1")

    monkeypatch.setattr(parallel, "run_concurrent", crashing)


def test_pipeline_crash_replay_equals_uninterrupted(
    spark, curated_run, tmp_path, monkeypatch
):
    docs, src, ref = curated_run
    work = str(tmp_path / "work")
    _crash_after_writes_of_batch_1(monkeypatch)
    with pytest.raises(Exception, match="killed after the writes"):
        stream_curate_jsonl(spark, src, work, docs, threshold=THRESHOLD)
    monkeypatch.undo()
    assert os.path.isdir(
        os.path.join(work, "lsh_index", "groups", "batch_id=1")
    )
    curated, _ = stream_curate_jsonl(
        spark, src, work, docs, threshold=THRESHOLD
    )
    got = [r["doc_id"] for r in curated.collect()]
    want = [
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(ref, "curated")).collect()
    ]
    assert len(got) == len(set(got))
    assert sorted(got) == sorted(want)
    got_ix, want_ix = _index_rows(spark, work), _index_rows(spark, ref)
    assert got_ix == want_ix
    for rows in got_ix:
        assert len(rows) == len(set(rows))


def test_increment_crash_replay_equals_uninterrupted(
    spark, sf_dir, tmp_path, monkeypatch
):
    src = docs_chunked_source(
        spark, sf_dir, str(tmp_path / "cache"), n_chunks=3
    )
    ref = str(tmp_path / "ref")
    want = _rows(stream_dedup_increment(spark, src, ref))
    work = str(tmp_path / "work")
    _crash_after_writes_of_batch_1(monkeypatch)
    with pytest.raises(Exception, match="killed after the writes"):
        stream_dedup_increment(spark, src, work)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(work, "dup_pairs", "batch_id=1"))
    got = _rows(stream_dedup_increment(spark, src, work))
    assert want and got == want
    assert len(got) == len(set(got))
    got_ix, want_ix = _index_rows(spark, work), _index_rows(spark, ref)
    assert got_ix == want_ix
    for rows in got_ix:
        assert len(rows) == len(set(rows))


def _foreign_index(spark, sf_dir, work):
    """A save_minhash_index tree (shard=/gshard= dirs) under work_dir."""
    save_minhash_index(
        *build_minhash_index(_docs(spark, sf_dir, n=30)),
        os.path.join(work, "lsh_index"),
    )


def test_pipeline_refuses_foreign_index(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir, n=30)
    src = str(tmp_path / "src")
    _jsonl_shards(docs, src, n=1)
    work = str(tmp_path / "work")
    _foreign_index(spark, sf_dir, work)
    with pytest.raises(ValueError, match="seed_index_path"):
        stream_curate_jsonl(spark, src, work, docs, threshold=THRESHOLD)
    assert not os.path.exists(os.path.join(work, "curated"))


def test_increment_refuses_foreign_index(spark, sf_dir, tmp_path):
    src = docs_chunked_source(
        spark, sf_dir, str(tmp_path / "cache"), n_chunks=2
    )
    work = str(tmp_path / "work")
    _foreign_index(spark, sf_dir, work)
    with pytest.raises(ValueError, match="seed_index_path"):
        stream_dedup_increment(spark, src, work)
    assert not os.path.exists(os.path.join(work, "dup_pairs"))
