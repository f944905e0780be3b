"""The library over ``scheme://`` roots (r15 verdict next #2).

A ``file://`` root is the in-container proxy for hdfs://s3a remotes:
every driver-side metadata operation — the store's manifest versions,
pages, checkpoint marker, retention markers, staging promotion,
vacuum, bucket spec, and the streaming dedup sinks' index checks —
must route through the storefs seam (storefs.HadoopFS) instead of
silently using POSIX paths that would land on, or look at, the
DRIVER's disk for a real remote. The commit point stays a true CAS per
filesystem (link(2) for the local scheme, fail-if-exists rename on
HDFS, loud refusal on object stores)."""

from __future__ import annotations

import datetime as dt
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from mora_spark.engine import CandleStore
from mora_spark.engine.storefs import HadoopFS, PosixFS, store_fs
from mora_spark.schema import CANDLE_SCHEMA


def mk(spark, rows):
    data = [
        ("UPBIT", code, 60, ts, o, o + 1.0, o - 1.0, o + 0.5, 10.0, 0)
        for code, ts, o in rows
    ]
    return spark.createDataFrame(data, CANDLE_SCHEMA)


def test_store_fs_adapter_selection(spark, tmp_path):
    assert isinstance(store_fs(str(tmp_path)), PosixFS)
    fs = store_fs(f"file://{tmp_path}")
    assert isinstance(fs, HadoopFS)
    assert fs.scheme == "file"


def test_publish_cas_is_exclusive_on_file_scheme(spark, tmp_path):
    """Exactly one of two publishers of the same version may win —
    the property the whole commit protocol rests on."""
    fs = store_fs(f"file://{tmp_path}")
    dst = f"file://{tmp_path}/000000000001.json"
    fs.write_file(f"file://{tmp_path}/t1", '{"w": 1}')
    fs.write_file(f"file://{tmp_path}/t2", '{"w": 2}')
    assert fs.publish_cas(f"file://{tmp_path}/t1", dst) is True
    assert fs.publish_cas(f"file://{tmp_path}/t2", dst) is False
    assert fs.read_text(dst) == '{"w": 1}'  # the winner's bytes, whole
    # both tmps (and their checksum sidecars) are consumed either way
    leftovers = [
        n for n in os.listdir(tmp_path) if "t1" in n or "t2" in n
    ]
    assert leftovers == []


def test_publish_cas_refuses_object_stores(spark, tmp_path):
    fs = store_fs(f"file://{tmp_path}")
    fs.scheme = "s3a"  # simulate: no atomic rename/create there
    fs.write_file(f"file://{tmp_path}/t", "{}")
    with pytest.raises(NotImplementedError, match="conditional-PUT"):
        fs.publish_cas(
            f"file://{tmp_path}/t", f"file://{tmp_path}/v.json"
        )


def test_walk_files_returns_relative_paths(spark, tmp_path):
    fs = store_fs(f"file://{tmp_path}")
    fs.makedirs(f"file://{tmp_path}/a/b")
    fs.write_file(f"file://{tmp_path}/a/b/x.json", "1")
    fs.write_file(f"file://{tmp_path}/a/y.json", "2")
    rels = sorted(rel for rel, _ in fs.walk_files(f"file://{tmp_path}/a"))
    # ChecksumFileSystem adds .crc sidecars; the store's callers filter
    # by suffix, so just require the real files present as clean rels
    assert "b/x.json" in rels and "y.json" in rels
    assert all(not r.startswith(("file:", "/")) for r in rels)


def test_roundtrip_matches_posix_twin(spark, tmp_path):
    """The same batch sequence through a file:// root and a POSIX root
    must produce identical query results AND the identical on-disk
    contract (manifest log at the root, versions dense)."""
    seq = [
        [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i) for i in range(5)],
        [("BTC", dt.datetime(2021, 1, 1, 0, 2), 999.0),
         ("ETH", dt.datetime(2021, 1, 1, 0, 0), 1.0)],
        [("BTC", dt.datetime(2022, 6, 1, 0, 0), 7.0)],  # new year partition
    ]
    s_uri = CandleStore(spark, f"file://{tmp_path}/uri_store")
    s_posix = CandleStore(spark, str(tmp_path / "posix_store"))
    for rows in seq:
        s_uri.write(mk(spark, rows))
        s_posix.write(mk(spark, rows))
    got = sorted(tuple(r) for r in s_uri.read().collect())
    want = sorted(tuple(r) for r in s_posix.read().collect())
    assert got == want and len(got) == 7
    # keyed read prunes + filters identically
    assert (
        s_uri.read(code="BTC", start=dt.datetime(2022, 1, 1)).count() == 1
    )
    # time travel across the ported log
    assert s_uri.read(version=1).count() == 5
    # the log landed at the POSIX twin of the URI (target filesystem)
    log = sorted(
        n for n in os.listdir(tmp_path / "uri_store" / "_log")
        if n.endswith(".json") and n[:-5].isdigit()
    )
    assert log == [f"{v:012d}.json" for v in (1, 2, 3)]
    # reopening by URI sees the committed state
    assert CandleStore(spark, f"file://{tmp_path}/uri_store").read().count() == 7


def test_crash_before_commit_is_invisible_uri_root(
    spark, tmp_path, monkeypatch
):
    """WAL-before-apply over the ported log: kill the writer after
    data files are published but before the manifest CAS — a reader
    must see exactly the old version, vacuum reclaims the orphans,
    and the retried write lands atomically."""
    import mora_spark.engine.store as store_mod

    store = CandleStore(spark, f"file://{tmp_path}/crash_store")
    b1 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i)
                    for i in range(5)])
    store.write(b1)
    v1 = sorted(tuple(r) for r in store.read().collect())

    def crash(self, version, entries, txn):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(store_mod._TxnLog, "try_commit", crash)
    b2 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 2), 999.0),
                    ("ETH", dt.datetime(2021, 1, 1, 0, 0), 1.0)])
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.write(b2)
    monkeypatch.undo()

    assert sorted(tuple(r) for r in store.read().collect()) == v1
    assert store.vacuum(older_than_s=0) > 0
    assert sorted(tuple(r) for r in store.read().collect()) == v1
    store.write(b2)
    out = {(r["code"], r["ts"].minute): r["open"]
           for r in store.read().collect()}
    assert out[("BTC", 2)] == 999.0 and out[("ETH", 0)] == 1.0
    assert len(out) == 6


def test_concurrent_writers_lose_no_rows_uri_root(spark, tmp_path):
    """Two threads merge into the same partition through the ported
    CAS: the loser must retry against the winner's snapshot — no
    committed row lost, versions dense."""
    import threading

    uri = f"file://{tmp_path}/concurrent_uri"
    base = dt.datetime(2021, 1, 1)
    errs = []

    def writer(offset):
        try:
            s = CandleStore(spark, uri)
            for batch in range(3):
                rows = [
                    ("BTC",
                     base + dt.timedelta(minutes=offset + 10 * batch + j),
                     float(offset + 10 * batch + j))
                    for j in range(5)
                ]
                s.write(mk(spark, rows))
        except Exception as e:
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(0,))
    t2 = threading.Thread(target=writer, args=(1000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    s = CandleStore(spark, uri)
    out = s.read()
    assert out.count() == 30  # 2 writers x 3 batches x 5 rows
    minutes = {r["ts"].hour * 60 + r["ts"].minute for r in out.collect()}
    expect = {o + 10 * b + j for o in (0, 1000) for b in range(3)
              for j in range(5)}
    assert minutes == expect
    assert s._log.current_version() == 6  # every commit serialized


def test_bucketed_store_uri_root(spark, tmp_path):
    """The bucketed write path (saveAsTable into a staging URI, then
    promotion through the seam) and bucketed_view's link-or-copy
    layout + LOCATION-by-URI registration, over a file:// root; the
    store-store join result must match the plain join."""
    uri = f"file://{tmp_path}/bstore"
    base = dt.datetime(2021, 1, 1)
    s = CandleStore(spark, uri, n_buckets=4)
    s.write(mk(spark, [("BTC", base + dt.timedelta(minutes=i), float(i))
                       for i in range(8)]))
    # spec persisted on the target filesystem + enforced on reopen
    assert (tmp_path / "bstore" / "_bucket_spec.json").is_file()
    with pytest.raises(ValueError, match="bucketed into 4"):
        CandleStore(spark, uri, n_buckets=8)
    v = s.bucketed_view("bv_uri_a")
    assert v.count() == 8
    other = CandleStore(spark, f"file://{tmp_path}/bstore2", n_buckets=4)
    other.write(mk(spark, [("BTC", base + dt.timedelta(minutes=i), 100.0 + i)
                           for i in range(8)]))
    w = other.bucketed_view("bv_uri_b")
    joined = v.join(w, ["market", "code", "candle_length", "ts"])
    assert joined.count() == 8


def test_maintenance_lifecycle_uri_root(spark, tmp_path):
    """Append -> compact -> vacuum -> expire across the ported log:
    the full maintenance surface over a scheme root."""
    uri = f"file://{tmp_path}/mnt_store"
    s = CandleStore(spark, uri)
    base = dt.datetime(2021, 1, 1)
    for k in range(4):
        s.write(
            mk(spark, [("BTC", base + dt.timedelta(minutes=k), float(k))]),
            mode="append",
        )
    assert s.read().count() == 4
    s.compact()
    assert s.read().count() == 4
    assert s.vacuum(older_than_s=0) > 0  # pre-compaction files aged out
    assert s.read().count() == 4
    assert s.expire_versions(keep_last=1, older_than_s=0) >= 1
    with pytest.raises(Exception, match="expired"):
        s.read(version=1)
    assert s.read().count() == 4


def test_no_scheme_branch_outside_storefs():
    """``storefs.store_fs`` is the library's one filesystem decision:
    no other module branches on a path's ``"://"`` spelling, and
    nothing imports the removed ``mora_spark.sources.hadoopfs``."""
    import mora_spark

    root = pathlib.Path(mora_spark.__file__).parent
    offenders = []
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        text = f.read_text()
        if rel != "engine/storefs.py" and (
            '"://"' in text or "'://'" in text
        ):
            offenders.append((rel, "scheme branch"))
        if "sources.hadoopfs" in text or "import hadoopfs" in text:
            offenders.append((rel, "hadoopfs import"))
    assert offenders == []


_WORDS = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "kilo lima mike november oscar papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu amber basalt cobalt dune",
    "ember fjord granite harbor iris jasper kelp lagoon marble nectar",
]


def _two_batches(spark):
    """Batch 0 holds docs 0-2; batch 1 holds doc 3, an exact copy of
    batch 0's doc 1, and doc 4, new text."""
    text = {0: _WORDS[0], 1: _WORDS[1], 2: _WORDS[2], 3: _WORDS[1],
            4: _WORDS[3]}
    return [
        spark.createDataFrame(
            [(i, text[i]) for i in ids], "doc_id long, text string"
        )
        for ids in ((0, 1, 2), (3, 4))
    ]


def _roots(tmp_path):
    return [str(tmp_path / "local"), f"file://{tmp_path}/uri"]


def test_dedup_pairs_batch_same_pairs_on_file_scheme(spark, tmp_path):
    """The media/semantic sinks' step finds batch 1's copy of a kept
    batch-0 doc on a ``file://`` root exactly as on a local one: the
    index-existence check goes through the seam, not os.path."""
    from mora_spark.streaming.pairdedup import dedup_pairs_batch

    def exact_pairs(state):
        a = state.select(F.col("doc_id").alias("id_a"), "text")
        b = state.select(F.col("doc_id").alias("id_b"), "text")
        return (
            a.join(b, "text")
            .where("id_a < id_b")
            .select("id_a", "id_b", F.lit(1.0).alias("score"))
        )

    got = []
    for root in _roots(tmp_path):
        for batch_id, batch in enumerate(_two_batches(spark)):
            dedup_pairs_batch(
                spark, batch, batch_id, f"{root}/index", f"{root}/pairs",
                exact_pairs, "doc_id", "score",
            )
        got.append(
            sorted(
                (r.doc_id, r.dup_id, r.src)
                for r in spark.read.parquet(
                    f"{root}/pairs/batch_id=1"
                ).collect()
            )
        )
    assert got == [[(3, 1, "corpus")]] * 2


def test_dedup_text_batch_same_pairs_on_file_scheme(spark, tmp_path):
    """The text sinks' step (stream_curate_jsonl, stream_dedup_increment)
    sees its own earlier batches on a ``file://`` root."""
    from mora_spark.streaming.textdedup import (
        dedup_text_batch,
        open_text_index,
    )

    got = []
    for root in _roots(tmp_path):
        index = open_text_index(spark, root, None, "test")
        pairs_of = {}
        for batch_id, batch in enumerate(_two_batches(spark)):
            dedup_text_batch(
                spark, batch, batch_id, index, 0.8,
                lambda pairs, dropped, b=batch_id: [
                    lambda: pairs_of.__setitem__(b, pairs.collect())
                ],
            )
        got.append(sorted((r.doc_id, r.dup_id, r.src) for r in pairs_of[1]))
    assert got == [[(3, 1, "corpus")]] * 2


def test_open_text_index_refuses_foreign_layout_on_file_scheme(
    spark, tmp_path
):
    """A foreign ``lsh_index/bands`` layout under a ``file://`` work_dir
    is refused, as it is under a local one."""
    from mora_spark.streaming.textdedup import open_text_index

    (tmp_path / "lsh_index" / "bands" / "shard=0").mkdir(parents=True)
    for work_dir in (str(tmp_path), f"file://{tmp_path}"):
        with pytest.raises(ValueError, match="batch_id= layout"):
            open_text_index(spark, work_dir, None, "test")
