"""CandleStore round-trip semantics (reference write/read contract:
Database.Write -> accessor read; SURVEY §3.1-3.2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mora_spark.engine import CandleStore
from mora_spark.schema import CANDLE_SCHEMA

UTC = dt.timezone.utc


def mk(spark, rows):
    data = [
        (
            "UPBIT", code, 60, ts,
            o, o + 1.0, o - 1.0, o + 0.5, 10.0, 0,
        )
        for code, ts, o in rows
    ]
    return spark.createDataFrame(data, CANDLE_SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    return CandleStore(spark, str(tmp_path / "candles"))


def test_write_read_roundtrip(spark, store):
    b = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i)
                   for i in range(10)])
    store.write(b)
    out = store.read(market="UPBIT", code="BTC").orderBy("ts").collect()
    assert len(out) == 10
    assert out[0]["open"] == 100.0 and out[9]["open"] == 109.0


def test_merge_last_writer_wins(spark, store):
    b1 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i)
                    for i in range(5)])
    b2 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 2), 999.0)])
    store.write(b1)
    store.write(b2)
    out = {r["ts"].minute: r["open"]
           for r in store.read(code="BTC").collect()}
    assert len(out) == 5
    assert out[2] == 999.0          # upserted
    assert out[1] == 101.0          # untouched


def test_merge_is_idempotent(spark, store):
    b = mk(spark, [("ETH", dt.datetime(2022, 3, 1, 0, i), 10.0 + i)
                   for i in range(8)])
    store.write(b)
    once = sorted(map(tuple, store.read().collect()))
    store.write(b)
    twice = sorted(map(tuple, store.read().collect()))
    assert once == twice


def test_cross_year_batch_splits_partitions(spark, store, tmp_path):
    b = mk(spark, [
        ("BTC", dt.datetime(2020, 12, 31, 23, 59, tzinfo=UTC), 1.0),
        ("BTC", dt.datetime(2021, 1, 1, 0, 0, tzinfo=UTC), 2.0),
    ])
    store.write(b)
    import os
    root = str(tmp_path / "candles")
    # Hive-style layout: market=UPBIT/candle_length=60/code=BTC/year=YYYY
    years = set()
    for dirpath, dirnames, _ in os.walk(root):
        for d in dirnames:
            if d.startswith("year="):
                years.add(d)
    assert years == {"year=2020", "year=2021"}
    # Time-range read across the boundary
    out = store.read(start=dt.datetime(2020, 12, 31, tzinfo=UTC),
                     end=dt.datetime(2021, 1, 2, tzinfo=UTC))
    assert out.count() == 2


def test_merge_only_touches_batch_partitions(spark, store):
    b1 = mk(spark, [("BTC", dt.datetime(2021, 6, 1), 1.0),
                    ("ETH", dt.datetime(2021, 6, 1), 2.0)])
    store.write(b1)
    # Merge touching only BTC; ETH partition must survive untouched.
    b2 = mk(spark, [("BTC", dt.datetime(2021, 6, 2), 3.0)])
    store.write(b2)
    assert store.read(code="ETH").count() == 1
    assert store.read(code="BTC").count() == 2


def test_append_fast_path(spark, store):
    b1 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 0), 1.0)])
    b2 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 1), 2.0)])
    store.write(b1)
    store.write(b2, mode="append")
    assert store.read().count() == 2


def test_time_travel_reads_old_snapshot(spark, store):
    """Snapshot isolation across commits: a version pins its manifest,
    and immutable data files keep it byte-exactly readable after later
    merges rewrite the partition (reference: accessor reads a fixed
    page snapshot; Delta: versionAsOf)."""
    b1 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i)
                    for i in range(5)])
    b2 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 2), 999.0)])
    store.write(b1)
    store.write(b2)
    head = {r["ts"].minute: r["open"] for r in store.read().collect()}
    old = {r["ts"].minute: r["open"]
           for r in store.read(version=1).collect()}
    assert head[2] == 999.0
    assert old[2] == 102.0 and len(old) == 5
    hist = {r["version"]: r["n_files"] for r in store.history().collect()}
    assert sorted(hist) == [1, 2]


def test_read_uncommitted_version_raises(spark, store):
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    for bad in (0, 99):
        with pytest.raises(FileNotFoundError):
            store.read(version=bad).collect()


def test_vacuum_bounds_time_travel(spark, store):
    """vacuum(0) reclaims files the newest manifest no longer lists;
    the head snapshot survives, the rewritten old version does not —
    the Delta-style retention horizon documented on read()."""
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 2.0)]))
    assert store.vacuum(older_than_s=0) > 0
    assert [r["open"] for r in store.read().collect()] == [2.0]
    with pytest.raises(Exception):
        store.read(version=1).collect()


def test_stats_mirrors_page_header_fields(spark, store):
    base = dt.datetime(2021, 6, 1)
    store.write(
        mk(spark, [("BTC", base + dt.timedelta(minutes=i), 100.0) for i in range(5)])
    )
    s = store.stats().collect()
    assert len(s) == 1
    row = s[0]
    assert (row["market"], row["code"], row["year"]) == ("UPBIT", "BTC", 2021)
    assert row["n_candles"] == 5
    assert row["first_ts"] == base
    assert row["last_ts"] == base + dt.timedelta(minutes=4)


def test_f1a_reference_demo_workload(spark, tmp_path):
    """FIXTURES F1a — the reference's only executable validation
    (main.go:18-87): 4 writers x 1,000 daily candles (OHLCV =
    100+5i..104+5i), written as separate batches, read back keyed.
    Exercises multi-year splitting and the full write->read contract."""
    s = CandleStore(spark, str(tmp_path / "demo"))
    series = [
        (dt.datetime(2021, 1, 1, tzinfo=UTC), "ETH"),
        (dt.datetime(2021, 7, 1, tzinfo=UTC), "BTC"),
        (dt.datetime(2022, 1, 1, tzinfo=UTC), "BTC2"),
        (dt.datetime(2022, 7, 1, tzinfo=UTC), "BTC3"),
    ]
    for start, code in series:
        rows = [
            (
                "UPBIT", code, 60,
                start + dt.timedelta(days=i),
                100.0 + 5 * i, 101.0 + 5 * i, 102.0 + 5 * i,
                103.0 + 5 * i, 104.0 + 5 * i, 0,
            )
            for i in range(1000)
        ]
        s.write(spark.createDataFrame(rows, CANDLE_SCHEMA))

    all_rows = s.read()
    assert all_rows.count() == 4000
    # keyed read of one series, ordered time-range semantics
    eth = s.read(market="UPBIT", code="ETH").orderBy("ts").collect()
    assert len(eth) == 1000
    assert eth[0]["open"] == 100.0 and eth[0]["volume"] == 104.0
    assert eth[999]["close"] == 103.0 + 5 * 999
    # 1,000 daily candles from 2021-01-01 span 2021..2023 partitions
    years = {
        r["y"]
        for r in all_rows.where(F.col("code") == "ETH")
        .select(F.year("ts").alias("y")).distinct().collect()
    }
    assert years == {2021, 2022, 2023}


def test_compact_merges_files_preserves_rows(spark, store, tmp_path):
    import glob

    from mora_spark.engine import CandleStore

    s = CandleStore(spark, str(tmp_path / "compact_store"))
    base = dt.datetime(2021, 1, 1)
    # five append-mode writes of disjoint ranges -> >=5 files piled up
    # in the partition (merge mode rewrites partitions, append doesn't)
    for i in range(5):
        s.write(
            mk(
                spark,
                [
                    ("BTC", base + dt.timedelta(minutes=50 * i + j), 100.0 + i)
                    for j in range(10)
                ],
            ),
            mode="append",
        )
    before = sorted(tuple(r) for r in s.read().collect())
    n_files = len(glob.glob(f"{s.path}/**/*.parquet", recursive=True))
    assert n_files >= 5

    s.compact()
    after = sorted(tuple(r) for r in s.read().collect())
    assert after == before
    # Old files linger until vacuum (readers on the prior snapshot may
    # still be scanning them); vacuum(0) = no concurrent writers.
    s.vacuum(older_than_s=0)
    n_files2 = len(glob.glob(f"{s.path}/**/*.parquet", recursive=True))
    assert n_files2 < n_files


def test_append_compact_vacuum_lifecycle(spark, store):
    """The continuous-append maintenance loop: N small blind appends
    accumulate one live file each; compact() bounds the live file
    count in one atomic manifest swap; vacuum(0) reclaims every
    superseded physical file; reads are identical throughout."""
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i)
                           for i in range(5)]))
    for j in range(6):
        store.write(
            mk(spark, [("BTC", dt.datetime(2021, 1, 1, 1 + j, 0, 0),
                        200.0 + j)]),
            mode="append",
        )

    def live(s):
        _, pointers = s._log.current()
        return sum(p["n"] for p in pointers)

    files_before = live(store)
    assert files_before >= 7  # one per write, same partition
    before = sorted(map(tuple, store.read().collect()))
    store.compact()
    assert live(store) == 1  # single (BTC, 2021) partition
    reclaimed = store.vacuum(older_than_s=0)
    assert reclaimed >= files_before
    after = sorted(map(tuple, store.read().collect()))
    assert after == before
    # the superseded pre-compact snapshot is out of the vacuum horizon
    with pytest.raises(Exception):
        store.read(version=2).collect()


def test_manifest_pages_reused_across_commits(spark, store):
    """Paged manifests: a commit re-pages ONLY the partitions it
    touches; every other partition's pointer is carried forward by
    reference (same page file), so commit cost scales with touched
    partitions, not store size."""
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 0), 1.0),
                           ("ETH", dt.datetime(2021, 1, 1, 0, 0), 2.0)]))
    store.write(
        mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 1), 3.0)]),
        mode="append",
    )
    by_code = lambda v: {  # noqa: E731
        p["partition"]["code"]: p for p in store._log.pointers_at(v)
    }
    v1, v2 = by_code(1), by_code(2)
    assert v1["ETH"]["page"] == v2["ETH"]["page"]  # untouched: reused
    assert v1["BTC"]["page"] != v2["BTC"]["page"]  # touched: re-paged
    assert v2["BTC"]["n"] == v1["BTC"]["n"] + 1
    # keyed read only opens matching partitions' pages
    opened = []
    orig = type(store._log).load_page

    def spy(self, ptr):
        opened.append(ptr["partition"]["code"])
        return orig(self, ptr)

    type(store._log).load_page = spy
    try:
        assert store.read(code="ETH").count() == 1
    finally:
        type(store._log).load_page = orig
    assert opened == ["ETH"]


def test_crash_before_commit_is_invisible(spark, store, monkeypatch):
    """Reference contract: WAL-before-apply means a crash mid-write
    leaves the committed state intact (accessor.go:86-92, committed-only
    replay flusher.go:110-128). Here the manifest CAS is the commit
    point: kill the writer after data files are published but before
    the manifest link, and a reader must see exactly the old version."""
    b1 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, i), 100.0 + i)
                    for i in range(5)])
    store.write(b1)
    v1 = sorted(tuple(r) for r in store.read().collect())

    import mora_spark.engine.store as store_mod

    def crash(self, version, entries, txn):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(store_mod._TxnLog, "try_commit", crash)
    b2 = mk(spark, [("BTC", dt.datetime(2021, 1, 1, 0, 2), 999.0),
                    ("ETH", dt.datetime(2021, 1, 1, 0, 0), 1.0)])
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.write(b2)
    monkeypatch.undo()

    # All-or-nothing: the failed write is fully invisible.
    assert sorted(tuple(r) for r in store.read().collect()) == v1
    # Orphaned data files exist but are unreferenced; vacuum reclaims.
    assert store.vacuum(older_than_s=0) > 0
    assert sorted(tuple(r) for r in store.read().collect()) == v1
    # The store remains writable; the retried write lands atomically.
    store.write(b2)
    out = {(r["code"], r["ts"].minute): r["open"]
           for r in store.read().collect()}
    assert out[("BTC", 2)] == 999.0 and out[("ETH", 0)] == 1.0
    assert len(out) == 6


def test_concurrent_writers_lose_no_rows(spark, tmp_path):
    """Reference contract: main.go:18-87 runs 4 concurrent writers.
    Two threads merge into the SAME (market, code, year) partition
    concurrently; the manifest CAS serializes them — the loser retries
    against the winner's snapshot, so both writers' rows survive."""
    import threading

    path = str(tmp_path / "concurrent")
    base = dt.datetime(2021, 1, 1)
    errs = []

    def writer(offset):
        try:
            s = CandleStore(spark, path)
            for batch in range(3):
                rows = [("BTC", base + dt.timedelta(minutes=offset + 10 * batch + j),
                         float(offset + 10 * batch + j))
                        for j in range(5)]
                s.write(mk(spark, rows))
        except Exception as e:  # surfaced below; threads swallow otherwise
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(0,))
    t2 = threading.Thread(target=writer, args=(1000,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    out = CandleStore(spark, path).read()
    assert out.count() == 30  # 2 writers x 3 batches x 5 rows, none lost
    minutes = {r["ts"].hour * 60 + r["ts"].minute
               for r in out.collect()}
    expect = {o + 10 * b + j for o in (0, 1000) for b in range(3)
              for j in range(5)}
    assert minutes == expect


def test_concurrent_appenders_lose_no_rows(spark, tmp_path):
    """The append fast path under contention: data files are staged
    once, and only the RE-PAGE + manifest union retries on CAS
    conflict — two appenders into the same partition must both land,
    with the final page holding the union of their files."""
    import threading

    path = str(tmp_path / "concurrent_append")
    base = dt.datetime(2021, 1, 1)
    CandleStore(spark, path).write(
        mk(spark, [("BTC", base, 0.0)])
    )  # v1 so both appenders race on v2+
    errs = []

    # 6 batches per appender: the 13 racing commits cross the
    # CHECKPOINT_INTERVAL (10) so the marker refresh runs inside the
    # CAS race, and current() keeps resolving correctly from it.
    def appender(offset):
        try:
            s = CandleStore(spark, path)
            for batch in range(6):
                rows = [("BTC",
                         base + dt.timedelta(minutes=offset + 10 * batch + j),
                         float(offset + 10 * batch + j))
                        for j in range(1, 4)]
                s.write(mk(spark, rows), mode="append")
        except Exception as e:
            errs.append(e)

    t1 = threading.Thread(target=appender, args=(0,))
    t2 = threading.Thread(target=appender, args=(100,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    out = CandleStore(spark, path).read()
    assert out.count() == 37  # 1 seed + 2 appenders x 6 batches x 3 rows
    log = CandleStore(spark, path)._log
    assert log.current_version() == 13
    assert log.checkpoint_hint() == 10
    # the single BTC/2021 page accumulated every writer's files
    _, pointers = log.current()
    assert len(pointers) == 1
    assert pointers[0]["n"] >= 13  # >= 1 seed file + 1 per append


def test_read_prunes_partitions(spark, store):
    b = mk(spark, [("BTC", dt.datetime(2020, 1, 1), 1.0),
                   ("BTC", dt.datetime(2021, 1, 1), 2.0),
                   ("BTC", dt.datetime(2022, 1, 1), 3.0)])
    store.write(b)
    df = store.read(start=dt.datetime(2021, 1, 1), end=dt.datetime(2021, 6, 1))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert df.count() == 1
    # Year pruning must reach the scan as a NON-EMPTY PartitionFilters
    # entry referencing the year attribute — the old `"year" in plan`
    # assert was satisfied by ReadSchema alone (every UNPRUNED scan of
    # this table mentions the year column somewhere), the same
    # vacuous-substring class as the r14 fa0ef69 shard-pruning fix.
    import re

    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln
        and re.search(r"PartitionFilters: \[[^\]]*(?<![a-z_])year#", ln)
    ]
    assert pf, f"no year partition filter in scan:\n{plan[:2000]}"


def test_unsupported_manifest_format_raises(spark, store):
    import json
    import os

    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    v1 = os.path.join(store._log.dir, f"{1:012d}.json")
    with open(v1, "w") as f:
        json.dump({"version": 1, "blobs": []}, f)
    with pytest.raises(ValueError, match="unsupported manifest format"):
        store.read().collect()


def test_checkpoint_marker_gives_o1_current(spark, store):
    """After CHECKPOINT_INTERVAL commits the marker exists, and
    current() resolves by forward-probing from it — never listing the
    log directory (the 1e6-commit scale path)."""
    import os

    from mora_spark.engine.store import CHECKPOINT_INTERVAL

    base = dt.datetime(2021, 1, 1)
    for i in range(CHECKPOINT_INTERVAL + 3):
        store.write(
            mk(spark, [("BTC", base + dt.timedelta(minutes=i), float(i))]),
            mode="append",
        )
    log = store._log
    assert os.path.exists(log.marker_path)
    assert log.checkpoint_hint() == CHECKPOINT_INTERVAL
    # current() must not fall back to the full listing.
    def boom():
        raise AssertionError("current() listed the log dir")

    orig = type(log).versions
    type(log).versions = lambda self: boom()
    try:
        assert log.current_version() == CHECKPOINT_INTERVAL + 3
        assert store.read().count() == CHECKPOINT_INTERVAL + 3
    finally:
        type(log).versions = orig


def test_expire_versions_bounds_log_growth(spark, store):
    from mora_spark.engine.store import VersionExpiredError

    base = dt.datetime(2021, 1, 1)
    for i in range(12):
        store.write(
            mk(spark, [("BTC", base + dt.timedelta(minutes=i), float(i))]),
            mode="append",
        )
    assert store.expire_versions(keep_last=3) == 9
    assert store._log.versions() == [10, 11, 12]
    # Retained versions stay time-travelable; expired ones raise typed.
    assert store.read(version=10).count() == 10
    assert store.read().count() == 12
    with pytest.raises(VersionExpiredError, match="expired"):
        store.read(version=5).collect()
    hist = [r["version"] for r in store.history().collect()]
    assert sorted(hist) == [10, 11, 12]
    # A new commit on top of the trimmed log works.
    store.write(
        mk(spark, [("BTC", base + dt.timedelta(minutes=99), 99.0)]),
        mode="append",
    )
    assert store._log.current_version() == 13


def test_vacuum_horizon_is_a_typed_contract(spark, store):
    from mora_spark.engine.store import VersionVacuumedError

    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 2.0)]))
    assert store.vacuum(older_than_s=0) > 0
    with pytest.raises(VersionVacuumedError, match="vacuum"):
        store.read(version=1)
    assert [r["open"] for r in store.read(version=2).collect()] == [2.0]
    assert [r["open"] for r in store.read().collect()] == [2.0]


def test_vacuum_fences_corrupt_manifest_instead_of_failing(spark, store):
    """A truncated/corrupt retained manifest must not abort vacuum
    forever: the broken version is fenced (typed VersionVacuumedError)
    and vacuum keeps working."""
    import os

    from mora_spark.engine.store import VersionVacuumedError

    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 2.0)]))
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 3.0)]))
    with open(store._log._vpath(2), "w") as f:
        f.write('{"truncated mid-write')
    store.vacuum(older_than_s=0)  # must not raise
    with pytest.raises(VersionVacuumedError):
        store.read(version=2)
    # the newest snapshot stays readable, and a later vacuum still runs
    assert [r["open"] for r in store.read().collect()] == [3.0]
    store.vacuum(older_than_s=0)


def test_corrupt_manifest_fences_only_itself(spark, store):
    """A corrupt manifest must fence ONLY its own version: intact
    snapshots BELOW it whose data files are still present remain
    time-travelable (the fence is a per-version marker, not the scalar
    vacuum horizon — ADVICE r5)."""
    from mora_spark.engine.store import VersionVacuumedError

    # Disjoint codes: every version's pages stay live in the tip, so
    # vacuum reclaims nothing and the horizon must not move.
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    store.write(mk(spark, [("ETH", dt.datetime(2021, 1, 1), 2.0)]))
    store.write(mk(spark, [("SOL", dt.datetime(2021, 1, 1), 3.0)]))
    with open(store._log._vpath(2), "w") as f:
        f.write('{"truncated mid-write')
    store.vacuum(older_than_s=0)
    with pytest.raises(VersionVacuumedError, match="corrupt"):
        store.read(version=2)
    # v1 (below the corrupt version) and v3 both stay readable.
    assert [r["open"] for r in store.read(version=1).collect()] == [1.0]
    assert store.read(version=3).count() == 3
    assert store._log.retention().get("vacuum_horizon", 0) == 0
    # history() skips the fenced version instead of crashing.
    assert sorted(
        r["version"] for r in store.history().collect()
    ) == [1, 3]


def test_vacuum_of_orphans_only_keeps_time_travel(spark, store):
    """A vacuum that reclaims only ORPHANS (files a crashed writer
    published but never committed) must NOT advance the horizon:
    every committed snapshot is still fully intact and readable."""
    import os

    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    store.write(mk(spark, [("ETH", dt.datetime(2021, 1, 1), 2.0)]))
    orphan = os.path.join(store.data_dir, "orphan-crashed-writer.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real page")
    assert store.vacuum(older_than_s=0) == 1
    assert not os.path.exists(orphan)
    # append-only history: v1's files are all still referenced/live
    assert [r["open"] for r in store.read(version=1).collect()] == [1.0]
    assert store._log.retention().get("vacuum_horizon", 0) == 0


def test_current_version_probe_at_1000_commits(tmp_path):
    """The 1e6-commit shape in miniature: after 1,000 commits the
    hot-path current_version() does a bounded number of stats from the
    checkpoint marker — independent of log size — instead of listing
    1,000 files."""
    import os

    from mora_spark.engine.store import CHECKPOINT_INTERVAL, _TxnLog

    log = _TxnLog(str(tmp_path / "s"))
    for v in range(1, 1001):
        assert log.try_commit(v, [], f"t{v}")
    assert log.checkpoint_hint() == 1000
    calls = {"n": 0}
    real_exists = os.path.exists

    def counting(p):
        calls["n"] += 1
        return real_exists(p)

    os.path.exists = counting
    try:
        assert log.current_version() == 1000
    finally:
        os.path.exists = real_exists
    # marker check + one probe past the tip; never O(versions)
    assert calls["n"] <= CHECKPOINT_INTERVAL + 2


def test_retention_fields_survive_concurrent_maintenance(tmp_path):
    """vacuum_horizon and expired_before live in separate files, so a
    vacuum racing an expire_versions can never lose the other op's
    field to a shared read-modify-write."""
    from mora_spark.engine.store import _TxnLog

    a, b = _TxnLog(str(tmp_path / "s")), _TxnLog(str(tmp_path / "s"))
    import os
    os.makedirs(a.dir, exist_ok=True)
    # interleave: both read (empty), then write different fields
    a.update_retention(vacuum_horizon=13)
    b.update_retention(expired_before=11)
    assert a.retention() == {"vacuum_horizon": 13, "expired_before": 11}
    # monotonic: a stale writer cannot regress a field
    a.update_retention(vacuum_horizon=5)
    assert a.retention()["vacuum_horizon"] == 13


def test_expire_page_sweep_self_heals_orphans(spark, store):
    """The page sweep works from a pages-dir listing, so pages orphaned
    by an earlier crashed expiry are reclaimed on the next run — while
    a fresh (possibly in-flight) page is protected by the mtime guard."""
    import os
    import time as _time

    base = dt.datetime(2021, 1, 1)
    for i in range(6):
        store.write(
            mk(spark, [("BTC", base + dt.timedelta(minutes=i), float(i))]),
            mode="append",
        )
    pages = store._log.pages_dir
    orphan_old = os.path.join(pages, "deadbeef-000000.json")
    orphan_new = os.path.join(pages, "cafebabe-000000.json")
    for p in (orphan_old, orphan_new):
        with open(p, "w") as f:
            f.write("[]")
    old = _time.time() - 7200
    os.utime(orphan_old, (old, old))
    store.expire_versions(keep_last=2, older_than_s=3600)
    assert not os.path.exists(orphan_old)   # reclaimed
    assert os.path.exists(orphan_new)       # mtime-guarded
    assert store.read().count() == 6        # live data intact


def test_manifest_file_stats_prune_within_partition(spark, store):
    """Delta-style file skipping: appends of disjoint hour ranges into
    ONE (series, year) partition record per-file ts min/max in the
    page entries, and a narrow range read names only the overlapping
    files to Spark — pruning finer than the year partition."""
    base = dt.datetime(2021, 1, 1)
    for h in range(4):  # four files: hours 0, 6, 12, 18
        rows = [("BTC", base + dt.timedelta(hours=6 * h, minutes=m),
                 float(h * 100 + m)) for m in range(3)]
        store.write(mk(spark, rows), mode="append")
    _, pointers = store._log.current()
    entries = store._entries_for(pointers)
    from mora_spark.engine.store import _NO_TS_STATS

    assert all(
        (e["ts_lo"], e["ts_hi"]) != _NO_TS_STATS for e in entries
    ), entries
    # every file whose range is outside hour 6 must never be named
    named = []
    orig = type(store)._read_files

    def spy(self, es):
        named.extend(es)
        return orig(self, es)

    lo = base + dt.timedelta(hours=6)
    hi = base + dt.timedelta(hours=7)
    type(store)._read_files = spy
    try:
        out = store.read(start=lo, end=hi)
        assert out.count() == 3  # exactly the hour-6 append's rows
    finally:
        type(store)._read_files = orig
    from pyspark.sql.types import TimestampType

    lo_us = TimestampType().toInternal(lo)
    hi_us = TimestampType().toInternal(hi)
    assert 0 < len(named) < len(entries)
    for e in named:
        assert e["ts_hi"] >= lo_us and e["ts_lo"] < hi_us


def test_read_with_aware_bounds_prunes_by_utc_year(spark, store):
    """A tz-aware bound names an instant: 2021-01-01 02:00+05:00 is
    2020-12-31 21:00Z, so the row stored at 22:00Z in the 2020
    partition is inside [start, end) — the year prune must use the
    bound's UTC year, not its own calendar year."""
    store.write(mk(spark, [
        ("BTC", dt.datetime(2020, 12, 31, 22, 0, tzinfo=UTC), 1.0),
    ]))
    plus5 = dt.timezone(dt.timedelta(hours=5))
    out = store.read(
        start=dt.datetime(2021, 1, 1, 2, 0, tzinfo=plus5),
        end=dt.datetime(2021, 1, 1, 0, 0, tzinfo=UTC),
    )
    assert [r["open"] for r in out.collect()] == [1.0]


def test_timestamp_time_travel(spark, store):
    """TIMESTAMP AS OF: read(as_of=t) resolves the newest version
    committed at or before t via O(log n) binary search over the dense
    version range, using the commit instants the manifest records."""
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 1.0)]))
    store.write(mk(spark, [("BTC", dt.datetime(2021, 1, 1), 2.0)]))
    t1 = store._log.read_version(1)["ts"]
    t2 = store._log.read_version(2)["ts"]
    assert t1 < t2  # commits serialize through the CAS
    mid = (t1 + t2) / 2
    assert [r["open"] for r in store.read(as_of=mid).collect()] == [1.0]
    assert [r["open"] for r in store.read(as_of=t2).collect()] == [2.0]
    with pytest.raises(ValueError, match="no committed version"):
        store.read(as_of=t1 - 10.0)
    with pytest.raises(ValueError, match="not both"):
        store.read(version=1, as_of=t2)
    hist = {r["version"]: r["committed_at"]
            for r in store.history().collect()}
    assert hist[1] == t1 and hist[2] == t2


def test_derive_rollup_converges_to_full_recompute(spark, store):
    # Three overlapping out-of-order batches with an upsert
    # restatement; after write+derive per batch, the stored 5m series
    # must equal resample() of the final source series, and buckets
    # untouched by later batches must not have been rewritten.
    from mora_spark.operators.resample import resample

    base = dt.datetime(2024, 3, 1, 0, 0)
    mins = lambda m: base + dt.timedelta(minutes=m)
    b1 = mk(spark, [("BTC", mins(i), 100.0 + i) for i in range(0, 20)])
    b2 = mk(spark, [("BTC", mins(i), 200.0 + i) for i in range(15, 35)])
    b3 = mk(spark, [("ETH", mins(i), 50.0 + i) for i in range(3, 9)])

    for b in (b1, b2, b3):
        store.write(b)
        store.derive_rollup(b, 300)

    got = {
        (r["code"], r["ts"]): (r["open"], r["close"], r["volume"])
        for r in store.read(candle_length=300).collect()
    }
    want = {
        (r["code"], r["ts"]): (r["open"], r["close"], r["volume"])
        for r in resample(
            store.read(candle_length=60), 300
        ).collect()
    }
    assert got == want
    # b2's restatement of minutes 15-19 won in the source, so the
    # bucket covering 15-19 must carry the restated open.
    assert got[("BTC", mins(15))][0] == 215.0


def test_derive_rollup_untouched_partitions_not_rewritten(spark, store):
    # Rollup maintenance has two granularities: buckets are the
    # RECOMPUTE unit (only the batch's buckets are re-derived from
    # source) and partitions are the REWRITE unit (the store's merge
    # replaces touched partitions). A later batch in a different year
    # must leave the earlier year's derived files byte-identical in
    # the manifest — maintenance cost follows the batch.
    base1 = dt.datetime(2024, 3, 1, 0, 0)
    base2 = dt.datetime(2025, 3, 1, 0, 0)
    b1 = mk(spark, [
        ("BTC", base1 + dt.timedelta(minutes=i), 100.0 + i)
        for i in range(0, 5)
    ])
    b2 = mk(spark, [
        ("BTC", base2 + dt.timedelta(minutes=i), 900.0 + i)
        for i in range(0, 5)
    ])
    store.write(b1)
    store.derive_rollup(b1, 300)
    v_after_first = store._log.current()[0]
    store.write(b2)
    store.derive_rollup(b2, 300)
    rows = {
        r["ts"]: r["open"]
        for r in store.read(candle_length=300).collect()
    }
    assert rows[base1] == 100.0
    assert rows[base2] == 900.0
    old = {
        e["path"]
        for e in store._log.entries_at(v_after_first)
        if e["partition"]["candle_length"] == "300"
    }
    new = {
        e["path"]
        for e in store._log.entries_at(store._log.current()[0])
        if e["partition"]["candle_length"] == "300"
    }
    assert old and old <= new


def test_derive_rollup_precomputed_partitions_cross_year(spark, store):
    """derive_rollup hands write() a driver-derived touched-partition
    set (r17: skipping the distinct-collect that re-evaluated the whole
    read-back + resample chain). The set must match what the collect
    would have computed — partition year comes from the BUCKET ts, and
    a batch straddling a year boundary must touch both year partitions,
    or the merge leaves stale pointers next to the new pages
    (duplicate rows on read)."""
    from mora_spark.operators.resample import resample

    base = dt.datetime(2024, 12, 31, 23, 57, tzinfo=UTC)
    b = mk(spark, [
        ("BTC", base + dt.timedelta(minutes=i), 100.0 + i)
        for i in range(6)  # 23:57..00:02 -> buckets 23:55, 00:00
    ])
    store.write(b)
    store.derive_rollup(b, 300)
    # Re-derive from a restated batch: the same two partitions must be
    # REPLACED (not duplicated), so the merge's touched set must name
    # both years.
    b2 = mk(spark, [
        ("BTC", base + dt.timedelta(minutes=i), 500.0 + i)
        for i in range(6)
    ])
    store.write(b2)
    store.derive_rollup(b2, 300)
    got = {
        (r["ts"], r["code"]): (r["open"], r["volume"])
        for r in store.read(candle_length=300).collect()
    }
    want = {
        (r["ts"], r["code"]): (r["open"], r["volume"])
        for r in resample(store.read(candle_length=60), 300).collect()
    }
    assert got == want
    years = {
        e["partition"]["year"]
        for e in store._log.entries_at(store._log.current()[0])
        if e["partition"]["candle_length"] == "300"
    }
    assert years == {"2024", "2025"}


def test_merge_span_pruning_carries_disjoint_files(spark, store):
    """merge's read-back is file-pruned on the manifest ts stats (r18):
    a file whose [ts_lo, ts_hi] is disjoint from the batch's span for
    that partition shares no candle key with the batch, so it is
    CARRIED into the new page by reference — neither re-read nor
    rewritten — while overlapping files still merge last-writer-wins.
    Pins both halves: the carried file's path survives the commit
    verbatim, and a later OVERLAPPING batch still replaces it."""
    base = dt.datetime(2024, 6, 1, 0, 0)
    mins = lambda m: base + dt.timedelta(minutes=m)
    b1 = mk(spark, [("BTC", mins(i), 100.0 + i) for i in range(5)])
    store.write(b1)
    v1 = store._log.current()[0]
    paths_v1 = {e["path"] for e in store._log.entries_at(v1)}
    # Disjoint span (minutes 300+): b1's file must be carried, not
    # rewritten, and every row of both batches must survive the merge.
    b2 = mk(spark, [("BTC", mins(300 + i), 500.0 + i) for i in range(5)])
    store.write(b2)
    v2 = store._log.current()[0]
    paths_v2 = {e["path"] for e in store._log.entries_at(v2)}
    assert paths_v1 <= paths_v2  # carried by reference
    rows = {r["ts"]: r["open"] for r in store.read(code="BTC").collect()}
    assert len(rows) == 10
    assert rows[mins(0)] == 100.0 and rows[mins(300)] == 500.0
    # Late backfill INTO the carried span: the carried file now
    # overlaps, so it is read back, merged (batch wins), and replaced.
    b3 = mk(spark, [("BTC", mins(2), 999.0)])
    store.write(b3)
    rows = {r["ts"]: r["open"] for r in store.read(code="BTC").collect()}
    assert len(rows) == 10
    assert rows[mins(2)] == 999.0   # upserted
    assert rows[mins(1)] == 101.0   # same-file neighbor intact
    assert rows[mins(301)] == 501.0  # disjoint file intact
    v3 = store._log.current()[0]
    paths_v3 = {e["path"] for e in store._log.entries_at(v3)}
    assert paths_v1 - paths_v3, "overlapping file should be replaced"


def test_write_page_overwrites_on_append_retry(tmp_path):
    """The append retry loop reuses (txn, k) after a lost commit race,
    so write_page must OVERWRITE an existing page file (fs.replace) —
    on a filesystem whose rename refuses to overwrite (HDFS), the old
    rename-based publish turned contended appends into OSErrors
    (r16 ADVICE #1). Simulated by a PosixFS whose rename enforces
    HDFS fail-if-exists semantics."""
    from mora_spark.engine.store import _TxnLog
    from mora_spark.engine.storefs import PosixFS

    class HdfsRenameSemantics(PosixFS):
        @staticmethod
        def rename(src, dst):
            import os as _os

            if _os.path.exists(dst):
                raise OSError(f"rename refused: {dst} exists")
            _os.replace(src, dst)

    log = _TxnLog(str(tmp_path / "s"), fs=HdfsRenameSemantics())
    a = {"path": "data/a.parquet", "ts_lo": 0, "ts_hi": 10}
    b = {"path": "data/b.parquet", "ts_lo": 20, "ts_hi": 30}
    p1 = log.write_page({"market": "SYN"}, [a], "txnA", 0)
    # retry after a lost race: same txn, same k, updated file set
    p2 = log.write_page({"market": "SYN"}, [a, b], "txnA", 0)
    assert p2["page"] == p1["page"]
    assert log.load_page(p2) == [
        {**a, "partition": {"market": "SYN"}},
        {**b, "partition": {"market": "SYN"}},
    ]
