"""CandleStore — partitioned-Parquet candle storage with ACID upsert merge.

The Spark rendition of the reference's whole database layer:

- ``Database.Write(set, candles)`` (``database/database.go:54-57``) →
  :meth:`CandleStore.write` with ``mode='merge'`` — last-writer-wins
  upsert into per-(series, year) partitions, mirroring the page merge
  (``page/page.go:95-142``, keep-new tie-break ``page/page.go:118-123``)
  and the per-year batch split (``database/factory.go:14-35``,
  ``common/candle.go:70-80``).
- the append fast path (``page/page.go:73-93``) → ``mode='append'`` for
  known-new data (no read-back, blind file add).
- keyed year reads (``database/storage/accessor.go:139-161``) →
  :meth:`CandleStore.read` — manifest-level file pruning on
  ``market/candle_length/code/year`` plus Parquet row-group skipping
  on ``ts`` (the analogue of the page day index, ``page/index.go:11-17``).

Commit protocol (the analogue of the reference's WAL-before-apply
contract, ``database/storage/accessor.go:86-92`` + committed-only replay
``database/storage/wal/flusher.go:110-128``): data files are immutable
and never the commit point. A write stages new Parquet files under
``_staging/<txn>/``, moves them into the live ``data/`` tree under
transaction-unique names (still invisible — readers only see files
listed in a manifest), then commits by publishing manifest version N+1
in ``_log/``. The publish is a compare-and-swap of a fully written temp
file onto the versioned name, which atomically fails if a concurrent
writer committed that version first; the loser re-reads the new
snapshot, recomputes its merge, and retries. A crash at ANY point
before the publish leaves the previous version fully intact (orphan
data files are invisible until :meth:`vacuum` removes them); a crash
after it is a completed commit. This is the Delta/Iceberg optimistic
protocol in miniature; the CAS primitive is per-filesystem
(:mod:`~mora_spark.engine.storefs`): POSIX ``link(2)`` for scheme-less
and ``file://`` roots, fail-if-exists ``rename`` on HDFS, and a loud
refusal on object stores (they need a conditional-PUT log store).

Scale notes: a merge touches ONLY the partitions present in the
incoming batch (partition tuples are collected — bounded by
series × years, not row count — and pruned against the manifest
driver-side, so untouched partitions are never read OR rewritten).
Rewritten partitions are sorted within by ts at write, so downstream
range scans stay sequential.

Manifests are PAGED, Iceberg-style: the versioned commit file lists
one pointer per partition — ``{partition-tuple, page-file, n_files}``
— and each immutable page file under ``_log/pages/`` holds that
partition's data-file list. So at ~1e6 files the commit file scales
with the number of PARTITIONS (series × years), not files; a write
re-pages only the partitions it touches and carries every other
pointer forward by reference; and a keyed read prunes at the POINTER
level, loading only the matching partitions' pages before any data
file is even named. The commit point — the CAS on the version file —
is unchanged; page files are txn-unique and invisible until a commit
references them.

Timestamps: every ts bound the store keeps or compares — merge and
rollup spans, the per-file ``lo``/``hi`` stats in the pages, and the
``start``/``end``/``as_of`` bounds of :meth:`CandleStore.read` — is an
integer count of epoch microseconds produced by Spark
(``F.unix_micros``) or by PySpark's own conversion
(``TimestampType().toInternal``), never by datetime arithmetic here. A
naive datetime bound therefore means what ``F.lit`` of it means to
PySpark: driver-local time; an aware one is exact. Year partitions are
UTC years, because :func:`~mora_spark.session.get_spark` pins
``spark.sql.session.timeZone=UTC``. The answer does not depend on the
driver's timezone.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mora_spark.localdf import tiny_df
from mora_spark.schema import CANDLE_COLUMNS, CANDLE_PARTITIONS, CANDLE_SCHEMA

_KEY = ["market", "code", "candle_length", "ts"]

MAX_COMMIT_RETRIES = 10

# Every K-th commit refreshes the _last_checkpoint marker; the hot-path
# current() then stat-probes forward from it (versions are DENSE — the
# CAS publishes exactly version+1 — so the probe is <= K stats plus the
# concurrency window) instead of listing the whole _log/ directory.
CHECKPOINT_INTERVAL = 10


class VersionVacuumedError(RuntimeError):
    """Time travel to a version older than the newest vacuum: vacuum
    reclaims data files the newest manifest no longer references, so
    older snapshots may name deleted files (Delta-style retention)."""


class VersionExpiredError(RuntimeError):
    """Time travel to a version whose manifest file was removed by
    :meth:`CandleStore.expire_versions` (log retention)."""


#: Epoch-micros (lo, hi) a file records when its footer has no ts
#: statistics: the whole int64 range, so the file overlaps every span
#: and every read bound (never carried by a merge, never skipped).
_NO_TS_STATS = (-(2**63), 2**63 - 1)

_TS = T.TimestampType()


def _utc(micros: int) -> dt.datetime:
    """The aware UTC datetime of an epoch-micros value (exact)."""
    return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        microseconds=micros
    )


def _parquet_ts_range(source, col: str = "ts") -> tuple[int, int]:
    """(min, max) epoch micros of ``col`` from the parquet footer's
    row-group statistics — one driver-side footer read per staged
    file (the source of the manifest's file-level skipping stats).
    ``source`` is a local path or a seekable file-like (the storefs
    adapter's ``open_parquet`` — a HadoopInputFile for scheme roots).
    pyarrow returns the stats of Spark's INT64 ``isAdjustedToUTC``
    column as aware UTC datetimes, so ``toInternal`` is exact.
    :data:`_NO_TS_STATS` when any row group lacks min/max for the
    column."""
    try:
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(source).metadata
        finally:
            if hasattr(source, "close"):
                source.close()
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        ci = names.index(col)
        lo = hi = None
        for r in range(md.num_row_groups):
            st = md.row_group(r).column(ci).statistics
            if st is None or not st.has_min_max:
                return _NO_TS_STATS
            mn, mx = _TS.toInternal(st.min), _TS.toInternal(st.max)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if lo is None:
            return _NO_TS_STATS
        return lo, hi
    except Exception:
        # stats are an optimization, never a correctness need
        return _NO_TS_STATS


def _local(path: str) -> str:
    """Strip a bare single-slash ``file:`` prefix (the non-URI spelling
    some Hadoop tooling emits) so scheme-less roots run the direct
    POSIX adapter. Full ``scheme://`` roots — ``file://`` included —
    are NOT stripped: CandleStore routes them through the Hadoop
    FileSystem seam (storefs), which is exactly how the in-container
    tests exercise the remote-root code paths."""
    if path.startswith("file://"):
        return path
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


class _TxnLog:
    """Versioned, PAGED manifest log with a per-filesystem
    compare-and-swap commit point.

    Version N is the file ``_log/{N:012d}.json`` holding one POINTER per
    partition: ``{"partition": {...}, "page": "pages/<txn>-k.json",
    "n": n_files}``. Each page file is an immutable JSON list of that
    partition's data files, one ``{"p", "lo", "hi"}`` item each: the
    path relative to ``data/`` and the file's ts min/max in epoch
    micros (:data:`_NO_TS_STATS` when the footer has none). The newest
    version wins; publishing is atomic-create-if-absent, so exactly one
    of any set of racing writers commits each version. Page files a
    crashed or CAS-losing writer leaves behind are unreferenced and
    harmless (small JSON; bounded by commits x touched partitions).

    All I/O routes through a :mod:`~mora_spark.engine.storefs` adapter:
    POSIX for scheme-less roots (link(2) CAS — the reference's
    file-store analogue), the session's Hadoop FileSystem for
    ``scheme://`` roots (HDFS rename — atomic, fails-if-destination-
    exists — is the same CAS primitive; object stores without atomic
    rename are refused, they need a conditional-PUT layer like Delta's
    LogStore). ``file://`` roots exercise the Hadoop route end-to-end
    with the local-scheme link(2) drop-down for the CAS itself (see
    storefs.HadoopFS.publish_cas).
    """

    def __init__(self, root: str, fs=None):
        from mora_spark.engine.storefs import store_fs

        self.fs = fs if fs is not None else store_fs(root)
        self.dir = os.path.join(root, "_log")
        self.pages_dir = os.path.join(self.dir, "pages")
        self.marker_path = os.path.join(self.dir, "_last_checkpoint")

    def versions(self) -> list[int]:
        """All committed versions, ascending (full listing — used by
        history()/maintenance, never the read/write hot path)."""
        return sorted(
            int(n[:-5])
            for n in self.fs.listdir(self.dir)
            if n.endswith(".json") and n[:-5].isdigit()
        )

    def _vpath(self, version: int) -> str:
        return os.path.join(self.dir, f"{version:012d}.json")

    # -- checkpoint marker + retention record ------------------------

    def checkpoint_hint(self) -> int:
        """Version recorded in ``_last_checkpoint`` (0 if none). A
        HINT, not truth: current_version() verifies it and probes
        forward; a stale/corrupt marker only costs a listdir."""
        try:
            return int(json.loads(self.fs.read_text(self.marker_path))["version"])
        except (FileNotFoundError, ValueError, KeyError):
            return 0

    def write_checkpoint(self, version: int, txn: str) -> None:
        """Advance the marker to ``version`` (monotonic; atomic
        tmp+rename). Losing a race just leaves an older hint — the
        forward probe absorbs it."""
        if version <= self.checkpoint_hint():
            return
        tmp = os.path.join(self.dir, f".ckpt-{txn}")
        self.fs.write_file(tmp, json.dumps({"version": version}))
        self.fs.replace(tmp, self.marker_path)

    @property
    def retention_markers_dir(self) -> str:
        return os.path.join(self.dir, "_retention")

    def retention(self) -> dict:
        """{"vacuum_horizon": V, "expired_before": X} — both optional,
        both monotonically advanced by update_retention. Each advance
        is a CREATE-ONLY marker file ``_retention/{key}.{value:012d}``
        (value in the NAME, nothing to parse or corrupt); the field's
        value is the max over markers, so concurrent maintenance ops —
        two vacuums, a vacuum racing an expire — can never regress or
        lose a field the way any read-modify-write of a shared record
        could. The marker dir stays tiny (lower markers are swept on
        each advance)."""
        out: dict = {}
        for n in self.fs.listdir(self.retention_markers_dir):
            key, _, raw = n.rpartition(".")
            if key and raw.isdigit():
                out[key] = max(int(raw), out.get(key, 0))
        return out

    def update_retention(self, **fields: int) -> None:
        d = self.retention_markers_dir
        self.fs.makedirs(d)
        for k, v in fields.items():
            v = int(v)
            # creation IS the record; content irrelevant
            self.fs.touch(os.path.join(d, f"{k}.{v:012d}"))
            # Opportunistic sweep: removing any marker strictly below
            # another existing marker never changes the max.
            for n in self.fs.listdir(d):
                key, _, raw = n.rpartition(".")
                if key == k and raw.isdigit() and int(raw) < v:
                    try:
                        self.fs.remove(os.path.join(d, n))
                    except FileNotFoundError:
                        pass

    def current_version(self) -> int:
        """Newest committed version WITHOUT listing the log directory:
        start at the checkpoint marker and stat-probe forward through
        the dense version sequence. O(commits since last checkpoint),
        independent of total log size; falls back to a full listing
        only when no (valid) marker exists yet."""
        start = self.checkpoint_hint()
        if not (start and self.fs.exists(self._vpath(start))):
            vs = self.versions()
            return vs[-1] if vs else 0
        v = start
        while self.fs.exists(self._vpath(v + 1)):
            v += 1
        return v

    def read_version(self, version: int) -> dict:
        """The manifest record {version, txn, pages} at ``version``."""
        try:
            return json.loads(self.fs.read_text(self._vpath(version)))
        except FileNotFoundError:
            floor = self.retention().get("expired_before", 0)
            if version < floor:
                raise VersionExpiredError(
                    f"version {version} was expired by log retention "
                    f"(versions before {floor} are gone); time travel "
                    f"is bounded by expire_versions(keep_last=...)"
                ) from None
            raise

    def pointers_at(self, version: int) -> list[dict]:
        return self._pointers_of(self.read_version(version), version)

    @staticmethod
    def _pointers_of(m: dict, version: int) -> list[dict]:
        """Partition pointers of an already-parsed manifest record."""
        if "pages" not in m:
            raise ValueError(
                f"unsupported manifest format at version {version}: "
                f"expected a 'pages' field, found keys {sorted(m)}"
            )
        return m["pages"]

    def load_page(self, pointer: dict) -> list[dict]:
        """Expand one partition pointer to its file entries, each with
        the file's ts min/max in epoch micros — the Delta-style
        file-level statistics the merge and read paths prune on."""
        items = json.loads(
            self.fs.read_text(os.path.join(self.dir, pointer["page"]))
        )
        return [
            {
                "path": it["p"],
                "ts_lo": it["lo"],
                "ts_hi": it["hi"],
                "partition": pointer["partition"],
            }
            for it in items
        ]

    def entries_at(self, version: int, keep=None) -> list[dict]:
        """Flattened file entries at ``version``; with ``keep`` (a
        predicate on pointers) only MATCHING partitions' pages are even
        opened — manifest-level pruning before any data file is named."""
        out: list[dict] = []
        for ptr in self.pointers_at(version):
            if keep is not None and not keep(ptr):
                continue
            out.extend(self.load_page(ptr))
        return out

    def current(self) -> tuple[int, list[dict]]:
        """Newest (version, pointers); (0, []) for an empty store.

        A concurrent expire_versions can delete files the forward
        probe was walking, making it stop early on a just-deleted
        version — so a failed pointer read falls back to a fresh full
        listing (the expirer keeps everything >= its floor, so the
        listing's newest version is always readable)."""
        v = self.current_version()
        if not v:
            return 0, []
        try:
            return v, self.pointers_at(v)
        except (FileNotFoundError, VersionExpiredError):
            vs = self.versions()
            if not vs:
                return 0, []
            return vs[-1], self.pointers_at(vs[-1])

    def version_at(self, as_of_s: float) -> int:
        """Newest version whose commit time is <= ``as_of_s`` (epoch
        seconds) — Delta's TIMESTAMP AS OF. Binary search over the
        DENSE retained version range, so resolution costs O(log
        versions) manifest reads, not a scan. Commit times are
        monotone because commits serialize through the CAS. Returns 0
        when nothing was committed that early (or the era was
        expired)."""
        lo = max(1, self.retention().get("expired_before", 1))
        hi = self.current_version()
        best = 0
        while lo <= hi:
            mid = (lo + hi) // 2
            try:
                ts = float(self.read_version(mid).get("ts", 0.0))
            except (FileNotFoundError, VersionExpiredError):
                lo = mid + 1  # expired under us: only newer remain
                continue
            if ts <= as_of_s:
                best = mid
                lo = mid + 1
            else:
                hi = mid - 1
        return best

    def write_page(
        self, partition: dict, files: list[dict], txn: str, k: int
    ) -> dict:
        """Write one immutable page file; returns its pointer. Unique
        (txn, k) naming means no CAS is needed here — a page is dead
        weight until a committed version references it."""
        self.fs.makedirs(self.pages_dir)
        rel = os.path.join("pages", f"{txn}-{k:06d}.json")
        tmp = os.path.join(self.dir, rel + ".tmp")
        items = [
            {"p": e["path"], "lo": e["ts_lo"], "hi": e["ts_hi"]}
            for e in sorted(files, key=lambda e: e["path"])
        ]
        self.fs.write_file(tmp, json.dumps(items))
        # replace, not rename: the append retry loop reuses (txn, k)
        # after a lost commit race, so the destination may exist from
        # the losing attempt. Pages are txn-private until a committed
        # manifest references them, so overwrite is safe — while a
        # fail-if-exists rename (HDFS semantics) would turn contended
        # appends into OSErrors (r16 ADVICE #1).
        self.fs.replace(tmp, os.path.join(self.dir, rel))
        return {"partition": partition, "page": rel, "n": len(items)}

    def try_commit(self, version: int, pointers: list[dict], txn: str) -> bool:
        """CAS-publish ``version``; False if a racer got there first.

        Before linking, this txn's OWN page files are stat-verified: a
        concurrent expire_versions page sweep could (past its mtime
        guard) have reclaimed a not-yet-referenced page, and
        publishing a manifest that names a deleted page would poison
        every subsequent read. A missing page returns False — the
        caller's retry loop rewrites pages and tries again. (Carried-
        forward pointers are referenced by the retained tip, so the
        sweep never touches them.)"""
        for p in pointers:
            rel = p.get("page", "")
            if rel.startswith(os.path.join("pages", f"{txn}-")):
                if not self.fs.exists(os.path.join(self.dir, rel)):
                    return False
        self.fs.makedirs(self.dir)
        tmp = os.path.join(self.dir, f".tmp-{txn}")
        self.fs.write_file(
            tmp,
            json.dumps(
                {
                    "version": version,
                    "txn": txn,
                    "ts": time.time(),  # for timestamp time travel
                    "pages": pointers,
                }
            ),
        )
        # Atomic fail-if-exists publish: the commit point (link(2) on
        # POSIX/file://, fail-if-exists rename on HDFS — storefs).
        if not self.fs.publish_cas(tmp, self._vpath(version)):
            return False
        if version % CHECKPOINT_INTERVAL == 0:
            # The link above IS the commit point; the marker is a hint.
            # A marker-write failure (disk full, permissions) must not
            # fail the already-durable commit — the caller would retry
            # and double-apply the batch.
            try:
                self.write_checkpoint(version, txn)
            except OSError:
                pass
        return True


class CandleStore:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 0):
        """``n_buckets > 0`` lays every data file out Hive-BUCKETED by
        ``hash(ts) % n_buckets`` within each partition dir (the only
        candle data column — market/length/code/year are partition
        dirs). The payoff is :meth:`bucketed_view`: store-store joins
        on the candle key run with ZERO shuffle exchange, paid for by
        one extra hash-shuffle of each INGEST batch (batch-sized, not
        corpus-sized). The spec is persisted at first write and
        re-adopted on reopen; flipping it on an existing store would
        mix layouts and is refused."""
        from mora_spark.engine.storefs import store_fs

        self.spark = spark
        # scheme:// roots route driver-side metadata I/O through the
        # session's Hadoop FileSystem (storefs seam); scheme-less (and
        # bare "file:" single-slash) roots keep the zero-overhead
        # POSIX path.
        self.path = path if "://" in path else _local(path)
        self._fs = store_fs(self.path)
        self.data_dir = os.path.join(self.path, "data")
        self._log = _TxnLog(self.path, self._fs)
        self._spec_path = os.path.join(self.path, "_bucket_spec.json")
        persisted = self._read_bucket_spec()
        if persisted:
            if n_buckets and n_buckets != persisted:
                raise ValueError(
                    f"store at {self.path} is bucketed into {persisted}; "
                    f"cannot reopen with n_buckets={n_buckets}"
                )
            n_buckets = persisted
        elif n_buckets and self._exists():
            raise ValueError(
                f"store at {self.path} already holds unbucketed data; "
                f"bucketing cannot be enabled retroactively (rewrite "
                f"into a new store instead)"
            )
        self.n_buckets = n_buckets

    def _read_bucket_spec(self) -> int:
        try:
            return int(
                json.loads(self._fs.read_text(self._spec_path)).get(
                    "n_buckets", 0
                )
            )
        except FileNotFoundError:
            return 0

    def _persist_bucket_spec(self) -> None:
        if self.n_buckets and not self._fs.exists(self._spec_path):
            self._fs.makedirs(self.path)
            tmp = self._spec_path + ".tmp"
            self._fs.write_file(
                tmp, json.dumps({"n_buckets": self.n_buckets, "col": "ts"})
            )
            self._fs.replace(tmp, self._spec_path)

    # -- helpers -----------------------------------------------------

    def _exists(self) -> bool:
        return self._log.current()[0] > 0

    @staticmethod
    def _with_year(df: DataFrame) -> DataFrame:
        # Year derivation mirrors CandleList.SplitByYear
        # (common/candle.go:70-80). Year 0 is the reference's reserved
        # sentinel (page/index.go:30-32); nothing enforces it here
        # because timestamps before year 1 are unrepresentable anyway.
        return df.withColumn("year", F.year("ts"))

    def _normalize(self, df: DataFrame) -> DataFrame:
        missing = [c for c in CANDLE_COLUMNS if c not in df.columns]
        if missing:
            raise ValueError(f"candle batch missing columns: {missing}")
        return self._with_year(df.select(*CANDLE_COLUMNS))

    @staticmethod
    def _tuple_of(entry: dict) -> tuple[str, ...]:
        """Partition tuple of a file entry OR a manifest pointer (both
        carry the same ``partition`` dict)."""
        return tuple(entry["partition"][c] for c in CANDLE_PARTITIONS)

    @classmethod
    def _group_by_partition(cls, entries: list[dict]) -> dict[tuple, dict]:
        """{partition tuple: {"partition", "files"}} for staged entries
        (full entry dicts, so per-file ts stats ride along)."""
        by_part: dict[tuple, dict] = {}
        for e in entries:
            g = by_part.setdefault(
                cls._tuple_of(e), {"partition": e["partition"], "files": []}
            )
            g["files"].append(e)
        return by_part

    def _page_out(self, entries: list[dict], txn: str) -> list[dict]:
        """Group staged file entries by partition and write one page
        per partition; returns the new pointers."""
        return [
            self._log.write_page(g["partition"], g["files"], txn, k)
            for k, g in enumerate(self._group_by_partition(entries).values())
        ]

    def _entries_for(self, pointers: list[dict]) -> list[dict]:
        """Flatten already-loaded pointers to file entries (avoids
        re-reading the version file entries_at would parse again)."""
        return [e for p in pointers for e in self._log.load_page(p)]

    #: Explicit schema for manifest-listed reads: the file columns
    #: (CANDLE_SCHEMA minus the partition columns, which partitionBy
    #: removes from the files) followed by the partition columns in
    #: layout order — exactly what partition-aware inference would
    #: reconstruct, supplied up front so every manifest-pruned read
    #: skips the footer-sniffing inference job (the r17 profile of the
    #: streaming rollup line counted 16 such "parquet" jobs, one per
    #: store read; every consumer selects columns by name, so only the
    #: name/type set matters).
    _READ_SCHEMA = T.StructType(
        [f for f in CANDLE_SCHEMA.fields if f.name not in CANDLE_PARTITIONS]
        + [
            T.StructField("market", T.StringType(), True),
            T.StructField("candle_length", T.IntegerType(), True),
            T.StructField("code", T.StringType(), True),
            T.StructField("year", T.IntegerType(), True),
        ]
    )

    def _read_files(self, entries: list[dict]) -> DataFrame:
        if not entries:
            schema = T.StructType(
                CANDLE_SCHEMA.fields
                + [T.StructField("year", T.IntegerType(), True)]
            )
            return tiny_df(self.spark, [], schema)
        paths = [os.path.join(self.data_dir, e["path"]) for e in entries]
        # basePath keeps Hive partition-column parsing over an
        # explicit (manifest-pruned) file list.
        return (
            self.spark.read.schema(self._READ_SCHEMA)
            .option("basePath", self.data_dir)
            .parquet(*paths)
        )

    # -- write path --------------------------------------------------

    def _stage_and_publish(
        self, df: DataFrame, txn: str, max_records_per_file: int = 0
    ) -> list[dict]:
        """Write ``df`` as Hive-partitioned Parquet under a staging dir,
        then move the files into the live tree under txn-unique names.
        The moved files stay invisible until a manifest lists them."""
        staging = os.path.join(self.path, "_staging", txn)
        if self.n_buckets:
            # Bucketed layout: saveAsTable is the only write path that
            # emits Spark's bucket-id file naming (part-...._NNNNN....),
            # which is what bucketed_view() later re-exposes to the
            # planner. The catalog entry is a throwaway; the files are
            # what we keep (explicit path => EXTERNAL => DROP keeps
            # them). sortBy orders each bucket by ts, preserving the
            # reference's sorted-page locality (page/page.go:65).
            self._persist_bucket_spec()
            tmp = f"__mora_stage_{txn}"
            writer = (
                df.write.partitionBy(*CANDLE_PARTITIONS)
                .bucketBy(self.n_buckets, "ts")
                .sortBy("ts")
                .mode("overwrite")
                .option("path", staging)
            )
            if max_records_per_file:
                writer = writer.option(
                    "maxRecordsPerFile", max_records_per_file
                )
            try:
                writer.saveAsTable(tmp)
            finally:
                self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        else:
            writer = (
                df.sortWithinPartitions(*CANDLE_PARTITIONS, "ts")
                .write.partitionBy(*CANDLE_PARTITIONS)
                .mode("overwrite")
            )
            if max_records_per_file:
                writer = writer.option(
                    "maxRecordsPerFile", max_records_per_file
                )
            writer.parquet(staging)
        entries: list[dict] = []
        for rel, _mtime in self._fs.walk_files(staging):
            name = os.path.basename(rel)
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.dirname(rel)
            parts = dict(
                seg.split("=", 1) for seg in rel_dir.split("/")
            )
            partition = {
                c: unquote(parts[c]) for c in CANDLE_PARTITIONS
            }
            dest_rel = os.path.join(rel_dir, f"{txn}-{name}")
            dest = os.path.join(self.data_dir, dest_rel)
            self._fs.makedirs(os.path.dirname(dest))
            self._fs.rename(os.path.join(staging, rel), dest)
            lo, hi = _parquet_ts_range(self._fs.open_parquet(dest))
            entries.append(
                {"path": dest_rel, "partition": partition,
                 "ts_lo": lo, "ts_hi": hi}
            )
        self._fs.rmtree(staging)
        return entries

    def write(self, df: DataFrame, mode: str = "merge") -> None:
        """Upsert (``merge``) or blind-append (``append``) a batch.

        merge: for every (market, candle_length, code, year) partition
        present in the batch, existing rows are read back (manifest-
        pruned), unioned with the batch, deduplicated last-writer-wins
        (batch wins), and the partition's files are replaced in one
        atomic manifest commit. Partitions not in the batch are neither
        read nor rewritten. Concurrent writers serialize through the
        manifest CAS: the loser recomputes against the winner's
        snapshot, so no committed row is ever lost.
        """
        batch = self._normalize(df)
        if mode == "append":
            txn = uuid.uuid4().hex
            new = self._stage_and_publish(batch, txn)
            by_part = self._group_by_partition(new)
            for _ in range(MAX_COMMIT_RETRIES):
                # Data is snapshot-independent: reuse the staged files,
                # retry only the re-page + manifest union on conflict.
                # Only TOUCHED partitions get new pages; every other
                # pointer is carried forward by reference.
                version, pointers = self._log.current()
                out, k, seen = [], 0, set()
                for ptr in pointers:
                    t = self._tuple_of(ptr)
                    if t in by_part:
                        files = (
                            self._log.load_page(ptr) + by_part[t]["files"]
                        )
                        out.append(
                            self._log.write_page(
                                ptr["partition"], files, txn, k
                            )
                        )
                        k += 1
                        seen.add(t)
                    else:
                        out.append(ptr)
                for t, g in by_part.items():
                    if t not in seen:
                        out.append(
                            self._log.write_page(
                                g["partition"], g["files"], txn, k
                            )
                        )
                        k += 1
                if self._log.try_commit(version + 1, out, txn):
                    return
            raise RuntimeError("append: commit contention, retries exhausted")
        if mode != "merge":
            raise ValueError(f"unknown write mode: {mode}")

        # Partition tuple count is bounded (series x years), so the
        # collect and the driver-side manifest pruning stay small even
        # for huge row counts. ONE aggregation returns the partition set
        # AND its per-partition ts span, so the read-back can skip files
        # whose stats range cannot collide with the batch.
        self._merge(
            batch,
            {
                tuple(str(r[c]) for c in CANDLE_PARTITIONS): (
                    r["__lo"], r["__hi"]
                )
                for r in batch.groupBy(*CANDLE_PARTITIONS)
                .agg(
                    F.min(F.unix_micros("ts")).alias("__lo"),
                    F.max(F.unix_micros("ts")).alias("__hi"),
                )
                .collect()
            },
        )

    def _merge(
        self,
        batch: DataFrame,
        touched_spans: dict[tuple[str, ...], tuple[int, int]],
    ) -> None:
        """The LWW merge of a normalized ``batch``. ``touched_spans``
        maps EVERY partition tuple the batch has rows in to the batch's
        (min, max) ts in epoch micros there: a partition missing from
        it would keep its old pointer next to the new page, and a span
        narrower than the batch would carry colliding files unmerged."""

        def _collides(e: dict, t: tuple[str, ...]) -> bool:
            # A carried (neither re-read nor rewritten) file must be
            # PROVABLY collision-free with the batch: rows collide only
            # on an equal candle key, the file shares the partition's
            # (market, candle_length, code), and every batch row of
            # partition t has ts inside its span — so a file whose
            # manifest ts range is disjoint from the span shares no key
            # with the batch and the LWW merge would pass its rows
            # through verbatim. A file without footer stats records
            # the whole int64 range and always merges.
            lo, hi = touched_spans[t]
            return not (e["ts_hi"] < lo or e["ts_lo"] > hi)

        for _ in range(MAX_COMMIT_RETRIES):
            txn = uuid.uuid4().hex
            version, pointers = self._log.current()
            replaced = [
                p for p in pointers if self._tuple_of(p) in touched_spans
            ]
            kept = [
                p for p in pointers if self._tuple_of(p) not in touched_spans
            ]
            # File-level pruning of the merge read-back (the
            # continuous-ingest hot path): only files whose ts range
            # can overlap the batch's span for their partition are read
            # back and rewritten; disjoint files are CARRIED into the
            # new page by reference — per-batch merge cost tracks the
            # batch's span, not the partition's accumulated history
            # (previously every micro-batch re-read and rewrote every
            # earlier batch's rows of each touched partition).
            overlap_entries: list[dict] = []
            carried: list[dict] = []
            for ptr in replaced:
                t = self._tuple_of(ptr)
                for e in self._log.load_page(ptr):
                    (overlap_entries if _collides(e, t) else carried).append(e)
            if overlap_entries:
                existing = self._read_files(overlap_entries).select(
                    *batch.columns
                )
                merged = (
                    existing.withColumn("__seq", F.lit(0))
                    .unionByName(batch.withColumn("__seq", F.lit(1)))
                )
                w = Window.partitionBy(*_KEY).orderBy(F.col("__seq").desc())
                merged = (
                    merged.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1)
                    .drop("__rn", "__seq")
                )
            else:
                merged = batch
            new = self._stage_and_publish(merged, txn)
            pages = self._page_out(new + carried, txn)
            if self._log.try_commit(version + 1, kept + pages, txn):
                return
            # Lost the race: the published-but-uncommitted files and
            # pages are orphans (invisible; vacuum reclaims the data
            # files). Recompute the merge against the winner's snapshot.
        raise RuntimeError("merge: commit contention, retries exhausted")

    def vacuum(self, older_than_s: float = 3600.0) -> int:
        """Delete data files not referenced by the newest manifest, and
        stale staging dirs. ``older_than_s`` guards racing writers that
        have published files but not yet committed (Delta-style
        retention); pass 0 only when no writer is active. Returns the
        number of files removed. Superseded PAGE files are kept — they
        are small JSON under ``_log/`` and older version files reference
        them for time travel; only data files age out. The VACUUM
        HORIZON advances only past snapshots that actually LOST a
        referenced file — so :meth:`read` with ``version <`` horizon
        raises :class:`VersionVacuumedError` instead of an opaque read
        error, while a vacuum that reclaimed only orphans (files a
        crashed writer published but never committed) leaves every
        intact snapshot readable. A version whose manifest is CORRUPT
        is fenced individually (per-version marker, same typed error)
        without advancing the horizon, so intact history around it
        stays time-travelable."""
        at_version, pointers = self._log.current()
        # Manifest entries and the data-dir walk both speak RELATIVE
        # paths, so the liveness comparison is representation-agnostic
        # (URI-qualified listings vs joined strings never mismatch).
        live = {e["path"] for e in self._entries_for(pointers)}
        # Per retained older version: the data files it references.
        # Removing one of THOSE (not an orphan) is what invalidates
        # time travel to that snapshot. Retained versions are bounded
        # by expire_versions' keep_last policy, so this walk is cheap
        # relative to the data-dir scan below.
        old_refs: dict[int, set[str]] = {}
        corrupt: set[int] = set()
        for v in self._log.versions():
            if v == at_version:
                continue
            try:
                old_refs[v] = {
                    e["path"]
                    for e in self._entries_for(self._log.pointers_at(v))
                }
            except (FileNotFoundError, VersionExpiredError):
                pass  # concurrently expired; below the floor anyway
            except ValueError:
                # Corrupt/truncated manifest JSON: that snapshot is
                # unreadable regardless of what this vacuum removes.
                # Fence it (typed VersionVacuumedError on read) instead
                # of aborting every future vacuum run.
                corrupt.add(v)
        cutoff = time.time() - older_than_s
        removed = 0
        removed_paths: set[str] = set()
        for rel, mtime in self._fs.walk_files(self.data_dir):
            if rel not in live and mtime <= cutoff:
                try:
                    self._fs.remove(os.path.join(self.data_dir, rel))
                    removed += 1
                    removed_paths.add(rel)
                except FileNotFoundError:
                    pass  # another vacuum (or a racing rename) got it
        staging_root = os.path.join(self.path, "_staging")
        for d in self._fs.listdir(staging_root):
            p = os.path.join(staging_root, d)
            try:
                if self._fs.getmtime(p) <= cutoff:
                    self._fs.rmtree(p)
            except FileNotFoundError:
                pass  # concurrent vacuum, or the writer cleaned up
        # Half-written page temp files from a writer that crashed
        # between write+fsync and rename (committed pages are .json
        # and stay). A LIVE writer may rename its .tmp between our
        # listdir and stat — that file is healthy, skip it.
        for n in self._fs.listdir(self._log.pages_dir):
            p = os.path.join(self._log.pages_dir, n)
            if not n.endswith(".tmp"):
                continue
            try:
                if self._fs.getmtime(p) <= cutoff:
                    self._fs.remove(p)
            except FileNotFoundError:
                pass
        affected = [
            v for v, refs in old_refs.items() if refs & removed_paths
        ]
        if affected:
            # Everything at or below the newest snapshot whose data
            # files this run actually reclaimed is fenced (a single
            # scalar horizon — Delta-style); intact snapshots above it
            # stay readable.
            self._log.update_retention(vacuum_horizon=max(affected) + 1)
        if corrupt:
            # A corrupt manifest fences ONLY its own version — one
            # per-version marker each, not the scalar horizon — so
            # intact older snapshots whose data files are still
            # present remain time-travelable (ADVICE r5: folding
            # corrupt versions into the horizon over-fenced readable
            # history below them).
            self._log.update_retention(
                **{f"fenced_{v:012d}": v for v in corrupt}
            )
        return removed

    def expire_versions(
        self, keep_last: int = 100, older_than_s: float = 3600.0
    ) -> int:
        """Log retention: delete manifest version files older than the
        newest ``keep_last`` versions, then sweep page files that no
        RETAINED version references. Without this the ``_log/`` dir
        grows one file per commit forever (the round-3 audit's
        1e6-commit bottleneck). The expiry floor is recorded first, so
        time travel below it raises :class:`VersionExpiredError` even
        mid-delete; the checkpoint marker is advanced to the current
        version first, keeping the O(1) ``current()`` probe anchored
        on a retained file. The page sweep works from a LISTING of the
        pages dir (not from the expired manifests), so a crash in an
        earlier expiry cannot orphan pages forever — any page outside
        the retained set is reclaimed on the next run. ``older_than_s``
        protects a racing writer's freshly written, not-yet-committed
        pages, exactly like :meth:`vacuum`'s staging guard. Returns
        the number of version files removed."""
        versions = self._log.versions()
        if len(versions) <= keep_last:
            return 0
        tip = versions[-1]
        floor = versions[max(0, len(versions) - keep_last)]
        txn = uuid.uuid4().hex
        self._log.write_checkpoint(tip, txn)
        self._log.update_retention(expired_before=floor)
        keep_pages = set()
        for v in versions:
            if v < floor:
                continue
            try:
                keep_pages.update(
                    p["page"] for p in self._log.pointers_at(v)
                )
            except (FileNotFoundError, VersionExpiredError):
                pass  # a concurrent expirer with a higher floor got it
        removed = 0
        # Ascending deletion order matters: current()'s forward probe
        # stopping early on a deleted file then always FAILS its
        # pointer read (the earlier version is gone too) and falls
        # back to the listing, instead of silently reading stale.
        for v in versions:
            if v >= floor:
                continue
            try:
                self._fs.remove(self._log._vpath(v))
                removed += 1
            except FileNotFoundError:
                pass  # concurrent expiry
        cutoff = time.time() - older_than_s
        for name in self._fs.listdir(self._log.pages_dir):
            rel = os.path.join("pages", name)
            if rel in keep_pages or not name.endswith(".json"):
                continue
            p = os.path.join(self._log.pages_dir, name)
            try:
                if self._fs.getmtime(p) <= cutoff:
                    self._fs.remove(p)
            except FileNotFoundError:
                pass
        return removed

    def stats(self) -> DataFrame:
        """Per-(series, year) partition profile: row count, ts range,
        volume total — the operational view mora kept in page headers
        (Count/StartOffset/EndOffset, ``page/header.go:13-23``),
        computed here by one aggregation over manifest-listed files."""
        _, pointers = self._log.current()
        df = self._with_year(
            self._read_files(self._entries_for(pointers)).select(
                *CANDLE_COLUMNS
            )
        )
        return df.groupBy(*CANDLE_PARTITIONS).agg(
            F.count(F.lit(1)).alias("n_candles"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum("volume").alias("total_volume"),
        )

    def compact(self, target_file_mb: int = 128) -> None:
        """Rewrite every partition into size-targeted, ts-sorted files.

        Repeated micro-batch merges leave one small file per write per
        partition; compaction rewrites each partition's rows into
        ``ceil(bytes / target_file_mb)`` files sorted by ``ts`` — the
        parquet analogue of the reference keeping each page's body
        sorted (``page/page.go:95-142``) and the standard maintenance
        pass that keeps row-group min/max skipping effective at scale.
        One manifest CAS swaps the whole file set atomically; the old
        files remain until :meth:`vacuum`.
        """
        for _ in range(MAX_COMMIT_RETRIES):
            txn = uuid.uuid4().hex
            version, pointers = self._log.current()
            df = self._read_files(self._entries_for(pointers)).select(
                *CANDLE_COLUMNS
            )
            df = self._with_year(df).repartition(
                *[F.col(c) for c in CANDLE_PARTITIONS]
            )
            new = self._stage_and_publish(
                df, txn,
                max_records_per_file=target_file_mb * 1024 * 1024 // 64,
            )
            if self._log.try_commit(
                version + 1, self._page_out(new, txn), txn
            ):
                return
        raise RuntimeError("compact: commit contention, retries exhausted")

    def derive_rollup(
        self,
        batch: DataFrame,
        target_length_s: int,
        source_length_s: int = 60,
        anchor_s: int = 0,
    ) -> None:
        """Incrementally maintain a coarser candle series derived from
        a finer one stored here — the continuous-aggregate (hypertable
        rollup) pattern on the store's (market, code, candle_length,
        year) grid. The reference keys series by ``CandleLength``
        precisely so clients can store multiple granularities
        (`page/index.go:19-23`); this closes that loop engine-side.

        Call AFTER ``write(batch)``: the affected coarse buckets —
        exactly the distinct (market, code, bucket) keys present in the
        batch — are recomputed from the POST-WRITE source series and
        last-writer-wins-merged under ``candle_length =
        target_length_s``. Untouched buckets are neither read nor
        rewritten, so maintenance cost follows the batch, not the
        series: the read-back is manifest-pruned to the batch's ts
        span, and the bucket restriction is a broadcast semi-join on
        the batch's distinct bucket set (bounded by batch size).
        Recomputing a bucket from source is idempotent, so overlapping
        batches and upserts converge to the same bars as a full
        ``resample`` of the final source series (the invariant
        tests/test_store.py asserts).
        """
        from mora_spark.operators.resample import bucket_expr, resample

        if target_length_s % source_length_s:
            raise ValueError(
                "target_length_s must be a multiple of source_length_s"
            )
        b = self._normalize(batch)
        # The touched-bucket grid MUST be the identical expression
        # resample writes on (shared bucket_expr) — a divergent grid
        # would make the semi-join silently drop buckets. Buckets travel
        # as epoch micros, so the driver round trip of the touched set
        # is exact in any driver timezone.
        bucket = F.unix_micros(bucket_expr(target_length_s, anchor_s))
        # ONE pass over the batch collects the span, the granularity
        # bounds AND the touched-bucket set (bounded by the batch's
        # distinct (series, bucket) keys — the same cardinality the
        # broadcast semi-join below carries either way); computing the
        # bucket set as a separate distinct would re-evaluate the batch
        # in its own broadcast-build job.
        span = b.agg(
            F.min(F.unix_micros("ts")).alias("lo"),
            F.max(F.unix_micros("ts")).alias("hi"),
            F.min("candle_length").alias("len_lo"),
            F.max("candle_length").alias("len_hi"),
            F.collect_set(
                F.struct("market", "code", bucket.alias("__bucket"))
            ).alias("buckets"),
        ).collect()[0]
        if span["lo"] is None:
            return
        touched = tiny_df(
            self.spark,
            [
                (r["market"], r["code"], r["__bucket"])
                for r in span["buckets"]
            ],
            "market string, code string, __bucket long",
        )
        if (
            span["len_lo"] != source_length_s
            or span["len_hi"] != source_length_s
        ):
            # A wrong-granularity batch would compute a touched set
            # whose buckets the source read-back can't fill — the
            # derived series would go silently stale.
            raise ValueError(
                f"derive_rollup: batch candle_length"
                f" {span['len_lo']}..{span['len_hi']} != source series"
                f" length {source_length_s}"
            )
        pad = target_length_s * 1_000_000
        src = self.read(
            candle_length=source_length_s,
            start=_utc(span["lo"] - pad),
            end=_utc(span["hi"] + pad),
        ).withColumn("__bucket", bucket)
        affected = src.join(
            F.broadcast(touched), ["market", "code", "__bucket"]
        ).drop("__bucket")
        # The rollup batch's partition set is fully determined by the
        # touched-bucket grid collected above: every touched (market,
        # code, bucket) has >= 1 source row in the read-back span (its
        # own just-written batch rows at minimum), so resample emits
        # rows for exactly these keys -> partitions (market,
        # target_length, code, year(bucket)). Deriving them from the
        # TINY bucket table (one single-slice job; F.year keeps the
        # session-tz semantics of _normalize's year column) skips
        # write()'s span aggregation, which would re-evaluate the whole
        # read-back + resample chain once more per micro-batch just to
        # rediscover the same keys. The same aggregation yields each
        # partition's bucket span — resampled rows carry ts = bucket
        # start, so [min, max] bucket per partition is exactly the span
        # _merge needs to file-prune ITS read-back of the derived series.
        grid = (
            touched.groupBy(
                "market",
                "code",
                F.year(F.timestamp_micros("__bucket")).alias("y"),
            )
            .agg(
                F.min("__bucket").alias("__lo"),
                F.max("__bucket").alias("__hi"),
            )
            .collect()
        )
        self._merge(
            self._normalize(
                resample(affected, target_length_s, anchor_s=anchor_s)
            ),
            {
                (r["market"], str(target_length_s), r["code"], str(r["y"])):
                (r["__lo"], r["__hi"])
                for r in grid
            },
        )

    # -- read path ---------------------------------------------------

    def diff(
        self, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Row-level change set between two snapshots — the CDC/audit
        view the reference's snapshot-isolated accessor model implies
        (what did the restatement batch actually change?). Returns one
        row per candle key that differs between ``v_from`` and
        ``v_to`` (default: current), with ``change`` in
        {'insert', 'update', 'delete'} and the full before/after
        payload structs. Unchanged rows are dropped.

        Both sides are manifest-pruned snapshot reads; the full outer
        join shuffles on the candle key — on a bucketed store
        (``n_buckets``), pair two :meth:`bucketed_view` snapshots with
        :meth:`snapshot_diff` instead and the diff plans exchange-free
        (pinned in tests/test_store_bucketed.py and the
        q_store_diff_bucketed driver row)."""
        return self.snapshot_diff(
            self.read(version=v_from), self.read(version=v_to)
        )

    @staticmethod
    def snapshot_diff(a: DataFrame, b: DataFrame) -> DataFrame:
        """The diff comparator over two snapshot frames — shared by
        :meth:`diff` (manifest-pruned reads, shuffling full-outer) and
        the bucketed path, where the caller passes two
        :meth:`bucketed_view` registrations of the same ``n_buckets``
        spec: both sides arrive hash(ts)-partitioned, so the full
        outer join needs no exchange — CDC over a 100 TB store pair
        costs a co-located merge, not a reshuffle of both versions."""
        key = ["market", "code", "candle_length", "ts"]
        payload = [c for c in CANDLE_COLUMNS if c not in key]
        a = a.select(*key, F.struct(*payload).alias("before"))
        b = b.select(*key, F.struct(*payload).alias("after"))
        change = (
            F.when(F.col("before").isNull(), "insert")
            .when(F.col("after").isNull(), "delete")
            .when(F.col("before") != F.col("after"), "update")
        )
        return (
            a.join(b, key, "full_outer")
            .withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(*key, "change", "before", "after")
        )

    def bucketed_view(self, name: str) -> DataFrame:
        """Expose the CURRENT snapshot as a catalog-registered bucketed
        table so store-store joins plan with ZERO shuffle exchange.

        The manifest's live files are HARDLINKED (metadata-only; the
        inodes survive a racing vacuum) into a per-version view dir,
        preserving the Hive partition layout and the bucket-id file
        names the staged write produced; an external ``CLUSTERED BY
        (ts) INTO n BUCKETS`` table over that dir then carries
        ``hash(ts) % n`` into the planner, which is what a raw parquet
        read of the same files cannot do (the spec lives in the
        catalog). Two stores built with the same ``n_buckets`` join
        bucket-to-bucket — the 100 TB multi-feed enrichment (trades x
        quotes x marks) never shuffles either fact side. The catalog
        entry is session-local and rebuilt per call; the cost is one
        link(2) per live file."""
        if not self.n_buckets:
            raise ValueError(
                "bucketed_view requires a store created with n_buckets"
            )
        version, pointers = self._log.current()
        views_root = os.path.join(self.path, "_views")
        view_dir = os.path.join(views_root, f"{name}-v{version}")
        # Older versions' view dirs for this name are dead weight.
        for d in self._fs.listdir(views_root):
            if d.startswith(f"{name}-v"):
                self._fs.rmtree(os.path.join(views_root, d))
        for e in self._entries_for(pointers):
            src = os.path.join(self.data_dir, e["path"])
            dst = os.path.join(view_dir, e["path"])
            self._fs.makedirs(os.path.dirname(dst))
            # hardlink where the filesystem has one (POSIX/file://);
            # copy elsewhere (HDFS has no user-facing hardlink)
            self._fs.link_or_copy(src, dst)
        data_cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in CANDLE_SCHEMA.fields
            if f.name not in CANDLE_PARTITIONS
        )
        # Partition columns (year is derived, not in CANDLE_SCHEMA).
        part_cols = "market string, candle_length int, code string, year int"
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self.spark.sql(
            f"CREATE TABLE {name} ({data_cols}, {part_cols}) "
            f"USING parquet "
            f"PARTITIONED BY (market, candle_length, code, year) "
            f"CLUSTERED BY (ts) SORTED BY (ts) "
            f"INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{view_dir}'"
        )
        self.spark.sql(f"MSCK REPAIR TABLE {name}")
        return self.spark.table(name)

    def history(self) -> DataFrame:
        """The commit log as a table: one row per committed version with
        its transaction id and live-file count — the operational analogue
        of Delta's DESCRIBE HISTORY over this store's manifest log."""
        rows = []
        for v in self._log.versions():
            try:
                m = self._log.read_version(v)
            except (FileNotFoundError, VersionExpiredError):
                continue  # expired between the listing and the read
            except ValueError:
                continue  # corrupt manifest — fenced by vacuum, not us
            rows.append(
                (
                    v,
                    m.get("txn", ""),
                    sum(p["n"] for p in self._log._pointers_of(m, v)),
                    float(m.get("ts", 0.0)),
                )
            )
        return tiny_df(
            self.spark,
            rows,
            "version long, txn string, n_files long, committed_at double",
        )

    def read(
        self,
        market: str | None = None,
        code: str | None = None,
        candle_length: int | None = None,
        start=None,
        end=None,
        version: int | None = None,
        as_of=None,
    ) -> DataFrame:
        """Keyed/temporal read with two pruning layers: manifest entries
        are filtered driver-side (no file outside the key/year range is
        even listed to Spark), then the same predicates run as partition
        and row-group filters on the pruned scan.

        ``start``/``end`` are datetimes bounding ``ts`` as [start,
        end); they additionally prune whole (UTC) year partitions and
        files by their ts stats before any file is opened. A naive
        bound is driver-local time, as in PySpark's ``F.lit``.

        ``version`` time-travels: the scan is planned against that
        manifest snapshot instead of the newest one (the reference's
        snapshot-isolated accessor read; Delta's ``versionAsOf``). Data
        files are immutable and a manifest lists exactly its snapshot's
        files, so an old version stays byte-exactly readable until
        :meth:`vacuum` reclaims files the NEWEST manifest no longer
        references — vacuum bounds the time-travel horizon, as in Delta.
        """
        # The same conversion PySpark applies to the F.lit(start/end)
        # filters below, so the driver-side pruning and the Spark
        # filter agree on every bound in any driver timezone.
        lo_req = _TS.toInternal(start) if start is not None else None
        hi_req = _TS.toInternal(end) if end is not None else None

        def keep(e: dict) -> bool:
            p = e["partition"]
            if market is not None and p["market"] != market:
                return False
            if code is not None and p["code"] != code:
                return False
            if candle_length is not None and p["candle_length"] != str(
                candle_length
            ):
                return False
            if lo_req is not None and int(p["year"]) < _utc(lo_req).year:
                return False
            if hi_req is not None and int(p["year"]) > _utc(hi_req).year:
                return False
            return True

        # keep() runs on POINTERS: non-matching partitions' pages are
        # never opened, so planning cost scales with the partitions the
        # key touches, not the store's total file count. An explicit
        # ``version`` that was never committed raises; only the
        # implicit empty-store read returns empty.
        if as_of is not None:
            # Timestamp time travel (Delta's TIMESTAMP AS OF): resolve
            # the newest version committed at or before the instant,
            # then read that snapshot.
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            as_of_s = (
                float(as_of)
                if isinstance(as_of, (int, float))
                else _TS.toInternal(as_of) / 1e6
            )
            version = self._log.version_at(as_of_s)
            if not version:
                raise ValueError(
                    f"no committed version at or before {as_of!r} "
                    f"(earliest retained commit is newer, or the era "
                    f"was expired)"
                )

        def keep_file(e: dict) -> bool:
            # Delta-style file skipping on the manifest's ts stats:
            # a file whose [lo, hi] range cannot overlap [start, end)
            # is never even named to Spark (a file without footer
            # stats records the whole int64 range and always passes).
            if lo_req is not None and e["ts_hi"] < lo_req:
                return False
            if hi_req is not None and e["ts_lo"] >= hi_req:
                return False
            return True

        if version is not None:
            ret = self._log.retention()
            floor = ret.get("expired_before", 0)
            if version < floor:
                raise VersionExpiredError(
                    f"version {version} was expired by log retention "
                    f"(versions before {floor} are gone); time travel "
                    f"is bounded by expire_versions(keep_last=...)"
                )
            horizon = ret.get("vacuum_horizon", 0)
            if version < horizon:
                raise VersionVacuumedError(
                    f"version {version} predates the newest vacuum "
                    f"(horizon: version {horizon}); its data files may "
                    f"have been reclaimed. Time travel is bounded by "
                    f"vacuum, as in Delta retention."
                )
            if ret.get(f"fenced_{version:012d}"):
                raise VersionVacuumedError(
                    f"version {version} has a corrupt/unreadable "
                    f"manifest and was fenced by vacuum; its snapshot "
                    f"cannot be reconstructed (intact neighbors stay "
                    f"readable)."
                )
            entries = self._log.entries_at(version, keep=keep)
        else:
            v = self._log.current()[0]
            entries = self._log.entries_at(v, keep=keep) if v else []
        entries = [e for e in entries if keep_file(e)]
        df = self._read_files(entries)
        if market is not None:
            df = df.where(F.col("market") == market)
        if code is not None:
            df = df.where(F.col("code") == code)
        if candle_length is not None:
            df = df.where(F.col("candle_length") == candle_length)
        if start is not None:
            df = df.where(
                (F.col("ts") >= F.lit(start))
                & (F.col("year") >= F.year(F.lit(start)))
            )
        if end is not None:
            df = df.where(
                (F.col("ts") < F.lit(end))
                & (F.col("year") <= F.year(F.lit(end)))
            )
        return df.select(*CANDLE_COLUMNS)
