"""Scale-headroom probe: run the core operators on N shifted copies of
the sf0.1 tables (default 10x = ~1M events / 50k docs) and print
per-op wall times, plus the streaming store's per-micro-batch
maintenance curve read from the stream's progress events. Not part of
the tier-1 tests — evidence that the plans scale linearly rather than
hitting a cliff. Usage::

    python tools/scale_probe.py [n_copies]     # 10 and 20 are the usual runs
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from mora_spark.datasets import candles_from_events, load_table
from mora_spark.llm.dedup import minhash_lsh_pairs
from mora_spark.operators import fill_gaps, resample
from mora_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class _BatchProgress(StreamingQueryListener):
    """Per-micro-batch input rows and sink wall (``addBatch``) of one
    stream, from Structured Streaming's own progress events."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.done = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "add_batch_ms": dict(p.durationMs).get("addBatch", 0),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.done.set()

    def wait(self, timeout_s: float = 120.0) -> list[dict]:
        """The batches, once the (asynchronous) listener bus has
        delivered the stream's termination — it follows every progress
        event of that stream."""
        if not self.done.wait(timeout_s):
            raise TimeoutError("stream termination event not delivered")
        return sorted(self.batches, key=lambda b: b["batch_id"])


def scaled_events(spark, n):
    e = load_table(spark, SF_DIR, "events")
    copies = [
        e.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i * 100} DAYS"))
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def scaled_docs(spark, n):
    d = load_table(spark, SF_DIR, "documents")
    copies = [
        d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="mora_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    events = scaled_events(spark, n)
    docs = scaled_docs(spark, n)
    print(f"events={events.count():,} docs={docs.count():,} (x{n})")

    def run(name, df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        print(f"{name}: {time.time() - t0:.2f}s")

    candles = candles_from_events(events)
    run("candles_1m", candles)
    run("resample_5m", resample(candles, 300))
    run("gapfill", fill_gaps(candles))

    # Event analytics: the funnel is one shuffle on (user, day) + two
    # window passes; copy-mode scaling multiplies users n-fold with
    # per-key row counts unchanged, so it must scale with events.
    # Retention re-shuffles (distinct + cohort agg + rejoin) on
    # user_id — same property.
    from mora_spark.queries.relational import funnel_daily, retention_cohort

    run("funnel_daily", funnel_daily(events))
    run("retention_cohort", retention_cohort(events))
    run("minhash_lsh", minhash_lsh_pairs(docs))
    from mora_spark.llm.dedup import dedup_lines, neardup_clusters

    run("neardup_clusters", neardup_clusters(docs, threshold=0.8))

    # Line-level corpus dedup is a corpus-wide posexplode of every
    # line — THE shape to probe: as copies multiply, the duplication
    # ratio of every line rises, and the winner-agg + semi-join plan
    # must stay flat (a first-occurrence window would concentrate each
    # hot line in one sort partition and cliff here).
    run("dedup_lines", dedup_lines(docs))

    # Train-shard export: md5 permutation + per-shard rank windows —
    # uniform by construction, so the probe verifies the rank sort
    # scales with rows/shard, not corpus shape.
    from mora_spark.llm.curation import train_shards

    run("train_shards", train_shards(docs))

    # Bigram LM scoring: a corpus-wide bigram explode feeding two
    # map-side-combined count aggs and two equi-joins back onto the
    # exploded stream. As copies multiply, every bigram's count rises
    # n-fold while distinct keys stay constant — the probe verifies
    # the count aggs combine map-side (flat) and the join stays a
    # hash shuffle on the bigram key (no broadcast-of-counts assumed).
    from mora_spark.llm.curation import lm_score

    run("lm_score", lm_score(docs))

    # Substring-span dedup: copy-mode scaling multiplies every
    # shingle's document frequency by n_copies, so with the default
    # cap every base-UNIQUE shingle would spawn C(n,2) pairs — pure
    # output explosion, the failure mode the df cap exists to stop.
    # Probe with the cap BELOW the copy factor: verifies the
    # freq-count + cap-join stages scale linearly and that the cap
    # suppresses the pair blow-up (the production boilerplate guard).
    from mora_spark.llm.dedup import duplicate_spans

    run("dup_spans_capped", duplicate_spans(docs, max_df=max(2, n - 2)))

    # Incremental dedup: index the standing corpus once, then dedup a
    # 10% increment against the persisted index (what a continuous
    # ingestion pipeline pays per batch — watch that it scales with
    # the INCREMENT, not the corpus).
    import shutil as _sh0
    import tempfile as _tf0
    import time as _t0mod

    from mora_spark.llm.dedup import (
        build_minhash_index,
        dedup_increment,
        load_minhash_index,
        save_minhash_index,
    )

    ix = _tf0.mkdtemp(prefix="scale_ix_")
    try:
        t0 = time.time()
        save_minhash_index(
            *build_minhash_index(docs.where(F.col("doc_id") % 10 != 0)), ix
        )
        print(f"index_build: {time.time() - t0:.2f}s")
        bands, groups = load_minhash_index(spark, ix)
        run(
            "dedup_increment",
            dedup_increment(
                docs.where(F.col("doc_id") % 10 == 0), bands, groups
            ),
        )
    finally:
        _sh0.rmtree(ix, ignore_errors=True)

    # Curation family: sampling is scan-stage; decontamination joins a
    # broadcast shingle set; packing's prefix sum collects one subtotal
    # per id-chunk (n_docs/chunk driver rows — the knob to watch here).
    from mora_spark.llm.curation import (
        decontaminate,
        pack_sequences,
        stratified_sample,
        vocab_topk,
    )

    run(
        "stratified_sample",
        stratified_sample(docs, "lang", {"en": 0.5}, default_rate=0.1),
    )
    bench_side = docs.where(F.col("doc_id") % 20 == 0)
    train_side = docs.where(F.col("doc_id") % 20 != 0)
    run("decontaminate", decontaminate(train_side, bench_side))
    run("vocab_topk", vocab_topk(docs))
    run("pack_sequences", pack_sequences(docs, chunk=4096))

    # Streaming continuous aggregate, end-to-end: replay the scaled
    # corpus as EQUAL-SIZED micro-batches covering disjoint time
    # windows (each copy is ts-shifted 100 days), so the persisted
    # series grows by one window per batch while batch size stays
    # constant. The contract under test: per-batch maintenance wall
    # (merge + derive_rollup) tracks the BATCH, not the accumulated
    # series — the curve across batches must stay flat, not ramp. The
    # touched-bucket pruning that makes this true is asserted
    # algorithmically in tests/test_store.py; this probe is the
    # wall-clock evidence at scale.
    import glob as _glob
    import shutil as _sh1
    import tempfile as _tf1

    from mora_spark.streaming.ingest import stream_store_merge

    stream_work = _tf1.mkdtemp(prefix="scale_stream_")
    try:
        src = os.path.join(stream_work, "source")
        build = src + ".build"
        # 2 chunks per copy; the file stream takes 2 files per trigger,
        # so each micro-batch is exactly one ts-window's events.
        (
            events.repartitionByRange(2 * n, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .parquet(build)
        )
        os.makedirs(src)
        parts = sorted(_glob.glob(os.path.join(build, "part-*.parquet")))
        for i, p in enumerate(parts):
            path = os.path.join(src, f"chunk-{i:04d}.parquet")
            os.rename(p, path)
            os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
        _sh1.rmtree(build, ignore_errors=True)

        progress = _BatchProgress()
        spark.streams.addListener(progress)
        t0 = time.time()
        try:
            stream_store_merge(
                spark,
                src,
                stream_work,
                os.path.join(stream_work, "store"),
                rollup_lengths=(300,),
            )
            batches = progress.wait()
        finally:
            spark.streams.removeListener(progress)
        print(f"stream_store_rollup_total: {time.time() - t0:.2f}s")
        for b in batches:
            print(
                f"  batch {b['batch_id']:>2}: rows={b['rows']:>7,} "
                f"add_batch={b['add_batch_ms'] / 1000:.2f}s"
            )
        # The stream ends with an empty watermark-flush batch — exclude
        # zero-row batches so the curve compares real maintenance work.
        walls = [b["add_batch_ms"] / 1000 for b in batches if b["rows"]]
        if len(walls) >= 6:
            # Flatness check with host-noise slack: the mean of the
            # last third must not exceed 2x the mean of the first
            # third (a series-length-proportional cost would ramp
            # n/3-fold here).
            k = len(walls) // 3
            first, last = sum(walls[:k]) / k, sum(walls[-k:]) / k
            print(
                f"  per-batch maintenance: first-third {first:.2f}s "
                f"-> last-third {last:.2f}s"
            )
            assert last <= 2.0 * first + 0.5, (
                "per-batch maintenance cost ramps with series length"
            )
        else:
            print(
                f"  per-batch maintenance flatness check skipped: "
                f"{len(walls)} batches with rows, it needs >= 6 "
                f"(n_copies >= 6)"
            )
    finally:
        _sh1.rmtree(stream_work, ignore_errors=True)

    # Manifest-log store: initial merge commit, an overlapping upsert
    # (read-back + replace of every touched partition), and a pruned
    # keyed read — the full reference write->commit->read contract.
    import shutil as _sh
    import tempfile

    from mora_spark.engine import CandleStore

    store_dir = tempfile.mkdtemp(prefix="scale_store_")
    try:
        store = CandleStore(spark, store_dir)
        t0 = time.time()
        store.write(candles)
        print(f"store_initial_merge: {time.time() - t0:.2f}s")
        t0 = time.time()
        store.write(
            candles.where(F.col("code") == "click").withColumn(
                "close", F.col("close") + 1.0
            )
        )
        print(f"store_upsert_merge: {time.time() - t0:.2f}s")
        t0 = time.time()
        n_rows = store.read(market="SYN", code="click").count()
        print(f"store_pruned_read: {time.time() - t0:.2f}s ({n_rows:,} rows)")

        # Continuous-append lifecycle: many small blind appends leave
        # one file per append per partition; compact() must bound the
        # file count and vacuum() must reclaim the superseded files —
        # with byte-identical read results. This is the maintenance
        # loop a production store runs forever.
        def live_files(s):
            _, pointers = s._log.current()
            return sum(p["n"] for p in pointers)

        appends = 8
        t0 = time.time()
        slice_src = candles.where(F.col("code") == "click")
        for i in range(appends):
            store.write(
                slice_src.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {i + 1} HOURS")
                ),
                mode="append",
            )
        files_after_appends = live_files(store)
        print(
            f"store_{appends}_appends: {time.time() - t0:.2f}s "
            f"({files_after_appends} live files)"
        )
        before = store.read(market="SYN").count()
        t0 = time.time()
        store.compact()
        files_after_compact = live_files(store)
        reclaimed = store.vacuum(older_than_s=0)
        after = store.read(market="SYN").count()
        print(
            f"store_compact+vacuum: {time.time() - t0:.2f}s "
            f"(files {files_after_appends}->{files_after_compact}, "
            f"vacuumed {reclaimed})"
        )
        assert files_after_compact < files_after_appends, (
            "compact did not reduce live file count"
        )
        assert after == before, (
            f"row count changed across compact/vacuum: {before} -> {after}"
        )
    finally:
        _sh.rmtree(store_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
