"""The two workloads: a closed-loop request mix and a streaming corpus
curation. Each sets up seed-fixed state, warms up on throwaway state,
runs its timed phase through ``mora_spark``'s public API, then checks
every output against the generator's references outside the timed
region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from spans import ProgressLog, Tracer, now_ms

# Run length: ops per --seconds, calibrated on a 4-core host so the
# timed phase lasts about --seconds there. Fixed per (seed, seconds) —
# never adapted to the measured speed, because cost follows state.
REQUEST_S_PER_PASS = 6.5
CURATE_S_PER_BATCH = 6.5

# Floors catch a broken index or dedup, not tuning: over 32-48 queries
# recall@10 read 0.84-1.0 across seeds; planted-dup recall read 1.0.
ANN_RECALL_FLOOR = 0.75
DEDUP_RECALL_FLOOR = 0.9
REL = 1e-9


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    progress: ProgressLog
    work: str
    seed: int
    seconds: int
    sizes: dict = field(default_factory=dict)  # generator overrides


@dataclass
class Result:
    items: int
    attempted: int
    failed: int
    timed_ms: tuple[float, float]  # wall clock [t0, t1]
    op_p50_ms: float
    recall: float
    bytes_per_user_byte: float
    layers: dict = field(default_factory=dict)
    meta: dict = field(default_factory=dict)  # recorded, never printed


def du(*paths) -> int:
    n = 0
    for p in paths:
        for d, _, fs in os.walk(p):
            n += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return n


def _n_files(path) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def clear_memos(spark) -> None:
    from mora_spark.llm.curation import clear_bloom_broadcasts
    from mora_spark.llm.dedup import clear_lsh_cache

    clear_lsh_cache()
    clear_bloom_broadcasts()
    spark.catalog.clearCache()


def utc(ts: pd.Timestamp):
    return ts.tz_localize("UTC").to_pydatetime()


# --------------------------------------------------------------------
# Request mix: candle reads, operators, upserts, time travel, ANN top-k

CANDLE_DDL = (
    "market string, code string, candle_length int, ts timestamp, "
    "open double, high double, low double, close double, volume double, "
    "bit_fields long"
)


class _Client:
    """Issues one request and returns its consumed result."""

    def __init__(self, spark, tracer, store, ann_path):
        self.spark, self.tr = spark, tracer
        self.store, self.ann_path = store, ann_path
        self.read_files = 0

    def _read(self, r, version=None):
        with self.tr.call("engine.store.read_plan"):
            df = self.store.read(
                gen.MARKET, r["code"], 60, utc(r["start"]), utc(r["end"]),
                version=version,
            )
        if self.tr.enabled:
            # counted outside the op's timing (see do())
            self._pending_files = df
        return df

    def _consume(self, layer, df):
        with self.tr.call(layer):
            return df.toPandas()

    def do(self, r):
        from mora_spark.llm.simsearch import ivfpq_index_topk
        from mora_spark.operators import asof_join, resample, sma
        from mora_spark.operators.windows import bollinger

        k = r["kind"]
        self._pending_files = None
        if k == "range":
            return self._consume("engine.store.scan", self._read(r))
        if k == "timetravel":
            return self._consume(
                "engine.store.scan", self._read(r, version=r["version"])
            )
        if k == "resample":
            with self.tr.call("operators.resample"):
                return resample(self._read(r), 3600).toPandas()
        if k == "sma":
            with self.tr.call("operators.sma"):
                return sma(self._read(r), gen.SMA_N).toPandas()
        if k == "bollinger":
            with self.tr.call("operators.bollinger"):
                return bollinger(self._read(r), gen.BB_N).toPandas()
        if k == "asof":
            candles = self._read(r)
            with self.tr.call("operators.asof"):
                trades = self.spark.createDataFrame(
                    [(i, gen.MARKET, r["code"], utc(t), q)
                     for i, t, q in r["trades"]],
                    "trade_id long, market string, code string, "
                    "ts timestamp, qty double",
                )
                return asof_join(
                    trades, candles, on=["market", "code"],
                    right_cols=["close"],
                ).toPandas()
        if k == "write":
            batch = self.spark.createDataFrame(r["batch"], CANDLE_DDL)
            with self.tr.call("engine.store.write"):
                self.store.write(batch, mode="merge")
            return None
        if k == "ann":
            with self.tr.call("llm.simsearch.topk_plan"):
                df = ivfpq_index_topk(
                    self.spark, self.ann_path, r["query_ids"], k=gen.ANN_K,
                    predicate=f"label = {r['label']}",
                )
            return self._consume("llm.simsearch.topk_exec", df)
        raise ValueError(f"unknown request kind {k}")

    def count_files(self):
        if self._pending_files is not None:
            self.read_files += len(self._pending_files.inputFiles())


def _close(a, b, atol=0.0) -> bool:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    return a.shape == b.shape and bool(
        np.allclose(a, b, rtol=REL, atol=atol, equal_nan=True)
    )


def _frame_ok(got: pd.DataFrame, ref: pd.DataFrame) -> bool:
    if len(got) != len(ref):
        return False
    got = got.sort_values(["code", "ts"], ignore_index=True)
    ref = ref.sort_values(["code", "ts"], ignore_index=True)
    if not (got["ts"].to_numpy() == ref["ts"].to_numpy()).all():
        return False
    return all(
        _close(got[c], ref[c])
        for c in ("open", "high", "low", "close", "volume", "bit_fields")
    )


def check_request(w, r, got, state):
    """(ok, ann_hits, ann_total) for one request against the reference
    ``state`` the store held when it ran."""
    k = r["kind"]
    if k == "write":
        return True, 0, 0
    if k == "ann":
        ref = gen.ref_topk(w.vectors, w.labels, r["query_ids"], gen.ANN_K,
                           r["label"])
        hits = total = 0
        ok = True
        for q in r["query_ids"]:
            ids = got[got["query_id"] == q].sort_values("rank")
            ids = ids["neighbor_id"].tolist()
            ok &= len(ids) == gen.ANN_K and len(set(ids)) == gen.ANN_K
            ok &= bool(np.all(w.labels[ids] == r["label"]))
            hits += len(set(ids) & set(ref[q]))
            total += gen.ANN_K
        return ok, hits, total
    if k == "timetravel":
        state = w.snapshots[r["version"]]
    rows = gen.ref_range(state, r["code"], r["start"], r["end"])
    if k in ("range", "timetravel"):
        return _frame_ok(got, rows), 0, 0
    if k == "resample":
        return _frame_ok(got, gen.ref_resample(rows, 3600)), 0, 0
    if k == "asof":
        got = got.sort_values("trade_id")
        return _close(got["close_asof"], gen.ref_asof(rows, r["trades"])), 0, 0
    got = got.sort_values("ts", ignore_index=True)
    if len(got) != len(rows):
        return False, 0, 0
    if k == "sma":
        return _close(got[f"sma_{gen.SMA_N}"], gen.ref_sma(rows, gen.SMA_N)), 0, 0
    if k == "bollinger":
        mid, sd, up = gen.ref_bollinger(rows, gen.BB_N)
        n = gen.BB_N
        # the program rounds to 6 dp; a last-bit difference in the
        # rolling sum may flip that rounding by one unit
        return (
            _close(got[f"bb_mid_{n}"], mid, 2e-6)
            and _close(got[f"bb_sd_{n}"], sd, 2e-6)
            and _close(got[f"bb_up_{n}"], up, 6e-6)
        ), 0, 0
    raise ValueError(k)


def geomean(xs) -> float:
    return float(np.exp(np.mean(np.log(xs))))


def run_requests(ctx: Ctx) -> Result:
    from mora_spark.engine import CandleStore
    from mora_spark.llm.simsearch import build_ivfpq_index, save_ivfpq_index

    spark, tr = ctx.spark, ctx.tracer
    passes = max(1, round(ctx.seconds / REQUEST_S_PER_PASS))
    w = gen.request_workload(ctx.seed, passes, **ctx.sizes)
    store_path = os.path.join(ctx.work, "store")
    store = CandleStore(spark, store_path)
    layers, phases = {}, {}

    t = time.perf_counter()
    for b in w.setup_batches:
        store.write(spark.createDataFrame(b, CANDLE_DDL), mode="merge")
    phases["store_s"] = time.perf_counter() - t
    layers["engine.store.setup_write_ms"] = phases["store_s"] * 1e3

    ann_path = os.path.join(ctx.work, "ann")
    t = time.perf_counter()
    vecs = spark.createDataFrame(
        [(i, v.tolist(), int(lb))
         for i, (v, lb) in enumerate(zip(w.vectors, w.labels))],
        "vec_id long, embedding array<float>, label int",
    )
    save_ivfpq_index(*build_ivfpq_index(vecs), ann_path)
    phases["ann_index_s"] = time.perf_counter() - t
    layers["llm.simsearch.index_build_ms"] = phases["ann_index_s"] * 1e3

    # Warm-up: passes of the mix on a throwaway copy of the store
    # (writes land there), read-only against the real ANN index.
    t = time.perf_counter()
    warm_path = os.path.join(ctx.work, "store_warmup")
    shutil.copytree(store_path, warm_path)
    quiet = Tracer(False)
    warm = _Client(spark, quiet, CandleStore(spark, warm_path), ann_path)
    for r in w.warmup:
        warm.do(r)
    clear_memos(spark)
    phases["warmup_s"] = time.perf_counter() - t

    client = _Client(spark, tr, store, ann_path)
    data = os.path.join(store_path, "data")
    bytes0, files0 = du(data), _n_files(data)
    results, op_ms, failed = [], [], 0
    t0 = now_ms()
    for i, r in enumerate(w.requests):
        s = now_ms()
        try:
            got = client.do(r)
        except Exception:  # one failed request must not end the run
            traceback.print_exc()
            got = None
            failed += 1
        e = now_ms()
        tr.add(f"request.{r['kind']}", "op", s, e, request=i)
        op_ms.append(e - s)
        results.append(got)
        if tr.enabled and got is not None:
            client.count_files()
    t1 = now_ms()

    # Checks (untimed): replay the reference state request by request.
    state = w.snapshots[len(w.setup_batches)]
    version = len(w.setup_batches)
    hits = total = 0
    per_kind = {}
    for r, got, ms in zip(w.requests, results, op_ms):
        per_kind.setdefault(r["kind"], []).append(ms)
        if r["kind"] == "write":
            version += 1
            state = w.snapshots[version]
        if got is None and r["kind"] != "write":
            continue
        ok, h, tot = check_request(w, r, got, state)
        hits, total = hits + h, total + tot
        if not ok:
            failed += 1
            print(f"check failed: request {r['kind']} {r['code']}",
                  flush=True)
    recall = hits / total if total else 0.0
    if recall < ANN_RECALL_FLOOR:
        failed += sum(r["kind"] == "ann" for r in w.requests)
        print(f"check failed: ANN recall {recall:.3f}", flush=True)
    final = w.snapshots[version]
    live = store.read()
    if not _frame_ok(live.toPandas(), final):
        failed += 1
        print("check failed: final store differs from reference", flush=True)

    log = os.path.join(store_path, "_log")
    written = [r["batch"] for r in w.requests if r["kind"] == "write"]
    user = len(final) * gen.CANDLE_RECORD_BYTES
    layers.update({
        "engine.store.files_written": _n_files(data) - files0,
        "engine.store.bytes_written_per_user_byte": (
            (du(data) - bytes0)
            / max(1, sum(len(b) for b in written) * gen.CANDLE_RECORD_BYTES)
        ),
        "engine.store.live_files": len(live.inputFiles()),
        "engine.store.log_bytes": du(log),
        "engine.store.read_files": client.read_files,
    })
    p50 = {kind: statistics.median(xs) for kind, xs in per_kind.items()}
    for kind, v in p50.items():
        layers[f"request.{kind}_p50_ms"] = v
    # Per pass, the geometric mean latency of its requests: level when
    # the warm-up has taken the cold transient out of the timed phase.
    phases["pass_ms"] = [
        geomean([ms for r, ms in zip(w.requests, op_ms) if r["pass"] == p])
        for p in range(passes)
    ]
    return Result(
        items=len(w.requests),
        attempted=len(w.requests),
        failed=min(failed, len(w.requests)),
        timed_ms=(t0, t1),
        op_p50_ms=geomean(list(p50.values())),
        recall=recall,
        bytes_per_user_byte=du(data, log) / user,
        layers=layers,
        meta=phases,
    )


# --------------------------------------------------------------------
# Streaming corpus curation


def _gate(df):
    """The gate of ``q_corpus_pipeline_jsonl``."""
    from pyspark.sql import functions as F

    from mora_spark.functions.text import lang_guess, quality_score, tokens

    toks = tokens("text")
    return df.where(
        (lang_guess(toks) == "en")
        & (quality_score(toks) >= 0.5)
        & (F.size(toks) >= 20)
    )


def _write_shards(shards, src) -> int:
    """One JSONL file per micro-batch; mtimes fix the replay order."""
    os.makedirs(src)
    n = 0
    for k, lines in enumerate(shards):
        p = os.path.join(src, f"shard-{k:04d}.json")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (1_600_000_000 + k,) * 2)
        n += os.path.getsize(p)
    return n


def run_curate(ctx: Ctx) -> Result:
    from mora_spark.schema import DOCUMENT_SCHEMA
    from mora_spark.streaming.pipeline import stream_curate_jsonl

    spark, tr = ctx.spark, ctx.tracer
    n_shards = max(2, round(ctx.seconds / CURATE_S_PER_BATCH))
    w = gen.curate_workload(ctx.seed, n_shards, **ctx.sizes)
    layers, phases = {}, {}

    template = spark.createDataFrame([], DOCUMENT_SCHEMA)
    warm_src = os.path.join(ctx.work, "warm_src")
    _write_shards(w.warmup_shards, warm_src)
    src = os.path.join(ctx.work, "src")
    user_bytes = _write_shards(w.shards, src)

    # Warm-up: the same pipeline over throwaway shards and sink state.
    t = time.perf_counter()
    stream_curate_jsonl(
        spark, warm_src, os.path.join(ctx.work, "warm"), template,
        threshold=gen.DEDUP_THRESHOLD, gate=_gate,
    )
    warm = ctx.progress.wait(0, len(w.warmup_shards))
    clear_memos(spark)
    phases["warmup_s"] = time.perf_counter() - t
    phases["warmup_trigger_ms"] = [
        b["duration"]["triggerExecution"] for b in warm]

    out = os.path.join(ctx.work, "curate")
    failed = 0
    t0 = now_ms()
    try:
        curated, n_quar = stream_curate_jsonl(
            spark, src, out, template, threshold=gen.DEDUP_THRESHOLD,
            gate=_gate,
        )
    except Exception:
        traceback.print_exc()
        curated, n_quar, failed = None, -1, n_shards
    t1 = now_ms()

    batches = ctx.progress.wait(1, n_shards) if not failed else []
    op_ms = [b["duration"]["triggerExecution"] for b in batches]
    phases["trigger_ms"] = op_ms
    for b in batches:
        tr.add("stream.batch", "op", b["start_ms"],
               b["start_ms"] + b["duration"]["triggerExecution"],
               batch_id=b["batch_id"])

    planted = gen.planted_dups(w)
    recall = 0.0
    if curated is not None:
        kept = curated.select("doc_id").toPandas()["doc_id"].tolist()
        kept_set = set(kept)
        quar = (
            spark.read.parquet(os.path.join(out, "quarantine"))
            .groupBy("batch_id").count().toPandas()
        )
        quar = dict(zip(quar["batch_id"], quar["count"]))
        bad = set()
        if len(kept) != len(kept_set):
            bad.update(range(n_shards))
            print("check failed: duplicate curated doc ids", flush=True)
        for d, kind in w.kind.items():
            lost = kind == "unique" and d not in kept_set
            leaked = kind == "gate_fail" and d in kept_set
            if lost or leaked:
                bad.add(w.shard_of[d])
                print(f"check failed: {kind} doc {d} "
                      f"{'dropped' if lost else 'kept'}", flush=True)
        if not kept_set <= set(w.kind):
            bad.update(range(n_shards))
            print("check failed: unknown curated doc ids", flush=True)
        for s, m in enumerate(w.malformed_per_shard):
            if quar.get(s, 0) != m:
                bad.add(s)
                print(f"check failed: shard {s} quarantined "
                      f"{quar.get(s, 0)} != {m}", flush=True)
        if n_quar != sum(w.malformed_per_shard):
            bad.update(range(n_shards))
        recall = len(planted - kept_set) / len(planted)
        if recall < DEDUP_RECALL_FLOOR:
            bad.update(range(n_shards))
            print(f"check failed: dedup recall {recall:.3f}", flush=True)
        failed = len(bad)
        layers["llm.dedup.dropped"] = sum(
            1 for d, k in w.kind.items() if k != "gate_fail"
            and d not in kept_set
        )
    keep_dirs = [os.path.join(out, d)
                 for d in ("curated", "lsh_index", "quarantine")]
    layers.update(_stream_layers(batches))
    return Result(
        items=sum(len(s) for s in w.shards),
        attempted=n_shards,
        failed=failed,
        timed_ms=(t0, t1),
        op_p50_ms=statistics.median(op_ms or [t1 - t0]),
        recall=recall,
        bytes_per_user_byte=du(*keep_dirs) / user_bytes,
        layers=layers,
        meta=phases,
    )


def _stream_layers(batches) -> dict:
    def tot(key):
        return float(sum(b["duration"].get(key, 0) for b in batches))

    trig, add = tot("triggerExecution"), tot("addBatch")
    return {
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.trigger_ms": trig,
        "streaming.add_batch_ms": add,
        "streaming.overhead_ms": trig - add,
        "streaming.wal_commit_ms": tot("walCommit"),
        "streaming.commit_offsets_ms": tot("commitOffsets"),
        "streaming.latest_offset_ms": tot("latestOffset"),
        "streaming.query_planning_ms": tot("queryPlanning"),
    }


def wrap_program(tr: Tracer) -> None:
    """Traced runs: span the program calls the streaming sink makes."""
    import mora_spark.llm.dedup as dedup
    import mora_spark.parallel as parallel

    for name in ("build_minhash_index", "dedup_increment",
                 "minhash_lsh_pairs", "load_minhash_index"):
        tr.wrap(dedup, name, f"llm.dedup.{name}")
    tr.wrap(parallel, "run_concurrent", "parallel.run_concurrent")


WORKLOADS = {"request_mix": run_requests, "corpus_curate": run_curate}

