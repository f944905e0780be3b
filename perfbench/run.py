"""Benchmark entry point.

    python3 perfbench/run.py --workload request_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the seeded workload, drives
it through ``mora_spark`` in one process (one client, closed loop,
``get_spark()`` defaults), checks the outputs, and prints one JSON
object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Metric names
and units come from ``BENCHMARK.json``. Spans, host metadata and every
result are kept under ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import time

PROC_START_MS = time.time() * 1000.0

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layers Spark job time is attributed to (spark.job_ms.<layer>).
JOB_LAYERS = ("engine.store", "operators", "llm.dedup", "llm.simsearch",
              "parallel", "streaming")
_PROGRAM_FILE = re.compile(r"mora_spark/([\w/]+)\.py")


def cpu_probe_mb_s() -> float:
    """Code-independent CPU probe: sha256 throughput of one thread per
    core, 32 MiB each (hashlib releases the GIL). Recorded as metadata
    only; it never adjusts a number."""
    buf = b"\x5a" * (1 << 20)
    n = os.cpu_count() or 1

    def work(_):
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)

    t = time.perf_counter()
    with ThreadPoolExecutor(n) as pool:
        list(pool.map(work, range(n)))
    return 32 * n / (time.perf_counter() - t)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, for the steal share of
    the run (metadata only)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v)


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _git_head() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True, check=False)
    return r.stdout.strip() or "none"


def code_digest() -> str:
    """sha256 over the benchmark's and the program's Python sources: runs
    with equal digests ran the same code, also outside a git checkout."""
    h = hashlib.sha256()
    for top in ("perfbench", "mora_spark"):
        for d, dirs, fs in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _env(work: str) -> None:
    """Keep Spark's scratch space inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _nested_in_same(s, by_id) -> bool:
    p = by_id.get(s["parent"])
    while p is not None:
        if p["name"] == s["name"]:
            return True
        p = by_id.get(p["parent"])
    return False


def _layer_of(name: str):
    return next((k for k in JOB_LAYERS
                 if name == k or name.startswith(k + ".")), None)


def job_layer(job: dict) -> str:
    """The layer a job is charged to: the program module its call site
    names, when PySpark recorded one inside ``mora_spark``; else the
    span that encloses it (``job["layer"]`` after ``Tracer.link``)."""
    m = _PROGRAM_FILE.search(job.get("call_site") or "")
    key = _layer_of(m.group(1).replace("/", ".")) if m else None
    if key is None:
        enclosing = job["layer"]
        key = _layer_of(enclosing)
        if key is None:
            key = ("streaming" if enclosing == "stream.batch"
                   else "request" if enclosing.startswith("request.")
                   else "unattributed")
    return key


def _job_layers(spans) -> dict:
    """spark.job_ms.<layer>: job time by :func:`job_layer`."""
    out = {f"spark.job_ms.{k}": 0.0
           for k in JOB_LAYERS + ("request", "unattributed")}
    for s in spans:
        if s["kind"] == "job":
            s["charged_to"] = job_layer(s)
            out[f"spark.job_ms.{s['charged_to']}"] += (
                s["end_ms"] - s["start_ms"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        print(f"unknown workload {a.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "mora_spark", "__init__.py")):
        print("mora_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    _env(work)
    sys.path.insert(0, ROOT)
    try:
        return _run(a, spec, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, spec, work, out_dir) -> int:
    import pyspark

    from mora_spark.session import get_spark
    from spans import ProgressLog, Tracer, event_log_jobs, union_ms
    from workloads import WORKLOADS, Ctx, wrap_program

    probe_before = cpu_probe_mb_s()
    ticks0 = _cpu_ticks()
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work, "eventlog")
    if a.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    t = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "git_head": _git_head(),
        "code_digest": code_digest(),
        "cpu_probe_mb_s_before": probe_before,
    }

    tracer = Tracer(bool(a.trace))
    progress = ProgressLog()
    spark.streams.addListener(progress)
    if a.trace:
        wrap_program(tracer)
    ctx = Ctx(spark, tracer, progress, work, a.seed, a.seconds)
    try:
        res = WORKLOADS[a.workload](ctx)
        peak_rss = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            + _vm_hwm_mb(jvm_pid)
        )
    finally:
        _stop(spark)
    t0, t1 = res.timed_ms
    wall_s = (t1 - t0) / 1000.0
    meta["cpu_probe_mb_s_after"] = cpu_probe_mb_s()
    ticks1 = _cpu_ticks()
    meta["cpu_steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / max(
        1, ticks1[1] - ticks0[1])

    e2e = {
        "setup_s": (t0 - PROC_START_MS) / 1000.0,
        "items_per_s": res.items / wall_s,
        "op_p50_ms": res.op_p50_ms,
        "recall": res.recall,
        "bytes_per_user_byte": res.bytes_per_user_byte,
    }
    layers = dict(res.layers)
    layers.update({"session.start_s": session_s,
                   "proc.peak_rss_mb": peak_rss,
                   "trace.items_per_s": e2e["items_per_s"]})
    if a.trace:
        jobs, tot = event_log_jobs(log_dir, t0, t1)
        for jid, j in jobs.items():
            tracer.add(f"job.{jid}", "job", j["start_ms"], j["end_ms"],
                       call_site=j["call_site"])
        spans = tracer.link()
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            # timed-phase calls, outermost of each name (no double count
            # of a call nested in a call of the same name)
            if (s["kind"] == "call" and t0 <= s["start_ms"] <= t1
                    and not _nested_in_same(s, by_id)):
                k = s["name"]
                layers[f"{k}_ms"] = layers.get(f"{k}_ms", 0.0) + (
                    s["end_ms"] - s["start_ms"])
                layers[f"{k}_calls"] = layers.get(f"{k}_calls", 0) + 1
        ops = [(s["start_ms"], s["end_ms"]) for s in spans
               if s["kind"] == "op"]
        busy = union_ms([(s["start_ms"], s["end_ms"]) for s in spans
                         if s["kind"] == "job" and s["op"] is not None])
        layers.update({f"spark.{k}": v for k, v in tot.items()})
        layers["spark.job_busy_ms"] = busy
        layers["spark.driver_gap_ms"] = sum(e - s for s, e in ops) - busy
        layers.update(_job_layers(spans))
        with open(os.path.join(
                out_dir, f"spans-{a.workload}-{a.seed}.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s, default=str) + "\n")

    # Overhead of tracing: this run against earlier untraced runs of
    # the same workload and code in this checkout (metadata, not a
    # metric).
    hist = os.path.join(out_dir, "results.jsonl")
    if a.trace and os.path.exists(hist):
        with open(hist) as f:
            base = [r["e2e"]["items_per_s"] for r in map(json.loads, f)
                    if r["workload"] == a.workload and not r["trace"]
                    and r["seconds"] == a.seconds and r["correct"]
                    and r.get("code_digest") == meta["code_digest"]]
        if base:
            ref = statistics.median(base)
            meta["trace_overhead_pct"] = 100.0 * (
                1 - e2e["items_per_s"] / ref)
            print(f"tracing overhead: {meta['trace_overhead_pct']:.1f}% of "
                  f"items_per_s vs the median of {len(base)} untraced runs",
                  flush=True)

    group = "per_layer" if a.trace else "end_to_end"
    source = layers if a.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)),
                    "unit": m["unit"]}
        for m in spec[group]
    }
    correct = res.failed == 0
    meta.update({"e2e": e2e, "layers": layers, "phases": res.meta,
                 "session_s": session_s, "correct": correct,
                 "attempted": res.attempted, "failed": res.failed,
                 "workload": a.workload})
    with open(hist, "a") as f:
        f.write(json.dumps(meta, default=str) + "\n")
    print(json.dumps({"host": {k: meta[k] for k in (
        "nproc", "pyspark", "java", "git_head", "cpu_probe_mb_s_before",
        "cpu_probe_mb_s_after", "cpu_steal_pct")}}), flush=True)
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
