"""Noise-free schedule check: instead of wall clocks, count the Spark
jobs / stages / tasks a query schedules — deterministic on a fixed
tree + sf, immune to host contention. A build-path regression shows up
here as extra jobs (an extra scan, a lost persist) or extra stages (a
new exchange). Usage:

    python tools/ab_jobs.py <repo_root> <sf_dir> <query> [query ...]
    python tools/ab_jobs.py --record <baseline.json> <root> <sf> <q...>
    python tools/ab_jobs.py --assert <baseline.json> <root>

``--record`` writes the counts to a committed baseline file;
``--assert`` replays the baseline's query list (same order — the
session-shared build caches make order part of the contract) at its
recorded sf and exits 1 on any jobs/stages drift. Tasks are reported
but NOT asserted — task counts follow file splits, which testdata
regeneration may legitimately change; an exchange gained or a persist
lost shows in jobs/stages.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import uuid

from pyspark.sql.streaming import StreamingQueryListener


class _StreamRuns(StreamingQueryListener):
    """The runIds of the streams a query starts. A stream's micro-batch
    jobs run under the job group ``str(runId)``, not the caller's, so
    counting only the caller's group misses every ``foreachBatch`` job.
    ``onQueryStarted`` is called synchronously with ``start()``."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def measure(spark, queries, sf_dir: str, names: list[str]) -> dict:
    """Run each query (noop sink) under a job group of its own and
    return {name: {jobs, stages, tasks}} from the status tracker: the
    jobs of the query's group, of the streams it started, and any job
    without a group (e.g. from a thread that did not inherit one) it
    launched.

    Counts depend on the tree, not on earlier state: each call runs its
    queries under a fresh, empty scratch root (so every on-disk cache a
    query builds, like the streaming replay source, is built inside the
    count), with the session's LSH memo cleared, and every counted run
    gets a job group no earlier run used."""
    from mora_spark.llm.dedup import clear_lsh_cache
    from mora_spark.queries import store as store_queries

    sc = spark.sparkContext
    st = sc.statusTracker()
    runs = _StreamRuns()
    spark.streams.addListener(runs)
    clear_lsh_cache()
    saved_scratch = store_queries.SCRATCH
    store_queries.SCRATCH = tempfile.mkdtemp(prefix="ab_jobs_scratch_")
    out: dict[str, dict[str, int]] = {}
    try:
        for name in names:
            runs.run_ids.clear()
            ungrouped = set(st.getJobIdsForGroup(None))
            group = f"{name}:{uuid.uuid4().hex}"
            sc.setJobGroup(group, name)
            try:
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # pragma: no cover
                print(f"ab_jobs error {name}: {exc}", file=sys.stderr)
                continue
            finally:
                sc.setJobGroup("", "")
            jobs = list(st.getJobIdsForGroup(group))
            for run_id in runs.run_ids:
                jobs += st.getJobIdsForGroup(run_id)
            jobs += set(st.getJobIdsForGroup(None)) - ungrouped
            # Stages come from the job's own stage-id list: once the
            # session passes spark.ui.retainedStages the status store
            # evicts stages (skipped ones first, having no completion
            # time), so counting only the stages it still holds would
            # undercount a long session's queries. Tasks are summed over
            # the stages it still holds (reported, never asserted).
            n_stages = n_tasks = 0
            for j in jobs:
                ji = st.getJobInfo(j)
                if ji is None:
                    continue
                n_stages += len(ji.stageIds)
                for sid in ji.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        n_tasks += si.numTasks
            out[name] = {
                "jobs": len(jobs),
                "stages": n_stages,
                "tasks": n_tasks,
            }
    finally:
        shutil.rmtree(store_queries.SCRATCH, ignore_errors=True)
        store_queries.SCRATCH = saved_scratch
        spark.streams.removeListener(runs)
    return out


def main() -> None:
    argv = sys.argv[1:]
    mode, baseline_path = "print", None
    if argv and argv[0] in ("--record", "--assert"):
        mode, baseline_path = argv[0].lstrip("-"), argv[1]
        argv = argv[2:]
    root = os.path.abspath(argv[0])
    if mode == "assert":
        with open(baseline_path) as f:
            base = json.load(f)
        sf_dir, names = base["sf_dir"], list(base["counts"])
    else:
        sf_dir, names = argv[1], argv[2:]

    # Measure the tree at ``root``: its package and its query registry.
    sys.path.insert(0, root)
    os.chdir(root)
    from mora_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="ab_tool")
    spark.sparkContext.setLogLevel("ERROR")
    counts = measure(spark, entry_mod.queries(), sf_dir, names)

    for name, c in counts.items():
        print("ABJOBS " + json.dumps({"root": root, "q": name, **c}))

    if mode == "record":
        with open(baseline_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "counts": counts}, f, indent=1)
            f.write("\n")
        print(f"ab_jobs: baseline written to {baseline_path}")
    elif mode == "assert":
        drift = []
        for name, want in base["counts"].items():
            got = counts.get(name)
            if got is None:
                drift.append(f"{name}: errored (baseline {want})")
                continue
            for k in ("jobs", "stages"):
                if got[k] != want[k]:
                    drift.append(
                        f"{name}.{k}: baseline {want[k]} != live {got[k]}"
                    )
        if drift:
            print("ab_jobs DRIFT:\n  " + "\n  ".join(drift))
            sys.exit(1)
        print(f"ab_jobs: {len(counts)} queries match the baseline")


if __name__ == "__main__":
    main()
