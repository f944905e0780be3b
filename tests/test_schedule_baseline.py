"""Build-path schedule tripwire (VERDICT r12 #4, widened r14).

The five heaviest bench lines are index/pipeline BUILDS; their
job/stage counts are deterministic on a fixed tree + sf (verified:
two back-to-back `--record` runs are byte-identical, and the counts
match the r12 A/B evidence — ivfpq 32/65, compact 44/60, jsonl
22/33/104). A genuine build-path regression — an extra scan from a
lost persist, a new exchange — shows up here as a count drift in ONE
noise-free run, instead of the three rounds of wall-clock forensics
the r9→r11 "ANN build regression" investigation cost.

Round 14 adds the two BIMODAL dedup/curation lines
(q_corpus_curation 52/112, q_dedup_clusters 57/106 — VERDICT r13
wrong #2): their wall clocks have shown 2x host-phase swings since
r10 with code untouched, and this counter is the noise-free
adjudicator — a future 2x wall print with matching jobs/stages is
the host, full stop. Their task counts DO vary run-to-run (AQE
coalescing; observed 1197 vs 1259 on q_dedup_clusters), which is
exactly why tasks are recorded but never asserted.

The assert replays `tools/ab_jobs_baseline.json`'s query list in its
recorded order (the session-shared `_pinned` build caches make order
part of the contract) in a FRESH process, so the suite's session
state can't leak into the counts. Jobs/stages are asserted; tasks are
recorded but not (task counts follow file splits, which testdata
regeneration may legitimately change).

The jobs/stages fingerprint is sf-INVARIANT on the five build lines:
`tools/ab_jobs_baseline_sf01.json` (recorded at sf0.1, the bench sf)
shows identical jobs/stages to the sf0.001 baseline with only task
counts differing — so this fast sf0.001 gate guards the schedule
shape of the slow bench lines too. The two r14 dedup lines are
sf-DEPENDENT by construction — connected-components iterates to the
duplicate graph's hash-diameter and AQE splits shift with data
size, so counts VARY with sf in either direction (52/112 + 57/106
at sf0.001 vs 61/127 + 48/91 at sf0.1; note q_dedup_clusters has
FEWER jobs at the larger sf) — but deterministic at FIXED sf: the
sf0.1 twin file is the reference to read a bench-time (sf0.1)
wall-clock outlier against.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(ROOT, "tools", "ab_jobs_baseline.json")


def test_build_schedules_match_committed_baseline():
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "ab_jobs.py"),
            "--assert",
            BASELINE,
            ROOT,
        ],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, (
        f"schedule drift vs committed baseline:\n{proc.stdout[-2000:]}"
        f"\n{proc.stderr[-2000:]}"
    )
    assert "match the baseline" in proc.stdout


def test_repeated_counts_of_one_tree_agree(spark, sf_dir):
    """Two ``measure()`` calls in one process count the same query the
    same: neither the on-disk caches the first run leaves behind nor
    its job group may leak into the second count."""
    import importlib.util

    import __spark_entry__ as entry_mod

    spec = importlib.util.spec_from_file_location(
        "ab_jobs", os.path.join(ROOT, "tools", "ab_jobs.py")
    )
    ab_jobs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab_jobs)
    queries = entry_mod.queries()
    q = "q_stream_store_merge"
    first = ab_jobs.measure(spark, queries, sf_dir, [q])[q]
    second = ab_jobs.measure(spark, queries, sf_dir, [q])[q]
    assert (first["jobs"], first["stages"]) == (
        second["jobs"], second["stages"]
    )
