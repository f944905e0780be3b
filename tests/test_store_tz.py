"""The store's answers must not depend on the driver's timezone.

The container runs in UTC, which hides any place where a naive
datetime is read as UTC on one side and as driver-local time (what
PySpark's ``F.lit`` and ``createDataFrame`` do) on the other. This
re-runs the timezone-sensitive store and upsert tests in a fresh
interpreter under ``TZ=Asia/Tokyo`` (UTC+9, no DST): merge
last-writer-wins and its span pruning, year partitioning across a
year boundary, time travel, range-read pruning and rollup
maintenance. The full modules pass there too
(``TZ=Asia/Tokyo python -m pytest tests/test_store.py
tests/test_upsert.py``); the subset keeps this test near a minute.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TZ_SENSITIVE = " or ".join([
    "last_writer_wins",
    "span_pruning",
    "cross_year",
    "multi_year",
    "derive_rollup",
    "read_prunes",
    "aware_bounds",
    "file_stats_prune",
    "timestamp_time_travel",
    "f1a",
])


def test_store_tests_pass_under_a_non_utc_driver():
    env = {**os.environ, "TZ": "Asia/Tokyo"}
    r = subprocess.run(
        [
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            "tests/test_store.py", "tests/test_upsert.py",
            "-k", _TZ_SENSITIVE,
        ],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    tail = (r.stdout + r.stderr)[-4000:]
    assert r.returncode == 0, tail
    assert " passed" in r.stdout and "failed" not in r.stdout, tail
