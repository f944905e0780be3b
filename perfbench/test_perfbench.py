"""Tests of the benchmark's generators and output checks.

    python3 -m pytest perfbench -q

The generator tests are pure Python. The agreement tests run tiny
seeds of both workloads through the real program and require every
check to pass, then show that the same checks catch a wrong answer.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402

TINY_REQ = dict(n_codes=2, setup_batches=2, batch_minutes=120)
TINY_DOCS = dict(per_shard=20)


# -------------------------------------------------------------------
# Generators


def test_same_seed_gives_identical_inputs():
    assert gen.digest(gen.request_workload(7, 2)) == gen.digest(
        gen.request_workload(7, 2))
    assert gen.digest(gen.curate_workload(7, 2)) == gen.digest(
        gen.curate_workload(7, 2))


def test_other_seed_changes_inputs_not_planted_counts():
    a, b = gen.request_workload(7, 2), gen.request_workload(8, 2)
    assert gen.digest(a) != gen.digest(b)
    assert Counter(r["kind"] for r in a.requests) == Counter(
        r["kind"] for r in b.requests)
    assert [len(x) for x in a.setup_batches] == [
        len(x) for x in b.setup_batches]

    c, d = gen.curate_workload(7, 3), gen.curate_workload(8, 3)
    assert gen.digest(c) != gen.digest(d)
    assert Counter(c.kind.values()) == Counter(d.kind.values())
    assert c.malformed_per_shard == d.malformed_per_shard
    assert [len(s) for s in c.shards] == [len(s) for s in d.shards]


def test_every_pass_issues_each_kind_once():
    w = gen.request_workload(3, 3)
    for p in range(3):
        kinds = [r["kind"] for r in w.requests if r["pass"] == p]
        assert sorted(kinds) == sorted(gen.KINDS)
    assert sorted(r["kind"] for r in w.warmup) == sorted(
        gen.KINDS * gen.WARMUP_PASSES)


def test_planted_uniques_stay_below_threshold():
    """Brute force over a small instance: no unique doc has a
    Jaccard >= threshold with any other doc."""
    w = gen.curate_workload(5, 2, **TINY_DOCS)
    import json

    texts = {}
    for lines in w.shards:
        for ln in lines:
            try:
                d = json.loads(ln)
            except ValueError:
                continue
            texts[d["doc_id"]] = d["text"]
    uniques = [d for d, k in w.kind.items() if k == "unique"]
    for u in uniques:
        for o in texts:
            if o != u and not _derived_from(w, o, u, texts):
                assert gen.jaccard(texts[u], texts[o]) < gen.DEDUP_THRESHOLD
    for d, k in w.kind.items():
        if k.endswith("_dup"):
            best = max(gen.jaccard(texts[d], t)
                       for o, t in texts.items() if o < d)
            assert best >= gen.DEDUP_THRESHOLD


def _derived_from(w, other, unique, texts) -> bool:
    """``other`` is a planted copy of ``unique`` (it carries its
    private tokens): dedup must drop ``other``, never ``unique``."""
    return other > unique and w.kind.get(other, "").endswith("_dup") and (
        f"u{unique}k" in texts[other])


def test_gate_reference_matches_planted_kinds():
    w = gen.curate_workload(9, 2, **TINY_DOCS)
    import json

    for lines in w.shards:
        for ln in lines:
            try:
                d = json.loads(ln)
            except ValueError:
                continue
            if not isinstance(d, dict):
                continue
            ok, _ = gen.passes_gate(d["text"])
            assert ok == (w.kind[d["doc_id"]] != "gate_fail")


def test_topk_reference_excludes_queries_and_honours_label():
    rng = np.random.default_rng(0)
    v = rng.normal(size=(50, 8)).astype(np.float32)
    lab = np.arange(50) % 3
    ref = gen.ref_topk(v, lab, [1, 2], 5, label=1)
    for q, ids in ref.items():
        assert len(ids) == 5 and 1 not in ids and 2 not in ids
        assert all(lab[i] == 1 for i in ids)


# -------------------------------------------------------------------
# References agree with the program on tiny seeds


@pytest.fixture(scope="module")
def spark():
    from mora_spark.session import get_spark

    s = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    return s


def _ctx(spark, tmp_path, sizes, progress=None):
    from spans import ProgressLog, Tracer
    from workloads import Ctx

    if progress is None:
        progress = ProgressLog()
        spark.streams.addListener(progress)
    return Ctx(spark, Tracer(False), progress, str(tmp_path), 21, 1,
               sizes), progress


def test_request_references_agree_with_program(spark, tmp_path):
    from workloads import run_requests

    ctx, _ = _ctx(spark, tmp_path, TINY_REQ)
    res = run_requests(ctx)
    assert res.failed == 0
    assert res.attempted == len(gen.KINDS)
    assert 0.0 < res.recall <= 1.0


def test_curate_references_agree_with_program(spark, tmp_path):
    from workloads import run_curate

    ctx, progress = _ctx(spark, tmp_path, TINY_DOCS)
    res = run_curate(ctx)
    assert res.failed == 0
    assert res.attempted == 2
    assert res.recall >= 0.9
    spark.streams.removeListener(progress)


def test_checks_reject_wrong_answers():
    import pandas as pd
    from workloads import check_request

    w = gen.request_workload(4, 2, **TINY_REQ)
    state = w.snapshots[TINY_REQ["setup_batches"]]
    r = next(x for x in w.requests if x["kind"] == "range")
    rows = gen.ref_range(state, r["code"], r["start"], r["end"])
    assert check_request(w, r, rows.copy(), state)[0]
    bad = rows.copy()
    bad.loc[bad.index[0], "close"] += 0.01
    assert not check_request(w, r, bad, state)[0]
    assert not check_request(w, r, rows.iloc[1:], state)[0]

    a = next(x for x in w.requests if x["kind"] == "ann")
    ref = gen.ref_topk(w.vectors, w.labels, a["query_ids"], gen.ANN_K,
                       a["label"])
    got = pd.DataFrame(
        [(q, n, i + 1) for q, ids in ref.items() for i, n in enumerate(ids)],
        columns=["query_id", "neighbor_id", "rank"],
    )
    ok, hits, total = check_request(w, a, got, state)
    assert ok and hits == total
    short = got[got["rank"] <= gen.ANN_K - 1]
    assert not check_request(w, a, short, state)[0]
