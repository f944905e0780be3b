"""Product-quantization (PQ) training, encoding and two-stage search.

The structural plant property (exact copies achieve the global-minimum
ADC distance under any codebook) is what q_ann_pq's oracle verifies;
these tests pin the complementary, non-structural properties: seeded
training determinism, the sub-byte code contract, measured shortlist
recall on the RAW corpus, and exactness of re-ranked scores.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mora_spark.datasets import load_table
from mora_spark.llm.simsearch import (
    PQ_K,
    PQ_M,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from mora_spark.queries.vectors import q_simsearch_topk


def test_training_is_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    b1 = train_pq_codebooks(e)
    b2 = train_pq_codebooks(e)
    assert np.array_equal(b1, b2)
    assert b1.shape == (PQ_M, PQ_K, 64 // PQ_M)


def test_codes_are_sub_byte(spark, sf_dir):
    # The storage contract: M small ints per vector, each < 16, so a
    # columnar layout packs two codes per byte — 4 bytes for a 64-dim
    # vector vs 64 bytes SQ8 / 256 bytes float32.
    assert PQ_K <= 16
    e = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e)
    enc = pq_encode(e, books)
    stats = enc.select(
        F.min(F.size("pq_code")).alias("lo"),
        F.max(F.size("pq_code")).alias("hi"),
        F.max(F.array_max("pq_code")).alias("cmax"),
        F.min(F.array_min("pq_code")).alias("cmin"),
    ).collect()[0]
    assert stats["lo"] == stats["hi"] == PQ_M
    assert 0 <= stats["cmin"] and stats["cmax"] < PQ_K


def test_exact_copy_achieves_minimum_adc(spark, sf_dir):
    # The structural property the planted oracle rests on: an exact
    # copy of the query heads the ADC ranking (with the id tie-break)
    # even at shortlist == k, under a codebook trained WITHOUT it.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    books = train_pq_codebooks(e)
    copy = e.where(F.col("vec_id") == 0).select(
        F.lit(-1).cast("long").alias("vec_id"), "embedding"
    )
    planted = e.unionByName(copy)
    top = pq_topk(
        planted, books, query_ids=[0], k=1, shortlist=1
    ).collect()
    assert len(top) == 1
    assert top[0]["neighbor_id"] == -1
    assert top[0]["score"] == 1.0


def test_pq_recall_vs_brute_force(spark, sf_dir):
    exact = q_simsearch_topk(spark, sf_dir).collect()
    want = {(r["query_id"], r["neighbor_id"]) for r in exact}
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"] for r in exact
    }
    e = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e)
    approx = pq_topk(
        e, books, query_ids=[0, 1, 2, 3, 4], k=5, shortlist=50
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # 4-byte codes on near-orthogonal 64-dim synthetic vectors: a
    # 50-deep ADC shortlist must recover a meaningful share of the
    # true top-5 (measured 0.68 on this corpus; the bound is loose
    # for the same reason as the SRP/IVF tests — quality depends on
    # the synthetic geometry, exactness is the oracle's job).
    recall = len(want & got) / len(want)
    assert recall >= 0.4, f"recall {recall}"
    # Re-ranked scores of found pairs must equal the exact scores.
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["score"] - exact_scores[key]) < 1e-9


def test_ivfpq_index_roundtrip_and_all_probe_equality(
    spark, sf_dir, tmp_path
):
    """The persisted IVF+PQ index restores both models exactly, lays
    the corpus out one directory per cell, and — probed with ALL cells
    — returns exactly what the flat PQ scan returns (cell pruning is
    the only approximation IVFPQ adds on top of PQ)."""
    import os

    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "ivfpq")
    cents, books, assigned = build_ivfpq_index(
        e, n_cells=8, train_iters=1
    )
    save_ivfpq_index(cents, books, assigned, path)
    c2, b2, cells = load_ivfpq_index(spark, path)
    assert np.array_equal(cents, c2) and np.array_equal(books, b2)
    cell_dirs = [
        d
        for d in os.listdir(os.path.join(path, "cells", "add_id=0"))
        if d.startswith("cell=")
    ]
    assert 0 < len(cell_dirs) <= 8
    assert cells.count() == e.count()

    flat = pq_topk(
        e, books, query_ids=[0, 1, 2], k=5, shortlist=30
    ).collect()
    via_index = ivfpq_index_topk(
        spark, path, query_ids=[0, 1, 2], k=5, n_probe=8, shortlist=30
    ).collect()
    assert sorted(
        [(r["query_id"], r["neighbor_id"], r["score"], r["rank"])
         for r in flat], key=lambda t: (t[0], t[3])
    ) == sorted(
        [(r["query_id"], r["neighbor_id"], r["score"], r["rank"])
         for r in via_index], key=lambda t: (t[0], t[3])
    )


def test_ivfpq_add_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental maintenance contract: building the index on half
    the corpus and adding the other half yields the same search
    results as building on everything — under the SAME models (the
    add path never retrains, so the base-corpus models are fixed by
    seeding them from the same training frame)."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_index_topk,
        pq_encode,
        save_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    base = e.where(F.col("vec_id") % 2 == 0)
    rest = e.where(F.col("vec_id") % 2 == 1)

    grown = str(tmp_path / "grown")
    cents, books, assigned = build_ivfpq_index(
        base, n_cells=8, train_iters=1
    )
    save_ivfpq_index(cents, books, assigned, grown)
    ivfpq_index_add(spark, grown, rest)

    rebuilt = str(tmp_path / "rebuilt")
    from mora_spark.llm.simsearch import _cell_assigner

    full = pq_encode(e, books).withColumn(
        "cell", _cell_assigner(cents)(F.col("embedding"))
    )
    save_ivfpq_index(cents, books, full, rebuilt)

    qa = ivfpq_index_topk(
        spark, grown, query_ids=[0, 2, 4], k=5, n_probe=4
    ).collect()
    qb = ivfpq_index_topk(
        spark, rebuilt, query_ids=[0, 2, 4], k=5, n_probe=4
    ).collect()
    canon = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in rows
    )
    assert canon(qa) == canon(qb) and len(qa) == 15


def test_opq_rotation_reduces_reconstruction_error(spark, sf_dir):
    """The OPQ alternating minimization: R stays orthogonal and the
    final rotated-space error beats the iteration-0 plain-PQ baseline.
    Per-step monotonicity is deliberately NOT asserted: each iteration
    re-trains codebooks from scratch with seeds in xxhash64 order of
    the ROTATED vectors, so the alternating-minimization guarantee
    does not hold by construction — only the end-to-end gain does."""
    from mora_spark.llm.simsearch import train_opq

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    rotation, books, errors = train_opq(e, n_iter=3)
    assert np.abs(rotation @ rotation.T - np.eye(64)).max() < 1e-9
    assert books.shape == (PQ_M, PQ_K, 64 // PQ_M)
    assert len(errors) == 3
    assert errors[-1] < errors[0]  # measured OPQ gain vs plain PQ


def test_ivfpq_compact_bounds_files_and_preserves_results(
    spark, sf_dir, tmp_path
):
    """After N incremental adds a cell holds N file sets; compaction
    rewrites one file per cell and the search answer is unchanged."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_index_compact,
        ivfpq_index_health,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "src")
    dest = str(tmp_path / "dst")
    save_ivfpq_index(
        *build_ivfpq_index(
            e.where(F.col("vec_id") % 4 == 0), n_cells=8, train_iters=1
        ),
        path,
    )
    for k in (1, 2, 3):  # three increments -> up to 4 file sets/cell
        ivfpq_index_add(spark, path, e.where(F.col("vec_id") % 4 == k))
    before = ivfpq_index_health(spark, path)
    assert before["max_files_per_cell"] > 1
    got_before = ivfpq_index_topk(
        spark, path, query_ids=[0, 1, 2], k=5, n_probe=8
    ).collect()
    stats = ivfpq_index_compact(spark, path, dest)
    after = ivfpq_index_health(spark, dest)
    assert after["max_files_per_cell"] == 1
    assert after["rows"] == before["rows"] == stats["rows"]
    got_after = ivfpq_index_topk(
        spark, dest, query_ids=[0, 1, 2], k=5, n_probe=8
    ).collect()
    canon = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in rows
    )
    assert canon(got_before) == canon(got_after)


def test_ivfpq_add_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The WAL-replay contract of the epoch layout: re-running an add
    with the same add_id overwrites its own epoch directory, so a
    crashed-and-replayed micro-batch converges — row count and search
    results identical to the single-run index, no duplicates."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_index_health,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    base = e.where(F.col("vec_id") % 2 == 0)
    rest = e.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(base, n_cells=8, train_iters=1), path
    )
    ivfpq_index_add(spark, path, rest, add_id=1)
    once = ivfpq_index_topk(
        spark, path, query_ids=[0, 1], k=5, n_probe=8
    ).collect()
    n_once = ivfpq_index_health(spark, path)["rows"]
    ivfpq_index_add(spark, path, rest, add_id=1)  # the replay
    again = ivfpq_index_topk(
        spark, path, query_ids=[0, 1], k=5, n_probe=8
    ).collect()
    assert ivfpq_index_health(spark, path)["rows"] == n_once == e.count()
    canon = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in rows
    )
    assert canon(once) == canon(again)


def test_ivfpq_results_independent_of_query_batching(
    spark, sf_dir, tmp_path
):
    """A query's answer must not depend on which other query_ids it
    was batched with: each query is restricted to ITS OWN n_probe
    cells (the candidate join is per (query, cell), never a pooled
    union of every query's cells — the review-caught failure mode)."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(e, n_cells=8, train_iters=1), path
    )
    canon = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in rows
    )
    alone = canon(
        ivfpq_index_topk(spark, path, query_ids=[0], k=5, n_probe=2)
        .collect()
    )
    batched = canon(
        r
        for r in ivfpq_index_topk(
            spark, path, query_ids=[0, 1, 2, 3, 4], k=5, n_probe=2
        ).collect()
        if r["query_id"] == 0
    )
    assert alone == batched


def _labeled(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )


def _brute_filtered(rows, qrows, labels, k):
    """Exact filtered top-k replay (round-6 scores, id tie-breaks) —
    the ground truth pq_topk(shortlist >= corpus) must reproduce."""
    qids = {q["vec_id"] for q in qrows}
    out = {}
    for q in qrows:
        qv = np.asarray(q["embedding"])
        scored = []
        for r in rows:
            # exclude ALL batched query ids, matching pq_topk's
            # candidate filter — not just the self vector (a query
            # whose label is in the filter set could otherwise appear
            # in another query's ground truth while pq_topk can
            # never return it)
            if r["label"] not in labels or r["vec_id"] in qids:
                continue
            cv = np.asarray(r["embedding"])
            s = round(
                float(
                    qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))
                ),
                6,
            )
            scored.append((-s, r["vec_id"]))
        scored.sort()
        out[q["vec_id"]] = [
            (q["vec_id"], vid, -negs, i + 1)
            for i, (negs, vid) in enumerate(scored[:k])
        ]
    return sorted(t for ts in out.values() for t in ts)


def test_filtered_pq_fills_k_post_filter(spark, sf_dir):
    """Filtered search semantics: the predicate restricts the CANDIDATE
    set and k fills post-filter. With shortlist >= corpus the ADC stage
    passes every matching candidate, so the answer must equal the exact
    brute-force top-k over the filtered corpus — and differ from
    post-filtering the unfiltered top-k (which under-fills k whenever a
    true neighbor fails the predicate)."""
    e = _labeled(spark, sf_dir)
    rows = e.collect()
    labels = (1, 3, 5)
    books = train_pq_codebooks(e)
    got = pq_topk(
        e,
        books,
        query_ids=[0, 1, 2],
        k=5,
        shortlist=len(rows) + 1,
        predicate=f"label IN {labels}",
    ).collect()
    assert all(len([r for r in got if r["query_id"] == q]) == 5
               for q in (0, 1, 2))
    by_id = {r["vec_id"]: r["label"] for r in rows}
    assert all(by_id[r["neighbor_id"]] in labels for r in got)
    qrows = [r for r in rows if r["vec_id"] in (0, 1, 2)]
    want = _brute_filtered(rows, qrows, set(labels), 5)
    assert sorted(
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in got
    ) == want
    # The semantics matter on this corpus: at least one query's
    # unfiltered top-5 contains a neighbor OUTSIDE the label set.
    unfiltered = pq_topk(
        e, books, query_ids=[0, 1, 2], k=5, shortlist=len(rows) + 1
    ).collect()
    assert any(by_id[r["neighbor_id"]] not in labels for r in unfiltered)


def _plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _filtered_topk_frames(spark, sf_dir, tmp_path, monkeypatch) -> dict:
    """Run one filtered top-k over a persisted index and return the
    frames its two scans ran: ``_adc_stage`` (stage 1) and
    ``_fetch_rows`` (the stage-2 shortlist fetch)."""
    from mora_spark.llm import simsearch
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = _labeled(spark, sf_dir)
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(e, n_cells=8, train_iters=1), path
    )
    frames = {}

    def spy(name):
        real = getattr(simsearch, name)

        def wrapped(*args, **kwargs):
            frames[name] = real(*args, **kwargs)
            return frames[name]

        monkeypatch.setattr(simsearch, name, wrapped)

    spy("_adc_stage")
    spy("_fetch_rows")
    got = ivfpq_index_topk(
        spark, path, query_ids=[0, 1], k=5, n_probe=2,
        predicate="label IN (1, 3, 5)",
    ).collect()
    assert len(got) == 10
    return frames


def test_ivfpq_lazy_plan_pins_stage1_projection_and_filter(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Stage 1 of a filtered top-k reads codes only: its ReadSchema has
    pq_code but NOT the float column (the 4-bytes/vector candidate
    read), and the label predicate is pushed to that scan."""
    frames = _filtered_topk_frames(spark, sf_dir, tmp_path, monkeypatch)
    plan = _plan(frames["_adc_stage"])
    schemas = [ln for ln in plan.splitlines() if "ReadSchema:" in ln]
    assert schemas and all(
        "pq_code" in ln and "embedding" not in ln for ln in schemas
    ), f"stage 1 does not read codes only:\n{schemas}"
    assert any(
        "PushedFilters:" in ln and "In(label" in ln
        for ln in plan.splitlines()
    ), f"label predicate not pushed to the stage-1 scan:\n{plan[:1500]}"


def test_ivfpq_stage2_pushes_shortlist_to_scan(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Stage 2's fetch pushes the shortlist ids down as In(vec_id, ...)
    and prunes pq_code."""
    frames = _filtered_topk_frames(spark, sf_dir, tmp_path, monkeypatch)
    plan = _plan(frames["_fetch_rows"])
    assert any(
        "PushedFilters:" in ln and "In(vec_id" in ln
        for ln in plan.splitlines()
    ), f"shortlist ids not pushed to the scan:\n{plan[:1500]}"
    schemas = [ln for ln in plan.splitlines() if "ReadSchema:" in ln]
    assert schemas and all("pq_code" not in ln for ln in schemas), (
        f"rerank scan did not prune pq_code:\n{schemas}"
    )


def test_ivfpq_filtered_equals_exact_filtered_topk(spark, sf_dir, tmp_path):
    """With every cell probed and a shortlist covering the corpus, the
    persisted-index search is the exact top-k over the candidates that
    pass the predicate (round-6 scores, id tie-breaks) — with and
    without a predicate; every filtered neighbor satisfies it."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = _labeled(spark, sf_dir)
    rows = e.collect()
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(e, n_cells=8, train_iters=1), path
    )
    qrows = [r for r in rows if r["vec_id"] in (0, 1)]
    all_labels = {r["label"] for r in rows}
    for pred, labels in (
        (None, all_labels),
        ("label IN (1, 3, 5)", {1, 3, 5}),
    ):
        got = ivfpq_index_topk(
            spark, path, query_ids=[0, 1], k=5, n_probe=8,
            shortlist=len(rows) + 1, predicate=pred,
        ).collect()
        assert len(got) == 10
        assert sorted(
            (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
            for r in got
        ) == _brute_filtered(rows, qrows, labels, 5)


def _canon(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        for r in df.collect()
    )


def _fresh_topk(spark, path, **kw):
    """The answer of a process that never loaded ``path`` before."""
    from mora_spark.llm import simsearch

    simsearch._INDEX_CACHE.clear()
    return _canon(simsearch.ivfpq_index_topk(spark, path, **kw))


def test_ivfpq_handle_sees_add_after_cached_load(spark, sf_dir, tmp_path):
    """An ivfpq_index_add after the index handle is cached is seen by
    the next top-k in the same process."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = _labeled(spark, sf_dir)
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(
            e.where(F.col("vec_id") % 2 == 0), n_cells=8, train_iters=1
        ),
        path,
    )
    kw = dict(query_ids=[0, 2], k=5, n_probe=8)
    before = _canon(ivfpq_index_topk(spark, path, **kw))
    ivfpq_index_add(spark, path, e.where(F.col("vec_id") % 2 == 1))
    after = _canon(ivfpq_index_topk(spark, path, **kw))
    assert after != before
    assert after == _fresh_topk(spark, path, **kw)


def test_ivfpq_handle_sees_replayed_epoch_overwrite(spark, sf_dir, tmp_path):
    """Re-running an add with the same add_id overwrites its epoch
    directory; a handle cached before the replay must not serve the
    replaced postings."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = _labeled(spark, sf_dir)
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(
            e.where(F.col("vec_id") % 3 == 0), n_cells=8, train_iters=1
        ),
        path,
    )
    kw = dict(query_ids=[0, 3], k=5, n_probe=8)
    ivfpq_index_add(spark, path, e.where(F.col("vec_id") % 3 == 1), add_id=1)
    first = _canon(ivfpq_index_topk(spark, path, **kw))
    ivfpq_index_add(spark, path, e.where(F.col("vec_id") % 3 == 2), add_id=1)
    replayed = _canon(ivfpq_index_topk(spark, path, **kw))
    assert replayed != first
    assert replayed == _fresh_topk(spark, path, **kw)


def test_ivfpq_handle_sees_save_over_same_path(spark, sf_dir, tmp_path):
    """save_ivfpq_index over a path whose handle is cached replaces the
    models and postings the next top-k serves."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        save_ivfpq_index,
    )

    e = _labeled(spark, sf_dir)
    path = str(tmp_path / "idx")
    kw = dict(query_ids=[0, 1], k=5, n_probe=2)
    save_ivfpq_index(
        *build_ivfpq_index(
            e.where(F.col("vec_id") < 250), n_cells=8, train_iters=1
        ),
        path,
    )
    first = _canon(ivfpq_index_topk(spark, path, **kw))
    save_ivfpq_index(*build_ivfpq_index(e, n_cells=4, train_iters=1), path)
    second = _canon(ivfpq_index_topk(spark, path, **kw))
    assert second != first
    assert second == _fresh_topk(spark, path, **kw)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivfpq_topk_on_unchanged_index_runs_no_load_job(
    spark, sf_dir, tmp_path
):
    """The resident handle: once an index is loaded, reading it again
    runs no Spark job while its files are unchanged, and a whole
    top-k request (consumed with toPandas) stays at five jobs: query
    fetch, the stage-1 pass and its shortlist reduce (a shuffle is its
    own job under AQE), the stage-2 fetch, and the consumer's."""
    from mora_spark.llm.simsearch import (
        build_ivfpq_index,
        ivfpq_index_topk,
        load_ivfpq_index,
        save_ivfpq_index,
    )

    e = _labeled(spark, sf_dir)
    path = str(tmp_path / "idx")
    save_ivfpq_index(
        *build_ivfpq_index(e, n_cells=8, train_iters=1), path
    )

    def topk():
        ivfpq_index_topk(
            spark, path, query_ids=[0, 1], k=5, n_probe=2,
            predicate="label IN (1, 3, 5)",
        ).toPandas()

    cold = _jobs(spark, topk)
    assert _jobs(spark, lambda: load_ivfpq_index(spark, path)) == 0
    warm = _jobs(spark, topk)
    assert warm <= 5 < cold, (cold, warm)


def test_round6_is_spark_round_half_up(spark):
    """The kernels' rounding helper equals Spark's round(x, 6) bit for
    bit, on HALF_UP ties of the decimal string (where rounding the
    binary value, or half-to-even, differs) of both signs."""
    from mora_spark.llm.simsearch import _round6

    ties = [
        5e-7, 2.5e-6, 1.0000005, 0.1234565, 0.9999995, 123.4567895,
        1.5e-6, 4.5e-6, 0.0000125, 7.0000015,
    ]
    rng = np.random.default_rng(7)
    xs = (
        ties
        + [-t for t in ties]
        + [0.0, -0.0, -1e-9, 1e-9, 0.5, -0.5]
        + list(rng.normal(0, 3, 200))
        + list(np.round(rng.normal(0, 3, 200), 7))
    )
    want = [
        r[0]
        for r in spark.createDataFrame([(float(x),) for x in xs], "x double")
        .select(F.round("x", 6))
        .collect()
    ]
    got = _round6(np.array(xs))
    assert [repr(float(g)) for g in got] == [repr(w) for w in want]
    # the crafted ties are ones a binary rounding gets wrong
    naive = np.round(np.array(ties + [-t for t in ties]), 6)
    assert any(a != b for a, b in zip(naive, want))
