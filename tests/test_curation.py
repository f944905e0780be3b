"""Curation-operator invariants: sampling determinism, shingle guards,
decontamination precision, packing conservation."""

from __future__ import annotations

from pyspark.sql import functions as F

from mora_spark.datasets import load_table
from mora_spark.llm.curation import (
    boilerplate_frac,
    decontaminate,
    pack_sequences,
    quality_rules,
    shingle_hashes,
    stratified_sample,
    train_shards,
    vocab_topk,
)
from mora_spark.functions.text import tokens


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_stratified_sample_stable_under_repartition(spark, sf_dir):
    d = _docs(spark, sf_dir)
    rates = {"en": 0.5, "zh": 0.3}
    a = stratified_sample(d, "lang", rates, default_rate=0.1)
    b = stratified_sample(d.repartition(7), "lang", rates, default_rate=0.1)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_a) > 0


def test_stratified_sample_rate_respected(spark, sf_dir):
    d = _docs(spark, sf_dir)
    kept = stratified_sample(d, "lang", {"en": 1.0}, default_rate=0.0)
    n_en = d.where(F.col("lang") == "en").count()
    assert kept.count() == n_en
    assert kept.where(F.col("lang") != "en").count() == 0


def test_shingle_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "one two three"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id", F.size(shingle_hashes(tokens("text"), 8)).alias("n")
    ).collect()
    by_id = {r.doc_id: r.n for r in out}
    assert by_id[1] == 0  # 3 tokens < 8 -> no shingles, not a countdown
    assert by_id[2] == 3  # 10 tokens -> windows at 1, 2, 3


def test_decontaminate_flags_only_overlap(spark):
    mk = " ".join(f"w{i}" for i in range(20))
    train = spark.createDataFrame(
        [(1, mk), (2, "clean " + " ".join(f"x{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix " + mk + " suffix")], "doc_id long, text string"
    )
    hits = {r.doc_id: r.n_hits for r in decontaminate(train, bench).collect()}
    assert 1 in hits and hits[1] > 0
    assert 2 not in hits


def test_pack_sequences_conservation(spark, sf_dir):
    d = _docs(spark, sf_dir)
    packed = pack_sequences(d, budget=512).orderBy("doc_id").collect()
    total = sum(r.tok_len for r in packed)
    assert packed[-1].cum_tokens == total
    prev = 0
    for r in packed:
        assert r.cum_tokens == prev + r.tok_len  # contiguous layout
        prev = r.cum_tokens
        assert r.bin_first <= r.bin_last
        assert r.n_bins == r.bin_last - r.bin_first + 1
        # a doc spans ceil-ish bins: it can't skip a 512-token bin
        assert (r.n_bins - 1) * 512 < r.tok_len + 511


def test_pack_sequences_chunking_invariant(spark, sf_dir):
    """The two-phase prefix sum must equal the single-window cumsum
    regardless of chunk size."""
    d = _docs(spark, sf_dir)
    a = {
        r.doc_id: r.cum_tokens
        for r in pack_sequences(d, budget=512, chunk=64).collect()
    }
    b = {
        r.doc_id: r.cum_tokens
        for r in pack_sequences(d, budget=512, chunk=100000).collect()
    }
    assert a == b


def test_quality_rules_flags_degenerate_docs(spark):
    good = " ".join(f"word{i}" for i in range(40))
    repetitive = " ".join(["spam"] * 40)          # top_token_frac = 1.0
    tiny = "only two"                             # below min length
    df = spark.createDataFrame(
        [(1, good), (2, repetitive), (3, tiny)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in quality_rules(df).collect()}
    assert rows[1].keep is True
    assert rows[2].keep is False and rows[2].top_token_frac == 1.0
    # all-equal tokens: every adjacent 2-gram is the same string
    assert rows[2].dup_2gram_frac > 0.9
    assert rows[3].keep is False and rows[3].n_tokens == 2


def test_boilerplate_frac_detects_shared_template(spark):
    template = " ".join(f"t{i}" for i in range(10))
    rows = [
        (i, template + " " + " ".join(f"u{i}x{j}" for j in range(10)))
        for i in range(4)
    ] + [(99, " ".join(f"z{j}" for j in range(20)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in boilerplate_frac(df, n=5, min_docs=2).collect()}
    # template shingles occur in 4 docs; unique-tail shingles in one
    for i in range(4):
        assert out[i].n_common >= 6  # the 6 all-template windows
        assert 0 < out[i].boiler_frac < 1
    assert out[99].n_common == 0 and out[99].boiler_frac == 0.0


def test_train_shards_stable_under_repartition(spark, sf_dir):
    """The export layout is a pure function of doc ids: same (shard,
    pos) assignment no matter how the input is partitioned."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in train_shards(d, n_shards=8).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in train_shards(d.repartition(7), n_shards=8).collect()}
    assert a == b


def test_train_shards_uniform_and_dense(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    rows = train_shards(d, n_shards=8).collect()
    n = len(rows)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == set(range(8))  # every shard populated
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))  # dense
        assert len(positions) > n / 8 / 3  # no degenerate skew


def test_vocab_topk_ordering(spark, sf_dir):
    rows = vocab_topk(_docs(spark, sf_dir), k=50).orderBy("rank").collect()
    assert rows[0].rank == 1
    for earlier, later in zip(rows, rows[1:]):
        assert later.rank == earlier.rank + 1
        assert (earlier.cnt, later.token) > (later.cnt, earlier.token) or (
            earlier.cnt > later.cnt
        ) or (earlier.cnt == later.cnt and earlier.token < later.token)


def test_chunk_documents_covers_every_token(spark):
    """Reconstruction property: chunk 0's tokens plus every later
    chunk's tokens after the overlap prefix concatenate back to the
    exact original token stream — no token lost, none duplicated
    outside the declared overlap."""
    from mora_spark.functions.text import tokens as tok_fn
    from mora_spark.llm.curation import chunk_documents

    import pytest as _pytest

    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),   # multiple chunks
        (2, " ".join(f"x{i}" for i in range(12))),    # single full-ish
        (3, "solo"),                                  # under overlap
        (4, " ".join(f"y{i}" for i in range(41))),    # boundary: n=size+1? no: stride+1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    size, overlap = 16, 4
    stride = size - overlap
    out = chunk_documents(df, size=size, overlap=overlap)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"]
        assert r["n_tokens"] == len(r["chunk_text"].split(" "))
        assert r["n_tokens"] <= size
    orig = {r["doc_id"]: r["toks"] for r in df.select(
        "doc_id", tok_fn("text").alias("toks")).collect()}
    for doc_id, chunks in got.items():
        ordered = [chunks[i] for i in sorted(chunks)]
        rebuilt = ordered[0].split(" ")
        for c in ordered[1:]:
            ts = c.split(" ")
            assert ts[:overlap] == rebuilt[-overlap:]  # shared context
            rebuilt.extend(ts[overlap:])
        assert rebuilt == orig[doc_id]
    assert len(got[1]) == -(-(100 - overlap) // stride)  # ceil
    assert len(got[3]) == 1

    with _pytest.raises(ValueError):
        chunk_documents(df, size=8, overlap=8)


def test_temperature_weights_limits(spark):
    """τ=1 reproduces natural token shares; τ=0 is uniform; a budget
    above the corpus size caps every rate at exactly 1.0."""
    from mora_spark.llm.curation import temperature_mix, temperature_weights

    rows = [(i, "A" if i < 8 else "B", "w " * 100 if i < 8 else "w " * 20)
            for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    nat = {r["source"]: r["mix_weight"]
           for r in temperature_weights(d, temperature=1.0).collect()}
    assert abs(nat["A"] - 800 / 840) < 1e-9
    uni = {r["source"]: r["mix_weight"]
           for r in temperature_weights(d, temperature=0.0).collect()}
    assert abs(uni["A"] - 0.5) < 1e-9 and abs(uni["B"] - 0.5) < 1e-9
    capped = temperature_weights(d, temperature=0.5, token_budget=10**9)
    assert {r["sample_rate"] for r in capped.collect()} == {1.0}
    assert temperature_mix(
        d, temperature=0.5, token_budget=10**9
    ).count() == 10


def test_temperature_mix_stable_under_repartition(spark, sf_dir):
    from mora_spark.llm.curation import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"] for r in temperature_mix(docs).collect()}
    b = {r["doc_id"]
         for r in temperature_mix(docs.repartition(13)).collect()}
    assert a == b and a


def test_pack_by_domain_conservation_and_isolation(spark, sf_dir):
    """Per-domain packing: within every stratum the running total is
    conserved (max cum_tokens == sum of tok_len) and bins restart at 0
    — no domain's stream leaks into another's."""
    from mora_spark.llm.curation import pack_by_domain

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_by_domain(docs, budget=128)
    per = packed.groupBy("source").agg(
        F.max("cum_tokens").alias("max_cum"),
        F.sum("tok_len").alias("total"),
        F.min("bin_first").alias("first_bin"),
    ).collect()
    assert per
    for r in per:
        assert r["max_cum"] == r["total"]
        assert r["first_bin"] == 0
    # Stable under repartition (the two-phase sum is order-pinned).
    again = pack_by_domain(docs.repartition(17), budget=128)
    a = {(r["doc_id"], r["cum_tokens"]) for r in packed.collect()}
    b = {(r["doc_id"], r["cum_tokens"]) for r in again.collect()}
    assert a == b


def test_pack_by_domain_keeps_null_stratum(spark):
    """A NULL source is a real domain: its docs pack into their own
    bin stream instead of silently dropping out of the join."""
    from mora_spark.llm.curation import pack_by_domain

    rows = [
        (1, "a", "w " * 10),
        (2, None, "w " * 10),
        (3, None, "w " * 30),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = pack_by_domain(d, budget=16).collect()
    assert len(out) == 3
    nulls = {r["doc_id"]: r for r in out if r["source"] is None}
    assert set(nulls) == {2, 3}
    assert nulls[3]["cum_tokens"] == 40


def test_temperature_mix_keeps_null_stratum(spark):
    """A NULL source is a real domain for temperature mixing too: its
    tokens count toward the normalizer z AND its docs stay sampleable
    (the eqNullSafe join), matching pack_by_domain's NULL semantics —
    a null-unsafe join would charge the budget for a domain it then
    silently drops."""
    from mora_spark.llm.curation import temperature_mix, temperature_weights

    rows = [
        (i, None if i < 5 else "B", "w " * 50) for i in range(10)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    w = {r["source"]: r for r in
         temperature_weights(d, temperature=0.5, token_budget=10**9)
         .collect()}
    assert set(w) == {None, "B"}          # NULL is a weighted domain
    assert w[None]["sample_rate"] == 1.0  # budget >> corpus: keep all
    kept = temperature_mix(d, temperature=0.5, token_budget=10**9)
    assert kept.count() == 10             # NULL-source docs not dropped
    assert kept.where(F.col("source").isNull()).count() == 5


def test_pack_chunk_derivation_bounds_driver_state(spark, sf_dir):
    """The derived chunk keeps phase-1 driver rows ~<= 10^5 for any id
    span, floors at 256 for small corpora, and never changes the
    packing output (chunk-invariance at the derived value)."""
    from mora_spark.llm.curation import (
        PACK_DRIVER_ROW_TARGET,
        _derive_pack_chunk,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    assert _derive_pack_chunk(docs, "doc_id") == 256  # small-span floor
    wide = docs.select(
        (F.col("doc_id") * 10_000_000).alias("doc_id"), "text"
    )
    c = _derive_pack_chunk(wide, "doc_id")
    row = wide.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    span = row["hi"] - row["lo"] + 1
    # the derivation sizes against the 0.1%-clipped span, so allow
    # that sliver of slack when checking against the full span
    assert -(-span // c) <= PACK_DRIVER_ROW_TARGET * 1.01 + 2
    # a single stray id must NOT collapse the bulk into one chunk:
    # the quantile-clipped span ignores it and the floor holds
    dense = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("w w w").alias("text")
    )
    stray = spark.createDataFrame(
        [(10**15, "w w w")], "doc_id long, text string"
    )
    assert _derive_pack_chunk(dense.unionByName(stray), "doc_id") == 256
    derived = {
        (r["doc_id"], r["cum_tokens"])
        for r in pack_sequences(wide, budget=128).collect()
    }
    explicit = {
        (r["doc_id"], r["cum_tokens"])
        for r in pack_sequences(wide, budget=128, chunk=97).collect()
    }
    assert derived == explicit and derived


# --- Bloom-prefiltered decontamination ---

def _decon_frames(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 20 == 0)
    train = d.where(F.col("doc_id") % 20 != 0).unionByName(
        bench.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return train, bench


def test_bloom_decontaminate_equals_exact(spark, sf_dir):
    from mora_spark.llm.curation import decontaminate_bloom

    train, bench = _decon_frames(spark, sf_dir)
    exact = {
        (r.doc_id, r.n_hits)
        for r in decontaminate(train, bench, n=8).collect()
    }
    bloom = {
        (r.doc_id, r.n_hits)
        for r in decontaminate_bloom(train, bench, n=8).collect()
    }
    assert bloom == exact and len(exact) > 0


def test_bloom_exact_even_when_saturated(spark, sf_dir):
    # A deliberately undersized bitset (n_keys_hint=10 for thousands
    # of benchmark shingles) saturates and admits nearly everything as
    # a candidate — the exact verify still returns the exact answer.
    # No sizing mistake can change rows, only work.
    from mora_spark.llm.curation import decontaminate_bloom

    train, bench = _decon_frames(spark, sf_dir)
    exact = {
        (r.doc_id, r.n_hits)
        for r in decontaminate(train, bench, n=8).collect()
    }
    bloom = {
        (r.doc_id, r.n_hits)
        for r in decontaminate_bloom(
            train, bench, n=8, n_keys_hint=10
        ).collect()
    }
    assert bloom == exact


def test_bloom_empty_benchmark(spark):
    from mora_spark.llm.curation import decontaminate_bloom

    train = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert decontaminate_bloom(train, bench, n=8).count() == 0


def test_bloom_prepass_adds_no_shuffle(spark, sf_dir):
    # The scale claim: the Bloom pre-pass adds NO shuffle — the
    # candidate test is a broadcast-side join condition evaluated in
    # the scan stage, so the only exchange it introduces is the
    # one-row bitmap broadcast. Shuffle counts must match the exact
    # operator's plan exactly. The broadcast threshold is pinned for
    # the comparison (ADVICE r13): the bloom verify join is
    # deliberately unhinted, so without the pin this test would
    # compare planner size estimates, not the pre-pass.
    from mora_spark.llm.curation import decontaminate_bloom

    train, bench = _decon_frames(spark, sf_dir)

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange") - plan.count("BroadcastExchange")

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(10 * 1024 * 1024))
    try:
        exact = decontaminate(train, bench, n=8)
        bloom = decontaminate_bloom(train, bench, n=8)
        assert shuffles(bloom) == shuffles(exact)
    finally:
        spark.conf.set(key, old)


def test_bloom_shuffle_regime_same_answer(spark, sf_dir):
    # The regime the operator EXISTS for: the benchmark relation does
    # not broadcast (threshold forced to -1). The verify join must
    # degrade to a candidate-only shuffle join — never a rebuilt
    # driver-side hash relation — and the answer must still equal the
    # exact operator's, because the Bloom pre-pass only prunes rows
    # the verify would drop anyway.
    from mora_spark.llm.curation import decontaminate_bloom

    train, bench = _decon_frames(spark, sf_dir)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        bloom = decontaminate_bloom(train, bench, n=8)
        plan = bloom._jdf.queryExecution().executedPlan().toString()
        # the one-row bitmap frame is explicitly hinted and survives
        # the threshold; the unhinted verify join must have become a
        # shuffle join
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        got = {(r.doc_id, r.n_hits) for r in bloom.collect()}
    finally:
        spark.conf.set(key, old)
    want = {
        (r.doc_id, r.n_hits)
        for r in decontaminate(train, bench, n=8).collect()
    }
    assert got == want


def test_bloom_path_benchmark_skips_sizing_job(spark, sf_dir, tmp_path):
    # Footer-derived sizing: with the benchmark passed as a parquet
    # PATH, the bitset is sized from footer metadata (zero jobs), so
    # the whole operator schedules exactly one job fewer than the
    # DataFrame form (whose first job is the distinct-shingle count) —
    # and returns the identical flagged set (sizing changes work,
    # never rows).
    from mora_spark.llm.curation import (
        bloom_footer_keys_bound,
        decontaminate_bloom,
    )

    train, bench = _decon_frames(spark, sf_dir)
    bpath = str(tmp_path / "benchmark")
    bench.write.parquet(bpath)
    shingle_upper = bloom_footer_keys_bound(bpath)
    assert shingle_upper > 0

    sc = spark.sparkContext

    def jobs_of(tag, fn):
        sc.setJobGroup(tag, tag)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(tag))

    df_res, df_jobs = jobs_of(
        "bloom_df",
        lambda: {
            (r.doc_id, r.n_hits)
            for r in decontaminate_bloom(train, bench, n=8).collect()
        },
    )
    p_res, p_jobs = jobs_of(
        "bloom_path",
        lambda: {
            (r.doc_id, r.n_hits)
            for r in decontaminate_bloom(train, bpath, n=8).collect()
        },
    )
    assert p_res == df_res
    # strictly fewer, not exactly one fewer: the sizing count is gone,
    # and AQE may fold additional jobs on the simpler flat-parquet
    # benchmark plan
    assert p_jobs < df_jobs


def test_derive_bloom_params():
    from mora_spark.llm.curation import derive_bloom_params

    m, k = derive_bloom_params(1000, bits_per_key=16)
    assert m % 64 == 0 and m >= 16_000
    assert k == 11  # round(ln2 * 16)
    m1, k1 = derive_bloom_params(1)
    assert m1 == 64 and k1 >= 1


def test_bloom_pandas_udf_transport_same_answer(spark, sf_dir, monkeypatch):
    # The big-bitset transport (broadcast variable + numpy mapInPandas
    # probe) must flag the identical set: the JVM keeps the xxhash64,
    # Python replays only the integer probe math, and numpy %/>> on
    # int64 match pmod/shiftright — asserted here against both the
    # exact operator and the frame transport. Also: mapInPandas is
    # narrow, so this path too adds no shuffle vs the exact plan. The
    # UDF path is forced by shrinking the size boundary (the transport
    # is picked when the plan is built).
    import mora_spark.llm.curation as cur

    train, bench = _decon_frames(spark, sf_dir)
    with monkeypatch.context() as mp:
        mp.setattr(cur, "_BLOOM_FRAME_WORDS_MAX", 1)
        udf = cur.decontaminate_bloom(train, bench, n=8)

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange") - plan.count("BroadcastExchange")

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(10 * 1024 * 1024))
    try:
        assert shuffles(udf) == shuffles(decontaminate(train, bench, n=8))
    finally:
        spark.conf.set(key, old)
    got = {(r.doc_id, r.n_hits) for r in udf.collect()}
    want = {
        (r.doc_id, r.n_hits)
        for r in decontaminate(train, bench, n=8).collect()
    }
    assert got == want
    frame = {
        (r.doc_id, r.n_hits)
        for r in cur.decontaminate_bloom(train, bench, n=8).collect()
    }
    assert got == frame


def test_bloom_auto_transport_boundary(spark, sf_dir, monkeypatch):
    # auto switches to the UDF transport when the bitset outgrows the
    # frame boundary; the answer is transport-invariant.
    import mora_spark.llm.curation as cur

    train, bench = _decon_frames(spark, sf_dir)
    monkeypatch.setattr(cur, "_BLOOM_FRAME_WORDS_MAX", 1)
    auto = cur.decontaminate_bloom(train, bench, n=8)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # the boundary actually switched
    got = {(r.doc_id, r.n_hits) for r in auto.collect()}
    want = {
        (r.doc_id, r.n_hits)
        for r in decontaminate(train, bench, n=8).collect()
    }
    assert got == want


def test_bloom_footer_sizing_refuses_unmatched_column(spark, tmp_path):
    # A text_col that matches no footer column chunk (typo / nested
    # leaf path) must raise, not silently size from rows alone — a
    # tbytes=0 bound saturates the filter and collapses the pre-pass
    # to "admit everything" with no visible error (r14 ADVICE #3).
    from mora_spark.llm.curation import bloom_footer_keys_bound

    import pytest

    bpath = str(tmp_path / "bench")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    ).write.parquet(bpath)
    with pytest.raises(ValueError, match="no column chunk"):
        bloom_footer_keys_bound(bpath, text_col="txet")
    assert bloom_footer_keys_bound(bpath, text_col="text") > 0


def test_bloom_footer_sizing_scheme_root(spark, tmp_path):
    """scheme:// benchmark roots size through the Hadoop FileSystem
    (listing + seekable footer reads, zero Spark jobs) and agree
    exactly with the local-glob bound on the same files; a missing
    root still raises rather than sizing a saturated filter."""
    import pytest

    from mora_spark.llm.curation import bloom_footer_keys_bound

    bpath = str(tmp_path / "bench")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body text number "), F.col("id")).alias(
            "text"
        ),
    ).repartition(3).write.parquet(bpath)

    sc = spark.sparkContext
    sc.setJobGroup("footer_uri", "footer_uri")
    try:
        via_uri = bloom_footer_keys_bound(f"file://{bpath}")
    finally:
        sc.setJobGroup("", "")
    # zero jobs: footers are driver-side reads, never a scan
    assert not sc.statusTracker().getJobIdsForGroup("footer_uri")
    assert via_uri == bloom_footer_keys_bound(bpath) > 0
    # single-file roots work too
    import glob as _glob

    part = sorted(_glob.glob(bpath + "/*.parquet"))[0]
    assert bloom_footer_keys_bound(f"file://{part}") == (
        bloom_footer_keys_bound(part)
    )
    with pytest.raises(FileNotFoundError):
        bloom_footer_keys_bound(f"file://{tmp_path}/nowhere")
    with pytest.raises(ValueError, match="no column chunk"):
        bloom_footer_keys_bound(f"file://{bpath}", text_col="txet")
