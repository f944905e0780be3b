"""Corpus-curation operators for training-data pipelines: stratified
sampling, benchmark decontamination, vocabulary building, and
sequence packing.

These are the steps between "deduped corpus" and "tokenizer-ready
shards" in an LLM data pipeline. Shared constraints:

- deterministic across engines (md5-derived randomness, total-order
  tie-breaks) so each operator has an exact DuckDB oracle;
- scan-stage-friendly: sampling and shingling are pure column
  expressions; the only shuffles are the ones the semantics require
  (one equi-join for decontamination, one agg for vocab, a two-phase
  prefix-sum for packing).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mora_spark.functions.text import tokens
from mora_spark.localdf import tiny_df

# Denominator for md5-derived uniforms: first 8 hex chars = 32 bits.
_U32 = float(2**32)


def hash_uniform(col: Column, salt: str = "sample") -> Column:
    """Deterministic uniform in [0, 1) from an id column: the first 32
    bits of md5(salt || ':' || id) scaled by 2^-32. Same value on any
    engine, any run, any partitioning — the property that makes a
    sample reproducible across a 1000-executor rerun. SQL twin:
    ``('0x' || substr(md5(...), 1, 8))::BIGINT / 2^32``."""
    h = F.md5(F.concat_ws(":", F.lit(salt), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_U32)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum Bernoulli sample at deterministic hash uniforms.

    ``rates`` maps stratum value -> keep probability; unlisted strata
    get ``default_rate``. Unlike ``df.sampleBy`` (RNG per partition,
    result changes with partitioning), the hash coin depends only on
    the row id, so the sample is stable under repartition/retry —
    what a 100 TB curation run needs for resumability. Pure scan-stage
    filter: no shuffle, predicate pushdown still applies to other
    filters composed around it."""
    rate = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(r)).otherwise(rate)
    return df.where(hash_uniform(F.col(id_col), salt) < rate)


def temperature_weights(
    docs: DataFrame,
    strata_col: str = "source",
    temperature: float = 0.5,
    token_budget: int = 10_000,
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum temperature-scaled mixture weights under a token
    budget — the standard multi-domain sampling rule (the multilingual
    "sampling temperature" of Conneau & Lample's XLM and successors):
    ``w_s = n_s^τ / Σ_t n_t^τ`` over per-domain token counts, so τ=1
    reproduces natural proportions, τ→0 approaches uniform, and small
    domains are upweighted in between. The per-domain keep rate is
    ``min(1, budget·w_s / n_s)`` — a budget-constrained allocation a
    deterministic Bernoulli sampler can apply directly.

    Returns one row per stratum: ``n_docs``, ``n_tokens``,
    ``mix_weight`` (τ-scaled share), ``sample_rate`` (snapped to the
    1e-6 grid via round — NOT floor — so the rate both engines compare
    hash uniforms against is the identical double: pow() may differ in
    the last ulp, and floor flips at every integer grid boundary —
    including the realistic one, a rate the least(1, ·) clamp lands
    exactly on 1.0 while the unclamped value sits one ulp below it.
    round's flip points are the half-grid marks, which last-ulp
    wobble around a computed value essentially never straddles).
    A NULL stratum is a real domain here (groupBy keeps the NULL
    group), matching :func:`pack_by_domain` and the eqNullSafe join
    in :func:`temperature_mix`.

    One map-side-combined agg over the corpus plus a broadcast of the
    one-row normalizer: scan-shaped at 100 TB like q_domain_mix.
    """
    per = (
        docs.select(
            F.col(strata_col),
            F.size(tokens(text_col)).cast("long").alias("tl"),
        )
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tl").alias("n_tokens"),
        )
    )
    z = per.agg(
        F.sum(F.pow(F.col("n_tokens"), F.lit(temperature))).alias("z")
    )
    return (
        per.crossJoin(F.broadcast(z))
        .withColumn(
            "mix_weight",
            F.pow(F.col("n_tokens"), F.lit(temperature)) / F.col("z"),
        )
        .withColumn(
            "sample_rate",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(token_budget))
                    * F.col("mix_weight")
                    / F.col("n_tokens"),
                )
                * 1e6
            )
            / 1e6,
        )
        .select(
            strata_col, "n_docs", "n_tokens", "mix_weight", "sample_rate"
        )
    )


def temperature_mix(
    docs: DataFrame,
    strata_col: str = "source",
    temperature: float = 0.5,
    token_budget: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "tempmix",
    weights: DataFrame | None = None,
) -> DataFrame:
    """Temperature-weighted cross-domain sample under a token budget:
    :func:`temperature_weights` sets each stratum's keep rate, the
    :func:`hash_uniform` coin applies it — deterministic across
    engines, retries and repartitions like :func:`stratified_sample`.
    Returns the sampled docs with the stratum's ``n_tokens``,
    ``mix_weight`` and ``sample_rate`` columns attached. The weights
    side is a tiny broadcast (one row per domain), so the sample
    itself stays a scan-stage filter over the corpus. Pass a
    precomputed ``weights`` frame (from :func:`temperature_weights`)
    when the caller also reports it — otherwise the corpus-wide token
    aggregation underneath would run twice.

    The join is NULL-safe on the stratum: :func:`temperature_weights`
    keeps NULL as a real group (its tokens count toward the normalizer
    z), so a null-unsafe equi-join here would silently drop NULL-source
    docs while still charging their mix weight — inconsistent with
    :func:`pack_by_domain`, which packs the NULL domain like any other.
    """
    w = (
        weights
        if weights is not None
        else temperature_weights(
            docs, strata_col, temperature, token_budget, text_col
        )
    )
    wr = F.broadcast(
        w.select(
            F.col(strata_col).alias("__tm_stratum"),
            "n_docs", "n_tokens", "mix_weight", "sample_rate",
        )
    )
    return (
        docs.join(
            wr, F.col(strata_col).eqNullSafe(F.col("__tm_stratum"))
        )
        .where(hash_uniform(F.col(id_col), salt) < F.col("sample_rate"))
        .drop("__tm_stratum")
    )


def shingle_hashes(toks: Column, n: int = 8) -> Column:
    """md5 fingerprints of every n-token shingle (1-based windows).
    Documents shorter than n tokens yield an empty array (guarded —
    ``sequence(1, len-n+1)`` would count DOWN for short docs).

    ``toks`` MUST be a materialized column reference, not a raw
    tokenization expression: it is read inside the per-window lambda
    (the transform input is the position ``sequence``), so an inlined
    expression would be re-evaluated once per shingle — measured 17x
    end-to-end slowdown when ``tokens(text)`` was passed directly.

    The dual trap: when the RESULT feeds a generator, explode/
    posexplode DIRECTLY over this function's output — never project
    it into a named array column and explode that in a later select.
    A generate over a separately-projected HOF column re-evaluates
    the whole array build per OUTPUT row: measured 217 s vs 5.4 s
    (40x) for this function at the 10x scale probe, and 3-4x even
    for a plain ``explode(tokens(text))``. See duplicate_spans /
    lm_score / simhash16 for the audited call shapes."""
    n_sh = F.size(toks) - F.lit(n - 1)
    return F.when(
        n_sh > 0,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_shingles(
    df: DataFrame, keep: list[Column], text_col: str, n: int
) -> DataFrame:
    """Exploded per-doc distinct shingle hashes: (*keep, sh). The
    array-side ``array_distinct`` (never a post-explode
    ``dropDuplicates``) and the materialized ``_toks`` projection are
    the two plan traps :func:`decontaminate`'s docstring documents."""
    toked = df.select(*keep, tokens(text_col).alias("_toks"))
    return toked.select(
        *[c for c in toked.columns if c != "_toks"],
        F.explode(
            F.array_distinct(shingle_hashes(F.col("_toks"), n))
        ).alias("sh"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3/PaLM
    recipe: drop training documents sharing any length-n token shingle
    with an evaluation set).

    Returns one row per CONTAMINATED training doc: (id, n_hits =
    distinct shared shingles). The benchmark side is aggregated to its
    distinct shingle set first — typically millions of rows against a
    100 TB train side, so the join broadcasts; drop the hint if the
    benchmark outgrows the driver and it degrades to a shuffle
    equi-join on the shingle hash, same plan shape otherwise.

    Per-doc shingle dedup happens ARRAY-side (``array_distinct``
    before the explode), never as a post-explode ``dropDuplicates``:
    the latter would shuffle the entire exploded shingle stream (~8
    hashes per token of training text), which is the step that cannot
    exist at 100 TB. With it array-side, the train scan flows straight
    into the broadcast hash join and the only shuffle left carries the
    contaminated ids.

    Tokenization is materialized in its own projection before the
    shingle ``transform``: a raw ``tokens(text)`` expression inlined
    into the lambda is re-evaluated PER SHINGLE (the regex chain runs
    n times per doc — measured 17x slower at 10x sf0.1), while an
    attribute reference is read once per row. Catalyst keeps the
    barrier because the alias is referenced more than once."""
    t_sh = _doc_shingles(
        train, [F.col(id_col).alias("train_id")], text_col, n
    )
    b_sh = _doc_shingles(benchmark, [], text_col, n).dropDuplicates(["sh"])
    return (
        t_sh.join(F.broadcast(b_sh), "sh")
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(F.col("train_id").alias(id_col), "n_hits")
    )


def derive_bloom_params(
    n_keys: int, bits_per_key: int = 16
) -> tuple[int, int]:
    """(m_bits, k) for a Bloom filter over ``n_keys`` keys: m is
    ``n_keys * bits_per_key`` rounded up to a 64-bit word boundary
    (floor one word), k = round(ln2 * bits_per_key) probes — the
    optimum k = (m/n)·ln2 for the chosen density. The default 16
    bits/key gives k=11 and a false-positive rate of ~5e-4; false
    positives only cost exact-verification work downstream, never a
    wrong answer."""
    m_bits = 64 * max(1, math.ceil(n_keys * bits_per_key / 64))
    k = max(1, round(math.log(2.0) * bits_per_key))
    return m_bits, k


#: Kirsch-Mitzenmacher double hashing: position_i = h1 + i*h2 mod m.
#: Both components come from the two halves of ONE xxhash64 per
#: shingle (h2 from the high bits via this arithmetic shift) — the
#: string hash is the expensive part of the probe, so it is paid
#: exactly once per shingle regardless of k; everything after is
#: integer arithmetic. (A first cut hashed twice per probe inside the
#: lambda — 2k string hashes per shingle — and the 10x probe priced
#: that at 20x the exact join. Measure, don't guess.)
#: Shift of 32 keeps h1 (low bits, reduced mod m) and h2 (the full
#: high 32 bits) disjoint for every m up to 2^32 — a first cut used
#: 41, which left only 23 bits of stride: past ~520k benchmark
#: shingles (m-1 > 2^23) the pmod on h2 became a no-op and all k
#: probes landed in a narrow window around h1, drifting the FP rate
#: above its design value in exactly the large-benchmark regime this
#: operator targets (never wrong rows — the exact verify catches FPs
#: — just extra verify work).
_BLOOM_H2_SHIFT = 32


def _bloom_probes(x: Column, m_bits: int, k: int) -> list[Column]:
    """The k probe positions from one 64-bit shingle hash ``x``. Both
    components are pmod-reduced BEFORE the affine combination so every
    intermediate stays under ~k·m ≪ 2⁶³ (ANSI mode errors on long
    overflow; hashing must not depend on wraparound)."""
    h1 = F.pmod(x, F.lit(m_bits))
    # +1 keeps the stride nonzero, so the k probes never collapse to
    # one position.
    h2 = F.pmod(
        F.shiftright(x, _BLOOM_H2_SHIFT), F.lit(m_bits - 1)
    ) + F.lit(1)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def _bloom_test(x: Column, words: Column, m_bits: int, k: int) -> Column:
    """True iff every probe bit of shingle hash ``x`` is set in the
    bitmap word array. ``get`` (0-based, null-safe) + ``getbit`` with
    a column position keep the whole test a JVM expression; the
    unrolled AND chain short-circuits on the first clear bit.
    ``words`` must be an ATTRIBUTE (the one-row broadcast in
    :func:`decontaminate_bloom`), never a plan literal: a folded
    array literal of tens of thousands of elements is re-materialized
    per evaluation — measured 25x over the identical probe chain on a
    16-word literal at 2M rows."""
    hit = None
    for pos in _bloom_probes(x, m_bits, k):
        bit = (
            F.getbit(
                F.get(words, (pos / F.lit(64)).cast("int")),
                F.pmod(pos, F.lit(64)),
            )
            == 1
        )
        hit = bit if hit is None else hit & bit
    return hit


def bloom_footer_keys_bound(path: str, text_col: str = "text") -> int:
    """Upper bound on a parquet benchmark's distinct shingle count
    from FOOTER METADATA ONLY (zero Spark jobs): distinct shingles <=
    shingle instances <= token count, and every whitespace token
    consumes at least one character plus a separator, so tokens <=
    (text bytes + rows) / 2. Footer row counts and the text column's
    total_uncompressed_size give both terms. The bound oversizes the
    bitset ~2-6x for typical prose (avg token ~5 bytes, plus
    duplicate shingles); oversizing only LOWERS the false-positive
    rate, and even 6x of the 16-bit/key design stays well under the
    ~400 bits/key the broadcast md5-string hash relation costs — so
    the trade is zero sizing scans for a safe size on the common
    layout. Honest caveat: total_uncompressed_size counts ENCODED
    bytes, which parquet v1 PLAIN/dictionary pages keep at-or-above
    the logical text bytes for realistic benchmarks, but v2 delta
    encodings (DELTA_BYTE_ARRAY on heavily shared prefixes) can push
    below, and heavily dictionary-encoded text pages (many exact-dup
    rows) can too — undersizing there drifts the FP rate up (extra
    verify work, never wrong rows, since every candidate is
    exact-verified); pass ``n_keys_hint`` explicitly for such
    layouts. Listing and footer reads go through the storefs seam, so
    ``scheme://`` roots (file://, hdfs://, s3a://, ...) are read
    through the session's Hadoop FileSystem, still zero Spark JOBS:
    footers are a handful of driver-side reads, never a scan. A root
    with no parquet files raises rather than returning a bound that
    would size a saturated one-word filter."""
    from mora_spark.engine.storefs import store_fs

    fs = store_fs(path)
    if fs.isdir(path):
        files = sorted(
            os.path.join(path, rel)
            for rel, _ in fs.walk_files(path)
            if rel.endswith(".parquet")
        )
    else:
        files = [path] if fs.exists(path) else []
    if not files:
        raise FileNotFoundError(
            f"bloom_footer_keys_bound: no parquet files under "
            f"'{path}' — check the path (or supply n_keys_hint)"
        )
    rows = 0
    tbytes = 0
    matched = False
    for md in map(fs.parquet_metadata, files):
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == text_col:
                    matched = True
                    tbytes += col.total_uncompressed_size
    # A text_col that matches NO column chunk (typo, or a nested
    # schema whose leaf path is 'doc.text') must not silently size
    # from rows alone: tbytes=0 undersizes the filter by orders of
    # magnitude, the FP rate saturates, and the pre-pass passes nearly
    # everything — collapsing the operator to exact-decontamination
    # cost with no error and no wrong rows to notice (r14 ADVICE #3).
    if rows > 0 and not matched:
        raise ValueError(
            f"bloom_footer_keys_bound: no column chunk in '{path}' "
            f"matches text_col='{text_col}' (nested leaves use "
            "dotted paths, e.g. 'doc.text'); fix the column name or "
            "pass n_keys_hint"
        )
    return max(1, (tbytes + rows) // 2)


#: Bitset-size boundary (in 64-bit words) between the two transport
#: modes of :func:`decontaminate_bloom`'s pre-filter: up to 2^23
#: words (64 MB, ~33M benchmark shingles at 16 bits/key) the bitmap
#: rides a one-row broadcast FRAME and the membership test runs as a
#: JVM join condition in the scan stage (the fast path — zero Arrow
#: traffic); past it, the words ship as a sparkContext.broadcast
#: variable into a mapInPandas filter (one Arrow round-trip of the
#: shingle stream, but no 100s-of-MB single Arrow cell and no
#: per-executor one-row-frame rebuild).
_BLOOM_FRAME_WORDS_MAX = 1 << 23


def decontaminate_bloom(
    train: DataFrame,
    benchmark: DataFrame | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bits_per_key: int = 16,
    n_keys_hint: int | None = None,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-filter pre-pass — the 100 TB
    shape of benchmark decontamination. Answer IDENTICAL to
    :func:`decontaminate` by construction: a Bloom filter has no false
    negatives (every contaminated doc has a shingle whose k bits are
    all set), and every shingle it admits is re-verified by the exact
    join, so false positives cost work, never rows.

    Why it matters at scale: the exact pass joins EVERY training
    shingle against the benchmark's distinct-shingle set — fine while
    that set broadcasts as a hash relation of md5 strings, fatal once
    it doesn't (a large eval suite is tens of millions of shingles ≈
    GBs as strings+hashtable): Spark degrades to shuffling the full
    ~8-hashes-per-token training stream. The Bloom bitset re-encodes
    the same membership at ``bits_per_key`` (default 16) bits per
    shingle — 20-40x smaller than the broadcast relation — and the
    pre-filter (ONE xxhash64 + k getbits per shingle, applied to the
    exploded shingle stream in the scan stage, before any join or
    shuffle) drops all but the truly-contaminated shingles plus a
    ~5e-4 false-positive trickle. Past the filter, the verify join
    and the per-doc hit count see only candidate rows, so they stay
    cheap even as a shuffle join. The bitset is built distributed
    (groupBy word index + ``bit_or``), collected once (bounded by
    m/64 words, never corpus rows), and shipped back by one of two
    transports, picked by bitset size at ``_BLOOM_FRAME_WORDS_MAX``: a
    ONE-ROW broadcast frame whose array the JVM join-condition probe
    reads as an attribute, never as a plan literal (see the inline
    note for the measured cliffs), or — for bitsets too large for a
    single Arrow cell (~10⁸ benchmark shingles and up) — a
    sparkContext broadcast variable probed by a numpy ``mapInPandas``
    filter. The UDF path keeps the EXPENSIVE hash
    JVM-side (``xxhash64`` as a projected column); Python does only
    the Kirsch-Mitzenmacher integer probe math on that int64 — numpy
    ``%``/``>>`` match Spark's ``pmod``/``shiftright`` exactly on
    int64, so both transports test identical bits of the identical
    bitset, and candidates are exact-verified regardless.
    ``mapInPandas`` is a narrow transformation, so this path too adds
    no shuffle — its price is one Arrow round-trip of the shingle
    stream, which is why the frame path stays the default below the
    boundary.

    Plan-shape note: the filter runs on the ``sh`` column OF THE
    GENERATE OUTPUT, never as a per-doc ``exists`` over
    ``shingle_hashes`` in a WHERE — predicate pushdown substitutes
    the tokenization alias into such a filter and the shingle lambda
    then re-evaluates it per window (the documented 17x trap; a
    first cut of this function paid 20-30x the exact operator's wall
    at the 10x probe exactly that way; generators are immune because
    Catalyst does not substitute into a Generate).

    The BENCHMARK side is scanned three times (sizing count, bitset
    build, verify join) — every pass bounded by benchmark size, never
    the corpus. Two ways to drop the sizing scan: pass ``n_keys_hint``
    from a prior run, or pass ``benchmark`` as a plain parquet PATH —
    the filter is then sized from footer metadata alone
    (:func:`bloom_footer_keys_bound`, zero jobs), the common
    production case where the eval suite is a persisted table. A
    caller looping over many corpora against one benchmark DataFrame
    should persist it so the remaining passes are cache reads."""
    if isinstance(benchmark, str):
        if n_keys_hint is None:
            n_keys_hint = bloom_footer_keys_bound(benchmark, text_col)
        benchmark = train.sparkSession.read.parquet(benchmark)
    b_sh = _doc_shingles(benchmark, [], text_col, n).dropDuplicates(["sh"])
    n_keys = b_sh.count() if n_keys_hint is None else n_keys_hint
    m_bits, k = derive_bloom_params(max(n_keys, 1), bits_per_key)

    pos = b_sh.select(F.xxhash64("sh").alias("x")).select(
        F.explode(
            F.array(*_bloom_probes(F.col("x"), m_bits, k))
        ).alias("pos")
    )
    # Arrow-batched transfer, not .collect(): the word table is
    # bounded by m_bits/64 (never corpus rows), but at the documented
    # ~1e8-shingle ceiling that is still ~25M words — as Row objects
    # that is GBs of transient Python; as one Arrow-backed pandas
    # frame scattered into a numpy array it is a 200MB flat buffer.
    import numpy as np

    wpdf = (
        pos.select(
            (F.col("pos") / F.lit(64)).cast("int").alias("w"),
            F.pmod("pos", F.lit(64)).cast("int").alias("bit"),
        )
        .withColumn("one", F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        .groupBy("w")
        .agg(F.bit_or("one").alias("word"))
        .toPandas()
    )
    words = np.zeros(m_bits // 64, dtype=np.int64)
    words[wpdf["w"].to_numpy()] = wpdf["word"].to_numpy()

    spark = train.sparkSession
    t_sh = _doc_shingles(
        train, [F.col(id_col).alias("train_id")], text_col, n
    )
    if len(words) > _BLOOM_FRAME_WORDS_MAX:
        cand = _bloom_filter_pandas(spark, t_sh, words, m_bits, k)
    else:
        cand = _bloom_filter_frame(spark, t_sh, words, m_bits, k)
    # NO broadcast hint on the verify join, deliberately — unlike
    # :func:`decontaminate`, whose whole plan assumes the benchmark
    # relation broadcasts. This operator exists for the regime where
    # it does not, and a forced hint would rebuild the multi-GB string
    # relation on the driver anyway. Below the threshold Spark still
    # picks the broadcast join on its own; above it, both join inputs
    # are bounded (the Bloom-filtered candidate stream and the
    # benchmark's distinct shingles), so the shuffle join stays cheap.
    return (
        cand.join(b_sh, "sh")
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(F.col("train_id").alias(id_col), "n_hits")
    )


def _bloom_filter_frame(spark, t_sh, words, m_bits: int, k: int):
    # The bitmap rides in a ONE-ROW broadcast frame and the test is
    # the JOIN CONDITION, not a post-join filter. Both halves matter,
    # measured at 2M shingle rows: (a) a plan-literal array this size
    # is re-materialized per evaluation (25x); (b) a post-join filter
    # materializes the 470KB-per-row joined output before filtering
    # (~4x in copy bandwidth), while a join condition evaluates on
    # the joined VIEW and only matching (candidate) rows are ever
    # copied out. The explicit array<bigint> schema also matters:
    # inference would type all-small words as array<int> and getbit
    # would bound positions to [0, 32).
    import pandas as pd

    # One row whose single cell is the word array; going through
    # pandas keeps the round trip Arrow-batched end to end (a plain
    # createDataFrame would re-serialize the array element-by-element
    # through pickle — the same 25M-object wall the collect avoided).
    # The non-Arrow fallback converter rejects numpy int64 cells
    # outright, so on a session without Arrow the cell degrades to a
    # plain int list — slower, but correct on any caller's session
    # (this repo's get_spark enables Arrow; external sessions may
    # not).
    arrow_on = (
        str(
            spark.conf.get(
                "spark.sql.execution.arrow.pyspark.enabled", "false"
            )
        ).lower()
        == "true"
    )
    cell = words if arrow_on else [int(w) for w in words]
    wdf = spark.createDataFrame(
        pd.DataFrame({"_bloom_words": [cell]}),
        "_bloom_words array<bigint>",
    )
    return t_sh.join(
        F.broadcast(wdf),
        on=_bloom_test(
            F.xxhash64(F.col("sh")), F.col("_bloom_words"), m_bits, k
        ),
        how="inner",
    ).drop("_bloom_words")


#: Broadcast variables created by the pandas Bloom transport. Only the
#: MOST RECENT stays live: each past-the-boundary call ships a >64 MB
#: bitset that would otherwise live until the session ends, and the
#: r15 boundary probe measured repeated 272 MB-bitset calls degrading
#: ~3x from the accumulation — so creating a new one auto-unpersists
#: the previous (non-blocking, non-destroy: a still-referenced lazy
#: plan that re-executes later re-fetches from the driver).
#: :func:`clear_bloom_broadcasts` remains the explicit full release.
_BLOOM_BROADCASTS: list = []


def clear_bloom_broadcasts() -> None:
    """Unpersist (non-destroy) every bitset broadcast the pandas
    transport has created: executor copies are dropped now; a still-
    referenced plan that re-executes later re-fetches from the driver,
    so this is safe to call between corpora in a loop."""
    while _BLOOM_BROADCASTS:
        try:
            _BLOOM_BROADCASTS.pop().unpersist(False)
        except Exception:
            pass  # a stopped context has already freed everything


def _bloom_filter_pandas(spark, t_sh, words, m_bits: int, k: int):
    # The big-bitset transport: words as a plain broadcast VARIABLE
    # (pickled numpy buffer — no 100s-of-MB Arrow cell, one copy per
    # executor), probed by a numpy batch filter. The xxhash64 stays a
    # JVM projection — Python never hashes a string, it only replays
    # the Kirsch-Mitzenmacher integer math on the int64 column, where
    # numpy semantics match Spark's exactly: % with a positive
    # divisor is sign-of-divisor (== pmod) and >> on int64 is
    # arithmetic (== shiftright). mapInPandas is narrow — no shuffle;
    # the cost vs the frame path is one Arrow round-trip of the
    # shingle stream.
    bc = spark.sparkContext.broadcast(words)
    # Keep one live bitset: unpersist (don't destroy) the previous
    # transport broadcasts so a long-lived curation loop never
    # accumulates executor copies (r15 probe: ~3x degradation by the
    # third retained 272 MB bitset). Unpersist is safe mid-plan — an
    # executor needing an unpersisted block re-fetches it.
    clear_bloom_broadcasts()
    _BLOOM_BROADCASTS.append(bc)
    out_schema = t_sh.schema
    cols = [f.name for f in out_schema.fields]
    t_shx = t_sh.withColumn("_x", F.xxhash64("sh"))
    # Captured from the module constant, never hardcoded: the r14 fix
    # changed the stride (41 -> 32) and a literal here would silently
    # desync this transport from the JVM-built bitset on any future
    # change — producing false NEGATIVES (missed contamination) the
    # exact verify cannot recover, detectable only by the
    # transport-equality tests (r14 ADVICE #1).
    import numpy as np

    h2_shift = np.int64(_BLOOM_H2_SHIFT)

    def _flt(batches):
        import numpy as np

        w = bc.value
        m = np.int64(m_bits)
        m1 = np.int64(m_bits - 1)
        for pdf in batches:
            x = pdf["_x"].to_numpy()
            h1 = x % m
            h2 = (x >> h2_shift) % m1 + np.int64(1)
            ok = np.ones(len(pdf), dtype=bool)
            for i in range(k):
                p = (h1 + np.int64(i) * h2) % m
                ok &= (
                    (w[p >> np.int64(6)] >> (p & np.int64(63)))
                    & np.int64(1)
                ).astype(bool)
                if not ok.any():
                    break
            yield pdf.loc[ok, cols]

    return t_shx.mapInPandas(_flt, schema=out_schema)


def quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_top_token_frac: float = 0.20,
    max_dup_2gram_frac: float = 0.30,
) -> DataFrame:
    """Gopher-style heuristic quality filters (Rae et al. 2021 §A1.1,
    re-expressed for whitespace tokens): per-document length, mean word
    length, most-frequent-token fraction, and duplicate-2-gram
    fraction, plus the combined ``keep`` verdict.

    Plan shape: length/word-length/2-gram metrics are pure array
    expressions in the scan stage (tokenization materialized once per
    row — see :func:`shingle_hashes` for why); only the top-token
    fraction needs real machinery (explode -> per-(doc,token) count ->
    per-doc max), which is two map-side-combinable aggregations keyed
    by doc id. The final join is agg-output vs. scan-output on the id —
    at 100 TB the explode dominates and nothing is quadratic.

    Emits (id, n_tokens, mean_word_len, top_token_frac, dup_2gram_frac,
    keep)."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    )
    t = F.col("toks")
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    scan = toked.select(
        "id",
        n.alias("n_tokens"),
        F.round(
            F.aggregate(
                t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            )
            / n,
            6,
        ).alias("mean_word_len"),
        F.when(n > 1, F.round(
            F.lit(1.0) - F.size(F.array_distinct(grams)) / (n - 1), 6
        )).otherwise(F.lit(0.0)).alias("dup_2gram_frac"),
    )
    # explode directly over the tokenization HOF: generating from the
    # projected `toks` attribute re-evaluates the regex chain per
    # OUTPUT row (~3x on this branch; see duplicate_spans for the
    # 40x nested-transform case).
    top = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_token_frac"))
    )
    return (
        scan.join(top, "id")
        .withColumn(
            "keep",
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
            & (F.col("top_token_frac") <= max_top_token_frac)
            & (F.col("dup_2gram_frac") <= max_dup_2gram_frac),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens", "mean_word_len", "top_token_frac",
            "dup_2gram_frac", "keep",
        )
    )


def boilerplate_frac(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's distinct
    n-gram shingles that are corpus-common (appearing in >= ``min_docs``
    distinct documents) — the RefinedWeb/C4 template-text signal,
    shingle-based because the corpus has no line structure.

    Plan shape: one explode of per-doc DISTINCT shingles (array-side
    dedup, so each (doc, shingle) appears once and a plain count(*)
    per shingle IS the document frequency), one groupBy to build the
    common-shingle set, then a broadcast left join back onto the same
    exploded stream that flags each (doc, shingle) row, and ONE
    per-doc aggregate that counts denominator and numerator together.
    Two corpus scans total (common build + flagged agg), two shuffles
    (by shingle hash, by doc id); the common set is corpus-vocabulary-
    sized, not corpus-sized, so the broadcast holds at scale (drop the
    hint past driver memory and it degrades to a shuffle join).

    Emits (id, n_shingles, n_common, boiler_frac) for docs with >= 1
    shingle."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    )
    dsh = F.array_distinct(shingle_hashes(F.col("_toks"), n))
    # Materialize the exploded stream once: both consumers below would
    # otherwise re-run the full tokenize+shingle+md5 corpus pass. A lazy
    # localCheckpoint computes it on first use and its blocks are
    # reclaimed by the ContextCleaner when the result is dropped, so
    # repeated invocations don't accumulate pinned storage the way a
    # bare persist() would.
    sh = toked.select("id", F.explode(dsh).alias("sh")).localCheckpoint(
        eager=False
    )
    common = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("sh")
    )
    # Numerator AND denominator from ONE pass over the exploded stream:
    # a broadcast left join marks each (doc, shingle) row common or not,
    # and a single per-doc aggregate counts both. A separate
    # `size(dsh) > 0` denominator branch would be cheaper on paper
    # (scan-stage size()), but its emptiness filter gets pushed below
    # the exchange to the scan, re-running the whole shingle+md5
    # pipeline serially on the (often single-split) scan task; docs
    # with zero shingles are simply absent from `sh`, so this form
    # needs no filter at all.
    flagged = sh.join(
        F.broadcast(common.withColumn("_c", F.lit(1))), "sh", "left"
    )
    return flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce("_c", F.lit(0))).alias("n_common"),
    ).select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_common",
        F.round(
            F.col("n_common") / F.col("n_shingles"), 6
        ).alias("boiler_frac"),
    )


def train_shards(
    df: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the step that
    turns a curated corpus into N training-export shards with a
    seedless, reproducible permutation (same layout on any engine, any
    partitioning, any cluster size, any retry).

    shard = first 32 md5 bits of (salt, id) mod n_shards — uniform and
    content-independent; pos = rank of the md5 hex within the shard,
    i.e. the shuffled read order a trainer consumes. Per-shard windows
    are uniform by construction (~n/n_shards rows each), so the rank
    sort never concentrates on a hot partition; the production export
    is then ``partitionBy(shard) + sortWithinPartitions(pos)`` writing
    one file per shard. Token counts ride along for shard-size
    accounting.
    """
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        % F.lit(n_shards)
    )
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(
            F.col(id_col),
            h.alias("h"),
            shard.alias("shard"),
            F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos", "n_tokens")
    )


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus bigram language-model scoring — the perplexity-filter
    staple of LLM data curation (a doc whose bigrams are improbable
    under the corpus model is likely noise/garble). Self-trained:
    unigram/bigram counts come from the corpus itself, and each doc's
    score is the mean natural-log probability of its bigrams under
    add-one smoothing over the unigram vocabulary:

        lm_logp(doc) = mean over bigrams (w1 w2) of
                       ln((c(w1 w2) + 1) / (c(w1) + V))

    plus the per-doc perplexity exp(-lm_logp). Docs with fewer than
    two tokens (or empty/NULL text) keep a row with n_bigrams = 0 and
    NULL scores — the no-row-loss contract the dedup family follows.

    Plan shape: the tokenization is materialized in its own
    projection and the bigram explode generates DIRECTLY over the
    zip_with HOF of that attribute (routing the array through an
    intermediate projected column re-evaluates the whole build per
    output row — the shingle trap, measured 40x on duplicate_spans).
    Counts are two map-side-combined aggs — deliberately groupBy +
    join rather than window counts over the bigram key: partial
    aggregation absorbs hot boilerplate bigrams ("of the" at 1e9
    occurrences) and AQE can split the skewed join, whereas a window
    partitioned by bigram would funnel each hot key into a single
    sort partition. The vocabulary size rides in as a broadcast
    one-row cross join, so nothing collects to the driver. At 100 TB
    every stage is a hash shuffle on a text key — no broadcast of
    the (unbounded) count tables is assumed.
    """
    toked = df.select(id_col, tokens(text_col).alias("_toks"))
    t = F.col("_toks")
    n = F.size(t)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Lazy localCheckpoint: the bigram stream feeds BOTH the bigram
    # count agg and the scoring join probe — without it the
    # tokenize + zip_with bigram build (the dominant scan cost, same
    # shape duplicate_spans checkpoints) runs twice over the corpus.
    # A/B at the 10x probe: 6.1 s checkpointed vs 7.4 s recomputed;
    # the materialized stream spills through the block manager, so
    # the trade is storage for a second full tokenize pass.
    exploded = (
        toked.select(id_col, F.explode(bigrams).alias("bg"))
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
        .localCheckpoint(eager=False)
    )

    # B-shape again: explode(tokens(...)) directly (the projected-
    # attribute form measured 9.0 s vs 2.1 s for this branch at 10x).
    uni = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v_size"))
    big = exploded.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))

    scored = (
        exploded.join(big, "bg")
        .join(uni, exploded["w1"] == uni["tok"])
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log(
                    (F.col("cb") + F.lit(1.0))
                    / (F.col("cu") + F.col("v_size"))
                )
            ).alias("lm_logp"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            "lm_logp",
            F.exp(-F.col("lm_logp")).alias("lm_ppl"),
        )
    )


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 200,
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency, ties broken by
    token string. The groupBy is map-side-combined (partial counts per
    partition before the shuffle) and the top-k is a TakeOrdered — no
    global sort materializes. Emits (token, cnt, rank)."""
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(k)
    )
    # row_number over the k surviving rows only (bounded, post-limit).
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    return counts.withColumn("rank", F.row_number().over(w))


PACK_DRIVER_ROW_TARGET = 100_000  # phase-1 subtotal rows the driver holds


def _derive_pack_chunk(df: DataFrame, id_col: str) -> int:
    """Size the id-range chunk so phase 1 collects at most
    ~PACK_DRIVER_ROW_TARGET subtotal rows: chunk = ceil(id_span /
    target), floored at 256. The span is the [0.5%, 99.5%] quantile
    range, NOT min..max — a single stray id (a sentinel, a
    timestamp-derived outlier) would otherwise inflate the span,
    collapse every real doc into one chunk, and reintroduce the
    single-task window the two-phase design exists to prevent.
    (The clip must exceed approxQuantile's rank tolerance, or the
    quantile itself can legally return the outlier.) Clipped outliers
    simply land in their own sparse chunks (a few extra subtotal
    rows, bounded by the outlier count). One cheap column-pruned
    approxQuantile pass; the RESULT is chunk-invariant either way
    (pinned by tests) — only driver state and per-task window width
    move. Pathological distributions beyond the clip (e.g. >0.5% of
    ids scattered over a vastly wider range) are what the explicit
    ``chunk`` override is for."""
    qs = df.stat.approxQuantile(id_col, [0.005, 0.995], 0.001)
    if not qs:
        return 256
    span = int(qs[1]) - int(qs[0]) + 1
    return max(256, -(-span // PACK_DRIVER_ROW_TARGET))


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int | None = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the standard LLM
    pretraining layout): documents are laid end-to-end in ``id_col``
    order and cut into fixed ``budget``-token bins; each doc reports
    the bin range it lands in.

    The global running token count is a TWO-PHASE prefix sum, not one
    unpartitioned window (which would drag the corpus through a single
    task): docs are grouped into deterministic id-range chunks, phase 1
    aggregates one subtotal per chunk (collected to the driver —
    id_span/chunk rows, the same order of driver state as AQE stats),
    phase 2 windows WITHIN each chunk and adds the broadcast offset.
    ``chunk`` sizes driver state vs. per-task window width at scale;
    the default (None) derives it from the id span so driver state is
    bounded at ~10^5 subtotal rows however large the corpus (at 10^11
    docs that is chunk=10^6 — a fixed test-scale default would ship
    4x10^8 rows to the driver). The OUTPUT is chunk-invariant.

    Emits (id, tok_len, cum_tokens, bin_first, bin_last, n_bins)."""
    spark = df.sparkSession
    if chunk is None:
        chunk = _derive_pack_chunk(df, id_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(text_col)).cast("long").alias("tok_len"),
        (F.col(id_col) / chunk).cast("long").alias("pid"),
    )
    totals = (
        base.groupBy("pid").agg(F.sum("tok_len").alias("sub"))
        .orderBy("pid")
        .collect()
    )
    offsets, acc = [], 0
    for row in totals:
        offsets.append((row["pid"], acc))
        acc += row["sub"]
    off = F.broadcast(
        tiny_df(spark, offsets, "pid long, offset long")
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.join(off, "pid")
        .withColumn("cum_tokens", F.col("offset") + F.sum("tok_len").over(w))
        .withColumn(
            "bin_first",
            F.floor((F.col("cum_tokens") - F.col("tok_len")) / budget),
        )
        .withColumn("bin_last", F.floor((F.col("cum_tokens") - 1) / budget))
        .withColumn(
            "n_bins", F.col("bin_last") - F.col("bin_first") + F.lit(1)
        )
        .select(
            F.col("id").alias(id_col),
            "tok_len", "cum_tokens", "bin_first", "bin_last", "n_bins",
        )
    )


def pack_by_domain(
    df: DataFrame,
    strata_col: str = "source",
    budget: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk: int | None = None,
) -> DataFrame:
    """Per-domain concatenate-and-chunk packing: every stratum gets
    its OWN bin stream (training shards that never mix domains — the
    layout a temperature-mixed corpus is packed into downstream of
    :func:`temperature_mix`). Same two-phase prefix sum as
    :func:`pack_sequences`, keyed by (stratum, id-range chunk): phase
    1 collects one subtotal per (stratum, chunk) — with the derived
    default chunk (None: see :func:`_derive_pack_chunk`) driver state
    stays ~10^5 rows per occupied chunk-stratum however large the
    corpus — phase 2 windows within the chunk and adds the broadcast
    per-stratum offset, so no domain ever drags through a single
    unpartitioned window task.

    Emits (id, stratum, tok_len, cum_tokens, bin_first, bin_last,
    n_bins) with cum_tokens/bins counted within the stratum."""
    spark = df.sparkSession
    if chunk is None:
        chunk = _derive_pack_chunk(df, id_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(strata_col).alias("stratum"),
        F.size(tokens(text_col)).cast("long").alias("tok_len"),
        (F.col(id_col) / chunk).cast("long").alias("pid"),
    )
    totals = (
        base.groupBy("stratum", "pid")
        .agg(F.sum("tok_len").alias("sub"))
        .orderBy("stratum", "pid")
        .collect()
    )
    offsets, acc, cur = [], 0, object()  # sentinel: NULL is a stratum
    for row in totals:
        if row["stratum"] != cur:
            cur, acc = row["stratum"], 0
        offsets.append((cur, row["pid"], acc))
        acc += row["sub"]
    off = F.broadcast(
        tiny_df(spark, offsets, "stratum string, pid long, offset long")
    )
    w = (
        Window.partitionBy("stratum", "pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # eqNullSafe on the stratum: a NULL source is a real domain (the
    # window PARTITION BY treats it as one); a null-unsafe equi-join
    # would silently drop those rows and break token conservation.
    joined = base.alias("b").join(
        off.alias("o"),
        F.col("b.stratum").eqNullSafe(F.col("o.stratum"))
        & (F.col("b.pid") == F.col("o.pid")),
    ).select("b.id", "b.stratum", "b.tok_len", "b.pid", "o.offset")
    return (
        joined
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("tok_len").over(w)
        )
        .withColumn(
            "bin_first",
            F.floor((F.col("cum_tokens") - F.col("tok_len")) / budget),
        )
        .withColumn(
            "bin_last", F.floor((F.col("cum_tokens") - 1) / budget)
        )
        .withColumn(
            "n_bins", F.col("bin_last") - F.col("bin_first") + F.lit(1)
        )
        .select(
            F.col("id").alias(id_col),
            F.col("stratum").alias(strata_col),
            "tok_len", "cum_tokens", "bin_first", "bin_last", "n_bins",
        )
    )


def chunk_documents(
    df: DataFrame,
    size: int = 48,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping training windows — the step
    between curation and packing when documents exceed the training
    sequence length: chunk w of a document covers tokens
    ``[w*stride, w*stride + size)`` with ``stride = size - overlap``,
    so adjacent chunks share ``overlap`` tokens of context. A document
    yields ``max(1, ceil((n_tokens - overlap) / stride))`` chunks (one
    chunk, possibly short, for documents at or under ``size`` tokens),
    covering every token.

    Returns (id_col, chunk_id, chunk_text, n_tokens). Scale shape: one
    scan, zero shuffles — the window arithmetic is per-row JVM
    sequence + explode + slice, and output size is input tokens
    times ~size/stride.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    t = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("toks") - F.lit(overlap)) / F.lit(stride)).cast(
            "int"
        ),
    )
    piece = F.slice(
        F.col("toks"), F.col("chunk_id") * stride + 1, size
    )
    return (
        t.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
            "toks",
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(piece, " ").alias("chunk_text"),
            F.size(piece).cast("long").alias("n_tokens"),
        )
    )
