"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design constraints:
- deterministic across engines: every hash is md5 (never engine-native
  murmur), every min/argmax has a total order — so each operator has an
  exact DuckDB oracle;
- scale: LSH banding turns the O(n²) near-dup problem into
  shuffle-on-band-key + per-bucket pairs, the standard 100 TB pattern;
  the only cross-join lives in the *verification* of candidate pairs,
  whose cardinality LSH already bounded.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mora_spark.functions.text import distinct_tokens

# 4 bands of 4: P(candidate) = 1-(1-J^4)^4 — ~0.88 recall at J=0.8
# while admitting only ~23% of J=0.5 pairs as candidates. (Standard
# prod configs use 128 hashes; 16 keeps the oracle SQL tractable.)
N_HASHES = 16
BAND_SIZE = 4

# MinHash universal-hash family: π_s(h) = (a_s·(h div 2) + b_s) mod P
# over 31-bit token hashes — one md5 per token, then N_HASHES integer
# permutations (instead of N_HASHES md5s per token). P = 2³¹-1 keeps
# every product under 2⁶² so Spark and DuckDB agree without overflow.
MINHASH_P = 2_147_483_647


def minhash_ab(n_hashes: int) -> list[tuple[int, int]]:
    """First ``n_hashes`` (a, b) pairs of the md5-seeded affine family.
    Pure function of the seed index, so any two call sites (engine and
    oracle, fixed and derived configs) agree on a shared prefix."""
    return [
        (
            int(hashlib.md5(f"a{s}".encode()).hexdigest()[:8], 16)
            % (MINHASH_P - 2)
            + 1,
            int(hashlib.md5(f"b{s}".encode()).hexdigest()[:8], 16)
            % MINHASH_P,
        )
        for s in range(n_hashes)
    ]


MINHASH_AB = minhash_ab(N_HASHES)

#: Signature-length budget for the derived path (the standard prod
#: size — Lee et al. 2022 and most web-dedup configs use 128 hashes).
#: Each hash is one more array_min(transform) per unique token set and
#: one more list_min in the oracle; bands add posexplode rows on top.
MAX_MINHASH_HASHES = 128


def derive_minhash_params(
    threshold: float,
    target_recall: float = 0.99,
    max_hashes: int = MAX_MINHASH_HASHES,
) -> tuple[int, int]:
    """(band_size r, n_bands b) holding candidate recall >=
    ``target_recall`` AT the threshold boundary, from the LSH S-curve
    P(candidate | J=s) = 1 - (1 - s^r)^b solved for b at s=threshold —
    the same derive-don't-eyeball discipline as the SRP family
    (:func:`mora_spark.llm.simsearch.derive_srp_bands`).

    Picks the LARGEST r whose minimum band count b(r) =
    ceil(log(1-target)/log(1-t^r)) fits the r*b <= max_hashes budget:
    r is the precision knob (the S-curve sharpens with r, admitting
    fewer sub-threshold candidates into the exact-Jaccard verify), so
    precision is maximized subject to the recall floor and the budget.
    True duplicates sit above the boundary, so their recall is strictly
    better. At threshold 0.5 this yields (3, 35) = 105 hashes — recall
    0.990 at the boundary vs the fixed (4, 4)'s 0.23. If even r=1
    cannot reach the target inside the budget (thresholds near 0), the
    budget wins: returns (1, max_hashes) and warns with the recall
    actually achieved."""
    import warnings

    best: tuple[int, int] | None = None
    for r in range(1, max_hashes + 1):
        p = threshold**r
        if p <= 0.0:
            break
        if p >= 1.0 - 1e-12:
            b = 1
        else:
            # log1p keeps the denominator nonzero when p underflows
            # past double epsilon (tiny thresholds at wide bands —
            # the band count is just astronomically infeasible there).
            b = math.ceil(
                math.log(1.0 - target_recall) / math.log1p(-p)
            )
        if r * b <= max_hashes:
            best = (r, b)
        elif best is not None:
            # b(r) is nondecreasing in r past the feasible region;
            # once a feasible r is followed by an infeasible one, no
            # larger r fits the budget.
            break
    if best is None:
        got = 1.0 - (1.0 - threshold) ** max_hashes
        warnings.warn(
            f"derive_minhash_params: holding recall {target_recall} at "
            f"threshold {threshold} does not fit the {max_hashes}-hash "
            f"budget even at band_size=1; using (1, {max_hashes}) "
            f"(boundary recall ~{got:.3f}) — raise the threshold or "
            "the budget",
            stacklevel=2,
        )
        return (1, max_hashes)
    return best


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact content dedup by md5: each row mapped to its group's
    canonical (minimum) id plus the group size."""
    h = df.withColumn("content_hash", F.md5(F.col(text_col)))
    groups = h.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return (
        h.select(id_col, "content_hash")
        .join(groups, "content_hash")
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
) -> DataFrame:
    """Corpus-wide line-level exact dedup (the C4-style boilerplate
    pass: repeated lines — navbars, cookie banners, license headers —
    are kept at their FIRST corpus occurrence and dropped everywhere
    else; lines shorter than ``min_len`` characters are exempt).

    Returns (id_col, text_dedup, n_total, n_kept) with documents
    reassembled from their surviving lines in original order; a
    document whose every line was deduplicated away survives with
    ``text_dedup = ''`` (curation drops empties downstream, but the
    operator itself must not lose rows).

    Scale shape — deliberately NOT a first-occurrence window: an
    ultra-common line (the exact boilerplate this operator exists to
    kill) would put its billions of copies into ONE window sort
    partition. Instead the winner per line is ``min(struct(id, pos))``
    via groupBy(line) — partial aggregation combines map-side, so a
    hot line contributes one candidate per task, never one sort
    partition — and survivors are selected with a semi-join on the
    near-unique (line, id, pos) key, which shuffles uniformly no
    matter how skewed the line values are. One groupBy(id) reassembles
    documents in order. No Python anywhere.
    """
    # NULL text is treated as '' (one empty line): split(NULL) explodes
    # to zero rows, which would LOSE the document — breaking the
    # no-row-loss contract above and desyncing from any oracle that
    # outer-joins totals back.
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    eligible = F.length("line") >= min_len
    winners = (
        lines.where(eligible)
        .groupBy("line")
        .agg(F.min(F.struct("id", "pos")).alias("w"))
        .select("line", F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
    )
    kept = lines.where(~eligible).unionByName(
        lines.where(eligible).join(winners, ["line", "id", "pos"], "left_semi")
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            "n_total",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
    )


def _int_tokens(toks: Column) -> Column:
    """Distinct tokens → sorted 32-bit md5-derived ints. One md5 per
    token; everything downstream (signature AND verification) derives
    from these ints. A 32-bit collision merges two tokens identically
    in engine and oracle, so comparisons stay exact."""
    return F.sort_array(
        F.array_distinct(
            F.transform(
                toks,
                lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast(
                    "long"
                ),
            )
        )
    )


def _affine_minhash(ti: Column, n_hashes: int = N_HASHES) -> Column:
    """MinHash signature from int tokens via the affine family above."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    ti,
                    lambda h: (
                        F.lit(a) * (h / 2).cast("long") + F.lit(b)
                    )
                    % F.lit(MINHASH_P),
                )
            )
            for a, b in minhash_ab(n_hashes)
        ]
    )


# Session-scoped memo of the LSH cascade, keyed by (caller-supplied
# input identity, tokenization, base threshold). ``verified`` carries
# exact per-pair Jaccard, so one cascade at base threshold t0 serves
# every request with threshold >= t0 as a pure refilter — q_minhash_lsh
# (0.5), q_dedup_clusters (0.5) and q_corpus_curation (0.8) share one
# tokenize+band+verify instead of three, and persisted blocks no longer
# accumulate across repeated invocations.
_LSH_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}

# The groups table is band-INDEPENDENT (it depends only on input
# identity + tokenization), so it caches under a coarser key than the
# cascade: a fixed-band and a derived-band run over the same corpus
# share one tokenize/group pass and one persisted table.
_GROUPS_CACHE: dict[tuple, DataFrame] = {}

# Cascades are cached at min(threshold, this): pairs above any tighter
# threshold are a subset with exact jaccard attached.
_CACHE_BASE_T = 0.5


def clear_lsh_cache() -> None:
    """Unpersist and drop every memoized LSH cascade."""
    for groups, verified in _LSH_CACHE.values():
        groups.unpersist()
        verified.unpersist()
    _LSH_CACHE.clear()
    for groups in _GROUPS_CACHE.values():
        groups.unpersist()  # double unpersist via _LSH_CACHE is a no-op
    _GROUPS_CACHE.clear()


def _group_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Unique-token-set groups: (gid, members, ti, n). One node per
    distinct token set — Jaccard and the MinHash signature depend only
    on the set, so one representative does all downstream work. Callers
    that reuse the result across jobs should persist it (it feeds
    signatures, the verification table, and member expansion)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            _int_tokens(distinct_tokens(text_col)).alias("ti"),
        )
        .withColumn("gid", F.md5(F.concat_ws(",", "ti")))
        .groupBy("gid")
        .agg(
            F.sort_array(F.collect_list("id")).alias("members"),
            F.first("ti").alias("ti"),
        )
        .withColumn("n", F.size("ti"))
    )


def _with_band_keys(
    groups: DataFrame,
    band_size: int = BAND_SIZE,
    n_bands: int = N_HASHES // BAND_SIZE,
) -> DataFrame:
    """``groups`` plus ``bks``, the LSH band-key array of each token set
    ``ti``: the md5 of each band's ``band_size`` consecutive MinHash
    values, ``n_bands`` keys. The signature is its own column so the
    optimizer keeps it computed once, not once per band read."""
    return (
        groups.withColumn("mh", _affine_minhash(F.col("ti"), band_size * n_bands))
        .withColumn(
            "bks",
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col("mh").getItem(b * band_size + i)
                                for i in range(band_size)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            ),
        )
        .drop("mh")
    )


def _explode_bands(groups: DataFrame) -> DataFrame:
    """One band row per (group, band) from a frame carrying ``bks``."""
    return groups.select(
        "gid", "bks", F.posexplode("bks").alias("band", "band_key")
    )


def _band_table(
    groups: DataFrame,
    band_size: int = BAND_SIZE,
    n_bands: int = N_HASHES // BAND_SIZE,
) -> DataFrame:
    """LSH band rows per group: (gid, bks, band, band_key), where bks is
    the group's full band-key array (carried so a pair's FIRST shared
    band is computable map-side at join time). ``(band_size, n_bands)``
    default to the fixed module constants; pass
    :func:`derive_minhash_params` output for the recall-derived
    configuration."""
    return _explode_bands(_with_band_keys(groups, band_size, n_bands))


def _minhash_groups_verified(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    cache_key: str | None = None,
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
    band_size: int = BAND_SIZE,
    n_bands: int = N_HASHES // BAND_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash-LSH core: returns (groups, verified) where
    ``groups`` is the unique-token-set table (gid, members, ti, n) and
    ``verified`` the exact-Jaccard-verified GROUP pairs (m_a, m_b,
    jaccard) — member lists + exact score only; the join-key gids are
    projected away before the frame persists (no consumer reads them,
    and the dense pair graph makes every byte per row a cache-read
    cost). ``minhash_lsh_pairs`` expands these to doc pairs;
    ``neardup_clusters`` contracts them into components.

    With ``cache_key`` (an identity for ``df``, e.g. its source path)
    the cascade is computed once per key at ``min(threshold, 0.5)`` and
    memoized persisted; tighter thresholds refilter the cached exact
    Jaccard. Callers without a key get a fresh uncached plan (and own
    its ``persist`` lifetime).

    ``prebuilt`` supplies an already-computed (groups, banded) pair so
    a caller that also needs them elsewhere (incremental dedup: the
    same batch joins the corpus index) tokenizes the input exactly
    once."""
    base_t = min(threshold, _CACHE_BASE_T)
    key = (cache_key, text_col, id_col, base_t, band_size, n_bands)
    if cache_key is not None and key in _LSH_CACHE:
        groups, verified = _LSH_CACHE[key]
        return groups, verified.where(F.col("jaccard") >= threshold)
    nparts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    if prebuilt is not None:
        groups, banded = prebuilt
    else:
        gkey = (cache_key, text_col, id_col)
        if cache_key is not None and gkey in _GROUPS_CACHE:
            groups = _GROUPS_CACHE[gkey]
        else:
            groups = _group_table(df, text_col, id_col).persist()
            if cache_key is not None:
                _GROUPS_CACHE[gkey] = groups
        banded = _band_table(groups, band_size, n_bands)

    a, b = banded.alias("a"), banded.alias("b")
    # A pair sharing k bands meets k times in the band join; keeping
    # only the FIRST shared band (both sides carry their full band-key
    # arrays, so it's a map-side filter) emits each pair exactly once —
    # no shuffle-distinct over the candidate set. The explicit
    # repartition then spreads the pairs: their rows are tiny but each
    # fans out via broadcast-join + explode downstream, parallelism AQE
    # can't anticipate.
    first_shared = F.array_position(
        F.zip_with(
            F.col("a.bks"),
            F.col("b.bks"),
            lambda x, y: (x == y).cast("int"),
        ),
        1,
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .where(first_shared == F.col("a.band") + 1)
        .select(F.col("a.gid").alias("gid_a"), F.col("b.gid").alias("gid_b"))
        .repartition(nparts, "gid_a", "gid_b")
    )

    sets = groups.select("gid", "ti", "n", "members")
    verified = (
        cand.join(
            F.broadcast(
                sets.select(
                    F.col("gid").alias("gid_a"),
                    F.col("ti").alias("ti_a"),
                    F.col("n").alias("n_a"),
                    F.col("members").alias("m_a"),
                )
            ),
            "gid_a",
        )
        .join(
            F.broadcast(
                sets.select(
                    F.col("gid").alias("gid_b"),
                    F.col("ti").alias("ti_b"),
                    F.col("n").alias("n_b"),
                    F.col("members").alias("m_b"),
                )
            ),
            "gid_b",
        )
        # Size prefilter: J >= t implies min(|A|,|B|)/max(|A|,|B|) >= t,
        # so this drops no true pair but skips the array intersect for
        # grossly mismatched sizes. base_t <= every served threshold,
        # so the cached cascade loses no pair for tighter refilters.
        .where(F.least("n_a", "n_b") >= base_t * F.greatest("n_a", "n_b"))
        .withColumn("isect", F.size(F.array_intersect("ti_a", "ti_b")))
        .withColumn(
            "jaccard",
            F.col("isect") / (F.col("n_a") + F.col("n_b") - F.col("isect")),
        )
        .where(F.col("jaccard") >= base_t)
        # Project the token arrays AND the md5 gid strings away BEFORE
        # anything persists or re-reads this frame: every consumer
        # (pair expansion, cluster contraction, threshold refilters)
        # needs only members and the exact jaccard. Carrying ti_a/ti_b
        # made the cached pair table ~1.5 GB at sf0.1 (r17 profile: a
        # 0-CPU 7.9 s stage just re-reading it), ~30x the projected
        # width; the two 32-char gids were another ~2x on the survivor
        # rows (the dense 0.5-threshold pair graph re-reads this cache
        # in q_minhash_lsh/q_dedup_clusters/q_corpus_curation).
        .select("m_a", "m_b", "jaccard")
    )
    if cache_key is not None:
        verified = verified.persist()
        _LSH_CACHE[key] = (groups, verified)
    return groups, verified.where(F.col("jaccard") >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    cache_key: str | None = None,
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
    band_size: int = BAND_SIZE,
    n_bands: int = N_HASHES // BAND_SIZE,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Pipeline, organized for corpora where many documents share one
    token set (the common case in web-scale dedup):

    1. tokenize → int token set → **group identical sets** (Jaccard and
       the MinHash signature depend only on the set, so one
       representative per set does all the work);
    2. affine MinHash over int tokens → band keys → per-band self-join
       of *groups* (the LSH trick: only same-bucket pairs are
       candidates) → distinct;
    3. verify candidates with exact Jaccard — the unique-set table is
       tiny relative to the pair count, so it broadcasts and the
       verification stays map-side (no shuffle of candidate rows with
       arrays attached);
    4. expand group pairs to doc pairs + intra-group pairs (identical
       sets ⇒ Jaccard exactly 1.0, always ≥ threshold).

    At 100 TB step 3's broadcast is the knob: if the unique-set table
    outgrows the driver, drop the hint and Spark falls back to a
    sort-merge join on the group key — the rest of the plan is
    unchanged.

    ``(band_size, n_bands)`` default to the fixed module constants
    (4 bands of 4 — boundary recall 0.23 at threshold 0.5, rescued
    for TRUE duplicates by their higher Jaccard); pass
    :func:`derive_minhash_params` output to hold a recall target at
    the boundary instead — the scale configuration, where candidate
    recall is a contract, not an accident of a constant.
    """
    groups, verified = _minhash_groups_verified(
        df, text_col, id_col, threshold, cache_key=cache_key,
        prebuilt=prebuilt, band_size=band_size, n_bands=n_bands,
    )

    inter = (
        verified.select(
            F.explode("m_a").alias("x"), F.col("m_b"), "jaccard"
        )
        .select("x", F.explode("m_b").alias("y"), "jaccard")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "jaccard",
        )
    )
    intra = (
        groups.where(F.size("members") > 1)
        .select(F.col("members").alias("m"))
        .select(F.posexplode("m").alias("i", "x"), "m")
        .select("i", "x", F.posexplode("m").alias("j", "y"))
        .where(F.col("i") < F.col("j"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter.unionByName(intra)


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_size: int = BAND_SIZE,
    n_bands: int = N_HASHES // BAND_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """Corpus LSH index as two normalized tables — the build-once side
    of INCREMENTAL dedup (the production shape: new crawl batches are
    deduped against the indexed corpus without re-scanning it).

    Returns ``(bands, groups)``: ``bands`` has one row per (group,
    band) with the band key and the group's full band-key array;
    ``groups`` holds each unique token set once (gid, members, ti, n).
    Normalized on purpose: the band join only ships (gid, bks,
    band_key) rows, and token arrays are fetched once per *candidate
    group* from ``groups`` — an index row never duplicates the token
    set four times. At scale, write ``bands`` bucketed by band_key and
    ``groups`` bucketed by gid so increment joins are co-located.

    ``(band_size, n_bands)`` select the banding family — fixed module
    constants by default, :func:`derive_minhash_params` output for the
    recall-derived configuration. The family is part of the INDEX
    FORMAT, not a query knob: every increment against the index must
    band its batch identically or band keys never collide (see
    :func:`dedup_increment`'s mismatch guard), which is why
    :func:`save_minhash_index` persists it as index metadata."""
    groups = _group_table(df, text_col, id_col)
    bands = _band_table(groups, band_size, n_bands)
    return bands, groups


# Fixed shard counts for the on-disk index layout. Writer and increment
# reader derive shard = pmod(xxhash64(key), these), so they are part of
# the index format, not tunables.
BAND_SHARDS = 64
GROUP_SHARDS = 64

#: Test seam (off by default — planning the sub-tree costs a few ms
#: per call): when True, :func:`dedup_increment` records the
#: candidate sub-plan into ``_LAST_CAND_PLAN`` before the eager
#: localCheckpoint MATERIALIZES it — after which the result plan
#: shows only a checkpoint RDD scan, so the bands-side shard
#: partition filter is invisible to any assertion on the returned
#: DataFrame (a pre-r14 test asserted it there and passed only
#: because "shard" substring-matched the groups scan's "gshard").
CAPTURE_CAND_PLAN = False
_LAST_CAND_PLAN: str | None = None


def _band_shard(band_key: Column) -> Column:
    return F.pmod(F.xxhash64(band_key), F.lit(BAND_SHARDS)).cast("int")


def _gid_shard(gid: Column) -> Column:
    return F.pmod(F.xxhash64(gid), F.lit(GROUP_SHARDS)).cast("int")


#: Index-metadata filename under a saved index root. Records the
#: banding family the index was BUILT with, so increments replay the
#: exact same signature prefix + band keys; a mismatched family would
#: silently produce near-zero band collisions — i.e. "no duplicates
#: found" — which is why :func:`dedup_increment` refuses on conflict.
LSH_FAMILY_FILE = "_lsh_family.json"


def save_minhash_index(
    bands: DataFrame,
    groups: DataFrame,
    path: str,
    band_size: int = BAND_SIZE,
    n_bands: int = N_HASHES // BAND_SIZE,
) -> None:
    """Persist an LSH index, BOTH tables Hive-partitioned by a
    key-derived shard: ``bands`` by band_key, ``groups`` by gid.

    ``(band_size, n_bands)`` must be the family ``bands`` was built
    with (:func:`build_minhash_index`'s parameters); it is written to
    ``{path}/_lsh_family.json`` so :func:`load_minhash_family` can
    hand it back to every future increment — the family is index
    FORMAT, and the md5 band keys carry no trace of it, so metadata
    is the only recoverable record.

    The shard layouts are what make the increment's index-side joins
    scale: ``dedup_increment`` collects the (bounded, <= BAND_SHARDS)
    band-shard set of the incoming batch and prunes the bands scan to
    those directories before any file is opened — at 100 TB a small
    crawl increment touches a fraction of the index's posting lists
    instead of streaming all of them through the broadcast join. The
    gid fetch is driven by a join key produced mid-plan, which STATIC
    pruning cannot see — so the increment materializes its (tiny)
    candidate set first and prunes ``groups`` by the candidates'
    gid-shard set the same way, cutting the one remaining full-index
    touch (the token-array fetch — by far the widest rows in the
    index) to the candidate shards. The ``repartition`` keeps it one
    file per shard per save (files scale with saves, not
    tasks x shards)."""
    # Static overwrite: the session default is partitionOverwriteMode=
    # dynamic (right for the candle store), under which a partitioned
    # overwrite only replaces MATCHING shard dirs — re-saving over an
    # old index (e.g. a pre-shard plain-parquet layout) would leave its
    # root-level files mixed in and break partition discovery. Static
    # mode clears the whole destination first.
    #
    # bands derives FROM groups (callers pass build_minhash_index
    # output), so without a cache the two writes each replay the full
    # tokenize + group pass over the corpus; and the shard repartition
    # must pin its partition count — a bare repartition(col) is an
    # AQE-coalescible shuffle that collapses to ONE task at small
    # sizes, serializing the banding compute into a single core (r17
    # profile: the bands write ran as one 1.8 s task). One partition
    # per shard keeps every shard's save in exactly one task — the
    # one-file-per-shard-per-save layout contract — at any scale.
    groups = groups.persist()
    try:
        (
            bands.withColumn("shard", _band_shard(F.col("band_key")))
            .repartition(BAND_SHARDS, F.col("shard"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("shard")
            .parquet(f"{path}/bands")
        )
        (
            groups.withColumn("gshard", _gid_shard(F.col("gid")))
            .repartition(GROUP_SHARDS, F.col("gshard"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("gshard")
            .parquet(f"{path}/groups")
        )
    finally:
        groups.unpersist()
    # The declared family must match what the bands table actually
    # carries before it becomes authoritative metadata — the easy
    # mistake is build_minhash_index(df, band_size=r, n_bands=b)
    # followed by a save that forgets to repeat them, which would
    # bless the DEFAULT family over derived bands and make every
    # metadata-following increment silently find nothing. One sample
    # group's (ti, bks) is read back from the just-written parquet
    # (one tiny job per save; saves are build-once) and the DECLARED
    # family's band keys are recomputed driver-side from ti — the md5
    # band keys pin band_size too, not just n_bands = len(bks): a
    # build at (3, 35) saved as (5, 35) previously slipped through
    # the length check and wrote authoritative-but-wrong metadata the
    # in-plan size(bks) backstop can never catch (r14 ADVICE #2).
    spark = bands.sparkSession
    peek = (
        spark.read.parquet(f"{path}/groups")
        .where(F.size("ti") > 0)
        .select("gid", "ti")
        .limit(1)
        .join(
            spark.read.parquet(f"{path}/bands").select("gid", "bks"),
            "gid",
        )
        .select("ti", "bks")
        .first()
    )
    if peek is not None:
        declared = _band_keys_local(peek["ti"], band_size, n_bands)
        if list(peek["bks"]) != declared:
            raise ValueError(
                f"save_minhash_index: the written bands do not match "
                f"the declared family (band_size={band_size}, "
                f"n_bands={n_bands}) — pass the SAME (band_size, "
                "n_bands) the index was built with (no family "
                "metadata was written)"
            )
    write_minhash_family(path, band_size, n_bands)


def _band_keys_local(
    ti: list[int], band_size: int, n_bands: int
) -> list[str]:
    """Driver-side replay of :func:`_with_band_keys` for ONE
    token-int array — the save-time family cross-check. Exactness
    argument: ti ints are 32-bit non-negative (``_int_tokens``), so
    Spark's ``(h / 2).cast("long")`` (double divide, truncate) equals
    ``h // 2``; the affine products stay < 2^62 (a < MINHASH_P ~ 2^31,
    h/2 < 2^31) so no overflow on either side; and Spark's
    long-to-string cast inside ``concat_ws`` matches ``str(int)``."""
    import hashlib as _hashlib

    ab = minhash_ab(band_size * n_bands)
    mh = [
        min((a * (h // 2) + b) % MINHASH_P for h in ti) for a, b in ab
    ]
    return [
        _hashlib.md5(
            "|".join(
                str(mh[bb * band_size + i]) for i in range(band_size)
            ).encode()
        ).hexdigest()
        for bb in range(n_bands)
    ]


def write_minhash_family(
    path: str, band_size: int, n_bands: int
) -> None:
    """Record the banding family as index metadata (one tiny JSON at
    the index root, next to ``bands``/``groups``). Split out of
    :func:`save_minhash_index` so the streaming sink — which appends
    ``batch_id=`` parquet subdirs itself instead of going through
    ``save`` — can stamp its sink-owned index too.

    The stamp goes through the :mod:`~mora_spark.engine.storefs` seam,
    so on a ``scheme://`` root it lands on the same filesystem Spark
    writes the parquet tables to (hdfs://, s3a://, file://, ...), never
    in a driver-local directory that a later load on another machine
    would miss. Publish is write ``.tmp`` then ``replace``: on HDFS
    that renames FIRST (atomic, no no-file window for a fresh stamp)
    and falls back to delete+rename only to OVERWRITE an existing
    stamp. That restamp window is closed from the read side:
    :func:`load_minhash_family` treats missing-file-with-``.tmp``-
    sibling as transient. On object stores rename is additionally
    copy+delete — acceptable for a build-once metadata stamp whose
    half-written file fails JSON parsing loudly rather than resolving
    to a wrong family."""
    import json
    import os

    from mora_spark.engine.storefs import store_fs

    fs = store_fs(path)
    tmp = os.path.join(path, LSH_FAMILY_FILE + ".tmp")
    fs.makedirs(path)
    fs.write_file(
        tmp,
        json.dumps(
            {
                "band_size": band_size,
                "n_bands": n_bands,
                "n_hashes": band_size * n_bands,
            }
        ),
    )
    fs.replace(tmp, os.path.join(path, LSH_FAMILY_FILE))


def load_minhash_family(path: str) -> tuple[int, int]:
    """The (band_size, n_bands) family a saved index was built with,
    from its ``_lsh_family.json``. Indexes written before the family
    was persisted (or foreign plain-parquet layouts) carry no file and
    resolve to the fixed module constants — exactly what every writer
    used before the metadata existed, so the fallback is correct for
    every legacy index, never a guess. Read through the storefs seam
    (same route as :func:`write_minhash_family`), so the metadata
    travels with the index wherever the parquet lives."""
    import json
    import os
    import time

    from mora_spark.engine.storefs import store_fs

    fs = store_fs(path)
    meta = os.path.join(path, LSH_FAMILY_FILE)
    # A restamp's delete+rename publish (HDFS route) has a brief
    # no-file window; resolving it to the legacy default would be
    # exactly the silent wrong-family failure the metadata prevents.
    # The window is identifiable — the writer's .tmp sibling is visible
    # during it — so missing+tmp is retried as transient before
    # concluding "legacy index, no stamp".
    for _ in range(20):
        if fs.exists(meta):
            break
        if not fs.exists(meta + ".tmp"):
            return (BAND_SIZE, N_HASHES // BAND_SIZE)
        time.sleep(0.05)
    else:
        raise OSError(
            f"load_minhash_family: '{meta}' absent but its .tmp "
            f"sibling persists — a publish appears stalled or torn; "
            f"refusing to silently fall back to the default family"
        )
    d = json.loads(fs.read_text(meta))
    return (int(d["band_size"]), int(d["n_bands"]))


#: Fixed schemas of the STREAMING sinks' ``batch_id=``-partitioned
#: index layout (long doc ids — the DOC_STREAM_SCHEMA contract).
#: Supplying them to :func:`load_minhash_index` skips the
#: footer-sniffing schema-inference job a bare ``spark.read.parquet``
#: pays — the sinks load their own index once per MICRO-BATCH, so the
#: per-load job is a per-batch driver tax (the store's _READ_SCHEMA
#: discipline, guide §6). Only for layouts the caller OWNS: a foreign
#: index (sharded save, other id types) must keep inference.
STREAM_BANDS_SCHEMA = (
    "gid string, bks array<string>, band int, band_key string, "
    "batch_id int"
)
STREAM_GROUPS_SCHEMA = (
    "gid string, members array<bigint>, ti array<bigint>, n int, "
    "batch_id int"
)


def load_minhash_index(
    spark,
    path: str,
    bands_schema=None,
    groups_schema=None,
) -> tuple[DataFrame, DataFrame]:
    """Load an index written by :func:`save_minhash_index` (sharded) or
    appended as plain parquet (the streaming sink): partition discovery
    surfaces ``shard``/``gshard`` only when the layout has them, and
    :func:`dedup_increment` prunes only when they are there. The
    banding family is NOT a column — fetch it with
    :func:`load_minhash_family` and pass it to
    :func:`dedup_increment` as ``index_family``.

    ``bands_schema``/``groups_schema``: explicit schemas for a layout
    the caller owns (the streaming sinks pass the STREAM_* constants),
    skipping the per-load schema-inference job; None keeps inference
    (required for foreign layouts)."""
    bands = spark.read
    if bands_schema is not None:
        bands = bands.schema(bands_schema)
    groups = spark.read
    if groups_schema is not None:
        groups = groups.schema(groups_schema)
    return (
        bands.parquet(f"{path}/bands"),
        groups.parquet(f"{path}/groups"),
    )


def dedup_increment(
    batch: DataFrame,
    index_bands: DataFrame,
    index_groups: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
    include_intra: bool = True,
    band_size: int | None = None,
    n_bands: int | None = None,
    index_family: tuple[int, int] | None = None,
) -> DataFrame:
    """Dedup a new batch against an indexed corpus + within itself.

    Emits (doc_id, dup_id, jaccard, src): ``src='corpus'`` rows pair a
    batch doc with an indexed corpus doc; ``src='batch'`` rows pair it
    with an EARLIER batch doc (dup_id < doc_id), so "keep every doc
    with no emitted row" reproduces exactly what indexing the corpus
    and batch together would have kept.

    Scale shape: the batch side is small by construction (one crawl
    increment), so its group table broadcasts into both the band join
    and verification; the corpus index is touched only via (a) the band
    equi-join, pruned to the batch's band-key SHARDS when the index
    carries the sharded layout (see :func:`save_minhash_index` —
    directory-level pruning before any index file is opened) and (b)
    one gid-keyed fetch of candidate groups' token sets, itself pruned
    to the CANDIDATE gids' shard directories when ``groups`` carries
    the gid-sharded layout. The corpus text is never re-tokenized.

    The batch group table is persisted here and its cached blocks live
    until the session ends (or the caller clears them); loop callers —
    the streaming sink — should pass ``prebuilt`` and own the persist
    lifetime so per-micro-batch caches do not accumulate.

    ``include_intra=False`` returns only the ``src='corpus'`` rows —
    for callers deduping one batch against SEVERAL indexes (e.g. the
    seeded streaming sink: a saved corpus index + its own growing
    index), which must emit the within-batch pairs exactly once.

    Banding family: the batch MUST be banded with the family the
    index was built with, or band keys never collide and the result
    silently degenerates to "no duplicates found". Pass
    ``index_family=load_minhash_family(path)`` for a saved index —
    the batch side then follows the index automatically; an explicit
    ``(band_size, n_bands)`` that CONFLICTS with a supplied
    ``index_family`` raises instead of producing that empty answer.
    With neither given, the fixed module constants apply (correct for
    every index built with defaults, including pre-metadata legacy
    layouts). A ``prebuilt`` pair must have been built with the same
    resolved family (it carries the batch's band keys verbatim)."""
    if index_family is not None:
        fam = (int(index_family[0]), int(index_family[1]))
        if (band_size is not None and band_size != fam[0]) or (
            n_bands is not None and n_bands != fam[1]
        ):
            raise ValueError(
                f"dedup_increment: requested banding family "
                f"({band_size}, {n_bands}) conflicts with the index's "
                f"persisted family {fam} — a mismatched family yields "
                "near-zero band matches (everything 'unique'); band "
                "the batch with the index's family or rebuild the "
                "index"
            )
        band_size, n_bands = fam
    if band_size is None:
        band_size = BAND_SIZE
    if n_bands is None:
        n_bands = N_HASHES // BAND_SIZE
    # Data-level backstop, evaluated DURING execution on every index
    # row the (shard-pruned) band scan touches: metadata can lie by
    # omission — a crash between save's parquet writes and its family
    # stamp leaves a derived index that load_minhash_family resolves
    # to the fixed default, and the band join would then scan real
    # rows yet match nothing ("no duplicates found"). n_bands is
    # recoverable from the data (len(bks)), so a CASE WHEN filter
    # turns that silence into an execution-time error at the cost of
    # one integer compare per scanned row — no new job, no exchange.
    # band_size stays metadata-only (md5 band keys carry no trace).
    if "bks" in index_bands.columns:
        index_bands = index_bands.where(
            F.when(F.size("bks") == n_bands, F.lit(True)).otherwise(
                F.raise_error(
                    f"dedup_increment: index bands carry a different "
                    f"band count than the resolved family's "
                    f"n_bands={n_bands} — the index was built with a "
                    "different banding family (or its _lsh_family.json "
                    "was lost); re-save the index or pass the correct "
                    "index_family"
                )
            )
        )
    # One tokenization of the batch: the same (groups, bands) feed the
    # cross join against the index AND the within-batch self-join.
    if prebuilt is not None:
        bgroups, bbands = prebuilt
    else:
        bgroups = _group_table(batch, text_col, id_col).persist()
        bbands = _band_table(bgroups, band_size, n_bands)

    if "shard" in index_bands.columns:
        # The batch's shard set is bounded by BAND_SHARDS; collecting
        # it is one tiny job (which also warms the persisted batch
        # group table before the joins reuse it).
        shards = [
            r["s"]
            for r in bbands.select(_band_shard(F.col("band_key")).alias("s"))
            .distinct()
            .collect()
        ]
        index_bands = index_bands.where(F.col("shard").isin(shards))

    n_, c = bbands.alias("n"), index_bands.alias("c")
    # Same first-shared-band trick as the self-join: each (batch group,
    # corpus group) pair is emitted exactly once, map-side.
    first_shared = F.array_position(
        F.zip_with(
            F.col("n.bks"),
            F.col("c.bks"),
            lambda x, y: (x == y).cast("int"),
        ),
        1,
    )
    cand = (
        F.broadcast(n_)
        .join(
            c,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .where(first_shared == F.col("n.band") + 1)
        .select(F.col("n.gid").alias("gid_n"), F.col("c.gid").alias("gid_c"))
    )
    if CAPTURE_CAND_PLAN:
        global _LAST_CAND_PLAN
        _LAST_CAND_PLAN = (
            cand._jdf.queryExecution().executedPlan().toString()
        )
    if "gshard" in index_groups.columns:
        # The candidate set is batch-bounded and tiny relative to the
        # corpus; materialize it once (localCheckpoint — it feeds both
        # the shard collect and the verification join) and prune the
        # groups scan — the widest table in the index, every kept
        # document's token array — to the candidate gids' shard
        # directories. Like the bands pruning above, the collect is
        # bounded by GROUP_SHARDS.
        cand = cand.localCheckpoint(eager=True)
        gshards = [
            r["s"]
            for r in cand.select(_gid_shard(F.col("gid_c")).alias("s"))
            .distinct()
            .collect()
        ]
        index_groups = index_groups.where(F.col("gshard").isin(gshards))
    cross = (
        cand.join(
            F.broadcast(
                bgroups.select(
                    F.col("gid").alias("gid_n"),
                    F.col("ti").alias("ti_n"),
                    F.col("n").alias("n_n"),
                    F.col("members").alias("m_n"),
                )
            ),
            "gid_n",
        )
        .join(
            index_groups.select(
                F.col("gid").alias("gid_c"),
                F.col("ti").alias("ti_c"),
                F.col("n").alias("n_c"),
                F.col("members").alias("m_c"),
            ),
            "gid_c",
        )
        .where(F.least("n_n", "n_c") >= threshold * F.greatest("n_n", "n_c"))
        .withColumn("isect", F.size(F.array_intersect("ti_n", "ti_c")))
        .withColumn(
            "jaccard",
            F.col("isect") / (F.col("n_n") + F.col("n_c") - F.col("isect")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.explode("m_n").alias("doc_id"), "m_c", "jaccard"
        )
        .select(
            "doc_id",
            F.explode("m_c").alias("dup_id"),
            "jaccard",
            F.lit("corpus").alias("src"),
        )
    )
    if not include_intra:
        return cross
    intra = minhash_lsh_pairs(
        batch, text_col, id_col, threshold, prebuilt=(bgroups, bbands)
    ).select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("dup_id"),
        "jaccard",
        F.lit("batch").alias("src"),
    )
    return cross.unionByName(intra)


def neardup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_partitions: int | None = None,
    cache_key: str | None = None,
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Near-dup components directly, WITHOUT expanding doc-level pairs.

    Connected components run on the contracted GROUP graph: one node
    per unique token set (its min member id), one edge per verified
    LSH group pair, plus a self-loop per multi-member group (identical
    docs pair among themselves). Membership is expanded only at the
    end — on duplicate-heavy corpora this is orders of magnitude fewer
    edges than :func:`minhash_lsh_pairs` feeds (a k-dup group
    contributes k(k-1)/2 doc pairs but a single graph node), with an
    identical result: each group's rep is its min member, so the
    component min over reps IS the component min over docs.

    Returns (doc_id, cluster_id) for every doc in the pair graph;
    cluster_id = min doc_id of the component.
    """
    from mora_spark.llm.cluster import connected_components

    groups, verified = _minhash_groups_verified(
        df, text_col, id_col, threshold, cache_key=cache_key,
        prebuilt=prebuilt,
    )
    rep = F.element_at("members", 1)  # members is sort_array'd → min
    edges = verified.select(
        F.element_at("m_a", 1).alias("src"),
        F.element_at("m_b", 1).alias("dst"),
    ).unionByName(
        groups.where(F.size("members") > 1).select(
            rep.alias("src"), rep.alias("dst")
        )
    )
    cc = connected_components(
        edges, src="src", dst="dst", num_partitions=num_partitions
    )
    membership = groups.select(
        rep.alias("rep"), F.explode("members").alias("doc_id")
    )
    return membership.join(cc, membership.rep == cc.node).select(
        "doc_id", F.col("label").alias("cluster_id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact word-set Jaccard pairs above threshold, WITHOUT a cross
    join: LOSSLESS length-band blocking.

    J(A,B) >= t implies min(|A|,|B|)/max(|A|,|B|) >= t, so for t >= 0.5
    a true pair's distinct-token counts are within 2x — their
    floor(log2 n) bands differ by at most 1. The left side is emitted
    under bands {b-1, b, b+1} and the right under {b}: every true pair
    meets on exactly one key (the right side's single band), turning
    all-pairs into an equi-join + size-ratio prefilter + exact Jaccard
    — identical output to the quadratic formulation, so the exact
    all-pairs SQL oracle still applies verbatim. t < 0.5 widens the
    band probe: Δband <= ceil(log2(1/t)).

    ``block_col`` (e.g. lang) compounds into the join key when near-dup
    semantics are per-block; it changes the result and is off by
    default.
    """
    span = max(1, math.ceil(math.log2(1.0 / threshold)))
    blk = [F.col(block_col).alias("blk")] if block_col else []
    toks = df.select(
        F.col(id_col).alias("id"),
        *blk,
        distinct_tokens(text_col).alias("toks"),
    ).withColumn(
        "band",
        F.floor(F.log2(F.greatest(F.size("toks"), F.lit(1)))).cast("int"),
    )
    probe = F.explode(
        F.sequence(F.col("band") - span, F.col("band") + span)
    ).alias("probe")
    a = toks.select("id", *(["blk"] if block_col else []), "toks", probe)
    b = toks.select(
        F.col("id").alias("id_b"),
        *([F.col("blk").alias("blk_b")] if block_col else []),
        F.col("toks").alias("toks_b"),
        F.col("band").alias("probe_b"),
    )
    cond = (
        (F.col("probe") == F.col("probe_b"))
        & (F.col("id") < F.col("id_b"))
    )
    if block_col:
        cond = cond & (F.col("blk") == F.col("blk_b"))
    na, nb = F.size("toks"), F.size("toks_b")
    return (
        a.join(b, cond)
        .where(F.least(na, nb) >= threshold * F.greatest(na, nb))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("toks", "toks_b"))
            / F.size(F.array_union("toks", "toks_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("id").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "jaccard",
        )
    )


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over distinct tokens (md5-derived bit votes).

    Per token: h = first 8 md5 hex chars as int; bit b votes +1 if set
    else -1; signature bit b is 1 iff the vote sum is positive. Wholly
    relational (explode tokens × bits → two aggregations) so it has an
    exact SQL oracle and scales as a pair of shuffles.
    """
    # explode directly over the tokenization HOF — generating from a
    # separately-projected array column re-evaluates the regex chain
    # per OUTPUT row (measured 3x on this stage at the 10x probe; see
    # duplicate_spans for the 40x nested-transform case).
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(distinct_tokens(text_col)).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    bits = tok.select(
        "id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"),
    ).withColumn(
        "vote",
        F.when(
            F.expr("(shiftright(h, CAST(bit AS INT)) & 1) = 1"), F.lit(1)
        ).otherwise(F.lit(-1)),
    )
    bit_votes = bits.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
    return bit_votes.groupBy("id").agg(
        F.sum(
            F.when(
                F.col("v") > 0,
                F.expr("CAST(shiftleft(1L, CAST(bit AS INT)) AS BIGINT)"),
            ).otherwise(F.lit(0))
        ).alias("simhash")
    ).withColumnRenamed("id", id_col)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: all (doc_a < doc_b) whose 16-bit
    signatures differ in <= ``max_hamming`` bits.

    The pigeonhole banding that makes simhash searchable at scale —
    shared with the multimodal dHash search
    (:func:`mora_spark.llm.hamming.banded_hamming_pairs`): split the
    signature into ``max_hamming + 1`` chunks — a pair within the
    Hamming budget must agree EXACTLY on at least one chunk — so
    candidates come from an equi-join on (chunk index, chunk value),
    never an all-pairs compare, verified with one bit_count(xor).
    16 bits keeps the oracle exact; production uses 64/128 bits with
    the same plan shape.
    """
    from mora_spark.llm.hamming import banded_hamming_pairs

    return banded_hamming_pairs(
        simhash16(df, text_col, id_col),
        sig_col="simhash",
        n_bits=16,
        max_hamming=max_hamming,
        out_a="doc_a",
        out_b="doc_b",
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    max_df: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring span detection — the "substring
    dedup" mode of training-data curation (two documents sharing a
    long verbatim token run, e.g. a quoted license block, even when
    their overall Jaccard is low). Suffix-array engines find these
    single-node; the shuffle-friendly equivalent is shingle algebra:
    two docs share a duplicated run of >= k tokens iff they share a
    k-token shingle, and the RUN LENGTH is recoverable from shingle
    positions — aligned matches (pa, pb) on one diagonal (pa - pb)
    with consecutive pa form one shared run of (run + k - 1) tokens.

    Emits one row per document pair sharing at least one k-shingle:
    (id_a, id_b, n_shared aligned shingle matches, max_span = longest
    exactly-shared token run).

    Scale guards: shingles occurring in more than ``max_df`` documents
    are excluded from pair generation (an m-doc boilerplate shingle
    would emit m² pairs; corpus-wide boilerplate is the job of
    ``dedup_lines`` / ``boilerplate_frac``, and the cap is the same
    df-capping every production substring-dedup applies), so the pair
    fan-out is bounded by max_df²·n_shingles. Everything else is
    equi-joins and window/agg on (pair, diagonal) keys — no cross
    join, no per-pair text rescan.
    """
    from mora_spark.functions.text import tokens
    from mora_spark.llm.curation import shingle_hashes
    from pyspark.sql import Window

    # Tokenization materialized in its own projection, and the
    # posexplode generates DIRECTLY over the shingle HOF of that
    # attribute (the decontaminate pattern): routing the shingle
    # array through an intermediate projected column makes the
    # Generate re-evaluate the whole tokenize+md5 transform per
    # OUTPUT row — measured 217 s vs 5.4 s for this very stage at
    # the 10x scale probe.
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("_toks")
    )
    # Lazy localCheckpoint: the shingle stream feeds the df-cap agg,
    # the probe side, AND the build side of the pair join — without a
    # materialization the tokenize+md5 scan (the dominant cost) would
    # re-run for each consumer (the same two-pass trade the
    # boilerplate/cluster operators make).
    sh = toked.select(
        "id",
        F.posexplode(shingle_hashes(F.col("_toks"), n=k)).alias(
            "pos", "sh"
        ),
    ).localCheckpoint(eager=False)

    keep = (
        sh.groupBy("sh")
        .agg(F.countDistinct("id").alias("df_docs"))
        .where(F.col("df_docs") <= max_df)
        .select("sh")
    )
    shk = sh.join(keep, "sh")

    a = shk.select(
        F.col("sh"), F.col("id").alias("id_a"), F.col("pos").alias("pa")
    )
    b = shk.select(
        F.col("sh").alias("sh_b"),
        F.col("id").alias("id_b"),
        F.col("pos").alias("pb"),
    )
    matches = a.join(
        b,
        (F.col("sh") == F.col("sh_b")) & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))

    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        matches.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return runs.groupBy("id_a", "id_b").agg(
        F.sum("run").cast("long").alias("n_shared"),
        (F.max("run") + F.lit(k - 1)).cast("long").alias("max_span"),
    )
