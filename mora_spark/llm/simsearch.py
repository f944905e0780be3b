"""Similarity search over embedding columns.

Two tiers (SURVEY north star):
- brute-force cosine top-k (`mora_spark.queries.vectors`) — the exact
  baseline, oracle-checked;
- signed-random-projection LSH here — the scale path: bucket vectors by
  the sign pattern of d_bits deterministic hyperplane projections, probe
  only same-bucket candidates, rank by exact cosine. Sub-linear probe
  cost; recall is tested against brute force (tests/test_simsearch.py).
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
from decimal import ROUND_HALF_UP, Decimal
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast, pandas_udf

from mora_spark.functions.vectors import cosine, dot, l2_norm
from mora_spark.localdf import tiny_df


def _filtered(df: DataFrame, predicate: str | Column | None) -> DataFrame:
    """Apply the tier-wide filtered-search predicate (SQL string or
    Column; None = unfiltered) to a candidate frame. ONE coercion
    point for the whole ANN ladder — every tier's ``predicate=``
    routes through here, so the contract cannot drift per tier."""
    if predicate is None:
        return df
    return df.where(
        F.expr(predicate) if isinstance(predicate, str) else predicate
    )


def _isin(col: str, values) -> Column:
    """``col IN (v, ...)`` over integer values as ONE SQL expression
    (``Column.isin`` pays a py4j call per literal); none is ``false``."""
    if not len(values):
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(str(int(v)) for v in values)})")


def _round6(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 6)`` on doubles, vectorized: HALF_UP on the
    double's shortest decimal string (``BigDecimal.valueOf``), so
    5e-7 rounds to 1e-6 although the double lies below the tie, and a
    rounded zero is +0.0. ``rint(x * 1e6) / 1e6`` is that answer except
    within a few ulps of a tie (or beyond 2**52 / 1e6); those values
    take the decimal route."""
    x = np.asarray(x, dtype=np.float64)
    y = x * 1e6
    out = np.rint(y) / 1e6
    odd = np.isfinite(y) & (
        (np.abs(y - np.floor(y) - 0.5) <= 4 * np.spacing(np.abs(y)) + 1e-9)
        | (np.abs(y) >= 2.0**52)
    )
    for i in zip(*np.nonzero(odd)):
        out[i] = float(
            Decimal(repr(float(x[i]))).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        )
    return out + 0.0


def _cosine_rows(qv: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """``round(functions.vectors.cosine(qv, row), 6)`` per row of
    ``mat`` with its arithmetic: left-to-right dot products from 0.0."""

    def dot(a, b):
        acc = np.zeros(np.broadcast(a, b).shape[:-1])
        for j in range(a.shape[-1]):
            acc = acc + a[..., j] * b[..., j]
        return acc

    with np.errstate(divide="ignore", invalid="ignore"):
        return _round6(
            dot(qv, mat) / (np.sqrt(dot(qv, qv)) * np.sqrt(dot(mat, mat)))
        )


def _vectors(vs: pd.Series) -> np.ndarray:
    """An array column's batch as one float64 (n, dim) matrix."""
    return np.stack(vs.apply(lambda v: np.asarray(v, dtype=np.float64)))


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit length; all-zero rows stay zero."""
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def derive_srp_bits(n: int) -> int:
    """Corpus-sized SRP band width: ``max(8, ceil(log2(n)) - 4)``,
    capped at 24.

    Candidate volume at a FIXED band width grows ~n²/2^n_bits (the
    classic LSH scaling — measured at the 40x probe: 361.6 s at the
    old fixed default vs 37.6 s at a log2-sized width, identical
    answer, README "Scale probes"). Sizing 2^n_bits ~ n/16 keeps the
    EXPECTED per-band candidate count ~16n — linear in the corpus —
    while the answer is unchanged by construction (near-dup clusters
    are components of the exact pair graph; any blocking with full
    recall yields the identical result, `llm/semdedup.py`).

    Recall at the derived width: per-band match probability is
    p^n_bits with p = 1 - θ/π, so a FIXED band count loses recall as
    the derived width grows (at cos >= 0.95, p ≈ 0.9/bit: 16 bands
    hold pair recall >= 0.99 only out to n_bits ≈ 13). The derived
    path therefore sizes the band count alongside the width
    (:func:`derive_srp_bands` — solved from the recall identity, never
    a fixed 16), shrinking the width first if the band budget would
    blow past its cap; both stay explicit overrides everywhere
    ``n_bits=None`` is accepted.
    """
    import math

    return min(24, max(8, math.ceil(math.log2(max(n, 2))) - 4))


#: Band-count budget for the derived path: the both-``None`` default
#: shrinks the width while the needed count exceeds this (each band is
#: one more stacked matmul + one more posexplode row per vector —
#: width is the cheaper knob), and :func:`derive_srp_bands` hard-caps
#: its return here in every case, warning when the cap costs recall.
MAX_DERIVED_BANDS = 64


def _srp_bands_needed(
    n_bits: int, threshold: float, target_recall: float = 0.99
) -> int:
    """Uncapped band count from the band-OR recall identity: the
    smallest B with 1 - (1 - p^n_bits)^B >= target_recall,
    p = 1 - arccos(threshold)/π. Internal — the shrink loop needs the
    raw requirement to decide whether a width fits the budget."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    pb = p**n_bits
    if pb >= 1.0 - 1e-12:
        return 1
    if pb <= 0.0:
        return MAX_DERIVED_BANDS + 1  # unreachable target at any budget
    return math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))


def derive_srp_bands(
    n_bits: int,
    threshold: float,
    floor: int = 16,
    target_recall: float = 0.99,
) -> int:
    """Band count holding pair recall >= ``target_recall`` AT the
    threshold boundary for a given band width: the smallest B with
    1 - (1 - p^n_bits)^B >= target, p = 1 - arccos(threshold)/π —
    the band-OR identity solved for B instead of eyeballed. True
    duplicates sit above the boundary (higher p), so their recall is
    strictly better. Floored at 16 (the strongest fixed setting the
    in-repo callers pin) so deriving never REDUCES the band count an
    existing caller measured at recall 1.0 — and CAPPED at
    ``MAX_DERIVED_BANDS`` on every path: a permissive threshold at an
    explicitly pinned wide band width can need thousands of bands
    (threshold 0.7 at n_bits=24 solves to 5,081 — 5,081 stacked
    matmuls and a 5,081× posexplode per vector), so past the budget
    this returns the cap and warns with the recall actually achieved;
    pass :func:`derive_srp_params` both knobs ``None`` to have the
    width shrunk for the target instead, or pin ``n_bands`` explicitly
    to pay more."""
    import math
    import warnings

    need = _srp_bands_needed(n_bits, threshold, target_recall)
    if need > MAX_DERIVED_BANDS:
        p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
        got = 1.0 - (1.0 - p**n_bits) ** MAX_DERIVED_BANDS
        warnings.warn(
            f"derive_srp_bands: holding recall {target_recall} at "
            f"threshold {threshold} with n_bits={n_bits} needs {need} "
            f"bands; capping at MAX_DERIVED_BANDS={MAX_DERIVED_BANDS} "
            f"(boundary recall ~{got:.3f}) — raise the threshold, "
            "pass n_bands explicitly to pay more, or accept the "
            "reduced boundary recall",
            stacklevel=2,
        )
        return MAX_DERIVED_BANDS
    return max(floor, need)


def derive_srp_params(
    n: int, threshold: float, target_recall: float = 0.99
) -> tuple[int, int]:
    """The both-``None`` derivation as one function of the corpus
    count: width from :func:`derive_srp_bits`, then shrunk (floor 8)
    while the band count the recall identity demands exceeds
    ``MAX_DERIVED_BANDS``, then the band count at the settled width.
    Shared by :func:`embedding_neardup_pairs` and the streaming sink's
    running-count path (``streaming/semdedup.py``), so the two cannot
    drift."""
    n_bits = derive_srp_bits(n)
    while (
        n_bits > 8
        and _srp_bands_needed(n_bits, threshold, target_recall)
        > MAX_DERIVED_BANDS
    ):
        n_bits -= 1
    return n_bits, derive_srp_bands(
        n_bits, threshold, target_recall=target_recall
    )


def derive_ivf_cells(n: int) -> int:
    """Corpus-sized IVF cell count: ``clamp(4·⌊√n⌋, 16, 65536)`` —
    the published FAISS sizing guideline (nlist between √n and 16√n;
    4√n is the middle of its recommended band), floored at the repo's
    fixed default 16 and capped where the centroid model (cells × dim
    float64 on the driver and in every task closure) reaches 32 MB —
    a deliberate broadcast-sized ceiling, not "small".

    Unlike the SRP width (``derive_srp_bits``), this is NOT the
    default — the fixed ``n_cells=16`` stays: an IVF index is a
    PERSISTED artifact whose cell count lives with the saved model
    (searches load the stored centroids, so a silently corpus-derived
    build default would retrain a different layout as the corpus
    grows, breaking build/query reproducibility), and a fixed cell
    count degrades only the probe CONSTANT (n_probe/n_cells of the
    corpus per query — still linear), never a cliff like the SRP
    candidate volume's n²/2^bits. Pass ``n_cells=None`` at build/query
    sites to opt in.
    """
    import math

    return min(65536, max(16, 4 * math.isqrt(max(n, 1))))


def derive_ivf_probe(n_cells: int) -> int:
    """Probe count for a derived cell count: ``max(4, ⌊√n_cells⌋)`` —
    keeps the probed corpus fraction ~√n_cells/n_cells = 1/√n_cells
    (shrinking as the index grows, the point of deriving cells) while
    never probing fewer cells than the repo's fixed default 4."""
    import math

    return max(4, math.isqrt(max(n_cells, 1)))


def _hyperplanes(dim: int, n_bits: int, seed: str = "srp") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: unit normals derived
    from sha256(seed, bit, chunk) — no RNG state, reproducible across
    engines and runs."""
    out = np.empty((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        vals = []
        chunk = 0
        while len(vals) < dim:
            h = hashlib.sha256(f"{seed}:{b}:{chunk}".encode()).digest()
            # 32 bytes -> 8 signed int32 -> centered floats
            ints = np.frombuffer(h, dtype="<i4")
            vals.extend((ints / 2**31).tolist())
            chunk += 1
        v = np.array(vals[:dim])
        out[b] = v / np.linalg.norm(v)
    return out


def with_srp_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Append an LSH bucket id: bit b = sign(v . hyperplane_b).

    Vectorized pandas UDF — one matmul per Arrow batch.
    """
    planes = _hyperplanes(dim, n_bits)

    @pandas_udf(T.IntegerType())
    def bucket(vs: pd.Series) -> pd.Series:
        m = _vectors(vs)
        signs = (m @ planes.T) > 0  # (n, n_bits)
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        return pd.Series((signs @ weights).astype("int32"))

    return df.withColumn("bucket", bucket(F.col(vec_col)))


def with_srp_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 4,
    n_bands: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Append ``bands``: array of n_bands independent SRP bucket ids
    (n_bits hyperplanes each, distinct seeds). Band-OR LSH, the MinHash
    banding trick transplanted to cosine space: a pair is a candidate if
    ANY band matches, so recall = 1-(1-p^bits)^bands with p = 1-θ/π.
    One stacked matmul per Arrow batch covers all bands."""
    planes = np.concatenate(
        [_hyperplanes(dim, n_bits, seed=f"srp:{r}") for r in range(n_bands)]
    )  # (n_bands*n_bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def bands(vs: pd.Series) -> pd.Series:
        m = _vectors(vs)
        signs = (m @ planes.T) > 0  # (n, n_bands*n_bits)
        per_band = signs.reshape(len(m), n_bands, n_bits) @ weights
        return pd.Series(list(per_band.astype("int32")))

    return df.withColumn("bands", bands(F.col(vec_col)))


def srp_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
    predicate=None,
) -> DataFrame:
    """Approximate top-k: probe candidates in the query's bucket (plus,
    with ``multi_probe``, every bucket at Hamming distance 1 — the
    standard recall knob); rank by exact cosine within candidates.

    At 100 TB the bucket join replaces the O(n) scan per query with a
    shuffle on bucket id — expected (1 + n_bits)/2^n_bits of the corpus
    probed per query.

    ``predicate`` is FILTERED search (the tier-wide contract, see
    :func:`pq_topk`): a SQL expression (or Column) restricting the
    candidate set; k fills post-filter, and the filter sits above the
    scan so Catalyst pushes it into the source.
    """
    b = with_srp_bucket(embeddings, vec_col, n_bits)
    q = b.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    if multi_probe:
        probes = F.array(
            F.col("qbucket"),
            *[
                F.expr(f"CAST(qbucket ^ {1 << i} AS INT)")
                for i in range(n_bits)
            ],
        )
        q = q.withColumn("qbucket", F.explode(probes))
    c = _filtered(b, predicate).where(
        ~F.col(id_col).isin(query_ids)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "bucket",
    )
    scored = (
        c.join(broadcast(q), F.col("bucket") == F.col("qbucket"))
        .withColumn("score", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int | None = 16,
    n_iter: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means (Lloyd's) for IVF cell centroids, run as a
    sequence of Spark jobs — the iterative-algorithm pattern on a
    DataFrame engine.

    Per iteration: assign every vector to its nearest centroid (one
    broadcast matmul per Arrow batch), then reduce elementwise sums per
    cell with posexplode → groupBy(cell, pos) — a map-side-combined agg
    whose output is exactly ``n_cells × dim`` rows, collected to the
    driver (the same tiny-model-on-driver shape MLlib's KMeans uses).
    Empty cells keep their previous centroid; means are re-normalized
    to unit length (cosine geometry) and rounded so the trained model
    is stable to float summation order.

    At 100 TB you train on a hash-deterministic sample (a few million
    rows bounds centroid drift) and persist the model; assignment of
    the full corpus is the same single-pass matmul either way.
    ``n_cells=None`` derives the count from the corpus size
    (:func:`derive_ivf_cells`, the FAISS 4·√n rule — opt-in, see its
    docstring for why the fixed default stays).
    """
    if n_cells is None:
        n_cells = derive_ivf_cells(embeddings.count())
    cents = _hyperplanes(dim, n_cells, seed="ivf")
    for _ in range(n_iter):
        planes = cents  # capture by value for the UDF closure

        # One mapInPandas pass per iteration assigns AND accumulates
        # in the Arrow boundary: <= n_cells rows per TASK (not
        # n_rows x dim exploded rows through a hash aggregate); the
        # driver finishes the reduction.
        def cell_partials(batches):
            psums = np.zeros((n_cells, dim))
            pcnt = np.zeros(n_cells, dtype="int64")
            for pdf in batches:
                if not len(pdf):
                    continue
                m = _vectors(pdf[vec_col])
                cells_b = np.argmax(_unit_rows(m) @ planes.T, axis=1)
                for c in np.unique(cells_b):
                    psums[c] += m[cells_b == c].sum(axis=0)
                pcnt += np.bincount(cells_b, minlength=n_cells)
            nz = np.nonzero(pcnt)[0]
            yield pd.DataFrame(
                {
                    "cell": nz.astype("int32"),
                    # dtype=object keeps an EMPTY partition's column as
                    # a list column — a bare [] materializes float64,
                    # which Arrow refuses to cast to list<double>.
                    "s": pd.Series(
                        [psums[c].tolist() for c in nz], dtype="object"
                    ),
                    "n": pcnt[nz],
                }
            )

        sums = (
            embeddings.select(vec_col)
            .mapInPandas(cell_partials, "cell int, s array<double>, n long")
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((n_cells, dim))
        cnt = np.zeros(n_cells, dtype="int64")
        for r in sums:
            acc[r["cell"]] += np.asarray(r["s"], dtype=np.float64)
            cnt[r["cell"]] += r["n"]
        for c in range(n_cells):
            if cnt[c] == 0:
                continue
            v = acc[c] / cnt[c]
            nrm = np.linalg.norm(v)
            if nrm > 0:
                new[c] = np.round(v / nrm, 8)
        empty = [c for c in range(n_cells) if cnt[c] == 0]
        if empty and len(empty) < n_cells:
            # (len(empty) == n_cells means an empty/degenerate training
            # corpus assigned zero rows anywhere — keep the seed
            # centroids instead of np.stack-ing zero occupied ones.)
            # Lloyd's never repopulates an empty cell on its own: its
            # centroid sits wherever the seed left it, and on a DRIFTED
            # corpus (every vector in one orthant, say) that means the
            # whole index collapses into few cells forever. Re-seed
            # each empty cell from the corpus point FARTHEST from the
            # occupied centroids (max-sim ascending — the k-means++
            # idea, made deterministic with a hash tie-break). One
            # TakeOrdered job per iteration that has empties.
            occ = np.stack([new[c] for c in range(n_cells) if cnt[c] > 0])

            @pandas_udf(T.DoubleType())
            def max_sim(vs: pd.Series) -> pd.Series:
                return pd.Series(
                    np.max(_unit_rows(_vectors(vs)) @ occ.T, axis=1)
                )

            far = (
                embeddings.select(
                    F.col(vec_col).alias("v"),
                    max_sim(F.col(vec_col)).alias("s"),
                )
                .orderBy(F.col("s").asc(), F.xxhash64("v"))
                .limit(len(empty))
                .collect()
            )
            for c, r in zip(empty, far):
                v = np.asarray(r["v"], dtype=np.float64)
                nrm = np.linalg.norm(v)
                if nrm > 0:
                    new[c] = np.round(v / nrm, 8)
        cents = new
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    predicate=None,
    n_hint: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    ``n_cells`` Voronoi cells around deterministic centroids, probe only
    the ``n_probe`` cells nearest each query, rank by exact cosine.

    With ``train_iters=0`` centroids are the SHA-derived deterministic
    random directions (no training); ``train_iters>0`` refines them
    with that many spherical-k-means iterations
    (:func:`train_ivf_centroids`) — tighter cells, higher recall at the
    same probe budget. Either way the corpus is scanned ONCE to assign
    cells (a matmul per Arrow batch) and the candidate join is an
    equi-join on cell id, so the per-query probe cost is
    ~n_probe/n_cells of the corpus. ``predicate`` restricts the
    candidate set (the tier-wide filtered-search contract, see
    :func:`pq_topk`); k fills post-filter.

    ``n_cells=None`` derives the cell count from the corpus size
    (:func:`derive_ivf_cells`, the FAISS 4·√n rule — one
    column-pruned count job, skipped when the caller passes the known
    size as ``n_hint``, the ``embedding_neardup_pairs`` contract), and
    ``n_probe=None`` sizes the probe budget to the settled cell count
    (:func:`derive_ivf_probe`, ~√n_cells — the probed fraction then
    SHRINKS as the corpus grows instead of staying a fixed quarter).
    Opt-in; the fixed defaults stay (see ``derive_ivf_cells`` for why
    this tier, unlike the SRP width, must not silently re-derive).
    """
    dim = 64
    if n_cells is None:
        n_cells = derive_ivf_cells(
            n_hint if n_hint is not None else embeddings.count()
        )
    if n_probe is None:
        n_probe = derive_ivf_probe(n_cells)
    if train_iters > 0:
        cents = train_ivf_centroids(
            embeddings, n_cells=n_cells, n_iter=train_iters,
            dim=dim, vec_col=vec_col,
        )
    else:
        cents = _hyperplanes(dim, n_cells, seed="ivf")

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        sims = _unit_rows(_vectors(vs)) @ cents.T
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(top))

    assigned = embeddings.withColumn(
        "cell", _cell_assigner(cents)(F.col(vec_col))
    )
    q = (
        assigned.where(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probe_cells(F.col(vec_col))).alias("cell"),
        )
    )
    c = _filtered(assigned, predicate).where(
        ~F.col(id_col).isin(query_ids)
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    scored = c.join(broadcast(q), "cell").withColumn(
        "score", F.round(cosine(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bits: int | None = 0,
    n_bands: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_vectors: bool = True,
    n_hint: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    round(cosine, 6) >= threshold.

    ``n_bits=0`` is the exact all-pairs baseline — a nested-loop
    self-compare, JVM-side ``zip_with``/``aggregate`` only (oracle-
    checkable, quadratic: use as a small-n verification twin only).

    ``n_bits=None`` derives the band width from the corpus count via
    :func:`derive_srp_bits` (one column-pruned count job — or free
    when the caller already knows the count and passes ``n_hint``,
    the streaming sink's running-count path) — the default the
    semantic-dedup family passes through, so a user at 10^8 vectors
    gets a linear candidate stage without reading the scale-probe
    chart. ``n_bands=None`` derives the band count from the width +
    threshold via :func:`derive_srp_bands` — a derived width with a
    FIXED band count would silently leave the recall envelope as n
    grows, which is exactly the "answer unchanged" claim's
    precondition; when both are None the width shrinks until the
    band count the recall identity demands fits ``MAX_DERIVED_BANDS``
    (:func:`derive_srp_params`), so the 0.99-at-the-boundary envelope
    holds at every corpus size (the width floor 8 wins if both bind;
    if even width 8 cannot meet the target within the band budget,
    the count caps at ``MAX_DERIVED_BANDS`` and a warning reports the
    recall actually achieved — never a silent loss; pass explicit
    knobs to pay more). Explicit ints remain exact overrides.

    ``n_bits>0`` is the scale path: band-OR SRP LSH. Each vector gets
    ``n_bands`` bucket ids (``n_bits`` hyperplanes per band); candidate
    pairs share at least one band-bucket, so the all-pairs cross join
    becomes an equi-join shuffled on (band, bucket). A pair meeting in
    k bands is emitted once via the first-shared-band filter (map-side,
    both rows carry their band arrays — no shuffle-distinct). Survivors
    are verified with exact cosine, so precision is exact; recall is
    1-(1-p^n_bits)^n_bands with p = 1-θ/π. The declared query pins
    settings measured at recall 1.0 on the synthetic corpus at its
    threshold 0.35 — a hard case (θ≈69°, p≈0.61/bit; real near-dup
    workloads at 0.9+ get far better per-bit selectivity, and raising
    n_bits is the knob). Containment bucketed ⊆ exact is asserted in
    tests/test_simsearch.py.

    The banded self-join is SKINNY — ids and band arrays only; vectors
    rejoin for verification afterwards. ``broadcast_vectors=True``
    (default) hints that rejoin broadcast — right when the corpus fits
    an executor; pass False for an unbounded corpus (e.g. the
    streaming sink's ever-growing kept index) and the hint is dropped:
    AQE picks broadcast vs shuffle from the frame's runtime size, and
    at scale the verify degrades to a sort-merge join — the same
    shape as the MinHash verify stage.
    """
    if n_bits is None:
        n = n_hint if n_hint is not None else embeddings.count()
        if n_bands is None:
            n_bits, n_bands = derive_srp_params(n, threshold)
        else:
            n_bits = derive_srp_bits(n)
    if n_bands is None:
        n_bands = derive_srp_bands(n_bits, threshold) if n_bits else 8
    if n_bits:
        src = with_srp_bands(
            embeddings, vec_col, n_bits=n_bits, n_bands=n_bands
        )
        a = src.select(
            F.col(id_col).alias("id_a"),
            F.col("bands").alias("bands_a"),
            F.posexplode("bands").alias("band", "bk"),
        )
        b = src.select(
            F.col(id_col).alias("id_b"),
            F.col("bands").alias("bands_b"),
            F.posexplode("bands").alias("band_b", "bk_b"),
        )
        first_shared = F.array_position(
            F.zip_with(
                F.col("bands_a"),
                F.col("bands_b"),
                lambda x, y: (x == y).cast("int"),
            ),
            1,
        )
        cand = (
            a.join(
                b,
                (F.col("band") == F.col("band_b"))
                & (F.col("bk") == F.col("bk_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .where(first_shared == F.col("band") + 1)
            .select("id_a", "id_b")
        )
        # Per-vector norms ride along with the broadcast, so the
        # per-pair verify is ONE dot product instead of three (the
        # score expression dot/(‖a‖·‖b‖) is unchanged — same values,
        # same rounding as the exact oracle).
        vecs = embeddings.select(
            id_col, vec_col, l2_norm(F.col(vec_col)).alias("nrm")
        )
        hint = F.broadcast if broadcast_vectors else (lambda df: df)
        joined = cand.join(
            hint(
                vecs.select(
                    F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("va"),
                    F.col("nrm").alias("nrm_a"),
                )
            ),
            "id_a",
        ).join(
            hint(
                vecs.select(
                    F.col(id_col).alias("id_b"),
                    F.col(vec_col).alias("vb"),
                    F.col("nrm").alias("nrm_b"),
                )
            ),
            "id_b",
        )
        return (
            joined.withColumn(
                "score",
                F.round(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("nrm_a") * F.col("nrm_b")),
                    6,
                ),
            )
            .where(F.col("score") >= threshold)
            .select("id_a", "id_b", "score")
        )
    # The exact path is a broadcast nested-loop join; its stream
    # side inherits the source partitioning (often ONE file), so
    # fan it out explicitly — the n² compare then runs on every
    # core instead of serially.
    nparts = int(
        embeddings.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"
        )
    )
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    joined = (
        a.repartition(nparts)
        .crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
    )
    return (
        joined.withColumn(
            "score", F.round(cosine(F.col("va"), F.col("vb")), 6)
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def build_ivf_index(
    embeddings: DataFrame,
    n_cells: int | None = 16,
    train_iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    n_hint: int | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """(centroids, cell-assigned corpus) — the build-once side of a
    persistent IVF index. Training is the deterministic spherical
    k-means above; assignment is one matmul pass over the corpus.
    ``n_cells=None`` sizes the layout to the corpus at BUILD time
    (:func:`derive_ivf_cells`; ``n_hint`` skips the count job when
    the caller knows the size) — the count is then fixed in the saved
    model, which is the reproducibility contract that keeps this
    opt-in rather than the default; searches against the saved index
    pass ``n_probe=None`` to size the probe to the loaded cell
    count."""
    if n_cells is None:
        n_cells = derive_ivf_cells(
            n_hint if n_hint is not None else embeddings.count()
        )
    if train_iters > 0:
        cents = train_ivf_centroids(
            embeddings, n_cells=n_cells, n_iter=train_iters,
            dim=dim, vec_col=vec_col,
        )
    else:
        cents = _hyperplanes(dim, n_cells, seed="ivf")
    return cents, embeddings.withColumn(
        "cell", _cell_assigner(cents)(F.col(vec_col))
    )


def _cell_assigner(cents: np.ndarray):
    """Arrow-batched nearest-centroid assignment under fixed centroids
    (assignment is on the NORMALIZED vector — scale-invariant, the
    property the planted ANN oracles rely on). Shared by the initial
    build and incremental adds so both produce the identical layout."""

    @pandas_udf(T.IntegerType())
    def nearest_cell(vs: pd.Series) -> pd.Series:
        return pd.Series(
            np.argmax(_unit_rows(_vectors(vs)) @ cents.T, axis=1).astype(
                "int32"
            )
        )

    return nearest_cell


def _save_centroids(spark, cents: np.ndarray, path: str) -> None:
    """Write the centroid table and clear ``cells/`` for the postings
    write that follows. A save replaces the whole index: an overwrite
    of ``cells`` alone would keep IVFPQ's ``add_id>=1`` epochs, and the
    session's dynamic partition overwrite keeps every cell directory
    the new index leaves empty."""
    from mora_spark.engine.storefs import store_fs

    store_fs(path).rmtree(f"{path}/cells")
    tiny_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def save_ivf_index(
    cents: np.ndarray, assigned: DataFrame, path: str
) -> None:
    """Persist the index: tiny centroid table + the corpus PARTITIONED
    BY CELL — so probing n_probe cells at query time is Hive partition
    pruning (only those directories are even listed), the on-disk
    analogue of an inverted file's posting lists."""
    _save_centroids(assigned.sparkSession, cents, path)
    # One file per cell (see save_ivfpq_index): the shuffle keyed on
    # the partition column replaces an n_tasks x n_cells file spray
    # with the compacted layout the probe reads.
    assigned.repartition(len(cents), "cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(f"{path}/cells")


# --- the resident index handle ---
# A persisted IVF/IVFPQ index is served like a page index held across
# requests: every reader (search, add, health, compaction) goes through
# _load_index. The stamp is the file listing of centroids/, codebooks/
# and cells/; every writer (save, add, a replayed add, compaction into
# the path) writes part files under fresh names, so any change to the
# index changes it.


class _Index(NamedTuple):
    stamp: tuple  # sorted (subdir, relative file, mtime)
    cents: np.ndarray
    books: np.ndarray | None  # None for a plain IVF index
    cells: DataFrame  # postings, without IVFPQ's add_id epoch column


_INDEX_CACHE: dict[tuple, _Index] = {}
_INDEX_CACHE_MAX = 8  # indexes held per process, least recently loaded out
_INDEX_LOCK = threading.Lock()


def _index_stamp(path: str) -> tuple:
    """Sorted ``(subdir, relative file, mtime)`` listing of an index's
    model and posting files, through the storefs seam."""
    from mora_spark.engine.storefs import store_fs

    fs = store_fs(path)
    return tuple(
        sorted(
            (sub, rel, mtime)
            for sub in ("centroids", "codebooks", "cells")
            for rel, mtime in fs.walk_files(f"{path}/{sub}")
        )
    )


def _load_index(spark, path: str) -> _Index:
    """The index at ``path``, loaded once per (session, path, stamp).
    The listing is taken BEFORE the load, so a write racing the load
    can only make the next call reload, never serve a stale handle."""
    stamp = _index_stamp(path)
    key = (spark, path)
    idx = _INDEX_CACHE.get(key)
    if idx is not None and idx.stamp == stamp:
        return idx
    rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.array(
        [r["centroid"] for r in sorted(rows, key=lambda r: r["cell"])]
    )
    books = None
    if any(sub == "codebooks" for sub, _, _ in stamp):
        rows = spark.read.parquet(f"{path}/codebooks").collect()
        m = 1 + max(r["m"] for r in rows)
        rows.sort(key=lambda r: (r["m"], r["code"]))
        books = np.array([r["centroid"] for r in rows])
        books = books.reshape(m, len(rows) // m, -1)
    cells = spark.read.parquet(f"{path}/cells").drop("add_id")
    idx = _Index(stamp, cents, books, cells)
    with _INDEX_LOCK:
        _INDEX_CACHE.pop(key, None)
        _INDEX_CACHE[key] = idx
        while len(_INDEX_CACHE) > _INDEX_CACHE_MAX:
            del _INDEX_CACHE[next(iter(_INDEX_CACHE))]
    return idx


def load_ivf_index(spark, path: str) -> tuple[np.ndarray, DataFrame]:
    idx = _load_index(spark, path)
    return idx.cents, idx.cells


def _probe_cells(qv: np.ndarray, cents: np.ndarray, n_probe: int):
    """The query's ``n_probe`` nearest cells (normalized dot product)."""
    nv = qv / (np.linalg.norm(qv) or 1.0)
    return np.argsort(-(nv @ cents.T))[:n_probe]


def ivf_index_add(
    spark, path: str, new_vectors: DataFrame, vec_col: str = "embedding"
) -> None:
    """Incremental maintenance of a persisted IVF index: assign the new
    vectors to cells under the SAVED centroids (no retraining — the
    standard inverted-file maintenance op; periodic retraining is a
    full rebuild) and append them partition-wise into the existing
    cell layout. Probing is unchanged — ``ivf_index_topk`` still prunes
    to n_probe cell directories, which now include the new postings.
    At scale the append writes only the cells the batch lands in, so
    maintenance cost follows the BATCH, not the index size."""
    cents, assigned = load_ivf_index(spark, path)
    (
        _postings_like(assigned, new_vectors, vec_col)
        .withColumn("cell", _cell_assigner(cents)(F.col(vec_col)))
        .write.partitionBy("cell")
        .mode("append")
        .parquet(f"{path}/cells")
    )


def _postings_like(
    cells: DataFrame, new_vectors: DataFrame, vec_col: str
) -> DataFrame:
    """``new_vectors`` as postings of an index: its data columns, the
    vector cast to the index's element type (a float32 index must not
    silently grow float64 postings, or scores could diverge in the
    rounded 6th decimal)."""
    cols = [c for c in cells.columns if c not in ("cell", "pq_code")]
    elem = cells.schema[vec_col].dataType.elementType.simpleString()
    return new_vectors.select(*cols).withColumn(
        vec_col, F.col(vec_col).cast(f"array<{elem}>")
    )


def ivf_index_health(spark, path: str) -> dict:
    """Fragmentation/balance probe of a persisted IVF index: rows and
    file counts per cell (files via ``input_file_name`` over the cell
    scan — engine-portable, no filesystem walk) and the cell-size
    imbalance ratio max/mean. ``ivf_index_add`` appends one file set
    per increment forever, so files_per_cell growing without bound —
    or imbalance drifting as the ingested distribution shifts away
    from the trained centroids — is the signal to compact."""
    cents, assigned = load_ivf_index(spark, path)
    rows = (
        # input_file_name() is non-deterministic to the analyzer, so it
        # must be projected before the aggregate, not inside it.
        assigned.withColumn("__f", F.input_file_name())
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("__f").alias("files"),
        )
        .collect()
    )
    total = sum(r["n"] for r in rows)
    # Mean over ALL trained cells, not just non-empty ones — an index
    # collapsed into one cell must read as maximally imbalanced, not
    # as balanced-because-the-empty-cells-vanished.
    mean = total / len(cents) if len(cents) else 0.0
    return {
        "n_cells": len(cents),
        "rows": total,
        "files": sum(r["files"] for r in rows),
        "max_files_per_cell": max((r["files"] for r in rows), default=0),
        "imbalance": (max((r["n"] for r in rows), default=0) / mean)
        if mean
        else 0.0,
    }


def ivf_index_compact(
    spark,
    path: str,
    dest: str,
    retrain_imbalance: float = 4.0,
    train_iters: int = 2,
    vec_col: str = "embedding",
) -> dict:
    """Maintenance for an incrementally-grown IVF index, mirroring
    ``compact_stream_index`` for the LSH index: rewrite the cell layout
    at ``dest`` with ONE file per cell (each ``ivf_index_add`` appends
    its own file set), and — when the cell-size imbalance ratio
    max/mean exceeds ``retrain_imbalance``, i.e. the ingested
    distribution drifted from the trained centroids — RE-TRAIN the
    centroids on the current corpus and re-assign.

    Writing to ``dest`` (never in place) keeps readers of ``path``
    consistent mid-compaction (add* → compact → point probes at the
    compacted copy). Retraining is the deterministic spherical k-means
    of the original build, and assignment normalizes the vector first,
    so scaled duplicates keep landing in their source vector's cell
    and probe recall survives a retrain (tests/test_simsearch.py).
    Returns the health stats observed plus whether it retrained."""
    _refuse_in_place(path, dest)
    cents, assigned = load_ivf_index(spark, path)
    cents, assigned, stats = _compact_core(
        assigned, cents, retrain_imbalance, train_iters, vec_col
    )
    save_ivf_index(cents, assigned, dest)  # one file per cell
    return stats


def _refuse_in_place(path: str, dest: str) -> None:
    """A save clears ``dest``'s postings before it writes the ones it
    reads from ``path``, so compacting onto the source would delete
    the index it is compacting."""
    if os.path.normpath(dest) == os.path.normpath(path):
        raise ValueError(
            f"dest {dest!r} must differ from the compacted index {path!r}"
        )


def _compact_core(
    assigned: DataFrame,
    cents: np.ndarray,
    retrain_imbalance: float,
    train_iters: int,
    vec_col: str,
) -> tuple[np.ndarray, DataFrame, dict]:
    """The shared imbalance-check / conditional-retrain step of index
    compaction (IVF and IVFPQ differ only in what else they persist).
    Retraining is the deterministic spherical k-means of the original
    build; any extra columns on ``assigned`` (e.g. IVFPQ's pq_code)
    ride through untouched."""
    n_cells = len(cents)
    counts = (
        assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    total = sum(r["n"] for r in counts)
    mean = total / n_cells if n_cells else 0.0
    imbalance = (
        max((r["n"] for r in counts), default=0) / mean if mean else 0.0
    )
    retrained = imbalance > retrain_imbalance
    if retrained:
        data = assigned.drop("cell")
        cents = train_ivf_centroids(
            data,
            n_cells=n_cells,
            n_iter=train_iters,
            dim=cents.shape[1],
            vec_col=vec_col,
        )
        assigned = data.withColumn(
            "cell", _cell_assigner(cents)(F.col(vec_col))
        )
    return (
        cents,
        assigned,
        {"retrained": retrained, "imbalance": imbalance, "rows": total},
    )


def ivf_index_topk(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | Column | None = None,
) -> DataFrame:
    """Top-k search against a PERSISTED IVF index: identical results to
    :func:`ivf_topk` with the same (deterministic) training, but the
    corpus scan touches only the probed cells' partitions. Query
    vectors are fetched by id and probe cells computed driver-side —
    bounded by the request size, the natural client-query shape.
    ``n_probe=None`` sizes the probe budget to the LOADED index's cell
    count (:func:`derive_ivf_probe`, ~√n_cells), so an index built with
    ``n_cells=None`` does not collapse the probed fraction.

    ``predicate`` is FILTERED search, the ``ivfpq_index_topk``
    contract: a SQL expression (or Column) over the posting columns,
    pushed into the same partition-pruned scan, so k fills
    POST-filter."""
    cents, assigned = load_ivf_index(spark, path)
    if n_probe is None:
        n_probe = derive_ivf_probe(len(cents))
    queries = _query_vectors(assigned, query_ids, id_col, vec_col)
    probe = [
        (q, qv.tolist(), int(c))
        for q, qv in queries.items()
        for c in _probe_cells(qv, cents, n_probe)
    ]
    # Rebuild query vectors under the INDEX's element type — a float32
    # index must not be silently upcast (nor a float64 one downcast, or
    # scores could diverge from ivf_topk in the rounded 6th decimal).
    elem = assigned.schema[vec_col].dataType.elementType.simpleString()
    q = tiny_df(
        spark, probe, f"query_id long, qv array<{elem}>, cell int"
    )
    pruned = assigned.where(
        _isin("cell", sorted({c for _, _, c in probe}))
        & ~_isin(id_col, query_ids)
    )
    pruned = _filtered(pruned, predicate)
    cand = pruned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    scored = cand.join(broadcast(q), "cell").withColumn(
        "score", F.round(cosine(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def sq8_rerank_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | Column | None = None,
) -> DataFrame:
    """Two-stage scalar-quantized (SQ8) top-k — the classic
    quantize-then-rerank ANN pipeline (faiss's SQ8 flat):

    1. rank the corpus by cosine against its int8-quantized form
       (:func:`quantize_embeddings`; per-vector symmetric scaling is a
       positive scalar, so cosine against the raw int grid IS the
       quantized score) and keep a per-query ``shortlist``;
    2. re-score only the shortlist at full precision and return the
       exact top-k among those candidates.

    At 100 TB stage 1 reads a quarter of the bytes of a float32 scan
    (an eighth of float64) — the posting-list storage knob — while
    stage 2 touches ``shortlist`` full-precision rows per query. Both
    stages are JVM higher-order functions; scores round to 6 dp with
    (score desc, id) ranking so the pipeline is oracle-exact
    end-to-end, with no planted corpus needed.

    ``predicate`` is FILTERED search (the ``pq_topk`` contract on the
    scalar-quantized tier): a SQL expression (or Column) over the
    corpus's metadata columns restricting the CANDIDATE set — queries
    themselves need not satisfy it, and both stages inherit the
    restriction, so k fills post-filter. It applies before
    quantization, which is per-vector scan-stage arithmetic, so the
    filter reaches the source scan as a pushed predicate.
    """

    def quant(src: DataFrame) -> DataFrame:
        return quantize_embeddings(
            src.select(
                id_col,
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias(vec_col),
            ),
            vec_col=vec_col,
        )

    # Quantization is per-vector, so restricting to the query rows
    # BEFORE quantizing is identical — and pushes the isin() into the
    # scan instead of quantizing the whole corpus to extract k rows.
    q = quant(embeddings.where(F.col(id_col).isin(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = quant(_filtered(embeddings, predicate)).where(
        ~F.col(id_col).isin(query_ids)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("cq"),
    )
    scored = c.crossJoin(broadcast(q)).withColumn(
        "qscore", F.round(cosine(F.col("qv"), F.col("cq")), 6)
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("neighbor_id")
    )
    short = scored.withColumn("qrank", F.row_number().over(w1)).where(
        F.col("qrank") <= shortlist
    )
    rescored = short.withColumn(
        "score", F.round(cosine(F.col("qv"), F.col("cv")), 6)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric integer quantization — the storage knob for
    100 TB embedding corpora: an int8 inverted file is 4x smaller than
    float32 (8x vs float64), so every ANN probe reads a quarter of the
    bytes, and candidates are re-scored against the full-precision
    column only for the final top-k.

    q_i = clip(floor(v_i / scale + 0.5), -Q, Q) with Q = 2^(bits-1)-1
    and scale = max|v| / Q per vector (scale 1 for an all-zero
    vector). ``floor(x + 0.5)`` instead of round(): both engines
    evaluate the identical IEEE-double expression, so the quantized
    grid is bit-stable across Spark and any SQL oracle — no HALF_UP vs
    banker's-rounding divergence on grid-boundary values.

    Adds ``qvec`` (array<int>), ``scale`` (double). Everything is JVM
    higher-order functions on the scan — no shuffle, no Python.
    """
    q = (1 << (bits - 1)) - 1
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax > 0, amax / F.lit(float(q))).otherwise(F.lit(1.0))
    df = df.withColumn("scale", scale)
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.greatest(
            F.lit(-q),
            F.least(
                F.lit(q),
                F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast(
                    "int"
                ),
            ),
        ),
    )
    return df.withColumn("qvec", qv)


# --- Product quantization (PQ): the sub-byte ANN storage tier ---
# SQ8 above stores 1 byte per DIMENSION; PQ stores a few bytes per
# VECTOR. The 64-dim corpus is split into PQ_M=8 subspaces of 8 dims,
# each quantized against its own K=16-entry trained codebook — 4 bits
# per subspace, 4 bytes per vector (0.5 byte/dim, 16x smaller than
# float32, 128x smaller than float64). Search is the classic
# asymmetric-distance (ADC) two-stage pipeline (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011; faiss's
# IndexPQ): per query, an M x K table of exact
# ||q_m - codeword||^2 distances is computed once driver-side, the
# corpus is ranked by M table lookups per row in one Arrow pass (the
# stored code array only, no floats read), and only the shortlist is
# re-scored against full-precision vectors.
#
# Training follows the train_ivf_centroids discipline: seeded
# deterministic Lloyd's per subspace, means rounded to 8 dp so the
# model is stable to float summation order, empty codes keep their
# previous centroid. Correctness is STRUCTURAL under ANY codebook:
# an exact copy of the query achieves ADC distance
# sum_m min_j ||q_m - c_mj||^2 — the global minimum over all possible
# code assignments — so planted copies provably survive stage 1
# whatever training produced (see queries/vectors.py::q_ann_pq).

PQ_M = 8  # subspaces
PQ_K = 16  # codes per subspace (4 bits)


def train_pq_codebooks(
    embeddings: DataFrame,
    m_subspaces: int = PQ_M,
    n_codes: int = PQ_K,
    n_iter: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Per-subspace Lloyd's k-means -> codebooks (M, K, dim//M).

    Seeds are the first ``n_codes`` corpus vectors in xxhash64 order —
    data-dependent but deterministic across runs, partitionings and
    engines (the q_stratified_sample hash-sampler discipline). Each
    iteration is ONE Spark job: an Arrow-batched encode pass, then a
    map-side-combined (subspace, code, pos) sum whose output is at
    most ``n_codes * dim`` rows collected to the driver — the
    tiny-model-on-driver shape of train_ivf_centroids. At 100 TB you
    train on a hash-deterministic sample; encoding the full corpus is
    the same single pass either way.
    """
    dsub = dim // m_subspaces
    seed_rows = (
        embeddings.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64("v"))
        .limit(n_codes)
        .collect()
    )
    if not seed_rows:
        raise ValueError(
            "train_pq_codebooks: the training corpus is empty "
            f"(no rows in column {vec_col!r})"
        )
    seeds = np.stack(
        [np.asarray(r["v"], dtype=np.float64) for r in seed_rows]
    )
    if len(seeds) < n_codes:  # degenerate tiny corpus: tile the seeds
        reps = -(-n_codes // max(len(seeds), 1))
        seeds = np.tile(seeds, (reps, 1))[:n_codes]
    books = seeds.reshape(n_codes, m_subspaces, dsub).transpose(1, 0, 2)
    books = np.ascontiguousarray(books)  # (M, K, dsub)

    for _ in range(n_iter):
        cur = books  # capture by value for the closure

        # One mapInPandas pass per iteration encodes AND accumulates
        # the per-(subspace, code) sums: <= M x K rows per TASK; the
        # driver finishes the reduction (the train_ivf_centroids shape).
        def code_partials(batches):
            psums = np.zeros((m_subspaces, n_codes, dsub))
            pcnt = np.zeros((m_subspaces, n_codes), dtype="int64")
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = _vectors(pdf[vec_col])
                sub = mat.reshape(len(mat), m_subspaces, dsub)
                for mi in range(m_subspaces):
                    x = sub[:, mi, :]
                    codes = _nearest_code(x, cur[mi])
                    for j in np.unique(codes):
                        psums[mi, j] += x[codes == j].sum(axis=0)
                    pcnt[mi] += np.bincount(codes, minlength=n_codes)
            mi_nz, j_nz = np.nonzero(pcnt)
            yield pd.DataFrame(
                {
                    "m": mi_nz.astype("int32"),
                    "code": j_nz.astype("int32"),
                    # dtype=object: see cell_partials — an empty
                    # partition's bare [] would materialize float64.
                    "s": pd.Series(
                        [
                            psums[a, b].tolist()
                            for a, b in zip(mi_nz, j_nz)
                        ],
                        dtype="object",
                    ),
                    "n": pcnt[mi_nz, j_nz],
                }
            )

        sums = (
            embeddings.select(vec_col)
            .mapInPandas(
                code_partials, "m int, code int, s array<double>, n long"
            )
            .collect()
        )
        new = books.copy()
        acc = np.zeros((m_subspaces, n_codes, dsub))
        cnt = np.zeros((m_subspaces, n_codes), dtype="int64")
        for r in sums:
            acc[r["m"], r["code"]] += np.asarray(r["s"], dtype=np.float64)
            cnt[r["m"], r["code"]] += r["n"]
        for m in range(m_subspaces):
            for j in range(n_codes):
                if cnt[m, j] > 0:  # empty codes keep their previous
                    new[m, j] = np.round(acc[m, j] / cnt[m, j], 8)
        books = new
    return books


def _nearest_code(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Per row of ``x`` (n, dsub), the nearest row of the subspace
    codebook ``c`` (K, dsub): argmin ||x||^2 - 2 x @ C^T + ||c||^2."""
    d = (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * (x @ c.T)
        + (c * c).sum(axis=1)
    )
    return np.argmin(d, axis=1)


def _pq_codes(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, M) int32 PQ codes of the float rows ``mat``: per subspace,
    the nearest code (one (n, K) distance matrix per subspace)."""
    m_subspaces, _, dsub = books.shape
    sub = mat.reshape(len(mat), m_subspaces, dsub)
    out = np.empty((len(mat), m_subspaces), dtype="int32")
    for m in range(m_subspaces):
        out[:, m] = _nearest_code(sub[:, m, :], books[m])
    return out


def _pq_encoder(books: np.ndarray):
    """Arrow-batched PQ encoding under fixed codebooks."""

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_of(vs: pd.Series) -> pd.Series:
        return pd.Series(list(_pq_codes(_vectors(vs), books)))

    return codes_of


def _with_cell_code(
    df: DataFrame, cents: np.ndarray, books: np.ndarray, vec_col: str
) -> DataFrame:
    """Append ``cell`` and ``pq_code`` under fixed models in ONE Arrow
    pass: exactly `_cell_assigner(cents)` and `_pq_encoder(books)`
    composed, but the float corpus crosses the Python boundary once
    instead of once per model (the IVFPQ build's and add's
    encode+write pass)."""

    @pandas_udf(
        T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                T.StructField("pq_code", T.ArrayType(T.IntegerType())),
            ]
        )
    )
    def assign_encode(vs: pd.Series) -> pd.DataFrame:
        mat = _vectors(vs)
        cell = np.argmax(_unit_rows(mat) @ cents.T, axis=1).astype("int32")
        return pd.DataFrame(
            {"cell": cell, "pq_code": list(_pq_codes(mat, books))}
        )

    return (
        df.withColumn("__ae", assign_encode(F.col(vec_col)))
        .withColumn("cell", F.col("__ae.cell"))
        .withColumn("pq_code", F.col("__ae.pq_code"))
        .drop("__ae")
    )


def pq_encode(
    df: DataFrame, books: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Append ``pq_code`` (array<int>, length M — the 4-bit codes a
    columnar store would pack two-per-byte)."""
    return df.withColumn("pq_code", _pq_encoder(books)(F.col(vec_col)))


def pq_topk(
    embeddings: DataFrame,
    books: np.ndarray,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | Column | None = None,
) -> DataFrame:
    """Two-stage PQ search: ADC shortlist, then exact re-rank. Stage 1
    (:func:`_adc_stage`) encodes and scores the corpus in ONE Arrow
    pass against per-query distance tables computed driver-side; stage
    2 (:func:`_rerank`) fetches the shortlisted full-precision rows in
    one scan and re-ranks them on the driver. ADC distances and
    cosines round to 6 dp with id tie-breaks, so the pipeline is
    deterministic and oracle-comparable end-to-end. Runs eagerly; the
    returned frame holds the answer.

    ``predicate`` is FILTERED search (faiss's IDSelector / a vector
    DB's metadata filter): a SQL expression (or Column) over the
    corpus's metadata columns restricting the candidate set, so top-k
    fills post-filter (post-filtering an unfiltered top-k silently
    under-fills k). It applies BEFORE encoding, so it reaches the
    parquet scan as a pushed predicate.
    """
    queries = _query_vectors(embeddings, query_ids, id_col, vec_col)
    cand = _filtered(embeddings, predicate).where(~_isin(id_col, query_ids))
    cand = cand.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    short = _adc_stage(cand, books, queries, shortlist).toPandas()
    return _rerank(embeddings, short, queries, k, id_col, vec_col)


def _query_vectors(
    frame: DataFrame, query_ids: list[int], id_col: str, vec_col: str
) -> dict[int, np.ndarray]:
    """{query id: float64 vector} — one scan, bounded by the request."""
    rows = frame.where(_isin(id_col, query_ids)).select(id_col, vec_col)
    return {
        int(r[0]): np.asarray(r[1], dtype=np.float64) for r in rows.collect()
    }


def _adc_table(qv: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The query's (M, K) ADC table: squared L2 distance from each
    query subvector to each code of its subspace."""
    m_subspaces, n_codes, dsub = books.shape
    sub = qv.reshape(m_subspaces, dsub)
    dt = np.empty((m_subspaces, n_codes))
    for m in range(m_subspaces):
        diff = books[m] - sub[m]
        dt[m] = (diff * diff).sum(axis=1)
    return dt


def _adc_stage(
    cand: DataFrame,
    books: np.ndarray,
    queries: dict[int, np.ndarray],
    shortlist: int,
    probes: dict[int, np.ndarray] | None = None,
) -> DataFrame:
    """Stage 1 of PQ search: the (query_id, neighbor_id, adc) frame of
    each query's first ``shortlist`` candidates by (adc, id).

    ``cand`` carries ``neighbor_id`` and either the stored ``pq_code``
    or the float vector ``vec`` (encoded in the same pass), plus
    ``cell`` when ``probes`` restricts each query to its own cells.
    ONE mapInPandas kernel sums each query's ADC table over a posting's
    codes in subspace order 0..M-1 from 0.0, rounds like Spark's
    round(x, 6) (:func:`_round6`), drops postings outside the query's
    probe cells and keeps the task's first ``shortlist`` per query; a
    JVM window over those per-task shortlists (never over the candidate
    set) keeps the global first ``shortlist``. The query tables travel
    in the closure."""
    qids = np.array(list(queries), dtype="int64")
    tables = np.array([_adc_table(queries[q], books) for q in qids])
    tables = tables.reshape(len(qids), *books.shape[:2])
    allowed = None
    if probes is not None:
        width = max((int(c) for p in probes.values() for c in p), default=0)
        allowed = np.zeros((len(qids), width + 1), dtype=bool)
        for i, q in enumerate(qids):
            allowed[i, probes[q]] = True
    empty = pd.DataFrame(
        {"query_id": qids[:0], "neighbor_id": qids[:0], "adc": np.empty(0)}
    )

    def rank(batches):
        best = empty
        for pdf in batches:
            if not len(pdf):
                continue
            if "pq_code" in pdf:
                codes = np.stack(pdf["pq_code"].to_numpy())
            else:
                codes = _pq_codes(_vectors(pdf["vec"]), books)
            adc = np.zeros((len(qids), len(pdf)))
            for m in range(codes.shape[1]):
                adc = adc + tables[:, m, codes[:, m]]
            qi, row = np.nonzero(
                np.ones(adc.shape, dtype=bool)
                if allowed is None
                else allowed[:, pdf["cell"].to_numpy()]
            )
            found = pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "neighbor_id": pdf["neighbor_id"].to_numpy()[row],
                    "adc": _round6(adc[qi, row]),
                }
            )
            best = (
                pd.concat([best, found])
                .sort_values(["query_id", "adc", "neighbor_id"])
                .groupby("query_id")
                .head(shortlist)
            )
        yield best

    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        cand.mapInPandas(
            rank, "query_id long, neighbor_id long, adc double"
        )
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= shortlist)
        .drop("r")
    )


def _fetch_rows(frame: DataFrame, ids, id_col: str, vec_col: str):
    """Stage 2's one scan: the shortlist's vectors, ``id IN`` pushed."""
    return frame.where(_isin(id_col, ids)).select(id_col, vec_col)


def _rerank(
    frame: DataFrame,
    short: pd.DataFrame,
    queries: dict[int, np.ndarray],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Stage 2 of PQ search on the driver: fetch the shortlist's
    vectors from ``frame`` and rank each query's shortlist by
    round(cosine, 6) descending (NaN first, as Spark sorts it), ties by
    id. Returns the (query_id, neighbor_id, score, rank) frame."""
    ids = np.unique(short["neighbor_id"].to_numpy())
    rows = _fetch_rows(frame, ids, id_col, vec_col).collect()
    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    out = []
    for q, grp in short.groupby("query_id"):
        nid = grp["neighbor_id"].to_numpy()
        score = _cosine_rows(queries[q], np.stack([vecs[n] for n in nid]))
        order = np.lexsort((nid, -score, ~np.isnan(score)))[:k]
        out += [
            (int(q), int(nid[i]), float(score[i]), r + 1)
            for r, i in enumerate(order)
        ]
    id_type = frame.schema[id_col].dataType.simpleString()
    cols = ["query_id", "neighbor_id", "score", "rank"]
    return frame.sparkSession.createDataFrame(
        pd.DataFrame(out, columns=cols),
        f"query_id long, neighbor_id {id_type}, score double, rank int",
    )


# --- IVFPQ: the persisted 100 TB ANN layout (IVF pruning + PQ codes) ---
# faiss's IndexIVFPQ posting-list design: cell-partitioned parquet
# whose postings carry 4-byte PQ codes next to the full-precision
# vector. A probe prunes to n_probe cell directories, stage 1 reads
# only (id, pq_code) there, stage 2 only the shortlist's floats: per
# probed query ~ (corpus/n_cells) * n_probe * 4 bytes + shortlist rows.


def build_ivfpq_index(
    embeddings: DataFrame,
    n_cells: int | None = 16,
    train_iters: int = 2,
    m_subspaces: int = PQ_M,
    n_codes: int = PQ_K,
    dim: int = 64,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """(cell centroids, PQ codebooks, assigned+encoded corpus). Both
    models train with the deterministic seeded discipline of their
    standalone builders; one Arrow pass over the corpus appends
    ``cell`` and ``pq_code`` (:func:`_with_cell_code`)."""
    cents, _ = build_ivf_index(
        embeddings, n_cells=n_cells, train_iters=train_iters,
        dim=dim, vec_col=vec_col,
    )
    books = train_pq_codebooks(
        embeddings, m_subspaces=m_subspaces, n_codes=n_codes,
        dim=dim, vec_col=vec_col,
    )
    return cents, books, _with_cell_code(embeddings, cents, books, vec_col)


def save_ivfpq_index(
    cents: np.ndarray,
    books: np.ndarray,
    assigned: DataFrame,
    path: str,
) -> None:
    """Persist the composed index: tiny centroid + codebook tables,
    and the corpus laid out ``cells/add_id=<k>/cell=<c>/`` with the PQ
    code column stored alongside the full-precision vectors — the
    probe prunes to cell directories, stage 1 projects only
    (id, pq_code). ``add_id`` is the increment epoch (0 = the base
    build; each :func:`ivfpq_index_add` gets its own value), which is
    what makes incremental maintenance REPLAY-IDEMPOTENT: an add is a
    deterministic overwrite of its own epoch directory, never a blind
    append, so a crashed-and-replayed micro-batch converges instead of
    duplicating (the pipeline-sink discipline)."""
    _save_centroids(assigned.sparkSession, cents, path)
    m, k, dsub = books.shape
    tiny_df(
        assigned.sparkSession,
        [
            (mi, ji, [float(x) for x in books[mi, ji]])
            for mi in range(m)
            for ji in range(k)
        ],
        "m int, code int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    # One shuffle keyed on the partition column lands one file per
    # cell (a bare partitionBy from an n-task frame sprays up to n
    # files into EVERY cell directory); encoding stays map-side. Cells
    # hold ~sqrt(n)/4 rows under derive_ivf_cells, so one task per
    # cell holds at scale.
    assigned.repartition(len(cents), "cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(f"{path}/cells/add_id=0")


def load_ivfpq_index(
    spark, path: str
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    idx = _load_index(spark, path)
    return idx.cents, idx.books, idx.cells


def ivfpq_index_topk(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 5,
    n_probe: int | None = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | Column | None = None,
) -> DataFrame:
    """Three-stage search against a persisted IVFPQ index: partition
    pruning (n_probe cells), ADC shortlist over the code column, exact
    re-rank of the shortlist. Models and postings come from the
    resident handle (:func:`_load_index`), so a request on an
    unchanged index runs no load job, only these:

    1. fetch the query vectors by id; probe cells and ADC tables are
       computed driver-side, bounded by the request size;
    2. stage 1 (:func:`_adc_stage`): one Arrow pass over the probed
       cells' (id, pq_code, cell) ranks each query against ITS OWN
       probe cells (never a pooled union, so an answer does not depend
       on what it was batched with), then a JVM window over the
       per-task shortlists bounds it at n_queries x shortlist rows;
    3. stage 2 (:func:`_rerank`): one scan fetches the shortlist's
       vectors with ``cell IN (...) AND id IN (...)`` pushed down, and
       the driver re-ranks them by round(cosine, 6).

    The search runs eagerly; the returned frame holds the answer. Plant
    containment is structural end-to-end: an exact copy normalizes to
    the query's own nearest cell (always probed), achieves the
    global-minimum ADC among probed candidates, wins rounded ties by
    its smaller id, and re-ranks to round(cos,6)=1.0.

    ``predicate`` is FILTERED search (faiss IDSelector / vector-DB
    metadata filtering): a SQL expression (or Column) over the posting
    columns, pushed into the stage-1 scan, so k fills post-filter
    (post-filtering an unfiltered top-k would under-fill k); stage 2
    inherits it through the shortlist. ``n_probe=None`` sizes the
    probe budget to the loaded cell count (:func:`derive_ivf_probe`).
    """
    idx = _load_index(spark, path)
    if n_probe is None:
        n_probe = derive_ivf_probe(len(idx.cents))
    queries = _query_vectors(idx.cells, query_ids, id_col, vec_col)
    probes = {
        q: _probe_cells(qv, idx.cents, n_probe) for q, qv in queries.items()
    }
    probed = idx.cells.where(
        _isin("cell", sorted({int(c) for p in probes.values() for c in p}))
    )
    cand = _filtered(probed.where(~_isin(id_col, query_ids)), predicate)
    short = _adc_stage(
        cand.select(F.col(id_col).alias("neighbor_id"), "pq_code", "cell"),
        idx.books,
        queries,
        shortlist,
        probes,
    ).toPandas()
    return _rerank(probed, short, queries, k, id_col, vec_col)


def ivfpq_index_add(
    spark,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    add_id: int | None = None,
) -> None:
    """Incremental IVFPQ maintenance: encode + assign the new vectors
    under the SAVED models (no retraining — the ivf_index_add
    discipline) and write them into the batch's OWN epoch directory
    ``cells/add_id=<k>/`` (mode=overwrite, so a replayed batch
    converges instead of duplicating). Pass the micro-batch id as
    ``add_id`` from a streaming sink, or leave None to take the next
    free epoch from the index handle's file listing (one maintainer
    per index, like ivf_index_add). The new postings carry their PQ
    codes, so stage 1 still never reads a float column; add == rebuild
    under fixed models (tests/test_pq.py). The write covers only the
    batch's cells — maintenance cost follows the BATCH."""
    idx = _load_index(spark, path)
    if add_id is None:
        epochs = [
            int(m.group(1))
            for sub, f, _ in idx.stamp
            if sub == "cells" and (m := re.match(r"add_id=(\d+)/", f))
        ]
        add_id = 1 + max(epochs, default=0)
    batch = _postings_like(idx.cells, new_vectors, vec_col)
    (
        _with_cell_code(batch, idx.cents, idx.books, vec_col)
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/cells/add_id={add_id}")
    )


# --- OPQ: optimized product quantization (learned rotation) ---
# PQ quantizes fixed axis-aligned subspaces; OPQ (Ge et al.,
# "Optimized Product Quantization", CVPR 2013 — faiss's OPQMatrix)
# learns an orthogonal rotation R that redistributes variance across
# subspaces before coding, minimizing sum ||x - R yhat||^2 over
# (R, codebooks, codes) by alternating minimization:
#   codes/books step: PQ-train on the rotated corpus (y = x R);
#   rotation step:    R = U V^T from SVD(sum_i x_i yhat_i^T) — the
#                     orthogonal Procrustes solution.
# With fixed codebooks each rotation step is the exact Procrustes
# minimizer, but the codes/books step RE-TRAINS from scratch with
# seeds taken in xxhash64 order of the ROTATED vectors (which changes
# with R), so strict per-step monotonicity is NOT guaranteed by
# construction — only the measured end-to-end gain is (errors[-1] <
# errors[0], pinned in tests/test_pq.py; a warm-started coordinate
# descent would restore the structural guarantee at the cost of
# shipping codebook state between iterations). The
# cross-covariance is a dim x dim reduce: each Arrow batch emits its
# partial X^T Yhat flattened to dim^2 (pos, val) rows, one
# map-side-combined groupBy(pos) sums them — model-sized driver
# traffic however large the corpus, the train_ivf_centroids shape.
# Search-time correctness is unchanged: an exact copy of the query
# rotates to the query's own rotated vector, so the min-ADC plant
# argument holds under ANY rotation, learned or not.


def rotate_embeddings(
    df: DataFrame, rotation: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Replace ``vec_col`` with x @ R — one matmul per Arrow batch."""

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def rot(vs: pd.Series) -> pd.Series:
        m = _vectors(vs)
        return pd.Series(list(m @ rotation))

    return df.withColumn(vec_col, rot(F.col(vec_col)))


def _opq_cross_cov(
    df: DataFrame, rotation: np.ndarray, books: np.ndarray, vec_col: str
) -> tuple[np.ndarray, float]:
    """(sum_i x_i yhat_i^T, sum_i ||x_i - R yhat_i||^2) in ONE pass:
    per Arrow batch, rotate, encode, decode, emit the flattened
    partial cross-covariance plus the partial error as dim^2+1
    (pos, val) rows; a single groupBy(pos) reduces them."""
    m_subspaces, n_codes, dsub = books.shape
    dim = m_subspaces * dsub

    def part(batches):
        # Accumulate across every batch in the task and emit ONE
        # dim^2+1 partial per task — the groupBy that used to reduce
        # per-batch partials becomes a driver-side sum over
        # tasks x (dim^2+1) rows, removing the per-iteration shuffle.
        acc = np.zeros(dim * dim + 1)
        for pdf in batches:
            m = _vectors(pdf[vec_col])
            y = m @ rotation
            sub = y.reshape(len(m), m_subspaces, dsub)
            recon = np.empty_like(y)
            for mi in range(m_subspaces):
                c = books[mi]
                recon[:, mi * dsub : (mi + 1) * dsub] = c[
                    _nearest_code(sub[:, mi, :], c)
                ]
            cov = m.T @ recon  # (dim, dim)
            resid = m - recon @ rotation.T
            err = float((resid * resid).sum())
            acc += np.append(cov.ravel(), err)
        yield pd.DataFrame({"pos": np.arange(dim * dim + 1), "val": acc})

    rows = (
        df.select(vec_col)
        .mapInPandas(part, "pos int, val double")
        .groupBy("pos")
        .agg(F.sum("val").alias("s"))
        .collect()
    )
    flat = np.zeros(dim * dim + 1)
    for r in rows:
        flat[r["pos"]] = r["s"]
    return flat[:-1].reshape(dim, dim), float(flat[-1])


def train_opq(
    embeddings: DataFrame,
    m_subspaces: int = PQ_M,
    n_codes: int = PQ_K,
    n_iter: int = 3,
    pq_iter: int = 1,
    dim: int = 64,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, list[float]]:
    """(rotation R, codebooks, per-iteration reconstruction errors).
    Iteration 0 trains plain PQ under R = I, so ``errors[0]`` is the
    unrotated-PQ baseline and ``errors[-1] < errors[0]`` is the
    measured OPQ gain (the end-to-end property the tests pin; per-step
    monotonicity is empirical, not structural — see the note above)."""
    rotation = np.eye(dim)
    books = None
    errors: list[float] = []
    for _ in range(n_iter):
        rotated = rotate_embeddings(embeddings, rotation, vec_col)
        books = train_pq_codebooks(
            rotated, m_subspaces=m_subspaces, n_codes=n_codes,
            n_iter=pq_iter, dim=dim, vec_col=vec_col,
        )
        cov, err = _opq_cross_cov(embeddings, rotation, books, vec_col)
        errors.append(err)
        u, _, vt = np.linalg.svd(cov)
        rotation = u @ vt  # orthogonal Procrustes
    return rotation, books, errors


def opq_topk(
    embeddings: DataFrame,
    rotation: np.ndarray,
    books: np.ndarray,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: str | Column | None = None,
) -> DataFrame:
    """PQ search in the learned-rotation space: rotate once, then the
    exact :func:`pq_topk` pipeline. The re-rank's cosine is computed
    on rotated vectors — R is orthogonal, so cosine is preserved
    (plants score exactly 1.0 either way; the plant oracle needs no
    rotation awareness). ``predicate`` passes through to pq_topk —
    metadata columns ride the rotation untouched."""
    return pq_topk(
        rotate_embeddings(embeddings, rotation, vec_col),
        books,
        query_ids=query_ids,
        k=k,
        shortlist=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        predicate=predicate,
    )


def ivfpq_index_health(spark, path: str) -> dict:
    """IVFPQ health = the IVF health probe over the same cell layout
    (the ``cells/`` directory shape is identical; the extra ``pq_code``
    column rides along unread). Same signals, same thresholds."""
    return ivf_index_health(spark, path)


def ivfpq_index_compact(
    spark,
    path: str,
    dest: str,
    retrain_imbalance: float = 4.0,
    train_iters: int = 2,
    vec_col: str = "embedding",
) -> dict:
    """Maintenance for an incrementally-grown IVFPQ index: rewrite the
    cell layout at ``dest`` with ONE file per cell, retraining the
    CELL centroids (and re-assigning) when the imbalance ratio crosses
    the threshold — the ivf_index_compact loop. The PQ side needs no
    maintenance here: codes encode the raw vectors independently of
    cell geometry, so a cell retrain never invalidates them (codebook
    retraining is a full re-encode and stays an explicit rebuild).
    Writes to ``dest`` (never in place) so readers of ``path`` stay
    consistent mid-compaction. Returns health stats + whether the
    retrain branch ran."""
    _refuse_in_place(path, dest)
    cents, books, cells = load_ivfpq_index(spark, path)
    cents, cells, stats = _compact_core(
        cells, cents, retrain_imbalance, train_iters, vec_col
    )
    save_ivfpq_index(cents, books, cells, dest)  # one file per cell
    return stats
