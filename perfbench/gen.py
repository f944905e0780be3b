"""Seeded input generators and the reference answers they imply.

Pure numpy/pandas: nothing here imports Spark or ``mora_spark``, so a
reference can never share a defect with the code it checks. The same
seed gives byte-identical inputs (see :func:`digest`); every planted
property is counted by the generator, never measured from the program.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

MARKET = "SYN"
MINUTE = pd.Timedelta(minutes=1)
# Setup timeline starts 12 h before a year boundary, so every series
# has a 2023 and a 2024 partition and the store crosses the year split.
T0 = pd.Timestamp("2023-12-31 12:00:00")
CANDLE_COLS = [
    "market", "code", "candle_length", "ts",
    "open", "high", "low", "close", "volume", "bit_fields",
]
CANDLE_RECORD_BYTES = 48  # mora's on-disk candle record

# Request kinds of the request workload. The mix is a benchmark choice,
# not measured traffic (the repository records none): every timed pass
# issues each kind once, in a seeded order, so each kind weighs the same.
KINDS = ("range", "timetravel", "resample", "sma", "bollinger", "asof",
         "write", "ann")
# Untimed passes of the whole mix on throwaway state (the README's
# steadiness record shows how the timed passes compare after them).
WARMUP_PASSES = 1
SMA_N = 20
BB_N = 20
BB_K = 2.0
ANN_K = 10
ANN_QUERIES = 16  # query ids per ANN request
N_VEC = 2000
DIM = 64
# Every read asks for a series' latest data: a fixed-length window that
# ends with its newest minute, so a seed changes which series and which
# values a request reads, never how many rows. The long window reaches
# back across the year boundary, into the series' 2023 partition.
READ_MIN, LONG_READ_MIN = 360, 1440
# An upsert revises candles of the series' last 6 h and appends new
# minutes, so the merge rewrites files that earlier commits wrote.
UPSERT_LATE, UPSERT_NEW = 60, 30


# --------------------------------------------------------------------
# Candles


def _candles(rng, codes, start, n_min, last_close):
    """``n_min`` 1-minute candles per code from ``start``; prices walk on
    from ``last_close`` (updated in place). Values are rounded so the
    parquet round trip is exact."""
    frames = []
    ts = start + MINUTE * np.arange(n_min)
    for c in codes:
        o = last_close[c] + np.round(rng.normal(0, 0.2, n_min), 4)
        cl = o + np.round(rng.normal(0, 0.3, n_min), 4)
        last_close[c] = float(cl[-1])
        hi = np.maximum(o, cl) + np.round(rng.uniform(0, 0.2, n_min), 4)
        lo = np.minimum(o, cl) - np.round(rng.uniform(0, 0.2, n_min), 4)
        frames.append(
            pd.DataFrame(
                {
                    "market": MARKET,
                    "code": c,
                    "candle_length": 60,
                    "ts": ts,
                    "open": np.round(o, 4),
                    "high": np.round(hi, 4),
                    "low": np.round(lo, 4),
                    "close": np.round(cl, 4),
                    "volume": np.round(rng.uniform(1, 100, n_min), 2),
                    "bit_fields": rng.integers(0, 16, n_min),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _revise(rng, rows: pd.DataFrame) -> pd.DataFrame:
    """Late revisions of already-written candles: same key, new values."""
    out = rows.copy()
    bump = np.round(rng.normal(0, 0.5, len(out)), 4)
    for col in ("open", "high", "low", "close"):
        out[col] = np.round(out[col] + bump, 4)
    out["volume"] = np.round(out["volume"] + 1.0, 2)
    return out


def lww(state: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """Last-writer-wins upsert on (market, code, candle_length, ts)."""
    both = pd.concat([state, batch], ignore_index=True)
    both = both.drop_duplicates(
        ["market", "code", "candle_length", "ts"], keep="last"
    )
    return both.sort_values(["code", "ts"], ignore_index=True)


@dataclass
class RequestWorkload:
    seed: int
    codes: list[str]
    setup_batches: list[pd.DataFrame]
    vectors: np.ndarray  # float32 (N_VEC, DIM)
    labels: np.ndarray
    requests: list[dict]  # timed passes, each with a "pass" number
    warmup: list[dict]
    # version -> reference candle state after that commit
    snapshots: dict[int, pd.DataFrame] = field(default_factory=dict)


def _window(newest: pd.Timestamp, minutes: int, first: pd.Timestamp):
    """The [start, end) window of the last ``minutes`` minutes up to and
    including ``newest``, clipped to the store's first minute."""
    e = newest + MINUTE
    return max(first, e - MINUTE * minutes), e


def _requests(rng, passes, codes, ends, first, version, last_close, state):
    """``passes`` passes over :data:`KINDS`, each in a seeded order;
    write requests advance ``state``, ``ends`` and ``version`` as the
    store will. Time travel reads ``version``, the state the sequence
    starts from. Returns (requests, {version: state})."""
    base = version
    snaps = {}
    out = []
    for p in range(passes):
        for i in rng.permutation(len(KINDS)):
            kind = KINDS[i]
            code = codes[int(rng.integers(len(codes)))]
            r = {"kind": kind, "code": code, "pass": p}
            if kind in ("range", "timetravel"):
                r["start"], r["end"] = _window(ends[code], READ_MIN, first)
            elif kind in ("resample", "sma", "bollinger"):
                r["start"], r["end"] = _window(ends[code], LONG_READ_MIN,
                                               first)
            elif kind == "asof":
                s, e = _window(ends[code], READ_MIN, first)
                r["start"], r["end"] = s, e
                span = int((e - s).total_seconds())
                offs = np.sort(rng.choice(span, size=50, replace=False))
                r["trades"] = [
                    (int(j), s + pd.Timedelta(seconds=int(o)),
                     float(np.round(rng.uniform(1, 10), 2)))
                    for j, o in enumerate(offs)
                ]
            if kind == "timetravel":
                r["version"] = base
            elif kind == "write":
                cur = state[state["code"] == code]
                recent = cur[cur["ts"] >= ends[code] - MINUTE * 360]
                late = _revise(rng, recent.sample(UPSERT_LATE,
                                                  random_state=rng))
                new = _candles(rng, [code], ends[code] + MINUTE, UPSERT_NEW,
                               last_close)
                batch = pd.concat([late, new], ignore_index=True)
                r["batch"] = batch
                ends[code] = ends[code] + MINUTE * UPSERT_NEW
                state = lww(state, batch)
                version += 1
                snaps[version] = state
            elif kind == "ann":
                # filtered search: the label predicate rides the
                # candidate scan, so the unfiltered path is a subset
                r["query_ids"] = sorted(
                    int(x) for x in rng.choice(N_VEC, ANN_QUERIES,
                                               replace=False)
                )
                r["label"] = int(rng.integers(0, 4))
            out.append(r)
    return out, snaps


def request_workload(
    seed: int,
    passes: int,
    n_codes: int = 8,
    setup_batches: int = 2,
    batch_minutes: int = 720,
) -> RequestWorkload:
    """``passes`` timed passes over :data:`KINDS` and
    :data:`WARMUP_PASSES` warm-up passes."""
    rng = np.random.default_rng([seed, 1])
    codes = [f"C{i:02d}" for i in range(n_codes)]
    last_close = {c: float(rng.uniform(50, 150)) for c in codes}
    state = pd.DataFrame(columns=CANDLE_COLS)
    batches, snaps = [], {}
    for k in range(setup_batches):
        new = _candles(rng, codes, T0 + MINUTE * (k * batch_minutes),
                       batch_minutes, last_close)
        if k:
            late = _revise(rng, state.sample(frac=0.05, random_state=rng))
            new = pd.concat([late, new], ignore_index=True)
        batches.append(new)
        state = lww(state, new) if k else lww(new.iloc[:0], new)
        snaps[k + 1] = state
    end = T0 + MINUTE * (setup_batches * batch_minutes - 1)
    ends = {c: end for c in codes}

    # 64 components: with 16 the IVF recall swung 0.68-0.92 across
    # seeds (cell/cluster alignment); 64 holds it within a few percent
    centers = rng.normal(0, 1, (64, DIM))
    member = rng.integers(0, 64, N_VEC)
    vecs = (centers[member] + 0.6 * rng.normal(0, 1, (N_VEC, DIM)))
    vecs = vecs.astype(np.float32)
    labels = rng.integers(0, 4, N_VEC).astype(np.int32)

    wrng = np.random.default_rng([seed, 2])
    warm, _ = _requests(wrng, WARMUP_PASSES, codes, dict(ends), T0,
                        setup_batches, dict(last_close), state)
    reqs, more = _requests(rng, passes, codes, ends, T0, setup_batches,
                           last_close, state)
    snaps.update(more)
    return RequestWorkload(seed, codes, batches, vecs, labels, reqs, warm,
                           snaps)


def ref_range(state, code, start, end) -> pd.DataFrame:
    m = (state["code"] == code) & (state["ts"] >= start) & (
        state["ts"] < end
    )
    return state[m].sort_values("ts", ignore_index=True)


def ref_resample(rows: pd.DataFrame, length_s: int) -> pd.DataFrame:
    if rows.empty:
        return rows.iloc[:0]
    r = rows.sort_values("ts").assign(
        bucket=rows.sort_values("ts")["ts"].dt.floor(f"{length_s}s")
    )
    g = r.groupby(["code", "bucket"], sort=True)
    out = pd.DataFrame(
        {
            "open": g["open"].first(),
            "high": g["high"].max(),
            "low": g["low"].min(),
            "close": g["close"].last(),
            "volume": g["volume"].sum(),
            "bit_fields": g["bit_fields"].sum(),
        }
    ).reset_index()
    return out.rename(columns={"bucket": "ts"})


def ref_sma(rows: pd.DataFrame, n: int) -> np.ndarray:
    return rows["close"].rolling(n).mean().to_numpy()


def ref_bollinger(rows: pd.DataFrame, n: int):
    mid = rows["close"].rolling(n).mean().round(6)
    sd = rows["close"].rolling(n).std(ddof=1).round(6)
    return mid.to_numpy(), sd.to_numpy(), (mid + BB_K * sd).round(6).to_numpy()


def ref_asof(rows: pd.DataFrame, trades: list) -> np.ndarray:
    t = pd.DataFrame(trades, columns=["trade_id", "ts", "qty"])
    m = pd.merge_asof(
        t.sort_values("ts"),
        rows[["ts", "close"]].sort_values("ts"),
        on="ts",
        direction="backward",
        allow_exact_matches=True,
    )
    return m.sort_values("trade_id")["close"].to_numpy()


def ref_topk(vecs, labels, query_ids, k, label) -> dict[int, list]:
    """Exact cosine top-k (scores rounded to 6 dp, ties by id), over
    every vector with ``label`` except the request's own query ids — the
    candidate set ``ivfpq_index_topk`` defines."""
    x = vecs.astype(np.float64)
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    ok = np.ones(len(x), bool)
    ok[query_ids] = False
    ok &= labels == label
    ids = np.flatnonzero(ok)
    out = {}
    for q in query_ids:
        s = np.round(unit[ids] @ unit[q], 6)
        order = np.lexsort((ids, -s))[:k]
        out[q] = [int(i) for i in ids[order]]
    return out


# --------------------------------------------------------------------
# Documents

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for"]
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "et", "des", "une"],
}
MALFORMED = [
    '{"doc_id": 1, "text": "truncated mid-wri',
    "plain text, not a record",
]
DEDUP_THRESHOLD = 0.8
NEAR_DUP_MIN_J = 0.85  # planted near-dups stay clearly above the threshold
# Planted kinds of a shard's well-formed docs, in equal counts: a choice
# that exercises every path of the pipeline, not a measured corpus.
DOC_KINDS = ("unique", "stream_dup", "exact_dup", "gate_fail")
WARMUP_SHARDS = 2  # untimed micro-batches on throwaway sink state
VOCAB = 4000
ZIPF_S = 1.1


def tokens(text: str) -> list[str]:
    """``functions.text.tokens``: lower, non-alphanumerics to spaces,
    collapse, trim, split."""
    t = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
    return t.split(" ")


def passes_gate(text: str) -> tuple[bool, float]:
    """The pipeline gate (en, quality >= 0.5, >= 20 tokens) and the
    quality score, as ``functions.text`` defines them."""
    t = tokens(text)
    n = len(t)
    cnt = {lang: sum(w in m for w in t) for lang, m in LANG_MARKERS.items()}
    best = max(cnt.values())
    lang = "und" if best == 0 else next(
        lg for lg in ("en", "es", "de", "fr") if cnt[lg] == best
    )
    q = (0.3 * min(1.0, n / 100.0) + 0.4 * len(set(t)) / n
         + 0.3 * (1.0 - sum(w in STOPWORDS for w in t) / n))
    return lang == "en" and q >= 0.5 and n >= 20, q


def jaccard(a: str, b: str) -> float:
    x, y = set(tokens(a)), set(tokens(b))
    return len(x & y) / len(x | y)


@dataclass
class CurateWorkload:
    seed: int
    shards: list[list[str]]  # JSONL lines per micro-batch
    warmup_shards: list[list[str]]
    kind: dict[int, str]  # stream doc_id -> planted kind
    shard_of: dict[int, int]
    malformed_per_shard: list[int]


class _Docs:
    def __init__(self, rng):
        self.rng = rng
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.p = p / p.sum()
        self.vocab = np.array([f"w{i}" for i in range(VOCAB)])

    def _zipf(self, n):
        return list(self.vocab[self.rng.choice(len(self.vocab), n,
                                               p=self.p)])

    def make(self, doc_id, n_zipf=45, n_unique=15, markers=None):
        """A doc whose ``n_unique`` private tokens appear in no other
        family: any doc outside its family shares at most
        ``1 - n_unique/|distinct|`` of its token set (the proof that
        planted-unique docs stay below the dedup threshold)."""
        toks = self._zipf(n_zipf)
        toks += [f"u{doc_id}k{j}" for j in range(n_unique)]
        toks += list(LANG_MARKERS["en"] if markers is None else markers)
        order = self.rng.permutation(len(toks))
        return " ".join(toks[i] for i in order)

    def near_dup(self, text):
        """Replace two shared-vocabulary tokens; keeps Jaccard >=
        :data:`NEAR_DUP_MIN_J`."""
        toks = text.split(" ")
        shared = [i for i, t in enumerate(toks) if t.startswith("w")]
        while True:
            out = list(toks)
            for i in self.rng.choice(shared, 2, replace=False):
                out[i] = self._zipf(1)[0]
            cand = " ".join(out)
            if cand != text and jaccard(cand, text) >= NEAR_DUP_MIN_J:
                return cand


def _private_bound(text: str, doc_id: int) -> float:
    t = set(tokens(text))
    private = sum(w.startswith(f"u{doc_id}k") for w in t)
    return 1.0 - private / len(t)


def _line(doc_id, text):
    return json.dumps(
        {"doc_id": doc_id, "text": text, "lang": "en", "source": "bench",
         "n_chars": len(text)},
        sort_keys=True,
    )


def _stream(rng, docs, n_shards, per_shard, id0, kind, shard_of):
    if per_shard % len(DOC_KINDS):
        raise ValueError(f"per_shard must be a multiple of {len(DOC_KINDS)}")
    n_kind = per_shard // len(DOC_KINDS)
    uniques: list[tuple[int, str]] = []
    shards, malformed = [], []
    for s in range(n_shards):
        lines = []
        nid = id0 + s * 10_000
        for _ in range(n_kind):
            text = docs.make(nid)
            ok, q = passes_gate(text)
            if not ok or abs(q - 0.5) < 0.02:
                raise ValueError("generated unique doc fails the gate")
            if _private_bound(text, nid) >= DEDUP_THRESHOLD:
                raise ValueError("unique doc not provably distinct")
            uniques.append((nid, text))
            lines.append(_line(nid, text))
            kind[nid], shard_of[nid] = "unique", s
            nid += 1
        plan = ["stream_dup"] * n_kind + ["exact_dup"] * n_kind
        for k in plan:
            # a copy of an earlier unique (smaller id, same or earlier
            # shard), so the copy is the one dedup drops
            base = uniques[int(rng.integers(len(uniques)))][1]
            text = base if k == "exact_dup" else docs.near_dup(base)
            lines.append(_line(nid, text))
            kind[nid], shard_of[nid] = k, s
            nid += 1
        for j in range(n_kind):
            if j % 2:
                text = docs.make(nid, n_zipf=4, n_unique=4)  # < 20 tokens
            else:
                text = docs.make(nid, markers=LANG_MARKERS["es"] * 2)
            if passes_gate(text)[0]:
                raise ValueError("gate-failure doc passes the gate")
            lines.append(_line(nid, text))
            kind[nid], shard_of[nid] = "gate_fail", s
            nid += 1
        bad = MALFORMED[s % len(MALFORMED)]
        lines.insert(int(rng.integers(len(lines) + 1)), bad)
        malformed.append(1)
        shards.append(lines)
    return shards, malformed


def curate_workload(
    seed: int,
    n_shards: int,
    per_shard: int = 100,
) -> CurateWorkload:
    rng = np.random.default_rng([seed, 3])
    kind, shard_of = {}, {}
    shards, malformed = _stream(rng, _Docs(rng), n_shards, per_shard,
                                100_000, kind, shard_of)
    wrng = np.random.default_rng([seed, 4])
    warm, _ = _stream(wrng, _Docs(wrng), WARMUP_SHARDS, per_shard,
                      900_000, {}, {})
    return CurateWorkload(seed, shards, warm, kind, shard_of, malformed)


def planted_dups(w: CurateWorkload) -> set[int]:
    return {d for d, k in w.kind.items() if k.endswith("_dup")}


# --------------------------------------------------------------------


def digest(w) -> str:
    """sha256 over every generated input, in a fixed serialization."""
    h = hashlib.sha256()
    if isinstance(w, RequestWorkload):
        for b in w.setup_batches:
            h.update(b.to_csv(index=False).encode())
        h.update(w.vectors.tobytes())
        h.update(w.labels.tobytes())
        for r in w.requests + w.warmup:
            for k in sorted(r):
                v = r[k]
                if isinstance(v, pd.DataFrame):
                    v = v.to_csv(index=False)
                h.update(f"{k}={v};".encode())
    else:
        for s in w.shards + w.warmup_shards:
            h.update("\n".join(s).encode())
    return h.hexdigest()
