"""Seeded input generators for the three workloads.

Everything here is pure numpy/pandas: the same seed gives byte-identical
frames, request lists and tick batches on every platform (numpy's PCG64
stream is platform-independent).  The package under test only ever sees
what these functions return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPOCH = pd.Timestamp("2024-01-01")
N_USERS = 1500
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
# The 30-word vocabulary of the `documents` test table (TESTDATA.md).
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])

# tick_serve table: 60k ms-resolution events over 12 days, ~40 per user,
# so a tail request almost always returns its full count
SERVE_ROWS = 60_000
SERVE_DAYS = 12
# every range request spans this many days; a fixed span keeps the rows
# a cycle returns (and so rows_per_s) from swinging with the seed
SERVE_SPAN_DAYS = 2
# rows per tail request (`get count=-SERVE_TAIL`): fixed, because the tail
# dominates the rows a cycle returns and rows_per_s should not swing with it
SERVE_TAIL = 20
# The request mix, one cycle.  Composition is fixed so that every seed
# runs the same share of each request kind; the seed picks the order
# within a cycle, the keys and the windows.
SERVE_CYCLE = (
    "get_json", "get_json", "get_struct", "get_tail", "get_where", "gets",
    "psub",
)

# tick_ingest table and batches (TimeScale.SECOND: one row per key+second).
INGEST_BASE_ROWS = 12_000
INGEST_DAYS = 6
INGEST_BATCH_ROWS = 400
INGEST_LATE_SHARE = 0.20
INGEST_REWRITE_SHARE = 0.10

# prep_batch corpus.
PREP_DOCS = 2_000
PREP_EXACT_DUP_SHARE = 0.05
PREP_NEAR_DUP_SHARE = 0.05
PREP_NOISY_SHARE = 0.03


def _zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float = 1.1):
    """``size`` distinct ranks of 0..n-1 drawn with P(rank r) ~ 1/(r+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, replace=False, p=p / p.sum())


def events_frame(seed: int, rows: int, days: int, unit: str = "ms") -> pd.DataFrame:
    """``events``-shaped ticks: (event_id, ts, user_id, event_type, value,
    props), ts at ``unit`` resolution, unique per (user_id, ts), event_id
    increasing with ts."""
    rng = np.random.default_rng([seed, 1])
    step = {"ms": 1_000, "s": 1_000_000}[unit]
    span = days * 86_400_000_000 // step
    ts = rng.integers(0, span, rows) * step
    users = rng.integers(0, N_USERS, rows)
    frame = pd.DataFrame({"ts_us": ts, "user_id": users})
    frame = frame.drop_duplicates(["user_id", "ts_us"]).sort_values(
        ["ts_us", "user_id"], kind="stable"
    )
    n = len(frame)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": EPOCH + pd.to_timedelta(frame["ts_us"].to_numpy(), unit="us"),
        "user_id": frame["user_id"].to_numpy().astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.random(n) * 500.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _ts_str(day: int, seconds: int) -> str:
    return (EPOCH + pd.Timedelta(days=day, seconds=int(seconds))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def serve_requests(seed: int, days: int = SERVE_DAYS):
    """Endless stream of shuffled copies of SERVE_CYCLE with seeded
    parameters.

    Keys are Zipf over a seeded permutation of the users; range windows
    span SERVE_SPAN_DAYS and end on a day drawn geometrically back from
    the newest day (recent days are favoured)."""
    rng = np.random.default_rng([seed, 2])
    perm = rng.permutation(N_USERS)

    def keys(k: int) -> list[int]:
        return [int(perm[r]) for r in _zipf_ranks(rng, N_USERS, k)]

    def recent_day() -> int:
        return max(SERVE_SPAN_DAYS, days - int(rng.geometric(0.35)))

    while True:
        for kind in rng.permutation(np.array(SERVE_CYCLE)):
            day = recent_day()
            start = int(rng.integers(0, 12 * 3600))
            req = {"kind": str(kind), "key": keys(1)[0],
                   "start": _ts_str(day - SERVE_SPAN_DAYS, start),
                   "stop": _ts_str(day, start)}
            if kind == "get_tail":
                req = {"kind": "get_tail", "key": req["key"], "count": SERVE_TAIL}
            elif kind == "get_where":
                req["where"] = {
                    "event_type": {"in": sorted(set(
                        rng.choice(EVENT_TYPES, 2, replace=False).tolist()))},
                    "value": {"min": float(rng.integers(0, 250))},
                }
            elif kind == "gets":
                req = {"kind": "gets", "keys": sorted(keys(16))}
            elif kind == "psub":
                ks = sorted(keys(int(rng.integers(2, 4))))
                req = {"kind": "psub", "keys": ks, "start": _ts_str(day, 0),
                       "stop": _ts_str(day, 86_399)}
            yield req


class TickBatches:
    """Deterministic stream of tick batches against a base table.

    Batch ``i`` holds INGEST_BATCH_ROWS rows: live-edge appends past the
    newest tick so far, INGEST_LATE_SHARE late rows at random seconds of
    earlier days, and INGEST_REWRITE_SHARE same-second rewrites of rows
    already in the table (same user_id and ts, new values).  Within one
    batch no (user_id, ts) repeats, so the upsert outcome is fully
    determined.  Batches depend only on the seed and the batch index.
    """

    def __init__(self, seed: int, base: pd.DataFrame):
        self.rng = np.random.default_rng([seed, 3])
        self.keys = base[["user_id", "ts"]].copy()
        self.clock = base["ts"].max()
        self.next_id = int(base["event_id"].max()) + 1

    def next(self) -> pd.DataFrame:
        rng = self.rng
        n = INGEST_BATCH_ROWS
        n_late = int(n * INGEST_LATE_SHARE)
        n_rew = int(n * INGEST_REWRITE_SHARE)
        n_live = n - n_late - n_rew
        live_ts = self.clock + pd.to_timedelta(
            np.sort(rng.integers(1, 600, n_live)), unit="s")
        day0 = EPOCH.value // 1_000_000_000
        newest_day = (self.clock.value // 1_000_000_000 - day0) // 86_400
        late_days = rng.integers(0, max(1, newest_day), n_late)
        late_ts = EPOCH + pd.to_timedelta(
            late_days * 86_400 + rng.integers(0, 86_400, n_late), unit="s")
        pick = rng.choice(len(self.keys), n_rew, replace=False)
        rew = self.keys.iloc[pick]
        batch = pd.DataFrame({
            "ts": np.concatenate([live_ts.to_numpy(), late_ts.to_numpy(),
                                  rew["ts"].to_numpy()]),
            "user_id": np.concatenate([
                rng.integers(0, N_USERS, n_live + n_late),
                rew["user_id"].to_numpy(),
            ]).astype("int64"),
        }).drop_duplicates(["user_id", "ts"]).reset_index(drop=True)
        m = len(batch)
        batch.insert(0, "event_id",
                     np.arange(self.next_id, self.next_id + m, dtype="int64"))
        batch["event_type"] = rng.choice(EVENT_TYPES, m)
        batch["value"] = np.round(rng.random(m) * 500.0, 2)
        batch["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]
        self.next_id += m
        self.clock = max(self.clock, batch["ts"].max())
        self.keys = pd.concat(
            [self.keys, batch[["user_id", "ts"]]], ignore_index=True
        ).drop_duplicates(["user_id", "ts"], ignore_index=True)
        return batch


def corpus_frame(seed: int, docs: int = PREP_DOCS) -> pd.DataFrame:
    """``documents``-shaped corpus over the test-table vocabulary, with planted
    exact duplicates, near duplicates (one or two words swapped) and
    punctuation-heavy docs that the quality gate must drop."""
    rng = np.random.default_rng([seed, 4])
    lens = rng.integers(6, 40, docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    n_exact = int(docs * PREP_EXACT_DUP_SHARE)
    n_near = int(docs * PREP_NEAR_DUP_SHARE)
    n_noisy = int(docs * PREP_NOISY_SHARE)
    targets = rng.choice(np.arange(docs // 2, docs), n_exact + n_near + n_noisy,
                         replace=False)
    for i, t in enumerate(targets):
        src = texts[int(rng.integers(0, docs // 2))]
        if i < n_exact:
            texts[t] = src
        elif i < n_exact + n_near:
            words = src.split()
            for j in rng.choice(len(words), min(2, len(words)), replace=False):
                words[j] = str(rng.choice(VOCAB))
            texts[t] = " ".join(words)
        else:
            texts[t] = src.replace(" ", "! ", 20)
    return pd.DataFrame({
        "doc_id": np.arange(docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
