"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pandas: the package under test only
ever sees the frames these functions return. The shapes follow the
repository's sf0.1 synthetic tables (``events`` 100k rows over January
2024, ``orders`` 150k, ``customer`` 15k, ``embeddings`` 2k x 64, and a
``documents`` corpus), but the values are drawn from ``seed`` alone, so
a run needs no data outside the checkout.

Every generator takes a ``numpy.random.Generator``; :func:`rng` derives
one independent stream per (seed, purpose) so adding a draw in one
workload never shifts the inputs of another.
"""

from __future__ import annotations

import zlib
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd

JAN_2024 = pd.Timestamp("2024-01-01")
WINDOW_US = 30 * 24 * 3600 * 1_000_000  # the events' 30-day window
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
ORDER_STATUS = np.array(["O", "F", "P"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
LANGS = np.array(["en", "de", "fr", "es", "zh"])


def rng(seed: int, purpose: str) -> np.random.Generator:
    """Independent stream per (seed, purpose)."""
    return np.random.default_rng([int(seed), zlib.crc32(purpose.encode())])


def _ts(us: np.ndarray) -> pd.Series:
    return pd.Series(JAN_2024 + pd.to_timedelta(us, unit="us"))


def digest(frames: List[pd.DataFrame]) -> int:
    """Order-sensitive content hash of generated frames (self-check)."""
    h = 0
    for df in frames:
        cols = ",".join(map(str, df.columns)).encode()
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
        h = zlib.crc32(rows.tobytes(), zlib.crc32(cols, h))
    return h


# -- ingest_serve ------------------------------------------------------------

class IngestStream:
    """Daily micro-batches of fresh activity rows for two online groups.

    * keys come from a bounded Zipf(``zipf_s``) over a seeded
      permutation of ``key_space`` ids: rank ``r`` is drawn with
      probability proportional to ``r ** -zipf_s``. Writes and lookups
      use the same law, so hot keys are written and read most, and a
      share of lookups targets keys written in the last batch (the
      recency share, counted per run by :meth:`written_last_batch`);
    * the store starts from a backfill of ``history_days`` batches of
      history, so the cold tail of the key space is never written and
      lookups of it miss;
    * ``ts`` and ``event_id`` only increase, one microsecond / one id
      per row, so "latest per key" is the last row written for it;
    * :meth:`expected` is the generator's own model of what a served
      vector must hold: the latest value written per key.
    """

    def __init__(
        self,
        seed: int,
        key_space: int = 100_000,
        batch_rows: int = 3_333,
        zipf_s: float = 0.99,
        history_days: int = 30,
    ) -> None:
        self.r = rng(seed, "ingest_stream")
        self.key_space = key_space
        self.batch_rows = batch_rows
        self.zipf_s = zipf_s
        self.history_days = history_days
        self.perm = self.r.permutation(key_space).astype("int64")
        p = np.arange(1, key_space + 1, dtype="float64") ** -zipf_s
        self.p = p / p.sum()
        self.next_event_id = 0
        self.next_us = 0
        self.batches = 0
        # the model: latest written state per key (ts_us < 0: never written)
        self.ts_us = np.full(key_space, -1, dtype="int64")
        self.batch_no = np.full(key_space, -1, dtype="int64")
        self.value = np.zeros(key_space, dtype="float64")
        self.etype = np.zeros(key_space, dtype="int64")
        self.counts = np.zeros(key_space, dtype="int64")
        self.sums = np.zeros(key_space, dtype="float64")
        self.total = np.zeros(key_space, dtype="float64")

    def _keys(self, n: int) -> np.ndarray:
        return self.perm[self.r.choice(self.key_space, n, p=self.p)]

    def _rows(self, keys: np.ndarray) -> Tuple[pd.DataFrame, pd.DataFrame]:
        n = len(keys)
        eid = np.arange(self.next_event_id, self.next_event_id + n, dtype="int64")
        us = self.next_us + np.arange(n, dtype="int64")
        self.next_event_id += n
        self.next_us += n
        self.batches += 1
        value = np.round(self.r.gamma(2.0, 40.0, n), 2)
        etype = self.r.integers(0, 5, n)
        activity = pd.DataFrame({
            "user_id": keys.astype("int64"),
            "event_id": eid,
            "ts": _ts(us),
            "value": value,
            "event_type": EVENT_TYPES[etype],
        })
        # fancy assignment keeps the LAST write per repeated key, which
        # is also the newest (ts increases along the batch)
        self.ts_us[keys] = us
        self.batch_no[keys] = self.batches
        self.value[keys] = value
        self.etype[keys] = etype
        np.add.at(self.counts, keys, 1)
        np.add.at(self.sums, keys, value)
        # totals: one row per distinct key of the batch, carrying the
        # running count / sum after this batch (an upsert of aggregates)
        uk = np.unique(keys)
        self.total[uk] = np.round(self.sums[uk], 6)
        totals = pd.DataFrame({
            "uid": uk,
            "n_events": self.counts[uk],
            "total_value": self.total[uk],
        })
        return activity, totals

    def expected(self, key: int) -> Optional[Tuple]:
        """(ts, value, event_type, n_events, total_value) last written
        for ``key``, or None if it was never written."""
        if self.ts_us[key] < 0:
            return None
        return (
            JAN_2024 + pd.Timedelta(int(self.ts_us[key]), unit="us"),
            float(self.value[key]), str(EVENT_TYPES[self.etype[key]]),
            int(self.counts[key]), float(self.total[key]),
        )

    def written_last_batch(self, key: int) -> bool:
        return bool(self.batch_no[key] == self.batches)

    def initial(self) -> Tuple[pd.DataFrame, pd.DataFrame]:
        """The backfill the store starts from: the latest row per key of
        ``history_days`` batches of history, loaded at once."""
        act, tot = self._rows(self._keys(self.batch_rows * self.history_days))
        return act.drop_duplicates("user_id", keep="last"), tot

    def batch(self) -> Tuple[pd.DataFrame, pd.DataFrame]:
        return self._rows(self._keys(self.batch_rows))

    def request_keys(self, n: int) -> List[int]:
        """Lookup keys: the same law as the writes."""
        return [int(k) for k in self._keys(n)]


# -- train_read --------------------------------------------------------------

def events(r: np.random.Generator, n: int = 100_000, users: int = 1_500) -> pd.DataFrame:
    # odd microseconds: spine and event times never tie with order dates
    us = np.sort(r.choice(WINDOW_US // 2, n, replace=False)) * 2 + 1
    etype = r.integers(0, 5, n)
    value = np.round(r.gamma(2.0, 40.0, n), 2)
    label = (r.random(n) < 0.15 + 0.1 * (etype == 2)).astype("int32")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(us),
        "user_id": r.integers(0, users, n).astype("int64"),
        "event_type": EVENT_TYPES[etype],
        "value": value,
        "label": label,
    })


def orders(r: np.random.Generator, n: int = 150_000, customers: int = 15_000) -> pd.DataFrame:
    # even microseconds, all distinct: o_orderdate is remapped into the
    # events' window, so a spine row's as-of match depends on the seed
    us = r.choice(WINDOW_US // 2, n, replace=False) * 2
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": r.integers(0, customers, n).astype("int64"),
        "o_orderstatus": ORDER_STATUS[r.integers(0, 3, n)],
        "o_totalprice": np.round(r.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": _ts(us),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n)],
    })


def customers(r: np.random.Generator, n: int = 15_000) -> pd.DataFrame:
    return pd.DataFrame({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype("int32"),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, n)],
    })


def upsert_tail(
    r: np.random.Generator, base: pd.DataFrame, share: float, mutate,
) -> pd.DataFrame:
    """One upsert frame rewriting a seeded ``share`` of keys through
    ``mutate(frame, rng)``; one row per key."""
    idx = np.sort(r.choice(len(base), int(len(base) * share), replace=False))
    return mutate(base.iloc[idx].copy(), r)


def apply_upsert(base: pd.DataFrame, key: str, tail: pd.DataFrame) -> pd.DataFrame:
    """Latest-commit-wins model of a base + tail snapshot."""
    state = pd.concat([base, tail]).drop_duplicates(key, keep="last")
    return state.sort_values(key).reset_index(drop=True)


def spine(r: np.random.Generator, ev: pd.DataFrame, n: int) -> pd.DataFrame:
    """A fresh labelled spine: ``n`` seeded event rows re-timed to new
    odd-microsecond instants (distinct from every order date)."""
    rows = ev.iloc[np.sort(r.choice(len(ev), n, replace=False))].copy()
    us = r.choice(WINDOW_US // 2, n, replace=False) * 2 + 1
    rows["ts"] = _ts(us).to_numpy()
    rows["event_id"] = np.arange(n, dtype="int64") + 10_000_000
    return rows.reset_index(drop=True)


# -- corpus_curation ---------------------------------------------------------

def vocabulary(r: np.random.Generator, size: int = 3_000) -> np.ndarray:
    syll = np.array([a + b for a in "bcdfghklmnprstvz" for b in "aeiou"])
    words = set()
    while len(words) < size:
        k = r.integers(2, 5)
        words.add("".join(syll[r.integers(0, len(syll), k)]))
    return np.array(sorted(words))


def documents(
    r: np.random.Generator,
    n: int = 5_000,
    groups: int = 400,
    copies: Tuple[int, int] = (1, 3),
    edit_rate: Tuple[float, float] = (0.02, 0.10),
) -> Tuple[pd.DataFrame, List[List[int]]]:
    """A corpus of ``n`` documents of which ``groups`` planted
    near-duplicate groups: an original plus 1-3 copies, each copy with
    a seeded share of its tokens replaced, inserted or deleted. Returns
    the frame and the planted groups as lists of ``doc_id``.

    Unplanted documents draw from a 3k-word vocabulary, so unrelated
    texts share few character shingles; a share of them is shorter
    than the length gate. Planted members are always long enough to
    pass the gate, so every planted group is visible to dedup."""
    vocab = vocabulary(r)
    texts: List[str] = []
    planted: List[List[int]] = []

    def words(lo, hi):
        return list(vocab[r.integers(0, len(vocab), r.integers(lo, hi))])

    for _ in range(groups):
        orig = words(30, 70)
        members = [len(texts)]
        texts.append(" ".join(orig))
        for _c in range(r.integers(copies[0], copies[1] + 1)):
            rate = r.uniform(*edit_rate)
            toks = list(orig)
            for _e in range(max(1, int(len(toks) * rate))):
                op = r.integers(0, 3)
                pos = int(r.integers(0, len(toks)))
                if op == 0:
                    toks[pos] = vocab[r.integers(0, len(vocab))]
                elif op == 1:
                    toks.insert(pos, vocab[r.integers(0, len(vocab))])
                elif len(toks) > 30:
                    del toks[pos]
            members.append(len(texts))
            texts.append(" ".join(toks))
        planted.append(members)
    while len(texts) < n:
        texts.append(" ".join(words(5, 70)))
    order = r.permutation(len(texts))  # planted members scattered
    inv = np.empty_like(order)
    inv[order] = np.arange(len(order))
    df = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": [texts[i] for i in order],
        "lang": LANGS[r.integers(0, 5, len(texts))],
        "source": [f"src{i % 7}" for i in range(len(texts))],
    })
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df, [[int(inv[m]) for m in g] for g in planted]


def embeddings(
    r: np.random.Generator, n: int = 2_000, dim: int = 64, clusters: int = 10
) -> pd.DataFrame:
    centers = r.normal(0.0, 1.0, (clusters, dim))
    label = r.integers(0, clusters, n)
    v = centers[label] + r.normal(0.0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": [row.astype("float64").tolist() for row in v],
        "label": label.astype("int32"),
    })
