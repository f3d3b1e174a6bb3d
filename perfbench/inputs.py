"""Seeded input generators and the reference results computed from them.

The program under test receives only the files and DataFrames made here;
every expected answer is computed here, apart from the program.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- deposit stream -----------------------------------------------------------

#: 2024-01-01T00:00:00Z, a multiple of the window length, so that windows
#: are epoch-aligned and file k lies inside window k // 2
T0_S = 1_704_067_200
WINDOW_S = 120
FILE_SPAN_S = 60
WATERMARK_S = 600
THRESHOLD = 10_000.0
#: event time of the last live file, this far past the regular files: once
#: it is committed the watermark closes every regular window, and its own
#: window stays open, so the set of closed windows is unambiguous
CLOSING_GAP_S = 1800
PLANTED_PER_ROUND = 20
PLANTED_ID0 = 10_000_000
#: zero or negative deposits planted per round, so that the rejection
#: path is exercised (the events table has 1 zero in 20,084 purchases)
REJECTED_PER_ROUND = 10

# Traffic shaped like the repo's ``events`` test table (sf0.1: 100,000
# rows, 1,500 users; measured values in perfbench/README.md):
#: five event types, 19.8-20.3% each; ``purchase`` is the deposit
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
#: ``value`` is exponential (mean 49.5, median 34.9, p90 113, in cents)
AMOUNT_MEAN = 50.0
#: ``user_id`` is uniform over the table's users (top tenth of users hold
#: 12.3% of events, as a uniform draw gives)
N_WALLETS = 1_500
#: users per purchase in the table: the share of deposits that go to a
#: wallet not seen before, so a wallet gets 13.4 deposits on average
NEW_WALLET_SHARE = 1_500 / 20_084


def amounts(rng, n: int) -> np.ndarray:
    return np.round(rng.exponential(AMOUNT_MEAN, n), 2)


PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])


@dataclass
class EventFile:
    name: str
    kind: str  # "backlog", "live" or "flush"
    cols: dict

    @property
    def rows(self) -> int:
        return len(self.cols["event_id"])

    @property
    def deposits(self) -> int:
        return int(np.count_nonzero(self.cols["event_type"] == "purchase"))

    def write(self, path: str) -> None:
        c = self.cols
        table = pa.table(
            {
                "event_id": pa.array(c["event_id"], pa.int64()),
                "ts": pa.array(c["ts_us"], pa.timestamp("us")),
                "user_id": pa.array(c["user_id"], pa.int64()),
                "event_type": pa.array(c["event_type"], pa.string()),
                "value": pa.array(c["value"], pa.float64()),
                "props": pa.array(PROPS[c["k"]], pa.string()),
            }
        )
        pq.write_table(table, path)


@dataclass
class DepositRound:
    files: list[EventFile]
    balances: dict[str, float] = field(default_factory=dict)
    flags: dict[str, bool] = field(default_factory=dict)
    accepted_total: float = 0.0


def _event_cols(rng, first_id, ts_lo_s, n, wallets) -> dict:
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": ts_lo_s * 1_000_000 + rng.integers(0, FILE_SPAN_S * 1_000_000, n),
        "user_id": wallets.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": amounts(rng, n),
        "k": rng.integers(0, 100, n),
    }


def _deposits(rng, first_id, ts_lo_s, wallet, values) -> dict:
    n = len(values)
    cols = _event_cols(rng, first_id, ts_lo_s, n, np.full(n, wallet))
    cols["event_type"] = np.full(n, "purchase")
    cols["value"] = np.asarray(values, np.float64)
    return cols


def _append(cols: dict, extra: dict) -> None:
    for k in cols:
        cols[k] = np.concatenate([cols[k], extra[k]])


def deposit_round(
    seed: int,
    round_no: int,
    n_backlog: int,
    backlog_rows: int,
    n_live: int,
    live_rows: int,
) -> DepositRound:
    """One round of event files: ``n_backlog`` backlog files, ``n_live``
    live files (the last one is the closing file) and one flush file.

    Regular events follow the ``events`` table (see the constants above).
    Each round plants wallets that cross the threshold inside one window,
    half of which later get a small deposit in a later window (so the last
    closed window unflags them), and a few zero or negative deposits."""
    rng = np.random.default_rng([seed, round_no, 17])

    n_regular = n_backlog + n_live - 1
    files: list[EventFile] = []
    next_id = round_no * 10_000_000
    for k in range(n_backlog + n_live):
        kind = "backlog" if k < n_backlog else "live"
        rows = backlog_rows if kind == "backlog" else live_rows
        ts_lo = T0_S + FILE_SPAN_S * k
        if k == n_regular:
            ts_lo = T0_S + FILE_SPAN_S * n_regular + CLOSING_GAP_S
        cols = _event_cols(rng, next_id, ts_lo, rows, rng.integers(0, N_WALLETS, rows))
        next_id += rows
        files.append(EventFile(f"r{round_no:02d}-{k:04d}.parquet", kind, cols))

    for j in range(PLANTED_PER_ROUND):
        wallet = PLANTED_ID0 + round_no * 1000 + j
        f = int(rng.integers(0, n_regular - 2))
        plants = [(f, rng.integers(3400, 4001, 3).astype(np.float64))]
        if j % 2:
            plants.append((int(rng.integers(f + 2, n_regular)), np.array([float(rng.integers(10, 101))])))
        for fi, values in plants:
            _append(files[fi].cols, _deposits(rng, next_id, T0_S + FILE_SPAN_S * fi, wallet, values))
            next_id += len(values)
    for j in range(REJECTED_PER_ROUND):
        fi = int(rng.integers(0, n_regular))
        value = -float(rng.integers(0, 51))  # 0.0 or negative
        _append(files[fi].cols, _deposits(rng, next_id, T0_S + FILE_SPAN_S * fi, int(rng.integers(N_WALLETS)), [value]))
        next_id += 1

    close_s = T0_S + FILE_SPAN_S * n_regular + CLOSING_GAP_S
    flush = _event_cols(rng, next_id, close_s, 5, rng.integers(0, N_WALLETS, 5))
    flush["ts_us"] = np.full(5, close_s * 1_000_000)
    flush["event_type"] = np.full(5, "purchase")
    files.append(EventFile(f"r{round_no:02d}-flush.parquet", "flush", flush))
    return _deposit_reference(files, close_s)


def _deposit_reference(files: list[EventFile], close_s: int) -> DepositRound:
    """Balances from the ledger of accepted deposits, and flags from
    epoch-aligned 120 s tumbling windows closed by the 10-minute
    watermark, the last closed window of each wallet deciding."""
    cols = {k: np.concatenate([f.cols[k] for f in files]) for k in files[0].cols}
    ok = (cols["event_type"] == "purchase") & (cols["value"] > 0)
    wallet = cols["user_id"][ok]
    amount = cols["value"][ok]
    win = cols["ts_us"][ok] // (WINDOW_S * 1_000_000) * WINDOW_S
    out = DepositRound(files)
    ids, inv = np.unique(wallet, return_inverse=True)
    out.balances = dict(zip(ids.astype(str).tolist(), np.bincount(inv, weights=amount).tolist()))
    out.accepted_total = float(amount.sum())
    closed = win + WINDOW_S <= close_s - WATERMARK_S
    # per (wallet, window) sums of the closed windows, then per wallet the last window
    keys, kinv = np.unique(np.stack([wallet[closed], win[closed]], axis=1), axis=0, return_inverse=True)
    sums = np.bincount(kinv.ravel(), weights=amount[closed])
    last = np.r_[keys[1:, 0] != keys[:-1, 0], True]  # rows sort by wallet, then window
    out.flags = dict(zip(keys[last, 0].astype(str).tolist(), (sums[last] >= THRESHOLD).tolist()))
    return out


# --- wallet check -------------------------------------------------------------


class WalletLedger:
    """Seeded deposit/flag batches for the serving tables and the running
    ledger every ``check()`` answer is compared with."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 29])
        self.balance: dict[str, float] = {}
        self.flag: dict[str, tuple[int, bool]] = {}  # wallet -> (seq, flagged)
        self.wallets: list[str] = []
        self.seq = 0
        self.next_wallet = 0
        self.unseen = 0
        self.seed = seed

    def _new_wallet(self) -> str:
        self.next_wallet += 1
        w = f"w{self.next_wallet}"
        self.wallets.append(w)
        return w

    def batch(self, n_deposits: int, n_flags: int):
        """One upsert: deposit rows (wallet_id, amount, ts, seq) and flag
        rows (wallet_id, flag_removed, rolling_period_start_unix, seq);
        the ledger is advanced as if both were applied.  Amounts and the
        share of new wallets follow the ``events`` table; the table has
        no flags (no wallet's 120 s purchase sum exceeds 476), so half of
        the flag events raise a flag and half remove one."""
        ts = datetime.datetime(2024, 1, 1)
        deposits = []
        for amount in amounts(self.rng, n_deposits).tolist():
            if not self.wallets or self.rng.random() < NEW_WALLET_SHARE:
                w = self._new_wallet()
            else:
                w = self.wallets[int(self.rng.integers(len(self.wallets)))]
            self.seq += 1
            deposits.append((w, amount, ts, self.seq))
            self.balance[w] = self.balance.get(w, 0.0) + amount
        flags = []
        for _ in range(n_flags):
            w = self.wallets[int(self.rng.integers(len(self.wallets)))]
            removed = bool(self.rng.random() < 0.5)
            self.seq += 1
            start = 0 if removed else T0_S + WINDOW_S * int(self.rng.integers(0, 1000))
            flags.append((w, removed, start, self.seq))
            self.flag[w] = (self.seq, not removed)
        return deposits, flags

    def pick(self, kind: str, written: list[str]) -> str:
        if kind == "written":
            return written[int(self.rng.integers(len(written)))]
        if kind == "existing":
            return self.wallets[int(self.rng.integers(len(self.wallets)))]
        self.unseen += 1
        return f"unseen-{self.seed}-{self.unseen}"

    def expected(self, wallet: str) -> tuple[float, bool]:
        return self.balance.get(wallet, 0.0), self.flag.get(wallet, (0, False))[1]


# --- corpus -------------------------------------------------------------------

#: the vocabulary of the ``documents`` test table: lower-case engine words,
#: single-spaced (the language gate finds English by "the" and "a")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


@dataclass
class Corpus:
    docs_path: str
    emb_path: str
    texts: list[str]
    exact_dups: list[int]  # ids of planted exact copies of an earlier document
    vectors: np.ndarray


def corpus(seed: int, n_docs: int, n_vecs: int, docs_path: str, emb_path: str, dim: int = 64) -> Corpus:
    """Documents shaped like the ``documents`` test table (sf0.1, 5,000
    rows): 10-100 tokens drawn uniformly from its 30-word vocabulary
    (so 11% fall under the 20-token quality gate), 5% near duplicates (a
    copy of another document with the token "dup" appended, as the table
    has them) and 0.16% exact copies of an earlier document; and an
    ``embeddings`` table of unit-norm 64-d vectors like the test table's,
    2% of them planted near duplicates (a noisy copy of an earlier vector,
    cosine ≈ 0.999) since the test table has no pair above 0.95."""
    rng = np.random.default_rng([seed, 41])
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]) for _ in range(n_docs)]
    n_near, n_exact = round(0.05 * n_docs), max(1, round(0.0016 * n_docs))
    picked = rng.choice(np.arange(1, n_docs), size=n_near + n_exact, replace=False)
    copies = set(picked.tolist())
    originals = [i for i in range(n_docs) if i not in copies]
    for i in picked[:n_near].tolist():
        texts[i] = texts[originals[int(rng.integers(len(originals)))]] + " dup"
    exact = sorted(picked[n_near:].tolist())
    for i in exact:
        earlier = [o for o in originals if o < i]
        texts[i] = texts[earlier[int(rng.integers(len(earlier)))]]
    langs = rng.choice(np.array(["en", "zh", "es", "fr", "de"]), size=n_docs, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        docs_path,
    )

    vecs = rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for i in range(1, n_vecs):
        if rng.random() < 0.02:
            src = int(rng.integers(i))
            v = vecs[src] + rng.normal(scale=0.05 / np.sqrt(dim), size=dim)
            vecs[i] = v / np.linalg.norm(v)
    vecs = vecs.astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
                    pa.list_(pa.float32())
                ),
                "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
            }
        ),
        emb_path,
    )
    return Corpus(docs_path, emb_path, texts, exact, vecs)


def near_dup_reference(vecs: np.ndarray, threshold: float = 0.95, block: int = 2048) -> set[tuple[int, int]]:
    """Pairs (a < b) with cosine ≥ threshold, by blocked brute force in
    float64 (cosines rounded to 6 places, as the program rounds them)."""
    x = vecs.astype(np.float64)
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    out: set[tuple[int, int]] = set()
    for lo in range(0, len(u), block):
        c = np.round(u[lo : lo + block] @ u.T, 6)
        ai, bi = np.nonzero(c >= threshold)
        ai = ai + lo
        keep = ai < bi
        out.update(zip(ai[keep].tolist(), bi[keep].tolist()))
    return out


def clean_corpus_reference(docs_path: str) -> set[tuple[int, str, int]]:
    """Kept (doc_id, predicted_lang, n_tokens) rows from DuckDB running the registry's ``clean_corpus``
    SQL over the generated table.  Non-recursive CTEs are marked
    MATERIALIZED: DuckDB otherwise re-evaluates the pair CTEs on every
    step of the recursive closure (minutes instead of seconds); the
    marking changes evaluation only, not the result."""
    import re

    import duckdb

    from depositaja_spark.registry import ORACLES

    sql = re.sub(r"^(\w+) AS \(", r"\1 AS MATERIALIZED (", ORACLES["clean_corpus"], flags=re.M)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet(?)", [docs_path])
        return {(int(d), lang, int(n)) for d, lang, n in con.execute(sql).fetchall()}
    finally:
        con.close()
