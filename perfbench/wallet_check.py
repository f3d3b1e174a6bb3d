"""wallet_check: the serving read path.  Serving tables are built through
the public ``balance_sink()``/``flags_sink()``; then one client runs a
closed loop in one thread.  Each step is one upsert (a deposit batch plus
flag events through the two sinks) followed by ``check()`` calls on
wallets it just wrote, random existing wallets and never-seen wallets.
Writes alternate with reads, so a read-side cache pays for its
invalidation, and a gain for reads that costs writes shows.  The
streaming engine is not involved.
"""

from __future__ import annotations

import math
import os
import time
from statistics import median

from harness import Bench
from inputs import WalletLedger
from serving_probe import timed_sinks

#: the initial state has as many deposits as the sf0.1 ``events`` table
#: has purchases, spread over ~1,500 wallets as there
INITIAL_DEPOSITS, INITIAL_FLAGS = 20_000, 100
STEP_DEPOSITS, STEP_FLAGS = 1_000, 100
CHECKS_PER_KIND = 3
WARMUP_STEPS = 1
#: a step takes about 5 s: with a bare time limit a slow run stopped after
#: two steps and a fast one after three (see corpus_curate.MIN_ROUNDS)
MIN_STEPS = 3
KINDS = ("written", "existing", "unseen")


class WalletCheck:
    def __init__(self, b: Bench):
        from depositaja_spark.schemas import DEPOSIT, FLAG_EVENT
        from depositaja_spark.streaming.serving import ServingTables

        self.b = b
        self.schemas = (DEPOSIT, FLAG_EVENT)
        self.ledger = WalletLedger(b.seed)
        self.serving = ServingTables(b.spark, b.path("serving"))
        self.merges: list[dict] = []
        self.reads_ms: list[float] = []
        self.jobs_per_check: list[int] = []
        if b.trace:
            timed_sinks(b, self.serving, self.merges)
            self._time_reads()
        self.balance_sink = self.serving.balance_sink()
        self.flags_sink = self.serving.flags_sink()
        self.epoch = 0
        self.upsert_ms: list[float] = []
        self.check_ms: list[float] = []
        self.checks = 0
        self.mismatches: list[str] = []
        self._in_check = False

    def _time_reads(self) -> None:
        read = self.serving.read

        def timed(name):
            t = time.perf_counter()
            out = read(name)
            if self._in_check:
                self.reads_ms.append((time.perf_counter() - t) * 1000)
            return out

        self.serving.read = timed

    def upsert(self, n_deposits: int, n_flags: int) -> tuple[float, list[str]]:
        deposits, flags = self.ledger.batch(n_deposits, n_flags)
        spark = self.b.spark
        dep_df = spark.createDataFrame(deposits, self.schemas[0])
        flag_df = spark.createDataFrame(flags, self.schemas[1])
        self.epoch += 1
        with self.b.tracer.span("serving.upsert", trace=f"epoch{self.epoch}"):
            t = time.perf_counter()
            self.balance_sink(dep_df, self.epoch)
            self.flags_sink(flag_df, self.epoch)
            ms = (time.perf_counter() - t) * 1000
        return ms, [d[0] for d in deposits] + [f[0] for f in flags]

    def check(self, wallet: str) -> float:
        sc = self.b.spark.sparkContext
        if self.b.trace:
            self.checks += 1
            group = f"check-{self.checks}"
            sc.setJobGroup(group, "perfbench check")
        self._in_check = True
        with self.b.tracer.span("serving.check"):
            t = time.perf_counter()
            got = self.serving.check(wallet)
            ms = (time.perf_counter() - t) * 1000
        self._in_check = False
        if self.b.trace:
            sc.setJobGroup("perfbench", "perfbench")
            self.jobs_per_check.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        want = self.ledger.expected(wallet)
        # balances are sums of amounts in cents, added in another order
        # than the ledger's, so they agree to rounding
        if (
            not math.isclose(got["balance"], want[0], rel_tol=1e-9, abs_tol=1e-6)
            or got["above_threshold"] != want[1]
            or got["wallet_id"] != wallet
        ):
            self.mismatches.append(f"check({wallet}) = {got}, ledger says {want}")
        return ms

    def step(self, measured: bool) -> None:
        b = self.b
        before = b.counters.snapshot() if b.trace else None
        ms, written = self.upsert(STEP_DEPOSITS, STEP_FLAGS)
        if b.trace:
            b.step_counters(f"epoch{self.epoch}.upsert", before)
            before = b.counters.snapshot()
        check_ms = [
            self.check(self.ledger.pick(kind, written))
            for _ in range(CHECKS_PER_KIND)
            for kind in KINDS
        ]
        if b.trace:
            b.step_counters(f"epoch{self.epoch}.checks", before)
        if measured:
            self.upsert_ms.append(ms)
            self.check_ms += check_ms


def _table_files(root: str) -> int:
    return sum(len([f for f in files if f.endswith(".parquet")]) for _, _, files in os.walk(root))


def run(b: Bench) -> dict:
    b.start_spark()
    with b.tracer.span("initial_state"):
        wc = WalletCheck(b)
        wc.upsert(INITIAL_DEPOSITS, INITIAL_FLAGS)
    # upserts and checks speed up over the first steps (the JVM compiling
    # the merge and lookup paths; by a third over six steps): one full
    # step is the warm-up a run's time allows, and every run gets the same
    with b.tracer.span("warmup"):
        for _ in range(WARMUP_STEPS):
            wc.step(measured=False)
    b.setup_done()
    for samples in (wc.merges, wc.reads_ms, wc.jobs_per_check):
        samples.clear()

    before = b.counters.snapshot()
    t0 = time.monotonic()
    steps = 0
    while steps < MIN_STEPS or time.monotonic() - t0 < b.seconds:
        wc.step(measured=True)
        steps += 1
    engine = b.counters.delta(before, b.counters.snapshot())
    if b.trace:
        b.layer.update(
            {
                "serving.read_ms": median(wc.reads_ms),
                "serving.spark_jobs_per_check": median(wc.jobs_per_check),
                "serving.table_files": _table_files(b.path("serving")),
                "serving.merge_ms": median([m["ms"] for m in wc.merges]),
                "serving.buckets_rewritten_per_merge": median([m["buckets"] for m in wc.merges]),
                "serving.bytes_rewritten_per_merge": median([m["bytes"] for m in wc.merges]),
            }
        )
    return {
        "correct": not wc.mismatches,
        "mismatches": wc.mismatches,
        "attempted": len(wc.upsert_ms) + len(wc.check_ms),
        "failed": 0,
        "engine": engine,
        "e2e": {
            "bulk_rate_per_s": (STEP_DEPOSITS + STEP_FLAGS) / (median(wc.upsert_ms) / 1000),
            "op_p50_ms": median(wc.check_ms),
        },
        "samples": {"steps": steps, "upsert_ms": wc.upsert_ms, "check_ms": wc.check_ms},
    }
