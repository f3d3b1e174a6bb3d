"""deposit_stream: the wallet topology (collector + detector + flagger) fed
by seeded deposit event files, in two phases per round.

* replay — a backlog of files is drained with the ``availableNow``
  trigger, the way a processor restarts and replays its topic;
* live — the topology restarts on the same checkpoints under a
  ``processingTime`` trigger while one generator thread lands files on a
  fixed schedule (open loop, 2,200 events/s, far below replay capacity).
  No ``check()`` runs concurrently: ``ServingTables.read()`` deletes the
  temporary directory of a merge in flight, which fails the collector.

A live file is visible once the micro-batch holding it has committed in
both queries; its visibility is that commit time minus the time the file
was due, so a late generator is charged to the system, not hidden.
"""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import threading
import time
from statistics import median

from harness import Bench
from inputs import deposit_round
from serving_probe import timed_sinks

N_BACKLOG, BACKLOG_ROWS = 20, 50_000
N_LIVE, LIVE_ROWS = 32, 550  # 2,200 events/s at 4 files/s
LIVE_INTERVAL_S = 0.25
LIVE_TRIGGER = {"processingTime": "1 second"}
QUERIES = ("collector", "detector_flagger")  # checkpoint names Topology uses
WAIT_S = 120.0
WARMUP_SIZES = (3, 200, 1, 50)


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the query batch that read it.  The file source
    numbers its own log (``sources/0``) apart from the query's batches:
    query batch N read the source entries up to the ``logOffset`` its
    ``offsets/N`` file records (no-data batches advance N only)."""
    log_offset: list[tuple[int, int]] = []
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as f:
                lines = f.read().splitlines()
            log_offset.append((json.loads(lines[2])["logOffset"], int(name)))
    log_offset.sort()
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    # the first query batch whose source offset covers the entry
                    batch = next((n for lo, n in log_offset if lo >= e["batchId"]), None)
                    if batch is not None:
                        out[os.path.basename(e["path"])] = batch
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    out: dict[int, float] = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def visible_times(topo_dir: str, names: list[str]) -> dict[str, float | None]:
    """Per file: wall time at which both queries had committed the batch
    holding it (None while either has not)."""
    per_query = []
    for q in QUERIES:
        ckpt = os.path.join(topo_dir, "checkpoints", q)
        batches, commits = _file_batches(ckpt), _commit_times(ckpt)
        per_query.append({n: commits.get(batches[n]) for n in names if n in batches})
    out: dict[str, float | None] = {}
    for n in names:
        ts = [pq.get(n) for pq in per_query]
        out[n] = None if any(t is None for t in ts) else max(ts)
    return out


def _raise_if_failed(topo) -> None:
    for q in topo.queries:
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"streaming query {q.id} failed: {exc}")


def _wait_visible(topo, topo_dir: str, names: list[str]) -> None:
    deadline = time.monotonic() + WAIT_S
    while True:
        _raise_if_failed(topo)
        if all(t is not None for t in visible_times(topo_dir, names).values()):
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"files not committed by both queries within {WAIT_S}s: {names}")
        time.sleep(0.1)


def _wait_started(topo) -> None:
    """Until every query has finished its first trigger after a restart:
    the open-loop schedule starts against a running topology, so query
    start-up is not charged to the first live files."""
    deadline = time.monotonic() + WAIT_S
    while any(q.lastProgress is None for q in topo.queries):
        _raise_if_failed(topo)
        if time.monotonic() > deadline:
            raise TimeoutError(f"queries did not start within {WAIT_S}s")
        time.sleep(0.05)


def _progress(topo) -> list[list[dict]]:
    return [[json.loads(p.json) for p in q.recentProgress] for q in topo.queries]


class _Generator(threading.Thread):
    """Lands staged files into the events directory on a fixed schedule."""

    def __init__(self, stage: str, events: str, names: list[str], first_due: float):
        super().__init__(name="deposit-generator", daemon=True)
        self.stage, self.events, self.names = stage, events, names
        self.due = [first_due + i * LIVE_INTERVAL_S for i in range(len(names))]
        self.landed: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for name, due in zip(self.names, self.due):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(os.path.join(self.stage, name), os.path.join(self.events, name))
                self.landed.append(time.time())
        except BaseException as e:  # reported by the main thread
            self.error = e


class DepositStream:
    def __init__(self, b: Bench):
        self.b = b
        self.replay_s: list[float] = []
        self.replay_deposits = 0
        self.visible_ms: list[float] = []
        self.late_ms: list[float] = []
        self.files_landed = 0
        self.rows_landed = 0
        self.progress: list[list[dict]] = [[] for _ in QUERIES]  # replay + live
        self.live_progress: list[list[dict]] = [[] for _ in QUERIES]
        self.merges: list[dict] = []
        self.mismatches: list[str] = []

    def _topology(self, events: str, topo_dir: str):
        from depositaja_spark.streaming.topology import Topology

        topo = Topology(self.b.spark, events, topo_dir)
        if self.b.trace:
            timed_sinks(self.b, topo.serving, self.merges)
        return topo

    def _prepare(self, r: int, sizes: tuple[int, int, int, int]):
        """Generate round ``r``: backlog files go to the events directory,
        live and flush files wait in the stage one."""
        b = self.b
        base = b.path(f"round{r}")
        events, stage, topo_dir = (os.path.join(base, d) for d in ("events", "stage", "topo"))
        for d in (events, stage):
            os.makedirs(d)
        with b.excluded():
            gen = deposit_round(b.seed, r, *sizes)
            for f in gen.files:
                f.write(os.path.join(events if f.kind == "backlog" else stage, f.name))
        return gen, events, stage, topo_dir

    def _replay(self, r: int, events: str, topo_dir: str) -> tuple[float, list[list[dict]]]:
        """Drain the backlog; returns the span from the first trigger's
        start to the last one's end over both queries (query start-up
        before the first trigger is left out) and the progress reports."""
        b = self.b
        with b.tracer.span("streaming.replay", trace=f"round{r}"):
            before = b.counters.snapshot()
            topo = self._topology(events, topo_dir)
            topo.start()
            topo.await_all(int(WAIT_S))
            _raise_if_failed(topo)
            if any(q.isActive for q in topo.queries):
                raise TimeoutError(f"replay did not drain within {WAIT_S}s")
            b.step_counters(f"round{r}.replay", before)
        progress = _progress(topo)
        starts, ends = [], []
        for p in (p for prog in progress for p in prog):
            t = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            starts.append(t)
            ends.append(t + p["durationMs"]["triggerExecution"] / 1000)
        return max(ends) - min(starts), progress

    def warmup(self) -> None:
        """One small replay: the streaming, state-store and sink code paths
        are loaded and compiled before anything is timed."""
        _, events, _, topo_dir = self._prepare(99, WARMUP_SIZES)
        self._replay(99, events, topo_dir)

    def round(self, r: int) -> None:
        b = self.b
        gen, events, stage, topo_dir = self._prepare(r, (N_BACKLOG, BACKLOG_ROWS, N_LIVE, LIVE_ROWS))
        live = [f.name for f in gen.files if f.kind == "live"]
        flush = [f.name for f in gen.files if f.kind == "flush"]
        replay_s, replay_progress = self._replay(r, events, topo_dir)
        self.replay_s.append(replay_s)

        with b.tracer.span("streaming.live", trace=f"round{r}"):
            before = b.counters.snapshot()
            topo = self._topology(events, topo_dir)
            topo.start(LIVE_TRIGGER)
            try:
                _wait_started(topo)
                g = _Generator(stage, events, live, time.time() + LIVE_INTERVAL_S)
                g.start()
                g.join(len(live) * LIVE_INTERVAL_S + WAIT_S)
                if g.is_alive() or g.error is not None:
                    raise RuntimeError(f"generator failed: {g.error or 'did not finish'}")
                with b.tracer.span("streaming.wait_visible"):
                    _wait_visible(topo, topo_dir, live)
                # the flush file's batch runs with the watermark the
                # closing file set, so every regular window is emitted
                os.rename(os.path.join(stage, flush[0]), os.path.join(events, flush[0]))
                with b.tracer.span("streaming.wait_flush"):
                    _wait_visible(topo, topo_dir, flush)
            finally:
                topo.stop()
            _raise_if_failed(topo)
            b.step_counters(f"round{r}.live", before)
        live_progress = _progress(topo)

        with b.tracer.span("verify", trace=f"round{r}"):
            self._verify(topo, gen, topo_dir, live + flush)
        seen = visible_times(topo_dir, live)
        self.visible_ms += [(seen[n] - due) * 1000 for n, due in zip(live, g.due)]
        self.late_ms += [(land - due) * 1000 for land, due in zip(g.landed, g.due)]
        self.replay_deposits += sum(f.deposits for f in gen.files if f.kind == "backlog")
        self.files_landed += len(gen.files)
        self.rows_landed += sum(f.rows for f in gen.files)
        for both, live_only, rp, lp in zip(self.progress, self.live_progress, replay_progress, live_progress):
            both += rp + lp
            live_only += lp

    def _verify(self, topo, gen, topo_dir: str, names: list[str]) -> None:
        if any(t is None for t in visible_times(topo_dir, names).values()):
            self.mismatches.append("a live file was not committed by both queries")
        bal = topo.serving.read("balance")
        got = {r["wallet_id"]: r["balance"] for r in bal.select("wallet_id", "balance").collect()}
        # sums of amounts in cents, added in another order than the
        # ledger's: they agree to rounding
        diff = {
            k
            for k in got.keys() | gen.balances.keys()
            if k not in got or k not in gen.balances or not math.isclose(got[k], gen.balances[k], rel_tol=1e-9, abs_tol=1e-6)
        }
        if diff:
            self.mismatches.append(f"balances differ for {len(diff)} wallets, e.g. {sorted(diff)[:3]}")
        if not math.isclose(sum(got.values()), gen.accepted_total, rel_tol=1e-9):
            self.mismatches.append(f"balance total {sum(got.values())} != accepted {gen.accepted_total}")
        flags = topo.serving.read("flags")
        got_f = {r["wallet_id"]: r["flagged"] for r in flags.select("wallet_id", "flagged").collect()}
        if got_f != gen.flags:
            diff = {k for k in got_f.keys() | gen.flags.keys() if got_f.get(k) != gen.flags.get(k)}
            self.mismatches.append(f"flags differ for {len(diff)} wallets, e.g. {sorted(diff)[:3]}")
        if not any(gen.flags.values()):
            self.mismatches.append("reference has no flagged wallet: planted crossings missing")

    def layer_metrics(self) -> dict:
        """The streaming and serving figures of the traced run."""
        m: dict[str, float] = {}
        for name, prog in zip(QUERIES, self.live_progress):
            ms = [p["durationMs"]["triggerExecution"] for p in prog if p["numInputRows"] > 0]
            if ms:
                m[f"{name.split('_')[0]}.batch_ms"] = median(ms)
        m["collector.rows_read_per_deposit"] = (
            sum(p["numInputRows"] for p in self.progress[0]) / self.rows_landed
        )
        det = [p for p in self.live_progress[1] if p.get("stateOperators")]
        if det:
            ops = det[-1]["stateOperators"][0]
            m["detector.state_rows"] = ops["numRowsTotal"]
            m["detector.state_bytes"] = ops["memoryUsedBytes"]
            m["detector.state_commit_ms"] = median([p["stateOperators"][0]["commitTimeMs"] for p in det])
        if self.merges:
            m["serving.merge_ms"] = median([x["ms"] for x in self.merges])
            m["serving.buckets_rewritten_per_merge"] = median([x["buckets"] for x in self.merges])
            m["serving.bytes_rewritten_per_merge"] = median([x["bytes"] for x in self.merges])
        m["generator.late_p50_ms"] = median(self.late_ms)
        m["generator.late_max_ms"] = max(self.late_ms)
        return m


def run(b: Bench) -> dict:
    b.start_spark()
    ds = DepositStream(b)
    with b.tracer.span("warmup"):
        ds.warmup()
    b.setup_done()
    ds.merges.clear()

    before = b.counters.snapshot()
    t0 = time.monotonic()
    r = 0
    while r == 0 or time.monotonic() - t0 < b.seconds:
        ds.round(r)
        r += 1
    engine = b.counters.delta(before, b.counters.snapshot())
    if b.trace:
        b.layer.update(ds.layer_metrics())
    return {
        "correct": not ds.mismatches,
        "mismatches": ds.mismatches,
        "attempted": ds.files_landed,
        "failed": 0,
        "engine": engine,
        "e2e": {
            "bulk_rate_per_s": ds.replay_deposits / sum(ds.replay_s),
            "op_p50_ms": median(ds.visible_ms),
        },
        "samples": {"rounds": r, "visible_ms": [round(v) for v in ds.visible_ms], "replay_s": ds.replay_s},
    }
