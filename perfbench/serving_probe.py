"""Measurements around the serving tables (traced runs only): time inside
the foreachBatch sink callables, and the bucket directories each merge
rewrote, read from the per-bucket ``_epoch`` markers on disk."""

from __future__ import annotations

import glob
import os
import time


def table_epochs(root: str, table: str) -> dict[str, str]:
    """Bucket directory -> content of its ``_epoch`` marker."""
    out = {}
    for marker in glob.glob(os.path.join(root, table, "bkt=*", "_epoch")):
        with open(marker) as f:
            out[os.path.dirname(marker)] = f.read()
    return out


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def timed_sinks(bench, serving, merges: list[dict]) -> None:
    """Replace ``serving.balance_sink``/``flags_sink`` on this instance by
    factories whose sinks record one entry per merge in ``merges``:
    table, epoch, ms inside the program's sink, buckets rewritten (their
    ``_epoch`` changed) and the bytes of those buckets."""
    for attr, table in (("balance_sink", "balance"), ("flags_sink", "flags")):
        factory = getattr(serving, attr)

        def timed_factory(factory=factory, table=table):
            sink = factory()

            def timed(batch, epoch_id):
                before = table_epochs(serving.root, table)
                with bench.tracer.span("serving.merge", trace=f"{table}-{epoch_id}"):
                    t = time.perf_counter()
                    sink(batch, epoch_id)
                    ms = (time.perf_counter() - t) * 1000
                after = table_epochs(serving.root, table)
                changed = [d for d, e in after.items() if before.get(d) != e]
                merges.append(
                    {
                        "table": table,
                        "epoch": epoch_id,
                        "ms": ms,
                        "buckets": len(changed),
                        "bytes": sum(_dir_bytes(d) for d in changed),
                    }
                )

            return timed

        setattr(serving, attr, timed_factory)
