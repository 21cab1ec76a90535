"""Open-loop event generator for the event_stream live phase.

Runs as its own process. File ``i`` is due at ``start + (i + 1) * period``
and holds the events created during the period before it, so an event's
time is its creation wall time. The schedule never waits for the engine:
a slow engine sees a growing backlog, not a slower generator. Each file is
written under a hidden name and renamed into place, so the file source
never sees a partial file. On exit it writes the ground truth (late-event
ids, files written, how late the generator ran) as JSON.

    python3 perfbench/live_gen.py --out DIR --truth FILE --seed N --start EPOCH_S \\
        --files N --period S --per-file N --first-id N --late-after N
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    for name, typ in (("out", str), ("truth", str), ("seed", int), ("start", float),
                      ("files", int), ("period", float), ("per-file", int),
                      ("first-id", int), ("late-after", int)):
        p.add_argument(f"--{name}", type=typ, required=True)
    a = p.parse_args(argv)
    shape = gen.EventShape()
    period_us = int(a.period * 1e6)
    start_us = int(a.start * 1e6)
    late_ids: list[int] = []
    lag_ms: list[float] = []
    for i in range(a.files):
        due_us = start_us + (i + 1) * period_us
        # the file's content depends only on the seed, the file index and
        # its due time, so it can be built before it is due
        table, late = gen.event_batch(a.seed, 1_000_000 + i, a.per_file,
                                      a.first_id + i * a.per_file, due_us, period_us,
                                      shape, allow_late=i >= a.late_after)
        wait = due_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.out, f".live-{i:05d}.parquet")
        gen.write_table(table, tmp)
        os.replace(tmp, os.path.join(a.out, f"live-{i:05d}.parquet"))
        lag_ms.append((time.time() - due_us / 1e6) * 1e3)
        late_ids.extend(late.tolist())
    with open(a.truth, "w") as f:
        json.dump({"late_ids": late_ids, "files": a.files, "events": a.files * a.per_file,
                   "lag_ms_max": max(lag_ms, default=0.0)}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
