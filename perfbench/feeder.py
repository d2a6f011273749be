"""Open-loop event generator: one process, one parquet file per interval.

Runs on its own schedule and never waits for the system under test: file
``i`` is due at ``start + i * interval``.  Each file is written under a
hidden name and renamed into place, so the stream source never sees a
partial file.  Events are stamped with their creation time; the log records
when each file was due and how late it was written.

    python3 perfbench/feeder.py --out DIR --log LOG --seed N --files N --start EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402


def feed(out: str, seed: int, files: int, start: float) -> list[dict]:
    per_file, interval = datagen.ONLINE_EVENTS_PER_FILE, datagen.ONLINE_INTERVAL_S
    events = datagen.online_events(seed, files * per_file)
    log = []
    for i in range(files):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        created = time.time()
        batch = events.slice(i * per_file, (i + 1) * per_file)
        name = f"ev-{i:06d}.parquet"
        tmp = os.path.join(out, f".{name}.tmp")
        pq.write_table(batch.to_table(int(created * 1e6)), tmp)
        os.rename(tmp, os.path.join(out, name))
        log.append({"file": name, "due": due, "created": created,
                    "written": time.time(), "first_event": i * per_file})
    return log


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--start", type=float, required=True,
                    help="epoch seconds at which file 0 is due")
    a = ap.parse_args(argv)
    log = feed(a.out, a.seed, a.files, a.start)
    with open(a.log, "w") as f:
        json.dump(log, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
