"""Open-loop event generator for the stream_capstone workload.

Runs as its own single-threaded process. It writes `count` CSV files of
`event_id,ts_us,user_id,event_type,value` lines, starting at file index
`first`, or fewer if stopped with SIGTERM (it then ends after the file in
hand). With `--interval-ms` > 0 file k is due `(k - first) * interval`
after start and is written then, whatever the engine is doing (open loop);
with 0 every file is due at start (a burst, for the backlog). Each file is
written under a staging name and renamed into the watched directory, and
one JSON line per file goes to the log: its due and write times, event and
late counts, and phase.

Event time is synthetic: file k covers [EPOCH0 + k * STEP_MS, +STEP_MS); on
the steady schedule (one file per STEP_MS) it advances at wall-clock speed.
Input is seeded so the expected output does not depend on where
micro-batch boundaries fall:
  - each user's events are strictly increasing in time, so the
    sessionizing query sees every user's events in order;
  - out-of-order events lag their slot by at most 5 s, well inside the
    counts query's 10 s watermark delay, so none is dropped;
  - late events lag by 10 minutes, far beyond the watermark, and each
    has a user of its own, so each is exactly one dropped aggregate row.
Late events are only written when `--late-share` > 0; run.py keeps them out
of the warm-up, before the watermark has settled.

Usage: python3 streamgen.py --dir IN --stage STAGE --log LOG --seed S
           --first K --count N --events E [--interval-ms I] [--late-share L]
           [--phase NAME]
"""
import argparse
import json
import os
import random
import signal
import time

EPOCH0_MS = 1704067200000  # 2024-01-01T00:00:00Z
STEP_MS = 80               # event time covered by one file
USERS = 100_000
LATE_USER_BASE = 10_000_000
LATE_LAG_MS = 600_000
MAX_DISORDER_MS = 5_000
OOO_SHARE = 0.2
TYPES = ["view", "click", "purchase", "signup", "error"]
IDS_PER_FILE = 1_000_000

# Files to skip between invocations so that no out-of-order event of a
# later invocation can precede an earlier event of the same user.
GAP_FILES = MAX_DISORDER_MS // STEP_MS + 10


def file_lines(seed, k, events, late_share, last_ts):
    """Lines of file k, and how many of its events are late."""
    rng = random.Random(f"{seed}:{k}")
    lines, late = [], 0
    for j in range(events):
        eid = k * IDS_PER_FILE + j
        nominal = EPOCH0_MS + k * STEP_MS + (j * STEP_MS) // events
        if late_share and rng.random() < late_share:
            user, ts = LATE_USER_BASE + eid, nominal - LATE_LAG_MS
            late += 1
        else:
            user = rng.randrange(USERS)
            ts = nominal - rng.randint(1, MAX_DISORDER_MS) if rng.random() < OOO_SHARE else nominal
            ts = max(ts, last_ts.get(user, 0) + 1)
            last_ts[user] = ts
        lines.append(f"{eid},{ts * 1000},{user},{rng.choice(TYPES)},{rng.randint(0, 10000) / 100}\n")
    return lines, late


def main():
    ap = argparse.ArgumentParser()
    for a in ("--dir", "--stage", "--log", "--phase"):
        ap.add_argument(a, default="")
    for a in ("--seed", "--first", "--count", "--events", "--interval-ms"):
        ap.add_argument(a, type=int, default=0)
    ap.add_argument("--late-share", type=float, default=0.0)
    o = ap.parse_args()
    os.makedirs(o.dir, exist_ok=True)
    os.makedirs(o.stage, exist_ok=True)
    last_ts = {}
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    start = time.time() * 1000.0
    with open(o.log, "a") as log:
        for i in range(o.count):
            if stop:
                break
            k = o.first + i
            lines, late = file_lines(o.seed, k, o.events, o.late_share, last_ts)
            due = start + i * o.interval_ms
            wait = due / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"ev-{k:07d}.csv"
            staged = os.path.join(o.stage, name)
            with open(staged, "w") as f:
                f.writelines(lines)
            os.rename(staged, os.path.join(o.dir, name))
            log.write(json.dumps({
                "k": k, "file": name, "phase": o.phase,
                "due_ms": due, "written_ms": time.time() * 1000.0,
                "events": len(lines), "late": late}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
