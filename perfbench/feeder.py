"""Open-loop feeder: releases pre-generated files into a watched directory
on a fixed schedule, whatever the consumer is doing.

File ``k`` (in name order) is due at ``start + k * interval``. The feeder is
single-threaded: it sleeps until each due time, stamps the file's
modification time, renames it from the staging directory into the watched
directory (an atomic step on one filesystem) and records the due and actual
release times. A stalled consumer never slows the schedule, so latency
measured from the due time includes the wait a stall imposes on later files.

Run as a separate process:

    python3 perfbench/feeder.py --src STAGING --dst WATCHED \
        --start EPOCH_S --interval S --log LOG.json
"""
from __future__ import annotations

import argparse
import json
import os
import time


def schedule(start: float, n: int, interval: float) -> list[float]:
    """Due time of each of ``n`` files."""
    return [start + k * interval for k in range(n)]


def release(src: str, dst: str, start: float, interval: float,
            clock=time.time, sleep=time.sleep) -> list[dict]:
    """Release every file of ``src`` into ``dst`` on schedule; returns one
    ``{"file", "due", "actual"}`` record per file."""
    names = sorted(n for n in os.listdir(src) if not n.startswith("."))
    log = []
    for name, due in zip(names, schedule(start, len(names), interval)):
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        now = clock()
        os.utime(os.path.join(src, name), (now, now))
        os.replace(os.path.join(src, name), os.path.join(dst, name))
        log.append({"file": name, "due": due, "actual": clock()})
    return log


def lag_ms(log: list[dict]) -> list[float]:
    """How late the feeder released each file, in ms (never negative)."""
    return [max(0.0, (r["actual"] - r["due"]) * 1000.0) for r in log]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    log = release(args.src, args.dst, args.start, args.interval)
    tmp = args.log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, args.log)


if __name__ == "__main__":
    main()
