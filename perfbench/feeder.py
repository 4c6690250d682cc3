"""Open-loop event feeder for stream_alerts, run as its own process.

It regenerates the run's events from the seed, waits for the ``go``
file, then writes one live file every ``interval`` seconds whatever the
consumer is doing.  Each file name carries the file's scheduled
creation time (ms); events are stamped with the schedule, not with the
moment the write happened, so a stalled feeder shows as latency.  The
last file also carries the sentinel event, and ``feeder.json`` records
how late each write ran.

    python3 perfbench/feeder.py --dir SRC --control DIR --seed N \
        --backlog-files B --live-files L --events-per-file E --interval S
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402


def publish(src: Path, staging: Path, name: str, lines: list[str]) -> None:
    """Write outside the watched directory, then rename in, so the file
    source never lists a half-written file."""
    tmp = staging / name
    gen.write_lines(tmp, lines)
    os.replace(tmp, src / name)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--control", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog-files", type=int, required=True)
    ap.add_argument("--live-files", type=int, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    a = ap.parse_args()
    src, control = Path(a.dir), Path(a.control)
    staging = control / "staging"
    staging.mkdir(exist_ok=True)
    plan = gen.StreamPlan(a.backlog_files, a.live_files, a.events_per_file, a.interval)
    _, live, sentinels = plan.all_lines(a.seed)
    (control / "ready").touch()
    go = control / "go"
    deadline = time.time() + 120
    while not go.exists():
        if time.time() > deadline:
            raise SystemExit("feeder: no go signal")
        time.sleep(0.005)
    start = float(go.read_text())
    late_ms = []
    # the sentinel rides in the last live file, so no extra batch is needed
    live[-1] = live[-1] + sentinels
    slots = [(f"live-{i:05d}", lines) for i, lines in enumerate(live)]
    for k, (stem, lines) in enumerate(slots):
        due = start + k * a.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        publish(src, staging, f"{stem}-{int(due * 1000)}.json", lines)
        late_ms.append((time.time() - due) * 1000)
    (control / "feeder.json").write_text(json.dumps({"late_ms": late_ms}))


if __name__ == "__main__":
    main()
