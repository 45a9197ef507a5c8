#!/usr/bin/env python
"""Quiet-window runner: fire a measurement only while the host is quiet.

Quiet windows on a shared host last minutes, so a measurement is worth
keeping only when a bare-CPU probe taken just before it says the host
was quiet. Every `--interval` seconds this runs probe_cpu_scaling.py;
when the probe is at least `--gate`, it runs one measurement and appends
its JSON line, stamped with the probe value, to `--log`:

- `--run bench`: bench.py (scale factor from $SPARK_GRAFT_SF_DIR);
- `--run scaling`: bench_scaling.py, shortened to 2 runs per level
  unless $SPARK_GRAFT_SCALE_RUNS is set.

It stops after `--n` gated results or `--hours`, whichever comes first.

    python scripts/quiet_window.py --run bench [--gate 0.85]
        [--interval 150] [--n 2] [--hours 4] [--log BENCH/quiet_window.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TARGETS = {"bench": "bench.py", "scaling": "bench_scaling.py"}


def say(msg: str) -> None:
    print(f"{time.strftime('%H:%M:%S', time.gmtime())} {msg}", flush=True)


def last_json(stdout: str) -> dict | None:
    for line in reversed(stdout.strip().splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    return None


def probe() -> float | None:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "probe_cpu_scaling.py")],
        capture_output=True, text=True, timeout=300,
    )
    rec = last_json(out.stdout)
    return rec["value"] if rec else None


def measure(run: str) -> dict | None:
    env = dict(os.environ)
    if run == "scaling":
        # a full min-of-3 attempt outlasts most quiet windows
        env.setdefault("SPARK_GRAFT_SCALE_RUNS", "2")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, TARGETS[run])],
        capture_output=True, text=True, timeout=2400, env=env, cwd=REPO,
    )
    return last_json(out.stdout)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--run", choices=sorted(TARGETS), required=True)
    ap.add_argument("--gate", type=float, default=0.85)
    ap.add_argument("--interval", type=int, default=150)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--hours", type=float, default=4.0)
    ap.add_argument("--log", default=os.path.join(REPO, "BENCH", "quiet_window.jsonl"))
    args = ap.parse_args()
    deadline = time.time() + args.hours * 3600
    done = 0
    while done < args.n and time.time() < deadline:
        p = probe()
        if p is None or p < args.gate:
            say(f"probe {p} < {args.gate}: waiting {args.interval}s")
            time.sleep(args.interval)
            continue
        say(f"probe {p} >= {args.gate}: running {args.run}")
        rec = measure(args.run)
        if rec is None:
            say(f"{args.run} printed no JSON line")
            time.sleep(args.interval)
            continue
        rec["_probe"] = p
        os.makedirs(os.path.dirname(os.path.abspath(args.log)), exist_ok=True)
        with open(args.log, "a") as f:
            f.write(json.dumps(rec) + "\n")
        done += 1
        say(f"gated result {done}/{args.n}: value={rec.get('value')} -> {args.log}")
    say(f"done: {done} gated results")
    return 0 if done else 1


if __name__ == "__main__":
    raise SystemExit(main())
