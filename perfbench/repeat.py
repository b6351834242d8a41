"""Run the benchmark several times and collect the result lines.

    python3 perfbench/repeat.py --out runs/base --workloads replay_batch stream_tail \\
        --seeds 1-10 --seconds 20 [--trace 1]

Appends each run's JSON result, tagged with workload and seed, to
``<out>/<workload>.jsonl`` (``<workload>.trace.jsonl`` when traced),
the layout ``compare.py`` reads. Runs one at a time, from the
current directory, which must be a checkout's root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", required=True)
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=None,
                   help="default: run_seconds from BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open("BENCHMARK.json") as f:
            seconds = json.load(f)["run_seconds"]
    os.makedirs(args.out, exist_ok=True)
    runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    status = 0
    for seed in seed_list(args.seeds):
        for wl in args.workloads:
            t = time.time()
            proc = subprocess.run(
                [sys.executable, runner, "--workload", wl, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(args.trace)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                status = 1
                continue
            rec = {"workload": wl, "seed": seed, "wall_s": time.time() - t,
                   "result": json.loads(lines[-1])}
            name = f"{wl}.trace.jsonl" if args.trace else f"{wl}.jsonl"
            with open(os.path.join(args.out, name), "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = rec["result"]["metrics"]
            print(f"{wl} seed {seed} ({rec['wall_s']:.0f}s) correct={rec['result']['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()
                             if not k.startswith(("table.", "wal.", "driver.", "stream.",
                                                  "spark.", "replay.", "commitio.",
                                                  "incremental.", "load."))), flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
