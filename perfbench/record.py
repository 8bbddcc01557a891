"""Record a set of benchmark runs, one JSON line per run.

    python3 perfbench/record.py --workload queries --seeds 1-10 \
        --out perfbench/baseline/set1.jsonl [--seconds 10] [--trace 0]

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
current directory (the repository root), and appends
``{"rc", "elapsed_s", "detail", "result"}`` per run to ``--out``.
``--seconds`` defaults to ``run_seconds`` from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        rec = {"rc": p.returncode, "elapsed_s": time.perf_counter() - t}
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if len(lines) >= 2:
            rec.update(json.loads(lines[-2]))
            rec["result"] = json.loads(lines[-1])
        else:
            rec["stderr_tail"] = p.stderr[-2000:]
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"{args.workload} seed {seed}: rc={p.returncode} "
              f"{rec['elapsed_s']:.1f} s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
