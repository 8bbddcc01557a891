"""Summarize one recorded set of runs, or compare two.

    python3 perfbench/compare.py SET.jsonl             # spread per metric
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl  # change per metric

Per workload and metric it prints the median, the quartiles and the
spread (interquartile distance over the median, as
``statistics.quantiles(values, n=4)`` gives the quartiles). With two
sets it adds the change of the median, signed so that positive is
worse, and marks a change beyond the metric's ``bound`` in
``BENCHMARK.json``. It refuses (exit 2) to compare runs whose host
fingerprints differ, and exits 1 when a run failed or a bound is broken.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def values_of(run: dict) -> dict[str, float]:
    """Gated metrics of a run, plus those its detail line reports."""
    out = {k: v["value"] for k, v in run["result"]["metrics"].items()}
    for k, v in run["detail"].get("reported", {}).items():
        out[k] = v["value"]
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(paths: list[str]) -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [load(p) for p in paths]
    hosts = {json.dumps(r["detail"]["host"], sort_keys=True)
             for s in sets for r in s if "detail" in r}
    if len(hosts) > 1:
        print("refusing to compare runs from different hosts:", *hosts, sep="\n  ")
        return 2
    status = 0
    for s in sets:
        bad = [r for r in s if r["rc"] != 0 or not r.get("result", {}).get("correct")]
        if bad:
            print(f"{len(bad)} failed run(s), e.g. {bad[0].get('stderr_tail', '')[-300:]}")
            status = 1
    workloads = sorted({r["detail"]["workload"] for s in sets for r in s if "detail" in r})
    for w in workloads:
        print(f"== {w}")
        runs = [[r for r in s if r.get("detail", {}).get("workload") == w] for s in sets]
        runs = [rs for rs in runs if rs]
        names = sorted({k for r in runs[0] for k in values_of(r)})
        for name in names:
            cols = []
            for rs in runs:
                vals = [values_of(r)[name] for r in rs]
                med, q1, q3, spread = summary(vals)
                cols.append(med)
                line = f"  {name:44s} n={len(vals):2d} median={med:12.5g} "
                line += f"q1={q1:12.5g} q3={q3:12.5g} spread={spread:6.3f}"
                print(line)
            m = metrics.get(name, {})
            if len(cols) == 2 and cols[0] and "bound" in m:
                change = (cols[1] - cols[0]) / cols[0]
                worse = change if m["better"] == "lower" else -change
                flag = "  BEYOND BOUND" if worse > m["bound"] else ""
                print(f"  {'':44s} change={worse:+.3f} (positive is worse, "
                      f"bound {m['bound']}){flag}")
                if flag:
                    status = 1
    return status


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
