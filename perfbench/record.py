"""Record a set of benchmark runs and print each metric's spread.

    python3 perfbench/record.py --workload batch_clean --seeds 1-10 \
        --out perfbench/results/e2e-batch_clean-a.jsonl

Runs ``perfbench/run.py`` once per seed from the repository root, one run
at a time, and appends one JSON line per run to ``--out``: the seed, the
run's wall time, the CPU time the host stole from this machine during
the run (``steal`` in /proc/stat; it is the main source of run-to-run
noise on a shared host), the job lines the run logged, and its result.
Then it prints, for every metric, the median and the spread: the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spreads(rows: list[dict]) -> dict[str, tuple[float, float]]:
    values: dict[str, list] = {}
    for r in rows:
        for name, m in (r["result"] or {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med] * 3
        out[name] = (med, (q[2] - q[0]) / med if med else 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args(argv)

    rows = []
    for seed in seeds(args.seeds):
        t, st = time.perf_counter(), steal_s()
        p = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace], capture_output=True, text=True)
        row = {"workload": args.workload, "seed": seed,
               "elapsed_s": round(time.perf_counter() - t, 3),
               "steal_s": round(steal_s() - st, 2),
               "jobs": [ln for ln in p.stderr.splitlines()
                        if ln.startswith(("job ", "set-up", "shut-down"))],
               "result": None}
        lines = p.stdout.strip().splitlines()
        if p.returncode == 0 and lines:
            row["result"] = json.loads(lines[-1])
        rows.append(row)
        with open(args.out, "a") as f:
            f.write(json.dumps(row) + "\n")
        print(f"seed {seed}: {row['elapsed_s']} s, steal "
              f"{row['steal_s']} s, correct "
              f"{(row['result'] or {}).get('correct')}", file=sys.stderr)
    for name, (med, spread) in spreads(rows).items():
        print(f"{name:32s} median {med:12.6g}  spread {spread:.3f}")
    return 0 if all(r["result"] and r["result"]["correct"]
                    for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
