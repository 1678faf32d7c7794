"""Run one workload on several seeds and report, per metric, the median
and the interquartile range as a share of the median (the steadiness
figure BENCHMARK.json's bounds are checked against).

    python3 perfbench/spread.py --workload cdc_hot --seeds 1-10 [--trace 0]
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
# the metric lines the run prints, gated or not: "  name  value unit ..."
PRINTED = re.compile(r"^  ([a-z][a-z0-9_.]*)\s+(-?[0-9.]+)\s", re.M)


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values = {}
    gates = set()
    for seed in seeds(a.seeds):
        out = subprocess.run([sys.executable, str(RUN), "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)],
                             capture_output=True, text=True)
        if out.returncode != 0:  # includes a failed correctness gate
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        gates |= set(res["metrics"])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        # (traced runs also print a span table, which is not metrics)
        for k, v in PRINTED.findall(out.stdout) if not a.trace else []:
            if k not in res["metrics"]:
                values.setdefault(k, []).append(float(v))
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        gated = "" if k in gates else "  (printed only)"
        print(f"{k:24s} median {med:14.6g}  iqr/median {spread:7.4f}  n={len(vs)}{gated}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
