"""Same-seed repeatability test: two traced runs of one workload with the
same seed must report identical count metrics (rows written, jobs and
tasks per tick, partitions rewritten, files in the lake, ...). Timings
are not compared.

    python3 perfbench/test_repeat.py --workload cdc_scatter --seed 3

Exits 0 when every count matches, 1 otherwise.
"""
import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"

COUNTS = [
    "ingest.bulk_write.files", "ingest.land_files",
    "orchestrate.files_per_tick", "orchestrate.backlog_files_max",
    "streaming.batches",
    "merge.jobs_per_tick", "merge.tasks_per_tick", "merge.rows_written_per_tick",
    "merge.partitions_rewritten_per_tick", "merge.useful_write_ratio",
    "lake.files", "lake.max_files_per_partition",
]


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                          "--seconds", "1", "--trace", "1"], capture_output=True, text=True)
    if out.returncode != 0:
        raise SystemExit(f"run failed (exit {out.returncode}):\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"correctness gate failed: {res['failed']} of {res['attempted']} operations")
    counts = {k: res["metrics"][k]["value"] for k in COUNTS}
    # write_amp is an end-to-end metric, printed in traced runs too
    amp = next(l for l in lines if l.split()[:1] == ["write_amp"])
    counts["write_amp"] = float(re.split(r"\s+", amp.strip())[1])
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="cdc_scatter")
    ap.add_argument("--seed", type=int, default=3)
    a = ap.parse_args()
    first = traced_run(a.workload, a.seed)
    second = traced_run(a.workload, a.seed)
    bad = [k for k in first if first[k] != second[k]]
    for k in first:
        mark = "DIFF" if k in bad else "ok"
        print(f"{mark:4s} {k:40s} {first[k]!r:>22} {second[k]!r:>22}")
    print(f"{a.workload} seed {a.seed}: " + ("counts repeat exactly" if not bad else f"{len(bad)} counts differ"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
