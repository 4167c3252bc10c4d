"""Fast check of the benchmark itself, on the sf0.001 tables.

    python3 perfbench/selfcheck.py

Runs every workload for one short iteration, untraced and traced, and
checks that each run prints a correct result carrying exactly the metric
names and units ``BENCHMARK.json`` declares.  It then prints the tracing
overhead (traced minus untraced ``wall_s``) per workload.  Exits non-zero
on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"selfcheck: {workload} trace={trace} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (w["name"] for w in spec["workloads"]):
        walls = {}
        for trace in (0, 1):
            res = run_once(w, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                raise SystemExit(f"selfcheck: {w} trace={trace}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                missing = sorted(set(declared[trace]) - set(got))
                extra = sorted(set(got) - set(declared[trace]))
                wrong = sorted(k for k in set(got) & set(declared[trace]) if got[k] != declared[trace][k])
                raise SystemExit(f"selfcheck: {w} trace={trace}: missing {missing}, extra {extra}, wrong unit {wrong}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"selfcheck: {w} trace={trace}: {res['failed']} of {res['attempted']} failed")
            walls[trace] = res["metrics"]["wall_s" if trace == 0 else "trace.wall_s"]["value"]
            print(f"ok  {w} trace={trace}: {len(got)} metrics, {res['attempted']} operations")
        print(f"    {w} tracing overhead: {walls[1] - walls[0]:+.3f} s on wall_s {walls[0]:.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
