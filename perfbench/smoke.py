#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py [workload ...]

Runs ``run.py --smoke`` for each workload, untraced and traced, from a
working directory other than the repository root, and asserts that:

- the run exits 0 and every output check passed (``failed`` is 0);
- the last line carries exactly the metrics BENCHMARK.json lists, with
  their units (end-to-end untraced, per-layer traced);
- the untraced run prints the workload's own end-to-end metrics by name;
- the traced run wrote its spans file, and on ``assign_tiles`` also traced
  the nearest-neighbour layers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMED = {
    "assign_tiles": ("assign_pts_per_s", "tile_pts_per_s"),
    "pipeline": ("pipeline_s", "resume_s"),
}
ALWAYS = ("setup_s", "jvm_peak_rss_mb", "failed_ops_frac")
# spans that only a traced run of the workload records
TRACED_ONLY = {"assign_tiles": ("knn.parcel_assign", "rangejoin.seg_nn")}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    printed = {
        line.split(" = ")[0]: line.split(" = ")[1] for line in lines if " = " in line
    }
    return json.loads(lines[-1]), printed


def check(workload: str, spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, printed = run(workload, trace)
        assert result["correct"] and result["failed"] == 0, (workload, trace, result)
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (workload, trace, set(got) ^ set(want))
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        if trace == 0:
            missing = [m for m in NAMED[workload] + ALWAYS if m not in printed]
            assert not missing, (workload, missing)
        else:
            spans = os.path.join(ROOT, ".perfbench_work", "spans", f"{workload}-seed7.json")
            assert os.path.exists(spans), spans
            idle = [s for s in TRACED_ONLY.get(workload, ())
                    if not result["metrics"][f"{s}.jobs"]["value"]]
            assert not idle, (workload, idle)
        print(f"ok {workload} trace={trace}: {len(got)} metrics, "
              f"{result['attempted']} calls checked", flush=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in argv or [w["name"] for w in spec["workloads"]]:
        check(workload, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
