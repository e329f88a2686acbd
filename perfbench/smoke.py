"""Smoke test of the benchmark itself, at scale factor 0.001.

    python3 perfbench/smoke.py          # from the repository root

Runs every workload untraced and traced on tiny inputs and checks that
  - every job's reports agree with the generator's oracle (correct, 0 failed);
  - every metric BENCHMARK.json names is emitted, in the JSON result with its
    unit, and in the printed summary with its unit and sample count.
Exits non-zero on the first disagreement.
"""
import json
import os
import re
import subprocess
import sys

WORKLOADS = ["clean_gate", "drift_nested", "many_small"]
LINE = re.compile(r"^(\S+) = (\S+) (\S+) \(n=(\d+)\)$")


def run(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = {0: spec["end_to_end"], 1: spec["per_layer"]}
    for workload in WORKLOADS:
        for trace in (0, 1):
            result, summary = run(workload, trace)
            where = f"{workload} trace={trace}"
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                print("\n".join(summary))
                raise SystemExit(f"FAIL {where}: oracle disagrees with the engine")
            printed = {m.group(1): m for m in map(LINE.match, summary) if m}
            for metric in wanted[trace]:
                name, unit = metric["name"], metric["unit"]
                got = result["metrics"].get(name)
                if got is None or got["unit"] != unit:
                    raise SystemExit(f"FAIL {where}: metric {name} missing or not in {unit}: {got}")
                line = printed.get(name)
                if line is None or line.group(3) != unit or int(line.group(4)) < 1:
                    raise SystemExit(f"FAIL {where}: summary line for {name} missing its unit or count")
            if set(result["metrics"]) != {m["name"] for m in wanted[trace]}:
                raise SystemExit(f"FAIL {where}: unexpected metrics {sorted(result['metrics'])}")
            for name in ["failed_ratio"] + (["cpu_s"] if trace == 0 else []):
                if name not in printed:
                    raise SystemExit(f"FAIL {where}: {name} not printed")
            print(f"ok {where}: {result['attempted']} jobs checked, "
                  f"{len(result['metrics'])} metrics with units and counts")
    return 0


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
