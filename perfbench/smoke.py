"""Self-check (python3 perfbench/run.py --smoke): runs every workload of
BENCHMARK.json end to end on the sf0.001 fixture, untraced and traced, and
asserts that every metric is printed by name with its unit and that no
answer is wrong. Then it plants an error in one answer-key entry per
workload and asserts that the run reports failed operations."""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "6", "--trace", str(trace), "--sf", "sf0.001", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-1500:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            try:
                r, text = run(wl, trace)
            except AssertionError as e:
                problems.append(str(e))
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != expected[trace]:
                problems.append(f"{wl} trace={trace}: metrics {sorted(set(got) ^ set(expected[trace]))} "
                                f"differ from BENCHMARK.json")
            for name, unit in expected[trace].items():
                if not re.search(rf"^\s+{re.escape(name)}\s+\S+\s+{re.escape(unit)}(\s|$)", text, re.M):
                    problems.append(f"{wl} trace={trace}: {name} not printed with unit {unit}")
            if r["failed"] or not r["correct"]:
                problems.append(f"{wl} trace={trace}: {r['failed']} of {r['attempted']} operations failed")
            print(f"smoke {wl} trace={trace}: {r['attempted']} operations, {r['failed']} failed, "
                  f"{len(got)} metrics", flush=True)
        try:
            r, _ = run(wl, 0, ["--corrupt-key"])
            if r["failed"] == 0 or r["correct"]:
                problems.append(f"{wl}: a corrupted answer-key entry did not show as a failure")
            print(f"smoke {wl} corrupted key: {r['failed']} of {r['attempted']} operations failed", flush=True)
        except AssertionError as e:
            problems.append(str(e))
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print(f"smoke: {'ok' if not problems else f'{len(problems)} problems'}")
    return 1 if problems else 0
