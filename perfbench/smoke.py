"""Smoke test of the benchmark harness itself, on tiny inputs.

    python3 perfbench/smoke.py [--workloads etl_harmonize,ann_serve,llm_curate]

For each workload it runs `perfbench/run.py --size tiny` four times and
asserts that:
  - an untraced run is correct and prints every end-to-end metric of
    BENCHMARK.json with its unit;
  - a second run on the same seed yields the same output digest;
  - a traced run prints every per-layer metric with its unit;
  - a run with `--corrupt` (every output damaged before its check) is
    reported as incorrect, with failed ops.
Exits non-zero on the first failed assertion.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED = 11


def run(workload, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
           "--seconds", "1", "--size", "tiny", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} {extra}: exit {r.returncode}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond, what):
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}")


def has_all(result, spec):
    got = result["metrics"]
    return all(m["name"] in got and got[m["name"]]["unit"] == m["unit"]
               and isinstance(got[m["name"]]["value"], (int, float)) for m in spec)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description="perfbench smoke test")
    ap.add_argument("--workloads", default="etl_harmonize,ann_serve,llm_curate")
    for w in ap.parse_args().workloads.split(","):
        info, res = run(w, "--trace", "0")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: untraced run is correct ({info['problems']})")
        expect(has_all(res, spec["end_to_end"]), f"{w}: every end-to-end metric, with unit")
        again, _ = run(w, "--trace", "0")
        expect(again["digest"] == info["digest"], f"{w}: same seed, same output digest")
        _, traced = run(w, "--trace", "1")
        expect(has_all(traced, spec["per_layer"]), f"{w}: every per-layer metric, with unit")
        bad, corrupt = run(w, "--trace", "0", "--corrupt")
        expect(not corrupt["correct"] and corrupt["failed"] >= 1,
               f"{w}: a corrupted output trips the check ({bad['problems'][:1]})")
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
