"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ann_serve --seeds 1-10 [--trace 0] [--out FILE]

For every metric of the result line it prints the median, the first and
third quartiles (`statistics.quantiles(values, n=4)`), and the quartile
distance as a share of the median, next to the metric's bound in
BENCHMARK.json. Use it to check that the benchmark is steady, and to
compare two commits: run it on each, same seeds, same machine.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description="perfbench seed spread")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", help="append every run's result lines to this file")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", a.trace], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
            raise SystemExit(f"seed {s}: exit {r.returncode}")
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        runs.append(res)
        if a.out:
            with open(a.out, "a") as f:
                f.write(lines[-2] + "\n" + lines[-1] + "\n")
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        rel = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {rel:8.4f} {b if b else '':>6}")
    print(f"all correct: {all(r['correct'] for r in runs)}")


if __name__ == "__main__":
    main()
