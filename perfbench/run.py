"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_harmonize --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the harness from source with sbt (the classpath is cached
under `.bench_build/`, keyed by a hash of every source and build file),
then every run:

  1. generates the workload's inputs from `--seed` (`perfbench/gen.py`),
  2. starts one JVM that runs the workload's closed loop for `--seconds`
     and checks every output (`perfbench.Main`),
  3. prints a detail line (seed, environment stamp, the workload's own
     metric names, digest, problems) and, last, the result line
     `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
     metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics
     with `--trace 1`.

Extra flags: `--size tiny` (smoke-test inputs), `--corrupt` (damage every
output before its check; the run must then report failures).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
DRIVER_MEM = "3g"
# Parallel GC with a fixed heap and young generation: the eden is touched
# once and the resident set then follows what the old generation keeps,
# so `peak_rss_mb` does not swing with G1's heap sizing from run to run.
# A metaspace start size above what a run loads keeps class loading from
# triggering full collections, whose timing set the old generation's peak
GC_OPTS = ["-XX:+UseParallelGC", f"-Xms{DRIVER_MEM}", "-Xmn1g", "-XX:MetaspaceSize=512m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the workload's own names for the generic end-to-end metrics
NAMED = {
    "etl_harmonize": {"op_s_p50": "etl_job_s_p50", "items_per_s": "etl_rows_per_s"},
    "ann_serve": {"op_s_p50": "knn_s_p50", "items_per_s": "knn_queries_per_s"},
    "llm_curate": {"op_s_p50": "curate_batch_s_p50", "items_per_s": "curate_docs_per_s"},
}
KEEP_INPUTS = 4  # generated input sets kept per workload


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads: the engine and the harness."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "project", ROOT / "src" / "main", HERE / "src"):
        if base.is_dir():
            files += [p for p in base.rglob("*") if p.is_file()
                      and "target" not in p.relative_to(base).parts]
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def classpath():
    """Build (once per source state) and return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "classpath.hash", BUILD / "classpath.txt"
    digest = source_hash()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log = BUILD / "build.log"
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                               cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                               text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def inputs(workload, seed, size):
    """Generated inputs for (workload, seed, size), made once and reused."""
    base = BUILD / "inputs"
    gen = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    d = base / f"{workload}-{size}-{seed}-{gen}"
    if not (d / "manifest.json").is_file():
        tmp = base / f".tmp-{workload}-{size}-{seed}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        r = subprocess.run([sys.executable, str(HERE / "gen.py"), "--workload", workload,
                            "--seed", str(seed), "--size", size, "--out", str(tmp)])
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("input generation failed")
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    d.touch()
    olds = sorted((p for p in base.glob(f"{workload}-*") if p != d),
                  key=lambda p: p.stat().st_mtime)
    for p in olds[:max(0, len(olds) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    return d


def tail_value(xs):
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    return {"value": sorted(xs)[n - 11], "percentile": round(100.0 * (n - 10) / n, 2),
            "samples": n}


def main():
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())
    known = {w["name"] for w in spec["workloads"]} | set(NAMED)
    if a.workload not in known:
        fail(f"unknown workload {a.workload}")

    cp = classpath()
    data = inputs(a.workload, a.seed, a.size)
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cores = min(4, os.cpu_count() or 1)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ \
        else "java"
    cmd = [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{DRIVER_MEM}", *GC_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--data", str(data),
           "--work", str(work), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--result", str(result), "--cores", str(cores)]
    if a.corrupt:
        cmd.append("--corrupt")
    log = BUILD / "logs" / f"{a.workload}-{a.seed}-t{a.trace}.log"
    log.parent.mkdir(exist_ok=True)
    t0 = time.time()
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=err, stderr=err, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {log}", 1)
    if r.returncode != 0 or not result.is_file():
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"benchmark JVM failed (exit {r.returncode}); see {log}", 1)
    res = json.loads(result.read_text())

    e2e, detail = res["e2e"], res["detail"]
    ops = detail.get("op_seconds", [])
    named = {NAMED[a.workload].get(k, k): v for k, v in e2e.items()}
    named["error_ratio"] = detail["error_ratio"]
    if a.workload == "ann_serve":
        named["knn_s_tail"] = tail_value([o["s"] for o in ops if o["kind"] == "knn"])
        ins = [o["s"] for o in ops if o["kind"] == "insert"]
        named["insert_s_p50"] = statistics.median(ins) if ins else None
        named["knn_recall_at_10"] = detail.get("knn_recall_at_10")
    info = {
        "workload": a.workload, "seed": a.seed, "size": a.size, "trace": a.trace,
        "run_wall_s": round(time.time() - t0, 3), "digest": res["digest"],
        "problems": res["problems"], "named_metrics": named,
        "env": {**res["env"], "nproc": os.cpu_count(), "driver_memory": DRIVER_MEM},
    }
    if a.trace:
        info["layers"] = res["layers"]
    print(json.dumps(info, sort_keys=True))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else e2e
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        fail(f"metrics missing from the run: {missing}", 1)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
