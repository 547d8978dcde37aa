#!/usr/bin/env python3
"""graft benchmark: run one workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload monitor|curate|ingest --seed N \
      --seconds S --trace 0|1

The first run in a checkout compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships
among the Spark jars, into .bench_build/<source hash>/. Every run then:
  1. generates the input tables from --seed (perfbench/gen_data.py); for
     `monitor`, in the x4 shape graft.ScaleUp makes;
  2. runs perfbench.PerfBench in a fresh JVM whose java.io.tmpdir, Spark
     local dirs, warehouse and Derby home all live in a private run
     directory;
  3. compares every key's output with its oracle SQL in DuckDB;
  4. measures what the run left on disk, deletes the run directory, writes
     the full record to .bench_build/results/ and prints one compact JSON
     line as the last line of stdout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("monitor", "ingest")
# input scale: generated tables shaped like the sf0.01 test data;
# `monitor` runs on a x4 ScaleUp-shaped copy of them
SF = 0.01
SCALE_UP = 4
JVM_TIMEOUT_S = 150

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
              "query_p90_s": "s", "heap_live_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    # same jar directory the sbt build compiles against
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        sys.exit("perfbench: set SPARK_HOME to a Spark distribution")
    return Path(m.group(1))


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "scala").glob("*.scala"))
    if not main or not bench:
        sys.exit("perfbench: engine or benchmark sources not found")
    return main, bench


def scalac(classpath, out, files):
    out.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", str(out)] + [str(f) for f in files]
    # cwd: scalac's default classpath is ".", which must not see perfbench/
    r = subprocess.run(cmd, cwd=out, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit(f"perfbench: compile failed in {out}")


def build():
    """Compile engine + harness once per source hash; return the classpath."""
    main, bench = sources()
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / h.hexdigest()[:16]
    jars = f"{spark_jars()}/*"
    cp = f"{out / 'bench'}:{out / 'main'}:{jars}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / "ok").exists():
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            scalac(jars, out / "main", main)
            scalac(f"{out / 'main'}:{jars}", out / "bench", bench)
            (out / "ok").touch()
            log(f"built {out.name} in {time.time() - t0:.1f}s")
    return cp


def run_jvm(cp, run_dir, args, log_path):
    """Run the harness JVM in its own process group with every scratch path
    inside run_dir; kill the whole group if it outlives JVM_TIMEOUT_S."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = [java(), *ADD_OPENS, "-Xmx3g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir / 'derby'}",
           f"-Dperfbench.warehouse={run_dir / 'warehouse'}",
           "-cp", cp, "perfbench.PerfBench", *args]
    t0 = time.time()
    with open(log_path, "a") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=out,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        tail = Path(log_path).read_text(errors="replace")[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: the benchmark JVM ended with {code}")
    log(f"benchmark JVM took {time.time() - t0:.1f}s")


def du_mb(paths):
    total = 0
    for p in paths:
        for f in Path(p).rglob("*"):
            if f.is_file() and not f.is_symlink():
                total += f.stat().st_size
    return total / 1048576


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    sys.path.insert(0, str(HERE))
    import check
    import gen_data

    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = BUILD / "runs" / f"{name}-{os.getpid()}"
    jvm_log = results / f"{name}.log"
    jvm_log.unlink(missing_ok=True)
    try:
        run_dir.mkdir(parents=True)
        data = run_dir / "data"
        gen_data.write(data, a.seed, SF, SCALE_UP if a.workload == "monitor" else 1)
        out = run_dir / "out"
        run_jvm(cp, run_dir,
                [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(data), str(out)],
                jvm_log)
        rec = json.loads((out / "record.json").read_text())
        t0 = time.time()
        checked = check.check(str(data), str(out / "check"), rec["keys"])
        log(f"oracle compare took {time.time() - t0:.1f}s")
        bad = check.failed(checked)
        rec["check"] = checked
        rec["per_layer"]["sinks.disk_left_mb"] = du_mb(
            [run_dir / d for d in ("tmp", "local", "warehouse", "derby")])
        # a measured execution that threw, a key whose output fails its
        # oracle, and an ingest key with no write work each count once
        attempted = rec["attempted"] + len(rec["keys"])
        failed = len(rec["failures"]) + len(bad) + len(rec["gate_violations"])
        rec["failed_frac"] = failed / attempted
        if a.trace:
            shutil.copy(out / "trace.jsonl", results / f"{name}.trace.jsonl")
        (results / f"{name}.json").write_text(json.dumps(rec, indent=1, sort_keys=True))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k in bad:
        log(f"check FAILED {k}: {checked[k]}")
    for g in rec["gate_violations"]:
        log(f"ingest gate: {g['key']} wrote nothing in pass {g['pass']}")
    log(f"full record: {results / (name + '.json')}")
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(rec["per_layer"].items())}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")), flush=True)


def unit_of(metric):
    suffix = metric.rsplit("_", 1)[-1]
    return {"s": "s", "ms": "ms", "mb": "MB", "share": "ratio", "frac": "ratio",
            "util": "ratio"}.get(suffix, "count")


if __name__ == "__main__":
    main()
