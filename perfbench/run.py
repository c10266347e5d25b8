#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload engine-full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark driver
(perfbench/build.sbt) when the sources changed since the last build, runs the
workload in one JVM at local[<cores>], checks the outputs the JVM hands back
(the engine's, and on `engine-full --trace 1` the sweep-module queries') against
the repository's DuckDB oracles, and prints one JSON object as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints every end-to-end metric of BENCHMARK.json, `--trace 1`
every per-layer metric. Build outputs go to .bench_build/ and scratch state to
.bench_work/ (removed at exit). PERFBENCH_DOCS / PERFBENCH_PARTS override the
input size (the tests use a tiny one).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("engine-full", "engine-resume")
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every input of the build, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main" / "scala", HERE / "src"):
        files += sorted(p for p in base.rglob("*.scala") if p.is_file())
    return files


def build():
    """Compile when any source changed; return the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in p.stdout.splitlines() if "classes" in l and ":" in l and " " not in l]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp[-1]


def run_jvm(cp, args, work, result):
    # A fixed, pre-touched heap: peak RSS then tracks what the program holds
    # off the heap instead of how far the collector happened to grow it.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--result", str(result)]
    if os.environ.get("PERFBENCH_DOCS"):
        cmd += ["--docs", os.environ["PERFBENCH_DOCS"]]
    if os.environ.get("PERFBENCH_PARTS"):
        cmd += ["--parts", os.environ["PERFBENCH_PARTS"]]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS", "SPARK_HOME")}
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    # set-up and the traced pass take under two minutes at the default sizes
    timeout = 130 + 2 * args.seconds
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload JVM exceeded {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"workload JVM exited with {rc}")
    return json.loads(result.read_text())


def canon(rows):
    """Order-independent row multiset, columns in name order (the canon of
    tools/check_correctness.py)."""
    out = []
    for r in rows:
        vals = []
        for k in sorted(r):
            v = r[k]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}".rstrip("0").rstrip("."))
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def oracle_checks(res):
    """Run each DuckDB oracle the JVM asked for; return the failures."""
    failures = []
    if not res["oracle"]:
        return failures
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in res.get("tables", {}).items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for chk in res["oracle"]:
        t0 = time.time()
        try:
            want = canon(con.sql(chk["sql"]).df().to_dict("records"))
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{chk['name']}: oracle error {e}")
            continue
        log(f"oracle {chk['name']}: {len(want)} rows in {time.time() - t0:.1f}s")
        got = canon(chk["rows"])
        if got != want:
            extra = sorted(set(got) - set(want))[:3]
            missing = sorted(set(want) - set(got))[:3]
            failures.append(f"{chk['name']}: engine-only {extra} oracle-only {missing}")
    con.close()
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("engine sources (src/main/scala/graft) not found: "
                         "run from the root of a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(cp, args, work, work / "result.json")
        t0 = time.time()
        oracle_failures = oracle_checks(res)
        if res["oracle"]:
            log(f"oracle checks in {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    attempted = res["attempted"] + len(res["oracle"])
    failed = res["failed"] + len(oracle_failures)
    for f in oracle_failures:
        log(f"FAILED {f}")
    have = dict(res["metrics"])
    have["failed_ops_share"] = {"value": failed / attempted, "unit": "ratio"}
    metrics = {}
    for m in wanted:
        got = have.get(m["name"])
        if got is None or got["value"] is None or got["unit"] != m["unit"]:
            raise SystemExit(f"metric {m['name']} missing or not in {m['unit']}: {got}")
        metrics[m["name"]] = got
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
