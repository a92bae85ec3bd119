#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run, one JSON line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: events_log, llm_dedup_search, stream_ingest (see README.md).

The first run in a checkout builds the engine and this benchmark with sbt
(perfbench/build.sbt, which compiles against the engine's own build.sbt)
and generates the fixture tables; later runs reuse both from
`.bench_build/`. Each run launches one JVM on local[<nproc>], checks the
outputs (batch queries against their DuckDB twins, streams against their
batch twins), prints every metric by name with its unit, and prints as its
last line one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the span tree goes to
.bench_build/trace/<workload>-seed<seed>.json.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
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
WORKLOADS = ("events_log", "llm_dedup_search", "stream_ingest")
# Fixture sizes (rows): events, documents, embeddings. The engine's own
# sf0.01 fixture has the same sizes.
FIXTURE_ROWS = (10000, 500, 500)
FIXTURE_SEED = 42
JVM_HEAP = "2g"  # fixed size (-Xms = -Xmx), so GC sizing does not vary from run to run
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_waited(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout kills
    the whole group (a launcher script's children too) and waits again.
    Returns the exit code, or None after a timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def source_digest():
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    """Builds the engine and the benchmark once per source digest and
    returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main)")
    cp_file = BUILD / f"classpath-{source_digest()}.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_waited(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"],
                        840, cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
    lines = log.read_text().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip()


def fixtures():
    d = BUILD / "fixtures" / ("rows-%d-%d-%d-seed%d" % (FIXTURE_ROWS + (FIXTURE_SEED,)))
    if not (d / "embeddings.parquet").is_file():
        sys.path.insert(0, str(HERE))
        import gen_fixtures
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_fixtures.main(str(tmp), *FIXTURE_ROWS, seed=FIXTURE_SEED)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def duckdb_check(fixture_dir, check_dir):
    """Compares each query's rows with its DuckDB twin through the engine's
    oracle-parity tool (tools/check.py). Returns (checked, failed, lines)."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(str(fixture_dir), str(check_dir))
    lines = [l for l in buf.getvalue().splitlines() if l.startswith(("ok ", "FAIL "))]
    return len(lines), sum(l.startswith("FAIL") for l in lines), lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    fx = fixtures()
    run_dir = BUILD / "runs" / f"{a.workload}-seed{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cpus = len(os.sched_getaffinity(0))
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", str(fx),
            "--out", str(run_dir), "--cpus", str(cpus)]
    t0 = time.time()
    try:
        with open(run_dir / "jvm.log", "w") as log:
            rc = run_waited(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=log,
                            stderr=subprocess.STDOUT)
        if rc is None:
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        if rc != 0 or not (run_dir / "result.json").is_file():
            tail = (run_dir / "jvm.log").read_text()[-3000:]
            fail(f"benchmark JVM exited with {rc}:\n{tail}")
        res = json.loads((run_dir / "result.json").read_text())
        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if (run_dir / "check").is_dir():
            n, bad, lines = duckdb_check(fx, run_dir / "check")
            attempted += n
            failed += bad
            errors += [l for l in lines if l.startswith("FAIL")]
        if a.trace and (run_dir / "spans.json").is_file():
            (BUILD / "trace").mkdir(exist_ok=True)
            shutil.copy(run_dir / "spans.json", BUILD / "trace" / f"{a.workload}-seed{a.seed}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    info = dict(res["info"])
    info["error_rate"] = {"value": failed / max(attempted, 1), "unit": "1"}
    info["wall_s"] = {"value": time.time() - t0, "unit": "s"}
    for e in errors:
        print(f"error: {e}")
    for kind, ms in (("metric", res["metrics"]), ("info", info)):
        for k, v in ms.items():
            print(f"{kind} {a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
