#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload cc-crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline) and caches the runtime classpath; later runs
start the harness JVM directly. Inputs are generated from --seed and
cached under perfbench/.work/inputs.

Workloads (see BENCHMARK.json for why each was chosen):
  cc-crawl   Cc2Dataset.run over seeded synthetic WATs
  iterative  two ext-layer queries through SparkEntry.queries

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics, a per-layer span table and the tracing
overhead. Each run also writes a full report (stamp, samples, tables) to
perfbench/.work/results/.

Tests: python3 -m unittest discover -s perfbench -p 'test_*.py'
       (cd perfbench && sbt test)
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("cc-crawl", "iterative")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these; the program's build
# passes the same list to its forked runs.
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


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program + harness once per source tree; return the classpath."""
    WORK.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", HERE / "target" / "classpath.txt"
    with open(WORK / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        if not (cp_file.is_file() and stamp.is_file() and stamp.read_text() == want):
            log("building program and harness with sbt")
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            (WORK / "tmp").mkdir(exist_ok=True)
            env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                        f"-Djava.io.tmpdir={WORK / 'tmp'}"]).strip()
            with open(WORK / "build.log", "w") as out:
                rc = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            if rc != 0 or not cp_file.is_file():
                raise SystemExit(f"build failed (exit {rc}); see {WORK / 'build.log'}")
            stamp.write_text(want)
    return cp_file.read_text().strip()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(args, classpath, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={WORK / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
           "-Dspark.ui.enabled=false", f"-Dgraft.repo.root={ROOT}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(WORK), "--out", str(out)]
    with open(WORK / f"harness-{args.workload}.log", "w") as logf:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S).returncode
    if rc != 0 or not out.is_file():
        raise SystemExit(f"harness failed (exit {rc}); see {WORK}/harness-{args.workload}.log")
    return json.loads(out.read_text())


def oracle_failures(oracle):
    """Compare each dumped query result with its DuckDB oracle, as
    tools/check_oracle.py does; return the names that differ."""
    import duckdb
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for table, path in oracle["tables"].items():
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    sqls = json.loads((Path(oracle["dir"]) / "oracle_sql.json").read_text())
    failed = []
    for name, sql in sorted(sqls.items()):
        try:
            got = check.canon(con.sql(
                f"SELECT * FROM read_parquet('{oracle['dir']}/{name}/*.parquet')"))
            want = check.canon(con.sql(sql))
            same = (list(got.columns) == list(want.columns) and len(got) == len(want)
                    and all(str(got[c].dtype) == str(want[c].dtype) and got[c].equals(want[c])
                            for c in got.columns))
        except Exception as e:  # a missing dump or a broken query both fail
            log(f"oracle {name}: {e}")
            same = False
        if not same:
            failed.append(name)
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"program sources not found under {ROOT}; run from a full checkout")
        return 2

    classpath = build()
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    raw = run_harness(args, classpath, results / f"{tag}.raw.json")

    bad_queries = oracle_failures(raw["oracle"]) if raw["oracle"] else []
    attempted, failed = stats.outcome(raw["calls"], bad_queries)

    e2e, samples, tails = stats.end_to_end(raw)
    stamp = dict(raw["stamp"], git_commit=git_commit(), source_sha256=source_hash(),
                 error_rate=failed / attempted, samples=samples,
                 tails={l: t for l, t in tails.items() if t}, bad_queries=bad_queries)
    report = {"stamp": stamp, "end_to_end": e2e}
    if args.trace:
        metrics, table = stats.per_layer(raw)
        report["per_layer"], report["layer_table"] = metrics, table
        print(f"per-layer spans, {args.workload} (median ms over spans of that name):")
        print(f"  {'span':<34}{'count':>7}{'duration':>12}{'self':>12}")
        for name, n, dur, own in table:
            print(f"  {name:<34}{n:>7}{dur:>12.1f}{own:>12.1f}")
        print(f"tracing overhead: {metrics['trace.overhead_s'][0]:.4f} s per pass")
    else:
        metrics = e2e
    (results / f"{tag}.report.json").write_text(json.dumps(report, indent=1))
    print("stamp: " + json.dumps(stamp))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
