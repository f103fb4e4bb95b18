#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, a fixed measuring time.

Usage (from the repository root):
  python3 lakebench/run.py --workload W --seed N --seconds S --trace 0|1 [--size tiny]

Builds the program from this checkout's sources when they changed since the
last build, runs the workload in one JVM on local[nproc], checks its outputs,
and prints one JSON object as the last line of standard output. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones (the span file is written beside the result under lakebench/out/); the
traced etl_hourly run also times registry entries, whose outputs are checked
against their DuckDB oracle SQL. Exits non-zero if any output check failed.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "resources", HERE / "src", HERE / "build.sbt"]
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "lakebench.stamp"
WORKLOADS = ["etl_hourly", "gate_chunkstore"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in SOURCES:
        for p in sorted(base.rglob("*")) if base.is_dir() else [base]:
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def spark_home():
    """The Spark install the program builds and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not (Path(home) / "jars").is_dir():
        sys.exit("lakebench: SPARK_HOME does not name a Spark install")
    return home


def build():
    """Compile the program and the benchmark's own code unless the classes
    already match the sources."""
    digest = source_digest()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "compile"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        cmd.insert(1, f"-Dsbt.repository.config={repos}")
    log("lakebench: building " + " ".join(cmd))
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit(f"lakebench: build failed ({r.returncode})")
    STAMP.write_text(digest)


def run_jvm(args, work, out):
    mem = 4
    try:
        total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        mem = max(2, min(4, int(total_gb / 4)))
    except (ValueError, OSError):
        pass
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Xmx{mem}g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{CLASSES}:{spark_home()}/jars/*", "lakebench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--out", str(out)]
    if args.size == "tiny":
        cmd += ["--size", "tiny"]
    if args.plant:
        cmd += ["--plant", args.plant]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("lakebench: workload timed out")
    if code != 0 or not out.exists():
        sys.exit(f"lakebench: workload exited {code} without a result")
    return json.loads(out.read_text())


def oracle_check(oracle_dir):
    """Compare each registry entry the traced etl_hourly run dumped against
    its DuckDB oracle SQL under tools/check.py's comparison: columns sorted
    by name, rows canonicalized and sorted, values exact. Returns the
    failures."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = check.duckdb.connect()
    tables = (oracle_dir / "tables_dir").read_text().strip()
    for t in ["documents", "embeddings", "events", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
    failures = []
    for name, sql in sorted(json.loads((oracle_dir / "oracle_sql.json").read_text()).items()):
        sides = []
        for q in (f"SELECT * FROM '{oracle_dir}/{name}/*.parquet'", sql):
            cur = con.execute(q)
            cols = [c[0] for c in cur.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            sides.append((sorted(cols), check.canon([[r[i] for i in order] for r in cur.fetchall()])))
        (got_cols, got), (want_cols, want) = sides
        if got_cols != want_cols:
            failures.append(f"{name}: columns {got_cols} != oracle {want_cols}")
        elif got != want:
            failures.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    con.close()
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--plant", choices=["dup_gold_row", "corrupt_chunk"], help="self-test only: plant a defect")
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("lakebench: the program's sources (src/main/scala/graft) are not in this checkout")
    build()

    work = HERE / "work" / str(os.getpid())
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    out = out_dir / f"{args.workload}-{args.seed}-trace{args.trace}.json"
    out.unlink(missing_ok=True)
    try:
        res = run_jvm(args, work, out)
        failures = list(res["failures"])
        failed = res["failed"]
        if (work / "oracle").is_dir():
            bad = oracle_check(work / "oracle")
            failures += bad
            failed = min(res["attempted"], failed + len(bad))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = res["correct"] and not failures
    for f in failures:
        log(f"lakebench: CHECK FAILED: {f}")
    for name, m in res["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in res["metrics"].items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
