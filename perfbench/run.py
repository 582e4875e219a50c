#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result line.

    python3 perfbench/run.py --workload orc_scan --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and this
harness from source (perfbench/build.sbt, via sbt); later runs reuse the
build while no source file changed. Each run reads the engine's fixture
tables (copies in perfbench/fixtures/sf*; orc_scan also writes a seeded
ORC table), starts one JVM with a `local[nproc]` engine session, runs the
workload's closed loop for --seconds, checks every output, and prints as
its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run's spans are
kept in perfbench/.work/last/trace_spans.jsonl. A line before the result
line (prefixed "# perfbench") records host state and run facts.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
FIXTURES = HERE / "fixtures"
WORK = HERE / ".work"
BUILD_CP = HERE / "target" / "bench-classpath.txt"
BUILD_STAMP = HERE / "target" / "bench-build.stamp"
ENGINE_SRC = ROOT / "src" / "main" / "scala"

# Per-workload input size. stream_state reads the fixture tables at
# sf0.01, where per-batch commit and planning overhead dominates: at
# sf0.001 its ops took as long. orc_scan only registers views over sf0.01
# and scans its own seeded ORC table.
WORKLOADS = {
    "orc_scan": {"sf": "0.01", "orc_rows": 16_000_000},
    "stream_state": {"sf": "0.01", "orc_rows": 0},
}
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 850
JVM_HEAP = "3g"
# matches org.apache.spark.launcher.JavaModuleOptions for JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> "NoReturn":
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- host state ---------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---- build --------------------------------------------------------------

def source_stamp() -> str:
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    return env


def build() -> list:
    stamp = source_stamp()
    if not (BUILD_CP.exists() and BUILD_STAMP.exists() and BUILD_STAMP.read_text() == stamp):
        WORK.mkdir(exist_ok=True)
        log = WORK / "build.log"
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                    cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not BUILD_CP.exists():
            sys.stderr.write(log.read_text()[-3000:])
            fail(f"build failed (log: {log})", 3)
        BUILD_STAMP.write_text(stamp)
    return BUILD_CP.read_text().strip().split(os.pathsep)


# ---- output checks ------------------------------------------------------

def oracle_checks(fixtures: Path, outputs: Path) -> dict:
    """DuckDB oracle per entry output, compared in the canonical form of
    the engine's oracle checker; returns {entry: (ok, detail)}."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon
    oracle_file = outputs / "oracle_sql.json"
    if not oracle_file.exists():
        return {}
    con = duckdb.connect()
    for p in sorted(fixtures.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    res = {}
    for name, sql in json.loads(oracle_file.read_text()).items():
        got_dir = outputs / name
        if not got_dir.exists():
            res[name] = (False, "no output written")
            continue
        try:
            got = canon(pd.read_parquet(got_dir)).reset_index(drop=True)
            want = canon(con.execute(sql).df()).reset_index(drop=True)
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            res[name] = (False, f"oracle failed: {e}"[:300])
            continue
        if list(got.columns) != list(want.columns):
            res[name] = (False, f"columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            res[name] = (False, f"rows {len(got)} vs {len(want)}")
        elif not got.equals(want):
            res[name] = (False, "values differ")
        else:
            res[name] = (True, f"{len(got)} rows")
    con.close()
    return res


# ---- run ----------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=["0.001", "0.01"], help="override the fixture scale factor")
    ap.add_argument("--orc-rows", type=int, help="override the orc_scan table rows")
    a = ap.parse_args()
    if not ENGINE_SRC.joinpath("graft").is_dir() or not (ROOT / "BENCHMARK.json").exists():
        fail("run from the repository root: engine sources or BENCHMARK.json not found")
    if not (ROOT / "tools" / "check_oracle.py").exists():
        fail("the engine's oracle checker tools/check_oracle.py not found")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cfg = dict(WORKLOADS[a.workload])
    if a.sf is not None:
        cfg["sf"] = a.sf
    if a.orc_rows is not None:
        cfg["orc_rows"] = a.orc_rows

    classpath = build()
    started = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    total0, steal0 = cpu_times()
    load_start = loadavg()

    for stale in WORK.glob("run-*"):  # left by runs that were killed
        try:
            os.kill(int(stale.name[4:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = WORK / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    fixtures = FIXTURES / f"sf{cfg['sf']}"

    report_path = run_dir / "report.json"
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", str(fixtures), "--work", str(run_dir),
            "--out", str(report_path), "--cpus", str(nproc), "--orc-rows", str(cfg["orc_rows"])]
    log = run_dir / "jvm.log"
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    budget = RUN_LIMIT_S - (time.monotonic() - started)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not report_path.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM exited with {rc} (log: {log})", 4)
    report = json.loads(report_path.read_text())
    jvm_s = time.monotonic() - started

    checks = [dict(c) for c in report["checks"]]
    ops = report["ops_by_name"]
    failed_entries = set()
    for name, (ok, detail) in oracle_checks(fixtures, run_dir / "outputs").items():
        checks.append({"name": f"oracle {name}", "ok": ok, "detail": detail})
        if not ok:
            failed_entries.add(name)
    oracle_s = time.monotonic() - started - jvm_s
    attempted = sum(v["attempted"] for v in ops.values())
    failed = sum(v["attempted"] if k in failed_entries else v["failed"] for k, v in ops.items())

    total1, steal1 = cpu_times()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    load_end = loadavg()
    host = {"nproc": nproc, "local": report["info"].get("local"),
            "steal_share": round(steal, 4), "loadavg_start": load_start, "loadavg_end": load_end,
            # another tenant shows as steal, or as load above the cores this run uses
            "host_loaded": steal > 0.05 or load_start > nproc}

    metrics = dict(report["metrics"])
    metrics["success_ratio"] = {"value": 1.0 - failed / max(1, attempted), "unit": "ratio"}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] not in metrics:
            fail(f"metric {m['name']} missing from the report", 5)
        v = metrics[m["name"]]["value"]
        out[m["name"]] = {"value": v if v is not None and math.isfinite(v) else 0.0, "unit": m["unit"]}

    last = WORK / "last"
    shutil.rmtree(last, ignore_errors=True)
    last.mkdir(parents=True)
    for f in ["report.json", "jvm.log", "trace_spans.jsonl"]:
        if (run_dir / f).exists():
            shutil.copy(run_dir / f, last / f)
    shutil.rmtree(run_dir, ignore_errors=True)

    bad = [c for c in checks if not c["ok"]]
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
            "fixture_sf": cfg["sf"],
            "failed_checks": bad, "checks": len(checks), "ops_by_name": ops,
            "phase_s": {"jvm": round(jvm_s, 2), "oracle": round(oracle_s, 2)}, **report["info"]}
    print("# perfbench " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
