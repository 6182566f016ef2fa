"""Benchmark driver: builds the program, runs one workload in one JVM,
checks its outputs, and prints one JSON result as the last line.

    python3 e2ebench/run.py --workload ingest|dedup|serve --seed N \
        --seconds S --trace 0|1

With --trace 0 the result's metrics are the end_to_end metrics of
BENCHMARK.json; with --trace 1 its per_layer metrics. The traced run
also writes a span trace and a per-layer metrics file (every layer
metric the workload produced) under .bench_out/. Exit code 0 when every
check passed, 1 when one failed, 2 when the build failed, 3 on timeout.
"""
import argparse
import contextlib
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
DEADLINE_S = 170
JAVA_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def oracle_compare(oracle_dir: Path, log) -> tuple:
    """Sampled serve queries against DuckDB through the repository's
    tools/compare.py, over the two tables serve generates:
    (queries compared, queries that failed)."""
    sql = oracle_dir / "oracle_sql.json"
    if not sql.is_file():
        return 0, 0
    n = len(json.loads(sql.read_text()))
    spec = importlib.util.spec_from_file_location("compare", ROOT / "tools" / "compare.py")
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    compare.TABLES = ["documents", "embeddings"]
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = compare.main((oracle_dir / "tables").read_text(), str(oracle_dir))
    except Exception as e:  # a comparison that cannot run is a failed check
        print(f"FAIL compare: {type(e).__name__}: {e}", file=out)
        rc = 1
    log.write(out.getvalue())
    bad = sum(1 for line in out.getvalue().splitlines() if line.startswith("FAIL"))
    return n, (bad or (1 if rc != 0 else 0))


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build(ROOT)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    start = time.monotonic()  # the build (first run in a checkout) has its own budget

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    run_dir = ROOT / ".bench_run" / f"{tag}-{os.getpid()}"
    out_dir = ROOT / ".bench_out" / tag
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    tmp, local, work = (run_dir / d for d in ("tmp", "local", "work"))
    for d in (tmp, local, work):
        d.mkdir(parents=True)
    cmd = (["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--out", str(out_dir)])
    log_path = out_dir / "run.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=run_dir, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"timed out; log: {log_path}", file=sys.stderr)
                return 3
            lines = stdout.strip().splitlines()
            if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
                print(f"benchmark JVM failed ({proc.returncode}); log: {log_path}", file=sys.stderr)
                print(log_path.read_text()[-3000:], file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            compared, bad = oracle_compare(work / "oracle", log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result["attempted"] += compared
    result["failed"] += bad
    result["correct"] = result["correct"] and bad == 0
    measured = result["metrics"]
    (out_dir / "metrics.json").write_text(json.dumps(measured, indent=1, sort_keys=True))
    for line in lines[:-1]:
        print(line)
    if compared:
        print(f"[check] {'ok  ' if bad == 0 else 'FAIL'} serve.oracle_queries {compared - bad}/{compared} match DuckDB")
    print(f"[metric] error_rate {result['failed'] / result['attempted']:.4f} failed/attempted")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        print(f"metrics not produced: {missing}; log: {log_path}", file=sys.stderr)
        if result["correct"]:
            return 1
    result["metrics"] = {m["name"]: measured[m["name"]] for m in wanted if m["name"] in measured}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
