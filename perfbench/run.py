"""Benchmark of the ETL pipeline end to end (see perfbench/README.md).

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds the program from source on first use,
runs one workload in one JVM against a loopback report-API stub, checks
every output, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Exits non-zero, printing no result, when anything fails.
"""
import argparse
import csv
import io
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_nightly", "etl_fanout", "query_probe")
RUN_LIMIT_S = 170  # every run must end within 180 s, the build excepted

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def check_sample(work):
    """The harness's record counts are the ground truth for rows_written;
    confirm them with Python's quote-aware reader, as the reference counts
    (len(pd.read_csv(...)))."""
    if not (work / "sample.json").is_file():
        return True
    meta = json.loads((work / "sample.json").read_text())
    text = (work / "sample.csv").read_text(encoding="utf-8")
    n_csv = sum(1 for _ in csv.reader(io.StringIO(text, newline=""))) - 1
    try:
        import pandas as pd
        n_pd = len(pd.read_csv(io.StringIO(text)))
    except ImportError:
        n_pd = n_csv
    return n_csv == meta["records"] and n_pd == meta["records"]


def cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return str(v)


def rows_of(df):
    cols = sorted(df.columns)
    return cols, [tuple(cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]


def check_queries(work):
    """Each probe query's result (written by the harness's warm-up pass of
    the last set-up) against its DuckDB oracle over the same tables: the
    same columns and the same rows in the same order. Returns the names of
    the queries that differ; None when the run has no probe results."""
    setups = sorted(work.glob("setup*"))
    if not setups or not (setups[-1] / "oracles.json").is_file():
        return None
    import duckdb
    import pandas as pd
    d = setups[-1]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d / 'tables' / t}.parquet/*.parquet')")
    bad = []
    for name, sql in sorted(json.loads((d / "oracles.json").read_text()).items()):
        spark_rows = rows_of(pd.read_parquet(d / "results" / name))
        duck_rows = rows_of(con.execute(sql).fetchdf())
        if spark_rows != duck_rows or not spark_rows[1]:
            bad.append(name)
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd()
    out = root / ".bench_build"
    try:
        classes = build.build(root, out)
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    started = time.monotonic()

    # inputs that do not depend on the seed, built once per build
    cache = out / "cache" / (classes / ".stamp").read_text()[:16]
    for stale in [*(out / "cache").glob("*"), *(out / "work").glob("*")]:
        if stale != cache:
            shutil.rmtree(stale, ignore_errors=True)
    cache.mkdir(parents=True, exist_ok=True)
    work = out / "work" / f"{a.workload}-s{a.seed}-t{a.trace}"
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Xms2g", "-Xmx2g", "-Xss16m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{jars}/*", "perfbench.Harness",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--dir", str(work), "--out", str(work / "result.json"),
           "--cache", str(cache)]
    log_dir = out / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    log_path = log_dir / f"{a.workload}-s{a.seed}-t{a.trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{a.workload}: harness exceeded {RUN_LIMIT_S} s; log in {log_path}", 3)
    result_path = work / "result.json"
    if rc != 0 or not result_path.is_file():
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        fail("\n".join(tail) + f"\n{a.workload}: harness exited {rc}; log in {log_path}", 4)
    result = json.loads(result_path.read_text())
    if not check_sample(work):
        print("check: payload record count disagrees with a quote-aware CSV reader", file=sys.stderr)
        result["correct"] = False
    bad = check_queries(work)
    if bad:
        # a wrong result is a correct-share loss on every pass measured
        print(f"check: differs from its DuckDB oracle: {', '.join(bad)}", file=sys.stderr)
        result["correct"] = False
        m = result["metrics"]
        n = len(json.loads((sorted(work.glob("setup*"))[-1] / "oracles.json").read_text()))
        share = 1 - len(bad) / n
        for k in ("ok_share", "reports_per_s"):
            if k in m:
                m[k]["value"] *= share
        if "failed_share" in m:
            m["failed_share"]["value"] = 1 - (1 - m["failed_share"]["value"]) * share
    traces = out / "traces"
    traces.mkdir(exist_ok=True)
    if (work / "spans.jsonl").is_file():
        shutil.copy(work / "spans.jsonl", traces / f"{a.workload}-s{a.seed}-t{a.trace}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
