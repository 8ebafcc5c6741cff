#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark JVM
(sbt, in perfbench/) from the checkout's sources; later runs reuse the
build until a source changes. The JVM runs the workload and writes what
it measured; this script checks the outputs (batch results against their
DuckDB oracles), prints progress on stderr and, as the last line of
stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics; the traced run also writes its
spans to perfbench/out/trace-<workload>.json. Exits 1 when any output is
wrong, 2 when the checkout cannot be benchmarked.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"
WORKLOADS = ("stream-catchup", "batch-queries")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JVM_TIMEOUT_S = 170


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int) -> None:
    log(msg)
    sys.exit(code)


def digest_files(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build_inputs():
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += [p for p in (ROOT / "project").glob("*") if p.is_file()]
    for src in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += [p for p in src.rglob("*") if p.is_file()]
    return files


def ensure_built() -> list:
    """Build with sbt unless the last build saw the same sources; return
    the JVM command prefix: java with the root build's JVM options (its
    heap and JDK module openings) and the classpath."""
    launch = BENCH / "target" / "launch.txt"
    stamp_file = BENCH / "target" / "sources.sha256"
    stamp = digest_files(build_inputs())
    if not (launch.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp):
        log("building the benchmark JVM (sbt compile)")
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
            cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0 or not launch.is_file():
            fail(f"sbt build failed (exit {proc.returncode})", 2)
        stamp_file.write_text(stamp)
    lines = launch.read_text().splitlines()
    opts = [o for o in lines[1:] if o]
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return [str(java), *opts, "-cp", lines[0]]


def cpu_steal_jiffies():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


def run_jvm(java: list, args, work: Path) -> dict:
    out = work / "result.json"
    cmd = java + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", str(DATA), "--work", str(work), "--out", str(out),
    ]
    (work / "tmp").mkdir(parents=True)
    steal0, total0 = cpu_steal_jiffies()
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s", 1)
    if proc.returncode != 0 or not out.is_file():
        fail(f"benchmark JVM failed (exit {proc.returncode})", 1)
    # Time the hypervisor ran other guests on this host's CPUs: the usual
    # reason two runs of the same code disagree.
    steal1, total1 = cpu_steal_jiffies()
    log(f"CPU steal during the run: {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
    return json.loads(out.read_text())


def oracle_mismatches(result: dict, work: Path) -> dict:
    """Compare each batch query's first result with its DuckDB oracle,
    as tools/compare.py does: same columns, dtypes, row count and values
    in order. Expected results are cached per data directory content."""
    import duckdb
    import pandas as pd

    def norm(df):
        return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)

    cache = BENCH / ".cache" / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    data_key = digest_files([DATA / f"{t}.parquet" for t in TABLES])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / t}.parquet')")
    problems = {}
    ran = {q["name"] for q in result["queries"] if q["status"] == "ok"}
    for name, sql in sorted(result["oracle_sql"].items()):
        if name not in ran:
            continue
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:24]
        cached = cache / f"{name}-{key}.pkl"
        try:
            if cached.is_file():
                exp = pd.read_pickle(cached)
            else:
                exp = norm(con.sql(sql).df())
                exp.to_pickle(cached)
            got = norm(con.sql(f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')").df())
        except Exception as e:  # a failing oracle or unreadable result is a mismatch
            problems[name] = f"compare failed: {e}"
            continue
        if list(exp.columns) != list(got.columns):
            problems[name] = f"columns: oracle {list(exp.columns)}, spark {list(got.columns)}"
        elif len(exp) != len(got):
            problems[name] = f"rows: oracle {len(exp)}, spark {len(got)}"
        else:
            dt = [f"{c}: oracle {exp[c].dtype}, spark {got[c].dtype}"
                  for c in exp.columns if exp[c].dtype != got[c].dtype]
            if dt:
                problems[name] = "dtypes " + "; ".join(dt)
            else:
                try:
                    pd.testing.assert_frame_equal(exp, got, check_dtype=False, check_exact=True)
                except AssertionError as e:
                    problems[name] = "values: " + str(e).split("\n")[0]
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no graft sources to build", 2)
    if not spec_file.is_file() or not DATA.is_dir():
        fail("BENCHMARK.json or the benchmark tables are missing", 2)
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    java = ensure_built()
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run_jvm(java, args, work)
        attempted, failed = result["attempted"], result["failed"]
        errors = list(result["errors"])
        walls = result["wall_s"]
        for q in result["queries"]:
            log(f"query {q['name']} pass {q['rep']}: {q['status']} build {q['build_s']:.3f} s "
                f"exec {q['exec_s']:.3f} s, {q['rows']} rows")
        if result["oracle_sql"]:
            bad = oracle_mismatches(result, work)
            errors += [f"{n}: result differs from its oracle: {why}" for n, why in bad.items()]
            failed += sum(1 for q in result["queries"] if q["status"] == "ok" and q["name"] in bad)
            # A mismatched query is not timed: passes are re-summed without it.
            reps = sorted({q["rep"] for q in result["queries"]})
            walls = [sum(q["build_s"] + q["exec_s"] for q in result["queries"]
                         if q["rep"] == r and q["status"] == "ok" and q["name"] not in bad)
                     for r in reps]
        if args.trace:
            out_dir = BENCH / "out"
            out_dir.mkdir(exist_ok=True)
            trace_file = out_dir / f"trace-{args.workload}.json"
            trace_file.write_text(json.dumps(result["trace"]))
            for k, v in sorted(result["trace"].get("layers", {}).items()):
                log(f"layer {k} = {v:.6g}")
            for k, v in sorted(result["trace"].get("self_s", {}).items()):
                log(f"self time {k} = {v:.3f} s")
            log(f"spans written to {trace_file.relative_to(ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = {
        "setup_s": result["setup_s"],
        "wall_s": statistics.median(walls) if walls else float("nan"),
        "peak_rss_mb": result["peak_rss_mb"],
        **result["layers"],
    }
    for e in errors:
        log(f"FAIL {e}")
    correct = not errors and failed == 0
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"workload reported no {', '.join(missing)}", 1)
    log(f"{args.workload} seed {args.seed}: setup {result['setup_s']:.3f} s, units {walls}, "
        f"{attempted} operations, {failed} failed")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
