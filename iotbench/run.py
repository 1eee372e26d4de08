#!/usr/bin/env python3
"""The repo's benchmark: one workload through the program's public entry
points in one JVM, cold pass then warm passes, outputs checked apart
from the program.

    python3 iotbench/run.py --workload iot_dag --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark's JVM side from source when they are
missing or stale, generates the workload's inputs from `--seed`, runs
`iotbench.Main` at `local[nproc]`, checks the outputs with DuckDB and
prints one JSON line: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. See README.md for what each figure means.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
BUILD_STAMP = HERE / "target" / "iotbench.build"

sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import gen  # noqa: E402

# (files, rows per file): a few large files for the batch DAG, a backlog
# of many small ones for the stream drain (same generator and row mix)
SHAPES = {"iot_dag": (4, 50_000), "iot_stream": (128, 750)}
# registered queries with a DuckDB oracle, one or more per family module
# (README.md gives the reason for each)
QUERY_MIX = [
    "q109_data_quality", "q225_fd_audit", "q98_column_profile",
    "q226_ind_audit", "q114_pagerank", "q192_hits", "q198_prefix_join",
    "q222_poisson_bootstrap", "q88_media_headers", "q160_robust_outliers",
    "q01_pricing_summary", "q68_vector_norms", "q78_full_outer",
    "q137_k_anonymity", "q135_kmeans", "q80_curation_pipeline",
]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        str(Path.home() / "testdata" / "sf0.01"))
# a fixed heap (initial = maximum), so the resident peak follows the
# program's live data rather than when G1 chose to grow the heap
HEAP = "2g"
RUN_LIMIT_S = 170
# JDK 17 module openings Spark needs outside spark-submit (build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"iotbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads from this checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala")]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    h = hashlib.sha1()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and `iotbench.Main` with sbt when the sources
    changed since the last build; returns the runtime classpath."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail("no program sources beside the benchmark (build.sbt, src/main)")
    digest = source_digest()
    if BUILD_STAMP.exists():
        stamp = json.loads(BUILD_STAMP.read_text())
        if stamp["digest"] == digest:
            return stamp["classpath"]
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    BUILD_STAMP.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, workload, work, seconds, trace, deadline):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           *ADD_OPENS, "-cp", classpath, "iotbench.Main", workload,
           str(work), str(seconds), str(trace), str(cpus())]
    if workload == "query_mix":
        cmd += [SF_DIR, ",".join(QUERY_MIX)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past the run limit; see {work / 'jvm.log'}")
    if code != 0 or not (work / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"the JVM exited with {code}")
    return json.loads((work / "result.json").read_text())


# ------------------------------------------------------------------ checks

def check_iot_dag(work, m, r):
    con = duckdb.connect()
    csv, cold = work / "input", work / "cold"
    serving = work / "warehouse" / "iot_serving"
    q28 = r["oracle_sql"]["q28_iot_transform"]
    errs = {
        "manifest": checks.manifest(con, cold / "store", m),
        "rederive": checks.rederive(con, q28, r["fixture_path"], csv,
                                    cold / "store"),
        "uid_order": checks.uid_order(cold / "store"),
        "row_counts": checks.row_counts(con, m, csv, cold / "store",
                                        cold / "serving"),
        "warm_serving": checks.same_table(con, cold / "serving", serving,
                                          "warm serving vs cold"),
    }
    for rep in r["workload"]["reports"]:
        if (rep["rows_written"], rep["serving_count"]) != (m["rows"], m["rows"]):
            errs["manifest"].append(f"DagReport {rep} vs {m['rows']} rows")
    return errs


def check_iot_stream(work, m, r):
    con = duckdb.connect()
    csv = work / "input"
    cold, warm = work / r["workload"]["cold_sink"], work / r["workload"]["warm_sink"]
    q28 = r["oracle_sql"]["q28_iot_transform"]
    return {
        "manifest": checks.manifest(con, cold, m) + checks.manifest(con, warm, m),
        "rederive": checks.rederive(con, q28, r["fixture_path"], csv, cold),
        "exactly_once": checks.exactly_once(con, cold) +
                        checks.exactly_once(con, warm),
    }


def oracle_frames(con, sqls):
    """Oracle results for the mix; they depend only on the SQL and the
    read-only sf tables, so they are cached across runs."""
    cache = WORK / "oracle_cache"
    cache.mkdir(parents=True, exist_ok=True)
    stat = "".join(f"{p.name}:{p.stat().st_size}:{p.stat().st_mtime_ns}"
                   for p in sorted(Path(SF_DIR).glob("*.parquet")))
    out = {}
    for name, sql in sqls.items():
        key = hashlib.sha1((sql + SF_DIR + stat).encode()).hexdigest()
        f = cache / f"{name}-{key}.pkl"
        if f.exists():
            out[name] = pickle.loads(f.read_bytes())
        else:
            out[name] = checks.oracle_frame(con, sql)
            f.write_bytes(pickle.dumps(out[name]))
    return out


def check_query_mix(work, m, r):
    con = checks.sf_connection(SF_DIR)
    cold, warm = work / r["workload"]["cold_dir"], work / r["workload"]["warm_dir"]
    errs = {"oracle": [], "warm_equals_cold": []}
    try:
        want = oracle_frames(con, {q: r["oracle_sql"][q] for q in QUERY_MIX})
    except Exception as e:  # an oracle that cannot run checks nothing
        return {"oracle": [f"oracle failed: {e}"]}
    # a query that failed is counted in `failed`; the checks speak of the rest
    for q in sorted(set(QUERY_MIX) - set(r["workload"]["failed_queries"])):
        errs["oracle"] += checks.query_result(con, q, want[q], cold / q)
        errs["warm_equals_cold"] += checks.warm_equals_cold(con, q, cold / q,
                                                            warm / q)
    return errs


CHECKS = {"iot_dag": check_iot_dag, "iot_stream": check_iot_stream,
          "query_mix": check_query_mix}


# ------------------------------------------------------------------ metrics

def end_to_end(r):
    # warm = the second pass in the JVM. Later passes are faster still (the
    # JIT keeps warming), so a median over however many passes fit the run
    # would move with the pass count rather than with the program.
    warm = r["warm"][0]
    return {
        "setup_s": (r["setup_s"], "s"),
        "cold_s": (r["cold_s"], "s"),
        "warm_s": (warm["s"], "s"),
        "task_cpu_s": (r["cold_cpu_s"] + warm["cpu_s"], "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "stored_mb": (r["stored_mb"], "MB"),
    }


QUERY_LAYER = [("compile_ms", "ms"), ("compile_count", "count"),
               ("analysis_ms", "ms"), ("optimization_ms", "ms"),
               ("planning_ms", "ms"), ("jobs", "count"),
               ("driver_gap_s", "s"), ("task_run_s", "s"),
               ("task_cpu_s", "s"), ("gc_s", "s"),
               ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
               ("spill_mb", "MB"), ("exchanges", "count")]
IOT_LAYER = [("csv_scan_s", "s"), ("transform_s", "s"),
             ("parquet_write_s", "s"), ("sorted_write_s", "s"),
             ("serving_load_s", "s"), ("sort_shuffle_write_mb", "MB"),
             ("sort_spill_mb", "MB"), ("dag_jobs", "count"),
             ("csv_mb_per_s", "MB/s")]
STREAM_PHASES = [("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                 ("commit_offsets", "commitOffsets"),
                 ("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
                 ("query_planning", "queryPlanning")]


def per_layer(workload, r):
    """Every per-layer metric; a layer the workload leaves idle reads 0."""
    out = {}
    for when in ("cold", "warm"):
        layer = r[f"{when}_layer"] or {}
        for name, unit in QUERY_LAYER:
            out[f"query.{name}.{when}"] = (layer.get(name, 0), unit)
    probe = dict(r["probe"])
    if workload == "iot_dag":
        probe["dag_jobs"] = r["warm_layer"]["jobs"]
    for name, unit in IOT_LAYER:
        out[f"iot.{name}"] = (probe.get(name, 0), unit)
    cold_b, warm_b = r["cold_batches"], r["warm_batches"] or []

    def p50(key):
        return statistics.median(b.get(key, 0) for b in warm_b) if warm_b else 0

    out["stream.batches"] = (len(cold_b), "count")
    out["stream.first_batch_ms"] = (
        cold_b[0]["triggerExecution"] if cold_b else 0, "ms")
    out["stream.trigger_p50_ms"] = (p50("triggerExecution"), "ms")
    for name, key in STREAM_PHASES:
        out[f"stream.{name}_p50_ms"] = (p50(key), "ms")
    sw = r["workload"] if workload == "iot_stream" else {}
    out["stream.sink_files"] = (sw.get("sink_files", 0), "count")
    out["stream.checkpoint_mb"] = (sw.get("checkpoint_mb", 0), "MB")
    out["session.build_s"] = (r["session_build_s"], "s")
    out["jvm.gc_s"] = (r["jvm_gc_s"], "s")
    out["jvm.heap_used_peak_mb"] = (r["jvm_heap_used_peak_mb"], "MB")
    out["trace.overhead_pct"] = (r["trace_overhead_pct"], "%")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    classpath = build()
    deadline = max(deadline, time.monotonic() + 150)  # a build is not a run

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    manifest = None
    if a.workload in SHAPES:
        files, rows = SHAPES[a.workload]
        manifest = gen.write(str(work / "input"), a.seed, files, rows)
        (work / "manifest.json").write_text(json.dumps(manifest, indent=1))
    elif not Path(SF_DIR, "lineitem.parquet").exists():
        fail(f"query_mix needs the sf tables at {SF_DIR}")

    r = run_jvm(classpath, a.workload, work, a.seconds, a.trace, deadline)
    errs = CHECKS[a.workload](work, manifest, r)
    for check, msgs in errs.items():
        for msg in msgs[:5]:
            print(f"CHECK FAILED [{check}] {msg}", file=sys.stderr)
    if a.trace and a.workload == "query_mix":
        trace_file = WORK / f"trace-{a.workload}-{a.seed}.json"
        trace_file.write_text(json.dumps(r["workload"]["per_query"], indent=1))
    metrics = per_layer(a.workload, r) if a.trace else end_to_end(r)
    passes = 1 + len(r["warm"])
    print(json.dumps({
        "correct": not any(errs.values()),
        "attempted": passes * r["ops_per_pass"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
