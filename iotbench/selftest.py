#!/usr/bin/env python3
"""Shows that every output check fails on a deliberately corrupted output.

Run each workload once, then the self-test:

    for w in iot_dag iot_stream query_mix; do
      python3 iotbench/run.py --workload $w --seed 1 --seconds 1 --trace 0
    done
    python3 iotbench/selftest.py

Each case copies a workload's last work area, corrupts one of the
program's outputs in the copy, and requires the named check to fail. The
uncorrupted copy must pass every check. Exits non-zero on any miss.
"""
import glob
import json
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import run

SCRATCH = run.WORK / "selftest"


def files(d):
    return sorted(glob.glob(f"{d}/*.parquet"))


def rewrite(path, fn):
    t = pq.read_table(path)
    pq.write_table(fn(t), path)


def set_value(t, column, row, value):
    vals = t.column(column).to_pylist()
    vals[row] = value
    i = t.schema.get_field_index(column)
    return t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type))


def first_not_null(t, column):
    return next(i for i, v in enumerate(t.column(column).to_pylist()) if v is not None)


def nudge_duration(d):
    def fn(t):
        i = first_not_null(t, "duration_sec")
        return set_value(t, "duration_sec", i, t.column("duration_sec")[i].as_py() + 1e-6)
    rewrite(files(d)[0], fn)


def relabel(d):
    def fn(t):
        i = t.column("label").to_pylist().index("Malicious")
        return set_value(t, "label", i, "Benign")
    rewrite(files(d)[0], fn)


def reverse_file(d):
    rewrite(files(d)[0], lambda t: t.take(pa.array(range(t.num_rows - 1, -1, -1))))


def overlap_ranges(d):
    """Moves the highest uid of the second file into the first, keeping
    each file sorted and the rows conserved."""
    a, b = files(d)[:2]
    ta, tb = pq.read_table(a), pq.read_table(b)
    moved = tb.slice(tb.num_rows - 1)
    ta = pa.concat_tables([ta, moved.cast(ta.schema)])
    pq.write_table(ta.take(pc.sort_indices(ta, [("uid", "ascending")])), a)
    pq.write_table(tb.slice(0, tb.num_rows - 1), b)


def drop_row(d):
    rewrite(files(d)[0], lambda t: t.slice(1))


def duplicate_row(d):
    t = pq.read_table(files(d)[0])
    pq.write_table(t.slice(0, 1), f"{d}/part-duplicate.parquet")


def drop_file(d):
    for f in files(d)[:1]:
        shutil.os.remove(f)


def change_service(d):
    def fn(t):
        i = first_not_null(t, "service")
        return set_value(t, "service", i, "smtp")
    rewrite(files(d)[0], fn)


def corrupt_result(d):
    """Changes the first value of the first numeric column of a result."""
    def fn(t):
        for f in t.schema:
            if pa.types.is_integer(f.type) or pa.types.is_floating(f.type):
                return set_value(t, f.name, 0, t.column(f.name)[0].as_py() + 1)
        raise ValueError("no numeric column")
    rewrite(files(d)[0], fn)


def cold_and_warm(q, fn):
    def both(work, r):
        fn(work / r["workload"]["cold_dir"] / q)
        fn(work / r["workload"]["warm_dir"] / q)
    return both


# (workload, case, check that must fail, corruption of the work area)
CASES = [
    ("iot_dag", "label flipped in the store", "manifest",
     lambda w, r: relabel(w / "cold" / "store")),
    ("iot_dag", "one duration nudged in the store", "rederive",
     lambda w, r: nudge_duration(w / "cold" / "store")),
    ("iot_dag", "a store file in reverse order", "uid_order",
     lambda w, r: reverse_file(w / "cold" / "store")),
    ("iot_dag", "store files with overlapping uid ranges", "uid_order",
     lambda w, r: overlap_ranges(w / "cold" / "store")),
    ("iot_dag", "a row lost from the serving table", "row_counts",
     lambda w, r: drop_row(w / "cold" / "serving")),
    ("iot_dag", "warm serving table differs from cold", "warm_serving",
     lambda w, r: relabel(w / "warehouse" / "iot_serving")),
    ("iot_stream", "a sink file lost", "manifest",
     lambda w, r: drop_file(w / r["workload"]["cold_sink"])),
    ("iot_stream", "a service value changed in the sink", "rederive",
     lambda w, r: change_service(w / r["workload"]["cold_sink"])),
    ("iot_stream", "a row written twice", "exactly_once",
     lambda w, r: duplicate_row(w / r["workload"]["cold_sink"])),
    ("query_mix", "q01 result changed in both passes", "oracle",
     cold_and_warm("q01_pricing_summary", corrupt_result)),
    ("query_mix", "q114 warm result differs from cold", "warm_equals_cold",
     lambda w, r: corrupt_result(w / r["workload"]["warm_dir"] / "q114_pagerank")),
]


def failing(workload, work):
    r = json.loads((work / "result.json").read_text())
    m = json.loads((work / "manifest.json").read_text()) \
        if (work / "manifest.json").exists() else None
    return {k for k, v in run.CHECKS[workload](work, m, r).items() if v}


def copy(workload, name):
    dst = SCRATCH / name
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(run.WORK / workload, dst)
    return dst


def main():
    misses = 0
    for workload in sorted({c[0] for c in CASES}):
        if not (run.WORK / workload / "result.json").exists():
            print(f"MISSING {workload}: run the workload first")
            misses += 1
            continue
        clean = failing(workload, copy(workload, f"{workload}-clean"))
        print(f"{'ok  ' if not clean else 'MISS'} {workload}: uncorrupted "
              f"copy passes every check {sorted(clean) or ''}")
        misses += bool(clean)
        for i, (w, case, check, corrupt) in enumerate(CASES):
            if w != workload:
                continue
            work = copy(workload, f"{workload}-{i}")
            corrupt(work, json.loads((work / "result.json").read_text()))
            failed = failing(workload, work)
            hit = check in failed
            misses += not hit
            print(f"{'ok  ' if hit else 'MISS'} {workload}: {case} -> "
                  f"{check} fails (failing: {sorted(failed)})")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(1 if misses else 0)


if __name__ == "__main__":
    main()
