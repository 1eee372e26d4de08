"""Output checks, made apart from the program with DuckDB and pyarrow.

Each check returns a list of failure messages; an empty list passes.
`selftest.py` shows every check failing on a corrupted output.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# the star-schema tables every `SparkEntry.oracleSql` entry may name
SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
INT_COLUMNS = ["id_orig_p", "id_resp_p", "orig_bytes", "resp_bytes",
               "missed_bytes", "orig_pkts", "orig_ip_bytes", "resp_pkts",
               "resp_ip_bytes"]


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def frames_differ(spark, oracle):
    """The compare rules of `scripts/check.py`: columns sorted by name,
    then row count, dtype and exact values (NaN equal to NaN)."""
    spark = spark[sorted(spark.columns)].reset_index(drop=True)
    oracle = oracle[sorted(oracle.columns)].reset_index(drop=True)
    if list(spark.columns) != list(oracle.columns):
        return [f"columns {list(spark.columns)} vs {list(oracle.columns)}"]
    if len(spark) != len(oracle):
        return [f"rows {len(spark)} vs {len(oracle)}"]
    errs = []
    for c in spark.columns:
        a, b = spark[c], oracle[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av, bv = a.astype(float).values, b.astype(float).values
            same = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            if str(a.dtype) != str(b.dtype):
                errs.append(f"col {c}: dtype {a.dtype} vs {b.dtype}")
                continue
            same = np.asarray((a.values == b.values) |
                              (pd.isna(a).values & pd.isna(b).values))
        if not same.all():
            i = int(np.argmax(~same))
            errs.append(f"col {c}: {np.count_nonzero(~same)} diffs, "
                        f"first@{i}: {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return errs


def manifest(con, table_dir, m):
    """The transformed rows' aggregates equal the generator's manifest."""
    sums = ", ".join(f"CAST(sum({c}) AS BIGINT)" for c in INT_COLUMNS)
    row = con.sql(f"""SELECT count(*),
        count(*) FILTER (duration_sec IS NULL),
        count(*) FILTER (local_orig_bool), count(*) FILTER (local_resp_bool),
        count(*) FILTER (service IS NULL),
        count(*) FILTER (label = 'Malicious'), {sums}
        FROM {parquet(table_dir)}""").fetchone()
    want = [m["rows"], m["null_duration_rows"], m["local_orig_true"],
            m["local_resp_true"], m["null_service_rows"],
            m["malicious_rows"]] + [m["sums"][c] for c in INT_COLUMNS]
    names = ["rows", "null_duration_rows", "local_orig_true",
             "local_resp_true", "null_service_rows",
             "malicious_rows"] + [f"sum({c})" for c in INT_COLUMNS]
    return [f"{n}: stored {g} vs manifest {w}"
            for n, g, w in zip(names, row, want) if g != w]


def relations_differ(con, got_sql, want_sql):
    """Multiset equality of two relations, in DuckDB: the same column
    names and types, and the same rows with exact values and NULL equal
    to NULL (the rules of `scripts/check.py`, without pulling large
    tables into pandas)."""
    con.sql(f"CREATE OR REPLACE TEMP TABLE got AS {got_sql}")
    con.sql(f"CREATE OR REPLACE TEMP TABLE want AS {want_sql}")
    got, want = con.sql("SELECT * FROM got"), con.sql("SELECT * FROM want")
    g = sorted(zip(got.columns, map(str, got.types)))
    w = sorted(zip(want.columns, map(str, want.types)))
    if g != w:
        return [f"columns {g} vs {w}"]
    cols = ", ".join(f'"{c}"' for c, _ in g)

    def minus(a, b):
        return con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                       f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
    extra, missing = minus("got", "want"), minus("want", "got")
    if extra or missing:
        return [f"{extra} rows not in the reference, {missing} reference "
                "rows missing"]
    return []


def rederive(con, oracle_sql, fixture_path, csv_dir, table_dir):
    """The `q28_iot_transform` oracle program, run by DuckDB over the
    generated CSV, equals the stored rows one for one."""
    sql = oracle_sql.replace(fixture_path, f"{csv_dir}/*.csv")
    if sql == oracle_sql:
        return ["the q28 oracle does not read the fixture path"]
    return relations_differ(con, f"SELECT * FROM {parquet(table_dir)}", sql)


def uid_order(table_dir):
    """The store is totally ordered by uid: every file is sorted, and the
    files' uid ranges do not overlap."""
    errs, ranges = [], []
    for f in sorted(glob.glob(f"{table_dir}/*.parquet")):
        uids = pq.read_table(f, columns=["uid"]).column("uid").to_pylist()
        if not uids:
            continue
        if any(a > b for a, b in zip(uids, uids[1:])):
            errs.append(f"{os.path.basename(f)} is not sorted by uid")
        ranges.append((uids[0], uids[-1], os.path.basename(f)))
    ranges.sort()
    for (_, hi, f1), (lo, _, f2) in zip(ranges, ranges[1:]):
        if lo <= hi:
            errs.append(f"uid ranges of {f1} and {f2} overlap")
    return errs


def row_counts(con, m, csv_dir, store_dir, serving_dir):
    """The CSV, the store and the serving table hold the same rows."""
    csv = con.sql(f"SELECT count(*) FROM read_csv('{csv_dir}/*.csv', "
                  "header=true, all_varchar=true)").fetchone()[0]
    store = con.sql(f"SELECT count(*) FROM {parquet(store_dir)}").fetchone()[0]
    serving = con.sql(
        f"SELECT count(*) FROM {parquet(serving_dir)}").fetchone()[0]
    if not (m["rows"] == csv == store == serving):
        return [f"rows: manifest {m['rows']}, csv {csv}, store {store}, "
                f"serving {serving}"]
    return []


def same_table(con, a_dir, b_dir, what):
    """Two tables hold the same rows."""
    return [f"{what}: {e}" for e in relations_differ(
        con, f"SELECT * FROM {parquet(a_dir)}", f"SELECT * FROM {parquet(b_dir)}")]


def exactly_once(con, table_dir):
    """Every uid appears once in the sink."""
    n, d = con.sql(f"SELECT count(*), count(DISTINCT uid) "
                   f"FROM {parquet(table_dir)}").fetchone()
    return [] if n == d else [f"{n - d} duplicate rows in the sink"]


def sf_connection(sf_dir):
    con = duckdb.connect()
    for t in SF_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_frame(con, sql):
    rel = con.sql(sql)
    wide = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "INT128", "UHUGEINT")]
    if wide:
        raise ValueError(f"oracle emits HUGEINT column(s) {wide}")
    return rel.df()


def result_frame(con, result_dir):
    if not glob.glob(f"{result_dir}/*.parquet"):
        if not os.path.exists(f"{result_dir}/_SUCCESS"):
            raise ValueError("no committed result")
        return None
    return con.sql(f"SELECT * FROM {parquet(result_dir)}").df()


def query_result(con, name, want, result_dir):
    """A query's result equals its DuckDB oracle (`want`)."""
    try:
        got = result_frame(con, result_dir)
    except ValueError as e:
        return [f"{name}: {e}"]
    if got is None:
        return [] if len(want) == 0 else [f"{name}: empty, oracle {len(want)} rows"]
    return [f"{name}: {e}" for e in frames_differ(got, want)]


def warm_equals_cold(con, name, cold_dir, warm_dir):
    """The warm pass wrote the same result as the cold pass."""
    try:
        a, b = result_frame(con, cold_dir), result_frame(con, warm_dir)
    except ValueError as e:
        return [f"{name}: {e}"]
    if a is None or b is None:
        return [] if a is None and b is None else [f"{name}: one pass empty"]
    return [f"{name} warm vs cold: {e}" for e in frames_differ(b, a)]
