"""Independent output checks for perfbench runs, computed with DuckDB over
the same parquet files the program reads.

- TPC-H and curation entries: each entry's oracle SQL runs in DuckDB; the
  program's result (written as parquet in the first untimed warm-up round)
  must match it exactly after sorting columns by name and rows by value.
- Scans, lookups and loads: DuckDB recomputes the row count and the
  per-column fingerprint sums of every generated predicate (see
  FINGERPRINT below and Checksum.fp in the Scala harness).
- DML rounds: DuckDB replays the round's DELETE, UPDATE and MERGE on a
  copy of customer and fingerprints the state the program left behind.
"""
import datetime
import decimal
import glob
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def fingerprint(col, typ):
    """DuckDB twin of Checksum.fp: one BIGINT per value, summed per column."""
    c = f'"{col}"'
    t = typ.upper()
    if t in ("BIGINT", "INTEGER", "SMALLINT"):
        e = f"CAST({c} AS BIGINT)"
    elif t == "DOUBLE":
        e = f"CAST(round({c} * 100) AS BIGINT)"
    elif t == "VARCHAR":
        e = (f"CASE WHEN length({c}) = 0 THEN 0 ELSE length({c}) + 1000 * unicode({c})"
             f" + 1000000 * unicode(right({c}, 1)) END")
    elif t.startswith("TIMESTAMP"):
        e = f"CAST(floor(epoch_us({c}) / 1000000) AS BIGINT)"
    elif t == "DATE":
        e = f"CAST({c} - DATE '1970-01-01' AS BIGINT)"
    else:
        raise ValueError(f"no fingerprint for {typ}")
    return f"CAST(coalesce(sum(coalesce({e}, 0)), 0) AS HUGEINT)"


def column_types(con, relation):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {relation}").fetchall()}


def fingerprint_query(con, relation, cols, where=""):
    types = column_types(con, relation)
    exprs = ", ".join(fingerprint(c, types[c]) for c in cols)
    row = con.execute(f"SELECT count(*), {exprs} FROM {relation} {where}").fetchone()
    return int(row[0]), {c: int(v) for c, v in zip(cols, row[1:])}


def same(count, sums, exp_count, exp_sums):
    return count == exp_count and {k: int(v) for k, v in sums.items()} == exp_sums


# ---------------------------------------------------------------- oracle SQL

def canon(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, int) and not isinstance(v, bool):
        return ("i", v)
    if isinstance(v, list):
        return ("l", tuple(canon(x) for x in v))
    return v


def rows_of(tbl):
    cols = sorted(tbl.column_names, key=str.lower)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted((tuple(canon(d[i]) for d in data) for i in range(tbl.num_rows)), key=repr)
    return [c.lower() for c in cols], rows


def compare_tables(got, exp):
    """None when equal, else a one-line reason."""
    gc, gr = rows_of(got)
    ec, er = rows_of(exp)
    if gc != ec:
        return f"columns differ: got {gc}, expected {ec}"
    if len(gr) != len(er):
        return f"row count {len(gr)} != expected {len(er)}"
    bad = sum(1 for a, b in zip(gr, er) if a != b)
    if bad:
        first = next((a, b) for a, b in zip(gr, er) if a != b)
        return f"{bad}/{len(gr)} rows differ; first got {first[0]} expected {first[1]}"
    return None


def check_oracle(con, results_dir, oracle_sql):
    failures = []
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            failures.append(f"{name}: no result written")
            continue
        got = pa.concat_tables([pq.read_table(f) for f in files])
        why = compare_tables(got, con.execute(sql).fetch_arrow_table())
        if why:
            failures.append(f"{name}: {why}")
    return failures


# ---------------------------------------------------------- generated inputs

def check_scan(con, op, memo):
    spec = op["spec"]
    key = (spec["table"], spec["key"], tuple(spec.get("cols") or ()), spec.get("lo"),
           spec.get("hi"), spec.get("k"))
    if key not in memo:
        if op["phase"] == "lookup":
            cols = list(column_types(con, spec["table"]))
            where = f'WHERE "{spec["key"]}" = {int(spec["k"])}'
        else:
            cols = spec.get("cols") or list(column_types(con, spec["table"]))
            where = f'WHERE "{spec["key"]}" BETWEEN {int(spec["lo"])} AND {int(spec["hi"])}'
        memo[key] = fingerprint_query(con, spec["table"], cols, where)
    exp_count, exp_sums = memo[key]
    if not same(op["count"], op["sums"], exp_count, exp_sums):
        return (f'{op["phase"]} {op["name"]} round {op["round"]}: got {op["count"]} rows '
                f'{op["sums"]}, expected {exp_count} rows {exp_sums}')
    return None


def dml_state(con, d):
    con.execute("CREATE OR REPLACE TEMP TABLE pb_w AS SELECT * FROM customer")
    con.execute(f"DELETE FROM pb_w WHERE c_acctbal < {d['delete_below']}")
    con.execute(f"UPDATE pb_w SET c_mktsegment = 'redacted' "
                f"WHERE c_nationkey % {int(d['update_mod'])} = {int(d['update_rem'])}")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE pb_src AS
        SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nk, c_acctbal AS bal,
               'merged' AS seg
        FROM customer WHERE c_custkey % {int(d['merge_mod'])} = 0
        UNION ALL
        SELECT c_custkey + 1000000000, c_name, c_nationkey, c_acctbal, 'inserted'
        FROM customer WHERE c_custkey <= {int(d['merge_new'])}""")
    # MERGE: matched rows take the new segment, unmatched rows are inserted
    con.execute("CREATE OR REPLACE TEMP TABLE pb_matched AS "
                "SELECT k FROM pb_src WHERE k IN (SELECT c_custkey FROM pb_w)")
    con.execute("UPDATE pb_w SET c_mktsegment = pb_src.seg FROM pb_src "
                "WHERE pb_w.c_custkey = pb_src.k")
    con.execute("INSERT INTO pb_w SELECT k, nm, nk, bal, seg FROM pb_src "
                "WHERE k NOT IN (SELECT k FROM pb_matched)")
    return fingerprint_query(con, "pb_w", list(column_types(con, "pb_w")))


def check_ops(con, ops):
    failures, memo, dml_memo = [], {}, {}
    for op in ops:
        if not op["ok"]:
            continue
        if op["phase"] in ("scan", "lookup", "load"):
            why = check_scan(con, op, memo)
            if why:
                failures.append(why)
        elif op["phase"] == "dml_state":
            key = json.dumps(op["spec"], sort_keys=True)
            if key not in dml_memo:
                dml_memo[key] = dml_state(con, op["spec"])
            exp_count, exp_sums = dml_memo[key]
            if not same(op["count"], op["sums"], exp_count, exp_sums):
                failures.append(f'DML round {op["round"]}: got {op["count"]} rows '
                                f'{op["sums"]}, expected {exp_count} rows {exp_sums}')
    return failures


def check_run(data_dir, run_dir, result):
    """Every failure as a one-line reason; empty when the run is correct."""
    con = connect(data_dir)
    failures = check_oracle(con, os.path.join(run_dir, "results"), result["oracle_sql"])
    failures += check_ops(con, result["ops"])
    return failures
