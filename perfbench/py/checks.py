"""Output checks for one run, against DuckDB on the same fixture.

- A query with oracle SQL must match it exactly, by the rules of
  tools/oracle_check.py: columns compared sorted by name, then dtypes,
  shape and every value.
- A query without an oracle must return rows. So must the curation funnels
  in UNCHECKED_ORACLES: their recursive-CTE oracle runs for minutes in
  DuckDB at the benchmark's scale (70 s for q215 at sf0.01).
- A row stream must match a DuckDB scan of the same files: row count, and
  per column the non-null count and an integer sum (integers as is,
  doubles as round(x * 10^4), strings by length, timestamps by epoch
  seconds).
"""
import glob
import os

import duckdb

UNCHECKED_ORACLES = {"q214", "q215", "q216"}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def compare(con, files, oracle):
    s = con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    if oracle is None:
        return len(s), ([] if len(s) > 0 else ["no rows"])
    o = con.sql(oracle).fetchdf()
    s, o = s[sorted(s.columns)], o[sorted(o.columns)]
    if list(s.columns) != list(o.columns):
        return len(s), [f"cols {list(s.columns)} != oracle {list(o.columns)}"]
    if s.shape != o.shape:
        return len(s), [f"shape {s.shape} != oracle {o.shape}"]
    errs = [f"dtype[{c}] {s[c].dtype} != oracle {o[c].dtype}"
            for c in s.columns if str(s[c].dtype) != str(o[c].dtype)]
    if not errs and (s.values != o.values).any():
        errs.append("values differ from oracle")
    return len(s), errs


def row_sums(con, rows_glob, cols):
    exprs = ["count(*)"]
    types = {r[0]: r[1] for r in
             con.sql(f"DESCRIBE SELECT * FROM read_parquet('{rows_glob}')").fetchall()}
    for c in cols:
        t = types[c]
        v = (f"length({c})" if t == "VARCHAR" else
             f"epoch({c})::BIGINT" if t.startswith("TIMESTAMP") else
             f"round({c} * 10000.0)::BIGINT" if t in ("DOUBLE", "FLOAT") else c)
        exprs += [f"count({c})", f"sum({v})::BIGINT"]
    r = con.sql(f"SELECT {', '.join(exprs)} FROM read_parquet('{rows_glob}')").fetchone()
    return r[0], list(r[1::2]), list(r[2::2])


def check_outputs(res, data, run_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    failures = []
    for o in res["outputs"]:
        files = sorted(glob.glob(os.path.join(run_dir, "check", o["name"], "*.parquet")))
        try:
            oracle = None if o["name"].split("_")[0] in UNCHECKED_ORACLES else o["oracle"]
            o["rows"], errs = compare(con, files, oracle) if files else (0, ["no output"])
        except Exception as e:  # noqa: BLE001 - any DuckDB error is a failed check
            o["rows"], errs = 0, [f"{type(e).__name__}: {e}"]
        failures += [f"{o['name']}: {e}" for e in errs]
    for r in res["row_sums"]:
        n, non_null, sums = row_sums(con, f"{data}/rows/*.parquet", r["cols"])
        if n != r["rows"] or non_null != r["non_null"]:
            failures.append(f"{r['name']}: rows/non-null {r['rows']}/{r['non_null']} "
                            f"!= DuckDB {n}/{non_null}")
        for c, got, want in zip(r["cols"], r["sums"], sums):
            if got != want:
                failures.append(f"{r['name']}: checksum of {c} {got} != DuckDB {want}")
    return failures
