#!/usr/bin/env python3
"""Emulates the driver's DuckDB-oracle compare: for each query in
oracle_sql.json, read the Spark parquet result (file order preserved) and the
DuckDB oracle result, sort columns by name, and compare schema + values
exactly. With `--base <out_dir>` (another tree's Verify output) it also
compares every query's output, oracled or not, with that tree's row for row
and prints `identical N/M` and the names that differ.
Usage: oracle_check.py [--base <base_out>] <sf_dir> <out_dir> [filter]
Run via tools/run_verify.sh."""
import sys, json, glob, math, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def read_output(outdir, name):
    """A query's Verify output as one arrow table, part files in name order
    (as the oracle compare reads them), or None when it is missing."""
    import pyarrow as pa, pyarrow.parquet as pq
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def nan_free(v):
    """A row value with NaN made comparable (NaN == NaN here)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [nan_free(x) for x in v]
    if isinstance(v, dict):
        return {k: nan_free(x) for k, x in v.items()}
    return v


def output_diff(a, b):
    """None when two outputs are identical row for row, else the reason."""
    if a is None or b is None:
        return "missing in " + ("this tree" if a is None else "base")
    if not a.schema.equals(b.schema, check_metadata=False):
        return f"schema {a.schema.types} != base {b.schema.types}"
    if a.num_rows != b.num_rows:
        return f"{a.num_rows} rows != base {b.num_rows}"
    if a.equals(b):
        return None
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        if nan_free(ra) != nan_free(rb):
            return f"row {i}: {ra} != base {rb}"
    return None


def diff_trees(outdir, basedir, only):
    names = sorted({os.path.basename(d.rstrip("/"))
                    for o in (outdir, basedir) for d in glob.glob(f"{o}/*/")})
    if only:
        names = [n for n in names if any(tok in n for tok in only.split(","))]
    same = 0
    for name in names:
        why = output_diff(read_output(outdir, name), read_output(basedir, name))
        if why is None:
            same += 1
        else:
            print(f"differs {name}: {why[:300]}")
    print(f"== identical {same}/{len(names)} (vs {basedir}) ==")


def main():
    args = sys.argv[1:]
    basedir = None
    if args[:1] == ["--base"]:
        basedir, args = args[1], args[2:]
    sfdir, outdir = args[0], args[1]
    only = args[2] if len(args) > 2 and args[2] else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and not any(tok in name for tok in only.split(",")):
            continue
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_bad += 1
            continue
        try:
            spark_df = con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            orc_df = con.sql(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        s = spark_df[sorted(spark_df.columns)]
        o = orc_df[sorted(orc_df.columns)]
        errs = []
        if list(s.columns) != list(o.columns):
            errs.append(f"cols spark={list(s.columns)} oracle={list(o.columns)}")
        elif s.shape != o.shape:
            errs.append(f"shape spark={s.shape} oracle={o.shape}")
        else:
            for c in s.columns:
                if str(s[c].dtype) != str(o[c].dtype):
                    errs.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
            if not errs:
                neq = (s.values != o.values)
                if neq.any():
                    import numpy as np
                    idx = list(zip(*np.where(neq)))[:5]
                    for (r, ci) in idx:
                        c = s.columns[ci]
                        errs.append(f"row {r} col {c}: spark={s.iloc[r, ci]!r} oracle={o.iloc[r, ci]!r}")
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs[:6]))
            n_bad += 1
        else:
            print(f"ok   {name} ({len(s)} rows)")
            n_ok += 1
    # no-oracle queries: row-count-only report
    for d in sorted(glob.glob(f"{outdir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name not in oracle:
            files = sorted(glob.glob(f"{d}/*.parquet"))
            if files:
                n = con.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
                print(f"info {name}: no oracle, {n} rows")
    print(f"== {n_ok} ok, {n_bad} fail ==")
    if basedir:
        diff_trees(outdir, basedir, only)
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
