#!/usr/bin/env python3
"""Generate the sf1x SCALING fixture: /root/testdata/sf0.1 replicated 10x
with shifted keys — a PERFORMANCE decade for PLANS.md's scaling table, NOT
a correctness input (oracles never run against it; the driver's testdata
stays the only gate input).

Replication rules keep each table's internal STRUCTURE so per-query work
scales linearly and ratios are interpretable:
 - documents: replica k>0 prefixes EVERY token with r{k}x -> replicas share
   no 5-shingles, so the n-gram pair graph is 10 disjoint copies of sf0.1's
   (pairs scale 10x; verbatim replication would instead create 10-cliques
   per doc and blow pairs up ~100x — a fixture artifact, not a scale fact).
   doc_id += k*10_000_000 preserves doc_id % 10 (the q214/q215 batch split).
 - events: new user/event universes per replica (graph components replicate).
 - orders/lineitem: new order/customer keys; part/supp keys unchanged
   (baskets grow 10x over the same item space — how basket data scales).
 - dimension tables + embeddings copied verbatim.

Usage: tools/make_sf1x.py [src_dir] [out_dir] [factor] [prefix_letter]
"""
import sys, os, shutil
import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scaledata", "sf1x")
F = int(sys.argv[3]) if len(sys.argv) > 3 else 10
# Replica token-prefix LETTER — must be UNIQUE per application depth.
# With a fixed letter, chained applications collide: sf10x replica k>0 of
# sf1x's ORIGINAL docs gets tokens 'r{k}x'+orig, textually identical to
# sf10x replica 0's verbatim copy of sf1x replica k — 9 duplicated
# sub-corpora = 45,000 planted identical cross-replica doc pairs at sf10x
# (measured: q36 pairs 75,208 instead of the intended 10x25,600 -> 2.9x
# per-decade pair inflation, compounding at sf100x). A distinct letter per
# depth ('r' then 's' then 't') makes chains injective at every decade and
# the pair census exactly 10x per application.
PFX = sys.argv[4] if len(sys.argv) > 4 else "r"
_explicit_pfx = len(sys.argv) > 4


os.makedirs(out, exist_ok=True)
con = duckdb.connect()

# Collision guard (the round-13 census flaw, now detected instead of
# documented): if the SOURCE documents already carry replica prefixes of
# this letter (text beginning '<letter><digits>x'), re-using it reproduces
# the exact cross-depth duplicate-pair inflation the per-depth letters
# exist to prevent. An explicitly-passed colliding letter FAILS; the
# default 'r' AUTO-ADVANCES to the first unused letter so a forgotten
# 4th argument can never silently poison a decade fixture.
_used = {r[0] for r in con.sql(f"""
    SELECT DISTINCT regexp_extract(text, '^([a-z])[0-9]+x', 1)
    FROM read_parquet('{src}/documents.parquet')
    WHERE regexp_matches(text, '^[a-z][0-9]+x')""").fetchall() if r[0]}
if PFX in _used:
    if _explicit_pfx:
        raise SystemExit(
            f"prefix letter '{PFX}' is already present in the source "
            f"documents (letters in use: {sorted(_used)}); pass a distinct "
            f"prefix_letter per chaining depth (e.g. r -> s -> t)")
    PFX = next(c for c in "rstuvwxyz" if c not in _used)
    print(f"source already uses replica letters {sorted(_used)}; "
          f"auto-advanced prefix letter to '{PFX}'")
con.execute(f"CREATE VIEW ks AS SELECT unnest(generate_series(0, {F-1})) AS k")

def gen(table, sql):
    # 32+ row groups per table (round 18): a single-row-group file reads
    # as ONE scan task at any core count — the fixture artifact that made
    # every scan-rooted stage look core-flat in the 8-vs-32 scaling table.
    # Real decades have many files/row groups; give the fixture the same
    # splittability so core-scaling numbers measure the ENGINE.
    nrows = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    rg = max(1024, nrows // 64)
    con.execute(f"""COPY ({sql}) TO '{out}/{table}.parquet'
                    (FORMAT parquet, COMPRESSION zstd, ROW_GROUP_SIZE {rg})""")
    n = con.sql(f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')").fetchone()[0]
    print(f"{table}: {n} rows")

# Token-wise prefixing rides on single-space separation; normalize runs of
# whitespace FIRST so a double space can never mint bare 'rKx' tokens shared
# by every replica (which would create spurious within-replica shingle
# matches and skew the intended exactly-10x pair scaling).

def pow10_shift(table, *cols):
    """Replica key shift: the smallest power of 10 STRICTLY above the source's
    max key. A FIXED shift (the first version used k*10_000_000) collides the
    moment the generator is applied to its own output — sf1x ids a + 1e7*j
    re-shifted by 1e7*k give a + 1e7*(j+k), collapsing 500k rows onto ~95k
    distinct ids (measured: the media verify fetch degenerated from
    candidate-scale to a whole-corpus join, and every doc_id-keyed decade
    ratio was polluted). Deriving the shift from max(key) makes replication
    idempotent-safe at any decade; powers of 10 preserve doc_id % 10 (the
    batch split) and keep ids readable."""
    m = max(con.sql(f"SELECT max({c}) FROM read_parquet('{src}/{table}.parquet')")
            .fetchone()[0] for c in cols)
    s = 10
    while s <= m:
        s *= 10
    return s

DOC = pow10_shift("documents", "doc_id")
EVT = pow10_shift("events", "event_id")
USR = pow10_shift("events", "user_id")
ORD = max(pow10_shift("orders", "o_orderkey"), pow10_shift("lineitem", "l_orderkey"))
CUS = pow10_shift("orders", "o_custkey")

gen("documents", f"""
  WITH d AS (SELECT doc_id, regexp_replace(trim(text), ' +', ' ', 'g') AS text,
                    lang, source
             FROM read_parquet('{src}/documents.parquet'))
  SELECT doc_id + k*{DOC} AS doc_id,
         CASE WHEN k = 0 THEN text
              ELSE '{PFX}'||k||'x'||replace(text, ' ', ' {PFX}'||k||'x') END AS text,
         lang, source,
         CAST(length(CASE WHEN k = 0 THEN text
              ELSE '{PFX}'||k||'x'||replace(text, ' ', ' {PFX}'||k||'x') END) AS BIGINT) AS n_chars
  FROM d CROSS JOIN ks""")

gen("events", f"""
  SELECT event_id + k*{EVT} AS event_id, ts,
         user_id + k*{USR} AS user_id, event_type, value, props
  FROM read_parquet('{src}/events.parquet') CROSS JOIN ks""")

gen("orders", f"""
  SELECT o_orderkey + k*{ORD} AS o_orderkey,
         o_custkey + k*{CUS} AS o_custkey,
         o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{src}/orders.parquet') CROSS JOIN ks""")

gen("lineitem", f"""
  SELECT l_orderkey + k*{ORD} AS l_orderkey, l_partkey, l_suppkey,
         l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{src}/lineitem.parquet') CROSS JOIN ks""")

# Post-generation invariant: replication must never collide keys.
for tbl, col in [("documents", "doc_id"), ("events", "event_id"),
                 ("orders", "o_orderkey")]:
    n, d = con.sql(f"""SELECT count(*), count(DISTINCT {col})
                       FROM read_parquet('{out}/{tbl}.parquet')""").fetchone()
    if n != d:
        raise SystemExit(f"{tbl}.{col}: {n} rows but {d} distinct — replica shift collided")
print("key-uniqueness check: ok")

for t in ["region", "nation", "customer", "supplier", "part", "embeddings"]:
    shutil.copyfile(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    print(f"{t}: copied verbatim")
