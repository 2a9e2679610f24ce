#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_parity.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<query>/ parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB against the
sfDir tables, and compares: schema (column names), row count, and
values (columns sorted by name; rows compared both in emitted order and
as a sorted multiset).

DuckDB runs under a fixed memory limit and spills to a scratch directory
inside <verifyOutDir> (removed at exit): with its default limit (80% of
RAM) an oracle that does not fit (q113 at sf0.01 on a 15 GiB host)
exhausts memory instead of spilling.
"""
import duckdb, json, os, shutil, sys, math, datetime, decimal

MEMORY_LIMIT = "4GB"
SPILL_DIR = ".duckdb_spill"  # under <verifyOutDir>; skipped as a query dir

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    spill = os.path.join(outdir, SPILL_DIR)
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": spill})
    try:
        check(con, sfdir, outdir)
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


def check(con, sfdir, outdir):
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = n_weak = 0
    for name in sorted(os.listdir(outdir)):
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir) or name == SPILL_DIR:
            continue
        sdf = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
        scols, srows = list(sdf.columns), sdf.fetchall()
        if name not in oracle:
            print(f"  WEAK  {name}: rows={len(srows)} (no oracle)")
            n_weak += 1
            continue
        try:
            odf = con.sql(oracle[name])
            ocols, orows = list(odf.columns), odf.fetchall()
        except Exception as e:
            print(f"  FAIL  {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"  FAIL  {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        # Typed compare (the driver hashes typed values): an oracle that
        # yields HUGEINT where Spark wrote BIGINT fails the driver's gate
        # even when the values coerce equal — so it must fail here too.
        stypes = {c: str(t) for c, t in zip(scols, sdf.types)}
        otypes = {c: str(t) for c, t in zip(ocols, odf.types)}
        # Widths <= 64 bits all land in the driver's int64 hash lane —
        # only HUGEINT (int128) escapes it (that's what broke q27 in r1).
        I64 = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "UTINYINT", "USMALLINT", "UINTEGER"}
        def same(a, b):
            if a == b:
                return True
            if a in I64 and b in I64:
                return True
            # TIMESTAMP vs TIMESTAMP_NS is a storage-granularity split
            # the driver normalizes (both sides parquet-nanos); allow.
            return a.startswith("TIMESTAMP") and b.startswith("TIMESTAMP")
        tmis = {c: (stypes[c], otypes[c]) for c in stypes
                if not same(stypes[c], otypes[c])}
        if tmis:
            print(f"  FAIL  {name}: dtype mismatch (spark,oracle): {tmis}")
            n_fail += 1
            continue
        sidx = [scols.index(c) for c in sorted(scols)]
        oidx = [ocols.index(c) for c in sorted(ocols)]
        s = [tuple(norm(r[i]) for i in sidx) for r in srows]
        o = [tuple(norm(r[i]) for i in oidx) for r in orows]
        if len(s) != len(o):
            print(f"  FAIL  {name}: rowcount spark={len(s)} oracle={len(o)}")
            n_fail += 1
            continue
        ordered = s == o
        multiset = sorted(map(repr, s)) == sorted(map(repr, o))
        if multiset:
            tag = "PASS " if ordered else "PASS*"  # * = order differs
            print(f"  {tag} {name}: rows={len(s)}")
            n_pass += 1
        else:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(s, o)) if a != b][:3]
            print(f"  FAIL  {name}: value mismatch, first diffs: {diffs}")
            n_fail += 1
    print(f"== pass={n_pass} weak={n_weak} fail={n_fail}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
