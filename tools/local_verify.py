#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Run after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
  python3 tools/local_verify.py <sfDir> <outDir>

For each query dir in <outDir>: read Spark's parquet result, run the oracle
SQL from oracle_sql.json in DuckDB with the testdata tables registered as
views, sort columns by name + rows by all columns, compare exact values.
"""
import json, sys, glob, math, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr roundtrips the exact double, and distinguishes -0.0 from 0.0
        # (Python's == would not) — the driver hashes the bit pattern.
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return v

def key(row):
    return tuple((x is None, str(x)) for x in row)

def configure(con, out_dir):
    """Size DuckDB to this machine instead of its defaults: 80% of
    MemTotal, one thread per CPU, spill files in duckdb_tmp/ beside the
    output directory (DuckDB's default is ./.tmp in the working directory),
    and no insertion-order bookkeeping (rows are sorted after the fetch, so
    order is never read). None of this changes what is compared."""
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    tmp = os.path.join(os.path.dirname(os.path.abspath(out_dir)), "duckdb_tmp")
    con.execute(f"SET memory_limit = '{mem_kb * 8 // 10 // 1024}MiB'")
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET preserve_insertion_order = false")

def main(sf_dir, out_dir):
    con = duckdb.connect()
    configure(con, out_dir)
    for t in TABLES:
        # testdata tables are single files; Spark-written tables (e.g. a
        # ScaleGen corpus) are part-file DIRECTORIES — glob those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    qdirs = sorted(d.split("/")[-1].removesuffix(".parquet")
                   for d in glob.glob(f"{out_dir}/*.parquet"))
    # A query that threw in Spark produces no output dir at all — that must
    # fail the gate, not silently shrink the denominator. Use the declared
    # manifest when present (covers rows-only queries), else oracle keys.
    try:
        declared = set(json.load(open(f"{out_dir}/queries.json")))
    except FileNotFoundError:
        try:
            # Subset (dev-loop) dump: Verify writes its manifest to a
            # distinct file so it can never masquerade as the full gate.
            declared = set(json.load(open(f"{out_dir}/queries_subset.json")))
            print(f"NOTE: SUBSET dump ({len(declared)} queries) — not the full gate")
        except FileNotFoundError:
            declared = {k for k in oracle if not k.endswith(".parquet")}
    for name in declared:
        if name not in qdirs:
            results[name] = "MISSING_SPARK_OUTPUT (query threw in Verify?)"
    for name in qdirs:
        files = glob.glob(f"{out_dir}/{name}.parquet/*.parquet")
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        sdf = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}.parquet/*.parquet')")
        scols = sorted(sdf.columns)
        stypes = dict(zip(sdf.columns, (str(t) for t in sdf.types)))
        srows = sorted([tuple(norm(v) for v in r) for r in
                        con.sql(f"SELECT {', '.join(scols)} FROM sdf").fetchall()], key=key)
        if name not in oracle:
            results[name] = f"ROWS_ONLY({len(srows)})"
            continue
        try:
            odf = con.sql(oracle[name])
            ocols = sorted(odf.columns)
            otypes = dict(zip(odf.columns, (str(t) for t in odf.types)))
            orows = sorted([tuple(norm(v) for v in r) for r in
                            con.sql(f"SELECT {', '.join(ocols)} FROM odf").fetchall()], key=key)
        except Exception as e:
            results[name] = f"ORACLE_ERROR: {e}"
            continue
        if scols != ocols:
            results[name] = f"SCHEMA_MISMATCH spark={scols} oracle={ocols}"
        # Type-strict: the driver's hash gate hashes typed values, so a
        # DECIMAL-vs-DOUBLE or BIGINT-vs-HUGEINT divergence fails there even
        # when Python's lax == (Decimal('0.5') == 0.5) would pass here.
        elif any(stypes[c] != otypes[c] for c in scols):
            bad = {c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]}
            results[name] = f"TYPE_MISMATCH (spark, oracle): {bad}"
        elif len(srows) != len(orows):
            results[name] = f"ROWCOUNT spark={len(srows)} oracle={len(orows)}"
        elif srows != orows:
            bad = next((i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
            results[name] = f"VALUE_MISMATCH row{bad[0]} spark={bad[1]} oracle={bad[2]}"
        else:
            results[name] = f"OK({len(srows)})"
    width = max(len(n) for n in results)
    fails = 0
    for n in sorted(results):
        r = results[n]
        ok = r.startswith("OK") or r.startswith("ROWS_ONLY")
        if not ok:
            fails += 1
        print(f"{'PASS' if ok else 'FAIL'}  {n:<{width}}  {r[:300]}")
    print(f"\n{len(results) - fails}/{len(results)} pass")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
