#!/usr/bin/env python3
"""Local dev harness mimicking the driver's t2 correctness gate.

Usage: python3 dev/compare.py <sfDir> <outDir>
Reads each <outDir>/<name>/ parquet (Spark result) and runs
<outDir>/oracle_sql.json's SQL in DuckDB over <sfDir>/*.parquet,
then compares values column-name-sorted, row-sorted, hashed.
NOT part of the shipped library - dev tooling only.
"""
import json, sys, glob, os
import duckdb

def type_class(t):
    """Collapse a pyarrow type to the equivalence class the driver's
    value-hash distinguishes. Integer bit-widths and float widths hash
    identically (python int/float repr), and decimal PRECISION is
    repr-invisible — but int vs decimal vs float is visible (42 vs
    Decimal('42') vs 42.0), and decimal SCALE is visible (1 vs 1.00).
    DuckDB HUGEINT arrives as decimal128(38,0) ⇒ class 'dec0' ≠ 'int'."""
    import pyarrow as pa
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"dec{t.scale}"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{t.field(i).name}:{type_class(t.field(i).type)}"
                         for i in range(t.num_fields))
        return f"struct<{inner}>"
    return str(t)


def canon(rows, cols):
    # sort columns by name, stringify values, sort rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    return sorted(out), [cols[i] for i in order]

def connect(sf_dir):
    """A DuckDB connection with a view per corpus table of <sf_dir>."""
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # driver testdata is one file per table; dev corpora
            # (PersistSfMain) are Spark-written directories
            src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con

def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"MISSING  {name} (no spark result)"); n_bad += 1; continue
        try:
            grel = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
            grows, gcols = grel.fetchall(), list(grel.columns)
            wrel = con.sql(sql)
            wrows, wcols = wrel.fetchall(), list(wrel.columns)
            # The driver's hash compare is TYPE-sensitive: DuckDB window/agg
            # sums over integers promote to HUGEINT (arrow: decimal128(38,0))
            # while Spark emits int64 — the DB-API description maps BOTH to
            # NUMBER and cannot see it (the r12 op_markov_transitions escape).
            # Compare Arrow schemas instead, normalized to the classes the
            # driver's value-hash distinguishes (int vs decimal vs float;
            # decimal SCALE matters for repr, precision/bit-width do not).
            gtypes = sorted((c, type_class(t)) for c, t
                            in zip(grel.columns, grel.limit(0).arrow().schema.types))
            wtypes = sorted((c, type_class(t)) for c, t
                            in zip(wrel.columns, wrel.limit(0).arrow().schema.types))
        except Exception as e:
            print(f"ERROR    {name}: {e}"); n_bad += 1; continue
        g, gc = canon(grows, gcols)
        w, wc = canon(wrows, wcols)
        if gc != wc:
            print(f"SCHEMA   {name}: spark={gc} oracle={wc}"); n_bad += 1
        elif gtypes != wtypes:
            diff = [(a, b) for a, b in zip(gtypes, wtypes) if a != b]
            print(f"TYPES    {name}: {diff}"); n_bad += 1
        elif len(g) != len(w):
            print(f"ROWS     {name}: spark={len(g)} oracle={len(w)}"); n_bad += 1
        elif g != w:
            diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
            print(f"VALUES   {name}: first diffs {diff}"); n_bad += 1
        else:
            print(f"OK       {name} ({len(g)} rows)"); n_ok += 1
    # queries with no oracle: at least assert the parquet output exists and has rows
    for res_dir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(res_dir.rstrip("/"))
        if name in oracle:
            continue
        try:
            n = con.execute(f"SELECT count(*) FROM '{res_dir}*.parquet'").fetchone()[0]
        except Exception as e:
            print(f"ERROR    {name} (rows-only): {e}"); n_bad += 1; continue
        if n > 0:
            print(f"OK-ROWS  {name} ({n} rows, no oracle)"); n_ok += 1
        else:
            print(f"EMPTY    {name} (rows-only check, 0 rows)"); n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
