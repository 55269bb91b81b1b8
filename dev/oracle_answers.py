#!/usr/bin/env python3
"""List the keys whose DuckDB oracle answers differ between two dumps.

Usage: python3 dev/oracle_answers.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>

Runs each key's old and new oracle text in DuckDB over <sfDir> (the
views dev/compare.py registers) and compares the answers the way
compare.py compares Spark with DuckDB: rows canonicalised by
`canon`, column types by `type_class`. A key whose text is
byte-identical in both dumps is not re-run. Exits 1 if any answer
changed, a key is in only one dump, or a text fails.
NOT part of the shipped library - dev tooling only.
"""
import json, sys

from compare import canon, connect, type_class


def answer(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = sorted((c, type_class(t)) for c, t
                   in zip(cols, rel.limit(0).arrow().schema.types))
    return canon(rel.fetchall(), cols), types


def main(sf_dir, old_path, new_path):
    con = connect(sf_dir)
    old, new = json.load(open(old_path)), json.load(open(new_path))
    n_same = n_rerun = n_bad = 0
    for name in sorted(set(old) | set(new)):
        if name not in old or name not in new:
            print(f"ONLY-{'NEW' if name in new else 'OLD'} {name}"); n_bad += 1
            continue
        if old[name] == new[name]:
            n_same += 1
            continue
        n_rerun += 1
        try:
            (rows_o, cols_o), types_o = answer(con, old[name])
            (rows_n, cols_n), types_n = answer(con, new[name])
        except Exception as e:
            print(f"ERROR    {name}: {e}"); n_bad += 1; continue
        if cols_o != cols_n or types_o != types_n:
            print(f"TYPES    {name}: old={types_o} new={types_n}"); n_bad += 1
        elif rows_o != rows_n:
            print(f"ROWS     {name}: old={len(rows_o)} new={len(rows_n)} rows, "
                  f"first diffs {[(a, b) for a, b in zip(rows_o, rows_n) if a != b][:3]}")
            n_bad += 1
        else:
            print(f"SAME     {name} ({len(rows_n)} rows)")
    print(f"== {n_rerun} respelled, {n_same} unchanged texts, {n_bad} changed answers ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
