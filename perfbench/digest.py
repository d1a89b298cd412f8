"""Order-insensitive digests of query results, and the pipeline_batch
oracle check.

A result is normalized as the project's oracle comparison does it
(scripts/check.py): columns sorted by name, rows sorted by every column,
column names and pandas dtypes kept, doubles compared by bit pattern. The
digest is a SHA-256 over that normal form.

Regenerate the stored oracle digests (after changing the queries or the
input tables) with

    python3 perfbench/digest.py <oracle_sql.json> perfbench/expected.json

where <oracle_sql.json> comes from the harness's `--dump-oracle` mode; the
oracle SQL runs in DuckDB over the generated tables in perfbench/.work/data.
"""
import glob
import hashlib
import json
import math
import os
import struct
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


def _cell(v):
    if isinstance(v, float):
        return b"nan" if math.isnan(v) else struct.pack("<d", v)
    if hasattr(v, "tolist"):  # numpy arrays inside list columns
        v = v.tolist()
    return repr(v).encode()


def digest(df):
    """(rows, sha256 hex) of a pandas DataFrame in normal form."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(repr(list(df.columns)).encode())
    h.update(repr([str(t) for t in df.dtypes]).encode())
    for c in df.columns:
        for v in df[c].tolist():
            h.update(_cell(v))
            h.update(b"\x00")
    return len(df), h.hexdigest()


def check_batch(check_dir, expected_file):
    """One check per query: the harness's untimed result equals the stored
    oracle digest."""
    with open(expected_file) as f:
        expected = json.load(f)
    con = duckdb.connect()
    checks = []
    for q, exp in expected.items():
        files = glob.glob(os.path.join(check_dir, q, "*.parquet"))
        try:
            rows, h = digest(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            ok = rows == exp["rows"] and h == exp["digest"]
            detail = "" if ok else f"rows {rows} vs oracle {exp['rows']}"
        except Exception as e:  # no output, unreadable output
            ok, detail = False, f"{type(e).__name__}: {e}"
        checks.append({"name": f"oracle {q}", "ok": ok, "detail": detail})
    return checks


def oracle(sql_file, out_file, data_dir=os.path.join(HERE, ".work", "data")):
    with open(sql_file) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected = {}
    for q, sql in sqls.items():
        rows, h = digest(con.sql(sql).df())
        expected[q] = {"rows": rows, "digest": h}
        print(f"{q}: {rows} rows", file=sys.stderr)
    with open(out_file, "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    oracle(sys.argv[1], sys.argv[2])
