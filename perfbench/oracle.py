"""Output checks for the registry rows.

The expected answer of each row is its ``SparkEntry.oracleSql`` query run by
DuckDB over the generated tables, reduced to the hash of
``tools/hashcheck.py``: columns
sorted by name, row count, then one SHA-256 over ``str()`` of every cell,
column by column, so a dropped row and a reordered one both fail. The
registry-row inputs do not depend on the run's seed, so the expected hashes
are computed once (``python3 perfbench/run.py --refresh-expected``) and kept
in ``expected.json`` beside this file: per workload, the digest of the
tables and the fingerprint of each row on them.
"""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def canonical_hash(df):
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256()
    for c in df.columns:
        for v in df[c]:
            h.update(str(v).encode())
    return h.hexdigest()


def fingerprint(df):
    """What a check compares: sorted column names, row count and hash."""
    return {"columns": sorted(df.columns), "rows": len(df), "hash": canonical_hash(df)}


def compare(want, df):
    """None when ``df`` matches the fingerprint ``want``, else the reason."""
    if "error" in want:
        return want["error"]
    got = fingerprint(df)
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"{got['rows']} rows, oracle has {want['rows']}"
    if got["hash"] != want["hash"]:
        return "values or row order differ from the oracle"
    return None


def read_spark_output(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pq.read_table(files if len(files) > 1 else files[0]).to_pandas()


def oracle_fingerprints(tables_dir, oracle_sql):
    """Runs every row's oracle SQL in DuckDB over every ``<name>.parquet``
    in ``tables_dir``; maps row name to fingerprint."""
    con = duckdb.connect()
    for f in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = fingerprint(con.execute(sql).df())
        except Exception as e:  # no oracle SQL, or DuckDB rejects it: every output fails
            out[name] = {"error": f"oracle: {type(e).__name__}: {e}"}
    con.close()
    return out


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def check_rows(expected, tables_digest, rows, out_dir):
    """Maps each row name to None (its output matches) or the reason not."""
    if expected.get("tables") != tables_digest:
        return {r: "generated tables differ from the ones expected.json was computed on" for r in rows}
    verdicts = {}
    for r in rows:
        want = expected["rows"].get(r)
        if want is None:
            verdicts[r] = "no expected answer in expected.json"
            continue
        try:
            verdicts[r] = compare(want, read_spark_output(f"{out_dir}/{r}"))
        except Exception as e:  # an unreadable output is a failed check
            verdicts[r] = f"{type(e).__name__}: {e}"
    return verdicts
