"""DuckDB oracle check of curation results.

Each surface's Spark result is compared with the result of its oracle SQL
over the same input tables, as the repository's oracle replay does: columns
sorted by name, every value as text, rows sorted. The comparison is made by
digest. Running the oracles takes about a minute, so their digests are
recorded once per oracle SQL text in data/curate/oracle_digests.json; a
surface whose SQL no longer matches its record is checked live.

    python3 perfbench/oracle.py record <oracle_sql.json>

records the digests for every surface in an oracle_sql.json (as written by
graft.Verify or by a curate run) over data/curate.
"""
import glob
import hashlib
import json
import os
import sys

import pandas as pd

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "curate")
RECORD = os.path.join(DATA_DIR, "oracle_digests.json")


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def digest(df):
    """Order-independent digest of a result: columns by name, values as text, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def _oracle_digests(sqls, data_dir):
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q, sql in sorted(sqls.items()):
        try:
            out[q] = digest(con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run fails its surface
            out[q] = f"oracle SQL error: {e}"
    return out


def _read_dump(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else pd.DataFrame()


def compare(dump_dir, data_dir=DATA_DIR):
    """Returns {surface: None if its dumped result matches its oracle, else why}."""
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    with open(RECORD) as f:
        record = json.load(f)
    expected = {q: record[q]["digest"] for q, sql in sqls.items()
                if q in record and record[q]["sql_sha256"] == sql_sha(sql)}
    stale = {q: sql for q, sql in sqls.items() if q not in expected}
    expected.update(_oracle_digests(stale, data_dir))
    verdicts = {}
    for q in sorted(sqls):
        got = digest(_read_dump(os.path.join(dump_dir, q)))
        verdicts[q] = None if got == expected[q] else f"result {got} != oracle {expected[q]}"
    return verdicts


def record_digests(oracle_sql_json, names):
    with open(oracle_sql_json) as f:
        sqls = {q: s for q, s in json.load(f).items() if names is None or q in names}
    digests = _oracle_digests(sqls, DATA_DIR)
    with open(RECORD, "w") as f:
        json.dump({q: {"sql_sha256": sql_sha(sqls[q]), "digest": d} for q, d in digests.items()},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) < 3 or sys.argv[1] != "record":
        sys.exit(__doc__)
    record_digests(sys.argv[2], set(sys.argv[3:]) or None)
