"""Output checks for the registry workload.

The harness writes every registry result as parquet, the way `graft.Verify`
does, and this module compares it with the rules of the repository's
`scripts/check_oracle.py`, whose `canon`, `non_atomic_cols` and `TABLES` it
uses: sorted column names must match, rows are compared as a sorted
multiset, doubles rounded to 4 decimals, timestamps as integer epoch
microseconds, and only atomic column types are accepted against an oracle.
A query with an oracle entry is compared with the DuckDB answer of its
`SparkEntry.oracleSql` over the same generated tables; a query without one
is compared with its own warm-up result of the same run (its fingerprint
for the seed).
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))

import check_oracle  # noqa: E402


def _canonical(rel):
    """(sorted columns, canonical rows) of a DuckDB relation."""
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, check_oracle.canon([tuple(r[i] for i in idx) for r in rel.fetchall()])


def oracle_answers(table_dir, oracle_sql):
    """{query: (sorted columns, canonical rows)} or {query: error text}."""
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    answers = {}
    for name, sql in oracle_sql.items():
        try:
            rel = con.sql(sql)
            bad = check_oracle.non_atomic_cols(rel)
            answers[name] = (f"non-atomic oracle column(s) {bad}" if bad
                             else _canonical(rel))
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            answers[name] = f"oracle error: {e}"
    con.close()
    return answers


def load_result(result_dir, name, need_atomic):
    """(sorted columns, canonical rows) of the result of query `name`
    under `result_dir`, or what is wrong with it."""
    error = os.path.join(result_dir, f"{name}.error")
    if os.path.exists(error):
        with open(error, encoding="utf-8") as f:
            return f"query failed: {f.read()}"
    con = duckdb.connect()
    try:
        rel = con.sql(f"SELECT * FROM '{result_dir}/{name}/*.parquet'")
        bad = check_oracle.non_atomic_cols(rel) if need_atomic else []
        return f"non-atomic output column(s) {bad}" if bad else _canonical(rel)
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        return f"unreadable result: {e}"
    finally:
        con.close()


def compare(got, expected):
    """None when `got` matches `expected`, else what differs."""
    if isinstance(got, str):
        return got
    if isinstance(expected, str):
        return expected
    if got[0] != expected[0]:
        return f"columns {got[0]} != {expected[0]}"
    if got[1] != expected[1]:
        return f"rows differ ({len(got[1])} vs {len(expected[1])} rows)"
    return None
