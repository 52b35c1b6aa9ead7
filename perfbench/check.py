"""Answer checks of the three workloads, run after the timed region.

Each check returns one message per wrong operation of a pass, so that a
wrong answer counts against `failed` the same way an exception does.
"""
import math
import os
import sys

import duckdb
import pandas as pd

# the repository's differential checker owns the comparison rule
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import norm, values_equal  # noqa: E402

WAREHOUSE = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events"]
REL_TOL = 1e-9  # summary averages: double sums in a different order


def elt(ans: dict, expected: dict) -> list:
    """Wrong operations of one ELT pass, by the call that owns the value."""
    wrong = []
    if ans["raw_rows"] != expected["raw_rows"]:
        wrong.append(f"qualityGate counted {ans['raw_rows']} raw rows, "
                     f"expected {expected['raw_rows']}")
    if ans["written_rows"] != expected["valid_rows"]:
        wrong.append(f"materializeObserved wrote {ans['written_rows']} rows, "
                     f"expected {expected['valid_rows']}")
    if not ans["created_table"] or ans["added_columns"] != [expected["added_column"]]:
        wrong.append(f"ingest created the table: {ans['created_table']}, then "
                     f"added {ans['added_columns']}, expected "
                     f"[{expected['added_column']!r}]")
    got, exp = ans["summary"], expected["summary"]
    bad = [k for k, v in exp.items()
           if got.get(k) is None or not math.isclose(got[k], v, rel_tol=REL_TOL)]
    if bad:
        wrong.append(f"summary differs in {bad}: {got} vs {exp}")
    return wrong


def curate(ans: dict) -> list:
    """CurateDemo's invariants on one funnel pass."""
    wrong = []
    if not 0 < ans["kept"] <= ans["total_docs"]:
        wrong.append(f"kept {ans['kept']} of {ans['total_docs']} documents")
    if ans["shard_tokens"] != ans["curated_tokens"]:
        wrong.append(f"shard manifest holds {ans['shard_tokens']} tokens, "
                     f"curated set {ans['curated_tokens']}")
    if not 0 < ans["sample_rows"] <= ans["train_rows"]:
        wrong.append(f"sample of {ans['sample_rows']} from {ans['train_rows']} "
                     "train documents")
    return wrong


# ---- dashboard answers against DuckDB, compared as tools/check_oracle.py
# does: columns sorted by name, rows in order, cells exactly equal

def frame_diff(spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    """None when equal, else the first difference."""
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not values_equal(x, y):
                return f"col {c} row {i}: spark={x!r} duck={y!r}"
    return None


class Oracle:
    """DuckDB over the same generated warehouse parquet; one oracle
    answer per query name."""

    def __init__(self, data_dir: str, sql: dict):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        for t in WAREHOUSE:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self.sql = sql
        self.cache = {}

    def answer(self, name: str) -> pd.DataFrame:
        if name not in self.cache:
            self.cache[name] = self.con.execute(self.sql[name]).fetchdf()
        return self.cache[name]

    def close(self):
        self.con.close()


def dash(requests: list, answers: list, results_dir: str, oracle: Oracle) -> list:
    """Checks the answers stored in set-up, one per query and zone path,
    against DuckDB; a timed request fails on its own exception, or shares
    the verdict of its query's answer on the same zone path (any path if
    that one was not stored, e.g. a zone another query built first)."""
    verdict, wrong = {}, []
    for a in answers:
        if a["error"] is not None:
            diff = f"failed: {a['error'][:300]}"
        else:
            try:
                got = pd.read_parquet(os.path.join(results_dir, a["result"]))
                diff = frame_diff(got, oracle.answer(a["name"]))
            except Exception as e:  # unreadable answer or oracle error
                diff = f"check error: {e}"
        verdict[(a["name"], a["built_zone"])] = diff
        verdict.setdefault(a["name"], diff)
        if diff:
            verdict[a["name"]] = diff
    for r in requests:
        if r["error"] is not None:
            diff = f"failed: {r['error'][:300]}"
        else:
            diff = verdict.get((r["name"], r["built_zone"]),
                               verdict.get(r["name"], "no checked answer"))
        if diff:
            wrong.append(f"{r['name']} (request {r['i']}): {diff}")
    return wrong
