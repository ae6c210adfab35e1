"""Output checks, run with DuckDB over what the workload left on disk.

- corpus-ops: each query's result equals its `SparkEntry.oracleSql` run by
  DuckDB over the same input tables;
- nightly-incremental: each fact after the backfill night equals the DuckDB
  oracle of the registry query that runs the same transform over the same
  sources, and each fact after the delta night equals an independent MERGE
  of the night-1 fact with the night's batch (a key matches only when every
  key column is non-null and equal, as in SQL MERGE).

Rows are compared like the engine's correctness gate: columns sorted by
name, rows sorted, exact values (-0.0 and NaN kept distinct, decimals
compared by their text).
"""
import math
import os
from decimal import Decimal

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# where the operators publish fitted models for the oracle; the benchmark
# moves that directory into its work directory (see RedirectFs.scala)
MOVED = "/tmp/graft_ann_oracle"


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [norm_cell(x) for x in v]
    return v


def _normalized(res):
    cols = [d[0] for d in res.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm_cell(r[i]) for i in order) for r in res.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], rows


def _diff(actual, expected):
    """None when equal, else a one-line reason."""
    (ac, ar), (ec, er) = actual, expected
    if ac != ec:
        return f"columns {ac} vs {ec}"
    if len(ar) != len(er):
        return f"{len(ar)} rows vs {len(er)}"
    bad = [(a, e) for a, e in zip(ar, er) if a != e]
    if bad:
        return f"{len(bad)}/{len(ar)} rows differ, first {bad[0]}"
    return None


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


class Checker:
    def __init__(self, data_dir, oracle_dir, tmp_dir):
        self.oracle_dir = oracle_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads=4")
        self.con.execute("SET memory_limit='4GB'")
        os.makedirs(tmp_dir, exist_ok=True)
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def _rows(self, sql):
        return _normalized(self.con.execute(sql))

    def against_oracle(self, result_dir, sql):
        """`result_dir` (a Spark parquet directory) vs the oracle SQL."""
        return _diff(self._rows(f"SELECT * FROM {_parquet(result_dir)}"),
                     self._rows(sql.replace(MOVED, self.oracle_dir)))

    def against_merge(self, fact_dir, previous_dir, batch_dir, keys):
        """`fact_dir` vs MERGE(previous fact, batch) on `keys`."""
        batch = _parquet(batch_dir)
        if not os.path.isdir(previous_dir):
            expected = f"SELECT * FROM {batch}"
        else:
            match = " AND ".join(f'b."{k}" = p."{k}"' for k in keys)
            expected = (f"SELECT * FROM {_parquet(previous_dir)} p WHERE NOT "
                        f"EXISTS (SELECT 1 FROM {batch} b WHERE {match}) "
                        f"UNION ALL BY NAME SELECT * FROM {batch}")
        return _diff(self._rows(f"SELECT * FROM {_parquet(fact_dir)}"),
                     self._rows(expected))

    def close(self):
        self.con.close()


def check(checker, what, fn, *args):
    """Runs one check; returns None or the reason it failed."""
    try:
        why = fn(*args)
    except Exception as e:  # noqa: BLE001 - an unreadable output fails
        why = f"error: {e}"
    return None if why is None else f"{what}: {why}"


def corpus(checker, work, queries, sql):
    return [check(checker, f"{q} differs from its oracle",
                  checker.against_oracle, f"{work}/results/{q}", sql[q])
            if q in sql else f"{q}: no oracle SQL" for q in queries]


def nightly(checker, work, pipelines, sql):
    out = []
    for p in pipelines:
        name, query = p["name"], p["query"]
        out.append(check(checker, f"{name} night 1 differs from {query}'s oracle",
                         checker.against_oracle, f"{work}/night1/{name}",
                         sql[query]))
        out.append(check(checker, f"{name} night 2 differs from the merge of "
                         "night 1 with its batch", checker.against_merge,
                         f"{work}/warehouse/{name}", f"{work}/night1/{name}",
                         f"{work}/batches/{name}", p["keys"]))
    return out
