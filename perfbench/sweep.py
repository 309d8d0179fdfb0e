"""The sweep: one pass over a fixed sample of the registered queries
(`__spark_entry__.queries()`) on a seeded star schema, each result
checked against its DuckDB twin from `oracle_sql()` with the repo's local
correctness gate's comparison (row count, column names, type families, rows
as a sorted multiset, floats to 1e-9).

The sample covers both query families the lookup and revise workloads
never call: `queries/` (relational joins, aggregates, windows, as-of
lookups, the weighted branch merge) and `extensions/` (dedup, vector
search, text), Python UDFs included.
"""

from __future__ import annotations

import os
import time

SAMPLE = (
    "join_5way_agg", "groupby_agg", "window_running_sum", "asof_nearest_ge",
    "weighted_branch_merge", "dedup_minhash_lsh", "knn_ivf", "text_fingerprint",
    "lm_bigram_score",
)
STAR = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings")


def compare(name, df, rows, res) -> list[str]:
    """The local correctness gate's comparison (`tools/verify_local.py`)
    of a Spark result against its DuckDB oracle result."""
    from tools.verify_local import _rowset, _values_close, schema_type_mismatches

    cols, dcols, drows = df.columns, [d[0] for d in res.description], res.fetchall()
    if sorted(cols) != sorted(dcols):
        return [f"sweep {name}: columns {sorted(cols)} != {sorted(dcols)}"]
    if len(rows) != len(drows):
        return [f"sweep {name}: {len(rows)} rows, oracle {len(drows)}"]
    typed = schema_type_mismatches(df.dtypes, dcols, [str(t) for t in res.types])
    if typed:
        return [f"sweep {name}: " + "; ".join(typed)]
    bad = sum(not _values_close(a, b) for a, b in zip(_rowset(rows, cols), _rowset(drows, dcols)))
    return [f"sweep {name}: {bad} rows differ from the oracle"] if bad else []


class Sweep:
    def __init__(self, root: str, seed: int):
        import gen

        self.dir = os.path.join(root, "star")
        gen.write_star(self.dir, seed)

    def run(self, spark, on_query=None) -> tuple[list[dict], list[str]]:
        """Each sampled query once: ``[{"query", "s"}]`` and the
        mismatches. ``on_query(name)`` is called before each query, so the
        caller can mark where its Spark jobs start."""
        import duckdb

        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for t in STAR:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        out, errs = [], []
        for name in SAMPLE:
            if on_query is not None:
                on_query(name)
            start = time.perf_counter()
            try:
                df = queries[name](spark, self.dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 — counted as a failed check
                out.append({"query": name, "s": time.perf_counter() - start})
                errs.append(f"sweep {name}: {type(e).__name__}: {e}")
                continue
            out.append({"query": name, "s": time.perf_counter() - start})
            errs += compare(name, df, rows, con.sql(oracles[name]))
        con.close()
        return out, errs
