"""The flagship "advanced query" (reference: NSHMDB.query, nshmdb.py:623-683
+ query.py:295-338), re-planned Spark-first.

Reference lifecycle: DSL → SQL string → DuckDB → N+1 per-rupture hydration
queries (SURVEY §3.1). Here it is ONE declarative plan:

    bridge ⋈ broadcast(dim)                      -- J7, dim is small
      → groupBy(fact key)                        -- one shuffle on the fact key
          agg: bool_or membership flags (A2),    -- map-side partial agg
               count_distinct names (A3)
      → post-agg boolean filter (A5 "HAVING")
      → join back to bounds-filtered fact        -- AQE broadcasts the small side
      → orderBy(rate DESC NULLS LAST, key) LIMIT k  -- TakeOrderedAndProject (O3)

Scale notes (100 TB): the only wide shuffle is the groupBy on the bridge's
fact key; flags fold into one hash aggregate with map-side combine. The
dim-side join is an explicit broadcast. Top-k never performs a global sort
(TakeOrderedAndProject keeps k rows per partition, then merges on the
driver). The reference's N+1 geometry hydration is replaced by ONE
geometry step for the whole result set (``NSHMDB._rupture_faults_bulk``),
a second plan run after this one's collect — a bridge collect whose
geometry comes from the session's dimension snapshots: ``NSHMDB.query``
is two plans, 6 Spark jobs (5 + 1) on the API test fixture.

Deliberate deviations (documented, SURVEY §7): bounds equal to 0/0.0 are
honored (reference truthiness drops them, query.py:298-314); ties at the
LIMIT boundary are broken deterministically by the fact key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nshm2022db_spark.dsl import compile_predicate, membership_aggs, parse_query
from nshm2022db_spark.dsl.compiler import atom_names, compile_to_sql_predicate

DEFAULT_LIMIT = 100  # reference default, query.py:224


@dataclass
class AdvancedQueryTables:
    """The join graph: fact ← bridge → dim (rupture ← rupture_faults → fault
    ⋈ parent_fault in the reference; orders ← lineitem → part in testdata)."""

    fact: DataFrame
    bridge: DataFrame
    dim: DataFrame
    fact_key: str          # key column in fact (rupture_id / o_orderkey)
    bridge_fact_key: str   # FK in bridge → fact (rupture_id / l_orderkey)
    bridge_dim_key: str    # FK in bridge → dim (fault_id / l_partkey)
    dim_key: str           # key column in dim (fault_id / p_partkey)
    name_col: str          # membership atom column in dim (name / p_brand)
    rate_col: str          # ordering measure in fact (rate / o_totalprice)
    magnitude_col: str | None = None  # optional bound column in fact


def _bounds_filter(df: DataFrame, col: str, bounds: tuple[float | None, float | None] | None) -> DataFrame:
    if bounds is None:
        return df
    lo, hi = bounds
    # `is not None`, not truthiness: a 0.0 bound is a real bound.
    if lo is not None:
        df = df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(col) <= F.lit(hi))
    return df


def advanced_query(
    t: AdvancedQueryTables,
    query_str: str,
    *,
    rate_bounds: tuple[float | None, float | None] | None = None,
    magnitude_bounds: tuple[float | None, float | None] | None = None,
    limit: int = DEFAULT_LIMIT,
    fault_count_limit: int | None = None,
) -> DataFrame:
    """Run the membership DSL query; returns the top-``limit`` fact rows by
    ``rate_col`` descending (NULLS LAST), deterministically tie-broken."""
    tree = parse_query(query_str)
    aggs = membership_aggs(tree, F.col(t.name_col))

    # Pre-agg fact filters = the reference's WHERE placement (query.py:327);
    # Catalyst pushes them into the parquet scan regardless of where we
    # write them — stated here for intent.
    fact = t.fact.filter(F.col(t.rate_col).isNotNull())
    fact = _bounds_filter(fact, t.rate_col, rate_bounds)
    if t.magnitude_col is not None:
        fact = _bounds_filter(fact, t.magnitude_col, magnitude_bounds)

    # Aliases matter: in the NSHM schema the bridge's FK names equal the
    # PK names on both sides (rupture_id, fault_id).
    dim = F.broadcast(t.dim.select(F.col(t.dim_key), F.col(t.name_col)).alias("d"))
    memb = (
        t.bridge.select(t.bridge_fact_key, t.bridge_dim_key)
        .alias("b")
        .join(dim, on=F.col(f"b.{t.bridge_dim_key}") == F.col(f"d.{t.dim_key}"), how="inner")
        .groupBy(F.col(f"b.{t.bridge_fact_key}"))
        # size(collect_set) not countDistinct: a distinct aggregate plans a
        # SECOND full shuffle of the bridge (Expand + re-exchange); the name
        # domain is small (parent faults / brands), so a per-group set is
        # bounded and the whole aggregation stays one exchange.
        .agg(*aggs.values(), F.size(F.collect_set(t.name_col)).alias("__n_names"))
    )

    flags = {atom: F.col(f"__m{i}") for i, atom in enumerate(atom_names(tree))}
    predicate = compile_predicate(tree, flags)
    if fault_count_limit is not None:
        predicate = predicate & (F.col("__n_names") <= F.lit(fault_count_limit))
    memb = memb.filter(predicate)

    joined = (
        fact.alias("f")
        .join(
            memb.select(t.bridge_fact_key).alias("m"),
            on=F.col(f"f.{t.fact_key}") == F.col(f"m.{t.bridge_fact_key}"),
            how="inner",
        )
        .select(*[F.col(f"f.{c}") for c in t.fact.columns])
    )

    return (
        joined.orderBy(F.col(t.rate_col).desc_nulls_last(), F.col(t.fact_key).asc())
        .limit(limit)
    )


@dataclass
class OracleNames:
    """SQL-side table/column names for the DuckDB oracle twin."""

    fact: str
    bridge: str
    dim: str
    fact_key: str
    bridge_fact_key: str
    bridge_dim_key: str
    dim_key: str
    name_col: str
    rate_col: str
    fact_cols: tuple[str, ...]
    magnitude_col: str | None = None


def advanced_query_oracle_sql(
    n: OracleNames,
    query_str: str,
    *,
    rate_bounds: tuple[float | None, float | None] | None = None,
    magnitude_bounds: tuple[float | None, float | None] | None = None,
    limit: int = DEFAULT_LIMIT,
    fault_count_limit: int | None = None,
) -> str:
    """ANSI-SQL rendering of the exact same semantics, for the DuckDB
    correctness oracle. Values are inlined as literals (atoms come from the
    DSL's restricted alphabet — no quoting hazards)."""
    tree = parse_query(query_str)
    atoms = atom_names(tree)
    flag_sql = {a: f"__m{i}" for i, a in enumerate(atoms)}
    flag_defs = ",\n           ".join(
        f"bool_or({n.name_col} = '{a}') AS __m{i}" for i, a in enumerate(atoms)
    )
    where = [f"{n.rate_col} IS NOT NULL"]
    for col, bounds in ((n.rate_col, rate_bounds), (n.magnitude_col, magnitude_bounds)):
        if col is not None and bounds is not None:
            lo, hi = bounds
            if lo is not None:
                where.append(f"{col} >= {lo}")
            if hi is not None:
                where.append(f"{col} <= {hi}")
    having = compile_to_sql_predicate(tree, flag_sql)
    if fault_count_limit is not None:
        having = f"({having}) AND __n_names <= {fault_count_limit}"
    cols = ", ".join(f"f.{c}" for c in n.fact_cols)
    return f"""
WITH memb AS (
    SELECT {n.bridge_fact_key},
           {flag_defs},
           count(DISTINCT {n.name_col}) AS __n_names
    FROM {n.bridge} b
    JOIN {n.dim} d ON b.{n.bridge_dim_key} = d.{n.dim_key}
    GROUP BY {n.bridge_fact_key}
)
SELECT {cols}
FROM {n.fact} f
JOIN (SELECT {n.bridge_fact_key} FROM memb WHERE {having}) m
  ON f.{n.fact_key} = m.{n.bridge_fact_key}
WHERE {" AND ".join(where)}
ORDER BY f.{n.rate_col} DESC NULLS LAST, f.{n.fact_key} ASC
LIMIT {limit}
"""
