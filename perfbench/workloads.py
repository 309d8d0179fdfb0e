"""The two workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned and been checked.

A workload object has

* ``prepare()``  — make the seeded inputs (untimed);
* ``create()``   — the program creates the workload's data set from the
  inputs (timed as ``prepare_s``);
* ``check_create()`` — the mismatches of that data set (empty when correct);
* ``first_answer()`` — the program work one set-up cycle ends with, run
  right after a fresh SparkSession (timed as ``setup_s``);
* ``warmup()``   — untimed operations before the measured window;
* ``next_op(i)`` — the i-th operation as ``(kind, run, check)``: ``run()``
  returns the program's answer, ``check(answer)`` returns a list of
  mismatches (empty when correct);
* ``finish()``   — end-of-run checks and workload-level numbers;
* ``calls``      — the timed calls inside operations.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
from nshm2022db_spark import api as api_pkg
from nshm2022db_spark.plans.advanced_query import OracleNames, advanced_query_oracle_sql
from nshm2022db_spark.sources import nshm_api
from nshm2022db_spark.streaming import sinks

# Sizes: "full" is what the benchmark measures; "tiny" is the smoke mode.
SIZES = {
    "full": {
        "solution": gen.SolutionSize(),
        "table_rows": 20000, "revision_rows": 1000,
    },
    "tiny": {
        "solution": gen.SolutionSize(branches=(2, 1, 1), crustal_parents=8,
                                     subduction_sections=6, ruptures=(120, 30, 20)),
        "table_rows": 600, "revision_rows": 40,
    },
}


def dir_bytes(path: str) -> int:
    return sum(s for s in file_sizes(path).values())


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) when there are fewer
    than eleven samples."""
    n = len(values)
    if n < 11:
        return max(values), 100.0
    pct = math.floor(100.0 * (n - 10) / n)
    return float(np.percentile(values, pct, method="lower")), float(pct)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-15)


# ---------------------------------------------------------------------------
# lookup
# ---------------------------------------------------------------------------

LOOKUP_KINDS = ("get_fault", "get_fault_info", "get_rupture",
                "get_rupture_fault_info", "most_likely_fault", "query")
# a session queries every shape, shape j with options j: 3 and 4 atoms,
# & | ! and parentheses, rate and magnitude bounds, a fault-count limit
_QUERY_SHAPES = ("({0} | {1}) & !{2}", "({0} & {1}) | ({2} & !{3})")
_QUERY_OPTIONS = ({"rate_bounds": (1e-6, None), "magnitude_bounds": (6.5, 8.5)},
                  {"fault_count_limit": 2})
_ORACLE = OracleNames(
    fact="rupture", bridge="rupture_faults", dim="dim", fact_key="rupture_id",
    bridge_fact_key="rupture_id", bridge_dim_key="fault_id", dim_key="fault_id",
    name_col="name", rate_col="rate",
    fact_cols=("rupture_id", "fault_system", "nshm_id", "area", "magnitude", "len", "rate"),
    magnitude_col="magnitude",
)


class Lookup:
    """Point lookups and DSL queries through `NSHMDB`, each answer checked
    against DuckDB over the same parquet files."""

    min_ops = 1  # a session is longer than the window

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed + 7)
        self.calls: list[dict] = []

    def prepare(self) -> None:
        size = SIZES[self.ctx.size]["solution"]
        land = os.path.join(self.ctx.tmp, "land")
        self.landed, self.tables = gen.land_solution(land, self.ctx.seed, size)
        self.crustal = sorted({gen.parent_name(k) for k in range(size.crustal_parents)})
        # rupture calls take crustal ruptures of one shape, two parents and
        # three sections, so a session's work does not vary with the seed
        rf = self.tables["rupture_faults"].merge(self.tables["fault"][["fault_id", "parent_id"]])
        shape = rf.groupby("rupture_id").agg(n=("fault_id", "size"), p=("parent_id", "nunique"))
        rup = self.tables["rupture"]
        self.ruptures = rup[(rup.fault_system == gen.CRUSTAL)
                            & rup.rupture_id.isin(shape.index[(shape.n == 3) & (shape.p == 2)])]
        self.path = os.path.join(self.ctx.tmp, "db")
        self.extras = {"build.input_rows": _input_rows(land)}

    def create(self) -> None:
        """The database, built by the program's ETL from the landed dirs:
        `composite_solution` → `NSHMDB.create` → `insert_solution`, the
        first (cold) Spark work of the run."""
        sol = nshm_api.composite_solution(self.ctx.spark, self.landed)
        api_pkg.NSHMDB.create(self.ctx.spark, self.path).insert_solution(sol)

    def check_create(self) -> list[str]:
        """Every table the ETL wrote against the pandas tables of the
        landed CSVs; then DuckDB views over the same files for the lookup
        checks."""
        import duckdb

        errs = [e for name, want in self.tables.items() for e in compare_table(
            name, want, pq.read_table(os.path.join(self.path, f"{name}.parquet")).to_pandas())]
        self.extras["build.bytes_written"] = dir_bytes(self.path)
        self.con = duckdb.connect()
        for name in self.tables:
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"read_parquet('{self.path}/{name}.parquet/*.parquet')")
        self.con.execute("CREATE VIEW dim AS SELECT f.fault_id, pf.name "
                         "FROM fault f JOIN parent_fault pf USING (parent_id)")
        return errs

    def db(self):
        return api_pkg.NSHMDB(self.ctx.spark, self.path)

    def first_answer(self) -> None:
        f = self.tables["fault"].iloc[0]
        self.db().get_fault_info(int(f.fault_system), int(f.nshm_id))

    def warmup(self) -> None:
        """Each call once (one DSL query), so no measured call is the
        first of its kind."""
        for _, call, _ in self._session()[: len(LOOKUP_KINDS)]:
            call()

    def _session(self) -> list:
        """Each point lookup once and a DSL query of each of the two
        shapes. The seed picks the keys, magnitudes and atoms; every
        session has the same calls, so sessions are alike within and
        across runs."""
        return [(k, *self._op(k, j)) for k in LOOKUP_KINDS
                for j in (range(len(_QUERY_SHAPES)) if k == "query" else (0,))]

    def next_op(self, i: int):
        """One client session (see `_session`)."""
        calls = self._session()

        def run():
            answers = []
            for kind, call, _ in calls:
                t0 = time.time()
                start = time.perf_counter()
                answers.append(call())
                self.calls.append({"kind": kind, "latency": time.perf_counter() - start,
                                   "t0": t0, "t1": time.time()})
            return answers

        def check(answers) -> list[str]:
            return [e for (_, _, chk), a in zip(calls, answers) for e in chk(a)]

        return "session", run, check

    def finish(self) -> dict:
        self.con.close()
        return self.extras

    # -- operations and their DuckDB checks -----------------------------------

    def _pick(self, t: pd.DataFrame):
        return t.iloc[int(self.rng.integers(0, len(t)))]

    def _op(self, kind: str, i: int):
        """``(run, check)`` of one call; ``i`` picks a query's shape."""
        db = self.db()
        if kind in ("get_fault", "get_fault_info"):
            f = self._pick(self.tables["fault"])
            fs, nid = int(f.fault_system), int(f.nshm_id)
            if kind == "get_fault":
                return (lambda: db.get_fault(fs, nid)), (lambda a: self._check_fault(fs, nid, a))
            return (lambda: db.get_fault_info(fs, nid)), (lambda a: self._check_fault_info(fs, nid, a))
        r = self._pick(self.ruptures)
        fs, nid = int(r.fault_system), int(r.nshm_id)
        if kind == "get_rupture":
            return (lambda: db.get_rupture(fs, nid)), (lambda a: self._check_rupture(fs, nid, a))
        if kind == "get_rupture_fault_info":
            return ((lambda: db.get_rupture_fault_info(fs, nid)),
                    (lambda a: self._check_rupture_fault_info(fs, nid, a)))
        if kind == "most_likely_fault":
            names = [n for (n,) in self.con.execute(
                "SELECT DISTINCT pf.name FROM rupture r JOIN rupture_faults rf USING (rupture_id) "
                "JOIN fault f USING (fault_id) JOIN parent_fault pf USING (parent_id) "
                "WHERE r.fault_system = ? AND r.nshm_id = ? ORDER BY 1", [fs, nid]).fetchall()]
            # distinct targets: the program counts a parent's rate once per
            # parent sharing its target magnitude (seen with two at 0.01 steps)
            steps = self.rng.choice(301, len(names), replace=False)
            mags = {n: round(6.0 + 0.01 * int(k), 2) for n, k in zip(names, steps)}
            return ((lambda: db.most_likely_fault(fs, nid, mags)),
                    (lambda a: self._check_most_likely(fs, nid, mags, a)))
        k = int(self.rng.integers(0, len(self.crustal) - 3))
        q = _QUERY_SHAPES[i].format(*self.crustal[k : k + 4])
        kw = _QUERY_OPTIONS[i]
        return (lambda: db.query(q, **kw)), (lambda a: self._check_query(q, kw, a))

    @staticmethod
    def _corners(row) -> np.ndarray:
        return np.array([
            [row["top_left_lat"], row["top_left_lon"], row["top_depth"]],
            [row["top_right_lat"], row["top_right_lon"], row["top_depth"]],
            [row["bottom_right_lat"], row["bottom_right_lon"], row["bottom_depth"]],
            [row["bottom_left_lat"], row["bottom_left_lon"], row["bottom_depth"]],
        ])

    def _check_fault(self, fs, nid, fault) -> list[str]:
        want = self.con.execute(
            "SELECT fp.* FROM fault_plane fp JOIN fault f USING (fault_id) "
            "WHERE f.fault_system = ? AND f.nshm_id = ? ORDER BY plane_id", [fs, nid]).df()
        got = [p.corners for p in fault.planes]
        exp = [self._corners(r) for _, r in want.iterrows()]
        if len(got) != len(exp) or not all(np.array_equal(a, b) for a, b in zip(got, exp)):
            return [f"get_fault({fs},{nid}): planes differ"]
        return []

    def _check_fault_info(self, fs, nid, info) -> list[str]:
        want = self.con.execute(
            "SELECT f.fault_system, f.nshm_id, pf.name, f.rake, f.tect_type FROM fault f "
            "JOIN parent_fault pf USING (parent_id) WHERE f.fault_system = ? AND f.nshm_id = ?",
            [fs, nid]).fetchone()
        got = (info.fault_system, info.fault_nshm_id, info.name, info.rake, info.tect_type)
        return [] if got == want else [f"get_fault_info({fs},{nid}): {got} != {want}"]

    def _geometry(self, rupture_ids: list[int]) -> pd.DataFrame:
        ids = ",".join(str(int(i)) for i in rupture_ids) or "NULL"
        return self.con.execute(f"""
            SELECT rf.rupture_id AS rid,
                   CASE WHEN f.fault_system = 3 THEN pf.name
                        ELSE pf.name || ': Section ' || f.fault_id END AS label, fp.*
            FROM rupture_faults rf JOIN fault_plane fp ON fp.fault_id = rf.fault_id
            JOIN fault f ON f.fault_id = rf.fault_id JOIN parent_fault pf USING (parent_id)
            WHERE rf.rupture_id IN ({ids})
            ORDER BY rf.rupture_id, pf.parent_id, fp.plane_id""").df()

    def _check_rupture(self, fs, nid, rup) -> list[str]:
        row = self.con.execute(
            "SELECT rupture_id, magnitude, area, len, rate FROM rupture "
            "WHERE fault_system = ? AND nshm_id = ?", [fs, nid]).fetchone()
        errs = []
        if (rup.magnitude, rup.area, rup.length, rup.rate) != row[1:]:
            errs.append(f"get_rupture({fs},{nid}): attributes differ")
        want: dict[str, list] = {}
        for _, g in self._geometry([row[0]]).iterrows():
            want.setdefault(g["label"], []).append(self._corners(g))
        got = {k: [p.corners for p in f.planes] for k, f in rup.faults.items()}
        if set(got) != set(want) or any(
            len(got[k]) != len(want[k]) or not all(np.array_equal(a, b) for a, b in zip(got[k], want[k]))
            for k in want
        ):
            errs.append(f"get_rupture({fs},{nid}): geometry differs")
        return errs

    def _check_rupture_fault_info(self, fs, nid, infos) -> list[str]:
        want = sorted(self.con.execute(
            "SELECT f.fault_system, f.nshm_id, pf.name, f.rake, f.tect_type FROM rupture r "
            "JOIN rupture_faults rf USING (rupture_id) JOIN fault f USING (fault_id) "
            "JOIN parent_fault pf USING (parent_id) WHERE r.fault_system = ? AND r.nshm_id = ?",
            [fs, nid]).fetchall())
        got = sorted((i.fault_system, i.fault_nshm_id, i.name, i.rake, i.tect_type) for i in infos)
        return [] if got == want else [f"get_rupture_fault_info({fs},{nid}): rows differ"]

    def _check_most_likely(self, fs, nid, mags, got) -> list[str]:
        rows = self.con.execute(
            "SELECT pf.name, m.magnitude, m.rate FROM rupture r "
            "JOIN rupture_faults rf USING (rupture_id) "
            "JOIN magnitude_frequency_distribution m ON m.fault_id = rf.fault_id "
            "JOIN fault f ON f.fault_id = rf.fault_id JOIN parent_fault pf USING (parent_id) "
            "WHERE r.fault_system = ? AND r.nshm_id = ?", [fs, nid]).df()
        want = {}
        domain = sorted(set(rows["magnitude"]))
        for name, target in mags.items():
            if not domain:
                break
            rounded = next((m for m in domain if m >= target), domain[-1])
            hit = rows[(rows["name"] == name) & (rows["magnitude"] == rounded)]
            if len(hit):
                want[name] = float(hit["rate"].sum())
        if set(got) != set(want) or not all(_close(got[k], want[k]) for k in want):
            return [f"most_likely_fault({fs},{nid}): {got} != {want}"]
        return []

    def _check_query(self, q, kw, ruptures) -> list[str]:
        sql = advanced_query_oracle_sql(
            _ORACLE, q, rate_bounds=kw.get("rate_bounds"),
            magnitude_bounds=kw.get("magnitude_bounds"),
            fault_count_limit=kw.get("fault_count_limit"))
        want = self.con.execute(sql).df()
        got = [(r.fault_system, r.rupture_nshm_id, r.rate) for r in ruptures]
        exp = list(zip(want["fault_system"], want["nshm_id"], want["rate"]))
        if got != exp:
            return [f"query({q!r}, {kw}): {len(got)} rows differ from the oracle's {len(exp)}"]
        planes = self._geometry(list(want["rupture_id"])).groupby("rid").size()
        n_got = [sum(len(f.planes) for f in r.faults.values()) for r in ruptures]
        n_exp = [int(planes.get(rid, 0)) for rid in want["rupture_id"]]
        return [] if n_got == n_exp else [f"query({q!r}): geometry plane counts differ"]


def _input_rows(land: str) -> int:
    """CSV data lines plus GeoJSON features under the landed dirs."""
    rows = 0
    for d, _, files in os.walk(land):
        for f in files:
            with open(os.path.join(d, f)) as fh:
                if f.endswith(".csv"):
                    rows += sum(1 for _ in fh) - 1
                else:
                    rows += len(json.load(fh)["features"])
    return rows


def compare_table(name: str, want: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """Row counts, key columns exactly, Σ rate and every rate within 1e-9
    relative, other floats within 1e-12."""
    if len(want) != len(got):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    key = want.columns[0]
    w = want.sort_values(key).reset_index(drop=True)
    g = got[list(want.columns)].sort_values(key).reset_index(drop=True)
    errs = []
    for c in want.columns:
        a, b = w[c], g[c]
        if c == "rate":
            if not math.isclose(a.sum(), b.sum(), rel_tol=1e-9):
                errs.append(f"{name}: Σ rate {b.sum()!r} != {a.sum()!r}")
            if not np.allclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-9, atol=0):
                errs.append(f"{name}: rates differ")
        elif a.dtype.kind == "f":
            if not np.allclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-12, atol=1e-12):
                errs.append(f"{name}.{c} differs")
        elif not (a.isna() == b.isna()).all() or not (a[a.notna()].astype(str)
                                                      == b[b.notna()].astype(str)).all():
            errs.append(f"{name}.{c} differs")
    return errs


# ---------------------------------------------------------------------------
# revise
# ---------------------------------------------------------------------------

_SCHEMA = "fault_system int, nshm_id long, magnitude double, rate double, rev int"
_KEYS = ["fault_system", "nshm_id"]
_KEEP = 6  # versions vacuum keeps: the last three rounds


class Revise:
    """Model revisions into a committed rupture-rate table. A round lands
    a revision file and applies it with `merge_stream_to_table`, then
    makes one batch write — halve the rates of its high magnitudes with
    `update_table` (measured rounds 0, 1, 4, 5, …) or drop its low
    magnitudes with `delete_table` (rounds 2, 3, 6, 7, …) — reads the
    latest version, an older version and the change feed, and vacuums.
    The warm-up round makes both batch writes. Reads are checked against
    an in-memory model of every version."""

    min_ops = 4  # the window holds at least four rounds: two of each write

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed + 11)
        self.round_ms: list[dict] = []
        self.calls: list[dict] = []
        self.input_bytes = 0
        self.written = 0
        self.commits = 0

    def prepare(self) -> None:
        size = SIZES[self.ctx.size]
        n = size["table_rows"]
        rng = np.random.default_rng(self.ctx.seed)
        base = pd.DataFrame({
            "fault_system": rng.choice([1, 2, 3], n).astype("int32"),
            "nshm_id": np.arange(n, dtype="int64"),
            "magnitude": rng.uniform(6.0, 9.0, n).round(3),
            "rate": 10 ** rng.uniform(-7, -3, n),
            "rev": np.zeros(n, dtype="int32"),
        })
        self.table = os.path.join(self.ctx.tmp, "table")
        self.src = os.path.join(self.ctx.tmp, "revisions")
        self.ckpt = os.path.join(self.ctx.tmp, "checkpoint")
        os.makedirs(self.src)
        self.base = base
        self.model = {(int(a), int(b)): (float(m), float(r), 0) for a, b, m, r in zip(
            base.fault_system, base.nshm_id, base.magnitude, base.rate)}
        self.batches = gen.revision_batches(self.ctx.seed, base[_KEYS + ["magnitude"]],
                                            200, size["revision_rows"])
        self.round = 0

    def create(self) -> None:
        """The seeding commit: `append_partition_transaction` of the base."""
        spark = self.ctx.spark
        sinks.append_partition_transaction(
            spark, self.table, "fault_system", spark.createDataFrame(self.base, _SCHEMA))

    def check_create(self) -> list[str]:
        self.versions = {self._head(): dict(self.model)}
        return []

    def _head(self) -> int:
        log = os.path.join(self.table, "_commits")
        return max(int(n.split(".")[0]) for n in os.listdir(log) if n.endswith(".json"))

    def first_answer(self) -> None:
        sinks.read_keyed_table(self.ctx.spark, self.table).count()

    def warmup(self) -> None:
        _, run, check = self.next_op(-1)
        errs = check(run())
        if errs:
            raise RuntimeError("; ".join(errs))

    def next_op(self, i: int):
        self.round += 1
        r = self.round
        batch = self.batches[r - 1]
        path = os.path.join(self.src, f"rev-{r:05d}.parquet")
        batch.to_parquet(path, index=False)
        before = file_sizes(self.table)
        head0 = self._head()
        old = max((v for v in self.versions if v < head0), default=head0)
        keys = self._sample_keys(batch)
        # the pattern pairs rounds, so a traced run, which traces every
        # other operation, traces and leaves plain rounds of both writes
        writes = ("update", "delete") if i < 0 else (("update",), ("delete",))[i // 2 % 2]

        def run():
            # program calls only; the model is updated in check()
            spark = self.ctx.spark
            t0 = time.perf_counter()
            q = sinks.merge_stream_to_table(
                spark.readStream.schema(_SCHEMA).parquet(self.src), self.table, self.ckpt, _KEYS,
                when_matched_update={"magnitude": "s.magnitude", "rate": "s.rate", "rev": "s.rev"},
                when_not_matched_insert=True)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            out = {"q": q, "apply_s": time.perf_counter() - t0, "v_apply": self._head()}
            if "update" in writes:
                sinks.update_table(spark, self.table, {"rate": "rate * 0.5"},
                                   where=f"rev = {r} AND magnitude > 8.4")
                out["v_update"] = self._head()
            if "delete" in writes:
                sinks.delete_table(spark, self.table, where=f"rev = {r} AND magnitude < 6.2")
            head = out["head"] = self._head()
            reads, read_calls = {}, []

            def timed(kind, fn):
                t0, start = time.time(), time.perf_counter()
                result = fn()
                read_calls.append({"kind": kind, "latency": time.perf_counter() - start,
                                   "t0": t0, "t1": time.time()})
                return result

            reads["latest"] = (head, timed("latest", lambda: self._point_read(keys, None)))
            reads["as_of"] = (old, timed("as_of", lambda: self._point_read(keys, old)))

            def feed():
                df = sinks.read_table_changes_typed(spark, self.table, head0, head)
                return [] if df is None else df.collect()

            reads["feed"] = ((head0, head), timed("feed", feed))
            sinks.vacuum_versions(self.table, keep_last=_KEEP)
            out["reads"], out["read_calls"] = reads, read_calls
            return out

        def check(out) -> list[str]:
            self._apply_model(batch)
            self.versions[out["v_apply"]] = dict(self.model)
            if "update" in writes:
                for k, (m, rate, rv) in self.model.items():
                    if rv == r and m > 8.4:
                        self.model[k] = (m, rate * 0.5, rv)
                self.versions[out["v_update"]] = dict(self.model)
            if "delete" in writes:
                for k in [k for k, (m, _, rv) in self.model.items() if rv == r and m < 6.2]:
                    del self.model[k]
            self.versions[out["head"]] = dict(self.model)
            errs = self._check_reads(keys, out["reads"])
            live = {int(n.split(".")[0]) for n in os.listdir(os.path.join(self.table, "_commits"))
                    if n.endswith(".json")}
            self.versions = {v: m for v, m in self.versions.items() if v in live}
            if i >= 0:  # measured rounds only
                progress = [p for p in out["q"].recentProgress if p["numInputRows"] > 0]
                ms: dict = {"batches": len(progress)}
                for p in progress:
                    for k, v in p["durationMs"].items():
                        ms[k] = ms.get(k, 0) + v
                ms["start"] = 1e3 * out["apply_s"] - ms.get("triggerExecution", 0)
                self.round_ms.append(ms)
                self.calls += out["read_calls"]
                after = file_sizes(self.table)
                self.written += sum(s for p, s in after.items() if before.get(p) != s)
                self.input_bytes += os.path.getsize(path)
                self.commits += out["head"] - head0
            return errs

        return "round", run, check

    def _apply_model(self, batch: pd.DataFrame) -> None:
        for fs, nid, m, rate, rev in batch.itertuples(index=False):
            self.model[(int(fs), int(nid))] = (float(m), float(rate), int(rev))

    def _sample_keys(self, batch: pd.DataFrame) -> list[tuple[int, int]]:
        pool = list(self.model)
        picks = [pool[j] for j in self.rng.choice(len(pool), 8, replace=False)]
        rows = batch.iloc[self.rng.choice(len(batch), 8, replace=False)]
        return picks + [(int(a), int(b)) for a, b in zip(rows.fault_system, rows.nshm_id)]

    def _point_read(self, keys, version):
        from pyspark.sql import functions as F

        df = sinks.read_keyed_table(self.ctx.spark, self.table, version=version)
        return df.filter(F.col("nshm_id").isin([k[1] for k in keys])).collect()

    @staticmethod
    def _rows(rows) -> dict:
        # the partition column reads back as a string
        return {(int(r.fault_system), int(r.nshm_id)): (r.magnitude, r.rate, int(r.rev))
                for r in rows}

    def _check_reads(self, keys, reads) -> list[str]:
        errs = []
        ids = {k[1] for k in keys}
        for what in ("latest", "as_of"):
            v, rows = reads[what]
            model = self.versions.get(v)
            if model is None:
                errs.append(f"revise {what} read at v{v}: no model of that version")
                continue
            want = {k: val for k, val in model.items() if k[1] in ids}
            if self._rows(rows) != want:
                errs.append(f"revise {what} read at v{v} differs from the model")
        (v0, v1), feed = reads["feed"]
        if v0 not in self.versions or v1 not in self.versions:
            errs.append(f"revise change feed v{v0}..v{v1}: no model of those versions")
        else:
            state = {k: val for k, val in self.versions[v0].items()}
            for version in sorted({r._commit_version for r in feed}):
                rows = [r for r in feed if r._commit_version == version]
                for r in rows:
                    if r._change_type in ("delete", "update_preimage"):
                        state.pop((int(r.fault_system), r.nshm_id), None)
                state.update(self._rows(
                    r for r in rows if r._change_type in ("insert", "update_postimage")))
            if state != self.versions[v1]:
                errs.append(f"revise change feed v{v0}..v{v1} does not fold to the model")
        return errs

    def finish(self) -> dict:
        live = sinks.read_keyed_table(self.ctx.spark, self.table).toPandas()
        errs = []
        if self._rows(live.itertuples(index=False)) != self.model:
            errs.append("revise: final table differs from the model")
        compact = os.path.join(self.ctx.tmp, "compact.parquet")
        live.sort_values(_KEYS).to_parquet(compact, index=False)
        log = os.path.join(self.table, "_commits")
        manifests = sorted(n for n in os.listdir(log) if n.endswith(".json"))
        out = {
            "write_amp": self.written / max(self.input_bytes, 1),
            "space_amp": dir_bytes(self.table) / os.path.getsize(compact),
            "commitlog.manifest_bytes": os.path.getsize(os.path.join(log, manifests[-1])),
            "commitlog.entries": len(manifests),
            "table.bytes_per_commit": self.written / max(self.commits, 1),
            "_errors": errs,
        }
        for k in ("addBatch", "walCommit", "commitOffsets", "latestOffset",
                  "queryPlanning", "getBatch", "start", "batches"):
            out[f"stream.{k}" + ("" if k == "batches" else "_ms")] = statistics.mean(
                m.get(k, 0) for m in self.round_ms)
        return out


WORKLOADS = {"lookup": Lookup, "revise": Revise}
