"""NSHMDB API integration tests — the reference's Alpine Fault fixture
(/root/reference/tests/test_nshmdb.py:21-33) translated to Parquet, plus
its golden expectations (:73-133) and the ETL pipeline round trip."""

from __future__ import annotations

import ast
import gc
import inspect
import os
import uuid
import weakref

import numpy as np
import pytest

from pyspark.sql import functions as F

from nshm2022db_spark.api import NSHMDB
from nshm2022db_spark.api import database
from nshm2022db_spark.api.database import Fault, FaultInfo, Plane
from nshm2022db_spark.etl import (
    merge_branches,
    parse_mfd_wide,
    parse_rupture_indices,
    stack_fault_systems,
)
from nshm2022db_spark import schemas


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nshmdb"))
    db = NSHMDB.create(spark, path)
    mk = spark.createDataFrame
    # Alpine Fault canonical fixture + a second fault/rupture for joins
    db.insert("parent_fault", mk([(1, "Alpine Fault"), (2, "Hope Fault")], schemas.PARENT_FAULT))
    db.insert(
        "fault",
        mk([(1, 1, 3, 90.0, None, 1), (2, 2, 3, 45.0, 1, 2)], schemas.FAULT),
    )
    db.insert(
        "fault_plane",
        mk(
            [
                (1, -42.0, 172.0, -42.0, 173.0, -43.0, 173.0, -43.0, 172.0, 0.0, 10.0, 1),
                (2, -41.0, 171.0, -41.0, 172.0, -42.0, 172.0, -42.0, 171.0, 0.0, 12.0, 2),
            ],
            schemas.FAULT_PLANE,
        ),
    )
    db.insert(
        "rupture",
        mk(
            [
                (1, 3, 1, 100.0, 6.5, 10.0, 0.01),
                (2, 3, 2, 250.0, 7.1, 30.0, 0.002),
            ],
            schemas.RUPTURE,
        ),
    )
    db.insert(
        "rupture_faults", mk([(1, 1, 1), (2, 2, 1), (3, 2, 2)], schemas.RUPTURE_FAULTS)
    )
    db.insert(
        "magnitude_frequency_distribution",
        mk([(1, 1, 6.5, 0.01), (2, 1, 7.0, 0.004), (3, 2, 7.2, 0.001)], schemas.MFD),
    )
    return db


class TestPointLookups:
    def test_get_fault_corners_golden(self, db):
        # reference golden corners (WGS84 before projection),
        # tests/test_nshmdb.py:73-83
        fault = db.get_fault(3, 1)
        assert len(fault.planes) == 1
        np.testing.assert_allclose(
            fault.planes[0].corners,
            [[-42.0, 172.0, 0.0], [-42.0, 173.0, 0.0], [-43.0, 173.0, 10.0], [-43.0, 172.0, 10.0]],
        )

    def test_projection_hook_applies(self, db, spark):
        shifted = NSHMDB(spark, db.path, projection=lambda c: c + 1.0)
        assert shifted.get_fault(3, 1).planes[0].corners[0, 0] == -41.0

    def test_get_fault_info(self, db):
        info = db.get_fault_info(3, 1)
        assert (info.name, info.rake, info.tect_type) == ("Alpine Fault", 90.0, None)

    def test_get_fault_info_missing_raises(self, db):
        with pytest.raises(KeyError):
            db.get_fault_info(1, 999)

    def test_get_rupture_with_geometry(self, db):
        # reference: tests/test_nshmdb.py:92-102
        r = db.get_rupture(3, 1)
        assert (r.magnitude, r.area, r.length, r.rate) == (6.5, 100.0, 10.0, 0.01)
        # CRUSTAL ruptures merge sections under the bare parent name
        # (reference nshmdb.py:559-563; its tests/test_nshmdb.py:85-101
        # expect exactly this)
        assert set(r.faults) == {"Alpine Fault"}

    def test_rupture_spanning_two_faults(self, db):
        r = db.get_rupture(3, 2)
        assert set(r.faults) == {"Alpine Fault", "Hope Fault"}

    def test_get_rupture_fault_info_includes_system(self, db):
        infos = db.get_rupture_fault_info(3, 2)
        assert {i.name for i in infos} == {"Alpine Fault", "Hope Fault"}

    def test_fault_names_and_ids(self, db):
        assert db.get_fault_names() == {"Alpine Fault", "Hope Fault"}
        assert db.get_fault_ids() == {1, 2}


class TestRates:
    def test_most_likely_fault_golden(self, db):
        # reference golden: most_likely_fault(Crustal, 1, {'Alpine Fault': 6.5})
        # == {'Alpine Fault': 0.01} (tests/test_nshmdb.py:130-133)
        assert db.most_likely_fault(3, 1, {"Alpine Fault": 6.5}) == {"Alpine Fault": 0.01}

    def test_nearest_ge_rounds_up(self, db):
        # 6.7 rounds up to bin 7.0 → rate 0.004
        assert db.most_likely_fault(3, 1, {"Alpine Fault": 6.7}) == {"Alpine Fault": 0.004}

    def test_nearest_ge_clamps_to_max(self, db):
        # 9.0 beyond max bin 7.0 → clamped → rate 0.004
        assert db.most_likely_fault(3, 1, {"Alpine Fault": 9.0}) == {"Alpine Fault": 0.004}


def _jobs_of(spark, call) -> int:
    """Spark jobs ``call()`` runs, counted through its job group once the
    listener bus has delivered every job-start event to the status store."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestReadPathWork:
    """Work counters of the read path. Job counts do not drift with host
    load, so they pin the plan shapes: the dimension tables come from the
    session's driver-side snapshot, so Spark runs only over the fact
    tables; most_likely_fault is one plan and one collect with the
    rounding on the driver; the geometry step of get_rupture and query is
    one bridge collect, sorted on the driver instead of a global orderBy.
    The warm pins call once first, so the snapshot is loaded."""

    @staticmethod
    def _warm_jobs_of(spark, call) -> int:
        call()
        return _jobs_of(spark, call)

    def test_most_likely_fault_jobs(self, db, spark):
        assert self._warm_jobs_of(
            spark, lambda: db.most_likely_fault(3, 2, {"Alpine Fault": 6.7})) <= 3

    def test_get_fault_jobs(self, db, spark):
        assert self._warm_jobs_of(spark, lambda: db.get_fault(3, 1)) == 0
        assert self._warm_jobs_of(spark, lambda: db.get_fault_info(3, 1)) == 0

    def test_geometry_step_jobs(self, db, spark):
        assert self._warm_jobs_of(spark, lambda: db.get_rupture(3, 2)) <= 2
        assert self._warm_jobs_of(spark, lambda: db.query("Alpine Fault")) <= 6

    def test_get_rupture_fault_info_jobs(self, db, spark):
        assert self._warm_jobs_of(spark, lambda: db.get_rupture_fault_info(3, 2)) <= 2

    def test_cold_get_fault_info_jobs(self, db, spark):
        """A fresh session loads its snapshots: one scan of fault and one
        of parent_fault."""
        cold = NSHMDB(spark.newSession(), db.path)
        assert _jobs_of(spark, lambda: cold.get_fault_info(3, 1)) <= 2

    def test_read_methods_build_no_python_backed_relation(self):
        """No NSHMDB read method, and not the module-level snapshot loader,
        calls createDataFrame: a relation built from driver-side Python
        data is backed by a Python RDD, and every plan that uses it starts
        Python workers. Inserts are exempt.

        And no read method names a dimension table (fault, parent_fault,
        fault_plane) in a ``self.table(...)`` call: they come from the
        session's snapshot (``_snapshot``). The one exception is query's
        membership ``dim``, the shared ``advanced_query`` plan's input.
        Read methods are the get_* methods, most_likely_fault and query,
        and every method they reach through ``self``."""
        tree = ast.parse(inspect.getsource(database))
        (cls,) = [n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "NSHMDB"]
        (loader,) = [
            n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_load_snapshot"
        ]
        methods = {fn.name: fn for fn in cls.body if isinstance(fn, ast.FunctionDef)}

        def self_calls(fn):
            return [
                n
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == "self"
            ]

        reads: set[str] = set()
        todo = [m for m in methods if m.startswith("get_")] + ["most_likely_fault", "query"]
        while todo:
            name = todo.pop()
            if name not in reads:
                reads.add(name)
                todo += [c.func.attr for c in self_calls(methods[name]) if c.func.attr in methods]
        assert {"_fault_rows", "_rupture_faults_bulk", "most_likely_fault", "query",
                "get_fault", "_snapshot"} <= reads

        (dim,) = [
            n for n in ast.walk(methods["query"])
            if isinstance(n, ast.Assign) and [ast.unparse(t) for t in n.targets] == ["dim"]
        ]
        membership = {id(n) for n in ast.walk(dim.value)}
        for fn in [loader, *(methods[m] for m in sorted(reads))]:
            calls = [
                n.lineno
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
            ]
            assert not calls, f"{fn.name} calls createDataFrame"
            dims = [
                ast.unparse(c)
                for c in self_calls(fn)
                if c.func.attr == "table"
                and any(isinstance(a, ast.Constant) and a.value in ("fault", "parent_fault", "fault_plane")
                        for a in c.args)
                and id(c) not in membership
            ]
            assert not dims, f"NSHMDB.{fn.name} scans a dimension table: {dims}"


class TestAdvancedQueryOnDomain:
    def test_query_golden(self, db):
        # reference golden: DSL "Alpine Fault" → rupture nshm 1, mag 6.5,
        # rate 0.01 first (tests/test_nshmdb.py:120-127)
        hits = db.query("Alpine Fault")
        assert [(h.rupture_nshm_id, h.magnitude, h.rate) for h in hits] == [
            (1, 6.5, 0.01),
            (2, 7.1, 0.002),
        ]
        assert set(hits[1].faults) == {"Alpine Fault", "Hope Fault"}

    def test_query_negation_with_geometry(self, db):
        hits = db.query("Alpine Fault & !Hope Fault")
        assert [h.rupture_nshm_id for h in hits] == [1]


class TestParentFaultUpsert:
    def test_insert_or_ignore(self, db, spark):
        db.insert_parent_faults(
            spark.createDataFrame([("Alpine Fault",), ("Kakapo",)], "name string")
        )
        names = db.get_fault_names()
        assert names == {"Alpine Fault", "Hope Fault", "Kakapo"}
        ids = {
            r.parent_id
            for r in db.table("parent_fault").select("parent_id").collect()
        }
        assert ids == {1, 2, 3}  # dense continuation from MAX(id)


class TestETL:
    def test_mfd_unpivot_drops_zero_rates(self, spark):
        wide = spark.createDataFrame(
            [(1, 0.01, 0.0), (2, 0.02, 0.004)],
            "nshm_id long, `6.5` double, `7.0` double",
        )
        got = sorted(tuple(r) for r in parse_mfd_wide(wide).collect())
        assert got == [(1, 6.5, 0.01), (2, 6.5, 0.02), (2, 7.0, 0.004)]

    def test_ragged_indices(self, spark):
        lines = spark.createDataFrame([("5,2,11,12",)], "value string")
        got = sorted(tuple(r) for r in parse_rupture_indices(lines).collect())
        assert got == [(5, 11), (5, 12)]

    def test_branch_merge_then_stack(self, spark):
        b1 = spark.createDataFrame([(1, 0.01)], "nshm_id long, rate double")
        b2 = spark.createDataFrame([(1, 0.03)], "nshm_id long, rate double")
        merged = merge_branches([(0.75, b1), (0.25, b2)], ["nshm_id"])
        sys2 = spark.createDataFrame([(9, 0.5)], "nshm_id long, rate double")
        got = sorted(tuple(r) for r in stack_fault_systems([merged, sys2]).collect())
        assert got == [(1, 0.015), (9, 0.5)]


class TestBulkInserts:
    """Round-trip the reference's bulk-insert surface
    (nshmdb.py:250-366,452-468): insert through the API, read back through
    the point-access paths."""

    @pytest.fixture()
    def fresh(self, spark, tmp_path_factory):
        return NSHMDB.create(spark, str(tmp_path_factory.mktemp("bulkdb")))

    def test_insert_many_faults_roundtrip(self, spark, fresh):
        from nshm2022db_spark.api.database import Fault, FaultInfo, Plane

        corners = np.array(
            [
                [-42.0, 172.0, 0.0],
                [-42.0, 173.0, 0.0],
                [-43.0, 173.0, 10.0],
                [-43.0, 172.0, 10.0],
            ]
        )
        faults = [
            FaultInfo(3, 101, "Alpine Fault", 90.0, None, Fault([Plane(corners)])),
            FaultInfo(3, 102, "Hope Fault", 45.0, 1, None),
        ]
        fresh.insert_many_faults(faults)

        info = fresh.get_fault_info(3, 102)
        assert info.name == "Hope Fault" and info.rake == 45.0
        # tect_type round-trips through insert (VERDICT r01 asked this be
        # pinned; insert_solution hard-codes NULL for reference parity,
        # api.py:285, but the bulk path must preserve real values)
        assert info.tect_type == 1
        assert fresh.get_fault_info(3, 101).tect_type is None
        got = fresh.get_fault(3, 101)
        assert np.allclose(got.planes[0].corners, corners)
        # dense, 1-based surrogate keys in list order
        ids = {r.nshm_id: r.fault_id for r in fresh.table("fault").collect()}
        assert ids == {101: 1, 102: 2}

    def test_insert_ruptures_and_mfd_roundtrip(self, spark, fresh):
        from nshm2022db_spark.api.database import Fault, FaultInfo, Plane

        corners = np.array(
            [[-42.0, 172.0, 0.0], [-42.0, 173.0, 0.0],
             [-43.0, 173.0, 10.0], [-43.0, 172.0, 10.0]]
        )
        fresh.insert_many_faults(
            [FaultInfo(3, 101, "Alpine Fault", 90.0, None, Fault([Plane(corners)]))]
        )
        fresh.insert_many_ruptures(
            spark.createDataFrame(
                [(11, 3, 7.2, 500.0, 80.0, 0.004)],
                "nshm_id long, fault_system int, magnitude double, area double,"
                " len double, rate double",
            ),
            spark.createDataFrame(
                [(11, 101, 3)],
                "rupture_nshm_id long, fault_nshm_id long, fault_system int",
            ),
        )
        rupture = fresh.get_rupture(3, 11)
        assert rupture.magnitude == 7.2 and rupture.rate == 0.004
        # crustal: bare parent name (reference nshmdb.py:559-563)
        assert list(rupture.faults) == ["Alpine Fault"]

        fresh.insert_magnitude_frequency_distribution(
            spark.createDataFrame(
                [(101, 3, 6.5, 0.01), (101, 3, 7.0, 0.002)],
                "nshm_id long, fault_system int, magnitude double, rate double",
            )
        )
        mfd = fresh.table("magnitude_frequency_distribution").collect()
        assert {(r.magnitude, r.rate) for r in mfd} == {(6.5, 0.01), (7.0, 0.002)}
        assert all(r.fault_id == 1 for r in mfd)

    def test_unresolvable_natural_keys_fail_loudly(self, spark, fresh):
        """Bridge/MFD rows pointing at absent faults must raise, not append
        NULL surrogate ids (the reference's dict merge raises KeyError)."""
        fresh.insert_many_ruptures(
            spark.createDataFrame(
                [(11, 3, 7.2, 500.0, 80.0, 0.004)],
                "nshm_id long, fault_system int, magnitude double, area double,"
                " len double, rate double",
            ),
            spark.createDataFrame([], "rupture_nshm_id long, fault_nshm_id long,"
                                      " fault_system int"),
        )
        with pytest.raises(ValueError, match="natural keys not present"):
            fresh.insert_many_ruptures(
                spark.createDataFrame(
                    [(12, 3, 6.0, 1.0, 1.0, 0.001)],
                    "nshm_id long, fault_system int, magnitude double,"
                    " area double, len double, rate double",
                ),
                # fault 999 was never inserted
                spark.createDataFrame(
                    [(12, 999, 3)],
                    "rupture_nshm_id long, fault_nshm_id long, fault_system int",
                ),
            )
        with pytest.raises(ValueError, match="natural keys not present"):
            fresh.insert_magnitude_frequency_distribution(
                spark.createDataFrame(
                    [(999, 3, 6.5, 0.01)],
                    "nshm_id long, fault_system int, magnitude double, rate double",
                )
            )


class TestCsvAndPlots:
    def test_read_rupture_csvs(self, spark, tmp_path):
        from nshm2022db_spark.etl.ingest import read_rupture_csvs

        (tmp_path / "rates.csv").write_text(
            "Rupture Index,Annual Rate\n1,0.004\n2,0.001\n"
        )
        (tmp_path / "props.csv").write_text(
            'Rupture Index,Magnitude,"Area (m^2)","Length (m)"\n'
            "1,7.2,500.0,80000.0\n2,6.8,200.0,30000.0\n"
        )
        got = sorted(
            tuple(r)
            for r in read_rupture_csvs(
                spark, str(tmp_path / "rates.csv"), str(tmp_path / "props.csv"), 3
            ).collect()
        )
        assert got == [
            (1, 7.2, 500.0, 80000.0, 0.004, 3),
            (2, 6.8, 200.0, 30000.0, 0.001, 3),
        ]

    def test_read_mfd_csv_melts_and_drops_zero(self, spark, tmp_path):
        from nshm2022db_spark.etl.ingest import read_mfd_csv

        (tmp_path / "mfds.csv").write_text(
            "Section Index,6.5,7.0\n101,0.01,0.0\n102,0.02,0.004\n"
        )
        got = sorted(
            tuple(r) for r in read_mfd_csv(spark, str(tmp_path / "mfds.csv"), 2).collect()
        )
        assert got == [
            (101, 6.5, 0.01, 2),
            (102, 6.5, 0.02, 2),
            (102, 7.0, 0.004, 2),
        ]

    def test_plot_region_and_rings(self):
        from nshm2022db_spark.api.database import Fault, Plane
        from nshm2022db_spark.plots import plot_region
        from nshm2022db_spark.plots.rupture import plane_rings

        corners = np.array(
            [[-42.0, 172.0, 0.0], [-42.0, 173.0, 0.0],
             [-43.0, 173.0, 10.0], [-43.0, 172.0, 10.0]]
        )
        faults = [Fault([Plane(corners)])]
        assert plot_region(faults) == (171.5, 173.5, -43.25, -41.75)
        (ring,) = plane_rings(faults)
        assert ring[0][-1] == ring[0][0] and len(ring[0]) == 5

    def test_plot_rupture_renders_png(self, tmp_path):
        """S10 end-to-end: the sink writes a real decodable PNG with the
        plane polygon filled (works with or without matplotlib — the
        NumPy/zlib backend is always available)."""
        import zlib

        from nshm2022db_spark.api.database import Fault, Plane
        from nshm2022db_spark.plots import plot_rupture

        corners = np.array(
            [[-42.0, 172.0, 0.0], [-42.0, 173.0, 0.0],
             [-43.0, 173.0, 10.0], [-43.0, 172.0, 10.0]]
        )
        out = tmp_path / "rupture.png"
        plot_rupture("Alpine Fault rupture", [Fault([Plane(corners)])], str(out))
        data = out.read_bytes()
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        # decodable IDAT with non-white (filled) pixels somewhere
        idat_at = data.find(b"IDAT")
        assert idat_at > 0
        # with the numpy backend, check the fill actually landed
        from nshm2022db_spark.plots.rupture import _HAVE_BACKEND

        if not _HAVE_BACKEND:
            length = int.from_bytes(data[idat_at - 4 : idat_at], "big")
            raw = zlib.decompress(data[idat_at + 4 : idat_at + 4 + length])
            assert raw.count(b"\xdc\x3c\x32") > 100  # (220,60,50) fill runs


class TestReferenceParityDetails:
    def test_crustal_sections_merge_under_parent(self, spark, tmp_path):
        """A crustal rupture spanning TWO sections of one parent returns
        ONE merged Fault keyed by the bare parent name with both
        sections' planes (reference nshmdb.py:559-563)."""
        db = NSHMDB.create(spark, str(tmp_path / "db"))
        db.insert_many_faults(
            [
                FaultInfo(3, 11, "Alpine Fault", 90.0, None,
                          Fault([Plane(np.zeros((4, 3)))])),
                FaultInfo(3, 12, "Alpine Fault", 90.0, None,
                          Fault([Plane(np.ones((4, 3)))])),
            ]
        )
        db.insert_many_ruptures(
            spark.createDataFrame(
                [(21, 3, 7.0, 50.0, 5.0, 0.01)],
                "nshm_id long, fault_system int, magnitude double,"
                " area double, len double, rate double",
            ),
            spark.createDataFrame(
                [(21, 11, 3), (21, 12, 3)],
                "rupture_nshm_id long, fault_nshm_id long, fault_system int",
            ),
        )
        r = db.get_rupture(3, 21)
        assert list(r.faults) == ["Alpine Fault"]
        assert len(r.faults["Alpine Fault"].planes) == 2

    def test_most_likely_fault_rounds_in_global_set_and_omits(
        self, spark, tmp_path
    ):
        """Rounding uses the rupture's GLOBAL distinct-magnitude set; a
        parent with no MFD row at the rounded magnitude is OMITTED
        (reference nshmdb.py:204-234: single searchsorted array + an
        equality join that drops non-matches)."""
        db = NSHMDB.create(spark, str(tmp_path / "db"))
        db.insert_many_faults(
            [
                FaultInfo(3, 11, "A", 90.0, None,
                          Fault([Plane(np.zeros((4, 3)))])),
                FaultInfo(3, 12, "B", 90.0, None,
                          Fault([Plane(np.ones((4, 3)))])),
            ]
        )
        db.insert_many_ruptures(
            spark.createDataFrame(
                [(21, 3, 7.0, 50.0, 5.0, 0.01)],
                "nshm_id long, fault_system int, magnitude double,"
                " area double, len double, rate double",
            ),
            spark.createDataFrame(
                [(21, 11, 3), (21, 12, 3)],
                "rupture_nshm_id long, fault_nshm_id long, fault_system int",
            ),
        )
        # A has bins {6.5, 7.0}; B has {6.6}: the global set is
        # {6.5, 6.6, 7.0}
        db.insert_magnitude_frequency_distribution(
            spark.createDataFrame(
                [(11, 3, 6.5, 0.01), (11, 3, 7.0, 0.002), (12, 3, 6.6, 0.03)],
                "nshm_id long, fault_system int, magnitude double, rate double",
            )
        )
        # 6.55 rounds to 6.6 in the GLOBAL set; A has no 6.6 row → A is
        # omitted (per-parent rounding would have fabricated 7.0/0.002)
        assert db.most_likely_fault(3, 21, {"A": 6.55}) == {}
        # B at 6.55 → global 6.6 → B's own bin
        assert db.most_likely_fault(3, 21, {"B": 6.55}) == {"B": 0.03}
        # A at 6.3 → global 6.5 → A's 6.5 row
        assert db.most_likely_fault(3, 21, {"A": 6.3}) == {"A": 0.01}

    def test_most_likely_fault_parents_sharing_a_magnitude(
        self, spark, tmp_path
    ):
        """Two requested parents with the SAME target magnitude each get
        their own rate once — the rounding lookup yields one row per
        distinct target, so joining it back to the requests must not
        multiply a parent's rows by the number of parents sharing it."""
        db = NSHMDB.create(spark, str(tmp_path / "db"))
        db.insert_many_faults(
            [
                FaultInfo(3, 11, "A", 90.0, None,
                          Fault([Plane(np.zeros((4, 3)))])),
                FaultInfo(3, 12, "B", 90.0, None,
                          Fault([Plane(np.ones((4, 3)))])),
            ]
        )
        db.insert_many_ruptures(
            spark.createDataFrame(
                [(21, 3, 7.0, 50.0, 5.0, 0.01)],
                "nshm_id long, fault_system int, magnitude double,"
                " area double, len double, rate double",
            ),
            spark.createDataFrame(
                [(21, 11, 3), (21, 12, 3)],
                "rupture_nshm_id long, fault_nshm_id long, fault_system int",
            ),
        )
        db.insert_magnitude_frequency_distribution(
            spark.createDataFrame(
                [(11, 3, 6.5, 0.01), (11, 3, 7.0, 0.002), (12, 3, 6.5, 0.03)],
                "nshm_id long, fault_system int, magnitude double, rate double",
            )
        )
        # both 6.4 requests round to 6.5: each parent's own 6.5 rate
        assert db.most_likely_fault(3, 21, {"A": 6.4, "B": 6.4}) == {
            "A": 0.01,
            "B": 0.03,
        }


# -- same answers on the edge cases of the dimension joins -------------------


def _plane_row(plane_id: int, fault_id: int) -> tuple:
    """A fault_plane row whose twelve corner values are all distinct."""
    lat, lon = -40.0 - plane_id, 170.0 + plane_id
    return (plane_id, lat, lon, lat, lon + 0.5, lat - 0.25, lon + 0.5, lat - 0.25, lon,
            0.5 * plane_id, 5.0 + plane_id, fault_id)


def _edge_db(spark, path: str, **kw) -> NSHMDB:
    """A database with the join edge cases: parent 3 has no fault; fault 3
    names a missing parent (9); faults 4 and 5 share the natural key
    (3, 4); faults 6 and 7 are non-crustal sections; bridge row 4 names a
    missing fault (99), and so does an MFD row; rupture 4 has no faults.
    Each table is one file, so scan order, and with it the order of
    unsorted answers, does not depend on the session's width."""
    db = NSHMDB.create(spark, path, **kw)

    def mk(rows, schema):
        return spark.createDataFrame(rows, schema).coalesce(1)

    db.insert("parent_fault", mk(
        [(1, "Alpine Fault"), (2, "Hope Fault"), (3, "Lonely Parent"), (5, "Kermadec")],
        schemas.PARENT_FAULT))
    db.insert("fault", mk(
        [(1, 1, 3, 90.0, None, 1), (2, 2, 3, 45.0, 1, 2), (3, 3, 3, 30.0, None, 9),
         (4, 4, 3, 60.0, 2, 1), (5, 4, 3, 60.0, 2, 1), (6, 1, 1, 20.0, None, 5),
         (7, 2, 1, 25.0, None, 5)],
        schemas.FAULT))
    db.insert("fault_plane", mk(
        [_plane_row(p, f) for p, f in
         [(9, 7), (6, 4), (1, 1), (2, 2), (3, 3), (4, 5), (5, 4), (7, 6), (8, 7)]],
        schemas.FAULT_PLANE))
    db.insert("rupture", mk(
        [(1, 3, 1, 100.0, 6.5, 10.0, 0.01), (2, 3, 2, 250.0, 7.1, 30.0, 0.002),
         (3, 3, 3, 80.0, 6.8, 8.0, 0.003), (4, 3, 4, 10.0, 6.0, 1.0, 0.05),
         (5, 1, 1, 900.0, 8.1, 90.0, 0.0007), (6, 3, 5, 300.0, 7.3, 35.0, 0.004)],
        schemas.RUPTURE))
    db.insert("rupture_faults", mk(
        [(1, 1, 1), (2, 2, 1), (3, 2, 2), (4, 3, 99), (5, 3, 3), (6, 3, 1), (7, 5, 6),
         (8, 5, 7), (9, 6, 4), (10, 6, 5), (11, 6, 2)],
        schemas.RUPTURE_FAULTS))
    db.insert("magnitude_frequency_distribution", mk(
        [(1, 1, 6.5, 0.01), (2, 1, 7.0, 0.004), (3, 2, 7.2, 0.001), (4, 99, 6.6, 0.5),
         (5, 3, 6.8, 0.3), (6, 6, 7.5, 0.02), (7, 7, 7.5, 0.03), (8, 7, 8.0, 0.01),
         (9, 4, 6.9, 0.05), (10, 5, 6.9, 0.07)],
        schemas.MFD))
    return db


def _plane_id(plane: Plane, unproject=lambda c: c):
    """The id of the `_plane_row` whose corners, in reference corner order,
    are ``plane``'s after ``unproject``; the raw corners if none are."""
    c = unproject(plane.corners).ravel().tolist()
    for pid in range(1, 10):
        r = _plane_row(pid, 0)
        want = [r[1], r[2], r[9], r[3], r[4], r[9], r[5], r[6], r[10], r[7], r[8], r[10]]
        if c == want:
            return pid
    return tuple(c)


def _fault_answer(fault: Fault, unproject=lambda c: c) -> list:
    return [_plane_id(p, unproject) for p in fault.planes]


def _rupture_answer(r, unproject=lambda c: c) -> tuple:
    return (r.fault_system, r.rupture_nshm_id, r.magnitude, r.area, r.length, r.rate,
            [(k, _fault_answer(v, unproject)) for k, v in r.faults.items()])


def _info_answer(i: FaultInfo) -> tuple:
    return (i.fault_system, i.fault_nshm_id, i.name, i.rake, i.tect_type, i.fault)


def _answer(call):
    try:
        return call()
    except KeyError:
        return "KeyError"


def _edge_answers(db: NSHMDB, shifted: NSHMDB) -> dict:
    """Every read method's answer on the edge-case fixture, as plain data
    (planes as their `_plane_row` ids); ``shifted`` is the same database
    with the projection ``2c + 1``."""
    out = {}
    for fs, nid in [(3, 1), (3, 2), (3, 3), (3, 4), (1, 1), (1, 2), (9, 9)]:
        out[f"get_fault{(fs, nid)}"] = _answer(lambda: _fault_answer(db.get_fault(fs, nid)))
        out[f"get_fault_info{(fs, nid)}"] = _answer(
            lambda: _info_answer(db.get_fault_info(fs, nid)))
    for fs, nid in [(3, 1), (3, 2), (3, 3), (3, 4), (1, 1), (3, 5), (9, 9)]:
        out[f"get_rupture{(fs, nid)}"] = _answer(lambda: _rupture_answer(db.get_rupture(fs, nid)))
        out[f"get_rupture_fault_info{(fs, nid)}"] = [
            _info_answer(i) for i in db.get_rupture_fault_info(fs, nid)]
    for rid in (1, 3, 4, 6, 99):
        out[f"get_rupture_faults({rid})"] = [
            (k, _fault_answer(v)) for k, v in db.get_rupture_faults(rid).items()]
    for fs, nid, mags in [
        (3, 1, {"Alpine Fault": 6.5}),
        (3, 3, {"Alpine Fault": 6.55}),
        (3, 3, {"Alpine Fault": 6.0, "Lonely Parent": 6.0}),
        (1, 1, {"Kermadec": 7.4}),
        (3, 5, {"Alpine Fault": 6.9, "Hope Fault": 7.0}),
        (3, 4, {"Alpine Fault": 6.5}),
    ]:
        out[f"most_likely_fault{(fs, nid, mags)}"] = db.most_likely_fault(fs, nid, mags)
    for q, kw in [
        ("Alpine Fault", {}),
        ("Hope Fault | Kermadec", {}),
        ("Alpine Fault & !Hope Fault", {}),
        ("Alpine Fault | Kermadec", {"fault_count_limit": 1}),
        ("Lonely Parent", {}),
        ("Alpine Fault", {"rate_bounds": (0.003, None), "magnitude_bounds": (6.6, 8.0)}),
    ]:
        out[f"query({q!r}, {kw})"] = [_rupture_answer(r) for r in db.query(q, **kw)]
    out["get_fault_names()"] = sorted(db.get_fault_names())
    out["get_fault_ids()"] = sorted(db.get_fault_ids())
    def unproject(c):
        return (c - 1.0) / 2.0

    out["projection get_fault(3, 4)"] = _fault_answer(shifted.get_fault(3, 4), unproject)
    out["projection get_rupture(1, 1)"] = _rupture_answer(shifted.get_rupture(1, 1), unproject)
    out["projection query('Alpine Fault')"] = [
        _rupture_answer(r, unproject) for r in shifted.query("Alpine Fault")]
    return out


# recorded from the join-based read path, before the dimension snapshot
_EDGE_ANSWERS = {
    'get_fault(3, 1)': [1],
    'get_fault_info(3, 1)': (3, 1, 'Alpine Fault', 90.0, None, None),
    'get_fault(3, 2)': [2],
    'get_fault_info(3, 2)': (3, 2, 'Hope Fault', 45.0, 1, None),
    'get_fault(3, 3)': [],
    'get_fault_info(3, 3)': 'KeyError',
    'get_fault(3, 4)': [4, 5, 6],
    'get_fault_info(3, 4)': (3, 4, 'Alpine Fault', 60.0, 2, None),
    'get_fault(1, 1)': [7],
    'get_fault_info(1, 1)': (1, 1, 'Kermadec', 20.0, None, None),
    'get_fault(1, 2)': [8, 9],
    'get_fault_info(1, 2)': (1, 2, 'Kermadec', 25.0, None, None),
    'get_fault(9, 9)': [],
    'get_fault_info(9, 9)': 'KeyError',
    'get_rupture(3, 1)': (3, 1, 6.5, 100.0, 10.0, 0.01, [('Alpine Fault', [1])]),
    'get_rupture_fault_info(3, 1)': [(3, 1, 'Alpine Fault', 90.0, None, None)],
    'get_rupture(3, 2)': (
        3, 2, 7.1, 250.0, 30.0, 0.002,
        [('Alpine Fault', [1]), ('Hope Fault', [2])],
    ),
    'get_rupture_fault_info(3, 2)': [
        (3, 1, 'Alpine Fault', 90.0, None, None),
        (3, 2, 'Hope Fault', 45.0, 1, None),
    ],
    'get_rupture(3, 3)': (3, 3, 6.8, 80.0, 8.0, 0.003, [('Alpine Fault', [1])]),
    'get_rupture_fault_info(3, 3)': [(3, 1, 'Alpine Fault', 90.0, None, None)],
    'get_rupture(3, 4)': (3, 4, 6.0, 10.0, 1.0, 0.05, []),
    'get_rupture_fault_info(3, 4)': [],
    'get_rupture(1, 1)': (
        1, 1, 8.1, 900.0, 90.0, 0.0007,
        [('Kermadec: Section 6', [7]), ('Kermadec: Section 7', [8, 9])],
    ),
    'get_rupture_fault_info(1, 1)': [
        (1, 1, 'Kermadec', 20.0, None, None),
        (1, 2, 'Kermadec', 25.0, None, None),
    ],
    'get_rupture(3, 5)': (
        3, 5, 7.3, 300.0, 35.0, 0.004,
        [('Alpine Fault', [4, 5, 6]), ('Hope Fault', [2])],
    ),
    'get_rupture_fault_info(3, 5)': [
        (3, 4, 'Alpine Fault', 60.0, 2, None),
        (3, 4, 'Alpine Fault', 60.0, 2, None),
        (3, 2, 'Hope Fault', 45.0, 1, None),
    ],
    'get_rupture(9, 9)': 'KeyError',
    'get_rupture_fault_info(9, 9)': [],
    'get_rupture_faults(1)': [('Alpine Fault', [1])],
    'get_rupture_faults(3)': [('Alpine Fault', [1])],
    'get_rupture_faults(4)': [],
    'get_rupture_faults(6)': [('Alpine Fault', [4, 5, 6]), ('Hope Fault', [2])],
    'get_rupture_faults(99)': [],
    "most_likely_fault(3, 1, {'Alpine Fault': 6.5})": {'Alpine Fault': 0.01},
    "most_likely_fault(3, 3, {'Alpine Fault': 6.55})": {'Alpine Fault': 0.004},
    "most_likely_fault(3, 3, {'Alpine Fault': 6.0, 'Lonely Parent': 6.0})": {'Alpine Fault': 0.01},
    "most_likely_fault(1, 1, {'Kermadec': 7.4})": {'Kermadec': 0.05},
    "most_likely_fault(3, 5, {'Alpine Fault': 6.9, 'Hope Fault': 7.0})": {
        'Alpine Fault': 0.12000000000000001,
        'Hope Fault': 0.001,
    },
    "most_likely_fault(3, 4, {'Alpine Fault': 6.5})": {},
    "query('Alpine Fault', {})": [
        (3, 1, 6.5, 100.0, 10.0, 0.01, [('Alpine Fault', [1])]),
        (3, 5, 7.3, 300.0, 35.0, 0.004, [('Alpine Fault', [4, 5, 6]), ('Hope Fault', [2])]),
        (3, 3, 6.8, 80.0, 8.0, 0.003, [('Alpine Fault', [1])]),
        (3, 2, 7.1, 250.0, 30.0, 0.002, [('Alpine Fault', [1]), ('Hope Fault', [2])]),
    ],
    "query('Hope Fault | Kermadec', {})": [
        (3, 5, 7.3, 300.0, 35.0, 0.004, [('Alpine Fault', [4, 5, 6]), ('Hope Fault', [2])]),
        (3, 2, 7.1, 250.0, 30.0, 0.002, [('Alpine Fault', [1]), ('Hope Fault', [2])]),
        (1, 1, 8.1, 900.0, 90.0, 0.0007, [('Kermadec: Section 6', [7]), ('Kermadec: Section 7', [8, 9])]),
    ],
    "query('Alpine Fault & !Hope Fault', {})": [
        (3, 1, 6.5, 100.0, 10.0, 0.01, [('Alpine Fault', [1])]),
        (3, 3, 6.8, 80.0, 8.0, 0.003, [('Alpine Fault', [1])]),
    ],
    "query('Alpine Fault | Kermadec', {'fault_count_limit': 1})": [
        (3, 1, 6.5, 100.0, 10.0, 0.01, [('Alpine Fault', [1])]),
        (3, 3, 6.8, 80.0, 8.0, 0.003, [('Alpine Fault', [1])]),
        (1, 1, 8.1, 900.0, 90.0, 0.0007, [('Kermadec: Section 6', [7]), ('Kermadec: Section 7', [8, 9])]),
    ],
    "query('Lonely Parent', {})": [],
    "query('Alpine Fault', {'rate_bounds': (0.003, None), 'magnitude_bounds': (6.6, 8.0)})": [
        (3, 5, 7.3, 300.0, 35.0, 0.004, [('Alpine Fault', [4, 5, 6]), ('Hope Fault', [2])]),
        (3, 3, 6.8, 80.0, 8.0, 0.003, [('Alpine Fault', [1])]),
    ],
    'get_fault_names()': ['Alpine Fault', 'Hope Fault', 'Kermadec', 'Lonely Parent'],
    'get_fault_ids()': [1, 2, 3, 4],
    'projection get_fault(3, 4)': [4, 5, 6],
    'projection get_rupture(1, 1)': (
        1, 1, 8.1, 900.0, 90.0, 0.0007,
        [('Kermadec: Section 6', [7]), ('Kermadec: Section 7', [8, 9])],
    ),
    "projection query('Alpine Fault')": [
        (3, 1, 6.5, 100.0, 10.0, 0.01, [('Alpine Fault', [1])]),
        (3, 5, 7.3, 300.0, 35.0, 0.004, [('Alpine Fault', [4, 5, 6]), ('Hope Fault', [2])]),
        (3, 3, 6.8, 80.0, 8.0, 0.003, [('Alpine Fault', [1])]),
        (3, 2, 7.1, 250.0, 30.0, 0.002, [('Alpine Fault', [1]), ('Hope Fault', [2])]),
    ],
}


class TestEdgeCaseAnswers:
    """Every read method answers the join edge cases of `_edge_db` as it did
    when each call joined the dimension tables in Spark; both layouts."""

    @pytest.mark.parametrize("partition_facts", [False, True])
    def test_answers_unchanged(self, spark, tmp_path, partition_facts):
        db = _edge_db(spark, str(tmp_path / "db"), partition_facts=partition_facts)
        shifted = NSHMDB(spark, db.path, projection=lambda c: c * 2.0 + 1.0)
        assert _edge_answers(db, shifted) == _EDGE_ANSWERS


class TestDimensionSnapshot:
    """The read path's driver-side copies of fault, parent_fault and
    fault_plane (``database._load_snapshot``): one load per SparkSession
    and table-dir listing, so any write to a dimension dir shows on the
    next read."""

    @pytest.fixture()
    def edge(self, spark, tmp_path):
        return _edge_db(spark, str(tmp_path / "db"))

    _CORNERS = np.array(
        [[-42.0, 172.0, 0.0], [-42.0, 173.0, 0.0], [-43.0, 173.0, 10.0], [-43.0, 172.0, 10.0]]
    )

    def test_api_writers_are_visible_on_next_read(self, spark, edge):
        assert edge.get_fault_info(3, 1).name == "Alpine Fault"
        assert len(edge.get_fault(3, 1).planes) == 1
        assert edge.query("Wairau") == []

        edge.insert_parent_faults(spark.createDataFrame([("Wairau",)], "name string"))
        assert "Wairau" in edge.get_fault_names()

        edge.insert_many_faults(
            [FaultInfo(3, 40, "Wairau", 70.0, 1, Fault([Plane(self._CORNERS)]))]
        )
        assert edge.get_fault_info(3, 40) == FaultInfo(3, 40, "Wairau", 70.0, 1)
        np.testing.assert_array_equal(edge.get_fault(3, 40).planes[0].corners, self._CORNERS)
        edge.insert_many_ruptures(
            spark.createDataFrame(
                [(50, 3, 7.5, 1.0, 1.0, 0.9)],
                "nshm_id long, fault_system int, magnitude double, area double,"
                " len double, rate double",
            ),
            spark.createDataFrame(
                [(50, 40, 3)], "rupture_nshm_id long, fault_nshm_id long, fault_system int"
            ),
        )
        (hit,) = edge.query("Wairau")
        assert hit.rupture_nshm_id == 50 and list(hit.faults) == ["Wairau"]

        edge.insert_solution(
            {
                "faults": spark.createDataFrame(
                    [(60, "Awatere", 90.0, 60.0, 150.0, 0.0, 12.0,
                      [[172.0, -42.0], [172.1, -41.95]], 3)],
                    "fault_nshm_id long, name string, rake double, dip double,"
                    " dip_dir double, top_depth double, bottom_depth double,"
                    " trace array<array<double>>, fault_system int",
                ),
                "rupture_properties": spark.createDataFrame(
                    [(61, 3, 7.0, 1.0, 1.0, 0.8)],
                    "nshm_id long, fault_system int, magnitude double, area double,"
                    " len double, rate double",
                ),
                "rupture_join_table": spark.createDataFrame(
                    [(61, 60, 3)], "rupture_id long, fault_id long, fault_system int"
                ),
                "magnitude_frequency_distribution": None,
            }
        )
        assert edge.get_fault_info(3, 60).name == "Awatere"
        np.testing.assert_allclose(edge.get_fault(3, 60).planes[0].corners[0], [-42.0, 172.0, 0.0])
        (hit,) = edge.query("Awatere")
        assert hit.rupture_nshm_id == 61 and list(hit.faults) == ["Awatere"]

    def test_outside_overwrite_is_visible(self, spark, edge):
        assert edge.get_fault_info(3, 1).name == "Alpine Fault"
        assert edge.get_fault(3, 1).planes[0].corners[0, 0] == -41.0
        spark.createDataFrame(
            [(1, "Alpine Fault North"), (2, "Hope Fault")], schemas.PARENT_FAULT
        ).write.mode("overwrite").parquet(edge._table_path("parent_fault"))
        spark.createDataFrame([_plane_row(8, 1)], schemas.FAULT_PLANE).write.mode(
            "overwrite"
        ).parquet(edge._table_path("fault_plane"))
        assert edge.get_fault_info(3, 1).name == "Alpine Fault North"
        assert edge.get_fault_names() == {"Alpine Fault North", "Hope Fault"}
        assert _fault_answer(edge.get_fault(3, 1)) == [8]
        assert _rupture_answer(edge.get_rupture(3, 1))[-1] == [("Alpine Fault North", [8])]

    def test_partitioned_layout(self, spark, tmp_path):
        db = _edge_db(spark, str(tmp_path / "db"), partition_facts=True)
        assert db.get_fault_info(1, 2).name == "Kermadec"
        db.insert_many_faults(
            [FaultInfo(2, 8, "Puysegur", 10.0, None, Fault([Plane(self._CORNERS)]))]
        )
        assert os.path.isdir(os.path.join(db._table_path("fault"), "fault_system=2"))
        assert db.get_fault_info(2, 8).name == "Puysegur"
        np.testing.assert_array_equal(db.get_fault(2, 8).planes[0].corners, self._CORNERS)

    def test_instances_on_one_path_share_one_load(self, spark, edge):
        edge.get_fault_info(3, 1)
        other = NSHMDB(spark, edge.path)
        assert _jobs_of(spark, lambda: other.get_fault_info(3, 2)) == 0

    def test_new_session_starts_cold(self, spark, edge):
        edge.get_fault_info(3, 1)
        cold = NSHMDB(spark.newSession(), edge.path)
        assert _jobs_of(spark, lambda: cold.get_fault_info(3, 1)) > 0

    def test_snapshot_holds_no_reference_to_its_session(self, spark, edge):
        session = spark.newSession()
        NSHMDB(session, edge.path).get_fault(3, 1)
        assert database._SNAPSHOTS.get(session)
        ref = weakref.ref(session)
        del session
        # PySpark's RDD.toDF closure holds the newest session; the next
        # session created releases it
        spark.newSession()
        gc.collect()
        assert ref() is None
