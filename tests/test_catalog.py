"""Catalog-level atomic multi-table publish (streaming/catalog.py)."""

from __future__ import annotations

import os
import threading

from nshm2022db_spark.streaming.catalog import (
    catalog_publish,
    current_catalog,
    read_catalog_table,
)
from nshm2022db_spark.streaming.sinks import (
    current_commit,
    overwrite_partition_transaction,
)


def _land(spark, d, rows):
    df = spark.createDataFrame(rows, "k string, v long")
    overwrite_partition_transaction(spark, d, "k", df)
    return current_commit(d)["version"]


class TestCatalogAtomicPublish:
    def test_crash_between_commits_keeps_old_vector(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        va = _land(spark, a, [("x", 1)])
        vb = _land(spark, b, [("x", 10)])
        catalog_publish(cat, {"a": (a, va), "b": (b, vb)})
        # writer advances table a, then "crashes" before the publish
        _land(spark, a, [("x", 2)])
        got_a = {r.v for r in read_catalog_table(spark, cat, "a").collect()}
        got_b = {r.v for r in read_catalog_table(spark, cat, "b").collect()}
        assert got_a == {1} and got_b == {10}
        # the orphaned version is still plain time-travel history
        assert current_commit(a)["version"] > va

    def test_snapshot_reads_are_stable_across_publishes(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        va = _land(spark, a, [("x", 1)])
        catalog_publish(cat, {"a": (a, va)})
        snap = current_catalog(cat)
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)})
        pinned = {r.v for r in read_catalog_table(spark, cat, "a", snapshot=snap).collect()}
        live = {r.v for r in read_catalog_table(spark, cat, "a").collect()}
        assert pinned == {1} and live == {2}

    def test_unknown_table_reads_none(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        assert read_catalog_table(spark, cat, "missing") is None

    def test_racing_disjoint_publishers_both_land(self, spark, tmp_path):
        """CAS losers retry on a fresh read applying only their own
        updates, so concurrent publishers of DISJOINT table sets merge
        instead of clobbering each other."""
        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        va = _land(spark, a, [("x", 1)])
        vb = _land(spark, b, [("x", 10)])
        n_each = 5
        barrier = threading.Barrier(2)
        errs = []

        def worker(name, d, v):
            try:
                barrier.wait()
                for _ in range(n_each):
                    catalog_publish(cat, {name: (d, v)})
            except Exception as ex:  # pragma: no cover - surfaced below
                errs.append(ex)

        ts = [
            threading.Thread(target=worker, args=("a", a, va)),
            threading.Thread(target=worker, args=("b", b, vb)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        cur = current_catalog(cat)
        # every publish landed as its own version, none lost
        assert cur["version"] == 2 * n_each
        assert set(cur["tables"]) == {"a", "b"}
        assert cur["tables"]["a"]["version"] == va
        assert cur["tables"]["b"]["version"] == vb

    def test_publish_carries_unnamed_tables_forward(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        va = _land(spark, a, [("x", 1)])
        vb = _land(spark, b, [("x", 10)])
        catalog_publish(cat, {"a": (a, va), "b": (b, vb)})
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)})
        cur = current_catalog(cat)
        assert cur["tables"]["b"]["version"] == vb
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {2}

    def test_registered_query_consistency_booleans(self, spark, sf_dir):
        from nshm2022db_spark.registry import QUERIES

        out = QUERIES["catalog_atomic_publish"](spark, sf_dir).collect()
        assert out
        assert all(
            r.initial_consistent and r.mid_crash_consistent and r.final_consistent
            for r in out
        )


class TestCatalogTimeTravel:
    def test_version_travel_serves_old_consistent_vector(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import catalog_at

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        va = _land(spark, a, [("x", 1)])
        vb = _land(spark, b, [("x", 10)])
        catalog_publish(cat, {"a": (a, va), "b": (b, vb)})
        va2 = _land(spark, a, [("x", 2)])
        vb2 = _land(spark, b, [("x", 20)])
        catalog_publish(cat, {"a": (a, va2), "b": (b, vb2)})

        old = catalog_at(cat, version=1)
        got_a = {r.v for r in read_catalog_table(spark, cat, "a", snapshot=old).collect()}
        got_b = {r.v for r in read_catalog_table(spark, cat, "b", snapshot=old).collect()}
        assert got_a == {1} and got_b == {10}
        # shorthand single-table form
        got = {
            r.v
            for r in read_catalog_table(
                spark, cat, "a", catalog_version=1
            ).collect()
        }
        assert got == {1}

    def test_as_of_travel_resolves_by_commit_time(self, spark, tmp_path):
        import time

        from nshm2022db_spark.streaming.catalog import catalog_at

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        va = _land(spark, a, [("x", 1)])
        catalog_publish(cat, {"a": (a, va)})
        t_mid = time.time()
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)})
        assert catalog_at(cat, as_of=t_mid)["version"] == 1
        assert catalog_at(cat, as_of=time.time())["version"] == 2
        # an instant before the first publish: the empty pre-publish vector
        assert catalog_at(cat, as_of=t_mid - 1e6) == {"version": 0, "tables": {}}

    def test_version_zero_and_argument_validation(self, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.catalog import catalog_at

        cat = str(tmp_path / "cat")
        assert catalog_at(cat, version=0) == {"version": 0, "tables": {}}
        with pytest.raises(ValueError, match="exactly one"):
            catalog_at(cat)
        with pytest.raises(ValueError, match="exactly one"):
            catalog_at(cat, version=1, as_of=1.0)
        with pytest.raises(ValueError, match="not committed"):
            catalog_at(cat, version=3)

    def test_vacuum_boundary_refuses_instead_of_misserving(self, spark, tmp_path):
        """Reads past catalog_vacuum's retention boundary REFUSE — the
        same contract as per-table restore, never a silently relabeled
        neighbor snapshot."""
        import pytest

        from nshm2022db_spark.streaming.catalog import catalog_at, catalog_vacuum

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        for i in range(1, 4):
            v = _land(spark, a, [("x", i)])
            catalog_publish(cat, {"a": (a, v)})
        catalog_vacuum(cat, keep_last_snapshots=1)  # only catalog v3 retained
        with pytest.raises(ValueError, match="vacuumed"):
            catalog_at(cat, version=1)
        with pytest.raises(ValueError, match="vacuumed"):
            catalog_at(cat, version=0)  # pre-publish vector is gone too
        with pytest.raises(ValueError, match="vacuumed"):
            catalog_at(cat, as_of=0.0)
        # the retained head still travels
        assert catalog_at(cat, version=3)["tables"]["a"]["version"] == 3

    def test_rollback_republishes_historical_vector(self, spark, tmp_path):
        """Rollback is a FORWARD commit of the old vector: readers snap
        back atomically, history keeps the botched publish, and time
        travel still reaches it."""
        from nshm2022db_spark.streaming.catalog import catalog_at, catalog_rollback

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        v1 = _land(spark, a, [("x", 1)])
        catalog_publish(cat, {"a": (a, v1)})
        v2 = _land(spark, a, [("x", 2)])  # the "botched" publish
        catalog_publish(cat, {"a": (a, v2)})

        m = catalog_rollback(cat, 1)
        assert m["version"] == 3 and m["tables"]["a"]["version"] == v1
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {1}
        # history is append-only: the bad head is still travelable
        assert catalog_at(cat, version=2)["tables"]["a"]["version"] == v2

    def test_rollback_refuses_past_vacuum_boundary(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.catalog import catalog_rollback, catalog_vacuum

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        for i in range(1, 4):
            v = _land(spark, a, [("x", i)])
            catalog_publish(cat, {"a": (a, v)})
        catalog_vacuum(cat, keep_last_snapshots=1)
        with pytest.raises(ValueError, match="vacuumed"):
            catalog_rollback(cat, 1)

    def test_registered_time_travel_query(self, spark, sf_dir):
        from nshm2022db_spark.registry import QUERIES

        out = QUERIES["catalog_time_travel"](spark, sf_dir).collect()
        assert out
        assert all(
            r.historical_consistent and r.head_consistent and r.head_advanced
            for r in out
        )


class TestCatalogVacuum:
    def test_vacuum_keeps_pinned_and_newer_drops_older(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import catalog_vacuum
        from nshm2022db_spark.streaming.sinks import read_keyed_table, table_history

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        _land(spark, a, [("x", 1)])                       # v1
        v2 = _land(spark, a, [("x", 2)])                  # v2
        catalog_publish(cat, {"a": (a, v2)})              # snapshot pins v2
        v3 = _land(spark, a, [("x", 3)])                  # v3 (unpublished head)
        catalog_publish(cat, {"a": (a, v3)})              # snapshot pins v3

        rep = catalog_vacuum(cat, keep_last_snapshots=1)  # protect v3 onward
        versions = [m["version"] for m in table_history(a)]
        assert versions == [v3]
        assert rep["tables"][os.path.abspath(a)]["versions"] == [1, v2]
        # the protected catalog read still serves
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {3}

    def test_vacuum_protects_older_snapshot_window(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import catalog_vacuum
        from nshm2022db_spark.streaming.sinks import table_history

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        v1 = _land(spark, a, [("x", 1)])
        catalog_publish(cat, {"a": (a, v1)})
        v2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, v2)})
        v3 = _land(spark, a, [("x", 3)])
        catalog_publish(cat, {"a": (a, v3)})

        rep = catalog_vacuum(cat, keep_last_snapshots=2)  # protect v2, v3
        versions = [m["version"] for m in table_history(a)]
        assert versions == [v2, v3]
        # the older protected snapshot still reads consistently
        snaps = current_catalog(cat)
        assert snaps["tables"]["a"]["version"] == v3
        old = read_catalog_table(
            spark, cat, "a",
            snapshot={"version": 0, "tables": {"a": {"dir": a, "version": v2}}},
        )
        assert {r.v for r in old.collect()} == {2}
        # one catalog manifest (the first) retired
        assert rep["catalog_versions"] == [1]

    def test_vacuum_leaves_unreferenced_tables_alone(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import catalog_vacuum
        from nshm2022db_spark.streaming.sinks import table_history

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        va = _land(spark, a, [("x", 1)])
        catalog_publish(cat, {"a": (a, va)})
        _land(spark, b, [("x", 1)])
        _land(spark, b, [("x", 2)])  # b has history but no catalog pin
        catalog_vacuum(cat, keep_last_snapshots=1)
        assert len(table_history(b)) == 2

    def test_keep_from_version_survives_concurrent_commits(self, spark, tmp_path):
        """The ADVICE r13 race, made deterministic: vacuum protects BY
        VERSION inside one history read, so commits landing after the
        pin was computed cannot shift a count window over it."""
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            table_history,
            vacuum_versions,
        )

        a = str(tmp_path / "a")
        _land(spark, a, [("x", 1)])          # v1
        v2 = _land(spark, a, [("x", 2)])     # v2 — the pinned version
        # concurrent writers land AFTER the caller decided min_pin=v2;
        # a count-based keep (2 at pin time) would now drop v2 itself
        _land(spark, a, [("x", 3)])
        _land(spark, a, [("x", 4)])
        vacuum_versions(a, 1, keep_from_version=v2)
        versions = [m["version"] for m in table_history(a)]
        assert versions == [v2, v2 + 1, v2 + 2]
        # the pinned snapshot still reads
        got = {r.v for r in read_keyed_table(spark, a, version=v2).collect()}
        assert got == {2}

    def test_keep_from_version_still_respects_keep_last(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import table_history, vacuum_versions

        a = str(tmp_path / "a")
        _land(spark, a, [("x", 1)])
        _land(spark, a, [("x", 2)])
        v3 = _land(spark, a, [("x", 3)])
        # pin is NEWER than keep_last's window start: keep_last=2 wins
        # (keep_from_version only widens protection, never narrows it)
        vacuum_versions(a, 2, keep_from_version=v3)
        assert [m["version"] for m in table_history(a)] == [v3 - 1, v3]

    def test_catalog_ignores_ledger_checkpoints(self, spark, tmp_path):
        """A *.checkpoint.json in the catalog log dir (ledger artifact,
        or a catalog_dir mistakenly pointed at a table dir) must never
        be parsed as a snapshot vector (ADVICE r13)."""
        import json

        from nshm2022db_spark.streaming.catalog import catalog_vacuum
        from nshm2022db_spark.streaming.sinks import _COMMITS

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        va = _land(spark, a, [("x", 1)])
        catalog_publish(cat, {"a": (a, va)})
        ckpt = os.path.join(cat, _COMMITS, f"{99:020d}.checkpoint.json")
        with open(ckpt, "w") as f:
            json.dump({"version": 99, "batch_ids": []}, f)
        cur = current_catalog(cat)
        assert cur["version"] == 1 and "a" in cur["tables"]
        rep = catalog_vacuum(cat, keep_last_snapshots=1)
        # the checkpoint was neither retired as a snapshot nor unlinked
        assert rep["catalog_versions"] == []
        assert os.path.exists(ckpt)


class TestCatalogTags:
    def _publish_n(self, spark, tmp_path, n):
        from nshm2022db_spark.streaming.catalog import catalog_publish

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        for i in range(1, n + 1):
            va = _land(spark, a, [("x", i)])
            catalog_publish(cat, {"a": (a, va)})
        return cat, a

    def test_tag_resolves_and_is_immutable(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_tag,
            catalog_tag_delete,
        )
        import pytest

        cat, a = self._publish_n(spark, tmp_path, 2)  # catalog v1, v2
        catalog_tag(cat, "train-v1", version=1)
        got = read_catalog_table(spark, cat, "a", catalog_tag="train-v1")
        assert {r.v for r in got.collect()} == {1}
        assert catalog_at(cat, tag="train-v1")["version"] == 1
        # tags are immutable without replace=True
        with pytest.raises(ValueError, match="immutable"):
            catalog_tag(cat, "train-v1", version=2)
        catalog_tag(cat, "train-v1", version=2, replace=True)
        assert catalog_at(cat, tag="train-v1")["version"] == 2
        # unknown tag / bad names / unknown delete all refuse
        with pytest.raises(ValueError, match="does not exist"):
            catalog_at(cat, tag="nope")
        with pytest.raises(ValueError, match="invalid tag name"):
            catalog_tag(cat, "bad/name", version=1)
        with pytest.raises(ValueError, match="does not exist"):
            catalog_tag_delete(cat, "nope")
        catalog_tag_delete(cat, "train-v1")
        with pytest.raises(ValueError, match="does not exist"):
            catalog_at(cat, tag="train-v1")

    def test_tag_survives_publish_and_rollback(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_publish,
            catalog_rollback,
            catalog_tag,
        )

        cat, a = self._publish_n(spark, tmp_path, 1)
        catalog_tag(cat, "t1")  # default: current head (v1)
        va = _land(spark, a, [("x", 9)])
        catalog_publish(cat, {"a": (a, va)})
        assert catalog_at(cat, tag="t1")["version"] == 1
        catalog_rollback(cat, 1)
        # refs ride the head: the rollback commit still carries the tag
        assert catalog_at(cat, tag="t1")["version"] == 1

    def test_vacuum_keeps_tagged_version_drops_untagged(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_tag,
            catalog_tag_delete,
            catalog_vacuum,
        )
        import pytest

        cat, a = self._publish_n(spark, tmp_path, 3)  # v1, v2, v3
        catalog_tag(cat, "keep-v1", version=1)  # v4: the tag commit
        rep = catalog_vacuum(cat, keep_last_snapshots=1)
        # untagged v2/v3 retired; tagged v1 survived by name
        assert set(rep["catalog_versions"]) == {2, 3}
        assert catalog_at(cat, tag="keep-v1")["version"] == 1
        got = read_catalog_table(spark, cat, "a", catalog_tag="keep-v1")
        assert {r.v for r in got.collect()} == {1}
        for v in (2, 3):
            with pytest.raises(ValueError):
                catalog_at(cat, version=v)
        # tagging a vacuumed version refuses at creation
        with pytest.raises(ValueError):
            catalog_tag(cat, "too-late", version=2)
        # delete the tag -> the next vacuum reclaims the version
        catalog_tag_delete(cat, "keep-v1")
        rep2 = catalog_vacuum(cat, keep_last_snapshots=1)
        assert 1 in rep2["catalog_versions"]
        with pytest.raises(ValueError):
            catalog_at(cat, version=1)

    def test_as_of_refuses_inside_tag_retention_gap(self, spark, tmp_path):
        """An instant when a since-vacuumed version was live must refuse
        rather than silently serve the older TAGGED neighbor."""
        import time

        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_publish,
            catalog_tag,
            catalog_vacuum,
        )
        import pytest

        cat, a = self._publish_n(spark, tmp_path, 1)  # v1
        t_v1_live = time.time()
        time.sleep(0.01)
        va = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va)})  # v2
        time.sleep(0.01)
        t_v2_live = time.time()
        time.sleep(0.01)
        va = _land(spark, a, [("x", 3)])
        catalog_publish(cat, {"a": (a, va)})  # v3 (head)
        catalog_tag(cat, "t1", version=1)  # v4
        catalog_vacuum(cat, keep_last_snapshots=1)  # drops v2, v3
        # v1 is retained, but its SUCCESSOR (v2) was dropped — any
        # instant at-or-after v1 inside the gap is ambiguous and refuses
        with pytest.raises(ValueError, match="vacuumed"):
            catalog_at(cat, as_of=t_v1_live)
        with pytest.raises(ValueError, match="vacuumed"):
            catalog_at(cat, as_of=t_v2_live)
        # the head instant always resolves
        assert catalog_at(cat, as_of=time.time())["version"] == 4

    def test_tag_rolls_back_when_vacuum_races_the_cas(
        self, spark, tmp_path, monkeypatch
    ):
        """catalog_tag validates retention BEFORE its CAS commit; a
        vacuum that retires the target manifest inside that window must
        not leave a committed tag dangling at a version catalog_at can
        no longer resolve (ADVICE r14). The post-CAS re-check rolls the
        tag back and refuses."""
        import pytest

        from nshm2022db_spark.streaming import sinks
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_tag,
            catalog_vacuum,
        )

        cat, a = self._publish_n(spark, tmp_path, 3)  # v1, v2, v3
        real = sinks.try_commit
        fired = {"n": 0}

        def racing_commit(table_dir, manifest):
            # first commit attempt = the tag's winning CAS; run the
            # racing vacuum just before it lands (the tag ref is not
            # yet visible, so v1 is unprotected and retires)
            if fired["n"] == 0 and "v1-tag" in manifest.get("refs", {}):
                fired["n"] = 1
                monkeypatch.setattr(sinks, "try_commit", real)
                catalog_vacuum(cat, keep_last_snapshots=1)
            return real(table_dir, manifest)

        monkeypatch.setattr(sinks, "try_commit", racing_commit)
        with pytest.raises(ValueError, match="vacuumed while tagging"):
            catalog_tag(cat, "v1-tag", version=1)
        assert fired["n"] == 1
        # the tag did not survive: no dangling ref in the head
        with pytest.raises(ValueError, match="does not exist"):
            catalog_at(cat, tag="v1-tag")


class TestCatalogBranches:
    def _seed(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import catalog_publish

        cat = str(tmp_path / "cat")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        va = _land(spark, a, [("x", 1)])
        vb = _land(spark, b, [("x", 10)])
        catalog_publish(cat, {"a": (a, va), "b": (b, vb)})  # v1
        return cat, a, b

    def test_branch_isolation_and_fast_forward_promotion(
        self, spark, tmp_path
    ):
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_branch,
            catalog_promote,
            catalog_publish,
        )
        import pytest

        cat, a, b = self._seed(spark, tmp_path)
        catalog_branch(cat, "staging")  # v2, fork at v1
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")  # v3
        # main is untouched; the branch serves the new version
        got = {r.v for r in read_catalog_table(spark, cat, "a").collect()}
        assert got == {1}
        got = {
            r.v
            for r in read_catalog_table(
                spark, cat, "a", catalog_branch="staging"
            ).collect()
        }
        assert got == {2}
        # branch vector carries the untouched table forward
        br = catalog_at(cat, branch="staging")
        assert {r.v for r in read_catalog_table(
            spark, cat, "b", snapshot=br
        ).collect()} == {10}
        # fast-forward promotion: main flips to the branch vector in
        # one commit and the branch ref is gone
        catalog_promote(cat, "staging")
        got = {r.v for r in read_catalog_table(spark, cat, "a").collect()}
        assert got == {2}
        with pytest.raises(ValueError, match="does not exist"):
            catalog_at(cat, branch="staging")

    def test_promotion_merges_disjoint_main_advance(self, spark, tmp_path):
        """Main publishing a DIFFERENT table while the branch works is
        the Nessie merge case: promotion keeps main's advance and takes
        the branch's change."""
        from nshm2022db_spark.streaming.catalog import (
            catalog_branch,
            catalog_promote,
            catalog_publish,
        )

        cat, a, b = self._seed(spark, tmp_path)
        catalog_branch(cat, "staging")
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")
        vb2 = _land(spark, b, [("x", 20)])
        catalog_publish(cat, {"b": (b, vb2)})  # main moves table b
        catalog_promote(cat, "staging")
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {2}
        assert {r.v for r in read_catalog_table(spark, cat, "b").collect()} == {20}

    def test_promotion_conflict_refuses(self, spark, tmp_path):
        """The SAME table changed on both sides since the fork refuses
        — divergent table histories are never guessed at."""
        from nshm2022db_spark.streaming.catalog import (
            catalog_branch,
            catalog_promote,
            catalog_publish,
        )
        import pytest

        cat, a, b = self._seed(spark, tmp_path)
        catalog_branch(cat, "staging")
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")
        va3 = _land(spark, a, [("x", 3)])
        catalog_publish(cat, {"a": (a, va3)})  # main moves table a too
        with pytest.raises(ValueError, match="promote conflict"):
            catalog_promote(cat, "staging")
        # the branch survives a refused promotion
        got = {
            r.v
            for r in read_catalog_table(
                spark, cat, "a", catalog_branch="staging"
            ).collect()
        }
        assert got == {2}

    def test_vacuum_pins_branch_head_and_base(self, spark, tmp_path):
        """A live branch is a retention pin at BOTH its head (what it
        serves) and its fork base (what promotion diffs against);
        deleting the branch releases them."""
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_branch,
            catalog_branch_delete,
            catalog_publish,
            catalog_vacuum,
        )
        import pytest

        cat, a, b = self._seed(spark, tmp_path)  # v1
        catalog_branch(cat, "staging")  # v2, base=1
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")  # v3 = head
        va3 = _land(spark, a, [("x", 3)])
        catalog_publish(cat, {"a": (a, va3)})  # v4 on main
        rep = catalog_vacuum(cat, keep_last_snapshots=1)
        # v2 (the branch-create commit) is unprotected history; v1
        # (base) and v3 (branch head) survive with v4 (head)
        assert set(rep["catalog_versions"]) == {2}
        assert catalog_at(cat, version=1)["version"] == 1
        got = {
            r.v
            for r in read_catalog_table(
                spark, cat, "a", catalog_branch="staging"
            ).collect()
        }
        assert got == {2}
        # drop the branch: its commits become ordinary vacuumable
        # history and the next vacuum reclaims them
        catalog_branch_delete(cat, "staging")
        rep2 = catalog_vacuum(cat, keep_last_snapshots=1)
        assert {1, 3} <= set(rep2["catalog_versions"])
        with pytest.raises(ValueError):
            catalog_at(cat, version=3)

    def test_ref_namespace_and_argument_validation(self, spark, tmp_path):
        from nshm2022db_spark.streaming.catalog import (
            catalog_branch,
            catalog_publish,
            catalog_tag,
        )
        import pytest

        cat, a, b = self._seed(spark, tmp_path)
        catalog_tag(cat, "r1")
        with pytest.raises(ValueError, match="namespace"):
            catalog_branch(cat, "r1")
        catalog_branch(cat, "dev")
        with pytest.raises(ValueError, match="namespace"):
            catalog_tag(cat, "dev")
        with pytest.raises(ValueError, match="already exists"):
            catalog_branch(cat, "dev")
        with pytest.raises(ValueError, match="does not exist"):
            catalog_publish(cat, {"a": (a, 1)}, branch="nope")

    def test_registered_branches_query_booleans(self, spark, sf_dir):
        from nshm2022db_spark.registry import QUERIES

        row = QUERIES["catalog_branches"](spark, sf_dir).collect()[0]
        assert row.branch_isolated and row.branch_consistent
        assert row.promoted_atomic

    def test_repromotion_and_agreed_delete_are_not_conflicts(
        self, spark, tmp_path
    ):
        """Nessie's idempotent merge: main already holding the branch's
        exact version re-promotes as a no-op, and a table deleted on
        BOTH sides is agreement — only independent divergence refuses."""
        from nshm2022db_spark.streaming.catalog import (
            catalog_branch,
            catalog_promote,
            catalog_publish,
        )

        cat, a, b = self._seed(spark, tmp_path)
        catalog_branch(cat, "staging")
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")
        catalog_promote(cat, "staging", delete_branch=False)
        # main now equals the branch head; a second promotion must
        # no-op, not refuse
        catalog_promote(cat, "staging", delete_branch=True)
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {2}

    def test_recreated_branch_does_not_resurrect_dead_vector(
        self, spark, tmp_path
    ):
        """A branch re-created under a deleted branch's name, forked at
        one of the DEAD branch's own commits, must serve that commit's
        MAIN vector — matching on the ref name alone would resurrect
        the abandoned branch_tables (r15 review #1)."""
        from nshm2022db_spark.streaming.catalog import (
            catalog_branch,
            catalog_branch_delete,
            catalog_promote,
            catalog_publish,
            current_catalog,
        )

        cat, a, b = self._seed(spark, tmp_path)  # v1: a@1
        catalog_branch(cat, "staging")  # v2
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")  # v3
        catalog_branch_delete(cat, "staging")  # v4: work abandoned
        # re-fork at the dead branch's own commit (v3): its MAIN
        # vector is still a@1
        catalog_branch(cat, "staging", version=3)
        got = {
            r.v
            for r in read_catalog_table(
                spark, cat, "a", catalog_branch="staging"
            ).collect()
        }
        assert got == {1}
        # promoting the untouched re-fork is a pure no-op on main
        catalog_promote(cat, "staging")
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {1}

    def test_kept_branch_fast_forwards_through_promotion(
        self, spark, tmp_path
    ):
        """delete_branch=False: the kept branch's head AND fork base
        move onto the promotion commit, so continued branch work never
        conflicts with its own prior merge (r15 review #2)."""
        from nshm2022db_spark.streaming.catalog import (
            catalog_branch,
            catalog_promote,
            catalog_publish,
        )

        cat, a, b = self._seed(spark, tmp_path)
        catalog_branch(cat, "staging")
        va2 = _land(spark, a, [("x", 2)])
        catalog_publish(cat, {"a": (a, va2)}, branch="staging")
        catalog_promote(cat, "staging", delete_branch=False)
        # continue working on the kept branch, then promote again
        va3 = _land(spark, a, [("x", 3)])
        catalog_publish(cat, {"a": (a, va3)}, branch="staging")
        catalog_promote(cat, "staging")
        assert {r.v for r in read_catalog_table(spark, cat, "a").collect()} == {3}

    def test_tag_race_rollback_restores_previous_target(
        self, spark, tmp_path, monkeypatch
    ):
        """A replace=True re-point that loses the vacuum race restores
        the tag's PREVIOUS target instead of destroying the ref and
        its retention pin (r15 review #3)."""
        import pytest

        from nshm2022db_spark.streaming import catalog as cat_mod
        from nshm2022db_spark.streaming import sinks
        from nshm2022db_spark.streaming.catalog import (
            catalog_at,
            catalog_tag,
            catalog_vacuum,
        )

        cat, a, b = self._seed(spark, tmp_path)  # v1
        va2 = _land(spark, a, [("x", 2)])
        cat_mod.catalog_publish(cat, {"a": (a, va2)})  # v2
        va3 = _land(spark, a, [("x", 3)])
        cat_mod.catalog_publish(cat, {"a": (a, va3)})  # v3 (head)
        catalog_tag(cat, "t", version=2)  # v4: t -> 2
        real = sinks.try_commit
        fired = {"n": 0}

        def racing_commit(table_dir, manifest):
            # first CAS = the re-point to v1; vacuum retires v1 (not
            # yet pinned) just before it lands — v2 stays pinned by
            # the still-visible old ref
            if fired["n"] == 0 and manifest.get("refs", {}).get("t") == 1:
                fired["n"] = 1
                monkeypatch.setattr(sinks, "try_commit", real)
                catalog_vacuum(cat, keep_last_snapshots=1)
            return real(table_dir, manifest)

        monkeypatch.setattr(sinks, "try_commit", racing_commit)
        with pytest.raises(ValueError, match="vacuumed while tagging"):
            catalog_tag(cat, "t", version=1, replace=True)
        assert fired["n"] == 1
        # the tag survived, restored to its previous target
        assert catalog_at(cat, tag="t")["version"] == 2
