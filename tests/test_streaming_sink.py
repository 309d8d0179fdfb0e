"""Tests for the streaming sinks and the commit log behind them: the
upsert, rollup and merge-on-read sinks, the transaction core, DML,
change feeds and table maintenance."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from nshm2022db_spark.sources import read_table


def _generation_count(m: dict) -> int:
    """Generations of a merge-on-read table's one partition entry."""
    (gens,) = m["partitions"].values()
    return 1 if isinstance(gens, str) else len(gens)


class TestUpsertSink:
    def _stream(self, spark, src):
        return (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double,"
                " props string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def test_latest_per_key_matches_batch(self, spark, sf_dir, tmp_path):
        """Drain the events stream into a keyed table; the table must hold
        exactly the batch-computed latest event per user."""
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            upsert_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.repartition(4).write.parquet(src)

        q = upsert_stream_to_table(
            self._stream(spark, src).select("user_id", "event_id", "ts"),
            str(tmp_path / "table"),
            str(tmp_path / "ckpt"),
            keys=["user_id"],
            order_col="ts",
            tiebreak=["event_id"],
        )
        q.awaitTermination()

        got = {
            r.user_id: r.event_id
            for r in read_keyed_table(spark, str(tmp_path / "table")).collect()
        }
        from pyspark.sql import Window

        # With the event_id tiebreak the sink is fully deterministic:
        # the table must equal the batch argmax(ts, event_id) per user.
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = events.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        expected = {r.user_id: r.event_id for r in latest.collect()}
        assert got == expected

    def test_replayed_batch_is_noop(self, spark, sf_dir, tmp_path):
        """Re-applying an already-published batch id must not bump the
        version — the idempotence the checkpoint-replay path relies on."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            upsert_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.coalesce(1).write.parquet(src)
        table = str(tmp_path / "table")

        q = upsert_stream_to_table(
            self._stream(spark, src).select("user_id", "event_id", "ts"),
            table,
            str(tmp_path / "ckpt"),
            keys=["user_id"],
            order_col="ts",
        )
        q.awaitTermination()
        head = current_commit(table)

        # Fresh checkpoint replays batch 0 against the same table dir.
        q2 = upsert_stream_to_table(
            self._stream(spark, src).select("user_id", "event_id", "ts"),
            table,
            str(tmp_path / "ckpt2"),
            keys=["user_id"],
            order_col="ts",
        )
        q2.awaitTermination()
        assert current_commit(table) == head


class TestRollupSink:
    def _stream(self, spark, src):
        return (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double,"
                " props string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def test_additive_rollup_matches_batch(self, spark, sf_dir, tmp_path):
        """Drain events split over 4 micro-batches; the maintained table
        must equal the one-shot batch rollup (counts exact, sums close)."""
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            rollup_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.repartition(4).write.parquet(src)

        q = rollup_stream_to_table(
            self._stream(spark, src).select("event_type", "value"),
            str(tmp_path / "table"),
            str(tmp_path / "ckpt"),
            keys=["event_type"],
            sum_cols={"value": "total"},
        )
        q.awaitTermination()

        got = {
            r.event_type: (r.n, r.total)
            for r in read_keyed_table(spark, str(tmp_path / "table")).collect()
        }
        want = {
            r.event_type: (r.n, r.total)
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            assert abs(got[k][1] - want[k][1]) < 1e-6, k

    def test_replayed_batch_does_not_double_count(self, spark, sf_dir, tmp_path):
        """Re-draining the same source with a FRESH checkpoint replays
        batch 0 against the same table; the published batch-id list must
        make the re-add a no-op (re-adding would double every count)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            rollup_stream_to_table,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events")
        events.coalesce(1).write.parquet(src)
        table = str(tmp_path / "table")

        def drain(ckpt):
            q = rollup_stream_to_table(
                self._stream(spark, src).select("event_type", "value"),
                table,
                str(tmp_path / ckpt),
                keys=["event_type"],
                sum_cols={"value": "total"},
            )
            q.awaitTermination()

        drain("ckpt")
        head = current_commit(table)
        drain("ckpt2")  # fresh checkpoint → replays batch 0
        assert current_commit(table) == head


class TestErasureRewrite:
    def test_untouched_partitions_byte_identical(self, spark, sf_dir, tmp_path):
        """The erasure rewrite must replace ONLY the DELETE_TYPES
        partitions; every other partition's files stay byte-identical
        (same names, sizes, mtimes) — that file preservation IS the
        scale claim (delete cost ∝ affected partitions)."""
        import os

        from nshm2022db_spark.queries.pipeline import (
            DELETE_TYPES,
            DELETE_USER_MOD,
            apply_erasure_rewrite,
        )

        path = str(tmp_path / "events_by_type")
        ev = read_table(spark, sf_dir, "events")
        ev.write.partitionBy("event_type").parquet(path)

        def snapshot(part):
            d = os.path.join(path, f"event_type={part}")
            return {
                f: (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
                for f in sorted(os.listdir(d))
                if not f.startswith(".")
            }

        untouched = [
            p.split("=", 1)[1]
            for p in os.listdir(path)
            if p.startswith("event_type=") and p.split("=", 1)[1] not in DELETE_TYPES
        ]
        assert untouched, "fixture needs at least one untouched partition"
        before = {p: snapshot(p) for p in untouched}

        apply_erasure_rewrite(spark, path)

        for p in untouched:
            assert snapshot(p) == before[p], p
        # And the affected partitions really lost the erasure set
        # (reads resolve through the commit-log manifest since r5).
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        table = read_keyed_table(spark, path)
        leaked = table.filter(
            F.col("event_type").isin(*DELETE_TYPES)
            & (F.col("user_id") % DELETE_USER_MOD == 0)
        ).count()
        assert leaked == 0
        kept = table.filter(~F.col("event_type").isin(*DELETE_TYPES)).count()
        assert kept == ev.filter(~F.col("event_type").isin(*DELETE_TYPES)).count()

    def test_erasure_read_prunes_untouched_partitions(self, spark, sf_dir, tmp_path):
        """Partition pruning must survive the manifest-mapped read: a
        filter on the partition column folds the unaffected union
        branches away, so the erasure transaction's base scan reads NO
        files from untouched partitions."""
        from nshm2022db_spark.queries.pipeline import (
            DELETE_TYPES,
            apply_erasure_rewrite,
        )
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        path = str(tmp_path / "events_by_type")
        read_table(spark, sf_dir, "events").write.partitionBy(
            "event_type"
        ).parquet(path)
        apply_erasure_rewrite(spark, path)

        pruned = read_keyed_table(spark, path).filter(
            F.col("event_type").isin(*DELETE_TYPES)
        )
        # The generation-grouped scan prunes at file-listing time:
        # untouched partitions sit in a multi-path scan whose
        # PartitionFilters carry the event_type predicate (static
        # inputFiles() doesn't apply them, so assert on the plan), and
        # the rewritten generation's branch scans only DELETE_TYPES dirs.
        jvm = pruned.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = pruned._jdf.queryExecution().explainString(mode)
        assert "PartitionFilters: [" in plan
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "event_type" in pf, pf


    def test_fully_erased_partition_is_removed(self, spark, tmp_path):
        """A DELETE_TYPES partition whose rows ALL match the erasure set
        must be ABSENT from the committed version (the pre-r4 hole: the
        swap loop only visited partitions present in the tmp write).
        Under the commit log the old files stay on disk as immutable
        history, but no current-version read resolves them."""
        from nshm2022db_spark.queries.pipeline import (
            DELETE_USER_MOD,
            apply_erasure_rewrite,
        )
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            table_history,
        )

        path = str(tmp_path / "t")
        rows = [
            # purchase: ONLY erasure-set users -> whole partition must go
            (DELETE_USER_MOD * 1, "purchase", 1.0),
            (DELETE_USER_MOD * 2, "purchase", 2.0),
            # signup: mixed -> survivors kept
            (DELETE_USER_MOD * 3, "signup", 3.0),
            (5, "signup", 4.0),
            # view: untouched partition
            (DELETE_USER_MOD * 4, "view", 5.0),
        ]
        spark.createDataFrame(
            rows, "user_id long, event_type string, value double"
        ).write.partitionBy("event_type").parquet(path)

        apply_erasure_rewrite(spark, path)

        manifest = table_history(path)[-1]
        assert "event_type=purchase" not in manifest["partitions"]
        got = read_keyed_table(spark, path)
        assert got.filter("event_type = 'purchase'").count() == 0
        assert [r.user_id for r in got.filter("event_type = 'signup'").collect()] == [5]
        assert got.filter("event_type = 'view'").count() == 1  # untouched

    def test_precommit_failure_leaves_table_intact(
        self, spark, tmp_path, monkeypatch
    ):
        """The commit-log erasure has NO rename sequence: the only
        publish step is the atomic manifest link. A crash anywhere
        before it — during the stage write or between stage and CAS —
        leaves the current version fully readable and at worst an
        unreferenced stage that vacuum sweeps."""
        import pytest as _pytest

        from nshm2022db_spark.queries import pipeline as pl
        from nshm2022db_spark.streaming import sinks
        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            table_history,
            vacuum_uncommitted,
        )

        path = str(tmp_path / "t")
        rows = [
            (pl.DELETE_USER_MOD, "purchase", 1.0),
            (7, "purchase", 2.0),
            (pl.DELETE_USER_MOD * 2, "signup", 3.0),
            (9, "signup", 4.0),
        ]
        spark.createDataFrame(
            rows, "user_id long, event_type string, value double"
        ).write.partitionBy("event_type").parquet(path)
        before = {r.user_id for r in spark.read.parquet(path).collect()}

        def raw_user_ids():
            # read the top-level partition dirs directly: an orphan
            # data-* stage next to them makes a whole-dir parquet read
            # reject the layout, which is exactly why readers resolve
            # through the manifest
            ids = set()
            for e in ("purchase", "signup"):
                p = os.path.join(path, f"event_type={e}")
                ids |= {r.user_id for r in spark.read.parquet(p).collect()}
            return ids

        # (1) crash during the stage write (executor/driver loss mid-job)
        def boom_write(self):
            raise OSError("injected stage-write failure")

        # patch the CONCRETE DataFrame class (pyspark 4 routes the public
        # pyspark.sql.DataFrame through a classic/connect subclass whose
        # own `write` shadows the base property)
        monkeypatch.setattr(type(spark.range(1)), "write", property(boom_write))
        with _pytest.raises(OSError, match="injected stage-write"):
            pl.apply_erasure_rewrite(spark, path)
        monkeypatch.undo()
        assert raw_user_ids() == before
        assert table_history(path) == []  # nothing committed

        # (2) crash between stage write and CAS
        def boom_commit(table_dir, manifest):
            raise OSError("injected pre-CAS failure")

        monkeypatch.setattr(sinks, "try_commit", boom_commit)
        with _pytest.raises(OSError, match="injected pre-CAS"):
            pl.apply_erasure_rewrite(spark, path)
        monkeypatch.undo()
        assert raw_user_ids() == before
        assert table_history(path) == []
        orphans = [n for n in os.listdir(path) if n.startswith("data-")]
        assert orphans, "pre-CAS crash must leave the stage for vacuum"
        removed = vacuum_uncommitted(path, grace_sec=0.0)
        assert set(removed) >= set(orphans)

        # (3) the retry after either crash succeeds and commits cleanly
        pl.apply_erasure_rewrite(spark, path)
        got = read_keyed_table(spark, path)
        assert {r.user_id for r in got.collect()} == {
            u for u in before if u % pl.DELETE_USER_MOD != 0
        }


class TestCommitLog:
    """Optimistic-concurrency commit protocol (streaming/sinks.py):
    unique staged data dirs + manifest CAS into an append-only
    `_commits/` log. The property under test: two concurrent writers
    SERIALIZE — the loser retries against the winner's version — so no
    merge is ever lost (the mutable-pointer protocol it replaces would
    silently drop one writer's result)."""

    def test_partition_transaction_carry_forward_and_time_travel(
        self, spark, tmp_path
    ):
        """A partial rewrite stages ONLY its partitions: unaffected
        entries keep their mapping (same physical dir across versions),
        and the previous committed version stays readable (snapshot
        isolation)."""
        from nshm2022db_spark.streaming.sinks import (
            committed_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "uid long, k string"
        )
        committed_partition_transaction(spark, t, "k", lambda base: rows)

        committed_partition_transaction(
            spark,
            t,
            "k",
            lambda base: base.filter("k = 'a' AND uid <> 1"),
            affected=["a"],
        )

        v1, v2 = table_history(t)
        assert v1["partitions"]["k=b"] == v2["partitions"]["k=b"]  # carried
        assert v1["partitions"]["k=a"] != v2["partitions"]["k=a"]  # restaged
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {2, 3}
        assert {
            r.uid for r in read_keyed_table(spark, t, version=1).collect()
        } == {1, 2, 3}

    def test_manifest_stats_skipping(self, spark, tmp_path):
        """stats_cols records per-partition min/max in the manifest;
        read_keyed_table(prune=...) drops disproven partitions before
        any file opens, carry-forward keeps stats with their mapping,
        and pruning never changes a filtered result."""
        from nshm2022db_spark.streaming.sinks import (
            committed_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a"), (9, "a"), (100, "b"), (110, "b"), (1000, "c")],
            "uid long, k string",
        )
        committed_partition_transaction(
            spark, t, "k", lambda base: rows, stats_cols=["uid"]
        )
        m = table_history(t)[-1]
        assert m["stats"]["k=b"]["cols"]["uid"] == [100, 110]
        assert m["stats"]["k=b"]["n"] == 2

        pruned = read_keyed_table(spark, t, prune={"uid": (100, 110)})
        assert all("k=b" in f for f in pruned.inputFiles())
        assert {r.uid for r in pruned.collect()} == {100, 110}

        # open-ended bound: uid >= 1000 keeps only k=c
        upper = read_keyed_table(spark, t, prune={"uid": (1000, None)})
        assert all("k=c" in f for f in upper.inputFiles())

        # a column without stats never prunes (advisory-only)
        other = read_keyed_table(spark, t, prune={"other": (0, 0)})
        assert len(other.inputFiles()) == len(
            read_keyed_table(spark, t).inputFiles()
        )

        # a range disjoint from EVERY partition returns an empty relation
        # with the table schema, not None ("no matching rows" != "no table")
        none_match = read_keyed_table(spark, t, prune={"uid": (10**9, None)})
        assert none_match.count() == 0
        assert set(none_match.columns) == {"uid", "k"}

        # rewrite ONLY k=a: b/c stats carry forward with their mapping,
        # and skipping still works against the new manifest
        committed_partition_transaction(
            spark,
            t,
            "k",
            lambda base: base.filter("k = 'a' AND uid > 5"),
            affected=["a"],
            stats_cols=["uid"],
        )
        m2 = table_history(t)[-1]
        assert m2["stats"]["k=b"] == m["stats"]["k=b"]  # carried
        assert m2["stats"]["k=a"]["cols"]["uid"] == [9, 9]  # recomputed
        again = read_keyed_table(spark, t, prune={"uid": (100, 110)})
        assert all("k=b" in f for f in again.inputFiles())
        # pruned + real filter == unpruned + real filter
        full = read_keyed_table(spark, t).filter("uid BETWEEN 100 AND 110")
        assert {r.uid for r in again.filter("uid BETWEEN 100 AND 110").collect()} == {
            r.uid for r in full.collect()
        }

    def test_compact_partition_table_is_a_commit(self, spark, tmp_path):
        """OPTIMIZE over the partition map: fragmented partitions
        collapse to one file each via a normal transaction — contents
        identical, stats recomputed, previous version still readable,
        already-tight partitions untouched."""
        from nshm2022db_spark.streaming.sinks import (
            compact_partition_table,
            committed_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(i, "a" if i < 40 else "b") for i in range(50)],
            "uid long, k string",
        )
        committed_partition_transaction(
            spark,
            t,
            "k",
            lambda base: rows.repartition(8),  # fragments every partition
            stats_cols=["uid"],
        )
        before = {r.uid for r in read_keyed_table(spark, t).collect()}
        m1 = table_history(t)[-1]

        compacted = compact_partition_table(spark, t, max_files_per_partition=2)
        assert compacted == ["k=a", "k=b"]
        m2 = table_history(t)[-1]
        for entry in compacted:
            d = os.path.join(t, m2["partitions"][entry], entry)
            files = [f for f in os.listdir(d) if f.startswith("part-")]
            assert len(files) == 1, (entry, files)
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == before
        assert m2["stats"]["k=a"]["cols"]["uid"] == [0, 39]  # recomputed
        # previous (fragmented) version remains a readable snapshot
        v1 = read_keyed_table(spark, t, version=m1["version"])
        assert {r.uid for r in v1.collect()} == before
        # second compaction is a no-op — nothing fragmented anymore
        assert compact_partition_table(spark, t, max_files_per_partition=2) == []

    def test_append_extends_generations_and_merges_stats(
        self, spark, tmp_path
    ):
        """Appending is O(batch): touched entries gain a generation in
        their dir LIST (no rewrite of prior data), stats bounds widen and
        counts sum, batch-id replay no-ops, and compaction collapses the
        lists back to one dir."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        b0 = spark.createDataFrame([(1, "a"), (2, "a"), (50, "b")], "uid long, k string")
        b1 = spark.createDataFrame([(3, "a"), (60, "b")], "uid long, k string")
        append_partition_transaction(
            spark, t, "k", b0, stats_cols=["uid"], batch_id=0
        )
        append_partition_transaction(
            spark, t, "k", b1, stats_cols=["uid"], batch_id=1
        )
        m = table_history(t)[-1]
        assert len(m["partitions"]["k=a"]) == 2  # two generations
        assert m["stats"]["k=a"] == {
            "n": 3, "cols": {"uid": [1, 3]}, "nulls": {"uid": 0},
        }
        assert m["stats"]["k=b"] == {
            "n": 2, "cols": {"uid": [50, 60]}, "nulls": {"uid": 0},
        }
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {
            1, 2, 3, 50, 60,
        }
        # replayed micro-batch no-ops
        append_partition_transaction(
            spark, t, "k", b1, stats_cols=["uid"], batch_id=1
        )
        assert table_history(t)[-1]["version"] == m["version"]
        # pruning works off the merged bounds
        pruned = read_keyed_table(spark, t, prune={"uid": (50, 70)})
        assert all("k=b" in f for f in pruned.inputFiles())
        # compaction collapses the generation lists, contents unchanged
        compacted = compact_partition_table(spark, t, max_files_per_partition=1)
        assert "k=a" in compacted
        m2 = table_history(t)[-1]
        assert isinstance(m2["partitions"]["k=a"], str)
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {
            1, 2, 3, 50, 60,
        }
        assert m2["stats"]["k=a"]["cols"]["uid"] == [1, 3]

    def test_statless_append_drops_stale_bounds(self, spark, tmp_path):
        """An append WITHOUT stats_cols must drop the touched entries'
        carried bounds: the old bounds don't cover the new generation, so
        keeping them would let pruning skip partitions that now hold
        matching rows. Untouched entries keep their stats and stay
        prunable."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a"), (2, "a"), (50, "b")], schema),
            stats_cols=["uid"],
        )
        # default (stat-less) append lands uid=99 into k=a only
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(99, "a")], schema)
        )
        m = table_history(t)[-1]
        assert "k=a" not in m.get("stats", {})  # stale bounds dropped
        assert m["stats"]["k=b"] == {
            "n": 1, "cols": {"uid": [50, 50]}, "nulls": {"uid": 0},
        }
        # a prune the OLD k=a bounds [1,2] would have disproven must
        # still read k=a and find the new row
        got = read_keyed_table(spark, t, prune={"uid": (90, 100)})
        assert {
            r.uid for r in got.filter(F.col("uid").between(90, 100)).collect()
        } == {99}
        # the untouched entry kept its stats: [50,50] disproves (90,100),
        # so k=b is pruned while the stat-less k=a cannot be
        assert not any("k=b" in f for f in got.inputFiles())
        assert any("k=a" in f for f in got.inputFiles())

    def test_partition_values_survive_inference(self, spark, tmp_path):
        """Numeric-looking partition values ('007', '1.50') must read
        back EXACTLY from the multi-entry branch: Spark's partition-dir
        type inference would type them int/double and the string cast
        would mutate them ('007'->'7'), diverging from the manifest keys
        and the single-entry branch's F.lit."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        # one batch, three partitions -> ONE generation dir holding
        # three entries -> the multi-path (inference-prone) branch
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame(
                [(1, "007"), (2, "1.50"), (3, "plain")], schema
            ),
        )
        got = {(r.uid, r.k) for r in read_keyed_table(spark, t).collect()}
        assert got == {(1, "007"), (2, "1.50"), (3, "plain")}
        # and the inference conf is restored after the read resolves
        assert (
            spark.conf.get(
                "spark.sql.sources.partitionColumnTypeInference.enabled"
            )
            == "true"
        )

    def test_all_pruned_empty_relation_has_merged_schema(
        self, spark, tmp_path
    ):
        """When stats prune EVERY partition, the empty relation must
        still carry the table's full merged schema — including a column
        only a later generation added — so a caller chaining a filter on
        it gets zero rows, not an AnalysisException."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a")], "uid long, k string"),
            stats_cols=["uid"],
        )
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame(
                [(2, "b", "x")], "uid long, k string, extra string"
            ),
            stats_cols=["uid"],
        )
        empty = read_keyed_table(spark, t, prune={"uid": (100, 200)})
        assert "extra" in empty.columns
        assert empty.filter(F.col("extra") == "x").count() == 0

    def test_stream_lands_into_partitioned_table(self, spark, sf_dir, tmp_path):
        """foreachBatch appends: drain the events stream into a
        day-partitioned committed table; the table equals the batch read,
        every micro-batch is one committed version, and a fresh
        checkpoint replay does not double-apply."""
        from nshm2022db_spark.streaming.sinks import (
            land_stream_to_partitioned_table,
            read_keyed_table,
            table_history,
        )

        src = str(tmp_path / "src")
        events = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value", "ts"
        )
        events.repartition(3).write.parquet(src)

        def stream():
            return (
                spark.readStream.schema(
                    "event_id long, user_id long, value double, ts timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .withColumn("day", F.col("ts").cast("date").cast("string"))
            )

        table = str(tmp_path / "table")
        q = land_stream_to_partitioned_table(
            stream(), table, str(tmp_path / "ckpt"), "day", stats_cols=["event_id"]
        )
        q.awaitTermination()

        got = read_keyed_table(spark, table)
        assert got.count() == events.count()
        assert (
            got.select(F.sum("event_id")).collect()[0][0]
            == events.select(F.sum("event_id")).collect()[0][0]
        )
        hist = table_history(table)
        assert len(hist) == 3  # one commit per micro-batch
        # fresh checkpoint -> replays batches; committed ids no-op
        q2 = land_stream_to_partitioned_table(
            stream(), table, str(tmp_path / "ckpt2"), "day", stats_cols=["event_id"]
        )
        q2.awaitTermination()
        assert read_keyed_table(spark, table).count() == events.count()

    def test_erasure_spans_append_generations(self, spark, tmp_path):
        """GDPR erasure over a STREAMED table: affected partitions may
        hold many append generations; the rewrite must read them all,
        collapse the survivors to one new dir, and leave unaffected
        partitions' generation lists untouched."""
        from nshm2022db_spark.queries.pipeline import (
            DELETE_USER_MOD as MOD,
        )
        from nshm2022db_spark.queries.pipeline import apply_erasure_rewrite
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "user_id long, event_type string, value double"
        append_partition_transaction(
            spark, t, "event_type",
            spark.createDataFrame([(MOD, "purchase", 1.0), (7, "view", 2.0)], schema),
        )
        append_partition_transaction(
            spark, t, "event_type",
            spark.createDataFrame([(9, "purchase", 3.0), (8, "view", 4.0)], schema),
        )
        before_view = table_history(t)[-1]["partitions"]["event_type=view"]
        assert len(before_view) == 2  # two generations

        apply_erasure_rewrite(spark, t)

        m = table_history(t)[-1]
        assert isinstance(m["partitions"]["event_type=purchase"], str)  # collapsed
        assert m["partitions"]["event_type=view"] == before_view  # untouched
        got = {(r.user_id, r.event_type) for r in read_keyed_table(spark, t).collect()}
        assert got == {(9, "purchase"), (7, "view"), (8, "view")}

    def test_merge_on_read_upsert(self, spark, tmp_path):
        """MOR keyed table: batches append as generations (no rewrite),
        the read-side window resolves latest-per-key with update-wins
        ties (later commit wins equal order), replay no-ops, and
        compaction folds generations without changing the view."""
        from nshm2022db_spark.streaming.sinks import (
            append_keyed_mor,
            compact_keyed_mor,
            current_commit,
            read_keyed_mor,
        )

        t = str(tmp_path / "t")
        schema = "k long, v string, ord long"
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "a0", 10), (2, "b0", 10)], schema),
            keys=["k"], order_col="ord", batch_id=0,
        )
        # batch 1: newer ord for k=1; EQUAL ord for k=2 (update must win)
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "a1", 20), (2, "b1", 10)], schema),
            keys=["k"], order_col="ord", batch_id=1,
        )
        # batch 2: OLDER ord for k=1 — must NOT roll state back
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "stale", 5)], schema),
            keys=["k"], order_col="ord", batch_id=2,
        )
        assert _generation_count(current_commit(t)) == 3

        def view():
            return {
                (r.k, r.v, r.ord) for r in read_keyed_mor(spark, t).collect()
            }

        expect = {(1, "a1", 20), (2, "b1", 10)}
        assert view() == expect
        # replayed batch no-ops
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "dup", 99)], schema),
            keys=["k"], order_col="ord", batch_id=1,
        )
        assert _generation_count(current_commit(t)) == 3
        # compaction folds to one generation, view unchanged
        assert compact_keyed_mor(spark, t)
        assert _generation_count(current_commit(t)) == 1
        assert view() == expect
        assert not compact_keyed_mor(spark, t)  # already folded

    def test_mor_append_rejects_config_mismatch(self, spark, tmp_path):
        """The merge contract (keys/order_col/tiebreak) is a table
        property: an append supplying a different one would silently
        rewrite how read_keyed_mor resolves ALL prior generations — it
        must raise instead."""
        import pytest

        from nshm2022db_spark.streaming.sinks import append_keyed_mor

        t = str(tmp_path / "t")
        schema = "k long, v string, ord long"
        append_keyed_mor(
            spark, t,
            spark.createDataFrame([(1, "a0", 10)], schema),
            keys=["k"], order_col="ord",
        )
        with pytest.raises(ValueError, match="merge config mismatch"):
            append_keyed_mor(
                spark, t,
                spark.createDataFrame([(1, "a1", 20)], schema),
                keys=["k"], order_col="v",
            )
        with pytest.raises(ValueError, match="merge config mismatch"):
            append_keyed_mor(
                spark, t,
                spark.createDataFrame([(1, "a1", 20)], schema),
                keys=["k", "v"], order_col="ord",
            )

    def test_mor_compaction_bound_under_long_replay(self, spark, tmp_path):
        """max_open_generations is the Hudi compaction trigger: a long
        append stream keeps the open-generation count bounded (reads
        window over at most N+1 generations, never the whole history)
        and the merged view stays correct across the inline folds."""
        from nshm2022db_spark.streaming.sinks import (
            append_keyed_mor,
            current_commit,
            read_keyed_mor,
        )

        t = str(tmp_path / "t")
        schema = "k long, v string, ord long"
        for i in range(7):
            append_keyed_mor(
                spark, t,
                spark.createDataFrame([(i % 3, f"v{i}", i)], schema),
                keys=["k"], order_col="ord", batch_id=i,
                max_open_generations=2,
            )
            assert _generation_count(current_commit(t)) <= 2
        got = {(r.k, r.v) for r in read_keyed_mor(spark, t).collect()}
        assert got == {(0, "v6"), (1, "v4"), (2, "v5")}

    def test_compaction_enables_rowgroup_skip(self, spark, tmp_path):
        """Two-level skipping, level two: after sorted multi-file
        compaction, a range scan's parquet pushdown drops the row groups
        whose footer min/max disprove the range. Pinned from the
        EXECUTED plan's scan metric: numOutputRows falls from the whole
        partition (pre-compaction, interleaved files — nothing
        skippable) to just the overlapping sorted slices, and matches
        exactly what the footers predict."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        def scan_rows(df):
            df.collect()
            total = 0
            it = df._jdf.queryExecution().executedPlan().collectLeaves().iterator()
            while it.hasNext():
                m = it.next().metrics()
                if m.contains("numOutputRows"):
                    total += m.apply("numOutputRows").value()
            return total

        t = str(tmp_path / "t")
        n, lo, hi = 1000, 100, 299
        ev = spark.range(n).select(
            F.col("id").alias("uid"),
            (F.col("id") % 2).cast("string").alias("k"),
        )
        for i in range(3):  # hash-shuffled appends: every file spans 0..n
            append_partition_transaction(
                spark, t, "k",
                ev.filter(F.col("uid") % 3 == i).repartition(2, "uid"),
                stats_cols=["uid"],
            )
        pre_version = table_history(t)[-1]["version"]
        rng = F.col("uid").between(lo, hi)
        pre = scan_rows(read_keyed_table(spark, t).filter(rng))
        assert pre == n  # nothing skippable: every row group overlaps

        compact_partition_table(
            spark, t, max_files_per_partition=2,
            sort_within=["uid"], max_records_per_file=100,
        )
        m = table_history(t)[-1]
        post = scan_rows(read_keyed_table(spark, t).filter(rng))
        # footers predict exactly which row groups survive the range
        expect, n_groups, live_groups = 0, 0, 0
        for entry, d in m["partitions"].items():
            pdir = os.path.join(t, d if isinstance(d, str) else d[0], entry)
            for fname in os.listdir(pdir):
                if not fname.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(pdir, fname)).metadata
                for g in range(meta.num_row_groups):
                    st = meta.row_group(g).column(0).statistics
                    n_groups += 1
                    if st.min <= hi and st.max >= lo:
                        live_groups += 1
                        expect += meta.row_group(g).num_rows
        assert post == expect
        assert live_groups < n_groups  # row groups actually skipped
        assert post < n / 2  # most of the table never surfaced
        # skipping is read-side only: the answer is the unpruned one
        got = read_keyed_table(spark, t).filter(rng).count()
        pre_v = read_keyed_table(spark, t, version=pre_version).filter(rng)
        assert got == pre_v.count() == hi - lo + 1

    def test_cluster_by_skips_rowgroups_on_both_columns(
        self, spark, tmp_path
    ):
        """Multi-column clustered compaction (r10, VERDICT r09 stretch
        #7): after `cluster_by=[uid, gid]` Z-order compaction, a range
        scan on EITHER column alone prunes row groups — the property a
        single-column sort cannot provide (sorting by uid leaves gid
        interleaved across every row group, and vice versa). Pinned
        from the EXECUTED plan's scan metric against the exact footer
        prediction, per column."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        def scan_rows(df):
            df.collect()
            total = 0
            it = (
                df._jdf.queryExecution().executedPlan().collectLeaves()
                .iterator()
            )
            while it.hasNext():
                m = it.next().metrics()
                if m.contains("numOutputRows"):
                    total += m.apply("numOutputRows").value()
            return total

        t = str(tmp_path / "t")
        n = 2000
        # gid decorrelated from uid: a uid sort leaves gid unsorted
        ev = spark.range(n).select(
            F.col("id").alias("uid"),
            ((F.col("id") * 37) % 1000).alias("gid"),
            F.lit("a").alias("k"),
        )
        for i in range(3):
            append_partition_transaction(
                spark, t, "k",
                ev.filter(F.col("uid") % 3 == i).repartition(2, "uid"),
                stats_cols=["uid", "gid"],
            )
        uid_rng = F.col("uid").between(100, 299)
        gid_rng = F.col("gid").between(100, 299)
        assert scan_rows(read_keyed_table(spark, t).filter(uid_rng)) == n
        # ~40 row groups: the Z-curve carves a fine enough grid that a
        # 20% range on either dimension keeps well under half the blocks
        compact_partition_table(
            spark, t, max_files_per_partition=2,
            cluster_by=["uid", "gid"], max_records_per_file=50,
        )
        m = table_history(t)[-1]

        def footer_expect(col_idx, lo, hi):
            expect, groups, live = 0, 0, 0
            for entry, d in m["partitions"].items():
                pdir = os.path.join(
                    t, d if isinstance(d, str) else d[0], entry
                )
                for fname in os.listdir(pdir):
                    if not fname.endswith(".parquet"):
                        continue
                    meta = pq.ParquetFile(
                        os.path.join(pdir, fname)
                    ).metadata
                    for g in range(meta.num_row_groups):
                        st = meta.row_group(g).column(col_idx).statistics
                        groups += 1
                        if st.min <= hi and st.max >= lo:
                            live += 1
                            expect += meta.row_group(g).num_rows
            return expect, groups, live

        # uid hits 200 rows; gid cycles twice over 2000 ids -> 400
        for col_idx, rng, col, n_match in (
            (0, uid_rng, "uid", 200), (1, gid_rng, "gid", 400)
        ):
            post = scan_rows(read_keyed_table(spark, t).filter(rng))
            expect, groups, live = footer_expect(col_idx, 100, 299)
            assert post == expect, col
            assert live < groups, f"no row groups skipped on {col}"
            assert post <= 0.6 * n, f"{col} scan surfaced most of the table"
            # skipping is read-side only: the answer is unchanged
            assert read_keyed_table(spark, t).filter(rng).count() == n_match

    def test_cluster_by_excludes_sort_within(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.range(10).select(
                F.col("id").alias("uid"), F.lit("a").alias("k")
            ),
        )
        with pytest.raises(ValueError, match="not both"):
            compact_partition_table(
                spark, t, sort_within=["uid"], cluster_by=["uid"]
            )

    def test_key_tombstones(self, spark, tmp_path):
        """MOR DELETE via key tombstones: O(keys) commit hides every row
        of the keys from every read (including later appends), earlier
        snapshots still show them, key mismatch and replay are rejected/
        no-ops, and materialize rewrites the survivors and clears the
        list."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            materialize_tombstones,
            read_keyed_table,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        schema = "user_id long, k string, v long"
        append_partition_transaction(  # v1
            spark, t, "k",
            spark.createDataFrame(
                [(1, "a", 10), (2, "a", 20), (2, "b", 21), (3, "b", 30)],
                schema,
            ),
            stats_cols=["v"],
        )
        doomed = spark.createDataFrame([(2,)], "user_id long")
        tombstone_keys(spark, t, "user_id", doomed, batch_id=7)  # v2

        def users():
            return {r.user_id for r in read_keyed_table(spark, t).collect()}

        assert users() == {1, 3}
        # time travel: the pre-delete snapshot still shows user 2
        v1 = read_keyed_table(spark, t, version=1)
        assert {r.user_id for r in v1.collect()} == {1, 2, 3}
        # replayed delete no-ops; mismatched key column is rejected
        tombstone_keys(spark, t, "user_id", doomed, batch_id=7)
        assert current_commit(t)["version"] == 2
        with _pytest.raises(ValueError, match="tombstones key"):
            tombstone_keys(
                spark, t, "v", spark.createDataFrame([(10,)], "v long")
            )
        # appends carry the tombstones: new rows for a tombstoned key
        # stay hidden (GDPR semantics) until a materialize clears them
        append_partition_transaction(  # v3
            spark, t, "k",
            spark.createDataFrame([(2, "a", 22), (4, "a", 40)], schema),
        )
        assert users() == {1, 3, 4}
        # materialize: survivors rewritten, tombstones cleared
        assert materialize_tombstones(spark, t) is not None
        m = current_commit(t)
        assert "dv" not in m
        assert users() == {1, 3, 4}
        # the resurrect-on-append behavior ENDS once cleared
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(2, "a", 23)], schema)
        )
        assert users() == {1, 2, 3, 4}
        assert materialize_tombstones(spark, t) is None  # nothing to do

    def test_write_audit_publish(self, spark, tmp_path):
        """WAP: the audit sees exactly what would become visible, and a
        rejected batch leaves NO trace — version unchanged, stage
        removed, reads identical. Audit exceptions propagate with the
        same cleanup; a passing audit publishes normally."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            AuditError,
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        no_null_uids = lambda df: df.filter(F.col("uid").isNull()).count() == 0

        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(1, "a")], schema),
            audit=no_null_uids,
        )
        assert current_commit(t)["version"] == 1

        bad = spark.createDataFrame([(None, "a"), (2, "b")], schema)
        with _pytest.raises(AuditError):
            append_partition_transaction(spark, t, "k", bad, audit=no_null_uids)
        assert current_commit(t)["version"] == 1  # nothing published
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1}
        # the rejected stage was cleaned up, not left for vacuum
        assert [d for d in os.listdir(t) if d.startswith("data-")] == [
            current_commit(t)["dir"]
        ]

        def exploding(df):
            raise RuntimeError("boom")

        with _pytest.raises(RuntimeError, match="boom"):
            append_partition_transaction(
                spark, t, "k", spark.createDataFrame([(3, "a")], schema),
                audit=exploding,
            )
        assert current_commit(t)["version"] == 1
        # a passing audit publishes
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(4, "b")], schema),
            audit=no_null_uids,
        )
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1, 4}

    def test_partition_evolution(self, spark, tmp_path):
        """Iceberg-style spec change: evolve the partition column
        without rewriting old data; reads union layouts (each pruning on
        its own column), appends land in the new spec and old-column
        appends are rejected, erasure-style rewrites demand migration,
        and migration folds everything into the current spec in one
        commit."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            compact_partition_table,
            evolve_partition_column,
            migrate_legacy_layouts,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string, day string"
        append_partition_transaction(  # v1: partitioned by k
            spark, t, "k",
            spark.createDataFrame(
                [(1, "a", "d1"), (2, "b", "d1"), (3, "a", "d2")], schema
            ),
            stats_cols=["uid"],
        )
        v2 = evolve_partition_column(spark, t, "day")  # metadata-only
        assert v2 == 2
        # appends now land by day; the old column is rejected
        with _pytest.raises(ValueError, match="partitioned by 'day'"):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(4, "a", "d2")], schema),
            )
        append_partition_transaction(  # v3: new-spec append
            spark, t, "day",
            spark.createDataFrame([(4, "a", "d2"), (5, "c", "d3")], schema),
            stats_cols=["uid"],
        )

        def rows():
            return {
                (r.uid, r.k, r.day)
                for r in read_keyed_table(spark, t).collect()
            }

        want = {
            (1, "a", "d1"), (2, "b", "d1"), (3, "a", "d2"),
            (4, "a", "d2"), (5, "c", "d3"),
        }
        assert rows() == want
        # each layout prunes on its own stats: uid in (4,5) disproves
        # the legacy entries ([1,3] bounds) and the scan opens only the
        # new-spec generation
        pruned = read_keyed_table(spark, t, prune={"uid": (4, 5)})
        assert {r.uid for r in pruned.filter(F.col("uid") >= 4).collect()} \
            == {4, 5}
        gen_dirs = {f.rsplit("/", 2)[0] for f in pruned.inputFiles()}
        assert len(gen_dirs) == 1
        # the old snapshot still reads the old layout (time travel)
        v1 = read_keyed_table(spark, t, version=1)
        assert {r.uid for r in v1.collect()} == {1, 2, 3}
        # rewrite transactions refuse an unmigrated table...
        with _pytest.raises(ValueError, match="unmigrated legacy"):
            committed_partition_transaction(
                spark, t, "day", lambda b: b.filter(F.lit(False)),
                affected=["d1"],
            )
        # ...but current-layout compaction is allowed
        compact_partition_table(spark, t, max_files_per_partition=0)
        assert rows() == want
        # migration folds legacy rows into the day layout, one commit
        assert migrate_legacy_layouts(spark, t) is not None
        m = table_history(t)[-1]
        assert "legacy_layouts" not in m
        assert set(m["partitions"]) >= {"day=d1", "day=d2", "day=d3"}
        assert rows() == want
        # and rewrites work again
        committed_partition_transaction(
            spark, t, "day",
            lambda b: b.filter(F.col("day") == "d1").filter(F.col("uid") != 2),
            affected=["d1"],
        )
        assert rows() == want - {(2, "b", "d1")}
        assert migrate_legacy_layouts(spark, t) is None  # nothing left

    def test_timestamp_as_of_time_travel(self, spark, tmp_path):
        """TIMESTAMP AS OF: manifests record their publish wall-clock
        once, and a read as of any instant resolves to the newest
        version published by then — before the table existed → None,
        between commits → the earlier snapshot, now → the head. The
        recorded time survives later commits (setdefault)."""
        import time as _time

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_mor,
            append_keyed_mor,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        t0 = _time.time()
        _time.sleep(0.02)
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(1, "a")], schema)
        )
        t1 = _time.time()
        _time.sleep(0.02)
        append_partition_transaction(
            spark, t, "k", spark.createDataFrame([(2, "a")], schema)
        )
        assert read_keyed_table(spark, t, as_of=t0) is None
        assert {
            r.uid for r in read_keyed_table(spark, t, as_of=t1).collect()
        } == {1}
        assert {
            r.uid
            for r in read_keyed_table(spark, t, as_of=_time.time()).collect()
        } == {1, 2}
        times = [m["committed_at"] for m in table_history(t)]
        assert times == sorted(times) and len(times) == 2

        # MOR twin resolves the same way
        m = str(tmp_path / "mor")
        ms = "k long, v string, ord long"
        append_keyed_mor(
            spark, m, spark.createDataFrame([(1, "old", 1)], ms),
            keys=["k"], order_col="ord",
        )
        tm = _time.time()
        _time.sleep(0.02)
        append_keyed_mor(
            spark, m, spark.createDataFrame([(1, "new", 2)], ms),
            keys=["k"], order_col="ord",
        )
        assert [r.v for r in read_keyed_mor(spark, m, as_of=tm).collect()] == [
            "old"
        ]

    def test_null_count_stats_prune(self, spark, tmp_path):
        """Manifest null counts (footer-read, exact) drive IS NOT NULL /
        IS NULL skipping: the all-null partition vanishes from the scan
        for "notnull", the no-null partition for "null", the mixed one
        survives both, and a stat-less append drops the certainty."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(None, "allnull"), (None, "allnull"),
             (1.0, "mixed"), (None, "mixed"),
             (2.0, "full"), (3.0, "full")],
            "v double, k string",
        )
        append_partition_transaction(spark, t, "k", df, stats_cols=["v"])
        m = table_history(t)[-1]
        assert m["stats"]["k=allnull"]["nulls"] == {"v": 2}
        assert m["stats"]["k=mixed"]["nulls"] == {"v": 1}
        assert m["stats"]["k=full"]["nulls"] == {"v": 0}

        notnull = read_keyed_table(spark, t, prune={"v": "notnull"})
        assert not any("k=allnull" in f for f in notnull.inputFiles())
        got = {
            (r.v, r.k)
            for r in notnull.filter(F.col("v").isNotNull()).collect()
        }
        assert got == {(1.0, "mixed"), (2.0, "full"), (3.0, "full")}

        isnull = read_keyed_table(spark, t, prune={"v": "null"})
        assert not any("k=full" in f for f in isnull.inputFiles())
        assert isnull.filter(F.col("v").isNull()).count() == 3

        # an append with stats keeps counts additive…
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(None, "full")], "v double, k string"),
            stats_cols=["v"],
        )
        m2 = table_history(t)[-1]
        assert m2["stats"]["k=full"]["nulls"] == {"v": 1}
        # …so "null" pruning no longer skips the formerly no-null entry
        isnull2 = read_keyed_table(spark, t, prune={"v": "null"})
        assert any("k=full" in f for f in isnull2.inputFiles())
        assert isnull2.filter(F.col("v").isNull()).count() == 4

    def test_bloom_equality_skipping(self, spark, tmp_path):
        """Per-partition Bloom bitmaps drive equality skipping where
        min/max cannot (every partition spans the whole id range):
        probes open only the holding partition, appends OR-merge
        bitmaps, a bloom-less or spec-mismatched append DROPS the
        touched entry's bitmap (bloom-less = never pruned, always
        safe), and compaction recomputes bitmaps so skipping survives
        maintenance."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            current_commit,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 3}") for i in range(300)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df.filter("id < 150"),
            bloom_cols=["id"], bloom_bits=8192,
        )
        append_partition_transaction(
            spark, t, "k", df.filter("id >= 150"),
            bloom_cols=["id"], bloom_bits=8192,
        )
        m = table_history(t)[-1]
        assert set(m["bloom"]) == {"k=k0", "k=k1", "k=k2"}

        # id=100 lives in k=k1 via append #1, id=200 in k=k2 via append
        # #2 — the OR-merged bitmaps answer both; sibling partitions are
        # skipped (100 keys in 8192 bits: FP ~1e-6, and the fixture is
        # deterministic, so exact skipping is pinnable)
        for probe, home in [(100, "k=k1"), (200, "k=k2")]:
            r = read_keyed_table(spark, t, prune={"id": ("eq", probe)})
            files = r.inputFiles()
            assert any(home in f for f in files)
            assert not any(
                o in f for f in files
                for o in set(m["bloom"]) - {home}
            )
            got = r.filter(F.col("id") == probe).collect()
            assert [(x.id, x.k) for x in got] == [
                (probe, home.split("=")[1])
            ]

        # safety sweep: every present id survives its own probe
        for probe in range(0, 300, 37):
            r = read_keyed_table(spark, t, prune={"id": ("eq", probe)})
            assert r.filter(F.col("id") == probe).count() == 1

        # a bloom-less append drops the touched entry's bitmap; the
        # entry is then never pruned, even for an absent id
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1000, "k0")], "id long, k string"),
        )
        m2 = table_history(t)[-1]
        assert "k=k0" not in m2.get("bloom", {})
        assert "k=k1" in m2["bloom"]  # untouched entries keep theirs
        r = read_keyed_table(spark, t, prune={"id": ("eq", 424242)})
        assert any("k=k0" in f for f in r.inputFiles())

        # a spec-mismatched append can't OR bitmaps of different sizes:
        # it drops instead of merging wrong
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(2000, "k1")], "id long, k string"),
            bloom_cols=["id"], bloom_bits=4096,
        )
        assert "k=k1" not in table_history(t)[-1].get("bloom", {})

        # compaction recomputes bitmaps for every rewritten entry —
        # including the two that lost theirs — so skipping is restored
        assert compact_partition_table(spark, t, max_files_per_partition=1)
        m3 = current_commit(t)
        assert set(m3["bloom"]) == {"k=k0", "k=k1", "k=k2"}
        for probe, home in [(100, "k=k1"), (1000, "k=k0")]:
            r = read_keyed_table(spark, t, prune={"id": ("eq", probe)})
            assert not any(
                o in f for f in r.inputFiles()
                for o in set(m3["bloom"]) - {home}
            )
            assert r.filter(F.col("id") == probe).count() == 1

    def test_incremental_agg_maintenance_exactly_once(
        self, spark, tmp_path
    ):
        """maintain_incremental_agg folds each source commit into the
        derived aggregate exactly once: the cursor is the destination's
        own committed batch ids, so a re-run applies nothing, a new
        source commit applies only itself, metadata-only commits are
        skipped, non-append history RAISES (additive folds would
        double-count a rewrite or miss a restore), and the rollup
        always equals a full recompute."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            maintain_incremental_agg,
            read_keyed_table,
            restore_table_version,
            set_table_constraints,
        )

        src = str(tmp_path / "bronze")
        dst = str(tmp_path / "silver")
        rows = [(i, f"k{i % 2}", float(i)) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, k string, v double")

        def agg(d):
            return d.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
            )

        def merge(cur, add):
            if cur is None:
                return add
            return cur.unionByName(add).groupBy("k").agg(
                F.sum("n").alias("n"), F.sum("s").alias("s")
            )

        append_partition_transaction(spark, src, "k", df.filter("id < 10"))
        append_partition_transaction(
            spark, src, "k", df.filter("id >= 10 and id < 20")
        )
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 2
        # idempotent: nothing new → nothing applied
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 0
        # metadata-only commit (ADD CONSTRAINT): skipped, not folded
        set_table_constraints(spark, src, ["id >= 0"])
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 0
        # one new commit → exactly one fold, and the rollup equals a
        # full recompute over the source
        append_partition_transaction(spark, src, "k", df.filter("id >= 20"))
        assert maintain_incremental_agg(spark, src, dst, agg, merge) == 1
        got = {
            (r.k, r.n, r.s)
            for r in read_keyed_table(spark, dst).collect()
        }
        want = {
            (r.k, r.n, r.s)
            for r in agg(read_keyed_table(spark, src)).collect()
        }
        assert got == want
        # non-append history is refused, not silently double-counted:
        # a RESTORE in the unfolded range raises
        restore_table_version(src, 2)
        with pytest.raises(ValueError, match="restore"):
            maintain_incremental_agg(spark, src, dst, agg, merge)

    def test_change_feed_reads_only_requested_commits(self, spark, tmp_path):
        """read_table_changes returns exactly what each commit in the
        range added (tagged with its version), scans nothing outside the
        range, SKIPS dataChange=false compactions (r11 — a restatement
        is not a change), and surfaces a state-CHANGING rewrite's new
        partition contents."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            committed_partition_transaction,
            read_table_changes,
        )

        t = str(tmp_path / "t")
        schema = "uid long, k string"
        append_partition_transaction(  # v1
            spark, t, "k", spark.createDataFrame([(1, "a"), (2, "b")], schema)
        )
        append_partition_transaction(  # v2
            spark, t, "k", spark.createDataFrame([(3, "a")], schema)
        )
        append_partition_transaction(  # v3
            spark, t, "k", spark.createDataFrame([(4, "b"), (5, "b")], schema)
        )
        got = {
            (r.uid, r.k, r._commit_version)
            for r in read_table_changes(spark, t, 1).collect()
        }
        assert got == {(3, "a", 2), (4, "b", 3), (5, "b", 3)}
        # bounded range
        got2 = {
            (r.uid, r._commit_version)
            for r in read_table_changes(spark, t, 1, to_version=2).collect()
        }
        assert got2 == {(3, 2)}
        # the feed only lists/reads the in-range stage dirs
        feed = read_table_changes(spark, t, 2)
        assert all("data-" in f for f in feed.inputFiles())
        assert len({f.rsplit("/k=", 1)[0] for f in feed.inputFiles()}) == 1
        # a compaction is dataChange=false: the feed skips it entirely
        compact_partition_table(spark, t, max_files_per_partition=1)  # v4
        assert read_table_changes(spark, t, 3) is None
        # a state-CHANGING rewrite (erasure shape) still surfaces as
        # the rewritten partition's upsert image
        committed_partition_transaction(  # v5
            spark, t, "k",
            lambda base: base.filter("k = 'b' AND uid <> 2"),
            affected=["b"],
        )
        reb = {
            (r.uid, r.k, r._commit_version)
            for r in read_table_changes(spark, t, 4).collect()
        }
        assert {v for _, _, v in reb} == {5}
        assert {u for u, k, _ in reb if k == "b"} == {4, 5}
        # empty range → None
        assert read_table_changes(spark, t, 5) is None

    def test_sorted_compaction_tightens_row_groups(self, spark, tmp_path):
        """OPTIMIZE ... ZORDER-style: compaction with sort_within writes
        each partition sorted, so parquet row-group min/max are tight
        (verified from the footers — the stats a scan's pushdown prunes
        row groups with)."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        # interleaved appends: each generation spans the full uid range
        for lo in (0, 1, 2):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame(
                    [(lo + 10 * i, "a") for i in range(20)], "uid long, k string"
                ),
                stats_cols=["uid"],
            )
        before = {r.uid for r in read_keyed_table(spark, t).collect()}

        compacted = compact_partition_table(
            spark, t, max_files_per_partition=1, sort_within=["uid"]
        )
        assert compacted == ["k=a"]
        m = table_history(t)[-1]
        d = os.path.join(t, m["partitions"]["k=a"], "k=a")
        files = [f for f in os.listdir(d) if f.startswith("part-")]
        assert len(files) == 1
        md = pq.ParquetFile(os.path.join(d, files[0])).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        prev_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx["uid"]).statistics
            if prev_max is not None:
                assert st.min >= prev_max  # disjoint, ordered row groups
            prev_max = st.max
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == before
        assert m["stats"]["k=a"]["cols"]["uid"] == [min(before), max(before)]

    def test_restore_and_retention_vacuum(self, spark, tmp_path):
        """RESTORE republishes an old snapshot as a new commit with zero
        data movement; vacuum_versions drops old versions but never a
        data dir a retained version still references (append generations
        are shared across manifests)."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            read_keyed_table,
            restore_table_version,
            table_history,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        b0 = spark.createDataFrame([(1, "a"), (50, "b")], "uid long, k string")
        b1 = spark.createDataFrame([(2, "a")], "uid long, k string")
        append_partition_transaction(spark, t, "k", b0)  # v1
        append_partition_transaction(spark, t, "k", b1)  # v2: k=a gains gen
        committed_partition_transaction(  # v3: drop uid=1 from k=a
            spark, t, "k",
            lambda base: base.filter("k = 'a' AND uid <> 1"),
            affected=["a"],
        )
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {2, 50}

        v4 = restore_table_version(t, 2)  # back to pre-delete state
        assert v4 == 4
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1, 2, 50}
        # restore moved history FORWARD; v3 still readable pre-vacuum
        assert {
            r.uid for r in read_keyed_table(spark, t, version=3).collect()
        } == {2, 50}

        out = vacuum_versions(t, keep_last=2)  # keep v3, v4
        assert out["versions"] == [1, 2]
        # v4 restored v2's dirs — they are retained, so nothing v4 needs
        # was deleted and the head still reads
        assert {r.uid for r in read_keyed_table(spark, t).collect()} == {1, 2, 50}
        assert [m["version"] for m in table_history(t)] == [3, 4]
        import pytest as _pytest

        with _pytest.raises(ValueError, match="not committed"):
            read_keyed_table(spark, t, version=1)

    def test_append_schema_evolution(self, spark, tmp_path):
        """A batch appended with a NEW column reads back with NULLs for
        the older generations — parquet schema evolution through the
        manifest read."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a")], "uid long, k string"),
        )
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame(
                [(2, "a", "en"), (3, "b", "fr")],
                "uid long, k string, lang string",
            ),
        )
        got = {r.uid: r.lang for r in read_keyed_table(spark, t).collect()}
        assert got == {1: None, 2: "en", 3: "fr"}

    def test_cas_rejects_taken_version(self, tmp_path):
        from nshm2022db_spark.streaming.sinks import try_commit

        t = str(tmp_path / "t")
        os.makedirs(t)
        assert try_commit(t, {"version": 1, "dir": "data-a", "batch_ids": []})
        assert not try_commit(t, {"version": 1, "dir": "data-b", "batch_ids": []})
        assert try_commit(t, {"version": 2, "dir": "data-b", "batch_ids": []})

    def test_stale_writer_retries_and_no_update_lost(self, spark, tmp_path):
        """Deterministic interleave: writer A reads v0, writer B commits
        v1 meanwhile; A's CAS on v1 must fail, and a full transaction
        from A must land BOTH writers' rows at v2."""
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
            try_commit,
        )

        t = str(tmp_path / "t")

        def add_row(k, v):
            row = spark.createDataFrame([(k, v)], "k int, v int")

            def compute(base):
                return row if base is None else base.unionByName(row)

            return compute

        stale = current_commit(t) if os.path.isdir(t) else {"version": 0, "batch_ids": []}
        committed_transaction(spark, t, add_row(1, 10))  # writer B wins v1
        # writer A, holding the stale v0 view, tries to claim v1 directly
        assert not try_commit(
            t, {"version": stale["version"] + 1, "dir": "data-stale", "batch_ids": []}
        )
        committed_transaction(spark, t, add_row(2, 20))  # A retries properly
        cur = current_commit(t)
        assert cur["version"] == 2
        got = {(r.k, r.v) for r in read_keyed_table(spark, t).collect()}
        assert got == {(1, 10), (2, 20)}

    def test_threaded_writers_serialize(self, spark, tmp_path):
        """8 racing threads each add a distinct row through full
        transactions; every row must survive and the log must hold
        exactly 8 versions."""
        import threading

        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        errs = []

        def writer(i):
            row = spark.createDataFrame([(i, i * 10)], "k int, v int")
            try:
                committed_transaction(
                    spark,
                    t,
                    lambda base: row if base is None else base.unionByName(row),
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        assert current_commit(t)["version"] == 8
        got = {(r.k, r.v) for r in read_keyed_table(spark, t).collect()}
        assert got == {(i, i * 10) for i in range(8)}

    def test_ledger_checkpoint_keeps_batchids_o_tail(self, spark, tmp_path):
        """Every _CKPT_EVERY commits the batch-id ledger rolls into a
        checkpoint; committed_batch_ids reads checkpoint + tail only,
        and vacuum preserves the ledger — a replayed ancient batch still
        no-ops after its manifest is retired."""
        from nshm2022db_spark.streaming import sinks
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_batch_ids,
            read_keyed_table,
            table_history,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        n = sinks._CKPT_EVERY + 3
        for i in range(n):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(i, "a")], "uid long, k string"),
                batch_id=i,
            )
        log = os.path.join(t, "_commits")
        ckpts = [f for f in os.listdir(log) if f.endswith(".checkpoint.json")]
        assert len(ckpts) == 1 and ckpts[0].startswith(f"{sinks._CKPT_EVERY:020d}")
        assert committed_batch_ids(t) == set(range(n))

        vacuum_versions(t, keep_last=2)
        assert [m["version"] for m in table_history(t)] == [n - 1, n]
        # ledger survives retention: replaying batch 0 must no-op
        assert committed_batch_ids(t) == set(range(n))
        before = table_history(t)[-1]["version"]
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(999, "a")], "uid long, k string"),
            batch_id=0,
        )
        assert table_history(t)[-1]["version"] == before
        assert read_keyed_table(spark, t).filter("uid = 999").count() == 0

    def test_threaded_appenders_serialize(self, spark, tmp_path):
        """8 racing APPEND writers (the foreachBatch shape, minus the
        stream): every batch's rows survive, stats cover the union, and
        the hot partition's generation list holds one dir per writer."""
        import threading

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        errs = []

        def writer(i):
            batch = spark.createDataFrame([(i, "hot")], "uid long, k string")
            try:
                append_partition_transaction(
                    spark, t, "k", batch, stats_cols=["uid"]
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        m = table_history(t)[-1]
        assert m["version"] == 8
        assert len(m["partitions"]["k=hot"]) == 8  # one generation each
        assert m["stats"]["k=hot"] == {
            "n": 8, "cols": {"uid": [0, 7]}, "nulls": {"uid": 0},
        }
        got = {r.uid for r in read_keyed_table(spark, t).collect()}
        assert got == set(range(8))

    def test_vacuum_spares_committed_and_fresh(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            current_commit,
            read_keyed_table,
            vacuum_uncommitted,
        )

        t = str(tmp_path / "t")
        row = spark.createDataFrame([(1, 1)], "k int, v int")
        committed_transaction(spark, t, lambda base: row)
        # orphan stage: crashed writer, old mtime
        orphan = os.path.join(t, "data-orphan")
        os.makedirs(orphan)
        os.utime(orphan, (0, 0))
        fresh = os.path.join(t, "data-fresh")
        os.makedirs(fresh)  # in-flight writer, current mtime

        removed = vacuum_uncommitted(t, grace_sec=60.0)
        assert removed == ["data-orphan"]
        assert os.path.isdir(fresh)
        assert os.path.isdir(os.path.join(t, current_commit(t)["dir"]))
        assert read_keyed_table(spark, t).count() == 1

    def test_vacuum_sweeps_orphan_tmp_manifests(self, spark, tmp_path):
        """ADVICE r04: a writer crashing between mkstemp and try_commit's
        finally leaves a *.tmp manifest in _commits/ that nothing else
        removes; vacuum sweeps stale ones but spares a live writer's
        fresh tmp."""
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            read_keyed_table,
            vacuum_uncommitted,
        )

        t = str(tmp_path / "t")
        row = spark.createDataFrame([(1, 1)], "k int, v int")
        committed_transaction(spark, t, lambda base: row)
        log = os.path.join(t, "_commits")
        stale = os.path.join(log, "crashed-writer.tmp")
        with open(stale, "w") as f:
            f.write("{}")
        os.utime(stale, (0, 0))
        fresh = os.path.join(log, "live-writer.tmp")
        with open(fresh, "w") as f:
            f.write("{}")

        removed = vacuum_uncommitted(t, grace_sec=60.0)
        assert removed == [os.path.join("_commits", "crashed-writer.tmp")]
        assert not os.path.exists(stale)
        assert os.path.exists(fresh)
        # committed manifests untouched, table still readable
        assert read_keyed_table(spark, t).count() == 1

    def test_time_travel_and_history(self, spark, tmp_path):
        """Every committed version stays readable; history lists the
        audit trail in order."""
        from nshm2022db_spark.streaming.sinks import (
            committed_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        for i in range(1, 4):
            row = spark.createDataFrame([(i, i * 10)], "k int, v int")
            committed_transaction(
                spark,
                t,
                lambda base, row=row: row if base is None else base.unionByName(row),
            )
        hist = table_history(t)
        assert [m["version"] for m in hist] == [1, 2, 3]
        assert read_keyed_table(spark, t, version=1).count() == 1
        assert read_keyed_table(spark, t, version=2).count() == 2
        assert read_keyed_table(spark, t).count() == 3
        import pytest as _pytest

        with _pytest.raises(ValueError):
            read_keyed_table(spark, t, version=9)

    def test_manifests_carry_delta_batch_ids(self, spark, tmp_path):
        """Manifests store only THEIR transaction's batch ids (the
        cumulative scheme grew the log O(B^2)); membership is the union
        over history."""
        from nshm2022db_spark.streaming.sinks import (
            committed_batch_ids,
            committed_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        for bid in (0, 1, 2):
            row = spark.createDataFrame([(bid, bid)], "k int, v int")
            committed_transaction(
                spark,
                t,
                lambda base, row=row: row if base is None else base.unionByName(row),
                batch_id=bid,
            )
        hist = table_history(t)
        assert [m["batch_ids"] for m in hist] == [[0], [1], [2]]
        assert committed_batch_ids(t) == {0, 1, 2}
        # replaying any of them is a no-op
        boom = spark.createDataFrame([(9, 9)], "k int, v int")
        committed_transaction(spark, t, lambda base: boom, batch_id=1)
        assert len(table_history(t)) == 3

    def test_vacuumed_stage_fails_loudly_and_unpublishes(
        self, spark, tmp_path, monkeypatch
    ):
        """If a (mis-configured) vacuum deletes a stage between staging
        and CAS, the transaction must raise and un-publish its manifest
        — never leave the log pointing at a missing dir."""
        import shutil as _shutil

        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks as sk

        t = str(tmp_path / "t")
        row = spark.createDataFrame([(1, 1)], "k int, v int")
        sk.committed_transaction(spark, t, lambda base: row)

        real_try_commit = sk.try_commit

        def sabotaging_try_commit(table_dir, manifest):
            _shutil.rmtree(os.path.join(table_dir, manifest["dir"]))
            return real_try_commit(table_dir, manifest)

        monkeypatch.setattr(sk, "try_commit", sabotaging_try_commit)
        row2 = spark.createDataFrame([(2, 2)], "k int, v int")
        with _pytest.raises(RuntimeError, match="vacuumed before commit"):
            sk.committed_transaction(spark, t, lambda base: base.unionByName(row2))
        monkeypatch.undo()

        # log is still consistent: one committed version, readable
        assert sk.current_commit(t)["version"] == 1
        assert sk.read_keyed_table(spark, t).count() == 1


class TestPartitionCounts:
    def test_metadata_only_when_fully_statted(self, spark, tmp_path):
        """A fully footer-scanned table answers per-partition counts
        with ZERO files opened; a stat-less entry is scanned (and only
        it); tombstones force the honest full-read path."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_partition_counts,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 3}", float(i)) for i in range(30)],
            "id long, k string, v double",
        )
        append_partition_transaction(spark, t, "k", df, stats_cols=["id"])
        counts = read_partition_counts(spark, t)
        assert counts.inputFiles() == []  # pure metadata answer
        assert {(r.k, r.n) for r in counts.collect()} == {
            ("k0", 10), ("k1", 10), ("k2", 10)
        }

        # a stat-less append: only the touched partition is scanned
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(100, "k0", 1.0)], "id long, k string, v double"),
        )
        counts2 = read_partition_counts(spark, t)
        files = counts2.inputFiles()
        assert files and all("k=k0" in f for f in files)
        assert {(r.k, r.n) for r in counts2.collect()} == {
            ("k0", 11), ("k1", 10), ("k2", 10)
        }

        # tombstones: manifest counts would overcount deleted rows —
        # the fallback full read keeps the answer honest
        tombstone_keys(
            spark, t, "id",
            spark.createDataFrame([(0,), (4,)], "id long"),
        )
        counts3 = read_partition_counts(spark, t)
        assert {(r.k, r.n) for r in counts3.collect()} == {
            ("k0", 10), ("k1", 9), ("k2", 10)
        }


class TestCheckConstraints:
    def test_constraints_gate_every_write(self, spark, tmp_path):
        """ADD CONSTRAINT validates existing data; after it, every
        write transaction enforces the checks before its CAS — a
        violating batch (including a NULL predicate result) publishes
        nothing and leaves no stage garbage; constraints survive
        appends, rewrites, and restores."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            ConstraintViolation,
            append_partition_transaction,
            committed_partition_transaction,
            current_commit,
            read_keyed_table,
            restore_table_version,
            set_table_constraints,
        )

        t = str(tmp_path / "t")
        ok_rows = spark.createDataFrame(
            [(1, "k0", 5.0), (2, "k1", 7.5)], "id long, k string, v double"
        )
        append_partition_transaction(spark, t, "k", ok_rows)
        v = set_table_constraints(spark, t, ["v > 0", "id IS NOT NULL"])
        assert current_commit(t)["version"] == v

        # adding a constraint the data violates refuses
        with pytest.raises(ConstraintViolation):
            set_table_constraints(spark, t, ["v > 6"])

        # a violating append publishes nothing
        before = current_commit(t)["version"]
        with pytest.raises(ConstraintViolation):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(3, "k0", -1.0)], "id long, k string, v double"),
            )
        assert current_commit(t)["version"] == before
        assert not [
            d for d in __import__("os").listdir(t)
            if d.startswith("data-")
            and d not in {
                m["dir"]
                for m in __import__(
                    "nshm2022db_spark.streaming.sinks", fromlist=["table_history"]
                ).table_history(t)
            }
        ]

        # NULL predicate result counts as a violation (strict CHECK)
        with pytest.raises(ConstraintViolation):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(4, "k0", None)], "id long, k string, v double"),
            )

        # a good append passes; the constraint carries forward
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(5, "k2", 1.0)], "id long, k string, v double"),
        )
        assert current_commit(t)["constraints"] == ["id IS NOT NULL", "v > 0"]

        # rewrite transactions are gated too
        with pytest.raises(ConstraintViolation):
            committed_partition_transaction(
                spark, t, "k",
                lambda base: base.withColumn("v", F.lit(-5.0)),
            )
        assert {r.id for r in read_keyed_table(spark, t).collect()} == {1, 2, 5}

        # restore keeps the constraint in the re-published manifest
        restore_table_version(t, v)
        assert current_commit(t)["constraints"] == ["id IS NOT NULL", "v > 0"]


class TestShallowClone:
    def test_clone_is_zero_copy_and_isolated(self, spark, tmp_path):
        """A shallow clone reads identically to its source version
        without copying a byte; afterwards each table evolves
        independently — appends to one never change the other."""
        import os as _os

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
            read_keyed_table,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}", float(i)) for i in range(20)],
            "id long, k string, v double",
        )
        append_partition_transaction(spark, src, "k", df, stats_cols=["id"])
        clone_table_shallow(src, dst)
        # zero copy: the clone dir holds no parquet of its own
        assert not [
            f
            for root, _, files in _os.walk(dst)
            for f in files
            if f.endswith(".parquet") or f.startswith("part-")
        ]
        same = lambda d: {  # noqa: E731
            (r.id, r.k, r.v) for r in read_keyed_table(spark, d).collect()
        }
        assert same(dst) == same(src) and len(same(src)) == 20

        # clone evolves independently of the source…
        append_partition_transaction(
            spark, dst, "k",
            spark.createDataFrame([(100, "k0", 1.0)], "id long, k string, v double"),
        )
        assert len(same(dst)) == 21 and len(same(src)) == 20
        # …and vice versa
        append_partition_transaction(
            spark, src, "k",
            spark.createDataFrame([(200, "k1", 2.0)], "id long, k string, v double"),
        )
        assert len(same(src)) == 21
        assert {r.id for r in read_keyed_table(spark, dst).collect()} == (
            set(range(20)) | {100}
        )

        # cloning a historical version time-travels the starting point
        old = str(tmp_path / "old")
        clone_table_shallow(src, old, version=1)
        assert len(same(old)) == 20

        # stats/constraints metadata rides along: the clone still
        # prunes on the carried manifest stats
        pruned = read_keyed_table(spark, old, prune={"id": (0, 0)})
        assert pruned.filter(F.col("id") == 0).count() == 1


class TestOperationHistory:
    def test_history_records_operations(self, spark, tmp_path):
        """DESCRIBE HISTORY parity: every commit carries its op tag, in
        order, across the whole mutation surface."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            compact_partition_table,
            restore_table_version,
            set_table_constraints,
            table_history,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}", float(i)) for i in range(40)],
            "id long, k string, v double",
        )
        for j in range(3):
            append_partition_transaction(
                spark, t, "k", df.filter(f"id % 3 = {j}")
            )
        compact_partition_table(spark, t, max_files_per_partition=1)
        set_table_constraints(spark, t, ["id >= 0"])
        tombstone_keys(
            spark, t, "id", spark.createDataFrame([(1,)], "id long")
        )
        restore_table_version(t, 4)
        assert [m.get("op") for m in table_history(t)] == [
            "append", "append", "append", "rewrite",
            "set-constraints", "delete", "restore",
        ]


class TestBloomTypeSafety:
    def test_probe_literal_type_never_false_negatives(self, spark, tmp_path):
        """An int probe against a DOUBLE bloom column (and a float probe
        against a LONG one) must cast through the recorded column type
        before hashing — probing the raw literal's string form would
        silently skip the partition that holds the value."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(float(i), i, f"k{i % 2}") for i in range(50)],
            "dv double, lv long, k string",
        )
        append_partition_transaction(
            spark, t, "k", df, bloom_cols=["dv", "lv"], bloom_bits=8192
        )
        spec = table_history(t)[-1]["bloom"]["k=k0"]
        assert spec["dv"]["t"] == "double" and spec["lv"]["t"] == "bigint"
        # int probe against the double column: 3 must find 3.0
        r = read_keyed_table(spark, t, prune={"dv": ("eq", 3)})
        assert r.filter(F.col("dv") == 3).count() == 1
        # float probe against the long column: 4.0 must find 4
        r = read_keyed_table(spark, t, prune={"lv": ("eq", 4.0)})
        assert r.filter(F.col("lv") == 4.0).count() == 1
        # an uncastable probe never prunes (and the filter matches 0)
        r = read_keyed_table(spark, t, prune={"lv": ("eq", "abc")})
        assert len(r.inputFiles()) > 0

    def test_legacy_format_sidecar_never_prunes(self, spark, tmp_path):
        """A bitmap persisted under an older hash-input format (no
        ``v`` stamp — pre signed-zero canonicalization) hashed keys
        under strings today's probe may not compute; the probe side
        must treat it as no-bloom rather than risk false-pruning the
        match's partition (ADVICE r14)."""
        from nshm2022db_spark.streaming.sinks import (
            _BLOOM_FORMAT,
            _bloom_may_contain,
            append_partition_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(40)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df, bloom_cols=["id"], bloom_bits=8192
        )
        sp = table_history(t)[-1]["bloom"]["k=k0"]["id"]
        assert sp["v"] == _BLOOM_FORMAT
        # current-format spec proves an absent key absent...
        assert _bloom_may_contain(spark, sp, 12345) is False
        assert _bloom_may_contain(spark, sp, 4) is True
        # ...but stripped of its format stamp (a pre-v2 writer's
        # sidecar) the same bitmap can never prune
        legacy = {k: v for k, v in sp.items() if k != "v"}
        assert _bloom_may_contain(spark, legacy, 12345) is True

    def test_bad_bloom_geometry_rejected_before_staging(
        self, spark, tmp_path
    ):
        """bloom_bits that can't byte-pack is rejected up front — no
        staged orphan, no commit."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
        )

        t = str(tmp_path / "t")
        with pytest.raises(ValueError, match="multiple of 8"):
            append_partition_transaction(
                spark, t, "k",
                spark.createDataFrame([(1, "a")], "id long, k string"),
                bloom_cols=["id"], bloom_bits=1001,
            )
        assert current_commit(t)["version"] == 0
        import os as _os

        assert not _os.path.isdir(t) or not [
            d for d in _os.listdir(t) if d.startswith("data-")
        ]

    def test_maintain_refuses_clone_and_untagged_sources(
        self, spark, tmp_path
    ):
        """A shallow-cloned source hides its base table behind an empty
        stage; an untagged commit could be anything — both refuse
        instead of silently under/over-counting."""
        import json as _json
        import os as _os

        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
            maintain_incremental_agg,
        )

        agg = lambda d: d.groupBy("k").agg(F.count(F.lit(1)).alias("n"))  # noqa: E731
        merge = lambda c, a: a if c is None else c.unionByName(a).groupBy(  # noqa: E731
            "k"
        ).agg(F.sum("n").alias("n"))

        src = str(tmp_path / "src")
        append_partition_transaction(
            spark, src, "k",
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"),
        )
        dst = str(tmp_path / "clone")
        clone_table_shallow(src, dst)
        append_partition_transaction(
            spark, dst, "k",
            spark.createDataFrame([(3, "a")], "id long, k string"),
        )
        with pytest.raises(ValueError, match="clone"):
            maintain_incremental_agg(
                spark, dst, str(tmp_path / "s1"), agg, merge
            )
        # untagged legacy commit: strip the op field in place
        log = _os.path.join(src, "_commits")
        name = sorted(_os.listdir(log))[0]
        p = _os.path.join(log, name)
        m = _json.load(open(p))
        del m["op"]
        tmp = p + ".tmp"
        _json.dump(m, open(tmp, "w"))
        _os.replace(tmp, p)
        with pytest.raises(ValueError, match="append-only"):
            maintain_incremental_agg(
                spark, src, str(tmp_path / "s2"), agg, merge
            )


class TestTombstoneSurvival:
    def test_tombstones_survive_evolution_and_migration(
        self, spark, tmp_path
    ):
        """A metadata-only spec change must not resurrect deleted rows:
        partition evolution and legacy migration both carry the
        outstanding deletion vectors forward."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            evolve_partition_column,
            migrate_legacy_layouts,
            read_keyed_table,
            tombstone_keys,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}", f"g{i % 3}") for i in range(12)],
            "id long, k string, g string",
        )
        append_partition_transaction(spark, t, "k", df)
        tombstone_keys(
            spark, t, "id", spark.createDataFrame([(0,), (5,)], "id long")
        )
        assert read_keyed_table(spark, t).count() == 10
        evolve_partition_column(spark, t, "g")
        assert read_keyed_table(spark, t).count() == 10  # still hidden
        migrate_legacy_layouts(spark, t)
        got = {r.id for r in read_keyed_table(spark, t).collect()}
        assert got == set(range(12)) - {0, 5}

    def test_as_of_unknowable_on_untimed_manifests(self, spark, tmp_path):
        """Manifests without a publish timestamp can never RESOLVE a
        TIMESTAMP AS OF — a pre-creation instant must answer None, not
        current data."""
        import json as _json
        import os as _os

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            resolve_version_as_of,
        )

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(1, "a")], "id long, k string"),
        )
        log = _os.path.join(t, "_commits")
        for name in _os.listdir(log):
            if not name.endswith(".json") or "checkpoint" in name:
                continue
            p = _os.path.join(log, name)
            m = _json.load(open(p))
            m.pop("committed_at", None)
            tmp = p + ".tmp"
            _json.dump(m, open(tmp, "w"))
            _os.replace(tmp, p)
        assert resolve_version_as_of(t, 0.0) is None
        assert resolve_version_as_of(t, 9e12) is None


class TestVacuumCloneSafety:
    def test_vacuum_on_clone_never_touches_source(self, spark, tmp_path):
        """Retention vacuum on a shallow clone must not reach through
        the clone's absolute references and delete the SOURCE table's
        committed data."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
            committed_partition_transaction,
            read_keyed_table,
            vacuum_versions,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(10)], "id long, k string"
        )
        append_partition_transaction(spark, src, "k", df)
        clone_table_shallow(src, dst)
        # rewrite the clone so its head no longer references the source
        committed_partition_transaction(
            spark, dst, "k", lambda base: base.filter("id < 5")
        )
        out = vacuum_versions(dst, keep_last=1)
        assert all("/" not in d for d in out["dirs"])
        # the source is fully intact
        assert read_keyed_table(spark, src).count() == 10

    def test_clone_refuses_nonempty_target(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            clone_table_shallow,
        )

        src = str(tmp_path / "src")
        other = str(tmp_path / "other")
        df = spark.createDataFrame([(1, "a")], "id long, k string")
        append_partition_transaction(spark, src, "k", df)
        append_partition_transaction(spark, other, "k", df)
        with pytest.raises(ValueError, match="not an empty table"):
            clone_table_shallow(src, other)

    def test_restore_refuses_vacuumed_target(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            restore_table_version,
            table_history,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(6)], "id long, k string"
        )
        append_partition_transaction(spark, t, "k", df)
        committed_partition_transaction(
            spark, t, "k", lambda base: base.filter("id < 3")
        )
        committed_partition_transaction(
            spark, t, "k", lambda base: base.filter("id < 2")
        )
        vacuum_versions(t, keep_last=1)
        # v1's data dirs are gone along with its manifest; restoring a
        # REMAINING version whose dirs were vacuumed must refuse
        remaining = [m["version"] for m in table_history(t)]
        assert remaining == [3]
        with pytest.raises(ValueError):
            restore_table_version(t, 1)


class TestUncoveredStatsMerge:
    def test_uncovered_column_never_carries_stale_bounds(
        self, spark, tmp_path
    ):
        """A generation whose footer lacks min/max for a column (foreign
        writer) must DROP the entry's bounds on merge — carrying the old
        bounds forward would let range pruning skip rows the bounds
        never covered."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming.sinks import (
            _collect_stage_stats,
        )

        d = tmp_path / "stage" / "k=a"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"x": [500, 600]}),
            str(d / "foreign.parquet"),
            write_statistics=False,
        )
        stats = _collect_stage_stats(
            str(tmp_path / "stage"), {"k=a"}, ["x"]
        )
        # no bounds published at all: absent = never pruned, and the
        # append merge drops the column instead of keeping old bounds
        assert "x" not in stats["k=a"]["cols"]
        assert stats["k=a"]["n"] == 2


class TestAppendRebase:
    """CAS losers re-manifest their immutable stage when every
    intervening commit is provably disjoint (Delta-style logical
    conflict resolution) — the batch is written ONCE no matter how the
    race resolves; a logical conflict (same entry touched) falls back
    to the full optimistic re-run."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 900, 901, "seed")
        )

    def test_disjoint_loser_rebases_without_recompute(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        calls = []

        cls = type(spark.range(1))
        orig_write = cls.write
        n_stages = [0]

        def counting_write(df):
            n_stages[0] += 1
            return orig_write.fget(df)

        def audit(staged):
            # the audit runs AFTER staging, BEFORE the CAS — landing the
            # winner here makes the loser's first CAS fail
            # deterministically.
            calls.append(1)
            if len(calls) == 1:
                append_partition_transaction(
                    spark, d, "day",
                    self._batch(spark, 0, 4, "2024-01-01"),
                    stats_cols=["k"],
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            append_partition_transaction(
                spark, d, "day", self._batch(spark, 10, 14, "2024-01-02"),
                stats_cols=["k"], audit=audit,
            )
        # staged exactly once (the winner's write is the second): a
        # rebase, not a re-run — but the audit re-ran on the rebase
        # attempt against the post-winner base (r9: table-state
        # invariants must hold on the actual publish base)
        assert n_stages[0] == 2  # loser's stage + winner's stage
        assert calls == [1, 1]
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + winner + rebased loser
        got = read_keyed_table(spark, d)
        assert {(r.k, r.day) for r in got.collect() if r.day != "seed"} == (
            {(k, "2024-01-01") for k in range(0, 4)}
            | {(k, "2024-01-02") for k in range(10, 14)}
        )
        # the rebased manifest carries BOTH sides' stats bounds
        st = cur["stats"]
        assert st["day=2024-01-01"]["cols"]["k"] == [0, 3]
        assert st["day=2024-01-02"]["cols"]["k"] == [10, 13]

    def test_same_partition_conflict_reruns(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                append_partition_transaction(
                    spark, d, "day",
                    self._batch(spark, 0, 4, "2024-01-01"),
                )
            return True

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 10, 14, "2024-01-01"),
            audit=audit,
        )
        # same entry touched by the winner: the loser must re-run (and
        # re-audit) against the new base — rebasing would merge against
        # a stale per-entry state
        assert calls == [1, 1]
        got = read_keyed_table(spark, d)
        assert sorted(
            r.k for r in got.collect() if r.day == "2024-01-01"
        ) == [0, 1, 2, 3, 10, 11, 12, 13]
        assert current_commit(d)["version"] == 3

    def test_rebase_rerunning_audit_can_reject(self, spark, tmp_path):
        """A table-state-dependent audit that passed against the
        pre-race base must get a second look on rebase: here it
        rejects once the winner's rows exist, so the loser's stage is
        never published (and does not leak) even though the commits
        are disjoint."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            AuditError,
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)

        def audit(staged):
            # table-wide invariant: total row count stays under 4 —
            # true when the loser audits against the pre-race table,
            # false after the winner's 4 rows land
            n = read_keyed_table(spark, d).count()
            if n < 4:
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 0, 4, "2024-01-01")
                )
                return True
            return False

        with pytest.raises(AuditError, match="rebased"):
            append_partition_transaction(
                spark, d, "day", self._batch(spark, 10, 14, "2024-01-02"),
                audit=audit,
            )
        cur = current_commit(d)
        assert cur["version"] == 2  # seed + winner only
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day != "seed") == [0, 1, 2, 3]

    def test_retry_revalidates_against_latest_head(self, spark, tmp_path):
        """ADVICE r08 (TOCTOU): a commit landing BETWEEN the failed CAS
        and the retry's manifest rebuild must still be conflict-checked
        before the kept stage publishes. Here a constraint change lands
        exactly at the retry's head read: the loser must discard its
        stage, re-stage against the new base, and enforce the new
        constraint — publishing the stale stage would be a constraint
        bypass under concurrent-writer load."""
        import pytest

        import nshm2022db_spark.streaming.sinks as sinks
        from nshm2022db_spark.streaming.sinks import (
            ConstraintViolation,
            append_partition_transaction,
            current_commit,
            read_keyed_table,
            set_table_constraints,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        state = {"audit_done": False, "injected": False, "in_inject": False}

        def audit(staged):
            if not state["audit_done"]:
                # land a DISJOINT winner so the loser's first CAS fails
                # and it enters the rebase retry with a kept stage
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 0, 4, "2024-01-01")
                )
                state["audit_done"] = True
            return True

        real_cc = sinks.current_commit

        def injecting_cc(table_dir):
            # fire ONCE, on the retry's own head read — after the failed
            # CAS already conflict-checked nothing (the fix moves all
            # validation to this read)
            if (
                state["audit_done"]
                and not state["injected"]
                and not state["in_inject"]
            ):
                state["in_inject"] = True
                try:
                    set_table_constraints(
                        spark, d, ["k < 200 OR day = 'seed'"]
                    )
                finally:
                    state["injected"] = True
                    state["in_inject"] = False
            return real_cc(table_dir)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks, "current_commit", injecting_cc)
            with pytest.raises(ConstraintViolation):
                # k in [300, 305) violates the injected constraint: the
                # retry must re-stage and enforce, never publish stale
                append_partition_transaction(
                    spark, d, "day",
                    self._batch(spark, 300, 305, "2024-01-02"),
                    audit=audit,
                )
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + winner + set-constraints
        assert cur["constraints"] == ["k < 200 OR day = 'seed'"]
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day != "seed") == [0, 1, 2, 3]
        # no unpublished stage leaked
        import os as _os

        live = set()
        for m in cur["partitions"].values():
            live |= set(m) if isinstance(m, list) else {m}
        stray = [
            n
            for n in _os.listdir(d)
            if n.startswith("data-")
            and n not in live
            and _os.listdir(_os.path.join(d, n))
        ]
        assert not stray, f"leaked non-empty stages: {stray}"

class TestOverwritePartition:
    """INSERT OVERWRITE / replaceWhere (VERDICT r08 stretch #8): replace
    semantics both modes, predicate containment, deletion of listed
    values, time travel, replay idempotence, and the race contracts —
    disjoint concurrent appends rebase, an append INTO a replaced
    partition is a real conflict and re-runs."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 3, "a")
            .union(self._batch(spark, 10, 13, "b"))
            .union(self._batch(spark, 20, 23, "c")),
            stats_cols=["k"],
        )

    def test_dynamic_overwrite_replaces_present_partitions_only(
        self, spark, tmp_path
    ):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a"),
            stats_cols=["k"],
        )
        got = {(r.k, r.day) for r in read_keyed_table(spark, d).collect()}
        assert got == (
            {(100, "a"), (101, "a")}
            | {(k, "b") for k in range(10, 13)}
            | {(k, "c") for k in range(20, 23)}
        )
        cur = current_commit(d)
        assert cur["op"] == "overwrite"
        # stats REPLACED for 'a', carried for others
        assert cur["stats"]["day=a"]["cols"]["k"] == [100, 101]
        assert cur["stats"]["day=b"]["cols"]["k"] == [10, 12]
        # time travel still serves the pre-overwrite state
        old = read_keyed_table(spark, d, version=1)
        assert sorted(r.k for r in old.collect() if r.day == "a") == [0, 1, 2]

    def test_replace_where_deletes_listed_empty_and_enforces_containment(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match="outside replace_where"):
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "b"),
                replace_where=["a"],
            )
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a"),
            replace_where=["a", "c"],  # c listed, no rows: full delete
        )
        got = {(r.k, r.day) for r in read_keyed_table(spark, d).collect()}
        assert got == (
            {(100, "a"), (101, "a")} | {(k, "b") for k in range(10, 13)}
        )

    def test_deletion_only_overwrite_still_runs_audit(self, spark, tmp_path):
        """ADVICE r09: a deletion-only replaceWhere batch (listed
        values, zero staged rows) must still run the WAP audit — an
        audited pipeline must not be able to delete partitions
        un-audited. The audit sees an empty frame in the batch's
        schema; rejecting it aborts with nothing deleted."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            AuditError,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        empty = self._batch(spark, 0, 0, "a")
        seen = {}

        def audit(staged):
            seen["n"] = staged.count()
            seen["cols"] = set(staged.columns)
            return False

        with pytest.raises(AuditError):
            overwrite_partition_transaction(
                spark, d, "day", empty, replace_where=["a"], audit=audit
            )
        assert seen == {"n": 0, "cols": {"k", "v", "day"}}
        days = {r.day for r in read_keyed_table(spark, d).collect()}
        assert "a" in days  # rejected: nothing was deleted
        # an approving audit lets the deletion publish
        overwrite_partition_transaction(
            spark, d, "day", empty, replace_where=["a"],
            audit=lambda s: s.count() == 0,
        )
        days = {r.day for r in read_keyed_table(spark, d).collect()}
        assert "a" not in days

    def test_overwrite_batch_id_replay_noop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        for _ in range(2):
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "a"),
                batch_id=7,
            )
        assert current_commit(d)["version"] == 2  # second call no-ops
        assert sorted(
            r.k
            for r in read_keyed_table(spark, d).collect()
            if r.day == "a"
        ) == [100, 101]

    def test_disjoint_concurrent_append_rebases_overwrite(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        cls = type(spark.range(1))
        orig = cls.write
        n_stages = [0]

        def counting_write(df):
            n_stages[0] += 1
            return orig.fget(df)

        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                # land a winner appending to UNTOUCHED partition 'b'
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 50, 52, "b")
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "a"),
                audit=audit,
            )
        # overwrite staged ONCE (second write is the winner's):
        # a rebase, with the audit re-run on the rebase attempt
        assert n_stages[0] == 2
        assert calls == [1, 1]
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + append + rebased overwrite
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]
        assert sorted(r.k for r in got if r.day == "b") == [
            10, 11, 12, 50, 51,
        ]

    def test_append_into_replaced_partition_conflicts_and_reruns(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        cls = type(spark.range(1))
        orig = cls.write
        n_stages = [0]

        def counting_write(df):
            n_stages[0] += 1
            return orig.fget(df)

        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                # a concurrent append INTO the partition being replaced —
                # rebasing would silently erase it without either writer
                # ever seeing the other
                append_partition_transaction(
                    spark, d, "day", self._batch(spark, 50, 52, "a")
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            overwrite_partition_transaction(
                spark, d, "day", self._batch(spark, 100, 102, "a"),
                audit=audit,
            )
        # real conflict: the overwrite re-staged (3 writes total) and
        # re-audited against the post-append base
        assert n_stages[0] == 3
        assert calls == [1, 1]
        cur = current_commit(d)
        assert cur["version"] == 3
        got = read_keyed_table(spark, d).collect()
        # the retried overwrite's content wins — the append is replaced
        # KNOWINGLY (the re-run read the post-append head), Delta's
        # retry-after-ConcurrentAppendException semantics
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]

    def test_appender_rerun_after_published_overwrite(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        calls = []

        def audit(staged):
            calls.append(1)
            if len(calls) == 1:
                # a non-append op lands mid-race: the appender must NOT
                # rebase across it (op tag barrier) — full re-run
                overwrite_partition_transaction(
                    spark, d, "day", self._batch(spark, 100, 102, "a")
                )
            return True

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 50, 52, "b"), audit=audit
        )
        assert calls == [1, 1]  # re-staged + re-audited: no rebase
        assert current_commit(d)["version"] == 3
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]
        assert sorted(r.k for r in got if r.day == "b") == [
            10, 11, 12, 50, 51,
        ]

    def test_vacuum_reclaims_replaced_dirs(self, spark, tmp_path):
        """Retention after an overwrite: the replaced partition's old
        dir is referenced ONLY by pre-overwrite manifests, so once
        those drop out of the retention window the dir is reclaimed —
        while dirs the overwrite carried forward (untouched partitions)
        survive because the retained manifest still references them."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            overwrite_partition_transaction,
            read_keyed_table,
            vacuum_versions,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # v1: days a/b/c in one seed dir
        seed_dir = current_commit(d)["partitions"]["day=a"]
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )  # v2: day=a replaced; b/c still point at the seed dir
        rep = vacuum_versions(d, keep_last=1)
        # the seed dir is STILL referenced by v2 (days b/c carry
        # forward) — vacuum must not reclaim it
        assert seed_dir not in rep["dirs"]
        assert os.path.isdir(os.path.join(d, seed_dir))
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day == "a") == [100, 101]
        assert sorted(r.k for r in got if r.day == "b") == [10, 11, 12]
        # now overwrite b and c too: the seed dir becomes unreferenced
        # by every retained manifest and IS reclaimed
        overwrite_partition_transaction(
            spark, d, "day",
            self._batch(spark, 200, 202, "b").union(
                self._batch(spark, 300, 302, "c")
            ),
        )
        rep2 = vacuum_versions(d, keep_last=1)
        assert seed_dir in rep2["dirs"]
        assert not os.path.isdir(os.path.join(d, seed_dir))
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got) == [100, 101, 200, 201, 300, 301]

    def test_legacy_layouts_refuse_overwrite(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            evolve_partition_column,
            overwrite_partition_transaction,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        evolve_partition_column(spark, d, "k")
        with pytest.raises(ValueError, match="legacy"):
            overwrite_partition_transaction(
                spark, d, "k", self._batch(spark, 100, 102, "a")
            )


class TestAppendRebaseRace:
    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day", self._batch(spark, 900, 901, "seed")
        )

    def test_8_thread_disjoint_race_stages_each_batch_once(
        self, spark, tmp_path
    ):
        import threading

        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        cls = type(spark.range(1))
        orig = cls.write
        n_stages = [0]
        lock = threading.Lock()

        def counting_write(df):
            with lock:
                n_stages[0] += 1
            return orig.fget(df)

        barrier = threading.Barrier(8)
        errs = []

        def worker(i):
            try:
                df = self._batch(spark, i * 10, i * 10 + 5, f"day-{i}")
                barrier.wait()
                append_partition_transaction(
                    spark, d, "day", df, stats_cols=["k"]
                )
            except Exception as e:  # pragma: no cover - diagnostic
                errs.append(e)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, "write", property(counting_write))
            ts = [
                threading.Thread(target=worker, args=(i,)) for i in range(8)
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
        assert not errs
        # disjoint partitions: every CAS loser rebases its immutable
        # stage — 8 writers, exactly 8 stage writes, zero re-runs
        assert n_stages[0] == 8
        cur = current_commit(d)
        assert cur["version"] == 9  # seed + 8 racing commits, none lost
        got = read_keyed_table(spark, d).collect()
        assert sorted(r.k for r in got if r.day != "seed") == sorted(
            k for i in range(8) for k in range(i * 10, i * 10 + 5)
        )
        # stats survived every rebase re-merge
        for i in range(8):
            assert cur["stats"][f"day=day-{i}"]["cols"]["k"] == [
                i * 10, i * 10 + 4,
            ]


class TestTypedChangeFeed:
    """read_table_changes_typed: Delta CDF's _change_type surface over
    the commit log — insert/delete image pairing, tombstone delete
    reconstruction, metadata-only transparency, and the refusals."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def test_append_only_matches_untyped_feed(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        typed = read_table_changes_typed(spark, d, 0)
        assert {r._change_type for r in typed.collect()} == {"insert"}
        untyped = read_table_changes(spark, d, 0)
        a = sorted((r.k, r._commit_version) for r in typed.collect())
        b = sorted((r.k, r._commit_version) for r in untyped.collect())
        assert a == b

    def test_overwrite_emits_upsert_image_pair(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            overwrite_partition_transaction,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 3, "a").union(self._batch(spark, 10, 13, "b")),
        )
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        ins = sorted(r.k for r in rows if r._change_type == "insert")
        dels = sorted(r.k for r in rows if r._change_type == "delete")
        assert ins == [100, 101]  # the new content of the touched entry
        assert dels == [0, 1, 2]  # its prior content; 'b' never appears
        assert {r._commit_version for r in rows} == {2}

    def test_tombstone_emits_prior_version_delete_images(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 6, "a"))
        tombstone_keys(
            spark, d, "k", spark.range(2, 4).select(F.col("id").alias("k"))
        )
        # a SECOND tombstone must not re-delete already-hidden rows
        tombstone_keys(
            spark, d, "k", spark.range(3, 5).select(F.col("id").alias("k"))
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        v2 = sorted(r.k for r in rows if r._commit_version == 2)
        v3 = sorted(r.k for r in rows if r._commit_version == 3)
        assert v2 == [2, 3]
        assert v3 == [4]  # 3 was already tombstoned at v2 — no re-delete
        assert {r._change_type for r in rows} == {"delete"}

    def test_metadata_only_commits_emit_nothing(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            set_table_constraints,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        set_table_constraints(spark, d, ["k >= 0"])
        rows = read_table_changes_typed(spark, d, 1)
        assert rows is None  # the only in-range commit moved no rows

    def test_overwrite_images_respect_prior_tombstones(self, spark, tmp_path):
        """r9 review #1: images are STATE diffs — a row hidden by a
        version's tombstones is not part of that state, so an overwrite
        after a tombstone must not re-emit the hidden rows as deletes
        (a folding consumer would double-subtract them)."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            overwrite_partition_transaction,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 6, "a"))
        tombstone_keys(
            spark, d, "k", spark.range(2, 4).select(F.col("id").alias("k"))
        )
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )
        rows = read_table_changes_typed(spark, d, 2).collect()
        dels = sorted(r.k for r in rows if r._change_type == "delete")
        ins = sorted(r.k for r in rows if r._change_type == "insert")
        assert dels == [0, 1, 4, 5]  # 2, 3 were hidden at v2 — no re-delete
        assert ins == [100, 101]

    def test_vacuumed_diff_base_raises(self, spark, tmp_path):
        """r9 review #2: a vacuumed manifest one version BELOW the range
        must raise like an in-range vacuum — defaulting it to an empty
        table would emit the whole table as inserts."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            overwrite_partition_transaction,
            read_table_changes_typed,
            vacuum_versions,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        overwrite_partition_transaction(
            spark, d, "day", self._batch(spark, 100, 102, "a")
        )
        vacuum_versions(d, keep_last=1)  # only v3 retained
        with pytest.raises(ValueError, match="diff base"):
            read_table_changes_typed(spark, d, 2)

    def test_vacuumed_diff_base_ok_when_range_is_appends(self, spark, tmp_path):
        """ADVICE r09: only overwrite/rewrite/delete commits diff
        against v-1 — a from_version just below the retention horizon
        must NOT fail when every in-range commit is a plain append
        (its inserts are its own stage)."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            vacuum_versions,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 6, 9, "c"))
        vacuum_versions(d, keep_last=2)  # v1 dropped; v2's diff base gone
        rows = read_table_changes_typed(spark, d, 1).collect()
        assert sorted(r.k for r in rows) == [3, 4, 5, 6, 7, 8]
        assert {r._change_type for r in rows} == {"insert"}

    def test_commit_timestamp_from_manifest(self, spark, tmp_path):
        """_commit_timestamp mirrors the manifest's committed_at
        publish wall-clock (Delta CDF's metadata column — ADVICE r09)
        on every image family, including tombstone delete images."""
        import datetime

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            table_history,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 4, "a"))
        tombstone_keys(
            spark, d, "k", spark.range(1, 3).select(F.col("id").alias("k"))
        )
        at = {m["version"]: m["committed_at"] for m in table_history(d)}
        for r in read_table_changes_typed(spark, d, 0).collect():
            want = datetime.datetime.fromtimestamp(
                at[r._commit_version], datetime.timezone.utc
            ).replace(tzinfo=None)
            assert abs((r._commit_timestamp - want).total_seconds()) < 1e-3

    def test_apply_typed_changes_reconstructs_head(self, spark, tmp_path):
        """CDC APPLY (r10): folding EVERY typed image over a mixed
        append/overwrite/tombstone/merge history — including duplicate
        physical rows, whose multiplicity the multiset fold must
        preserve — reconstructs exactly the head state."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            apply_typed_changes,
            merge_into_table,
            overwrite_partition_transaction,
            read_keyed_table,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        dup = self._batch(spark, 50, 51, "b")  # duplicated row, survives
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 8, "a").union(dup).union(dup),
        )
        overwrite_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 8, "a").filter("k % 2 = 0"),
            replace_where=["a"],
        )
        tombstone_keys(
            spark, d, "k", spark.range(0, 3).select(F.col("id").alias("k"))
        )
        merge_into_table(
            spark, d,
            spark.range(2, 5).select(
                F.col("id").alias("k"), (F.col("id") * 9.0).alias("nv")
            ),
            ["k"],
            when_matched_delete="t.v > 7",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'n'"},
        )
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted(
            (r.k, r.v, r.day) for r in replica.collect()
        ) == sorted((r.k, r.v, r.day) for r in head.collect())
        # the duplicate row kept its multiplicity through the fold
        assert replica.filter("k = 50").count() == 2

    def test_restore_and_untagged_raise(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes_typed,
            restore_table_version,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(spark, d, "day", self._batch(spark, 0, 3, "a"))
        append_partition_transaction(spark, d, "day", self._batch(spark, 3, 6, "b"))
        restore_table_version(d, 1)
        with pytest.raises(ValueError, match="row images"):
            read_table_changes_typed(spark, d, 0)
        # ranges that stop before the restore still read fine
        assert read_table_changes_typed(spark, d, 0, to_version=2).count() == 6


class TestMergeIntoTable:
    """Conditional multi-clause MERGE INTO (VERDICT r09 #1): the full
    Delta MERGE surface as one commit — clause matrix, dup-source
    error, touched-partition economics (carry / tombstone / extend /
    rewrite), DV resurrection, replay idempotence, the race contracts,
    and the typed change feed over merge commits."""

    def _batch(self, spark, lo, hi, day):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(day).alias("day"),
        )

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 0, 5, "a")
            .union(self._batch(spark, 10, 15, "b"))
            .union(self._batch(spark, 20, 25, "c")),
            stats_cols=["k"],
        )

    def _src(self, spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 100.0).alias("nv")
        )

    def test_clause_matrix_and_partition_economics(self, spark, tmp_path):
        """All three clause families in one merge, plus the cost
        contracts: an untouched (stats-pruned) partition keeps its
        mapping; a delete-only partition is TOMBSTONED, not rewritten;
        inserts create a new entry; updated partitions rewrite."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = merge_into_table(
            spark, d, self._src(spark, 3, 12), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > t.v + 500",
            when_matched_delete="t.v < 8",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'n'"},
            when_not_matched_insert_condition="s.nv >= 500",
        )
        # matched: k=3 (del: v=6<8), k=4 (carry), k=10, 11 (update);
        # unmatched source 5..9 insert into new partition 'n'
        assert (m["updated"], m["deleted"], m["inserted"]) == (2, 1, 5)
        cur = current_commit(d)
        assert cur["version"] == 2 and cur["op"] == "merge"
        # c: outside source key range -> mapping carried byte-identical
        assert cur["partitions"]["day=c"] == before["day=c"]
        # a: only change is a whole-key delete -> tombstoned, not
        # rewritten (the deletion-vector trade)
        assert cur["partitions"]["day=a"] == before["day=a"]
        assert cur.get("dv") and cur["dv_key"] == "k"
        # b rewritten, n created
        assert cur["partitions"]["day=b"] != before["day=b"]
        assert "day=n" in cur["partitions"]
        got = sorted(
            (r.k, r.v, r.day) for r in read_keyed_table(spark, d).collect()
        )
        assert got == (
            [(0, 0.0, "a"), (1, 2.0, "a"), (2, 4.0, "a"), (4, 8.0, "a")]
            + [(5, 500.0, "n"), (6, 600.0, "n"), (7, 700.0, "n"),
               (8, 800.0, "n"), (9, 900.0, "n")]
            + [(10, 1000.0, "b"), (11, 1100.0, "b"), (12, 24.0, "b"),
               (13, 26.0, "b"), (14, 28.0, "b")]
            + [(20, 40.0, "c"), (21, 42.0, "c"), (22, 44.0, "c"),
               (23, 46.0, "c"), (24, 48.0, "c")]
        )

    def test_by_source_clauses(self, spark, tmp_path):
        """NOT MATCHED BY SOURCE update + delete (forces a full scan):
        unmatched target rows age out or flag."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 0, 3), ["k"],
            when_matched_update={"v": "t.v + s.nv"},
            when_not_matched_by_source_update={"v": "-1.0"},
            when_not_matched_by_source_update_condition="t.day = 'b'",
            when_not_matched_by_source_delete="t.day = 'c'",
        )
        assert m["deleted"] == 5  # all of c
        assert m["updated"] == 3 + 5  # matched 0..2 + all of b flagged
        got = {(r.k, r.v, r.day) for r in read_keyed_table(spark, d).collect()}
        assert {r for r in got if r[2] == "c"} == set()
        assert all(v == -1.0 for _, v, day in got if day == "b")
        assert (1, 102.0, "a") in got  # 2.0 + 100.0

    def test_multiple_matched_sources_raise(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        self._seed(spark, d)
        dup = self._src(spark, 3, 5).union(self._src(spark, 4, 6))
        with pytest.raises(Exception, match="multiple source rows"):
            merge_into_table(
                spark, d, dup, ["k"],
                when_matched_update={"v": "s.nv"},
            )
        # unmatched duplicate source keys each insert (Delta semantics)
        from nshm2022db_spark.streaming.sinks import read_keyed_table

        dup_unmatched = (
            self._src(spark, 50, 51).union(self._src(spark, 50, 51))
        )
        merge_into_table(
            spark, d, dup_unmatched, ["k"],
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'x'"},
        )
        assert (
            read_keyed_table(spark, d).filter("day = 'x'").count() == 2
        )

    def test_null_keys_never_match(self, spark, tmp_path):
        """SQL equality: a NULL source key matches nothing (insert
        clause applies); NULL target keys are untouched by matched
        clauses."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        src = spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS k, 999.0 AS nv"
        )
        m = merge_into_table(
            spark, d, src, ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'z'"},
        )
        assert (m["updated"], m["inserted"]) == (0, 1)
        z = read_keyed_table(spark, d).filter("day = 'z'").collect()
        assert len(z) == 1 and z[0].k is None

    def test_partition_moving_update(self, spark, tmp_path):
        """An UPDATE that changes the partition column rewrites BOTH
        the departure and arrival partitions; key tombstones are not
        involved (they would hide the arrived row too)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 3, 4), ["k"],
            when_matched_update={"v": "s.nv", "day": "'b'"},  # a -> b
        )
        assert m["updated"] == 1
        cur = current_commit(d)
        assert not cur.get("dv")
        got = read_keyed_table(spark, d)
        assert got.filter("k = 3").collect()[0].day == "b"
        assert got.filter("day = 'a'").count() == 4
        assert got.filter("day = 'b'").count() == 6

    def test_reinsert_clears_tombstone(self, spark, tmp_path):
        """A key hidden by a deletion vector is NOT MATCHED; inserting
        it must consolidate the DV minus that key or the old tombstone
        would hide the new row."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.range(1, 3).select(F.col("id").alias("k"))
        )
        assert read_keyed_table(spark, d).filter("k = 1").count() == 0
        m = merge_into_table(
            spark, d, self._src(spark, 1, 2), ["k"],
            when_matched_update={"v": "s.nv"},  # k=1 hidden -> NOT matched
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
        )
        assert (m["updated"], m["inserted"]) == (0, 1)
        got = read_keyed_table(spark, d)
        assert got.filter("k = 1").collect()[0].v == 100.0
        assert got.filter("k = 2").count() == 0  # other tombstone survives
        assert len(current_commit(d)["dv"]) == 1  # consolidated

    def test_merge_key_vs_dv_key_mismatch_raises(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.range(1, 2).select(F.col("id").alias("k"))
        )
        with pytest.raises(ValueError, match="deletion vectors"):
            merge_into_table(
                spark, d,
                self._src(spark, 0, 1).withColumn("v", F.col("nv")),
                ["k", "v"],
                when_matched_update={"v": "s.nv"},
            )

    def test_batch_id_replay_noop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        for _ in range(2):
            m = merge_into_table(
                spark, d, self._src(spark, 3, 4), ["k"],
                when_matched_update={"v": "s.nv"},
                batch_id=42,
            )
        assert m.get("replayed") is True
        assert current_commit(d)["version"] == 2

    def test_noop_merge_publishes_nothing(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv < t.v",  # never true
        )
        # carried = every row of the one scanned partition (a; b and c
        # prune on the source key bounds 3..4)
        assert m == {
            "version": 1, "updated": 0, "deleted": 0, "inserted": 0,
            "carried": 5,
        }
        assert current_commit(d)["version"] == 1

    def test_disjoint_concurrent_append_rebases_over_merge(
        self, spark, tmp_path
    ):
        """VERDICT r09 #1 race contract: an append racing a merge that
        commits first REBASES when its partitions are disjoint from
        everything the merge touched (op 'merge' is rebase-transparent
        like an append) — the append's batch stages exactly once."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        batch = self._batch(spark, 50, 52, "c")
        # count STAGE attempts of this batch via _to_physical_batch —
        # the append's stage-write pipeline is the only caller that
        # receives the batch object (counting DataFrame.write by
        # identity broke when the stage write gained its hash
        # distribution wrapper)
        import nshm2022db_spark.streaming.sinks as sinks_mod

        orig_tpb = sinks_mod._to_physical_batch
        batch_writes = [0]

        def counting_tpb(df, manifest):
            if df is batch:
                batch_writes[0] += 1
            return orig_tpb(df, manifest)

        def audit(staged):
            if batch_writes[0] == 1 and current_commit(d)["version"] == 1:
                # land a merge updating partition 'b' (disjoint from 'c';
                # no delete clause, so the dv stays unchanged)
                merge_into_table(
                    spark, d, self._src(spark, 10, 12), ["k"],
                    when_matched_update={"v": "s.nv"},
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks_mod, "_to_physical_batch", counting_tpb)
            append_partition_transaction(
                spark, d, "day", batch, audit=audit
            )
        assert batch_writes[0] == 1  # rebased, never re-staged
        cur = current_commit(d)
        assert cur["version"] == 3  # seed + merge + rebased append
        got = read_keyed_table(spark, d)
        assert got.filter("day = 'c'").count() == 7
        assert got.filter("k = 10").collect()[0].v == 1000.0

    def test_append_into_merged_partition_conflicts_and_reruns(
        self, spark, tmp_path
    ):
        """The same race with OVERLAP: the merge rewrote the entry the
        append targets, so the append's stage is discarded and the
        whole transaction re-runs (stages twice)."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        batch = self._batch(spark, 50, 52, "b")
        # stage attempts counted via _to_physical_batch, as in the
        # disjoint-rebase test above
        import nshm2022db_spark.streaming.sinks as sinks_mod

        orig_tpb = sinks_mod._to_physical_batch
        batch_writes = [0]

        def counting_tpb(df, manifest):
            if df is batch:
                batch_writes[0] += 1
            return orig_tpb(df, manifest)

        def audit(staged):
            if batch_writes[0] == 1 and current_commit(d)["version"] == 1:
                merge_into_table(
                    spark, d, self._src(spark, 10, 12), ["k"],
                    when_matched_update={"v": "s.nv"},
                )
            return True

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(sinks_mod, "_to_physical_batch", counting_tpb)
            append_partition_transaction(
                spark, d, "day", batch, audit=audit
            )
        assert batch_writes[0] == 2  # conflict: full optimistic re-run
        got = read_keyed_table(spark, d)
        # both the merge's update and the append's rows survive
        assert got.filter("k = 10").collect()[0].v == 1000.0
        assert sorted(
            r.k for r in got.filter("day = 'b'").collect()
        ) == [10, 11, 12, 13, 14, 50, 51]

    def test_typed_feed_over_merge(self, spark, tmp_path):
        """The typed change feed over a merge commit WITH the CDC
        sidecar (the r11 default — Delta's _change_data): exact
        row-level images — updates as update_preimage/update_postimage
        PAIRS, deletes as before-images, inserts as after-images,
        carried rows ABSENT — and a later re-insert consolidation
        emits only its insert (nothing re-deleted, no purge noise)."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        # v2: k=3 deletes (tombstone), k=10/11 update (rewrite b),
        # 5..9 insert into pruned c (generation extension)
        merge_into_table(
            spark, d, self._src(spark, 3, 12), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > t.v + 500",
            when_matched_delete="t.v < 8",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'c'"},
            when_not_matched_insert_condition="s.nv >= 500",
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        by = {}
        for r in rows:
            by.setdefault(r._change_type, []).append((r.k, r.v))
        assert sorted(by["insert"]) == [
            (5, 500.0), (6, 600.0), (7, 700.0), (8, 800.0), (9, 900.0)
        ]
        assert sorted(by["delete"]) == [(3, 6.0)]  # the BEFORE image
        # update pairs keyed by construction: pre carries the old v,
        # post the SET result; carried rows (e.g. k=4, 12..14) absent
        assert sorted(by["update_preimage"]) == [(10, 20.0), (11, 22.0)]
        assert sorted(by["update_postimage"]) == [(10, 1000.0), (11, 1100.0)]
        assert all(r._commit_timestamp is not None for r in rows)
        # v3: re-insert 3 (dv consolidation + stale purge) — the feed
        # emits ONLY the insert: the purge rewrites are restatements
        merge_into_table(
            spark, d, self._src(spark, 3, 4), ["k"],
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
            when_matched_update={"v": "s.nv"},
        )
        rows3 = read_table_changes_typed(spark, d, 2).collect()
        assert [(r.k, r.v, r._change_type) for r in rows3] == [
            (3, 300.0, "insert")
        ]

    def test_typed_feed_merge_fallback_without_cdc(self, spark, tmp_path):
        """change_data=False (and any pre-r11 merge commit): the feed
        falls back to the map-diff reconstruction — rewritten entries
        emit pairs, EXTENDED entries emit only the added generation as
        inserts, tombstoned keys emit delete images via the dv key
        diff."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        merge_into_table(
            spark, d, self._src(spark, 3, 12), ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > t.v + 500",
            when_matched_delete="t.v < 8",
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'c'"},
            when_not_matched_insert_condition="s.nv >= 500",
            change_data=False,
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        ins = sorted(r.k for r in rows if r._change_type == "insert")
        dels = sorted(r.k for r in rows if r._change_type == "delete")
        # inserts: extended c gains ONLY 5..9 (not its old 20..24),
        # rewritten b re-states its full new content 10..14
        assert ins == [5, 6, 7, 8, 9, 10, 11, 12, 13, 14]
        # deletes: b's prior content (pair) + the tombstoned key 3
        assert dels == [3, 10, 11, 12, 13, 14]
        assert all(r._commit_timestamp is not None for r in rows)

    def test_fallback_feed_extend_plus_tombstone_same_partition(
        self, spark, tmp_path
    ):
        """r11 review #1 (reproduced pre-fix): a non-cdc merge that
        EXTENDS a partition with inserts while TOMBSTONING keys there
        lost the delete images — the extension's pair images are
        insert-only and the dv key-diff read only untouched entries.
        The extended entry's PRIOR generations now join the
        delete-image base; the CDC fold must equal the head."""
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            merge_into_table,
            read_keyed_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # a: 0-4, b: 10-14, c: 20-24 (stats on k)
        src = spark.createDataFrame(
            [(2, 0.0), (100, 100.0)], "k long, nv double"
        )
        m = merge_into_table(
            spark, d, src, ["k"],
            when_matched_delete=True,  # whole-key: k=2 tombstones
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
            change_data=False,  # the map-diff fallback path
        )
        assert (m["deleted"], m["inserted"]) == (1, 1)
        rows = read_table_changes_typed(spark, d, 1).collect()
        dels = {(r.k, r.v) for r in rows if r._change_type == "delete"}
        ins = {(r.k, r.v) for r in rows if r._change_type == "insert"}
        assert dels == {(2, 4.0)}  # the lost image, now present
        assert (100, 100.0) in ins
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )

    def test_compaction_data_change_false_emits_nothing(
        self, spark, tmp_path
    ):
        """Delta's dataChange=false (VERDICT r10 #1 second half): a
        compaction (and a tombstone materialization) provably restates
        rows — both change feeds skip the commit entirely instead of
        emitting no-op pairs, and the CDC fold over the whole history
        still equals the head."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            apply_typed_changes,
            compact_partition_table,
            current_commit,
            materialize_tombstones,
            read_keyed_table,
            read_table_changes,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        # fragment one partition across several appends
        for lo in (0, 5, 10):
            append_partition_transaction(
                spark, d, "day", self._batch(spark, lo, lo + 5, "a"),
                stats_cols=["k"],
            )
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(1,)], "k long")
        )
        assert compact_partition_table(
            spark, d, max_files_per_partition=2
        ) == ["day=a"]
        v_compact = current_commit(d)["version"]
        assert current_commit(d).get("data_change") is False
        materialize_tombstones(spark, d)
        v_mat = current_commit(d)["version"]
        # neither feed emits anything for the two maintenance commits
        assert read_table_changes(spark, d, v_compact - 1, v_mat) is None
        typed = read_table_changes_typed(spark, d, v_compact - 1, v_mat)
        assert typed is None
        # the full-history CDC fold is unaffected by the skips
        feed = read_table_changes_typed(spark, d, 0)
        replica = apply_typed_changes(feed, ["k", "v", "day"])
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )

    def test_merge_on_schema_evolved_table_with_pruning(
        self, spark, tmp_path
    ):
        """r10 review #1: the target struct is the FULL table schema,
        but stats pruning may drop every partition carrying an evolved
        column — the pruned base must pad it as a typed NULL instead
        of failing to resolve."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # a: 0-4, b: 10-14, c: 20-24 (stats on k)
        # evolved column 'tag' exists ONLY in partition c's generation
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 25, 27, "c").withColumn("tag", F.lit("zz")),
            stats_cols=["k"],
        )
        # source keys 3..4 prune c (k >= 20 there) — the scanned base
        # has no 'tag' column
        m = merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"v": "s.nv"},
        )
        assert m["updated"] == 2
        got = read_keyed_table(spark, d)
        assert got.filter("k = 3").collect()[0].v == 300.0
        assert got.filter("k = 3").collect()[0].tag is None
        assert got.filter("k = 25").collect()[0].tag == "zz"

    def test_update_to_null_partition_raises_cleanly(self, spark, tmp_path):
        """r10 review #5: an UPDATE nulling the partition column gets
        the same clean raise as the insert path — not an opaque
        TypeError from the driver rollup."""
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(Exception, match="NULL partition column"):
            merge_into_table(
                spark, d, self._src(spark, 3, 4), ["k"],
                when_matched_update={"day": "CAST(NULL AS STRING)"},
            )

    def test_no_double_delete_when_key_spans_rewritten_partition(
        self, spark, tmp_path
    ):
        """r10 review #2: key k has rows in TWO partitions; a merge
        matched-deletes k (one partition delete-only -> tombstoned,
        the other rewritten for an unrelated update, k dropped
        in-place). The typed feed must emit exactly one delete image
        per physical row — the dv key-diff must not re-emit the
        rewritten partition's row the pair already covered."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            merge_into_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            self._batch(spark, 7, 9, "a").union(self._batch(spark, 7, 12, "b")),
            stats_cols=["k"],
        )
        # k=7 lives in a AND b; delete k=7 everywhere, update k=10 (b)
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(7, 0.0), (10, 999.0)], "k long, nv double"),
            ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > 100",
            when_matched_delete=True,
        )
        # per-ROW actions: k=7's two rows (a, b) both delete, k=10
        # updates
        assert (m["updated"], m["deleted"]) == (1, 2)
        rows = read_table_changes_typed(spark, d, 1).collect()
        dels = [(r.k, r.day) for r in rows if r._change_type == "delete"]
        assert sorted(dels).count((7, "b")) == 1  # exactly once
        assert sorted(dels).count((7, "a")) == 1

    def test_evolve_schema_adds_source_columns(self, spark, tmp_path):
        """Delta's MERGE schema auto-merge: with evolve_schema the
        source-only column joins the target schema (SET can assign it,
        carried rows read NULL); without it, output schema unchanged."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"nv": "s.nv"},
        )
        assert "nv" not in read_keyed_table(spark, d).columns
        merge_into_table(
            spark, d, self._src(spark, 3, 5), ["k"],
            when_matched_update={"nv": "s.nv"},
            evolve_schema=True,
        )
        got = read_keyed_table(spark, d)
        assert "nv" in got.columns
        assert got.filter("k = 3").collect()[0].nv == 300.0
        assert got.filter("k = 0").collect()[0].nv is None  # carried
        # untouched partitions' old files read the column as NULL
        assert got.filter("day = 'c'").collect()[0].nv is None
        # inserting through evolution works too (insert=True includes
        # the evolved column by name)
        merge_into_table(
            spark, d,
            self._src(spark, 60, 61).withColumn("v", F.lit(1.0))
            .withColumn("day", F.lit("b")),
            ["k"],
            when_not_matched_insert=True,
            evolve_schema=True,
        )
        row = read_keyed_table(spark, d).filter("k = 60").collect()[0]
        assert (row.v, row.nv, row.day) == (1.0, 6000.0, "b")

    def test_merge_stream_sink_applies_and_replays_idempotently(
        self, spark, tmp_path
    ):
        """merge_stream_to_table: per-batch conditional merge with
        batch-id idempotence — a restart from the same checkpoint (and
        a replayed batch) must not double-apply."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_stream_to_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)  # a: 0-4, b: 10-14, c: 20-24
        src_dir = str(tmp_path / "src")
        feed = spark.createDataFrame(
            [(3, "delete", 0.0), (4, "upsert", 77.0),
             (10, "upsert", 88.0), (21, "delete", 0.0)],
            "k long, op string, nv double",
        )
        for i in range(2):  # two disjoint-key files -> two batches
            feed.filter(F.col("k") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src_dir)
        ckpt = str(tmp_path / "ckpt")

        def run():
            stream = spark.readStream.schema(
                "k long, op string, nv double"
            ).option("maxFilesPerTrigger", 1).parquet(src_dir)
            q = merge_stream_to_table(
                stream, d, ckpt, ["k"],
                when_matched_update={"v": "s.nv"},
                when_matched_update_condition="s.op = 'upsert'",
                when_matched_delete="s.op = 'delete'",
            )
            q.awaitTermination()

        run()
        v_after = current_commit(d)["version"]
        got = {(r.k, r.v) for r in read_keyed_table(spark, d).collect()}
        assert (4, 77.0) in got and (10, 88.0) in got
        assert not any(k in (3, 21) for k, _ in got)
        # restart from the same checkpoint: nothing new, no new commits
        run()
        assert current_commit(d)["version"] == v_after
        assert {
            (r.k, r.v) for r in read_keyed_table(spark, d).collect()
        } == got

    def test_merge_stream_reduce_order_col(self, spark, tmp_path):
        """r10 sweep: the per-batch latest-per-key reduce — a CDC feed
        carrying several changes for one key in one batch must apply
        only the NEWEST row (tiebreak deterministic), not raise on
        multiple matches."""
        from nshm2022db_spark.streaming.sinks import (
            merge_stream_to_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        src_dir = str(tmp_path / "src")
        # one batch, three changes for k=3 (latest seq wins) plus an
        # equal-seq pair for k=10 (tiebreak on nv: greatest wins)
        spark.createDataFrame(
            [(3, 1, 10.0), (3, 3, 30.0), (3, 2, 20.0),
             (10, 5, 51.0), (10, 5, 52.0)],
            "k long, seq long, nv double",
        ).coalesce(1).write.parquet(src_dir)
        stream = spark.readStream.schema(
            "k long, seq long, nv double"
        ).parquet(src_dir)
        q = merge_stream_to_table(
            stream, d, str(tmp_path / "ckpt"), ["k"],
            reduce_order_col="seq",
            reduce_tiebreak=["nv"],
            when_matched_update={"v": "s.nv"},
        )
        q.awaitTermination()
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == 30.0
        assert got[10] == 52.0

    def test_clause_list_shape_errors(self, spark, tmp_path):
        """r10 sweep: malformed clause lists raise ValueError with the
        expected-shape message (not IndexError), and a bare clause
        tuple is accepted as a single-clause list."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match="list of"):
            merge_into_table(
                spark, d, self._src(spark, 0, 1), ["k"],
                when_matched=[()],
            )
        # bare tuple = single-clause list (the easy API mistake)
        merge_into_table(
            spark, d, self._src(spark, 1, 2), ["k"],
            when_matched=("update", None, {"v": "s.nv"}),
        )
        assert (
            read_keyed_table(spark, d).filter("k = 1").collect()[0].v == 100.0
        )

    def test_ordered_clause_list_first_match_wins(self, spark, tmp_path):
        """Delta's general form: N ordered conditional clauses; the
        FIRST satisfied clause claims the row, each update clause
        keeps its own SET map, and mixing list + keyword sugar
        raises."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        m = merge_into_table(
            spark, d, self._src(spark, 0, 5), ["k"],
            when_matched=[
                # k=0 (v=0): first clause
                ("update", "t.v <= 0", {"v": "-1.0"}),
                # k=1 (v=2): second clause (also true for k=0 — must
                # NOT fire there)
                ("update", "t.v <= 2", {"v": "s.nv + t.v"}),
                # k=2 (v=4): delete
                ("delete", "t.v <= 4"),
                # k=3, 4: unconditional fallback update
                ("update", None, {"v": "99.0"}),
            ],
        )
        assert (m["updated"], m["deleted"]) == (4, 1)
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[0] == -1.0
        assert got[1] == 102.0  # s.nv(100) + t.v(2)
        assert 2 not in got
        assert got[3] == got[4] == 99.0
        # by-source list form too
        m2 = merge_into_table(
            spark, d, self._src(spark, 0, 1), ["k"],
            when_matched_update={"v": "t.v"},
            when_not_matched_by_source=[
                ("update", "t.day = 'b'", {"v": "0.5"}),
                ("delete", "t.day = 'c'"),
            ],
        )
        got2 = read_keyed_table(spark, d)
        assert got2.filter("day = 'c'").count() == 0
        assert {r.v for r in got2.filter("day = 'b'").collect()} == {0.5}
        assert m2["deleted"] == 5
        with pytest.raises(ValueError, match="not both"):
            merge_into_table(
                spark, d, self._src(spark, 0, 1), ["k"],
                when_matched_update={"v": "s.nv"},
                when_matched=[("delete", None)],
            )

    def test_concurrent_merges_serialize(self, spark, tmp_path):
        """Two merges racing on DISJOINT keys: the CAS serializes them
        (the loser re-runs against the winner's head) and both apply —
        no lost update regardless of commit order."""
        import threading

        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        errs: list[Exception] = []

        def worker(lo: int, hi: int):
            try:
                merge_into_table(
                    spark, d, self._src(spark, lo, hi), ["k"],
                    when_matched_update={"v": "s.nv"},
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [
            threading.Thread(target=worker, args=(0, 3)),
            threading.Thread(target=worker, args=(10, 13)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        assert current_commit(d)["version"] == 3  # seed + two merges
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[0] == 0.0 and got[1] == 100.0 and got[2] == 200.0
        assert got[10] == 1000.0 and got[12] == 1200.0
        assert got[20] == 40.0  # untouched partition intact

    def test_merge_requires_clause_and_commits(self, spark, tmp_path):
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        with pytest.raises(ValueError, match="at least one clause"):
            merge_into_table(spark, d, self._src(spark, 0, 1), ["k"])
        with pytest.raises(ValueError, match="no commits"):
            merge_into_table(
                spark, d, self._src(spark, 0, 1), ["k"],
                when_matched_update={"v": "s.nv"},
            )

    def test_insert_into_scanned_partition_extends_not_rewrites(
        self, spark, tmp_path
    ):
        """VERDICT r10 #3: a new key landing in a scanned but otherwise
        unchanged partition appends a generation holding ONLY the new
        rows — the old generation dir is carried in the entry's dir
        list, not rewritten (Delta's pure-insert append economics)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = current_commit(d)["partitions"]["day=a"]
        # k=2 matches (no satisfied clause -> carry, but forces 'a'
        # into the scan set); k=100 is new and inserts into 'a'
        src = spark.createDataFrame(
            [(2, 0.0), (100, 999.0)], "k long, nv double"
        )
        m = merge_into_table(
            spark, d, src, ["k"],
            when_matched_update={"v": "s.nv"},
            when_matched_update_condition="s.nv > 1e9",  # never fires
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
        )
        assert (m["updated"], m["inserted"]) == (0, 1)
        cur = current_commit(d)
        entry = cur["partitions"]["day=a"]
        # generation list: the pre-merge dir carried byte-identical,
        # plus exactly one appended generation
        assert isinstance(entry, list) and len(entry) == 2
        assert entry[0] == before and entry[1] != before
        # the appended generation holds ONLY the inserted row
        new_gen = spark.read.parquet(
            str(tmp_path / "t" / entry[1] / "day=a")
        )
        assert new_gen.count() == 1 and new_gen.collect()[0].k == 100
        got = read_keyed_table(spark, d).filter("day = 'a'")
        assert got.count() == 6  # 5 carried + 1 inserted

    def test_insert_plus_update_in_scanned_partition_rewrites(
        self, spark, tmp_path
    ):
        """The extend shortcut applies ONLY to insert-only partitions:
        an in-place update in the same partition still rewrites it
        (and the insert rides the rewrite)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = current_commit(d)["partitions"]["day=a"]
        src = spark.createDataFrame(
            [(2, 777.0), (100, 999.0)], "k long, nv double"
        )
        merge_into_table(
            spark, d, src, ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_insert={"k": "s.k", "v": "s.nv", "day": "'a'"},
        )
        entry = current_commit(d)["partitions"]["day=a"]
        assert isinstance(entry, str) and entry != before  # rewritten
        got = {
            (r.k, r.v)
            for r in read_keyed_table(spark, d).filter("day = 'a'").collect()
        }
        assert (2, 777.0) in got and (100, 999.0) in got and len(got) == 6

    def test_empty_insert_dict_rejected(self, spark, tmp_path):
        """ADVICE r10 low: {} used to count as a truthy insert clause
        with an empty SET map, staging all-NULL rows that only failed
        later via the opaque NULL-partition-column raise_error."""
        import pytest

        from nshm2022db_spark.streaming.sinks import merge_into_table

        d = str(tmp_path / "t")
        self._seed(spark, d)
        with pytest.raises(ValueError, match="all-NULL"):
            merge_into_table(
                spark, d, self._src(spark, 50, 51), ["k"],
                when_not_matched_insert={},
            )

    def test_row_divergent_delete_forces_rewrite(self, spark, tmp_path):
        """ADVICE r10 high: a key with duplicate target rows and a
        row-divergent delete condition (one row deletes, the other
        carries elsewhere) must NOT take the key-tombstone path — the
        key-wide DV would hide the surviving row everywhere. The
        delete-only partition rewrites instead."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        dup = spark.createDataFrame(
            [(30, 30.0, "d"), (30, 100.0, "e")], "k long, v double, day string"
        )
        append_partition_transaction(spark, d, "day", dup, stats_cols=["k"])
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(30,)], "k long").withColumn(
                "nv", F.lit(0.0)
            ),
            ["k"],
            when_matched_delete="t.v < 50",
        )
        assert m["deleted"] == 1
        cur = current_commit(d)
        # no key tombstone was taken (it would hide the v=100 row too)
        assert not cur.get("dv")
        assert "day=d" not in cur["partitions"]  # fully deleted, dropped
        got = read_keyed_table(spark, d).filter("k = 30").collect()
        assert [(r.v, r.day) for r in got] == [(100.0, "e")]

    def test_whole_key_delete_still_tombstones(self, spark, tmp_path):
        """The guard above must not cost the DV economics when the
        delete IS whole-key: every row of the key deletes, so the
        delete-only partition still takes a tombstone, not a rewrite."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            merge_into_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = merge_into_table(
            spark, d, self._src(spark, 0, 2), ["k"],
            when_matched_delete=True,
        )
        assert m["deleted"] == 2
        cur = current_commit(d)
        assert cur.get("dv")  # DV path taken
        assert cur["partitions"]["day=a"] == before["day=a"]  # not rewritten

    def test_null_key_by_source_delete_rewrites(self, spark, tmp_path):
        """ADVICE r10 medium: a BY SOURCE delete can select NULL-key
        target rows; a NULL key in a DV parquet hides nothing (the
        anti-join never matches NULL) and poisons sorted-key-set
        consumers. The partition must rewrite so the row actually
        dies, and no NULL ever lands in a dv file."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            current_commit,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        nrow = spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS k, 1.0 AS v, 'z' AS day"
        )
        append_partition_transaction(spark, d, "day", nrow, stats_cols=["k"])
        m = merge_into_table(
            spark, d, self._src(spark, 0, 1), ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_by_source_delete="t.day = 'z'",
        )
        assert m["deleted"] == 1
        cur = current_commit(d)
        assert not cur.get("dv")  # no NULL tombstone was written
        assert "day=z" not in cur["partitions"]
        assert read_keyed_table(spark, d).filter("day = 'z'").count() == 0

    def test_bloom_probe_prunes_scattered_source_keys(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r10 stretch #7: partitions hold INTERLEAVED key
        ranges (every min/max spans the whole domain — range stats
        prune nothing), but each key lives in exactly one partition.
        A small scattered source must scan ONLY the partitions whose
        Bloom bitmaps may contain a source key; the result is
        unchanged."""
        import nshm2022db_spark.streaming.sinks as sinks
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            merge_into_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        days = ["a", "b", "c"]
        rows = [
            (k, float(k), days[k % 3]) for k in range(30)
        ]  # every partition spans k in [0+r, 27+r]
        append_partition_transaction(
            spark, d,
            "day",
            spark.createDataFrame(rows, "k long, v double, day string"),
            stats_cols=["k"], bloom_cols=["k"],
        )
        seen: list[set] = []
        orig = sinks._read_partition_map

        def spy(spark_, table_dir_, manifest, prune=None):
            seen.append(set(manifest.get("partitions", {})))
            return orig(spark_, table_dir_, manifest, prune)

        monkeypatch.setattr(sinks, "_read_partition_map", spy)
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(3, 999.0), (6, 666.0)], "k long, nv double"),
            ["k"],
            when_matched_update={"v": "s.nv"},
        )
        assert m["updated"] == 2
        # the scan read covered ONLY day=a (keys 3, 6 are both % 3 == 0);
        # the full-schema resolve still sees all entries
        assert {"day=a"} in seen
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == 999.0 and got[6] == 666.0 and got[4] == 4.0

    def test_composite_key_merge_delete_uses_dv(self, spark, tmp_path):
        """VERDICT r10 #2: composite natural keys get the full DV
        economics — a delete-only partition under a multi-column merge
        key is tombstoned with key TUPLES (not rewritten), the typed
        feed reconstructs its delete images, the CDC fold still equals
        the head, and a re-insert consolidates the tuple DV."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            apply_typed_changes,
            current_commit,
            merge_into_table,
            read_keyed_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        rows = [
            (g, k, float(k), day)
            for day, g in (("a", "x"), ("b", "y"))
            for k in range(5)
        ]
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                rows, "g string, k long, v double, day string"
            ),
            stats_cols=["k"],
        )
        before = dict(current_commit(d)["partitions"])
        src = spark.createDataFrame(
            [("x", k) for k in range(5)], "g string, k long"
        )
        m = merge_into_table(
            spark, d, src, ["g", "k"], when_matched_delete=True
        )
        assert m["deleted"] == 5
        cur = current_commit(d)
        assert cur.get("dv") and cur["dv_key"] == ["g", "k"]
        # the delete-only partition took the DV, not a rewrite
        assert cur["partitions"]["day=a"] == before["day=a"]
        got = read_keyed_table(spark, d)
        assert got.filter("day = 'a'").count() == 0
        assert got.filter("day = 'b'").count() == 5
        # typed feed over the tuple DV; CDC fold == head
        feed = read_table_changes_typed(spark, d, from_version=0)
        replica = apply_typed_changes(feed, ["g", "k", "v", "day"])
        assert sorted((r.g, r.k, r.v, r.day) for r in replica.collect()) == (
            sorted((r.g, r.k, r.v, r.day) for r in got.collect())
        )
        # re-insert one tuple: consolidation clears it, stale row purged
        m2 = merge_into_table(
            spark, d,
            spark.createDataFrame(
                [("x", 2, 99.0, "a")], "g string, k long, v double, day string"
            ),
            ["g", "k"],
            when_not_matched_insert=True,
        )
        assert m2["inserted"] == 1
        got2 = read_keyed_table(spark, d).filter("day = 'a'").collect()
        assert [(r.g, r.k, r.v) for r in got2] == [("x", 2, 99.0)]

    def test_composite_key_tombstone_keys_and_typed_feed(
        self, spark, tmp_path
    ):
        """tombstone_keys with a key-column LIST: the dv file carries
        tuples, reads anti-join on both columns (same k, different g
        survives), and the typed feed's delete images match."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        rows = [
            (g, k, float(k), "a") for g in ("x", "y") for k in range(4)
        ]
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                rows, "g string, k long, v double, day string"
            ),
            stats_cols=["k"],
        )
        tombstone_keys(
            spark, d, ["g", "k"],
            spark.createDataFrame([("x", 1), ("x", 3)], "g string, k long"),
        )
        got = read_keyed_table(spark, d)
        assert got.count() == 6
        # same k under the other g survives — tuple, not column, match
        assert got.filter("k = 1").collect()[0].g == "y"
        feed = read_table_changes_typed(spark, d, from_version=1)
        dels = {
            (r.g, r.k)
            for r in feed.filter("_change_type = 'delete'").collect()
        }
        assert dels == {("x", 1), ("x", 3)}

    def test_tombstone_keys_drops_null_keys(self, spark, tmp_path):
        """tombstone_keys filters NULLs out of the dv key file: a NULL
        tombstone hides nothing by anti-join semantics, and recording
        it would break the typed stream reader's sorted key sets."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            read_keyed_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k",
            spark.sql(
                "SELECT CAST(NULL AS BIGINT) AS k UNION ALL SELECT 3"
            ),
        )
        cur = current_commit(d)
        dv = spark.read.parquet(
            *[str(tmp_path / "t" / x) for x in cur["dv"]]
        ).collect()
        assert [r.k for r in dv] == [3]
        assert read_keyed_table(spark, d).filter("k = 3").count() == 0


class TestUpdateTable:
    """Standalone UPDATE ... SET ... WHERE (r11) — the DML triad's
    third leg: partition economics, moves, CDC pairs, NULL-predicate
    semantics, replay idempotence, and the typed feed over op=update."""

    def _seed(self, spark, d):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(k, float(k), "a" if k < 5 else "b") for k in range(10)],
                "k long, v double, day string",
            ),
            stats_cols=["k"],
        )

    def test_update_in_place_and_economics(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = update_table(
            spark, d, {"v": "v * 10"}, where="k % 2 = 0 AND day = 'a'",
            stats_cols=["k"],
        )
        assert m["updated"] == 3 and m["carried"] == 7
        cur = current_commit(d)
        assert cur["op"] == "update" and cur.get("cdc")
        # only the partition holding matched rows rewrote
        assert cur["partitions"]["day=b"] == before["day=b"]
        assert cur["partitions"]["day=a"] != before["day=a"]
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[0] == 0.0 and got[2] == 20.0 and got[4] == 40.0
        assert got[1] == 1.0 and got[6] == 6.0

    def test_partition_move_and_extend(self, spark, tmp_path):
        """A partition-moving update rewrites the departure side and
        creates/extends the arrival; with prune, untouched partitions
        are never scanned."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = update_table(
            spark, d, {"day": "'hot'", "v": "v + 100"}, where="k IN (1, 7)",
            prune={"k": (1, 7)}, stats_cols=["k"],
        )
        assert m["updated"] == 2
        cur = current_commit(d)
        assert "day=hot" in cur["partitions"]
        got = read_keyed_table(spark, d)
        assert {
            (r.k, r.v) for r in got.filter("day = 'hot'").collect()
        } == {(1, 101.0), (7, 107.0)}
        assert got.count() == 10
        # second move INTO the now-existing hot partition from a pruned
        # scan: hot's recorded stats (k in [1, 7]) disprove k=9, so it
        # is unscanned and the arrival EXTENDS it with just the row
        m2 = update_table(
            spark, d, {"day": "'hot'"}, where="k = 9", prune={"k": (9, 9)}
        )
        assert m2["updated"] == 1
        entry = current_commit(d)["partitions"]["day=hot"]
        assert isinstance(entry, list) and len(entry) == 2
        assert read_keyed_table(spark, d).filter("day = 'hot'").count() == 3
        # day=a held no matched rows in either update: mapping carried
        assert current_commit(d)["partitions"]["day=a"] == (
            cur["partitions"]["day=a"]
        )
        assert before["day=a"] != cur["partitions"]["day=a"]  # 1st moved k=1

    def test_null_predicate_not_matched_and_null_pcol_raises(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        # NULL predicate result = not matched (Delta's rule)
        m = update_table(
            spark, d, {"v": "-1.0"},
            where="CASE WHEN k < 3 THEN NULL ELSE k = 3 END",
        )
        assert m["updated"] == 1
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == -1.0
        assert got[0] == 0.0 and got[1] == 1.0 and got[2] == 2.0
        with pytest.raises(Exception, match="NULL partition column"):
            update_table(
                spark, d, {"day": "CAST(NULL AS STRING)"}, where="k = 4"
            )
        with pytest.raises(ValueError, match="non-empty SET"):
            update_table(spark, d, {})

    def test_typed_feed_and_replay(self, spark, tmp_path):
        """op=update commits emit exact pre/post pairs from the CDC
        sidecar (batch and stream), the CDC fold equals the head, and
        a replayed batch id no-ops."""
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            current_commit,
            read_keyed_table,
            read_table_changes_typed,
            update_table,
        )
        from nshm2022db_spark.streaming.table_source import (
            register_commitlog_source,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        update_table(
            spark, d, {"v": "v + 0.5"}, where="k >= 8", batch_id=7
        )
        rows = read_table_changes_typed(spark, d, 1).collect()
        by = {}
        for r in rows:
            by.setdefault(r._change_type, set()).add((r.k, r.v))
        assert by == {
            "update_preimage": {(8, 8.0), (9, 9.0)},
            "update_postimage": {(8, 8.5), (9, 9.5)},
        }
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )
        # stream equals batch over the update commit
        register_commitlog_source(spark)
        q = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("upd_cdf")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, _commit_version, _change_type from upd_cdf"
        ).collect()
        spark.catalog.dropTempView("upd_cdf")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "_commit_version", "_change_type"
        ).collect()
        key = lambda rs: sorted(
            (r.k, r.v, r._commit_version, r._change_type) for r in rs
        )
        assert key(stream_rows) == key(batch_rows)
        # replay no-ops
        v = current_commit(d)["version"]
        m = update_table(spark, d, {"v": "v + 0.5"}, where="k >= 8", batch_id=7)
        assert m.get("replayed") and current_commit(d)["version"] == v

    def test_no_match_publishes_nothing(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        v = current_commit(d)["version"]
        m = update_table(spark, d, {"v": "0.0"}, where="k > 1000")
        assert m["updated"] == 0 and current_commit(d)["version"] == v

    def test_eq_prune_spec_and_bloom(self, spark, tmp_path):
        """r11 review: the ('eq', v) prune form must go through
        _split_prune (stats degenerate range + Bloom probes), not be
        mis-parsed as (lo, hi) bounds — and it must still UPDATE the
        matching row."""
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_keyed_table,
            update_table,
        )

        d = str(tmp_path / "t")
        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(k, float(k), "a" if k % 2 == 0 else "b") for k in range(8)],
                "k long, v double, day string",
            ),
            stats_cols=["k"], bloom_cols=["k"],
        )
        m = update_table(
            spark, d, {"v": "777.0"}, where="k = 3",
            prune={"k": ("eq", 3)},
        )
        assert m["updated"] == 1
        got = {r.k: r.v for r in read_keyed_table(spark, d).collect()}
        assert got[3] == 777.0 and got[2] == 2.0

    def test_update_refuses_set_on_dv_key_column(self, spark, tmp_path):
        """r11 review: assigning a tombstoned key column could write a
        value the carried deletion vector HIDES — refuse up front."""
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            tombstone_keys,
            update_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(5,)], "k long")
        )
        with pytest.raises(ValueError, match="deletion vector"):
            update_table(spark, d, {"k": "5"}, where="k = 6")
        # updates NOT touching the key column stay fine on a dv table
        m = update_table(spark, d, {"v": "v + 1"}, where="k = 6")
        assert m["updated"] == 1


class TestDeleteTable:
    """First-class predicate DELETE (r12 — VERDICT r11 #1): partition
    economics, fully-deleted entry drop, NULL-predicate semantics, CDC
    delete-image sidecar through both typed feeds, the map-diff
    fallback, dv interaction, replay idempotence, and rebase
    transparency."""

    def _seed(self, spark, d, **kw):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
        )

        append_partition_transaction(
            spark, d, "day",
            spark.createDataFrame(
                [(k, float(k), "a" if k < 5 else "b") for k in range(10)],
                "k long, v double, day string",
            ),
            stats_cols=["k"], **kw,
        )

    def test_economics_and_full_partition_drop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            delete_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        before = dict(current_commit(d)["partitions"])
        m = delete_table(spark, d, where="k % 2 = 0 AND day = 'a'")
        assert m["deleted"] == 3 and m["carried"] == 7
        cur = current_commit(d)
        assert cur["op"] == "delete" and cur.get("cdc")
        # only the partition holding matched rows rewrote; day=b's
        # mapping (and files) carried byte-identical
        assert cur["partitions"]["day=b"] == before["day=b"]
        assert cur["partitions"]["day=a"] != before["day=a"]
        assert sorted(
            r.k for r in read_keyed_table(spark, d).collect()
        ) == [1, 3, 5, 6, 7, 8, 9]
        # a partition whose rows ALL match simply leaves the manifest
        m2 = delete_table(spark, d, where="day = 'a'",
                          partition_values=["a"])
        assert m2["deleted"] == 2 and m2["carried"] == 0
        cur2 = current_commit(d)
        assert "day=a" not in cur2["partitions"]
        assert cur2["partitions"]["day=b"] == before["day=b"]
        assert read_keyed_table(spark, d).count() == 5
        # ...but stays readable as history
        assert read_keyed_table(
            spark, d, version=cur["version"]
        ).count() == 7

    def test_null_predicate_survives_and_where_required(
        self, spark, tmp_path
    ):
        import pytest

        from nshm2022db_spark.streaming.sinks import (
            delete_table,
            read_keyed_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        # NULL predicate result = not matched → the row SURVIVES
        m = delete_table(
            spark, d, where="CASE WHEN k < 3 THEN NULL ELSE k = 3 END"
        )
        assert m["deleted"] == 1
        assert sorted(
            r.k for r in read_keyed_table(spark, d).collect()
        ) == [0, 1, 2, 4, 5, 6, 7, 8, 9]
        with pytest.raises(ValueError, match="explicit WHERE"):
            delete_table(spark, d, where=None)

    def test_prune_eq_bloom_and_no_match_noop(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            delete_table,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d, bloom_cols=["k"])
        m = delete_table(
            spark, d, where="k = 7", prune={"k": ("eq", 7)}
        )
        assert m["deleted"] == 1
        # day=a's stats (k in [0,4]) disprove the probe: never scanned,
        # so it is not even counted as carried
        assert m["carried"] == 4
        v = current_commit(d)["version"]
        m2 = delete_table(spark, d, where="k > 1000")
        assert m2["deleted"] == 0 and current_commit(d)["version"] == v

    def test_typed_feeds_replay_and_fold(self, spark, tmp_path):
        """op=delete commits serve the sidecar's exact delete images
        (batch and stream), the CDC fold equals the head, and a
        replayed batch id no-ops."""
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            current_commit,
            delete_table,
            read_keyed_table,
            read_table_changes_typed,
        )
        from nshm2022db_spark.streaming.table_source import (
            register_commitlog_source,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        delete_table(spark, d, where="k IN (2, 8)", batch_id=9)
        rows = read_table_changes_typed(spark, d, 1).collect()
        assert {(r.k, r.v, r._change_type) for r in rows} == {
            (2, 2.0, "delete"), (8, 8.0, "delete"),
        }
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        head = read_keyed_table(spark, d)
        assert sorted((r.k, r.v) for r in replica.collect()) == sorted(
            (r.k, r.v) for r in head.collect()
        )
        # stream equals batch over the delete commit
        register_commitlog_source(spark)
        q = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("del_cdf")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, _commit_version, _change_type from del_cdf"
        ).collect()
        spark.catalog.dropTempView("del_cdf")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "_commit_version", "_change_type"
        ).collect()
        key = lambda rs: sorted(
            (r.k, r.v, r._commit_version, r._change_type) for r in rs
        )
        assert key(stream_rows) == key(batch_rows)
        # replay no-ops
        v = current_commit(d)["version"]
        m = delete_table(spark, d, where="k IN (2, 8)", batch_id=9)
        assert m.get("replayed") and current_commit(d)["version"] == v

    def test_change_data_false_falls_back_to_pair_images(
        self, spark, tmp_path
    ):
        from nshm2022db_spark.streaming.sinks import (
            apply_typed_changes,
            current_commit,
            delete_table,
            read_keyed_table,
            read_table_changes_typed,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        delete_table(spark, d, where="k = 6", change_data=False)
        assert "cdc" not in current_commit(d)
        rows = read_table_changes_typed(spark, d, 1).collect()
        by = {}
        for r in rows:
            by.setdefault(r._change_type, set()).add(r.k)
        # a rewrite diff: day=b's survivors restate as inserts, its
        # prior contents as deletes; day=a contributes nothing
        assert by == {
            "insert": {5, 7, 8, 9},
            "delete": {5, 6, 7, 8, 9},
        }
        replica = apply_typed_changes(
            read_table_changes_typed(spark, d, 0), ["k", "v", "day"]
        )
        assert sorted(r.k for r in replica.collect()) == sorted(
            r.k for r in read_keyed_table(spark, d).collect()
        )

    def test_dv_hidden_rows_never_delete(self, spark, tmp_path):
        """The base is read THROUGH the tombstones: a dv-hidden row is
        not counted, emits no delete image, and the rewrite physically
        purges it (state-identical, dv carried forward)."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            delete_table,
            read_keyed_table,
            read_table_changes_typed,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(6,)], "k long")
        )
        m = delete_table(spark, d, where="k IN (6, 7)")
        assert m["deleted"] == 1  # k=6 is hidden — only k=7 matches
        cur = current_commit(d)
        assert cur.get("dv")  # carried forward
        imgs = read_table_changes_typed(spark, d, 2).collect()
        assert {(r.k, r._change_type) for r in imgs} == {(7, "delete")}
        got = sorted(r.k for r in read_keyed_table(spark, d).collect())
        assert got == [0, 1, 2, 3, 4, 5, 8, 9]
        # the rewritten partition's files no longer hold k=6 physically
        stage = cur["partitions"]["day=b"]
        raw = spark.read.parquet(
            f"{d}/{stage if isinstance(stage, str) else stage[0]}/day=b"
        )
        assert sorted(r.k for r in raw.collect()) == [5, 8, 9]

    def test_rebase_transparency(self, spark, tmp_path):
        """A disjoint concurrent append rebases over a published
        predicate delete (map-diff disjointness); a key-tombstone
        delete trips the dv check instead."""
        from nshm2022db_spark.streaming.sinks import (
            _rebase_conflict,
            current_commit,
            delete_table,
            tombstone_keys,
        )

        d = str(tmp_path / "t")
        self._seed(spark, d)
        base = current_commit(d)
        delete_table(spark, d, where="k < 2 AND day = 'a'")
        head = current_commit(d)
        assert _rebase_conflict(d, base, head, {"day=c"}) is None
        assert _rebase_conflict(d, base, head, {"day=a"}) is not None
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(5,)], "k long")
        )
        head2 = current_commit(d)
        assert _rebase_conflict(d, base, head2, {"day=c"}) == "dv changed"


class TestZorderExpr:
    def test_four_columns_stay_below_sign_bit(self):
        """r10 review #6: with n columns the interleave must fit below
        BIGINT bit 63 (bit 63 flips sort order; >=64 wraps mod 64 in
        Java shifts) — per-dimension bits shrink as columns grow."""
        import re

        from nshm2022db_spark.streaming.sinks import _zorder_sort_expr

        for n in (2, 3, 4, 5):
            cols = [f"c{i}" for i in range(n)]
            expr = str(
                _zorder_sort_expr(cols, {c: (0, 1000) for c in cols})._jc
            )
            shifts = [int(s) for s in re.findall(r"<<\s*(\d+)", expr)]
            assert shifts and max(shifts) < 63, (n, max(shifts))


class TestBloomProbeFastPath:
    def test_values_fold_path_matches_job_path(self, spark):
        """r14: the VALUES-inline-table probe batch (plan-time folded,
        zero tasks) must produce bit-identical probe positions to the
        single-value local-relation job for every fold-safe type —
        including the strings the hex encoding exists for (quotes,
        backslashes, newlines, unicode) and numeric/bool keys."""
        from nshm2022db_spark.streaming.sinks import (
            _PROBE_CACHE,
            _bloom_probes,
            _bloom_probes_prefetch,
            _sql_probe_literal,
        )

        m, k = 2**14, 5
        vals = [
            "plain", "d'quote", 'a"b', "back\\slash", "new\nline",
            "tab\tsep", "ünïcode✓", "", 5, -(2**62), True, False,
            # 12345678.0: DECIMAL vs DOUBLE canonical strings diverge
            # ('12345678.0' vs '1.2345678E7') — pins the explicit
            # DOUBLE cast in _sql_probe_literal
            0.1, 1e300, 2.5, 12345678.0,
        ]
        # fast path fills the cache under each value's own type name
        _PROBE_CACHE.clear()
        _bloom_probes_prefetch(spark, vals, m, k, "string")
        fast = {
            (type(v).__name__, v): _PROBE_CACHE[
                (type(v).__name__, v, m, k, "string")
            ]
            for v in vals
        }
        # recompute each through the 1-row job path
        _PROBE_CACHE.clear()
        for v in vals:
            assert _bloom_probes(spark, v, m, k, "string") == fast[
                (type(v).__name__, v)
            ], repr(v)
        # exotic types (no fold-safe literal) fall back, still probe
        assert _sql_probe_literal(float("nan")) is None
        assert _sql_probe_literal(2**70) is None
        assert _sql_probe_literal(b"bytes") is None
        _PROBE_CACHE.clear()
        _bloom_probes_prefetch(spark, [2**70], m, k, "decimal(25,0)")
        # beyond-long ints can't ride the local-relation job either
        # (LongType overflow → NULL literal) — the conservative cache
        # entry is None: "cannot prune", never a false skip
        assert _PROBE_CACHE[("int", 2**70, m, k, "decimal(25,0)")] is None

    def test_signed_zero_probes_like_positive_zero(self, spark):
        """-0.0 = 0.0 in SQL equality, but their canonical strings
        differ — before the r14 normalization a 0.0 probe against a
        bitmap built over -0.0 rows falsely pruned the partition
        holding its match. Build-side and probe-side positions must
        now coincide for both zeros."""
        from pyspark.sql import functions as F

        from nshm2022db_spark.streaming.sinks import _bloom_position_cols

        row = spark.range(1).select(
            *[
                c.alias(f"n{i}")
                for i, c in enumerate(
                    _bloom_position_cols(F.lit(-0.0), 2**14, 5)
                )
            ],
            *[
                c.alias(f"p{i}")
                for i, c in enumerate(
                    _bloom_position_cols(F.lit(0.0), 2**14, 5)
                )
            ],
        ).first()
        assert [row[f"n{i}"] for i in range(5)] == [
            row[f"p{i}"] for i in range(5)
        ]


class TestBloomFormatMerge:
    def test_version_mismatched_append_drops_column_bloom(
        self, spark, tmp_path
    ):
        """An append OR-merging its fresh v2 bitmap into an entry whose
        persisted bitmap carries another (or no) format version must
        DROP that column's bloom rather than merge incompatible probe
        spaces — bloom-less is always safe, a mixed bitmap is not."""
        import json
        import os

        from nshm2022db_spark.streaming.sinks import (
            _COMMITS,
            append_partition_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(20)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df, bloom_cols=["id"], bloom_bits=8192
        )
        # simulate a pre-v2 writer: strip the format stamp in the
        # newest manifest on disk
        log = os.path.join(t, _COMMITS)
        name = sorted(
            n for n in os.listdir(log)
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
        )[-1]
        p = os.path.join(log, name)
        m = json.load(open(p))
        for specs in m["bloom"].values():
            for sp in specs.values():
                sp.pop("v", None)
        json.dump(m, open(p, "w"))
        # a v2 append onto the legacy entry: the merge must not OR the
        # two bitmaps; the touched column's bloom drops
        df2 = spark.createDataFrame(
            [(i, f"k{i % 2}") for i in range(20, 40)], "id long, k string"
        )
        append_partition_transaction(
            spark, t, "k", df2, bloom_cols=["id"], bloom_bits=8192
        )
        cur = table_history(t)[-1]
        for e in ("k=k0", "k=k1"):
            assert "id" not in cur.get("bloom", {}).get(e, {})


class TestManifestDirSchemas:
    """r16 #1 (VERDICT r15 #1): writers record the staged files' schema
    in the manifest (``dir_schemas``) at commit time, and readers take
    it from there alone — a manifest without it does not read."""

    def test_commits_record_dir_schemas(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            committed_partition_transaction,
            table_history,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a"), (2, "b")], "uid long, k string"
        )
        committed_partition_transaction(spark, t, "k", lambda base: rows)
        append_partition_transaction(
            spark, t, "k",
            spark.createDataFrame([(3, "a")], "uid long, k string"),
        )
        v1, v2 = table_history(t)
        # every referenced data dir has a recorded schema of its FILES
        # (data columns only — partitionBy keeps `k` in dir names)
        for m in (v1, v2):
            ds = m["dir_schemas"]
            assert set(ds) == {m["dir"]} | {
                d
                for v in m["partitions"].values()
                for d in ([v] if isinstance(v, str) else v)
            }
            for sj in ds.values():
                assert [f["name"] for f in sj["fields"]] == ["uid"]
                assert all(f["nullable"] for f in sj["fields"])
        # v2 carries v1's entry forward untouched
        assert v1["dir_schemas"][v1["dir"]] == v2["dir_schemas"][v1["dir"]]

    def test_manifest_without_schema_raises(self, spark, tmp_path):
        """A committed manifest stripped of ``dir_schemas`` has no schema
        source left: the read refuses, naming the table and the dir,
        instead of deriving one from the files."""
        import json

        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            _COMMITS,
            committed_partition_transaction,
            current_commit,
            read_keyed_table,
        )

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, "a", 2.5), (2, "b", None)], "uid long, k string, v double"
        )
        committed_partition_transaction(spark, t, "k", lambda base: rows)
        stage = current_commit(t)["dir"]
        log = os.path.join(t, _COMMITS)
        for n in os.listdir(log):
            p = os.path.join(log, n)
            with open(p) as f:
                m = json.load(f)
            if m.pop("dir_schemas", None) is not None:
                os.unlink(p)  # the commit files are hardlinked read-only
                with open(p, "w") as f:
                    json.dump(m, f)
        with _pytest.raises(ValueError, match="no recorded schema") as err:
            read_keyed_table(spark, t)
        assert t in str(err.value) and repr(stage) in str(err.value)

    def test_recorded_schema_matches_footer_derivation(self, spark, tmp_path):
        """The manifest-supplied read and the footer fast path must
        produce the same schema (types AND nullability) — the recorded
        json IS what `_footer_schema` would have derived."""
        from nshm2022db_spark.streaming.sinks import (
            _footer_schema,
            committed_transaction,
            current_commit,
        )
        import os

        t = str(tmp_path / "t")
        rows = spark.createDataFrame(
            [(1, [1.5, 2.5], "x")],
            "uid long, vec array<double>, s string",
        )
        committed_transaction(spark, t, lambda base: rows)
        cur = current_commit(t)
        sj = cur["dir_schemas"][cur["dir"]]
        (entry,) = cur["partitions"]
        derived = _footer_schema([os.path.join(t, cur["dir"], entry)])
        assert derived is not None
        assert sj == derived.jsonValue()


def _manifest_trail(spark, t: str) -> list[dict]:
    """Drive every writer that builds a successor manifest through one
    accepted sequence and return, per published manifest, its op, its
    key set and a digest of its content (`_history_digests`)."""
    from nshm2022db_spark.streaming import sinks

    schema = "k int, day string, v int, w int, x int"
    sinks.append_partition_transaction(
        spark, t, "day",
        spark.createDataFrame(
            [(1, "d1", 10, 1, 0), (2, "d1", 20, 2, 0), (3, "d2", 30, 3, 0),
             (4, "d2", 40, 4, 0)],
            schema,
        ),
        stats_cols=["k"], bloom_cols=["k"],
    )
    sinks.set_table_constraints(spark, t, ["v >= 0"])
    sinks.tombstone_keys(spark, t, "k", spark.createDataFrame([(4,)], "k int"))
    sinks.rename_column(spark, t, "w", "w2")
    sinks.drop_column(spark, t, "x")
    sinks.overwrite_partition_transaction(
        spark, t, "day",
        spark.createDataFrame(
            [(5, "d2", 50, 5), (6, "d2", 60, 6)], "k int, day string, v int, w2 int"
        ),
        replace_where=["d2"], stats_cols=["k"], bloom_cols=["k"],
    )
    sinks.update_table(spark, t, {"v": "v + 1"}, where="k = 1", stats_cols=["k"])
    sinks.delete_table(spark, t, where="k = 5")
    sinks.merge_into_table(
        spark, t,
        spark.createDataFrame(
            [(2, "d1", 21, 2), (7, "d3", 70, 7)], "k int, day string, v int, w2 int"
        ),
        keys=["k"], when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )
    sinks.evolve_partition_column(spark, t, "v")
    sinks.restore_table_version(t, 6)
    return _history_digests(t)


def _history_digests(t: str) -> list[tuple]:
    """Per published manifest of ``t``: its op, its key set and a digest
    of its content (commit time aside), with data dirs named by the
    version and role that introduced them — uuid-free, so runs
    compare."""
    import hashlib
    import json

    from nshm2022db_spark.streaming import sinks

    hist = sinks.table_history(t)
    names: dict[str, str] = {}
    for m in hist:
        for d in sorted(sinks._manifest_dirs(m) - {"."}):
            if d in names:
                continue
            role = (
                "dir" if d == m.get("dir")
                else "cdc" if d == m.get("cdc")
                else "dv" if d in m.get("dv", [])
                else "data"
            )
            names[d] = f"v{m['version']}.{role}"
    trail = []
    for m in hist:
        m = {k: v for k, v in m.items() if k != "committed_at"}
        text = json.dumps(m, sort_keys=True)
        for d, sym in names.items():
            text = text.replace(d, sym)
        # re-sort: dir-name keys sorted by their uuids before renaming
        text = json.dumps(json.loads(text), sort_keys=True)
        trail.append(
            (m.get("op"), sorted(m), hashlib.sha1(text.encode()).hexdigest()[:12])
        )
    return trail


# (op, manifest keys, content digest) for every commit _manifest_trail
# publishes, recorded from the per-writer manifests _next_manifest
# replaced: the one rule must carry exactly the state they carried
_TRAIL_GOLDEN = [
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats", "version"],
     "772cbc3714d1"),
    ("set-constraints", ["batch_ids", "bloom", "constraints", "dir",
                         "dir_schemas", "op", "partition_col", "partitions",
                         "stats", "version"],
     "74d5d0084f20"),
    ("delete", ["batch_ids", "bloom", "constraints", "dir", "dir_schemas",
                "dv", "dv_key", "op", "partition_col", "partitions", "stats",
                "version"],
     "4216cdc82333"),
    ("evolve", ["batch_ids", "bloom", "column_map", "constraints", "dir",
                "dir_schemas", "dv", "dv_key", "op", "partition_col",
                "partitions", "stats", "version"],
     "4eb8fd4a4f6f"),
    ("evolve", ["batch_ids", "bloom", "column_map", "constraints", "dir",
                "dir_schemas", "dropped_columns", "dv", "dv_key", "op",
                "partition_col", "partitions", "stats", "version"],
     "621a1205adfd"),
    ("overwrite", ["batch_ids", "bloom", "column_map", "constraints", "dir",
                   "dir_schemas", "dropped_columns", "dv", "dv_key", "op",
                   "partition_col", "partitions", "stats", "version"],
     "f4fbfb6482c4"),
    ("update", ["batch_ids", "bloom", "cdc", "column_map", "constraints",
                "dir", "dir_schemas", "dropped_columns", "dv", "dv_key", "op",
                "partition_col", "partitions", "stats", "version"],
     "9d21200caa62"),
    ("delete", ["batch_ids", "cdc", "column_map", "constraints", "dir",
                "dir_schemas", "dropped_columns", "dv", "dv_key", "op",
                "partition_col", "partitions", "stats", "version"],
     "e9dcd0ba1f7b"),
    ("merge", ["batch_ids", "cdc", "column_map", "constraints", "dir",
               "dir_schemas", "dropped_columns", "dv", "dv_key", "op",
               "partition_col", "partitions", "version"],
     "bf4c80b633ee"),
    ("evolve", ["batch_ids", "column_map", "constraints", "dir",
                "dir_schemas", "dropped_columns", "dv", "dv_key",
                "legacy_layouts", "op", "partition_col", "partitions",
                "version"],
     "851ac049d3fc"),
    ("restore", ["batch_ids", "bloom", "column_map", "constraints", "dir",
                 "dir_schemas", "dropped_columns", "dv", "dv_key", "op",
                 "partition_col", "partitions", "stats", "version"],
     "d75c3e8e132a"),
]


class TestTransact:
    """The one transaction core (`transact`) and the one successor rule
    (`_next_manifest`) every commit-log writer goes through."""

    def test_give_up_raises_once_and_leaves_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """A CAS that always loses: the writer raises ONE error naming
        the table after the attempt budget, with no stage dir and no
        manifest left behind."""
        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        calls = []

        def lose(table_dir, manifest):
            calls.append(manifest["version"])
            return False

        monkeypatch.setattr(sinks, "try_commit", lose)
        batch = spark.createDataFrame([(1, "a")], "k int, day string")
        with _pytest.raises(RuntimeError, match=f"32 attempts on {t}"):
            sinks.append_partition_transaction(spark, t, "day", batch)
        assert calls == [1] * 32
        assert not [n for n in os.listdir(t) if n.startswith("data-")]
        assert sinks.table_history(t) == []

    def test_successor_manifests_match_golden(self, spark, tmp_path):
        """Every writer that builds a successor manifest, driven through
        append → constraints → tombstones → rename → drop → overwrite →
        update → delete → merge → evolve → restore: each published
        manifest's key set and content are pinned."""
        trail = _manifest_trail(spark, str(tmp_path / "t"))
        assert [(op, keys, d) for op, keys, d in trail] == _TRAIL_GOLDEN

    def test_one_publish_loop(self):
        """CI guard against re-forking the core: only `transact` calls
        `_publish`/`try_commit` (and `_publish` calls `try_commit`), and
        no function under streaming/ takes a `max_retries` knob."""
        import ast
        import glob

        import nshm2022db_spark.streaming as pkg

        allowed = {"_publish": {"transact"}, "try_commit": {"transact", "_publish"}}
        callers: dict[str, set] = {name: set() for name in allowed}

        def visit(node, owner):
            # a call belongs to its innermost enclosing function
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = child.args
                    params = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                    assert "max_retries" not in params, child.name
                    visit(child, child.name)
                    continue
                if isinstance(child, ast.Call):
                    f = child.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    if name in callers:
                        callers[name].add(owner)
                visit(child, owner)

        for path in glob.glob(os.path.join(pkg.__path__[0], "*.py")):
            with open(path) as fh:
                visit(ast.parse(fh.read()), None)
        assert callers == allowed


def _dml_trail(spark, t: str) -> tuple[list[tuple], list[tuple], str]:
    """Drive the DML paths `_manifest_trail` does not reach — a
    delete-only merge (tombstone), UPDATE and DELETE over tombstones,
    partition-moving updates (a new entry and an extended unscanned
    one), a merge re-inserting a tombstoned key, a
    ``partition_values``-scoped delete, a delete emptying a partition,
    and ``change_data=False`` on all three writers. Returns the
    manifest digests, the final rows and a digest of the typed change
    feed over the whole history."""
    import hashlib

    from nshm2022db_spark.streaming import sinks

    schema = "k int, day string, v int"

    def rows(*r):
        return spark.createDataFrame(list(r), schema)

    sinks.append_partition_transaction(
        spark, t, "day",
        rows((1, "d1", 10), (2, "d1", 20), (3, "d1", 30), (4, "d2", 40),
             (5, "d2", 50), (6, "d2", 60), (7, "d3", 70), (8, "d3", 80)),
        stats_cols=["k"], bloom_cols=["k"],
    )
    sinks.set_table_constraints(spark, t, ["v >= 0"])
    sinks.merge_into_table(
        spark, t, rows((2, "d1", 0)), keys=["k"], when_matched_delete=True,
        stats_cols=["k"],
    )
    sinks.update_table(spark, t, {"v": "v + 1"}, where="k = 1", stats_cols=["k"])
    sinks.update_table(
        spark, t, {"day": "'d4'"}, where="k = 4", prune={"k": (4, 4)},
        stats_cols=["k"],
    )
    sinks.update_table(
        spark, t, {"day": "'d3'", "v": "v + 5"}, where="k = 5",
        prune={"k": (5, 5)}, stats_cols=["k"],
    )
    sinks.merge_into_table(
        spark, t, rows((2, "d1", 21)), keys=["k"],
        when_not_matched_insert=True, stats_cols=["k"],
    )
    sinks.merge_into_table(
        spark, t, rows((8, "d3", 0)), keys=["k"], when_matched_delete=True,
        stats_cols=["k"],
    )
    sinks.delete_table(
        spark, t, where="k = 7", partition_values=["d3"], stats_cols=["k"]
    )
    sinks.delete_table(spark, t, where="day = 'd4'", stats_cols=["k"])
    sinks.update_table(
        spark, t, {"v": "v * 2"}, where="k = 6", change_data=False
    )
    sinks.delete_table(spark, t, where="k = 3", change_data=False)
    sinks.merge_into_table(
        spark, t, rows((9, "d5", 90), (1, "d1", 0)), keys=["k"],
        when_matched_update={"v": "s.v"}, when_not_matched_insert=True,
        change_data=False,
    )
    final = sorted(
        (r.k, r.day, r.v) for r in sinks.read_keyed_table(spark, t).collect()
    )
    feed = sorted(
        repr(tuple(r))
        for r in sinks.read_table_changes_typed(spark, t, 0)
        .drop("_commit_timestamp")
        .collect()
    )
    return (
        _history_digests(t),
        final,
        hashlib.sha1("\n".join(feed).encode()).hexdigest()[:12],
    )


# (op, manifest keys, content digest) for every commit _dml_trail
# publishes, recorded before UPDATE and DELETE moved onto merge's
# commit pipeline (`_dml_commit`)
_DML_TRAIL_GOLDEN = [
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats", "version"],
     "32cb01eefddd"),
    ("set-constraints", ["batch_ids", "bloom", "constraints", "dir",
                         "dir_schemas", "op", "partition_col", "partitions",
                         "stats", "version"],
     "289ea9ed8297"),
    ("merge", ["batch_ids", "bloom", "cdc", "constraints", "dir",
               "dir_schemas", "dv", "dv_key", "op", "partition_col",
               "partitions", "stats", "version"],
     "601bdf2cf6f9"),
    ("update", ["batch_ids", "bloom", "cdc", "constraints", "dir",
                "dir_schemas", "dv", "dv_key", "op", "partition_col",
                "partitions", "stats", "version"],
     "28b504275cf0"),
    ("update", ["batch_ids", "bloom", "cdc", "constraints", "dir",
                "dir_schemas", "dv", "dv_key", "op", "partition_col",
                "partitions", "stats", "version"],
     "409684af9b56"),
    ("update", ["batch_ids", "cdc", "constraints", "dir", "dir_schemas", "dv",
                "dv_key", "op", "partition_col", "partitions", "stats",
                "version"],
     "a28c44a8081e"),
    ("merge", ["batch_ids", "cdc", "constraints", "dir", "dir_schemas", "dv",
               "dv_key", "op", "partition_col", "partitions", "stats",
               "version"],
     "57e05fa1b082"),
    ("merge", ["batch_ids", "cdc", "constraints", "dir", "dir_schemas", "dv",
               "dv_key", "op", "partition_col", "partitions", "stats",
               "version"],
     "ebda6c9d3002"),
    ("delete", ["batch_ids", "cdc", "constraints", "dir", "dir_schemas", "dv",
                "dv_key", "op", "partition_col", "partitions", "stats",
                "version"],
     "6b3dab4d2c97"),
    ("delete", ["batch_ids", "cdc", "constraints", "dir", "dir_schemas", "dv",
                "dv_key", "op", "partition_col", "partitions", "stats",
                "version"],
     "5f076ed6f5c0"),
    ("update", ["batch_ids", "constraints", "dir", "dir_schemas", "dv",
                "dv_key", "op", "partition_col", "partitions", "stats",
                "version"],
     "0f120d270eb8"),
    ("delete", ["batch_ids", "constraints", "dir", "dir_schemas", "dv",
                "dv_key", "op", "partition_col", "partitions", "stats",
                "version"],
     "bc53759e272a"),
    ("merge", ["batch_ids", "constraints", "dir", "dir_schemas", "dv",
               "dv_key", "op", "partition_col", "partitions", "stats",
               "version"],
     "ce71ab16f40d"),
]


class TestDmlCommit:
    """The one DML commit path (`_dml_commit`) that MERGE, UPDATE and
    DELETE share."""

    def test_dml_trail_matches_golden(self, spark, tmp_path):
        trail, final, feed = _dml_trail(spark, str(tmp_path / "t"))
        assert trail == _DML_TRAIL_GOLDEN
        assert final == [
            (1, "d1", 0), (2, "d1", 21), (5, "d3", 55), (6, "d2", 120),
            (9, "d5", 90),
        ]
        assert feed == "eccfa024b1e4"

    def test_dv_consolidation_reads_no_footers(
        self, spark, tmp_path, monkeypatch
    ):
        """A merge re-inserting a tombstoned key reads the deletion
        vectors through their recorded schema, never their footers."""
        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        schema = "k int, day string, v int"
        sinks.append_partition_transaction(
            spark, t, "day",
            spark.createDataFrame([(1, "a", 1), (2, "b", 2)], schema),
            stats_cols=["k"],
        )
        sinks.tombstone_keys(spark, t, "k", spark.createDataFrame([(1,)], "k int"))
        calls = []
        footer = sinks._footer_schema
        monkeypatch.setattr(
            sinks, "_footer_schema",
            lambda paths: calls.append(paths) or footer(paths),
        )
        m = sinks.merge_into_table(
            spark, t, spark.createDataFrame([(1, "a", 5)], schema),
            keys=["k"], when_not_matched_insert=True,
        )
        assert m["inserted"] == 1
        assert calls == []
        assert sorted(
            (r.k, r.v) for r in sinks.read_keyed_table(spark, t).collect()
        ) == [(1, 5), (2, 2)]

    def test_one_dml_commit_path(self):
        """CI guard against re-forking the DML tail: only `_dml_commit`
        materializes a decision frame, builds CDC images or stages a
        ``cdc`` dir; and no DML writer stages or publishes by itself.
        (Its stats and blooms come from the one successor rule that
        `TestSkippingTrail.test_one_skipping_rule` guards.)"""
        import ast
        import inspect

        from nshm2022db_spark.streaming import sinks

        owned = {"_materialize_decision", "_cdc_image_parts"}
        callers: set = set()

        def visit(node, owner):
            # a call belongs to its innermost enclosing function
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name)
                    continue
                if isinstance(child, ast.Call):
                    f = child.func
                    name = getattr(f, "id", None) or getattr(f, "attr", None)
                    cdc = name == "new_stage" and any(
                        isinstance(a, ast.Constant) and a.value == "cdc"
                        for a in child.args
                    )
                    if name in owned or cdc:
                        callers.add((owner, name))
                visit(child, owner)

        tree = ast.parse(inspect.getsource(sinks))
        visit(tree, None)
        assert {owner for owner, _ in callers} == {"_dml_commit"}
        assert {name for _, name in callers} == owned | {"new_stage"}
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and fn.name in (
                "merge_into_table", "update_table", "delete_table",
            ):
                called = {
                    getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                    for n in ast.walk(fn)
                    if isinstance(n, ast.Call)
                }
                assert not called & (
                    owned | {"_distribute_for_partitioned_write", "_next_manifest"}
                ), fn.name


def _skipping_trail(spark, t: str) -> list[tuple]:
    """Drive every writer that records per-entry stats or Bloom bitmaps
    through the cases their successor rule distinguishes — new entries,
    extended entries with and without values on either side, a changed
    bitmap geometry, replaced and rewritten entries, compaction,
    tombstone materialization, DML moves into new and existing entries,
    and a legacy-layout migration into new and existing entries — and
    return the manifest digests (`_history_digests`)."""
    from pyspark.sql import functions as F

    from nshm2022db_spark.streaming import sinks

    schema = "k int, day string, v int, g int"

    def rows(*r):
        return spark.createDataFrame(list(r), schema)

    def append(*r, **kw):
        sinks.append_partition_transaction(spark, t, "day", rows(*r), **kw)

    skip = {"stats_cols": ["k", "v"], "bloom_cols": ["k", "v"]}
    # new entries, then a merge into one of them beside a new one
    append((1, "d1", 10, 1), (2, "d1", 20, 1), (3, "d2", 30, 2), **skip)
    append((4, "d1", 40, 1), (5, "d3", 50, 3), **skip)
    # an extension without values drops the entry's stats and bitmaps
    append((6, "d2", 60, 2))
    # a different bitmap geometry and one stats column fewer
    append(
        (7, "d1", 70, 1), (8, "d4", 80, 4), stats_cols=["k"],
        bloom_cols=["k", "v"], bloom_bits=2048,
    )
    # values on the new side only: the stat-less entry stays stat-less
    append((9, "d2", 90, 2), **skip)
    sinks.overwrite_partition_transaction(
        spark, t, "day", rows((10, "d3", 100, 3), (11, "d5", 110, 5)),
        replace_where=["d3", "d5"], **skip,
    )
    sinks.committed_partition_transaction(
        spark, t, "day", lambda base: base.filter(F.col("day") == "d4"),
        affected=["d4"], stats_cols=["k"], bloom_cols=["v"],
    )
    sinks.committed_partition_transaction(
        spark, t, "day", lambda base: base.filter(F.col("day") == "d5"),
        affected=["d5"],
    )
    sinks.tombstone_keys(spark, t, "k", spark.createDataFrame([(2,)], "k int"))
    sinks.materialize_tombstones(spark, t, stats_cols=["k", "v"])
    append((12, "d1", 120, 1), (13, "d4", 130, 4), (17, "d8", 170, 8), **skip)
    # compaction inherits the recorded bloom spec and stats columns
    sinks.compact_partition_table(spark, t, max_files_per_partition=0)
    # DML: an in-place update, moves into a new and an existing entry
    # (the existing one unscanned, so it is extended), a merge whose
    # keys the bitmaps prune, inserting into an existing and a new
    # entry, and a predicate delete
    sinks.update_table(spark, t, {"v": "v + 1"}, where="k = 1", stats_cols=["k"])
    sinks.update_table(
        spark, t, {"day": "'d6'"}, where="k = 3", prune={"k": (3, 3)},
        stats_cols=["k"],
    )
    sinks.update_table(
        spark, t, {"day": "'d1'"}, where="k = 13", prune={"k": (13, 13)},
        stats_cols=["k", "v"],
    )
    sinks.merge_into_table(
        spark, t, rows((14, "d4", 140, 4), (15, "d7", 150, 7), (4, "d1", 41, 1)),
        keys=["k"], when_matched_update={"v": "s.v"},
        when_not_matched_insert=True, stats_cols=["k", "v"],
    )
    sinks.delete_table(spark, t, where="k = 9", stats_cols=["k"])
    # evolve, land new-layout entries, then migrate the legacy rows into
    # new entries and into an existing one
    sinks.evolve_partition_column(spark, t, "g")
    sinks.append_partition_transaction(
        spark, t, "g", rows((16, "d1", 160, 1)), stats_cols=["k"],
    )
    sinks.migrate_legacy_layouts(spark, t, stats_cols=["k", "v"])
    return _history_digests(t)


# (op, manifest keys, content digest) for every commit _skipping_trail
# publishes, recorded while each writer still built its successor's
# stats and bitmaps by hand
_SKIPPING_GOLDEN = [
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "300b66d4061c"),
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "a3819ae1d7ae"),
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "2bfac785687b"),
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "7eedb24c8af9"),
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "19ceaab19c99"),
    ("overwrite", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                   "partition_col", "partitions", "stats",
                   "version"],
     "4749fa03fa2c"),
    ("rewrite", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                 "partition_col", "partitions", "stats",
                 "version"],
     "f1c82778413b"),
    ("rewrite", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                 "partition_col", "partitions", "stats",
                 "version"],
     "6374a4c2d49b"),
    ("delete", ["batch_ids", "bloom", "dir", "dir_schemas", "dv", "dv_key",
                "op", "partition_col", "partitions", "stats",
                "version"],
     "fc73b5f386b7"),
    ("rewrite", ["batch_ids", "data_change", "dir", "dir_schemas", "op",
                 "partition_col", "partitions", "stats",
                 "version"],
     "1bae68dd64fb"),
    ("append", ["batch_ids", "bloom", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "69b18037db1f"),
    ("rewrite", ["batch_ids", "bloom", "data_change", "dir", "dir_schemas",
                 "op", "partition_col", "partitions",
                 "stats", "version"],
     "df0a182a9356"),
    ("update", ["batch_ids", "bloom", "cdc", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "f6e8f5b0c8c1"),
    ("update", ["batch_ids", "bloom", "cdc", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "d9a8ca038002"),
    ("update", ["batch_ids", "bloom", "cdc", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "25c58c5abd03"),
    ("merge", ["batch_ids", "bloom", "cdc", "dir", "dir_schemas", "op",
               "partition_col", "partitions", "stats",
               "version"],
     "b9ff5dadd069"),
    ("delete", ["batch_ids", "bloom", "cdc", "dir", "dir_schemas", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "95105faa8973"),
    ("evolve", ["batch_ids", "dir", "dir_schemas", "legacy_layouts", "op",
                "partition_col", "partitions", "version"],
     "16ef67076962"),
    ("append", ["batch_ids", "dir", "dir_schemas", "legacy_layouts", "op",
                "partition_col", "partitions", "stats",
                "version"],
     "e5e52142fcca"),
    ("migrate", ["batch_ids", "dir", "dir_schemas", "op", "partition_col",
                 "partitions", "stats", "version"],
     "f6526e225949"),
]


class TestSkippingTrail:
    """The one successor rule for per-entry stats and Bloom bitmaps
    (`_skipping_successor`) and the one Bloom prune (`_bloom_prune`)."""

    def test_skipping_trail_matches_golden(self, spark, tmp_path):
        assert _skipping_trail(spark, str(tmp_path / "t")) == _SKIPPING_GOLDEN

    def test_one_skipping_rule(self):
        """CI guard against re-forking data skipping: every
        `_next_manifest` call's ``stats=``/``bloom=`` is a name bound
        only by unpacking a `_skipping_successor` call, ``None`` or
        absent, and no ``**`` splat into it can carry either key; only
        `_bloom_prune` calls `_bloom_may_contain` and
        `_bloom_probes_prefetch`."""
        import ast
        import glob

        import nshm2022db_spark as pkg

        def owned(tree):
            """(node, innermost enclosing function) for every node."""
            stack = [(tree, None)]
            while stack:
                node, fn = stack.pop()
                yield node, fn
                inner = node if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) else fn
                stack.extend((c, inner) for c in ast.iter_child_nodes(node))

        def bindings(fn, name, uses=False):
            """Every value ``fn`` binds to ``name`` (None: a parameter,
            a loop variable or another unchecked binding; with
            ``uses``, also any ``name[...]`` or ``name.attr`` — an item
            store or a mutating method call)."""
            a = fn.args
            params = a.posonlyargs + a.args + a.kwonlyargs
            out = [None] if name in {x.arg for x in params} else []
            for node in ast.walk(fn):
                if uses and isinstance(
                    node, (ast.Subscript, ast.Attribute)
                ) and getattr(node.value, "id", None) == name:
                    out.append(None)
                    continue
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
                    targets, value = [node.target], None
                elif isinstance(node, (ast.For, ast.comprehension)):
                    targets, value = [node.target], None
                elif isinstance(node, ast.NamedExpr):
                    targets, value = [node.target], None
                else:
                    continue
                if any(
                    isinstance(n, ast.Name) and n.id == name
                    for t in targets for n in ast.walk(t)
                ):
                    out.append(value)
            return out

        def is_rule(value):
            return isinstance(value, ast.Call) and getattr(
                value.func, "id", None
            ) == "_skipping_successor"

        def names_key(node):
            return any(
                isinstance(n, ast.Constant) and n.value in ("stats", "bloom")
                for n in ast.walk(node)
            )

        probers = set()
        calls = 0
        for path in glob.glob(
            os.path.join(pkg.__path__[0], "**", "*.py"), recursive=True
        ):
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node, fn in owned(tree):
                if not isinstance(node, ast.Call):
                    continue
                name = getattr(node.func, "id", None) or getattr(
                    node.func, "attr", None
                )
                if name in ("_bloom_may_contain", "_bloom_probes_prefetch"):
                    probers.add(fn.name if fn else None)
                if name != "_next_manifest":
                    continue
                calls += 1
                for kw in node.keywords:
                    where = (path, node.lineno, kw.arg)
                    if kw.arg in ("stats", "bloom"):
                        v = kw.value
                        if isinstance(v, ast.Constant) and v.value is None:
                            continue
                        assert isinstance(v, ast.Name), where
                        bound = bindings(fn, v.id, uses=True)
                        assert bound and all(map(is_rule, bound)), where
                    elif kw.arg is None:
                        # a splat: the dict it expands never names either key
                        assert isinstance(kw.value, ast.Name), where
                        for b in bindings(fn, kw.value.id):
                            assert b is not None and not names_key(b), where
                        for n in ast.walk(fn):
                            if (
                                isinstance(n, ast.Call)
                                and isinstance(n.func, ast.Attribute)
                                and getattr(n.func.value, "id", None)
                                == kw.value.id
                            ):
                                assert not names_key(n), where
        assert calls >= 10
        assert probers == {"_bloom_prune"}

    def test_migrate_records_stats_under_physical_names(self, spark, tmp_path):
        """A migration on a column-mapped table keys its entries' stats
        by the PHYSICAL column name, the name every prune looks up."""
        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        schema = "k int, day string, g int"
        sinks.append_partition_transaction(
            spark, t, "day",
            spark.createDataFrame([(1, "d1", 1), (2, "d2", 2)], schema),
        )
        sinks.rename_column(spark, t, "k", "key")
        sinks.evolve_partition_column(spark, t, "g")
        sinks.append_partition_transaction(
            spark, t, "g",
            spark.createDataFrame([(3, "d3", 3)], "key int, day string, g int"),
        )
        sinks.migrate_legacy_layouts(spark, t, stats_cols=["key"])
        stats = sinks.current_commit(t)["stats"]
        assert sorted(stats) == ["g=1", "g=2"]
        assert {c for s in stats.values() for c in s["cols"]} == {"k"}
        assert stats["g=1"]["cols"]["k"] == [1, 1]
        assert sorted(
            r.key for r in sinks.read_keyed_table(
                spark, t, prune={"key": (2, 2)}
            ).collect()
        ) == [2, 3]  # g=3 has no stats, so it is read


def _jobs_of(spark, call) -> int:
    """Spark jobs ``call()`` runs, counted through its job group once the
    listener bus has delivered every job-start event to the status store."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestDmlWork:
    """Spark jobs per DML call on a 200-row, 4-partition table with key
    stats and Bloom bitmaps. Job counts do not drift with host load, so
    they pin the plan shapes of the shared commit path."""

    def _table(self, spark, tmp_path) -> str:
        from nshm2022db_spark.streaming.sinks import append_partition_transaction

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "day",
            spark.createDataFrame(
                [(k, f"d{k // 50}", float(k)) for k in range(200)],
                "k long, day string, v double",
            ),
            stats_cols=["k"], bloom_cols=["k"],
        )
        return t

    def test_update_jobs(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import update_table

        t = self._table(spark, tmp_path)
        assert [
            # moving update, no-match update, pruned-empty update
            _jobs_of(spark, lambda: update_table(
                spark, t, {"day": "'d3'", "v": "v + 1"}, where="k < 5",
                stats_cols=["k"],
            )),
            _jobs_of(spark, lambda: update_table(
                spark, t, {"v": "v + 1"}, where="k < 0",
            )),
            _jobs_of(spark, lambda: update_table(
                spark, t, {"v": "v + 1"}, where="k > 1000",
                prune={"k": (1000, None)},
            )),
        ] == [6, 3, 0]

    def test_delete_jobs(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import delete_table

        t = self._table(spark, tmp_path)
        assert _jobs_of(spark, lambda: delete_table(
            spark, t, where="k % 7 = 0", stats_cols=["k"],
        )) == 6

    def test_merge_jobs(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import merge_into_table

        t = self._table(spark, tmp_path)
        schema = "k long, day string, v double"
        assert [
            # upsert, delete-only (tombstones k=60), re-insert of k=60
            _jobs_of(spark, lambda: merge_into_table(
                spark, t,
                spark.createDataFrame([(5, "d0", -1.0), (250, "d5", 1.0)], schema),
                keys=["k"], when_matched_update={"v": "s.v"},
                when_not_matched_insert=True, stats_cols=["k"],
            )),
            _jobs_of(spark, lambda: merge_into_table(
                spark, t, spark.createDataFrame([(60, "d1", 0.0)], schema),
                keys=["k"], when_matched_delete=True, stats_cols=["k"],
            )),
            _jobs_of(spark, lambda: merge_into_table(
                spark, t, spark.createDataFrame([(60, "d1", 6.0)], schema),
                keys=["k"], when_not_matched_insert=True, stats_cols=["k"],
            )),
        ] == [11, 13, 20]


def _typed_feed_history(spark, t: str) -> None:
    """Eight commits over every image kind of the typed change feed: v1
    append over two partitions with key stats, v2 append, v3 key
    tombstone, v4 non-CDC merge that tombstones one key and inserts
    another into an existing partition (a generation extension), v5
    overwrite, v6 non-CDC update, v7 non-CDC predicate delete, v8 CDC
    merge."""
    from nshm2022db_spark.streaming import sinks

    schema = "k long, day string, v double"

    def rows(*r):
        return spark.createDataFrame(list(r), schema)

    sinks.append_partition_transaction(
        spark, t, "day",
        rows((1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0), (4, "d2", 4.0)),
        stats_cols=["k"],
    )
    sinks.append_partition_transaction(
        spark, t, "day", rows((5, "d1", 5.0), (6, "d3", 6.0)), stats_cols=["k"]
    )
    sinks.tombstone_keys(spark, t, "k", spark.createDataFrame([(2,)], "k long"))
    sinks.merge_into_table(
        spark, t, rows((3, "d2", 0.0), (7, "d1", 7.0)), keys=["k"],
        when_matched_delete=True, when_not_matched_insert=True,
        stats_cols=["k"], change_data=False,
    )
    sinks.overwrite_partition_transaction(
        spark, t, "day", rows((8, "d3", 8.0), (10, "d3", 10.0)),
        stats_cols=["k"],
    )
    sinks.update_table(
        spark, t, {"v": "v * 10"}, where="k = 1", stats_cols=["k"],
        change_data=False,
    )
    sinks.delete_table(
        spark, t, where="k = 5", stats_cols=["k"], change_data=False
    )
    sinks.merge_into_table(
        spark, t, rows((4, "d2", 40.0), (9, "d4", 9.0)), keys=["k"],
        when_matched_update={"v": "s.v"}, when_not_matched_insert=True,
        stats_cols=["k"],
    )


def _legacy_feed_history(spark, t: str) -> None:
    """A key tombstone over two partition layouts: v1 append by ``day``,
    v2 evolves the partition column to ``k``, v3 appends in the new
    layout, v4 tombstones one key from each layout."""
    from nshm2022db_spark.streaming import sinks

    schema = "k long, day string, v double"
    sinks.append_partition_transaction(
        spark, t, "day",
        spark.createDataFrame(
            [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d2", 3.0)], schema
        ),
        stats_cols=["k"],
    )
    sinks.evolve_partition_column(spark, t, "k")
    sinks.append_partition_transaction(
        spark, t, "k",
        spark.createDataFrame([(4, "d1", 4.0), (5, "d3", 5.0)], schema),
    )
    sinks.tombstone_keys(
        spark, t, "k", spark.createDataFrame([(2,), (5,)], "k long")
    )


def _feed_digest(df) -> str:
    """Column list plus sorted rows of a typed feed, commit time aside."""
    import hashlib

    if df is None:
        return "none"
    df = df.drop("_commit_timestamp")
    text = ",".join(df.columns) + "\n" + "\n".join(
        sorted(repr(tuple(r)) for r in df.collect())
    )
    return hashlib.sha1(text.encode()).hexdigest()[:12]


# `_feed_digest` of `read_table_changes_typed` per single-commit range
# (v-1, v] and over the whole history, recorded before the batch feed
# and the commitlog stream shared one per-commit image planner
_TYPED_FEED_GOLDEN = {
    "v1": "0f84121a3534",
    "v2": "c309a828ecce",
    "v3": "c90f2fbffe2f",
    "v4": "9ca85769cdaf",
    "v5": "596360e1044a",
    "v6": "a0fdbb6b4935",
    "v7": "453b2b3e4707",
    "v8": "f33ff514a62f",
    "all": "24aa3b11d934",
    "legacy_v4": "0d51184fc30a",
    "legacy_all": "05db416874ba",
}


class TestTypedFeedTrail:
    """The typed change feed over `_typed_feed_history` and
    `_legacy_feed_history`: digests pinned per commit and per range, and
    the typed commitlog stream equal to the batch feed row for row."""

    def test_typed_feed_matches_golden(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import read_table_changes_typed

        t = str(tmp_path / "t")
        _typed_feed_history(spark, t)
        got = {
            f"v{v}": _feed_digest(read_table_changes_typed(spark, t, v - 1, v))
            for v in range(1, 9)
        }
        got["all"] = _feed_digest(read_table_changes_typed(spark, t, 0))
        leg = str(tmp_path / "leg")
        _legacy_feed_history(spark, leg)
        got["legacy_v4"] = _feed_digest(
            read_table_changes_typed(spark, leg, 3, 4)
        )
        got["legacy_all"] = _feed_digest(read_table_changes_typed(spark, leg, 0))
        assert got == _TYPED_FEED_GOLDEN

    def test_typed_stream_matches_batch(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import read_table_changes_typed
        from nshm2022db_spark.streaming.table_source import (
            register_commitlog_source,
        )

        t = str(tmp_path / "t")
        _typed_feed_history(spark, t)
        register_commitlog_source(spark)
        q = (
            spark.readStream.format("commitlog")
            .option("path", t)
            .option("changeTypes", "true")
            .option("maxVersionsPerBatch", "1")
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("typed_feed_trail")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        cols = "k, day, v, _commit_version, _change_type"
        stream_rows = spark.sql(f"select {cols} from typed_feed_trail").collect()
        spark.catalog.dropTempView("typed_feed_trail")
        batch_rows = read_table_changes_typed(spark, t, 0).selectExpr(
            *cols.split(", ")
        ).collect()
        assert sorted(map(tuple, stream_rows)) == sorted(map(tuple, batch_rows))
        assert {r._commit_version for r in stream_rows} == set(range(1, 9))


class TestChangeFeedWork:
    """Eager Spark jobs of `read_table_changes_typed` on
    `_typed_feed_history`: planning the feed is driver metadata work, so
    building the frame runs no job."""

    def test_typed_feed_runs_no_job(self, spark, tmp_path):
        from nshm2022db_spark.streaming.sinks import read_table_changes_typed

        t = str(tmp_path / "t")
        _typed_feed_history(spark, t)
        assert [
            # key tombstone, non-CDC merge, whole history
            _jobs_of(spark, lambda: read_table_changes_typed(spark, t, 2, 3)),
            _jobs_of(spark, lambda: read_table_changes_typed(spark, t, 3, 4)),
            _jobs_of(spark, lambda: read_table_changes_typed(spark, t, 0)),
        ] == [0, 0, 0]


class TestChangeFeedPlanner:
    """One planner decides which row images a commit has
    (`_change_images`); the batch feed and the commitlog stream only
    execute them."""

    def test_untyped_feed_refuses_vacuumed_commits(self, spark, tmp_path):
        """A vacuumed commit in the range raises like the typed feed, the
        stream and the incremental maintainer do, instead of silently
        dropping its rows."""
        import pytest as _pytest

        from nshm2022db_spark.streaming.sinks import (
            append_partition_transaction,
            read_table_changes,
            vacuum_versions,
        )

        t = str(tmp_path / "t")
        for lo in (0, 3, 6):
            append_partition_transaction(
                spark, t, "day",
                spark.range(lo, lo + 3).selectExpr("id as k", "'d' as day"),
            )
        vacuum_versions(t, keep_last=1)
        with _pytest.raises(ValueError, match="vacuumed"):
            read_table_changes(spark, t, 0)
        rows = read_table_changes(spark, t, 2).collect()
        assert sorted((r.k, r._commit_version) for r in rows) == [
            (6, 3), (7, 3), (8, 3),
        ]

    def test_one_change_feed_planner(self):
        """CI guard against re-forking the image decision: `_dv_added_bounds`
        is defined once and only `_change_images` calls it, and the
        executors (`read_table_changes_typed`, `_typed_plan`,
        `_plan_changes`) compare nothing against the op names whose
        images the planner decides."""
        import ast
        import inspect

        from nshm2022db_spark.streaming import sinks, table_source

        ops = {"overwrite", "rewrite", "merge", "update"}
        executors = {"read_table_changes_typed", "_typed_plan", "_plan_changes"}
        defined, callers, compared = [], set(), set()
        for mod in (sinks, table_source):
            for fn in ast.parse(inspect.getsource(mod)).body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                for node in ast.walk(fn):
                    if isinstance(node, ast.FunctionDef) and (
                        node.name == "_dv_added_bounds"
                    ):
                        defined.append(mod.__name__)
                    if isinstance(node, ast.Call):
                        f = node.func
                        name = getattr(f, "id", None) or getattr(f, "attr", None)
                        if name == "_dv_added_bounds":
                            callers.add(fn.name)
                    if isinstance(node, ast.Compare) and fn.name in executors:
                        if any(
                            isinstance(c, ast.Constant) and c.value in ops
                            for c in ast.walk(node)
                        ):
                            compared.add(fn.name)
        assert defined == [sinks.__name__]
        assert callers == {"_change_images"}
        assert compared == set()


_KIND_SCHEMA = "k long, ord long, id long, v long"
_KIND_BATCHES = [
    [(1, 10, 1, 5), (2, 10, 1, 7), (1, 11, 2, 1)],
    [(2, 12, 3, 2), (3, 12, 4, 9), (2, 12, 5, 4)],
    [(1, 9, 6, 4), (3, 13, 7, 1), (4, 13, 8, 3)],
]


def _kind_tables(spark, root: str) -> dict:
    """Drive every writer of the keyed tables that commit their whole
    state as one unpartitioned entry — the upsert sink, the rollup sink,
    the merge-on-read (MOR) sink with one inline ``max_open_generations``
    fold followed by one more append and an explicit compaction, and a
    `maintain_incremental_agg` destination over a three-commit source —
    then replay each writer's batch ids. Returns ``{name: (table dir,
    replayed head == head)}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nshm2022db_spark.streaming import sinks

    src = os.path.join(root, "src")
    os.makedirs(src)
    names = ("k", "ord", "id", "v")
    for i, rows in enumerate(_KIND_BATCHES):
        path = os.path.join(src, f"b{i}.parquet")
        pq.write_table(
            pa.table({n: [r[j] for r in rows] for j, n in enumerate(names)}),
            path,
        )
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # file-source order

    def drain(sink, table: str, ckpt: str, **kw) -> None:
        stream = (
            spark.readStream.schema(_KIND_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink(
            stream, os.path.join(root, table), os.path.join(root, ckpt), **kw
        ).awaitTermination()

    def replayed(table: str, replay) -> bool:
        head = sinks.current_commit(os.path.join(root, table))
        replay()
        return sinks.current_commit(os.path.join(root, table)) == head

    up = dict(keys=["k"], order_col="ord", tiebreak=["id"])
    roll = dict(keys=["k"], sum_cols={"v": "total"})
    mor = dict(up, max_open_generations=2)
    drain(sinks.upsert_stream_to_table, "upsert", "c_up", **up)
    drain(sinks.rollup_stream_to_table, "rollup", "c_roll", **roll)
    drain(sinks.upsert_stream_to_table_mor, "mor", "c_mor", **mor)
    t_mor = os.path.join(root, "mor")
    late = spark.createDataFrame([(4, 14, 9, 6), (5, 14, 10, 2)], _KIND_SCHEMA)
    sinks.append_keyed_mor(spark, t_mor, late, batch_id=3, **mor)
    assert sinks.compact_keyed_mor(spark, t_mor)

    source, dest = os.path.join(root, "source"), os.path.join(root, "agg")

    def agg(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("total"),
        )

    def merge(base, add):
        if base is None:
            return add
        return base.unionByName(add).groupBy("k").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("total").cast("long").alias("total"),
        )

    for i, rows in enumerate(_KIND_BATCHES):
        sinks.append_partition_transaction(
            spark, source, "p",
            spark.createDataFrame(rows, _KIND_SCHEMA).withColumn(
                "p", (F.col("k") % 2).cast("string")
            ),
        )
        if i:
            sinks.maintain_incremental_agg(spark, source, dest, agg, merge)
    return {
        "upsert": replayed(
            "upsert",
            lambda: drain(sinks.upsert_stream_to_table, "upsert", "c_up2", **up),
        ),
        "rollup": replayed(
            "rollup",
            lambda: drain(
                sinks.rollup_stream_to_table, "rollup", "c_roll2", **roll
            ),
        ),
        "mor": replayed(
            "mor",
            lambda: sinks.append_keyed_mor(
                spark, t_mor, late, batch_id=1, **mor
            ),
        ),
        "agg": replayed(
            "agg",
            lambda: sinks.maintain_incremental_agg(
                spark, source, dest, agg, merge
            ),
        ),
    }


def _kind_trail(spark, root: str) -> dict:
    """Per table of `_kind_tables`: the replay no-op flag, then per
    committed version its columns and the sorted rows read by
    ``version=`` and by ``as_of=`` (the version's publish time)."""
    from nshm2022db_spark.streaming import sinks

    out = {}
    for name, noop in _kind_tables(spark, root).items():
        t = os.path.join(root, name)
        read = sinks.read_keyed_mor if name == "mor" else sinks.read_keyed_table
        versions = []
        for m in sinks.table_history(t):
            by_v = read(spark, t, version=m["version"])
            by_t = read(spark, t, as_of=m["committed_at"])
            versions.append(
                (
                    m["version"],
                    by_v.columns,
                    sorted(map(tuple, by_v.collect())),
                    sorted(map(tuple, by_t.collect())),
                )
            )
        out[name] = (noop, versions)
    return out


# (replay no-op, [(version, columns, rows by version, rows by as_of)])
# per table of `_kind_tables`; recorded before the one-kind fold, when
# these tables were single-dir and MOR tables
_KIND_KEYED = ["k", "ord", "id", "v"]
_KIND_AGG = ["k", "n", "total"]
_KIND_LATEST = [
    [(1, 11, 2, 1), (2, 10, 1, 7)],
    [(1, 11, 2, 1), (2, 12, 5, 4), (3, 12, 4, 9)],
    [(1, 11, 2, 1), (2, 12, 5, 4), (3, 13, 7, 1), (4, 13, 8, 3)],
    [(1, 11, 2, 1), (2, 12, 5, 4), (3, 13, 7, 1), (4, 14, 9, 6),
     (5, 14, 10, 2)],
]
_KIND_SUMS = [
    [(1, 2, 6), (2, 1, 7)],
    [(1, 2, 6), (2, 3, 13), (3, 1, 9)],
    [(1, 3, 10), (2, 3, 13), (3, 2, 10), (4, 1, 3)],
]
_KIND_GOLDEN = {
    "upsert": (True, [
        (v, _KIND_KEYED, _KIND_LATEST[v - 1], _KIND_LATEST[v - 1])
        for v in (1, 2, 3)
    ]),
    "rollup": (True, [
        (v, _KIND_AGG, _KIND_SUMS[v - 1], _KIND_SUMS[v - 1]) for v in (1, 2, 3)
    ]),
    # v4 is the inline fold (max_open_generations=2), v5 the late
    # append, v6 the explicit compaction
    "mor": (True, [
        (v, _KIND_KEYED, _KIND_LATEST[i], _KIND_LATEST[i])
        for v, i in ((1, 0), (2, 1), (3, 2), (4, 2), (5, 3), (6, 3))
    ]),
    "agg": (True, [
        (v, _KIND_AGG, _KIND_SUMS[v - 1], _KIND_SUMS[v - 1]) for v in (1, 2, 3)
    ]),
}


class TestOneTableKind:
    def test_keyed_tables_match_golden(self, spark, tmp_path):
        """Every version of the upsert, rollup, MOR and incremental-agg
        tables reads the same rows by version and by time, and every
        replayed batch id is a no-op."""
        assert _kind_trail(spark, str(tmp_path)) == _KIND_GOLDEN

    def test_every_manifest_is_a_partition_map(self, spark, tmp_path):
        """Every writer of the keyed tables — the upsert, rollup and MOR
        sinks, `maintain_incremental_agg`, `compact_keyed_mor` and
        `restore_table_version` — publishes a partition map with an
        ``op``: there is one table kind."""
        from nshm2022db_spark.streaming import sinks

        root = str(tmp_path)
        names = list(_kind_tables(spark, root)) + ["source"]
        for name in names:
            sinks.restore_table_version(os.path.join(root, name), 1)
        for name in names:
            hist = sinks.table_history(os.path.join(root, name))
            assert hist[-1]["op"] == "restore"
            for m in hist:
                assert {"partition_col", "partitions", "op"} <= set(m), (
                    name, m["version"],
                )

    def test_one_entry_tables_refuse_partition_maintenance(
        self, spark, tmp_path
    ):
        """A one-entry table — a `committed_transaction` table or a
        merge-on-read (MOR) one — is written whole by its own writers:
        column mapping, tombstones, spec evolution, constraints,
        partition compaction, counts, clones and partition transactions
        all refuse it and leave its head unchanged, so later reads and
        appends still resolve."""
        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks

        rows = spark.createDataFrame(
            [(1, 5, 1, 10), (2, 7, 2, 20)], "k long, ord long, id long, v long"
        )
        cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
        contract = dict(keys=["k"], order_col="ord", tiebreak=["id"])
        sinks.committed_transaction(spark, cow, lambda base: rows)
        for b in (0, 1):
            sinks.append_keyed_mor(spark, mor, rows, batch_id=b, **contract)
        t_keys = spark.createDataFrame([(2,)], "k long")
        for t in (cow, mor):
            head = sinks.current_commit(t)
            refusals = [
                lambda: sinks.rename_column(spark, t, "k", "key"),
                lambda: sinks.rename_column(spark, t, "v", "w"),
                lambda: sinks.drop_column(spark, t, "v"),
                lambda: sinks.drop_column(spark, t, "_gen"),
                lambda: sinks.tombstone_keys(spark, t, "k", t_keys),
                lambda: sinks.evolve_partition_column(spark, t, "k"),
                lambda: sinks.set_table_constraints(spark, t, ["v > 0"]),
                lambda: sinks.compact_partition_table(
                    spark, t, max_files_per_partition=0
                ),
                lambda: sinks.read_partition_counts(spark, t),
                lambda: sinks.clone_table_shallow(t, str(tmp_path / "c")),
                lambda: sinks.committed_partition_transaction(
                    spark, t, "k", lambda base: rows, affected=["1"]
                ),
            ]
            for call in refusals:
                with _pytest.raises(ValueError, match="partition"):
                    call()
            assert sinks.current_commit(t) == head
        got = sinks.read_keyed_table(spark, cow)
        assert sorted(map(tuple, got.collect())) == [(1, 5, 1, 10), (2, 7, 2, 20)]
        sinks.append_keyed_mor(
            spark, mor, rows.withColumn("v", F.col("v") + 1), batch_id=2,
            **contract,
        )
        got = sinks.read_keyed_mor(spark, mor)
        assert got.columns == ["k", "ord", "id", "v"]
        assert sorted(map(tuple, got.collect())) == [(1, 5, 1, 11), (2, 7, 2, 21)]

    def test_partition_transaction_keeps_the_spec(self, spark, tmp_path):
        """`committed_partition_transaction` on a committed table must
        name the table's own partition column, as appends and overwrites
        must: a rewrite under another column would re-key the map."""
        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
        sinks.append_partition_transaction(spark, t, "k", rows)
        head = sinks.current_commit(t)
        with _pytest.raises(ValueError, match="partitioned by 'k'"):
            sinks.committed_partition_transaction(
                spark, t, "id", lambda base: base, affected=["1"]
            )
        assert sinks.current_commit(t) == head

    def test_no_table_kind_branches(self):
        """CI guard against a second table kind: no function under
        streaming/ tests a manifest for a missing (or present)
        ``partitions`` key or reads a ``dirs`` key, and the one-entry and
        merge-on-read tests stay at their listed sites — the one read
        that hides ``_ONE_COL``, the two writers of one-entry tables,
        the one refusal of them (`_check_partitioned`), and the two MOR
        read guards."""
        import ast
        import glob

        import nshm2022db_spark.streaming as pkg

        def is_const(node, value) -> bool:
            return isinstance(node, ast.Constant) and node.value == value

        def kind_test(node) -> bool:
            if not isinstance(node, ast.Compare):
                return False
            sides = [node.left, *node.comparators]
            membership = any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops)
            return any(
                isinstance(n, ast.Name) and n.id == "_ONE_COL" for n in sides
            ) or (membership and is_const(node.left, "mor"))

        found, sites = [], set()
        for path in glob.glob(os.path.join(pkg.__path__[0], "*.py")):
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn in tree.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                for node in ast.walk(fn):
                    if kind_test(node):
                        sites.add((os.path.basename(path), fn.name))
            for node in ast.walk(tree):
                if isinstance(node, ast.Compare) and is_const(
                    node.left, "partitions"
                ) and any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops):
                    found.append((path, node.lineno))
                if isinstance(node, ast.Subscript) and is_const(
                    node.slice, "dirs"
                ):
                    found.append((path, node.lineno))
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "get"
                    and node.args
                    and is_const(node.args[0], "dirs")
                ):
                    found.append((path, node.lineno))
        assert found == []
        assert sites == {
            ("sinks.py", "_read_partition_map"),
            ("sinks.py", "committed_transaction"),
            ("sinks.py", "_check_partitioned"),
            ("sinks.py", "_read_keyed"),
            ("sinks.py", "_mor_view"),
        }


def _footer_free_trail(spark, root: str, patch) -> dict:
    """Migrate a raw ``partitionBy`` layout and evolve a second table's
    spec (both may read footers), call ``patch()``, then drive every
    committed read and writer whose schema must come from the manifest
    alone. Returns each step's rows, sorted."""
    from nshm2022db_spark.streaming import sinks

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    schema = "k int, day string, v int"
    t = os.path.join(root, "raw")
    spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d3", 40)], schema
    ).write.partitionBy("day").parquet(t)
    sinks.committed_partition_transaction(
        spark, t, "day", lambda base: base.filter("day = 'd3'"),
        affected=["d3"],
    )
    # d1 becomes "." plus one appended generation
    sinks.append_partition_transaction(
        spark, t, "day", spark.createDataFrame([(5, "d1", 50)], schema)
    )
    ev = os.path.join(root, "evolved")
    evs = "k int, day string, region string"
    sinks.append_partition_transaction(
        spark, ev, "day",
        spark.createDataFrame([(1, "d1", "n"), (2, "d2", "s")], evs),
    )
    sinks.evolve_partition_column(spark, ev, "region")
    sinks.append_partition_transaction(
        spark, ev, "region", spark.createDataFrame([(3, "d3", "n")], evs)
    )
    patch()
    out = {"migrated": rows(sinks.read_keyed_table(spark, t), "k", "day", "v")}
    out["legacy"] = rows(
        sinks.read_keyed_table(spark, ev), "k", "day", "region"
    )
    out["compacted"] = sinks.compact_partition_table(
        spark, t, max_files_per_partition=1, bloom_cols=["k"]
    )
    out["after_compact"] = rows(
        sinks.read_keyed_table(spark, t, prune={"k": ("eq", 5)}),
        "k", "day", "v",
    )
    sinks.tombstone_keys(spark, t, "k", spark.createDataFrame([(2,)], "k int"))
    sinks.merge_into_table(
        spark, t, spark.createDataFrame([(2, "d1", 21)], schema),
        keys=["k"], when_not_matched_insert=True,
    )
    sinks.update_table(spark, t, {"v": "v + 1"}, where="k = 1")
    sinks.delete_table(spark, t, "k = 3")
    out["dml"] = rows(sinks.read_keyed_table(spark, t), "k", "day", "v")
    out["feed"] = rows(
        sinks.read_table_changes_typed(spark, t, 0),
        "_commit_version", "_change_type", "k", "day", "v",
    )
    sinks.migrate_legacy_layouts(spark, ev)
    out["migrated_legacy"] = rows(
        sinks.read_keyed_table(spark, ev), "k", "day", "region"
    )
    clone = os.path.join(root, "clone")
    sinks.clone_table_shallow(t, clone)
    out["clone"] = rows(sinks.read_keyed_table(spark, clone), "k", "day", "v")
    return out


class TestRecordedSchemaOnly:
    """The manifest's ``dir_schemas`` is the one schema source of a
    committed read: no footer read, no inference read."""

    def test_committed_reads_need_no_footers(
        self, spark, tmp_path, monkeypatch
    ):
        """Once a raw layout has migrated (its migration may read
        footers), every read and writer of committed data runs with
        footer schema reads raising, with the rows the footer-reading
        code gave."""
        import pyarrow.parquet as pq

        from nshm2022db_spark.streaming import sinks

        def refuse(*a, **kw):
            raise AssertionError("footer schema read of committed data")

        def patch():
            monkeypatch.setattr(sinks, "_footer_schema", refuse)
            monkeypatch.setattr(pq, "read_schema", refuse)

        got = _footer_free_trail(spark, str(tmp_path), patch)
        assert got == {
            "migrated": [
                (1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d3", 40),
                (5, "d1", 50),
            ],
            "legacy": [(1, "d1", "n"), (2, "d2", "s"), (3, "d3", "n")],
            "compacted": ["day=d1"],
            "after_compact": [
                (1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d3", 40),
                (5, "d1", 50),
            ],
            "dml": [(1, "d1", 11), (2, "d1", 21), (4, "d3", 40), (5, "d1", 50)],
            "feed": [
                (1, "insert", 1, "d1", 10), (1, "insert", 2, "d1", 20),
                (1, "insert", 3, "d2", 30), (1, "insert", 4, "d3", 40),
                (2, "insert", 5, "d1", 50), (4, "delete", 2, "d1", 20),
                (5, "insert", 2, "d1", 21),
                (6, "update_postimage", 1, "d1", 11),
                (6, "update_preimage", 1, "d1", 10),
                (7, "delete", 3, "d2", 30),
            ],
            "migrated_legacy": [
                (1, "d1", "n"), (2, "d2", "s"), (3, "d3", "n"),
            ],
            "clone": [
                (1, "d1", 11), (2, "d1", 21), (4, "d3", 40), (5, "d1", 50),
            ],
        }

    def test_migration_records_the_raw_layout_schema(self, spark, tmp_path):
        """The version-0 migration records the raw files' schema for
        ``"."`` — partition column projected out, every field nullable,
        the type Spark reads (an INT96 timestamp stays ``timestamp``) —
        and merges files written with an added column by name."""
        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        ts = F.to_timestamp(F.lit("2024-01-02 03:04:05"))
        first = spark.createDataFrame([(1, "a")], "k int, day string")
        first.withColumn("ts", ts).write.partitionBy("day").parquet(t)
        added = spark.createDataFrame(
            [(2, "b", "x")], "k int, day string, extra string"
        )
        added.withColumn("ts", ts).write.mode("append").partitionBy(
            "day"
        ).parquet(t)
        sinks.committed_partition_transaction(
            spark, t, "day", lambda base: base.limit(0), affected=[]
        )
        sj = sinks.current_commit(t)["dir_schemas"]["."]
        assert [(f["name"], f["type"], f["nullable"]) for f in sj["fields"]] == [
            ("k", "integer", True), ("ts", "timestamp", True),
            ("extra", "string", True),
        ]
        got = sorted(
            (r.k, r.day, r.extra)
            for r in sinks.read_keyed_table(spark, t).collect()
        )
        assert got == [(1, "a", None), (2, "b", "x")]

    def test_one_schema_source(self):
        """CI guard: under streaming/ no read asks Spark to merge
        schemas, the partition-inference conf flip is gone, and
        `_footer_schema` is referenced only by `_read_parquet_fast` (the
        reader of non-committed parquet)."""
        import ast
        import glob

        import nshm2022db_spark.streaming as pkg

        merge, flip, footer = [], [], set()

        def visit(node, owner):
            for child in ast.iter_child_nodes(node):
                name = owner
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                    if name == "_no_partition_inference":
                        flip.append(name)
                if isinstance(child, ast.Constant) and child.value == "mergeSchema":
                    merge.append(child.lineno)
                if isinstance(child, ast.keyword) and child.arg == "mergeSchema":
                    merge.append(child.value.lineno)
                ident = getattr(child, "id", None) or getattr(child, "attr", None)
                if ident == "_no_partition_inference":
                    flip.append(child.lineno)
                if ident == "_footer_schema":
                    footer.add(owner)
                visit(child, name)

        for path in glob.glob(os.path.join(pkg.__path__[0], "*.py")):
            with open(path) as fh:
                visit(ast.parse(fh.read()), None)
        assert merge == [] and flip == []
        assert footer == {"_read_parquet_fast"}


class TestVersionLookup:
    def test_versioned_reads_open_one_manifest(
        self, spark, tmp_path, monkeypatch
    ):
        """A ``version=`` read, an ``as_of=`` read, a versioned clone and
        a restore each find their manifest without scanning the log; a
        missing version still raises."""
        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        schema = "k int, day string"
        for i in range(3):
            sinks.append_partition_transaction(
                spark, t, "day", spark.createDataFrame([(i, "a")], schema)
            )
        at2 = sinks.table_history(t)[1]["committed_at"]

        def no_scan(table_dir):
            raise AssertionError("full commit-log scan")

        monkeypatch.setattr(sinks, "table_history", no_scan)
        assert sorted(
            r.k for r in sinks.read_keyed_table(spark, t, version=2).collect()
        ) == [0, 1]
        assert sorted(
            r.k for r in sinks.read_keyed_table(spark, t, as_of=at2).collect()
        ) == [0, 1]
        assert sinks.read_keyed_table(spark, t, as_of=0.0) is None
        clone = str(tmp_path / "clone")
        assert sinks.clone_table_shallow(t, clone, version=1) == 1
        assert [r.k for r in sinks.read_keyed_table(spark, clone).collect()] == [0]
        assert sinks.restore_table_version(t, 1) == 4
        assert [r.k for r in sinks.read_keyed_table(spark, t).collect()] == [0]
        for call in (
            lambda: sinks.read_keyed_table(spark, t, version=9),
            lambda: sinks.clone_table_shallow(t, str(tmp_path / "c2"), 9),
            lambda: sinks.restore_table_version(t, 9),
        ):
            with _pytest.raises(ValueError, match="version 9 not committed"):
                call()

    def test_one_version_feeds_open_few_manifests(
        self, spark, tmp_path, monkeypatch
    ):
        """On a 30-version table a one-version read through either change
        feed opens at most 3 manifests — the head, the range and its diff
        base — not the whole log; a vacuumed range and a vacuumed diff
        base still raise."""
        import pytest as _pytest

        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        schema = "k int, day string, v int"
        sinks.append_partition_transaction(
            spark, t, "day", spark.createDataFrame([(0, "a", 0)], schema)
        )
        for i in range(28):
            sinks.set_table_constraints(spark, t, [f"v >= {-i}"])
        sinks.overwrite_partition_transaction(
            spark, t, "day", spark.createDataFrame([(1, "a", 1)], schema)
        )
        opened = []
        read_json = sinks._read_json

        def spy(path):
            if os.path.basename(os.path.dirname(path)) == sinks._COMMITS:
                opened.append(os.path.basename(path))
            return read_json(path)

        monkeypatch.setattr(sinks, "_read_json", spy)
        for read, want in (
            (sinks.read_table_changes, [(1, None)]),
            (sinks.read_table_changes_typed, [(0, "delete"), (1, "insert")]),
        ):
            for to in (30, None):
                opened.clear()
                df = read(spark, t, 29, to)
                assert sorted(
                    (r.k, r["_change_type"] if "_change_type" in df.columns
                     else None)
                    for r in df.collect()
                ) == want
                assert len(opened) <= 3, (read.__name__, to, opened)
        monkeypatch.setattr(sinks, "_read_json", read_json)
        sinks.vacuum_versions(t, keep_last=1)
        with _pytest.raises(ValueError, match="commit 29 .* was vacuumed"):
            sinks.read_table_changes(spark, t, 28)
        with _pytest.raises(ValueError, match="diff base"):
            sinks.read_table_changes_typed(spark, t, 29)

    def test_untagged_restore_adds_no_rows(self, spark, tmp_path):
        """On a legacy history whose manifests carry no ``op`` tag, a
        RESTORE is still recognised by the earlier commit's dir it
        re-publishes: the untyped feed replays none of its rows, and the
        untagged appends still read."""
        import json

        from nshm2022db_spark.streaming import sinks

        t = str(tmp_path / "t")
        schema = "k int, day string"
        for rows in ([(0, "a"), (1, "b")], [(2, "a")]):
            sinks.append_partition_transaction(
                spark, t, "day", spark.createDataFrame(rows, schema)
            )
        assert sinks.restore_table_version(t, 1) == 3
        log = os.path.join(t, sinks._COMMITS)
        for n in os.listdir(log):
            p = os.path.join(log, n)
            with open(p) as f:
                m = json.load(f)
            m.pop("op", None)
            with open(p, "w") as f:
                json.dump(m, f)
        assert sorted(
            (r.k, r._commit_version)
            for r in sinks.read_table_changes(spark, t, 0).collect()
        ) == [(0, 1), (1, 1), (2, 2)]
        assert sinks.read_table_changes(spark, t, 2) is None

    def test_refresh_opens_each_manifest_once(
        self, spark, tmp_path, monkeypatch
    ):
        """One `maintain_incremental_agg` refresh opens each source
        manifest at most once (the head at most twice), and folding a
        version re-reads neither the log nor its manifest."""
        from collections import Counter

        from nshm2022db_spark.streaming import sinks

        src = str(tmp_path / "src")
        schema = "k int, day string, v int"
        sinks.append_partition_transaction(
            spark, src, "day", spark.createDataFrame([(0, "a", 0)], schema)
        )
        for i in range(8):
            sinks.set_table_constraints(spark, src, [f"v >= {-i}"])
        sinks.append_partition_transaction(
            spark, src, "day", spark.createDataFrame([(1, "b", 1)], schema)
        )
        opened = Counter()
        read_json = sinks._read_json

        def spy(path):
            if path.startswith(src + os.sep) and os.path.basename(
                os.path.dirname(path)
            ) == sinks._COMMITS:
                opened[os.path.basename(path)] += 1
            return read_json(path)

        monkeypatch.setattr(sinks, "_read_json", spy)
        agg = lambda d: d.groupBy("day").agg(F.count("*").alias("n"))  # noqa: E731
        merge = lambda c, a: a if c is None else c.unionByName(a).groupBy(  # noqa: E731
            "day"
        ).agg(F.sum("n").alias("n"))
        dst = str(tmp_path / "dst")
        assert sinks.maintain_incremental_agg(spark, src, dst, agg, merge) == 2
        head = max(opened)
        assert opened[head] <= 2, opened
        assert len(opened) == 10 and all(
            c == 1 for n, c in opened.items() if n != head
        ), opened
        assert sorted(
            (r.day, r.n) for r in sinks.read_keyed_table(spark, dst).collect()
        ) == [("a", 1), ("b", 1)]
