"""Streaming source over the commit-log table (streaming/table_source.py).

The contract under test is `read_table_changes`' batch semantics lifted
into a Structured Streaming source: version-cursor offsets, per-commit
partition planning, append-only soundness raises, schema evolution, and
crash/replay exactly-once at a mid-stream cursor (VERDICT r06 #3's
"plus a crash/replay test" requirement).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nshm2022db_spark.streaming.sinks import (
    append_partition_transaction,
    committed_transaction,
    read_keyed_table,
    tombstone_keys,
)
from nshm2022db_spark.streaming.table_source import (
    CommitLogStreamReader,
    _plan_changes,
    register_commitlog_source,
    table_stream_schema,
)


def _mkrows(spark, lo, hi, day="2024-01-01", extra=None):
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("double").alias("v"),
        F.lit(day).alias("day"),
    )
    if extra is not None:
        df = df.withColumn("tag", F.lit(extra))
    return df


@pytest.fixture()
def bronze(spark):
    d = tempfile.mkdtemp(prefix="tsrc_")
    append_partition_transaction(spark, d, "day", _mkrows(spark, 0, 5), batch_id=0)
    append_partition_transaction(
        spark, d, "day", _mkrows(spark, 5, 9, day="2024-01-02"), batch_id=1
    )
    append_partition_transaction(spark, d, "day", _mkrows(spark, 9, 12), batch_id=2)
    return d


class TestPlanning:
    def test_plan_covers_only_range(self, bronze):
        plan = _plan_changes(bronze, 1, 3)
        assert {p["version"] for p in plan} == {2, 3}
        assert all(p["pcol"] == "day" for p in plan)
        # commit 2 landed only day 2024-01-02; commit 3 only 2024-01-01
        by_v = {}
        for p in plan:
            by_v.setdefault(p["version"], set()).add(p["value"])
        assert by_v == {2: {"2024-01-02"}, 3: {"2024-01-01"}}

    def test_schema_includes_partition_and_version(self, bronze):
        s = table_stream_schema(bronze)
        assert s["day"].dataType.simpleString() == "string"
        assert s["_commit_version"].dataType.simpleString() == "bigint"
        assert s["k"].dataType.simpleString() == "bigint"

    def test_stream_timestamp_type_equals_batch(self, spark, tmp_path):
        """A ``TimestampType`` column streams as ``timestamp``: the
        stream's schema, the batch read and the manifest's recorded
        schema agree (the session writes INT96, which pyarrow reads
        tz-naive; the executor casts it to the stream's type)."""
        from nshm2022db_spark.streaming.sinks import current_commit

        t = str(tmp_path / "t")
        append_partition_transaction(
            spark, t, "day",
            spark.createDataFrame([(1, "a")], "k long, day string").withColumn(
                "ts", F.to_timestamp(F.lit("2024-01-02 03:04:05"))
            ),
        )
        assert table_stream_schema(t)["ts"].dataType.simpleString() == (
            "timestamp"
        )
        assert read_keyed_table(spark, t).schema["ts"].dataType.simpleString() == (
            "timestamp"
        )
        (sj,) = current_commit(t)["dir_schemas"].values()
        assert {f["name"]: f["type"] for f in sj["fields"]}["ts"] == "timestamp"

    def test_schema_opens_no_parquet_file(self, bronze, monkeypatch):
        """The schema comes from the head manifest's recorded
        `dir_schemas` alone: no footer or data file is opened."""
        import pyarrow.parquet as pq

        def refuse(*a, **k):
            raise AssertionError("table_stream_schema opened a parquet file")

        for name in ("read_schema", "read_table", "ParquetFile"):
            monkeypatch.setattr(pq, name, refuse)
        s = table_stream_schema(bronze, change_types=True)
        assert s.names == [
            "k", "v", "day", "_commit_version", "_change_type",
            "_commit_timestamp",
        ]

    def test_non_append_history_raises(self, spark, bronze):
        tombstone_keys(
            spark, bronze, "k", spark.range(5, 7).select(F.col("id").alias("k"))
        )
        with pytest.raises(ValueError, match="append-only"):
            _plan_changes(bronze, 0, 4)
        # but a range BEFORE the delete still plans fine
        assert {p["version"] for p in _plan_changes(bronze, 0, 3)} == {1, 2, 3}

    def test_vacuumed_range_raises(self, spark, bronze):
        from nshm2022db_spark.streaming.sinks import vacuum_versions

        vacuum_versions(bronze, keep_last=1)
        with pytest.raises(ValueError, match="vacuumed"):
            _plan_changes(bronze, 0, 3)

    def test_committed_transaction_table_rejected(self, spark):
        """A `committed_transaction` table commits whole-table rewrites,
        which an additive stream cannot serve."""
        d = tempfile.mkdtemp(prefix="tsrc_single_")
        committed_transaction(
            spark, d, lambda base: _mkrows(spark, 0, 3), batch_id=0
        )
        with pytest.raises(ValueError, match="append-only"):
            _plan_changes(d, 0, 1)


class TestUnitPacking:
    """r15: plan units byte-pack into executor tasks (guide §6) — the
    unit stays the correctness boundary, the task count tracks bytes."""

    def test_tiny_units_pack_into_one_task(self, bronze):
        from nshm2022db_spark.streaming.table_source import (
            CommitLogUnitGroup,
            _pack_units,
        )

        r = CommitLogStreamReader(table_stream_schema(bronze), {"path": bronze})
        groups = r.partitions({"version": 0}, {"version": 3})
        assert all(isinstance(g, CommitLogUnitGroup) for g in groups)
        # three tiny commits: KBs of data against a 128 MiB target with
        # 4 MiB open cost -> well under the boundary, a handful of tasks
        units = [u for g in groups for u in g.units]
        assert {u.version for u in units} == {1, 2, 3}
        assert len(groups) < len(units)
        # no unit lost or duplicated by packing
        assert sorted(f for u in units for f in u.files) == sorted(
            f for p in _plan_changes(bronze, 0, 3) for f in p["files"]
        )

    def test_open_cost_splits_many_small_units(self, bronze):
        from nshm2022db_spark.streaming.table_source import _pack_units

        plan = _plan_changes(bronze, 0, 3)
        from nshm2022db_spark.streaming.table_source import CommitLogPartition

        units = [
            CommitLogPartition(p["files"], p["pcol"], p["value"], p["version"])
            for p in plan
        ]
        # open cost dominates tiny files: target of 2 open-costs ->
        # ceil(n_files/2)-ish groups, always >= 2 for our 4 units
        groups = _pack_units(units, target_bytes=2 << 20, open_cost=1 << 20)
        assert len(groups) >= 2
        assert [u for g in groups for u in g.units] == units


class TestOffsets:
    def test_admission_control_bounds_batches(self, bronze):
        r = CommitLogStreamReader(
            table_stream_schema(bronze),
            {"path": bronze, "maxversionsperbatch": "1"},
        )
        assert r.initialOffset() == {"version": 0}
        assert r.latestOffset() == {"version": 1}
        r.partitions({"version": 0}, {"version": 1})
        assert r.latestOffset() == {"version": 2}
        r.commit({"version": 2})
        assert r.latestOffset() == {"version": 3}

    def test_fresh_start_latest_before_initial_is_bounded(self, bronze):
        # Spark 4.1.2 calls latestOffset() BEFORE initialOffset() on a
        # fresh start (probed call order) — admission control must
        # already engage on the very first micro-batch
        r = CommitLogStreamReader(
            table_stream_schema(bronze),
            {"path": bronze, "maxversionsperbatch": "1"},
        )
        assert r.latestOffset() == {"version": 1}

    def test_restart_replay_raises_floor_never_backwards(self, bronze):
        # Spark 4.1.2 restart (probed call order): a
        # partitions(committed, committed) replay of the checkpointed
        # range arrives BEFORE the first latestOffset(), so the floor
        # learns the checkpoint and latestOffset never returns an
        # offset below it (backwards batches would re-emit commits)
        r = CommitLogStreamReader(
            table_stream_schema(bronze),
            {"path": bronze, "maxversionsperbatch": "1"},
        )
        r.partitions({"version": 2}, {"version": 2})  # checkpoint replay
        assert r.latestOffset() == {"version": 3}
        # even with no new commits beyond the floor, never below it
        r.commit({"version": 3})
        assert r.latestOffset() == {"version": 3}

    def test_stall_probe_fallback_steps_floor_on_replayless_restart(
        self, bronze
    ):
        # ADVICE r08: on a runtime that restarts WITHOUT the
        # partitions(committed, committed) replay, a clamped offset can
        # sit at-or-below the checkpoint forever. Repeated clamped
        # latestOffset probes (with no partitions()/commit() observed)
        # must step the floor by one admission quantum per trigger so
        # the advertised offset eventually passes any checkpoint —
        # bounded catch-up, never a stall, never data loss (Spark
        # supplies the batch's start).
        r = CommitLogStreamReader(
            table_stream_schema(bronze),
            {"path": bronze, "maxversionsperbatch": "1"},
        )
        # bronze holds 3 commits; simulate a checkpoint at version 2
        assert r.latestOffset() == {"version": 1}  # first probe: clamped
        assert r.latestOffset() == {"version": 2}  # stepped one quantum
        assert r.latestOffset() == {"version": 3}  # reaches the head
        # once Spark constructs a batch, the fallback disarms for good
        r.partitions({"version": 2}, {"version": 3})
        assert r.latestOffset() == {"version": 3}

    def test_stall_probe_disarmed_by_initial_offset(self, bronze):
        # r9 review: initialOffset only fires on a checkpoint-less FRESH
        # start, where a stall is impossible — a runtime that probes
        # latestOffset repeatedly before planning the first batch must
        # NOT widen the admission bound once initialOffset was seen
        r = CommitLogStreamReader(
            table_stream_schema(bronze),
            {"path": bronze, "maxversionsperbatch": "1"},
        )
        assert r.latestOffset() == {"version": 1}
        assert r.initialOffset() == {"version": 0}
        assert r.latestOffset() == {"version": 1}  # still clamped
        assert r.latestOffset() == {"version": 1}  # never steps

    def test_stall_probe_never_fires_after_observation(self, bronze):
        # the healthy Spark 4.1.2 path: a fresh start's first clamped
        # offset is followed by a real batch — the fallback must then
        # never widen a later clamp (admission stays exactly N commits)
        r = CommitLogStreamReader(
            table_stream_schema(bronze),
            {"path": bronze, "maxversionsperbatch": "1"},
        )
        assert r.latestOffset() == {"version": 1}
        r.partitions({"version": 0}, {"version": 1})
        assert r.latestOffset() == {"version": 2}
        assert r.latestOffset() == {"version": 2}  # no stepping
        r.commit({"version": 2})
        assert r.latestOffset() == {"version": 3}


class TestEndToEnd:
    def _stream(self, spark, bronze, **opts):
        register_commitlog_source(spark)
        reader = spark.readStream.format("commitlog").option("path", bronze)
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()

    def test_stream_equals_batch_read(self, spark, bronze):
        got = self._stream(spark, bronze, maxVersionsPerBatch=1)
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_all")
            .start()
        )
        try:
            q.processAllAvailable()
            # 3 commits drained through 1-version micro-batches
            assert len(q.recentProgress) >= 3
        finally:
            q.stop()
        rows = spark.sql(
            "select k, v, day, _commit_version from tsrc_all"
        ).collect()
        spark.catalog.dropTempView("tsrc_all")
        batch = read_keyed_table(spark, bronze)
        assert {(r.k, r.v, r.day) for r in rows} == {
            (r.k, r.v, r.day) for r in batch.collect()
        }
        by_version = {}
        for r in rows:
            by_version.setdefault(r._commit_version, set()).add(r.k)
        assert by_version == {
            1: set(range(0, 5)),
            2: set(range(5, 9)),
            3: set(range(9, 12)),
        }

    def test_crash_replay_mid_cursor_exactly_once(self, spark, bronze):
        """Stop after the first micro-batch, append one MORE commit while
        the stream is down, restart from the same checkpoint: every row
        exactly once, no re-emission of folded commits."""
        ckpt = tempfile.mkdtemp(prefix="tsrc_ckpt_")
        out_dir = tempfile.mkdtemp(prefix="tsrc_out_")

        def drain():
            got = self._stream(spark, bronze, maxVersionsPerBatch=1)
            q = (
                got.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        # phase 1: drain what exists (3 commits), then "crash" (stop)
        drain()
        # crash window: a 4th commit lands while the stream is down
        append_partition_transaction(
            spark, bronze, "day",
            _mkrows(spark, 12, 15, day="2024-01-03"), batch_id=3,
        )
        # phase 2: restart from the checkpoint — only commit 4 is new
        drain()
        rows = spark.read.parquet(out_dir).collect()
        ks = sorted(r.k for r in rows)
        assert ks == list(range(15)), "exactly-once across restart"
        v4 = {r.k for r in rows if r._commit_version == 4}
        assert v4 == {12, 13, 14}

    def test_schema_evolution_nulls_for_old_commits(self, spark):
        d = tempfile.mkdtemp(prefix="tsrc_evo_")
        append_partition_transaction(spark, d, "day", _mkrows(spark, 0, 3), batch_id=0)
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 3, 6, extra="x"), batch_id=1
        )
        got = self._stream(spark, d)
        assert "tag" in got.columns
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_evo")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql("select k, tag, _commit_version from tsrc_evo").collect()
        spark.catalog.dropTempView("tsrc_evo")
        assert {r.tag for r in rows if r._commit_version == 1} == {None}
        assert {r.tag for r in rows if r._commit_version == 2} == {"x"}

    def test_stream_schema_equals_batch_across_evolution_and_clone(
        self, spark, tmp_path
    ):
        """On a table with a timestamp column, a struct column a later
        append added, a renamed key, a dropped column and a shallow
        clone, the stream's data fields equal the batch read's by
        (name, type), and a micro-batch's timestamps equal the batch
        read's."""
        from nshm2022db_spark.streaming.sinks import (
            clone_table_shallow,
            drop_column,
            rename_column,
        )

        d, c = str(tmp_path / "t"), str(tmp_path / "clone")

        def rows(lo, hi, day):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"),
                F.timestamp_seconds(F.col("id") * 3601 + 1_700_000_000).alias(
                    "ts"
                ),
                F.lit("j").alias("junk"),
                F.lit(day).alias("day"),
            )

        append_partition_transaction(spark, d, "day", rows(0, 3, "d1"))
        append_partition_transaction(
            spark, d, "day",
            rows(3, 6, "d2").withColumn(
                "meta", F.struct(F.col("k").alias("a"), F.lit(1).alias("b"))
            ),
        )
        rename_column(spark, d, "k", "key")
        drop_column(spark, d, "junk")
        clone_table_shallow(d, c)
        for t in (d, c):
            stream = {
                f.name: f.dataType
                for f in table_stream_schema(t).fields
                if f.name != "_commit_version"
            }
            batch = read_keyed_table(spark, t).schema
            assert stream == {f.name: f.dataType for f in batch.fields}
            assert stream["ts"].simpleString() == "timestamp"
            assert "junk" not in stream and "k" not in stream

        q = (
            self._stream(spark, d).writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_ts")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select key, ts, day from tsrc_ts").collect()
        spark.catalog.dropTempView("tsrc_ts")
        want = read_keyed_table(spark, d).select("key", "ts", "day").collect()
        assert len(got) == 6
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    def test_schema_evolution_struct_column_nulls_for_old_commits(
        self, spark
    ):
        # r9 review: an evolution-added STRUCT column whose children
        # Spark wrote as REQUIRED (non-nullable source columns) must
        # surface as nulls for old-generation rows — nullable-forcing
        # has to recurse, or the JVM rejects the Arrow batch.
        d = tempfile.mkdtemp(prefix="tsrc_evo_struct_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 3), batch_id=0
        )
        with_struct = _mkrows(spark, 3, 6).withColumn(
            "meta",
            F.struct(
                F.col("k").alias("a"),  # non-nullable: from spark.range
                (F.col("k") * 2).alias("b"),
            ),
        )
        append_partition_transaction(spark, d, "day", with_struct, batch_id=1)
        s = table_stream_schema(d)
        meta = s["meta"]
        assert meta.nullable
        assert all(f.nullable for f in meta.dataType.fields)
        got = self._stream(spark, d)
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_evo_struct")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "select k, meta, _commit_version from tsrc_evo_struct"
        ).collect()
        spark.catalog.dropTempView("tsrc_evo_struct")
        assert {r.meta for r in rows if r._commit_version == 1} == {None}
        assert {
            (r.meta.a, r.meta.b) for r in rows if r._commit_version == 2
        } == {(k, k * 2) for k in range(3, 6)}


class TestTypedStream:
    """`.option("changeTypes", "true")` — the typed CDF as a streaming
    source (r10, VERDICT r09 #6): stream-equals-batch over a mixed
    append/overwrite/tombstone/merge history, including the merge dv
    consolidation's no-re-delete property."""

    def _mixed_history(self, spark):
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            overwrite_partition_transaction,
        )

        d = tempfile.mkdtemp(prefix="tsrc_typed_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 8), batch_id=0
        )
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 8, 12, day="2024-01-02"),
            batch_id=1,
        )
        # v3: rewrite day 1 down to even ids
        overwrite_partition_transaction(
            spark, d, "day",
            _mkrows(spark, 0, 8).filter("k % 2 = 0"),
            replace_where=["2024-01-01"], batch_id=2,
        )
        # v4: tombstone ids 0,1(hidden),4
        tombstone_keys(
            spark, d, "k",
            spark.createDataFrame([(0,), (1,), (4,)], "k long"),
            batch_id=3,
        )
        # v5: delete-only-then-insert merge — deletes matched 8, 10
        # (day 2), re-inserts tombstoned 4 (dv consolidation) and the
        # overwritten-away 1 into a new partition
        merge_into_table(
            spark, d,
            spark.createDataFrame(
                [(1,), (4,), (8,), (10,)], "k long"
            ).selectExpr("k", "CAST(k * 100 AS DOUBLE) AS nv"),
            ["k"],
            when_matched_delete=True,
            when_not_matched_insert={
                "k": "s.k", "v": "s.nv", "day": "'2024-02-01'",
            },
            batch_id=4,
        )
        return d

    def test_stream_equals_batch_typed(self, spark):
        from nshm2022db_spark.streaming.sinks import (
            read_table_changes_typed,
        )

        d = self._mixed_history(spark)
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .option("maxVersionsPerBatch", 1)
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_typed")
            .start()
        )
        try:
            q.processAllAvailable()
            assert len(q.recentProgress) >= 5  # one micro-batch per commit
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, day, _commit_version, _change_type, "
            "_commit_timestamp from tsrc_typed"
        ).collect()
        spark.catalog.dropTempView("tsrc_typed")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "day", "_commit_version", "_change_type",
            "_commit_timestamp",
        ).collect()

        def keyed(rows):
            return sorted(
                (r.k, r.v, r.day, r._commit_version, r._change_type,
                 r._commit_timestamp)
                for r in rows
            )

        assert keyed(stream_rows) == keyed(batch_rows)
        # spot-pin the semantics the history was built to exercise:
        by = {}
        for r in stream_rows:
            by.setdefault((r._commit_version, r._change_type), set()).add(r.k)
        # v3 pair: evens as inserts, day-1 priors as deletes
        assert by[(3, "insert")] == {0, 2, 4, 6}
        assert by[(3, "delete")] == set(range(0, 8))
        # v4 tombstone: 1 was NOT visible (overwritten away) — no image
        assert by[(4, "delete")] == {0, 4}
        # v5 merge (CDC sidecar, r11): exact images only — matched
        # deletes 8, 10 and the re-inserts 1, 4. The consolidation's
        # purge rewrites are restatements and emit NOTHING (carried
        # rows absent; no tombstone history re-deleted).
        assert by[(5, "delete")] == {8, 10}
        assert by[(5, "insert")] == {1, 4}
        assert all(r._commit_timestamp is not None for r in stream_rows)

    def test_untyped_stream_still_raises_on_rewrites(self, spark):
        d = self._mixed_history(spark)
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_untyped_guard")
            .start()
        )
        try:
            with pytest.raises(Exception, match="append-only|overwrite"):
                q.processAllAvailable()
                raise AssertionError("untyped stream accepted a rewrite")
        finally:
            q.stop()
            spark.catalog.dropTempView("tsrc_untyped_guard")

    def test_typed_stream_evolved_key_column_matches_batch(self, spark):
        """r10 review #3: delete-image units over old-generation files
        that LACK the dv key column must emit nothing (the batch path's
        semi-join on the NULL evolved column matches nothing)."""
        from nshm2022db_spark.streaming.sinks import (
            read_table_changes_typed,
            tombstone_keys,
        )

        d = tempfile.mkdtemp(prefix="tsrc_typed_evo_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 4, 8, extra="x"), batch_id=1
        )
        tombstone_keys(
            spark, d, "tag",
            spark.createDataFrame([("x",)], "tag string"),
        )
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_typed_evo")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, _commit_version, _change_type from tsrc_typed_evo"
        ).collect()
        spark.catalog.dropTempView("tsrc_typed_evo")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "_commit_version", "_change_type"
        ).collect()
        key = lambda rows: sorted(
            (r.k, r._commit_version, r._change_type) for r in rows
        )
        assert key(stream_rows) == key(batch_rows)
        # the tombstone's delete images cover ONLY the tagged rows
        dels = {r.k for r in stream_rows if r._change_type == "delete"}
        assert dels == {4, 5, 6, 7}

    def test_typed_stream_update_pairs_match_batch(self, spark):
        """VERDICT r10 #1: a merge's WHEN MATCHED updates stream as
        update_preimage/update_postimage pairs from the CDC sidecar —
        stream equals batch, values pinned row-level."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
        )

        d = tempfile.mkdtemp(prefix="tsrc_typed_upd_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 6), batch_id=0
        )
        merge_into_table(
            spark, d,
            spark.createDataFrame(
                [(1, 111.0), (3, 333.0), (9, 900.0)], "k long, nv double"
            ),
            ["k"],
            when_matched_update={"v": "s.nv"},
            when_not_matched_insert={
                "k": "s.k", "v": "s.nv", "day": "'2024-02-01'",
            },
        )
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_typed_upd")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, _commit_version, _change_type from tsrc_typed_upd"
        ).collect()
        spark.catalog.dropTempView("tsrc_typed_upd")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "_commit_version", "_change_type"
        ).collect()
        key = lambda rows: sorted(
            (r.k, r.v, r._commit_version, r._change_type) for r in rows
        )
        assert key(stream_rows) == key(batch_rows)
        v2 = {
            (r.k, r.v, r._change_type)
            for r in stream_rows
            if r._commit_version == 2
        }
        assert v2 == {
            (1, 10.0, "update_preimage"), (1, 111.0, "update_postimage"),
            (3, 30.0, "update_preimage"), (3, 333.0, "update_postimage"),
            (9, 900.0, "insert"),
        }

    def test_untyped_stream_flows_across_compaction(self, spark):
        """dataChange=false lets the ADDITIVE stream survive table
        maintenance: appends → compaction → append streams every added
        row exactly once, with no rewrite error and nothing re-emitted
        for the compaction commit."""
        from nshm2022db_spark.streaming.sinks import (
            compact_partition_table,
        )

        d = tempfile.mkdtemp(prefix="tsrc_compact_flow_")
        for lo in (0, 4, 8):
            append_partition_transaction(
                spark, d, "day", _mkrows(spark, lo, lo + 4),
                batch_id=lo,
            )
        assert compact_partition_table(
            spark, d, max_files_per_partition=2
        )
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 12, 16), batch_id=12
        )
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_compact_flow")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "select k, _commit_version from tsrc_compact_flow"
        ).collect()
        spark.catalog.dropTempView("tsrc_compact_flow")
        assert sorted(r.k for r in rows) == list(range(16))
        # the compaction version (4) contributed nothing
        assert {r._commit_version for r in rows} == {1, 2, 3, 5}

    def test_typed_stream_fallback_extend_plus_tombstone(self, spark):
        """r11 review #2: the streaming twin of the batch fix — a
        non-cdc merge extending a partition with inserts while
        tombstoning keys there must stream the delete images from the
        extension's PRIOR generations."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
        )

        d = tempfile.mkdtemp(prefix="tsrc_typed_ext_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )
        merge_into_table(
            spark, d,
            spark.createDataFrame(
                [(2, 0.0), (100, 100.0)], "k long, nv double"
            ),
            ["k"],
            when_matched_delete=True,
            when_not_matched_insert={
                "k": "s.k", "v": "s.nv", "day": "'2024-01-01'",
            },
            change_data=False,
        )
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_typed_ext")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select k, v, _commit_version, _change_type from tsrc_typed_ext"
        ).collect()
        spark.catalog.dropTempView("tsrc_typed_ext")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "k", "v", "_commit_version", "_change_type"
        ).collect()
        key = lambda rows: sorted(
            (r.k, r.v, r._commit_version, r._change_type) for r in rows
        )
        assert key(stream_rows) == key(batch_rows)
        v2 = {
            (r.k, r._change_type)
            for r in stream_rows
            if r._commit_version == 2
        }
        assert (2, "delete") in v2 and (100, "insert") in v2

    def test_typed_stream_composite_key_tombstone_matches_batch(
        self, spark
    ):
        """VERDICT r10 #2: a composite-key tombstone streams its delete
        images by TUPLE membership — same k under another group
        survives — and stream equals batch over the tuple DV."""
        from nshm2022db_spark.streaming.sinks import (
            read_table_changes_typed,
            tombstone_keys,
        )

        d = tempfile.mkdtemp(prefix="tsrc_typed_comp_")
        rows = spark.createDataFrame(
            [
                (g, k, float(k), "2024-01-01")
                for g in ("x", "y")
                for k in range(4)
            ],
            "g string, k long, v double, day string",
        )
        append_partition_transaction(spark, d, "day", rows, batch_id=0)
        tombstone_keys(
            spark, d, ["g", "k"],
            spark.createDataFrame([("x", 1), ("x", 3)], "g string, k long"),
        )
        register_commitlog_source(spark)
        got = (
            spark.readStream.format("commitlog")
            .option("path", d)
            .option("changeTypes", "true")
            .load()
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_typed_comp")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = spark.sql(
            "select g, k, _commit_version, _change_type from tsrc_typed_comp"
        ).collect()
        spark.catalog.dropTempView("tsrc_typed_comp")
        batch_rows = read_table_changes_typed(spark, d, 0).select(
            "g", "k", "_commit_version", "_change_type"
        ).collect()
        key = lambda rows: sorted(
            (r.g, r.k, r._commit_version, r._change_type) for r in rows
        )
        assert key(stream_rows) == key(batch_rows)
        dels = {
            (r.g, r.k)
            for r in stream_rows
            if r._change_type == "delete"
        }
        assert dels == {("x", 1), ("x", 3)}

    def test_typed_plan_refuses_legacy_layout_tombstones(self, spark):
        """r10 review #4: a tombstone commit over unmigrated legacy
        layouts cannot plan its delete images from the current layout
        alone — raise instead of silently missing images."""
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            evolve_partition_column,
            tombstone_keys,
        )
        from nshm2022db_spark.streaming.table_source import _typed_plan

        d = tempfile.mkdtemp(prefix="tsrc_typed_leg_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )
        evolve_partition_column(spark, d, "k")
        tombstone_keys(
            spark, d, "k", spark.createDataFrame([(1,)], "k long")
        )
        with pytest.raises(ValueError, match="legacy"):
            _typed_plan(d, 0, current_commit(d)["version"])


class TestMappedStream:
    """The commitlog source over column-mapped tables (r13 — VERDICT
    r12 #2): every commit projects through the map the stream captured
    at start (physical names are stable across rename/drop, so one
    logical projection spans the history, the batch feeds' rule with
    end = the captured head); a LATER map change raises for a restart
    (Delta's streaming schema-change behavior), and commits predating
    a materialize refuse (their physical names were re-based)."""

    def _stream(self, spark, d, **opts):
        register_commitlog_source(spark)
        reader = spark.readStream.format("commitlog").option("path", d)
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()

    def _mapped_history(self, spark):
        from nshm2022db_spark.streaming.sinks import rename_column

        d = tempfile.mkdtemp(prefix="tsrc_map_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 4, 7, day="2024-01-02"),
            batch_id=1,
        )
        rename_column(spark, d, "v", "score")  # v3: metadata-only
        append_partition_transaction(
            spark, d, "day",
            spark.range(7, 9).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).cast("double").alias("score"),
                F.lit("2024-01-03").alias("day"),
            ),
            batch_id=2,
        )
        return d

    def test_untyped_stream_serves_logical_names(self, spark):
        from nshm2022db_spark.streaming.sinks import read_table_changes

        d = self._mapped_history(spark)
        got = self._stream(spark, d, maxVersionsPerBatch=1)
        assert "score" in got.columns and "v" not in got.columns
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_map_u")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "select k, score, day, _commit_version from tsrc_map_u"
        ).collect()
        spark.catalog.dropTempView("tsrc_map_u")
        # stream equals the batch feed over the same range (end = head)
        batch = read_table_changes(spark, d, 0).select(
            "k", "score", "day", "_commit_version"
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))
        # old commits' physical 'v' data surfaces under 'score'
        by_v = {}
        for r in rows:
            by_v.setdefault(r._commit_version, set()).add((r.k, r.score))
        assert by_v[1] == {(k, k * 10.0) for k in range(0, 4)}
        assert by_v[4] == {(k, k * 10.0) for k in range(7, 9)}

    def test_typed_stream_equals_batch_across_rename_and_dml(self, spark):
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
            update_table,
        )

        d = self._mapped_history(spark)
        # v5: mapped UPDATE (CDC sidecar in physical names)
        update_table(spark, d, {"score": "score + 1"}, where="k = 1")
        # v6: mapped MERGE (update pair + insert images)
        merge_into_table(
            spark, d,
            spark.createDataFrame(
                [(2, 222.0), (100, 1.0)], "k long, score double"
            ),
            ["k"],
            when_matched_update={"score": "s.score"},
            when_not_matched_insert={
                "k": "s.k", "score": "s.score", "day": "'2024-02-01'",
            },
        )
        got = self._stream(spark, d, changeTypes="true", maxVersionsPerBatch=1)
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_map_t")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "select k, score, day, _commit_version, _change_type "
            "from tsrc_map_t"
        ).collect()
        spark.catalog.dropTempView("tsrc_map_t")
        batch = read_table_changes_typed(spark, d, 0).select(
            "k", "score", "day", "_commit_version", "_change_type"
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))
        by = {}
        for r in rows:
            by.setdefault((r._commit_version, r._change_type), set()).add(
                (r.k, r.score)
            )
        assert by[(5, "update_preimage")] == {(1, 10.0)}
        assert by[(5, "update_postimage")] == {(1, 11.0)}
        assert by[(6, "update_postimage")] == {(2, 222.0)}
        assert by[(6, "insert")] == {(100, 1.0)}

    def test_mid_stream_rename_raises_then_restart_serves(self, spark):
        from nshm2022db_spark.streaming.sinks import rename_column

        d = tempfile.mkdtemp(prefix="tsrc_midmap_")
        ckpt = tempfile.mkdtemp(prefix="tsrc_midmap_ckpt_")
        out_dir = tempfile.mkdtemp(prefix="tsrc_midmap_out_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )

        # a LIVE stream cannot express the rename: its reader captured
        # the pre-rename map, so the next micro-batch raises
        got = self._stream(spark, d, maxVersionsPerBatch=1)
        q = (
            got.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()  # serves v1 under the original names
            rename_column(spark, d, "v", "score")
            append_partition_transaction(
                spark, d, "day",
                spark.range(4, 6).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 10).cast("double").alias("score"),
                    F.lit("2024-01-02").alias("day"),
                ),
                batch_id=1,
            )
            with pytest.raises(Exception, match="changed the column mapping"):
                q.processAllAvailable()
                raise RuntimeError(str(q.exception()))
        finally:
            q.stop()
        # a RESTARTED stream picks up the new logical schema and serves
        # the remaining commits from the checkpoint into the same sink
        # (its file-metadata log continues; the dir now holds both
        # schemas, so the readback merges them)
        got = self._stream(spark, d, maxVersionsPerBatch=1)
        assert "score" in got.columns
        q = (
            got.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.read.option("mergeSchema", "true").parquet(out_dir)
        first = rows.filter("_commit_version = 1").collect()
        assert {(r.k, r.v) for r in first} == {(k, k * 10.0) for k in range(4)}
        rest = rows.filter("_commit_version = 3").collect()
        assert {(r.k, r.score) for r in rest} == {(4, 40.0), (5, 50.0)}
        # exactly-once across the failed batch: nothing re-emitted
        assert rows.count() == 6

    def test_stream_refuses_pre_materialize_commits(self, spark):
        from nshm2022db_spark.streaming.sinks import (
            current_commit,
            materialize_column_mapping,
            rename_column,
        )

        d = tempfile.mkdtemp(prefix="tsrc_matmap_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )
        rename_column(spark, d, "v", "score")
        materialize_column_mapping(spark, d)
        mat_v = current_commit(d)["version"]
        append_partition_transaction(
            spark, d, "day",
            spark.range(4, 6).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).cast("double").alias("score"),
                F.lit("2024-01-02").alias("day"),
            ),
            batch_id=1,
        )
        # from 0: commit 1's files carry pre-re-base names — refuse
        q = (
            self._stream(spark, d)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_matmap_bad")
            .start()
        )
        try:
            with pytest.raises(Exception, match="materialize"):
                q.processAllAvailable()
                raise RuntimeError(str(q.exception()))
        finally:
            q.stop()
            spark.catalog.dropTempView("tsrc_matmap_bad")
        # from the materialize version: clean
        got = self._stream(spark, d, startingVersion=mat_v)
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_matmap_ok")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql("select k, score from tsrc_matmap_ok").collect()
        spark.catalog.dropTempView("tsrc_matmap_ok")
        assert {(r.k, r.score) for r in rows} == {(4, 40.0), (5, 50.0)}

    def test_batch_splitting_cannot_hide_a_materialize(self, spark):
        """r13 review-hardened guard: with maxVersionsPerBatch=1 the
        materialize commit lands in its own micro-batch, so a
        range-local check would never see pre-re-base commits and the
        materialize in one range — the admission must still refuse the
        pre-materialize commits (their files carry re-based-away
        physical names)."""
        from nshm2022db_spark.streaming.sinks import (
            materialize_column_mapping,
            rename_column,
        )

        d = tempfile.mkdtemp(prefix="tsrc_matsplit_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 4), batch_id=0
        )
        rename_column(spark, d, "v", "score")
        materialize_column_mapping(spark, d)
        q = (
            self._stream(spark, d, maxVersionsPerBatch=1)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_matsplit")
            .start()
        )
        try:
            with pytest.raises(Exception, match="materialize"):
                q.processAllAvailable()
                raise RuntimeError(str(q.exception()))
        finally:
            q.stop()
            spark.catalog.dropTempView("tsrc_matsplit")

    def test_typed_stream_dv_fallback_across_renamed_key(self, spark):
        """change_data=False merge on a mapped table with a RENAMED
        merge key: the delete images reconstruct from the dv key diff
        (physical key names in the dv files and stats pruning), and
        the stream emits them under the LOGICAL names — equal to the
        batch feed."""
        from nshm2022db_spark.streaming.sinks import (
            merge_into_table,
            read_table_changes_typed,
            rename_column,
        )

        d = tempfile.mkdtemp(prefix="tsrc_dvmap_")
        append_partition_transaction(
            spark, d, "day", _mkrows(spark, 0, 8), batch_id=0
        )
        rename_column(spark, d, "k", "id")
        m = merge_into_table(
            spark, d,
            spark.createDataFrame([(i,) for i in range(0, 8)], "id long"),
            ["id"], when_matched_delete="s.id % 2 = 0",
            change_data=False,
        )
        assert m["deleted"] == 4
        got = (
            self._stream(spark, d, changeTypes="true", maxVersionsPerBatch=1)
        )
        q = (
            got.writeStream.outputMode("append")
            .format("memory")
            .queryName("tsrc_dvmap")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "select id, v, _commit_version, _change_type from tsrc_dvmap"
        ).collect()
        spark.catalog.dropTempView("tsrc_dvmap")
        batch = read_table_changes_typed(spark, d, 0).select(
            "id", "v", "_commit_version", "_change_type"
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))
        dels = {r.id for r in rows if r._change_type == "delete"}
        assert dels == {0, 2, 4, 6}
