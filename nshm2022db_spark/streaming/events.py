"""Streaming aggregations over events: tumbling, sliding, session windows.

Each registered query runs a real Structured Streaming job (file source →
withWatermark → windowed agg → memory sink, processAllAvailable) and
returns the materialized result. With a single-batch file replay nothing
is late, so each has an exact batch-SQL oracle — tumbling/sliding via
bucket arithmetic, session windows via the lag/gap-cumsum islands idiom.

On a cluster the same plans run against Kafka with the watermark bounding
state; the memory sink here exists so the driver's batch-compare contract
can observe streaming results synchronously.
"""

from __future__ import annotations

import errno
import itertools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nshm2022db_spark.queries.mapped_cdc import (
    MAPPED_MERGE_CDC_ORACLE,
    _mapped_merge_history,
    mapped_cdc_rollup,
)
from nshm2022db_spark.registry import register
from nshm2022db_spark.sources import read_table
from nshm2022db_spark.sources.parquet import (
    ensure_nanos_as_long,
    events_ts_type,
    ts_type_of_file,
)

_counter = itertools.count()

_RESULT_SCRATCH: list[str] = []  # lazily-created process-scoped root


def _result_scratch_root() -> str:
    """One tempdir per process for reaped queries' RESULT parquet,
    removed at interpreter exit. Results are rollup-sized (KBs) — the
    reap exists for the GB-sized table/checkpoint scratch, not these."""
    import atexit
    import shutil
    import tempfile

    if not _RESULT_SCRATCH:
        root = tempfile.mkdtemp(prefix="nshm-reap-results-")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _RESULT_SCRATCH.append(root)
    return _RESULT_SCRATCH[0]


def _reap_scratch(df: DataFrame, spark: SparkSession, *dirs: str) -> DataFrame:
    """Materialize a result and delete its per-invocation scratch
    (table dirs + checkpoints). The streaming-protocol queries re-run
    the whole land/upsert/fold flow on every call BY DESIGN (the
    protocol cost is what bench times), so their scratch is per-call —
    without the reap, every verify/bench cycle strands tables and
    checkpoints in /tmp (VERDICT r08 #3, generalized from
    commit_rebase_stats to the whole family: ~1.8 GB observed after one
    round's runs). The returned DataFrame must not lazily scan a
    deleted dir, so the result is written to a small parquet OUTSIDE
    the reaped dirs and re-read — executor-side, no driver collect, so
    per-key (corpus-scaling) results like stream_upsert_table's stay
    distributed (ADVICE r09; the first cut collect()ed them). The
    result parquet is tiny relative to the reaped scratch and is
    removed at process exit."""
    import shutil

    try:
        res = os.path.join(_result_scratch_root(), f"res-{next(_counter)}")
        df.write.mode("overwrite").parquet(res)
        from nshm2022db_spark.streaming.sinks import (
            _file_schema_json,
            _read_parquet_fast,
        )

        # the writer's own schema, nullable as a parquet read reports
        # it — zero footer reads on the re-read (r16 #1)
        return _read_parquet_fast(
            spark, res, schema_json=_file_schema_json(df.schema)
        )
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def _replay_session(spark: SparkSession) -> SparkSession:
    """Dedicated child session for streaming replays (VERDICT r03
    "What's wrong" #2): `newSession()` shares the SparkContext (same
    executors, same UI) but owns its SQLConf and temp-view catalog, so
    the 8-partition state-store setting lives HERE instead of being
    flipped on the caller's session-global conf, where a concurrently
    planned query would silently pick it up. 32 state stores (×4 for a
    stream-stream join) is pure overhead for a file-replay micro-batch;
    on a real cluster size it to throughput. Cached per parent session;
    idempotent when handed a replay session itself. The confs the replay
    depends on are pinned explicitly — a child session inherits builder-
    time confs from the context but NOT runtime `conf.set` values the
    caller's session may carry."""
    if getattr(spark, "_nshm_replay_parent", None) is not None:
        return spark
    cached = getattr(spark, "_nshm_replay_child", None)
    if cached is not None:
        return cached
    s = spark.newSession()
    s._nshm_replay_parent = spark
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    ensure_nanos_as_long(s)  # nanosAsLong + UTC session zone
    spark._nshm_replay_child = s
    return s


def _raw_schema(ts_layout: str) -> T.StructType:
    """Streaming sources need an explicit schema (no inference), and the
    right one depends on the file layout: nanos-layout events decode (via
    nanosAsLong) to a long we convert ourselves; micros-layout events
    decode directly to TIMESTAMP_NTZ. The layout is sniffed ONCE from
    the static parquet footer (events_ts_type) before the stream starts."""
    ts_type = T.LongType() if ts_layout == "nanos" else T.TimestampNTZType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", ts_type, False),
            T.StructField("user_id", T.LongType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
            T.StructField("props", T.StringType(), False),
        ]
    )


def _dir_ts_type(src_dir: str, sf: str) -> str:
    """Sniff the ts layout from a parquet file INSIDE the directory the
    stream actually reads (ADVICE r03): the scratch dir normally holds
    symlinks to the static events.parquet, but if a landing step ever
    rewrote the files in a different layout (a Spark rewrite producing
    micros from a nanos source, say) the explicit source schema must
    match THOSE files, not the static table. Falls back to the static
    footer only when the dir holds no parquet yet."""
    try:
        files = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    except OSError:
        files = []
    if files:
        return ts_type_of_file(os.path.join(src_dir, files[0]))
    return events_ts_type(sf)


def _raw_event_stream(spark: SparkSession, sf: str, src_dir: str, **options) -> DataFrame:
    """File-source events stream with ts normalized to TIMESTAMP (LTZ),
    built on the dedicated replay session (_replay_session).

    Unlike the batch path (canonical TIMESTAMP_NTZ), watermarks and
    event-time windows REQUIRE TimestampType — so streams run on LTZ
    internally, exact under the UTC session zone ensure_nanos_as_long
    pins, and every registered query casts timestamp OUTPUTS back to
    TIMESTAMP_NTZ (`ntz`) so collected values stay naive UTC wall-clock,
    matching the batch oracles."""
    spark = _replay_session(spark)
    layout = _dir_ts_type(src_dir, sf)
    reader = spark.readStream.schema(_raw_schema(layout))
    for k, v in options.items():
        reader = reader.option(k, v)
    stream = reader.parquet(src_dir)
    conv = (
        "timestamp_micros(ts div 1000)"
        if layout == "nanos"
        else "cast(ts as timestamp)"
    )
    return stream.withColumn("ts", F.expr(conv))


def ntz(col) -> Column:
    """Cast a streaming-side TIMESTAMP output column to TIMESTAMP_NTZ
    (exact under the pinned UTC session zone) — the canonical type every
    batch query and oracle collects."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp_ntz")


def _ensure_symlink(target: str, link: str) -> None:
    """Idempotent, race-tolerant symlink: the target is absolutized (a
    RELATIVE sf path would otherwise resolve relative to the scratch
    dir — a dangling link that os.path.exists() reports absent while
    os.symlink still collides on), and a concurrent process creating
    the same link is a win, not an error."""
    target = os.path.abspath(target)
    if os.path.lexists(link):
        return
    try:
        os.symlink(target, link)
    except FileExistsError:
        pass


def _stream_dir(sf: str) -> str:
    """The file source requires a DIRECTORY; expose the single events
    parquet through a symlink in a scratch dir (testdata is read-only).
    Keyed on a stable digest of the sf path — builtin hash() is salted
    per process, so it would re-land every run."""
    from nshm2022db_spark.sources.scratch import scratch_path

    d = scratch_path("events_stream", sf)
    os.makedirs(d, exist_ok=True)
    _ensure_symlink(os.path.join(sf, "events.parquet"),
                    os.path.join(d, "events.parquet"))
    return d


def _stream_dir_doubled(sf: str) -> str:
    """Scratch dir exposing the events parquet TWICE (two symlinks): the
    replayed stream then carries every event as a planted duplicate, which
    is what the streaming dedup operator must collapse."""
    from nshm2022db_spark.sources.scratch import scratch_path

    d = scratch_path("events_stream_dup", sf)
    os.makedirs(d, exist_ok=True)
    for name in ("events_a.parquet", "events_b.parquet"):
        _ensure_symlink(os.path.join(sf, "events.parquet"),
                        os.path.join(d, name))
    return d


def _stream_dir_split(spark: SparkSession, sf: str, n_files: int = 3) -> str:
    """Scratch dir holding the events table split across ``n_files``
    parquet files, so a maxFilesPerTrigger=1 replay yields ``n_files``
    REAL micro-batches (the symlink dir is one file = one batch). The
    rewrite changes the ts layout to micros — the stream schema sniffs
    the actual files (_dir_ts_type), which is exactly the case that
    sniffing exists for."""
    from nshm2022db_spark.sources.scratch import is_landed, mark_landed, scratch_path

    d = scratch_path("events_stream_split", sf)
    if not is_landed(d):
        read_table(spark, sf, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "files"))
        mark_landed(d)
    return os.path.join(d, "files")


@register(
    "stream_partitioned_land",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
              COUNT(*) AS n,
              CAST(SUM(event_id) AS BIGINT) AS id_sum,
              ROUND(SUM(value), 2) AS total
       FROM events GROUP BY 1""",
)
def stream_partitioned_land(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming land into a partition-mapped committed table — the full
    lakehouse write path under the oracle gate: a 3-file replay
    (maxFilesPerTrigger=1) appends each micro-batch to a day-partitioned
    table through `append_partition_transaction` (one manifest commit
    per batch, O(batch) cost — touched days gain a generation instead of
    rewriting, per-day event_id stats merge for data skipping, batch-id
    idempotence), and the day rollup runs over the manifest-resolved
    read. The oracle recomputes the rollup from the base events — value
    equality proves no batch was lost, doubled, or mis-partitioned
    across the stream/commit boundary."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        land_stream_to_partitioned_table,
        read_keyed_table,
    )

    stream = _raw_event_stream(
        spark, sf, _stream_dir_split(spark, sf), maxFilesPerTrigger=1
    ).withColumn("day", F.col("ts").cast("date").cast("string"))
    table_dir = tempfile.mkdtemp(prefix="part_land_")
    ckpt = tempfile.mkdtemp(prefix="part_land_ckpt_")
    q = land_stream_to_partitioned_table(
        stream,
        table_dir,
        ckpt,
        "day",
        stats_cols=["event_id"],
    )
    q.awaitTermination()
    t = read_keyed_table(spark, table_dir)
    rollup = t.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("id_sum"),
        F.round(F.sum("value"), 2).alias("total"),
    )
    return _reap_scratch(rollup, spark, table_dir, ckpt)


@register(
    "stream_cdc_rollup",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
              COUNT(*) AS n,
              CAST(SUM(event_id) AS BIGINT) AS id_sum,
              ROUND(SUM(value), 2) AS total
       FROM events GROUP BY 1""",
)
def stream_cdc_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """The full MEDALLION streaming flow in one oracled query: each
    micro-batch (3-file replay) appends to the BRONZE partition table
    and then, in the same foreachBatch, `maintain_incremental_agg`
    folds bronze's new change-feed commits into the SILVER day rollup —
    silver is maintained continuously from CDC, never recomputed from
    bronze. Exactly-once composes at both hops: the bronze append
    no-ops on a replayed micro-batch id, and silver's refresh cursor
    (bronze versions in silver's own ledger) no-ops on already-folded
    commits, so a crash or replay anywhere between the four commits
    resolves cleanly. The oracle recomputes the rollup from base events
    in one shot — two layers of incrementality must be invisible in
    the result."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        maintain_incremental_agg,
        read_keyed_table,
    )

    stream = _raw_event_stream(
        spark, sf, _stream_dir_split(spark, sf), maxFilesPerTrigger=1
    ).withColumn("day", F.col("ts").cast("date").cast("string"))
    bronze = tempfile.mkdtemp(prefix="cdc_bronze_")
    silver = tempfile.mkdtemp(prefix="cdc_silver_")

    def agg(delta: DataFrame) -> DataFrame:
        return delta.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
            F.sum("value").alias("total"),
        )

    def merge(cur: DataFrame | None, add: DataFrame) -> DataFrame:
        if cur is None:
            return add
        return cur.unionByName(add).groupBy("day").agg(
            F.sum("n").alias("n"),
            F.sum("id_sum").alias("id_sum"),
            F.sum("total").alias("total"),
        )

    def land_and_maintain(batch_df: DataFrame, bid: int) -> None:
        s = batch_df.sparkSession
        append_partition_transaction(
            s, bronze, "day", batch_df, batch_id=bid
        )
        maintain_incremental_agg(s, bronze, silver, agg, merge)

    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")
    q = (
        stream.writeStream.foreachBatch(land_and_maintain)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = read_keyed_table(spark, silver)
    rollup = t.groupBy("day").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("id_sum").cast("long").alias("id_sum"),
        F.round(F.sum("total"), 2).alias("total"),
    )
    return _reap_scratch(rollup, spark, bronze, silver, ckpt)


@register(
    "stream_overwrite_refresh",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
              COUNT(*) AS n,
              CAST(SUM(event_id) AS BIGINT) AS id_sum,
              ROUND(SUM(value), 2) AS total
       FROM events GROUP BY 1""",
)
def stream_overwrite_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """The PARTITION-REFRESH materialization strategy — the third
    classic way to keep a silver table current, beside the additive
    fold (`stream_incremental_rollup`) and the CDC-fed incremental
    maintainer (`stream_cdc_rollup`): each micro-batch (3-file replay)
    appends raw rows to BRONZE, then recomputes the day rollup FOR
    EXACTLY THE DAYS THE BATCH TOUCHED from bronze and INSERT
    OVERWRITEs those day partitions in SILVER
    (`overwrite_partition_transaction`, dynamic mode — the new r9
    write path under the streaming gate). Untouched silver days are
    never read or rewritten, so refresh cost is O(affected days'
    bronze data), not O(table) — the Databricks "overwrite latest
    partition per trigger" pattern.

    Exactly-once composes through replays and the crash window: both
    commits are batch-id-keyed, a replayed batch no-ops bronze and the
    overwrite, and a crash BETWEEN them resolves on replay because the
    recompute reads post-append bronze — recompute-then-overwrite is
    idempotent where an additive fold would double-count. Batch
    invariance is what the oracle pins: silver's final state must
    equal the one-shot day rollup over base events no matter how the
    replay batched."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        overwrite_partition_transaction,
        read_keyed_table,
    )

    stream = _raw_event_stream(
        spark, sf, _stream_dir_split(spark, sf), maxFilesPerTrigger=1
    ).withColumn("day", F.col("ts").cast("date").cast("string"))
    bronze = tempfile.mkdtemp(prefix="ovw_refresh_bronze_")
    silver = tempfile.mkdtemp(prefix="ovw_refresh_silver_")
    ckpt = tempfile.mkdtemp(prefix="ovw_refresh_ckpt_")

    def land_and_refresh(batch_df: DataFrame, bid: int) -> None:
        s = batch_df.sparkSession
        written = append_partition_transaction(
            s, bronze, "day", batch_df, batch_id=bid
        )
        # the batch's distinct days, read off the append's own written
        # partition entries (r15, guide §1) — the old
        # batch_df.distinct().collect() re-scanned the micro-batch
        # source once per batch just to re-learn what the write already
        # knew. The replayed-batch no-op (written=None) keeps the scan
        # fallback: the bronze append skipped, but a crash between the
        # two commits still needs the refresh to run.
        if written is not None:
            days = [e.split("=", 1)[1] for e in sorted(written)]
        else:
            days = [r.day for r in batch_df.select("day").distinct().collect()]
        if not days:
            return
        refreshed = (
            read_keyed_table(s, bronze)
            .filter(F.col("day").isin(*days))
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").cast("long").alias("id_sum"),
                F.sum("value").alias("total"),
            )
        )
        overwrite_partition_transaction(
            s, silver, "day", refreshed, batch_id=bid
        )

    q = (
        stream.writeStream.foreachBatch(land_and_refresh)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = read_keyed_table(spark, silver).select(
        "day", "n", "id_sum", F.round("total", 2).alias("total")
    )
    return _reap_scratch(out, spark, bronze, silver, ckpt)


@register(
    "stream_table_source",
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
              COUNT(*) AS n,
              CAST(SUM(event_id) AS BIGINT) AS id_sum,
              ROUND(SUM(value), 2) AS total,
              CAST(MAX(event_id % 3 + 1) AS BIGINT) AS max_commit
       FROM events GROUP BY 1""",
)
def stream_table_source(spark: SparkSession, sf: str) -> DataFrame:
    """readStream ON the commit-log table itself (VERDICT r06 #3) — the
    Delta "table as a streaming source" surface: three batch appends
    land events into a day-partitioned BRONZE table (commit v = event_id
    % 3 + 1, so version attribution is oracle-checkable), then a SILVER
    rollup consumes it as `spark.readStream.format("commitlog")` through
    the Python Data Source wrapping `read_table_changes`' version-cursor
    contract (streaming/table_source.py). `maxVersionsPerBatch=1` forces
    one REAL micro-batch per commit — three incremental folds, not one
    bulk read — and the memory-sink rollup must still equal the one-shot
    oracle over base events: offsets, per-commit partition planning, and
    Arrow-batched executor reads are all on the hash-checked path.
    max_commit doubles as the version-tagging proof (`_commit_version`
    is the dominant column a CDC consumer keys its fold cursor on).

    The bronze BUILD is landed scratch (is_landed, like the batch DML
    queries): it is immutable read-only INPUT to the measured thing —
    the versioned replay itself, which still runs its full micro-batch
    protocol fresh on every call. Re-landing into a half-built dir is
    safe: every commit is batch_id-keyed and no-ops if already
    applied."""
    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.sinks import append_partition_transaction
    from nshm2022db_spark.streaming.table_source import (
        register_commitlog_source,
    )

    bronze = scratch_path("tbl_src_bronze_r14", sf)
    if not is_landed(bronze):
        ev = read_table(spark, sf, "events").withColumn(
            "day", F.col("ts").cast("date").cast("string")
        )
        for i in range(3):
            append_partition_transaction(
                spark, bronze, "day", ev.filter(F.col("event_id") % 3 == i),
                batch_id=i,
            )
        mark_landed(bronze)
    replay = _replay_session(spark)
    register_commitlog_source(replay)
    stream = (
        replay.readStream.format("commitlog")
        .option("path", bronze)
        .option("maxVersionsPerBatch", 1)
        .load()
    )
    agg = stream.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.round(F.sum("value"), 2).alias("total"),
        F.max("_commit_version").alias("max_commit"),
    )
    return _run_to_memory(agg, f"stream_tbl_src_{next(_counter)}")


@register(
    "stream_table_changes_typed",
    """WITH e AS (
           SELECT event_id, user_id, event_id % 4 AS b FROM events),
       vis3 AS (
           SELECT * FROM e
           WHERE (b <> 1 OR event_id % 8 = 1) AND event_id % 7 <> 0)
       SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS commit_version,
                  'insert' AS change_type,
                  COUNT(*) AS n,
                  CAST(SUM(event_id) AS BIGINT) AS id_sum,
                  CAST(SUM(user_id) AS BIGINT) AS user_sum,
                  CAST(1 AS BIGINT) AS ts_ok
           FROM e
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'insert', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id) AS BIGINT), CAST(1 AS BIGINT)
           FROM e WHERE b = 1 AND event_id % 8 = 1
           UNION ALL
           SELECT CAST(2 AS BIGINT), 'delete', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id) AS BIGINT), CAST(1 AS BIGINT)
           FROM e WHERE b = 1
           UNION ALL
           SELECT CAST(3 AS BIGINT), 'delete', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id) AS BIGINT), CAST(1 AS BIGINT)
           FROM e WHERE (b <> 1 OR event_id % 8 = 1)
                    AND event_id % 7 = 0
           UNION ALL
           -- v4 merge (CDC sidecar): update pre/post PAIRS for the
           -- matched %12==0 keys (pre carries the OLD user_id, post
           -- the updated one — pairing value-checked, not counted)...
           SELECT CAST(4 AS BIGINT), 'update_preimage', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id) AS BIGINT), CAST(1 AS BIGINT)
           FROM vis3 WHERE event_id % 12 = 0
           UNION ALL
           SELECT CAST(4 AS BIGINT), 'update_postimage', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id + 1000) AS BIGINT), CAST(1 AS BIGINT)
           FROM vis3 WHERE event_id % 12 = 0
           UNION ALL
           -- ...the other matched rows (%12==6) delete as before-images...
           SELECT CAST(4 AS BIGINT), 'delete', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id) AS BIGINT), CAST(1 AS BIGINT)
           FROM vis3 WHERE event_id % 12 = 6
           UNION ALL
           -- ...unmatched source rows insert; carried rows are ABSENT
           -- and v5's compaction micro-batch is EMPTY (dataChange=false)
           SELECT CAST(4 AS BIGINT), 'insert', COUNT(*),
                  CAST(SUM(event_id) AS BIGINT),
                  CAST(SUM(user_id + 1000) AS BIGINT), CAST(1 AS BIGINT)
           FROM e WHERE event_id % 6 = 0
             AND NOT ((b <> 1 OR event_id % 8 = 1)
                      AND event_id % 7 <> 0)
       ) WHERE n > 0""",
)
def stream_table_changes_typed(spark: SparkSession, sf: str) -> DataFrame:
    """The TYPED change feed AS A STREAMING SOURCE (VERDICT r09 #6,
    update images r10 #1 — the streaming half of Delta CDF): the same
    5-commit history as `table_changes_typed` (v1 append all, v2
    INSERT OVERWRITE bucket 1 keeping ids = 1 mod 8, v3 tombstone
    ids % 7 == 0, v4 a conditional MERGE whose CDC sidecar yields
    ``update_preimage``/``update_postimage`` pairs for the %12==0
    updates plus exact delete/insert images, v5 a compaction the
    stream SKIPS — its micro-batch plans zero units, dataChange=false).
    A silver job consumes it as `spark.readStream.format("commitlog")
    .option("changeTypes", "true")` with `maxVersionsPerBatch=1` —
    one REAL micro-batch per commit, each emitting exactly the images
    `read_table_changes_typed` computes for that version (the
    stream-equals-batch pin lives in tests/test_table_source.py; the
    oracle recomputes every image family from base events, summing
    BOTH event_id and user_id so the update pairing itself is
    value-checked). ts_ok pins `_commit_timestamp` non-null on every
    image row.

    The 5-commit bronze HISTORY is landed scratch (is_landed): it is
    immutable input to the measured thing — the typed-change replay,
    which runs its full per-version micro-batch protocol fresh every
    call. Re-landing into a half-built dir is safe: all four DML
    commits are batch_id-keyed no-ops on replay, and a repeated
    closing compaction emits zero change rows (dataChange=false), so
    the feed the stream serves is identical."""
    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        compact_partition_table,
        merge_into_table,
        overwrite_partition_transaction,
        tombstone_keys,
    )
    from nshm2022db_spark.streaming.table_source import (
        register_commitlog_source,
    )

    ev = read_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        (F.col("event_id") % 4).cast("string").alias("b"),
    )
    bronze = scratch_path("tbl_cdf_bronze_r14", sf)
    if not is_landed(bronze):
        append_partition_transaction(spark, bronze, "b", ev, batch_id=0)
        overwrite_partition_transaction(
            spark, bronze, "b",
            ev.filter((F.col("b") == "1") & (F.col("event_id") % 8 == 1)),
            replace_where=["1"], batch_id=1,
        )
        tombstone_keys(
            spark, bronze, "event_id",
            ev.filter(F.col("event_id") % 7 == 0).select("event_id"),
            batch_id=2,
        )
        merge_into_table(
            spark, bronze,
            ev.filter(F.col("event_id") % 6 == 0).select(
                "event_id", (F.col("user_id") + 1000).alias("nv")
            ),
            ["event_id"],
            when_matched=[
                ("update", "s.event_id % 12 = 0", {"user_id": "s.nv"}),
                ("delete", None),
            ],
            when_not_matched_insert={
                "event_id": "s.event_id",
                "user_id": "s.nv",
                "b": "'x'",
            },
            batch_id=3,
        )
        compact_partition_table(spark, bronze, max_files_per_partition=0)
        mark_landed(bronze)
    replay = _replay_session(spark)
    register_commitlog_source(replay)
    stream = (
        replay.readStream.format("commitlog")
        .option("path", bronze)
        .option("changeTypes", "true")
        .option("maxVersionsPerBatch", 1)
        .load()
    )
    agg = stream.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.sum("user_id").cast("long").alias("user_sum"),
        F.min(F.col("_commit_timestamp").isNotNull().cast("long")).alias(
            "ts_ok"
        ),
    )
    return _run_to_memory(agg, f"stream_cdf_{next(_counter)}")


@register("stream_mapped_changes", MAPPED_MERGE_CDC_ORACLE)
def stream_mapped_changes(spark: SparkSession, sf: str) -> DataFrame:
    """The typed commitlog STREAM over a column-mapped table (r13 —
    VERDICT r12 #2, the table_source.py refusal replaced with the
    per-start map projection): the same 4-commit history as
    `merge_mapped_cdc` (append, RENAME value->score, RENAME
    user_id->uid, conditional MERGE in the new names), consumed as
    ``spark.readStream.format("commitlog").option("changeTypes",
    "true")`` with one micro-batch per commit. The stream's fixed
    schema is the head's LOGICAL view; every unit's physical files
    (old generations AND the merge's CDC sidecar) project through the
    map captured at start — so pre-rename commits emit their rows
    under the CURRENT logical names, exactly what
    `read_table_changes_typed` serves for the same range (the two
    queries share one oracle, so stream-equals-batch is value-pinned
    by the driver itself; the mid-stream-rename restart contract and
    the pre-materialize refusal are pinned in
    tests/test_table_source.py::TestMappedStream). Scale shape: the
    map projection is a per-batch field-name translation in the Arrow
    read path — zero extra jobs, zero shuffles.

    The 4-commit mapped HISTORY is landed scratch (is_landed): it is
    immutable input to the measured thing — the mapped replay itself.
    Unlike the batch_id-keyed builds, the RENAME steps are not
    idempotent, so the build goes into a private dir and publishes by
    ATOMIC RENAME: any dir at the final path is a completed build, a
    lost race just discards its own."""
    import shutil
    import tempfile

    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.table_source import (
        register_commitlog_source,
    )

    bronze = scratch_path("tbl_mapped_bronze_r14", sf)
    if not is_landed(bronze):
        ev = read_table(spark, sf, "events").select(
            "event_id", "user_id", "value", "event_type"
        )
        build = tempfile.mkdtemp(prefix="tbl_mapped_build_")
        _mapped_merge_history(spark, ev, build)
        try:
            os.rename(build, bronze)
        except OSError as exc:
            # Only EEXIST/ENOTEMPTY mean another builder won the race;
            # any other failure (EACCES, ENOSPC, EXDEV cross-device
            # tmp) must NOT discard the build and mark an empty dir
            # landed — that would persist a missing commit log for
            # every later run in any process.
            if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            shutil.rmtree(build, ignore_errors=True)  # lost the race
        if not os.path.isdir(os.path.join(bronze, "_commits")):
            raise RuntimeError(
                f"mapped-history publish left no commit log at {bronze}"
            )
        mark_landed(bronze)
    replay = _replay_session(spark)
    register_commitlog_source(replay)
    stream = (
        replay.readStream.format("commitlog")
        .option("path", bronze)
        .option("changeTypes", "true")
        .option("maxVersionsPerBatch", 1)
        .load()
    )
    agg = mapped_cdc_rollup(stream)
    return _run_to_memory(agg, f"stream_mapped_{next(_counter)}")


@register(
    "stream_merge_conditional",
    """WITH seed AS (
           SELECT user_id,
                  CAST(user_id % 8 AS VARCHAR) AS bucket,
                  COUNT(*) AS cnt,
                  ROUND(SUM(value), 2) AS total
           FROM events GROUP BY user_id),
       final AS (
           SELECT user_id, bucket, cnt,
                  ROUND(total * 2, 2) AS total
           FROM seed WHERE user_id % 5 <> 0 AND user_id % 8 <> 7)
       SELECT bucket,
              COUNT(*) AS n_users,
              CAST(SUM(cnt) AS BIGINT) AS n_events,
              ROUND(CAST(SUM(total) AS DOUBLE), 2) AS sum_total
       FROM final GROUP BY bucket""",
)
def stream_merge_conditional(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional MERGE as a STREAMING sink (`merge_stream_to_table`):
    a per-user profile table seeds from events, then a 3-batch CDC
    feed (one file per user_id % 3 slice, maxFilesPerTrigger=1 — three
    REAL micro-batches with disjoint key sets, so the clause outcome
    is batch-invariant and oracle-able) applies
    `WHEN MATCHED AND s.op='delete' THEN DELETE` /
    `WHEN MATCHED AND s.op='upsert' THEN UPDATE total = s.nv` through
    the foreachBatch merge with batch-id idempotence. Every user is
    matched; deleters are % 5 == 0 users PLUS all of bucket 7 — so
    bucket 7 is delete-ONLY in every batch and takes the
    deletion-vector path, while the mixed buckets delete via rewrite
    (both delete routes on the oracle-checked path; the r10 sweep
    found the first cut only exercised rewrites). The rest double
    their total. The oracle recomputes the final profile state from
    base events — proving the stream protocol, per-batch commit
    isolation, conditional clause routing, and the tombstone-filtered
    read in one round trip."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        merge_stream_to_table,
        read_keyed_table,
    )

    ev = read_table(spark, sf, "events")
    seed = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total"),
    ).withColumn("bucket", (F.col("user_id") % 8).cast("string"))
    table_dir = tempfile.mkdtemp(prefix="merge_stream_tbl_")
    ckpt = tempfile.mkdtemp(prefix="merge_stream_ckpt_")
    src_dir = tempfile.mkdtemp(prefix="merge_stream_src_")
    append_partition_transaction(
        spark, table_dir, "bucket", seed, stats_cols=["user_id"]
    )
    # derive the feed from the LANDED table and slice the 3 batch files
    # from one materialized frame — the first cut re-ran the full
    # events aggregation once per slice write (r10 sweep: shared scan
    # subtrees re-scan, no ReusedExchange)
    feed = read_keyed_table(spark, table_dir).select(
        "user_id",
        F.when(
            (F.col("user_id") % 5 == 0) | (F.col("user_id") % 8 == 7),
            "delete",
        )
        .otherwise("upsert")
        .alias("op"),
        F.round(F.col("total") * 2, 2).alias("nv"),
    )
    feed_stage = tempfile.mkdtemp(prefix="merge_stream_feed_")
    feed.write.mode("overwrite").parquet(feed_stage)
    from nshm2022db_spark.streaming.sinks import (
        _file_schema_json,
        _read_parquet_fast,
    )

    staged = _read_parquet_fast(
        spark, feed_stage, schema_json=_file_schema_json(feed.schema)
    )
    for i in range(3):  # one file per disjoint key slice = one batch
        staged.filter(F.col("user_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    replay = _replay_session(spark)
    stream = replay.readStream.schema(
        "user_id long, op string, nv double"
    ).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = merge_stream_to_table(
        stream, table_dir, ckpt, ["user_id"],
        when_matched_update={"total": "s.nv"},
        when_matched_update_condition="s.op = 'upsert'",
        when_matched_delete="s.op = 'delete'",
        stats_cols=["user_id"],
        # nothing consumes this table's change feed (the oracle reads
        # final state); like Delta's CDF, the sidecar is opt-in — and
        # it costs a flat ~0.4 s write per micro-batch commit (PERF r14)
        change_data=False,
    )
    q.awaitTermination()
    out = read_keyed_table(spark, table_dir).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cnt").cast("long").alias("n_events"),
        F.round(F.sum("total"), 2).alias("sum_total"),
    )
    return _reap_scratch(out, spark, table_dir, ckpt, src_dir, feed_stage)


@register(
    "commit_rebase_stats",
    """SELECT CAST(event_id % 8 AS VARCHAR) AS bucket,
              COUNT(*) AS n,
              CAST(SUM(event_id) AS BIGINT) AS id_sum,
              ROUND(SUM(value), 2) AS total,
              CAST(9 AS BIGINT) AS n_commits
       FROM events GROUP BY 1""",
)
def commit_rebase_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Eight WRITERS race disjoint appends into one partition-mapped
    table (VERDICT r06 #4 / r07 #4): each thread lands one bucket of
    events through `append_partition_transaction`, so all CAS losers
    exercise the REBASE path — a loser whose intervening commits are
    provably disjoint re-manifests its immutable stage instead of
    re-running its Spark write (Delta's logical conflict resolution;
    the no-recompute property itself is pinned by the 8-thread race
    test in tests/test_streaming_sink.py). The rollup over the final
    table must equal the one-shot oracle over base events — no batch
    lost, doubled, or cross-bucket leaked no matter how the race
    resolves — and n_commits proves the ledger serialized exactly
    seed + 8 commits (a lost update would skip a version; a double
    apply would add one)."""
    import tempfile
    import threading

    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        current_commit,
        read_keyed_table,
    )

    import shutil

    ev = read_table(spark, sf, "events").withColumn(
        "bucket", (F.col("event_id") % 8).cast("string")
    )
    table_dir = tempfile.mkdtemp(prefix="rebase_stats_")
    try:
        # seed commit pins the partition spec so every racer's base is a
        # real append head (a version-0 base can't prove disjointness)
        append_partition_transaction(
            spark, table_dir, "bucket",
            ev.limit(1).withColumn("bucket", F.lit("seed")),
        )
        barrier = threading.Barrier(8)
        errs: list[Exception] = []

        def land(i: int) -> None:
            try:
                barrier.wait()
                append_partition_transaction(
                    spark, table_dir, "bucket",
                    ev.filter(F.col("event_id") % 8 == i),
                    stats_cols=["event_id"],
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        threads = [threading.Thread(target=land, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errs:
            raise errs[0]
        n_commits = current_commit(table_dir)["version"]
        agg = (
            read_keyed_table(spark, table_dir)
            .filter(F.col("bucket") != "seed")
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").cast("long").alias("id_sum"),
                F.round(F.sum("value"), 2).alias("total"),
            )
            .withColumn("n_commits", F.lit(n_commits).cast("long"))
        )
        # materialize the 8-row rollup BEFORE reaping the scratch table —
        # the returned DataFrame must not lazily scan a deleted dir
        # (VERDICT r08 #3: each call previously stranded a 9-commit
        # parquet table in /tmp)
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(table_dir, ignore_errors=True)


def _event_stream(spark: SparkSession, sf: str) -> DataFrame:
    return _raw_event_stream(spark, sf, _stream_dir(sf)).withWatermark("ts", "1 hour")


def _run_to_memory(agg: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Run the streaming plan to completion against a memory sink and
    return the materialized result. The plan was built on the replay
    session (its 8-partition conf fixed the state-store count at query
    start — no session-global conf is ever touched); the collected rows
    are re-materialized on the CALLER's session so downstream batch ops
    (joins against static tables, the driver's compare) never mix
    DataFrames across sessions."""
    spark = agg.sparkSession
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Materialize before the in-memory sink table goes away. The hop to
    # the parent session rides ARROW (lossless: int64 stays int64 with
    # nulls, NTZ timestamps round-trip exactly) instead of collected
    # Row objects: a createDataFrame over pickled rows makes EVERY
    # downstream action spawn 32 Python workers just to re-deserialize
    # the driver-held result (guide §4 — measured 0.43 s vs 0.09 s per
    # action on a 9.5k-row result at sf0.1); the Arrow relation
    # deserializes JVM-side.
    out = spark.sql(f"SELECT * FROM {name}")
    home = getattr(spark, "_nshm_replay_parent", None) or spark
    result = home.createDataFrame(out.toArrow(), out.schema)
    spark.catalog.dropTempView(name)
    return result


@register(
    "stream_tumbling_window",
    """SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
              COUNT(*) AS n, ROUND(SUM(value), 2) AS total
       FROM events GROUP BY 1, 2""",
)
def stream_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window × event_type — the streaming twin of the
    batch events_tumbling_window query, run through a real streaming job."""
    agg = (
        _event_stream(spark, sf)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(ntz("w.start").alias("window_start"), "event_type", "n", "total")
    )
    return _run_to_memory(agg, f"stream_tumbling_{next(_counter)}")


@register(
    "stream_dedup_events",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def stream_dedup_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup — the training-pipeline op 'drop events seen
    before' as a real streaming job: the source replays every event TWICE
    (doubled file source), dropDuplicates keys on event_id, and the
    watermark bounds the dedup state to one hour of event time (at-least-
    once upstream → exactly-once downstream, the Kafka-ingest pattern).
    Oracle: each event exactly once."""
    stream = _raw_event_stream(spark, sf, _stream_dir_doubled(sf)).withWatermark(
        "ts", "1 hour"
    )
    deduped = stream.dropDuplicates(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return _run_to_memory(
        deduped, f"stream_dedup_{next(_counter)}", output_mode="append"
    )


@register(
    "stream_sliding_window",
    """WITH buckets AS (
           -- every event is in exactly two 1h/30min windows: the one
           -- starting at its 30-minute bucket and the one 30min earlier
           SELECT e.value,
                  time_bucket(INTERVAL '30 minutes', ts) - INTERVAL (o.off) MINUTE
                      AS window_start
           FROM events e, (SELECT unnest([0, 30]) AS off) o)
       SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
       FROM buckets GROUP BY 1""",
)
def stream_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): every event lands in two
    overlapping windows; the oracle reproduces that by unioning the two
    bucket offsets."""
    agg = (
        _event_stream(spark, sf)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(ntz("w.start").alias("window_start"), "n", "total")
    )
    return _run_to_memory(agg, f"stream_sliding_{next(_counter)}")


@register(
    "stream_session_window",
    """WITH gaps AS (
           SELECT user_id, ts, value,
                  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 10 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events),
        sessions AS (
           SELECT user_id, ts, value,
                  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
           FROM gaps)
       SELECT user_id, MIN(ts) AS session_start,
              MAX(ts) + INTERVAL 10 MINUTE AS session_end,
              COUNT(*) AS n, ROUND(SUM(value), 2) AS total
       FROM sessions GROUP BY user_id, session_id""",
)
def stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (10-minute gap) per user via the native
    session_window operator; the oracle derives the same islands with the
    lag/gap-cumsum idiom (window end = last event + gap, matching Spark)."""
    agg = (
        _event_stream(spark, sf)
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            ntz("w.start").alias("session_start"),
            ntz("w.end").alias("session_end"),
            "n",
            "total",
        )
    )
    return _run_to_memory(agg, f"stream_session_{next(_counter)}")


@register(
    "stream_static_join",
    """SELECT c_mktsegment AS segment, event_type,
              COUNT(*) AS n, ROUND(SUM(value), 2) AS total
       FROM events JOIN customer ON c_custkey = user_id
       GROUP BY 1, 2""",
)
def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a STATIC dimension
    (customer segment) — the standard 'enrich clickstream with user
    attributes' pattern. Stateless: the dim broadcasts into every
    micro-batch (re-read each batch, so slowly-changing dims pick up
    updates), no join state store at all; only the downstream windowless
    aggregate keeps state. Oracle: the batch twin of the same join+agg.

    The dim is read on the REPLAY session — the static side of a
    stream-static join must live in the same session as the stream."""
    dim = F.broadcast(
        read_table(_replay_session(spark), sf, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    stream = _event_stream(spark, sf)
    enriched = stream.join(dim, stream.user_id == dim.c_custkey)
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("segment"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    return _run_to_memory(agg, f"stream_static_{next(_counter)}")


@register(
    "stream_upsert_table",
    """SELECT user_id, event_id, ts FROM (
           SELECT user_id, event_id, ts,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
       WHERE rn = 1""",
)
def stream_upsert_table(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-event-per-user table maintained by the foreachBatch MERGE
    sink (streaming/sinks.py): the doubled replay feeds every event TWICE
    across two micro-batches (maxFilesPerTrigger=1), so the query proves
    the whole sink protocol — per-batch reduce, order-column merge (a
    later batch re-delivers older events; they must not roll state back),
    versioned write, atomic publish. The final table is the global
    argmax(ts, event_id) per user regardless of batching, which is
    exactly the oracle's window — batch-invariance is what makes a
    streaming upsert oracle-able at all."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        read_keyed_table,
        upsert_stream_to_table,
    )

    stream = _raw_event_stream(
        spark, sf, _stream_dir_doubled(sf), maxFilesPerTrigger=1
    ).select("user_id", "event_id", "ts")
    table_dir = tempfile.mkdtemp(prefix="upsert_table_")
    ckpt = tempfile.mkdtemp(prefix="upsert_ckpt_")
    q = upsert_stream_to_table(
        stream,
        table_dir,
        ckpt,
        keys=["user_id"],
        order_col="ts",
        tiebreak=["event_id"],
    )
    q.awaitTermination()
    # the NTZ cast below is exact only under a UTC session zone — pin it
    # on the CALLER session (the driver builds its own, unpinned; the
    # batch read path pins as a side effect, but this query must not
    # depend on running after one that does)
    ensure_nanos_as_long(spark)
    latest = read_keyed_table(spark, table_dir).select(
        "user_id", "event_id", ntz("ts").alias("ts")
    )
    return _reap_scratch(latest, spark, table_dir, ckpt)


@register(
    "stream_upsert_mor",
    """SELECT user_id, event_id, ts FROM (
           SELECT user_id, event_id, ts,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
       WHERE rn = 1""",
)
def stream_upsert_mor(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE-ON-READ twin of `stream_upsert_table` — same doubled replay,
    same oracle (the global per-user argmax), but each micro-batch lands
    as an O(batch) generation APPEND (append_keyed_mor) instead of a
    table rewrite, the latest-per-key view is resolved by one read-side
    window (read_keyed_mor), and a compaction folds the generations
    before the final read — so the query proves write path, read-side
    merge, AND compaction all preserve the batch-invariant answer. This
    is the Hudi-MOR/Delta-DV cost model: at 100 TB the hot write path
    touches only the batch, and the merge window shuffles on the same
    key the copy-on-write variant shuffled per batch at write time.
    ``max_open_generations=3`` additionally exercises the r6 compaction
    trigger mid-stream: the replay spans more batches than the bound,
    so at least one inline fold runs BEFORE the final compaction and
    the answer must survive it."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        compact_keyed_mor,
        read_keyed_mor,
        upsert_stream_to_table_mor,
    )

    stream = _raw_event_stream(
        spark, sf, _stream_dir_doubled(sf), maxFilesPerTrigger=1
    ).select("user_id", "event_id", "ts")
    table_dir = tempfile.mkdtemp(prefix="upsert_mor_")
    ckpt = tempfile.mkdtemp(prefix="upsert_mor_ckpt_")
    q = upsert_stream_to_table_mor(
        stream,
        table_dir,
        ckpt,
        keys=["user_id"],
        order_col="ts",
        tiebreak=["event_id"],
        max_open_generations=3,
    )
    q.awaitTermination()
    compact_keyed_mor(spark, table_dir)
    ensure_nanos_as_long(spark)  # NTZ cast below needs the UTC pin
    latest = read_keyed_mor(spark, table_dir).select(
        "user_id", "event_id", ntz("ts").alias("ts")
    )
    return _reap_scratch(latest, spark, table_dir, ckpt)


@register(
    "stream_incremental_rollup",
    """SELECT event_type, DATE_TRUNC('hour', ts) AS hour_start,
              CAST(2 * COUNT(*) AS BIGINT) AS n,
              ROUND(2 * SUM(value), 2) AS total
       FROM events GROUP BY 1, 2""",
)
def stream_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained hourly rollup table: the doubled replay
    feeds every event twice across two micro-batches
    (maxFilesPerTrigger=1), and the additive foreachBatch sink
    (streaming/sinks.py rollup_stream_to_table) ADDS each batch's
    partials into the published table — so the final table must equal
    exactly TWICE the batch rollup, which is the oracle. Proves the
    whole incremental-view protocol: per-batch partial agg, additive
    merge, versioned atomic publish, batch-id replay safety (re-adding
    would double-count; the published id list prevents it).

    Float discipline: both batches sum the SAME file with the same
    partitioning, so their partials are bit-identical and the add is
    exact doubling; the final ROUND(x, 2) absorbs the usual cross-engine
    partial-aggregation-order difference, as in every summed oracle."""
    import tempfile

    from nshm2022db_spark.streaming.sinks import (
        read_keyed_table,
        rollup_stream_to_table,
    )

    stream = (
        _raw_event_stream(spark, sf, _stream_dir_doubled(sf), maxFilesPerTrigger=1)
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "value",
        )
    )
    table_dir = tempfile.mkdtemp(prefix="rollup_table_")
    ckpt = tempfile.mkdtemp(prefix="rollup_ckpt_")
    q = rollup_stream_to_table(
        stream,
        table_dir,
        ckpt,
        keys=["event_type", "hour_start"],
        sum_cols={"value": "total"},
    )
    q.awaitTermination()
    ensure_nanos_as_long(spark)  # NTZ cast below needs the UTC pin
    out = read_keyed_table(spark, table_dir).select(
        "event_type",
        ntz("hour_start").alias("hour_start"),
        "n",
        F.round("total", 2).alias("total"),
    )
    return _reap_scratch(out, spark, table_dir, ckpt)


@register(
    "stream_windowed_distinct",
    """WITH w AS (
           SELECT DATE_TRUNC('hour', ts) AS window_start,
                  COUNT(DISTINCT user_id) AS exact_u
           FROM events GROUP BY 1)
       SELECT window_start, exact_u, TRUE AS within_5pct FROM w""",
)
def stream_windowed_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct users per hourly window, computed INSIDE a streaming job.
    Streaming aggregation cannot hold exact per-window distinct sets
    (COUNT(DISTINCT) is unsupported — state would be unbounded per
    window); the production answer is a mergeable sketch, and that is
    what runs here: approx_count_distinct's HLL buffer lives in the
    window's state store and merges across micro-batches. The oracle
    pins the error contract per window (estimate within 5% of the exact
    batch count — rsd 1%), the same sketch-contract pattern as
    approx_count_distinct and hll_shard_merge."""
    agg = (
        _event_stream(spark, sf)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("est"))
        .select(ntz("w.start").alias("window_start"), "est")
    )
    streamed = _run_to_memory(agg, f"stream_distinct_{next(_counter)}")
    exact = (
        read_table(spark, sf, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(F.countDistinct("user_id").alias("exact_u"))
        .withColumn("window_start", ntz("window_start"))
    )
    return exact.join(streamed, "window_start", "left").select(
        "window_start",
        "exact_u",
        (
            F.coalesce(F.abs(F.col("est") - F.col("exact_u")), F.lit(10**9))
            <= 0.05 * F.col("exact_u")
        ).alias("within_5pct"),
    )


# ---------------------------------------------------------------------------
# Streaming near-dup admission (documents stream, simhash band index)
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def _docs_stream_split(spark: SparkSession, sf: str, n_files: int = 3) -> str:
    """Scratch dir holding the documents table split across ``n_files``
    parquet files so a maxFilesPerTrigger=1 replay yields real
    micro-batches (same pattern as _stream_dir_split for events)."""
    from nshm2022db_spark.sources.scratch import is_landed, mark_landed, scratch_path

    d = scratch_path(f"docs_stream_split{n_files}", sf)
    if not is_landed(d):
        read_table(spark, sf, "documents").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "files"))
        mark_landed(d)
    return os.path.join(d, "files")


def docs_stream(spark: SparkSession, sf: str, n_files: int = 3) -> DataFrame:
    """File-source documents stream over the split scratch dir — the
    replay harness for document-shaped streaming operators (the
    registered consumer lives in extensions.dedup:
    stream_neardup_admission). ``n_files`` controls how many real
    micro-batches the replay yields (1 = single batch, for
    batch-split-insensitivity tests)."""
    return (
        _replay_session(spark)
        .readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_docs_stream_split(spark, sf, n_files))
    )


_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def emb_stream(spark: SparkSession, sf: str, n_files: int = 3) -> DataFrame:
    """File-source embeddings stream — the replay harness for
    vector-shaped streaming operators (registered consumer:
    extensions.similarity.stream_semdedup_admission). Same split/replay
    mechanics as docs_stream; note the repartition split makes arrival
    order ARBITRARY w.r.t. vec_id, which is exactly what an order-free
    streaming admission rule must survive."""
    from nshm2022db_spark.sources.scratch import is_landed, mark_landed, scratch_path

    d = scratch_path(f"emb_stream_split{n_files}", sf)
    if not is_landed(d):
        read_table(spark, sf, "embeddings").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "files"))
        mark_landed(d)
    return (
        _replay_session(spark)
        .readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "files"))
    )


def run_to_memory(agg: DataFrame, kind: str) -> DataFrame:
    """Public wrapper over _run_to_memory with a collision-free sink
    name, for registered queries defined outside this module."""
    return _run_to_memory(agg, f"{kind}_{next(_counter)}")
