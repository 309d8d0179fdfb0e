"""Streaming sinks and the commit log they publish into: foreachBatch
upsert / rollup / merge-on-read sinks and the versioned keyed tables
they maintain.

The upsert sink is the other half of the lakehouse write path: append-only
landing keeps every version of a key, while `upsert_stream_to_table`
maintains LATEST-per-key state by merging each micro-batch into a keyed
table. Without a table format in the container (Delta/Iceberg), the commit
protocol is explicit and minimal — the same model those formats use:

  * each transaction stages its result in a UNIQUE immutable data
    directory (never a predictable shared name),
  * then claims the next version by atomically linking a manifest into
    an append-only commit log (`_commits/{version}.json`, via
    write-tmp + os.link — creation fails if the version is taken, the
    local-filesystem equivalent of an object store's conditional put),
  * a loser of that race deletes its stage, re-reads the new current
    version, recomputes, and retries — OPTIMISTIC CONCURRENCY, so two
    concurrent writers serialize instead of silently dropping one
    writer's merge (the lost-update hazard of a mutable pointer),
  * manifests carry the batch ids their transaction applied, so a
    replayed micro-batch (restart between write and checkpoint commit)
    sees its id already committed and no-ops — idempotent end-to-end,
  * readers resolve the max committed manifest and only ever see a
    fully-written version; the `_CURRENT` file is a non-authoritative
    hint beside the log.

Every table is a PARTITION MAP (``partition_col`` + ``partitions`` +
``op`` in each manifest). A keyed table that commits its whole state at
once (`committed_transaction`, the merge-on-read appends) is the map's
degenerate case: one constant entry, ``_ONE_ENTRY``, whose column no
reader sees.

Every committed data dir's file schema is recorded once, by the commit
that references it first (``dir_schemas``), and every read of committed
data takes its schema from there — never from the files' footers and
never from Spark's schema inference.

`transact` is the one publish loop: every writer here and in catalog.py
states only its attempt (head in, successor manifest out) and
`_next_manifest` is the one rule for the table state a successor
carries forward. Its per-entry data-skipping state (min/max stats and
Bloom bitmaps) comes from one rule too, `_skipping_successor`, and
every Bloom-bitmap prune — a read's equality probe, a MERGE's source
keys — goes through `_bloom_prune`.

Crash after staging but before commit leaves an orphan data dir that no
manifest references; `vacuum_uncommitted` removes those after a grace
period (mtime-based, so an in-flight writer's fresh stage survives).
"""

from __future__ import annotations

import base64
import json
import math
import os
import re
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

_POINTER = "_CURRENT"
_COMMITS = "_commits"
# the one entry of a table that commits its whole state at once: its
# data lives under ``{stage}/_one=0`` and `_read_partition_map` never
# attaches the column, so readers and ``compute`` see the table's own
# columns only
_ONE_COL = "_one"
_ONE_ENTRY = f"{_ONE_COL}=0"


def _write_hint(table_dir: str, manifest: dict) -> None:
    """Non-authoritative `_CURRENT` hint (atomic replace). The commit log
    is the source of truth; the hint is written for a head resolution
    that starts from it. Two racing hint writes can land out of order —
    harmless, because the log scan always wins."""
    fd, tmp = tempfile.mkstemp(dir=table_dir, prefix="_hint-tmp-")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(table_dir, _POINTER))


def _is_manifest(name: str) -> bool:
    return name.endswith(".json") and not name.endswith(".checkpoint.json")


def _read_json(path: str) -> dict | None:
    """None when the file vanished between listdir and open — a
    concurrent `vacuum_versions` retiring old manifests/checkpoints is
    allowed to race live readers; they skip what it unlinked (only
    DROPPED versions are ever unlinked, never the newest)."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _manifest_names(table_dir: str) -> list[str]:
    log = os.path.join(table_dir, _COMMITS)
    try:
        return sorted(n for n in os.listdir(log) if _is_manifest(n))
    except FileNotFoundError:
        return []


def current_commit(table_dir: str) -> dict:
    """The latest committed manifest {version, dir, batch_ids, ...}: the
    max entry of the append-only commit log, or version 0 before the
    first commit."""
    names = _manifest_names(table_dir)
    # newest-first: vacuum never unlinks the newest, but an older name
    # from our listing may vanish under a concurrent retention pass
    for n in reversed(names):
        m = _read_json(os.path.join(table_dir, _COMMITS, n))
        if m is not None:
            return m
    return {"version": 0, "batch_ids": []}


def try_commit(table_dir: str, manifest: dict) -> bool:
    """Claim `manifest['version']` by atomically linking a fully-written
    manifest file into the commit log. `os.link` fails with EEXIST when
    another writer claimed the version first — the compare-and-swap. On
    an object store this maps to a conditional put of the same key."""
    log = os.path.join(table_dir, _COMMITS)
    os.makedirs(log, exist_ok=True)
    # commit wall-clock, recorded once at publish (AS OF timestamp time
    # travel resolves against it); setdefault keeps replayed/rewritten
    # manifests' original times
    manifest.setdefault("committed_at", time.time())
    fd, tmp = tempfile.mkstemp(dir=log, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, os.path.join(log, f"{manifest['version']:020d}.json"))
            return True
        except FileExistsError:
            return False
    finally:
        os.unlink(tmp)


_CKPT_EVERY = 20  # ledger-checkpoint cadence (Delta: every 10 commits)


def _ledger_checkpoint(table_dir: str) -> tuple[int, set[int]]:
    """Latest batch-id ledger checkpoint (version, cumulative ids), or
    (0, empty). Checkpoints summarize ONLY the batch-id ledger — never
    table state — so they can't dangle at vacuumed data dirs; readers
    resolve data exclusively through manifests."""
    log = os.path.join(table_dir, _COMMITS)
    try:
        names = sorted(
            n for n in os.listdir(log) if n.endswith(".checkpoint.json")
        )
    except FileNotFoundError:
        return 0, set()
    for n in reversed(names):  # skip checkpoints a concurrent vacuum retired
        d = _read_json(os.path.join(log, n))
        if d is not None:
            return d["version"], set(d["batch_ids"])
    return 0, set()


def _write_ledger_checkpoint(table_dir: str, version: int, ids: set[int]) -> None:
    """Atomic (tmp + rename) so a crash mid-write leaves a sweepable
    .tmp, never a torn checkpoint; racing writers of the same version
    produce identical content, so last-rename-wins is harmless."""
    log = os.path.join(table_dir, _COMMITS)
    fd, tmp = tempfile.mkstemp(dir=log, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"version": version, "batch_ids": sorted(ids)}, f)
    os.replace(tmp, os.path.join(log, f"{version:020d}.checkpoint.json"))


def committed_batch_ids(table_dir: str) -> set[int]:
    """All batch ids ever committed: the latest ledger CHECKPOINT plus
    the delta batch_ids of manifests after it — O(tail), not O(every
    version since table birth), which is what keeps a long-lived
    streaming land from re-reading thousands of manifests per
    micro-batch (the problem Delta's log checkpoints solve). Manifests
    carry only the ids THEIR transaction applied — cumulative lists
    would grow the log O(B²) over a stream's life."""
    while True:
        names = _manifest_names(table_dir)
        ckpt_v, ids = _ledger_checkpoint(table_dir)
        log = os.path.join(table_dir, _COMMITS)
        restart = False
        for n in names:
            if int(n.split(".")[0]) <= ckpt_v:
                continue
            m = _read_json(os.path.join(log, n))
            if m is None:
                # a concurrent vacuum rolled this manifest's ids into a
                # NEWER checkpoint and unlinked it between our listing
                # and the open; skipping would LOSE those ids (a
                # replayed batch could re-apply) — restart the scan,
                # which now sees that checkpoint. A loop, not recursion:
                # sustained vacuum churn on this hot per-micro-batch
                # path must not grow the Python stack.
                restart = True
                break
            ids.update(m["batch_ids"])
        if not restart:
            return ids


def _maybe_checkpoint_ledger(table_dir: str, version: int) -> None:
    """Every _CKPT_EVERY commits, roll the batch-id ledger up into a
    checkpoint so committed_batch_ids stays O(tail)."""
    if version % _CKPT_EVERY == 0:
        _write_ledger_checkpoint(table_dir, version, committed_batch_ids(table_dir))


def _publish(table_dir: str, manifest: dict, stage_path: str) -> bool:
    """CAS-publish a manifest anchored on a staged dir: refresh the
    stage mtime so vacuum's grace window restarts, link the manifest
    (the CAS), fail LOUDLY un-publishing if a misconfigured vacuum
    deleted the stage in the race window, then write the hint and roll
    the batch-id ledger. Returns False on a version conflict."""
    os.utime(stage_path)
    if not try_commit(table_dir, manifest):
        return False
    if not os.path.isdir(stage_path):
        os.unlink(
            os.path.join(table_dir, _COMMITS, f"{manifest['version']:020d}.json")
        )
        raise RuntimeError(
            f"stage {os.path.basename(stage_path)} vacuumed before "
            f"commit on {table_dir}; raise vacuum grace_sec above the "
            "max writer stall"
        )
    _write_hint(table_dir, manifest)
    _maybe_checkpoint_ledger(table_dir, manifest["version"])
    return True


_ATTEMPTS = 32  # CAS attempts per transaction (8 racing appenders fit)


def transact(table_dir: str, attempt, *, batch_id=None, rebase=None):
    """Run one optimistic-concurrency transaction on a commit log — the
    one publish loop every writer (tables here, the catalog in
    catalog.py) shares, the shape of Delta's OptimisticTransaction.

    Each attempt reads the head (`current_commit`). A ``batch_id``
    already in the log makes the whole transaction a no-op (replayed
    micro-batch idempotence); otherwise ``attempt(cur, new_stage)``
    returns the successor manifest, or None when there is nothing to
    commit. ``new_stage(kind="data")`` names a fresh ``{kind}-<uuid>``
    dir owned by this transaction. A manifest whose ``dir`` is one of
    them publishes through `_publish`; any other manifest (a catalog
    vector, a restore of committed dirs) is stage-less and CASes
    directly.

    A lost CAS deletes the attempt's stages and retries against the
    winner — unless ``rebase`` is given: the stages are then kept, and
    before the next attempt ``rebase(cur)`` either accepts them for
    re-manifesting on the new head (True) or has them deleted for a
    full re-run (False). Stages never outlive an unpublished
    transaction (no-op, give-up, or an error raised before the CAS);
    an error DURING the CAS leaves them for `vacuum_uncommitted`, as a
    crash would. Returns the published manifest, or None when nothing
    was committed."""
    os.makedirs(table_dir, exist_ok=True)
    staged: list[str] = []

    def new_stage(kind: str = "data") -> str:
        staged.append(f"{kind}-{uuid.uuid4().hex}")
        return staged[-1]

    def drop_stages() -> None:
        for name in staged:
            shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)
        staged.clear()

    try:
        for _ in range(_ATTEMPTS):
            cur = current_commit(table_dir)
            if batch_id is not None and batch_id in committed_batch_ids(
                table_dir
            ):
                return None
            if staged and not rebase(cur):
                drop_stages()
            manifest = attempt(cur, new_stage)
            if manifest is None:
                return None
            if batch_id is not None:
                manifest["batch_ids"] = [batch_id]
            try:
                if manifest.get("dir") in staged:
                    won = _publish(
                        table_dir, manifest,
                        os.path.join(table_dir, manifest["dir"]),
                    )
                else:
                    won = try_commit(table_dir, manifest)
            except BaseException:
                # the CAS outcome is unknown (a failure after the link
                # leaves a live manifest on these stages): leave them to
                # vacuum_uncommitted, which deletes only unreferenced dirs
                staged.clear()
                raise
            if won:
                staged.clear()  # published: the stages are live table data
                return manifest
            if rebase is None:
                drop_stages()
        raise RuntimeError(
            f"commit conflict persisted for {_ATTEMPTS} attempts on {table_dir}"
        )
    finally:
        drop_stages()


# table state a successor manifest carries forward unless its commit
# changes it (per-commit keys — op, batch_ids, cdc, data_change,
# committed_at — never carry)
_CARRIED = (
    "partition_col", "partitions", "stats", "bloom", "constraints",
    "legacy_layouts", "column_map", "dropped_columns", "dv", "dv_key",
    "mor",
)


def _next_manifest(cur: dict, op: str, stage: str, **fields) -> dict:
    """The one rule for what a new manifest carries: version + 1,
    anchored (``dir``) on ``stage``, tagged ``op``, every `_CARRIED` key
    of ``cur`` forward, then ``fields`` on top. An empty or None value
    drops its key — stat-less, bloom-less, tombstone-less and map-less
    are all the absent state — except ``partitions``, which every table
    carries even when every entry was dropped; ``dv_key`` leaves with
    the last tombstone.

    ``dir_schemas`` names the NEW dirs' file schemas (Spark schema json
    of that dir's parquet files; partition-mapped stages exclude the
    partition column), recorded ONCE at write time — the writer already
    knows it, so no read ever derives it from the files. Entries of
    ``cur`` carry forward for the dirs the new manifest still
    references; a read of a dir without an entry raises."""
    stages = fields.pop("dir_schemas", None) or {}
    m = {k: cur[k] for k in _CARRIED if k in cur}
    m.update(fields)
    m = {
        k: v for k, v in m.items()
        if k == "partitions" or v not in (None, [], {})
    }
    if "dv" not in m:
        m.pop("dv_key", None)
    m.update(version=cur["version"] + 1, dir=stage, batch_ids=[], op=op)
    live = _manifest_dirs(m)
    schemas = {
        d: sj for d, sj in (cur.get("dir_schemas") or {}).items() if d in live
    }
    schemas.update(
        {d: sj for d, sj in stages.items() if d in live and sj is not None}
    )
    if schemas:
        m["dir_schemas"] = schemas
    return m


def _write_one(df: DataFrame, table_dir: str, stage: str) -> dict:
    """Write ``df`` as the one entry of ``stage`` — the rows of a table
    that commits its whole state at once — and return the stage's file
    schema for the manifest."""
    df.write.mode("overwrite").parquet(
        os.path.join(table_dir, stage, _ONE_ENTRY)
    )
    return {stage: _file_schema_json(df.schema)}


def committed_transaction(
    spark: SparkSession,
    table_dir: str,
    compute,
    batch_id: int | None = None,
) -> None:
    """Run one optimistic-concurrency transaction that rewrites a whole
    keyed table: read the current version, `compute(base_df_or_None) ->
    DataFrame`, stage the result in a unique data dir as the table's one
    constant entry (``_ONE_ENTRY``, a column ``compute`` never sees),
    CAS the next version into the commit log as a ``rewrite``. On
    conflict the stage is deleted and the whole transaction retries
    against the winner's version, so concurrent writers SERIALIZE — no
    lost updates. With `batch_id`, an already-committed id no-ops
    (replayed micro-batch idempotence)."""

    def attempt(cur, new_stage):
        if cur.get("partition_col", _ONE_COL) != _ONE_COL:
            raise ValueError(
                f"{table_dir} is partitioned by {cur['partition_col']!r}; "
                "use committed_partition_transaction"
            )
        base = _read_keyed(spark, table_dir, cur) if cur["version"] else None
        merged = compute(base)
        stage = new_stage()
        return _next_manifest(
            cur, "rewrite", stage,
            partition_col=_ONE_COL,
            partitions={_ONE_ENTRY: stage},
            dir_schemas=_write_one(merged, table_dir, stage),
        )

    transact(table_dir, attempt, batch_id=batch_id)


def _json_stat(v):
    """Manifest stats must round-trip through JSON losslessly and compare
    with plain operators — numeric columns only (None = all-NULL
    partition; bool is an int subclass and fine)."""
    if v is None or isinstance(v, (int, float)):
        return v
    raise TypeError(
        f"stats_cols support numeric columns only, got {type(v).__name__}"
    )


def _collect_stage_stats(
    stage_path: str, written: set[str], stats_cols: list[str]
) -> dict:
    """Per-partition {n, cols: {c: [min, max]}} for a freshly staged
    write, read from the PARQUET FOOTERS (pyarrow metadata) — no Spark
    job at all. Parquet column-chunk statistics are EXACT for the
    numeric physical types stats_cols allows (truncation only applies to
    string/binary), and the footers describe what is actually on disk,
    which is the contract manifest stats carry. At scale this is
    O(files) driver-side metadata reads, the same stats-backfill path a
    real table format uses; the write tasks' own footer writes already
    paid the computation."""
    import pyarrow.parquet as pq

    out = {}
    for e in written:
        d = os.path.join(stage_path, e)
        n = 0
        bounds: dict[str, list] = {c: [None, None] for c in stats_cols}
        nulls: dict[str, int | None] = {c: 0 for c in stats_cols}
        # bounds are only publishable if EVERY non-empty row group that
        # holds the column reported min/max — a stats-less group (a
        # foreign writer with statistics disabled) holds rows the
        # recorded bounds would not cover, and publishing them anyway
        # would let range pruning skip partitions with matching rows
        covered: dict[str, bool] = {c: True for c in stats_cols}
        for f in os.listdir(d):
            if not (f.endswith(".parquet") or f.startswith("part-")):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            n += md.num_rows
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            for c in stats_cols:
                if c not in idx:
                    # column absent from this file (schema evolution):
                    # every one of its rows reads back NULL for c (and
                    # NULLs never match a range predicate, so absent
                    # files don't invalidate bounds)
                    if nulls[c] is not None:
                        nulls[c] += md.num_rows
                    continue
                for g in range(md.num_row_groups):
                    if md.row_group(g).num_rows == 0:
                        continue
                    st = md.row_group(g).column(idx[c]).statistics
                    if st is None:
                        nulls[c] = None  # unknown → record no null stat
                        covered[c] = False
                        continue
                    if nulls[c] is not None:
                        nc = st.null_count
                        nulls[c] = None if nc is None else nulls[c] + nc
                    if not st.has_min_max:
                        # rows exist here with unknown values: unless
                        # they are ALL null, the bounds can't claim
                        # coverage
                        if st.null_count is None or (
                            st.null_count != md.row_group(g).num_rows
                        ):
                            covered[c] = False
                        continue
                    lo, hi = bounds[c]
                    bounds[c][0] = st.min if lo is None else min(lo, st.min)
                    bounds[c][1] = st.max if hi is None else max(hi, st.max)
        out[e] = {
            "n": n,
            # an uncovered column is OMITTED, not published as
            # [None, None]: absent reads as "no bound, never pruned"
            # everywhere AND the append merge drops it from the merged
            # entry (a [None, None] would be mistaken for an all-NULL
            # column there, carrying the OLD bounds forward over rows
            # they don't cover)
            "cols": {
                c: [_json_stat(bounds[c][0]), _json_stat(bounds[c][1])]
                for c in stats_cols
                if covered[c]
            },
            "nulls": {c: k for c, k in nulls.items() if k is not None},
        }
    return out


_BLOOM_BITS = 65536  # default m: 8 KiB/partition/col, <1% FP up to ~n=6800
_BLOOM_HASHES = 5  # k: optimal for m/n ≈ 10
# Bloom sidecar FORMAT version. v2 = signed-zero canonicalization in
# the hash input (-0.0 and 0.0 share one canonical string). A bitmap
# persisted by a pre-v2 writer hashed '-0.0' keys under a different
# string than a v2 probe computes, so probing it could FALSELY prune
# the partition holding the match — the probe side therefore treats
# any spec whose ``v`` differs from the current format as no-bloom
# (never prunes), exactly like the older pre-type-tag ``t`` gate.
_BLOOM_FORMAT = 2
# merge pruning probes blooms per source key only when the source's
# distinct key set is at most this many (one limit-bounded job; the
# driver-side probe loop is partitions x keys x k bit tests)
_MERGE_BLOOM_PROBE_CAP = 64


def _bloom_position_cols(col, m: int, k: int) -> list:
    """The k Bloom probe positions of a value, as Column expressions — k
    independent xxhash64 streams (seeded by stream index as a leading
    hashed field) over the value's CANONICAL STRING form. Casting to
    string on BOTH the build and probe side sidesteps Spark's per-type
    hash encodings (int vs long vs string literals hash differently),
    so a probe literal of any compatible Python type agrees with the
    built bitmap."""
    s = col.cast("string")
    # signed zero: CAST(-0.0 AS STRING) is '-0.0' but -0.0 = 0.0 in SQL
    # equality — without canonicalizing, a 0.0 probe against a bitmap
    # built over -0.0 rows finds zero bits and FALSELY prunes the
    # partition holding its match (caught building the r14 probe-parity
    # test). Normalize the one string form divergent equality produces.
    s = F.when(s == "-0.0", F.lit("0.0")).otherwise(s)
    return [F.pmod(F.xxhash64(F.lit(i), s), F.lit(m)) for i in range(k)]


def _check_bloom_spec(m: int, k: int) -> None:
    """Reject bitmap geometries the byte packing can't represent BEFORE
    anything is staged — a bad m discovered mid-transaction would
    orphan the staged write."""
    if m <= 0 or m % 8:
        raise ValueError(f"bloom_bits must be a positive multiple of 8, got {m}")
    if k <= 0:
        raise ValueError(f"bloom_hashes must be positive, got {k}")


def _arrow_to_spark_type(at) -> "T.DataType | None":
    """Spark read type for an Arrow footer type, WHITELISTED: only types
    whose parquet→Spark inference mapping is unconditional (validated
    against Spark's own inference over every testdata table + edge-case
    writes, r15). None = not provably safe, caller must fall back to the
    inference read. Deliberately excluded: ns/INT96 timestamps (the
    nanosAsLong conf and INT96 rebase make their mapping conf-dependent),
    non-UTC tz, uint widths, date64."""
    import pyarrow as pa

    ty = pa.types
    if ty.is_boolean(at):
        return T.BooleanType()
    if ty.is_int8(at):
        return T.ByteType()
    if ty.is_int16(at):
        return T.ShortType()
    if ty.is_int32(at):
        return T.IntegerType()
    if ty.is_int64(at):
        return T.LongType()
    if ty.is_float32(at):
        return T.FloatType()
    if ty.is_float64(at):
        return T.DoubleType()
    if ty.is_string(at) or ty.is_large_string(at):
        return T.StringType()
    if ty.is_binary(at) or ty.is_large_binary(at):
        return T.BinaryType()
    if ty.is_date32(at):
        return T.DateType()
    if ty.is_timestamp(at):
        if at.unit != "us":
            return None
        if at.tz is None:
            return T.TimestampNTZType()
        if at.tz in ("UTC", "+00:00"):
            return T.TimestampType()
        return None
    if ty.is_decimal128(at):
        return T.DecimalType(at.precision, at.scale)
    if ty.is_list(at) or ty.is_large_list(at):
        el = _arrow_to_spark_type(at.value_type)
        return None if el is None else T.ArrayType(el, True)
    if ty.is_struct(at):
        fields = []
        for i in range(at.num_fields):
            f = at.field(i)
            dt = _arrow_to_spark_type(f.type)
            if dt is None:
                return None
            fields.append(T.StructField(f.name, dt, True))
        return T.StructType(fields)
    if ty.is_map(at):
        kt = _arrow_to_spark_type(at.key_type)
        vt = _arrow_to_spark_type(at.item_type)
        if kt is None or vt is None:
            return None
        return T.MapType(kt, vt, True)
    return None


# (file list, sizes, mtimes) -> StructType | False ("unsafe, don't retry").
# The stat tuple in the key invalidates a hit on a rewritten file.
_FOOTER_SCHEMA_MEMO: dict = {}
_FOOTER_SCHEMA_MEMO_CAP = 8192


def _footer_schema(paths: list[str]) -> "T.StructType | None":
    """Driver-side schema for the parquet files under ``paths`` (dirs or
    files), via pyarrow footers — replaces Spark's schema-inference job
    (guide §1/§6: one Spark job per un-schema'd read, plus its plan
    resolve) with O(files) local metadata reads. Returns a schema ONLY
    when every footer carries the identical Arrow schema and every type
    is in the `_arrow_to_spark_type` whitelist; otherwise None and the
    caller runs Spark's own inference read. Non-committed parquet only
    (the corpus, result scratch): committed dirs read through their
    recorded schema (`_recorded_schema`)."""
    files: list[tuple[str, int, int]] = []
    try:
        for p in paths:
            if os.path.isfile(p):
                st = os.stat(p)
                files.append((p, st.st_size, st.st_mtime_ns))
                continue
            with os.scandir(p) as it:
                for e in it:
                    if e.is_dir():
                        return None  # nested layout: let Spark resolve
                    n = e.name
                    if n.endswith(".parquet") or n.startswith("part-"):
                        st = e.stat()
                        files.append((e.path, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    if not files:
        return None
    files.sort()
    key = tuple(files)
    hit = _FOOTER_SCHEMA_MEMO.get(key)
    if hit is not None:
        return hit or None
    import pyarrow.parquet as pq

    schema0 = None
    try:
        for f, _, _ in files:
            s = pq.read_schema(f)
            if schema0 is None:
                schema0 = s
            elif not s.equals(schema0):
                schema0 = None  # footers disagree: Spark's inference
                break
    except Exception:
        schema0 = None
    out: "T.StructType | None" = None
    if schema0 is not None:
        fields = []
        for i in range(len(schema0)):
            f = schema0.field(i)
            dt = _arrow_to_spark_type(f.type)
            if dt is None:
                fields = None
                break
            fields.append(T.StructField(f.name, dt, True))
        if fields is not None:
            out = T.StructType(fields)
    if len(_FOOTER_SCHEMA_MEMO) >= _FOOTER_SCHEMA_MEMO_CAP:
        _FOOTER_SCHEMA_MEMO.clear()
    _FOOTER_SCHEMA_MEMO[key] = out if out is not None else False
    return out


def _read_parquet_fast(
    spark: SparkSession, *paths: str, schema_json: dict | None = None
) -> DataFrame:
    """`spark.read.parquet(*paths)` of NON-committed parquet (the
    corpus, result scratch) minus the schema-inference Spark job when
    the footers allow it (`_footer_schema`); byte-identical plan
    semantics either way — the fast path only fires when every footer
    agrees, which is exactly the case where inference returns the same
    schema. ``schema_json``: the writer's own schema, supplied directly
    (zero footer reads). Committed data never reads through here: its
    schema is the manifest's (`_read_dirs`, `_read_partition_map`)."""
    if schema_json is not None:
        return spark.read.schema(
            T.StructType.fromJson(schema_json)
        ).parquet(*paths)
    fast = _footer_schema(list(paths))
    if fast is not None:
        return spark.read.schema(fast).parquet(*paths)
    return spark.read.parquet(*paths)


def _recorded_schema(table_dir: str, m: dict, d: str) -> dict:
    """The schema json manifest ``m`` recorded for data dir ``d`` — the
    one schema source of a committed read."""
    sj = (m.get("dir_schemas") or {}).get(d)
    if sj is None:
        raise ValueError(
            f"{table_dir}: data dir {d!r} has no recorded schema in "
            f"its manifest"
        )
    return sj


def _read_dirs(
    spark: SparkSession, table_dir: str, m: dict, dirs: list[str]
) -> DataFrame:
    """Flat committed dirs (tombstone key files, a CDC sidecar) read
    through their recorded schemas: one scan when the schemas agree,
    otherwise a by-name union of per-dir scans (a column only some
    dirs carry reads as NULL in the others)."""
    sjs = [_recorded_schema(table_dir, m, d) for d in dirs]
    paths = [os.path.join(table_dir, d) for d in dirs]
    if all(sj == sjs[0] for sj in sjs):
        return spark.read.schema(T.StructType.fromJson(sjs[0])).parquet(*paths)
    out = None
    for sj, p in zip(sjs, paths):
        df = spark.read.schema(T.StructType.fromJson(sj)).parquet(p)
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def _nullable_type(dt: "T.DataType") -> "T.DataType":
    """The type with every nesting level forced nullable — what a
    parquet read of the written files reports (the writer's frame may
    carry non-null fields; parquet file sources surface them
    nullable)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable_type(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    return dt


def _file_schema_json(
    schema: "T.StructType", drop: str | None = None
) -> dict:
    """The as-written file schema of a staged frame, as manifest json:
    the partition column projected out (``partitionBy`` encodes it in
    dir names, not files) and every field nullable. This is what the
    writer KNOWS, so recording it costs zero I/O."""
    return T.StructType(
        [
            T.StructField(f.name, _nullable_type(f.dataType), True)
            for f in schema.fields
            if f.name != drop
        ]
    ).jsonValue()


def _distribute_for_partitioned_write(
    df: DataFrame, pcol: str, nvals: int | None = None
) -> DataFrame:
    """Hash-distribute a staged frame by its partition column before a
    ``partitionBy`` write — Iceberg's ``write.distribution-mode=hash``
    (guide §6). Without it every input task opens a writer per touched
    value: a one-task micro-batch writes its ~30 day files SERIALLY
    (measured 0.85 s vs 0.39 s for the same batch at sf0.1), and a
    wide input writes tasks × values small files. The NUMBERED
    repartition is user-specified partitioning, which AQE's
    byte-targeted coalescing preserves (the dedup_semdedup lesson —
    an un-numbered ``repartition(col)`` coalesces right back to one
    task on a tiny batch). N tracks ``spark.sql.shuffle.partitions``,
    the session's scale knob, so the driver's lower-core bench and a
    real cluster both size it; the tradeoff (Iceberg's too) is one
    writer task per partition VALUE per commit — right for
    micro-batch appends and partition-scoped rewrites, while the
    table-sized full-rewrite path keeps its unshuffled many-files
    layout (`rewrite_partition_table` + maxRecordsPerFile).

    ``nvals``: when the caller already knows how many distinct
    partition values it writes (the DML rewrites compute the value
    sets driver-side; the index maintainer knows its bucket count), a
    single-value write skips the shuffle — one value hashes to one
    task anyway, so the exchange would buy nothing and serialize the
    upstream compute — and a multi-value write CAPS the width at the
    value count (VERDICT r15 #4): rows hash into <= nvals distinct
    buckets regardless of N, so tasks beyond nvals are pure
    scheduling (29 empty tasks per 3-value merge batch at N=32)."""
    if nvals is not None and nvals <= 1:
        return df
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if nvals is not None:
        n = min(n, nvals)
    return df.repartition(n, F.col(pcol))


def _raw_layout_schema(
    spark: SparkSession, table_dir: str, entries: list[str], pcol: str
) -> dict:
    """The file schema of a raw ``partitionBy`` layout's entry dirs, as
    manifest json with the partition column projected out — derived
    ONCE, when the layout migrates into the commit log as data dir
    ``"."``. Spark reads each distinct footer schema (usually one) and
    the results merge by name in first-seen order, parquet's schema
    evolution; a column whose type differs between files refuses."""
    import pyarrow.parquet as pq

    firsts: dict[bytes, str] = {}
    for e in entries:
        for f in _parquet_files(os.path.join(table_dir, e)):
            firsts.setdefault(pq.read_schema(f).serialize().to_pybytes(), f)
    fields: dict[str, T.StructField] = {}
    for f in firsts.values():
        for fld in spark.read.parquet(f).schema:
            have = fields.setdefault(fld.name, fld)
            if _nullable_type(have.dataType) != _nullable_type(fld.dataType):
                raise ValueError(
                    f"{table_dir}: column {fld.name!r} is "
                    f"{have.dataType.simpleString()} in some files and "
                    f"{fld.dataType.simpleString()} in others"
                )
    return _file_schema_json(T.StructType(list(fields.values())), drop=pcol)


def _read_stage(
    spark: SparkSession,
    table_dir: str,
    pcol: str,
    stage: str,
    written: set[str],
    schema_json: dict,
) -> DataFrame:
    """The entries ``written`` of a just-staged write, read through the
    stage's own schema — the one frame its CHECK constraints, audit and
    Bloom bitmaps see."""
    return _read_partition_map(
        spark,
        table_dir,
        {
            "partition_col": pcol,
            "partitions": {e: stage for e in sorted(written)},
            "dir_schemas": {stage: schema_json},
        },
    )


def _collect_stage_blooms(
    staged: DataFrame,
    partition_col: str,
    bloom_cols: list[str],
    m: int,
    k: int,
) -> dict:
    """Per-partition Bloom bitmaps over the named columns of a freshly
    staged write (``staged``, `_read_stage`) — the manifest half of
    Delta's bloom-filter index / Iceberg's puffin sidecars: equality
    predicates on high-cardinality columns can skip partitions whose
    min/max ranges all overlap (where range stats prove nothing). ONE
    distributed aggregation over only the staged files regardless of
    column count (each row contributes (col, position) pairs for every
    bloom column in one explode); the map-side partial collect_set is
    bounded by m per (partition, col), so the shuffle is O(partitions ×
    cols × m) regardless of appended row count, and the driver packs
    each set to m/8 bytes of base64. Each spec records the COLUMN TYPE
    it hashed through (``t``) so the probe side can cast its literal
    identically — hashing the string form of a double ('3.0') and
    probing with an int ('3') would otherwise be a silent false
    negative. NULLs are not inserted (equality against NULL is the
    ``"null"`` prune spec's job)."""
    types = dict(staged.dtypes)
    cols = [c for c in bloom_cols if c in staged.columns]
    if not cols:
        return {}
    pair_arrays = [
        F.when(
            F.col(c).isNotNull(),
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("_c"),
                        p.alias("_p"),
                    )
                    for p in _bloom_position_cols(F.col(c), m, k)
                ]
            ),
        ).otherwise(F.array())
        for c in cols
    ]
    rows = (
        staged.select(
            F.col(partition_col).cast("string").alias("_e"),
            F.explode(F.flatten(F.array(*pair_arrays))).alias("_cp"),
        )
        .groupBy("_e", F.col("_cp._c").alias("_c"))
        .agg(F.collect_set(F.col("_cp._p")).alias("_ps"))
        .collect()
    )
    prefix = f"{partition_col}="
    out: dict[str, dict] = {}
    for r in rows:
        bits = bytearray(m // 8)
        for p in r["_ps"]:
            bits[p >> 3] |= 1 << (p & 7)
        out.setdefault(f"{prefix}{r['_e']}", {})[r["_c"]] = {
            "m": m,
            "k": k,
            "t": types[r["_c"]],
            "v": _BLOOM_FORMAT,
            "bits": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return out


_PROBE_CACHE: dict = {}


def _bloom_probes(
    spark: SparkSession, value, m: int, k: int, t: str
) -> list[int] | None:
    """Probe positions for an equality value, computed BY SPARK (a 1-row
    local-relation job, cached per value+spec) so the probe hashes are
    bit-identical to the build side's xxhash64 — no Python
    reimplementation of the JVM hash to drift. The literal is cast to
    the COLUMN TYPE the bitmap recorded (``t``) before the canonical
    string cast, so an int probe against a double column hashes '3.0'
    exactly like the build did — probing the raw literal's own string
    form would be a silent false negative. Returns None (caller must
    not prune) when the literal doesn't cast to ``t``."""
    ck = (type(value).__name__, value, m, k, t)
    if ck not in _PROBE_CACHE:
        # try_cast, not cast: ANSI mode throws on a malformed literal
        # (e.g. probing a numeric column with 'abc'), where the right
        # answer is simply "can't prune"
        lit = F.lit(value).try_cast(t)
        cols = _bloom_position_cols(lit, m, k)
        row = spark.range(1).select(
            lit.isNull().alias("nul"),
            *[c.alias(f"p{i}") for i, c in enumerate(cols)],
        ).first()
        if len(_PROBE_CACHE) >= 4096:
            # bounded like _KEYSET_CACHE: per-source-key merge probing
            # feeds arbitrary CDC values through here — a long-lived
            # streaming driver must not leak (r11 review #4)
            _PROBE_CACHE.clear()
        _PROBE_CACHE[ck] = (
            None if row["nul"] else [row[f"p{i}"] for i in range(k)]
        )
    return _PROBE_CACHE[ck]


def _sql_probe_literal(v) -> str | None:
    """``v`` as a FOLD-SAFE Spark SQL literal, or None when it has no
    safe textual form (the caller falls back to the local-relation
    job). Strings go hex-encoded — ``CAST(X'..' AS STRING)`` — so the
    parser's quote/backslash escape rules can never reinterpret the
    value; numeric forms round-trip exactly (Python repr is the
    shortest round-trip form for floats, and Spark parses the
    decimal/scientific literal to the same double)."""
    if v is True or v is False:
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v) if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        # explicit DOUBLE: a bare 12345678.0 parses as DECIMAL, whose
        # canonical STRING form ('12345678.0') diverges from the
        # double's ('1.2345678E7') — a float probing a string column
        # must hash the same text the slow path's double literal does
        return f"CAST({v!r} AS DOUBLE)" if math.isfinite(v) else None
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    return None


def _bloom_probes_prefetch(
    spark: SparkSession, values: list, m: int, k: int, t: str
) -> None:
    """Warm `_PROBE_CACHE` for MANY equality values at once (r11 review
    #3 — the per-key merge probing would otherwise fire one driver job
    per distinct source key).

    Values with a fold-safe literal form (strings, longs, finite
    doubles, bools — every key type the registered tables use) are
    batched into a VALUES inline table: the probe projection is
    deterministic expressions over a LocalRelation, so Catalyst's
    ConvertToLocalRelation evaluates it AT PLAN TIME and the collect
    returns driver-side without scheduling a single task (measured r14:
    0.12 s vs 0.49 s for the createDataFrame job — which spread 31 rows
    over defaultParallelism tasks — per merge commit). Exotic value
    types take `_bloom_probes`' own 1-row job, one per value."""
    todo = [
        v
        for v in dict.fromkeys(values)
        if v is not None
        and (type(v).__name__, v, m, k, t) not in _PROBE_CACHE
    ]
    if not todo:
        return
    if len(_PROBE_CACHE) >= 4096:
        _PROBE_CACHE.clear()
    # one VALUES statement per type CLASS: an inline table demands one
    # compatible type per column, and a mixed CDC key batch (ints and
    # strings) is legal input (pinned by TestBloomProbeFastPath)
    fast: dict[str, list] = {}
    rows = []
    for i, v in enumerate(todo):
        sl = _sql_probe_literal(v)
        if sl is not None:
            fast.setdefault(type(v).__name__, []).append((i, sl))
        elif isinstance(v, int):
            # only beyond-long ints get here: no Spark literal form, so
            # a NULL probe — "cannot prune", never a false skip
            rows.append({"_i": i, "nul": True})
        else:
            # exotic types take `_bloom_probes`' own job, value by value
            _bloom_probes(spark, v, m, k, t)
    for chunk_src in fast.values():
        # chunk the VALUES text: thousands of CDC keys in one statement
        # would push parser time past the job it replaces
        for lo in range(0, len(chunk_src), 1024):
            chunk = chunk_src[lo:lo + 1024]
            vals_sql = ", ".join(f"({i}, {sl})" for i, sl in chunk)
            df = spark.sql(
                f"SELECT col1 AS _i, try_cast(col2 AS {t}) AS _v"
                f" FROM VALUES {vals_sql}"
            )
            lit = df["_v"]
            cols = _bloom_position_cols(lit, m, k)
            rows += df.select(
                df["_i"],
                lit.isNull().alias("nul"),
                *[c.alias(f"p{i}") for i, c in enumerate(cols)],
            ).collect()
    for r in rows:
        v = todo[r["_i"]]
        _PROBE_CACHE[(type(v).__name__, v, m, k, t)] = (
            None if r["nul"] else [r[f"p{i}"] for i in range(k)]
        )


def _split_prune(prune: dict | None) -> tuple[dict | None, dict]:
    """Split a prune spec into the range/null part `_stats_prune`
    understands and the equality probes ``{col: value}`` for
    `_bloom_prune`. An ``("eq", v)`` bound also contributes the
    degenerate range (v, v) for numeric v, so min/max stats and the
    bloom BOTH get a chance to disprove it."""
    if not prune:
        return prune, {}
    base: dict = {}
    eq: dict = {}
    for c, b in prune.items():
        if isinstance(b, tuple) and len(b) == 2 and b[0] == "eq":
            eq[c] = b[1]
            if isinstance(b[1], (int, float)) and not isinstance(b[1], bool):
                base[c] = (b[1], b[1])
        else:
            base[c] = b
    return base, eq


def _bloom_may_contain(
    spark: SparkSession, sp: dict | None, v, bits: bytes | None = None
) -> bool:
    """True unless the bitmap PROVES value ``v`` was never inserted.
    A missing bitmap, NULL probe, pre-type-tag spec, or uncastable
    literal can never prune (conservative, like min/max stats).
    ``bits`` may carry the pre-decoded bitmap so callers probing many
    values against one entry decode it once (r11 review #3)."""
    if sp is None or v is None or "t" not in sp:
        return True
    if sp.get("v") != _BLOOM_FORMAT:
        # sidecar written under an older hash-input format (pre
        # signed-zero canonicalization): its bit positions don't match
        # what today's probe computes, so it can never safely prune
        return True
    probes = _bloom_probes(spark, v, sp["m"], sp["k"], sp["t"])
    if probes is None:
        return True  # literal doesn't cast to the column type
    if bits is None:
        bits = base64.b64decode(sp["bits"])
    return all((bits[p >> 3] >> (p & 7)) & 1 for p in probes)


def _bloom_prune(
    spark: SparkSession, manifest: dict, parts: dict, *probes: dict
) -> dict:
    """Entries of ``parts`` whose Bloom bitmaps do not DISPROVE every
    equality probe ``{col: value}`` — an entry survives when SOME probe
    may match on every one of its columns (a read's one ``("eq", v)``
    set, or a merge's source key rows). Entries or columns without a
    bitmap are always kept — like min/max stats, a bloom only skips
    what it can prove absent. No false negatives by construction: the
    bitmap is the OR of every inserted value's probe positions, so a
    present value always finds all k bits set; a zero bit at any probe
    position proves the value was never inserted.

    Probe positions come from ONE `_bloom_probes_prefetch` per (column,
    spec) across all probes, and each (entry, column) bitmap decodes
    once — a warm `_PROBE_CACHE` touches no Spark at all."""
    blooms = manifest.get("bloom", {})
    if not blooms:
        return parts
    cols = {c for p in probes for c in p}
    for c in cols:
        for spec in {
            (sp["m"], sp["k"], sp["t"])
            for e in parts
            for sp in [blooms.get(e, {}).get(c)]
            if sp is not None and "t" in sp
            and sp.get("v") == _BLOOM_FORMAT
        }:
            _bloom_probes_prefetch(
                spark, [p[c] for p in probes if c in p], *spec
            )
    out = {}
    for entry, dirname in parts.items():
        specs = blooms.get(entry, {})
        bits = {
            c: base64.b64decode(specs[c]["bits"]) for c in cols if c in specs
        }
        if any(
            all(
                _bloom_may_contain(spark, specs.get(c), v, bits.get(c))
                for c, v in p.items()
            )
            for p in probes
        ):
            out[entry] = dirname
    return out


def _merged_stats(old: dict, add: dict) -> dict:
    """One entry's stats over its prior generations (``old``) and a new
    one (``add``): row counts sum; min/max widen and null counts sum
    only for columns BOTH sides recorded — a column one side lacks was
    never scanned there, so a bound carried over it would not cover
    every row (absent = never pruned, always safe)."""
    cols = {}
    for c, (lo, hi) in add["cols"].items():
        if c in old["cols"]:
            los = [x for x in (old["cols"][c][0], lo) if x is not None]
            his = [x for x in (old["cols"][c][1], hi) if x is not None]
            cols[c] = [min(los) if los else None, max(his) if his else None]
    onulls = old.get("nulls", {})
    return {
        "n": old["n"] + add["n"],
        "cols": cols,
        "nulls": {
            c: onulls[c] + k for c, k in add.get("nulls", {}).items()
            if c in onulls
        },
    }


def _merged_bloom(old: dict, add: dict) -> dict:
    """One entry's bitmaps over its prior generations and a new one: a
    Bloom filter is a set union, so bitmaps OR — only for columns both
    sides hashed under one spec (``m``, ``k``, type tag ``t``, format
    ``v``); bitmaps from different probe spaces cannot mix, and the
    column drops instead."""
    out = {}
    for c, sp in add.items():
        osp = old.get(c)
        if osp and all(osp.get(f) == sp.get(f) for f in ("m", "k", "t", "v")):
            ors = bytes(
                a | b for a, b in zip(
                    base64.b64decode(osp["bits"]), base64.b64decode(sp["bits"])
                )
            )
            out[c] = {**sp, "bits": base64.b64encode(ors).decode("ascii")}
    return out


def _skipping_successor(
    cur: dict,
    new_parts: dict,
    written: set[str],
    extended: set[str],
    stats: dict,
    blooms: dict,
) -> tuple[dict, dict]:
    """THE data-skipping rule for a successor manifest's per-entry
    ``stats`` and ``bloom`` — every writer's `_next_manifest` takes its
    values from here. A recorded min/max or bitmap must cover EVERY row
    of its entry (a wrong bound silently drops rows), and an entry
    without one is never pruned. So: entries of ``new_parts`` not
    ``written`` keep their values; a written entry whose stage is its
    whole content takes the stage's fresh values (``stats`` /
    ``blooms``, collected by the writer from its stage) or none; a
    written entry in ``extended`` gained a generation beside its prior
    ones and merges its prior values with the fresh ones when both
    exist (`_merged_stats`, `_merged_bloom`), else has none. Returns
    ``(stats, bloom)``."""
    out = []
    for key, fresh, merge in (
        ("stats", stats, _merged_stats), ("bloom", blooms, _merged_bloom),
    ):
        prior = cur.get(key, {})
        vals = {e: s for e, s in prior.items() if e in new_parts}
        for e in written:
            v = fresh.get(e)
            if e in extended:
                v = merge(prior[e], v) if v and e in prior else None
            if v:
                vals[e] = v
            else:
                vals.pop(e, None)
        out.append(vals)
    return out[0], out[1]


def committed_partition_transaction(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    compute,
    affected: list[str] | None = None,
    stats_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    allow_legacy: bool = False,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_BITS,
    bloom_hashes: int = _BLOOM_HASHES,
    _drop_dv: bool = False,
    _drop_map: bool = False,
    data_change: bool = True,
) -> None:
    """One optimistic-concurrency transaction over a PARTITION-MAPPED
    table — the same CAS commit protocol as `committed_transaction`, but
    the manifest carries ``partitions: {"col=value": data_dir}`` so a
    transaction stages ONLY the partitions it rewrites and carries every
    other partition's mapping forward untouched. This is the file-level
    add/remove a real table format (Delta/Iceberg) does, at partition
    granularity: rewrite cost ∝ affected partitions, untouched files stay
    byte-identical, every committed version stays readable (snapshot
    isolation / time travel), and publish is ONE atomic manifest link —
    no rename sequence to roll back (VERDICT r04 #6: this replaces the
    erasure rewrite's dir-swap; a crash anywhere leaves the current
    version fully intact and at worst an unreferenced stage for vacuum).

    ``compute(base_or_None) -> DataFrame`` must return rows ONLY for the
    partitions it rewrites. ``affected`` lists the partition VALUES the
    transaction claims: a claimed partition absent from the output is
    DROPPED from the new version (the all-rows-erased case); None claims
    everything (full rewrite). Partitions compute writes are always
    claimed, listed or not.

    First use over a raw ``partitionBy`` layout migrates it IN PLACE:
    the pre-existing top-level ``col=value`` dirs enter the map under
    data dir ``"."`` with zero data movement (they are then immutable
    history — vacuum never touches non-``data-*`` names). Partition
    values round-trip as STRINGS (dir-name encoding), matching what a
    raw partitioned parquet read infers for string columns.

    ``stats_cols`` records per-partition min/max (+row count) for the
    named NUMERIC columns in the manifest, read from the staged files'
    parquet FOOTERS (`_collect_stage_stats` — exact for numeric types,
    zero extra Spark jobs, and describes what is actually on disk, so a
    lost-executor partial write can't record stats for data that isn't
    there). Unaffected partitions carry their stats forward with their
    mapping. Readers use them for data skipping
    (`read_keyed_table(prune=...)`) — the manifest half of
    Delta/Iceberg column-stats pruning."""
    if bloom_cols:
        _check_bloom_spec(bloom_bits, bloom_hashes)
    prefix = f"{partition_col}="

    def attempt(cur, new_stage):
        if cur["version"] == 0:
            # migrate a raw partitionBy layout in place (version 0 =
            # the uncommitted top-level dirs); its file schema is
            # recorded for "." like a stage's
            raw = sorted(
                n for n in os.listdir(table_dir)
                if n.startswith(prefix)
                and os.path.isdir(os.path.join(table_dir, n))
            )
            cur = {
                "version": 0,
                "partition_col": partition_col,
                "partitions": dict.fromkeys(raw, "."),
            }
            if raw:
                cur["dir_schemas"] = {
                    ".": _raw_layout_schema(
                        spark, table_dir, raw, partition_col
                    )
                }
        else:
            _check_spec(table_dir, cur, partition_col, "transaction")
        if cur.get("legacy_layouts") and not allow_legacy:
            # a rewrite computed from the current layout alone would
            # silently miss legacy-layout rows (an erasure would leave
            # the data it was meant to delete) — require migration first
            raise ValueError(
                f"{table_dir} has unmigrated legacy partition layouts; "
                "run migrate_legacy_layouts first (or pass "
                "allow_legacy=True for current-layout-only maintenance)"
            )
        base = _read_partition_map(spark, table_dir, cur)
        out = compute(base)
        stage = new_stage()
        stage_path = os.path.join(table_dir, stage)
        writer = out.write.mode("overwrite")
        if max_records_per_file:
            # bound file size (Delta OPTIMIZE's target-file-size knob):
            # a 100 TB partition must land as many files, and when the
            # rows arrive sorted each file's row groups carry tight
            # disjoint min/max — the second level of data skipping
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy(partition_col).parquet(stage_path)
        written = {
            n for n in os.listdir(stage_path) if n.startswith(prefix)
        }
        _check_entry_values(written)
        stage_schema = _file_schema_json(out.schema, drop=partition_col)
        if written and (cur.get("constraints") or bloom_cols):
            staged = _read_stage(
                spark, table_dir, partition_col, stage, written, stage_schema
            )
            _enforce_constraints(staged, cur.get("constraints"), manifest=cur)
        claimed = (
            set(cur["partitions"]) | written
            if affected is None
            else {f"{prefix}{v}" for v in affected} | written
        )
        new_parts = {
            e: d for e, d in cur["partitions"].items() if e not in claimed
        }
        new_parts.update({e: stage for e in written})
        # staged files carry PHYSICAL names — except a materialize
        # (_drop_map), whose stage IS the new logical-named basis
        names = {} if _drop_map else cur
        new_stats, new_bloom = _skipping_successor(
            cur, new_parts, written, set(),
            _collect_stage_stats(
                stage_path, written, _physical_names(stats_cols, names)
            ) if stats_cols and written else {},
            _collect_stage_blooms(
                staged, partition_col, _physical_names(bloom_cols, names),
                bloom_bits, bloom_hashes,
            ) if bloom_cols and written else {},
        )
        # tombstones survive rewrites: the rewritten partitions
        # re-materialize their rows unfiltered, but reads keep
        # anti-joining the carried keys (materialize_tombstones is the
        # one transaction that clears them, _drop_dv); a materialize
        # of the column map (_drop_map) clears the map
        cleared = {"dv": None} if _drop_dv else {}
        if _drop_map:
            cleared.update(dict.fromkeys(_SCHEMA_MAP_KEYS))
        return _next_manifest(
            cur, "rewrite", stage,
            partition_col=partition_col,
            partitions=new_parts,
            stats=new_stats,
            bloom=new_bloom,
            # Delta's dataChange=false: the rewrite provably RESTATES
            # rows (compaction, Z-order, tombstone materialization) —
            # change feeds skip the commit entirely instead of emitting
            # no-op pairs, and additive consumers stay sound across it
            data_change=None if data_change else False,
            dir_schemas={stage: stage_schema if written else None},
            **cleared,
        )

    transact(table_dir, attempt)


class AuditError(RuntimeError):
    """A write-audit-publish audit rejected the staged batch; nothing
    was published and the stage was removed."""


class ConstraintViolation(RuntimeError):
    """A staged write (or ADD CONSTRAINT over existing data) violated a
    table CHECK constraint; nothing was published."""


def _empty_stage(table_dir: str, new_stage) -> str:
    """An empty stage dir to anchor a metadata-only commit on."""
    stage = new_stage()
    os.makedirs(os.path.join(table_dir, stage))
    return stage


def set_table_constraints(
    spark: SparkSession, table_dir: str, exprs: list[str]
) -> int:
    """Declare CHECK constraints on a partition-mapped committed table
    (Delta's ALTER TABLE ADD CONSTRAINT): boolean SQL expressions every
    row must satisfy, stored in the manifest and enforced on EVERY
    subsequent write transaction before its manifest CAS — a violating
    batch is never published, streaming or batch, with no opt-in
    needed at the write site (the difference from the per-call
    ``audit``). Like Delta, adding a constraint first validates the
    EXISTING data (one scan) and refuses if any current row violates
    it. Metadata-only commit; returns the new version.

    Expressions are LOGICAL-schema SQL — on a column-mapped table
    (RENAME/DROP COLUMN history, r13) declare in the CURRENT names;
    the validation scan below reads the logical view (a stale physical
    name fails to resolve, loudly), and every later write enforces on
    its staged frame projected through the then-current map
    (`_enforce_constraints`). Renaming or dropping a column a
    constraint references keeps refusing (`_check_mappable`), so a
    declared expression's names never silently decouple."""
    for e in exprs:
        F.expr(e)  # fail fast on unparseable expressions

    def attempt(cur, new_stage):
        _check_partitioned(table_dir, cur)
        existing = read_keyed_table(spark, table_dir)
        bad = _first_violation(existing, exprs)
        if bad is not None:
            raise ConstraintViolation(
                f"existing data violates {bad!r}; constraint not added"
            )
        return _next_manifest(
            cur, "set-constraints", _empty_stage(table_dir, new_stage),
            constraints=sorted(set(exprs)),
        )

    return transact(table_dir, attempt)["version"]


def _first_violation(df: DataFrame | None, exprs: list[str]) -> str | None:
    """The first constraint (sorted order) some row of ``df`` violates,
    or None. NULL predicate results count as violations (a CHECK must
    prove truth), matching the strict reading a data contract wants."""
    if df is None:
        return None
    for e in sorted(set(exprs)):
        ok = F.expr(e)
        if df.filter(~F.coalesce(ok, F.lit(False))).limit(1).count() > 0:
            return e
    return None


def _enforce_constraints(
    staged: DataFrame, exprs: list[str] | None, manifest: dict | None = None,
) -> None:
    """Validate a staged write against the table's CHECK constraints
    BEFORE its manifest CAS — the constraint half of write-audit-
    publish: on violation the transaction fails loudly (and `transact`
    deletes its stage); readers never saw a row.

    Constraint expressions are LOGICAL-schema SQL (r13 — declared and
    enforced in the names the user sees): pass the commit ``manifest``
    so a column-mapped table's physical staged frame projects through
    its map first. Pre-rename constraints keep resolving — a column a
    constraint references refuses RENAME/DROP (`_check_mappable`), so
    its logical name never moves. Safe on an already-logical frame
    (materialize's stage): `_to_logical` only renames PHYSICAL names,
    which rename_column keeps disjoint from live logical ones."""
    if not exprs:
        return
    bad = _first_violation(_to_logical(staged, manifest or {}), exprs)
    if bad is not None:
        raise ConstraintViolation(
            f"staged write violates {bad!r}; nothing published"
        )


def _rebase_conflict(
    table_dir: str, base: dict, head: dict, written: set[str]
) -> str | None:
    """Delta-style LOGICAL conflict detection for an already-staged
    append (VERDICT r06 #4): decide whether a CAS loser whose base was
    ``base`` can re-manifest its immutable stage on top of ``head``
    WITHOUT re-running the transaction. Returns None when safe, else the
    reason the full optimistic re-run is required.

    Safe means: every intervening commit is a plain append that touched
    only partitions DISJOINT from ours, and nothing that gates a commit
    changed under us — partition spec, CHECK constraints (ours were
    enforced against ``base``'s), tombstones/DVs, legacy layouts. Those
    conservative checks make the rebase a pure manifest rebuild: our
    stage's entries still merge against exactly the per-entry state we
    computed them from (disjointness ⇒ the winners never moved them),
    so stats/bloom merges replay byte-identically."""
    for k in (
        "partition_col", "constraints", "dv", "dv_key", "legacy_layouts",
        "column_map", "dropped_columns",
    ):
        if head.get(k) != base.get(k):
            return f"{k} changed"
    log = os.path.join(table_dir, _COMMITS)
    prev = base.get("partitions", {})
    for v in range(base["version"] + 1, head["version"] + 1):
        m = _read_json(os.path.join(log, f"{v:020d}.json"))
        if m is None:
            return f"manifest {v} vacuumed mid-race"
        if m.get("op") not in ("append", "merge", "update", "delete"):
            return f"commit {v} is {m.get('op')!r}"
        # a merge (or standalone update/predicate delete) is rebase-
        # transparent like an append: the entries it rewrote/extended/
        # dropped show up in the map diff below, and a merge or
        # key-tombstone delete that changed tombstones trips the dv
        # check above — so disjointness carries the same guarantee
        # (VERDICT r09 #1 race contract: a disjoint append rebases
        # over a published merge)
        parts = m.get("partitions", {})
        touched = {e for e in parts if parts.get(e) != prev.get(e)}
        touched |= {e for e in prev if e not in parts}
        if touched & written:
            return f"commit {v} touched {sorted(touched & written)[:3]}"
        prev = parts
    return None


def append_partition_transaction(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    batch_df: DataFrame,
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
    audit=None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_BITS,
    bloom_hashes: int = _BLOOM_HASHES,
    n_partition_values: int | None = None,
) -> set[str] | None:
    """APPEND a batch to a partition-mapped table as one commit — the
    write path a time-partitioned streaming land needs. A partition-map
    entry may hold a LIST of data dirs (generations); appending extends
    the touched entries' lists with the batch's stage instead of
    rewriting them, so the cost is O(batch), never O(partition) — the
    multi-file add of a real table format, with `compact_partition_table`
    later collapsing long lists. Untouched entries carry forward.

    Stats merge instead of replace: the stage's min/max widen the
    entry's recorded bounds and row counts sum. An entry with existing
    data but NO recorded stats stays stat-less (merging would claim
    bounds for unscanned files — stat-less means "never pruned", which
    is always safe).

    ``batch_id`` gives foreachBatch idempotence exactly like
    `committed_transaction`: a replayed micro-batch whose id is already
    in the log no-ops.

    Returns the set of partition entries (``"col=value"`` dir names)
    this commit wrote — a caller that needs the batch's touched
    partitions (e.g. a refresh job) reads them here instead of paying a
    second scan of the batch source (r15, guide §1). A batch-id no-op
    returns None (the touched set is unknown without re-planning).

    ``audit`` enables WRITE-AUDIT-PUBLISH (Iceberg's WAP pattern): after
    the batch is staged but BEFORE the manifest CAS, ``audit(staged_df)``
    runs against a read of exactly what would become visible. Returning
    False (or raising) aborts the commit — the stage is deleted, readers
    never saw a row, and an `AuditError` (or the audit's own exception)
    propagates. Bad data can then never become visible: the audit reads
    the same immutable files the table would have served.

    CAS losers REBASE when they can (Delta's logical conflict
    resolution): staged data dirs are position-independent, so a loser
    whose intervening commits `_rebase_conflict` proves disjoint
    re-manifests the SAME stage on top of the winner — no Spark re-run,
    no footer re-scan. Concurrent appends to disjoint partitions then
    each pay their write exactly once regardless of commit order; only
    a LOGICAL conflict (same entry touched, spec/constraint/tombstone
    change, non-append op) falls back to the full optimistic re-run.
    An ``audit`` is the one thing a rebase DOES re-run (against the
    head it actually publishes on): unlike CHECK constraints — per-row
    predicates whose validity disjoint intervening appends cannot
    change — an audit may assert table-state invariants, so skipping
    it on rebase would let two concurrently-audited batches publish a
    state neither audit saw."""

    def successor(cur: dict, st: dict) -> dict:
        written = st["written"]
        new_parts = dict(cur["partitions"])
        for e in written:
            new_parts[e] = (
                _entry_dirs(new_parts[e]) + [st["stage"]]
                if e in new_parts
                else st["stage"]
            )
        new_stats, new_bloom = _skipping_successor(
            cur, new_parts, written, written & set(cur["partitions"]),
            st["stats"], st["blooms"],
        )
        return _next_manifest(
            cur, "append", st["stage"],
            partition_col=partition_col,
            partitions=new_parts,
            stats=new_stats,
            bloom=new_bloom,
            dir_schemas={st["stage"]: st["schema"] if written else None},
        )

    return _partition_batch_commit(
        spark, table_dir, partition_col, batch_df, "append",
        lambda written: written, successor,
        batch_id=batch_id, audit=audit, stats_cols=stats_cols,
        bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        bloom_hashes=bloom_hashes, n_partition_values=n_partition_values,
    )


def _partition_batch_commit(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    batch_df: DataFrame,
    op: str,
    claim,
    successor,
    *,
    batch_id: int | None,
    audit,
    stats_cols: list[str] | None,
    bloom_cols: list[str] | None,
    bloom_bits: int,
    bloom_hashes: int,
    n_partition_values: int | None,
) -> set[str] | None:
    """The stage / enforce / audit / rebase path APPEND and OVERWRITE
    share. The batch stages once under physical names, hash-distributed
    by the partition value (parallel writers, one file per value per
    commit); CHECK constraints and the WAP ``audit`` gate the
    staged rows; footer stats and blooms are collected once per stage.
    ``claim(written)`` names the map entries the commit claims (None:
    nothing to commit), and ``successor(cur, st)`` builds the manifest
    from the kept stage ``st``.

    A CAS loser keeps its stage and REBASES (Delta's logical conflict
    resolution) when `_rebase_conflict` proves every commit since the
    stage was last validated disjoint from the claimed entries and
    spec-stable — re-validated per attempt from that base to the head
    actually published on (ADVICE r08's TOCTOU close); otherwise the
    stage is discarded and the transaction re-runs against the new base
    (re-enforcing constraints, re-auditing). A rebase re-runs only the
    audit: CHECK constraints are per-row predicates disjoint appends
    cannot invalidate, but an audit may assert table-state invariants.
    Overwrite audits even an empty stage (a deletion-only replaceWhere
    must not skip its pipeline's gate, ADVICE r09). Returns the written
    entries, or None when nothing was committed."""
    if bloom_cols:
        _check_bloom_spec(bloom_bits, bloom_hashes)
    prefix = f"{partition_col}="
    # the kept stage: name, file schema, written and claimed entries,
    # footer stats/blooms, and the table state it was last validated on
    st: dict = {}

    def staged_frame() -> DataFrame:
        if not st["written"]:
            return batch_df.limit(0)
        return _read_stage(
            spark, table_dir, partition_col, st["stage"], st["written"],
            st["schema"],
        )

    def run_audit(cur: dict, staged: DataFrame, what: str) -> None:
        if audit is None or not (st["written"] or op == "overwrite"):
            return
        # audits are written against the table's LOGICAL schema; the
        # staged frame carries physical names (r12 review sweep 2 #2)
        if not audit(_to_logical(staged, cur)):
            raise AuditError(
                f"audit rejected {what} {op} for {table_dir}; nothing "
                "published"
            )

    def rebase(cur: dict) -> bool:
        if cur["version"] <= st["base"]["version"]:
            return True
        if _rebase_conflict(table_dir, st["base"], cur, st["claimed"]):
            st.clear()
            return False
        st["base"] = cur
        run_audit(cur, staged_frame(), "rebased")
        return True

    def attempt(cur, new_stage):
        if cur["version"] == 0:
            cur = {"version": 0, "partitions": {}}
        else:
            _check_spec(table_dir, cur, partition_col, op)
        if op == "overwrite" and cur.get("legacy_layouts"):
            raise ValueError(
                f"{table_dir} has unmigrated legacy partition "
                "layouts; an overwrite computed against the current "
                "layout would leave replaced values' legacy rows "
                "readable — run migrate_legacy_layouts first"
            )
        if st:
            return successor(cur, st)
        stage = new_stage()
        stage_path = os.path.join(table_dir, stage)
        # logical -> stable physical names (column mapping); an
        # old-name or dropped-name column is rejected here
        phys = _to_physical_batch(batch_df, cur)
        _distribute_for_partitioned_write(
            phys, partition_col, nvals=n_partition_values
        ).write.mode("overwrite").partitionBy(partition_col).parquet(
            stage_path
        )
        written = {n for n in os.listdir(stage_path) if n.startswith(prefix)}
        _check_entry_values(written)
        claimed = claim(written)
        if claimed is None:
            return None
        st.update(
            stage=stage, written=written, claimed=claimed, base=cur,
            schema=_file_schema_json(phys.schema, drop=partition_col),
        )
        if audit is not None or (
            written and (cur.get("constraints") or bloom_cols)
        ):
            staged = staged_frame()
            if written:
                _enforce_constraints(
                    staged, cur.get("constraints"), manifest=cur
                )
            run_audit(cur, staged, "staged")
        # footer scans are per-stage facts: collect ONCE, reuse across
        # rebase attempts (the files never change)
        st["stats"] = (
            _collect_stage_stats(
                stage_path, written, _physical_names(stats_cols, cur)
            )
            if stats_cols and written
            else {}
        )
        st["blooms"] = (
            _collect_stage_blooms(
                staged, partition_col, _physical_names(bloom_cols, cur),
                bloom_bits, bloom_hashes,
            )
            if bloom_cols and written
            else {}
        )
        return successor(cur, st)

    if transact(table_dir, attempt, batch_id=batch_id, rebase=rebase):
        return st["written"]
    return None


def overwrite_partition_transaction(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    batch_df: DataFrame,
    replace_where: list[str] | None = None,
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
    audit=None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = _BLOOM_BITS,
    bloom_hashes: int = _BLOOM_HASHES,
    n_partition_values: int | None = None,
) -> None:
    """INSERT OVERWRITE a partition-mapped table as one commit — the
    last Delta-core write mode beside append/delete/rewrite/evolve/
    clone (VERDICT r08 stretch #8).

    ``replace_where=None`` is DYNAMIC partition overwrite (Spark's
    ``partitionOverwriteMode=dynamic`` / Hive's INSERT OVERWRITE with
    dynamic partitions): exactly the partitions PRESENT in ``batch_df``
    are replaced — each points at the new stage as its ONLY data dir —
    and every other entry carries forward untouched. An empty batch is
    a no-op (nothing to replace).

    ``replace_where=[v1, ...]`` is Delta's ``replaceWhere`` on the
    partition column: the LISTED values are replaced; a batch row
    landing OUTSIDE them raises before anything publishes (Delta's
    predicate-containment check), and a listed value with no batch rows
    is DELETED from the map — its old files stay on disk as committed
    history, readable via time travel until a retention vacuum.

    Cost is O(batch + replaced entries), never O(table): untouched
    partitions' files are not read, moved, or rewritten. Stats/blooms
    for replaced entries are REPLACED by the stage's own footer scans
    (an overwrite cannot merge against bounds of data it just deleted);
    dropped when the call doesn't scan. CHECK constraints and the WAP
    ``audit`` gate the staged rows exactly like the append path; a
    deletion-only ``replace_where`` batch (no staged rows) still runs
    the audit — against an empty frame in the batch's schema — so an
    audited pipeline can never delete partitions un-audited.

    Commits tag ``op: "overwrite"``, so every reader of history that
    must refuse non-append semantics (change feed, additive CDC
    maintenance, the streaming table source, an appender's rebase)
    already treats it correctly as a logical barrier. Unmigrated legacy
    layouts REFUSE (a replaced value's legacy rows would survive the
    read union — the same miss a rewrite guards against).

    Concurrency follows the append path's rebase-aware CAS: a losing
    overwrite whose intervening commits are provably disjoint plain
    appends (none touching a REPLACED entry, no spec/constraint/DV/
    legacy change) re-manifests its immutable stage — concurrent
    appends to OTHER partitions and this overwrite each pay their
    write exactly once. An intervening append INTO a replaced entry is
    a real write-write conflict (the overwrite would silently erase
    it): the stage is discarded and the transaction re-runs, exactly
    Delta's ConcurrentAppendException-then-retry."""
    prefix = f"{partition_col}="
    if replace_where is not None:
        claimed = {f"{prefix}{v}" for v in replace_where}
        _check_entry_values(claimed)
        if not claimed:
            return  # replace nothing = no-op

    def claim(written: set[str]) -> set[str] | None:
        if replace_where is None:
            return set(written) or None  # dynamic overwrite of nothing
        outside = written - claimed
        if outside:
            raise ValueError(
                f"batch rows land outside replace_where "
                f"{sorted(replace_where)}: "
                f"{sorted(outside)[:3]} — Delta's "
                "predicate-containment contract; widen "
                "replace_where or filter the batch"
            )
        return claimed

    def successor(cur: dict, st: dict) -> dict:
        # REPLACE semantics: replaced entries point at the stage alone
        # (or vanish when the batch holds no rows for them); everything
        # else carries forward
        new_parts = {
            e: v for e, v in cur["partitions"].items()
            if e not in st["claimed"]
        }
        new_parts.update({e: st["stage"] for e in st["written"]})
        new_stats, new_bloom = _skipping_successor(
            cur, new_parts, st["written"], set(), st["stats"], st["blooms"]
        )
        return _next_manifest(
            cur, "overwrite", st["stage"],
            partition_col=partition_col,
            partitions=new_parts,
            stats=new_stats,
            bloom=new_bloom,
            dir_schemas={
                st["stage"]: st["schema"] if st["written"] else None
            },
        )

    _partition_batch_commit(
        spark, table_dir, partition_col, batch_df, "overwrite",
        claim, successor,
        batch_id=batch_id, audit=audit, stats_cols=stats_cols,
        bloom_cols=bloom_cols, bloom_bits=bloom_bits,
        bloom_hashes=bloom_hashes, n_partition_values=n_partition_values,
    )


def land_stream_to_partitioned_table(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    partition_col: str,
    stats_cols: list[str] | None = None,
    audit=None,
    bloom_cols: list[str] | None = None,
) -> StreamingQuery:
    """Land a stream into a partition-mapped committed table via
    foreachBatch appends — the streaming half of the lakehouse write
    path: each micro-batch is one `append_partition_transaction`
    (O(batch) cost, stats merged for data skipping, batch-id idempotence
    so a replay between write and checkpoint commit no-ops), and readers
    see exactly the committed batches at the versions they committed.
    Compaction (`compact_partition_table`) and erasure
    (`apply_erasure_rewrite`) run as ordinary transactions on the same
    table — one commit model across the stream/maintenance boundary.
    ``audit`` applies write-audit-publish to every micro-batch: a batch
    the audit rejects is never published and fails the stream loudly
    (no silent data loss; the operator decides whether to fix and
    restart — the checkpoint has not advanced past the bad batch).
    ``bloom_cols`` builds per-partition Bloom bitmaps per micro-batch
    (OR-merged across batches in the manifest) so equality skipping
    works on the streamed table too."""

    def land(batch_df: DataFrame, bid: int) -> None:
        append_partition_transaction(
            batch_df.sparkSession,
            table_dir,
            partition_col,
            batch_df,
            stats_cols=stats_cols,
            batch_id=bid,
            audit=audit,
            bloom_cols=bloom_cols,
        )

    return _start_foreach_batch(df, checkpoint_dir, land)


_ZORDER_BITS = 16  # per-dimension resolution of the clustering key


def _zorder_sort_expr(cols: list[str], bounds: dict) -> "F.Column":
    """The multi-column clustering key for ``cluster_by`` compaction —
    Delta OPTIMIZE ZORDER BY's layout: scale each column MONOTONELY
    into [0, 2^bits) from its actual min/max (a modulo would destroy
    the range locality the clustering exists to create), then
    interleave the bits. Sorting by the interleaved key gives every
    clustered column simultaneously-tight row-group min/max, so a
    range scan on ANY of them prunes row groups — where a single-
    column sort serves only its own column."""
    n = len(cols)
    # total interleaved width must stay below the BIGINT sign bit: bit
    # 63 would flip the sort order and >=64 wraps mod 64 in Java shift
    # semantics, silently destroying the clustering (r10 review #6) —
    # so per-dimension resolution shrinks as columns are added
    bits = min(_ZORDER_BITS, 63 // n)
    scaled = []
    for c in cols:
        lo, hi = bounds[c]
        span = max(float(hi) - float(lo), 1.0)
        scaled.append(
            f"CAST((CAST({c} AS DOUBLE) - {float(lo)!r}) * "
            f"{float((1 << bits) - 1)!r} / {span!r} AS BIGINT)"
        )
    terms = [
        f"((({s}) >> {i} & 1) << {i * n + j})"
        for j, s in enumerate(scaled)
        for i in range(bits)
    ]
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def compact_partition_table(
    spark: SparkSession,
    table_dir: str,
    max_files_per_partition: int = 4,
    sort_within: list[str] | None = None,
    max_records_per_file: int | None = None,
    cluster_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> list[str]:
    """OPTIMIZE as a commit: rewrite fragmented partitions of a
    partition-mapped committed table into one file each, published as a
    normal transaction — readers never see a half-compacted state, the
    pre-compaction version stays readable (snapshot history), and a
    crash mid-compaction costs only an unreferenced stage. Returns the
    compacted partition entries (empty = nothing fragmented).

    Fragmentation is measured from the manifest's own mapping (a
    driver-side file listing per current partition dir — no data read);
    the rewrite repartitions by the partition column so each value lands
    in exactly one task → one output file. Stats columns recorded in the
    current manifest are recomputed for the rewritten partitions, so
    data skipping keeps working across compactions. This is the
    maintenance half of a table format's write path (Delta OPTIMIZE /
    Iceberg rewrite_data_files) on the same commit protocol as every
    other mutation here.

    ``sort_within`` orders rows inside each rewritten partition (pass a
    Z-order key — queries/pipeline.py `zorder_key` — or the hot filter
    column): parquet row-group min/max become tight, so after manifest
    stats prune PARTITIONS, the scan's own predicate pushdown prunes
    ROW GROUPS — the two-level skipping a clustered table format gives
    (Delta OPTIMIZE ZORDER BY).

    ``max_records_per_file`` bounds rewritten file size (Delta OPTIMIZE's
    target-file-size): a partition bigger than one sane file must land as
    several, and combined with ``sort_within`` each file covers a tight
    DISJOINT key slice — a range scan then opens only the files whose
    footer stats overlap it. Note a partition compacted into more than
    ``max_files_per_partition`` files still counts as fragmented to a
    later compaction call; pick the two knobs together.

    ``cluster_by=[c1, c2, ...]`` (r10, VERDICT r09 stretch #7 —
    mutually exclusive with ``sort_within``) is Delta OPTIMIZE ZORDER
    BY: rows sort by the Morton interleave of the named NUMERIC
    columns, scaled monotonely from their actual bounds (one tiny
    1-row job over the fragmented partitions), so row-group min/max
    are simultaneously tight on EVERY clustered column — a range scan
    on any one of them prunes row groups, pinned from executed-plan
    scan metrics in tests/test_streaming_sink.py."""
    if cluster_by and sort_within:
        # validate argument combinations BEFORE the nothing-fragmented
        # early exit — an invalid call must raise regardless of the
        # table's current file counts
        raise ValueError("pass sort_within or cluster_by, not both")
    cur = current_commit(table_dir)
    _check_partitioned(table_dir, cur)
    pcol = cur["partition_col"]
    frag = []
    for entry, dirs in cur["partitions"].items():
        n_files = 0
        for dirname in _entry_dirs(dirs):
            d = os.path.join(table_dir, dirname, entry)
            n_files += sum(
                1 for f in os.listdir(d)
                if f.endswith(".parquet") or f.startswith("part-")
            )
        if n_files > max_files_per_partition:
            frag.append(entry)
    if not frag:
        return []
    values = [e.split("=", 1)[1] for e in frag]
    # skipping metadata to (re)write: explicit arguments win — after a
    # merge/append EXTENDED every entry, the manifest records no stats
    # or blooms at all, so deriving from it alone could never
    # re-establish skipping; passing the columns here is Delta's
    # "configure the bloom index on OPTIMIZE" knob — otherwise inherit
    # whatever the current manifest still records
    stats_cols = stats_cols or sorted(
        {c for s in cur.get("stats", {}).values() for c in s["cols"]}
    ) or None
    # recompute blooms for rewritten entries so equality skipping keeps
    # working across compactions; spec (m, k) inherited from the table
    blo = cur.get("bloom", {})
    bloom_cols = bloom_cols or sorted({c for e in blo.values() for c in e}) or None
    bloom_spec = next((s for e in blo.values() for s in e.values()), None)

    def rewrite(base: DataFrame) -> DataFrame:
        out = base.filter(F.col(pcol).isin(values)).repartition(F.col(pcol))
        if cluster_by:
            # bounds for the monotone scaling: one 1-row job over the
            # fragmented partitions (the sanctioned scalar-bounds shape)
            b = out.agg(
                *[F.min(c).alias(f"_lo_{c}") for c in cluster_by],
                *[F.max(c).alias(f"_hi_{c}") for c in cluster_by],
            ).collect()[0]
            bounds = {
                c: (b[f"_lo_{c}"] or 0, b[f"_hi_{c}"] or 0)
                for c in cluster_by
            }
            # sort by the EXPRESSION (pcol first — the file writer
            # requires partition-column-led ordering or inserts its own
            # non-stable sort): a materialized-then-dropped key column
            # would invalidate the outputOrdering the writer checks
            return out.sortWithinPartitions(
                F.col(pcol), _zorder_sort_expr(cluster_by, bounds)
            )
        if sort_within:
            # lead with the partition column: the file writer requires
            # its input ordered by the partition columns and would
            # otherwise insert its own (non-stable) sort, destroying the
            # clustering this exists to produce
            out = out.sortWithinPartitions(pcol, *sort_within)
        return out

    committed_partition_transaction(
        spark, table_dir, pcol, rewrite, affected=values,
        stats_cols=stats_cols, max_records_per_file=max_records_per_file,
        bloom_cols=bloom_cols,
        bloom_bits=bloom_spec["m"] if bloom_spec else _BLOOM_BITS,
        bloom_hashes=bloom_spec["k"] if bloom_spec else _BLOOM_HASHES,
        # compaction rewrites only CURRENT-layout entries from
        # current-layout rows, so unmigrated legacy layouts are safe to
        # leave untouched
        allow_legacy=True,
        # a compaction restates rows byte-for-value: tag the commit so
        # change feeds skip it (Delta OPTIMIZE's dataChange=false)
        data_change=False,
    )
    return sorted(frag)


def _manifest_dirs(m: dict) -> set[str]:
    """Every data dir a manifest references: its own stage, partition
    map (each entry's generation list), any legacy-layout partition
    maps (partition evolution), and key-tombstone dirs — the reference
    set vacuum must respect."""
    out = {m["dir"]} if "dir" in m else set()
    out.update(m.get("dv", []))
    if m.get("cdc"):
        out.add(m["cdc"])  # the merge's change-data sidecar
    for v in m.get("partitions", {}).values():
        out.update(_entry_dirs(v))
    for lay in m.get("legacy_layouts", []):
        for v in lay.get("partitions", {}).values():
            out.update(_entry_dirs(v))
    return out


def tombstone_keys(
    spark: SparkSession,
    table_dir: str,
    key_col: str | list[str],
    keys_df: DataFrame,
    batch_id: int | None = None,
) -> None:
    """MERGE-ON-READ DELETE for a partition-mapped table — the deletion-
    vector trade: instead of rewriting every affected partition (the
    copy-on-write `apply_erasure_rewrite`), commit the DELETED KEYS as a
    tombstone file and let reads anti-join them out. Write cost is
    O(deleted keys) — at 100 TB a GDPR request touches kilobytes, not
    partitions — and reads pay one broadcast anti-join until
    `materialize_tombstones` rewrites the survivors and clears the list.

    Semantics are KEY tombstones (GDPR shape), not row positions: every
    row of a tombstoned key is hidden from every read — including rows
    APPENDED LATER — until a materialize clears the tombstones. Earlier
    snapshots still show the pre-delete state (their manifests carry no
    tombstone). The untyped change feed does not emit delete events;
    `read_table_changes_typed` reconstructs them (the prior version's
    rows matching the commit's newly-added keys, as ``delete`` images).

    ``key_col`` may be a list for a COMPOSITE natural key (VERDICT r10
    #2): the dv file then carries key TUPLES and every read anti-joins
    on all columns."""
    kcols = [key_col] if isinstance(key_col, str) else list(key_col)

    def attempt(cur, new_stage):
        _check_partitioned(table_dir, cur)
        if "dv_key" in cur and _dv_keys(cur) != kcols:
            raise ValueError(
                f"{table_dir} tombstones key {cur['dv_key']!r}; "
                f"delete supplied {key_col!r}"
            )
        cmap = _column_map(cur)
        bad = [
            k for k in kcols
            if k in cmap or k in set(cmap.values())
            or k in _dropped_physical(cur)
        ]
        if bad:
            # the dv files and the read-side anti-join address the key
            # by PHYSICAL name; a renamed/dropped key column would
            # silently hide nothing (or the wrong rows)
            raise ValueError(
                f"key column(s) {bad!r} are renamed or dropped in "
                f"{table_dir}; tombstone on the current physical names "
                "or rewrite the table"
            )
        stage = new_stage()
        # NULL key components are dropped, not recorded: the read-side
        # anti-join on NULL matches nothing (SQL equality), so a NULL
        # tombstone hides no row — recording it would only poison the
        # dv key files for sorted-set consumers (ADVICE r10)
        not_null = F.lit(True)
        for k in kcols:
            not_null = not_null & F.col(k).isNotNull()
        dvf = keys_df.select(*kcols).filter(not_null).distinct()
        dvf.write.mode("overwrite").parquet(os.path.join(table_dir, stage))
        return _next_manifest(
            cur, "delete", stage,
            dv=cur.get("dv", []) + [stage],
            dv_key=_dv_key_field(kcols),
            dir_schemas={stage: _file_schema_json(dvf.schema)},
        )

    transact(table_dir, attempt, batch_id=batch_id)


_SCHEMA_MAP_KEYS = ("column_map", "dropped_columns")


def _map_meta(manifest: dict) -> tuple:
    """The manifest's column-mapping metadata as one comparable tuple —
    THE definition of "the map changed" every consumer (batch feeds,
    the stream admission in table_source.py) must share; adding a key
    to _SCHEMA_MAP_KEYS updates them all at once (r13 review #2)."""
    return tuple(manifest.get(k) for k in _SCHEMA_MAP_KEYS)


def _is_materialize(by_v: dict, m: dict) -> bool:
    """True when ``m`` is a `materialize_column_mapping` commit: a
    ``data_change: false`` rewrite whose mapping metadata differs from
    its predecessor's (plain compactions carry the map unchanged). The
    nearest retained earlier manifest stands in for a vacuumed one."""
    if not (m.get("op") == "rewrite" and m.get("data_change") is False):
        return False
    earlier = [k for k in by_v if k < m["version"]]
    prev = by_v[max(earlier)] if earlier else {}
    return _map_meta(m) != _map_meta(prev)


def _check_map_stable(
    by_v: dict, m: dict, table_dir: str, from_version: int
) -> None:
    """A ``data_change: false`` rewrite that CHANGED the column-mapping
    metadata is `materialize_column_mapping`: it re-based the files'
    PHYSICAL names, so frames before and after it do not share a
    physical schema and one end-of-range projection cannot serve both.
    A feed whose range spans it must raise (Delta CDF's incompatible-
    schema-change error) rather than emit a silently mixed frame where
    pre-materialize rows read NULL under the new names (r12 review #1).
    Plain compactions (map unchanged) pass; the nearest retained
    earlier manifest stands in for a vacuumed v-1."""
    if not (m.get("op") == "rewrite" and m.get("data_change") is False):
        return
    v = m["version"]
    if from_version >= v - 1:
        # the materialize is the range's first commit and emits nothing
        # itself: no pre-materialize frame can mix in, so a cursor
        # consumer sitting just below it advances normally instead of
        # wedging (r12 review sweep 2 #3)
        return
    if _is_materialize(by_v, m):
        raise ValueError(
            f"commit {v} of {table_dir} materialized a column "
            "mapping (physical rename); a change feed cannot span "
            f"it — read up to version {v - 1} and from {v} "
            "separately"
        )


def _column_map(manifest: dict) -> dict:
    """``{logical: physical}`` for renamed columns (identity entries
    never stored); ``{}`` when the table has no column mapping."""
    return manifest.get("column_map", {}) or {}


def _dropped_physical(manifest: dict) -> set:
    """PHYSICAL names of dropped columns — their data stays in the
    files forever (drop is metadata-only), reads never project them."""
    return set(manifest.get("dropped_columns", []) or [])


def _to_logical(df: DataFrame | None, manifest: dict) -> DataFrame | None:
    """Project a physical-schema read to the manifest's LOGICAL view:
    renamed columns alias physical→logical, dropped physical columns
    disappear, unmapped columns (including feed metadata columns) pass
    through. A no-op (same object) for unmapped tables."""
    cmap = _column_map(manifest)
    dropped = _dropped_physical(manifest)
    if df is None or (not cmap and not dropped):
        return df
    inv = {v: k for k, v in cmap.items()}
    cols = []
    for c in df.columns:
        if c in dropped:
            continue
        cols.append(F.col(c).alias(inv[c]) if c in inv else F.col(c))
    return df.select(*cols)


def _to_physical_batch(df: DataFrame, manifest: dict) -> DataFrame:
    """Translate an incoming batch from LOGICAL names to the table's
    PHYSICAL names before staging — and reject writes that would
    corrupt the mapping: a column carrying a renamed column's OLD name
    (the caller missed the rename), or one colliding with a dropped
    column's physical data (re-adding a dropped name needs id-based
    mapping; rejected — disclosed boundary)."""
    cmap = _column_map(manifest)
    dropped = _dropped_physical(manifest)
    if not cmap and not dropped:
        return df
    inv = {v: k for k, v in cmap.items()}
    out = []
    for c in df.columns:
        if c in dropped:
            raise ValueError(
                f"column {c!r} was dropped from this table (metadata-"
                "only); its physical data still exists, so re-adding "
                "the name would resurrect it — pick a different name"
            )
        if c in inv and inv[c] != c:
            raise ValueError(
                f"column {c!r} was renamed to {inv[c]!r}; write with "
                "the current name"
            )
        out.append(F.col(c).alias(cmap[c]) if c in cmap else F.col(c))
    return df.select(*out)


def _physical_names(names, manifest: dict):
    """Translate caller-facing LOGICAL column names (prune specs,
    stats_cols, bloom_cols) to the PHYSICAL names recorded in files,
    stats, and bloom bitmaps. Accepts a list (returns a list) or a
    dict keyed by column (returns a re-keyed dict); None passes
    through."""
    cmap = _column_map(manifest)
    if names is None or not cmap:
        return names
    if isinstance(names, dict):
        return {cmap.get(k, k): v for k, v in names.items()}
    return [cmap.get(c, c) for c in names]


def _dv_keys(manifest: dict) -> list[str]:
    """The manifest's tombstone key COLUMNS as a list — ``dv_key`` is a
    plain string for single-column keys (the pre-r11 format, kept for
    every existing manifest) and a list for composite natural keys
    (VERDICT r10 #2, e.g. the reference's (fault_system, nshm_id),
    schema.sql:12,47)."""
    k = manifest.get("dv_key")
    if k is None:
        return []
    return [k] if isinstance(k, str) else list(k)


def _dv_key_field(keys: list[str]):
    """Canonical manifest form: a bare string for single-column keys
    (backward-compatible), the list for composite keys."""
    return keys[0] if len(keys) == 1 else list(keys)


def _cdc_image_parts(tcols: list[str], ttypes: dict, have: set):
    """(pre_fields, cur_fields, img) for the DML writers' CDC sidecar:
    pre-images read the ``_pre`` struct (evolved columns pad NULL),
    post-images read the decision frame's final values, ``img`` wraps
    either with its ``_change_type`` tag."""
    pre_fields = [
        (
            F.col(f"_pre.{c}").cast(ttypes[c])
            if c in have
            else F.lit(None).cast(ttypes[c])
        ).alias(c)
        for c in tcols
    ]
    cur_fields = [F.col(c).cast(ttypes[c]).alias(c) for c in tcols]

    def img(fields, ct: str):
        return F.struct(*fields, F.lit(ct).alias("_change_type"))

    return pre_fields, cur_fields, img


def _apply_tombstones(
    spark: SparkSession, table_dir: str, manifest: dict, df: DataFrame | None
) -> DataFrame | None:
    """Anti-join a read against the manifest's tombstoned keys (single
    or composite — the join is on every key column). The key set is
    deleted-rows-sized, so the anti-join broadcasts — the read-side
    half of the deletion-vector trade. NULL key components never match
    (SQL equality), and the write paths keep NULLs out of dv files."""
    dvs = manifest.get("dv", [])
    if not dvs or df is None:
        return df
    keys = _read_dirs(spark, table_dir, manifest, dvs).distinct()
    return df.join(F.broadcast(keys), on=_dv_keys(manifest), how="left_anti")


def materialize_tombstones(
    spark: SparkSession, table_dir: str, stats_cols: list[str] | None = None
) -> int | None:
    """Fold the tombstones in: rewrite every partition with the deleted
    keys removed and CLEAR the tombstone list — the deferred rewrite
    `tombstone_keys` lets you postpone (Delta's PURGE). One commit; the
    pre-materialize versions keep their tombstoned view. Returns the new
    version, or None when there was nothing to materialize."""
    cur = current_commit(table_dir)
    if not cur.get("dv"):
        return None
    committed_partition_transaction(
        spark,
        table_dir,
        cur["partition_col"],
        # Re-read the head INSIDE compute: the transaction retries
        # against new heads, and a tombstone committed concurrently
        # must be applied by the rewrite that is about to CLEAR the dv
        # list (_drop_dv) — anti-joining the entry snapshot's dv would
        # lose it. If compute observes a newer head than the retry's
        # base, the CAS fails and the whole transaction re-runs, so
        # the pair stays consistent.
        lambda base: _apply_tombstones(
            spark, table_dir, current_commit(table_dir), base
        ),
        affected=None,
        stats_cols=stats_cols,
        _drop_dv=True,
        # the VISIBLE state is unchanged (hidden rows become physically
        # absent): change feeds skip the commit (dataChange=false)
        data_change=False,
    )
    return current_commit(table_dir)["version"]


def evolve_partition_column(
    spark: SparkSession, table_dir: str, new_partition_col: str
) -> int:
    """PARTITION EVOLUTION (Iceberg's headline spec change): switch the
    table's partition column for all FUTURE writes without rewriting a
    byte of existing data. The current layout is demoted to a
    ``legacy_layouts`` entry (its partition map, stats, and pruning keep
    working), the new layout starts empty, and reads union every layout
    — rows from a legacy layout read the new partition column from
    their DATA columns when present, else NULL (Iceberg's void
    transform for pre-evolution files). Appends land in the new layout;
    `migrate_legacy_layouts` rewrites old data into the current spec
    when (if ever) the rewrite cost is worth paying. Returns the new
    version. Metadata-only commit: the change feed emits nothing for
    it."""

    def attempt(cur, new_stage):
        _check_partitioned(table_dir, cur)
        if cur["partition_col"] == new_partition_col:
            return None  # already that spec: no-op
        cmap = _column_map(cur)
        if (
            new_partition_col in cmap
            or new_partition_col in set(cmap.values())
            or new_partition_col in _dropped_physical(cur)
        ):
            # appends translate batches to PHYSICAL names before
            # partitionBy, so a renamed/dropped partition column would
            # brick every later write (r12 review #4)
            raise ValueError(
                f"{new_partition_col!r} is renamed or dropped in "
                f"{table_dir}; materialize_column_mapping first"
            )
        old = {
            "partition_col": cur["partition_col"],
            "partitions": cur["partitions"],
        }
        for k in ("stats", "bloom"):
            if cur.get(k):
                old[k] = cur[k]
        # the current layout's stats/blooms move into its legacy entry;
        # outstanding tombstones survive the spec change (dropping them
        # would resurrect deleted rows on the next read)
        return _next_manifest(
            cur, "evolve", _empty_stage(table_dir, new_stage),
            partition_col=new_partition_col,
            partitions={},
            legacy_layouts=list(cur.get("legacy_layouts", [])) + [old],
            stats=None,
            bloom=None,
        )

    m = transact(table_dir, attempt)
    return (m or current_commit(table_dir))["version"]


def _logical_columns(spark: SparkSession, cur: dict, table_dir: str) -> list:
    """The table's current LOGICAL column names — a plan resolve (zero
    jobs) over the partition map, projected through the column map."""
    full = _to_logical(_read_partition_map(spark, table_dir, cur), cur)
    return list(full.columns) if full is not None else []


def _check_mappable(cur: dict, col: str, action: str) -> None:
    """Shared RENAME/DROP safety gates: the partition column names the
    layout's directories, dv key columns name the tombstone files'
    schema, and CHECK constraints are SQL strings over the original
    names — each would silently decouple from a remapped column, so
    all three refuse (Delta's own column-mapping restrictions)."""
    if col == cur.get("partition_col"):
        raise ValueError(
            f"cannot {action} partition column {col!r}; its value IS "
            "the layout's directory names — evolve the partition spec "
            "instead"
        )
    # dv files carry PHYSICAL key names (tombstone_keys enforces
    # unmapped keys; a mapped MERGE writes its dv under the physical
    # names, r13) — compare through the map so renaming the LOGICAL
    # name of a dv-keyed column still refuses
    if _column_map(cur).get(col, col) in _dv_keys(cur):
        raise ValueError(
            f"cannot {action} tombstone key column {col!r}; the "
            "deletion-vector files carry it by name — "
            "materialize_tombstones first"
        )
    pat = re.compile(rf"\b{re.escape(col)}\b")
    for c in cur.get("constraints", []) or []:
        if pat.search(c):
            raise ValueError(
                f"cannot {action} {col!r}: CHECK constraint {c!r} "
                "references it; drop the constraint first"
            )


def rename_column(
    spark: SparkSession, table_dir: str, old: str, new: str,
) -> int:
    """RENAME COLUMN without rewriting a byte (Delta's column mapping,
    mode=name): a metadata-only ``op: "evolve"`` commit records the
    logical→physical name map in the manifest; every read projects
    through it (`read_keyed_table`, the change feeds), every
    partition-mapped append translates incoming LOGICAL names to the
    stable PHYSICAL names before staging — and an append still using
    the OLD name is rejected (it would silently fork the column).
    Time travel is automatic: each version's manifest carries ITS map,
    so a pre-rename version reads with the old name. The partition
    column, dv key columns, and constraint-referenced columns refuse
    (their consumers address physical artifacts by name). Returns the
    new version."""
    if not old or not new or old == new:
        raise ValueError(f"rename {old!r} -> {new!r} is not a rename")

    def attempt(cur, new_stage):
        _check_partitioned(table_dir, cur)
        logical = _logical_columns(spark, cur, table_dir)
        if old not in logical:
            raise ValueError(f"no column {old!r} in {table_dir}")
        if new in logical:
            raise ValueError(f"column {new!r} already exists")
        if new in _dropped_physical(cur):
            raise ValueError(
                f"{new!r} is a dropped column's physical name; reusing "
                "it would collide with its retained file data"
            )
        if new.startswith("_") or not re.fullmatch(r"[A-Za-z0-9_]+", new):
            # "_"-prefixed names collide with the feeds' metadata
            # columns (_commit_version/_change_type/_commit_timestamp);
            # dotted/quoted names break Column resolution in the
            # projection (r12 review #6)
            raise ValueError(
                f"{new!r} is not a valid logical column name (plain "
                "identifier, no leading underscore)"
            )
        _check_mappable(cur, old, "rename")
        cmap = dict(_column_map(cur))
        phys = cmap.pop(old, old)
        if new != phys and new in set(cmap.values()):
            # the new logical name would shadow ANOTHER column's stable
            # physical name — _to_physical_batch could then no longer
            # tell a legitimate append apart from a stale-name one
            # (r12 review #3)
            raise ValueError(
                f"{new!r} is another column's physical name; pick a "
                "name not in the physical schema"
            )
        if new != phys:
            cmap[new] = phys
        return _next_manifest(
            cur, "evolve", _empty_stage(table_dir, new_stage),
            column_map=cmap,
        )

    return transact(table_dir, attempt)["version"]


def drop_column(spark: SparkSession, table_dir: str, col: str) -> int:
    """DROP COLUMN without rewriting a byte (Delta column mapping): a
    metadata-only ``op: "evolve"`` commit records the column's PHYSICAL
    name as dropped — its data stays in every file, reads and feeds
    simply never project it, and time travel to a pre-drop version
    still sees it. Appends re-using the dropped name are rejected
    (name-based mapping cannot distinguish the new column from the
    retained data; id-based mapping would — disclosed boundary). Same
    refusals as `rename_column` for the partition/dv/constraint
    columns. Returns the new version."""

    def attempt(cur, new_stage):
        _check_partitioned(table_dir, cur)
        logical = _logical_columns(spark, cur, table_dir)
        if col not in logical:
            raise ValueError(f"no column {col!r} in {table_dir}")
        if len(logical) <= 2:
            raise ValueError(
                f"dropping {col!r} would leave only the partition "
                "column; a one-column table is almost certainly a "
                "mistake — rewrite instead"
            )
        _check_mappable(cur, col, "drop")
        cmap = dict(_column_map(cur))
        phys = cmap.pop(col, col)
        return _next_manifest(
            cur, "evolve", _empty_stage(table_dir, new_stage),
            dropped_columns=sorted(_dropped_physical(cur) | {phys}),
            column_map=cmap,
        )

    return transact(table_dir, attempt)["version"]


def materialize_column_mapping(
    spark: SparkSession, table_dir: str, stats_cols: list[str] | None = None
) -> int | None:
    """Fold the column mapping in: ONE rewrite commit restates every
    partition under the LOGICAL names (renamed columns physically
    renamed, dropped columns physically gone) and CLEARS the map — the
    deferred rewrite `rename_column`/`drop_column` let you postpone,
    and the escape hatch that re-enables MERGE/UPDATE/DELETE and the
    commitlog stream on a mapped table. The logical state is unchanged,
    so the commit is tagged ``data_change: false`` (feeds and additive
    consumers skip it, exactly like compaction). Earlier versions keep
    their own maps (time travel unaffected). ``stats_cols`` are the
    LOGICAL (= new physical) names. Returns the new version, or None
    when the table has no mapping."""
    cur = current_commit(table_dir)
    if not (_column_map(cur) or _dropped_physical(cur)):
        return None
    committed_partition_transaction(
        spark,
        table_dir,
        cur["partition_col"],
        # re-read the head INSIDE compute (same rationale as
        # materialize_tombstones): a rename committed concurrently must
        # be folded by the rewrite that is about to CLEAR the map — the
        # CAS retry re-runs compute against the new head
        lambda base: _to_logical(base, current_commit(table_dir)),
        affected=None,
        stats_cols=stats_cols,
        _drop_map=True,
        data_change=False,
    )
    return current_commit(table_dir)["version"]


def migrate_legacy_layouts(
    spark: SparkSession, table_dir: str, stats_cols: list[str] | None = None
) -> int | None:
    """Fold every legacy layout's data into the CURRENT partition spec —
    the deferred rewrite partition evolution lets you postpone. One
    commit: legacy rows are re-written partitioned by the current
    column (they must carry it as a data column), appended as
    generations of the current layout, and ``legacy_layouts`` drops
    from the manifest; old layout dirs stay as immutable history. After
    this, rewrite transactions (erasure, compaction of all data) see
    the whole table again. Returns the new version, or None when there
    was nothing to migrate."""

    def attempt(cur, new_stage):
        legacy = cur.get("legacy_layouts", [])
        if not legacy:
            return None
        pcol = cur["partition_col"]
        old_rows = None
        for lay in _layouts(cur)[1:]:
            part = _read_partition_map(spark, table_dir, lay, None)
            if part is not None:
                old_rows = part if old_rows is None else old_rows.unionByName(
                    part, allowMissingColumns=True
                )
        written: set[str] = set()
        new_parts = dict(cur["partitions"])
        if old_rows is None:
            stage = _empty_stage(table_dir, new_stage)
        else:
            if pcol not in old_rows.columns:
                raise ValueError(
                    f"legacy rows lack the current partition column: {pcol}"
                )
            stage = new_stage()
            stage_path = os.path.join(table_dir, stage)
            old_rows.write.mode("overwrite").partitionBy(pcol).parquet(
                stage_path
            )
            written = {
                n for n in os.listdir(stage_path) if n.startswith(f"{pcol}=")
            }
            _check_entry_values(written)
            for e in written:
                new_parts[e] = (
                    _entry_dirs(new_parts[e]) + [stage]
                    if e in new_parts
                    else stage
                )
        # new entries record footer stats (staged files carry PHYSICAL
        # names); entries the migration extended get no fresh values,
        # so they drop theirs
        extended = written & set(cur["partitions"])
        new_stats, _ = _skipping_successor(
            cur, new_parts, written, extended,
            _collect_stage_stats(
                os.path.join(table_dir, stage), written - extended,
                _physical_names(stats_cols, cur),
            ) if stats_cols and written else {},
            {},
        )
        return _next_manifest(
            cur, "migrate", stage,
            partitions=new_parts,
            stats=new_stats,
            bloom=None,
            legacy_layouts=None,
            dir_schemas={
                stage: _file_schema_json(old_rows.schema, drop=pcol)
                if written
                else None
            },
        )

    m = transact(table_dir, attempt)
    return m["version"] if m else None


def clone_table_shallow(
    src_dir: str, dest_dir: str, version: int | None = None
) -> int:
    """SHALLOW CLONE (Delta semantics): publish a new table whose
    manifest references the SOURCE's committed data dirs by absolute
    path — zero bytes copied, O(manifest) cost at any table size.
    The clone then lives its own life: appends/rewrites/constraints
    land in the clone's own dir and never touch the source, because
    every mutation writes new stage dirs and only ever carries the
    cloned entries forward by reference — the copy-on-write the
    immutable-data-dir invariant gives for free. Like Delta, a clone
    depends on the source's files EXISTING: a retention vacuum on the
    source can break clones made from its history (documented trade;
    deep-copy by reading+landing when that matters). Cloning a
    specific ``version`` time-travels the clone's starting point."""
    if version is None:
        src = current_commit(src_dir)  # O(1): the newest manifest
    else:
        src = _manifest_at(src_dir, version)
    if src.get("version", 0) == 0:
        raise ValueError(f"{src_dir} has no commits to clone")
    _check_partitioned(src_dir, src)
    if src.get("legacy_layouts"):
        raise ValueError("shallow clone supports tables without legacy layouts")
    src_abs = os.path.abspath(src_dir)

    def _ref(d: str) -> str:
        return os.path.join(src_abs, d)

    def attempt(cur, new_stage):
        # "empty" must mean NO commit history at all — the version-1 CAS
        # alone would succeed on an existing table whose early manifests
        # were vacuumed, silently splicing a foreign v1 into its history
        if cur["version"] != 0 or _manifest_names(dest_dir):
            raise ValueError(f"clone target {dest_dir} is not an empty table")
        manifest = {
            "version": 1,
            "dir": _empty_stage(dest_dir, new_stage),
            "partition_col": src["partition_col"],
            "partitions": {
                e: [_ref(d) for d in _entry_dirs(v)]
                for e, v in src["partitions"].items()
            },
            "batch_ids": [],
            "op": "clone",
        }
        for k in (
            "stats", "bloom", "constraints", "column_map", "dropped_columns",
        ):
            if src.get(k):
                manifest[k] = src[k]
        if src.get("dv"):
            manifest["dv"] = [_ref(d) for d in src["dv"]]
            manifest["dv_key"] = src["dv_key"]
        if src.get("dir_schemas"):
            # schemas follow their dirs — keyed by the clone's absolute refs
            manifest["dir_schemas"] = {
                _ref(d): s for d, s in src["dir_schemas"].items()
            }
        return manifest

    transact(dest_dir, attempt)
    return 1


def restore_table_version(table_dir: str, version: int) -> int:
    """RESTORE: re-publish an older committed version's state as a NEW
    commit (Delta RESTORE semantics — history moves forward, never
    rewrites). Zero data movement: the new manifest simply copies the
    target version's partition map / data dir, which stays valid because
    committed data dirs are immutable. Returns the new version number.
    Concurrency-safe via the same CAS: losing the race means someone
    else committed meanwhile — the restore retries against the new head
    so the restored state is always the caller's requested snapshot."""
    target = _manifest_at(table_dir, version)

    def _missing_dirs() -> list[str]:
        return [
            d
            for d in sorted(_manifest_dirs(target) - {"."})
            # os.path.join passes a clone's absolute refs through, so a
            # source-side vacuum is caught here too
            if not os.path.isdir(os.path.join(table_dir, d))
        ]

    # a retention vacuum may already have deleted the target's data —
    # refuse up front rather than committing a manifest to dead paths
    gone = _missing_dirs()
    if gone:
        raise ValueError(
            f"version {version} data was vacuumed ({gone[0]} missing); "
            "restore is impossible"
        )

    def attempt(cur, new_stage):
        # stage-less: the restored state's dirs are committed already
        m = _next_manifest(target, "restore", target["dir"])
        m["version"] = cur["version"] + 1
        return m

    manifest = transact(table_dir, attempt)
    # re-verify AFTER the commit: a vacuum running concurrently could
    # have deleted the target's dirs between our check and the CAS (it
    # cannot see this manifest yet). Raising is loud and actionable —
    # restore again to a live version — where silence would leave a
    # head pointing at dead data.
    gone = _missing_dirs()
    if gone:
        raise RuntimeError(
            f"restore of version {version} raced a vacuum "
            f"({gone[0]} deleted after commit); restore the "
            "table to a live version"
        )
    _write_hint(table_dir, manifest)
    _maybe_checkpoint_ledger(table_dir, manifest["version"])
    return manifest["version"]


def vacuum_versions(
    table_dir: str, keep_last: int, keep_from_version: int | None = None
) -> dict:
    """Retention: drop all but the last ``keep_last`` committed versions
    and delete the data dirs ONLY they referenced. Order matters for
    crash safety: manifests are unlinked FIRST (a crash mid-way leaves
    extra data dirs — garbage, re-vacuumable — never a manifest pointing
    at deleted data). Dirs shared with retained versions survive (append
    generations and carried-forward partitions are referenced by many
    manifests). Time travel to the dropped versions is gone — that is
    the retention trade, same as any table format's VACUUM. The batch-id
    ledger SURVIVES: dropped manifests' ids are rolled into a ledger
    checkpoint before unlinking, so replay idempotence is unaffected by
    retention.

    ``keep_from_version`` protects BY VERSION, not by count: every
    version >= it survives regardless of how many there are. This is
    the race-free pin a coordinating caller (catalog_vacuum) needs —
    the drop set is decided from ONE history read inside this call, so
    a commit landing between the caller's snapshot and this vacuum can
    only ADD protected (newer) versions, never shift a count-based
    window over the pinned one (ADVICE r13)."""
    hist = table_history(table_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cut = len(hist) - keep_last
    if keep_from_version is not None:
        cut = min(cut, sum(1 for m in hist if m["version"] < keep_from_version))
    drop, keep = hist[: max(cut, 0)], hist[max(cut, 0) :]
    if not drop:
        return {"versions": [], "dirs": []}

    def dirs_of(ms):
        out = set()
        for m in ms:
            out.update(_manifest_dirs(m))
        return out

    # Deletion is restricted to LOCAL data dirs (simple names directly
    # under this table): a shallow clone's manifest references the
    # SOURCE table's dirs by absolute path, and vacuuming the clone
    # must never reach through those references and destroy committed
    # data it does not own.
    doomed = {
        d
        for d in dirs_of(drop) - dirs_of(keep) - {"."}
        if not os.path.isabs(d) and os.sep not in d
    }
    log = os.path.join(table_dir, _COMMITS)
    # Preserve the batch-id ledger BEFORE unlinking: dropped manifests
    # carry delta ids that replay idempotence still needs. Roll them into
    # a checkpoint at the newest dropped version (ids-only — checkpoints
    # never reference data dirs, so nothing dangles), then retire older
    # checkpoints.
    dropped_max = drop[-1]["version"]
    _write_ledger_checkpoint(table_dir, dropped_max, committed_batch_ids(table_dir))
    for n in os.listdir(log):
        if n.endswith(".checkpoint.json") and int(n.split(".")[0]) < dropped_max:
            os.unlink(os.path.join(log, n))
    for m in drop:
        try:
            os.unlink(os.path.join(log, f"{m['version']:020d}.json"))
        except FileNotFoundError:
            pass
    for d in doomed:
        shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
    return {"versions": [m["version"] for m in drop], "dirs": sorted(doomed)}


def vacuum_uncommitted(table_dir: str, grace_sec: float = 3600.0) -> list[str]:
    """Remove orphaned data dirs (staged by a writer that crashed before
    committing) that no manifest references and whose mtime is older than
    `grace_sec` — the grace window keeps an in-flight writer's fresh
    stage safe. Returns the removed names. Committed versions are never
    touched (older versions stay readable: snapshot reads).

    Contract: grace_sec must exceed the longest plausible writer stall
    between staging and committing. Writers refresh their stage's mtime
    immediately before the CAS and fail loudly (un-publishing their
    manifest) if the stage vanished anyway, so a too-short grace costs a
    failed transaction, never a manifest pointing at missing data."""
    log = os.path.join(table_dir, _COMMITS)
    referenced = set()
    try:
        for n in os.listdir(log):
            if _is_manifest(n):
                m = _read_json(os.path.join(log, n))
                if m is None:  # unlinked by a concurrent retention vacuum
                    continue
                referenced.update(_manifest_dirs(m))
    except FileNotFoundError:
        pass
    removed = []
    now = time.time()
    for n in os.listdir(table_dir):
        p = os.path.join(table_dir, n)
        if (
            (
                n.startswith("data-")
                or n.startswith("cdc-")
                # LEGACY decision-scan scratch dirs (pre-r14 writers
                # materialized merge/update/delete frames to parquet; a
                # SIGKILLed one leaks full-row copies incl. rows a GDPR
                # delete meant to erase — r12 review sweep 2 #4). r14
                # writers localCheckpoint instead (nothing on disk to
                # leak), but old leftovers must still sweep
                or n.startswith("scratch-")
            )
            and n not in referenced
            and os.path.isdir(p)
            and now - os.path.getmtime(p) > grace_sec
        ):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(n)
        elif (
            n.startswith("_hint-tmp-")
            and os.path.isfile(p)
            and now - os.path.getmtime(p) > grace_sec
        ):
            # a writer that crashed inside _write_hint between mkstemp
            # and os.replace leaves this orphan — same grace-window
            # sweep as the _commits/*.tmp case
            os.unlink(p)
            removed.append(n)
    # A writer that crashes between mkstemp and try_commit's finally
    # leaves an orphan *.tmp manifest in the log dir forever (ADVICE
    # r04); sweep those under the same grace window. A live writer's
    # tmp is younger than grace_sec, so this never races the CAS.
    if os.path.isdir(log):
        for n in os.listdir(log):
            p = os.path.join(log, n)
            if (
                n.endswith(".tmp")
                and os.path.isfile(p)
                and now - os.path.getmtime(p) > grace_sec
            ):
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
                removed.append(os.path.join(_COMMITS, n))
    return removed


def _manifest_at(table_dir: str, version: int) -> dict:
    """Committed manifest ``version``: one file open, not a log scan.
    Raises when it was never committed or has been vacuumed."""
    m = _read_json(os.path.join(table_dir, _COMMITS, f"{version:020d}.json"))
    if m is None:
        raise ValueError(f"version {version} not committed in {table_dir}")
    return m


def table_history(table_dir: str) -> list[dict]:
    """All committed manifests, oldest first — the audit trail a real
    table format exposes as DESCRIBE HISTORY."""
    out = []
    for n in _manifest_names(table_dir):
        m = _read_json(os.path.join(table_dir, _COMMITS, n))
        if m is not None:  # dropped by a concurrent retention vacuum
            out.append(m)
    return out


def read_table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame | None:
    """CHANGE FEED over a partition-mapped committed table: the rows
    each commit in ``(from_version, to_version]`` ADDED, tagged with
    ``_commit_version`` — the Delta CDF / Iceberg incremental-read
    surface, and the input a downstream incremental job consumes
    instead of re-scanning the table ("give me everything since the
    version I last processed").

    Committed data dirs are immutable and version-stamped, so the feed
    is just the stage dirs of the requested commit range — O(changed
    data) read, zero reconstruction work, and only the range's
    manifests are opened. Append transactions contribute exactly their
    batch; rewrite transactions (compaction, erasure) contribute the
    rewritten partitions' new contents — the "upsert image"
    granularity. A RESTORE re-publishes an EARLIER version's stage dir
    without writing a row, so it contributes nothing (emitting it would
    replay the whole restored table as "changes" and double-fold any
    additive consumer). Returns None when the range holds no commits
    with data."""
    head = current_commit(table_dir)["version"]
    end = head if to_version is None else min(to_version, head)
    by_v = _manifests_in(table_dir, from_version + 1, end)
    _require_retained(by_v, table_dir, from_version, end)
    return _added_rows(spark, table_dir, by_v, from_version, end)


def _added_rows(
    spark: SparkSession, table_dir: str, by_v: dict, from_version: int,
    end: int,
) -> DataFrame | None:
    """`read_table_changes` over the range's retained manifests
    ``by_v``: the rows each data-changing commit added."""
    dirs = None
    out = None
    for v, m in by_v.items():
        if m.get("op") == "restore":
            continue  # metadata-only re-publish
        if "op" not in m:
            # a pre-op manifest is an untagged RESTORE when it re-publishes
            # an earlier commit's dir; only the earlier log can tell, so
            # legacy histories (and only they) parse it, once
            if dirs is None:
                dirs = [
                    (h["version"], h.get("dir"))
                    for h in table_history(table_dir)
                ]
            if m.get("dir") in {d for k, d in dirs if k < v and d}:
                continue
        if m.get("op") == "rewrite" and m.get("data_change") is False:
            # compaction / Z-order / tombstone materialization: provably
            # a restatement (Delta's dataChange=false) — emitting its
            # stage would replay unchanged rows as "changes". A
            # column-mapping materialize is the exception: it re-based
            # the physical names, so the range cannot span it.
            _check_map_stable(by_v, m, table_dir, from_version)
            continue
        entries = _stage_entries(table_dir, m)
        if not entries:
            continue  # metadata-only commit
        part = _read_partition_map(
            spark,
            table_dir,
            {
                "partition_col": m["partition_col"],
                "partitions": {e: m["dir"] for e in entries},
                # the commit's own recorded schemas serve its stage dir
                "dir_schemas": m.get("dir_schemas") or {},
            },
        ).withColumn("_commit_version", F.lit(v).cast("long"))
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    # the feed surfaces the END version's LOGICAL schema (Delta CDF
    # reads a range with the end schema): frames are physical, one
    # projection at the end maps them — rename is metadata-only, so
    # physical names are stable across the whole range; the one commit
    # that re-bases them (materialize_column_mapping) raises via
    # _check_map_stable above
    return _to_logical(out, by_v.get(end, {}))


def _manifests_in(table_dir: str, lo: int, hi: int) -> dict:
    """``{version: manifest}`` for the retained commits ``lo..hi`` — one
    log listing plus one open per version in range, never a parse of
    the whole log."""
    out = {}
    for n in _manifest_names(table_dir):
        if lo <= int(n.split(".")[0]) <= hi:
            m = _read_json(os.path.join(table_dir, _COMMITS, n))
            if m is not None:  # dropped by a concurrent retention vacuum
                out[m["version"]] = m
    return out


def _require_retained(by_v: dict, table_dir: str, start: int, end: int) -> None:
    """Raise when a commit in ``(start, end]`` was vacuumed: its rows
    are gone, and a feed that skipped it would silently drop them."""
    for v in range(start + 1, end + 1):
        if v not in by_v:
            raise ValueError(
                f"commit {v} of {table_dir} was vacuumed; its changes "
                "cannot be read — keep retention above the consumer's lag "
                "or read from a later version"
            )


def _stage_entries(table_dir: str, m: dict) -> list[str]:
    """The partition entries commit ``m`` wrote into its own stage dir
    (none for a metadata-only commit such as RESTORE)."""
    stage_abs = os.path.join(table_dir, m["dir"])
    if not os.path.isdir(stage_abs):
        return []
    prefix = f"{m['partition_col']}="
    return sorted(n for n in os.listdir(stage_abs) if n.startswith(prefix))


def _dv_added_bounds(
    table_dir: str, keys: list[str], cur_dirs: list[str], prev_dirs: list[str]
) -> tuple:
    """(per-column {col: (lo, hi)} bounds, any) over the key TUPLES
    ADDED by a dv change (cur − prev) — driver-side pyarrow over the
    delete-sized key files, zero Spark jobs (the same data the feeds
    semi-join on). ``keys`` may be composite (VERDICT r10 #2)."""
    import pyarrow.parquet as pq

    def keys_of(dirs: list[str]) -> set:
        out: set = set()
        for d in dirs:
            for f in _parquet_files(os.path.join(table_dir, d)):
                t = pq.read_table(f, columns=keys)
                out.update(zip(*[t[k].to_pylist() for k in keys]))
        return out

    added = {
        tup
        for tup in keys_of(cur_dirs) - keys_of(prev_dirs)
        if all(x is not None for x in tup)
    }
    if not added:
        return None, False
    bounds = {
        k: (min(vs), max(vs)) for k, vs in zip(keys, zip(*added))
    }
    return bounds, True


# ops whose row images one commit's files define; metadata-only ops
# (set-constraints, evolve) have none, every other op raises
_IMAGE_OPS = ("append", "overwrite", "rewrite", "delete", "merge", "update")


def _change_images(
    table_dir: str, hist: list[dict], start: int, end: int, admit=None
) -> list[dict]:
    """The ONE plan of the typed change feed for versions ``(start,
    end]``: which row images each commit has, decided from the commit
    log alone — metadata plus the delete-sized dv key files, never a
    Spark job. `read_table_changes_typed` executes the images as Spark
    reads; the commitlog stream (`table_source._typed_plan`,
    `_plan_changes`) expands them into per-entry file units. Each
    image is a dict:

    * ``version``, ``ts`` (the manifest's ``committed_at``) and
      ``ctype`` (``insert``/``delete``; None for a CDC sidecar, whose
      rows carry their own ``_change_type``);
    * ``cdc`` — the commit's change-data sidecar dir, served as
      recorded (``map`` is then None and ``dv_of`` is the commit);
    * ``map`` / ``prune`` — a partition map `_read_partition_map`
      accepts, and optional stats bounds for it;
    * ``dv_of`` — the manifest whose tombstones hide rows of ``map``:
      images are STATE diffs, so a row its version already hides is
      never an image (r9 review #1);
    * ``keys`` / ``added`` — for delete images of tombstoned keys, the
      key columns and ``(inc dv dirs, exc dv dirs)``: only rows whose
      key is in ``inc − exc`` are images;
    * ``legacy`` — the map is an unmigrated legacy layout.

    ``admit(m)`` runs first on every in-range commit: a caller's own
    admission rules (the stream's column-mapping capture, the untyped
    stream's additive allow-list) without the planner branching on
    its caller."""
    by_v = {m["version"]: m for m in hist}
    _require_retained(by_v, table_dir, start, end)
    images: list[dict] = []
    for v in range(start + 1, end + 1):
        m = by_v[v]
        if admit is not None:
            admit(m)
        op = m.get("op")
        if op in ("set-constraints", "evolve"):
            continue  # metadata-only commits move no rows
        if op not in _IMAGE_OPS:
            raise ValueError(
                f"commit {v} is {op!r} — its row images are not defined "
                "by a single commit's files; consume it via a recompute"
            )
        if m.get("data_change") is False:
            # compaction / Z-order / tombstone materialization: the
            # commit provably restates rows (Delta's dataChange=false)
            # — no images, and no diff base needed. A column-mapping
            # materialize re-based the physical names, so a range
            # spanning it must raise instead (r12 review #1).
            _check_map_stable(by_v, m, table_dir, start)
            continue
        base = {
            "version": v, "ts": m.get("committed_at"), "cdc": None,
            "prune": None, "keys": None, "added": None, "legacy": False,
        }
        if m.get("cdc"):
            # Delta's _change_data path: the merge/update/delete
            # recorded exact row-level images (update pre/post pairs,
            # deletes, inserts; carried rows absent) at commit time —
            # served directly, no diff base, no reconstruction
            images.append(
                {**base, "ctype": None, "cdc": m["cdc"], "map": None,
                 "dv_of": m}
            )
            continue
        if op != "append" and v - 1 >= 1 and v - 1 not in by_v:
            # the DIFF BASE one below the range: defaulting it to an
            # empty table would emit the whole table as inserts and
            # re-emit every historical tombstone (r9 review #2). An
            # append's inserts are its own stage, so a vacuumed v-1
            # under a plain append is fine (ADVICE r09)
            raise ValueError(
                f"commit {v - 1} of {table_dir} (the diff base for "
                f"{v}) was vacuumed; typed changes cannot be "
                "reconstructed from this from_version"
            )
        prev = by_v.get(v - 1, {"partitions": {}})
        pcol = m["partition_col"]

        def pmap(parts: dict, of: dict) -> dict:
            # the map reads dirs `of` references — its recorded schemas
            # serve them (zero footer reads on reconstruction reads)
            return {
                "partition_col": pcol, "partitions": parts,
                "dir_schemas": of.get("dir_schemas") or {},
            }

        # a "delete" commit is either a PREDICATE delete (delete_table
        # with change_data=False — no new dv file, its diff is the
        # partition-map rewrite) or a KEY tombstone (tombstone_keys — a
        # new dv file, partitions untouched); route on the artifact
        new_dv = [d for d in m.get("dv", []) if d not in prev.get("dv", [])]
        if op == "append":
            entries = _stage_entries(table_dir, m)
            if entries:
                images.append(
                    {**base, "ctype": "insert", "dv_of": m,
                     "map": pmap({e: m["dir"] for e in entries}, m)}
                )
        elif op == "delete" and new_dv:
            # key tombstone: the PRIOR version's rows holding the added
            # keys, one image per layout (current plus legacy_layouts),
            # each pruned by its own stats to the keys' bounds — without
            # stats on the key column that is a prior-version scan
            kcols = _dv_keys(m)
            bounds, any_ = _dv_added_bounds(table_dir, kcols, new_dv, [])
            for lay in _layouts(prev) if any_ else []:
                images.append(
                    {**base, "ctype": "delete", "map": lay, "prune": bounds,
                     "dv_of": prev, "keys": kcols, "added": (new_dv, []),
                     "legacy": lay is not prev}
                )
        else:
            cur_p, prev_p = m["partitions"], prev.get("partitions", {})
            ins, dels, extended = {}, {}, {}
            for e in sorted(set(cur_p) | set(prev_p)):
                if cur_p.get(e) == prev_p.get(e):
                    continue
                cd = _entry_dirs(cur_p[e]) if e in cur_p else []
                pd_ = _entry_dirs(prev_p[e]) if e in prev_p else []
                if pd_ and cd[: len(pd_)] == pd_:
                    # pure generation EXTENSION (a merge insert): only
                    # the added dirs are new rows — a full pair would
                    # re-state unchanged data. The PRIOR generations
                    # still join the dv delete-image base below (r11
                    # review #1): an extension emits no pair deletes.
                    ins[e] = cd[len(pd_):]
                    extended[e] = pd_
                else:
                    if e in cur_p:
                        ins[e] = cur_p[e]
                    if e in prev_p:
                        dels[e] = prev_p[e]
            if ins:
                images.append(
                    {**base, "ctype": "insert", "map": pmap(ins, m),
                     "dv_of": m}
                )
            if dels:
                images.append(
                    {**base, "ctype": "delete", "map": pmap(dels, prev),
                     "dv_of": prev}
                )
            kcols = _dv_keys(m)
            if op == "merge" and kcols and m.get("dv") != prev.get("dv"):
                # a merge's delete clauses may tombstone keys (and a
                # consolidation may CLEAR re-inserted ones — those rows
                # reappear via the map diff above). New hidden keys =
                # key-set difference, not dir-list difference: the
                # consolidated file holds old keys too. Delete images
                # come from entries whose prior rows are NOT already
                # pair deletes: untouched entries plus the prior
                # generations of pure extensions (a REWRITTEN entry's
                # removed rows are in its pair deletes — including it
                # would double-delete, r10 review #2). The write path
                # refuses merges over legacy layouts, so the current
                # map is the whole prior state.
                added = (m.get("dv", []), prev.get("dv", []))
                bounds, any_ = _dv_added_bounds(table_dir, kcols, *added)
                untouched = {
                    e: d for e, d in prev_p.items() if cur_p.get(e) == d
                }
                untouched.update(extended)
                parts = _stats_prune(
                    {"partitions": untouched, "stats": prev.get("stats", {})},
                    bounds,
                ) if any_ else {}
                if parts:
                    images.append(
                        {**base, "ctype": "delete", "map": pmap(parts, prev),
                         "dv_of": prev, "keys": kcols, "added": added}
                    )
    return images


def read_table_changes_typed(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame | None:
    """TYPED change feed — `read_table_changes` with a ``_change_type``
    column (Delta CDF's full surface): per commit in
    ``(from_version, to_version]``,

    * ``append``     → the stage's rows as ``insert``;
    * ``overwrite`` / ``rewrite`` → upsert image PAIRS for exactly the
      entries whose mapping changed: the new content as ``insert`` and
      the PRIOR version's content of those entries as ``delete`` (an
      entry dropped by the commit emits deletes only). Delta-CDF
      parity note (ADVICE r09): a non-keyed rewrite emits
      insert/delete pairs, not update images — pairing pre/post per
      ROW needs a declared row key, which a partition-mapped
      (non-keyed) overwrite does not have. Consumers folding the feed
      key on their own id columns; a ``rewrite`` tagged
      ``data_change: false`` (compaction, Z-order, tombstone
      materialization — Delta's dataChange=false) provably restates
      rows and emits NOTHING;
    * ``delete`` (key tombstone) → the PRIOR version's rows matching
      the commit's newly-added keys as ``delete`` — the event stream
      `tombstone_keys` itself cannot provide (its docstring used to
      point consumers at raw key files);
    * ``delete`` (predicate — `delete_table`, r12) → the commit's
      ``cdc`` sidecar holds each deleted row's exact image (Delta's
      DELETE ``_change_data``), served directly; with
      ``change_data=False`` the commit falls back to the map-diff pair
      images below (a rewrite diff — surviving rows restate as
      ``insert``, prior contents as ``delete``), exactly like a
      pre-CDF Delta delete. The two flavors are routed by artifact:
      a new dv file means tombstone, a partition-map diff means
      predicate;
    * ``merge`` with a ``cdc`` sidecar (the default since r11 —
      Delta's _change_data files) → the EXACT row-level images the
      merge recorded at commit time: WHEN MATCHED updates as
      ``update_preimage``/``update_postimage`` PAIRS (keyed by the
      merge keys by construction), deletes as before-images, inserts
      as after-images, carried rows absent (VERDICT r10 #1 / the
      second half of ADVICE r09 #5). O(changed rows) read, zero
      reconstruction. A pre-r11 merge (or ``change_data=False``)
      falls back to the map-diff pairs: entries whose dir list merely
      GREW emit only the added generations as inserts, tombstoned
      keys emit delete images via the dv KEY diff, re-inserted keys
      reappear through the map diff;
    * ``set-constraints`` / ``evolve`` → metadata-only, no rows;
    * ``restore`` / ``clone`` / ``migrate`` / untagged → raise: their
      row images are not defined by one commit's files, and guessing
      would double-fold downstream consumers.

    Cost: the plan (`_change_images`) is driver metadata work — the
    commit log plus the delete-sized dv key files, whose bounds are
    computed driver-side with pyarrow — so building the feed runs no
    Spark job. Insert images are the commit's own immutable stage and
    overwrite/rewrite delete images open only the touched entries'
    prior dirs — O(changed data). The tombstone branch's delete-image
    read opens the prior VERSION pruned to partitions whose recorded
    stats can hold the deleted keys; without stats on the key column
    that one commit costs a prior-version scan (disclosed — the keys
    are arbitrary, so only stats can narrow it). Every image is
    filtered through ITS version's tombstones, so an already-hidden row
    never appears in an insert or re-deletes. Rows carry
    ``_commit_version``, ``_change_type``, and ``_commit_timestamp``
    (the manifest's publish wall-clock; NULL for pre-feature
    manifests) — Delta CDF's metadata columns."""
    hi = (
        current_commit(table_dir)["version"] if to_version is None
        else to_version
    )
    # the range's manifests plus ``from_version`` itself, the first
    # commit's diff base
    by_v = _manifests_in(table_dir, from_version, hi)
    out = None

    def dv_key_set(dirs: list[str], of: dict) -> DataFrame:
        return _read_dirs(spark, table_dir, of, dirs).distinct()

    for im in _change_images(
        table_dir, list(by_v.values()), from_version, hi
    ):
        version = F.lit(im["version"]).cast("long")
        if im["cdc"]:
            # the sidecar carries `_change_type` as a data column, so
            # its version column follows it
            part = _read_dirs(
                spark, table_dir, im["dv_of"], [im["cdc"]]
            ).withColumn("_commit_version", version)
        else:
            part = _apply_tombstones(
                spark, table_dir, im["dv_of"],
                _read_partition_map(spark, table_dir, im["map"], im["prune"]),
            )
            if part is None:
                continue
            if im["added"]:
                inc, exc = im["added"]
                keys = dv_key_set(inc, by_v[im["version"]])
                if exc:
                    keys = keys.join(
                        dv_key_set(exc, im["dv_of"]), on=im["keys"],
                        how="left_anti",
                    )
                part = part.join(
                    F.broadcast(keys), on=im["keys"], how="left_semi"
                )
            part = part.withColumn("_commit_version", version).withColumn(
                "_change_type", F.lit(im["ctype"])
            )
        part = part.withColumn(
            "_commit_timestamp",
            F.timestamp_seconds(F.lit(float(im["ts"])))
            if im["ts"] is not None
            else F.lit(None).cast("timestamp"),
        )
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    # surface the END version's LOGICAL schema (Delta CDF reads a range
    # with the end schema): frames and sidecars are physical throughout,
    # and rename is metadata-only, so one final projection is coherent
    # for the whole range
    end_m = by_v.get(hi) or (by_v[max(by_v)] if by_v else {})
    return _to_logical(out, end_m)


def apply_typed_changes(feed: DataFrame, cols: list[str]) -> DataFrame:
    """CDC APPLY: fold a typed change feed into the replica state it
    encodes. Images are exact state diffs, so the head state equals
    (multiset of insert images) − (multiset of delete images) over the
    data columns: ONE hash aggregation on the row values, rows with a
    positive net count emitted that many times (an update nets 0 on
    its old image and +1 on its new; a delete-then-identical-reinsert
    nets +1; duplicate physical rows net their multiplicity). ``cols``
    is the replica's column set — the feed's metadata columns are
    dropped. Update images weigh like their pair halves:
    ``update_preimage`` −1 (the before state leaves), ``insert`` and
    ``update_postimage`` +1, ``delete`` −1.

    This is the batch proof that the feed ALONE reconstructs the
    table (`cdc_apply_typed` pins replica == head against the oracle);
    a consumer maintaining a replica incrementally folds each
    version's images into a keyed `merge_into_table` instead. Scale
    shape: one shuffle on the full row values — the same cost class as
    the dedup_exact fingerprint exchange."""
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        feed.select(*cols, w.alias("_w"))
        .groupBy(*cols)
        .agg(F.sum("_w").alias("_net"))
        .filter(F.col("_net") > 0)
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("_net"))))
        .drop("_net", "_i")
    )


def read_partition_counts(spark: SparkSession, table_dir: str) -> DataFrame:
    """Per-partition COUNT(*) answered from the MANIFEST — Delta's
    metadata-only count optimization: every footer-scanned entry
    carries its exact row count in stats (`n`), so the answer for
    those partitions is O(partitions) JSON already in memory, zero
    data files opened. Entries without stats fall back to scanning
    JUST those partitions; tombstoned or legacy-layout tables fall
    back to a full counted read (manifest counts don't see deletion
    vectors or other layouts — correctness before cleverness). The
    result schema is (partition_col string, n long) either way, so
    callers can't tell which path answered — only how fast. A one-entry
    table has no partition column to count by and is refused."""
    cur = current_commit(table_dir)
    if cur["version"] == 0:
        raise ValueError(f"{table_dir} has no commits")
    _check_partitioned(table_dir, cur)
    pcol = cur["partition_col"]

    def scan_counts(df: DataFrame) -> DataFrame:
        return df.groupBy(pcol).agg(F.count(F.lit(1)).cast("long").alias("n"))

    if cur.get("dv") or cur.get("legacy_layouts"):
        full = read_keyed_table(spark, table_dir)
        if full is None:  # every partition dropped; dv/layouts remain
            return spark.createDataFrame([], f"{pcol} string, n long")
        return scan_counts(full)
    stats = cur.get("stats", {})
    counted = [
        (e.split("=", 1)[1], int(stats[e]["n"]))
        for e in cur["partitions"]
        if e in stats and stats[e].get("n") is not None
    ]
    missing = {
        e: d
        for e, d in cur["partitions"].items()
        if e not in stats or stats[e].get("n") is None
    }
    out = None
    if counted:
        out = spark.createDataFrame(counted, f"{pcol} string, n long")
    if missing:
        part = _read_partition_map(
            spark,
            table_dir,
            {
                "partition_col": pcol,
                "partitions": missing,
                "dir_schemas": cur.get("dir_schemas") or {},
            },
        )
        scanned = scan_counts(part)
        out = scanned if out is None else out.unionByName(scanned)
    if out is None:
        return spark.createDataFrame([], f"{pcol} string, n long")
    return out


def maintain_incremental_agg(
    spark: SparkSession, source_dir: str, dest_dir: str, agg, merge
) -> int:
    """Incrementally maintain a derived AGGREGATE table from a source
    table's change feed — the materialized-view half of a medallion
    pipeline (bronze facts → silver rollup) with NO source re-scan:
    each refresh reads only the commits the destination has not folded
    yet. ``agg(delta_df) -> DataFrame`` folds one commit's added rows
    to the aggregate grain; ``merge(base_or_None, delta_agg) ->
    DataFrame`` combines it into the running aggregate (additive
    measures: union + ONE hash re-agg). Each source commit becomes one
    destination commit stamped ``batch_id = source version``, so the
    cursor LIVES IN the destination's own commit ledger (its committed
    batch ids) — a replayed refresh, a crash between commits, or two
    concurrent maintainers all resolve to exactly-once application per
    source version, the same idempotence contract as the streaming
    sinks. Metadata-only source commits (RESTORE, partition evolution)
    contribute no rows and are skipped. Cost per refresh is O(changed
    rows) + O(aggregate table), never O(source) — the only sane shape
    when the source is 100 TB and the rollup is megabytes. Returns the
    number of source commits applied.

    SOUND FOR APPEND-ONLY SOURCES: the change feed surfaces rewrite
    commits (erasure, migration) as upsert images and deletes/restores
    as state changes with no add rows — an additive fold would
    double-count or silently miss them, so any such commit in the
    unfolded range RAISES (each manifest carries its ``op`` tag;
    recompute the aggregate instead, or keep the source append-only,
    which is what a landing zone is). The exception is a rewrite
    tagged ``data_change: false`` (compaction / Z-order — Delta's
    dataChange=false): a provable restatement, skipped, so table
    maintenance never breaks incremental refresh. A source commit
    vacuumed before it was folded also raises — its rows are
    unfoldable, so schedule maintenance inside the retention
    window."""
    applied = 0
    head = current_commit(source_dir)["version"]
    done = committed_batch_ids(dest_dir) if os.path.isdir(dest_dir) else set()
    todo = [v for v in range(1, head + 1) if v not in done]
    if not todo:
        return 0
    # open the unfolded range plus the nearest retained manifest below
    # it (the rename check's base), never the whole log
    retained = [int(n.split(".")[0]) for n in _manifest_names(source_dir)]
    lo = max((k for k in retained if k < todo[0]), default=todo[0])
    hist = _manifests_in(source_dir, lo, head)
    for v in todo:
        m = hist.get(v)
        if m is None:
            raise ValueError(
                f"source commit {v} was vacuumed before it was folded; "
                "recompute the aggregate from the current table instead"
            )
        op = m.get("op")
        if op == "rewrite" and m.get("data_change") is False:
            continue  # compaction: restatement, nothing to fold
        # nearest RETAINED earlier manifest (same fallback as
        # _check_map_stable): v-1 may be folded-and-vacuumed, and a
        # stable carried map compared against a defaulted {} would
        # falsely read as a rename and wedge the maintainer forever
        # (r12 review sweep 3 #1)
        earlier = [k for k in hist if k < v]
        prev_m = hist[max(earlier)] if earlier else None
        if prev_m is not None and any(
            m.get(k) != prev_m.get(k) for k in _SCHEMA_MAP_KEYS
        ):
            # a RENAME/DROP COLUMN (or its materialize) changes the
            # LOGICAL names the per-version deltas surface — folding
            # across it would union old- and new-named measures as two
            # NULL-padded columns and silently diverge from a recompute
            # (r12 review sweep 2 #1). Folds resumed on a table whose
            # map is stable (even non-empty) stay sound.
            raise ValueError(
                f"source commit {v} renamed/dropped columns; additive "
                "incremental maintenance cannot span a schema rename — "
                "recompute the aggregate from the current table instead"
            )
        if op not in ("append", "set-constraints", "evolve"):
            # Refuse everything an additive fold cannot express: rewrites
            # double-count, deletes/restores change state without add
            # rows, a clone's base table hides behind an empty stage,
            # and an UNTAGGED commit (pre-op manifest) could be any of
            # those — raising beats silently wrong (re-land legacy
            # sources, or recompute).
            raise ValueError(
                f"source commit {v} is {op!r} — additive incremental "
                "maintenance is only sound over append-only history; "
                "recompute the aggregate from the current table instead"
            )
        delta = _added_rows(spark, source_dir, {v: m}, v - 1, v)
        if delta is None:
            continue  # metadata-only commit: nothing to fold
        committed_transaction(
            spark,
            dest_dir,
            lambda base, d=delta: merge(base, agg(d.drop("_commit_version"))),
            batch_id=v,
        )
        applied += 1
    return applied


def _entry_dirs(v) -> list[str]:
    """A partition-map value is one data dir (rewrite) or a LIST of data
    dirs (append generations) — normalize to a list."""
    return [v] if isinstance(v, str) else list(v)


def _parquet_files(d: str) -> list[str]:
    """The parquet files of one dir, sorted (none when it is absent)."""
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


_ESCAPED_VALUE = re.compile(r"%[0-9A-Fa-f]{2}")


def _check_entry_values(written: set[str]) -> None:
    """Partition values round-trip through DIR NAMES: Spark %XX-escapes
    characters like space/':' when writing, but the manifest map, the
    `affected` claim matching, and the read-side `lit(value)` all use
    the raw string — an escaped value would silently mismatch (an
    erasure claim missing its partition, a read re-attaching the encoded
    form). Rather than half-reimplement Spark's escapePathName, reject
    values that needed escaping (and NULL's sentinel dir) up front."""
    for e in written:
        v = e.split("=", 1)[1]
        if _ESCAPED_VALUE.search(v) or v == "__HIVE_DEFAULT_PARTITION__":
            raise ValueError(
                f"partition value {v!r} needs dir-name escaping (or is "
                "NULL), which would break claim matching and value "
                "round-trip; restrict partition values to unescaped "
                "strings like [A-Za-z0-9._-]+"
            )


def _stats_prune(manifest: dict, prune: dict | None) -> dict:
    """Entries of the manifest's partition map that survive data skipping.

    ``prune`` maps column -> (lo, hi) inclusive bounds (None = open), or
    the strings ``"notnull"`` / ``"null"``: ``"notnull"`` skips entries
    whose recorded null count equals their row count (every row IS NULL,
    so no row can match an IS NOT NULL — or any value — predicate);
    ``"null"`` skips entries whose null count is zero. An entry is
    skipped only when its recorded stats PROVE no row can match —
    entries without stats (older manifests, non-stats columns, unknown
    null counts) are always read, so pruning can never change results,
    only cost. This is the manifest half of Delta/Iceberg data skipping
    (min/max/nullCount): the commit log answers "which files can hold
    matching rows" before any file opens."""
    parts = manifest["partitions"]
    if not prune:
        return parts
    stats = manifest.get("stats", {})
    out = {}
    for entry, dirname in parts.items():
        e_stats = stats.get(entry, {})
        cols = e_stats.get("cols", {})
        nulls = e_stats.get("nulls", {})
        keep = True
        for c, bound in prune.items():
            if bound == "notnull":
                if nulls.get(c) is not None and nulls[c] == e_stats.get("n"):
                    keep = False
                    break
                continue
            if bound == "null":
                if nulls.get(c) == 0:
                    keep = False
                    break
                continue
            if c not in cols:
                continue
            lo, hi = bound
            cmin, cmax = cols[c]
            if cmin is None or cmax is None:
                continue  # all-NULL stats column: no bound, never skip
            if (hi is not None and cmin > hi) or (lo is not None and cmax < lo):
                keep = False
                break
        if keep:
            out[entry] = dirname
    return out


def _prune_entries(
    spark: SparkSession, manifest: dict, prune: dict | None
) -> dict:
    """Entries of the manifest's partition map a prune spec cannot rule
    out: range/null bounds through the stats (`_stats_prune`), and
    ``("eq", v)`` probes through the stats' degenerate (v, v) range AND
    the Bloom bitmaps (`_bloom_prune`)."""
    base_prune, eq = _split_prune(prune)
    parts = _stats_prune(manifest, base_prune)
    if eq and parts:
        parts = _bloom_prune(spark, manifest, parts, eq)
    return parts


def _read_partition_map(
    spark: SparkSession, table_dir: str, manifest: dict, prune: dict | None = None
) -> DataFrame | None:
    """Materialize a partition-mapped manifest: each entry
    ``"col=value" -> data_dir`` is read from ``table_dir/data_dir/col=value``
    (``"."`` = a pre-migration top-level partition dir) with the partition
    column re-attached as a literal — the same column the original
    ``partitionBy`` write encoded in the dir name — except ``_ONE_COL``,
    the constant column of a table kept as one entry, which no reader
    sees. Catalyst folds a filter
    on that literal per union branch, so partition pruning survives: a
    predicate on the partition column collapses unaffected branches to
    empty relations and their files are never scanned (the erasure
    rewrite's read path depends on exactly this). ``prune`` additionally
    applies manifest-stats data skipping (`_stats_prune`) so entries the
    stats disprove never even enter the plan.

    Every dir reads through the schema its manifest recorded when it
    was written (`_recorded_schema`) — no footer read, no inference.

    Scale shape: entries are grouped by DATA DIR, one multi-path scan
    per generation (basePath = the data dir, so Spark lists exactly the
    mapped partition dirs — the Delta/Iceberg log → file-index read) and
    one union branch per generation, not per partition; one entry over
    generations sharing one recorded schema (a merge-on-read table's
    generations, a partition several commits appended to) reads as ONE
    multi-path scan. Generations stay few (each transaction adds one,
    compaction collapses), so the plan is O(generations) even at lake
    partition counts. The partition column is a STRING on every branch:
    the dir-name discovery takes the supplied string type, so a
    numeric-looking value stays exactly as written ('007', never 7),
    matching the single-entry branch's literal and the manifest keys.
    Generations whose recorded schemas differ (schema evolution) union
    by name; a column an older generation lacks reads as NULL."""
    parts = _prune_entries(spark, manifest, prune)
    if not parts:
        if not manifest["partitions"]:
            return None  # genuinely empty table
        # every partition stats-pruned: an EMPTY relation with the
        # table's full MERGED schema (the unpruned read with its
        # schema-evolving unionByName, folded empty), so callers can
        # still chain filters/selects on columns a later generation
        # added — None means "no table", not "no matching rows". Costs
        # one full plan resolve; fine for the rare all-pruned case.
        full = _read_partition_map(spark, table_dir, manifest, None)
        return full.filter(F.lit(False))
    pcol = manifest["partition_col"]
    by_dir: dict[str, list[str]] = {}
    for entry, dirs in sorted(parts.items()):
        for dirname in _entry_dirs(dirs):
            by_dir.setdefault(dirname, []).append(entry)
    sjs = {d: _recorded_schema(table_dir, manifest, d) for d in by_dir}
    groups = [([d], entries) for d, entries in sorted(by_dir.items())]
    first = next(iter(sjs.values()))
    if len(parts) == 1 and all(sj == first for sj in sjs.values()):
        groups = [(sorted(by_dir), list(parts))]
    out = None
    for dirnames, entries in groups:
        root = os.path.normpath(os.path.join(table_dir, dirnames[0]))
        paths = [
            os.path.join(os.path.normpath(os.path.join(table_dir, d)), e)
            for d in dirnames
            for e in entries
        ]
        schema = T.StructType.fromJson(sjs[dirnames[0]])
        if len(entries) == 1:
            df = spark.read.schema(schema).parquet(*paths)
            if pcol != _ONE_COL:
                df = df.withColumn(pcol, F.lit(entries[0].split("=", 1)[1]))
        else:
            # partition-dir discovery with a user schema: the dir-name
            # column is appended after the data columns, exactly where
            # discovery puts it
            df = (
                spark.read.schema(schema.add(pcol, T.StringType()))
                .option("basePath", root)
                .parquet(*paths)
            )
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def resolve_version_as_of(table_dir: str, as_of: float) -> int | None:
    """Latest committed version whose publish wall-clock is <= ``as_of``
    (epoch seconds) — Delta's TIMESTAMP AS OF resolution. None when the
    table had no commits yet at that time. Manifests record
    ``committed_at`` once at publish (try_commit), so the mapping is
    stable across restores and replays."""
    # newest first: the first match is the latest such version, so a
    # recent ``as_of`` opens a few manifests, not the whole log
    for n in reversed(_manifest_names(table_dir)):
        m = _read_json(os.path.join(table_dir, _COMMITS, n))
        # a manifest with no publish timestamp (pre-feature) has no
        # known place in time, so it can never RESOLVE an as_of —
        # defaulting it to 0 would answer pre-creation instants with
        # current data; None is a manifest a concurrent vacuum dropped
        ts = None if m is None else m.get("committed_at")
        if ts is not None and ts <= as_of:
            return m["version"]
    return None


def _resolve_manifest(
    table_dir: str, version: int | None, as_of: float | None
) -> dict | None:
    """The manifest a read addresses: ``version``, the newest version
    published at or before ``as_of``, or the head — None when there is
    no such commit yet."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = resolve_version_as_of(table_dir, as_of)
        if version is None:
            return None
    if version is None:
        cur = current_commit(table_dir)
        return cur if cur["version"] else None
    return _manifest_at(table_dir, version)


def _read_manifest(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    prune: dict | None = None,
    logical: bool = True,
) -> DataFrame | None:
    """The one read of a committed manifest: every layout's partition
    map, through its tombstones, lifted to the LOGICAL names. ``prune``
    names logical columns; stats and blooms are keyed by the stable
    PHYSICAL names. Time travel is map-correct for free: each version's
    manifest carries the map that was live when it committed."""
    df = _apply_tombstones(
        spark, table_dir, m,
        _read_all_layouts(spark, table_dir, m, _physical_names(prune, m)),
    )
    return _to_logical(df, m) if logical else df


def _read_keyed(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    prune: dict | None = None,
    logical: bool = True,
) -> DataFrame | None:
    """`_read_manifest` for a table whose rows are its state — refused
    for a merge-on-read table, whose generations need `read_keyed_mor`'s
    window."""
    if "mor" in m:
        raise ValueError(
            f"{table_dir} is a merge-on-read keyed table; use read_keyed_mor"
        )
    return _read_manifest(spark, table_dir, m, prune, logical)


def read_keyed_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    prune: dict | None = None,
    as_of: float | None = None,
    _logical: bool = True,
) -> DataFrame | None:
    """Resolve a committed version and read its partition map, or None
    before the first commit. ``version`` time-travels to an older
    snapshot (committed data dirs are immutable and never overwritten,
    so every version stays readable until vacuumed away by a retention
    policy — this repo never deletes committed versions). The head and
    every older version share one read (`_read_manifest`).

    ``prune`` — ``{col: (lo, hi)}`` inclusive bounds, ``{col:
    "notnull"}`` / ``{col: "null"}``, or ``{col: ("eq", value)}`` —
    enables manifest-stats data skipping: partitions whose recorded
    min/max (or null counts) disprove the predicate are dropped before
    any file opens. An ``("eq", value)`` probe additionally consults
    the entry's Bloom bitmap when the table was written with
    ``bloom_cols`` — the high-cardinality equality case range stats
    can't disprove (numeric eq values still get the degenerate (v, v)
    range check too). Pruning is advisory-only (entries without stats
    always read); the caller still applies its real filter, so a pruned
    read composed with that filter is ALWAYS equal to the unpruned
    one.

    ``as_of`` (epoch seconds) is TIMESTAMP AS OF time travel: the read
    resolves to the newest version published at or before that moment
    (None if the table didn't exist yet). Mutually exclusive with
    ``version``."""
    m = _resolve_manifest(table_dir, version, as_of)
    if m is None:
        return None
    return _read_keyed(spark, table_dir, m, prune, _logical)


def _read_all_layouts(
    spark: SparkSession, table_dir: str, manifest: dict, prune: dict | None
) -> DataFrame | None:
    """Current layout unioned with every legacy layout (partition
    evolution): each layout prunes against ITS OWN partition column and
    stats; unionByName(allowMissingColumns) supplies NULL for the new
    partition column in legacy files that never stored it as data."""
    out = None
    for lay in _layouts(manifest):
        part = _read_partition_map(spark, table_dir, lay, prune)
        if part is not None:
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
    return out


def _layouts(manifest: dict) -> list[dict]:
    """The manifest itself (its current layout) followed by every legacy
    layout, each a partition map `_read_partition_map` accepts."""
    out = [manifest]
    for lay in manifest.get("legacy_layouts", []):
        if manifest.get("dir_schemas") and "dir_schemas" not in lay:
            # schemas are keyed by data dir, so the head manifest's map
            # serves the legacy layouts' dirs too (they were recorded
            # when those layouts were current and carried since)
            lay = {**lay, "dir_schemas": manifest["dir_schemas"]}
        out.append(lay)
    return out


def merge_into(
    base: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keyed merge — union + ROW_NUMBER, ONE shuffle on the merge key (the
    join-based MERGE shape takes two). Updates must already be unique per
    key. With order_col=None this is SCD-1 (updates win uncondition-
    ally — correct when the feed is in arrival order). With an order_col,
    the row with the GREATEST order value wins (update wins ties): a
    micro-batch feed is NOT globally time-ordered — a later batch can
    carry an older event for a key, and blind prefer-update would roll
    newer state back. `tiebreak` columns (greatest wins) resolve equal
    order values deterministically; without them the update wins ties."""
    if base is None:
        return updates
    order = [F.col(order_col).desc()] if order_col else []
    order += [F.col(c).desc() for c in tiebreak or []]
    w = Window.partitionBy(*keys).orderBy(*order, "_src")
    return (
        updates.withColumn("_src", F.lit(0))
        .unionByName(base.withColumn("_src", F.lit(1)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def _merge_cond(cond, default: bool) -> "F.Column":
    """A clause condition: SQL string over ``s``/``t`` structs, True
    (unconditional), or None (clause absent → ``default``)."""
    if cond is None:
        return F.lit(default)
    if cond is True:
        return F.lit(True)
    return F.expr(cond)


def _materialize_decision(dec: DataFrame) -> DataFrame:
    """Materialize a DML decision frame ONCE for its 2-4 consumers (the
    action rollup, the stage write, the tombstone keys, the CDC
    images).

    localCheckpoint(eager) instead of the old scratch-parquet round
    trip: identical materialize-once semantics — consumers read stored
    blocks, the plan never re-runs, so even a nondeterministic caller
    SET/condition expression cannot diverge between consumers within an
    attempt — but without the tiny-write job-scheduling floor (~0.4 s
    per write at ANY size locally, PERF.md r14; measured 2.7× on the
    materialize+consume cycle). Storage is MEMORY_AND_DISK on the
    executors: memory pressure SPILLS, never recomputes; an executor
    loss fails the job (lineage is truncated) and the commit retries
    from the CAS base — fail-stop, the right failure mode for commit
    machinery, vs. the silent recompute a plain persist() would risk.
    A SIGKILLed writer also no longer leaks a full-row scratch dir
    inside the table dir (the r12 GDPR sweep concern — block-manager
    state dies with the JVM); vacuum keeps reaping legacy scratch-*
    leftovers from older writers.

    Callers release the blocks with .unpersist() in their finally."""
    return dec.localCheckpoint(eager=True)


def _check_partitioned(table_dir: str, cur: dict) -> None:
    """Refuse an uncommitted or one-entry table where the caller needs a
    real partition column — DML, counts, partition compaction, spec
    evolution, column mapping, tombstones, constraints and clones. A
    one-entry table is written whole by its own writers
    (`committed_transaction`, `append_keyed_mor`), its rows carry no
    ``_ONE_COL`` to group or stage by, and a merge-on-read table's
    window reads its ``mor`` contract's columns by their stored names,
    which a column map or tombstone would silently decouple."""
    if cur["version"] == 0 or cur["partition_col"] == _ONE_COL:
        raise ValueError(f"{table_dir} is not a partitioned committed table")


def _check_spec(table_dir: str, cur: dict, partition_col: str, what: str) -> None:
    """The current SPEC owns the layout: after partition evolution a
    write with the old column would land data under the wrong dir names
    and corrupt the map, and a one-entry table's writers replace its
    entry wholesale."""
    if cur["partition_col"] != partition_col:
        raise ValueError(
            f"{table_dir} is partitioned by {cur['partition_col']!r}; "
            f"{what} supplied {partition_col!r}"
        )


def _check_dml_target(table_dir: str, cur: dict, what: str) -> None:
    """A DML writer needs a committed partitioned table
    (`_check_partitioned`) whose rows all live in the current layout: a
    decision frame computed against it would miss the rows of
    unmigrated legacy layouts."""
    _check_partitioned(table_dir, cur)
    if cur.get("legacy_layouts"):
        raise ValueError(
            f"{table_dir} has unmigrated legacy partition layouts; {what} "
            "computed against the current layout would miss their rows "
            "— run migrate_legacy_layouts first"
        )


def _dml_base(
    spark: SparkSession, table_dir: str, cur: dict, scan_parts: dict
) -> tuple[list[str], dict, DataFrame | None]:
    """``(tcols, ttypes, base)`` for a DML writer: the table's full
    LOGICAL schema (a plan resolve over the whole map, zero jobs) and
    the ``scan_parts`` entries read THROUGH the tombstones (the dv key
    files carry physical names, so the anti-join runs first), lifted
    once to the logical names and cast to ``ttypes``. Columns only
    unscanned generations carry (schema evolution + pruning) pad as
    typed NULLs, so every writer's frame has the full schema. ``base``
    is None when nothing is scanned."""
    full = _to_logical(_read_partition_map(spark, table_dir, cur), cur)
    tcols = list(full.columns)
    ttypes = dict(zip(full.schema.names, [f.dataType for f in full.schema]))
    if not scan_parts:
        return tcols, ttypes, None
    base = _apply_tombstones(
        spark, table_dir, cur,
        _read_partition_map(
            spark, table_dir,
            {
                "partition_col": cur["partition_col"],
                "partitions": scan_parts,
                "dir_schemas": cur.get("dir_schemas") or {},
            },
        ),
    )
    cmap = _column_map(cur)
    have = set(base.columns)  # PHYSICAL names on disk
    return tcols, ttypes, base.select(
        *[
            (
                F.col(cmap.get(c, c))
                if cmap.get(c, c) in have
                else F.lit(None)
            ).cast(ttypes[c]).alias(c)
            for c in tcols
        ]
    )


def _dv_key_frame(
    spark: SparkSession, table_dir: str, cur: dict, keys: list[str]
) -> DataFrame:
    """The manifest's tombstoned keys, distinct, under the LOGICAL names
    ``keys`` (dv files carry the physical names), read through the
    recorded schema — no footer reads."""
    return (
        _read_dirs(spark, table_dir, cur, cur["dv"])
        .select(*[F.col(pk).alias(k) for k, pk in zip(keys, _dv_keys(cur))])
        .distinct()
    )


def _dml_result(
    table_dir: str, m: dict | None, res: dict, fields: tuple
) -> dict:
    """A DML writer's answer ``{"version", *fields}``: the published
    version with its counts, the head with a no-op's counts, or — a
    replayed ``batch_id`` — the head with zero counts and
    ``"replayed": True``."""
    if m is not None:
        return {"version": m["version"], **{f: res["counts"][f] for f in fields}}
    if "noop" in res:
        noop = res["noop"]
        return {"version": noop["version"], **{f: noop.get(f, 0) for f in fields}}
    return {
        "version": current_commit(table_dir)["version"],
        **dict.fromkeys(fields, 0), "replayed": True,
    }


def _key_bounds(df: DataFrame, keys: list[str], pkeys: list[str]) -> dict:
    """``{physical key: (min, max)}`` of ``df``'s key columns — the
    stats-prune spec of the key rows a DML touches, from ONE 1-row
    bounds job (the sanctioned scalar shape). A column with no
    non-NULL value is left out (no bound)."""
    b = df.agg(
        *[F.min(k).alias(f"_lo{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"_hi{i}") for i, k in enumerate(keys)],
    ).collect()[0]
    return {
        pk: (b[f"_lo{i}"], b[f"_hi{i}"])
        for i, pk in enumerate(pkeys)
        if b[f"_lo{i}"] is not None
    }


def _dml_commit(
    spark: SparkSession,
    table_dir: str,
    cur: dict,
    new_stage,
    op: str,
    dec: DataFrame,
    res: dict,
    *,
    scan_parts: dict,
    stats_cols: list[str] | None,
    change_data: bool,
    keys=(),
) -> dict | None:
    """The one DML commit path: MERGE, UPDATE and DELETE each build only
    a decision frame ``dec`` — the LOGICAL table columns (final values),
    ``_action`` (carry / update / delete / insert), ``_t_part`` (the
    target row's partition; NULL for inserts) and, when it can hold
    updates, ``_pre`` (their before-image struct) — and this commits
    it: action rollup → rewrite / extend / tombstone partition sets
    (`merge_into_table`'s scale shape) → stage → CHECK constraints →
    deletion vectors → CDC sidecar → a manifest tagged ``op``.
    ``scan_parts`` are the entries the frame scanned, ``keys`` the
    merge keys — empty for the predicate writers, whose deletes no key
    addresses, so their partitions rewrite instead of tombstoning.
    Returns the manifest, or None when every row carried
    (``res["noop"]``); ``res["counts"]`` holds the committed counts."""
    cmap = _column_map(cur)
    pkeys = [cmap.get(k, k) for k in keys]
    pcol = cur["partition_col"]
    prefix = f"{pcol}="
    scanned_vals = {e.split("=", 1)[1] for e in scan_parts}
    tcols = [c for c in dec.columns if c not in ("_action", "_t_part", "_pre")]
    ttypes = {f.name: f.dataType for f in dec.schema}
    # columns with a before-image: a frame without update rows has none
    pre_have = (
        set(dec.schema["_pre"].dataType.names) if "_pre" in dec.columns else set()
    )
    stage = new_stage()
    stage_path = os.path.join(table_dir, stage)
    dv_stage = None
    cdc_stage = None
    try:
        dec = _materialize_decision(dec)

        # per-partition action rollup — bounded by the partition
        # domain (the repo's sanctioned bounded-collect shape)
        null_key = F.lit(not keys)
        for k in keys:
            null_key = null_key | F.col(k).isNull()
        rollup = (
            dec.groupBy(
                "_action", "_t_part", F.col(pcol).alias("_p"),
                null_key.alias("_kn"),
            )
            .count()
            .collect()
        )
        upd_in, ins_in, del_in, moved_out = set(), set(), set(), set()
        null_del = set()  # partitions with key-less delete rows
        n_upd = n_del = n_ins = n_carry = 0
        for r in rollup:
            if r._action == "carry":
                n_carry += r["count"]
            elif r._action == "update":
                n_upd += r["count"]
                upd_in.add(r._p)
                if r._p != r._t_part:
                    moved_out.add(r._t_part)
            elif r._action == "delete":
                n_del += r["count"]
                del_in.add(r._t_part)
                if r._kn:
                    # no key (a predicate writer) or a NULL merge key
                    # cannot be expressed as a key tombstone: the
                    # read-side anti-join on NULL matches nothing, so
                    # the "deleted" row would silently survive (and
                    # poison the dv key files for the typed stream
                    # reader) — force the partition to rewrite instead
                    # (ADVICE r10)
                    null_del.add(r._t_part)
            else:
                n_ins += r["count"]
                ins_in.add(r._p)
        # Inserts do NOT force a rewrite by themselves (VERDICT r10
        # #3 — Delta appends new files for pure inserts): a scanned
        # partition whose only change is arrivals of NEW keys takes
        # a generation append below (extend_vals), O(new rows)
        # instead of O(partition). Only in-place updates, moves,
        # and (non-tombstonable) deletes rewrite.
        rewrite_vals = {v for v in upd_in if v in scanned_vals} | moved_out
        if cur.get("dv") and n_ins:
            # re-inserting a tombstoned key clears it from the DV
            # (consolidation below) — which would RESURRECT the
            # key's stale physical rows in their old partitions.
            # Those partitions must be rewritten (purged) in this
            # same commit: their staged content is the tombstone-
            # filtered base read, so the stale rows drop out. They
            # are necessarily in the scan set (a re-inserted key is
            # a source key, and pruning kept every partition whose
            # stats can hold one); one extra bounds job, only on
            # the dv-and-inserts path. (Found by the CDC-apply
            # replica≠head pin, r10.)
            reins = (
                dec.filter(F.col("_action") == "insert")
                .select(*keys)
                .join(
                    _dv_key_frame(spark, table_dir, cur, keys),
                    on=keys,
                    how="left_semi",
                )
            )
            bounds = _key_bounds(reins, keys, pkeys)
            if bounds:
                stale = _stats_prune(
                    {
                        "partitions": dict(scan_parts),
                        "stats": cur.get("stats", {}),
                    },
                    bounds,
                )
                rewrite_vals |= {
                    e.split("=", 1)[1] for e in stale
                }
        rewrite_vals |= null_del & del_in
        cand = del_in - rewrite_vals
        if cand:
            # the DV path is sound only for WHOLE-KEY deletes: a key
            # with duplicate target rows and a row-divergent delete
            # condition (one row deletes here, another carries or
            # updates elsewhere) must NOT be tombstoned — the
            # key-wide tombstone would hide the surviving row
            # everywhere (ADVICE r10 high). One bounded aggregation
            # over the decision frame (guarded: only merges with
            # tombstone-candidate partitions pay it); the output is
            # the mixed keys' delete partitions — partition-domain
            # bounded, the sanctioned collect shape.
            keyed_rows = F.lit(True)
            for k in keys:
                keyed_rows = keyed_rows & F.col(k).isNotNull()
            mixed = (
                dec.filter((F.col("_action") != "insert") & keyed_rows)
                .groupBy(*keys)
                .agg(
                    F.collect_set(
                        F.when(
                            F.col("_action") == "delete",
                            F.col("_t_part"),
                        )
                    ).alias("_dp"),
                    F.max(
                        (F.col("_action") != "delete").cast("int")
                    ).alias("_live"),
                )
                .filter((F.size("_dp") > 0) & (F.col("_live") == 1))
                .select(F.explode("_dp").alias("_p"))
                .distinct()
                .collect()
            )
            rewrite_vals |= {r._p for r in mixed} & cand
        # extend = generation append: unscanned arrival partitions
        # (whole partition absent from the base read) AND scanned
        # insert-only partitions (their carried rows stay in the old
        # generations; only the _act == "insert" rows are staged)
        extend_vals = (upd_in | ins_in) - scanned_vals - rewrite_vals
        extend_vals |= (ins_in & scanned_vals) - rewrite_vals
        tomb_vals = del_in - rewrite_vals  # delete-only: DV, not rewrite

        write_vals = sorted(rewrite_vals | extend_vals)
        written: set[str] = set()
        if write_vals:
            # per-partition staging mode: rewrites stage every
            # surviving row; extended entries stage ONLY the rows
            # this commit created there (inserts, moved-in updates) —
            # their carried rows live on in the prior generations.
            # The value sets are driver-known literals, so they fold
            # into the plan as isin predicates — the old tiny
            # createDataFrame + broadcast join cost a
            # defaultParallelism-task collect job per merge for rows
            # the driver already held (guide §1; same class as the
            # r14 VALUES bloom-probe rewrite).
            _rw = (
                F.col(pcol).isin(sorted(rewrite_vals))
                if rewrite_vals
                else F.lit(False)
            )
            stage_rows = (
                dec.filter(F.col("_action") != "delete")
                .filter(F.col(pcol).isin(write_vals))
                .filter(
                    _rw
                    | F.col("_action").isin("insert", "update")
                )
                # back to the stable PHYSICAL names for the staged
                # files (evolved source-only columns map to
                # themselves); a rewritten partition physically sheds
                # dropped columns' data (state-identical)
                .select(
                    *[F.col(c).alias(cmap.get(c, c)) for c in tcols]
                )
            )
            _distribute_for_partitioned_write(
                stage_rows, pcol, nvals=len(write_vals)
            ).write.mode("overwrite").partitionBy(pcol).parquet(
                stage_path
            )
            written = {
                n for n in os.listdir(stage_path) if n.startswith(prefix)
            }
            _check_entry_values(written)
            if cur.get("constraints") and written and (n_upd or n_ins):
                # only new values can break a CHECK: the survivors of
                # deletes are committed rows, and row-level CHECKs
                # hold on any subset of them
                _enforce_constraints(
                    _read_stage(
                        spark, table_dir, pcol, stage, written,
                        _file_schema_json(stage_rows.schema, drop=pcol),
                    ),
                    cur["constraints"],
                    manifest=cur,
                )

        # ---- deletion-vector bookkeeping ----
        new_dv = cur.get("dv", [])
        dv_key = cur.get("dv_key")
        if tomb_vals or (new_dv and n_ins):
            # dv files carry the PHYSICAL key names (the whole
            # read/typed-feed side addresses them that way); the
            # consolidation joins run in logical names and the
            # final write aliases back
            dv_key = _dv_key_field(pkeys)
            tomb_df = None
            if tomb_vals:
                # driver-known literal set: isin folds into the
                # plan (the semi join against a tiny createDataFrame
                # paid a defaultParallelism-task collect per merge)
                tomb_df = (
                    dec.filter(F.col("_action") == "delete")
                    .filter(F.col("_t_part").isin(sorted(tomb_vals)))
                    .select(*keys)
                )
            if new_dv and n_ins:
                # consolidate: re-inserted keys must leave the DV or
                # the old tombstone hides the new row
                ins_keys = (
                    dec.filter(F.col("_action") == "insert")
                    .select(*keys)
                    .distinct()
                )
                kept = _dv_key_frame(spark, table_dir, cur, keys).join(
                    ins_keys, on=keys, how="left_anti"
                )
                tomb_df = (
                    kept
                    if tomb_df is None
                    else kept.unionByName(tomb_df)
                )
                new_dv = []
            dv_stage = new_stage()
            dvf = tomb_df.distinct().select(
                *[F.col(k).alias(pk) for k, pk in zip(keys, pkeys)]
            )
            dvf.write.mode("overwrite").parquet(
                os.path.join(table_dir, dv_stage)
            )
            new_dv = new_dv + [dv_stage]

        # ---- manifest ----
        new_parts = dict(cur["partitions"])
        for v in rewrite_vals:
            new_parts.pop(f"{prefix}{v}", None)
        extended = {
            e for e in written
            if e.split("=", 1)[1] in extend_vals and e in cur["partitions"]
        }
        for e in written:
            new_parts[e] = (
                _entry_dirs(cur["partitions"][e]) + [stage]
                if e in extended
                else stage
            )
        # rewritten and new entries record footer stats (staged files
        # carry PHYSICAL names) and no blooms; extended entries get no
        # fresh values, so they drop both — compaction re-establishes
        new_stats, new_bloom = _skipping_successor(
            cur, new_parts, written, extended,
            _collect_stage_stats(
                stage_path, written - extended,
                _physical_names(stats_cols, cur),
            ) if stats_cols and written else {},
            {},
        )
        if not write_vals and not dv_stage:
            # nothing changed (every row carried): Delta skips
            # empty commits; so do we
            if n_upd or n_del or n_ins:
                raise AssertionError("actions counted but nothing staged")
            res["noop"] = {"version": cur["version"], "carried": n_carry}
            return None

        # ---- CDC sidecar (Delta's _change_data files) ----
        # The decision frame knows every row-level action, so the
        # commit records its EXACT images: update rows as
        # update_preimage/update_postimage PAIRS (keyed by
        # construction — same dec row), deletes as their before
        # image, inserts as their after image, carried rows absent
        # (Delta's dataChange discipline). The typed change feed
        # (batch and stream) then reads this O(changed rows) dir
        # instead of reconstructing pair images from map diffs —
        # VERDICT r10 #1 / ADVICE r09 #5 second half. One
        # change-sized write per commit; `change_data=False` skips it
        # and consumers fall back to the pair reconstruction.
        if change_data:
            pre_fields, cur_fields, _img = _cdc_image_parts(
                tcols, ttypes, pre_have
            )
            cdc_rows = (
                dec.filter(F.col("_action") != "carry")
                .select(
                    F.explode(
                        F.when(
                            F.col("_action") == "update",
                            F.array(
                                _img(pre_fields, "update_preimage"),
                                _img(cur_fields, "update_postimage"),
                            ),
                        )
                        .when(
                            F.col("_action") == "delete",
                            F.array(_img(cur_fields, "delete")),
                        )
                        .otherwise(
                            F.array(_img(cur_fields, "insert"))
                        )
                    ).alias("_c")
                )
                .select("_c.*")
                # the sidecar stores PHYSICAL names so the feeds' one
                # end-projection is uniform across the DML triad
                .select(
                    *[F.col(c).alias(cmap.get(c, c)) for c in tcols],
                    F.col("_change_type"),
                )
            )
            cdc_stage = new_stage("cdc")
            cdc_rows.write.mode("overwrite").parquet(
                os.path.join(table_dir, cdc_stage)
            )
        res["counts"] = {
            "updated": n_upd, "deleted": n_del, "inserted": n_ins,
            "carried": n_carry,
        }
        return _next_manifest(
            cur, op,
            # a delete-only merge stages no data files: anchor the
            # manifest on the DV stage instead (tombstone_keys' shape)
            stage if write_vals else dv_stage,
            partition_col=pcol,
            partitions=new_parts,
            stats=new_stats,
            bloom=new_bloom,
            dv=new_dv,
            dv_key=dv_key,
            cdc=cdc_stage,
            dir_schemas={
                stage: (
                    _file_schema_json(stage_rows.schema, drop=pcol)
                    if written
                    else None
                ),
                dv_stage: (
                    _file_schema_json(dvf.schema) if dv_stage else None
                ),
                cdc_stage: (
                    _file_schema_json(cdc_rows.schema)
                    if cdc_stage
                    else None
                ),
            },
        )
    finally:
        dec.unpersist()


def merge_into_table(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_update_condition: str | None = None,
    when_matched_delete: str | bool | None = None,
    when_not_matched_insert: bool | dict[str, str] = False,
    when_not_matched_insert_condition: str | None = None,
    when_not_matched_by_source_update: dict[str, str] | None = None,
    when_not_matched_by_source_update_condition: str | None = None,
    when_not_matched_by_source_delete: str | bool | None = None,
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
    evolve_schema: bool = False,
    when_matched: list | None = None,
    when_not_matched_by_source: list | None = None,
    change_data: bool = True,
) -> dict:
    """Conditional multi-clause MERGE INTO on a partition-mapped table —
    Delta's full MERGE surface as ONE commit on the CAS log (VERDICT
    r09 #1; the reference's INSERT OR IGNORE upsert, nshmdb.py:263-266,
    generalized to every clause a CDC-consuming warehouse needs):

    * ``WHEN MATCHED [AND cond] THEN UPDATE SET {col: expr}`` —
      evaluated FIRST for matched rows (Delta's clause order; an
      unconditional update shadows the delete clause);
    * ``WHEN MATCHED [AND cond] THEN DELETE``;
    * ``WHEN NOT MATCHED [AND cond] THEN INSERT`` — True inserts the
      source's columns by name (missing target columns NULL), a dict
      computes each target column;
    * ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE / DELETE``.

    Conditions and SET/INSERT expressions are SQL over two struct
    columns: ``s`` (the source row; NULL when not matched) and ``t``
    (the target row; NULL for inserts) — e.g. ``"s.v > t.v"``,
    ``{"v": "s.v + t.v"}``. A matched row satisfying no clause carries
    unchanged. A target row matched by MULTIPLE source rows raises
    (Delta's ambiguous-merge error); multiple UNMATCHED source rows
    with the same key each insert. NULL join keys never match (SQL
    equality), exactly like the join-based MERGE.

    Execution is the repo's ONE-SHUFFLE union+window shape, not the
    2-shuffle join MERGE: both sides shuffle once on the merge keys,
    each key-group sees the other side via a window max/count, and
    every clause evaluates in that single pass. The decision frame is
    materialized once (_materialize_decision: eager localCheckpoint),
    then three cheap consumers (a per-partition action rollup — bounded
    by the partition domain — the stage write, and the tombstone keys)
    read the stored blocks without recomputing the window.

    Scale shape (the Delta MERGE cost model at partition granularity):

    * partitions whose manifest stats DISPROVE every source key are
      never scanned (no ``BY SOURCE`` clause ⇒ touched-partition
      pruning via the source keys' min/max — one tiny job); when the
      source's distinct key set is small and the table carries Bloom
      bitmaps on the keys, each partition is additionally probed PER
      KEY, so scattered CDC keys spanning the whole range still prune
      (VERDICT r10 stretch #7);
    * scanned partitions whose rows all carry are NOT rewritten —
      their mapping, stats, and blooms carry forward untouched;
    * a partition whose ONLY change is whole-key deletes is tombstoned
      (O(deleted keys), the deletion-vector trade) instead of
      rewritten — composite merge keys included (the dv file carries
      key tuples, VERDICT r10 #2);
    * inserts append a generation to their entry (O(new rows)), never
      rewrite it — whether the partition was scanned or not (VERDICT
      r10 #3: a single new key landing in a large otherwise-unchanged
      partition stages only the new rows, Delta's pure-insert append);
      partition-moving updates landing in UNSCANNED partitions extend
      the same way;
    * only partitions with in-place updates / arrivals into scanned
      partitions / departures are rewritten. ``BY SOURCE`` clauses
      force a full scan — disclosed, same as Delta.

    Tombstone/DV integration: the base is read THROUGH the current
    tombstones (a hidden key is NOT MATCHED, so the insert clause can
    resurrect it), and a merge that inserts while tombstones exist
    consolidates the DV list minus the re-inserted keys — otherwise
    the old tombstone would hide the new row. Partitions that may
    still hold a re-inserted key's STALE physical rows are rewritten
    (purged) in the same commit, so clearing the tombstone can never
    resurrect them. Requires the table's ``dv_key`` columns to equal
    the merge keys (raises otherwise; composite keys are first-class —
    the dv files carry key tuples).

    Commits tag ``op: "merge"``. Concurrency: the merge itself re-runs
    on CAS conflict (its output depends on the base, so its stage
    cannot rebase), but concurrent APPENDS rebase over a published
    merge exactly as over an append when their entries are disjoint
    and the merge left tombstones unchanged (`_rebase_conflict`); an
    append INTO a merged entry conflicts and re-runs. Rewritten
    entries' stats are REPLACED from the stage's parquet footers
    (``stats_cols``); extended entries drop stats/blooms (stat-less =
    never pruned = safe; compaction re-establishes them), and
    rewritten entries drop blooms the same way.

    ``when_matched`` / ``when_not_matched_by_source`` accept Delta's
    GENERAL ordered clause-list form — any number of conditional
    clauses, first satisfied clause wins:
    ``when_matched=[("update", "s.v > t.v", {"v": "s.v"}),
    ("update", None, {"n": "t.n + 1"}), ("delete", "t.stale")]``.
    The keyword pair (update-then-delete) is sugar for the two-clause
    list; passing both forms for one family raises.

    ``change_data=True`` (default) writes Delta's _change_data sidecar:
    a ``cdc-*`` dir recording the merge's EXACT row-level images —
    updates as ``update_preimage``/``update_postimage`` pairs, deletes
    as before-images, inserts as after-images, carried rows absent —
    which `read_table_changes_typed` and the ``changeTypes`` streaming
    source read directly (O(changed rows), no diff-base
    reconstruction; VERDICT r10 #1). ``change_data=False`` skips the
    sidecar write and consumers fall back to map-diff pair images.

    ``evolve_schema=True`` is Delta's MERGE schema auto-merge: columns
    present only in the source join the target schema — SET/INSERT
    expressions may assign them, carried and by-source rows surface
    them as NULL, and only the files this merge writes carry the new
    columns (older generations, whose recorded schemas lack them, read
    them as NULL through `_read_partition_map`'s by-name union).
    Without it, source-only columns are simply not part of the output
    (the SET/INSERT expressions can still READ them via ``s.<col>``).

    On a column-mapped table (RENAME/DROP COLUMN history, r13 —
    VERDICT r12 #1) everything the caller writes is the LOGICAL
    schema — merge keys, clause conditions and SET/INSERT expressions
    (``s.col``/``t.col``), ``stats_cols``, the source's columns — and
    the decision frame runs on the logical view exactly like
    UPDATE/DELETE; the staged files, CDC sidecar, and dv key files
    keep the stable PHYSICAL names, and ``evolve_schema=True``
    source-only columns join the map as identity entries (their names
    may not collide with dropped or other columns' physical names —
    rename_column's own rules).

    Returns ``{"version", "updated", "deleted", "inserted",
    "carried"}`` (Delta's operationMetrics)."""
    if isinstance(when_not_matched_insert, dict) and not when_not_matched_insert:
        # {} is truthy-adjacent enough to read as "insert with defaults"
        # but would stage all-NULL rows that only fail much later via
        # the opaque NULL-partition-column raise_error (ADVICE r10)
        raise ValueError(
            "when_not_matched_insert={} inserts all-NULL rows; pass True "
            "(insert source columns by name) or a non-empty {col: expr} map"
        )
    has_insert = bool(when_not_matched_insert) or isinstance(
        when_not_matched_insert, dict
    )
    if when_matched_update_condition is not None and when_matched_update is None:
        raise ValueError("when_matched_update_condition without its clause")
    if (
        when_not_matched_insert_condition is not None
        and not when_not_matched_insert
    ):
        raise ValueError("when_not_matched_insert_condition without its clause")
    if not keys:
        raise ValueError("merge keys must be non-empty")
    for k in keys:
        if k in ("s", "t", "_side"):
            raise ValueError(f"merge key {k!r} collides with merge internals")
    def _norm_clauses(name, lst, upd_map, upd_cond, del_clause):
        """Normalize to an ORDERED [(kind, cond_or_None, map_or_None)]
        list — either the explicit clause list (Delta's general form,
        any number of conditional clauses, first match wins) or the
        two-clause keyword sugar (update first, then delete)."""
        if lst is not None:
            if (
                upd_map is not None
                or upd_cond is not None
                or del_clause is not None
            ):
                raise ValueError(
                    f"pass {name} OR its keyword sugar, not both"
                )
            if isinstance(lst, tuple) and lst and isinstance(lst[0], str):
                # the easy API mistake: a bare clause tuple instead of
                # a list of tuples — iterating it would produce the
                # misleading "unknown clause kind 'u'" (r10 sweep)
                lst = [lst]
            out = []
            for cl in lst:
                if not isinstance(cl, (tuple, list)) or not cl:
                    raise ValueError(
                        f"{name} must be a list of ('update', cond, "
                        "{col: expr}) / ('delete', cond) tuples"
                    )
                kind = cl[0]
                if kind == "update":
                    if len(cl) != 3 or not isinstance(cl[2], dict):
                        raise ValueError(
                            f"{name} update clause must be "
                            "('update', cond, {col: expr})"
                        )
                    cond = cl[1]
                elif kind == "delete":
                    if len(cl) != 2:
                        raise ValueError(
                            f"{name} delete clause must be ('delete', cond)"
                        )
                    cond = cl[1]
                else:
                    raise ValueError(f"unknown {name} clause kind {kind!r}")
                if cond is not None and cond is not True and not isinstance(
                    cond, str
                ):
                    raise ValueError(
                        f"{name} clause condition must be None, True, or "
                        "a SQL string"
                    )
                out.append(
                    (
                        kind,
                        None if cond is True else cond,
                        cl[2] if kind == "update" else None,
                    )
                )
            return out
        if del_clause is not None and del_clause is not True and not isinstance(
            del_clause, str
        ):
            raise ValueError(
                f"{name} delete sugar must be None, True, or a condition "
                "SQL string"
            )
        out = []
        if upd_map is not None:
            out.append(("update", upd_cond, upd_map))
        if del_clause is not None:
            out.append(
                ("delete", None if del_clause is True else del_clause, None)
            )
        return out

    m_clauses = _norm_clauses(
        "when_matched", when_matched, when_matched_update,
        when_matched_update_condition, when_matched_delete,
    )
    b_clauses = _norm_clauses(
        "when_not_matched_by_source", when_not_matched_by_source,
        when_not_matched_by_source_update,
        when_not_matched_by_source_update_condition,
        when_not_matched_by_source_delete,
    )
    has_matched = bool(m_clauses)
    by_source = bool(b_clauses)
    if not (has_matched or has_insert or by_source):
        raise ValueError("merge_into_table needs at least one clause")

    res: dict = {}  # the no-commit answer, or the committed counts

    def attempt(cur, new_stage):
        if cur["version"] == 0:
            raise ValueError(
                f"{table_dir} has no commits; a merge into an empty table "
                "is an append — use append_partition_transaction"
            )
        _check_dml_target(table_dir, cur, "a merge")
        # column mapping (r13 — the VERDICT r12 #1 lift): like
        # UPDATE/DELETE, the whole decision frame runs in LOGICAL
        # names — keys, clause expressions (``s.col``/``t.col``), the
        # insert map, stats_cols, the source's columns — and translates
        # to the stable PHYSICAL names exactly three times: stats/bloom
        # pruning lookups, the staged files, and the on-disk sidecars
        # (CDC images + dv key files). The reference's J13 upsert
        # (nshmdb.py:263-266) is the degenerate MERGE and must survive
        # a rename without a rewrite.
        cmap = _column_map(cur)
        pkeys = [cmap.get(k, k) for k in keys]
        if cur.get("dv") and _dv_keys(cur) != pkeys:
            raise ValueError(
                f"{table_dir} tombstones key {cur.get('dv_key')!r}; a merge "
                f"on {keys!r} (physical {pkeys!r}) cannot maintain the "
                "deletion vectors — materialize_tombstones first"
            )
        pcol = cur["partition_col"]

        # ---- touched-partition pruning (no BY SOURCE clause only) ----
        scan_parts = cur["partitions"]
        if not by_source and cur.get("stats"):
            scan_parts = _stats_prune(cur, _key_bounds(source, keys, pkeys))
        if (
            not by_source
            and scan_parts
            and any(
                c in specs
                for specs in cur.get("bloom", {}).values()
                for c in pkeys
            )
        ):
            # bloom-probe refinement (VERDICT r10 stretch #7): one
            # global min/max range degrades to nothing when the source
            # keys are SCATTERED (the CDC-batch case — a handful of
            # keys spanning the table's whole range). When the source's
            # distinct key set is small (<= _MERGE_BLOOM_PROBE_CAP, one
            # limit-bounded job), each key row is one probe: a partition
            # survives only if SOME source key may be present in it.
            ks = (
                source.select(*keys)
                .distinct()
                .limit(_MERGE_BLOOM_PROBE_CAP + 1)
                .collect()
            )
            if len(ks) <= _MERGE_BLOOM_PROBE_CAP:
                scan_parts = _bloom_prune(
                    spark, cur, scan_parts,
                    *[dict(zip(pkeys, row)) for row in ks],
                )

        # target LOGICAL schema and the scanned base (`_dml_base`) — on
        # a mapped table the merge surface is the logical view
        # throughout
        tcols, ttypes, base = _dml_base(spark, table_dir, cur, scan_parts)
        base_cols = set(tcols)
        if evolve_schema:
            # Delta's schema auto-merge: source-only columns join the
            # target schema. Only the rewritten/extended files carry
            # them; older generations read them as NULL through the
            # by-name union of their recorded schemas.
            src_types = dict(
                zip(source.schema.names, [f.dataType for f in source.schema])
            )
            for c in source.columns:
                if c not in base_cols:
                    # joining a mapped table's schema: the new column
                    # maps to itself, so its name must not collide with
                    # retained dropped data or another column's stable
                    # physical name (rename_column's own rules)
                    if c in _dropped_physical(cur):
                        raise ValueError(
                            f"evolved column {c!r} was dropped from this "
                            "table (metadata-only); its physical data "
                            "still exists — pick a different name"
                        )
                    if c in set(cmap.values()):
                        raise ValueError(
                            f"evolved column {c!r} is another column's "
                            "physical name; pick a name not in the "
                            "physical schema"
                        )
                    tcols.append(c)
                    ttypes[c] = src_types[c]
        for k in keys:
            if k not in tcols:
                raise ValueError(f"merge key {k!r} not a target column")
            if k not in source.columns:
                raise ValueError(f"merge key {k!r} not a source column")

        # ---- the one-shuffle decision pass ----
        s2 = source.select(
            *keys, F.lit("s").alias("_side"),
            F.struct(*[F.col(c) for c in source.columns]).alias("s"),
        )
        if base is not None:
            t2 = base.select(
                *keys, F.lit("t").alias("_side"),
                F.struct(*base.columns).alias("t"),
            )
            u = t2.unionByName(s2, allowMissingColumns=True)
        else:
            u = s2.withColumn(
                "t",
                F.lit(None).cast(
                    T.StructType(
                        [
                            T.StructField(c, ttypes[c])
                            for c in tcols
                            if c in base_cols
                        ]
                    )
                ),
            )
        w = Window.partitionBy(*keys)
        keyed = F.lit(True)
        for k in keys:
            keyed = keyed & F.col(k).isNotNull()
        u = (
            u.withColumn("_s_cnt", F.count("s").over(w))
            .withColumn("_t_cnt", F.count("t").over(w))
            .withColumn("_s_any", F.max("s").over(w))
            .withColumn(
                "s",
                F.when(F.col("_side") == "t", F.col("_s_any")).otherwise(
                    F.col("s")
                ),
            )
            .withColumn("_keyed", keyed)
        )
        matched = F.col("_keyed") & (F.col("_s_cnt") == 1)
        unmatched_t = ~F.col("_keyed") | (F.col("_s_cnt") == 0)
        dup = F.col("_keyed") & (F.col("_s_cnt") > 1)
        # ordered clause evaluation — the FIRST satisfied clause wins,
        # Delta's rule; update clauses get positional labels so each
        # keeps its own SET map
        t_branch = F.when(
            dup,
            F.raise_error(
                F.concat(
                    F.lit("MERGE: multiple source rows match target key ("),
                    F.concat_ws(
                        ",", *[F.col(k).cast("string") for k in keys]
                    ),
                    F.lit(")"),
                )
            ).cast("string"),
        )
        update_labels: list[str] = []
        for i, (kind, cond, _mp) in enumerate(m_clauses):
            label = "delete" if kind == "delete" else f"u{i}"
            if kind == "update":
                update_labels.append(label)
            t_branch = t_branch.when(
                matched & _merge_cond(cond, True), F.lit(label)
            )
        for i, (kind, cond, _mp) in enumerate(b_clauses):
            label = "delete" if kind == "delete" else f"b{i}"
            if kind == "update":
                update_labels.append(label)
            t_branch = t_branch.when(
                unmatched_t & _merge_cond(cond, True), F.lit(label)
            )
        act = F.when(
            F.col("_side") == "t", t_branch.otherwise(F.lit("carry"))
        ).otherwise(
            F.when(
                ((F.col("_t_cnt") == 0) | ~F.col("_keyed"))
                & F.lit(has_insert)
                & _merge_cond(when_not_matched_insert_condition, True),
                F.lit("insert"),
            ).otherwise(F.lit("drop"))
        )
        dec = u.withColumn("_act", act).filter(F.col("_act") != "drop")

        ins_map = (
            when_not_matched_insert
            if isinstance(when_not_matched_insert, dict)
            else {c: f"s.{c}" for c in tcols if c in source.columns}
        )
        def t_val(c: str):
            # carry value: an evolved (source-only) column has no t
            # field — older rows carry NULL, parquet evolution's rule
            return (
                F.expr(f"t.{c}")
                if c in base_cols
                else F.lit(None).cast(ttypes[c])
            )

        def clause_val(mapping: dict | None, c: str):
            m_ = mapping or {}
            return F.expr(m_[c]) if c in m_ else t_val(c)

        out_cols = []
        for c in tcols:
            col = F.when(
                F.col("_act") == "insert",
                F.expr(ins_map[c])
                if c in ins_map
                else F.lit(None).cast(ttypes[c]),
            )
            for i, (kind, _cond, mapping) in enumerate(m_clauses):
                if kind == "update":
                    col = col.when(
                        F.col("_act") == f"u{i}", clause_val(mapping, c)
                    )
            for i, (kind, _cond, mapping) in enumerate(b_clauses):
                if kind == "update":
                    col = col.when(
                        F.col("_act") == f"b{i}", clause_val(mapping, c)
                    )
            col = col.otherwise(t_val(c)).cast(ttypes[c])
            if c == pcol:
                # updates can also null the partition column (r10
                # review #5): without the guard the NULL leaks into the
                # rollup and fails later with an opaque sorted() error
                col = F.when(
                    (F.col("_act") != "carry")
                    & (F.col("_act") != "delete")
                    & col.isNull(),
                    F.raise_error(
                        F.lit(
                            f"MERGE: merged row has NULL partition "
                            f"column {pcol!r}"
                        )
                    ).cast("string"),
                ).otherwise(col).cast("string")
            out_cols.append(col.alias(c))
        is_update = F.col("_act").isin(*update_labels)
        dec = dec.select(
            *out_cols,
            F.when(is_update, F.lit("update"))
            .otherwise(F.col("_act"))
            .alias("_action"),
            F.expr(f"t.{pcol}").cast("string").alias("_t_part"),
            # pre-image carrier for the CDC sidecar: update rows keep
            # their full BEFORE struct (NULL for everything else, so
            # the materialized frame stays change-sized on that column)
            F.when(is_update, F.col("t")).alias("_pre"),
        )
        return _dml_commit(
            spark, table_dir, cur, new_stage, "merge", dec, res,
            scan_parts=scan_parts, stats_cols=stats_cols,
            change_data=change_data, keys=keys,
        )

    m = transact(table_dir, attempt, batch_id=batch_id)
    return _dml_result(
        table_dir, m, res, ("updated", "deleted", "inserted", "carried")
    )


def update_table(
    spark: SparkSession,
    table_dir: str,
    set_exprs: dict[str, str],
    where: str | None = None,
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
    prune: dict | None = None,
    change_data: bool = True,
) -> dict:
    """Standalone UPDATE ... SET ... WHERE on a partition-mapped table —
    the third leg of the DML triad (Delta's UPDATE; DELETE is
    `delete_table` (predicate, COW) / `tombstone_keys` (key, MOR),
    upsert is `merge_into_table`). No key or source required: ``where``
    is a SQL
    predicate over the row (NULL = not matched, Delta's rule),
    ``set_exprs`` maps columns to SQL expressions evaluated over the
    OLD row (``{"v": "v * 2", "flag": "'hot'"}``).

    Partition economics are the DML triad's one rule (`_dml_commit`):
    only partitions holding a matched row (or receiving a moved one)
    rewrite; a partition-moving update rewrites the departure side and EXTENDS unscanned arrival
    partitions with just the moved rows; everything else carries
    byte-identical. ``prune`` is the advisory manifest-stats hint
    (``{col: (lo, hi)}`` etc. — same spec as `read_keyed_table`):
    entries it skips are never scanned, so it must PROVE no row there
    matches ``where`` (the caller's contract, exactly like a pruned
    read composed with its own filter). Without it the decision pass
    scans the table once — Delta's own default when stats can't narrow
    the predicate.

    Updating the partition column to NULL raises. The base is read
    THROUGH the tombstones (hidden rows are not updated; a rewritten
    partition physically purges them — state-identical, the dv carries
    forward). Commits tag ``op: "update"`` and write the same
    ``cdc-*`` sidecar as MERGE (``update_preimage``/
    ``update_postimage`` pairs; ``change_data=False`` opts out and the
    typed feeds fall back to map-diff pair images). Concurrency: the
    update re-runs on CAS conflict; disjoint concurrent appends rebase
    over a published update exactly as over a merge. On a
    column-mapped table (RENAME/DROP COLUMN history) everything here
    is the LOGICAL schema — predicate, SET targets, prune, stats_cols
    — and the staged files / CDC sidecar keep the stable physical
    names. Returns ``{"version", "updated", "carried"}``."""
    if not set_exprs:
        raise ValueError("update_table needs a non-empty SET map")
    res: dict = {}  # the no-commit answer, or the committed counts

    def attempt(cur, new_stage):
        _check_dml_target(table_dir, cur, "an update")
        if cur.get("dv") and set(_dv_keys(cur)) & set(set_exprs):
            # assigning a tombstoned key column can write a value the
            # carried-forward deletion vector HIDES — silent row loss
            # (r11 review) — and merge's consolidation machinery is the
            # right tool for key-changing writes
            raise ValueError(
                f"{table_dir} tombstones key {cur.get('dv_key')!r}; an "
                "UPDATE assigning that column could write rows the "
                "deletion vector hides — materialize_tombstones first, "
                "or use merge_into_table (which consolidates the DV)"
            )
        # column mapping (r12): the whole decision frame runs in
        # LOGICAL names — ``where``/``set_exprs``/``prune``/
        # ``stats_cols`` are what the user sees — and `_dml_commit`
        # translates back to the stable PHYSICAL names at the on-disk
        # artifacts (survivor stage, CDC sidecar)
        pcol = cur["partition_col"]
        scan_parts = _prune_entries(spark, cur, _physical_names(prune, cur))
        if not scan_parts:
            # every partition disproven: O(manifest) no-op — the full
            # plan resolve over every live dir in `_dml_base` is work a
            # pruned-empty update must not pay (r12 review sweep 2 #6;
            # SET-column name validation is skipped on this path)
            res["noop"] = {"version": cur["version"]}
            return None
        tcols, ttypes, base = _dml_base(spark, table_dir, cur, scan_parts)
        for c in set_exprs:
            if c not in tcols:
                raise ValueError(f"SET column {c!r} not a table column")

        # NULL predicate = not matched (Delta's UPDATE rule)
        upd = F.coalesce(
            F.expr(where) if where is not None else F.lit(True), F.lit(False)
        )
        dec = base.withColumn("_upd", upd)
        out_cols = []
        for c in tcols:
            col = (
                F.when(F.col("_upd"), F.expr(set_exprs[c])).otherwise(
                    F.col(c)
                )
                if c in set_exprs
                else F.col(c)
            ).cast(ttypes[c])
            if c == pcol:
                col = F.when(
                    F.col("_upd") & col.isNull(),
                    F.raise_error(
                        F.lit(
                            f"UPDATE: updated row has NULL partition "
                            f"column {pcol!r}"
                        )
                    ).cast("string"),
                ).otherwise(col).cast("string")
            out_cols.append(col.alias(c))
        dec = dec.select(
            *out_cols,
            F.when(F.col("_upd"), F.lit("update"))
            .otherwise(F.lit("carry"))
            .alias("_action"),
            F.col(pcol).alias("_t_part"),
            # pre-image carrier for the CDC sidecar (updated rows only)
            F.when(F.col("_upd"), F.struct(*tcols)).alias("_pre"),
        )
        return _dml_commit(
            spark, table_dir, cur, new_stage, "update", dec, res,
            scan_parts=scan_parts, stats_cols=stats_cols,
            change_data=change_data,
        )

    m = transact(table_dir, attempt, batch_id=batch_id)
    return _dml_result(table_dir, m, res, ("updated", "carried"))


def delete_table(
    spark: SparkSession,
    table_dir: str,
    where: str,
    stats_cols: list[str] | None = None,
    batch_id: int | None = None,
    prune: dict | None = None,
    partition_values: list[str] | None = None,
    change_data: bool = True,
) -> dict:
    """First-class predicate DELETE on a partition-mapped table — the
    copy-on-write leg of the DML triad's DELETE (Delta's ``DELETE FROM
    ... WHERE``; the merge-on-read twin is `tombstone_keys`, which
    hides KEYS for O(deleted keys) write cost). ``where`` is a SQL
    predicate over the row; a NULL predicate means NOT matched (the row
    survives — Delta's rule), so there is no way to delete a row by
    accident through three-valued logic. The generalization of the J13
    erasure demo (`apply_erasure_rewrite`, reference consumer
    nshmdb/nshmdb.py:263-266): any predicate, any table, one commit.

    Partition economics are the DML triad's one rule (`_dml_commit`):
    after ONE decision scan, only partitions holding ≥1 matched row
    rewrite (their survivors restage); a partition whose rows ALL matched simply
    leaves the manifest (no empty file is written — its old files
    remain readable history); every other partition's mapping carries
    forward byte-identical. Two narrowing hints bound the decision
    scan itself: ``prune`` (the manifest-stats spec of
    `read_keyed_table` — ranges/null through stats, ``("eq", v)``
    through stats AND Bloom bitmaps) carries the caller's contract
    that no row outside the surviving entries matches ``where``
    (exactly like a pruned read composed with its own filter), while
    ``partition_values`` is a SCOPE restriction — the delete applies
    only to those partitions, i.e. ``WHERE pcol IN (...) AND where``
    — the GDPR-erasure shape "delete these users from the partitions
    that hold personal data". Without either, the decision pass scans
    the table once — Delta's own default for un-narrowable
    predicates.

    Constraints are NOT re-enforced: survivors are a subset of already-
    committed rows and row-level CHECKs are closed under subset (the
    manifest still carries them forward). The base is read THROUGH the
    tombstones, so dv-hidden rows are never counted as deleted and
    never emit delete images; a rewritten partition physically purges
    them (state-identical — the dv carries forward for the untouched
    partitions that still need it).

    Commits tag ``op: "delete"`` and by default record each deleted
    row's full image in a ``cdc-*`` sidecar (Delta's ``_change_data``
    with ``_change_type = 'delete'``) — the typed feeds (batch
    `read_table_changes_typed` + the changeTypes stream) serve those
    exact images with zero reconstruction; ``change_data=False`` opts
    out and the feeds fall back to the map-diff pair images (a rewrite
    diff). Concurrency: the delete re-runs on CAS conflict; a disjoint
    concurrent append REBASES over a published delete exactly as over
    a merge (`_rebase_conflict` — the touched entries show up in the
    map diff). ``batch_id`` gives foreachBatch replay idempotence. On
    a column-mapped table the predicate/prune/stats names are LOGICAL;
    staged survivors and the sidecar keep the physical names.
    Returns ``{"version", "deleted", "carried"}``."""
    if where is None:
        raise ValueError(
            "delete_table needs an explicit WHERE (use 'true' to delete "
            "every row on purpose)"
        )
    res: dict = {}  # the no-commit answer, or the committed counts

    def attempt(cur, new_stage):
        _check_dml_target(table_dir, cur, "a delete")
        # column mapping (r12): decision frame in LOGICAL names,
        # translated back to the stable PHYSICAL names by
        # `_dml_commit` (same contract as update_table)
        pcol = cur["partition_col"]
        scan_parts = _prune_entries(spark, cur, _physical_names(prune, cur))
        if partition_values is not None:
            allowed = set(partition_values)
            scan_parts = {
                e: d
                for e, d in scan_parts.items()
                if e.split("=", 1)[1] in allowed
            }
        if not scan_parts:
            # every partition disproven/out of scope: O(manifest) no-op
            # without the full-map plan resolve in `_dml_base` (r12
            # review sweep 2 #6)
            res["noop"] = {"version": cur["version"]}
            return None
        tcols, _, base = _dml_base(spark, table_dir, cur, scan_parts)
        # NULL predicate = not matched (Delta's DELETE rule)
        dec = base.select(
            *tcols,
            F.when(F.coalesce(F.expr(where), F.lit(False)), F.lit("delete"))
            .otherwise(F.lit("carry"))
            .alias("_action"),
            F.col(pcol).alias("_t_part"),
        )
        return _dml_commit(
            spark, table_dir, cur, new_stage, "delete", dec, res,
            scan_parts=scan_parts, stats_cols=stats_cols,
            change_data=change_data,
        )

    m = transact(table_dir, attempt, batch_id=batch_id)
    return _dml_result(table_dir, m, res, ("deleted", "carried"))


def _start_foreach_batch(
    df: DataFrame, checkpoint_dir: str, fn
) -> StreamingQuery:
    """The one foreachBatch shell of the sinks here: ``fn(batch_df,
    batch_id)`` per micro-batch, checkpointed at ``checkpoint_dir``,
    triggered ``availableNow`` — the stream drains what its source
    holds, then stops (every sink commits per batch with batch-id
    idempotence, so a rerun picks up where it stopped)."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _latest_per_key(
    df: DataFrame, keys: list[str], order_col: str, tiebreak: list[str] | None
) -> DataFrame:
    """The newest row per key of ``df``: max ``order_col``, then the
    greatest ``tiebreak`` columns — one window on the keys."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak or []]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_stream_to_table(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
) -> StreamingQuery:
    """Maintain a latest-per-key parquet table from a stream via
    foreachBatch MERGE. Within each micro-batch the newest row per key
    (max order_col, then greatest `tiebreak` columns — pass one to make
    equal-order rows deterministic) is reduced first, then merged over
    the current table version inside a `committed_transaction`: staged
    as the table's one entry in a unique data dir, CAS'd into the
    commit log as a ``rewrite`` (concurrent writers serialize via
    retry), batch id recorded — replayed batches no-op, so restart
    between write and checkpoint commit cannot double-apply.

    Scale shape: the per-batch reduce and the merge share the key
    partitioning (one shuffle each on `keys`); the rewrite cost is the
    TABLE size per batch — the COPY-ON-WRITE trade.
    `upsert_stream_to_table_mor` keeps the same one-entry table as
    merge-on-read generations instead and moves that cost to the
    readers: O(batch) appends, one read-side window, periodic
    compaction — pick per workload exactly as you would between Delta
    COW and Hudi MOR.
    State lives in the table, not the state store, so the stream itself
    is stateless and unbounded keys are fine."""
    os.makedirs(table_dir, exist_ok=True)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_per_key(batch_df, keys, order_col, tiebreak)
        committed_transaction(
            batch_df.sparkSession,
            table_dir,
            lambda base: merge_into(base, latest, keys, order_col, tiebreak),
            batch_id=batch_id,
        )

    return _start_foreach_batch(df, checkpoint_dir, _merge_batch)


def merge_stream_to_table(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    reduce_order_col: str | None = None,
    reduce_tiebreak: list[str] | None = None,
    **merge_clauses,
) -> StreamingQuery:
    """Conditional multi-clause MERGE as a foreachBatch sink — the
    streaming CDC APPLY: every micro-batch applies the clause set
    (``merge_clauses`` pass straight through to `merge_into_table`:
    when_matched_update / _delete, when_not_matched_insert,
    by-source clauses, evolve_schema, stats_cols) as ONE commit with
    batch-id idempotence, so a replayed batch no-ops and a crash
    between write and checkpoint commit cannot double-apply.

    ``reduce_order_col`` (plus ``reduce_tiebreak``) pre-reduces each
    batch to the newest row per key first — a CDC feed can carry
    several changes for one key in one batch, and MERGE raises on
    multiple matched source rows. Without it the feed must already be
    unique per key per batch.

    The target table must exist (a merge into an empty table is an
    append — land the initial snapshot first). Batch-composition note:
    conditions referencing ``t`` evaluate against the table state AS
    OF each micro-batch, so the outcome is batch-sensitive unless the
    feed is per-key monotone (e.g. an order-column condition like
    ``s.ts >= t.ts``) or batches carry disjoint keys — the same
    contract as Delta's foreachBatch MERGE."""
    os.makedirs(table_dir, exist_ok=True)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        src = batch_df
        if reduce_order_col:
            src = _latest_per_key(src, keys, reduce_order_col, reduce_tiebreak)
        merge_into_table(
            batch_df.sparkSession, table_dir, src, keys,
            batch_id=batch_id, **merge_clauses,
        )

    return _start_foreach_batch(df, checkpoint_dir, _merge_batch)


def append_keyed_mor(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
    batch_id: int | None = None,
    max_open_generations: int | None = None,
) -> None:
    """MERGE-ON-READ upsert append: the batch's newest row per key lands
    as a NEW immutable generation of the table's one entry (one
    manifest commit, O(batch) write — never a table rewrite), and
    `read_keyed_mor` resolves latest-per-key at read time. This is the
    Hudi-MOR / Delta deletion-vector trade against the copy-on-write
    `upsert_stream_to_table`: hot write path pays O(batch), readers pay
    one window over the generations until `compact_keyed_mor` folds
    them. The commit is an ``upsert``: its rows supersede earlier
    generations' rows by key, so additive consumers and the typed
    change feed refuse it.

    Each staged generation carries a literal `_gen` = its commit version
    so equal (order_col, tiebreak) values across generations resolve to
    the later COMMIT deterministically (update-wins, same contract as
    `merge_into`). The stamp is taken inside the attempt, so a CAS loser
    re-stages with the winner's successor version.

    ``max_open_generations`` is the Hudi-style compaction trigger,
    enforced at ENTRY (before the idempotence short-circuit, so a
    replayed batch still re-enforces the bound a crashed compaction
    left violated) and retried best-effort after a publish that
    crosses it — a post-publish compaction failure must not fail the
    caller's batch, whose data is already durably committed; the next
    append's entry-side trigger picks it up. Read amplification is
    thus bounded at N+1 generations over a stream's whole life at the
    cost of a periodic rewrite."""
    if max_open_generations is not None:
        if len(_generations(current_commit(table_dir))) > max_open_generations:
            compact_keyed_mor(spark, table_dir)
    latest = _latest_per_key(updates, keys, order_col, tiebreak)
    want = {"keys": keys, "order_col": order_col, "tiebreak": tiebreak or []}

    def attempt(cur, new_stage):
        # the merge contract (keys/order/tiebreak) is a TABLE property: a
        # mismatched append would silently rewrite it in the new head
        # manifest and change how read_keyed_mor resolves every PRIOR
        # generation — reject instead (a table without one is not a
        # merge-on-read table)
        if cur["version"] > 0:
            if cur.get("mor") != want:
                raise ValueError(
                    f"merge config mismatch for {table_dir}: table has "
                    f"{cur.get('mor')}, append supplied {want}"
                )
            _check_spec(table_dir, cur, _ONE_COL, "append_keyed_mor")
        stage = new_stage()
        return _next_manifest(
            cur, "upsert", stage,
            partition_col=_ONE_COL,
            partitions={_ONE_ENTRY: _generations(cur) + [stage]},
            mor=want,
            dir_schemas=_write_one(
                latest.withColumn("_gen", F.lit(cur["version"] + 1)),
                table_dir, stage,
            ),
        )

    m = transact(table_dir, attempt, batch_id=batch_id)
    if (
        m is not None
        and max_open_generations is not None
        and len(_generations(m)) > max_open_generations
    ):
        try:
            compact_keyed_mor(spark, table_dir)
        except Exception:
            # the append IS committed; failing the caller now would
            # replay a durable batch. The bound is re-enforced by the
            # next call's entry-side trigger.
            pass


def _generations(m: dict) -> list[str]:
    """The generation dirs of a merge-on-read table's one entry."""
    return _entry_dirs(m.get("partitions", {}).get(_ONE_ENTRY, []))


def _mor_view(spark: SparkSession, table_dir: str, m: dict) -> DataFrame:
    """Latest-per-key rows of merge-on-read manifest ``m``: the shared
    partition-map read, then one window keyed on the merge keys — the
    read-side merge. The window shuffle is on the key columns, the same
    exchange the copy-on-write merge paid PER BATCH at write time."""
    if "mor" not in m:
        raise ValueError(f"{table_dir} is not a merge-on-read keyed table")
    mor = m["mor"]
    return _latest_per_key(
        _read_manifest(spark, table_dir, m), mor["keys"], mor["order_col"],
        [*mor["tiebreak"], "_gen"],
    ).drop("_gen")


def read_keyed_mor(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame | None:
    """Latest-per-key view of a merge-on-read keyed table (`_mor_view`)
    at the head, ``version`` or ``as_of`` (epoch seconds) — resolved
    exactly like read_keyed_table. None before the first commit."""
    m = _resolve_manifest(table_dir, version, as_of)
    return None if m is None else _mor_view(spark, table_dir, m)


def compact_keyed_mor(spark: SparkSession, table_dir: str) -> bool:
    """Fold a merge-on-read table's generations into one materialized
    latest-per-key generation (the compaction that moves the merge cost
    from every read back to one write) — published as a one-entry
    ``rewrite`` tagged ``data_change: false`` (it restates rows), so
    the un-compacted generations stay readable as history. Returns
    False if the table already has a single generation."""

    def attempt(cur, new_stage):
        view = _mor_view(spark, table_dir, cur)
        if len(_generations(cur)) <= 1:
            return None
        stage = new_stage()
        return _next_manifest(
            cur, "rewrite", stage,
            partitions={_ONE_ENTRY: stage},
            data_change=False,
            dir_schemas=_write_one(
                view.withColumn("_gen", F.lit(cur["version"] + 1)),
                table_dir, stage,
            ),
        )

    return transact(table_dir, attempt) is not None


def upsert_stream_to_table_mor(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
    max_open_generations: int | None = None,
) -> StreamingQuery:
    """`upsert_stream_to_table` as merge-on-read: each micro-batch
    appends its per-key-latest rows as a generation of the table's one
    entry (`append_keyed_mor`, O(batch) write, batch-id idempotent)
    instead of rewriting the table; `read_keyed_mor` serves the merged view and
    `compact_keyed_mor` folds generations on a maintenance cadence —
    either explicitly, or inline whenever the open-generation count
    passes ``max_open_generations`` (the Hudi compaction trigger)."""

    def _append_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_keyed_mor(
            batch_df.sparkSession,
            table_dir,
            batch_df,
            keys,
            order_col,
            tiebreak,
            batch_id=batch_id,
            max_open_generations=max_open_generations,
        )

    return _start_foreach_batch(df, checkpoint_dir, _append_batch)


def rollup_stream_to_table(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n",
) -> StreamingQuery:
    """Maintain an ADDITIVE aggregate table (counts + sums per key) from a
    stream via foreachBatch — the incremental-materialized-view pattern:
    each micro-batch is reduced to per-key partials, then ADDED into the
    current table version (union + one hash re-aggregation — additive
    merges need no row precedence, unlike the upsert sink's argmax).

    Idempotence matters MORE here than for upserts: re-applying an upsert
    batch is naturally a no-op, but re-ADDING a batch double-counts — the
    committed batch-id list (same `committed_transaction` protocol as
    upsert_stream_to_table) is what makes restart-between-write-and-
    checkpoint-commit safe, and the commit-log CAS is what keeps a
    concurrent second writer from double-adding the same partials.

    Scale shape: the per-batch partial is a map-side-combined shuffle
    whose width is the KEY CARDINALITY, not the batch row count; the
    merge re-aggregates table ∪ partials on the same keys. Table size is
    bounded by key cardinality, so the per-batch rewrite stays small even
    when the stream is unbounded — this is why hourly-rollup tables are
    maintainable where raw-event tables need a real table format."""
    os.makedirs(table_dir, exist_ok=True)

    def _rollup_batch(batch_df: DataFrame, batch_id: int) -> None:
        aggs = [F.count(F.lit(1)).cast("long").alias(count_col)] + [
            F.sum(c).alias(out) for c, out in sum_cols.items()
        ]
        partial = batch_df.groupBy(*keys).agg(*aggs)

        def _add(base: DataFrame | None) -> DataFrame:
            if base is None:
                return partial
            return (
                base.unionByName(partial)
                .groupBy(*keys)
                .agg(
                    F.sum(count_col).cast("long").alias(count_col),
                    *[F.sum(out).alias(out) for out in sum_cols.values()],
                )
            )

        committed_transaction(
            batch_df.sparkSession, table_dir, _add, batch_id=batch_id
        )

    return _start_foreach_batch(df, checkpoint_dir, _rollup_batch)
