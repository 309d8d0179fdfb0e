"""Structured Streaming SOURCE over the commit-log table — readStream
on a lakehouse table, the Delta "streaming from a table / change data
feed" surface (VERDICT r06 next-round #3).

`read_table_changes` (sinks.py) gives a BATCH incremental read: "the
rows commits (from, to] added". This module lifts that exact contract
into a Spark 4 Python Data Source (`pyspark.sql.datasource
.DataSourceStreamReader`), so a silver job is simply

    spark.readStream.format("commitlog").option("path", bronze).load()

instead of the bespoke foreachBatch coupling `stream_cdc_rollup` uses —
the medallion story's missing half. The streaming OFFSET is the commit
VERSION (the `maintain_incremental_agg` cursor generalized): Spark's
checkpoint persists `{"version": N}`, a restarted query resumes after
the last committed micro-batch, and each emitted row carries its
`_commit_version` so downstream folds stay attributable.

Scale shape: offsets and partition PLANNING are metadata-only driver
work over the commit log (O(tail) manifests, never data). The plan is
`_change_images` (sinks.py), the one per-commit image planner the batch
typed feed also executes; this module only expands its images into read
units, one per (commit, partition entry), and byte-packs units into
executor tasks against a maxPartitionBytes target (r15 — a tiny batch
reads in one task, a real commit still fans out wide), Arrow-batched
end to end (the reader hands pyarrow RecordBatches straight to Spark —
no per-row Python). On
a real cluster the commit log lives on shared storage exactly as every
other reader in sinks.py assumes. Admission control via
`maxVersionsPerBatch` bounds a micro-batch to N commits, so a source
that fell far behind catches up in bounded-memory steps instead of one
giant batch (Delta's maxFilesPerTrigger analog).

Soundness contract mirrors `maintain_incremental_agg` (sinks.py): the
stream is only additive over APPEND-ONLY history — a rewrite, delete,
restore, or clone in the unread range RAISES rather than silently
double-counting (each manifest carries its `op` tag); metadata-only
commits (set-constraints, partition evolution's empty stage) emit
nothing; a commit vacuumed before it was read also raises.

`.option("changeTypes", "true")` switches to the TYPED feed (r10,
VERDICT r09 #6): the streaming half of Delta CDF. Each micro-batch
executes the same `_change_images` plan `read_table_changes_typed`
executes for its version range — a merge's CDC sidecar rows verbatim
(update pre/post-image pairs, deletes, inserts — r11, VERDICT r10 #1),
insert/delete pairs for non-keyed rewrites, added-generation inserts
for merge extensions, tombstone delete images semi-filtered to the
commit's added keys — plus `_change_type` and `_commit_timestamp`.
Overwrite/delete/merge commits are then first-class instead of
raising; stream-equals-batch is oracle-pinned by
`stream_table_changes_typed`. Rewrites tagged `data_change: false`
(compaction / Z-order) are provable restatements and plan NOTHING in
both modes — the untyped additive stream keeps flowing across table
maintenance instead of dying on it.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "commitlog"

# per-worker memo of dv key-file reads (files are immutable; see read())
_KEYSET_CACHE: dict = {}

# ops an additive streaming read can express; everything else raises
# (same allow-list as maintain_incremental_agg — evolve and
# set-constraints are metadata-only for the ADD-rows feed)
_ADDITIVE_OPS = ("append", "set-constraints", "evolve")


def _materialize_versions(hist: list[dict]) -> list[int]:
    """Versions at which `materialize_column_mapping` re-based the
    table's PHYSICAL names — delegates the detection to sinks'
    `_is_materialize` so the batch feeds and the stream admission share
    ONE definition of a map re-base (r13 review #2)."""
    from nshm2022db_spark.streaming.sinks import _is_materialize

    by_v = {m["version"]: m for m in hist}
    return sorted(v for v, m in by_v.items() if _is_materialize(by_v, m))


def _check_stream_map(
    m: dict, map_meta: tuple, map_version: int, table_dir: str,
    mats: list[int],
) -> None:
    """Column-mapping admission for one planned commit (r13 — VERDICT
    r12 #2). A commit v serves correctly through the map the stream
    captured at start iff the PHYSICAL names it staged are the ones
    that map addresses:

    * v ≤ map_version AND no materialize re-based the physical names
      in (v, map_version] — rename/drop are metadata-only, so physical
      names are stable across them and one logical projection covers
      the whole span (the batch feeds' end-of-range rule, end = the
      captured head). A materialize between them means v's files carry
      pre-re-base names the captured map does not address — raise,
      even when the materialize commit itself falls outside this
      micro-batch's range (batch splitting must not hide it);
    * v > map_version with UNCHANGED map metadata. A change there is a
      schema change the stream's fixed schema cannot express — raise
      for a restart, Delta's streaming schema-change behavior (a
      post-start materialize always changes the metadata: it clears a
      non-empty map, so it is caught here too)."""
    v = m["version"]
    if v <= map_version:
        if any(v < mv <= map_version for mv in mats):
            raise ValueError(
                f"commit {v} of {table_dir} predates a column-mapping "
                "materialize (physical rename); its files cannot be "
                "served under the current schema — start the stream "
                "from the materialize version or later"
            )
        return
    from nshm2022db_spark.streaming.sinks import _map_meta

    if _map_meta(m) != map_meta:
        raise ValueError(
            f"commit {v} of {table_dir} changed the column mapping "
            "(RENAME/DROP COLUMN) after this stream started; a stream's "
            "schema is fixed at start — restart the stream to pick up "
            "the new logical schema"
        )


def _plan_changes(
    table_dir: str, start: int, end: int,
    map_meta: tuple = (None, None), map_version: int = 0,
) -> list[dict]:
    """Driver-side plan of the add-rows feed for versions (start, end]:
    one dict per (commit, partition entry) with the entry's immutable
    file list — the insert images of `_change_images` (sinks.py), the
    planner the typed feeds share, expanded into file units. Admission
    is the additive allow-list: metadata-only commits and
    ``data_change: false`` rewrites plan nothing; a RESTORE (or any
    other non-additive op) in the range always RAISES — unlike
    `read_table_changes`'s snapshot diff, a version-cursor stream
    cannot re-attribute republished rows without double-counting.
    Never touches Spark — this is the metadata half,
    `CommitLogStreamReader.read` is the data half.

    ``map_meta``/``map_version`` are the column-mapping metadata the
    reader captured at stream start: mapped commits in range serve
    through that map (the executor projects physical file names to the
    stream's logical schema); a LATER map change raises (restart), and
    a materialize in range raises via `_check_map_stable` (it re-based
    the physical names, so one projection cannot span it)."""
    from nshm2022db_spark.streaming.sinks import _change_images, table_history

    hist = table_history(table_dir)
    mats = _materialize_versions(hist)

    def admit(m: dict) -> None:
        _check_stream_map(m, map_meta, map_version, table_dir, mats)
        if m.get("op") not in _ADDITIVE_OPS and m.get("data_change") is not False:
            raise ValueError(
                f"commit {m['version']} of {table_dir} is {m.get('op')!r} — "
                "a streaming read is only sound over append-only history "
                "(rewrites/deletes/restores would double-count or "
                "silently drop state); recompute downstream instead"
            )

    out: list[dict] = []
    for im in _change_images(table_dir, hist, start, end, admit):
        for e, dirs in sorted(im["map"]["partitions"].items()):
            files = _entry_files(table_dir, dirs, e)
            if files:
                out.append(
                    {
                        "version": im["version"],
                        "pcol": im["map"]["partition_col"],
                        "value": e.split("=", 1)[1],
                        "files": files,
                    }
                )
    return out


def _entry_files(table_dir: str, dirs, entry: str) -> list[str]:
    """Every parquet file of one partition entry across its generation
    dirs — the immutable file list a read unit captures at plan time."""
    from nshm2022db_spark.streaming.sinks import _entry_dirs, _parquet_files

    return [
        f
        for dirname in _entry_dirs(dirs)
        for f in _parquet_files(os.path.join(table_dir, dirname, entry))
    ]


def _typed_plan(
    table_dir: str, start: int, end: int,
    map_meta: tuple = (None, None), map_version: int = 0,
) -> list[dict]:
    """Driver-side plan of the TYPED change feed for versions
    (start, end] — the images `_change_images` (sinks.py) plans for
    `read_table_changes_typed`, expanded into file units:

    * a CDC image → one unit over the sidecar's files; ``_change_type``
      and the partition column are DATA columns there (value=None /
      ctype=None sentinels);
    * every other image → one unit per stats-surviving entry of its
      map, carrying the image version's dv file list (``anti``): the
      executor anti-filters hidden keys, so an image matches what the
      batch feed computes for the same commit (pinned
      stream-equals-batch by the oracle);
    * delete images of tombstoned keys additionally carry the key
      columns and the dv lists ``inc``/``exc``: the executor keeps only
      rows whose key the commit ADDED (inc − exc) — no re-deletes.

    A legacy-layout image raises: the stream's schema carries only the
    current partition column, so a tombstone whose deleted keys live in
    an unmigrated layout cannot stream its delete images (r10 review
    #4). Admission is the column-mapping capture (`_check_stream_map`)."""
    from nshm2022db_spark.streaming.sinks import (
        _change_images,
        _dv_keys,
        _parquet_files,
        _stats_prune,
        table_history,
    )

    hist = table_history(table_dir)
    mats = _materialize_versions(hist)
    units: list[dict] = []
    for im in _change_images(
        table_dir, hist, start, end,
        lambda m: _check_stream_map(m, map_meta, map_version, table_dir, mats),
    ):
        if im["legacy"]:
            raise ValueError(
                f"commit {im['version']} of {table_dir} tombstones keys "
                "over unmigrated legacy partition layouts; run "
                "migrate_legacy_layouts or consume "
                "read_table_changes_typed in batch"
            )
        unit = {
            "version": im["version"], "ctype": im["ctype"], "ts": im["ts"],
            "key": None, "anti": [], "inc": [], "exc": [],
        }
        if im["cdc"]:
            files = _parquet_files(os.path.join(table_dir, im["cdc"]))
            if files:
                units.append(
                    {**unit, "files": files, "value": None,
                     "pcol": im["dv_of"]["partition_col"]}
                )
            continue
        dv_of = im["dv_of"]
        inc, exc = im["added"] or ([], [])
        unit.update(
            key=im["keys"] or _dv_keys(dv_of) or None,
            anti=[os.path.join(table_dir, d) for d in dv_of.get("dv", [])],
            inc=[os.path.join(table_dir, d) for d in inc],
            exc=[os.path.join(table_dir, d) for d in exc],
        )
        for e, dirs in sorted(_stats_prune(im["map"], im["prune"]).items()):
            files = _entry_files(table_dir, dirs, e)
            if files:
                units.append(
                    {**unit, "files": files, "value": e.split("=", 1)[1],
                     "pcol": im["map"]["partition_col"]}
                )
    return units


def table_stream_schema(
    table_dir: str, change_types: bool = False
) -> StructType:
    """The stream's schema: the union of every live generation's parquet
    schema (schema evolution — later generations may add columns; older
    ones read those as NULL) + the partition column (string, the
    module-wide normalization) + `_commit_version` (long); with
    ``change_types``, also `_change_type` (string) and
    `_commit_timestamp` (timestamp) — the Delta CDF metadata columns.
    Footer-only metadata work, no Spark jobs."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from nshm2022db_spark.streaming.sinks import (
        _entry_dirs,
        current_commit,
    )

    cur = current_commit(table_dir)
    if cur["version"] == 0:
        raise ValueError(f"{table_dir} is not a committed table")
    pcol = cur["partition_col"]
    merged = None
    seen: set[str] = set()
    for entry, dirs in sorted(cur["partitions"].items()):
        for dirname in _entry_dirs(dirs):
            d = os.path.join(table_dir, dirname, entry)
            key = os.path.normpath(d)
            if key in seen or not os.path.isdir(d):
                continue
            seen.add(key)
            files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            if not files:
                continue
            s = pq.read_schema(os.path.join(d, files[0]))
            if merged is None:
                merged = s
            else:
                for f in s:
                    if f.name not in merged.names:
                        merged = merged.append(f)
    if merged is None:
        raise ValueError(f"{table_dir} holds no data files to infer from")
    # Force every data field NULLABLE — RECURSIVELY: Spark writes
    # REQUIRED parquet fields for non-nullable DataFrame columns, but
    # under schema evolution a column added by a later commit must
    # surface as NULL for rows from earlier generations — a required
    # field there makes the JVM reject the Arrow batch outright. A
    # top-level-only rewrite would leave an evolution-added STRUCT
    # column's children required and hit the same rejection when
    # old-generation files fill it with null children (r9 review).
    import pyarrow as pa

    def _force_nullable(t: pa.DataType) -> pa.DataType:
        if pa.types.is_struct(t):
            return pa.struct(
                [
                    pa.field(
                        f.name, _force_nullable(f.type),
                        nullable=True, metadata=f.metadata,
                    )
                    for f in t
                ]
            )
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            mk = pa.large_list if pa.types.is_large_list(t) else pa.list_
            return mk(
                pa.field(
                    t.value_field.name, _force_nullable(t.value_type),
                    nullable=True, metadata=t.value_field.metadata,
                )
            )
        if pa.types.is_map(t):
            # map KEYS stay non-nullable (parquet/Arrow invariant)
            return pa.map_(t.key_type, _force_nullable(t.item_type))
        return t

    merged = pa.schema(
        [
            pa.field(
                f.name, _force_nullable(f.type),
                nullable=True, metadata=f.metadata,
            )
            for f in merged
        ],
        metadata=merged.metadata,
    )
    # prefer_timestamp_ntz: the executor reads units with pyarrow, so
    # the schema describes pyarrow's view of the files. The session
    # writes timestamps as INT96 (spark.sql.parquet.outputTimestampType),
    # which pyarrow reads tz-naive: a TimestampType column streams as
    # TIMESTAMP_NTZ, while read_keyed_table's batch scan and the
    # manifest's recorded schema say TIMESTAMP (pinned by
    # test_stream_timestamp_type_differs_from_batch). A stream consumer
    # needing watermarking casts to TIMESTAMP explicitly, the events.py
    # discipline.
    # project the merged PHYSICAL schema through the head's column map
    # (r13): renamed fields surface under their logical names, dropped
    # physical fields disappear — the stream's schema is the same
    # logical view every batch read of the head serves
    from nshm2022db_spark.streaming.sinks import (
        _column_map,
        _dropped_physical,
    )

    cmap = _column_map(cur)  # {logical: physical}
    dropped = _dropped_physical(cur)
    if cmap or dropped:
        inv = {ph: lg for lg, ph in cmap.items()}
        merged = pa.schema(
            [
                (f.with_name(inv[f.name]) if f.name in inv else f)
                for f in merged
                if f.name not in dropped
            ],
            metadata=merged.metadata,
        )
    spark_schema = from_arrow_schema(merged, prefer_timestamp_ntz=True)
    spark_schema = spark_schema.add(pcol, "string").add(
        "_commit_version", "long"
    )
    if change_types:
        spark_schema = spark_schema.add("_change_type", "string").add(
            "_commit_timestamp", "timestamp"
        )
    return spark_schema


class CommitLogPartition(InputPartition):
    """One (commit, partition entry) unit of read work. Files are
    immutable once committed, so capturing paths at plan time is
    race-free by construction. Typed-feed units additionally carry the
    image type, the commit timestamp, and the key-file lists for
    executor-side tombstone anti-filtering (``anti``) and
    delete-image semi-filtering (``inc`` minus ``exc``). Units are
    byte-packed into ``CommitLogUnitGroup`` tasks at plan time — a unit
    is the correctness boundary, not the parallelism unit."""

    def __init__(
        self, files: list[str], pcol: str, value: str, version: int,
        ctype: str | None = None, ts: float | None = None,
        key: list[str] | None = None, anti: list[str] | None = None,
        inc: list[str] | None = None, exc: list[str] | None = None,
    ):
        self.files = files
        self.pcol = pcol
        self.value = value
        self.version = version
        self.ctype = ctype
        self.ts = ts
        # tombstone key COLUMNS (list; composite keys are tuples in the
        # dv files) — None when the unit needs no key filtering
        self.key = list(key) if key else None
        self.anti = anti or []
        self.inc = inc or []
        self.exc = exc or []


class CommitLogUnitGroup(InputPartition):
    """One executor TASK: a byte-packed run of plan units (r15, guide
    §6). A micro-batch over a day-partitioned table plans one unit per
    (commit, partition entry); at sf that is ~30 units of ~25 KB each,
    and one Python-source task per unit made the read stage pure
    per-task overhead (measured 1.9-4.7 s/batch for <1 MB of data).
    Packing mirrors Spark's own file-scan coalescing — cumulative
    max(bytes, 0) + openCost per file against a maxPartitionBytes
    target — so a real commit's worth of data still fans out wide
    while a tiny batch reads in one task."""

    def __init__(self, units: list[CommitLogPartition]):
        self.units = units


def _pack_units(
    units: list[CommitLogPartition],
    target_bytes: int,
    open_cost: int,
) -> list[CommitLogUnitGroup]:
    groups: list[CommitLogUnitGroup] = []
    cur: list[CommitLogPartition] = []
    cost = 0
    for u in units:
        c = 0
        for f in u.files:
            try:
                c += open_cost + max(os.path.getsize(f), 0)
            except OSError:
                c += open_cost
        c = c or open_cost
        if cur and cost + c > target_bytes:
            groups.append(CommitLogUnitGroup(cur))
            cur, cost = [], 0
        cur.append(u)
        cost += c
    if cur:
        groups.append(CommitLogUnitGroup(cur))
    return groups


class CommitLogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("commitlog source requires .option('path', dir)")
        self._schema = schema
        self._start = int(options.get("startingversion", 0))
        self._max_versions = int(options.get("maxversionsperbatch", 0))
        # task sizing for the unit packer (defaults mirror Spark's file
        # scan: 128 MiB target, 4 MiB per-file open cost); override with
        # .option("maxPartitionBytes", n) / .option("openCostInBytes", n)
        self._target_bytes = int(
            options.get("maxpartitionbytes", 128 << 20)
        )
        self._open_cost = int(options.get("opencostinbytes", 4 << 20))
        # typed mode (.option("changeTypes", "true")): emit the Delta
        # CDF surface — _change_type + _commit_timestamp per image —
        # and accept overwrite/rewrite/delete/merge commits (the
        # additive-only allow-list is the UNTYPED feed's constraint)
        self._typed = str(options.get("changetypes", "")).lower() in (
            "true", "1", "yes",
        )
        # column-mapping capture (r13): the stream serves every commit
        # through the map current at START — physical names are stable
        # across rename/drop (metadata-only), so one logical projection
        # covers the whole history up to here; a LATER map change
        # raises at plan time for a restart (Delta's schema-change
        # rule). Ships to executors with the reader for read()'s
        # field-name translation.
        from nshm2022db_spark.streaming.sinks import (
            _column_map,
            _dropped_physical,
            current_commit,
        )

        from nshm2022db_spark.streaming.sinks import _map_meta

        head_m = current_commit(self._path)
        self._cmap = dict(_column_map(head_m))  # {logical: physical}
        self._map_meta = _map_meta(head_m)
        self._map_version = head_m.get("version", 0)
        # admission-control floor: the newest offset THIS process has
        # planned or committed. Spark 4.1.2's call order (probed, both
        # paths): FRESH start = latestOffset() BEFORE initialOffset(),
        # so the floor must start at `startingversion`; RESTART = a
        # partitions(committed, committed) replay of the checkpointed
        # range BEFORE the first latestOffset(), which raises the floor
        # to the checkpoint — latestOffset can therefore never fall
        # below the committed offset (no backwards batches) and the
        # catch-up after a lagging restart stays bounded too.
        self._floor: int = self._start
        # defensive fallback (ADVICE r08): the floor hard-depends on the
        # restart replay above. On a runtime WITHOUT it, a clamped offset
        # at-or-below the checkpoint would stall the stream forever
        # (Spark never fetches below its committed offset, and neither
        # partitions() nor commit() would ever fire to raise the floor).
        # Track whether any partitions()/commit() has been observed; until
        # then, each REPEATED clamped latestOffset probe steps the floor
        # by one admission quantum — advertising a larger end can never
        # lose data (Spark supplies the batch's start), so catch-up stays
        # bounded yet always terminates. The fallback additionally
        # DISARMS the moment initialOffset() is called: initialOffset
        # only fires on a checkpoint-less FRESH start, where a stall is
        # impossible (Spark's committed offset starts at our own initial
        # offset, strictly below any clamped advertisement) — so a
        # runtime that probes latestOffset more than once per trigger
        # can never widen a fresh start's first batch (r9 review). Only
        # the no-replay-restart signature (repeated clamped probes with
        # NO initialOffset/partitions/commit ever seen) arms stepping.
        self._observed = False
        self._fresh_start = False
        self._stall_probes = 0

    # -- offset protocol (driver) ---------------------------------------
    def initialOffset(self) -> dict:
        # only called on a checkpoint-less fresh start — a stall below
        # the (nonexistent) checkpoint is impossible, disarm the probe
        self._fresh_start = True
        return {"version": self._start}

    def latestOffset(self) -> dict:
        from nshm2022db_spark.streaming.sinks import current_commit

        head = current_commit(self._path)["version"]
        if self._max_versions > 0:
            # bound each micro-batch to N commits so a lagging consumer
            # catches up in bounded-memory steps (Delta's
            # maxFilesPerTrigger analog, keyed on commits)
            bound = self._floor + self._max_versions
            if head > bound and not self._observed and not self._fresh_start:
                # stall-probe fallback (see __init__): a second clamped
                # advertisement with still no partitions()/commit() means
                # the runtime never constructed a batch from the first —
                # its checkpointed offset sits above our floor. Step up.
                self._stall_probes += 1
                if self._stall_probes >= 2:
                    self._floor = bound
                    bound = self._floor + self._max_versions
            head = min(head, bound)
        return {"version": max(head, self._floor)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._observed = True
        self._floor = max(self._floor, end["version"])
        plan = (_typed_plan if self._typed else _plan_changes)(
            self._path, start["version"], end["version"],
            map_meta=self._map_meta, map_version=self._map_version,
        )
        units = [CommitLogPartition(**p) for p in plan]
        return _pack_units(units, self._target_bytes, self._open_cost)

    # -- data read (executors) ------------------------------------------
    def read(self, partition: CommitLogUnitGroup) -> Iterator:
        for unit in partition.units:
            yield from self._read_unit(unit)

    def _read_unit(self, partition: CommitLogPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from nshm2022db_spark.streaming.sinks import _parquet_files

        def key_set(dirs: list[str]) -> frozenset:
            # per-worker memo: a commit fanning out to many units would
            # otherwise re-parse the same immutable dv key files once
            # per unit (r10 review #7). Members are key TUPLES (single
            # or composite).
            ck = (tuple(partition.key), tuple(dirs))
            hit = _KEYSET_CACHE.get(ck)
            if hit is not None:
                return hit
            out: set = set()
            for d in dirs:
                for f in _parquet_files(d):
                    t = pq.read_table(f, columns=partition.key)
                    out.update(zip(*[t[k].to_pylist() for k in partition.key]))
            if len(_KEYSET_CACHE) >= 64:
                _KEYSET_CACHE.clear()
            res = frozenset(out)
            _KEYSET_CACHE[ck] = res
            return res

        def key_mask(t, sel: frozenset, keep_matches: bool):
            """Arrow row mask: row's key tuple ∈ sel (or its negation).
            Single-column keys stay on the vectorized is_in path; NULL
            components never match (a NULL key hides nothing — the
            write paths also keep NULLs out of dv files, and sorted()
            over {None, int} would raise, ADVICE r10). Composite keys
            fall back to a tuple-set probe over the delete-image unit's
            rows — stats-pruned partitions, bounded by design."""
            if len(partition.key) == 1:
                vals = sorted(x[0] for x in sel if x[0] is not None)
                if not vals:
                    # empty selection: nothing matches — pa.array([])
                    # would be null-typed (Table.filter rejects it on
                    # zero-row files too, r11 review #5)
                    return pa.array(
                        [not keep_matches] * t.num_rows, type=pa.bool_()
                    )
                mask = pc.is_in(
                    t[partition.key[0]], value_set=pa.array(vals)
                )
                if keep_matches:
                    return pc.fill_null(mask, False)
                return pc.fill_null(pc.invert(mask), True)
            cols = [t[k].to_pylist() for k in partition.key]
            return pa.array(
                [(tup in sel) == keep_matches for tup in zip(*cols)],
                type=pa.bool_(),  # zero-row files: never null-typed
            )

        # executor-side key filters (delete-sized sets, the same data
        # the batch path broadcasts): drop rows the image version's own
        # tombstones hide, and for delete-image units keep only the
        # keys this commit ADDED (inc − exc)
        drop: frozenset = frozenset()
        keep: frozenset | None = None
        if partition.key is not None:
            if partition.anti:
                drop = key_set(partition.anti)
            if partition.inc:
                keep = key_set(partition.inc) - key_set(partition.exc)
        target = to_arrow_schema(self._schema)
        for path in partition.files:
            t = pq.read_table(path)
            if partition.key is not None:
                if any(k not in t.column_names for k in partition.key):
                    if keep is not None:
                        # a semi-filter over a file WITHOUT the key
                        # column matches nothing (the batch path's
                        # semi-join on the NULL evolved column emits
                        # zero rows — r10 review #3); an anti-filter
                        # over it drops nothing, so fall through
                        continue
                elif keep is not None:
                    t = t.filter(key_mask(t, keep - drop, True))
                elif drop:
                    t = t.filter(key_mask(t, drop, False))
            n = t.num_rows
            if n == 0:
                continue
            cols = []
            for field in target:
                if field.name == partition.pcol:
                    # cdc units (value=None) carry the partition column
                    # as a DATA column in the sidecar file
                    arr = (
                        pa.array([partition.value] * n, type=field.type)
                        if partition.value is not None
                        else t.column(field.name).cast(field.type)
                    )
                elif field.name == "_commit_version":
                    arr = pa.array([partition.version] * n, type=field.type)
                elif field.name == "_change_type":
                    # cdc units (ctype=None) read the per-row type the
                    # merge recorded (update_preimage / update_postimage
                    # / delete / insert)
                    arr = (
                        pa.array([partition.ctype] * n, type=field.type)
                        if partition.ctype is not None
                        else t.column(field.name).cast(field.type)
                    )
                elif field.name == "_commit_timestamp":
                    arr = (
                        pa.array(
                            [int(partition.ts * 1e6)] * n, type=pa.int64()
                        ).cast(field.type)
                        if partition.ts is not None
                        else pa.nulls(n, type=field.type)
                    )
                else:
                    # the stream's schema is LOGICAL; data files (and
                    # CDC sidecars) carry the stable PHYSICAL names —
                    # translate through the captured map (r13)
                    phys = self._cmap.get(field.name, field.name)
                    if phys in t.column_names:
                        arr = t.column(phys).cast(field.type)
                    else:  # schema evolution: column added later
                        arr = pa.nulls(n, type=field.type)
                cols.append(arr)
            out = pa.table(cols, schema=target)
            yield from out.to_batches()

    def commit(self, end: dict) -> None:
        # progress durably lives in Spark's checkpoint; remember it only
        # as this process's admission-control floor
        self._observed = True
        self._floor = max(self._floor, end["version"])


class CommitLogDataSource(DataSource):
    """`spark.readStream.format("commitlog").option("path", d).load()` —
    register once per session via `register_commitlog_source`."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return table_stream_schema(
            self.options["path"],
            change_types=str(
                self.options.get("changetypes", "")
            ).lower() in ("true", "1", "yes"),
        )

    def streamReader(self, schema: StructType) -> CommitLogStreamReader:
        return CommitLogStreamReader(schema, dict(self.options))


def register_commitlog_source(spark: SparkSession) -> None:
    """Idempotent per-session registration (re-register replaces)."""
    spark.dataSource.register(CommitLogDataSource)
