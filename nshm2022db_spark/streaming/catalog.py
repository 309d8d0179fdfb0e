"""Catalog-level ATOMIC multi-table publish.

A warehouse operation routinely spans tables — an inverted index is
postings + document frequencies + corpus size; a medallion hop rewrites
a fact AND its rollup — but per-table commit logs (this repo's, Delta's,
Iceberg's without a transactional catalog) only make each table
individually atomic: a reader between two commits observes table A's new
version next to table B's old one. The CATALOG closes that gap the way
Iceberg's REST/Nessie catalogs do, on the same CAS-log protocol every
table here already uses:

* per-table commits stay exactly as they are — each table's own log is
  still the source of truth for single-table readers;
* a catalog commit atomically re-points a SNAPSHOT VECTOR
  ``{name: (table_dir, version)}`` — one ``os.link`` CAS, so catalog
  readers switch from one CONSISTENT vector to the next and can never
  see a torn set;
* a writer that dies after its table commits but before the catalog CAS
  leaves newer per-table versions unreferenced: the catalog keeps
  serving the previous consistent vector (Iceberg's
  uncommitted-snapshot semantics, lifted to catalog scope), and the
  orphaned versions remain ordinary time-travel history;
* CAS losers RETRY on a fresh read of the catalog, re-applying only
  their own updates — publishers of DISJOINT table sets therefore
  both land (vector merge), the catalog analogue of the per-table
  rebase rule.

Scale shape: a catalog commit is one tiny JSON manifest naming
(dir, version) pairs — O(tables), independent of data size; reads
resolve through the pinned per-table versions' own manifests, so all
existing pruning (partition map, stats, Blooms, column maps) applies
unchanged. At 100 TB the catalog is the coordination point for
multi-table pipelines exactly because it never touches data.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nshm2022db_spark.registry import register
from nshm2022db_spark.sources import read_table
from nshm2022db_spark.streaming.sinks import (
    _COMMITS,
    _manifest_names,
    _read_json,
    _resolve_manifest,
    current_commit,
    transact,
)


def current_catalog(catalog_dir: str) -> dict:
    """The latest committed catalog manifest
    ``{version, tables: {name: {dir, version}}}`` — version 0 with an
    empty vector before the first publish. The catalog log is a commit
    log like any table's, so its head is `current_commit`'s (ledger
    checkpoints beside it are never parsed as a vector, ADVICE r13): a
    missing file can only be a concurrent retention unlink of an OLDER
    name;
    anything else — corruption, IO faults — propagates instead of
    silently serving a stale vector."""
    m = current_commit(catalog_dir)
    return m if m["version"] else {"version": 0, "tables": {}}


def catalog_publish(
    catalog_dir: str,
    updates: dict[str, tuple[str, int]],
    branch: str | None = None,
) -> dict:
    """Atomically re-point the catalog's snapshot vector for the named
    tables: ``updates`` maps table name -> (table_dir, version) — the
    versions the caller just committed through the per-table logs.
    Unnamed tables carry forward; a CAS loser re-reads and re-applies
    ONLY its own updates, so concurrent publishers of disjoint sets
    both land. Returns the published manifest.

    ``branch`` addresses the publish to a NAMED BRANCH
    (catalog_branch): the branch's own vector advances, MAIN's vector
    is carried forward byte-for-byte — main readers cannot observe a
    branch write (the Nessie staging model; catalog_promote merges the
    branch back). A branch commit is an ordinary commit in the one
    linear CAS log: ``tables`` stays main's vector, the branch's new
    vector rides in ``branch_tables``, and the head's ``branches`` map
    re-points at it."""

    def attempt(cur, _new_stage):
        if branch is not None and branch not in cur.get("branches", {}):
            raise ValueError(
                f"branch {branch!r} does not exist in {catalog_dir}"
            )
        base = (
            dict(cur.get("tables", {}))
            if branch is None
            else dict(_resolve_branch_tables(catalog_dir, cur, branch))
        )
        for name, (d, v) in updates.items():
            base[name] = {"dir": os.path.abspath(d), "version": int(v)}
        # refs (named tags/branches) carry forward through every
        # publish — they are names on the history, not part of the
        # vector
        m = {
            "version": cur["version"] + 1,
            "tables": (
                base if branch is None else dict(cur.get("tables", {}))
            ),
            "refs": dict(cur.get("refs", {})),
            **_branches_carry(cur),
        }
        if branch is not None:
            m["branch_of"] = branch
            m["branch_seq"] = cur["branches"][branch].get("seq")
            m["branch_tables"] = base
            m["branches"][branch] = {
                **m["branches"][branch],
                "at": m["version"],
            }
        return m

    # the SAME os.link conditional-put every table's log uses — the
    # catalog is just one more CAS log, in transact's stage-less form
    return transact(catalog_dir, attempt)


_TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def _check_tag_name(name: str) -> None:
    if not isinstance(name, str) or not _TAG_NAME_RE.match(name):
        raise ValueError(
            f"invalid tag name {name!r}: use letters, digits, '.', '_', '-'"
        )


def _branches_carry(cur: dict) -> dict:
    """The ``branches`` map carried into a successor manifest (deep
    enough a CAS retry can't alias a stale read). Omitted when empty so
    pre-branch catalogs keep their manifest shape byte-identical."""
    b = cur.get("branches")
    return {"branches": {k: dict(v) for k, v in b.items()}} if b else {}


def _resolve_branch_tables(catalog_dir: str, cur: dict, name: str) -> dict:
    """The snapshot vector at a branch's HEAD. ``branches[name]['at']``
    names the catalog version holding it: a branch-addressed commit
    carries it in ``branch_tables``; the creation target (an ordinary
    main commit) carries it in ``tables``. The ``seq`` check matches
    the commit to THIS branch incarnation: a branch re-created under a
    dead branch's name, forked at one of the dead branch's own
    commits, must serve that manifest's MAIN vector — matching on the
    name alone would resurrect the deleted branch's abandoned
    ``branch_tables`` (r15 review #1). Resolution goes through
    ``catalog_at``, so a branch whose head manifest was vacuumed
    refuses instead of serving a neighbor."""
    ref = cur["branches"][name]
    m = catalog_at(catalog_dir, version=int(ref["at"]))
    if m.get("branch_of") == name and m.get("branch_seq") == ref.get("seq"):
        return m.get("branch_tables", {})
    return m.get("tables", {})


def catalog_branch(
    catalog_dir: str,
    name: str,
    version: int | None = None,
) -> dict:
    """Create a WRITABLE NAMED BRANCH — the Nessie/Iceberg branch model
    beside catalog_tag's immutable refs: ``catalog_publish(...,
    branch=name)`` advances the branch head independently of main,
    readers resolve it via ``catalog_at(branch=name)`` /
    ``read_catalog_table(catalog_branch=name)``, and
    ``catalog_promote`` merges it back in one atomic CAS. The staging
    workflow a 100 TB training org runs: land + validate a curation
    rebuild on ``staging`` while main keeps serving, then promote.

    ``version`` is the fork point (default: current head; must be a
    retained version). The branch records its ``base`` — the main
    vector it forked from — which promotion uses for per-table
    conflict detection. Branch heads are retention PINS like tags:
    catalog_vacuum never retires the manifest a live branch resolves
    through. Names share one namespace with tags (a ref must resolve
    unambiguously). Branches are mutable by design, so re-creating an
    existing branch refuses (delete it first)."""
    _check_tag_name(name)

    def attempt(cur, _new_stage):
        target = cur["version"] if version is None else int(version)
        if target < 1:
            raise ValueError("cannot branch the empty pre-publish catalog")
        # validates retention (vacuumed / not-yet-committed refuse)
        catalog_at(catalog_dir, version=target)
        if name in cur.get("refs", {}):
            raise ValueError(
                f"{name!r} already names a tag in {catalog_dir}; "
                "tags and branches share one ref namespace"
            )
        branches = dict(_branches_carry(cur).get("branches", {}))
        if name in branches:
            raise ValueError(
                f"branch {name!r} already exists at catalog version "
                f"{branches[name]['at']}; delete it first"
            )
        # seq = the creation commit's own version: a unique incarnation
        # id, so commits of a prior same-named (deleted) branch can
        # never resolve as this branch's (r15 review #1)
        branches[name] = {
            "at": target, "base": target, "seq": cur["version"] + 1,
        }
        return {
            "version": cur["version"] + 1,
            "tables": dict(cur.get("tables", {})),
            "refs": dict(cur.get("refs", {})),
            "branches": branches,
        }

    m = transact(catalog_dir, attempt)
    target = m["branches"][name]["at"]
    # same post-CAS re-validation as catalog_tag: a vacuum racing the
    # window between the retention check and the CAS could retire the
    # fork target; roll back and refuse rather than leave a dangling
    # branch (ADVICE r14 rule)
    try:
        catalog_at(catalog_dir, version=target)
    except Exception:
        catalog_branch_delete(catalog_dir, name)
        raise ValueError(
            f"catalog version {target} was vacuumed while branching; "
            f"branch {name!r} rolled back"
        )
    return m


def catalog_branch_delete(catalog_dir: str, name: str) -> dict:
    """Drop a branch ref (its commits become ordinary vacuumable
    history — Nessie's delete-branch). Unknown names refuse, matching
    catalog_tag_delete."""

    def attempt(cur, _new_stage):
        branches = dict(_branches_carry(cur).get("branches", {}))
        if name not in branches:
            raise ValueError(
                f"branch {name!r} does not exist in {catalog_dir}"
            )
        del branches[name]
        m = {
            "version": cur["version"] + 1,
            "tables": dict(cur.get("tables", {})),
            "refs": dict(cur.get("refs", {})),
        }
        if branches:
            m["branches"] = branches
        return m

    return transact(catalog_dir, attempt)


def catalog_promote(
    catalog_dir: str,
    name: str,
    delete_branch: bool = True,
) -> dict:
    """PROMOTE a branch into main — one atomic CAS commit, so every
    main reader flips from the old vector to the merged one with no
    torn state (the staging→main promotion the branch exists for).

    Merge rule (Nessie's fast-forward-or-merge, per table): tables the
    branch CHANGED since its fork base take the branch's version;
    tables only MAIN changed keep main's; a table changed on BOTH
    sides is a CONFLICT and the promotion refuses — resolving
    divergent table histories is the caller's job (re-publish to the
    branch from a fresh fork), never something to guess at. When main
    hasn't moved since the fork this degenerates to a pure
    fast-forward of the branch vector. The promotion commit is
    auditable history (``promoted_from``); the branch ref is dropped
    by default (Nessie merge-then-delete)."""

    def attempt(cur, _new_stage):
        branches = dict(_branches_carry(cur).get("branches", {}))
        if name not in branches:
            raise ValueError(
                f"branch {name!r} does not exist in {catalog_dir}"
            )
        ref = branches[name]
        br = _resolve_branch_tables(catalog_dir, cur, name)
        base = catalog_at(catalog_dir, version=int(ref["base"])).get(
            "tables", {}
        )
        main = dict(cur.get("tables", {}))
        merged = dict(main)
        for t, ent in br.items():
            if ent == base.get(t):
                continue  # branch didn't change it: keep main's view
            if ent == main.get(t):
                continue  # main already holds the branch's version
                # (an already-promoted table re-promotes as a no-op,
                # Nessie's idempotent merge — not a conflict)
            if main.get(t) != base.get(t):
                raise ValueError(
                    f"promote conflict on table {t!r}: changed on both "
                    f"main and branch {name!r} since fork base "
                    f"{ref['base']} in {catalog_dir}"
                )
            merged[t] = dict(ent)
        # a table the branch DELETED (absent from br, present in base)
        # is dropped from main unless main independently changed it
        # (main having ALSO deleted it is agreement, not a conflict)
        for t, ent in base.items():
            if t not in br:
                if t in main and main[t] != ent:
                    raise ValueError(
                        f"promote conflict on table {t!r}: deleted on "
                        f"branch {name!r} but changed on main in "
                        f"{catalog_dir}"
                    )
                merged.pop(t, None)
        new_version = cur["version"] + 1
        if delete_branch:
            branches.pop(name, None)
        else:
            # the kept branch FAST-FORWARDS onto the merge result
            # (Nessie's merge-then-continue): head and base both move
            # to the promotion commit, whose ``tables`` IS the merged
            # vector — without this, the branch's next promotion would
            # falsely conflict against its own prior merge
            # (r15 review #2)
            branches[name] = {
                "at": new_version,
                "base": new_version,
                "seq": ref.get("seq"),
            }
        m = {
            "version": new_version,
            "tables": merged,
            "refs": dict(cur.get("refs", {})),
            "promoted_from": {"branch": name, "at": int(ref["at"])},
        }
        if branches:
            m["branches"] = branches
        return m

    return transact(catalog_dir, attempt)


def catalog_tag(
    catalog_dir: str,
    name: str,
    version: int | None = None,
    replace: bool = False,
) -> dict:
    """Create a NAMED TAG on a catalog version — Iceberg's refs at
    catalog scope: ``catalog_at(tag='train-v1')`` resolves the tagged
    multi-table vector forever after, and ``catalog_vacuum`` treats
    tagged versions as protected snapshots (retention pinning is the
    point of a tag: a 100 TB training run records 'train-v1' once and
    the exact input set survives every later vacuum).

    ``version`` defaults to the current head; the target must be a
    RETAINED version (resolved through ``catalog_at``, so tagging a
    vacuumed version refuses). Tags are IMMUTABLE like Iceberg's —
    re-pointing an existing tag requires ``replace=True``. The tag
    lands as its own catalog commit (Nessie's model: a ref change IS a
    commit), carrying the head's table vector forward, so tagging
    never perturbs what readers see and the tag operation itself is
    auditable history. Returns the published manifest."""
    _check_tag_name(name)
    seen: dict = {}

    def attempt(cur, _new_stage):
        target = cur["version"] if version is None else int(version)
        if target < 1:
            raise ValueError("cannot tag the empty pre-publish catalog")
        # validates retention (vacuumed / not-yet-committed refuse)
        catalog_at(catalog_dir, version=target)
        refs = dict(cur.get("refs", {}))
        if name in cur.get("branches", {}):
            raise ValueError(
                f"{name!r} already names a branch in {catalog_dir}; "
                "tags and branches share one ref namespace"
            )
        if name in refs and refs[name] != target and not replace:
            raise ValueError(
                f"tag {name!r} already points at version {refs[name]}; "
                "tags are immutable — pass replace=True to re-point"
            )
        seen["prev"] = refs.get(name)  # pre-existing target (replace=True)
        refs[name] = target
        return {
            "version": cur["version"] + 1,
            "tables": dict(cur.get("tables", {})),
            "refs": refs,
            **_branches_carry(cur),
        }

    m = transact(catalog_dir, attempt)
    target, prev = m["refs"][name], seen["prev"]
    # The retention check above ran BEFORE the CAS: a
    # concurrent catalog_vacuum that read refs in that window
    # could have retired the target manifest, leaving a
    # committed tag that dangles. Re-validate now that the tag
    # is visible — vacuum respects visible tags, so a target
    # that still resolves here stays protected from this point
    # on; if it was retired in the window, roll the tag back
    # and refuse (ADVICE r14). A replace=True re-point rolls
    # back to the PREVIOUS target — the caller asked to move a
    # tag, losing it entirely (and its retention pin) would be
    # strictly worse (r15 review #3); only if the old target
    # was itself retired in the same window does the tag drop.
    try:
        catalog_at(catalog_dir, version=target)
    except Exception:
        try:
            if prev is not None:
                catalog_tag(
                    catalog_dir, name, version=int(prev),
                    replace=True,
                )
            else:
                catalog_tag_delete(catalog_dir, name)
        except Exception:
            # the restore itself lost a further race (prev was
            # retired too, or a NESTED rollback already dropped
            # the ref) — make sure the tag ends simply absent
            # rather than dangling, tolerating the
            # already-deleted case so the original error below
            # is never masked by a 'does not exist' from a
            # double delete (r15 review #2, follow-up pass)
            try:
                catalog_tag_delete(catalog_dir, name)
            except ValueError:
                pass
        raise ValueError(
            f"catalog version {target} was vacuumed while tagging; "
            f"tag {name!r} rolled back"
        )
    return m


def catalog_tag_delete(catalog_dir: str, name: str) -> dict:
    """Drop a named tag (its version becomes ordinary vacuumable
    history). Unknown names refuse — deleting a ref you think exists
    but doesn't is a caller bug, not a no-op."""

    def attempt(cur, _new_stage):
        refs = dict(cur.get("refs", {}))
        if name not in refs:
            raise ValueError(f"tag {name!r} does not exist in {catalog_dir}")
        del refs[name]
        return {
            "version": cur["version"] + 1,
            "tables": dict(cur.get("tables", {})),
            "refs": refs,
            **_branches_carry(cur),
        }

    return transact(catalog_dir, attempt)


def catalog_at(
    catalog_dir: str,
    version: int | None = None,
    as_of: float | None = None,
    tag: str | None = None,
    branch: str | None = None,
) -> dict:
    """Catalog TIME TRAVEL: the snapshot vector as of a past catalog
    ``version`` or wall-clock instant (``as_of``, epoch seconds against
    each manifest's ``committed_at``) — the catalog-level AS OF an
    Iceberg REST/Nessie catalog serves, and what a 100 TB lakehouse
    reader uses for a REPRODUCIBLE multi-table training snapshot: one
    historical vector, every table at the version that was live
    together.

    ``version`` and ``as_of`` resolve by per-table time travel's own
    rule (sinks' `_resolve_manifest`): a version or an instant behind
    the retention boundary — ``catalog_vacuum`` retired it, or a
    tag-pinned gap may hide it — REFUSES (ValueError) rather than
    silently serving a neighbor, and version 0 or an instant before the
    first publish is the empty pre-publish vector only while version 1
    is retained.

    A ``version`` opens one manifest; ``as_of`` walks the tiny JSON log
    newest first. No data is read: the returned vector feeds
    ``read_catalog_table(snapshot=...)`` so all per-table pruning
    applies unchanged.

    ``tag`` resolves a NAMED ref (catalog_tag) through the CURRENT
    head's ref map — Iceberg's semantics: refs are live names, always
    read from the latest metadata, never from historical manifests."""
    if sum(x is not None for x in (version, as_of, tag, branch)) != 1:
        raise ValueError(
            "pass exactly one of version / as_of / tag / branch"
        )
    if branch is not None:
        # branches are live refs like tags: resolved through the
        # CURRENT head's branch map, serving the branch's OWN vector
        cur = current_catalog(catalog_dir)
        if branch not in cur.get("branches", {}):
            raise ValueError(
                f"branch {branch!r} does not exist in {catalog_dir}"
            )
        at = int(cur["branches"][branch]["at"])
        return {
            "version": at,
            "tables": dict(_resolve_branch_tables(catalog_dir, cur, branch)),
            "branch": branch,
        }
    if tag is not None:
        refs = current_catalog(catalog_dir).get("refs", {})
        if tag not in refs:
            raise ValueError(f"tag {tag!r} does not exist in {catalog_dir}")
        version = int(refs[tag])
    m = _resolve_manifest(catalog_dir, version, as_of)
    return {"version": 0, "tables": {}} if m is None else m


def read_catalog_table(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    snapshot: dict | None = None,
    catalog_version: int | None = None,
    catalog_as_of: float | None = None,
    catalog_tag: str | None = None,
    catalog_branch: str | None = None,
) -> DataFrame | None:
    """Read a table AT the catalog's pinned version (None if the catalog
    doesn't reference it). Pass ``snapshot`` (a ``current_catalog`` /
    ``catalog_at`` result) to read SEVERAL tables from ONE consistent
    vector while publishers race — grabbing the snapshot once is the
    whole point. ``catalog_version`` / ``catalog_as_of`` /
    ``catalog_tag`` are shorthand for ``snapshot=catalog_at(...)``: a
    single-table historical read through the catalog's own time
    travel (or a named tag)."""
    from nshm2022db_spark.streaming.sinks import read_keyed_table

    picked = (
        snapshot, catalog_version, catalog_as_of, catalog_tag,
        catalog_branch,
    )
    if sum(x is not None for x in picked) > 1:
        raise ValueError(
            "pass at most one of snapshot / catalog_version / "
            "catalog_as_of / catalog_tag / catalog_branch"
        )
    if any(x is not None for x in picked[1:]):
        snapshot = catalog_at(
            catalog_dir,
            version=catalog_version,
            as_of=catalog_as_of,
            tag=catalog_tag,
            branch=catalog_branch,
        )
    cur = snapshot if snapshot is not None else current_catalog(catalog_dir)
    ent = cur.get("tables", {}).get(name)
    if ent is None:
        return None
    return read_keyed_table(spark, ent["dir"], version=ent["version"])


def catalog_rollback(catalog_dir: str, version: int) -> dict:
    """Iceberg-style catalog ROLLBACK: re-publish the snapshot vector of
    a retained historical version as the NEW head — a forward commit,
    never a rewrite, so the botched publishes stay in history (auditable,
    still time-travelable) while every catalog reader atomically snaps
    back to the known-good multi-table state. Resolves through
    ``catalog_at`` and therefore refuses past the vacuum boundary. The
    CAS loop is ``transact``'s: a concurrent publisher can slip
    in, and the rollback REPLACES the whole vector (unlike publish's
    merge) because restoring a consistent past state is the point.
    Returns the published manifest."""
    target = dict(catalog_at(catalog_dir, version=version).get("tables", {}))

    def attempt(cur, _new_stage):
        # refs carry from the HEAD, not the target: tags are names on
        # the history and must survive a vector rollback
        return {
            "version": cur["version"] + 1,
            "tables": dict(target),
            "refs": dict(cur.get("refs", {})),
            **_branches_carry(cur),
        }

    return transact(catalog_dir, attempt)


def catalog_vacuum(catalog_dir: str, keep_last_snapshots: int = 1) -> dict:
    """Catalog-driven retention — the loop-closer for the orphaned
    versions atomic publish leaves behind: protect, for every table the
    last ``keep_last_snapshots`` catalog snapshots reference, the PINNED
    versions and everything newer (an in-flight writer's commits land at
    the head and must survive), then vacuum each table's older history
    through the table's own ``vacuum_versions`` (which already handles
    shared data dirs, clone reference safety, and batch-id ledger
    preservation). Catalog manifests older than the protected window
    retire with the same unlink discipline — the newest is never
    touched. Tables the protected snapshots do NOT reference are left
    alone entirely: the catalog only ever reclaims history it pins.

    TAGGED versions (catalog_tag) are protected snapshots too — the
    Iceberg ref-pinning rule: a version named by any ref in the head's
    ref map keeps its manifest AND its tables' pinned versions, however
    old it is. Delete the tag and the next vacuum reclaims it.

    Returns ``{"tables": {dir: vacuum report}, "catalog_versions":
    [...]}``. Cost is O(manifests) — no data is read; deletion is the
    table vacuum's own data-dir reclaim."""
    from nshm2022db_spark.streaming.sinks import vacuum_versions

    if keep_last_snapshots < 1:
        raise ValueError("keep_last_snapshots must be >= 1")
    log = os.path.join(catalog_dir, _COMMITS)
    names = _manifest_names(catalog_dir)
    head = current_catalog(catalog_dir)
    refs = head.get("refs", {})
    branches = head.get("branches", {})
    # tag targets AND live branch heads/bases are ref pins — a branch
    # must survive vacuum both at its head (what it serves) and at its
    # fork base (what promotion diffs against)
    ref_versions = set(map(int, refs.values())) | {
        int(b[k]) for b in branches.values() for k in ("at", "base")
    }
    tagged = {f"{v:020d}.json" for v in ref_versions}
    protected_names = set(names[-keep_last_snapshots:]) | (
        tagged & set(names)
    )
    pins: dict[str, int] = {}
    for n in sorted(protected_names):
        m = _read_json(os.path.join(log, n))
        if m is None:
            continue
        # a branch commit pins BOTH vectors it carries: ``tables`` is
        # main's carry-forward, ``branch_tables`` the branch's own
        for ent in [
            *m.get("tables", {}).values(),
            *m.get("branch_tables", {}).values(),
        ]:
            d, v = ent["dir"], int(ent["version"])
            pins[d] = min(pins.get(d, v), v)
    reports = {}
    for d, min_pin in pins.items():
        # protect BY VERSION inside the vacuum's own single history
        # read — a commit landing between our pin computation and the
        # vacuum can only add newer (still-protected) versions, never
        # shift a count window over the pinned one (ADVICE r13)
        reports[d] = vacuum_versions(d, 1, keep_from_version=min_pin)
    dropped = []
    for n in names[:-keep_last_snapshots]:
        if n in protected_names:
            continue  # tag-pinned: the named snapshot must stay readable
        try:
            os.unlink(os.path.join(log, n))
            dropped.append(int(n.split(".")[0]))
        except FileNotFoundError:
            pass
    return {"tables": reports, "catalog_versions": dropped}


# ---------------------------------------------------------------------------
# Registered proof query
# ---------------------------------------------------------------------------

_CATALOG_ORACLE = """
    SELECT event_type,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           COUNT(*) AS n,
           TRUE AS initial_consistent,
           TRUE AS mid_crash_consistent,
           TRUE AS final_consistent
    FROM events GROUP BY event_type
"""


def _vector_consistent(
    spark: SparkSession, catalog_dir: str, snapshot: dict | None = None
) -> bool:
    """The cross-table invariant of the proof pair: the totals table's
    grand sums equal the rollup table's column sums — true only when
    the catalog serves BOTH tables from the same publish."""
    snap = snapshot if snapshot is not None else current_catalog(catalog_dir)
    x = read_catalog_table(spark, catalog_dir, "by_type", snapshot=snap)
    y = read_catalog_table(spark, catalog_dir, "totals", snapshot=snap)
    xs = x.agg(
        F.sum("id_sum").alias("id_sum"), F.sum("n").alias("n")
    ).collect()[0]
    ys = y.collect()[0]
    return (xs["id_sum"], xs["n"]) == (ys["id_sum"], ys["n"])


@register("catalog_atomic_publish", _CATALOG_ORACLE)
def catalog_atomic_publish(spark: SparkSession, sf: str) -> DataFrame:
    """Atomic multi-table publish, proven mid-flight: a per-event_type
    rollup table and a 1-row grand-totals table must always agree
    (SUM over one == the other — a torn read breaks it). The flow:

    1. build both from HALF the events, commit each, catalog-publish
       v1 — the catalog read is consistent (``initial_consistent``);
    2. commit the FULL rollup to the by_type table and CRASH before
       the catalog publish — a direct table read now sees the new
       version, but the catalog still serves the OLD CONSISTENT pair
       (``mid_crash_consistent``: the invariant holds AND the catalog
       demonstrably pins the pre-crash version);
    3. commit the full totals and catalog-publish both — the catalog
       flips to the new consistent vector in one CAS
       (``final_consistent``), and the rollup it serves is the oracle's
       full-corpus answer.

    The three booleans are bounded scalar checks (1-row aggregates of
    the two proof tables — the sanctioned driver-side scalar budget);
    the returned rollup itself stays distributed. Per-call scratch is
    reaped (the protocol re-runs by design — its cost IS the measured
    thing, same family as commit_rebase_stats)."""
    from nshm2022db_spark.streaming.events import _reap_scratch
    from nshm2022db_spark.streaming.sinks import (
        current_commit,
        overwrite_partition_transaction,
    )

    events = read_table(spark, sf, "events").select(
        "event_id", "event_type", (F.col("event_id") % 2 == 0).alias("half")
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count(F.lit(1)).alias("n"),
        )

    def totals(df: DataFrame) -> DataFrame:
        return df.agg(
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count(F.lit(1)).alias("n"),
        ).withColumn("pk", F.lit(0))

    cat = tempfile.mkdtemp(prefix="catalog_")
    x_dir = os.path.join(cat, "by_type")
    y_dir = os.path.join(cat, "totals")

    # stage 1: consistent v1 pair from half the corpus, published atomically
    half = events.filter("half")
    overwrite_partition_transaction(spark, x_dir, "event_type", rollup(half))
    overwrite_partition_transaction(spark, y_dir, "pk", totals(half))
    catalog_publish(
        cat,
        {
            "by_type": (x_dir, current_commit(x_dir)["version"]),
            "totals": (y_dir, current_commit(y_dir)["version"]),
        },
    )
    initial_ok = _vector_consistent(spark, cat)
    pinned_x = current_catalog(cat)["tables"]["by_type"]["version"]

    # stage 2: the by_type table advances; the writer "crashes" before
    # the catalog publish — the catalog must keep serving the old pair
    overwrite_partition_transaction(spark, x_dir, "event_type", rollup(events))
    mid_ok = (
        _vector_consistent(spark, cat)
        and current_catalog(cat)["tables"]["by_type"]["version"] == pinned_x
        and current_commit(x_dir)["version"] > pinned_x
    )

    # stage 3: finish the pair and flip the catalog in one CAS
    overwrite_partition_transaction(spark, y_dir, "pk", totals(events))
    catalog_publish(
        cat,
        {
            "by_type": (x_dir, current_commit(x_dir)["version"]),
            "totals": (y_dir, current_commit(y_dir)["version"]),
        },
    )
    final_ok = _vector_consistent(spark, cat)

    out = read_catalog_table(spark, cat, "by_type").select(
        "event_type",
        "id_sum",
        "n",
        F.lit(initial_ok).alias("initial_consistent"),
        F.lit(mid_ok).alias("mid_crash_consistent"),
        F.lit(final_ok).alias("final_consistent"),
    )
    return _reap_scratch(out, spark, cat)


_TIME_TRAVEL_ORACLE = """
    SELECT event_type,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           COUNT(*) AS n,
           TRUE AS historical_consistent,
           TRUE AS head_consistent,
           TRUE AS head_advanced,
           TRUE AS tag_pinned
    FROM events WHERE event_id % 2 = 0 GROUP BY event_type
"""


@register("catalog_time_travel", _TIME_TRAVEL_ORACLE)
def catalog_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Catalog-level AS OF: the multi-table snapshot vector of a PAST
    publish stays readable — and stays CONSISTENT — while the head
    moves on. The reproducible-training-snapshot flow at 100 TB: pin
    catalog version N once, and every table read through that vector is
    the exact set that was live together, no matter how many publishes
    land afterwards.

    1. publish v1: rollup + grand-totals pair built from HALF the
       events (same cross-table invariant as catalog_atomic_publish);
    2. advance BOTH tables to the full corpus and publish v2 — the
       head vector now serves the full answer;
    3. ``catalog_at(version=1)`` resolves the RETIRED-from-head vector:
       the historical pair must still agree with each other AND the
       same instant must resolve by TIMESTAMP (``as_of`` between the
       two publishes → version 1) — ``historical_consistent``;
    4. the head read stays consistent (``head_consistent``) and
       demonstrably moved past the pinned versions (``head_advanced``);
    5. (r14) v1 is TAGGED ``train-v1`` before the head moves, then
       ``catalog_vacuum(keep_last_snapshots=1)`` runs: the untagged
       tag-commit manifest (v2) retires and refuses afterwards, the
       TAGGED v1 survives the vacuum (Iceberg's ref-pinned expiration)
       and still serves a consistent pair by name, and an ``as_of``
       instant that now falls in the retention GAP refuses instead of
       silently serving the older tagged neighbor — ``tag_pinned``.

    The RETURNED rollup is the post-vacuum TAG-resolved historical read
    itself, so the oracle (half-corpus GROUP BY) hash-pins that the tag
    serves the OLD data through retention, not a relabeled head.
    Booleans are bounded scalar checks; the rollup stays distributed."""
    import time as _time

    from nshm2022db_spark.streaming.events import _reap_scratch
    from nshm2022db_spark.streaming.sinks import (
        current_commit,
        overwrite_partition_transaction,
    )

    events = read_table(spark, sf, "events").select(
        "event_id", "event_type", (F.col("event_id") % 2 == 0).alias("half")
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count(F.lit(1)).alias("n"),
        )

    def totals(df: DataFrame) -> DataFrame:
        return df.agg(
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count(F.lit(1)).alias("n"),
        ).withColumn("pk", F.lit(0))

    cat = tempfile.mkdtemp(prefix="catalog_tt_")
    x_dir = os.path.join(cat, "by_type")
    y_dir = os.path.join(cat, "totals")

    half = events.filter("half")
    overwrite_partition_transaction(spark, x_dir, "event_type", rollup(half))
    overwrite_partition_transaction(spark, y_dir, "pk", totals(half))
    catalog_publish(
        cat,
        {
            "by_type": (x_dir, current_commit(x_dir)["version"]),
            "totals": (y_dir, current_commit(y_dir)["version"]),
        },
    )
    t_between = _time.time()  # an instant when v1 was the live vector
    v1_pins = {
        n: e["version"] for n, e in current_catalog(cat)["tables"].items()
    }
    catalog_tag(cat, "train-v1", version=1)  # v2: the tag commit

    overwrite_partition_transaction(spark, x_dir, "event_type", rollup(events))
    overwrite_partition_transaction(spark, y_dir, "pk", totals(events))
    catalog_publish(
        cat,
        {
            "by_type": (x_dir, current_commit(x_dir)["version"]),
            "totals": (y_dir, current_commit(y_dir)["version"]),
        },
    )

    hist = catalog_at(cat, version=1)
    hist_ok = (
        _vector_consistent(spark, cat, snapshot=hist)
        and hist["tables"]["by_type"]["version"] == v1_pins["by_type"]
        and catalog_at(cat, as_of=t_between)["version"] == 1
    )
    head = current_catalog(cat)
    head_ok = _vector_consistent(spark, cat, snapshot=head)
    # v1 publish, v2 tag commit, v3 full publish
    advanced = head["version"] == 3 and all(
        head["tables"][n]["version"] > v for n, v in v1_pins.items()
    )

    # retention: keep the head; the untagged v2 retires, the TAGGED v1
    # survives by name (ref-pinned expiration)
    vac = catalog_vacuum(cat, keep_last_snapshots=1)
    tagged = catalog_at(cat, tag="train-v1")
    def _refuses(fn) -> bool:
        try:
            fn()
            return False
        except ValueError:
            return True
    tag_ok = (
        2 in vac["catalog_versions"]
        and 1 not in vac["catalog_versions"]
        and tagged["version"] == 1
        and _vector_consistent(spark, cat, snapshot=tagged)
        # the retired tag-commit refuses; so does an as_of instant that
        # now falls in the retention gap the tag created
        and _refuses(lambda: catalog_at(cat, version=2))
        and _refuses(lambda: catalog_at(cat, as_of=t_between))
    )

    out = read_catalog_table(
        spark, cat, "by_type", catalog_tag="train-v1"
    ).select(
        "event_type",
        "id_sum",
        "n",
        F.lit(hist_ok).alias("historical_consistent"),
        F.lit(head_ok).alias("head_consistent"),
        F.lit(advanced).alias("head_advanced"),
        F.lit(tag_ok).alias("tag_pinned"),
    )
    return _reap_scratch(out, spark, cat)


_BRANCHES_ORACLE = """
    SELECT event_type,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           COUNT(*) AS n,
           TRUE AS branch_isolated,
           TRUE AS branch_consistent,
           TRUE AS promoted_atomic
    FROM events GROUP BY event_type
"""


@register("catalog_branches", _BRANCHES_ORACLE)
def catalog_branches(spark: SparkSession, sf: str) -> DataFrame:
    """WRITABLE BRANCHES + atomic promotion — the staging→main
    promotion workflow (Nessie's branch model at catalog scope; the
    machinery catalog_tag's immutable refs point toward, VERDICT r14
    #4). A 100 TB curation rebuild lands and validates on ``staging``
    while main keeps serving; promotion is ONE CAS commit.

    1. publish main v1: the rollup + grand-totals proof pair built
       from HALF the events (the catalog_atomic_publish invariant);
    2. ``catalog_branch('staging')`` forks at v1;
    3. rebuild BOTH tables from the FULL corpus and
       ``catalog_publish(branch='staging')`` — the branch head
       advances; MAIN still serves the v1 vector even though direct
       table reads already see the new versions
       (``branch_isolated``: main's pinned versions are unchanged
       AND its pair still agrees);
    4. the branch read (``catalog_at(branch='staging')``) serves the
       NEW consistent pair (``branch_consistent``);
    5. ``catalog_promote('staging')`` fast-forwards main in one CAS:
       the head now serves the branch's vector, the pair agrees, and
       the branch ref is gone (``promoted_atomic``).

    The RETURNED rollup is the post-promotion MAIN read — the
    full-corpus oracle hash-pins that promotion served the branch's
    data through main, not a relabeled half-build. Booleans are
    bounded scalar checks; the rollup stays distributed. Per-call
    scratch is reaped (protocol cost IS the measured thing, the
    catalog_atomic_publish family)."""
    from nshm2022db_spark.streaming.events import _reap_scratch
    from nshm2022db_spark.streaming.sinks import (
        current_commit,
        overwrite_partition_transaction,
    )

    events = read_table(spark, sf, "events").select(
        "event_id", "event_type", (F.col("event_id") % 2 == 0).alias("half")
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count(F.lit(1)).alias("n"),
        )

    def totals(df: DataFrame) -> DataFrame:
        return df.agg(
            F.sum("event_id").cast("long").alias("id_sum"),
            F.count(F.lit(1)).alias("n"),
        ).withColumn("pk", F.lit(0))

    cat = tempfile.mkdtemp(prefix="catalog_br_")
    x_dir = os.path.join(cat, "by_type")
    y_dir = os.path.join(cat, "totals")

    half = events.filter("half")
    overwrite_partition_transaction(spark, x_dir, "event_type", rollup(half))
    overwrite_partition_transaction(spark, y_dir, "pk", totals(half))
    catalog_publish(
        cat,
        {
            "by_type": (x_dir, current_commit(x_dir)["version"]),
            "totals": (y_dir, current_commit(y_dir)["version"]),
        },
    )
    v1_pins = {
        n: e["version"] for n, e in current_catalog(cat)["tables"].items()
    }

    catalog_branch(cat, "staging")  # v2: fork at v1

    # the staging rebuild: both tables advance, the branch publish
    # lands them on the branch head only
    overwrite_partition_transaction(spark, x_dir, "event_type", rollup(events))
    overwrite_partition_transaction(spark, y_dir, "pk", totals(events))
    catalog_publish(
        cat,
        {
            "by_type": (x_dir, current_commit(x_dir)["version"]),
            "totals": (y_dir, current_commit(y_dir)["version"]),
        },
        branch="staging",
    )  # v3: branch commit

    main = current_catalog(cat)
    isolated = (
        {n: e["version"] for n, e in main["tables"].items()} == v1_pins
        and current_commit(x_dir)["version"] > v1_pins["by_type"]
        and _vector_consistent(spark, cat, snapshot=main)
    )
    br = catalog_at(cat, branch="staging")
    branch_ok = _vector_consistent(spark, cat, snapshot=br) and all(
        br["tables"][n]["version"] > v for n, v in v1_pins.items()
    )

    promoted = catalog_promote(cat, "staging")
    head = current_catalog(cat)

    def _refuses(fn) -> bool:
        try:
            fn()
            return False
        except ValueError:
            return True

    promote_ok = (
        head["version"] == promoted["version"]
        and head["tables"] == br["tables"]
        and _vector_consistent(spark, cat, snapshot=head)
        and _refuses(lambda: catalog_at(cat, branch="staging"))
    )

    out = read_catalog_table(spark, cat, "by_type").select(
        "event_type",
        "id_sum",
        "n",
        F.lit(isolated).alias("branch_isolated"),
        F.lit(branch_ok).alias("branch_consistent"),
        F.lit(promote_ok).alias("promoted_atomic"),
    )
    return _reap_scratch(out, spark, cat)
