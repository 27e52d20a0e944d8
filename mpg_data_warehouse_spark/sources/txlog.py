"""Transaction-log table format: ACID tables over plain parquet.

The reference's mutation surface (WRITE_TRUNCATE replaces,
notebooks/fix_gridVeg_additional_species_na_rows.ipynb:913-926;
backup-then-mutate with manual rollback recipes,
notebooks/update_gridVeg_survey_metadata.ipynb:1392-1402) wants a
transactional backend: Delta/Iceberg on a real deployment. Those jars
are not in this environment, so this module implements the same
design — the public Delta Lake architecture (Armbrust et al., "Delta
Lake: High-Performance ACID Table Storage over Cloud Object Stores",
VLDB 2020) — natively on Spark + parquet:

- A table is a directory of immutable parquet data files plus an
  ordered log of JSON commits under ``_txlog/``. Commit N's file is
  ``_txlog/<N:08d>.json``; its actions are ``add`` / ``remove`` of
  data files. The live snapshot at version N is (all adds) − (all
  removes) with version ≤ N.
- A commit is atomic: the JSON is installed through a pluggable
  ``CommitBackend`` whose one primitive is put-if-absent
  (``set_commit_backend`` injects the store; the default
  ``LocalFSCommitBackend`` stages + hard-links for local/HDFS-style
  filesystems, an object-store deployment plugs in conditional put —
  S3 ``If-None-Match: *`` / GCS generation-match-0).
  Writers that lose the race re-read the log and retry (appends) or
  raise a conflict (overlapping rewrites) — optimistic concurrency.
- Readers replay the log to a pinned version: snapshot isolation and
  ``VERSION AS OF`` time travel for free. Data files are immutable, so
  a reader never sees a half-written table.
- Every ``CHECKPOINT_EVERY`` commits the live file list is also written
  as one parquet checkpoint; replay then reads the newest checkpoint +
  the JSON tail. At 100 TB with millions of commits, log replay stays
  O(checkpoint + tail), not O(history) — the paper's key scale trick.
- ``add`` actions carry per-file row counts and per-column min/max
  taken from the parquet FOOTERS of the just-written files (metadata
  only — no second data pass). MERGE/DELETE use them to prune
  untouched files before any scan, then identify truly-hit files with
  a key-column-only scan over the survivors; only hit files are
  rewritten. File-level pruning is what keeps point-ish mutations on a
  100 TB table proportional to the touched data, not the table.

Row-group stats, not a data scan, bound every driver-side structure:
the log holds one small dict per FILE (not per row), so driver memory
scales with file count — at 100 TB / 1 GB files that is ~10^5 entries.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_DIR = "_txlog"
CHECKPOINT_EVERY = 10
# rollup maintenance column: signed live-row count per group
_NROWS = "__nrows"
_COMMIT_RE = re.compile(r"^(\d{8})\.json$")


class TxConflict(Exception):
    """Another writer committed a conflicting change first."""


# ---------------------------------------------------------------------------
# log primitives
# ---------------------------------------------------------------------------


def _log_path(table: str) -> str:
    return os.path.join(table, LOG_DIR)


def latest_version(table: str) -> int:
    """Newest committed version, or -1 for a nonexistent/empty log."""
    log = _log_path(table)
    if not os.path.isdir(log):
        return -1
    versions = [
        int(m.group(1))
        for f in os.listdir(log)
        if (m := _COMMIT_RE.match(f))
    ]
    return max(versions) if versions else -1


def _read_commit(table: str, version: int) -> dict:
    with open(os.path.join(_log_path(table), f"{version:08d}.json")) as fh:
        return json.load(fh)


def _last_stamped_version(rollup_path: str) -> int | None:
    """The SOURCE version the rollup at ``rollup_path`` provably
    reflects: the ``rollup_src_version`` stamp on its newest stamped
    commit. None when no commit is stamped — a fresh path, a legacy
    two-commit bootstrap that crashed between create and stamp, or a
    foreign table; in all three cases the content is unattributable
    and callers must (re)build, never merge into it. ONE
    implementation, shared by both rollup maintainers (a past
    divergence left the sum rollup without the sketch rollup's
    unstamped-recovery fix)."""
    head = latest_version(rollup_path)
    for v in range(head, -1, -1):
        meta = _read_commit(rollup_path, v).get("rollup_src_version")
        if meta is not None:
            return meta
    return None


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:08d}.checkpoint.json")


def _newest_checkpoint_at_or_before(table: str, version: int) -> int | None:
    log = _log_path(table)
    if not os.path.isdir(log):
        return None
    cps = [
        int(m.group(1))
        for f in os.listdir(log)
        if (m := re.match(r"^(\d{8})\.checkpoint\.json$", f))
        and int(m.group(1)) <= version
    ]
    return max(cps) if cps else None


def snapshot_state(table: str, version: int | None = None) -> dict:
    """Replay the log to ``version`` (default: newest). Returns
    ``{"version": int, "files": {relpath: add_action}, "schema": ddl,
    "partition_by": [...], "meta": dict | None}``. ``meta`` is the
    newest commit ``meta`` at or before ``version`` (commits without
    one carry it forward). Replay cost is one checkpoint + the JSON
    tail after it, never the full history."""
    head = latest_version(table)
    if head < 0:
        raise FileNotFoundError(f"no transaction log at {table}")
    if version is None:
        version = head
    if version > head or version < 0:
        raise ValueError(f"version {version} not in log (head={head})")

    files: dict[str, dict] = {}
    schema = None
    partition_by: list[str] = []
    meta = None
    start = 0
    cp = _newest_checkpoint_at_or_before(table, version)
    if cp is not None:
        with open(_checkpoint_path(table, cp)) as fh:
            state = json.load(fh)
        files = dict(state["files"])
        schema = state["schema"]
        partition_by = state["partition_by"]
        meta = state.get("meta")
        start = cp + 1

    for v in range(start, version + 1):
        commit = _read_commit(table, v)
        schema = commit.get("schema", schema)
        partition_by = commit.get("partition_by", partition_by)
        meta = commit.get("meta", meta)
        for action in commit["actions"]:
            if "add" in action:
                files[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                files.pop(action["remove"]["path"], None)
    return {
        "version": version,
        "files": files,
        "schema": schema,
        "partition_by": partition_by,
        "meta": meta,
    }


class CommitBackend:
    """Atomic put-if-absent installer for commit files — the ONE
    primitive the whole ACID design rests on (Delta paper §3.2: the
    log store must provide mutual exclusion on the commit object).

    Implementations map directly onto real storage:

    - local / HDFS / ABFS: atomic exclusive create (``open(.., "x")``
      / ``FileSystem.create(overwrite=false)``) — the default below.
    - S3 / GCS / R2: conditional put (``If-None-Match: *`` /
      ``x-goog-if-generation-match: 0``); S3 has supported it natively
      since 2024, so no DynamoDB coordinator is needed.

    ``put_if_absent`` must be ALL-OR-NOTHING: either the full payload
    is installed and True returns, or nothing is visible and False
    returns (another writer owns the version). Readers must never see
    a partial commit file.
    """

    def put_if_absent(self, path: str, payload: str) -> bool:
        raise NotImplementedError


class LocalFSCommitBackend(CommitBackend):
    """Exclusive-create backend for POSIX-rename filesystems. The
    payload is staged to a temp file and hard-linked into place:
    ``link(2)`` fails with EEXIST if the target exists and is atomic,
    so a reader never observes a partially-written commit even if the
    writer dies mid-write (plain ``open(.., "x")`` + write exposes the
    in-progress file under its final name)."""

    def put_if_absent(self, path: str, payload: str) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(payload)
            # Durability, not just atomicity: without fsync a power
            # loss can install the link with EMPTY/partial content —
            # the bytes must be on stable storage BEFORE the name
            # becomes visible (classic crash-consistency ordering).
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
            dfd = os.open(os.path.dirname(path), os.O_RDONLY)
            try:
                os.fsync(dfd)  # persist the directory entry itself
            finally:
                os.close(dfd)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


_COMMIT_BACKEND: CommitBackend = LocalFSCommitBackend()


def set_commit_backend(backend: CommitBackend) -> CommitBackend:
    """Install the commit backend (e.g. an object-store conditional-
    put implementation) and return the previous one, so deployments
    inject their store without modifying this module."""
    global _COMMIT_BACKEND
    prev = _COMMIT_BACKEND
    _COMMIT_BACKEND = backend
    return prev


def _try_commit(table: str, version: int, commit: dict) -> bool:
    """Install commit ``version`` with put-if-absent semantics.
    Returns False if that version already exists (lost race)."""
    log = _log_path(table)
    os.makedirs(log, exist_ok=True)
    target = os.path.join(log, f"{version:08d}.json")
    if not _COMMIT_BACKEND.put_if_absent(target, json.dumps(commit)):
        return False
    if version % CHECKPOINT_EVERY == 0 and version > 0:
        state = snapshot_state(table, version)
        # durable write (fsync file + dir before install): a crash
        # that installs the checkpoint NAME without its blocks would
        # wedge every later snapshot_state on a truncated JSON — the
        # same ordering rule the commit backend itself enforces. The
        # storage backend's atomic text write is the one
        # implementation of that rule.
        from mpg_data_warehouse_spark.sources.storage import (
            get_storage_backend,
        )

        get_storage_backend().write_text_atomic(
            _checkpoint_path(table, version),
            json.dumps(
                {
                    "files": state["files"],
                    "schema": state["schema"],
                    "partition_by": state["partition_by"],
                    "meta": state["meta"],
                }
            ),
        )
    return True


# ---------------------------------------------------------------------------
# data-file writes + footer stats
# ---------------------------------------------------------------------------


def _write_data_files(
    df: DataFrame, table: str, partition_by: list[str]
) -> list[dict]:
    """Write ``df`` as immutable parquet files under a fresh
    ``files/<uuid>/`` subdir and return their ``add`` actions with
    footer-derived stats. Files land OUTSIDE any live snapshot until a
    commit references them, so a failed write leaves garbage, never a
    corrupt table (vacuum collects it)."""
    sub = os.path.join("files", uuid.uuid4().hex)
    dest = os.path.join(table, sub)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(dest)
    return _scan_add_actions(table, sub, partition_by)


def _scan_add_actions(
    table: str, sub: str, partition_by: list[str]
) -> list[dict]:
    """Footer-only stats pass over the files just written (pyarrow
    metadata reads — no Spark job, no data pages)."""
    import pyarrow.parquet as pq

    adds = []
    root = os.path.join(table, sub)
    for dirpath, _dirs, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, table)
            meta = pq.ParquetFile(full).metadata
            if meta.num_rows == 0:
                # empty part files (idle write partitions) carry no
                # stats and would defeat pruning AND conflict checks
                # as perpetual "could contain anything" files — a
                # zero-row file contributes nothing; never commit it
                os.remove(full)
                continue
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            # a column gets FILE-level bounds only if EVERY row group
            # contributed min/max — writers legally omit a chunk's
            # statistics (oversized values, stats disabled), and
            # bounds covering only some row groups would present as
            # file-wide, letting read_pruned/merge wrongly skip a file
            # whose stats-less row group holds a matching key (silent
            # dropped rows / duplicate-key inserts). Partial stats →
            # no bounds → the file is conservatively always scanned.
            gapped: set[str] = set()
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    cname = col.path_in_schema
                    stats = col.statistics
                    if stats is None or not stats.has_min_max:
                        gapped.add(cname)
                        continue
                    lo, hi = stats.min, stats.max
                    if isinstance(lo, bytes):
                        # physical-binary stats: skip, stay conservative
                        gapped.add(cname)
                        continue
                    lo, hi = _jsonable(lo), _jsonable(hi)
                    if cname not in mins or lo < mins[cname]:
                        mins[cname] = lo
                    if cname not in maxs or hi > maxs[cname]:
                        maxs[cname] = hi
            for cname in gapped:
                mins.pop(cname, None)
                maxs.pop(cname, None)
            # hive-style partition values encoded in the path
            parts: dict[str, str] = {}
            for seg in os.path.relpath(dirpath, root).split(os.sep):
                if "=" in seg:
                    k, _, val = seg.partition("=")
                    parts[k] = val
            adds.append(
                {
                    "path": rel,
                    "rows": meta.num_rows,
                    "min": mins,
                    "max": maxs,
                    "partition": parts,
                }
            )
    return adds


def _uri_to_path(uri: str) -> str:
    """Alias of ``storage.uri_to_path`` (kept for the module's
    existing call sites)."""
    from mpg_data_warehouse_spark.sources.storage import uri_to_path

    return uri_to_path(uri)


def _jsonable(v):
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _read_files(
    spark: SparkSession,
    table: str,
    state: dict,
    rel_paths: list[str] | None = None,
) -> DataFrame:
    """Read an explicit live-file list as one DataFrame.

    Unpartitioned tables are a single multi-path parquet read.
    Partitioned tables write their hive ``col=value`` dirs under each
    commit's ``files/<uuid>/`` group, so partition-column recovery
    needs ``basePath`` per GROUP (a table-root basePath would make
    Spark parse the uuid segment as a partition) — one read per live
    commit group, unioned by name. ``compact()`` bounds the group
    count, so plan width stays O(1) under maintenance, not O(appends).
    """
    rels = sorted(state["files"] if rel_paths is None else rel_paths)
    if not rels:
        return spark.createDataFrame([], state["schema"])
    # The LOG's schema is authoritative (Delta does the same): an
    # explicit reader schema (a) serves pre-evolution files' missing
    # columns as null without footer-merging costs, and (b) disables
    # hive partition-value TYPE INFERENCE, which would otherwise read
    # a string partition value like '007' back as int 7.
    from pyspark.sql.types import _parse_datatype_string

    schema = (
        _parse_datatype_string(state["schema"]) if state["schema"] else None
    )

    def reader():
        r = spark.read
        return r.schema(schema) if schema is not None else r

    if not state["partition_by"]:
        return reader().parquet(*[os.path.join(table, p) for p in rels])
    groups: dict[str, list[str]] = {}
    for rel in rels:
        segs = rel.split(os.sep)
        groups.setdefault(os.path.join(*segs[:2]), []).append(rel)
    parts = [
        reader()
        .option("basePath", os.path.join(table, grp))
        .parquet(*[os.path.join(table, p) for p in members])
        for grp, members in sorted(groups.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def create(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    extra_commit_meta: dict | None = None,
) -> int:
    """Create the table at version 0. ``extra_commit_meta`` rides the
    create commit itself so derived-table stamps (e.g. the sketch
    rollup's ``rollup_src_version``) are ATOMIC with the data — a
    crash can never leave a created-but-unstamped table."""
    if latest_version(table) >= 0:
        raise FileExistsError(f"transaction log already exists at {table}")
    # validate BEFORE writing data files — a key-shadowing raise after
    # the write would orphan a full set of never-referenced files
    reserved = {"op", "schema", "partition_by", "actions", "meta"}
    if extra_commit_meta:
        for k in reserved & extra_commit_meta.keys():
            raise ValueError(f"extra_commit_meta would shadow {k!r}")
    partition_by = list(partition_by or [])
    adds = _write_data_files(df, table, partition_by)
    commit = {
        "op": "create",
        "schema": df.schema.simpleString(),
        "partition_by": partition_by,
        "actions": [{"add": a} for a in adds],
    }
    if extra_commit_meta:
        commit.update(extra_commit_meta)
    committed = _try_commit(table, 0, commit)
    if not committed:
        raise TxConflict(f"concurrent create at {table}")
    return 0


def read(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot read; ``version`` pins time travel (VERSION AS OF)."""
    return _read_files(spark, table, snapshot_state(table, version))


def read_subset(
    spark: SparkSession,
    table: str,
    state: dict,
    rel_paths: list[str],
    schema: str,
) -> DataFrame:
    """Read ``rel_paths``, a subset of the live files of ``state`` (a
    ``snapshot_state``), under ``schema``. Serves tables whose commits
    hold more than one file set, each with its own schema (a ranked
    index's postings and manifest): every read taken from one pinned
    state sees the same version, and none lists a directory."""
    return _read_files(spark, table, {**state, "schema": schema}, rel_paths)


# ---------------------------------------------------------------------------
# persisted indexes on the log
#
# Every persisted index (the ranked BM25 index, the IVF index) is one
# table here. A change writes its new data files, then installs ONE
# commit that adds and removes files and carries the index's own state
# (corpus stats, centroids, encoder) as ``meta``. Readers pin one
# ``snapshot_state`` and take that state and the live files of the
# partitions they probe from it, so a query planned during a change
# sees one whole version, and a crash before the commit leaves only
# files no version references (``vacuum`` collects them), which makes
# a blind retry always safe.
# ---------------------------------------------------------------------------


def _index_state(path: str, builder: str) -> dict:
    """``snapshot_state`` of an index, or the "rebuild" ``ValueError``
    for a directory laid out before its index moved onto the log."""
    try:
        return snapshot_state(path)
    except FileNotFoundError:
        raise ValueError(
            f"index at {path} has no transaction log (built by an older "
            f"layout?) — rebuild with {builder}"
        ) from None


def _part_files(state: dict, part: str, values=None) -> list[str]:
    """Live files carrying partition column ``part``, optionally only
    those partition values — chosen from the add actions, never by
    listing."""
    want = None if values is None else {str(v) for v in values}
    return sorted(
        p
        for p, a in state["files"].items()
        if part in a["partition"]
        and (want is None or a["partition"][part] in want)
    )


def _commit_index(
    path: str,
    base: int,
    op: str,
    meta: dict | None,
    adds: list[dict],
    removes=(),
    schema: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Install version ``base + 1``: the file actions and the index
    ``meta``, all or nothing (``meta=None`` carries version ``base``'s
    forward unchanged). A lost race raises ``TxConflict`` rather than
    re-basing: the change was derived from version ``base``. A build
    passes ``schema`` and ``partition_by``."""
    commit = {
        "op": op,
        "actions": [{"remove": {"path": p}} for p in sorted(removes)]
        + [{"add": a} for a in adds],
    }
    if meta is not None:
        commit["meta"] = meta
    if schema is not None:
        commit.update(schema=schema, partition_by=list(partition_by or []))
    if not _try_commit(path, base + 1, commit):
        raise TxConflict(
            f"index at {path} moved past version {base} during {op}; retry"
        )


def _commit_build(
    path: str, meta: dict, adds: list[dict], schema: str, partition_by
) -> None:
    """A (re)build: one commit that installs the new files and removes
    every file live at the current head."""
    base = latest_version(path)
    _commit_index(
        path,
        base,
        "build",
        meta,
        adds,
        snapshot_state(path)["files"] if base >= 0 else (),
        schema=schema,
        partition_by=partition_by,
    )


def _commit_retry(table: str, build_commit) -> int:
    """Optimistic-concurrency loop: ``build_commit(state)`` returns the
    commit dict for the state it read; retried against a fresh state if
    another writer takes the version slot first."""
    for _ in range(64):
        state = snapshot_state(table)
        version = state["version"] + 1
        if _try_commit(table, version, build_commit(state)):
            return version
    raise TxConflict(f"gave up after 64 commit races at {table}")


def _check_schema(state: dict, df: DataFrame) -> None:
    if state["schema"] and df.schema.simpleString() != state["schema"]:
        raise ValueError(
            "schema mismatch: table has "
            f"{state['schema']}, write has {df.schema.simpleString()}"
        )


def append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    merge_schema: bool = False,
) -> int:
    """Blind append: new files + add-only commit. Appends never
    conflict with appends — losing a version race just re-commits the
    same adds at the next slot.

    ``merge_schema=True`` is additive schema evolution (Delta's
    ``mergeSchema``): new columns in ``df`` widen the table schema via
    the commit's ``schema`` field (log metadata — zero data rewritten;
    old files simply lack the column and read as null). Type CHANGES
    on existing columns are still rejected — silent coercion corrupts;
    rewrite via ``overwrite(..., new_schema=True)`` for that."""
    state = snapshot_state(table)
    if merge_schema:
        _merge_schema_ddl(state["schema"], df)  # fail fast on conflicts
    else:
        _check_schema(state, df)
    adds = _write_data_files(df, table, state["partition_by"])

    def build(s: dict) -> dict:
        commit = {"op": "append", "actions": [{"add": a} for a in adds]}
        if merge_schema:
            # merge against the RETRY-FRESH schema: a concurrent
            # append may itself have evolved the table, and stamping a
            # stale merge here would silently drop its columns
            commit["schema"] = _merge_schema_ddl(s["schema"], df)
        return commit

    return _commit_retry(table, build)


def _merge_schema_ddl(table_schema: str | None, df: DataFrame) -> str:
    """Additive union of the table schema and ``df``'s: table fields
    first (original order), then genuinely new fields. Raises on a
    dtype conflict for any shared field name."""
    from pyspark.sql.types import _parse_datatype_string

    if not table_schema:
        return df.schema.simpleString()
    current = _parse_datatype_string(table_schema)
    incoming = {f.name: f for f in df.schema.fields}
    out = []
    for f in current.fields:
        inc = incoming.pop(f.name, None)
        if inc is not None and inc.dataType != f.dataType:
            raise ValueError(
                f"schema merge conflict on '{f.name}': table has "
                f"{f.dataType.simpleString()}, append has "
                f"{inc.dataType.simpleString()}"
            )
        out.append(f)
    out.extend(incoming.values())
    from pyspark.sql.types import StructType

    return StructType(out).simpleString()


def overwrite(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    new_schema: bool = False,
) -> int:
    """Atomic truncate-replace: one commit removes every live file and
    adds the replacement — readers see old or new, never both. The
    reference's WRITE_TRUNCATE with none of its visible-empty window.

    ``new_schema=True`` additionally REPLACES the table schema with
    ``df``'s via the commit's ``schema`` field — legal precisely here
    because the same commit removes every old file, so no live data
    constrains the new shape. This is the escape hatch for column
    TYPE changes, which ``append(merge_schema=True)`` rightly rejects
    (silent coercion corrupts); time travel still reads old versions
    under their own schema. Without the flag a mismatched schema
    raises, catching accidental drift."""
    state = snapshot_state(table)
    if not new_schema:
        _check_schema(state, df)
    adds = _write_data_files(df, table, state["partition_by"])

    def build(s: dict) -> dict:
        commit = {
            "op": "overwrite",
            "actions": [{"remove": {"path": p}} for p in sorted(s["files"])]
            + [{"add": a} for a in adds],
        }
        if new_schema:
            commit["schema"] = df.schema.simpleString()
        return commit

    return _commit_retry(table, build)


def _range_overlaps(action: dict, keys: list[str], bounds: dict) -> bool:
    """Conservative footer-stats prune: keep the file unless some key
    column's [min,max] is provably disjoint from the updates' range."""
    for k in keys:
        lo, hi = action["min"].get(k), action["max"].get(k)
        ulo, uhi = bounds.get(k, (None, None))
        if lo is None or hi is None or ulo is None or uhi is None:
            continue  # no stats -> cannot prune
        if hi < ulo or lo > uhi:
            return False
    return True


def _key_bounds(updates: DataFrame, keys: list[str]) -> dict:
    """Per-key (min, max) of the update batch — drives footer pruning
    and the write-skew conflict check."""
    bounds_row = updates.select(
        *[F.min(k).alias(f"lo_{k}") for k in keys],
        *[F.max(k).alias(f"hi_{k}") for k in keys],
    ).first()
    return {
        k: (_jsonable(bounds_row[f"lo_{k}"]), _jsonable(bounds_row[f"hi_{k}"]))
        for k in keys
    }


def _touched_files(
    spark: SparkSession,
    table: str,
    state: dict,
    updates: DataFrame,
    keys: list[str],
    bounds: dict | None = None,
    broadcast_updates: bool = True,
) -> list[str]:
    """Two-level pruning. Level 1: footer min/max vs the updates' key
    bounds (driver-side, no scan). Level 2: key-column-only scan of the
    survivors, semi-joined to the updates, to the exact file set via
    ``input_file_name`` — reads only the key columns of candidate
    files, never the table."""
    if bounds is None:
        bounds = _key_bounds(updates, keys)
    candidates = [
        p
        for p, a in state["files"].items()
        if _range_overlaps(a, keys, bounds)
    ]
    if not candidates:
        return []
    scan = _read_files(spark, table, state, candidates).select(
        *keys, F.input_file_name().alias("_file")
    )
    probe = updates.select(*keys).distinct()
    if broadcast_updates:
        probe = F.broadcast(probe)
    hit = scan.join(probe, on=keys).select("_file").distinct().collect()
    hit_set = {_uri_to_path(r["_file"]) for r in hit}
    return [
        p
        for p in candidates
        if os.path.abspath(os.path.join(table, p)) in hit_set
    ]


def _plan_merge(
    spark: SparkSession,
    table: str,
    state: dict,
    updates: DataFrame,
    keys: list[str],
    broadcast_updates: bool = True,
):
    """Shared MERGE planning (batch merge + streaming sink): returns
    ``(adds, removed, bounds)`` with the rewritten files already
    written. The caller owns the commit (and its extra metadata).

    The update batch must be a FUNCTION of the merge keys: multiple
    rows per key would make the upsert pick one partition-order-
    dependently (nondeterministic results — Delta raises
    ``MultipleSourceRowMatches`` for the same reason), and NULL key
    columns never match an equi-join, so every merge would re-insert
    them and null-keyed duplicates would accumulate forever. Both are
    detected in ONE aggregate over the (already key-grouped) batch
    and raised loudly; callers with duplicate sources dedupe with an
    explicit, deterministic rule first (e.g. max_by on an event
    timestamp).

    The batch is evaluated ONCE: it is persisted after the schema
    check, and the guard/bounds aggregate, the touched-file probe, the
    left-anti probe and the write all read that one materialization,
    released once the data files are written. So the footer-pruning
    bounds, the probed keys and the written rows are the same rows
    even when ``updates`` is nondeterministic (sample, limit, rand) —
    re-evaluated per use, it could write a key the probe never saw and
    leave a duplicate. The price: a batch larger than executor memory
    spills to local disk instead of being recomputed per use."""
    _check_schema(state, updates)
    # a projection, so the release below never drops a cache the
    # caller holds on ``updates`` itself
    updates = updates.select(*updates.columns).persist()
    try:
        # ONE aggregate job yields the dup/null-key guards AND the
        # footer-pruning key bounds (min/max over the grouped keys ==
        # min/max over the batch), and materializes the batch for every
        # later use.
        chk = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.max("_c").alias("_max_per_key"),
                F.max(
                    (
                        F.greatest(*[F.col(k).isNull() for k in keys])
                        if len(keys) > 1
                        else F.col(keys[0]).isNull()
                    ).cast("int")
                ).alias("_has_null_key"),
                *[F.min(k).alias(f"lo_{k}") for k in keys],
                *[F.max(k).alias(f"hi_{k}") for k in keys],
            )
            .first()
        )
        if chk is not None and chk["_max_per_key"] is not None:
            if chk["_max_per_key"] > 1:
                raise ValueError(
                    f"merge batch has up to {chk['_max_per_key']} rows per "
                    f"key {keys} — upsert result would be nondeterministic; "
                    "dedupe the batch with an explicit rule first"
                )
            if chk["_has_null_key"]:
                raise ValueError(
                    f"merge batch contains NULL values in key columns "
                    f"{keys} — null keys never match and would duplicate "
                    "on every merge"
                )
        bounds = {
            k: (_jsonable(chk[f"lo_{k}"]), _jsonable(chk[f"hi_{k}"]))
            for k in keys
        }
        if chk is None or chk["_max_per_key"] is None:
            # EMPTY batch (an idle CDC cycle / empty streaming
            # micro-batch): nothing to touch, nothing to write. Without
            # this early exit the all-None bounds keep every live file
            # as a candidate and the level-2 probe key-scans the ENTIRE
            # table against an empty frame — a full-table read per idle
            # cycle at 10^5-file scale. Callers still commit (the
            # streaming sink's epoch stamp must land for exactly-once
            # bookkeeping); the commit just carries no actions.
            return [], set(), bounds
        touched = _touched_files(
            spark, table, state, updates, keys, bounds, broadcast_updates
        )
        if touched:
            current = _read_files(spark, table, state, touched).select(
                *[F.col(f.name) for f in updates.schema.fields]
            )
            probe = updates.select(*keys)
            if broadcast_updates:
                probe = F.broadcast(probe)
            merged = current.join(
                probe, on=keys, how="left_anti"
            ).unionByName(updates)
        else:
            merged = updates
        adds = _write_data_files(merged, table, state["partition_by"])
        return adds, set(touched), bounds
    finally:
        updates.unpersist()


def _merge_conflict_check(
    s: dict, base_files: set[str], removed: set[str], keys: list[str], bounds: dict
) -> None:
    """Raise TxConflict if the fresh state ``s`` invalidates a planned
    merge: (a) a file we rewrote was removed underneath us, or (b) a
    file added concurrently may contain one of our keys (footer-range
    overlap — conservative), which would leave DUPLICATE keys after
    our upsert commits (write skew; Delta's ConcurrentAppendException)."""
    gone = removed - set(s["files"])
    if gone:
        raise TxConflict(
            f"files rewritten by a concurrent commit: {sorted(gone)}"
        )
    fresh = {
        p: a for p, a in s["files"].items() if p not in base_files
    }
    overlapping = [
        p for p, a in fresh.items() if _range_overlaps(a, keys, bounds)
    ]
    if overlapping:
        raise TxConflict(
            "concurrent commit added files possibly containing merge "
            f"keys: {sorted(overlapping)} — retry the merge on the new "
            "snapshot"
        )


def merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    broadcast_updates: bool = True,
) -> int:
    """MERGE (upsert): rows matching on ``keys`` are replaced by their
    update, unmatched updates are inserted. Only files that actually
    contain a matching key are rewritten; the rest of the table is
    untouched — commit cost is O(touched files + updates), not
    O(table). A concurrent commit that removed a touched file OR
    appended files whose key range overlaps this batch raises
    ``TxConflict`` instead of committing duplicate keys.

    ``updates`` is evaluated once per call (persisted, then released
    after the write), so a nondeterministic upstream cannot write rows
    the key probes never saw; a batch that does not fit in memory
    spills to local disk rather than being recomputed.

    ``broadcast_updates=False`` switches the key probes to shuffle
    joins for CDC-backfill-sized batches that would blow the
    broadcast limit."""
    state = snapshot_state(table)
    adds, removed, bounds = _plan_merge(
        spark, table, state, updates, keys, broadcast_updates
    )
    base_files = set(state["files"])

    def build(s: dict) -> dict:
        _merge_conflict_check(s, base_files, removed, keys, bounds)
        return {
            "op": "merge",
            "actions": [{"remove": {"path": p}} for p in sorted(removed)]
            + [{"add": a} for a in adds],
        }

    return _commit_retry(table, build)


def _literal_py(lit) -> object:
    """Catalyst Literal → the Python value footer stats compare with
    (the _jsonable encoding). None = unconvertible → no bound."""
    import datetime

    try:
        dt = lit.dataType().simpleString()
        v = lit.value()
    except Exception:
        return None
    if v is None:
        return None
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return int(str(v))
    if dt in ("float", "double") or dt.startswith("decimal"):
        # SQL fractional literals default to DECIMAL — stats for
        # float/double columns live as floats (_jsonable), so render
        # the bound the same way
        return float(str(v))
    if dt == "string":
        return str(v)
    if dt == "date":  # internal repr: days since epoch
        return _jsonable(
            datetime.date(1970, 1, 1) + datetime.timedelta(days=int(str(v)))
        )
    if dt.startswith("timestamp"):  # internal repr: epoch micros
        return _jsonable(
            datetime.datetime(1970, 1, 1)
            + datetime.timedelta(microseconds=int(str(v)))
        )
    return None  # decimals/binary/etc.: stay conservative


_DT_LITERAL_RE = None


def _parse_dt_literal(s: str):
    """Lenient ``yyyy-[m]m-[d]d[ T][h]h:[m]m[:[s]s[.f]]`` parse covering
    the string shapes Spark's string→date/timestamp cast accepts in
    predicates. Returns a datetime (midnight for date-only strings) or
    None for anything else — None means "no bound", never a guess."""
    import datetime
    import re

    global _DT_LITERAL_RE
    if _DT_LITERAL_RE is None:
        _DT_LITERAL_RE = re.compile(
            r"^\s*(\d{4})-(\d{1,2})-(\d{1,2})"
            r"(?:[ T](\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.(\d{1,9}))?)?)?"
            r"\s*$"
        )
    m = _DT_LITERAL_RE.match(s)
    if not m:
        return None
    try:
        if m.group(4) is None:
            return datetime.datetime(
                int(m.group(1)), int(m.group(2)), int(m.group(3))
            )
        frac = (m.group(7) or "").ljust(6, "0")[:6]
        return datetime.datetime(
            int(m.group(1)), int(m.group(2)), int(m.group(3)),
            int(m.group(4)), int(m.group(5)), int(m.group(6) or 0),
            int(frac) if frac else 0,
        )
    except ValueError:
        return None


def _coerce_bound(v, col_type: str | None, lit_is_string: bool):
    """Re-render a predicate literal in the encoding ``_jsonable`` uses
    for footer stats of ``col_type`` — ``_file_may_match``'s lexical
    compare is only sound when both sides share one encoding. The bug
    this guards: ``delete(t, "ts <= '2020-06-01 12:00'")`` used to keep
    the literal as a raw Python str while timestamp stats live as
    isoformat ('T' separator, which sorts after ' ' and digits), so a
    file whose rows DO match was wrongly pruned and DELETE silently
    left rows behind. ``lit_is_string`` marks a STRING-typed literal
    (vs a typed DATE/TIMESTAMP literal already isoformat-rendered by
    ``_literal_py``). Returns None when the literal cannot be soundly
    rendered in the column's encoding (→ contribute no bound)."""
    if col_type is None:
        # Unknown column type: only NUMERIC literals are safe — an
        # isoformat string from a typed DATE literal against TIMESTAMP
        # stats ('2020-06-01' vs '2020-06-01T00:00:00') is the same
        # unsound lexical compare as the raw-string case (the date-only
        # form sorts BEFORE every 'T'-suffixed stat of its own day, so
        # an upper bound wrongly prunes the midnight rows). Numbers
        # compare soundly against numeric stats of any width.
        return v if isinstance(v, (int, float)) else None
    if col_type == "string":
        # a typed date/timestamp literal against a STRING column makes
        # Spark cast the column, not the literal — isoformat vs raw
        # string stats is exactly the unsound compare, so drop it
        return v if lit_is_string else None
    if col_type in ("tinyint", "smallint", "int", "bigint", "float",
                    "double") or col_type.startswith("decimal"):
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, str):
            # Spark promotes string-vs-numeric comparisons to double
            try:
                return float(v)
            except ValueError:
                return None
        return None
    if col_type == "date":
        if isinstance(v, str):
            dt = _parse_dt_literal(v)
            # truncating a timestamp-shaped literal to its date only
            # LOOSENS the bound (keeps extra files) — always sound
            return None if dt is None else _jsonable(dt.date())
        return None
    if col_type.startswith("timestamp"):
        if isinstance(v, str):
            dt = _parse_dt_literal(v)
            # date-only strings cast to midnight, matching Spark
            return None if dt is None else _jsonable(dt)
        return None
    return None  # boolean/binary/complex: no stats pruning


def _predicate_bounds(
    spark: SparkSession, predicate: str, schema: dict | None = None
) -> dict:
    """SOUND per-column [lo, hi] bounds implied by a predicate's
    TOP-LEVEL conjuncts — the file-skipping translation Delta does
    for DELETE. Recognizes ``col <op> literal`` (=, <, <=, >, >=,
    both operand orders), ``BETWEEN``, and ``IN (literals)``; any
    unrecognized conjunct simply contributes nothing (a conjunction
    only ever NARROWS the matching set, so partial extraction stays
    sound — and an OR at the root yields no conjuncts and no
    pruning). ``schema`` (column → Spark type simpleString) drives
    ``_coerce_bound``: every literal is re-rendered in the stats
    encoding of ITS column's type before becoming a bound, so untyped
    string literals on date/timestamp/numeric columns ("ts <=
    '2020-06-01'") prune soundly instead of comparing raw str against
    isoformat. Returns {} when nothing usable is found."""
    try:
        expr = (
            spark._jsparkSession.sessionState().sqlParser()
            .parseExpression(predicate)
        )
    except Exception:
        return {}

    conjuncts = []
    stack = [expr]
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "And":
            stack.append(e.children().apply(0))
            stack.append(e.children().apply(1))
        else:
            conjuncts.append(e)

    def _attr_name(e) -> str | None:
        if e.getClass().getSimpleName() == "UnresolvedAttribute":
            return str(e.name()).split(".")[-1]
        return None

    types = {k.lower(): t for k, t in (schema or {}).items()}

    def _lit(col: str, e) -> object:
        """Literal under ``e`` rendered in ``col``'s stats encoding."""
        v = _literal_py(e)
        if v is None:
            return None
        try:
            lit_is_str = e.dataType().simpleString() == "string"
        except Exception:
            lit_is_str = isinstance(v, str)
        return _coerce_bound(
            v, types.get(col.lower()) if schema else None, lit_is_str
        )

    bounds: dict[str, list] = {}
    poisoned: set[str] = set()

    def narrow(col: str, lo=None, hi=None) -> None:
        if col in poisoned:
            return
        cur = bounds.setdefault(col, [None, None])
        try:
            if lo is not None and (cur[0] is None or lo > cur[0]):
                cur[0] = lo
            if hi is not None and (cur[1] is None or hi < cur[1]):
                cur[1] = hi
        except TypeError:
            # two conjuncts bound one column with incomparable literal
            # types (e.g. "k > 5 AND k > 'a'"): drop the column's
            # bounds entirely and scan — conservative, never a crash
            poisoned.add(col)
            bounds.pop(col, None)

    for c in conjuncts:
        kind = c.getClass().getSimpleName()
        kids = [c.children().apply(i) for i in range(c.children().size())]
        if kind == "UnresolvedFunction" and str(c.nameParts()).find(
            "between"
        ) >= 0 and len(kids) == 3:
            col = _attr_name(kids[0])
            if col:
                lo, hi = _lit(col, kids[1]), _lit(col, kids[2])
                if lo is not None and hi is not None:
                    narrow(col, lo=lo, hi=hi)
            continue
        if kind == "In" and kids:
            col = _attr_name(kids[0])
            if col:
                vals = [_lit(col, k) for k in kids[1:]]
                if vals and all(v is not None for v in vals):
                    try:
                        narrow(col, lo=min(vals), hi=max(vals))
                    except TypeError:  # mixed-type IN list
                        poisoned.add(col)
                        bounds.pop(col, None)
            continue
        if kind not in (
            "EqualTo",
            "LessThan",
            "LessThanOrEqual",
            "GreaterThan",
            "GreaterThanOrEqual",
        ) or len(kids) != 2:
            continue
        col, lit_e, flipped = _attr_name(kids[0]), kids[1], False
        if col is None:  # literal <op> col form
            col, lit_e, flipped = _attr_name(kids[1]), kids[0], True
        if col is None:
            continue
        lit = _lit(col, lit_e)
        if lit is None:
            continue
        if kind == "EqualTo":
            narrow(col, lo=lit, hi=lit)
        elif (kind in ("LessThan", "LessThanOrEqual")) != flipped:
            narrow(col, hi=lit)  # strict < keeps =v files: conservative
        else:
            narrow(col, lo=lit)
    return {k: tuple(v) for k, v in bounds.items() if v != [None, None]}


def _file_may_match(add: dict, bounds: dict) -> bool:
    """Conservative footer check: False only when some bounded column's
    file range is provably disjoint from the predicate's bounds."""
    for col, (lo, hi) in bounds.items():
        fmin, fmax = add["min"].get(col), add["max"].get(col)
        if fmin is None or fmax is None:
            continue  # no stats for this column: cannot prune on it
        try:
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
        except TypeError:
            continue  # incomparable encodings: stay conservative
    return True


def delete(
    spark: SparkSession, table: str, predicate: str
) -> int:
    """DELETE WHERE: files with no matching row survive untouched
    (identified by a scan counting matches per file); matching files
    are rewritten without the matching rows. SQL DELETE semantics:
    only rows where the predicate is TRUE are removed — rows where it
    evaluates to NULL survive (a bare ``NOT (pred)`` would silently
    drop them, since NOT(NULL) filters out too).

    Footer-stats pruning runs BEFORE the hit scan: bounds implied by
    the predicate's top-level conjuncts (``_predicate_bounds``) drop
    files that provably contain no match, so a point-ish delete on a
    clustered column costs O(touched files), not O(table) — the
    module's stated contract, previously honored by MERGE only. The
    extraction is conservative (unrecognized shapes scan everything)
    and the full predicate still runs inside the surviving scan, so
    answers never depend on it."""
    state = snapshot_state(table)
    if not state["files"]:
        return state["version"]
    col_types = None
    if state["schema"]:
        from pyspark.sql.types import _parse_datatype_string

        try:
            col_types = {
                f.name: f.dataType.simpleString()
                for f in _parse_datatype_string(state["schema"]).fields
            }
        except Exception:
            col_types = None  # unparseable DDL: coerce conservatively
    p_bounds = _predicate_bounds(spark, predicate, col_types)
    candidates = [
        p
        for p, a in state["files"].items()
        if not p_bounds or _file_may_match(a, p_bounds)
    ]
    if not candidates:
        return state["version"]
    scan = _read_files(spark, table, state, candidates)
    hit = (
        scan.where(predicate)
        .select(F.input_file_name().alias("_file"))
        .distinct()
        .collect()
    )
    hit_set = {_uri_to_path(r["_file"]) for r in hit}
    touched = [
        p
        for p in state["files"]
        if os.path.abspath(os.path.join(table, p)) in hit_set
    ]
    if not touched:
        return state["version"]
    survivors = _read_files(spark, table, state, touched).where(
        f"NOT coalesce(({predicate}), false)"
    )
    adds = _write_data_files(survivors, table, state["partition_by"])
    removed = set(touched)

    def build(s: dict) -> dict:
        gone = removed - set(s["files"])
        if gone:
            raise TxConflict(
                f"files rewritten by a concurrent commit: {sorted(gone)}"
            )
        return {
            "op": "delete",
            "predicate": predicate,
            "actions": [{"remove": {"path": p}} for p in sorted(removed)]
            + [{"add": a} for a in adds],
        }

    return _commit_retry(table, build)


def row_count(table: str, version: int | None = None) -> int:
    """Metadata-only COUNT(*): sum of the per-file row counts the add
    actions carry (taken from parquet footers at write time). The S8
    metadata-row-count surface on the ACID format — zero data pages
    read, O(live files) driver work, correct at ANY pinned version
    because the counts travel with the snapshot's file set."""
    state = snapshot_state(table, version)
    return sum(a["rows"] for a in state["files"].values())


def column_stats(table: str, version: int | None = None) -> dict:
    """Metadata-only per-column min/max over a snapshot: the fold of
    the footer stats the add actions already carry — the profiling
    fast path (no data pages read, O(live files) driver work), and
    correct at any pinned version.

    CONSERVATIVE like the pruning paths: a column is reported ONLY
    when every live file carries both bounds for it and no file's
    bounds are inverted (parquet truncates oversized string stats,
    which can surface as max='' < min). A partially-covered fold
    would return bounds that do not bound the data — absent columns
    mean "unknown, scan for it", never a wrong answer. Returns
    {column: (min, max)}."""
    state = snapshot_state(table, version)
    files = list(state["files"].values())
    if not files:
        return {}
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    seen: dict[str, int] = {}
    dropped: set[str] = set()
    for a in files:
        amin, amax = a.get("min", {}), a.get("max", {})
        for c in amin:
            if c not in amax or amax[c] < amin[c]:
                dropped.add(c)  # truncated/inverted per-file bounds
                continue
            seen[c] = seen.get(c, 0) + 1
            if c not in mins or amin[c] < mins[c]:
                mins[c] = amin[c]
            if c not in maxs or amax[c] > maxs[c]:
                maxs[c] = amax[c]
    return {
        c: (mins[c], maxs[c])
        for c, n in seen.items()
        if n == len(files) and c not in dropped
    }


def compact(
    spark: SparkSession,
    table: str,
    target_partitions: int | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
    zorder_bits: int = 16,
) -> int:
    """OPTIMIZE: rewrite every live file into one fresh commit group.
    Collapses small-file buildup from high-frequency appends AND (for
    partitioned tables) bounds the per-snapshot union width that
    ``_read_files`` pays per live commit group. Metadata-atomic like
    every other op; time travel to pre-compaction versions still works
    until vacuumed.

    ``cluster_by`` is OPTIMIZE's clustering half: range-repartition +
    in-file sort on the given columns, so each rewritten file owns a
    narrow, near-disjoint slice of the key space and its footer
    min/max becomes a sharp index. That turns the format's stats
    pruning (MERGE/DELETE ``_touched_files``, ``read_pruned``) from
    best-effort into decisive: a point mutation on a clustered 100 TB
    table touches O(1) files, an unclustered one touches every file
    whose random key range happens to straddle the key. Appends then
    interleave fresh unclustered files — re-cluster on a cadence,
    exactly like Delta's OPTIMIZE ZORDER.

    ``zorder_by=(c1, c2)`` is the TWO-dimensional clustering form
    (Delta's actual ZORDER BY): files are range-partitioned + sorted
    on the Morton-interleaved key of both numeric columns
    (``writers.zorder_value``; bounds from one min/max aggregate), so
    footer min/max tighten on BOTH dimensions and ``read_pruned`` /
    MERGE pruning serve either predicate. Mutually exclusive with
    ``cluster_by`` (which serves one lexicographic direction)."""
    if cluster_by and zorder_by:
        raise ValueError("pass cluster_by or zorder_by, not both")
    state = snapshot_state(table)
    df = _read_files(spark, table, state)
    if zorder_by:
        from mpg_data_warehouse_spark.sources.writers import zorder_value

        c1, c2 = zorder_by
        bounds = df.agg(
            F.min(c1).cast("double").alias("lo1"),
            F.max(c1).cast("double").alias("hi1"),
            F.min(c2).cast("double").alias("lo2"),
            F.max(c2).cast("double").alias("hi2"),
        ).first()
        if bounds["lo1"] is None or bounds["lo2"] is None:
            raise ValueError(
                f"zorder_by columns {zorder_by} are all-null or the "
                "table is empty — nothing to cluster on"
            )
        z = zorder_value(
            F.col(c1),
            bounds["lo1"],
            bounds["hi1"],
            F.col(c2),
            bounds["lo2"],
            bounds["hi2"],
            bits=zorder_bits,
        ).alias("_z")
        df = df.withColumn("_z", z)
        if target_partitions:
            df = df.repartitionByRange(target_partitions, F.col("_z"))
        else:
            df = df.repartitionByRange(F.col("_z"))
        df = df.sortWithinPartitions("_z").drop("_z")
    elif cluster_by:
        cols = [F.col(c) for c in cluster_by]
        if target_partitions:
            df = df.repartitionByRange(target_partitions, *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)
    elif target_partitions:
        df = df.repartition(target_partitions)
    adds = _write_data_files(df, table, state["partition_by"])
    removed = set(state["files"])

    def build(s: dict) -> dict:
        gone = removed - set(s["files"])
        if gone:
            raise TxConflict(
                f"files rewritten by a concurrent commit: {sorted(gone)}"
            )
        return {
            "op": "compact",
            "actions": [{"remove": {"path": p}} for p in sorted(removed)]
            + [{"add": a} for a in adds],
        }

    return _commit_retry(table, build)


def restore(spark: SparkSession, table: str, version: int) -> int:
    """Roll the table back to ``version`` as a NEW commit (history is
    append-only — the bad commits stay auditable, exactly Delta's
    RESTORE). Data files are immutable, so restore normally moves no
    data: it is a metadata-only commit.

    "Immutable" holds only inside the VACUUM retention horizon: a
    vacuum keeps files referenced by the newest ``retain_versions``
    snapshots, so restoring PAST that horizon would commit a HEAD
    referencing deleted files and make the live table unreadable.
    Every file the restore re-adds is therefore existence-checked
    before the commit installs; a vacuumed target raises instead of
    bricking the table (Delta errors the same way)."""
    old = snapshot_state(table, version)
    missing = sorted(
        p
        for p in old["files"]
        if not os.path.exists(os.path.join(table, p))
    )
    if missing:
        raise FileNotFoundError(
            f"cannot restore {table!r} to version {version}: "
            f"{len(missing)} data file(s) from that snapshot were "
            f"vacuumed (first: {missing[0]}) — the target version is "
            "past the VACUUM retention horizon"
        )

    def build(s: dict) -> dict:
        return {
            "op": "restore",
            "restored_version": version,
            "actions": [
                {"remove": {"path": p}}
                for p in sorted(set(s["files"]) - set(old["files"]))
            ]
            + [
                {"add": a}
                for p, a in sorted(old["files"].items())
                if p not in s["files"]
            ],
        }

    return _commit_retry(table, build)


def history(table: str) -> list[dict]:
    """Commit metadata, newest first (DESCRIBE HISTORY)."""
    head = latest_version(table)
    out = []
    for v in range(head, -1, -1):
        c = _read_commit(table, v)
        out.append(
            {
                "version": v,
                "op": c["op"],
                "adds": sum(1 for a in c["actions"] if "add" in a),
                "removes": sum(1 for a in c["actions"] if "remove" in a),
            }
        )
    return out


def vacuum(
    table: str,
    retain_versions: int = 1,
    min_age_seconds: float = 3600.0,
) -> list[str]:
    """Delete data files unreferenced by the newest
    ``retain_versions`` snapshots (plus any orphans from failed
    writes). Time travel older than the retention horizon dies with
    them — same trade Delta's VACUUM makes. Returns deleted paths.

    ``min_age_seconds`` guards IN-FLIGHT writers: a concurrent
    merge/append writes its data files BEFORE its commit references
    them, so an unreferenced-but-recent file may belong to a write
    about to land — deleting it would corrupt that commit. Only files
    older than the threshold are collected (Delta's file-retention
    window, default 7 days there; 1 h here — tune to the longest
    write you expect). Tests pass 0 to collect immediately."""
    import time

    if retain_versions < 1:
        raise ValueError("retain_versions must be >= 1")
    head = latest_version(table)
    keep: set[str] = set()
    for v in range(max(0, head - retain_versions + 1), head + 1):
        keep.update(snapshot_state(table, v)["files"])
    cutoff = time.time() - min_age_seconds
    doomed = []
    files_root = os.path.join(table, "files")
    for dirpath, _dirs, names in os.walk(files_root):
        for name in names:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, table)
            if (
                rel not in keep
                and not name.startswith(("_", "."))
                and os.path.getmtime(full) <= cutoff
            ):
                os.remove(full)
                doomed.append(rel)
    # drop now-empty uuid dirs so ls stays proportional to live data
    for dirpath, dirs, names in os.walk(files_root, topdown=False):
        if not dirs and not names and dirpath != files_root:
            shutil.rmtree(dirpath, ignore_errors=True)
    return sorted(doomed)


# ---------------------------------------------------------------------------
# incremental consumption: change feed + derived-table maintenance
# ---------------------------------------------------------------------------


def files_changed_between(
    table: str, from_version: int, to_version: int | None = None
) -> tuple[list[str], list[str]]:
    """(added, removed) file lists across ``(from_version,
    to_version]`` — net of churn: a file both added and removed inside
    the window never surfaces. Pure log metadata; no data I/O."""
    head = latest_version(table)
    if to_version is None:
        to_version = head
    if not 0 <= from_version <= to_version <= head:
        raise ValueError(
            f"bad version window ({from_version}, {to_version}] with head={head}"
        )
    added: set[str] = set()
    removed: set[str] = set()
    for v in range(from_version + 1, to_version + 1):
        for action in _read_commit(table, v)["actions"]:
            if "add" in action:
                added.add(action["add"]["path"])
            elif "remove" in action:
                p = action["remove"]["path"]
                if p in added:
                    added.discard(p)  # churned within the window
                else:
                    removed.add(p)
    return sorted(added), sorted(removed)


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two versions: every row with a
    ``_change_type`` column (``insert`` / ``delete``). An UPDATE via
    MERGE appears as delete-of-old + insert-of-new (keyed consumers
    reconcile on their key — the Delta CDF contract without the
    per-write change files).

    Cost is the point of the design: reads ONLY the files added or
    removed in the window (from log metadata), never the table. An
    incremental consumer of an append-mostly 100 TB table does
    per-cycle work proportional to the new data. Rows that moved
    files without changing (rewritten neighbors in a touched file,
    compaction churn) self-cancel ONLY if the consumer diffs; for
    exact row-level semantics over compaction, diff the two snapshot
    reads instead (``operators/versioned.table_diff``).
    """
    state = snapshot_state(table)  # schema/partitioning source
    added, removed = files_changed_between(table, from_version, to_version)
    ins = _read_files(spark, table, state, added).withColumn(
        "_change_type", F.lit("insert")
    )
    dels = _read_files(spark, table, state, removed).withColumn(
        "_change_type", F.lit("delete")
    )
    return ins.unionByName(dels)


def incremental_rollup(
    spark: SparkSession,
    table: str,
    rollup_path: str,
    group_cols: list[str],
    agg_exprs: dict[str, str],
) -> int:
    """Maintain a grouped SUM/COUNT rollup of a txlog table
    incrementally: each call reads only the files added/removed since
    the last processed version (recorded in the rollup table's own
    commit metadata), computes partial aggregates with deletions as
    NEGATED contributions, and MERGEs the delta into the rollup.

    ``agg_exprs`` maps output column → input column summed into it
    (``{"revenue": "amount", "n": "1"}`` — use "1" for row counts).
    Only sum-decomposable aggregates qualify; that is what makes the
    maintenance exact under inserts AND deletes without rescanning.

    At 100 TB: nightly appends of X GB cost O(X) + a rollup merge whose
    file rewrites are bounded by the rollup's own (group-sized, small)
    table. The full-table groupBy never runs again after bootstrap.
    Returns the source version the rollup now reflects.

    The rollup table carries a maintenance column ``__nrows`` (signed
    live-row count per group); groups whose every source row has been
    deleted merge to ``__nrows = 0`` and are DROPPED, so the rollup
    stays row-for-row identical to a from-scratch ``GROUP BY`` of the
    live table — without it a fully-deleted group would survive as a
    zero-valued phantom row.
    """
    if _NROWS in agg_exprs or _NROWS in group_cols:
        raise ValueError(f"{_NROWS!r} is reserved for rollup maintenance")
    src_head = latest_version(table)
    last = _last_stamped_version(rollup_path)
    state = snapshot_state(table)

    out_cols = [*agg_exprs, _NROWS]

    def partials(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy(*group_cols).agg(
            *[
                F.sum(F.expr(src) * F.lit(sign)).alias(out)
                for out, src in agg_exprs.items()
            ],
            F.sum(F.lit(sign)).alias(_NROWS),
        )

    if last is None:
        delta = partials(_read_files(spark, table, state), 1)
    else:
        added, removed = files_changed_between(table, last, src_head)
        if not added and not removed:
            return last
        delta = partials(
            _read_files(spark, table, state, added), 1
        ).unionByName(partials(_read_files(spark, table, state, removed), -1))
        # collapse the union so the merge sees one row per group
        delta = delta.groupBy(*group_cols).agg(
            *[F.sum(out).alias(out) for out in out_cols]
        )

    if last is None:
        if latest_version(rollup_path) >= 0:
            # a rollup table exists with NO stamp in its history — a
            # legacy two-commit bootstrap that crashed between create
            # and stamp, or a foreign table at this path. Its content
            # is unattributable: merging the full recompute into it
            # would silently DOUBLE every sum, so REPLACE it with the
            # fresh full build, stamp riding the same commit
            # (the sketch rollup's r9 rule, mirrored; removals derive
            # from the RETRIED state so a lost race can't leave a
            # concurrent writer's rows alongside the rebuild).
            rstate = snapshot_state(rollup_path)
            adds = _write_data_files(
                delta, rollup_path, rstate["partition_by"]
            )
            _commit_retry(
                rollup_path,
                lambda s: {
                    "op": "rollup-rebuild",
                    "schema": delta.schema.simpleString(),
                    "rollup_src_version": src_head,
                    "actions": [
                        {"remove": {"path": p}} for p in sorted(s["files"])
                    ]
                    + [{"add": a} for a in adds],
                },
            )
        else:
            # stamp rides the create commit: bootstrap is ONE atomic
            # commit — no crash window can leave an unstamped rollup
            create(
                spark,
                rollup_path,
                delta,
                extra_commit_meta={"rollup_src_version": src_head},
            )
        return src_head

    current = read(spark, rollup_path)
    if _NROWS not in current.columns:
        # legacy rollup built before the maintenance column existed:
        # fully-deleted groups cannot be detected, carry them as-is
        merged = (
            current.unionByName(delta.drop(_NROWS))
            .groupBy(*group_cols)
            .agg(*[F.sum(out).alias(out) for out in agg_exprs])
        )
    else:
        merged = (
            current.unionByName(delta)
            .groupBy(*group_cols)
            .agg(*[F.sum(out).alias(out) for out in out_cols])
            # a group whose live-row count cancelled to 0 has no source
            # rows left — drop it, matching a from-scratch GROUP BY
            .where(F.col(_NROWS) > 0)
        )
    rstate = snapshot_state(rollup_path)
    adds = _write_data_files(merged, rollup_path, rstate["partition_by"])
    removed_files = set(rstate["files"])

    def build(s: dict) -> dict:
        gone = removed_files - set(s["files"])
        if gone:
            raise TxConflict(
                f"files rewritten by a concurrent commit: {sorted(gone)}"
            )
        return {
            "op": "rollup-refresh",
            "rollup_src_version": src_head,
            "actions": [{"remove": {"path": p}} for p in sorted(removed_files)]
            + [{"add": a} for a in adds],
        }

    _commit_retry(rollup_path, build)
    return src_head


def read_pruned(
    spark: SparkSession,
    table: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with FILE-level skipping on ``col``'s range
    [lo, hi]: files whose footer min/max is provably disjoint never
    enter the scan (driver-side, zero I/O), and the residual row
    filter still applies inside survivors — same answers as
    ``read().where()``, touching only the files that can match. On a
    ``compact(cluster_by=[col])``-maintained table this is an index
    scan over plain parquet. Unbounded sides (lo/hi None) prune on
    the bounded side only; files without stats are always kept."""
    if lo is None and hi is None:
        raise ValueError("at least one of lo/hi is required")
    state = snapshot_state(table, version)
    # footer stats live JSON-serialized (_jsonable: dates/timestamps
    # as ISO strings) — the caller's raw bounds must cross the same
    # encoding before comparison, or a date bound raises
    # `str < datetime.date` against the stored stats (the merge path
    # already routes its bounds through _jsonable; same rule here)
    j_lo, j_hi = _jsonable(lo), _jsonable(hi)
    keep = []
    for p, a in state["files"].items():
        fmin, fmax = a["min"].get(col), a["max"].get(col)
        if fmin is None or fmax is None:
            keep.append(p)  # no stats: cannot prune
            continue
        if j_lo is not None and fmax < j_lo:
            continue
        if j_hi is not None and fmin > j_hi:
            continue
        keep.append(p)
    df = _read_files(spark, table, state, keep)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    return df.where(cond)


def diff_versions(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """EXACT row-level diff between two versions: keyed CDC via
    ``versioned.table_diff`` over the two snapshot reads —
    added/removed/changed per key, immune to file churn (compaction,
    merge rewrites of unchanged neighbors) that the file-delta
    ``read_changes`` feed surfaces as delete+insert pairs. Costs two
    snapshot scans reduced map-side to (keys, payload-hash) rows; use
    ``read_changes`` when the window is append-mostly and O(delta)
    matters more than churn-exactness."""
    from mpg_data_warehouse_spark.operators.versioned import table_diff

    if not keys:
        raise ValueError("keys are required for a row-level diff")
    head = latest_version(table)
    if to_version is None:
        to_version = head
    if not 0 <= from_version <= to_version <= head:
        raise ValueError(
            f"bad version window [{from_version}, {to_version}] with "
            f"head={head}"
        )
    old = read(spark, table, from_version)
    new = read(spark, table, to_version)
    # schema evolution between the versions: align both sides on the
    # UNION of columns (missing side reads null) so a change confined
    # to a later-added column is still detected
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
    return table_diff(old, new, keys)


def incremental_sketch_rollup(
    spark: SparkSession,
    table: str,
    rollup_path: str,
    group_cols: list[str],
    value_col: str,
    kind: str = "hll",
    id_cols: list[str] | None = None,
) -> int:
    """Maintain per-group DISTINCT sketches of a txlog table
    incrementally under APPEND-ONLY growth: each call sketches ONLY
    the files added since the last processed version (recorded in the
    rollup's own commit metadata, like ``incremental_rollup``) and
    merges the delta into the rollup — ``hll_merge`` register max for
    ``kind="hll"``, ``kmv_merge`` bottom-k for ``kind="kmv"``,
    ``quantile_merge`` bottom-k-by-id-hash for ``kind="quantile"``
    (requires ``id_cols``: the row-identity columns whose hash orders
    the uniform sample — per-group value quantiles maintained without
    ever rescanning old files).

    Why a separate op from ``incremental_rollup``: sums decompose
    under BOTH inserts and deletes (negated partials); sketch state is
    monotone under inserts only — a register max / bottom-k minimum
    cannot be retracted. So insert-only is load-bearing: delta
    maintenance ≡ full rescan EXACTLY (pinned by test), and a file
    REMOVAL inside the catch-up window raises instead of silently
    over-counting — rebuild the rollup (drop + re-bootstrap) after
    merge/delete/restore rewrite history.

    At 100 TB: the raw-corpus shuffle happens once per increment over
    just the new files; every coarser grain and every segment-overlap
    question afterwards merges |groups| × fixed-width sketch rows
    (``kind="kmv"`` keeps intersection open — audience overlap across
    rollup groups without raw rows). Returns the source version the
    rollup now reflects."""
    from mpg_data_warehouse_spark.operators import sketch as SK

    if kind == "hll":
        build = lambda df: SK.hll_sketch(df, group_cols, value_col)  # noqa: E731
        merge = lambda df: SK.hll_merge(df, group_cols)  # noqa: E731
    elif kind == "kmv":
        build = lambda df: SK.kmv_sketch(df, group_cols, value_col)  # noqa: E731
        merge = lambda df: SK.kmv_merge(df, group_cols)  # noqa: E731
    elif kind == "quantile":
        # same insert-monotonicity argument as KMV: the bottom-k rows
        # by id-hash over a union of disjoint row sets IS the merge of
        # the per-set bottom-k samples — delta ≡ full rescan exactly
        if not id_cols:
            raise ValueError(
                "kind='quantile' requires id_cols (the row-identity "
                "columns whose hash orders the sample)"
            )
        build = lambda df: SK.quantile_sketch(  # noqa: E731
            df, group_cols, value_col, id_cols
        )
        merge = lambda df: SK.quantile_merge(df, group_cols)  # noqa: E731
    else:
        raise ValueError(f"kind={kind!r} not in ('hll', 'kmv', 'quantile')")

    src_head = latest_version(table)
    last = _last_stamped_version(rollup_path)
    state = snapshot_state(table)

    if last is None:
        built = build(_read_files(spark, table, state))
        if latest_version(rollup_path) >= 0:
            # a rollup table exists with NO stamp in its history —
            # either a legacy two-commit bootstrap that crashed
            # between create and stamp, or a foreign table at this
            # path. Its content is unattributable, so REPLACE it with
            # the fresh full build, stamp riding the same commit
            # (calling create() here would raise FileExistsError
            # forever — the wedge this branch unwedges).
            rstate = snapshot_state(rollup_path)
            adds = _write_data_files(built, rollup_path,
                                     rstate["partition_by"])
            # removals derive from the RETRIED state ``s``, not the
            # pre-write snapshot: on a lost commit race the rebuild
            # must also remove files a concurrent writer added in
            # between, or its stale rows would survive alongside the
            # replacement — overwrite()'s rule, mirrored
            _commit_retry(
                rollup_path,
                lambda s: {
                    "op": "sketch-rollup-rebuild",
                    "schema": built.schema.simpleString(),
                    "rollup_src_version": src_head,
                    "actions": [
                        {"remove": {"path": p}} for p in sorted(s["files"])
                    ]
                    + [{"add": a} for a in adds],
                },
            )
        else:
            # stamp rides the create commit: bootstrap is ONE atomic
            # commit — no crash window can leave an unstamped rollup
            create(
                spark,
                rollup_path,
                built,
                extra_commit_meta={"rollup_src_version": src_head},
            )
        return src_head

    added, removed = files_changed_between(table, last, src_head)
    if removed:
        raise ValueError(
            "incremental_sketch_rollup: files were removed since the "
            f"last processed version ({sorted(removed)[:3]}…) — sketch "
            "state cannot retract rows; rebuild the rollup from scratch"
        )
    if not added:
        return last
    delta = build(_read_files(spark, table, state, added))
    current = read(spark, rollup_path)
    merged = merge(current.unionByName(delta))
    rstate = snapshot_state(rollup_path)
    adds = _write_data_files(merged, rollup_path, rstate["partition_by"])
    removed_files = set(rstate["files"])

    def build_commit(s: dict) -> dict:
        gone = removed_files - set(s["files"])
        if gone:
            raise TxConflict(
                f"files rewritten by a concurrent commit: {sorted(gone)}"
            )
        return {
            "op": "sketch-rollup-refresh",
            "rollup_src_version": src_head,
            "actions": [{"remove": {"path": p}} for p in sorted(removed_files)]
            + [{"add": a} for a in adds],
        }

    _commit_retry(rollup_path, build_commit)
    return src_head
