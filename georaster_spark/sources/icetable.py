"""Iceberg-style table layer (engine op E10).

The real Iceberg runtime jar is not in this image, so this module
implements the same *contract* on plain Parquet files:

- every write is a new immutable **snapshot** directory
  (``data/snap-<id>/``) of flat Parquet files — readers never see
  partial writes;
- a JSON **manifest** per snapshot records schema, per-file paths,
  sizes and column stats, and parent snapshot (lineage);
- **one scan per read**: the live files, whichever commits wrote
  them, are one Parquet ``FileScan``, however many commits there were;
- a single **pointer file** (``metadata/current``) names the live
  snapshot; commits are atomic pointer swaps (``os.replace``) with
  **optimistic concurrency** — the swap happens only if the table
  still points at the committer's basis snapshot, else
  ``CommitConflict`` (no lost updates between racing writers);
- **time travel**: ``read_table(..., snapshot_id=...)``;
- **rollback**: repoint without deleting data;
- **file skipping**: each commit records per-file column min/max/
  null-count stats (read from the parquet footers with pyarrow on
  the driver, which lists and sizes the files anyway; a footer is a
  few KB, so this starts no Spark job), and
  ``read_table(..., filters=[...])`` prunes whole files whose stat
  range cannot satisfy the predicate before Spark ever lists them —
  Iceberg's manifest-level ``lower_bounds``/``upper_bounds`` scan
  planning. With ``cluster_by`` layouts (disjoint key ranges per
  file) a point/range read touches ~one file out of thousands. This
  is the one pruning mechanism: there is no directory partitioning.

The API is deliberately shaped so a real Iceberg catalog can replace
it (``write_table`` ↔ ``df.writeTo(...).append``, ``read_table`` ↔
``spark.table``). Mirrors the reference's multi-IFD/overview listing
(one file = many images, ``src/geotiff.rs:57-66``) at the table
level: one table = many snapshots, the reader picks one.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from georaster_spark.session import local_df


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the table advanced past the
    snapshot this commit was based on. Re-read and retry (the written
    data files are orphaned and reclaimed by ``expire_snapshots``)."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _pointer(path: str) -> str:
    return os.path.join(_meta_dir(path), "current")


def _manifest_path(path: str, snapshot_id: str) -> str:
    return os.path.join(_meta_dir(path), f"manifest-{snapshot_id}.json")


def _filegroup_path(path: str, snapshot_id: str, k: int) -> str:
    # distinct prefix: snapshots() globs manifest-*; group files are
    # NOT manifests
    return os.path.join(_meta_dir(path), f"filegroup-{snapshot_id}-g{k:05d}.json")


class _commit_lock:
    """Tiny advisory lock serializing the check-pointer-then-swap
    critical section, held as a kernel ``flock`` on a PERMANENT lock
    file.

    Round-5 redesign (ADVICE r4): the previous O_CREAT|O_EXCL file
    with a 60 s steal horizon had an irreducible release race — the
    holder's ``__exit__`` read its own token and then unlinked, and
    a pause between the two steps past the horizon could unlink a
    STEALER's fresh lock, re-opening the critical section to a third
    committer. A kernel flock releases atomically with the holder
    (explicit unlock, close, or process death — no stale-lock
    horizon, no steal, no token), so the failure mode disappears
    instead of merely narrowing. The lock file is never unlinked:
    unlink-after-release is the classic flock race (a waiter holding
    the old inode and a waiter creating a fresh one both "acquire").
    Documented trade-off: a holder that is alive but hung keeps the
    lock until its process dies, where the old design stole it after
    60 s; waiters still time out with ``TimeoutError``, and the
    pointer CAS inside the section still bounds any damage to a
    ``CommitConflict``."""

    def __init__(self, path: str, timeout_s: float = 30.0):
        self.lock = _pointer(path) + ".lock"
        self.timeout_s = timeout_s
        self.fd: int | None = None

    def __enter__(self):
        import fcntl

        deadline = time.time() + self.timeout_s
        fd = os.open(self.lock, os.O_CREAT | os.O_WRONLY)
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                self.fd = fd
                return self
            except OSError:
                if time.time() > deadline:
                    os.close(fd)
                    raise TimeoutError(f"commit lock busy: {self.lock}")
                time.sleep(0.05)

    def __exit__(self, *exc):
        import fcntl

        if self.fd is not None:
            fcntl.flock(self.fd, fcntl.LOCK_UN)
            os.close(self.fd)
            self.fd = None


def current_snapshot(path: str) -> str | None:
    try:
        with open(_pointer(path)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


_UNCHECKED = object()


def _set_pointer(path: str, snapshot_id: str, basis: object = _UNCHECKED) -> None:
    """The one pointer write (write-temp+rename under the commit lock,
    so a lock timeout leaks nothing): a commit's compare-and-swap on
    ``basis``, or ``rollback``'s unchecked repoint."""
    with _commit_lock(path):
        cur = current_snapshot(path)
        if basis is not _UNCHECKED and cur != basis:
            raise CommitConflict(
                f"table advanced to {cur} since basis {basis}; "
                f"re-read and retry (snapshot {snapshot_id} orphaned)"
            )
        tmp = _pointer(path) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(snapshot_id)
        os.replace(tmp, _pointer(path))


def read_manifest(path: str, snapshot_id: str | None = None) -> dict[str, Any]:
    snap = snapshot_id or current_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"table {path} has no current snapshot")
    with open(_manifest_path(path, snap)) as f:
        return json.load(f)


def snapshots(path: str) -> list[dict[str, Any]]:
    """All manifests, oldest→newest by commit time."""
    out = []
    md = _meta_dir(path)
    if not os.path.isdir(md):
        return out
    for name in os.listdir(md):
        if name.startswith("manifest-"):
            with open(os.path.join(md, name)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda m: m["committed_at"])


def committed_chain(path: str) -> list[dict[str, Any]]:
    """Manifests reachable from the current pointer via parent links,
    oldest→newest. A manifest written by a crashed attempt (no
    pointer swap) is NOT in the chain — this is the committed truth.
    """
    out: list[dict[str, Any]] = []
    snap = current_snapshot(path)
    while snap is not None:
        m = read_manifest(path, snap)
        out.append(m)
        snap = m.get("parent_snapshot_id")
    return list(reversed(out))


def _stat_key(v):
    """Normalize a value for stat comparison / JSON storage: numbers
    stay numbers; dates/datetimes become ISO strings (lexically
    ordered); Decimals become floats; bytes/None -> None (no
    pruning). Comparisons only ever happen within one column, so the
    normalized kinds line up or the file is kept."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return None


def collect_file_stats(path: str) -> dict[str, dict]:
    """Per-column min/max/null-count stats of one parquet file, read
    from its footer with pyarrow on the driver (a footer is a few KB,
    and ``write_table`` already walks and sizes every data file there).
    A column whose stats are missing in ANY row group is marked
    unknown for the file (min/max None => never pruned on)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    per_col: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaves: not prunable here
            s = col.statistics
            cs = per_col.setdefault(name, {"min": None, "max": None, "nulls": 0, "ok": True})
            if s is None or not s.has_min_max:
                cs["ok"] = False
                continue
            mn, mx = _stat_key(s.min), _stat_key(s.max)
            if mn is None or mx is None:
                cs["ok"] = False
            else:
                cs["min"] = mn if cs["min"] is None else min(cs["min"], mn)
                cs["max"] = mx if cs["max"] is None else max(cs["max"], mx)
            if s.null_count is not None:
                cs["nulls"] += s.null_count
    return {
        name: {
            "min": cs["min"] if cs["ok"] else None,
            "max": cs["max"] if cs["ok"] else None,
            "nulls": cs["nulls"],
        }
        for name, cs in per_col.items()
    }


def file_matches(f: dict, filters: list[tuple]) -> bool:
    """Can this file contain a row satisfying ALL of ``filters``?
    Each filter is ``(col, op, literal)`` with op in
    = == > >= < <=. Missing stats, unknown column, or incomparable
    kinds => keep the file (pruning is only ever an optimization;
    parquet min/max excludes NULLs, which comparison predicates
    reject anyway, so skipping on them is exact)."""
    stats = f.get("stats") or {}
    for col, op, lit in filters:
        cs = stats.get(col)
        if not cs:
            continue
        mn, mx, v = cs.get("min"), cs.get("max"), _stat_key(lit)
        if mn is None or mx is None or v is None:
            continue
        try:
            if op in ("=", "=="):
                if v < mn or v > mx:
                    return False
            elif op == ">=":
                if mx < v:
                    return False
            elif op == ">":
                if mx <= v:
                    return False
            elif op == "<=":
                if mn > v:
                    return False
            elif op == "<":
                if mn >= v:
                    return False
            else:
                raise ValueError(f"unsupported filter op {op!r}")
        except TypeError:
            continue  # mixed kinds: never prune
    return True


def _rollup_stats(files: list[dict]) -> dict[str, dict]:
    """Group-level column stats: min of member mins / max of maxes /
    summed nulls; a column unknown in ANY member is unknown for the
    group (min/max None => the group is never pruned on it)."""
    out: dict[str, dict] = {}
    names = {n for f in files for n in (f.get("stats") or {})}
    for name in names:
        mins, maxs, nulls, ok = [], [], 0, True
        for f in files:
            cs = (f.get("stats") or {}).get(name)
            if not cs or cs.get("min") is None or cs.get("max") is None:
                ok = False
            else:
                mins.append(cs["min"])
                maxs.append(cs["max"])
            if cs:
                nulls += cs.get("nulls") or 0
        out[name] = {
            "min": min(mins) if ok and mins else None,
            "max": max(maxs) if ok and maxs else None,
            "nulls": nulls,
        }
    return out


def manifest_files(
    path: str,
    m: dict[str, Any],
    filters: list[tuple] | None = None,
) -> tuple[list[dict], int, int, int]:
    """The snapshot's candidate file entries after GROUP-level
    pruning: ``(files, total_files, groups_read, groups_total)``.

    Flat manifests (the ``files`` key) return everything with
    groups_read = groups_total = 0; two-level manifests
    (``file_groups``) open ONLY the groups whose rollup stats can
    satisfy ``filters`` — at 10^12 rows the flat list is itself a
    scan problem, and this is Iceberg's manifest-list level: planning
    reads O(surviving groups), not O(files). Per-FILE pruning stays
    with the caller (``file_matches``) so exactness never depends on
    the rollups."""
    if "files" in m:
        return list(m["files"]), len(m["files"]), 0, 0
    groups = m["file_groups"]
    files: list[dict] = []
    opened = 0
    for g in groups:
        if filters and not file_matches(g, filters):
            continue
        opened += 1
        with open(os.path.join(_meta_dir(path), g["group"])) as f:
            files.extend(json.load(f)["files"])
    return files, m["n_files"], opened, len(groups)


def plan_files(
    path: str, filters: list[tuple] | None = None, snapshot_id: str | None = None
) -> dict[str, Any]:
    """Scan planning without reading data: which manifest files
    survive stat pruning. Returns {kept, total, groups_read,
    groups_total} — the audit surface for 'did file skipping actually
    skip' (and, two-level, 'did group skipping skip the stat reads
    themselves')."""
    m = read_manifest(path, snapshot_id)
    cand, total, groups_read, groups_total = manifest_files(path, m, filters)
    kept = [f for f in cand if not filters or file_matches(f, filters)]
    return {
        "kept": kept,
        "total": total,
        "groups_read": groups_read,
        "groups_total": groups_total,
    }


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    extra: dict[str, Any] | Callable[[DataFrame], dict[str, Any]] | None = None,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
    expected_parent: str | None = "auto",
    manifest_group_size: int | None = None,
) -> str:
    """Write a new snapshot and atomically commit it. Returns the
    snapshot id. ``mode='append'`` keeps prior snapshot's files live
    in the new manifest (file-level append, like Iceberg's
    append-files commit).

    Commits are OPTIMISTICALLY CONCURRENT (Iceberg's commit
    contract): the basis snapshot is captured up front, and the
    pointer swap happens under a lock only if the table still points
    at that basis — a racing committer that won in between raises
    ``CommitConflict`` here instead of being silently clobbered
    (lost update). Pass ``expected_parent`` to pin an explicit basis:
    a read-modify-write (``merge_table``, ``compact``,
    ``lineage.run_stage``) passes the snapshot id it read, so a commit
    that lands between its read and its write conflicts instead of
    being overwritten.

    ``extra`` is stored in the manifest as is, or, when it is a
    function, called with a DataFrame over the rows this call wrote
    (its data files only, read back with ``df``'s schema) and its
    result stored: it runs after the files exist and before the
    manifest is built, so what it derives from them commits in the
    same snapshot, and if it raises nothing is committed.

    ``cluster_by`` range-partitions and sorts the data on the given
    keys before writing (Iceberg ``write.sort-order`` analog): each
    file then covers a disjoint key range, so parquet footer min/max
    stats prune point and range reads to ~one file — e.g. cluster on
    ``morton_key_cols(cell)`` for spatial locality. ``n_files``
    bounds the file count (defaults to Spark's range-partition
    choice).

    ``manifest_group_size`` switches to a TWO-LEVEL manifest
    (Iceberg's manifest-list): file entries split into groups of that
    size, each group a side file with a rollup of its members' column
    stats in the top manifest — scan planning then reads
    O(surviving groups), not O(files), which is what keeps planning
    itself sub-scan at 10^12 rows. Clustered writes group files in
    key order (part file order == range order), so group rollups stay
    as selective as the per-file stats one level down."""
    if mode not in ("overwrite", "append"):
        raise ValueError(mode)
    parent = current_snapshot(path) if expected_parent == "auto" else expected_parent
    pm = None
    if mode == "append" and parent is not None:
        pm = _flat(path, read_manifest(path, parent))
        # schema evolution (Iceberg add/drop-column semantics): the
        # APPEND's schema becomes the table schema; columns shared
        # with the parent must keep their types (a type change would
        # silently corrupt old-file reads), added columns read as
        # NULL from pre-evolution files, dropped columns disappear
        # from the live view (time-travel still sees them via the old
        # snapshot's manifest schema)
        from pyspark.sql.types import StructType

        old = {f.name: f.dataType for f in StructType.fromJson(pm["schema"])}
        for fld in df.schema:
            if fld.name in old and old[fld.name] != fld.dataType:
                raise ValueError(
                    f"schema evolution cannot change column type: "
                    f"{fld.name} {old[fld.name].simpleString()} -> "
                    f"{fld.dataType.simpleString()}"
                )
    if cluster_by:
        cols = [df[c] for c in cluster_by]
        df = (
            df.repartitionByRange(n_files, *cols)
            if n_files
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    snapshot_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
    data_dir = os.path.join(path, "data", f"snap-{snapshot_id}")
    df.write.mode("errorifexists").parquet(data_dir)

    files = []
    for n in sorted(os.listdir(data_dir)):  # part order == range order
        p = os.path.join(data_dir, n)
        if n.endswith(".parquet"):
            files.append(
                {"path": os.path.relpath(p, path), "bytes": os.path.getsize(p), "stats": collect_file_stats(p)}
            )
    if pm is not None:
        files = manifest_files(path, pm)[0] + files
    if callable(extra):
        extra = extra(df.sparkSession.read.schema(df.schema).parquet(data_dir))

    manifest = {
        "snapshot_id": snapshot_id,
        "parent_snapshot_id": parent,
        "committed_at": time.time(),
        "schema": df.schema.jsonValue(),
        "mode": mode,
        "extra": extra or {},
    }
    os.makedirs(_meta_dir(path), exist_ok=True)
    if manifest_group_size:
        groups = []
        for k in range(0, len(files), manifest_group_size):
            member = files[k : k + manifest_group_size]
            gname = os.path.basename(
                _filegroup_path(path, snapshot_id, k // manifest_group_size)
            )
            with open(os.path.join(_meta_dir(path), gname), "w") as f:
                json.dump({"files": member}, f)
            groups.append(
                {
                    "group": gname,
                    "n_files": len(member),
                    "bytes": sum(x["bytes"] for x in member),
                    "stats": _rollup_stats(member),
                }
            )
        manifest["file_groups"] = groups
        manifest["n_files"] = len(files)
    else:
        manifest["files"] = files
    with open(_manifest_path(path, snapshot_id), "w") as f:
        json.dump(manifest, f)
    _set_pointer(path, snapshot_id, basis=parent)
    return snapshot_id


def _flat(path: str, m: dict[str, Any]) -> dict[str, Any]:
    """``m``, unless it is an old directory-partitioned manifest, whose
    partition values a flat scan of its files would read as NULL."""
    if m.get("partition_by"):
        raise ValueError(
            f"{path}: snapshot {m['snapshot_id']} is directory-partitioned by "
            f"{m['partition_by']}, whose values are not in its files; rewrite "
            "the table from its snapshot directory with write_table"
        )
    return m


def read_table(
    spark: SparkSession,
    path: str,
    snapshot_id: str | None = None,
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Read the live (or a time-traveled) snapshot. ``filters`` —
    ``[(col, op, literal), ...]`` conjunction — prunes whole files
    via the manifest stats BEFORE Spark lists them, then is ALSO
    applied as a normal residual predicate (so results are exact
    whatever the stats say; the stats only shrink the scan). The kept
    files are one scan read with the manifest schema: no footer is
    opened to infer it, and pre-evolution files read added columns as
    NULL of the declared type."""
    from pyspark.sql.types import StructType

    m = _flat(path, read_manifest(path, snapshot_id))
    schema = StructType.fromJson(m["schema"])
    cand = manifest_files(path, m, filters)[0]
    use_files = [
        os.path.join(path, f["path"]) for f in cand if not filters or file_matches(f, filters)
    ]
    if not use_files:
        return _apply_residual(local_df(spark, [], schema), filters)
    return _apply_residual(spark.read.schema(schema).parquet(*use_files), filters)


_OPS = {
    "=": "==", "==": "==", ">": ">", ">=": ">=", "<": "<", "<=": "<=",
}


def _apply_residual(df: DataFrame, filters: list[tuple] | None) -> DataFrame:
    from pyspark.sql import functions as F

    for col, op, lit in filters or []:
        c = F.col(col)
        cond = {
            "==": c == F.lit(lit), ">": c > F.lit(lit), ">=": c >= F.lit(lit),
            "<": c < F.lit(lit), "<=": c <= F.lit(lit),
        }[_OPS[op]]
        df = df.where(cond)
    return df


def merge_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    delete: bool = False,
) -> str:
    """Copy-on-write MERGE (Iceberg ``MERGE INTO`` analog): rows in
    ``updates`` replace current rows with matching ``key_cols``
    (upsert — unmatched updates insert); ``delete=True`` instead
    removes matching keys. One atomic snapshot commit; time travel to
    the pre-merge state remains until expiry.

    Plan: current LEFT-ANTI-joins the (small, broadcastable) update
    key set — the big side shuffles at most once on the key, and
    Catalyst broadcasts the key set when it fits. Row-level deltas
    (merge-on-read) are the scale upgrade when update rate is high;
    the commit contract here is unchanged by that swap.

    An upsert whose ``updates`` repeat a key raises ``ValueError``
    before anything is written: the union would otherwise insert every
    copy and leave the key duplicated in the live table.
    """
    from pyspark.sql import functions as F

    if not delete:
        dup = updates.groupBy(*key_cols).count().where(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(f"merge_table: duplicate update key {dup[0][:len(key_cols)]}")
    m = read_manifest(path)
    current = read_table(spark, path, snapshot_id=m["snapshot_id"])
    keys = updates.select(*key_cols).distinct()
    kept = current.join(keys, key_cols, "left_anti")
    out = kept if delete else kept.union(updates.select(*current.columns))
    return write_table(
        out,
        path,
        mode="overwrite",
        extra={
            "merge": {"keys": key_cols, "delete": delete},
            "source_snapshot": m["snapshot_id"],
        },
        expected_parent=m["snapshot_id"],
    )


def compact(
    spark: SparkSession, path: str, target_files: int, cluster_by: list[str] | None = None
) -> str:
    """Small-file compaction (Iceberg ``rewrite_data_files`` analog):
    rewrite the live snapshot into ``target_files`` files — streaming
    appends and per-partition incremental commits accumulate small
    files that tank scan throughput at scale. The rewrite commits as
    a normal snapshot (atomic, time-travel to the pre-compaction
    state still works until expire_snapshots reclaims it). Rows and
    schema are unchanged — only layout."""
    m = read_manifest(path)
    df = read_table(spark, path, snapshot_id=m["snapshot_id"])
    if not cluster_by:
        df = df.coalesce(target_files)
    return write_table(
        df,
        path,
        mode="overwrite",
        extra={"compaction": True, "source_snapshot": m["snapshot_id"]},
        cluster_by=cluster_by,
        n_files=target_files if cluster_by else None,
        expected_parent=m["snapshot_id"],
    )


def expire_snapshots(path: str, keep_last: int = 1) -> dict[str, int]:
    """Snapshot GC (Iceberg ``expire_snapshots`` analog): keep the
    newest ``keep_last`` committed snapshots; drop older manifests,
    crashed-uncommitted manifests, and every data file no kept
    manifest references. Append-mode manifests reference files from
    older snapshot dirs, so GC is file-level, never dir-level.

    The oldest kept manifest's parent link is cut (set to null) so
    the chain never dangles into an expired manifest. Time travel
    remains available within the kept window; rollback past it is
    gone — that's the storage/history trade the operation makes.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    chain = committed_chain(path)
    keep = chain[-keep_last:]
    keep_ids = {m["snapshot_id"] for m in keep}
    keep_files = {
        os.path.normpath(f["path"])
        for m in keep
        for f in manifest_files(path, m)[0]
    }

    # cut the parent link of the oldest kept manifest
    oldest = keep[0]
    if oldest.get("parent_snapshot_id") is not None:
        oldest = dict(oldest, parent_snapshot_id=None)
        tmp = _manifest_path(path, oldest["snapshot_id"]) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(oldest, f)
        os.replace(tmp, _manifest_path(path, oldest["snapshot_id"]))

    removed_manifests = 0
    for m in snapshots(path):
        if m["snapshot_id"] not in keep_ids:
            for g in m.get("file_groups") or []:
                try:
                    os.remove(os.path.join(_meta_dir(path), g["group"]))
                except FileNotFoundError:
                    pass
            os.remove(_manifest_path(path, m["snapshot_id"]))
            removed_manifests += 1

    removed_files = 0
    data_root = os.path.join(path, "data")
    for root, _dirs, names in os.walk(data_root, topdown=False):
        for n in names:
            p = os.path.join(root, n)
            rel = os.path.normpath(os.path.relpath(p, path))
            if n.endswith(".parquet") and rel not in keep_files:
                os.remove(p)
                removed_files += 1
        if not os.listdir(root):
            os.rmdir(root)
    return {"removed_manifests": removed_manifests, "removed_files": removed_files}


def rollback(path: str, snapshot_id: str) -> None:
    """Repoint ``current`` to an older snapshot (data retained)."""
    if not os.path.exists(_manifest_path(path, snapshot_id)):
        raise FileNotFoundError(f"snapshot {snapshot_id} not found in {path}")
    _set_pointer(path, snapshot_id)
