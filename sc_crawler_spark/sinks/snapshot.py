"""Crash-safe versioned parquet snapshots: the one lake-table format.

Layout under one table root::

    <root>/v-00000001/   part-*.parquet + _SUCCESS   (immutable version)
    <root>/v-00000002/   ...
    <root>/_CURRENT      pointer file naming the committed version

The pointer is the table. A root without ``_CURRENT`` holds no table:
``snapshot_exists`` is False and ``read_snapshot`` raises. A ``v-*``
directory the pointer does not name is an uncommitted write, so a crash
during the first commit still reads as absent and the next write lands.
``write_snapshot`` refuses a pointer-less root that holds anything
besides ``v-*`` directories: plain parquet is never read as, or swept
into, a table.

A write lands a brand-new version directory, validates Spark's
``_SUCCESS`` marker, then commits by ``os.replace`` of the pointer —
rename is atomic on POSIX, so a crash at any point leaves the previous
pointer (and its data) fully intact. Because the new version is a
sibling directory, a plan that *reads the current snapshot* can write
the next one directly.

Every merge-or-append commit is one ``merge_snapshot`` call: read the
committed version, ``merge_upsert`` (keyed) or append (no keys) the
update, write the next version — the reference's per-(vendor, table)
insert cycle (insert.py:115-173). With no committed version the update
lands as the first one. On a real cluster this maps 1:1 onto ``MERGE
INTO`` over a transactional table format (Delta/Iceberg).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession

from ..operators.upsert import merge_upsert, scd2_append

POINTER = "_CURRENT"
#: committed versions retained per table (the time-travel window)
KEEP = 2


def current_path(root: str) -> str:
    """Resolve the committed data directory for a table root."""
    p = os.path.join(root, POINTER)
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"no committed snapshot under {root} (no {POINTER} pointer)")
    with open(p) as f:
        return os.path.join(root, f.read().strip())


def snapshot_exists(root: str) -> bool:
    """True iff ``root`` holds a committed version (its pointer file).
    Callers that want "merge into the existing state, else start fresh"
    branch on THIS rather than catching the read exception — a blanket
    except would also swallow genuine IO/schema failures and silently
    reset the state table."""
    return os.path.exists(os.path.join(root, POINTER))


def list_versions(root: str) -> list[tuple[str, bool]]:
    """Retained COMPLETE versions of a table root, oldest first, with
    the committed one flagged — the time-travel surface (write_snapshot
    keeps the last ``KEEP`` versions precisely so a bad merge can be
    diffed against its predecessor). A version directory without
    Spark's ``_SUCCESS`` marker is a crashed half-write: it is not
    listed (and ``read_snapshot(version=...)`` refuses it) — partial
    data must never be advertised as a rollback target."""
    if not os.path.isdir(root):
        return []
    cur = (os.path.basename(current_path(root)) if snapshot_exists(root)
           else None)
    return [(v, v == cur)
            for v in sorted(d for d in os.listdir(root)
                            if d.startswith("v-")
                            and os.path.isdir(os.path.join(root, d))
                            and os.path.exists(
                                os.path.join(root, d, "_SUCCESS")))]


def read_snapshot(spark: SparkSession, root: str,
                  version: str | None = None) -> DataFrame:
    """Read the committed snapshot, or a specific retained ``version``
    (e.g. ``"v-00000003"``) for time travel. Raises FileNotFoundError
    when ``root`` has no committed version."""
    if version is not None:
        vdir = os.path.join(root, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"snapshot version {version} not retained under {root}; "
                f"have {[v for v, _ in list_versions(root)]}")
        if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
            # no _SUCCESS = crashed half-write: a partial row set would
            # read back silently as if it were the full version
            raise IOError(
                f"snapshot version {version} under {root} is incomplete "
                f"(no _SUCCESS marker — crashed write); complete versions: "
                f"{[v for v, _ in list_versions(root)]}")
        return spark.read.parquet(vdir)
    return spark.read.parquet(current_path(root))


def _next_version(root: str) -> str:
    vs = [d for d in os.listdir(root) if d.startswith("v-")] \
        if os.path.isdir(root) else []
    n = max((int(v[2:]) for v in vs), default=0) + 1
    return f"v-{n:08d}"


def read_extra(root: str, name: str) -> str | None:
    """Read a sidecar file committed alongside the current snapshot
    version (``write_snapshot(extras=...)``), or ``None`` if the
    committed version was written without it. Sidecars
    live INSIDE the version directory, so they commit/roll back with
    the data in the same atomic pointer swap — a guard stored here can
    never be newer or older than the cells it guards."""
    path = os.path.join(current_path(root), name)
    if os.path.isfile(path):
        with open(path) as f:
            return f.read()
    return None


def write_snapshot(spark: SparkSession, df: DataFrame, root: str,
                   extras: dict[str, str] | None = None) -> str:
    """Write ``df`` as the next version of ``root`` and commit atomically.

    ``df``'s plan may read from the current snapshot of ``root`` itself
    (merge-rewrite): the old version stays in place until the write has
    fully succeeded. Keeps the last ``KEEP`` committed versions for
    time travel and prunes older ones. Raises ValueError, touching
    nothing, when ``root`` has no pointer but holds anything besides
    ``v-*`` directories (it is not a snapshot table).

    ``extras``: small sidecar files (name -> content) written into the
    new version directory BEFORE the pointer swap, so they are covered
    by the same commit point as the parquet data (see ``read_extra``).
    Names must not collide with part files; convention is a leading
    underscore (e.g. ``_manifest.json``).
    """
    if os.path.isdir(root) and not snapshot_exists(root):
        # a crashed first commit leaves v-* dirs and maybe the pointer's
        # .tmp; anything else is a foreign layout, never overwritten
        foreign = sorted(e for e in os.listdir(root)
                         if e != POINTER + ".tmp" and not (
                             e.startswith("v-")
                             and os.path.isdir(os.path.join(root, e))))
        if foreign:
            raise ValueError(
                f"{root} is not a snapshot table (no {POINTER} pointer, "
                f"holds {foreign[:3]}); refusing to write over it")
    os.makedirs(root, exist_ok=True)
    version = _next_version(root)
    vdir = os.path.join(root, version)
    df.write.mode("overwrite").parquet(vdir)
    if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
        raise IOError(f"snapshot write incomplete (no _SUCCESS): {vdir}")
    for name, content in (extras or {}).items():
        with open(os.path.join(vdir, name), "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
    tmp = os.path.join(root, POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, POINTER))  # atomic commit
    # Retention counts COMMITTED versions only (those with _SUCCESS):
    # an uncommitted dir from a crashed write is garbage — deleted
    # outright, never allowed to push a good rollback target out of
    # the keep window. The listing is computed once (deterministic
    # single pass, not re-listed per entry).
    entries = sorted(e for e in os.listdir(root) if e.startswith("v-")
                     and os.path.isdir(os.path.join(root, e)))
    committed = [e for e in entries
                 if os.path.exists(os.path.join(root, e, "_SUCCESS"))]
    retain = set(committed[-KEEP:])
    for entry in entries:
        if entry not in retain and entry <= version:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    return vdir


def merge_snapshot(spark: SparkSession, root: str, df: DataFrame,
                   pks: list[str] | None,
                   inactivate_missing: bool = False,
                   scope: Column | DataFrame | None = None) -> str:
    """Commit ``df`` into the table at ``root`` — the one
    read-merge-write step. With a committed version: ``merge_upsert``
    on ``pks`` (``inactivate_missing`` and ``scope`` pass through), or,
    with no ``pks``, an append (``scd2_append``). With none, ``df``
    lands as the first version. Returns the new version directory.

    The existence check is explicit, never a blanket except: a genuine
    read/merge failure must propagate — swallowing it would replace the
    accumulated table with just this update."""
    if snapshot_exists(root):
        current = read_snapshot(spark, root)
        if pks:
            df = merge_upsert(current, df.select(*current.columns), pks,
                              inactivate_missing=inactivate_missing,
                              scope=scope)
        else:
            df = scd2_append(current, df)
    return write_snapshot(spark, df, root)
