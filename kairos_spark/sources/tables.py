"""Sources & sinks.

The reference dispatches on a client URL to one of four storage
backends (``Timeseries(client, ...)`` factory, kairos/timeseries.py:
266-297 + BACKENDS registry :1043-1066). Here the same idea maps to
Spark data sources: a ``store://`` URL picks the physical layer for the
long-format table, and generic readers cover file formats the reference
never had (its only "formats" were Redis/Mongo/SQL/Cassandra layouts —
SURVEY.md §2.3/§2.4).

Scale notes:
- the long table partitions by ``interval`` (small, fixed cardinality)
  so every query's interval-equality predicate prunes whole partitions;
  within files, parquet min/max stats on ``i_time`` skip row groups for
  bucket-range scans (the reference's key-scheme equivalent, §4).
- ``write_long_table`` sorts within partitions by (name, i_time) before
  writing so those stats are tight (the poor man's Z-order; on Delta
  use OPTIMIZE ZORDER).
- a relation is resolved (its files listed, its schema read) once per
  session and path, not once per read: see ``resolved``. Every
  ``spark.read`` of the package lives in this module.
"""

from __future__ import annotations

import os
import shutil
import stat
import threading
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

_FORMATS = {"parquet", "orc", "json", "csv"}

# Each session's held relations, {(path, what): (stamp, relation)}, live
# in an attribute of the session object, so they die with it: every held
# DataFrame references its session, so a dict keyed by the session
# (weakly or not) would keep it alive. _SESSIONS finds them for forget().
_HELD_ATTR = "_kairos_held_relations"
_SESSIONS: weakref.WeakSet = weakref.WeakSet()
_HELD_LOCK = threading.Lock()


def _held(spark: SparkSession) -> dict:
    """``spark``'s held relations (call under ``_HELD_LOCK``)."""
    held = vars(spark).get(_HELD_ATTR)
    if held is None:
        held = vars(spark)[_HELD_ATTR] = {}
        _SESSIONS.add(spark)
    return held


def _stamp(path: str):
    """The (path, inode, mtime_ns) of ``path`` and of every directory
    under it, or None when the driver cannot stat them (a remote URL, a
    path not written yet, a directory removed during the walk). A file
    added to or removed from a directory moves that directory's mtime;
    a directory removed and written again has a new inode."""
    try:
        st = os.stat(path)
        out = [(path, st.st_ino, st.st_mtime_ns)]
        todo = [path] if stat.S_ISDIR(st.st_mode) else []
        while todo:
            with os.scandir(todo.pop()) as entries:
                for e in entries:
                    if e.is_dir(follow_symlinks=False):
                        s = e.stat(follow_symlinks=False)
                        out.append((e.path, s.st_ino, s.st_mtime_ns))
                        todo.append(e.path)
    except OSError:
        return None
    return frozenset(out)


def resolved(spark: SparkSession, path: str, what, resolve):
    """``resolve()``'s relation for ``path``, held by ``spark`` under
    ``(path, what)`` so later calls skip the file listing, schema
    inference and analysis it pays. ``what`` names what the caller
    resolves (a schema, an interval scan). A held relation is a plan,
    never data.

    An entry stays valid while the inode and mtime_ns of ``path`` and
    of every directory under it are unchanged, so a write from outside
    the library is seen on the next call; writes through this package
    also ``forget`` the path. That check needs a filesystem the driver
    can ``os.stat``: any other path is resolved on every call."""
    path = os.path.abspath(path)
    stamp = _stamp(path)  # taken first: a write during resolve() shows next call
    if stamp is None:
        return resolve()
    key = (path, what)
    with _HELD_LOCK:
        hit = _held(spark).get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    relation = resolve()
    with _HELD_LOCK:
        _held(spark)[key] = (stamp, relation)
    return relation


def forget(path: str) -> None:
    """Drop every session's held relations of ``path`` (it was written)."""
    path = os.path.abspath(path)
    with _HELD_LOCK:
        for spark in _SESSIONS:
            held = _held(spark)
            for key in [k for k in held if k[0] == path]:
                del held[key]


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Format-dispatched reader. Always pass ``schema`` for csv/json in
    production paths — inference is a full extra scan at 100 TB."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def write_long_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    fmt: str = "parquet",
    target_partitions: int | None = None,
) -> None:
    """Append long-format rows partitioned by interval, sorted within
    partitions by (name, i_time) for tight parquet min/max stats."""
    out = df
    if target_partitions:
        out = out.repartition(target_partitions, "interval", "name")
    out = out.sortWithinPartitions("interval", "name", "i_time")
    out.write.mode(mode).partitionBy("interval").format(fmt).save(path)
    forget(path)


class ParquetStoreHandle:
    """Resolved store handle: scheme + root path."""

    def __init__(self, scheme: str, path: str):
        self.scheme = scheme
        self.path = path

    def __repr__(self):
        return f"ParquetStoreHandle({self.scheme}://{self.path})"


def open_store(url: str) -> ParquetStoreHandle:
    """kairos-style URL dispatch for the long-table store:
    ``parquet:///abs/path``, ``parquet://rel/path``, ``memory://``
    (tests), ``delta:///path`` (same layout; requires delta-spark at
    runtime)."""
    parsed = urlparse(url)
    scheme = parsed.scheme or "parquet"
    if scheme not in ("parquet", "memory", "delta"):
        raise ValueError(f"unsupported store scheme {scheme!r}")
    return ParquetStoreHandle(scheme, parsed.netloc + parsed.path)


def replace_directory(path: str, write) -> None:
    """Replace the contents of directory ``path`` with what
    ``write(staging)`` writes to a sibling staging directory.

    The old directory moves aside and is dropped only once the new one
    is in place. If the write or the swap fails, the staging directory
    is removed and the old one comes back, so ``path`` is never left
    missing or holding a mix of old and new files. ``path`` need not
    exist yet. Relations held for ``path`` are dropped once the new
    contents are in place."""
    path = path.rstrip("/")
    staging, backup = path + ".__staging__", path + ".__old__"
    try:
        write(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    had_path = os.path.exists(path)
    if had_path:
        shutil.move(path, backup)
    try:
        shutil.move(staging, path)
    except BaseException:
        # clear any partially-created target first (shutil.move into an
        # existing dir would NEST the backup inside it), then restore
        shutil.rmtree(path, ignore_errors=True)
        if had_path:
            shutil.move(backup, path)
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if had_path:
        shutil.rmtree(backup)
    forget(path)


def write_bucketed_long_table(
    df: DataFrame,
    table: str,
    path: str,
    buckets: int = 32,
    key: str = "name",
) -> None:
    """Bucketed variant of the long-table sink: hash-bucket by ``key``
    and sort files by ``(key, i_time)``.

    This is the co-located layout for read-mostly deployments: every
    ``groupBy(name, ...)`` aggregation and every self-/cross-join of
    two tables bucketed the same way runs with ZERO exchanges — the
    bucket files ARE the shuffle output, paid once at write time. At
    100 TB that converts the per-query name-shuffle (the engine's only
    read-path shuffle) into a write-time cost amortized over every
    subsequent query. On Delta the same role is played by OPTIMIZE
    ZORDER/clustering; plain Spark bucketing needs a catalog table,
    hence ``saveAsTable`` with an explicit path.
    """
    (
        df.write.bucketBy(buckets, key)
        .sortBy(key, "i_time")
        .option("path", path)
        .saveAsTable(table)
    )
    forget(path)


def compact_long_table(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    fmt: str = "parquet",
) -> dict:
    """Compact a long-table directory in place: rewrite each
    ``interval=`` partition into ``target_partitions`` files, sorted by
    ``(name, i_time)`` so parquet min/max stats are tight again.

    Streaming ingest appends one file set per micro-batch — after a day
    of 10 s triggers a partition holds ~8,640 file groups and scan
    planning degrades (the classic small-file problem). Compaction is
    the batch companion job: read, re-sort, rewrite, swap. The swap is
    local-filesystem rename (staging dir then replace) — on object
    stores / production runs use Delta ``OPTIMIZE`` instead, which does
    this transactionally; the read/sort/rewrite shape is identical.

    Returns ``{"files_before": int, "files_after": int}``.
    """
    import pathlib

    root = pathlib.Path(path)

    def _data_files(p):
        return [
            f for f in p.rglob("*")
            if f.is_file() and not f.name.startswith(("_", "."))
        ]

    before = len(_data_files(root))
    df = spark.read.format(fmt).load(path)
    replace_directory(
        path,
        lambda staging: df.repartition(target_partitions, "interval")
        .sortWithinPartitions("interval", "name", "i_time")
        .write.mode("overwrite")
        .partitionBy("interval")
        .format(fmt)
        .save(staging),
    )
    after = len(_data_files(root))
    return {"files_before": before, "files_after": after}
