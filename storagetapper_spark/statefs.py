"""URI-aware filesystem helpers for stateful streaming sinks, the one
commit protocol their state tables share, and the one writer of their
batch-delta logs.

``os.path`` / ``shutil`` work only on the driver's local disk, but a
100 TB deployment keeps state on ``s3a://`` or ``hdfs://`` (the
reference's F4/F5 surface, pipe/hdfs.go:59-130, pipe/s3.go:96-127,
applied to state rather than data).  These helpers route through the
pyarrow.fs resolution the file sink uses (sinks/files._resolve_fs):
plain paths and ``file:`` URIs → LocalFileSystem, ``s3a://``/``s3://``
→ S3FileSystem, ``hdfs://`` → HadoopFileSystem.  Spark accepts the same
URIs, so a sink that touches paths only through these helpers and
``spark.read``/``write`` is object-store-portable end to end.

State-table commit protocol
---------------------------
A state table is a plain parquet directory ``<dir>/<prefix>current``
(``current`` for most sinks, ``gtid_current`` for the executed-GTID
set) that readers open with ``spark.read.parquet``.  A sink replaces
it once per micro-batch with ``commit_state(df, current, batch_id)``:

1. If ``current`` records a batch id ≥ ``batch_id``, the batch is
   already applied: return False without writing.  foreachBatch is
   at-least-once, so this one rule makes every sink exactly-once
   (Structured Streaming's batch-id idempotence).  A state table
   therefore belongs to one checkpoint; re-seeding ``current`` with a
   plain Spark write drops the record.
2. Write ``df`` to the sibling ``<prefix>v{batch_id}`` (Spark writes
   ``_SUCCESS`` last), coalesced to ⌈bytes of the previous ``current``
   / ``spark.sql.files.maxPartitionBytes``⌉ files, so ``current`` stays
   compact for point reads.
3. Record the batch id as a ``_batch_{batch_id}`` file, a copy of the
   version's ``_SUCCESS`` (a copy, never an upload, on every
   filesystem).  Spark skips ``_``-prefixed files when it reads.
4. Promote the version to ``current``.  Local and HDFS rename
   directories: ``current`` moves aside, the version moves in, the
   aside copy is deleted.  A read that overlaps the promote sees the
   old or the new table, or fails (its files moved) and can be
   retried; it never sees a half-written table.  Object stores have no
   directory rename: ``current`` is deleted, the version's data files
   are copied in, its marker last, and the version is deleted; a read
   racing that copy can see a partial table.

Bucketed tables.  Past one split the upsert state
(streaming/pipeline.py) is stored as ``current/_bucket=b/``, ``b =
pmod(xxhash64(pk), n)``, with ``n`` a power of two recorded as a
``_buckets_{n}`` file (sizing rule: ``read_for_keys``).  A change of
``n`` is an ordinary whole-table commit.  Otherwise the version holds
only the buckets the batch touches, each marked by a ``_touched`` file
made before Spark writes the data (so a bucket the commit empties is
recorded too), and step 4 replaces them one at a time and moves the
batch marker last.  A read that overlaps this promote can see some
buckets before and some after the batch, as an object-store reader
can; a crash cannot leave that mix behind.

Recovery (``committed_batch``) runs at the start of every commit, and
sinks call it before they read ``current``: a complete version (it has
``_SUCCESS``) at or past ``current``'s marker is promoted — the crash
hit between steps 2 and 4 — or its remaining buckets are; every other
version or aside directory is removed.  Sources are deleted ``_`` files
first, so a half-deleted one never looks complete.  After a crash
``current`` holds the pre-batch or the post-batch state, never a mix;
the replayed batch finds the marker and stops, or redoes the batch.  A
rewrite that applies no batch (a hard delete) commits at the table's
own batch id.  After a commit the table's directory holds only
``current``.  No sink may hold a lazy DataFrame over ``current`` across
that table's own commit: the files it lists move away.

Batch-delta logs
----------------
The second store is append-by-batch, separate from the
``commit_state`` tables: a log directory of ``_batch=<id>``
partitions (split further by any extra partition columns) whose fold
over all batches — a sum, ``bit_or``, max or union — is the live
state.  Nothing is promoted and no marker is kept.  Every log is
written by ``write_delta(df, log_dir, batch_id, *partition_cols)``:

1. An identical replay of a batch (foreachBatch is at-least-once)
   replaces exactly its own partitions: the write is an overwrite with
   the per-write dynamic ``partitionOverwriteMode`` option, so every
   other batch's partitions stay as they are.  It never reads or sets
   the session conf; a foreachBatch body runs on the stream's cloned
   session, so a conf set on another session is not seen and the
   write falls back to a static overwrite of the whole log.
2. An empty delta writes nothing, not even the log directory.  A
   replay whose delta is now empty therefore leaves that batch's
   earlier partitions in place; curation relies on this (a replayed
   batch finds its own hashes already accepted).  A reprocessing that
   can shrink a batch must ``rmtree`` the batch's partition first.
3. ``delta_batches`` lists a log's batch ids.  A compaction writes its
   fold under the newest folded batch id before it deletes the older
   partitions, so a crash between the two leaves rows an idempotent
   fold (max, ``bit_or``) absorbs.
"""

from __future__ import annotations

import posixpath
import re

from storagetapper_spark.sinks.files import _resolve_fs

_MARKER = re.compile(r"_batch_(-?\d+)")
_COUNT = re.compile(r"_buckets_(\d+)")
_DELTA = re.compile(r"_batch=(-?\d+)")


def join_uri(base: str, *parts: str) -> str:
    """'/'-join that preserves the scheme — the URI analog of
    os.path.join (which would also work on posix but reads as a
    local-FS assumption)."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def exists(uri: str) -> bool:
    """True if the file or directory exists on the URI's filesystem."""
    from pyarrow import fs as pafs

    f, p = _resolve_fs(uri)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def _children(f, p: str, recursive: bool = False) -> list:
    from pyarrow import fs as pafs

    try:
        return f.get_file_info(pafs.FileSelector(p, recursive=recursive))
    except (FileNotFoundError, OSError):
        return []


def rmtree(uri: str) -> None:
    """Recursively delete a directory; missing paths are a no-op
    (shutil.rmtree(ignore_errors=True) semantics)."""
    f, p = _resolve_fs(uri)
    _delete(f, p)


def _delete(f, p: str) -> None:
    try:
        f.delete_dir(p)
    except (FileNotFoundError, OSError):
        pass


def _record(f, p: str, rx=_COUNT, default: int = 1) -> int:
    """Largest number a ``rx`` file in directory ``p`` records (by
    default: its bucket count, 1 when flat)."""
    return max((int(m[1]) for i in _children(f, p)
                if (m := rx.fullmatch(i.base_name))), default=default)


def _data_bytes(f, p: str) -> int:
    from pyarrow import fs as pafs

    return sum(i.size for i in _children(f, p, recursive=True)
               if i.type == pafs.FileType.File
               and not i.base_name.startswith(("_", ".")))


def _split(spark) -> int:
    return spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


def _move(f, src: str, dst: str) -> None:
    """Move directory ``src`` to the absent ``dst``: a rename on local
    and HDFS; on object stores a per-file copy, batch marker last, then
    a delete of ``src``, its ``_`` files first."""
    from pyarrow import fs as pafs

    if f.type_name in ("local", "hdfs"):
        f.move(src, dst)
        return
    files = [i for i in _children(f, src, recursive=True)
             if i.type == pafs.FileType.File]
    for i in sorted(files, key=lambda i: bool(_MARKER.fullmatch(i.base_name))):
        f.copy_file(i.path, dst + i.path[len(src):])
    for i in files:
        if i.base_name.startswith("_"):
            f.delete_file(i.path)
    _delete(f, src)


def _promote(f, version: str, current: str, batch_id: int) -> None:
    """Steps 3 and 4 of the protocol: make ``version`` ``current`` —
    the whole table, or a bucketed version's marked buckets one by one
    — with the batch marker last."""
    from pyarrow import fs as pafs

    mark = f"_batch_{batch_id}"
    if _record(f, version) > 1 or _record(f, current) == 1:
        f.copy_file(f"{version}/_SUCCESS", f"{version}/{mark}")
        aside = current + ".old"
        _delete(f, aside)
        if (f.type_name in ("local", "hdfs")
                and f.get_file_info(current).type != pafs.FileType.NotFound):
            f.move(current, aside)
        _delete(f, current)
        _move(f, version, current)
        _delete(f, aside)
        return
    for i in _children(f, version):
        if (i.base_name.startswith("_bucket=") and f.get_file_info(
                f"{i.path}/_touched").type == pafs.FileType.File):
            _delete(f, f"{current}/{i.base_name}")
            if _data_bytes(f, i.path):
                _move(f, i.path, f"{current}/{i.base_name}")
    f.copy_file(f"{version}/_SUCCESS", f"{current}/{mark}")
    for i in _children(f, current):
        if _MARKER.fullmatch(i.base_name) and i.base_name != mark:
            f.delete_file(i.path)
    _delete(f, version)


def committed_batch(current: str) -> int:
    """Finish or roll back an interrupted commit of the state table
    ``current`` (see the module docstring), then return the batch id
    it records: -1 when it has none, including a table seeded by a
    plain Spark write."""
    from pyarrow import fs as pafs

    f, p = _resolve_fs(current)
    parent, name = posixpath.split(p.rstrip("/"))
    stem = name[:-len("current")]
    done = _record(f, p, _MARKER, -1)
    own = re.compile(re.escape(stem) + r"(?:v(-?\d+)|current\.old)")
    versions, stale = {}, []
    for i in _children(f, parent):
        m = own.fullmatch(i.base_name)
        if m is None:
            continue
        if (m[1] is not None and int(m[1]) >= done
                and f.get_file_info(f"{i.path}/_SUCCESS").type
                == pafs.FileType.File):
            versions[int(m[1])] = i.path
        else:
            stale.append(i.path)
    if versions:
        done = max(versions)
        _promote(f, versions.pop(done), p, done)
        stale += versions.values()
    for path in stale:
        _delete(f, path)
    return done


def commit_state(df, current: str, batch_id: int | None, buckets: int = 1,
                 touched: list[int] | None = None) -> bool:
    """Make ``df`` the state table ``current`` as of ``batch_id``; False
    (nothing written) if that batch is already applied.  ``batch_id``
    None rewrites the applied state at its own batch id.  With
    ``buckets`` > 1, ``df`` carries a ``_bucket`` column and the version
    is the whole table in that many buckets, or only the ``touched``
    ones.  The protocol is in the module docstring."""
    done = committed_batch(current)
    if batch_id is None:
        batch_id = done
    elif done >= batch_id:
        return False
    f, p = _resolve_fs(current)
    version = p.rstrip("/")[:-len("current")] + f"v{batch_id}"
    n = _record(f, p)
    if buckets == 1:
        prev = _data_bytes(f, p)
        if prev:
            df = df.coalesce(-(-prev // _split(df.sparkSession)))
        writer = df.write
    else:
        # marks copy current's count record before the data, so a version
        # is complete only with all of them (a flat current has none:
        # _promote takes its successor whole regardless)
        marks = ([f"_bucket={b}/_touched" for b in touched]
                 if touched is not None else [f"_buckets_{buckets}"])
        for m in marks if n > 1 else ():
            f.create_dir(posixpath.dirname(f"{version}/{m}"))
            f.copy_file(f"{p}/_buckets_{n}", f"{version}/{m}")
        writer = df.repartition("_bucket").write.partitionBy("_bucket")
    writer.mode("append").parquet(
        current.rstrip("/")[:-len("current")] + f"v{batch_id}")
    if buckets > 1 and n == 1:
        f.copy_file(f"{version}/_SUCCESS", f"{version}/_buckets_{buckets}")
    _promote(f, version, p, batch_id)
    return True


def read_for_keys(spark, current: str, keys, pk_cols: list[str],
                  grow: bool = True):
    """The stored rows of the state table ``current`` that ``keys`` can
    reach (None when there are none), and ``commit(df, batch_id)``,
    which makes ``df`` replace exactly them: the whole table while it is
    flat or its bucket count changes, else the buckets the keys hash
    into, ``pmod(xxhash64(pk), n)``.  Sizing: flat while the table fits
    one ``spark.sql.files.maxPartitionBytes`` split, then the power of
    two at or above its number of splits, doubled whenever the mean
    bucket passes two splits; the count never shrinks, and ``grow=False``
    keeps it.  Recovers ``current`` first."""
    from pyspark.sql import functions as F

    def bucket(m: int):
        return F.pmod(F.xxhash64(*pk_cols), F.lit(m)).cast("int")

    committed_batch(current)
    f, p = _resolve_fs(current)
    n, size, split = _record(f, p), _data_bytes(f, p), _split(spark)
    nxt = n
    if grow and n == 1 and size > split:
        nxt = 1 << (-(-size // split) - 1).bit_length()
    while grow and nxt > 1 and size > 2 * split * nxt:
        nxt *= 2
    paths, touched = [current] if exists(current) else [], None
    if 1 < n == nxt:
        touched = sorted(r[0] for r in keys.select(bucket(n))
                         .distinct().collect())
        paths = [d for b in touched
                 if exists(d := join_uri(current, f"_bucket={b}"))]
    rows = (spark.read.option("basePath", current).parquet(*paths)
            .drop("_bucket") if paths else None)

    def commit(df, batch_id: int | None) -> bool:
        if nxt > 1:
            df = df.withColumn("_bucket", bucket(nxt))
        return commit_state(df, current, batch_id, nxt, touched)

    return rows, commit


def write_delta(df, log_dir: str, batch_id: int, *partition_cols: str) -> None:
    """Write ``df`` as batch ``batch_id``'s delta in the batch-delta log
    ``log_dir``, partitioned by ``_batch`` and then ``partition_cols``
    (rules in the module docstring)."""
    from pyspark.sql import functions as F

    fresh = not exists(log_dir)
    (df.withColumn("_batch", F.lit(int(batch_id)))
     .write.mode("overwrite").partitionBy("_batch", *partition_cols)
     .option("partitionOverwriteMode", "dynamic").parquet(log_dir))
    if fresh and not delta_batches(log_dir):
        _delete(*_resolve_fs(log_dir))


def delta_batches(log_dir: str) -> list[int]:
    """The batch ids in the batch-delta log ``log_dir``, ascending."""
    f, p = _resolve_fs(log_dir)
    return sorted(int(m[1]) for i in _children(f, p)
                  if (m := _DELTA.fullmatch(i.base_name)))
