"""URI-aware filesystem helpers for stateful streaming sinks, and the
one commit protocol their state tables share.

The foreachBatch state protocols (bucket-partitioned MERGE, versioned
state tables) need a few filesystem primitives: join a path, test
existence, list and remove a directory, promote a directory.
``os.path`` / ``shutil`` implement them only for the driver's local
disk — correct on local[32], broken the moment ``state_dir`` is
``s3a://`` or ``hdfs://``, which is exactly where a 100 TB deployment
keeps state (the reference's F4/F5 surface, pipe/hdfs.go:59-130,
pipe/s3.go:96-127, applied to state rather than data).

These helpers route through the same pyarrow.fs resolution the file
sink already uses for distributed encryption (sinks/files._resolve_fs):
plain paths and ``file:`` URIs → LocalFileSystem, ``s3a://``/``s3://``
→ S3FileSystem, ``hdfs://`` → HadoopFileSystem.  Spark itself accepts
the URIs unchanged for read/write, so a sink that only ever touches
paths via these helpers + ``spark.read``/``write`` is object-store-
portable end to end.

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
3. Record the batch id as a ``_batch_{batch_id}`` file in the version,
   a copy of its ``_SUCCESS`` (a copy, never an upload, on every
   filesystem).  Spark skips ``_``-prefixed files when it reads.
4. Promote the version to ``current``.  Local and HDFS rename
   directories: ``current`` moves aside, the version moves in, the
   aside copy is deleted.  A read that overlaps the promote sees the
   old or the new table, or fails (its files moved) and can be
   retried; it never sees a half-written table.  Object stores have no
   directory rename: ``current`` is deleted, the version's data files
   are copied in, its marker last, and the version is deleted; a read
   racing that copy can see a partial table.

Recovery (``committed_batch``) runs at the start of every commit, and
sinks call it before they read ``current``: a complete version (it has
``_SUCCESS``) newer than ``current``'s marker is promoted — the crash
hit between steps 2 and 4 — and every other version or aside directory
is removed.  After a crash ``current`` therefore holds the pre-batch
or the post-batch state, never a partial one; the replayed batch finds
the marker and stops, or redoes the batch from the pre-batch state.
After a commit the table's directory holds only ``current``.  No sink
may hold a lazy DataFrame over ``current`` across that table's own
commit: the files it lists move away.
"""

from __future__ import annotations

import posixpath
import re

from storagetapper_spark.sinks.files import _resolve_fs

_MARKER = re.compile(r"_batch_(\d+)")


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


def _children(f, p: str) -> list:
    from pyarrow import fs as pafs

    try:
        return f.get_file_info(pafs.FileSelector(p, recursive=False))
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


def _marker(f, p: str) -> int:
    """Batch id recorded in the table directory ``p`` (-1 if none)."""
    ids = [int(m[1]) for i in _children(f, p)
           if (m := _MARKER.fullmatch(i.base_name))]
    return max(ids, default=-1)


def _data_bytes(f, p: str) -> int:
    from pyarrow import fs as pafs

    return sum(i.size for i in _children(f, p)
               if i.type == pafs.FileType.File
               and not i.base_name.startswith(("_", ".")))


def _promote(f, version: str, current: str, batch_id: int) -> None:
    """Steps 3 and 4 of the protocol: mark ``version`` and make it
    ``current``."""
    from pyarrow import fs as pafs

    f.copy_file(f"{version}/_SUCCESS", f"{version}/_batch_{batch_id}")
    if f.type_name in ("local", "hdfs"):
        aside = current + ".old"
        _delete(f, aside)
        if f.get_file_info(current).type != pafs.FileType.NotFound:
            f.move(current, aside)
        f.move(version, current)
        _delete(f, aside)
        return
    _delete(f, current)
    files = [i for i in f.get_file_info(
        pafs.FileSelector(version, recursive=True))
        if i.type == pafs.FileType.File]
    for i in sorted(files, key=lambda i: bool(_MARKER.fullmatch(i.base_name))):
        f.copy_file(i.path, current + i.path[len(version):])
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
    done = _marker(f, p)
    own = re.compile(re.escape(stem) + r"(?:v(\d+)|current\.old)")
    versions, stale = {}, []
    for i in _children(f, parent):
        m = own.fullmatch(i.base_name)
        if m is None:
            continue
        if (m[1] is not None and int(m[1]) > done
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


def commit_state(df, current: str, batch_id: int) -> bool:
    """Make ``df`` the state table ``current`` as of ``batch_id``;
    False (nothing written) if that batch is already applied.  The
    protocol is in the module docstring."""
    if committed_batch(current) >= batch_id:
        return False
    f, p = _resolve_fs(current)
    prev = _data_bytes(f, p)
    if prev:
        split = (df.sparkSession._jsparkSession.sessionState().conf()
                 .filesMaxPartitionBytes())
        df = df.coalesce(-(-prev // split))
    version = f"v{batch_id}"
    df.write.mode("overwrite").parquet(
        current.rstrip("/")[:-len("current")] + version)
    _promote(f, p.rstrip("/")[:-len("current")] + version, p, batch_id)
    return True
