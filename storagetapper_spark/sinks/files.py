"""File sink (F1/F2 in SURVEY.md §2.4 — pipe/file.go:218-773).

Reference behavior re-expressed Spark-first:
  - newline-delimited records, optional gzip          → df.write.text + codec
  - rotation on max file size                         → maxRecordsPerFile
  - per-partition-key file routing ("snapshot"/"log") → partitionBy(stream)
  - atomic .open → rename on close                    → Spark task commit protocol
  - _DONE manifest with sha256 + record count per file
    (pipe/file.go:717-758)                            → post-write manifest job

The manifest is one Spark action that runs entirely in the JVM
(``_file_stats``): a binaryFile scan hashes every file, and the writer's
own format reader counts its records.  Only the small per-file manifest
reaches the driver.  ``_write_manifest`` is the driver-side form of the
same manifest, kept as the reference the tests compare against.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame


def write_files(df: DataFrame, path: str, fmt: str = "text",
                compression: str | None = "gzip",
                max_records_per_file: int = 0,
                partition_by: list[str] | None = None,
                value_col: str = "value",
                write_manifest: bool = True) -> dict:
    """Write an encoded event DataFrame as rotated (compressed) files plus
    a _DONE manifest. ``fmt``: text (newline-delimited; needs value_col),
    json, csv, orc, or parquet."""
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "text":
        out = df.select(value_col) if not partition_by else \
            df.select(*partition_by, value_col)
        writer = out.write.mode("overwrite").option(
            "compression", compression or "none")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.text(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "csv":
        # headerless: the manifest's record counter counts text LINES,
        # and schema belongs in the manifest, not per part file
        writer.csv(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "parquet":
        writer.parquet(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    if write_manifest:
        return _write_manifest_distributed(df.sparkSession, path, fmt)
    return {}


def _count_records(fp: str) -> int:
    if fp.endswith(".gz"):
        with gzip.open(fp, "rb") as f:
            return sum(1 for _ in f)
    if fp.endswith(".parquet"):
        import pyarrow.parquet as pq
        return pq.read_metadata(fp).num_rows
    if fp.endswith(".orc"):
        import pyarrow.orc as po
        return po.ORCFile(fp).nrows
    with open(fp, "rb") as f:
        return sum(1 for _ in f)


def _file_stats(spark, path: str, fmt: str | None = None) -> dict:
    """{relative path: {"sha256", "bytes"[, "records"]}} for every data
    file under ``path``, computed in executors by one action with no
    Python worker.  A binaryFile scan gives sha256 and length.  With
    ``fmt`` (the format the files were written in, as ``write_files``
    takes it), that format's reader counts each file's records: lines for
    text, json and csv, rows for orc and parquet.  Both scans key files
    by ``_metadata.file_path``, which is URL-encoded in both (binaryFile's
    ``path`` is not); a file with no records has no count row, so the
    left join reads 0."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    key = F.col("_metadata.file_path").alias("key")
    stats = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "true").load(path)
             .select(key, "path", F.sha2("content", 256).alias("sha256"),
                     F.col("length").alias("bytes")))
    if fmt is not None:
        # Only _metadata is read, so an empty schema spares orc and
        # parquet the footer-reading job of schema inference.  lineSep:
        # text splits on \n only, as _count_records does.
        reader = fmt if fmt in ("orc", "parquet") else "text"
        counts = (spark.read.format(reader)
                  .schema(T.StructType())
                  .option("recursiveFileLookup", "true")
                  .option("lineSep", "\n")
                  .load(path).select(key).groupBy("key")
                  .agg(F.count(F.lit(1)).alias("records")))
        stats = (stats.join(counts, "key", "left")
                 .withColumn("records", F.coalesce("records", F.lit(0))))
    out = {}
    for r in stats.drop("key").collect():
        meta = r.asDict()
        fp = meta.pop("path")
        out[os.path.relpath(fp[len("file:"):] if fp.startswith("file:")
                            else fp, path)] = meta
    return out


def _write_manifest_distributed(spark, path: str, fmt: str) -> dict:
    """The _DONE marker (EndOfStreamMark analog, pipe/file.go:717-758),
    computed by ``_file_stats`` in executors: at 100 TB the hashing work
    is the same order as the write itself and must not serialize through
    the driver.  ``fmt`` is the format ``write_files`` wrote."""
    files = _file_stats(spark, path, fmt)
    manifest = {"files": files,
                "total_records": sum(m["records"] for m in files.values()),
                "created_at": int(time.time())}
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _write_manifest(path: str) -> dict:
    """Driver-side reference form of ``_write_manifest_distributed``:
    per-file sha256, byte size and record count, read file by file."""
    files = {}
    total = 0
    for fp in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        base = os.path.basename(fp)
        if not os.path.isfile(fp) or base.startswith(("_", ".")):
            continue
        h = hashlib.sha256()
        with open(fp, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        n = _count_records(fp)
        files[os.path.relpath(fp, path)] = {
            "sha256": h.hexdigest(),
            "bytes": os.path.getsize(fp),
            "records": n,
        }
        total += n
    manifest = {"files": files, "total_records": total,
                "created_at": int(time.time())}
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)


def encrypt_files(path: str, key: bytes, suffix: str = ".enc",
                  spark=None) -> list[str]:
    """Post-write encryption step — the functional analog of the
    reference's OpenPGP encrypt+sign chain (F3, pipe/file.go:384-437),
    using AES-256-GCM (authenticated encryption covers the signing
    role).  Production parity with the reference's PGP container would
    swap this for an OpenPGP implementation; the Spark-side shape
    (post-write per-file pass, original removed after encrypt) is the
    same.

    DEFAULT path is distributed: with an active (or passed) Spark
    session the work runs as ``encrypt_files_distributed`` — at 100 TB
    the crypto scales with the write, not the driver.  The driver-side
    loop below is only the no-session fallback (tests, tiny local
    outputs)."""
    import secrets

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is not None:
        return encrypt_files_distributed(spark, path, key, suffix=suffix)

    aes = AESGCM(key)
    out = []
    for fp in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        base = os.path.basename(fp)
        if not os.path.isfile(fp) or base.startswith(("_", ".")) or fp.endswith(suffix):
            continue
        with open(fp, "rb") as f:
            data = f.read()
        nonce = secrets.token_bytes(12)
        enc = nonce + aes.encrypt(nonce, data, None)
        with open(fp + suffix, "wb") as f:
            f.write(enc)
        os.remove(fp)
        out.append(fp + suffix)
    return out


def _resolve_fs(uri: str):
    """(filesystem, path) for a Spark-style file URI.  Executor Python
    workers have no JVM gateway, so the Hadoop-FileSystem role is filled
    by pyarrow.fs implementations: LocalFileSystem for file:/…, S3 for
    s3a://… (scheme translated), HadoopFileSystem for hdfs://… (needs
    libhdfs).  Plain paths resolve local."""
    from pyarrow import fs as pafs

    if uri.startswith("file:"):
        p = uri[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return pafs.LocalFileSystem(), p
    if "://" in uri:
        scheme, rest = uri.split("://", 1)
        if scheme in ("s3a", "s3n"):
            uri = "s3://" + rest
        return pafs.FileSystem.from_uri(uri)
    return pafs.LocalFileSystem(), uri


def encrypt_files_distributed(spark, path: str, key: bytes,
                              suffix: str = ".enc") -> list[str]:
    """Distributed encryption — the DEFAULT entry point (the driver-side
    ``encrypt_files`` loop is the small-output fallback): binaryFile
    scan → per-file AES-256-GCM in executors (same pattern as the
    distributed manifest — at 100 TB the crypto work scales with the
    write, not the driver).  Executors write sibling ``.enc`` files
    through the filesystem API resolved from the file URI (local, s3a,
    hdfs — see ``_resolve_fs``), so object-store outputs work; the
    driver removes originals only after the job reports every file
    encrypted."""
    from pyspark.sql import types as T

    out_schema = T.StructType([T.StructField("src", T.StringType()),
                               T.StructField("dst", T.StringType())])

    def enc_batch(batches):
        import posixpath
        import secrets

        import pandas as pd
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM

        aes = AESGCM(key)
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                base = posixpath.basename(p)
                if base.startswith(("_", ".")) or p.endswith(suffix):
                    continue
                fs, fp = _resolve_fs(p)
                nonce = secrets.token_bytes(12)
                blob = nonce + aes.encrypt(nonce, bytes(content), None)
                with fs.open_output_stream(fp + suffix) as f:
                    f.write(blob)
                rows.append((p, p + suffix))
            yield pd.DataFrame(rows, columns=["src", "dst"])

    done = (spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true").load(path)
            .select("path", "content")
            .mapInPandas(enc_batch, out_schema)
            .collect())
    for r in done:
        fs, fp = _resolve_fs(r.src)
        fs.delete_file(fp)
    return sorted(_resolve_fs(r.dst)[1] for r in done)


def decrypt_file(fp: str, key: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
    with open(fp, "rb") as f:
        blob = f.read()
    return AESGCM(key).decrypt(blob[:12], blob[12:], None)


def verify_manifest(spark, path: str) -> dict:
    """Consumer-side integrity check (the reference consumer validates
    the EndOfStreamMark before trusting a file batch): recompute every
    file's sha256 and size in executors and diff against _DONE.

    Returns {"ok": bool, "checked": n, "mismatched": [rel...],
    "missing": [rel...], "extra": [rel...]}.  The re-hash is the
    manifest writer's own ``_file_stats`` scan, without record counts.

    On a local FS Hadoop's own .crc sidecars may fail the read before
    this check runs — equally loud corruption detection; this function
    is the path for stores without sidecars (s3a, raw copies)."""
    expected = read_manifest(path)["files"]
    actual = _file_stats(spark, path)
    mismatched = [rel for rel, meta in expected.items()
                  if rel in actual
                  and (actual[rel]["sha256"] != meta["sha256"]
                       or actual[rel]["bytes"] != meta["bytes"])]
    missing = [rel for rel in expected if rel not in actual]
    extra = [rel for rel in actual if rel not in expected]
    return {"ok": not (mismatched or missing or extra),
            "checked": len(expected), "mismatched": sorted(mismatched),
            "missing": sorted(missing), "extra": sorted(extra)}
