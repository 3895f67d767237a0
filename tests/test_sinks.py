"""File sink: rotation, compression, manifest, encryption round-trip
(F1/F2/F3 analogs)."""

import gzip
import hashlib
import json
import os

import pytest

from storagetapper_spark.functions.json_codec import encode_json
from storagetapper_spark.sinks.files import (
    _write_manifest,
    decrypt_file,
    encrypt_files,
    read_manifest,
    write_files,
)
from storagetapper_spark.sources.snapshot import snapshot_scan


def _encoded(spark, n=100):
    df = spark.range(n).selectExpr("id", "concat('v', id) as v")
    snap = snapshot_scan(df, pk_cols=["id"])
    return encode_json(snap, pk_cols=["id"])


def test_write_text_gz_with_manifest(spark, tmp_path):
    out = str(tmp_path / "out")
    manifest = write_files(_encoded(spark), out, fmt="text", compression="gzip")
    assert manifest["total_records"] == 100
    files = [f for f in manifest["files"] if f.endswith(".gz")]
    assert files, "expected gzip part files"
    # manifest sha256 matches the bytes on disk (pipe/file.go:482-483)
    fp = os.path.join(out, files[0])
    with open(fp, "rb") as f:
        assert hashlib.sha256(f.read()).hexdigest() == manifest["files"][files[0]]["sha256"]
    # records are newline-delimited JSON events
    with gzip.open(fp, "rt") as f:
        ev = json.loads(f.readline())
    assert ev["Type"] == "insert" and ev["SeqNo"] == -1
    # _DONE readable back
    assert read_manifest(out)["total_records"] == 100


def test_rotation_max_records(spark, tmp_path):
    out = str(tmp_path / "rot")
    df = _encoded(spark, 100).coalesce(1)
    manifest = write_files(df, out, fmt="text", compression=None,
                           max_records_per_file=30)
    sizes = [v["records"] for v in manifest["files"].values()]
    assert sum(sizes) == 100
    assert max(sizes) <= 30  # rotation bound (max_file_size analog)


def test_partition_by_stream(spark, tmp_path):
    out = str(tmp_path / "parts")
    df = spark.range(10).selectExpr(
        "id", "case when id % 2 = 0 then 'snapshot' else 'log' end as stream",
        "cast(id as string) as value")
    write_files(df, out, fmt="text", compression=None, partition_by=["stream"])
    # two-stream file routing (pipe/file.go:768-773)
    assert os.path.isdir(os.path.join(out, "stream=snapshot"))
    assert os.path.isdir(os.path.join(out, "stream=log"))


def test_encrypt_decrypt_roundtrip(spark, tmp_path):
    out = str(tmp_path / "enc")
    write_files(_encoded(spark, 10), out, fmt="text", compression=None)
    with open([os.path.join(out, f) for f in read_manifest(out)["files"]][0], "rb") as f:
        plain = f.read()
    key = bytes(range(32))
    enc_files = encrypt_files(out, key)
    assert enc_files and all(fp.endswith(".enc") for fp in enc_files)
    assert decrypt_file(enc_files[0], key) == plain
    # originals removed after encryption (reference chains the writer)
    assert not [f for f in os.listdir(out)
                if not f.startswith(("_", ".")) and not f.endswith(".enc")]


def test_encrypt_files_distributed_roundtrip(spark, tmp_path):
    """Distributed encryption: every data file encrypted executor-side,
    originals removed, decrypt restores exact bytes."""
    import gzip as _gzip

    from pyspark.sql import functions as F

    from storagetapper_spark.sinks.files import (
        decrypt_file,
        encrypt_files_distributed,
        write_files,
    )

    out = str(tmp_path / "enc_out")
    df = spark.range(0, 1000).select(
        F.concat(F.lit("rec-"), F.col("id")).alias("value"))
    write_files(df, out, fmt="text", compression="gzip")

    key = bytes(range(32))
    enc = encrypt_files_distributed(spark, out, key)
    assert enc and all(p.endswith(".enc") for p in enc)
    # no plaintext part files remain
    import glob as _glob
    leftover = [p for p in _glob.glob(os.path.join(out, "**", "*"), recursive=True)
                if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
                and not p.endswith(".enc")]
    assert leftover == []
    # decrypt one file and read its gzip payload
    data = decrypt_file(enc[0], key)
    lines = _gzip.decompress(data).decode().strip().split("\n")
    assert all(line.startswith("rec-") for line in lines)


def test_resolve_fs_uri_forms():
    """URI → (filesystem, path) resolution used by distributed
    encryption: Spark binaryFile emits file:/abs and file:///abs; object
    stores use s3a:// (translated to pyarrow's s3://)."""
    from pyarrow import fs as pafs

    from storagetapper_spark.sinks.files import _resolve_fs

    f1, p1 = _resolve_fs("file:/tmp/x/part-0.gz")
    f2, p2 = _resolve_fs("file:///tmp/x/part-0.gz")
    f3, p3 = _resolve_fs("/tmp/x/part-0.gz")
    assert p1 == p2 == p3 == "/tmp/x/part-0.gz"
    assert all(isinstance(f, pafs.LocalFileSystem) for f in (f1, f2, f3))


def test_verify_manifest_detects_corruption(spark, sf_dir, tmp_path):
    """Clean batch verifies ok; a flipped byte, a deleted file, and a
    stray file are each reported by name."""
    import os

    from pyspark.sql import functions as F

    from storagetapper_spark.sinks.files import verify_manifest, write_files

    df = (spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
          .select(F.to_json(F.struct("*")).alias("value")))
    out = str(tmp_path / "batch")
    write_files(df, out, fmt="text", compression=None)

    rep = verify_manifest(spark, out)
    assert rep["ok"] and rep["checked"] >= 1

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    victim = os.path.join(out, parts[0])
    data = bytearray(open(victim, "rb").read())
    data[0] ^= 0xFF
    open(victim, "wb").write(bytes(data))
    # drop Hadoop's local-FS CRC sidecar: on object stores there is none,
    # and with it present Hadoop fails the read loudly before our check
    # (also corruption detection — just not the path under test)
    crc = os.path.join(out, f".{parts[0]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stray = os.path.join(out, "stray.txt")
    open(stray, "w").write("not in manifest\n")

    rep = verify_manifest(spark, out)
    assert not rep["ok"]
    assert parts[0] in rep["mismatched"]
    assert "stray.txt" in rep["extra"]

    os.remove(victim)
    rep = verify_manifest(spark, out)
    assert parts[0] in rep["missing"]


def test_write_csv_orc_roundtrip(spark, tmp_path):
    """csv and orc sink formats round-trip rows and types (csv via the
    header + inferred read; orc natively typed)."""
    from pyspark.sql import functions as F

    df = spark.range(50).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("k"), F.col("id")).alias("name"))
    out_csv = str(tmp_path / "csv")
    m1 = write_files(df, out_csv, fmt="csv", compression="gzip")
    back_csv = spark.read.schema("id long, v long, name string") \
        .csv(out_csv)
    assert back_csv.count() == 50
    assert sorted(tuple(r) for r in back_csv.collect()) == \
        sorted(tuple(r) for r in df.collect())
    assert m1["total_records"] == 50
    out_orc = str(tmp_path / "orc")
    m2 = write_files(df, out_orc, fmt="orc", compression="zlib")
    back_orc = spark.read.orc(out_orc)
    assert sorted(tuple(r) for r in back_orc.collect()) == \
        sorted(tuple(r) for r in df.collect())
    assert m2["total_records"] == 50


def _typed(spark, n=60):
    return spark.range(n).selectExpr("id", "id * 2 as v",
                                     "concat('k', id) as name")


# case → (frame builder, write_files keywords); one case per write_files
# format plus rotation, partition values that need escaping, zero rows
_MANIFEST_CASES = {
    "text_gzip": (lambda s: _encoded(s, 60),
                  {"fmt": "text", "compression": "gzip"}),
    # a bare \r inside a value is not a record separator; empty lines count
    "text_none": (lambda s: s.range(40).selectExpr(
        "if(id % 7 = 3, '', concat('v', id, if(id % 5 = 0, '\\r', ''), 'x'))"
        " as value"),
        {"fmt": "text", "compression": None}),
    "json": (_typed, {"fmt": "json", "compression": None}),
    "csv_gzip": (_typed, {"fmt": "csv", "compression": "gzip"}),
    "orc": (_typed, {"fmt": "orc", "compression": "zlib"}),
    "parquet": (_typed, {"fmt": "parquet", "compression": "snappy"}),
    "rotation": (lambda s: _encoded(s, 60).coalesce(2),
                 {"fmt": "text", "compression": "gzip",
                  "max_records_per_file": 7}),
    "partition_by": (lambda s: s.range(30).selectExpr(
        "if(id % 3 = 0, 'a b%', 'log') as stream",
        "cast(id as string) as value"),
        {"fmt": "text", "compression": None, "partition_by": ["stream"]}),
    "zero_rows_text": (lambda s: _encoded(s, 0),
                       {"fmt": "text", "compression": "gzip"}),
    "zero_rows_parquet": (lambda s: _typed(s, 0), {"fmt": "parquet"}),
}


@pytest.mark.parametrize("case", sorted(_MANIFEST_CASES))
def test_manifest_matches_driver_side_reference(spark, tmp_path, case):
    """The executor-side _DONE manifest equals the driver-side reference
    (_write_manifest) file by file: sha256, bytes and record count."""
    build, kw = _MANIFEST_CASES[case]
    out = str(tmp_path / case)
    got = write_files(build(spark), out, **kw)
    ref = _write_manifest(out)
    assert got["files"] and got["files"] == ref["files"]
    assert got["total_records"] == ref["total_records"]
    if case == "rotation":
        assert max(m["records"] for m in got["files"].values()) == 7
    if case == "partition_by":
        assert any(rel.startswith("stream=a b%25" + os.sep)
                   for rel in got["files"])
    if case.startswith("zero_rows"):
        assert got["total_records"] == 0
