"""Object-store witness for the state filesystem layer (VERDICT r4 #7):
run ``statefs.exists``/``rmtree``/parquet-read against a REAL S3 wire
protocol (a local moto_server S3 emulator), over ``s3a://`` URIs — the
F4/F5 surface (pipe/s3.go:44-269) applied to state paths.

Spark-side s3a writes remain env-gated (no hadoop-aws jar ships in this
container — ROADMAP.md), but every state-path primitive the streaming
sinks call is exercised here against S3 semantics, not a POSIX mount.
pyarrow→moto multipart UPLOADS are incompatible (moto returns an error
body in a 200 CompleteMultipartUpload), so objects are seeded via boto3
and the read/exists/delete side — what the sinks' replay guards and
cleanup actually use — is verified through statefs, as is the state
commit protocol's recovery: promote by copy + delete (S3 has no
directory rename), the batch marker, and the replay no-op, for flat
tables and for bucketed ones (per-bucket promote, bucket-count change).
"""

import io
import os
import socket
import subprocess
import time

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")


@pytest.fixture(scope="module")
def s3_endpoint():
    # free port
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    proc = subprocess.Popen(
        ["moto_server", "-p", str(port)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    url = f"http://127.0.0.1:{port}"
    # wait for the listener
    for _ in range(50):
        try:
            socket.create_connection(("127.0.0.1", port), timeout=0.2).close()
            break
        except OSError:
            time.sleep(0.1)
    else:
        proc.terminate()
        pytest.skip("moto_server did not start")
    yield url
    proc.terminate()
    proc.wait(timeout=10)


@pytest.fixture()
def s3_env(s3_endpoint, monkeypatch):
    monkeypatch.setenv("AWS_ENDPOINT_URL", s3_endpoint)
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "test")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "test")
    monkeypatch.setenv("AWS_EC2_METADATA_DISABLED", "true")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    return boto3.client("s3", endpoint_url=s3_endpoint,
                        aws_access_key_id="test",
                        aws_secret_access_key="test",
                        region_name="us-east-1")


def test_statefs_exists_and_rmtree_over_s3(s3_env):
    from storagetapper_spark.statefs import exists, join_uri, rmtree

    c = s3_env
    c.create_bucket(Bucket="statebkt")
    c.put_object(Bucket="statebkt",
                 Key="st/cusum/current/part-0.parquet", Body=b"d")
    c.put_object(Bucket="statebkt", Key="st/cusum/v0/_SUCCESS", Body=b"")

    base = "s3a://statebkt/st"
    # the exact calls the replay guards make
    assert exists(join_uri(base, "cusum", "current"))
    assert exists(join_uri(base, "cusum", "v0", "_SUCCESS"))
    assert not exists(join_uri(base, "cusum", "v1"))
    # stage/bucket cleanup
    rmtree(join_uri(base, "cusum", "v0"))
    assert not exists(join_uri(base, "cusum", "v0", "_SUCCESS"))
    rmtree(join_uri(base, "cusum", "v0"))  # idempotent on missing


def test_statefs_reads_parquet_over_s3(s3_env):
    """The sinks' ``spark.read.parquet(current)`` counterpart at the
    pyarrow layer: a parquet object seeded over the wire reads back
    through the same filesystem resolution statefs uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from storagetapper_spark.sinks.files import _resolve_fs

    buf = io.BytesIO()
    pq.write_table(pa.table({"pk": [1, 2], "seqno": [10, 11]}), buf)
    s3_env.create_bucket(Bucket="databkt")
    s3_env.put_object(Bucket="databkt", Key="cur/part-0.parquet",
                      Body=buf.getvalue())

    f, p = _resolve_fs("s3a://databkt/cur/part-0.parquet")
    got = pq.read_table(p, filesystem=f)
    assert got.num_rows == 2
    assert sorted(got.column("seqno").to_pylist()) == [10, 11]


def _parquet_bytes(pks):
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table({"pk": pks}), buf)
    return buf.getvalue()


def _keys(c, bucket, prefix):
    """Object keys under ``prefix``, without the empty directory-marker
    objects pyarrow leaves behind when it deletes a directory."""
    out = c.list_objects_v2(Bucket=bucket, Prefix=prefix).get("Contents", [])
    return sorted(o["Key"][len(prefix):] for o in out
                  if not o["Key"].endswith("/"))


def test_commit_recovery_over_s3(s3_env, spark):
    """statefs.committed_batch / commit_state over s3a:// (no directory
    rename): a complete version newer than current's marker is promoted
    by copy + delete with its marker, a torn version (no _SUCCESS) is
    removed, and a replayed batch writes nothing."""
    import pyarrow.parquet as pq

    from storagetapper_spark.sinks.files import _resolve_fs
    from storagetapper_spark.statefs import commit_state, committed_batch

    c = s3_env
    c.create_bucket(Bucket="commitbkt")
    # crash window: v2 was written completely, current still holds
    # batch 1, and v3's write was torn
    c.put_object(Bucket="commitbkt", Key="st/t/current/part-0.parquet",
                 Body=_parquet_bytes([1]))
    c.put_object(Bucket="commitbkt", Key="st/t/current/_batch_1", Body=b"")
    c.put_object(Bucket="commitbkt", Key="st/t/v2/part-0.parquet",
                 Body=_parquet_bytes([1, 2]))
    c.put_object(Bucket="commitbkt", Key="st/t/v2/_SUCCESS", Body=b"")
    c.put_object(Bucket="commitbkt", Key="st/t/v3/part-0.parquet",
                 Body=_parquet_bytes([9]))

    cur = "s3a://commitbkt/st/t/current"
    assert committed_batch(cur) == 2
    assert _keys(c, "commitbkt", "st/t/") == [
        "current/_SUCCESS", "current/_batch_2", "current/part-0.parquet"]
    f, p = _resolve_fs(cur)
    got = pq.read_table(f"{p}/part-0.parquet", filesystem=f)
    assert sorted(got.column("pk").to_pylist()) == [1, 2]

    # replaying batch 2 is a no-op: no write is attempted (a Spark
    # write to s3a:// would fail here — no hadoop-aws jar)
    assert not commit_state(spark.range(1), cur, 2)
    assert committed_batch(cur) == 2


def test_missing_current_recovers_over_s3(s3_env):
    """Crash after an object-store promote deleted current but before
    the copy landed: the complete version becomes current."""
    from storagetapper_spark.statefs import committed_batch

    c = s3_env
    c.create_bucket(Bucket="recoverbkt")
    c.put_object(Bucket="recoverbkt", Key="st/gtid_v4/part-0.parquet",
                 Body=_parquet_bytes([7]))
    c.put_object(Bucket="recoverbkt", Key="st/gtid_v4/_SUCCESS", Body=b"")
    assert committed_batch("s3a://recoverbkt/st/gtid_current") == 4
    assert _keys(c, "recoverbkt", "st/") == [
        "gtid_current/_SUCCESS", "gtid_current/_batch_4",
        "gtid_current/part-0.parquet"]


def _pks(key):
    import pyarrow.parquet as pq

    from storagetapper_spark.sinks.files import _resolve_fs

    f, p = _resolve_fs(key)
    return sorted(pq.read_table(p, filesystem=f).column("pk").to_pylist())


def test_bucket_promote_recovery_over_s3(s3_env, spark):
    """Crash part-way through a bucketed version's per-bucket promote
    over s3a://: bucket 0 was copied and its source half deleted (its
    ``_touched`` mark already gone), bucket 1 is still pre-batch, bucket
    3 is emptied by the batch, bucket 2 is untouched.  Recovery copies
    bucket 1, removes bucket 3, leaves 0 and 2 alone and moves the
    marker last."""
    from storagetapper_spark.statefs import commit_state, committed_batch

    c = s3_env
    c.create_bucket(Bucket="bucketbkt")
    for key, body in [
            ("current/_SUCCESS", b""), ("current/_batch_1", b""),
            ("current/_buckets_4", b""),
            ("current/_bucket=0/part-0.parquet", _parquet_bytes([1, 2])),
            ("current/_bucket=1/part-0.parquet", _parquet_bytes([3])),
            ("current/_bucket=2/part-0.parquet", _parquet_bytes([5])),
            ("current/_bucket=3/part-0.parquet", _parquet_bytes([7])),
            ("v2/_SUCCESS", b""),
            ("v2/_bucket=0/part-0.parquet", _parquet_bytes([99])),
            ("v2/_bucket=1/_touched", b""),
            ("v2/_bucket=1/part-0.parquet", _parquet_bytes([3, 4])),
            ("v2/_bucket=3/_touched", b"")]:
        c.put_object(Bucket="bucketbkt", Key="st/t/" + key, Body=body)

    cur = "s3a://bucketbkt/st/t/current"
    assert committed_batch(cur) == 2
    assert _keys(c, "bucketbkt", "st/t/") == [
        "current/_SUCCESS", "current/_batch_2",
        "current/_bucket=0/part-0.parquet",
        "current/_bucket=1/_touched", "current/_bucket=1/part-0.parquet",
        "current/_bucket=2/part-0.parquet", "current/_buckets_4"]
    assert _pks(cur + "/_bucket=0/part-0.parquet") == [1, 2]
    assert _pks(cur + "/_bucket=1/part-0.parquet") == [3, 4]
    assert not commit_state(spark.range(1), cur, 2)


def test_bucket_count_change_recovery_over_s3(s3_env):
    """Crash while a count change (2 → 4 buckets, a whole-table commit)
    was deleting the old current over s3a://: some old-hashing files and
    the old marker survive.  The complete version wins whole: no file of
    the old hashing is left."""
    from storagetapper_spark.statefs import committed_batch

    c = s3_env
    c.create_bucket(Bucket="countbkt")
    seed = [("current/_batch_2", b""), ("current/_buckets_2", b""),
            ("current/_bucket=1/part-0.parquet", _parquet_bytes([1, 3])),
            ("v3/_SUCCESS", b""), ("v3/_buckets_4", b"")]
    seed += [(f"v3/_bucket={b}/part-0.parquet", _parquet_bytes([b]))
             for b in range(4)]
    for key, body in seed:
        c.put_object(Bucket="countbkt", Key="st/t/" + key, Body=body)

    cur = "s3a://countbkt/st/t/current"
    assert committed_batch(cur) == 3
    assert _keys(c, "countbkt", "st/t/") == [
        "current/_SUCCESS", "current/_batch_3",
        *[f"current/_bucket={b}/part-0.parquet" for b in range(4)],
        "current/_buckets_4"]
    assert [_pks(f"{cur}/_bucket={b}/part-0.parquet") for b in range(4)] \
        == [[0], [1], [2], [3]]
