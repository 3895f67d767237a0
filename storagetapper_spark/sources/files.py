"""File-format ingestion sources: schema-enforced CSV / JSON readers
with explicit malformed-row policy, mirroring the changelog feed's
dead-letter discipline (streaming/pipeline.read_changelog_stream_with_dlq)
for batch loads.

Reference parity note: storagetapper's input is MySQL binlog; its
OUTPUT formats (json/msgpack/avro) become inputs when a pipe re-reads
its own stream (S5).  These readers are the batch half of that story
plus the generic file-drop ingestion any Spark deployment needs.

Scale: always pass an explicit schema.  Schema inference scans the
data TWICE (once to infer, once to read) — at 100 TB that is the
difference between one pass and two.  The corrupt-record column keeps
bad rows out of the typed columns without failing the job (PERMISSIVE),
so one poison file can't kill a 1000-executor load.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storagetapper_spark.operators.pin import pin

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields)
                        + [T.StructField(CORRUPT_COL, T.StringType())])


def read_json_feed(spark: SparkSession, path: str,
                   schema: T.StructType) -> DataFrame:
    """JSON-lines load with PERMISSIVE malformed handling: bad lines
    land in ``_corrupt_record`` (typed columns null), good lines parse
    normally.  Split with :func:`split_corrupt`."""
    return (spark.read.schema(_with_corrupt(schema))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .json(path))


def read_csv_feed(spark: SparkSession, path: str, schema: T.StructType,
                  header: bool = True, delimiter: str = ",") -> DataFrame:
    """CSV load with the same corrupt-record policy."""
    return (spark.read.schema(_with_corrupt(schema))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("header", str(header).lower())
            .option("delimiter", delimiter)
            .csv(path))


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows_without_corrupt_col, bad_rows_as_raw_text) — the
    batch dead-letter split.  Callers write the bad side to a DLQ path
    and alert on its count, exactly like the streaming DLQ.

    The parsed frame is pinned first (operators/pin): Spark disallows
    referencing ONLY the corrupt-record column against raw files (the
    parser would have to re-read just to report corruption — see
    SPARK-21610); the pin's plan no longer reads the files, and it
    materializes the parse once, which is also what you want when both
    splits are consumed."""
    df = pin(df)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = (df.filter(F.col(CORRUPT_COL).isNotNull())
             .select(F.col(CORRUPT_COL).alias("raw")))
    return good, bad
