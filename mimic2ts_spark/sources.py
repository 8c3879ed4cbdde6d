"""Typed scans (SURVEY.md §2.1 S1/S2) and the stay dimension build.

The reference reads every event CSV with one shared dtype dict and
`assume_missing=True` (/root/reference/src/mimic2ts/__init__.py:240-245)
and the dims eagerly with pandas (:74-75). Here every scan is a
schema-first `spark.read` — no inference pass, columns pruned by Catalyst,
partition sizing left to `spark.sql.files.maxPartitionBytes` (the Spark
analogue of the reference's `blocksize` knob, :236).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic2ts_spark import memo, schemas
from mimic2ts_spark.operators.time_ops import parse_epoch_seconds, total_windows

_TABLES = {
    "icustays": schemas.ICUSTAYS,
    "d_items": schemas.D_ITEMS,
    "chartevents": schemas.CHARTEVENTS,
    "inputevents": schemas.INPUTEVENTS,
    "outputevents": schemas.OUTPUTEVENTS,
    "procedureevents": schemas.PROCEDUREEVENTS,
}


def _header_line(spark: SparkSession, path: str) -> str | None:
    """The first line of the text at `path` as `spark.read.text(path).first()`
    returns it, read on the driver through the session's Hadoop
    `FileSystem` (any URI scheme, globs, compression codecs): a UTF-8 BOM
    and the line ending are stripped. A directory reads as its visible
    files (not `_`/`.`-prefixed), the largest first, as Spark orders its
    input splits. None when every file is empty; FileNotFoundError
    naming `path` when nothing matches it."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    pattern = jvm.org.apache.hadoop.fs.Path(path)
    fs = pattern.getFileSystem(conf)
    matched = fs.globStatus(pattern)
    if not matched:
        raise FileNotFoundError(f"{path} does not exist")
    files = []
    for status in matched:
        listed = fs.listStatus(status.getPath()) if status.isDirectory() else [status]
        files += [
            f for f in listed
            if f.isFile() and f.getLen() > 0 and not f.getPath().getName().startswith(("_", "."))
        ]
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    for f in sorted(files, key=lambda f: (-f.getLen(), f.getPath().toString())):
        stream = fs.open(f.getPath())
        try:
            codec = codecs.getCodec(f.getPath())
            if codec is not None:
                stream = codec.createInputStream(stream)
            reader = jvm.java.io.InputStreamReader(stream, "UTF-8")
            line = jvm.java.io.BufferedReader(reader).readLine()
        finally:
            stream.close()
        if line is not None:
            return line.removeprefix("\ufeff")
    return None


def read_mimic_csv(spark: SparkSession, mimic_path: str, table: str) -> DataFrame:
    """Schema-first CSV scan of a MIMIC icu/ table (S1/S2), resolved BY
    NAME against the file header.

    Real MIMIC exports carry more columns than the engine needs and column
    order varies between dataset versions; a purely positional
    schema-apply would silently shift values into the wrong columns. Like
    the reference's partial dtype dict keyed by column name
    (/root/reference/src/mimic2ts/__init__.py:12-46,240-245), the header
    row (read on the driver, `_header_line`: no Spark job) maps each file
    column to its declared type — undeclared columns scan as strings and
    are pruned by the projection, a missing REQUIRED column fails with a
    clear error, and enforceSchema=false still cross-checks every file of
    a multi-file glob against the constructed header order."""
    declared = _TABLES[table]
    path = f"{mimic_path}/icu/{table}.csv"
    header_line = _header_line(spark, path)
    if header_line is None:
        raise ValueError(f"{path} is empty — no header row")
    header = [c.strip().strip('"') for c in header_line.split(",")]
    by_name = {f.name: f for f in declared.fields}
    missing = sorted(set(by_name) - set(header))
    if missing:
        raise ValueError(f"{path} is missing required columns {missing}; header={header}")
    from pyspark.sql import types as T

    file_schema = T.StructType(
        [by_name.get(c, T.StructField(c, T.StringType())) for c in header]
    )
    df = (
        spark.read.schema(file_schema)
        .option("header", True)
        .option("enforceSchema", False)
        .csv(path)
    )
    return df.select(*by_name)


def load_stays(
    spark: SparkSession, mimic_path: str, timestep_seconds: int
) -> DataFrame:
    """The broadcastable stay dimension: (stay_id, intime, outtime,
    total_windows) with times as epoch seconds.

    Parity: /root/reference/src/mimic2ts/__init__.py:84-98 (driver-side
    pandas there; a broadcast dim DataFrame here — same J1 semantics,
    SURVEY.md §2.4).
    """
    stays = read_mimic_csv(spark, mimic_path, "icustays")
    stays = stays.select(
        "stay_id",
        parse_epoch_seconds("intime").alias("intime"),
        parse_epoch_seconds("outtime").alias("outtime"),
    )
    return stays.withColumn(
        "total_windows", total_windows(F.col("outtime"), F.col("intime"), timestep_seconds)
    )


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Harness-table loader for /root/testdata/sf*/ (TESTDATA.md)."""
    return memo.read_parquet(spark, f"{sf_dir}/{name}.parquet")
