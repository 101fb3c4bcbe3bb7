"""The lake's schema record (``<lake>/_lake_schema.json``): ``read_lake``
reads a recorded lake without a schema-inference job and returns what
inference would; writers keep the record equal to every data file's
schema or delete it; the record file is never read as data."""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import functions as F

from real_estate_bigdata_spark.sources import lake
from real_estate_bigdata_spark.streaming import speed_layer as sl
from tests.test_speed_layer import _raw_df

PARTS = ("ingest_date", "source")


@contextlib.contextmanager
def count_jobs(spark):
    """Yields a list that holds, after the block, the number of Spark
    jobs the block started."""
    sc = spark.sparkContext
    group = f"schema-record-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _rows(spark, n=40, extra: bool = False):
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 0.5).alias("price_ty"),
        F.lit("x").alias("tag"),  # non-nullable: nullability must survive
        F.lit("2025-04-24").cast("date").alias("ingest_date"),
        F.when(F.col("id") % 3 == 0, F.lit("muaban"))
        .otherwise(F.lit("alonhadat"))
        .alias("source"),
    )
    return df.withColumn("note", F.lit("new")) if extra else df


def _record(path):
    return os.path.join(path, lake.SCHEMA_RECORD)


def _same_as_inference(spark, path):
    """read_lake must return exactly what spark.read.parquet does."""
    got, want = lake.read_lake(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    return got


def test_recorded_read_runs_no_job_and_equals_inference(spark, tmp_path):
    path = str(tmp_path / "lake")
    lake.write_lake(_rows(spark), path, mode="overwrite")
    assert os.path.exists(_record(path))
    with count_jobs(spark) as jobs:
        df = lake.read_lake(spark, path)
        df.schema
    assert jobs == [0]
    # inference pays a job for the same schema
    with count_jobs(spark) as jobs:
        spark.read.parquet(path).schema
    assert jobs[0] >= 1
    assert _same_as_inference(spark, path).count() == 40
    # the record holds data columns only; partitions stay directory-typed
    assert lake.SchemaRecord(spark, path).read().names == ["id", "price_ty", "tag"]
    assert dict(df.dtypes)["ingest_date"] == "date"


def test_same_schema_rewrite_keeps_record(spark, tmp_path):
    path = str(tmp_path / "lake")
    lake.write_lake(_rows(spark), path, mode="overwrite")
    before = os.stat(_record(path)).st_mtime_ns
    lake.write_lake(_rows(spark), path, mode="overwrite")
    lake.write_lake(_rows(spark, 10), path)  # append, same schema
    assert os.stat(_record(path)).st_mtime_ns == before
    assert _same_as_inference(spark, path).count() == 50


def test_append_with_other_schema_deletes_record(spark, tmp_path):
    path = str(tmp_path / "lake")
    lake.write_lake(_rows(spark), path)
    assert os.path.exists(_record(path))
    lake.write_lake(_rows(spark, 10, extra=True), path)
    assert not os.path.exists(_record(path))
    assert _same_as_inference(spark, path).count() == 50
    # the record never comes back while the lake holds mixed schemas
    lake.write_lake(_rows(spark, 5), path)
    assert not os.path.exists(_record(path))
    assert _same_as_inference(spark, path).count() == 55


def test_lake_without_record_reads_as_before(spark, tmp_path):
    path = str(tmp_path / "legacy")
    _rows(spark).write.partitionBy(*PARTS).parquet(path)
    with count_jobs(spark) as jobs:
        lake.read_lake(spark, path).schema
    assert jobs[0] >= 1  # the inference path, unchanged
    assert _same_as_inference(spark, path).count() == 40
    # a lake-module write onto unrecorded data cannot vouch for old files
    lake.write_lake(_rows(spark, 10), path)
    assert not os.path.exists(_record(path))
    assert _same_as_inference(spark, path).count() == 50


def test_speed_layer_records_schema(spark, tmp_path):
    env, dest = str(tmp_path / "env"), str(tmp_path / "lake")
    raw = _raw_df(spark)
    sl.write_kafka_envelopes(raw, env)
    q = sl.run_speed_layer(sl.kafka_envelope_file_source(spark, env), dest, str(tmp_path / "ck"))
    q.awaitTermination(60)
    with count_jobs(spark) as jobs:
        lake.read_lake(spark, dest).schema
    assert jobs == [0]
    assert _same_as_inference(spark, dest).count() == 6
    # a restart on the same lake and schema keeps the record
    sl.write_kafka_envelopes(raw, env)
    q = sl.run_speed_layer(sl.kafka_envelope_file_source(spark, env), dest, str(tmp_path / "ck"))
    q.awaitTermination(60)
    assert os.path.exists(_record(dest))
    assert _same_as_inference(spark, dest).count() == 12


def test_recorded_empty_speed_lake_reads_as_empty_frame(spark, tmp_path):
    env, dest = tmp_path / "env", str(tmp_path / "lake")
    env.mkdir()
    q = sl.run_speed_layer(sl.kafka_envelope_file_source(spark, str(env)), dest, str(tmp_path / "ck"))
    q.awaitTermination(60)
    df = lake.read_lake(spark, dest)
    assert df.count() == 0
    assert "quan_huyen" in df.columns


def test_compaction_keeps_record_correct(spark, tmp_path):
    src, silver = str(tmp_path / "lake"), str(tmp_path / "silver")
    for i in range(4):  # fragment the lake: four appends
        lake.write_lake(_rows(spark, 10).withColumn("id", F.col("id") + 10 * i), src)
    lake.compact_partitions(spark, src, dest_path=silver)
    # compaction writes what a batch read returns: the same columns, all
    # nullable (a batch read drops non-null flags either way)
    src_rec, silver_rec = (lake.SchemaRecord(spark, p).read() for p in (src, silver))
    assert [(f.name, f.dataType) for f in silver_rec] == [(f.name, f.dataType) for f in src_rec]
    assert all(f.nullable for f in silver_rec)
    assert _same_as_inference(spark, silver).count() == 40
    lake.compact_partitions(spark, src)  # in place: same schema, same record
    assert os.path.exists(_record(src))
    assert _same_as_inference(spark, src).count() == 40
    assert sorted(r.id for r in lake.read_lake(spark, src).collect()) == list(range(40))


def test_streaming_table_glob_skips_record(spark, tmp_path):
    """The streaming-table compaction reads ``path/*``, which matches the
    record file too; Spark must not read it as data."""
    env, dest, silver = str(tmp_path / "env"), str(tmp_path / "lake"), str(tmp_path / "silver")
    sl.write_kafka_envelopes(_raw_df(spark), env)
    q = sl.run_speed_layer(sl.kafka_envelope_file_source(spark, env), dest, str(tmp_path / "ck"))
    q.awaitTermination(60)
    assert os.path.exists(_record(dest))
    assert spark.read.option("basePath", dest).parquet(f"{dest}/*").count() == 6
    lake.compact_partitions(spark, dest, dest_path=silver)
    assert os.path.exists(_record(silver))
    assert _same_as_inference(spark, silver).count() == 6
