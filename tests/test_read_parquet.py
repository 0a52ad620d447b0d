"""``sources.catalog.read_parquet`` infers a parquet schema once per file set.

A second read of an unchanged path passes the cached schema to
``spark.read.schema(...)`` and launches no Spark job. Everything that can
change what inference returns makes the next read infer afresh, with
rows and schema equal to a fresh ``spark.read.parquet``: a rewrite with
another physical type, a flip of an inference conf, and an
``ivf_append`` adding files under an index's inverted lists.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from etl_job_spark.operators import similarity
from etl_job_spark.sources import load_table
from etl_job_spark.sources.catalog import read_parquet


def _jobs(spark, build):
    """(frame, Spark jobs launched while building it and resolving its
    schema)."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet")
    try:
        df = build()
        df.schema
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect(), key=repr)


def _reinfers_like_fresh(spark, path: str) -> None:
    got, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n >= 1  # the cached schema was not reused
    fresh = spark.read.parquet(path)
    assert got.schema == fresh.schema
    assert _rows(got) == _rows(fresh)
    _, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 0  # and the new schema is cached in turn


@pytest.mark.parametrize("name", ["lineitem", "events", "embeddings"])
def test_second_load_table_launches_no_job(spark, sf_dir, name):
    first, _ = _jobs(spark, lambda: load_table(spark, sf_dir, name))
    again, n = _jobs(spark, lambda: load_table(spark, sf_dir, name))
    assert n == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)


def test_rewrite_with_wider_type_reinfers(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(20).select(F.col("id").cast("int").alias("k")).write.parquet(path)
    assert read_parquet(spark, path).schema["k"].dataType.simpleString() == "int"
    _, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 0
    spark.range(30).select(F.col("id").cast("bigint").alias("k")).write.mode(
        "overwrite"
    ).parquet(path)
    _reinfers_like_fresh(spark, path)
    assert read_parquet(spark, path).schema["k"].dataType.simpleString() == "bigint"


@pytest.mark.parametrize(
    "conf",
    [
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    ],
)
def test_inference_conf_flip_reinfers(spark, sf_dir, conf):
    path = f"{sf_dir}/events.parquet"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "true")
        read_parquet(spark, path)
        _, n = _jobs(spark, lambda: read_parquet(spark, path))
        assert n == 0
        spark.conf.set(conf, "false")
        _reinfers_like_fresh(spark, path)
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_ivf_append_reinfers_assignment(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    base, extra = emb.filter(F.col("vec_id") % 5 != 0), emb.filter(F.col("vec_id") % 5 == 0)
    idx = str(tmp_path / "ivf")
    similarity.ivf_build_index(base, idx, n_centroids=4, n_iters=1)
    path = f"{idx}/assignment"
    read_parquet(spark, path)
    _, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 0
    similarity.ivf_append(spark, idx, extra)
    _reinfers_like_fresh(spark, path)
    assert read_parquet(spark, path).count() == emb.count()


def test_cached_schema_reads_nanos_as_long(spark, tmp_path):
    # the generator-dependent events.ts form: TIMESTAMP(NANOS), which
    # only reads under nanosAsLong — the cached-schema read must hand
    # back the same longs as inference does
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ns.parquet")
    ns = pa.array([1_700_000_000_123_456_789, 5], pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ns}), path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        first = read_parquet(spark, path)
        again, n = _jobs(spark, lambda: read_parquet(spark, path))
        assert n == 0
        assert again.schema == first.schema
        assert again.collect() == first.collect()
        assert [r.ts for r in again.collect()] == [1_700_000_000_123_456_789, 5]
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
