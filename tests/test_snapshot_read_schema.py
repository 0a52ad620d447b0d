"""Snapshot reads plan from the manifest's committed schema.

``ManifestTable._read_files`` hands every batch scan a schema built from
the manifest (``fields`` + ``column_map``), so building a snapshot opens
no parquet footer and launches no Spark job. Pinned here: zero jobs for
``snapshot`` / ``snapshot_where`` on a multi-batch hive-partitioned
table, and rows + schema equal to the footer-inferred read (the path a
manifest without ``fields`` still takes) through every schema change a
batch can predate: an added column, a renamed column, an int→bigint
widening, a partition-spec change that leaves one column hive-
partitioned in old batches and physical in new ones, and shallow-cloned
entries that carry a foreign ``base``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from etl_job_spark.table import ManifestTable, _align


def _jobs(spark, build):
    """(frame, number of Spark jobs launched while building it and
    resolving its schema)."""
    sc = spark.sparkContext
    group = f"read-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot build")
    try:
        df = build()
        df.schema
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, t: ManifestTable):
    """The latest snapshot as a footer-inferred read: the same entries
    under the same manifest minus ``fields``, aligned like snapshot()."""
    man = t._read_manifest(t.latest_version())
    legacy = {k: v for k, v in man.items() if k != "fields"}
    return _align(
        t._read_files(spark, man["files"], legacy),
        t._manifest_schema(man),
        man.get("column_map"),
    )


def _rows(df):
    return sorted(df.collect(), key=repr)


def _check(spark, t: ManifestTable, pred: list[tuple], residual: str) -> None:
    ref, ref_jobs = _jobs(spark, lambda: _inferred(spark, t))
    assert ref_jobs >= 1  # footer inference is a job: the counter sees it
    snap, n = _jobs(spark, lambda: t.snapshot(spark))
    assert n == 0
    assert snap.schema == ref.schema
    assert _rows(snap) == _rows(ref)
    where, n = _jobs(spark, lambda: t.snapshot_where(spark, pred))
    assert n == 0
    assert where.schema == ref.schema
    assert _rows(where) == _rows(ref.filter(residual))


def _batch(spark, lo: int, hi: int, k_type: str = "int", extra: bool = False):
    cols = [
        F.col("id").cast(k_type).alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    ]
    if extra:
        cols.append((F.col("id") * 10).cast("string").alias("extra"))
    return spark.range(lo, hi).select(*cols)


def test_snapshot_reads_launch_no_jobs_and_match_inference(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(_batch(spark, 0, 12), partition_by=["p"])
    t.append(_batch(spark, 12, 24))
    _check(spark, t, [("p", "in", [1, 2])], "p IN (1, 2)")

    # added column: older batches predate it and read NULL
    t.alter_schema(spark, add={"extra": "string"})
    t.append(_batch(spark, 24, 30, extra=True))
    _check(spark, t, [("k", ">=", 20)], "k >= 20")

    # renamed column: files keep the physical name
    t.rename_column("v", "label")
    t.append(_batch(spark, 30, 36, extra=True).withColumnRenamed("v", "label"))
    _check(spark, t, [("label", "=", "v31")], "label = 'v31'")

    # widened int -> bigint: older batches store int
    t.alter_schema(spark, widen={"k": "bigint"})
    t.append(
        _batch(spark, 36, 42, k_type="bigint", extra=True)
        .withColumnRenamed("v", "label")
    )
    _check(spark, t, [("k", "between", (5, 40))], "k BETWEEN 5 AND 40")

    # partition-spec evolution: p is a hive dir in the old batches and
    # a physical int column in the new one
    t.alter_partition_spec([])
    t.append(
        _batch(spark, 42, 48, k_type="bigint", extra=True)
        .withColumnRenamed("v", "label")
    )
    man = t._read_manifest(t.latest_version())
    assert {bool(e["partition"]) for e in man["files"]} == {True, False}
    _check(spark, t, [("p", "=", 2)], "p = 2")

    # shallow clone: every entry carries the source's data dir as its
    # base; a clone-local append adds a batch of the clone's own
    c = t.clone_to(str(tmp_path / "c"))
    assert all(e.get("base") for e in c._read_manifest(c.latest_version())["files"])
    c.append(
        _batch(spark, 48, 54, k_type="bigint", extra=True)
        .withColumnRenamed("v", "label")
    )
    _check(spark, c, [("p", "in", [0, 1])], "p IN (0, 1)")
