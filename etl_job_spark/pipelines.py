"""End-to-end pipeline runners — the engine's equivalents of the
reference's nine entry-point scripts (SURVEY.md §3).

Each reference script is a (window-derivation × pipeline) pair: daily
(yesterday..today, load_sales_data.py:145-147), single-date
(`*_spec.py`, input()-driven), and date-range (`*_period.py`). Here
the window is an explicit argument and every flavor is the same
function — `daily_window` / single day / arbitrary range all produce a
(lo, hi) pair, so the reference's three-script-per-job duplication
(and its `copy.py` drift, SURVEY.md intro) collapses structurally.

Pipelines:
- ``ingest_sales``  = E1: request plan → parallel fetch → quarantine
  split → schema decode → keyed merge into staging.
- ``build_mart_store`` = E2: staging → rename/cast → merge into mart →
  broadcast enrichment (J1/J2/P6/P7) → atomic rewrite.
- ``build_mart_prod`` = E3: range-scan staging → rename/cast → merge
  over the window's partitions only.

All writes are idempotent per key (K3 semantics): re-running any
window converges, which is the reference's core operational invariant
(its repair tooling simply re-runs dates).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_job_spark.operators.merge import merge_upsert_path
from etl_job_spark.sinks import overwrite_inplace, split_quarantine
from etl_job_spark.sources.json_api import Transport, build_request_plan, decode_payload, fetch_json


def daily_window(today: dt.date | None = None) -> tuple[str, str]:
    """(yesterday, today) as YYYYMMDD — the daily flavor's window
    (load_sales_data.py:145-147)."""
    today = today or dt.date.today()
    return (today - dt.timedelta(days=1)).strftime("%Y%m%d"), today.strftime("%Y%m%d")


def calendar_df(spark: SparkSession, lo: str, hi: str) -> DataFrame:
    """One row per day in [lo, hi] (F3's date_range generator,
    load_sales_with_prod_data_period.py:130-133) — sequence + explode,
    no driver-side loop."""
    return spark.sql(
        "SELECT date_format(d, 'yyyyMMdd') AS sale_date FROM ("
        "SELECT explode(sequence(to_date(:lo, 'yyyyMMdd'), to_date(:hi, 'yyyyMMdd'))) AS d)",
        args={"lo": lo, "hi": hi},
    )


def ingest_sales(
    spark: SparkSession,
    stores: DataFrame,
    window: tuple[str, str],
    transport: Transport,
    row_schema: StructType,
    staging_path: str,
    keys: Sequence[str] = ("sp_code", "sale_date"),
    quarantine_path: str | None = None,
    fetch_partitions: int | None = None,
) -> None:
    """E1: stores × window-days request plan, fetched in parallel,
    decoded through an explicit schema, merged into staging keyed by
    (sp_code, sale_date). Failed units land in the quarantine table
    (with payload context) instead of aborting — log-and-continue,
    made replayable."""
    plan = build_request_plan(stores, calendar_df(spark, *window))
    responses = fetch_json(plan, transport, num_partitions=fetch_partitions)
    ok, bad = split_quarantine(responses)
    if quarantine_path is not None:
        bad.write.mode("append").parquet(quarantine_path)
    rows = decode_payload(ok.withColumn("error", F.lit(None).cast("string")), row_schema)
    staged = rows.withColumn("sale_date", F.col("fetch_sale_date")).drop(
        "fetch_sp_code", "fetch_sale_date"
    )
    merge_upsert_path(spark, staging_path, staged, list(keys))


def _iso_day(col: str) -> F.Column:
    """YYYYMMDD → YYYY-MM-DD; NULL for anything that is not a real day.

    Staging tables landed by external writers can carry anything, so
    the value is parsed, not re-sliced: ``try_to_date`` under Spark's
    strict resolver rejects non-digits, month 13 and Feb 30, and the
    length guard rejects what the parser alone would stretch (nine
    digits read as year 12024). '2024ABCD', '20241399' and a 7-digit
    value all yield NULL; NULL propagates. The parse is the price of
    validity: on 4M rows under local[4] this form took 1.8 s against
    0.7 s for the unvalidated byte re-slice, and a digit regex in
    front of the re-slice (2.2 s) was slower still."""
    s = F.col(col)
    return F.when(
        F.length(s) == 8,
        F.date_format(F.try_to_date(s, "yyyyMMdd"), "yyyy-MM-dd"),
    )


def _mart_store_shape(staging: DataFrame) -> DataFrame:
    """tb_sales_by_store shape: P2 renames + F1 cast
    (kicc_to_tb_sales.py:71-86)."""
    return staging.select(
        F.col("sp_code").alias("chain_no"),
        _iso_day("sale_date").alias("sale_dy"),
        F.col("sp_name").alias("chain_name"),
        F.col("total_amt").alias("chong_maechool"),
        F.col("sale_amt").alias("soon_maechool"),
        F.col("net_amt").alias("net_maechool"),
        F.col("total_dc_amt").alias("discount_amount"),
        F.col("vat_amt").alias("vat"),
        F.col("cash_amt").alias("cash_maechool"),
        F.col("card_amt").alias("card_maechool"),
        F.col("emoney_amt").alias("samsung_pay_maechool"),
        F.col("bill_qty").alias("pay_count"),
    )


def _enrich_store(
    mart: DataFrame,
    temp_dim: DataFrame,
    easypos_dim: DataFrame,
    direct_stores: Sequence[str],
) -> DataFrame:
    """The three set-based UPDATEs (kicc_to_tb_sales.py:102-141) as one
    broadcast-join pass: J1 responsible ← resp, J2 xy ← xy_degree,
    P6/P7 '직영' where unmatched AND in-list."""
    return (
        mart.join(F.broadcast(temp_dim.select("chain_no", "resp")), "chain_no", "left")
        .join(F.broadcast(easypos_dim.select("chain_no", "xy_degree")), "chain_no", "left")
        .withColumn(
            "responsible",
            F.when(
                F.col("resp").isNull() & F.col("chain_no").isin(*direct_stores), F.lit("직영")
            ).otherwise(F.col("resp")),
        )
        .withColumn("xy", F.col("xy_degree"))
        .drop("resp", "xy_degree")
    )


def build_mart_store(
    spark: SparkSession,
    staging: DataFrame,
    temp_dim: DataFrame,
    easypos_dim: DataFrame,
    mart_path: str,
    direct_stores: Sequence[str] = (),
) -> None:
    """E2: staging → tb_sales_by_store shape merged on
    (chain_no, sale_dy), then enrichment rewritten atomically."""
    mart = _mart_store_shape(staging)
    merge_upsert_path(spark, mart_path, mart, ["chain_no", "sale_dy"])

    enriched = _enrich_store(
        spark.read.parquet(mart_path), temp_dim, easypos_dim, direct_stores
    )
    # enrichment re-derives every row (and may ADD columns on first
    # run), so it's an atomic rewrite of the table it reads — not a
    # merge, which aligns to the pre-enrichment schema
    overwrite_inplace(enriched, mart_path)


def build_mart_store_catalog(
    spark: SparkSession,
    cat,
    *,
    staging: str = "kicc_sales_data",
    temp_dim: str = "tb_store_temp",
    easypos_dim: str = "tb_store_easypos",
    mart: str = "tb_sales_by_store",
    direct_stores: Sequence[str] = (),
) -> None:
    """E2 with every table resolved by logical name through a
    ``Catalog`` — the deployment-shaped entry point: the same pipeline
    runs against parquet fixtures, a ManifestTable mart, or a JDBC
    mart by editing the catalog file, never this code.

    The enrichment rewrite goes through ``cat.overwrite``: on a
    manifest backend that's a new committed version, so reading the
    mart while rewriting it is snapshot-safe (no staging-directory
    dance like the parquet-path variant needs)."""
    mart_df = _mart_store_shape(cat.load(spark, staging))
    cat.merge(spark, mart, mart_df, keys=["chain_no", "sale_dy"])
    enriched = _enrich_store(
        cat.load(spark, mart),
        cat.load(spark, temp_dim),
        cat.load(spark, easypos_dim),
        direct_stores,
    )
    cat.overwrite(spark, mart, enriched)


def refresh_continuous_aggregate(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    window: tuple[str, str],
    bucket: str = "1 hour",
) -> None:
    """Hypertable-style continuous aggregate: maintain an event-time
    bucketed rollup incrementally. Only buckets intersecting the
    refresh ``window`` (['lo', 'hi'] timestamps, inclusive) are
    recomputed from raw events and merged keyed by (bucket, type) —
    refreshing a day touches a day, never the table (the TimescaleDB
    refresh semantic on Spark primitives: bucket-aligned range scan +
    keyed merge). Re-running any window is idempotent; late data is
    handled by re-refreshing its window, exactly like the reference's
    date re-runs."""
    lo, hi = window
    # align to full buckets so partially-covered buckets are recomputed
    # from ALL their events, not the window's slice of them
    aligned = events.filter(
        (F.col("ts") >= F.date_trunc("hour", F.lit(lo).cast("timestamp")))
        & (F.col("ts") < F.date_trunc("hour", F.lit(hi).cast("timestamp")) + F.expr("interval 1 hour"))
    )
    rollup = (
        aligned.groupBy(F.window("ts", bucket), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00:00").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    merge_upsert_path(spark, rollup_path, rollup, ["window_start", "event_type"])


def build_mart_prod(
    spark: SparkSession,
    staging: DataFrame,
    product_dim: DataFrame,
    mart_path: str,
    window: tuple[str, str],
) -> None:
    """E3: range scan (P4 BETWEEN on the sortable YYYYMMDD column,
    pushed to the parquet scan) → tb_sales_by_prod shape → J3/P5
    medium_scale_nm backfill from the (deduped) product dim → merge
    keyed (chain_no, sale_dy, prod_code, prod_name). item_name stays in
    the key: renamed products create rows, not updates (SURVEY.md §7)."""
    lo, hi = window
    mart = staging.filter(F.col("sale_date").between(lo, hi)).select(
        _iso_day("sale_date").alias("sale_dy"),
        F.col("sp_code").alias("chain_no"),
        F.col("item_code").alias("prod_code"),
        F.col("item_name").alias("prod_name"),
        F.col("sale_qty").alias("maechool_count"),
        F.col("total_amt").alias("chong_maechool"),
        F.col("sale_amt").alias("soon_maechool"),
        F.col("total_dc_amt").alias("discount"),
        F.col("vat_amt").alias("vat"),
    )
    dim = (
        product_dim.select("item_code", "medium_scale_nm")
        .dropDuplicates(["item_code"])
        .withColumnRenamed("medium_scale_nm", "dim_medium")
    )
    enriched = (
        mart.join(F.broadcast(dim), mart.prod_code == dim.item_code, "left")
        .withColumn("medium_scale_nm", F.col("dim_medium"))
        .drop("item_code", "dim_medium")
    )
    merge_upsert_path(
        spark, mart_path, enriched, ["chain_no", "sale_dy", "prod_code", "prod_name"]
    )
