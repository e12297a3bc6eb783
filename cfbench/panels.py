"""The two README dashboard panels over the ingest sink, spelled with the
program's Timestream functions, and their DuckDB spellings over the same
parquet files (the independent check).

Q1: narrow-form hourly ``sc_bytes`` by ``x_edge_location`` over
``ago(24h)`` (``to_narrow`` + ``bin_``).
Q2: ``CREATE_TIME_SERIES`` per ``x_edge_location`` over a
``$__timeFilter`` window, macros expanded by ``expand_macros``.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from aws_cloudfront_realtime_monitoring_spark.functions.timestream import (
    ago, bin_, create_time_series, expand_macros,
)
from aws_cloudfront_realtime_monitoring_spark.operators.narrow import to_narrow
from aws_cloudfront_realtime_monitoring_spark.schema import MEASURE_NAME

Q2_SQL = ("SELECT x_edge_location, time, measure_value FROM $__table "
          "WHERE measure_name = $__measure AND $__timeFilter")
PARTITION_COLS = ("event_date", "event_hour")


def ts_str(epoch_s: float) -> str:
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def narrow_sink(spark, sink: str):
    """Re-read the sink (file listing included) as the narrow view."""
    return to_narrow(spark.read.parquet(sink).drop(*PARTITION_COLS))


def q1_frame(narrow, now: str | None):
    """``now=None`` is Timestream's ``ago`` against the current time."""
    return (
        narrow.where((F.col("measure_name") == MEASURE_NAME)
                     & (F.col("time") >= ago("24h", now)))
        .groupBy(bin_("time", "1h").alias("binned_time"), "x_edge_location")
        .agg(F.sum("measure_value").alias("sum_bytes"))
    )


def q2_frame(spark, narrow, time_from: str, time_to: str):
    narrow.createOrReplaceTempView("cf_narrow")
    sql = expand_macros(Q2_SQL, table="cf_narrow",
                        time_from=time_from, time_to=time_to)
    return spark.sql(sql).groupBy("x_edge_location").agg(
        create_time_series("time", "measure_value").alias("series"))


def _us(dt: datetime) -> int:
    return round(dt.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)


def q1_rows(rows) -> dict:
    """Spark Q1 rows -> {(edge, hour epoch s): sum}."""
    return {(r.x_edge_location, _us(r.binned_time) // 1_000_000): r.sum_bytes
            for r in rows}


def q2_rows(rows) -> dict:
    """Spark Q2 rows -> {edge: ((time us, value), ...)}."""
    return {r.x_edge_location: tuple((_us(p.time), p.value)
                                     for p in r.series) for r in rows}


def duck_q1(con, files: list[str], now: str) -> dict:
    rows = con.execute(
        """SELECT x_edge_location, epoch_us("timestamp") // 3600000000 * 3600,
                  sum(sc_bytes)
           FROM read_parquet(?)
           WHERE "timestamp" >= CAST(? AS TIMESTAMP) - INTERVAL 24 HOUR
           GROUP BY 1, 2""", [files, now]).fetchall()
    return {(e, h): s for e, h, s in rows}


def duck_q2(con, files: list[str], time_from: str, time_to: str) -> dict:
    rows = con.execute(
        """SELECT x_edge_location,
                  list([epoch_us("timestamp"), sc_bytes]
                       ORDER BY epoch_us("timestamp"), sc_bytes)
           FROM read_parquet(?)
           WHERE "timestamp" BETWEEN CAST(? AS TIMESTAMP) AND CAST(? AS TIMESTAMP)
           GROUP BY 1""", [files, time_from, time_to]).fetchall()
    return {e: tuple(tuple(p) for p in pts) for e, pts in rows}


def duck_sink_summary(con, files: list[str]) -> dict:
    """What the sink holds, read by DuckDB: row counts, the request ids
    and sum(sc_bytes) per (edge location, hour)."""
    n_rows, n_no_id = con.execute(
        "SELECT count(*), count(*) - count(x_edge_request_id) "
        "FROM read_parquet(?)", [files]).fetchone()
    ids = con.execute(
        "SELECT x_edge_request_id, count(*) FROM read_parquet(?) "
        "WHERE x_edge_request_id IS NOT NULL GROUP BY 1", [files]).fetchall()
    by_hour = con.execute(
        """SELECT x_edge_location, epoch_us("timestamp") // 3600000000 * 3600,
                  sum(sc_bytes) FROM read_parquet(?) GROUP BY 1, 2""",
        [files]).fetchall()
    return {"rows": n_rows, "no_id_rows": n_no_id, "id_counts": dict(ids),
            "bytes_by_edge_hour": {(e, h): s for e, h, s in by_hour}}


def record_failures(summary: dict, ids: set, no_id_rows: int) -> int:
    """Records missing from the sink, or in it more than once."""
    counts = summary["id_counts"]
    missing = len(ids - counts.keys())
    extra = sum(c - 1 for c in counts.values()) + len(counts.keys() - ids)
    return missing + extra + abs(summary["no_id_rows"] - no_id_rows)
