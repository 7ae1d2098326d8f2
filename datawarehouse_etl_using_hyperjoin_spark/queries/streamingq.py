"""Declared streaming queries (SURVEY.md §2.9).

Each drains a real micro-batched stream synchronously (memory sink +
processAllAvailable) and returns the materialized result.  Where the
drained run is deterministic — inner joins (which emit exactly the
relational join; watermarks only bound state) and exact windowed
aggregates under the decimal-sum convention — the query carries a full
DuckDB value oracle; the batch analogues (q_event_windows,
q_hyperjoin) cover the same logic from the batch planner.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..sources.fixtures import load_table, master_data, transactions
from .relational import CTE_TXN_MASTER
from ..streaming.pipeline import (
    orders_lineitem_stream_join,
    read_parquet_stream,
    run_to_memory,
    stream_static_hyperjoin,
    windowed_event_counts,
    with_event_time,
)
from . import query


_STREAM_DIR_CACHE: dict[tuple[str, str], str] = {}


def _as_stream_dir(df: DataFrame, prefix: str, n_files: int, cache_key: str = "") -> str:
    """Write a batch DataFrame as an n-file parquet dir to replay as a file
    stream.  Memoized per (cache_key, prefix) within the process so repeated
    invocations measure the streaming run, not the fixture re-write (the
    input derives deterministically from the fixture dir)."""
    key = (cache_key, prefix)
    if cache_key and key in _STREAM_DIR_CACHE:
        return _STREAM_DIR_CACHE[key]
    path = tempfile.mkdtemp(prefix=prefix)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    if cache_key:
        _STREAM_DIR_CACHE[key] = path
    return path


def stream_hyperjoin_df(spark: SparkSession, sf_dir: str, mult: int = 1) -> DataFrame:
    """The q_stream_hyperjoin STREAMING plan, unsunk — shared between the
    declared query (memory sink, returns rows for the oracle) and the
    bench (no-op sink, measures the engine not the driver collect).

    ``mult`` replays the transaction feed ``mult`` times (ids offset so
    rows stay distinct) as ``4 × mult`` files at the same
    maxFilesPerTrigger — double the input, double the micro-batches, same
    per-batch size.  Benching mult=1 vs mult=2 separates fixed streaming
    machinery (trigger scheduling, offset log) from per-batch cost."""
    txn = transactions(spark, sf_dir)
    if mult > 1:
        parts = [txn] + [
            txn.withColumn("order_id", F.col("order_id") + F.lit(i * 100_000_000))
            for i in range(1, mult)
        ]
        base = parts[0]
        for p in parts[1:]:
            base = base.unionByName(p)
        txn = base
    path = _as_stream_dir(
        txn, f"stream_txn_x{mult}_", 4 * mult, cache_key=f"{sf_dir}|x{mult}"
    )
    stream = read_parquet_stream(spark, path, max_files_per_trigger=2)
    return stream_static_hyperjoin(stream, master_data(spark, sf_dir)).select(
        "order_id",
        "line_number",
        "product_id",
        "product_name",
        "supplier_name",
        "store_name",
        "quantity",
        "product_price_num",
        "total_sale",
    )


def stream_stream_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_stream_stream_join streaming plan, unsunk (see
    :func:`stream_hyperjoin_df` for why)."""
    opath = _as_stream_dir(load_table(spark, sf_dir, "orders"), "stream_ord_", 2, cache_key=sf_dir)
    lpath = _as_stream_dir(load_table(spark, sf_dir, "lineitem"), "stream_li_", 2, cache_key=sf_dir)
    return orders_lineitem_stream_join(
        read_parquet_stream(spark, opath, max_files_per_trigger=10),
        read_parquet_stream(spark, lpath, max_files_per_trigger=10),
    )


def stream_stream_join_state_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Projected state for the orders⋈lineitem drain, for
    ``choose_state_partitions`` at query birth.  Upper bound: a fixture
    replay floods historical event times through the watermark faster than
    eviction runs, so worst case BOTH full inputs are resident — total
    rows × estimated row width per side.  (``count()`` on parquet is a
    metadata-only read — no scan.)"""
    from ..streaming.pipeline import estimate_row_bytes

    total = 0
    for t in ("orders", "lineitem"):
        df = load_table(spark, sf_dir, t)
        total += df.count() * estimate_row_bytes(df.schema)
    return total


def stream_tumbling_state_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Projected state for the tumbling-window drain, for
    ``choose_state_partitions`` at query birth (r15 — the drain ran at
    the session's batch shuffle default, 32 instances on local[32],
    paying the per-instance checkpoint cost the r5 rule exists to avoid;
    measured 2.33 s @32 → 0.83 s @4 at sf0.1).  State rows = one per
    live (window, event_type): bounded by the event-time span over the
    window size times the type cardinality — ONE tiny aggregate over the
    fixture (runs once per bench process, outside the timed passes),
    never by event volume."""
    from ..streaming.pipeline import EVENT_WINDOW_SECONDS, estimate_row_bytes

    ev = with_event_time(load_table(spark, sf_dir, "events"))
    row = ev.agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
        F.countDistinct("event_type").alias("k"),
    ).first()
    if row.lo is None:
        return 0
    windows = int((row.hi - row.lo).total_seconds() // EVENT_WINDOW_SECONDS) + 1
    width = estimate_row_bytes(windowed_event_counts(ev).schema)
    return windows * int(row.k) * width


def stream_tumbling_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_stream_tumbling streaming plan, unsunk (complete-mode sink)."""
    ev = with_event_time(load_table(spark, sf_dir, "events"))
    path = _as_stream_dir(ev, "stream_ev_", 3, cache_key=sf_dir)
    stream = read_parquet_stream(spark, path, max_files_per_trigger=3)
    return windowed_event_counts(stream)


@query(
    "q_stream_hyperjoin",
    oracle=f"""{CTE_TXN_MASTER}
SELECT t.order_id, t.line_number, t.product_id,
       m.product_name, m.supplier_name, m.store_name,
       t.quantity,
       CAST(regexp_replace(m.product_price, '[$]', '') AS DOUBLE) AS product_price_num,
       round(t.quantity * CAST(regexp_replace(m.product_price, '[$]', '') AS DOUBLE), 2)
         AS total_sale
FROM transactions t JOIN master_data m ON t.product_id = m.product_id""",
)
def q_stream_hyperjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1+ST3: the HyperJoin as an actual micro-batched stream — the
    transaction feed replayed in 4-file chunks (the reference's chunked
    replay, StreamGeneratorThread.java:53-58) stream-static-joined against
    broadcast master data.

    An inner stream–static join emits exactly the relational join and the
    master side has one row per product, so the fully-drained run is
    value-oracled (same projection as batch q_hyperjoin, pre-limit)."""
    joined = stream_hyperjoin_df(spark, sf_dir)
    name = f"q_stream_hj_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name).stop()
    return spark.table(name)


@query(
    "q_stream_stream_join",
    oracle="""
SELECT o_orderkey, l_linenumber, o_orderdate, l_shipdate, o_custkey, l_partkey,
       l_extendedprice * (1 - l_discount) AS net_price
FROM orders
JOIN lineitem
  ON o_orderkey = l_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <= o_orderdate + INTERVAL 150 DAY
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3+: watermarked stream–stream join, orders feed ⋈ lineitem feed
    with an event-time bound (lineitems shipping ≤150 days after the
    order).  Inner stream–stream joins emit exactly the relational join —
    the watermark only bounds STATE — and each side drains in one
    micro-batch here, so the full run is value-oracled against the batch
    join, not rows-only."""
    joined = stream_stream_join_df(spark, sf_dir)
    name = f"q_stream_ss_{uuid.uuid4().hex[:8]}"
    run_to_memory(joined, name).stop()
    # watermarking required TIMESTAMP; restore the fixtures' ntz for a
    # session-timezone-independent compare (ROADMAP convention 3)
    return spark.table(name).select(
        "o_orderkey",
        "l_linenumber",
        F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
        F.col("l_shipdate").cast("timestamp_ntz").alias("l_shipdate"),
        "o_custkey",
        "l_partkey",
        "net_price",
    )


@query(
    "q_stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts)                   AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4+ST5: watermarked tumbling-window aggregation over the event
    stream (complete mode so the trailing unexpired windows emit).

    The drained run is deterministic — every event lands in exactly one
    hour bucket and the sum is decimal-exact — so it carries the same
    value oracle as the batch tumbling aggregation (plus window_end), not just a
    rows-only check."""
    agg = stream_tumbling_df(spark, sf_dir)
    name = f"q_stream_win_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, output_mode="complete").stop()
    # watermarking required TIMESTAMP; restore ntz for a session-timezone-
    # independent compare (same convention as q_stream_stream_join)
    return spark.table(name).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )
