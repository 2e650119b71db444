"""Ingestion-interval / data-freshness core — the historical plane's heart.

Reference semantics (two variants, which disagree — SURVEY.md §7.2):

* J1: self left-join to *all* later events + DISTINCT
  (`Real Final APP/Dashboard_Historical_Final.py:216-238`) — fans out one row
  per later ingestion, O(n²) per key.
* J2: correlated MIN subquery = *next* ingestion
  (`Dashboard/update_tables.py:55-78`, comments :53-54 state this as intent).

We build to the J2/as-of intent with ``lead()`` over
``Window.partitionBy(instance_id, write_table_id).orderBy(arrival_timestamp)``
— one shuffle on the partition keys, no self-join, no fan-out, linear work.
At 100 TB this is the difference between a sort within each (instance, table)
partition and a quadratic blow-up; with AQE skew-join handling the hot
instance keys split automatically.

``output_table`` reproduces
`Dashboard_Historical_Final.py:241-312`: annotate every query with its
bracketing ingestion interval via an interval/theta join whose equality arms
(instance_id + table_id) keep it a hash join with a range post-filter —
verified via ``.explain()`` (SortMergeJoin/ShuffledHashJoin on the equi-keys,
never BroadcastNestedLoopJoin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.functions.scalar import epoch_ms
from data_engineering_project_utn_spark.schema import INGESTION_QUERY_TYPES


def ingestion_intervals(
    flat: DataFrame,
    ingestion_types: tuple[str, ...] = INGESTION_QUERY_TYPES,
) -> DataFrame:
    """Next-ingestion interval per (instance_id, write_table_id).

    Input: FLATTENED_SCHEMA rows.  Output columns: instance_id, query_id,
    write_table_id, current_timestamp, next_timestamp — matching the
    reference DDL (`Dashboard_Historical_Final.py:41-48`).

    The flattened input carries one row per exploded read_table_id, so an
    ingestion *event* appears multiple times; intervals are computed over
    distinct events (the reference's SELECT DISTINCT does the same dedup).
    """
    # one exchange, not two: partitioning on the WINDOW key first lets the
    # dedup aggregate ride it (HashPartitioning on a subset of the dedup
    # keys satisfies its ClusteredDistribution — duplicates of a group
    # share (instance, table), so they co-locate), and the lead() window
    # then reuses the same partitioning.  Without this, dropDuplicates
    # plans its own full-key shuffle below the window's shuffle.
    events = (
        flat.filter(F.col("query_type").isin(*ingestion_types))
        .select("instance_id", "query_id", "write_table_id", "arrival_timestamp")
        .repartition("instance_id", "write_table_id")
        .dropDuplicates(["instance_id", "query_id", "write_table_id", "arrival_timestamp"])
    )
    w = Window.partitionBy("instance_id", "write_table_id").orderBy(
        "arrival_timestamp", "query_id"
    )
    return events.select(
        "instance_id",
        "query_id",
        "write_table_id",
        F.col("arrival_timestamp").alias("current_timestamp"),
        F.lead("arrival_timestamp").over(w).alias("next_timestamp"),
    )


def ingestion_intervals_salted(
    flat: DataFrame,
    ingestion_types: tuple[str, ...] = INGESTION_QUERY_TYPES,
    salt_interval: str = "1 day",
) -> DataFrame:
    """Skew-safe variant of ``ingestion_intervals`` for hot keys.

    A (instance, table) key with billions of ingestions serializes in one
    task under the plain window.  Salting by a time bucket splits the key:
    the window runs per (instance, table, bucket) — parallel across
    buckets — and the one row per bucket whose ``lead`` is NULL (the
    bucket's last event) is repaired from a second, *tiny* window over the
    per-bucket minima (one row per non-empty bucket, not per event).

    Exactly equivalent to the unsalted operator (tested), because
    intervals never cross more than one bucket boundary chain: the last
    event of bucket b's next ingestion is the first event of the next
    non-empty bucket.
    """
    events = (
        flat.filter(F.col("query_type").isin(*ingestion_types))
        .select("instance_id", "query_id", "write_table_id", "arrival_timestamp")
        .dropDuplicates(["instance_id", "query_id", "write_table_id", "arrival_timestamp"])
        .withColumn(
            "_bucket", F.window(F.col("arrival_timestamp"), salt_interval)["start"]
        )
    )
    w = Window.partitionBy("instance_id", "write_table_id", "_bucket").orderBy(
        "arrival_timestamp", "query_id"
    )
    within = events.select(
        "instance_id",
        "query_id",
        "write_table_id",
        "_bucket",
        F.col("arrival_timestamp").alias("current_timestamp"),
        F.lead("arrival_timestamp").over(w).alias("next_timestamp"),
    )
    # boundary repair: first event per (key, bucket) → lead over buckets
    wb = Window.partitionBy("instance_id", "write_table_id").orderBy("_bucket")
    bucket_firsts = (
        events.groupBy("instance_id", "write_table_id", "_bucket")
        .agg(F.min(F.struct("arrival_timestamp", "query_id")).alias("first_ev"))
        .select(
            "instance_id",
            "write_table_id",
            "_bucket",
            F.lead("first_ev.arrival_timestamp").over(wb).alias("_next_bucket_first"),
        )
    )
    return (
        within.join(
            bucket_firsts, ["instance_id", "write_table_id", "_bucket"], "left"
        )
        .select(
            "instance_id",
            "query_id",
            "write_table_id",
            "current_timestamp",
            F.coalesce("next_timestamp", "_next_bucket_first").alias("next_timestamp"),
        )
    )


def output_table(flat: DataFrame) -> DataFrame:
    """Annotate queries with bracketing ingestion windows + freshness deltas.

    Reproduces `Dashboard_Historical_Final.py:241-312` (with the as-of
    interval semantics of `Dashboard/update_tables.py:103-166`):

    * non-ingestion queries pick up the ingestion interval that brackets
      their arrival, matching on read_table_id for selects and
      write_table_id otherwise;
    * ingestion queries are appended back untouched (UNION ALL add-back,
      time_since_last = 0 relative to their own interval).

    Scale design — **as-of merge in ONE exchange** (optimization r14; was
    two exchanges + a join).  Lead-based intervals are non-overlapping per
    (instance, table), so "the bracketing interval" is the last ingestion
    at-or-before each query's timestamp and the next one after it.  The
    pre-r14 plan computed the interval frame separately (its own shuffle +
    dedup + lead window), unioned it with the query rows (second shuffle),
    and joined it back for the ingestion add-back (recomputing the interval
    subplan a second time as the build side — at corpus scale, a broadcast
    of a corpus-sized frame chosen off its static estimate).  All of that
    collapses into one hash exchange on (instance_id, match_table) with
    three window passes riding it (guide §2.4 — operations keyed the same
    way share one exchange):

    * ``_l``  = last boundary timestamp at-or-before the row (boundary
      rows see their own) — ``last(ignorenulls)`` over UNBOUNDED
      PRECEDING..CURRENT ROW;
    * ``_nr`` = first boundary (ts, query_id) strictly after the row,
      computed as ``last(ignorenulls)`` over the DESCENDING sort with a
      growing UNBOUNDED PRECEDING..1 PRECEDING frame — NOT as a
      FOLLOWING-frame over the ascending sort, because Spark's
      ``UnboundedFollowingWindowFunctionFrame`` re-aggregates the whole
      suffix per row (O(partition²); measured 3.3 s vs 1.3 s noop on the
      sf0.1 events — the descending growing frame is incremental O(n) at
      the cost of one extra in-partition sort);
    * ``_n``  = ``_nr`` of the LAST-in-ascending-order peer (= first peer
      of the descending sort, RANGE CURRENT ROW..CURRENT ROW on the same
      descending order, so no extra sort): replayed boundary rows
      (identical sort key) form one peer block, and every member must see
      the first boundary AFTER the block — exactly the
      next-DISTINCT-event semantics the old dropDuplicates + lead
      produced.  Query rows are their own single peer, so ``_n`` is their
      first following boundary, which equals their bracketing interval's
      end (no boundary lies between a query and its bracket end).

    The replay-absorbing DISTINCT on the query rows becomes a row_number
    window partitioned by the full output key; HashPartitioning on
    (instance_id, match_table) — a subset of those keys — already
    clusters every duplicate group, so it needs a sort but NO exchange.
    Ingestion rows keep their multiplicity (the reference's UNION ALL
    add-back re-fans the deduped intervals across duplicates), sidestep
    the row_number filter, and read their interval straight from their own
    ``_l``/``_n`` — the join that re-attached intervals to them is gone.

    Boundary rows sort before query rows at equal timestamps (kind 0 < 1),
    so a query exactly at an ingestion timestamp lands in the *newer*
    interval (the reference's BETWEEN would duplicate such a row into both
    intervals; measure-zero tie divergence, documented per SURVEY.md §7.2).
    ``query_id`` completes the sort as the same tiebreaker the interval
    lead() always used.
    """
    is_b = F.col("query_type").isin(*INGESTION_QUERY_TYPES)
    match_table = F.when(
        F.col("query_type") == "select", F.col("read_table_id")
    ).otherwise(F.col("write_table_id"))

    m = flat.select(
        "instance_id",
        match_table.alias("match_table"),
        F.col("arrival_timestamp").alias("ts"),
        F.when(is_b, F.lit(0)).otherwise(F.lit(1)).alias("kind"),
        "query_id",
        "query_type",
        "write_table_id",
        "read_table_id",
    )
    base = Window.partitionBy("instance_id", "match_table").orderBy(
        "ts", "kind", "query_id"
    )
    desc = Window.partitionBy("instance_id", "match_table").orderBy(
        F.col("ts").desc(), F.col("kind").desc(), F.col("query_id").desc()
    )
    w_prev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # descending traversal: "preceding" rows are the ascending-order
    # followers, and last(ignorenulls) of them is the ascending-FIRST
    # boundary strictly after the current row — an O(n) growing frame
    w_next = desc.rowsBetween(Window.unboundedPreceding, -1)
    w_peer = desc.rangeBetween(Window.currentRow, Window.currentRow)
    b_ts = F.when(F.col("kind") == 0, F.col("ts"))
    b_key = F.when(
        F.col("kind") == 0, F.struct(F.col("ts").alias("ts"), F.col("query_id").alias("qid"))
    )
    ann = (
        m.withColumn("_l", F.last(b_ts, ignorenulls=True).over(w_prev))
        .withColumn("_nr", F.last(b_key, ignorenulls=True).over(w_next))
        .withColumn("_n", F.first("_nr", ignorenulls=False).over(w_peer)["ts"])
    )
    # the replay-absorbing DISTINCT, restricted to query rows: row 1 of each
    # full-key duplicate group survives; ingestion rows keep multiplicity
    wd = Window.partitionBy(
        "instance_id",
        "match_table",
        "ts",
        "query_id",
        "query_type",
        "write_table_id",
        "read_table_id",
        "_l",
        "_n",
    ).orderBy("kind")
    out = (
        ann.withColumn("_rn", F.row_number().over(wd))
        .filter(
            (F.col("kind") == 0)
            | ((F.col("_rn") == 1) & F.col("_l").isNotNull())
        )
        .select(
            "instance_id",
            "query_id",
            "query_type",
            "write_table_id",
            "read_table_id",
            F.col("ts").alias("arrival_timestamp"),
            F.col("_l").alias("last_write_table_insert"),
            F.col("_n").alias("next_write_table_insert"),
        )
    )
    return out.select(
        "*",
        epoch_ms(F.col("arrival_timestamp"), F.col("last_write_table_insert")).alias(
            "time_since_last_ingest_ms"
        ),
        epoch_ms(F.col("next_write_table_insert"), F.col("arrival_timestamp")).alias(
            "time_to_next_ingest_ms"
        ),
    )
