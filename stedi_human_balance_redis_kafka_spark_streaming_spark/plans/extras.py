"""Additional registered queries: SQL-form decode (P10), JSON props
parsing, pivot, exact quantiles, as-of join, keyless interval join,
approximate sketches (HLL distinct + GK quantiles with bounds oracles),
and constraint validation.

These round out SURVEY.md §2 coverage: P10 (the reference's SQL-over-view
idiom) gets a literal SQL implementation proving both IR forms produce
identical results, and the rest cover the "common OLAP patterns" a
reference user would expect from a general engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import associations, profiling
from ..operators.asof import asof_join
from ..session import checkpoint_handle, hold
from ..sources.files import load_table, table_fingerprint
from . import synthetic
from .registry import register

_ENVELOPE_DDL = (
    "key STRING, value STRING, expiredType STRING, expiredValue STRING, "
    "existType STRING, Ch BOOLEAN, Incr BOOLEAN, "
    "zSetEntries ARRAY<STRUCT<element: STRING, score: STRING>>"
)
_CUSTOMER_DDL = "customerName STRING, email STRING, phone STRING, birthDay STRING"


@register(
    "stedi_customers_decode_sql",
    oracle=f"""
    SELECT c_name AS "customerName",
           {synthetic.SQL_EMAIL_FROM_CUSTKEY} AS email,
           {synthetic.SQL_PHONE} AS phone,
           {synthetic.SQL_BIRTH_DAY} AS "birthDay",
           {synthetic.SQL_BIRTH_YEAR} AS "birthYear"
    FROM customer
    """,
)
def stedi_customers_decode_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: the decode chain in the reference's SQL-over-view idiom
    (sparkpykafkajoin.py:128-187 mixes temp views + spark.sql for the
    array-index syntax).  Same oracle as the fluent form — both IRs must
    unify in Catalyst to the same result.
    """
    raw = synthetic.redis_envelope_raw(spark, sf_dir)
    raw.createOrReplaceTempView("redis_raw_sql_form")
    return spark.sql(f"""
        WITH env AS (
          SELECT from_json(value, '{_ENVELOPE_DDL}') AS e FROM redis_raw_sql_form
        ), extracted AS (
          SELECT get(e.zSetEntries, 0).element AS encodedCustomer
          FROM env WHERE e.zSetEntries IS NOT NULL
        ), decoded AS (
          SELECT from_json(CAST(try_to_binary(encodedCustomer, 'base64') AS STRING),
                           '{_CUSTOMER_DDL}') AS c
          FROM extracted
        )
        SELECT c.customerName, c.email, c.phone, c.birthDay,
               split(c.birthDay, '-')[0] AS birthYear
        FROM decoded
        WHERE c.email IS NOT NULL AND c.birthDay IS NOT NULL
    """)


@register(
    "events_props_parse",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
    FROM events
    """,
)
def events_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 on the events table's real JSON column."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: events-per-type matrix per user (explicit value list — no
    extra distinct-values pass, which matters at scale)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .na.fill(0, list(_EVENT_TYPES))
    )


@register(
    "order_price_quantiles",
    # Interpolate over EXACT CENTS (int64-born), like the approx sibling:
    # the interpolation fraction has ≤1 decimal, so the cent-domain
    # result has ≤1 decimal and the ÷100 value ≤3 decimals — round(.., 4)
    # is then EXACT (never sits on a half boundary), removing the
    # engines-differ-in-last-ULP exposure of interpolating raw doubles
    # (the ADVICE-flagged pattern; cf. the stedi_risk_gate boundary hit
    # found at sf0.1).
    oracle="""
    WITH c AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           round(quantile_cont(cents, 0.5) / 100, 4) AS p50,
           round(quantile_cont(cents, 0.9) / 100, 4) AS p90,
           COUNT(*) AS n_orders
    FROM c GROUP BY o_orderstatus
    """,
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark ``percentile`` —
    exact, not the approx sketch), interpolated over exact int64 cents
    so the rounded result is boundary-free cross-engine."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(cents, 0.5)") / 100, 4).alias("p50"),
        F.round(F.expr("percentile(cents, 0.9)") / 100, 4).alias("p90"),
        F.count("*").alias("n_orders"),
    )


@register(
    "events_asof_last_order",
    oracle="""
    WITH last_d AS (
      SELECT e.event_id, e.user_id,
             (SELECT max(o.o_orderdate) FROM orders o
              WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS asof_ts
      FROM events e
    )
    SELECT event_id,
           strftime(asof_ts, '%Y-%m-%d %H:%M:%S') AS asof_time,
           (SELECT max(o.o_orderkey) FROM orders o
            WHERE o.o_custkey = last_d.user_id AND o.o_orderdate = last_d.asof_ts)
             AS asof_val
    FROM last_d
    """,
)
def events_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at
    or before the event time (union+window formulation — one sort, no
    per-group Python).

    TZ hygiene: ``o_orderdate`` arrives TIMESTAMP_NTZ while ``ts`` is an
    as-if-UTC instant — mixing them would let the union's NTZ→TIMESTAMP
    coercion depend on the driver zone, so the NTZ side is re-anchored
    with the same session-tz-independent expression ``load_table`` uses;
    the output render likewise formats the instant's UTC wall clock
    explicitly instead of the session zone's."""
    from ..sources.files import as_utc_instant

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    if dict(o.dtypes).get("o_orderdate") == "timestamp_ntz":
        o = o.withColumn("o_orderdate", as_utc_instant("o_orderdate"))
    out = asof_join(
        e, o, left_key="user_id", right_key="o_custkey",
        left_time="ts", right_time="o_orderdate", right_val="o_orderkey",
    )
    return out.select(
        "event_id",
        F.date_format(
            F.expr(
                "convert_timezone(current_timezone(), 'UTC',"
                " CAST(asof_time AS TIMESTAMP_NTZ))"
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("asof_time"),
        F.col("asof_val").cast("long").alias("asof_val"),
    )


@register(
    "events_approx_distinct",
    # Sketch estimates are engine-specific, so the checkable contract is
    # a BOUNDS assertion: the HLL++ estimate (rsd=0.01) must land within
    # ±5% of the exact distinct count.  The oracle emits the exact count
    # and a constant TRUE — if any group's estimate drifts out of
    # bounds, the hash compare fails.
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
)
def events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type (HyperLogLog++), checked
    as a bounds assertion against the exact count computed alongside.

    Shape: pre-dedupe on (event_type, user_id) — partial-aggregable, so
    the exchange carries only distinct pairs — then ONE tiny keyed agg
    computes exact (count of deduped rows) AND the HLL estimate (the
    sketch is duplicate-insensitive, so estimating over deduped rows is
    semantically identical).  This replaces ``countDistinct`` alongside
    a second aggregate, which forces Spark's expand rewrite (rows
    doubled through the exchange with null-padding) — measured 2.1 s →
    0.9 s at sf0.1, and the expand plan only gets worse with corpus
    size."""
    e = load_table(spark, sf_dir, "events")
    d = e.select("event_type", "user_id").distinct()
    return (
        d.groupBy("event_type")
        .agg(
            F.count("*").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "events_interval_activity",
    # Range join with NO equi key: per anchor-event 6-hour window, the
    # activity of ALL users inside it.  A theta join here is a
    # cartesian; the operator buckets time so it plans as an equi join
    # on the hour cell (operators/asof.py bucketed_range_join, audited
    # cartesian-free in tests/test_plans.py).
    oracle="""
    WITH iv AS (
      SELECT event_id AS anchor_id, ts AS s, ts + INTERVAL 6 HOUR AS e
      FROM events WHERE event_id % 997 = 0
    )
    SELECT iv.anchor_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(ev.value * 10000) AS BIGINT)) AS BIGINT)
             AS sum_value_e4
    FROM iv JOIN events ev ON ev.ts >= iv.s AND ev.ts < iv.e
    GROUP BY iv.anchor_id
    """,
)
def events_interval_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global event activity inside each anchor event's 6-hour window —
    the keyless interval join, via the bucketed range-join operator."""
    from ..operators.asof import bucketed_range_join

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "ts", F.round(F.col("value") * 10000).cast("long").alias("value_e4")
    )
    iv = ev.filter(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("anchor_id"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("e"),
    )
    j = bucketed_range_join(
        e, iv, time_col="ts", start_col="s", end_col="e", bucket="1 hour"
    )
    return j.groupBy("anchor_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value_e4").alias("sum_value_e4"),
    )


@register(
    "lineitem_quality_checks",
    # Constraint-validation rollup (the data-quality gate a pipeline
    # runs before trusting an ingest): each rule is a Column predicate,
    # all rules evaluate in ONE narrow scan-agg pass (conditional
    # count_if per rule — no per-rule jobs, no shuffle beyond the final
    # 1-row reduce).
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
             AS bad_quantity,
           COUNT(*) FILTER (WHERE l_extendedprice <= 0) AS bad_price,
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
             AS bad_discount,
           COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS null_shipdate,
           COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R'))
             AS bad_returnflag
    FROM lineitem
    """,
)
def lineitem_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation over the fact table: every rule
    is a conditional count in one partial-aggregable pass."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("bad_quantity"),
        F.count_if(F.col("l_extendedprice") <= 0).alias("bad_price"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("bad_discount"),
        F.count_if(F.col("l_shipdate").isNull()).alias("null_shipdate"),
        F.count_if(
            ~F.col("l_returnflag").isin("A", "N", "R")
        ).alias("bad_returnflag"),
    )


@register(
    "order_price_quantiles_approx",
    # Sketch quantiles are engine-specific (Spark: Greenwald-Khanna;
    # DuckDB: different), so — like events_approx_distinct — the
    # checkable contract is a BOUNDS assertion: the approx p50/p90
    # (accuracy 100) must land within 5% of the exact interpolated
    # quantile.  Both engines interpolate over EXACT CENTS (int64-born
    # values — per the repo FP policy, so the inputs to the
    # interpolation cannot differ by a ULP) and the 5% margin absorbs
    # GK's rank-error-vs-value-error gap at driver scale.  The oracle
    # emits the exact values and constant TRUEs.
    oracle="""
    WITH c AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           round(quantile_cont(cents, 0.5) / 100, 4) AS exact_p50,
           round(quantile_cont(cents, 0.9) / 100, 4) AS exact_p90,
           TRUE AS p50_within_5pct,
           TRUE AS p90_within_5pct
    FROM c GROUP BY o_orderstatus
    """,
)
def order_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (GK sketch via percentile_approx) checked
    as a bounds assertion against the exact interpolated quantile —
    the single-pass mergeable-sketch path an exact sort-based quantile
    can't provide at 100 TB.  Quantiles interpolate over exact cents on
    both engines (integer-born inputs, no double-rounding drift)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(cents, 0.5)") / 100, 4).alias("exact_p50"),
            F.round(F.expr("percentile(cents, 0.9)") / 100, 4).alias("exact_p90"),
            F.expr("approx_percentile(cents, 0.5, 100)").alias("a50"),
            F.expr("approx_percentile(cents, 0.9, 100)").alias("a90"),
        )
        .select(
            "o_orderstatus",
            "exact_p50",
            "exact_p90",
            (
                F.abs(F.col("a50") / 100 - F.col("exact_p50"))
                <= 0.05 * F.col("exact_p50")
            ).alias("p50_within_5pct"),
            (
                F.abs(F.col("a90") / 100 - F.col("exact_p90"))
                <= 0.05 * F.col("exact_p90")
            ).alias("p90_within_5pct"),
        )
    )


@register(
    "events_funnel",
    # Ordered-sequence funnel: first signup, first view AFTER it, first
    # purchase AFTER that — strict-> at each hop, per user.  Timestamps
    # are emitted as epoch-micros integers (unix_micros / epoch_us), so
    # the compare is render- and timezone-free.
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           epoch_us(t1) AS t1_us,
           epoch_us(t2) AS t2_us,
           epoch_us(t3) AS t3_us,
           CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END
                AS INTEGER) AS reached_stage
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion funnel (signup → view → purchase) with strict
    temporal ordering at each hop — the sequence-analytics op Spark has
    no built-in for, expressed as three stage-filtered min-aggregations
    chained by equi-joins.

    Scale shape: each stage filters by event type BEFORE its keyed
    shuffle (predicate reaches the scan; with a type/date-partitioned
    events table the stages partition-prune); all three shuffles key on
    user_id, so AQE can reuse/co-locate the exchanges, and every join's
    build side is one-row-per-user aggregates.  No windows over the raw
    event stream, no per-user collect.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t1").alias("t1_us"),
            F.unix_micros("t2").alias("t2_us"),
            F.unix_micros("t3").alias("t3_us"),
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("reached_stage"),
        )
    )


@register(
    "events_gapfill_rollup",
    # Hypertable-style hourly rollup with gap filling: EVERY (type,
    # hour) cell on the dense axis appears, zero-filled where no events
    # landed.  Bucket keys are epoch-hour integers (unix_micros div
    # 3600e6 == epoch_us // 3600e6) — timezone-free, no timestamp
    # rendering in the compare; values in exact e4 ints per the repo FP
    # policy.
    oracle="""
    WITH e AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hour_bucket,
             CAST(round(value * 10000) AS BIGINT) AS v
      FROM events
    ), agg AS (
      SELECT event_type, hour_bucket, COUNT(*) AS n_events,
             CAST(SUM(v) AS BIGINT) AS sum_value_e4
      FROM e GROUP BY event_type, hour_bucket
    ), b AS (
      SELECT min(hour_bucket) AS lo, max(hour_bucket) AS hi FROM e
    ), axis AS (
      SELECT unnest(range(lo, hi + 1)) AS hour_bucket FROM b
    ), types AS (SELECT DISTINCT event_type FROM e)
    SELECT t.event_type,
           CAST(a.hour_bucket AS BIGINT) AS hour_bucket,
           CAST(COALESCE(g.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(g.sum_value_e4, 0) AS BIGINT) AS sum_value_e4
    FROM axis a CROSS JOIN types t
    LEFT JOIN agg g
      ON g.event_type = t.event_type AND g.hour_bucket = a.hour_bucket
    """,
)
def events_gapfill_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type rollup over a DENSE time axis (TimescaleDB
    time_bucket_gapfill semantics): buckets with no events surface with
    zero counts instead of silently missing — the contract dashboards
    and downsampling jobs need.

    Scale shape: ONE fact-sized partial-aggregable shuffle (the keyed
    rollup); the dense axis is generated from the 1-row bounds
    aggregate with ``sequence`` + ``explode`` (metadata-sized — hours ×
    types, never fact-sized) and left-joins the rollup, which AQE
    broadcasts.  The dense side grows with time-span, not data volume,
    so the shape is unchanged at 100 TB.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_bucket"),
        F.round(F.col("value") * 10000).cast("long").alias("v"),
    )
    agg = e.groupBy("event_type", "hour_bucket").agg(
        F.count("*").alias("n_events"), F.sum("v").alias("sum_value_e4")
    )
    bounds = e.agg(
        F.min("hour_bucket").alias("lo"), F.max("hour_bucket").alias("hi")
    )
    axis = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_bucket")
    )
    types = e.select("event_type").distinct()
    return (
        axis.crossJoin(types)
        .join(agg, ["event_type", "hour_bucket"], "left")
        .select(
            "event_type",
            "hour_bucket",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("sum_value_e4", F.lit(0))
            .cast("long")
            .alias("sum_value_e4"),
        )
    )


@register(
    "events_retention_cohorts",
    # Cohort retention matrix: users grouped by first-signup day, counted
    # on each later active day by day offset.  Day keys are epoch-day
    # integers (unix_micros div 86400e6 == epoch_us // 86400e6) —
    # timezone-free.  (user, day) pairs are pre-deduped, so the per-cell
    # COUNT(*) IS the distinct-user count without an expand rewrite.
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(ts) // 86400000000 AS day FROM events
    ), cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM e
      WHERE event_type = 'signup' GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, day FROM e
    )
    SELECT c.cohort_day,
           CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity a JOIN cohort c USING (user_id)
    WHERE a.day >= c.cohort_day
    GROUP BY c.cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: per first-signup-day cohort, how many of its
    users are active N days later — the standard product-analytics
    retention matrix.

    Scale shape: the (user, day) dedup and the cohort min are both
    partial-aggregable keyed shuffles; the join keys on user_id against
    one-row-per-user cohorts (AQE broadcasts when small); the final cell
    rollup is a tiny keyed agg.  Because activity is deduped FIRST, no
    count-distinct expand rewrite ever touches the fact table.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    cohort = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
    )
    activity = e.select("user_id", "day").distinct()
    return (
        activity.join(cohort, "user_id")
        .filter(F.col("day") >= F.col("cohort_day"))
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "lineitem_bloom_prune_revenue",
    # Bloom join pruning is SEMANTICS-PRESERVING (no false negatives),
    # so the oracle is simply the plain join — the correctness gate
    # proves the prefilter dropped no matching row.  Revenue in the
    # exact-int e6 domain per the repo FP policy.
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (10000 - CAST(round(l.l_discount * 10000) AS BIGINT)))
                AS BIGINT) AS revenue_e6
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice >= 400000) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
)
def lineitem_bloom_prune_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to high-value orders, with the fact
    side Bloom-PREFILTERED before the join shuffle — the explicit
    runtime-filter shape (operators/prefilter.py) that cuts the
    big-side exchange by the non-match fraction at 100 TB.

    Scale shape: the filter build aggregates the SMALL side's distinct
    hash positions and left-joins them onto a dense bit axis to form
    one bounded array<boolean> row (≤ num_bits entries); the probe is
    k O(1) array-element accesses (F.get) per fact row against that
    1-row broadcast, pipelined with the scan; only surviving rows reach
    the join exchange.  The driver oracle (plain join) proves zero
    matches were dropped.
    """
    from ..operators.prefilter import bloom_prefilter
    from .analytics import _rev_e6

    orders_hi = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 400000)
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prefilter(
        li, orders_hi, key="l_orderkey", small_key="o_orderkey",
        num_hashes=3, num_bits=65536,
    )
    return (
        pruned.join(
            orders_hi, pruned["l_orderkey"] == orders_hi["o_orderkey"]
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(_rev_e6()).alias("revenue_e6"),
        )
    )


@register(
    "events_gapfill_locf",
    # The other hypertable fill mode: last-observation-carried-forward
    # over the dense axis (gauge semantics — a bucket with no samples
    # reports the last known value; buckets before the first observation
    # stay NULL, honestly).  Same dense-axis construction as
    # events_gapfill_rollup; the carry is one per-type ordered window
    # with IGNORE NULLS on both engines.
    oracle="""
    WITH e AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS hour_bucket,
             CAST(round(value * 10000) AS BIGINT) AS v
      FROM events
    ), agg AS (
      SELECT event_type, hour_bucket,
             CAST(SUM(v) AS BIGINT) AS sum_value_e4
      FROM e GROUP BY event_type, hour_bucket
    ), b AS (
      SELECT min(hour_bucket) AS lo, max(hour_bucket) AS hi FROM e
    ), axis AS (
      SELECT unnest(range(lo, hi + 1)) AS hour_bucket FROM b
    ), types AS (SELECT DISTINCT event_type FROM e),
    dense AS (
      SELECT t.event_type, CAST(a.hour_bucket AS BIGINT) AS hour_bucket,
             g.sum_value_e4
      FROM axis a CROSS JOIN types t
      LEFT JOIN agg g
        ON g.event_type = t.event_type AND g.hour_bucket = a.hour_bucket
    )
    SELECT event_type, hour_bucket,
           (sum_value_e4 IS NULL) AS is_gap,
           last_value(sum_value_e4 IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hour_bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value_e4
    FROM dense
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly axis with last-observation-carried-forward values
    (time_bucket_gapfill + locf semantics).

    Scale shape: identical to events_gapfill_rollup plus ONE window over
    the metadata-sized dense frame (hours × types — never fact-sized),
    partitioned by type so the carry parallelizes.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_bucket"),
        F.round(F.col("value") * 10000).cast("long").alias("v"),
    )
    agg = e.groupBy("event_type", "hour_bucket").agg(
        F.sum("v").alias("sum_value_e4")
    )
    bounds = e.agg(
        F.min("hour_bucket").alias("lo"), F.max("hour_bucket").alias("hi")
    )
    axis = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_bucket")
    )
    types = e.select("event_type").distinct()
    dense = axis.crossJoin(types).join(
        agg, ["event_type", "hour_bucket"], "left"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "event_type",
        "hour_bucket",
        F.col("sum_value_e4").isNull().alias("is_gap"),
        F.last("sum_value_e4", ignorenulls=True).over(w).alias("filled_value_e4"),
    )


_OUTLIER_TAU2 = 4  # τ² for the z-score gate (τ = 2 population std-devs)


@register(
    "events_anomaly_outliers",
    # Per-(user, event_type) z-score outlier flagging with NO floating
    # point anywhere: the gate |x − μ| > τ·σ is algebraically cleared of
    # divisions — (n·x − S)² > τ²·(n·Q − S²) over exact integer cents
    # (S = Σv, Q = Σv²) — so both engines compare identical integers.
    # DuckDB computes in HUGEINT (128-bit); Spark mirrors in
    # decimal(38,0), exact while n·max_cents < 10¹⁹ (documented bound).
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS v_cents
      FROM events
    ), s AS (
      SELECT event_id, user_id, event_type, v_cents,
             COUNT(*) OVER w AS grp_n,
             SUM(v_cents) OVER w AS s_v,
             SUM(v_cents * v_cents) OVER w AS q_v
      FROM e WINDOW w AS (PARTITION BY user_id, event_type)
    )
    SELECT event_id, user_id, event_type, v_cents,
           CAST(grp_n AS BIGINT) AS grp_n
    FROM s
    WHERE (CAST(grp_n AS HUGEINT) * v_cents - s_v)
          * (CAST(grp_n AS HUGEINT) * v_cents - s_v)
          > {_OUTLIER_TAU2}
            * (CAST(grp_n AS HUGEINT) * q_v - CAST(s_v AS HUGEINT) * s_v)
    """,
)
def events_anomaly_outliers(
    spark: SparkSession, sf_dir: str, *, tau2: int = _OUTLIER_TAU2
) -> DataFrame:
    """Statistical anomaly detection: events whose value sits more than
    τ=2 population standard deviations from their (user, event_type)
    group mean, decided entirely in integer arithmetic.

    The textbook form computes μ and σ as doubles and compares
    |x − μ| > τσ — two engines can disagree on the half-ULP boundary.
    Clearing denominators gives the equivalent integer predicate
    (n·x − S)² > τ²·(n·Q − S²), exact in decimal(38,0) while
    n·max_cents < 10¹⁹.

    Scale shape: ONE shuffle (partition by the group key) feeding a
    single unbounded-frame window aggregate — no join back, no second
    exchange; group cardinality is per-user-per-type event counts, so
    partitions stay bounded by user activity, not corpus size.
    """
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("user_id", "event_type")
    s = e.select(
        "event_id",
        "user_id",
        "event_type",
        "v_cents",
        F.count("*").over(w).alias("grp_n"),
        F.sum("v_cents").over(w).alias("s_v"),
        F.sum(F.col("v_cents") * F.col("v_cents")).over(w).alias("q_v"),
    )
    dev = F.col("grp_n").cast(dec) * F.col("v_cents").cast(dec) - F.col(
        "s_v"
    ).cast(dec)
    spread = F.col("grp_n").cast(dec) * F.col("q_v").cast(dec) - F.col(
        "s_v"
    ).cast(dec) * F.col("s_v").cast(dec)
    return s.filter(dev * dev > F.lit(tau2).cast(dec) * spread).select(
        "event_id", "user_id", "event_type", "v_cents", "grp_n"
    )


@register(
    "orders_salted_join_revenue",
    # The oracle is the PLAIN join + rollup: salting must be result-
    # invisible (every skewed row meets exactly the one replica matching
    # its deterministic salt), so the driver's value hash proves the
    # skew machinery changes the schedule, never the answer.
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def orders_salted_join_revenue(
    spark: SparkSession, sf_dir: str, *, salt: int = 8
) -> DataFrame:
    """Market-segment revenue through an 8-way SALTED orders⨝customer
    join — the hot-key mitigation path (operators/skew.py) under the
    full oracle gate rather than property tests alone.

    Scale shape: the skewed fact side gets a deterministic per-row salt
    (pure function of o_orderkey — reproducible across retries); the
    dimension side explodes ×salt, spreading any single hot custkey over
    ``salt`` tasks.  The rollup is partial-aggregable exact cents.  At
    100 TB this is the shape you switch to when ONE key exceeds an
    executor's share and AQE's partition-splitting can't help a
    sort-merge join; compose with AQE, don't replace it.
    """
    from ..operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, on=["custkey"], salt=salt,
                    salt_from=["o_orderkey"])
    return j.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


_PR_ITERS = 3
_PR_BASE = (1_000_000_000_000 * 15) // 100  # (100-85)% of the 1e12 unit


def _sql_pagerank(iters: int) -> str:
    """Unrolled integer-exact PageRank oracle: one MATERIALIZED CTE per
    round (DuckDB would otherwise inline the chain multiplicatively),
    mirroring operators/graph.py bit-for-bit — `//` floor == `div`
    truncation on the all-positive operands, HUGEINT sums == the
    decimal(38,0) widening."""
    rounds = []
    prev = "r0"
    for t in range(1, iters + 1):
        rounds.append(f"""r{t} AS MATERIALIZED (
      SELECT d.src AS node,
             CAST({_PR_BASE} + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
               AS rank_e12
      FROM deg d LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank_e12 // dg.deg) AS m
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
      ) s ON s.node = d.src
    )""")
        prev = f"r{t}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs
    ), deg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), r0 AS (
      SELECT src AS node, CAST(1000000000000 AS BIGINT) AS rank_e12 FROM deg
    ),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_id,
           rank_e12
    FROM {prev}
    """


@register("trade_graph_pagerank", oracle=_sql_pagerank(_PR_ITERS))
def trade_graph_pagerank(
    spark: SparkSession, sf_dir: str, *, iters: int = _PR_ITERS
) -> DataFrame:
    """PageRank centrality over the customer↔supplier trade graph —
    the iterative graph-analytics engine (operators/graph.py) next to
    the CC family: who are the hub customers/suppliers when each
    distinct trading relationship is an undirected edge.

    Scale shape: the edge build is one fact-fact equi-join + a
    partial-aggregable distinct; each of the 3 rounds is one src-keyed
    join shuffle + one dst-keyed partial-agg sum — linear in |edges|,
    lineage-truncated per round.  Integer-exact throughout (1e12 rank
    units, /100 damping rational), so the unrolled SQL oracle matches
    bit-for-bit.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    # The union above symmetrizes, so every dst is also a src by
    # construction — skip the dangling-node check's extra Spark job on
    # this hot (benchmarked) path; the precondition cannot fail here.
    ranks = graph.pagerank(edges, iters=iters, validate=False)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("entity_id"),
        "rank_e12",
    )


_PPR_SEED_NATION = 7


def _sql_pagerank_personalized(iters: int) -> str:
    """Unrolled personalized-PageRank oracle: same skeleton as
    :func:`_sql_pagerank`, with the uniform base replaced by a
    per-node base column — (base·n) div k on in-graph seed nodes
    (nation-{seed}'s customers), 0 elsewhere — mirroring
    operators/graph.py pagerank(seeds=...) bit-for-bit."""
    rounds = []
    prev = "r0"
    for t in range(1, iters + 1):
        rounds.append(f"""r{t} AS MATERIALIZED (
      SELECT b.node,
             CAST(b.b + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
               AS rank_e12
      FROM bases b LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank_e12 // dg.deg) AS m
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
      ) s ON s.node = b.node
    )""")
        prev = f"r{t}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs
    ), deg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), seeds AS MATERIALIZED (
      SELECT DISTINCT c_custkey * 2 AS node FROM customer
      WHERE c_nationkey = {_PPR_SEED_NATION}
    ), bases AS MATERIALIZED (
      SELECT d.src AS node,
             CASE WHEN s.node IS NOT NULL
                  THEN ({_PR_BASE} * (SELECT COUNT(*) FROM deg))
                       // (SELECT COUNT(*) FROM seeds x
                           JOIN deg dd ON dd.src = x.node)
                  ELSE 0 END AS b
      FROM deg d LEFT JOIN seeds s ON s.node = d.src
    ), r0 AS (
      SELECT src AS node, CAST(1000000000000 AS BIGINT) AS rank_e12 FROM deg
    ),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_id,
           rank_e12
    FROM {prev}
    """


@register(
    "graph_pagerank_personalized",
    oracle=_sql_pagerank_personalized(_PR_ITERS),
)
def graph_pagerank_personalized(
    spark: SparkSession, sf_dir: str, *, iters: int = _PR_ITERS
) -> DataFrame:
    """Personalized PageRank over the customer↔supplier trade graph,
    teleporting only to nation-7's customers (operators/graph.py
    pagerank(seeds=...)): which suppliers and customers matter MOST TO
    that market — the seed-relative relevance ranking next to the
    global centrality the uniform variant computes.  Same per-round
    join+sum skeleton and 1e12 mass scale; the only addition is the
    per-node base column built once.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    seeds = cust.filter(
        F.col("c_nationkey") == _PPR_SEED_NATION
    ).select((F.col("c_custkey") * 2).alias("node"))
    ranks = graph.pagerank(
        edges, iters=iters, validate=False, seeds=seeds
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("entity_id"),
        "rank_e12",
    )


def _sql_pagerank_weighted(iters: int) -> str:
    """Unrolled oracle for WEIGHTED PageRank over the symmetrized
    customer↔supplier graph, edge weight = number of lineitem rows
    linking the pair (trade volume): messages carry the weight share
    (r·w) // wdeg with the product widened to HUGEINT, mirroring the
    decimal(38,0) widening in operators/graph.py bit-for-bit."""
    rounds = []
    prev = "r0"
    for t in range(1, iters + 1):
        rounds.append(f"""r{t} AS MATERIALIZED (
      SELECT d.src AS node,
             CAST({_PR_BASE} + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT)
               AS rank_e12
      FROM deg d LEFT JOIN (
        SELECT e.dst AS node,
               SUM((CAST(r.rank_e12 AS HUGEINT) * e.w) // dg.deg) AS m
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
      ) s ON s.node = d.src
    )""")
        prev = f"r{t}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY a, b
    ), edges AS MATERIALIZED (
      SELECT a AS src, b AS dst, w FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst, w FROM pairs
    ), deg AS MATERIALIZED (
      SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY src
    ), r0 AS (
      SELECT src AS node, CAST(1000000000000 AS BIGINT) AS rank_e12 FROM deg
    ),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_id,
           rank_e12
    FROM {prev}
    """


@register("graph_pagerank_weighted", oracle=_sql_pagerank_weighted(_PR_ITERS))
def graph_pagerank_weighted(
    spark: SparkSession, sf_dir: str, *, iters: int = _PR_ITERS
) -> DataFrame:
    """WEIGHTED PageRank over the customer↔supplier trade graph: each
    undirected relationship carries its lineitem count (trade volume)
    as an integer edge weight, so a customer's rank flows
    proportionally to how much it actually trades with each supplier —
    the volume-aware hub score next to trade_graph_pagerank's
    unweighted relationship count.

    Scale shape: identical per-round cost to the unweighted form (one
    src-keyed join shuffle + one dst-keyed partial-agg sum); the only
    new arithmetic is the (rank·weight) product, widened to
    decimal(38,0) before the div so a mega-weight edge cannot overflow
    int64.  Integer-exact throughout — unrolled SQL oracle matches
    bit-for-bit.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.count("*").alias("w"))
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    # symmetrized by construction — skip the weight/dangling check jobs
    ranks = graph.pagerank(
        edges, iters=iters, weight="w", validate=False
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("entity_id"),
        "rank_e12",
    )


def _sql_pagerank_dangling(iters: int) -> str:
    """Unrolled oracle for the dangling='redistribute' PageRank mode
    over the DIRECTED (unsymmetrized) customer→supplier purchase graph:
    suppliers never appear as sources, so EVERY supplier is a sink and
    each round redistributes the full supplier-held mass uniformly —
    `//` floor == `div` truncation on all-positive operands, HUGEINT
    sums == the decimal(38,0) widening, mirroring operators/graph.py
    bit-for-bit."""
    rounds = []
    prev = "r0"
    for t in range(1, iters + 1):
        rounds.append(f"""r{t} AS MATERIALIZED (
      SELECT n.node,
             CAST({_PR_BASE} + (85 * (COALESCE(s.m, 0) + sk.share)) // 100
               AS BIGINT) AS rank_e12
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank_e12 // d.deg) AS m
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
      CROSS JOIN (
        SELECT COALESCE(SUM(r.rank_e12), 0) // (SELECT n FROM nn) AS share
        FROM {prev} r LEFT JOIN deg d ON d.src = r.node
        WHERE d.src IS NULL
      ) sk
    )""")
        prev = f"r{t}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), deg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), nodes AS MATERIALIZED (
      SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
    ), nn AS (
      SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
      SELECT node, CAST(1000000000000 AS BIGINT) AS rank_e12 FROM nodes
    ),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_id,
           rank_e12
    FROM {prev}
    """


@register("graph_pagerank_dangling", oracle=_sql_pagerank_dangling(_PR_ITERS))
def graph_pagerank_dangling(
    spark: SparkSession, sf_dir: str, *, iters: int = _PR_ITERS
) -> DataFrame:
    """PageRank with sink-mass redistribution over the DIRECTED
    customer→supplier purchase graph — the ``dangling='redistribute'``
    mode of operators/graph.py under the full oracle gate: suppliers
    have no out-edges (every supplier is a sink), so each round the
    supplier-held mass is split uniformly (div-truncated) across the
    whole node set instead of being discarded or raising.

    Scale shape: identical per-round cost to trade_graph_pagerank (one
    src-keyed join shuffle + one dst-keyed partial-agg sum) plus one
    BOUNDED extra aggregate per round — the sink-mass sum, a 1-row
    broadcast, never a shuffle on the rank frame.  Integer-exact
    (1e12 rank units, /100 damping rational, decimal(38,0) widening),
    so the unrolled SQL oracle matches bit-for-bit.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    ranks = graph.pagerank(
        edges, iters=iters, dangling="redistribute"
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("entity_id"),
        "rank_e12",
    )


_CUSUM_H = 10_000  # alarm threshold in exact cents (100.00 value units)


@register(
    "events_cusum_changepoints",
    # CUSUM drift detection with the recursion CLOSED-FORM'd for SQL:
    # s_i = max(0, s_{i-1} + d_i) has no window-function form, but
    # equals P_i − min(0, min_{j≤i} P_j) over the deviation prefix sums
    # P — two stacked windows on one partition order, all exact integer
    # cents (per-user mean via `div` truncation), so both engines emit
    # identical alarm sets.
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS v_cents
      FROM events
    ), m AS (
      SELECT *, SUM(v_cents) OVER w // COUNT(*) OVER w AS mu
      FROM e WINDOW w AS (PARTITION BY user_id)
    ), p AS (
      SELECT *, SUM(v_cents - mu) OVER w2 AS pre
      FROM m WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT *, pre - least(0, MIN(pre) OVER w2) AS cusum_c
      FROM p WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, v_cents, CAST(cusum_c AS BIGINT) AS cusum_c
    FROM s WHERE cusum_c > {_CUSUM_H}
    """,
)
def events_cusum_changepoints(
    spark: SparkSession, sf_dir: str, *, h_cents: int = _CUSUM_H
) -> DataFrame:
    """CUSUM upward-drift detection per user: alarm on events where the
    cumulative positive deviation from the user's mean exceeds
    ``h_cents`` — the sequential change-detection complement to the
    point-outlier z-gate (events_anomaly_outliers): a run of small
    upward deviations alarms here long before any single point trips a
    z-score.

    The CUSUM recursion s_i = max(0, s_{i-1} + d_i) is closed-formed as
    P_i − min(0, min_{j≤i} P_j) (deviation prefix sum minus its running
    minimum), so the whole detector is two stacked window passes over
    ONE (user-keyed) shuffle — no recursion, no UDF, exact integers
    end-to-end.

    Scale shape: one exchange on user_id; both windows share its sort
    (ts, event_id); partition sizes bounded by per-user history.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w_all = Window.partitionBy("user_id")
    w_ord = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # integer mean via div (truncation — mirrored by DuckDB `//`)
    m = (
        e.withColumn("s_all", F.sum("v_cents").over(w_all))
        .withColumn("n_all", F.count("*").over(w_all))
        .withColumn("mu", F.expr("s_all div n_all"))
    )
    p = m.withColumn("pre", F.sum(F.col("v_cents") - F.col("mu")).over(w_ord))
    s = p.withColumn(
        "cusum_c",
        F.col("pre") - F.least(F.lit(0).cast("long"), F.min("pre").over(w_ord)),
    )
    return s.filter(F.col("cusum_c") > h_cents).select(
        "event_id", "user_id", "v_cents", "cusum_c"
    )


@register(
    "events_value_deciles",
    # Rank-family window coverage (ntile / percent_rank / cume_dist)
    # under a TOTAL order (v_cents, event_id): every rank function is
    # then row-unique, percent_rank == (rank-1)/(n-1) and cume_dist ==
    # rank/n become exact integer ratios, and both engines perform the
    # identical IEEE division — bit-stable despite the double outputs.
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS v_cents
      FROM events
    )
    SELECT event_id, event_type, v_cents,
           CAST(ntile(10) OVER w AS INTEGER) AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM e WINDOW w AS (PARTITION BY event_type ORDER BY v_cents, event_id)
    """,
)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks per event type: decile bucket (NTILE),
    percentile rank, and cumulative distribution for every event's
    value — the remaining rank-function family under one query, made
    deterministic by a total order.

    Scale shape: one exchange on event_type; all three rank functions
    share the same window sort.  Heavy types are bounded by per-type
    volume; a 100 TB deploy pre-buckets by (type, shard) exactly as the
    pack_sequences note describes.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("event_type").orderBy("v_cents", "event_id")
    return e.select(
        "event_id",
        "event_type",
        "v_cents",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "events_latest_state",
    # CDC compaction: latest event per user under the TOTAL order
    # (ts, event_id).  The oracle uses the window/QUALIFY formulation;
    # Spark uses partial-aggregable max_by — same rows, but the Spark
    # plan never full-sorts a partition (the aggregate combines
    # map-side), which is the shape that matters when compacting a
    # 100 TB change stream.
    oracle="""
    SELECT user_id, event_id AS last_event_id,
           event_type AS last_event_type,
           CAST(round(value * 100) AS BIGINT) AS last_v_cents,
           CAST(cnt AS BIGINT) AS n_events
    FROM (
      SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-stream compaction: each user's latest event (the
    materialized current state a CDC consumer keeps) plus their event
    count — via partial-aggregable ``max_by`` on the total order
    (ts, event_id), ONE combine-capable shuffle and no window sort."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    best = F.max_by(
        F.struct("event_id", "event_type", "v_cents"),
        F.struct("ts", "event_id"),
    )
    return (
        e.groupBy("user_id")
        .agg(best.alias("last"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.v_cents").alias("last_v_cents"),
            "n_events",
        )
    )


@register(
    "events_sketch_reaggregate",
    # The MERGEABLE-sketch contract: per-type DataSketches HLL sketches
    # union into a global distinct estimate WITHOUT rescanning the fact
    # table — the two-level re-aggregation a 100 TB rollup cube relies
    # on.  Sketch bytes are engine-specific, so the checkable contract
    # is the bounds assertion (±5% of exact) plus the exact per-type and
    # global counts computed alongside.
    oracle="""
    WITH per AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(exact_users) AS BIGINT) AS sum_type_users,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_global,
           TRUE AS approx_within_5pct
    FROM per
    """,
)
def events_sketch_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch re-aggregation: build one DataSketches HLL per
    event type, then ``hll_union_agg`` the per-type sketch BYTES into a
    global distinct-user estimate — no second scan of the fact table
    (the property that lets a 100 TB cube answer roll-ups at any
    grouping level from pre-built leaf sketches).

    The global estimate must land within ±5% of the exact distinct
    count (computed alongside from a pre-deduped frame, same shape as
    events_approx_distinct)."""
    e = load_table(spark, sf_dir, "events")
    d = hold(e.select("event_type", "user_id").distinct().persist())
    per_type = d.groupBy("event_type").agg(
        F.count("*").alias("exact_users"),
        F.hll_sketch_agg("user_id").alias("sketch"),
    )
    # second level: merge the BOUNDED per-type sketch rows — never the
    # fact table again
    merged = per_type.agg(
        F.count("*").alias("n_types"),
        F.sum("exact_users").alias("sum_type_users"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_global"),
    )
    exact_global = d.select("user_id").distinct().agg(
        F.count("*").alias("exact_global")
    )
    out = merged.crossJoin(exact_global).select(
        "n_types",
        "sum_type_users",
        "exact_global",
        (
            F.abs(F.col("est_global") - F.col("exact_global"))
            <= 0.05 * F.col("exact_global")
        ).alias("approx_within_5pct"),
    )
    return out


_CMS_SPLIT_TS = "2024-01-16 00:00:00"
# Shared md5-derived CMS bucket in DuckDB form (Spark: operators/
# sketches._cms_bucket — conv(substr(md5(seed:key),1,8),16,10) % width).
_SQL_CMS_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || "
    "CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64"
)


@register(
    "events_cms_frequency",
    # Mirrors the Spark plan exactly: same md5 bucket per (seed, key),
    # same exact-integer grid, min-over-depth estimates from BOTH the
    # single global build and the two half-month sketches merged by
    # cell-wise sum — merged_equal proves the merge identity as data.
    oracle=f"""
    WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
    cells AS (
      SELECT seed, {_SQL_CMS_BUCKET} AS bucket,
             ts < TIMESTAMP '{_CMS_SPLIT_TS}' AS first_half
      FROM events, seeds
    ), sketch AS (
      SELECT seed, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2
    ), merged AS (
      SELECT seed, bucket, SUM(cnt) AS cnt FROM (
        SELECT seed, bucket, count(*) AS cnt FROM cells
        WHERE first_half GROUP BY 1, 2
        UNION ALL
        SELECT seed, bucket, count(*) AS cnt FROM cells
        WHERE NOT first_half GROUP BY 1, 2
      ) GROUP BY 1, 2
    ), keys AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0
    ), probes AS (
      SELECT user_id, seed, {_SQL_CMS_BUCKET} AS bucket FROM keys, seeds
    ), est AS (
      SELECT p.user_id, MIN(COALESCE(s.cnt, 0)) AS cms_est
      FROM probes p LEFT JOIN sketch s
        ON s.seed = p.seed AND s.bucket = p.bucket
      GROUP BY 1
    ), est_m AS (
      SELECT p.user_id, MIN(COALESCE(m.cnt, 0)) AS cms_est_merged
      FROM probes p LEFT JOIN merged m
        ON m.seed = p.seed AND m.bucket = p.bucket
      GROUP BY 1
    ), exact AS (
      SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
    )
    SELECT e.user_id,
           CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - x.exact_cnt AS BIGINT) AS overestimate,
           e.cms_est >= x.exact_cnt AS est_is_upper_bound,
           e.cms_est = m.cms_est_merged AS merged_equal
    FROM est e
    JOIN est_m m ON m.user_id = e.user_id
    JOIN exact x ON x.user_id = e.user_id
    """,
)
def events_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over event users (operators/
    sketches.py) — the frequency member of the mergeable-sketch family
    (HLL: distinct, KLL: quantiles): per sampled user, the exact event
    count next to the CMS point estimate from (a) one global build and
    (b) two half-month sketches MERGED by cell-wise sum.  Two
    guarantees ride as data: est_is_upper_bound (CMS never
    undercounts) and merged_equal (cell-wise merge reproduces the
    global grid exactly — the property that lets per-day sketches roll
    up without re-reading facts).  Width 64 < 150 users, so collisions
    are real and the overestimate column is a live monitored number.
    """
    from ..operators import sketches

    # One narrow scan feeds five consumers (global build, two half
    # builds, key sample, exact counts) — persist it or each runs its
    # own parquet scan as a concurrent AQE stage.
    ev = hold(
        load_table(spark, sf_dir, "events")
        .select("ts", "user_id")
        .persist()
    )
    ev.count()
    split = F.lit(_CMS_SPLIT_TS).cast("timestamp")
    sk = sketches.cms_build(ev, "user_id")
    sk_m = sketches.cms_merge(
        sketches.cms_build(ev.filter(F.col("ts") < split), "user_id"),
        sketches.cms_build(ev.filter(F.col("ts") >= split), "user_id"),
    )
    keys = (
        ev.select("user_id").filter(F.col("user_id") % 10 == 0).distinct()
    )
    est = sketches.cms_estimate(sk, keys, "user_id")
    est_m = sketches.cms_estimate(sk_m, keys, "user_id").withColumnRenamed(
        "cms_est", "cms_est_merged"
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    out = (
        est.join(est_m, "user_id")
        .join(exact, "user_id")
        .select(
            "user_id",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("overestimate"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias(
                "est_is_upper_bound"
            ),
            (F.col("cms_est") == F.col("cms_est_merged")).alias(
                "merged_equal"
            ),
        )
    )
    return out


_HH_PHI_PERMILLE = 50  # heavy-hitter threshold φ = 5% of total volume
# CMS bucket over the binned-value key (same md5 idiom as
# _SQL_CMS_BUCKET, keyed on value_bin instead of user_id)
_SQL_CMS_BUCKET_BIN = (
    "CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || "
    "CAST(value_bin AS VARCHAR)), 1, 8)) AS BIGINT) % 64"
)


@register(
    "events_cms_heavy_hitters",
    # Mirrors the Spark plan exactly: same md5 grid, same min-over-
    # depth estimates, same φ·N permille gate, and the same
    # exact-verification pass over the SURVIVORS only.
    oracle=f"""
    WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
    binned AS (
      SELECT CAST(floor(value / 10) AS BIGINT) AS value_bin FROM events
    ),
    cells AS (
      SELECT seed, {_SQL_CMS_BUCKET_BIN} AS bucket FROM binned, seeds
    ),
    sketch AS (
      SELECT seed, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT value_bin FROM binned),
    probes AS (
      SELECT value_bin, seed, {_SQL_CMS_BUCKET_BIN} AS bucket
      FROM keys, seeds
    ),
    est AS (
      SELECT p.value_bin, MIN(COALESCE(s.cnt, 0)) AS cms_est
      FROM probes p LEFT JOIN sketch s
        ON s.seed = p.seed AND s.bucket = p.bucket
      GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n_total FROM binned),
    cand AS (
      SELECT e.value_bin, e.cms_est, t.n_total FROM est e, tot t
      WHERE e.cms_est * 1000 >= {_HH_PHI_PERMILLE} * t.n_total
    ),
    exact AS (
      SELECT value_bin, count(*) AS exact_cnt FROM binned
      WHERE value_bin IN (SELECT value_bin FROM cand)
      GROUP BY 1
    )
    SELECT c.value_bin,
           CAST(c.cms_est AS BIGINT) AS cms_est,
           CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
           c.cms_est >= x.exact_cnt AS est_is_upper_bound,
           x.exact_cnt * 1000 >= {_HH_PHI_PERMILLE} * c.n_total
             AS is_true_heavy
    FROM cand c JOIN exact x ON x.value_bin = c.value_bin
    """,
)
def events_cms_heavy_hitters(
    spark: SparkSession, sf_dir: str, *, phi_permille: int = _HH_PHI_PERMILLE
) -> DataFrame:
    """CMS-driven heavy hitters — the top-frequent-items report every
    corpus monitor actually wants from a Count-Min sketch
    (operators/sketches.py): which value strata (floor(value/10) bins,
    an exponentially skewed key) carry ≥ φ = {_HH_PHI_PERMILLE}‰ of
    total event volume.  The sketch gates, the exact pass VERIFIES:
    candidates = keys whose CMS estimate clears φ·N, then only those
    keys are exactly counted — is_true_heavy separates real heavies
    from CMS-overestimate false positives (one-sided error as data,
    the ANN-recall-eval pattern).

    Scale shape: the build is the one partial-aggregable grid groupBy;
    the probe joins the distinct-key frame against the broadcast
    ≤ depth·width grid; the candidate set is bounded by
    1/(φ − 1/width) REGARDLESS of N (CMS overestimate ≤ N/width), so
    the exact verification is a broadcast semi-join touching a
    constant number of keys at any volume — never a full exact
    frequency table.
    """
    from ..operators import sketches

    ev = hold(
        load_table(spark, sf_dir, "events")
        .select(
            F.floor(F.col("value") / 10).cast("long").alias("value_bin")
        )
        .persist()
    )
    ev.count()
    sk = sketches.cms_build(ev, "value_bin")
    keys = ev.select("value_bin").distinct()
    est = sketches.cms_estimate(sk, keys, "value_bin")
    total = ev.agg(F.count("*").alias("n_total"))
    cand = est.crossJoin(F.broadcast(total)).filter(
        F.col("cms_est") * 1000 >= F.lit(phi_permille) * F.col("n_total")
    )
    exact = (
        ev.join(
            F.broadcast(cand.select("value_bin")), "value_bin", "left_semi"
        )
        .groupBy("value_bin")
        .agg(F.count("*").alias("exact_cnt"))
    )
    out = cand.join(exact, "value_bin").select(
        "value_bin",
        F.col("cms_est").cast("long").alias("cms_est"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("est_is_upper_bound"),
        (
            F.col("exact_cnt") * 1000
            >= F.lit(phi_permille) * F.col("n_total")
        ).alias("is_true_heavy"),
    )
    return out


@register(
    "graph_triangle_count",
    # Degree-ordered (compact-forward) triangle counting over the
    # nation co-trade graph, mirrored exactly: same canonical simple
    # graph, same (deg ASC, node ASC) orientation, same once-per-
    # triangle wedge closure — so the counts are bit-identical.
    oracle="""
    WITH raw AS (
      SELECT DISTINCT s.s_nationkey AS a, c.c_nationkey AS b
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ), und AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a != b
    ), deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    ), o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
                  THEN u ELSE v END AS s,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
                  THEN v ELSE u END AS t
      FROM und
      JOIN deg da ON da.node = und.u
      JOIN deg db ON db.node = und.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM o e1
            JOIN o e2 ON e2.s = e1.t
            JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the nation co-trade graph (an edge links the
    supplier's and customer's nations of any lineitem) — cluster-
    coherence analytics via the degree-ordered triangle counter
    (operators/graph.py triangle_count), the third graph primitive
    next to PageRank and connected components.

    Scale shape: the edge build is the q7-style 4-way dim join
    collapsed by DISTINCT to a bounded nation-pair set; the counter's
    wedge join is O(m^1.5) worst-case by orientation.  One summary row.
    """
    from ..operators import graph

    return graph.triangle_count(_trade_nation_edges(spark, sf_dir))


def _trade_nation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation co-trade edge list (supplier nation ↔ customer nation of
    any lineitem) — shared by the triangle census and the per-node
    clustering-coefficient query."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    return (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )


@register(
    "graph_clustering_coeff",
    # Per-node local clustering coefficient over the same nation
    # co-trade graph, mirrored exactly: same canonical simple graph,
    # same (deg ASC, node ASC) orientation, same once-per-triangle
    # wedge closure credited to all three vertices, same
    # 2T/(d(d-1)) double ratio of exact integers.
    oracle="""
    WITH raw AS (
      SELECT DISTINCT s.s_nationkey AS a, c.c_nationkey AS b
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ), und AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a != b
    ), deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    ), o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
                  THEN u ELSE v END AS s,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u < v)
                  THEN v ELSE u END AS t
      FROM und
      JOIN deg da ON da.node = und.u
      JOIN deg db ON db.node = und.v
    ), tri AS (
      SELECT unnest([e1.s, e1.t, e2.t]) AS node
      FROM o e1
      JOIN o e2 ON e2.s = e1.t
      JOIN o e3 ON e3.s = e1.s AND e3.t = e2.t
    ), per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM tri GROUP BY node
    )
    SELECT d.node,
           CAST(d.deg AS BIGINT) AS deg,
           CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.deg >= 2
                THEN CAST(2 * COALESCE(p.n_tri, 0) AS DOUBLE)
                     / (d.deg * (d.deg - 1))
                ELSE 0.0 END AS local_cc
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation local clustering coefficient of the co-trade graph —
    the per-entity consumer of the triangle primitive
    (operators/graph.py clustering_coefficient): which nations' trade
    partners also trade with each other.  Same O(m^1.5)-bounded
    oriented wedge join as the census, plus one partial-aggregable
    per-node credit count.
    """
    from ..operators import graph

    return graph.clustering_coefficient(_trade_nation_edges(spark, sf_dir))


# k-core demo graph: the supplier<->customer trade bipartite graph of one
# shipping quarter -- thin enough that k=3 peeling CASCADES (a customer
# kept above threshold only by weak suppliers falls when they do), which
# is the whole point of k-core over one-shot degree filtering.  Customer
# keys offset into a disjoint id range.
_KCORE_K = 3
_KCORE_EDGES_SQL = """SELECT DISTINCT CAST(s.s_suppkey AS BIGINT) AS u,
         CAST(1000000 + c.c_custkey AS BIGINT) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE l.l_shipdate >= DATE '1995-01-01'
    AND l.l_shipdate < DATE '1995-04-01'"""


@register(
    "graph_kcore",
    # The identical peel as a recursive CTE: the removed set rides as a
    # sorted list in a single working row (pure set arithmetic, no
    # floats), each step recomputes active degrees against it, and the
    # UNION ALL terminates exactly at the Spark loop's fixpoint (the
    # next_removed <> removed guard).  DuckDB 1.0 quirk, found the hard
    # way: the recursive member's correlated subqueries silently see
    # sibling CTEs as EMPTY (plain or MATERIALIZED), so the edge set is
    # inlined against the registered VIEWS, which resolve correctly.
    oracle=f"""
    WITH RECURSIVE peel(it, removed) AS (
      SELECT 0, CAST([] AS BIGINT[])
      UNION ALL
      SELECT it + 1, next_removed FROM (
        SELECT it,
          (SELECT coalesce(list_sort(list(n.node)), CAST([] AS BIGINT[]))
           FROM (SELECT u AS node FROM ({_KCORE_EDGES_SQL}) UNION
                 SELECT v FROM ({_KCORE_EDGES_SQL})) n
           WHERE list_contains(p.removed, n.node)
              OR coalesce((SELECT count(*) FROM ({_KCORE_EDGES_SQL}) e
                  WHERE (e.u = n.node OR e.v = n.node)
                    AND NOT list_contains(p.removed, e.u)
                    AND NOT list_contains(p.removed, e.v)), 0)
                 < {_KCORE_K}
          ) AS next_removed,
          p.removed AS removed
        FROM peel p
      ) WHERE next_removed <> removed
    ), final AS (
      SELECT removed FROM peel ORDER BY it DESC LIMIT 1
    ), core_edges AS (
      SELECT e.u, e.v FROM ({_KCORE_EDGES_SQL}) e, final f
      WHERE NOT list_contains(f.removed, e.u)
        AND NOT list_contains(f.removed, e.v)
    )
    SELECT node, CAST(count(*) AS BIGINT) AS core_deg
    FROM (SELECT unnest([u, v]) AS node FROM core_edges)
    GROUP BY node
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of one quarter's supplier<->customer trade graph
    (operators/graph.py k_core): the maximal subgraph where every
    surviving entity keeps >= {_KCORE_K} distinct trade partners AFTER
    all weaker entities are peeled away -- the "engaged core" filter
    that one-shot degree thresholding gets wrong (a customer propped up
    by three one-order suppliers is NOT core; the cascade removes it).
    Measured at sf0.01: 1200 nodes peel to a 356-node core over 3
    cascade rounds.
    """
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("date"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("s_suppkey").cast("long").alias("src"),
            (F.lit(1_000_000) + F.col("c_custkey")).cast("long").alias("dst"),
        )
        .distinct()
    )
    return graph.k_core(edges, k=_KCORE_K)


_CORENESS_NODES_SQL = f"""SELECT u AS node FROM ({_KCORE_EDGES_SQL})
       UNION SELECT v FROM ({_KCORE_EDGES_SQL})"""


@register(
    "graph_coreness",
    # CROSS-ALGORITHM oracle: the Spark side runs the h-index fixpoint
    # (operators/graph.py coreness); this CTE computes the same
    # decomposition by the ascending-threshold PEEL — the working row
    # carries (k, removed-node list, aligned removal-k list); each step
    # either peels the sub-k-degree stratum (tagging every casualty
    # with the CURRENT k, isolated deg-0 nodes included) or, at a
    # k-core fixpoint, JUMPS k past the core's minimum active degree
    # (every level in between would peel nothing).  Two
    # independent algorithms agreeing on every core number is a
    # stronger check than a same-algorithm replay.  Positional
    # double-unnest zips the two lists into (node, coreness =
    # removal-k − 1).  Same DuckDB-1.0 inlining rule as graph_kcore:
    # the recursive member's correlated subqueries must read the
    # registered VIEWS, not sibling CTEs.
    oracle=f"""
    WITH RECURSIVE peel(it, k, removed, ks) AS (
      SELECT 0, CAST(2 AS BIGINT), CAST([] AS BIGINT[]),
             CAST([] AS BIGINT[])
      UNION ALL
      SELECT it + 1,
             CASE WHEN len(newly) > 0 THEN k ELSE min_active_deg + 1 END,
             list_concat(removed, newly),
             list_concat(
               ks, list_transform(newly, x -> CAST(k AS BIGINT))
             )
      FROM (
        SELECT it, k, removed, ks,
          (SELECT coalesce(list_sort(list(n.node)), CAST([] AS BIGINT[]))
           FROM ({_CORENESS_NODES_SQL}) n
           WHERE NOT list_contains(p.removed, n.node)
             AND coalesce((SELECT count(*) FROM ({_KCORE_EDGES_SQL}) e
                  WHERE (e.u = n.node OR e.v = n.node)
                    AND NOT list_contains(p.removed, e.u)
                    AND NOT list_contains(p.removed, e.v)), 0) < p.k
          ) AS newly,
          (SELECT coalesce(min(
             (SELECT count(*) FROM ({_KCORE_EDGES_SQL}) e
              WHERE (e.u = n.node OR e.v = n.node)
                AND NOT list_contains(p.removed, e.u)
                AND NOT list_contains(p.removed, e.v))), CAST(0 AS BIGINT))
           FROM ({_CORENESS_NODES_SQL}) n
           WHERE NOT list_contains(p.removed, n.node)
          ) AS min_active_deg
        FROM peel p
      ) WHERE len(newly) > 0
         OR len(removed) < (SELECT count(*) FROM ({_CORENESS_NODES_SQL}))
    ), final AS (
      SELECT removed, ks FROM peel ORDER BY it DESC LIMIT 1
    )
    SELECT unnest(removed) AS node,
           CAST(unnest(ks) - 1 AS BIGINT) AS coreness
    FROM final
    """,
)
def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of the quarter's supplier<->customer
    trade graph (operators/graph.py coreness): every entity's core
    NUMBER — the deepest k-core it survives — in one h-index fixpoint,
    where graph_kcore answers membership at the single k={_KCORE_K}.
    The per-entity engagement-depth ranking a marketplace-health
    report actually wants: coreness 1 = held in the graph only by
    one-partner chains, max coreness = the innermost stable trading
    kernel.
    """
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("date"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("s_suppkey").cast("long").alias("src"),
            (F.lit(1_000_000) + F.col("c_custkey")).cast("long").alias("dst"),
        )
        .distinct()
    )
    return graph.coreness(edges)


# k-truss demo graph: nation co-trade inside a 10-day shipping window —
# thin enough that edge peeling CASCADES (measured sf0.01 at k=7: six
# rounds, 146 → 21 edges).  Nation keys < 1000, so u·1000+v encodes an
# edge as one BIGINT for the oracle's removed-set carrier.
_KTRUSS_K = 7
_KTRUSS_EDGES_SQL = """SELECT DISTINCT
         least(s.s_nationkey, c.c_nationkey) AS u,
         greatest(s.s_nationkey, c.c_nationkey) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE l.l_shipdate >= DATE '1995-01-01'
    AND l.l_shipdate < DATE '1995-01-11'
    AND s.s_nationkey <> c.c_nationkey"""
# Active-edge adjacency (both directions) under a removed-edge list —
# the support subquery's building block, inlined twice per use.
_KTRUSS_NBRS = f"""(SELECT u AS a, v AS b FROM ({_KTRUSS_EDGES_SQL})
                    WHERE NOT list_contains(p.removed, u * 1000 + v)
                    UNION ALL
                    SELECT v, u FROM ({_KTRUSS_EDGES_SQL})
                    WHERE NOT list_contains(p.removed, u * 1000 + v))"""


@register(
    "graph_ktruss",
    # The identical edge peel as a recursive CTE: removed EDGES ride as
    # a sorted list of u·1000+v codes in one working row; each step
    # recomputes every edge's triangle support as the common-neighbor
    # count over the ACTIVE adjacency, and the UNION ALL terminates at
    # the Spark loop's exact fixpoint.  Same DuckDB-1.0 inlining rule
    # as graph_kcore: the recursive member's correlated subqueries must
    # read the registered VIEWS, not sibling CTEs.
    oracle=f"""
    WITH RECURSIVE peel(it, removed) AS (
      SELECT 0, CAST([] AS BIGINT[])
      UNION ALL
      SELECT it + 1, next_removed FROM (
        SELECT it,
          (SELECT coalesce(list_sort(list(e.u * 1000 + e.v)),
                           CAST([] AS BIGINT[]))
           FROM ({_KTRUSS_EDGES_SQL}) e
           WHERE list_contains(p.removed, e.u * 1000 + e.v)
              OR (SELECT count(*)
                  FROM {_KTRUSS_NBRS} n1
                  JOIN {_KTRUSS_NBRS} n2 ON n1.b = n2.b
                  WHERE n1.a = e.u AND n2.a = e.v) < {_KTRUSS_K} - 2
          ) AS next_removed,
          p.removed AS removed
        FROM peel p
      ) WHERE next_removed <> removed
    ), final AS (
      SELECT removed FROM peel ORDER BY it DESC LIMIT 1
    ), truss AS (
      SELECT e.u, e.v FROM ({_KTRUSS_EDGES_SQL}) e, final f
      WHERE NOT list_contains(f.removed, e.u * 1000 + e.v)
    )
    SELECT t.u, t.v,
           CAST((SELECT count(*)
            FROM (SELECT u AS a, v AS b FROM truss
                  UNION ALL SELECT v, u FROM truss) n1
            JOIN (SELECT u AS a, v AS b FROM truss
                  UNION ALL SELECT v, u FROM truss) n2
              ON n1.b = n2.b
            WHERE n1.a = t.u AND n2.a = t.v) AS BIGINT) AS support
    FROM truss t
    """,
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-truss of the 10-day nation co-trade graph (operators/graph.py
    k_truss): the maximal subgraph where every surviving trade EDGE
    sits in >= 5 triangles of the subgraph — the edge-level community
    kernel that node-degree filters (k-core) cannot express, because an
    edge's support recomputes against the survivors each round and
    cascades.  Measured at sf0.01: 146 edges peel to a 21-edge kernel
    over 6 rounds.
    """
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-01-11").cast("date"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    edges = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .distinct()
    )
    return graph.k_truss(edges, k=_KTRUSS_K)


_DRIFT_SPLIT_TS = "2024-01-16 00:00:00"
_DRIFT_CHI2_E6 = 2_000  # per-bin chi-square-term drift threshold
# Drift-demo snapshot B: the later half of the feed, with its heavy
# tail TRUNCATED (a parser capping large values is the classic silent
# ingest regression) -- the gate must flag the drained top decile and
# stay quiet on the ~1.1x proportional inflation of the other bins.
_DRIFT_B_VALUE_CAP = 113


@register(
    "events_value_drift_bins",
    # Mirrors the Spark plan exactly: reference deciles from the
    # cumulative distinct-value histogram (min v with cum >= (n*k) div
    # 10), bin = 1 + #edges below the value, exact integer proportions
    # and chi-square terms (the engine's ln-free drift statistic — a
    # transcendental's last ULP is engine-dependent, integer ratios are
    # not).
    oracle=f"""
    WITH va AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE ts < TIMESTAMP '{_DRIFT_SPLIT_TS}'
    ), vb AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE ts >= TIMESTAMP '{_DRIFT_SPLIT_TS}'
        AND value <= {_DRIFT_B_VALUE_CAP}
    ), cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum
      FROM (SELECT v, count(*) AS c FROM va GROUP BY v)
    ), na AS (SELECT count(*) AS n FROM va),
    edges AS (
      SELECT g.k, MIN(c.v) AS ev
      FROM generate_series(1, 9) g(k), na, cum c
      WHERE c.cum >= (na.n * g.k) // 10
      GROUP BY g.k
    ), bins_a AS (
      SELECT bin, count(*) AS n_bin FROM (
        SELECT 1 + (SELECT count(*) FROM edges e WHERE va.v > e.ev) AS bin
        FROM va
      ) GROUP BY bin
    ), bins_b AS (
      SELECT bin, count(*) AS n_bin FROM (
        SELECT 1 + (SELECT count(*) FROM edges e WHERE vb.v > e.ev) AS bin
        FROM vb
      ) GROUP BY bin
    ), nb AS (SELECT count(*) AS n FROM vb),
    j AS (
      SELECT COALESCE(a.bin, b.bin) AS bin,
             COALESCE(a.n_bin, 0) AS n_a,
             COALESCE(b.n_bin, 0) AS n_b
      FROM bins_a a FULL OUTER JOIN bins_b b ON a.bin = b.bin
    ), p AS (
      SELECT bin, n_a, n_b,
             (n_a * 1000000) // (SELECT n FROM na) AS pa_e6,
             (n_b * 1000000) // (SELECT n FROM nb) AS pb_e6
      FROM j
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           (SELECT MAX(ev) FROM edges e WHERE e.k = bin - 1) AS lo_cents,
           (SELECT MAX(ev) FROM edges e WHERE e.k = bin) AS hi_cents,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(pa_e6 AS BIGINT) AS pa_e6,
           CAST(pb_e6 AS BIGINT) AS pb_e6,
           CAST(CASE WHEN pa_e6 + pb_e6 > 0
                THEN ((pa_e6 - pb_e6) * (pa_e6 - pb_e6)) // (pa_e6 + pb_e6)
                ELSE 0 END AS BIGINT) AS chi2_term_e6,
           (CASE WHEN pa_e6 + pb_e6 > 0
                THEN ((pa_e6 - pb_e6) * (pa_e6 - pb_e6)) // (pa_e6 + pb_e6)
                ELSE 0 END) > {_DRIFT_CHI2_E6} AS drifted
    FROM p
    """,
)
def events_value_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot value-distribution drift gate over reference-decile
    bins — the numeric companion of orders_profile_drift: bin snapshot
    B's values by snapshot A's OWN deciles (the PSI binning) and flag
    bins whose probability mass moved.  The drift statistic is the
    per-bin chi-square term ((pa − pb)² / (pa + pb) in 1e-6 units) —
    the engine's determinism policy replaces PSI's ln with an exact
    integer ratio (same monotone drift signal, no transcendental whose
    last ULP engines disagree on).

    Decile edges come from A's cumulative DISTINCT-VALUE histogram:
    edge_k = min value whose cumulative count reaches (n·k) div 10.
    The one window runs over distinct cents values — bounded by the
    VALUE DOMAIN, invariant to row count (same bounded-frame argument
    as the month-partitioned gap-fill windows), so no corpus-sized
    global sort exists anywhere; binning is a 9-edge broadcast + pure
    map-side arithmetic, and every count is partial-aggregable.

    Demo snapshots: A = the feed's first half; B = the second half
    with its heavy tail truncated at value <= 113 (~A's top-decile
    edge) -- the classic silent parser regression.  The gate must
    flag exactly the drained top bin and stay quiet on the ~1.1x
    proportional inflation everywhere else (measured sf0.01: bin 10
    chi2 = 100100, every other bin < 1700 vs threshold 2000).

    Output: one row per occupied bin (bin, lo_cents, hi_cents, n_a,
    n_b, pa_e6, pb_e6, chi2_term_e6, drifted).
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "value",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    split = F.lit(_DRIFT_SPLIT_TS).cast("timestamp")
    va = ev.filter(F.col("ts") < split).select("v")
    vb = ev.filter(
        (F.col("ts") >= split)
        & (F.col("value") <= _DRIFT_B_VALUE_CAP)
    ).select("v")
    hist = va.groupBy("v").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("v", F.sum("c").over(wcum).alias("cum"))
    na = va.agg(F.count("*").alias("n_a_total"))
    edges = (
        cum.crossJoin(F.broadcast(na))
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") >= F.expr(f"(n_a_total * {k}) div 10"),
                        F.col("v"),
                    )
                ).alias(f"e{k}")
                for k in range(1, 10)
            ]
        )
    )
    nb = vb.agg(F.count("*").alias("n_b_total"))

    def binned(vals, alias):
        bin_expr = F.lit(1)
        for k in range(1, 10):
            bin_expr = bin_expr + F.when(
                F.col("v") > F.col(f"e{k}"), 1
            ).otherwise(0)
        return (
            vals.crossJoin(F.broadcast(edges))
            .select(bin_expr.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias(alias))
        )

    j = (
        binned(va, "n_a")
        .join(binned(vb, "n_b"), "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(edges))
    )
    lo = F.lit(None).cast("long")
    hi = F.lit(None).cast("long")
    for k in range(1, 10):
        lo = F.when(F.col("bin") == k + 1, F.col(f"e{k}")).otherwise(lo)
        hi = F.when(F.col("bin") == k, F.col(f"e{k}")).otherwise(hi)
    chi = F.expr(
        "CASE WHEN pa_e6 + pb_e6 > 0"
        " THEN ((pa_e6 - pb_e6) * (pa_e6 - pb_e6)) div (pa_e6 + pb_e6)"
        " ELSE 0 END"
    )
    return (
        j.select(
            F.col("bin").cast("long").alias("bin"),
            lo.alias("lo_cents"),
            hi.alias("hi_cents"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("(n_a * 1000000L) div n_a_total")
            .cast("long")
            .alias("pa_e6"),
            F.expr("(n_b * 1000000L) div n_b_total")
            .cast("long")
            .alias("pb_e6"),
        )
        .select(
            "bin",
            "lo_cents",
            "hi_cents",
            "n_a",
            "n_b",
            "pa_e6",
            "pb_e6",
            chi.cast("long").alias("chi2_term_e6"),
            (chi > _DRIFT_CHI2_E6).alias("drifted"),
        )
    )

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")


def _sql_profile_col(c: str, bounds: bool, from_clause: str = "orders") -> str:
    mn = f"CAST(MIN({c}) AS VARCHAR)" if bounds else "CAST(NULL AS VARCHAR)"
    mx = f"CAST(MAX({c}) AS VARCHAR)" if bounds else "CAST(NULL AS VARCHAR)"
    return f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           TRUE AS approx_ok,
           {mn} AS min_s,
           {mx} AS max_s
    FROM {from_clause}"""


@register(
    "orders_profile",
    # Per-column profile of the orders table (operators/profiling.py):
    # exact row/null/distinct counts; the HLL++ estimate surfaces only
    # as its ±5% flag (engine-specific bytes, same contract as
    # events_approx_distinct); bounds render only for engine-stable
    # dtypes (bigint/string here — the double column's bounds are NULL
    # by policy).
    oracle=" UNION ALL ".join(
        _sql_profile_col(c, bounds=c != "o_totalprice")
        for c in _PROFILE_COLS
    ),
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time data-quality profile of ``orders`` — the per-column
    summary (rows, nulls, exact distincts with an approx cross-check,
    engine-stable value bounds) a pipeline runs before trusting a new
    drop.  One scan; see operators/profiling.py for the 100 TB shape.
    """
    from ..operators.profiling import profile_table

    return profile_table(
        load_table(spark, sf_dir, "orders"), list(_PROFILE_COLS)
    )


# Drift-demo snapshot B: the new drop lost a whole category — the shape
# change (priority cardinality 5 → 4, new rendered min bound) is what
# the gate must flag, not the mere row-count drop.
_DRIFT_B_PRED = "o_orderpriority <> '1-URGENT'"


def _sql_drift_rate(side: str) -> str:
    return (
        f"CASE WHEN n_rows_{side} > 0 "
        f"THEN (nn_{side} * 1000000) // n_rows_{side} ELSE 0 END"
    )


@register(
    "orders_profile_drift",
    # Mirrors operators/profiling.profile_drift exactly: both snapshot
    # profiles (same columns, same bounds policy), full-outer join on
    # col_name, div-truncated 1e-6 null rates and distinct ratios, the
    # same >1%-null / ±15%-distinct / rendered-bounds-equality flags.
    oracle=f"""
    WITH pa AS ({" UNION ALL ".join(
        _sql_profile_col(c, bounds=c != "o_totalprice")
        for c in _PROFILE_COLS
    )}), pb AS ({" UNION ALL ".join(
        _sql_profile_col(
            c,
            bounds=c != "o_totalprice",
            from_clause=f"(SELECT * FROM orders WHERE {_DRIFT_B_PRED})",
        )
        for c in _PROFILE_COLS
    )}), j AS (
      SELECT COALESCE(pa.col_name, pb.col_name) AS col_name,
             pa.n_rows AS n_rows_a, pa.n_nulls AS nn_a,
             pa.n_distinct AS nd_a, pa.min_s AS mn_a, pa.max_s AS mx_a,
             pb.n_rows AS n_rows_b, pb.n_nulls AS nn_b,
             pb.n_distinct AS nd_b, pb.min_s AS mn_b, pb.max_s AS mx_b
      FROM pa FULL OUTER JOIN pb ON pa.col_name = pb.col_name
    )
    SELECT col_name,
           (n_rows_a IS NOT NULL AND n_rows_b IS NOT NULL) AS in_both,
           CAST(n_rows_a AS BIGINT) AS n_rows_a,
           CAST(n_rows_b AS BIGINT) AS n_rows_b,
           CAST({_sql_drift_rate("a")} AS BIGINT) AS null_rate_a_e6,
           CAST({_sql_drift_rate("b")} AS BIGINT) AS null_rate_b_e6,
           CAST(nd_a AS BIGINT) AS n_distinct_a,
           CAST(nd_b AS BIGINT) AS n_distinct_b,
           CASE WHEN n_rows_a IS NOT NULL AND n_rows_b IS NOT NULL
                THEN abs(({_sql_drift_rate("b")})
                         - ({_sql_drift_rate("a")})) > 10000
                ELSE TRUE END AS null_drift,
           CASE WHEN n_rows_a IS NOT NULL AND n_rows_b IS NOT NULL
                THEN CASE WHEN nd_a > 0
                          THEN abs((nd_b * 1000000) // nd_a - 1000000)
                               > 150000
                          ELSE TRUE END
                ELSE TRUE END AS distinct_drift,
           CASE WHEN n_rows_a IS NOT NULL AND n_rows_b IS NOT NULL
                THEN NOT (mn_a IS NOT DISTINCT FROM mn_b)
                     OR NOT (mx_a IS NOT DISTINCT FROM mx_b)
                ELSE TRUE END AS bounds_changed
    FROM j
    """,
)
def orders_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot profile drift gate (operators/profiling.py
    profile_drift) — the natural consumer of the long-form profile:
    profile yesterday's drop (full orders) and today's (a drop that
    silently lost every 1-URGENT order), join on col_name, and flag
    the columns whose null rate, cardinality, or rendered bounds moved
    beyond thresholds.  The lost category must surface as
    o_orderpriority's bounds_changed + distinct drift while the pure
    row-count shrink stays below the null/distinct thresholds
    elsewhere.  Zero scans beyond the two profiled snapshots.
    """
    from ..operators.profiling import profile_drift, profile_table

    orders = load_table(spark, sf_dir, "orders")
    cols = list(_PROFILE_COLS)
    return profile_drift(
        profile_table(orders, cols),
        profile_table(orders.filter(_DRIFT_B_PRED), cols),
        # ±15%, not the ±20% default: the demo's category loss is an
        # exactly-4/5 cardinality drop, which a strict > 20% test
        # would sit precisely ON rather than clear
        distinct_ratio_e6=150_000,
    )


@register(
    "events_hll_window_monitor",
    # Batch dual of streaming/stateful.windowed_distinct_users: per
    # (hour window × type) HLL estimate next to the exact count.  The
    # sketch estimate is engine-specific bytes, so the checkable
    # contract (as in events_sketch_reaggregate) is the exact counts
    # plus the ±5% bounds flag the oracle pins TRUE.
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_5pct
    FROM events
    GROUP BY win_start, event_type
    """,
)
def events_hll_window_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming HLL distinct-users monitor under the
    full oracle gate: the SAME operator body
    (``windowed_distinct_users`` — 1-hour event-time windows × type,
    ``hll_sketch_agg`` at lgk=12) run on the bounded table, its
    estimate checked against the exact distinct count.  One fact-keyed
    aggregate for the sketches + one for the exact counts, joined on
    the bounded (windows × types) frame — the ±5% flag must be TRUE
    everywhere (HLL is exact at these per-cell cardinalities).
    """
    from ..streaming import stateful

    e = load_table(spark, sf_dir, "events")
    mon = stateful.windowed_distinct_users(e).select(
        "win_start",
        "event_type",
        "n_events",
        F.round(F.col("approx_users")).cast("long").alias("approx_l"),
    )
    exact = (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .select(
            F.col("w.start").alias("win_start"), "event_type", "exact_users"
        )
    )
    return mon.join(exact, ["win_start", "event_type"]).select(
        "win_start",
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("approx_l") - F.col("exact_users")) * 20
            <= F.col("exact_users")
        ).alias("within_5pct"),
    )


@register(
    "events_cms_window_monitor",
    # Batch dual of streaming/stateful.windowed_cms_grid: per-hour CMS
    # grids rolled up by cell-wise sum, probed for the sampled keys
    # against exact counts.  The oracle replays the identical per-
    # window grid + rollup arithmetic; merged_equal (window-rollup
    # estimate == direct global-build estimate) is the cell-wise-sum
    # identity Σ_w count_w = count, pinned TRUE (the within_5pct
    # precedent of events_hll_window_monitor).
    oracle=f"""
    WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
    cells AS (
      SELECT date_trunc('hour', ts) AS win_start, seed,
             {_SQL_CMS_BUCKET} AS bucket
      FROM events, seeds
    ), wgrid AS (
      SELECT win_start, seed, bucket, count(*) AS cnt
      FROM cells GROUP BY 1, 2, 3
    ), merged AS (
      SELECT seed, bucket, SUM(cnt) AS cnt FROM wgrid GROUP BY 1, 2
    ), keys AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0
    ), probes AS (
      SELECT user_id, seed, {_SQL_CMS_BUCKET} AS bucket FROM keys, seeds
    ), est AS (
      SELECT p.user_id, MIN(COALESCE(m.cnt, 0)) AS cms_est
      FROM probes p LEFT JOIN merged m
        ON m.seed = p.seed AND m.bucket = p.bucket
      GROUP BY 1
    ), exact AS (
      SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
    ), nw AS (SELECT count(DISTINCT win_start) AS n_windows FROM wgrid)
    SELECT e.user_id,
           CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(w.n_windows AS BIGINT) AS n_windows,
           e.cms_est >= x.exact_cnt AS est_is_upper_bound,
           TRUE AS merged_equal
    FROM est e
    JOIN exact x ON x.user_id = e.user_id
    CROSS JOIN nw w
    """,
)
def events_cms_window_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming CMS frequency monitor under the full
    oracle gate: the SAME operator body (``windowed_cms_grid`` — 1-hour
    event-time windows × the depth·width cell grid) on the bounded
    table, its per-window grids rolled up downstream by cell-wise sum
    (the closed-window merge a live deployment runs) and point-queried
    for the sampled users against exact counts.  merged_equal verifies
    the window-rollup estimate equals the direct single-pass build's —
    the mergeability contract AS DATA.

    Scale shape: grid build is one partial-aggregable count keyed on
    (window, seed, bucket); the rollup re-aggregates only the bounded
    windows × depth·width grid rows, never the facts; probing joins
    the key sample against the broadcast merged grid.
    """
    from ..operators import sketches
    from ..streaming import stateful

    ev = hold(
        load_table(spark, sf_dir, "events")
        .select("ts", "user_id")
        .persist()
    )
    ev.count()
    wgrid = stateful.windowed_cms_grid(ev)
    merged = (
        wgrid.groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    direct = sketches.cms_build(ev, "user_id")
    keys = (
        ev.select("user_id").filter(F.col("user_id") % 10 == 0).distinct()
    )
    est = sketches.cms_estimate(merged, keys, "user_id")
    est_d = sketches.cms_estimate(direct, keys, "user_id").withColumnRenamed(
        "cms_est", "cms_est_direct"
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    n_windows = wgrid.select("win_start").distinct().agg(
        F.count("*").alias("n_windows")
    )
    out = (
        est.join(est_d, "user_id")
        .join(exact, "user_id")
        .crossJoin(F.broadcast(n_windows))
        .select(
            "user_id",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            "cms_est",
            F.col("n_windows").cast("long").alias("n_windows"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias(
                "est_is_upper_bound"
            ),
            (F.col("cms_est") == F.col("cms_est_direct")).alias(
                "merged_equal"
            ),
        )
    )
    return out


_WATCH_MODULUS = 25     # watchlist sample: user_id % 25 == 0
_WATCH_PHI_PERMILLE = 50


@register(
    "events_cms_watchlist",
    # Mirrors the streaming watchlist monitor exactly: same md5 grid
    # per hourly window, same min-over-depth point query for every
    # watch key in every window, same phi-permille gate — plus the
    # exact per-(window, key) counts only a batch pass can produce,
    # verifying est_is_upper_bound and separating true heavies from
    # CMS-overestimate false positives (one-sided error as data).
    oracle=f"""
    WITH seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
    e AS (
      SELECT date_trunc('hour', ts) AS win_start, user_id FROM events
    ),
    watch AS (
      SELECT DISTINCT user_id FROM events
      WHERE user_id % {_WATCH_MODULUS} = 0
    ),
    cells AS (
      SELECT win_start, seed, {_SQL_CMS_BUCKET} AS bucket FROM e, seeds
    ),
    grid AS (
      SELECT win_start, seed, bucket, count(*) AS cnt
      FROM cells GROUP BY 1, 2, 3
    ),
    tot AS (SELECT win_start, count(*) AS n_total FROM e GROUP BY 1),
    probes AS (
      SELECT user_id, seed, {_SQL_CMS_BUCKET} AS bucket FROM watch, seeds
    ),
    est AS (
      SELECT t.win_start, p.user_id, t.n_total,
             MIN(COALESCE(g.cnt, 0)) AS cms_est
      FROM tot t CROSS JOIN probes p
      LEFT JOIN grid g ON g.win_start = t.win_start
                      AND g.seed = p.seed AND g.bucket = p.bucket
      GROUP BY 1, 2, 3
    ),
    exact AS (
      SELECT win_start, user_id, count(*) AS exact_cnt
      FROM e GROUP BY 1, 2
    )
    SELECT est.win_start, est.user_id,
           CAST(est.cms_est AS BIGINT) AS cms_est,
           CAST(est.n_total AS BIGINT) AS n_total,
           CAST(COALESCE(x.exact_cnt, 0) AS BIGINT) AS exact_cnt,
           est.cms_est >= COALESCE(x.exact_cnt, 0) AS est_is_upper_bound,
           COALESCE(x.exact_cnt, 0) * 1000
             >= {_WATCH_PHI_PERMILLE} * est.n_total AS is_true_heavy,
           est.cms_est * 1000
             >= {_WATCH_PHI_PERMILLE} * est.n_total AS is_heavy
    FROM est
    LEFT JOIN exact x ON x.win_start = est.win_start
                     AND x.user_id = est.user_id
    """,
)
def events_cms_watchlist(
    spark: SparkSession,
    sf_dir: str,
    *,
    phi_permille: int = _WATCH_PHI_PERMILLE,
    watch_modulus: int = _WATCH_MODULUS,
) -> DataFrame:
    """Batch form of the streaming CMS heavy-hitter WATCHLIST monitor
    under the full oracle gate: the SAME operator body
    (``windowed_cms_watchlist`` — per hourly window, every watch key
    point-queried against that window's depth·width grid and flagged
    at φ = 50‰ of window volume) on the bounded table, joined with the
    exact per-(window, key) counts to verify the one-sided estimate
    and separate true heavies from CMS false positives.

    Scale shape: the monitor's stateful aggregate is ONE partial-
    aggregable windowed count over depth·width+1 conditional cells
    (state volume- and cardinality-independent); the watch probe is a
    stateless broadcast join; only the batch-side exact verification
    touches per-key counts, and only for windows × watch keys.
    """
    from ..operators import sketches  # noqa: F401 (bucket idiom shared)
    from ..streaming import stateful

    ev = hold(
        load_table(spark, sf_dir, "events")
        .select("ts", "user_id")
        .persist()
    )
    ev.count()
    watch = (
        ev.select("user_id")
        .filter(F.col("user_id") % watch_modulus == 0)
        .distinct()
    )
    live = stateful.windowed_cms_watchlist(
        ev, watch, phi_permille=phi_permille
    )
    exact = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
        .select(F.col("w.start").alias("win_start"), "user_id", "exact_cnt")
    )
    x = F.coalesce(F.col("exact_cnt"), F.lit(0).cast("long"))
    out = live.join(exact, ["win_start", "user_id"], "left").select(
        "win_start",
        "user_id",
        "cms_est",
        "n_total",
        x.alias("exact_cnt"),
        (F.col("cms_est") >= x).alias("est_is_upper_bound"),
        (x * 1000 >= F.lit(phi_permille) * F.col("n_total")).alias(
            "is_true_heavy"
        ),
        "is_heavy",
    )
    return out


_HIST_LO_C = 0        # histogram domain in cents
_HIST_W_C = 2_000     # 20.00-unit buckets
_HIST_N = 30


@register(
    "events_value_histogram",
    # Equi-width histogram in pure integer arithmetic: bucket =
    # clamp((v - lo) div w, 0, n-1) on exact cents — no width_bucket
    # builtin needed, so both engines share the same closed form.
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    )
    SELECT event_type,
           CAST(least(greatest((v - {_HIST_LO_C}) // {_HIST_W_C}, 0),
                      {_HIST_N - 1}) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e GROUP BY event_type, bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (30 × 20.00-unit
    buckets, clamped tails) — the profiling primitive behind NDV/skew
    diagnostics, computed as ONE partial-aggregable groupBy on a
    closed-form integer bucket id (no second scan, no sort)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    bucket = F.least(
        F.greatest(
            F.expr(f"(v - {_HIST_LO_C}) div {_HIST_W_C}"), F.lit(0).cast("long")
        ),
        F.lit(_HIST_N - 1).cast("long"),
    )
    return e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )


@register(
    "lineitem_corr_components",
    # Pearson correlation WITHOUT floats: emit the exact integer moment
    # components (n, Σx, Σy, Σxy, Σx², Σy² as HUGEINT/decimal(38)) plus
    # the covariance numerator n·Σxy − Σx·Σy — the consumer derives
    # r = cov_num / sqrt(varx_num · vary_num) in one final division.
    # Cross-engine exact where the textbook double-accumulating corr()
    # is reassociation-sensitive.
    oracle="""
    WITH l AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(COUNT(*) * SUM(CAST(x AS HUGEINT) * y)
                - SUM(CAST(x AS HUGEINT)) * SUM(y) AS VARCHAR) AS cov_num,
           CAST(COUNT(*) * SUM(CAST(x AS HUGEINT) * x)
                - SUM(CAST(x AS HUGEINT)) * SUM(x) AS VARCHAR) AS varx_num,
           CAST(COUNT(*) * SUM(CAST(y AS HUGEINT) * y)
                - SUM(CAST(y AS HUGEINT)) * SUM(y) AS VARCHAR) AS vary_num
    FROM l
    """,
)
def lineitem_corr_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity↔price correlation as exact integer moment components
    (decimal(38,0) widened, rendered as strings so the >int64 values
    hash identically cross-engine): one partial-aggregable scan; the
    final Pearson r is a single consumer-side division, keeping the
    distributed part reassociation-proof."""
    dec = "decimal(38,0)"
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # widen BEFORE the multiply (mirroring the oracle's CAST(x AS
    # HUGEINT) * y): an int64 y·y product overflows past |y| ~ 3·10⁹,
    # which a cents-scaled money column can reach at warehouse scale.
    agg = l.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n, sx, sy = (F.col("n").cast(dec), F.col("sum_x").cast(dec), F.col("sum_y").cast(dec))
    return agg.select(
        "n",
        "sum_x",
        "sum_y",
        (n * F.col("sxy") - sx * sy).cast("string").alias("cov_num"),
        (n * F.col("sxx") - sx * sx).cast("string").alias("varx_num"),
        (n * F.col("syy") - sy * sy).cast("string").alias("vary_num"),
    )


@register(
    "orders_kll_quantile_merge",
    # Mergeable QUANTILE sketches (DataSketches KLL): per-status sketches
    # merge into a global median estimate without rescanning orders.
    # The estimate value is sketch/partition-order dependent, so the
    # checkable contract is its EXACT rank: rank(est)/n must sit within
    # ±5% of 0.5 (KLL k=200 guarantees ~±1.65% rank error at 99%
    # confidence — 5% gives headroom), verified by one exact
    # count-below pass.
    oracle="""
    SELECT (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
            FROM orders) AS n_status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS median_rank_within_5pct
    FROM orders
    """,
)
def orders_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level quantile rollup: per-status KLL sketches of exact
    cents merged (`kll_sketch_merge_bigint`) into one global median
    estimate — the pre-aggregated-cube pattern for percentile
    dashboards at 100 TB — validated by the exact rank of the estimate
    (one counting pass), not by trusting the sketch."""
    o = hold(load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).persist())
    per = o.groupBy("o_orderstatus").agg(
        F.expr("kll_sketch_agg_bigint(cents)").alias("sk")
    )
    # kll_sketch_merge_bigint is a PAIRWISE scalar — fold it over the
    # bounded per-status sketch list (|statuses| rows) with a HOF
    # aggregate; the fact table is never rescanned.
    merged = per.agg(
        F.count("*").alias("n_status"),
        F.collect_list("sk").alias("sks"),
    ).select(
        "n_status",
        F.expr(
            "kll_sketch_get_quantile_bigint("
            "aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
            " (acc, x) -> kll_sketch_merge_bigint(acc, x)), 0.5)"
        ).alias("est_p50"),
    )
    ranked = o.crossJoin(F.broadcast(merged)).agg(
        F.first("n_status").alias("n_status"),
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("cents") <= F.col("est_p50"), 1).otherwise(0)
        ).alias("n_below"),
    )
    out = ranked.select(
        "n_status",
        "n_rows",
        (
            F.abs(
                F.col("n_below").cast("double") / F.col("n_rows") - 0.5
            )
            <= 0.05
        ).alias("median_rank_within_5pct"),
    )
    return out


@register(
    "events_type_transitions",
    # First-order behavioral transition matrix: per user, consecutive
    # event-type pairs under the total order (ts, event_id), counted
    # corpus-wide — the sequence-mining primitive behind session-flow
    # and next-action models.  lag() under a total order is
    # deterministic, counts are exact ints.
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): how
    often each event type follows each other within a user's timeline.

    Scale shape: one user-keyed exchange for the lag window, then a
    partial-aggregable rollup on the 25-cell (type × type) key — the
    output is metadata-sized at any corpus volume.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
    ).withColumn("prev_type", F.lag("event_type").over(w))
    return (
        s.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "documents_lang_source_assoc",
    # Chi-square contingency WITHOUT floats: per cell, the deviation
    # (o·n − r·c)² and its scaled contribution ((o·n − r·c)²·1e6) div
    # (r·c·n) are exact HUGEINT/decimal(38) integers — the χ² statistic
    # is their sum in 1e-6 units, bit-identical cross-engine where the
    # textbook double expected-count form is not.
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS o
      FROM documents GROUP BY lang, source
    ), rows_ AS (
      SELECT lang, CAST(SUM(o) AS HUGEINT) AS r FROM cells GROUP BY lang
    ), cols_ AS (
      SELECT source, CAST(SUM(o) AS HUGEINT) AS c FROM cells GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cells
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM((o * n - r * c) * (o * n - r * c) * 1000000
                    // (r * c * n)) AS BIGINT) AS chi2_e6_scaled,
           CAST(0 AS BIGINT) AS overflow_cells
    FROM cells JOIN rows_ USING (lang) JOIN cols_ USING (source)
    CROSS JOIN tot
    """,
)
def documents_lang_source_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × source association: the χ² independence statistic over
    the contingency table, computed entirely in integer arithmetic
    (each cell's ((o·n − r·c)²·10⁶) div (r·c·n) summed — ÷n² of the
    textbook χ²·10⁶, a fixed known scale) — the mixture-drift check a
    corpus dashboard runs.

    Scale shape: ONE fact-sized groupBy to the |langs|·|sources| cell
    table; margins and the total derive from the bounded cells frame
    (broadcast joins); every operand is decimal(38,0)-widened before
    multiplication.

    Validity bound (mirrors the z-gate note on events_anomaly_outliers):
    the deviation |o·n − r·c| ≤ n², so the squared-and-scaled numerator
    dev²·10⁶ stays inside decimal(38,0) while n⁴·10⁶ < 10³⁸, i.e. up to
    n = 10⁸ documents — exact there, guaranteed.  Beyond the bound the
    overflow is LOUD, not silent: under ANSI it throws; under non-ANSI
    Spark each overflowed product is NULL, and those are counted into
    ``overflow_cells`` (the oracle pins it to 0, and DuckDB HUGEINT
    would error outright), so a dropped cell contribution can never
    masquerade as a valid χ².  Past 10⁸ docs, pre-aggregate cells per
    shard (the cell table is bounded) or drop the 10⁶ scale for a 10⁹·⁵
    ceiling.
    """
    dec = "decimal(38,0)"
    cells = hold(
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("o"))
        .persist()
    )
    rows_ = cells.groupBy("lang").agg(F.sum("o").alias("r"))
    cols_ = cells.groupBy("source").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    j = (
        cells.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
    )
    o, r, c, n = (
        F.col("o").cast(dec),
        F.col("r").cast(dec),
        F.col("c").cast(dec),
        F.col("n").cast(dec),
    )
    contrib = F.expr(
        "((o_d * n_d - r_d * c_d) * (o_d * n_d - r_d * c_d) * 1000000)"
        " div (r_d * c_d * n_d)"
    )
    out = (
        j.select(
            o.alias("o_d"), r.alias("r_d"), c.alias("c_d"), n.alias("n_d")
        )
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(contrib).cast("long").alias("chi2_e6_scaled"),
            # Inputs are non-null counts ≥ 1, so a NULL contribution can
            # only mean non-ANSI decimal overflow — surface it.  On an
            # EMPTY cell table the sum itself is NULL; coalesce to 0 so
            # "no cells" reads as "no overflow" (the oracle pins the
            # column to a constant 0, which SUM-over-zero-rows is not).
            F.coalesce(
                F.sum(
                    F.when(contrib.isNull(), F.lit(1)).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("overflow_cells"),
        )
    )
    return out


@register(
    "orders_monthly_momentum",
    # Month-over-month revenue trend in exact cents: monthly sums are
    # partial-aggregable int64, the lag delta is integer subtraction,
    # and the relative change is (delta·10⁶) div prev — exact both
    # engines (div truncation matches on negatives too, verified).  The
    # month key renders the normalized instant's UTC wall clock, so the
    # grouping is session-timezone-independent.
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY month
    )
    SELECT month, rev_cents, n_orders, delta_cents,
           CAST(delta_cents * 1000000 // prev AS BIGINT) AS mom_e6
    FROM (
      SELECT *, lag(rev_cents) OVER (ORDER BY month) AS prev,
             rev_cents - lag(rev_cents) OVER (ORDER BY month) AS delta_cents
      FROM m
    ) WHERE prev IS NOT NULL
    """,
)
def orders_monthly_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue momentum: monthly exact-cent totals with
    the lag delta and relative change in 1e-6 integer units — the trend
    dashboard primitive.

    Scale shape: one partial-aggregable fact rollup to the BOUNDED
    monthly table; the global-order lag window runs on that bounded
    frame only (months, not orders), so the single-partition window is
    metadata-sized at any corpus volume.  The month key is rendered
    dtype-aware (NTZ formats its wall clock directly; a true instant
    goes through the UTC render), so it is session-tz independent for
    both arrival types.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    # TZ hygiene (mirrors events_asof_last_order): o_orderdate arrives
    # TIMESTAMP_NTZ from parquet (isAdjustedToUTC=false), and date_format
    # over an NTZ renders the wall clock directly — tz-free.  Routing an
    # NTZ through convert_timezone(current_timezone(), 'UTC', ...) would
    # instead SHIFT midnight-on-the-1st into the previous month under any
    # east-of-UTC session zone.  Only a true instant needs the UTC render.
    dt = dict(o.dtypes).get("o_orderdate")
    if dt not in ("timestamp", "timestamp_ntz", "date"):
        # Schema drift must surface as an explicit error, not a silent
        # (possibly tz-dependent) fall-through into the direct render.
        raise TypeError(
            f"orders_monthly_momentum: o_orderdate has unexpected dtype "
            f"{dt!r}; expected timestamp, timestamp_ntz, or date"
        )
    if dt == "timestamp":
        month_src = F.expr(
            "convert_timezone(current_timezone(), 'UTC',"
            " CAST(o_orderdate AS TIMESTAMP_NTZ))"
        )
    else:
        month_src = F.col("o_orderdate")
    month = F.date_format(month_src, "yyyy-MM")
    m = o.groupBy(month.alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_cents"
        ),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("month")
    with_prev = m.select(
        "month",
        "rev_cents",
        "n_orders",
        F.lag("rev_cents").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    delta = F.col("rev_cents") - F.col("prev")
    return with_prev.select(
        "month",
        "rev_cents",
        "n_orders",
        delta.alias("delta_cents"),
        F.expr("cast((rev_cents - prev) * 1000000L div prev as bigint)").alias(
            "mom_e6"
        ),
    )


# --------------------------------------------------------------------------
# Community detection + reachability (operators/graph.py LPA / BFS)
# --------------------------------------------------------------------------

# LPA demo graph: the strongest-partner trade BACKBONE — each supplier
# nation keeps only its single highest-volume customer-nation partner
# (the k-NN-graph sparsification, k=1; deterministic ties by partner id).
# The raw co-trade graph is near-complete on uniform TPC-H data, so
# every community algorithm trivially returns one block; the backbone
# retains only the strongest tie per nation and has real structure
# (sf0.01: 25 nodes / 25 edges -> 6 communities).
_LPA_ITERS = 4
_LPA_BACKBONE_SQL = """SELECT DISTINCT least(n1, n2) AS u,
                              greatest(n1, n2) AS v FROM (
      SELECT n1, n2 FROM (
        SELECT n1, n2, row_number() OVER (PARTITION BY n1
                                          ORDER BY cnt DESC, n2 ASC) AS rk
        FROM (
          SELECT s.s_nationkey AS n1, c.c_nationkey AS n2,
                 count(*) AS cnt
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          WHERE s.s_nationkey <> c.c_nationkey
          GROUP BY 1, 2)
      ) WHERE rk <= 1)"""


def _sql_lpa(iters: int) -> str:
    """Unrolled synchronous-LPA oracle: one MATERIALIZED CTE per round
    (same inlining rule as :func:`_sql_pagerank`), replaying
    operators/graph.py label_propagation bit-for-bit — identical
    neighbor+self vote multiset, identical (votes DESC, lbl ASC)
    winner per node."""
    rounds = []
    prev = "l0"
    for t in range(1, iters + 1):
        rounds.append(f"""l{t} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY votes DESC, lbl ASC) AS rn
        FROM (
          SELECT node, lbl, COUNT(*) AS votes FROM (
            SELECT s.a AS node, p.lbl
            FROM sym s JOIN {prev} p ON p.node = s.b
            UNION ALL
            SELECT node, lbl FROM {prev}
          ) GROUP BY node, lbl
        )
      ) WHERE rn = 1
    )""")
        prev = f"l{t}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH und AS MATERIALIZED ({_LPA_BACKBONE_SQL}),
    sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym),
    {chain}
    SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community
    FROM {prev}
    """


def _strongest_partner_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each supplier nation's single highest-volume customer-nation tie
    (top-1 window, (cnt DESC, n2 ASC) total order) — the DIRECTED
    strongest-partner picks (n1, n2, cnt) shared by the unweighted LPA
    backbone and the weighted refine backbone."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    pair_cnt = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("n1"),
            F.col("c_nationkey").alias("n2"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    top_w = Window.partitionBy("n1").orderBy(F.desc("cnt"), F.asc("n2"))
    return pair_cnt.withColumn(
        "rk", F.row_number().over(top_w)
    ).filter(F.col("rk") <= 1)


def _lpa_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest-partner nation backbone: each supplier nation keeps
    its single highest-volume customer-nation tie, canonicalized
    undirected — the shared input of graph_label_propagation and
    graph_modularity (mirrors ``_LPA_BACKBONE_SQL`` line for line)."""
    return (
        _strongest_partner_ties(spark, sf_dir)
        .select(
            F.least("n1", "n2").cast("long").alias("src"),
            F.greatest("n1", "n2").cast("long").alias("dst"),
        )
        .distinct()
    )


def _weighted_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEIGHTED strongest-partner nation backbone: the same top-1
    ties as :func:`_lpa_backbone` but carrying their trade volume —
    canonicalized undirected with the two directed picks of a mutual
    pair SUMMED into one weight (A picks B with cnt x and B picks A
    with cnt y ⇒ one u<v row of weight x+y).  Canonical weighted form
    by construction (u < v, one row per pair, no self-loops — the
    s_nationkey <> c_nationkey filter), so it feeds the weight_col
    operators directly; weights are long counts, honoring the
    integral-weight contract."""
    return (
        _strongest_partner_ties(spark, sf_dir)
        .groupBy(
            F.least("n1", "n2").cast("long").alias("src"),
            F.greatest("n1", "n2").cast("long").alias("dst"),
        )
        .agg(F.sum("cnt").cast("long").alias("weight"))
    )


@register("graph_label_propagation", oracle=_sql_lpa(_LPA_ITERS))
def graph_label_propagation(
    spark: SparkSession, sf_dir: str, *, iters: int = _LPA_ITERS
) -> DataFrame:
    """Trading-bloc communities of the strongest-partner backbone graph
    (operators/graph.py label_propagation): each supplier nation keeps
    its single highest-volume customer-nation tie, and synchronous LPA
    (4 rounds, self-vote, exact-integer tie-breaks) elects one label
    per densely-linked bloc — 6 blocs at sf0.01.

    Scale shape: the backbone build is a partial-aggregable pair count
    plus a per-nation top-1 window (partitioned by nation, never
    global); each LPA round is one node-keyed join + vote count +
    degree-bounded per-node rank.  Oracle: the identical rounds
    unrolled (:func:`_sql_lpa`).
    """
    from ..operators import graph

    return graph.label_propagation(
        _lpa_backbone(spark, sf_dir), iters=iters
    )


_BFS_MAX_SEED = 3  # seed customers: c_custkey <= 3 (4 seeds; keys start at 0)
_BFS_ORACLE_DEPTH = 12  # recursion cap; purchase-graph diameter is ~3


@register(
    "graph_bfs_hops",
    # The identical expansion as a recursive CTE: UNION-dedup on
    # (node, depth) bounds the walk at n x depth rows, MIN(depth) per
    # node is the BFS distance.  The depth cap only needs to exceed
    # the graph diameter (~3 on this near-complete bipartite graph);
    # Spark runs the uncapped loop to frontier exhaustion.
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), e AS MATERIALIZED (
      SELECT a AS s, b AS t FROM pairs UNION ALL SELECT b, a FROM pairs
    ), walk(node, d) AS (
      SELECT c_custkey * 2, 0 FROM customer WHERE c_custkey <= {_BFS_MAX_SEED}
      UNION
      SELECT e.t, w.d + 1 FROM walk w JOIN e ON e.s = w.node
      WHERE w.d < {_BFS_ORACLE_DEPTH}
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS entity_id,
           CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY 1, 2
    """,
)
def graph_bfs_hops(
    spark: SparkSession, sf_dir: str, *, max_seed: int = _BFS_MAX_SEED
) -> DataFrame:
    """Hop distance from the seed customers (c_custkey <= 3) to every
    reachable entity of the customer<->supplier purchase graph
    (operators/graph.py bfs_distances) — the "within N hops of a
    trusted seed" proximity filter, on the same 2n/2n+1 node
    namespacing as trade_graph_pagerank.

    Scale shape: per round ONE node-keyed frontier-adjacency join plus
    one anti-join against the visited set; rounds = diameter (3 here).
    Oracle: recursive CTE, MIN(depth) per node.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= max_seed)
        .select((F.col("c_custkey") * 2).cast("long").alias("node"))
    )
    # bfs_distances is nested in this query's scope, so its checkpoint
    # lives as long as the returned frame, not the dropped inner one.
    dist = graph.bfs_distances(edges, seeds)
    out = dist.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("entity_id"),
        "dist",
    )
    return out


# Weighted shortest paths over the top-2 trade backbone: Bellman-Ford
# needs ≤ n−1 relaxation rounds on the 25-nation graph, so the oracle
# unrolls 24 min-plus rounds (post-fixpoint rounds are no-ops) and the
# Spark operator gets one extra round to OBSERVE the empty frontier.
_SSP_ROUNDS = 24
# k-NN backbone (k=2) with inverse-volume cost: each supplier nation
# keeps its two highest-volume customer-nation partners, and a weaker
# tie costs more to traverse (w = 1 + 1e6 div cnt) — the trust-decay
# edge model.  Deterministic ties by partner id.
_SSP_BACKBONE_SQL = """SELECT n1, n2, 1 + 1000000 // cnt AS w FROM (
      SELECT n1, n2, cnt, row_number() OVER (PARTITION BY n1
                                             ORDER BY cnt DESC, n2 ASC) AS rk
      FROM (
        SELECT s.s_nationkey AS n1, c.c_nationkey AS n2,
               count(*) AS cnt
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2)
    ) WHERE rk <= 2"""


def _sql_shortest_paths(rounds: int) -> str:
    """Unrolled min-plus fixpoint oracle: one MATERIALIZED CTE per
    relaxation round (same inlining rule as :func:`_sql_lpa`),
    replaying operators/graph.py shortest_paths exactly — identical
    canonical adjacency (symmetrized, parallel edges to MIN weight)
    and identical d_{t+1}(v) = min(d_t(v), min_{u~v}(d_t(u)+w)).
    Full relaxation per round produces the same values as the Spark
    side's improved-only frontier relaxation, and rounds ≥ the
    Bellman-Ford bound makes the last CTE the fixpoint."""
    ctes = []
    prev = "d0"
    for t in range(1, rounds + 1):
        ctes.append(f"""d{t} AS MATERIALIZED (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT adj.b AS node, p.d + adj.w AS d
        FROM {prev} p JOIN adj ON adj.a = p.node
      ) GROUP BY node
    )""")
        prev = f"d{t}"
    chain = ",\n    ".join(ctes)
    return f"""
    WITH raw AS MATERIALIZED ({_SSP_BACKBONE_SQL}),
    adj AS MATERIALIZED (
      SELECT a, b, MIN(w) AS w FROM (
        SELECT n1 AS a, n2 AS b, w FROM raw
        UNION ALL
        SELECT n2 AS a, n1 AS b, w FROM raw
      ) WHERE a <> b GROUP BY a, b
    ),
    d0 AS (SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS d
           FROM nation WHERE n_nationkey = 0),
    {chain}
    SELECT CAST(node AS BIGINT) AS nationkey, CAST(d AS BIGINT) AS cost
    FROM {prev}
    """


@register("graph_shortest_paths", oracle=_sql_shortest_paths(_SSP_ROUNDS))
def graph_shortest_paths(
    spark: SparkSession, sf_dir: str, *, max_iter: int = _SSP_ROUNDS + 1
) -> DataFrame:
    """Cheapest trust path from the anchor nation (nationkey 0) to
    every reachable nation over the top-2 trade backbone
    (operators/graph.py shortest_paths): each supplier nation keeps
    its two highest-volume customer-nation ties, a weaker tie costs
    more (w = 1 + 1e6 div cnt), and Bellman-Ford frontier relaxation
    finds the minimum total cost — the trust-decay curation metric
    ("how far is this counterparty from the anchor, volume-weighted").

    Scale shape: the backbone build is a partial-aggregable pair count
    plus a per-nation top-2 window (partitioned by nation, never
    global); each relaxation round joins only last round's improved
    nodes against the adjacency (node-keyed) and min-combines
    map-side.  Oracle: the identical min-plus rounds unrolled
    (:func:`_sql_shortest_paths`).
    """
    from pyspark.sql import Window

    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    pair_cnt = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("n1"),
            F.col("c_nationkey").alias("n2"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    top_w = Window.partitionBy("n1").orderBy(F.desc("cnt"), F.asc("n2"))
    backbone = (
        pair_cnt.withColumn("rk", F.row_number().over(top_w))
        .filter(F.col("rk") <= 2)
        .select(
            F.col("n1").cast("long").alias("src"),
            F.col("n2").cast("long").alias("dst"),
            F.expr("1L + 1000000L div cnt").alias("w"),
        )
    )
    seeds = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") == 0)
        .select(F.col("n_nationkey").cast("long").alias("node"))
    )
    dist = graph.shortest_paths(
        backbone, seeds, max_iter=max_iter
    )
    out = dist.select(
        F.col("node").alias("nationkey"), F.col("dist").alias("cost")
    )
    return out


@register(
    "graph_scc",
    # CROSS-ALGORITHM verification (the coreness pattern): Spark runs
    # trim + forward-backward pivot peeling; the oracle computes the
    # same partition through an INDEPENDENT algorithm — a recursive-CTE
    # transitive closure, mutual reachability, min-id per node.  The
    # UNION-dedup closure is n² rows at worst (25 nations here).
    oracle=f"""
    WITH RECURSIVE ed AS MATERIALIZED (
      SELECT n1 AS a, n2 AS b FROM (
        SELECT n1, n2, row_number() OVER (PARTITION BY n1
                                          ORDER BY cnt DESC, n2 ASC) AS rk
        FROM (
          SELECT s.s_nationkey AS n1, c.c_nationkey AS n2, count(*) AS cnt
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          WHERE s.s_nationkey <> c.c_nationkey
          GROUP BY 1, 2)
      ) WHERE rk <= 2
    ), reach(a, b) AS (
      SELECT a, b FROM ed
      UNION
      SELECT r.a, e.b FROM reach r JOIN ed e ON e.a = r.b
    ), mutual AS (
      SELECT r1.a AS u, r1.b AS v
      FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    ), nodes AS (
      SELECT a AS node FROM ed UNION SELECT b FROM ed
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(m) AS BIGINT) AS scc
    FROM (
      SELECT node, node AS m FROM nodes
      UNION ALL
      SELECT u AS node, v AS m FROM mutual
    ) GROUP BY node
    """,
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED top-2 trade
    backbone (operators/graph.py strongly_connected_components):
    supplier nation → its two highest-volume customer nations, so an
    SCC is a circular-trade bloc — every member both supplies and is
    supplied by the bloc, directly or transitively (18 components at
    sf0.01: one 8-nation cycle core + 17 feeder singletons).  The
    directed membership answer the undirected CC engines cannot give.

    Scale shape: TRIM rounds are the k_core peel shape
    (partial-aggregable degree checks + node-keyed anti-joins) and
    retire every acyclic feeder; each PIVOT round runs two
    frontier-expansion reachability passes (bfs_distances) and retires
    one cycle core — rounds = #non-trivial SCCs, the right tool for
    graphs whose cycle cores are few and large.  Oracle: independent
    mutual-reachability closure (cross-algorithm, like coreness).
    """
    from pyspark.sql import Window

    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    pair_cnt = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("n1"),
            F.col("c_nationkey").alias("n2"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    top_w = Window.partitionBy("n1").orderBy(F.desc("cnt"), F.asc("n2"))
    backbone = (
        pair_cnt.withColumn("rk", F.row_number().over(top_w))
        .filter(F.col("rk") <= 2)
        .select(
            F.col("n1").cast("long").alias("src"),
            F.col("n2").cast("long").alias("dst"),
        )
    )
    out = graph.strongly_connected_components(backbone)
    return out


@register(
    "events_hll_overlap",
    # Sketch SET-OPERATION estimation: per-type visitor-day HLL
    # sketches answer pairwise |A∪B| (merged sketch) and |A∩B|
    # (inclusion-exclusion) WITHOUT any re-scan of the fact table —
    # the audience-overlap question every segmentation dashboard asks
    # of a 100 TB event log.  Sketch bytes are engine-specific, so the
    # checkable contract is exact counts computed alongside plus the
    # bounds flags (union within ±5% — the lgk=12 standard error is
    # ~1.6% — and intersection within ±10% of the UNION size:
    # inclusion-exclusion compounds two absolute errors that scale
    # with the union, not the intersection).
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type,
             user_id * 100000 + epoch_us(ts) // 86400000000 AS vd
      FROM events
    ), per AS (
      SELECT event_type, count(*) AS n FROM d GROUP BY event_type
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS exact_inter
      FROM d a JOIN d b ON a.vd = b.vd AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT pa.event_type AS type_a, pb.event_type AS type_b,
           CAST(pa.n AS BIGINT) AS exact_a,
           CAST(pb.n AS BIGINT) AS exact_b,
           CAST(COALESCE(i.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(pa.n + pb.n - COALESCE(i.exact_inter, 0) AS BIGINT)
             AS exact_union,
           CAST(COALESCE(i.exact_inter, 0) * 1000000
                // (pa.n + pb.n - COALESCE(i.exact_inter, 0)) AS BIGINT)
             AS jaccard_e6,
           TRUE AS union_within_5pct,
           TRUE AS inter_within_10pct
    FROM per pa
    JOIN per pb ON pa.event_type < pb.event_type
    LEFT JOIN inter i
      ON i.type_a = pa.event_type AND i.type_b = pb.event_type
    """,
)
def events_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap of event types over visitor-day keys
    (user_id × epoch-day), estimated from MERGEABLE per-type HLL
    sketches — |A∪B| from the two-sketch union, |A∩B| by
    inclusion-exclusion, exact Jaccard (integer e6) alongside.

    Scale shape: ONE dedup pass over the fact table builds the
    (type, visitor-day) frame; per-type sketches + exact counts are one
    partial-aggregable rollup to ≤ |types| rows, and every pairwise
    combination works on that BOUNDED frame (broadcast self-join).  The
    exact-intersection verification join is keyed on the visitor-day —
    at 100 TB one would drop it and keep only the sketch path; here it
    is the correctness gate.  No second scan, no window, no all-pairs
    over rows.
    """
    e = load_table(spark, sf_dir, "events")
    d = hold(
        e.select(
            "event_type",
            (
                F.col("user_id") * 100000
                + F.expr("unix_micros(ts) div 86400000000")
            ).alias("vd"),
        )
        .distinct()
        .persist()
    )
    per = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.hll_sketch_agg("vd").alias("sketch"),
    )
    pa = per.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("exact_a"),
        F.col("sketch").alias("sk_a"),
    )
    pb = per.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("exact_b"),
        F.col("sketch").alias("sk_b"),
    )
    est_pairs = (
        pa.join(F.broadcast(pb), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            ).alias("est_union"),
        )
    )
    inter = (
        d.select(F.col("event_type").alias("type_a"), "vd")
        .join(
            d.select(F.col("event_type").alias("type_b"), "vd"),
            "vd",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("exact_inter"))
    )
    j = est_pairs.join(inter, ["type_a", "type_b"], "left").withColumn(
        "exact_inter", F.coalesce("exact_inter", F.lit(0))
    )
    exact_union = F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    out = j.select(
        "type_a",
        "type_b",
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
        exact_union.cast("long").alias("exact_union"),
        F.expr(
            "cast(exact_inter * 1000000L div "
            "(exact_a + exact_b - exact_inter) as bigint)"
        ).alias("jaccard_e6"),
        (
            F.abs(F.col("est_union") - exact_union) <= 0.05 * exact_union
        ).alias("union_within_5pct"),
        (
            F.abs(est_inter - F.col("exact_inter")) <= 0.10 * exact_union
        ).alias("inter_within_10pct"),
    )
    return out


_BASKET_MINSUP = 50


@register(
    "orders_basket_affinity",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), tot AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM baskets),
    items AS (
      SELECT item, COUNT(*) AS n_item FROM baskets
      GROUP BY 1 HAVING COUNT(*) >= {_BASKET_MINSUP}
    ), pruned AS (
      SELECT b.basket, b.item FROM baskets b JOIN items i USING (item)
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
      FROM pruned a JOIN pruned b
        ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2 HAVING COUNT(*) >= {_BASKET_MINSUP}
    )
    SELECT p.item_a, p.item_b,
           ia.n_item AS n_a, ib.n_item AS n_b, p.n_both, t.n_baskets,
           p.n_both * 1000000 // ia.n_item AS conf_ab_e6,
           p.n_both * 1000000 // ib.n_item AS conf_ba_e6,
           CAST(p.n_both::HUGEINT * t.n_baskets * 1000000
                // (ia.n_item::HUGEINT * ib.n_item) AS BIGINT) AS lift_e6
    FROM pairs p
    JOIN items ia ON p.item_a = ia.item
    JOIN items ib ON p.item_b = ib.item
    CROSS JOIN tot t
    """,
)
def orders_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket brand affinity over order baskets — the 2-itemset
    Apriori association rules (operators/associations.basket_affinity):
    which part brands are bought together, with exact-integer support /
    directional confidence / lift.  The retail cross-sell and
    curation-mix primitive the χ² independence gate
    (documents_lang_source_assoc) and the sketch-accuracy eval
    (events_hll_overlap) do not provide: this query emits the RULES.

    Baskets = orders; items = part brands (the bounded rollup of the
    200k·SF part vocabulary).  min_support = 50 baskets prunes
    items BEFORE the pair self-join (the Apriori property) and pairs
    after it — at sf0.001 the prune genuinely bites (pair supports
    fall below it), at sf0.01 all 25 brands and their 300 pairs clear
    it, so the oracle checks the full rule table.

    Scale shape: the l_partkey→p_brand join is key-partitioned (no
    broadcast assumption on the SF-scaled part table); the basket
    incidence distinct and the pair count are partial-aggregable; the
    pair self-join fans out C(brands-per-order, 2) <= C(7, 2) rows per
    order (TPC-H orders hold <= 7 lines); the brand-count frame is
    vocabulary-bounded and broadcast.  Lift multiplies three counts in
    decimal(38,0) (DuckDB: HUGEINT) so production basket counts cannot
    silently wrap.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            F.col("l_orderkey").alias("basket"),
            F.col("p_brand").alias("item"),
        )
    )
    return associations.basket_affinity(
        baskets, min_support=_BASKET_MINSUP
    )


_SEQ_MINSUP = 10


@register(
    "events_seq_patterns",
    # Sequential pattern mining: contiguous event-type k-grams (k=2,3)
    # per user timeline under the total order (ts, event_id), support =
    # DISTINCT users containing the gram (the GSP support definition),
    # occurrences counted separately.  lead() under a total order is
    # deterministic; counts are exact ints.
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_type AS t0,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT CAST(2 AS INTEGER) AS k, user_id, t0 || '>' || t1 AS gram
      FROM s WHERE t1 IS NOT NULL
      UNION ALL
      SELECT CAST(3 AS INTEGER), user_id, t0 || '>' || t1 || '>' || t2
      FROM s WHERE t2 IS NOT NULL
    )
    SELECT k, gram,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_seqs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g GROUP BY k, gram
    HAVING COUNT(DISTINCT user_id) >= {_SEQ_MINSUP}
    """,
)
def events_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining over user event timelines
    (operators/associations.sequence_kgrams): contiguous event-type
    k-grams (k = 2, 3) with sequence-level support — how many users'
    ordered histories CONTAIN each flow, plus total occurrences.  The
    ordered complement of the transition matrix
    (events_type_transitions: corpus-wide first-order occurrence
    counts) and of the unordered basket rules
    (orders_basket_affinity): session-flow mining's support is
    per-sequence containment, the GSP/PrefixSpan definition restricted
    to contiguous patterns.

    min_support = 10 users: at sf0.001 (15 users) it genuinely prunes
    — most 3-grams fall below it — while at sf0.01 (150 users) the
    full 25+125-cell gram table clears it, so the oracle checks both a
    biting and a non-biting regime across the driver's SFs.

    Scale shape: ONE user-keyed exchange serves both k's (shared lead
    window); the rollup key is vocabulary-bounded (5² + 5³ cells); the
    distinct-user support count shuffles (k, gram, user) once —
    linear, never quadratic; skewed users cost only the window sort
    (L−k+1 rows out per user of length L, no fan-out).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return associations.sequence_kgrams(
        ev,
        ks=(2, 3),
        min_support=_SEQ_MINSUP,
        seq_col="user_id",
        item_col="event_type",
        order_cols=("ts", "event_id"),
    )


@register(
    "events_mad_outliers",
    # Robust outlier profile: lower-median + lower-MAD per event type
    # over cents-quantized values, flag = |v − med| > 5·MAD, all exact
    # int64 (the lower median is an ELEMENT at 1-indexed rank
    # (n+1)//2 of the (value, event_id) total order — never an average
    # of two, so both engines select the identical value).
    oracle="""
    WITH e AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), m AS (
      SELECT event_type, v AS med FROM (
        SELECT event_type, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY v, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM e
      ) WHERE rn = (n + 1) // 2
    ), d AS (
      SELECT e.event_type, e.event_id, m.med, abs(e.v - m.med) AS dev
      FROM e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, dev AS mad FROM (
        SELECT event_type, dev,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d
      ) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(d.med) AS BIGINT) AS med_c,
           CAST(MAX(md.mad) AS BIGINT) AS mad_c,
           CAST(SUM(CASE WHEN d.dev > 5 * md.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier profile per event type
    (operators/profiling.mad_outliers) — the robust dual of the
    z-score gate ``events_anomaly_outliers``: a wild value shifts a
    mean and inflates a stddev (masking itself) but cannot move a
    median, so heavy-tailed feeds keep their flags honest.  Values
    enter the exact-integer domain as cents (the established
    ``round(value·100)`` idiom); lower-median and lower-MAD are
    order-statistic ELEMENTS under the (value, event_id) total order,
    and the 5·MAD flag is an int64 comparison — the DuckDB oracle
    replays every statistic bit-for-bit.

    Scale shape: two event_type-keyed sorted windows (the price of
    EXACT order statistics; both share the exchange key) + two
    broadcast joins of the 5-row median/MAD frames + one
    partial-aggregable rollup.  At extreme group sizes pre-filter each
    selection to an approximate percentile band around the target rank
    (same selected element, bounded sort input).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    )
    out = profiling.mad_outliers(
        ev.filter(F.col("v_c").isNotNull()),
        value_col="v_c",
        group_col="event_type",
        id_col="event_id",
        k=5,
    )
    return out.select(
        "event_type",
        "n",
        F.col("med").alias("med_c"),
        F.col("mad").alias("mad_c"),
        "n_outliers",
    )


# --------------------------------------------------------------------------
# Round-13 operators: SRP hyperplane LSH eval + per-key weighted reservoir
# --------------------------------------------------------------------------

from ..operators import curation, dedup  # noqa: E402
from .registry import _SQL_COS, _SQL_EMB  # noqa: E402

# SRP parameters: 16 hyperplanes in 4 bands of 4 bits.  The weights are
# computed ONCE here (pure md5 function of (salt, h, j)) and embedded as
# literals in BOTH the Spark plan and the oracle text — the engines
# cannot disagree on the projection.
# 32 hyperplanes x 8 bands (4 sign bits per band): at the eval's
# 0.4-cosine threshold a pair agrees per bit with p ~ 1 - acos(0.4)/pi
# ~ 0.63, so recall is governed by band COUNT at fixed band width —
# measured on the testdata (exact, md5-derived hyperplanes):
#   16x4: 0.58 / 0.54 / 0.51 recall at sf0.001/0.01/0.1
#   32x8: 0.79 / 0.88 / 0.78           (candidates ~1.7x, same max
#                                        bucket size — width unchanged)
#   48x8 (6-bit bands): 0.55 / 0.48 / 0.42 — narrower buckets, recall
#                                        collapses at this threshold
# tests/test_properties.py pins the 0.75 floor at sf0.001 so a silent
# hyperplane/signature regression cannot pass.
_SRP_H, _SRP_BANDS = 32, 8
_SRP_R = _SRP_H // _SRP_BANDS
_SRP_DIM = 64  # constant across all generated testdata SFs (_EMB_DIM)
_SRP_WS = dedup.srp_weights(_SRP_H, _SRP_DIM)
_SQL_SRP_WS_ROWS = ", ".join(f"({h}, {w})" for h, w in enumerate(_SRP_WS))


@register(
    "dedup_srp_recall",
    # Index-quality eval for the signed-random-projection LSH path:
    # pair counts for the brute-force cosine truth, the SRP-banded
    # index (both verified at the same rounded-cosine threshold), and
    # their overlap — one exact-int row, the dedup_lsh_recall /
    # dedup_embedding_recall shape.  Sign bits are exact int64 dots of
    # round(v*1e6) vectors against the literal integer hyperplanes, so
    # signatures/bands/candidates replay bit-for-bit.
    oracle=f"""
    WITH e AS ({_SQL_EMB}),
    exact AS (
      SELECT vec_a, vec_b FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_SQL_COS.format(a="a.v", b="b.v")} AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
      ) WHERE cos_sim >= 0.4
    ),
    eqv AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
      FROM e
    ),
    ws AS (SELECT * FROM (VALUES {_SQL_SRP_WS_ROWS}) AS t(h, w)),
    dots AS (
      SELECT eqv.vec_id, ws.h,
             list_sum(list_transform(generate_series(1, {_SRP_DIM}),
                                     i -> eqv.vq[i] * ws.w[i])) AS dot
      FROM eqv CROSS JOIN ws
    ),
    bk AS (
      SELECT vec_id, h // {_SRP_R} AS band,
             SUM(CASE WHEN dot >= 0 THEN 1 << (h % {_SRP_R}) ELSE 0 END) AS bkey
      FROM dots GROUP BY vec_id, h // {_SRP_R}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    ),
    srp AS (
      SELECT vec_a, vec_b FROM (
        SELECT cand.vec_a, cand.vec_b,
               {_SQL_COS.format(a="ea.v", b="eb.v")} AS cos_sim
        FROM cand
        JOIN e ea ON cand.vec_a = ea.vec_id
        JOIN e eb ON cand.vec_b = eb.vec_id
      ) WHERE cos_sim >= 0.4
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM srp) AS n_srp,
           (SELECT COUNT(*) FROM exact x JOIN srp s
             ON x.vec_a = s.vec_a AND x.vec_b = s.vec_b) AS n_overlap
    """,
)
def dedup_srp_recall(
    spark: SparkSession,
    sf_dir: str,
    *,
    num_hyperplanes: int = _SRP_H,
    bands: int = _SRP_BANDS,
) -> DataFrame:
    """SRP-LSH index eval: pair counts for the brute-force cosine truth,
    the signed-random-projection banded index
    (operators/dedup.srp_lsh_pairs — data-INdependent hyperplane LSH,
    the untrained complement of the IVF index that
    dedup_embedding_recall evaluates), and their overlap — one
    exact-int row (recall = n_overlap / n_exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Persist both (tiny) pair sets: each feeds its own count AND the
    # overlap join (see dedup_lsh_recall for the measured rationale);
    # held, so a long session releases them with the returned frame.
    from .registry import _emb_exact_pairs

    # truth side through the shared fingerprint-cached exact pair set
    # (built once per corpus, shared with dedup_embedding_recall)
    exact = hold(_emb_exact_pairs(spark, sf_dir, threshold=0.4).persist())
    srp = hold(
        dedup.srp_lsh_pairs(
            emb, threshold=0.4,
            num_hyperplanes=num_hyperplanes, bands=bands,
        )
        .select("vec_a", "vec_b")
        .persist()
    )
    overlap = exact.join(srp, ["vec_a", "vec_b"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(srp.agg(F.count("*").alias("n_srp")))
        .crossJoin(overlap.agg(F.count("*").alias("n_overlap")))
    )


_RESERVOIR_K = 25


@register(
    "events_weighted_reservoir",
    # Per-key A-ES weighted reservoir with exact-integer priorities:
    # weight = 1 + min(7, floor(value/15)) draws per event, each draw
    # the 60-bit md5 int of 'event_id-i', priority = MIN draw (the
    # min-of-uniforms equivalence — ranking by the min of w i.i.d.
    # uniforms replays weighted sampling WITHOUT replacement exactly,
    # with zero -ln(u)/w floats), keep the k smallest per event type.
    oracle=f"""
    WITH w AS (
      SELECT event_type, event_id, value,
             CAST(1 + least(7, greatest(CAST(0 AS BIGINT),
                                        CAST(floor(value / 15) AS BIGINT)))
                  AS BIGINT) AS weight
      FROM events WHERE value IS NOT NULL
    ), p AS (
      SELECT event_type, event_id, value, weight,
             list_min(list_transform(generate_series(1, weight), i ->
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                        || '-' || CAST(i AS VARCHAR)),
                                    1, 15)) AS BIGINT))) AS priority
      FROM w
    )
    SELECT event_type, event_id, value, weight, priority FROM (
      SELECT *, row_number() OVER (
        PARTITION BY event_type ORDER BY priority, event_id) AS rk
      FROM p
    ) WHERE rk <= {_RESERVOIR_K}
    """,
)
def events_weighted_reservoir(
    spark: SparkSession, sf_dir: str, *, k: int = _RESERVOIR_K
) -> DataFrame:
    """Per-key weighted reservoir sample: k events per event type, drawn
    with EXACT A-ES (weighted-without-replacement) semantics on an
    integer weight from the event value
    (operators/curation.weighted_reservoir_per_key — min-of-uniforms
    priorities, all int64, bit-replayable).  The per-key complement of
    the per-stratum quality sampler ``curation_sample_weighted``
    (whose ``H div (w+1)`` priority is the O(1)-per-row approximation
    for unbounded weights; here the bounded 1..8 weight buys the exact
    distribution).

    Scale shape: priorities are one map-side projection (≤ 8 md5 calls
    per row, no shuffle); selection is ONE key-partitioned window rank.
    Reproducible across engines, runs, and partitionings — a 100 TB
    'sample hot events harder' step that is auditable by replay.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    weighted = ev.select(
        "event_type",
        "event_id",
        "value",
        (
            F.lit(1).cast("long")
            + F.least(
                F.lit(7).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(F.col("value") / 15).cast("long"),
                ),
            )
        ).alias("weight"),
    )
    return curation.weighted_reservoir_per_key(
        weighted,
        k,
        key_col="event_type",
        weight_col="weight",
        id_col="event_id",
    ).select("event_type", "event_id", "value", "weight", "priority")


_FOLLOWED_BY_MINSUP = 30


@register(
    "events_followed_by",
    # Gapped sequential pairs (PrefixSpan length-2 containment) over
    # DAILY SESSIONS: a (user, day) session supports (a, b) iff its
    # FIRST a precedes its LAST b under the (ts, event_id) total order
    # — the exact exists-i<j reduction (a == b covered: distinct ranks
    # make first < last iff two occurrences).  Day keys are epoch-day
    # integers (epoch_us // 86400e6 == Spark unix_micros div 86400e6 —
    # the retention-cohort idiom, timezone-FREE where a date cast is
    # session-timezone-dependent).  Counts exact int64, confidence
    # truncating-div e6.
    oracle=f"""
    WITH p AS (
      SELECT CAST(user_id AS VARCHAR) || '/'
               || CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS seq,
             event_type AS item,
             row_number() OVER (
               PARTITION BY user_id, epoch_us(ts) // 86400000000
               ORDER BY ts, event_id) AS pos
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        AND ts IS NOT NULL
    ), si AS (
      SELECT seq, item, MIN(pos) AS first_pos, MAX(pos) AS last_pos
      FROM p GROUP BY seq, item
    ), na AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS n_ante FROM si GROUP BY item
    ), pair AS (
      SELECT a.item AS antecedent, b.item AS consequent
      FROM si a JOIN si b
        ON a.seq = b.seq AND a.first_pos < b.last_pos
    )
    SELECT antecedent, consequent, na.n_ante,
           CAST(COUNT(*) AS BIGINT) AS n_both,
           CAST(COUNT(*) * 1000000 // na.n_ante AS BIGINT) AS conf_e6
    FROM pair JOIN na ON na.item = pair.antecedent
    GROUP BY antecedent, consequent, na.n_ante
    HAVING COUNT(*) >= {_FOLLOWED_BY_MINSUP}
    """,
)
def events_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapped 'eventually-followed-by' rules over daily user sessions
    (operators/associations.followed_by_pairs): PrefixSpan length-2
    containment support + directional confidence — ordered like
    events_seq_patterns but gap-tolerant ('sessions that view
    eventually buy', any number of events between), the third corner
    next to the unordered basket rules and the contiguous k-grams.
    Sequences are (user, day) daily sessions — the retention-cohort
    granularity — because a user's FULL multi-month timeline supports
    every pair trivially (measured: all 25 cells at n_seqs = |users|),
    while daily sessions spread support 22-42 of 397 sessions at
    sf0.001.

    min_support = 30 sessions: it bites at sf0.001 (prunes the
    sub-30-support pairs) and passes the full grid at sf0.01 (support
    299-366 of 4,006 sessions) — a biting and a non-biting regime
    across the driver's SFs, the events_seq_patterns calibration.

    Scale shape: one session-keyed rank window; the (session, item)
    first/last reduction collapses the fact table to ≤ |vocab| rows
    per session BEFORE the pair join, so per-session fan-out is
    |vocab|², never L² position pairs; the rollup key is
    vocabulary²-bounded and the antecedent-count frame broadcasts.
    """
    # NULL contract: concat_ws SKIPS null parts, so a NULL user_id or ts
    # would otherwise yield a truncated-but-non-null session key that
    # sneaks past followed_by_pairs' seq-null filter, while the oracle's
    # `||` nulls the whole key — filter both columns up front so the
    # sides agree on null-admitting input (testdata has no nulls; this
    # pins the contract, same as the r12 sequence_kgrams fix).
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.concat_ws(
                "/",
                F.col("user_id").cast("string"),
                F.expr("unix_micros(ts) div 86400000000").cast("string"),
            ).alias("session_id"),
            "event_type",
            "ts",
            "event_id",
        )
    )
    out = associations.followed_by_pairs(
        ev,
        min_support=_FOLLOWED_BY_MINSUP,
        seq_col="session_id",
        item_col="event_type",
        order_cols=("ts", "event_id"),
    )
    return out


_STRESS_MAX_SEED = 3   # seed customers: c_custkey <= 3 (keys start at 0)
_STRESS_ORACLE_DEPTH = 6  # layer-unroll cap; purchase-graph depth is ~4


def _sql_stress_ctes(depth: int, max_seed: int) -> str:
    """Layer-unrolled oracle for sampled-source stress centrality,
    mirroring operators/graph.stress_centrality EXACTLY: forward
    layers l1..lD carry shortest-path counts (sigma sums over the
    previous layer's predecessors, anti-joined against the visited
    set), backward layers hD..h0 carry the continuation counts
    h = sum over DAG successors of (h + 1), and the product-sum runs
    in HUGEINT with a final BIGINT cast (the decimal(38,0) twin).
    Layers past the graph's true depth are empty, so the fixed unroll
    only needs depth >= eccentricity (Spark runs to frontier
    exhaustion and RAISES past its own bound).  Every CTE is
    MATERIALIZED — the chain references each layer twice, and DuckDB
    inlines non-materialized CTEs per reference (measured 35 s -> 0.05
    s at sf0.001)."""
    ctes = [
        """pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )""",
        "e AS MATERIALIZED (SELECT a AS es, b AS et FROM pairs"
        " UNION ALL SELECT b, a FROM pairs)",
        f"l0 AS MATERIALIZED (SELECT c_custkey * 2 AS s,"
        f" c_custkey * 2 AS node, CAST(1 AS BIGINT) AS sigma"
        f" FROM customer WHERE c_custkey <= {max_seed})",
        "vis0 AS MATERIALIZED (SELECT s, node, sigma, 0 AS dist FROM l0)",
    ]
    for d in range(1, depth + 1):
        ctes.append(
            f"""l{d} AS MATERIALIZED (
      SELECT l.s, e.et AS node, CAST(SUM(l.sigma) AS BIGINT) AS sigma
      FROM l{d - 1} l JOIN e ON e.es = l.node
      ANTI JOIN vis{d - 1} v ON v.s = l.s AND v.node = e.et
      GROUP BY l.s, e.et)"""
        )
        ctes.append(
            f"vis{d} AS MATERIALIZED (SELECT * FROM vis{d - 1}"
            f" UNION ALL SELECT s, node, sigma, {d} AS dist FROM l{d})"
        )
    ctes.append(
        f"h{depth} AS MATERIALIZED (SELECT s, node,"
        f" CAST(0 AS BIGINT) AS h FROM l{depth})"
    )
    for d in range(depth - 1, -1, -1):
        ctes.append(
            f"""h{d} AS MATERIALIZED (
      SELECT l.s, l.node, CAST(COALESCE(SUM(h2.h + 1), 0) AS BIGINT) AS h
      FROM l{d} l
      LEFT JOIN e ON e.es = l.node
      LEFT JOIN h{d + 1} h2 ON h2.s = l.s AND h2.node = e.et
      GROUP BY l.s, l.node)"""
        )
    ctes.append(
        "hall AS MATERIALIZED ("
        + " UNION ALL ".join(f"SELECT * FROM h{d}" for d in range(depth + 1))
        + ")"
    )
    return ",\n    ".join(ctes)


@register(
    "graph_stress_centrality",
    oracle=f"""
    WITH {_sql_stress_ctes(_STRESS_ORACLE_DEPTH, _STRESS_MAX_SEED)}
    SELECT CASE WHEN v.node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(v.node // 2 AS BIGINT) AS entity_id,
           CAST(SUM(CAST(v.sigma AS HUGEINT) * ha.h) AS BIGINT) AS stress
    FROM vis{_STRESS_ORACLE_DEPTH} v
    JOIN hall ha ON ha.s = v.s AND ha.node = v.node
    WHERE v.node != v.s
    GROUP BY 1, 2
    """,
)
def graph_stress_centrality(
    spark: SparkSession, sf_dir: str, *, max_seed: int = _STRESS_MAX_SEED
) -> DataFrame:
    """Sampled-source STRESS centrality of the customer<->supplier
    purchase graph (operators/graph.stress_centrality): for every
    entity, the exact number of shortest paths from the seed customers
    (c_custkey <= 3 — the graph_bfs_hops seed set) that pass THROUGH
    it — the path-centrality measure the graph family lacked
    (Shimbel's integer-exact sibling of betweenness; source sampling
    is the standard Brandes-Pich scale treatment).

    Scale shape: forward = the bfs frontier machinery carrying sigma
    (one (s, node)-keyed join + partial-agg sum + anti-join per
    round); backward = a LAZY per-layer chain executed as stages of
    one job (round count is known after forward); rounds = graph
    eccentricity (4 here).  Oracle: the identical layers unrolled
    (:func:`_sql_stress_ctes`), HUGEINT product-sum.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
    )
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= max_seed)
        .select((F.col("c_custkey") * 2).cast("long").alias("node"))
    )
    # dedupe_edges=False: the edge list is already DISTINCT and the
    # 2n/2n+1 bipartite namespaces cannot produce cross-direction
    # duplicates under symmetrization, so the operator's safety
    # re-distinct (a full edge-list shuffle) is provably redundant here
    stress = graph.stress_centrality(
        edges, seeds, dedupe_edges=False
    )
    out = stress.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("entity_id"),
        "stress",
    )
    return out


_SUBSTR_K = 20          # gram width = minimal detectable run, tokens
_SUBSTR_MAX_OCC = 200   # corpus-wide occurrence cap per gram

# Shared CTE chain replaying operators/dedup.substring_run_pairs: every
# length-k token gram with its 0-based position, md5-keyed self-join
# into cross-doc position pairs (doc_a < doc_b, per-gram occurrence cap
# replayed identically), island detection on each (doc_a, doc_b, pa-pb)
# diagonal via pos - row_number, maximal run length =
# max(pa) - min(pa) + k.  All counts/positions exact int64.  Used by
# dedup_substring_runs (the miner) and dedup_substring_cuts (the
# actuator on top).  ASSUMES the operator default min_tokens == k
# (ADVICE r14): every island is >= one gram so match_tokens >= k holds
# by construction and no HAVING is needed; a registration passing
# min_tokens > k must add `HAVING match_tokens >= {min_tokens}` to the
# runs CTE or it silently diverges from its oracle.
def _sql_substr_gram_ctes(
    src: str, sfx: str = "", having: str | None = None
) -> str:
    """The gram stage of the substring oracles (mirrors
    ``operators/dedup._capped_substring_grams``) over any source
    relation ``src`` with (doc_id, text) columns — ``documents`` for
    the cross-document miner/actuator, the planted self-contaminated
    view for the intra-document miner.  ``sfx`` suffixes every CTE name
    so the composed Lee-et-al. pipeline oracle (which grams TWICE: the
    planted corpus, then the intra-cleaned corpus) can chain two
    instances inside one WITH without name collisions.  ``having``
    overrides the occurrence-filter HAVING clause (default: the batch
    miners' ``[2, cap]`` floor+cap); the incremental oracle passes the
    index build's cap-only form and a no-op form for the raw drop
    grams (whose floor/cap applies to COMBINED counts downstream)."""
    if having is None:
        having = f"COUNT(*) >= 2 AND COUNT(*) <= {_SUBSTR_MAX_OCC}"
    return f"""toks{sfx} AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM {src} WHERE text IS NOT NULL
    ), grams{sfx} AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos,
             md5(array_to_string(t[p + 1 : p + {_SUBSTR_K}], ' ')) AS g
      FROM toks{sfx}, unnest(range(0, greatest(0, len(t) - {_SUBSTR_K} + 1)))
           AS u(p)
    ), keep{sfx} AS (
      SELECT g FROM grams{sfx} GROUP BY g
      HAVING {having}
    ), g2{sfx} AS (
      SELECT grams{sfx}.* FROM grams{sfx} JOIN keep{sfx} USING (g)
    )"""


_SQL_SUBSTR_CTES = f"""{_sql_substr_gram_ctes("documents")}, pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM g2 a JOIN g2 b ON a.g = b.g AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT doc_a, doc_b, diag, pa, pb,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
      FROM pair
    ), runs AS (
      SELECT doc_a, doc_b, MIN(pa) AS a_start, MIN(pb) AS b_start,
             CAST(MAX(pa) - MIN(pa) + {_SUBSTR_K} AS BIGINT) AS match_tokens
      FROM isl GROUP BY doc_a, doc_b, diag, grp
    )"""


@register(
    "dedup_substring_runs",
    # Miner: see _SQL_SUBSTR_CTES (the islands ARE the maximal runs;
    # every island is >= one gram, so match_tokens >= k by
    # construction — the Spark side's min_tokens=k filter is the same
    # no-op).
    oracle=f"""
    WITH {_SQL_SUBSTR_CTES}
    SELECT doc_a, doc_b, a_start, b_start, match_tokens FROM runs
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document EXACT-substring runs over the documents
    corpus (operators/dedup.substring_run_pairs): every verbatim token
    overlap of >= 20 tokens between two documents, wherever it starts —
    the arbitrary-boundary duplicate class that chunk-aligned dedup
    (text_chunk_dups' fixed windows) and fixed-width span stats
    (text_shared_spans) structurally miss, and the distributed
    re-expression of suffix-array substring dedup (Lee et al. 2022).

    k = 20 tokens: the gram width IS the minimal detectable run; the
    testdata's near-dup pairs share 22-95-token verbatim spans, so the
    query emits one maximal run per contaminated pair (26 at sf0.001,
    24 at sf0.01) while unrelated docs share no 20-gram at all.

    Scale shape: gram emission is posexplode + one doc-keyed lead
    window (a single exchange, shared by every downstream consumer of
    the persisted gram frame); the occurrence cap
    (<= 200 corpus-wide, replayed by the oracle) bounds the self-join
    fan-out on boilerplate grams exactly as max_shingle_freq does for
    MinHash; island detection is ONE (doc_a, doc_b, diagonal)-keyed
    window over the matching gram pairs.  See SCALING.md.
    """
    from ..operators import dedup

    return dedup.substring_run_pairs(
        load_table(spark, sf_dir, "documents"),
        k=_SUBSTR_K,
        max_gram_occ=_SUBSTR_MAX_OCC,
    )


# Intra-document self-contamination model for dedup_substring_self_runs:
# the synthetic documents corpus plants CROSS-document verbatim spans
# (which dedup_substring_runs mines) but contains zero organic
# INTRA-document >= k-token repeats at any k >= 5 (measured r15) — so
# the registered query derives a deterministic self-contaminated view
# from the corpus itself: every 5th document with >= 40 raw tokens gets
# its own leading 40 tokens re-appended (a duplicated-paragraph model,
# same spirit as the generator's planted cross-doc spans).  Both
# engines replay the derivation exactly; the planted run is maximal at
# 40 tokens (the suffix ends the document, so no extension exists
# unless the document organically continues the repeat — the miner
# reports whatever is true).
_SUBSTR_SELF_MOD = 5     # plant every doc_id % 5 == 0 document
_SUBSTR_SELF_LEN = 40    # re-appended leading-token count (= 2k)

# the planted view, shared by dedup_substring_self_runs and
# dedup_substring_self_apply — one definition per engine so the two
# registered queries cannot drift apart
_SQL_SELF_PLANTED_CTE = f"""planted AS (
      SELECT doc_id,
             CASE WHEN text IS NOT NULL AND doc_id % {_SUBSTR_SELF_MOD} = 0
                       AND len(string_split_regex(trim(text), '\\s+'))
                           >= {_SUBSTR_SELF_LEN}
                  THEN text || ' ' || array_to_string(
                         string_split_regex(trim(text),
                                            '\\s+')[1:{_SUBSTR_SELF_LEN}],
                         ' ')
                  ELSE text END AS text
      FROM documents
    )"""

# self-pair join + diagonal islands over the shared gram stage — the
# intra-document dual of _SQL_SUBSTR_CTES' pair/isl/runs chain; the
# runs CTE aliases doc_id AS doc_b so _SQL_SUBSTR_CUTS_CTES (which cuts
# the pair's b side) composes unchanged for the self-apply emitter
_SQL_SELF_RUNS_CTES = f"""spair AS (
      SELECT a.doc_id AS doc_id, a.pos AS pa, b.pos AS pb,
             b.pos - a.pos AS diag
      FROM g2 a JOIN g2 b
        ON a.g = b.g AND a.doc_id = b.doc_id AND a.pos < b.pos
    ), sisl AS (
      SELECT doc_id, diag, pa, pb,
             pa - row_number() OVER (
               PARTITION BY doc_id, diag ORDER BY pa) AS grp
      FROM spair
    ), runs AS (
      SELECT doc_id AS doc_b, MIN(pa) AS a_start, MIN(pb) AS b_start,
             CAST(MAX(pa) - MIN(pa) + {_SUBSTR_K} AS BIGINT)
               AS match_tokens
      FROM sisl GROUP BY doc_id, diag, grp
    )"""


def _planted_self_view(docs: DataFrame) -> DataFrame:
    """Spark side of _SQL_SELF_PLANTED_CTE: every ``_SUBSTR_SELF_MOD``-th
    document with >= ``_SUBSTR_SELF_LEN`` raw tokens re-appends its own
    leading ``_SUBSTR_SELF_LEN`` tokens (the duplicated-paragraph
    model)."""
    rt = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull()
            & (F.col("doc_id") % _SUBSTR_SELF_MOD == 0)
            & (F.size(rt) >= _SUBSTR_SELF_LEN),
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(F.slice(rt, 1, _SUBSTR_SELF_LEN), " "),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


@register(
    "dedup_substring_self_runs",
    # Self-pair variant of _SQL_SUBSTR_CTES over the planted view: same
    # gram stage (shared CTE builder), pair join on (g, doc_id) with
    # pa < pb — the strict inequality excludes the trivial zero
    # diagonal and mirrored islands — islands per (doc_id, diag).
    oracle=f"""
    WITH {_SQL_SELF_PLANTED_CTE}, {_sql_substr_gram_ctes("planted")},
    {_SQL_SELF_RUNS_CTES}
    SELECT doc_b AS doc_id, a_start, b_start, match_tokens FROM runs
    """,
)
def dedup_substring_self_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal INTRA-document exact-substring runs
    (operators/dedup.substring_self_run_pairs) over a deterministic
    self-contaminated view of the documents corpus — the duplicated-
    paragraph class Lee et al.'s pipeline removes FIRST, which the
    cross-document miner's doc_a < doc_b guard structurally cannot see
    (VERDICT r14 next-round #1).

    The corpus has no organic intra-document >= 20-token repeats
    (measured at every k >= 5), so the query plants them from the data
    itself: every 5th document with >= 40 raw tokens re-appends its own
    leading 40 tokens (see _SUBSTR_SELF_MOD/_SUBSTR_SELF_LEN above) —
    ~65 planted docs at sf0.01, ~650 at sf0.1, each yielding exactly
    one maximal 40-token run at (a_start 0, b_start n_tokens), unless
    the document's own content extends it (the miner reports the
    truth, both engines replaying identically).

    Scale shape: the cross-document miner's, with a strictly FINER
    pair-join key ((g, doc_id) vs g) — fan-out is per-document occ²,
    never corpus occ².  See SCALING.md.
    """
    from ..operators import dedup

    planted = _planted_self_view(load_table(spark, sf_dir, "documents"))
    return dedup.substring_self_run_pairs(
        planted, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
    )


def _sql_modularity(iters: int) -> str:
    """Modularity oracle on top of the *identical* unrolled LPA chain
    (:func:`_sql_lpa`): score the round-``iters`` communities of the
    strongest-partner backbone with exact HUGEINT arithmetic —
    contrib_num = 4·m·in_c − d_c², q_e6 via sign-safe truncating
    division (DuckDB ``//`` on the non-negative |x| == Spark ``div``)."""
    rounds = []
    prev = "l0"
    for t in range(1, iters + 1):
        rounds.append(f"""l{t} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY votes DESC, lbl ASC) AS rn
        FROM (
          SELECT node, lbl, COUNT(*) AS votes FROM (
            SELECT s.a AS node, p.lbl
            FROM sym s JOIN {prev} p ON p.node = s.b
            UNION ALL
            SELECT node, lbl FROM {prev}
          ) GROUP BY node, lbl
        )
      ) WHERE rn = 1
    )""")
        prev = f"l{t}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH und AS MATERIALIZED ({_LPA_BACKBONE_SQL}),
    sym AS MATERIALIZED (
      SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym),
    {chain},
    comm AS (
      SELECT CAST(node AS BIGINT) AS n, CAST(lbl AS BIGINT) AS community
      FROM {prev}
    ),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM (
        SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
      ) GROUP BY n
    ),
    mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM und),
    dc AS (
      SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(dg) AS BIGINT) AS deg_sum
      FROM deg JOIN comm USING (n) GROUP BY community
    ),
    ic AS (
      SELECT cu.community AS community, CAST(COUNT(*) AS BIGINT) AS in_edges
      FROM und
      JOIN comm cu ON cu.n = und.u
      JOIN comm cv ON cv.n = und.v
      WHERE cu.community = cv.community
      GROUP BY 1
    ),
    per AS (
      SELECT dc.community, dc.n_nodes,
             CAST(COALESCE(ic.in_edges, 0) AS BIGINT) AS in_edges,
             dc.deg_sum,
             4 * mm.m * CAST(COALESCE(ic.in_edges, 0) AS HUGEINT)
               - CAST(dc.deg_sum AS HUGEINT) * CAST(dc.deg_sum AS HUGEINT)
               AS contrib,
             mm.m AS m
      FROM dc LEFT JOIN ic USING (community) CROSS JOIN mm
    ),
    tot AS (SELECT SUM(contrib) AS t, MAX(m) AS m2 FROM per)
    SELECT per.community, per.n_nodes, per.in_edges, per.deg_sum,
           CAST(per.contrib AS BIGINT) AS contrib_num,
           CAST(CASE WHEN tot.t >= 0
                     THEN (tot.t * 1000000) // (4 * tot.m2 * tot.m2)
                     ELSE -(((-tot.t) * 1000000) // (4 * tot.m2 * tot.m2))
                END AS BIGINT) AS q_e6
    FROM per CROSS JOIN tot
    """


_MERGE_SHARDS = 16  # degree-agnostic hash-seed community count


def _sql_merge() -> str:
    """Oracle for graph_modularity_merge: ONE mutual-best-partner
    community merge pass in exact HUGEINT over the customer↔supplier
    purchase graph seeded with the node-hash sharding (community =
    node % 16) — community-pair gains 2m·e_ab − d_a·d_b, best partner
    per community by (gain DESC, partner ASC), a pair merges iff the
    choice is mutual and the gain strictly positive, merged pairs
    adopt min(a, b)."""
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS u,
             CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    nodes AS (
      SELECT u AS n FROM und UNION ALL SELECT v FROM und
    ),
    comm AS (
      SELECT DISTINCT n, n % {_MERGE_SHARDS} AS c FROM nodes
    ),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS k FROM nodes GROUP BY n
    ),
    mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM und),
    dc AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM deg JOIN comm USING (n) GROUP BY c
    ),
    ce AS (
      SELECT least(cu.c, cv.c) AS ca, greatest(cu.c, cv.c) AS cb,
             CAST(COUNT(*) AS BIGINT) AS e
      FROM und
      JOIN comm cu ON cu.n = und.u
      JOIN comm cv ON cv.n = und.v
      WHERE cu.c <> cv.c
      GROUP BY 1, 2
    ),
    gains AS (
      SELECT ca, cb,
             2 * mm.m * CAST(e AS HUGEINT)
               - CAST(da.d AS HUGEINT) * CAST(db.d AS HUGEINT) AS g
      FROM ce
      JOIN dc da ON da.c = ce.ca
      JOIN dc db ON db.c = ce.cb
      CROSS JOIN mm
    ),
    symg AS (
      SELECT ca AS c, cb AS p, g FROM gains WHERE g > 0
      UNION ALL
      SELECT cb AS c, ca AS p, g FROM gains WHERE g > 0
    ),
    best AS (
      SELECT c, p FROM (
        SELECT c, p,
               row_number() OVER (PARTITION BY c
                                  ORDER BY g DESC, p ASC) AS rn
        FROM symg
      ) WHERE rn = 1
    ),
    mapping AS (
      SELECT x.c AS old_c, x.p AS new_c
      FROM best x JOIN best y ON x.c = y.p AND x.p = y.c
      WHERE x.c > x.p
    )
    SELECT CASE WHEN comm.n % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(comm.n // 2 AS BIGINT) AS entity_id,
           CAST(COALESCE(mapping.new_c, comm.c) AS BIGINT) AS community
    FROM comm LEFT JOIN mapping ON comm.c = mapping.old_c
    """


_REFINE_SEED_MOD = 3  # deliberately mixed super-node seed for the sweep


def _sql_refine_evidence(
    pre_ctes: str,
    sg_sql: str,
    seed_expr: str,
    node_name: str,
    guarded: bool = False,
) -> str:
    """Shared oracle builder for the weighted-sweep EVIDENCE queries
    (graph_refine_weighted on the contracted purchase super-graph,
    graph_refine_adopt on the weighted trade backbone): ONE weighted
    synchronous local-move sweep over the canonical weighted graph
    ``sg_sql`` (columns a, b, w; a <= b; self-loops allowed) from the
    deterministic ``seed_expr`` partition, plus the EXACT weighted
    modularity of BOTH partitions and the guard decision — the full
    evidence row set, so the driver hash verifies the sweep, the two
    scorings, and the adopt/reject verdict all at once.  Conventions
    mirror operators/graph exactly: m = total weight (self-loops
    once), degrees count self-loops TWICE, k_{i,c} excludes the node's
    own self-loop, T = 2m·k_ic − k_i·(d_c − k_i·[c = own]) in HUGEINT,
    argmax tie-break (T DESC, c ASC), move iff STRICTLY better;
    Q: in_c counts intra-community weight (self-loops once),
    contrib = 4m·in_c − d_c², q_e6 sign-safe truncating division.
    ``guarded=True`` adds the guarded_community column — the partition
    modularity_refine_guarded returns (swept iff strictly better,
    else the seed), replayed as the same CASE the operator decides."""
    guard_col = (
        """
           CAST(CASE WHEN q1.q > q0.q THEN swept.c ELSE seed.c END
                AS BIGINT) AS guarded_community,"""
        if guarded
        else ""
    )
    return f"""
    WITH {pre_ctes}
    sg AS MATERIALIZED ({sg_sql}),
    sn AS (SELECT a AS n FROM sg UNION SELECT b FROM sg),
    seed AS (SELECT n, {seed_expr} AS c FROM sn),
    mm AS (SELECT CAST(SUM(w) AS HUGEINT) AS m FROM sg),
    sym AS (
      SELECT a AS i, b AS j, w FROM sg
      UNION ALL
      SELECT b AS i, a AS j, w FROM sg
    ),
    deg AS (
      SELECT i AS n, CAST(SUM(w) AS BIGINT) AS k FROM sym GROUP BY i
    ),
    dc AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM deg JOIN seed USING (n) GROUP BY c
    ),
    kic AS (
      SELECT sym.i AS n, seed.c, CAST(SUM(sym.w) AS BIGINT) AS kc
      FROM sym JOIN seed ON seed.n = sym.j
      WHERE sym.i <> sym.j
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT n, c, MAX(kc) AS kc FROM (
        SELECT n, c, kc FROM kic
        UNION ALL
        SELECT n, c, CAST(0 AS BIGINT) AS kc FROM seed
      ) GROUP BY n, c
    ),
    scored AS (
      SELECT cand.n, cand.c, seed.c AS own,
             2 * mm.m * CAST(cand.kc AS HUGEINT)
               - CAST(COALESCE(deg.k, 0) AS HUGEINT)
                 * CAST(COALESCE(dc.d, 0)
                        - CASE WHEN cand.c = seed.c
                               THEN COALESCE(deg.k, 0)
                               ELSE 0 END AS HUGEINT) AS t
      FROM cand
      JOIN seed ON seed.n = cand.n
      LEFT JOIN deg ON deg.n = cand.n
      LEFT JOIN dc ON dc.c = cand.c
      CROSS JOIN mm
    ),
    pick AS (
      SELECT n, c, t FROM (
        SELECT n, c, t,
               row_number() OVER (PARTITION BY n
                                  ORDER BY t DESC, c ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    ownt AS (SELECT n, t AS t_own FROM scored WHERE c = own),
    swept AS (
      SELECT pick.n,
             CASE WHEN pick.t > ownt.t_own THEN pick.c
                  ELSE seed.c END AS c
      FROM pick JOIN ownt USING (n) JOIN seed USING (n)
    ),
    in0 AS (
      SELECT pa.c, CAST(SUM(sg.w) AS BIGINT) AS iw
      FROM sg JOIN seed pa ON pa.n = sg.a JOIN seed pb ON pb.n = sg.b
      WHERE pa.c = pb.c GROUP BY pa.c
    ),
    q0 AS (
      SELECT CAST(CASE WHEN t >= 0 THEN (t * 1000000) // (4 * m2 * m2)
                  ELSE -(((-t) * 1000000) // (4 * m2 * m2))
                  END AS BIGINT) AS q
      FROM (
        SELECT SUM(4 * mm.m * CAST(COALESCE(in0.iw, 0) AS HUGEINT)
                   - CAST(dc.d AS HUGEINT) * CAST(dc.d AS HUGEINT)) AS t,
               MAX(mm.m) AS m2
        FROM dc LEFT JOIN in0 USING (c) CROSS JOIN mm
      )
    ),
    dc1 AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM deg JOIN swept USING (n) GROUP BY c
    ),
    in1 AS (
      SELECT pa.c, CAST(SUM(sg.w) AS BIGINT) AS iw
      FROM sg JOIN swept pa ON pa.n = sg.a JOIN swept pb ON pb.n = sg.b
      WHERE pa.c = pb.c GROUP BY pa.c
    ),
    q1 AS (
      SELECT CAST(CASE WHEN t >= 0 THEN (t * 1000000) // (4 * m2 * m2)
                  ELSE -(((-t) * 1000000) // (4 * m2 * m2))
                  END AS BIGINT) AS q
      FROM (
        SELECT SUM(4 * mm.m * CAST(COALESCE(in1.iw, 0) AS HUGEINT)
                   - CAST(dc1.d AS HUGEINT) * CAST(dc1.d AS HUGEINT)) AS t,
               MAX(mm.m) AS m2
        FROM dc1 LEFT JOIN in1 USING (c) CROSS JOIN mm
      )
    )
    SELECT CAST(seed.n AS BIGINT) AS {node_name},
           CAST(seed.c AS BIGINT) AS seed_community,
           CAST(swept.c AS BIGINT) AS swept_community,{guard_col}
           q0.q AS q_seed_e6,
           q1.q AS q_swept_e6,
           (q1.q > q0.q) AS adopted
    FROM seed JOIN swept USING (n) CROSS JOIN q0 CROSS JOIN q1
    """


def _sql_merge_pass_ctes(p: str, sg: str) -> str:
    """One weighted mutual-best merge pass from SINGLETONS over the
    canonical weighted graph CTE ``sg`` (a, b, w; self-loops allowed)
    as a name-prefixed CTE block — the composable form of
    :func:`_sql_merge`'s pass for the refine-loop oracle: community
    pairs from singletons are exactly the non-self edges, so gains are
    2m·w_ab − d_a·d_b per edge in HUGEINT (modularity_merge_step's
    weighted contract: m = total weight with self-loops once, degrees
    count self-loops TWICE via the both-orientations union); best
    partner by (gain DESC, partner ASC), merge iff mutual and strictly
    positive, merged pairs adopt min.  Emits ``{p}n`` (nodes),
    ``{p}deg`` (weighted degrees) and ``{p}comm`` (n, c — the merged
    partition).  ``m`` comes from the surrounding query's global
    ``mm`` CTE: total weight is contraction-invariant, so one m serves
    every pass."""
    return f"""{p}n AS (SELECT a AS n FROM {sg} UNION SELECT b FROM {sg}),
    {p}sym AS (
      SELECT a AS i, b AS j, w FROM {sg}
      UNION ALL
      SELECT b AS i, a AS j, w FROM {sg}
    ),
    {p}deg AS (
      SELECT i AS n, CAST(SUM(w) AS BIGINT) AS k FROM {p}sym GROUP BY i
    ),
    {p}gain AS (
      SELECT a, b,
             2 * mm.m * CAST(w AS HUGEINT)
               - CAST(da.k AS HUGEINT) * CAST(db.k AS HUGEINT) AS g
      FROM {sg}
      JOIN {p}deg da ON da.n = {sg}.a
      JOIN {p}deg db ON db.n = {sg}.b
      CROSS JOIN mm
      WHERE a <> b
    ),
    {p}symg AS (
      SELECT a AS c, b AS p, g FROM {p}gain WHERE g > 0
      UNION ALL
      SELECT b AS c, a AS p, g FROM {p}gain WHERE g > 0
    ),
    {p}best AS (
      SELECT c, p FROM (
        SELECT c, p,
               row_number() OVER (PARTITION BY c
                                  ORDER BY g DESC, p ASC) AS rn
        FROM {p}symg
      ) WHERE rn = 1
    ),
    {p}map AS (
      SELECT x.c AS old_c, x.p AS new_c
      FROM {p}best x JOIN {p}best y ON x.c = y.p AND x.p = y.c
      WHERE x.c > x.p
    ),
    {p}comm AS MATERIALIZED (
      SELECT {p}n.n, CAST(COALESCE({p}map.new_c, {p}n.n) AS BIGINT) AS c
      FROM {p}n LEFT JOIN {p}map ON {p}n.n = {p}map.old_c
    )"""


def _sql_sweep_guard_ctes(p: str, sg: str, seed: str, deg: str) -> str:
    """The guarded weighted synchronous local-move sweep over ``sg``
    seeded with partition CTE ``seed`` (n, c) as a name-prefixed CTE
    block — :func:`_sql_refine_evidence`'s sweep/scoring chain in the
    composable form the refine-loop oracle chains twice.  Conventions
    are operators/graph's exactly (see the evidence builder's
    docstring): T = 2m·k_ic − k_i·(d_c − k_i·[c = own]) in HUGEINT,
    argmax (T DESC, c ASC), move iff STRICTLY better; Q contrib =
    4m·in_c − d_c², q_e6 sign-safe truncating division.  Emits
    ``{p}q0`` (Q of the seed), ``{p}q1`` (Q of the swept partition)
    and ``{p}guard`` (n, c — the partition
    modularity_refine_guarded returns: swept iff strictly better).
    ``deg`` is the degree CTE shared with the pass's merge block."""
    return f"""{p}ssym AS (
      SELECT a AS i, b AS j, w FROM {sg}
      UNION ALL
      SELECT b AS i, a AS j, w FROM {sg}
    ),
    {p}dc AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM {deg} JOIN {seed} USING (n) GROUP BY c
    ),
    {p}kic AS (
      SELECT {p}ssym.i AS n, {seed}.c,
             CAST(SUM({p}ssym.w) AS BIGINT) AS kc
      FROM {p}ssym JOIN {seed} ON {seed}.n = {p}ssym.j
      WHERE {p}ssym.i <> {p}ssym.j
      GROUP BY 1, 2
    ),
    {p}cand AS (
      SELECT n, c, MAX(kc) AS kc FROM (
        SELECT n, c, kc FROM {p}kic
        UNION ALL
        SELECT n, c, CAST(0 AS BIGINT) AS kc FROM {seed}
      ) GROUP BY n, c
    ),
    {p}scored AS (
      SELECT {p}cand.n, {p}cand.c, {seed}.c AS own,
             2 * mm.m * CAST({p}cand.kc AS HUGEINT)
               - CAST(COALESCE({deg}.k, 0) AS HUGEINT)
                 * CAST(COALESCE({p}dc.d, 0)
                        - CASE WHEN {p}cand.c = {seed}.c
                               THEN COALESCE({deg}.k, 0)
                               ELSE 0 END AS HUGEINT) AS t
      FROM {p}cand
      JOIN {seed} ON {seed}.n = {p}cand.n
      LEFT JOIN {deg} ON {deg}.n = {p}cand.n
      LEFT JOIN {p}dc ON {p}dc.c = {p}cand.c
      CROSS JOIN mm
    ),
    {p}pick AS (
      SELECT n, c, t FROM (
        SELECT n, c, t,
               row_number() OVER (PARTITION BY n
                                  ORDER BY t DESC, c ASC) AS rn
        FROM {p}scored
      ) WHERE rn = 1
    ),
    {p}ownt AS (SELECT n, t AS t_own FROM {p}scored WHERE c = own),
    {p}swept AS (
      SELECT {p}pick.n,
             CASE WHEN {p}pick.t > {p}ownt.t_own THEN {p}pick.c
                  ELSE {seed}.c END AS c
      FROM {p}pick JOIN {p}ownt USING (n) JOIN {seed} USING (n)
    ),
    {p}in0 AS (
      SELECT pa.c, CAST(SUM({sg}.w) AS BIGINT) AS iw
      FROM {sg}
      JOIN {seed} pa ON pa.n = {sg}.a
      JOIN {seed} pb ON pb.n = {sg}.b
      WHERE pa.c = pb.c GROUP BY pa.c
    ),
    {p}q0 AS (
      SELECT CAST(CASE WHEN t >= 0 THEN (t * 1000000) // (4 * m2 * m2)
                  ELSE -(((-t) * 1000000) // (4 * m2 * m2))
                  END AS BIGINT) AS q
      FROM (
        SELECT SUM(4 * mm.m * CAST(COALESCE({p}in0.iw, 0) AS HUGEINT)
                   - CAST({p}dc.d AS HUGEINT)
                     * CAST({p}dc.d AS HUGEINT)) AS t,
               MAX(mm.m) AS m2
        FROM {p}dc LEFT JOIN {p}in0 USING (c) CROSS JOIN mm
      )
    ),
    {p}dc1 AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM {deg} JOIN {p}swept USING (n) GROUP BY c
    ),
    {p}in1 AS (
      SELECT pa.c, CAST(SUM({sg}.w) AS BIGINT) AS iw
      FROM {sg}
      JOIN {p}swept pa ON pa.n = {sg}.a
      JOIN {p}swept pb ON pb.n = {sg}.b
      WHERE pa.c = pb.c GROUP BY pa.c
    ),
    {p}q1 AS (
      SELECT CAST(CASE WHEN t >= 0 THEN (t * 1000000) // (4 * m2 * m2)
                  ELSE -(((-t) * 1000000) // (4 * m2 * m2))
                  END AS BIGINT) AS q
      FROM (
        SELECT SUM(4 * mm.m * CAST(COALESCE({p}in1.iw, 0) AS HUGEINT)
                   - CAST({p}dc1.d AS HUGEINT)
                     * CAST({p}dc1.d AS HUGEINT)) AS t,
               MAX(mm.m) AS m2
        FROM {p}dc1 LEFT JOIN {p}in1 USING (c) CROSS JOIN mm
      )
    ),
    {p}guard AS MATERIALIZED (
      SELECT {seed}.n,
             CAST(CASE WHEN {p}q1.q > {p}q0.q THEN {p}swept.c
                       ELSE {seed}.c END AS BIGINT) AS c
      FROM {seed} JOIN {p}swept USING (n)
      CROSS JOIN {p}q0 CROSS JOIN {p}q1
    )"""


# the weighted strongest-partner trade backbone (columns a, b, w) —
# _weighted_backbone mirrored line for line, shared by the refine-loop
# oracle (refine_adopt/refine_pass embed the same text inline)
_SQL_TRADE_BACKBONE = """
      SELECT least(n1, n2) AS a, greatest(n1, n2) AS b,
             CAST(SUM(cnt) AS BIGINT) AS w
      FROM (
        SELECT n1, n2, cnt FROM (
          SELECT n1, n2, cnt,
                 row_number() OVER (PARTITION BY n1
                                    ORDER BY cnt DESC, n2 ASC) AS rk
          FROM (
            SELECT s.s_nationkey AS n1, c.c_nationkey AS n2,
                   count(*) AS cnt
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY 1, 2)
        ) WHERE rk <= 1)
      GROUP BY 1, 2
"""


def _sql_refine_loop() -> str:
    """Oracle for graph_refine_loop: the full TWO-PASS refined
    coarsening trace replayed independently — pass-1 weighted merge
    from singletons (:func:`_sql_merge_pass_ctes`), the guarded sweep
    on the merge output (:func:`_sql_sweep_guard_ctes`), the weighted
    CONTRACTION of the guard's partition (intra-community weight
    becomes self-loops — contract_graph's output contract), then the
    same merge + guarded-sweep pair on the super-graph, the composed
    final relabel, and the final partition RE-SCORED ON THE ORIGINAL
    GRAPH (q_final_e6 — equal to q_p2_guarded_e6 by the
    contraction-invariance lemma, which the driver hash therefore
    verifies cross-engine)."""
    return f"""
    WITH bb AS MATERIALIZED ({_SQL_TRADE_BACKBONE}),
    mm AS (SELECT CAST(SUM(w) AS HUGEINT) AS m FROM bb),
    {_sql_merge_pass_ctes("m1", "bb")},
    {_sql_sweep_guard_ctes("s1", "bb", "m1comm", "m1deg")},
    g2 AS MATERIALIZED (
      SELECT least(ga.c, gb.c) AS a, greatest(ga.c, gb.c) AS b,
             CAST(SUM(bb.w) AS BIGINT) AS w
      FROM bb
      JOIN s1guard ga ON ga.n = bb.a
      JOIN s1guard gb ON gb.n = bb.b
      GROUP BY 1, 2
    ),
    {_sql_merge_pass_ctes("m2", "g2")},
    {_sql_sweep_guard_ctes("s2", "g2", "m2comm", "m2deg")},
    fin AS MATERIALIZED (
      SELECT g1.n, s2g.c
      FROM s1guard g1 JOIN s2guard s2g ON s2g.n = g1.c
    ),
    findc AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM m1deg JOIN fin USING (n) GROUP BY c
    ),
    finin AS (
      SELECT pa.c, CAST(SUM(bb.w) AS BIGINT) AS iw
      FROM bb JOIN fin pa ON pa.n = bb.a JOIN fin pb ON pb.n = bb.b
      WHERE pa.c = pb.c GROUP BY pa.c
    ),
    finq AS (
      SELECT CAST(CASE WHEN t >= 0 THEN (t * 1000000) // (4 * m2 * m2)
                  ELSE -(((-t) * 1000000) // (4 * m2 * m2))
                  END AS BIGINT) AS q
      FROM (
        SELECT SUM(4 * mm.m * CAST(COALESCE(finin.iw, 0) AS HUGEINT)
                   - CAST(findc.d AS HUGEINT)
                     * CAST(findc.d AS HUGEINT)) AS t,
               MAX(mm.m) AS m2
        FROM findc LEFT JOIN finin USING (c) CROSS JOIN mm
      )
    )
    SELECT CAST(m1comm.n AS BIGINT) AS node,
           m1comm.c AS p1_merged_community,
           s1guard.c AS p1_guarded_community,
           fin.c AS final_community,
           s1q0.q AS q_p1_merged_e6,
           CAST(CASE WHEN s1q1.q > s1q0.q THEN s1q1.q ELSE s1q0.q END
                AS BIGINT) AS q_p1_guarded_e6,
           s2q0.q AS q_p2_merged_e6,
           CAST(CASE WHEN s2q1.q > s2q0.q THEN s2q1.q ELSE s2q0.q END
                AS BIGINT) AS q_p2_guarded_e6,
           finq.q AS q_final_e6,
           (s1q1.q > s1q0.q) AS p1_adopted,
           (s2q1.q > s2q0.q) AS p2_adopted
    FROM m1comm
    JOIN s1guard USING (n)
    JOIN fin USING (n)
    CROSS JOIN s1q0 CROSS JOIN s1q1 CROSS JOIN s2q0 CROSS JOIN s2q1
    CROSS JOIN finq
    """


def _sql_refine_weighted() -> str:
    """Oracle for graph_refine_weighted (see :func:`_sql_refine_evidence`
    for the sweep/scoring conventions): the shard-contracted purchase
    super-graph (16 super-nodes, weighted edges + self-loops) from the
    mixed ``n % 3`` seed."""
    return _sql_refine_evidence(
        f"""und AS MATERIALIZED (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS u,
             CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),""",
        f"""
      SELECT least(u % {_MERGE_SHARDS}, v % {_MERGE_SHARDS}) AS a,
             greatest(u % {_MERGE_SHARDS}, v % {_MERGE_SHARDS}) AS b,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM und GROUP BY 1, 2
    """,
        f"n % {_REFINE_SEED_MOD}",
        "shard",
    )


_COARSEN_PASSES = 3  # 16 hash shards halve per matching pass at best


def _coarsen_chain(passes: int) -> tuple[str, str]:
    """The unrolled merge-pass CTE chain shared by the coarsening
    oracles (:func:`_sql_coarsen`, :func:`_sql_coarsen_scored`):
    returns (chain_sql, final_assignment_cte_name).  Assumes the
    surrounding query defines und/nodes/comm0/deg/mm."""
    blocks = []
    prev = "comm0"
    for t in range(1, passes + 1):
        blocks.append(f"""dc{t} AS (
      SELECT c, CAST(SUM(k) AS BIGINT) AS d
      FROM deg JOIN {prev} USING (n) GROUP BY c
    ), ce{t} AS (
      SELECT least(cu.c, cv.c) AS ca, greatest(cu.c, cv.c) AS cb,
             CAST(COUNT(*) AS BIGINT) AS e
      FROM und
      JOIN {prev} cu ON cu.n = und.u
      JOIN {prev} cv ON cv.n = und.v
      WHERE cu.c <> cv.c
      GROUP BY 1, 2
    ), gains{t} AS (
      SELECT x.ca, x.cb,
             2 * mm.m * CAST(x.e AS HUGEINT)
               - CAST(da.d AS HUGEINT) * CAST(db.d AS HUGEINT) AS g
      FROM ce{t} x
      JOIN dc{t} da ON da.c = x.ca
      JOIN dc{t} db ON db.c = x.cb
      CROSS JOIN mm
    ), symg{t} AS (
      SELECT ca AS c, cb AS p, g FROM gains{t} WHERE g > 0
      UNION ALL
      SELECT cb AS c, ca AS p, g FROM gains{t} WHERE g > 0
    ), best{t} AS (
      SELECT c, p FROM (
        SELECT c, p,
               row_number() OVER (PARTITION BY c
                                  ORDER BY g DESC, p ASC) AS rn
        FROM symg{t}
      ) WHERE rn = 1
    ), map{t} AS (
      SELECT x.c AS old_c, x.p AS new_c
      FROM best{t} x JOIN best{t} y ON x.c = y.p AND x.p = y.c
      WHERE x.c > x.p
    ), comm{t} AS MATERIALIZED (
      SELECT {prev}.n, COALESCE(map{t}.new_c, {prev}.c) AS c
      FROM {prev} LEFT JOIN map{t} ON {prev}.c = map{t}.old_c
    )""")
        prev = f"comm{t}"
    return ",\n    ".join(blocks), prev


# the pass-invariant purchase-graph preamble shared by the coarsening
# oracles: und/nodes/comm0 (the 16-shard hash seed)/deg/mm
_SQL_COARSEN_PREAMBLE = f"""und AS MATERIALIZED (
      SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS u,
             CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    nodes AS (
      SELECT u AS n FROM und UNION ALL SELECT v FROM und
    ),
    comm0 AS MATERIALIZED (
      SELECT DISTINCT n, n % {_MERGE_SHARDS} AS c FROM nodes
    ),
    deg AS MATERIALIZED (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS k FROM nodes GROUP BY n
    ),
    mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM und)"""


def _sql_coarsen(passes: int) -> str:
    """Oracle for graph_louvain_coarsen: the :func:`_sql_merge` pass
    UNROLLED ``passes`` times (the _sql_lpa inlining rule — one
    MATERIALIZED assignment CTE per pass; und/deg/mm are pass-
    invariant and computed once).  Each pass replays the mutual-best
    positive-gain matching in exact HUGEINT; a fixpointed pass is a
    no-op and chains through unchanged."""
    chain, prev = _coarsen_chain(passes)
    return f"""
    WITH {_SQL_COARSEN_PREAMBLE},
    {chain}
    SELECT CASE WHEN n % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           CAST(n // 2 AS BIGINT) AS entity_id,
           CAST(c AS BIGINT) AS community
    FROM {prev}
    """


def _sql_coarsen_scored(passes: int) -> str:
    """Oracle for graph_louvain_scored: the identical unrolled
    coarsening chain, then the coarsened partition SCORED ON THE FULL
    GRAPH with the exact-HUGEINT modularity rollup (_sql_modularity's
    policy: contrib = 4·m·in_c − d_c², sign-safe truncating q_e6).
    The Spark side scores the partition on the weighted community
    SUPER-graph instead — the contraction-invariance lemma says the
    per-community numbers coincide exactly, so the driver's
    cross-engine hash match IS the lemma verified on real data."""
    chain, prev = _coarsen_chain(passes)
    return f"""
    WITH {_SQL_COARSEN_PREAMBLE},
    {chain},
    commF AS (SELECT n, CAST(c AS BIGINT) AS community FROM {prev}),
    dcS AS (
      SELECT community, CAST(SUM(k) AS BIGINT) AS deg_sum
      FROM deg JOIN commF USING (n) GROUP BY community
    ),
    icS AS (
      SELECT cu.community AS community, CAST(COUNT(*) AS BIGINT) AS in_edges
      FROM und
      JOIN commF cu ON cu.n = und.u
      JOIN commF cv ON cv.n = und.v
      WHERE cu.community = cv.community
      GROUP BY 1
    ),
    perS AS (
      SELECT dcS.community,
             CAST(COALESCE(icS.in_edges, 0) AS BIGINT) AS in_edges,
             dcS.deg_sum,
             4 * mm.m * CAST(COALESCE(icS.in_edges, 0) AS HUGEINT)
               - CAST(dcS.deg_sum AS HUGEINT)
                 * CAST(dcS.deg_sum AS HUGEINT) AS contrib,
             mm.m AS m
      FROM dcS LEFT JOIN icS USING (community) CROSS JOIN mm
    ),
    totS AS (SELECT SUM(contrib) AS t, MAX(m) AS m2 FROM perS)
    SELECT perS.community, perS.in_edges, perS.deg_sum,
           CAST(perS.contrib AS BIGINT) AS contrib_num,
           CAST(CASE WHEN totS.t >= 0
                     THEN (totS.t * 1000000) // (4 * totS.m2 * totS.m2)
                     ELSE -(((-totS.t) * 1000000)
                            // (4 * totS.m2 * totS.m2))
                END AS BIGINT) AS q_e6
    FROM perS CROSS JOIN totS
    """


def _coarsened_purchase_partition(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """The coarsened (node, community) partition of the purchase graph,
    shared by graph_louvain_coarsen and graph_louvain_scored, with the
    loop's RESULT served from the ingest-time build cache
    (operators/buildcache — VERDICT r16 next-round #2: the two
    registered queries each re-ran the identical coarsen loop, ~6 s of
    duplicated work per bench pass).

    What is cached is NOT the node-level partition (O(|V|) driver rows —
    would not survive 100 TB) but the COMPOSED RELABEL of the
    ``_MERGE_SHARDS`` hash-seed communities (<= 16 rows): merge passes
    relabel whole communities and never split them, so every node's
    final community is a pure function of its seed shard, and
    ``seed LEFT JOIN broadcast(mapping)`` (coalesce passes fixpointed
    shards through) reconstructs the partition exactly.  The key embeds
    the orders+lineitem table fingerprints plus every loop parameter;
    the loop is bit-deterministic (the contraction-invariance pins), so
    cached rows == rebuilding — the buildcache contract.  On a miss the
    full loop runs once and the tiny mapping is derived FROM its output
    (one <= 16-row distinct collect) and stored; every later caller —
    the sibling query in the same bench pass, a later job via the
    parquet tier — pays one broadcast join instead of the loop.
    """
    from ..operators import buildcache, graph

    seed = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node",
            (F.col("node") % _MERGE_SHARDS).alias("community"),
        )
    )
    # the algorithm-version token (ADVICE r17): the disk tier persists
    # across processes, so a future semantic change to louvain_coarsen
    # must bump _v1 or it would silently serve a mapping computed by
    # the OLD algorithm — the fingerprint only protects against data
    # changes, not code changes
    ckey = (
        "louvain_coarsen_map_v1",
        table_fingerprint(sf_dir, "orders"),
        table_fingerprint(sf_dir, "lineitem"),
        _MERGE_SHARDS,
        _COARSEN_PASSES,
    )
    hit = buildcache.lookup(ckey)
    if hit is not None:
        mapping = buildcache.rehydrate(
            spark, hit, "__from long, __to long"
        )
        return seed.join(
            F.broadcast(mapping),
            seed["community"] == F.col("__from"),
            "left",
        ).select(
            "node", F.coalesce("__to", "community").alias("community")
        )
    comm = hold(graph.louvain_coarsen(
        edges,
        seed,
        passes=_COARSEN_PASSES,
        assume_canonical=True,
    ).persist())
    rows = sorted(
        tuple(r)
        for r in comm.select(
            (F.col("node") % _MERGE_SHARDS).cast("long"),
            F.col("community").cast("long"),
        )
        .distinct()
        .collect()
    )
    # the relabel is a FUNCTION of the shard by construction (merge
    # passes relabel whole communities, never split them) — a
    # non-functional mapping here is NOT a benign cache miss but a
    # louvain_coarsen invariant violation, so fail LOUD instead of
    # silently skipping the store (ADVICE r17: the claimed cross-query
    # speedup would otherwise vanish with no signal)
    if len({f for f, _ in rows}) != len(rows):
        raise AssertionError(
            "louvain_coarsen invariant violation: the coarsened "
            f"community is not a function of the seed shard ({rows!r}) "
            "— a merge pass split a community, which the matching-merge "
            "construction forbids"
        )
    buildcache.store(ckey, rows)
    return comm


@register("graph_louvain_coarsen", oracle=_sql_coarsen(_COARSEN_PASSES))
def graph_louvain_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain coarsening with TRUE PHASE-2 CONTRACTION,
    driver-verified: contract the hash-sharded customer↔supplier
    purchase graph ONCE into its weighted community super-graph
    (operators/graph.contract_graph), then run three weighted
    mutual-best merge passes (modularity_merge_step with weight_col)
    on the geometrically shrinking super-graph, re-contracting between
    passes and composing the community relabelings back onto the
    node-level seed at the end.  By the contraction-invariance lemma
    (m, degrees, and inter-community weights are preserved, so every
    pass's gains equal the unit-weight pass's on the full graph —
    hypothesis-tested and pinned equal to the uncontracted loop on
    this data), the result is BIT-IDENTICAL to merging on the raw
    edge list every pass, which is exactly what the unrolled DuckDB
    oracle still replays.  Q is non-decreasing at every pass (the
    graph_modularity_merge theorem, applied repeatedly) and the
    community count non-increasing; a fixpointed pass chains through
    as a no-op.

    This is the user-facing form of the family: seed → contract →
    coarsen N → score (graph_modularity's machinery) — agglomerative
    community detection without label-propagation's oscillation modes.

    Scale shape (the r15 VERDICT's one known-better plan, now
    implemented): the |E|-sized assignment double-join is paid ONCE
    (the contraction) instead of once PER PASS; every subsequent pass
    joins a graph bounded by the surviving community count (16 → 14 →
    11 → 10 here, ≤ 16·17/2 weighted rows), so a deeper loop costs
    O(|E| + passes·|communities|²) instead of O(passes·|E|).  Each
    pass's tiny output is localCheckpoint'd (the iterative-operator
    lineage contract) and released via session.checkpoint_handle
    (ADVICE r15: raw checkpointed frames no-op on unpersist).  The
    loop itself is the user-facing operator
    operators/graph.louvain_coarsen; this query seeds it with the
    16-shard hash partition.  See SCALING.md.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = hold(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    comm = _coarsened_purchase_partition(spark, sf_dir, edges)
    out = comm.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("entity_id"),
        "community",
    )
    return out


@register("graph_louvain_scored", oracle=_sql_coarsen_scored(_COARSEN_PASSES))
def graph_louvain_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community EXACT modularity of the coarsened purchase-graph
    partition, computed ON THE WEIGHTED COMMUNITY SUPER-GRAPH (birth
    r16) — the contraction-invariance lemma as a DRIVER-VERIFIED
    claim: the Spark side runs the coarsening loop
    (operators/graph.louvain_coarsen), contracts the graph under the
    final partition (operators/graph.contract_graph), and scores the
    super-graph under the IDENTITY partition with the weighted scorer
    (modularity_score(weight_col=...)); the DuckDB oracle unrolls the
    identical coarsening chain but scores the partition ON THE FULL
    EDGE LIST.  m is preserved by contraction, super-node degrees
    telescope to community degree sums, and a super-node's self-loop
    is its community's internal weight — so in_edges / deg_sum /
    contrib_num / q_e6 coincide EXACTLY per community, and the
    driver's cross-engine value hash is the lemma verified on real
    data (n_nodes is projected out: it counts super-nodes vs members,
    the one quantity contraction changes by design).

    This is also the scale story for loop re-scoring: a coarsening
    loop that already holds the contracted graph re-scores its
    partition on community-count-bounded rows instead of re-joining
    the full edge list (graph_modularity's shape) every time.

    Output: (community, in_edges, deg_sum, contrib_num, q_e6), one
    row per coarsened community.

    Scale shape: the coarsen loop's O(|E| + passes·|communities|²)
    plus ONE more |E|-sized contraction under the final partition
    (the same double-join graph_modularity's in_c stage pays), then a
    frontier-free weighted scoring of a ≤16-super-node graph with
    1-row fan-ins.  See SCALING.md.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = hold(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    # the coarsened partition is served from the build cache when the
    # sibling query (or a prior job) already ran the loop — see
    # _coarsened_purchase_partition; this query then pays only its own
    # |E| contraction + the bounded scoring
    comm = _coarsened_purchase_partition(spark, sf_dir, edges)
    # contract under the FINAL partition; persist — the weighted
    # scorer reads it three times (m, degrees, in-community weights)
    # and each read would otherwise replay the |E| double-join
    g = hold(graph.contract_graph(
        edges, comm, assume_canonical=True
    ).persist())
    ident = (
        g.select(F.col("src").alias("node"))
        .unionByName(g.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    scored = graph.modularity_score(
        g, ident, weight_col="weight", assume_canonical=True
    )
    out = scored.select(
        "community", "in_edges", "deg_sum", "contrib_num", "q_e6"
    )
    return out


@register("graph_refine_weighted", oracle=_sql_refine_weighted())
def graph_refine_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEIGHTED local-move sweep driver-verified AS EVIDENCE (birth
    r17 — the round's new weighted refine operator would otherwise rest
    on hypothesis tests alone): contract the purchase graph under the
    16-shard hash partition into its weighted super-graph
    (operators/graph.contract_graph — 16 super-nodes, inter-shard
    weights + self-loops), seed the super-nodes with the deliberately
    mixed ``n % 3`` partition, run ONE weighted synchronous sweep
    (operators/graph.modularity_refine_step(weight_col=...) — Blondel
    phase-1-on-super-graph bookkeeping), score BOTH partitions with the
    exact weighted scorer, and emit the full evidence per super-node:
    (shard, seed_community, swept_community, q_seed_e6, q_swept_e6,
    adopted).  The DuckDB oracle replays the contraction, the weighted
    T-gain sweep (HUGEINT, tie-break, strict-improvement gate), both
    exact scorings, and the guard decision independently — so the
    driver hash verifies the sweep ROW-BY-ROW and the decision
    boundary, not just the final partition.

    On this hub-coupled graph the verdict is REJECT at every scale
    (every synchronous sweep overshoots — the r15/r16 measured
    phenomenon, here driver-verified as data: q_swept_e6 < q_seed_e6
    in both engines), which is exactly why
    modularity_refine_guarded scores-and-keeps-better instead of
    trusting the sweep; the adopt
    branch is pinned by the weighted-triangle pytest.

    Scale shape: ONE |E|-sized contraction (the graph_modularity shape,
    paid once), then every sweep/scoring stage is bounded by the 16-
    super-node graph (≤ 16·17/2 weighted rows, 1-row Q fan-ins) — the
    loop-re-scoring story of graph_louvain_scored applied to phase 1.
    The super-graph is localCheckpoint'd (it feeds the sweep + two
    scorings + the seed derivation; an un-truncated lineage replays the
    |E| contraction per consumer and measured as a driver OOM) and
    released via session.checkpoint_handle.  See SCALING.md.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = hold(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    shard = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node",
            (F.col("node") % _MERGE_SHARDS).alias("community"),
        )
    )
    g = graph.contract_graph(
        edges, shard, assume_canonical=True
    ).localCheckpoint()
    hold(checkpoint_handle(g))
    seed = hold(
        g.select(F.col("src").alias("node"))
        .unionByName(g.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node",
            (F.col("node") % _REFINE_SEED_MOD).cast("long").alias(
                "community"
            ),
        )
        .persist()
    )
    # the sweep and both scorings derive the identical degree rollup
    # from the checkpointed super-graph — computed once and threaded
    # through (r19, guide §1.2; the duplication was three degree
    # shuffles per run; m stays in-plan — the eager-collect form
    # measured slower, OPTIMIZATION_r19.md)
    sdeg = graph.modularity_stats(
        g, weight_col="weight", collect_m=False
    )[0]
    swept = hold(graph.modularity_refine_step(
        g, seed, weight_col="weight", assume_canonical=True,
        deg=sdeg,
    ).persist())
    q0 = (
        graph.modularity_score(
            g, seed, weight_col="weight", assume_canonical=True, deg=sdeg,
        )
        .agg(F.max("q_e6").alias("q_seed_e6"))
    )
    q1 = (
        graph.modularity_score(
            g, swept, weight_col="weight", assume_canonical=True, deg=sdeg,
        )
        .agg(F.max("q_e6").alias("q_swept_e6"))
    )
    out = (
        seed.select(
            F.col("node").alias("shard"),
            F.col("community").alias("seed_community"),
        )
        .join(
            swept.select(
                F.col("node").alias("shard"),
                F.col("community").cast("long").alias("swept_community"),
            ),
            "shard",
        )
        .crossJoin(F.broadcast(q0))
        .crossJoin(F.broadcast(q1))
        .select(
            "shard",
            "seed_community",
            "swept_community",
            "q_seed_e6",
            "q_swept_e6",
            (F.col("q_swept_e6") > F.col("q_seed_e6")).alias("adopted"),
        )
    )
    return out


def _q_lit(spark: SparkSession, name: str, val) -> DataFrame:
    """One-row frame carrying an exact Q value the guarded sweep
    ALREADY computed eagerly (guide §1.2: don't compute things you
    throw away — modularity_refine_guarded runs the sweep and both
    scorings before it returns, so re-deriving the same aggregates in
    the output plan executed the identical join/agg jobs a second
    time; r18 measured the duplication as ~2× on every refine-evidence
    query).  Schema matches the replaced ``agg(max(q_e6))`` form
    exactly: one row, nullable long, NULL when the scorer saw no rows.
    """
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [(None if val is None else int(val),)],
        T.StructType([T.StructField(name, T.LongType(), True)]),
    )


# graph_refine_adopt seed: ((8n + 7) % 25) % 3 over nation keys (0-24).
# Probed exhaustively (r17/r18, SCALING.md): on the hub-coupled purchase
# super-graph EVERY deterministic seed's sweep is guard-REJECTED, so the
# adopt branch needed a different backbone — on the strongest-partner
# trade backbone this affine seed's single weighted sweep STRICTLY
# improves Q at all three scales (e6: 187,768 → 285,524 at sf0.001;
# 88,069 → 282,712 at sf0.01; −12,920 → 438,141 at sf0.1), the largest
# margins of every affine candidate probed.
_ADOPT_SEED_SQL = "((8 * n + 7) % 25) % 3"


def _sql_refine_adopt() -> str:
    """Oracle for graph_refine_adopt (see :func:`_sql_refine_evidence`
    for the sweep/scoring conventions): the WEIGHTED strongest-partner
    trade backbone (``_weighted_backbone`` mirrored line for line —
    top-1 tie per supplier nation, mutual picks summed into one u<v
    weight) from the affine ``((8n+7)%25)%3`` seed, WITH the
    guarded_community column so the driver hash verifies
    modularity_refine_guarded's ADOPT branch end-to-end."""
    return _sql_refine_evidence(
        "",
        """
      SELECT least(n1, n2) AS a, greatest(n1, n2) AS b,
             CAST(SUM(cnt) AS BIGINT) AS w
      FROM (
        SELECT n1, n2, cnt FROM (
          SELECT n1, n2, cnt,
                 row_number() OVER (PARTITION BY n1
                                    ORDER BY cnt DESC, n2 ASC) AS rk
          FROM (
            SELECT s.s_nationkey AS n1, c.c_nationkey AS n2,
                   count(*) AS cnt
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY 1, 2)
        ) WHERE rk <= 1)
      GROUP BY 1, 2
    """,
        _ADOPT_SEED_SQL,
        "node",
        guarded=True,
    )


@register("graph_refine_adopt", oracle=_sql_refine_adopt())
def graph_refine_adopt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarded weighted sweep's ADOPT branch driver-verified (birth
    r18 — VERDICT r17 next-round #2: graph_refine_weighted's hashed
    verdict is REJECT at every scale on the hub-coupled purchase
    super-graph, so modularity_refine_guarded's adopt path rested on
    the weighted-triangle pytest alone): on the WEIGHTED
    strongest-partner trade backbone (each supplier nation's single
    highest-volume customer-nation tie with its trade volume as the
    weight — the k=1-NN sparsification LPA uses, hub-free by
    construction) the affine ``((8n+7)%25)%3`` seed's single weighted
    synchronous sweep (operators/graph.modularity_refine_step)
    STRICTLY improves exact weighted modularity at every scale, so the
    guard (operators/graph.modularity_refine_guarded) ADOPTS the swept
    partition.  The emitted evidence per nation: (node, seed_community,
    swept_community, guarded_community, q_seed_e6, q_swept_e6,
    adopted) — guarded_community is the partition the guarded operator
    actually RETURNED, so the driver hash verifies the sweep
    row-by-row, both exact scorings, the decision boundary, AND that
    the guard's returned partition is the swept one when it wins
    (the adopt branch as data, complementing graph_refine_weighted's
    measured-rejection branch).

    Scale shape: the backbone build is the one |E|-sized stage (the
    4-table LPA-backbone join, paid once and localCheckpoint'd — the
    graph_refine_weighted lineage lesson: the seed derives from the
    edge frame and re-joins it through nested scorings); everything
    after is bounded by the ≤ 25-nation graph (sweep + two scorings +
    the guarded re-run, each degree-bounded joins over ≤ 25 weighted
    rows with 1-row Q fan-ins).  See SCALING.md.
    """
    from ..operators import graph

    edges = _weighted_backbone(spark, sf_dir).localCheckpoint()
    hold(checkpoint_handle(edges))
    seed = hold(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node",
            (((F.col("node") * 8 + 7) % 25) % 3)
            .cast("long")
            .alias("community"),
        )
        .persist()
    )
    # the REAL guarded operator (eager: sweep + two scorings + the
    # driver-side decision), not a re-derivation — its returned
    # partition is the hashed claim.  The sweep output and both exact
    # Q values are taken from the guard's evidence out-param instead
    # of recomputing them at the query level (r18: the standalone
    # refine_step + two query-level scorings duplicated every job the
    # eager guard had already run — guide §1.2).
    ev: dict = {}
    guarded = hold(graph.modularity_refine_guarded(
        edges, seed, weight_col="weight", assume_canonical=True, evidence=ev,
    ).persist())
    swept = ev["swept"]  # persisted and held by the guard
    q0 = _q_lit(spark, "q_seed_e6", ev["q_in_e6"])
    q1 = _q_lit(spark, "q_swept_e6", ev["q_swept_e6"])
    out = (
        seed.select(
            "node",
            F.col("community").alias("seed_community"),
        )
        .join(
            swept.select(
                "node",
                F.col("community").cast("long").alias("swept_community"),
            ),
            "node",
        )
        .join(
            guarded.select(
                "node",
                F.col("community").cast("long").alias(
                    "guarded_community"
                ),
            ),
            "node",
        )
        .crossJoin(F.broadcast(q0))
        .crossJoin(F.broadcast(q1))
        .select(
            "node",
            "seed_community",
            "swept_community",
            "guarded_community",
            "q_seed_e6",
            "q_swept_e6",
            (F.col("q_swept_e6") > F.col("q_seed_e6")).alias("adopted"),
        )
    )
    return out


def _sql_refine_pass() -> str:
    """Oracle for graph_refine_pass (see :func:`_sql_refine_evidence`
    for the sweep/scoring conventions): the weighted trade backbone
    (``_weighted_backbone`` mirrored line for line), ONE weighted
    mutual-best merge pass from SINGLETONS replayed independently
    (community pairs from singletons are exactly the canonical edges,
    so gains are 2m·w_ab − d_a·d_b per edge in HUGEINT; best partner
    by (gain DESC, partner ASC), merge iff mutual and strictly
    positive, merged pairs adopt min — modularity_merge_step's exact
    contract), and the guarded weighted sweep SEEDED WITH THAT MERGE
    OUTPUT via a correlated-subquery seed over the shared evidence
    chain.  The outer projection renames seed_* to merged_* — the
    sweep's seed IS the merge result, the claim under test."""
    inner = _sql_refine_evidence(
        """bb AS MATERIALIZED (
      SELECT least(n1, n2) AS a, greatest(n1, n2) AS b,
             CAST(SUM(cnt) AS BIGINT) AS w
      FROM (
        SELECT n1, n2, cnt FROM (
          SELECT n1, n2, cnt,
                 row_number() OVER (PARTITION BY n1
                                    ORDER BY cnt DESC, n2 ASC) AS rk
          FROM (
            SELECT s.s_nationkey AS n1, c.c_nationkey AS n2,
                   count(*) AS cnt
            FROM lineitem l
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            WHERE s.s_nationkey <> c.c_nationkey
            GROUP BY 1, 2)
        ) WHERE rk <= 1)
      GROUP BY 1, 2
    ),
    bn AS (SELECT a AS n FROM bb UNION SELECT b FROM bb),
    bsym AS (
      SELECT a AS i, b AS j, w FROM bb
      UNION ALL
      SELECT b AS i, a AS j, w FROM bb
    ),
    bdeg AS (
      SELECT i AS n, CAST(SUM(w) AS BIGINT) AS k FROM bsym GROUP BY i
    ),
    bm AS (SELECT CAST(SUM(w) AS HUGEINT) AS m FROM bb),
    bgain AS (
      SELECT a, b,
             2 * bm.m * CAST(w AS HUGEINT)
               - CAST(da.k AS HUGEINT) * CAST(db.k AS HUGEINT) AS g
      FROM bb
      JOIN bdeg da ON da.n = bb.a
      JOIN bdeg db ON db.n = bb.b
      CROSS JOIN bm
      WHERE a <> b
    ),
    bsymg AS (
      SELECT a AS c, b AS p, g FROM bgain WHERE g > 0
      UNION ALL
      SELECT b AS c, a AS p, g FROM bgain WHERE g > 0
    ),
    bbest AS (
      SELECT c, p FROM (
        SELECT c, p,
               row_number() OVER (PARTITION BY c
                                  ORDER BY g DESC, p ASC) AS rn
        FROM bsymg
      ) WHERE rn = 1
    ),
    bmap AS (
      SELECT x.c AS old_c, x.p AS new_c
      FROM bbest x JOIN bbest y ON x.c = y.p AND x.p = y.c
      WHERE x.c > x.p
    ),
    mergedp AS MATERIALIZED (
      SELECT bn.n, CAST(COALESCE(bmap.new_c, bn.n) AS BIGINT) AS c
      FROM bn LEFT JOIN bmap ON bn.n = bmap.old_c
    ),""",
        "SELECT a, b, w FROM bb",
        "(SELECT mp.c FROM mergedp mp WHERE mp.n = sn.n)",
        "node",
        guarded=True,
    )
    return f"""
    SELECT node,
           seed_community AS merged_community,
           swept_community,
           guarded_community,
           q_seed_e6 AS q_merged_e6,
           q_swept_e6,
           adopted
    FROM ({inner})
    """


@register("graph_refine_pass", oracle=_sql_refine_pass())
def graph_refine_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coarsen loop's COMPOSED PASS BODY driver-verified (birth
    r18): the merge → guarded-sweep pass, composed from the real
    operators — one weighted mutual-best merge
    (operators/graph.modularity_merge_step) from the identity
    partition, then the guarded weighted local-move sweep
    (operators/graph.modularity_refine_guarded) SEEDED WITH THE MERGE
    OUTPUT — on the weighted strongest-partner trade backbone.  This
    is the in-loop composition the refine thread exists for, as data:
    graph_refine_adopt verified the sweep adopts from an affine seed;
    here the sweep's seed is the MATCHING'S OWN OUTPUT, and it still
    strictly improves exact weighted Q at every scale (probed q_e6:
    merge 215,754 → sweep 515,750 at sf0.001; 226,197 → 522,435 at
    sf0.01; 160,093 → 415,346 at sf0.1 — the mutual-best matching
    genuinely stalls at a coarser optimum than move-then-contract
    Louvain reaches, the textbook justification for threading phase 1
    into phase 2; SCALING.md).  The evidence row set per nation: (node,
    merged_community, swept_community, guarded_community,
    q_merged_e6, q_swept_e6, adopted) — the driver hash verifies the
    merge pass, the sweep, both exact scorings, the decision boundary,
    AND that the guard returned the swept partition.

    Scale shape: the backbone build is the one |E|-sized stage
    (localCheckpoint'd, the refine-family lineage lesson — the merge
    output re-joins the edge frame through nested scorings, so it is
    checkpointed too); merge + sweep + two scorings + the guarded
    re-run are all bounded by the ≤ 25-nation graph with 1-row Q
    fan-ins.  See SCALING.md.
    """
    from ..operators import graph

    edges = _weighted_backbone(spark, sf_dir).localCheckpoint()
    hold(checkpoint_handle(edges))
    ident = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    # merge + the guard's sweep/scorings share the backbone's degree
    # rollup — computed once and threaded through (r19, guide §1.2; m
    # stays in-plan, the eager form measured slower)
    sdeg = graph.modularity_stats(
        edges, weight_col="weight", collect_m=False
    )[0]
    merged = graph.modularity_merge_step(
        edges, ident, weight_col="weight", assume_canonical=True, deg=sdeg,
    ).localCheckpoint()
    hold(checkpoint_handle(merged))
    # sweep output + both exact Q values come from the eager guard's
    # evidence out-param — the standalone refine_step and the two
    # query-level scorings duplicated every job the guard had already
    # run (r18, guide §1.2)
    ev: dict = {}
    guarded = hold(graph.modularity_refine_guarded(
        edges, merged, weight_col="weight", assume_canonical=True, evidence=ev, deg=sdeg,
    ).persist())
    swept = ev["swept"]  # persisted and held by the guard
    q0 = _q_lit(spark, "q_merged_e6", ev["q_in_e6"])
    q1 = _q_lit(spark, "q_swept_e6", ev["q_swept_e6"])
    out = (
        merged.select(
            "node",
            F.col("community").cast("long").alias("merged_community"),
        )
        .join(
            swept.select(
                "node",
                F.col("community").cast("long").alias("swept_community"),
            ),
            "node",
        )
        .join(
            guarded.select(
                "node",
                F.col("community").cast("long").alias(
                    "guarded_community"
                ),
            ),
            "node",
        )
        .crossJoin(F.broadcast(q0))
        .crossJoin(F.broadcast(q1))
        .select(
            "node",
            "merged_community",
            "swept_community",
            "guarded_community",
            "q_merged_e6",
            "q_swept_e6",
            (F.col("q_swept_e6") > F.col("q_merged_e6")).alias(
                "adopted"
            ),
        )
    )
    return out


@register("graph_refine_loop", oracle=_sql_refine_loop())
def graph_refine_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full TWO-PASS REFINED COARSENING LOOP as one hashed trace
    (birth r18, completing the refine arc): two merge → guarded-sweep
    passes with a contraction between them, composed from the real
    operators on the weighted trade backbone — pass 1: weighted
    mutual-best merge from singletons
    (operators/graph.modularity_merge_step), guarded weighted sweep on
    the merge output (modularity_refine_guarded); CONTRACT the guard's
    partition (contract_graph — intra-community weight becomes
    self-loops); pass 2: the same merge + guarded sweep on the
    super-graph; compose the relabels; re-score the FINAL partition on
    the ORIGINAL graph.  Probed in pure python against the exact
    operator semantics and pinned: at sf0.01 pass 1's sweep ADOPTS
    (q_e6 226,197 → 522,435), pass 2's merge still improves
    (→ 563,344) and pass 2's sweep is guard-REJECTED — and at sf0.1
    the rejected sweep would have REGRESSED Q (579,034 → 570,517), the
    guard doing the exact job it exists for, mid-loop.  Both guard
    branches therefore fire inside ONE registered run.  q_final_e6 is
    the final partition scored on the ORIGINAL backbone and equals
    q_p2_guarded_e6 (scored on the super-graph) — the driver hash
    verifies the CONTRACTION-INVARIANCE lemma itself cross-engine,
    per row.

    Output per nation: (node, p1_merged_community,
    p1_guarded_community, final_community, q_p1_merged_e6,
    q_p1_guarded_e6, q_p2_merged_e6, q_p2_guarded_e6, q_final_e6,
    p1_adopted, p2_adopted).

    Scale shape: the backbone build is the one |E|-sized stage
    (localCheckpoint'd, the refine-family lineage lesson — every
    derived partition is checkpointed before re-joining the edge
    frame); both passes' merge/sweep/scoring chains and the
    contraction are bounded by the ≤ 25-nation graph with 1-row Q
    fan-ins.  See SCALING.md.
    """
    from ..operators import graph

    edges = _weighted_backbone(spark, sf_dir).localCheckpoint()
    hold(checkpoint_handle(edges))

    def _singletons(g: DataFrame) -> DataFrame:
        return (
            g.select(F.col("src").alias("node"))
            .unionByName(g.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("community"))
        )

    def _pass(g: DataFrame):
        """One loop pass on canonical weighted graph ``g``: merge from
        singletons, guarded sweep on the merge output, plus the swept
        partition and both scorings (the guard verdict's inputs)."""
        # the merge, the guard's sweep, and its two scorings all
        # derive the identical degree rollup from this pass's graph —
        # computed once here and threaded through (r19, guide §1.2;
        # VERDICT r18 next-round #3: the duplication was four degree
        # shuffles per pass).  m stays in-plan — the eager-collect
        # form measured slower (OPTIMIZATION_r19.md).
        sdeg = graph.modularity_stats(
            g, weight_col="weight", collect_m=False
        )[0]
        merged = graph.modularity_merge_step(
            g, _singletons(g), weight_col="weight",
            assume_canonical=True, deg=sdeg,
        ).localCheckpoint()
        hold(checkpoint_handle(merged))
        # the eager guard already ran the sweep and both scorings —
        # its evidence out-param replaces the standalone refine_step
        # and the two per-pass query-level scorings (r18, guide §1.2)
        ev: dict = {}
        guarded = graph.modularity_refine_guarded(
            g, merged, weight_col="weight", assume_canonical=True, evidence=ev, deg=sdeg,
        ).localCheckpoint()
        hold(checkpoint_handle(guarded))
        q_m = _q_lit(spark, "qm", ev["q_in_e6"])
        q_s = _q_lit(spark, "qs", ev["q_swept_e6"])
        return merged, guarded, q_m, q_s, sdeg

    merged1, guarded1, q_m1, q_s1, deg1 = _pass(edges)
    g2 = graph.contract_graph(
        edges, guarded1, weight_col="weight", assume_canonical=True,
    ).localCheckpoint()
    hold(checkpoint_handle(g2))
    merged2, guarded2, q_m2, q_s2, _deg2 = _pass(g2)
    fin = (
        guarded1.select(
            "node", F.col("community").alias("__mid")
        )
        .join(
            guarded2.select(
                F.col("node").alias("__mid"),
                F.col("community").alias("final_community"),
            ),
            "__mid",
        )
        .select(
            "node",
            F.col("final_community").cast("long").alias(
                "final_community"
            ),
        )
        .localCheckpoint()
    )
    hold(checkpoint_handle(fin))
    q_fin = (
        graph.modularity_score(
            edges,
            fin.select("node", F.col("final_community").alias("community")),
            weight_col="weight",
            assume_canonical=True,
            # pass 1 ran on the ORIGINAL backbone, so its degree
            # rollup is exactly this scoring's deg — the fifth reuse
            deg=deg1,
        )
        .agg(F.max("q_e6").alias("q_final_e6"))
    )
    out = (
        merged1.select(
            "node",
            F.col("community").cast("long").alias("p1_merged_community"),
        )
        .join(
            guarded1.select(
                "node",
                F.col("community").cast("long").alias(
                    "p1_guarded_community"
                ),
            ),
            "node",
        )
        .join(fin, "node")
        .crossJoin(F.broadcast(q_m1.select(F.col("qm").alias("q_p1_merged_e6"))))
        .crossJoin(F.broadcast(q_s1.select(F.col("qs").alias("__qs1"))))
        .crossJoin(F.broadcast(q_m2.select(F.col("qm").alias("q_p2_merged_e6"))))
        .crossJoin(F.broadcast(q_s2.select(F.col("qs").alias("__qs2"))))
        .crossJoin(F.broadcast(q_fin))
        .select(
            "node",
            "p1_merged_community",
            "p1_guarded_community",
            "final_community",
            "q_p1_merged_e6",
            F.when(
                F.col("__qs1") > F.col("q_p1_merged_e6"), F.col("__qs1")
            )
            .otherwise(F.col("q_p1_merged_e6"))
            .alias("q_p1_guarded_e6"),
            "q_p2_merged_e6",
            F.when(
                F.col("__qs2") > F.col("q_p2_merged_e6"), F.col("__qs2")
            )
            .otherwise(F.col("q_p2_merged_e6"))
            .alias("q_p2_guarded_e6"),
            "q_final_e6",
            (F.col("__qs1") > F.col("q_p1_merged_e6")).alias(
                "p1_adopted"
            ),
            (F.col("__qs2") > F.col("q_p2_merged_e6")).alias(
                "p2_adopted"
            ),
        )
    )
    return out


@register("graph_modularity_merge", oracle=_sql_merge())
def graph_modularity_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One GUARANTEED-improvement community merge pass
    (operators/graph.modularity_merge_step) over the customer↔supplier
    purchase graph, seeded with a degree-agnostic hash sharding
    (community = node % 16) — the synchronous-safe agglomerative step
    of distributed Louvain, completing the community arc: mine
    (graph_label_propagation) → score (graph_modularity) → COARSEN.
    Mutual-best positive-gain merges form a matching, and Q is
    additive over communities, so one synchronous pass NEVER decreases
    modularity — a theorem, hypothesis-tested as an invariant over
    arbitrary graphs and partitions, and pinned as strict improvement
    on this data (the node-level local-move sweep was A/B-measured to
    OVERSHOOT here: Q −66,405 → −291,409 e6 at sf0.001; SCALING.md).

    Scale shape: NO iteration — one edge-list double-join against the
    broadcastable assignment frame + a partial-agg count builds the
    COMMUNITY graph (rows = community pairs ≪ edges); best-partner is
    a community-keyed top-1 window; the mutual check is a self-join of
    the one-row-per-community best frame; the relabel is one
    broadcastable mapping join.  See SCALING.md.
    """
    from ..operators import graph

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # bipartite orientation (customer even / supplier odd) cannot emit
    # a reversed duplicate or a self-loop, so the frame is already a
    # simple undirected edge list — assume_canonical skips the
    # redundant re-distinct (the graph_modularity pattern)
    edges = hold(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).cast("long").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    # EAGER (r19): the merge pass references this cache four times
    # (m, the degree rollup's two union branches, the community
    # graph) — left lazy, one action materializes them concurrently
    # and the scan+join+distinct build re-executes per reference
    edges.count()
    seed = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select(
            "node",
            (F.col("node") % _MERGE_SHARDS).alias("community"),
        )
    )
    merged = graph.modularity_merge_step(
        edges, seed, assume_canonical=True
    )
    out = merged.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("entity_id"),
        "community",
    )
    return out


@register("graph_modularity", oracle=_sql_modularity(_LPA_ITERS))
def graph_modularity(
    spark: SparkSession, sf_dir: str, *, iters: int = _LPA_ITERS
) -> DataFrame:
    """Newman-Girvan modularity of the LPA trading blocs
    (operators/graph.modularity_score over
    operators/graph.label_propagation): the QUALITY score for the
    communities graph_label_propagation mines — per bloc, how many
    more backbone edges fall inside it than a degree-preserving
    random graph would place there, all exact integers (contrib_num =
    4·m·in_c − d_c² in decimal(38,0), partition q_e6 by sign-safe
    truncating division).  Same backbone, same 4 synchronous rounds,
    so the oracle replays LPA's chain verbatim and scores it.

    Scale shape: LPA's rounds (node-keyed joins, degree-bounded per-
    node rank) + three partial-aggregable counts and two 1-row
    fan-ins; the assignment frame joins broadcast-small.  See
    SCALING.md.
    """
    from ..operators import graph

    # LPA's output lineage ends at a localCheckpoint whose handle must
    # survive until the SCORED frame is consumed — both operators are
    # nested in this query's scope, so their blocks live as long as
    # the returned frame (an early release fails hard with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    # the 4-table backbone build feeds BOTH operators' canonicalization
    # persists — cache it once (measured ~1.5 s of the warm runtime)
    backbone = hold(_lpa_backbone(spark, sf_dir).persist())
    comm = graph.label_propagation(backbone, iters=iters)
    # the backbone IS canonical (least/greatest + distinct + no self
    # loops in _lpa_backbone) and persisted above — skip the scorer's
    # redundant re-distinct + second persist (ADVICE r14)
    out = graph.modularity_score(
        backbone, comm, assume_canonical=True
    )
    return out


# Shared actuator chain on top of _SQL_SUBSTR_CTES' runs: keep-first-
# occurrence (each run charged to doc_b, the larger id), gaps-and-
# islands interval merge per doc — a span starts a new island iff its
# start exceeds the running max end of every earlier (start, end)-
# ordered span (touching spans merge), islands collapse to
# (min start, max end).  Used by dedup_substring_cuts (the intervals)
# and dedup_substring_apply (the cleaned-corpus emitter on top).
_SQL_SUBSTR_CUTS_CTES = """spans AS (
      SELECT doc_b AS doc_id, b_start AS s,
             b_start + match_tokens AS e
      FROM runs
    ), ord AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM spans
    ), isl2 AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS grp
      FROM ord
    ), cuts AS (
      SELECT doc_id, CAST(MIN(s) AS BIGINT) AS cut_start,
             CAST(MAX(e) AS BIGINT) AS cut_end,
             CAST(MAX(e) - MIN(s) AS BIGINT) AS cut_tokens
      FROM isl2 GROUP BY doc_id, grp
    )"""


@register(
    "dedup_substring_cuts",
    oracle=f"""
    WITH {_SQL_SUBSTR_CTES}, {_SQL_SUBSTR_CUTS_CTES}
    SELECT doc_id, cut_start, cut_end, cut_tokens FROM cuts
    """,
)
def dedup_substring_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document CUT intervals from the exact-substring runs
    (operators/dedup.substring_cut_spans over substring_run_pairs) —
    the ACTIONABLE half of substring dedup: dedup_substring_runs says
    which pairs share what; this says exactly which token spans to
    REMOVE from which document (keep-first-occurrence: every run is
    charged to the pair's larger doc id, so the earliest copy in id
    order survives — the duplicate-cluster representative convention).

    Overlapping spans from different partners merge via the classic
    gaps-and-islands reduction (one doc-keyed window pair sharing a
    single sort — no joins), so the output is a minimal set of
    non-overlapping (cut_start, cut_end) token intervals per doc.

    Scale shape: the miner's cost plus one |runs|-row doc-keyed window
    — linear; see SCALING.md.
    """
    from ..operators import dedup

    runs = dedup.substring_run_pairs(
        load_table(spark, sf_dir, "documents"),
        k=_SUBSTR_K,
        max_gram_occ=_SUBSTR_MAX_OCC,
    )
    return dedup.substring_cut_spans(runs)


@register(
    "dedup_substring_apply",
    # Emitter on the shared miner+actuator chain: per-doc cut structs,
    # indexed list_filter over the normalized token stream (DuckDB's
    # lambda index is 1-based, hence i - 1 against the 0-based cut
    # offsets), null-text docs pass through null with 0 counts.
    oracle=f"""
    WITH {_SQL_SUBSTR_CTES}, {_SQL_SUBSTR_CUTS_CTES},
    csagg AS (
      SELECT doc_id,
             list({{'s': cut_start, 'e': cut_end}}) AS cs
      FROM cuts GROUP BY doc_id
    ), allt AS (
      SELECT d.doc_id, d.text IS NOT NULL AS has_text,
             CASE WHEN d.text IS NOT NULL
                  THEN string_split_regex(trim(lower(d.text)), '\\s+')
                  ELSE CAST([] AS VARCHAR[]) END AS t,
             COALESCE(c.cs,
                      CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS cs
      FROM documents d LEFT JOIN csagg c USING (doc_id)
    ), kept AS (
      SELECT doc_id, has_text, t,
             list_filter(t, (x, i) ->
               len(list_filter(cs, c -> i - 1 >= c.s AND i - 1 < c.e))
                 = 0) AS kt
      FROM allt
    )
    SELECT doc_id,
           -- DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' — a fully-cut doc must emit ''
           CASE WHEN has_text
                THEN COALESCE(array_to_string(kt, ' '), '') END AS text,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kt) AS BIGINT) AS n_removed
    FROM kept
    """,
)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLEANED CORPUS: substring dedup applied end-to-end
    (operators/dedup.apply_substring_cuts over substring_cut_spans
    over substring_run_pairs) — mine every >= 20-token cross-document
    verbatim run, merge the keep-first-occurrence cut intervals, and
    EMIT every document with its cut token spans removed (VERDICT r14
    next-round #2: the intervals are now consumed, not just reported).
    One row per document — touched docs lose their duplicated spans,
    untouched docs pass through with their normalized token stream,
    null-text docs stay null — plus exact token accounting
    (n_tokens/n_removed; operators/dedup.substring_removal_summary
    rolls the corpus rate up).

    The output text is the NORMALIZED token stream (the miners' token
    space — cut offsets are token positions, not char positions).
    Fixpoint property (Lee et al.): re-mining the cleaned corpus at
    the same k finds zero cross-document runs (pytest at sf0.001).

    Scale shape: the miner+actuator cost, plus one bounded doc-keyed
    cut aggregation, one doc-keyed left equi-join against the corpus,
    and a narrow indexed-filter projection — no extra shuffles, no
    Python row UDFs.  See SCALING.md.
    """
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    runs = dedup.substring_run_pairs(
        docs, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
    )
    cleaned = dedup.apply_substring_cuts(
        docs, dedup.substring_cut_spans(runs)
    )
    return cleaned


def _intra_cleaned_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stage-1 INTRA-cleaned planted corpus shared by
    dedup_substring_self_apply and dedup_substring_pipeline, served
    from the buildcache FRAME tier (VERDICT r17 next-round #4: the two
    queries recomputed the identical intra clean per bench pass, ~2 s
    duplicated).  Unlike the coarsen mapping (a ≤ 16-row relabel, row
    tier), this artifact is CORPUS-SHAPED — so it is materialized by a
    SPARK parquet write (executor-side, no driver collect; exactly the
    ingest-time materialization a production pipeline performs) and
    re-read by every later consumer, including the storing query
    itself (cold and warm plans are identical downstream of the scan).
    The key embeds the documents fingerprint, both substring
    parameters, and a version token covering the planted-view
    derivation + the intra-clean chain semantics (_v1 — bump on any
    semantic change, the ADVICE r17 rule); the chain is
    bit-deterministic and (doc_id long, text string, n_tokens long,
    n_removed long) roundtrips parquet exactly, so cached rows ==
    rebuilding.  A disabled/unwritable tier degrades to the live
    frame, never to an error."""
    from ..operators import buildcache, dedup

    ckey = (
        "substring_intra_clean_v1",
        table_fingerprint(sf_dir, "documents"),
        _SUBSTR_K,
        _SUBSTR_MAX_OCC,
    )

    def build() -> DataFrame:
        planted = _planted_self_view(load_table(spark, sf_dir, "documents"))
        self_runs = dedup.substring_self_run_pairs(
            planted, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
        )
        return dedup.apply_substring_cuts(
            planted,
            dedup.substring_cut_spans(
                self_runs, doc_col="doc_id", start_col="b_start"
            ),
        ).select("doc_id", "text", "n_tokens", "n_removed")

    return buildcache.cached_frame(
        spark,
        ckey,
        "doc_id long, text string, n_tokens long, n_removed long",
        build,
    )


@register(
    "dedup_substring_self_apply",
    # The INTRA-document emitter: planted view -> shared gram stage ->
    # self-runs (doc_id aliased to doc_b so the shared cut chain
    # composes) -> _SQL_SUBSTR_CUTS_CTES -> the apply projection over
    # the PLANTED corpus (same indexed list_filter as
    # dedup_substring_apply's oracle, 1-based lambda index).
    oracle=f"""
    WITH {_SQL_SELF_PLANTED_CTE}, {_sql_substr_gram_ctes("planted")},
    {_SQL_SELF_RUNS_CTES}, {_SQL_SUBSTR_CUTS_CTES},
    csagg AS (
      SELECT doc_id,
             list({{'s': cut_start, 'e': cut_end}}) AS cs
      FROM cuts GROUP BY doc_id
    ), allt AS (
      SELECT d.doc_id, d.text IS NOT NULL AS has_text,
             CASE WHEN d.text IS NOT NULL
                  THEN string_split_regex(trim(lower(d.text)), '\\s+')
                  ELSE CAST([] AS VARCHAR[]) END AS t,
             COALESCE(c.cs,
                      CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS cs
      FROM planted d LEFT JOIN csagg c USING (doc_id)
    ), kept AS (
      SELECT doc_id, has_text, t,
             list_filter(t, (x, i) ->
               len(list_filter(cs, c -> i - 1 >= c.s AND i - 1 < c.e))
                 = 0) AS kt
      FROM allt
    )
    SELECT doc_id,
           CASE WHEN has_text
                THEN COALESCE(array_to_string(kt, ' '), '') END AS text,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kt) AS BIGINT) AS n_removed
    FROM kept
    """,
)
def dedup_substring_self_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTRA-document cleaned corpus — Lee et al.'s FIRST removal
    step, registered (VERDICT r15 next-round #2: the self-runs were
    mined but never applied by a driver-verified query): mine every
    >= 20-token verbatim self-repeat on the planted view
    (dedup_substring_self_runs' derivation, shared helper), merge the
    keep-FIRST-occurrence cut intervals WITHIN each document
    (substring_cut_spans with doc_col='doc_id', start_col='b_start' —
    the later copy is cut, the earliest survives verbatim), and emit
    every document with those spans removed plus exact token
    accounting.  Composes the exact operators the r15 pytest composed
    (operators/dedup.substring_self_run_pairs -> substring_cut_spans
    -> apply_substring_cuts); the Lee-et-al. FIXPOINT property is
    pytest-pinned on this registered pipeline: re-mining self-runs on
    the cleaned output finds ZERO intra-document runs >= k.

    Against the planted view, each planted document loses exactly its
    re-appended 40-token paragraph (b_start = its original token
    count) unless its own content organically extends the repeat —
    both engines replay the truth identically.

    Scale shape: the self-miner's cost (per-document occ² pair
    fan-out, strictly finer join key than the cross miner) + one
    bounded doc-keyed cut aggregation + one doc-keyed left equi-join +
    the narrow indexed-filter projection — the dedup_substring_apply
    shape with the cheapest family member as the miner.  The result is
    served from the buildcache FRAME tier keyed by the corpus
    fingerprint (r18: this stage is also dedup_substring_pipeline's
    stage 1, previously recomputed per bench pass —
    :func:`_intra_cleaned_planted`).  See SCALING.md.
    """
    return _intra_cleaned_planted(spark, sf_dir)


@register(
    "dedup_substring_pipeline",
    # The COMPOSED Lee-et-al. chain, both removal steps IN THE
    # REFERENCE ORDER (VERDICT r16 next-round #1): planted view ->
    # shared gram stage -> self-runs -> within-doc keep-first cuts ->
    # intra-cleaned corpus (cleaned1, stage-1 apply projection) ->
    # re-gram THE CLEANED TEXT (suffix _x names) -> cross-doc runs ->
    # cross-doc keep-first cuts -> final apply, with cleaned1 joined
    # back for the per-stage token accounting.
    oracle=f"""
    WITH {_SQL_SELF_PLANTED_CTE}, {_sql_substr_gram_ctes("planted")},
    {_SQL_SELF_RUNS_CTES}, {_SQL_SUBSTR_CUTS_CTES},
    csagg1 AS (
      SELECT doc_id,
             list({{'s': cut_start, 'e': cut_end}}) AS cs
      FROM cuts GROUP BY doc_id
    ), allt1 AS (
      SELECT d.doc_id, d.text IS NOT NULL AS has_text,
             CASE WHEN d.text IS NOT NULL
                  THEN string_split_regex(trim(lower(d.text)), '\\s+')
                  ELSE CAST([] AS VARCHAR[]) END AS t,
             COALESCE(c.cs,
                      CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS cs
      FROM planted d LEFT JOIN csagg1 c USING (doc_id)
    ), kept1 AS (
      SELECT doc_id, has_text, t,
             list_filter(t, (x, i) ->
               len(list_filter(cs, c -> i - 1 >= c.s AND i - 1 < c.e))
                 = 0) AS kt
      FROM allt1
    ), cleaned1 AS (
      SELECT doc_id,
             CASE WHEN has_text
                  THEN COALESCE(array_to_string(kt, ' '), '') END AS text,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(t) - len(kt) AS BIGINT) AS n_removed
      FROM kept1
    ),
    {_sql_substr_gram_ctes("cleaned1", "_x")}, pair_x AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
             b.pos AS pb, a.pos - b.pos AS diag
      FROM g2_x a JOIN g2_x b ON a.g = b.g AND a.doc_id < b.doc_id
    ), irun_x AS (
      SELECT doc_a, doc_b, diag, pa, pb,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
      FROM pair_x
    ), runs_x AS (
      SELECT doc_a, doc_b, MIN(pa) AS a_start, MIN(pb) AS b_start,
             CAST(MAX(pa) - MIN(pa) + {_SUBSTR_K} AS BIGINT)
               AS match_tokens
      FROM irun_x GROUP BY doc_a, doc_b, diag, grp
    ), spans_x AS (
      SELECT doc_b AS doc_id, b_start AS s,
             b_start + match_tokens AS e
      FROM runs_x
    ), ord_x AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM spans_x
    ), isl2_x AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS grp
      FROM ord_x
    ), cuts_x AS (
      SELECT doc_id, CAST(MIN(s) AS BIGINT) AS cut_start,
             CAST(MAX(e) AS BIGINT) AS cut_end
      FROM isl2_x GROUP BY doc_id, grp
    ), csagg_x AS (
      SELECT doc_id,
             list({{'s': cut_start, 'e': cut_end}}) AS cs
      FROM cuts_x GROUP BY doc_id
    ), allt_x AS (
      SELECT d.doc_id, d.text IS NOT NULL AS has_text,
             CASE WHEN d.text IS NOT NULL
                  THEN string_split_regex(trim(lower(d.text)), '\\s+')
                  ELSE CAST([] AS VARCHAR[]) END AS t,
             COALESCE(c.cs,
                      CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS cs
      FROM cleaned1 d LEFT JOIN csagg_x c USING (doc_id)
    ), kept_x AS (
      SELECT doc_id, has_text, t,
             list_filter(t, (x, i) ->
               len(list_filter(cs, c -> i - 1 >= c.s AND i - 1 < c.e))
                 = 0) AS kt
      FROM allt_x
    )
    SELECT k.doc_id,
           CASE WHEN k.has_text
                THEN COALESCE(array_to_string(k.kt, ' '), '') END AS text,
           c.n_tokens AS n_tokens,
           c.n_removed AS n_removed_intra,
           CAST(len(k.t) - len(k.kt) AS BIGINT) AS n_removed_cross
    FROM kept_x k JOIN cleaned1 c USING (doc_id)
    """,
)
def dedup_substring_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED Lee-et-al. substring-dedup pipeline in the
    REFERENCE ORDER (Lee et al. 2022 §4: remove intra-document repeats
    FIRST, then mine cross-document runs ON THE ALREADY-CLEANED text) —
    the family's actual deliverable, previously registered only as two
    independent halves that each cleaned the raw corpus (VERDICT r16
    next-round #1): self-runs on the planted view -> within-document
    keep-first cuts -> intra-cleaned corpus -> cross-document runs ON
    THE CLEANED CORPUS -> cross-document keep-first cuts -> the final
    corpus, with exact per-stage accounting.

    Order matters observably: a document's self-repeated paragraph is
    removed BEFORE cross mining, so the cross stage sees each planted
    document's canonical single-copy text (its grams cannot collide
    twice against a partner through the duplicated paragraph, and
    cut offsets land in the intra-cleaned token space, not the
    planted one).  Operators composed exactly as registered
    separately: substring_self_run_pairs -> substring_cut_spans
    (doc_col='doc_id', start_col='b_start') -> apply_substring_cuts ->
    substring_run_pairs -> substring_cut_spans -> apply_substring_cuts
    (operators/dedup.py).  The DOUBLE fixpoint is pytest-pinned on this
    registered pipeline at sf0.001: the final corpus has ZERO
    intra-document AND ZERO cross-document runs >= k.

    Output: (doc_id, text, n_tokens, n_removed_intra, n_removed_cross)
    — one row per document; text is the final cleaned normalized token
    stream, n_tokens the PLANTED-view token count, and the two removal
    counts tie out per stage (n_tokens − n_removed_intra −
    n_removed_cross = the final token count).

    Scale shape: stage 1 is dedup_substring_self_apply's plan verbatim
    — and since r18 literally its FRAME-TIER artifact
    (:func:`_intra_cleaned_planted`, VERDICT r17 next-round #4: the
    two queries recomputed the identical intra clean per bench pass);
    stage 2 re-grams the INTRA-CLEANED corpus (strictly no more tokens
    than the raw one) through the same capped gram stage and is
    dedup_substring_apply's plan on that input; the accounting join is
    one doc-keyed 1:1 equi-join against the persisted stage-1 output
    (which also feeds both stage-2 consumers, so the intra clean is
    computed once).  No new scan shapes, no cartesian, no row UDFs.
    See SCALING.md.
    """
    from ..operators import dedup

    intra = hold(_intra_cleaned_planted(spark, sf_dir).persist())
    corpus = intra.select("doc_id", "text")
    cross_runs = dedup.substring_run_pairs(
        corpus, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
    )
    final = dedup.apply_substring_cuts(
        corpus, dedup.substring_cut_spans(cross_runs)
    )
    out = final.join(
        intra.select(
            "doc_id",
            F.col("n_tokens").alias("__nt"),
            F.col("n_removed").alias("n_removed_intra"),
        ),
        "doc_id",
    ).select(
        "doc_id",
        "text",
        F.col("__nt").alias("n_tokens"),
        "n_removed_intra",
        F.col("n_removed").alias("n_removed_cross"),
    )
    return out


@register(
    "dedup_substring_stitch",
    # Replays the probe-then-stitch path batch-side: index grams over
    # the indexed partition with the occurrence cap and NO >= 2 floor
    # (a unique indexed gram can still match an arrival —
    # substring_gram_index's contract), ALL stream-side grams, the
    # gram-key equi-join with the probe's self-pair drop, then the
    # stitcher verbatim: DISTINCT flags, diagonal islands per
    # (doc_id, index_doc_id, pos - index_pos), maximal run length
    # max(pa) - min(pa) + k.  Every island is >= one gram so
    # match_tokens >= k holds by construction (the miners' convention).
    oracle=f"""
    WITH sdocs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 4 = 0 AND text IS NOT NULL
    ), idocs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 4 <> 0 AND text IS NOT NULL
    ), itoks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM idocs
    ), igrams AS (
      SELECT doc_id AS index_doc_id, CAST(p AS BIGINT) AS index_pos,
             md5(array_to_string(t[p + 1 : p + {_SUBSTR_K}], ' ')) AS g
      FROM itoks, unnest(range(0, greatest(0, len(t) - {_SUBSTR_K} + 1)))
           AS u(p)
    ), ikeep AS (
      SELECT g FROM igrams GROUP BY g
      HAVING COUNT(*) <= {_SUBSTR_MAX_OCC}
    ), idx AS (
      SELECT igrams.* FROM igrams JOIN ikeep USING (g)
    ), stoks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM sdocs
    ), sgrams AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos,
             md5(array_to_string(t[p + 1 : p + {_SUBSTR_K}], ' ')) AS g
      FROM stoks, unnest(range(0, greatest(0, len(t) - {_SUBSTR_K} + 1)))
           AS u(p)
    ), flags AS (
      SELECT DISTINCT s.doc_id, i.index_doc_id,
             s.pos AS pa, i.index_pos AS pb,
             s.pos - i.index_pos AS diag
      FROM sgrams s JOIN idx i USING (g)
      WHERE s.doc_id <> i.index_doc_id
    ), fisl AS (
      SELECT doc_id, index_doc_id, diag, pa, pb,
             pa - row_number() OVER (
               PARTITION BY doc_id, index_doc_id, diag ORDER BY pa) AS grp
      FROM flags
    )
    SELECT doc_id, index_doc_id, MIN(pa) AS a_start, MIN(pb) AS b_start,
           CAST(MAX(pa) - MIN(pa) + {_SUBSTR_K} AS BIGINT) AS match_tokens
    FROM fisl GROUP BY doc_id, index_doc_id, diag, grp
    """,
)
def dedup_substring_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagged-runs STITCHER, driver-verified end-to-end (VERDICT
    r16 next-round #3: operators/dedup.stitch_flag_runs was the one r16
    product operator whose correctness rested on pytest alone): split
    the documents corpus into a \"stream\" partition (doc_id % 4 == 0)
    and an \"index\" partition, build the materialized gram index
    exactly as the versioned-swap deployment does
    (operators/dedup.substring_gram_index — occurrence cap, no >= 2
    floor), run the streaming probe's OWN plan batch-side against it
    (streaming/stateful.streaming_substring_flags on a batch frame —
    the tested stream==batch duality), and stitch the positional
    collision flags into maximal runs with
    operators/dedup.stitch_flag_runs.  The DuckDB oracle replays the
    whole chain independently, so the driver hash match verifies the
    stitcher's diagonal-island reconstruction on real flag evidence —
    the discovery -> monitoring handoff closed with a cross-engine
    check, not just the pytest equivalence.

    Output: (doc_id, index_doc_id, a_start, b_start, match_tokens) —
    one row per maximal stream x index run, a_start in the stream
    document, b_start in the indexed one; the planted cross-document
    spans that straddle the 1:3 split are exactly what it finds.

    Scale shape: the index build is the batch gram stage (one doc-keyed
    lead-window exchange + a partial-agg cap); the probe join is a
    gram-key equi-join against the capped index (fan-out bounded by the
    cap, never all-pairs); the stitcher adds ONE distinct + one
    (doc, index_doc, diag)-keyed window + the same-keyed rollup over
    the flag frame only — no corpus re-access.  See SCALING.md.
    """
    from ..operators import dedup
    from ..streaming import stateful

    docs = load_table(spark, sf_dir, "documents")
    stream_docs = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", "text"
    )
    index_docs = docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id", "text"
    )
    # the versioned-swap artifact, actually materialized (r18): built
    # once per corpus fingerprint in the buildcache frame tier, re-read
    # by every later pass — the deployment shape the docstring claims
    idx = _cached_gram_index(spark, sf_dir, "index_mod4", index_docs)
    flags = stateful.streaming_substring_flags(
        stream_docs, index=idx, k=_SUBSTR_K
    )
    return dedup.stitch_flag_runs(flags, k=_SUBSTR_K)


def _cached_gram_index(
    spark: SparkSession, sf_dir: str, tag: str, corpus: DataFrame
) -> DataFrame:
    """The materialized substring gram index served from the buildcache
    FRAME tier (r18): substring_gram_index's docstring has always
    stated the production contract — "write it under a versioned path,
    read it back" — but the registered consumers (the stitch replay,
    the incremental miner) rebuilt it in-session per bench pass
    because the sandbox has no persistent ingest.  The frame tier IS
    that versioned path: built once per (corpus fingerprint, split
    tag, k, cap), re-read by every later pass; the _v1 token versions
    the build semantics (the ADVICE r17 rule).  The index is a
    deterministic SET and every consumer is order-insensitive
    (gram-key joins), so cached rows == rebuilding."""
    from ..operators import buildcache, dedup

    ckey = (
        "substring_gram_index_v1",
        table_fingerprint(sf_dir, "documents"),
        tag,
        _SUBSTR_K,
        _SUBSTR_MAX_OCC,
    )
    return buildcache.cached_frame(
        spark,
        ckey,
        "index_doc_id long, index_pos long, g string",
        lambda: dedup.substring_gram_index(
            corpus, k=_SUBSTR_K, max_gram_occ=_SUBSTR_MAX_OCC
        ).select("index_doc_id", "index_pos", "g"),
    )


def _cached_gram_counts(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    index: DataFrame,
    *,
    k: int,
    max_gram_occ: int,
) -> DataFrame:
    """The per-gram count SIDECAR of the cached gram index (r18,
    OPTIMIZATION_r18.md "per-gram occurrence count in the gram-index
    artifact"): substring_incremental_runs' combined floor/cap needs
    the index side's counts, and recomputing them is a FULL-index
    aggregation per drop — at 100 TB a corpus-sized shuffle paid on
    every daily drop for numbers the index build already had in hand
    (its cap filter counts every gram).  The deployment contract is
    one versioned artifact with two parts, rows + counts, swapped
    together; here both parts live in the frame tier under sibling
    keys derived from the SAME (fingerprint, tag, k, cap), and the
    counts are derived from the CACHED index frame, so cold and warm
    passes read identical rows (operators/dedup.substring_gram_counts
    — exact, because the cap drops grams whole, never positions).

    ``k`` / ``max_gram_occ`` are EXPLICIT parameters (ADVICE r18): the
    cache key must provably describe the ``index`` argument, so the
    caller states the parameters its index was built with instead of
    this helper silently keying on module constants — a future call
    site passing a differently-parameterized index would otherwise
    read poisoned counts under the wrong key."""
    from ..operators import buildcache, dedup

    ckey = (
        "substring_gram_counts_v1",
        table_fingerprint(sf_dir, "documents"),
        tag,
        k,
        max_gram_occ,
    )
    return buildcache.cached_frame(
        spark,
        ckey,
        "g string, n_occ long",
        lambda: dedup.substring_gram_counts(index),
    )


_SUBSTR_DROP_MOD = 7  # arrivals = doc_id % 10 == 7 — the one residue
# whose drop-internal leg is non-empty at the sf0.01 driver gate
# (probed r18: 6 cross-leg + 1 drop-leg runs there; 42 + 5 at sf0.1)


def _sql_substr_incremental() -> str:
    """Oracle for dedup_substring_incremental: replays the per-drop
    ingest chain independently and RESTRICTED to the two incremental
    legs — index grams capped over the established corpus alone
    (min_occ=1, the substring_gram_index build), raw drop grams, the
    COMBINED floor+cap on the drop's gram keys, the drop×index leg
    (oriented doc_a < doc_b by id) plus the drop×drop leg, diagonal
    islands, the arrival-yields cut-side selection (an arrival is cut
    against the immutable corpus regardless of id order;
    drop-internal runs keep the smaller id), the gaps-and-islands
    interval merge, and the indexed-list_filter apply projection over
    the arrivals with per-leg run accounting."""
    return f"""
    WITH arrivals AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 = {_SUBSTR_DROP_MOD}
    ),
    icorp AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 10 <> {_SUBSTR_DROP_MOD}
    ),
    {_sql_substr_gram_ctes("icorp", "_i",
                           having=f"COUNT(*) <= {_SUBSTR_MAX_OCC}")},
    {_sql_substr_gram_ctes("arrivals", "_n", having="COUNT(*) >= 1")},
    cnt_n AS (SELECT g, COUNT(*) AS nc FROM g2_n GROUP BY g),
    cnt_i AS (SELECT g, COUNT(*) AS ic FROM g2_i GROUP BY g),
    keep_c AS (
      SELECT g FROM cnt_n LEFT JOIN cnt_i USING (g)
      WHERE nc + COALESCE(ic, 0) BETWEEN 2 AND {_SUBSTR_MAX_OCC}
    ),
    gn AS (SELECT g2_n.* FROM g2_n JOIN keep_c USING (g)),
    gi AS (SELECT g2_i.* FROM g2_i JOIN keep_c USING (g)),
    pair AS (
      SELECT least(n.doc_id, i.doc_id) AS doc_a,
             greatest(n.doc_id, i.doc_id) AS doc_b,
             CASE WHEN n.doc_id < i.doc_id THEN n.pos ELSE i.pos END
               AS pa,
             CASE WHEN n.doc_id < i.doc_id THEN i.pos ELSE n.pos END
               AS pb,
             (n.doc_id < i.doc_id) AS a_new,
             (i.doc_id < n.doc_id) AS b_new
      FROM gn n JOIN gi i ON n.g = i.g AND n.doc_id <> i.doc_id
      UNION ALL
      SELECT a.doc_id, b.doc_id, a.pos, b.pos, TRUE, TRUE
      FROM gn a JOIN gn b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    isl0 AS (
      SELECT doc_a, doc_b, a_new, b_new, pa, pb, pa - pb AS diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS grp
      FROM pair
    ),
    runs0 AS (
      SELECT doc_a, doc_b, a_new, b_new,
             MIN(pa) AS a_start, MIN(pb) AS b_start,
             CAST(MAX(pa) - MIN(pa) + {_SUBSTR_K} AS BIGINT)
               AS match_tokens
      FROM isl0 GROUP BY doc_a, doc_b, a_new, b_new, diag, grp
    ),
    runs AS (
      SELECT CASE WHEN a_new AND b_new THEN doc_b
                  WHEN a_new THEN doc_a ELSE doc_b END AS doc_b,
             CASE WHEN a_new AND b_new THEN b_start
                  WHEN a_new THEN a_start ELSE b_start END AS b_start,
             match_tokens,
             (a_new AND b_new) AS in_drop
      FROM runs0
    ),
    {_SQL_SUBSTR_CUTS_CTES},
    legs AS (
      SELECT doc_b AS doc_id,
             SUM(CASE WHEN in_drop THEN 0 ELSE 1 END)
               AS n_runs_vs_index,
             SUM(CASE WHEN in_drop THEN 1 ELSE 0 END)
               AS n_runs_in_drop
      FROM runs GROUP BY doc_b
    ),
    csagg AS (
      SELECT doc_id,
             list({{'s': cut_start, 'e': cut_end}}) AS cs
      FROM cuts GROUP BY doc_id
    ), allt AS (
      SELECT d.doc_id, d.text IS NOT NULL AS has_text,
             CASE WHEN d.text IS NOT NULL
                  THEN string_split_regex(trim(lower(d.text)), '\\s+')
                  ELSE CAST([] AS VARCHAR[]) END AS t,
             COALESCE(c.cs,
                      CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS cs
      FROM arrivals d LEFT JOIN csagg c USING (doc_id)
    ), kept AS (
      SELECT doc_id, has_text, t,
             list_filter(t, (x, i) ->
               len(list_filter(cs, c -> i - 1 >= c.s AND i - 1 < c.e))
                 = 0) AS kt
      FROM allt
    )
    SELECT kp.doc_id,
           CASE WHEN kp.has_text
                THEN COALESCE(array_to_string(kp.kt, ' '), '') END
             AS text,
           CAST(len(kp.t) AS BIGINT) AS n_tokens,
           CAST(len(kp.t) - len(kp.kt) AS BIGINT) AS n_removed,
           CAST(COALESCE(l.n_runs_vs_index, 0) AS BIGINT)
             AS n_runs_vs_index,
           CAST(COALESCE(l.n_runs_in_drop, 0) AS BIGINT)
             AS n_runs_in_drop
    FROM kept kp LEFT JOIN legs l USING (doc_id)
    """


@register("dedup_substring_incremental", oracle=_sql_substr_incremental())
def dedup_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL exact-substring dedup — the per-drop ingest shape
    for the substring family (birth r18, VERDICT r17 next-round #5:
    the MinHash family has had dedup_incremental_lsh since r8; the
    substring family's per-drop shape existed only as the streaming
    probe + stitcher): treat doc_id % 10 == 7 as today's arrival
    drop and the rest as the established corpus, build the corpus's
    materialized gram index exactly as the versioned-swap deployment
    does (operators/dedup.substring_gram_index — the artifact the
    streaming probe consumes, here its batch consumer), mine ONLY the
    drop×index and drop×drop legs
    (operators/dedup.substring_incremental_runs — never re-mining
    index×index; the combined floor/cap makes the legs bit-identical
    to the full rebuild restricted to pairs touching the drop,
    pytest-pinned), charge every cut to the ARRIVAL (the established
    corpus is immutable, so an arrival yields regardless of id order;
    drop-internal runs keep the smaller id), merge the cut intervals
    (substring_cut_spans) and emit the cleaned arrivals
    (apply_substring_cuts) with exact token + per-leg run accounting.

    Output: (doc_id, text, n_tokens, n_removed, n_runs_vs_index,
    n_runs_in_drop) — one row per ARRIVAL (untouched arrivals pass
    through with 0s), text the cleaned normalized token stream.

    Scale shape: the index is a pre-built scan (at 100 TB: built once
    at corpus ingest, versioned-swapped — this query rebuilds it
    in-session only because the sandbox has no persistent ingest); the
    drop's gram build is one doc-keyed window over the DROP alone; the
    combined-count stage is two partial-agg counts + a gram-key
    semi-join; both pair legs are cap-bounded gram-key equi-joins;
    cuts/apply are doc-keyed windows + one 1:1 join over arrivals.
    Nothing re-grams or self-joins the established corpus.  See
    SCALING.md.
    """
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    arrivals = docs.filter(
        F.col("doc_id") % 10 == _SUBSTR_DROP_MOD
    ).select("doc_id", "text")
    corpus = docs.filter(
        F.col("doc_id") % 10 != _SUBSTR_DROP_MOD
    ).select("doc_id", "text")
    # the pre-built versioned index, actually served as one (r18): the
    # frame tier materializes it once per corpus fingerprint, so every
    # later drop pays only its own legs — the documented 100 TB shape
    index = _cached_gram_index(spark, sf_dir, "corpus_mod10_7", corpus)
    # its count sidecar (r18): the combined floor/cap reads build-time
    # counts instead of re-aggregating the full index per drop
    counts = _cached_gram_counts(
        spark,
        sf_dir,
        "corpus_mod10_7",
        index,
        k=_SUBSTR_K,
        max_gram_occ=_SUBSTR_MAX_OCC,
    )
    runs = dedup.substring_incremental_runs(
        arrivals,
        index,
        k=_SUBSTR_K,
        max_gram_occ=_SUBSTR_MAX_OCC,
        index_counts=counts,
    ).persist()  # feeds the cut chain AND the per-leg accounting
    hold(runs)
    cutruns = runs.select(
        F.when(F.col("a_is_new") & F.col("b_is_new"), F.col("doc_b"))
        .when(F.col("a_is_new"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id"),
        F.when(F.col("a_is_new") & F.col("b_is_new"), F.col("b_start"))
        .when(F.col("a_is_new"), F.col("a_start"))
        .otherwise(F.col("b_start"))
        .alias("s"),
        "match_tokens",
        (F.col("a_is_new") & F.col("b_is_new")).alias("in_drop"),
    )
    cuts = dedup.substring_cut_spans(
        cutruns, doc_col="doc_id", start_col="s"
    )
    cleaned = dedup.apply_substring_cuts(arrivals, cuts)
    legs = cutruns.groupBy("doc_id").agg(
        F.sum(
            F.when(~F.col("in_drop"), 1).otherwise(0)
        ).cast("long").alias("n_runs_vs_index"),
        F.sum(
            F.when(F.col("in_drop"), 1).otherwise(0)
        ).cast("long").alias("n_runs_in_drop"),
    )
    out = cleaned.join(legs, "doc_id", "left").select(
        "doc_id",
        "text",
        "n_tokens",
        "n_removed",
        F.coalesce("n_runs_vs_index", F.lit(0))
        .cast("long")
        .alias("n_runs_vs_index"),
        F.coalesce("n_runs_in_drop", F.lit(0))
        .cast("long")
        .alias("n_runs_in_drop"),
    )
    return out
