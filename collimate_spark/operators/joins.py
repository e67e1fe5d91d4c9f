"""Join-type coverage: inner/left/right/full/semi/anti/cross plus the two
joins Spark lacks as primitives — as-of join and range (interval) join —
re-expressed as scalable DataFrame patterns.

As-of join: the naive formulation is a non-equi theta join (O(n·m) nested
loop). The scalable pattern used here is union-the-two-streams + a
partitioned window `last(ignorenulls)` — one shuffle on the partition key,
linear work, no nested loop. Range join: attach a coarse bucket key to both
sides so the range predicate rides on top of an equi hash join instead of a
BroadcastNestedLoopJoin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: every customer, order count + spend (0 if none)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY c_custkey
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer over two disjoint-ish aggregates: customers by nation vs
    suppliers by nation."""
    cust = load_table(spark, "customer", sf_dir).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    supp = load_table(spark, "supplier", sf_dir).groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full")
        .select(
            F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


JOIN_FULL_SQL = """
WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
ORDER BY nationkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi: customers having at least one urgent order. Plans as a
    semi hash join — no duplication, right side reduced to keys."""
    cust = load_table(spark, "customer", sf_dir)
    urgent = load_table(spark, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti: customers with NO orders above 400k."""
    cust = load_table(spark, "customer", sf_dir)
    big = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
ORDER BY c_custkey
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny dims (region × nation) — legitimate only when
    both sides are broadcast-sized; Spark plans BroadcastNestedLoop."""
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return region.crossJoin(nation).orderBy("r_regionkey", "n_nationkey")


JOIN_CROSS_SQL = """
SELECT r_regionkey, r_name, n_nationkey, n_name
FROM region CROSS JOIN nation
ORDER BY r_regionkey, n_nationkey
"""


def join_theta_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join with inequality: suppliers richer than the customers of
    their own nation (equi key n_nationkey carries the hash join; the
    inequality rides as a post-join predicate — no nested loop)."""
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    return (
        supp.join(
            F.broadcast(cust),
            (supp.s_nationkey == cust.c_nationkey) & (supp.s_acctbal > cust.c_acctbal),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_poorer_customers"))
        .orderBy("s_suppkey")
    )


JOIN_THETA_SQL = """
SELECT s_suppkey, s_name, COUNT(*) AS n_poorer_customers
FROM supplier JOIN customer
  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
GROUP BY s_suppkey, s_name
ORDER BY s_suppkey
"""


def salted_join_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact-dim join via explicit salting (functions/skew.py): 90%
    of events collapse onto one synthetic hot key — the power-law shape
    (bot user, null-ish default) that overwhelms a single task at 100 TB
    even with AQE splitting, when the dim is broadcast-ineligible. The
    salt spreads the hot key across 8 tasks; results are provably
    identical to the plain join (the oracle IS the plain join). Salting
    is deterministic (hash of a stable id, not rand()), so retries and
    the driver's hash check both see one answer."""
    from collimate_spark.functions.skew import salted_join

    ev = load_table(spark, "events", sf_dir).select(
        F.when(F.col("user_id") % 10 < 9, 0).otherwise(F.col("user_id")).alias("k"),
        "value",
    )
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("k"), "c_acctbal"
    )
    return (
        salted_join(ev, dim, "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy("k")
    )


SALTED_JOIN_SQL = """
WITH ev AS (
  SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS k, value
  FROM events
)
SELECT k, COUNT(*) AS n_rows,
       ROUND(SUM(value), 2) AS sum_value,
       ROUND(MAX(c_acctbal), 2) AS acctbal
FROM ev JOIN customer ON k = c_custkey
GROUP BY k
ORDER BY k
"""


# Auto-select thresholds for the as-of window-key granularity (VERDICT
# r9 directive #1 — the _auto_two_level pattern from windows.py applied
# to the join's partition key). Day granularity is the 100 TB shape
# (bounded per-partition sorts even when all activity lands in one hot
# month), but its carry spine + extra grain column cost ~+0.4s at bench
# scale where a month key's 10 partitions of ~10k rows sort instantly.
# The BYTES floor decides with driver-side file metadata only (no job):
# this events layout measures ~20 B/row compressed (2.0 MB at 100k
# rows), so 8 MiB ≈ 420k events — below the 500k/key crossover even in
# the worst case of EVERY event landing in one (bucket, month) — and
# the floor stays zero-job at every bench SF (sf0.1 = 2.0 MB).
# tests/test_plans.py re-measures bytes/row on the fixture and asserts
# this worst-case arithmetic, so a codec or schema change that shrinks
# bytes/row re-breaks the floor LOUDLY instead of silently staying
# month-grain at a day-grain scale (the windows.py 256 MiB lesson).
# Above the floor, one cheap groupBy-count reads the true max
# (bucket, month) occupancy: the r8 sweep measured a month key going
# 5.5× superlinear at ~1M rows/key (10M one-month events), while ≤500k
# rows sort comfortably inside one task; tests force both paths and
# assert identical results.
_ASOF_DAY_MIN_BYTES = 8 << 20
_ASOF_ROWS_PER_KEY = 500_000


def _auto_asof_day_grain(events: DataFrame) -> bool:
    from collimate_spark.ingest import _local_input_bytes

    nbytes = _local_input_bytes(events)
    # unknowable sizes (non-file source) fall through to the measured
    # count — never guess month-grain blind at a 100 TB input
    if 0 < nbytes < _ASOF_DAY_MIN_BYTES:
        return False
    mx = (
        events.groupBy(
            (F.col("user_id") % 10).alias("bucket"),
            F.date_trunc("month", "ts").alias("m"),
        )
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    return (mx or 0) > _ASOF_ROWS_PER_KEY


def asof_join_events_orders(
    spark: SparkSession, sf_dir: str, *, day_grain: bool | None = None
) -> DataFrame:
    """As-of join: for each event, the latest order date at-or-before the
    event's timestamp, matched on a shared bucket key.

    Scalable pattern (no nested loop): tag both sides, union, window
    `last(value, ignorenulls=True)` ordered by time. The window partition
    key is COMPOSITE — (bucket, time-grain) — so parallelism is
    n_buckets × n_grains instead of n_buckets(10), and per-partition row
    counts stay bounded as data grows: a bucket-only key is the classic
    as-of scale-killer (10-way max parallelism, unbounded partitions at
    100×). The grain AUTO-SELECTS by measured (bucket, month) occupancy
    (``_auto_asof_day_grain``): month below the crossover (this
    dataset's bench SFs — 10k rows/key sort instantly and skip the
    day-spine constant), DAY above it (the r8 sweep find: with all
    events in ONE hot month, a month key collapsed 10M events into 10
    partitions and the per-partition sort grew 5.5× superlinear; day
    splits the hot month 31× while the carry spine stays tiny —
    buckets × distinct grains rows, aggregate + window + broadcast).
    Cross-grain correctness comes from that carry-over table: the last
    order timestamp strictly before each grain per bucket, coalesced in
    wherever the within-grain window saw no earlier order. Both paths
    are hash-identical by construction (tests force each). This is how
    a trades/quotes as-of join runs at 100 TB; for intraday-dense feeds
    drop the key one more level (hour) — same carry construction.
    """
    events_raw = load_table(spark, "events", sf_dir)
    if day_grain is None:
        day_grain = _auto_asof_day_grain(events_raw)
    grain = "day" if day_grain else "month"
    events = events_raw.select(
        (F.col("user_id") % 10).alias("bucket"),
        F.col("ts"),
        F.col("event_id"),
    )
    orders = load_table(spark, "orders", sf_dir).select(
        (F.col("o_custkey") % 10).alias("bucket"),
        F.col("o_orderdate").alias("ts"),
    )
    right = orders.select("bucket", "ts", F.lit(None).cast("long").alias("event_id"),
                          F.col("ts").alias("order_ts"))
    left = events.select("bucket", "ts", "event_id", F.lit(None).cast("timestamp").alias("order_ts"))
    unioned = right.unionByName(left).withColumn(
        "gkey", F.date_trunc(grain, "ts").cast("date")
    )
    # event_id nulls-first sorts order rows first at identical ts →
    # "at-or-before" ties resolve to include the simultaneous order.
    w = (
        Window.partitionBy("bucket", "gkey")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = unioned.withColumn(
        "asof_within", F.last("order_ts", ignorenulls=True).over(w)
    )
    # carry-over: last order ts strictly before each grain, per bucket —
    # computed on the (bucket, gkey) spine (buckets × distinct grains rows).
    # r13 (guide §2.4): both are derived from the SIDES, not from the
    # fact-sized union — order_ts is non-null only on the orders arm, so
    # grain_last == a per-(bucket, grain) max over orders alone, and the
    # spine is the distinct union of each side's distinct grains (same
    # set; map-side partials collapse before the shuffle). The
    # before-plan re-ran the 2-scan union for each of the three
    # references (6 FileScans); now events and orders scan twice each,
    # and the broadcast build side never touches the union. glast casts
    # date→timestamp exactly as the union's type coercion did, so values
    # and schema are unchanged.
    # scratch-cached: it feeds both the spine union and the carry join,
    # and uncached Spark re-scans + re-aggregates orders for each
    grain_last = (
        orders.withColumn("gkey", F.date_trunc(grain, "ts").cast("date"))
        .groupBy("bucket", "gkey")
        .agg(F.max(F.col("ts").cast("timestamp")).alias("glast"))
        .transform(scache)
    )
    ev_grains = events.select(
        "bucket", F.date_trunc(grain, "ts").cast("date").alias("gkey")
    ).distinct()
    spine = ev_grains.unionByName(grain_last.select("bucket", "gkey")).distinct()
    carry_w = (
        Window.partitionBy("bucket")
        .orderBy("gkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        spine.join(grain_last, ["bucket", "gkey"], "left")
        .withColumn("carry_ts", F.max("glast").over(carry_w))
        .select("bucket", "gkey", "carry_ts")
    )
    return (
        within.filter(F.col("event_id").isNotNull())
        .join(F.broadcast(carry), ["bucket", "gkey"], "left")
        .select(
            "event_id",
            F.coalesce(F.col("asof_within"), F.col("carry_ts")).alias("asof_order_ts"),
        )
        .orderBy("event_id")
    )


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance, same-table roles: for each
    CLICK event, the user's EARLIEST purchase at-or-after it, plus the
    tolerance-gated variant (NULL unless within 2 hours) — the "next
    fill"/attribution semantics. Same scalable shape as the backward
    as-of, mirrored: union the two roles, ``first(ignorenulls)`` over a
    forward frame on a composite (user_id, day) window key (parallelism
    = users × days, per-partition rows bounded as data grows), purchase
    rows sorted AFTER clicks at identical ts (at-or-after tie includes
    the simultaneous purchase), and a carry-over table holding the first
    purchase of any FOLLOWING day per user. The carry is keyed by
    (user_id, day) — distinct user-days, FACT-proportional at 100 TB —
    so its join carries no hint: the planner broadcasts it while it fits
    under the session threshold, and past the ceiling the join stays a
    shuffle on the same (user_id, day) key the window pass already
    partitioned by instead of failing. The backward variant's
    (bucket, month) carry stays unconditionally hinted — its
    cardinality is bounded by construction."""
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    # r13 (guide §2.4, second pass): the two union arms are DISJOINT
    # row subsets of the same table with conditional columns, so the
    # union of two filtered scans is ONE scan with a pushed
    # event_type IN (...) filter and per-row CASEs — same rows, same
    # types, same NULL placement; row order is irrelevant pre-window.
    unioned = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "ts",
            F.when(F.col("event_type") == "click", F.col("event_id")).alias(
                "event_id"
            ),
            F.when(F.col("event_type") == "purchase", F.col("ts")).alias(
                "purchase_ts"
            ),
        )
        .withColumn("day", F.col("ts").cast("date"))
    )
    # event_id nulls-LAST sorts purchase rows after clicks at identical
    # ts → "at-or-after" ties resolve to include the simultaneous purchase.
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    within = unioned.withColumn(
        "asof_within", F.first("purchase_ts", ignorenulls=True).over(w)
    )
    # r13 (guide §2.4, same fix as the backward variant): day_first and
    # the spine derive from the SIDES, not the fact-sized union —
    # purchase_ts is non-null only on the purchase arm (and equals ts
    # there, no type coercion in this same-table union), so day_first is
    # a per-(user, day) min over purchases alone; the spine is the
    # distinct union of each side's distinct days (identical set).
    # day_first is scratch-cached: it feeds both the spine union and the
    # carry join. Events FileScans: 5 before, 4 after (the union's two
    # arms + one per side for day_first/click_days); min-of-4
    # 1.285 → 0.697 s.
    day_first = (
        purchases.withColumn("day", F.col("ts").cast("date"))
        .groupBy("user_id", "day")
        .agg(F.min("ts").alias("dfirst"))
        .transform(scache)
    )
    click_days = clicks.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    spine = click_days.unionByName(day_first.select("user_id", "day")).distinct()
    carry_w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    carry = (
        spine.join(day_first, ["user_id", "day"], "left")
        .withColumn("carry_ts", F.min("dfirst").over(carry_w))
        .select("user_id", "day", "carry_ts")
    )
    nxt = F.coalesce(F.col("asof_within"), F.col("carry_ts"))
    return (
        within.filter(F.col("event_id").isNotNull())
        .join(carry, ["user_id", "day"], "left")
        .select(
            "event_id",
            nxt.alias("next_purchase_ts"),
            F.when(nxt <= F.expr("ts + INTERVAL 2 HOUR"), nxt).alias(
                "next_purchase_within_2h"
            ),
        )
        .orderBy("event_id")
    )


ASOF_FORWARD_SQL = """
SELECT event_id,
       (SELECT MIN(p.ts) FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
           AND p.ts >= e.ts) AS next_purchase_ts,
       (SELECT MIN(p.ts) FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
           AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 2 HOUR) AS next_purchase_within_2h
FROM events e
WHERE e.event_type = 'click'
ORDER BY event_id
"""


ASOF_JOIN_SQL = """
SELECT event_id,
       (SELECT MAX(o_orderdate) FROM orders
         WHERE o_custkey % 10 = e.user_id % 10 AND o_orderdate <= e.ts) AS asof_order_ts
FROM events e
ORDER BY event_id
"""


def range_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: count events of a user-bucket falling within 7
    days after each order of the same bucket.

    The join key is COMPOSITE — (bucket, week) — the interval-bucketing
    pattern for range joins: each event carries its own week; each order's
    7-day window overlaps at most two weeks, so the order side is
    replicated to exactly those two week keys and the range predicate
    rides the hash join as a post-filter. Join-key cardinality becomes
    n_buckets × n_weeks (thousands) instead of n_buckets(10), and a key's
    row count is bounded by one week of one bucket — the fan-out bound a
    plain bucket-key range join lacks at 100×. An event matches via its
    single week replica only, so no pair is produced twice; unmatched
    order replicas contribute zero to count(ts).
    """
    epoch = F.lit("1970-01-01").cast("date")
    events = load_table(spark, "events", sf_dir).select(
        (F.col("user_id") % 10).alias("bucket"),
        F.col("ts"),
        F.floor(F.datediff(F.col("ts").cast("date"), epoch) / 7).alias("week"),
    )
    orders = load_table(spark, "orders", sf_dir).select(
        (F.col("o_custkey") % 10).alias("bucket"),
        "o_orderkey",
        "o_orderdate",
        F.explode(
            F.array(
                F.floor(F.datediff(F.col("o_orderdate").cast("date"), epoch) / 7),
                F.floor(F.datediff(F.col("o_orderdate").cast("date"), epoch) / 7) + 1,
            )
        ).alias("week"),
    )
    joined = orders.join(
        events,
        (orders.bucket == events.bucket)
        & (orders.week == events.week)
        & (events.ts >= orders.o_orderdate)
        & (events.ts < F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.count("ts").alias("n_events_7d"))
        .orderBy("o_orderkey")
    )


RANGE_JOIN_SQL = """
SELECT o_orderkey, COUNT(ts) AS n_events_7d
FROM orders LEFT JOIN events
  ON o_custkey % 10 = user_id % 10
 AND ts >= o_orderdate
 AND ts < o_orderdate + INTERVAL 7 DAY
GROUP BY o_orderkey
ORDER BY o_orderkey
"""


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (edit-distance) self-join — entity resolution's core
    primitive — via the deletion-neighborhood blocking pattern: each name
    emits one key per character position with that position wildcarded;
    two equal-length names collide on a key iff they differ in at most
    that one substitution, so candidate generation is an equi-join on
    ~|name| keys per row instead of an O(n²) cross with levenshtein —
    the 100 TB answer to fuzzy matching. Candidates are then verified
    with exact levenshtein == 1 (both engines implement the same DP
    definition, so the oracle hash-matches).

    The join key is ``xxhash64`` of the wildcard string, not the string
    itself: key equality is all that matters (keys never escape the
    kernel), so an 8-byte long replaces an 18-char string through the
    self-join's exchange — the same 2^-64-collision posture as dedup's
    hashed shingles, and any spurious collision still faces the exact
    levenshtein verify. Key building explodes the position sequence
    first so the substr/concat runs in whole-stage codegen instead of
    the interpreted ``transform`` HOF evaluator (r13 interleaved A/B:
    min-of-5 2.27 -> 1.96 s, identical 14 998 pairs)."""
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    keyed = cust.select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(1), F.length("c_name"))).alias("i"),
    ).select(
        "c_custkey",
        "c_name",
        F.xxhash64(
            F.concat(
                F.col("c_name").substr(F.lit(1), F.col("i") - 1),
                F.lit("*"),
                F.col("c_name").substr(F.col("i") + 1, F.length("c_name")),
            )
        ).alias("k"),
    )
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), "k")
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_custkey").alias("cust_b"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") == 1)
    )
    return (
        pairs.groupBy("cust_a")
        .agg(F.count(F.lit(1)).alias("n_near_names"), F.min("cust_b").alias("nearest_b"))
        .orderBy("cust_a")
    )


FUZZY_MATCH_SQL = """
WITH keyed AS (
  SELECT c_custkey, c_name,
         unnest(list_transform(range(1, LENGTH(c_name) + 1),
                i -> substr(c_name, 1, i - 1) || '*' || substr(c_name, i + 1))) AS k
  FROM customer
),
pairs AS (
  SELECT DISTINCT a.c_custkey AS cust_a, a.c_name AS name_a,
                  b.c_custkey AS cust_b, b.c_name AS name_b
  FROM keyed a JOIN keyed b ON a.k = b.k AND a.c_custkey < b.c_custkey
)
SELECT cust_a, COUNT(*) AS n_near_names, MIN(cust_b) AS nearest_b
FROM pairs
WHERE levenshtein(name_a, name_b) = 1
GROUP BY cust_a
ORDER BY cust_a
"""


def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of: for each click, the user's purchase with the
    minimum absolute time distance — the third as-of direction after
    backward (asof_join_events_orders) and forward (asof_join_forward),
    built from BOTH carries on one user-partitioned pass: trailing
    ``last(ignorenulls)`` gives the previous purchase, leading
    ``first(ignorenulls)`` the next, and a comparison picks the closer
    (ties to the earlier — deterministic). No join at all: two frames
    over one merged stream. Partitioning by user is the natural key here
    (per-user history is bounded); an unbounded-history deployment adds
    the (user, day)+carry-over composite exactly as the backward
    variant does."""
    ev = load_table(spark, "events", sf_dir)
    # r13 (guide §2.4): the click/purchase arms are disjoint subsets of
    # one table — ONE scan with a pushed IN filter and per-row CASEs
    # replaces the union of two filtered scans (same rows, same types).
    unioned = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("event_id"),
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("purchase_ts"),
    )
    order = [F.col("ts").asc(), F.col("event_id").asc_nulls_last()]
    w_prev = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    marked = unioned.withColumn(
        "prev_p", F.last("purchase_ts", ignorenulls=True).over(w_prev)
    ).withColumn("next_p", F.first("purchase_ts", ignorenulls=True).over(w_next))
    gap_prev = F.expr("timestampdiff(MICROSECOND, prev_p, ts)")
    gap_next = F.expr("timestampdiff(MICROSECOND, ts, next_p)")
    nearest = (
        F.when(F.col("prev_p").isNull(), F.col("next_p"))
        .when(F.col("next_p").isNull(), F.col("prev_p"))
        .when(gap_prev <= gap_next, F.col("prev_p"))
        .otherwise(F.col("next_p"))
    )
    return (
        marked.filter(F.col("event_id").isNotNull())
        .withColumn("nearest_purchase_ts", nearest)
        .withColumn(
            # round 2dp via integer microseconds: round(us/1e4)/100. The
            # half-boundary operand (int + 0.5) is exactly representable
            # in a double, so HALF_UP agrees across engines; rounding
            # us/1e6 directly diverged at sf0.1 (70860.465 s: Spark
            # rounds the shortest decimal repr -> .47, DuckDB rounds the
            # binary value 70860.46499... -> .46).
            "gap_s",
            F.round(
                F.abs(F.expr("timestampdiff(MICROSECOND, ts, nearest_purchase_ts)"))
                / 10000.0,
                0,
            )
            / 100.0,
        )
        .select("event_id", "user_id", "ts", "nearest_purchase_ts", "gap_s")
        .orderBy("event_id")
    )


ASOF_NEAREST_SQL = """
WITH unioned AS (
  SELECT user_id, ts, event_id, CAST(NULL AS TIMESTAMP) AS purchase_ts
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
marked AS (
  SELECT user_id, ts, event_id,
         MAX(purchase_ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id NULLS LAST
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
         MIN(purchase_ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id NULLS LAST
                                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
  FROM unioned
),
picked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev_p IS NULL THEN next_p
              WHEN next_p IS NULL THEN prev_p
              WHEN EPOCH(ts) - EPOCH(prev_p) <= EPOCH(next_p) - EPOCH(ts) THEN prev_p
              ELSE next_p END AS nearest_purchase_ts
  FROM marked
  WHERE event_id IS NOT NULL
)
SELECT event_id, user_id, ts, nearest_purchase_ts,
       ROUND(ABS(epoch_us(nearest_purchase_ts) - epoch_us(ts)) / 10000.0, 0)
         / 100.0 AS gap_s
FROM picked
ORDER BY event_id
"""


def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution capstone: blocking → verify → cluster → canonical
    id. Deletion-neighborhood blocking proposes candidate name pairs
    (never O(n²) — see fuzzy_name_match), exact ``levenshtein == 1``
    verifies them, pointer-doubling connected components
    (dedup.propagate_components, O(log d) rounds) merges transitive
    matches (A~B, B~C ⇒ one entity even when A~C fails verification),
    and each customer resolves to the minimum custkey of its component —
    singletons to themselves. This is the full shape of production ER:
    every stage is the scalable form (equi-join blocking, pair-local
    verify, logarithmic clustering), composed. Oracle: the same edges in
    DuckDB + a recursive-CTE reachability closure.

    On the driver testdata the sequential customer names chain end-to-end
    into ONE entity (Customer#...1 ~ #...2 ~ ...) — degenerate as a
    business result but a deliberate stress case here: a component whose
    DIAMETER is the whole table is exactly where naive label propagation
    needs O(n) rounds and pointer doubling needs O(log n)."""
    from collimate_spark.operators.dedup import propagate_components

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    keyed = cust.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("c_name")),
                lambda i: F.concat(
                    F.col("c_name").substr(F.lit(1), i - 1),
                    F.lit("*"),
                    F.col("c_name").substr(i + 1, F.length("c_name")),
                ),
            )
        ).alias("k"),
    )
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), "k")
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_custkey").alias("cust_b"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") == 1)
        .select("cust_a", "cust_b")
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("cust_a").alias("src"), F.col("cust_b").alias("dst")),
                F.struct(F.col("cust_b").alias("src"), F.col("cust_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    labels = propagate_components(edges).select(
        F.col("doc_id").alias("c_custkey"), F.col("comp").alias("entity_id")
    )
    resolved = cust.join(labels, "c_custkey", "left").select(
        "c_custkey",
        F.coalesce("entity_id", "c_custkey").alias("entity_id"),
    )
    return (
        resolved.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("c_custkey").alias("min_member"),
            F.max("c_custkey").alias("max_member"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("entity_id")
    )


# Connected-components closure rounds in the ER oracle. Each round is one
# hook (min over neighbors' labels) + two compresses (lbl ← lbl(lbl)), so
# the label's coverage radius grows ≥ 4× per round — 12 rounds cover any
# component diameter up to ~4^12 ≈ 16M. A convergence GUARD makes
# under-iteration loud (zero rows, never a silent wrong answer).
ER_CC_ROUNDS = 12


def _er_closure_sql() -> str:
    """Scale-capable DuckDB oracle for entity_resolution_customers.

    The previous oracle's recursive-CTE reachability materialized every
    (node, member) pair — O(n²) rows on the driver data's single chained
    component (could not finish the sf0.1 mirror; the one documented
    skip). This is the SQL mirror of the Spark side's pointer-doubling
    closure (dedup.propagate_components): min-label propagation with
    path compression as a FIXED-DEPTH chain of CTEs — per round one
    hook join over the edges plus two label-table self-joins, O((E+n)·
    rounds) total. Labels are always node ids within the component
    (mins of node ids), so the compress join is total. The final select
    is gated on a convergence check — one more hook must change nothing
    — so if a pathological graph ever exceeded the round budget the
    oracle returns ZERO rows and the comparison fails loudly instead of
    silently blessing wrong labels."""
    cte = ["""keyed AS MATERIALIZED (
  SELECT c_custkey, c_name,
         unnest(list_transform(range(1, LENGTH(c_name) + 1),
                i -> substr(c_name, 1, i - 1) || '*' || substr(c_name, i + 1))) AS k
  FROM customer
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.c_custkey AS cust_a, a.c_name AS name_a,
                  b.c_custkey AS cust_b, b.c_name AS name_b
  FROM keyed a JOIN keyed b ON a.k = b.k AND a.c_custkey < b.c_custkey
),
pairs AS MATERIALIZED (
  SELECT cust_a, cust_b FROM cand WHERE levenshtein(name_a, name_b) = 1
),
edges AS MATERIALIZED (
  SELECT cust_a AS src, cust_b AS dst FROM pairs
  UNION ALL SELECT cust_b, cust_a FROM pairs
),
lbl0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
)"""]
    prev = "lbl0"
    for r in range(1, ER_CC_ROUNDS + 1):
        cte.append(f"""h{r} AS MATERIALIZED (
  SELECT n.node, LEAST(n.lbl, COALESCE(MIN(m.lbl), n.lbl)) AS lbl
  FROM {prev} n
  LEFT JOIN edges e ON e.src = n.node
  LEFT JOIN {prev} m ON m.node = e.dst
  GROUP BY n.node, n.lbl
),
c{r} AS MATERIALIZED (
  SELECT a.node, b.lbl FROM h{r} a JOIN h{r} b ON b.node = a.lbl
),
lbl{r} AS MATERIALIZED (
  SELECT a.node, b.lbl FROM c{r} a JOIN c{r} b ON b.node = a.lbl
)""")
        prev = f"lbl{r}"
    return f"""
WITH {','.join(cte)},
unconverged AS (
  SELECT COUNT(*) AS n_bad
  FROM {prev} n
  JOIN edges e ON e.src = n.node
  JOIN {prev} m ON m.node = e.dst
  WHERE m.lbl <> n.lbl
)
SELECT lbl AS entity_id,
       COUNT(*) AS n_members,
       MIN(node) AS min_member,
       MAX(node) AS max_member
FROM {prev}, unconverged
WHERE unconverged.n_bad = 0
GROUP BY lbl
HAVING COUNT(*) > 1
ORDER BY entity_id
"""


ENTITY_RESOLUTION_SQL = _er_closure_sql()


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    NULL-keyed rows MATCH each other instead of silently dropping — the
    semantics MERGE/dedup pipelines need when the business key is
    nullable. Left side: orders with '1-URGENT' nullified; right side: a
    broadcast priority dim with the same nullification, so the NULL
    bucket exercises the null=null match. Regular equi-join drops those
    rows; ``eqNullSafe`` keeps them, and Spark still plans a
    BroadcastHashJoin (null-safe equality is hashable — unlike general
    theta predicates)."""
    orders = load_table(spark, "orders", sf_dir)
    left = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pr"),
    )
    dim = (
        orders.select(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pr_dim")
        )
        .distinct()
        .withColumn("pr_rank", F.coalesce(F.substring("pr_dim", 1, 1).cast("int"), F.lit(0)))
    )
    return (
        left.join(F.broadcast(dim), left["pr"].eqNullSafe(dim["pr_dim"]))
        .groupBy("pr_rank")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("pr").isNull().cast("long")).alias("n_null_keys"),
        )
        .orderBy("pr_rank")
    )


JOIN_NULL_SAFE_SQL = """
WITH l AS (
  SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS pr FROM orders
),
d AS (
  SELECT DISTINCT NULLIF(o_orderpriority, '1-URGENT') AS pr_dim FROM orders
),
d2 AS (
  SELECT pr_dim, COALESCE(CAST(substr(pr_dim, 1, 1) AS INT), 0) AS pr_rank FROM d
)
SELECT pr_rank,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN l.pr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys
FROM l JOIN d2 ON l.pr IS NOT DISTINCT FROM d2.pr_dim
GROUP BY pr_rank
ORDER BY pr_rank
"""


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi join (explicit runtime-filter pushdown)

_BLOOM_K = 5  # hash functions
_BLOOM_M = 1 << 18  # bits (32 KiB packed) — FPP ~0.6% at 25k keys


def _bloom_positions(key: F.Column) -> list[F.Column]:
    """K bit positions per key: xxhash64(key, i) mod M, all JVM-side."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_BLOOM_M)) for i in range(_BLOOM_K)
    ]


def bloom_pack(df: DataFrame, key: str) -> list[int]:
    """Build the packed Bloom bitset for ``df[key]`` distributedly: explode
    each key to K bit positions, bit_or them into M/64 longs (map-side
    combined, dim-sized shuffle), collect the ≤32 KiB word table."""
    words = (
        df.select(F.explode(F.array(*_bloom_positions(F.col(key)))).alias("pos"))
        .groupBy(F.expr("pos DIV 64").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(pos % 64 AS INT))")).alias("bits"))
        .collect()
    )  # ≤ M/64 = 4096 rows: bounded metadata, not data
    packed = [0] * (_BLOOM_M // 64)
    for row in words:
        packed[row["w"]] = row["bits"]
    return packed


def bloom_probe(packed: list[int], key: F.Column) -> F.Column:
    """Membership-test column against a packed bitset: K element_at +
    bit_get tests on a literal array — pure whole-stage-codegen, no UDF.
    May return true for ~0.6% non-members (tune _BLOOM_M/_BLOOM_K), never
    false for a member."""
    bf = F.lit(packed)  # array<long> literal, broadcast with the plan
    probe = F.lit(True)
    for pos in _bloom_positions(key):
        word = F.element_at(bf, (pos / 64).cast("int") + 1)
        probe = probe & (F.bit_get(word, F.pmod(pos, F.lit(64)).cast("int")) == 1)
    return probe


def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with an explicit Bloom-filter runtime pushdown: monthly
    order volume for BUILDING-segment customers. The qualifying customer
    keys are hashed into a 2^18-bit Bloom filter BUILT DISTRIBUTEDLY —
    each key explodes to K=5 bit positions, a groupBy(word) bit_or packs
    them into 4096 longs — then the ≤32 KiB packed filter is collected
    (bounded metadata, like a broadcast var) and probed in the orders
    scan as a pure-codegen literal-array bit test. Survivors (true
    matches + ~0.6% false positives) go through the exact left-semi join
    that removes FPs, so the result is EXACTLY the plain semi join the
    oracle runs.

    Scale: this is Catalyst's InjectRuntimeFilter made explicit and
    user-applicable. At 100 TB the win is that ~99% of fact rows are
    dropped inside the scan stage — before the semi join's shuffle —
    for 32 KiB of broadcast state; the exact join then touches only the
    pre-filtered sliver. The filter build is one dim-sized shuffle of
    ≤4096 words, map-side combined."""
    cust = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, "orders", sf_dir)

    packed = bloom_pack(cust, "c_custkey")
    prefiltered = orders.filter(bloom_probe(packed, F.col("o_custkey")))
    exact = prefiltered.join(
        F.broadcast(cust), prefiltered.o_custkey == cust.c_custkey, "left_semi"
    )
    return (
        exact.groupBy(F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("month")
    )


BLOOM_PREFILTER_SQL = """
SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY 1
ORDER BY month
"""


# ---------------------------------------------------------------------------
# Join-size / skew diagnostics (the pre-join statistics pass)


def join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics pass you run BEFORE committing to a big join's
    physical strategy: per-key row counts on both sides of
    events.user_id ⋈ orders.o_custkey, the EXACT join output size each
    key would contribute (n_left · n_right), and its share of the total
    — without ever materializing the join. The top-10 report is what
    decides broadcast vs shuffle vs salting (``salted_join_hot_key``)
    and pre-sizes AQE's skew thresholds.

    Scale: two single-shuffle groupBy counts fold each side to its key
    cardinality; everything after (key-count join, total, top-k) runs on
    dimension-sized frames. Σ n_l·n_r is exact — this is the classic
    equi-join cardinality identity, not an estimate."""
    ev = load_table(spark, "events", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    left = ev.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("n_left"))
    right = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    keyed = left.join(right, "k").withColumn("pairs", F.col("n_left") * F.col("n_right"))
    # global window over the KEY-CARDINALITY frame (not the facts) — a
    # separate agg branch would re-scan both tables for the total
    total = F.sum("pairs").over(Window.partitionBy())
    return (
        keyed.withColumn("total_pairs", total)
        .select(
            "k",
            "n_left",
            "n_right",
            "pairs",
            F.round(F.col("pairs") / F.col("total_pairs"), 4).alias("pct_of_join"),
        )
        .orderBy(F.col("pairs").desc(), "k")
        .limit(10)
    )


JOIN_SKEW_SQL = """
WITH l AS (SELECT user_id AS k, COUNT(*) AS n_left FROM events GROUP BY 1),
     r AS (SELECT o_custkey AS k, COUNT(*) AS n_right FROM orders GROUP BY 1),
     keyed AS (
       SELECT l.k, n_left, n_right, CAST(n_left * n_right AS BIGINT) AS pairs
       FROM l JOIN r ON l.k = r.k
     )
SELECT k, n_left, n_right, pairs,
       ROUND(pairs * 1.0 / (SELECT SUM(pairs) FROM keyed), 4) AS pct_of_join
FROM keyed
ORDER BY pairs DESC, k
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Grid-blocked geo radius join (spatial blocking, haversine verify)

_GEO_R_KM = 6371.0088  # IAU mean Earth radius
_GEO_RADIUS_KM = 50.0


def _geo_lat(key: F.Column, mult: int) -> F.Column:
    # deterministic synthetic coordinates in [-60, 60): keeps 1° of
    # longitude ≥ 55.66 km, so a 50 km radius never spans >1 lon cell
    return (key * mult) % 1200 / F.lit(10.0) - 60.0


def _geo_lon(key: F.Column, mult: int) -> F.Column:
    # [-170, 170): ±1-cell neighbors never cross the antimeridian
    return (key * mult) % 3400 / F.lit(10.0) - 170.0


def _haversine_km(lat1, lon1, lat2, lon2) -> F.Column:
    dphi = F.radians(lat2 - lat1) / 2
    dlam = F.radians(lon2 - lon1) / 2
    a = F.sin(dphi) ** 2 + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlam) ** 2
    return 2 * _GEO_R_KM * F.asin(F.sqrt(a))


def geo_radius_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (customers within 50 km of a supplier) via
    1°-grid-cell blocking: both sides get a (lat_cell, lon_cell) key,
    the supplier side fans out to its 3×3 neighbor cells, the join runs
    as a plain EQUI hash join on the cell key, and the exact haversine
    distance filters candidates. Coordinates are derived
    deterministically from the keys (modular lattice in lat ∈ [-60, 60),
    lon ∈ [-170, 170)) — the band keeps one lon cell ≥ 55.66 km wide so
    ±1 neighbors provably cover the 50 km radius, with no antimeridian
    wrap.

    Scale: the naive formulation is a BroadcastNestedLoopJoin (O(n·m)
    haversines). Blocking makes candidate generation an equi shuffle
    join on ~43k cells with a constant 9× fan-out of the SMALL side
    only; per-cell load is data-density-bound, the same skew profile as
    any geohash/S2 pipeline. The haversine itself is whole-stage-codegen
    trigonometry — no UDF."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        _geo_lat(F.col("c_custkey"), 37).alias("c_lat"),
        _geo_lon(F.col("c_custkey"), 91).alias("c_lon"),
    )
    supp = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        _geo_lat(F.col("s_suppkey"), 53).alias("s_lat"),
        _geo_lon(F.col("s_suppkey"), 17).alias("s_lon"),
    )
    cust = cust.withColumn("cell_lat", F.floor("c_lat")).withColumn(
        "cell_lon", F.floor("c_lon")
    )
    supp9 = (
        supp.withColumn("dlat", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dlon", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "s_suppkey",
            "s_lat",
            "s_lon",
            (F.floor("s_lat") + F.col("dlat")).alias("cell_lat"),
            (F.floor("s_lon") + F.col("dlon")).alias("cell_lon"),
        )
    )
    d = _haversine_km(F.col("s_lat"), F.col("s_lon"), F.col("c_lat"), F.col("c_lon"))
    return (
        supp9.join(cust, ["cell_lat", "cell_lon"])
        .filter(d < _GEO_RADIUS_KM)  # unrounded, same predicate as the oracle
        .select("s_suppkey", "c_custkey", F.round(d, 3).alias("dist_km"))
        .orderBy("s_suppkey", "c_custkey")
    )


GEO_RADIUS_SQL = """
WITH c AS (
  SELECT c_custkey,
         (c_custkey * 37) % 1200 / 10.0 - 60.0 AS c_lat,
         (c_custkey * 91) % 3400 / 10.0 - 170.0 AS c_lon
  FROM customer
), s AS (
  SELECT s_suppkey,
         (s_suppkey * 53) % 1200 / 10.0 - 60.0 AS s_lat,
         (s_suppkey * 17) % 3400 / 10.0 - 170.0 AS s_lon
  FROM supplier
)
SELECT s_suppkey, c_custkey,
       ROUND(2 * 6371.0088 * ASIN(SQRT(
         POW(SIN(RADIANS(c_lat - s_lat) / 2), 2)
         + COS(RADIANS(s_lat)) * COS(RADIANS(c_lat))
           * POW(SIN(RADIANS(c_lon - s_lon) / 2), 2)
       )), 3) AS dist_km
FROM s JOIN c
  ON 2 * 6371.0088 * ASIN(SQRT(
       POW(SIN(RADIANS(c_lat - s_lat) / 2), 2)
       + COS(RADIANS(s_lat)) * COS(RADIANS(c_lat))
         * POW(SIN(RADIANS(c_lon - s_lon) / 2), 2)
     )) < 50.0
ORDER BY s_suppkey, c_custkey
"""


QUERIES = {
    "join_left_outer": join_left_outer,
    "join_full_outer": join_full_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_cross": join_cross,
    "join_theta_inequality": join_theta_inequality,
    "asof_join_events_orders": asof_join_events_orders,
    "range_join_events_orders": range_join_events_orders,
    "fuzzy_name_match": fuzzy_name_match,
    "salted_join_hot_key": salted_join_hot_key,
    "asof_join_forward": asof_join_forward,
    "join_null_safe": join_null_safe,
    "entity_resolution_customers": entity_resolution_customers,
    "asof_join_nearest": asof_join_nearest,
    "bloom_prefilter_join": bloom_prefilter_join,
    "geo_radius_join_grid": geo_radius_join_grid,
    "join_skew_diagnostics": join_skew_diagnostics,
}

ORACLES = {
    "bloom_prefilter_join": BLOOM_PREFILTER_SQL,
    "geo_radius_join_grid": GEO_RADIUS_SQL,
    "join_skew_diagnostics": JOIN_SKEW_SQL,
    "fuzzy_name_match": FUZZY_MATCH_SQL,
    "salted_join_hot_key": SALTED_JOIN_SQL,
    "asof_join_forward": ASOF_FORWARD_SQL,
    "join_left_outer": JOIN_LEFT_SQL,
    "join_full_outer": JOIN_FULL_SQL,
    "join_semi": JOIN_SEMI_SQL,
    "join_anti": JOIN_ANTI_SQL,
    "join_cross": JOIN_CROSS_SQL,
    "join_theta_inequality": JOIN_THETA_SQL,
    "asof_join_events_orders": ASOF_JOIN_SQL,
    "range_join_events_orders": RANGE_JOIN_SQL,
    "join_null_safe": JOIN_NULL_SAFE_SQL,
    "entity_resolution_customers": ENTITY_RESOLUTION_SQL,
    "asof_join_nearest": ASOF_NEAREST_SQL,
}
