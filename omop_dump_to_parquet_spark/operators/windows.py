"""Window-function operators: ranking, running frames, lag/lead,
gap-based sessionization, as-of join, and bounded range join.

Absent from the reference (SURVEY.md §2.2) but core to the query
surface of the lake it produces. Design notes per operator cover the
100 TB story: window partitions shuffle once on the partition key and
sort within; as-of joins avoid per-row subqueries via the
union-and-carry-forward trick (one shuffle + one sort, no join
explosion); range joins bound candidates with an equi key.

Determinism: window ORDER BY always includes a unique tie-break key,
so running sums accumulate in an engine-independent order (sequential
IEEE adds over the same sequence are bit-equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources.parquet import table, ts_us


def _asof_last_error(ev: DataFrame) -> DataFrame:
    """Shared ASOF kernel (w05, w20): union purchases (probes) and
    errors (references), tag each side, and carry the latest error ts
    forward per user with ONE running window — the
    union-and-carry-forward plan (one shuffle + one sort, no join
    explosion). Ordering ``(ts, is_probe, event_id)`` puts an
    equal-ts error BEFORE the probe, matching ASOF ``>=`` semantics.
    One definition, so a tie-break fix can never apply to one
    ASOF variant and silently miss the other."""
    tagged = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "purchase").cast("int").alias("is_probe"),
        F.when(F.col("event_type") == "error", F.col("ts")).alias("err_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return tagged.withColumn(
        "last_error_ts", F.last("err_ts", ignorenulls=True).over(w)
    )


def _event_type_islands(ev: DataFrame) -> DataFrame:
    """Shared gaps-and-islands kernel (w13, w18, w19): per-user
    change-point flag (null-safe lag comparison) → running sum →
    ``island_id``. Returns ``(user_id, event_type, ts, island_id)``;
    callers that don't need ``ts`` let column pruning drop it. The
    ``(ts, event_id)`` ordering is the unique tie-break that keeps
    island ids engine-independent — one definition, so
    the w02-family tie-break fix class cannot recur in one copy only."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    return ev.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(chg)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("island_id"),
    )


# ---------------------------------------------------------------------------
# W01 — ranking: top-3 orders per priority class.
# ---------------------------------------------------------------------------

W01_ORACLE = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@query("w01_window_rank", oracle=W01_ORACLE)
def w01_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# W02 — running (cumulative) frame per supplier over ship time.
# Ordering includes l_quantity: (shipdate, orderkey, linenumber) is
# NOT unique in every driver fixture (the sf0.1 generation carries
# duplicate (orderkey, linenumber) fact rows — found by a full-scale
# differential sweep: ONE colliding pair with quantities
# 16 vs 13 made the running-sum multiset engine-order-dependent).
# With the aggregated column itself as the final tie-break, any rows
# STILL tied have equal quantity, and equal-quantity ties produce an
# identical cumulative multiset under either order — so the result is
# deterministic without assuming fixture key uniqueness.
# ---------------------------------------------------------------------------

W02_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
FROM lineitem
"""


@query("w02_window_running", oracle=W02_ORACLE)
def w02_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


# ---------------------------------------------------------------------------
# W03 — lag/lead: inter-event gap per user in microseconds.
# ---------------------------------------------------------------------------

W03_ORACLE = """
SELECT event_id, user_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)) AS gap_us
FROM events
"""


@query("w03_window_lag", oracle=W03_ORACLE)
def w03_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (
            ts_us("ts") - ts_us(F.lag("ts").over(w))
        ).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# W04 — gap-based sessionization (30-minute inactivity threshold).
# Classic islands construction: flag gap>threshold, running-sum the
# flags into session ids. One shuffle on user_id; state is O(1)/row.
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000

W04_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id,
         SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
FROM per_session GROUP BY user_id
"""


@query("w04_sessionization", oracle=W04_ORACLE)
def w04_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ts_us("ts") - ts_us(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# W05 — as-of join: for each purchase event, the most recent error
# timestamp (≤ its own ts) for the same user.
#
# Spark lacks a native ASOF JOIN; the scalable composition is
# union-and-carry-forward: tag both streams, sort within user, and
# carry the last error ts forward with last_value(ignorenulls). This
# costs ONE shuffle + sort over events — no join at all — versus the
# naive per-row subquery or exploding range join. DuckDB validates via
# its native ASOF LEFT JOIN.
# At equal timestamps errors sort before purchases (is_probe ASC
# after ts) so "≤ ts" semantics match ASOF's >=.
# ---------------------------------------------------------------------------

W05_ORACLE = """
SELECT p.event_id, p.ts, e.ts AS last_error_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts >= e.ts
"""


@query("w05_asof_join", oracle=W05_ORACLE)
def w05_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    carried = _asof_last_error(ev)
    return carried.filter(F.col("is_probe") == 1).select(
        "event_id", "ts", "last_error_ts"
    )


# ---------------------------------------------------------------------------
# W06 — bounded range join: signup→purchase conversions within 2 hours,
# same user. The equi key (user_id) bounds the candidate set, so this
# plans as a sort-merge join + range filter, not a cartesian product.
# At 100 TB with a hot user, salt the key or bucket time into the join
# key (time-bucket equi-join) to keep candidates bounded.
# ---------------------------------------------------------------------------

RANGE_WINDOW_US = 2 * 3600 * 1_000_000

W06_ORACLE = f"""
SELECT a.event_id AS signup_event, b.event_id AS purchase_event, a.user_id
FROM (SELECT * FROM events WHERE event_type = 'signup') a
JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + {RANGE_WINDOW_US}
"""


@query("w06_range_join", oracle=W06_ORACLE)
def w06_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event"),
        F.col("user_id"),
        ts_us("ts").alias("a_us"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event"),
        F.col("user_id").alias("b_user"),
        ts_us("ts").alias("b_us"),
    )
    return (
        a.join(
            b,
            (a.user_id == b.b_user)
            & (b.b_us > a.a_us)
            & (b.b_us <= a.a_us + RANGE_WINDOW_US),
        )
        .select("signup_event", "purchase_event", "user_id")
    )


# ---------------------------------------------------------------------------
# W07 — distribution window functions: percent_rank / cume_dist /
# ntile over order value within each priority class. Same single
# shuffle-and-sort as W01; the distribution functions are free riders
# on the sort. Deterministic: ties broken by the unique key, and the
# rank fractions are exact rationals both engines compute identically.
# ---------------------------------------------------------------------------

W07_ORACLE = """
SELECT o_orderpriority, o_orderkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@query("w07_window_distribution", oracle=W07_ORACLE)
def w07_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# W08 — first_value / last_value with an explicit full-partition
# frame. last_value defaults to the running frame (rows seen so far)
# in BOTH engines, so the meaningful form pins the frame to the whole
# partition — the per-group "cheapest and priciest order alongside
# every row" pattern that avoids a join back onto a grouped aggregate.
# ---------------------------------------------------------------------------

W08_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       first_value(o_totalprice) OVER w AS cheapest,
       last_value(o_totalprice) OVER w AS priciest
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@query("w08_first_last_value", oracle=W08_ORACLE)
def w08_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(w).alias("priciest"),
    )


# ---------------------------------------------------------------------------
# W09 — sliding (hopping) window aggregation: 1-hour windows every 15
# minutes over the event stream, in BATCH. Spark's native
# ``F.window(ts, window, slide)`` emits one row per (event, covering
# slot) — window/hop = 4 slots per event here — then aggregates; the
# replication factor is the window/hop ratio, a constant chosen by
# the analyst, and the shuffle is the ordinary partial-agg exchange
# on (slot, type). The same expression runs under readStream with a
# watermark (st01 is its tumbling twin). Sums route through
# DECIMAL(12,2) (exact for the 2-decimal fixture values; the
# engine-determinism contract of registry.py).
# ---------------------------------------------------------------------------

SLIDE_WINDOW_MIN = 60
SLIDE_HOP_MIN = 15
assert SLIDE_WINDOW_MIN % SLIDE_HOP_MIN == 0, "hop must divide window"
SLIDE_WINDOW = f"{SLIDE_WINDOW_MIN} minutes"
SLIDE_HOP = f"{SLIDE_HOP_MIN} minutes"
_HOP_US = SLIDE_HOP_MIN * 60 * 1_000_000
_SLOTS_PER_WINDOW = SLIDE_WINDOW_MIN // SLIDE_HOP_MIN

W09_ORACLE = f"""
WITH slots AS (
  SELECT event_type, value,
         unnest(range(epoch_us(ts) // {_HOP_US} - {_SLOTS_PER_WINDOW - 1},
                      epoch_us(ts) // {_HOP_US} + 1)) AS slot
  FROM events
)
SELECT make_timestamp(slot * {_HOP_US}) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM slots
GROUP BY window_start, event_type
"""


@query("w09_sliding_window", oracle=W09_ORACLE)
def w09_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", SLIDE_WINDOW, SLIDE_HOP).alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# W10 — time-series gap-fill + forward fill: daily per-type rollup,
# missing calendar days materialized from a generated date spine
# (sequence + explode — a codegen generator, no driver loop), counts
# zero-filled, last observed daily value carried forward with
# last(ignorenulls) over an ordered frame.
#
# Scale: the rollup is a partial-agg groupBy on (event_type, day); the
# spine explode is O(types × days) — tiny next to the input. The final
# window partitions by event_type, which is low-cardinality: fine for
# a rollup output this small, but if the per-type day range were huge,
# partition the carry-forward by (event_type, year) and stitch the
# boundary rows — noted, not needed at rollup scale.
# Determinism: daily sums route through DECIMAL (exact) before the
# double cast; the carried value is bit-copied, not recomputed.
# ---------------------------------------------------------------------------

W10_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
  FROM events
  GROUP BY event_type, day
),
spine AS (
  SELECT event_type,
         unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY))::DATE AS day
  FROM daily GROUP BY event_type
)
SELECT s.event_type, CAST(s.day AS TIMESTAMP) AS day,
       COALESCE(d.n, 0) AS n_events,
       COALESCE(d.v, 0.0) AS day_value,
       last_value(d.v IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_value
FROM spine s LEFT JOIN daily d USING (event_type, day)
"""


@query("w10_gapfill", oracle=W10_ORACLE)
def w10_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("v"),
    )
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        # DATE → TIMESTAMP (midnight under the pinned-UTC session) so
        # both engines hand the comparator a timestamp column — the
        # same convention st01/w09 use for window_start.
        F.col("day").cast("timestamp").alias("day"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("v", F.lit(0.0)).alias("day_value"),
        F.last("v", ignorenulls=True).over(w).alias("carry_value"),
    )


# ---------------------------------------------------------------------------
# W11 — time-RANGE frame: per-user trailing 1-hour average, frame
# bounded by the ORDER-BY VALUE (epoch micros), not row offsets — the
# correct trailing-window semantics for irregular event streams (w09's
# sliding windows are bucket-aligned; this is per-event continuous).
# One shuffle on user_id + one sort; RANGE peers are defined by the
# key value, so ties in ts get identical frames in any engine —
# deterministic without a tie-break column.
# ---------------------------------------------------------------------------

RANGE_FRAME_US = 3_600 * 1_000_000  # trailing 1 hour

W11_ORACLE = f"""
SELECT event_id, user_id,
       round(AVG(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW
       ), 6) AS trailing_avg,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW
       ) AS n_in_window
FROM events
"""


@query("w11_time_range_frame", oracle=W11_ORACLE)
def w11_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(ts_us("ts"))
        .rangeBetween(-RANGE_FRAME_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("trailing_avg"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


# ---------------------------------------------------------------------------
# W12 — windowed standardization (z-score per key): the anomaly-
# detection shape — each event scored against its key's full-history
# mean/stddev. One shuffle on user_id; both moments come out of the
# same Window (single pass), and the division is NULL-guarded the
# same way in both engines (a constant-valued key has stddev 0, and
# ANSI Spark would otherwise throw on the divide).
# ---------------------------------------------------------------------------

W12_ORACLE = """
SELECT event_id, user_id,
       round((value - AVG(value) OVER w)
             / NULLIF(stddev_samp(value) OVER w, 0.0), 6) AS zscore
FROM events
WINDOW w AS (PARTITION BY user_id)
"""


@query("w12_window_zscore", oracle=W12_ORACLE)
def w12_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - F.avg("value").over(w)) / F.when(
        sd != 0.0, sd
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(z, 6).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# W13 — gaps-and-islands: collapse each user's event stream into
# maximal runs ("islands") of consecutive same-type events, then
# profile run structure per (user, type). Implemented as change-point
# detection (lag + running sum) over ONE window partitioned by
# user_id — a single shuffle and a single sort. The textbook
# two-row_number "difference trick" needs a second window partitioned
# by (user_id, event_type), i.e. a second full shuffle of the fact
# table; at 100 TB that extra exchange is the whole cost, so the
# change-point form is the one this engine ships. Ties broken by
# event_id (unique) so both engines see one deterministic sequence.
# ---------------------------------------------------------------------------

W13_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
), isl AS (
  SELECT user_id, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island_id
  FROM seq
), runs AS (
  SELECT user_id, event_type, island_id, count(*) AS island_len
  FROM isl GROUP BY user_id, event_type, island_id
)
SELECT user_id, event_type,
       count(*) AS n_islands,
       max(island_len) AS max_island_len,
       CAST(SUM(island_len) AS BIGINT) AS n_events
FROM runs GROUP BY user_id, event_type
"""


@query("w13_gaps_and_islands", oracle=W13_ORACLE)
def w13_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    isl = _event_type_islands(ev)
    runs = isl.groupBy("user_id", "event_type", "island_id").agg(
        F.count(F.lit(1)).alias("island_len")
    )
    return runs.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("island_len").alias("max_island_len"),
        F.sum("island_len").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# W14 — OHLC downsampling (time-series bar rollup): per (user, hour)
# open/high/low/close/volume, the canonical hypertable/candlestick
# resample. Open/close are row_number keep-first under (ts, event_id)
# asc/desc — deterministic under timestamp ties, unlike naive
# first()/last() which are order-undefined after a shuffle, and
# unlike min_by/max_by which can't take a composite tie-broken key in
# every engine. One Exchange total: both Window specs and the final
# groupBy cluster on (user_id, bucket) — the desc pass adds only a
# re-sort, never a second shuffle.
# ---------------------------------------------------------------------------

W14_ORACLE = """
WITH seq AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id, bucket,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS volume
FROM seq
GROUP BY user_id, bucket
"""


@query("w14_ohlc_downsample", oracle=W14_ORACLE)
def w14_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # materialize `bucket` as an ATTRIBUTE before the windows: if the
    # window spec partitioned on the raw date_trunc expression, the
    # final groupBy (on the aliased column) wouldn't be recognized as
    # the same clustering and Spark would shuffle a second time
    binned = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "value",
        "ts",
        "event_id",
    )
    seq = binned.select(
        "user_id",
        "bucket",
        "value",
        F.row_number()
        .over(W.partitionBy("user_id", "bucket").orderBy("ts", "event_id"))
        .alias("rn_a"),
        F.row_number()
        .over(
            W.partitionBy("user_id", "bucket").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn_d"),
    )
    return seq.groupBy("user_id", "bucket").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("volume"),
    )


# ---------------------------------------------------------------------------
# W15 — funnel analysis (ordered-sequence matching, CEP-lite): per
# user, the earliest strictly-ordered signup → view → click → purchase
# chain. Implemented as ONE shuffle: groupBy(user) collects the sorted
# event sequence and a pure-SQL `aggregate` (fold) runs the 4-state
# machine per key inside whole-stage codegen — the general shape for
# any sequence/CEP pattern Spark lacks natively. The naive relational
# form is 4 chained join+min passes over the fact table (the ORACLE
# uses exactly that formulation, which makes the differential check a
# cross-IMPLEMENTATION test, not just cross-engine). State is
# O(events/user) during the fold — the same bound any per-user sort
# carries.
# ---------------------------------------------------------------------------

W15_STAGES = ("signup", "view", "click", "purchase")

W15_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, min(e.ts) AS t4 FROM events e
  JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
)
SELECT u.user_id,
       s1.t1 AS t_signup, s2.t2 AS t_view,
       s3.t3 AS t_click, s4.t4 AS t_purchase,
       ((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
        + (s3.t3 IS NOT NULL)::INT + (s4.t4 IS NOT NULL)::INT) AS n_stages
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
LEFT JOIN s4 ON u.user_id = s4.user_id
"""


@query("w15_funnel", oracle=W15_ORACLE)
def w15_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )

    null_ts = F.lit(None).cast("timestamp")

    def step(acc, x):
        # one event fires at most one transition; all comparisons use
        # the PRE-update acc, which is correct because an event has a
        # single type. Strict > matches the oracle's e.ts > prev.
        t1 = F.when(
            acc.t1.isNull() & (x.event_type == W15_STAGES[0]), x.ts
        ).otherwise(acc.t1)
        t2 = F.when(
            acc.t2.isNull()
            & acc.t1.isNotNull()
            & (x.event_type == W15_STAGES[1])
            & (x.ts > acc.t1),
            x.ts,
        ).otherwise(acc.t2)
        t3 = F.when(
            acc.t3.isNull()
            & acc.t2.isNotNull()
            & (x.event_type == W15_STAGES[2])
            & (x.ts > acc.t2),
            x.ts,
        ).otherwise(acc.t3)
        t4 = F.when(
            acc.t4.isNull()
            & acc.t3.isNotNull()
            & (x.event_type == W15_STAGES[3])
            & (x.ts > acc.t3),
            x.ts,
        ).otherwise(acc.t4)
        return F.struct(
            t1.alias("t1"), t2.alias("t2"), t3.alias("t3"), t4.alias("t4")
        )

    state = F.aggregate(
        "seq",
        F.struct(
            null_ts.alias("t1"),
            null_ts.alias("t2"),
            null_ts.alias("t3"),
            null_ts.alias("t4"),
        ),
        step,
    )
    out = seq.select("user_id", state.alias("s"))
    return out.select(
        "user_id",
        F.col("s.t1").alias("t_signup"),
        F.col("s.t2").alias("t_view"),
        F.col("s.t3").alias("t_click"),
        F.col("s.t4").alias("t_purchase"),
        (
            F.col("s.t1").isNotNull().cast("int")
            + F.col("s.t2").isNotNull().cast("int")
            + F.col("s.t3").isNotNull().cast("int")
            + F.col("s.t4").isNotNull().cast("int")
        ).alias("n_stages"),
    )


# ---------------------------------------------------------------------------
# W16 — cohort retention: bucket users by the DAY of their first
# event (the cohort), then count distinct users from each cohort
# active on each subsequent day. (Day, not month: the fixture's event
# stream spans ~30 days, so month-level cohorts collapse to one cell;
# at production scale the truncation unit is a parameter.)
# The standard product-analytics
# retention matrix, and a window/agg composition the reference's lake
# consumers would run over any event table.
#
# Scale shape: first_ts is a window MIN over the user partition — ONE
# shuffle on user_id, no groupBy+join round trip (the naive form
# shuffles the same key twice). The retention rollup then aggregates
# on (cohort_day, day_offset) — small output with map-side partials.
# count(DISTINCT user_id) inside each cell shuffles (cohort, offset,
# user) expanded keys once; exact distinct is the point here
# (approx_count_distinct is the 100 TB relaxation, q27/q41's
# territory).
#
# Determinism: everything is exact integer/timestamp arithmetic on
# day-truncated values — no floats anywhere.
# ---------------------------------------------------------------------------

W16_ORACLE = """
WITH e AS (
  SELECT user_id, ts,
         min(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
)
SELECT date_trunc('day', first_ts) AS cohort_day,
       CAST(datediff('day', date_trunc('day', first_ts),
                     date_trunc('day', ts)) AS INT) AS day_offset,
       count(DISTINCT user_id) AS active_users
FROM e
GROUP BY 1, 2
"""


@query("w16_cohort_retention", oracle=W16_ORACLE)
def w16_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    with_first = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("ev_day"),
        F.date_trunc("day", F.min("ts").over(w)).alias("cohort_day"),
    )
    return (
        with_first.groupBy(
            "cohort_day",
            F.datediff("ev_day", F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# W17 — exponentially-weighted moving average per key: the recursive
# smoother (ewma_i = α·ewma_{i-1} + (1−α)·x_i) that window FRAMES
# cannot express — each row depends on the previous ROW'S RESULT, not
# on a frame aggregate — so it runs as an ordered per-key array fold
# (collect → sort → F.aggregate), the same single-shuffle shape as
# w15's funnel state machine. Spark Structured Streaming's
# applyInPandasWithState (st03) is this operator's unbounded-stream
# twin.
#
# Scale shape: ONE shuffle on user_id; per-key state is the event
# array (bounded by per-key history; a 100 TB variant folds
# incrementally per time-bucket and carries only the scalar EWMA
# across buckets — two-level fold, same kernel). Fold arithmetic is
# sequential IEEE over an engine-identically-sorted array (unique
# (ts, event_id) tie-break), rounded at 6 dp.
#
# Seeding convention: acc starts at the FIRST value (DuckDB's
# list_reduce semantics); the Spark fold seeds with element 1 and
# folds elements 2..n so both engines compute byte-identical chains.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.9  # weight on history

W17_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
       round(list_reduce(vals, (acc, x) -> {EWMA_ALPHA}*acc
                                           + {1 - EWMA_ALPHA}*x), 6) AS ewma,
       len(vals) AS n_events
FROM ordered
"""


@query("w17_ewma", oracle=W17_ORACLE)
def w17_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ordered = ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vals")
    )
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(EWMA_ALPHA) * acc + F.lit(1 - EWMA_ALPHA) * x,
    )
    return ordered.select(
        "user_id",
        F.round(fold, 6).alias("ewma"),
        F.size("vals").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# W18 — SCD2 / temporal-table interval construction: collapse each
# user's event stream into validity intervals [valid_from, valid_to)
# per attribute run — the lakehouse "slowly changing dimension type 2"
# build, turning an append-only change log into a point-in-time
# queryable history (join on valid_from <= t < valid_to). Run
# detection is w13's change-point form (lag + running sum over ONE
# user_id window — a single shuffle and sort); valid_to is the NEXT
# run's valid_from via lead() over the run table (tiny: |runs| ≤
# |events|, same user_id clustering so no extra exchange of the fact
# table), NULL marking the open/current interval. version numbers the
# runs per user from 1 — ties under identical ts broken by event_id,
# so both engines build one deterministic sequence.
# ---------------------------------------------------------------------------

W18_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
), isl AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island_id
  FROM seq
), runs AS (
  SELECT user_id, event_type, island_id,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM isl GROUP BY user_id, event_type, island_id
)
SELECT user_id, event_type,
       CAST(island_id AS BIGINT) AS version,
       valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY island_id) AS valid_to,
       n_events,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY island_id) IS NULL AS is_current
FROM runs
"""


@query("w18_scd2_intervals", oracle=W18_ORACLE)
def w18_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    isl = _event_type_islands(ev)
    runs = isl.groupBy("user_id", "event_type", "island_id").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = W.partitionBy("user_id").orderBy("island_id")
    nxt = F.lead("valid_from").over(wv)
    return runs.select(
        "user_id",
        "event_type",
        F.col("island_id").cast("bigint").alias("version"),
        "valid_from",
        nxt.alias("valid_to"),
        "n_events",
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# W19 — time-in-state: total/average duration each user spends in
# each event_type state, from w18's SCD2 intervals — the standard
# temporal-analytics consumer of a validity-interval table (uptime
# accounting, funnel dwell time, state-machine profiling). Open
# (current) intervals have no end and are EXCLUDED from duration sums
# but counted, so the aggregate is well-defined without a query-time
# "now" (which would be nondeterministic across engines/runs).
# Duration arithmetic in integer microseconds (epoch_us both
# engines); one extra groupBy over w18's plan — still a single
# user_id-clustered shuffle family.
# ---------------------------------------------------------------------------

W19_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
), isl AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island_id
  FROM seq
), runs AS (
  SELECT user_id, event_type, island_id, MIN(ts) AS valid_from
  FROM isl GROUP BY user_id, event_type, island_id
), iv AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY island_id) AS valid_to
  FROM runs
)
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(COUNT(valid_to) AS BIGINT) AS n_closed,
       CAST(COALESCE(SUM(epoch_us(valid_to) - epoch_us(valid_from)), 0)
            AS BIGINT) AS total_us,
       CAST(floor(COALESCE(SUM(epoch_us(valid_to) - epoch_us(valid_from)), 0)
                  / greatest(COUNT(valid_to), 1)) AS BIGINT) AS avg_us
FROM iv
GROUP BY user_id, event_type
"""


@query("w19_time_in_state", oracle=W19_ORACLE)
def w19_time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    isl = _event_type_islands(ev)
    runs = isl.groupBy("user_id", "event_type", "island_id").agg(
        F.min("ts").alias("valid_from")
    )
    wv = W.partitionBy("user_id").orderBy("island_id")
    iv = runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    )
    dur = ts_us("valid_to") - ts_us("valid_from")
    return iv.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.count("valid_to").alias("n_closed"),
        F.coalesce(F.sum(dur), F.lit(0)).alias("total_us"),
        # floor in BOTH engines: a bare long cast truncates in Spark
        # but ROUNDS in DuckDB — off-by-one on .5+ fractions
        F.floor(
            F.coalesce(F.sum(dur), F.lit(0))
            / F.greatest(F.count("valid_to"), F.lit(1))
        ).cast("long").alias("avg_us"),
    )


# ---------------------------------------------------------------------------
# W20 — as-of join WITH TOLERANCE (bounded staleness): each purchase
# matched to the same user's most recent error, but only if that
# error is at most ASOF_TOLERANCE old — the financial-data as-of form
# (pandas merge_asof's `tolerance`), and the semantically safe one at
# scale: an UNBOUNDED as-of (w05) happily joins a price quote from
# last year; the tolerance form turns staleness into an explicit
# contract. Same single-shuffle union-and-carry-forward plan as w05
# (no join at all), with the match NULLED map-side when it exceeds
# the tolerance — the carry-forward still crosses the bound (state is
# one value per user either way); only the EMISSION is filtered, so
# the plan cost is identical to w05's. DuckDB validates via native
# ASOF LEFT JOIN + the same staleness CASE.
# ---------------------------------------------------------------------------

ASOF_TOLERANCE_US = 60 * 60 * 1_000_000  # 1 hour

W20_ORACLE = f"""
SELECT p.event_id, p.ts,
       CASE WHEN epoch_us(p.ts) - epoch_us(e.ts) <= {ASOF_TOLERANCE_US}
            THEN e.ts END AS last_error_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts >= e.ts
"""


@query("w20_asof_tolerance", oracle=W20_ORACLE)
def w20_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    carried = _asof_last_error(ev)
    fresh = (
        ts_us("ts") - ts_us("last_error_ts")
    ) <= ASOF_TOLERANCE_US
    return carried.filter(F.col("is_probe") == 1).select(
        "event_id",
        "ts",
        F.when(fresh, F.col("last_error_ts")).alias("last_error_ts"),
    )


# ---------------------------------------------------------------------------
# W21 — interval merge (union of overlapping windows): each event
# opens a fixed-length activity window [ts, ts + 30 min); overlapping
# or touching windows per user coalesce into maximal merged intervals
# — the classic de-overlap algorithm (calendar merging, maintenance-
# window union, coverage computation). This is the INTERVAL variant
# of gaps-and-islands (w13 collapses point runs; here a new island
# starts only when an interval's start exceeds the running MAX of all
# previous ends — plain lag comparison is wrong when an earlier
# interval outlasts its successors, e.g. a long window swallowing
# short ones). One user_id shuffle: running-max, island assignment,
# and the final per-island aggregate all cluster on it.
#
# Determinism: integer microsecond arithmetic; ties ordered by
# (start, event_id).
# ---------------------------------------------------------------------------

W21_WINDOW_US = 30 * 60 * 1_000_000

W21_ORACLE = f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + {W21_WINDOW_US} AS e
  FROM events
),
flagged AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id
                                    ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS island_id
  FROM flagged
)
SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
       MIN(s) AS merged_start_us,
       MAX(e) AS merged_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM islands
GROUP BY user_id, island_id
"""


@query("w21_interval_merge", oracle=W21_ORACLE)
def w21_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        ts_us("ts").alias("s"),
        (ts_us("ts") + W21_WINDOW_US).alias("e"),
    )
    w = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.col("s") > prev_max_end, 1).otherwise(0).alias("new_island"),
    )
    # island sum reuses w: ordering by the same unique (s, event_id)
    # key as the flag window is load-bearing — (s, e) can tie
    # (same-ts events share a fixed-length window), and tied-row
    # order would make island ids engine-dependent. ONE spec, not a
    # duplicate, so an ordering edit cannot split the two windows.
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("merged_start_us"),
        F.max("e").alias("merged_end_us"),
        F.count(F.lit(1)).alias("n_windows"),
    )


# ---------------------------------------------------------------------------
# W22 — exact rolling median: per-user sliding-window median of
# `value` over the last 10 events — the robust-statistics twin of
# w09's rolling mean (a single outlier saturates a mean; the median
# is the standard robust smoother for sensor/metric streams). EXACT,
# not approximate: `percentile(value, 0.5)` as a window aggregate
# (Spark evaluates the exact interpolated percentile per frame);
# DuckDB's windowed `median` computes the identical statistic (both
# average the two middle values on even frames). One user_id
# exchange + one sort — the same single shuffle family as every w*
# op; the frame is ROWS-bounded so state per row is O(frame).
#
# Scale: exact windowed medians re-sort each frame; at 100 TB with
# wide frames the approximate twin (percentile_approx over the same
# frame) or a two-heap applyInPandasWithState kernel bounds the
# per-row cost — documented trade, exact wins at frame=10.
# Determinism: frame membership is fixed by the (ts, event_id) total
# order; round-6 on the interpolated output.
# ---------------------------------------------------------------------------

W22_FRAME = 10

W22_ORACLE = f"""
SELECT event_id, user_id, ts,
       round(median(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {W22_FRAME - 1} PRECEDING AND CURRENT ROW), 6)
         AS rolling_median
FROM events
"""


@query("w22_rolling_median", oracle=W22_ORACLE)
def w22_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(W22_FRAME - 1), W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "rolling_median"
        ),
    )
