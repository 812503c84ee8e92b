"""The reference's three geo marts (SURVEY.md §2.12 D1-D15), re-expressed
over the driver testdata.

The testdata has no geo tables, so coordinates are synthesized
deterministically from integer keys (functions/geo.py) — identical doubles
in Spark and DuckDB — and the messenger roles are mapped onto the events
table:

  * position of an event       -> synth (lat, lon); ~14% NULL
  * city dimension             -> nation + synth coords (25 rows, broadcast)
  * "message"                  -> event_type = 'click'
  * message recipient          -> synth (user_id + event_id) % 150
  * "subscription" + channel   -> event_type = 'signup', channel = props.k
  * processing date partition  -> calendar date of ts

Every reference operator keeps its exact shape: nearest-city argmin (D2),
latest-event window (D4), gaps-and-islands home city (D5), lag-based
travel change-points (D6), pre-aggregate-then-zone pivot mart (D9-D11),
co-subscription pair expansion minus communicated pairs under a distance
threshold (D12-D15). Deviations from the reference (deterministic
tie-breaks, the project_step_3.py:134 user_right bug fixed, one canonical
event-time rule) are documented inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.functions.geo import (
    SQL_CITIES,
    SQL_EVENT_LAT,
    SQL_EVENT_LON,
    haversine_km,
    sql_haversine_km,
    synth_cities,
    with_synth_event_coords,
)
from hdfs_with_pyspark_spark.operators.pairs import canonicalize_pair
from hdfs_with_pyspark_spark.operators.spatial import nearest_city
from hdfs_with_pyspark_spark.operators.windows import (
    change_points,
    latest_per_key,
    streaks,
    top1_per_key,
)
from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import read_table

# Home-city streak threshold: the reference uses 27 active days over months
# of data (project_step_1.py:79); the testdata spans ~30 days with ~25
# cities, so 2+ consecutive active days in one city is the equivalent
# non-trivial threshold.
HOME_STREAK_DAYS = 2
# Friend-recommendation distance threshold (reference: 100 km over real
# cities; synth coords spread ~4000 km, so 300 km keeps the result set
# non-trivial but selective).
FRIEND_MAX_KM = 300.0
# The single processed date for the friends mart (reference takes it as a
# CLI arg, project_dag.py:61).
FRIEND_DATE = "2024-01-15"
# Sydney offset for the oracle-checked local_time: the testdata window is
# January (AEDT, UTC+11) so a fixed interval is exact; the mart API proper
# uses from_utc_timestamp (functions/timeutil.py).
SYDNEY_OFFSET_HOURS = 11

# ---------------------------------------------------------------------------
# Shared Spark-side building blocks
# ---------------------------------------------------------------------------


def _positioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with synth coords, positioned rows only (D3 input shape).

    spread: everything downstream (synth-coord hashing, the per-row
    C-fold nearest-city argmin) is per-row CPU that would otherwise run
    on the scan's single local split; no-op when the scan is already
    parallel (llm/textops.spread)."""
    from hdfs_with_pyspark_spark.llm.textops import spread
    ev = spread(read_table(spark, sf_dir, "events"))
    return with_synth_event_coords(ev).where(F.col("lat").isNotNull())


def _assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned events with their nearest city (D2/D3): zero-shuffle
    map-side argmin against the broadcast-small city dimension."""
    cities = synth_cities(read_table(spark, sf_dir, "nation"))
    return nearest_city(_positioned_events(spark, sf_dir), cities)


# Oracle-side twin of _assigned: cross join + row_number argmin. DuckDB has
# no map-side fold, but at sf0.01 (10k x 25) this is instant.
_SQL_ASSIGNED = f"""
cities AS ({SQL_CITIES}),
ev AS (
  SELECT event_id, user_id, event_type, ts, value, props,
         {SQL_EVENT_LAT} AS lat, {SQL_EVENT_LON} AS lon
  FROM events
),
pos AS (SELECT * FROM ev WHERE lat IS NOT NULL),
assigned AS (
  SELECT event_id, user_id, event_type, ts, value, props, lat, lon, city_id, city
  FROM (
    SELECT e.*, c.city_id, c.city,
           ROW_NUMBER() OVER (
             PARTITION BY e.event_id
             ORDER BY {sql_haversine_km('e.lat', 'e.lon', 'c.city_lat', 'c.city_lon')} ASC,
                      c.city_id ASC) AS rn
    FROM pos e CROSS JOIN cities c
  ) WHERE rn = 1
)
"""


# ---------------------------------------------------------------------------
# Flagship: per-city event-type counts (D9+D10 core — the whole spine:
# scan -> project -> filter -> nearest-city argmin -> agg).
# ---------------------------------------------------------------------------
@register("geo_city_event_counts", oracle=f"""
WITH {_SQL_ASSIGNED}
SELECT city, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM assigned
GROUP BY city, event_type
""")
def geo_city_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_assigned(spark, sf_dir)
            .groupBy("city", "event_type")
            .agg(F.count("*").alias("n_events")))


# Same mart through the grid-bucketed spatial join (SURVEY.md §7.3 — the
# scale path for city tables too large to fold into a literal array).
# Same oracle as geo_city_event_counts: the grid variant is exact by
# construction (boundary-margin fallback), and this query is the proof.
@register("geo_city_event_counts_gridded", oracle=f"""
WITH {_SQL_ASSIGNED}
SELECT city, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM assigned
GROUP BY city, event_type
""")
def geo_city_event_counts_gridded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.operators.spatial import nearest_city_gridded
    ev = _positioned_events(spark, sf_dir)
    cities = synth_cities(read_table(spark, sf_dir, "nation"))
    return (nearest_city_gridded(ev, cities, cell_deg=8.0)
            .groupBy("city", "event_type")
            .agg(F.count("*").alias("n_events")))


# Same mart through the round-4 strategy DISPATCHER: nearest_city_auto
# routes map-side vs gridded on |cities| (measured 512-city threshold,
# operators/spatial.py). Registering it makes the dispatch itself
# parity-proven — whichever side of the threshold the dimension lands
# on, the result must hash-match the same oracle.
@register("geo_city_event_counts_auto", oracle=f"""
WITH {_SQL_ASSIGNED}
SELECT city, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM assigned
GROUP BY city, event_type
""")
def geo_city_event_counts_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.operators.spatial import nearest_city_auto
    ev = _positioned_events(spark, sf_dir)
    cities = synth_cities(read_table(spark, sf_dir, "nation"))
    return (nearest_city_auto(ev, cities)
            .groupBy("city", "event_type")
            .agg(F.count("*").alias("n_events")))


# ---------------------------------------------------------------------------
# D4 — act_city: each user's latest positioned event -> city + local time.
# Reference keeps ALL max-ts ties then first() (project_step_1.py:42-51);
# here row_number over (ts desc, event_id desc) — deterministic.
# ---------------------------------------------------------------------------
@register("user_act_city", oracle=f"""
WITH {_SQL_ASSIGNED}
SELECT user_id, city AS act_city,
       strftime(ts + INTERVAL {SYDNEY_OFFSET_HOURS} HOUR,
                '%Y-%m-%d %H:%M:%S') AS local_time
FROM (
  SELECT user_id, city, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM assigned
) WHERE rn = 1
""")
def user_act_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _act_city_of(_assigned(spark, sf_dir))


def _act_city_of(assigned: DataFrame) -> DataFrame:
    last = latest_per_key(assigned, keys=["user_id"],
                          ts="ts", tiebreak=["event_id"])
    return last.select(
        "user_id",
        F.col("city").alias("act_city"),
        F.date_format(F.col("ts") + F.expr(f"INTERVAL {SYDNEY_OFFSET_HOURS} HOURS"),
                      "yyyy-MM-dd HH:mm:ss").alias("local_time"))


# ---------------------------------------------------------------------------
# D5 — home_city: gaps-and-islands over (user, active date, city).
# Deviation from the reference (documented, SURVEY.md §7.4.5): the
# reference's lag-filter-then-row_number drops the first day of every
# non-latest island (project_step_1.py:66-79), undercounting those streaks
# by one; this engine uses the classic dense_rank - row_number islands,
# which counts every island exactly. Pick = latest streak_end, then longest,
# then lexicographically smallest city — fully deterministic (the reference
# uses first() under ties, project_step_1.py:82).
# ---------------------------------------------------------------------------
@register("user_home_city", oracle=f"""
WITH {_SQL_ASSIGNED},
d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt, city FROM assigned),
r AS (
  SELECT user_id, city, dt,
         DENSE_RANK() OVER (PARTITION BY user_id ORDER BY dt DESC) AS rk,
         ROW_NUMBER() OVER (PARTITION BY user_id, city ORDER BY dt DESC) AS rn
  FROM d),
s AS (
  SELECT user_id, city, rk - rn AS island,
         MAX(dt) AS streak_end, COUNT(*) AS streak_len
  FROM r GROUP BY 1, 2, 3),
q AS (
  SELECT user_id, city, streak_end, streak_len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak_end DESC, streak_len DESC,
                                     city ASC) AS pick
  FROM s WHERE streak_len >= {HOME_STREAK_DAYS})
SELECT user_id, city AS home_city,
       strftime(streak_end, '%Y-%m-%d') AS home_streak_end,
       CAST(streak_len AS BIGINT) AS home_streak_days
FROM q WHERE pick = 1
""")
def user_home_city(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _home_city_of(_assigned(spark, sf_dir))


def _home_city_of(assigned: DataFrame) -> DataFrame:
    daily = assigned.select("user_id", F.to_date("ts").alias("dt"), "city")
    s = streaks(daily, key="user_id", group="city", date_col="dt")
    qualified = s.where(F.col("streak_len") >= HOME_STREAK_DAYS)
    picked = top1_per_key(qualified, keys=["user_id"],
                          order=[F.col("streak_end").desc(),
                                 F.col("streak_len").desc(),
                                 F.col("city").asc()])
    return picked.select(
        "user_id",
        F.col("city").alias("home_city"),
        F.date_format("streak_end", "yyyy-MM-dd").alias("home_streak_end"),
        F.col("streak_len").alias("home_streak_days"))


# ---------------------------------------------------------------------------
# D6 — travel: ordered city change-points per user, minus the home city
# (anti join), with count and the ordered path. The reference's
# collect_list order is shuffle-dependent (project_step_1.py:103, SURVEY.md
# §2.4 A6); here the path is array_sort over (ts, event_id) structs —
# deterministic — and rendered as a '->' string so the oracle can
# string_agg it.
# ---------------------------------------------------------------------------
@register("user_travel", oracle=f"""
WITH {_SQL_ASSIGNED},
ordered AS (
  SELECT user_id, city, ts, event_id,
         LAG(city) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_city
  FROM assigned),
changes AS (
  SELECT user_id, city, ts, event_id FROM ordered
  WHERE prev_city IS NULL OR city <> prev_city),
d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt, city FROM assigned),
r AS (
  SELECT user_id, city, dt,
         DENSE_RANK() OVER (PARTITION BY user_id ORDER BY dt DESC) AS rk,
         ROW_NUMBER() OVER (PARTITION BY user_id, city ORDER BY dt DESC) AS rn
  FROM d),
s AS (
  SELECT user_id, city, rk - rn AS island,
         MAX(dt) AS streak_end, COUNT(*) AS streak_len
  FROM r GROUP BY 1, 2, 3),
q AS (
  SELECT user_id, city,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak_end DESC, streak_len DESC,
                                     city ASC) AS pick
  FROM s WHERE streak_len >= {HOME_STREAK_DAYS}),
home AS (SELECT user_id, city FROM q WHERE pick = 1)
SELECT c.user_id,
       CAST(COUNT(*) AS BIGINT) AS travel_count,
       string_agg(c.city, '->' ORDER BY c.ts, c.event_id) AS travel_path
FROM changes c
LEFT JOIN home h ON h.user_id = c.user_id AND h.city = c.city
WHERE h.user_id IS NULL
GROUP BY c.user_id
""")
def user_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _travel_of(_assigned(spark, sf_dir))


def _travel_of(assigned: DataFrame, home: DataFrame | None = None) -> DataFrame:
    changes = change_points(assigned.select("user_id", "ts", "event_id", "city"),
                            keys=["user_id"], order=["ts", "event_id"],
                            value="city")
    if home is None:
        home = _home_city_of(assigned)
    home = home.select("user_id", F.col("home_city").alias("city"))
    visits = changes.join(home, ["user_id", "city"], "left_anti")
    path = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "city"))),
            lambda x: x["city"]),
        "->")
    return (visits.groupBy("user_id")
                  .agg(F.count("*").alias("travel_count"),
                       path.alias("travel_path")))


# ---------------------------------------------------------------------------
# D7 — user mart: act_city ⟕ home_city ⟕ travel (project_step_1.py:108-112).
# ---------------------------------------------------------------------------
@register("user_mart", oracle=f"""
WITH {_SQL_ASSIGNED},
last_ev AS (
  SELECT user_id, city AS act_city,
         strftime(ts + INTERVAL {SYDNEY_OFFSET_HOURS} HOUR,
                  '%Y-%m-%d %H:%M:%S') AS local_time
  FROM (
    SELECT user_id, city, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM assigned
  ) WHERE rn = 1),
d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS dt, city FROM assigned),
r AS (
  SELECT user_id, city, dt,
         DENSE_RANK() OVER (PARTITION BY user_id ORDER BY dt DESC) AS rk,
         ROW_NUMBER() OVER (PARTITION BY user_id, city ORDER BY dt DESC) AS rn
  FROM d),
s AS (
  SELECT user_id, city, rk - rn AS island,
         MAX(dt) AS streak_end, COUNT(*) AS streak_len
  FROM r GROUP BY 1, 2, 3),
q AS (
  SELECT user_id, city,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak_end DESC, streak_len DESC,
                                     city ASC) AS pick
  FROM s WHERE streak_len >= {HOME_STREAK_DAYS}),
home AS (SELECT user_id, city AS home_city FROM q WHERE pick = 1),
ordered AS (
  SELECT user_id, city, ts, event_id,
         LAG(city) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_city
  FROM assigned),
changes AS (
  SELECT user_id, city, ts, event_id FROM ordered
  WHERE prev_city IS NULL OR city <> prev_city),
travel AS (
  SELECT c.user_id,
         CAST(COUNT(*) AS BIGINT) AS travel_count,
         string_agg(c.city, '->' ORDER BY c.ts, c.event_id) AS travel_path
  FROM changes c
  LEFT JOIN home h ON h.user_id = c.user_id AND c.city = h.home_city
  WHERE h.user_id IS NULL
  GROUP BY c.user_id)
SELECT l.user_id, l.act_city, l.local_time, h.home_city,
       t.travel_count, t.travel_path
FROM last_ev l
LEFT JOIN home h USING (user_id)
LEFT JOIN travel t USING (user_id)
""")
def user_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One shared, pinned nearest-city assignment feeds all three subtrees
    # (the reference caches the same frame for the same reason, C1,
    # project_step_1.py:35) — without it the scan+argmin runs 4x. The
    # repartition puts the pin on user_id hash layout, so every
    # downstream Window.partitionBy(user_id) and the final joins reuse it
    # instead of each adding an Exchange.
    assigned = state.pinned(
        spark, ("user_mart:assigned", sf_dir),
        lambda: _assigned(spark, sf_dir).repartition("user_id"))
    act = _act_city_of(assigned)
    # Home is consumed twice (mart column + travel's anti-join): compute the
    # streaks subtree once and share the frame between both consumers.
    home_full = _home_city_of(assigned)
    home = home_full.select("user_id", "home_city")
    travel = _travel_of(assigned, home=home_full)
    return (act.join(home, ["user_id"], "left")
               .join(travel, ["user_id"], "left")
               .select("user_id", "act_city", "local_time", "home_city",
                       "travel_count", "travel_path"))


# ---------------------------------------------------------------------------
# D8-D11 — zone mart. "message" := event_type='click'. Shape preserved from
# the reference (project_step_2.py): last positioned click per user (D8),
# geo backfill via coalesce + PRE-AGGREGATION before the nearest-city
# assignment (D9 — the reference's O4 trick: shrink N before the argmin;
# Catalyst will not invent this rewrite, SURVEY.md §4), zone assignment
# (D10), week+month pivots joined on the distinct (month, week, zone) spine
# (D11 — weeks straddle months across years, project_step_2.py:95).
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_SQL_ZONE_BASE = f"""
cities AS ({SQL_CITIES}),
ev AS (
  SELECT event_id, user_id, event_type, ts,
         {SQL_EVENT_LAT} AS lat, {SQL_EVENT_LON} AS lon
  FROM events
),
last_click AS (
  SELECT user_id, lat AS last_lat, lon AS last_lon
  FROM (
    SELECT user_id, lat, lon,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE event_type = 'click' AND lat IS NOT NULL
  ) WHERE rn = 1),
with_geo AS (
  SELECT CAST(weekofyear(e.ts) AS INT) AS week,
         CAST(month(e.ts) AS INT) AS month,
         e.event_type,
         COALESCE(e.lat, l.last_lat) AS lat_def,
         COALESCE(e.lon, l.last_lon) AS lon_def,
         CAST(COUNT(*) AS BIGINT) AS events_count
  FROM ev e JOIN last_click l USING (user_id)
  GROUP BY 1, 2, 3, 4, 5),
zoned AS (
  SELECT week, month, event_type, events_count, city_id
  FROM (
    SELECT g.*, c.city_id,
           ROW_NUMBER() OVER (
             PARTITION BY g.week, g.month, g.event_type, g.lat_def, g.lon_def
             ORDER BY {sql_haversine_km('g.lat_def', 'g.lon_def', 'c.city_lat', 'c.city_lon')} ASC,
                      c.city_id ASC) AS rn
    FROM with_geo g CROSS JOIN cities c
  ) WHERE rn = 1)
"""


def _zone_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8+D9+D10: pre-aggregated per-(week, month, type, coords) counts with
    zone ids."""
    ev = with_synth_event_coords(read_table(spark, sf_dir, "events"))
    last_click = latest_per_key(
        ev.where((F.col("event_type") == "click") & F.col("lat").isNotNull()),
        keys=["user_id"], ts="ts", tiebreak=["event_id"]
    ).select("user_id", F.col("lat").alias("last_lat"), F.col("lon").alias("last_lon"))

    with_geo = (ev
                .join(last_click, "user_id", "inner")
                .groupBy(F.weekofyear("ts").alias("week"),
                         F.month("ts").alias("month"),
                         "event_type",
                         F.coalesce("lat", "last_lat").alias("lat_def"),
                         F.coalesce("lon", "last_lon").alias("lon_def"))
                .agg(F.count("*").alias("events_count")))

    cities = synth_cities(read_table(spark, sf_dir, "nation"))
    return (nearest_city(with_geo, cities, lat_col="lat_def", lon_col="lon_def")
            .select("week", "month", "event_type", "events_count", "city_id"))


def _pivot_counts_sql(period: str) -> str:
    cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN events_count END) AS BIGINT)"
        f" AS {period}_{t}" for t in EVENT_TYPES)
    return (f"SELECT {period}, city_id,\n         {cols}\n"
            f"  FROM zoned GROUP BY {period}, city_id")


@register("zone_mart", oracle=f"""
WITH {_SQL_ZONE_BASE},
wk AS ({_pivot_counts_sql('week')}),
mo AS ({_pivot_counts_sql('month')}),
spine AS (SELECT DISTINCT month, week, city_id FROM zoned)
SELECT s.month, s.week, s.city_id,
       wk.week_click, wk.week_view, wk.week_purchase, wk.week_signup, wk.week_error,
       mo.month_click, mo.month_view, mo.month_purchase, mo.month_signup, mo.month_error
FROM spine s
LEFT JOIN wk ON wk.week = s.week AND wk.city_id = s.city_id
LEFT JOIN mo ON mo.month = s.month AND mo.city_id = s.city_id
""")
def zone_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Read by the spine and both pivots.
    zoned = state.pinned(spark, ("zone_mart:zoned", sf_dir),
                         lambda: _zone_events(spark, sf_dir))

    def pivot_counts(period: str) -> DataFrame:
        piv = (zoned.groupBy(period, "city_id")
                    .pivot("event_type", EVENT_TYPES)   # explicit values: O8
                    .agg(F.sum("events_count")))
        for t in EVENT_TYPES:
            piv = piv.withColumnRenamed(t, f"{period}_{t}")
        return piv

    spine = zoned.select("month", "week", "city_id").distinct()
    return (spine
            .join(pivot_counts("week"), ["week", "city_id"], "left")
            .join(pivot_counts("month"), ["month", "city_id"], "left")
            .select("month", "week", "city_id",
                    *[f"week_{t}" for t in EVENT_TYPES],
                    *[f"month_{t}" for t in EVENT_TYPES]))


# ---------------------------------------------------------------------------
# D12-D15 — friend recommendations. Roles: subscription := signup event with
# channel props.k; message := click event with synthesized recipient
# (user_id + event_id) % 150. Shape preserved from project_step_3.py:
# subscribers (D12), communicated pairs = co-subscribed AND messaged (D13,
# via least/greatest canonicalization instead of union-swap — operators/
# pairs.py), candidate pairs on one date within a distance threshold minus
# communicated (D14), midpoint zone assignment (D15).
#
# Reference bug fixed (SURVEY.md §2.12 note): project_step_3.py:134-135
# selects user_id as BOTH user_left and user_right; the evident intent —
# user_right = the other user — is implemented here.
# ---------------------------------------------------------------------------

_SQL_FRIENDS_BASE = f"""
cities AS ({SQL_CITIES}),
ev AS (
  SELECT event_id, user_id, event_type, ts, props,
         {SQL_EVENT_LAT} AS lat, {SQL_EVENT_LON} AS lon
  FROM events
),
subscribers AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS channel
  FROM ev
  WHERE event_type = 'signup'
    AND json_extract_string(props, '$.k') IS NOT NULL),
messages AS (
  SELECT user_id AS message_from,
         (user_id + event_id) % 150 AS message_to
  FROM ev WHERE event_type = 'click'),
sub_users AS (SELECT DISTINCT user_id FROM subscribers),
communicated AS (
  SELECT DISTINCT
         GREATEST(message_from, message_to) AS user_left,
         LEAST(message_from, message_to)    AS user_right
  FROM messages m
  WHERE message_from <> message_to
    AND EXISTS (SELECT 1 FROM sub_users s WHERE s.user_id = m.message_from)
    AND EXISTS (SELECT 1 FROM sub_users s WHERE s.user_id = m.message_to)
    AND EXISTS (SELECT 1 FROM subscribers a JOIN subscribers b USING (channel)
                WHERE a.user_id = m.message_from AND b.user_id = m.message_to)),
day_pos AS (
  SELECT user_id, lat AS last_lat, lon AS last_lon
  FROM (
    SELECT user_id, lat, lon,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
    WHERE CAST(ts AS DATE) = DATE '{FRIEND_DATE}' AND lat IS NOT NULL
  ) WHERE rn = 1),
sub_pos AS (
  SELECT s.user_id, s.channel, p.last_lat, p.last_lon
  FROM subscribers s JOIN day_pos p USING (user_id)),
candidates AS (
  SELECT DISTINCT a.user_id AS user_left, b.user_id AS user_right,
         a.last_lat AS lat_l, a.last_lon AS lon_l,
         b.last_lat AS lat_r, b.last_lon AS lon_r
  FROM sub_pos a JOIN sub_pos b USING (channel)
  WHERE a.user_id > b.user_id),
fresh AS (
  SELECT c.* FROM candidates c
  LEFT JOIN communicated x
    ON x.user_left = c.user_left AND x.user_right = c.user_right
  WHERE x.user_left IS NULL),
near AS (
  SELECT user_left, user_right,
         (lat_l + lat_r) / 2 AS lat_avg, (lon_l + lon_r) / 2 AS lon_avg,
         {sql_haversine_km('lat_l', 'lon_l', 'lat_r', 'lon_r')} AS dist
  FROM fresh
  WHERE {sql_haversine_km('lat_l', 'lon_l', 'lat_r', 'lon_r')} < {FRIEND_MAX_KM})
"""


def _friend_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12-D14: co-subscribed, never-communicated, same-day-nearby pairs
    with midpoint coordinates.

    Scale notes (vs the reference's project_step_3.py:37-96 shape):

    - The reference builds the co-subscribed pair relation TWICE — once to
      qualify communicated pairs, once for candidates. The co-subscription
      qualifier on `communicated` is redundant for the anti-join: every
      candidate pair is co-subscribed by construction, so anti-joining
      candidates against plain canonicalized message pairs excludes exactly
      the same rows. That removes the second quadratic self-join and the
      two semi-join reductions feeding it.
    - The distance predicate is applied BEFORE the pair `distinct`: the
      haversine filter is map-side (no shuffle) and each (left, right) pair
      carries identical coordinates in every duplicate, so
      filter-then-distinct is equivalent to distinct-then-filter while
      shuffling only the nearby survivors.
    """
    ev = with_synth_event_coords(read_table(spark, sf_dir, "events"))
    channel = F.get_json_object("props", "$.k").cast("long")

    subscribers = (ev.where((F.col("event_type") == "signup") & channel.isNotNull())
                     .select("user_id", channel.alias("channel"))
                     .distinct())

    # Canonicalized distinct message pairs; small relation → broadcast
    # anti-join against candidates (AQE picks the build side at runtime).
    messages = (ev.where(F.col("event_type") == "click")
                  .select(F.col("user_id").alias("message_from"),
                          ((F.col("user_id") + F.col("event_id")) % 150)
                          .alias("message_to"))
                  .where(F.col("message_from") != F.col("message_to")))
    communicated = canonicalize_pair(
        messages, "message_from", "message_to").distinct()

    day_pos = latest_per_key(
        ev.where((F.to_date("ts") == F.lit(FRIEND_DATE)) & F.col("lat").isNotNull()),
        keys=["user_id"], ts="ts", tiebreak=["event_id"]
    ).select("user_id", F.col("lat").alias("last_lat"),
             F.col("lon").alias("last_lon"))

    sub_pos = subscribers.join(day_pos, "user_id", "inner")
    right = sub_pos.select(F.col("channel"),
                           F.col("user_id").alias("user_right"),
                           F.col("last_lat").alias("lat_r"),
                           F.col("last_lon").alias("lon_r"))
    dist = haversine_km(F.col("lat_l"), F.col("lon_l"),
                        F.col("lat_r"), F.col("lon_r"))
    candidates = (sub_pos
                  .select("channel", F.col("user_id").alias("user_left"),
                          F.col("last_lat").alias("lat_l"),
                          F.col("last_lon").alias("lon_l"))
                  .join(right, "channel")
                  .where(F.col("user_left") > F.col("user_right"))
                  .drop("channel")
                  .withColumn("dist", dist)
                  .where(F.col("dist") < FRIEND_MAX_KM)
                  .distinct())

    return (candidates
            .join(communicated, ["user_left", "user_right"], "left_anti")
            .select("user_left", "user_right",
                    ((F.col("lat_l") + F.col("lat_r")) / 2).alias("lat_avg"),
                    ((F.col("lon_l") + F.col("lon_r")) / 2).alias("lon_avg"),
                    "dist"))


@register("friend_recommendations", oracle=f"""
WITH {_SQL_FRIENDS_BASE},
zoned AS (
  SELECT user_left, user_right, city_id AS zone_id, dist
  FROM (
    SELECT n.*, c.city_id,
           ROW_NUMBER() OVER (
             PARTITION BY n.user_left, n.user_right
             ORDER BY {sql_haversine_km('n.lat_avg', 'n.lon_avg', 'c.city_lat', 'c.city_lon')} ASC,
                      c.city_id ASC) AS rn
    FROM near n CROSS JOIN cities c
  ) WHERE rn = 1)
SELECT user_left, user_right, zone_id,
       ROUND(dist, 3) AS distance_km,
       '{FRIEND_DATE}' AS processed_dttm
FROM zoned
""")
def friend_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cands = _friend_candidates(spark, sf_dir)
    cities = synth_cities(read_table(spark, sf_dir, "nation"))
    zoned = nearest_city(cands, cities, lat_col="lat_avg", lon_col="lon_avg")
    return zoned.select(
        "user_left", "user_right",
        F.col("city_id").alias("zone_id"),
        F.round("dist", 3).alias("distance_km"),
        F.lit(FRIEND_DATE).alias("processed_dttm"))


# ---------------------------------------------------------------------------
# D12 standalone — subscriber channel fan-out (distinct pairs + per-channel
# reach), exercising the co-subscription self-join's input relation.
# ---------------------------------------------------------------------------
@register("channel_subscribers", oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS channel,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subscribers
FROM events
WHERE event_type = 'signup' AND json_extract_string(props, '$.k') IS NOT NULL
GROUP BY 1
""")
def channel_subscribers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    channel = F.get_json_object("props", "$.k").cast("long")
    return (ev.where((F.col("event_type") == "signup") & channel.isNotNull())
              .groupBy(channel.alias("channel"))
              .agg(F.countDistinct("user_id").alias("n_subscribers")))


# ---------------------------------------------------------------------------
# events_zorder_cells — Morton-cell aggregation: quantize every positioned
# event's (lat, lon) to Z_QUERY_BITS bits per dimension, bit-interleave
# into a Z-curve cell id, count per cell. The query half of the Z-order
# story (operators/zorder.py holds the clustered-write half): the same
# integer interleave that clusters the layout also serves as a spatial
# bucket key — map-side expression + one agg exchange, no joins.
# ---------------------------------------------------------------------------
Z_QUERY_BITS = 6
LAT_RANGE = (-44.0, -10.0)
LON_RANGE = (112.0, 154.0)


def _zorder_oracle() -> str:
    from hdfs_with_pyspark_spark.operators.zorder import (
        sql_morton_code,
        sql_quantize,
    )
    qx = sql_quantize("lat", *LAT_RANGE, bits=Z_QUERY_BITS)
    qy = sql_quantize("lon", *LON_RANGE, bits=Z_QUERY_BITS)
    return f"""
WITH ev AS (
  SELECT {SQL_EVENT_LAT} AS lat, {SQL_EVENT_LON} AS lon FROM events),
pos AS (SELECT * FROM ev WHERE lat IS NOT NULL),
q AS (SELECT {qx} AS zx, {qy} AS zy FROM pos)
SELECT {sql_morton_code('zx', 'zy', Z_QUERY_BITS)} AS z_cell,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM q GROUP BY 1
"""


@register("events_zorder_cells", oracle=_zorder_oracle)
def events_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.operators.zorder import morton_code, quantize
    ev = _positioned_events(spark, sf_dir)
    zx = quantize(F.col("lat"), *LAT_RANGE, bits=Z_QUERY_BITS)
    zy = quantize(F.col("lon"), *LON_RANGE, bits=Z_QUERY_BITS)
    return (ev.select(morton_code(zx, zy, Z_QUERY_BITS).alias("z_cell"))
              .groupBy("z_cell")
              .agg(F.count("*").cast("long").alias("n_events")))


# --------------------------------------------------------------------------
# events_geohash_hotspots — geohash cells as the STRING-keyed geo index
# (the join/API counterpart of operators/zorder.py's binary Morton
# clustering): standard geohash-5 (25 bits: 13 lon, 12 lat, lon bit
# first, base32 alphabet) computed as PURE integer div/mod arithmetic —
# no bit operators, so the identical expression text runs in Spark and
# DuckDB — then the top hotspot cells by event count. Geohash's
# defining property (shared prefix => spatial containment) is what
# makes it the interchange format for geo joins against external
# systems; cell assignment is map-side, the aggregate is
# partial-before-exchange, and the top-k is a TakeOrderedAndProject
# heap, so the fact table is scanned once and never globally sorted.
# --------------------------------------------------------------------------
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_TOPK = 20


def _sql_geohash5(lat: str, lon: str) -> str:
    """Portable SQL for the 5-char geohash of (lat, lon)."""
    ln = f"CAST(FLOOR(({lon} + 180.0) / 360.0 * 8192) AS BIGINT)"
    lt = f"CAST(FLOOR(({lat} + 90.0) / 180.0 * 4096) AS BIGINT)"
    terms = []
    for j in range(13):        # lon bits, MSB first -> even slots
        weight = 1 << (24 - 2 * j)
        terms.append(f"(({ln} // {1 << (12 - j)}) % 2) * {weight}")
    for j in range(12):        # lat bits, MSB first -> odd slots
        weight = 1 << (23 - 2 * j)
        terms.append(f"(({lt} // {1 << (11 - j)}) % 2) * {weight}")
    code = "(" + " + ".join(terms) + ")"
    chars = [f"substr('{GEOHASH_ALPHABET}', "
             f"CAST(({code} // {1 << (20 - 5 * k)}) % 32 AS INT) + 1, 1)"
             for k in range(5)]
    return "(" + " || ".join(chars) + ")"


@register("events_geohash_hotspots", oracle=f"""
WITH pos AS (
  SELECT {SQL_EVENT_LAT} AS lat, {SQL_EVENT_LON} AS lon, user_id
  FROM events),
cells AS (
  SELECT {_sql_geohash5('lat', 'lon')} AS geohash5, user_id
  FROM pos WHERE lat IS NOT NULL)
SELECT geohash5,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM cells GROUP BY geohash5
ORDER BY n_events DESC, geohash5 ASC
LIMIT {GEOHASH_TOPK}
""")
def events_geohash_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = with_synth_event_coords(read_table(spark, sf_dir, "events")) \
        .where(F.col("lat").isNotNull()) \
        .select("user_id", "lat", "lon")
    # Spark spells integer division `div`; everything else in the
    # generated expression is shared verbatim with the oracle.
    gh = _sql_geohash5("lat", "lon").replace("//", "div")
    return (ev.select(F.expr(gh).alias("geohash5"), "user_id")
              .groupBy("geohash5")
              .agg(F.count("*").alias("n_events"),
                   F.count_distinct("user_id").cast("long")
                    .alias("n_users"))
              .select("geohash5",
                      F.col("n_events").cast("long").alias("n_events"),
                      "n_users")
              .orderBy(F.col("n_events").desc(), F.col("geohash5").asc())
              .limit(GEOHASH_TOPK))
