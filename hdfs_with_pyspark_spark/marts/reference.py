"""The reference's three marts over the reference's OWN data layout —
the drop-in API for users of DimitryShR/HDFS-with-pyspark.

Input tables carry the schemas a reference deployment already has
(schemas.GEO_EVENTS: nested ``event`` struct + event_type/lat/lon/date;
schemas.GEO_CITIES: id/city/lat/lon). Every function is a pure
DataFrame -> DataFrame operator; sources/io.read_geo_events /
read_events_partition produce the inputs from parquet.

Coverage map (SURVEY.md §2.12):
  D1  haversine            functions/geo.haversine_km
  D2  nearest city         operators/spatial.nearest_city
  D3  message_geo          below
  D4  last_geo             below
  D5  home_geo             below (27 active-day streak)
  D6  travel               below
  D7  user_mart            below
  D8-D11 zone_mart         below (conditional sums, window month totals)
  D12-D15 friend_recommendations below

Documented deviations from the reference (all deterministic supersets):
  * one canonical event-time rule, coalesce(message_ts, datetime)
    (the reference flips the order between steps — SURVEY.md §2.2 P10);
  * every arbitrary pick (`first()` under ties, `collect_list` order,
    min/max-over-window keep-all-ties) replaced with total-order
    tiebreaks;
  * the project_step_3.py:134 bug (a pair's user_right set to user_left,
    recommending users to themselves) is fixed to the evident intent:
    the pair is (user_left, user_right) canonicalized as (max, min);
  * nearest-city ties resolve to the lowest city id (the reference keeps
    all equidistant cities, W1);
  * zone-mart events with no event time or no zone keep their counts in
    a row with a NULL month/week or city_id (the reference's join-back on
    those NULL keys never matches, so it reports 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.functions.geo import haversine_km
from hdfs_with_pyspark_spark.functions.timeutil import event_time, local_time
from hdfs_with_pyspark_spark.operators.pairs import canonicalize_pair
from hdfs_with_pyspark_spark.operators.spatial import nearest_city
from hdfs_with_pyspark_spark.operators.windows import (
    change_points,
    latest_per_key,
    streaks,
    top1_per_key,
)

HOME_STREAK_DAYS = 27  # reference project_step_1.py:79
EVENT_TYPES = ["message", "reaction", "subscription", "registration"]


def _cities(cities: DataFrame) -> DataFrame:
    """GEO_CITIES -> the column names operators/spatial expects."""
    return cities.select(F.col("id").alias("city_id"), "city",
                         F.col("lat").alias("city_lat"),
                         F.col("lon").alias("city_lon"))


# ---------------------------------------------------------------- D3
def message_geo(events: DataFrame, cities: DataFrame) -> DataFrame:
    """Positioned messages with their nearest city (reference
    project_step_1.py:19-37).

    Output: user_id, message_id, ts, lat, lon, city_id, city.
    """
    msgs = (events
            .where((F.col("event_type") == "message")
                   & F.col("lat").isNotNull() & F.col("lon").isNotNull())
            .select(F.col("event.message_from").alias("user_id"),
                    F.col("event.message_id").alias("message_id"),
                    event_time(F.col("event.message_ts"),
                               F.col("event.datetime")).alias("ts"),
                    "lat", "lon"))
    return nearest_city(msgs, _cities(cities))


# ---------------------------------------------------------------- D4
def last_geo(messages: DataFrame, tz: str = "Australia/Sydney") -> DataFrame:
    """Per-user latest message's city + local wall-clock time (reference
    project_step_1.py:40-54; deterministic tiebreak on message_id)."""
    last = latest_per_key(messages, keys=["user_id"], ts="ts",
                          tiebreak=["message_id"])
    return last.select("user_id",
                       F.col("city").alias("act_city"),
                       local_time(F.col("ts"), tz).alias("local_time"))


# ---------------------------------------------------------------- D5
def home_geo(messages: DataFrame,
             streak_days: int = HOME_STREAK_DAYS) -> DataFrame:
    """Home city: the city of the user's latest streak of >= streak_days
    consecutive *active* days (reference project_step_1.py:56-85).

    Tie policy (deviation: the reference `first()`-picks): latest
    streak_end wins; equal ends resolve to the lexicographically smallest
    city.
    """
    daily = messages.select("user_id", F.to_date("ts").alias("dt"), "city")
    s = streaks(daily, key="user_id", group="city", date_col="dt")
    qualified = s.where(F.col("streak_len") >= streak_days)
    picked = top1_per_key(qualified, keys=["user_id"],
                          order=[F.col("streak_end").desc(),
                                 F.col("city").asc()])
    return picked.select("user_id", F.col("city").alias("home_city"))


# ---------------------------------------------------------------- D6
def travel(messages: DataFrame, home: DataFrame) -> DataFrame:
    """Ordered visited-city runs minus the home city (reference
    project_step_1.py:91-105), with a deterministically ordered
    travel_array (deviation: the reference's collect_list order is
    shuffle-dependent).

    ``home`` is joined INTO the change points rather than anti-joined
    away, so the caller's one ``home`` frame also supplies the mart's
    home_city: the mart then builds the three-window streak chain once.
    A run is away iff ``NOT (city = home_city)`` with NULL on either side
    counting as away — exactly the rows the reference's anti-join on
    (user, city) keeps. Users whose every run is at home get 0 and [].

    Output: user_id, home_city, travel_count, travel_array.
    """
    changes = change_points(
        messages.select("user_id", "ts", "message_id", "city"),
        keys=["user_id"], order=["ts", "message_id"], value="city")
    away = ~F.coalesce(F.col("city") == F.col("home_city"), F.lit(False))
    ordered = F.transform(
        F.array_sort(F.collect_list(
            F.when(away, F.struct("ts", "message_id", "city")))),
        lambda s: s["city"])
    return (changes.join(home, ["user_id"], "left")
                   .groupBy("user_id", "home_city")
                   .agg(F.count(F.when(away, 1)).alias("travel_count"),
                        ordered.alias("travel_array")))


# ---------------------------------------------------------------- D7
def user_mart(events: DataFrame, cities: DataFrame,
              tz: str = "Australia/Sydney") -> DataFrame:
    """The step-1 mart: user_id, local_time, act_city, home_city,
    travel_count, travel_array (reference project_step_1.py:108-112).

    The shared message_geo frame is PRUNED to the four columns the
    subtrees consume (lat/lon/city_id never leave message_geo — at 10M
    events that's ~40% less cache) and PRE-PARTITIONED on user_id
    before the persist, so all three window/aggregate subtrees read the
    cache already hash-clustered on their key — one exchange at build
    instead of three corpus-sized exchanges downstream (measured
    28.6s -> 19.5s at 10M events; the no-persist form is 41.9s, so the
    cache itself earns its keep too). The cache is session state
    (``state.pinned``), keyed by the plans of both inputs.

    home_geo is built once and reaches the mart through ``travel``,
    which carries home_city next to the travel columns; joining it to
    ``act`` separately as well would run its streak windows twice.
    """
    msgs = state.pinned(
        events.sparkSession,
        ("user_mart:msgs", events.semanticHash(), cities.semanticHash()),
        lambda: (message_geo(events, cities)
                 .select("user_id", "message_id", "ts", "city")
                 .repartition("user_id")))
    act = last_geo(msgs, tz)
    trav = travel(msgs, home_geo(msgs))
    return (act.join(trav, ["user_id"], "left")
               .select("user_id", "local_time", "act_city", "home_city",
                       F.coalesce("travel_count", F.lit(0)).alias("travel_count"),
                       F.coalesce("travel_array", F.array().cast("array<string>"))
                        .alias("travel_array")))


# ---------------------------------------------------------------- D8-D11
def zone_mart(events: DataFrame, cities: DataFrame) -> DataFrame:
    """The step-2 mart: weekly and monthly per-zone event counts, one
    column per event type (reference project_step_2.py). Columns: month,
    city_id, week, week_<type>..., month_<type>... for EVENT_TYPES.

    Shape preserved from the reference deliberately (§4 O4): counts are
    pre-aggregated by (week, month, type, lat, lon) BEFORE the nearest-
    city assignment — Catalyst cannot push an aggregate through the
    spatial argmin, and the pre-agg shrinks the argmin input from |events|
    to |distinct positions x weeks|.
    """
    ts = event_time(F.col("event.message_ts"), F.col("event.datetime"))
    actor = F.coalesce("event.message_from", "event.reaction_from", "event.user")
    ev = events.select(F.col("event_type"), ts.alias("ts"),
                       actor.alias("user_id"), "lat", "lon")

    # geo backfill: events without coords take the actor's last message
    # position (reference project_step_2.py:37-52)
    last_msg = top1_per_key(
        ev.where((F.col("event_type") == "message") & F.col("lat").isNotNull()),
        keys=["user_id"],
        order=[F.col("ts").desc(), F.col("lat").asc(), F.col("lon").asc()]
    ).select("user_id", F.col("lat").alias("lat_m"), F.col("lon").alias("lon_m"))
    filled = (ev.join(last_msg, ["user_id"], "left")
                .select("event_type", "ts",
                        F.coalesce("lat", "lat_m").alias("lat"),
                        F.coalesce("lon", "lon_m").alias("lon"))
                .where(F.col("lat").isNotNull()))

    pre = (filled
           .groupBy(F.weekofyear("ts").alias("week"),
                    F.month("ts").alias("month"),
                    "event_type", "lat", "lon")
           .agg(F.count("*").alias("n")))
    zoned = nearest_city(pre, _cities(cities))

    # One aggregate over the weekly groups, which are exactly the
    # reference's distinct (month, week, zone) spine: a week straddling a
    # month boundary keeps one row per month (project_step_2.py:95, O9).
    # The monthly totals are window sums of the weekly ones over
    # (month, zone), so the frame is consumed once and needs no cache.
    # SQL text keeps it to one Py4J call per column.
    weekly = zoned.groupBy("month", "week", "city_id").agg(*[
        F.expr(f"sum(CASE WHEN event_type = '{t}' THEN n ELSE 0L END) AS week_{t}")
        for t in EVENT_TYPES])
    monthly = [
        F.expr(f"sum(week_{t}) OVER (PARTITION BY month, city_id) AS month_{t}")
        for t in EVENT_TYPES]
    return weekly.select("month", "city_id", "week",
                         *[f"week_{t}" for t in EVENT_TYPES], *monthly)


# ---------------------------------------------------------------- D12-D15
#: Default per-channel member cap for the pair expansion. Bounds any one
#: channel's contribution at cap^2 ≈ 16.8M pairs — one AQE-splittable
#: skewed stage instead of an unbounded |members|^2 blowup. Channels under
#: the cap (virtually all, in a realistic membership distribution) are
#: untouched, so the default guards the tail without changing typical
#: results. Pass None explicitly for the exact uncapped expansion.
DEFAULT_MAX_CHANNEL_MEMBERS = 4096


def friend_recommendations(events: DataFrame, events_on_date: DataFrame,
                           cities: DataFrame, max_km: float,
                           tz: str = "Australia/Sydney",
                           max_channel_members: int | None =
                           DEFAULT_MAX_CHANNEL_MEMBERS) -> DataFrame:
    """The step-3 mart: co-subscribed, never-communicated, geographically
    close user pairs with their midpoint's zone (reference
    project_step_3.py).

    ``events`` is the full history (subscriptions + messages);
    ``events_on_date`` the single processing-date partition
    (io.read_events_partition) supplying positions.

    ``max_channel_members`` is the hot-key mitigation for the pair
    expansion: the self-join on ``channel`` is quadratic in channel
    membership, so one viral channel (10^6 members = 10^12 pairs) stalls
    the stage no matter how AQE splits it. With a cap, each channel
    contributes only its ``max_channel_members`` lowest-user_id members
    (deterministic rank) to the expansion — bounding any channel's pair
    count at cap^2 while channels under the cap are untouched
    (equivalence-tested in tests/test_reference_marts.py). Production
    picks the cap so that P(channel over cap) * recall loss is
    acceptable; candidate pairs lost to the cap only shrink the
    recommendation set, never corrupt it.
    """
    subscribers = (events
                   .where((F.col("event_type") == "subscription")
                          & F.col("event.subscription_channel").isNotNull())
                   .select(F.col("event.user").alias("user_id"),
                           F.col("event.subscription_channel").alias("channel"))
                   .distinct())
    # Not persisted, unlike the reference's C1 cache (:32): every copy of
    # a cached frame is read through its own cache stage, so AQE would
    # not reuse the exchanges the repeated subtrees share (the two
    # sub_users semi-joins, the capped sub_pos on both sides of the
    # channel self-join). Uncached, each shared exchange runs once.

    # semi-join reduction first (reference O6, :43-51): only subscriber
    # messages can matter
    sub_users = subscribers.select("user_id").distinct()
    msgs = (events.where(F.col("event_type") == "message")
                  .select(F.col("event.message_from").alias("u"),
                          F.col("event.message_to").alias("v"))
                  .where(F.col("v").isNotNull())
                  .join(sub_users.withColumnRenamed("user_id", "u"), "u", "left_semi")
                  .join(sub_users.withColumnRenamed("user_id", "v"), "v", "left_semi"))
    communicated = (canonicalize_pair(msgs, "u", "v").distinct())

    # positions on the processing date: the actor's latest located event
    actor = F.coalesce("event.message_from", "event.reaction_from", "event.user")
    ts = event_time(F.col("event.message_ts"), F.col("event.datetime"))
    located = (events_on_date
               .where(F.col("lat").isNotNull())
               .select(actor.alias("user_id"), ts.alias("ts"),
                       F.col("event.message_id").alias("message_id"),
                       "lat", "lon"))
    pos = top1_per_key(located, keys=["user_id"],
                       order=[F.col("ts").desc(), F.col("message_id").desc_nulls_last(),
                              F.col("lat").asc(), F.col("lon").asc()]
                       ).select("user_id", "lat", "lon", "ts")

    # co-subscription pair expansion on the channel key (skew note:
    # popular channels are quadratic — AQE skew-join splitting spreads
    # the work; max_channel_members bounds it)
    sub_pos = subscribers.join(pos, "user_id")
    if max_channel_members is not None:
        w_cap = Window.partitionBy("channel").orderBy(F.col("user_id").asc())
        sub_pos = (sub_pos.withColumn("__rn", F.row_number().over(w_cap))
                          .where(F.col("__rn") <= max_channel_members)
                          .drop("__rn"))
    left = sub_pos.select("channel", F.col("user_id").alias("user_left"),
                          F.col("lat").alias("lat_l"), F.col("lon").alias("lon_l"),
                          F.col("ts").alias("ts_l"))
    right = sub_pos.select("channel", F.col("user_id").alias("user_right"),
                           F.col("lat").alias("lat_r"), F.col("lon").alias("lon_r"))
    pairs = (left.join(right, "channel")
                 .where(F.col("user_left") > F.col("user_right"))
                 .drop("channel")
                 .distinct())

    near = (pairs
            .join(communicated, ["user_left", "user_right"], "left_anti")
            .withColumn("distance_km",
                        haversine_km(F.col("lat_l"), F.col("lon_l"),
                                     F.col("lat_r"), F.col("lon_r")))
            .where(F.col("distance_km") < max_km)
            .withColumn("lat_mid", (F.col("lat_l") + F.col("lat_r")) / 2)
            .withColumn("lon_mid", (F.col("lon_l") + F.col("lon_r")) / 2))

    zoned = nearest_city(near, _cities(cities),
                         lat_col="lat_mid", lon_col="lon_mid")
    return zoned.select(
        "user_left", "user_right",
        F.col("city_id").alias("zone_id"),
        F.current_timestamp().alias("processed_dttm"),
        local_time(F.col("ts_l"), tz).alias("local_time"))
