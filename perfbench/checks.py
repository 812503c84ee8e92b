"""Output checks, run outside the timed window.

Query results are compared with the registry's DuckDB oracles
(row count, column names, order-insensitive values); the geo marts are
checked against the generator's planted cases and against per-type event
totals that DuckDB derives from the generated parquet.
"""

from __future__ import annotations

import datetime
import glob
import math
import os
from collections import Counter

import duckdb

from gen import EVENT_TYPES, GeoPlant


def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return int(v)
        return round(v, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):          # numpy scalar
        return _norm(v.item())
    if hasattr(v, "tolist"):        # numpy array
        return _norm(v.tolist())
    return v


def rowset(cols: list[str], rows) -> tuple[tuple[str, ...], Counter]:
    """Columns sorted by name and an order-insensitive multiset of rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(cols[i] for i in order),
            Counter(tuple(_norm(r[i]) for i in order) for r in rows))


def oracle_rowsets(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict:
    """DuckDB's answer for each named query over the parquet in ``sf_dir``."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        out[name] = rowset([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def query_matches(expected, cols: list[str], rows) -> str | None:
    """None when the Spark result equals the oracle's, else why not."""
    got_cols, got = rowset(cols, rows)
    want_cols, want = expected
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    if got != want:
        return (f"rows differ: {sum(got.values())} vs {sum(want.values())} rows, "
                f"{sum((got - want).values())} unexpected")
    return None


def geo_type_totals(events_dir: str) -> dict[str, int]:
    """Per-type event totals the zone mart must reproduce: positioned
    events plus events whose actor has a positioned message (the mart's
    position backfill)."""
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH ev AS (
          SELECT event_type, lat,
                 coalesce(event.message_from, event.reaction_from, event."user") AS actor
          FROM read_parquet('{events_dir}/*/*.parquet', hive_partitioning = true)),
        located AS (SELECT DISTINCT actor FROM ev
                    WHERE event_type = 'message' AND lat IS NOT NULL)
        SELECT event_type, count(*) FROM ev
        WHERE lat IS NOT NULL OR actor IN (SELECT actor FROM located)
        GROUP BY event_type""").fetchall()
    con.close()
    return {t: 0 for t in EVENT_TYPES} | dict(rows)


def geo_marts_problems(out_dir: str, plant: GeoPlant,
                       totals: dict[str, int]) -> dict[str, str]:
    """{mart: problem} for each mart whose written output is wrong."""
    con = duckdb.connect()
    problems = {}

    def read(mart: str) -> str:
        return f"read_parquet('{os.path.join(out_dir, mart)}/*.parquet')"

    try:
        home = dict(con.execute(
            f"SELECT user_id, home_city FROM {read('user_mart')} "
            f"WHERE user_id IN ({','.join(map(str, plant.home))})").fetchall())
        bad = {u: (home.get(u, "<missing>"), want) for u, want in plant.home.items()
               if home.get(u, "<missing>") != want}
        if bad:
            problems["user_mart"] = f"planted home cities wrong: {bad}"
    except duckdb.Error as e:
        problems["user_mart"] = f"unreadable: {e}"

    try:
        week = dict(zip(EVENT_TYPES, con.execute(
            "SELECT " + ", ".join(f"sum(week_{t})" for t in EVENT_TYPES)
            + f" FROM {read('zone_mart')}").fetchone()))
        month = dict(zip(EVENT_TYPES, con.execute(
            "SELECT " + ", ".join(f"sum(month_{t})" for t in EVENT_TYPES)
            + f" FROM (SELECT DISTINCT month, city_id, "
            + ", ".join(f"month_{t}" for t in EVENT_TYPES)
            + f" FROM {read('zone_mart')})").fetchone()))
        if week != totals or month != totals:
            problems["zone_mart"] = (f"per-type totals week={week} month={month} "
                                     f"expected={totals}")
    except duckdb.Error as e:
        problems["zone_mart"] = f"unreadable: {e}"

    try:
        pairs = {(a, b): z for a, b, z in con.execute(
            f"SELECT user_left, user_right, zone_id FROM "
            f"{read('friend_recommendations')}").fetchall()}
        missing = [p for p in plant.friends_yes if pairs.get(p[:2]) != p[2]]
        extra = [p for p in plant.friends_no if p in pairs]
        if missing or extra:
            problems["friend_recommendations"] = (
                f"planted pairs missing={missing} unexpected={extra}")
    except duckdb.Error as e:
        problems["friend_recommendations"] = f"unreadable: {e}"
    con.close()
    return problems
