"""Seeded input generators for the benchmark workloads.

Two layouts, both written with pyarrow only (no Spark), so generation
never shares a process clock with the code under test:

* ``geo``: the reference marts' input -- a Hive ``date=`` partitioned
  event log with the nested ``event`` struct, plus a 25-row cities table,
  with planted home-city streaks and friend pairs whose expected mart
  output is known in advance (``GeoPlant``).
* ``corpus``: the query registry's ``sf_dir`` layout (``documents``,
  ``embeddings``, ``lineitem``, ``part``, ``nation``, ``events``) with
  planted near-duplicate documents and near-neighbour vectors.

The same seed gives byte-identical parquet. Usage:

    python3 perfbench/gen.py geo --seed 7 --out DIR
    python3 perfbench/gen.py corpus --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["message", "reaction", "subscription", "registration"]
EVENT_TYPE_P = [0.60, 0.25, 0.10, 0.05]
GEO_START = dt.datetime(2022, 5, 1)
GEO_DAYS = 60
PROCESSING_DATE = (GEO_START + dt.timedelta(days=GEO_DAYS - 1)).strftime("%Y-%m-%d")
POSITIONED_SHARE = 0.85
HOME_SHARE = 0.8          # share of a user's positioned events in the home city
JITTER_DEG = 0.05         # ~5 km around a city centre
PLANT_BASE = 1_000_000    # planted user / channel ids start here

# 5 x 5 grid over the Australian span, >= 700 km between neighbours, so a
# jittered position has one unambiguous nearest city.
CITIES = [(i + 1, f"city_{i:02d}", -12.0 - 7.0 * (i // 5), 117.0 + 8.0 * (i % 5))
          for i in range(25)]


@dataclasses.dataclass(frozen=True)
class GeoPlant:
    """What the planted users must produce in the marts."""
    home: dict[int, str | None]          # user_id -> expected home_city
    friends_yes: list[tuple[int, int, int]]  # (user_left, user_right, zone_id)
    friends_no: list[tuple[int, int]]        # pairs that must be absent


def _ts_us(day: int, second: np.ndarray | int) -> np.ndarray:
    base = int((GEO_START - dt.datetime(1970, 1, 1)).total_seconds())
    return (base + day * 86400 + np.asarray(second, dtype=np.int64)) * 1_000_000


def _geo_rows(rng: np.random.Generator, n_events: int, n_users: int,
              n_channels: int) -> dict[str, np.ndarray]:
    city_lat = np.array([c[2] for c in CITIES])
    city_lon = np.array([c[3] for c in CITIES])
    home = rng.integers(0, len(CITIES), n_users)
    # Zipf-skewed activity per user and membership per channel.
    act = 1.0 / np.arange(1, n_users + 1) ** 0.6
    user = rng.choice(n_users, n_events, p=act / act.sum())
    kind = rng.choice(len(EVENT_TYPES), n_events, p=EVENT_TYPE_P)
    day = rng.integers(0, GEO_DAYS, n_events)
    sec = rng.integers(0, 86400, n_events)
    at_home = rng.random(n_events) < HOME_SHARE
    city = np.where(at_home, home[user], rng.integers(0, len(CITIES), n_events))
    positioned = rng.random(n_events) < POSITIONED_SHARE
    lat = city_lat[city] + rng.normal(0.0, JITTER_DEG, n_events)
    lon = city_lon[city] + rng.normal(0.0, JITTER_DEG, n_events)
    ch_w = 1.0 / np.arange(1, n_channels + 1) ** 1.1
    channel = rng.choice(n_channels, n_events, p=ch_w / ch_w.sum()) + 1
    to = rng.integers(1, n_users + 1, n_events)
    has_to = rng.random(n_events) < 0.7
    return dict(user=user + 1, kind=kind, day=day, sec=sec, lat=lat, lon=lon,
                positioned=positioned, channel=channel, to=to, has_to=has_to)


def _plant(day: list[int], user: list[int], city: list[int], to: list[int | None],
           kind: list[int], channel: list[int | None]) -> dict[str, np.ndarray]:
    n = len(day)
    c = np.array(city)
    return dict(user=np.array(user), kind=np.array(kind), day=np.array(day),
                sec=np.full(n, 12 * 3600), lat=np.array([CITIES[i][2] for i in c]) + 0.001,
                lon=np.array([CITIES[i][3] for i in c]) + 0.001,
                positioned=np.array([k == 0 for k in kind]),
                channel=np.array([x or 0 for x in channel]),
                to=np.array([x or 0 for x in to]),
                has_to=np.array([x is not None for x in to]))


def _geo_plants() -> tuple[dict[str, np.ndarray], GeoPlant]:
    rows: dict[str, list] = {k: [] for k in ("day", "user", "city", "to", "kind", "channel")}

    def add(day, user, city, kind=0, to=None, channel=None):
        for k, v in (("day", day), ("user", user), ("city", city), ("to", to),
                     ("kind", kind), ("channel", channel)):
            rows[k].append(v)

    home: dict[int, str | None] = {}
    u = PLANT_BASE
    # 27-day streaks qualify; 26-day runs and a 28-day run broken by one
    # day elsewhere do not (marts.reference.HOME_STREAK_DAYS == 27).
    for ci, length in ((3, 27), (11, 27), (5, 26), (17, 26)):
        for d in range(5, 5 + length):
            add(d, u, ci)
        home[u] = CITIES[ci][1] if length >= 27 else None
        u += 1
    for ci, other in ((6, 20), (21, 2)):
        for d in range(5, 33):
            add(d, u, other if d == 19 else ci)
        home[u] = None
        u += 1
    # Friend pairs on exclusive channels, positioned on the processing date.
    last = GEO_DAYS - 1
    yes, no = [], []
    cases = (("near", 7, 7), ("talked", 8, 8), ("far", 9, 10))
    for i, (case, ca, cb) in enumerate(cases):
        a, b, ch = u, u + 1, PLANT_BASE + i
        u += 2
        for x in (a, b):
            add(1 + i, x, 0, kind=2, channel=ch)
        add(last, a, ca, to=b if case == "talked" else None)
        add(last, b, cb)
        if case == "near":
            yes.append((b, a, CITIES[ca][0]))
        else:
            no.append((b, a))
    return _plant(**rows), GeoPlant(home, yes, no)


def _geo_table(r: dict[str, np.ndarray], first_message_id: int) -> pa.Table:
    n = len(r["day"])
    kind = r["kind"]
    ts = _ts_us(0, r["day"].astype(np.int64) * 86400 + r["sec"])
    is_msg, is_rea = kind == 0, kind == 1
    is_usr = (kind == 2) | (kind == 3)
    mid = np.cumsum(is_msg) + first_message_id
    ts_type = pa.timestamp("us", tz="UTC")

    def col(values, mask, typ):
        return pa.array(values, type=typ, mask=~mask)

    event = pa.StructArray.from_arrays([
        col(r["user"], is_msg, pa.int64()),
        col(r["to"], is_msg & r["has_to"], pa.int64()),
        col(mid, is_msg, pa.int64()),
        col(ts, is_msg, ts_type),
        col(ts, np.ones(n, bool), ts_type),
        col(r["user"], is_rea, pa.int64()),
        col(r["user"], is_usr, pa.int64()),
        col(r["channel"], kind == 2, pa.int64()),
    ], names=["message_from", "message_to", "message_id", "message_ts",
              "datetime", "reaction_from", "user", "subscription_channel"])
    pos = r["positioned"]
    return pa.table({
        "event": event,
        "event_type": pa.array(np.array(EVENT_TYPES)[kind]),
        "lat": col(r["lat"], pos, pa.float64()),
        "lon": col(r["lon"], pos, pa.float64()),
        "__day": r["day"],
        "__ts": ts,
    })


def write_geo(seed: int, out: str, n_events: int = 200_000,
              n_users: int = 2_000, n_channels: int = 300) -> GeoPlant:
    """Write ``out/events`` (date-partitioned) and ``out/cities``."""
    rng = np.random.default_rng(seed)
    rand = _geo_rows(rng, n_events, n_users, n_channels)
    planted, plant = _geo_plants()
    rand_t = _geo_table(rand, 0)
    plant_t = _geo_table(planted, int(rand["kind"].size))
    table = pa.concat_tables([rand_t, plant_t])
    order = np.lexsort((np.arange(table.num_rows), table["__ts"].to_numpy()))
    table = table.take(pa.array(order))
    days = table["__day"].to_numpy()
    table = table.drop(["__day", "__ts"])
    for d in range(GEO_DAYS):
        part = table.filter(pa.array(days == d))
        date = (GEO_START + dt.timedelta(days=d)).strftime("%Y-%m-%d")
        path = os.path.join(out, "events", f"date={date}")
        os.makedirs(path, exist_ok=True)
        pq.write_table(part, os.path.join(path, "part-00000.parquet"))
    os.makedirs(os.path.join(out, "cities"), exist_ok=True)
    pq.write_table(pa.table({
        "id": pa.array([c[0] for c in CITIES], pa.int32()),
        "city": [c[1] for c in CITIES],
        "lat": [c[2] for c in CITIES],
        "lon": [c[3] for c in CITIES],
    }), os.path.join(out, "cities", "part-00000.parquet"))
    return plant


# --------------------------------------------------------------------------
# Registry corpus (the sf_dir layout the queries read).
# --------------------------------------------------------------------------
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_KINDS = ["click", "view", "signup", "purchase", "error"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EMBED_DIM = 64


@dataclasses.dataclass(frozen=True)
class CorpusSize:
    docs: int = 5_000
    vectors: int = 2_000
    lineitems: int = 0      # 0 = llm-only corpus
    users: int = 1_500
    events: int = 0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, off = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[off:off + ln]]))
        off += ln
    # Planted near-duplicates: every 20th doc copies the one before it
    # with one word swapped for the marker token.
    for i in range(1, n, 20):
        w = texts[i - 1].split()
        w[len(w) // 2] = "dup"
        texts[i] = " ".join(w)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    v = centres[labels] * 0.3 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    # Planted near neighbours: every 25th vector is its predecessor plus
    # a small perturbation.
    idx = np.arange(1, n, 25)
    v[idx] = v[idx - 1] + rng.normal(0.0, 0.05, (idx.size, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), EMBED_DIM)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _relational(rng: np.random.Generator, size: CorpusSize) -> dict[str, pa.Table]:
    n_parts, n_orders = max(64, size.lineitems // 30), max(1, size.lineitems // 4)
    p = np.arange(n_parts)
    part = pa.table({
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (p % 1000) * 0.1, 2),
    })
    n = size.lineitems
    order = rng.integers(0, n_orders, n)
    partkey = rng.integers(0, n_parts, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = (np.datetime64("1995-01-02") + rng.integers(0, 2500, n)).astype("datetime64[us]")
    lineitem = pa.table({
        "l_orderkey": pa.array(order, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    m = size.events
    ts = np.sort(np.datetime64("2024-01-01").astype("datetime64[us]")
                 + rng.integers(0, 30 * 86400 * 1_000_000, m))
    events = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size.users, m), pa.int64()),
        "event_type": pa.array(np.array(EVENT_KINDS)[rng.integers(0, 5, m)]),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
    })
    return {"part": part, "lineitem": lineitem, "nation": nation, "events": events}


def write_corpus(seed: int, out: str, size: CorpusSize = CorpusSize()) -> dict[str, int]:
    """Write one ``<table>.parquet`` per table under ``out``; returns rows per table."""
    rng = np.random.default_rng(seed)
    tables = {"documents": _documents(rng, size.docs),
              "embeddings": _embeddings(rng, size.vectors)}
    if size.lineitems:
        tables.update(_relational(rng, size))
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("layout", choices=["geo", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.layout == "geo":
        write_geo(args.seed, args.out)
    else:
        write_corpus(args.seed, args.out)


if __name__ == "__main__":
    main()
