"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten parquet tables the registered queries read
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  with the schemas and value domains of the engine's test data. One
  file and one row group per table, like the test data, so scans behave
  the same way.
- ``write_sparkify``: the Sparkify song/log JSON that ``etl.py`` reads
  (``song_data/*/*/*/*.json``, one object per file, and
  ``log_data/*/*/*.json``, newline-delimited events). It returns the
  counts and partition values the pipeline's output must show.

Both are pure functions of their arguments; nothing reads the clock or
the environment.
"""

from __future__ import annotations

import json
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, scale: float, n_docs: int, n_vecs: int, seed: int) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; returns row counts."""
    rng = np.random.RandomState(seed)
    rows = {  # TPC-H cardinalities times ``scale``
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": n_docs,
        "embeddings": n_vecs,
    }
    os.makedirs(out_dir, exist_ok=True)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    n = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.randint(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n), pa.string()),
    })

    n = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.randint(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
    })

    n = rows["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    retail = np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(rng.choice(names, n), pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.randint(1, 26, n)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, n), pa.string()),
        "p_size": pa.array(rng.randint(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(retail, pa.float64()),
    })

    n_orders = rows["orders"]
    order_day = rng.randint(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, rows["customer"], n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders), pa.float64()),
        "o_orderdate": pa.array(_days("1995-01-01", order_day), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), pa.string()),
    })

    n = rows["lineitem"]
    okey = np.sort(rng.randint(0, n_orders, n))
    first = np.r_[True, okey[1:] != okey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    linenumber = (np.arange(n) - run_start) % 7 + 1
    partkey = rng.randint(0, rows["part"], n)
    qty = rng.randint(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * retail[partkey] * rng.uniform(0.99, 1.01, n), 2), pa.float64()),
        "l_discount": pa.array(rng.randint(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.randint(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": pa.array(_days("1995-01-01", order_day[okey] + rng.randint(1, 122, n)), pa.timestamp("us")),
    })

    n = rows["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rng.randint(0, span_us, n).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, max(n // 66, 10), n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(np.abs(rng.randn(n)) * 80.0, 2) + 0.01, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n)], pa.string()),
    })

    n = rows["documents"]
    lens = rng.randint(10, 101, n)
    toks = rng.randint(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    bounds = np.r_[0, np.cumsum(lens)]
    texts = [" ".join(vocab[toks[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    for i in range(n // 100):  # a light tail of exact duplicates
        texts[n - 1 - i] = texts[i]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_W), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.randint(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = rows["embeddings"]
    emb = (rng.rand(n, 64).astype(np.float32) - 0.5) * 0.8
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n), pa.int32()),
    })
    return rows


# Sparkify pages; NextSong dominates as in the reference's log data.
PAGES = ["NextSong"] * 8 + ["Home", "Logout", "Login", "Settings"]
FIRST = ["Ava", "Ben", "Cai", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo"]
LAST = ["Diaz", "Kim", "Lee", "Moss", "Nunez", "Park", "Rossi", "Shah"]
NOV_2018_MS = 1_541_030_400_000  # 2018-11-01T00:00:00Z


def _token(rnd: random.Random, n: int) -> str:
    return "".join(rnd.choice(string.ascii_uppercase + string.digits) for _ in range(n))


def write_sparkify(root: str, seed: int, n_songs: int, n_days: int, events_per_day: int) -> dict:
    """Write Sparkify JSON under ``root`` and return what the ETL output
    must contain: row counts per table and the partition values of the
    partitioned tables."""
    rnd = random.Random(seed)
    n_artists = max(n_songs // 2, 1)
    artists = [
        {
            "artist_id": "AR" + _token(rnd, 16),
            "artist_name": f"Artist {i} {_token(rnd, 4)}",
            "artist_location": rnd.choice(["", "Austin, TX", "Lyon", "Osaka", "Lagos"]),
            "artist_latitude": rnd.choice([None, round(rnd.uniform(-60, 60), 5)]),
            "artist_longitude": rnd.choice([None, round(rnd.uniform(-150, 150), 5)]),
        }
        for i in range(n_artists)
    ]
    songs = []
    for i in range(n_songs):
        a = artists[rnd.randrange(n_artists)]
        song = dict(a, num_songs=1, song_id="SO" + _token(rnd, 16), title=f"Song {i} {_token(rnd, 5)}",
                    duration=round(rnd.uniform(60, 600), 5), year=rnd.choice([0, 1994, 2001, 2007, 2018]))
        songs.append(song)
        path = os.path.join(root, "song_data", *song["song_id"][2:5], f"TR{_token(rnd, 16)}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(song, f)

    users = [
        {"userId": str(i + 1), "firstName": rnd.choice(FIRST), "lastName": rnd.choice(LAST),
         "gender": rnd.choice("FM"), "level": rnd.choice(["free", "paid"])}
        for i in range(max(events_per_day // 20, 2))
    ]
    plays, starts, active = 0, set(), set()
    ts = NOV_2018_MS
    for day in range(n_days):
        path = os.path.join(root, "log_data", "2018", "11", f"2018-11-{day + 1:02d}-events.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for item in range(events_per_day):
                ts += rnd.randint(0, 2 * 86_400_000 // events_per_day)
                page = rnd.choice(PAGES)
                user = rnd.choice(users) if page != "Login" else None
                ev = {
                    "artist": None, "auth": "Logged In" if user else "Logged Out",
                    "firstName": None, "gender": None, "itemInSession": item % 100,
                    "lastName": None, "length": None, "level": "free",
                    "location": "San Jose, CA", "method": "PUT", "page": page,
                    "registration": 1.540e12, "sessionId": rnd.randint(1, 999), "song": None,
                    "status": 200, "ts": ts, "userAgent": "Mozilla/5.0", "userId": "",
                }
                if user:
                    ev.update(user)
                if page == "NextSong":
                    s = rnd.choice(songs) if rnd.random() < 0.5 else None
                    ev.update(song=s["title"] if s else f"Unknown {_token(rnd, 6)}",
                              artist=s["artist_name"] if s else "Nobody",
                              length=s["duration"] if s else 200.0)
                    plays += 1
                    starts.add(ts)
                    if ev["userId"]:
                        active.add(ev["userId"])
                f.write(json.dumps(ev) + "\n")

    return {
        "songs": len(songs),
        "artists": len({s["artist_id"] for s in songs}),
        "users": len(active),
        "time": len(starts),
        "songplays": plays,
        "song_parts": sorted({(s["year"], s["artist_id"]) for s in songs}),
        "time_parts": sorted({_year_month(t) for t in starts}),
    }


def _year_month(ts_ms: int) -> tuple[int, int]:
    d = np.datetime64(ts_ms, "ms").astype(object)
    return d.year, d.month


if __name__ == "__main__":
    import sys

    out, scale, docs, vecs, seed = sys.argv[1:]
    write_tables(out, float(scale), int(docs), int(vecs), int(seed))
