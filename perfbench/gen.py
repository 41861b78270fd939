"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy`` generators derived from the
benchmark's ``--seed`` (``rng_for``) and writes its files with fixed writer
settings, so one seed yields byte-identical inputs (``selftest.py`` checks
this).

- ``write_corpus``: the ten corpus tables the registry queries read
  (``region`` ... ``embeddings``), with the schemas and value domains of the
  test corpus described in ``FIXTURES.md`` Part A.
- ``write_star_inputs``: reference-shaped song files (one JSON object per
  file) and log events (JSON lines) for ``pipelines.star_schema``.
- ``lake_batches``: ``lineitem``-shaped row batches with a partition column
  for the table-format lifecycle.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
# 1995-01-01, 2024-01-01 in microseconds since the epoch
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream does not
    shift the values of another one."""
    return np.random.default_rng([seed, *stream.encode()])


def _write(path: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), path, compression="snappy", write_statistics=True
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _days(rng: np.random.Generator, start_us: int, span_days: int, n: int):
    us = start_us + rng.integers(0, span_days, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def write_corpus(out_dir: str, seed: int, sf: float) -> str:
    """Write the ten corpus tables at scale factor ``sf`` into ``out_dir``
    (row counts follow ``FIXTURES.md``: ``lineitem`` = 6,000,000 x sf)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 64)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    n_vec = max(int(50_000 * sf), 100)
    i32 = np.int32

    def path(name):
        return os.path.join(out_dir, f"{name}.parquet")

    _write(path("region"), {
        "r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS,
    })
    _write(path("nation"), {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    r = rng_for(seed, "customer")
    _write(path("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": r.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    r = rng_for(seed, "supplier")
    _write(path("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": r.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng_for(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    _write(path("part"), {
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    r = rng_for(seed, "orders")
    _write(path("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, EPOCH_1995_US, 2404, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    r = rng_for(seed, "lineitem")
    _write(path("lineitem"), {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(i32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, EPOCH_1995_US + DAY_US, 2498, n_line),
    })
    r = rng_for(seed, "events")
    gaps = r.integers(1, 2 * 30 * DAY_US // n_ev, n_ev)
    _write(path("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(40.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
    })
    r = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        kind = r.random()
        if i and kind < 0.03:  # exact duplicate of an earlier document
            texts.append(texts[r.integers(0, i)])
        elif i and kind < 0.15:  # near duplicate: a few words substituted
            words = texts[r.integers(0, i)].split()
            for j in r.integers(0, len(words), r.integers(1, 3)):
                words[j] = VOCAB[r.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            n_words = r.integers(10, 100)
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), n_words)))
    _write(path("documents"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + r.normal(0.0, 0.8, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(path("embeddings"), {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(i32),
    })
    return out_dir


def write_star_inputs(
    out_dir: str, seed: int, n_songs: int, n_events: int
) -> tuple[str, str]:
    """Reference-shaped star-schema inputs. Songs: one JSON object per file,
    spread over enough (year, artist_id) pairs that the partitioned
    ``songs`` write fans out into many files. Logs: JSON lines with about
    80% ``NextSong`` pages, a paid/free mix and about half the plays naming
    a generated song. Returns the (song_glob, log_glob) pair."""
    r = rng_for(seed, "star")
    song_dir = os.path.join(out_dir, "song_data")
    log_dir = os.path.join(out_dir, "log_data")
    os.makedirs(song_dir, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    n_artists = max(n_songs // 2, 1)
    song_artist = r.integers(0, n_artists, n_songs)
    song_year = r.integers(1960, 2020, n_songs)
    # an artist's attributes are the same in every song file of that artist
    lat = np.round(r.uniform(-60, 60, n_artists), 5)
    lon = np.round(r.uniform(-150, 150, n_artists), 5)
    for i in range(n_songs):
        a = int(song_artist[i])
        rec = {
            "song_id": f"S{i:06d}",
            "title": f"Title {i}",
            "artist_id": f"AR{a:05d}",
            "year": int(song_year[i]),
            "duration": round(float(r.uniform(90.0, 420.0)), 5),
            "artist_name": f"Artist {a}",
            "artist_location": f"City {a % 97}",
            "artist_latitude": float(lat[a]),
            "artist_longitude": float(lon[a]),
        }
        with open(os.path.join(song_dir, f"song{i:06d}.json"), "w") as f:
            json.dump(rec, f)
    n_users = max(n_events // 300, 10)
    base_ms = 1_541_030_400_000  # 2018-11-01 UTC
    ts = base_ms + np.cumsum(r.integers(1, 20_000, n_events))
    users = r.integers(0, n_users, n_events)
    pages = r.random(n_events) < 0.8
    paid = r.random(n_users) < 0.3
    upgraded = r.random(n_events) < 0.1
    matches = r.random(n_events) < 0.5
    song_of = r.integers(0, n_songs, n_events)
    lines = []
    for i in range(n_events):
        u = int(users[i])
        s = int(song_of[i])
        matched = bool(matches[i])
        lines.append(json.dumps({
            "page": "NextSong" if pages[i] else ("Home", "Logout")[i % 2],
            "ts": int(ts[i]),
            "userId": str(u),
            "firstName": f"First{u}",
            "lastName": f"Last{u}",
            "gender": "F" if u % 2 else "M",
            "level": "paid" if paid[u] or upgraded[i] else "free",
            "song": f"Title {s}" if matched else f"Unknown {i}",
            "artist": f"Artist {int(song_artist[s])}" if matched else "Nobody",
            "sessionId": int(u * 1000 + i // 50),
            "location": f"Loc{u % 13}",
            "userAgent": "agent/1.0",
        }))
    with open(os.path.join(log_dir, "events.json"), "w") as f:
        f.write("\n".join(lines))
    return os.path.join(song_dir, "*.json"), os.path.join(log_dir, "*.json")


def lake_batches(seed: int, n_batches: int, rows: int) -> list[pa.Table]:
    """``lineitem``-shaped batches with unique ``l_key`` and a low-cardinality
    partition column ``l_part``; batch ``i`` holds keys
    ``[i*rows, (i+1)*rows)``."""
    out = []
    for b in range(n_batches):
        r = rng_for(seed, f"lake{b}")
        key = np.arange(b * rows, (b + 1) * rows, dtype=np.int64)
        out.append(pa.table({
            "l_key": key,
            "l_orderkey": r.integers(0, rows * n_batches // 4, rows).astype(np.int64),
            "l_quantity": r.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, rows),
            "l_discount": r.integers(0, 11, rows) / 100.0,
            "l_shipday": r.integers(0, 2500, rows).astype(np.int32),
            "l_part": [("A", "N", "R")[i] for i in r.integers(0, 3, rows)],
        }))
    return out
