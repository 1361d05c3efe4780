"""Seeded input generator: every table the benchmark reads, as a pure
function of the seed, written with pyarrow before any timer starts.

- ``write_corpus`` writes the TPC-H-shaped, events, documents and
  embeddings tables with the FIXTURES.md Part A schemas, one
  ``<name>.parquet`` file each (the layout ``sources.readers.load_table``
  reads).
- ``write_song_log_day`` writes one "day" of reference-shaped song/log
  JSON (FIXTURES.md Part B) with its edge cases: days that straddle the
  week-year boundary, millisecond fractions, users seen at both levels,
  plays whose (song, artist) matches no song.

Value shapes follow what the registry's oracles assume: money and
quantities are exact two-decimal values, discounts and taxes are whole
cents, timestamps are microsecond precision.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# row counts at the benchmark's fixed scale (about TPC-H sf0.01)
CORPUS_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact two-decimal values in [lo, hi]."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = CORPUS_ROWS
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [
        f"{P_ADJ[a]} {P_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
    ]
    part = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, nl),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng: np.random.Generator) -> pa.Table:
    ne = CORPUS_ROWS["events"]
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, ne))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _cents(rng, 0.01, 490.0, ne),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Bag-of-words documents; about 5% are near-duplicates (a copy of an
    earlier document plus one extra token), so every dedup path has
    true pairs to find."""
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    """Unit vectors around 10 weak cluster centres (``label``)."""
    centres = rng.normal(size=(10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vecs)
    x = 0.15 * centres[label] + rng.normal(scale=1.0 / np.sqrt(dim), size=(n_vecs, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_corpus(
    out_dir: str, seed: int, n_docs: int = 500, n_vecs: int = 500
) -> dict[str, dict[str, int]]:
    """Write every Part A table under ``out_dir``; returns
    ``{table: {"rows": n, "bytes": b}}`` for the detail output."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng)
    tables["events"] = events_table(rng)
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# --- song/log JSON (FIXTURES.md Part B) -----------------------------------

N_SONGS = 60
N_USERS = 40
PLAYS_PER_DAY = 400
# Day 0 is Dec 30: a pass index walks over the week-year boundary.
DAY0 = dt.date(2023, 12, 30)


def day_date(day: int) -> dt.date:
    return DAY0 + dt.timedelta(days=day)


def song_rows(seed: int) -> list[dict]:
    rng = np.random.default_rng([seed, 1])
    rows = []
    for i in range(N_SONGS):
        artist = i % 15
        rows.append(
            {
                "song_id": f"S{i:04d}",
                "title": f"Title {i}",
                "artist_id": f"A{artist:03d}",
                "year": int(0 if i % 7 == 0 else 1990 + rng.integers(0, 30)),
                "duration": float(np.round(120 + rng.random() * 200, 5)),
                "artist_name": f"Artist {artist}",
                "artist_location": None if artist % 4 == 0 else f"City {artist}",
                "artist_latitude": None if artist % 4 == 0 else float(artist),
                "artist_longitude": None if artist % 4 == 0 else float(-artist),
            }
        )
    return rows


def log_rows(seed: int, day: int) -> list[dict]:
    """One day of log events. User ``u`` upgrades free→paid halfway
    through the day when ``u % 3 == 0``; a third of plays name a song
    that does not exist; ~10% of events are not ``NextSong``."""
    rng = np.random.default_rng([seed, 2, day])
    start_ms = int(dt.datetime(*day_date(day).timetuple()[:3], tzinfo=dt.timezone.utc).timestamp() * 1000)
    offs = np.sort(rng.integers(0, 86_400_000, PLAYS_PER_DAY))
    rows = []
    for j, off in enumerate(offs):
        user = int(rng.integers(0, N_USERS))
        upgraded = user % 3 == 0 and j >= PLAYS_PER_DAY // 2
        song = int(rng.integers(0, N_SONGS))
        matched = rng.random() < 0.67
        rows.append(
            {
                "page": "NextSong" if rng.random() < 0.9 else "Home",
                # random whole milliseconds: most carry a non-zero
                # sub-second fraction (the precision edge case)
                "ts": start_ms + int(off),
                "userId": str(user),
                "firstName": f"First{user}",
                "lastName": f"Last{user}",
                "gender": "F" if user % 2 else "M",
                "level": "paid" if upgraded else "free",
                "song": f"Title {song}" if matched else f"Unknown {j}",
                "artist": f"Artist {song % 15}" if matched else "Nobody",
                "sessionId": int(day * 1000 + user * 10 + j // 100),
                "location": f"Loc{user % 5}",
                "userAgent": "agent/1.0",
            }
        )
    return rows


def write_song_log_day(root: str, seed: int, day: int) -> dict[str, int]:
    """Write the song files (once) and day ``day``'s log file under
    ``root``; returns the row and byte counts written for that day."""
    song_dir = os.path.join(root, "song_data")
    log_dir = os.path.join(root, "log_data", f"d{day:04d}")
    nbytes = 0
    if not os.path.isdir(song_dir):
        os.makedirs(song_dir)
        for row in song_rows(seed):
            path = os.path.join(song_dir, f"{row['song_id']}.json")
            with open(path, "w") as fh:
                json.dump(row, fh)
            nbytes += os.path.getsize(path)
    os.makedirs(log_dir, exist_ok=True)
    rows = log_rows(seed, day)
    path = os.path.join(log_dir, "events.json")
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows) + "\n")
    nbytes += os.path.getsize(path)
    return {"rows": len(rows), "bytes": nbytes}
