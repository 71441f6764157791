"""Deterministic benchmark inputs: the same seed gives byte-identical files.

Two input sets, both written under one directory per (set, seed):

- ``sparkify``: the paper's raw feed. 30 daily JSON-lines event logs under
  ``log_data/2018/11/`` and one JSON object per song under
  ``song_data/<A>/<B>/<C>/TR*.json``, the reference's layout. The seed picks
  the users, the timestamps, which plays name a catalogue title, and which
  artists have NULL coordinates. Sizes are fixed, so every seed asks for the
  same amount of work.
- ``registry``: the ten tables the query registry reads, one
  ``<table>.parquet`` each, with the testdata's schemas, at about sf0.01. The
  document corpus carries planted near-duplicate chains of one fixed shape,
  so the connected-components rounds of q69 do not vary with the seed.

Run as a script to generate one set: ``python3 lakebench/gen.py sparkify
--seed 1 --root <dir>``. A finished set holds a ``_DONE`` marker and is reused.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil

#: bump when the generated bytes change, so cached sets are not reused
VERSION = 2

# -- sparkify feed -----------------------------------------------------------

N_DAYS = 30
EVENTS_PER_DAY = 3300
N_SONGS = 150
N_ARTISTS = 100
N_USERS = 96
#: share of NextSong plays that name a catalogue title
MATCH_SHARE = 0.4
BASE_TS = 1_541_030_400_000  # 2018-11-01T00:00:00Z in epoch ms

_FIRST = ["Ada", "Bob", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun", "Kai", "Lea"]
_LAST = ["Hale", "Ito", "Jones", "Kim", "Lopez", "Moss", "Ng", "Ortiz", "Park", "Quinn"]
_CITIES = ["Austin, TX", "Boston, MA", "Chicago, IL", "Denver, CO", "Miami, FL", "Tampa, FL"]
_AGENTS = ["Mozilla/5.0 (X11; Linux x86_64)", "Mozilla/5.0 (Macintosh)", "Mozilla/5.0 (Windows NT 6.1)"]
_PAGES = ["Home", "Settings", "Help", "About", "Add to Playlist", "Thumbs Up", "Logout"]
_WORDS = ["love", "night", "blue", "fire", "road", "rain", "gold", "heart", "dream", "city", "river", "stone"]
_ID_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def _code(rng: random.Random, prefix: str) -> str:
    return prefix + "".join(rng.choice(_ID_CHARS) for _ in range(16))


def _dump(obj: dict) -> str:
    return json.dumps(obj, separators=(", ", ": "))


def gen_sparkify(out: str, seed: int) -> None:
    rng = random.Random(seed)
    artists = []
    for k in range(N_ARTISTS):
        located = rng.random() < 0.5
        artists.append({
            "artist_id": _code(rng, "AR"),
            "artist_latitude": round(rng.uniform(-40, 60), 5) if located else None,
            "artist_longitude": round(rng.uniform(-120, 30), 5) if located else None,
            "artist_location": rng.choice(_CITIES) if rng.random() < 0.6 else "",
            "artist_name": f"Artist {k}",
        })
    songs = []
    for k in range(N_SONGS):
        a = rng.choice(artists)
        # the reference's song_data/<A>/<B>/<C>/ fan-out: 3 levels over "ABC"
        track = "TR" + "".join(rng.choice("ABC") for _ in range(3)) + _code(rng, "")[3:]
        songs.append((track, {
            "num_songs": 1,
            "artist_id": a["artist_id"],
            "artist_latitude": a["artist_latitude"],
            "artist_longitude": a["artist_longitude"],
            "artist_location": a["artist_location"],
            "artist_name": a["artist_name"],
            "song_id": _code(rng, "SO"),
            # the k suffix keeps titles unique: songplays join on title alone
            "title": f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS)} {k}",
            "duration": round(rng.uniform(90, 480), 5),
            "year": 0 if rng.random() < 0.45 else rng.randrange(1960, 2011),
        }))
    for track, song in songs:
        d = os.path.join(out, "song_data", *track[2:5])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{track}.json"), "w") as f:
            f.write(_dump(song))

    users = [
        {
            "userId": str(u + 1),
            "firstName": rng.choice(_FIRST),
            "lastName": rng.choice(_LAST),
            "gender": rng.choice("FM"),
            "level": rng.choice(["free", "paid"]),
            "location": rng.choice(_CITIES),
            "userAgent": rng.choice(_AGENTS),
            "registration": float(BASE_TS - rng.randrange(10**9, 10**10)),
        }
        for u in range(N_USERS)
    ]
    log_dir = os.path.join(out, "log_data", "2018", "11")
    os.makedirs(log_dir, exist_ok=True)
    session_id = 0
    for day in range(N_DAYS):
        stamps = sorted(rng.randrange(86_400_000) for _ in range(EVENTS_PER_DAY))
        lines = []
        i = 0
        while i < EVENTS_PER_DAY:
            session_id += 1
            n = min(rng.randrange(5, 60), EVENTS_PER_DAY - i)
            logged_out = rng.random() < 0.05
            user = None if logged_out else rng.choice(users)
            if user is not None and rng.random() < 0.02:
                user["level"] = "paid" if user["level"] == "free" else "free"
            for item in range(n):
                lines.append(_dump(_event(rng, songs, user, session_id, item, BASE_TS + day * 86_400_000 + stamps[i])))
                i += 1
        with open(os.path.join(log_dir, f"2018-11-{day + 1:02d}-events.json"), "w") as f:
            f.write("\n".join(lines) + "\n")


def _event(rng, songs, user, session_id, item, ts) -> dict:
    e = {
        "artist": None, "auth": "Logged In", "firstName": None, "gender": None,
        "itemInSession": item, "lastName": None, "length": None, "level": "free",
        "location": None, "method": "GET", "page": "Home", "registration": None,
        "sessionId": session_id, "song": None, "status": 200, "ts": ts,
        "userAgent": None, "userId": "",
    }
    if user is None:  # logged-out traffic carries the empty-string userId
        e["auth"] = "Logged Out"
        e["page"] = rng.choice(["Home", "Login", "About"])
        return e
    e.update({k: user[k] for k in ("firstName", "gender", "lastName", "level", "location",
                                    "registration", "userAgent", "userId")})
    if rng.random() < 0.8:
        e["page"], e["method"] = "NextSong", "PUT"
        if rng.random() < MATCH_SHARE:
            _, s = rng.choice(songs)
            e["artist"], e["song"], e["length"] = s["artist_name"], s["title"], s["duration"]
        else:
            e["artist"] = f"Unsigned {rng.randrange(1000)}"
            e["song"] = f"Demo {rng.choice(_WORDS)} {rng.randrange(10**6)}"
            e["length"] = round(rng.uniform(90, 480), 5)
    else:
        e["page"] = rng.choice(_PAGES)
        e["status"] = 307 if e["page"] == "Logout" else 200
    return e


# -- registry tables ---------------------------------------------------------

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_EVENT_USERS = 150
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64
#: every other doc id is used, so q69 (doc_id < 300) pairs up 150 documents:
#: its DuckDB oracle, a recursive CTE over all pairs, costs ~4x less than at 300
DOC_ID_STRIDE = 2
#: near-duplicate chains: documents [CHAIN_START, CHAIN_START + CHAINS*CHAIN_LEN),
#: all inside q69's doc_id < 300
CHAIN_START, CHAINS, CHAIN_LEN = 10, 30, 4

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_STOPWORDS = ["the", "and", "of", "to", "in", "a"]
_VOCAB = _STOPWORDS + [
    f"{stem}{suffix}"
    for stem in ["scan", "join", "sort", "agg", "hash", "merge", "spark", "query", "table",
                 "window", "stream", "batch", "row", "column", "key", "value", "part", "line",
                 "vector", "filter", "group", "order", "data", "index"]
    for suffix in ["", "s", "ed", "er", "ing", "ly"]
]


def gen_registry(out: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"), compression="snappy")

    i32, i64 = pa.int32(), pa.int64()
    write("region", {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER).tolist(),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(["red", "blue", "small", "large"], N_PART),
                                              rng.choice(["bolt", "ring", "widget", "gear"], N_PART))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO"], N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2),
    })
    day_us = 86_400 * 10**6
    epoch_1995 = 788_918_400 * 10**6
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": money(1000, 500000, N_ORDERS),
        "o_orderdate": pa.array(epoch_1995 + order_days * day_us, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS).tolist(),
    })
    l_order = rng.integers(0, N_ORDERS, N_LINEITEM)
    write("lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(float),
        "l_extendedprice": money(900, 105000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM).tolist(),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM).tolist(),
        "l_shipdate": pa.array(
            epoch_1995 + (order_days[l_order] + rng.integers(1, 122, N_LINEITEM)) * day_us,
            pa.timestamp("us"),
        ),
    })
    epoch_2024 = 1_704_067_200 * 10**6
    write("events", {
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(np.sort(epoch_2024 + rng.integers(0, 30 * day_us, N_EVENTS)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS), i64),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS).tolist(),
        "value": money(0.01, 500, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = _documents(rng)
    write("documents", {
        "doc_id": pa.array(DOC_ID_STRIDE * np.arange(N_DOCS), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(0, 0.13, (N_VECS, VEC_DIM)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), i32),
    })


def _documents(rng) -> list[str]:
    """Random documents over a 150-word vocabulary (two of them share well
    under 0.8 of their distinct words), plus CHAINS chains of CHAIN_LEN
    documents. A chain starts with 40 distinct words; each next document
    swaps 3 of them for words the chain has not used. Neighbours then have a
    word-set Jaccard of 37/43 = 0.86 and documents two apart 34/46 = 0.74,
    so at q69's 0.8 threshold every chain is a path of CHAIN_LEN nodes."""
    toks = [list(rng.choice(_VOCAB, int(rng.integers(8, 90)))) for _ in range(N_DOCS)]
    for c in range(CHAINS):
        first = CHAIN_START + c * CHAIN_LEN
        words = [str(w) for w in rng.permutation(_VOCAB)]
        toks[first], unused = words[:40], words[40:]
        # positions never swapped before, so no step undoes an earlier one
        fresh = [int(x) for x in rng.permutation(40)]
        for k in range(first + 1, first + CHAIN_LEN):
            nxt = list(toks[k - 1])
            for _ in range(3):
                nxt[fresh.pop()] = unused.pop()
            toks[k] = nxt
    return [" ".join(t) for t in toks]


GENERATORS = {"sparkify": gen_sparkify, "registry": gen_registry}


def ensure(kind: str, seed: int, root: str) -> str:
    """Return the directory of the (kind, seed) input set under ``root``,
    generating it first if no finished copy exists."""
    out = os.path.join(root, f"{kind}-v{VERSION}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    GENERATORS[kind](out, seed)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True, help="directory that holds the cached input sets")
    args = ap.parse_args()
    print(ensure(args.kind, args.seed, args.root))


if __name__ == "__main__":
    main()
