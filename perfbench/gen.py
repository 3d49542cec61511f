"""Seeded single-process input generators for the benchmark.

Every generator writes under a directory it is given and returns a dict of
the facts the output checks need (expected row counts, key sets,
partitions) plus the input size (``input_rows``, ``input_bytes``). The same
seed and sizes give byte-identical files: generation uses one
``numpy.random.Generator`` and writes files in a fixed order with fixed
writer settings.
"""

from __future__ import annotations

import collections
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc

# --- Sparkify song + log JSON -------------------------------------------------

OTHER_PAGES = ("Home", "Login", "Logout", "Settings", "Upgrade", "About", "Help")
SONG_YEARS = (0, 1995, 2004, 2009, 2015)
# Event time straddles a year boundary, so year-partitioned tables get two
# partitions: 2018-12-31 06:00 .. 2019-01-01 18:00 UTC.
LOG_T0_MS = int(dt.datetime(2018, 12, 31, 6, tzinfo=UTC).timestamp() * 1000)
LOG_SPAN_MS = 36 * 3600 * 1000

NEXT_SONG_RATE = 0.8
EMPTY_USER_RATE = 0.02
NULL_USER_RATE = 0.01
NULL_LENGTH_RATE = 0.05
CATALOG_PLAY_RATE = 0.4
TIE_USER_RATE = 0.1


def _files_size(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _write_jsonl(path: str, rows) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":")))
            fh.write("\n")


def sparkify(
    root: str,
    seed: int,
    n_events: int,
    n_files: int,
    n_songs: int,
    n_users: int,
    n_song_files: int = 4,
) -> dict:
    """Song + log JSON in ``root/song_data`` and ``root/log_data``.

    Log files are cut in event-time order (``log_files`` lists them in that
    order), so any prefix of them is a valid incremental round. The logs
    carry argmax ties (a user's two latest NextSong events share one ts with
    different levels), empty and null ``userId``, null ``length``,
    non-NextSong pages and a year boundary, each at the fixed rates above.
    """
    rng = np.random.default_rng(seed)
    song_dir = os.path.join(root, "song_data")
    log_dir = os.path.join(root, "log_data")
    os.makedirs(song_dir)
    os.makedirs(log_dir)

    # Songs: unique titles, so the (title, artist, duration) catalog key is
    # unique and a matched play joins exactly one catalog row.
    n_artists = max(1, n_songs // 4)
    art_lat = rng.uniform(-60, 60, n_artists).round(5)
    art_lon = rng.uniform(-150, 150, n_artists).round(5)
    art_has_loc = rng.random(n_artists) < 0.7
    song_artist = rng.integers(0, n_artists, n_songs)
    song_dur = rng.uniform(60, 600, n_songs).round(5)
    song_year = rng.choice(SONG_YEARS, n_songs)
    songs = []
    for i in range(n_songs):
        a = int(song_artist[i])
        songs.append(
            {
                "artist_id": f"AR{a:06d}",
                "artist_latitude": str(art_lat[a]) if art_has_loc[a] else None,
                "artist_longitude": str(art_lon[a]) if art_has_loc[a] else None,
                "artist_location": f"City {a % 97}" if art_has_loc[a] else "",
                "artist_name": f"Artist {a}",
                "song_id": f"SO{i:07d}",
                "title": f"Song {i}",
                "duration": float(song_dur[i]),
                "year": int(song_year[i]),
            }
        )
    song_files = []
    for f in range(n_song_files):
        p = os.path.join(song_dir, f"songs-{f:03d}.json")
        _write_jsonl(p, songs[f::n_song_files])
        song_files.append(p)

    # Users: fixed name/gender; level flips over time.
    genders = rng.choice(["F", "M"], n_users)
    first = [f"First{u}" for u in range(n_users)]
    last = [f"Last{u % 311}" for u in range(n_users)]

    ts = np.sort(rng.integers(LOG_T0_MS, LOG_T0_MS + LOG_SPAN_MS, n_events))
    user = rng.integers(0, n_users, n_events)
    level_paid = rng.random(n_events) < 0.3
    next_song = rng.random(n_events) < NEXT_SONG_RATE
    other_page = rng.integers(0, len(OTHER_PAGES), n_events)
    uid_kind = rng.random(n_events)  # < EMPTY -> "", < EMPTY+NULL -> null
    null_len = rng.random(n_events) < NULL_LENGTH_RATE
    from_catalog = rng.random(n_events) < CATALOG_PLAY_RATE
    cat_song = rng.integers(0, n_songs, n_events)
    other_song = rng.integers(0, 10 * n_songs, n_events)
    other_dur = rng.uniform(60, 600, n_events).round(5)

    # Argmax ties: for a share of users, the second-latest NextSong event
    # (with a real userId) takes the latest one's ts and the other level.
    valid_uid = uid_kind >= EMPTY_USER_RATE + NULL_USER_RATE
    ns_idx = np.flatnonzero(next_song & valid_uid)
    by_user: dict[int, list[int]] = collections.defaultdict(list)
    for i in ns_idx:
        by_user[int(user[i])].append(int(i))
    tie_users = [u for u in sorted(by_user) if len(by_user[u]) >= 2]
    tie_pick = rng.random(len(tie_users)) < TIE_USER_RATE
    for u, pick in zip(tie_users, tie_pick):
        if pick:
            a, b = by_user[u][-2], by_user[u][-1]
            ts[a] = ts[b]
            level_paid[a] = not level_paid[b]
    order = np.argsort(ts, kind="stable")

    session_of = {}
    item_in_session = collections.Counter()
    rows = []
    for i in order:
        i = int(i)
        u = int(user[i])
        sess = session_of.setdefault(u, 1000 + u)
        item = item_in_session[sess]
        item_in_session[sess] += 1
        if uid_kind[i] < EMPTY_USER_RATE:
            uid = ""
        elif uid_kind[i] < EMPTY_USER_RATE + NULL_USER_RATE:
            uid = None
        else:
            uid = str(u + 1)
        if next_song[i]:
            if from_catalog[i]:
                s = songs[int(cat_song[i])]
                song, artist, length = s["title"], s["artist_name"], s["duration"]
            else:
                k = int(other_song[i])
                song, artist, length = f"Track {k}", f"Band {k % 503}", float(other_dur[i])
            if null_len[i]:
                length = None
            page = "NextSong"
        else:
            song = artist = length = None
            page = OTHER_PAGES[int(other_page[i])]
        rows.append(
            {
                "artist": artist,
                "auth": "Logged In",
                "firstName": first[u],
                "gender": str(genders[u]),
                "itemInSession": item,
                "lastName": last[u],
                "length": length,
                "level": "paid" if level_paid[i] else "free",
                "location": f"Town {u % 53}",
                "method": "PUT" if page == "NextSong" else "GET",
                "page": page,
                "registration": float(1.5e12 + u * 1000.0),
                "sessionId": sess,
                "song": song,
                "status": 200,
                "ts": float(ts[i]),
                "userAgent": "Mozilla/5.0",
                "userId": uid,
            }
        )

    log_files = []
    bounds = np.linspace(0, n_events, n_files + 1).astype(int)
    for f in range(n_files):
        p = os.path.join(log_dir, f"events-{f:03d}.json")
        _write_jsonl(p, rows[bounds[f] : bounds[f + 1]])
        log_files.append(p)

    catalog_keys = {(s["title"], s["artist_name"], s["duration"]) for s in songs}
    artists = {
        (s["artist_id"], s["artist_name"], s["artist_location"], s["artist_latitude"],
         s["artist_longitude"])
        for s in songs
    }

    facts = expect_logs(rows, catalog_keys)
    facts.update(
        {
            "song_dir": song_dir,
            "log_dir": log_dir,
            "log_files": log_files,
            "log_rows": [int(bounds[f + 1] - bounds[f]) for f in range(n_files)],
            "log_bytes": [os.path.getsize(p) for p in log_files],
            "songs_rows": n_songs,
            "song_years": sorted({int(y) for y in song_year}),
            "artists_rows": len(artists),
            "input_rows": n_events + n_songs,
            "input_bytes": _files_size(log_files) + _files_size(song_files),
            "_rows": rows,
        }
    )
    return facts


def expect_logs(rows: list[dict], catalog_keys=frozenset()) -> dict:
    """What the batch job must produce from these log rows."""
    ns = [r for r in rows if r["page"] == "NextSong"]
    latest: dict[str, float] = {}
    for r in ns:
        if r["userId"]:
            latest[r["userId"]] = max(latest.get(r["userId"], -1.0), r["ts"])
    user_rows = {
        (r["userId"], r["firstName"], r["lastName"], r["gender"], r["level"])
        for r in ns
        if r["userId"] and r["ts"] == latest[r["userId"]]
    }
    seconds = {int(r["ts"]) // 1000 for r in ns}
    return {
        "next_song": len(ns),
        "users_rows": len(user_rows),
        "user_ids": sorted(latest),
        "time_rows": len(seconds),
        "time_years": sorted({dt.datetime.fromtimestamp(x, UTC).year for x in seconds}),
        "matched_plays": sum(1 for r in ns if (r["song"], r["artist"], r["length"]) in catalog_keys),
    }


def sparkify_rounds(facts: dict, files_per_round: int) -> list[dict]:
    """Cumulative expectations after each incremental round of
    ``files_per_round`` log files (the logs alone: no song data)."""
    out = []
    done = 0
    for start in range(0, len(facts["log_files"]), files_per_round):
        sl = slice(start, start + files_per_round)
        done += sum(facts["log_rows"][sl])
        exp = expect_logs(facts["_rows"][:done])
        exp.update(
            {
                "files": facts["log_files"][sl],
                "input_rows": sum(facts["log_rows"][sl]),
                "input_bytes": sum(facts["log_bytes"][sl]),
            }
        )
        out.append(exp)
    return out


# --- TPC-H-style tables + events stream (query_mix's analytics) ---------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_WORDS = ("blue", "hot", "large", "small", "steel", "ring", "bolt", "nut")
DAY_US = 86_400_000_000
TPCH_T0_US = int(dt.datetime(2023, 1, 1, tzinfo=UTC).timestamp() * 1_000_000)
EVENTS_T0_US = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp() * 1_000_000)


def _money(rng, lo, hi, n):
    return (rng.integers(int(lo * 100), int(hi * 100), n) / 100.0).astype("float64")


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _write_table(path: str, cols: dict, row_group_size: int | None = None) -> None:
    pq.write_table(
        pa.table(cols), path, row_group_size=row_group_size, compression="snappy"
    )


def tables(root: str, seed: int, scale: float) -> dict:
    """The query-registry tables as ``root/{name}.parquet``, one file each.

    ``scale`` = 1.0 gives 150k orders and about 600k lineitems (the sf0.1
    shape). Money columns carry two decimals and timestamps are unique per
    events row, so every registry query has one exact answer.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(25, int(1_000 * scale))
    n_part = max(50, int(20_000 * scale))
    n_ord = max(100, int(150_000 * scale))
    n_users = max(20, int(1_500 * scale))
    n_events = max(200, int(100_000 * scale))

    out: dict[str, int] = {}

    def put(name, cols):
        path = os.path.join(root, f"{name}.parquet")
        _write_table(path, cols)
        out[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp)),
    })
    w1 = rng.choice(PART_WORDS, n_part)
    w2 = rng.choice(PART_WORDS, n_part)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(w1, w2)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 30, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "SMALL"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(_money(rng, 900, 2000, n_part)),
    })
    o_day = rng.integers(0, 900, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(TPCH_T0_US + o_day * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype("int32")
    put("lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(TPCH_T0_US + (np.repeat(o_day, lines) + rng.integers(1, 120, n_li)) * DAY_US),
    })
    # Strictly increasing event times: no two events share a ts, so ordered
    # windows and the as-of join have one answer.
    ev_us = np.sort(rng.integers(0, 75 * DAY_US, n_events)) + np.arange(n_events)
    put("events", {
        "event_id": pa.array(np.arange(n_events, dtype="int64")),
        "ts": _ts(EVENTS_T0_US + ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(_money(rng, 0, 560, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    files = [os.path.join(root, f"{t}.parquet") for t in out]
    return {
        "sf_dir": root,
        "table_rows": out,
        "input_rows": sum(out.values()),
        "input_bytes": _files_size(files),
    }


# --- Replicated document corpus + embeddings (query_mix's corpus operators) ---

WORDS = (
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "vector", "table", "stream", "merge",
    "join", "data", "customer", "index", "shard", "token", "model", "layer",
    "cache", "page", "file", "node", "graph", "edge", "rank", "score",
)
STOP = ("the", "a", "of", "and", "to", "in", "is")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EMB_DIM = 64
PERTURB_RATE = 0.5
TOKEN_NOISE = 0.1


def corpus(
    root: str,
    seed: int,
    n_base_docs: int,
    n_base_vecs: int,
    replicas: int,
) -> dict:
    """``documents.parquet`` and ``embeddings.parquet`` as directories of
    ``replicas`` files (several row groups each).

    Replica 0 is the base corpus; in every other replica a document is an
    exact copy of its base with probability ``1 - PERTURB_RATE`` and else has
    a ``TOKEN_NOISE`` share of its tokens replaced (a near duplicate).
    ``PERTURB_RATE`` sets how much work the dedup operators share with the
    exact-dup path. Vectors are base vectors plus small Gaussian noise.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(WORDS + STOP)
    docs_dir = os.path.join(root, "documents.parquet")
    emb_dir = os.path.join(root, "embeddings.parquet")
    os.makedirs(docs_dir)
    os.makedirs(emb_dir)

    lengths = rng.integers(8, 90, n_base_docs)
    base_toks = [rng.choice(vocab, n) for n in lengths]
    # A few base docs repeat another base doc verbatim.
    for i in np.flatnonzero(rng.random(n_base_docs) < 0.03):
        base_toks[i] = base_toks[int(rng.integers(0, n_base_docs))]
    base_lang = rng.choice(LANGS, n_base_docs)
    base_src = rng.integers(0, 20, n_base_docs)
    emb_base = rng.normal(0, 0.15, (n_base_vecs, EMB_DIM)).astype("float32")
    emb_label = rng.integers(0, 10, n_base_vecs).astype("int32")

    texts_all = []
    doc_files, emb_files = [], []
    for r in range(replicas):
        texts = []
        for i in range(n_base_docs):
            toks = base_toks[i]
            if r and rng.random() < PERTURB_RATE:
                toks = toks.copy()
                hit = rng.random(len(toks)) < TOKEN_NOISE
                toks[hit] = rng.choice(vocab, int(hit.sum()))
            texts.append(" ".join(toks))
        texts_all.extend(texts)
        ids = np.arange(n_base_docs, dtype="int64") + r * n_base_docs
        p = os.path.join(docs_dir, f"part-{r:03d}.parquet")
        _write_table(p, {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(base_lang),
            "source": pa.array([f"src{s}" for s in base_src]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }, row_group_size=max(1, n_base_docs // 4))
        doc_files.append(p)

        vecs = emb_base if r == 0 else emb_base + rng.normal(0, 0.01, emb_base.shape).astype("float32")
        p = os.path.join(emb_dir, f"part-{r:03d}.parquet")
        _write_table(p, {
            "vec_id": pa.array(np.arange(n_base_vecs, dtype="int64") + r * n_base_vecs),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(emb_label),
        }, row_group_size=max(1, n_base_vecs // 4))
        emb_files.append(p)

    counts = collections.Counter(texts_all)
    n_docs = n_base_docs * replicas
    return {
        "sf_dir": root,
        "docs_rows": n_docs,
        "vecs_rows": n_base_vecs * replicas,
        "exact_dup_groups": sum(1 for c in counts.values() if c > 1),
        "input_rows": n_docs + n_base_vecs * replicas,
        "input_bytes": _files_size(doc_files) + _files_size(emb_files),
    }
