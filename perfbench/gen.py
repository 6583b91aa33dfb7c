"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical rows. The program under test only ever sees the files
written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = np.datetime64("2024-01-01T00:00:00", "us")
DAYS = 30
DAY_US = 86_400_000_000

# Feed shape: users x sessions_per_user sessions, spread evenly over the
# 30 days so every day carries traffic (EventGenerator.sessionEvents
# spaces sessions 2 h apart, which would fill only the first two days).
FEED_USERS = 2000
FEED_SESSIONS = 10
FEED_FILES = 16


def _sessions(rng, users, sessions_per_user, days):
    """One row per (user, session): start time and event count.

    Session starts fall in [00:00, 23:15] of their day so no session
    crosses midnight, and at most one session per user per slot of
    days / sessions_per_user days (3 in the 30-day feed), so the
    sequence and consistency gate checks pass.
    """
    n = users * sessions_per_user
    user = np.repeat(np.arange(users, dtype=np.int64), sessions_per_user)
    slot = np.tile(np.arange(sessions_per_user, dtype=np.int64), users)
    slot_days = days / sessions_per_user
    day = np.floor(slot * slot_days + rng.random(n) * slot_days).astype(np.int64)
    day = np.minimum(day, days - 1)
    second = rng.integers(0, 23 * 3600 + 15 * 60, n)
    start_us = day * DAY_US + second * 1_000_000 + rng.integers(0, 1_000_000, n)
    n_events = rng.integers(2, 8, n)
    return user, slot, start_us, n_events


def session_feed(seed, users=FEED_USERS, sessions_per_user=FEED_SESSIONS, days=DAYS):
    """Funnel-ordered session events that pass all seven gate checks.

    Every session opens with a view; a purchase can only close a
    session; a user signs up at most once (in their first session).
    Returns a dict of numpy columns sorted by ts.
    """
    rng = np.random.default_rng(seed)
    user, slot, start_us, n_events = _sessions(rng, users, sessions_per_user, days)
    total = int(n_events.sum())
    sid = np.repeat(np.arange(len(user), dtype=np.int64), n_events)
    first = np.cumsum(n_events) - n_events
    eidx = np.arange(total, dtype=np.int64) - np.repeat(first, n_events)
    last = eidx == np.repeat(n_events, n_events) - 1
    ts = np.repeat(start_us, n_events) + eidx * 240_000_000 + rng.integers(0, 200_000_000, total)
    act = rng.integers(0, 100, total)
    etype = np.where(act < 55, 0, np.where(act < 95, 1, 4))  # view, click, error
    etype = np.where(last & (rng.integers(0, 100, total) < 35), 2, etype)  # purchase
    signup = (eidx == 1) & ~last & (np.repeat(slot, n_events) == 0) & (rng.integers(0, 100, total) < 40)
    etype = np.where(signup, 3, etype)
    etype = np.where(eidx == 0, 0, etype)
    value = np.where(etype == 2, rng.integers(1000, 50000, total) / 100.0, 1.0)
    product = rng.integers(0, 100, total)
    order = np.argsort(ts, kind="stable")
    return {
        "event_id": (sid * 16 + eidx)[order],
        "ts": ts[order],
        "user_id": np.repeat(user, n_events)[order],
        "event_type": etype[order],
        "value": value[order],
        "product": product[order],
    }


EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"], dtype=object)


def _props(etype, product):
    has_k = etype <= 2
    return [f'{{"k": {p}}}' if k else "{}" for k, p in zip(has_k, product)]


def events_table(feed):
    """The events schema of the repo's testdata (ts as timestamp[us])."""
    return pa.table({
        "event_id": pa.array(feed["event_id"], pa.int64()),
        "ts": pa.array(START + feed["ts"].astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(feed["user_id"], pa.int64()),
        "event_type": pa.array(EVENT_TYPES[feed["event_type"]], pa.string()),
        "value": pa.array(feed["value"], pa.float64()),
        "props": pa.array(_props(feed["event_type"], feed["product"]), pa.string()),
    })


def inject_duplicates(feed, seed, per_mille=20):
    """Planted defect: collapse a share of event_ids onto id 0, so the
    duplicate gate check fails (pass rate < 99 %)."""
    rng = np.random.default_rng(seed + 7919)
    ids = feed["event_id"].copy()
    ids[rng.integers(0, 1000, len(ids)) < per_mille] = 0
    return dict(feed, event_id=ids)


def write_feed(feed, out_dir, files=FEED_FILES):
    """Write the feed as `files` parquet files under events.parquet/.

    Rows go to files by user, so every file spans the whole month and
    the feed is not partitioned by date. Returns rows and bytes.
    """
    table = events_table(feed)
    target = os.path.join(out_dir, "events.parquet")
    os.makedirs(target, exist_ok=True)
    bucket = feed["user_id"] % files
    for f in range(files):
        part = table.filter(pa.array(bucket == f))
        pq.write_table(part, os.path.join(target, f"part-{f:05d}.parquet"))
    return table.num_rows, _dir_bytes(target)


def write_backlog(feed, out_dir, files):
    """Stage the feed as time-ordered JSONL files (the stream backlog).

    Each file is a contiguous time slice; modification times increase
    with file order, so the file source drains them in event-time
    order and no event is late. Returns rows and bytes.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = len(feed["ts"])
    bounds = np.linspace(0, n, files + 1).astype(np.int64)
    ts_ms = START.astype("datetime64[ms]") + (feed["ts"] // 1000).astype("timedelta64[ms]")
    ts_txt = np.datetime_as_string(ts_ms, unit="ms")
    props = _props(feed["event_type"], feed["product"])
    for f in range(files):
        lines = []
        for i in range(bounds[f], bounds[f + 1]):
            lines.append(json.dumps({
                "event_id": int(feed["event_id"][i]), "ts": ts_txt[i] + "Z",
                "user_id": int(feed["user_id"][i]),
                "event_type": EVENT_TYPES[feed["event_type"][i]],
                "value": float(feed["value"][i]), "props": props[i]}))
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return n, _dir_bytes(out_dir)


# ---- the star schema the registry queries read -------------------------

WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
NAME_WORDS = "anvil blue bolt cold gear gizmo hot large new old plate red ring rod small widget".split()
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "zh", "es", "de", "fr"]
PII = ["mail me at user{0}@example.com", "call 555-01{0:02d}-{0:04d}", "host 10.0.{0}.7"]


def _day(n, lo, hi, rng):
    days = rng.integers(0, (hi - lo).astype(int), n)
    return pa.array(lo.astype("datetime64[us]") + days.astype("timedelta64[D]"), pa.timestamp("us"))


def star_schema(seed, out_dir, orders=6000):
    """TPC-H-like tables plus events, documents and embeddings, in the
    repo's testdata schemas (TESTDATA.md), at a scale set by the order count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    customers, parts, suppliers = orders // 10, orders // 8 + 200, max(40, orders // 150)
    docs, vecs = max(300, orders // 30), max(300, orders // 30)
    d0, d1 = np.datetime64("1995-01-01"), np.datetime64("2001-08-01")
    tables = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()), "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, customers)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, suppliers), 2)})
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(parts), pa.int64()),
        "p_name": [f"{NAME_WORDS[a]} {NAME_WORDS[b]}" for a, b in rng.integers(0, 16, (parts, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
        "o_orderdate": _day(orders, d0, d1, rng),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, orders)]})
    per_order = rng.integers(1, 8, orders)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64), per_order)
    first = np.cumsum(per_order) - per_order
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - np.repeat(first, per_order) + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _day(n_li, d0, np.datetime64("2001-11-05"), rng)})
    n_ev = orders * 2
    ev_ts = np.sort(rng.integers(0, DAYS * DAY_US, n_ev))
    etype = rng.integers(0, 5, n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(START + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 60), n_ev), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[etype], pa.string()),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(docs):
        words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        if i % 25 == 0:
            words.insert(len(words) // 2, PII[i % 3].format(i % 100))
        if i % 40 == 7 and texts:
            words = texts[i - 7].split() + ["dup"]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()), "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, vecs)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 1.5, (vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values()), _dir_bytes(out_dir)


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
