"""Seeded input generation for the graft benchmark.

Everything the program under test sees is made here from the workload
seed: the event stream the gateway workloads post, the user-profile
operations, and the parquet tables the registry workload reads. The same
seed gives byte-identical inputs; the program never sees the seed.

The shapes follow the fixture tables the repository's tests and oracle
use (TESTDATA.md): `events` at sf0.1 has 100,000 rows over 1,500 users,
five event types and the thirty days of January 2024.
"""
import json
import random

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
JAN_2024_MS = 1704067200000
DAY_MS = 86400000

# Fixed, non-spider pools so every built-in enrichment mapper runs on
# every event: user agent, referrer and the X-Forwarded-For/ip chain.
USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.144 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
]
REFERRERS = [
    "https://www.google.com/search?q=graft+analytics",
    "https://www.bing.com/search?q=event+analytics",
    "https://twitter.com/someone/status/1",
    "https://news.ycombinator.com/item?id=1",
    "https://mail.google.com/mail/u/0/",
    "https://example.org/blog/post",
]


def events(seed, n, users=1500):
    """`n` sf0.1-shaped events in a seeded order (event_id is the order)."""
    rnd = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        out.append({
            "event_id": i,
            "ts_ms": JAN_2024_MS + rnd.randrange(30 * DAY_MS),
            "user_id": rnd.randrange(users),
            "event_type": rnd.choice(EVENT_TYPES),
            "value": round(rnd.uniform(0.01, 200.0), 2),
            "k": rnd.randrange(100),
            "ua": rnd.randrange(len(USER_AGENTS)),
            "ref": rnd.randrange(len(REFERRERS)),
            "ip": "%d.%d.%d.%d" % (rnd.choice([8, 23, 51, 77, 104, 151]),
                                   rnd.randrange(256), rnd.randrange(256),
                                   rnd.randrange(1, 255)),
        })
    return out


def event_json(e):
    """One collect-API event object for the `events` collection."""
    return {"collection": "events", "properties": {
        "_user": "u%d" % e["user_id"],
        "_time": e["ts_ms"],
        "event_type": e["event_type"],
        "value": e["value"],
        "event_id": e["event_id"],
        "k": e["k"],
        "_user_agent": USER_AGENTS[e["ua"]],
        "_referrer": REFERRERS[e["ref"]],
        "_ip": e["ip"],
    }}


def envelope(evs):
    """A `/event/batch` or `/event/bulk` body for a run of events."""
    return json.dumps({"api": {"api_key": "perfbench", "library": {
        "name": "perfbench", "version": "1"}},
        "events": [event_json(e) for e in evs]}, separators=(",", ":"))


def user_ops(evs):
    """`/user/batch_operations` body touching every user of `evs` once."""
    per_user = {}
    for e in evs:
        per_user.setdefault(e["user_id"], []).append(e)
    ops = []
    for uid in sorted(per_user):
        es = per_user[uid]
        ops.append({"id": "u%d" % uid,
                    "time": max(x["ts_ms"] for x in es),
                    "set_properties": {"last_type": es[-1]["event_type"]},
                    "set_once_properties": {"first_type": es[0]["event_type"]},
                    "increment_properties": {"events": len(es)}})
    return json.dumps(ops, separators=(",", ":"))


# ---- registry tables (the fixture schemas at the sf0.001 row counts) ----

WORDS = ("the a fast slow big small key order sort table scan merge part "
         "window hash join batch stream spark dup group query row data "
         "filter customer line value agg column vector").split()
PART_WORDS = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUNS = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"]


def tables(seed, out_dir):
    """Write the ten registry tables as parquet files under `out_dir`."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed * 104729 + 3)

    def money(lo, hi):
        return round(rnd.uniform(lo, hi), 2)

    def day(lo_year, span_days):
        return (datetime.datetime(lo_year, 1, 1)
                + datetime.timedelta(days=rnd.randrange(span_days)))

    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": ["NATION_%d" % i for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())}
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    nc, ns, np_, no, nl = 150, 10, 200, 1500, 6000
    t["customer"] = {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(nc)],
                                pa.int32()),
        "c_acctbal": [money(-999.99, 9999.99) for _ in range(nc)],
        "c_mktsegment": [rnd.choice(segs) for _ in range(nc)]}
    t["supplier"] = {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(ns)],
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(ns)],
                                pa.int32()),
        "s_acctbal": [money(-999.99, 9999.99) for _ in range(ns)]}
    t["part"] = {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": ["%s %s" % (rnd.choice(PART_WORDS), rnd.choice(PART_NOUNS))
                   for _ in range(np_)],
        "p_brand": ["Brand#%d" % rnd.randrange(1, 26) for _ in range(np_)],
        "p_type": [rnd.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                               "MEDIUM", "PROMO"]) for _ in range(np_)],
        "p_size": pa.array([rnd.randrange(1, 51) for _ in range(np_)],
                           pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) / 10.0, 2)
                          for i in range(np_)]}
    t["orders"] = {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(nc) for _ in range(no)],
                              pa.int64()),
        "o_orderstatus": [rnd.choice("POF") for _ in range(no)],
        "o_totalprice": [money(1000.0, 500000.0) for _ in range(no)],
        "o_orderdate": pa.array([day(1995, 2400) for _ in range(no)],
                                pa.timestamp("us")),
        "o_orderpriority": [rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(no)]}
    lines = {}
    for _ in range(nl):
        ok = rnd.randrange(no)
        lines[ok] = lines.get(ok, 0) + 1
    keys = [k for k in sorted(lines) for _ in range(min(lines[k], 7))]
    nl = len(keys)
    lineno, prev = [], None
    for k in keys:
        lineno.append(1 if k != prev else lineno[-1] + 1)
        prev = k
    order = list(range(nl))
    rnd.shuffle(order)
    qty = [float(rnd.randrange(1, 51)) for _ in range(nl)]
    t["lineitem"] = {
        "l_orderkey": pa.array([keys[i] for i in order], pa.int64()),
        "l_partkey": pa.array([rnd.randrange(np_) for _ in range(nl)],
                              pa.int64()),
        "l_suppkey": pa.array([rnd.randrange(ns) for _ in range(nl)],
                              pa.int64()),
        "l_linenumber": pa.array([lineno[i] for i in order], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rnd.uniform(900.0, 2100.0), 2)
                            for q in qty],
        "l_discount": [rnd.randrange(11) / 100.0 for _ in range(nl)],
        "l_tax": [rnd.randrange(9) / 100.0 for _ in range(nl)],
        "l_returnflag": [rnd.choice("ANR") for _ in range(nl)],
        "l_linestatus": [rnd.choice("OF") for _ in range(nl)],
        "l_shipdate": pa.array([day(1995, 2500) for _ in range(nl)],
                               pa.timestamp("us"))}
    evs = events(seed, 1000, users=15)
    t["events"] = {
        "event_id": pa.array([e["event_id"] for e in evs], pa.int64()),
        "ts": pa.array([datetime.datetime(2024, 1, 1) + datetime.timedelta(
            milliseconds=e["ts_ms"] - JAN_2024_MS,
            microseconds=rnd.randrange(1000)) for e in evs],
            pa.timestamp("us")),
        "user_id": pa.array([e["user_id"] for e in evs], pa.int64()),
        "event_type": [e["event_type"] for e in evs],
        "value": [e["value"] for e in evs],
        "props": ['{"k": %d}' % e["k"] for e in evs]}
    texts = []
    for i in range(500):
        if i >= 50 and rnd.random() < 0.1:
            # near-duplicates: a copy of an earlier document, one word
            # changed, so the dedup and similarity operators find pairs
            words = texts[rnd.randrange(len(texts))].split()
            words[rnd.randrange(len(words))] = rnd.choice(WORDS)
        else:
            words = [rnd.choice(WORDS) for _ in range(rnd.randrange(8, 100))]
        texts.append(" ".join(words))
    langs = ["en"] * 4 + ["es", "zh", "de", "fr"]
    t["documents"] = {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(langs) for _ in range(500)],
        "source": ["src%d" % (i % 20) for i in range(500)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    centers = [[rnd.gauss(0, 0.1) for _ in range(64)] for _ in range(10)]
    labels = [rnd.randrange(10) for _ in range(500)]
    t["embeddings"] = {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(
            [[c + rnd.gauss(0, 0.05) for c in centers[lb]] for lb in labels],
            pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    for name, cols in t.items():
        pq.write_table(pa.table(cols), "%s/%s.parquet" % (out_dir, name),
                       compression="snappy")
