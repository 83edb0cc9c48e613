"""The gateway workloads: `collect` (write path) and `analyze` (read path).

Both drive an `HttpGateway` JVM over loopback as closed loops: each client
sends its next request only after the previous reply, as SDKs flush and
analysts wait. Ingest is serialized behind the gateway's write lock at
well under one request per second, so an open loop above that rate would
grow a backlog without bound and one below it would hide throughput gains.
"""
import json
import random
import threading
import time
import urllib.parse

import gen
from harness import BenchError, quantile

BATCH = 100          # events per /event/batch envelope
WARM_ITEMS = 13      # collect requests before timing: JIT and codegen warm-up
COLLECTORS = 3       # collector threads; a 4th thread is the subscriber
USER_OPS_EVERY = 10  # every 10th collect request is /user/batch_operations
ANALYSTS = 2
WARM_CYCLES = 2      # untimed cycles of the analyze mix before timing
BULK = 5000          # events per /event/bulk body
ANALYZE_EVENTS = 10000  # the sf0.01 shape: 10,000 events over 150 users
ANALYZE_USERS = 150
SUB_FILTER = "event_type = 'purchase'"
POLL_EVERY_S = 1.0   # the subscriber's sync cadence, as a dashboard polls


class Log:
    """Thread-safe record of every request a run made."""

    def __init__(self):
        self.lock = threading.Lock()
        self.rows = []

    def add(self, **kw):
        with self.lock:
            self.rows.append(kw)

    def of(self, kind):
        return [r for r in self.rows if r["kind"] == kind]


# ------------------------------------------------------------- collect

def collect_items(seed, n_items):
    """The seeded sequence of collect requests: (kind, path, body, ids)."""
    evs = gen.events(seed, n_items * BATCH)
    items, b = [], 0
    for j in range(n_items):
        if j % USER_OPS_EVERY == USER_OPS_EVERY - 1:
            prev = evs[(b - 1) * BATCH:b * BATCH]
            items.append(("user_ops", "/user/batch_operations",
                          gen.user_ops(prev), []))
        else:
            chunk = evs[b * BATCH:(b + 1) * BATCH]
            items.append(("batch", "/event/batch", gen.envelope(chunk), chunk))
            b += 1
    return items


def collect_prepare(gw, warm, log):
    """The first batch alone (it creates the collection), then the
    materialized view and the filtered subscription the workload
    maintains, then the rest of `warm` through the same closed loop and
    subscriber as the timed phase, so every path it takes is warm."""
    send(gw, warm[0], log)
    if log.rows[0]["status"] != 200:
        raise BenchError("first batch failed: %s" % log.rows[0]["status"])
    gw.json("POST", "/materialized-view/create", json.dumps({
        "name": "by_type", "collection": "events", "group": ["event_type"],
        "values": ["value"], "distinct": ["_user"]}))
    gw.json("POST", "/subscription/create", json.dumps({
        "id": "buyers", "collection": "events", "filter": SUB_FILTER,
        "columns": ["event_id"]}))
    collect_drive(gw, warm[1:], None, log)
    failed = [r for r in log.rows if r["status"] != 200]
    if failed:
        raise BenchError("warm-up %s request failed: %s" % (
            failed[0]["kind"], failed[0]["status"]))


def send(gw, item, log):
    """Posts one collect request and records it."""
    kind, path, body, chunk = item
    s, out, t0, t1 = gw.request("POST", path, body)
    log.add(kind=kind, status=s, t0=t0, t1=t1,
            stored=json.loads(out).get("stored", 0)
            if s == 200 and kind == "batch" else 0,
            ids=[e["event_id"] for e in chunk],
            buyers=[e["event_id"] for e in chunk
                    if e["event_type"] == "purchase"])


def poll(gw, log):
    """One subscriber poll; records the event ids it returned."""
    s, out, t0, t1 = gw.request("POST", "/subscription/poll?id=buyers")
    log.add(kind="poll", status=s, t0=t0, t1=t1,
            seen={int(r["event_id"]) for r in json.loads(out)}
            if s == 200 else set())


def collect_drive(gw, items, seconds, log):
    """Runs the collectors and the subscriber for `seconds`, and for at
    least two requests per collector; with `seconds` None, until `items`
    run out."""
    it = iter(items)
    it_lock = threading.Lock()
    deadline = (float("inf") if seconds is None
                else time.perf_counter() + seconds)
    done = threading.Event()

    def collector():
        # a collector's second request goes out after the loop has filled,
        # so even a short run yields steady-state samples
        sent = 0
        while time.perf_counter() < deadline or sent < 2:
            with it_lock:
                item = next(it, None)
            if item is None:
                break
            send(gw, item, log)
            sent += 1

    def poller():
        while not done.wait(POLL_EVERY_S):
            poll(gw, log)

    threads = [threading.Thread(target=collector) for _ in range(COLLECTORS)]
    sub = threading.Thread(target=poller)
    for t in threads + [sub]:
        t.start()
    for t in threads:
        t.join()
    done.set()
    sub.join()


def visible_lags_ms(log):
    """Per batch: first poll ending after the batch's 200 that holds the
    batch's filtered rows, minus the 200's arrival."""
    polls = sorted((r for r in log.of("poll") if r["status"] == 200),
                   key=lambda r: r["t1"])
    lags = []
    for b in log.of("batch"):
        if b["status"] != 200 or not b["buyers"]:
            continue
        want = set(b["buyers"])
        for p in polls:
            if p["t1"] >= b["t1"] and want <= p["seen"]:
                lags.append((p["t1"] - b["t1"]) * 1e3)
                break
    return lags


def collect_check(gw, rows):
    """Stored rows equal accepted events exactly once; the view equals a
    recount of the stored events; the subscriber holds exactly the
    filtered rows. `rows` are every collect request of the run, warm-up
    included. Returns a list of failures."""
    bad = []
    ok = [r for r in rows if r["kind"] == "batch" and r["status"] == 200]
    acc_ids = [i for r in ok for i in r["ids"]]
    got = gw.json("POST", "/query/execute", json.dumps({
        "query": "select count(*) as n, count(distinct event_id) as d, "
                 "sum(event_id) as s from events"}))[0]
    if not (got["n"] == got["d"] == len(acc_ids) and
            int(got["s"]) == sum(acc_ids)):
        bad.append("stored %s != accepted n=%d sum=%d" % (
            got, len(acc_ids), sum(acc_ids)))
    view = {r["event_type"]: r for r in
            gw.json("GET", "/materialized-view/get?name=by_type")}
    recount = {r["event_type"]: r for r in gw.json(
        "POST", "/query/execute", json.dumps({
            "query": "select event_type, count(*) as n, sum(value) as s, "
                     "count(distinct _user) as u from events group by 1"}))}
    if set(view) != set(recount):
        bad.append("view groups %s != %s" % (sorted(view), sorted(recount)))
    for k in recount:
        v, r = view.get(k, {}), recount[k]
        if (v.get("n_rows") != r["n"] or
                abs(v.get("sum_value", 0) - r["s"]) > 1e-6 * max(1, abs(r["s"]))
                # the view's distinct count is an HLL estimate
                or abs(v.get("approx_distinct__user", 0) - r["u"]) > 0.05 * r["u"] + 1):
            bad.append("view %s: %s != recount %s" % (k, v, r))
    want = {i for r in ok for i in r["buyers"]}
    ids = [int(r["event_id"]) for r in
           gw.json("POST", "/subscription/poll?id=buyers")]
    if len(ids) != len(set(ids)) or set(ids) != want:
        bad.append("subscriber rows %d (distinct %d) != filtered %d" % (
            len(ids), len(set(ids)), len(want)))
    return bad


# ------------------------------------------------------------- analyze

def analyze_inputs(seed):
    """Bulk bodies, the profile operations, and the seeded request mix. The
    seed picks parameters (funnel steps, conversion type, users, a limit),
    never a request's shape, so every seed's mix costs about the same."""
    evs = gen.events(seed, ANALYZE_EVENTS, users=ANALYZE_USERS)
    bodies = [gen.envelope(evs[i:i + BULK])
              for i in range(0, len(evs), BULK)]
    ops = gen.user_ops(evs)
    rnd = random.Random(seed * 31 + 7)
    types = list(gen.EVENT_TYPES)
    q = urllib.parse.quote
    steps = rnd.sample(types, 3)
    conv = rnd.choice(types)
    users = rnd.sample(sorted({e["user_id"] for e in evs}), 2)
    mix = [
        ("segmentation", "GET", "/analysis/segmentation?collection=events"
         "&dimension=event_type", None),
        ("segmentation", "GET", "/analysis/segmentation?collection=events"
         "&dimension=_user_agent_family", None),
        ("funnel", "GET", "/analysis/funnel?collection=events&steps=" +
         ",".join(steps), None),
        ("retention", "GET", "/analysis/retention?collection=events&grain=day",
         None),
        ("retention", "GET", "/analysis/retention?collection=events&grain=week",
         None),
        ("paths", "GET", "/analysis/paths?collection=events", None),
        ("attribution", "GET", "/analysis/attribution?collection=events"
         "&conversion=" + conv, None),
        ("attribution", "GET", "/analysis/attribution?collection=events"
         "&model=markov&conversion=" + conv, None),
        ("query_execute", "POST", "/query/execute", json.dumps({
            "query": "select event_type, count(*) as n, count(distinct _user)"
                     " as u, sum(k) as k from events group by event_type"})),
        ("query_execute", "POST", "/query/execute", json.dumps({
            "query": "select _referrer_medium, _os, count(*) as n from events"
                     " group by 1, 2 order by 3 desc, 1, 2 limit " +
                     str(rnd.randrange(3, 10))})),
        ("user_get", "GET", "/user/get?id=" + q("u%d" % users[0]), None),
        ("user_get", "GET", "/user/get?id=" + q("u%d" % users[1]), None),
    ]
    return evs, bodies, ops, mix


def analyze_prepare(gw, bodies, ops, mix):
    """Bulk load, profile operations, then untimed cycles of the mix: the
    first request of each door pays its codegen, the later cycles the JIT
    warm-up that still made each cycle faster than the last."""
    for b in bodies:
        gw.json("POST", "/event/bulk", b)
    gw.json("POST", "/user/batch_operations", ops)
    log = Log()
    analyze_drive(gw, mix, 0, log, min_cycles=WARM_CYCLES)
    bad = [r for r in log.rows if r["status"] != 200]
    if bad:
        raise BenchError("warm-up request failed: %s" % bad[0]["body"][:200])


def ask(gw, mix, i, log):
    """Sends request `i` of the mix and records it with its body."""
    door, method, path, body = mix[i]
    s, out, t0, t1 = gw.request(method, path, body)
    log.add(kind=door, spec=i, status=s, t0=t0, t1=t1, body=out)


def analyze_drive(gw, mix, seconds, log, min_cycles=1):
    """Cycles the mix in its fixed order from the analyst threads until
    `seconds` have passed and the current cycle is done, so every request
    of the mix is sampled equally often. Runs at least `min_cycles`
    cycles. The order is the same for every seed: with two analysts it
    decides which requests overlap, so a per-seed order would give each
    seed different work."""
    lock = threading.Lock()
    queue = []
    cycles = [0]
    deadline = time.perf_counter() + seconds

    def nxt():
        with lock:
            if not queue:
                if (cycles[0] >= min_cycles and
                        time.perf_counter() >= deadline):
                    return None
                cycles[0] += 1
                queue.extend(range(len(mix)))
            return queue.pop(0)

    def analyst():
        i = nxt()
        while i is not None:
            ask(gw, mix, i, log)
            i = nxt()

    ts = [threading.Thread(target=analyst) for _ in range(ANALYSTS)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


def analyze_check(log, evs, mix):
    """Segmentation and SQL answers match counts computed here from the
    generated input; every other door returns the same body each time."""
    bad = []
    by_type = {}
    for e in evs:
        n, us, k = by_type.get(e["event_type"], (0, set(), 0))
        us.add(e["user_id"])
        by_type[e["event_type"]] = (n + 1, us, k + e["k"])
    seg = {t: {"users": len(v[1]), "events": v[0]} for t, v in by_type.items()}
    sql = {t: {"n": v[0], "u": len(v[1]), "k": v[2]} for t, v in by_type.items()}
    first = {}
    for r in log.rows:
        if r["status"] != 200:
            continue
        door, _, path, _ = mix[r["spec"]]
        body = json.loads(r["body"])
        if door == "segmentation" and path.endswith("dimension=event_type"):
            got = {x["event_type"]: {"users": x["users"], "events": x["events"]}
                   for x in body}
            if got != seg:
                bad.append("segmentation %s != %s" % (got, seg))
        elif door == "query_execute" and "sum(k)" in mix[r["spec"]][3]:
            got = {x["event_type"]: {"n": x["n"], "u": x["u"], "k": int(x["k"])}
                   for x in body}
            if got != sql:
                bad.append("query/execute %s != %s" % (got, sql))
        elif r["spec"] in first:
            if first[r["spec"]] != r["body"]:
                bad.append("%s changed between repetitions" % path)
        else:
            first[r["spec"]] = r["body"]
    return bad


def steady_rate(rows, work):
    """Work per second between the first and the last completion of a
    closed loop's requests, so the ramp-up before the first reply and the
    drain after the deadline do not count."""
    done = sorted((r for r in rows if r["status"] == 200), key=lambda r: r["t1"])
    if len(done) < 2:
        return 0.0
    return sum(work(r) for r in done[1:]) / (done[-1]["t1"] - done[0]["t1"])


def closed_loop_latency_ms(rows):
    """Mean latency of a closed loop's requests over its steady window,
    from the first to the last completion: the clients' waiting time
    inside the window over the requests completed in it (Little's law).
    Unlike the mean of the run's few latencies, it does not swing with
    which client the write lock happens to favour at the window's ends."""
    done = sorted((r for r in rows if r["status"] == 200), key=lambda r: r["t1"])
    if len(done) < 2:
        return 0.0
    w0, w1 = done[0]["t1"], done[-1]["t1"]
    wait = sum(max(0.0, min(r["t1"], w1) - max(r["t0"], w0)) for r in rows)
    return wait / (len(done) - 1) * 1e3


def steady(rows):
    """Requests sent after the first reply: the closed loop is full, so the
    ramp (the first clients waiting on each other) does not count."""
    first = min((r["t1"] for r in rows), default=0.0)
    return [r for r in rows if r["t0"] >= first]


def latencies_ms(rows):
    return [(r["t1"] - r["t0"]) * 1e3 for r in rows if r["status"] == 200]


def p(xs, q):
    return quantile(xs, q) if xs else 0.0
