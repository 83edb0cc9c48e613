"""The traced run: the same seeded inputs, replayed with tracing, giving
the per-layer metrics named in perfbench/layers.json.

A traced run drives `graftbench.TraceMain`: a gateway on a session with
the benchmark's listeners, which can be switched off. After the warm-up
it replays a serial slice of its workload, one request at a time, traced,
then another untraced. The traced slice's mean service time minus the
untraced one's is the tracing overhead. With one request in flight,
every Spark job and query execution inside a request's interval belongs
to that request's door. TraceMain then runs the staged replay of the
collect path (one span per layer call), or the store reads and the
registry probe, and writes its trace.
"""
import json
import os
import random
import time

import duckdb

import gen
import workloads as wl
from harness import Gateway, command, cores, quantile

FAMILIES = {
    "event_analytics": ["CoreQueries", "JoinQueries", "JoinQueries2",
                        "WindowQueries", "ScanQueries", "SourceQueries",
                        "BehavioralQueries", "MapperQueries", "PathQueries",
                        "ProjectionQueries", "SequenceQueries",
                        "LayoutQueries"],
    "corpus": ["DedupQueries", "TextQueries", "TrainingSetQueries",
               "CorpusQueries", "TokenizerQueries"],
    "retrieval": ["SimilarityQueries", "RetrievalQueries",
                  "MultimodalQueries"],
    "stores": ["MaterializedView", "DedupIndex", "SubstringIndex", "AnnIndex",
               "InvertedIndex", "VocabStore"],
}
DOORS = ["batch", "user_ops", "poll", "segmentation", "funnel", "retention",
         "paths", "attribution", "query_execute", "user_get"]
ANALYTICS = ["segmentation", "funnel", "retention", "paths", "attribution",
             "query_execute"]
READS = 5             # store.read spans on analyze
CONCURRENT_S = 10     # the collect trace's contended phase

_LAYERS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "layers.json")


def layer_metrics():
    """[(name, unit)] of every per-layer metric, in declaration order."""
    with open(_LAYERS) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)]


_OFF = time.time() - time.perf_counter()


def epoch_ms(t):
    return (t + _OFF) * 1e3


def med(xs):
    return quantile(xs, 0.5) if xs else 0.0


class Trace:
    """A TraceMain dump with jobs and query executions assigned to spans
    and to the requests of the serial phases."""

    def __init__(self, path):
        with open(path) as fh:
            d = json.load(fh)
        self.spans = d["spans"]
        self.jobs = d["jobs"]
        self.queries = d["queries"]
        by_id = {s["id"]: s for s in self.spans}
        for j in self.jobs:
            if not j["span"]:
                # a job from another thread (a stream's micro-batch):
                # the innermost span open when it started
                inside = [s for s in self.spans
                          if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
                if inside:
                    j["span"] = min(inside, key=lambda s: s["end_ms"] -
                                    s["start_ms"])["id"]
            j["span_name"] = by_id.get(j["span"], {}).get("name", "")

    def spans_named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def jobs_in_spans(self, spans):
        ids = {s["id"] for s in spans}
        return [j for j in self.jobs if j["span"] in ids]

    def window(self, t0, t1):
        """Unspanned jobs and the query executions inside [t0, t1] ms."""
        js = [j for j in self.jobs if not j["span_name"] and
              t0 <= j["start_ms"] <= t1]
        qs = [q for q in self.queries if t0 <= q["end_ms"] <= t1 + 1]
        return js, qs

    def self_ms(self, span):
        kids = sorted((s["start_ms"], s["end_ms"]) for s in self.spans
                      if s["parent"] == span["id"])
        covered, end = 0.0, span["start_ms"]
        for a, b in kids:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return span["end_ms"] - span["start_ms"] - covered


def busy(spans):
    return med([s["end_ms"] - s["start_ms"] for s in spans])


def cpu_ratio(jobs, wall_ms, cores):
    return sum(j["run_ms"] for j in jobs) / (wall_ms * cores) if wall_ms else 0.0


def serial_collect(gw, items, log):
    """Replays `items` one at a time, each batch followed by one poll."""
    for item in items:
        wl.send(gw, item, log)
        if item[0] == "batch":
            wl.poll(gw, log)


def serial_analyze(gw, mix, order, log):
    for i in order:
        wl.ask(gw, mix, i, log)


def door_metrics(m, tr, rows):
    """api.<door>.p50_ms from service times of a serial phase, and the
    analytics counters of the jobs and query executions inside them."""
    for door in DOORS:
        rs = [r for r in rows if r["kind"] == door and r["status"] == 200]
        if rs:
            m["api.%s.p50_ms" % door] = med([(r["t1"] - r["t0"]) * 1e3
                                             for r in rs])
        if door in ANALYTICS and rs:
            plan, exe, shuf = [], [], []
            for r in rs:
                js, qs = tr.window(epoch_ms(r["t0"]), epoch_ms(r["t1"]))
                plan.append(sum(q["plan_ms"] for q in qs))
                exe.append(sum(j["end_ms"] - j["start_ms"] for j in js))
                shuf.append(sum(j["shuffle_write"] for j in js))
            m["analytics.%s.plan_ms" % door] = med(plan)
            m["analytics.%s.exec_ms" % door] = med(exe)
            m["analytics.%s.shuffle_bytes" % door] = med(shuf)


def phase_cpu(tr, rows, cores):
    t0 = min(r["t0"] for r in rows)
    t1 = max(r["t1"] for r in rows)
    js, _ = tr.window(epoch_ms(t0), epoch_ms(t1))
    return cpu_ratio(js, (t1 - t0) * 1e3, cores)


def overhead_ms(untraced, traced):
    """Mean service time of the traced requests minus that of the untraced
    ones replayed right after them in the same JVM. The untraced slice
    runs warmer, so this errs high."""
    def mean(rows):
        xs = [(r["t1"] - r["t0"]) * 1e3 for r in rows if r["status"] == 200]
        return sum(xs) / len(xs) if xs else 0.0
    return mean(traced) - mean(untraced)


def trace_gateway(cp, work, cores):
    return Gateway(cp, os.path.join(work, "wh_traced"), os.path.join(work, "tmp"),
                   os.path.join(work, "gateway.log"), main="graftbench.TraceMain",
                   cores=cores)


def run(cp, work, args, meta):
    m = {name: 0.0 for name, _ in layer_metrics()}
    fn = _collect if args.workload == "collect" else _analyze
    attempted, failed, bad = fn(cp, work, args, meta, m, cores())
    units = dict(layer_metrics())
    return ({k: (units[k], v) for k, v in m.items()}, attempted, failed, bad)


def _collect(cp, work, args, meta, m, cores):
    items = wl.collect_items(args.seed, 400)
    # requests 13..19 are six batches and the /user/batch_operations at
    # 19, traced; 20..22 are three batches, untraced
    warm, traced, untraced, rest = (items[:wl.WARM_ITEMS], items[wl.WARM_ITEMS:20],
                                    items[20:23], items[23:])
    gw = trace_gateway(cp, work, cores)
    command(gw, "listen off")
    wlog = wl.Log()
    wl.collect_prepare(gw, warm, wlog)
    command(gw, "listen on")
    log, ulog = wl.Log(), wl.Log()
    serial_collect(gw, traced, log)
    command(gw, "listen off")
    serial_collect(gw, untraced, ulog)
    command(gw, "listen on")
    srows = list(log.rows)
    clog = wl.Log()
    wl.collect_drive(gw, rest, min(args.seconds, CONCURRENT_S), clog)
    log.rows += ulog.rows + clog.rows
    bad = wl.collect_check(gw, wlog.rows + log.rows)
    replay_file = os.path.join(work, "replay.jsonl")
    with open(replay_file, "w") as fh:
        for kind, _, body, _ in traced:
            if kind == "batch":
                fh.write(body + "\n")
    rep = command(gw, "replay " + replay_file)
    dump = os.path.join(work, "trace.json")
    command(gw, "dump " + dump)
    gw.stop()
    tr = Trace(dump)

    door_metrics(m, tr, srows)
    m["collect.cpu_busy_ratio"] = phase_cpu(tr, srows, cores)
    m["collect.trace_overhead_ms"] = overhead_ms(ulog.of("batch"),
                                                 [r for r in srows if r["kind"] == "batch"])
    conc = wl.latencies_ms(clog.of("batch"))
    serial_batch = [(r["t1"] - r["t0"]) * 1e3 for r in srows
                    if r["kind"] == "batch" and r["status"] == 200]
    m["api.writelock_wait_ms"] = med(conc) - med(serial_batch)

    batches = rep["batches"]
    n = len(batches)
    events = sum(b["events"] for b in batches)
    for layer in ["ingest", "enrich"]:
        sp = tr.spans_named(layer)
        m[layer + ".busy_ms"] = busy(sp)
        m[layer + ".spark_jobs"] = len(tr.jobs_in_spans(sp)) / n
    m["ingest.dead_letters"] = sum(b["dead_letters"] for b in batches)
    m["store.write.busy_ms"] = busy(tr.spans_named("store.write"))
    m["store.write.files"] = sum(b["files"] for b in batches) / n
    m["store.write.bytes_per_event"] = sum(b["bytes"] for b in batches) / events
    m["store.mv_refresh.busy_ms"] = busy(tr.spans_named("store.mv_refresh"))
    m["store.manifest.versions"] = rep["versions"]
    m["store.spark_jobs"] = len(tr.jobs_in_spans(
        tr.spans_named("store.write") + tr.spans_named("store.mv_refresh"))) / n
    polls = tr.spans_named("streaming.poll")
    m["streaming.poll.busy_ms"] = busy(polls)
    m["streaming.poll.rows"] = med([b["poll_rows"] for b in batches
                                    if "poll_rows" in b])
    m["streaming.spark_jobs"] = len(tr.jobs_in_spans(polls)) / max(1, len(polls))
    m["profiles.ops_append.busy_ms"] = m["api.user_ops.p50_ms"]
    m["replay.self_ms"] = med([tr.self_ms(s) for s in tr.spans_named("replay.batch")])
    meta.update(serial_requests=len(srows), replayed_batches=n,
                concurrent_batches=len(conc), spans=len(tr.spans),
                jobs=len(tr.jobs), trace_file=dump)
    return len(log.rows), sum(1 for r in log.rows if r["status"] != 200), bad


def _analyze(cp, work, args, meta, m, cores):
    evs, bodies, ops, mix = wl.analyze_inputs(args.seed)
    order = list(range(len(mix)))
    random.Random(args.seed).shuffle(order)
    gw = trace_gateway(cp, work, cores)
    command(gw, "listen off")
    wl.analyze_prepare(gw, bodies, ops, mix)
    log, ulog = wl.Log(), wl.Log()
    command(gw, "listen on")
    serial_analyze(gw, mix, order, log)
    command(gw, "listen off")
    serial_analyze(gw, mix, order, ulog)
    command(gw, "listen on")
    reads = command(gw, "read %d" % READS)
    data = os.path.join(work, "tables")
    out = os.path.join(work, "registry_out")
    os.makedirs(data, exist_ok=True)
    gen.tables(args.seed, data)
    reg = command(gw, "registry %s %s %d" % (data, out, args.seed))
    dump = os.path.join(work, "trace.json")
    command(gw, "dump " + dump)
    gw.stop()
    tr = Trace(dump)
    both = wl.Log()
    both.rows = log.rows + ulog.rows
    bad = wl.analyze_check(both, evs, mix) + oracle_check(reg, data, out)

    door_metrics(m, tr, log.rows)
    m["analyze.cpu_busy_ratio"] = phase_cpu(tr, log.rows, cores)
    m["analyze.trace_overhead_ms"] = overhead_ms(ulog.rows, log.rows)
    m["store.read.resolve_ms"] = busy(tr.spans_named("store.read"))
    m["store.read.files"] = reads["files"]
    m["profiles.get.busy_ms"] = m["api.user_get.p50_ms"]

    reg_spans = [s for s in tr.spans if s["name"].startswith("registry.")]
    for q in reg.values():
        m["registry.%s.wall_s" % q["module"]] = q.get("wall_s", 0.0)
        m["registry.%s.plan_s" % q["module"]] = q.get("plan_s", 0.0)
    for fam, mods in FAMILIES.items():
        sp = [s for s in reg_spans if s["name"][len("registry."):] in mods]
        js = tr.jobs_in_spans(sp)
        m["registry.%s_s" % fam] = sum(
            q.get("wall_s", 0.0) for q in reg.values() if q["module"] in mods)
        m["registry.%s.shuffle_mb" % fam] = sum(j["shuffle_write"] for j in js) / 1e6
        m["registry.%s.spill_mb" % fam] = sum(j["spill"] for j in js) / 1e6
        m["registry.%s.stages" % fam] = sum(j["stages"] for j in js)
        m["registry.%s.task_skew" % fam] = max([j["task_skew"] for j in js] or [0.0])
    wall = sum(s["end_ms"] - s["start_ms"] for s in reg_spans)
    m["registry.cpu_busy_ratio"] = cpu_ratio(tr.jobs_in_spans(reg_spans), wall, cores)
    errors = [n for n, q in reg.items() if "error" in q]
    meta.update(serial_requests=len(log.rows), registry_queries=len(reg),
                registry_errors=errors, spans=len(tr.spans), jobs=len(tr.jobs),
                trace_file=dump)
    rows = both.rows
    failed = sum(1 for r in rows if r["status"] != 200) + len(errors)
    return len(rows) + len(reg), failed, bad


def _canon(v):
    if isinstance(v, float):
        return "nan" if v != v else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    try:
        return round(float(v), 6) if type(v).__name__ == "Decimal" else v
    except (TypeError, ValueError):
        return v


def oracle_check(reg, data, out):
    """Each probe query's output equals its DuckDB twin on the same tables
    (columns by name, rows as a multiset, numbers to 6 decimals)."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, data, t))
    bad = []
    for name, q in sorted(reg.items()):
        if "oracle" not in q or "error" in q:
            continue
        try:
            got = con.execute("SELECT * FROM read_parquet('%s/%s/*.parquet')"
                              % (out, name))
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            want = con.execute(q["oracle"])
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except duckdb.Error as e:
            bad.append("%s: oracle error %s" % (name, str(e)[:200]))
            continue
        if sorted(gcols) != sorted(wcols):
            bad.append("%s: columns %s != %s" % (name, gcols, wcols))
            continue

        def canon(rows, cols):
            idx = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted((tuple(_canon(r[i]) for i in idx) for r in rows),
                          key=repr)
        if canon(grows, gcols) != canon(wrows, wcols):
            bad.append("%s: rows differ from the DuckDB twin (%d vs %d)"
                       % (name, len(grows), len(wrows)))
    return bad
