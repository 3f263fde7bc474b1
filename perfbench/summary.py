"""Turn one harness run record into the benchmark's metrics.

The harness (perfbench/src/perfbench/Main.scala) writes a JSON record per
run: the set-up repetitions with their phase timings, every timed operation
with the figures the engine returned, the failures found by the checks and,
in a traced run, the spans with the Spark stage metrics attributed to each.
This module reduces a record to the end-to-end metrics (untraced runs) or the
per-layer metrics (traced runs), and renders the per-layer self-time table.
"""
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# (name, unit, better) -- the contract with BENCHMARK.json, which lists the
# same metrics in the same order; test_summary.py checks that they agree.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("mem_mb", "MB", "lower"),
    ("op_p50_s", "s", "lower"),
]

PER_LAYER = [
    # graph: ingest phases and tables, median over the warm set-up builds
    ("graph.links_s", "s", "lower"),
    ("graph.audit_s", "s", "lower"),
    ("graph.csr_s", "s", "lower"),
    ("graph.edges_s", "s", "lower"),
    ("graph.dict_s", "s", "lower"),
    ("graph.tables_s", "s", "lower"),
    ("graph.flatcsr_s", "s", "lower"),
    ("graph.vertices", "count", "higher"),
    ("graph.edges", "count", "higher"),
    ("setup.jobs", "count", "lower"),
    ("setup.driver_gap_s", "s", "lower"),
    ("graph.artifacts_s", "s", "lower"),
    ("setup.cold_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    # FORA query: push, walks and the estimate merge, per 16-source batch
    ("push.s", "s", "lower"),
    ("push.supersteps", "count", "lower"),
    ("push.pushes", "count", "lower"),
    ("push.epoch_p50_s", "s", "lower"),
    ("push.tail_s", "s", "lower"),
    ("walk.s", "s", "lower"),
    ("walk.walks", "count", "lower"),
    ("walk.steps", "count", "lower"),
    ("fora.merge_s", "s", "lower"),
    ("fora.rsum", "mass", "lower"),
    ("fora.omega", "count", "lower"),
    ("fora.ops_per_sec", "1/s", "higher"),
    ("fora.qps", "1/s", "higher"),
    # global analytics, per pass
    ("analytics.s", "s", "lower"),
    ("pagerank.s", "s", "lower"),
    ("cc.s", "s", "lower"),
    ("cc.rounds", "count", "lower"),
    ("lpa.s", "s", "lower"),
    ("triangles.s", "s", "lower"),
    ("cc.components", "count", "higher"),
    ("lpa.labels", "count", "higher"),
    ("triangles.count", "count", "higher"),
    # checkpointed push, resume and checkpointed PageRank, per pass
    ("durable.s", "s", "lower"),
    ("ckpt.push_s", "s", "lower"),
    ("ckpt.supersteps", "count", "lower"),
    ("ckpt.superstep_s", "s", "lower"),
    ("ckpt.commits", "count", "lower"),
    ("ckpt.mb", "MB", "lower"),
    ("ckpt.resume_s", "s", "lower"),
    ("ckpt.resume_supersteps", "count", "lower"),
    ("ckpt.pagerank_s", "s", "lower"),
    # precomputed indexes: HubPPR, backward push, FORA+ walk index, per pass
    ("index.s", "s", "lower"),
    ("hubppr.build_s", "s", "lower"),
    ("hubppr.query_s", "s", "lower"),
    ("hubppr.pushes", "count", "lower"),
    ("backward.s", "s", "lower"),
    ("backward.pushes", "count", "lower"),
    ("walkindex.build_s", "s", "lower"),
    ("walkindex.query_s", "s", "lower"),
    # Spark runtime over the timed region, per operation
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.busy_s", "s", "lower"),
    ("spark.idle_core_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.storage_end_mb", "MB", "lower"),
    # the trace itself
    ("trace.spans", "count", "lower"),
    ("trace.loop_self_s", "s", "lower"),
]


def valid_metric_name(name):
    return bool(NAME_RE.fullmatch(name))


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n, ladder=(90.0, 99.0, 99.9)):
    """The highest percentile of `ladder` with at least ten of `n` samples
    beyond it, or None when only the median can be reported."""
    best = None
    for p in ladder:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return best


def failure_share(failed, attempted):
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> seconds of its interval not covered by its child spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])],
            s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def descendants(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def spark_over(spans, ids):
    """Summed Spark figures of the spans in `ids`, and their stage
    intervals (epoch ms)."""
    tot = {"jobs": 0, "tasks": 0, "busy_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0,
           "shuffle_read_mb": 0.0, "spill_mb": 0.0}
    intervals = []
    for s in spans:
        sp = s.get("spark")
        if s["id"] in ids and sp:
            for k in tot:
                tot[k] += sp[k]
            intervals += [tuple(iv) for iv in sp["stage_intervals_ms"]]
    return tot, intervals


def timed_ops(rec):
    return [o for o in rec.get("ops", []) if o.get("wall_s") is not None]


def _col(ops, key):
    return [o[key] for o in ops if o.get(key) is not None]


def warm(builds):
    """The set-up repetitions after the first: the first runs in a cold JVM
    and takes three to four times as long, so timings leave it out."""
    return builds[1:] or builds


def end_to_end(rec):
    setups = rec["setup"]
    ops = timed_ops(rec)
    return {
        "setup_s": median([s["total_s"] for s in warm(setups)]),
        # the first build is the only one that starts from an empty block
        # manager; later builds' differences also see earlier builds'
        # temporary blocks being dropped
        "mem_mb": setups[0]["phases"]["mem_mb"],
        "op_p50_s": median(_col(ops, "wall_s")),
    }


def per_layer(rec):
    setups = rec["setup"]
    ops = timed_ops(rec)
    n_ops = max(len(ops), 1)

    def ph(key):
        return median([s["phases"].get(key, 0.0) for s in warm(setups)])

    def med(key):
        return median(_col(ops, key))

    m = {
        "graph.links_s": ph("links"), "graph.audit_s": ph("audit"),
        "graph.csr_s": ph("csr"), "graph.edges_s": ph("edges"),
        "graph.dict_s": ph("dict"), "graph.tables_s": ph("tables"),
        "graph.flatcsr_s": ph("flatcsr"),
        "graph.vertices": ph("vertex_count"), "graph.edges": ph("edge_count"),
        "graph.artifacts_s": ph("artifacts"),
        "setup.cold_s": setups[0]["total_s"],
        "setup.warmup_s": rec.get("warmup_s", 0.0),
    }

    is_query = rec["workload"] == "ppr_query"
    epochs = [e for o in ops for e in o.get("epoch_s", [])]
    wall = sum(_col(ops, "wall_s"))
    work = sum(_col(ops, "pushes")) + sum(_col(ops, "walk_steps"))
    m.update({
        "push.s": med("push_s") if is_query else 0.0,
        "push.supersteps": med("supersteps") if is_query else 0.0,
        "push.pushes": med("pushes") if is_query else 0.0,
        "push.epoch_p50_s": median(epochs) if is_query else 0.0,
        "push.tail_s": med("tail_s") if is_query else 0.0,
        "walk.s": med("walk_s"), "walk.walks": med("walks"),
        "walk.steps": med("walk_steps"),
        "fora.merge_s": median([o["wall_s"] - o["push_s"] - o["walk_s"]
                                for o in ops if "walk_s" in o]),
        "fora.rsum": med("rsum") if is_query else 0.0,
        "fora.omega": med("omega"),
        "fora.ops_per_sec": work / wall if is_query and wall > 0 else 0.0,
        "fora.qps": sum(_col(ops, "sources")) / wall if wall > 0 else 0.0,
    })

    superstep_s = [o["push_s"] / o["supersteps"] for o in ops
                   if "ckpt_pagerank_s" in o and o.get("supersteps")]
    m.update({
        "analytics.s": med("analytics_s"), "pagerank.s": med("pagerank_s"),
        "cc.s": med("cc_s"), "cc.rounds": med("cc_rounds"),
        "lpa.s": med("lpa_s"), "triangles.s": med("triangles_s"),
        "cc.components": med("components"), "lpa.labels": med("labels"),
        "triangles.count": med("triangles"),
        "durable.s": med("durable_s"),
        "ckpt.push_s": 0.0 if is_query else med("push_s"),
        "ckpt.supersteps": 0.0 if is_query else med("supersteps"),
        "ckpt.superstep_s": median(superstep_s),
        "ckpt.commits": med("commits"),
        "ckpt.mb": med("bytes") / 1e6,
        "ckpt.resume_s": med("resume_s"),
        "ckpt.resume_supersteps": med("resume_supersteps"),
        "ckpt.pagerank_s": med("ckpt_pagerank_s"),
        "index.s": med("index_s"),
        "hubppr.build_s": med("hubppr_build_s"),
        "hubppr.query_s": med("hubppr_query_s"),
        "hubppr.pushes": med("hubppr_pushes"),
        "backward.s": med("backward_s"),
        "backward.pushes": med("backward_pushes"),
        "walkindex.build_s": med("walkindex_build_s"),
        "walkindex.query_s": med("indexed_query_s"),
    })

    spans = rec.get("spans", [])
    timed = [s for s in spans if s["name"] == "timed"]
    cores = rec["cores"]
    if timed:
        t = timed[0]
        tot, iv = spark_over(spans, descendants(spans, t["id"]))
        t_wall = (t["end_ms"] - t["start_ms"]) / 1e3
        busy_wall = union_length(iv, t["start_ms"], t["end_ms"]) / 1e3
        loop_self = self_times(spans)[t["id"]]
    else:
        tot, t_wall, busy_wall, loop_self = spark_over([], set())[0], 0.0, 0.0, 0.0
    setup_spans = warm([s for s in spans if s["name"] == "setup"])
    setup_jobs, setup_gap = [], []
    for s in setup_spans:
        st, siv = spark_over(spans, descendants(spans, s["id"]))
        setup_jobs.append(st["jobs"])
        setup_gap.append((s["end_ms"] - s["start_ms"]
                          - union_length(siv, s["start_ms"], s["end_ms"])) / 1e3)
    m.update({
        "setup.jobs": median(setup_jobs),
        "setup.driver_gap_s": median(setup_gap),
        "spark.jobs": tot["jobs"] / n_ops,
        "spark.tasks": tot["tasks"] / n_ops,
        "spark.busy_s": tot["busy_s"] / n_ops,
        "spark.idle_core_s": (t_wall * cores - tot["busy_s"]) / n_ops,
        "spark.driver_gap_s": (t_wall - busy_wall) / n_ops,
        "spark.gc_s": tot["gc_s"] / n_ops,
        "spark.shuffle_write_mb": tot["shuffle_write_mb"] / n_ops,
        "spark.shuffle_read_mb": tot["shuffle_read_mb"] / n_ops,
        "spark.spill_mb": tot["spill_mb"] / n_ops,
        "spark.storage_end_mb": rec.get("storage_end_mb", 0.0),
        "trace.spans": float(len(spans)),
        "trace.loop_self_s": loop_self / n_ops,
    })
    return m


def selftime_table(spans):
    """Rows (span name, count, total s, self s, self share of the run),
    largest self time first."""
    selfs = self_times(spans)
    run = sum(selfs.values()) or 1.0
    agg = {}
    for s in spans:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += (s["end_ms"] - s["start_ms"]) / 1e3
        a[2] += selfs[s["id"]]
    rows = [(name, c, tot, slf, slf / run) for name, (c, tot, slf) in agg.items()]
    return sorted(rows, key=lambda r: -r[3])


def format_table(rows):
    lines = ["%-22s %5s %10s %10s %7s" % ("span", "n", "total_s", "self_s", "self%")]
    for name, c, tot, slf, share in rows:
        lines.append("%-22s %5d %10.3f %10.3f %6.1f%%" % (name, c, tot, slf, 100 * share))
    return lines
