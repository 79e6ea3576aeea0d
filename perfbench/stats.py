"""The benchmark's arithmetic: percentiles, span self time, attribution
of Spark listener events to spans, and the metric roll-ups.

Kept free of Spark and of the runner so that tests can pin each rule
(test_stats.py).
"""
import collections
import statistics

MIN_BEYOND = 10


def tail_index(n):
    """Index, in ascending order, of the tail sample of `n` samples.

    The tail is the highest percentile with at least MIN_BEYOND samples
    beyond it: index n - 1 - MIN_BEYOND. It is never put below the
    median, so with fewer than 2 * MIN_BEYOND + 1 samples the tail is
    the median sample (the run is too short to resolve a tail).
    """
    if n <= 0:
        raise ValueError("no samples")
    return max(n - 1 - MIN_BEYOND, n // 2)


def p50_and_tail(values):
    xs = sorted(values)
    return statistics.median(xs), xs[tail_index(len(xs))]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped
    to [lo, hi] when given; overlapping intervals count once."""
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
    """Span id -> duration minus the part of it its child spans cover."""
    kids = collections.defaultdict(list)
    for s in spans.values():
        if s["parent"] in spans:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {i: (s["end"] - s["start"]) - union_length(kids[i], s["start"], s["end"])
            for i, s in spans.items()}


def root_of(spans, sid):
    """Top-level span (the op) that span `sid` belongs to, or None."""
    seen = 0
    while sid in spans and spans[sid]["parent"] in spans and seen < 1000:
        sid = spans[sid]["parent"]
        seen += 1
    return sid if sid in spans else None


def innermost_at(spans, t):
    """Innermost span open at time t (the deepest one containing t)."""
    best, depth = None, -1
    for i, s in spans.items():
        if s["start"] <= t <= s["end"]:
            d, p = 0, s["parent"]
            while p in spans:
                d, p = d + 1, spans[p]["parent"]
            if d > depth:
                best, depth = i, d
    return best


def attribute(trace):
    """Sort a trace into spans, jobs, stages and tasks, each event
    tagged with the span that caused it. Jobs and stages carry the span
    in their properties; a task inherits its stage's span. Events that
    carry no span (jobs a streaming query runs on its own thread, query
    execution planning phases) are placed by time in the innermost span
    open when they started: the benchmark drives one op at a time, so
    that span caused them. Events outside every span (set-up, warm-up)
    are dropped."""
    spans, jobs, stages, tasks, qes, files = {}, {}, {}, [], [], []
    meta = {}
    for e in trace:
        ev = e["ev"]
        if ev == "span":
            s = e["span_rec"]
            spans[s["id"]] = s
        elif ev == "job_start":
            jobs[e["job"]] = {"span": e["span"], "start": e["time"], "end": None, "ok": None}
        elif ev == "job_end":
            if e["job"] in jobs:
                jobs[e["job"]].update(end=e["time"], ok=e["ok"])
        elif ev == "stage":
            stages[(e["stage"], e["attempt"])] = e
        elif ev == "task":
            tasks.append(e)
        elif ev == "qe":
            qes.append(e)
        elif ev == "files":
            files.append(e)
        elif ev == "codegen":
            meta = e
    for j in jobs.values():
        if j["span"] not in spans:
            j["span"] = innermost_at(spans, j["start"])
    jobs = {j: v for j, v in jobs.items() if v["span"] in spans}
    for st in stages.values():
        if st["span"] not in spans:
            st["span"] = innermost_at(spans, st["submit"])
    stages = {k: v for k, v in stages.items() if v["span"] in spans}
    stage_span = {sid: st["span"] for (sid, _), st in stages.items()}
    submit = {sid: st["submit"] for (sid, _), st in stages.items()}
    tasks = [dict(t, span=stage_span[t["stage"]], wait=t["launch"] - submit.get(t["stage"], t["launch"]))
             for t in tasks if t["stage"] in stage_span]
    placed = []
    for q in qes:
        for name in ("analysis", "optimization", "planning"):
            p = q["phases"].get(name)
            if p:
                sid = innermost_at(spans, p["start"])
                if sid is not None:
                    placed.append({"span": sid, "phase": name, "ms": p["end"] - p["start"]})
    for f in files:
        sid = innermost_at(spans, f["time"])
        if sid is not None:
            placed.append({"span": sid, "phase": "files", "ms": 0, "files": f["files"]})
    return spans, jobs, stages, tasks, placed, meta


def ratio(num, den):
    """num / den, 0 when the base is 0 (a layer that did no work)."""
    return num / den if den else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


# serving reads of stream_ingest
STEPS = ("sq8_topk_indexed", "pair_read", "code_count")


def layer_metrics(result, trace, attempted, failed):
    """Per-layer metrics of a traced run. Times are per occurrence
    (`*_ms`, `*_s`: mean per span of that name; layer totals per op);
    counts and bytes are totals over the timed region."""
    spans, jobs, stages, tasks, placed, meta = attribute(trace)
    selfs = self_times(spans)
    ops = [i for i, s in spans.items() if s["parent"] not in spans]
    n_ops = len(ops)
    by_name = collections.defaultdict(list)
    for i, s in spans.items():
        by_name[s["name"]].append(s["end"] - s["start"])
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    put("api.construct_ms", mean(by_name["api.construct"]), "ms")
    put("api.collect_ms", mean(by_name["api.collect"]), "ms")
    for step in STEPS:
        put(f"operators.{step}_s", mean(by_name[f"operators.{step}"]) / 1000.0, "s")
    put("ops.star_join_s", mean(by_name["ops.star_join"]) / 1000.0, "s")

    triggers = result.get("triggers", [])
    prog = [p for t in triggers for p in t["progress"]]
    put("streaming.sink_ms", mean(by_name["streaming.sink"]), "ms")
    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("walCommit", "wal_commit_ms")):
        put(f"streaming.{name}", mean([p["durations"].get(key, 0) for p in prog]), "ms")
    put("streaming.compact_ms", mean(by_name["streaming.compact"]), "ms")
    sink_spans = {i for i, s in spans.items() if s["name"] == "streaming.sink"}
    sink_jobs = sum(1 for j in jobs.values() if root_of(spans, j["span"]) in sink_spans
                    or j["span"] in sink_spans)
    put("streaming.jobs_per_trigger", ratio(sink_jobs, len(sink_spans)), "count")
    if triggers:
        p50, tail = p50_and_tail([t["ms"] for t in triggers])
    else:
        p50 = tail = 0.0
    put("streaming.trigger_p50_ms", p50, "ms")
    put("streaming.trigger_tail_ms", tail, "ms")

    in_bytes = sum(t.get("in_bytes", 0) for t in tasks)
    out_bytes = sum(t.get("out_bytes", 0) for t in tasks)
    put("sources.input_bytes", in_bytes, "bytes")
    put("sources.bytes_written", out_bytes, "bytes")
    put("sources.files_written", sum(p.get("files", 0) for p in placed), "count")
    put("sources.write_amplification", ratio(out_bytes, result.get("input_bytes", 0)), "ratio")

    put("plan.ms", ratio(sum(p["ms"] for p in placed), n_ops), "ms")
    compiles = sum(spans[i]["compiles"] for i in ops)
    put("codegen.compiles", compiles, "count")
    put("codegen.compile_ms", ratio(compiles * meta.get("compile_mean_ms", 0.0), n_ops), "ms")
    put("codegen.compiles_per_op", ratio(compiles, n_ops), "count")

    put("schedule.jobs", len(jobs), "count")
    put("schedule.stages", len(stages), "count")
    put("schedule.tasks", len(tasks), "count")
    put("schedule.jobs_per_op", ratio(len(jobs), n_ops), "count")
    put("schedule.tasks_per_stage", ratio(len(tasks), len(stages)), "count")
    put("schedule.task_wait_ms", mean([t["wait"] for t in tasks]), "ms")
    put("schedule.failed_tasks", sum(1 for t in tasks if not t["ok"]), "count")

    put("execute.task_run_ms", ratio(sum(t.get("run_ms", 0) for t in tasks), n_ops), "ms")
    put("execute.task_cpu_ms", ratio(sum(t.get("cpu_ns", 0) for t in tasks) / 1e6, n_ops), "ms")
    put("execute.deserialize_ms", ratio(sum(t.get("deser_ms", 0) for t in tasks), n_ops), "ms")
    put("execute.gc_ms", ratio(sum(t.get("gc_ms", 0) for t in tasks), n_ops), "ms")
    put("execute.shuffle_read_bytes", sum(t.get("shuffle_read", 0) for t in tasks), "bytes")
    put("execute.shuffle_write_bytes", sum(t.get("shuffle_write", 0) for t in tasks), "bytes")
    put("execute.spill_bytes", sum(t.get("spill", 0) for t in tasks), "bytes")

    jobs_by_root = collections.defaultdict(list)
    for j in jobs.values():
        if j["end"] is not None:
            jobs_by_root[root_of(spans, j["span"])].append((j["start"], j["end"]))
    covered = {i: union_length(jobs_by_root[i], spans[i]["start"], spans[i]["end"]) for i in ops}
    walls = {i: spans[i]["end"] - spans[i]["start"] for i in ops}
    put("driver.self_ms", mean([walls[i] - covered[i] for i in ops]), "ms")
    put("driver.job_time_share", ratio(sum(covered.values()), sum(walls.values())), "ratio")
    put("failed_op_share", ratio(failed, attempted), "ratio")
    put("trace.op_p50_ms", typical_latency(result["ops"]) if result["ops"] else 0.0, "ms")

    report = [f"trace: {n_ops} top-level spans, {len(jobs)} jobs, {len(tasks)} tasks, "
              f"job time share {m['driver.job_time_share']['value']:.3f}, "
              f"task run / (wall x cores) "
              f"{ratio(sum(t.get('run_ms', 0) for t in tasks), sum(walls.values()) * result['cores']):.3f}"]
    kinds = collections.defaultdict(list)
    for i in ops:
        kinds[(spans[i]["name"], spans[i]["kind"])].append(i)
    for (name, kind), ids in sorted(kinds.items()):
        idset = set(ids)
        nj = sum(1 for j in jobs.values() if root_of(spans, j["span"]) in idset)
        report.append(
            f"kind {name}/{kind}: n={len(ids)} wall_ms={mean([walls[i] for i in ids]):.1f} "
            f"self_ms={mean([walls[i] - covered[i] for i in ids]):.1f} "
            f"jobs/op={nj / len(ids):.1f} "
            f"compiles/op={sum(spans[i]['compiles'] for i in ids) / len(ids):.1f} "
            f"plan_ms/op={sum(p['ms'] for p in placed if root_of(spans, p['span']) in idset) / len(ids):.1f}")
    layer_self = collections.defaultdict(float)
    for i, s in spans.items():
        layer_self[s["name"]] += selfs[i]
    report.append("span self ms: " + ", ".join(
        f"{k}={v:.0f}" for k, v in sorted(layer_self.items(), key=lambda kv: -kv[1])))
    return m, report


def kind_report(ops):
    """One line per op kind: sample count, median and highest latency."""
    kinds = collections.defaultdict(list)
    for o in ops:
        kinds[o["kind"]].append(o["ms"])
    return [f"kind {k}: n={len(v)} p50_ms={statistics.median(v):.1f} max_ms={max(v):.1f}"
            for k, v in sorted(kinds.items())]


def per_kind(ops, agg):
    kinds = collections.defaultdict(list)
    for o in ops:
        kinds[o["kind"]].append(o["ms"])
    return {k: agg(v) for k, v in kinds.items()}


def typical_latency(ops):
    """Geometric mean over op kinds of each kind's median latency.

    A run holds 9 to 30 ops of kinds whose latencies differ several-fold,
    so the plain median of a run jumps between kinds as the mix of the
    last few ops changes. Taking each kind's median first makes the
    figure independent of how many ops of each kind fit in the run."""
    meds = list(per_kind(ops, statistics.median).values())
    return statistics.geometric_mean(meds)


def completed_rate(ops, timed_s):
    """Ops completed per second of the timed region's wall time."""
    return ratio(sum(1 for o in ops if o["ok"]), timed_s)


def ingest_rate(result):
    """Rows committed per second of trigger time: the rows of one batch
    over the sum, across sink kinds, of each kind's median trigger time
    (each batch runs one trigger of every kind). A median per kind keeps
    one trigger slowed by the host from moving the figure."""
    meds = per_kind(result["triggers"], statistics.median)
    return ratio(result["rows_in"] / result["batches"], sum(meds.values()) / 1000.0)


def end_to_end(workload, result, setup_s):
    """End-to-end metrics of an untraced run."""
    ops = result["ops"]
    rate = completed_rate(ops, result["timed_s"]) if workload == "kg_lookup" \
        else ingest_rate(result)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": typical_latency(ops), "unit": "ms"},
        "throughput_per_s": {"value": rate, "unit": "1/s"},
        "stored_bytes_per_input_byte": {
            "value": ratio(result["stored_bytes"], result["input_bytes"]), "unit": "ratio"},
        "heap_retained_mb": {"value": result["heap_retained_mb"], "unit": "MB"},
    }
