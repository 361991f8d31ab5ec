"""Metrics from a harness run record: the end-to-end numbers, the span
tree of a traced run and the per-layer numbers derived from it.

Times in the record are epoch milliseconds. A span is a dict with `id`,
`parent`, `name`, `start`, `end` (ms) and optional counts; a layer's self
time is its span's duration minus the part of that interval its child
spans cover.
"""
import statistics

# micro-batch phases in the order MicroBatchExecution runs them; progress
# reports only their durations, so their spans are laid end to end from
# the trigger start (an approximation of where each one sits)
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")

# spans whose self time is reported as self.<name>_s: the time of a query
# construction, a sink call, a job and a micro-batch that no child span
# (job, stage, micro-batch phase) covers, i.e. spent outside Spark tasks
SELF_LAYERS = ("build", "exec", "job", "batch")


def tail(samples):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, n). With ten samples or fewer no percentile has
    ten beyond it, and the maximum is returned as the 100th."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 10  # 1-based rank: exactly ten samples lie above it
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """{span id: self time}: duration minus the union of its children's
    intervals, each clipped to the parent's."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _op_windows(op):
    """(start, lookup_end, build_end, end) of an op; a failed op's missing
    marks collapse onto its last one."""
    m = op["marks"] + [op["marks"][-1]] * (4 - len(op["marks"]))
    return m[0], m[1], m[2], m[3]


def _in(t, a, b):
    return a <= t <= b


def build_spans(record, passes):
    """The span tree of the given timed passes: pass -> op -> {lookup,
    build, plan, exec} -> job -> stage, and build -> batch -> phases for
    replays. Events are tied to ops by the job properties the harness set
    and, for planning and micro-batches, by time."""
    ev = record["events"]
    jobs = {e["job"]: e for e in ev if e["ev"] == "job_start"}
    job_end = {e["job"]: e["t"] for e in ev if e["ev"] == "job_end"}
    stages = [e for e in ev if e["ev"] == "stage"]
    qes = [e for e in ev if e["ev"] == "qe" and e["phases"]]
    progress = [e for e in ev if e["ev"] == "progress"]
    spans = []

    def add(name, start, end, parent, **kw):
        sid = len(spans)
        spans.append(dict(id=sid, parent=parent, name=name, start=start,
                          end=max(start, end), **kw))
        return sid

    phase_span = {}  # (op key, phase) -> span id
    batch_spans = []  # (span id, start, end, op key)
    for p in passes:
        pid = add("pass", p["start"], p["end"], None, pass_no=p["pass"])
        for op in (o for o in record["ops"] if o["pass"] == str(p["pass"])):
            t0, t1, t2, t3 = _op_windows(op)
            oid = add("op", t0, t3, pid, query=op["name"], error=op["error"])
            phase_span[(op["key"], "lookup")] = add("lookup", t0, t1, oid)
            bid = add("build", t1, t2, oid)
            phase_span[(op["key"], "build")] = bid
            # plan: from the sink call to the end of its planning phase
            plan_end = t2
            for q in qes:
                starts = [v[0] for v in q["phases"].values()]
                if _in(min(starts), t2, t3):
                    plan_end = min(t3, max(v[1] for v in q["phases"].values()))
                    break
            add("plan", t2, plan_end, oid)
            phase_span[(op["key"], "exec")] = add("exec", plan_end, t3, oid)
            for b in progress:
                if not _in(b["t"], t1, t2):
                    continue
                dur = b["dur"].get("triggerExecution", 0)
                sid = add("batch", b["t"], b["t"] + dur, bid, rows=b["rows"],
                          run=b["run"], state=b["state"], dur=b["dur"])
                batch_spans.append((sid, b["t"], b["t"] + dur, op["key"]))
                at = b["t"]
                for ph in BATCH_PHASES:
                    d = b["dur"].get(ph, 0)
                    add("batch." + ph, at, at + d, sid)
                    at += d

    # jobs: parent is the op phase they were started in (for a replay, the
    # micro-batch running at job start)
    job_span = {}
    for jid, j in sorted(jobs.items()):
        key = (j["op"], j["phase"])
        if key not in phase_span:
            continue
        parent = phase_span[key]
        for sid, a, b, okey in batch_spans:
            if okey == j["op"] and _in(j["t"], a, b):
                parent = sid
                break
        job_span[jid] = add("job", j["t"], job_end.get(jid, j["t"]), parent,
                            job=jid, phase=j["phase"], listed=list(j["stages"]))
    owner = {}
    for jid in sorted(job_span):
        for st in jobs[jid]["stages"]:
            owner[st] = jid  # a later job reusing the id wins
    for s in stages:
        jid = owner.get(s["stage"])
        if jid in job_span and s["submit"] is not None:
            add("stage", s["submit"], s["end"] or s["submit"], job_span[jid],
                **{k: s[k] for k in ("stage", "tasks", "failed_tasks", "run_ms",
                                     "max_run_ms", "cpu_ns", "sched_ms",
                                     "shuffle_read", "shuffle_write", "spill",
                                     "in_bytes", "in_rows")})
    for q in qes:
        starts = [v[0] for v in q["phases"].values()]
        for s in spans:
            if s["name"] == "op" and _in(min(starts), s["start"], s["end"]):
                s["broadcast_bytes"] = s.get("broadcast_bytes", 0) + q["broadcast_bytes"]
                break
    return spans


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def batch_samples(record, passes):
    """Micro-batch latencies (s) and per-replay (rows, streaming seconds)
    for the given passes."""
    lat, runs = [], []
    for p in passes:
        for op in (o for o in record["ops"] if o["pass"] == str(p["pass"])):
            _, t1, t2, _ = _op_windows(op)
            bs = [b for b in record["events"]
                  if b["ev"] == "progress" and _in(b["t"], t1, t2)]
            if not bs:
                continue
            ends = [b["t"] + b["dur"].get("triggerExecution", 0) for b in bs]
            lat += [b["dur"].get("triggerExecution", 0) / 1000 for b in bs]
            runs.append((sum(b["rows"] for b in bs),
                         (max(ends) - min(b["t"] for b in bs)) / 1000))
    return lat, runs


def end_to_end(record, stream, input_rows):
    """The end-to-end metrics from the untraced timed passes. `wall_s` is
    the fastest pass: CPU taken by other guests or a late JIT compile only
    ever lengthens a pass."""
    passes = [p for p in record["passes"] if not p["traced"]]
    walls = [(p["end"] - p["start"]) / 1000 for p in passes]
    wall = min(walls)
    if stream:
        samples, runs = batch_samples(record, passes)
        rows = sum(r for r, _ in runs)
        secs = sum(s for _, s in runs)
        events_per_s = rows / secs if secs > 0 else 0.0
    else:
        keys = {str(p["pass"]) for p in passes}
        samples = [(o["marks"][-1] - o["marks"][0]) / 1000
                   for o in record["ops"] if o["pass"] in keys]
        events_per_s = input_rows / wall if wall > 0 else 0.0
    tail_v, tail_p, n = tail(samples) if samples else (0.0, 0.0, 0)
    return {
        "setup_s": (record["setup"]["end"] - record["setup"]["start"]) / 1000,
        "wall_s": wall,
        "op_p50_s": _median(samples),
        "op_tail_s": tail_v,
        "events_per_s": events_per_s,
        "peak_rss_mb": record["jvm"]["rss_peak_kb"] / 1024,
    }, {"op_tail_percentile": tail_p, "op_samples": n, "pass_walls_s": walls}


def tracing_overhead(passes):
    """Median over traced passes of the pass time minus the mean of the
    untraced passes just before and after it, which cancels a linear
    warm-up drift across the passes of a run."""
    dur = [(p["end"] - p["start"]) / 1000 for p in passes]
    return _median([dur[i] - (dur[i - 1] + dur[i + 1]) / 2
                    for i in range(1, len(passes) - 1) if passes[i]["traced"]])


def per_layer(record, stream):
    """The per-layer metrics from the traced passes (per pass unless the
    name says otherwise), plus the spans they were computed from."""
    traced = [p for p in record["passes"] if p["traced"]]
    n = max(1, len(traced))
    spans = build_spans(record, traced)
    selfs = self_times(spans)

    def total(name, key=None):
        return sum((s["end"] - s["start"]) if key is None else s.get(key, 0)
                   for s in spans if s["name"] == name)

    stage = [s for s in spans if s["name"] == "stage"]
    jobs = [s for s in spans if s["name"] == "job"]
    batches = [s for s in spans if s["name"] == "batch"]
    nb = max(1, len(batches))
    listed = sum(len(j["listed"]) for j in jobs)
    run_ms = sum(s["run_ms"] for s in stage)
    state = [sum(o["rows_total"] for o in b["state"]) for b in batches]

    def bsum(*phases):
        return sum(b["dur"].get(ph, 0) for b in batches for ph in phases)

    def ssum(*keys):
        return sum(o[k] for b in batches for o in b["state"] for k in keys)

    wall = sum(p["end"] - p["start"] for p in traced)
    harness = 0.0  # replay builds minus their streaming run
    for s in spans:
        bs = [b for b in batches if b["parent"] == s["id"]]
        if s["name"] == "build" and bs:
            run = max(b["end"] for b in bs) - min(b["start"] for b in bs)
            harness += (s["end"] - s["start"]) - run
    if stream:
        covered = (total("lookup") + harness + total("batch") + total("plan")
                   + total("exec"))
    else:
        covered = total("lookup") + total("build") + total("plan") + total("exec")
    jvm = record["jvm"]
    m = {
        "entry.session_s": (record["setup"]["session"] - record["setup"]["start"]) / 1000,
        "entry.lookup_s": total("lookup") / 1000 / n,
        "entry.build_s": total("build") / 1000 / n,
        "entry.build_jobs": sum(1 for j in jobs if j["phase"] == "build") / n,
        "plan.s": total("plan") / 1000 / n,
        "exec.s": total("exec") / 1000 / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stage) / n,
        "exec.stages_skipped": max(0, listed - len(stage)) / n,
        "exec.tasks": sum(s["tasks"] for s in stage) / n,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stage) / 1e9 / n,
        "exec.sched_delay_s": sum(s["sched_ms"] for s in stage) / 1000 / n,
        "exec.max_task_share": (sum(s["max_run_ms"] for s in stage) / run_ms
                                if run_ms else 0.0),
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stage) / n,
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stage) / n,
        "exec.spill_bytes": sum(s["spill"] for s in stage) / n,
        "exec.broadcast_bytes": total("op", "broadcast_bytes") / n,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stage) / n,
        "io.scan_bytes": sum(s["in_bytes"] for s in stage) / n,
        "io.scan_rows": sum(s["in_rows"] for s in stage) / n,
        "io.get_batch_ms": bsum("latestOffset", "getBatch") / nb,
        "stream.batches": len(batches) / n,
        "stream.add_batch_ms": bsum("addBatch") / nb,
        "stream.planning_ms": bsum("queryPlanning") / nb,
        "stream.wal_commit_ms": bsum("walCommit", "commitOffsets") / nb,
        "stream.state_commit_ms": ssum("commit_ms") / nb,
        "stream.state_update_ms": ssum("update_ms", "remove_ms") / nb,
        "stream.state_rows": max(state, default=0),
        "stream.state_rows_removed": ssum("rows_removed") / n,
        "stream.state_mem_bytes": max((sum(o["mem_bytes"] for o in b["state"])
                                       for b in batches), default=0),
        "stream.late_rows_dropped": ssum("dropped") / n,
        "stream.harness_s": harness / 1000 / n,
        "jvm.gc_s": sum(p["gc_ms"] for p in traced) / 1000 / n,
        "jvm.jit_s": jvm["jit_ms"] / 1000,
        "jvm.heap_peak_mb": jvm["heap_peak_bytes"] / 2**20,
        "trace.overhead_s": tracing_overhead(record["passes"]),
        "trace.coverage": covered / wall if wall else 0.0,
    }
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s["id"]] for s in spans
                                   if s["name"] == layer) / 1000 / n
    return m, spans
