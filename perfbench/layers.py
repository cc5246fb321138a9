"""Metrics from a run record: the end-to-end figures of an untraced run and
the per-layer figures of a traced one."""
import statistics

# Latency is reported as the median only: a run holds too few samples
# for a higher percentile with ten samples beyond it.
END_TO_END = {  # name -> unit
    "setup_s": "s", "items_per_s": "1/s", "latency_p50_ms": "ms", "heap_live_mb": "MB"}

PER_LAYER = {
    "ohlc.parse_ms": "ms", "ohlc.candles_ms": "ms", "ohlc.rows_dropped_parse": "count",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.commit_ms": "ms", "state.rows_removed": "count",
    "state.rows_dropped_by_watermark": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs": "count", "sched.tasks": "count", "sched.driver_gap_ms": "ms",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.gc_ms": "ms",
    "task.shuffle_read_bytes": "bytes", "task.shuffle_write_bytes": "bytes",
    "task.spill_bytes": "bytes", "task.input_bytes": "bytes",
    "source.read_fraction": "ratio", "source.bytes_written": "bytes",
    "source.optimize_ms": "ms", "source.optimize_bytes_rewritten": "bytes",
    "source.commit_p50_ms": "ms",
    "source.storage_bytes_per_user_byte": "ratio",
    "build.ms": "ms", "llm.build_share": "ratio", "llm.jobs": "count",
    "llm.exact_ms": "ms", "llm.near_ms": "ms", "llm.cc_ms": "ms",
    "llm.bpe_ms": "ms", "llm.ivfpq_ms": "ms", "llm.near_pairs": "count",
    "llm.near_dup_recall": "ratio", "llm.ann_recall": "ratio",
    "layer.jobs_share": "ratio", "layer.catalyst_share": "ratio",
    "layer.exec_share": "ratio", "layer.other_share": "ratio", "trace.overhead_pct": "%"}


def pct(values, q):
    """The q-th percentile, linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latencies(ops):
    out = []
    for o in ops:
        out.extend(o["latencies"] or [o["end"] - o["start"]])
    return out


def end_to_end(record):
    ops = [o for o in record["ops"] if o["kind"] != "failed"]
    lat = latencies(ops)
    return {
        "setup_s": record["setup_s"],
        "items_per_s": sum(o["items"] for o in ops) / record["elapsed_s"],
        "latency_p50_ms": pct(lat, 50),
        "heap_live_mb": record["heap_live_mb"]}


def _union(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _measure(intervals):
    return sum(e - s for s, e in intervals)


def _minus(a, b):
    """Interval set a without interval set b (both unions)."""
    out = []
    for s, e in a:
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append([cur, bs])
            cur = max(cur, be)
        if cur < e:
            out.append([cur, e])
    return out


def _clip(intervals, lo, hi):
    return [[max(s, lo), min(e, hi)] for s, e in intervals if e > lo and s < hi]


def self_times(record, ops):
    """Per traced operation, its wall time split into layers that do not
    overlap: jobs (the union of its job intervals), Catalyst (planning
    phases outside jobs), the driver's own time in the operation's spans
    (`exec`: commits, reads, commit waits), and the rest. Returns totals
    in ms."""
    jobs = [[j["start"], j["end"]] for j in record["jobs"] if j["end"] is not None]
    phases = [[p["start"], p["end"]] for p in record["phases"]]
    spans = record["spans"]
    tot = {"wall": 0.0, "jobs": 0.0, "catalyst": 0.0, "exec": 0.0, "other": 0.0}
    for o in ops:
        lo, hi = o["start"], o["end"]
        j = _union(_clip(jobs, lo, hi))
        c = _minus(_union(_clip(phases, lo, hi)), j)
        sp = _union([[s["start"], s["end"]] for s in spans
                     if s["op"] == o["i"] and s["name"] != "op"])
        ex = _measure(_minus(sp, _union(j + c)))
        wall = hi - lo
        tot["wall"] += wall
        tot["jobs"] += _measure(j)
        tot["catalyst"] += _measure(c)
        tot["exec"] += ex
        tot["other"] += max(0.0, wall - _measure(j) - _measure(c) - ex)
    return tot


def per_layer(record, checks):
    ops = [o for o in record["ops"] if o["kind"] != "failed"]
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    fig = record["figures"]
    m = {k: 0.0 for k in PER_LAYER}

    # Catalyst, scheduling and tasks, over the traced operations
    windows = [(o["start"], o["end"]) for o in traced]
    inside = lambda t: any(lo <= t <= hi for lo, hi in windows)
    for p in record["phases"]:
        key = f"catalyst.{p['name']}_ms"
        if key in m and inside(p["start"]):
            m[key] += (p["end"] - p["start"]) / n
    jobs = [j for j in record["jobs"] if inside(j["start"])]
    m["sched.jobs"] = len(jobs) / n
    m["sched.tasks"] = sum(j["tasks"] for j in jobs) / n
    st = self_times(record, traced)
    m["sched.driver_gap_ms"] = (st["wall"] - st["jobs"]) / n
    tasks = [t for t in record["tasks"] if inside(t["end"])]
    for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "input_bytes"):
        m[f"task.{k}"] = sum(t[k] for t in tasks) / n
    if st["wall"] > 0:
        for k in ("jobs", "catalyst", "exec", "other"):
            m[f"layer.{k}_share"] = st[k] / st["wall"]

    # streaming, from the query's progress reports
    prog = fig.get("progress", [])
    data = [p for p in prog if p["rows"] > 0]
    if data:
        dn = len(data)
        for key, dur in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                         ("latest_offset_ms", "latestOffset"), ("wal_commit_ms", "walCommit"),
                         ("commit_offsets_ms", "commitOffsets")):
            m[f"stream.{key}"] = sum(p["duration_ms"].get(dur, 0.0) for p in data) / dn
        m["state.rows_total"] = sum(p["state_rows_total"] for p in data) / dn
        m["state.memory_bytes"] = sum(p["state_memory_bytes"] for p in data) / dn
        m["state.commit_ms"] = sum(p["state_commit_ms"] for p in prog) / dn
        m["state.rows_removed"] = sum(p["state_rows_removed"] for p in prog) / dn
        m["state.rows_dropped_by_watermark"] = sum(
            p["state_rows_dropped_by_watermark"] for p in prog)
    for k in ("parse_ms", "candles_ms", "rows_dropped_parse"):
        if k in fig:
            m[f"ohlc.{k}"] = fig[k]

    # the standalone LLM pass: constructors and graft.llm calls
    llm = fig.get("llm")
    if llm:
        m["build.ms"] = llm["build_ms"]
        m["llm.build_share"] = llm["build_ms"] / llm["pass_ms"]
        m["llm.jobs"] = llm["jobs"]
        for kind in ("exact", "near", "cc", "bpe", "ivfpq"):
            m[f"llm.{kind}_ms"] = llm[f"{kind}_ms"]
    for k in ("near_pairs", "near_dup_recall", "ann_recall"):
        if k in checks:
            m[f"llm.{k}"] = checks[k]

    # the tradelog source
    commits = [o for o in ops if o["kind"] == "commit"]
    if commits:
        m["source.commit_p50_ms"] = pct([o["extra"]["commit_ms"] for o in commits], 50)
        tc = [o for o in commits if o["traced"]]
        m["source.bytes_written"] = sum(o["extra"]["bytes_written"] for o in tc) / max(1, len(tc))
        opt = [o for o in commits if "optimize_ms" in o["extra"]]
        if opt:
            m["source.optimize_ms"] = statistics.median(o["extra"]["optimize_ms"] for o in opt)
            topt = [o for o in opt if o["traced"]]
            if topt:
                m["source.optimize_bytes_rewritten"] = statistics.median(
                    o["extra"]["optimize_bytes"] for o in topt)
        reads = [(s["start"], s["end"], s["op"]) for s in record["spans"]
                 if s["name"] in ("slice_read", "point_read")]
        log_bytes = {o["i"]: o["extra"]["log_bytes"] for o in tc}
        read_in = sum(t["input_bytes"] for t in record["tasks"]
                      if any(lo <= t["end"] <= hi for lo, hi, _ in reads))
        read_log = sum(log_bytes.get(op, 0.0) for _, _, op in reads)
        if read_log:
            m["source.read_fraction"] = read_in / read_log
        if checks.get("user_bytes"):
            m["source.storage_bytes_per_user_byte"] = fig["log_bytes"] / checks["user_bytes"]

    m["trace.overhead_pct"] = overhead_pct(ops)
    return m, st


def overhead_pct(ops):
    """Traced against untraced operations of the same run, matched by kind:
    the median over kinds of the ratio of mean wall times, as a percent."""
    ratios = []
    for kind in {o["kind"] for o in ops}:
        t = [o["end"] - o["start"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["end"] - o["start"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            ratios.append(statistics.mean(t) / statistics.mean(u))
    return (statistics.median(ratios) - 1) * 100 if ratios else 0.0
