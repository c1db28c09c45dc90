"""Arithmetic of the graft benchmark: order statistics, freshness from a
scrape series, the open-loop schedule, span folding and the mapping from
a raw run record to reported metrics. Pure functions over plain lists
and dicts; tested by test_stats.py.
"""
import math
import statistics

NS = 1e9
#: a run whose writer fell further behind its schedule than this (p99 of
#: per-line lateness) is invalid, not a system result
GEN_LATE_BOUND_MS = 250.0
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartile_spread(xs):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)."""
    q1, _, q3 = statistics.quantiles(list(xs), n=4)
    return (q3 - q1) / median(xs)


def enough_beyond(n, p):
    """whether n samples leave at least MIN_BEYOND beyond percentile p"""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND


def percentile(xs, p):
    """linear-interpolated percentile p (0-100) of xs; raises if fewer
    than MIN_BEYOND samples lie beyond it (p50 needs 20 samples, p99
    needs 1000)"""
    s = sorted(xs)
    if not enough_beyond(len(s), p):
        raise ValueError("p%g needs %d samples beyond it; have %d samples"
                         % (p, MIN_BEYOND, len(s)))
    r = p / 100.0 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def due_ns(t_start, rate, j):
    """open-loop schedule: line j (0-based) is due at t_start + j/rate"""
    return t_start + j * NS / rate


def first_index_due_at(t_start, rate, t):
    """the first line index whose due time is at or after t"""
    return max(0, math.ceil((t - t_start) * rate / NS))


def freshness(scrapes, t_start, rate, base, j0, j1):
    """Seconds from each line's due time to the end of the first scrape
    whose line counter covers it, for schedule lines j0 <= j < j1.

    scrapes: (t0_ns, t1_ns, count) in time order; count < 0 marks a
    failed scrape. Line j is the (base + j + 1)-th line of the file.
    Returns (samples, never_visible)."""
    out = []
    j = j0
    for t0, t1, count, *_ in scrapes:
        if count < 0:
            continue
        top = min(count - base, j1)
        while j < top:
            out.append((t1 - due_ns(t_start, rate, j)) / NS)
            j += 1
        if j >= j1:
            break
    return out, j1 - j


def lateness(writes, t_start, rate, base, j0, j1):
    """Per-line writer lateness in ms for lines j0 <= j < j1: the time
    the chunk holding the line was written minus the line's due time.
    writes: (t_done_ns, upto, ...) with upto the file's line count after
    the write. Returns (samples, lines written)."""
    out = []
    j = j0
    for t_done, upto, *_ in writes:
        top = min(upto - base, j1)
        while j < top:
            out.append((t_done - due_ns(t_start, rate, j)) / 1e6)
            j += 1
    return out, j - j0


def count_at(scrapes, t):
    """the line counter of the last successful scrape ending by t"""
    c = 0
    for _, t1, count, *_ in scrapes:
        if t1 > t:
            break
        if count >= 0:
            c = count
    return c


def self_times(spans):
    """Fold spans into self time: each span's duration minus the part of
    it covered by its children (overlapping children counted once).
    spans: dicts with id, parent, start, end. Returns {id: self_ns}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: s["end"] - s["start"] - union_ns(
        kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def fold_by_name(spans):
    """{name: {"count", "total_ms", "self_ms"}} over all spans"""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                       "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += (s["end"] - s["start"]) / 1e6
        e["self_ms"] += selfs[s["id"]] / 1e6
    return out


def fold_by_shape(ops):
    """Fold per-op profiles by plan shape: ops whose shape key is equal
    (the sequence of job call sites with their stage counts) collapse
    into one entry with the op count and medians of their figures."""
    groups = {}
    for op in ops:
        key = " | ".join("%s x%d" % (j["site"], j["stages"])
                         for j in op["jobs"])
        groups.setdefault(key, []).append(op)
    out = []
    for key, g in sorted(groups.items(), key=lambda kv: -len(kv[1])):
        out.append({"shape": key, "ops": len(g),
                    "wall_ms_p50": median(o["wall_ms"] for o in g),
                    "driver_self_ms_p50": median(o["driver_self_ms"]
                                                 for o in g),
                    "jobs": len(g[0]["jobs"])})
    return out


def union_ns(intervals, lo, hi):
    """length of the union of intervals clipped to [lo, hi]"""
    total = 0
    cur = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


# ---------------------------------------------------------------- metrics

def tail_figures(rec):
    """freshness, scrape, generator and window figures of a tail run"""
    t = rec["tail"]
    rate, t_start, base = t["rate"], t["t_start"], t["base"]
    w0, w1 = t["window_start"], t["window_end"]
    j0 = first_index_due_at(t_start, rate, w0)
    j1 = min(first_index_due_at(t_start, rate, w1), t["steady_lines"])
    scrapes = [tuple(s) for s in t["scrapes"]]
    fresh, unseen = freshness(scrapes, t_start, rate, base, j0, j1)
    late, written = lateness(t["writes"], t_start, rate, base, j0, j1)
    rtts = [(b - a) / 1e6 for a, b, c, *_ in scrapes
            if w0 <= a < w1 and c >= 0]
    processed = count_at(scrapes, w1) - count_at(scrapes, w0)
    drains = t["drain_s"]
    if not drains or None in drains:
        raise ValueError("a backlog never became visible")

    def pct(xs, p):
        return percentile(xs, p) if enough_beyond(len(xs), p) else None

    return {
        "window_lines": j1 - j0, "never_visible": unseen,
        "lines_written": written,
        "fresh_p50_s": percentile(fresh, 50),
        "fresh_p99_s": pct(fresh, 99),
        "fresh_samples": len(fresh),
        "scrape_p50_ms": pct(rtts, 50),
        "scrape_p90_ms": pct(rtts, 90),
        "scrape_p99_ms": pct(rtts, 99),
        "scrape_samples": len(rtts),
        "gen_late_p99_ms": pct(late, 99) or max(late),
        "processed_lines": processed,
        "drain_klines_s": median(t["backlog"] / 1000.0 / d for d in drains),
        "drain_rounds_s": [round(d, 3) for d in drains],
        "body_kb": max((s[3] for s in scrapes), default=0) / 1024.0,
    }


def end_to_end(rec):
    """the end-to-end metrics of one run record, plus validity notes"""
    win = rec["window"]
    notes = []
    m = {"setup_s": median(rec["setups_s"]),
         "heap_live_mb": rec["heap_live_mb"]}
    extra = {"setup_cold_s": rec["setups_s"][0],
             "setup_cold_cpu_s": rec["setup_cold_cpu_s"],
             "warm_settled": rec["warm_settled"],
             "wall_s": win["wall_s"], "proc_cpu_s": win["proc_cpu_s"],
             "harness_cpu_s": win["harness_cpu_s"],
             "steal_cpu_s": win["steal_cpu_s"],
             "proc_gc_s": win["proc_gc_s"]}
    cpu_ms = (win["proc_cpu_s"] - win["harness_cpu_s"]) * 1000.0
    if "tail" in rec:
        f = tail_figures(rec)
        extra.update(f)
        m["throughput_kitems_s"] = f["drain_klines_s"]
        m["fresh_p50_s"] = f["fresh_p50_s"]
        # per offered line: in steady state the daemon processes what is
        # offered, while the lines it finishes inside the window jump by
        # whole batches
        m["cpu_ms_per_kitem"] = cpu_ms / (f["window_lines"] / 1000.0)
        if f["gen_late_p99_ms"] > GEN_LATE_BOUND_MS:
            notes.append("invalid: writer late p99 %.1f ms > %.0f ms"
                         % (f["gen_late_p99_ms"], GEN_LATE_BOUND_MS))
        if f["lines_written"] < f["window_lines"]:
            notes.append("invalid: wrote %d of %d due lines"
                         % (f["lines_written"], f["window_lines"]))
        if f["never_visible"]:
            notes.append("%d window lines never visible"
                         % f["never_visible"])
    else:
        passes = rec["passes_s"]
        p50 = median(passes)
        m["throughput_kitems_s"] = rec["items_per_pass"] / 1000.0 / p50
        m["fresh_p50_s"] = p50
        m["cpu_ms_per_kitem"] = cpu_ms / (rec["items"] / 1000.0)
        extra["passes"] = len(passes)
    return m, extra, notes


def _ops(rec):
    """measured ops (passes or microbatches) with their jobs attached"""
    tr = rec["trace"]
    jobs = [j for j in tr["jobs"] if j["end"] > 0]
    spans = {s["id"]: s for s in tr["spans"]}

    def root_of(sid):
        seen = set()
        while sid in spans and spans[sid]["parent"] and sid not in seen:
            seen.add(sid)
            sid = spans[sid]["parent"]
        return sid

    ops = []
    if "tail" in rec:
        w0, w1 = rec["tail"]["window_start"], rec["tail"]["window_end"]
        for p in tr["progress"]:
            d = p["durations"]
            start = p["start"]
            end = start + d.get("triggerExecution", 0) * 1000000
            if not (w0 <= start < w1):
                continue
            mine = [j for j in jobs if j["batch"] == p["batch"] or
                    (j["batch"] < 0 and start <= j["start"] < end)]
            ops.append({"start": start, "end": end, "items": p["rows"],
                        "jobs": mine, "progress": p})
    else:
        for s in tr["spans"]:
            if s["name"] != "pass" or "/measure/" not in s["trace"]:
                continue
            mine = [j for j in jobs if root_of(j["span"]) == s["id"] or
                    (j["span"] == 0 and s["start"] <= j["start"] < s["end"])]
            ops.append({"start": s["start"], "end": s["end"],
                        "items": rec["items_per_pass"], "jobs": mine})
    for op in ops:
        op["jobs"].sort(key=lambda j: j["start"])
        op["wall_ms"] = (op["end"] - op["start"]) / 1e6
        op["driver_self_ms"] = (op["end"] - op["start"] - union_ns(
            [(j["start"], j["end"]) for j in op["jobs"]],
            op["start"], op["end"])) / 1e6
        op["qe"] = [q for q in tr["qe"] if op["start"] <= q["start"] < op["end"]]
    return ops


def per_layer(rec, e2e):
    """(declared per-layer metrics, full layer record) of a traced run"""
    ops = _ops(rec)
    if not ops:
        raise ValueError("traced run has no measured ops")
    n = float(len(ops))

    def per_op(f):
        return sum(f(o) for o in ops) / n

    def jsum(o, k):
        return sum(j[k] for j in o["jobs"])

    def qsum(o, k):
        return sum(q[k] for q in o["qe"])

    win = rec["window"]
    m = {
        "op.count": len(ops),
        "op.items_p50": median(o["items"] for o in ops),
        "op.wall_ms_p50": median(o["wall_ms"] for o in ops),
        "op.driver_self_ms_p50": median(o["driver_self_ms"] for o in ops),
        "op.jobs": per_op(lambda o: len(o["jobs"])),
        "op.stages": per_op(lambda o: jsum(o, "stages")),
        "op.tasks": per_op(lambda o: jsum(o, "tasks")),
        "plan.analysis_ms": per_op(lambda o: qsum(o, "analysis_ms")),
        "plan.optimization_ms": per_op(lambda o: qsum(o, "optimization_ms")),
        "plan.planning_ms": per_op(lambda o: qsum(o, "planning_ms")),
        "exec.cpu_ms": per_op(lambda o: jsum(o, "cpu_ns") / 1e6),
        "exec.run_ms": per_op(lambda o: jsum(o, "run_ms")),
        "exec.gc_ms": per_op(lambda o: jsum(o, "gc_ms")),
        "exec.shuffle_read_mb": per_op(
            lambda o: jsum(o, "shuffle_read") / 1048576.0),
        "exec.shuffle_write_mb": per_op(
            lambda o: jsum(o, "shuffle_write") / 1048576.0),
        "proc.cpu_s": win["proc_cpu_s"],
        "proc.gc_s": win["proc_gc_s"],
    }
    for k, v in e2e.items():
        m["traced." + k] = v
    layers = {"exec.spill_mb": per_op(lambda o: jsum(o, "spill") / 1048576.0),
              "steal_cpu_s": win["steal_cpu_s"],
              "shapes": fold_by_shape(ops)}
    spans = rec["trace"]["spans"]
    by_name = fold_by_name(spans)
    layers["spans"] = by_name

    def span_p50(name):
        xs = [(s["end"] - s["start"]) / 1e6 for s in spans
              if s["name"] == name]
        return median(xs) if xs else None

    for name, key in (("mtail.compile", "mtail.compile_ms"),
                      ("plan.build", "plan.build_ms"),
                      ("sources.scan", "sources.scan_ms"),
                      ("dedup.scrub", "dedup.scrub_ms"),
                      ("dedup.sigs", "dedup.sigs_ms"),
                      ("dedup.pairs", "dedup.pairs_ms"),
                      ("dedup.canon", "dedup.canon_ms"),
                      ("export.render", "export.render_ms")):
        v = span_p50(name)
        if v is not None:
            layers[key] = v
    if "dedup_pairs" in rec:
        layers["dedup.pairs"] = rec["dedup_pairs"]
    if "tail" in rec:
        prog = [o["progress"] for o in ops]

        def dur(k):
            return [p["durations"].get(k, 0) for p in prog]

        lag = [p_["file_bytes"] - p_["end_pos"] for p_ in prog
               if p_["file_bytes"] >= 0 and p_["end_pos"] >= 0]
        layers.update({
            "stream.batches": len(prog),
            "stream.rows_per_batch_p50": median(o["items"] for o in ops),
            "stream.trigger_ms_p50": median(dur("triggerExecution")),
            "stream.trigger_ms_max": max(dur("triggerExecution")),
            "stream.add_batch_ms_p50": median(dur("addBatch")),
            "stream.latest_offset_ms": median(dur("latestOffset")),
            "stream.wal_commit_ms": median(dur("walCommit")),
            "stream.queue_wait_ms_p50": _queue_wait_p50(rec, ops),
            "sources.lag_bytes_p50": median(lag) if lag else None,
            "sources.lag_bytes_max": max(lag) if lag else None,
        })
        for k, v in rec.get("layers_raw", {}).items():
            layers[k.replace("_", ".", 1)] = v
    return m, layers


def _queue_wait_p50(rec, ops):
    """median over window lines of (start of the batch holding the line -
    the line's due time); a batch holds the lines up to its end offset"""
    t = rec["tail"]
    writes = t["writes"]
    waits = []
    prev_upto = None
    for o in sorted(ops, key=lambda o: o["start"]):
        pos = o["progress"]["end_pos"]
        # file line count at this byte offset, from the writer's chunks
        upto = None
        for _, u, cum in writes:
            if cum <= pos:
                upto = u
            else:
                break
        if upto is None:
            continue
        lo = prev_upto if prev_upto is not None else upto - o["items"]
        for g in range(max(lo, t["base"]), upto):
            j = g - t["base"]
            waits.append((o["start"] - due_ns(t["t_start"], t["rate"], j))
                         / 1e6)
        prev_upto = upto
    return median(waits) if waits else None


def report(rec, spec):
    """metrics of one run for BENCHMARK.json `spec`: the final JSON
    object, human-readable lines and (traced) the full layer record"""
    e2e, extra, notes = end_to_end(rec)
    lines = ["record: " + ", ".join(
        "%s=%s" % (k, ("%.4g" % v) if isinstance(v, float) else v)
        for k, v in sorted(extra.items()))]
    for msg in rec.get("failures", []):
        lines.append("FAILED: " + msg)
    lines += ["NOTE: " + n for n in notes]
    layers = None
    if rec["trace"]:
        declared, layers = per_layer(rec, e2e)
        metrics_spec = spec["per_layer"]
        values = declared
        for k, v in sorted(layers.items()):
            if not isinstance(v, (dict, list)):
                lines.append("layer %s = %s" % (k, v))
    else:
        metrics_spec = spec["end_to_end"]
        values = e2e
    metrics = {}
    for ms in metrics_spec:
        v = values[ms["name"]]
        metrics[ms["name"]] = {"value": v, "unit": ms["unit"]}
        lines.append("%s = %.6g %s" % (ms["name"], v, ms["unit"]))
    invalid = any(n.startswith("invalid") for n in notes)
    failed = rec["failed"] + (1 if invalid else 0)
    final = {"correct": failed == 0 and not notes,
             "attempted": max(1, rec["attempted"]),
             "failed": failed, "metrics": metrics}
    return {"final": final, "lines": lines, "layers": {
        "declared": values, "layers": layers, "extra": extra}}
