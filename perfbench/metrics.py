"""Turns the JSON record of one benchmark run into its metrics.

Pure functions only, so the rules (tail percentile, quartile spread,
self time, chunk freshness) are testable without Spark.
"""
import statistics

STREAM_LAYERS = ("stream", "stream.raw_append", "stream.dead_letter",
                 "stream.writer")
TRIGGER_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                  "getBatch", "latestOffset")
# Root span names whose subtrees are measured; warm-round spans are set-up.
MEASURED_ROOTS = ("query", "fetch", "trigger")


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, samples). With n samples that is the
    nearest-rank value exceeded by exactly 10 of them, the (n-10)th
    smallest, at percentile 100*(n-10)/n. With fewer than 22 samples that
    value is not above the median, so there is no tail: the median is
    reported, at percentile 50.
    """
    n = len(values)
    if n < 22:
        return median(values), 50.0, n
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def quartile_spread(values):
    """Distance between first and third quartile as a share of the median,
    with the quartiles of statistics.quantiles(values, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def self_times(spans, roots=MEASURED_ROOTS):
    """Self seconds per span name: a span's duration minus the part of its
    interval its children cover. Only subtrees under `roots` count.

    `spans` holds [id, trace, parent, name, start_ms, end_ms] rows."""
    by_id = {s[0]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s[2], []).append(s)

    def root_name(s):
        while s[2] in by_id:
            s = by_id[s[2]]
        return s[3]

    out = {}
    for s in spans:
        if root_name(s) not in roots:
            continue
        start, end = s[4], s[5]
        covered, cursor = 0.0, start
        for c in sorted(children.get(s[0], []), key=lambda c: c[4]):
            lo, hi = max(c[4], cursor), min(c[5], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s[3]] = out.get(s[3], 0.0) + max(0.0, end - start - covered) / 1000
    return out


def freshness(chunks, progress, batches):
    """Per chunk, seconds from its due time to the end of the foreachBatch
    that folded it, or None if no batch did.

    A micro-batch covers source offsets (previous end, end_offset], so a
    chunk is folded by the first batch whose end_offset reaches the
    chunk's offset."""
    ends = sorted((p["batch"], p["end_offset"]) for p in progress
                  if p.get("end_offset", -1) >= 0)
    batch_end_ms = {b["batch"]: b["end_ms"] for b in batches}
    out = []
    for c in chunks:
        folded = next((b for b, end in ends if end >= c["offset"]), None)
        if folded is None or folded not in batch_end_ms:
            out.append(None)
        else:
            out.append((batch_end_ms[folded] - c["due_ms"]) / 1000)
    return out


def _layer(raw, name):
    return (raw.get("layers") or {}).get("layers", {}).get(name, {})


def _sum_layers(raw, names, key):
    return sum(_layer(raw, n).get(key, 0) for n in names)


def summarize(raw):
    """Returns (end_to_end, per_layer, details, attempted, failed)."""
    res = raw["result"]
    setup = raw["setup"]
    setup_s = setup["session_s"] + setup["prep_s"]
    details = {"setup_session_s": setup["session_s"],
               "setup_prep_s": setup["prep_s"], "failures": []}
    ingest = "phase_a" in res

    if ingest:
        fetches = [f for f in res["fetches"] if f.get("ok")]
        lat = [f["total_s"] for f in fetches]
        wall_s = res["phase_a"]["wall_s"]
        bad_fetches = len(res["fetches"]) - len(fetches)
        attempted = res["lines_sent"] + len(res["fetches"]) + 1
        failed = (res["lost_or_extra"] + res["wrong_reasons"] + bad_fetches
                  + (0 if res["routed_check_ok"] else 1))
        details["failures"] = res["failures"]
        ops = fetches
    else:
        timed = [q for q in res["queries"] if not q["warm"]]
        lat = [q["totalS"] for q in timed]
        wall_s = median(res["round_wall_s"])
        attempted = len(res["queries"]) + res["skipped"]
        bad = [q for q in res["queries"] if not q["ok"]]
        failed = len(bad) + res["skipped"]
        details["failures"] = [
            f"{q['name']}: " + (q["error"] or f"fingerprint {q['fingerprint']}"
                                f" != expected {q['expected'] or '<none>'}")
            for q in bad]
        ops = [{"construct_s": q["constructS"], "plan_s": q["planS"],
                "exec_s": q["execS"]} for q in timed]

    t_val, t_pct, t_n = tail(lat)
    e2e = {"setup_s": setup_s, "wall_s": wall_s,
           "query_p50_s": median(lat), "query_tail_s": t_val}
    details.update({"query_tail_percentile": t_pct, "query_samples": t_n})

    construct_s = sum(o.get("construct_s", 0.0) for o in ops)
    plan_s = sum(o.get("plan_s", 0.0) for o in ops)
    exec_s = sum(o.get("exec_s", 0.0) for o in ops)
    spans = raw.get("spans") or []
    selfs = self_times(spans)
    by_id = {s[0]: s for s in spans}
    # timed query functions that ran a Spark job before returning
    constructs = {s[0] for s in spans if s[3] == "construct"
                  and s[2] in by_id and by_id[s[2]][3] == "query"}
    eager = {s[2] for s in spans if s[3] == "job" and s[2] in constructs}
    modules = (raw.get("layers") or {}).get("construct_modules", {})
    exec_task_s = _layer(raw, "exec").get("task_s", 0.0)
    batches = res.get("batches", [])
    fetches = [f for f in res.get("fetches", []) if f.get("ok")]
    phase_a = res.get("phase_a")
    per = {
        "io.read_s": raw.get("io", {}).get("read_s", 0.0),
        "io.read_jobs": _layer(raw, "io").get("jobs", 0),
        "construct.s": construct_s,
        "construct.jobs": _layer(raw, "construct").get("jobs", 0),
        "construct.jobs.io": modules.get("io", 0),
        "construct.jobs.eager": len(eager),
        "construct.task_s": _layer(raw, "construct").get("task_s", 0.0),
        "cache.rdds": raw["cache"]["rdds"],
        "cache.retained_mb": raw["cache"]["retained_mb"],
        "plan.s": plan_s,
        "exec.s": exec_s,
        "exec.core_util": (exec_task_s / (exec_s * raw["cpus"])
                           if exec_s else 0.0),
        "stream.batch_jobs": (_sum_layers(raw, STREAM_LAYERS, "jobs")
                              / len(batches) if batches else 0.0),
        "stream.backlog_chunks": max(
            [c["backlog"] for c in res.get("chunks", [])
             if c["phase"] == "B"], default=0),
        "stream.ingest_pts_per_s": (phase_a["ok_lines"] / phase_a["wall_s"]
                                    if phase_a else 0.0),
        "fetch.routed_ratio": (sum(1 for f in fetches if f["routed"])
                               / len(fetches) if fetches else 0.0),
        "fetch.raw_files": median([f["raw_files"] for f in fetches]),
    }
    for key in ("jobs", "stages", "tasks", "task_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        per[f"exec.{key}"] = _layer(raw, "exec").get(key, 0)
    # harness time inside the root spans, outside every layer's span
    per["self.root_s"] = selfs.get("query", 0.0) + selfs.get("fetch", 0.0)
    for name in ("construct", "plan", "exec", "job"):
        per[f"self.{name}_s"] = selfs.get(name, 0.0)

    if ingest:
        write, failed_fresh = write_path(raw, selfs)
        details["write_path"] = write
        if failed_fresh:
            details["failures"].append(
                f"chunks never folded: {failed_fresh}")
            failed += failed_fresh
    return e2e, per, details, attempted, failed


def write_path(raw, selfs):
    """Timings of the ingest-only layers (Ingest, RollupCatalog and the
    routed read), and the number of phase-B chunks no batch folded."""
    res = raw["result"]
    batches = res["batches"]
    progress = raw.get("progress", [])
    chunks_b = [c for c in res["chunks"] if c["phase"] == "B"]
    fetches = [f for f in res["fetches"] if f.get("ok")]
    out = {}
    # Spark reports whole milliseconds; the mean keeps the digits a median
    # of integers would round away
    for phase in TRIGGER_PHASES:
        vals = [p["duration_ms"][phase] for p in progress
                if phase in p["duration_ms"]]
        out[f"stream.trigger_ms.{phase}"] = (
            sum(vals) / len(vals) if vals else 0.0)
    out["stream.writer_s"] = median([b["writer_s"] for b in batches])
    out["stream.raw_append_s"] = median([b["raw_append_s"] for b in batches])
    out["stream.generator_lag_s"] = max(
        [(c["sent_ms"] - c["due_ms"]) / 1000 for c in chunks_b], default=0.0)
    fresh = freshness(chunks_b, progress, batches)
    folded = [f for f in fresh if f is not None]
    f_val, f_pct, f_n = tail(folded)
    out.update({"stream.freshness_p50_s": median(folded),
                "stream.freshness_tail_s": f_val,
                "stream.freshness_tail_percentile": f_pct,
                "stream.freshness_samples": f_n,
                "fetch.plan_s": median([f["plan_s"] for f in fetches]),
                "fetch.exec_s": median([f["exec_s"] for f in fetches])})
    for name in ("trigger", "raw_append", "dead_letter", "liveRollupWriter"):
        out[f"self.{name}_s"] = selfs.get(name, 0.0)
    return out, len(fresh) - len(folded)
