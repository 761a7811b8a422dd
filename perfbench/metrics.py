"""Reduce the harness's raw records to the benchmark's metrics.

End-to-end metrics come from the untraced run; per-layer metrics from the
traced blocks of a traced run. Per-layer sums and counts are per traced
request, so a layer a workload never calls reads 0.
"""

import stats

E2E_UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s", "throughput_rps": "1/s"}

SELF_LAYERS = ["client", "sources", "core", "plans", "pipeline", "streaming", "catalyst", "exec"]

PER_LAYER_UNITS = {
    "plans.execute_ms": "ms", "plans.nodes": "count",
    "sources.read_calls": "count", "sources.read_ms": "ms",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms", "codegen.hit_share": "ratio",
    "exec.wait_ms": "ms", "exec.core_busy": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_ms": "ms", "exec.task_ms": "ms", "driver.outside_jobs_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.skew": "ratio",
    "pipeline.call_ms": "ms", "pipeline.call_jobs": "count",
    "pipeline.rows_per_shuffled_row": "ratio",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.start_ms": "ms", "streaming.stop_ms": "ms",
    "core.persisted_bytes": "bytes", "core.persisted_rdds": "count",
    "core.conf_changed_keys": "count",
    "jvm.gc_ms": "ms", "jvm.rss_peak_mb": "MB", "box.canary_ms": "ms",
    "trace.overhead_pct": "%", "trace.parts_error_pct": "%",
    **{f"{layer}.self_ms": "ms" for layer in SELF_LAYERS},
}


def end_to_end(raw, ok):
    """`ok` are the successful request records of the timed phase."""
    lat = [(r["end"] - r["start"]) / 1000.0 for r in ok]
    tail, pct, n = stats.tail(lat)
    wall = (raw["t1"] - raw["t0"]) / 1000.0
    values = {
        "setup_s": raw["setup_ms"] / 1000.0,
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": tail,
        "throughput_rps": len(ok) / wall if wall > 0 else 0.0,
    }
    detail = {"tail_percentile": pct, "samples": n, "setup_ms": raw["setup_ms"],
              "setup_marks": raw["setup_marks"], "timed_s": wall,
              "jit_ms_setup": raw["jit_ms_setup"], "jit_ms_timed": raw["jit_ms_timed"],
              "canary_ms": raw["canary_ms"], "gc_ms": raw["gc_ms_all"]}
    return values, detail


def _dur(s):
    return s[5] - s[4]


def per_layer(raw, records, nodes_of, rows_of):
    """`records` are all timed requests; only successful traced ones count.

    `nodes_of(record)` gives the process-graph node count of a request,
    `rows_of(record)` the rows it returned.
    """
    traced = [r for r in records if r["traced"] and not r["error"]]
    ids = {r["idx"] for r in traced}
    n = max(1, len(traced))
    spans = [s for s in raw.get("spans", []) if s[3] in ids]
    by_req = {}
    for s in spans:
        by_req.setdefault(s[3], []).append(s)
    jobs = [j for j in raw.get("jobs", []) if j[1] in ids and j[3] is not None]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j[1], []).append((j[2], j[3]))
    stages = [s for s in raw.get("stages", []) if s["req"] in ids]
    stages_of = {}
    for s in stages:
        stages_of.setdefault(s["req"], []).append(s)
    # executions no client claimed (those inside a library call) go to the
    # request spanning them when it is the only one, traced or not
    spans_of = [(r["start"] - 1, r["end"] + 1, r["idx"]) for r in records]
    for e in raw.get("execs", []):
        a, b = e["optimization"][0], e["planning"][1]
        if e["req"] not in ids and a is not None and b is not None:
            hit = [i for s, t, i in spans_of if s <= a and b <= t]
            e["req"] = hit[0] if len(hit) == 1 else -1
    execs = [e for e in raw.get("execs", []) if e["req"] in ids]
    phases_of = {}
    for e in execs:
        for ph in ("analysis", "optimization", "planning"):
            a, b = e[ph]
            if a is not None and b is not None:
                phases_of.setdefault(e["req"], []).append((a, b))
    batches_of = {}
    for b in raw.get("batches", []):
        rid = b["query"].split("_")[0]
        if rid[2:].isdigit() and int(rid[2:]) in ids:
            batches_of.setdefault(int(rid[2:]), []).append(b)
    batches = [b for bs in batches_of.values() for b in bs]

    m = {k: 0.0 for k in PER_LAYER_UNITS}
    per = lambda xs: sum(xs) / n
    named = lambda prefix: [s for s in spans if s[2].startswith(prefix)]
    m["plans.execute_ms"] = per(_dur(s) for s in named("plans.execute"))
    m["plans.nodes"] = per(nodes_of(r) for r in traced)
    m["sources.read_calls"] = len(named("sources.read")) / n
    m["sources.read_ms"] = per(_dur(s) for s in named("sources.read"))
    m["sources.input_bytes"] = per(s["input_bytes"] for s in stages)
    m["sources.input_rows"] = per(s["input_records"] for s in stages)
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = per(e[ph][1] - e[ph][0] for e in execs if e[ph][0] is not None)
    m["catalyst.executions"] = len(execs) / n
    # codegen and GC cannot be split by request: timed-phase totals per request
    n_all = max(1, len(records))
    m["codegen.compiles"] = raw["compiles_all"] / n_all
    m["codegen.compile_ms"] = raw["compile_ms_all"] / n_all
    m["exec.wait_ms"] = per(s["first_launch"] - s["submitted"] for s in stages
                            if s["first_launch"] is not None and s["submitted"] is not None)
    task_ms = sum(s["task_ms"] for s in stages)
    m["exec.core_busy"] = stats.core_busy(task_ms, [(j[2], j[3]) for j in jobs], raw["cores"])
    m["exec.jobs"] = len(jobs) / n
    m["exec.stages"] = len(stages) / n
    m["exec.tasks"] = per(s["tasks"] for s in stages)
    m["exec.job_ms"] = per(stats.length(v) for v in jobs_of.values())
    m["exec.task_ms"] = task_ms / n
    m["driver.outside_jobs_ms"] = per((r["end"] - r["start"]) -
                                      stats.length(stats.clip(jobs_of.get(r["idx"], []), r["start"], r["end"]))
                                      for r in traced)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = per(s[k] for s in stages)
    skews = []
    for ss in stages_of.values():
        done = [s for s in ss if s["completed"] is not None and s["submitted"] is not None and s["tasks"]]
        if done:
            slow = max(done, key=lambda s: s["completed"] - s["submitted"])
            if slow["task_median"] > 0:
                skews.append(slow["task_max"] / slow["task_median"])
    m["exec.skew"] = stats.median(skews)

    calls = named("pipeline.")
    m["pipeline.call_ms"] = per(_dur(s) for s in calls)
    m["pipeline.call_jobs"] = sum(1 for j in jobs for s in calls
                                  if s[3] == j[1] and s[4] <= j[2] <= s[5]) / n
    pipe_reqs = {s[3] for s in calls}
    shuffled = sum(s["shuffle_write_records"] for s in stages if s["req"] in pipe_reqs)
    out_rows = sum(rows_of(r) for r in traced if r["idx"] in pipe_reqs)
    m["pipeline.rows_per_shuffled_row"] = out_rows / shuffled if shuffled else 0.0

    if batches:
        d = lambda b, k: b["duration_ms"].get(k, 0)
        nb = len(batches)
        m["streaming.batches"] = nb / n
        m["streaming.batch_ms"] = stats.median([d(b, "triggerExecution") for b in batches])
        m["streaming.add_batch_ms"] = sum(d(b, "addBatch") for b in batches) / nb
        m["streaming.wal_commit_ms"] = sum(d(b, "walCommit") for b in batches) / nb
        m["streaming.query_planning_ms"] = sum(d(b, "queryPlanning") for b in batches) / nb
        m["streaming.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches) / nb
        last = [max(bs, key=lambda b: b["batch"]) for bs in batches_of.values()]
        m["streaming.state_rows"] = sum(b["state_rows"] for b in last) / len(last)
        starts, stops = [], []
        for rid, bs in batches_of.items():
            run = [s for s in by_req.get(rid, []) if s[2].startswith("streaming.")]
            if run:
                first, lastb = min(b["start"] for b in bs), max(bs, key=lambda b: b["start"])
                starts.append(first - run[0][4])
                stops.append(run[0][5] - (lastb["start"] + d(lastb, "triggerExecution")))
        m["streaming.start_ms"] = per(starts)
        m["streaming.stop_ms"] = per(stops)

    extras = [r["extra"] for r in traced if r["extra"]]
    if extras:
        m["core.persisted_bytes"] = max(e["persisted_bytes"] for e in extras)
        m["core.persisted_rdds"] = max(e["persisted_rdds"] for e in extras)
        m["core.conf_changed_keys"] = sum(e["conf_changed_keys"] for e in extras) / n
        # requests that compiled no new class: the codegen cache served them
        m["codegen.hit_share"] = sum(e["compiles"] == 0 for e in extras) / len(extras)
    m["jvm.gc_ms"] = raw["gc_ms_all"] / n_all
    m["jvm.rss_peak_mb"] = raw["rss_peak_kb"] / 1024.0
    m["box.canary_ms"] = stats.median(raw["canary_ms"])

    # tracing overhead: traced requests against their untraced neighbours
    m["trace.overhead_pct"] = 100.0 * stats.trace_overhead(
        {r["idx"]: (r["end"] - r["start"], r["kind"], r["traced"]) for r in records if not r["error"]})

    # per-request parts: layer self times + catalyst + job union vs wall
    errs, selfs = [], {}
    for r in traced:
        mine = by_req.get(r["idx"], [])
        root = [s for s in mine if s[2] == "request"]
        if not root:
            continue
        rid = root[0][0]
        below = [(s[0], 0 if s[1] == rid else s[1], s[2], s[4], s[5]) for s in mine if s[0] != rid]
        parts = stats.decompose((root[0][4], root[0][5]), below, jobs_of.get(r["idx"], []),
                                phases_of.get(r["idx"], []))
        wall = root[0][5] - root[0][4]
        errs.append(abs(sum(parts.values()) - wall) / wall if wall > 0 else 0.0)
        for name, v in parts.items():
            layer = "exec" if name == "jobs" else name.split(".")[0]
            selfs[layer] = selfs.get(layer, 0.0) + v
    m["trace.parts_error_pct"] = 100.0 * max(errs) if errs else 0.0
    for layer in SELF_LAYERS:
        m[f"{layer}.self_ms"] = selfs.get(layer, 0.0) / n
    return m, {"traced_requests": len(traced), "parts_error_pct_max": m["trace.parts_error_pct"]}


def trace_spans(raw):
    """Flat span list (name, start, end, parent, req) for the trace file."""
    out = [{"id": s[0], "parent": s[1], "name": s[2], "req": s[3], "start": s[4], "end": s[5]}
           for s in raw.get("spans", [])]
    roots = {s["req"]: s["id"] for s in out if s["name"] == "request"}
    nid = max([s["id"] for s in out], default=0)

    def add(name, req, a, b, parent=None):
        nonlocal nid
        nid += 1
        out.append({"id": nid, "parent": parent if parent is not None else roots.get(req, 0),
                    "name": name, "req": req, "start": a, "end": b})
        return nid

    for j in raw.get("jobs", []):
        add("exec.job", j[1], j[2], j[3])
    for s in raw.get("stages", []):
        add("exec.stage", s["req"], s["submitted"], s["completed"])
    for e in raw.get("execs", []):
        for ph in ("analysis", "optimization", "planning"):
            add(f"catalyst.{ph}", e["req"], *e[ph])
    for b in raw.get("batches", []):
        rid = b["query"].split("_")[0]
        req = int(rid[2:]) if rid[2:].isdigit() else -1
        add("streaming.batch", req, b["start"], b["start"] + b["duration_ms"].get("triggerExecution", 0))
    return out

