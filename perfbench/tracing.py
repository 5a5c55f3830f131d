"""Spans and per-layer metrics of a traced run.

The span tree is query -> construct | action -> sql_execution -> job ->
stage. Jobs and SQL executions carry the job tag the runner set for their
query and phase; an untagged one (started from a thread the tag did not
reach) is placed by time in the phase window that contains its start.
A span's self time is its duration minus the part of it its children cover.
"""
import json

LAYERS = ("query", "construct", "action", "sql_execution", "job", "stage")


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def build(recs):
    """All spans of the queries' executions: dicts with id, parent, layer,
    query, start, end (epoch ms) and, for stages, the task counters."""
    spans, windows = [], []
    for q in (r for r in recs if r["kind"] == "query"):
        built = q["built"] if q["built"] is not None else q["end"]
        qid = f"q{q['i']}"
        spans.append({"id": qid, "parent": None, "layer": "query", "query": q["name"],
                      "start": q["start"], "end": q["end"]})
        for phase, s, e in (("construct", q["start"], built), ("action", built, q["end"])):
            spans.append({"id": f"{qid}.{phase}", "parent": qid, "layer": phase,
                          "query": q["name"], "start": s, "end": e})
            windows.append((s, e, f"{qid}.{phase}", q["name"]))
    by_id = {s["id"]: s for s in spans}

    def phase_of(tags, t):
        for tag in tags:
            parts = tag.split(":")
            if len(parts) == 3 and parts[2] in ("construct", "action"):
                return f"q{parts[1]}.{parts[2]}"
        if tags:  # tagged as probe or check work, outside the queries
            return None
        for s, e, sid, _ in windows:
            if s <= t <= e:
                return sid
        return None

    def add(sid, parent, layer, start, end, **extra):
        if parent is None or start is None or end is None:
            return
        span = {"id": sid, "parent": parent, "layer": layer,
                "query": by_id[parent]["query"], "start": start, "end": end, **extra}
        spans.append(span)
        by_id[sid] = span

    ends = {(r["kind"], r["id"]): r["t"] for r in recs if r["kind"] in ("sql_end", "job_end")}
    for r in recs:
        if r["kind"] == "sql_start":
            add(f"sql{r['id']}", phase_of(r["tags"], r["t"]), "sql_execution",
                r["t"], ends.get(("sql_end", r["id"])))
    stage_job = {}
    for r in recs:
        if r["kind"] == "job_start":
            parent = f"sql{r['sql']}" if f"sql{r['sql']}" in by_id else phase_of(r["tags"], r["t"])
            add(f"job{r['id']}", parent, "job", r["t"], ends.get(("job_end", r["id"])))
            for st in r["stages"]:
                stage_job.setdefault(st, f"job{r['id']}")
    for r in recs:
        if r["kind"] == "stage" and stage_job.get(r["id"]) in by_id:
            add(f"stage{r['id']}.{r['attempt']}", stage_job[r["id"]], "stage",
                r["start"], r["end"], **{k: r[k] for k in (
                    "tasks", "busy_ms", "run_ms", "cpu_ns", "gc_ms", "shuffle_write",
                    "shuffle_read", "spill", "fetch_wait_ms")})
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_ms"] = (s["end"] - s["start"]) - _covered(
            s["start"], s["end"], children.get(s["id"], []))
    return spans


def layer_metrics(recs, spans, cores):
    """The per-layer metrics of BENCHMARK.json from one traced run."""
    qs = [r for r in recs if r["kind"] == "query"]
    wall_ms = sum(q["end"] - q["start"] for q in qs)
    construct_ms = sum(s["end"] - s["start"] for s in spans if s["layer"] == "construct")
    stages = [s for s in spans if s["layer"] == "stage"]
    jobs = [s for s in spans if s["layer"] == "job"]
    layer_of = {s["id"]: s["layer"] for s in spans}
    parent_of = {s["id"]: s["parent"] for s in spans}

    def phase(sid):
        while sid is not None and layer_of[sid] not in ("construct", "action"):
            sid = parent_of[sid]
        return None if sid is None else layer_of[sid]

    windows = [(s["start"], s["end"]) for s in spans if s["layer"] in ("construct", "action")]
    cat = [r for r in recs if r["kind"] == "catalyst" and r["t"] is not None
           and any(s <= r["t"] <= e for s, e in windows)]
    tot = lambda key: sum(s[key] for s in stages)
    m = {
        "entry.construct_s": construct_ms / 1e3,
        "entry.construct_jobs": sum(1 for j in jobs if phase(j["id"]) == "construct"),
        "entry.construct_share": construct_ms / wall_ms if wall_ms else 0.0,
        "catalyst.analysis_s": sum(r["analysis_ms"] for r in cat) / 1e3,
        "catalyst.optimization_s": sum(r["optimization_ms"] for r in cat) / 1e3,
        "catalyst.planning_s": sum(r["planning_ms"] for r in cat) / 1e3,
        "catalyst.executions": len(cat),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": tot("tasks"),
        "scheduler.job_wall_s": sum(j["end"] - j["start"] for j in jobs) / 1e3,
        "scheduler.busy_core_frac": tot("busy_ms") / (cores * wall_ms) if wall_ms else 0.0,
        "executor.run_s": tot("run_ms") / 1e3,
        "executor.cpu_s": tot("cpu_ns") / 1e9,
        "executor.gc_s": tot("gc_ms") / 1e3,
        "shuffle.write_bytes": tot("shuffle_write"),
        "shuffle.read_bytes": tot("shuffle_read"),
        "shuffle.spill_bytes": tot("spill"),
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "caches.persisted_rdds": sum(q["persisted_rdds"] for q in qs),
        "caches.storage_bytes": max((q["storage_bytes"] for q in qs), default=0),
        "driver_live_heap_gb": max((q["heap_bytes"] for q in qs), default=0) / 1e9,
    }
    for layer in LAYERS[1:]:  # a query's own self time is zero by construction
        m[f"self.{layer}_s"] = sum(s["self_ms"] for s in spans if s["layer"] == layer) / 1e3
    probes = [r for r in recs if r["kind"] == "probe"]
    m["sources.parse_only_mb_s"] = (sum(p["bytes"] for p in probes) / 1e6
                                    / (sum(p["parse_ms"] for p in probes) / 1e3))
    m["sources.synth_s"] = sum(p["synth_ms"] for p in probes) / 1e3
    return m


# Counts that must repeat exactly between two traced runs of one seed.
COUNTS = ("entry.construct_jobs", "catalyst.executions", "scheduler.jobs",
          "scheduler.stages", "scheduler.tasks")


def write(spans, path):
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
