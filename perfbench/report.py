"""Metric arithmetic for the benchmark: percentiles, span self times,
job attribution and the per-layer table. Pure functions over the
record the JVM harness writes (`run.json`), so they are unit-tested
without Spark (perfbench/tests).
"""
import statistics

# span name -> layer; the Catalyst phases are the QueryPlanningTracker
# phases of the operation's final frame
LAYER_OF_SPAN = {
    "construct": "construct.s",
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimization_s",
    "planning": "catalyst.planning_s",
    "plan": "catalyst.planning_s",
    "execute": "execute.s",
    "op": "trace.unattributed_s",
}

# in reference order, the order runAll receives them
PIPELINES = ["precipitation", "temperature", "humidity", "population"]

MB = 1024.0 * 1024.0


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between
    order statistics (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, candidates=(99, 95, 90, 75, 50), min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples strictly above it: (percentile, value, samples). Falls back
    to the median (with its count) when no candidate qualifies."""
    for p in candidates:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= min_beyond:
            return p, v, len(values)
    return 50, percentile(values, 50), len(values)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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
    """Self time (ms) of every span: its duration minus the part of its
    interval that its children cover. Children are the spans of the
    same id whose `parent` is this span's name. Returns {(id, name): ms}."""
    by_id = {}
    for s in spans:
        by_id.setdefault(s["id"], []).append(s)
    out = {}
    for sid, group in by_id.items():
        for s in group:
            lo, hi = s["start_ms"], s["end_ms"]
            kids = [(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in group if c["parent"] == s["name"] and c is not s]
            covered = union_length([(a, b) for a, b in kids if b > a])
            out[(sid, s["name"])] = (hi - lo) - covered
    return out


def op_table(spans):
    """Per operation: wall time and the self time of each layer (s).
    The self times add up to the wall time; `unattributed_s` is the
    part outside the construct, plan and execute spans."""
    st = self_times(spans)
    out = {}
    for oid, named in op_spans(spans).items():
        if "op" not in named:
            continue
        row = {"wall_s": (named["op"]["end_ms"] - named["op"]["start_ms"]) / 1000.0}
        for (sid, name), ms in st.items():
            if sid == oid and name in LAYER_OF_SPAN:
                key = LAYER_OF_SPAN[name]
                row[key] = row.get(key, 0.0) + ms / 1000.0
        out[oid] = row
    return out


def op_spans(spans):
    """{op id: {span name: span}} for the operation spans."""
    ops = {}
    for s in spans:
        if s["name"] != "round":
            ops.setdefault(s["id"], {})[s["name"]] = s
    return ops


def attribute_jobs(jobs, spans):
    """Assign each job to (op id, layer) from its job group and start
    time. Pipelines run under `graft-pipeline-<name>` (one group across
    rounds, so the round comes from the time); queries under
    `perfbench-<op id>`. Jobs started inside the op's construct span
    belong to `construct`, all others of the op to `execute`. Returns
    {job id: (op id, layer)}; jobs outside any op are left out."""
    ops = op_spans(spans)
    out = {}
    for j in jobs:
        g, t = j["group"], j["start_ms"]
        cands = []
        if g.startswith("perfbench-"):
            cands = [g[len("perfbench-"):]]
        elif g.startswith("graft-pipeline-"):
            name = g[len("graft-pipeline-"):]
            cands = [i for i in ops if i.endswith("-" + name)]
        for oid in cands:
            op = ops.get(oid, {}).get("op")
            if op and op["start_ms"] - 1 <= t <= op["end_ms"] + 1:
                c = ops[oid].get("construct")
                layer = ("construct" if c and c["start_ms"] - 1 <= t <= c["end_ms"] + 1
                         else "execute")
                out[j["job"]] = (oid, layer)
                break
    return out


def layer_metrics(record, checks, queries):
    """The per-layer table of a traced run, per traced warm round.

    `checks` holds the climate route counts read from the outputs;
    `queries` is the query-mix list (for the query.<name>_s names)."""
    rounds = [r for r in record["rounds"] if r["round"] > 0]
    traced = [r for r in rounds if r["traced"]]
    n = max(1, len(traced))
    traced_ids = {r["round"] for r in traced}
    spans = [s for s in record["spans"] if s["name"] != "round"
             and _round_of(s["id"]) in traced_ids]
    m = {k: 0.0 for k in metric_names(queries)}

    # self times by layer
    for (sid, name), ms in self_times(spans).items():
        layer = LAYER_OF_SPAN.get(name)
        if layer:
            m[layer] += ms / 1000.0 / n

    # jobs, stages, tasks and bytes by layer
    jobs = [j for j in record["jobs"] if any(
        r["start_ms"] - 1 <= j["start_ms"] <= r["end_ms"] + 1 for r in traced)]
    where = attribute_jobs(jobs, spans)
    busy_ms = 0.0
    for j in jobs:
        # sources and core occupancy count every job; the execute layer
        # only the jobs its spans started
        busy_ms += j["task_run_ms"]
        m["sources.input_mb"] += j["input_bytes"] / MB / n
        m["sources.input_rows"] += j["input_rows"] / n
        m["sources.output_mb"] += j["output_bytes"] / MB / n
        m["sources.output_rows"] += j["output_rows"] / n
        m["sources.write_s"] += j["writer_task_run_ms"] / 1000.0 / n
        if where.get(j["job"], (None, "execute"))[1] == "construct":
            m["construct.jobs"] += 1.0 / n
            continue
        m["execute.jobs"] += 1.0 / n
        m["execute.stages"] += j["stages"] / n
        m["execute.tasks"] += j["tasks"] / n
        m["execute.task_run_s"] += j["task_run_ms"] / 1000.0 / n
        m["execute.task_cpu_s"] += j["task_cpu_ns"] / 1e9 / n
        m["execute.gc_s"] += j["gc_ms"] / 1000.0 / n
        m["execute.max_task_s"] = max(m["execute.max_task_s"], j["max_task_ms"] / 1000.0)
        m["execute.shuffle_write_mb"] += j["shuffle_write_bytes"] / MB / n
        m["execute.shuffle_read_mb"] += j["shuffle_read_bytes"] / MB / n
        m["execute.max_task_shuffle_read_mb"] = max(
            m["execute.max_task_shuffle_read_mb"], j["max_task_shuffle_read_bytes"] / MB)
        m["execute.spill_mb"] += j["spill_bytes"] / MB / n
    wall_ms = sum(r["end_ms"] - r["start_ms"] for r in traced)
    cores = int(record["cores"])
    if wall_ms > 0:
        m["execute.core_busy_frac"] = busy_ms / (cores * wall_ms)

    # operations: per-pipeline / per-query latency, percentiles
    ops = [o for o in record["ops"] if o["round"] in traced_ids and o["ok"]]
    lat = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops]
    if lat:
        p, v, count = tail(lat)
        m["ops.samples"] = float(count)
        m["ops.p50_s"] = median(lat)
        m["ops.tail_pct"] = float(p)
        m["ops.tail_s"] = v
    for name in PIPELINES:
        xs = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops if o["name"] == name]
        m[f"pipeline.{name}_s"] = median(xs)
    for name in queries:
        xs = [(o["end_ms"] - o["start_ms"]) / 1000.0 for o in ops if o["name"] == name]
        m[f"query.{name}_s"] = median(xs)

    # orchestration (pipelines only)
    if record["workload"] == "pipelines":
        walls = [(r["end_ms"] - r["start_ms"]) / 1000.0 for r in traced]
        busy = [sum((o["end_ms"] - o["start_ms"]) / 1000.0
                    for o in record["ops"] if o["round"] == r["round"]) for r in traced]
        m["pipeline_manager.makespan_s"] = median(walls)
        m["pipeline_manager.busy_s"] = median(busy)
        if m["pipeline_manager.makespan_s"] > 0:
            m["pipeline_manager.overlap"] = m["pipeline_manager.busy_s"] / m["pipeline_manager.makespan_s"]
        for r in traced:
            for res in r["detail"]:
                m["pipeline_manager.attempts"] += res["attempts"] / n
                m["pipeline_manager.failed"] += (0 if res["ok"] else 1) / n

    for k in ("sharded_months", "inbound_months", "doc_parts"):
        m[f"climate.{k}"] = float(checks.get(k, 0))
    m["process_cache.builds"] = float(len(record["process_cache"]))
    m["process_cache.build_s"] = float(sum(record["process_cache"].values()))

    m["cold.first_round_s"] = (record["rounds"][0]["end_ms"] - record["rounds"][0]["start_ms"]) / 1000.0
    m["trace.overhead_s"] = tracing_overhead(rounds)
    return m


def tracing_overhead(rounds):
    """Median over traced rounds of (traced wall - mean wall of the
    untraced rounds just before and after it): pairing with both
    neighbours cancels the drift of a process still warming up."""
    wall = {r["round"]: (r["end_ms"] - r["start_ms"]) / 1000.0 for r in rounds}
    untraced = {r["round"] for r in rounds if not r["traced"]}
    deltas = [wall[i] - (wall[i - 1] + wall[i + 1]) / 2 for i in wall
              if i not in untraced and i - 1 in untraced and i + 1 in untraced]
    return median(deltas)


def _round_of(span_id):
    """Round index of a span id `r<round>-...` or `r<round>`."""
    head = span_id.split("-", 1)[0]
    return int(head[1:]) if head[:1] == "r" and head[1:].isdigit() else -1


# name -> (unit, better)
LAYER_METRICS = [
    ("construct.s", "s", "lower"), ("construct.jobs", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"), ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("execute.s", "s", "lower"), ("execute.jobs", "count", "lower"),
    ("execute.stages", "count", "lower"), ("execute.tasks", "count", "lower"),
    ("execute.task_run_s", "s", "lower"), ("execute.task_cpu_s", "s", "lower"),
    ("execute.gc_s", "s", "lower"), ("execute.core_busy_frac", "ratio", "higher"),
    ("execute.max_task_s", "s", "lower"), ("execute.shuffle_write_mb", "MB", "lower"),
    ("execute.shuffle_read_mb", "MB", "lower"),
    ("execute.max_task_shuffle_read_mb", "MB", "lower"), ("execute.spill_mb", "MB", "lower"),
    ("sources.input_mb", "MB", "lower"), ("sources.input_rows", "count", "lower"),
    ("sources.output_mb", "MB", "lower"), ("sources.output_rows", "count", "lower"),
    ("sources.write_s", "s", "lower"),
    ("pipeline_manager.makespan_s", "s", "lower"), ("pipeline_manager.busy_s", "s", "lower"),
    ("pipeline_manager.overlap", "ratio", "higher"),
    ("pipeline_manager.attempts", "count", "lower"), ("pipeline_manager.failed", "count", "lower"),
] + [(f"pipeline.{p}_s", "s", "lower") for p in PIPELINES] + [
    ("climate.sharded_months", "count", "lower"), ("climate.inbound_months", "count", "lower"),
    ("climate.doc_parts", "count", "lower"),
    ("process_cache.builds", "count", "lower"), ("process_cache.build_s", "s", "lower"),
    ("cold.first_round_s", "s", "lower"),
    ("round.raw_s", "s", "lower"), ("setup.raw_s", "s", "lower"),
    ("calibration.ratio", "ratio", "lower"), ("peak_rss_mb", "MB", "lower"),
    ("ops.samples", "count", "higher"), ("ops.p50_s", "s", "lower"),
    ("ops.tail_pct", "pct", "higher"), ("ops.tail_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"), ("trace.unattributed_s", "s", "lower"),
]


def layer_table(queries):
    """(name, unit, better) of every per-layer metric, queries last."""
    return LAYER_METRICS + [(f"query.{q}_s", "s", "lower") for q in queries]


def metric_names(queries):
    return [n for n, _, _ in layer_table(queries)]
