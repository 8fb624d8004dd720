"""Metric math for the benchmark: percentiles, geomean, interval unions,
span self time and cold-minus-warm attribution, plus the reduction of one
harness record to the end-to-end and per-layer metrics."""

import math
import statistics

MIN_BEYOND = 10
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
                    "op_p50_s": "s", "peak_heap_mb": "MB"}
NIGHT_ACTIONS = ("bootstrapped", "published", "unchanged", "rebuilt",
                 "skipped", "updated")
CATALOGS = ("Relational", "ScalarOps", "SkewOps", "EventOps", "TextOps",
            "PipelineOps", "CurationOps", "VectorOps", "IngestOps",
            "MultimodalOps", "NightlyOps")
TASK_METRICS = {
    "tasks.count": "tasks", "tasks.cpu_s": "cpu_s", "tasks.gc_s": "gc_s",
    "scan.bytes": "input_bytes", "scan.rows": "input_rows",
    "exchange.shuffle_read_bytes": "shuffle_read_bytes",
    "exchange.shuffle_write_bytes": "shuffle_write_bytes",
    "exchange.spill_bytes": "spill_bytes",
    "output.bytes": "output_bytes", "output.rows": "output_rows",
}


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p <= 100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples that lie above the nearest-rank percentile `p` of `n`."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_reportable(n, candidates=(99, 95, 90, 75, 50),
                       min_beyond=MIN_BEYOND):
    """The highest of `candidates` that keeps `min_beyond` samples of `n`
    beyond it, or None."""
    for p in sorted(candidates, reverse=True):
        if beyond(n, p) >= min_beyond:
            return p
    return None


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the union of its children's intervals
    (clipped to the span)."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def cold_minus_warm(cold, warm):
    """Artifact build time: the sum over queries of the cold time minus
    the warm time, over the queries timed both ways."""
    return sum(cold[q] - warm[q] for q in cold if q in warm)


# ------------------------------------------------------------ reduction
def _per_pass(total, passes):
    return total / max(1, passes)


def end_to_end(rec):
    """The metrics a user sees, from an untraced record. `pass_s` is the
    time one pass's operations take, summed, so the harness's own checks
    between operations are not in it."""
    ops = rec["ops"]
    durs = [o["end"] - o["start"] for o in ops]
    passes = {}
    for o, d in zip(ops, durs):
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + d
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "pass_s": statistics.median(passes.values()),
        "op_geomean_s": geomean(durs),
        "op_p50_s": statistics.median(durs),
        "peak_heap_mb": rec["peak_heap_bytes"] / 2**20,
    }


def spans_with_self_time(rec):
    """The record's spans, each with `self_s` added (children are child
    spans and, for a span that started jobs, those jobs)."""
    spans = rec["spans"]
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append((s["start"], s["end"]))
    for j in rec.get("jobs", []):
        if j["group"] in kids:
            kids[j["group"]].append((j["start"], j["end"]))
    out = []
    for s in spans:
        d = dict(s)
        d["self_s"] = self_time((s["start"], s["end"]), kids[s["id"]])
        out.append(d)
    return out


def per_layer(rec):
    """Per-layer metrics from a traced record, per pass of the workload."""
    n = len(rec["passes"])
    ops = rec["ops"]
    spans = {s["id"]: s for s in rec["spans"]}
    op_of_span = {}

    def owning_op(sid):
        if sid not in op_of_span:
            s = spans.get(sid)
            if s is None or s["parent"] < 0:
                op_of_span[sid] = None
            else:
                op_of_span[sid] = (sid if sid in op_ids
                                   else owning_op(s["parent"]))
        return op_of_span[sid]

    op_ids = {o["span"] for o in ops}
    m = {}

    def total(kind, field):
        return sum(o.get(field, 0.0) for o in ops if o["kind"] == kind)

    # ingest
    imports = [o for o in ops if o["kind"] == "import"]
    pq = [o for o in imports if o["phase"] == "parquet"]
    jd = [o for o in imports if o["phase"] == "jdbc"]
    m["ingest.probe_s"] = _per_pass(sum(o.get("probe_s", 0) for o in imports), n)
    m["ingest.parquet_write_s"] = _per_pass(sum(o["write_s"] for o in pq), n)
    m["ingest.jdbc_write_s"] = _per_pass(sum(o["write_s"] for o in jd), n)
    m["ingest.parquet_rows_per_s"] = _rate(pq)
    m["ingest.jdbc_rows_per_s"] = _rate(jd)
    m["ingest.bytes_written"] = _mean(rec.get("sink_bytes", []))
    m["ingest.files_written"] = _mean(rec.get("sink_files", []))
    m["storage.bytes_per_input_byte"] = _median(
        rec.get("stored_bytes_per_input_byte", []))

    # operators and memo
    queries = [o for o in ops if o["kind"] == "query"]
    m["operators.build_s"] = _per_pass(total("query", "build_s"), n)
    m["operators.exec_s"] = _per_pass(total("query", "exec_s"), n)
    for c in CATALOGS:
        m["operators.%s.total_s" % c] = _per_pass(
            sum(o["end"] - o["start"] for o in queries if o["catalog"] == c), n)
    m["memo.build_s"] = _per_pass(total("query", "memo_s"), n)

    # artifacts
    cold = {(o["pass"], o["name"]): o["end"] - o["start"]
            for o in queries if o["phase"] == "cold"}
    warm = {(o["pass"], o["name"]): o["end"] - o["start"]
            for o in queries if o["phase"] == "warm"}
    m["artifacts.build_s"] = _per_pass(cold_minus_warm(cold, warm), n)
    m["artifacts.cold_total_s"] = _per_pass(sum(cold.values()), n)
    m["artifacts.warm_total_s"] = _per_pass(sum(warm.values()), n)
    m["artifacts.bytes"] = _mean(rec.get("artifact_bytes", []))
    m["artifacts.files"] = _mean(rec.get("artifact_files", []))

    # nightly
    nights = [o for o in ops if o["kind"] == "night"]
    for phase in ("full", "repeat"):
        m["nightly.%s_s" % phase] = _per_pass(
            sum(o["end"] - o["start"] for o in nights if o["phase"] == phase), n)
    for a in NIGHT_ACTIONS:
        m["nightly.steps." + a] = _per_pass(
            sum(o.get("steps", []).count(a) for o in nights), n)
    m["nightly.compacted"] = _per_pass(sum(o.get("compacted", 0) for o in nights), n)

    # Spark engine, attributed to the operation whose span started the job
    jobs_by_op = {}
    for j in rec.get("jobs", []):
        op = owning_op(j["group"])
        if op is not None:
            jobs_by_op.setdefault(op, []).append((j["start"], j["end"]))
    job_s = gap_s = 0.0
    for o in ops:
        iv = clip(jobs_by_op.get(o["span"], []), o["start"], o["end"])
        u = union_length(iv)
        job_s += u
        gap_s += (o["end"] - o["start"]) - u
    m["driver.jobs"] = _per_pass(sum(len(v) for v in jobs_by_op.values()), n)
    m["driver.job_s"] = _per_pass(job_s, n)
    m["driver.gap_s"] = _per_pass(gap_s, n)
    fields = rec.get("task_fields", [])
    sums = [0.0] * len(fields)
    for g, vals in rec.get("tasks_by_group", {}).items():
        if owning_op(int(g)) is not None:
            sums = [a + b for a, b in zip(sums, vals)]
    for name, field in TASK_METRICS.items():
        m[name] = _per_pass(sums[fields.index(field)] if field in fields else 0.0, n)
    jdbc_tasks = [rec.get("tasks_by_group", {}).get(str(s["id"]), [0])[0]
                  for o in jd for s in rec["spans"]
                  if s["parent"] == o["span"] and s["name"] == "write"]
    m["ingest.jdbc_tasks"] = max(jdbc_tasks) if jdbc_tasks else 0.0

    # time in the measured window outside every operation
    run = (rec["measure_start"], rec["measure_end"])
    m["harness.self_s"] = _per_pass(
        self_time(run, [(o["start"], o["end"]) for o in ops]), n)
    return m


def unit(name):
    """Unit of a per-layer metric."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("per_byte") or name.endswith("per_input_byte"):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def _rate(ops):
    t = sum(o["write_s"] for o in ops)
    return sum(o.get("rows", 0) for o in ops) / t if t > 0 else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0
