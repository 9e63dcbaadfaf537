"""Metric arithmetic of the benchmark: percentiles under the ten-samples
rule, end-to-end figures from op records, per-layer figures and self times
from spans. Pure functions over the JVM's `result.json` and `spans.jsonl`."""
import math

# A percentile is reported only when at least this many samples lie beyond it.
BEYOND = 10

# Items an op of each workload completes, for the throughput metric.
THROUGHPUT = {"etl_ingest": "records_per_s", "corpus_curate": "docs_per_s"}

QUERY_PACKS = ("textops", "dedup", "similarity", "pipeline")

# Units of the end-to-end metrics (untraced runs) and of the per-layer
# metrics (traced runs) that run.py prints, in BENCHMARK.json's order.
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    # layer *_s figures are mean seconds per call
    "schema.infer_s": "s", "schema.records_per_s": "1/s",
    "tables.upsert_s": "s", "tables.create_s": "s", "tables.replace_s": "s",
    "tables.ctas_s": "s", "tables.rows_written_per_row_upserted": "ratio",
    "tables.bytes_written_per_input_byte": "ratio",
    "io.append_s": "s", "io.compact_s": "s", "io.read_latest_s": "s",
    "io.files_per_partition": "count", "io.bytes_written_per_input_byte": "ratio",
    "prune.first_page_s": "s", "prune.next_page_s": "s", "prune.release_s": "s",
    "prune.rows_read_per_row_returned": "ratio",
    "queries.textops_s": "s", "queries.dedup_s": "s", "queries.similarity_s": "s",
    "queries.pipeline_s": "s",
    "assets.build_s": "s", "assets.builds": "count",
    "streaming.ingest_s": "s", "streaming.batches": "count",
    "streaming.landed_per_input": "ratio",
    "spark.jobs": "count/op", "spark.tasks": "count/op", "spark.task_busy_s": "s/op",
    "spark.cpu_util": "ratio", "spark.gc_s": "s/op", "spark.shuffle_write_bytes": "B/op",
    "spark.shuffle_read_bytes": "B/op", "spark.spill_bytes": "B/op",
    "spark.input_records": "count/op",
    # whole-run figures from the traced run
    "op_tail_s": "s",
    "records_per_s": "1/s", "docs_per_s": "1/s", "failed_ops_ratio": "ratio",
    "trace.op_p50_s": "s", "trace.cost_s": "s/op",
}


def reportable(n: int, p: float) -> bool:
    """True when n samples leave at least BEYOND of them above percentile p (0..1)."""
    return n * (1.0 - p) >= BEYOND - 1e-9


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile p (0..1) of `values`; raises when the
    sample is too small to carry it under the ten-samples rule."""
    xs = sorted(values)
    if not reportable(len(xs), p):
        raise ValueError(f"{len(xs)} samples cannot carry p{p * 100:g}")
    pos = (len(xs) - 1) * p
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile n samples can carry (at least the median)."""
    return max(0.5, 1.0 - BEYOND / n) if n else 0.5


def failed_ops_ratio(ops, failures) -> float:
    """Failed over attempted ops; an op failed if it raised or a check
    rejected its output (`failures` maps op index to messages)."""
    if not ops:
        return 1.0
    bad = {o["index"] for o in ops if o.get("error")} | set(failures)
    return len(bad) / len(ops)


def items_per_op(workload: str, op: dict, manifest: dict) -> float:
    if workload == "etl_ingest":
        return op["info"].get("records", 0)
    return manifest["rows"]["documents"]


def end_to_end(workload, result, manifest, setup_s) -> dict:
    ops = result["ops"]
    lat = [o["dur_s"] for o in ops]
    busy = sum(lat)
    items = sum(items_per_op(workload, o, manifest) for o in ops)
    return {
        "setup_s": setup_s,
        "op_p50_s": percentile(lat, 0.5),
        "items_per_s": items / busy,
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
    }


# ------------------------------------------------------------------ spans

def self_times(spans) -> dict:
    """Per span name: calls, total seconds, and self seconds (the span's
    time minus the part of it that its child spans cover)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cur = 0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], cur), min(c["end_ns"], end)
            if b > a:
                covered += b - a
                cur = b
        agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += (end - start) / 1e9
        agg["self_s"] += (end - start - covered) / 1e9
    return out


def _dur(s) -> float:
    return (s["end_ns"] - s["start_ns"]) / 1e9


def _mean_call(spans, name) -> float:
    d = [_dur(s) for s in spans if s["name"] == name]
    return sum(d) / len(d) if d else 0.0


def _jobs_under(spans, names) -> list:
    ids = {s["id"] for s in spans if s["name"] in names}
    return [s for s in spans if s["name"] == "spark.job" and s["parent"] in ids]


def _ratio(num, den) -> float:
    return num / den if den else 0.0


def per_layer(workload, result, manifest, spans, landing, failures, cores) -> dict:
    """Every per-layer metric from a traced run (zero on an idle layer)."""
    ops = result["ops"]
    n_ops = len(ops)
    lat = [o["dur_s"] for o in ops]
    busy = sum(lat)
    layer = [s for s in spans if s["name"] != "spark.job"]
    jobs = [s for s in spans if s["name"] == "spark.job"]
    jsum = lambda js, k: sum(j["attrs"].get(k, 0) for j in js)

    m = {}
    infer = [s for s in layer if s["name"] == "schema.infer"]
    m["schema.infer_s"] = _mean_call(layer, "schema.infer")
    m["schema.records_per_s"] = _ratio(sum(s["attrs"].get("records", 0) for s in infer),
                                       sum(_dur(s) for s in infer))
    for call in ("upsert", "create", "replace", "ctas"):
        m[f"tables.{call}_s"] = _mean_call(layer, f"tables.{call}")
    upserts = [s for s in layer if s["name"] == "tables.upsert"]
    up_jobs = _jobs_under(spans, {"tables.upsert"})
    up_ops = {s["op"] for s in upserts}
    m["tables.rows_written_per_row_upserted"] = _ratio(
        jsum(up_jobs, "output_records"), sum(s["attrs"].get("records", 0) for s in upserts))
    m["tables.bytes_written_per_input_byte"] = _ratio(
        jsum(up_jobs, "output_bytes"),
        sum(o["info"].get("input_bytes", 0) for o in ops if o["index"] in up_ops))
    for call in ("append", "compact", "read_latest"):
        m[f"io.{call}_s"] = _mean_call(layer, f"io.{call}")
    m["io.files_per_partition"] = landing.get("files_per_partition", 0.0)
    # bytes the appends wrote plus what the compactions' Spark jobs wrote
    batches = [o for o in ops if o["kind"] == "batch"]
    m["io.bytes_written_per_input_byte"] = _ratio(
        sum(o["info"].get("appended_bytes", 0) for o in batches)
        + jsum(_jobs_under(spans, {"io.compact"}), "output_bytes"),
        sum(o["info"].get("input_bytes", 0) for o in batches))

    m["prune.first_page_s"] = _mean_call(layer, "prune.first_page")
    m["prune.next_page_s"] = _mean_call(layer, "prune.next_page")
    m["prune.release_s"] = _mean_call(layer, "prune.release")
    m["prune.rows_read_per_row_returned"] = _ratio(
        jsum(_jobs_under(spans, {"prune.next_page"}), "input_records"),
        sum(s["attrs"].get("rows", 0) for s in layer if s["name"] == "prune.next_page"))

    # a pack's time per op: planning, then running the plan (first page or collect)
    per_op = {}
    for s in layer:
        if s["name"] in ("queries.plan", "queries.collect", "prune.first_page"):
            per_op.setdefault((s["attrs"].get("pack"), s["op"]), 0.0)
            per_op[(s["attrs"].get("pack"), s["op"])] += _dur(s)
    for pack in QUERY_PACKS:
        xs = [v for (p, _), v in per_op.items() if p == pack]
        m[f"queries.{pack}_s"] = sum(xs) / len(xs) if xs else 0.0

    builds = result.get("asset_builds_s", {})
    m["assets.build_s"] = float(sum(builds.values()))
    m["assets.builds"] = len(builds)

    ingest = [o for o in ops if o["kind"] == "ingest"]
    m["streaming.ingest_s"] = sum(o["dur_s"] for o in ingest)
    m["streaming.batches"] = sum(o["info"].get("batches", 0) for o in ingest)
    m["streaming.landed_per_input"] = _ratio(landing.get("stream_landed", 0),
                                             sum(o["info"].get("input_rows", 0) for o in ingest))

    per = lambda v: _ratio(v, n_ops)
    m["spark.jobs"] = per(len(jobs))
    m["spark.tasks"] = per(jsum(jobs, "tasks"))
    m["spark.task_busy_s"] = per(jsum(jobs, "busy_ms") / 1e3)
    m["spark.cpu_util"] = _ratio(jsum(jobs, "busy_ms") / 1e3, busy * cores)
    m["spark.gc_s"] = per(jsum(jobs, "gc_ms") / 1e3)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_records"):
        m[f"spark.{k}"] = per(jsum(jobs, k))

    tail = tail_percentile(n_ops)
    m["op_tail_s"] = percentile(lat, tail) if reportable(n_ops, tail) else 0.0
    items = sum(items_per_op(workload, o, manifest) for o in ops)
    for w, name in THROUGHPUT.items():
        m[name] = items / busy if w == workload and busy else 0.0
    m["failed_ops_ratio"] = failed_ops_ratio(ops, failures)
    m["trace.op_p50_s"] = percentile(lat, 0.5) if reportable(n_ops, 0.5) else 0.0
    m["trace.cost_s"] = per(result.get("trace_cost_s", 0.0))
    return m
