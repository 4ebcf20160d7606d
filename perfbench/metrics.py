"""Turns one harness artifact (ops, spans, counters, checks) into metrics."""

import statistics

TAIL_BEYOND = 10

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "retained_heap_mb": "MB"}

SPARK = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s",
         "spark.gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
         "spark.spill_mb", "spark.input_mb", "spark.output_mb", "spark.idle_s"]
STORAGE = ["storage.persisted_rdds", "storage.persisted_mb", "storage.released_rdds"]
SOURCES = ["rawzone.land_s", "rawzone.runs_listed", "warehouse.files", "warehouse.mb",
           "pipeline.batch_gated_s", "pipeline.stream_gated_s", "streaming.triggers",
           "retention.s", "retention.units", "runlog.dq_gate_ms", "runlog.dim_media_ms",
           "runlog.dim_visitor_ms", "runlog.fact_ms", "runlog.trigger_gate_ms",
           "runlog.trigger_fact_ms"]
STORE = ["serve.text_s", "serve.vector_s", "advance.rag_s", "advance.vec_s",
         "snapshots.depth_rag", "snapshots.depth_vec", "snapshots.mb", "recall_probe_s",
         "recall", "text_p50_s", "vector_p50_s"]
# the objects Registry.all concatenates
MODULES = ["Relational", "GraphOps", "TextOps", "TrainPrep", "Dedup", "Similarity",
           "VecStore", "Multimodal", "EventOps", "AsOf", "Skew", "WistiaGate"]
REGISTRY = [f"registry.{m}_{x}" for m in MODULES for x in ("s", "jobs")]
RUN = ["fail_ratio", "trace.harness_s", "trace.coverage", "host.calib_s"]
PER_LAYER = SPARK + STORAGE + SOURCES + STORE + REGISTRY + RUN
# the request kinds of store_serving, about 1.4x apart in latency
REQUEST_KINDS = ("text", "vector")

# counters the harness records per op, averaged per op
PER_OP_COUNTERS = SPARK[:-1] + STORAGE + [
    "rawzone.runs_listed", "warehouse.files", "warehouse.mb", "streaming.triggers",
    "retention.units", "runlog.dq_gate_ms", "runlog.dim_media_ms", "runlog.dim_visitor_ms",
    "runlog.fact_ms", "runlog.trigger_gate_ms", "runlog.trigger_fact_ms"]
# spans whose per-op self time is a layer metric
SPAN_METRIC = {"rawzone.land": "rawzone.land_s",
               "pipeline.batch_gated": "pipeline.batch_gated_s",
               "pipeline.stream_gated": "pipeline.stream_gated_s",
               "retention": "retention.s",
               "serve.text": "serve.text_s", "serve.vector": "serve.vector_s"}


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name in ("recall", "fail_ratio", "trace.coverage"):
        return "ratio"
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """Latency at the highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n); value and percentile are None when there
    are not more than ten samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None, None, n
    k = n - 1 - TAIL_BEYOND
    return xs[k], 100.0 * (k + 1) / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """Each span's duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        if s["parent"] >= 0:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [s["end"] - s["start"] - covered(kids.get(i, []), s["start"], s["end"])
            for i, s in enumerate(spans)]


def growth_ratio(latencies):
    """Median latency of the last third of ops over that of the first third."""
    k = len(latencies) // 3
    if k == 0:
        return None
    return median(latencies[-k:]) / median(latencies[:k])


def apply_checks(art):
    """Mark every op a failed check covers (its `ops`) as failed."""
    by_id = {o["id"]: o for o in art["ops"]}
    for c in art["checks"]:
        if c["ok"]:
            continue
        for i in c["ops"]:
            o = by_id[i]
            if o["ok"]:
                o["ok"], o["error"] = False, f"wrong output: {c['name']}"


def verdict(art):
    """(correct, attempted, failed) after the output checks are applied."""
    apply_checks(art)
    attempted = len(art["ops"])
    failed = sum(1 for o in art["ops"] if not o["ok"])
    correct = attempted > 0 and failed == 0 and all(c["ok"] for c in art["checks"])
    return correct, attempted, failed


def latencies(art, kinds=None):
    return [o["end"] - o["start"] for o in art["ops"]
            if o["ok"] and (kinds is None or o["kind"] in kinds)]


def op_p50(art):
    """Median op latency; on store_serving the mean of the median text and
    the median vector request, so the figure does not jump between the two
    kinds with the mix of ok requests."""
    if art["workload"] == "store_serving":
        return sum(median(latencies(art, {k})) for k in REQUEST_KINDS) / len(REQUEST_KINDS)
    return median(latencies(art))


def end_to_end(art):
    """Every end-to-end metric of one untraced run."""
    return {
        "setup_s": art["session_s"] + art["prepare_s"],
        "ops_per_s": len(latencies(art)) / art["loop_s"],
        "op_p50_s": op_p50(art),
        "retained_heap_mb": art["retained_heap_mb"],
    }


def growth(art):
    """growth_ratio of the nights, or the mean of that of each request kind;
    None on query_registry, whose ops are different queries."""
    if art["workload"] == "store_serving":
        rs = [growth_ratio(latencies(art, {k})) for k in REQUEST_KINDS]
        return None if None in rs else sum(rs) / len(rs)
    if art["workload"] == "wistia_nights":
        return growth_ratio(latencies(art))
    return None


def figures(art):
    """Workload figures recorded in every artifact beside the metrics."""
    value, pct, n = tail(latencies(art))
    attempted = len(art["ops"])
    failed = sum(1 for o in art["ops"] if not o["ok"])
    return {
        "op_tail_s": value, "tail_percentile": pct, "n": n,
        "text_p50_s": median(latencies(art, {"text"})),
        "vector_p50_s": median(latencies(art, {"vector"})),
        "growth_ratio": growth(art),
        "recall": art.get("extras", {}).get("recall"),
        "fail_ratio": failed / attempted if attempted else 1.0,
        "attempted": attempted, "failed": failed,
    }


def per_layer(art):
    """Every per-layer metric of one traced run. Per-op counters and self
    times are averaged over the ops; layers a workload does not call read 0."""
    ops = art["ops"]
    n = max(len(ops), 1)
    counters = art.get("counters", {})
    out = {k: 0.0 for k in PER_LAYER}

    def of(o):
        return counters.get(str(o["id"]), {})

    for k in PER_OP_COUNTERS:
        out[k] = sum(of(o).get(k, 0.0) for o in ops) / n
    tasks = art.get("tasks", {})
    out["spark.idle_s"] = sum(
        (o["end"] - o["start"]) - covered(tasks.get(str(o["id"]), []), o["start"], o["end"])
        for o in ops) / n

    spans = art.get("spans", [])
    by_op = {}
    for s, st in zip(spans, self_times(spans)):
        if s["op"] >= 0 and s["parent"] >= 0:
            layer = by_op.setdefault(s["op"], {})
            layer[s["name"]] = layer.get(s["name"], 0.0) + st
    for span, metric in SPAN_METRIC.items():
        out[metric] = median([m[span] for m in by_op.values() if span in m])
    for m in MODULES:
        mine = [o for o in ops if f"registry.{m}" in by_op.get(o["id"], {})]
        if mine:
            out[f"registry.{m}_s"] = statistics.fmean(by_op[o["id"]][f"registry.{m}"]
                                                      for o in mine)
            out[f"registry.{m}_jobs"] = statistics.fmean(of(o).get("spark.jobs", 0.0)
                                                         for o in mine)
    for kind in ("rag", "vec"):
        out[f"advance.{kind}_s"] = median([s["end"] - s["start"] for s in spans
                                          if s["op"] < 0 and s["name"] == f"advance.{kind}"])

    # the part of each op's wall time no layer span accounts for
    walls = {o["id"]: o["end"] - o["start"] for o in ops}
    layers = {i: sum(by_op.get(i, {}).values()) for i in walls}
    out["trace.harness_s"] = sum(walls[i] - layers[i] for i in walls) / n
    total = sum(walls.values())
    out["trace.coverage"] = sum(layers.values()) / total if total else 0.0

    ex = art.get("extras", {})
    out["snapshots.depth_rag"] = float(ex.get("depth_rag", 0))
    out["snapshots.depth_vec"] = float(ex.get("depth_vec", 0))
    out["snapshots.mb"] = float(ex.get("snapshots_mb", 0.0))
    out["recall_probe_s"] = float(ex.get("recall_probe_s", 0.0))
    f = figures(art)
    for k in ("text_p50_s", "vector_p50_s", "recall", "fail_ratio"):
        out[k] = float(f[k] or 0.0)
    out["host.calib_s"] = art["host_calib_s"]
    return out
