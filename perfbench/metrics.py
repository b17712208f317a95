"""Turn the harness's raw samples into the metrics of BENCHMARK.json.

End-to-end metrics come from the untraced passes. Per-layer metrics come
from the spans of the traced passes: a span's layer is the first part of
its name (`ingest`, `expr`, `mongo`, `mysql`, `report`, `stagecache`,
`ext`), and each Spark job is charged to the span that launched it.
Per-pass values are reduced to their median over the run's passes.
"""
import statistics

CORES = 4

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "input_mb_per_s": "MB/s",
             "driver_heap_peak_mb": "MB"}

# the BenchStages rows the registry workload builds (Registry.Stages)
STAGES = ["mysql_parsed", "doc_tf", "simhash_pairs"]

LAYER_UNITS = {
    "ingest.construct_s": "s", "ingest.exec_s": "s", "ingest.jobs": "count",
    "ingest.read_bytes_per_input_byte": "ratio",
    "ingest.shuffle_write_bytes": "bytes",
    "expr.parse_s": "s", "expr.records_per_s": "1/s", "expr.task_cpu_s": "s",
    "mongo.exec_s": "s", "mongo.jobs": "count",
    "mongo.shuffle_write_bytes": "bytes", "mongo.cached_scan_bytes": "bytes",
    "mysql.exec_s": "s", "mysql.jobs": "count",
    "mysql.shuffle_write_bytes": "bytes", "mysql.patterns": "count",
    "report.sheets_s": "s", "report.warnings_s": "s", "report.xlsx_s": "s",
    "report.bytes_written": "bytes", "report.rows_collected": "count",
    "report.driver_alloc_mb": "MB",
    **{f"stagecache.build_s.{s}": "s" for s in STAGES},
    "stagecache.pin_bytes": "bytes", "stagecache.consumer_rebuilds": "count",
    "stage_build_s": "s",
    "ext.construct_s": "s", "ext.plan_s": "s", "ext.exec_s": "s",
    "ext.jobs_per_query": "count", "ext.tasks_per_job": "count",
    "query_p50_s": "s", "query_p90_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.core_use": "ratio",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "error_rate": "ratio",
    "trace.pass_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q):
    """Nearest-rank quantile."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs))) - 1))]


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def _pass_layers(spans, nbytes, records):
    """Per-layer values of one traced pass."""
    def of(layer):
        return [s for s in spans if s["name"].split(".")[0] == layer]

    def tot(ss, key):
        return sum(s[key] for s in ss)

    top = [s for s in spans if s["name"] == "pass"][0]
    v = {}
    ingest = of("ingest")
    v["ingest.construct_s"] = sum(_dur(s) for s in ingest if s["name"] == "ingest.construct")
    v["ingest.exec_s"] = sum(_dur(s) for s in ingest if s["name"] != "ingest.construct")
    v["ingest.jobs"] = tot(ingest, "jobs")
    v["ingest.read_bytes_per_input_byte"] = (
        tot(ingest, "input_bytes") / nbytes if ingest and nbytes else 0.0)
    v["ingest.shuffle_write_bytes"] = tot(ingest, "shuffle_write_bytes")
    expr = of("expr")
    parse_s = sum(_dur(s) for s in expr)
    v["expr.parse_s"] = parse_s
    v["expr.records_per_s"] = records / parse_s if parse_s else 0.0
    v["expr.task_cpu_s"] = tot(expr, "cpu_ns") / 1e9
    for layer in ("mongo", "mysql"):
        ss = of(layer)
        v[f"{layer}.exec_s"] = sum(_dur(s) for s in ss if s["name"] != f"{layer}.construct")
        v[f"{layer}.jobs"] = tot(ss, "jobs")
        v[f"{layer}.shuffle_write_bytes"] = tot(ss, "shuffle_write_bytes")
    for name in ("sheets", "warnings", "xlsx"):
        v[f"report.{name}_s"] = sum(_dur(s) for s in spans if s["name"] == f"report.{name}")
    v["report.bytes_written"] = tot(of("report"), "output_bytes")
    # heap the driver thread allocates in the sinks (the workbook collects
    # every row to the driver); report spans have no child spans
    v["report.driver_alloc_mb"] = tot(of("report"), "alloc_bytes") / 1048576
    ext = of("ext")
    queries = [s for s in ext if s["name"].startswith("ext.query.")]
    for part in ("construct", "plan", "exec"):
        v[f"ext.{part}_s"] = sum(_dur(s) for s in ext if s["name"] == f"ext.{part}")
    ext_jobs = tot(ext, "jobs")
    v["ext.jobs_per_query"] = ext_jobs / len(queries) if queries else 0.0
    v["ext.tasks_per_job"] = tot(ext, "tasks") / ext_jobs if ext_jobs else 0.0
    v["spark.jobs"] = tot(spans, "jobs")
    v["spark.tasks"] = tot(spans, "tasks")
    v["spark.core_use"] = tot(spans, "cpu_ns") / 1e9 / (_dur(top) * CORES)
    v["spark.gc_s"] = top["gc_ms"] / 1e3
    v["spark.spill_bytes"] = tot(spans, "spill_bytes")
    v["spark.failed_tasks"] = tot(spans, "failed_tasks")
    children = [s for s in spans if s["parent"] == top["id"]]
    v["trace.pass_s"] = _dur(top)
    v["trace.unattributed_s"] = _dur(top) - sum(_dur(s) for s in children)
    return v


def _attribution(spans):
    """Self time per layer in one traced pass: a span's duration minus the
    time its child spans cover, summed over the spans of each layer."""
    top = [s for s in spans if s["name"] == "pass"][0]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s is top:
            continue
        own = _dur(s) - sum(_dur(c) for c in kids.get(s["id"], []))
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + own
    out["unattributed"] = _dur(top) - sum(_dur(c) for c in kids.get(top["id"], []))
    return out


def summarize(raw, nbytes, census, oracle):
    passes = raw["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    pass_s = _median([p["pass_s"] for p in plain])

    problems = list(raw["setup_failures"])
    attempted = raw["setup_attempted"]
    for p in passes:
        attempted += p["attempted"] + p["checks"]
        problems += p["failures"] + p["check_failures"]
    if oracle is not None:
        attempted += oracle["checked"]
        problems += [f"oracle {q}: {why}" for q, why in oracle["failed"].items()]
    failed = len(problems)

    e2e = {"setup_s": _median(raw["setup_s"]),
           "pass_s": pass_s,
           "input_mb_per_s": nbytes / 1e6 / pass_s if pass_s else 0.0,
           "driver_heap_peak_mb": _median([p["heap_peak_mb"] - p["heap_base_mb"]
                                           for p in plain])}

    records = census.get("lines") or census.get("entries") or 0
    per_pass, attributions = [], []
    for i, p in enumerate(passes):
        spans = [s for s in raw["spans"] if s["pass"] == i]
        if p["traced"] and spans:
            per_pass.append(_pass_layers(spans, nbytes, records))
            attributions.append(_attribution(spans))
    layer = {k: _median([v[k] for v in per_pass]) for k in (per_pass[0] if per_pass else {})}

    def gauge(name):
        return _median([p["gauges"].get(name, 0.0) for p in passes])

    layer["mongo.cached_scan_bytes"] = _median(
        [p["gauges"]["mongo.cached_scan_bytes"] for p in traced
         if "mongo.cached_scan_bytes" in p["gauges"]])
    layer["mysql.patterns"] = gauge("mysql.patterns")
    layer["report.bytes_written"] = layer.get("report.bytes_written", 0.0) + gauge("report.xlsx_bytes")
    layer["report.rows_collected"] = gauge("report.rows_collected")
    for s in STAGES:
        layer[f"stagecache.build_s.{s}"] = _median(
            [p["stage_s"][f"_stage_{s}"] for p in plain if f"_stage_{s}" in p["stage_s"]])
    layer["stagecache.pin_bytes"] = gauge("stagecache.pin_bytes")
    layer["stagecache.consumer_rebuilds"] = _median([p["consumer_rebuilds"] for p in plain])
    layer["stage_build_s"] = _median([sum(p["stage_s"].values()) for p in plain])
    samples = [q for p in plain for q in p["query_s"]]
    layer["query_p50_s"] = _quantile(samples, 0.5)
    layer["query_p90_s"] = _quantile(samples, 0.9)
    layer["error_rate"] = failed / attempted if attempted else 0.0
    layer["trace.overhead_s"] = (layer.get("trace.pass_s", pass_s) - pass_s) if traced else 0.0

    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "problems": problems,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "per_layer": {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                      for k, u in LAYER_UNITS.items()},
        "query_samples": len(samples),
        "self_time_s": {k: _median([a.get(k, 0.0) for a in attributions])
                        for k in (attributions[0] if attributions else {})},
    }
