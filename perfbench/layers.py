"""The traced run: per-layer metrics of one workload.

Untraced and traced passes alternate over the measuring time, so
``trace.overhead_s`` (traced minus untraced median pass) comes from one
process. Spans come only from this file: the module attributes
the program's callers resolve at call time are swapped for spanned
versions for the traced passes and restored afterwards.

Attribution: every Spark job belongs to the innermost span open when
it was submitted (one client, closed loop, so spans never overlap
except by nesting). A stage counts for the job that ran it.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import instrument
import workloads

# Modules a span can belong to; each gets a layer.<module>.self_s metric.
LAYERS = [
    "jobs.jdbc_avro_job",
    "sources.jdbc",
    "avro.schema",
    "avro.writer",
    "sources.avro",
    "queries.tpch",
    "queries.events",
    "queries.llm",
    "queries.streaming",
]

# (module path, attribute) -> span name. The attribute is looked up by
# its caller at call time, so replacing it spans every call.
WRAPPED = [
    ("dbeam_spark.jobs.jdbc_avro_job", "run_export",
     "jobs.jdbc_avro_job.run_export"),
    ("dbeam_spark.jobs.jdbc_avro_job", "read_jdbc", "sources.jdbc.read_jdbc"),
    ("dbeam_spark.jobs.jdbc_avro_job", "write_avro", "avro.writer.write_avro"),
    ("dbeam_spark.jobs.jdbc_avro_job", "spark_schema_to_avro",
     "avro.schema.spark_schema_to_avro"),
    ("dbeam_spark.sources.avro", "read_avro", "sources.avro.read_avro"),
]

STREAM_METRICS = {
    "stream.batches": "count",
    "stream.addBatch_s": "s",
    "stream.queryPlanning_s": "s",
    "stream.walCommit_s": "s",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.rows_dropped_by_watermark": "count",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = {
        "setup.build_s": "s",
        "sources.jdbc.plan_s": "s",
        "sources.jdbc.scan_s": "s",
        "sources.jdbc.rows": "count",
        "avro.writer.write_s": "s",
        "avro.writer.encode_ns_per_row": "ns/row",
        "avro.writer.compress_ns_per_row": "ns/row",
        "avro.writer.task_skew": "ratio",
        "avro.writer.output_bytes_per_row": "bytes/row",
        "sources.avro.read_s": "s",
        "avro.reader.decode_ns_per_row": "ns/row",
        "jobs.jdbc_avro_job.self_s": "s",
        "metrics.executeQueryElapsedMs": "ms",
        "metrics.writeElapsedMs": "ms",
        "export.rows_per_s": "rows/s",
        "readback.rows_per_s": "rows/s",
        "driver.jobs": "count",
        "driver.stages": "count",
        "driver.tasks": "count",
        "driver.idle_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.python_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.task_skew": "ratio",
        **STREAM_METRICS,
        "tmp.held_bytes": "bytes",
        "trace.untraced_pass_s": "s",
        "trace.traced_pass_s": "s",
        "trace.overhead_s": "s",
        "trace.covered_share": "ratio",
    }
    for layer in LAYERS:
        units[f"layer.{layer}.self_s"] = "s"
    for w in workloads.WORKLOADS.values():
        if isinstance(w, workloads.QueryWorkload):
            for q in w.queries:
                units[f"query.{q}.s"] = "s"
    return units


def _span_layer(name: str) -> str | None:
    if name.startswith("query."):
        from dbeam_spark.queries import QUERIES

        return QUERIES[name[len("query."):]].__module__.removeprefix(
            "dbeam_spark."
        )
    if name == "job.readback":  # read_avro's decode runs at collect()
        return "sources.avro"
    for _, _, span in WRAPPED:
        if span == name:
            return name.rsplit(".", 1)[0]
    return None


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _innermost(spans, t: float):
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def traced_run(spark, w, ctx, runner, seconds, run_id, dirs, build_s):
    import importlib

    tracer = instrument.Tracer(run_id)
    mods = [(importlib.import_module(m), attr, span) for m, attr, span in WRAPPED]
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in mods]
    streams = instrument.StreamProgress(spark)
    since = time.time()
    n_out = len(runner.outputs)
    # Untraced and traced passes alternate in ABBA order, at least one
    # full ABBA, so JIT warm-up drift falls on both sides of the overhead
    # comparison.
    untraced, traced, held = [], [], []
    t0 = time.perf_counter()
    while len(traced) < 2 or time.perf_counter() - t0 < seconds:
        for is_traced in (False, True) if len(traced) % 2 == 0 else (True, False):
            if not is_traced:
                untraced.append(runner.one_pass())
                continue
            for mod, attr, span in mods:
                tracer.wrap(mod, attr, span)
            try:
                with tracer.span("pass", n=len(traced)):
                    traced.append(runner.one_pass(tracer))
            finally:
                for mod, attr, fn in originals:
                    setattr(mod, attr, fn)
            held.append(sum(
                instrument.dir_bytes(dirs[k]) for k in ("tmp", "spark-local")
            ))
    streams.drain()
    streams.remove()
    job_times, stages = instrument.spark_jobs(spark, since)
    spans = tracer.spans
    n = len(traced)
    m: dict[str, float] = dict.fromkeys(metric_units(), 0.0)
    passes = [s for s in spans if s["name"] == "pass"]

    def in_traced(t: float) -> bool:
        return any(p["start"] <= t <= p["end"] for p in passes)

    stages = [st for st in stages if in_traced(st["job_submitted"])]

    # attribute each stage to the innermost span open at job submission
    by_span: dict[int, list[dict]] = {}
    for st in stages:
        s = _innermost(spans, st["job_submitted"])
        if s is not None:
            by_span.setdefault(s["id"], []).append(st)

    def stages_under(names):
        return [st for s in spans if s["name"] in names
                for st in by_span.get(s["id"], [])]

    def weighted_skew(sts):
        sts = [st for st in sts if st["tasks"] > 1 and st["run_s"] > 0]
        total = sum(st["run_s"] for st in sts)
        return sum(st["skew"] * st["run_s"] for st in sts) / total if total else 0.0

    pass_ids = {s["id"] for s in passes}
    job_spans = [s for s in spans if s["parent"] in pass_ids]
    idle = 0.0
    for js in job_spans:
        inner = [
            (max(st["start"], js["start"]), min(st["end"], js["end"]))
            for s in spans
            if s["start"] >= js["start"] and s["end"] <= js["end"]
            for st in by_span.get(s["id"], [])
            if st["start"] is not None and st["end"] is not None
        ]
        idle += js["end"] - js["start"] - instrument.covered_s(inner)
    m["driver.idle_s"] = idle / n
    m["driver.jobs"] = sum(map(in_traced, job_times)) / n
    m["driver.stages"] = len(stages) / n
    m["driver.tasks"] = sum(st["tasks"] for st in stages) / n
    for key, field in [
        ("spark.executor_run_s", "run_s"),
        ("spark.executor_cpu_s", "cpu_s"),
        ("spark.gc_s", "gc_s"),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
        ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
        ("spark.spill_bytes", "spill_bytes"),
    ]:
        m[key] = sum(st[field] for st in stages) / n
    m["spark.python_s"] = max(0.0, m["spark.executor_run_s"] - m["spark.executor_cpu_s"])
    m["spark.task_skew"] = weighted_skew(stages)

    # per-layer self time and the share of pass time the layers cover
    layer_self: dict[str, float] = {}
    for s in spans:
        layer = _span_layer(s["name"])
        if layer is not None:
            layer_self[layer] = layer_self.get(layer, 0.0) + instrument.self_time(spans, s)
    for layer, v in layer_self.items():
        m[f"layer.{layer}.self_s"] = v / n
    pass_total = sum(s["end"] - s["start"] for s in passes)
    m["trace.covered_share"] = sum(layer_self.values()) / pass_total
    m["trace.untraced_pass_s"] = _median(p[0] for p in untraced)
    m["trace.traced_pass_s"] = _median(p[0] for p in traced)
    m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.untraced_pass_s"]
    m["tmp.held_bytes"] = float(held[-1]) if held else 0.0
    m["setup.build_s"] = build_s

    for name in {s["name"] for s in job_spans if s["name"].startswith("query.")}:
        m[f"{name}.s"] = _median(
            s["end"] - s["start"] for s in job_spans if s["name"] == name
        )

    ev = [e for e in streams.events if in_traced(e["at"])]
    if ev:
        m["stream.batches"] = len(ev) / n
        for key, phase in [("stream.addBatch_s", "addBatch"),
                           ("stream.queryPlanning_s", "queryPlanning"),
                           ("stream.walCommit_s", "walCommit")]:
            m[key] = sum(e["duration_ms"].get(phase, 0) for e in ev) / 1e3 / n
        last: dict[str, dict] = {}
        for e in ev:
            last[e["query"]] = e
        m["stream.state_rows"] = sum(e["state_rows"] for e in last.values()) / n
        m["stream.state_mem_bytes"] = sum(
            e["state_mem_bytes"] for e in last.values()
        ) / n
        m["stream.rows_dropped_by_watermark"] = sum(e["dropped"] for e in ev) / n

    if isinstance(w, workloads.ExportWorkload):
        _export_layers(spark, w, ctx, spans, runner.outputs[n_out:], m,
                       stages_under, weighted_skew)

    units = metric_units()
    return {k: (float(v), units[k]) for k, v in m.items()}, spans


def _dur(spans, name):
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def _export_layers(spark, w, ctx, spans, outputs, m, stages_under, weighted_skew):
    """Export-only layers: span medians plus three driver-side probes
    (JDBC scan into the noop sink, OcfEncoder with and without deflate,
    read_avro_file of one part file), run after the traced passes."""
    import glob

    from dbeam_spark.avro.reader import read_avro_file
    from dbeam_spark.avro.writer import OcfEncoder
    from dbeam_spark.sources.jdbc import read_jdbc

    rows = ctx.n_rows
    exports = [out for name, out in outputs if name == "export"]
    m["sources.jdbc.rows"] = rows
    m["sources.jdbc.plan_s"] = _median(_dur(spans, "sources.jdbc.read_jdbc"))
    m["avro.writer.write_s"] = _median(_dur(spans, "avro.writer.write_avro"))
    m["avro.writer.task_skew"] = weighted_skew(stages_under({"avro.writer.write_avro"}))
    m["sources.avro.read_s"] = _median(_dur(spans, "job.readback"))
    export_s = _median(_dur(spans, "jobs.jdbc_avro_job.run_export"))
    m["export.rows_per_s"] = rows / export_s if export_s else 0.0
    m["readback.rows_per_s"] = rows / m["sources.avro.read_s"] if m["sources.avro.read_s"] else 0.0
    m["jobs.jdbc_avro_job.self_s"] = _median(
        instrument.self_time(spans, s) for s in spans
        if s["name"] == "jobs.jdbc_avro_job.run_export"
    )
    if exports:
        metrics = [met for _, met in exports]
        m["metrics.executeQueryElapsedMs"] = _median(x["executeQueryElapsedMs"] for x in metrics)
        m["metrics.writeElapsedMs"] = _median(x["writeElapsedMs"] for x in metrics)
        m["avro.writer.output_bytes_per_row"] = metrics[-1]["bytesWritten"] / rows

    path = exports[-1][0] if exports else ctx.exports[-1]
    opts = w.export_opts(ctx, path)
    scan = []
    for _ in range(3):
        df = read_jdbc(spark, opts).df  # bounds query, untimed
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        scan.append(time.perf_counter() - t)
    m["sources.jdbc.scan_s"] = _median(scan)

    with open(os.path.join(path, "_AVRO_SCHEMA.avsc")) as fh:
        schema = json.load(fh)
    table = read_jdbc(spark, opts).df.toArrow()
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    batches = table.to_batches(max_chunksize=batch_rows)

    def encode_ns(codec):
        runs = []
        for _ in range(3):
            enc = OcfEncoder(schema, codec)
            t = time.perf_counter_ns()
            for rb in batches:
                for _block in enc.encode_batch(rb):
                    pass
            runs.append((time.perf_counter_ns() - t) / table.num_rows)
        return _median(runs)

    plain = encode_ns("null")
    m["avro.writer.encode_ns_per_row"] = plain
    m["avro.writer.compress_ns_per_row"] = max(0.0, encode_ns("deflate6") - plain)

    part = sorted(glob.glob(os.path.join(path, "part-*.avro")))[0]
    dec = []
    for _ in range(3):
        t = time.perf_counter_ns()
        _, part_rows = read_avro_file(part)
        dec.append((time.perf_counter_ns() - t) / max(1, len(part_rows)))
    m["avro.reader.decode_ns_per_row"] = _median(dec)
