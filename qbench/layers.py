"""The traced run: per-layer accounting of one pass, from outside.

After the usual set-up, a traced run makes

1. one pass without spans (the event log is on for the whole run);
2. one pass with spans: the program modules' public functions on the
   pass's path are wrapped (``workloads.Spans``) so each call records its
   time; self time = span time minus its child spans;
3. label_mixed only: each layer alone — the input scan, ``label``'s
   planning, the three cross-row stats and the scoring stage, each
   materialized with a noop write — then a crash after
   ``CRASH_AFTER_BUCKETS`` buckets and a resume, and the scoring kernel's
   sub-kernels on a ``SLAB_ROWS``-row slab of the input in this process.

A layer that a workload's pass never enters reads 0. The Spark metrics
come from the event log (``eventlog.py``) once the session has stopped.
Every time is in reference-host seconds, scaled by the host meter's
reading over the step that took it (``probe.wall_scale``).
"""

from __future__ import annotations

import os
import statistics
import time

import eventlog
import probe
from workloads import Spans

SLAB_ROWS = 10_000
SLAB_REPS = 3
CRASH_BATCH = 8
CRASH_AFTER_BUCKETS = 32
UNDER_S = 0.5

# (name, unit) of every per-layer metric, in BENCHMARK.json order
METRICS = [
    ("session.start_s", "s"), ("session.jvm_peak_rss_mb", "MB"),
    ("io.scan_s", "s"), ("io.bytes_in", "bytes"),
    ("pipeline.plan_s", "s"), ("pipeline.text_stats_s", "s"),
    ("pipeline.conv_stats_s", "s"), ("pipeline.conv_dup_stats_s", "s"),
    ("pipeline.score_stage_s", "s"),
    ("turnscore.score_pdf_ms", "ms"), ("ngram.score_texts_ms", "ms"),
    ("pii.scrub_series_ms", "ms"), ("turnscore.normalize_series_ms", "ms"),
    ("turnscore.odd_char_counts_ms", "ms"), ("turnscore.residual_ms", "ms"),
    ("turnscore.worker_peak_rss_mb", "MB"), ("turnscore.turns", "count"),
    ("turnscore.chars", "count"),
    ("checkpoint.run_s", "s"), ("checkpoint.global_stats_tables_s", "s"),
    ("checkpoint.group_jobs", "count"),
    ("checkpoint.rows_scanned_per_row_redone", "ratio"),
    ("lineage.per_bucket_s", "s"), ("report.metadata_stats_s", "s"),
    ("report.summary_json_s", "s"),
    ("entry.import_s", "s"), ("entry.build_s", "s"), ("entry.plan_s", "s"),
    ("entry.exec_s", "s"), ("entry.n_under_0_5s", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.python_worker_s", "s"), ("spark.python_worker_start_s", "s"),
    ("spark.arrow_bytes_to_py", "bytes"),
    ("spark.arrow_bytes_from_py", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.score_task_skew", "ratio"),
    ("host.meter_us", "us"), ("host.steal_share", "ratio"),
    ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"),
    ("trace.overhead_share", "ratio"), ("trace.layer_share", "ratio"),
]
UNITS = dict(METRICS)

# module attribute → span name, wrapped for the traced label_mixed pass
LABEL_SPANS = [
    ("checkpoint", "run_with_checkpoints", "checkpoint.run"),
    ("checkpoint", "global_stats_tables", "checkpoint.global_stats_tables"),
    ("pipeline", "label", "pipeline.label"),
    ("io", "read_table", "io.read_table"),
    ("io", "normalize_input", "io.normalize_input"),
    ("report", "metadata_stats", "report.metadata_stats"),
    ("report", "summary_json", "report.summary_json"),
]
# sub-kernels of turnscore.score_pdf, wrapped for the in-process slab
KERNEL_SPANS = [
    ("ngram", "score_texts", "ngram.score_texts"),
    ("rules.pii", "scrub_series", "pii.scrub_series"),
    ("turnscore", "normalize_series", "turnscore.normalize_series"),
    ("turnscore", "odd_char_counts", "turnscore.odd_char_counts"),
]


def _module(name: str):
    import importlib

    return importlib.import_module(f"qamd_spark.{name}")


def _pass(wl, tag: str, failures: list) -> tuple[float, float, dict]:
    """(raw wall, reference-host wall, meter window) of one checked pass."""
    from run import settle

    wl.prepare(tag)
    settle(wl)
    t = time.perf_counter()
    wl.run_pass(tag)
    wall = time.perf_counter() - t
    win = wl.meter.window(t, t + wall)
    failures.extend(wl.check(tag))
    return wall, wall * probe.wall_scale(win, wl.ref), win


def traced_run(wl, ref: float, record: dict, failures: list) -> tuple[int, dict]:
    """Returns (passes made, per-layer metrics without the Spark ones)."""
    from run import peak_rss_mb, proc_tree

    wl.ref = ref
    m = dict.fromkeys(UNITS, 0.0)
    _, m["trace.untraced_pass_s"], _ = _pass(wl, "untraced", failures)
    spans = Spans()
    wl.spans = spans
    if wl.name == "label_mixed":
        for mod, attr, name in LABEL_SPANS:
            spans.wrap(_module(mod), attr, name)
    t0_ms = time.time() * 1000
    try:
        traced, m["trace.pass_s"], win = _pass(wl, "traced", failures)
    finally:
        t1_ms = time.time() * 1000
        wl.spans = None
        spans.unwrap()
    k = m["trace.pass_s"] / traced
    jvm = wl.jvm_pid()
    workers = [p for p in proc_tree(jvm) if p != jvm]
    m["session.jvm_peak_rss_mb"] = peak_rss_mb(jvm)
    m["turnscore.worker_peak_rss_mb"] = max((peak_rss_mb(p) for p in workers), default=0.0)
    setup_k = probe.wall_scale(record["setup_meter"], ref)
    m["session.start_s"] = wl.session_start_s * setup_k
    m["trace.overhead_share"] = m["trace.pass_s"] / m["trace.untraced_pass_s"] - 1
    top = [s for s in spans.spans if s["parent"] is None]
    m["trace.layer_share"] = sum(s["end"] - s["start"] for s in top) / traced
    m["host.meter_us"] = win["mean_us"]
    m["host.steal_share"] = win["steal_share"]
    selfs = {n: v * k for n, v in spans.self_times().items()}
    record["trace"] = {"self_s": selfs, "window_ms": [t0_ms, t1_ms], "k": k,
                       "cpu_k": probe.cpu_scale(win, ref),
                       "eventlog": wl.conf["spark.eventLog.dir"].removeprefix("file://")}
    n_passes = 3  # the warm-up, the untraced and the traced pass
    if wl.name == "label_mixed":
        m["checkpoint.run_s"] = selfs.get("checkpoint.run", 0.0)
        m["lineage.per_bucket_s"] = selfs.get("lineage.per_bucket", 0.0)
        m["report.metadata_stats_s"] = selfs.get("report.metadata_stats", 0.0)
        m["report.summary_json_s"] = selfs.get("report.summary_json", 0.0)
        m["io.bytes_in"] = wl.expect["bytes_in"]
        m.update(_label_layers(wl, record, failures))
        n_passes += 1  # the crash + resume is one more checked operation
    else:
        queries = [s for s in spans.spans if s["name"] == "entry.query"]
        m["entry.import_s"] = wl.import_s * setup_k
        for part in ("build", "plan", "exec"):
            m[f"entry.{part}_s"] = selfs.get(f"entry.{part}", 0.0)
        m["entry.n_under_0_5s"] = sum((s["end"] - s["start"]) * k < UNDER_S for s in queries)
        m["io.bytes_in"] = sum(
            os.path.getsize(os.path.join(wl.data, f"{t}.parquet"))
            for t in wl.expect["table_rows"]
        )
    return n_passes, m


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _label_layers(wl, record, failures) -> dict:
    from qamd_spark import checkpoint, io, pipeline

    spark, cfg = wl.spark, wl.cfg
    t_start = time.perf_counter()

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    def read():
        return io.normalize_input(io.read_table(spark, wl.input))

    def plan():
        pipeline.label(read(), cfg)._jdf.queryExecution().executedPlan()

    raw = {
        "io.scan_s": _timed(lambda: read().count()),
        "pipeline.plan_s": _timed(plan),
        "pipeline.text_stats_s": _timed(noop(pipeline.text_stats(read()))),
        "pipeline.conv_stats_s": _timed(noop(pipeline.conv_stats(read()))),
        "pipeline.conv_dup_stats_s": _timed(noop(pipeline.conv_dup_stats(read()))),
        "pipeline.score_stage_s": _timed(noop(pipeline.score_stage(read(), cfg))),
    }
    # crash after a bucket count (never a timer), then resume
    out = wl.out_dir("resume")
    wl.prepare("resume")
    spans = Spans()
    spans.wrap(checkpoint, "global_stats_tables", "checkpoint.global_stats_tables")
    spans.wrap(pipeline, "label", "pipeline.label")
    try:
        checkpoint.run_with_checkpoints(
            spark, wl.input, out, cfg, bucket_batch=CRASH_BATCH,
            fail_after_buckets=CRASH_AFTER_BUCKETS,
        )
        failures.append("resume: the crash run did not crash")
    except RuntimeError as e:
        if "simulated crash" not in str(e):
            raise
    crash_spans = len(spans.spans)
    t0_ms = time.time() * 1000
    redone = checkpoint.run_with_checkpoints(spark, wl.input, out, cfg)
    t1_ms = time.time() * 1000
    spans.unwrap()
    raw["checkpoint.global_stats_tables_s"] = sum(
        s["end"] - s["start"] for s in spans.spans[:crash_spans]
        if s["name"] == "checkpoint.global_stats_tables"
    )
    k = probe.wall_scale(wl.meter.window(t_start, time.perf_counter()), wl.ref)
    failures.extend(_resume_check(wl, out))
    layers = {name: v * k for name, v in raw.items()}
    layers["checkpoint.group_jobs"] = sum(
        s["name"] == "pipeline.label" for s in spans.spans[crash_spans:]
    )
    record["resume"] = {"window_ms": [t0_ms, t1_ms],
                        "rows_redone": sum(mf.n_rows for mf in redone)}
    layers.update(_kernel_slab(wl))
    return layers


def _resume_check(wl, out: str) -> list[str]:
    """The resumed output must equal a fresh run's (the oracle's) output."""
    import pyarrow.parquet as pq

    import inputs

    t = pq.read_table(out + "/data", columns=["conv_id", "turn_idx", "keep", "scrubbed_text"])
    t = t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    c = {n: t.column(n).to_pylist() for n in t.column_names}
    got = inputs.transcript_digest(c["conv_id"], c["turn_idx"], c["keep"], c["scrubbed_text"])
    if got != wl.expect["digest"]:
        return ["resume: resumed output differs from a fresh run's"]
    return []


def _kernel_slab(wl) -> dict:
    """turnscore.score_pdf on a slab of the workload's own rows, in this
    process on one core, split by sub-kernel; medians of SLAB_REPS."""
    import pandas as pd

    from qamd_spark import turnscore

    rows = pd.read_parquet(wl.input)
    slab = pd.concat([rows] * -(-SLAB_ROWS // len(rows)), ignore_index=True).head(SLAB_ROWS)
    t_start = time.perf_counter()
    spans = Spans()
    for mod, attr, name in KERNEL_SPANS:
        spans.wrap(_module(mod), attr, name)
    totals, parts = [], {name: [] for _, _, name in KERNEL_SPANS}
    try:
        for _ in range(SLAB_REPS):
            mark = len(spans.spans)
            totals.append(_timed(lambda: turnscore.score_pdf(slab, wl.cfg)))
            got = spans.self_times(mark)
            for name in parts:
                parts[name].append(got.get(name, 0.0))
    finally:
        spans.unwrap()
    k = probe.wall_scale(wl.meter.window(t_start, time.perf_counter()), wl.ref) * 1000.0  # → ms
    out = {f"{n}_ms": statistics.median(v) * k for n, v in parts.items()}
    out["turnscore.score_pdf_ms"] = statistics.median(totals) * k
    out["turnscore.residual_ms"] = out["turnscore.score_pdf_ms"] - sum(
        out[f"{n}_ms"] for n in parts
    )
    out["turnscore.chars"] = int(slab["text"].fillna("").str.len().sum())
    return out


def eventlog_metrics(wl, record: dict) -> dict:
    """Spark's own metrics of the traced pass (and, for label_mixed, the
    resume's input records per redone row), from the stopped session's
    event log, as result-JSON metric objects."""
    tr = record["trace"]
    ev = eventlog.parse(tr["eventlog"], *tr["window_ms"])
    tr["spark"] = ev
    k = tr["k"]
    m = {
        "spark.jobs": ev["jobs"], "spark.tasks": ev["tasks"],
        "spark.python_worker_s": ev["python_worker_s"] * k,
        "spark.python_worker_start_s": ev["python_worker_start_s"] * k,
        "spark.arrow_bytes_to_py": ev["arrow_bytes_to_py"],
        "spark.arrow_bytes_from_py": ev["arrow_bytes_from_py"],
        "spark.shuffle_write_bytes": ev["shuffle_write_bytes"],
        "spark.spill_bytes": ev["spill_bytes"], "spark.gc_s": ev["gc_s"] * k,
        "spark.executor_cpu_s": ev["cpu_s"] * tr["cpu_k"],
        "spark.score_task_skew": ev["score_task_skew"],
        "turnscore.turns": ev["map_in_pandas_rows"],
    }
    if wl.name == "label_mixed":
        if not ev["map_in_pandas_rows"]:
            raise eventlog.EventLogError("label_mixed pass ran no MapInPandas node")
        rs = eventlog.parse(tr["eventlog"], *record["resume"]["window_ms"])
        rows = record["resume"]["rows_redone"]
        m["checkpoint.rows_scanned_per_row_redone"] = rs["records_read"] / rows if rows else 0.0
    return m


def as_metrics(values: dict) -> dict:
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in METRICS}
