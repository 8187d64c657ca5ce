"""The per-layer record of a traced run.

Layers are package modules; a span named ``<module>/<call>`` charges its
self time to ``<module>``. Counts come from the spans (materialized
frames), from diagnostics taken after the traced run (outside its
wall), and from the Spark event log, which is read with stdlib ``json``.
Every workload reports every per-layer metric: a layer the
workload does not touch reports zero, which is the prediction for it.
"""

from __future__ import annotations

import os
import tempfile

from perfbench.stats import median
from perfbench.trace import event_log_file, layer_task_metrics, read_event_log, self_times

EVENT_LOG_FIELDS = [("executor_cpu_s", "s"), ("gc_s", "s"), ("task_skew", "ratio")]
# (layer, metric, unit) in report order; the event-log triple follows
# every layer's own metrics
LAYER_METRICS = {
    "sources.kibana": [("scan_s", "s"), ("records_in", "count"),
                       ("corrupt_records", "count"), ("bytes_in", "bytes")],
    "plans.pipeline": [("parse_s", "s"), ("rows_out", "count"),
                       ("dropped.bad_ts", "count"), ("dropped.bad_grammar", "count"),
                       ("dropped.unknown_statement", "count"), ("keep_ratio", "ratio")],
    "operators.enrich": [("plan_s", "s"), ("plan_chars", "count")],
    "operators.aggregates": [("self_s", "s"), ("jobs", "count"), ("stages", "count"),
                             ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                             ("spill_bytes", "bytes"), ("input_reread", "ratio")],
    "plans.reports": [("write_s", "s"), ("bytes_out", "bytes"), ("files", "count")],
    "operators.curation": [("quality_s", "s"), ("pii_s", "s"), ("kept_ratio", "ratio")],
    "operators.dedup": [("exact_s", "s"), ("lsh_s", "s"), ("candidate_pairs", "count"),
                        ("pairs_kept_ratio", "ratio"), ("cluster_s", "s"), ("jobs", "count")],
    "streaming.pipeline": [("batches", "count"), ("batch_p50_ms", "ms"), ("addBatch_ms", "ms"),
                           ("queryPlanning_ms", "ms"), ("walCommit_ms", "ms"),
                           ("commitOffsets_ms", "ms"), ("latestOffset_ms", "ms"),
                           ("state_rows", "count"), ("state_mem_bytes", "bytes"),
                           ("checkpoint_files", "count"), ("checkpoint_bytes", "bytes")],
}
# peak resident memory of the driver JVM plus Python, per warm run (the
# median is reported). It follows G1's heap-growth decisions, which vary
# run to run by about a fifth, so it is a per-layer reading here and
# not a bounded end-to-end metric.
SESSION_METRICS = [("session.peak_rss_mb", "MB")]
TRACE_METRICS = [("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("trace.unattributed_s", "s")]


def metric_catalogue() -> list[tuple[str, str]]:
    out = []
    for layer in LAYER_METRICS:
        out += [(f"{layer}.{m}", u) for m, u in LAYER_METRICS[layer]]
        out += [(f"{layer}.{m}", u) for m, u in EVENT_LOG_FIELDS]
    return out + SESSION_METRICS + TRACE_METRICS


def diagnostics(spark, workload: str, out: dict, in_dir: str, planted: dict) -> dict:
    """Counts taken after the traced run, outside its wall: they need
    the live session but would distort the layer times."""
    if workload == "analyze_day":
        from cassandra_slow_queries_spark.sources.kibana import corrupt_record_count

        files = [os.path.join(in_dir, f) for f in planted["files"]]
        parts = [os.path.join(dp, f) for dp, _, fs in os.walk(out["run_dir"])
                 for f in fs if f.startswith("part-")]
        return {
            "dropped": out["dropped"],
            "corrupt_records": corrupt_record_count(spark, files),
            "bytes_in": sum(os.path.getsize(f) for f in files),
            "plan_chars": len(out["fact"]._jdf.queryExecution().optimizedPlan().toString()),
            "bytes_out": sum(os.path.getsize(p) for p in parts),
            "files": len(parts),
        }
    if workload == "curate_and_tail":
        # run_volume_top_stream_append checkpoints under a fresh mkdtemp
        # directory per call; the traced run's is the newest
        tmp = tempfile.gettempdir()
        newest = max((os.path.join(tmp, d) for d in os.listdir(tmp)
                      if d.startswith("volume_top_append_ckpt_")), key=os.path.getmtime)
        ckpt = [os.path.join(dp, f) for dp, _, fs in os.walk(newest) for f in fs]
        return {"checkpoint_files": len(ckpt),
                "checkpoint_bytes": sum(os.path.getsize(p) for p in ckpt)}


def layer_metrics(workload: str, spans: list, event_dir: str, planted: dict,
                  traced: dict, warm: list[dict], diag: dict) -> dict:
    values = {name: 0.0 for name, _ in metric_catalogue()}
    units = dict(metric_catalogue())
    by_call: dict[str, float] = {}
    counts: dict[str, object] = {}
    for s, t in zip(spans, self_times(spans)):
        by_call[s.name] = by_call.get(s.name, 0.0) + t
        counts.update(s.counts)

    def self_s(prefix: str) -> float:
        return sum(t for name, t in by_call.items() if name.startswith(prefix))

    root = spans[0]
    wall = root.end - root.start
    values["trace.wall_s"] = wall
    values["trace.overhead_s"] = wall - median([s["wall_s"] for s in warm])
    values["trace.unattributed_s"] = by_call[root.name]
    values["session.peak_rss_mb"] = median([s["peak_rss_mb"] for s in warm])

    events = read_event_log(event_log_file(event_dir))
    per_call = layer_task_metrics(events, spans)
    per_layer: dict[str, dict] = {}
    for call, m in per_call.items():
        layer = call.split("/")[0]
        acc = per_layer.setdefault(layer, {"jobs": 0, "stages": 0, "skews": []})
        for k, v in m.items():
            if k == "task_skew":
                acc["skews"].append(v)
            else:
                acc[k] = acc.get(k, 0) + v
    for layer, acc in per_layer.items():
        if layer not in LAYER_METRICS:
            continue
        values[f"{layer}.executor_cpu_s"] = acc.get("executor_cpu_s", 0.0)
        values[f"{layer}.gc_s"] = acc.get("gc_s", 0.0)
        values[f"{layer}.task_skew"] = max(acc["skews"], default=0.0)

    if workload == "analyze_day":
        d = diag["dropped"]
        agg = per_layer.get("operators.aggregates", {})
        # one full scan of the pages: the read_kibana_json span's jobs
        scan_records = per_call.get("sources.kibana/read_kibana_json", {}).get("scan_records", 0)
        values.update({
            "sources.kibana.scan_s": self_s("sources.kibana/"),
            "sources.kibana.records_in": counts["records_in"],
            "sources.kibana.corrupt_records": diag["corrupt_records"],
            "sources.kibana.bytes_in": diag["bytes_in"],
            "plans.pipeline.parse_s": self_s("plans.pipeline/"),
            "plans.pipeline.rows_out": counts["rows_out"],
            "plans.pipeline.dropped.bad_ts": d["n_bad_ts"],
            "plans.pipeline.dropped.bad_grammar": d["n_bad_grammar"],
            "plans.pipeline.dropped.unknown_statement": d["n_unknown_statement"],
            "plans.pipeline.keep_ratio": d["n_parsed"] / d["n_input"],
            "operators.enrich.plan_s": self_s("operators.enrich/"),
            "operators.enrich.plan_chars": diag["plan_chars"],
            "operators.aggregates.self_s": self_s("operators.aggregates/"),
            "operators.aggregates.jobs": agg.get("jobs", 0),
            "operators.aggregates.stages": agg.get("stages", 0),
            "operators.aggregates.shuffle_write_bytes": agg.get("shuffle_write_bytes", 0),
            "operators.aggregates.shuffle_read_bytes": agg.get("shuffle_read_bytes", 0),
            "operators.aggregates.spill_bytes": agg.get("spill_bytes", 0),
            # records the aggregate jobs' file scans read, per record one
            # scan reads: how often scan and parse re-ran for the reports
            "operators.aggregates.input_reread":
                agg.get("scan_records", 0) / scan_records if scan_records else 0.0,
            "plans.reports.write_s": self_s("plans.reports/"),
            "plans.reports.bytes_out": diag["bytes_out"],
            "plans.reports.files": diag["files"],
        })
    else:
        dedup = per_layer.get("operators.dedup", {})
        values.update({
            "operators.curation.quality_s": self_s("operators.curation/quality_filter"),
            "operators.curation.pii_s": self_s("operators.curation/pii_scrub"),
            "operators.curation.kept_ratio":
                counts["quality_kept"] / planted["corpus"]["n_docs"],
            "operators.dedup.exact_s": self_s("operators.dedup/drop_exact_duplicates"),
            "operators.dedup.lsh_s": self_s("operators.dedup/minhash_lsh_pairs"),
            "operators.dedup.candidate_pairs": counts["candidate_pairs"],
            "operators.dedup.pairs_kept_ratio":
                counts["pairs_kept"] / counts["candidate_pairs"] if counts["candidate_pairs"] else 0.0,
            "operators.dedup.cluster_s": self_s("operators.dedup/keep_cluster_representatives"),
            "operators.dedup.jobs": dedup.get("jobs", 0),
        })
        progress = traced.get("progress", [])
        sums = {k: sum(p["durationMs"].get(k, 0) for p in progress)
                for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")}
        last_state = progress[-1].get("stateOperators", []) if progress else []
        values.update({f"streaming.pipeline.{k}_ms": v for k, v in sums.items()})
        # trigger times of the warm drains and the traced drain, pooled
        batch_ms = [b for s in warm + [traced] for b in s["batch_ms"]]
        values.update({
            "plans.pipeline.parse_s": self_s("plans.pipeline/"),
            "streaming.pipeline.batches": len(progress),
            "streaming.pipeline.batch_p50_ms": median(batch_ms),
            "streaming.pipeline.state_rows": sum(o.get("numRowsTotal", 0) for o in last_state),
            "streaming.pipeline.state_mem_bytes":
                sum(o.get("memoryUsedBytes", 0) for o in last_state),
            "streaming.pipeline.checkpoint_files": diag["checkpoint_files"],
            "streaming.pipeline.checkpoint_bytes": diag["checkpoint_bytes"],
        })
    return {k: {"value": values[k], "unit": units[k]} for k in values}
