"""The benchmark's own tests: seeded generators, the median helper, the
output checks (a corrupted output must fail them), the per-layer record,
and a tiny run of each workload.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from types import SimpleNamespace

import pytest

from perfbench import gen, layers, stats
from perfbench.trace import (
    NullTracer,
    Span,
    Tracer,
    event_log_file,
    layer_task_metrics,
    read_event_log,
    self_times,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TINY = {
    "analyze_day": lambda seed, d: gen.gen_analyze_day(seed, d, n_hits=3000, n_pages=3),
    "curate_and_tail": lambda seed, d: gen.gen_curate_and_tail(seed, d, n_docs=150,
                                                               n_lines=1500, n_files=4),
}


def _digest(d: str) -> dict:
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_generator_same_seed_same_bytes(tmp_path, workload):
    make = TINY[workload]
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_analyze_generator_plants_what_it_records(tmp_path):
    p = gen.gen_analyze_day(3, str(tmp_path), n_hits=4000, n_pages=4)
    assert all(v > 0 for v in p["malformed"].values())
    assert p["n_non_slow"] > 0 and p["n_message_fallback"] > 0
    assert len(p["shard_failures"]) == 2
    with open(tmp_path / "facts.csv", newline="") as f:
        assert sum(1 for _ in csv.reader(f)) - 1 == p["n_valid"]
    assert p["n_slow_lines"] == p["n_valid"] + sum(p["malformed"].values())


def test_median_is_the_statistics_median():
    for xs in ([3.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0], [2.0, 9.0, 4.0, 7.0]):
        assert stats.median(xs) == statistics.median(xs)
    with pytest.raises(ValueError):
        stats.median([])


def test_self_time_subtracts_children():
    spans = [Span("root", 0.0, 10.0, None, "r"), Span("a/x", 1.0, 4.0, 0, "r"),
             Span("b/y", 2.0, 3.0, 1, "r"), Span("a/x", 5.0, 9.0, 0, "r")]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_benchmark_json_matches_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert per_layer == layers.metric_catalogue()
    assert [m["name"] for m in bench["end_to_end"]] == [
        "setup_s", "first_run_s", "records_per_s"]
    assert {w["name"] for w in bench["workloads"]} == set(TINY)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "analyze_day",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


# --- Spark: tiny runs of each workload and their checks -------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run
    from cassandra_slow_queries_spark import get_spark

    env_before = dict(os.environ)
    dirs = run.prepare_env(str(tmp_path_factory.mktemp("session")), trace=True)
    s = get_spark("perfbench-tests", master=run.master())
    s.sparkContext.setLogLevel("ERROR")
    s.event_dir = dirs["eventlog"]
    yield s
    from perfbench.proc import stop_session

    stop_session(s)
    os.environ.clear()
    os.environ.update(env_before)


def _logged_events(spark, timeout=30.0):
    """The session's event log once every started job's end is in it."""
    import time

    deadline = time.monotonic() + timeout
    while True:
        events = read_event_log(event_log_file(spark.event_dir))
        kinds = [e.get("Event") for e in events]
        if kinds.count("SparkListenerJobEnd") == kinds.count("SparkListenerJobStart") \
                or time.monotonic() > deadline:
            return events
        time.sleep(0.2)


def _context(spark, tmp_path, workload, seed=5):
    """What a check reads from the runner: session, inputs, oracle, state."""
    from perfbench import checks
    from perfbench.workloads import WORKLOADS

    in_dir = str(tmp_path / "in")
    planted = TINY[workload](seed, in_dir)
    oracle = checks.Oracle(os.path.join(in_dir, WORKLOADS[workload].facts_dir))
    return SimpleNamespace(spark=spark, in_dir=in_dir, planted=planted, oracle=oracle, state={})


def test_analyze_day_tiny_run_passes_and_corruption_fails(spark, tmp_path):
    from perfbench import workloads

    ctx = _context(spark, tmp_path, "analyze_day")
    out = workloads.run_analyze_day(spark, ctx.in_dir, ctx.planted, str(tmp_path / "out"), "r0",
                                    NullTracer())
    out["release"]()
    assert workloads.check_analyze_day(ctx, out) == []
    assert all(ctx.oracle.reports()[name] for name in ("query", "query_pk", "volume"))

    bad = dict(out, dropped=dict(out["dropped"], n_bad_ts=out["dropped"]["n_bad_ts"] + 1))
    assert workloads.check_analyze_day(ctx, bad)

    part = glob.glob(os.path.join(out["run_dir"], "slow_queries", "part-*.csv"))[0]
    with open(part, newline="") as f:
        rows = list(csv.reader(f))
    rows[1][0] = str(int(rows[1][0]) + 1)
    with open(part, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    problems = workloads.check_analyze_day(ctx, out)
    assert len(problems) == 1 and "report query" in problems[0]
    ctx.oracle.close()


def test_curate_and_tail_tiny_run_passes_and_corruption_fails(spark, tmp_path):
    from pyspark.sql import Row

    from perfbench import workloads

    ctx = _context(spark, tmp_path, "curate_and_tail")
    in_dir, planted = ctx.in_dir, ctx.planted["corpus"]
    out = workloads.run_curate_and_tail(spark, ctx.in_dir, ctx.planted, str(tmp_path / "out"),
                                        "r0", NullTracer())
    assert out["tail"]["rows"]
    assert workloads.check_curate_and_tail(ctx, out) == []

    rows = spark.read.parquet(out["corpus"]["path"]).collect()
    group = planted["exact_groups"][0]
    with open(os.path.join(in_dir, "corpus", "docs.json")) as f:
        docs = {d["id"]: d["text"] for d in map(json.loads, f)}
    extra = [(i, docs[i]) for i in group if i not in {r.id for r in rows}][:1]
    leak = [(10**9, "contact " + planted["pii_strings"][0])]
    bad_path = str(tmp_path / "bad")
    spark.createDataFrame([(r.id, r.text) for r in rows] + extra + leak, "id long, text string") \
        .write.parquet(bad_path)
    problems = workloads.check_curate_and_tail(ctx, dict(out, corpus={"path": bad_path}))
    assert any("exact-duplicate group" in p for p in problems)
    assert any("PII" in p for p in problems)
    assert any("differs from the first run" in p for p in problems)

    first = out["tail"]["rows"][0].asDict()
    first["cnt"] += 1
    bad = {"rows": [Row(**first)] + out["tail"]["rows"][1:]}
    problems = workloads.check_curate_and_tail(ctx, dict(out, tail=bad))
    assert len(problems) == 1 and "closed windows differ" in problems[0]
    ctx.oracle.close()


def test_traced_run_attributes_every_layer(spark, tmp_path):
    from perfbench.run import Runner
    from perfbench.workloads import WORKLOADS

    ctx = _context(spark, tmp_path, "analyze_day", seed=6)
    runner = Runner(spark, WORKLOADS["analyze_day"], ctx.in_dir, ctx.planted,
                    str(tmp_path / "out"))
    warm = [runner.run("warm0")]
    tracer = Tracer(spark, run_id="test")
    traced = runner.run("traced", tracer, keep_output=True)
    diag = layers.diagnostics(spark, "analyze_day", runner.last_out, ctx.in_dir, ctx.planted)
    runner.close()
    assert runner.failed == 0 and runner.attempted == 2
    _logged_events(spark)
    m = layers.layer_metrics("analyze_day", tracer.spans, spark.event_dir, ctx.planted,
                             traced, warm, diag)
    names = [n for n, _ in layers.metric_catalogue()]
    assert list(m) == names
    v = {k: x["value"] for k, x in m.items()}
    assert v["sources.kibana.corrupt_records"] == 1
    assert v["plans.pipeline.dropped.bad_ts"] == ctx.planted["malformed"]["bad_ts"]
    assert v["operators.aggregates.jobs"] > 0 and v["plans.reports.files"] == 5
    # the reports aggregate the persisted, materialized fact frame
    assert v["operators.aggregates.input_reread"] == 0
    assert v["operators.curation.quality_s"] == 0 and v["operators.dedup.jobs"] == 0
    assert v["streaming.pipeline.batches"] == 0
    assert v["session.peak_rss_mb"] > 0
    layer_time = sum(v[k] for k in ("sources.kibana.scan_s", "plans.pipeline.parse_s",
                                    "operators.enrich.plan_s", "operators.aggregates.self_s",
                                    "plans.reports.write_s", "trace.unattributed_s"))
    assert layer_time == pytest.approx(v["trace.wall_s"])


def test_file_scans_exclude_reads_of_a_persisted_frame(spark, tmp_path):
    """Input records count as a re-scan only when the files are read
    again: an aggregate over a persisted, materialized frame reads the
    cache, the same aggregate over the unpersisted frame scans again."""
    from pyspark.storagelevel import StorageLevel

    path = str(tmp_path / "rows.json")
    with open(path, "w") as f:
        f.writelines(json.dumps({"k": i % 7, "v": i}) + "\n" for i in range(500))
    tracer = Tracer(spark, run_id="reread")
    with tracer.span("test"):
        with tracer.span("test/read"):
            df = spark.read.schema("k long, v long").json(path)
            tracer.materialize(df)
        cached = df.selectExpr("k", "v * 2 AS w").persist(StorageLevel.MEMORY_AND_DISK)
        with tracer.span("test/cache"):
            tracer.materialize(cached)
        with tracer.span("test/agg_cached"):
            cached.groupBy("k").count().collect()
        with tracer.span("test/agg_uncached"):
            df.groupBy("k").count().collect()
    cached.unpersist(blocking=True)
    m = layer_task_metrics(_logged_events(spark), tracer.spans)
    assert m["test/read"]["scan_records"] == 500
    assert m["test/cache"]["scan_records"] == 500
    assert m["test/agg_cached"]["jobs"] > 0
    assert m["test/agg_cached"]["scan_records"] == 0
    assert m["test/agg_uncached"]["scan_records"] == 500


def test_traced_curate_and_tail_reports_its_layers(spark, tmp_path):
    from perfbench.run import Runner
    from perfbench.workloads import WORKLOADS

    ctx = _context(spark, tmp_path, "curate_and_tail", seed=6)
    runner = Runner(spark, WORKLOADS["curate_and_tail"], ctx.in_dir, ctx.planted,
                    str(tmp_path / "out"))
    warm = [runner.run("warm0")]
    tracer = Tracer(spark, run_id="test-curate-tail")
    traced = runner.run("traced", tracer, keep_output=True)
    diag = layers.diagnostics(spark, "curate_and_tail", runner.last_out, ctx.in_dir,
                              ctx.planted)
    runner.close()
    ctx.oracle.close()
    assert runner.failed == 0
    _logged_events(spark)
    m = layers.layer_metrics("curate_and_tail", tracer.spans, spark.event_dir, ctx.planted,
                             traced, warm, diag)
    v = {k: x["value"] for k, x in m.items()}
    n_files = len(ctx.planted["tail"]["files"])
    assert v["operators.curation.quality_s"] > 0 and v["operators.dedup.lsh_s"] > 0
    assert 0 < v["operators.curation.kept_ratio"] < 1
    assert v["operators.dedup.candidate_pairs"] > 0 and v["operators.dedup.jobs"] > 0
    assert v["streaming.pipeline.batches"] >= n_files
    assert v["streaming.pipeline.batch_p50_ms"] > 0
    assert v["streaming.pipeline.addBatch_ms"] > 0
    assert v["streaming.pipeline.checkpoint_files"] > 0
    assert v["operators.aggregates.jobs"] == 0 and v["sources.kibana.records_in"] == 0
