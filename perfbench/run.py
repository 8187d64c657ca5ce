"""Production-path benchmark of cassandra_slow_queries_spark.

    python3 perfbench/run.py --workload analyze_day --seed 1 --seconds 20 --trace 0

One invocation generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, builds a ``get_spark()`` session on
``local[N]`` (N = min(4, usable cores)) with product defaults, and runs
the workload once in the fresh session: the cold run a one-shot CLI
call pays (``first_run_s``). Warm runs follow until ``--seconds`` have
passed since the cold run began; they are checked and kept in the
record, but no end-to-end metric reads them, and on a 4-core box the
cold run alone outlasts the registered 20 s. Every run's outputs are
checked; a run that raises or fails its check counts in ``failed``.

``--trace 0`` reports the end-to-end metrics, including ``setup_s``: this
process's time from its start to a ready session. ``--trace 1`` also
enables the Spark event log, takes at least one warm run (the base of
``trace.overhead_s``), adds one traced run, and reports the per-layer
metrics instead. A timed invocation measures a single cold run and a
single start-up, not medians of several, because the full measurement
(48 invocations) has to fit in 3,420 s: a warm run would add about half
again to each, a set-up probe process about an eighth. The last stdout
line is the JSON result; the line before it is the box-state context
(canary and load average). The full record, with every sample and span,
goes to ``.perfbench_work/results/``.

Exits with status 2, printing no result, when the package to benchmark
is not in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.proc import peak_rss_mb, reset_peak_rss  # noqa: E402
from perfbench.trace import NullTracer  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# session settings that only pick directories and quiet the console; the
# product's own defaults come from get_spark()
_DIR_CONFS = "--conf spark.ui.showConsoleProgress=false --conf spark.sql.warehouse.dir={wh}"
_TRACE_CONFS = (" --conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{ev}"
                " --conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["analyze_day", "curate_and_tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, trace: bool) -> dict:
    """Point every scratch location at ``run_dir`` and drop the
    environment overrides get_spark() honours, so the session runs on
    product defaults wherever the benchmark is started."""
    env = os.environ
    for k in list(env):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_MASTER", "SPARK_DRIVER_MEMORY"):
            del env[k]
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env["TMPDIR"] = dirs["tmp"]
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    args = _DIR_CONFS.format(wh=dirs["warehouse"])
    if trace:
        args += _TRACE_CONFS.format(ev=dirs["eventlog"])
    env["PYSPARK_SUBMIT_ARGS"] = (f"--driver-java-options {shlex.quote(java_opts)} "
                                  f"{args} pyspark-shell")
    return dirs


def master() -> str:
    return f"local[{min(4, len(os.sched_getaffinity(0)))}]"


class Runner:
    """Times, checks and counts the runs of one workload in one session."""

    def __init__(self, spark, workload, in_dir: str, planted: dict, out_dir: str) -> None:
        from perfbench import workloads

        self.spark, self.w, self.in_dir, self.planted, self.out_dir = (
            spark, workload, in_dir, planted, out_dir)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.state: dict = {}
        self._oracle = None
        self.progress = workloads.ProgressLog(spark) if workload.streams else None

    @property
    def oracle(self):
        """DuckDB over the planted facts, opened on first use."""
        from perfbench import checks

        if self._oracle is None:
            self._oracle = checks.Oracle(os.path.join(self.in_dir, self.w.facts_dir))
        return self._oracle

    def run(self, tag: str, tracer=NullTracer(), keep_output: bool = False) -> dict:
        """One run: returns its wall seconds and, for streams, the
        per-trigger milliseconds of the batches that carried input.
        With tracing on, the workload call is the root span."""
        self.attempted += 1
        if self.progress is not None:
            self.progress.progress.clear()
            ended = self.progress.terminated
        shutil.rmtree(os.path.join(self.out_dir, tag), ignore_errors=True)
        reset_peak_rss(self.spark)
        t0 = time.perf_counter()
        out = None
        try:
            with tracer.span(self.w.name):
                out = self.w.run(self.spark, self.in_dir, self.planted, self.out_dir, tag, tracer)
            wall = time.perf_counter() - t0
            rss = peak_rss_mb(self.spark)
            out["release"]()
            problems = self.w.check(self, out)
        except Exception:
            wall = time.perf_counter() - t0
            rss = peak_rss_mb(self.spark)
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            self.problems.extend(f"{tag}: {p}" for p in problems)
            print(f"[perfbench] {tag} failed its check:\n" + "\n".join(problems), file=sys.stderr)
        sample = {"tag": tag, "wall_s": wall, "peak_rss_mb": rss, "ok": not problems}
        if self.progress is not None:
            deadline = time.monotonic() + 30
            while self.progress.terminated == ended and time.monotonic() < deadline:
                time.sleep(0.05)
            sample["progress"] = [json.loads(p.json) for p in self.progress.progress]
            sample["batch_ms"] = [p["durationMs"].get("triggerExecution", 0)
                                  for p in sample["progress"] if p["numInputRows"] > 0]
        if keep_output:
            self.last_out = out
        else:
            shutil.rmtree(os.path.join(self.out_dir, tag), ignore_errors=True)
        return sample

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


def end_to_end(setup: float, first: dict, records: int) -> dict:
    m = {
        "setup_s": (setup, "s"),
        "first_run_s": (first["wall_s"], "s"),
        "records_per_s": (records / first["wall_s"], "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("cassandra_slow_queries_spark") is None:
        print("perfbench: package cassandra_slow_queries_spark not found beside perfbench/",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    key = f"{args.workload}-{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, key)
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = prepare_env(run_dir, trace)

    from cassandra_slow_queries_spark import get_spark
    from perfbench import layers
    from perfbench.proc import canary, seconds_since_start, stop_session
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spark = get_spark(f"perfbench-{args.workload}", master=master())
    setup = seconds_since_start()
    spark.sparkContext.setLogLevel("ERROR")
    w = WORKLOADS[args.workload]
    in_dir, out_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    planted = w.generate(args.seed, in_dir)
    context = {"canary_before_s": canary(), "loadavg_before": os.getloadavg()}
    runner = Runner(spark, w, in_dir, planted, out_dir)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "master": master(), "setup_s": setup, "planted": planted}
    try:
        t_measure = time.perf_counter()
        first = runner.run("first")
        warm: list[dict] = []
        while (trace and not warm) or time.perf_counter() - t_measure < args.seconds:
            warm.append(runner.run(f"warm{len(warm)}"))
        traced = diag = None
        if trace:
            tracer = Tracer(spark, run_id=key)
            traced = runner.run("traced", tracer, keep_output=True)
            diag = layers.diagnostics(spark, args.workload, runner.last_out, in_dir, planted)
            record["spans"] = [s.__dict__ for s in tracer.spans]
        context.update(canary_after_s=canary(), loadavg_after=os.getloadavg())
    finally:
        runner.close()
        t_stop = time.perf_counter()
        stop_session(spark)
        context["stop_s"] = time.perf_counter() - t_stop
    record.update(first=first, warm=warm, traced=traced, context=context,
                  problems=runner.problems)
    if trace:
        metrics = layers.layer_metrics(args.workload, tracer.spans, dirs["eventlog"],
                                       planted, traced, warm, diag)
    else:
        metrics = end_to_end(setup, first, w.records(planted))
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{key}.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context, "fail_ratio": runner.failed / runner.attempted}))
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
