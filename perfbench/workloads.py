"""The two workloads: each one's product call sequence and its output
check.

``analyze_day`` makes the calls ``cmd_analyze`` makes. ``curate_and_tail``
runs two library paths back to back in one session: the curation chain
over a document corpus, then a stream drain of a day's raw-log files.
They share no layer, so each keeps its own per-layer record, and
together they cost one invocation instead of two.

``run_*`` makes the same public calls, in the same order, that the
product makes for that job; every call sits in a span named after the
module it lives in. With a ``NullTracer`` the spans and
``materialize`` calls do nothing, so the timed runs and the traced run
share this code. Each ``run_*`` returns an outputs dict whose
``release`` callable frees what the run pinned; the caller invokes it
after stopping the clock, because the one-shot CLI never pays it.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Callable

from perfbench import checks
from perfbench.gen import gen_analyze_day, gen_curate_and_tail

# near-duplicate threshold on the MinHash Jaccard estimate
NEAR_DUP_THRESHOLD = 0.5
STREAM_WATERMARK = "2 minutes"
STREAM_TOP_K = 5


def run_analyze_day(spark, in_dir: str, planted: dict, out_dir: str, tag: str, tr) -> dict:
    """``cmd_analyze``: files + config -> parse -> five reports -> CSV,
    then the shard-failure and incident summaries and the drop
    counters."""
    from pyspark.storagelevel import StorageLevel

    from cassandra_slow_queries_spark.config import AnalysisConfig
    from cassandra_slow_queries_spark.operators.aggregates import five_reports_shared_shuffle
    from cassandra_slow_queries_spark.plans.pipeline import (
        incident_report,
        parse_messages,
        parse_observation,
    )
    from cassandra_slow_queries_spark.plans.reports import write_reports
    from cassandra_slow_queries_spark.sources.configs import load_query_patterns, load_tag_map
    from cassandra_slow_queries_spark.sources.cql_schema import parse_cql_schema
    from cassandra_slow_queries_spark.sources.kibana import read_kibana_json, shard_failure_report

    files = [os.path.join(in_dir, f) for f in planted["files"]]
    with open(os.path.join(in_dir, "schema.cql"), encoding="utf-8") as f:
        schema = parse_cql_schema(f.read())
    # the CLI's defaults: top-n 100, 5 rows per minute, min count 5
    cfg = AnalysisConfig(
        schema=schema,
        queries=load_query_patterns(os.path.join(in_dir, "queries.json")),
        tags=load_tag_map(os.path.join(in_dir, "tags.json")),
    )
    with tr.span("sources.kibana/read_kibana_json"):
        raw = read_kibana_json(spark, files)
        tr.count("records_in", tr.materialize(raw))
    obs = parse_observation()
    with tr.span("plans.pipeline/parse_messages"):
        fact = parse_messages(raw, spark, cfg, observation=obs, with_incidents=True)
        with tr.span("operators.enrich/plan"):
            # persist builds the cached plan: optimizer + physical planning
            fact = fact.persist(StorageLevel.MEMORY_AND_DISK)
        tr.count("rows_out", tr.materialize(fact))
    try:
        with tr.span("operators.aggregates/five_reports_shared_shuffle"):
            reports = five_reports_shared_shuffle(fact.drop("_incidents"), cfg)
        with tr.span("plans.reports/write_reports"):
            run_dir = write_reports(reports, out_dir, run_tag=tag)
        with tr.span("sources.kibana/shard_failure_report"):
            shards = shard_failure_report(spark, files).collect()
        with tr.span("plans.pipeline/incident_report"):
            incidents = incident_report(fact).collect()
        dropped = obs.get
    except BaseException:
        fact.unpersist(blocking=True)
        raise
    return {
        "run_dir": run_dir,
        "shards": {os.path.basename(r.file): int(r.n_failed_shards) for r in shards},
        "incidents": {r.incident: int(r["count"]) for r in incidents},
        "dropped": dropped,
        "fact": fact,
        "release": lambda: fact.unpersist(blocking=True),
    }


def check_analyze_day(ctx, out: dict) -> list[str]:
    planted = ctx.planted
    problems = []
    d = out["dropped"]
    m = planted["malformed"]
    want = {
        "n_input": planted["n_slow_lines"],
        "n_bad_ts": m["bad_ts"],
        "n_bad_grammar": m["bad_grammar"],
        "n_unknown_statement": m["unknown_statement"],
        "n_parsed": planted["n_valid"],
    }
    for k, v in want.items():
        if d.get(k) != v:
            problems.append(f"drop counter {k}: got {d.get(k)}, planted {v}")
    if out["shards"] != planted["shard_failures"]:
        problems.append(f"shard failures: got {out['shards']}, planted {planted['shard_failures']}")
    problems += checks.compare_reports(out["run_dir"], ctx.oracle.reports())
    return problems


def run_curate_corpus(spark, in_dir: str, planted: dict, out_dir: str, tag: str, tr) -> dict:
    """quality_filter -> pii_scrub -> drop_exact_duplicates ->
    minhash_lsh_pairs -> keep_cluster_representatives -> parquet."""
    from pyspark.sql import functions as F

    from cassandra_slow_queries_spark.operators.curation import pii_scrub, quality_filter
    from cassandra_slow_queries_spark.operators.dedup import (
        drop_exact_duplicates,
        keep_cluster_representatives,
        minhash_lsh_pairs,
    )

    docs = spark.read.schema("id long, text string").json(os.path.join(in_dir, "docs.json"))
    with tr.span("operators.curation/quality_filter"):
        verdict = quality_filter(docs, "text", "id")
        kept = docs.join(verdict.filter("keep").select("id"), "id", "left_semi")
        tr.count("quality_kept", tr.materialize(kept))
    with tr.span("operators.curation/pii_scrub"):
        scrubbed = pii_scrub(kept, "text").select("id", "text")
        tr.materialize(scrubbed)
    with tr.span("operators.dedup/drop_exact_duplicates"):
        unique = drop_exact_duplicates(scrubbed, "text", "id")
        tr.materialize(unique)
    with tr.span("operators.dedup/minhash_lsh_pairs"):
        pairs = minhash_lsh_pairs(unique, "text", "id")
        near = pairs.filter(F.col("est_jaccard") >= NEAR_DUP_THRESHOLD).select("id_a", "id_b")
        tr.count("candidate_pairs", tr.materialize(pairs))
        tr.count("pairs_kept", tr.materialize(near))
    path = os.path.join(out_dir, tag)
    with tr.span("operators.dedup/keep_cluster_representatives"):
        keep_cluster_representatives(unique, near, "id").write.mode("overwrite").parquet(path)
    return {"path": path, "release": lambda: None}


def check_curate_corpus(ctx, out: dict) -> list[str]:
    planted = ctx.planted
    rows = sorted((r.id, r.text) for r in ctx.spark.read.parquet(out["path"]).collect())
    problems = []
    ids = {i for i, _ in rows}
    for group in planted["exact_groups"]:
        kept = ids.intersection(group)
        if len(kept) != 1:
            problems.append(f"exact-duplicate group {group} kept {sorted(kept)}")
    text = "\n".join(t for _, t in rows)
    leaked = [s for s in planted["pii_strings"] if s in text]
    if leaked:
        problems.append(f"{len(leaked)} planted PII strings survived, e.g. {leaked[0]}")
    spam = ids.intersection(planted["spam_ids"])
    if spam:
        problems.append(f"{len(spam)} boilerplate spam documents survived")
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    if ctx.state.setdefault("digest", digest) != digest:
        problems.append("output differs from the first run of this seed")
    return problems


class ProgressLog:
    """Streaming progress events of the queries this process runs,
    collected through a ``StreamingQueryListener``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated += 1

        self.progress: list = []
        self.terminated = 0
        self.listener = _Listener()
        spark.streams.addListener(self.listener)


def run_stream_tail(spark, in_dir: str, planted: dict, out_dir: str, tag: str, tr) -> dict:
    """Raw-log files -> parse_messages -> watermarked
    volume_top_cells_stream -> per-window top-K sink, drained
    one file per trigger with ``availableNow``."""
    from cassandra_slow_queries_spark.config import AnalysisConfig
    from cassandra_slow_queries_spark.plans.pipeline import parse_messages
    from cassandra_slow_queries_spark.sources.configs import load_tag_map
    from cassandra_slow_queries_spark.sources.cql_schema import parse_cql_schema
    from cassandra_slow_queries_spark.streaming.pipeline import run_volume_top_stream_append

    with open(os.path.join(in_dir, "schema.cql"), encoding="utf-8") as f:
        schema = parse_cql_schema(f.read())
    cfg = AnalysisConfig(schema=schema, tags=load_tag_map(os.path.join(in_dir, "tags.json")))
    raw = (
        spark.readStream.schema("ts_raw string, message string, tags array<string>")
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(in_dir, "logs"))
    )
    with tr.span("plans.pipeline/parse_messages"):
        fact = parse_messages(raw, spark, cfg)
    with tr.span("streaming.pipeline/run_volume_top_stream_append"):
        top = run_volume_top_stream_append(fact, STREAM_TOP_K, watermark=STREAM_WATERMARK)
        rows = top.collect()
    return {"rows": rows, "release": lambda: None}


def check_stream_tail(ctx, out: dict) -> list[str]:
    got = sorted(
        (r.minute, r.query, r.primary_key, int(r.cnt), int(r.duration), int(r.avg_duration))
        for r in out["rows"]
    )
    want = ctx.oracle.closed_window_top_k(STREAM_TOP_K, STREAM_WATERMARK)
    if got == want:
        return []
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    return [f"closed windows differ from the batch recomputation: {len(missing)} missing, "
            f"{len(extra)} extra, e.g. {(missing or extra)[0]}"]


def run_curate_and_tail(spark, in_dir: str, planted: dict, out_dir: str, tag: str, tr) -> dict:
    """:func:`run_curate_corpus` on ``in_dir/corpus``, then
    :func:`run_stream_tail` on ``in_dir/tail``."""
    corpus = run_curate_corpus(spark, os.path.join(in_dir, "corpus"), planted["corpus"],
                               out_dir, tag, tr)
    tail = run_stream_tail(spark, os.path.join(in_dir, "tail"), planted["tail"],
                           out_dir, tag, tr)
    return {"corpus": corpus, "tail": tail, "release": lambda: None}


def check_curate_and_tail(ctx, out: dict) -> list[str]:
    corpus = SimpleNamespace(spark=ctx.spark, planted=ctx.planted["corpus"], state=ctx.state)
    tail = SimpleNamespace(planted=ctx.planted["tail"], oracle=ctx.oracle)
    return check_curate_corpus(corpus, out["corpus"]) + check_stream_tail(tail, out["tail"])


@dataclass(frozen=True)
class Workload:
    name: str
    generate: Callable[[int, str], dict]
    run: Callable
    check: Callable
    # input records per run, for records_per_s
    records: Callable[[dict], int]
    # directory under the inputs whose facts.csv the DuckDB oracle reads
    facts_dir: str
    # whether a run drains a stream (its progress events are collected)
    streams: bool


WORKLOADS = {
    "analyze_day": Workload("analyze_day", gen_analyze_day, run_analyze_day,
                            check_analyze_day, lambda p: p["n_hits"], "", False),
    "curate_and_tail": Workload("curate_and_tail", gen_curate_and_tail, run_curate_and_tail,
                                check_curate_and_tail,
                                lambda p: p["corpus"]["n_docs"] + p["tail"]["n_slow_lines"],
                                "tail", True),
}
