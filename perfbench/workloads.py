"""The benchmark's workloads and the metrics each one reports.

``stream_window`` drains the flagship pipeline (filter -> per-turn text
features -> 1-hour tumbling Reduce, 10-minute watermark) into an
append-only ``ExactlyOnceSink``. ``batch_operators`` runs registry queries
from three families on generated tables. Each run sets up (session,
inputs, one untimed warmup drain or pass), then measures with tracing off.
With ``--trace 1`` the timed section records spans and the run reports
per-layer numbers instead; their ``trace.*`` copies of the end-to-end
metrics, set against the untraced runs, give the tracing overhead. Traced
runs add two probes whose numbers are per-layer only: a ``local[1]`` drain
of the first slices (stream_window) and an incremental-dedup drain, for
the sink's store reads and compaction (batch_operators, so that no traced
run carries both extra drains).
"""

from __future__ import annotations

import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from arroyo_spark.session import get_spark
from arroyo_spark.streaming.incremental import incremental_transcript_dedup_sink
from arroyo_spark.types import STREAM_SCHEMA
from jobs import flagship_stream_pipeline
from perfbench import batch, batchdata, host, stream
from perfbench.spans import NullTracer, Tracer
from perfbench.stats import p50, p75, spark_layers, stages_since

# batch table sizes are the row counts of the repository's sf0.1 ("full")
# and sf0.001 ("smoke") test tables (TESTDATA.md), read from their parquet
# metadata
SIZES = {
    # stream_window stages one slice per requested second, ~8k turns each
    "full": {
        "convs_per_slice": 750,
        "warm_slices": 5,  # with 3, the first timed epochs still ran ~7% slower
        "dedup_convs": 3400,
        "dedup_slices": 17,  # one compaction at the default compact_every=16
        "local1_slices": 3,
        "tables": {"n_events": 100_000, "n_users": 1_500, "n_docs": 5_000, "n_vecs": 2_000},
        "queries": None,
    },
    "smoke": {
        "slices": 4,
        "convs_per_slice": 80,
        "warm_slices": 2,
        "dedup_convs": 300,
        "dedup_slices": 3,
        "local1_slices": 2,
        "tables": {"n_events": 1_000, "n_users": 15, "n_docs": 500, "n_vecs": 500},
        "queries": ("reduce_tumbling", "bm25_topk"),
    },
}
# the batch tables are fixed: the recorded checksums belong to this seed
BATCH_SEED = 42

PER_LAYER = {
    "host.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "synth.turns": "count",
    "synth.stage_s": "s",
    "batch.input_rows": "count",
    "batch.input_write_s": "s",
    "processor.epochs": "count",
    "processor.add_batch_s_p50": "s",
    "processor.overhead_s_p50": "s",
    "processor.query_planning_s_p50": "s",
    "processor.wal_s_p50": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "B",
    "state.commit_s_p50": "s",
    "state.rows_dropped_by_watermark": "count",
    "sink.call_s_p50": "s",
    "sink.files_per_epoch": "count",
    "sink.bytes_per_epoch": "B",
    "sink.read_output_s_p50": "s",
    "sink.store_dirs_max": "count",
    "sink.compact_s": "s",
    "sink.compactions": "count",
    "ledger.commit_s_p50": "s",
    "ledger.commits": "count",
    "incremental.kept_convs": "count",
    "incremental.dropped_convs": "count",
    "incremental.retry_share": "ratio",
    "incremental.dropped_share": "ratio",
    "dedup.turns_per_s": "1/s",
    "dedup.epoch_s_p50": "s",
    "batch.build_s": "s",
    "batch.execute_s": "s",
    **{f"queries.{fam}_s": "s" for fam in batch.FAMILIES},
    **{f"query.{q}_s": "s" for q in batch.QUERY_FAMILY},
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_wait_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "baseline.local1_turns_per_s": "1/s",
    "baseline.local1_epoch_s_p50": "s",
    "trace.rows_per_s": "1/s",
    "trace.op_s_p50": "s",
    "trace.spans": "count",
    "trace.epoch_unaccounted_max": "ratio",
    "trace.query_unaccounted_max": "ratio",
    "fail_frac": "ratio",
}


@dataclass
class Outcome:
    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    context: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def count(self, attempted: int, failed: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.problems += problems


def run(args, run_dir: str, started: float) -> Outcome:
    cfg = SIZES[args.size]
    fn = stream_window if args.workload == "stream_window" else batch_operators
    out = fn(args, cfg, run_dir, started)
    if args.trace:
        # layers a workload does not exercise did no work: report zero
        out.metrics = {k: out.metrics.get(k, 0.0) for k in PER_LAYER}
        out.metrics["fail_frac"] = out.failed / max(out.attempted, 1)
    return out


def _session(tracer, cores: int):
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
    return spark, time.perf_counter() - t0


def _epochs(d: stream.Drain) -> list[dict]:
    return [
        {"epoch": p["batchId"], "rows": p.get("numInputRows"), **p.get("durationMs", {})}
        for p in d.progress
    ]


# ---------------------------------------------------------------------------
# stream_window
# ---------------------------------------------------------------------------
def stream_window(args, cfg, run_dir: str, started: float) -> Outcome:
    out = Outcome()
    tracer = Tracer() if args.trace else NullTracer()
    n_slices = cfg.get("slices", args.seconds)
    spark, session_s = _session(tracer, host.nproc())
    out.context = host.spark_context(spark)

    src = f"{run_dir}/src"
    t0 = time.perf_counter()
    with tracer.span("synth.stage"):
        turns = stream.stage_window_input(spark, src, cfg["convs_per_slice"] * n_slices, n_slices, args.seed)
    stage_s = time.perf_counter() - t0
    # untimed warmup: the same pipeline over the first slices
    stream.copy_slices(src, f"{run_dir}/warm", cfg["warm_slices"])
    stream.run_drain(spark, f"{run_dir}/warm", f"{run_dir}/warm_out", stream.window_sink,
                     flagship_stream_pipeline, NullTracer())
    setup_s = time.perf_counter() - started

    with host.PeakRss(enabled=bool(args.trace)) as rss:
        d = stream.run_drain(spark, src, f"{run_dir}/out", stream.window_sink, flagship_stream_pipeline, tracer)
    out.count(*stream.check_window(spark, src, d, n_slices, turns))
    e2e = {"setup_s": setup_s, **stream.e2e(d, turns)}
    out.detail = {"e2e": e2e, "turns": turns, "epochs": _epochs(d)}
    if not args.trace:
        out.metrics = e2e
        return out

    m = {
        "host.peak_rss_mb": rss.peak_mb,
        "session.get_spark_s": session_s,
        "synth.turns": turns,
        "synth.stage_s": stage_s,
        **stream.progress_layers(d),
        "sink.call_s_p50": p50([s for _, s in tracer.durations("sink.call")]),
        **stream.sink_files(d),
        "ledger.commit_s_p50": p50([s for _, s in tracer.durations("ledger.commit")]),
        "ledger.commits": len(d.ledger.epochs()),
        **spark_layers(d.stages),
        "trace.rows_per_s": e2e["rows_per_s"],
        "trace.op_s_p50": e2e["op_s_p50"],
        "trace.spans": len(tracer.spans),
        "trace.epoch_unaccounted_max": stream.epoch_accounting(d, tracer),
    }
    out.detail["spans"] = tracer.dump()

    # single-thread baseline over the first slices of the same input
    spark.stop()
    spark1, _ = _session(NullTracer(), 1)
    lsrc = f"{run_dir}/local1"
    stream.copy_slices(src, lsrc, cfg["local1_slices"])
    l1 = stream.run_drain(spark1, lsrc, f"{lsrc}_out", stream.window_sink, flagship_stream_pipeline, NullTracer())
    l1_turns = spark1.read.schema(STREAM_SCHEMA).parquet(lsrc).count()
    out.count(*stream.check_window(spark1, lsrc, l1, cfg["local1_slices"], l1_turns))
    l1_e2e = stream.e2e(l1, l1_turns)
    m["baseline.local1_turns_per_s"] = l1_e2e["rows_per_s"]
    m["baseline.local1_epoch_s_p50"] = l1_e2e["op_s_p50"]
    out.metrics = m
    return out


def dedup_probe(spark, cfg, run_dir: str, seed: int, out: Outcome) -> dict[str, float]:
    """Drain the incremental transcript-dedup sink with spans on: every
    epoch reads the store earlier epochs wrote, and compaction rewrites it.
    Its checks count in ``out``; returns its per-layer numbers."""
    tracer = Tracer()
    src = f"{run_dir}/dedup"
    staged = stream.stage_dedup_input(spark, src, cfg["dedup_convs"], cfg["dedup_slices"], seed)
    d = stream.run_drain(spark, src, f"{src}_out", incremental_transcript_dedup_sink, None, tracer)
    attempted, failed, problems, kept = stream.check_dedup(spark, src, d, cfg["dedup_slices"], staged)
    out.count(attempted, failed, problems)
    out.detail["dedup_epochs"] = _epochs(d)
    out.detail["dedup_spans"] = tracer.dump()
    compactions = [s for _, s in tracer.durations("sink.compact")]
    return {
        "sink.read_output_s_p50": p50([s for _, s in tracer.durations("sink.read_output")]),
        "sink.store_dirs_max": max(d.store_dirs, default=0),
        "sink.compact_s": sum(compactions),
        "sink.compactions": len(compactions),
        "incremental.kept_convs": kept["kept"],
        "incremental.dropped_convs": kept["dropped"],
        "incremental.retry_share": staged["retries"] / staged["convs"],
        "incremental.dropped_share": kept["dropped"] / staged["convs"],
        "dedup.turns_per_s": staged["turns"] / d.wall_s,
        "dedup.epoch_s_p50": stream.e2e(d, staged["turns"])["op_s_p50"],
    }


# ---------------------------------------------------------------------------
# batch_operators
# ---------------------------------------------------------------------------
def _passes(spark, names, data: str, tracer, seconds: float) -> list[dict]:
    """Query passes until the next one would overrun ``seconds`` (at least
    one)."""
    passes: list[dict] = []
    t0 = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        with tracer.span("batch.pass", len(passes)):
            runs = [batch.run_query(spark, q, data, tracer) for q in names]
        passes.append({"wall_s": time.perf_counter() - p0, "runs": runs})
        if time.perf_counter() - t0 + passes[-1]["wall_s"] > seconds:
            return passes


def _check_runs(runs: list[dict], expected: dict) -> tuple[int, int, list[str]]:
    problems = []
    for r in runs:
        if r["error"] is not None:
            problems.append(f"{r['name']} raised {r['error']}")
        elif r["result"] != expected.get(r["name"]):
            problems.append(f"{r['name']} gave (rows, checksum) {r['result']}, recorded {expected.get(r['name'])}")
    return len(runs), len(problems), problems


def _query_accounting(tracer) -> float:
    """Largest share of a traced query run that its build and execute spans
    leave unexplained."""
    children: dict[int, float] = {}
    for s in tracer.spans:
        if s["name"] in ("batch.build", "batch.execute") and s["end"]:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
    worst = 0.0
    for i, s in enumerate(tracer.spans):
        if s["name"] == "query" and s["end"] and s["end"] > s["start"]:
            total = s["end"] - s["start"]
            worst = max(worst, abs(total - children.get(i, 0.0)) / total)
    return worst


def batch_operators(args, cfg, run_dir: str, started: float) -> Outcome:
    out = Outcome()
    tracer = Tracer() if args.trace else NullTracer()
    spark, session_s = _session(tracer, host.nproc())
    out.context = host.spark_context(spark)
    names = cfg["queries"] or tuple(batch.QUERY_FAMILY)

    data = f"{run_dir}/tables"
    t0 = time.perf_counter()
    rows = batchdata.write_tables(data, BATCH_SEED, **cfg["tables"])
    write_s = time.perf_counter() - t0
    expected = batch.load_expected(args.size)
    # untimed warmup: one run of each query on the small tables. It loads
    # and compiles what a pass on the full tables would (the full pass that
    # follows is no slower) in three quarters of the time. The queries run
    # side by side: a cold run is mostly single-threaded planning, code
    # generation and Python-worker start-up, so this takes about 15 s
    # less on 4 cores and leaves the timed pass as fast
    warm = f"{run_dir}/warm_tables"
    batchdata.write_tables(warm, BATCH_SEED, **SIZES["smoke"]["tables"])
    with ThreadPoolExecutor(max_workers=host.nproc()) as pool:
        runs = list(pool.map(lambda q: batch.run_query(spark, q, warm, NullTracer()), names))
    _, _, problems = _check_runs(runs, batch.load_expected("smoke"))
    out.problems += [f"warmup: {p}" for p in problems]
    setup_s = time.perf_counter() - started

    stages = stages_since(spark)
    with host.PeakRss(enabled=bool(args.trace)) as rss:
        passes = _passes(spark, names, data, tracer, args.seconds)
    stages = stages()
    out.count(*_check_runs([r for p in passes for r in p["runs"]], expected))
    scanned = sum(rows[batch.FAMILY_TABLE[batch.QUERY_FAMILY[q]]] for q in names)
    run_s = statistics.median(p["wall_s"] for p in passes)
    walls = [r["wall_s"] for p in passes for r in p["runs"]]
    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "op_s_p50": p50(walls),
        "op_s_p75": p75(walls),
        "rows_per_s": scanned / run_s,
    }
    out.detail = {"e2e": e2e, "passes": passes}
    if not args.trace:
        out.metrics = e2e
        return out

    def med(q: str, key: str) -> float:
        return statistics.median(r[key] for p in passes for r in p["runs"] if r["name"] == q)

    per_query = {q: med(q, "wall_s") for q in names}
    out.metrics = {
        "host.peak_rss_mb": rss.peak_mb,
        "session.get_spark_s": session_s,
        "batch.input_rows": sum(rows.values()),
        "batch.input_write_s": write_s,
        "batch.build_s": sum(med(q, "build_s") for q in names),
        "batch.execute_s": sum(med(q, "execute_s") for q in names),
        **{
            f"queries.{fam}_s": sum(per_query[q] for q in qs if q in per_query)
            for fam, qs in batch.FAMILIES.items()
        },
        **{f"query.{q}_s": s for q, s in per_query.items()},
        **spark_layers(stages),
        "trace.rows_per_s": e2e["rows_per_s"],
        "trace.op_s_p50": e2e["op_s_p50"],
        "trace.spans": len(tracer.spans),
        "trace.query_unaccounted_max": _query_accounting(tracer),
    }
    out.detail["spans"] = tracer.dump()
    # the store-maintenance layers no timed section exercises
    out.metrics.update(dedup_probe(spark, cfg, run_dir, args.seed, out))
    return out
