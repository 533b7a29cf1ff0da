"""Streaming drains: the flagship windowed pipeline and the incremental
transcript-dedup sink, each fed one staged slice per epoch.

Input is staged as parquet slices, one file per slice, whose modification
times increase in slice order: Spark's file source admits files by
modification time, so with ``max_files_per_trigger=1`` epoch ``k`` reads
slice ``k`` and the next slice is admitted only after epoch ``k`` has
committed (a closed loop with one client).

Every drain is checked against a batch computation over the same staged
files; an epoch counts as failed when it was not committed or when a row
it committed disagrees with that reference.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from arroyo_spark.operators.corpus import transcript_fingerprints
from arroyo_spark.streaming import ExactlyOnceSink, FileStreamSource, OffsetsLedger, StreamProcessor
from arroyo_spark.synth import transcripts
from arroyo_spark.types import STREAM_SCHEMA
from jobs import flagship_stream_pipeline
from perfbench.stats import p50, p75, stages_since

# source partitions of the synthetic broker (the FIXTURES.md test scale)
PARTITIONS = 8
# exact-valued output columns of the flagship pipeline; avg_quality is a
# floating mean whose summation order differs between epochs and batch
EXACT_COLS = ("win_end", "n_turns", "n_tools", "n_tokens", "chars", "n_en")
AVG_TOL = 1e-9


# ---------------------------------------------------------------------------
# staging
# ---------------------------------------------------------------------------
def write_slices(df: DataFrame, src: str, n_slices: int) -> None:
    """Write ``df`` (with an int ``slice`` column in [0, n_slices)) as one
    parquet file per slice under ``src``, modification times increasing
    with the slice number."""
    tmp = src + ".tmp"
    df.repartition("slice").write.partitionBy("slice").parquet(tmp)
    os.makedirs(src)
    base = int(time.time()) - 3600
    for k in range(n_slices):
        files = glob.glob(f"{tmp}/slice={k}/*.parquet")
        if len(files) != 1:
            raise RuntimeError(f"slice {k}: expected one file, got {len(files)}")
        dst = os.path.join(src, f"slice-{k:05d}.parquet")
        shutil.move(files[0], dst)
        os.utime(dst, (base + k, base + k))
    shutil.rmtree(tmp)


def copy_slices(src: str, dst: str, k: int) -> None:
    """The first ``k`` slice files of ``src`` into ``dst``, mtimes kept."""
    os.makedirs(dst)
    for name in sorted(os.listdir(src))[:k]:
        shutil.copy2(os.path.join(src, name), os.path.join(dst, name))


def stage_window_input(spark: SparkSession, src: str, n_convs: int, n_slices: int, seed: int) -> int:
    """Synthetic transcripts (skewed, ~2% late turns) cut into equal-count
    slices in event-time order. Returns the number of staged turns."""
    df = transcripts(spark, n_convs, seed=seed, partitions=PARTITIONS)
    order = Window.orderBy("ts", "conv_id", "turn_idx")
    write_slices(df.withColumn("slice", F.ntile(n_slices).over(order) - 1), src, n_slices)
    return spark.read.schema(STREAM_SCHEMA).parquet(src).count()


def stage_dedup_input(spark: SparkSession, src: str, n_convs: int, n_slices: int, seed: int) -> dict:
    """Whole conversations dealt round-robin over the slices; about one in
    seven is resubmitted verbatim (new ``-retry`` conv_id) one to three
    slices later. Writes the conv_id -> slice map next to ``src``."""
    t = transcripts(spark, n_convs, seed=seed, with_lineage=False)
    t = t.withColumn("slice", (F.substring("conv_id", 6, 8).cast("long") % n_slices).cast("int"))
    retried = F.pmod(F.xxhash64(F.lit(seed), F.col("conv_id"), F.lit("retry")), F.lit(7)) == 0
    lag = F.lit(1) + F.pmod(F.xxhash64(F.lit(seed), F.col("conv_id"), F.lit("lag")), F.lit(3))
    retries = (
        t.filter(retried)
        .withColumn("slice", F.least(F.lit(n_slices - 1), F.col("slice") + lag.cast("int")))
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-retry")))
    )
    offset_order = Window.partitionBy("partition").orderBy("slice", "conv_id", "turn_idx")
    staged = (
        t.unionByName(retries)
        .withColumn("partition", F.pmod(F.xxhash64("conv_id"), F.lit(PARTITIONS)).cast("int"))
        .withColumn("offset", (F.row_number().over(offset_order) - 1).cast("long"))
        .select(*STREAM_SCHEMA.fieldNames(), "slice")
        .cache()
    )
    try:
        write_slices(staged, src, n_slices)
        convs = staged.select("conv_id", "slice").distinct()
        convs.write.parquet(src + ".convs")
    finally:
        staged.unpersist()
    convs = spark.read.parquet(src + ".convs")
    return {
        "turns": spark.read.schema(STREAM_SCHEMA).parquet(src).count(),
        "convs": convs.count(),
        "retries": convs.filter(F.col("conv_id").endswith("-retry")).count(),
    }


# ---------------------------------------------------------------------------
# one drain
# ---------------------------------------------------------------------------
@dataclass
class Drain:
    wall_s: float
    progress: list[dict]
    sink: ExactlyOnceSink
    ledger: OffsetsLedger
    error: str | None
    stages: list[dict]
    store_dirs: list[int]


def window_sink(out: str, ledger: OffsetsLedger) -> ExactlyOnceSink:
    return ExactlyOnceSink(output_dir=out, ledger=ledger)


def run_drain(spark, src: str, out: str, make_sink, pipeline, tracer) -> Drain:
    """start() the processor over ``src`` and wait until the drain ends.
    With a recording tracer, the sink's per-epoch call, its store reads
    and compactions, and each ledger commit become spans."""
    ledger = OffsetsLedger(out, "perfbench")
    sink = make_sink(f"{out}/sink", ledger)
    store_dirs: list[int] = []
    tracer.wrap(ledger, "commit", "ledger.commit", id_of=lambda epoch_id, *a, **k: epoch_id)
    tracer.wrap(sink, "compact", "sink.compact")
    # the id hook runs before each store read: record how many directories
    # that read is about to scan
    tracer.wrap(sink, "read_output", "sink.read_output",
                id_of=lambda *a: store_dirs.append(len(sink.output_paths())))
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(src, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=tracer.callable(sink, "sink.call", id_of=lambda df, epoch_id: epoch_id),
        checkpoint_dir=f"{out}/checkpoint",
        pipeline=pipeline,
        query_name="perfbench",
    )
    stages = stages_since(spark)
    error = None
    with tracer.span("processor.drain") as root, tracer.under(root):
        t0 = time.perf_counter()
        with tracer.span("processor.start"):
            query = proc.start(drain=True)
        try:
            query.awaitTermination()
        except StreamingQueryException as e:
            error = str(e).splitlines()[0]
        wall = time.perf_counter() - t0
    # read the sink and ledger unwrapped from here on (checks are not traced)
    sink.__dict__.pop("read_output", None)
    ledger.__dict__.pop("commit", None)
    return Drain(wall, list(query.recentProgress), sink, ledger, error, stages(), store_dirs)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------
def _epoch_ops(d: Drain, n_slices: int, bad: set[int]) -> tuple[int, int]:
    """(attempted, failed) epochs: one per micro-batch that ran, at least
    one per staged slice; failed = not committed or holding a bad row."""
    ran = {p["batchId"] for p in d.progress}
    attempted = max(len(ran), n_slices)
    committed = set(d.ledger.epochs()) & ran
    return attempted, attempted - len(committed - bad)


def check_offsets(batch: DataFrame, ledger: OffsetsLedger) -> list[str]:
    want = {
        r["partition"]: r["next"]
        for r in batch.groupBy("partition").agg((F.max("offset") + 1).alias("next")).collect()
    }
    got = ledger.committed_offsets()
    return [] if got == want else [f"committed offsets {got} != staged max offset + 1 {want}"]


def check_window(spark, src: str, d: Drain, n_slices: int, turns: int) -> tuple[int, int, list[str]]:
    """Every emitted (win_start, conv_id) row equals its batch twin, no key
    is emitted twice, every window closed by the final watermark was
    emitted, no row was dropped as late, and the epochs read each of the
    ``turns`` staged turns once. (The windowed output carries no
    (partition, offset) columns, so the sink's ledger records no offsets
    for this pipeline; the input count stands in for the offsets check.)"""
    problems = [f"query failed: {d.error}"] if d.error else []
    keys = ["win_start", "conv_id"]
    vals = EXACT_COLS + ("avg_quality",)
    ref = flagship_stream_pipeline(spark.read.schema(STREAM_SCHEMA).parquet(src)).select(
        *keys, *[F.col(c).alias(f"r_{c}") for c in vals]
    )
    bad: set[int] = set()
    if d.ledger.epochs():
        out = d.sink.read_output(spark).select("epoch", *keys, *[F.col(c).alias(f"o_{c}") for c in vals])
        wrong = F.col("r_win_end").isNull() | (F.count(F.lit(1)).over(Window.partitionBy(*keys)) > 1)
        for c in EXACT_COLS:
            wrong = wrong | ~F.col(f"o_{c}").eqNullSafe(F.col(f"r_{c}"))
        diff = F.abs(F.col("o_avg_quality") - F.col("r_avg_quality"))
        wrong = wrong | ~F.coalesce(
            diff <= F.lit(AVG_TOL) * F.greatest(F.lit(1.0), F.abs(F.col("r_avg_quality"))),
            F.col("o_avg_quality").isNull() & F.col("r_avg_quality").isNull(),
        )
        # a window missing from the output lands in the epoch-null group
        wm = (d.progress[-1].get("eventTime") or {}).get("watermark") if d.progress else None
        closed = (
            F.col("r_win_end") < F.to_timestamp(F.lit(wm.replace("T", " ").rstrip("Z")))
            if wm else F.lit(False)
        )
        rows = (
            out.join(ref, keys, "full_outer")
            .withColumn("wrong", F.when(F.col("epoch").isNull(), closed).otherwise(wrong).cast("int"))
            .groupBy("epoch")
            .agg(F.sum("wrong").alias("bad"))
            .collect()
        )
        for r in rows:
            if r["bad"] and r["epoch"] is None:
                problems.append(f"{r['bad']} windows closed by watermark {wm} were never emitted")
            elif r["bad"]:
                bad.add(r["epoch"])
    else:
        problems.append("no epoch was committed")
    if bad:
        problems.append(f"epochs {sorted(bad)} committed rows that differ from batch")
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0) for p in d.progress for so in p.get("stateOperators", [])
    )
    if dropped:
        problems.append(f"{dropped} rows dropped by the watermark")
    read = sum(p.get("numInputRows", 0) for p in d.progress)
    if read != turns:
        problems.append(f"epochs read {read} turns, {turns} were staged")
    attempted, failed = _epoch_ops(d, n_slices, bad)
    return attempted, failed, problems


def check_dedup(spark, src: str, d: Drain, n_slices: int, staged: dict) -> tuple[int, int, list[str], dict]:
    """The committed keep-set equals first-arrival dedup computed in batch
    (earliest slice, then lowest conv_id, per conversation fingerprint),
    epoch by epoch; every dropped conversation is a generated retry."""
    problems = [f"query failed: {d.error}"] if d.error else []
    batch = spark.read.schema(STREAM_SCHEMA).parquet(src)
    convs = spark.read.parquet(src + ".convs")
    keep = (
        transcript_fingerprints(batch)
        .join(convs, "conv_id")
        .groupBy("conv_fp")
        .agg(F.min(F.struct("slice", "conv_id")).alias("k"))
        .select(F.col("k.conv_id").alias("conv_id"), F.col("k.slice").alias("slice"))
    )
    kept = 0
    bad: set[int] = set()
    if d.ledger.epochs():
        got = d.sink.read_output(spark).select("conv_id", F.col("epoch").cast("int")).distinct()
        kept = got.count()
        rows = (
            got.join(keep, "conv_id", "full_outer")
            .filter(~F.col("epoch").eqNullSafe(F.col("slice")))
            .select(F.coalesce("epoch", "slice").alias("e"))
            .distinct()
            .collect()
        )
        bad = {r["e"] for r in rows}
    if bad:
        problems.append(f"epochs {sorted(bad)} committed a keep-set that differs from batch")
    dropped = staged["convs"] - kept
    if dropped != staged["retries"]:
        problems.append(f"dropped {dropped} conversations, generated {staged['retries']} retries")
    problems += check_offsets(batch, d.ledger)
    attempted, failed = _epoch_ops(d, n_slices, bad)
    return attempted, failed, problems, {"kept": kept, "dropped": dropped}


# ---------------------------------------------------------------------------
# per-layer numbers of one drain
# ---------------------------------------------------------------------------
def progress_layers(d: Drain) -> dict[str, float]:
    """streaming.processor and state-store numbers read from the query's
    progress reports (durations in seconds)."""

    def dur(p, k):
        return p.get("durationMs", {}).get(k, 0) / 1000

    te = [dur(p, "triggerExecution") for p in d.progress]
    ab = [dur(p, "addBatch") for p in d.progress]
    states = [so for p in d.progress for so in p.get("stateOperators", [])]
    return {
        "processor.epochs": len(d.progress),
        "processor.add_batch_s_p50": p50(ab),
        "processor.overhead_s_p50": p50([t - a for t, a in zip(te, ab)]),
        "processor.query_planning_s_p50": p50([dur(p, "queryPlanning") for p in d.progress]),
        "processor.wal_s_p50": p50([dur(p, "walCommit") for p in d.progress]),
        "state.rows_total": max(
            (sum(so.get("numRowsTotal", 0) for so in p.get("stateOperators", [])) for p in d.progress),
            default=0,
        ),
        "state.memory_bytes": max((so.get("memoryUsedBytes", 0) for so in states), default=0),
        "state.commit_s_p50": p50([so.get("commitTimeMs", 0) / 1000 for so in states]),
        "state.rows_dropped_by_watermark": sum(so.get("numRowsDroppedByWatermark", 0) for so in states),
    }


def sink_files(d: Drain) -> dict[str, float]:
    files, sizes = [], []
    for e in d.ledger.epochs():
        parts = glob.glob(os.path.join(d.sink.data_dir(e), "*.parquet"))
        if parts:
            files.append(len(parts))
            sizes.append(sum(os.path.getsize(p) for p in parts))
    return {"sink.files_per_epoch": p50(files), "sink.bytes_per_epoch": p50(sizes)}


def epoch_accounting(d: Drain, tracer) -> float:
    """Largest share of an epoch's triggerExecution that
    (triggerExecution - addBatch) + the traced sink call leaves unexplained."""
    calls = dict(tracer.durations("sink.call"))
    worst = 0.0
    for p in d.progress:
        te = p["durationMs"].get("triggerExecution", 0) / 1000
        if te <= 0 or p["batchId"] not in calls:
            continue
        explained = te - p["durationMs"].get("addBatch", 0) / 1000 + calls[p["batchId"]]
        worst = max(worst, abs(te - explained) / te)
    return worst


def e2e(d: Drain, turns: int) -> dict[str, float]:
    te = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in d.progress]
    return {"run_s": d.wall_s, "op_s_p50": p50(te), "op_s_p75": p75(te), "rows_per_s": turns / d.wall_s}
