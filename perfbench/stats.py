"""Small statistics shared by the workloads, and the Spark engine layer
read from the status store."""

from __future__ import annotations

import statistics

from arroyo_spark.streaming import stage_metrics


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p75(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=4)[2]


def _settled(spark) -> list[dict]:
    """Stage metrics once the listener bus has delivered every event posted
    so far: the status store is filled from that bus asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return stage_metrics(spark)


def stages_since(spark):
    """Returns a callable giving the stages submitted after this call."""
    last = max((s["stage_id"] for s in _settled(spark)), default=-1)
    return lambda: [s for s in _settled(spark) if s["stage_id"] > last]


def spark_layers(stages: list[dict]) -> dict[str, float]:
    run = sum(s["executor_run_time_ms"] for s in stages) / 1000
    cpu = sum(s["executor_cpu_time_ms"] for s in stages) / 1000
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(s["num_tasks"] for s in stages),
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": cpu,
        "spark.task_wait_s": run - cpu,
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["memory_spilled_bytes"] + s["disk_spilled_bytes"] for s in stages),
        "spark.input_bytes": sum(s["input_bytes"] for s in stages),
    }
