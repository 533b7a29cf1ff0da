"""Batch operators: registry queries from three families, each checked
against its recorded (rows, bit_xor(xxhash64(*cols))) value.

The families stress different layers: ``vector`` runs the Python/Arrow
grouped kernels, ``retrieval`` the JVM shuffle joins, ``transcript`` the
text, window and CEP operators. A query run is timed in two parts: the
``QUERIES[name]`` call that builds the DataFrame, and the checksum action
that executes it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from arroyo_spark import queries

FAMILIES = {
    "vector": ("lsh_ann_topk", "ivfpq_ann_topk", "semantic_dedup", "kmeans_train"),
    "retrieval": ("bm25_topk", "text_feature_hash"),
    "transcript": ("reduce_tumbling", "session_reduce", "cep_unresolved_tools", "transcript_dedup"),
}
QUERY_FAMILY = {q: fam for fam, qs in FAMILIES.items() for q in qs}
# the input table each family's queries scan (rows_per_s counts its rows)
FAMILY_TABLE = {
    "vector": "embeddings",
    "retrieval": "documents",
    "transcript": "events",
}
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_batch.json")


def checksum(df) -> tuple[int, int]:
    """Execute every output column: (row count, bit_xor of xxhash64 over
    all columns) in one driver-side row."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


def load_expected(size: str) -> dict[str, list[int]]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)[size]


def run_query(spark, name: str, data_dir: str, tracer) -> dict:
    """One query run: build and execute times, result, and any error."""
    rec = {"name": name, "build_s": 0.0, "execute_s": 0.0, "result": None, "error": None}
    with tracer.span("query", name):
        t0 = time.perf_counter()
        try:
            with tracer.span("batch.build", name):
                df = queries.QUERIES[name](spark, data_dir)
            t1 = time.perf_counter()
            with tracer.span("batch.execute", name):
                rec["result"] = list(checksum(df))
            t2 = time.perf_counter()
            rec["build_s"], rec["execute_s"] = t1 - t0, t2 - t1
        except Exception as e:  # noqa: BLE001 — a failing query is counted, never skipped
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    rec["wall_s"] = rec["build_s"] + rec["execute_s"] if rec["error"] is None else time.perf_counter() - t0
    return rec
