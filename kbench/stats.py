"""Summary statistics and the metric catalogue shared by the runner and
the self-tests."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
# a p90 needs at least this many samples, so that 10 or more lie beyond it
MIN_TAIL_SAMPLES = 100


def p50(values):
    return statistics.median(values) if values else None


def kind_mean(latencies: dict[str, list[float]]):
    """Geometric mean over request kinds of each kind's median: every kind
    weighs the same whatever its sample count or its share of the mix."""
    meds = [statistics.median(v) for v in latencies.values() if v]
    return statistics.geometric_mean(meds) if meds else None


def tail(values, q: float = 0.9):
    """The q-quantile, or None when fewer than MIN_TAIL_SAMPLES values
    support it."""
    if len(values) < MIN_TAIL_SAMPLES:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


END_TO_END = {
    "setup_s": "s",
    "read_ms": "ms",
    "write_ms": "ms",
    "heavy_rows_per_s": "rows/s",
    "storage_amp": "ratio",
    "peak_rss_mb": "MB",
}

# Spark work per request, for each request kind that can occur.
SPARK_KINDS = ("query", "mutation", "search", "curate", "ingest")
SPARK_FIELDS = {
    "jobs": "count/req", "stages": "count/req", "tasks": "count/req",
    "task_ms": "ms/req", "driver_gap_ms": "ms/req", "scan_bytes": "B/req",
    "shuffle_bytes": "B/req", "exchanges": "count/req",
    "broadcasts": "count/req", "scans": "count/req",
    "python_eval_ms": "ms/req", "python_rows": "rows/req", "gc_ms": "ms/req",
}
SEARCH_KINDS = ("bm25", "indexed", "phrase", "fuzzy", "rag", "ann", "hybrid")


def per_layer_units() -> dict[str, str]:
    units = {
        "server.lines": "count/req", "server.wire_ms": "ms/req",
        "server.reload_ms": "ms/req",
        "parser.parse_ms": "ms/req",
        "engine.script_ms": "ms/req", "engine.self_ms": "ms/req",
        "engine.ops": "count/req", "engine.actions": "count/req",
        "engine.persisted_frames": "count/req",
        "operators.calls": "count/req", "operators.build_ms": "ms/req",
        "catalog.read_ms": "ms/req", "catalog.files_kept_ratio": "ratio",
        "catalog.write_ms": "ms/req", "catalog.write_bytes_per_user_byte": "ratio",
        "catalog.segments_live": "count", "catalog.tombstoned_bytes": "B",
        "catalog.compactions": "count", "catalog.compaction_ms": "ms",
        "artifacts.calls": "count", "artifacts.hit_ratio": "ratio",
        "artifacts.build_ms": "ms",
        "functions.curate_ms": "ms",
        **{f"functions.search.{k}_ms": "ms" for k in SEARCH_KINDS},
        "streaming.batches": "count/req", "streaming.batch_ms": "ms/req",
        "streaming.addbatch_ms": "ms/req", "streaming.rows": "rows/req",
        **{f"spark.{k}.{f}": u for k in SPARK_KINDS for f, u in SPARK_FIELDS.items()},
        "spark.unattributed_task_ms": "ms",
        "spark.unattributed_share": "ratio",
    }
    # the end-to-end metrics as measured with tracing on: minus the
    # untraced run's value, the tracing overhead
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    return units


# Which end-to-end metric each per-layer metric should move, and where
# (longest matching prefix wins).
MOVES = {
    "server.": "read_ms, write_ms on dsl_mixed",
    "parser.": "read_ms on dsl_mixed",
    "engine.": "read_ms, heavy_rows_per_s on dsl_mixed",
    "operators.": "read_ms, heavy_rows_per_s on dsl_mixed",
    "catalog.read_ms": "read_ms, heavy_rows_per_s on dsl_mixed",
    "catalog.files_kept_ratio": "read_ms, heavy_rows_per_s on dsl_mixed",
    "catalog.": "write_ms, storage_amp on dsl_mixed",
    "artifacts.": "read_ms, setup_s on corpus_mixed",
    "functions.curate_ms": "heavy_rows_per_s on corpus_mixed",
    "functions.search.": "read_ms on corpus_mixed",
    "streaming.": "write_ms on corpus_mixed",
    "spark.query.": "read_ms, heavy_rows_per_s on dsl_mixed",
    "spark.mutation.": "write_ms on dsl_mixed",
    "spark.search.": "read_ms on corpus_mixed",
    "spark.curate.": "heavy_rows_per_s on corpus_mixed",
    "spark.ingest.": "write_ms on corpus_mixed",
    "spark.unattributed": "none: tracing's own check, at most 5% of task time",
    "traced.": "itself: minus the untraced run's value, the tracing overhead",
}


def moves(metric: str) -> str:
    return MOVES[max((p for p in MOVES if metric.startswith(p)), key=len)]
