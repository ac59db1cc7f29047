"""Names, units and directions of every metric the benchmark reports.
``BENCHMARK.json`` lists the same names (a test keeps the two equal)."""

from __future__ import annotations

#: End-to-end metrics of an untraced run: name -> (unit, better).
END_TO_END = {
    "docs_per_s": ("1/s", "higher"),
    "batch_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "cpu_s_per_kdoc": ("s/kdoc", "lower"),
    "shuffle_mb_per_kdoc": ("MB/kdoc", "lower"),
    "dup_pair_recall": ("ratio", "higher"),
    "setup_s": ("s", "lower"),
}

#: Gate counters printed with the end-to-end metrics but carried in the
#: result line by ``correct``/``failed``/``attempted`` (they are 0 on
#: every passing run, so they cannot be gated as a share of a median).
GATE = {"false_pos_pairs": "count", "fail_ratio": "ratio"}

LAYERS = (
    "sources.extract",
    "functions.fingerprints",
    "plans.chain",
    "operators.lsh",
    "operators.components",
    "operators.substring",
    "operators.ranking",
    "plans.pipeline",
    "streaming.incremental",
)

#: Reported for every layer: suffix -> (unit, better).
PER_SPAN = {
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "jobs": ("count", "lower"),
    "task_skew": ("ratio", "lower"),
    "core_util": ("ratio", "higher"),
    "failed_tasks": ("count", "lower"),
}

#: Layer-specific metrics: full name -> (unit, better).
SPECIFIC = {
    "functions.fingerprints.udf_s_per_kdoc": ("s/kdoc", "lower"),
    "functions.fingerprints.quarantined_docs": ("count", "lower"),
    "sources.extract.udf_s_per_kdoc": ("s/kdoc", "lower"),
    "plans.chain.hash_ok": ("bool", "higher"),
    "operators.lsh.candidate_pairs": ("count", "lower"),
    "operators.lsh.overflow_buckets": ("count", "lower"),
    "operators.lsh.verified_pairs": ("count", "higher"),
    "operators.lsh.verify_yield": ("ratio", "higher"),
    "operators.lsh.verify_broadcast": ("bool", "higher"),
    "operators.components.edges_in": ("count", "lower"),
    "operators.components.clustered_docs": ("count", "higher"),
    "operators.substring.anchor_pairs": ("count", "lower"),
    "operators.substring.overflow_anchors": ("count", "lower"),
    "operators.substring.verified_pairs": ("count", "higher"),
    "operators.substring.verify_yield": ("ratio", "higher"),
    "operators.ranking.actions_rows": ("count", "lower"),
    "plans.pipeline.checkpoint_s": ("s", "lower"),
    "plans.pipeline.unattributed_s": ("s", "lower"),
    "plans.pipeline.tracing_overhead_s": ("s", "lower"),
    "streaming.incremental.latency_growth": ("ratio", "lower"),
    "streaming.incremental.state_files": ("count", "lower"),
    "streaming.incremental.fresh_pairs": ("count", "higher"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    out = {f"{layer}.{m}": spec for layer in LAYERS for m, spec in PER_SPAN.items()}
    out.update(SPECIFIC)
    return out
