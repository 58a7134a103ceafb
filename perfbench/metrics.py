"""Metric names and units the benchmark reports, and the summary rules.

``END_TO_END`` is printed with tracing off, ``PER_LAYER`` with tracing on;
both lists must match BENCHMARK.json (a test pins them). Every workload
prints every metric of the list for its mode; a layer a workload never
calls reads 0. The ``spark.*`` counters and ``unattributed_s`` cover the
workload's batch: the KG build for query_local, the first timed operator
pass for curate. ``memory.peak_rss_mb`` is per-layer rather than end-to-end
because it follows the JVM's heap sizing more than the work.

- ``setup_s``: the sum of a run's untimed phases (session start, and the
  warm-up and VDB build below).
- ``batch_s``: query_local's KG build, a fresh process's first
  ``run_pipeline``, as a one-shot index job pays it; curate's median
  operator pass, timed warm after an untimed warm-up pass over small
  tables (one pass fills a run).
- ``op_p50_s``: query_local's typical question, the median over the run's
  timed rounds of the round's mean question time, after one untimed
  warm-up question (a round asks one question of each kind; a plain median
  of single questions jumps between the kinds' levels, which differ by
  2x); curate's median operator call of the timed passes. Warm-up keeps the
  process's first-call costs (JIT, Python workers, plan compilation) out of
  these medians: they would otherwise decide which call sits in the middle.
"""

from __future__ import annotations

import math
import statistics

END_TO_END = (
    ("setup_s", "s"),
    ("batch_s", "s"),
    ("op_p50_s", "s"),
)

_STAGE_LAYERS = (
    ("spans", ("s", "jobs", "cpu_s")),
    ("extract", ("s", "jobs", "cpu_s")),
    ("scene", ("s", "jobs")),
    ("merge", ("s", "jobs", "shuffle_mb")),
    ("fusion", ("s", "jobs", "cpu_s", "blocks", "aliases")),
)
_UNITS = {"s": "s", "cpu_s": "s", "jobs": "count", "shuffle_mb": "MB",
          "blocks": "count", "aliases": "count"}

PER_LAYER = (
    ("setup.session_s", "s"),
    ("setup.warm_s", "s"),
    ("setup.kg_s", "s"),
    ("setup.vdb_s", "s"),
    *((f"{layer}.{m}", _UNITS[m]) for layer, ms in _STAGE_LAYERS for m in ms),
    ("checkpoint.mb_written", "MB"),
    ("checkpoint.commits", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.stages_skipped", "count"),
    ("spark.tasks", "count"),
    ("spark.task_failures", "count"),
    ("spark.cpu_util", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("unattributed_s", "s"),
    ("query.embed_s", "s"),
    ("query.ann_s", "s"),
    ("query.degrees_s", "s"),
    ("query.seeds_s", "s"),
    ("query.text_units_s", "s"),
    ("query.edges_s", "s"),
    ("query.mm_s", "s"),
    ("query.jobs", "count"),
    ("query.seed_hit_rate", "ratio"),
    ("query.storage_mb", "MB"),
    ("query.drift", "ratio"),
    ("dedup.exact_s", "s"),
    ("dedup.near_dup_s", "s"),
    ("dedup.simhash_s", "s"),
    ("dedup.embedding_near_dups_s", "s"),
    ("dedup.decontaminate_s", "s"),
    ("textstats.repetition_s", "s"),
    ("textstats.quality_s", "s"),
    ("textstats.lang_id_s", "s"),
    ("similarity.brute_topk_s", "s"),
    ("similarity.lsh_topk_s", "s"),
    ("similarity.ivf_fit_s", "s"),
    ("similarity.ivf_probe_s", "s"),
    ("sampling.pack_s", "s"),
    ("curate.jobs", "count"),
    ("memory.peak_rss_mb", "MB"),
    ("trace.batch_s", "s"),
    ("trace.op_p50_s", "s"),
)

MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile, or None unless at least MIN_BEYOND
    samples lie above it. The median is exempt: it is always reported."""
    if not samples:
        return None
    xs = sorted(samples)
    if q == 0.5:
        return statistics.median(xs)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def highest_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest of p99/p90/p75 that the rule allows."""
    for q in (0.99, 0.9, 0.75):
        v = percentile(samples, q)
        if v is not None:
            return q, v
    return None


def drift(samples: list[float]) -> float:
    """Median of the last quarter of a run's samples over the median of the
    first quarter (1.0 when flat)."""
    if len(samples) < 2:
        return 1.0
    k = max(1, len(samples) // 4)
    return statistics.median(samples[-k:]) / statistics.median(samples[:k])


def render(values: dict, spec) -> dict:
    """{name: {"value", "unit"}} for every metric of ``spec``; names the
    workload did not measure read 0."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in spec
    }
