"""The benchmark workloads: what each one runs, times and checks.

Both workloads reach the engine only through its public entry points and
existing arguments (``run_pipeline(checkpointer=...)``,
``load_or_build_query_state``, ``local_query``, the curation operators as
``__spark_entry__.queries()`` calls them), so the engine gains no switch for
being measured. With a tracer the same calls run inside spans; the
per-layer figures come from those spans and the Spark counters of their job
groups.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import json
import numbers
import os
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import corpus, metrics
from perfbench.trace import SparkCounters, Tracer, add_counters, zero_counters

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "pinned.json")

QUERY_DOCS = 5000
MIN_ROUNDS = 2  # timed question rounds per run, after the untimed warm-up question
CURATE_DOCS = 5000  # the size of sf0.1's documents table
CURATE_VECS = 2000  # the size of sf0.1's embeddings table
# repetition_features is the one operator whose cost grows with the input at
# this size: ~37 ms per document on a 4-core host (185 s and 690 CPU-s for
# 5,000 docs, in its n-gram regexes), more than a whole run may take. It
# reads the first REPETITION_DOCS of the same documents instead (~4 s warm;
# 250 docs took 9-10 s of a 25-28 s warm pass, more than the driver's time
# for all runs leaves).
REPETITION_DOCS = 100
# The curate warm-up pass runs every operator once over tables this small,
# so the timed pass at full size pays no first-call cost (JIT, Python
# workers, plan compilation), ~22 s of a cold 50 s pass on a 4-core host.
WARM_DOCS = 50
WARM_VECS = 100
WARM_REPETITION_DOCS = 10


class CheckFailed(Exception):
    """An output differs from its oracle or its pinned digest."""


@dataclass
class Outcome:
    """What one run measured. ``setup`` holds the untimed phases (seconds by
    name), ``batch_s`` the workload's one-shot job, ``ops`` the wall time of
    each timed operation, ``op_p50_s`` their typical time as the workload
    defines it, ``layers`` the per-layer values of a traced run."""

    setup: dict = field(default_factory=dict)
    batch_s: float = 0.0
    ops: list = field(default_factory=list)
    op_p50_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def check(self, name: str, fn) -> bool:
        """Count one operation; a check or engine error marks it failed."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as ex:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            self.failures.append(f"{name}: {type(ex).__name__}: {ex}")
            if not isinstance(ex, CheckFailed):
                traceback.print_exc()
            return False


@dataclass
class Context:
    spark: object
    tracer: Tracer | None
    seed: int
    seconds: float
    data_dir: str
    work_dir: str
    deadline: float  # monotonic time after which no new operation starts

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()


def load_pinned() -> dict:
    with open(PINNED) as f:
        return json.load(f)


# -- output checks -----------------------------------------------------------

def _canon(v):
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, numbers.Number) and not isinstance(v, bool):
        return round(float(v), 6) + 0.0  # + 0.0 folds -0.0 into 0.0
    return v


def rows_digest(cols, rows) -> str:
    """md5 of a result, independent of row and column order. Numbers count
    as floats rounded to 6 places, so an oracle's integer or decimal matches
    Spark's double of the same value."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(json.dumps([_canon(r[i]) for i in order]) for r in rows)
    return hashlib.md5(json.dumps([sorted(cols), canon]).encode()).hexdigest()


def oracle_db(data_dir: str):
    """DuckDB connection with the input tables as the oracle SQL names them."""
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def oracle_digests(con, names) -> dict:
    """{oracle name: digest of its rows}, each oracle run once per run."""
    import __spark_entry__ as entry

    out = {}
    for name in names:
        res = con.sql(entry.oracle_sql()[name])
        rows = res.fetchall()
        out[name] = (rows_digest(res.columns, rows), len(rows))
    return out


def check_rows(want: dict, oracle: str, cols: list, rows: list) -> None:
    digest, n = want[oracle]
    if rows_digest(cols, rows) != digest:
        raise CheckFailed(f"{len(rows)} rows differ from oracle {oracle} ({n} rows)")


def context_digest(context: str, mm_entities: list) -> str:
    return hashlib.md5((context + "\n" + json.dumps(mm_entities)).encode()).hexdigest()


def n_seeds(context: str) -> int:
    """Rows of the Entities section of an assembled context."""
    section = context.split("-----Relationships-----")[0]
    return max(0, len(section.strip().splitlines()) - 2)


# -- index stages (query_local's KG build) ------------------------------------

STAGE_LAYERS = {
    "chunk_rows": "spans", "media_ctx": "spans", "media_spans": "spans",
    "mentions": "extract", "mention_rows": "extract",
    "image_entity_mentions": "scene",
    "edges_prefusion": "merge", "entities_prefusion": "merge",
    "fusion_blocks": "fusion", "fusion_clusters": "fusion",
    "alias_pairs": "fusion", "aliases": "fusion",
    "entities": "fusion", "edges": "fusion",
}


class TracingCheckpointer:
    """Wraps a checkpointer: every stage commit runs inside a span (and so in
    its own Spark job group). Everything else, ``eager_stages`` and
    ``committed`` included, is the wrapped checkpointer's own."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.outputs = {}

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def stage(self, name, df):
        with self._tracer.span(f"stage.{name}", stage=name):
            out = self.outputs[name] = self._inner.stage(name, df)
        return out

    def stage_light(self, name, df):
        with self._tracer.span(f"stage.{name}", stage=name):
            out = self.outputs[name] = self._inner.stage_light(name, df)
        return out


KG_ORACLES = ("kg_triples", "kg_entities", "kg_aliases")


def build_kg(ctx: Context, out: Outcome, want: dict) -> tuple:
    """The api's index shape: ``run_pipeline`` with a ParquetCheckpointer
    into a fresh directory, timed up to and including the triples count,
    then checked against the kg_* oracle digests ``want``. Returns (kg,
    seconds)."""
    from mmgraphrag_spark.pipeline import run_pipeline
    from mmgraphrag_spark.plans import ParquetCheckpointer
    from mmgraphrag_spark.sources.documents import interleave_from_flat
    from pyspark.sql import functions as F

    spark = ctx.spark
    ckpt_dir = os.path.join(ctx.work_dir, "kg_checkpoint")
    cp = ParquetCheckpointer(spark, ckpt_dir)
    if ctx.tracer:
        cp = TracingCheckpointer(cp, ctx.tracer)
    docs = interleave_from_flat(
        spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet"))
    )
    with ctx.span("kg_build", new_trace=True) as s:
        t0 = time.monotonic()
        kg = run_pipeline(spark, docs, checkpointer=cp)
        n_triples = kg["triples"].count()
        seconds = time.monotonic() - t0
    print(f"perfbench: kg build {seconds:.3f} s, {n_triples} triples", flush=True)

    def verify():
        check_rows(want, "kg_triples", ["subj", "pred", "obj", "weight"],
                   [tuple(r) for r in kg["triples"].select("subj", "pred", "obj", "weight").collect()])
        ents = kg["entities"].select(
            "entity_name", "entity_type",
            F.size("source_ids").cast("bigint").alias("n_sources"),
        )
        check_rows(want, "kg_entities", ents.columns, [tuple(r) for r in ents.collect()])
        check_rows(want, "kg_aliases", ["alias", "canonical"],
                   [tuple(r) for r in kg["aliases"].select("alias", "canonical").collect()])

    out.check("kg_build", verify)
    if ctx.tracer:
        _index_layers(ctx, out, s, cp, kg, ckpt_dir)
    return kg, seconds


def _index_layers(ctx, out, build_span, cp, kg, ckpt_dir) -> None:
    tracer = ctx.tracer
    stage_spans = tracer.children(build_span)
    counters = SparkCounters(ctx.spark).by_group(
        [Tracer.group(s.id) for s in [build_span, *stage_spans]]
    )
    L = out.layers
    total = counters[Tracer.group(build_span.id)]
    for s in stage_spans:
        c = counters[Tracer.group(s.id)]
        total = add_counters(total, c)
        layer = STAGE_LAYERS.get(s.attrs["stage"])
        if layer is None:
            continue
        for key, val in (("s", s.seconds), ("jobs", c["jobs"]), ("cpu_s", c["cpu_s"]),
                         ("shuffle_mb", c["shuffle_mb"])):
            L[f"{layer}.{key}"] = L.get(f"{layer}.{key}", 0) + val
    _scheduler_layers(L, total, build_span.seconds, ctx.spark)
    L["unattributed_s"] = tracer.self_seconds(build_span)
    L["setup.kg_s"] = build_span.seconds
    L["fusion.blocks"] = cp.outputs["fusion_blocks"].select("block_id").distinct().count()
    L["fusion.aliases"] = kg["aliases"].count()
    size = commits = 0
    for root, _, files in os.walk(ckpt_dir):
        for f in files:
            size += os.path.getsize(os.path.join(root, f))
            commits += f == "_COMMIT.json"
    L["checkpoint.mb_written"] = size / 1e6
    L["checkpoint.commits"] = commits


def _scheduler_layers(L: dict, c: dict, wall: float, spark) -> None:
    cores = spark.sparkContext.defaultParallelism
    for k in ("jobs", "stages", "stages_skipped", "tasks", "task_failures",
              "gc_s", "shuffle_mb", "spill_mb"):
        L[f"spark.{k}"] = c[k]
    L["spark.cpu_util"] = c["cpu_s"] / (wall * cores) if wall > 0 else 0.0


# -- query_local ---------------------------------------------------------------

def query_local(ctx: Context, out: Outcome) -> None:
    """Index the corpus (the batch: a fresh process's first run_pipeline,
    what a one-shot index job through the api pays), build the VDB over its
    KG, ask one untimed warm-up question, then ask seeded questions one
    after another (closed loop, one client) until the run's time is spent,
    in whole rounds of one question per kind and at least MIN_ROUNDS
    rounds. Questions are timed warm: a process's first question pays
    first-call costs (JIT, Python workers, plan compilation) that a query
    service pays once."""
    from mmgraphrag_spark.query import load_or_build_query_state

    pinned = load_pinned()
    want = oracle_digests(oracle_db(ctx.data_dir), KG_ORACLES)
    kg, out.batch_s = build_kg(ctx, out, want)
    with ctx.span("setup.vdb"):
        t0 = time.monotonic()
        vdb, _ = load_or_build_query_state(ctx.spark, kg["entities"], ctx.work_dir, "exact")
        out.setup["vdb"] = time.monotonic() - t0
    ask = functools.partial(
        _ask, ctx, out, _traced_question if ctx.tracer else _question, pinned["contexts"], kg, vdb,
    )
    # one caption question warms the whole query path: it ranks seeds and
    # reaches the multimodal branch
    t0 = time.monotonic()
    ask("setup.question", corpus.CAPTION, corpus.warm_up_question(ctx.seed))
    out.setup["warm"] = time.monotonic() - t0

    stream = corpus.question_stream(ctx.seed, pinned["no_match_words"])
    hits = 0
    rounds = []  # mean question time of each timed round
    start = time.monotonic()
    while True:
        times = []
        for _ in corpus.KINDS:
            t, seeds = ask("question", *next(stream))
            times.append(t)
            hits += seeds > 0
        out.ops.extend(times)
        rounds.append(statistics.fmean(times))
        now = time.monotonic()
        if (now - start >= ctx.seconds and len(rounds) >= MIN_ROUNDS) or now >= ctx.deadline:
            break
    print("perfbench: question rounds " + " ".join(f"{r:.3f}" for r in rounds), flush=True)
    out.op_p50_s = statistics.median(rounds)
    if ctx.tracer:
        _query_layers(ctx, out, hits, rounds)


def _ask(ctx, out, ask, digests, kg, vdb, span_name, kind, q) -> tuple:
    """Ask one question and check its context: (seconds, seeds ranked)."""
    t0 = time.monotonic()
    context, mm = ask(ctx, kg, vdb, q, span_name)
    seconds = time.monotonic() - t0
    seeds = n_seeds(context)

    def verify():
        if (seeds == 0) != (kind == corpus.NO_MATCH):
            raise CheckFailed(f"{kind} question {q!r} ranked {seeds} seeds")
        if kind == corpus.CAPTION and not mm:
            raise CheckFailed(f"caption question {q!r} reached no ORI_IMG seed")
        if digests.get(q) != context_digest(context, mm):
            raise CheckFailed(f"context of {q!r} differs from its pinned digest")

    out.check(f"question {q!r}", verify)
    return seconds, seeds


def _question(ctx, kg, vdb, q, span_name):
    from mmgraphrag_spark.query import local_query

    with ctx.span(span_name, new_trace=True):
        r = local_query(ctx.spark, kg, q, vdb=vdb)
    return r["context"], r["mm_entities"]


def local_query_defaults() -> dict:
    """local_query's own top_k and threshold, so the traced phases rank
    exactly as local_query does."""
    from mmgraphrag_spark.query import local_query

    ps = inspect.signature(local_query).parameters
    return {k: ps[k].default for k in ("top_k", "threshold")}


def _traced_question(ctx, kg, vdb, q, span_name):
    """local_query's phases in its order, one span per phase. ANN, degrees,
    seeds and the multimodal list are forced as local_query forces them;
    text units and edges, which local_query collects inside
    assemble_context, are checkpointed first so each is timed on its own.
    The context is the same as local_query's, and the pinned digest check
    holds it to that."""
    from mmgraphrag_spark.backends.embeddings import HashEmbedBackend
    from mmgraphrag_spark.query import (
        TemplateAnswerer,
        ann_entities,
        assemble_context,
        multimodal_entities,
        node_degrees,
        related_edges,
        related_text_units,
        seed_entities,
    )

    d = local_query_defaults()
    tr = ctx.tracer
    entities, edges, chunks = kg["entities"], kg["edges"], kg["chunks"]
    with tr.span(span_name, new_trace=True):
        with tr.span("query.embed"):
            qv = HashEmbedBackend().embed([q])[0]
        with tr.span("query.ann"):
            ann = ann_entities(vdb, qv, top_k=d["top_k"], threshold=d["threshold"]).localCheckpoint()
        with tr.span("query.degrees"):
            degrees = node_degrees(edges).localCheckpoint()
        with tr.span("query.seeds"):
            seeds = seed_entities(entities, edges, ann, degrees=degrees).localCheckpoint()
        with tr.span("query.text_units"):
            text_units = related_text_units(
                seeds, entities, edges, chunks, media=kg.get("media_spans")
            ).localCheckpoint()
        with tr.span("query.edges"):
            edge_rows = related_edges(seeds, edges, degrees=degrees).localCheckpoint()
        with tr.span("query.context"):
            context = assemble_context(seeds.orderBy("rnk"), text_units, edge_rows)
            TemplateAnswerer().answer(q, context)
        with tr.span("query.mm"):
            base = multimodal_entities(seeds).select(
                "entity_name", "rnk", "source_ids"
            ).localCheckpoint()
            mm = [r.entity_name for r in base.orderBy("rnk").collect()]
    return context, mm


def _query_layers(ctx, out, hits, rounds) -> None:
    tracer = ctx.tracer
    questions = tracer.named("question")  # the timed ones, not the warm-up
    timed = {q.trace for q in questions}
    groups = [Tracer.group(s.id) for s in tracer.spans if s.trace in timed]
    counters = SparkCounters(ctx.spark)
    by_group = counters.by_group(groups)
    L = out.layers
    for phase in ("embed", "ann", "degrees", "seeds", "text_units", "edges", "mm"):
        L[f"query.{phase}_s"] = statistics.median(
            s.seconds for s in tracer.named(f"query.{phase}") if s.trace in timed)
    jobs = []
    for q in questions:
        jobs.append(sum(by_group[Tracer.group(s.id)]["jobs"]
                        for s in tracer.spans if s.trace == q.trace))
    L["query.jobs"] = statistics.median(jobs)
    L["query.seed_hit_rate"] = hits / len(questions)
    L["query.storage_mb"] = counters.storage_mb()
    # whole rounds, so each sample holds one question of every kind; the
    # cold warm-up round is not among them
    L["query.drift"] = metrics.drift(rounds)


# -- curate --------------------------------------------------------------------

# (span name, __spark_entry__ query whose arguments and oracle the call
# uses). IVF runs as its two public halves so the fit and the probe are
# timed apart; the fit has no output of its own to check.
# CURATE_INPUT names the operators that read another input directory.
CURATE_INPUT = {"textstats.repetition": "repetition"}
CURATE_OPS = (
    ("dedup.exact", "exact_dedup"),
    ("dedup.near_dup", "near_dup_groups"),
    ("dedup.simhash", "simhash_pairs"),
    ("dedup.embedding_near_dups", "embedding_near_dups"),
    ("dedup.decontaminate", "decontaminate_spans"),
    ("textstats.repetition", "repetition"),
    ("textstats.quality", "quality"),
    ("textstats.lang_id", "lang_id"),
    ("similarity.brute_topk", "ann_topk"),
    ("similarity.lsh_topk", "lsh_ann_topk"),
    ("similarity.ivf_fit", None),
    ("similarity.ivf_probe", "ivf_topk"),
    ("sampling.pack", "pack_blocks"),
)


def _curate_calls(spark, data_dir) -> dict:
    """{span name: call returning the DataFrame to collect, or None}. The
    IVF halves repeat ``__spark_entry__``'s ivf_topk query (fit
    deterministic, so the probe matches its oracle)."""
    import __spark_entry__ as entry
    from mmgraphrag_spark.operators.similarity import build_ivf_index, ivf_topk
    from pyspark.sql import functions as F

    qs = entry.queries()
    emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    index = {}

    def fit():
        index["ivf"] = build_ivf_index(emb, n_centroids=8, max_iter=3)

    def probe():
        return ivf_topk(
            None, emb.filter(F.col("vec_id") < 5), k=10, n_probe=3, index=index["ivf"]
        ).select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            F.col("rank").cast("bigint").alias("rnk"),
        )

    calls = {name: functools.partial(qs[q], spark, input_dir(data_dir, CURATE_INPUT.get(name, "")))
             for name, q in CURATE_OPS if q and name != "similarity.ivf_probe"}
    calls["similarity.ivf_fit"] = fit
    calls["similarity.ivf_probe"] = probe
    return calls


def _check_op(want: str | None, result) -> None:
    if isinstance(result, Exception):
        raise result
    df, rows = result
    if rows is not None and rows_digest(df.columns, rows) != want:
        raise CheckFailed(f"{len(rows)} rows differ from the oracle's pinned digest")


def curate(ctx: Context, out: Outcome) -> None:
    """The training-data operator set: one untimed warm-up pass over small
    tables (the set-up), then timed passes over the seeded sf0.1-sized
    documents and embeddings until the run's time is spent. The batch is
    the median pass, what a batch job pays once the process is warm; an
    operation is one operator call. Each call of a timed pass is one
    checked output, held to the digest of its ``oracle_sql()`` entry over
    the same input, which pin.py records (the near_dup_groups oracle alone
    takes 10-20 s in DuckDB, more than a run can spend on checks); a
    warm-up call is checked only for completing."""
    pinned = load_pinned()["curate"]
    t0 = time.monotonic()
    _curate_pass(ctx, out, input_dir(ctx.data_dir, "warm"), "setup.curate_pass", None, {})
    out.setup["warm"] = time.monotonic() - t0

    passes, per_op = [], {}
    start = time.monotonic()
    while True:
        passes.append(_curate_pass(ctx, out, ctx.data_dir, "curate_pass", pinned, per_op))
        now = time.monotonic()
        if now - start >= ctx.seconds or now >= ctx.deadline:
            break
    out.batch_s = statistics.median(passes)
    out.ops = [t for times in per_op.values() for t in times]
    out.op_p50_s = statistics.median(out.ops)
    if ctx.tracer:
        _curate_layers(ctx, out, per_op)


def _curate_pass(ctx, out, data_dir, span_name, pinned, per_op) -> float:
    """Call every operator once over ``data_dir``, then check the outputs
    (against ``pinned`` digests, or for completing when None). Returns the
    pass's time, the sum of its calls; each call's time goes to
    ``per_op``."""
    calls = _curate_calls(ctx.spark, data_dir)
    results, total = {}, 0.0
    with ctx.span(span_name, new_trace=True):
        for name, _ in CURATE_OPS:
            with ctx.span(name):
                t0 = time.monotonic()
                try:
                    df = calls[name]()
                    results[name] = (df, None if df is None else [tuple(r) for r in df.collect()])
                except Exception as ex:  # noqa: BLE001 - counted as failed below
                    results[name] = ex
                seconds = time.monotonic() - t0
            per_op.setdefault(name, []).append(seconds)
            total += seconds
    for name, _ in CURATE_OPS:
        want = pinned.get(name) if pinned is not None else None
        result = results[name]
        if pinned is None and not isinstance(result, Exception):
            result = (None, None)  # a warm-up call only has to complete
        out.check(f"{span_name} {name}", functools.partial(_check_op, want, result))
    return total


def _curate_layers(ctx, out, per_op) -> None:
    """Per-operator times and scheduler counters of the first timed pass."""
    tracer = ctx.tracer
    L = out.layers
    for name, times in per_op.items():
        L[f"{name}_s"] = times[0]
    first = tracer.named("curate_pass")[0]
    spans = [s for s in tracer.spans if s.trace == first.trace]
    by_group = SparkCounters(ctx.spark).by_group([Tracer.group(s.id) for s in spans])
    c = zero_counters()
    for s in spans:
        c = add_counters(c, by_group[Tracer.group(s.id)])
    L["curate.jobs"] = c["jobs"]
    _scheduler_layers(L, c, first.seconds, ctx.spark)
    L["unattributed_s"] = tracer.self_seconds(first)


WORKLOADS = {"query_local": query_local, "curate": curate}
# {workload: {input directory under the data dir: table sizes}}
INPUTS = {
    "query_local": {"": dict(n_docs=QUERY_DOCS)},
    "curate": {"": dict(n_docs=CURATE_DOCS, n_vecs=CURATE_VECS),
               "repetition": dict(n_docs=REPETITION_DOCS),
               "warm": dict(n_docs=WARM_DOCS, n_vecs=WARM_VECS),
               "warm/repetition": dict(n_docs=WARM_REPETITION_DOCS)},
}


def input_dir(data_dir: str, sub: str) -> str:
    return os.path.join(data_dir, sub) if sub else data_dir


def write_inputs(workload: str, data_dir: str, seed: int) -> None:
    for sub, sizes in INPUTS[workload].items():
        corpus.write_tables(input_dir(data_dir, sub), seed, **sizes)
