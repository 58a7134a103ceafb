"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import corpus, metrics, run, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, self_time  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_pinned():
    bench = _bench_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(metrics.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert dict(metrics.END_TO_END)["setup_s"] == "s"
    rendered = metrics.render({"op_p50_s": 1.5}, metrics.END_TO_END)
    assert list(rendered) == [n for n, _ in metrics.END_TO_END]
    assert rendered["op_p50_s"] == {"value": 1.5, "unit": "s"}
    assert rendered["setup_s"]["value"] == 0.0


def test_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    assert metrics.percentile(xs, 0.9) == 90.0  # 10 samples above
    assert metrics.percentile(xs[:99], 0.9) is None  # only 9 above
    assert metrics.percentile([3.0, 1.0, 2.0], 0.5) == 2.0  # median always
    assert metrics.highest_percentile(xs) == (0.9, 90.0)
    assert metrics.highest_percentile(xs[:20]) is None
    assert metrics.highest_percentile(xs[:40]) == (0.75, 30.0)


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", 0.0, None, 0, end=10.0)
    kids = [
        Span(1, "a", 1.0, 0, 0, end=3.0),
        Span(2, "b", 2.0, 0, 0, end=5.0),  # overlaps a: [1, 5] counted once
        Span(3, "c", 7.0, 0, 0, end=8.0),
        Span(4, "d", 9.0, 0, 0, end=12.0),  # clipped to the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1 - 1)
    assert self_time(parent, []) == 10.0


def test_tracer_nests_spans_and_shares_trace_ids():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))
    with tr.span("run") as run_span:
        with tr.span("stage.a"):
            pass
        with tr.span("question", new_trace=True) as q:
            with tr.span("query.ann") as ann:
                pass
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2]
    assert ann.trace == q.trace == q.id != run_span.trace
    assert tr.children(run_span) == tr.spans[1:3]
    # run: 0..7; children cover 1..2 and 3..6
    assert tr.self_seconds(run_span) == pytest.approx(7 - 1 - 3)


def test_a_failed_output_check_raises_error_rate():
    import duckdb

    con = duckdb.connect()
    rows = corpus.document_rows(60)
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
            " source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    import __spark_entry__ as entry

    truth = con.sql(entry.oracle_sql()["exact_dedup"])
    cols, good = truth.columns, truth.fetchall()
    bad = [tuple(r) for r in good]
    bad[0] = (bad[0][0], bad[0][1], bad[0][2] + 1)

    # the digest ignores row and column order and number types, not values
    digest = workloads.rows_digest
    flipped = [(r[2], float(r[1]), r[0]) for r in reversed(good)]
    assert digest(cols, good) == digest(cols[::-1], flipped) != digest(cols, bad)

    want = workloads.oracle_digests(con, ["exact_dedup"])
    out = workloads.Outcome()
    assert out.check("good", lambda: workloads.check_rows(want, "exact_dedup", cols, good))
    assert not out.check("bad", lambda: workloads.check_rows(want, "exact_dedup", cols, bad))
    assert (out.attempted, out.failed) == (2, 1)
    result = run.result_object(out, {}, trace=False)
    assert result["correct"] is False
    assert result["failed"] / result["attempted"] == 0.5


def test_question_stream_is_seeded_and_balanced():
    words = ["zq1", "zq2"]
    a = corpus.question_stream(7, words)
    b = corpus.question_stream(7, words)
    first = [next(a) for _ in range(30)]
    assert first == [next(b) for _ in range(30)]
    kinds = [k for k, _ in first]
    assert all(kinds.count(k) == 10 for k in corpus.KINDS)
    other = corpus.question_stream(8, words)
    assert [next(other) for _ in range(30)] != first


def test_inputs_depend_on_the_seed_only_through_row_order():
    rows = corpus.document_rows(200)
    assert sorted(corpus.shuffled(rows, 1)) == sorted(corpus.shuffled(rows, 2)) == rows
    assert corpus.shuffled(rows, 1) != corpus.shuffled(rows, 2)
    assert corpus.document_rows(200) == rows
    assert any(t.endswith(" dup") for _, t, *_ in rows)


def test_tracing_checkpointer_keeps_the_wrapped_behaviour():
    class Inner:
        eager_stages = True

        def stage(self, name, df):
            return ("stage", name, df)

        def stage_light(self, name, df):
            return ("light", name, df)

    tr = Tracer()
    cp = workloads.TracingCheckpointer(Inner(), tr)
    assert cp.eager_stages is True
    assert getattr(cp, "committed", None) is None  # absent stays absent
    assert cp.stage("chunk_rows", 1) == ("stage", "chunk_rows", 1)
    assert cp.stage_light("aliases", 2) == ("light", "aliases", 2)
    assert [s.attrs["stage"] for s in tr.spans] == ["chunk_rows", "aliases"]
    assert set(workloads.STAGE_LAYERS.values()) == {
        "spans", "extract", "scene", "merge", "fusion"
    }
