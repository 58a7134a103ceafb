"""Regenerate ``perfbench/pinned.json``: the no-match question words, the
context digest of every question the query workload can ask, and the digest
of every curate operator's oracle output.

    python3 perfbench/pin.py

Run it from the repository root at the commit whose answers the benchmark
should hold later commits to. It builds the same KG the query workload
builds (seed 0; the KG does not depend on the seed's row order, which the
workload's oracle check confirms on every run), then asks the whole question
pool through ``local_query``. The curate digests come from DuckDB running
``oracle_sql()`` over the curate inputs; outputs do not depend on the
seed's row order, which the curate checks confirm on every run.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402

N_NO_MATCH = 12


def no_match_words(vdb, threshold: float) -> list[str]:
    """The first N_NO_MATCH candidate words whose embedding reaches cosine
    ``threshold`` with no entity of the VDB."""
    import numpy as np

    from mmgraphrag_spark.query import hash_embed_text

    mat = np.array([r.vec for r in vdb.select("vec").collect()])
    words = []
    for i in range(100_000):
        w = f"zq{i}"
        if (mat @ np.array(hash_embed_text(w))).max() < threshold:
            words.append(w)
            if len(words) == N_NO_MATCH:
                return words
    raise RuntimeError("no no-match words found")


def curate_digests(work: str) -> dict:
    """{operator span name: digest of its oracle's rows over the curate
    inputs}."""
    import __spark_entry__ as entry

    from perfbench import workloads

    data_dir = os.path.join(work, "curate")
    workloads.write_inputs("curate", data_dir, 0)
    sql = entry.oracle_sql()
    out = {}
    for name, oracle in workloads.CURATE_OPS:
        if oracle:
            sub = workloads.CURATE_INPUT.get(name, "")
            con = workloads.oracle_db(workloads.input_dir(data_dir, sub))
            res = con.sql(sql[oracle])
            rows = res.fetchall()
            out[name] = workloads.rows_digest(res.columns, rows)
            print("curate", name, len(rows), "rows", flush=True)
    return out


def main() -> int:
    work = os.path.join(run.ROOT, ".bench_build", f"perfbench-pin-{os.getpid()}")
    run.prepare_env(work)
    from perfbench import corpus, workloads

    data_dir = os.path.join(work, "data")
    workloads.write_inputs("query_local", data_dir, 0)
    spark = run.start_session(work)
    try:
        from mmgraphrag_spark.query import load_or_build_query_state, local_query

        ctx = workloads.Context(spark, None, 0, 0, data_dir, work, time.monotonic() + 1e9)
        out = workloads.Outcome()
        want = workloads.oracle_digests(workloads.oracle_db(data_dir), workloads.KG_ORACLES)
        kg, _ = workloads.build_kg(ctx, out, want)
        if out.failed:
            print("\n".join(out.failures), file=sys.stderr)
            return 1
        vdb, _ = load_or_build_query_state(spark, kg["entities"], work, "exact")
        threshold = workloads.local_query_defaults()["threshold"]
        words = no_match_words(vdb, threshold)
        contexts = {}
        for kind, qs in corpus.question_pool(words).items():
            for q in qs:
                r = local_query(spark, kg, q, vdb=vdb)
                contexts[q] = workloads.context_digest(r["context"], r["mm_entities"])
                print(kind, q, workloads.n_seeds(r["context"]), r["mm_entities"], flush=True)
        pinned = {"no_match_words": words, "contexts": contexts, "curate": curate_digests(work)}
        with open(workloads.PINNED, "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        run.stop_spark(spark, None)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
