"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_local,curate} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One process, one Spark session on
``local[nproc]``, one client. Inputs are generated from ``--seed`` into
``.bench_build/`` and removed at exit; with ``--trace 1`` the spans are kept
there as JSON lines. The last line of stdout is the result object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``) of
``perfbench/metrics.py``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_RUN_S = 150  # no new operation starts later than this after launch


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("query_local", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (the Spark JVM and the Python
    workers it forks), read from /proc outside the engine."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, root_pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                continue
            self.seen.add(pid)
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, sampler: RssSampler | None) -> None:
    """Stop the session, then the JVM (closing its stdin ends the gateway
    process) and wait until the JVM and every Python worker it forked have
    exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    pids = sampler.seen if sampler else set()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def prepare_env(work: str) -> None:
    """Point every temporary file of the run (the JVM's, its Python
    workers', Python's tempfile) under ``work`` and let the workers import
    the engine from this checkout."""
    for d in ("data", "tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


# The benchmark's inputs are small, so the JVM gets a small heap whose pages
# it touches at start (-XX:+AlwaysPreTouch). With the engine's default 8g,
# the peak memory of query_local runs of the same code swung from 3.7 to
# 8.2 GB on a 4-core, 16 GB VM, and on such a lazily-backed VM page faults
# are slow and vary with the host (session.py measures the heap-size
# effect). With 2g touched at start, that cost lands in setup.session_s,
# and the benchmark stays small on a shared host.
DRIVER_MEMORY = "2g"


def start_session(work: str):
    from mmgraphrag_spark.session import build_session

    return build_session(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": "-XX:+AlwaysPreTouch -Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "mmgraphrag_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print("perfbench: run from a checkout of the engine (mmgraphrag_spark/ "
              "and __spark_entry__.py next to perfbench/)", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", f"perfbench-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    prepare_env(work)

    from perfbench import metrics, workloads
    from perfbench.trace import SparkCounters, Tracer

    spark = sampler = None
    try:
        workloads.write_inputs(args.workload, data_dir, args.seed)
        spark = start_session(work)
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        session_end = time.monotonic()
        tracer = Tracer(spark.sparkContext) if args.trace else None
        out = workloads.Outcome(setup={"session": session_end - T_START})
        ctx = workloads.Context(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            data_dir=data_dir, work_dir=work, deadline=T_START + MAX_RUN_S,
        )
        workloads.WORKLOADS[args.workload](ctx, out)
        sampler.sample()
        if tracer:
            spans_path = os.path.join(
                ROOT, ".bench_build", f"perfbench-spans-{args.workload}-{args.seed}.jsonl"
            )
            tracer.write(spans_path, SparkCounters(spark).by_group(
                [Tracer.group(s.id) for s in tracer.spans]))
            print(f"perfbench: spans written to {os.path.relpath(spans_path, ROOT)}")
    finally:
        t_stop = time.monotonic()
        stop_spark(spark, sampler)
        print(f"perfbench: Spark stopped in {time.monotonic() - t_stop:.1f} s", file=sys.stderr)
        if sampler:
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    for f in out.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    if not out.ops:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    setup_s = sum(out.setup.values())
    tail = metrics.highest_percentile(out.ops)
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(out.ops)} "
        f"setup={out.setup} setup_s={setup_s:.3f} batch_s={out.batch_s:.3f} "
        f"op_p50_s={out.op_p50_s:.3f} "
        + (f"op_p{round(tail[0] * 100)}_s={tail[1]:.3f} " if tail else "")
        + f"peak_rss_mb={sampler.peak / 1e6:.0f} "
        + f"error_rate={out.failed / max(out.attempted, 1):.4f}"
    )
    if args.trace:
        values = dict(out.layers)
        for phase in ("session", "warm", "vdb"):
            values[f"setup.{phase}_s"] = out.setup.get(phase, 0.0)
        values["memory.peak_rss_mb"] = sampler.peak / 1e6
        values["trace.batch_s"] = out.batch_s
        values["trace.op_p50_s"] = out.op_p50_s
    else:
        values = {"setup_s": setup_s, "batch_s": out.batch_s, "op_p50_s": out.op_p50_s}
    print(json.dumps(result_object(out, values, bool(args.trace))))
    return 0


def result_object(out, values: dict, trace: bool) -> dict:
    """The result line: every metric of the mode, plus the operation counts
    (an output that fails its check counts as a failed operation)."""
    from perfbench import metrics

    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics.render(values, metrics.PER_LAYER if trace else metrics.END_TO_END),
    }


if __name__ == "__main__":
    sys.exit(main())
