#!/usr/bin/env python3
"""Benchmark of rtfproc_spark over seeded transcript turns.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload backfill_rtf --seed 1 --seconds 10 --trace 0

Workloads (shapes in ``gen.SHAPES``, reasons in ``BENCHMARK.json``):

* ``backfill_rtf``: batch, every turn RTF; extraction then a session window.
* ``backfill_plain_cep``: batch, ~95 % plain chat; extraction, session
  window, user/assistant join and the ``U A+? T`` pattern.

The ``backfill_rtf`` traced run also replays its corpus as time-ordered
files through the streaming extraction, the idempotent sink and the
per-conversation tracker, so every streaming layer is measured there.

The program under test is imported from ``./rtfproc_spark``; it only ever
receives the generated files. Spark runs ``local[4]``. All scratch data lives
under ``./.perfbench_work`` (removed at exit, except the span files of traced
runs in ``./.perfbench_work/spans``). Every process the run starts (the JVM,
its Python workers, the oracle's worker pool and multiprocessing's resource
tracker) has ended before it exits, also when it is stopped by SIGTERM.

``--trace 0`` prints the end-to-end metrics of an untraced timed pass, a
loop of whole-corpus jobs for ``--seconds``: ``turns_per_s`` (median over
the jobs of verified turns per wall second), ``peak_pss_mb`` (median over
the jobs of the peak summed Pss of this process, the JVM, whose 1 GB heap
is touched at start, and the Python workers) and ``setup_s`` (session
start, input generation and warm-up).
``--trace 1`` is the separate traced run: the same pass with spans recorded
around every call into a layer (``bench.trace_overhead_ratio`` is its wall
time over the same wall time less the span bookkeeping), then every layer
measured alone on the workload's own inputs; it prints the per-layer
metrics and writes the spans with each layer's self time. A per-layer
metric of a layer the workload never runs reads 0. Every pass is
verified; the last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``failed / attempted`` is the
error ratio: turns missing, duplicated or wrong plus result rows that
disagree with the oracles, over turns attempted.

``--corrupt 1`` damages one output file before verification; the run must
then report ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "turns_per_s": "turns/s",
    "peak_pss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.scaling_eff_1to4": "ratio",
    "sources.gen_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "kernel.docs_per_s": "docs/s",
    "kernel.mb_per_s": "MB/s",
    "kernel.errors": "count",
    "functions.rtf.passthrough_ratio": "fraction",
    "functions.rtf.udf_rows_per_s": "rows/s",
    "functions.rtf.extract_stage_s": "s",
    "operators.windows.session_agg_s": "s",
    "operators.windows.sessions_out": "count",
    "operators.windows.exchanges": "count",
    "operators.joins.ua_join_s": "s",
    "operators.joins.pairs_out": "count",
    "operators.cep.match_s": "s",
    "operators.cep.matches_out": "count",
    "operators.cep.exchanges": "count",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.rows_per_batch_p50": "rows",
    "streaming.pipeline.trigger_ms_p50": "ms",
    "streaming.pipeline.trigger_ms_p90": "ms",
    "streaming.pipeline.plan_ms_p50": "ms",
    "streaming.pipeline.offsets_ms_p50": "ms",
    "streaming.pipeline.wal_ms_p50": "ms",
    "streaming.pipeline.backlog_files_max": "count",
    "streaming.sink.batch_s_p50": "s",
    "streaming.sink.write_s": "s",
    "streaming.sink.read_merge_s": "s",
    "streaming.sink.rows_committed": "count",
    "streaming.sink.replayed_batches": "count",
    "streaming.stateful.batch_s_p50": "s",
    "streaming.stateful.state_rows_total": "count",
    "streaming.stateful.state_memory_bytes": "bytes",
    "streaming.stateful.state_commit_ms_p50": "ms",
    "streaming.stateful.state_rows_updated": "count",
    "bench.trace_overhead_ratio": "ratio",
    "bench.error_ratio": "fraction",
}


def _check_checkout(root: str) -> None:
    if not os.path.isfile(os.path.join(root, "rtfproc_spark", "__init__.py")):
        sys.exit(f"perfbench: no rtfproc_spark package under {root}; run from a checkout root")


def _stop_jvm() -> None:
    """The Spark JVM exits when its stdin closes; wait for it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _stop_resource_tracker() -> None:
    """The oracle's spawned pool starts multiprocessing's resource tracker,
    which would otherwise outlive this process for a moment."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def _on_signal(signum, frame):
    raise SystemExit(128 + signum)  # run the clean-up in ``finally``


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_signal)

    root = os.getcwd()
    _check_checkout(root)
    sys.path[:0] = [root, HERE]
    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"

    import harness
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[a.workload](root, work, a.seed)
    wl.corrupt = bool(a.corrupt)
    try:
        with harness.MemSampler() as mem:
            wl.tracer = harness.Tracer(bool(a.trace))
            setup_s = wl.setup()
            mem.active = not a.trace
            p = wl.timed(a.seconds)
            mem.active = False
            wl.verify(p)
            if a.trace and not p.crashed:
                # tracing adds only the span bookkeeping, which the tracer times
                wl.layer["bench.trace_overhead_ratio"] = p.elapsed / max(1e-9, p.elapsed - wl.tracer.cost_s)
                wl.layers(p)  # may verify more outputs, adding to p.failed
            crashed = p.crashed
            attempted = p.turns
            failed = attempted if crashed else min(attempted, p.failed)
            wl.layer["bench.error_ratio"] = failed / max(1, attempted)
    finally:
        # no process of the run may outlive it: the JVM, its Python workers
        # and the oracle's helpers are all waited for
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        started = harness.descendants(os.getpid())
        for stop in (wl.close, _stop_jvm, _stop_resource_tracker):
            try:
                stop()
            except Exception as e:  # the next steps must still run
                print(f"perfbench: {stop.__name__}: {e!r}", file=sys.stderr)
        harness.stop_processes(started)
        if a.trace:
            spans = os.path.join(root, ".perfbench_work", "spans")
            os.makedirs(spans, exist_ok=True)
            path = os.path.join(spans, f"{a.workload}-seed{a.seed}.json")
            wl.tracer.dump(path)
            self_s = wl.tracer.self_times()
            print("perfbench: self time per span (s): " + json.dumps(
                {k: round(v, 4) for k, v in sorted(self_s.items())}), file=sys.stderr)
            print(f"perfbench: spans written to {path}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {k: {"value": float(wl.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {"turns_per_s": wl.turns_per_s(p), "peak_pss_mb": mem.median_peak_mb(p.job_spans), "setup_s": setup_s}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0 and not crashed, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
