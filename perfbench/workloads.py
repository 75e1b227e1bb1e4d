"""The workloads. Each one prepares its inputs from the seed, warms up,
runs a timed pass of repeated whole-corpus jobs, verifies every output of
that pass against the oracles, and in a traced run measures each layer on
its own inputs.

Timing is taken from outside the program, around calls into the layers'
public functions. The ``backfill_rtf`` traced run also measures the
streaming layers, by replaying its corpus as files.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from harness import Tracer, percentile

PREPARE_REPS = 3  # batch inputs are generated this many times; setup uses the median
# The driver JVM's heap is fixed and touched at start: a heap that grows on
# demand leaves the JVM's resident size wherever the last collection left
# it, which moved the memory figure by a fifth between runs.
DRIVER_HEAP = "1g"


def _pairs():
    from rtfproc_spark.sources.transcripts import DEFAULT_REPLACEMENTS

    return DEFAULT_REPLACEMENTS


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _exchanges(df) -> int:
    """Exchange nodes in the physical plan Spark would execute."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line and "Reused" not in line)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _timed_median(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


@dataclass
class Pass:
    """Result of one timed (or traced) pass."""

    turns: int = 0  # turns the pass attempted
    elapsed: float = 0.0  # timed wall seconds
    job_s: list = field(default_factory=list)  # wall seconds of each completed job
    job_spans: list = field(default_factory=list)  # (start, end) perf_counter of each
    job_failed: list = field(default_factory=list)  # mismatches in each job's output
    failed: int = 0  # mismatches found by verification
    crashed: bool = False
    info: dict = field(default_factory=dict)


class Backfill:
    """Batch: seeded corpus, repeated whole-corpus jobs, every job's output
    verified. Subclasses define the job and its checks."""

    name = ""
    warm_jobs = 1

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.shape = gen.SHAPES[self.name]
        self.tracer = Tracer(False)
        self.layer: dict[str, float] = {}
        self.spark = None
        self.corrupt = False

    # -- set-up ---------------------------------------------------------
    def start_session(self, cores: int = 4) -> float:
        from rtfproc_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "setup"):
            self.spark = get_spark(
                "perfbench",
                master=f"local[{cores}]",
                shuffle_partitions=8,
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.driver.memory": DRIVER_HEAP,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup(self) -> float:
        """Session start + input generation (median of repeats) + warm-up."""
        start_s = self.start_session()
        gens = []
        for _ in range(PREPARE_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("sources.generate", "setup"):
                self.prepare()
            gens.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.tracer.span("bench.warmup", "setup"):
            self.warm()
        warm_s = time.perf_counter() - t0
        self.layer["session.start_s"] = start_s
        self.layer["sources.gen_s"] = statistics.median(gens)
        print(f"perfbench: setup session {start_s:.2f} s, generate {statistics.median(gens):.2f} s "
              f"(median of {len(gens)}), warm-up {warm_s:.2f} s", file=sys.stderr)
        return start_s + statistics.median(gens) + warm_s

    def turns_per_s(self, p: Pass) -> float:
        """Median over the pass's jobs of verified turns per wall second
        (a median, so one job slowed by the host or by a late JIT
        compilation does not set the figure)."""
        n = self.table.num_rows
        rates = [max(0, n - f) / s for s, f in zip(p.job_s, p.job_failed)]
        return statistics.median(rates) if rates else 0.0

    def close(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    # -- shared per-layer measurements -----------------------------------
    def input_layers(self, in_dir: str, texts: list[str]) -> None:
        """sources, kernel and functions.rtf on this workload's own turns."""
        from rtfproc_spark.functions.rtf import make_extract_fn, with_rtf_extract
        from rtfproc_spark.kernel import ReplacementSet, RTFEngine
        from rtfproc_spark.sources.transcripts import TRANSCRIPTS_DDL

        spark, pairs = self.spark, _pairs()
        src = spark.read.schema(TRANSCRIPTS_DDL).parquet(in_dir)
        self.layer["sources.input_bytes"] = float(_dir_bytes(in_dir))
        with self.tracer.span("sources.scan", "layers"):
            self.layer["sources.scan_s"] = _timed_median(lambda: _noop(src))

        # kernel: one core, in this process, on an even sample of the turns
        sample = [t.encode("utf-8") for t in texts[:: max(1, len(texts) // 3000)]]
        eng = RTFEngine(ReplacementSet(pairs))
        with self.tracer.span("kernel.RTFEngine.run", "layers"):
            t0 = time.perf_counter()
            for b in sample:
                eng.run(b)
            dt = time.perf_counter() - t0
        self.layer["kernel.docs_per_s"] = len(sample) / dt
        self.layer["kernel.mb_per_s"] = sum(map(len, sample)) / dt / 1e6

        # functions.rtf: the pandas kernel on one Arrow-batch-sized Series
        import pandas as pd

        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        series = pd.Series(texts[:batch_rows])
        fn = make_extract_fn(pairs)
        with self.tracer.span("functions.rtf.make_extract_fn", "layers"):
            t0 = time.perf_counter()
            fn(series)
            self.layer["functions.rtf.udf_rows_per_s"] = len(series) / (time.perf_counter() - t0)
        calls = [0]
        run = RTFEngine.run

        def counting_run(self_, data):
            calls[0] += 1
            return run(self_, data)

        RTFEngine.run = counting_run
        try:
            fn(series)
        finally:
            RTFEngine.run = run
        self.layer["functions.rtf.passthrough_ratio"] = 1.0 - calls[0] / len(series)
        with self.tracer.span("functions.rtf.with_rtf_extract", "layers"):
            self.layer["functions.rtf.extract_stage_s"] = _timed_median(
                lambda: _noop(with_rtf_extract(src, pairs))
            )


    # -- streaming layers (traced run of backfill_rtf) ------------------
    def sink_writer(self, sink, p: Pass):
        commits, durs = p.info.setdefault("commits", {}), p.info.setdefault("batch_s", [])
        replays = p.info.setdefault("replayed", [0])

        def fb(df, batch_id):
            t0 = time.perf_counter()
            with self.tracer.span("streaming.sink.IdempotentSink.foreach_batch", f"batch-{batch_id}"):
                sink.foreach_batch(df, batch_id)
            if batch_id in commits:
                replays[0] += 1
            commits[batch_id] = time.time()
            durs.append(time.perf_counter() - t0)

        return fb

    def progress_layers(self, progress: list[dict], p: Pass, backlog_max: float) -> None:
        """streaming.pipeline.* and streaming.sink.* from one traced pass."""
        busy = [q for q in progress if q.get("numInputRows", 0) > 0]
        d = [q["durationMs"] for q in busy] or [{}]

        def p50(key_fn):
            return float(statistics.median([key_fn(x) for x in d]))

        self.layer["streaming.pipeline.batches"] = float(len(busy))
        self.layer["streaming.pipeline.rows_per_batch_p50"] = float(
            statistics.median([q["numInputRows"] for q in busy]) if busy else 0
        )
        self.layer["streaming.pipeline.trigger_ms_p50"] = p50(lambda x: x.get("triggerExecution", 0))
        self.layer["streaming.pipeline.trigger_ms_p90"] = float(
            percentile([x.get("triggerExecution", 0) for x in d], 90)
        )
        self.layer["streaming.pipeline.plan_ms_p50"] = p50(lambda x: x.get("queryPlanning", 0))
        self.layer["streaming.pipeline.offsets_ms_p50"] = p50(
            lambda x: x.get("latestOffset", 0) + x.get("getBatch", 0)
        )
        self.layer["streaming.pipeline.wal_ms_p50"] = p50(
            lambda x: x.get("walCommit", 0) + x.get("commitOffsets", 0)
        )
        self.layer["streaming.pipeline.backlog_files_max"] = float(backlog_max)
        self.layer["streaming.sink.batch_s_p50"] = float(statistics.median(p.info["batch_s"] or [0]))
        self.layer["streaming.sink.rows_committed"] = float(p.info.get("rows_committed", 0))
        self.layer["streaming.sink.replayed_batches"] = float(p.info["replayed"][0])

    @staticmethod
    def replay_backlog(progress: list[dict], n_rows: int, n_files: int) -> int:
        """Most staged files (written by ``gen.write_files``) not yet
        committed when a batch of an availableNow replay committed."""
        file_rows = [n_rows * (k + 1) // n_files - n_rows * k // n_files for k in range(n_files)]
        backlog, done_rows = 0, 0
        for q in progress:
            done_rows = 0 if q["batchId"] == 0 else done_rows
            done_rows += q["numInputRows"]
            if q["numInputRows"]:
                files_done = sum(1 for c in itertools.accumulate(file_rows) if c <= done_rows)
                backlog = max(backlog, n_files - files_done)
        return backlog

    def replay_tracker(self, in_dir: str, base: str, p: Pass, max_files: int) -> None:
        """availableNow replay of ``in_dir`` through conversation_tracker into
        an IdempotentSink under ``base``."""
        from rtfproc_spark.streaming.pipeline import stream_transcripts
        from rtfproc_spark.streaming.sink import IdempotentSink
        from rtfproc_spark.streaming.stateful import conversation_tracker

        p.info["commits"] = {}
        with self.tracer.span("streaming.pipeline.stream_transcripts", os.path.basename(base)):
            stream = stream_transcripts(self.spark, in_dir, max_files)
        with self.tracer.span("streaming.stateful.conversation_tracker", os.path.basename(base)):
            tracked = conversation_tracker(stream, idle_timeout_ms=None)
        sink = IdempotentSink(os.path.join(base, "out"))
        q = (
            tracked.writeStream.foreachBatch(self.sink_writer(sink, p))
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        p.info.setdefault("progress", []).extend(json.loads(x.json) for x in q.recentProgress)

    def stateful_layers(self, progress: list[dict]) -> None:
        """streaming.stateful.* from the tracker query's progress."""
        busy = [q for q in progress if q.get("stateOperators") and q["numInputRows"] > 0]
        if not busy:
            return
        ops = [q["stateOperators"][0] for q in busy]
        self.layer["streaming.stateful.batch_s_p50"] = statistics.median(
            q["durationMs"].get("addBatch", 0) / 1000.0 for q in busy
        )
        self.layer["streaming.stateful.state_rows_total"] = float(ops[-1]["numRowsTotal"])
        self.layer["streaming.stateful.state_memory_bytes"] = float(ops[-1]["memoryUsedBytes"])
        self.layer["streaming.stateful.state_commit_ms_p50"] = float(
            statistics.median(o["commitTimeMs"] for o in ops)
        )
        self.layer["streaming.stateful.state_rows_updated"] = float(sum(o["numRowsUpdated"] for o in ops))

    def check_tracker(self, table: pa.Table, out: str) -> int:
        """Tracker output in the sink against the DuckDB oracle, plus the
        one-row-per-turn check of read_sink."""
        ora = oracle.DuckOracle(table.select(["conv_id", "turn_idx", "role", "ts"]))
        want = ora.rows(oracle.TRACKER_SQL)
        ora.close()
        batches = oracle.sink_batches(out)
        raw = pa.concat_tables(list(batches.values())) if batches else None
        got = oracle.rows(raw, oracle.TRACKER_COLS) if raw is not None else []
        return oracle.diff_rows(got, want) + self.check_read_sink(out, table.num_rows)

    def sink_layers(self, sink_dir: str) -> None:
        """write_s on a pre-materialized frame, and read_merge_s."""
        from rtfproc_spark.streaming.sink import IdempotentSink, read_sink

        batch0 = sorted(d for d in os.listdir(sink_dir) if d.startswith("batch_id="))[0]
        frame = self.spark.read.parquet(os.path.join(sink_dir, batch0)).localCheckpoint()
        scratch = os.path.join(self.work, "trace-sink")
        sink = IdempotentSink(scratch)
        k = iter(range(1000))
        with self.tracer.span("streaming.sink.IdempotentSink.foreach_batch", "layers"):
            self.layer["streaming.sink.write_s"] = _timed_median(lambda: sink.foreach_batch(frame, next(k)))
        with self.tracer.span("streaming.sink.read_sink", "layers"):
            self.layer["streaming.sink.read_merge_s"] = _timed_median(
                lambda: read_sink(self.spark, sink_dir).count()
            )

    def check_read_sink(self, sink_dir: str, n_expected: int) -> int:
        """read_sink must hold exactly one row per staged turn."""
        from pyspark.sql import functions as F
        from rtfproc_spark.streaming.sink import read_sink

        try:
            r = read_sink(self.spark, sink_dir).agg(
                F.count(F.lit(1)).alias("n"), F.countDistinct("conv_id", "turn_idx").alias("k")
            ).collect()[0]
        except Exception as e:  # an unreadable sink loses every turn
            print(f"perfbench: read_sink failed: {e!r}"[:2000], file=sys.stderr)
            return n_expected
        return abs(r["n"] - n_expected) + (r["n"] - r["k"])

    # -- the batch pass ------------------------------------------------
    def prepare(self) -> None:
        self.in_dir = os.path.join(self.work, "input")
        shutil.rmtree(self.in_dir, ignore_errors=True)
        self.table = gen.corpus(self.shape, self.seed)
        gen.write_files(self.table, self.in_dir, self.shape["files"])

    def source(self):
        from rtfproc_spark.sources.transcripts import TRANSCRIPTS_DDL

        return self.spark.read.schema(TRANSCRIPTS_DDL).parquet(self.in_dir)

    def warm(self) -> None:
        """Whole-corpus jobs: pay class loading, code generation, Python
        worker start-up on every core and the bulk of the JIT before timing."""
        for k in range(self.warm_jobs):
            self.job(os.path.join(self.work, f"warm-{k}"), f"warm-{k}")

    def job(self, out: str, group: str) -> None:
        raise NotImplementedError

    def check_job(self, out: str) -> int:
        """Mismatches between one job's output and the oracles."""
        raise NotImplementedError

    corrupted = ""  # the part of a job's output that --corrupt damages

    def verify(self, p: Pass) -> None:
        outs = p.info["outs"]
        if self.corrupt and outs:
            self.corrupt_output(os.path.join(outs[0], self.corrupted))
        p.job_failed = [self.check_job(o) for o in outs]
        p.failed += sum(p.job_failed)

    def timed(self, seconds: float) -> Pass:
        p = Pass()
        p.info["outs"] = []
        n = self.table.num_rows
        t_start = time.perf_counter()
        while True:
            out = os.path.join(self.work, f"job-{len(p.info['outs'])}")
            t0 = time.perf_counter()
            p.turns += n
            try:
                with self.tracer.span("bench.job", os.path.basename(out)):
                    self.job(out, os.path.basename(out))
            except Exception as e:  # a failed query counts all of its turns
                print(f"perfbench: job failed: {e!r}", file=sys.stderr)
                p.crashed = True
                p.failed += n
                break
            t1 = time.perf_counter()
            p.job_s.append(t1 - t0)
            p.job_spans.append((t0, t1))
            p.info["outs"].append(out)
            if time.perf_counter() - t_start >= seconds:
                break
        p.elapsed = time.perf_counter() - t_start
        print("perfbench: job seconds " + " ".join(f"{s:.3f}" for s in p.job_s), file=sys.stderr)
        return p

    def oracle(self):
        """Per-turn kernel digests plus a DuckDB view of the turns."""
        if not hasattr(self, "_oracle"):
            texts = self.table.column("text").to_pylist()
            digests, nbytes, errors = oracle.kernel_oracle(texts, _pairs())
            self.layer["kernel.errors"] = float(errors)
            turns = self.table.select(["conv_id", "turn_idx", "role", "ts"]).append_column(
                "n_text_bytes", pa.array(nbytes, pa.int32())
            ).append_column("digest", pa.array(digests, pa.int64()))
            self._oracle = oracle.DuckOracle(turns)
            self._turns = turns
        return self._oracle

    def check_sessions(self, path: str) -> int:
        got = oracle.read_dir(path)
        want = self.oracle().rows(oracle.SESSIONS_SQL)
        return oracle.diff_rows(oracle.rows(got, oracle.SESSIONS_COLS) if got else [], want)

    def session_aggs(self):
        from pyspark.sql import functions as F

        return [
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("n_text_bytes").alias("text_bytes"),
            F.sum("digest").alias("digest_sum"),
        ]

    def corrupt_output(self, out: str) -> None:
        """Drop the last row of one output file (for the self-test)."""
        for r, _, fs in os.walk(out):
            for f in sorted(fs):
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    path = os.path.join(r, f)
                    t = pq.read_table(path)
                    if t.num_rows:
                        pq.write_table(t.slice(0, t.num_rows - 1), path)
                        return

    def batch_layers(self) -> None:
        """operators.* on pre-extracted input."""
        from rtfproc_spark.functions.rtf import with_rtf_extract
        from rtfproc_spark.operators.joins import user_assistant_join
        from rtfproc_spark.operators.pattern import match_recognize_sql
        from rtfproc_spark.operators.windows import session_agg

        spark = self.spark
        xdir = os.path.join(self.work, "trace-extracted")
        with_rtf_extract(self.source(), _pairs()).withColumn("digest", oracle.digest_col()).select(
            "conv_id", "turn_idx", "role", "ts", "n_text_bytes", "digest"
        ).write.mode("overwrite").parquet(xdir)
        xx = spark.read.parquet(xdir)
        ops = {
            "operators.windows": (
                "session_agg",
                lambda: session_agg(xx, "ts", ["conv_id"], f"{oracle.GAP_MIN} minutes", self.session_aggs()),
            ),
            "operators.joins": ("user_assistant_join", lambda: user_assistant_join(xx)),
            "operators.cep": (
                "match_recognize_sql",
                lambda: match_recognize_sql(xx, oracle.PATTERN_CLAUSE, id_col="turn_idx"),
            ),
        }
        out = {}
        for layer, (fn_name, build) in ops.items():
            with self.tracer.span(f"{layer}.{fn_name}", "layers"):
                secs = _timed_median(lambda: _noop(build()))
            out[layer] = (secs, build().count(), _exchanges(build()))
        self.layer["operators.windows.session_agg_s"] = out["operators.windows"][0]
        self.layer["operators.windows.sessions_out"] = float(out["operators.windows"][1])
        self.layer["operators.windows.exchanges"] = float(out["operators.windows"][2])
        self.layer["operators.joins.ua_join_s"] = out["operators.joins"][0]
        self.layer["operators.joins.pairs_out"] = float(out["operators.joins"][1])
        self.layer["operators.cep.match_s"] = out["operators.cep"][0]
        self.layer["operators.cep.matches_out"] = float(out["operators.cep"][1])
        self.layer["operators.cep.exchanges"] = float(out["operators.cep"][2])

    def layers(self, p: Pass) -> None:
        self.input_layers(self.in_dir, self.table.column("text").to_pylist())
        self.batch_layers()

    def stream_layers(self, p: Pass) -> None:
        """streaming.pipeline, .sink and .stateful on this corpus: its turns
        staged as time-ordered files and replayed (availableNow, two files a
        batch) through extraction into the idempotent sink, then through the
        per-conversation tracker. Both outputs are verified."""
        from rtfproc_spark.streaming.pipeline import stream_transcripts, streaming_extract
        from rtfproc_spark.streaming.sink import IdempotentSink

        n_files, per_batch = 8, 2
        staged = os.path.join(self.work, "trace-stream-in")
        gen.write_files(self.table, staged, n_files, by_ts=True)
        base = os.path.join(self.work, "trace-stream")
        q = Pass()
        with self.tracer.span("streaming.pipeline.stream_transcripts", "layers"):
            x = streaming_extract(stream_transcripts(self.spark, staged, per_batch), _pairs()).select(
                "conv_id", "turn_idx", "role", "ts", "rtf_out", "plain_text", "error", "n_text_bytes"
            )
            query = (
                x.writeStream.foreachBatch(self.sink_writer(IdempotentSink(os.path.join(base, "out")), q))
                .option("checkpointLocation", os.path.join(base, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        progress = [json.loads(x.json) for x in query.recentProgress]
        batches = oracle.sink_batches(os.path.join(base, "out"))
        raw = pa.concat_tables(list(batches.values()))
        q.info["rows_committed"] = raw.num_rows
        self.progress_layers(progress, q, self.replay_backlog(progress, self.table.num_rows, n_files))
        dig = [oracle.digest(a, b, c) for a, b, c in zip(
            raw.column("rtf_out").to_pylist(), raw.column("plain_text").to_pylist(), raw.column("error").to_pylist())]
        self.oracle()
        expect = {(r["conv_id"], r["turn_idx"]): (r["ts"], r["n_text_bytes"], r["digest"])
                  for r in oracle.normalize(self._turns).to_pylist()}
        p.failed += oracle.check_turns(raw.append_column("digest", pa.array(dig, pa.int64())), expect,
                                       ["ts", "n_text_bytes", "digest"])
        p.failed += self.check_read_sink(os.path.join(base, "out"), self.table.num_rows)
        self.sink_layers(os.path.join(base, "out"))
        t = Pass()
        with self.tracer.span("bench.tracker_replay", "layers"):
            self.replay_tracker(staged, os.path.join(self.work, "trace-tracker"), t, per_batch)
        self.stateful_layers(t.info["progress"])
        p.failed += self.check_tracker(self.table, os.path.join(self.work, "trace-tracker", "out"))


class BackfillRtf(Backfill):
    """Every turn is RTF: extraction then a session window (the flagship)."""

    name = "backfill_rtf"
    # after the first job, job times still fall by about a third over the
    # next five or so (JIT); timed, they made the run's median move with
    # how far the warm-up had got
    warm_jobs = 6

    def job(self, out: str, group: str) -> None:
        from rtfproc_spark.functions.rtf import with_rtf_extract
        from rtfproc_spark.operators.windows import session_agg

        with self.tracer.span("functions.rtf.with_rtf_extract", group):
            x = with_rtf_extract(self.source(), _pairs()).withColumn("digest", oracle.digest_col())
        with self.tracer.span("operators.windows.session_agg", group):
            s = session_agg(x, "ts", ["conv_id"], f"{oracle.GAP_MIN} minutes", self.session_aggs())
        with self.tracer.span("bench.write", group):
            s.write.mode("overwrite").parquet(out)

    def check_job(self, out: str) -> int:
        return self.check_sessions(out)

    def layers(self, p: Pass) -> None:
        super().layers(p)
        self.stream_layers(p)
        # single-core baseline: the same jobs at local[1] in a fresh context
        tput4 = self.table.num_rows * len(p.job_s) / sum(p.job_s)
        self.close()
        self.start_session(cores=1)
        self.job(os.path.join(self.work, "scale1-warm"), "scale1-warm")
        secs = []
        for k in range(2):
            t0 = time.perf_counter()
            with self.tracer.span("bench.job.local1", f"scale1-{k}"):
                self.job(os.path.join(self.work, f"scale1-{k}"), f"scale1-{k}")
            secs.append(time.perf_counter() - t0)
        tput1 = self.table.num_rows / statistics.median(secs)
        self.layer["session.scaling_eff_1to4"] = tput4 / (4 * tput1)


class BackfillPlainCep(Backfill):
    """~95 % plain chat turns: extraction, then session window, the
    user/assistant join and the ``U A+? T`` pattern, all three written."""

    name = "backfill_plain_cep"
    warm_jobs = 3  # the pattern's many stages are still compiling after two jobs

    def job(self, out: str, group: str) -> None:
        from rtfproc_spark.functions.rtf import with_rtf_extract
        from rtfproc_spark.operators.joins import user_assistant_join
        from rtfproc_spark.operators.pattern import match_recognize_sql
        from rtfproc_spark.operators.windows import session_agg

        spark = self.spark
        with self.tracer.span("functions.rtf.with_rtf_extract", group):
            x = with_rtf_extract(self.source(), _pairs()).withColumn("digest", oracle.digest_col())
            x.select("conv_id", "turn_idx", "role", "ts", "n_text_bytes", "digest").write.mode(
                "overwrite"
            ).parquet(os.path.join(out, "turns"))
        xx = spark.read.parquet(os.path.join(out, "turns"))
        with self.tracer.span("operators.windows.session_agg", group):
            session_agg(xx, "ts", ["conv_id"], f"{oracle.GAP_MIN} minutes", self.session_aggs()).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, "sessions"))
        with self.tracer.span("operators.joins.user_assistant_join", group):
            user_assistant_join(xx).write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        with self.tracer.span("operators.pattern.match_recognize_sql", group):
            match_recognize_sql(xx, oracle.PATTERN_CLAUSE, id_col="turn_idx").write.mode(
                "overwrite"
            ).parquet(os.path.join(out, "matches"))

    corrupted = "matches"

    def check_job(self, out: str) -> int:
        if not hasattr(self, "_want"):
            ora = self.oracle()
            self._want = {
                "turns": {
                    (r["conv_id"], r["turn_idx"]): (r["role"], r["ts"], r["n_text_bytes"], r["digest"])
                    for r in oracle.normalize(self._turns).to_pylist()
                },
                "pairs": ora.rows(oracle.PAIRS_SQL),
                "matches": ora.rows(oracle.MATCHES_SQL),
            }
        want = self._want
        failed = oracle.check_turns(
            oracle.read_dir(os.path.join(out, "turns")), want["turns"], ["role", "ts", "n_text_bytes", "digest"]
        )
        failed += self.check_sessions(os.path.join(out, "sessions"))
        for sub, cols in (("pairs", oracle.PAIRS_COLS), ("matches", oracle.MATCHES_COLS)):
            got = oracle.read_dir(os.path.join(out, sub))
            failed += oracle.diff_rows(oracle.rows(got, cols) if got else [], want[sub])
        return failed


WORKLOADS = {w.name: w for w in (BackfillRtf, BackfillPlainCep)}
