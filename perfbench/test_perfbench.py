"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import oracle  # noqa: E402
import harness  # noqa: E402
from harness import MemSampler, Tracer, percentile  # noqa: E402

SMALL = dict(n_convs=30, turns_per_conv=8, hot_frac=0.1, rtf_share=0.3, files=4)


def test_corpus_is_seeded():
    a, b, c = gen.corpus(SMALL, 5), gen.corpus(SMALL, 5), gen.corpus(SMALL, 6)
    assert a.equals(b)
    assert not a.equals(c)


def test_corpus_ts_strictly_increasing_per_conversation():
    t = gen.corpus(SMALL, 1).to_pylist()
    for prev, cur in zip(t, t[1:]):
        if prev["conv_id"] == cur["conv_id"]:
            assert cur["ts"] - prev["ts"] >= timedelta(seconds=5)


def test_plain_turns_avoid_markup_and_key_first_bytes():
    import random

    from rtfproc_spark.sources.transcripts import DEFAULT_REPLACEMENTS

    firsts = {k[0] for k, _ in DEFAULT_REPLACEMENTS}
    r = random.Random(3)
    for _ in range(500):
        s = gen.plain_turn(r)
        assert s.isascii() and not re.search(r"[{}\\\x00\x0b]", s)
        assert not firsts & set(s)


def test_time_sliced_files_replay_in_ts_order(tmp_path):
    t = gen.corpus(SMALL, 2)
    paths = gen.write_files(t, str(tmp_path), 4, by_ts=True)
    mt = [os.path.getmtime(p) for p in paths]
    assert mt == sorted(mt) and len(set(mt)) == 4
    last = None
    for p in paths:
        ts = oracle.normalize(pq.read_table(p)).column("ts").to_pylist()
        assert last is None or min(ts) >= last
        last = max(ts)


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer", "job-0"):
        with tr.span("inner"):
            pass
    outer = next(s for s in tr.spans if s.name == "outer")
    inner = next(s for s in tr.spans if s.name == "inner")
    assert inner.parent_id == outer.span_id and inner.group == "job-0"
    st = tr.self_times()
    assert st["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_percentile():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], 90) == 9


def test_memory_figure_is_the_median_of_per_job_peaks():
    mem = MemSampler()
    mem.samples = [(0.5, 100 * 1024), (1.5, 300 * 1024), (2.5, 200 * 1024), (3.5, 900 * 1024), (4.5, 50 * 1024)]
    # job peaks 300, 200 and 900 MB; the sample after the last job is not counted
    assert mem.median_peak_mb([(0.0, 2.0), (2.0, 3.0), (3.0, 4.0)]) == 300.0


def test_stop_processes_ends_children_and_grandchildren():
    child = subprocess.Popen(["bash", "-c", "sleep 60 & sleep 60"])
    deadline = time.monotonic() + 10
    while len(procs := harness.descendants(os.getpid())) < 3 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert child.pid in procs and len(procs) >= 3
    harness.stop_processes(procs, timeout_s=0.2)
    for pid, start in procs.items():
        st = harness._stat(pid)
        assert st is None or st[2] != start or st[1] in ("Z", "X")


def test_kernel_oracle_matches_string_api():
    from rtfproc_spark.kernel import rtf_extract
    from rtfproc_spark.sources.transcripts import DEFAULT_REPLACEMENTS

    texts = gen.corpus(SMALL, 4).column("text").to_pylist()[:40]
    digests, nbytes, _ = oracle.kernel_oracle(texts, DEFAULT_REPLACEMENTS, procs=2)
    for t, d, n in zip(texts, digests, nbytes):
        x = rtf_extract(t, DEFAULT_REPLACEMENTS)
        assert d == oracle.digest(x["rtf_out"], x["plain_text"], x["error"])
        assert n == x["n_text_bytes"]


def _turns(spec):
    """spec: list of (conv, turn_idx, role, minute)."""
    base = gen.EPOCH
    return pa.table({
        "conv_id": [c for c, *_ in spec],
        "turn_idx": pa.array([i for _, i, _, _ in spec], pa.int32()),
        "role": [r for _, _, r, _ in spec],
        "ts": pa.array([base + timedelta(minutes=m) for *_, m in spec], pa.timestamp("us", tz="UTC")),
        "n_text_bytes": pa.array([10] * len(spec), pa.int32()),
        "digest": pa.array([7] * len(spec), pa.int64()),
    })


def test_duckdb_oracles_on_a_hand_checked_conversation():
    t = _turns([
        ("c", 0, "user", 0), ("c", 1, "assistant", 1), ("c", 2, "assistant", 2),
        ("c", 3, "tool", 3), ("c", 4, "user", 50), ("c", 5, "assistant", 51),
        ("c", 6, "tool", 90),  # closer beyond the 30-minute window
    ])
    ora = oracle.DuckOracle(t)
    us = int(gen.EPOCH.timestamp()) * 1_000_000
    m = 60_000_000
    assert ora.rows(oracle.MATCHES_SQL) == [("c", us, 0, 2, us + m, 1, us + 2 * m, 2, us + 3 * m, 3)]
    sessions = sorted(ora.rows(oracle.SESSIONS_SQL), key=lambda r: r[4])
    assert [r[1] for r in sessions] == [4, 2, 1]
    assert sessions[0][5] == us + 33 * m
    pairs = ora.rows(oracle.PAIRS_SQL)
    assert {(r[1], r[3]) for r in pairs} == {(0, 1), (0, 2), (0, 3), (4, 5)}
    tracked = sorted(ora.rows(oracle.TRACKER_SQL), key=lambda r: r[1])
    assert [r[4] for r in tracked] == list(range(1, 8))
    assert tracked[1][5] == 60.0 and tracked[0][5] is None
    assert [r[6] for r in tracked[:3]] == [False, True, False]
    ora.close()


def _fake_sink(path, table, per_batch):
    for b in range(0, table.num_rows, per_batch):
        d = os.path.join(path, f"batch_id={b // per_batch}")
        os.makedirs(d)
        pq.write_table(table.slice(b, per_batch), os.path.join(d, "part-00000.parquet"))


def _damage_batch(path, batch_id, alter):
    """Duplicate the first row of one sink batch and, with ``alter``, change
    the ``plain_text`` of that row too."""
    d = os.path.join(path, f"batch_id={batch_id}")
    t = oracle.read_dir(d)
    if alter:
        col = t.column("plain_text").to_pylist()
        col[0] = (col[0] or "") + " "
        t = t.set_column(t.column_names.index("plain_text"), "plain_text", pa.array(col, pa.string()))
    pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), os.path.join(d, "part-00000.parquet"))


def _stream_rows(n):
    return pa.table({
        "conv_id": [f"conv-{i % 7:06d}" for i in range(n)],
        "turn_idx": pa.array([i // 7 for i in range(n)], pa.int32()),
        "ts": pa.array([i * 1000 for i in range(n)], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "rtf_out": [f"r{i}" for i in range(n)],
        "plain_text": [f"p{i}" for i in range(n)],
        "error": [None] * n,
        "n_text_bytes": pa.array([2] * n, pa.int32()),
    })


def _check_stream_sink(path, want):
    raw = pa.concat_tables(oracle.sink_batches(path).values())
    dig = [oracle.digest(a, b, c) for a, b, c in zip(
        raw.column("rtf_out").to_pylist(), raw.column("plain_text").to_pylist(), raw.column("error").to_pylist())]
    raw = raw.append_column("digest", pa.array(dig, pa.int64()))
    expect = {
        (r["conv_id"], r["turn_idx"]): (r["ts"], r["n_text_bytes"], oracle.digest(r["rtf_out"], r["plain_text"], None))
        for r in oracle.normalize(want).to_pylist()
    }
    return oracle.check_turns(raw, expect, ["ts", "n_text_bytes", "digest"])


def test_clean_sink_passes_and_corrupted_batch_is_detected(tmp_path):
    rows = _stream_rows(40)
    _fake_sink(str(tmp_path / "ok"), rows, 10)
    assert _check_stream_sink(str(tmp_path / "ok"), rows) == 0
    _fake_sink(str(tmp_path / "bad"), rows, 10)
    _damage_batch(str(tmp_path / "bad"), 2, alter=True)
    assert _check_stream_sink(str(tmp_path / "bad"), rows) == 2  # one altered, one duplicated


def test_missing_and_unexpected_turns_count():
    rows = _stream_rows(10)
    expect = {(r["conv_id"], r["turn_idx"]): (r["n_text_bytes"],) for r in rows.to_pylist()}
    assert oracle.check_turns(rows.slice(0, 8), expect, ["n_text_bytes"]) == 2
    extra = pa.concat_tables([rows, _stream_rows(11).slice(10, 1)])
    assert oracle.check_turns(extra, expect, ["n_text_bytes"]) == 1


def test_corrupted_tracker_batch_is_detected(tmp_path):
    t = gen.corpus(SMALL, 3).select(["conv_id", "turn_idx", "role", "ts"])
    ora = oracle.DuckOracle(t)
    want = ora.rows(oracle.TRACKER_SQL)
    tracked = ora.con.execute(oracle.TRACKER_SQL.replace("epoch_us(ts) AS ts", "ts")).arrow()
    ora.close()
    _fake_sink(str(tmp_path), tracked, 50)

    def mismatches():
        raw = pa.concat_tables(oracle.sink_batches(str(tmp_path)).values())
        return oracle.diff_rows(oracle.rows(raw, oracle.TRACKER_COLS), want)

    assert mismatches() == 0
    _damage_batch(str(tmp_path), 0, alter=False)
    assert mismatches() == 1


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["backfill_rtf", "backfill_plain_cep"])
def test_corrupted_output_fails_a_real_run(workload):
    """End to end: one damaged output file makes the run report failures."""
    import json

    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--corrupt", "1"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] > 0
