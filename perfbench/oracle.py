"""Oracles and output checks, all computed outside the timed region.

Extraction is checked per turn against the kernel's string API
(``rtfproc_spark.kernel.rtf_extract``) run in this process: each turn's
digest is the CRC-32 of ``rtf_out``, ``plain_text`` and ``error`` joined by
``DELIM``, the same value Spark computes with ``digest_col``. Session
windows, the user/assistant join, the ``U A+? T`` pattern and the
conversation tracker are checked against DuckDB SQL over the generated
turns. Every check returns a count of mismatched rows; the counts feed the
run's ``failed`` figure.
"""

from __future__ import annotations

import os
import zlib
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DELIM = "\x1f"
GAP_MIN = 30  # session gap and pattern window, minutes

PATTERN_CLAUSE = f"""
    MATCH_RECOGNIZE (
      PARTITION BY conv_id
      ORDER BY ts
      PATTERN (U A+? T)
      WITHIN INTERVAL '{GAP_MIN}' MINUTE
      DEFINE U AS role = 'user',
             A AS role = 'assistant',
             T AS role = 'tool'
    )"""


def digest_col():
    """Spark column with the per-turn digest of the extraction outputs."""
    from pyspark.sql import functions as F

    return F.crc32(
        F.concat_ws(DELIM, "rtf_out", "plain_text", F.coalesce(F.col("error"), F.lit("")))
    )


def digest(rtf_out: str, plain_text: str, error: str | None) -> int:
    return zlib.crc32((rtf_out + DELIM + plain_text + DELIM + (error or "")).encode("utf-8"))


def _kernel_chunk(args) -> tuple[list[int], list[int], int]:
    from rtfproc_spark.kernel import ReplacementSet, rtf_extract

    texts, pairs = args
    rs = ReplacementSet(pairs)
    digests, nbytes, errors = [], [], 0
    for t in texts:
        d = rtf_extract(t, rs)
        digests.append(digest(d["rtf_out"], d["plain_text"], d["error"]))
        nbytes.append(d["n_text_bytes"])
        errors += d["error"] is not None
    return digests, nbytes, errors


def kernel_oracle(texts, pairs, procs: int = 4) -> tuple[list[int], list[int], int]:
    """Per-turn (digest, n_text_bytes) from the kernel's string API, and the
    number of turns the kernel reported an error for. Runs on ``procs``
    spawned worker processes (outside any timed region)."""
    import multiprocessing

    n = len(texts)
    chunks = [(texts[n * k // procs: n * (k + 1) // procs], pairs) for k in range(procs)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_kernel_chunk, chunks)
    digests, nbytes, errors = [], [], 0
    for d, b, e in parts:
        digests += d
        nbytes += b
        errors += e
    return digests, nbytes, errors


def normalize(table: pa.Table) -> pa.Table:
    """Timestamps as int64 microseconds since the epoch, so Spark's INT96
    output, generated turns and DuckDB results compare as plain integers."""
    cols = []
    for name, col in zip(table.column_names, table.columns):
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us", tz="UTC")), pa.int64())
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def rows(table: pa.Table, cols: list[str]) -> list[tuple]:
    t = normalize(table.select(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def diff_rows(got: list[tuple], want: list[tuple]) -> int:
    """Rows missing from ``got``, extra in it, or duplicated (multiset
    symmetric difference)."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


def read_dir(path: str) -> pa.Table:
    """A Spark parquet output directory as one Arrow table."""
    files = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def sink_batches(path: str) -> dict[int, pa.Table]:
    """Raw ``batch_id=N`` directories of an IdempotentSink, by batch id,
    normalized (see ``normalize``) so batches concatenate whatever wrote them."""
    out = {}
    for d in os.listdir(path):
        if d.startswith("batch_id="):
            t = read_dir(os.path.join(path, d))
            if t is not None:
                out[int(d.split("=", 1)[1])] = normalize(t)
    return out


# --- DuckDB oracles -------------------------------------------------------
# Each takes the registered view ``turns(conv_id, turn_idx, role, ts,
# n_text_bytes, digest)`` and returns rows in the column order of the
# matching Spark output (timestamps as epoch microseconds).

SESSIONS_SQL = f"""
WITH o AS (
  SELECT *, CASE WHEN ts - lag(ts) OVER w < INTERVAL {GAP_MIN} MINUTE THEN 0 ELSE 1 END AS brk
  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY ts)
), g AS (
  SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT conv_id, COUNT(*) AS n_turns, SUM(n_text_bytes) AS text_bytes,
       SUM(digest) AS digest_sum, epoch_us(MIN(ts)) AS session_start,
       epoch_us(MAX(ts) + INTERVAL {GAP_MIN} MINUTE) AS session_end
FROM g GROUP BY conv_id, sid
"""
SESSIONS_COLS = ["conv_id", "n_turns", "text_bytes", "digest_sum", "session_start", "session_end"]

PAIRS_SQL = """
SELECT u.conv_id, u.turn_idx AS user_turn_idx, epoch_us(u.ts) AS user_ts,
       a.turn_idx AS asst_turn_idx, a.role AS asst_role, epoch_us(a.ts) AS asst_ts
FROM turns u JOIN turns a
  ON u.conv_id = a.conv_id AND u.role = 'user' AND a.role <> 'user'
 AND a.ts >= u.ts AND a.ts <= u.ts + INTERVAL 10 MINUTE
"""
PAIRS_COLS = ["conv_id", "user_turn_idx", "user_ts", "asst_turn_idx", "asst_role", "asst_ts"]

# U A+? T with relaxed contiguity: every user turn anchors one match, closed
# by the first tool turn after its first following assistant turn, if that
# tool turn is within the window; the loop binds every assistant turn
# strictly between anchor and closer. (ts is unique per conversation.)
MATCHES_SQL = f"""
WITH u AS (SELECT conv_id, turn_idx AS id_1, ts AS ts_1 FROM turns WHERE role = 'user'),
fa AS (
  SELECT u.conv_id, u.id_1, u.ts_1, MIN(a.ts) AS fa_ts
  FROM u JOIN turns a ON a.conv_id = u.conv_id AND a.role = 'assistant' AND a.ts > u.ts_1
  GROUP BY ALL
), m AS (
  SELECT fa.conv_id, fa.id_1, fa.ts_1, MIN(t.ts) AS ts_3
  FROM fa JOIN turns t ON t.conv_id = fa.conv_id AND t.role = 'tool' AND t.ts > fa.fa_ts
  GROUP BY ALL
  HAVING MIN(t.ts) <= fa.ts_1 + INTERVAL {GAP_MIN} MINUTE
)
SELECT m.conv_id, epoch_us(m.ts_1) AS ts_1, m.id_1, COUNT(*) AS n_a,
       epoch_us(MIN(a.ts)) AS first_a_ts, arg_min(a.turn_idx, a.ts) AS first_a_id,
       epoch_us(MAX(a.ts)) AS last_a_ts, arg_max(a.turn_idx, a.ts) AS last_a_id,
       epoch_us(m.ts_3) AS ts_3, ANY_VALUE(c.turn_idx) AS id_3
FROM m
JOIN turns a ON a.conv_id = m.conv_id AND a.role = 'assistant' AND a.ts > m.ts_1 AND a.ts < m.ts_3
JOIN turns c ON c.conv_id = m.conv_id AND c.ts = m.ts_3
GROUP BY m.conv_id, m.ts_1, m.id_1, m.ts_3
"""
MATCHES_COLS = ["conv_id", "ts_1", "id_1", "n_a", "first_a_ts", "first_a_id",
                "last_a_ts", "last_a_id", "ts_3", "id_3"]

TRACKER_SQL = """
SELECT conv_id, turn_idx, role, epoch_us(ts) AS ts,
       CAST(row_number() OVER w AS BIGINT) AS turns_seen,
       CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) / 1e6 AS secs_since_prev,
       COALESCE(lag(role) OVER w <> role, false) AS is_role_switch
FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
"""
TRACKER_COLS = ["conv_id", "turn_idx", "role", "ts", "turns_seen", "secs_since_prev", "is_role_switch"]


class DuckOracle:
    """DuckDB connection holding one workload's generated turns."""

    def __init__(self, turns: pa.Table):
        import duckdb

        self.con = duckdb.connect()
        self.con.register("turns_arrow", turns)
        self.con.execute("CREATE TABLE turns AS SELECT * FROM turns_arrow")
        self.con.unregister("turns_arrow")
        self._cache: dict[str, list[tuple]] = {}

    def rows(self, sql: str) -> list[tuple]:
        if sql not in self._cache:
            self._cache[sql] = [tuple(r) for r in self.con.execute(sql).fetchall()]
        return self._cache[sql]

    def close(self) -> None:
        self.con.close()


def check_turns(got: pa.Table, expect: dict[tuple, tuple], cols: list[str]) -> int:
    """Exactly-once per key plus per-turn payload check: ``expect`` maps
    (conv_id, turn_idx) to the expected values of ``cols``. Counts keys
    missing, duplicated, unexpected or carrying a wrong payload."""
    seen: Counter = Counter()
    bad = 0
    if got is not None:
        for r in rows(got, ["conv_id", "turn_idx"] + cols):
            key = r[:2]
            seen[key] += 1
            if seen[key] == 1 and expect.get(key) != r[2:]:
                bad += 1
    dup = sum(n - 1 for n in seen.values())
    missing = sum(1 for k in expect if k not in seen)
    return bad + dup + missing
