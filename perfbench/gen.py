"""Seeded turn generator for the benchmark.

Everything the program under test reads is produced here from ``--seed``:
the same seed gives byte-identical turns. The generator is one process with
one thread. RTF turns come from the program's own synthesizer
(``rtfproc_spark.sources.transcripts.make_rtf_doc``: planted keys, keys split
by control words and hex escapes, ``\\u`` escapes, cp932 DBCS runs, shunted
destinations); plain turns are ASCII chat text with no markup and no byte
that can start a replacement key, so the extraction prefilter serves them.
"""

from __future__ import annotations

import os
import random
import time
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
TOOLS = ("search", "calc", "code", "fetch")

# Workload shapes. Turn counts are about n_convs * turns_per_conv *
# (1 + 4 * hot_frac) (hot conversations carry 5x the turns).
SHAPES = {
    # files=4: Spark packs small files into ~total/4-byte partitions, so equal
    # files land on a packing boundary and 4k files become 4 to 6 partitions
    # depending on the seed; 4 files always give one partition per core
    "backfill_rtf": dict(n_convs=2600, turns_per_conv=8, hot_frac=0.05, rtf_share=1.0, files=4),
    "backfill_plain_cep": dict(n_convs=4200, turns_per_conv=8, hot_frac=0.05, rtf_share=0.05, files=4),
}

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# Lowercase ASCII only: no `{`, `}`, `\\`, no non-ASCII and none of the
# replacement keys' first bytes (all keys start with an uppercase letter or
# a non-ASCII guillemet).
_CHAT = (
    "i you we it this that the a an and or but so if when how why what which "
    "can could would should please thanks ok sure yes no maybe here there now "
    "run query table join window session state batch stream file row column "
    "error retry timeout memory disk cpu cores spark python arrow parquet "
    "checkpoint offset trigger latency throughput schema filter group sort "
    "merge shuffle partition key value count sum avg max min result output "
    "input test fix bug log trace step plan cost fast slow big small new old"
).split()
_PUNCT = (".", ",", "?", "!", ":", " -", "")


def plain_turn(r: random.Random) -> str:
    """One markup-free chat turn (ASCII, lowercase, occasional newline)."""
    out = []
    for _ in range(r.randint(1, 4)):
        words = [r.choice(_CHAT) for _ in range(r.randint(4, 14))]
        if r.random() < 0.3:
            words.insert(r.randrange(len(words)), str(r.randint(0, 9999)))
        out.append(" ".join(words) + r.choice(_PUNCT))
    return ("\n" if r.random() < 0.2 else " ").join(out)


def _next_role(r: random.Random, prev: str | None) -> str:
    if prev is None or prev == "user":
        return "assistant"
    if prev == "assistant":
        x = r.random()
        return "assistant" if x < 0.3 else ("tool" if x < 0.7 else "user")
    return "assistant" if r.random() < 0.7 else "user"


def _text(r: random.Random, conv: int, turn: int, seed: int, rtf_share: float) -> str:
    from rtfproc_spark.sources.transcripts import make_rtf_doc

    if rtf_share >= 1.0 or r.random() < rtf_share:
        return make_rtf_doc(conv, turn, seed)
    return plain_turn(r)


def corpus(shape: dict, seed: int) -> pa.Table:
    """All turns of a batch shape, ordered by (conv_id, turn_idx).

    Timestamps are whole seconds and strictly increase within a
    conversation (gaps of 5 to 180 s), so every ordering by ``ts`` is total
    per conversation and inter-turn gaps are exact doubles.
    """
    cols = {f.name: [] for f in SCHEMA}
    for conv in range(shape["n_convs"]):
        r = random.Random((seed * 1_000_003 + conv) * 7_919)
        hot = r.random() < shape["hot_frac"]
        n = shape["turns_per_conv"] * (5 if hot else 1)
        t = EPOCH + timedelta(seconds=(conv * 97) % 86_400)
        role = None
        for turn in range(n):
            role = "user" if role is None else _next_role(r, role)
            t = t + timedelta(seconds=r.randint(5, 180))
            cols["conv_id"].append(f"conv-{conv:06d}")
            cols["turn_idx"].append(turn)
            cols["role"].append(role)
            cols["text"].append(_text(r, conv, turn, seed, shape["rtf_share"]))
            cols["tool"].append(r.choice(TOOLS) if role == "tool" else None)
            cols["ts"].append(t)
    return pa.table(cols, schema=SCHEMA)


def write_files(table: pa.Table, out_dir: str, n_files: int, by_ts: bool = False) -> list[str]:
    """Split ``table`` into ``n_files`` parquet files under ``out_dir``.

    With ``by_ts`` the files are consecutive time slices (file k holds the
    k-th slice of the globally ts-sorted turns) and their modification times
    increase with k, so a file stream replays them in event-time order.
    """
    os.makedirs(out_dir, exist_ok=True)
    if by_ts:
        table = table.sort_by([("ts", "ascending"), ("conv_id", "ascending")])
    n = table.num_rows
    paths = []
    mtime0 = time.time() - n_files - 10
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        p = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), p)
        if by_ts:
            os.utime(p, (mtime0 + k, mtime0 + k))
        paths.append(p)
    return paths
