"""Seeded transcript source for the benchmark (FIXTURES.md, table F1).

The benchmark owns this generator on purpose: it does not import
``oroch_spark.transcripts``, so a change to the engine's own test
generator cannot move a workload's input.

Distribution (F1): conversation lengths Zipf(s=1.2) clamped to
1..2000 turns; ``role`` drawn from user/assistant/system/tool with
p=(0.42, 0.42, 0.04, 0.12); ``text`` is token soup over a fixed
512-word vocabulary with lognormal(4, 1) length in characters clamped
to 0..8000 and about 2% empty strings; ``tool`` is "" except on tool
turns, where it is one of 12 names; ``ts`` is a per-conversation base
plus the cumulative sum of exponential gaps of 1 to 300 seconds.

Rows are written conversation-clustered (conv_id, turn_idx order) as
parquet files of contiguous conversations, the layout that
``engine.encode_parquet_maponly`` is built for. Generation is
vectorized with numpy and pyarrow, one file at a time, so peak memory
stays at one file's worth of rows.
"""
from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ["user", "assistant", "system", "tool"]
ROLE_P = [0.42, 0.42, 0.04, 0.12]
TOOLS = [f"tool_{name}" for name in
         ["search", "calc", "code", "sql", "web", "files",
          "mail", "cal", "img", "map", "api", "shell"]]
EPOCH_BASE_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z
MAX_TURNS = 2000
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _vocab(size: int = 512) -> list[str]:
    rng = np.random.default_rng(20250101)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
            + str(i % 10) for i in range(size)]


def conv_lengths(seed: int, n_conv: int) -> np.ndarray:
    """Turns per conversation, drawn once for the whole table."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0]))
    return np.minimum(rng.zipf(1.2, n_conv), MAX_TURNS).astype(np.int64)


def conv_for_turns(seed: int, target_turns: int) -> int:
    """Smallest conversation count whose table holds target_turns."""
    lens = conv_lengths(seed, max(1, target_turns))
    return int(np.searchsorted(np.cumsum(lens), target_turns) + 1)


def _text_column(rng, n: int, vocab: list[str]) -> pa.Array:
    """Token soup, built as one byte buffer plus offsets (no per-row
    Python strings)."""
    nchars = np.clip(rng.lognormal(4.0, 1.0, n), 0, 8000).astype(np.int64)
    nchars[rng.random(n) < 0.02] = 0
    nwords = np.where(nchars == 0, 0, np.maximum(1, nchars // 8))
    total = int(nwords.sum())
    tok = rng.integers(0, len(vocab), total)
    # each vocabulary entry is stored with a trailing space; the last
    # token of a row drops its space
    wbytes = [(w + " ").encode() for w in vocab]
    wlen = np.array([len(b) for b in wbytes], dtype=np.int64)
    wstart = np.concatenate([[0], np.cumsum(wlen)[:-1]])
    vbuf = np.frombuffer(b"".join(wbytes), dtype=np.uint8)
    tl = wlen[tok]
    tstart = np.cumsum(tl) - tl
    idx = (np.repeat(wstart[tok] - tstart, tl)
           + np.arange(int(tl.sum()), dtype=np.int64))
    keep = np.ones(idx.size, dtype=bool)
    row_end_tok = np.cumsum(nwords)[nwords > 0] - 1
    keep[tstart[row_end_tok] + tl[row_end_tok] - 1] = False
    data = vbuf[idx[keep]]
    row_bytes = np.zeros(n, dtype=np.int64)
    if total:
        tok_row = np.repeat(np.arange(n), nwords)
        np.add.at(row_bytes, tok_row, tl)
    row_bytes -= (nwords > 0)
    offsets = np.concatenate([[0], np.cumsum(row_bytes)]).astype(np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data.tobytes()))


def _file_table(seed: int, file_idx: int, conv_lo: int,
                lens: np.ndarray, vocab: list[str]) -> pa.Table:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1, file_idx]))
    n = int(lens.sum())
    conv = np.repeat(np.arange(conv_lo, conv_lo + lens.size), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn = (np.arange(n) - starts).astype(np.int32)
    role_i = rng.choice(4, size=n, p=ROLE_P)
    tool_i = rng.integers(0, len(TOOLS), n)
    gaps = (rng.exponential(60.0, n) + 1.0).clip(1, 300) * 1_000_000
    gaps = gaps.astype(np.int64)
    csum = np.cumsum(gaps)
    conv_base = np.repeat(csum[np.cumsum(lens) - lens] - gaps[
        np.cumsum(lens) - lens], lens)
    ts = EPOCH_BASE_US + conv * 3_600_000_000 + (csum - conv_base)
    conv_ids = pa.array([f"conv-{i:08d}" for i in
                         range(conv_lo, conv_lo + lens.size)])
    role_dict = pa.array(ROLES)
    tool_vals = np.array([""] + TOOLS, dtype=object)
    tool_codes = np.where(role_i == 3, tool_i + 1, 0)
    return pa.table({
        "conv_id": conv_ids.take(pa.array(conv - conv_lo)),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": role_dict.take(pa.array(role_i)),
        "text": _text_column(rng, n, vocab),
        "tool": pa.array(tool_vals[tool_codes], pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)


def generate(out_dir: str, seed: int, n_conv: int, n_files: int) -> int:
    """Write the table as n_files parquet files of contiguous
    conversations under out_dir; returns the row count. Idempotent: a
    finished directory (marked by _DONE) is reused."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return int(f.read())
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    lens = conv_lengths(seed, n_conv)
    vocab = _vocab()
    # cut files at conversation boundaries, balanced by turn count
    cum = np.cumsum(lens)
    cuts = np.searchsorted(cum, np.linspace(0, cum[-1], n_files + 1)[1:-1])
    bounds = [0] + sorted(set(int(c) + 1 for c in cuts
                              if 0 < c + 1 < n_conv)) + [n_conv]
    total = 0
    for fi, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        tbl = _file_table(seed, fi, lo, lens[lo:hi], vocab)
        total += tbl.num_rows
        pq.write_table(tbl, os.path.join(tmp, f"part-{fi:05d}.parquet"),
                       row_group_size=1 << 20)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(str(total))
    os.replace(tmp, out_dir)
    return total


def read_source(src_dir: str) -> pa.Table:
    """The whole generated table, in file (= conversation) order."""
    files = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    return pa.concat_tables(
        [pq.read_table(os.path.join(src_dir, f)) for f in files])
