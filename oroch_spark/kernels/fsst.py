"""FSST-style string compression (Boncz, Neumann, Leis: "FSST: Fast Random
Access String Compression", VLDB 2020 — listed in PAPERS.md).

From-scratch, deterministic, fully vectorized numpy implementation — no
per-byte Python in the hot path. The reference repo has no string codecs
(`/root/reference` is integers-only, SURVEY.md §2.7); FSST is required by
the north rule.

Scheme ("fsst-lite" — single-round table construction):
- A symbol table of up to 255 symbols, each 1..8 bytes, learned from a
  sample by exact windowed substring counting; code 255 is the escape
  marker (escape + literal byte = 2 bytes out, as in the paper).
- Encode replaces greedy longest matches with 1-byte codes. The greedy
  parse is vectorized: per-position longest-match tables are built with
  uint64 rolling-window equality joins (searchsorted), and the sequential
  "jump by match length" scan is extracted with pointer doubling
  (O(log n) gather rounds).
- Matches never cross string boundaries, so per-string slices of the
  output decode independently.

Determinism: symbol candidates ranked by (gain desc, length asc, value
asc); sampling is a fixed prefix; no randomness.
"""
from __future__ import annotations

import numpy as np

U64 = np.uint64
ESCAPE = 255
MAX_SYMBOLS = 255
MAX_LEN = 8
SAMPLE_BYTES = 1 << 16
MIN_COUNT = 4


def _window_acc(data: np.ndarray) -> np.ndarray:
    """8-byte little-endian window value at every position (zero-padded)."""
    n = len(data)
    padded = np.zeros(n + MAX_LEN, dtype=np.uint8)
    padded[:n] = data
    acc = np.zeros(n, dtype=U64)
    for k in range(MAX_LEN):
        acc |= padded[k:k + n].astype(U64) << U64(8 * k)
    return acc


def _dist_to_boundary(n: int, starts: np.ndarray) -> np.ndarray:
    """For each byte position, distance to the end of its string."""
    bounds = np.empty(len(starts) + 1, dtype=np.int64)
    bounds[:-1] = starts
    bounds[-1] = n
    lens = np.diff(bounds)
    ends = np.repeat(bounds[1:], lens)  # end offset of the owning string
    return ends - np.arange(n, dtype=np.int64)


def _len_mask(L: int) -> np.uint64:
    return U64(2 ** (8 * L) - 1) if L < 8 else U64(2**64 - 1)


def build_table(data: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Learn up to 255 symbols (1..8 bytes) from a prefix sample.

    Gain model: a length-L>=2 symbol saves ~count*(L-1) bytes; a length-1
    symbol saves ~count*1 (it avoids the 2-byte escape). Exact windowed
    counts via np.unique on masked rolling-window values.
    """
    n = min(len(data), SAMPLE_BYTES)
    if n == 0:
        return []
    sample = np.ascontiguousarray(data[:n])
    s_starts = starts[starts < n]
    acc = _window_acc(sample)
    dist = _dist_to_boundary(n, s_starts)

    cand_gain, cand_len, cand_val = [], [], []
    for L in range(1, MAX_LEN + 1):
        ok = dist >= L
        if not ok.any():
            continue
        w = acc[ok] & _len_mask(L)
        vals, counts = np.unique(w, return_counts=True)
        keep = counts >= (1 if L == 1 else MIN_COUNT)
        vals, counts = vals[keep], counts[keep]
        gain = counts * max(1, L - 1)
        cand_gain.append(gain)
        cand_len.append(np.full(len(vals), L, dtype=np.int64))
        cand_val.append(vals)
    if not cand_gain:
        return []
    gain = np.concatenate(cand_gain)
    lens = np.concatenate(cand_len)
    vals = np.concatenate(cand_val)
    # rank: gain desc, then shorter first, then value asc (deterministic)
    order = np.lexsort((vals, lens, -gain))
    top = order[:MAX_SYMBOLS]
    return [int(vals[i]).to_bytes(8, "little")[: lens[i]] for i in top]


def _symbol_arrays(table: list[bytes]):
    """Group symbol values by length for the matching joins."""
    by_len = {}
    for code, sym in enumerate(table):
        v = int.from_bytes(sym.ljust(8, b"\0"), "little")
        by_len.setdefault(len(sym), []).append((v, code))
    out = {}
    for L, pairs in by_len.items():
        pairs.sort()
        vals = np.array([p[0] for p in pairs], dtype=U64)
        codes = np.array([p[1] for p in pairs], dtype=np.int16)
        out[L] = (vals, codes)
    return out


SEGMENT = 1 << 16  # cache-blocked encode: per-segment working set ~2 MB


def _match_tables(table: list[bytes]):
    """Prebuilt match structures: 1-byte LUT, 2-byte LUT, 2-byte-prefix
    prefilter bitmask for L>=3, and per-length sorted value arrays."""
    by_len = _symbol_arrays(table)
    lut1 = np.full(256, -1, dtype=np.int16)
    if 1 in by_len:
        v, c = by_len[1]
        lut1[v.astype(np.int64)] = c
    lut2 = np.full(1 << 16, -1, dtype=np.int16)
    if 2 in by_len:
        v, c = by_len[2]
        lut2[v.astype(np.int64)] = c
    lut_pre = np.zeros(1 << 16, dtype=np.uint8)
    for L, (vals, codes) in by_len.items():
        if L >= 3:
            lut_pre[(vals & U64(0xFFFF)).astype(np.int64)] |= 1 << (L - 3)
    long_lens = sorted(L for L in by_len if L >= 3)
    return lut1, lut2, lut_pre, by_len, long_lens


def encode(data: np.ndarray, starts: np.ndarray, table: list[bytes]
           ) -> tuple[np.ndarray, np.ndarray]:
    """Encode concatenated strings.

    data: uint8 array (concatenated UTF-8 bytes); starts: int64 string
    start offsets. Returns (encoded uint8 array, per-string encoded byte
    lengths).

    Cache-blocked: the text is processed in SEGMENT-byte windows so the
    ~30 vector passes (window building, matching, greedy parse) run over
    L2/L3-resident arrays instead of streaming DRAM — the difference
    between scaling and bandwidth collapse at 32 concurrent workers.
    """
    n = len(data)
    nstr = len(starts)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(nstr, dtype=np.int64)

    lut1, lut2, lut_pre, by_len, long_lens = _match_tables(table)
    # distance to the end of the owning string, one sequential pass (int32)
    bounds = np.empty(nstr + 1, dtype=np.int64)
    bounds[:-1] = starts
    bounds[-1] = n
    ends_global = np.repeat(bounds[1:], np.diff(bounds)).astype(np.int64)

    out_parts: list[np.ndarray] = []
    tok_parts: list[np.ndarray] = []
    sz_parts: list[np.ndarray] = []
    pos = 0  # parse carry position (absolute)
    for lo in range(0, n, SEGMENT):
        hi = min(lo + SEGMENT, n)
        if pos >= hi:
            continue
        seg = data[lo:min(hi + MAX_LEN, n)]  # +overlap for windows
        m = hi - lo
        acc = _window_acc(seg)[:m]
        dist = (ends_global[lo:hi] - np.arange(lo, hi)).astype(np.int64)

        best_code = lut1[seg[:m]]
        best_len = np.ones(m, dtype=np.int8)
        # int64: numpy fancy indexing converts any other index dtype to
        # intp first — a hidden extra pass per use
        w2 = (acc & U64(0xFFFF)).astype(np.int64)
        hit_codes = lut2[w2]
        hit = (hit_codes >= 0) & (dist >= 2)
        best_code[hit] = hit_codes[hit]
        best_len[hit] = 2
        pre = lut_pre[w2]
        # longest-first with elimination: a position matched at a longer
        # length never re-enters a shorter searchsorted pass (greedy
        # wants the longest match only)
        unmatched = None
        for L in reversed(long_lens):
            sel = (pre & (1 << (L - 3))) != 0
            cand = np.flatnonzero(sel if unmatched is None
                                  else (sel & unmatched))
            if not len(cand):
                continue
            vals, codes = by_len[L]
            w = acc[cand] & _len_mask(L)
            ins = np.searchsorted(vals, w)
            ins[ins == len(vals)] = 0
            ok = (vals[ins] == w) & (dist[cand] >= L)
            hitp = cand[ok]
            best_code[hitp] = codes[ins[ok]]
            best_len[hitp] = L
            if unmatched is None:
                unmatched = np.ones(m, dtype=bool)
            unmatched[hitp] = False

        # greedy parse within the segment (pointer doubling, segment-local)
        nxt = np.empty(m + 1, dtype=np.int32)
        np.minimum(np.arange(m, dtype=np.int32) + best_len, m, out=nxt[:m])
        nxt[m] = m
        # start from the carry position; clamp exit at segment end
        rel = _orbit_from(nxt, pos - lo, m)
        if not len(rel):
            continue
        codes_seg = best_code[rel]
        is_sym = codes_seg >= 0
        out_sz = np.where(is_sym, 1, 2).astype(np.int8)
        offs = np.zeros(len(rel) + 1, dtype=np.int64)
        np.cumsum(out_sz, out=offs[1:])
        out = np.empty(offs[-1], dtype=np.uint8)
        out[offs[:-1][is_sym]] = codes_seg[is_sym].astype(np.uint8)
        lit_off = offs[:-1][~is_sym]
        out[lit_off] = ESCAPE
        out[lit_off + 1] = seg[rel[~is_sym]]
        out_parts.append(out)
        tok_parts.append(rel.astype(np.int64) + lo)
        sz_parts.append(out_sz)
        # carry: where the parse left off — last token start + its true
        # (unclamped) length; may land up to MAX_LEN-1 bytes into the
        # next segment when a symbol straddles the boundary
        last = int(rel[-1])
        pos = lo + last + int(best_len[last])

    enc = np.concatenate(out_parts) if out_parts else np.zeros(0, np.uint8)
    toks = np.concatenate(tok_parts) if tok_parts else np.zeros(0, np.int64)
    szs = np.concatenate(sz_parts) if sz_parts else np.zeros(0, np.int8)
    sid = np.searchsorted(starts, toks, side="right") - 1
    enc_lens = np.bincount(sid, weights=szs, minlength=nstr).astype(np.int64)
    return enc, enc_lens


def _orbit_from(nxt: np.ndarray, start: int, m: int) -> np.ndarray:
    """Orbit of ``start`` under nxt (length m+1, sentinel at m), clipped
    to positions < m. Pointer doubling in int32 (half the gather
    bandwidth of int64; segment indices always fit)."""
    pos = np.array([start], dtype=np.int64)
    jump = nxt.astype(np.int64)
    while pos[-1] < m:
        pos = np.concatenate([pos, jump[pos]])
        if len(pos) > m + 1:
            break
        jump = jump[jump]
    past = np.flatnonzero(pos >= m)
    return pos[: past[0]] if len(past) else pos


def decode(enc: np.ndarray, table: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode an encoded byte stream.

    Returns (decoded uint8 array, per-token output offsets are internal);
    callers split the output using decoded lengths derived via
    :func:`decode_lengths`.
    """
    out, _ = _decode_with_token_info(enc, table)
    return out


def _token_starts(enc: np.ndarray) -> np.ndarray:
    """Boolean mask of token-start positions, handling runs of escape
    bytes (within a run of consecutive 0xFF bytes, starts alternate)."""
    n = len(enc)
    is_start = np.ones(n, dtype=bool)
    esc = enc == ESCAPE
    if not esc.any():
        return is_start
    # run starts/ends of consecutive escapes
    d = np.diff(esc.astype(np.int8))
    run_starts = np.flatnonzero(d == 1) + 1
    if esc[0]:
        run_starts = np.concatenate([[0], run_starts])
    run_ends = np.flatnonzero(d == -1) + 1
    if esc[-1]:
        run_ends = np.concatenate([run_ends, [n]])
    for s, e in zip(run_starts.tolist(), run_ends.tolist()):
        r = e - s
        # escape tokens start at s, s+2, ...; their literal partners and,
        # for odd runs, the byte right after the run are not token starts
        is_start[s:e] = False
        is_start[s:e:2] = True
        idx = np.arange(s + 1, e, 2)
        is_start[idx] = False
        if r % 2 == 1 and e < n:
            is_start[e] = False  # literal of the last escape in the run
    return is_start


def _decode_with_token_info(enc: np.ndarray, table: list[bytes]):
    n = len(enc)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), (np.zeros(0, np.int64),) * 3
    symlen = np.zeros(256, dtype=np.int64)
    for code, sym in enumerate(table):
        symlen[code] = len(sym)
    is_start = _token_starts(enc)
    tok_pos = np.flatnonzero(is_start)
    tok_codes = enc[tok_pos]
    is_esc = tok_codes == ESCAPE
    out_sz = np.where(is_esc, 1, symlen[tok_codes])
    offs = np.zeros(len(tok_pos) + 1, dtype=np.int64)
    np.cumsum(out_sz, out=offs[1:])
    out = np.empty(offs[-1], dtype=np.uint8)
    lit = tok_pos[is_esc] + 1
    out[offs[:-1][is_esc]] = enc[np.minimum(lit, n - 1)]
    for code, sym in enumerate(table):
        sel = tok_codes == code
        if not sel.any():
            continue
        o = offs[:-1][sel]
        for k, b in enumerate(sym):
            out[o + k] = b
    return out, (tok_pos, offs, out_sz)


def decode_split(enc: np.ndarray, enc_lens: np.ndarray, table: list[bytes]
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Decode and return (decoded bytes, per-string decoded lengths)."""
    out, (tok_pos, offs, out_sz) = _decode_with_token_info(enc, table)
    if len(enc_lens) == 0:
        return out, np.zeros(0, dtype=np.int64)
    enc_starts = np.zeros(len(enc_lens), dtype=np.int64)
    np.cumsum(enc_lens[:-1], out=enc_starts[1:])
    sid = np.searchsorted(enc_starts, tok_pos, side="right") - 1
    dec_lens = np.bincount(sid, weights=out_sz,
                           minlength=len(enc_lens)).astype(np.int64)
    return out, dec_lens


def serialize_table(table: list[bytes]) -> bytes:
    out = bytearray([len(table)])
    for sym in table:
        out.append(len(sym))
        out += sym
    return bytes(out)


def deserialize_table(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    nsym = buf[pos]
    pos += 1
    table = []
    for _ in range(nsym):
        L = buf[pos]
        pos += 1
        table.append(bytes(buf[pos:pos + L]))
        pos += L
    return table, pos
