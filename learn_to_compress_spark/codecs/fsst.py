"""FSST — Fast Static Symbol Table string compression.

Implemented from the published algorithm (Boncz/Neumann/Leis, VLDB 2020) —
the reference only wraps the upstream library (``headers/string/fsst_string.h:17-62``,
``thirdparty/fsst/``). Semantics:

* symbol table of up to 255 symbols, each 1–8 bytes; code 255 is the escape
  marker (next byte is a literal);
* table built iteratively on a sample: parse with the current table
  (greedy longest match), count symbol and adjacent-pair frequencies,
  keep the top symbols by gain = frequency × length;
* encoding replaces greedy-longest-match symbol occurrences by their
  1-byte code; bytes not covered by any symbol are escaped (2 bytes).

Rows are compressed independently (one vectorized numpy greedy-parse over
the whole chunk blob — see :func:`compress_rows`) and BOTH offset columns
are kept, int-codec-compressed like ``experiments/example_fsst.cpp:86-107``:
uncompressed-domain ends for the vectorized full-chunk decode, and
compressed-domain ends for per-string random access
(``headers/string/fsst_string.h:67-77`` — decode ONLY the requested rows'
compressed spans). Decoding the concatenation equals concatenating per-row
decodes because the code stream is stateless (escape pairs are local), so
full decode stays one pass.

A codec race only needs to know whether FSST beats a size, not FSST's
bytes: :func:`compress_rows` takes an optional byte ``cap`` and gives up
(returns ``None``) as soon as the code bytes it has emitted reach it.
Without a cap, or when the output stays under it, the result is the same
as an uncapped call.

Serialized symbol table: ``n_sym:u8 | (len:u8, bytes)*``.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYMBOL_LEN = 8
SAMPLE_BYTES = 16 * 1024
GENERATIONS = 5


def _compile(symbols: list[bytes]) -> tuple[re.Pattern, dict[bytes, bytes]]:
    ordered = sorted(symbols, key=len, reverse=True)
    pat = re.compile(
        b"(?:" + b"|".join(map(re.escape, ordered)) + b")|(?s:.)"
        if ordered
        else b"(?s:.)"
    )
    code_of = {s: bytes([i]) for i, s in enumerate(symbols)}
    return pat, code_of


def train(sample: bytes) -> list[bytes]:
    """Build the symbol table on a sample (greedy gain, GENERATIONS rounds)."""
    sample = sample[:SAMPLE_BYTES]
    symbols: list[bytes] = []
    for _ in range(GENERATIONS):
        pat, _ = _compile(symbols)
        toks = pat.findall(sample)
        counts = Counter(toks)
        gains: Counter = Counter()
        for s, f in counts.items():
            gains[s] += f * len(s)
        for (a, b), f in Counter(zip(toks, toks[1:])).items():
            cand = (a + b)[:MAX_SYMBOL_LEN]
            gains[cand] += f * len(cand)
        symbols = [s for s, _ in gains.most_common(MAX_SYMBOLS)]
    return symbols


def compress(data: bytes, symbols: list[bytes]) -> bytes:
    comp, _ = compress_rows(data, np.array([len(data)], dtype=np.int64), symbols)
    return comp


class _Matcher:
    """Vectorized greedy longest-match against one symbol table.

    Structure follows the FSST paper's encoder tables: direct-indexed
    code tables for 1- and 2-byte symbols, and a 2-byte-prefix GATE whose
    per-length bitmask says whether any >=3-byte symbol starts with those
    two bytes — only gated candidate positions ever pay for long-symbol
    key construction + binary search."""

    def __init__(self, symbols: list[bytes]):
        self.t1 = np.full(256, -1, dtype=np.int16)
        self.t2 = np.full(65536, -1, dtype=np.int16)
        self.gate = np.zeros(65536, dtype=np.uint8)
        by_len: dict[int, list[tuple[int, int]]] = {}
        for i, s in enumerate(symbols):
            ln = len(s)
            if ln == 1:
                self.t1[s[0]] = i
            elif ln == 2:
                self.t2[(s[0] << 8) | s[1]] = i
            else:
                self.gate[(s[0] << 8) | s[1]] |= 1 << (ln - 3)
                by_len.setdefault(ln, []).append((int.from_bytes(s, "big"), i))
        self.long_by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for ln, entries in sorted(by_len.items()):
            entries.sort()
            # sentinel max key keeps searchsorted indices in range
            keys = np.array([k for k, _ in entries] + [2**64 - 1], dtype=np.uint64)
            codes = np.array([c for _, c in entries] + [-1], dtype=np.int16)
            self.long_by_len[ln] = (keys, codes)

    @staticmethod
    def keys8(bp: np.ndarray, positions: np.ndarray) -> np.ndarray:
        """Big-endian 8-byte keys of `bp` (zero-padded blob) at positions."""
        k = np.zeros(positions.size, dtype=np.uint64)
        for j in range(MAX_SYMBOL_LEN):
            k |= bp[positions + j].astype(np.uint64) << np.uint64(
                8 * (MAX_SYMBOL_LEN - 1 - j)
            )
        return k

    def longest(self, bp: np.ndarray, positions: np.ndarray, rem: np.ndarray):
        """(match length, code) of the greedy longest match at each position,
        capped by `rem` (bytes remaining in the position's row — a match may
        never cross a row boundary). code -1 = no match (escape, length 1)."""
        b0 = bp[positions]
        code = self.t1[b0]
        ln = np.ones(positions.size, dtype=np.int64)
        k2 = (b0.astype(np.uint16) << 8) | bp[positions + 1]
        c2 = self.t2[k2]
        m2 = (c2 >= 0) & (rem >= 2)
        code = np.where(m2, c2, code)
        ln[m2] = 2
        if self.long_by_len:
            g = self.gate[k2]
            ci = np.flatnonzero(g)
            if ci.size:
                k8c = self.keys8(bp, positions[ci])
                gc = g[ci]
                remc = rem[ci]
                for length, (keys, codes) in self.long_by_len.items():
                    sub = np.flatnonzero(
                        ((gc >> (length - 3)) & 1).astype(bool) & (remc >= length)
                    )
                    if not sub.size:
                        continue
                    kl = k8c[sub] >> np.uint64(8 * (MAX_SYMBOL_LEN - length))
                    idx = np.searchsorted(keys, kl)
                    found = keys[idx] == kl
                    hit = ci[sub[found]]
                    ln[hit] = length  # ascending: longer overwrites shorter
                    code[hit] = codes[idx[found]]
        return ln, code


#: below this many live rows the vectorized walk hands the stragglers to a
#: per-row finisher (vectorized span match + plain-Python next[] walk) —
#: otherwise one pathologically long row would pay per-iteration numpy
#: call overhead for every remaining token
_STRAGGLERS = 48


def _finish_row(mt: _Matcher, bp: np.ndarray, start: int, end: int, budget):
    """Token positions + codes for one row's remaining span [start, end),
    or ``None`` once the row's emitted bytes (1 per symbol, 2 per escape)
    reach ``budget``."""
    span = np.arange(start, end, dtype=np.int64)
    ln, code = mt.longest(bp, span, end - span)
    ln, code = ln.tolist(), code.tolist()
    pos_out, code_out = [], []
    used = 0
    i = start
    while i < end:
        c = code[i - start]
        pos_out.append(i)
        code_out.append(c)
        used += 1 if c >= 0 else 2
        if used >= budget:
            return None
        i += ln[i - start]
    return (
        np.array(pos_out, dtype=np.int64),
        np.array(code_out, dtype=np.int16),
    )


def compress_rows(blob: bytes, ends: np.ndarray, symbols: list[bytes], cap=None):
    """Compress each row's span independently → (compressed blob,
    compressed-domain ends). Matches never span row boundaries, so any row
    can be decoded from its compressed span alone.

    ``cap`` bounds the compressed blob: the walk keeps a running count of
    emitted bytes (1 per symbol code, 2 per escape) in both the vectorized
    iterations and the straggler finisher, and returns ``None`` as soon as
    the count reaches ``cap`` — the blob would be at least ``cap`` bytes.
    Otherwise the result is byte-identical to the uncapped call.

    Fully vectorized greedy longest-match — NO per-row or per-match Python
    (the round-2 per-row ``pat.sub`` loop was the encode-throughput
    regression: a 64Ki-row text chunk made ~3M Python callback calls):

    * the greedy token chains of ALL rows advance simultaneously, one
      masked-gather iteration per token ordinal, with matching done
      on-demand at the current positions only (element work ∝ total
      token count, not blob size × symbol lengths);
    * 1/2-byte symbols resolve via direct 256/65536 code tables; longer
      symbols via a 2-byte-prefix gate + per-length binary search
      (:class:`_Matcher`, the FSST paper's encoder-table shape);
    * row-boundary safety is the `rem` cap inside the matcher — no match
      may cross its row's end, so every row decodes from its own span;
    * once fewer than `_STRAGGLERS` rows remain live, each leftover row
      finishes with one vectorized span match + a plain next[] walk
      (bounds per-iteration numpy overhead on pathologically long rows);
    * codes/escapes scatter into the output in one pass; per-row
      compressed ends fall out of a bincount.

    Greedy longest-match at each position is exactly what the round-1
    length-sorted regex alternation produced, so ratios are unchanged.
    """
    ends = np.asarray(ends, dtype=np.int64)
    n_rows = ends.size
    nbytes = len(blob)
    budget = np.inf if cap is None else cap
    if budget <= 0:
        return None
    if nbytes == 0 or n_rows == 0:
        return b"", np.zeros(n_rows, dtype=np.int64)
    b = np.frombuffer(blob, dtype=np.uint8)
    bp = np.concatenate([b, np.zeros(MAX_SYMBOL_LEN, dtype=np.uint8)])
    mt = _Matcher(symbols)

    cur = np.concatenate(([0], ends[:-1]))
    row_ids = np.arange(n_rows, dtype=np.int64)
    live = cur < ends
    cur, rid, rend = cur[live], row_ids[live], ends[live]
    # iteration k of the vectorized walk holds the k-th token of every
    # then-live row, so a token's by-row rank is known WITHOUT sorting:
    # rank = its iteration ordinal (straggler rows: ordinal at hand-off +
    # arange over the finisher's output). Chunks scatter straight to their
    # final slots — the former concat + stable argsort + 3 reorder gathers
    # over ~40 tokens/row were the encode's dominant memory traffic.
    counts = np.zeros(n_rows, dtype=np.int64)  # tokens per row
    chunks: list[tuple[np.ndarray, np.ndarray, np.ndarray, int]] = []
    k = 0
    used = 0  # compressed bytes emitted so far
    while cur.size:
        if cur.size < _STRAGGLERS:
            for c, r, e in zip(cur, rid, rend):
                row = _finish_row(mt, bp, int(c), int(e), budget - used)
                if row is None:
                    return None
                p, kk = row
                used += p.size + int(np.count_nonzero(kk < 0))
                chunks.append((p, np.full(1, r, dtype=np.int64), kk, k))
                counts[r] += p.size
            break
        ln, code = mt.longest(bp, cur, rend - cur)
        used += cur.size + int(np.count_nonzero(code < 0))
        if used >= budget:
            return None
        chunks.append((cur, rid, code, k))
        counts[rid] += 1  # rid is unique per iteration: plain fancy add
        k += 1
        cur = cur + ln
        keep = cur < rend
        cur, rid, rend = cur[keep], rid[keep], rend[keep]
    total = int(counts.sum())
    tok_start = np.concatenate(([0], np.cumsum(counts)))[:-1]
    toks = np.empty(total, dtype=np.int64)
    code = np.empty(total, dtype=np.int16)
    for p, r, c, kk in chunks:
        if r.size == 1 and p.size != 1:  # straggler row: ranks kk, kk+1, …
            dest = tok_start[r[0]] + kk + np.arange(p.size, dtype=np.int64)
        else:
            dest = tok_start[r] + kk
        toks[dest] = p
        code[dest] = c

    matched = code >= 0
    out_len = np.where(matched, 1, 2)
    out_end = np.cumsum(out_len)
    off = out_end - out_len
    out = np.empty(int(out_end[-1]) if out_end.size else 0, dtype=np.uint8)
    out[off[matched]] = code[matched].astype(np.uint8)
    esc = ~matched
    out[off[esc]] = ESCAPE
    out[off[esc] + 1] = b[toks[esc]]

    # per-row compressed byte counts: tokens are 1 byte, escapes 2 — group
    # sums over the by-row-contiguous layout via exclusive cumsum at row
    # token boundaries
    tok_bounds = np.concatenate((tok_start, [total]))
    csum = np.concatenate(([0], out_end))
    row_bytes = csum[tok_bounds[1:]] - csum[tok_bounds[:-1]]
    comp_ends = np.cumsum(row_bytes).astype(np.int64)
    return out.tobytes(), comp_ends


def _decode_tables(symbols: list[bytes]):
    mat = np.zeros((256, MAX_SYMBOL_LEN), dtype=np.uint8)
    lens = np.zeros(256, dtype=np.int64)
    for i, s in enumerate(symbols):
        mat[i, : len(s)] = np.frombuffer(s, np.uint8)
        lens[i] = len(s)
    return mat, lens


def decompress(codes: bytes, symbols: list[bytes]) -> bytes:
    """Vectorized decode: gather each code's padded symbol row, mask by
    length, flatten. Escapes handled by splitting on the escape byte."""
    mat, lens = _decode_tables(symbols)

    def translate(seg: bytes) -> bytes:
        if not seg:
            return b""
        c = np.frombuffer(seg, np.uint8)
        rows = mat[c]
        mask = np.arange(MAX_SYMBOL_LEN) < lens[c][:, None]
        return rows[mask].tobytes()

    out = []
    i = 0
    while True:
        j = codes.find(b"\xff", i)
        if j < 0:
            out.append(translate(codes[i:]))
            break
        out.append(translate(codes[i:j]))
        out.append(codes[j + 1 : j + 2])
        i = j + 2
    return b"".join(out)


def serialize_table(symbols: list[bytes]) -> bytes:
    parts = [bytes([len(symbols)])]
    for s in symbols:
        parts.append(bytes([len(s)]))
        parts.append(s)
    return b"".join(parts)


def deserialize_table(buf: bytes, off: int = 0) -> tuple[list[bytes], int]:
    n = buf[off]
    off += 1
    symbols = []
    for _ in range(n):
        ln = buf[off]
        off += 1
        symbols.append(bytes(buf[off : off + ln]))
        off += ln
    return symbols, off
