"""String chunk codecs: raw / FSST / dictionary / word-dictionary.

Arrow-native: every hot-path kernel runs in pyarrow compute (C++ —
``split_pattern``, ``dictionary_encode``, ``binary_join``, ``take``), so
executors never churn Python object arrays; this is what keeps the encode
job memory-bandwidth-friendly at 32 concurrent workers.

A string chunk enters as a ``pyarrow`` binary/string array (nulls already
stripped by the column framing layer, ``learn_to_compress_spark.select``).
All codecs share the offsets scheme of ``experiments/example_fsst.cpp:86-107``:
per-row end offsets form an int64 column that is itself compressed with the
best integer codec (composition, exactly like the reference delta-encodes
FSST offsets).

Offsets/ints sub-block layout: ``inner_id:u8 | sub_len:u64 | sub_payload``.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst as fsst_mod


def _as_binary_array(strs) -> pa.Array:
    if isinstance(strs, pa.ChunkedArray):
        strs = strs.combine_chunks()
    if isinstance(strs, pa.Array):
        arr = strs
    else:
        arr = pa.array(strs, type=pa.large_binary())
    if not pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.large_binary())
    return arr


def _blob_and_ends(arr: pa.Array) -> tuple[bytes, np.ndarray]:
    lens = pc.binary_length(arr).to_numpy(zero_copy_only=False).astype(np.int64)
    ends = np.cumsum(lens)
    # flatten via the value buffer (respecting the array's offset window)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1 + arr.offset)
    start = offs[arr.offset]
    end = offs[arr.offset + len(arr)]
    blob = arr.buffers()[2].to_pybytes()[start:end] if arr.buffers()[2] else b""
    return blob, ends


def _from_blob(blob: bytes, ends: np.ndarray) -> pa.Array:
    offsets = np.concatenate(([0], ends)).astype(np.int64)
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        len(ends),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)],
    )


def _encode_ints_best(values: np.ndarray) -> bytes:
    """Compress an int64 side-array (offsets / codes / counts) with the best
    fixed int codec — sized analytically, encoded once."""
    from . import CODEC_IDS, int_codec

    vals = values.astype(np.uint64)
    from ..select import int_codec_sizes

    # leco excluded: on dict codes / counts / offsets it ties FOR at best,
    # and its sizing needs a fit + residual scan per call
    sizes = int_codec_sizes(vals, np.uint64, candidates=("raw", "for", "delta", "rle"))
    name = min(sizes, key=sizes.get)
    best = int_codec(name, np.uint64).encode(vals)
    return bytes([CODEC_IDS[name]]) + struct.pack("<Q", len(best)) + best


def _decode_ints_best(buf: bytes, off: int, n: int) -> tuple[np.ndarray, int]:
    from . import CODEC_NAMES, int_codec

    name = CODEC_NAMES[buf[off]]
    (ln,) = struct.unpack_from("<Q", buf, off + 1)
    start = off + 9
    vals = int_codec(name, np.uint64).decode(bytes(buf[start : start + ln]), n)
    return vals, start + ln


class StrRawCodec:
    """Offsets + concatenated blob, no blob compression."""

    name = "str_raw"

    def encode(self, strs) -> bytes:
        arr = _as_binary_array(strs)
        blob, ends = _blob_and_ends(arr)
        return _encode_ints_best(ends) + blob

    def decode(self, payload: bytes, n: int) -> pa.Array:
        if n == 0:
            return pa.array([], type=pa.large_binary())
        ends_u, off = _decode_ints_best(payload, 0, n)
        return _from_blob(payload[off:], ends_u.astype(np.int64))


class FsstStringCodec:
    """FSST with rows compressed independently; BOTH offset domains stored.

    Layout: ``offsets-sub-block | symtab | comp-ends-sub-block | comp blob``.
    Uncompressed-domain ends drive the one-pass full decode; compressed-
    domain ends give per-string random access (``fsst_string.h:67-77``) —
    :meth:`gather` decodes only the requested rows' spans.
    """

    name = "fsst"

    def encode(self, strs, cap=None) -> bytes | None:
        """The payload, or ``None`` when it is not shorter than ``cap``.

        A capped call first checks a lower bound that needs no training:
        offsets sub-block + symbol-count byte + comp-ends header (9) +
        ⌈blob/8⌉ (a code byte covers at most 8 input bytes; an escape
        spends 2 on 1). Past that, the remaining budget caps the greedy
        parse, which gives up as soon as it reaches it."""
        arr = _as_binary_array(strs)
        blob, ends = _blob_and_ends(arr)
        offsets = _encode_ints_best(ends)
        if cap is not None and len(offsets) + 1 + 9 + -(-len(blob) // 8) >= cap:
            return None
        symbols = fsst_mod.train(blob)
        symtab = fsst_mod.serialize_table(symbols)
        budget = None if cap is None else cap - len(offsets) - len(symtab) - 9
        res = fsst_mod.compress_rows(blob, ends, symbols, budget)
        if res is None:
            return None
        comp, comp_ends = res
        payload = b"".join(
            [offsets, symtab, _encode_ints_best(comp_ends.astype(np.uint64)), comp]
        )
        return None if cap is not None and len(payload) >= cap else payload

    def _parts(self, payload: bytes, n: int):
        ends_u, off = _decode_ints_best(payload, 0, n)
        symbols, off = fsst_mod.deserialize_table(payload, off)
        comp_ends_u, off = _decode_ints_best(payload, off, n)
        return ends_u.astype(np.int64), symbols, comp_ends_u.astype(np.int64), off

    def decode(self, payload: bytes, n: int) -> pa.Array:
        if n == 0:
            return pa.array([], type=pa.large_binary())
        ends, symbols, comp_ends, off = self._parts(payload, n)
        comp = payload[off : off + int(comp_ends[-1])]
        blob = fsst_mod.decompress(bytes(comp), symbols)
        return _from_blob(blob, ends)

    def gather(self, payload: bytes, positions: np.ndarray, n: int) -> pa.Array:
        """Per-string random access: decode only the selected rows'
        compressed spans (compressed-domain offsets, the reference's
        ``randomdecodeArray8`` shape for strings). The selected spans are
        concatenated and decoded in ONE vectorized pass — the code stream
        is stateless (escape pairs are local), so decoding the
        concatenation equals concatenating per-row decodes, and the output
        splits exactly at the known uncompressed row lengths."""
        if n == 0 or len(positions) == 0:
            return pa.array([], type=pa.large_binary())
        positions = np.asarray(positions, dtype=np.int64)
        ends, symbols, comp_ends, off = self._parts(payload, n)
        comp_starts = np.concatenate(([0], comp_ends[:-1]))
        starts = np.concatenate(([0], ends[:-1]))
        spans = [
            payload[off + comp_starts[p] : off + comp_ends[p]] for p in positions
        ]
        blob = fsst_mod.decompress(b"".join(spans), symbols)
        out_ends = np.cumsum(ends[positions] - starts[positions]).astype(np.int64)
        want = int(out_ends[-1]) if out_ends.size else 0
        if len(blob) != want:  # corrupt payload would mis-split rows silently
            raise ValueError(
                f"FSST gather: decoded {len(blob)} bytes, expected {want} "
                "(corrupt payload or symbol table)"
            )
        return _from_blob(blob, out_ends)


class DictStringCodec:
    """Dictionary of unique strings + int-codec-compressed codes
    (``pc.dictionary_encode`` — first-occurrence order, C++).

    With run-structured inputs (roles/tools) the code column selects RLE,
    giving the reference's dict+RLE composition for low-cardinality strings
    (``experiments/raw_test_dictionary.cpp`` + ``headers/rle.h``).

    Layout: ``n_uniq:u32 | uniq-ends sub-block | uniq blob | codes sub-block``.
    """

    name = "str_dict"

    def encode(self, strs) -> bytes:
        arr = _as_binary_array(strs)
        denc = pc.dictionary_encode(arr.cast(pa.large_string()))
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
        uniq = denc.dictionary.cast(pa.large_binary())
        blob, ends = _blob_and_ends(uniq)
        return b"".join(
            [
                struct.pack("<I", len(uniq)),
                _encode_ints_best(ends),
                blob,
                _encode_ints_best(codes),
            ]
        )

    def decode(self, payload: bytes, n: int) -> pa.Array:
        if n == 0:
            return pa.array([], type=pa.large_binary())
        (n_uniq,) = struct.unpack_from("<I", payload, 0)
        ends_u, off = _decode_ints_best(payload, 4, n_uniq)
        ends = ends_u.astype(np.int64)
        blob_len = int(ends[-1]) if n_uniq else 0
        uniq = _from_blob(payload[off : off + blob_len], ends)
        codes, _ = _decode_ints_best(payload, off + blob_len, n)
        return pc.take(uniq, pa.array(codes.view(np.int64)))

    def _uniq_and_codes_off(self, payload: bytes, n: int):
        (n_uniq,) = struct.unpack_from("<I", payload, 0)
        ends_u, off = _decode_ints_best(payload, 4, n_uniq)
        ends = ends_u.astype(np.int64)
        blob_len = int(ends[-1]) if n_uniq else 0
        uniq = _from_blob(payload[off : off + blob_len], ends)
        return uniq, off + blob_len

    def positions_eq(self, payload: bytes, n: int, needle: bytes) -> np.ndarray:
        """Equality filter in the CODE domain: decode only the (tiny) unique
        dictionary, find the needle's code, compare int codes — no row
        string is ever materialized (the predicate analogue of the
        reference's dictionary lookup, ``raw_test_dictionary.cpp:107-112``)."""
        if n == 0:
            return np.empty(0, np.int64)
        uniq, codes_off = self._uniq_and_codes_off(payload, n)
        hits = np.flatnonzero(
            pc.equal(uniq, needle).to_numpy(zero_copy_only=False)
        )
        if hits.size == 0:
            return np.empty(0, np.int64)
        codes, _ = _decode_ints_best(payload, codes_off, n)
        return np.flatnonzero(codes == np.uint64(int(hits[0])))

    def positions_in(self, payload: bytes, n: int, needles: list) -> np.ndarray:
        """IN-list filter in the CODE domain: one pass over the (tiny)
        dictionary finds the hit codes, then a sorted ``searchsorted``
        membership test over the int codes — no row string materializes,
        however long the IN list."""
        if n == 0:
            return np.empty(0, np.int64)
        uniq, codes_off = self._uniq_and_codes_off(payload, n)
        hit = pc.is_in(uniq, value_set=pa.array(list(needles), pa.binary()))
        hits = np.flatnonzero(hit.to_numpy(zero_copy_only=False))
        if hits.size == 0:
            return np.empty(0, np.int64)
        codes, _ = _decode_ints_best(payload, codes_off, n)
        want = np.sort(hits.astype(np.uint64))
        idx = np.searchsorted(want, codes)
        ok = (idx < want.size) & (want[np.minimum(idx, want.size - 1)] == codes)
        return np.flatnonzero(ok)

    def gather(self, payload: bytes, positions: np.ndarray, n: int) -> pa.Array:
        """Sparse random access in the CODE domain: decode the (tiny)
        dictionary + the int-coded code column, then ``take`` only the
        selected rows' uniques — the n-row string column never
        materializes."""
        if n == 0 or len(positions) == 0:
            return pa.array([], type=pa.large_binary())
        uniq, codes_off = self._uniq_and_codes_off(payload, n)
        codes, _ = _decode_ints_best(payload, codes_off, n)
        sel = codes.view(np.int64)[np.asarray(positions, dtype=np.int64)]
        return pc.take(uniq, pa.array(sel))

    def value_counts(self, payload: bytes, n: int) -> tuple[pa.Array, np.ndarray]:
        """Per-value occurrence counts in the CODE domain: decode the (tiny)
        unique dictionary plus the int-coded code column and ``bincount``
        the codes — the n-row string column never materializes (the GROUP
        BY analogue of the reference's dictionary lookup,
        ``raw_test_dictionary.cpp:107-112``). Returns ``(uniques, counts)``
        aligned by position; zero-count uniques are kept (harmless — the
        caller aggregates across chunks)."""
        if n == 0:
            return pa.array([], type=pa.large_binary()), np.empty(0, np.int64)
        uniq, codes_off = self._uniq_and_codes_off(payload, n)
        codes, _ = _decode_ints_best(payload, codes_off, n)
        counts = np.bincount(codes.view(np.int64), minlength=len(uniq))
        return uniq, counts.astype(np.int64)

    def codes(self, payload: bytes, n: int) -> tuple[pa.Array, np.ndarray]:
        """(unique dictionary, per-row int64 codes) — the raw CODE-domain
        view, for group-aggregate kernels that pair codes with a measure
        column (``bincount``/``add.at`` per code, no row string ever
        materialized)."""
        if n == 0:
            return pa.array([], type=pa.large_binary()), np.empty(0, np.int64)
        uniq, codes_off = self._uniq_and_codes_off(payload, n)
        codes, _ = _decode_ints_best(payload, codes_off, n)
        return uniq, codes.view(np.int64)

    def positions_gt(
        self, payload: bytes, n: int, needle: bytes, strict: bool = True
    ) -> np.ndarray:
        """Range filter in the CODE domain: compare only the unique
        dictionary against the needle (one Arrow C++ kernel over n_uniq
        values), then select rows whose code is in the matching set via a
        boolean LUT — no row string materializes (the range analogue of
        :meth:`positions_eq`; reference string bsearch applies the compare
        in the value domain the same way, ``binary_search.cpp:63-122``)."""
        if n == 0:
            return np.empty(0, np.int64)
        uniq, codes_off = self._uniq_and_codes_off(payload, n)
        cmp = pc.greater if strict else pc.greater_equal
        lut = cmp(uniq, needle).to_numpy(zero_copy_only=False).astype(bool)
        if not lut.any():
            return np.empty(0, np.int64)
        codes, _ = _decode_ints_best(payload, codes_off, n)
        return np.flatnonzero(lut[codes.view(np.int64)])


class WordDictCodec:
    """Word-level dictionary coding for natural-language text.

    ``split_pattern(' ')`` → flat token stream → ``dictionary_encode`` →
    token codes and per-row token counts through the integer codec chooser;
    decode is ``take`` + ``binary_join`` — every step a C++ Arrow kernel.
    Split/join on the space byte is an exact identity (0x20 never occurs
    inside a UTF-8 multibyte sequence). On word-structured text this beats
    byte-level FSST in ratio and speed; the cost model picks per chunk
    (our extension — the reference has no word-level codec).

    Layout: ``n_uniq:u32 | uniq-ends sub | uniq blob | counts sub | codes sub``.
    """

    name = "word_dict"

    def encode(self, strs) -> bytes:
        arr = _as_binary_array(strs)
        toks = pc.split_pattern(arr, pattern=" ")
        counts = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
        flat = toks.flatten()
        denc = pc.dictionary_encode(flat.cast(pa.large_string()))
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
        uniq = denc.dictionary.cast(pa.large_binary())
        blob, ends = _blob_and_ends(uniq)
        return b"".join(
            [
                struct.pack("<I", len(uniq)),
                _encode_ints_best(ends),
                blob,
                _encode_ints_best(counts.astype(np.uint64)),
                _encode_ints_best(codes),
            ]
        )

    def _parts(self, payload: bytes, n: int):
        (n_uniq,) = struct.unpack_from("<I", payload, 0)
        ends_u, off = _decode_ints_best(payload, 4, n_uniq)
        ends = ends_u.astype(np.int64)
        blob_len = int(ends[-1]) if n_uniq else 0
        uniq = _from_blob(payload[off : off + blob_len], ends)
        counts, off2 = _decode_ints_best(payload, off + blob_len, n)
        counts = counts.astype(np.int64)
        codes, _ = _decode_ints_best(payload, off2, int(counts.sum()))
        return uniq, counts, codes

    @staticmethod
    def _join_rows(uniq: pa.Array, codes: np.ndarray, counts: np.ndarray) -> pa.Array:
        toks = pc.take(uniq.cast(pa.large_string()), pa.array(codes.view(np.int64)))
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
        lst = pa.LargeListArray.from_arrays(pa.array(offsets, type=pa.int64()), toks)
        joined = pc.binary_join(lst, pa.scalar(" ", pa.large_string()))
        return joined.cast(pa.large_binary())

    def decode(self, payload: bytes, n: int) -> pa.Array:
        if n == 0:
            return pa.array([], type=pa.large_binary())
        uniq, counts, codes = self._parts(payload, n)
        return self._join_rows(uniq, codes, counts)

    def gather(self, payload: bytes, positions: np.ndarray, n: int) -> pa.Array:
        """Sparse random access: gather only the selected rows' token-code
        windows (ragged gather over the counts layout), take + join those —
        the n-row string column never materializes."""
        if n == 0 or len(positions) == 0:
            return pa.array([], type=pa.large_binary())
        positions = np.asarray(positions, dtype=np.int64)
        uniq, counts, codes = self._parts(payload, n)
        offs = np.concatenate(([0], np.cumsum(counts)))
        ln = counts[positions]
        total = int(ln.sum())
        block_off = np.repeat(np.cumsum(ln) - ln, ln)
        tok_idx = np.repeat(offs[positions], ln) + np.arange(total, dtype=np.int64) - block_off
        return self._join_rows(uniq, codes[tok_idx], ln)


STRING_CODEC_CLASSES = {
    c.name: c for c in (StrRawCodec, FsstStringCodec, DictStringCodec, WordDictCodec)
}


def prefix_relation(needle: bytes, prefix: bytes):
    """How a threshold string relates to a LeCo-string block whose every row
    starts with ``prefix``:

    * ``"all"`` — every row is > needle (needle sorts before the prefix
      region, or is a strict prefix of it);
    * ``"none"`` — no row can be > needle (needle sorts after the region);
    * ``("suffix", r)`` — rows compare to needle within the suffix domain:
      row ``prefix+s > needle`` iff ``s > r`` lexicographically.
    """
    k = min(len(needle), len(prefix))
    if needle[:k] < prefix[:k]:
        return "all"
    if needle[:k] > prefix[:k]:
        return "none"
    if len(needle) < len(prefix):
        return "all"  # every row extends needle strictly, hence sorts after
    return ("suffix", needle[len(prefix):])


def suffix_bound(r: bytes, alpha, padded: int) -> tuple[int, bool]:
    """Threshold for the base-K big-integer domain of a LeCo-string block.

    The block maps each (post-prefix, zero-padded) suffix ``s`` to
    ``g(s) = Horner(ranks(s))`` with pad digit 0 and byte ranks 1..K-1 — a
    bijection that preserves lexicographic order over representable
    suffixes. For an arbitrary threshold suffix ``r`` (bytes outside the
    block alphabet, longer than the pad width), returns ``(T, exact)`` such
    that a representable ``s <= r`` iff ``g(s) <= T``; ``exact`` means ``r``
    itself is representable (``g(r) == T``), which callers use to turn
    >= into > . Digit construction: in-alphabet bytes map exactly; the
    first out-of-alphabet byte takes the rank of the largest smaller
    alphabet byte and maxes every later digit (the predecessor bound). The
    model-inversion compare then runs entirely in the value domain —
    the string-domain counterpart of the reference's sorted-block binary
    search (``experiments/binary_search.cpp:63-122`` applied to the
    ``leco_string_subset.cpp:186-193`` big-int mapping).
    """
    K = 257 if alpha is None else len(alpha) + 1
    digits: list[int] = []
    exact = len(r) <= padded
    broke = False
    for j, byte in enumerate(r[:padded]):
        if alpha is None:
            digits.append(byte + 1)
            continue
        m = int(np.searchsorted(alpha, byte, side="right"))
        digits.append(m)
        if not (m >= 1 and int(alpha[m - 1]) == byte):
            exact = False
            digits.extend([K - 1] * (padded - j - 1))
            broke = True
            break
    if not broke:
        digits.extend([0] * (padded - len(digits)))
    T = 0
    for d in digits:
        T = T * K + d
    return T, exact


class LecoStringCodec:
    """LeCo-string, uint64 rung (operator #24, ``headers/string/leco_string.h:70-183``).

    Reference recipe: strip the block-common prefix
    (``extract_common_prefix`` ``leco_string.h:19-41``), pad to the block max
    length (``Padding_string`` ``:50-68``), reinterpret each padded string as
    a base-K integer over the block's observed alphabet
    (``convertToASCII_subset`` ``string_utils.h:122-133``; base-256
    ``convertToASCII`` ``:81-93`` when the alphabet is wide), fit a model
    over those integers and store bit-packed residuals plus per-row original
    lengths. The reference ladders uint64/uint128/uint256 by padded length
    (``experiments/leco_string_subset.cpp:108-133``); we implement the uint64
    rung — with the subset alphabet that covers e.g. 19-digit decimal
    suffixes — as a pure composition: rank matrix → Horner base-K → uint64
    column → the engine's own int-codec race (leco/for/delta/raw). The
    128/256 rungs are out of scope per the north star (wide strings go to
    FSST/dict via the cost model). All steps are numpy matrix ops; no
    per-row Python.

    Layout: ``plen:u8 | prefix | padded_len:u8 | alpha_len:u16 | alphabet |
    lens sub-block | values sub-block`` (``alpha_len=0`` → base-256 mode).
    """

    name = "leco_str"

    @staticmethod
    def _common_prefix(arr: pa.Array) -> bytes:
        """Common prefix of all rows == common prefix of the lexicographic
        min and max (two driver-side strings, everything else is C++)."""
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py() or b"", mm["max"].as_py() or b""
        p = 0
        for a, b in zip(lo, hi):
            if a != b:
                break
            p += 1
        return lo[:p]

    @staticmethod
    def _plan(arr: pa.Array):
        """(prefix, padded_len, alphabet|None) if the block fits the uint64
        rung, else None. Alphabet mode needs K^L ≤ 2^63 (Horner-safe)."""
        n = len(arr)
        if n == 0:
            return None
        prefix = LecoStringCodec._common_prefix(arr)
        p = len(prefix)
        if p > 255:
            return None
        mx = pc.max(pc.binary_length(arr)).as_py() or 0
        padded = mx - p
        if padded <= 0 or padded > 64:
            return None
        if padded <= 7:  # 256^7 < 2^63: plain base-256, no alphabet table
            return prefix, padded, None
        # subset alphabet: unique bytes over the post-prefix suffixes
        blob, ends = _blob_and_ends(arr)
        buf = np.frombuffer(blob, np.uint8)
        starts = np.concatenate(([0], ends[:-1]))
        keep = np.ones(buf.size, dtype=bool)
        if p:
            pidx = (starts[:, None] + np.arange(p, dtype=np.int64)[None, :]).ravel()
            keep[pidx] = False
        alpha = np.unique(buf[keep])
        K = len(alpha) + 1
        if padded * np.log2(K) > 63:
            return None
        return prefix, padded, alpha

    @staticmethod
    def eligible(arr) -> bool:
        return LecoStringCodec._plan(_as_binary_array(arr)) is not None

    @staticmethod
    def _suffix_matrix(arr: pa.Array, p: int, padded: int):
        blob, ends = _blob_and_ends(arr)
        buf = np.frombuffer(blob, np.uint8)
        lens = np.diff(np.concatenate(([0], ends)))
        rem = lens - p
        starts = np.concatenate(([0], ends[:-1])) + p
        col = np.arange(padded, dtype=np.int64)
        idx = starts[:, None] + col[None, :]
        mask = col[None, :] < rem[:, None]
        mat = np.zeros((len(arr), padded), dtype=np.uint8)
        mat[mask] = buf[np.where(mask, idx, 0)[mask]]
        return mat, mask, lens

    def encode(self, strs) -> bytes:
        arr = _as_binary_array(strs)
        n = len(arr)
        plan = self._plan(arr)
        if plan is None:
            raise ValueError("block not eligible for leco_str (uint64 rung)")
        prefix, padded, alpha = plan
        p = len(prefix)
        mat, mask, lens = self._suffix_matrix(arr, p, padded)
        if alpha is None:
            ranks = mat.astype(np.uint64) + 1  # pad slots stay 0 below
            ranks[~mask] = 0
            K = np.uint64(257)
        else:
            ranks = (np.searchsorted(alpha, mat) + 1).astype(np.uint64)
            ranks[~mask] = 0
            K = np.uint64(len(alpha) + 1)
        vals = np.zeros(n, dtype=np.uint64)
        for j in range(padded):  # Horner over ≤64 columns, vectorized rows
            vals = vals * K + ranks[:, j]
        from ..select import int_codec_sizes
        from . import CODEC_IDS, int_codec

        sizes = int_codec_sizes(vals, np.uint64, candidates=("leco", "for", "delta", "raw"))
        inner = min(sizes, key=sizes.get)
        vpay = int_codec(inner, np.uint64).encode(vals)
        # segmentation race, same gate as the int framing (operator #10)
        if n >= 4096 and inner in ("leco", "for", "delta") and len(vpay) > 0.05 * vals.nbytes:
            var = int_codec("leco_var", np.uint64).encode(vals)
            if len(var) < len(vpay):
                inner, vpay = "leco_var", var
        return b"".join(
            [
                bytes([p]),
                bytes(prefix),
                bytes([padded]),
                struct.pack("<H", 0 if alpha is None else len(alpha)),
                b"" if alpha is None else alpha.tobytes(),
                _encode_ints_best(lens.astype(np.uint64)),
                bytes([CODEC_IDS[inner]]),
                struct.pack("<Q", len(vpay)),
                vpay,
            ]
        )

    @staticmethod
    def _header(payload: bytes):
        """(prefix bytes, padded, alpha|None, offset past the alphabet)."""
        p = payload[0]
        prefix = bytes(payload[1 : 1 + p])
        padded = payload[1 + p]
        (alpha_len,) = struct.unpack_from("<H", payload, 2 + p)
        off = 4 + p
        alpha = None
        if alpha_len:
            alpha = np.frombuffer(payload, np.uint8, count=alpha_len, offset=off)
            off += alpha_len
        return prefix, padded, alpha, off

    def positions_gt(
        self, payload: bytes, n: int, needle: bytes, strict: bool = True
    ) -> np.ndarray:
        """Range filter by model inversion in the big-integer domain
        (operator: sorted-string binary search / range pushdown —
        ``experiments/leco_string_subset.cpp:186-193`` +
        ``binary_search.cpp:63-122``): map the threshold into the block's
        base-K value domain (:func:`suffix_bound`) and run the INNER int
        codec's ``filter_gt`` (LeCo model inversion / FOR zone compare) —
        no row string ever materializes."""
        from . import CODEC_NAMES, int_codec

        if n == 0:
            return np.empty(0, np.int64)
        prefix, padded, alpha, off = self._header(payload)
        rel = prefix_relation(needle, prefix)
        if rel == "all":
            return np.arange(n, dtype=np.int64)
        if rel == "none":
            return np.empty(0, np.int64)
        T, exact = suffix_bound(rel[1], alpha, padded)
        if not strict and exact:
            T -= 1  # v >= t  <=>  g(v) > g(t) - 1 when t is in-domain
        if T < 0:
            return np.arange(n, dtype=np.int64)
        _lens, off = _decode_ints_best(payload, off, n)
        inner = CODEC_NAMES[payload[off]]
        (ln,) = struct.unpack_from("<Q", payload, off + 1)
        vpay = payload[off + 9 : off + 9 + ln]
        pos = int_codec(inner, np.uint64).filter_gt(vpay, n, T)
        return np.sort(np.asarray(pos, dtype=np.int64))

    def _inner_parts(self, payload: bytes, n: int):
        """(prefix bytes, padded, alpha|None, lens int64[n], inner codec
        name, inner payload) — shared by decode and gather."""
        from . import CODEC_NAMES

        prefix, padded, alpha, off = self._header(payload)
        lens_u, off = _decode_ints_best(payload, off, n)
        inner = CODEC_NAMES[payload[off]]
        (ln,) = struct.unpack_from("<Q", payload, off + 1)
        return prefix, padded, alpha, lens_u.astype(np.int64), inner, payload[off + 9 : off + 9 + ln]

    @staticmethod
    def _materialize(prefix: bytes, padded: int, alpha, lens: np.ndarray, vals: np.ndarray) -> pa.Array:
        """Strings from big-int values + original lengths (digit peel +
        one byte scatter); `vals` is consumed."""
        n = vals.size
        p = len(prefix)
        K = np.uint64(257 if alpha is None else len(alpha) + 1)
        ranks = np.empty((n, padded), dtype=np.uint64)
        for j in range(padded - 1, -1, -1):  # peel base-K digits
            ranks[:, j] = vals % K
            vals //= K
        if alpha is None:
            mat = (ranks - 1).astype(np.uint8)  # pad slots masked out below
        else:
            lut = np.concatenate(([0], alpha)).astype(np.uint8)
            mat = lut[ranks]
        rem = lens - p
        col = np.arange(padded, dtype=np.int64)
        mask = col[None, :] < rem[:, None]
        ends = np.cumsum(lens)
        out = np.empty(int(ends[-1]) if n else 0, dtype=np.uint8)
        starts = ends - lens
        if p:
            pidx = starts[:, None] + np.arange(p, dtype=np.int64)[None, :]
            out[pidx.ravel()] = np.tile(np.frombuffer(prefix, np.uint8), n)
        sidx = (starts + p)[:, None] + col[None, :]
        out[sidx[mask]] = mat[mask]
        return _from_blob(out.tobytes(), ends)

    def decode(self, payload: bytes, n: int) -> pa.Array:
        from . import int_codec

        if n == 0:
            return pa.array([], type=pa.large_binary())
        prefix, padded, alpha, lens, inner, vpay = self._inner_parts(payload, n)
        vals = int_codec(inner, np.uint64).decode(vpay, n).copy()
        return self._materialize(prefix, padded, alpha, lens, vals)

    def gather(self, payload: bytes, positions: np.ndarray, n: int) -> pa.Array:
        """Sparse random access: the INNER int codec's gather (model +
        residual RA — ``randomdecodeArray8`` composed through the string
        mapping) reads only the selected slots' values, and the digit peel /
        byte scatter run over len(positions) rows, not n."""
        from . import int_codec

        if n == 0 or len(positions) == 0:
            return pa.array([], type=pa.large_binary())
        positions = np.asarray(positions, dtype=np.int64)
        prefix, padded, alpha, lens, inner, vpay = self._inner_parts(payload, n)
        vals = int_codec(inner, np.uint64).gather(vpay, positions, n).copy()
        return self._materialize(prefix, padded, alpha, lens[positions], vals)


STRING_CODEC_CLASSES[LecoStringCodec.name] = LecoStringCodec
# the wide rung registers itself on import (see strings_wide.py; imported by
# learn_to_compress_spark.select, which every framing entry point goes through)
