"""LeCo-string wide rungs — uint128/uint256 equivalent (operator #24).

Reference type ladder: ``experiments/leco_string_subset.cpp:108-133`` selects
uint64 / ``__uint128_t`` / ``leco_uint256`` (``headers/string/leco_uint256.h``)
by the padded post-prefix length; blocks whose suffixes exceed 64 bits of
base-K capacity keep the model path instead of falling back to FSST/dict.
This module is the Spark-side equivalent of those wide rungs: sorted ID-like
strings (URLs, UUID-ish keys, zero-padded surrogate keys) of up to 256 bits
of suffix entropy get a least-squares line over their big-integer values and
fixed-width residuals, exactly like the uint64 rung.

Representation: arbitrary-precision Python ints in numpy object arrays —
every arithmetic step is one vectorized-at-C-API pass over the chunk (no
per-row Python loops beyond numpy's own element dispatch), and residual
limbs are extracted 64 bits at a time back into uint64 numpy arrays for
byte-aligned storage. Byte-aligned (vs bit-packed) residuals cost < 7 bits
per row vs the reference but keep the kernel pure-numpy.

Layout::

    plen:u8 | prefix | padded:u8 | alpha_len:u16 | [alphabet] |
    lens sub-block | theta0:f64 | theta1:f64 | neg_pred_bitmap |
    sign_bitmap | wb:u8 | mag limbs (ceil(wb/8) uint64-LE per row)
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .strings import (
    LecoStringCodec,
    _as_binary_array,
    _decode_ints_best,
    _encode_ints_best,
)

from .strings import STRING_CODEC_CLASSES

MAX_BITS = 256


def _plan_wide(arr: pa.Array):
    """(prefix, padded, alphabet|None) when the block's suffixes need more
    than the uint64 rung but fit 256 bits of base-K capacity."""
    n = len(arr)
    if n == 0:
        return None
    prefix = LecoStringCodec._common_prefix(arr)
    p = len(prefix)
    if p > 255:
        return None
    mx = pc.max(pc.binary_length(arr)).as_py() or 0
    padded = mx - p
    if padded <= 0 or padded > 255:
        return None
    # alphabet over post-prefix suffixes (same recipe as the uint64 rung)
    from .strings import _blob_and_ends

    blob, ends = _blob_and_ends(arr)
    buf = np.frombuffer(blob, np.uint8)
    starts = np.concatenate(([0], ends[:-1]))
    keep = np.ones(buf.size, dtype=bool)
    if p:
        pidx = (starts[:, None] + np.arange(p, dtype=np.int64)[None, :]).ravel()
        keep[pidx] = False
    alpha = np.unique(buf[keep])
    K = len(alpha) + 1
    bits = padded * np.log2(K)
    # blocks whose suffixes fit 63 bits are ALSO handled here (the wide
    # Horner/serializer is width-agnostic): the auto-selection race never
    # offers them (``select._pick_string_codec`` races only the first
    # eligible rung: uint64, then wide, then outlier), but
    # ``selection="force:leco_str_wide"`` must be able to pin the wide rung
    # on any subset-alphabet block
    if bits > MAX_BITS:
        return None
    if padded * np.log2(257) <= MAX_BITS:
        pass  # either mode fits; prefer subset alphabet (fewer bits) anyway
    return prefix, padded, alpha


class LecoStringWideCodec:
    name = "leco_str_wide"

    @staticmethod
    def eligible(arr) -> bool:
        return _plan_wide(_as_binary_array(arr)) is not None

    def encode(self, strs) -> bytes:
        arr = _as_binary_array(strs)
        n = len(arr)
        plan = _plan_wide(arr)
        if plan is None:
            raise ValueError("block not eligible for leco_str_wide")
        prefix, padded, alpha = plan
        p = len(prefix)
        mat, mask, lens = LecoStringCodec._suffix_matrix(arr, p, padded)
        ranks = (np.searchsorted(alpha, mat) + 1).astype(np.uint64)
        ranks[~mask] = 0
        K = int(len(alpha) + 1)
        # Horner to big ints (object array: one C-API pass per column)
        vals = np.zeros(n, dtype=object)
        for j in range(padded):
            vals = vals * K + ranks[:, j].astype(object)
        # LS fit in float64 (model quality is capped at 53 mantissa bits —
        # inherent; the reference's double thetas have the same ceiling)
        x = np.arange(n, dtype=np.float64)
        y = vals.astype(np.float64)
        if n > 1:
            sumx, sumy = x.sum(), y.sum()
            sumxx, sumxy = (x * x).sum(), (x * y).sum()
            den = sumxx * n - sumx * sumx
            theta1 = (sumxy * n - sumx * sumy) / den if den else 0.0
            theta0 = (sumy - theta1 * sumx) / n
        else:
            theta0, theta1 = y[0] if n else 0.0, 0.0
        predf = theta0 + theta1 * x
        pred = np.array([int(v) for v in predf], dtype=object)  # C-trunc
        neg = np.array([v < 0 for v in pred], dtype=bool)
        pred[neg] = 0  # clamp: values are non-negative; residual absorbs it
        resid = vals - pred
        sign = np.array([r >= 0 for r in resid], dtype=bool)
        mag = np.where(sign, resid, -resid)
        maxmag = int(max(mag.max(), 0))
        wb = max(1, (maxmag.bit_length() + 7) // 8)
        n_limbs = (wb + 7) // 8
        limbs = np.empty((n_limbs, n), dtype=np.uint64)
        m = mag
        mask64 = (1 << 64) - 1
        for l in range(n_limbs):
            limbs[l] = (m & mask64).astype(np.uint64)
            if l + 1 < n_limbs:
                m = m >> 64
        limb_bytes = limbs.transpose(1, 0).copy().view(np.uint8).reshape(n, n_limbs * 8)
        out_mag = limb_bytes[:, :wb]  # little-endian truncation to wb bytes
        return b"".join(
            [
                bytes([p]),
                bytes(prefix),
                bytes([padded]),
                struct.pack("<H", len(alpha)),
                alpha.tobytes(),
                _encode_ints_best(lens.astype(np.uint64)),
                struct.pack("<dd", theta0, theta1),
                np.packbits(neg, bitorder="little").tobytes(),
                np.packbits(sign, bitorder="little").tobytes(),
                bytes([wb]),
                out_mag.tobytes(),
            ]
        )

    @staticmethod
    def _values(payload: bytes, n: int):
        """(prefix bytes, padded, alpha, lens, big-int value array) — the
        block's value-domain reconstruction shared by decode and the range
        pushdown."""
        p = payload[0]
        prefix = bytes(payload[1 : 1 + p])
        padded = payload[1 + p]
        (alpha_len,) = struct.unpack_from("<H", payload, 2 + p)
        off = 4 + p
        alpha = np.frombuffer(payload, np.uint8, count=alpha_len, offset=off)
        off += alpha_len
        lens_u, off = _decode_ints_best(payload, off, n)
        lens = lens_u.astype(np.int64)
        theta0, theta1 = struct.unpack_from("<dd", payload, off)
        off += 16
        nb = (n + 7) // 8
        neg = np.unpackbits(
            np.frombuffer(payload, np.uint8, count=nb, offset=off), count=n, bitorder="little"
        ).astype(bool)
        off += nb
        sign = np.unpackbits(
            np.frombuffer(payload, np.uint8, count=nb, offset=off), count=n, bitorder="little"
        ).astype(bool)
        off += nb
        wb = payload[off]
        off += 1
        raw = np.frombuffer(payload, np.uint8, count=n * wb, offset=off).reshape(n, wb)
        n_limbs = (wb + 7) // 8
        padded_bytes = np.zeros((n, n_limbs * 8), dtype=np.uint8)
        padded_bytes[:, :wb] = raw
        limbs = padded_bytes.view(np.uint64).reshape(n, n_limbs)
        mag = np.zeros(n, dtype=object)
        for l in range(n_limbs - 1, -1, -1):
            mag = (mag << 64) + limbs[:, l].astype(object)
        x = np.arange(n, dtype=np.float64)
        predf = theta0 + theta1 * x
        pred = np.array([int(v) for v in predf], dtype=object)
        pred[neg] = 0
        vals = np.where(sign, pred + mag, pred - mag)
        return prefix, padded, alpha, lens, vals

    def positions_gt(
        self, payload: bytes, n: int, needle: bytes, strict: bool = True
    ) -> np.ndarray:
        """Range filter in the wide big-integer value domain: threshold
        mapped by :func:`~.strings.suffix_bound` (arbitrary-precision T),
        rows compared as big ints — the suffix peel / byte scatter of a
        full string decode never runs (``leco_string_subset.cpp:186-193``
        semantics on the 128/256-bit rung)."""
        from .strings import prefix_relation, suffix_bound

        if n == 0:
            return np.empty(0, np.int64)
        prefix, padded, alpha, _lens, vals = self._values(payload, n)
        rel = prefix_relation(needle, prefix)
        if rel == "all":
            return np.arange(n, dtype=np.int64)
        if rel == "none":
            return np.empty(0, np.int64)
        T, exact = suffix_bound(rel[1], alpha, padded)
        if not strict and exact:
            T -= 1
        return np.flatnonzero(vals > T)

    @staticmethod
    def _materialize(prefix_b: bytes, padded: int, alpha, lens, vals) -> pa.Array:
        from .strings import _from_blob

        n = len(vals)
        p = len(prefix_b)
        prefix = np.frombuffer(prefix_b, np.uint8)
        # peel base-K digits
        K = int(len(alpha) + 1)
        ranks = np.empty((n, padded), dtype=np.int64)
        v = vals
        for j in range(padded - 1, -1, -1):
            ranks[:, j] = (v % K).astype(np.int64)
            v = v // K
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
            out[pidx.ravel()] = np.tile(prefix, n)
        sidx = (starts + p)[:, None] + col[None, :]
        out[sidx[mask]] = mat[mask]
        return _from_blob(out.tobytes(), ends)

    def decode(self, payload: bytes, n: int) -> pa.Array:
        if n == 0:
            return pa.array([], type=pa.large_binary())
        prefix_b, padded, alpha, lens, vals = self._values(payload, n)
        return self._materialize(prefix_b, padded, alpha, lens, vals)

    def gather(self, payload: bytes, positions: np.ndarray, n: int) -> pa.Array:
        """Sparse random access: value reconstruction is O(n) limb ops, but
        the expensive part — the per-digit big-int peel over up to 255
        columns — runs only over the selected rows."""
        if n == 0 or len(positions) == 0:
            return pa.array([], type=pa.large_binary())
        positions = np.asarray(positions, dtype=np.int64)
        prefix_b, padded, alpha, lens, vals = self._values(payload, n)
        return self._materialize(prefix_b, padded, alpha, lens[positions], vals[positions])


STRING_CODEC_CLASSES[LecoStringWideCodec.name] = LecoStringWideCodec
