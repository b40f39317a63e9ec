"""Column framing + sampling-based codec auto-selection (operator #36).

Semantics follow ``experiments/best_compress.cpp:46-86``: per column chunk,
encode with every candidate codec and keep the smallest payload. At scale we
don't pay full price per candidate: candidates are sized on a deterministic
*contiguous-slice sample* and extrapolated, then only the winner encodes the
full chunk — the sampling/accuracy trade the reference's CART classifier
(``headers/decision_tree.h``) approximates; sampling is the accuracy ceiling.

Column payload layout (framing above the codec payloads):
``flags:u8 | [validity bitmap, ceil(n/8) bytes] | codec_id:u8 | codec payload``
flags bit0 = has nulls, bit1 = order-preserving sign-flip applied (signed
ints with negatives are mapped ``x ^ MIN`` into unsigned space first — the
reference is unsigned-only, ``headers/piecewise_fix_integer_template.h:14-16``).
"""

from __future__ import annotations

import struct
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from .codecs import CODEC_IDS, CODEC_NAMES, int_codec
from .codecs import strings_outlier as _strings_outlier  # noqa: F401 — registers the outlier rung
from .codecs import strings_wide as _strings_wide  # noqa: F401 — registers the wide rung
from .codecs.strings import (
    STRING_CODEC_CLASSES,
    DictStringCodec,
    FsstStringCodec,
    LecoStringCodec,
    StrRawCodec,
    WordDictCodec,
)
from .learned import pick_int_codec_learned, predict_var_ratio

_FLAG_NULLS = 1
_FLAG_SIGNFLIP = 2

# logical column types the engine supports (input_hint schema + testdata)
_UNSIGNED_OF = {
    "int32": np.uint32,
    "int64": np.uint64,
    "timestamp_us": np.uint64,
    "timestamp_ntz_us": np.uint64,
}

STRING_CODEC_IDS = {
    "str_raw": 16,
    "fsst": 17,
    "str_dict": 18,
    "word_dict": 19,
    "leco_str": 20,
    "leco_str_wide": 21,
    "leco_str_outlier": 22,
}
STRING_CODEC_NAMES = {v: k for k, v in STRING_CODEC_IDS.items()}

STR_SAMPLE_ROWS = 512  # strings race on a sample: sizes come from real encodes


def _sample_slices(n: int, want: int, parts: int = 4) -> np.ndarray:
    """Deterministic contiguous slices (preserves runs/smoothness that RLE,
    delta and LeCo exploit — a stride sample would destroy them)."""
    idx = []
    span = want // parts
    for k in range(parts):
        start = min(k * (n - span) // max(parts - 1, 1), n - span)
        idx.append(np.arange(start, start + span))
    return np.unique(np.concatenate(idx))


def int_codec_sizes(vals: np.ndarray, dtype, candidates=None) -> dict[str, float]:
    """Exact (dict: upper-bound) compressed sizes per int codec candidate,
    computed analytically in O(n) vector ops WITHOUT bit-packing.

    This dominates the reference's two selection strategies: exhaustive
    encoding (``experiments/best_compress.cpp:59-86``, the accuracy ceiling)
    at a fraction of its cost, and the CART predictor
    (``headers/decision_tree.h``) in accuracy. Sampling is reserved for
    strings, where FSST output has no closed form.
    """
    from .bitpack import ref_tail_pad_signmag, ref_tail_pad_unsigned
    from .codecs.base import bits_int
    from .codecs.intcodecs import LecoFixCodec

    dtype = np.dtype(dtype)
    n = vals.size
    sz = dtype.itemsize
    w = sz * 8
    raw_size = 1 + n * sz  # escape layout: max_bit byte + memcpy
    want = set(candidates) if candidates else None

    def wanted(name):
        return want is None or name in want

    def sm_payload(count: int, l: int) -> int:
        body = -(-count * l // 8)
        return body + ref_tail_pad_signmag(body) if l else 0

    sizes: dict[str, float] = {}
    if wanted("raw"):
        sizes["raw"] = n * sz

    if wanted("for"):
        m, mx = int(vals.min()), int(vals.max())
        b_for = bits_int(mx - m)
        if b_for >= w - 1:
            sizes["for"] = raw_size
        elif b_for == 0:
            sizes["for"] = 1 + 2 * sz
        else:
            body = -(-n * b_for // 8)
            sizes["for"] = 1 + 2 * sz + body + ref_tail_pad_unsigned(b_for)

    if wanted("delta"):
        if n <= 1:
            sizes["delta"] = 1 + n * sz
        else:
            cur, prev = vals[1:], vals[:-1]
            mag = np.where(cur > prev, cur - prev, prev - cur)
            mmax = int(mag.max())
            b_delta = bits_int(mmax) + 1 if mmax else 0
            sizes["delta"] = raw_size if b_delta >= w else 1 + sz + sm_payload(n - 1, b_delta)

    if wanted("leco"):
        leco = LecoFixCodec(dtype)
        theta0, theta1 = leco._fit(vals)
        rec = leco._recenter(vals, theta0, theta1)
        if rec is None:  # no int64-castable recenter — leco would raw-escape
            sizes["leco"] = raw_size
        else:
            lmax = rec[3]
            b_leco = bits_int(lmax) + 1 if lmax else 0
            sizes["leco"] = raw_size if b_leco >= w else 17 + sm_payload(n, b_leco)

    n_runs = int((vals[1:] != vals[:-1]).sum()) + 1 if n else 0
    if wanted("rle"):
        sizes["rle"] = 4 + n_runs * (sz + 4)

    if wanted("dict"):
        n_uniq = len(np.unique(vals))
        # codes are uint32 with the same run structure as the values; bound
        # the inner choice by {for, rle, raw} over codes (encode re-selects)
        b_codes = bits_int(max(n_uniq - 1, 0))
        codes_for = (
            1 + 8 + (-(-n * b_codes // 8) + ref_tail_pad_unsigned(b_codes) if b_codes else 0)
        )
        codes_rle = 4 + n_runs * 8
        codes_raw = n * 4
        sizes["dict"] = 4 + n_uniq * sz + 1 + min(codes_for, codes_rle, codes_raw)
    return sizes


def _pick_int_codec(vals: np.ndarray, dtype) -> str:
    sizes = int_codec_sizes(vals, dtype)
    return min(sizes, key=sizes.get)


# Adaptive race pruning (per-column, inside one encode kernel): a race leg
# (``RACE_LEGS``) that lost its last RACE_PATIENCE eligible races on a
# column — or FSST in the string race after a single loss
# (``_pick_string_codec``) — is benched and re-tried once every RACE_RECHECK
# eligible chunks —
# the streaming analogue of the reference's sampled per-method selection
# (``experiments/best_compress.cpp:59-86`` benchmarks candidates on sample
# blocks, then fixes the method).
# Homogeneous columns (the normal case) pay the full race ≤ PATIENCE times
# and the cheap analytic race thereafter; a mid-column distribution shift is
# picked up at the next recheck, bounding any CR give-up to < RECHECK chunks
# per shift. Callers that want the exhaustive race (tests, parity tooling)
# simply pass no memo.
RACE_PATIENCE = 4
RACE_RECHECK = 16

#: regressor race pruning: skip the leco_var encode when the CART predicts
#: var_bytes / best_fixed_bytes at or above this (i.e. race only on a
#: predicted ≥7% win). Held-out regret vs the exhaustive race is asserted
#: ≤ 1.02 by ``tests/test_learned_regressor.py``; the memo's periodic
#: recheck still catches a mid-column distribution shift the model missed.
VAR_PRUNE_RATIO = 0.93

#: per-process observability for the regressor gate (tests assert pruning
#: actually skips loser blocks; reset + read in-process)
VAR_RACE_STATS = {"raced": 0, "skipped": 0}


def _race_allowed(memo, cand: str) -> bool:
    if memo is None:
        return True
    losses, since = memo.get(cand, (0, 0))
    if losses < RACE_PATIENCE:
        return True
    since += 1
    if since >= RACE_RECHECK:
        memo[cand] = (losses, 0)
        return True
    memo[cand] = (losses, since)
    return False


def _race_record(memo, cand: str, won: bool) -> None:
    if memo is None:
        return
    losses, _ = memo.get(cand, (0, 0))
    memo[cand] = (0 if won else losses + 1, 0)


def _var_pruned(vals: np.ndarray) -> bool:
    """CART-regressor race pruning (``headers/regress_tree.h``,
    ``experiments/regressor_CART.cpp``): a driver-fitted variance CART
    predicts leco_var_bytes / best_fixed_bytes from nine O(n) features, and
    the segmentation encodes are skipped unless the predicted win clears
    ``VAR_PRUNE_RATIO``. No model installed ⇒ never pruned."""
    pred = predict_var_ratio(vals)
    pruned = pred is not None and pred >= VAR_PRUNE_RATIO
    VAR_RACE_STATS["skipped" if pruned else "raced"] += 1
    return pruned


class RaceLeg(NamedTuple):
    key: str  # race memo key
    codecs: tuple[str, ...]  # raced in this order
    vs: frozenset = frozenset(CODEC_IDS) - {"raw", "rle", "dict"}  # winners it races
    min_n: int = 256
    floor: tuple[int, float] | None = (0, 0.02)  # (bytes, share of raw bytes)
    only_after: dict = {}  # codec -> the leg-entry winner it needs
    prune: Callable[[np.ndarray], bool] | None = None


# The exact int race: LeCo encodes every candidate and keeps the smallest
# (``experiments/best_compress.cpp:59-86``). The analytic pick among
# raw/for/delta/leco/rle/dict enters this ladder, and each leg in turn races
# its codecs against the current winner when the chunk has ``min_n`` values,
# the winner is in ``vs``, the winner's payload is over ``floor`` (bytes +
# share · raw bytes) and the column memo allows the leg — asked last, since
# it advances the memo. A ``prune`` hook may then skip the leg unrecorded.
# Each codec that ``only_after`` admits passes its ``eligible()`` and O(n)
# ``size_bytes()`` pre-checks where it has them, and takes the lead only
# when strictly smaller (ties keep the earlier codec); the leg records one
# win or loss. The legs: the minimax line in leco's layout (lp, op #18); the
# nonlinear and exception-list models (ops #16, #17); variable segmentation
# (ops #10, #13), the one leg without an analytic size, then the lookahead
# segmenter (``piecewise_cost_lookahead.h``); vbyte and Elias-Fano (op #19).
RACE_LEGS = (
    RaceLeg("lp", ("leco_lp",), vs=frozenset({"leco"}), floor=(17, 0.0)),
    RaceLeg("poly2", ("poly2",)),
    RaceLeg("poly_max", ("poly_max",)),
    RaceLeg("spline", ("spline",)),
    RaceLeg("outlier", ("leco_outlier",)),
    RaceLeg("var", ("leco_var", "delta_var"), min_n=4096, floor=(0, 0.05),
            only_after={"delta_var": "delta"}, prune=_var_pruned),
    RaceLeg("var_la", ("leco_var_lookahead",), vs=frozenset({"leco_var", "delta_var"}),
            min_n=4096, floor=None),
    RaceLeg("baseline", ("vbyte", "elias_fano"), vs=frozenset(CODEC_IDS)),
)


def _race_ladder(vals, udtype, name: str, payload: bytes, memo) -> tuple[str, bytes]:
    """Race ``RACE_LEGS`` against the analytic pick → the final winner."""
    for leg in RACE_LEGS:
        if not (
            vals.size >= leg.min_n
            and name in leg.vs
            and (leg.floor is None or len(payload) > leg.floor[0] + leg.floor[1] * vals.nbytes)
            and _race_allowed(memo, leg.key)
        ):
            continue
        if leg.prune is not None and leg.prune(vals):
            continue
        entry, won = name, False
        for cname in leg.codecs:
            if leg.only_after.get(cname, entry) != entry:
                continue
            codec = int_codec(cname, udtype)
            eligible = getattr(codec, "eligible", None)
            size_bytes = getattr(codec, "size_bytes", None)
            if (eligible and not eligible(vals)) or (
                size_bytes and size_bytes(vals) >= len(payload)
            ):
                continue
            cand = codec.encode(vals)
            if len(cand) < len(payload):
                name, payload, won = cname, cand, True
        _race_record(memo, leg.key, won)
    return name, payload


def encode_int_values(
    raw: np.ndarray, mask, logical: str, selection: str = "exact", memo=None
) -> tuple[str, bytes]:
    """Core int/timestamp framing over non-null values + validity mask.

    ``raw``: the non-null values (datetime64[us] or integer dtype);
    ``mask``: boolean null mask over the full column, or None.
    ``selection``: "exact" (analytic min-size, default), "learned" (CART
    over block features, operator #37 — constant-time selection, no race
    ladder), or "force:<codec>" (pin a registry codec for
    every chunk — the per-codec verification seam, mirroring the
    reference's fixed-method drivers ``experiments/best_compress.cpp:114-133``;
    correctness is unaffected because every codec roundtrips exactly).
    ``memo``: optional per-column mutable dict enabling adaptive race
    pruning across the chunks of one column (see ``RACE_PATIENCE``)."""
    udtype = np.dtype(_UNSIGNED_OF[logical])
    width = udtype.itemsize * 8
    stype = np.dtype(np.int32) if width == 32 else np.dtype(np.int64)
    if logical.startswith("timestamp"):
        raw = raw.astype("datetime64[us]").view(np.int64)
    signed = raw.astype(stype, copy=False)
    vals = signed.view(udtype)  # bit-pattern reinterpretation
    flags = 0
    if mask is not None:
        flags |= _FLAG_NULLS
    if signed.size and signed.min() < 0:
        # order-preserving map into unsigned space: flip the sign bit
        flags |= _FLAG_SIGNFLIP
        vals = vals ^ udtype.type(1 << (width - 1))
    if not vals.size:
        name = "raw"
    elif selection.startswith("force:"):
        name = selection[6:]
        if name not in CODEC_IDS or name in ("linked", "fsst"):
            raise ValueError(f"force: unknown int codec {name!r}")
    elif selection == "learned":
        name = pick_int_codec_learned(vals)
    else:
        name = _pick_int_codec(vals, udtype)
    payload = int_codec(name, udtype).encode(vals) if vals.size else b""
    if selection == "exact":
        name, payload = _race_ladder(vals, udtype, name, payload, memo)
    parts = [bytes([flags])]
    if mask is not None:
        parts.append(np.packbits(~mask, bitorder="little").tobytes())
    parts.append(bytes([CODEC_IDS[name]]))
    parts.append(payload)
    return name, b"".join(parts)


def encode_int_column(ser: pd.Series, logical: str) -> tuple[str, bytes]:
    mask = ser.isna().to_numpy() if ser.isna().any() else None
    nonnull = ser.dropna() if mask is not None else ser
    return encode_int_values(nonnull.to_numpy(), mask, logical)


def _read_validity(payload: bytes, n: int, flags: int, off: int):
    if not flags & _FLAG_NULLS:
        return None, n, off
    nb = (n + 7) // 8
    valid = np.unpackbits(
        np.frombuffer(payload, np.uint8, count=nb, offset=off),
        count=n,
        bitorder="little",
    ).astype(bool)
    return valid, int(valid.sum()), off + nb


def decode_int_column(payload: bytes, n: int, logical: str, companion=None):
    signed, valid = _decode_signed(payload, n, logical, companion)
    if logical.startswith("timestamp"):
        dense = signed.view("datetime64[us]")
        if valid is None:
            return pd.Series(dense)
        out = np.full(n, np.datetime64("NaT"), dtype="datetime64[us]")
        out[np.flatnonzero(valid)] = dense
        return pd.Series(out)
    if valid is None:
        return pd.Series(signed)
    out = pd.array([None] * n, dtype="Int32" if signed.itemsize == 4 else "Int64")
    out[np.flatnonzero(valid)] = signed
    return pd.Series(out)


def _pick_string_codec(arr, memo=None) -> tuple[str, bytes | None]:
    """Race the string codecs on the chunk (or, past 2048 rows, on a
    ``STR_SAMPLE_ROWS`` sample) → ``(winner, payload)``.

    The winner is the first smallest encode in candidate-list order.
    ``payload`` is the winner's encode of the full chunk when the race ran
    on it, else ``None`` (the caller encodes the winner once).

    FSST is raced last with a cap: it wins only if strictly smaller than
    every candidate listed before it and no larger than every one listed
    after it, i.e. smaller than ``min(earlier sizes, later sizes + 1)``.
    ``FsstStringCodec.encode`` returns ``None`` — often before finishing,
    or even training — exactly when it does not get under that cap, so the
    winner is the one a full FSST encode would give.

    ``memo``: the column's race memo (see ``RACE_PATIENCE``), or None for the
    exhaustive race. FSST's symbol-table training costs several times the
    rest of the race, so one loss benches it at once — the memo entry
    becomes ``(RACE_PATIENCE, 0)``, the state a driver-seeded int leg starts
    in, with the column's first chunk as the seed — and it is re-raced every
    ``RACE_RECHECK`` chunks; a win keeps it racing. While FSST is benched
    the winner is the first smallest of the other candidates; on every chunk
    where it races, the winner and bytes are the exhaustive race's."""
    import pyarrow as pa

    cands = [DictStringCodec(), WordDictCodec(), FsstStringCodec(), StrRawCodec()]
    # LeCo-string (op #24) joins the race only for blocks on one of its
    # rungs (uint64 fast path, or the 128/256-bit wide rung for longer
    # ID-like suffixes); eligibility is checked on the FULL chunk so a
    # sample never over-promises
    if LecoStringCodec.eligible(arr):
        cands.append(LecoStringCodec())
    else:
        from .codecs.strings_wide import LecoStringWideCodec

        if LecoStringWideCodec.eligible(arr):
            cands.append(LecoStringWideCodec())
        else:
            # outlier-detect rung (string exception list,
            # piecewise_fix_string_outlier_detect.h): a long tail kicked the
            # block off both rungs — strip ≤n/32 outliers and re-check
            from .codecs.strings_outlier import LecoStringOutlierCodec

            if LecoStringOutlierCodec.eligible(arr):
                cands.append(LecoStringOutlierCodec())
    n = len(arr)
    full = n <= 2048
    if full:
        race = arr
    else:
        import pyarrow.compute as pc

        # every sample size shares the scale n / len(sample), so raw sample
        # lengths rank the candidates the same as the scaled sizes
        race = pc.take(arr, pa.array(_sample_slices(n, STR_SAMPLE_ROWS)))
    fsst_at = next(i for i, c in enumerate(cands) if c.name == "fsst")
    payloads = {}
    for c in cands[:fsst_at] + cands[fsst_at + 1 :]:
        try:
            payloads[c.name] = c.encode(race)
        except ValueError:
            # plan-gated codecs (LeCo rungs / outlier) can be eligible on
            # the full chunk but not on the sample — skip, don't crash
            if full:
                raise
    before = {c.name for c in cands[:fsst_at]}
    cap = min(
        (len(v) + (k not in before) for k, v in payloads.items()), default=None
    )
    raced = _race_allowed(memo, "fsst")
    fsst = cands[fsst_at].encode(race, cap=cap) if raced else None
    if fsst is not None:  # under the cap: FSST beats every other candidate
        _race_record(memo, "fsst", True)
        name = "fsst"
        payloads[name] = fsst
    else:  # dicts keep insertion (= candidate-list) order
        if raced and memo is not None:
            memo["fsst"] = (RACE_PATIENCE, 0)  # one loss benches FSST
        name = min(payloads, key=lambda k: len(payloads[k]))
    return name, payloads[name] if full else None


def encode_string_column_arrow(
    arr, selection: str = "exact", memo=None
) -> tuple[str, bytes]:
    """Arrow-native framing: the column never touches Python objects.

    ``selection="force:<codec>"`` pins a string codec for every chunk (the
    per-codec verification seam). A forced LeCo rung falls back to the
    exhaustive race on chunks outside its eligibility domain — correctness
    always wins over the pin. ``memo``: the column's race memo for the
    exact race (see ``_pick_string_codec``)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if not pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_string())
    has_nulls = arr.null_count > 0
    nonnull = arr.drop_null().cast(pa.large_binary()) if has_nulls else arr.cast(pa.large_binary())
    flags = _FLAG_NULLS if has_nulls else 0
    payload = None
    if not len(nonnull):
        name, payload = "str_raw", b""
    elif selection.startswith("force:"):
        name = selection[6:]
        if name not in STRING_CODEC_IDS:
            raise ValueError(f"force: unknown string codec {name!r}")
        if name in (
            "leco_str", "leco_str_wide", "leco_str_outlier"
        ) and not STRING_CODEC_CLASSES[name].eligible(nonnull):
            name, payload = _pick_string_codec(nonnull)
    else:
        name, payload = _pick_string_codec(nonnull, memo)
    if payload is None:
        payload = STRING_CODEC_CLASSES[name]().encode(nonnull)
    parts = [bytes([flags])]
    if has_nulls:
        valid = ~arr.is_null().to_numpy(zero_copy_only=False)
        parts.append(np.packbits(valid, bitorder="little").tobytes())
    parts.append(bytes([STRING_CODEC_IDS[name]]))
    parts.append(payload)
    return name, b"".join(parts)


def encode_string_column(ser: pd.Series) -> tuple[str, bytes]:
    import pyarrow as pa

    return encode_string_column_arrow(pa.Array.from_pandas(ser, type=pa.large_string()))


def _string_frame(payload: bytes, n: int):
    """(validity mask or None, non-null count, codec, codec payload) of a
    framed string column."""
    valid, n_valid, off = _read_validity(payload, n, payload[0], 1)
    codec = STRING_CODEC_CLASSES[STRING_CODEC_NAMES[payload[off]]]()
    return valid, n_valid, codec, payload[off + 1 :]


def decode_string_column(payload: bytes, n: int) -> pd.Series:
    import pyarrow as pa

    valid, n_valid, codec, body = _string_frame(payload, n)
    if n_valid:
        decoded = codec.decode(body, n_valid).cast(pa.large_string()).to_pandas()
    else:
        decoded = pd.Series([], dtype=object)
    if valid is None:
        return decoded.astype(object)
    out = np.full(n, None, dtype=object)
    out[np.flatnonzero(valid)] = decoded.to_numpy(dtype=object)
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# linked (correlated-column) framing — operator: group-correlation encoding
# (``headers/piecewise_cost_merge_integer_template_link_colcor.h:21``; see
# codecs/linked.py for the full design note)
# ---------------------------------------------------------------------------

_LINKED_HDR = struct.Struct("<ddd")  # x0, t0, t1


def encode_linked_framed(y64: np.ndarray, x64: np.ndarray) -> bytes | None:
    """Full framed payload of ``y`` encoded relative to companion ``x``
    (both dense signed-int64 domain, null-free), or None when linking is
    unusable (constant companion / uncastable predictions / tiny chunk).

    ``pred = trunc(t0 + t1·(float(x) − x0))`` with ``x0 = mean(x)`` — the
    centered form keeps the LS fit and the prediction numerically sane at
    µs-timestamp magnitudes. Residuals are wrapping int64 (modular
    arithmetic keeps decode exact even if ``y − pred`` wraps)."""
    n = y64.size
    if n < 8 or x64.size != n:
        return None
    xf = x64.astype(np.float64)
    x0 = float(xf.mean())
    xc = xf - x0
    varx = float((xc * xc).sum())
    if varx == 0.0 or not np.isfinite(varx):
        return None
    yf = y64.astype(np.float64)
    t1 = float((xc * (yf - yf.mean())).sum()) / varx
    t0 = float(yf.mean())
    if not (np.isfinite(t0) and np.isfinite(t1)):
        return None
    predf = t0 + t1 * xc
    from .codecs.base import preds_castable

    if not preds_castable(predf):
        return None
    resid = y64 - predf.astype(np.int64)  # wrapping int64 — see module note
    _name, framed_resid = encode_int_values(resid, None, "int64")
    return (
        bytes([0, CODEC_IDS["linked"]])
        + _LINKED_HDR.pack(x0, t0, t1)
        + framed_resid
    )


def _linked_decode_signed(sub: bytes, n: int, companion) -> np.ndarray:
    """Dense signed-int64 values of a linked column. ``sub`` is the payload
    after ``flags | codec_id``; ``companion`` is ``(framed_payload, logical)``
    of the companion column for the SAME chunk."""
    if companion is None:
        raise ValueError(
            "linked payload needs its companion column — pass companion="
            "(payload, logical); the store schema's linked_cols names it"
        )
    x0, t0, t1 = _LINKED_HDR.unpack_from(sub, 0)
    comp_payload, comp_logical = companion
    x64, valid = column_decode_i64(bytes(comp_payload), n, comp_logical)
    if valid is not None:
        raise ValueError("linked companion chunk must be null-free")
    r64, rvalid = column_decode_i64(sub[_LINKED_HDR.size :], n, "int64")
    assert rvalid is None
    pred = (t0 + t1 * (x64.astype(np.float64) - x0)).astype(np.int64)
    return pred + r64  # wrapping int64: (y − p) + p ≡ y (mod 2^64)


def _linked_unsigned(sub: bytes, n: int, udtype: np.dtype, companion) -> np.ndarray:
    """Linked decode presented in the framing's unsigned bit-pattern domain
    (linked frames always carry flags=0: no sign-flip, no nulls)."""
    signed64 = _linked_decode_signed(sub, n, companion)
    if udtype.itemsize == 4:
        return signed64.astype(np.int32).view(np.uint32)
    return signed64.view(np.uint64)


# ---------------------------------------------------------------------------
# pushdown entry points over framed int payloads (SUM / filter / gather
# without materializing the column — ``headers/piecewise_fix_op.h:167-284``,
# ``piecewise_fix_integer_template.h:206-252``, ``experiments/test_bitmap.cpp``)
# ---------------------------------------------------------------------------


def _int_frame(payload: bytes, n: int, logical: str):
    udtype = np.dtype(_UNSIGNED_OF[logical])
    flags = payload[0]
    valid, n_valid, off = _read_validity(payload, n, flags, 1)
    codec = int_codec(CODEC_NAMES[payload[off]], udtype)
    return flags, valid, n_valid, codec, payload[off + 1 :], udtype


def _signed(vals: np.ndarray, flags: int, udtype) -> np.ndarray:
    """Stored unsigned values → the column's signed dtype."""
    if flags & _FLAG_SIGNFLIP:
        vals = vals ^ udtype.type(1 << (udtype.itemsize * 8 - 1))
    return vals.view(np.int32 if udtype.itemsize == 4 else np.int64)


def _decode_signed(payload: bytes, n: int, logical: str, companion=None):
    """(dense values at non-null slots in the column's signed dtype,
    validity mask or None)."""
    flags, valid, n_valid, codec, sub, udtype = _int_frame(payload, n, logical)
    if not n_valid:
        vals = np.empty(0, dtype=udtype)
    elif codec.name == "linked":
        vals = _linked_unsigned(sub, n_valid, udtype, companion)
    else:
        vals = codec.decode(sub, n_valid)
    return _signed(vals, flags, udtype), valid


def _rows(valid, dense: np.ndarray) -> np.ndarray:
    """Positions among the non-null values → full-column row positions."""
    return dense if valid is None else np.flatnonzero(valid)[dense]


def column_sum(payload: bytes, n: int, logical: str, companion=None) -> int:
    """Exact SUM of a framed int/timestamp column (timestamps: µs since epoch),
    computed from the compressed payload via the codec's sum pushdown."""
    flags, _valid, n_valid, codec, sub, udtype = _int_frame(payload, n, logical)
    if n_valid == 0:
        return 0
    if codec.name == "linked":
        v64 = _linked_decode_signed(sub, n_valid, companion)
        hi = int((v64 >> np.int64(32)).sum(dtype=np.int64))
        lo = int((v64 & np.int64(0xFFFFFFFF)).sum(dtype=np.int64))
        return (hi << 32) + lo  # linked frames carry no sign-flip
    total = codec.sum(sub, n_valid)
    # stored unsigned == signed only when no value has the top bit set;
    # signflip guarantees that for negative-containing columns
    if flags & _FLAG_SIGNFLIP:
        total -= n_valid * (1 << (udtype.itemsize * 8 - 1))
    return total


def column_filter_gt(
    payload: bytes, n: int, logical: str, v: int, companion=None
) -> np.ndarray:
    """Row positions where column > v (v in the column's signed domain;
    timestamps in µs). Nulls never match. Uses the codec's model-inversion /
    zone pushdown."""
    flags, valid, n_valid, codec, sub, udtype = _int_frame(payload, n, logical)
    if n_valid == 0:
        return np.empty(0, dtype=np.int64)
    if codec.name == "linked":  # decode-and-compare in the signed domain
        if int(v) >= 2**63 - 1:  # nothing can exceed signed max
            return np.empty(0, dtype=np.int64)
        if int(v) < -(2**63):  # below the domain: every row qualifies
            pos = np.arange(n_valid, dtype=np.int64)
        else:
            v64 = _linked_decode_signed(sub, n_valid, companion)
            pos = np.flatnonzero(v64 > np.int64(v))
        return _rows(valid, pos)
    width = udtype.itemsize * 8
    # clamp thresholds outside the stored domain BEFORE handing v to the
    # codec: codecs compare in their unsigned dtype, where a negative v
    # would wrap to a huge value (property-fuzz counterexample: block [0],
    # v=-1 returned empty instead of all)
    if v >= (1 << (width - 1)) - 1:  # at/above signed max → nothing exceeds
        pos = np.empty(0, dtype=np.int64)
    elif flags & _FLAG_SIGNFLIP:
        if v < -(1 << (width - 1)):  # below the signed domain → every row
            pos = np.arange(n_valid, dtype=np.int64)
        else:
            v = (int(v) + (1 << (width - 1))) % (1 << width)
            pos = codec.filter_gt(sub, n_valid, int(v))
    elif v < 0:  # no sign flip ⇒ stored values are all ≥ 0
        pos = np.arange(n_valid, dtype=np.int64)
    else:
        pos = codec.filter_gt(sub, n_valid, int(v))
    return _rows(valid, pos)


def column_decode_i64(payload: bytes, n: int, logical: str, companion=None):
    """(dense signed-domain int64 values at non-null slots, validity mask or
    None). Timestamps come back as µs since epoch."""
    signed, valid = _decode_signed(payload, n, logical, companion)
    return signed.astype(np.int64, copy=False), valid


# per-process observability for the mod-band pushdown (tests assert the
# per-period inversion touches < 100% of slots; reset + read in-process)
MOD_BAND_STATS = {"slots_total": 0, "slots_decoded": 0}


def column_filter_mod_band(
    payload: bytes, n: int, logical: str, base: int, lo: int, hi: int, companion=None
) -> np.ndarray:
    """Row positions where ``lo < value % base < hi`` (signed domain; µs for
    timestamps). Nulls never match.

    Uses the codec's per-period pushdown when available: LeCo inverts the
    line model per period (``headers/piecewise_fix_integer_template.h:254-303``),
    FOR decides header-only from its exact (min,max) when the band misses or
    covers the whole range (``headers/FOR_integer_template.h:166-215``), RLE
    tests run keys only. Sign-flipped columns fall back to one full decode
    since the band shifts per period in the flipped domain."""
    flags, valid, n_valid, codec, sub, udtype = _int_frame(payload, n, logical)
    if n_valid == 0:
        return np.empty(0, dtype=np.int64)
    MOD_BAND_STATS["slots_total"] += n_valid
    pos = None
    if not flags & _FLAG_SIGNFLIP and hasattr(codec, "filter_mod_band"):
        res = codec.filter_mod_band(sub, n_valid, int(base), int(lo), int(hi))
        if res is not None:
            pos, n_decoded = res
            MOD_BAND_STATS["slots_decoded"] += int(n_decoded)
    if pos is None:
        MOD_BAND_STATS["slots_decoded"] += n_valid
        v64, _ = column_decode_i64(payload, n, logical, companion)
        rem = v64 % base
        pos = np.flatnonzero((rem > lo) & (rem < hi))
    return _rows(valid, pos)


def column_gather(payload: bytes, n: int, logical: str, positions: np.ndarray, companion=None):
    """Values at row positions (selective decode under a position list,
    ``experiments/test_bitmap.cpp:116-129``). Density-adaptive: point gather
    for sparse lists, full decode above the ~0.2 density threshold the
    reference measured (``test_bitmap.cpp:131-165``)."""
    positions = np.asarray(positions, dtype=np.int64)
    flags, valid, n_valid, codec, sub, udtype = _int_frame(payload, n, logical)
    if valid is not None or codec.name == "linked" or (n and len(positions) / n > 0.2):
        return (
            decode_int_column(payload, n, logical, companion=companion)
            .iloc[positions]
            .reset_index(drop=True)
        )
    signed = _signed(codec.gather(sub, positions, n_valid), flags, udtype)
    if logical.startswith("timestamp"):
        return pd.Series(signed.view("datetime64[us]"))
    return pd.Series(signed)


def column_gather_string_arrow(payload: bytes, n: int, positions: np.ndarray):
    """String values at row positions. Density-adaptive like the int path:
    sparse lists on codecs with per-string random access (FSST
    compressed-domain offsets, ``fsst_string.h:67-77``) decode only the
    selected rows; dense lists or null-bearing columns take one full decode
    + Arrow ``take``."""
    import pyarrow as pa

    positions = np.asarray(positions, dtype=np.int64)
    valid, _, codec, body = _string_frame(payload, n)
    if valid is None and hasattr(codec, "gather") and n and len(positions) / n <= 0.2:
        return codec.gather(body, positions, n).cast(pa.large_string())
    return decode_string_column_arrow(payload, n).take(pa.array(positions))


def column_value_counts_string(payload: bytes, n: int):
    """Per-chunk GROUP BY COUNT over a framed string column.

    Returns ``(values pa.Array(large_string), counts int64[], null_count)``.
    Dict-coded chunks count in the CODE domain (``DictStringCodec.
    value_counts`` — dictionary + ``bincount`` of int codes, no row string
    materialized); other codecs decode once and count with Arrow's C++
    ``value_counts`` kernel. Null rows are reported separately so the
    caller can emit SQL's NULL group."""
    import pyarrow as pa
    import pyarrow.compute as pc

    _, n_valid, codec, body = _string_frame(payload, n)
    null_count = n - n_valid
    if not n_valid:
        return pa.array([], type=pa.large_string()), np.empty(0, np.int64), null_count
    if hasattr(codec, "value_counts"):
        uniq, counts = codec.value_counts(body, n_valid)
        keep = counts > 0
        return uniq.cast(pa.large_string()).filter(pa.array(keep)), counts[keep], null_count
    arr = codec.decode(body, n_valid).cast(pa.large_string())
    vc = pc.value_counts(arr)
    return (
        vc.field("values"),
        vc.field("counts").to_numpy(zero_copy_only=False).astype(np.int64),
        null_count,
    )


# ---------------------------------------------------------------------------
# Arrow-native decode variants (used by the applyInArrow decode kernel —
# decoded columns go straight back to the JVM as Arrow buffers)
# ---------------------------------------------------------------------------


def decode_int_column_arrow(payload: bytes, n: int, logical: str, companion=None):
    import pyarrow as pa

    signed, valid = _decode_signed(payload, n, logical, companion)
    ts = logical.startswith("timestamp")
    if valid is None:
        np_out = signed.view("datetime64[us]") if ts else signed
        return pa.array(np_out)
    full = np.zeros(n, dtype=signed.dtype)
    full[np.flatnonzero(valid)] = signed
    np_out = full.view("datetime64[us]") if ts else full
    return pa.array(np_out, mask=~valid)


def column_codes_string(payload: bytes, n: int):
    """Dictionary-encoded view of a framed string column, for group-aggregate
    kernels: ``(uniques pa.Array(large_string), codes int64[] dense over
    non-null slots, valid mask or None)``.

    Dict-coded chunks return the stored dictionary + int codes directly —
    the CODE domain, no row string materialized (``DictStringCodec.codes``);
    other codecs decode once and factorize with Arrow's C++
    ``dictionary_encode``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    valid, n_valid, codec, body = _string_frame(payload, n)
    if not n_valid:
        return pa.array([], type=pa.large_string()), np.empty(0, np.int64), valid
    if hasattr(codec, "codes"):
        uniq, codes = codec.codes(body, n_valid)
        return uniq.cast(pa.large_string()), codes, valid
    denc = pc.dictionary_encode(codec.decode(body, n_valid))
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return denc.dictionary.cast(pa.large_string()), codes, valid


def column_sum_at(payload: bytes, n: int, logical: str, positions, companion=None):
    """Exact SUM of the column's values at the given row positions, skipping
    null slots: ``(sum int, n_nonnull int)``. Timestamps sum in µs."""
    positions = np.asarray(positions, dtype=np.int64)
    v64, valid = column_decode_i64(payload, n, logical, companion=companion)
    if valid is not None:
        keep = valid[positions]
        dense_of_row = np.cumsum(valid) - 1
        sel = v64[dense_of_row[positions[keep]]]
    else:
        sel = v64[positions]
    hi = int((sel >> np.int64(32)).sum(dtype=np.int64))
    lo = int((sel & np.int64(0xFFFFFFFF)).sum(dtype=np.int64))
    return (hi << 32) + lo, int(len(sel))


def decode_string_column_arrow(payload: bytes, n: int, logical: str = "string"):
    import pyarrow as pa

    valid, n_valid, codec, body = _string_frame(payload, n)
    if n_valid:
        dense = codec.decode(body, n_valid)
    else:
        dense = pa.array([], type=pa.large_binary())
    if valid is None:
        return dense.cast(pa.large_string())
    # rebuild with validity: null slots get zero-length spans
    import pyarrow.compute as pc

    lens = pc.binary_length(dense).to_numpy(zero_copy_only=False).astype(np.int64)
    full_lens = np.zeros(n, dtype=np.int64)
    full_lens[np.flatnonzero(valid)] = lens
    offsets = np.concatenate(([0], np.cumsum(full_lens)))
    doffs = np.frombuffer(dense.buffers()[1], np.int64, count=len(dense) + 1 + dense.offset)
    start = doffs[dense.offset]
    end = doffs[dense.offset + len(dense)]
    blob = dense.buffers()[2].to_pybytes()[start:end] if dense.buffers()[2] else b""
    validity = np.packbits(valid, bitorder="little")
    arr = pa.Array.from_buffers(
        pa.large_binary(),
        n,
        [pa.py_buffer(validity.tobytes()), pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)],
    )
    return arr.cast(pa.large_string())


def column_positions_eq_string(payload: bytes, n: int, needle: bytes) -> np.ndarray:
    """Positions (full-column indices) where a framed string column equals
    ``needle``; nulls never match. Dictionary-coded chunks compare in the
    code domain (see ``DictStringCodec.positions_eq``); other codecs decode
    once and compare with one Arrow C++ ``equal`` kernel."""
    import pyarrow.compute as pc

    valid, n_valid, codec, body = _string_frame(payload, n)
    if n_valid == 0:
        return np.empty(0, np.int64)
    pe = getattr(codec, "positions_eq", None)
    dense = pe(body, n_valid, needle) if pe is not None else None
    if dense is None:
        arr = codec.decode(body, n_valid)
        dense = np.flatnonzero(pc.equal(arr, needle).to_numpy(zero_copy_only=False))
    return _rows(valid, dense)


def column_positions_in_string(payload: bytes, n: int, needles: list) -> np.ndarray:
    """Positions (full-column indices) where a framed string column is IN
    the ``needles`` list; nulls never match. Dictionary-coded chunks answer
    in the CODE domain (``DictStringCodec.positions_in`` — one dictionary
    pass + int-code membership, no row string materializes); other codecs
    decode once and run one Arrow C++ ``is_in`` kernel."""
    import pyarrow as pa
    import pyarrow.compute as pc

    valid, n_valid, codec, body = _string_frame(payload, n)
    if n_valid == 0:
        return np.empty(0, np.int64)
    pi = getattr(codec, "positions_in", None)
    if pi is not None:
        dense = pi(body, n_valid, needles)
    else:
        arr = codec.decode(body, n_valid)
        hit = pc.is_in(arr, value_set=pa.array(list(needles), pa.binary()))
        dense = np.flatnonzero(hit.to_numpy(zero_copy_only=False))
    return _rows(valid, dense)


# per-process observability for the string range pushdown (tests assert the
# model-inversion / code-domain paths materialize ZERO row strings)
STR_FILTER_STATS = {"rows_total": 0, "rows_decoded": 0}


def column_positions_gt_string(
    payload: bytes, n: int, needle: bytes, strict: bool = True
) -> np.ndarray:
    """Positions (full-column indices) where a framed string column is
    ``> needle`` (``>=`` with ``strict=False``); nulls never match.
    UTF8-binary order — the collation Spark and DuckDB compare with.

    LeCo-string chunks invert the line model in the big-int domain
    (``LecoStringCodec.positions_gt`` — the reference's sorted-string
    binary search, ``experiments/leco_string_subset.cpp:186-193`` +
    ``binary_search.cpp:63-122``); dictionary chunks compare only the
    unique values then select codes; other codecs decode once and compare
    with one Arrow C++ kernel (counted in ``STR_FILTER_STATS``)."""
    import pyarrow.compute as pc

    valid, n_valid, codec, body = _string_frame(payload, n)
    if n_valid == 0:
        return np.empty(0, np.int64)
    STR_FILTER_STATS["rows_total"] += n_valid
    pg = getattr(codec, "positions_gt", None)
    dense = pg(body, n_valid, needle, strict) if pg is not None else None
    if dense is None:
        STR_FILTER_STATS["rows_decoded"] += n_valid
        arr = codec.decode(body, n_valid)
        cmp = pc.greater if strict else pc.greater_equal
        dense = np.flatnonzero(cmp(arr, needle).to_numpy(zero_copy_only=False))
    return _rows(valid, dense)


def prefix_upper_bound(prefix: bytes) -> bytes | None:
    """Smallest byte string > every string starting with ``prefix``
    (increment the last non-0xff byte, drop the tail); None when the prefix
    is all 0xff — then there is no upper bound."""
    b = bytearray(prefix)
    while b and b[-1] == 0xFF:
        b.pop()
    if not b:
        return None
    b[-1] += 1
    return bytes(b)


def column_positions_prefix_string(payload: bytes, n: int, prefix: bytes) -> np.ndarray:
    """Positions where the column starts with ``prefix`` — the half-open
    range ``[prefix, prefix_upper_bound)`` answered by two range pushdowns
    (each skipping decode on LeCo/dict chunks)."""
    ge = column_positions_gt_string(payload, n, prefix, strict=False)
    hi = prefix_upper_bound(prefix)
    if hi is None:
        return ge
    ge_hi = column_positions_gt_string(payload, n, hi, strict=False)
    return np.setdiff1d(ge, ge_hi, assume_unique=True)


def decode_double_column_arrow(payload: bytes, n: int, logical: str = "double"):
    import pyarrow as pa

    flags = payload[0]
    valid, n_valid, off = _read_validity(payload, n, flags, 1)
    vals = _decode_double_dense(payload, off, n_valid)
    if valid is None:
        return pa.array(vals)
    full = np.zeros(n, dtype=np.float64)
    full[np.flatnonzero(valid)] = vals
    return pa.array(full, mask=~valid)


_DSCALE_ID = 10  # framed double codec id: decimal-scaled integer path
_DMONO_ID = 11  # framed double codec id: order-preserving bit-pattern map
_F64_HI = np.uint64(1) << np.uint64(63)


def _f64_to_mono(bits: np.ndarray) -> np.ndarray:
    """Total-order-preserving float64→uint64 bijection: negatives invert all
    bits, non-negatives set the top bit. Sorted/smooth doubles become
    sorted/smooth uint64s, so the model codecs (LeCo/delta/FOR) apply — the
    Spark analogue of the reference's float-payload LeCo for NON-decimal
    doubles (``piecewise_cost_float.h``); decimal doubles take the exact
    scaled-int path instead."""
    return np.where(bits & _F64_HI != 0, ~bits, bits | _F64_HI)


def _mono_to_f64(mono: np.ndarray) -> np.ndarray:
    return np.where(mono & _F64_HI != 0, mono ^ _F64_HI, ~mono)


def _try_decimal_scale(vals: np.ndarray):
    """(k, int64 values), probing k in 0..6, if every double is exactly
    ``i / 10**k`` AND the
    reconstruction ``i / 10**k`` reproduces the original bit pattern —
    else None. Bitwise-exact check, so -0.0 / inf / giant magnitudes all
    fall back safely."""
    with np.errstate(all="ignore"):
        for k in range(0, 7):
            scale = np.float64(10.0**k)
            scaled = vals * scale
            ints = np.round(scaled)
            if not np.all(np.abs(ints) < 2**53):
                return None
            i64 = ints.astype(np.int64)
            recon = i64.astype(np.float64) / scale
            if np.array_equal(recon.view(np.uint64), vals.view(np.uint64)):
                return k, i64
    return None


def encode_double_column(ser: pd.Series) -> tuple[str, bytes]:
    """Doubles are encoded bit-identically: decimal-valued columns
    (quantities, prices, rates — ``v == i/10^k`` bitwise) are scaled to
    int64 and go through the full integer codec race (the Spark analogue of
    the reference's float-payload LeCo variants ``piecewise_cost_float.h`` /
    ``piecewise_fix_op_float.h``); everything else encodes its raw uint64
    bit patterns, where low-cardinality columns still dictionary/RLE
    compress. Decode reproduces exact bit patterns in both paths."""
    mask = ser.isna().to_numpy()
    has_nulls = bool(mask.any())
    vals = ser.dropna().to_numpy(dtype=np.float64)
    parts = [bytes([_FLAG_NULLS if has_nulls else 0])]
    if has_nulls:
        parts.append(np.packbits(~mask, bitorder="little").tobytes())
    dec = _try_decimal_scale(vals) if vals.size else None
    if dec is not None:
        k, i64 = dec
        inner_name, inner_payload = encode_int_values(i64, None, "int64")
        parts.append(bytes([_DSCALE_ID, k]))
        parts.append(inner_payload)
        return f"dscale{k}:{inner_name}", b"".join(parts)
    bits = vals.view(np.uint64)
    if bits.size:
        # full codec race over the order-preserving mapping: dict/rle/raw
        # sizes are invariant under the bijection, while the model codecs
        # gain the monotone domain (sensor series, sorted doubles)
        mono = _f64_to_mono(bits)
        name = _pick_int_codec(mono, np.uint64)
        payload = int_codec(name, np.uint64).encode(mono)
    else:
        name, payload = "raw", b""
    parts.append(bytes([_DMONO_ID, CODEC_IDS[name]]))
    parts.append(payload)
    return f"dmono:{name}", b"".join(parts)


def _decode_double_dense(payload: bytes, off: int, n_valid: int) -> np.ndarray:
    cid = payload[off]
    if cid == _DSCALE_ID:
        k = payload[off + 1]
        i64 = (
            decode_int_column(payload[off + 2 :], n_valid, "int64").to_numpy()
            if n_valid
            else np.empty(0, np.int64)
        )
        return i64.astype(np.float64) / np.float64(10.0**k)
    if cid == _DMONO_ID:
        name = CODEC_NAMES[payload[off + 1]]
        mono = (
            int_codec(name, np.uint64).decode(payload[off + 2 :], n_valid)
            if n_valid
            else np.empty(0, np.uint64)
        )
        return _mono_to_f64(mono).view(np.float64)
    # legacy layout (pre-dmono stores): codec over the raw bit patterns
    name = CODEC_NAMES[cid]
    bits = (
        int_codec(name, np.uint64).decode(payload[off + 1 :], n_valid)
        if n_valid
        else np.empty(0, np.uint64)
    )
    return bits.view(np.float64)


def decode_double_column(payload: bytes, n: int) -> pd.Series:
    flags = payload[0]
    valid, n_valid, off = _read_validity(payload, n, flags, 1)
    vals = _decode_double_dense(payload, off, n_valid)
    if valid is None:
        return pd.Series(vals.copy())
    out = np.full(n, np.nan)
    out[np.flatnonzero(valid)] = vals
    return pd.Series(out)
