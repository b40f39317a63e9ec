"""LeCo_var_lookahead — greedy ONLINE segmentation with horizon pricing.

Reference: ``headers/piecewise_cost_lookahead.h`` — a one-pass variant of
the split/merge optimizer: the encoder walks the block left to right and,
whenever extending the open segment would widen its residual width, prices
two futures over a bounded lookahead window — keep extending
(``lookahead_with_slope``, ``:263-305``) vs close here and start fresh
(``lookahead``, ``:172-257``) — and commits the cheaper one immediately.
No committed experiment driver wires the header up (like the DP header,
it is an evaluation tool); the shipped path is ``leco_cost`` split+merge.

Ours has the same role and the same decision structure, NOT the same code:
we walk horizon blocks of ``H`` slots and at each boundary compare the
EXACT serialized cost (``LecoVarCodec._seg_cost`` — LS fit via prefix
sums, dual recenter) of ``[s, i+H)`` (extend through the horizon) against
``[s, i) + [i, i+H)`` (close at ``i``), committing greedily. One cost
evaluation per decision is cached from the previous step, so encoding is
~2 scalar window pricings per horizon block.

Role in the engine: **raced, gated** — its ``var_la`` leg of the int
race ladder (``select.RACE_LEGS``) runs only when variable segmentation
already won: measured on real shapes, the uniform horizon boundaries
beat the top-down argmax split on drift-shaped random walks
(cumulative-Poisson sensor streams, ~15 % smaller) and lose on
jump-segmented data (conversation timestamps, smooth ramps) — the
per-column race memo arbitrates, so
losing columns stop paying for it after ``RACE_PATIENCE`` chunks
(SURVEY §2 "what's missing" item 5, now closed as implemented).

Serialized layout is byte-identical to :class:`LecoVarCodec`
(decode / random access / segment routing inherited unchanged).
"""

from __future__ import annotations

import numpy as np

from .leco_var import _MIN_SEG, _Fitter, LecoVarCodec


class LecoVarLookaheadCodec(LecoVarCodec):
    name = "leco_var_lookahead"

    #: horizon: decisions are made (and segments may close) only at
    #: multiples of H — the lookahead window of the close-vs-extend race
    horizon = 64

    def _encode_impl(self, values: np.ndarray) -> bytes:
        values = np.ascontiguousarray(values, dtype=self.dtype)
        n = values.size
        y64 = values.astype(np.int64) if self.width < 64 else values.view(np.int64)
        fitter = _Fitter(y64)
        H = max(self.horizon, _MIN_SEG)

        segments: list[tuple[int, int, int, float, float]] = []
        s = 0
        i = min(n, H)
        cur = self._seg_cost(y64, fitter, s, i)  # cost tuple of [s, i)
        while i < n:
            j = min(n, i + H)
            ext = self._seg_cost(y64, fitter, s, j)
            new = self._seg_cost(y64, fitter, i, j)
            if cur[0] + new[0] < ext[0]:  # close at i, start fresh
                segments.append((s, i, cur[1], cur[2], cur[3]))
                s, cur = i, new
            else:  # keep extending through the horizon
                cur = ext
            i = j
        segments.append((s, i, cur[1], cur[2], cur[3]))
        return self._serialize(values, y64, segments)
