"""Learned codec selection — CART classifier over block features (op #37).

Reference: per-block features in ``headers/create_feature.h:9-56``
(log2(range), three normalized quantile positions, average run length);
Gini-CART classifier ``headers/decision_tree.h:13-345`` trained by
``experiments/classifier_CART.cpp``, accuracy eval
``experiments/predict_compress_accuracy.cpp:86-117``.

Ours is a from-scratch numpy CART (no sklearn): deterministic synthetic
training blocks in the reference generators' shapes (``scripts/gen_norm.py``,
``generate_stepwise.py``, ``poisson_randomdie.py``) are labeled by the exact
analytic selector (``select.int_codec_sizes`` — the accuracy ceiling the CART
approximates), then a depth-bounded Gini tree predicts the winner from five
O(n) features. The learned path trades a little compression ratio for
constant-time selection; the engine default stays the exact analytic selector
(cheaper than the reference's exhaustive encoding already), and the encode
job exposes ``selection="learned"`` to switch.
"""

from __future__ import annotations

import contextlib

import numpy as np

_LABELS = ["raw", "for", "delta", "leco", "rle", "dict"]
_LABEL_ID = {n: i for i, n in enumerate(_LABELS)}


def block_features(vals: np.ndarray) -> np.ndarray:
    """Five features per block, mirroring ``create_feature.h:9-56``:
    [log2(range+1), q25, q50, q75 of the normalized values, avg run length
    (log2)]. All O(n) vector ops."""
    n = vals.size
    if n == 0:
        return np.zeros(5)
    v = vals.astype(np.float64)
    lo, hi = float(v.min()), float(v.max())
    rng = hi - lo
    logrange = np.log2(rng + 1.0)
    if rng > 0:
        norm = (v - lo) / rng
        q25, q50, q75 = np.quantile(norm, [0.25, 0.5, 0.75])
    else:
        q25 = q50 = q75 = 0.0
    n_runs = int((vals[1:] != vals[:-1]).sum()) + 1
    avg_run = np.log2(n / n_runs)
    return np.array([logrange, q25, q50, q75, avg_run])


# ---------------------------------------------------------------------------
# Gini CART (arrays-of-nodes representation; no recursion at predict time)
# ---------------------------------------------------------------------------


class CartTree:
    def __init__(self):
        self.feature: list[int] = []
        self.thresh: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.label: list[int] = []  # -1 for internal nodes

    def _add(self) -> int:
        for a in (self.feature, self.thresh, self.left, self.right, self.label):
            a.append(-1)
        return len(self.feature) - 1

    def fit(self, X: np.ndarray, y: np.ndarray, max_depth: int = 8, min_leaf: int = 8):
        self._build(X, y, 0, max_depth, min_leaf)
        return self

    def _gini_split(self, col: np.ndarray, y: np.ndarray):
        """Best threshold for one feature by Gini impurity (midpoint grid)."""
        order = np.argsort(col, kind="stable")
        cs, ys = col[order], y[order]
        n = len(ys)
        k = int(y.max()) + 1
        # prefix class counts
        onehot = np.zeros((n, k))
        onehot[np.arange(n), ys] = 1.0
        pref = np.cumsum(onehot, axis=0)
        total = pref[-1]
        cuts = np.flatnonzero(cs[1:] > cs[:-1]) + 1  # split between distinct values
        if cuts.size == 0:
            return None
        nl = cuts.astype(np.float64)
        nr = n - nl
        pl = pref[cuts - 1]
        pr = total - pl
        gl = 1.0 - ((pl / nl[:, None]) ** 2).sum(axis=1)
        gr = 1.0 - ((pr / nr[:, None]) ** 2).sum(axis=1)
        score = (nl * gl + nr * gr) / n
        j = int(score.argmin())
        return float(score[j]), float((cs[cuts[j] - 1] + cs[cuts[j]]) / 2.0)

    def _build(self, X, y, depth, max_depth, min_leaf) -> int:
        node = self._add()
        counts = np.bincount(y, minlength=len(_LABELS))
        majority = int(counts.argmax())
        if depth >= max_depth or len(y) < 2 * min_leaf or counts.max() == len(y):
            self.label[node] = majority
            return node
        best = None
        for f in range(X.shape[1]):
            res = self._gini_split(X[:, f], y)
            if res and (best is None or res[0] < best[0]):
                best = (res[0], f, res[1])
        if best is None:
            self.label[node] = majority
            return node
        _, f, t = best
        mask = X[:, f] <= t
        if mask.sum() < min_leaf or (~mask).sum() < min_leaf:
            self.label[node] = majority
            return node
        self.feature[node] = f
        self.thresh[node] = t
        self.left[node] = self._build(X[mask], y[mask], depth + 1, max_depth, min_leaf)
        self.right[node] = self._build(X[~mask], y[~mask], depth + 1, max_depth, min_leaf)
        return node

    def predict_one(self, x: np.ndarray) -> int:
        i = 0
        while self.label[i] < 0:
            i = self.left[i] if x[self.feature[i]] <= self.thresh[i] else self.right[i]
        return self.label[i]


# ---------------------------------------------------------------------------
# deterministic training corpus (reference generator shapes, seed 42)
# ---------------------------------------------------------------------------


def training_blocks(n_per_kind: int = 60, block: int = 4096):
    """(blocks, labels) labeled by the exact analytic selector."""
    from .select import int_codec_sizes

    rng = np.random.default_rng(42)
    blocks: list[np.ndarray] = []
    for i in range(n_per_kind):
        x = np.arange(block, dtype=np.float64)
        slope = rng.uniform(0.5, 1000)
        noise = rng.integers(1, 1 << int(rng.uniform(1, 24)))
        blocks.append((slope * x + rng.integers(-noise, noise + 1, block)).astype(np.int64))
        # stepwise (generate_stepwise.py shape)
        steps = np.repeat(rng.integers(0, 1 << 20, block // 128), 128)
        blocks.append((steps + rng.integers(-3, 4, block)).astype(np.int64))
        # poisson gaps (sorted timestamps)
        gaps = rng.poisson(int(rng.uniform(10, 2e6)), block)
        blocks.append(np.cumsum(gaps).astype(np.int64))
        # low cardinality runs
        k = int(rng.uniform(2, 30))
        runs = rng.integers(1, 200, block // 16)
        vals = rng.integers(0, k, block // 16)
        blocks.append(np.repeat(vals, runs)[:block].astype(np.int64))
        # low cardinality shuffled (dict territory)
        blocks.append(rng.integers(0, int(rng.uniform(2, 4000)), block).astype(np.int64))
        # uniform random (raw territory)
        blocks.append(rng.integers(0, 1 << 62, block).astype(np.int64))
        # constant
        blocks.append(np.full(block, int(rng.integers(0, 1 << 40)), dtype=np.int64))
    labels = []
    for b in blocks:
        u = b.view(np.uint64)
        sizes = int_codec_sizes(u, np.uint64)
        labels.append(_LABEL_ID[min(sizes, key=sizes.get)])
    X = np.stack([block_features(b.view(np.uint64)) for b in blocks])
    return X, np.array(labels, dtype=np.int64), blocks


_default_tree: CartTree | None = None


def default_tree() -> CartTree:
    global _default_tree
    if _default_tree is None:
        X, y, _ = training_blocks()
        _default_tree = CartTree().fit(X, y)
    return _default_tree


def pick_int_codec_learned(vals: np.ndarray) -> str:
    return _LABELS[default_tree().predict_one(block_features(vals))]


# ---------------------------------------------------------------------------
# CART regressor — variable-segmentation gain prediction for race pruning
#
# Reference: ``headers/regress_tree.h`` (variance-split CART over block
# features) trained by ``experiments/regressor_CART.cpp`` to predict a
# codec's compression ratio so the selector can SKIP candidates predicted to
# lose instead of paying their encode. Our race's one candidate without a
# closed-form analytic size is variable segmentation (leco_var): every other
# codec already prices itself in O(n) before encoding, so the regressor
# targets exactly the ratio  leco_var_bytes / best_fixed_bytes  and the race
# gate skips the segmentation encode when the predicted win is below margin.
# The tree trains ONCE on the driver (deterministic corpus, seed-fixed) and
# ships to executors as plain arrays via the encode kernel's closure —
# workers never pay the training encodes.
# ---------------------------------------------------------------------------


def var_gain_features(vals: np.ndarray) -> np.ndarray:
    """Nine O(n) features separating "one line fits all" blocks from
    piecewise-modelable ones: global least-squares residual bit width vs the
    mean/max/std of 16 sub-block widths (the gap IS leco_var's winnable
    bits), plus the same contrast in the delta domain (delta_var / drift
    walks). All closed-form vector ops — no sort, no encode."""
    n = vals.size
    if n < 32:
        return np.zeros(9)
    v = vals.astype(np.float64)
    x = np.arange(n, dtype=np.float64)
    xc = x - x.mean()
    den = float((xc**2).sum())
    b = float((v * xc).sum() / den) if den else 0.0
    r = v - v.mean() - b * xc
    gbits = float(np.log2(r.max() - r.min() + 1.0))
    S = 16
    w = n // S
    vb = v[: S * w].reshape(S, w)
    xs = np.arange(w, dtype=np.float64)
    xsc = xs - xs.mean()
    dens = float((xsc**2).sum())
    bs = (vb * xsc).sum(axis=1) / dens if dens else np.zeros(S)
    rs = vb - vb.mean(axis=1, keepdims=True) - bs[:, None] * xsc
    sub = np.log2(rs.max(axis=1) - rs.min(axis=1) + 1.0)
    d = np.diff(v)
    dbits = float(np.log2(d.max() - d.min() + 1.0))
    wd = d.size // S
    db = d[: S * wd].reshape(S, wd)
    dsub = np.log2(db.max(axis=1) - db.min(axis=1) + 1.0)
    return np.array(
        [
            np.log2(n),
            gbits,
            float(sub.mean()),
            float(sub.max()),
            float(sub.std()),
            gbits - float(sub.mean()),
            dbits,
            float(dsub.mean()),
            dbits - float(dsub.mean()),
        ]
    )


class CartRegressor:
    """Variance-reduction CART (``regress_tree.h:13-200`` analogue): same
    array-of-nodes layout as :class:`CartTree`, SSE split criterion, leaf =
    mean target. ``to_params``/``from_params`` round-trip plain lists so a
    fitted tree ships to executors without pickling the class instance."""

    def __init__(self):
        self.feature: list[int] = []
        self.thresh: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.value: list[float] = []  # leaf mean; NaN for internal nodes

    def _add(self) -> int:
        for a in (self.feature, self.thresh, self.left, self.right):
            a.append(-1)
        self.value.append(float("nan"))
        return len(self.feature) - 1

    def fit(self, X: np.ndarray, y: np.ndarray, max_depth: int = 8, min_leaf: int = 8):
        self._build(X, np.asarray(y, dtype=np.float64), 0, max_depth, min_leaf)
        return self

    def _sse_split(self, col: np.ndarray, y: np.ndarray):
        order = np.argsort(col, kind="stable")
        cs, ys = col[order], y[order]
        n = len(ys)
        c1 = np.cumsum(ys)
        c2 = np.cumsum(ys * ys)
        cuts = np.flatnonzero(cs[1:] > cs[:-1]) + 1
        if cuts.size == 0:
            return None
        nl = cuts.astype(np.float64)
        nr = n - nl
        s1l, s2l = c1[cuts - 1], c2[cuts - 1]
        s1r, s2r = c1[-1] - s1l, c2[-1] - s2l
        score = (s2l - s1l * s1l / nl) + (s2r - s1r * s1r / nr)
        j = int(score.argmin())
        return float(score[j]), float((cs[cuts[j] - 1] + cs[cuts[j]]) / 2.0)

    def _build(self, X, y, depth, max_depth, min_leaf) -> int:
        node = self._add()
        if depth >= max_depth or len(y) < 2 * min_leaf or float(y.std()) == 0.0:
            self.value[node] = float(y.mean())
            return node
        best = None
        for f in range(X.shape[1]):
            res = self._sse_split(X[:, f], y)
            if res and (best is None or res[0] < best[0]):
                best = (res[0], f, res[1])
        if best is None:
            self.value[node] = float(y.mean())
            return node
        _, f, t = best
        mask = X[:, f] <= t
        if mask.sum() < min_leaf or (~mask).sum() < min_leaf:
            self.value[node] = float(y.mean())
            return node
        self.feature[node] = f
        self.thresh[node] = t
        self.left[node] = self._build(X[mask], y[mask], depth + 1, max_depth, min_leaf)
        self.right[node] = self._build(X[~mask], y[~mask], depth + 1, max_depth, min_leaf)
        return node

    def predict_one(self, x: np.ndarray) -> float:
        i = 0
        while self.feature[i] >= 0:
            i = self.left[i] if x[self.feature[i]] <= self.thresh[i] else self.right[i]
        return self.value[i]

    def to_params(self) -> dict:
        return {
            "feature": list(self.feature),
            "thresh": list(self.thresh),
            "left": list(self.left),
            "right": list(self.right),
            "value": list(self.value),
        }

    @classmethod
    def from_params(cls, p: dict) -> "CartRegressor":
        t = cls()
        t.feature = list(p["feature"])
        t.thresh = list(p["thresh"])
        t.left = list(p["left"])
        t.right = list(p["right"])
        t.value = list(p["value"])
        return t


def _regressor_corpus(block: int = 4096, n_extra: int = 40):
    """The classifier corpus plus the shapes variable segmentation exists
    for: piecewise-linear blocks with random breakpoints/slopes and drift
    walks whose gap mean shifts mid-block (the reference's colcor/var
    benchmarks, ``scripts/generate_stepwise.py`` territory)."""
    _, _, blocks = training_blocks(block=block)
    rng = np.random.default_rng(7)
    for _ in range(n_extra):
        k = int(rng.uniform(3, 12))
        bounds = np.sort(rng.choice(np.arange(64, block - 64), k - 1, replace=False))
        out = np.empty(block)
        lvl = 0.0
        for seg in np.split(np.arange(block), bounds):
            slope = rng.uniform(-500, 500)
            noise = int(rng.integers(1, 1 << int(rng.uniform(1, 10))))
            out[seg] = (
                lvl + slope * np.arange(seg.size)
                + rng.integers(-noise, noise + 1, seg.size)
            )
            lvl = out[seg][-1]
        blocks.append(out.astype(np.int64))
        means = np.repeat(rng.uniform(5, 5e4, 8), block // 8)
        blocks.append(np.cumsum(rng.poisson(means)).astype(np.int64))
    return blocks


def _regressor_training(block: int = 4096):
    from .select import int_codec, int_codec_sizes

    X, y = [], []
    for b in _regressor_corpus(block=block):
        u = (b - b.min()).astype(np.uint64)
        fixed = min(int_codec_sizes(u, np.uint64).values())
        var_bytes = len(int_codec("leco_var", np.dtype(np.uint64)).encode(u))
        X.append(var_gain_features(u))
        y.append(var_bytes / max(fixed, 1.0))
    return np.stack(X), np.asarray(y)


#: the installed tree ``predict_var_ratio`` prunes with (None: no pruning)
_VAR_REG: CartRegressor | None = None
_VAR_PARAMS: dict | None = None


def var_regressor_params() -> dict:
    """Driver-side lazy train → plain-array params for the kernel closure.
    Fitting installs nothing: library calls in this process keep the
    exhaustive race until a caller installs the params."""
    global _VAR_PARAMS
    if _VAR_PARAMS is None:
        X, y = _regressor_training()
        _VAR_PARAMS = CartRegressor().fit(X, y).to_params()
    return _VAR_PARAMS


def install_var_regressor(params: dict | None) -> None:
    """Executor-side: adopt a driver-fitted tree (idempotent, cheap)."""
    global _VAR_REG
    if _VAR_REG is None and params:
        _VAR_REG = CartRegressor.from_params(params)


@contextlib.contextmanager
def var_regressor_installed(params: dict | None):
    """Prune with the tree of ``params`` (None: no pruning) inside the
    block, then restore whatever was installed before. Driver-side races
    that price what the executors will do run inside one."""
    global _VAR_REG
    saved = _VAR_REG
    _VAR_REG = CartRegressor.from_params(params) if params else None
    try:
        yield
    finally:
        _VAR_REG = saved


def predict_var_ratio(vals: np.ndarray) -> float | None:
    """Predicted ``leco_var_bytes / best_fixed_bytes`` for one block, or
    None when no regressor is installed (standalone/library calls keep the
    exhaustive race)."""
    if _VAR_REG is None:
        return None
    return float(_VAR_REG.predict_one(var_gain_features(vals)))
