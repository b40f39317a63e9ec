"""CART regressor race pruning (operator #37b — reference
``headers/regress_tree.h`` + ``experiments/regressor_CART.cpp``).

The regressor predicts leco_var_bytes / best_fixed_bytes from nine O(n)
features so the race can skip the one candidate without an analytic size.
The contract: (1) held-out selection regret ≤ 1.02 vs the exhaustive race,
(2) the gate actually prunes (most non-segmentable blocks skip the encode),
(3) bit-exact decode is untouched (any codec roundtrips; pruning only moves
the selection)."""

import numpy as np

from learn_to_compress_spark import learned, select
from learn_to_compress_spark.select import (
    VAR_RACE_STATS,
    decode_int_column,
    encode_int_values,
)


def _holdout_blocks(block=4096, n=120):
    """Shapes NOT in the training corpus draws (different seed + params)."""
    rng = np.random.default_rng(1234)
    blocks = []
    for _ in range(n // 4):
        # piecewise linear, coarser noise than training
        k = int(rng.uniform(2, 8))
        bounds = np.sort(rng.choice(np.arange(32, block - 32), k - 1, replace=False))
        out = np.empty(block)
        lvl = float(rng.integers(0, 1 << 30))
        for seg in np.split(np.arange(block), bounds):
            slope = rng.uniform(-2000, 2000)
            out[seg] = lvl + slope * np.arange(seg.size) + rng.normal(0, 40, seg.size)
            lvl = out[seg][-1]
        blocks.append(out.astype(np.int64))
        # plain linear + heavy noise (fixed leco territory — should skip)
        x = np.arange(block, dtype=np.float64)
        blocks.append(
            (rng.uniform(1, 300) * x + rng.integers(-(1 << 18), 1 << 18, block)).astype(np.int64)
        )
        # shifted-mean drift walk
        means = np.repeat(rng.uniform(10, 1e5, 16), block // 16)
        blocks.append(np.cumsum(rng.poisson(means)).astype(np.int64))
        # uniform random (raw territory — should skip)
        blocks.append(rng.integers(0, 1 << 50, block).astype(np.int64))
    return blocks


def test_holdout_regret_at_most_2pct(installed_model):
    pruned = exhaustive = 0
    for b in _holdout_blocks():
        _, p1 = encode_int_values(b.copy(), None, "int64", memo=None)
        pruned += len(p1)
        with learned.var_regressor_installed(None):
            _, p0 = encode_int_values(b.copy(), None, "int64", memo=None)
        exhaustive += len(p0)
    regret = pruned / exhaustive
    assert regret <= 1.02, f"selection regret {regret:.4f} > 1.02"


def test_gate_actually_prunes(installed_model):
    VAR_RACE_STATS.update(raced=0, skipped=0)
    rng = np.random.default_rng(9)
    x = np.arange(4096, dtype=np.float64)
    for _ in range(20):
        # linear + wide noise: payload > 5% of raw (race-eligible) but
        # segmentation can't beat one line — the regressor must skip
        b = (5.0 * x + rng.integers(-(1 << 20), 1 << 20, 4096)).astype(np.int64)
        encode_int_values(b, None, "int64", memo=None)
    assert VAR_RACE_STATS["skipped"] >= 15, VAR_RACE_STATS


def test_pruned_selection_still_roundtrips(installed_model):
    for b in _holdout_blocks(n=16):
        name, payload = encode_int_values(b.copy(), None, "int64", memo=None)
        out = decode_int_column(bytes(payload), b.size, "int64")
        assert (out.to_numpy(dtype=np.int64) == b).all(), name


def test_regressor_params_roundtrip():
    """The plain-array params executors rebuild the tree from predict
    exactly as the fitted tree does."""
    X, y = learned._regressor_training()
    fitted = learned.CartRegressor().fit(X, y)
    rebuilt = [
        learned.CartRegressor.from_params(fitted.to_params()),
        learned.CartRegressor.from_params(learned.var_regressor_params()),
    ]
    rng = np.random.default_rng(3)
    x = np.arange(4096, dtype=np.float64)
    b = (x * 3 + rng.integers(0, 100, 4096)).astype(np.uint64)
    for f in (*X, learned.var_gain_features(b)):
        for t in rebuilt:
            assert t.predict_one(f) == fitted.predict_one(f)
    assert len({fitted.predict_one(f) for f in X}) > 1  # a tree, not a stump


def test_features_fixed_width_and_finite():
    rng = np.random.default_rng(5)
    for b in (
        np.arange(4096, dtype=np.uint64),
        rng.integers(0, 1 << 60, 4096).astype(np.uint64),
        np.zeros(4096, dtype=np.uint64),
        np.arange(31, dtype=np.uint64),  # below the feature floor
    ):
        f = learned.var_gain_features(b)
        assert f.shape == (9,) and np.isfinite(f).all()
