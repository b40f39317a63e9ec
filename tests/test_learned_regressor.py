"""CART regressor for variable-segmentation gain (operator #37b — reference
``headers/regress_tree.h`` + ``experiments/regressor_CART.cpp``).

The regressor predicts leco_var_bytes / best_fixed_bytes from nine O(n)
features. It is fitted but gates no race (the exact race with its
per-column memo decides alone), so the contract is the model's own:
plain-array params rebuild a tree that predicts exactly as the fitted one,
and the features are fixed-width and finite on any block."""

import numpy as np

from learn_to_compress_spark import learned


def test_regressor_params_roundtrip():
    """A tree rebuilt from the plain-array params predicts exactly as the
    fitted tree does."""
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
