"""The exact int race ladder (``select.RACE_LEGS``): golden payload digests
and the order of a leg's gates.

The golden digests pin the bytes ``encode_int_values`` produces on a fixed
corpus of seeded shapes, with and without a race memo and the race-pruning
regressor, in int64 and int32. They were computed with the eight
hand-written race blocks the ladder replaced, so any change to a leg's
gates, codecs or order shows up here as a different digest."""

import hashlib

import numpy as np
import pytest

from learn_to_compress_spark.select import (
    RACE_PATIENCE,
    RACE_LEGS,
    VAR_RACE_STATS,
    encode_int_values,
)


def _shapes(n: int, seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    x = np.arange(n, dtype=np.float64)
    out = {
        "linear": (x * 977 + 13).astype(np.int64),
        "noisy_ramp": (x * 500 + 100 + rng.integers(-40, 40, n)).astype(np.int64),
        # int64 leco payload between the 2% and 5% payload floors
        "fine_ramp": (x * 977 + rng.integers(0, 4, n)).astype(np.int64),
        "conv_ts": (
            np.cumsum(rng.integers(0, 3_000_000, n))
            + np.repeat(rng.integers(0, 2**41, n // 1000 + 1), 1000)[:n]
        ).astype(np.int64),
        "sensor": np.cumsum(rng.poisson(2_000_000, n)).astype(np.int64),
        "uniform": rng.integers(0, 1 << 40, n).astype(np.int64),
        "runs": np.repeat(rng.integers(0, 1000, n // 50 + 1), 50)[:n].astype(np.int64),
        "few_distinct": rng.choice(rng.integers(0, 1 << 50, 7), n).astype(np.int64),
        "sorted": np.sort(rng.integers(0, 1 << 30, n)).astype(np.int64),
        "heavy_tail": rng.lognormal(3, 3, n).astype(np.int64),
        "quadratic": (3.0 * x * x + rng.integers(0, 64, n)).astype(np.int64),
        "cubic": (0.002 * (x - n / 2) ** 3 + 5 * x + rng.integers(0, 32, n)).astype(np.int64),
        "spikes": np.where(
            rng.random(n) < 0.01,
            rng.integers(0, 1 << 40, n),
            (x * 7 + rng.integers(0, 16, n)).astype(np.int64),
        ),
        "neg_walk": np.cumsum(rng.integers(-1000, 1000, n)).astype(np.int64),
        # band noise skewed low then high: the minimax line (lp) beats LS
        "banded": (
            x * 37.0
            + np.where(x < n / 2, rng.beta(0.5, 5, n), rng.beta(5, 0.5, n)) * 4096
        ).astype(np.int64),
    }
    pw, lvl = np.empty(n), 0.0
    bounds = np.sort(rng.choice(np.arange(64, n - 64), 6, replace=False))
    for seg in np.split(np.arange(n), bounds):
        pw[seg] = lvl + rng.uniform(-500, 500) * np.arange(seg.size) + rng.integers(-50, 51, seg.size)
        lvl = pw[seg][-1]
    out["piecewise"] = pw.astype(np.int64)
    return out


def _as(v: np.ndarray, logical: str) -> np.ndarray:
    return v if logical == "int64" else (v % (1 << 31)).astype(np.int32)


def _corpus_digest(logical: str, memo: bool) -> str:
    """sha256 over codec names and framed payloads of the corpus, plus the
    final memos and ``VAR_RACE_STATS``. Without a memo: every shape at
    300, 4096 and 10000 values, and at 4096 under learned and forced
    selection and with nulls. With one: 24 4096-value chunks per shape
    through one memo each, so legs get benched and re-raced after
    RACE_PATIENCE + RACE_RECHECK chunks."""
    VAR_RACE_STATS.update(raced=0, skipped=0)
    h = hashlib.sha256()

    def put(name, payload):
        h.update(name.encode() + b"\0" + payload)

    if not memo:
        for n in (300, 4096, 10000):
            for v in _shapes(n, n).values():
                put(*encode_int_values(_as(v, logical), None, logical))
        mask = np.zeros(4096 + 512, bool)
        mask[::9] = True
        for v in _shapes(4096, 1).values():
            v = _as(v, logical)
            for sel in ("learned", "force:leco_var"):
                put(*encode_int_values(v, None, logical, sel))
            put(*encode_int_values(v[: (~mask).sum()], mask, logical))
    else:
        memos: dict[str, dict] = {}
        for i in range(24):
            for shape, v in _shapes(4096, 100 + i).items():
                m = memos.setdefault(shape, {})
                put(*encode_int_values(_as(v, logical), None, logical, memo=m))
        h.update(repr(sorted((k, sorted(m.items())) for k, m in memos.items())).encode())
    h.update(repr(sorted(VAR_RACE_STATS.items())).encode())
    return h.hexdigest()[:16]


# (logical, memo, regressor) → digest, computed with the hand-written race
# blocks at the commit before RACE_LEGS
GOLDEN = {
    ("int64", False, False): "ec27e391f51202dc",
    ("int64", True, False): "655887ef0a2f9063",
    ("int32", False, False): "f5ea8dc13badc2da",
    ("int32", True, False): "b2fafe36bf40a5a9",
    ("int64", False, True): "e59b1ad0037cd896",
    ("int64", True, True): "ddee135672c2b5b4",
    ("int32", False, True): "915e967bc0c9717a",
    ("int32", True, True): "db6645f66b3c7d58",
}


@pytest.mark.parametrize("memo", [False, True], ids=["no_memo", "memo"])
@pytest.mark.parametrize("logical", ["int64", "int32"])
def test_golden_payload_digest(logical, memo):
    assert _corpus_digest(logical, memo) == GOLDEN[(logical, memo, False)]


@pytest.mark.parametrize("memo", [False, True], ids=["no_memo", "memo"])
@pytest.mark.parametrize("logical", ["int64", "int32"])
def test_golden_payload_digest_pruned(installed_model, logical, memo):
    assert _corpus_digest(logical, memo) == GOLDEN[(logical, memo, True)]


def test_failed_cheap_gate_leaves_memo_untouched():
    """The memo is asked last: a chunk that fails a leg's cheap gates does
    not advance that leg's recheck counter, and a chunk that passes them
    does."""
    benched = (RACE_PATIENCE, 3)
    memo = {leg.key: benched for leg in RACE_LEGS}
    # 300 values: under the 4096-value floor of var and var_la only
    ramp = _shapes(300, 7)["noisy_ramp"]
    encode_int_values(ramp, None, "int64", memo=memo)
    assert memo["var"] == memo["var_la"] == benched, memo
    assert memo["poly2"] == memo["baseline"] == (RACE_PATIENCE, 4), memo
    # an rle winner is raced by no model leg, only by the baseline leg
    memo = {leg.key: benched for leg in RACE_LEGS}
    name, _ = encode_int_values(_shapes(4096, 7)["runs"], None, "int64", memo=memo)
    assert name == "rle"
    assert memo.pop("baseline") == (RACE_PATIENCE, 4)
    assert all(m == benched for m in memo.values()), memo
