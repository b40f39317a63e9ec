"""``encode_table`` collects ONE bounded driver sample per call.

The chunk-size tuner, the linked-column probe and the race seed each read
the first rows they need from that one sample. On a single-file input the
first rows of a longer ``limit`` are the rows a shorter one returns, so
every consumer must come out exactly as it did with its own collect. The
call's metrics split its wall into driver prep, the job and the commit.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pandas as pd
import pytest

from learn_to_compress_spark import learned
from learn_to_compress_spark.jobs import encode as E
from learn_to_compress_spark.jobs import encode_table

KEYS = ("conv_id", "turn_idx")
ROWS = 6000


@pytest.fixture(scope="module")
def single_file(spark, tmp_path_factory):
    """Transcript-shaped rows in one parquet file (one input split): an
    ``event_id`` that tracks ``ts`` for the linked probe, noisy ints for the
    race seed, and a text column."""
    rng = np.random.default_rng(11)
    conv = np.repeat(np.arange(ROWS // 50, dtype=np.int64), 50)
    turn = np.tile(np.arange(50, dtype=np.int32), ROWS // 50)
    ts_us = 1_700_000_000_000_000 + np.cumsum(rng.integers(1, 5_000_000, ROWS))
    pdf = pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": turn,
            "ts": pd.to_datetime(ts_us, unit="us"),
            "event_id": ts_us // 1000 + rng.integers(0, 64, ROWS),
            "tokens": rng.integers(0, 1 << 30, ROWS),
            "text": [f"turn {t} of conversation {c}" for c, t in zip(conv, turn)],
        }
    )
    path = str(tmp_path_factory.mktemp("single") / "rows.parquet")
    pdf.to_parquet(path, index=False, coerce_timestamps="us")
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


@pytest.fixture
def collects(single_file, monkeypatch):
    """Names of the ``toPandas``/``toArrow`` calls made on DataFrames."""
    calls: list[str] = []
    cls = type(single_file)
    for meth in ("toPandas", "toArrow"):
        orig = getattr(cls, meth)

        def spy(self, *a, _orig=orig, _meth=meth, **kw):
            calls.append(_meth)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, meth, spy)
    return calls


def _own_collect(df, n_rows: int) -> pd.DataFrame:
    cols = list(dict.fromkeys([*KEYS, *(n for n, _ in E._int_cols(E.colspecs_of(df)))]))
    return df.select(*cols).limit(n_rows).toPandas()


@pytest.mark.parametrize("chunk_rows", [2048, "auto"])
def test_fresh_encode_collects_once(single_file, collects, tmp_path, monkeypatch, chunk_rows):
    df = single_file
    seeds = []
    orig_seed = E._sample_race_seed
    monkeypatch.setattr(
        E, "_sample_race_seed", lambda *a: seeds.append(orig_seed(*a)) or seeds[-1]
    )
    store = str(tmp_path / "store")
    t0 = time.monotonic()
    m = encode_table(df, store, key_cols=KEYS, chunk_rows=chunk_rows, num_parts=2)
    wall = time.monotonic() - t0
    assert collects == ["toPandas"]

    # the encode's three phases fit inside the call
    assert m["prep_s"] >= 0 and m["commit_s"] >= 0
    assert m["prep_s"] + m["wall_ms"] / 1000 + m["commit_s"] <= wall

    # each consumer sees what its own bounded collect would have given it
    colspecs = E.colspecs_of(df)
    with open(f"{store}/_schema.json") as fh:
        persisted = json.load(fh).get("linked_cols")
    assert persisted == {"event_id": "ts"}
    assert persisted == E._propose_linked_cols(
        _own_collect(df, E.PROBE_ROWS), KEYS, colspecs
    )
    tuned = m["chunk_rows"]
    with learned.var_regressor_installed(learned.var_regressor_params()):
        want = orig_seed(
            _own_collect(df, E._seed_rows(tuned)), KEYS, colspecs, tuned
        )
    assert seeds == [want] and want
    if chunk_rows == "auto":
        own = E.tune_chunk_rows(df, KEYS)
        assert (tuned, m["tune_sizes"]) == own


def test_resumed_encode_collects_only_for_the_seed(single_file, collects, tmp_path):
    """A re-encode into an existing store neither probes nor tunes: its one
    collect is the race seed's."""
    store = str(tmp_path / "store")
    encode_table(single_file, store, key_cols=KEYS, chunk_rows="auto", num_parts=2)
    collects.clear()
    m = encode_table(
        single_file, store, key_cols=KEYS, chunk_rows="auto", resume=False
    )
    assert collects == ["toPandas"]
    assert "tune_sizes" not in m
