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


@pytest.fixture
def seed_calls(monkeypatch):
    """``(chunk_rows, seed)`` of each ``_sample_race_seed`` call."""
    calls: list[tuple[int, dict]] = []
    orig = E._sample_race_seed
    monkeypatch.setattr(
        E, "_sample_race_seed", lambda *a: calls.append((a[3], orig(*a))) or calls[-1][1]
    )
    return calls


def _own_collect(df, n_rows: int) -> pd.DataFrame:
    cols = list(dict.fromkeys([*KEYS, *(n for n, _ in E._int_cols(E.colspecs_of(df)))]))
    return df.select(*cols).limit(n_rows).toPandas()


@pytest.mark.parametrize("chunk_rows", [2048, "auto"])
def test_fresh_encode_collects_once(single_file, collects, seed_calls, tmp_path, chunk_rows):
    df = single_file
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
    # the sample (6000 rows) is the whole input: the seed races the
    # executors' chunks, min(chunk_rows, ceil(6000 / num_parts))
    ((chunk, seed),) = seed_calls
    assert chunk == min(m["chunk_rows"], ROWS // 2)
    assert seed and seed == E._sample_race_seed(
        _own_collect(df, E._seed_rows(chunk)), KEYS, colspecs, chunk
    )
    if chunk_rows == "auto":
        own = E.tune_chunk_rows(df, KEYS)
        assert (m["chunk_rows"], m["tune_sizes"]) == own


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


def test_whole_input_sample_seeds_at_the_executors_chunk(single_file, seed_calls, tmp_path):
    """An input shorter than the driver sample spreads over ``num_parts``
    parts of ~1500 rows, so every executor chunk holds ~1500 values: the
    seed races 1500-row chunks and never the 4096-value var legs."""
    encode_table(single_file, str(tmp_path / "store"), key_cols=KEYS, num_parts=4)
    ((chunk, seed),) = seed_calls
    assert chunk == ROWS // 4 == 1500
    assert seed and not any({"var", "var_la"} & set(legs) for legs in seed.values()), seed
