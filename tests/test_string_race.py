"""The string codec race is exact without full FSST encodes.

``select._pick_string_codec`` races FSST last, under a byte cap derived from
the other candidates' sizes and their list order, and lets the FSST encoder
give up once it provably cannot win. These tests hold that shortcut to the
definition it replaces — encode every candidate in full, first minimum in
candidate-list order wins — and check the cap contract of
``FsstStringCodec.encode`` / ``fsst.compress_rows`` and how many encodes a
chunk costs.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from learn_to_compress_spark.codecs import fsst
from learn_to_compress_spark.codecs.strings import (
    STRING_CODEC_CLASSES,
    DictStringCodec,
    FsstStringCodec,
    LecoStringCodec,
    StrRawCodec,
    WordDictCodec,
)
from learn_to_compress_spark.codecs.strings_outlier import LecoStringOutlierCodec
from learn_to_compress_spark.codecs.strings_wide import LecoStringWideCodec
from learn_to_compress_spark.select import (
    RACE_RECHECK,
    STR_SAMPLE_ROWS,
    STRING_CODEC_IDS,
    _sample_slices,
    encode_string_column_arrow,
)

FULL_RACE_ROWS = 2048
WORDS = "the model called a tool to read file and then wrote an answer about it".split()


def _rows(kind: str, n: int, seed: int) -> list[str]:
    """``n`` values shaped so that ``kind`` names the codec expected to win."""
    rng = np.random.default_rng(seed)
    if kind == "lowcard":  # str_dict
        pool = ["user", "assistant", "tool", "system"][: rng.integers(1, 5)]
        return [pool[i] for i in rng.integers(0, len(pool), n)]
    if kind == "ids":  # leco_str (uint64 rung)
        start, step = int(rng.integers(0, 10**6)), int(rng.integers(1, 9))
        return [f"conv-{start + i * step:09d}" for i in range(n)]
    if kind == "wide_ids":  # leco_str_wide
        return sorted(
            f"item:{i:08d}:{hashlib.md5(str(i + seed).encode()).hexdigest()[:24]}"
            for i in range(n)
        )
    if kind == "outlier_ids":  # leco_str_outlier: a few overlong rows
        rows = [f"conv-{i:09d}" for i in range(n)]
        for p in rng.choice(n, size=max(1, n // 100), replace=False):
            rows[p] += "-" + "x" * int(rng.integers(40, 80))
        return rows
    if kind == "random":  # str_raw (random hex would not do: FSST codes hex pairs)
        printable = [chr(c) for c in range(33, 127)]
        return ["".join(rng.choice(printable, int(rng.integers(1, 40)))) for _ in range(n)]
    if kind == "words":  # word_dict
        return [
            " ".join(rng.choice(WORDS, int(rng.integers(5, 30)))) for _ in range(n)
        ]
    if kind == "urls":  # fsst
        hosts = [f"https://www.{h}.example.com/api/v" for h in ("alpha", "beta", "gamma")]
        return [
            hosts[rng.integers(0, 3)]
            + f"{rng.integers(1, 4)}/"
            + "".join(rng.choice(list("abcdefghij/_-"), int(rng.integers(3, 30))))
            + f"?id={rng.integers(0, 10**6)}"
            for _ in range(n)
        ]
    raise ValueError(kind)


def _column(rows: list[str], null_frac: float, seed: int) -> pa.Array:
    rng = np.random.default_rng(seed + 1)
    vals = [None if rng.random() < null_frac else r for r in rows]
    return pa.array(vals, type=pa.large_string())


def _rung(nonnull: pa.Array) -> list:
    """The LeCo-string rung that joins the race, if any: the first eligible
    one of uint64, wide, outlier."""
    for rung in (LecoStringCodec, LecoStringWideCodec, LecoStringOutlierCodec):
        if rung.eligible(nonnull):
            return [rung]
    return []


def _brute_force(arr: pa.Array, fsst: bool = True) -> tuple[str, bytes]:
    """Reference race: every candidate encoded in full (on the chunk, or on
    the sample past ``FULL_RACE_ROWS``), first minimum in list order wins,
    then the framing around the winner's full-chunk encode. ``fsst=False``
    leaves FSST out of the race."""
    nonnull = arr.drop_null().cast(pa.large_binary())
    n = len(nonnull)
    if n == 0:
        name, inner = "str_raw", b""
    else:
        cands = [DictStringCodec, WordDictCodec, FsstStringCodec, StrRawCodec]
        cands = [c for c in cands if fsst or c is not FsstStringCodec]
        cands += _rung(nonnull)
        race, scale = nonnull, 1.0
        if n > FULL_RACE_ROWS:
            race = nonnull.take(pa.array(_sample_slices(n, STR_SAMPLE_ROWS)))
            scale = n / len(race)
        sizes = {}
        for c in cands:
            try:
                sizes[c.name] = len(c().encode(race)) * scale
            except ValueError:
                if n <= FULL_RACE_ROWS:
                    raise
        name = min(sizes, key=sizes.get)
        inner = STRING_CODEC_CLASSES[name]().encode(nonnull)
    head = [bytes([1 if arr.null_count else 0])]
    if arr.null_count:
        valid = ~arr.is_null().to_numpy(zero_copy_only=False)
        head.append(np.packbits(valid, bitorder="little").tobytes())
    return name, b"".join(head) + bytes([STRING_CODEC_IDS[name]]) + inner


def _fsst_sized(self, strs, cap=None):
    """Stand-in ``encode``: a payload exactly as long as FSST's."""
    return b"\0" * len(FsstStringCodec().encode(strs))


KINDS = ["lowcard", "ids", "wide_ids", "outlier_ids", "random", "words", "urls"]
SIZES = st.one_of(
    st.integers(1, 300),
    st.sampled_from([FULL_RACE_ROWS, FULL_RACE_ROWS + 1]),
    st.integers(FULL_RACE_ROWS + 1, 2600),
)


@settings(max_examples=40, deadline=None)
@given(
    kind=st.sampled_from(KINDS),
    n=SIZES,
    null_frac=st.sampled_from([0.0, 0.0, 0.1, 0.9]),
    tie=st.sampled_from([None, None, "str_dict", "word_dict", "str_raw"]),
    seed=st.integers(0, 2**16),
)
def test_race_matches_brute_force(kind, n, null_frac, tie, seed):
    """Same codec and same bytes as the full-encode race, including FSST
    ties with a candidate listed before it (FSST loses) and after it (FSST
    wins)."""
    if tie:
        kind = "urls"  # FSST is the smallest real candidate here
    arr = _column(_rows(kind, n, seed), null_frac, seed)
    with pytest.MonkeyPatch.context() as mp:
        if tie:
            mp.setattr(STRING_CODEC_CLASSES[tie], "encode", _fsst_sized)
        assert encode_string_column_arrow(arr) == _brute_force(arr)


WINNERS = [
    ("lowcard", None, "str_dict"),
    ("ids", None, "leco_str"),
    ("wide_ids", None, "leco_str_wide"),
    ("outlier_ids", None, "leco_str_outlier"),
    ("random", None, "str_raw"),
    ("words", None, "word_dict"),
    ("urls", None, "fsst"),
    ("urls", "str_dict", "str_dict"),
    ("urls", "word_dict", "word_dict"),
    ("urls", "str_raw", "fsst"),
]


# on the 3000-row sample race the outlier rung loses to FSST: its four
# sample slices break the linear ID model
@pytest.mark.parametrize(
    "n,kind,tie,want",
    [(1000, *w) for w in WINNERS]
    + [(3000, *w) for w in WINNERS if w[0] not in ("outlier_ids",)],
)
def test_race_generators_reach_each_winner(n, kind, tie, want, monkeypatch):
    """The shapes fed to the property test really make each candidate win,
    and an FSST tie goes to whichever tied codec is listed first."""
    if tie:
        monkeypatch.setattr(STRING_CODEC_CLASSES[tie], "encode", _fsst_sized)
    arr = _column(_rows(kind, n, seed=5), 0.0, seed=5)
    name, payload = encode_string_column_arrow(arr)
    assert name == want
    assert (name, payload) == _brute_force(arr)


# ---------------------------------------------------------------------------
# FSST cap contract
# ---------------------------------------------------------------------------


def _cap_cases() -> dict[str, list[bytes]]:
    rng = np.random.default_rng(3)
    text = " ".join(rng.choice(WORDS, 6000)).encode()
    return {
        # many live rows: the vectorized walk
        "urls": [r.encode() for r in _rows("urls", 1500, seed=3)],
        # one row: below _STRAGGLERS live rows from the start, the finisher
        "one_long_row": [text],
        # escapes (bytes no symbol covers, 0xff among them) and empty rows
        "ff_and_empty": [
            b""
            if i % 7 == 0
            else rng.integers(0, 256, int(rng.integers(1, 40)), np.uint8).tobytes()
            + b"\xff\xff"
            for i in range(600)
        ],
    }


def _caps(true_size: int) -> list[int]:
    edges = {0, 1, 2, true_size - 1, true_size, true_size + 1, 2 * true_size}
    return sorted(edges | set(np.linspace(1, true_size + 1, 25).astype(int).tolist()))


@pytest.mark.parametrize("case", ["urls", "one_long_row", "ff_and_empty"])
def test_compress_rows_cap_is_sound(case, monkeypatch):
    rows = _cap_cases()[case]
    blob = b"".join(rows)
    ends = np.cumsum([len(r) for r in rows]).astype(np.int64)
    symbols = fsst.train(blob)
    comp, comp_ends = fsst.compress_rows(blob, ends, symbols)
    assert fsst.compress_rows(blob, ends, symbols, len(comp)) is None
    finished = []
    real_finish = fsst._finish_row
    monkeypatch.setattr(
        fsst, "_finish_row", lambda *a: finished.append(1) or real_finish(*a)
    )
    for cap in _caps(len(comp)):
        finished.clear()
        res = fsst.compress_rows(blob, ends, symbols, cap)
        if res is None:
            assert len(comp) >= cap
            if case == "urls" and 0 < cap < len(rows):
                # the first token of every row already spends the budget
                assert not finished
            if case == "one_long_row" and cap > 0:
                assert finished  # the finisher gave up
        else:
            assert cap > len(comp)
            assert res[0] == comp
            np.testing.assert_array_equal(res[1], comp_ends)


@pytest.mark.parametrize("case", ["urls", "one_long_row", "ff_and_empty"])
def test_fsst_encode_cap_is_sound(case, monkeypatch):
    arr = pa.array(_cap_cases()[case], type=pa.large_binary())
    full = FsstStringCodec().encode(arr)
    trained = []
    real_train = fsst.train
    monkeypatch.setattr(fsst, "train", lambda b: trained.append(1) or real_train(b))
    for cap in _caps(len(full)):
        trained.clear()
        res = FsstStringCodec().encode(arr, cap=cap)
        assert (res is None) == (len(full) >= cap)
        if res is not None:
            assert res == full
        if cap <= 10:  # under the untrained lower bound: no training at all
            assert res is None and not trained
    assert FsstStringCodec().encode(arr, cap=len(full) + 1) == full


# ---------------------------------------------------------------------------
# encode counts
# ---------------------------------------------------------------------------


@pytest.fixture
def encode_calls(monkeypatch):
    """Top-level ``encode`` calls per string codec as ``(name, rows)``;
    encodes a codec makes inside another codec's encode are not counted."""
    calls, depth = [], [0]
    for cls in set(STRING_CODEC_CLASSES.values()):

        def encode(self, strs, *a, _orig=cls.encode, **kw):
            depth[0] += 1
            try:
                if depth[0] == 1:
                    calls.append((self.name, len(strs)))
                return _orig(self, strs, *a, **kw)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(cls, "encode", encode)
    return calls


@pytest.mark.parametrize("kind", ["ids", "urls", "lowcard"])
def test_full_race_encodes_each_candidate_once(kind, encode_calls):
    n = 1500
    arr = _column(_rows(kind, n, seed=9), 0.0, 9)
    name, _ = encode_string_column_arrow(arr)
    raced = ["str_dict", "word_dict", "fsst", "str_raw"]
    raced += [r.name for r in _rung(arr.cast(pa.large_binary()))]
    assert sorted(encode_calls) == sorted((c, n) for c in raced)
    assert name in raced


@pytest.mark.parametrize("kind", ["ids", "urls", "words"])
def test_sample_race_then_one_full_encode(kind, encode_calls):
    n = 3000
    name, _ = encode_string_column_arrow(_column(_rows(kind, n, seed=9), 0.0, 9))
    m = len(_sample_slices(n, STR_SAMPLE_ROWS))
    *race, last = encode_calls
    assert all(rows == m for _, rows in race)
    counts = collections.Counter(c for c, _ in race)
    assert set(counts.values()) == {1}
    assert {"str_dict", "word_dict", "fsst", "str_raw"} <= set(counts)
    assert last == (name, n)


# ---------------------------------------------------------------------------
# race memo: FSST is benched after one loss
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _fsst_calls():
    """Number of ``FsstStringCodec.encode`` calls so far, as a one-item list."""
    calls = [0]
    orig = FsstStringCodec.encode

    def encode(self, strs, *a, **kw):
        calls[0] += 1
        return orig(self, strs, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(FsstStringCodec, "encode", encode)
        yield calls


def _chunks(kind: str, count: int, n: int = 200) -> list[pa.Array]:
    return [_column(_rows(kind, n, seed), 0.1, seed) for seed in range(count)]


def test_memo_benches_fsst_after_a_loss():
    """On a column where FSST always loses it races on the first chunk and
    then once every RACE_RECHECK chunks, with the exhaustive race's bytes."""
    chunks = _chunks("words", 40)
    with _fsst_calls() as calls:
        exhaustive = [encode_string_column_arrow(c) for c in chunks]
        assert calls[0] == 40 and {n for n, _ in exhaustive} == {"word_dict"}
        calls[0] = 0
        memo: dict = {}
        assert [encode_string_column_arrow(c, memo=memo) for c in chunks] == exhaustive
        assert 1 < calls[0] <= 1 + 40 // RACE_RECHECK + 1


def test_memo_keeps_racing_a_winning_fsst():
    chunks = _chunks("urls", 20)
    memo: dict = {}
    with _fsst_calls() as calls:
        memoized = [encode_string_column_arrow(c, memo=memo) for c in chunks]
        assert calls[0] == 20
    assert memoized == [encode_string_column_arrow(c) for c in chunks]
    assert {n for n, _ in memoized} == {"fsst"}


CHUNK = st.tuples(
    st.sampled_from(["urls", "urls", "words", "words", "lowcard", "ids", "random"]),
    st.one_of(st.integers(1, 200), st.integers(FULL_RACE_ROWS + 1, 2300)),
    st.integers(0, 2**16),
)


@settings(max_examples=15, deadline=None)
@given(seq=st.lists(CHUNK, min_size=1, max_size=RACE_RECHECK + 4))
def test_memo_race_matches_brute_force(seq):
    """Over a sequence of mixed chunks sharing one memo, each winner is the
    exhaustive race's when FSST raced on the chunk, else the first smallest
    of the other candidates."""
    memo: dict = {}
    with _fsst_calls() as calls:
        for kind, n, seed in seq:
            arr = _column(_rows(kind, n, seed), 0.1, seed)
            before = calls[0]
            got = encode_string_column_arrow(arr, memo=memo)
            raced = calls[0] > before
            assert got == _brute_force(arr, fsst=raced)
