"""Engine-free drift probe: a fixed single-thread chunk encode, no Spark.

``_probe_work(seed)`` encodes 65,536 transcript turns (four columns) once
to warm the process, then once timed, and returns the timed seconds. A
bench divides a query wall by the probe's ratio between two runs to
compare them across a shared box's drift; ``bench.py`` and perfbench's
traced runs call it. The two-parallelism scaling runs this file once held
are kept as history in ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _probe_work(seed):
    import pandas as pd

    from learn_to_compress_spark.jobs.encode import _encode_one
    from learn_to_compress_spark.sources.session import tune_malloc
    from learn_to_compress_spark.sources.transcripts import conv_turns

    tune_malloc()
    pdf = pd.concat(
        [conv_turns(i) for i in range(seed * 50, seed * 50 + 900)],
        ignore_index=True,
    ).iloc[:65536]
    cols = [
        ("turn_idx", "int32"),
        ("text", "string"),
        ("ts", "timestamp_us"),
        ("role", "string"),
    ]
    # warm pass: fault in this process's buffer pools (long-lived Spark
    # workers pay this once; a fresh mp.Pool process must not bill it to
    # the timed kernel)
    for name, logical in cols:
        _encode_one(pdf[name], logical)
    t0 = time.monotonic()
    for name, logical in cols:
        _encode_one(pdf[name], logical)
    return time.monotonic() - t0
