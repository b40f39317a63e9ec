"""The two workloads and the per-layer numbers derived from a traced run.

Every workload is a closed loop: one client in one process issues its next
call only after the previous one returned. Each call is an *operation* that
is timed by the harness clock and checked against an answer computed by
plain Spark over the raw input; a wrong answer or an exception counts as a
failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

from inputs import checksum, store_chunks, store_digest, transcript_rows
from queries import Query, attach_expected, transcript_queries, zone_survivors

#: transcript turns per workload input; sized so set-up plus one run stays
#: well inside the per-run budget on a 4-CPU box
ROWS = 24_000
KEYS = ("conv_id", "turn_idx")
#: baseline passes between two measured iterations: a pass is ~0.8 s and
#: spreads ~10% within a run, so a run's mean takes eight or more of them
BASELINE_PASSES = 2

_UNCHECKED = object()


class Run:
    """One benchmark run: the session, the tracer and everything measured."""

    def __init__(self, spark, cpus: int, seed: int, seconds: float, tracer, work: str,
                 t_start: float):
        self.spark = spark
        self.cpus = cpus
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.ops: list[dict] = []
        self.baseline = None  # the plain-Spark pass (see ``_baseline``)
        self.baseline_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.digests: list[str] = []
        self.ratios: list[float] = []
        self.layer: dict[str, float] = {}
        self.detail: dict[str, float] = {}
        self.rows_per_call = 0  # rows one encode call of the workload takes
        self.t_start = t_start  # process start: set-up includes session start
        self.setup_s = 0.0
        self._seen: dict[str, int] = defaultdict(int)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def mark_setup_done(self) -> None:
        with self.tracer.span("check.baseline"):
            self.baseline()  # its first pass runs cold: not a sample
        self.setup_s = time.perf_counter() - self.t_start

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def op(self, kind, span, fn, rows, expected=_UNCHECKED, primary=False, attrs=None,
           query=None):
        """Run one checked operation. In a traced run, the workload's own
        (``primary``) operations of each kind alternate between untraced and
        traced (wrappers installed, spans recorded), starting untraced; the
        tracing-overhead figure compares the two, leaving out each kind's
        first (coldest) operation. Every other operation is traced."""
        seq = self._seen[kind]
        traced = self.tracer.enabled and (seq % 2 == 1 or not primary)
        self._seen[kind] += 1
        self.attempted += 1
        self.tracer.op = self.attempted
        out, ok = None, True
        t0 = time.perf_counter()
        rec = None
        try:
            with self.tracer.active(traced), self.tracer.span(span, **(attrs or {})) as rec:
                out = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        dt = time.perf_counter() - t0
        if ok and expected is not _UNCHECKED:
            ok = expected(out) if callable(expected) else out == expected
            if not ok:
                print(f"[perfbench] wrong answer from {kind}: {out!r:.300}", file=sys.stderr)
        self.failed += not ok
        self.ops.append(
            {"kind": kind, "seq": seq, "s": dt, "rows": rows, "traced": traced, "ok": ok,
             "primary": primary, "out": out, "query": query, "span": rec}
        )
        return out if ok else None

    def encode(self, kind, df, store, rows, key_cols, primary=False, **kw):
        """A checked ``encode_table`` call; traced calls also count the
        parquet files it adds to the store."""
        from learn_to_compress_spark.jobs import encode_table

        before = _parquet_files(store)
        m = self.op(
            kind, "encode",
            lambda: self.tracer.call(encode_table, df, store, key_cols=key_cols, **kw),
            rows, expected=lambda m: m["rows"] is not None, primary=primary,
            attrs={"rows": rows},
        )
        rec = self.ops[-1]["span"]
        if rec is not None:
            rec["files_written"] = _parquet_files(store) - before
        return m

    def digest(self, store) -> None:
        with self.tracer.span("check.digest"):
            tbl, names = store_chunks(self.spark, store)
            self.digests.append(store_digest(tbl, names))

    def loop_open(self, t0: float, i: int, min_iters: int) -> bool:
        """Whether the measured loop goes on; passes of the baseline bracket
        every measured iteration."""
        for _ in range(BASELINE_PASSES):
            with self.tracer.span("check.baseline"):
                t = time.perf_counter()
                self.baseline()
                self.baseline_s.append(time.perf_counter() - t)
        return i < min_iters or time.perf_counter() - t0 < self.seconds


def _parquet_files(store: str) -> int:
    n = 0
    for _dir, _sub, files in os.walk(store):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def _materialize(run: Run, pdf, schema, name):
    """Write the input as one parquet file (pyarrow; timestamps as UTC
    instants) and read it back under the Spark schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_of = {"integer": pa.int32(), "long": pa.int64(), "double": pa.float64(),
                "string": pa.string(), "timestamp": pa.timestamp("us", tz="UTC")}
    path = run.path(name)
    os.makedirs(path)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.cast(pa.schema([(f.name, arrow_of[f.dataType.typeName()]) for f in schema.fields]))
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
    return run.spark.read.schema(schema).parquet(path)


def _fit_and_warm(run: Run, raw, key_cols, store=None) -> dict:
    """Cold fit of the race-pruning regressor, then an untimed encode and
    decode of ``raw`` (an operation's worth of rows) that start every Python
    worker and fault in its buffers. With ``store`` the warm store is kept
    as the workload's store, and the caller warms the readers."""
    from learn_to_compress_spark.jobs import decode_table, encode_table
    from learn_to_compress_spark.learned import var_regressor_params

    with run.tracer.span("learned.fit"):
        var_regressor_params()
    if store is not None:  # the workload's one encode: traced like an operation
        with run.tracer.active(True), run.tracer.span("encode", rows=run.rows_per_call) as rec:
            m = run.tracer.call(encode_table, raw, store, key_cols=key_cols, resume=False)
        if rec is not None:
            rec["files_written"] = _parquet_files(store)
        return m
    warm = run.path("warm")
    with run.tracer.span("encode.warm"):
        m = encode_table(raw, warm, key_cols=key_cols, resume=False)
    with run.tracer.span("decode.warm"):
        decode_table(run.spark, warm).count()
    shutil.rmtree(warm, ignore_errors=True)
    return m


def _gen_table(run: Run):
    from learn_to_compress_spark.sources.transcripts import SCHEMA

    with run.tracer.span("sources.gen"):
        pdf = transcript_rows(run.seed, ROWS)
        raw = _materialize(run, pdf, SCHEMA, "raw")
    run.baseline = _baseline(run, raw)
    return pdf, raw


def _baseline(run: Run, raw):
    """The plain-Spark pass of the raw input that a workload's operations
    are measured against, in the same session: shuffle by key, sort, every
    Arrow batch through a Python worker and back unchanged, parquet write.
    It calls no engine code. On a shared host whole runs ran up to 1.5x
    slower than others, every operation of a run alike; this pass slowed
    with them, while a pure-CPU probe in the harness process did not."""
    out = run.path("baseline")

    def passthrough(batches):
        yield from batches

    df = (raw.repartition(run.cpus, *KEYS).sortWithinPartitions(*KEYS)
          .mapInArrow(passthrough, raw.schema))
    return lambda: df.write.mode("overwrite").parquet(out)


def ingest(run: Run) -> None:
    """Fresh-store salted ``encode_table`` of the whole table, then a
    decode whose checksum must equal the raw input's."""
    from learn_to_compress_spark.jobs import decode_table

    n = ROWS
    pdf, raw = _gen_table(run)
    cols = list(pdf.columns)
    run.rows_per_call = n
    _fit_and_warm(run, raw, KEYS)
    with run.tracer.span("check.expected"):
        raw_ck = checksum(raw, cols)
    run.mark_setup_done()

    t0, i, prev = time.perf_counter(), 0, None
    while run.loop_open(t0, i, 3):
        store = run.path(f"store{i}")
        m = run.encode("encode", raw, store, n, KEYS, primary=True, resume=False)
        if m is not None:
            run.ratios.append(m["ratio"])
            run.op("decode", "decode", lambda: checksum(decode_table(run.spark, store), cols),
                   n, expected=raw_ck)
            run.digest(store)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        prev, i = store, i + 1
    if run.tracer.enabled:
        queries = transcript_queries(pdf, run.rng(1))
        with run.tracer.span("check.expected"):
            attach_expected(raw, queries)
        _round_op(run, queries, prev, n)
        layer_probe(run, prev, raw_ck)
        _compact_probe(run, prev, raw, raw_ck)


def _round_op(run: Run, queries: list[Query], store: str, n: int, primary=False):
    """One round of queries as ONE operation, timed as a whole so that
    every operator in it moves the operation's wall. Each answer is checked;
    each call's own time is kept with the operation as ``q_s``."""
    times: list[float] = []

    def go():
        outs = []
        for q in queries:
            t = time.perf_counter()
            with run.tracer.span("decode" if q.kind == "decode" else f"pushdown.{q.kind}"):
                outs.append(q.run(run.spark, store))
            times.append(time.perf_counter() - t)
        return outs

    def check(outs):
        wrong = [q.kind for q, o in zip(queries, outs) if o != q.expected]
        if wrong:
            print(f"[perfbench] wrong answer from {', '.join(wrong)}", file=sys.stderr)
        return not wrong

    out = run.op("round", "pushdown.round", go, n, expected=check, primary=primary,
                 query=queries)
    run.ops[-1]["q_s"] = times
    return out


def scan(run: Run) -> None:
    """One store encoded in set-up, then rounds of the nine transcript read
    operators (seeded order and constants, the same in every round) until
    the time is up; the operation is a round."""
    n = ROWS
    pdf, raw = _gen_table(run)
    run.rows_per_call = n
    store = run.path("store")
    run.ratios.append(_fit_and_warm(run, raw, KEYS, store)["ratio"])
    queries = transcript_queries(pdf, run.rng(1))
    with run.tracer.span("check.expected"):
        attach_expected(raw, queries)
    # every operator's first call (the full decode's too) pays its own cold
    # start; one untimed round keeps that out of the measured rounds. When
    # the measured rounds cycled through new constants, the one that repeated
    # the warm round's was the run's fastest in 5 of 6 runs, so every round
    # repeats the seeded round.
    with run.tracer.span("pushdown.warm"):
        for q in queries:
            q.run(run.spark, store)
    run.mark_setup_done()

    # three rounds at least, so a traced run has a traced and an untraced
    # round after its first
    t0, r = time.perf_counter(), 0
    while run.loop_open(t0, r, 3):
        _round_op(run, queries, store, n, primary=True)
        r += 1
    run.digest(store)
    if run.tracer.enabled:
        with run.tracer.span("check.expected"):
            raw_ck = checksum(raw, list(pdf.columns))
        layer_probe(run, store, raw_ck)
        _compact_probe(run, store, raw, raw_ck)


WORKLOADS = {
    "ingest_transcripts": ingest,
    "scan_transcripts": scan,
}


# --------------------------------------------------------------------------
# traced run: per-layer numbers


def _kernel_replay(run: Run, store: str, meta) -> None:
    """Single-thread, engine-free replay of the job's per-chunk kernels over
    the store's own chunks: ``decode_column_arrow`` on each stored payload,
    then ``_encode_one_arrow`` on the decoded column with a race memo per
    (part, column). The linked-column race and the driver's race seed are
    not replayed."""
    from learn_to_compress_spark.chunkstore import load_store_schema
    from learn_to_compress_spark.jobs.decode import _pa_of_logical, decode_column_arrow
    from learn_to_compress_spark.jobs.encode import MAX_CHUNKS_PER_PART, _encode_one_arrow

    doc = load_store_schema(store)
    logical_of = {n: lg for n, lg in doc["colspecs"]}
    linked = doc.get("linked_cols") or {}
    pa_types = _pa_of_logical()
    n_rows = meta.column("n_rows").to_pylist()
    parts = [c // MAX_CHUNKS_PER_PART for c in meta.column("chunk_id").to_pylist()]
    payloads = {n: meta.column(f"{n}.payload").to_pylist() for n in logical_of}
    enc = {"string": 0.0, "numeric": 0.0}
    dec = dict(enc)
    for name, logical in logical_of.items():
        kind = "string" if logical == "string" else "numeric"
        with run.tracer.span(f"kernel.{name}.decode") as rec:
            cols = []
            for i, n in enumerate(n_rows):
                comp = None
                if name in linked:
                    comp = (payloads[linked[name]][i], logical_of[linked[name]])
                cols.append(
                    decode_column_arrow(payloads[name][i], n, logical, companion=comp)
                    .cast(pa_types[logical])
                )
        d_dec = rec["end"] - rec["start"]
        memos: dict[int, dict] = defaultdict(dict)
        with run.tracer.span(f"kernel.{name}.encode") as rec:
            for part, col in zip(parts, cols):
                _encode_one_arrow(col, logical, memo=memos[part])
        d_enc = rec["end"] - rec["start"]
        run.detail[f"kernel.{name}.decode_s"] = d_dec
        run.detail[f"kernel.{name}.encode_s"] = d_enc
        enc[kind] += d_enc
        dec[kind] += d_dec
    rows = sum(n_rows)
    run.layer["kernel.encode_s"] = enc["string"] + enc["numeric"]
    run.layer["kernel.decode_s"] = dec["string"] + dec["numeric"]
    run.layer["kernel.string.encode_s"] = enc["string"]
    run.layer["kernel.numeric.encode_s"] = enc["numeric"]
    run.layer["kernel.encode_rows_per_s_1t"] = rows / run.layer["kernel.encode_s"]
    # single-thread kernel time of ONE encode call of the workload
    run.layer["kernel_per_call_s"] = run.layer["kernel.encode_s"] * run.rows_per_call / rows


def layer_probe(run: Run, store, full_ck) -> None:
    """Everything a traced run reports beyond its operations' own spans,
    measured on the workload's final store."""
    from pyspark.sql import functions as F

    from learn_to_compress_spark.chunkstore import col_field, read_chunks
    from learn_to_compress_spark.jobs import decode_table

    sp = run.spark
    meta, names = store_chunks(sp, store, meta=True)
    _kernel_replay(run, store, meta)
    run.layer["store.chunks"] = float(meta.num_rows)
    run.layer["store.enc_bytes"] = 0.0
    for n in names:
        b = float(sum(meta.column(f"{n}.enc_bytes").to_pylist()))
        run.detail[f"store.{n}.enc_bytes"] = b
        run.layer["store.enc_bytes"] += b
        codecs = meta.column(f"{n}.codec").to_pylist()
        for codec in sorted(set(codecs)):
            run.detail[f"store.{n}.codec.{codec}"] = float(codecs.count(codec))

    # scan reads every payload leaf and decodes nothing; decode on top of
    # the same scan is the decode kernel's share
    leaves = [F.col(f"{col_field(n)}.payload").alias(f"p_{n}") for n in names]
    aggs = [F.sum(F.length(f"p_{n}")) for n in names]
    run.op("probe.scan", "chunkstore.scan",
           lambda: read_chunks(sp, store, leaves=leaves).agg(*aggs).collect(), 0)
    scan_s = run.ops[-1]["s"]
    run.op("probe.decode", "decode", lambda: checksum(decode_table(sp, store), names), 0,
           expected=full_ck)
    run.layer["chunkstore.scan_s"] = scan_s
    run.layer["decode.kernel_s"] = run.ops[-1]["s"] - scan_s

    # pushdown: every query call of the run; zone-map survivors for the
    # last call of each operator. Result rows and chunk totals are fixed by
    # the seed and the store layout, so they go to the details only.
    calls = [c for c in query_calls(run) if c["kind"] != "decode"]
    agg = defaultdict(list)
    for kind in sorted({c["kind"] for c in calls}):
        mine = [c for c in calls if c["kind"] == kind]
        run.detail[f"pushdown.{kind}_s"] = statistics.median(c["s"] for c in mine)
        run.detail[f"pushdown.{kind}.rows_out"] = float(
            statistics.median(_rows_out(c["out"]) for c in mine)
        )
        tot, kept = zone_survivors(mine[-1]["query"], meta)
        run.detail[f"pushdown.{kind}.chunks_total"] = float(tot)
        run.detail[f"pushdown.{kind}.chunks_kept"] = float(kept)
        for key in ("_s", ".rows_out", ".chunks_total", ".chunks_kept"):
            agg[key].append(run.detail[f"pushdown.{kind}{key}"])
    run.layer["pushdown.s"] = statistics.fmean(agg["_s"])
    run.layer["pushdown.chunks_kept"] = statistics.fmean(agg[".chunks_kept"])
    run.detail["pushdown.rows_out"] = statistics.fmean(agg[".rows_out"])
    run.detail["pushdown.chunks_total"] = statistics.fmean(agg[".chunks_total"])


def query_calls(run: Run) -> list[dict]:
    """Every query call of the run's checked query rounds, in order:
    ``{kind, s, out, query}``."""
    return [
        {"kind": q.kind, "s": s, "out": out, "query": q}
        for o in run.ops if o["kind"] == "round" and o["ok"]
        for q, s, out in zip(o["query"], o["q_s"], o["out"])
    ]


def _compact_probe(run: Run, store, raw, raw_ck) -> None:
    """Append the input to the store once more as a second run, so every
    part holds two runs of under-filled chunks, then ``compact_store`` it;
    the compacted store must decode to the input twice over."""
    from learn_to_compress_spark.jobs import decode_table
    from learn_to_compress_spark.jobs.compact import compact_store

    n, h = raw_ck
    run.encode("append", raw, store, n, KEYS, resume=False, run_id="append")
    run.layer["compact.chunks_before"] = float(store_chunks(run.spark, store)[0].num_rows)
    res = run.op("compact", "compact", lambda: compact_store(run.spark, store), 2 * n,
                 expected=lambda r: r["compacted_parts"] > 0)
    run.layer["compact.parts"] = float(res["compacted_parts"] if res else 0)
    run.layer["compact.chunks_after"] = float(store_chunks(run.spark, store)[0].num_rows)
    run.op("probe.decode_compacted", "decode",
           lambda: checksum(decode_table(run.spark, store), list(raw.columns)), 0,
           expected=(2 * n, 2 * h))
    run.digest(store)


def _rows_out(out) -> int:
    if isinstance(out, tuple):  # (count, hash-sum) checksum
        return out[0]
    if isinstance(out, list):
        return len(out)
    return 1
