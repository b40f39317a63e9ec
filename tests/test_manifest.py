"""The lineage manifest: commit visibility resolved on the driver.

A run's chunks are visible only once its manifest file lands; readers turn
the manifest into scan filters (no join against lineage, no lineage job),
and COUNT and the encode commit run no Spark job at all."""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from learn_to_compress_spark.chunkstore import (
    MANIFEST_SCHEMA,
    commit_run,
    lineage_current_dir,
    read_chunks,
    read_manifest,
    run_manifest_rows,
)
from learn_to_compress_spark.jobs import decode_table, encode_table, vacuum_store
from learn_to_compress_spark.operators import (
    count_rows,
    filter_gt_table,
    sum_column,
    topk_table,
)
from learn_to_compress_spark.plans import explain_text
from learn_to_compress_spark.sources.transcripts import transcripts_df


def _halves(spark):
    df = transcripts_df(spark, 40, parallelism=2).cache()
    return df, df.filter(F.col("turn_idx") % 2 == 0), df.filter(F.col("turn_idx") % 2 == 1)


def _visible(spark, store):
    """(count_rows, decoded rows, SUM(turn_idx), rows with turn_idx > 3)."""
    return (
        count_rows(spark, store),
        decode_table(spark, store).count(),
        int(sum_column(spark, store, "turn_idx").collect()[0][0] or 0),
        filter_gt_table(spark, store, "turn_idx", 3, ["conv_id", "turn_idx"]).count(),
    )


def _expected(df):
    return (
        df.count(),
        df.count(),
        int(df.agg(F.sum("turn_idx")).collect()[0][0] or 0),
        df.filter(F.col("turn_idx") > 3).count(),
    )


def test_staged_run_is_invisible(spark, tmp_path):
    _df, evens, odds = _halves(spark)
    store = str(tmp_path / "staged")
    encode_table(evens, store, num_parts=4, resume=False)
    staged = encode_table(odds, store, num_parts=4, resume=False, commit=False)
    assert staged["rows"] == odds.count()
    assert os.path.isdir(os.path.join(store, "chunks", f"run_id={staged['run_id']}"))
    assert _visible(spark, store) == _expected(evens)


def test_partly_committed_run_shows_exactly_its_parts(spark, tmp_path):
    df, _evens, _odds = _halves(spark)
    store = str(tmp_path / "partial")
    run_id = encode_table(df, store, num_parts=4, resume=False, commit=False)["run_id"]
    rows = run_manifest_rows(store, run_id, 0.0)
    assert sorted(rows.column("part_id").to_pylist()) == [0, 1, 2, 3]
    some = rows.filter(pc.is_in(rows.column("part_id"), value_set=pa.array([0, 1], pa.int32())))
    commit_run(store, some, run_id)

    want_parts = set(some.column("part_id").to_pylist())
    got_parts = {r.part_id for r in read_chunks(spark, store, columns=[]).collect()}
    assert got_parts == want_parts
    n = sum(some.column("n_rows").to_pylist())
    assert 0 < n < df.count()
    assert count_rows(spark, store) == n
    assert decode_table(spark, store).count() == n


def test_missing_or_empty_lineage_shows_nothing(spark, tmp_path):
    _df, evens, _odds = _halves(spark)
    store = str(tmp_path / "nolineage")
    encode_table(evens, store, num_parts=4, resume=False)
    lineage = lineage_current_dir(store)
    shutil.rmtree(lineage)
    assert read_manifest(store).num_rows == 0
    assert _visible(spark, store) == (0, 0, 0, 0)
    os.makedirs(lineage)
    assert read_manifest(store).num_rows == 0
    assert _visible(spark, store) == (0, 0, 0, 0)


def test_leftover_temp_manifest_is_ignored_and_vacuumed(spark, tmp_path):
    _df, evens, odds = _halves(spark)
    store = str(tmp_path / "tmpfile")
    encode_table(evens, store, num_parts=4, resume=False)
    staged = encode_table(odds, store, num_parts=4, resume=False, commit=False)
    # a commit that died between its write and its os.replace: a complete
    # manifest file for the staged run, still under its temp name
    leftover = os.path.join(lineage_current_dir(store), f".{staged['run_id']}.parquet.tmp")
    pq.write_table(run_manifest_rows(store, staged["run_id"], 0.0), leftover)
    assert staged["run_id"] not in read_manifest(store).column("run_id").to_pylist()
    assert _visible(spark, store) == _expected(evens)

    removed = vacuum_store(spark, store)
    assert not os.path.exists(leftover)
    assert removed["removed_runs"] == [staged["run_id"]]
    assert _visible(spark, store) == _expected(evens)


def test_read_plans_do_not_join_lineage(spark, tmp_path):
    _df, evens, odds = _halves(spark)
    store = str(tmp_path / "plans")
    encode_table(evens, store, num_parts=4, resume=False)
    encode_table(odds, store, num_parts=4, resume=False)
    for df in (
        decode_table(spark, store),
        sum_column(spark, store, "turn_idx"),
        filter_gt_table(spark, store, "turn_idx", 3, ["conv_id", "turn_idx"]),
        topk_table(spark, store, "turn_idx", 5, ["conv_id", "turn_idx", "ts"], "ts"),
    ):
        plan = explain_text(df)
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        assert "PartitionFilters: [" in plan and "run_id" in plan, plan


def _jobs_in_groups(spark, fn, groups):
    """Run ``fn`` and return the Spark job ids each job group in ``groups``
    launched. A marker job in a fresh group runs last: listener events
    arrive in order, so once the marker shows, every earlier job has."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = f"marker-{uuid.uuid4().hex}"
    try:
        fn()
        sc.setJobGroup(marker, "marker")
        spark.range(1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker), "the status tracker saw no marker job"
    return {g: list(tracker.getJobIdsForGroup(g)) for g in groups}


def test_count_and_encode_commit_launch_no_spark_job(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    _df, evens, _odds = _halves(spark)
    store = str(tmp_path / "jobs")
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    write_group, commit_group = f"write-{tag}", f"commit-{tag}"
    write_parquet = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        out = write_parquet(self, *args, **kwargs)
        sc.setJobGroup(commit_group, "encode after the chunk write")
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def encode():
        sc.setJobGroup(write_group, "encode up to the chunk write")
        encode_table(evens, store, num_parts=4, resume=False)

    jobs = _jobs_in_groups(spark, encode, [write_group, commit_group])
    assert jobs[write_group], "the chunk write must show as jobs in its group"
    assert jobs[commit_group] == []
    monkeypatch.undo()

    count_group, counted = f"count-{tag}", []

    def count():
        sc.setJobGroup(count_group, "count_rows")
        counted.append(count_rows(spark, store))

    assert _jobs_in_groups(spark, count, [count_group])[count_group] == []
    assert counted == [evens.count()]


def test_manifest_schema_matches_committed_files(spark, tmp_path):
    _df, evens, _odds = _halves(spark)
    store = str(tmp_path / "schema")
    res = encode_table(evens, store, num_parts=4, resume=False)
    files = [f for f in os.listdir(lineage_current_dir(store)) if not f.startswith((".", "_"))]
    assert len(files) == 1 and files[0].startswith(res["run_id"])
    man = read_manifest(store)
    assert man.schema == MANIFEST_SCHEMA
    assert sum(man.column("n_rows").to_pylist()) == res["rows"] == evens.count()


def test_bad_run_id_raises_before_any_write(spark, tmp_path):
    from learn_to_compress_spark.chunkstore import check_run_id

    for ok in (uuid.uuid4().hex[:12], uuid.uuid4().hex, "append", "stream-0000000042"):
        assert check_run_id(ok) == ok
    _df, evens, _odds = _halves(spark)
    fresh = str(tmp_path / "fresh")
    store = str(tmp_path / "ids")
    encode_table(evens, store, num_parts=4, resume=False)

    def listing():
        return sorted(
            (os.path.relpath(os.path.join(d, f), store), os.path.getmtime(os.path.join(d, f)))
            for d, _dirs, files in os.walk(store)
            for f in files
        )

    before = listing()
    for bad in ("it's", "a/b", "run_id=x", "", "a b"):
        for target in (store, fresh):
            with pytest.raises(ValueError, match="run_id"):
                encode_table(evens, target, num_parts=4, resume=False, run_id=bad)
    assert listing() == before
    assert not os.path.exists(fresh)


# --- visibility equivalence: read_chunks vs a brute-force pyarrow read ----


def _write_run(store, run_id, parts, rng, next_chunk):
    """One run's chunk file, laid out as the encode job lays it out
    (``chunks/run_id=<id>/``, metadata fields only): 1–4 chunks per part.
    The directory name is spliced verbatim, as stores written before run
    ids were checked spliced it."""
    rows = [(p, next_chunk + i) for i, p in enumerate(sorted(parts) * 3) if rng.random() < 0.6]
    rows += [(p, next_chunk + 3 * len(parts) + j) for j, p in enumerate(sorted(parts))]
    run_dir = os.path.join(store, "chunks", f"run_id={run_id}")
    os.makedirs(run_dir)
    n = len(rows)
    pq.write_table(
        pa.table(
            {
                "part_id": pa.array([p for p, _ in rows], pa.int32()),
                "chunk_id": pa.array([c for _, c in rows], pa.int64()),
                "n_rows": pa.array([10] * n, pa.int32()),
                "raw_bytes": pa.array([100] * n, pa.int64()),
                "enc_bytes": pa.array([rng.randrange(1, 50) for _ in range(n)], pa.int64()),
            }
        ),
        os.path.join(run_dir, "part-00000.parquet"),
    )
    return next_chunk + 4 * len(parts)


def _brute_force(store, pairs):
    """Every chunk row of the store's chunk files whose (part_id, run_id)
    is in ``pairs``, as sorted (part_id, chunk_id, run_id) tuples."""
    root = os.path.join(store, "chunks")
    got = []
    for d in os.listdir(root):
        run = d.split("=", 1)[1]
        t = pq.read_table(os.path.join(root, d), columns=["part_id", "chunk_id"])
        got += [
            (p, c, run)
            for p, c in zip(t.column("part_id").to_pylist(), t.column("chunk_id").to_pylist())
            if (p, run) in pairs
        ]
    return sorted(got)


def _pairs(manifest):
    return set(zip(manifest.column("part_id").to_pylist(), manifest.column("run_id").to_pylist()))


def _scanned(spark, store, snapshot=None):
    return sorted(
        (r.part_id, r.chunk_id, r.run_id)
        for r in read_chunks(spark, store, columns=[], snapshot=snapshot).collect()
    )


def _check(spark, store):
    """The scan equals the brute-force read; returns the visible runs."""
    pairs = _pairs(read_manifest(store))
    assert _scanned(spark, store) == _brute_force(store, pairs)
    return {r for _p, r in pairs}


@pytest.fixture(params=["false", "true"], ids=["escapes", "raw_literals"])
def string_literals(spark, request):
    """Both settings of ``spark.sql.parser.escapedStringLiterals``."""
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, "false")


def test_read_chunks_matches_brute_force_visibility(spark, tmp_path, string_literals):
    """Random multi-run stores: batch runs and appends with overlapping and
    disjoint part sets, partly committed and staged runs, a compaction
    version swap, a snapshot, and run ids holding a quote and a backslash.
    After every step ``read_chunks`` returns exactly the chunk rows whose
    (part_id, run_id) pair the manifest names, whichever way the SQL parser
    reads string literals."""
    import json
    import random

    from learn_to_compress_spark.chunkstore import (
        lineage_pointer_path,
        snapshot_store,
        write_manifest,
    )

    legacy = ["o'brien", "back\\slash"]
    for seed in range(3 if string_literals == "false" else 1):
        rng = random.Random(seed)
        store = str(tmp_path / f"vis{seed}")
        os.makedirs(store)
        with open(os.path.join(store, "_schema.json"), "w") as fh:
            json.dump({"colspecs": [["x", "int64"]], "key_cols": ["x"]}, fh)
        n_parts, chunk, seen = 8, 0, set()
        ids = [uuid.uuid4().hex[:12] for _ in range(5)] + legacy + ["stream-0000000007"]
        rng.shuffle(ids)
        snap = snap_pairs = None
        for step, run_id in enumerate(ids):
            if step % 3 == 0:  # overlapping part sets
                parts = set(rng.sample(range(n_parts), rng.randrange(1, n_parts + 1)))
            else:  # an append into parts not yet visible, or any if none left
                free = set(range(n_parts)) - {p for p, _ in _pairs(read_manifest(store))}
                parts = free or set(rng.sample(range(n_parts), 2))
            chunk = _write_run(store, run_id, parts, rng, chunk)
            rows = run_manifest_rows(store, run_id, 0.0)
            mode = "all" if run_id in legacy else rng.choice(["all", "all", "some", "staged"])
            if mode == "some":
                keep = pa.array(rng.sample(sorted(parts), max(1, len(parts) // 2)), pa.int32())
                rows = rows.filter(pc.is_in(rows.column("part_id"), value_set=keep))
            if mode != "staged":
                commit_run(store, rows, run_id)
            seen |= _check(spark, store)
            if step == 3:
                snap = snapshot_store(spark, store)
                snap_pairs = _pairs(read_manifest(store))
            if step == 5:
                # compaction's swap: a new lineage version keeps some parts'
                # rows and drops the rest, then the pointer moves to it
                cur = read_manifest(store)
                victims = pa.array(rng.sample(range(n_parts), 3), pa.int32())
                kept = cur.filter(pc.invert(pc.is_in(cur.column("part_id"), value_set=victims)))
                vdir = os.path.join("lineage_v", f"{seed:010d}")
                write_manifest(os.path.join(store, vdir), kept, "manifest.parquet")
                with open(lineage_pointer_path(store), "w") as fh:
                    json.dump({"dir": vdir}, fh)
                assert _check(spark, store) == {r for _p, r in _pairs(kept)}
        assert set(legacy) <= seen
        assert _scanned(spark, store, snapshot=snap) == _brute_force(store, snap_pairs)
