"""Assert the physical-plan properties the scale design depends on: the
read path is SHUFFLE-FREE (no Exchange anywhere between the chunk-store scan
and the decode kernel), zone-map predicates are pushed to the Parquet scan,
and metadata-only operators never read payload bytes (nested schema
pruning)."""

from pyspark.sql import functions as F

from learn_to_compress_spark.chunkstore import read_lineage
from learn_to_compress_spark.jobs import decode_table, encode_table
from learn_to_compress_spark.plans import (
    explain_text,
    kernel_partitions,
    pushed_filters,
    scan_read_schema,
    shuffle_exchanges,
)
from learn_to_compress_spark.sources.transcripts import transcripts_df


def _store(spark, tmp_path, name="plan_store"):
    store = str(tmp_path / name)
    encode_table(transcripts_df(spark, 60, parallelism=2), store, num_parts=4)
    return store


def test_decode_plan_has_no_exchange(spark, tmp_path):
    """The whole point of the one-row-per-chunk store: decode is a pure
    scan → mapInArrow with no shuffle of payload bytes (at 100 TB an
    Exchange here would shuffle the entire table to answer SELECT *)."""
    store = _store(spark, tmp_path)
    df = decode_table(spark, store)
    assert shuffle_exchanges(df) == 0, explain_text(df)


def test_filter_gt_plan_pushes_zone_map_and_no_exchange(spark, tmp_path):
    from learn_to_compress_spark.operators import filter_gt_table

    store = _store(spark, tmp_path, "plan_store_f")
    df = filter_gt_table(spark, store, "turn_idx", 50, ["conv_id", "turn_idx"])
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    pushed = pushed_filters(df)
    assert any("zmax" in p for p in pushed), (pushed, plan)


def test_lineage_count_reads_no_payload(spark, tmp_path):
    store = _store(spark, tmp_path, "plan_store_c")
    lin = read_lineage(spark, store).agg(F.sum("n_rows"))
    for fields in scan_read_schema(lin):
        assert "payload" not in fields, fields


def test_sum_is_metadata_only(spark, tmp_path):
    """SUM reads only the vsum decimal leaf — nested schema pruning keeps
    payload bytes entirely out of the scan, and no Python worker appears in
    the plan (pure JVM aggregate)."""
    store = _store(spark, tmp_path, "plan_store_s")
    from learn_to_compress_spark.operators import sum_column

    plan_df = sum_column(spark, store, "turn_idx")
    schemas = scan_read_schema(plan_df)
    assert schemas, "expected at least one scan"
    for fields in schemas:
        assert "payload" not in str(fields), fields
    plan = explain_text(plan_df)
    assert "vsum" in plan
    assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan, plan

    # the metadata sum agrees with the compressed-domain kernel sum
    from learn_to_compress_spark.operators import sum_column_kernel

    a = sum_column(spark, store, "turn_idx").collect()[0][0]
    b = sum_column_kernel(spark, store, "turn_idx").collect()[0][0]
    assert int(a) == int(b)


def test_column_pruned_decode_reads_only_needed_payloads(spark, tmp_path):
    store = _store(spark, tmp_path, "plan_store_p")
    one_col = decode_table(spark, store, columns=["turn_idx"])
    plan = explain_text(one_col)
    # the scan's ReadSchema must not include other columns' structs
    for fields in scan_read_schema(one_col):
        joined = ",".join(str(f) for f in fields)
        assert "c_text" not in joined, plan


def test_part_filtered_decode_pushes_part_id(spark, tmp_path):
    """Compaction's victim decode: the part predicate reaches the Parquet
    scan (row-group stats skip other parts' payload bytes) and the plan has
    no Exchange."""
    store = _store(spark, tmp_path, "plan_store_v")
    df = decode_table(spark, store, parts=[0, 1])
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    assert any("part_id" in p for p in pushed_filters(df)), plan


def test_compacted_store_decode_still_shuffle_free(spark, tmp_path):
    from learn_to_compress_spark.jobs import compact_store
    from learn_to_compress_spark.sources.transcripts import transcripts_df

    store = str(tmp_path / "plan_store_cc")
    df_in = transcripts_df(spark, 40, parallelism=2).cache()
    for i in range(2):
        encode_table(
            df_in.filter(F.col("turn_idx") % 2 == i), store, num_parts=4,
            resume=False, chunk_rows=4096,
        )
    compact_store(spark, store, chunk_rows=4096)
    df = decode_table(spark, store)
    assert shuffle_exchanges(df) == 0, explain_text(df)


def test_filter_gt_string_plan_pushes_string_zone_map(spark, tmp_path):
    """String range predicate: the zsmax zone-map compare is a plain nested
    Parquet predicate (pushed to the scan), the plan stays shuffle-free, and
    the result matches decode-and-filter."""
    from learn_to_compress_spark.operators import filter_gt_string_table

    store = _store(spark, tmp_path, "plan_store_sg")
    df = filter_gt_string_table(spark, store, "conv_id", "conv-0000000030", ["conv_id", "turn_idx"])
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    pushed = pushed_filters(df)
    assert any("zsmax" in p for p in pushed), (pushed, plan)
    got = {(r.conv_id, r.turn_idx) for r in df.collect()}
    want = {
        (r.conv_id, r.turn_idx)
        for r in decode_table(spark, store).filter(F.col("conv_id") > "conv-0000000030").collect()
    }
    assert got == want


def test_filter_eq_string_plan_pushes_string_zone_map(spark, tmp_path):
    from learn_to_compress_spark.operators import filter_eq_string_table

    store = _store(spark, tmp_path, "plan_store_se")
    df = filter_eq_string_table(spark, store, "role", "user", ["conv_id", "role"])
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    pushed = pushed_filters(df)
    assert any("zsmin" in p or "zsmax" in p for p in pushed), (pushed, plan)
    got = df.count()
    want = decode_table(spark, store).filter(F.col("role") == "user").count()
    assert got == want


def test_linked_decode_plan_pruned_and_shuffle_free(spark, tmp_path):
    """Decoding ONLY a linked column: the companion payload leaf must ride
    along (its values reconstruct the target) while every OTHER column's
    payload stays out of the Parquet ReadSchema, and the plan stays a pure
    scan -> mapInArrow with no Exchange."""
    store = str(tmp_path / "plan_store_lnk")
    encode_table(
        transcripts_df(spark, 60, parallelism=2),
        store,
        num_parts=4,
        linked_cols={"ts": "turn_idx"},
    )
    df = decode_table(spark, store, columns=["ts"])
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    import re

    schemas = " ".join(m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan))
    assert "c_ts" in schemas and "c_turn_idx" in schemas, schemas
    # untouched columns' payloads must not be read
    assert "c_text" not in schemas and "c_role" not in schemas, schemas


def test_minmax_is_metadata_only(spark, tmp_path):
    """MIN/MAX reads only the two zone-map leaves — nested schema pruning
    keeps payload bytes out of the scan and no Python worker appears."""
    from learn_to_compress_spark.operators import minmax_column

    store = _store(spark, tmp_path, "plan_store_mm")
    for col, leaf in (("turn_idx", "zmin"), ("conv_id", "zsmin")):
        df = minmax_column(spark, store, col)
        for fields in scan_read_schema(df):
            assert "payload" not in str(fields), fields
        plan = explain_text(df)
        assert leaf in plan, plan
        assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan, plan


def test_avg_is_metadata_only(spark, tmp_path):
    """AVG reads only vsum + nvalid (plus n_rows for the pre-v2.2
    fallback) — never payload bytes, never a Python worker."""
    from learn_to_compress_spark.operators import avg_column

    store = _store(spark, tmp_path, "plan_store_avg")
    df = avg_column(spark, store, "turn_idx")
    for fields in scan_read_schema(df):
        assert "payload" not in str(fields), fields
    plan = explain_text(df)
    assert "vsum" in plan and "nvalid" in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan, plan


def test_group_count_reads_only_target_payload(spark, tmp_path):
    """GROUP BY count scans exactly one payload leaf (the grouped column);
    the shuffle moves only (value, count) partials, never row strings —
    asserted here as: exactly the aggregation Exchange, with the kernel
    below it."""
    from learn_to_compress_spark.operators import group_count_string_table

    store = _store(spark, tmp_path, "plan_store_gc")
    df = group_count_string_table(spark, store, "role")
    plan = explain_text(df)
    import re

    schemas = " ".join(m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan))
    assert "c_role" in schemas, schemas
    assert "c_text" not in schemas and "c_ts" not in schemas, schemas
    # one shuffle: the tiny partials aggregation (AQE may plan it as a
    # single Exchange above the MapInArrow kernel)
    assert shuffle_exchanges(df) <= 1, plan


def test_sum_filtered_interior_branch_is_metadata_only(spark, tmp_path):
    """The hybrid SUM-under-filter: the filter column's zone-map predicate
    is pushed to the Parquet scan, the interior branch reads NO payload
    bytes (vsum/nvalid metadata only), and only the boundary branch carries
    a payload leaf into the Python kernel."""
    import re

    from learn_to_compress_spark.operators import sum_filtered_column

    store = _store(spark, tmp_path, "plan_store_sfc")
    df = sum_filtered_column(spark, store, "turn_idx", "turn_idx", 50)
    plan = explain_text(df)
    # zone predicate reaches the scan (boundary prune: zmax > v)
    assert any("zmax" in f for f in pushed_filters(df)), pushed_filters(df)
    # exactly one of the two scans reads payload (the boundary kernel);
    # the interior scan is pruned to metadata leaves
    schemas = [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]
    with_payload = [s for s in schemas if "payload" in s]
    interior = [s for s in schemas if "vsum" in s]
    assert with_payload and interior, schemas
    assert all("payload" not in s for s in interior), interior
    # one aggregation exchange over (partial, nn) rows — nothing else
    assert shuffle_exchanges(df) <= 1, plan


def test_group_sum_reads_only_key_and_measure_payloads(spark, tmp_path):
    import re

    from learn_to_compress_spark.operators import group_sum_string_table

    store = _store(spark, tmp_path, "plan_store_gs")
    df = group_sum_string_table(spark, store, "role", "turn_idx")
    plan = explain_text(df)
    schemas = " ".join(m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan))
    assert "c_role" in schemas and "c_turn_idx" in schemas, schemas
    assert "c_text" not in schemas and "c_ts" not in schemas, schemas
    # one shuffle: the (key, hi, lo, nn) partials aggregation
    assert shuffle_exchanges(df) <= 1, plan


def test_count_distinct_reads_only_target_payload(spark, tmp_path):
    import re

    from learn_to_compress_spark.operators import count_distinct_string

    store = _store(spark, tmp_path, "plan_store_ndv")
    df = count_distinct_string(spark, store, "role")
    plan = explain_text(df)
    schemas = " ".join(m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan))
    assert "c_role" in schemas, schemas
    assert "c_text" not in schemas and "c_ts" not in schemas, schemas
    # two-phase distinct aggregation: at most two exchanges of <= ndv rows
    assert shuffle_exchanges(df) <= 2, plan


def test_filter_and_plan_pushes_both_zone_maps_no_exchange(spark, tmp_path):
    """Compound AND: BOTH columns' zone-map predicates must reach the
    Parquet scan, and the read stays shuffle-free — at 100 TB a chunk dead
    on either bound must die before any payload bytes are read."""
    from learn_to_compress_spark.operators import filter_gt_and_table

    store = _store(spark, tmp_path, "plan_store_and")
    df = filter_gt_and_table(
        spark, store, [("turn_idx", 50), ("ts", 0)], ["conv_id", "turn_idx"]
    )
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    pushed = " ".join(pushed_filters(df))
    assert "c_turn_idx.zmax" in pushed and "c_ts.zmax" in pushed, plan


def test_filter_or_plan_pushes_disjunction_no_exchange(spark, tmp_path):
    """Compound OR: the DISJUNCTION of both zone-map conditions must reach
    the scan (a chunk dies only when every column's zone map excludes it)
    and the read stays shuffle-free."""
    from learn_to_compress_spark.operators import filter_gt_or_table

    store = _store(spark, tmp_path, "plan_store_or")
    df = filter_gt_or_table(
        spark, store, [("turn_idx", 50), ("ts", 0)], ["conv_id", "turn_idx"]
    )
    plan = explain_text(df)
    assert shuffle_exchanges(df) == 0, plan
    pushed = " ".join(pushed_filters(df))
    assert "Or(" in pushed and "c_turn_idx.zmax" in pushed and "c_ts.zmax" in pushed, plan


def test_topk_prunes_chunks_at_scan(spark, tmp_path):
    """Top-k pushdown: the metadata-derived kth bound must reach the main
    scan as a pushed zmax filter (chunks that cannot contribute never leave
    storage), and the only shuffle is the final ≤ k·chunks-row limit."""
    from learn_to_compress_spark.operators import topk_table

    store = _store(spark, tmp_path, "plan_store_topk")
    df = topk_table(spark, store, "turn_idx", 5, ["conv_id", "turn_idx", "ts"], "ts")
    pushed = " ".join(pushed_filters(df))
    assert "c_turn_idx.zmax" in pushed and "GreaterThanOrEqual" in pushed, pushed
    # correctness against a plain decode-sort-limit of the same store
    exp = (
        decode_table(spark, store)
        .orderBy(F.col("turn_idx").desc(), F.col("ts").desc())
        .limit(5)
        .toPandas()
    )
    got = df.toPandas()
    assert got[["conv_id", "turn_idx"]].values.tolist() == exp[
        ["conv_id", "turn_idx"]
    ].values.tolist()


def _multi_file_store(spark, tmp_path, name):
    """The 60-conversation store written by four encode tasks (one chunk
    file each), so Spark's own scan splits it four ways."""
    store = str(tmp_path / name)
    encode_table(
        transcripts_df(spark, 60, parallelism=2), store, num_parts=8, shuffle_width=4
    )
    return store


def _spark_splits(spark, store):
    from learn_to_compress_spark.chunkstore import chunks_path

    return spark.read.parquet(chunks_path(store)).rdd.getNumPartitions()


def test_small_store_feeds_each_kernel_from_one_partition(spark, tmp_path):
    """A store below SCAN_TASK_BYTES is one read task: decode, filter> and
    GROUP BY count each run their Python kernel once, the zone-map and
    part_id predicates still reach the Parquet scan, and no Exchange
    appears (one partition already satisfies the GROUP BY)."""
    from learn_to_compress_spark.operators import filter_gt_table, group_count_string_table

    store = _multi_file_store(spark, tmp_path, "plan_store_small")
    assert _spark_splits(spark, store) > 1
    dec = decode_table(spark, store)
    flt = filter_gt_table(spark, store, "turn_idx", 50, ["conv_id", "turn_idx"])
    grp = group_count_string_table(spark, store, "role")
    for df in (dec, flt, grp):
        assert kernel_partitions(df) == [1], explain_text(df)
        assert shuffle_exchanges(df) == 0, explain_text(df)
        assert any(p.startswith("In(part_id") for p in pushed_filters(df)), explain_text(df)
    assert any("zmax" in p for p in pushed_filters(flt)), explain_text(flt)
    want = {r.role: r["count"] for r in dec.groupBy("role").count().collect()}
    assert {r.role: r.cnt for r in grp.collect()} == want


def test_scan_partitions_follow_stored_bytes(spark, tmp_path, monkeypatch):
    """ceil(enc_bytes / SCAN_TASK_BYTES) read tasks, never more than
    Spark's own split count: a store above the per-task budget keeps more
    than one partition, and one above the budget times Spark's splits keeps
    Spark's count."""
    from learn_to_compress_spark import chunkstore
    from learn_to_compress_spark.chunkstore import manifest_totals, read_manifest
    from learn_to_compress_spark.operators import group_count_string_table

    store = _multi_file_store(spark, tmp_path, "plan_store_sized")
    enc = manifest_totals(read_manifest(store))[2]
    splits = _spark_splits(spark, store)
    assert splits > 2
    monkeypatch.setattr(chunkstore, "SCAN_TASK_BYTES", enc // 2 + 1)
    assert kernel_partitions(decode_table(spark, store)) == [2]
    monkeypatch.setattr(chunkstore, "SCAN_TASK_BYTES", 1)
    df = decode_table(spark, store)
    assert kernel_partitions(df) == [splits]
    assert df.count() == manifest_totals(read_manifest(store))[0]
    # more than one read task: the GROUP BY shuffles its partials again
    # (an adaptive plan, inspected here after it ran)
    grp = group_count_string_table(spark, store, "role")
    assert shuffle_exchanges(grp) == 1, explain_text(grp)
    assert sum(r.cnt for r in grp.collect()) == manifest_totals(read_manifest(store))[0]
    assert kernel_partitions(grp) == [splits]
