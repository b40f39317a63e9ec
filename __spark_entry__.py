"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: encode the sf0.001 tables into chunk stores,
decode back, and return a per-table summary (rows, bytes, ratio, roundtrip).

``queries()`` — one entry per implemented operator (SURVEY.md §2); each
callable takes (spark, sf_dir) and returns a DataFrame. Chunk stores are
built once per (sf_dir, table) under /tmp and reused across calls via the
engine's lineage-resume (committed partitions are never re-encoded).

``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query.
Aggregate/computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KEYS = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "events": ("user_id", "ts"),
    "documents": ("doc_id",),
    "customer": ("c_custkey",),
}

_STORE_ROOT = os.environ.get("LTC_STORE_ROOT", "/tmp/ltc_stores")

# every registry codec with a forced-selection seam, swept per column family
# by the decode_*_forced_sweep queries (one driver row per family)
_EVENTS_FORCED_CODECS = [
    "leco_var", "leco_var_dp", "delta_var", "poly2", "poly_max",
    "leco_outlier", "spline", "leco_lp", "vbyte", "elias_fano",
    "leco_var_lookahead",
]
_DOCS_FORCED_CODECS = ["word_dict", "fsst"]
_CUSTOMER_FORCED_CODECS = ["leco_str", "leco_str_wide", "leco_str_outlier"]
# c_name has one length, so leco_str_outlier's 99th-percentile length rule
# never fires on it: the customer sweep encodes this derived name instead,
# where every 128th customer (< 1% of rows) gets a long suffix. Spark SQL
# and DuckDB read the expression alike.
_C_NAME_TAIL = (
    "CASE WHEN c_custkey % 128 = 0 "
    "THEN c_name || '-account-note-0123456789abcdefghij' ELSE c_name END"
)


def _prep(spark: SparkSession) -> None:
    import sys

    repo = os.path.dirname(os.path.abspath(__file__))
    if repo not in sys.path:
        sys.path.insert(0, repo)
    from learn_to_compress_spark.sources.session import _ship_package

    _ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def _store_for(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    selection: str = "exact",
    chunk_rows=None,
    linked_cols: dict[str, str] | None = None,
    derived: dict[str, str] | None = None,
) -> str:
    """Encode ``table`` into a cached chunk store (resume makes this a no-op
    when the store is already committed). ``derived`` adds columns
    ``{name: Spark SQL expression}`` to the table before the encode."""
    _prep(spark)
    from learn_to_compress_spark.jobs import encode_table

    from learn_to_compress_spark.sources.session import package_digest

    key = hashlib.sha1(
        f"{os.path.abspath(sf_dir)}::{table}::{selection}::{chunk_rows or ''}"
        f"::{linked_cols or ''}::{derived or ''}::{package_digest()}".encode()
    ).hexdigest()[:16]
    store = os.path.join(_STORE_ROOT, key, table)
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
    for name, expr in (derived or {}).items():
        df = df.withColumn(name, F.expr(expr))
    # testdata is small; 16 parts keeps tiny-table stages sane even under a
    # driver session with 200 default shuffle partitions
    kw = {} if chunk_rows is None else {"chunk_rows": chunk_rows}
    if linked_cols is not None:
        kw["linked_cols"] = linked_cols
    encode_table(
        df, store, key_cols=_KEYS[table], num_parts=16, resume=True,
        selection=selection, **kw,
    )
    return store


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Encode sf0.001 events+lineitem, decode, verify, summarize."""
    _prep(spark)
    from learn_to_compress_spark.jobs import decode_table, encode_table

    sf_dir = "/root/testdata/sf0.001"
    rows = []
    for table in ("events", "lineitem"):
        raw = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        store = _store_for(spark, sf_dir, table)
        dec = decode_table(spark, store)
        ok = dec.exceptAll(raw).count() == 0 and raw.exceptAll(dec).count() == 0
        from learn_to_compress_spark.chunkstore import read_lineage

        stats = (
            read_lineage(spark, store)
            .agg(
                F.sum("n_rows").alias("rows"),
                F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc"),
            )
            .collect()[0]
        )
        rows.append(
            (table, int(stats.rows), int(stats.raw), int(stats.enc),
             float(stats.enc) / float(stats.raw), bool(ok))
        )
    return spark.createDataFrame(
        rows, "table string, rows long, raw_bytes long, enc_bytes long, ratio double, roundtrip_ok boolean"
    )


# --------------------------------------------------------------------------
# queries — operator inventory entries
# --------------------------------------------------------------------------


def _decode_query(table: str, cols: list[str]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.jobs import decode_table

        store = _store_for(spark, sf_dir, table)
        return decode_table(spark, store).select(*cols)

    return fn



def _count_query(table: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import count_rows

        store = _store_for(spark, sf_dir, table)
        n = count_rows(spark, store)
        return spark.createDataFrame([(n,)], "cnt long")

    return fn



def _avg_query(table: str, column: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import avg_column

        store = _store_for(spark, sf_dir, table)
        return avg_column(spark, store, column)

    return fn


def _group_count_query(table: str, column: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import group_count_string_table

        store = _store_for(spark, sf_dir, table)
        return group_count_string_table(spark, store, column)

    return fn


def _sum_filtered_query(table: str, column: str, filter_col: str, value: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import sum_filtered_column

        store = _store_for(spark, sf_dir, table)
        return sum_filtered_column(spark, store, column, filter_col, value).select(
            F.col(f"sum_{column}").cast("long").alias(f"sum_{column}")
        )

    return fn


def _group_sum_query(table: str, key_col: str, val_col: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import group_sum_string_table

        store = _store_for(spark, sf_dir, table)
        return group_sum_string_table(spark, store, key_col, val_col).select(
            key_col, F.col(f"sum_{val_col}").cast("long").alias(f"sum_{val_col}")
        )

    return fn


def _ndv_query(table: str, column: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import count_distinct_string

        store = _store_for(spark, sf_dir, table)
        return count_distinct_string(spark, store, column)

    return fn


def _filter_ts_query():
    # fixed literal: events.ts spans Jan 2024 at every sf (seed-42 generator)
    cut_us = 1_706_400_000_000_000  # 2024-01-28T00:00:00Z in µs

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_gt_table

        store = _store_for(spark, sf_dir, "events")
        return filter_gt_table(
            spark, store, "ts", cut_us, ["event_id", "user_id", "ts"]
        )

    return fn


def _filter_int_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_gt_table

        # user_id spans [0, 15·sf·1000): >10 is selective at every sf
        store = _store_for(spark, sf_dir, "events")
        return filter_gt_table(spark, store, "user_id", 10, ["event_id", "user_id"])

    return fn


def _filter_ts_between_query():
    # Jan 2024 interior week: selective at every sf (seed-42 generator)
    lo_us = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z
    hi_us = 1_705_881_600_000_000  # 2024-01-22T00:00:00Z

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_range_table

        store = _store_for(spark, sf_dir, "events")
        return filter_range_table(
            spark, store, "ts", lo_us, hi_us, ["event_id", "user_id", "ts"]
        )

    return fn



def _topk_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import topk_table

        store = _store_for(spark, sf_dir, "events")
        return topk_table(
            spark, store, "ts", 25, ["event_id", "user_id", "ts"], "event_id"
        )

    return fn



def _lookup_eq_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import lookup_eq_table

        store = _store_for(spark, sf_dir, "events")
        return lookup_eq_table(spark, store, "user_id", 7, ["event_id", "user_id", "ts"])

    return fn


def _filter_str_eq_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_eq_string_table

        store = _store_for(spark, sf_dir, "events")
        return filter_eq_string_table(
            spark, store, "event_type", "click", ["event_id", "user_id", "event_type"]
        )

    return fn


def _filter_str_in_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_in_string_table

        store = _store_for(spark, sf_dir, "events")
        return filter_in_string_table(
            spark, store, "event_type", ["click", "purchase"],
            ["event_id", "user_id", "event_type"],
        )

    return fn




def _filter_str_gt_dict_query():
    """String range on a dictionary-coded categorical column: the compare
    touches only the per-chunk unique values (code-domain LUT)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_gt_string_table

        store = _store_for(spark, sf_dir, "events")
        return filter_gt_string_table(
            spark, store, "event_type", "purchase", ["event_id", "event_type"]
        )

    return fn


def _mod_band_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import filter_mod_band_table

        store = _store_for(spark, sf_dir, "events")
        return filter_mod_band_table(
            spark, store, "user_id", 16, 3, 8, ["event_id", "user_id"]
        )

    return fn


def _bitmap_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import select_bitmap_table

        store = _store_for(spark, sf_dir, "events")
        return select_bitmap_table(
            spark, store, "event_id", 97, 0, ["event_id", "user_id", "ts"]
        )

    return fn


def _forced_decode_query(
    table: str, cols: list[str], codec: str, check_col: str,
    derived: dict[str, str] | None = None,
):
    """Decode a store whose codec selection is PINNED to one registry codec
    (``selection="force:<codec>"`` — the per-codec verification seam,
    mirroring the reference's fixed-method decode dispatch
    ``experiments/best_compress.cpp:114-133``). The query asserts the pinned
    codec actually serialized ``check_col``'s chunks before returning the
    decode, so the oracle match certifies THAT codec end-to-end, not
    whatever the auto-selection race would have picked."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.chunkstore import col_field, read_chunks
        from learn_to_compress_spark.jobs import decode_table

        store = _store_for(
            spark, sf_dir, table, selection=f"force:{codec}", derived=derived
        )
        used = {
            r[0]
            for r in read_chunks(
                spark,
                store,
                leaves=[F.col(f"{col_field(check_col)}.codec").alias("codec")],
            )
            .distinct()
            .collect()
        }
        if codec not in used:
            raise AssertionError(
                f"forced codec {codec!r} absent from {table}.{check_col} chunks: {used}"
            )
        return decode_table(spark, store).select(*cols)

    return fn


def _forced_sweep_query(
    table: str, cols: list[str], codecs: list[str], check_col: str,
    derived: dict[str, str] | None = None,
):
    """ONE driver row certifying EVERY forced codec of a family end-to-end:
    per codec, build the pinned store, assert the pin landed, decode, tag
    rows with the codec name, and union — the reference analogue is one
    dispatch loop over fixed methods (``experiments/best_compress.cpp:114-133``),
    not one program per codec. Consolidating keeps the whole per-codec
    surface inside the driver's correctness budget (50 rows) so the
    dedup/ANN/text/streaming queries keep their rows too."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from functools import reduce

        dfs = []
        for codec in codecs:
            one = _forced_decode_query(table, cols, codec, check_col, derived)(
                spark, sf_dir
            )
            dfs.append(one.select(F.lit(codec).alias("codec"), *cols))
        return reduce(lambda a, b: a.unionAll(b), dfs)

    return fn


def _forced_sweep_sql(cols_sql: str, table: str, codecs: list[str]) -> str:
    values = ", ".join(f"('{c}')" for c in codecs)
    return (
        f"SELECT c.codec, {cols_sql} FROM (VALUES {values}) AS c(codec), {table}"
    )


def _sum_tables_query(specs: list[tuple[str, str]]):
    """One row per (table, column) SUM — the three metadata-vsum pushdowns
    in a single tagged union."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from functools import reduce

        from learn_to_compress_spark.operators import sum_column

        dfs = []
        for table, column in specs:
            store = _store_for(spark, sf_dir, table)
            dfs.append(
                sum_column(spark, store, column).select(
                    F.lit(f"{table}.{column}").alias("tbl"),
                    F.col(f"sum_{column}").cast("long").alias("sum_val"),
                )
            )
        return reduce(lambda a, b: a.unionAll(b), dfs)

    return fn


def _minmax_meta_query():
    """Metadata-only MIN/MAX over an int zone map (events.ts) and a string
    zone map (customer.c_name) in one single-row cross join."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import minmax_column

        ev = minmax_column(spark, _store_for(spark, sf_dir, "events"), "ts")
        cu = minmax_column(spark, _store_for(spark, sf_dir, "customer"), "c_name")
        return ev.crossJoin(cu)

    return fn


def _filter_compound_query():
    """AND + OR compound filters in one tagged union (position-list algebra
    over the same two columns)."""
    and_ts = 1_705_708_800_000_000  # 2024-01-20T00:00:00Z
    or_ts = 1_706_400_000_000_000  # 2024-01-28T00:00:00Z

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import (
            filter_gt_and_table,
            filter_gt_or_table,
        )

        store = _store_for(spark, sf_dir, "events")
        cols = ["event_id", "user_id", "ts"]
        a = filter_gt_and_table(spark, store, [("ts", and_ts), ("user_id", 60)], cols)
        o = filter_gt_or_table(spark, store, [("ts", or_ts), ("user_id", 140)], cols)
        return a.select(F.lit("and").alias("pred"), *cols).unionAll(
            o.select(F.lit("or").alias("pred"), *cols)
        )

    return fn


def _filter_str_range_query():
    """Sorted-string range + prefix pushdown in one tagged union (both are
    big-int-domain model inversions on the wide LeCo rung,
    ``leco_string_subset.cpp:186-193``)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.operators import (
            filter_gt_string_table,
            filter_prefix_string_table,
        )

        store = _store_for(spark, sf_dir, "customer")
        cols = ["c_custkey", "c_name"]
        g = filter_gt_string_table(spark, store, "c_name", "Customer#000000900", cols)
        p = filter_prefix_string_table(spark, store, "c_name", "Customer#00000012", cols)
        return g.select(F.lit("gt").alias("pred"), *cols).unionAll(
            p.select(F.lit("prefix").alias("pred"), *cols)
        )

    return fn


def _linked_decode_query():
    """Decode an events store with NO ``linked_cols`` argument: the colcor
    AUTO-DETECT (r5 — sampled correlation probe,
    ``jobs/encode._propose_linked_cols``; reference flag at
    ``piecewise_cost_merge_integer_template_link_colcor.h:634``) must
    propose ``event_id → ts`` itself and the linked codec must win chunks
    before rows return, so the oracle match certifies the whole
    detect→race→decode path."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.chunkstore import (
            col_field,
            load_store_schema,
            read_chunks,
        )
        from learn_to_compress_spark.jobs import decode_table

        # the DEFAULT events store (no linked_cols argument anywhere)
        store = _store_for(spark, sf_dir, "events")
        proposed = load_store_schema(store).get("linked_cols") or {}
        if proposed.get("event_id") != "ts":
            raise AssertionError(
                f"colcor auto-detect did not propose event_id->ts: {proposed}"
            )
        used = {
            r[0]
            for r in read_chunks(
                spark, store,
                leaves=[F.col(f"{col_field('event_id')}.codec").alias("codec")],
            )
            .distinct()
            .collect()
        }
        if "linked" not in used:
            raise AssertionError(f"linked codec never won on events.event_id: {used}")
        return decode_table(spark, store).select("event_id", "ts", "user_id", "value")

    return fn


def _tuned_decode_query():
    """Decode a store encoded with ``chunk_rows="auto"`` — the sampled
    block-size sweep (``headers/search_hyper.h:14`` ``pick_block_size``)
    picks the chunk size; the oracle certifies the tuned store decodes
    bit-identically."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.jobs import decode_table

        store = _store_for(spark, sf_dir, "lineitem", chunk_rows="auto")
        return decode_table(spark, store).select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice",
        )

    return fn


def _learned_decode_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.jobs import decode_table

        store = _store_for(spark, sf_dir, "events", selection="learned")
        return decode_table(spark, store).select("event_id", "ts", "user_id", "value")

    return fn


def _compacted_decode_query():
    """Micro-batch appends → compact_store (atomic lineage swap) → vacuum →
    decode; the oracle checks the rewritten store is row-identical to the
    plain table (jobs/compact.py — Iceberg rewrite_data_files analogue)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.jobs import (
            compact_store,
            decode_table,
            encode_table,
            vacuum_store,
        )

        _prep(spark)
        key = hashlib.sha1(f"{os.path.abspath(sf_dir)}::events::compacted".encode()).hexdigest()[:16]
        store = os.path.join(_STORE_ROOT, key, "events")
        if not os.path.exists(os.path.join(store, "_schema.json")):
            ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            for i in range(3):  # stream-shaped appends: 3 runs into the same parts
                encode_table(
                    ev.filter(F.col("event_id") % 3 == i),
                    store, key_cols=("user_id", "ts"), num_parts=16, resume=False,
                )
            compact_store(spark, store)
            vacuum_store(spark, store)
        return decode_table(spark, store).select("event_id", "ts", "user_id", "value")

    return fn


def _snapshot_decode_query():
    """Iceberg-style snapshot read (time travel): encode the even
    event_ids, snapshot, append the odd ones, then decode AT THE SNAPSHOT —
    the result must equal the pre-append table (oracle: WHERE event_id%2=0)
    even though the store's head now holds every row."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.chunkstore import list_snapshots, snapshot_store
        from learn_to_compress_spark.jobs import decode_table, encode_table

        _prep(spark)
        key = hashlib.sha1(
            f"{os.path.abspath(sf_dir)}::events::snapshot".encode()
        ).hexdigest()[:16]
        store = os.path.join(_STORE_ROOT, key, "events")
        if not os.path.exists(os.path.join(store, "_schema.json")):
            ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            encode_table(
                ev.filter(F.col("event_id") % 2 == 0),
                store, key_cols=("user_id", "ts"), num_parts=16, resume=False,
            )
            snapshot_store(spark, store)
            encode_table(
                ev.filter(F.col("event_id") % 2 == 1),
                store, key_cols=("user_id", "ts"), num_parts=16, resume=False,
            )
        sid = list_snapshots(store)[0]
        return decode_table(spark, store, snapshot=sid).select(
            "event_id", "ts", "user_id", "value"
        )

    return fn


def _window_counts_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.streaming.windows import turns_per_window_batch

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return turns_per_window_batch(ev, "1 hour", ts_col="ts", conv_col="user_id")

    return fn


def _user_progress_query():
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from learn_to_compress_spark.streaming.windows import conversation_progress_batch

        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return conversation_progress_batch(ev, conv_col="user_id", ts_col="ts")

    return fn


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {
        # scan→encode→store→decode roundtrips (ops #1-25 via auto-selection)
        "decode_lineitem": _decode_query(
            "lineitem",
            ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate"],
        ),
        "decode_events": _decode_query(
            "events", ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ),
        "decode_documents": _decode_query(
            "documents", ["doc_id", "text", "lang", "source", "n_chars"]
        ),
        # wide-string LeCo rung (op #24: 18-char sorted ID strings exceed the
        # uint64 rung) + dictionary strings + decimal-scaled doubles
        "decode_customer": _decode_query(
            "customer",
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        ),
        # timestamps + decimal doubles + single-char status strings
        "decode_orders": _decode_query(
            "orders",
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"],
        ),
        # column-pruned decode (chunk store reads only the named columns)
        "project_orders_keys": _decode_query("orders", ["o_orderkey", "o_custkey"]),
        # SUM pushdown from compressed payloads (op #32) — three tables in
        # one tagged union row
        "sum_pushdown_tables": _sum_tables_query(
            [("lineitem", "l_orderkey"), ("events", "user_id"), ("documents", "n_chars")]
        ),
        # COUNT from lineage metadata only (op: chunk-header count)
        "count_lineitem": _count_query("lineitem"),
        # MIN/MAX from zone-map metadata only (int + string zone maps)
        "minmax_meta": _minmax_meta_query(),
        # AVG from metadata only (vsum / nvalid, v2.2)
        "avg_events_userid": _avg_query("events", "user_id"),
        # GROUP BY count in the CODE domain (dict chunks: no row strings)
        "group_count_events_eventtype": _group_count_query("events", "event_type"),
        # hybrid zone-pruned SUM-under-filter: pruned chunks die at the scan,
        # interior chunks contribute vsum metadata, only threshold-straddling
        # chunks touch payload (ops #30 + #32 composed)
        "sum_events_userid_where_ts": _sum_filtered_query(
            "events", "user_id", "ts", 1_706_400_000_000_000
        ),
        # GROUP BY + SUM: code-domain keys paired with one measure decode,
        # exact integer accumulation, (key, hi, lo) partials on the shuffle
        "group_sum_events_eventtype_userid": _group_sum_query(
            "events", "event_type", "user_id"
        ),
        # COUNT(DISTINCT) from per-chunk dictionaries (≤ ndv rows per chunk)
        "ndv_events_eventtype": _ndv_query("events", "event_type"),
        # range-filter pushdown: zone maps + model inversion (ops #28, #30, #31)
        "filter_events_ts_gt": _filter_ts_query(),
        "filter_events_userid_gt": _filter_int_query(),
        # two-sided range (BETWEEN): both bounds by one model inversion each
        "filter_events_ts_between": _filter_ts_between_query(),
        # compound AND + OR across two columns (position-list algebra) in
        # one tagged union row
        "filter_events_compound": _filter_compound_query(),
        # top-k pushdown (op #39 upgraded): metadata-only kth bound prunes
        # chunks at the scan, per-chunk local top-k, tiny global limit
        "topk_events_ts": _topk_query(),
        # equality point-lookup (ops #33, #34)
        "lookup_events_userid_eq": _lookup_eq_query(),
        # string equality pushdown: code-domain compare on dict chunks
        "filter_events_eventtype_eq": _filter_str_eq_query(),
        # string IN-list, code-domain membership on dict chunks
        "filter_events_eventtype_in": _filter_str_in_query(),
        # string RANGE pushdown: model inversion on the sorted big-int domain
        # (r3 — VERDICT item 4) + prefix range as two range bounds, one row
        "filter_customer_name_range": _filter_str_range_query(),
        "filter_events_eventtype_gt": _filter_str_gt_dict_query(),
        # modular band filter (op #29)
        "filter_events_userid_mod_band": _mod_band_query(),
        # selective decode under a bitmap, density-adaptive (op #31)
        "bitmap_decode_events": _bitmap_query(),
        # maintenance surface: multi-run store → compact → vacuum → decode
        "decode_events_compacted": _compacted_decode_query(),
        # Iceberg snapshot read (time travel): decode at a pinned snapshot,
        # ignoring rows appended after it
        "decode_events_snapshot": _snapshot_decode_query(),
        # CART learned codec selection (op #37): full encode→decode roundtrip
        # with the learned selector choosing every int codec
        "decode_events_learned": _learned_decode_query(),
        # block-size auto-tuner (headers/search_hyper.h:14 pick_block_size):
        # the store's chunk size comes from a sampled candidate sweep instead
        # of the static default; oracle certifies the tuned store decodes
        "decode_lineitem_tuned": _tuned_decode_query(),
        # correlated-column compression (group-correlation link,
        # piecewise_cost_merge_integer_template_link_colcor.h:21): event_id
        # is jumpy after the (user_id, ts) shuffle but linear in ts — the
        # linked race must win and the store must decode bit-identically
        "decode_events_linked": _linked_decode_query(),
        # streaming surface, batch twins (streaming/windows.py): the same
        # F.window plan the watermarked stream runs, and the converged state
        # of the stateful conversation-progress operator — both SQL-checkable
        "events_turns_per_window": _window_counts_query(),
        "events_user_progress": _user_progress_query(),
    }
    from queries_pipeline import pipeline_queries

    q.update(pipeline_queries())
    # per-codec forced-selection roundtrips (ops #10-17 + #19 + #21-24
    # individually), consolidated into one sweep row per column family so
    # the driver's 50-row correctness budget covers EVERY registered query:
    # selection="force:<codec>" pins the codec for every chunk, the sweep
    # asserts each pin landed, and rows carry the codec tag (reference
    # fixed-method dispatch, experiments/best_compress.cpp:114-133)
    q.update(
        {
            "decode_events_forced_sweep": _forced_sweep_query(
                "events", ["event_id", "ts", "user_id", "value"],
                _EVENTS_FORCED_CODECS, "ts",
            ),
            "decode_documents_forced_sweep": _forced_sweep_query(
                "documents", ["doc_id", "text", "lang", "source"],
                _DOCS_FORCED_CODECS, "text",
            ),
            "decode_customer_forced_sweep": _forced_sweep_query(
                "customer", ["c_custkey", "c_name_tail"],
                _CUSTOMER_FORCED_CODECS, "c_name_tail",
                derived={"c_name_tail": _C_NAME_TAIL},
            ),
        }
    )
    return q


def oracle_sql() -> dict[str, str]:
    sql = {
        "decode_lineitem": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
            "l_shipdate FROM lineitem"
        ),
        "decode_events": "SELECT event_id, ts, user_id, event_type, value, props FROM events",
        "decode_documents": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "decode_customer": (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            "FROM customer"
        ),
        "decode_orders": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate, o_orderpriority FROM orders"
        ),
        "project_orders_keys": "SELECT o_orderkey, o_custkey FROM orders",
        "sum_pushdown_tables": (
            "SELECT 'lineitem.l_orderkey' AS tbl, CAST(SUM(l_orderkey) AS BIGINT) AS sum_val FROM lineitem "
            "UNION ALL SELECT 'events.user_id', CAST(SUM(user_id) AS BIGINT) FROM events "
            "UNION ALL SELECT 'documents.n_chars', CAST(SUM(n_chars) AS BIGINT) FROM documents"
        ),
        "count_lineitem": "SELECT COUNT(*) AS cnt FROM lineitem",
        "minmax_meta": (
            "SELECT e.min_ts, e.max_ts, c.min_c_name, c.max_c_name FROM "
            "(SELECT MIN(ts) AS min_ts, MAX(ts) AS max_ts FROM events) e, "
            "(SELECT MIN(c_name) AS min_c_name, MAX(c_name) AS max_c_name FROM customer) c"
        ),
        # the double division of two exactly-representable integers is
        # bit-identical on both engines (our plan computes the same thing)
        "avg_events_userid": (
            "SELECT CAST(SUM(user_id) AS DOUBLE) / COUNT(user_id) AS avg_user_id FROM events"
        ),
        "group_count_events_eventtype": (
            "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"
        ),
        "sum_events_userid_where_ts": (
            "SELECT CAST(SUM(user_id) AS BIGINT) AS sum_user_id FROM events "
            "WHERE ts > TIMESTAMP '2024-01-28 00:00:00'"
        ),
        "group_sum_events_eventtype_userid": (
            "SELECT event_type, CAST(SUM(user_id) AS BIGINT) AS sum_user_id "
            "FROM events GROUP BY event_type"
        ),
        "ndv_events_eventtype": (
            "SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv_event_type "
            "FROM events"
        ),
        "filter_events_ts_gt": (
            "SELECT event_id, user_id, ts FROM events "
            "WHERE ts > TIMESTAMP '2024-01-28 00:00:00'"
        ),
        "filter_events_userid_gt": (
            "SELECT event_id, user_id FROM events WHERE user_id > 10"
        ),
        "filter_events_ts_between": (
            "SELECT event_id, user_id, ts FROM events "
            "WHERE ts > TIMESTAMP '2024-01-15 00:00:00' "
            "AND ts <= TIMESTAMP '2024-01-22 00:00:00'"
        ),
        "filter_events_compound": (
            "SELECT 'and' AS pred, event_id, user_id, ts FROM events "
            "WHERE ts > TIMESTAMP '2024-01-20 00:00:00' AND user_id > 60 "
            "UNION ALL SELECT 'or', event_id, user_id, ts FROM events "
            "WHERE ts > TIMESTAMP '2024-01-28 00:00:00' OR user_id > 140"
        ),
        "topk_events_ts": (
            "SELECT event_id, user_id, ts FROM events "
            "ORDER BY ts DESC, event_id DESC LIMIT 25"
        ),
        "lookup_events_userid_eq": (
            "SELECT event_id, user_id, ts FROM events WHERE user_id = 7"
        ),
        "filter_events_eventtype_eq": (
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE event_type = 'click'"
        ),
        "filter_events_eventtype_in": (
            "SELECT event_id, user_id, event_type FROM events "
            "WHERE event_type IN ('click', 'purchase')"
        ),
        "filter_customer_name_range": (
            "SELECT 'gt' AS pred, c_custkey, c_name FROM customer "
            "WHERE c_name > 'Customer#000000900' "
            "UNION ALL SELECT 'prefix', c_custkey, c_name FROM customer "
            "WHERE c_name LIKE 'Customer#00000012%'"
        ),
        "filter_events_eventtype_gt": (
            "SELECT event_id, event_type FROM events WHERE event_type > 'purchase'"
        ),
        "filter_events_userid_mod_band": (
            "SELECT event_id, user_id FROM events "
            "WHERE user_id % 16 > 3 AND user_id % 16 < 8"
        ),
        "bitmap_decode_events": (
            "SELECT event_id, user_id, ts FROM events WHERE event_id % 97 = 0"
        ),
        "decode_events_learned": "SELECT event_id, ts, user_id, value FROM events",
        "decode_events_forced_sweep": _forced_sweep_sql(
            "event_id, ts, user_id, value", "events", _EVENTS_FORCED_CODECS
        ),
        "decode_documents_forced_sweep": _forced_sweep_sql(
            "doc_id, text, lang, source", "documents", _DOCS_FORCED_CODECS
        ),
        "decode_customer_forced_sweep": _forced_sweep_sql(
            f"c_custkey, {_C_NAME_TAIL} AS c_name_tail", "customer",
            _CUSTOMER_FORCED_CODECS,
        ),
        "decode_lineitem_tuned": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "l_extendedprice FROM lineitem"
        ),
        "decode_events_linked": "SELECT event_id, ts, user_id, value FROM events",
        "decode_events_compacted": "SELECT event_id, ts, user_id, value FROM events",
        "decode_events_snapshot": (
            "SELECT event_id, ts, user_id, value FROM events WHERE event_id % 2 = 0"
        ),
        "events_turns_per_window": (
            "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, "
            "CAST(COUNT(*) AS BIGINT) AS n_turns, "
            "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_convs "
            "FROM events GROUP BY 1"
        ),
        "events_user_progress": (
            "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_turns, MAX(ts) AS max_ts "
            "FROM events GROUP BY user_id"
        ),
    }
    from queries_pipeline import pipeline_oracle_sql

    sql.update(pipeline_oracle_sql())
    return sql
