"""Query operators over the compressed chunk store (SURVEY.md §2.3).

Every operator here is **shuffle-free**: a chunk row is self-contained (all
column payloads in its structs), so the plan is scan → [pushable zone-map
filter] → ``mapInArrow`` kernel → built-in final aggregate/collect. The
codec-level pushdowns (zone-map skipping, model-inversion filtering,
compressed-domain SUM) run inside the kernel, mirroring
``headers/piecewise_fix_op.h:167-284`` (SUM),
``piecewise_fix_integer_template.h:206-303`` (range/band filters) and
``experiments/leco_int_fix_template.cpp:222-249`` (zone maps). Zone maps are
nested Parquet fields (``c_<col>.zmin/zmax``), so chunk skipping happens at
the scan via nested predicate pushdown — dead chunks' payload bytes are
never deserialized, and SUM is a pure metadata scan of ``c_<col>.vsum``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..chunkstore import (
    col_field,
    load_store_schema,
    manifest_totals,
    read_chunks,
    read_manifest,
    store_colspecs,
)
from ..jobs.decode import _SPARK_OF_LOGICAL, _pa_of_logical, decode_column_arrow
from ..select import (
    column_filter_gt,
    column_filter_mod_band,
    column_gather,
    column_sum,
)

_INT_LOGICALS = ("int32", "int64", "timestamp_us", "timestamp_ntz_us")


def count_rows(spark: SparkSession, store: str) -> int:
    """COUNT(*) straight from the lineage manifest on the driver — no
    payload touched, no Spark job (the reference's COUNT is trivially
    ``n_rows`` per chunk header)."""
    return manifest_totals(read_manifest(store))[0]


def sum_column(spark: SparkSession, store: str, column: str) -> DataFrame:
    """SUM(column) from per-chunk metadata only.

    The exact value sum of every chunk is persisted at encode time
    (``c_<col>.vsum``), so SUM never touches payload bytes — the plan is a
    Parquet scan of one decimal leaf plus a built-in aggregate, entirely
    JVM-side (cheaper than the reference's closed-form compressed-domain
    summation, ``headers/piecewise_fix_op.h:167-284``; see
    :func:`sum_column_kernel` for that parity path). Timestamp columns sum
    in µs since epoch. decimal(38,0): µs sums overflow int64 at ~5k rows.
    """
    doc = load_store_schema(store)
    logical = dict(store_colspecs(doc))[column]
    if logical not in _INT_LOGICALS:
        raise ValueError(f"sum_column supports int/timestamp columns, got {logical}")
    chunks = read_chunks(
        spark, store, leaves=[F.col(f"{col_field(column)}.vsum").alias("partial")], doc=doc
    )
    return chunks.agg(
        F.sum("partial").cast(T.DecimalType(38, 0)).alias(f"sum_{column}")
    )


def sum_column_kernel(spark: SparkSession, store: str, column: str) -> DataFrame:
    """SUM(column) via per-chunk compressed-domain partials computed from the
    payloads (the reference's ``summation`` operator shape,
    ``headers/piecewise_fix_op.h:167-284``) — kept alongside the
    metadata-only :func:`sum_column` as the parity path and as the
    cross-check that ``vsum`` metadata is consistent with the payloads."""
    doc = load_store_schema(store)
    logical_of = dict(store_colspecs(doc))
    logical = logical_of[column]
    # linked columns need the companion payload leaf for the decode fallback
    comp_name = (doc.get("linked_cols") or {}).get(column)
    comp_logical = logical_of.get(comp_name)
    leaves = [F.col("n_rows"), F.col(f"{col_field(column)}.payload").alias("payload")]
    if comp_name:
        leaves.append(F.col(f"{col_field(comp_name)}.payload").alias("comp"))
    sel = read_chunks(spark, store, leaves=leaves, doc=doc)

    from decimal import Decimal

    def kernel(batches):
        for pdf in batches:
            comps = pdf["comp"] if comp_name else [None] * len(pdf)
            sums = [
                Decimal(
                    column_sum(
                        bytes(p), int(n), logical,
                        companion=(bytes(c), comp_logical) if c is not None else None,
                    )
                )
                for p, n, c in zip(pdf["payload"], pdf["n_rows"], comps)
            ]
            yield pd.DataFrame({"partial": sums})

    partials = sel.mapInPandas(
        kernel, T.StructType([T.StructField("partial", T.DecimalType(38, 0))])
    )
    return partials.agg(F.sum("partial").cast(T.DecimalType(38, 0)).alias(f"sum_{column}"))


def _decode_schema(logical_of, names) -> T.StructType:
    return T.StructType(
        [T.StructField(n, _SPARK_OF_LOGICAL[logical_of[n]], True) for n in names]
    )


def _gather_table(
    spark: SparkSession,
    store: str,
    key_col: str,
    out_cols: list[str],
    pos_fn,
    prune=None,
    zone_fields=("zmin", "zmax"),
    doc: dict | None = None,
) -> DataFrame:
    """Shared shape of every projection-under-selection operator:

    scan chunk rows → [``prune``: pushable zone-map predicate] → per-chunk
    kernel: ``pos = pos_fn(key payload, n)``; gather ``out_cols`` at those
    positions (density-adaptive point gather vs full decode inside
    ``column_gather``). No shuffle; the final DataFrame is the union of
    per-chunk record batches.

    ``key_col`` may be a LIST of columns (compound predicates): the kernel
    then calls ``pos_fn(payloads, n, logicals, companions)`` with parallel
    lists, and each key column's zone-map leaves ride along as
    ``_zmin<j>``/``_zmax<j>`` for the caller's prune expression. ``doc``:
    the store's schema doc, when the caller has already loaded it."""
    import pyarrow as pa

    multi = isinstance(key_col, (list, tuple))
    key_cols = list(key_col) if multi else [key_col]
    if doc is None:
        doc = load_store_schema(store)
    logical_of = dict(store_colspecs(doc))
    need = list(dict.fromkeys([*key_cols, *out_cols]))
    # linked (correlated-column) frames reference a companion column of the
    # same chunk row — its payload leaf rides along for any linked column
    linked = {t: c for t, c in (doc.get("linked_cols") or {}).items() if t in need}
    read_cols = list(dict.fromkeys(need + list(linked.values())))
    leaves = [F.col("n_rows")] + [
        F.col(f"{col_field(n)}.payload").alias(f"p_{n}") for n in read_cols
    ]
    zone_leaves = []
    zone_names = []
    if prune is not None:
        # zone-map leaves ride along (aliased) so the prune predicate binds
        # above the Project and still pushes to the Parquet scan
        for j, kc in enumerate(key_cols):
            sfx = str(j) if multi else ""
            zone_leaves += [
                F.col(f"{col_field(kc)}.{zone_fields[0]}").alias(f"_zmin{sfx}"),
                F.col(f"{col_field(kc)}.{zone_fields[1]}").alias(f"_zmax{sfx}"),
            ]
            zone_names += [f"_zmin{sfx}", f"_zmax{sfx}"]
    chunks = read_chunks(spark, store, leaves=leaves + zone_leaves, doc=doc)
    if prune is not None:
        chunks = chunks.filter(prune).drop(*zone_names)
    sel = chunks
    out_schema = _decode_schema(logical_of, out_cols)
    pa_types = _pa_of_logical()
    key_logical = logical_of[key_cols[0]]

    def kernel(batches):
        for rb in batches:
            n_rows = rb.column(rb.schema.get_field_index("n_rows"))
            pcols = {
                n: rb.column(rb.schema.get_field_index(f"p_{n}")) for n in read_cols
            }

            def comp_of(name, i):
                cname = linked.get(name)
                if cname is None:
                    return None
                return (pcols[cname][i].as_py(), logical_of[cname])

            for i in range(rb.num_rows):
                n = int(n_rows[i].as_py())
                if multi:
                    pos = pos_fn(
                        [pcols[k][i].as_py() for k in key_cols],
                        n,
                        [logical_of[k] for k in key_cols],
                        [comp_of(k, i) for k in key_cols],
                    )
                else:
                    pos = pos_fn(
                        pcols[key_cols[0]][i].as_py(), n, key_logical,
                        comp_of(key_cols[0], i),
                    )
                arrays = []
                for name in out_cols:
                    lg = logical_of[name]
                    payload = pcols[name][i].as_py()
                    if lg == "string":
                        from ..select import column_gather_string_arrow

                        arr = column_gather_string_arrow(payload, n, pos)
                    elif lg == "double":
                        arr = decode_column_arrow(payload, n, lg).take(
                            pa.array(pos, type=pa.int64())
                        )
                    else:
                        ser = column_gather(
                            payload, n, lg, pos, companion=comp_of(name, i)
                        )
                        arr = pa.Array.from_pandas(ser)
                    arrays.append(arr.cast(pa_types[lg]))
                yield pa.RecordBatch.from_arrays(arrays, names=out_cols)

    return sel.mapInArrow(kernel, out_schema)


def filter_gt_table(
    spark: SparkSession,
    store: str,
    column: str,
    value: int,
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE column > value, answered from the chunk store.

    Three-level pushdown before any row materializes:
    1. nested schema pruning: only the needed columns' payload leaves are
       read from Parquet;
    2. zone-map chunk skipping: the ``c_<col>.zmax > value`` predicate is a
       plain nested-field filter pushed to the Parquet scan — dead chunks
       never reach Python;
    3. inside the kernel, the codec's model-inversion ``filter_gt`` decodes
       only candidate slots, and out_cols are gathered at match positions.

    ``value``: signed domain of the column (µs since epoch for timestamps).
    """
    v = int(value)
    zmax = F.col("_zmax")
    prune = zmax.isNull() | (zmax > F.lit(v))

    def pos_fn(payload, n, logical, companion):
        return column_filter_gt(bytes(payload), n, logical, v, companion=companion)

    return _gather_table(spark, store, column, out_cols, pos_fn, prune)


def filter_eq_string_table(
    spark: SparkSession,
    store: str,
    column: str,
    value: str,
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE string column = value, from the chunk store.

    Dictionary-coded chunks (the normal case for categorical columns: role,
    tool, event_type) answer the predicate in the CODE domain — only the
    tiny per-chunk dictionary is decoded, codes are compared as ints, and
    out_cols are gathered at match positions (``DictStringCodec.
    positions_eq``; the predicate analogue of the reference's dictionary
    lookup, ``experiments/raw_test_dictionary.cpp:107-112``). Other string
    codecs decode once and compare with one Arrow C++ ``equal`` kernel.
    String zone maps prune chunks whose [zsmin, zsmax] excludes the value
    AT THE SCAN (null zone maps — pre-zone-map stores — never prune)."""
    from ..select import column_positions_eq_string

    needle = value.encode()
    zmin, zmax = F.col("_zmin"), F.col("_zmax")
    prune = (zmin.isNull() | (zmin <= F.lit(value))) & (
        zmax.isNull() | (zmax >= F.lit(value))
    )

    def pos_fn(payload, n, logical, companion):
        return column_positions_eq_string(bytes(payload), n, needle)

    return _gather_table(
        spark, store, column, out_cols, pos_fn, prune, zone_fields=("zsmin", "zsmax")
    )


def filter_in_string_table(
    spark: SparkSession,
    store: str,
    column: str,
    values: list[str],
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE string column IN (values…) — the IN-list
    sibling of :func:`filter_eq_string_table` (categorical role/tool/
    event_type filters are IN lists far more often than single equalities).

    Dictionary-coded chunks answer in the CODE domain: one pass over the
    tiny per-chunk dictionary finds the hit codes, then int-code membership
    — no row string ever materializes regardless of list length. String
    zone maps prune chunks whose [zsmin, zsmax] excludes EVERY value at the
    Parquet scan (a chunk survives if ANY listed value can occur in it)."""
    from ..select import column_positions_in_string

    needles = [v.encode() for v in values]
    zmin, zmax = F.col("_zmin"), F.col("_zmax")
    prune = None
    for v in values:
        cond = (zmin.isNull() | (zmin <= F.lit(v))) & (
            zmax.isNull() | (zmax >= F.lit(v))
        )
        prune = cond if prune is None else (prune | cond)

    def pos_fn(payload, n, logical, companion):
        return column_positions_in_string(bytes(payload), n, needles)

    return _gather_table(
        spark, store, column, out_cols, pos_fn, prune, zone_fields=("zsmin", "zsmax")
    )


def filter_gt_string_table(
    spark: SparkSession,
    store: str,
    column: str,
    value: str,
    out_cols: list[str],
    strict: bool = True,
) -> DataFrame:
    """SELECT out_cols WHERE string column > value (``>=`` with
    ``strict=False``), from the chunk store — the string-domain counterpart
    of :func:`filter_gt_table` (reference sorted-string binary search,
    ``experiments/leco_string_subset.cpp:186-193`` +
    ``binary_search.cpp:63-122``).

    Same three-level pushdown: (1) nested leaf pruning, (2) STRING zone
    maps — ``c_<col>.zsmax > value`` is a plain nested predicate pushed to
    the Parquet scan (UTF8-binary order on both sides), (3) inside the
    kernel, LeCo-string chunks invert the line model in the big-int domain
    and dictionary chunks compare unique values only — row strings never
    materialize on those codecs (``select.STR_FILTER_STATS`` counts the
    fallbacks)."""
    from ..select import column_positions_gt_string

    needle = value.encode()
    zmax = F.col("_zmax")
    cmp = (zmax > F.lit(value)) if strict else (zmax >= F.lit(value))
    prune = zmax.isNull() | cmp

    def pos_fn(payload, n, logical, companion):
        return column_positions_gt_string(bytes(payload), n, needle, strict)

    return _gather_table(
        spark, store, column, out_cols, pos_fn, prune, zone_fields=("zsmin", "zsmax")
    )


def filter_prefix_string_table(
    spark: SparkSession,
    store: str,
    column: str,
    prefix: str,
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE string column LIKE 'prefix%' — the half-open
    range ``[prefix, upper)``; zone maps prune chunks whose [zsmin, zsmax]
    misses the range at the scan, and the kernel answers both bounds with
    the model-inversion / code-domain range pushdown."""
    from ..select import column_positions_prefix_string, prefix_upper_bound

    p = prefix.encode()
    hi = prefix_upper_bound(p)
    zmin, zmax = F.col("_zmin"), F.col("_zmax")
    prune = zmax.isNull() | (zmax >= F.lit(prefix))
    if hi is not None:
        try:  # the incremented byte may not be valid UTF-8 — skip that side
            prune = prune & (zmin.isNull() | (zmin < F.lit(hi.decode("utf-8"))))
        except UnicodeDecodeError:
            pass

    def pos_fn(payload, n, logical, companion):
        return column_positions_prefix_string(bytes(payload), n, p)

    return _gather_table(
        spark, store, column, out_cols, pos_fn, prune, zone_fields=("zsmin", "zsmax")
    )


def filter_range_table(
    spark: SparkSession,
    store: str,
    column: str,
    lo: int,
    hi: int,
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE lo < column <= hi — the two-sided range filter
    (the reference's range driver takes both bounds,
    ``experiments/leco_int_fix_template.cpp:222-249`` zone check +
    ``headers/piecewise_fix_integer_template.h:206-252`` ``filter_range``).

    Zone maps prune chunks whose [zmin, zmax] misses (lo, hi] AT THE SCAN;
    inside the kernel both bounds resolve by ONE model inversion each
    (``filter_gt(lo)`` minus ``filter_gt(hi)`` — position lists are sorted,
    so the subtraction is a single ``searchsorted`` membership pass, no
    set materialization). Bounds are in the column's signed domain (µs
    since epoch for timestamps)."""
    lo, hi = int(lo), int(hi)
    zmin, zmax = F.col("_zmin"), F.col("_zmax")
    prune = (zmax.isNull() | (zmax > F.lit(lo))) & (zmin.isNull() | (zmin <= F.lit(hi)))

    def pos_fn(payload, n, logical, companion):
        payload = bytes(payload)
        p_lo = column_filter_gt(payload, n, logical, lo, companion=companion)
        p_hi = column_filter_gt(payload, n, logical, hi, companion=companion)
        if not p_hi.size:
            return p_lo
        # both sorted ascending: keep p_lo entries absent from p_hi
        idx = np.searchsorted(p_hi, p_lo)
        present = (idx < p_hi.size) & (p_hi[np.minimum(idx, p_hi.size - 1)] == p_lo)
        return p_lo[~present]

    return _gather_table(spark, store, column, out_cols, pos_fn, prune)


def filter_gt_and_table(
    spark: SparkSession,
    store: str,
    preds: list[tuple[str, int]],
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE col1 > v1 AND col2 > v2 AND … — conjunction of
    open-range predicates over DIFFERENT columns of the same chunk row
    (compound analogue of the reference's single-column ``filter_range``
    drivers; the chunk store makes it one-pass because every column of a
    chunk lives in the same row).

    Pushdown composes per column: each predicate's zone map prunes at the
    Parquet scan (a chunk survives only if EVERY ``zmax_i > v_i``), then
    inside the kernel each surviving predicate resolves by its codec's
    model-inversion ``filter_gt`` and the SORTED position lists intersect
    with one ``searchsorted`` membership pass each — short-circuiting to
    an empty batch the moment any intersection empties, so later columns'
    payloads are never decoded for dead chunks. No shuffle anywhere."""
    preds = [(c, int(v)) for c, v in preds]
    prune = None
    for j, (_c, v) in enumerate(preds):
        zmax = F.col(f"_zmax{j}")
        cond = zmax.isNull() | (zmax > F.lit(v))
        prune = cond if prune is None else (prune & cond)

    def pos_fn(payloads, n, logicals, companions):
        pos = None
        for (c, v), payload, lg, comp in zip(preds, payloads, logicals, companions):
            p = column_filter_gt(bytes(payload), n, lg, v, companion=comp)
            if not p.size:
                # an all-null chunk column writes null zmin/zmax and survives
                # the zmax.isNull() prune, yet matches nothing — short-circuit
                # before the membership gather indexes an empty array
                return p
            if pos is None:
                pos = p
            else:
                # both sorted ascending: one searchsorted membership pass
                idx = np.searchsorted(p, pos)
                hit = (idx < p.size) & (p[np.minimum(idx, p.size - 1)] == pos)
                pos = pos[hit]
            if not pos.size:
                return pos
        return pos

    return _gather_table(
        spark, store, [c for c, _ in preds], out_cols, pos_fn, prune
    )


def topk_table(
    spark: SparkSession,
    store: str,
    column: str,
    k: int,
    out_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """SELECT out_cols ORDER BY column DESC, tiebreak DESC LIMIT k — top-k
    pushed into the chunk store (the upgrade of operator #39 from Spark's
    post-decode sort+limit to a compressed-domain plan).

    Two phases:
    1. **Metadata-only bound**: one tiny scan of ``(zmin, nvalid)`` per
       chunk, collected to the driver. Sorting chunks by ``zmin`` DESC and
       accumulating ``nvalid`` until ≥ k proves at least k values ≥ the
       last included ``zmin`` — a sound global threshold T, so the main
       scan pushes ``zmax >= T`` to Parquet and chunks that cannot reach
       the top-k never leave storage (for a clustered column that is all
       but O(1) chunks).
    2. **Per-chunk local top-k**: surviving chunks decode the key (+ the
       unique ``tiebreak`` for determinism), lexsort descending, and emit
       only their k best rows. The union is ≤ k·chunks rows, so the final
       global ``orderBy().limit(k)`` shuffles a few kilobytes — never the
       table.

    NULL keys sort last (DESC NULLS LAST): when the store holds fewer than
    k non-null keys, the result is padded with null-key rows, as the SQL
    pads it.
    """
    k = int(k)
    doc = load_store_schema(store)
    meta = read_chunks(
        spark,
        store,
        doc=doc,
        leaves=[
            F.col(f"{col_field(column)}.zmin").alias("zmin"),
            # the bound must count NON-NULL values (nulls sort last under
            # DESC); pre-v2.2 stores have no nvalid leaf — count those
            # chunks as 0, which only lowers the threshold (less pruning,
            # still sound), degenerating to no pruning when every chunk is
            # old
            F.coalesce(F.col(f"{col_field(column)}.nvalid"), F.lit(0)).alias("nvalid"),
        ],
    ).where(F.col("zmin").isNotNull()).toArrow()
    # running non-null count down the zmin-DESC order; the first zmin whose
    # cumulative count reaches k is the bound. One row per chunk (1/chunk_rows
    # of the table, the Iceberg-planning scale), summed on the driver — no
    # single-partition window exchange
    zmin = meta.column("zmin").to_numpy()
    # ties in zmin cannot move the bound, so their order is free
    order = np.argsort(zmin, kind="stable")[::-1]
    zmin = zmin[order]
    cum = np.cumsum(meta.column("nvalid").to_numpy()[order])
    hit = np.flatnonzero(cum >= k)
    thresh = int(zmin[hit[0]]) if hit.size else None
    prune = None
    if thresh is not None:
        zmax = F.col("_zmax0")
        prune = zmax.isNull() | (zmax >= F.lit(thresh))
    # fewer than k non-null keys (or an unknown count): the SQL pads with
    # null-key rows, so they stay candidates, ranked below every value
    pad = thresh is None

    from ..select import column_decode_i64

    def pos_fn(payloads, n, logicals, companions):
        # the tiebreak decodes INSIDE the kernel so boundary ties resolve
        # exactly like the SQL (a dropped local row tied on `column` but
        # higher on `tiebreak` would otherwise beat an emitted one).
        # Nulls: column_decode_i64 returns (dense values at non-null
        # slots, validity). Null KEY rows rank below every value (DESC
        # NULLS LAST) and are candidates only when padding; null TIEBREAKS
        # sort as -inf (NULLS LAST within equal keys), matching the SQL.
        a, va = column_decode_i64(
            bytes(payloads[0]), n, logicals[0], companion=companions[0]
        )
        b, vb = column_decode_i64(
            bytes(payloads[1]), n, logicals[1], companion=companions[1]
        )
        bfull = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
        bfull[np.flatnonzero(vb) if vb is not None else slice(None)] = b
        valid = np.ones(n, dtype=bool) if va is None else np.asarray(va, dtype=bool)
        akey = np.zeros(n, dtype=np.int64)
        akey[valid] = a
        cand = np.arange(n, dtype=np.int64) if pad else np.flatnonzero(valid)
        # ascending lexsort (validity, then key, then tiebreak), take the
        # tail — avoids negating int64 min (NaT / sentinel), which is its
        # own negation and would sort FIRST
        order = np.lexsort((bfull[cand], akey[cand], valid[cand]))[-max(k, 1):]
        return np.sort(cand[order])

    df = _gather_table(spark, store, [column, tiebreak], out_cols, pos_fn, prune, doc=doc)
    return df.orderBy(F.col(column).desc(), F.col(tiebreak).desc()).limit(k)


def filter_gt_or_table(
    spark: SparkSession,
    store: str,
    preds: list[tuple[str, int]],
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE col1 > v1 OR col2 > v2 OR … — disjunction
    sibling of :func:`filter_gt_and_table`.

    Zone-map pruning inverts: a chunk dies only if EVERY ``zmax_i <= v_i``
    (the OR of the pushable conditions reaches the Parquet scan). Inside
    the kernel each predicate's sorted position list unions via one
    ``union1d`` merge; a predicate whose zone map already proves the whole
    chunk matches (``zmin_i > v_i`` would short-circuit, but zmin isn't
    read here — the all-match case is instead detected by the first list
    covering all n positions, skipping the remaining columns' decodes)."""
    preds = [(c, int(v)) for c, v in preds]
    prune = None
    for j, (_c, v) in enumerate(preds):
        zmax = F.col(f"_zmax{j}")
        cond = zmax.isNull() | (zmax > F.lit(v))
        prune = cond if prune is None else (prune | cond)

    def pos_fn(payloads, n, logicals, companions):
        pos = np.empty(0, np.int64)
        for (c, v), payload, lg, comp in zip(preds, payloads, logicals, companions):
            if pos.size == n:  # already every row — later columns skip
                break
            p = column_filter_gt(bytes(payload), n, lg, v, companion=comp)
            pos = p if not pos.size else np.union1d(pos, p)
        return pos

    return _gather_table(
        spark, store, [c for c, _ in preds], out_cols, pos_fn, prune
    )


def lookup_eq_table(
    spark: SparkSession,
    store: str,
    column: str,
    value: int,
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE column = value — the point-lookup / binary-search
    operator (``experiments/binary_search.cpp:63-122``,
    ``randomdecodeArray8`` position gather). Zone maps prune chunks whose
    [zmin, zmax] excludes the value AT THE SCAN; inside the kernel the
    model-inversion filter narrows to candidates ``> value-1`` and an exact
    equality gather keeps matches."""
    v = int(value)
    zmin, zmax = F.col("_zmin"), F.col("_zmax")
    prune = (zmin.isNull() | (zmin <= F.lit(v))) & (zmax.isNull() | (zmax >= F.lit(v)))

    def pos_fn(payload, n, logical, companion):
        payload = bytes(payload)
        cand = column_filter_gt(payload, n, logical, v - 1, companion=companion)
        vals = column_gather(payload, n, logical, cand, companion=companion)
        vals64 = (
            vals.to_numpy().astype("datetime64[us]").view("int64")
            if logical.startswith("timestamp")
            else np.asarray(vals.to_numpy(), dtype=np.int64)
        )
        return cand[vals64 == v]

    return _gather_table(spark, store, column, out_cols, pos_fn, prune)


def filter_mod_band_table(
    spark: SparkSession,
    store: str,
    column: str,
    base: int,
    lo: int,
    hi: int,
    out_cols: list[str],
) -> DataFrame:
    """SELECT out_cols WHERE lo < column % base < hi — the periodic band
    filter (``headers/piecewise_fix_integer_template.h:254-303``, sensor
    use case). Zone maps cannot prune a modular predicate; inside the kernel
    the codec's per-period model inversion (``column_filter_mod_band``)
    touches only slots whose prediction window intersects a band period,
    falling back to a single full decode for codecs without a model."""

    def pos_fn(payload, n, logical, companion):
        return column_filter_mod_band(bytes(payload), n, logical, base, lo, hi, companion=companion)

    return _gather_table(spark, store, column, out_cols, pos_fn)


def select_bitmap_table(
    spark: SparkSession,
    store: str,
    bitmap_col: str,
    base: int,
    rem: int,
    out_cols: list[str],
) -> DataFrame:
    """Selective decode under a selection bitmap (operator #31,
    ``experiments/test_bitmap.cpp:116-165``; bitmaps generated at selectivity
    p by ``scripts/gen_bitmap.py``).

    The bitmap is the set of rows with ``bitmap_col % base == rem`` —
    materialized per chunk by decoding the (cheap) bitmap column once; the
    projected ``out_cols`` are then decoded ONLY at set positions via the
    codec gather kernels, switching to full-block decode above the ~0.2
    density threshold the reference measured (density-adaptive hybrid,
    ``test_bitmap.cpp:131-165`` — implemented in ``select.column_gather``).
    Null bitmap values never match.
    """
    from ..select import column_decode_i64

    def pos_fn(payload, n, logical, companion):
        v64, valid = column_decode_i64(bytes(payload), n, logical, companion=companion)
        pos_dense = np.flatnonzero(v64 % base == rem)
        if valid is not None:
            return np.flatnonzero(valid)[pos_dense]
        return pos_dense

    return _gather_table(spark, store, bitmap_col, out_cols, pos_fn)


def minmax_column(spark: SparkSession, store: str, column: str) -> DataFrame:
    """MIN/MAX(column) from per-chunk zone maps only — no payload touched.

    Zone maps are exact per-chunk min/max (int/timestamp: ``zmin``/``zmax``
    in the signed µs domain; strings: ``zsmin``/``zsmax`` in UTF8-binary
    order, the collation Spark and DuckDB both compare with), so the global
    extrema are a metadata-only Parquet scan of two leaves plus a built-in
    aggregate — the MIN/MAX analogue of :func:`sum_column` (the reference
    reads one chunk header for the same answer, its zone-map fields at
    ``experiments/leco_int_fix_template.cpp:222-249``). All-null chunks
    carry null zone maps and are skipped by the aggregate. Output columns:
    ``min_<col>``, ``max_<col>``.
    """
    doc = load_store_schema(store)
    logical = dict(store_colspecs(doc))[column]
    if logical == "string":
        lo, hi = "zsmin", "zsmax"
        conv = lambda c: c  # noqa: E731
    elif logical in _INT_LOGICALS:
        lo, hi = "zmin", "zmax"
        if logical == "int32":
            conv = lambda c: c.cast(T.IntegerType())  # noqa: E731
        elif logical == "timestamp_us":
            conv = F.timestamp_micros
        elif logical == "timestamp_ntz_us":
            # session tz is pinned to UTC (sources.session), so the
            # TIMESTAMP → TIMESTAMP_NTZ cast is the identity on the µs value
            conv = lambda c: F.timestamp_micros(c).cast(T.TimestampNTZType())  # noqa: E731
        else:
            conv = lambda c: c  # noqa: E731
    else:
        raise ValueError(f"minmax_column: unsupported logical type {logical}")
    chunks = read_chunks(
        spark,
        store,
        doc=doc,
        leaves=[
            F.col(f"{col_field(column)}.{lo}").alias("_lo"),
            F.col(f"{col_field(column)}.{hi}").alias("_hi"),
        ],
    )
    return chunks.agg(
        conv(F.min("_lo")).alias(f"min_{column}"),
        conv(F.max("_hi")).alias(f"max_{column}"),
    )


def avg_column(spark: SparkSession, store: str, column: str) -> DataFrame:
    """AVG(column) from per-chunk metadata only: ``Σ vsum / Σ nvalid``.

    Both operands are exact integers persisted at encode time (``vsum`` the
    exact value sum, ``nvalid`` the non-null count, v2.2), so the plan is a
    two-leaf metadata scan + one built-in aggregate + a single double
    division — bit-identical to ``CAST(SUM(col) AS DOUBLE) / COUNT(col)``
    whenever the sum is exactly representable. Pre-v2.2 stores read a null
    ``nvalid`` and fall back to ``n_rows`` (exact for null-free columns —
    re-encode to upgrade). Output column: ``avg_<col>``.
    """
    doc = load_store_schema(store)
    logical = dict(store_colspecs(doc))[column]
    if logical not in ("int32", "int64"):
        raise ValueError(f"avg_column supports int columns, got {logical}")
    chunks = read_chunks(
        spark,
        store,
        doc=doc,
        leaves=[
            F.col(f"{col_field(column)}.vsum").alias("_s"),
            F.coalesce(F.col(f"{col_field(column)}.nvalid"), F.col("n_rows")).alias("_n"),
        ],
    )
    return chunks.agg(
        (F.sum("_s").cast(T.DoubleType()) / F.sum("_n").cast(T.DoubleType())).alias(
            f"avg_{column}"
        )
    )


def group_count_string_table(spark: SparkSession, store: str, column: str) -> DataFrame:
    """SELECT column, COUNT(*) GROUP BY column over the chunk store.

    Per chunk, the kernel emits at most ``n_distinct`` partial rows
    (``select.column_value_counts_string``): dict-coded chunks count in the
    CODE domain — decode the (tiny) unique dictionary plus the int code
    column and ``bincount``, so no row string ever materializes (the GROUP
    BY analogue of the reference's dictionary operators,
    ``experiments/raw_test_dictionary.cpp:107-112``); other codecs decode
    once and count with Arrow's C++ ``value_counts``. The shuffle then
    carries only (value, count) partials — the map-side-combined shape that
    stays tiny at any scale — and a built-in groupBy sums them. NULL rows
    form SQL's NULL group. Output columns: ``<col>``, ``cnt``.
    """
    import pyarrow as pa

    from ..select import column_value_counts_string

    doc = load_store_schema(store)
    if dict(store_colspecs(doc))[column] != "string":
        raise ValueError("group_count_string_table supports string columns")
    sel = read_chunks(
        spark,
        store,
        doc=doc,
        leaves=[F.col("n_rows"), F.col(f"{col_field(column)}.payload").alias("p")],
    )

    def kernel(batches):
        for rb in batches:
            n_rows = rb.column(rb.schema.get_field_index("n_rows"))
            payloads = rb.column(rb.schema.get_field_index("p"))
            vals: list = []
            cnts: list = []
            for i in range(rb.num_rows):
                uniq, counts, nulls = column_value_counts_string(
                    bytes(payloads[i].as_py()), int(n_rows[i].as_py())
                )
                vals.extend(uniq.to_pylist())
                cnts.extend(int(c) for c in counts)
                if nulls:
                    vals.append(None)
                    cnts.append(nulls)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, pa.string()), pa.array(cnts, pa.int64())],
                names=[column, "cnt"],
            )

    partials = sel.mapInArrow(
        kernel,
        T.StructType(
            [
                T.StructField(column, T.StringType(), True),
                T.StructField("cnt", T.LongType(), False),
            ]
        ),
    )
    return partials.groupBy(column).agg(F.sum("cnt").alias("cnt"))


def sum_filtered_column(
    spark: SparkSession, store: str, column: str, filter_col: str, value: int
) -> DataFrame:
    """SUM(column) WHERE filter_col > value — the hybrid zone-pruned
    aggregate (zone-map skipping #30 composed with SUM pushdown #32, the
    combination the reference runs as filter-then-sum over block headers,
    ``experiments/leco_int_fix_template.cpp:222-249`` +
    ``headers/piecewise_fix_op.h:167-284``).

    Chunks split three ways on the filter column's zone map, each at its
    cheapest tier:

    * **pruned** (``zmax <= value``): dropped AT THE PARQUET SCAN by the
      pushed nested predicate — payload bytes never deserialized;
    * **interior** (``zmin > value`` and the filter column provably
      null-free in the chunk, ``nvalid == n_rows``): every row qualifies,
      so the chunk contributes its persisted ``vsum``/``nvalid`` metadata —
      payload never read;
    * **boundary** (zone map straddles the threshold): the only chunks that
      touch payload — the codec's model-inversion ``filter_gt`` finds match
      positions and the measure column is summed exactly at those positions
      (``select.column_sum_at``).

    At any scale the boundary set is O(chunks whose range straddles one
    threshold) — for sorted/clustered columns a constant number per
    partition. ``value`` is in the filter column's signed domain (µs since
    epoch for timestamps). Returns NULL when no qualifying non-null value
    exists (SQL SUM semantics). Output column: ``sum_<column>``.
    """
    doc = load_store_schema(store)
    logical_of = dict(store_colspecs(doc))
    if logical_of[column] not in _INT_LOGICALS:
        raise ValueError(f"sum_filtered_column sums int/timestamp columns, got {logical_of[column]}")
    if logical_of[filter_col] not in _INT_LOGICALS:
        raise ValueError(f"filter column must be int/timestamp, got {logical_of[filter_col]}")
    v = int(value)
    dec = T.DecimalType(38, 0)
    fz = col_field(filter_col)
    zmin, zmax = F.col(f"{fz}.zmin"), F.col(f"{fz}.zmax")
    # interior requires PROOF: zone-map strictly above the threshold AND a
    # null-free filter column (a null filter row never matches, but vsum
    # would still include its measure value) — eqNullSafe sends pre-v2.2
    # chunks (null nvalid) to the boundary kernel, which is always correct
    interior_pred = F.coalesce(zmin > F.lit(v), F.lit(False)) & F.col(
        f"{fz}.nvalid"
    ).eqNullSafe(F.col("n_rows").cast(T.LongType()))
    # null zmax = no zone map (defensive: decide in the kernel, like
    # filter_gt_table); zmax <= value chunks are pruned at the scan
    boundary_pred = (zmax.isNull() | (zmax > F.lit(v))) & ~interior_pred

    interior = (
        read_chunks(
            spark,
            store,
            doc=doc,
            leaves=[
                F.col(f"{col_field(column)}.vsum").alias("partial"),
                F.coalesce(
                    F.col(f"{col_field(column)}.nvalid"), F.col("n_rows").cast(T.LongType())
                ).alias("nn"),
                interior_pred.alias("_keep"),
            ],
        )
        .filter(F.col("_keep"))
        .select(F.col("partial").cast(dec).alias("partial"), "nn")
    )

    c_logical, f_logical = logical_of[column], logical_of[filter_col]
    linked = doc.get("linked_cols") or {}
    need = list(dict.fromkeys([filter_col, column]))
    comp_of_name = {t: c for t, c in linked.items() if t in need}
    read_cols = list(dict.fromkeys(need + list(comp_of_name.values())))
    leaves = [F.col("n_rows")] + [
        F.col(f"{col_field(n)}.payload").alias(f"p_{n}") for n in read_cols
    ] + [boundary_pred.alias("_keep")]
    boundary_sel = read_chunks(spark, store, leaves=leaves, doc=doc).filter(F.col("_keep"))

    from decimal import Decimal

    from ..select import column_filter_gt as _filter_gt
    from ..select import column_sum_at as _sum_at

    def kernel(batches):
        for pdf in batches:
            parts, nns = [], []
            for i in range(len(pdf)):
                n = int(pdf["n_rows"].iloc[i])

                def comp(name):
                    cname = comp_of_name.get(name)
                    if cname is None:
                        return None
                    return (bytes(pdf[f"p_{cname}"].iloc[i]), logical_of[cname])

                pos = _filter_gt(
                    bytes(pdf[f"p_{filter_col}"].iloc[i]), n, f_logical, v,
                    companion=comp(filter_col),
                )
                s, nn = _sum_at(
                    bytes(pdf[f"p_{column}"].iloc[i]), n, c_logical, pos,
                    companion=comp(column),
                )
                parts.append(Decimal(s))
                nns.append(nn)
            yield pd.DataFrame({"partial": parts, "nn": pd.array(nns, dtype="int64")})

    boundary = boundary_sel.mapInPandas(
        kernel,
        T.StructType(
            [T.StructField("partial", dec), T.StructField("nn", T.LongType())]
        ),
    )
    u = interior.unionByName(boundary)
    return u.agg(
        F.when(F.sum("nn") > 0, F.sum("partial").cast(dec))
        .otherwise(F.lit(None).cast(dec))
        .alias(f"sum_{column}")
    )


def group_sum_string_table(
    spark: SparkSession, store: str, key_col: str, val_col: str
) -> DataFrame:
    """SELECT key_col, SUM(val_col) GROUP BY key_col over the chunk store.

    Per chunk the kernel pairs the key column's CODE-domain view
    (``select.column_codes_string`` — dict chunks never materialize a row
    string) with one decode of the measure column, and accumulates exact
    per-group sums with integer ``add.at`` on split 32-bit halves (no
    float64 weights, so sums stay exact for full-range int64). The shuffle
    carries at most ``n_distinct`` partial rows per chunk — (key, hi, lo,
    nn) — and the final groupBy reassembles ``hi·2^32 + lo`` in decimal.
    SQL semantics: null measure values are skipped, a group whose values
    are all null sums to NULL, and null keys form their own group. Output
    columns: ``<key_col>``, ``sum_<val_col>`` (decimal(38,0)).
    """
    from ..select import column_codes_string, column_decode_i64

    doc = load_store_schema(store)
    logical_of = dict(store_colspecs(doc))
    if logical_of[key_col] != "string":
        raise ValueError("group_sum_string_table groups by a string column")
    if logical_of[val_col] not in _INT_LOGICALS:
        raise ValueError(f"group_sum_string_table sums int/timestamp columns, got {logical_of[val_col]}")
    v_logical = logical_of[val_col]
    comp_name = (doc.get("linked_cols") or {}).get(val_col)
    read_cols = list(dict.fromkeys([key_col, val_col] + ([comp_name] if comp_name else [])))
    leaves = [F.col("n_rows")] + [
        F.col(f"{col_field(n)}.payload").alias(f"p_{n}") for n in read_cols
    ]
    sel = read_chunks(spark, store, leaves=leaves, doc=doc)

    def kernel(batches):
        for pdf in batches:
            keys: list = []
            his: list = []
            los: list = []
            nns: list = []
            for i in range(len(pdf)):
                n = int(pdf["n_rows"].iloc[i])
                uniq, codes, valid_k = column_codes_string(
                    bytes(pdf[f"p_{key_col}"].iloc[i]), n
                )
                companion = None
                if comp_name is not None:
                    companion = (bytes(pdf[f"p_{comp_name}"].iloc[i]), logical_of[comp_name])
                v64, valid_v = column_decode_i64(
                    bytes(pdf[f"p_{val_col}"].iloc[i]), n, v_logical, companion=companion
                )
                K = len(uniq)
                # group id per row: 0..K-1 = dictionary code, K = NULL key
                if valid_k is None:
                    g = codes
                else:
                    g = np.full(n, K, dtype=np.int64)
                    g[np.flatnonzero(valid_k)] = codes
                if valid_v is None:
                    gv, sv = g, v64
                else:
                    gv, sv = g[valid_v], v64
                acc_hi = np.zeros(K + 1, np.int64)
                acc_lo = np.zeros(K + 1, np.int64)
                np.add.at(acc_hi, gv, sv >> np.int64(32))
                np.add.at(acc_lo, gv, sv & np.int64(0xFFFFFFFF))
                nn = np.bincount(gv, minlength=K + 1)
                present = np.bincount(g, minlength=K + 1) > 0
                names = uniq.to_pylist() + [None]
                for j in np.flatnonzero(present):
                    keys.append(names[j])
                    his.append(int(acc_hi[j]))
                    los.append(int(acc_lo[j]))
                    nns.append(int(nn[j]))
            yield pd.DataFrame(
                {
                    key_col: pd.array(keys, dtype=object),
                    "hi": pd.array(his, dtype="int64"),
                    "lo": pd.array(los, dtype="int64"),
                    "nn": pd.array(nns, dtype="int64"),
                }
            )

    partials = sel.mapInPandas(
        kernel,
        T.StructType(
            [
                T.StructField(key_col, T.StringType(), True),
                T.StructField("hi", T.LongType(), False),
                T.StructField("lo", T.LongType(), False),
                T.StructField("nn", T.LongType(), False),
            ]
        ),
    )
    dec = T.DecimalType(38, 0)
    total = (
        F.sum("hi").cast(dec) * F.lit(1 << 32).cast(dec) + F.sum("lo").cast(dec)
    ).cast(dec)
    return partials.groupBy(key_col).agg(
        F.when(F.sum("nn") > 0, total).otherwise(F.lit(None).cast(dec)).alias(f"sum_{val_col}")
    )


def count_distinct_string(spark: SparkSession, store: str, column: str) -> DataFrame:
    """COUNT(DISTINCT column) over a string column of the chunk store.

    Per chunk the kernel emits each distinct value ONCE (dict chunks: the
    stored dictionary restricted to codes in use — no row string
    materialized; other codecs: one decode + Arrow ``value_counts``), so the
    shuffle carries ≤ n_distinct rows per chunk and Spark's two-phase
    ``count_distinct`` dedups map-side first. NULL is excluded, per SQL.
    Output column: ``ndv_<col>``.
    """
    import pyarrow as pa

    from ..select import column_value_counts_string

    doc = load_store_schema(store)
    if dict(store_colspecs(doc))[column] != "string":
        raise ValueError("count_distinct_string supports string columns")
    sel = read_chunks(
        spark,
        store,
        doc=doc,
        leaves=[F.col("n_rows"), F.col(f"{col_field(column)}.payload").alias("p")],
    )

    def kernel(batches):
        for rb in batches:
            n_rows = rb.column(rb.schema.get_field_index("n_rows"))
            payloads = rb.column(rb.schema.get_field_index("p"))
            vals: list = []
            for i in range(rb.num_rows):
                uniq, _counts, _nulls = column_value_counts_string(
                    bytes(payloads[i].as_py()), int(n_rows[i].as_py())
                )
                vals.extend(uniq.to_pylist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, pa.string())], names=[column]
            )

    partials = sel.mapInArrow(
        kernel, T.StructType([T.StructField(column, T.StringType(), False)])
    )
    return partials.agg(F.count_distinct(F.col(column)).alias(f"ndv_{column}"))
