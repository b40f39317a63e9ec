"""Seeded pushdown queries over a chunk store, their plain-Spark answers, and
the zone-map survivors each one should leave (counted from chunk metadata).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from inputs import checksum, masked_checksums

#: operators answered as an order-independent (count, hash-sum) checksum
_FILTERS = {
    "filter_gt": "filter_gt_table",
    "filter_range": "filter_range_table",
    "filter_eq_string": "filter_eq_string_table",
    "filter_prefix_string": "filter_prefix_string_table",
    "lookup_eq": "lookup_eq_table",
}


@dataclass
class Query:
    kind: str
    column: str | None = None
    params: tuple = ()
    out: tuple = ()
    expected: object = None

    def run(self, spark, store):
        """Answer from the chunk store, in a form comparable to ``expected``."""
        from learn_to_compress_spark import operators as ops
        from learn_to_compress_spark.jobs import decode_table

        out = list(self.out)
        if self.kind == "decode":
            return checksum(decode_table(spark, store), out)
        if self.kind == "sum":
            return int(ops.sum_column(spark, store, self.column).collect()[0][0])
        if self.kind == "topk":
            k, tiebreak = self.params
            rows = ops.topk_table(spark, store, self.column, k, out, tiebreak).collect()
            return [tuple(r) for r in rows]
        if self.kind == "group_count":
            rows = ops.group_count_string_table(spark, store, self.column).collect()
            return _groups((r[0], int(r[1])) for r in rows)
        fn = getattr(ops, _FILTERS[self.kind])
        return checksum(fn(spark, store, self.column, *self.params, out), out)

    def predicate(self, raw):
        """The same predicate in plain Spark over the raw input."""
        from pyspark.sql import functions as F

        if self.kind == "decode":
            return F.lit(True)
        c = F.col(self.column)
        if dict(raw.dtypes)[self.column].startswith("timestamp"):
            c = F.unix_micros(c)  # operators take timestamps in µs
        p = self.params
        return {
            "filter_gt": lambda: c > F.lit(p[0]),
            "filter_range": lambda: (c > F.lit(p[0])) & (c <= F.lit(p[1])),
            "filter_eq_string": lambda: c == F.lit(p[0]),
            "filter_prefix_string": lambda: c.startswith(p[0]),
            "lookup_eq": lambda: c == F.lit(p[0]),
        }[self.kind]()


def _groups(pairs):
    return sorted(pairs, key=lambda kv: (kv[0] is None, kv[0] or ""))


def attach_expected(raw, queries: list[Query]) -> None:
    """Fill ``Query.expected`` from plain Spark over ``raw``: one job for
    every checksum-style query, one per top-k, group-by and sum."""
    from pyspark.sql import functions as F

    masked = [q for q in queries if q.kind == "decode" or q.kind in _FILTERS]
    for q, ck in zip(
        masked, masked_checksums(raw, [(q.predicate(raw), list(q.out)) for q in masked])
    ):
        q.expected = ck
    cache: dict = {}
    for q in queries:
        if q.expected is not None:
            continue
        key = (q.kind, q.column, q.params, q.out)
        if key not in cache:
            if q.kind == "sum":
                cache[key] = int(raw.agg(F.sum(q.column)).collect()[0][0])
            elif q.kind == "topk":
                k, tiebreak = q.params
                rows = (
                    raw.orderBy(F.col(q.column).desc(), F.col(tiebreak).desc())
                    .limit(k)
                    .select(*q.out)
                    .collect()
                )
                cache[key] = [tuple(r) for r in rows]
            else:
                rows = raw.groupBy(q.column).count().collect()
                cache[key] = _groups((r[0], int(r[1])) for r in rows)
        q.expected = cache[key]


def _i64(values) -> np.ndarray:
    v = np.asarray(values)
    return v.astype("datetime64[us]").view(np.int64) if v.dtype.kind == "M" else v.astype(np.int64)


def transcript_queries(pdf, rng) -> list[Query]:
    """One round: every transcript operator once, seeded constants, seeded
    order."""
    ts = _i64(pdf["ts"].to_numpy())
    conv = pdf["conv_id"].to_numpy()
    lo = float(rng.uniform(0.1, 0.8))
    qs = [
        Query("decode", out=tuple(pdf.columns)),
        Query("sum", "turn_idx"),
        Query("filter_gt", "ts", (int(np.quantile(ts, rng.uniform(0.9, 0.99))),),
              ("conv_id", "turn_idx", "ts")),
        Query("filter_range", "ts",
              (int(np.quantile(ts, lo)), int(np.quantile(ts, lo + 0.05))),
              ("conv_id", "turn_idx")),
        Query("filter_eq_string", "role",
              (str(rng.choice(["system", "user", "assistant", "tool"])),),
              ("conv_id", "turn_idx")),
        Query("filter_prefix_string", "conv_id",
              (str(conv[rng.integers(len(conv))])[:-2],), ("conv_id", "turn_idx", "role")),
        Query("topk", "ts", (10, "turn_idx"), ("conv_id", "turn_idx", "ts")),
        Query("group_count", "tool"),
        Query("lookup_eq", "turn_idx", (int(rng.integers(0, 64)),), ("conv_id", "turn_idx")),
    ]
    return [qs[i] for i in rng.permutation(len(qs))]


def zone_survivors(q: Query, meta) -> tuple[int, int]:
    """``(chunks_total, chunks_kept)``: chunks the operator's zone-map
    predicate keeps, evaluated on the chunk metadata (``inputs.store_chunks``
    with ``meta=True``). Operators without a zone-map predicate keep all."""
    total = meta.num_rows
    if q.kind in ("decode", "sum", "group_count"):
        return total, total
    c, p = q.column, q.params

    def num(field):
        return meta.column(f"{c}.{field}").to_numpy(zero_copy_only=False).astype(np.float64)

    if q.kind in ("filter_eq_string", "filter_prefix_string"):
        from learn_to_compress_spark.select import prefix_upper_bound

        zmin = meta.column(f"{c}.zsmin").to_pylist()
        zmax = meta.column(f"{c}.zsmax").to_pylist()
        v = p[0]
        if q.kind == "filter_eq_string":
            keep = [(a is None or a <= v) and (b is None or b >= v) for a, b in zip(zmin, zmax)]
        else:
            hi = prefix_upper_bound(v.encode())
            keep = [
                (b is None or b >= v) and (a is None or hi is None or a.encode() < hi)
                for a, b in zip(zmin, zmax)
            ]
        return total, int(sum(keep))
    zmin, zmax = num("zmin"), num("zmax")
    open_max = np.isnan(zmax)
    if q.kind == "filter_gt":
        keep = open_max | (zmax > p[0])
    elif q.kind == "filter_range":
        keep = (open_max | (zmax > p[0])) & (np.isnan(zmin) | (zmin <= p[1]))
    elif q.kind == "lookup_eq":
        keep = (np.isnan(zmin) | (zmin <= p[0])) & (open_max | (zmax >= p[0]))
    else:  # topk: the operator's metadata-only bound (k-th largest chunk zmin)
        nvalid = np.nan_to_num(num("nvalid"))
        has = ~np.isnan(zmin)
        order = np.argsort(-zmin[has], kind="stable")
        cum = np.cumsum(nvalid[has][order])
        hit = np.flatnonzero(cum >= p[0])
        if hit.size == 0:
            return total, total
        keep = open_max | (zmax >= zmin[has][order][hit[0]])
    return total, int(keep.sum())
