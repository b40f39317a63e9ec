"""Deduplication operators for training-data pipelines.

Four families, each designed for the 100 TB shape:

* **exact** — hash-groupBy; one shuffle on the 16-byte digest, never on text.
* **MinHash + LSH** — shingle → minhash signature (one numpy pass per Arrow
  batch — no per-document Python) → band → capped bucket self-join → exact
  shingle-Jaccard verification of candidates (also one numpy pass per pair
  batch). All-pairs work is confined to LSH buckets, and hot buckets (e.g.
  near-empty documents sharing a band) are dropped by a size cap so no
  skewed key can go quadratic.
* **SimHash** — 64-bit token-vote signature computed ENTIRELY JVM-side from
  md5 token hashes (pure column expressions, whole-stage codegen, and —
  deliberately — bit-identical to a DuckDB SQL oracle); near-dup candidates
  via 4×16-bit band buckets (any pair within Hamming ≤ 3 agrees on ≥1
  band), verified by popcount.
* **embedding cosine** — see ``similarity.near_dup_pairs``.

MinHash hashing is splitmix64 over shingle bytes — deterministic across
workers and sessions (never Python's seeded ``hash``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK = (1 << 64) - 1

DEFAULT_BUCKET_CAP = 256


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer with minimal temporaries (two buffers instead of
    eight — the kernel is memory-bandwidth bound on large batches). Does not
    mutate its input."""
    z = z + np.uint64(0x9E3779B97F4A7C15)  # fresh buffer; in-place below
    w = z >> np.uint64(30)
    z ^= w
    z *= np.uint64(0xBF58476D1CE4E5B9)
    np.right_shift(z, np.uint64(27), out=w)
    z ^= w
    z *= np.uint64(0x94D049BB133111EB)
    np.right_shift(z, np.uint64(31), out=w)
    z ^= w
    return z


def _batch_shingle_hashes(texts, k: int = 5) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes for a whole batch of documents in ONE vectorized pass.

    Returns ``(hashes, bounds)``: all k-byte-window splitmix64 hashes of the
    concatenated batch (windows never cross document boundaries) and the
    per-document segment bounds into ``hashes`` (len = n_docs + 1). Hashes
    are NOT deduplicated per document — min-reduction is unaffected by
    duplicates, and Jaccard dedups on its own.
    """
    bufs = []
    for t in texts:
        b = (t or "").encode("utf-8")
        if len(b) < k:
            b = b + b"\x00" * (k - len(b))
        bufs.append(b)
    lens = np.array([len(b) for b in bufs], np.int64)
    blob = np.frombuffer(b"".join(bufs), np.uint8)
    doc_starts = np.concatenate(([0], np.cumsum(lens)))
    counts = lens - k + 1
    n_win = int(counts.sum())
    # global start index of every window (segment-local aranges, vectorized)
    seg_first = np.cumsum(counts) - counts
    base = np.repeat(doc_starts[:-1] - seg_first, counts)
    wstart = base + np.arange(n_win, dtype=np.int64)
    win = np.zeros((n_win, 8), np.uint8)
    for j in range(k):
        win[:, j] = blob[wstart + j]
    h = _splitmix64(win.view(np.uint64).ravel())
    return h, np.concatenate(([0], np.cumsum(counts)))


def _minhash_params(num_hashes: int) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.integers(0, _MASK, size=num_hashes, dtype=np.uint64)


_WIN_BLOCK = 1 << 16  # windows per block: (64k × 64 seeds × 8 B) = 32 MB


def _batch_signatures(texts, seeds: np.ndarray, k: int) -> np.ndarray:
    """(n_docs, n_seeds) uint64 MinHash signatures; per-document mins via
    ``np.minimum.reduceat`` over the batch's shingle hashes — no Python loop
    over documents. The window axis is processed in cache-sized blocks so
    the (windows × seeds) intermediate never balloons (a single matrix for
    1M windows would churn ~750 MB of temporaries and run memory-bound)."""
    n_docs = len(texts)
    h, bounds = _batch_shingle_hashes(texts, k)
    counts = np.diff(bounds)
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    out = np.full((n_docs, seeds.size), np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64)
    for s in range(0, h.size, _WIN_BLOCK):
        hb = h[s : s + _WIN_BLOCK]
        docs = doc_of[s : s + _WIN_BLOCK]
        mixed = _splitmix64((hb[:, None] ^ seeds[None, :]).ravel()).reshape(
            hb.size, seeds.size
        )
        starts = np.concatenate(([0], np.flatnonzero(docs[1:] != docs[:-1]) + 1))
        local = np.minimum.reduceat(mixed, starts, axis=0)
        uniq = docs[starts]  # unique within a block (consecutive grouping)
        out[uniq] = np.minimum(out[uniq], local)
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, signature array<long>) via a vectorized pandas UDF — the whole
    Arrow batch is hashed in one numpy pass (no per-document loop)."""
    seeds = _minhash_params(num_hashes)

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("signature", T.ArrayType(T.LongType())),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            sigs = _batch_signatures(list(pdf[text_col]), seeds, shingle_k)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "signature": list(sigs.view(np.int64)),
                }
            )

    return _widen(df.select(id_col, text_col)).mapInPandas(kernel, schema)


def _widen(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before a CPU-heavy kernel.

    A small parquet file arrives in 1-2 scan partitions, which would leave
    all but two cores idle through the signature kernel. At 100 TB the input
    already has far more partitions than cores and this is a no-op."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def _cap_buckets(banded: DataFrame, cap: int, keys=("band", "bucket")) -> DataFrame:
    """Drop bucket keys with more than ``cap`` members before a bucket
    self-join — one hot key (empty-ish documents sharing a band) would
    otherwise make the join quadratic at scale. The hot-key list is tiny by
    definition, so it broadcasts into an anti-join; dropped buckets trade
    recall on degenerate duplicates for a bounded join, which exact-dedup
    already catches."""
    keys = list(keys)
    hot = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > cap)
        .select(*keys)
    )
    return banded.join(F.broadcast(hot), keys, "left_anti")


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 16, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Band the signatures and self-join buckets → candidate (id_a, id_b).

    The join key is (band index, band hash): only documents agreeing on a
    whole band meet, so the shuffle is tiny relative to all-pairs; hot
    buckets beyond ``bucket_cap`` are dropped (see ``_cap_buckets``).
    """
    banded = sigs.select(
        F.col("id"),
        F.posexplode(
            F.transform(
                F.array([F.lit(i) for i in range(bands)]),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("signature"),
                        b * (F.size(F.col("signature")) / bands).cast("int") + 1,
                        (F.size(F.col("signature")) / bands).cast("int"),
                    ),
                    b,
                ),
            )
        ).alias("band", "bucket"),
    )
    banded = _cap_buckets(banded, bucket_cap)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def _batch_jaccard(ids_a, texts_a, ids_b, texts_b, k: int) -> np.ndarray:
    """Exact shingle-Jaccard for a batch of pairs.

    Candidate pairs share documents heavily (one doc appears in many
    pairs), so each DISTINCT document's shingle set is built exactly once —
    batch-vectorized hashing + one per-doc sort — and each pair's
    intersection is ONE ``searchsorted`` membership count of the smaller
    presorted set in the larger (no concatenate-and-sort per pair: ~2× less
    work than round 2's ``intersect1d``).

    Measured alternative (rejected): flattening every pair's rank lists
    into global tagged streams and resolving all intersections with one
    searchsorted pass eliminates the per-pair Python call but materializes
    Σ|set| × ~8 intermediate 30M-element arrays — 17 s vs 1.5 s for 200k
    pairs over 200 docs (2 GB of allocation churn loses to L1-resident
    per-pair merges at every scale tried: 20k/100k/200k pairs, small and
    large sets). The per-pair loop is the fast shape here, not a fallback."""
    ids_a = np.asarray(ids_a)
    ids_b = np.asarray(ids_b)
    uniq_ids, inv = np.unique(np.concatenate([ids_a, ids_b]), return_inverse=True)
    first = {}
    for i, t in zip(ids_a, texts_a):
        first.setdefault(i, t)
    for i, t in zip(ids_b, texts_b):
        first.setdefault(i, t)
    texts = [first[i] for i in uniq_ids]
    h, bounds = _batch_shingle_hashes(texts, k)
    sets = [np.unique(h[bounds[d] : bounds[d + 1]]) for d in range(len(uniq_ids))]
    n = len(ids_a)
    ia, ib = inv[:n], inv[n:]
    out = np.empty(n, np.float64)
    for j in range(n):
        A, B = sets[ia[j]], sets[ib[j]]
        if A.size > B.size:
            A, B = B, A
        if A.size == 0:
            out[j] = 1.0 if B.size == 0 else 0.0
            continue
        idx = np.searchsorted(B, A)
        idx[idx == B.size] = B.size - 1
        inter = int((B[idx] == A).sum())
        union = A.size + B.size - inter
        out[j] = inter / union
    return out


def verify_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs → (id_a, id_b, jaccard)."""
    texts = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    joined = (
        pairs.join(texts, pairs.id_a == texts._id)
        .withColumnRenamed("_text", "text_a")
        .drop("_id")
        .join(texts, pairs.id_b == texts._id)
        .withColumnRenamed("_text", "text_b")
        .drop("_id")
    )

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            jac = _batch_jaccard(
                pdf["id_a"].to_numpy(),
                list(pdf["text_a"]),
                pdf["id_b"].to_numpy(),
                list(pdf["text_b"]),
                shingle_k,
            )
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "jaccard": jac}
            )

    out = joined.mapInPandas(kernel, schema)
    return out.filter(F.col("jaccard") >= threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified (id_a, id_b, jaccard).

    Three-stage funnel, each stage cheaper per survivor than the next:
    1. banded bucket join → candidates (template-heavy corpora produce MANY
       mid-similarity candidates: 4-hash bands admit ~90% of J≈0.6 pairs);
    2. signature-similarity prefilter, pure JVM: the matching-component
       fraction of the two minhash signatures is an unbiased estimate of J
       (σ = sqrt(J(1-J)/64) ≈ 0.05), so ``est ≥ threshold − 0.2`` (4σ)
       rejects the mid-similarity mass while keeping true pairs — no text
       is shuffled or hashed for rejected candidates;
    3. exact shingle-Jaccard on the survivors.

    Signatures are persisted (MEMORY_AND_DISK — at 10^12 docs they spill
    instead of OOMing): banding consumes them three times and the prefilter
    twice more."""
    from pyspark import StorageLevel

    sigs = minhash_signatures(df, id_col, text_col, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = lsh_candidate_pairs(sigs, bands, bucket_cap)
    est_cut = max(threshold - 0.2, 0.0)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = matches / F.size(F.col("sig_a"))
    pairs = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(est >= F.lit(est_cut))
        .select("id_a", "id_b")
    )
    return verify_jaccard(pairs, df, id_col, text_col, threshold)


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via hash-groupBy: (text_md5, dup_count, keeper_id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("keeper_id"),
        )
    )


# --------------------------------------------------------------------------
# SimHash — pure column expressions (JVM, whole-stage codegen); the md5-based
# token hash makes the signature reproducible in ANSI SQL, so the driver's
# DuckDB oracle can brute-force the same pairs (see queries_pipeline.py)
# --------------------------------------------------------------------------


def _md5_token_hash(tok):
    """First 64 bits of md5(token) as a signed long bit pattern — Spark
    expression; DuckDB equivalent:
    ``cast(concat('0x', substring(md5(tk), 1, 16)) as ubigint)``."""
    hx = F.md5(tok)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, entirely JVM-side.

    Per document: token hashes ``h = md5_64(token)``; bit i of the signature
    is 1 iff tokens voting 1 at bit i are at least half (vote sum ≥ 0).

    Plan shape: explode tokens → hash each token ONCE → one partial+final
    aggregate with 64 bit-vote sums. (The tempting no-shuffle alternative —
    64 array-filter expressions over a ``transform(md5)`` column — is a
    trap: CollapseProject re-inlines the deterministic transform into every
    filter, so md5 runs 64× per token; measured 6× slower than one shuffle
    of 8-byte hashes.)"""
    tok = F.explode_outer(
        F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    ).alias("tk")
    th = df.select(F.col(id_col).cast("long").alias("id"), tok).select(
        "id", _md5_token_hash(F.col("tk")).alias("h")
    )
    votes = [
        F.sum(
            F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = th.groupBy("id").agg(F.count("h").alias("n_tok"), *votes)
    sig = F.lit(0).cast("long")
    for i in range(64):
        bit = (F.col(f"v{i}") >= 0).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    sig = F.when(F.col("n_tok") == 0, F.lit(0)).otherwise(sig)
    return agg.select("id", sig.alias("simhash"))


def _simhash_pairs(banded: DataFrame, join_keys) -> DataFrame:
    """Bucket pair expansion → candidate (id, sig) pairs.

    ONE shuffle groups each bucket's (id, simhash) members into a sorted
    array, then every i<j combination expands MAP-SIDE with higher-order
    functions (``transform``/``slice``/``flatten`` — whole-stage codegen,
    no Python). The r4 self-join shuffled the 4n banded rows twice and
    hash-built one side per band; this halves the shuffled bytes and drops
    the build. Callers cap bucket sizes first (``bucket_cap`` ≤ 256), so a
    member array is bounded and the per-row combination fan-out is ≤
    cap·(cap-1)/2 — never quadratic in the table. The sorted array makes
    ``id_a < id_b`` positional (ids are unique within a bucket)."""
    g = (
        banded.groupBy(*list(join_keys))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id"), F.col("simhash")))
            ).alias("m")
        )
        .filter(F.size("m") >= 2)
    )
    arr = F.col("m")
    combos = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(
                    arr,
                    i + F.lit(2),
                    F.greatest(F.size(arr) - i - F.lit(1), F.lit(0)),
                ),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["simhash"].alias("sig_a"),
                    y["simhash"].alias("sig_b"),
                ),
            ),
        )
    )
    return g.select(F.explode(combos).alias("p")).select(
        "p.id_a", "p.id_b", "p.sig_a", "p.sig_b"
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    **kw,
) -> DataFrame:
    """Near-dups by SimHash: band the 64-bit signature into 4×16-bit keys
    (any pair within Hamming ≤ 3 of each other agrees on ≥1 band), capped
    bucket self-join, verify with popcount. Signatures are persisted — the
    64 array-filter expressions are the expensive stage and the banding
    consumes them four times.

    Over-cap buckets are REFINED, not dropped: members of a hot
    (band, bucket) key already agree on those 16 bits, so their remaining 48
    bits are re-banded into 4×12-bit sub-bands — a pair with total Hamming
    ≤ 3 has ≤ 3 diffs among those 48 bits and therefore still agrees on ≥ 1
    sub-band (same pigeonhole). Exact coverage survives hot template
    clusters (measured: cap-drop lost 7/299 true pairs on the sf0.1 corpus;
    refinement loses none) while each refined bucket shrinks ~16×. Only the
    refined keys that are STILL over cap are dropped (a swarm of
    near-identical signatures — quadratic by nature, and its exact
    duplicates are exact-dedup's job)."""
    from pyspark import StorageLevel

    # persist the SIGNATURES, not the banded rows. Measured A/B (sf0.1, 3
    # interleaved rounds in one noise window): persist-sigs best 2.62 s vs
    # persist-bands best 6.44 s — the 64-expression signature stage is the
    # expensive part and caching n narrow rows beats caching the 4n-row
    # posexplode output whose projection is four shift-ANDs.
    sigs = simhash_signatures(df, **kw).persist(StorageLevel.MEMORY_AND_DISK)
    bands = sigs.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "bucket"),
    )

    keys = ["band", "bucket"]
    # ONE driver action decides hot buckets AND yields the key list itself:
    # the count aggregate pre-aggregates map-side (the shuffle carries
    # (band, bucket, partial-count) rows, not banded rows), the over-cap
    # keys are tiny by definition, and the collected LITERAL list feeds the
    # anti/semi joins below — r4 instead ran a limit(1).count() probe and
    # then re-executed the whole aggregation inside EACH broadcast join.
    hot_keys = [
        (int(r[0]), int(r[1]))
        for r in bands.groupBy(*keys)
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > bucket_cap)
        .select(*keys)
        .collect()
    ]
    # common case: no bucket exceeds the cap — skip the refinement branch's
    # extra shuffles entirely
    if not hot_keys:
        pairs = _simhash_pairs(bands, keys).distinct()
        hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        return pairs.filter(hamming <= max_hamming).select(
            "id_a", "id_b", hamming.cast("int").alias("hamming")
        )
    # the hot/cold split is a MAP-SIDE filter, not a join: (band, bucket)
    # packs into one long (band is 0-3, bucket is 16 bits) and the literal
    # IN-list compiles to a hash-set probe inside whole-stage codegen —
    # cheaper than even a broadcast join, and the list stays small (≤ 4n/cap
    # keys can exceed the cap, and only degenerate swarms do)
    hot64 = [b << 16 | v for b, v in hot_keys]
    hkey = F.shiftleft(F.col("band").cast("long"), 16).bitwiseOR(F.col("bucket"))
    cold = bands.filter(~hkey.isin(hot64))
    hot_rows = bands.filter(hkey.isin(hot64))

    cand = _simhash_pairs(cold, keys)
    # refinement pass: compact the three non-key bands into 48 bits, re-band
    # into 4×12-bit sub-buckets, cap again
    others = [
        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
        for i in range(4)
    ]
    rem = F.lit(0).cast("long")
    for b in range(4):
        packed = F.lit(0).cast("long")
        for j, i in enumerate([i for i in range(4) if i != b]):
            packed = packed.bitwiseOR(F.shiftleft(others[i], 16 * j))
        rem = F.when(F.col("band") == b, packed).otherwise(rem)
    refined = hot_rows.select(
        "id",
        "simhash",
        "band",
        "bucket",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(rem, 12 * j).bitwiseAND(F.lit(0xFFF))
                    for j in range(4)
                ]
            )
        ).alias("sub", "subbucket"),
    )
    refined = _cap_buckets(refined, bucket_cap, keys=keys + ["sub", "subbucket"])
    cand = cand.unionByName(_simhash_pairs(refined, keys + ["sub", "subbucket"])).distinct()
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(hamming <= max_hamming).select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    )


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs → ``(doc_id, cluster_id)``,
    with ``cluster_id`` = min doc id in the component — the stage that turns
    a pair list into actionable dedup groups (keep ``doc_id == cluster_id``,
    drop the rest).

    Min-label propagation: each round joins current labels across the
    (symmetrized) edge list and keeps the per-node minimum, converging in
    O(component diameter) rounds. Near-dup components are star/clique
    swarms of tiny diameter, so 2-4 rounds is typical; ``max_iters`` bounds
    adversarial chains — exhausting it without convergence WARNS (labels
    may split one true component into several clusters).

    100 TB shape: every round is ONE shuffle keyed on doc ids (never on
    text) and ONE driver action — the changed flag rides as a column of the
    propagation result, and a lazy ``localCheckpoint`` materializes inside
    the same ``sum(chg)`` job that reads the flag (r3 spent a second
    labels-join + count job per round on it); the checkpoint also truncates
    the growing plan lineage. Skewed hub components are AQE's skew-join
    case.
    """
    import warnings

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("lbl"))
        .withColumn("lbl", F.least(F.col("src"), F.col("lbl")))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        prop = (
            edges.join(
                labels.select(F.col("src").alias("dst"), F.col("lbl").alias("nlbl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nlbl").alias("nlbl"))
        )
        new_labels = (
            labels.withColumnRenamed("lbl", "old")
            .join(prop, "src", "left")
            .select(
                "src",
                F.least(F.col("old"), F.coalesce(F.col("nlbl"), F.col("old"))).alias("lbl"),
                (F.coalesce(F.col("nlbl"), F.col("old")) < F.col("old")).alias("chg"),
            )
            .localCheckpoint(eager=False)  # materialized by the agg below
        )
        changed = new_labels.agg(F.sum(F.col("chg").cast("long"))).first()[0]
        labels = new_labels.drop("chg")
        if not changed:
            converged = True
            break
    edges.unpersist()
    if not converged:
        warnings.warn(
            f"dedup_clusters: max_iters={max_iters} exhausted before label "
            "propagation converged — a component with diameter > max_iters "
            "is split across multiple cluster_ids; raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("src").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
