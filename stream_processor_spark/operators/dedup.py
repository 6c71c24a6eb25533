"""Deduplication operators: exact, MinHash-LSH, SimHash, token-set Jaccard.

Scale design:
- Exact dedup = groupBy on the dedup key (or its md5 for wide text) with a
  deterministic survivor (min id) — one shuffle on a high-cardinality key.
- MinHash-LSH near-dup: shingle → MinHash signatures → band-bucket join, the
  classic sub-quadratic pipeline; candidate pairs only within equal bands,
  so cost scales with collisions, not n². Uses pyspark.ml's MinHashLSH.
- SimHash: 64-bit signature per doc computed in one Arrow-vectorized pass;
  near-dup candidates = equal signature bands (Hamming blocking).
- Token-set Jaccard against a query doc: pure expression (array_intersect /
  array_union sizes), no shuffle, oracle-checkable.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the deterministic survivor (min ``order_col``) per key group."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def token_set(col: Column) -> Column:
    return F.array_distinct(F.split(col, " "))


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Token-set Jaccard similarity, all-expression (JVM-side)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


@pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over single-space tokens (md5-derived token hashes).

    Tokenization is split-on-single-space with empty tokens dropped —
    NOT Python's ``str.split()`` (which collapses whitespace runs and
    splits on tabs/newlines) — so a run of spaces yields the same token
    stream as the oracle's ``string_split(text, ' ')`` with empties
    filtered, and the signature matches bit-for-bit on any input.

    md5 keeps the signature engine-independent and deterministic (the
    dedup_simhash oracle reimplements it in pure SQL and matches
    bit-for-bit). The per-bit accumulation is numpy-vectorized: token
    digests are packed into one big-endian uint64 buffer, unpacked to an
    (n_tokens, 64) bit matrix, and column-summed — no per-bit Python
    loop. md5 per token stays in C (hashlib); at 100 TB this is a pure
    map pass.
    """
    _shifts = np.arange(64, dtype=np.uint64)
    _powers = np.uint64(1) << _shifts
    # Token → uint64 digest memo, scoped per Arrow batch: natural corpora
    # repeat tokens heavily, so most md5 calls are dict hits.
    cache: dict[str, int] = {}

    def hv(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = v
        return v

    out = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        if not text:
            continue
        toks = [t for t in text.split(" ") if t]
        if not toks:
            continue
        hs = np.fromiter((hv(t) for t in toks), dtype=np.uint64, count=len(toks))
        bits = (hs[:, None] >> _shifts[None, :]) & np.uint64(1)
        acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        # two's-complement reinterpret into signed 64-bit for Spark LongType
        out[i] = _powers[acc > 0].sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(out)


# Fixed universal-hash coefficients for the deterministic MinHash
# ((a*x + b) mod p, p = 2^31-1). Pinned so signatures are reproducible
# across engines — the dedup_near oracle uses the same table in SQL.
MINHASH_P = 2_147_483_647
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1103515245, 12345),
    (1229782938, 2463534242),
    (1790989885, 777777777),
    (1537228672, 1013904223),
    (1664525, 1013904242),
    (22695477, 1),
    (1103527590, 394837629),
    (214013, 2531011),
)


def shingle_hash_set(tokens: Column, n: int = 3) -> Column:
    """Distinct 60-bit md5 hashes of word ``n``-shingles (engine-portable).

    60 bits (15 hex chars) so the value fits a signed long in every
    engine without two's-complement games.

    ``tokens`` must be the single-space token array MATERIALIZED in its
    own prior projection (pass ``F.col(...)``, never an inline
    ``F.split(text, " ")`` expression) — an expression referenced inside
    a higher-order lambda is re-evaluated per element, so an inlined
    split turns the O(tokens) shingle pass into O(tokens²) per document
    (the inlined-split trap; same fix as text.char_codes/rolling_chunks).
    """
    tk = tokens
    # guard: sequence(0, stop) DESCENDS when stop < 0 — a text with fewer
    # than n tokens must yield an EMPTY shingle set, not an
    # ArrayIndexOutOfBounds from element_at past the array
    idx = F.when(
        F.size(tk) >= n, F.sequence(F.lit(0), F.size(tk) - n)
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(tk, i + j + 1) for j in range(n)]),
        )
    )
    return F.array_distinct(
        F.transform(
            shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        )
    )


def minhash_signature(hset: Column, coeffs=MINHASH_COEFFS) -> list[Column]:
    """k MinHash values over a distinct-hash array, all-expression.

    ``min((a*(h mod p) + b) mod p)`` per pinned (a, b); products stay
    below 2^62 so 64-bit arithmetic never overflows (portable to any
    engine with int64).
    """
    def perm(a: int, b: int):
        # closure factory: pyspark counts lambda default-args as lambda
        # parameters, so (a, b) must be captured, not defaulted
        return lambda h: (F.lit(a) * (h % MINHASH_P) + F.lit(b)) % MINHASH_P

    return [
        F.array_min(F.transform(hset, perm(a, b))).alias(f"mh{j}")
        for j, (a, b) in enumerate(coeffs)
    ]


def lsh_band_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The shared shingle → pinned-MinHash → band pipeline: returns
    ``(hs, bands)`` with ``hs = (doc_id, hset)`` and ``bands = (doc_id,
    hset, band_idx, band_key)``. This is THE one implementation of the
    LSH front end — the batch operator (`minhash_det_near_dup_pairs`)
    and the streaming twin (`streaming/stateful.band_dedup`) both build
    on it, which is what makes their bit-for-bit signature/band
    agreement a structural fact rather than a maintained coincidence.
    All column expressions — runs unchanged on batch or streaming
    frames; callers that don't need ``hset`` downstream drop it (column
    pruning erases it from the plan). The id passes through with its
    ORIGINAL type (string ids work; the streaming twin casts to long
    itself because its state schema demands it)."""
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("__tk"),
        )
        .filter(F.size("__tk") >= min_tokens)
    )
    hs = toks.select("doc_id", shingle_hash_set(F.col("__tk")).alias("hset"))
    sig = hs.select("doc_id", "hset", *minhash_signature(F.col("hset")))
    p = F.lit(MINHASH_P).cast("long")
    bands = sig.select(
        "doc_id",
        "hset",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        (
                            F.col(f"mh{2 * i}") * p + F.col(f"mh{2 * i + 1}")
                        ).alias("band_key"),
                    )
                    for i in range(len(MINHASH_COEFFS) // 2)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "hset", "band.band_idx", "band.band_key")
    return hs, bands


# a<b pairs from the sorted per-bucket membership array `ds`:
# slice(ds, i+2, ...) is every element AFTER 0-based position i+1, so the
# nested transform emits exactly the (ds[i], ds[j]) i<j combinations —
# ds ascending makes a<b structural (round-15: replaces the band
# self-join; candidates are generated in-partition from the grouped
# bucket, no second pass over the bands and no join).
_PAIR_EXPLODE = (
    "flatten(transform(ds, (a, i) -> "
    "transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))"
)


def _capped_bucket_pairs(
    bands: DataFrame, size_agg: Column, max_bucket_size: int
) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from equal
    (band_idx, band_key) buckets at or under the hot-bucket cap.

    Round-15 shape (guide §2.3/§2.4): the old plan filtered BOTH sides
    of a band self-join by a separately aggregated bucket-size frame —
    four passes over the bands (two scans + the duplicated size
    aggregate, Catalyst does not share common subtrees) plus the join
    itself. Here the size guard is aggregated once, the surviving
    bucket rows are collected per bucket (bounded at max_bucket_size
    members BY the guard join, so the aggregation buffer can never
    materialize a hot bucket), and the a<b combinations are exploded
    in-partition: two passes total, no candidate join. On the bucketed
    layout (and the co-partitioned build frame) both aggregates reuse
    the band_key clustering, so the only exchange left is the final
    pair distinct. Pair set proven identical to the self-join shape."""
    ok = (
        bands.groupBy("band_idx", "band_key")
        .agg(size_agg.alias("__bn"))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )
    return (
        bands.join(ok, ["band_idx", "band_key"])
        .groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )


def minhash_names(sf_dir: str) -> tuple[str, str]:
    """Deterministic (bands, hset) table names for the persisted
    MinHash layout — pure tag computation for router probes."""
    tag = hashlib.md5(f"{sf_dir}|minhash".encode()).hexdigest()[:8]
    return f"mh_bands_{tag}", f"mh_hset_{tag}"


def ensure_minhash_index(
    spark, sf_dir: str, min_tokens: int = 3
) -> tuple[str, str]:
    """Persist the MinHash-LSH front end once per sf_dir (the
    `semindex.ensure_semantic_index` pattern applied to TEXT near-dup):
    shingling, the 60-bit shingle hashing and the 8 pinned MinHashes are
    pure corpus functions and by far the expensive half of
    `dedup_near` — the per-doc hash SETS (for the exact Jaccard verify)
    and the band keys (for candidate generation) are what serving
    actually consumes. Two bucketed tables: bands on band_key (the
    candidate self-join co-locates), hsets on doc_id (the verify join's
    fetch side). The hot-bucket guard is NOT baked into the layout —
    bucket sizes change under appends, so serving applies it per query,
    exactly like the from-scratch twin."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators.storage import (
        drop_warehouse_dir,
        write_bucketed,
    )

    bands_name, hset_name = minhash_names(sf_dir)
    if spark.catalog.tableExists(bands_name) and spark.catalog.tableExists(
        hset_name
    ):
        return bands_name, hset_name
    for name in (bands_name, hset_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_warehouse_dir(spark, name)

    # Repartition BEFORE the shingle/MinHash derivation: the expensive
    # md5-per-shingle map work otherwise runs inside the scan stage,
    # whose parallelism is capped by parquet splits (sf10 documents is
    # ~2 splits at 128 MiB — a 16x parallelism loss on a 32-core box,
    # measured as a 15+ min single-task build stage in round 9). Build
    # jobs pin their own parallelism; serve paths never pay this.
    par = spark.sparkContext.defaultParallelism
    docs = Tables(spark, sf_dir).documents.repartition(par, "doc_id")
    hs, bands_h = lsh_band_frame(docs, "doc_id", "text", min_tokens)
    # cache the shingle sets: both table writes consume them, and the
    # cache-manager subtree match means bands_h reads the cached hs
    # instead of re-shingling the corpus a second time
    hs.persist()
    try:
        write_bucketed(
            bands_h.select("doc_id", "band_idx", "band_key"),
            bands_name,
            "band_key",
            32,
            sort_col="band_key",
        )
        write_bucketed(hs, hset_name, "doc_id", 32, sort_col="doc_id")
    finally:
        hs.unpersist()
    return bands_name, hset_name


def append_minhash_index(
    spark, bands_name: str, hset_name: str, new_docs: DataFrame,
    min_tokens: int = 3,
) -> None:
    """Incremental maintenance (round 9, the `append_postings`
    discipline): shingle/hash/MinHash ONLY the new documents and insert
    their rows into both bucketed tables — `insertInto` routes rows
    through the bucket hash, so band-bucket co-location and doc_id
    bucketing stay sound; each append adds one file per touched bucket
    (compaction = re-running `ensure_minhash_index` or
    `storage.compact_files`).

    append(B) onto an index built from A ≡ build from A∪B EXACTLY and
    unconditionally (tested): every persisted row is a pure
    per-document function (pinned shingle hashes + MinHash
    coefficients), with no corpus-level model or cap baked into the
    layout — the hot-bucket guard is applied per query at serve time
    precisely so bucket growth under appends can't stale it. Replayed
    batches (foreachBatch retry) insert byte-identical rows; the serve
    path heals them (``dedup_replays`` in
    :func:`minhash_pairs_from_index`, on by default, and the hot-bucket
    guard counts DISTINCT doc_ids so a replay can't inflate it);
    :func:`compact_minhash_index` removes the duplicates and the
    per-append file growth permanently. O(batch): the append never
    reads either index table."""
    hs, bands_h = lsh_band_frame(new_docs, "doc_id", "text", min_tokens)
    bands_h.select("doc_id", "band_idx", "band_key").write.mode(
        "append"
    ).insertInto(bands_name)
    hs.write.mode("append").insertInto(hset_name)
    # foreachBatch writes run through the micro-batch CLONE session and
    # do NOT invalidate THIS session's cached file listing — without the
    # refresh a session that read the table before the stream serves the
    # pre-append snapshot forever (round-13, found via the graph path)
    spark.catalog.refreshTable(bands_name)
    spark.catalog.refreshTable(hset_name)


def compact_minhash_index(
    spark, bands_name: str, hset_name: str, dedup_replays: bool = True
) -> None:
    """LSM repair for both minhash tables: one sorted file per bucket
    again, replayed rows healed permanently (doc_id/band_idx rows are
    byte-identical under replay, so the key dedup is exact) — the
    `compact_postings` protocol via `storage.compact_bucketed_table`."""
    from stream_processor_spark.operators.storage import (
        compact_bucketed_table,
    )

    compact_bucketed_table(
        spark,
        bands_name,
        "band_key",
        dedup_keys=("doc_id", "band_idx") if dedup_replays else None,
        sort_col="band_key",
    )
    compact_bucketed_table(
        spark,
        hset_name,
        "doc_id",
        dedup_keys=("doc_id",) if dedup_replays else None,
        sort_col="doc_id",
    )


def minhash_pairs_from_index(
    spark,
    bands_name: str,
    hset_name: str,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 64,
    dedup_replays: bool = True,
) -> DataFrame:
    """`minhash_det_near_dup_pairs`' serving half over the persisted
    layout: hot-bucket guard → co-bucketed band self-join → exact
    hash-set Jaccard from the persisted sets. No shingling, hashing, or
    MinHash aggregation in the request path.

    ``dedup_replays`` heals byte-identical rows left by redelivered
    appends (the at-least-once contract shared with
    `postings.query_bm25_from_postings`): band duplicates are absorbed
    by the candidate `distinct` already — but they must ALSO not count
    toward the hot-bucket guard, which sizes buckets on DISTINCT docs
    (round-10 ADVICE: raw row counts let a replayed append inflate a
    bucket past ``max_bucket_size`` and silently drop its pairs vs a
    full rebuild; countDistinct is the same per-bucket aggregate on the
    table's own bucket/sort key). hset duplicates would fan out the
    verify join, so the hset side drops duplicate doc_ids."""
    bands = spark.table(bands_name)
    hs = spark.table(hset_name)
    if dedup_replays:
        hs = hs.dropDuplicates(["doc_id"])
    if max_bucket_size is not None:
        size_agg = (
            F.countDistinct("doc_id") if dedup_replays
            else F.count(F.lit(1))
        )
        cand = _capped_bucket_pairs(bands, size_agg, max_bucket_size)
    else:
        # no cap, no size guard: keep the self-join — collecting an
        # unbounded bucket's membership into one aggregation buffer is
        # exactly the blow-up the guard exists to prevent
        left = bands.alias("x")
        right = bands.alias("y")
        cand = (
            left.join(
                right,
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("hset_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hset_b"))
    inter = F.size(F.array_intersect("hset_a", "hset_b"))
    union = F.size("hset_a") + F.size("hset_b") - inter
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def minhash_det_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    min_tokens: int = 3,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Deterministic MinHash-LSH near-duplicate pairs (a < b + jaccard).

    shingle-hash sets → 8 pinned MinHashes → 4 bands of 2 → band-bucket
    equi-join for candidates → exact shingle-set Jaccard filter. Fully
    reproducible (no RNG seeds), so the result is oracle-checkable in any
    SQL engine. Sub-quadratic at scale: pairs are generated only within
    equal (band_idx, band_key) buckets, and the verify join re-fetches
    hash sets by id (shuffle on doc id, not a cross product).

    ``max_bucket_size`` is the HOT-BUCKET GUARD every production LSH
    dedup ships: a band bucket holding B documents contributes O(B²)
    candidate pairs, and the buckets that blow up are exactly the ones
    formed by boilerplate shingles (headers, license text, template
    markup) that carry no near-dup signal. Buckets above the cap are
    dropped BEFORE the self-join — deterministic (a size threshold, no
    sampling), mirrored in the SQL oracle, and with 4 OR-amplified bands
    a true near-dup pair usually still surfaces through its other
    bands. ``None`` disables the guard.

    Reference parity: this is the engine's scale path for corpus dedup,
    beyond the reference's per-record operators (SURVEY §2.12).
    """
    hs, bands_h = lsh_band_frame(docs, id_col, text_col, min_tokens)
    bands = bands_h.select("doc_id", "band_idx", "band_key")
    if max_bucket_size is not None:
        # round-15: the capped-bucket collect shape also halves the
        # number of times the EXPENSIVE band frame (shingle + MinHash
        # per doc) is evaluated — Catalyst re-runs the un-cached
        # subtree once per reference (was 3: size agg + both join
        # sides; now 2: size agg + collect input)
        cand = _capped_bucket_pairs(
            bands, F.count(F.lit(1)), max_bucket_size
        )
    else:
        left = bands.alias("x")
        right = bands.alias("y")
        cand = (
            left.join(
                right,
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("hset_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hset_b"))
    inter = F.size(F.array_intersect("hset_a", "hset_b"))
    union = F.size("hset_a") + F.size("hset_b") - inter
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.4,
    num_features: int = 1 << 18,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (ids a < b + distance).

    shingle(tokens) → HashingTF sparse vector → MinHashLSH
    approxSimilarityJoin. Band-bucket joining keeps this sub-quadratic: only
    documents sharing a MinHash band are compared.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    tok = Tokenizer(inputCol=text_col, outputCol="__tokens")
    tf = HashingTF(inputCol="__tokens", outputCol="__features", numFeatures=num_features)
    featurized = tf.transform(tok.transform(docs.select(id_col, text_col)))
    # MinHashLSH requires at least one non-zero feature
    featurized = featurized.filter(F.size("__tokens") > 0)

    lsh = MinHashLSH(inputCol="__features", outputCol="__hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(featurized)
    pairs = model.approxSimilarityJoin(
        featurized, featurized, jaccard_distance_threshold, distCol="jaccard_distance"
    )
    a_id, b_id = F.col(f"datasetA.{id_col}"), F.col(f"datasetB.{id_col}")
    return (
        pairs.filter(a_id < b_id)
        .select(
            a_id.alias("doc_a"),
            b_id.alias("doc_b"),
            F.round("jaccard_distance", 6).alias("jaccard_distance"),
        )
    )
