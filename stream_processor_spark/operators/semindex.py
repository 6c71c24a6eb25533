"""Persisted semantic-dedup layout (SemDeDup index).

`dedup_semantic` (queries/llm_pipeline.py) is correct and
cluster-blocked, but its serve-time cost is dominated by ~10 fixed
stages that have nothing to do with the question being asked: the
iterative Lloyd fit, the argmax-cosine cluster assignment, and the
banded-LSH key derivation are all pure functions of the CORPUS, not of
the request — the same build-once/serve-pruned split the engine already
applies to IVF/PQ (operators/annindex.py) and BM25 postings
(operators/postings.py). This module persists exactly those corpus
functions once:

- ``asn`` table: (vec_id, cluster_id) — the trained Lloyd assignment,
  bucketed on vec_id so the serve-side pair-attach and anti joins need
  no exchange on this side;
- ``band`` table: (vec_id, band_idx, band_key) — the hyperplane-LSH
  band keys AFTER the hot-bucket cap, bucketed on band_key so the
  candidate self-join co-locates buckets at scan time.

``dedup_semantic_indexed`` then serves with ONE self-join + the exact
cosine check over candidate pairs — no training stages in the request
path. Both the trainer (`kmeans.lloyd_fit_np`) and the band keys
(`similarity.sign_bands` + cap) are the SAME deterministic functions
the from-scratch twin runs, so the two entries are hash-identical by
construction and share one DuckDB oracle.

Reference parity note: the reference pipeline (src/consumer.js) has no
vector surface at all; this layout is part of the §2.12 training-data
extension mandate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def semantic_names(
    sf_dir: str,
    k: int = 10,
    iters: int = 2,
    n_bands: int = 4,
    bits: int = 4,
    max_bucket: int = 256,
) -> tuple[str, str, str]:
    """Deterministic (assignment, band-keys, centroids) table names —
    pure tag computation so the router can probe the layout without
    building. Tag history: 'sem' (round 8, two tables) → 'sem2'
    (round 9, adds the persisted centroid model so `append_semantic_
    index` can assign new vectors against the FROZEN trainer — the
    IVF append discipline); the bump keeps round-8 two-table layouts
    from masquerading as complete."""
    tag = hashlib.md5(
        f"{sf_dir}|sem2|{k}|{iters}|{n_bands}|{bits}|{max_bucket}".encode()
    ).hexdigest()[:8]
    return f"sem_asn_{tag}", f"sem_band_{tag}", f"sem_cent_{tag}"


def ensure_semantic_index(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    iters: int = 2,
    n_bands: int = 4,
    bits: int = 4,
    max_bucket: int = 256,
) -> tuple[str, str, str]:
    """Build (once per sf_dir/params) the semantic-dedup layout; return
    (asn_table, band_table, cent_table). Same caching contract as
    `ensure_postings`: cached only when EVERY table exists, stale
    warehouse dirs cleared. The centroid table persists the frozen
    Lloyd model (label, pos, c) so appends assign against it without
    retraining (round 9).

    Build cost = the exact stages `dedup_semantic` pays per query:
    ``iters`` Lloyd passes (driver-iterated, k·dim model collects), one
    assignment pass, one band-key derivation with the deterministic
    hot-bucket cap (`similarity.banded_candidate_pairs`' guard — the
    cap is part of the layout so serve-side pairing is cap-free)."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators import similarity as sim
    from stream_processor_spark.operators.storage import (
        drop_warehouse_dir,
        write_bucketed,
    )

    asn_name, band_name, cent_name = semantic_names(
        sf_dir, k, iters, n_bands, bits, max_bucket
    )
    if all(
        spark.catalog.tableExists(n)
        for n in (asn_name, band_name, cent_name)
    ):
        return asn_name, band_name, cent_name
    for name in (asn_name, band_name, cent_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_warehouse_dir(spark, name)

    # build-job parallelism is pinned explicitly — the scan-split count
    # (2 splits for sf10 embeddings) must not cap the assignment and
    # band-derivation map work (the round-9 ensure_minhash lesson)
    e = Tables(spark, sf_dir).embeddings.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cent = kmeans.lloyd_fit_np(e, k=k, iters=iters)
    # persist the frozen model FIRST (k·dim rows): appends re-pack it
    (
        cent.write.mode("overwrite")
        .format("parquet")
        .saveAsTable(cent_name)
    )
    cent_rows = spark.table(cent_name)
    assigned = kmeans.assign_cosine(
        e.select("vec_id", "embedding"),
        kmeans.pack_centroids(cent_rows),
        out_col="cluster_id",
    ).select("vec_id", "cluster_id")
    write_bucketed(assigned, asn_name, "vec_id", 32, sort_col="vec_id")

    bands = e.select(
        F.col("vec_id"),
        F.explode(sim.sign_bands(F.col("embedding"), n_bands, bits)).alias(
            "b"
        ),
    ).select("vec_id", "b.band_idx", "b.band_key")
    w = Window.partitionBy("band_idx", "band_key").orderBy("vec_id")
    capped = (
        bands.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= max_bucket)
        .drop("__rk")
    )
    write_bucketed(capped, band_name, "band_key", 32, sort_col="band_key")
    return asn_name, band_name, cent_name


def append_semantic_index(
    spark: SparkSession,
    asn_name: str,
    band_name: str,
    cent_name: str,
    new_vecs,
    n_bands: int = 4,
    bits: int = 4,
    max_bucket: int = 256,
) -> None:
    """Incremental maintenance (round 9, the `append_ivf_index`
    discipline): assign ONLY the new vectors against the FROZEN
    persisted Lloyd model and insert their rows into the bucketed
    assignment and band tables — O(batch) work, no retraining, no
    corpus re-scan. Model drift is a periodic `ensure_` rebuild, as
    with every layout.

    Band-cap maintenance: the layout's hot-bucket cap keeps the
    ``max_bucket`` SMALLEST vec_ids per (band_idx, band_key). For the
    buckets this batch touches, remaining capacity is read from the
    band table with a ``band_key IN (...)`` filter (sorted bucketed
    parquet → bucket + row-group pruning, cost ∝ touched buckets, not
    corpus) and new rows enter only up to capacity. Under the
    append-only contract (new vec_ids exceed existing ones — the
    ingest pattern every other layout's append assumes) this equals
    the from-scratch cap applied to the grown corpus under the same
    frozen model, which is the append≡rebuild parity
    `tests/test_index_maintenance.py` pins.

    Delivery contract under `storage.stream_updates`: at-least-once. A
    foreachBatch retry re-runs the append with the first attempt's
    rows already counted by the capacity read, so cap decisions never
    loosen; rows re-inserted below cap are byte-identical duplicates
    that the serve's ``.distinct()`` (`candidate_pairs_from_index`)
    heals exactly."""
    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators import similarity as sim

    assigned = kmeans.assign_cosine(
        new_vecs.select("vec_id", "embedding"),
        kmeans.pack_centroids(spark.table(cent_name)),
        out_col="cluster_id",
    ).select("vec_id", "cluster_id")
    assigned.write.mode("append").insertInto(asn_name)
    # foreachBatch writes run through the micro-batch CLONE session and
    # do NOT invalidate THIS session's cached file listing — without the
    # refresh a session that read the table before the stream serves the
    # pre-append snapshot forever (round-13, found via the graph path)
    spark.catalog.refreshTable(asn_name)

    bands = new_vecs.select(
        F.col("vec_id"),
        F.explode(sim.sign_bands(F.col("embedding"), n_bands, bits)).alias(
            "b"
        ),
    ).select("vec_id", "b.band_idx", "b.band_key")
    bands = bands.persist()
    try:
        touched = [
            r["band_key"]
            for r in bands.select("band_key").distinct().collect()
        ]
        existing = (
            spark.table(band_name)
            .filter(F.col("band_key").isin(touched))
            .groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("__have"))
        )
        w = Window.partitionBy("band_idx", "band_key").orderBy("vec_id")
        capped = (
            bands.withColumn("__rk", F.row_number().over(w))
            .join(existing, ["band_idx", "band_key"], "left")
            .filter(
                F.col("__rk") + F.coalesce(F.col("__have"), F.lit(0))
                <= max_bucket
            )
            .select("vec_id", "band_idx", "band_key")
        )
        capped.write.mode("append").insertInto(band_name)
        spark.catalog.refreshTable(band_name)
    finally:
        bands.unpersist()


def candidate_pairs_from_index(
    spark: SparkSession, band_name: str, distinct: bool = True
):
    """Distinct candidate pairs (id_a < id_b) from the persisted band
    keys — the serve-side half of `similarity.banded_candidate_pairs`:
    the explode, the window cap and its shuffle are already paid in the
    layout, so this is one co-bucketed self-join + distinct.

    ``distinct=False`` returns raw pairs (one row per shared band) and
    skips the pair-level dedup shuffle — sound only for consumers whose
    own final aggregate absorbs multiplicity (the semantic-dedup
    verify; same contract as `similarity.banded_candidate_pairs`).
    The append-replay heal (see `append_semantic_index`) is preserved
    either way: replayed duplicate band rows are collapsed by the
    bucket collect_set before any pair exists (round-15 collect shape,
    `similarity.bucket_pair_explode` — one scan of the band table
    instead of a self-join's two, no candidate join; the bucket
    membership buffer is bounded by the cap the layout bakes in at
    build/append time)."""
    from stream_processor_spark.operators.similarity import (
        bucket_pair_explode,
    )

    pairs = bucket_pair_explode(
        spark.table(band_name), "vec_id", "id_a", "id_b"
    )
    return pairs.distinct() if distinct else pairs
