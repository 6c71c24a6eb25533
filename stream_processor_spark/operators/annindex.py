"""Persisted IVF index: write-once inverted lists, partition-pruned serve.

`sim_ann_ivf` fits its coarse quantizer and assigns the corpus on every
query — correct, and the right shape when the corpus changes faster
than the query rate. Real vector serving inverts that: the index is
BUILT once (centroids + per-vector list assignment) and every query
reads only its probed lists. This module is that build/serve split, the
ANN twin of `operators/postings.py`:

- ``ensure_ivf_index`` computes the SAME deterministic quantizer as
  `sim_ann_ivf` (exact fixed-point per-label means) and the SAME
  vectorized assignment (`npkernel.assign_labels`, bit-exact int64
  kernels), then writes the corpus as an inverted-list table
  PARTITIONED BY list id — one directory per list — plus the centroid
  rows as a tiny side table.
- ``ivf_query_indexed`` hydrates the centroid model (k·dim collect, the
  clusterCenters pattern), picks the nprobe nearest lists driver-side,
  and scans ONLY those list partitions (Hive partition pruning — the
  `PartitionFilters` line in the scan, pinned by tests/test_plans.py),
  exact-reranking with the same scaled-int64 cosine discipline.

Results are IDENTICAL to `sim_ann_ivf` (same model, same probe order,
same rerank arithmetic), so the registered query shares its oracle.

At 100 TB this is the difference that matters: per-query scan cost is
``nprobe/k`` of the corpus by CONSTRUCTION — the assignment pass
happened at write time — where the fit-per-query plan rescans
everything. Rebuild cadence (drift) and incremental appends (assign new
vectors against the frozen model, append to their list partitions) ride
on the same layout.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processor_spark.operators import npkernel as npk


def ivf_names(sf_dir: str) -> tuple[str, str]:
    """Deterministic (lists, centroids) table names — pure tag
    computation for layout probes (see `postings.postings_names`)."""
    tag = hashlib.md5(f"{sf_dir}|ivf".encode()).hexdigest()[:8]
    return f"ivf_lists_{tag}", f"ivf_cent_{tag}"


def ensure_ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Build (once per sf_dir) the partitioned inverted-list table and
    the centroid table; return (lists_table, centroids_table). Cached
    only when BOTH tables exist (a crash between the two writes leaves
    a half-built pair, rebuilt here); stale directories are cleared via
    the Hadoop FileSystem API so the path is correct on remote
    warehouses too (round-6 ADVICE)."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators.storage import drop_warehouse_dir

    lists_name, cent_name = ivf_names(sf_dir)
    if spark.catalog.tableExists(lists_name) and spark.catalog.tableExists(
        cent_name
    ):
        return lists_name, cent_name

    for name in (lists_name, cent_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_warehouse_dir(spark, name)

    # build-job parallelism pinned; scan splits must not cap the map work
    e = Tables(spark, sf_dir).embeddings.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cent_rows = kmeans._mean_update(
        e.select("label", "embedding"), "label", "embedding"
    )
    cent_df = cent_rows.select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("int").alias("pos"),
        F.col("c").cast("double").alias("c"),
    )
    cent_df.write.mode("overwrite").format("parquet").saveAsTable(cent_name)

    # assignment at WRITE time: the same bit-exact vectorized kernel the
    # per-query plan uses, now amortized into the layout
    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            assigned, _sxx = npk.assign_labels(E, labels, C, scc)
            out = pdf[["vec_id", "embedding"]].copy()
            out["list_id"] = assigned
            yield out

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, embedding array<float>, list_id long"
    )
    # Re-cluster on list_id BEFORE the partitioned write: the build-
    # parallelism repartition above otherwise makes EVERY writer task
    # hold rows of EVERY list, fragmenting each list partition into
    # n_tasks files (measured 32 files/list at sf0.1 = the round-9
    # 3.1x serve regression on sim_ann_ivf_indexed — nprobe pruned
    # reads paid nprobe*32 scan tasks instead of nprobe). Hash-
    # clustering on list_id routes each list to exactly one writer =
    # one file per list; the assign map still runs in the WIDE stage
    # before this exchange, so build parallelism is unchanged. Reads
    # stay parallel at any list size (parquet row-group splits).
    (
        assigned.repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .format("parquet")
        .saveAsTable(lists_name)
    )
    return lists_name, cent_name


def append_ivf_index(
    spark: SparkSession, lists_name: str, cent_name: str,
    new_vectors: DataFrame,
) -> None:
    """Incremental index maintenance: assign ONLY the new vectors
    against the FROZEN model (same bit-exact kernel) and append them to
    their list partitions — no rebuild, no touch of existing lists.

    This is the standard IVF append contract: the quantizer stays fixed
    (queries keep probing the same lists), so append-then-query equals
    rebuild-then-query EXACTLY as long as the model is unchanged
    (tested); centroid drift is handled by a periodic full
    `ensure_ivf_index` rebuild, not per append.

    Delivery contract under `storage.stream_updates`: at-least-once —
    a foreachBatch retry re-inserts the SAME rows (assignment is
    deterministic under the frozen model). Serving heals replays
    exactly with ``ivf_query_indexed(..., dedup_replays=True)``
    (duplicate vec_ids dropped AFTER partition pruning — cost scales
    with probed lists, not the corpus); `compact_ivf_lists` removes
    the duplicates and the per-append file growth permanently."""
    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            assigned, _sxx = npk.assign_labels(E, labels, C, scc)
            out = pdf[["vec_id", "embedding"]].copy()
            out["list_id"] = assigned
            yield out

    (
        new_vectors.select("vec_id", "embedding")
        .mapInPandas(
            assign,
            schema="vec_id long, embedding array<float>, list_id long",
        )
        # Cluster the batch on list_id BEFORE the partitioned insert
        # (round-11: the same one-writer-per-list discipline the build
        # path applies) — otherwise every append adds up-to-n_tasks
        # files per touched list and regrows exactly the fragmentation
        # the round-10 layout fix removed (docs/IVF_LAYOUT_AB_r10.json:
        # 32 files/list made pruned serves pay nprobe*32 scan tasks).
        # With this, append cost is ONE file per touched list per
        # batch; residual growth across many appends is repaired by
        # `compact_ivf_lists`.
        .repartition(F.col("list_id"))
        .write.mode("append")
        .insertInto(lists_name)
    )
    # foreachBatch writes run through the micro-batch CLONE session and
    # do NOT invalidate THIS session's cached file listing — without the
    # refresh a session that read the table before the stream serves the
    # pre-append snapshot forever (round-13, found via the graph path)
    spark.catalog.refreshTable(lists_name)


def ivf_multi_query_indexed(
    spark: SparkSession,
    lists_name: str,
    cent_name: str,
    queries: dict,
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """Serve MANY ANN queries in ONE pass over the persisted index —
    the batched-retrieval twin of `postings.bm25_multi_query`.

    Each query's probe lists are computed driver-side from the hydrated
    model (identical ordering to the single-query path); the lists scan
    is pruned once by the UNION of all probes (partition filter), and
    one Arrow-batched rerank scores each scanned vector against exactly
    the queries whose probe set contains its list. Per-query top-k via
    one query_id-partitioned window over candidate rows. For any
    query_id the rows are IDENTICAL to `ivf_query_indexed` (tested).

    Scale: scan cost = |union of probed lists|, rerank cost =
    Σ_q |q's probed lists| — vs N separate scans; the query matrix is
    broadcast in the task closure."""
    import pandas as pd
    from pyspark.sql import Window

    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    qids = sorted(queries)
    Q = np.stack([np.asarray(queries[q], dtype=np.float64) for q in qids])
    sqq = npk.self_norms_scaled(Q)
    probes: dict[int, set] = {}
    for i, qid in enumerate(qids):
        qp = npk.dot_scaled(Q[i][None, :], C)[0]
        qcos = qp.astype("float64") / (
            np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq[i]))
        )
        order = np.lexsort((-labels, -qcos))
        probes[qid] = set(int(x) for x in labels[order[:nprobe]])
    union_lists = sorted(set().union(*probes.values()))

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            sxx = npk.self_norms_scaled(E)
            ids = pdf["vec_id"].to_numpy()
            lids = pdf["list_id"].to_numpy()
            frames = []
            for i, qid in enumerate(qids):
                mask = np.isin(lids, list(probes[qid]))
                if not mask.any():
                    continue
                p = npk.dot_scaled(E[mask], Q[i])
                cos = p.astype("float64") / (
                    np.sqrt(sxx[mask].astype("float64"))
                    * np.sqrt(float(sqq[i]))
                )
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": ids[mask],
                            "cosine": cos,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = (
        spark.table(lists_name)
        .filter(F.col("list_id").isin(union_lists))
        .select("vec_id", "embedding", "list_id")
        .mapInPandas(rerank, schema="query_id long, vec_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .drop("__rn")
    )


def ivf_query_indexed(
    spark: SparkSession,
    lists_name: str,
    cent_name: str,
    query_vec: np.ndarray,
    nprobe: int = 2,
    topk: int = 10,
    dedup_replays: bool = False,
) -> DataFrame:
    """Serve one ANN query from the persisted index.

    Probe selection is the exact `_ivf_serve` ordering (cosine DESC,
    label DESC over the k centroids, computed driver-side from the
    hydrated model); the corpus scan carries ``list_id IN (probes)`` as
    a PARTITION filter, so only the probed directories are read; the
    exact rerank uses the same `round((a·b)·1e16)` int64 cosine as
    every similarity operator, so results match `sim_ann_ivf`
    bit-for-bit. ``dedup_replays`` drops duplicate vec_ids AFTER the
    partition pruning (needed when at-least-once streaming appends —
    `append_ivf_index` under `storage.stream_updates` — may have
    replayed a batch; cost scales with the probed lists, and
    compaction makes it unnecessary again)."""
    import pandas as pd

    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    q = np.asarray(query_vec, dtype=np.float64)
    sqq = npk.self_norms_scaled(q[None, :])[0]
    qp = npk.dot_scaled(q[None, :], C)[0]
    qcos = qp.astype("float64") / (
        np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq))
    )
    order = np.lexsort((-labels, -qcos))  # cos DESC, label DESC
    probe = [int(x) for x in np.sort(labels[order[:nprobe]])]

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            sxx = npk.self_norms_scaled(E)
            p = npk.dot_scaled(E, q)
            cos = p.astype("float64") / (
                np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqq))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cosine": cos}
            )

    pruned = spark.table(lists_name).filter(F.col("list_id").isin(probe))
    if dedup_replays:
        pruned = pruned.dropDuplicates(["vec_id"])
    return (
        pruned.select("vec_id", "embedding")
        .mapInPandas(rerank, schema="vec_id long, cosine double")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(topk)
    )


# ---------------------------------------------------- trained-model indexes


def ivf_trained_names(sf_dir: str, k: int = 10, iters: int = 2) -> tuple[str, str]:
    """Deterministic (lists, centroids) names for the TRAINED-quantizer
    IVF layout (Lloyd centroids instead of per-label means)."""
    tag = hashlib.md5(f"{sf_dir}|ivftr|{k}|{iters}".encode()).hexdigest()[:8]
    return f"ivftr_lists_{tag}", f"ivftr_cent_{tag}"


def ensure_ivf_trained_index(
    spark: SparkSession, sf_dir: str, k: int = 10, iters: int = 2
) -> tuple[str, str]:
    """`ensure_ivf_index` with the coarse quantizer TRAINED by the
    deterministic fixed-point Lloyd's (`kmeans.lloyd_fit_np` — the
    model `sim_ann_ivf_trained` fits PER QUERY) persisted alongside the
    corpus partitioned by its assigned list. This closes the last gap
    between the trained family and the build-once/serve-pruned layout:
    training cost (iters corpus passes + model-sized shuffles) is paid
    at WRITE time; serving is the identical partition-pruned
    `ivf_query_indexed` scan. Same frozen-model append contract as the
    label-based index (`append_ivf_index` works unchanged on these
    table names)."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators.storage import drop_warehouse_dir

    lists_name, cent_name = ivf_trained_names(sf_dir, k, iters)
    if spark.catalog.tableExists(lists_name) and spark.catalog.tableExists(
        cent_name
    ):
        return lists_name, cent_name
    for name in (lists_name, cent_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_warehouse_dir(spark, name)

    # build-job parallelism pinned; scan splits must not cap the map work
    e = Tables(spark, sf_dir).embeddings.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cent = kmeans.lloyd_fit_np(e, k=k, iters=iters)
    cent.select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("int").alias("pos"),
        F.col("c").cast("double").alias("c"),
    ).write.mode("overwrite").format("parquet").saveAsTable(cent_name)

    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            assigned, _sxx = npk.assign_labels(E, labels, C, scc)
            out = pdf[["vec_id", "embedding"]].copy()
            out["list_id"] = assigned
            yield out

    (
        e.select("vec_id", "embedding")
        .mapInPandas(
            assign, schema="vec_id long, embedding array<float>, list_id long"
        )
        # one file per list (see ensure_ivf_index): cluster on list_id
        # after the wide assign stage, before the partitioned write
        .repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .format("parquet")
        .saveAsTable(lists_name)
    )
    return lists_name, cent_name


def pq_names(
    sf_dir: str, n_sub: int = 8, sub_dim: int = 8, k: int = 16, iters: int = 2
) -> tuple[str, str]:
    """Deterministic (codes, codebooks) table names for the PQ layout."""
    # tag history: 'pq' (rounds 6-8, full-corpus codebook fit) -> 'pq2'
    # (round 9: fit SAMPLED above _PQFIT_THRESHOLD, the IVFPQ rule) —
    # the bump keeps stale full-fit code tables from colliding with the
    # sampled-trainer layout on big corpora.
    tag = hashlib.md5(
        f"{sf_dir}|pq2|{n_sub}|{sub_dim}|{k}|{iters}".encode()
    ).hexdigest()[:8]
    return f"pq_codes_{tag}", f"pq_books_{tag}"


def ensure_pq_index(
    spark: SparkSession,
    sf_dir: str,
    n_sub: int = 8,
    sub_dim: int = 8,
    k: int = 16,
    iters: int = 2,
) -> tuple[str, str]:
    """Persist the TRAINED product-quantization layout once per sf_dir:
    the deterministic-Lloyd codebooks (`kmeans.lloyd_fit_pq` — the
    model `sim_ann_pq_trained` fits per query) as a tiny side table,
    and every corpus vector's M codeword ids (8 int8-sized values — the
    32x scan shrinkage PQ exists for) as a codes table. Assignment uses
    the exact `npkernel.pq_code_cids` argmin the inline serve uses, so
    a query served from this layout is bit-identical to the fit-per-
    query plan (shared oracle).

    At 100 TB this is the PQ contract: train once (on a sample if need
    be), write codes next to the corpus, and every similarity pass
    scans 8 bytes/vector instead of 256 — the shortlist never touches
    float embeddings; only the final topk rerank reads the (pushed-
    down, id-pruned) full vectors."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators.storage import drop_warehouse_dir

    codes_name, books_name = pq_names(sf_dir, n_sub, sub_dim, k, iters)
    if spark.catalog.tableExists(codes_name) and spark.catalog.tableExists(
        books_name
    ):
        return codes_name, books_name
    for name in (codes_name, books_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_warehouse_dir(spark, name)

    # build-job parallelism pinned; scan splits must not cap the map work
    e = Tables(spark, sf_dir).embeddings.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    # PQ-fit sampling (round 9): the plain-PQ codebooks now follow the
    # IVFPQ rule — above _PQFIT_THRESHOLD corpus vectors, train on the
    # deterministic 1-in-_PQFIT_MOD slice (vec_id % mod = 0); encoding
    # always covers the full corpus. The round-8 IVFPQ measurement
    # (654 s unsampled -> 100 s sampled at sf10, recall@10 1.0) is what
    # makes build-once economics hold; the fit-per-query twin and both
    # oracles apply the identical pure-count rule, so the ann_pq route's
    # scratch/indexed twins stay row-identical at every scale.
    fit_mod = _PQFIT_MOD if e.count() > _PQFIT_THRESHOLD else 1
    books_frame = kmeans.lloyd_fit_pq(
        e.filter(F.col("vec_id") % fit_mod == 0),
        n_sub=n_sub, sub_dim=sub_dim, k=k, iters=iters,
    )
    books_frame.select(
        F.col("m").cast("long").alias("m"),
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").cast("int").alias("pos"),
        F.col("c").cast("double").alias("c"),
    ).write.mode("overwrite").format("parquet").saveAsTable(books_name)

    books = npk.hydrate_codebooks(spark.table(books_name))

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            codes = npk.pq_code_cids(E, books, sub_dim)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                }
            )

    (
        e.select("vec_id", "embedding")
        .mapInPandas(encode, schema="vec_id long, codes array<long>")
        # flat full-scan serving table: size-based file count via a
        # small shuffle (NOT coalesce — that would collapse the encode
        # map stage itself)
        .repartition(_flat_file_count(e.count(), 80), "vec_id")
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(codes_name)
    )
    return codes_name, books_name


def _adc_score_col(tables) -> "F.Column":
    """JVM-side ADC score over the persisted codes column: per subspace
    a literal cid->table map lookup (`element_at`), summed as exact
    int64 — whole-stage-codegen resident, no Python in the shortlist
    scan."""
    score = None
    for m, tbl in enumerate(tables):
        cids = sorted(tbl)
        mexpr = F.map_from_arrays(
            F.array(*[F.lit(int(c)).cast("long") for c in cids]),
            F.array(*[F.lit(int(tbl[c])).cast("long") for c in cids]),
        )
        term = F.element_at(mexpr, F.col("codes").getItem(m))
        score = term if score is None else score + term
    return score


def pq_query_indexed(
    spark: SparkSession,
    codes_name: str,
    books_name: str,
    embeddings: DataFrame,
    query_vec: np.ndarray,
    shortlist: int = 50,
    topk: int = 10,
) -> DataFrame:
    """Serve one PQ-ADC query from the persisted layout: the shortlist
    scan reads ONLY the codes table (8 ids/vector) with the per-query
    ADC tables folded in as literal maps (JVM expressions, exact int64
    sums — identical scores to `npkernel.pq_adc_scores`); the exact
    cosine rerank then reads just the `shortlist` pushed-down ids from
    the float embeddings. Results are bit-identical to the fit-per-
    query `sim_ann_pq_trained` plan (same codebooks, same assignment,
    same shortlist boundary `s DESC, vec_id ASC`, same rerank
    arithmetic)."""
    import pandas as pd

    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]
    q = np.asarray(query_vec, dtype=np.float64)
    tables = npk.pq_adc_tables(books, sub_dim, q)
    short_ids = [
        int(r[0])
        for r in spark.table(codes_name)
        .select("vec_id", _adc_score_col(tables).alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(shortlist)
        .select("vec_id")
        .collect()
    ]
    sqq = npk.self_norms_scaled(q[None, :])[0]

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            sxx = npk.self_norms_scaled(E)
            p = npk.dot_scaled(E, q)
            cos = p.astype("float64") / (
                np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqq))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cosine": cos}
            )

    return (
        embeddings.filter(F.col("vec_id").isin(short_ids))
        .select("vec_id", "embedding")
        .mapInPandas(rerank, schema="vec_id long, cosine double")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(topk)
    )


def pq_multi_query_indexed(
    spark: SparkSession,
    codes_name: str,
    books_name: str,
    embeddings: DataFrame,
    queries: dict,
    shortlist: int = 50,
    topk: int = 10,
) -> DataFrame:
    """Serve MANY PQ-ADC queries in ONE pass over the codes table: each
    query contributes one literal-map ADC score column to the same
    scan; per-query shortlists come from one window, and one pushed-
    down embeddings read reranks the UNION of all shortlists (each
    candidate scored only against the queries that shortlisted it).
    For any query_id the rows are identical to `pq_query_indexed`."""
    import pandas as pd
    from pyspark.sql import Window

    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]
    qids = sorted(queries)
    Q = {
        qid: np.asarray(queries[qid], dtype=np.float64) for qid in qids
    }
    scored = spark.table(codes_name).select(
        "vec_id",
        *[
            _adc_score_col(
                npk.pq_adc_tables(books, sub_dim, Q[qid])
            ).alias(f"s_{qid}")
            for qid in qids
        ],
    )
    stacked = scored.select(
        "vec_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(int(q)).cast("long") for q in qids]),
                F.array(*[F.col(f"s_{qid}") for qid in qids]),
            )
        ).alias("query_id", "s"),
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("vec_id")
    )
    short = (
        stacked.withColumn("__rn", F.row_number().over(w_s))
        .filter(F.col("__rn") <= shortlist)
        .select("query_id", "vec_id")
        .collect()
    )
    members: dict[int, set] = {qid: set() for qid in qids}
    for r in short:
        members[int(r[0])].add(int(r[1]))
    union_ids = sorted(set().union(*members.values()))
    sqqs = {
        qid: npk.self_norms_scaled(Q[qid][None, :])[0] for qid in qids
    }

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            ids = pdf["vec_id"].to_numpy()
            sxx = npk.self_norms_scaled(E)
            frames = []
            for qid in qids:
                mask = np.isin(ids, list(members[qid]))
                if not mask.any():
                    continue
                p = npk.dot_scaled(E[mask], Q[qid])
                cos = p.astype("float64") / (
                    np.sqrt(sxx[mask].astype("float64"))
                    * np.sqrt(float(sqqs[qid]))
                )
                frames.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": ids[mask], "cosine": cos}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    reranked = (
        embeddings.filter(F.col("vec_id").isin(union_ids))
        .select("vec_id", "embedding")
        .mapInPandas(
            rerank, schema="query_id long, vec_id long, cosine double"
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        reranked.withColumn("__rn", F.row_number().over(w_c))
        .filter(F.col("__rn") <= topk)
        .drop("__rn")
    )


# PQ codebooks train on a deterministic 1-in-MOD sample when the corpus
# exceeds THRESHOLD vectors (see ensure_ivfpq_index docstring). 15000
# puts the sf1 fixture (20k) on the sampled branch so the branch itself
# is oracle-verified; 7 keeps >= 28k training vectors at sf10.
_PQFIT_THRESHOLD = 15_000
_PQFIT_MOD = 7


def ivfpq_names(
    sf_dir: str, k: int = 10, iters: int = 2,
    n_sub: int = 8, sub_dim: int = 8, pq_k: int = 16, pq_iters: int = 2,
) -> tuple[str, str, str]:
    """Deterministic (codes, coarse-centroids, codebooks) table names for
    the combined IVF+PQ layout. The tag hashes 'ivfpqr2': round 8 first
    switched the codebooks to RESIDUAL training (codes encode
    v - c_list, 'ivfpqr'), then bumped to 'ivfpqr2' when the sampled
    codebook fit (vec_id % _PQFIT_MOD above _PQFIT_THRESHOLD) changed
    the trained codebooks again — each semantic change must not collide
    with stale code tables from earlier sessions."""
    tag = hashlib.md5(
        f"{sf_dir}|ivfpqr2|{k}|{iters}|{n_sub}|{sub_dim}|{pq_k}|{pq_iters}".encode()
    ).hexdigest()[:8]
    return f"ivfpq_codes_{tag}", f"ivfpq_cent_{tag}", f"ivfpq_books_{tag}"


def ensure_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    iters: int = 2,
    n_sub: int = 8,
    sub_dim: int = 8,
    pq_k: int = 16,
    pq_iters: int = 2,
) -> tuple[str, str, str]:
    """Persist the COMBINED IVF+PQ layout (the FAISS IndexIVFPQ shape)
    once per sf_dir: a trained coarse quantizer (deterministic Lloyd)
    partitions the corpus into inverted lists, and INSIDE each list the
    vectors are stored as PQ codeword ids — so a query prunes to its
    probed list partitions AND scans 8 ids/vector instead of 64 floats.
    Three tables: codes (vec_id, codes) PARTITIONED BY list_id, the
    coarse centroids, and the PQ codebooks.

    Round 8: the codebooks train on RESIDUALS (v - assigned coarse
    centroid), the true IndexIVFPQ formulation — after subtracting the
    list centroid the sub-quantizers cover one Voronoi cell instead of
    the whole space, so the same 8-byte budget quantizes far more
    finely (`sim_ann_pq_residual` measured recall@10 0.7 vs 0.5 at
    matched shortlists; the compound-pruning recall floor test now
    pins ≥0.7). Serving scores decompose exactly:
    <q, v> ≈ <q, c_list> + <q, r_v>; the base term is a per-list
    literal map, the residual term the standard ADC sum — both exact
    int64, so the shortlist boundary stays deterministic and
    oracle-replayable.

    PQ-fit sampling: above `_PQFIT_THRESHOLD` corpus vectors the
    codebooks train on the deterministic 1-in-`_PQFIT_MOD` slice
    (vec_id % mod == 0) — the standard production practice (FAISS
    trains PQ on a sample); ENCODING always covers the full corpus.
    The rule is a pure function of the corpus count, so the oracle
    mirrors it with a scalar-subquery CASE, and the sf1 fixture (20k
    vectors) exercises the sampled branch under hash verification.
    The sf10 rehearsal measured the unsampled full-corpus fit at
    654 s build — the sample is what makes build-once economics hold
    as the corpus grows."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators import kmeans
    from stream_processor_spark.operators.storage import drop_warehouse_dir

    codes_name, cent_name, books_name = ivfpq_names(
        sf_dir, k, iters, n_sub, sub_dim, pq_k, pq_iters
    )
    if all(
        spark.catalog.tableExists(n)
        for n in (codes_name, cent_name, books_name)
    ):
        return codes_name, cent_name, books_name
    for name in (codes_name, cent_name, books_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_warehouse_dir(spark, name)

    # build-job parallelism pinned; scan splits must not cap the map work
    e = Tables(spark, sf_dir).embeddings.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cent = kmeans.lloyd_fit_np(e, k=k, iters=iters)
    cent.select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("int").alias("pos"),
        F.col("c").cast("double").alias("c"),
    ).write.mode("overwrite").format("parquet").saveAsTable(cent_name)

    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())

    def residualize(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            assigned, _sxx = npk.assign_labels(E, labels, C, scc)
            R = E - C[np.searchsorted(labels, assigned)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "rv": list(R),
                    "list_id": assigned,
                }
            )

    # one materialized residual pass feeds BOTH the PQ fit (iterative —
    # without the checkpoint every fit stage re-runs the assignment)
    # and the final encode
    res = (
        e.select("vec_id", "embedding")
        .mapInPandas(
            residualize,
            schema="vec_id long, rv array<double>, list_id long",
        )
        .localCheckpoint()
    )
    fit_mod = _PQFIT_MOD if e.count() > _PQFIT_THRESHOLD else 1
    books_frame = kmeans.lloyd_fit_pq(
        res.select("vec_id", "rv").filter(
            F.col("vec_id") % fit_mod == 0
        ),
        n_sub=n_sub,
        sub_dim=sub_dim,
        k=pq_k,
        iters=pq_iters,
        vec_col="rv",
    )
    books_frame.select(
        F.col("m").cast("long").alias("m"),
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").cast("int").alias("pos"),
        F.col("c").cast("double").alias("c"),
    ).write.mode("overwrite").format("parquet").saveAsTable(books_name)

    books = npk.hydrate_codebooks(spark.table(books_name))

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            R = npk.stack_embeddings(pdf["rv"])
            codes = npk.pq_code_cids(R, books, sub_dim)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                    "list_id": pdf["list_id"].to_numpy(),
                }
            )

    (
        res.mapInPandas(
            encode, schema="vec_id long, codes array<long>, list_id long"
        )
        # one file per list (see ensure_ivf_index): cluster on list_id
        # after the wide encode stage, before the partitioned write
        .repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .format("parquet")
        .saveAsTable(codes_name)
    )
    return codes_name, cent_name, books_name


def _base_score_col(labels: np.ndarray, C: np.ndarray, q: np.ndarray):
    """Literal-map column of the IVF+PQ base term: list_id -> the exact
    scaled-int dot <q, c_list> (`sum(round(q_i*c_i*1e16))`, the same
    fold as the oracle's qbase CTE). k entries — model-sized."""
    base = npk.dot_scaled(q[None, :], C)[0]
    entries = []
    for lab, b in zip(labels, base):
        entries.append(F.lit(int(lab)).cast("long"))
        entries.append(F.lit(int(b)).cast("long"))
    return F.create_map(*entries)[F.col("list_id")]


def ivfpq_query_indexed(
    spark: SparkSession,
    codes_name: str,
    cent_name: str,
    books_name: str,
    embeddings: DataFrame,
    query_vec: np.ndarray,
    nprobe: int = 3,
    shortlist: int = 50,
    topk: int = 10,
) -> DataFrame:
    """Serve one ANN query from the combined layout: probe selection is
    the exact trained-IVF ordering (cos DESC, label DESC, driver-side);
    the shortlist scan reads ONLY the probed list partitions of the
    codes table (`PartitionFilters` pruning), scoring each row as the
    exact int64 sum of the per-list base term <q, c_list> (literal map
    on the partition column) plus the residual ADC lookups — all JVM
    codegen, zero Python; the exact cosine rerank reads just the
    shortlist ids from the float table. Scan cost per query: (nprobe/k
    of the corpus) × (8 ids instead of 64 floats) — both prunings
    compound."""
    import pandas as pd

    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    q = np.asarray(query_vec, dtype=np.float64)
    sqq = npk.self_norms_scaled(q[None, :])[0]
    qp = npk.dot_scaled(q[None, :], C)[0]
    qcos = qp.astype("float64") / (
        np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq))
    )
    order = np.lexsort((-labels, -qcos))  # cos DESC, label DESC
    probe = [int(x) for x in np.sort(labels[order[:nprobe]])]

    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]
    tables = npk.pq_adc_tables(books, sub_dim, q)
    short_ids = [
        int(r[0])
        for r in spark.table(codes_name)
        .filter(F.col("list_id").isin(probe))
        .select(
            "vec_id",
            (_base_score_col(labels, C, q) + _adc_score_col(tables)).alias(
                "s"
            ),
        )
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(shortlist)
        .select("vec_id")
        .collect()
    ]

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            sxx = npk.self_norms_scaled(E)
            p = npk.dot_scaled(E, q)
            cos = p.astype("float64") / (
                np.sqrt(sxx.astype("float64")) * np.sqrt(float(sqq))
            )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cosine": cos}
            )

    return (
        embeddings.filter(F.col("vec_id").isin(short_ids))
        .select("vec_id", "embedding")
        .mapInPandas(rerank, schema="vec_id long, cosine double")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(topk)
    )


def ivfpq_multi_query_indexed(
    spark: SparkSession,
    codes_name: str,
    cent_name: str,
    books_name: str,
    embeddings: DataFrame,
    queries: dict,
    nprobe: int = 3,
    shortlist: int = 50,
    topk: int = 10,
) -> DataFrame:
    """Serve MANY queries from the combined IVF+PQ layout in ONE pass:
    the codes scan is pruned to the UNION of all queries' probe lists
    (partition filter), each query contributes one literal-map ADC
    column gated to its OWN probed lists (`list_id IN probes[q]` — rows
    outside a query's probe score NULL and drop out of its shortlist),
    per-query shortlists come from one window, and one pushed-down
    float read reranks the union of shortlists. Per query the rows are
    identical to `ivfpq_query_indexed` (same probe order, ADC scores,
    shortlist boundary, rerank)."""
    import pandas as pd
    from pyspark.sql import Window

    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]
    qids = sorted(queries)
    Q = {qid: np.asarray(queries[qid], dtype=np.float64) for qid in qids}
    probes: dict[int, list] = {}
    for qid in qids:
        sqq = npk.self_norms_scaled(Q[qid][None, :])[0]
        qp = npk.dot_scaled(Q[qid][None, :], C)[0]
        qcos = qp.astype("float64") / (
            np.sqrt(scc.astype("float64")) * np.sqrt(float(sqq))
        )
        order = np.lexsort((-labels, -qcos))
        probes[qid] = [int(x) for x in np.sort(labels[order[:nprobe]])]
    union_lists = sorted(set().union(*[set(p) for p in probes.values()]))

    scored = spark.table(codes_name).filter(
        F.col("list_id").isin(union_lists)
    ).select(
        "vec_id",
        *[
            F.when(
                F.col("list_id").isin(probes[qid]),
                _base_score_col(labels, C, Q[qid])
                + _adc_score_col(npk.pq_adc_tables(books, sub_dim, Q[qid])),
            ).alias(f"s_{qid}")
            for qid in qids
        ],
    )
    stacked = scored.select(
        "vec_id",
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(int(q)).cast("long") for q in qids]),
                F.array(*[F.col(f"s_{qid}") for qid in qids]),
            )
        ).alias("query_id", "s"),
    ).filter(F.col("s").isNotNull())
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("vec_id")
    )
    short = (
        stacked.withColumn("__rn", F.row_number().over(w_s))
        .filter(F.col("__rn") <= shortlist)
        .select("query_id", "vec_id")
        .collect()
    )
    members: dict[int, set] = {qid: set() for qid in qids}
    for r in short:
        members[int(r[0])].add(int(r[1]))
    union_ids = sorted(set().union(*members.values()))
    sqqs = {qid: npk.self_norms_scaled(Q[qid][None, :])[0] for qid in qids}

    def rerank(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            ids = pdf["vec_id"].to_numpy()
            sxx = npk.self_norms_scaled(E)
            frames = []
            for qid in qids:
                mask = np.isin(ids, list(members[qid]))
                if not mask.any():
                    continue
                p = npk.dot_scaled(E[mask], Q[qid])
                cos = p.astype("float64") / (
                    np.sqrt(sxx[mask].astype("float64"))
                    * np.sqrt(float(sqqs[qid]))
                )
                frames.append(
                    pd.DataFrame(
                        {"query_id": qid, "vec_id": ids[mask], "cosine": cos}
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    reranked = (
        embeddings.filter(F.col("vec_id").isin(union_ids))
        .select("vec_id", "embedding")
        .mapInPandas(
            rerank, schema="query_id long, vec_id long, cosine double"
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        reranked.withColumn("__rn", F.row_number().over(w_c))
        .filter(F.col("__rn") <= topk)
        .drop("__rn")
    )


def append_ivfpq_index(
    spark: SparkSession,
    codes_name: str,
    cent_name: str,
    books_name: str,
    new_vectors: DataFrame,
    sub_dim: int = 8,
) -> None:
    """Incremental maintenance for the COMBINED layout: assign AND
    encode only the new vectors against the FROZEN coarse model and
    codebooks (the exact build kernels — residual encoding since round
    8: codes quantize v - c_list) and append them to their list
    partitions. Same contract as every other layout: append-then-query
    equals rebuild-then-query EXACTLY while both models are unchanged
    (tested); model drift is a periodic `ensure_ivfpq_index` rebuild."""
    labels, C, scc = npk.model_from_rows(spark.table(cent_name).collect())
    books = npk.hydrate_codebooks(spark.table(books_name))

    def assign_encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            assigned, _sxx = npk.assign_labels(E, labels, C, scc)
            R = E - C[np.searchsorted(labels, assigned)]
            codes = npk.pq_code_cids(R, books, sub_dim)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                    "list_id": assigned,
                }
            )

    (
        new_vectors.select("vec_id", "embedding")
        .mapInPandas(
            assign_encode,
            schema="vec_id long, codes array<long>, list_id long",
        )
        # one file per touched list per append (see append_ivf_index)
        .repartition(F.col("list_id"))
        .write.mode("append")
        .insertInto(codes_name)
    )
    spark.catalog.refreshTable(codes_name)


def append_pq_codes(
    spark: SparkSession, codes_name: str, books_name: str,
    new_vectors: DataFrame,
) -> None:
    """Incremental PQ-index maintenance: encode ONLY the new vectors
    against the FROZEN codebooks (the exact `npkernel.pq_code_cids`
    assignment the build used) and append their code rows — no
    retraining, no touch of existing codes. Append-then-query equals
    rebuild-then-query EXACTLY while the codebooks are unchanged
    (tested); codebook drift is handled by a periodic full
    `ensure_pq_index` rebuild, the same contract as `append_ivf_index`."""
    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = npk.stack_embeddings(pdf["embedding"])
            codes = npk.pq_code_cids(E, books, sub_dim)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "codes": list(codes)}
            )

    (
        new_vectors.select("vec_id", "embedding")
        .mapInPandas(encode, schema="vec_id long, codes array<long>")
        .write.mode("append")
        .insertInto(codes_name)
    )
    spark.catalog.refreshTable(codes_name)


# ------------------------------------------------------- binary sign index ----


def sign_names(sf_dir: str) -> tuple[str]:
    """Deterministic table name for the binary sign-signature layout."""
    tag = hashlib.md5(f"{sf_dir}|sign".encode()).hexdigest()[:8]
    return (f"sig_{tag}",)


def _flat_file_count(n_rows: int, bytes_per_row: int) -> int:
    """Right-size an UNPARTITIONED serving table by bytes, not by
    defaultParallelism: target ~32 MiB per file (comfortably one scan
    task each), floor 1. Round 11: the sign table at sf10 is 3.2 MB
    total, and writing it as 32 scheduler-parallelism files made every
    Hamming serve pay 32 task launches for a 3 MB scan — measured
    0.38 s -> 0.24 s with the size-based layout; at 100-TB corpora the
    same rule still yields thousands of files, so scan parallelism is
    preserved where it matters."""
    return max(1, (n_rows * bytes_per_row + (32 << 20) - 1) // (32 << 20))


def ensure_sign_index(spark: SparkSession, sf_dir: str) -> tuple[str]:
    """Persist the binary sign-signature layout once per sf_dir:
    (vec_id, sig_lo, sig_hi) — 16 bytes of payload per vector, the
    cheapest serving table in the quantization ladder (32x below SQ8).
    The packing is a pure per-vector function (axis-aligned sign bits),
    so appends are trivially exact (`append_sign_index`), the
    `append_minhash_index` discipline. The map stage runs at scheduler
    parallelism; the OUTPUT coalesces to ~32 MiB files
    (`_flat_file_count`) because the serve full-scans this table by
    design and tiny files only buy task-launch overhead."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators import similarity as sim
    from stream_processor_spark.operators.storage import drop_warehouse_dir

    (sig_name,) = sign_names(sf_dir)
    if spark.catalog.tableExists(sig_name):
        return (sig_name,)
    spark.sql(f"DROP TABLE IF EXISTS {sig_name}")
    drop_warehouse_dir(spark, sig_name)
    e = Tables(spark, sf_dir).embeddings
    n = e.count()
    e = e.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    lo, hi = sim.sign_signature(F.col("embedding"))
    (
        e.select("vec_id", lo.alias("sig_lo"), hi.alias("sig_hi"))
        # sign rows are ~24 B on disk; repartition (NOT coalesce — a
        # coalesce would collapse the packing map stage itself) to the
        # size-based file count; the shuffled payload is tiny
        .repartition(_flat_file_count(n, 24), "vec_id")
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(sig_name)
    )
    return (sig_name,)


def append_sign_index(
    spark: SparkSession, sig_name: str, new_vectors: DataFrame
) -> None:
    """Incremental maintenance: pack ONLY the new vectors' signatures
    and insert them — O(batch), never a corpus re-scan. append(B) onto
    an index built from A ≡ build from A∪B EXACTLY (per-row pure
    function, no corpus model), the `append_minhash_index` contract.

    Delivery contract under `storage.stream_updates`: at-least-once — a
    foreachBatch retry re-inserts byte-identical rows. Serving heals
    replays exactly with ``hamming_query_indexed(...,
    dedup_replays=True)``; :func:`compact_flat_index` removes the
    duplicates and restores the size-based file profile permanently."""
    from stream_processor_spark.operators import similarity as sim

    lo, hi = sim.sign_signature(F.col("embedding"))
    (
        new_vectors.select(
            "vec_id", lo.alias("sig_lo"), hi.alias("sig_hi")
        )
        .write.mode("append")
        .insertInto(sig_name)
    )
    spark.catalog.refreshTable(sig_name)


def _point_read_row(
    df: DataFrame,
    key_col: str,
    key: int,
    cols: list[str],
    max_files: int = 4,
) -> tuple | None:
    """Driver-side predicate-pushed point read of one row from a SMALL
    local-parquet table — returns None when the layout is too large,
    non-local, or the key is absent (callers fall back to a Spark
    lookup, which also re-validates absence before raising). Bounded by
    construction: ≤ max_files files are opened and only row groups
    whose stats admit the key are decoded."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > max_files:
        return None
    from urllib.parse import unquote, urlparse

    paths = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        paths.append(unquote(u.path))
    try:
        import pyarrow.dataset as ds

        tbl = ds.dataset(paths, format="parquet").to_table(
            filter=ds.field(key_col) == key, columns=cols
        )
    except Exception:
        return None
    if tbl.num_rows == 0:
        return None
    row = tbl.slice(0, 1).to_pylist()[0]
    return tuple(row[c] for c in cols)


def hamming_query_indexed(
    spark: SparkSession,
    sig_name: str,
    query_vec_id: int = 0,
    k: int = 50,
    dedup_replays: bool = False,
) -> DataFrame:
    """Hamming shortlist served from the persisted signature table: the
    query's own signature comes from the SAME table (one-row filter,
    broadcast), then XOR + bit_count over 16-byte rows — per-query cost
    is one slim-table scan regardless of embedding width.

    ``dedup_replays=True`` drops duplicate vec_ids first (replayed
    `append_sign_index` calls insert byte-identical rows, so the
    key dedup is exact); leave False for batch-built or freshly
    compacted layouts — the duplicate-free common case keeps the serve
    a pure scan + TakeOrdered."""
    sigs = spark.table(sig_name)
    if dedup_replays:
        sigs = sigs.dropDuplicates(["vec_id"])
    # The query-signature lookup hydrates a 16-BYTE model row, and on a
    # size-based layout (`_flat_file_count`, one ~32 MiB file per
    # decade of corpus) the whole serve was TWO Spark jobs for one
    # productive scan — the lookup job alone was ~half the 0.24 s sf10
    # serve (round-11 verdict, 2.5x residue). Round 12: for layouts of
    # a few files, point-read the row driver-side straight from the
    # table's parquet files (pyarrow, predicate-pushed — the IVF
    # centroid-collect bounded-hydration discipline applied to a
    # point lookup); the serve becomes ONE job. Larger layouts (or
    # non-local storage schemes pyarrow can't reach) keep the Spark
    # lookup job — at that scale the scan dominates and the extra job
    # launch is noise. Either path doubles as the missing-id guard
    # (round-11 ADVICE: absent id fails loudly). Hydrated-literal scan:
    # no crossJoin/broadcast exchange in the hot scan either way.
    qrow = _point_read_row(
        sigs, "vec_id", query_vec_id, ["sig_lo", "sig_hi"]
    )
    if qrow is None:
        qrow = (
            sigs.filter(F.col("vec_id") == query_vec_id)
            .select("sig_lo", "sig_hi")
            .head()
        )
    if qrow is None:
        raise ValueError(
            f"hamming_query_indexed: query_vec_id={query_vec_id} not found "
            f"in signature table {sig_name!r} — the index is stale or the "
            "id is wrong; rebuild with build_sign_index or append the "
            "vector with append_sign_index"
        )
    q_lo, q_hi = int(qrow[0]), int(qrow[1])
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.lit(q_lo)))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.lit(q_hi)))
    ).cast("long")
    return (
        sigs.select("vec_id", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id"))
        .limit(k)
    )


# ----------------------------------------------------- index compaction ----


def _partition_file_counts(
    spark: SparkSession, table_name: str, part_col: str = "list_id"
) -> dict[str, int]:
    """data-file count per `{part_col}=N` partition directory of a
    managed table, via the Hadoop FileSystem API (scheme-agnostic, the
    `drop_warehouse_dir` rationale). Hidden/_SUCCESS files excluded.
    Round 11: part_col parameterized so the graph layout's `src_b=`
    partitions profile through the same probe."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(warehouse + "/" + table_name)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: dict[str, int] = {}
    if not fs.exists(jpath):
        return out
    prefix = f"{part_col}="
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith(prefix):
            continue
        n = 0
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if f.isFile() and not fname.startswith(("_", ".")):
                n += 1
        out[name] = n
    return out


def compact_ivf_lists(
    spark: SparkSession, lists_name: str, dedup_replays: bool = True
) -> int:
    """Restore the ONE-file-per-list read profile after appends — the
    IVF/IVF-PQ twin of `postings.compact_postings` (round-11 VERDICT:
    the layouts had append paths but no recluster/compact maintenance
    op, so long-lived indexes would regrow the fragmentation the
    round-10 layout fix removed).

    Works on ANY `list_id`-partitioned index table (the IVF inverted
    lists AND the IVF-PQ codes table share the layout): rewrites the
    table as one file per list via a staging table + `swap_tables`.
    Same non-atomicity contract as compact_postings — single writer,
    quiesced readers; every crash point is healed by `recover_swap`,
    which this function runs first. With ``dedup_replays`` (default)
    duplicate vec_id rows from at-least-once streaming appends are
    healed permanently here (LSM discipline: compaction is where
    replay damage gets repaired for good). Returns the list count."""
    from stream_processor_spark.operators.storage import (
        drop_warehouse_dir,
        recover_swap,
        swap_tables,
    )

    recover_swap(spark, lists_name, f"{lists_name}_compacting")
    rows = spark.table(lists_name)
    if "list_id" not in rows.columns:
        raise ValueError(f"{lists_name} is not a list_id-partitioned index")
    if dedup_replays:
        rows = rows.dropDuplicates(["vec_id"])
    tmp = f"{lists_name}_compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    drop_warehouse_dir(spark, tmp)
    (
        rows.repartition(F.col("list_id"))
        .write.partitionBy("list_id")
        .format("parquet")
        .saveAsTable(tmp)
    )
    swap_tables(spark, lists_name, tmp)
    return len(_partition_file_counts(spark, lists_name))


def compact_flat_index(
    spark: SparkSession, table_name: str, dedup_replays: bool = True
) -> int:
    """Compaction for the UNPARTITIONED slim index tables (sign
    signatures, flat PQ codes): every append adds task-count files, and
    though serves full-scan these tables by design, thousands of tiny
    files still cost a scheduler task each. Rewrites to
    defaultParallelism right-sized files via the same staging+swap
    protocol; dedups replayed vec_ids like `compact_ivf_lists`.
    Returns the file count after compaction."""
    from stream_processor_spark.operators.storage import (
        drop_warehouse_dir,
        recover_swap,
        swap_tables,
    )

    recover_swap(spark, table_name, f"{table_name}_compacting")
    rows = spark.table(table_name)
    if dedup_replays:
        rows = rows.dropDuplicates(["vec_id"])
    tmp = f"{table_name}_compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    drop_warehouse_dir(spark, tmp)
    n = rows.count()
    (
        # size-based output files (see _flat_file_count): the serve
        # full-scans, so tiny files only buy task-launch overhead
        rows.repartition(_flat_file_count(n, 24), "vec_id")
        .write.format("parquet")
        .saveAsTable(tmp)
    )
    swap_tables(spark, table_name, tmp)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(warehouse + "/" + table_name)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return sum(
        1
        for st in fs.listStatus(jpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )
