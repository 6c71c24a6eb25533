"""Layout-aware query routing: one semantic query, two physical plans.

The engine persists three accelerating layouts — bucketed fact tables
(`operators/storage.bucketed_pair`), a BM25 postings index
(`operators/postings`), and a partitioned IVF vector index
(`operators/annindex`) — and until round 7 the USER had to know which
registered query variant exploits which layout (`text_bm25` vs
`text_bm25_postings`, `tpch_q9_shape` vs `tpch_q9_bucketed`, ...).
That's backwards: a real engine's optimizer resolves the physical plan
from what storage offers. This module is that contract, reduced to its
load-bearing core (the reference — a fixed Node.js Kafka pipeline,
src/consumer.js — has no optimizer at all; this is pure Spark-side
surface):

    r = Router(spark, sf_dir)
    r.resolve("bm25")      # -> ("text_bm25", "scratch")    no index yet
    r.ensure("bm25")       # build the postings layout once
    r.resolve("bm25")      # -> ("text_bm25_postings", "indexed")
    r.query("bm25")        # the routed DataFrame, same rows either way

Routing is a CATALOG PROBE, never a build: `resolve` asks
``tableExists`` on the layout's deterministic table names
(`postings_names` / `ivf_names` / `bucketed_pair_names`) and picks the
indexed variant only when every table of the layout is present. Both
variants of every route are independently hash-oracled registry entries
producing identical results (the round-6 twins), so routing can never
change answers — only plans. Routes whose batched/multi-query shape has
no from-scratch twin (`bm25_multi`, `ann_multi`, `ann_sq8_multi`)
build the layout on first use instead — the registered behavior.

At 100 TB the router is what turns the build-once/serve-pruned story
into default behavior: ingest jobs call ``ensure`` after writing,
query jobs just ask for the semantic query and hit the indexed plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from stream_processor_spark.operators import (
    annindex,
    dedup,
    graphann,
    postings,
    semindex,
    storage,
    zonemap,
)
from stream_processor_spark.queries import REGISTRY, reference


@dataclass(frozen=True)
class Route:
    """One semantic query: the layout(s) that accelerate it, the
    registry entry serving from that layout, and the from-scratch
    registry entry used when the layout doesn't exist (None → the
    indexed variant builds the layout on first use, which is its
    registered behavior). ``layout`` may be a tuple for queries that
    serve from several layouts at once (hybrid retrieval: postings AND
    the IVF index) — the indexed plan is picked only when EVERY layout
    is present."""

    layout: str | tuple[str, ...]
    indexed: str
    scratch: str | None

    @property
    def layouts(self) -> tuple[str, ...]:
        return self.layout if isinstance(self.layout, tuple) else (self.layout,)


def _graph_names(spark: SparkSession, sf_dir: str) -> tuple[str, ...]:
    # the layout name follows the scale-aware auto params (fixture
    # profile at oracle scales, schedule + cap above — round 12), so
    # the catalog probe and the entries' ensure always agree
    bits, cap = graphann.graph_auto_params(spark, sf_dir)
    return graphann.graph_names(sf_dir, bits, graphann.GRAPH_M, cap)


# layout key -> (deterministic table names, idempotent build), both
# called as fn(spark, sf_dir)
LAYOUTS = {
    "bm25_postings": (postings.postings_names, postings.ensure_postings),
    "ivf_index": (
        lambda s, d: annindex.ivf_names(d),
        annindex.ensure_ivf_index,
    ),
    "bucketed_fact": (storage.bucketed_pair_names, storage.bucketed_pair),
    "ivf_trained": (
        lambda s, d: annindex.ivf_trained_names(d),
        annindex.ensure_ivf_trained_index,
    ),
    "pq_index": (
        lambda s, d: annindex.pq_names(d),
        annindex.ensure_pq_index,
    ),
    "zonemap": (
        lambda s, d: zonemap.zonemap_names(d),
        zonemap.ensure_zonemap,
    ),
    "semantic_index": (
        lambda s, d: semindex.semantic_names(d),
        semindex.ensure_semantic_index,
    ),
    "minhash_index": (
        lambda s, d: dedup.minhash_names(d),
        dedup.ensure_minhash_index,
    ),
    "ivfpq_index": (
        lambda s, d: annindex.ivfpq_names(d),
        annindex.ensure_ivfpq_index,
    ),
    "sign_index": (
        lambda s, d: annindex.sign_names(d),
        annindex.ensure_sign_index,
    ),
    "graph_index": (_graph_names, graphann.ensure_graph_index),
    "events_extracted": (
        lambda s, d: reference.events_extracted_names(d),
        reference._ensure_events_extracted,
    ),
}

# semantic name -> Route. Both registry entries of a route share result
# semantics (each is hash-oracled against the same-shaped DuckDB SQL).
ROUTES = {
    "bm25": Route("bm25_postings", "text_bm25_postings", "text_bm25"),
    "bm25_multi": Route("bm25_postings", "text_bm25_multiquery", None),
    "ann_topk": Route("ivf_index", "sim_ann_ivf_indexed", "sim_ann_ivf"),
    "ann_multi": Route("ivf_index", "sim_ann_ivf_multiquery", None),
    "fact_fact_join": Route("bucketed_fact", "join_bucketed", None),
    "star_3way": Route(
        "bucketed_fact", "join_star_3way_bucketed", "join_star_3way"
    ),
    "star_5way": Route(
        "bucketed_fact", "join_star_5way_bucketed", "join_star_5way"
    ),
    "tpch_q9": Route("bucketed_fact", "tpch_q9_bucketed", "tpch_q9_shape"),
    "tpch_q21": Route("bucketed_fact", "tpch_q21_bucketed", "tpch_q21_shape"),
    "ann_trained": Route(
        "ivf_trained", "sim_ann_ivf_trained_indexed", "sim_ann_ivf_trained"
    ),
    "ann_pq": Route("pq_index", "sim_ann_pq_indexed", "sim_ann_pq_trained"),
    "ann_pq_multi": Route("pq_index", "sim_ann_pq_multiquery", None),
    "doc_lookup": Route("zonemap", "point_lookup_indexed", "point_lookup"),
    "doc_range_lookup": Route(
        "zonemap", "range_lookup_indexed", "range_lookup"
    ),
    "fk_audit": Route(
        "bucketed_fact",
        "dq_referential_integrity_bucketed",
        "dq_referential_integrity",
    ),
    "hybrid_search": Route(
        ("bm25_postings", "ivf_index"), "retrieval_hybrid_rrf_indexed", None
    ),
    "semantic_dedup": Route(
        "semantic_index", "dedup_semantic_indexed", "dedup_semantic"
    ),
    "near_dedup": Route("minhash_index", "dedup_near_indexed", "dedup_near"),
    "ann_ivfpq": Route("ivfpq_index", "sim_ann_ivfpq_indexed", None),
    "ann_binary": Route(
        "sign_index", "sim_ann_hamming_indexed", "sim_ann_hamming_rerank"
    ),
    "ann_binary_multi": Route(
        "sign_index", "sim_ann_hamming_multiquery", None
    ),
    "ann_graph": Route("graph_index", "sim_ann_graph_indexed", None),
    "ann_graph_multi": Route(
        "graph_index", "sim_ann_graph_multiquery", None
    ),
    "ann_ivfpq_multi": Route(
        "ivfpq_index", "sim_ann_ivfpq_multiquery", None
    ),
    # the parse-at-read twin is reference-faithful but permanently
    # parse-bound (docs/DLQ_PARSE_AB_r11_sf10ev.json); routing by
    # layout makes the ingest-extracted fast path the default once the
    # layout lands, without callers knowing two entries exist
    "dlq": Route("events_extracted", "dlq_split_extracted", "dlq_split"),
}


class Router:
    """Resolve semantic query names to the best available physical plan
    for one (spark, sf_dir) pair. Stateless between calls: every
    `resolve` re-probes the catalog, so a layout built (or dropped)
    elsewhere in the session is picked up immediately."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def has_layout(self, layout: str) -> bool:
        names_fn, _ = LAYOUTS[layout]
        return all(
            self.spark.catalog.tableExists(n)
            for n in names_fn(self.spark, self.sf_dir)
        )

    def ensure(self, name: str) -> None:
        """Build ``name``'s accelerating layout(s) if absent (ingest-
        side call; the amortized write the serve path assumes)."""
        for layout in ROUTES[name].layouts:
            _, build = LAYOUTS[layout]
            build(self.spark, self.sf_dir)

    def ensure_all(self) -> dict[str, dict]:
        """Bootstrap EVERY accelerating layout for this sf_dir in one
        call — the ingest-side epilogue that makes the indexed plan the
        DEFAULT user experience instead of a per-route `ensure`
        scavenger hunt:

            r = Router(spark, sf_dir)
            manifest = r.ensure_all()   # builds whatever is absent
            r.plan_report()             # every route now 'indexed'

        Returns a build manifest: for each layout key, its physical
        table names, whether this call built it (False → it already
        existed and the builder's presence probe made the call a no-op),
        and the wall-clock spent. Layouts build in a deterministic
        (sorted) order; each builder is idempotent and crash-safe on
        its own (staged-swap discipline in `operators/storage`), so a
        killed `ensure_all` is simply re-run. At 100 TB this is the
        one scheduled job after an ingest batch lands; per-layout
        `append_*` maintenance (postings/zonemap/IVF/IVFPQ/minhash/
        semantic) keeps steady-state cost O(batch), with `ensure_all`
        as the periodic full-rebuild escape hatch."""
        import time as _time

        manifest: dict[str, dict] = {}
        for layout in sorted(LAYOUTS):
            names_fn, build = LAYOUTS[layout]
            existed = self.has_layout(layout)
            t0 = _time.time()
            if not existed:
                build(self.spark, self.sf_dir)
            manifest[layout] = {
                "tables": list(names_fn(self.spark, self.sf_dir)),
                "built": not existed,
                "build_sec": round(_time.time() - t0, 2),
            }
        return manifest

    def resolve(self, name: str) -> tuple[str, str]:
        """(registry entry, 'indexed' | 'scratch') for semantic query
        ``name`` — the probe decision without running anything."""
        route = ROUTES[name]
        if route.scratch is None or all(
            self.has_layout(lo) for lo in route.layouts
        ):
            return route.indexed, "indexed"
        return route.scratch, "scratch"

    def query(self, name: str) -> DataFrame:
        """The routed DataFrame for semantic query ``name``."""
        entry, _ = self.resolve(name)
        return REGISTRY[entry].fn(self.spark, self.sf_dir)

    def plan_report(self) -> dict[str, tuple[str, str]]:
        """Every route's current resolution — the EXPLAIN of the router."""
        return {name: self.resolve(name) for name in ROUTES}
