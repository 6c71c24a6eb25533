"""Seeded inputs for the benchmark, and their expected outputs.

Everything the engine sees is made here from ``--seed``: the wire
messages of the pipeline workloads, the fixture tables of the query mix,
and the document batches of the postings layout. The expected outputs
are computed in plain Python from the same inputs, with the reference
chain semantics (add10 -> capitalize -> appendString -> isEven, the DLQ
on capitalize), so no engine code takes part in deciding what is right.
"""

from __future__ import annotations

import json
import math
import os
import random
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference message record (FIXTURES.md A1) as an Avro schema, the
# producer_b wire format.
AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "DemoMessage",
        "fields": [
            {"name": "key", "type": ["null", "string"]},
            {"name": "value", "type": ["null", "string"]},
            {"name": "num", "type": ["null", "int"]},
        ],
    }
)
SCHEMA_ID = 7

# The reference catalog of tests/test_pipeline.py: one active pipeline
# with the 4-step chain, DLQ on capitalize.
CATALOG_DOC = {
    "topics": [
        {"id": 1, "topic_name": "topic-in"},
        {"id": 2, "topic_name": "topic-out"},
        {"id": 17, "topic_name": "dlq-capitalize"},
    ],
    "schemas": [{"id": 1, "schema_name": "schema_a"}],
    "processors": [
        {"id": 10, "processor_name": "add10", "is_filter": False},
        {"id": 11, "processor_name": "capitalize", "is_filter": False},
        {"id": 12, "processor_name": "appendString", "is_filter": False},
        {"id": 13, "processor_name": "isEven", "is_filter": True},
    ],
    "pipelines": [
        {
            "id": 1,
            "name": "bench",
            "source_topic_id": 1,
            "target_topic_id": 2,
            "incoming_schema_id": 1,
            "outgoing_schema_id": 1,
            "steps": {"processors": [10, 11, 12, 13], "dlq": [None, 17, None, None]},
        }
    ],
}

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

WIRE_SCHEMA = pa.schema([("key", pa.string()), ("value", pa.binary())])


# ------------------------------------------------------------ messages --


def messages(rng: random.Random, n: int, null_share: float = 0.1) -> list[tuple]:
    """``n`` reference records ``(key, value, num)``. About ``null_share``
    have a null value (capitalize fails -> DLQ); ``num`` parity is a coin
    flip, so isEven drops about half of the rest."""
    out = []
    for _ in range(n):
        key = f"k{rng.getrandbits(48):012x}"
        value = None if rng.random() < null_share else (
            f"{rng.choice(VOCAB)}-{rng.randrange(100000)}"
        )
        out.append((key, value, rng.randrange(1 << 30)))
    return out


def wire_encoder(fmt: str):
    """record tuple -> Confluent-framed wire bytes for ``fmt``."""
    from stream_processor_spark.pipeline import avro_py
    from stream_processor_spark.pipeline.codecs import wire_header

    header = wire_header(SCHEMA_ID)
    if fmt == "json":
        return lambda r: header + json.dumps(
            {"key": r[0], "value": r[1], "num": r[2]}, separators=(",", ":")
        ).encode()
    if fmt == "avro":
        schema = avro_py.parse_schema(AVRO_SCHEMA)
        return lambda r: header + avro_py.encode(
            {"key": r[0], "value": r[1], "num": r[2]}, schema
        )
    raise ValueError(f"unknown wire format {fmt!r}")


def wire_decoder(fmt: str):
    """Framed wire bytes -> (schema id, key, value, num)."""
    from stream_processor_spark.pipeline import avro_py

    if fmt == "json":
        def dec(b: bytes):
            d = json.loads(b[5:])
            return d.get("key"), d.get("value"), d.get("num")
    else:
        schema = avro_py.parse_schema(AVRO_SCHEMA)

        def dec(b: bytes):
            d = avro_py.decode(b[5:], schema)
            return d["key"], d["value"], d["num"]

    return lambda b: (int.from_bytes(b[1:5], "big"), *dec(bytes(b)))


def unit_table(records: list[tuple], encode) -> pa.Table:
    """One file unit: the Kafka-shaped (key, value) frame."""
    return pa.table(
        {"key": [r[0] for r in records], "value": [encode(r) for r in records]},
        schema=WIRE_SCHEMA,
    )


def expected_routes(records) -> tuple[Counter, Counter, Counter]:
    """(target rows, DLQ rows, route counts) the reference chain gives.

    Rows are ``(wire key, schema id, key, value, num)``. The DLQ carries
    the ORIGINAL record; the target carries the transformed one; isEven
    drops odd ``num + 10``."""
    target: Counter = Counter()
    dlq: Counter = Counter()
    routes: Counter = Counter()
    for key, value, num in records:
        num10 = num + 10
        if value is None:
            dlq[(key, SCHEMA_ID, key, None, num)] += 1
            routes["dlq_capitalize"] += 1
        elif num10 % 2:
            routes["dropped"] += 1
        else:
            target[(key, SCHEMA_ID, key, value.upper() + "_appended", num10)] += 1
            routes["ok"] += 1
    return target, dlq, routes


def multiset_mismatch(expected: Counter, actual: Counter) -> int:
    """Rows lost plus rows duplicated or wrong: the size of the multiset
    symmetric difference."""
    return sum(((expected - actual) + (actual - expected)).values())


# -------------------------------------------------------------- tables --


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days * 86_400_000_000, n)
    return pa.array(us, pa.timestamp("us"))


def _text(rng: random.Random, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def document_rows(rng: random.Random, first_id: int, n: int) -> list[dict]:
    out = []
    for i in range(n):
        text = _text(rng)
        out.append(
            {
                "doc_id": first_id + i,
                "text": text,
                "lang": rng.choice(["en", "en", "zh", "es", "fr", "de"]),
                "source": f"src{rng.randrange(20)}",
                "n_chars": len(text),
            }
        )
    return out


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_tables(sf_dir: str, sf: float, seed: int, n_docs: int) -> None:
    """The ten fixture tables (FIXTURES.md B) at scale ``sf``, one parquet
    file each, with the value domains the registry queries expect."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "big", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "cog"])
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    pa_ = rng.integers(0, 8, n_part)
    pn = rng.integers(0, 8, n_part)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(pa_, pn)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2400).cast(pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2500),
    })
    etypes = np.array(["error", "click", "view", "signup", "purchase"])
    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * 86_400_000_000, n_ev)
    )
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    pq.write_table(
        pa.Table.from_pylist(document_rows(prng, 0, n_docs), DOC_SCHEMA),
        os.path.join(sf_dir, "documents.parquet"),
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


# ---------------------------------------------------------- BM25 oracle --


class Bm25Oracle:
    """BM25 over a growing corpus, the same tokenizer and formula as
    ``operators.postings`` (split on one space, drop empty tokens;
    k1 = 1.2, b = 0.75; scores rounded to 6 places)."""

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.docs: dict[int, Counter] = {}
        self.lens: dict[int, int] = {}

    def add(self, doc_id: int, text: str) -> None:
        toks = [t for t in text.split(" ") if t]
        if toks and doc_id not in self.docs:
            self.docs[doc_id] = Counter(toks)
            self.lens[doc_id] = len(toks)

    def postings_rows(self, qtokens) -> int:
        """(tok, doc) rows of the corpus that match ``qtokens``."""
        qs = set(qtokens)
        return sum(len(qs & tf.keys()) for tf in self.docs.values())

    def scores(self, qtokens) -> dict[int, float]:
        n = len(self.docs)
        avgdl = sum(self.lens.values()) / n
        qs = set(qtokens)
        df = Counter(t for tf in self.docs.values() for t in qs & tf.keys())
        out = {}
        for doc_id, tf in self.docs.items():
            hit = qs & tf.keys()
            if not hit:
                continue
            s = 0.0
            for t in hit:
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                f = tf[t]
                s += idf * (f * (self.k1 + 1.0)) / (
                    f + self.k1 * (1.0 - self.b + self.b * self.lens[doc_id] / avgdl)
                )
            out[doc_id] = round(s, 6)
        return out
