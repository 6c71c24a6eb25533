"""The three measured phases every workload runs: the pipeline (open-loop
latency and a closed drain), the query mix, and the postings layout's
ingest beside serve. Each phase stages its inputs in ``setup``; run.py
interleaves their measured steps in rounds, ``finish`` turns the samples
into metrics, and correctness checks run after the clock stops.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

import gen
import oracle_harness
from stream_processor_spark.operators.postings import (
    append_postings,
    bm25_from_postings,
    postings_names,
)
from stream_processor_spark.operators.txn_table import TxnTable
from stream_processor_spark.pipeline import exporter
from stream_processor_spark.pipeline.catalog import PipelineCatalog
from stream_processor_spark.pipeline.codecs import (
    SchemaRegistry,
    SubjectSchema,
    demo_message_schema,
)
from stream_processor_spark.pipeline.metrics import PipelineMetrics
from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
from stream_processor_spark.queries import REGISTRY, oracle_sql
from stream_processor_spark.router import Router
from tracing import Tracer, median, quantile

# The pinned query mix: one registry entry per operator family of
# bench.HEADLINE that runs in well under a second at the benchmark's
# scales (JSON parse, shuffle aggregate, broadcast join, Python UDF). Pinned here so an edit to bench.py cannot change the workload.
QUERIES = (
    "dlq_split",
    "agg_groupby_basic",
    "join_broadcast",
    "udf_scalar",
)

# Each append round of the layout loop serves this many BM25 queries, and
# every REPLAY_EVERY-th append redelivers the previous batch.
SERVES_PER_APPEND = 1
REPLAY_EVERY = 3
# Fixture scale of the query mix, and the documents in its table and in
# the postings layout's base build.
SF = 0.001
DOCS = 500

# The open loop's trigger. While the generator sends, batches run back to
# back (each takes far longer); while it pauses, the idle query polls the
# topic ten times a second instead of every few milliseconds.
LATENCY_TRIGGER = "100 milliseconds"
# Seconds of open loop that warm the query up in set-up.
LATENCY_WARM_S = 1.0

WIRE_STRUCT = StructType(
    [StructField("key", StringType()), StructField("value", BinaryType())]
)
DOC_DDL = "doc_id long, text string, lang string, source string, n_chars long"


@dataclass
class Run:
    """State shared by the phases of one benchmark run."""

    spark: object
    tmp: str
    seed: int
    cfg: dict
    tracer: Tracer
    plant_error: bool = False
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def check(self, n_ops: int, n_bad: int, what: str) -> None:
        self.attempted += n_ops
        self.failed += n_bad
        if n_bad:
            self.detail.setdefault("mismatches", []).append(f"{what}: {n_bad}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def job_group(self, group: str) -> None:
        """Key the next jobs in the event log (traced run only)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)


# ------------------------------------------------------------- pipeline --


class TimedSink(Sink):
    """A ``txn_table`` sink that records when each ``write_batch`` starts
    and commits, keyed by streaming batch id."""

    def __init__(self, path: str, role: str, tracer: Tracer):
        super().__init__("txn_table", path)
        self.role = role
        self.tracer = tracer
        self.commits: dict[int, tuple[float, float]] = {}

    def write_batch(self, df, batch_id=None):
        t0 = time.perf_counter()
        with self.tracer.span(f"runner.{self.role}_write", batch_id):
            super().write_batch(df, batch_id)
        self.commits[batch_id] = (t0, time.perf_counter())


def _source_files(checkpoint: str) -> dict[str, int]:
    """file name -> streaming batch id, from the file source's own log."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _read_txn(spark, path: str, decode) -> Counter:
    """Committed rows of a TxnTable as a multiset of decoded wire rows."""
    rows: Counter = Counter()
    for f in TxnTable(spark, path).snapshot()["files"]:
        t = pq.read_table(f.removeprefix("file:"), columns=["key", "value"])
        for k, v in zip(t.column("key").to_pylist(), t.column("value").to_pylist()):
            rows[(k, *decode(v))] += 1
    return rows


def _scrape(page: str) -> dict[str, float]:
    """Sum each counter family over its labels in a Prometheus page."""
    out: Counter = Counter()
    for line in page.splitlines():
        if line and not line.startswith("#"):
            out[line.split("{", 1)[0]] += float(line.rsplit(" ", 1)[1])
    return out


class Pipeline:
    """The reference pipeline over a file topic with exactly-once
    ``txn_table`` sinks for the target and the DLQ."""

    def __init__(self, run: Run):
        self.run = run
        fmt = run.cfg["wire"]
        schemas = SchemaRegistry()
        schemas.register(
            SubjectSchema(
                subject="schema_a",
                fmt=fmt,
                spark_schema=demo_message_schema(),
                avro_json=gen.AVRO_SCHEMA if fmt == "avro" else None,
                schema_id=gen.SCHEMA_ID,
            )
        )
        catalog = PipelineCatalog.from_dict(gen.CATALOG_DOC)
        self.runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
        self.resolved = catalog.resolve(1)
        self.encode = gen.wire_encoder(fmt)
        self.decode = gen.wire_decoder(fmt)
        self.rng = random.Random(run.seed)
        self.queries: list[dict] = []  # one per streaming query started
        self.progress: list[dict] = []

    def _units(self, n_units: int, unit: int) -> list[tuple[list, pa.Table]]:
        out = []
        for _ in range(n_units):
            recs = gen.messages(self.rng, unit)
            out.append((recs, gen.unit_table(recs, self.encode)))
        return out

    def setup(self) -> None:
        cfg, run = self.run.cfg, self.run
        # open loop: units due at a fixed rate, made here, sent later
        n_lat = max(1, int(cfg["latency_s"] * cfg["rate"] / cfg["lat_unit"]))
        self.lat_units = self._units(n_lat, cfg["lat_unit"])
        n_warm = max(1, int(LATENCY_WARM_S * cfg["rate"] / cfg["lat_unit"]))
        self.warm_units = self._units(n_warm, cfg["lat_unit"])
        self.lat: list[float] = []
        # closed drain: one fixed backlog on disk before the query starts
        self.backlog_dir = run.path("backlog")
        os.makedirs(self.backlog_dir)
        self.backlog = []
        n_backlog = cfg["backlog"] // cfg["drain_unit"]
        for i, (recs, table) in enumerate(self._units(n_backlog, cfg["drain_unit"])):
            pq.write_table(table, os.path.join(self.backlog_dir, f"u{i:05d}.parquet"))
            self.backlog.extend(recs)
        # warm-up: one unchecked trigger of up to 5,000 messages over copies
        # of the first backlog files, so the one-off costs of the first
        # streaming query and of drain-size batches are paid here, not in
        # the measured phases
        n_warm = max(1, min(cfg["quantum"], 5_000) // cfg["drain_unit"])
        warm = run.path("warm-topic")
        os.makedirs(warm)
        for name in sorted(os.listdir(self.backlog_dir))[:n_warm]:
            shutil.copyfile(os.path.join(self.backlog_dir, name), os.path.join(warm, name))
        self._start("warm", warm, n_warm, {"availableNow": True}, None).awaitTermination()
        # and the open loop's query starts here, warmed by a short burst of
        # units (checked, but not timed) at the open-loop rate
        self.start_latency()
        self._send(list(enumerate(self.warm_units)), "w", [], [])
        self.lat_query.processAllAvailable()

    def _start(self, tag: str, topic_dir: str, max_files: int, trigger: dict, records):
        run = self.run
        q = {
            "tag": tag,
            "records": records,  # what the query must deliver (None: unchecked)
            "checkpoint": run.path(f"ckpt-{tag}"),
            "target": TimedSink(run.path(f"target-{tag}"), "target", run.tracer),
            "dlq": TimedSink(run.path(f"dlq-{tag}"), "dlq", run.tracer),
            "metrics": PipelineMetrics("1"),
        }
        stream = (
            run.spark.readStream.schema(WIRE_STRUCT)
            .option("maxFilesPerTrigger", max_files)
            .parquet(topic_dir)
        )
        q["query"] = self.runner.run_streaming(
            1,
            stream,
            q["target"],
            {"dlq-capitalize": q["dlq"]},
            checkpoint_dir=q["checkpoint"],
            trigger=trigger,
            metrics=q["metrics"],
        )
        self.queries.append(q)
        return q["query"]

    # -- measured phases --

    def start_latency(self) -> None:
        """Start the open loop's query. It runs through the measured time;
        between the generator's parts it idles, polling at LATENCY_TRIGGER."""
        cfg, run = self.run.cfg, self.run
        self.lat_topic, self.lat_stage = run.path("latency-topic"), run.path("latency-stage")
        os.makedirs(self.lat_topic)
        os.makedirs(self.lat_stage)
        max_files = max(1, cfg["quantum"] // cfg["lat_unit"])
        records = [r for recs, _ in self.warm_units + self.lat_units for r in recs]
        self.lat_query = self._start("latency", self.lat_topic, max_files,
                                     {"processingTime": LATENCY_TRIGGER}, records)
        self.lat_q = self.queries[-1]
        self.lat_q["due"], self.lat_q["sent"] = [], []

    def _send(self, units: list, prefix: str, due: list, sent: list) -> None:
        """Write each unit to the topic at its time in a fixed-rate open
        loop, whatever the engine does, recording when it was due and
        when it landed."""
        cfg = self.run.cfg
        period = cfg["lat_unit"] / cfg["rate"]
        t0 = time.perf_counter() + 0.05
        for i, (j, (_, table)) in enumerate(units):
            at = t0 + i * period
            now = time.perf_counter()
            if at > now:
                time.sleep(at - now)
            name = f"{prefix}{j:05d}.parquet"
            pq.write_table(table, os.path.join(self.lat_stage, name))
            os.rename(os.path.join(self.lat_stage, name), os.path.join(self.lat_topic, name))
            due.append(at)
            sent.append(time.perf_counter())

    def latency(self, part: int, parts: int) -> None:
        """Open loop over the ``part``-th of ``parts`` slices of the staged
        units, then wait until the slice is committed. Latency runs from a
        unit's scheduled time to the commit of the target write that holds
        it."""
        n = len(self.lat_units)
        part_units = range(n * part // parts, n * (part + 1) // parts)
        self._send([(j, self.lat_units[j]) for j in part_units], "u",
                   self.lat_q["due"], self.lat_q["sent"])
        self.lat_query.processAllAvailable()

    def stop_latency(self) -> None:
        q = self.lat_q
        self.lat_query.stop()
        q["batch_of"] = _source_files(q["checkpoint"])
        commits = q["target"].commits
        for j, at in enumerate(q["due"]):
            b = q["batch_of"].get(f"u{j:05d}.parquet")
            # a unit never committed misses any limit
            self.lat.append(commits[b][1] - at if b in commits else math.inf)

    def drain(self) -> None:
        """Closed loop: a fresh query drains the backlog; its wall time runs
        from query start until the backlog is committed."""
        cfg, run = self.run.cfg, self.run
        max_files = max(1, cfg["quantum"] // cfg["drain_unit"])
        with run.tracer.span("pipeline.drain"):
            t0 = time.perf_counter()
            self._start("drain", self.backlog_dir, max_files, {"availableNow": True},
                        self.backlog).awaitTermination()
            self.drain_s = time.perf_counter() - t0

    def finish(self) -> None:
        """The end-to-end figures of the measured phases."""
        cfg, run = self.run.cfg, self.run
        p90 = quantile(self.lat, 0.9)
        run.metrics["pipeline_latency_p50_s"] = median(self.lat)
        run.metrics["pipeline_latency_p90_s"] = p90
        q = self.lat_q
        late = [s - d for s, d in zip(q["sent"], q["due"])]
        run.detail["latency"] = {
            "units": len(self.lat),
            "unit_msgs": cfg["lat_unit"],
            "rate_msg_s": cfg["rate"],
            "samples_beyond_p90": sum(1 for x in self.lat if x > p90),
            "generator_late_ms_p50": median(late) * 1000,
            "generator_late_ms_max": max(late) * 1000,
            # per batch: id, target write seconds, commit time after the
            # first measured unit was due
            "batches": [(b, t1 - t0, t1 - q["due"][0])
                        for b, (t0, t1) in sorted(q["target"].commits.items())],
        }
        run.metrics["drain_msg_s"] = len(self.backlog) / self.drain_s
        run.detail["drain"] = {"backlog_msgs": len(self.backlog), "wall_s": self.drain_s}

    # -- checks (untimed) --

    def verify(self) -> None:
        run = self.run
        for q in self.queries:
            self.progress.extend(
                dict(p, tag=q["tag"]) for p in q["query"].recentProgress
                if p.get("numInputRows")
            )
        self.routes: Counter = Counter()
        for q in self.queries:
            records = q["records"]
            if records is None:
                continue
            target, dlq, routes = gen.expected_routes(records)
            if run.plant_error:
                target[("planted", gen.SCHEMA_ID, "planted", "X", 0)] += 1
            got_t = _read_txn(run.spark, q["target"].path_or_topic, self.decode)
            got_d = _read_txn(run.spark, q["dlq"].path_or_topic, self.decode)
            bad = gen.multiset_mismatch(target, got_t) + gen.multiset_mismatch(dlq, got_d)
            run.check(len(records), min(bad, len(records)), f"pipeline {q['tag']} rows")
            # the exporter's scraped counters must equal the route counts
            scraped = _scrape(exporter.render([q["metrics"]]))
            want = {
                "messages_completed_total": routes["ok"],
                "messages_dlq_total": routes["dlq_capitalize"],
                "messages_dropped_total": routes["dropped"],
                "messages_received_total": len(records),
            }
            run.check(1, int(any(scraped[k] != v for k, v in want.items())),
                      f"pipeline {q['tag']} exporter counters")
            self.routes += routes

    # -- per-layer figures (traced run) --

    def live_layers(self) -> None:
        """The per-layer figures that need the live session."""
        run, L = self.run, self.run.layers
        files_per_commit, nbytes = [], 0
        for q in self.queries:
            for sink in (q["target"], q["dlq"]):
                table = TxnTable(run.spark, sink.path_or_topic)
                prev, latest = 0, table.latest_version()
                for ver in range(0 if latest is None else latest + 1):
                    n = len(table.snapshot(ver)["files"])
                    files_per_commit.append(n - prev)
                    prev = n
                for f in glob.glob(os.path.join(sink.path_or_topic, "**", "*.parquet"),
                                   recursive=True):
                    nbytes += os.path.getsize(f)
        L["txn_table.files_per_commit"] = median(files_per_commit)
        L["txn_table.bytes_written"] = nbytes
        self._codec_breakdown()

    def _codec_breakdown(self) -> None:
        """Materialize to noop, over the staged backlog repeated to about
        60,000 messages: the read, then ``decode_source``, then
        ``routed_frame``, then ``encode_output`` + ``encode_dlq``. A
        layer's cost is the difference between successive steps (median
        of three; near zero it can read slightly negative)."""
        run = self.run
        copies = max(1, 60_000 // len(self.backlog))
        backlog = run.spark.read.schema(WIRE_STRUCT).parquet(self.backlog_dir)
        raw = backlog
        for _ in range(copies - 1):
            raw = raw.unionByName(backlog)
        decoded = self.runner.decode_source(self.resolved, raw)
        routed = self.runner.routed_frame(self.resolved, decoded)
        ok = routed.filter(F.col("route") == "ok")
        orig = [c for c in routed.columns if c != "route" and not c.startswith("out_")]
        dlq = routed.filter(F.col("route") == "dlq_capitalize").select(*orig)
        encoded = self.runner.encode_output(self.resolved, ok).unionByName(
            self.runner.encode_dlq(self.resolved, dlq)
        )
        steps = {"read": raw, "decode": decoded, "route": routed, "encode": encoded}
        times = {k: [] for k in steps}
        for rep in range(3):
            for name, df in steps.items():
                run.job_group(f"codec:{name}")
                t0 = time.perf_counter()
                with run.tracer.span(f"codecs.{name}", rep):
                    df.write.mode("overwrite").format("noop").save()
                times[name].append(time.perf_counter() - t0)
        run.job_group("")
        t = {k: median(v) * 1000 for k, v in times.items()}
        kmsg = copies * len(self.backlog) / 1000.0
        L = run.layers
        L["codecs.decode_ms_per_kmsg"] = (t["decode"] - t["read"]) / kmsg
        L["processors.chain_ms_per_kmsg"] = (t["route"] - t["decode"]) / kmsg
        L["codecs.encode_ms_per_kmsg"] = (t["encode"] - t["route"]) / kmsg

    def layers(self, events) -> None:
        run, L = self.run, self.run.layers
        phases = {
            "ss.latest_offset_ms": "latestOffset",
            "ss.get_batch_ms": "getBatch",
            "ss.query_planning_ms": "queryPlanning",
            "ss.wal_commit_ms": "walCommit",
            "ss.commit_offsets_ms": "commitOffsets",
            "ss.add_batch_ms": "addBatch",
            "ss.trigger_ms": "triggerExecution",
        }
        n = max(1, len(self.progress))
        for name, key in phases.items():  # per-batch means of whole ms
            L[name] = sum(p["durationMs"].get(key, 0) for p in self.progress) / n
        L["ss.batches"] = len(self.progress)
        self._lag()
        # runner: sink writes against the rest of addBatch, per batch
        tw, dw, other = [], [], []
        for q in self.queries:
            for p in self.progress:
                if p["tag"] != q["tag"] or q["tag"] == "warm":
                    continue
                t = q["target"].commits.get(p["batchId"])
                d = q["dlq"].commits.get(p["batchId"])
                t_ms = (t[1] - t[0]) * 1000 if t else 0.0
                d_ms = (d[1] - d[0]) * 1000 if d else 0.0
                tw.append(t_ms)
                if d:
                    dw.append(d_ms)
                other.append(max(0.0, p["durationMs"].get("addBatch", 0) - t_ms - d_ms))
        L["runner.target_write_ms"] = median(tw)
        L["runner.dlq_write_ms"] = median(dw)
        L["runner.other_ms"] = median(other)
        per_batch = events.by_batch().values() if events else []
        L["runner.jobs_per_batch"] = median(v["jobs"] for v in per_batch)
        L["runner.stages_per_batch"] = median(v["stages"] for v in per_batch)
        L["python.worker_ms"] = (
            events.sql_total("time to run Python workers") if events else 0.0
        )
        L["route.ok"] = self.routes["ok"]
        L["route.dlq_capitalize"] = self.routes["dlq_capitalize"]
        L["route.dropped"] = self.routes["dropped"]
        render = []
        for _ in range(20):
            t0 = time.perf_counter()
            exporter.render([q["metrics"] for q in self.queries])
            render.append((time.perf_counter() - t0) * 1000)
        L["metrics.render_ms"] = median(render)

    def _lag(self) -> None:
        """Open-loop rows sent but not yet committed: the peak over the
        measured time, and the highest level at which a part of the open
        loop stopped sending."""
        q = self.lat_q
        per_batch = Counter(b for name, b in q["batch_of"].items() if name.startswith("u"))
        stops = {q["sent"][-1]} | {
            s for s, nxt in zip(q["sent"], q["sent"][1:]) if nxt - s > 1.0
        }
        steps = [(s, 1) for s in q["sent"]] + [
            (end, -per_batch[b]) for b, (_, end) in q["target"].commits.items()
        ]
        lag = peak = at_stop = 0
        for t, d in sorted(steps):
            lag += d
            peak = max(peak, lag)
            if t in stops:
                at_stop = max(at_stop, lag)
        unit = self.run.cfg["lat_unit"]
        L = self.run.layers
        L["file_stream.lag_rows_max"] = peak * unit
        L["file_stream.lag_rows_end"] = at_stop * unit
        L["gen.late_ms_max"] = max(s - d for s, d in zip(q["sent"], q["due"])) * 1000


# -------------------------------------------------------------- queries --


class _Result:
    """A result already collected, in the shape ``oracle_harness.compare``
    reads (it only calls ``toPandas``)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class QueryMix:
    """One client in a closed loop over the pinned query mix, each query
    materialized through the noop sink; build and execute timed apart."""

    def __init__(self, run: Run):
        self.run = run
        self.sf_dir = run.path("sf")

    def setup(self) -> None:
        run = self.run
        gen.write_tables(self.sf_dir, SF, run.seed, DOCS)
        self.times = {q: [] for q in QUERIES}
        self.passes = 0
        # first touch (compile, caches) collects each result for the
        # oracle check that runs after the clock stops
        self.results, warm = {}, run.detail.setdefault("warm_s", {})
        for name in QUERIES:
            t0 = time.perf_counter()
            self.results[name] = REGISTRY[name].fn(run.spark, self.sf_dir).toPandas()
            warm[name] = time.perf_counter() - t0

    def one_pass(self) -> None:
        """One pass over the mix: each query built, then executed."""
        run = self.run
        for name in QUERIES:
            run.job_group(f"q:{name}")
            with run.tracer.span("queries.query", name):
                t0 = time.perf_counter()
                with run.tracer.span("queries.build", name):
                    df = REGISTRY[name].fn(run.spark, self.sf_dir)
                t1 = time.perf_counter()
                with run.tracer.span("queries.exec", name):
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
            self.times[name].append((t1 - t0, t2 - t1))
        self.passes += 1
        run.job_group("")

    def finish(self) -> None:
        run = self.run
        total = {q: median(b + e for b, e in v) for q, v in self.times.items()}
        run.metrics["query_mix_s"] = sum(total.values())
        run.metrics["query_build_s"] = sum(
            median(b for b, _ in v) for v in self.times.values()
        )
        run.detail["queries"] = {"passes": self.passes, "median_s": total}

    def verify(self) -> None:
        run = self.run
        oracles = oracle_sql()
        for name in QUERIES:
            sql = oracles[name]
            if run.plant_error and name == QUERIES[0]:
                sql = f"SELECT * FROM ({sql}) LIMIT 1"
            res = oracle_harness.compare(name, _Result(self.results[name]), sql,
                                         self.sf_dir)
            n = len(self.times[name])
            run.check(n, 0 if res.ok else n, f"query {name}: {res.detail}")

    def layers(self, events) -> None:
        run, L = self.run, self.run.layers
        passes = self.passes
        L["queries.build_ms"] = run.metrics["query_build_s"] * 1000
        L["queries.exec_ms"] = sum(
            median(e for _, e in v) for v in self.times.values()
        ) * 1000
        per_query = events.by_group("q:") if events else {}
        keys = {
            "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
            "exec.run_ms": "run_ms", "exec.cpu_ms": "cpu_ms",
            "exec.input_bytes": "input_bytes",
            "exec.shuffle_write_bytes": "shuffle_write_bytes",
            "exec.spill_bytes": "spill_bytes", "plan.exchanges": "exchanges",
        }
        for out, key in keys.items():  # per pass of the mix
            L[out] = sum(v.get(key, 0.0) for v in per_query.values()) / passes
        run.detail["per_query"] = {
            g[2:]: {k: v / passes for k, v in stats.items() if not k.startswith("sql:")}
            for g, stats in per_query.items()
        }


# --------------------------------------------------------------- layout --


def _scores_equal(got: dict, want: dict) -> bool:
    """Same documents, scores equal to the 6 places both sides round to
    (one unit of slack for summation order)."""
    return got.keys() == want.keys() and all(
        abs(got[d] - want[d]) <= 1.5e-6 for d in want
    )


class Layout:
    """Postings layout: a base build in set-up, then a closed loop of
    rounds, each one ``append_postings`` and SERVES_PER_APPEND BM25
    serves."""

    def __init__(self, run: Run):
        self.run = run
        self.dir = run.path("layout")
        self.rng = random.Random(run.seed * 7919 + 1)

    def setup(self) -> None:
        run = self.run
        os.makedirs(self.dir)
        base = gen.document_rows(self.rng, 0, DOCS)
        pq.write_table(pa.Table.from_pylist(base, gen.DOC_SCHEMA),
                       os.path.join(self.dir, "documents.parquet"))
        self.oracle = gen.Bm25Oracle()
        for d in base:
            self.oracle.add(d["doc_id"], d["text"])
        self.next_id = len(base)
        # the base build goes through the router, as an ingest job would
        t0 = time.perf_counter()
        with run.tracer.span("router.ensure", "bm25_postings"):
            Router(run.spark, self.dir).ensure("bm25")
        run.layers["router.ensure_s"] = time.perf_counter() - t0
        self.post, self.stats = postings_names(run.spark, self.dir)
        self.appends, self.replays, self.serves = [], [], []
        self.kept = []  # distinct (tok, doc) rows each serve must score
        self.k, self.prev, self.n_ops, self.bad = 0, None, 0, 0

    def one_round(self, redeliver: bool = False) -> None:
        """One append, then SERVES_PER_APPEND serves. Every REPLAY_EVERY-th
        append, and one with ``redeliver``, redelivers the previous batch."""
        run, cfg, spark = self.run, self.run.cfg, self.run.spark
        k = self.k
        self.k += 1
        replay = redeliver or k % REPLAY_EVERY == REPLAY_EVERY - 1
        if replay:
            rows = self.prev
        else:
            rows = gen.document_rows(self.rng, self.next_id, cfg["append_docs"])
            self.next_id += len(rows)
        df = spark.createDataFrame(rows, schema=DOC_DDL)
        run.job_group(f"append:{k}")
        t0 = time.perf_counter()
        with run.tracer.span("postings.append", k):
            fresh = append_postings(spark, self.post, self.stats, df)
        (self.replays if replay else self.appends).append(time.perf_counter() - t0)
        self.n_ops += 1
        self.bad += int(fresh == replay)  # a redelivery must be detected
        if not replay:
            for d in rows:
                self.oracle.add(d["doc_id"], d["text"])
        self.prev = rows
        for s in range(SERVES_PER_APPEND):
            qtok = self.rng.sample(gen.VOCAB, self.rng.randint(1, 3))
            run.job_group(f"serve:{k}:{s}")
            t0 = time.perf_counter()
            with run.tracer.span("postings.serve", f"{k}:{s}"):
                got = bm25_from_postings(
                    spark, self.post, self.stats, qtok, dedup_replays=True
                ).collect()
            self.serves.append(time.perf_counter() - t0)
            self.n_ops += 1
            want = self.oracle.scores(qtok)
            if run.plant_error and k == 0 and s == 0:
                want = {**want, -1: 1.0}
            self.bad += int(not _scores_equal({r["doc_id"]: r["bm25"] for r in got}, want))
            self.kept.append(self.oracle.postings_rows(qtok))
        run.job_group("")

    def finish(self) -> None:
        run = self.run
        if not self.replays:
            # a run too short to reach a redelivery still takes one, after
            # the measured time, so the fingerprint-skip path is checked
            self.one_round(redeliver=True)
        run.check(self.n_ops, self.bad, "layout appends/serves")
        run.metrics["append_p50_s"] = median(self.appends)
        run.metrics["serve_p50_s"] = median(self.serves)
        run.detail["layout"] = {
            "serve_p90_s": quantile(self.serves, 0.9),
            "appends": len(self.appends), "replays": len(self.replays),
            "serves": len(self.serves),
        }

    def layers(self, events) -> None:
        L = self.run.layers
        L["postings.append_ms"] = median(self.appends) * 1000
        L["postings.replay_append_ms"] = median(self.replays) * 1000
        L["postings.files"] = len(glob.glob(
            os.path.join(self.run.path("wh"), self.post, "**", "*.parquet"),
            recursive=True,
        ))
        serves = events.by_group("serve:") if events else {}
        L["postings.serve_scan_files"] = median(
            sum(v for k, v in s.items() if k.endswith("number of files read"))
            for s in serves.values()
        )
        # postings rows the serve's token filter let through (replayed
        # duplicates included), against the distinct rows it must score
        matched = [events.filter_rows(g, self.post) for g in serves]
        L["postings.serve_matched_rows"] = median(matched)
        L["postings.dedup_ratio"] = sum(self.kept) / sum(matched) if sum(matched) else 1.0
