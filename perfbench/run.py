#!/usr/bin/env python3
"""The repository benchmark: one command, every end-to-end metric.

    python3 perfbench/run.py --workload quantum --seed 1 --seconds 22 --trace 0

Run from the repository root. Each workload runs the same three phases
through the engine's public API, sized for the regime it stresses (see
perfbench/README.md), interleaved in rounds over the measured time:

1. the reference pipeline over a file topic with exactly-once txn_table
   sinks: an open loop at a fixed rate (latency) and one closed drain of
   a fixed backlog (throughput);
2. a closed loop over the pinned query mix, build and execute timed
   apart;
3. the postings layout: appends beside BM25 serves.

Outputs are checked against pure-Python and DuckDB oracles after the
clock stops; every mismatch counts as a failed operation. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (a separate run with the Spark
event log on and spans recorded). Full records, spans included, are
written under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# Each workload runs every phase; the sizes set which cost rules it. The
# open-loop rate is far below what the pipeline drains, so its batches
# run back to back at a steady period and latency does not grow over the
# run.
WORKLOADS = {
    # fixed per-operation cost: 5,000-message triggers of JSON and
    # ten-document appends
    "quantum": {
        "wire": "json",
        "quantum": 5_000,
        "lat_unit": 40,
        "rate": 1_000,
        "drain_unit": 1_000,
        "backlog": 20_000,
        "append_docs": 10,
    },
    # per-row cost: Avro through the pure-Python codec, up to 150,000
    # messages a trigger, and 200-document appends
    "bulk-avro": {
        "wire": "avro",
        "quantum": 150_000,
        "lat_unit": 60,
        "rate": 1_500,
        "drain_unit": 5_000,
        "backlog": 30_000,
        "append_docs": 200,
    },
}

UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pipeline_latency_p50_s": "s",
    "pipeline_latency_p90_s": "s",
    "drain_msg_s": "msg/s",
    "query_mix_s": "s",
    "query_build_s": "s",
    "append_p50_s": "s",
    "serve_p50_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=float, default=1.0,
                   help="scale every input size (the self-test uses a small one)")
    p.add_argument("--plant-error", action="store_true",
                   help="plant one wrong expectation per check (self-test)")
    return p.parse_args(argv)


# How ``--seconds`` of measured time is spent. It is cut into equal
# rounds, so every metric samples several stretches of the run and a slow
# stretch of a shared host moves only part of its samples. A round starts
# with its pipeline step: half of the open loop's units (sent over half of
# LATENCY_SHARE of the time, then waited on until committed) in the first
# and last rounds, the one drain of the backlog in the middle round. Then
# query-mix passes alternate with layout rounds until the round ends; a
# pass and round start only if they should end no more than half their
# length late, but each round runs at least one of them.
ROUNDS = ("latency", "drain", "latency")
LATENCY_SHARE = 0.3


def _config(name: str, size: float, seconds: float) -> dict:
    """The workload's sizes, with the measured time set by ``seconds``."""
    cfg = dict(WORKLOADS[name])
    cfg["latency_s"] = LATENCY_SHARE * seconds
    if size != 1.0:
        cfg["append_docs"] = max(10, int(cfg["append_docs"] * size))
        cfg["backlog"] = max(cfg["drain_unit"], int(cfg["backlog"] * size))
    return cfg


def _session(tmp: str, trace: bool):
    from stream_processor_spark.session import get_spark

    confs = {
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": os.path.join(tmp, "wh"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={tmp}/derby -Djava.io.tmpdir={tmp}/t",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then the driver JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stream_processor_spark")):
        print("perfbench: run from the repository root (no stream_processor_spark/ "
              "here)", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    # Python workers import the engine by module path: export the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Spark gets half the cores: its task threads, Python workers and the
    # load generator then fit the machine with room for the host
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc // 2))
    work = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # temp files of Python, its workers and the JVM stay in the run's root
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "t")
    os.makedirs(tempfile.tempdir)
    # and no JVM (launcher or driver) writes a perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    for p in (HERE, ROOT, os.path.join(ROOT, "tests")):
        sys.path.insert(0, p)

    from phases import Layout, Pipeline, QueryMix, Run
    from tracing import EventLog, RssSampler, Tracer, find_event_log, host_fields

    trace = bool(args.trace)
    load_start = os.getloadavg()[0]
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _session(tmp, trace)
            run = Run(spark, tmp, args.seed, _config(args.workload, args.size, args.seconds),
                      Tracer(trace), args.plant_error)
            pipe, mix, lay = Pipeline(run), QueryMix(run), Layout(run)
            parts = run.detail["setup_parts_s"] = {"session": time.perf_counter() - t0}
            for name, phase in (("queries", mix), ("pipeline", pipe), ("layout", lay)):
                t1 = time.perf_counter()
                with run.tracer.span("setup", name):
                    phase.setup()
                parts[name] = time.perf_counter() - t1
            setup_s = time.perf_counter() - t0
            host = host_fields(spark)
            t1 = time.perf_counter()
            spent = run.detail["phase_s"] = dict.fromkeys(("latency", "drain", "pairs"), 0.0)
            with run.tracer.span("measure"):
                parts = ROUNDS.count("latency")
                for r, step in enumerate(ROUNDS):
                    end = t1 + (r + 1) * args.seconds / len(ROUNDS)
                    t2 = time.perf_counter()
                    if step == "latency":
                        pipe.latency(ROUNDS[:r].count("latency"), parts)
                    else:
                        pipe.drain()
                    t3 = now = time.perf_counter()
                    # query-mix passes alternate with layout rounds, so both
                    # sample the same stretches of the run
                    while True:
                        t4 = now
                        mix.one_pass()
                        lay.one_round()
                        now = time.perf_counter()
                        if now + (now - t4) / 2 > end:
                            break
                    spent[step] += t3 - t2
                    spent["pairs"] += now - t3
                pipe.stop_latency()
            run.detail["measure_s"] = time.perf_counter() - t1
            pipe.finish()
            mix.finish()
            lay.finish()
            t1 = time.perf_counter()
            pipe.verify()
            mix.verify()
            run.detail["verify_s"] = time.perf_counter() - t1
            if trace:
                pipe.live_layers()
            run.metrics["setup_s"] = setup_s
            run.metrics["peak_rss_mb"] = rss.peak_mb
            _stop(spark)
            spark = None
        host["host.loadavg_end"] = os.getloadavg()[0]
        host["host.loadavg_start"] = load_start
        if trace:
            path = find_event_log(os.path.join(tmp, "eventlog"))
            events = EventLog(path) if path else None
            pipe.layers(events)
            mix.layers(events)
            lay.layers(events)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "error_rate": run.failed / max(1, run.attempted),
        "end_to_end": run.metrics,
        "host": host,
        "detail": run.detail,
    }
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if trace:
        layers = dict(run.layers)
        for k in ("host.floor_s", "host.loadavg", "host.nproc"):
            layers[k] = host[k]
        layers["error_rate"] = record["error_rate"]
        record["per_layer"] = layers
        record["self_time_ms"] = run.tracer.self_times_ms()
        record["overhead"] = _overhead(out_dir, args.workload, run.metrics)
        record["spans"] = run.tracer.spans
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
        stem += "-trace"
    else:
        metrics = {k: {"value": run.metrics[k], "unit": u} for k, u in UNITS.items()}
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items()
                      if k in ("workload", "seed", "host", "detail", "overhead")},
                     default=str))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


def _overhead(out_dir: str, workload: str, traced: dict) -> dict:
    """Traced end-to-end figures against the newest untraced record of
    the same workload in this checkout."""
    import glob

    files = [p for p in glob.glob(os.path.join(out_dir, f"{workload}-seed*.json"))
             if not p.endswith("-trace.json")]
    if not files:
        return {"note": "no untraced record of this workload yet"}
    with open(max(files, key=os.path.getmtime)) as fh:
        base = json.load(fh)["end_to_end"]
    return {k: traced[k] / base[k] - 1.0 for k in UNITS if base.get(k)}


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_ms_per_kmsg", "ms/kmsg"), ("_ms", "ms"), ("_ms_max", "ms"),
                         ("_s", "s"), ("bytes", "bytes"), ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    if name in ("postings.dedup_ratio", "error_rate", "host.loadavg"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
