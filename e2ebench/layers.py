"""Traced mode: the layer sweep and the per-layer metrics.

The timed phase records spans around every call into a layer and keeps
each micro-batch's ``StreamingQueryProgress``. Some layers run inside a
stream where the benchmark cannot time them from outside (envelope parse,
Avro decode, the sink write), and some workloads never call a layer at
all. The sweep after the timed phase fills both gaps with direct calls:

* envelope parse and decode are noop-sink materializations of
  ``read_lambda_events`` and then ``decode_stage``, over the workload's
  own invocation files (a small seeded set when it has none); decode time
  is the difference;
* the sink write is ``write_partitioned`` of that decoded frame, less
  the decode materialization it re-runs;
* a workload that ran no stream, or no stateful one, drains a small
  seeded ingest or windowed stream;
* a workload that made no ``snapshot_append``/``snapshot_read`` call runs
  a small read-back client (two appends, one query of each kind).

A layer's numbers come from the workload's own calls when it made any;
the sweep's probe numbers (tagged ``probe`` in the spans) fill only the
layers it never called. The ``layer sources:`` line of a traced run says
which. Each per-layer metric names the end-to-end metric and workload it
should move in ``PER_LAYER`` below.
"""

from __future__ import annotations

import os
from statistics import fmean

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from measure import median, python_worker_cpu_s
from workloads import Ctx, Readback, Windowed, drain, provider
from lambda_kafka_to_s3_parquet_spark.operators.sink import (
    with_partition_columns,
    write_partitioned,
)
from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import decode_stage
from lambda_kafka_to_s3_parquet_spark.sources.kafka_replay import read_lambda_events
from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import run_ingest_stream

#: name -> (unit, what it should move). Layers are package modules.
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s, every workload"),
    "session.first_job_s": ("s", "setup_s, every workload"),
    "kafka_replay.parse_ms": ("ms", "rec_per_s on ingest_bulk"),
    "avro_codec.decode_ms": ("ms", "rec_per_s on ingest_bulk"),
    "avro_codec.cpu_s": ("s", "rec_per_s on ingest_bulk"),
    "avro_codec.ok_ratio": ("ratio", "rec_per_s on ingest_bulk"),
    "sink.write_ms": ("ms", "rec_per_s on ingest_bulk"),
    "sink.files_written": ("count", "rec_per_s on ingest_bulk"),
    "sink.bytes_written": ("bytes", "rec_per_s on ingest_bulk"),
    "pipeline.walCommit_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.commitOffsets_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.latestOffset_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.queryPlanning_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.getBatch_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.addBatch_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.overhead_ms": ("ms", "land_ms_p50 on ingest_trickle"),
    "pipeline.jobs_per_batch": ("count", "land_ms_p50 on ingest_trickle"),
    "pipeline.state_commit_ms": ("ms", "land_ms_p50 on windowed_state (not gated)"),
    "pipeline.state_rows_total": ("count", "land_ms_p50 on windowed_state (not gated)"),
    "pipeline.state_memory_bytes": ("bytes", "land_ms_p50 on windowed_state (not gated)"),
    "pipeline.state_stores": ("count", "land_ms_p50 on windowed_state (not gated)"),
    "pipeline.rows_dropped_by_watermark": ("count", "land_ms_p50 on windowed_state (not gated)"),
    "snapshots.append_ms": ("ms", "land_ms_p50 on ingest_trickle, readback_mixed"),
    "snapshots.jobs_per_append": ("count", "land_ms_p50 on ingest_trickle, readback_mixed"),
    "snapshots.files_per_append": ("count", "land_ms_p50 on ingest_trickle, readback_mixed"),
    **{f"snapshots.read_plan_ms.{k}": ("ms", "query_ms_p50 on readback_mixed (not gated)")
       for k in Readback.KINDS},
    "snapshots.read_exec_ms": ("ms", "query_ms_p50 on ingest_trickle, readback_mixed"),
    "snapshots.files_scanned": ("count", "query_ms_p50 on ingest_trickle, readback_mixed"),
    "snapshots.skip_precision": ("ratio", "query_ms_p50 on readback_mixed (not gated)"),
    "dedup.latest_by_key_ms": ("ms", "query_ms_p50 on readback_mixed (not gated)"),
    **{f"{layer}.self_ms": ("ms", "layer self time over the traced run")
       for layer in ("session", "kafka_replay", "avro_codec", "sink", "pipeline",
                     "snapshots", "dedup")},
    "trace.overhead_pct": ("%", "traced vs untraced round wall time"),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes_and_files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _s, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def sweep(ctx: Ctx, wl) -> dict[str, str]:
    """Run the layer probes; returns layer group -> where its numbers
    come from. Spans and progress recorded here are tagged as probes."""
    ctx.probing, ctx.tracer.tags = True, {"probe": True}
    try:
        return _sweep(ctx, wl)
    finally:
        ctx.probing, ctx.tracer.tags = False, {}


def _sweep(ctx: Ctx, wl) -> dict[str, str]:
    spark, tr = ctx.spark, ctx.tracer
    source: dict[str, str] = {}
    inv = wl.invocation_dir(ctx)
    source["kafka_replay/avro_codec/sink"] = "workload files" if inv else "probe files"
    if inv is None:
        inv = os.path.join(ctx.fix, "probe_invocations")
        gen.write_ratecard_files(inv, ctx.seed + 2, 2, 5_000, 1_000)
    for rep in range(2):  # two materializations each, medians reported
        with tr.span("kafka_replay.parse", rep=rep):
            _noop(read_lambda_events(spark, inv))
        obs = Observation(f"decode{rep}")
        decoded = decode_stage(read_lambda_events(spark, inv), provider(), gen.TOPIC).observe(
            obs, F.count(F.lit(1)).alias("n"), F.count("_corrupt_record").alias("bad"))
        cpu0 = python_worker_cpu_s()
        with tr.span("avro_codec.decode_total", rep=rep) as sp:
            _noop(decoded)
        if sp is not None:
            sp["cpu_s"] = python_worker_cpu_s() - cpu0
            sp["n"], sp["bad"] = obs.get["n"], obs.get["bad"]
        out = os.path.join(ctx.work, f"probe_sink{rep}")
        frame = with_partition_columns(
            decode_stage(read_lambda_events(spark, inv), provider(), gen.TOPIC))
        with tr.span("sink.write", rep=rep) as sp:
            write_partitioned(frame, out)
        if sp is not None:
            sp["files"], sp["bytes"] = _bytes_and_files(out)

    if not any(not p["probe"] for p in ctx.progress):
        source["pipeline"] = "probe stream"
        pinv = os.path.join(ctx.fix, "probe_stream")
        exp = gen.write_ratecard_files(pinv, ctx.seed + 3, 3, 300, 200)
        drain(ctx, lambda: run_ingest_stream(
            spark, pinv, os.path.join(ctx.work, "probe_stream", "out"),
            os.path.join(ctx.work, "probe_stream", "ckpt"), gen.TOPIC, provider=provider(),
            max_files_per_trigger=1, commit_protocol="snapshot"), len(exp), "probe")
    else:
        source["pipeline"] = "workload streams"
    if not any(p["state"] for p in ctx.progress):
        source["pipeline.state"] = "probe windowed stream"
        win = Windowed(files=4, per_file=500, sub="probe_windowed")
        win.build(ctx)
        win.round(ctx, 0)
    else:
        source["pipeline.state"] = "workload streams"
    if not any(s["name"] == "snapshots.append" and not s.get("probe") for s in tr.spans):
        source["snapshots/dedup"] = "probe client"
        rb = Readback(base_commits=2, base_rows=1_000, append_rows=500, appends=0,
                      n_keys=300, sub="probe_readback")
        rb.build(ctx)
        for kind in Readback.KINDS:
            got, want, _ = rb.query(ctx, kind)
            ctx.expect(got == want, f"probe {kind}: got {got}, expected {want}")
    else:
        source["snapshots/dedup"] = "workload client"
    return source


def _own_or_probe(items: list, is_probe) -> list:
    """The workload's own samples of a layer, else the sweep's probes."""
    own = [x for x in items if not is_probe(x)]
    return own or items


def per_layer(ctx: Ctx, setup: dict, walls: dict[bool, list[float]]) -> dict[str, float]:
    spans = ctx.tracer.spans

    def pick(name, **match):
        return _own_or_probe(
            [s for s in spans if s["name"] == name and s["end"] is not None
             and all(s.get(k) == v for k, v in match.items())],
            lambda s: s.get("probe"))

    def durs(name, **match):
        return [(s["end"] - s["start"]) * 1000.0 for s in pick(name, **match)]

    def attr(name, key):
        return [s[key] for s in pick(name) if key in s]

    m: dict[str, float] = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_job_s": setup["first_job_s"],
    }
    parse = median(durs("kafka_replay.parse"))
    m["kafka_replay.parse_ms"] = parse
    m["avro_codec.decode_ms"] = median(durs("avro_codec.decode_total")) - parse
    m["avro_codec.cpu_s"] = median(attr("avro_codec.decode_total", "cpu_s"))
    n, bad = attr("avro_codec.decode_total", "n")[0], attr("avro_codec.decode_total", "bad")[0]
    m["avro_codec.ok_ratio"] = (n - bad) / n
    # the write re-runs parse + decode (lazy frame): subtract them
    m["sink.write_ms"] = median(durs("sink.write")) - median(durs("avro_codec.decode_total"))
    m["sink.files_written"] = median(attr("sink.write", "files"))
    m["sink.bytes_written"] = median(attr("sink.write", "bytes"))

    # Progress reports whole milliseconds; means over the batches keep the
    # digits a median of small integers would round away.
    prog = _own_or_probe(ctx.progress, lambda p: p["probe"])
    for key in ("walCommit", "commitOffsets", "latestOffset", "queryPlanning",
                "getBatch", "addBatch"):
        m[f"pipeline.{key}_ms"] = fmean([p["durationMs"].get(key, 0) for p in prog])
    m["pipeline.overhead_ms"] = fmean([
        p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
        for p in prog])
    jobs = _own_or_probe([b for b in ctx.batch_jobs if b[1]], lambda b: b[2])
    m["pipeline.jobs_per_batch"] = sum(b[0] for b in jobs) / sum(b[1] for b in jobs)
    stateful = [p["state"] for p in _own_or_probe(
        [p for p in ctx.progress if p["state"]], lambda p: p["probe"])]
    m["pipeline.state_commit_ms"] = fmean(
        [sum(s["commitTimeMs"] for s in st) for st in stateful])
    m["pipeline.state_rows_total"] = sum(s["numRowsTotal"] for s in stateful[-1])
    m["pipeline.state_memory_bytes"] = sum(s["memoryUsedBytes"] for s in stateful[-1])
    m["pipeline.state_stores"] = sum(s["numStateStoreInstances"] for s in stateful[-1])
    m["pipeline.rows_dropped_by_watermark"] = sum(
        s["numRowsDroppedByWatermark"] for st in stateful for s in st)

    m["snapshots.append_ms"] = median(durs("snapshots.append"))
    m["snapshots.jobs_per_append"] = median(attr("snapshots.append", "jobs"))
    m["snapshots.files_per_append"] = median(attr("snapshots.append", "files"))
    for kind in Readback.KINDS:
        m[f"snapshots.read_plan_ms.{kind}"] = median(durs("snapshots.read_plan", kind=kind))
    m["snapshots.read_exec_ms"] = median(durs("snapshots.read_exec"))
    m["snapshots.files_scanned"] = median(attr("snapshots.read_exec", "files_scanned"))
    probed = [s for s in pick("snapshots.read_exec") if "files_matched" in s]
    m["snapshots.skip_precision"] = (sum(s["files_matched"] for s in probed)
                                     / max(1, sum(s["files_scanned"] for s in probed)))
    m["dedup.latest_by_key_ms"] = median(durs("dedup.latest_by_key"))

    self_s = ctx.tracer.self_time_s()
    for layer in ("session", "kafka_replay", "avro_codec", "sink", "pipeline",
                  "snapshots", "dedup"):
        m[f"{layer}.self_ms"] = self_s.get(layer, 0.0) * 1000.0
    m["trace.overhead_pct"] = 100.0 * (median(walls[True]) / median(walls[False]) - 1.0)
    return m
