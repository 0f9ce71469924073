"""The workloads: fixtures, one timed round, and correctness checks.

Every workload lands records (micro-batches of a stream, or
``snapshot_append`` calls) and reads them back (queries), so each run
yields samples of both kinds. What differs is which layer does the work:

* ``ingest_bulk``    few large invocations, in-place sink: envelope
  parse, Avro decode and the parquet write dominate;
* ``ingest_trickle`` many small invocations, one file per trigger,
  snapshot commit protocol: per-batch machinery and commits dominate;
* ``readback_mixed`` a pre-landed snapshot table with zone maps and bloom
  filters, one closed-loop client (a seeded mix of five query kinds,
  one append with stats and blooms after every five queries): read-side
  plan construction and operator jobs dominate;
* ``windowed_state`` Zipf-skewed events with late and out-of-order
  arrivals, drained by the windowed stream one file per trigger: the
  RocksDB state store dominates.

``BENCHMARK.json`` gates only the two ingest workloads: the run budget
does not fit four, and ``readback_mixed`` spread too much from run to run
to gate (see RESULTS.md). The other two stay runnable, and traced runs of
the gated workloads drain a small ``windowed_state`` and run a small
``readback_mixed`` client, so their layers are still measured.

A round drains a fresh copy of the stream input (fresh checkpoint and
output) or runs one client block, so every round does the same work.
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import functions as F

import gen
from lambda_kafka_to_s3_parquet_spark.operators.dedup import latest_by_key
from lambda_kafka_to_s3_parquet_spark.operators.sink import (
    PARTITION_COLS,
    read_partition,
    with_partition_columns,
)
from lambda_kafka_to_s3_parquet_spark.operators.snapshots import (
    snapshot_append,
    snapshot_read,
)
from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import SchemaProvider
from lambda_kafka_to_s3_parquet_spark.streaming.pipeline import (
    run_ingest_stream,
    run_windowed_stream,
)

#: Stream drains must finish; a hung stream is a failed operation.
DRAIN_TIMEOUT_S = 120


def provider() -> SchemaProvider:
    """The ratecard subject with its historical writer version registered."""
    return SchemaProvider(history={gen.TOPIC: {gen.V_OLD: gen.FIELDS_OLD}})


def last_job_id(spark) -> int:
    """Highest Spark job id the status tracker knows (the package sets no
    job groups, so all its jobs are in the None group)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class Ctx:
    """Run-wide state handed to workloads: session, dirs, samples."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.fix = os.path.join(work, "fixtures")
        self.seed = seed
        self.tracer = tracer
        self.land_ms: list[float] = []  # one per landing commit
        self.query_ms: list[float] = []  # one per read-back query
        self.land_rates: list[float] = []  # records / landing wall, per round
        self.progress: list[dict] = []  # micro-batch progress, data batches only
        self.batch_jobs: list[tuple[int, int, bool]] = []  # (jobs, batches, probe)
        self.probing = False  # set while the traced layer sweep runs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def reset_samples(self) -> None:
        """Forget warm-up samples and counts (failed checks stay)."""
        for xs in (self.land_ms, self.query_ms, self.land_rates, self.progress,
                   self.batch_jobs):
            xs.clear()
        self.attempted = self.failed = 0

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    @contextmanager
    def op(self, kind: str):
        """Count one operation; an exception raised in it, or a check it
        records, counts it failed."""
        self.attempted += 1
        before = len(self.errors)
        try:
            yield
        except Exception as e:
            self.errors.append(f"{kind}: {type(e).__name__}: {e}")
        if len(self.errors) > before:
            self.failed += 1


def drain(ctx: Ctx, start, records: int, what: str) -> None:
    """Start an AvailableNow stream (``start()`` returns the query) and
    wait for it; its data micro-batches become landing samples and child
    spans timed from their progress reports. Raises on timeout/failure."""
    t0 = time.perf_counter()
    with ctx.tracer.span(f"pipeline.drain.{what}") as parent:
        query = start()
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if not finished:
        query.stop()
        raise TimeoutError(f"{what} drain did not finish in {DRAIN_TIMEOUT_S}s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    batches = [p for p in query.recentProgress if p.numInputRows > 0]
    # micro-batch jobs run in a job group named by the query's run id
    jobs = ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    ctx.batch_jobs.append((len(jobs), len(batches), ctx.probing))
    to_perf = time.perf_counter() - time.time()  # wall clock -> perf_counter
    for p in batches:
        d = p.durationMs
        ctx.land_ms.append(float(d["triggerExecution"]))
        ctx.progress.append({"probe": ctx.probing, "durationMs": dict(d), "state": [
            {"commitTimeMs": s.commitTimeMs, "numRowsTotal": s.numRowsTotal,
             "memoryUsedBytes": s.memoryUsedBytes,
             "numStateStoreInstances": s.numStateStoreInstances,
             "numRowsDroppedByWatermark": s.numRowsDroppedByWatermark}
            for s in p.stateOperators]})
        if parent is not None:
            begin = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            ctx.tracer.add("pipeline.batch", begin + to_perf,
                           begin + to_perf + d["triggerExecution"] / 1000.0, parent,
                           batch_id=p.batchId, durationMs=dict(d))
    ctx.land_rates.append(records / wall)


def timed_query(ctx: Ctx, name: str, fn):
    """Time one read-back query (plan + execution) as a query sample."""
    with ctx.tracer.span(f"query.{name}"):
        t0 = time.perf_counter()
        out = fn()
        ctx.query_ms.append((time.perf_counter() - t0) * 1000.0)
    return out


# ---------------------------------------------------------------------------
# Correctness checks (pure Python over collected rows; unit-tested)
# ---------------------------------------------------------------------------


def check_landing(rows: list[tuple], expected: list[tuple]) -> list[str]:
    """Landed ``(partition, offset, key_decoded, key_val, vrsn, corrupt)``
    rows against the generator's per-record expectations. Exactly-once:
    every (partition, offset) once; payload and corrupt marking exact."""
    errs = []
    seen: dict[tuple[int, int], tuple] = {}
    for r in rows:
        po = (int(r[0]), int(r[1]))
        if po in seen:
            errs.append(f"duplicate (partition, offset) {po}")
            if len(errs) > 5:
                return errs
        seen[po] = r
    if len(rows) != len(expected):
        errs.append(f"landed {len(rows)} rows, expected {len(expected)}")
    for p, off, _ts, key, key_val, vrsn in expected:
        r = seen.get((p, off))
        if r is None:
            errs.append(f"missing record {(p, off)}")
        elif vrsn is None:
            if not r[5]:
                errs.append(f"record {(p, off)} should be corrupt")
        elif r[5] or r[2] != key or r[3] != key_val or r[4] != vrsn:
            errs.append(f"record {(p, off)} landed as {r}, expected "
                        f"{(key, key_val, vrsn)}")
        if len(errs) > 5:
            break
    return errs


def landing_summary(ctx: Ctx, landed) -> dict:
    """The aggregates :func:`gen.ratecard_summary` predicts, from the engine."""
    a = landed.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("partition", "offset").alias("distinct"),
        F.sum("CNCRNCY_VRSN").alias("vrsn_sum"),
        F.count("_corrupt_record").alias("corrupt"),
    ).collect()[0]
    good = landed.filter(F.col("_corrupt_record").isNull())
    with ctx.tracer.span("dedup.latest_by_key"):
        c = latest_by_key(good, ["SRC_KEY_VAL"], "offset", "partition").agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum("CNCRNCY_VRSN").alias("latest_vrsn_sum"),
            F.sum("offset").alias("latest_offset_sum"),
        ).collect()[0]
    return {"rows": a["rows"], "distinct": a["distinct"], "corrupt": a["corrupt"],
            "vrsn_sum": a["vrsn_sum"], "keys": c["keys"],
            "latest_vrsn_sum": c["latest_vrsn_sum"],
            "latest_offset_sum": c["latest_offset_sum"]}


def check_summary(got: dict, want: dict) -> list[str]:
    errs = [f"{k}: got {got.get(k)}, expected {v}" for k, v in want.items()
            if got.get(k) != v]
    if got.get("distinct") != got.get("rows"):
        errs.append(f"exactly-once violated: {got.get('rows')} rows but "
                    f"{got.get('distinct')} distinct (partition, offset)")
    return errs


def check_windows(got: dict, want: dict) -> list[str]:
    """Windowed sink rows ``{(start_s, type): (n, sum)}`` against the
    reference; sums compare within rounding of the summation order."""
    errs = []
    for k in sorted(set(got) | set(want)):
        g, w = got.get(k), want.get(k)
        if g is None or w is None or g[0] != w[0] or abs(g[1] - w[1]) > 0.011 + 1e-9 * abs(w[1]):
            errs.append(f"window {k}: got {g}, expected {w}")
            if len(errs) > 5:
                break
    return errs


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""

    def build(self, ctx: Ctx) -> None:
        """Generate inputs and build fixtures (part of set-up)."""

    def warm(self, ctx: Ctx) -> None:
        """Start Python workers and fill plan caches before timing."""

    def round(self, ctx: Ctx, i: int) -> None:
        """One timed round."""

    def final_check(self, ctx: Ctx) -> None:
        """Checks after the timed phase (outside it)."""

    def invocation_dir(self, ctx: Ctx) -> str | None:
        """Envelope files of this workload, if it has any."""
        return None


class Ingest(Workload):
    """Lambda envelopes drained by ``run_ingest_stream`` each round, then
    read back one landed hour partition per query (the reference's
    ``check_parquet.py`` read-back)."""

    def __init__(self, name: str, files: int, per_file: int, n_keys: int,
                 protocol: str, files_per_trigger: int, hours_per_file: int):
        self.name = name
        self.files, self.per_file, self.n_keys = files, per_file, n_keys
        self.span_ms = hours_per_file * 3_600_000
        self.protocol = protocol
        self.files_per_trigger = files_per_trigger

    def invocation_dir(self, ctx):
        return os.path.join(ctx.fix, "invocations")

    def build(self, ctx):
        self.expected = gen.write_ratecard_files(
            self.invocation_dir(ctx), ctx.seed, self.files, self.per_file, self.n_keys,
            self.span_ms)
        self.summary = gen.ratecard_summary(self.expected)
        self.hours = hourly_summary(self.expected)
        with open(os.path.join(ctx.fix, "expect.json"), "w") as f:
            json.dump({"summary": self.summary,
                       "hours": [[list(h), v] for h, v in sorted(self.hours.items())],
                       "latest_per_key": gen.latest_per_key(self.expected)},
                      f, sort_keys=True)
        warm = gen.write_ratecard_files(
            os.path.join(ctx.fix, "warm"), ctx.seed + 1, 2, min(self.per_file, 500), 100)
        self.warm_hours = hourly_summary(warm)

    def _land(self, ctx, inp: str, tag: str):
        """(starter of the ingest stream, its output path)."""
        out = os.path.join(ctx.work, tag, "out")
        return (lambda: run_ingest_stream(
            ctx.spark, inp, out, os.path.join(ctx.work, tag, "ckpt"), gen.TOPIC,
            provider=provider(), max_files_per_trigger=self.files_per_trigger,
            commit_protocol=self.protocol)), out

    def _read(self, ctx, out: str):
        if self.protocol == "snapshot":
            return snapshot_read(ctx.spark, out)
        return ctx.spark.read.parquet(out)

    def _read_hour(self, ctx, out: str, hour: tuple[int, int, int, int]) -> tuple:
        y, m, d, h = hour
        if self.protocol == "snapshot":
            df = snapshot_read(ctx.spark, out).filter(
                (F.col("y") == y) & (F.col("m") == m) & (F.col("d") == d) & (F.col("h") == h))
        else:
            df = read_partition(ctx.spark, out, gen.TOPIC, y, m, d, h)
        r = df.agg(F.count(F.lit(1)), F.count("_corrupt_record"),
                   F.sum("CNCRNCY_VRSN")).collect()[0]
        return (r[0], r[1], r[2] or 0)

    def _read_back(self, ctx, out: str, hours: dict, what: str) -> None:
        for hour, want in sorted(hours.items()):
            with ctx.op("query"):
                got = timed_query(ctx, "hour", lambda: self._read_hour(ctx, out, hour))
                if got != want:
                    ctx.errors.append(f"{what} hour {hour}: got {got}, expected {want}")

    def warm(self, ctx):
        start, out = self._land(ctx, os.path.join(ctx.fix, "warm"), "warm")
        start().awaitTermination(DRAIN_TIMEOUT_S)
        self._read_back(ctx, out, self.warm_hours, "warm-up")

    def round(self, ctx, i):
        with ctx.op("drain"):
            start, self.last_out = self._land(ctx, self.invocation_dir(ctx), f"r{i}")
            drain(ctx, start, len(self.expected), self.name)
        self._read_back(ctx, self.last_out, self.hours, f"round {i}")

    def final_check(self, ctx):
        """The last round's landing, whole: exactly-once per record, keys,
        payload, corrupt marking, and the CDC current state."""
        landed = self._read(ctx, self.last_out)
        for e in check_summary(landing_summary(ctx, landed), self.summary):
            ctx.errors.append(f"landing: {e}")
        rows = landed.select(
            "partition", "offset", "key_decoded", "SRC_KEY_VAL", "CNCRNCY_VRSN",
            F.col("_corrupt_record").isNotNull()).collect()
        ctx.errors.extend(check_landing([tuple(r) for r in rows], self.expected))


def hourly_summary(expected: list[tuple]) -> dict[tuple, tuple[int, int, int]]:
    """(y, m, d, h) of the Kafka timestamp -> (rows, corrupt, vrsn sum)."""
    out: dict[tuple, list[int]] = {}
    for _p, _off, ts, _k, _kv, vrsn in expected:
        t = time.gmtime(ts / 1000)
        acc = out.setdefault((t.tm_year, t.tm_mon, t.tm_mday, t.tm_hour), [0, 0, 0])
        acc[0] += 1
        if vrsn is None:
            acc[1] += 1
        else:
            acc[2] += vrsn
    return {k: tuple(v) for k, v in out.items()}


class Windowed(Workload):
    """Event Parquet drained by ``run_windowed_stream`` each round."""

    name = "windowed_state"

    def __init__(self, files: int, per_file: int, sub: str = ""):
        self.files, self.per_file, self.sub = files, per_file, sub

    def build(self, ctx):
        self.fix = os.path.join(ctx.fix, self.sub)
        events = gen.event_batches(ctx.seed, self.files, self.per_file)
        gen.write_event_files(os.path.join(self.fix, "events"), events)
        self.reference = gen.windowed_reference(events)
        self.records = self.files * self.per_file
        warm = gen.event_batches(ctx.seed + 1, 3, 200)
        gen.write_event_files(os.path.join(self.fix, "warm"), warm)
        self.warm_reference = gen.windowed_reference(warm)

    def _run(self, ctx, inp: str, tag: str):
        return run_windowed_stream(
            ctx.spark, inp, gen.EVENTS_SCHEMA, os.path.join(ctx.work, self.sub, tag, "ckpt"),
            query_name=f"windows_{self.sub}{tag}", max_files_per_trigger=1)

    def _collect(self, ctx, tag: str) -> dict:
        return {(int(r["window_start"].timestamp()), r["event_type"]): (r["n"], r["sum_value"])
                for r in ctx.spark.table(f"windows_{self.sub}{tag}").collect()}

    def warm(self, ctx):
        q = self._run(ctx, os.path.join(self.fix, "warm"), "warm")
        q.awaitTermination(DRAIN_TIMEOUT_S)
        ctx.expect(not check_windows(self._collect(ctx, "warm"), self.warm_reference),
                   "warm-up windows mismatch")

    def round(self, ctx, i):
        tag = f"r{i}"
        with ctx.op("drain"):
            drain(ctx, lambda: self._run(ctx, os.path.join(self.fix, "events"), tag),
                  self.records, self.name)
        with ctx.op("query"):
            got = timed_query(ctx, "readback", lambda: self._collect(ctx, tag))
            for e in check_windows(got, self.reference):
                ctx.errors.append(f"round {i}: {e}")
        ctx.spark.catalog.dropTempView(f"windows_{self.sub}{tag}")


class Readback(Workload):
    """One closed-loop client over a pre-landed snapshot table."""

    name = "readback_mixed"
    KINDS = ("point", "range", "hourly", "current", "travel")
    STATS, BLOOMS = ["offset", "kafka_ts"], ["SRC_KEY_VAL"]

    def __init__(self, base_commits: int, base_rows: int, append_rows: int,
                 appends: int, n_keys: int, sub: str = ""):
        self.base_commits, self.base_rows = base_commits, base_rows
        self.append_rows, self.appends, self.n_keys = append_rows, appends, n_keys
        self.sub = sub

    def build(self, ctx):
        g = gen.RatecardGen(ctx.seed, self.n_keys)
        self.batches = []  # (parquet path, model rows) in landing order
        for i in range(self.base_commits + self.appends):
            n = self.base_rows if i < self.base_commits else self.append_rows
            rows = g.landed_rows(n, 3_600_000 * n // self.base_rows)
            path = os.path.join(ctx.fix, self.sub, "batches", f"batch-{i:04d}.parquet")
            gen.write_landed_rows(path, rows)
            self.batches.append((path, [(r["SRC_KEY_VAL"], r["CNCRNCY_VRSN"], r["partition"],
                                         r["offset"], r["kafka_ts"]) for r in rows]))
        self.table = os.path.join(ctx.work, self.sub, "table")
        # model rows: (key, vrsn, partition, offset, kafka_ts, landing version)
        self.model: list[tuple] = []
        self.version = 0
        for _ in range(self.base_commits):
            self.append(ctx)
        self.rng = random.Random(ctx.seed)

    def append(self, ctx) -> float:
        """Land the next generated batch; returns the call's latency (ms)."""
        if self.version >= len(self.batches):
            raise RuntimeError("read-back workload ran out of generated append batches")
        path, rows = self.batches[self.version]
        df = with_partition_columns(ctx.spark.read.parquet(path))
        tr = ctx.tracer
        files0 = _parquet_files(self.table) if tr.enabled else 0
        with tr.span("snapshots.append") as sp:
            j0 = last_job_id(ctx.spark)
            t0 = time.perf_counter()
            v = snapshot_append(ctx.spark, self.table, df, list(PARTITION_COLS),
                                stats_cols=self.STATS, bloom_cols=self.BLOOMS)
            ms = (time.perf_counter() - t0) * 1000.0
            if sp is not None:
                sp["jobs"] = last_job_id(ctx.spark) - j0
                sp["files"] = _parquet_files(self.table) - files0
        ctx.expect(v == self.version + 1, f"append returned v{v}, expected v{self.version + 1}")
        self.version = v
        self.model.extend(r + (v,) for r in rows)
        return ms

    def query(self, ctx, kind: str) -> tuple[object, object, float]:
        """One query of ``kind`` with seeded parameters. Returns (engine
        result, model answer, engine latency in ms). The latency covers
        ``snapshot_read`` (plan construction) plus the action; computing
        the model answer and trace-only probes stay outside it."""
        spark, rng, tr = ctx.spark, self.rng, ctx.tracer
        read_kw, pred = {}, None
        if kind == "point":
            keys = [rng.choice(self.model)[0] for _ in range(3)] + ["K-absent"]
            read_kw = {"skip_keys": [("SRC_KEY_VAL", keys)]}
            pred = F.col("SRC_KEY_VAL").isin(keys)
            keyset = set(keys)
            want = sorted((m[0], m[1], m[3]) for m in self.model if m[0] in keyset)

            def run(df):
                return sorted(tuple(r) for r in df.filter(pred).select(
                    "SRC_KEY_VAL", "CNCRNCY_VRSN", "offset").collect())
        elif kind == "range":
            lo = rng.choice(self.model)[3]
            hi = lo + max(1, len(self.model) // 64)
            read_kw = {"skip_where": [("offset", lo, hi)]}
            pred = F.col("offset").between(lo, hi)
            sel = [m for m in self.model if lo <= m[3] <= hi]
            want = (len(sel), sum(m[1] for m in sel))

            def run(df):
                r = df.filter(pred).agg(F.count(F.lit(1)), F.sum("CNCRNCY_VRSN")).collect()[0]
                return (r[0], r[1] or 0)
        elif kind == "hourly":
            # one day's hours: an aggregate pruned on the y/m/d partitions
            day = time.gmtime(rng.choice(self.model)[4] / 1000)[:3]
            acc: dict[int, list[int]] = {}
            for m in self.model:
                t = time.gmtime(m[4] / 1000)
                if t[:3] == day:
                    a = acc.setdefault(t.tm_hour, [0, 0])
                    a[0] += 1
                    a[1] += m[1]
            want = sorted((h, a[0], a[1]) for h, a in acc.items())
            pday = (F.col("y") == day[0]) & (F.col("m") == day[1]) & (F.col("d") == day[2])

            def run(df):
                return sorted(tuple(r) for r in df.filter(pday).groupBy("h").agg(
                    F.count(F.lit(1)), F.sum("CNCRNCY_VRSN")).collect())
        elif kind == "current":
            latest: dict[str, tuple[int, int]] = {}
            for m in self.model:
                if m[0] not in latest or m[3] > latest[m[0]][0]:
                    latest[m[0]] = (m[3], m[1])
            want = (len(latest), sum(v[1] for v in latest.values()))

            def run(df):
                with tr.span("dedup.latest_by_key"):
                    r = latest_by_key(df, ["SRC_KEY_VAL"], "offset", "partition").agg(
                        F.count(F.lit(1)), F.sum("CNCRNCY_VRSN")).collect()[0]
                return (r[0], r[1])
        elif kind == "travel":
            v = max(1, self.version - 2)  # same depth every round and seed
            read_kw = {"version": v}
            sel = [m for m in self.model if m[5] <= v]
            want = (len(sel), sum(m[1] for m in sel))

            def run(df):
                r = df.agg(F.count(F.lit(1)), F.sum("CNCRNCY_VRSN")).collect()[0]
                return (r[0], r[1])
        else:
            raise ValueError(kind)
        with tr.span(f"query.{kind}"):
            t0 = time.perf_counter()
            with tr.span("snapshots.read_plan", kind=kind):
                df = snapshot_read(spark, self.table, **read_kw)
            t1 = time.perf_counter()
            with tr.span("snapshots.read_exec", kind=kind) as sp:
                got = run(df)
            t2 = time.perf_counter()
        if sp is not None:
            # trace-only probes, outside the timed region
            sp["files_scanned"] = len(df.inputFiles())
            if pred is not None:
                sp["files_matched"] = (df.filter(pred).select(F.input_file_name())
                                       .distinct().count())
        return got, want, ((t1 - t0) + (t2 - t1)) * 1000.0

    def warm(self, ctx):
        for i in range(2):  # two client rounds: JIT and plan caches settle
            self.round(ctx, -1 - i)

    def round(self, ctx, i):
        kinds = list(self.KINDS)
        self.rng.shuffle(kinds)
        for kind in kinds:
            with ctx.op("query"):
                got, want, ms = self.query(ctx, kind)
                ctx.query_ms.append(ms)
                if got != want:
                    ctx.errors.append(f"round {i} {kind}: got {got}, expected {want}")
        with ctx.op("append"):
            n = len(self.batches[self.version][1])
            ms = self.append(ctx)
            ctx.land_ms.append(ms)
            ctx.land_rates.append(n / (ms / 1000.0))


def _parquet_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(root) for f in fs)


def make(name: str, seconds: float) -> Workload:
    """Workload sizes, fixed per name (the seed varies only the content)."""
    if name == "ingest_bulk":
        return Ingest(name, files=2, per_file=12_000, n_keys=5_000,
                      protocol="inplace", files_per_trigger=1, hours_per_file=1)
    if name == "ingest_trickle":
        # a trickle: each invocation spreads over two hour partitions' worth
        # of Kafka time, so a round reads back seven small partitions
        return Ingest(name, files=3, per_file=200, n_keys=400,
                      protocol="snapshot", files_per_trigger=1, hours_per_file=2)
    if name == "readback_mixed":
        # one append per ~3 s round (two in warm-up), with room for fast rounds
        return Readback(base_commits=2, base_rows=4_000, append_rows=1_000,
                        appends=int(seconds) + 6, n_keys=2_000)
    if name == "windowed_state":
        return Windowed(files=4, per_file=2_000)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("ingest_bulk", "ingest_trickle", "readback_mixed", "windowed_state")
