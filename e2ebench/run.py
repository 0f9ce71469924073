#!/usr/bin/env python3
"""Ingest-to-readback benchmark of the Kafka -> Avro -> Parquet engine.

Run from the repository root::

    python3 e2ebench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

One process per run: set-up (session start, first trivial job, the
workload's fixtures from ``--seed``), warm-up, timed rounds for
``--seconds``, then the correctness check. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` it holds the end-to-end metrics below, with ``--trace 1``
the per-layer metrics of ``layers.PER_LAYER`` (spans are written to
``.bench_out/``). The exit code is 0 only when every check passed.

End-to-end metrics (every workload reports all of them):

* ``setup_s``      median over five session starts (the first launches
  the JVM; later ones restart the session in it) of session start plus
  the first trivial job, plus the workload's fixture build;
* ``rec_per_s``    records landed per second of landing wall time, median
  over rounds (a stream drain, or a ``snapshot_append`` call);
* ``land_ms_p50``  median latency of one landing commit: a data
  micro-batch's ``triggerExecution``, or one ``snapshot_append`` call;
* ``query_ms_p50`` median read-back query latency, from the read call to
  the collected result;
* ``peak_mem_mb``  peak summed resident memory of this process, the JVM
  and the JVM's Python workers, sampled from ``/proc`` every 0.1 s
  (Python processes count PSS, so pages shared by forked workers count
  once). The JVM heap is fixed and pre-touched, so the peak moves with
  off-heap memory (RocksDB, Arrow buffers) and the Python workers.

Inputs come from ``gen.py`` and the engine sees only the generated files.
All files are written under ``.bench_work/`` and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lambda_kafka_to_s3_parquet_spark"
RUN_LIMIT_S = 170  # the whole run, set-up and teardown included
SESSION_STARTS = 5
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "rec_per_s": "rec/s",
    "land_ms_p50": "ms",
    "query_ms_p50": "ms",
    "peak_mem_mb": "MB",
}


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(work: str) -> dict[str, str]:
    """Process env for the JVM and its Python workers, and Spark conf that
    keeps every file the engine writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", HEAP)
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then no longer
        # depends on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_processes(spark) -> None:
    """Stop the session, then the JVM, then wait for every descendant."""
    from measure import descendants

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            traceback.print_exc()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _watchdog() -> threading.Timer:
    """Hard stop: kill the process tree and exit non-zero, printing no
    result, if the run overruns its limit (a hung stream or job)."""
    from measure import descendants

    def fire():
        sys.stderr.write(f"run exceeded {RUN_LIMIT_S}s; killing it\n")
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(RUN_LIMIT_S, fire)
    t.daemon = True
    t.start()
    return t


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        sys.stderr.write(f"{PACKAGE}/ not found next to {HERE}; run from a full checkout\n")
        return 2
    sys.path[:0] = [ROOT, HERE]
    import measure

    t_proc = measure.process_start_perf()
    from workloads import WORKLOADS, Ctx, make

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; one of {WORKLOADS}\n")
        return 2
    watchdog = _watchdog()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work)
    tracer = measure.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace))
    weather = measure.Weather()
    spark = None
    try:
        from lambda_kafka_to_s3_parquet_spark import get_spark

        with measure.MemorySampler() as mem:
            sessions = []
            t0 = t_proc
            for i in range(SESSION_STARTS):
                if spark is not None:
                    t0 = time.perf_counter()
                    spark.stop()
                spark = get_spark(app_name=f"e2ebench-{args.workload}", extra_conf=conf)
                t1 = time.perf_counter()
                spark.range(1).count()
                t2 = time.perf_counter()
                sessions.append((t1 - t0, t2 - t1))
                tracer.add("session.get_spark", t0, t1, None, start_no=i)
                tracer.add("session.first_job", t1, t2, None, start_no=i)
            ctx = Ctx(spark, work, args.seed, tracer)
            os.makedirs(ctx.fix, exist_ok=True)
            wl = make(args.workload, args.seconds)
            t0 = time.perf_counter()
            with tracer.span("fixtures.build"):
                wl.build(ctx)
            fixture_s = time.perf_counter() - t0
            setup_s = measure.median([a + b for a, b in sessions]) + fixture_s

            t_warm = time.perf_counter()
            wl.warm(ctx)
            ctx.reset_samples()
            walls: dict[bool, list[float]] = {True: [], False: []}
            t_start = time.perf_counter()
            i = 0
            while True:
                # traced runs interleave traced and untraced rounds (ABBA,
                # so drift over the run cancels), and the tracing overhead
                # is measured in the same process
                tracer.enabled = bool(args.trace) and i % 4 in (0, 3)
                r0 = time.perf_counter()
                wl.round(ctx, i)
                walls[tracer.enabled].append(time.perf_counter() - r0)
                i += 1
                # end at the round boundary nearest to --seconds, after
                # at least two rounds (medians need more than one sample)
                elapsed = time.perf_counter() - t_start
                if i >= 2 and elapsed + elapsed / i / 2 >= args.seconds:
                    break
            t_end = time.perf_counter()
            tracer.enabled = bool(args.trace)
            wl.final_check(ctx)
            if args.trace:
                import layers

                source = layers.sweep(ctx, wl)
        peak_mb = mem.peak_mb
        for e in ctx.errors[:20]:
            print(f"check failed: {e}", file=sys.stderr)
        if args.trace:
            values = layers.per_layer(ctx, {"get_spark_s": sessions[0][0],
                                            "first_job_s": sessions[0][1]}, walls)
            units = {k: u for k, (u, _why) in layers.PER_LAYER.items()}
            print("layer sources: " + json.dumps(source, sort_keys=True))
            tracer.write(os.path.join(ROOT, ".bench_out",
                                      f"trace-{args.workload}-s{args.seed}.jsonl"))
        else:
            values = {
                "setup_s": setup_s,
                "rec_per_s": measure.median(ctx.land_rates),
                "land_ms_p50": measure.median(ctx.land_ms),
                "query_ms_p50": measure.median(ctx.query_ms),
                "peak_mem_mb": peak_mb,
            }
            units = END_TO_END
        print("run: " + json.dumps({
            "rounds": i, "land_samples": len(ctx.land_ms),
            "query_samples": len(ctx.query_ms), "fixture_s": fixture_s,
            "warm_s": t_start - t_warm, "timed_s": t_end - t_start,
            "after_s": time.perf_counter() - t_end,
            "sessions_s": sessions, **weather.report()}))
        correct = not ctx.errors
        result = {
            "correct": correct,
            "attempted": ctx.attempted,
            "failed": ctx.failed if correct else max(ctx.failed, 1),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
    except Exception:
        traceback.print_exc()
        _stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    _stop_processes(spark)
    shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    print(f"wall: {time.perf_counter() - t_proc:.2f}s")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
