"""Seeded input generator for the ingest-to-readback benchmark.

Pure Python (no Spark): the same seed writes byte-identical files. It
produces what the engine consumes in production shape, so the engine
receives only files:

* Lambda Kafka event envelopes (``{"records": {"<topic>-<p>": [...]}}``)
  whose values are base64 Confluent wire format built with the package's
  own ``encode_avro_record`` / ``confluent_wrap``: two writer versions of
  the ratecard subject (390 without the last two CDC columns, 391 full),
  a share of garbage bodies (unknown schema id or truncated body) and
  three key shapes (printable string, 4-byte int, null);
* event Parquet files for the windowed stream, with Zipf-skewed
  ``event_type`` keys, out-of-order events inside the watermark and late
  events for windows that are already closed;
* the expectations a correct engine must meet (the ingest workloads
  also write them to ``expect.json`` beside the inputs).
"""

from __future__ import annotations

import base64
import json
import os
import random
import struct
from datetime import datetime, timezone

from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import (
    RATECARD_FIELDS,
    confluent_wrap,
    encode_avro_record,
)

TOPIC = "lndcdcadsrtcrd_ratecard"
V_OLD, V_NEW = 390, 391
FIELDS_OLD = RATECARD_FIELDS[:-2]  # writer 390 predates the last two columns
# 2021-07-10T00:30Z, next to the golden fixture. Every seed starts here, so
# every seed lands the same partition layout (an hour of records spans two
# hour partitions) and seeds differ only in record content.
EPOCH_MS = 1_625_877_000_000
UNKNOWN_SCHEMA_ID = 7777

#: Event schema of the windowed workload (DDL handed to the file source).
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
WATERMARK_S = 600  # run_windowed_stream's default "10 minutes"
WINDOW_S = 3600  # windowed_event_counts' default "1 hour"


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )


def _ratecard_row(rng: random.Random, key_id: int, vrsn: int, ts_ms: int) -> dict:
    return {
        "RATE_CARD_ID": key_id,
        "LAST_MODIFIED_BY": rng.choice(("etl", "svc_rate", "ops", None)),
        "LAST_MODIFIED_DT": _iso(ts_ms - rng.randrange(86_400_000)),
        "RATE_CARD_TYPE_ID": rng.randrange(1, 9),
        "BASE_INVENTORY_TYPE_ID": rng.randrange(1, 40),
        "DIVISION_ID": rng.randrange(1, 12),
        "RATE_CARD_NM": f"RC {key_id} {rng.choice(('Prime', 'Late', 'Day', 'Ünïcode'))}",
        "RATE_CARD_DESC": None if rng.random() < 0.2 else f"desc-{rng.randrange(10**6)}",
        "RATE_CARD_COMMENT_TXT": "x" * rng.randrange(0, 40) or None,
        "BASE_UNIT_LENGTH": rng.choice((15, 30, 60)),
        "CRNCY_ID": rng.randrange(1, 4),
        "PRICING_RATING_ROLLOVER_IND": rng.randrange(2),
        "EPSD_IMP_EST_FILE_TYP_ID": rng.randrange(1, 6),
        "CNCRNCY_VRSN": vrsn,
        "SRC_KEY_VAL": f"K{key_id:07d}",
        "SRC_CDC_OPER_NM": rng.choice(("INSERT", "UPDATE", "UPDATE", "DELETE")),
        "SRC_COMMIT_DT_UTC": _iso(ts_ms),
        "TRG_CRT_DT_PART_UTC": _iso(ts_ms)[:10],
        "SRC_SCHEMA_NM": "adsrtcrd",
    }


def _kafka_key(rng: random.Random, key_id: int) -> bytes | None:
    shape = rng.random()
    if shape < 0.6:
        return f"K{key_id:07d}".encode()
    if shape < 0.95:
        return struct.pack(">i", key_id)  # IntegerSerializer shape
    return None


def _expected_key(raw: bytes | None) -> str | None:
    """key_cascade's contract: printable utf-8, else 4-byte signed int."""
    if raw is None:
        return None
    if len(raw) == 4 and not all(0x20 <= b <= 0x7E for b in raw):
        return str(struct.unpack(">i", raw)[0])
    return raw.decode()


class RatecardGen:
    """Deterministic ratecard CDC record stream across Lambda invocations.

    Offsets grow per partition across invocations and each key's
    ``CNCRNCY_VRSN`` grows with every change, so the CDC current state is
    the record with the highest (partition, offset) per key only when a
    key stays on one partition — it does (partition = key id mod P).
    """

    def __init__(self, seed: int, n_keys: int, partitions: int = 4,
                 garbage: float = 0.02, old_writer: float = 0.3):
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.partitions = partitions
        self.garbage = garbage
        self.old_writer = old_writer
        self.next_offset = [0] * partitions
        self.vrsn = [0] * n_keys
        self.clock_ms = EPOCH_MS

    def invocation(self, n: int, span_ms: int) -> tuple[dict, list[tuple]]:
        """One Lambda event of ``n`` records spread over ``span_ms`` of
        Kafka time; returns the envelope and per-record expectations
        ``(partition, offset, ts_ms, key_decoded, key_val, vrsn | None)``
        with ``vrsn`` None for a record the decoder must mark corrupt."""
        rng = self.rng
        groups: dict[str, list[dict]] = {}
        expected = []
        # Zipf-ish key popularity: a few keys change often
        weights_cut = max(1, self.n_keys // 20)
        for i in range(n):
            key_id = (
                rng.randrange(weights_cut) if rng.random() < 0.5
                else rng.randrange(self.n_keys)
            )
            p = key_id % self.partitions
            off = self.next_offset[p]
            self.next_offset[p] += 1
            ts = self.clock_ms + (i * span_ms) // n
            self.vrsn[key_id] += 1
            vrsn = self.vrsn[key_id]
            row = _ratecard_row(rng, key_id, vrsn, ts)
            roll = rng.random()
            if roll < self.garbage / 2:
                value = confluent_wrap(UNKNOWN_SCHEMA_ID, encode_avro_record(row, RATECARD_FIELDS))
                good = False
            elif roll < self.garbage:
                body = encode_avro_record(row, RATECARD_FIELDS)
                value = confluent_wrap(V_NEW, body[: rng.randrange(1, len(body))])
                good = False
            elif roll < self.garbage + self.old_writer:
                value = confluent_wrap(V_OLD, encode_avro_record(row, FIELDS_OLD))
                good = True
            else:
                value = confluent_wrap(V_NEW, encode_avro_record(row, RATECARD_FIELDS))
                good = True
            key = _kafka_key(rng, key_id)
            groups.setdefault(f"{TOPIC}-{p}", []).append({
                "topic": TOPIC,
                "partition": p,
                "offset": off,
                "timestamp": ts,
                "timestampType": "CREATE_TIME",
                "key": None if key is None else base64.b64encode(key).decode(),
                "value": base64.b64encode(value).decode(),
            })
            expected.append((p, off, ts, _expected_key(key), row["SRC_KEY_VAL"],
                             vrsn if good else None))
        self.clock_ms += span_ms
        return {"eventSource": "aws:kafka", "records": groups}, expected

    def landed_rows(self, n: int, span_ms: int) -> list[dict]:
        """``n`` rows as the decode stage lands them (meta columns plus
        the 19 ratecard fields, no corrupt records): the pre-landed
        table of the read-back workload."""
        rows = []
        for i in range(n):
            key_id = self.rng.randrange(self.n_keys)
            p = key_id % self.partitions
            off = self.next_offset[p]
            self.next_offset[p] += 1
            ts = self.clock_ms + (i * span_ms) // n
            self.vrsn[key_id] += 1
            row = _ratecard_row(self.rng, key_id, self.vrsn[key_id], ts)
            rows.append({"topic": TOPIC, "partition": p, "offset": off,
                         "kafka_ts": ts, "key_decoded": row["SRC_KEY_VAL"], **row})
        self.clock_ms += span_ms
        return rows


def write_landed_rows(path: str, rows: list[dict]) -> None:
    """One Parquet file of decoded rows, typed like ``decoded_schema``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"topic": pa.string(), "partition": pa.int64(), "offset": pa.int64(),
             "kafka_ts": pa.int64(), "key_decoded": pa.string()}
    types.update({f.name: pa.int64() if f.type in ("long", "int") else pa.string()
                  for f in RATECARD_FIELDS})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({c: pa.array([r[c] for r in rows], t)
                             for c, t in types.items()}), path)


def write_ratecard_files(out_dir: str, seed: int, n_files: int, per_file: int,
                         n_keys: int, span_ms: int = 3_600_000) -> list[tuple]:
    """``n_files`` envelope files under ``out_dir`` (mtimes increasing, so
    the file source's arrival order is the generation order); returns the
    concatenated per-record expectations."""
    os.makedirs(out_dir, exist_ok=True)
    gen = RatecardGen(seed, n_keys)
    expected: list[tuple] = []
    for i in range(n_files):
        env, exp = gen.invocation(per_file, span_ms)
        path = os.path.join(out_dir, f"invocation-{i:05d}.json")
        with open(path, "w") as f:
            json.dump(env, f, separators=(",", ":"))
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        expected.extend(exp)
    return expected


def latest_per_key(expected: list[tuple]) -> dict[str, tuple[int, int, int]]:
    """CDC current state: key -> (partition, offset, vrsn) of its newest
    decodable record."""
    latest: dict[str, tuple[int, int, int]] = {}
    for p, off, _ts, _k, key, vrsn in expected:
        if vrsn is not None and (key not in latest or (p, off) > latest[key][:2]):
            latest[key] = (p, off, vrsn)
    return latest


def ratecard_summary(expected: list[tuple]) -> dict:
    """Aggregates a correct landing must reproduce exactly."""
    good = [e for e in expected if e[5] is not None]
    latest = latest_per_key(expected)
    return {
        "rows": len(expected),
        "corrupt": len(expected) - len(good),
        "vrsn_sum": sum(e[5] for e in good),
        "keys": len(latest),
        "latest_vrsn_sum": sum(v[2] for v in latest.values()),
        "latest_offset_sum": sum(v[1] for v in latest.values()),
    }


# ---------------------------------------------------------------------------
# Windowed events
# ---------------------------------------------------------------------------


def _zipf_choice(rng: random.Random, n: int, s: float = 1.2) -> int:
    # inverse-CDF over a precomputed harmonic table is overkill at n<=64:
    # rejection-free linear scan keeps the generator dependency-free
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    r = rng.random() * sum(weights)
    for k, w in enumerate(weights):
        r -= w
        if r <= 0:
            return k
    return n - 1


def event_batches(seed: int, n_files: int, per_file: int, n_types: int = 24,
                  late: float = 0.03, disorder: float = 0.2,
                  step_s: int = 1800) -> list[list[tuple]]:
    """Per-file event tuples ``(event_id, ts_s, user_id, event_type, value)``.

    File ``i`` covers event time ``[t0 + i*step_s, t0 + (i+1)*step_s)``.
    With one file per trigger, batch ``i`` evicts windows by the watermark
    ``max_ts(files < i) - WATERMARK_S`` and drops late rows by the previous
    batch's watermark (Spark's late-event rule for chained stateful
    operators). Out-of-order events stay at or above the eviction
    watermark; late events fall in windows that end at or below the
    late-event watermark. No event lies between, so every plausible drop
    rule agrees and the reference is unambiguous.
    """
    rng = random.Random(seed)
    t0 = 1_625_875_200 + 3600 * rng.randrange(24)  # an hour boundary
    files: list[list[tuple]] = []
    eid = 0
    marks: list[int | None] = [None]  # watermark before each batch
    for i in range(n_files):
        lo = t0 + i * step_s
        wm_evict, wm_late = marks[-1], marks[-2] if len(marks) > 1 else None
        closed_end = None if wm_late is None else (wm_late // WINDOW_S) * WINDOW_S
        rows = []
        for _ in range(per_file):
            roll = rng.random()
            if closed_end is not None and roll < late:
                ts = closed_end - 1 - rng.randrange(WINDOW_S)
            elif wm_evict is not None and roll < late + disorder:
                ts = max(wm_evict, lo - WATERMARK_S) + rng.randrange(WATERMARK_S)
            else:
                ts = lo + rng.randrange(step_s)
            rows.append((eid, ts, rng.randrange(1000),
                         f"type_{_zipf_choice(rng, n_types):02d}",
                         round(rng.random() * 100, 2)))
            eid += 1
        files.append(rows)
        marks.append(max(r[1] for f in files for r in f) - WATERMARK_S)
    return files


def write_event_files(out_dir: str, files: list[list[tuple]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(files):
        table = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * 1_000_000 for r in rows], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        })
        path = os.path.join(out_dir, f"events-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def windowed_reference(files: list[list[tuple]]) -> dict[tuple[int, str], tuple[int, float]]:
    """Append-mode output of the windowed stream at one file per trigger:
    batch ``i`` drops an event whose window ends at or below the previous
    batch's watermark (watermark = max event time of earlier batches -
    delay), and a window is emitted once the final watermark reaches its
    end."""
    state: dict[tuple[int, str], list] = {}
    marks: list[int | None] = [None]
    max_ts = None
    for rows in files:
        wm_late = marks[-2] if len(marks) > 1 else None
        for _eid, ts, _u, etype, value in rows:
            start = (ts // WINDOW_S) * WINDOW_S
            if wm_late is not None and start + WINDOW_S <= wm_late:
                continue
            acc = state.setdefault((start, etype), [0, 0.0])
            acc[0] += 1
            acc[1] += value
        max_ts = max([max_ts or 0] + [r[1] for r in rows])
        marks.append(max_ts - WATERMARK_S)
    return {
        k: (n, round(s, 2)) for k, (n, s) in state.items()
        if k[0] + WINDOW_S <= marks[-1]
    }
