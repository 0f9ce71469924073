"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest e2ebench -q``.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from measure import Tracer  # noqa: E402
from workloads import Ctx, check_landing, check_summary, check_windows  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _s, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _write_all(root: str, seed: int) -> None:
    gen.write_ratecard_files(os.path.join(root, "inv"), seed, 2, 300, 50)
    gen.write_event_files(os.path.join(root, "events"), gen.event_batches(seed, 4, 200))
    rows = gen.RatecardGen(seed, 50).landed_rows(200, 3_600_000)
    gen.write_landed_rows(os.path.join(root, "landed", "b.parquet"), rows)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert set(a) == set(c) and all(a[k] != c[k] for k in a)


def test_generated_records_decode_as_expected():
    """The expectations agree with the package's own reference decoder."""
    import base64

    from lambda_kafka_to_s3_parquet_spark.sources.avro_codec import decode_avro_record

    env, expected = gen.RatecardGen(3, 40).invocation(400, 60_000)
    by_po = {(e[0], e[1]): e for e in expected}
    versions = {gen.V_NEW: gen.RATECARD_FIELDS, gen.V_OLD: gen.FIELDS_OLD}
    n_corrupt = 0
    for recs in env["records"].values():
        for r in recs:
            raw = base64.b64decode(r["value"])
            want = by_po[(r["partition"], r["offset"])]
            sid = int.from_bytes(raw[1:5], "big")
            try:
                row = decode_avro_record(raw[5:], versions[sid])
            except (KeyError, EOFError, ValueError):
                row = None
            if want[5] is None:
                n_corrupt += 1
                assert row is None
            else:
                assert row["CNCRNCY_VRSN"] == want[5] and row["SRC_KEY_VAL"] == want[4]
    assert 0 < n_corrupt < 40


def test_events_avoid_the_ambiguous_watermark_zone():
    """Every event is either late for a window already closed before the
    previous batch, or at/above the current eviction watermark."""
    files = gen.event_batches(5, 8, 300)
    seen = []
    for i, rows in enumerate(files):
        wm_evict = max(r[1] for r in seen) - gen.WATERMARK_S if seen else None
        prior = [r for f in files[: i - 1] for r in f] if i >= 2 else []
        wm_late = max(r[1] for r in prior) - gen.WATERMARK_S if prior else None
        late = 0
        for r in rows:
            end = (r[1] // gen.WINDOW_S + 1) * gen.WINDOW_S
            if wm_late is not None and end <= wm_late:
                late += 1
            else:
                assert wm_evict is None or r[1] >= wm_evict
        seen.extend(rows)
        if i >= 3:
            assert late > 0
    ref = gen.windowed_reference(files)
    assert ref and all(n > 0 for n, _s in ref.values())


def _landing(expected):
    return [(p, off, key, key_val, vrsn, vrsn is None)
            for p, off, _ts, key, key_val, vrsn in expected]


def test_checker_accepts_a_correct_landing_and_rejects_tampering():
    _env, expected = gen.RatecardGen(4, 30).invocation(200, 60_000)
    rows = _landing(expected)
    assert check_landing(rows, expected) == []

    dup = rows + [rows[0]]
    assert any("duplicate" in e for e in check_landing(dup, expected))
    assert check_landing(rows[1:], expected)
    good = next(i for i, r in enumerate(rows) if not r[5])
    bumped = list(rows)
    bumped[good] = rows[good][:4] + (rows[good][4] + 1, False)
    assert check_landing(bumped, expected)
    bad = next(i for i, r in enumerate(rows) if r[5])
    hidden = list(rows)
    hidden[bad] = rows[bad][:5] + (False,)
    assert check_landing(hidden, expected)


def test_summary_check_rejects_duplicates_and_drift():
    _env, expected = gen.RatecardGen(4, 30).invocation(200, 60_000)
    want = gen.ratecard_summary(expected)
    got = {**want, "distinct": want["rows"]}
    assert check_summary(got, want) == []
    assert check_summary({**got, "distinct": want["rows"] - 1}, want)
    assert check_summary({**got, "vrsn_sum": want["vrsn_sum"] + 1}, want)


def test_window_check_tolerates_only_summation_rounding():
    want = {(0, "a"): (3, 10.25), (3600, "b"): (1, 0.5)}
    assert check_windows({(0, "a"): (3, 10.26), (3600, "b"): (1, 0.5)}, want) == []
    assert check_windows({(0, "a"): (4, 10.25), (3600, "b"): (1, 0.5)}, want)
    assert check_windows({(0, "a"): (3, 10.25)}, want)


def test_tracer_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    tr.add("a.outer", 0.0, 10.0, None)
    parent = tr.spans[0]
    tr.add("b.inner", 2.0, 5.0, parent)
    tr.add("b.inner", 6.0, 7.0, parent)
    assert tr.self_time_s() == {"a": 6.0, "b": 4.0}
    off = Tracer("t", enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_failed_operations_are_counted_and_reported():
    ctx = Ctx(None, "unused", 0, Tracer("t", enabled=False))
    with ctx.op("query"):
        pass
    with ctx.op("query"):
        ctx.errors.append("wrong answer")
    with ctx.op("drain"):
        raise TimeoutError("stuck")
    assert (ctx.attempted, ctx.failed) == (3, 2)
    assert ctx.errors == ["wrong answer", "drain: TimeoutError: stuck"]
