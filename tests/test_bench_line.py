"""bench.py's printed summary line must stay parseable from the
driver's ~2 KB stdout tail (r10 verdict #1: the 29th headline key
pushed the two per-query maps past the window — BENCH_r10.json
recorded ``parsed: null`` and the round's official number only
survived in git). ``compact_stdout_line`` now hard-caps the line and
degrades stepwise; these tests pin the cap, the degradation order,
the exact line for one fixed artifact, and that the HEADLINE set as
currently registered fits. They also pin ``run_set``, the one per-key
measurement loop: fault isolation, the fresh-session retry and the
per-key CPU seconds."""

from __future__ import annotations

import json

import bench


def _out(n_keys: int, scaled: bool = True) -> dict:
    qs = {f"some_headline_query_name_{i:03d}": 1.234 for i in range(n_keys)}
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": 33.13,
        "unit": "sec",
        "sf": 0.1,
        "queries": dict(qs),
        "calibration": 0.77,
    }
    if scaled:
        out["scaled_total"] = 48.61
        out["scale_k"] = 10
        out["scaled_calibration"] = 0.68
        out["scaled_queries"] = dict(qs)
    return out


def test_line_under_cap_and_parseable_at_current_headline_count():
    # the REAL headline names, not synthetic ones: this is the exact
    # line the driver will tail this round. At 29 keys the two full
    # maps measure ~2 KB — past the tail — so the contract is: line
    # fits, sf0.1 map complete, scaled column present through totals
    # (its per-key detail lives in the committed BENCH.json).
    names = bench.HEADLINE + bench.HEADLINE_ISOLATED
    out = _out(0)
    out["queries"] = {k: 1.234 for k in names}
    out["scaled_queries"] = {k: 12.345 for k in names}
    s = bench.compact_stdout_line(out)
    assert len(s) <= bench.STDOUT_LINE_LIMIT
    d = json.loads(s)
    # driver contract fields
    assert d["metric"] and d["unit"] == "sec" and d["sf"] == 0.1
    assert set(d["queries"]) == set(names)
    assert d["scaled_total"] == 48.61 and d["s_calib"] == 0.68


def test_line_drops_scaled_map_first_when_over():
    # 40 synthetic keys (~27 bytes each name) overflow two maps but
    # not one: the scaled map goes first, the sf0.1 map survives
    s = bench.compact_stdout_line(_out(40))
    assert len(s) <= bench.STDOUT_LINE_LIMIT
    d = json.loads(s)
    assert "queries" in d and "scaled_queries" not in d
    # the scaled column stays comparable through its totals
    assert d["scaled_total"] == 48.61 and d["s_calib"] == 0.68


def test_line_drops_both_maps_at_extreme_count():
    s = bench.compact_stdout_line(_out(200))
    assert len(s) <= bench.STDOUT_LINE_LIMIT
    d = json.loads(s)
    assert "queries" not in d and "scaled_queries" not in d
    assert d["value"] == 33.13 and d["full"] == "BENCH.json"


def test_line_cap_is_a_hard_assert_not_a_silent_overflow():
    import pytest

    with pytest.raises(AssertionError):
        bench.compact_stdout_line(_out(5), limit=40)


def test_not_in_total_keys_never_printed():
    out = _out(3)
    out["queries"]["dedup_incremental_bucketed_probe"] = 0.5
    out["scaled_queries"]["dedup_incremental_bucketed_probe"] = 0.9
    d = json.loads(bench.compact_stdout_line(out))
    assert "dedup_incremental_bucketed_probe" not in d["queries"]
    assert "dedup_incremental_bucketed_probe" not in d["scaled_queries"]


def test_isolated_keys_partition_headline():
    # the isolated set must not duplicate a HEADLINE entry (it would
    # double-time and double-count the key) and must stay non-empty
    # while stream_transform_with_state is a headline number
    assert set(bench.HEADLINE).isdisjoint(bench.HEADLINE_ISOLATED)
    assert "stream_transform_with_state" in bench.HEADLINE_ISOLATED


# --- round 12: per-key fault isolation (VERDICT r11 #1) ---------------------
#
# The driver's r11 bench died on the LAST key after both columns were
# fully measured and rc=1 threw everything away. The contract now: a
# raising spec records errors[name], every other key's number survives,
# and the printed line still parses and names the failed key.


class _Spec:
    def __init__(self, fn):
        self.build = fn


def test_run_set_isolates_a_raising_spec(spark):
    calls = []

    def good(s, d):
        calls.append(d)
        return s.range(3)

    def bad(s, d):
        raise RuntimeError("Python worker failed to connect back.")

    registry = {"good_a": _Spec(good), "boom": _Spec(bad), "good_b": _Spec(good)}

    def consume(df):
        df.collect()

    sess = [spark]
    t, m, cpu_s, e, retried = bench.run_set(
        sess, registry, "/unused", 2, ["good_a", "boom", "good_b"],
        consume, with_probe=False,
    )
    assert set(t) == {"good_a", "good_b"} and set(m) == set(t)
    assert set(cpu_s) == set(t)
    assert list(e) == ["boom"]
    assert e["boom"].startswith("RuntimeError: Python worker failed")
    # without a session factory a failure is recorded, never retried
    assert retried == {} and sess == [spark]
    # and the line built from a partial artifact still prints + parses
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": sum(t.values()),
        "unit": "sec",
        "sf": 0.1,
        "queries": t,
        "calibration": 0.8,
        "errors": e,
    }
    d = json.loads(bench.compact_stdout_line(out))
    assert d["errs"] == ["boom"]
    assert set(d["queries"]) == {"good_a", "good_b"}


def test_run_set_missing_probe_module_is_isolated(spark, monkeypatch):
    # even the trailing NOT_IN_TOTAL probe section may not kill the set
    import datafusion_functions_variant_spark.queries.ingestion as ing

    def raising_build(s, d):
        raise RuntimeError("index build exploded")

    monkeypatch.setattr(ing, "bucketed_index_build", raising_build)
    t, m, cpu_s, e, retried = bench.run_set(
        [spark], {}, "/unused", 1, [], lambda df: df.collect(), with_probe=True
    )
    assert "dedup_incremental_bucketed_probe" in e and not t and not cpu_s


def test_line_tolerates_missing_calibration():
    # a crash before the calibration probe must not break the finally-print
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": 0.0,
        "unit": "sec",
        "sf": 0.1,
        "queries": {},
        "errors": {"__calibration__": "RuntimeError: boom"},
    }
    d = json.loads(bench.compact_stdout_line(out))
    assert "calib" not in d and d["errs"] == ["__calibration__"]


def test_errs_survive_every_degradation_step():
    out = _out(200)  # forces the drop-both-maps form
    out["errors"] = {"stream_transform_with_state": "x"}
    d = json.loads(bench.compact_stdout_line(out))
    assert "queries" not in d
    assert d["errs"] == ["stream_transform_with_state"]


def test_run_isolated_keys_retries_in_fresh_session():
    # the HEADLINE_ISOLATED path: run_set with a session factory. First
    # attempt throws (the r11 'connect back' shape), the retry in a
    # fresh session succeeds: the number is recorded plus a retried
    # note, a double failure records the error, nothing raises. Pure
    # stubs — the retry stops sessions, so the real shared spark
    # fixture must never enter the holder.
    attempts = []

    def flaky(s, d):
        attempts.append(1)
        if len(attempts) == 1:
            raise RuntimeError("Python worker failed to connect back.")
        return "df"

    def always_bad(s, d):
        raise RuntimeError("StreamingQueryException: boom")

    registry = {"flaky_key": _Spec(flaky), "dead_key": _Spec(always_bad)}

    stops = []

    class _FakeSpark:
        def stop(self):
            stops.append(1)

    sess = [_FakeSpark()]
    made = []

    def new_session():
        made.append(1)
        return _FakeSpark()

    first = sess[0]
    t, m, cpu_s, e, retried = bench.run_set(
        sess, registry, "/unused", 2, ["flaky_key", "dead_key"],
        lambda df: None, with_probe=False, new_session=new_session,
    )
    # flaky_key: measured on retry, noted; dead_key: double failure recorded
    assert set(t) == {"flaky_key"} and set(cpu_s) == {"flaky_key"}
    assert set(retried) == {"flaky_key"}
    assert retried["flaky_key"].startswith("RuntimeError: Python worker")
    assert set(e) == {"dead_key"}
    assert e["dead_key"].startswith("RuntimeError: StreamingQueryException")
    assert "| retry: RuntimeError: StreamingQueryException" in e["dead_key"]
    # both failures stopped-and-replaced the held session
    assert len(stops) == 2 and len(made) == 2
    assert isinstance(sess[0], _FakeSpark) and sess[0] is not first


def test_errs_list_is_bounded_on_the_line():
    # an irreducibly long errs list must truncate, not trip the hard
    # byte-cap assert in the finally-print (ADVICE r12)
    out = _out(0)
    out["errors"] = {f"some_failing_query_name_{i:03d}": "x" for i in range(50)}
    d = json.loads(bench.compact_stdout_line(out))
    assert len(d["errs"]) == 13
    assert d["errs"][-1] == "+38 more"
    assert len(json.dumps(d, separators=(",", ":"))) <= bench.STDOUT_LINE_LIMIT


def test_per_key_weather_maps_never_reach_the_printed_line():
    out = _out(8)
    out["queries_cpu_s"] = {f"some_headline_query_name_{i:03d}": 2.5 for i in range(8)}
    out["scaled_queries_cpu_s"] = dict(out["queries_cpu_s"])
    d = json.loads(bench.compact_stdout_line(out))
    assert d == json.loads(bench.compact_stdout_line(_out(8)))
    for k in d:
        assert "cpu" not in k


def test_calibration_times_one_run(spark):
    # one timed sample after the untimed warm-up: median == min, and
    # a single sample has no spread
    import os

    cpus = min(8, os.cpu_count() or 8)
    med, low, spread = bench.calibration_times(spark, cpus, 1)
    assert isinstance(med, float) and med > 0
    assert low == med and spread == 0.0


def test_run_set_records_median_cpu_seconds_per_key(spark):
    def work(s, d):
        return s.range(0, 2_000_000).selectExpr("bit_xor(xxhash64(id)) AS h")

    def bad(s, d):
        raise RuntimeError("boom")

    registry = {"k00": _Spec(work), "boom": _Spec(bad), "k01": _Spec(work)}
    t, m, cpu_s, e, retried = bench.run_set(
        [spark], registry, "/unused", 2, ["k00", "boom", "k01"],
        lambda df: df.collect(), with_probe=False,
    )
    assert set(e) == {"boom"} and set(t) == {"k00", "k01"}
    assert set(cpu_s) == {"k00", "k01"}
    assert all(isinstance(v, float) and v > 0 for v in cpu_s.values())


#: compact_stdout_line's output for one fixed artifact, byte for byte:
#: the driver parses this line, so any change to it is a contract change
GOLDEN_ARTIFACT = {
    "metric": "headline_queries_total_wall_clock",
    "value": 37.7912,
    "unit": "sec",
    "sf": 0.1,
    "cpus": 4,
    "queries": {
        "q1_pricing_summary": 1.2345,
        "variant_events_agg": 0.4,
        "dedup_incremental_bucketed_probe": 0.333,
    },
    "queries_min": {"q1_pricing_summary": 1.1},
    "queries_cpu_s": {"q1_pricing_summary": 3.21},
    "calibration": 0.7534,
    "calibration_min": 0.74,
    "calibration_spread": 0.02,
    "value_per_calib": 50.16,
    "scale_k": 10,
    "scaled_total": 61.9849,
    "scaled_calibration": 0.6812,
    "scaled_queries": {"q1_pricing_summary": 9.876, "variant_events_agg": 2.005},
    "scaled_queries_cpu_s": {"q1_pricing_summary": 30.5},
    "errors": {"stream_transform_with_state": "RuntimeError: boom"},
    "scaled_errors": {"__scaled_set__": "OSError: disk"},
}
GOLDEN_LINE = (
    '{"metric":"headline_queries_total_wall_clock","value":37.79,'
    '"unit":"sec","sf":0.1,"full":"BENCH.json","queries":'
    '{"q1_pricing_summary":1.23,"variant_events_agg":0.4},"calib":0.75,'
    '"scale_k":10,"scaled_total":61.98,"s_calib":0.68,"scaled_queries":'
    '{"q1_pricing_summary":9.88,"variant_events_agg":2.0},'
    '"errs":["__scaled_set__","stream_transform_with_state"]}'
)


def test_compact_stdout_line_golden():
    assert bench.compact_stdout_line(GOLDEN_ARTIFACT) == GOLDEN_LINE


def test_artifact_paths_include_core_stamped_twin():
    """The driver's reduced-core scaling run must never clobber the
    full-core per-key data (it did in r15: the 32-core scaled column
    was lost to the c8 run — VERDICT r15 'What's wrong' #1). The
    artifact now also lands at BENCH_c{cpus}.json."""
    import os

    paths = bench.artifact_paths(32)
    names = [os.path.basename(p) for p in paths]
    assert names == ["BENCH.json", "BENCH_c32.json"]
    assert os.path.basename(bench.artifact_paths(8)[1]) == "BENCH_c8.json"
    # main() writes through artifact_paths (both files, every flush)
    import inspect

    src = inspect.getsource(bench.main)
    assert "artifact_paths(cpus)" in src
