"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, metrics, procstat, stats


# -- percentiles -------------------------------------------------------------


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 25) == pytest.approx(1.75)
    assert stats.median([7.0]) == 7.0


def test_percentile_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_summarize_counts_samples_beyond_the_value():
    xs = list(range(1, 1001))
    s = stats.summarize(xs, 99)
    assert s["n"] == 1000
    assert s["value"] == pytest.approx(990.01)
    assert s["beyond"] == 10


# -- prefix self times -------------------------------------------------------


def test_prefix_self_times_subtract_successive_prefixes():
    got = stats.prefix_self_times(["read", "decode", "sink"], [1.0, 1.5, 4.0])
    assert got == {"read": 1.0, "decode": 0.5, "sink": 2.5}
    assert sum(got.values()) == 4.0


def test_prefix_self_times_keep_negative_noise_visible():
    got = stats.prefix_self_times(["a", "b"], [2.0, 1.9])
    assert got["b"] == pytest.approx(-0.1)


def test_prefix_self_times_need_one_time_per_stage():
    with pytest.raises(ValueError):
        stats.prefix_self_times(["a", "b"], [1.0])


# -- /proc parsing -----------------------------------------------------------

_STAT = (
    "4242 (odd) name) S 17 4242 4242 0 -1 4194560 100 0 0 0 "
    "250 50 7 3 20 0 12 0 987654 123456789 3000 18446744073709551615"
)


def test_parse_pid_stat_handles_parentheses_in_the_name():
    st = procstat.parse_pid_stat(_STAT)
    assert st["comm"] == "odd) name"
    assert st["ppid"] == 17
    assert (st["utime"], st["stime"], st["cutime"], st["cstime"]) == (250, 50, 7, 3)
    assert st["starttime"] == 987654
    assert st["rss_pages"] == 3000


def test_parse_cpu_line_and_fractions():
    before = procstat.parse_cpu_line(
        "cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3 4\nbtime 1\n")
    after = procstat.parse_cpu_line("cpu  160 0 70 890 10 0 0 50 0 0\n")
    f = procstat.cpu_fractions(before, after)
    assert f["ticks"] == 180
    assert f["busy"] == pytest.approx(80 / 180)
    assert f["steal"] == pytest.approx(10 / 180)


def test_parse_cpu_line_requires_the_aggregate_line():
    with pytest.raises(ValueError):
        procstat.parse_cpu_line("cpu0 1 2 3 4\n")


def test_parse_pss():
    text = "55d0-7ff [rollup]\nRss:   2048 kB\nPss:   1024 kB\nShared_Clean: 0 kB\n"
    assert procstat.parse_pss_kb(text) == 1024


def test_tree_of_walks_descendants_only():
    stats_ = {1: {"ppid": 0}, 10: {"ppid": 1}, 11: {"ppid": 10},
              12: {"ppid": 11}, 20: {"ppid": 1}}
    assert sorted(procstat.tree_of(stats_, 10)) == [10, 11, 12]


def test_speed_probe_and_cpu_window_report_the_box():
    assert procstat.speed_probe_ms(reps=1) > 0
    with procstat.CpuWindow() as w:
        pass
    assert len(w.box["probe_ms"]) == 2 and min(w.box["probe_ms"]) > 0
    assert 0.0 <= w.box["steal"] <= 1.0


def test_live_tree_usage_counts_this_process():
    now = procstat.tree_usage(memory=True)
    assert now["pids"] >= 1
    assert now["cpu_s"] > 0
    assert now["mem_mb"] > 0


# -- generators --------------------------------------------------------------


def _read_dir(path):
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


def test_wire_logs_are_a_function_of_the_seed(tmp_path):
    a = gen.WireLogs(7, 600, 3, 50)
    b = gen.WireLogs(7, 600, 3, 50)
    c = gen.WireLogs(8, 600, 3, 50)
    for name, logs in (("a", a), ("b", b), ("c", c)):
        logs.write(str(tmp_path / name), 1)
    assert _read_dir(tmp_path / "a") == _read_dir(tmp_path / "b")
    assert (a.expected, a.counts) == (b.expected, b.counts)
    assert _read_dir(tmp_path / "a") != _read_dir(tmp_path / "c")
    counts = a.counts
    assert counts["lines"] == 600
    assert counts["corrupt"] > 0 and counts["incomplete"] > 0 and counts["resend"] > 0
    assert counts["one_off_payload"] > 0 and counts["one_off_agent"] > 0
    assert sum(a.expected.values()) <= counts["corrupt"]


def _lines(path):
    return [line for f in sorted(os.listdir(path)) for line in open(os.path.join(path, f))]


def test_wire_logs_renew_only_the_one_off_tail_per_pass(tmp_path):
    """Two passes differ exactly in the lines holding a one-off payload
    or agent, and share no one-off value, so the workers' caches see
    the tail as new on every pass."""
    logs = gen.WireLogs(4, 2_000, 2, 50)
    logs.write(str(tmp_path / "p1"), 1)
    logs.write(str(tmp_path / "p2"), 2)
    one, two = _lines(tmp_path / "p1"), _lines(tmp_path / "p2")
    changed = [(x, y) for x, y in zip(one, two) if x != y]
    one_off = sum(not isinstance(line, str) for line in logs.lines)
    assert len(one) == len(two) == 2_000
    assert 0 < len(changed) == one_off
    assert len(changed) < 0.15 * len(one)
    for x, y in changed:
        assert ("sref!p1x" in x) == ("sref!p2x" in y)
        assert (" uniq/1x" in x) == (" uniq/2x" in y)
        assert "sref!p1x" in x or " uniq/1x" in x


def test_wire_checksums_match_the_program_verdict(tmp_path):
    """The generator's checksum agrees with the package's verdict on
    every pass: only requests tampered after checksumming are flagged."""
    from divolte_collector_spark.functions.checksum import checksum_verdict_py
    from divolte_collector_spark.sources.wirelog import parse_line

    logs = gen.WireLogs(3, 400, 1, 50)
    for pass_ix in (1, 2):
        logs.write(str(tmp_path / str(pass_ix)), pass_ix)
        flagged = {}
        with open(tmp_path / str(pass_ix) / "access-00.log") as fh:
            for line in fh:
                qs = parse_line(line)[3]
                eid = dict(p.split("=", 1) for p in qs.split("&")).get("e")
                flagged[eid] = not checksum_verdict_py(qs)
        assert {e: flagged[e] for e in logs.expected} == logs.expected
    assert any(logs.expected.values())


def test_generator_murmur_matches_the_program():
    from divolte_collector_spark.functions.murmur import murmur3_32_signed

    for s in [b"", b"a", b"ab", b"abc", b"abcd", "p=0:x,;é".encode()]:
        assert gen.murmur3_32_signed(s) == murmur3_32_signed(s)
    assert gen.base36(-35) == "-z"
    assert int(gen.base36(1_709_251_200_000), 36) == 1_709_251_200_000


def test_json_stream_is_a_function_of_the_seed(tmp_path):
    a = gen.render_json_stream(5, str(tmp_path / "a"), 400, 2.0, 0.25)
    b = gen.render_json_stream(5, str(tmp_path / "b"), 400, 2.0, 0.25)
    assert a == b
    assert _read_dir(tmp_path / "a") == _read_dir(tmp_path / "b")
    assert len(a) == 8 and all(len(f["events"]) == 100 for f in a)
    dues = [e[2] for f in a for e in f["events"]]
    assert dues == sorted(dues) and dues[-1] < 2000
    first = json.loads(open(tmp_path / "a" / a[0]["name"]).readline())
    assert set(first) == {"party_id_param", "remote_host", "body"}


def test_events_table_is_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    gen.render_events_table(9, str(tmp_path / "a" / "events.parquet"), 500, 40)
    gen.render_events_table(9, str(tmp_path / "b" / "events.parquet"), 500, 40)
    ta = pq.read_table(tmp_path / "a" / "events.parquet")
    assert ta.equals(pq.read_table(tmp_path / "b" / "events.parquet"))
    assert ta.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]


# -- the catalog -------------------------------------------------------------


def test_complete_zero_fills_bypassed_layers_only():
    some = {"streaming.trigger_ms": (12.0, "ms")}
    out = metrics.complete(some, trace=True)
    assert list(out) == [n for n, _ in metrics.PER_LAYER]
    assert out["streaming.trigger_ms"] == (12.0, "ms")
    assert out["sources.wirelog.read_s"] == (0.0, "s")
    with pytest.raises(ValueError):
        metrics.complete(some, trace=False)
    with pytest.raises(ValueError):
        metrics.complete({"nope": (1.0, "s")}, trace=True)
    with pytest.raises(ValueError):
        metrics.complete({"streaming.trigger_ms": (1.0, "s")}, trace=True)
