"""Logic tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, proctree, stats  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402


# ---- wildcard -> oracle regex


@pytest.mark.parametrize(
    "query, text, hit",
    [
        ("connection established successfully", "connection established successfully", True),
        ("connection established", "connection established successfully", False),
        ("Task 123* started by user *", "Task 12345 started by user ab12 at attempt 3", True),
        ("Task 123* started by user *", "Task 12 started by user ab12", False),
        ("GET /api/v2/users/* took * ms", "GET /api/v2/users/7?page=1 took 0.5 ms", True),
        ("a?c", "abc", True),
        ("a?c", "ac", False),
        ("a?c", "abbc", False),
        ("*", "", True),
        ("x.y(z)+", "x.y(z)+", True),  # regex metacharacters are literal
        ("x.y", "xzy", False),
        ("a*", "a\nb", False),  # `*` does not cross a newline, as in Java
    ],
)
def test_wildcard_regex_fullmatch(query, text, hit):
    assert bool(oracle.wildcard_regex(query).fullmatch(text)) is hit


def test_expected_hits_counts_rows_and_multi_query_pairs():
    texts = ["a1", "a2", "b1", None]
    assert oracle.expected_hits("a*", texts) == 2
    assert oracle.expected_hits({"x": "a*", "y": "*1"}, texts) == 4


@pytest.mark.parametrize(
    "role, tool, sink",
    [("user", None, "chat"), ("assistant", None, "chat"), ("system", None, "ops"),
     ("tool", "bash", "tools.sh"), ("tool", "browser", "tools.web"),
     ("tool", "nope", "tools.unknown"), ("other", None, "ops")],
)
def test_route_oracle_follows_sink_rules(role, tool, sink):
    assert oracle.route_sink(role, tool) == sink


def test_routed_counts_tally_rows_per_sink():
    roles = ["user", "tool", "tool", "system", "assistant"]
    tools = [None, "bash", "search", None, None]
    assert oracle.routed_counts(roles, tools) == {
        "chat": 2, "tools.sh": 1, "tools.web": 1, "ops": 1,
    }


# ---- percentiles


def test_percentile_reports_sample_count():
    samples = list(range(1, 101))
    assert stats.percentile(samples, 90) == (90, 100)
    assert stats.percentile(samples, 50) == (50, 100)


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)  # 9 samples beyond p90
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    assert stats.percentile(list(range(20)), 50) == (9, 20)


def test_percentile_rejects_bad_p():
    with pytest.raises(ValueError):
        stats.percentile(list(range(1000)), 100)


def test_highest_supported_percentile():
    assert stats.highest_supported_percentile(list(range(1000)))[0] == 99
    assert stats.highest_supported_percentile(list(range(40)))[0] == 75
    assert stats.highest_supported_percentile(list(range(8))) is None


def test_worse_shift_follows_the_better_direction():
    assert stats.worse_shift([10, 10, 10], [11, 11, 11], "lower") == pytest.approx(0.1)
    assert stats.worse_shift([10, 10, 10], [11, 11, 11], "higher") == pytest.approx(-0.1)
    assert stats.worse_shift([10, 10, 10], [9, 9, 9], "higher") == pytest.approx(0.1)


def test_relative_spread():
    assert stats.relative_spread([10.0] * 10) == 0
    assert stats.relative_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


# ---- metric names


@pytest.mark.parametrize("name", ["setup_s", "encode.python_s", "p50", "a-b.c_d", "x" * 64])
def test_valid_names(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é", None])
def test_invalid_names(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_units():
    for unit in ("ms", "s", "1/s", "count", "turns/s", "%", "MB"):
        assert stats.check_unit(unit) == unit
    for unit in ("", "a b", "x" * 17):
        with pytest.raises(ValueError):
            stats.check_unit(unit)


def test_benchmark_json_matches_the_code():
    pytest.importorskip("pyspark")
    from perfbench import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == workloads.E2E_METRICS
    assert layers == workloads.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name, unit in {**e2e, **layers}.items():
        stats.check_name(name)
        stats.check_unit(unit)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


@pytest.mark.parametrize(
    "min_ops, unit, steps", [(3, 1, 3), (2, 6, 6), (12, 6, 12), (13, 6, 18)]
)
def test_closed_loop_runs_at_least_min_ops_in_whole_units(min_ops, unit, steps):
    pytest.importorskip("pyspark")
    from perfbench import workloads

    seen = []
    workloads.closed_loop(0, min_ops, seen.append, unit)
    assert seen == list(range(steps))


# ---- /proc RSS over a process tree


def _fake_proc(root, procs):
    """procs: pid -> (ppid, comm, rss_kb or None)."""
    for pid, (ppid, comm, rss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        status = f"Name:\t{comm}\n"
        if rss is not None:
            status += f"VmRSS:\t{rss} kB\n"
        (d / "status").write_text(status)
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_tree_rss_sums_descendants_only(tmp_path):
    _fake_proc(
        tmp_path,
        {
            10: (1, "python3", 100),
            11: (10, "java", 1000),
            12: (11, "python3 -m daemon", 50),  # comm with spaces
            13: (12, "worker) x", 25),  # comm with a ')'
            14: (10, "kthread", None),  # no VmRSS line
            20: (1, "other", 5000),
        },
    )
    assert sorted(proctree.tree_pids(10, str(tmp_path))) == [10, 11, 12, 13, 14]
    assert proctree.tree_rss_bytes(10, str(tmp_path)) == (100 + 1000 + 50 + 25) * 1024
    assert proctree.tree_rss_bytes(11, str(tmp_path)) == (1000 + 50 + 25) * 1024
    assert proctree.rss_bytes(99, str(tmp_path)) == 0  # exited


def test_peak_rss_take_resets_between_intervals():
    with proctree.PeakRss(interval_s=0.01) as rss:
        first = rss.take()
        ballast = bytearray(64 << 20)  # touched: 64 MiB more resident
        ballast[:: 4096] = b"x" * len(ballast[:: 4096])
        grown = rss.take()
        del ballast
        after = rss.take()
    assert first > 0
    assert grown >= first + (60 << 20)
    assert after < grown


# ---- event log totals


def test_event_log_groups_jobs_stages_and_sql_metrics():
    plan = {
        "nodeName": "ArrowEvalPython",
        "metrics": [{"accumulatorId": 7, "name": "time to run Python workers"}],
        "children": [{"nodeName": "Scan", "metrics": [{"accumulatorId": 8}]}],
    }

    def task(stage, run_ms, written=0, read=0, accums=()):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                "Shuffle Read Metrics": {"Local Bytes Read": read, "Remote Bytes Read": 0},
            },
            "Task Info": {"Accumulables": list(accums)},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        task(0, 10, written=100),
        task(1, 10, read=100),
        task(1, 30, read=100, accums=[{"ID": 7, "Name": "time to run Python workers", "Update": "1500"}]),
        task(1, 10, read=100, accums=[{"ID": 8, "Name": "time to run Python workers", "Update": "99"}]),
        task(2, 5, written=7),
        task(3, 5, written=1000),
    ]
    ev = EventLog(events)
    assert ev.jobs("a") == 1 and ev.jobs("a", "b") == 2
    assert ev.stages("a") == 2  # stage 1 ran in the first job that listed it
    assert ev.tasks("a") == 4 and ev.tasks("b") == 1
    assert ev.shuffle_bytes("a") == 100 and ev.shuffle_bytes("b") == 7
    assert ev.task_skew("a") == pytest.approx(3.0)
    assert ev.task_skew("b") == 1.0
    assert ev.sql_metric("time to run Python workers", "ArrowEvalPython", "a") == 1500


# ---- seeded inputs


def test_query_mix_is_seeded_and_class_balanced():
    a = inputs.query_mix(5, 20)
    assert a == inputs.query_mix(5, 20)
    assert a != inputs.query_mix(6, 20)
    assert len(a) == 120
    n = len(inputs.QUERY_CLASSES)
    for r in range(20):
        assert sorted(c for c, _ in a[r * n : (r + 1) * n]) == sorted(inputs.QUERY_CLASSES)


def test_msgpack_files_are_seeded_and_decode_back(tmp_path):
    from fluent_bit_clp_spark.sources.msgpack import iter_records

    got = inputs.write_msgpack_files(str(tmp_path / "a"), 3, 2, 50)
    again = inputs.write_msgpack_files(str(tmp_path / "b"), 3, 2, 50)
    assert got == again
    for name, texts in got.items():
        blob = (tmp_path / "a" / name).read_bytes()
        assert blob == (tmp_path / "b" / name).read_bytes()
        records = list(iter_records(blob, "v2"))
        assert [json.loads(r)["log"] for _, r, _ in records] == texts
        assert not any(bad for *_, bad in records)
        ts = [t for t, _, _ in records]
        assert ts == sorted(ts)
