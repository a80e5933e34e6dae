"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import itertools
import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import dashboard  # noqa: E402
import gen  # noqa: E402
import ingest  # noqa: E402
import run  # noqa: E402
import workload  # noqa: E402
from oracle import compare  # noqa: E402
from stats import percentile, self_times, tail_percentile  # noqa: E402


def _dash(seed, client=0, n=200):
    return [r.key for r in itertools.islice(dashboard.stream(seed, client, 4), n)]


def _reads(seed, reader=0, n=100):
    return [r.key for r in itertools.islice(ingest.stream(seed, reader), n)]


def test_same_seed_same_query_stream():
    assert _dash(7) == _dash(7)
    assert _reads(7) == _reads(7)


def test_other_seed_or_client_other_stream():
    assert _dash(7) != _dash(8)
    assert _dash(7, client=0) != _dash(7, client=1)
    assert _reads(7) != _reads(8)


def test_dashboard_stream_repeats_a_recent_request():
    keys = _dash(3, n=2000)
    every = dashboard.REPEAT_EVERY
    # a repeat re-sends one of the last REPEAT_WINDOW fresh requests
    span = dashboard.REPEAT_WINDOW + dashboard.REPEAT_WINDOW // (every - 1) + 1
    assert all(k in keys[max(0, i - span):i]
               for i, k in enumerate(keys) if (i + 1) % every == 0)
    # far more distinct requests than the engine's 64-entry plan cache
    assert len(set(keys)) > 1400


def test_dashboard_stream_cycles_templates():
    fresh = [k for i, k in enumerate(_dash(4, n=64))
             if (i + 1) % dashboard.REPEAT_EVERY]
    shapes = [json.loads(k.split(" ", 1)[1]).get("queryType", "sql")
              for k in fresh[:len(dashboard.TEMPLATES)]]
    assert shapes.count("sql") == 4 and shapes.count("timeseries") == 2


@pytest.mark.parametrize("name", ["olap", "stream", "docs"])
def test_same_seed_same_input_bytes(tmp_path, name):
    a = gen.dataset(str(tmp_path / "a"), name, 5)
    b = gen.dataset(str(tmp_path / "b"), name, 5)
    c = gen.dataset(str(tmp_path / "a"), name, 6)
    assert a["sha256"] == b["sha256"] == gen.content_hash(b["path"])
    assert c["sha256"] != a["sha256"]
    assert a["tables"] == b["tables"]
    assert all(t["rows"] > 0 and t["bytes"] > 0 for t in a["tables"].values())


def test_cache_is_reused_only_when_hash_matches(tmp_path):
    a = gen.dataset(str(tmp_path), "olap", 1)
    assert not a["cached"]
    assert gen.dataset(str(tmp_path), "olap", 1)["cached"]
    victim = os.path.join(a["path"], "nation", "part-000.parquet")
    with open(victim, "ab") as f:
        f.write(b"x")
    again = gen.dataset(str(tmp_path), "olap", 1)
    assert not again["cached"]
    assert again["sha256"] == a["sha256"]
    t = again["tables"]
    # several splits per fact table, not one row group
    assert t["lineitem"]["files"] >= 4 and t["lineitem"]["row_groups"] >= 8


@pytest.mark.parametrize("samples,p", [
    (20000, 99.9), (10000, 99.9), (9999, 99.0), (1000, 99.0), (200, 95.0),
    (199, 90.0), (100, 90.0), (40, 75.0), (39, 50.0), (3, 50.0)])
def test_tail_percentile_leaves_ten_samples_beyond(samples, p):
    assert tail_percentile(samples) == p


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5
    assert percentile(range(101), 90) == 90


def test_self_time_subtracts_covered_child_time():
    spans = [
        (1, None, 0.0, 10.0),   # root
        (2, 1, 1.0, 4.0),       # child
        (3, 1, 3.0, 6.0),       # child overlapping the first (other thread)
        (4, 2, 1.5, 2.0),       # grandchild: counts against 2, not 1
        (5, 1, 9.0, 12.0),      # child running past the root's end
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(3.0)


def test_compare_rules():
    want = [{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}]
    assert compare([{"k": "b", "v": 2.0}, {"k": "a", "v": 1.0}], want) is None
    assert compare([{"k": "b", "v": 2.0}, {"k": "a", "v": 1.0}], want,
                   ordered=True) is not None
    assert compare([{"k": "a", "v": 1.04}, {"k": "b", "v": 2.0}], want,
                   approx={"v": 0.05}) is None
    assert compare([{"k": "a", "v": 1.1}, {"k": "b", "v": 2.0}], want,
                   approx={"v": 0.05}) is not None
    assert compare([{"k": "a", "v": 1.0}, {"k": "z", "v": 0},
                    {"k": "b", "v": 2.0}], want, drop_zero="v") is None
    assert compare([{"t": "1992-01-01T00:00:00Z"}],
                   [{"t": "1992-01-01T00:00:00.000Z"}]) is None


def test_heap_range_and_resident_memory_outside_it(tmp_path):
    (tmp_path / run.HEAP_LOG).write_text(
        "[0.004s][debug][gc,heap,coops] Heap address: 0x0000000080000000, "
        "size: 2048 MB, Compressed Oops mode: 32-bit\n")
    assert run.heap_range(str(tmp_path)) == (0x80000000, 0x100000000)
    pid = os.getpid()
    assert run.rss_outside_mb(pid, 0, 2**64) == 0
    with open(f"/proc/{pid}/status") as f:
        rss = next(int(x.split()[1]) for x in f if x.startswith("VmRSS:"))
    assert run.rss_outside_mb(pid, 0, 0) == pytest.approx(rss / 1024, rel=0.2)


def test_benchmark_json_names_only_metrics_the_runs_produce():
    spec = run.spec()
    assert sorted(w["name"] for w in spec["workloads"]) == \
        sorted(run.workloads())
    ops = [workload.Op("query", "q"), workload.Op("append", "a")]
    for i, op in enumerate(ops):
        op.t0, op.t1 = 0.1 * i, 0.1 * (i + 1)
    phases = {"session_s": 1.0, "engine_s": 0.1, "prewarm_s": 2.0,
              "total_s": 4.0}
    mem = {"py_hwm": 100.0, "jvm_heap_peak": 500.0, "jvm_nonheap_rss": 200.0}
    engine = types.SimpleNamespace(plan_cache_hits=0, plan_cache_misses=0,
                                   cache_misses=0)
    ctx = types.SimpleNamespace(tracer=types.SimpleNamespace(spans=[]),
                                cores=4, engine=engine)
    counters = {"hits": 0, "misses": 0, "result_misses": 0}
    e2e, layer = set(), set()
    for wl in run.workloads().values():
        e2e |= set(run.end_to_end(wl, ops, 0.0, 1.0, phases, mem, 75.0))
        layer |= set(run.per_layer(wl, ctx, ops, phases, counters, mem))
    assert {m["name"] for m in spec["end_to_end"]} <= e2e
    assert {m["name"] for m in spec["per_layer"]} <= layer
