"""Self-tests for the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import METRIC_NAME, Span, Tracer, self_times, tail_percentile  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    lambda p, s: gen.star_schema(p, s, 0.02),
    lambda p, s: gen.corpus(p, s, 0.5),
    lambda p, s: gen.contacts(p, s, 20),
])
def test_same_seed_same_data_other_seed_other_data(tmp_path, make):
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert _digest(a.path) == _digest(b.path)
    assert a.truth == b.truth and a.rows == b.rows
    assert _digest(a.path) != _digest(c.path)


def test_planted_duplicate_groups_are_copies(tmp_path):
    import pyarrow.parquet as pq

    d = gen.corpus(str(tmp_path), 3, 0.5)
    text = pq.read_table(os.path.join(d.path, "documents.parquet")).column("text").to_pylist()
    assert d.truth["dup_groups"]
    for group in d.truth["dup_groups"]:
        assert max(group) < gen.NEAR_DUP_SLICE
        assert len({text[i] for i in group}) == 1


@pytest.mark.parametrize("n,pct", [(5, 50.0), (20, 50.0), (40, 75.0), (100, 90.0),
                                   (200, 95.0), (1000, 95.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n)]
    got_pct, value = tail_percentile(samples)
    assert got_pct == pytest.approx(pct)
    if n >= 20:
        assert sum(x > value for x in samples) >= 10


def test_tail_percentile_interpolates():
    assert tail_percentile([float(i) for i in range(200)]) == (95.0, pytest.approx(189.05))


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),   # overlaps a: union 1..6
        Span("c", 8.0, 12.0, 0, "r"),  # clipped to the parent: 8..10
        Span("a.x", 2.0, 3.0, 1, "r"),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])


def test_self_times_partition_the_root():
    tr = Tracer("t", enabled=True)
    with tr.span("root"):
        with tr.span("child"):
            with tr.span("grandchild"):
                pass
        with tr.span("child"):
            pass
    assert sum(tr.self_times()) == pytest.approx(tr.spans[0].duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_metric_names_match_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.fullmatch(name), name
        assert len(name) <= 64 and name[0].isalnum()


def test_reported_metrics_are_the_declared_ones(tmp_path):
    """--trace 0 prints exactly the end-to-end metrics, --trace 1
    exactly the per-layer metrics BENCHMARK.json declares."""
    pytest.importorskip("pyspark")
    from perfbench.workloads import Harness

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    h = Harness("interactive", 1, 1.0, str(tmp_path), Tracer("t", enabled=True))
    h.detail["peak_memory_mb"] = {"python_rss": 1.0, "jvm_non_heap_rss": 2.0,
                                  "jvm_heap_retained_peak": 3.0}
    h.samples.append(("q", 0.5, "measure"))
    h.latency_n = 1
    h.pass_rows.append((10, 0.5))
    e2e, layers = h.end_to_end(), h.per_layer()
    assert sorted(e2e) == sorted(m["name"] for m in bench["end_to_end"])
    assert sorted(layers) == sorted(m["name"] for m in bench["per_layer"])
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert all(unit == declared[name] for name, (_v, unit) in {**e2e, **layers}.items())


def test_latency_comes_from_a_fixed_sample_count(tmp_path):
    """Passes beyond the fixed latency passes add throughput, not
    latency samples: the tail is read at the same rank however many
    passes fit in the measured seconds."""
    pytest.importorskip("pyspark")
    from perfbench.workloads import Harness

    h = Harness("interactive", 1, 1.0, str(tmp_path), Tracer("t", enabled=False))
    h.detail["peak_memory_mb"] = {"python_rss": 1.0}
    h.samples += [("q", float(i), "measure") for i in range(39)]
    h.latency_n = 39
    fixed = h.end_to_end()
    h.samples += [("q", 1000.0, "measure") for _ in range(13)]
    h.pass_rows.append((0, 1.0))
    more = h.end_to_end()
    assert more["latency_p50_ms"] == fixed["latency_p50_ms"] == (19000.0, "ms")
    assert more["latency_p95_ms"] == fixed["latency_p95_ms"]
    assert h.detail["latency_samples"] == 39
    assert h.detail["latency_tail_percentile"] == pytest.approx(74.4)
    assert more["queries_per_s"] == (52.0, "1/s")
