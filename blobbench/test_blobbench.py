"""Tiny-scale self-tests of the benchmark's harness and generators (no
Spark needed). Run: ``python3 -m pytest blobbench -q``."""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from blobbench import gen, harness  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def test_tail_needs_ten_samples_beyond():
    assert harness.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    s = [float(i) for i in range(30)]
    v, pct = harness.tail(s)
    assert sum(x > v for x in s) == 10
    assert pct == pytest.approx(100.0 * 20 / 30)


def test_summarize_is_geomean_of_type_medians():
    out = harness.summarize({"a": [1.0, 1.0, 9.0], "b": [4.0]}, [2.0, 3.0])
    assert out["latency_ms"] == pytest.approx(2000.0)
    assert out["ops_per_s"] == pytest.approx(4 / 5.0)
    assert out["trend"] == pytest.approx(0.5)


def test_trend_sign_follows_warmup_curve():
    assert harness.trend([5.0, 4.0, 3.0, 2.0]) < 0
    assert harness.trend([2.0, 2.0, 2.0, 2.0]) == 0


def test_warm_up_stops_on_plateau_and_at_cap():
    times = iter([0.03, 0.02, 0.01, 0.01, 0.01])

    def block():
        import time

        time.sleep(next(times))

    out = harness.warm_up(block, min_blocks=2, max_blocks=5, tol=0.2)
    assert 3 <= len(out) <= 5
    capped = harness.warm_up(lambda: None, min_blocks=9, max_blocks=2)
    assert len(capped) == 2


def test_tracer_spans_nest():
    tr = harness.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    names = {(n, p) for n, _, _, p in tr.spans}
    assert names == {("inner", "outer"), ("outer", None)}
    assert len(tr.durations("inner")) == 1 and tr.total_s("outer") >= 0
    off = harness.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_bytes_written_since_counts_new_files_not_renames(tmp_path):
    old = tmp_path / "old.bin"
    old.write_bytes(b"x" * 100)
    before = harness.file_versions(str(tmp_path))
    old.rename(tmp_path / "moved.bin")
    assert harness.bytes_written_since(str(tmp_path), before) == 0
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "new.bin").write_bytes(b"y" * 7)
    assert harness.bytes_written_since(str(tmp_path), before) == 7


def test_payload_is_reproducible_and_distinct():
    a = gen.payload(1, 5, 0, 64)
    assert a == gen.payload(1, 5, 0, 64) and len(a) == 64
    assert a != gen.payload(2, 5, 0, 64) and a != gen.payload(1, 5, 1, 64)


def test_legacy_sizes_are_seed_independent_per_range():
    s = gen.legacy_sizes(3, 200, 4096, 1.4, 2, 4)
    assert s == gen.legacy_sizes(3, 200, 4096, 1.4, 2, 4)
    assert sum(x > gen.MAX_OBJECT_BYTES for x in s) == 2
    assert max(x for x in s if x <= gen.MAX_OBJECT_BYTES) <= 4 * 1024 * 1024
    other = gen.legacy_sizes(4, 200, 4096, 1.4, 2, 4)
    assert other != s and sorted(other) == sorted(s)
    for part in range(4):  # each seq range holds the same sizes for every seed
        assert sorted(s[part * 50:(part + 1) * 50]) == sorted(other[part * 50:(part + 1) * 50])


def test_zipf_rank_zero_is_hottest():
    z = gen.Zipf(100)
    rng = random.Random(0)
    counts = [0] * 100
    for _ in range(5000):
        counts[z.sample(rng)] += 1
    assert counts[0] == max(counts) and counts[0] > 5 * counts[50]


def test_order_block_is_seventy_percent_reads():
    writes = {"create", "update", "delete"}
    assert sum(k in writes for k in gen.ORDER_BLOCK) == 3
    assert len(gen.ORDER_BLOCK) == 10


def test_run_refuses_a_checkout_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "blobbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "blobbench/run.py", "--workload", "order_api",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    from blobbench.run import END_TO_END, WORKLOADS

    assert {m["name"] for m in bench["end_to_end"]} == set(END_TO_END)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)


def test_recorder_counts_check_failures_and_exceptions():
    from blobbench.run import Recorder

    rec = Recorder(harness.Tracer(False))
    assert rec.op("a", lambda: 1, lambda x: x == 1) == 1
    rec.op("a", lambda: 2, lambda x: x == 1)
    rec.op("b", lambda: 1 / 0)
    assert rec.attempted == 3 and rec.failed == 2
    assert len(rec.samples["a"]) == 2 and "b" not in rec.samples


def test_measure_alternates_traced_blocks():
    from blobbench.run import measure

    class Fake:
        def blocks(self):
            return range(5)

        def block(self, rec, i):
            rec.op("op", lambda: tracer.enabled)

    tracer = harness.Tracer(False)
    plain, walls, traced, walls_t = measure(Fake(), tracer, alternate=True)
    assert plain.attempted == 3 and traced.attempted == 2
    assert len(walls) == 3 and len(walls_t) == 2
    assert {n for n, *_ in tracer.spans} == {"op"} and len(tracer.spans) == 2
    assert not tracer.enabled
    plain, walls, traced, _ = measure(Fake(), harness.Tracer(False), alternate=False)
    assert plain.attempted == 5 and traced.attempted == 0
