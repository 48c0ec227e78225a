"""Tests of the KG-construction benchmark itself.

    python3 -m pytest kgbench -q

The smoke tests start Spark (about a minute each); the rest are pure
Python."""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import bench_inputs  # noqa: E402
import bench_trace as bt  # noqa: E402
import run  # noqa: E402


# ------------------------------------------------------------ inputs

def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("make,kw", [
    (bench_inputs.make_bulk, {"n_docs": 60, "n_warm": 8}),
    (bench_inputs.make_incremental, {"n_batches": 3, "batch_docs": 8}),
])
def test_same_seed_same_bytes_other_seed_other_docs(tmp_path, make, kw):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    sa, sb, sc = make(7, str(a), **kw), make(7, str(b), **kw), \
        make(8, str(c), **kw)
    assert sa == sb
    files = _files(a)
    assert files == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    ids = {d["doc_id"] for d in bench_inputs.read_docs(
        str(a / ("corpus" if "n_docs" in kw else "batch000")))}
    other = {d["doc_id"] for d in bench_inputs.read_docs(
        str(c / ("corpus" if "n_docs" in kw else "batch000")))}
    assert ids and not ids & other


def test_mix_and_batch_split_are_fixed_by_size_not_seed(tmp_path):
    for seed in (1, 2, 3):
        st = bench_inputs.make_bulk(seed, str(tmp_path / f"b{seed}"),
                                    n_docs=100, n_warm=4)
        assert st["docs"] == 100 and st["mega_docs"] == 2
        st = bench_inputs.make_incremental(seed, str(tmp_path / f"i{seed}"),
                                           n_batches=2, batch_docs=50)
        assert st["batch_sizes"] == [50, 50] and st["mega_docs"] == 2
        for b in range(2):
            docs = bench_inputs.read_docs(str(tmp_path / f"i{seed}" /
                                              f"batch{b:03d}"))
            assert sum(bench_inputs.doc_chars(d) >= bench_inputs.MEGA_CHARS
                       for d in docs) == 1


# ------------------------------------------------------------ percentiles

def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))                       # 1..100
    p, v = bt.tail_percentile(xs)
    assert (p, v) == (90.0, 90)
    assert sum(x > v for x in xs) == 10
    p, v = bt.tail_percentile(list(range(20)))
    assert (p, v) == (50.0, 9)
    assert bt.tail_percentile([3.0, 1.0, 2.0] * 7)[1] == 2.0  # n=21: x[10]


def test_tail_percentile_small_sample_is_max():
    assert bt.tail_percentile([5.0, 1.0, 9.0]) == (100.0, 9.0)
    assert bt.tail_percentile(list(range(10))) == (100.0, 9)
    with pytest.raises(ValueError):
        bt.tail_percentile([])


# ------------------------------------------------------------ self time

def _span(sid, name, start, end, parent=None):
    return bt.Span(name, start, end, parent, "r", sid)


def test_self_time_subtracts_children_once():
    spans = [_span(0, "bench.build", 0.0, 10.0),
             _span(1, "plans.ledger.run_with_resume", 1.0, 6.0, 0),
             _span(2, "sources.corpus.write_triples", 5.0, 8.0, 0),
             _span(3, "operators.extract.x", 2.0, 3.0, 1)]
    st = bt.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 7.0)      # children cover 1..8
    assert st[1] == pytest.approx(5.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # overlap 5..6


def test_tracer_records_nesting_and_disabled_records_nothing():
    tr = bt.Tracer(True)
    with tr.span("bench.build"):
        with tr.span("plans.ledger.run_with_resume"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("bench.build", None), ("plans.ledger.run_with_resume", 0)]
    assert bt.layer_of(tr.spans[1].name) == "plans.ledger"
    off = bt.Tracer(False)
    with off.span("bench.build"):
        pass
    assert off.spans == []


def test_in_layer_matches_dotted_prefix_only():
    assert bt.in_layer("plans.ledger.run_with_resume", "plans.ledger")
    assert bt.in_layer("plans.ledger.run_with_resume",
                       "plans.ledger.run_with_resume")
    assert not bt.in_layer("plans.ledger.run_with_resume_crash",
                           "plans.ledger.run_with_resume")
    assert bt.in_layer("x.y", "") and not bt.in_layer("", "")


# ------------------------------------------------------------ contract

def test_benchmark_json_names_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.unit(m["name"]) for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == [
        "bulk_build", "incremental_ingest"]


# ------------------------------------------------------------ smoke

@pytest.mark.parametrize("workload", ["bulk_build", "incremental_ingest"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_passes_every_check(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--smoke"], cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 1
    want = run.PER_LAYER if trace else list(run.E2E_UNITS)
    assert list(res["metrics"]) == want
    assert all(isinstance(m["value"], (int, float))
               for m in res["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    elif workload == "bulk_build":
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["plans.ledger.resume_recomputed"] == 8
        assert m["plans.ledger.scan_amplification"] > 1
        assert m["operators.extract.task_skew"] >= 1
    else:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert 1 <= m["jobs.incremental_kg.extract_passes"] <= 4
        assert m["jobs.incremental_kg.degrees_rows"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "kgbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    out = subprocess.run([sys.executable, str(bench / "run.py"),
                          "--workload", "bulk_build", "--seed", "1",
                          "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True,
                         timeout=60)
    assert out.returncode != 0 and out.stdout == ""
