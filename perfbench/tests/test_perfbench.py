"""Tests of the benchmark's own code: seeded generators, the numpy
reference histogram, the record guard, span self-time arithmetic and the
SQL-metric parser."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from perfbench import gen, record, spans
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators --------------------------------------------------------------

def _digest(directory: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(directory):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, directory)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind,size", [
    ("uniform", {"rows": 3000, "nbins": 4, "files": 3}),
    ("peaked", {"rows": 2000, "files": 2, "seconds": 2.0, "dfield": 64}),
    ("documents", {"docs": 60}),
])
def test_generator_is_a_function_of_the_seed(tmp_path, kind, size):
    def written(name, seed):
        gen.generate(kind, seed, str(tmp_path / name), size)
        return _digest(str(tmp_path / name))

    a, b, c = written("a", 5), written("b", 5), written("c", 6)
    data = {k for k in a if k != "manifest.json"}
    assert data and all(a[k] == b[k] for k in data)
    assert any(a[k] != c[k] for k in data)


def test_peaked_events_are_time_ordered_and_stage_consistent():
    cols = gen.peaked_events(3, 5000, 80.0)
    assert np.all(np.diff(cols["timeStamp"]) >= 0)
    np.testing.assert_array_equal(cols["ADC"], gen.stage_adc(cols["timeStamp"]))
    lo, hi = gen.UNIFORM_RANGES["ADC"]
    assert cols["ADC"].min() >= lo and cols["ADC"].max() <= hi


def test_off_edges_leaves_no_value_in_the_snapping_band():
    nb, lo, hi = 8, 0.0, 16.0
    elo, ehi = gen.shifted_range(lo, hi, nb)
    edges = elo + (ehi - elo) * np.arange(nb + 1) / nb
    moved = gen.off_edges(np.concatenate([edges, [3.3, 7.7]]), lo, hi, nb)
    j = gen.scaled_index(moved, lo, hi, nb)
    assert np.all(np.abs(j - np.rint(j)) >= gen.SNAP_BAND)
    np.testing.assert_array_equal(moved[-2:], [3.3, 7.7])


# -- numpy reference against the engine --------------------------------------

def test_reference_histogram_matches_bin_dataframe(spark):
    import pandas as pd

    from sed_spark.binning import bin_dataframe

    nb = 5
    cols = gen.uniform_events(9, 4000)
    ranges = list(gen.UNIFORM_RANGES.values())
    for c, (lo, hi) in gen.UNIFORM_RANGES.items():
        cols[c] = gen.off_edges(cols[c], lo, hi, nb)
    # exact upper edges (inclusive) and out-of-range values on every axis
    for c, (lo, hi) in gen.UNIFORM_RANGES.items():
        _, ehi = gen.shifted_range(lo, hi, nb)
        cols[c][:3] = [ehi, lo - 1.0, hi + 1.0]
    want = gen.reference_histogram(list(cols.values()), ranges, [nb] * 4)
    got = bin_dataframe(spark.createDataFrame(pd.DataFrame(cols)), [nb] * 4,
                        list(cols), ranges)
    assert got.data.dtype == np.float32
    np.testing.assert_array_equal(got.data, want)
    assert 0 < want.sum() < 4000


# -- record guard ------------------------------------------------------------

def _rec(seed, value, cpus=4, size=None):
    return record.make_record(
        {"correct": True, "attempted": 3, "failed": 0,
         "metrics": {"op_s": {"value": value, "unit": "s"}}},
        workload="bin4d_uniform", seed=seed, trace=0, cpus=cpus,
        size=size or {"rows": 10}, seconds=8, commit="abc",
    )


def test_merge_reports_median_and_quartiles():
    merged = record.merge([_rec(s, v) for s, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0])])
    m = merged["metrics"]["op_s"]
    assert m["median"] == 3.0 and m["n"] == 5 and m["q1"] <= 3.0 <= m["q3"]
    assert merged["cpus"] == 4 and merged["seeds"] == [0, 1, 2, 3, 4]


@pytest.mark.parametrize("other", [_rec(2, 1.0, cpus=32), _rec(2, 1.0, size={"rows": 20})])
def test_records_from_other_conditions_are_refused(other):
    with pytest.raises(record.RecordMismatch):
        record.merge([_rec(1, 1.0), other])
    with pytest.raises(record.RecordMismatch):
        record.compare([_rec(1, 1.0)], [other])


def test_compare_cli_refuses_a_cross_core_splice(tmp_path, capsys):
    paths = []
    for i, r in enumerate([_rec(1, 1.0), _rec(2, 1.0, cpus=8)]):
        p = tmp_path / f"r{i}.json"
        p.write_text(json.dumps(r))
        paths.append(str(p))
    assert record.main(["compare", "--base", paths[0], "--new", paths[1]]) == 2
    assert "cpus differs" in capsys.readouterr().err


# -- spans -------------------------------------------------------------------

def _span(i, name, start, end, parent):
    return spans.Span(i, name, start, end, parent, 0)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, "bench.op", 0.0, 10.0, None),
        _span(1, "binning.a", 1.0, 4.0, 0),
        _span(2, "binning.b", 3.0, 6.0, 0),  # overlaps its sibling
        _span(3, "io.save", 8.0, 12.0, 0),  # runs past its parent
        _span(4, "suite.q", 2.0, 3.0, 1),
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    by_layer = spans.layer_self_times(tree)
    assert by_layer == pytest.approx({"bench": 3.0, "binning": 5.0, "io": 4.0, "suite": 1.0})


def test_covered_merges_touching_and_nested_intervals():
    assert spans.covered([(0, 2), (2, 3), (1, 1.5), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert spans.covered([(0, 2)], 1, 10) == pytest.approx(1.0)
    assert spans.covered([], 0, 1) == 0.0


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(False)
    with t.span("binning.x") as s:
        assert s is None
    assert t.spans == []


@pytest.mark.parametrize("text,value", [
    ("1,234,555", 1234555.0),
    ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n216.0 MiB (20.0 MiB, 20.0 MiB, 24.0 MiB (stage 22.0: task 77))",
     216.0 * 2**20),
    ("total (min, med, max (stageId: taskId))\n781 ms (37 ms, 74 ms, 174 ms (stage 22.0: task 76))", 0.781),
    ("total (min, med, max (stageId: taskId))\n1.5 m (1 s, 2 s, 3 s (stage 1.0: task 2))", 90.0),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


# -- the benchmark description -------------------------------------------------

def test_benchmark_json_lists_every_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
