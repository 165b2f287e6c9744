"""Tests for the benchmark's pure helpers; no Spark needed.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import _format_subcat, cid_catalog, generate  # noqa: E402
from spans import Span, Tracer, covered, innermost, self_times  # noqa: E402
from stats import geomean, percentile, valid_metric_name  # noqa: E402


# -- percentile rule -------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(19)), 50) is None  # 9 beyond rank 10
    assert percentile([float(x) for x in range(20)], 50) == 9.0  # 10 beyond
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(1000)), 99) == 989


def test_percentile_is_order_free_nearest_rank():
    values = [5.0, 1.0, 3.0] * 10
    assert percentile(values, 50) == 3.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0] * 30, 100)


# -- geomean --------------------------------------------------------------


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    assert geomean([1e-3, 1e3]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


# -- span self time --------------------------------------------------------


def _span(i, parent, a, b):
    return Span(i, i, parent, a, b)


def test_self_time_subtracts_children():
    spans = [_span("r", None, 0, 10), _span("a", "r", 1, 3), _span("b", "r", 5, 9)]
    st = self_times(spans)
    assert st == {"r": pytest.approx(4.0), "a": 2.0, "b": 4.0}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span("r", None, 0, 10),
        _span("a", "r", 1, 6),
        _span("b", "r", 4, 8),  # overlaps a on [4, 6]
        _span("c", "r", 7, 12),  # runs past the parent's end
    ]
    st = self_times(spans)
    assert st["r"] == pytest.approx(1.0)  # only [0, 1] is uncovered
    assert all(st[s.id] <= 10 for s in spans[1:3])
    assert min(st.values()) >= 0


def test_covered_union():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2)], 1, 10) == 1
    assert covered([], 0, 1) == 0


def test_tracer_nests_and_innermost():
    t = iter(float(x) for x in range(100))
    tr = Tracer(clock=lambda: next(t))
    with tr.span("run"):
        with tr.span("query:x"):
            with tr.span("build"):
                pass
    run, q, b = tr.spans
    assert (q.parent, b.parent) == (run.id, q.id)
    assert innermost(tr.spans, b.start) is b
    assert innermost(tr.spans, q.start) is q
    st = self_times(tr.spans)
    assert st[b.id] <= q.duration and st[q.id] <= run.duration


# -- metric names ----------------------------------------------------------


@pytest.mark.parametrize("name", ["wall_s", "spark.gc_s", "1.x-y", "a" * 64])
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "wäll", "a" * 65])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)


# -- generator -------------------------------------------------------------


def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic(tmp_path):
    a = generate(str(tmp_path / "a"), seed=3)
    b = generate(str(tmp_path / "b"), seed=3)
    c = generate(str(tmp_path / "c"), seed=4)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert a == b
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a["inputs"]["lineitem"]["rows"] == 60_000
    for name, meta in a["inputs"].items():
        rel = name if "." in name else f"{name}.parquet"
        assert os.path.getsize(tmp_path / "a" / rel) == meta["bytes"]


def test_catalog_plants_the_traps():
    cat = cid_catalog(5)
    subs = [r[0] for r in cat["official"]["CID-10-SUBCATEGORIAS"][1]]
    assert any(len(s) == 4 and s[3] == " " for s in subs)  # blank 4th char
    assert any(len(s) == 3 for s in subs)  # 3-char code
    assert any(s != s.strip() or s != s.upper() for s in subs)  # mixed case / spaces
    ds = [r[0] for r in cat["combined"]["datasus"][1]]
    assert any("." in d for d in ds) and any("." not in d for d in ds)
    truth = cat["truth"]["combined"]
    assert truth["both_sources"] and truth["missing_hierarchy"] > 0
    assert cat["truth"]["official"]["missing_hierarchy"] > 0


def test_format_subcat_matches_reference_rule():
    assert _format_subcat("A099") == "A09.9"
    assert _format_subcat(" a099 ") == "A09.9"
    assert _format_subcat("C02 ") == "C02"
    assert _format_subcat("C02") == "C02"


def test_benchmark_json_names_are_valid():
    from run import load_spec

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    spec = load_spec(root)
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s", "wall_s"}
