"""Span self time, percentile helpers and seeded inputs."""

from __future__ import annotations

import types

import pytest

from perfbench import inputs
from perfbench.tracing import (
    Tracer, covered, median, quartile_spread, self_time, slope, tail,
)


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_covered_is_the_clipped_union():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)


def test_self_time_subtracts_overlapping_children_once():
    spans = [_span("run", 0.0, 10.0), _span("a", 1.0, 4.0, 0),
             _span("b", 3.0, 6.0, 0), _span("c", 2.0, 3.0, 1)]
    assert self_time(spans, 0) == pytest.approx(5.0)   # children cover 1..6
    assert self_time(spans, 1) == pytest.approx(2.0)   # grandchild is not its child's
    assert self_time(spans, 2) == pytest.approx(3.0)


def test_tracer_records_parents_and_outermost_wrapped_calls():
    t = Tracer(True)
    mod = types.SimpleNamespace()

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    t.wrap(mod, "inner", "layer")
    t.wrap(mod, "outer", "layer")
    with t.span("top"):
        assert mod.outer(1) == 4
        assert mod.inner(1) == 2
    names = [(s["name"], s["parent"]) for s in t.spans]
    # the nested layer call inside outer() is not a second span
    assert names == [("top", None), ("layer", 0), ("layer", 0)]
    assert all(s["end"] >= s["start"] for s in t.spans)
    assert t.total("layer") <= t.total("top")


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_median_and_tail():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])
    assert tail(list(range(10))) is None
    # 11 samples: only the lowest has 10 above it
    assert tail(list(range(11))) == (pytest.approx(100 / 11), 0)
    p, v = tail(list(range(100)))
    assert (p, v) == (90.0, 89)
    assert sum(1 for x in range(100) if x > v) == 10


def test_slope_and_spread():
    assert slope([]) == 0 and slope([5]) == 0
    assert slope([1, 3, 5, 7]) == pytest.approx(2)
    assert quartile_spread([10, 10, 10, 10]) == 0
    assert quartile_spread([8, 9, 10, 11, 12]) == pytest.approx(
        (11.5 - 8.5) / 10)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.sf_dir(str(tmp_path / "a"), seed=3, scale=1000)
    b = inputs.sf_dir(str(tmp_path / "b"), seed=3, scale=1000)
    c = inputs.sf_dir(str(tmp_path / "c"), seed=4, scale=1000)
    for name in inputs.SF_ROWS:
        fa = (tmp_path / a / f"{name}.parquet").read_bytes()
        assert fa == (tmp_path / b / f"{name}.parquet").read_bytes()
    assert (tmp_path / a / "documents.parquet").read_bytes() != \
        (tmp_path / c / "documents.parquet").read_bytes()
    assert inputs.search_queries(5, 8) == inputs.search_queries(5, 8)
    assert inputs.search_queries(5, 8) != inputs.search_queries(6, 8)


def test_every_document_table_has_same_source_near_duplicates():
    import numpy as np

    for n in (100, 5000):
        t = inputs._documents(np.random.default_rng([1, n]), n).to_pydict()
        pairs = [(i, j) for i, text in enumerate(t["text"]) if text.endswith(" dup")
                 for j in range(i) if t["text"][j] + " dup" == text]
        assert pairs, n
        assert all(t["source"][i] == t["source"][j] for i, j in pairs)


def test_stream_batches_must_end_on_a_snapshot(tmp_path):
    with pytest.raises(ValueError):
        inputs.stream_shards(str(tmp_path), seed=1, shard_pages=2,
                             n_batches=inputs.KG_EVERY + 1)
