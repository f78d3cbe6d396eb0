"""Output checks: stored expected outputs, earlier runs, repeats."""

from __future__ import annotations

import json

import pytest

from perfbench import harness


@pytest.fixture
def work(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "WORK", str(tmp_path / "work"))
    expected = tmp_path / "expected.json"
    expected.write_text("{}")
    monkeypatch.setattr(harness, "EXPECTED", str(expected))
    return expected


def _bench(seed=harness.DEFAULT_SEED, inputs=("w-v1-s42-n3",)):
    b = harness.Bench("w", seed, 1, False, 1, 0.0)
    b.inputs = list(inputs)
    return b


def test_record_then_match_then_mismatch(work):
    b = _bench()
    b.check("op:1", [1, 2])
    assert b.verify(record=True) == []
    stored = json.loads(work.read_text())["w"]
    assert stored == {"inputs": ["w-v1-s42-n3"], "outputs": {"op:1": [1, 2]}}

    b = _bench()
    b.check("op:1", (1, 2))  # compared in stored (JSON) form
    b.check("op:2", "new")   # not stored yet: nothing to compare
    assert b.verify() == []

    b = _bench()
    b.check("op:1", [1, 3])
    assert b.verify() == ["op:1"]


def test_other_seeds_are_checked_against_earlier_runs(work):
    b = _bench(seed=7, inputs=("w-v1-s7-n3",))
    b.check("op", 5)
    assert b.verify() == []
    b = _bench(seed=7, inputs=("w-v1-s7-n3",))
    b.check("op", 6)
    assert b.verify() == ["op"]
    # other inputs: no earlier run to compare with
    b = _bench(seed=7, inputs=("w-v1-s7-n4",))
    b.check("op", 6)
    assert b.verify() == []


def test_repeated_operation_must_repeat_its_output(work):
    b = _bench(seed=9, inputs=("w-v1-s9-n3",))
    b.check("q", 1)
    b.check("q", 1)
    b.check("r", 1)
    b.check("r", 2)
    assert b.attempted == 4
    assert b.verify() == ["r"]


def test_stored_outputs_for_other_inputs_must_be_rerecorded(work):
    b = _bench()
    b.check("op", 1)
    b.verify(record=True)
    b = _bench(inputs=("w-v1-s42-n4",))
    b.check("op", 1)
    with pytest.raises(RuntimeError, match="re-record"):
        b.verify()
    assert b.verify(record=True) == []


def test_output_wrong_on_its_face_fails(work):
    b = _bench(seed=9, inputs=("w-v1-s9-n3",))
    b.check("empty", [0, None, None], ok=False)
    b.check("full", [3, 1, 2])
    assert b.attempted == 2
    assert b.verify() == ["empty"]


def test_times_are_scaled_by_the_control_bursts():
    b = _bench()
    b.calib = [harness.CALIB_REF_S * f for f in (2.0, 1.0, 3.0, 2.0)]
    assert b.slowdown() == pytest.approx(2.0)
    times = harness.calib_bursts(2, 3, iters=1000)
    assert len(times) == 3 and min(times) > 0


def test_row_digest_ignores_order_and_sees_content():
    from perfbench.workloads import _rows_digest

    rows = [("u1", 0, "a"), ("u1", 1, "b"), ("u2", 0, "c")]
    d = _rows_digest(rows)
    assert d[0] == 3
    assert _rows_digest(reversed(rows)) == d
    assert _rows_digest(rows[:2] + [("u2", 0, "C")]) != d
    assert _rows_digest([]) == [0, "0" * 16]
