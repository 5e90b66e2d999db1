"""trace.overhead_s pairs each traced pass with the untraced pass on
the same inputs, op by op."""

import pytest

from spbench.layers import overhead_by_op
from spbench.workloads import OpResult, UnitResult


def _unit(index, times):
    u = UnitResult(index, 100)
    for name, sec in times:
        u.ops.append(OpResult(name, sec, 0.0, 1, True, True, None))
    return u


def test_overhead_is_the_median_per_op_difference_on_the_same_passes():
    untraced = [_unit(0, [("a", 1.0), ("b", 0.5), ("b", 0.5)]),
                _unit(1, [("a", 3.0), ("b", 0.5), ("b", 0.5)]),
                _unit(2, [("a", 2.0), ("b", 0.5), ("b", 0.5)])]
    traced = [_unit(0, [("a", 1.1), ("b", 0.6), ("b", 0.5)]),
              _unit(1, [("a", 3.3), ("b", 0.5), ("b", 0.6)]),
              _unit(2, [("a", 2.2), ("b", 0.6), ("b", 0.6)])]
    out = overhead_by_op(untraced, traced)
    assert out["a"] == pytest.approx(0.2)
    assert out["b"] == pytest.approx(0.1)


def test_overhead_refuses_passes_on_different_inputs():
    with pytest.raises(ValueError):
        overhead_by_op([_unit(0, [("a", 1.0)])], [_unit(1, [("a", 1.0)])])
