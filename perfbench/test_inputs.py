"""Tests for the numpy label-propagation and PageRank references. Run
from the repository root:

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import numpy as np

from perfbench.inputs import labelprop_reference, pagerank_reference


def test_labelprop_reference_path():
    # path 10 - 20 - 30, with a reversed duplicate of 10-20, a self-loop on
    # 30 and a vertex (40) that has only a self-loop
    src = np.array([10, 20, 20, 30, 40])
    dst = np.array([20, 30, 10, 30, 40])
    # round 1: 10 and 30 see only 20; 20 sees 10 and 30 once each, and the
    # tie goes to the smaller label
    assert labelprop_reference(src, dst, 1).tolist() == [20, 10, 20, 40]
    # round 2: 20 sees label 20 twice
    assert labelprop_reference(src, dst, 2).tolist() == [10, 20, 10, 40]


def test_labelprop_reference_majority():
    # 1 is joined to 2, 3 and 4; 3 and 4 are joined to 5 as well. After
    # round 1, 3 and 4 both carry label 1, and 2 carries 1 too
    src = np.array([1, 1, 1, 3, 4])
    dst = np.array([2, 3, 4, 5, 5])
    first = labelprop_reference(src, dst, 1)
    assert first.tolist() == [2, 1, 1, 1, 3]
    # round 2: 1 sees {1, 1, 1}; 5 sees {1, 1}
    assert labelprop_reference(src, dst, 2).tolist() == [1, 2, 2, 2, 1]


def test_pagerank_reference_chain():
    # chain 10 -> 20 -> 30; 30 is dangling, so its rank is spread evenly.
    # One iteration from 1/3 each: 0.05 teleport + 0.85 * (1/3) / 3 from
    # the dangling vertex, plus 0.85 * 1/3 along each edge
    ids, rank = pagerank_reference(np.array([20, 10]), np.array([30, 20]), 1)
    assert ids.tolist() == [10, 20, 30]
    base = 0.05 + 0.85 / 9
    assert np.allclose(rank, [base, base + 0.85 / 3, base + 0.85 / 3], rtol=1e-12, atol=0.0)
    assert abs(rank.sum() - 1.0) < 1e-12
