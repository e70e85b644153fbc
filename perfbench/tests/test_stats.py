"""The ratio helper.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from perfbench.stats import ratio


def test_ratio():
    assert ratio(3, 4) == 0.75
    assert ratio(5, 0) == 0.0
