"""Property-based checks for the wave-7 math contracts — pure Python
(no Spark session), so hypothesis can hammer them with thousands of
random cases:

- the CUSUM prefix-min closed form equals the textbook recursion for
  ANY integer series (the identity the window formulation rests on);
- the sorted-midpoint median formula equals the interpolating median
  for any odd/even int list;
- the EWMA weight ladder 2^(8-rn) halves exactly and sums to 2^n - 1;
- the Poisson(1) integer cutoffs are strictly increasing and their
  implied pmf matches e^-1/k! to float precision.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from planning_center_data_pipeline_spark.plans.statistics import _POIS_CUTS


@settings(max_examples=500, deadline=None)
@given(st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=200))
def test_cusum_closed_form_identity(devs):
    # recursion: S_t = max(0, S_{t-1} + d_t)
    s, rec = 0, []
    for d in devs:
        s = max(0, s + d)
        rec.append(s)
    # closed form: S_t = P_t - min(0, running_min(P))
    p, runmin, closed = 0, 0, []
    for d in devs:
        p += d
        runmin = min(runmin, p)
        closed.append(p - min(0, runmin))
    assert closed == rec


@settings(max_examples=500, deadline=None)
@given(st.lists(st.integers(-10**12, 10**12), min_size=1, max_size=51))
def test_midpoint_median_formula(xs):
    s = sorted(xs)
    n = len(s)
    med = (s[(n - 1) // 2] + s[n // 2]) / 2
    import statistics

    assert med == statistics.median(s)


def test_ewma_weight_ladder():
    weights = [1 << (8 - rn) for rn in range(1, 9)]
    assert weights[0] == 128 and weights[-1] == 1
    assert all(a == 2 * b for a, b in zip(weights, weights[1:]))
    assert sum(weights) == (1 << 8) - 1  # geometric sum 128+...+1


def test_poisson_cutoffs_match_cdf():
    assert list(_POIS_CUTS) == sorted(set(_POIS_CUTS))
    cdf = 0.0
    for k, cut in enumerate(_POIS_CUTS):
        cdf += math.exp(-1) / math.factorial(k)
        assert cut == math.floor(cdf * (1 << 60))
    # the draw k = #cutoffs <= u can reach at most len(_POIS_CUTS)
    assert len(_POIS_CUTS) == 5
