"""Driver-side scalar numerics: digamma/trigamma and the Gamma-shape MLE.

No scipy in this environment — digamma/trigamma use the standard asymptotic
expansions with upward recurrence (Abramowitz & Stegun 6.3.18 / 6.4.12).
Accuracy ~1e-12 for x > 0, ample for the Newton solve.

``gamma_shape_newton`` is the sufficient-statistics Gamma shape MLE of the
reference (Choi–Wette estimator solved by Newton, ``alpha_formula_summary``
internals.R:72-86): it consumes ONLY three aggregates per variable
(n_positive, Σγ⁺, Σ log γ⁺), which is what makes the fit distributable — the
aggregates are one Spark `agg` pass, the solve is a few scalar iterations here.
"""

from __future__ import annotations

import math


def digamma(x: float) -> float:
    if x <= 0 and x == math.floor(x):
        return math.nan
    result = 0.0
    # Reflection for negative arguments.
    if x < 0:
        result -= math.pi / math.tan(math.pi * x)
        x = 1.0 - x
    # Upward recurrence until asymptotic range.
    while x < 12.0:
        result -= 1.0 / x
        x += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    result += (
        math.log(x)
        - 0.5 * inv
        - inv2 * (1.0 / 12.0 - inv2 * (1.0 / 120.0 - inv2 * (1.0 / 252.0 - inv2 / 240.0)))
    )
    return result


def trigamma(x: float) -> float:
    if x <= 0 and x == math.floor(x):
        return math.nan
    result = 0.0
    if x < 0:
        s = math.pi / math.sin(math.pi * x)
        result = -s * s  # reflection: trigamma(x) + trigamma(1-x) = pi^2/sin^2(pi x)
        x = 1.0 - x
        sign = -1.0
    else:
        sign = 1.0
    acc = 0.0
    while x < 12.0:
        acc += 1.0 / (x * x)
        x += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    tail = inv * (1.0 + 0.5 * inv + inv2 * (1.0 / 6.0 - inv2 * (1.0 / 30.0 - inv2 * (1.0 / 42.0 - inv2 / 30.0))))
    val = acc + tail
    if sign < 0:
        return -result - val
    return result + val


def gamma_shape_newton(
    n_positive: float,
    positive_sum: float,
    log_positive_sum: float,
    x0: float = 1.0,
    tol: float = 1e-10,
    max_iter: int = 100,
) -> float:
    """Solve Σ_{γ>0}[log γ − log mean(γ⁺) − digamma(α) + log α] = 0 for α.

    Damped Newton from x0=1 (the reference calls nleqslv with x=1,
    method="Newton", ``alpha_formula`` internals.R:61-69). Requires at least
    two positive observations (guard mirrors internals.R:74-76).
    """
    if n_positive < 2:
        raise ValueError(
            "The nonmatch sample should contain at least two positive continuous "
            "comparisons for each continuous parametric variable."
        )
    n = float(n_positive)
    mean_pos = positive_sum / n
    const = log_positive_sum - n * math.log(mean_pos)

    def f(a: float) -> float:
        return const - n * digamma(a) + n * math.log(a)

    def fprime(a: float) -> float:
        return n * (1.0 / a - trigamma(a))

    a = x0
    for _ in range(max_iter):
        fa = f(a)
        if abs(fa) < tol:
            return a
        fp = fprime(a)
        if fp == 0 or not math.isfinite(fp):
            break
        step = fa / fp
        new_a = a - step
        # Keep alpha positive: damp the step instead of jumping negative.
        damp = 0
        while new_a <= 0 and damp < 60:
            step *= 0.5
            new_a = a - step
            damp += 1
        if abs(new_a - a) < tol * max(1.0, abs(a)):
            return new_a
        a = new_a
    return a
