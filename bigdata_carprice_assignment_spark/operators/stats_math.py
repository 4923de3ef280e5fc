"""Driver-side p-value math for the statistical-test operators.

scipy is not available in the runtime, so the classical special functions
are implemented here from their standard published formulations
(regularized incomplete beta/gamma via Lentz continued fractions and
series; studentized-range CDF by numerical quadrature of its integral
definition). These run on collected *group statistics* — a handful of
scalars — never on data-sized inputs; the heavy lifting stays in Spark
aggregations (SURVEY.md §2.7).

Accuracy: betainc/gammainc ~1e-12; ptukey ~1e-5 (quadrature), all
unit-tested against published critical-value tables.
"""

from __future__ import annotations

import math

import numpy as np

_EPS = 3e-14
_FPMIN = 1e-300
_MAX_ITER = 300


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < _FPMIN:
        d = _FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, _MAX_ITER + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < _FPMIN:
            d = _FPMIN
        c = 1.0 + aa / c
        if abs(c) < _FPMIN:
            c = _FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < _FPMIN:
            d = _FPMIN
        c = 1.0 + aa / c
        if abs(c) < _FPMIN:
            c = _FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log1p(-x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def gammainc_lower(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x)."""
    if x <= 0.0:
        return 0.0
    if x < a + 1.0:  # series
        ap, total, delta = a, 1.0 / a, 1.0 / a
        for _ in range(_MAX_ITER):
            ap += 1.0
            delta *= x / ap
            total += delta
            if abs(delta) < abs(total) * _EPS:
                break
        return total * math.exp(-x + a * math.log(x) - math.lgamma(a))
    # continued fraction for Q(a, x)
    b = x + 1.0 - a
    c = 1.0 / _FPMIN
    d = 1.0 / b
    h = d
    for i in range(1, _MAX_ITER + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < _FPMIN:
            d = _FPMIN
        c = b + an / c
        if abs(c) < _FPMIN:
            c = _FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    q = math.exp(-x + a * math.log(x) - math.lgamma(a)) * h
    return 1.0 - q


def norm_cdf(z: float) -> float:
    return 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))


def t_test_p_two_sided(t: float, df: float) -> float:
    return betainc(df / 2.0, 0.5, df / (df + t * t))


def f_sf(f: float, df1: float, df2: float) -> float:
    """Survival P(F > f)."""
    if f <= 0:
        return 1.0
    return 1.0 - betainc(df1 / 2.0, df2 / 2.0, df1 * f / (df1 * f + df2))


def chi2_sf(x: float, df: float) -> float:
    return 1.0 - gammainc_lower(df / 2.0, x / 2.0)


def _ptukey_std_normal(q: float, k: int, z: np.ndarray, w: np.ndarray) -> float:
    """P(range of k std normals ≤ q) via k∫φ(z)[Φ(z)−Φ(z−q)]^{k−1}dz."""
    phi = np.exp(-0.5 * z * z) / math.sqrt(2 * math.pi)
    big_phi = 0.5 * (1.0 + np.vectorize(math.erf)(z / math.sqrt(2.0)))
    big_phi_shift = 0.5 * (1.0 + np.vectorize(math.erf)((z - q) / math.sqrt(2.0)))
    inner = np.clip(big_phi - big_phi_shift, 0.0, 1.0)
    return float(k * np.sum(w * phi * inner ** (k - 1)))


def ptukey(q: float, k: int, df: float) -> float:
    """CDF of the studentized range Q(k, df): integrates the standard-
    normal range probability over the scaled-chi distribution of the
    pooled-SD estimate (classical double-integral definition)."""
    if q <= 0:
        return 0.0
    # outer grid over u = s/sigma (chi_df / sqrt(df)); inner grid over z.
    z, wz = np.polynomial.legendre.leggauss(120)
    z = z * 8.0  # map [-1,1] → [-8,8]
    wz = wz * 8.0
    if not math.isfinite(df) or df > 5000:
        return _ptukey_std_normal(q, k, z, wz)
    u, wu = np.polynomial.legendre.leggauss(120)
    # map [-1,1] → (0, u_hi]; chi/sqrt(df) density concentrates near 1
    u_hi = 1.0 + 10.0 / math.sqrt(df)
    u = (u + 1.0) * u_hi / 2.0
    wu = wu * u_hi / 2.0
    half_df = df / 2.0
    ln_c = half_df * math.log(df) - math.lgamma(half_df) - (half_df - 1.0) * math.log(2.0)
    with np.errstate(divide="ignore"):
        log_dens = ln_c + (df - 1.0) * np.log(u) - 0.5 * df * u * u
    dens = np.where(u > 0, np.exp(log_dens), 0.0)
    vals = np.array([_ptukey_std_normal(q * ui, k, z, wz) for ui in u])
    return float(np.clip(np.sum(wu * dens * vals), 0.0, 1.0))


def tukey_p_adj(q: float, k: int, df: float) -> float:
    """Tukey HSD adjusted p-value: P(Q(k, df) > q)."""
    return 1.0 - ptukey(q, k, df)
