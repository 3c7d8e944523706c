"""Special functions needed by the scoring kernels — pure numpy/stdlib.

The reference relies on scipy for the Student-t inverse CDF used in the
generalized-ESD critical values (_anomaly_kernel_cython.pyx:56-62) and for
``Gaussian.ppf(0.75)`` (the MAD consistency constant, .pyx:7).  Neither scipy
nor statsmodels is available here, so the incomplete beta function and its
inverse are implemented from the standard continued-fraction expansion
(Lentz's algorithm), and the normal inverse CDF from Acklam's rational
approximation — public textbook numerics, double precision.
"""

from __future__ import annotations

import math

# Gaussian.ppf(3/4), the MAD-to-sigma consistency constant used by the
# reference's Cython kernels (.pyx:7) and statsmodels.robust.mad.
NORM_PPF_3_4 = 0.6744897501960817


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta function (modified Lentz)."""
    MAXIT, EPS, FPMIN = 200, 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
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


def betaincinv(a: float, b: float, p: float) -> float:
    """Inverse of ``betainc`` via bisection + Newton polish."""
    if p <= 0.0:
        return 0.0
    if p >= 1.0:
        return 1.0
    lo, hi = 0.0, 1.0
    x = 0.5
    for _ in range(200):
        fx = betainc(a, b, x) - p
        if fx > 0:
            hi = x
        else:
            lo = x
        # Newton step using the beta pdf as derivative
        try:
            ln_pdf = (
                math.lgamma(a + b)
                - math.lgamma(a)
                - math.lgamma(b)
                + (a - 1.0) * math.log(x)
                + (b - 1.0) * math.log1p(-x)
            )
            step = fx / math.exp(ln_pdf)
            x_new = x - step
        except (ValueError, ZeroDivisionError, OverflowError):
            x_new = (lo + hi) / 2.0
        if not (lo < x_new < hi):
            x_new = (lo + hi) / 2.0
        if abs(x_new - x) < 1e-15:
            return x_new
        x = x_new
    return x


def norm_ppf(p: float) -> float:
    """Standard normal inverse CDF (Acklam's rational approximation +
    one Halley refinement with erfc — double precision)."""
    if p <= 0.0:
        return -math.inf
    if p >= 1.0:
        return math.inf
    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        x = (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    elif p <= phigh:
        q = p - 0.5
        r = q * q
        x = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
            ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
        )
    else:
        q = math.sqrt(-2 * math.log1p(-p))
        x = -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    # Halley refinement
    e = 0.5 * math.erfc(-x / math.sqrt(2)) - p
    u = e * math.sqrt(2 * math.pi) * math.exp(x * x / 2)
    return x - u / (1 + x * u / 2)


def student_t_cdf(t: float, df: float) -> float:
    if t == 0.0:
        return 0.5
    z = df / (df + t * t)
    tail = 0.5 * betainc(df / 2.0, 0.5, z)
    return 1.0 - tail if t > 0 else tail


def student_t_ppf(p: float, df: float) -> float:
    """Student-t inverse CDF — Hill's asymptotic seed + Newton on the CDF.

    Converges in a handful of betainc evaluations for any df (the
    beta-inverse bisection route stalls at large df), double precision.
    """
    if df <= 0:
        return math.nan
    if p == 0.5:
        return 0.0
    sign = 1.0
    if p < 0.5:
        sign, p = -1.0, 1.0 - p
    # Hill (1970) expansion around the normal quantile
    x = norm_ppf(p)
    g1 = (x**3 + x) / 4.0
    g2 = (5 * x**5 + 16 * x**3 + 3 * x) / 96.0
    g3 = (3 * x**7 + 19 * x**5 + 17 * x**3 - 15 * x) / 384.0
    t = x + g1 / df + g2 / df**2 + g3 / df**3
    if df < 3:
        # heavy tails: crude but safe seed, Newton finishes the job
        z = betaincinv(df / 2.0, 0.5, 2.0 * (1.0 - p))
        if z <= 0.0:
            return sign * math.inf
        t = math.sqrt(df * (1.0 - z) / z)
    ln_norm = (
        math.lgamma((df + 1.0) / 2.0)
        - math.lgamma(df / 2.0)
        - 0.5 * math.log(df * math.pi)
    )
    for _ in range(60):
        f = student_t_cdf(t, df) - p
        ln_pdf = ln_norm - (df + 1.0) / 2.0 * math.log1p(t * t / df)
        pdf = math.exp(ln_pdf)
        if pdf <= 0.0:
            break
        step = f / pdf
        t_new = t - step
        if abs(step) < 1e-14 * max(1.0, abs(t)):
            t = t_new
            break
        t = t_new
    return sign * t


def calculate_esd_value(i: int, alpha: float, n: int, one_tail: bool = True) -> float:
    """Generalized-ESD critical value λ_i — numpy port of .pyx:56-62."""
    if one_tail:
        p = 1.0 - alpha / float(n - i + 1)
    else:
        p = 1.0 - alpha / float(2 * (n - i + 1))
    t = student_t_ppf(p, n - i - 1)
    return t * (n - i) / math.sqrt((n - i - 1 + t * t) * (n - i + 1))
