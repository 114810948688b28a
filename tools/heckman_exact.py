#!/usr/bin/env python
"""Reference values of the ``ols__heckman`` gate, evaluated at 60 digits.

Re-derives ``operators.selection.heckman`` on the gate's spec
(``__spark_entry__.g_ols_heckman``: sf0.01 ``lineitem``,
``sel = l_orderkey % 3 = 0``, outcome ``l_extendedprice ~ l_quantity``,
selection ``sel ~ l_tax + l_quantity``) in mpmath, with the program's own
formulas:

- the probit Fisher scoring of ``glm._binomial_glm`` with its
  ``EPS = 1e-10`` guards (w = d²/(μ(1−μ)+EPS), d = φ+EPS,
  z = η + (y−μ)/d), iterated until the largest move is under 1e-50;
- the inverse Mills ratio λ = φ/max(Φ, 1e-12) (with the program's
  asymptotic tail below zγ = −6) and δ = λ(λ + zγ);
- the Greene two-step covariance with the ``+1e-10`` in the probit
  Fisher weight w0 = φ²/(Φ(1−Φ) + 1e-10).

Every per-row quantity depends on (l_tax, l_quantity) alone, so rows are
grouped into those cells; the outcome sums Σy and Σy² of each cell are
taken exactly with ``Fraction`` before entering mpmath.  The printed
values are what ``tests/test_selection.py`` holds as literals.

Usage:  python tools/heckman_exact.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import sys
from collections import defaultdict
from fractions import Fraction

import mpmath as mp
import pyarrow.parquet as pq

mp.mp.dps = 60
EPS = mp.mpf(1e-10)


def _cells(sf_dir: str) -> list[tuple]:
    """(tax, qty, n_all, n_sel, Σy, Σy²) per (l_tax, l_quantity) cell;
    y = l_extendedprice over the rows with l_orderkey % 3 = 0."""
    t = pq.read_table(f"{sf_dir}/lineitem.parquet",
                      columns=["l_orderkey", "l_tax", "l_quantity",
                               "l_extendedprice"]).to_pydict()
    acc = defaultdict(lambda: [0, 0, Fraction(0), Fraction(0)])
    for ok, tax, q, y in zip(t["l_orderkey"], t["l_tax"], t["l_quantity"],
                             t["l_extendedprice"]):
        if tax is None or q is None:
            continue
        a = acc[(float(tax), float(q))]
        a[0] += 1
        if ok % 3 == 0 and y is not None:
            fy = Fraction(float(y))
            a[1] += 1
            a[2] += fy
            a[3] += fy * fy
    return [(k[0], k[1], *v) for k, v in sorted(acc.items())]


def _phi(x):
    return mp.exp(-x * x / 2) / mp.sqrt(2 * mp.pi)


def _Phi(x):
    return (1 + mp.erf(x / mp.sqrt(2))) / 2


def _frac(f: Fraction):
    return mp.mpf(f.numerator) / mp.mpf(f.denominator)


def _outer(u, v):
    return mp.matrix([[a * b for b in v] for a in u])


def heckman_exact(sf_dir: str) -> dict:
    cells = _cells(sf_dir)
    zs = [[mp.mpf(1), mp.mpf(tax), mp.mpf(q)] for tax, q, *_ in cells]
    kz = 3

    # step 1: probit Fisher scoring, the program's guarded weights
    gamma = mp.matrix([0] * kz)
    for _ in range(1000):
        A = mp.zeros(kz, kz)
        b = mp.matrix([0] * kz)
        for z, (_, _, n, s, *_) in zip(zs, cells):
            eta = sum(g * v for g, v in zip(gamma, z))
            mu = _Phi(eta)
            d = _phi(eta) + EPS
            w = d * d / (mu * (1 - mu) + EPS)
            zsum = n * eta + (s - n * mu) / d      # Σ over the cell's rows
            A += n * w * _outer(z, z)
            b += mp.matrix([w * zsum * v for v in z])
        new = mp.lu_solve(A, b)
        move = max(abs(new[i] - gamma[i]) for i in range(kz))
        gamma = new
        if move < mp.mpf(10) ** -50:
            break
    else:
        raise SystemExit("probit did not reach 1e-50")

    # step 2 moments over the selected rows, and the probit Fisher
    # information at the final γ over all rows
    p = 3
    WtW, WdW = mp.zeros(p, p), mp.zeros(p, p)
    WdZ, Fz = mp.zeros(p, kz), mp.zeros(kz, kz)
    Wty = mp.matrix([0] * p)
    n1, sd = 0, mp.mpf(0)
    rows = []
    for z, (_, q, n, s, sy, syy) in zip(zs, cells):
        zg = sum(g * v for g, v in zip(gamma, z))
        ph = _phi(zg)
        Ph = max(_Phi(zg), mp.mpf(1e-12))
        Fz += n * (ph * ph / (Ph * (1 - Ph) + mp.mpf(1e-10))) * _outer(z, z)
        if s == 0:
            continue
        if zg < -6:
            lam = -zg / (1 - 1 / zg ** 2 + 3 / zg ** 4)
        else:
            lam = ph / Ph
        dl = lam * (lam + zg)
        w = [mp.mpf(1), mp.mpf(q), lam]
        WtW += s * _outer(w, w)
        Wty += mp.matrix([_frac(sy) * v for v in w])
        WdW += s * dl * _outer(w, w)
        WdZ += s * dl * _outer(w, z)
        n1 += s
        sd += s * dl
        rows.append((w, s, _frac(sy), _frac(syy)))
    beta = mp.lu_solve(WtW, Wty)
    sse = mp.mpf(0)
    for w, s, sy, syy in rows:
        yhat = sum(bi * v for bi, v in zip(beta, w))
        sse += syy - 2 * yhat * sy + s * yhat * yhat
    b_lam = beta[p - 1]
    sigma2 = sse / n1 + b_lam * b_lam * sd / n1
    rho2 = min(b_lam * b_lam / sigma2, mp.mpf(1))
    inv = WtW ** -1
    mid = (WtW - rho2 * WdW) + rho2 * (WdZ * Fz ** -1 * WdZ.T)
    cov = sigma2 * (inv * mid * inv)
    names = ["(Intercept)", "l_quantity", "lambda"]
    return {
        "coef": dict(zip(names, beta)),
        "stderr": {nm: mp.sqrt(cov[i, i]) for i, nm in enumerate(names)},
        "rho": b_lam / mp.sqrt(sigma2), "sigma": mp.sqrt(sigma2),
        "n_selected": n1, "cells": len(cells)}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    r = heckman_exact(sf_dir)
    print(f"{r['cells']} (l_tax, l_quantity) cells, "
          f"n_selected = {r['n_selected']}")
    for nm in r["coef"]:
        print(f"{nm:12s} coef {mp.nstr(r['coef'][nm], 20):>26s}  "
              f"stderr {mp.nstr(r['stderr'][nm], 20):>26s}")
    print(f"rho {mp.nstr(r['rho'], 15)}  sigma {mp.nstr(r['sigma'], 17)}")


if __name__ == "__main__":
    main()
