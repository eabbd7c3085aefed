"""The benchmark's checks must pass the right answer and flag a perturbed
one. Run: python3 -m pytest perfbench/test_checks.py -q"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import workloads  # noqa: E402
from tests.oracle_check import compare  # noqa: E402

# planted coefficients of the test fixture (intercept last)
BETA = np.array([0.02, -0.05, 0.1, -0.1, -1.0])


@pytest.fixture(scope="module")
def glm_data():
    rng = np.random.default_rng(3)
    n = 20_000
    X = np.column_stack([
        np.round(rng.uniform(1, 50, n)), rng.uniform(0.09, 10, n),
        np.round(rng.uniform(0, 1, n), 1), np.round(rng.uniform(0, 0.8, n), 1),
    ])
    eta = X @ BETA[:4] + BETA[4]
    y = (rng.random(n) < checks.sigmoid(eta)).astype(float)
    return X, y


@pytest.mark.parametrize("kw", [
    dict(),
    dict(fit_intercept=False, lam=1.0, reg="l2"),
    dict(lam=30.0, reg="l1"),
])
def test_dense_optimum_passes_and_perturbed_fails(glm_data, kw):
    X, y = glm_data
    ref = checks.DenseReference(X, y, **kw)
    ok, detail = ref.check(ref.opt)
    assert ok, detail
    bad = ref.opt * 1.1
    ok, detail = ref.check(bad)
    assert not ok and "gap" in detail


def test_second_order_flags_small_coefficient_error(glm_data):
    X, y = glm_data
    ref = checks.DenseReference(X, y, second_order=True)
    near = ref.opt * (1 + 1e-3)
    assert ref.gap(near) < checks.GAP_TOL  # the objective alone would pass it
    ok, detail = ref.check(near)
    assert not ok and "optimum" in detail


def test_truth_check_flags_coefficients_far_from_the_generator(glm_data):
    X, y = glm_data
    ref = checks.DenseReference(X, y, truth=BETA)
    assert ref.check(ref.opt)[0]
    wrong = checks.DenseReference(X, y, truth=BETA + 0.5)
    ok, detail = wrong.check(wrong.opt)
    assert not ok and "standard errors" in detail


def test_l1_solution_satisfies_optimality(glm_data):
    X, y = glm_data
    lam = 30.0
    ref = checks.DenseReference(X, y, lam=lam, reg="l1")
    Z = ref.Z
    g = Z.Xs.T @ (checks.sigmoid(Z.Xs @ ref.opt_s) - y)
    nz = ref.opt_s != 0
    assert np.allclose(g[nz], -lam * np.sign(ref.opt_s[nz]), atol=1e-6)
    assert np.all(np.abs(g[~nz]) <= lam + 1e-6)


def test_featurize_matches_the_polynomial_hash():
    classes, (indptr, idx, val, yi) = workloads.featurize_docs(
        ["The the  cat", "", "dog"], ["en", "en", "de"])
    assert classes == ["de", "en"]
    assert list(indptr) == [0, 2, 3]  # the empty doc is dropped
    h = 0
    for ch in "the":
        h = (h * 31 + ord(ch)) % 1_000_000_007
    row0 = dict(zip(idx[:2], val[:2]))
    assert row0[h % workloads.TEXT_FEATURES] == 2.0
    assert list(yi) == [1, 0]


def _softmax_rows(rng, n=400, p=50, k=3):
    nnz = 5
    indices = np.concatenate([np.sort(rng.choice(p, nnz, replace=False)) for _ in range(n)])
    values = rng.integers(1, 4, n * nnz).astype(float)
    indptr = np.arange(0, n * nnz + 1, nnz)
    yi = rng.integers(0, k, n)
    return (indptr, indices, values, yi), p, k


def test_softmax_gradient_matches_finite_differences():
    rows, p, k = _softmax_rows(np.random.default_rng(0))
    B = np.random.default_rng(1).normal(size=(p, k)) * 0.1
    f, G = checks.softmax_objective(rows, B, 1e-3)
    E = np.zeros_like(B)
    E[7, 1] = 1e-6
    fd = (checks.softmax_objective(rows, B + E, 1e-3)[0] - f) / 1e-6
    assert abs(fd - G[7, 1]) < 1e-3


def test_softmax_check_flags_no_progress_and_unconverged_gradient():
    rows, p, k = _softmax_rows(np.random.default_rng(0))
    B = np.zeros((p, k))
    for _ in range(50):
        B -= 1e-3 * checks.softmax_objective(rows, B, 1e-3)[1]
    assert checks.check_softmax(rows, B, 1e-3, converged=False, tol=1e-4)[0]
    assert not checks.check_softmax(rows, np.zeros((p, k)), 1e-3, False, 1e-4)[0]
    ok, detail = checks.check_softmax(rows, B, 1e-3, converged=True, tol=1e-4)
    assert not ok and "gradient" in detail


def test_heldout_check_flags_perturbed_scores_and_metrics():
    rng = np.random.default_rng(2)
    X = rng.normal(size=(500, 2))
    beta, b0 = np.array([0.5, -1.0]), 0.2
    y = (rng.random(500) < checks.sigmoid(X @ beta + b0)).astype(float)
    prob = checks.sigmoid(X @ beta + b0)
    acc = float(np.mean((prob > 0.5) == (y == 1)))
    auc = checks.roc_auc(y, prob)
    assert checks.check_heldout(X, y, beta, b0, prob, y, acc, auc)[0]
    bad = prob.copy()
    bad[17] += 1e-6
    assert not checks.check_heldout(X, y, beta, b0, bad, y, acc, auc)[0]
    assert not checks.check_heldout(X, y, beta, b0, prob, y, acc, auc + 1e-6)[0]
    assert not checks.check_heldout(X, y, beta, b0, prob[1:], y[1:], acc, auc)[0]


def test_roc_auc_handles_ties():
    y = np.array([0, 1, 0, 1])
    s = np.array([0.1, 0.5, 0.5, 0.9])
    assert checks.roc_auc(y, s) == pytest.approx(0.875)


def test_oracle_rule_flags_a_perturbed_row():
    want = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.0, 2.5, np.nan], "n": [1, 2, 3]})
    got = want.sample(frac=1.0, random_state=0)  # row order does not matter
    assert compare("q", got, want) == []
    for col, val in (("v", 2.501), ("k", "z"), ("n", 9)):
        bad = want.copy()
        bad.loc[1, col] = val
        assert compare("q", bad, want), col
    assert compare("q", want.iloc[:2], want)
    assert compare("q", want.rename(columns={"n": "m"}), want)
