"""Independent output checks: numpy on pyarrow-read parquet and the
generator's ground truth. Nothing here imports the package under test;
each check returns ``(ok, detail)``. Query results are compared by
``tests/oracle_check.py``'s rule, imported where they are checked.

Dense GLM objective, as the estimators define it (dask-glm's contract):
the logistic negative log-likelihood summed over rows, plus
``lamduh * penalty(beta_s)``, where ``beta_s`` lives in the standardized
space of the ``@normalize`` wrapper: population std, the intercept column
(appended last) kept as is, and no centring when no column is constant.
"""

from __future__ import annotations

import numpy as np

# Relative objective gap to the numpy optimum that a fit must reach. The
# sf0.1 first-order fits stop at 1e-7..3e-6 (gradient descent worst); ADMM
# after its 10-round cap is at ~1e-10.
GAP_TOL = 2e-5
# Second-order (newton) coefficients, relative to the optimum.
COEF_RTOL = 1e-4
# Unpenalized fits on generated data: every coefficient within this many
# standard errors of the generator's TRUE_BETA.
TRUTH_Z = 6.0
# score()/get_auc() against numpy on the collected scores, and scored
# probabilities against numpy's sigmoid(x . beta).
METRIC_ATOL = 1e-9
PROB_ATOL = 1e-9


# ---------------------------------------------------------------- logistic


def _nll(eta: np.ndarray, y: np.ndarray) -> float:
    return float(np.sum(np.logaddexp(0.0, eta) - y * eta))


def _mean_and_weight(eta: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    mu = 1.0 / (1.0 + np.exp(-eta))
    return mu, mu * (1.0 - mu)


def _penalty(reg: str | None, b: np.ndarray) -> float:
    if reg == "l2":
        return 0.5 * float(b @ b)
    if reg == "l1":
        return float(np.abs(b).sum())
    return 0.0


# ------------------------------------------------------------ dense GLMs


class Standardized:
    """The design matrix in the solver's standardized space."""

    def __init__(self, X: np.ndarray, fit_intercept: bool):
        if fit_intercept:
            X = np.column_stack([X, np.ones(len(X))])
        mean, std = X.mean(axis=0), X.std(axis=0)
        const = np.where(std == 0)[0]
        mean[const], std[const] = 0.0, 1.0
        if len(const) == 0:
            mean = np.zeros_like(mean)
        self.X, self.mean, self.std, self.const = X, mean, std, const
        self.Xs = (X - mean) / std

    def to_std(self, beta: np.ndarray) -> np.ndarray:
        """Original-space coefficients -> standardized space."""
        bs = beta * self.std
        bs[self.const] += np.sum(beta * self.mean)
        return bs

    def to_orig(self, bs: np.ndarray) -> np.ndarray:
        out = bs.copy()
        out[self.const] -= np.sum(bs * self.mean / self.std)
        return out / self.std


def objective(Z: Standardized, y, bs, lam: float, reg) -> float:
    return _nll(Z.Xs @ bs, y) + lam * _penalty(reg, bs)


def solve(Z: Standardized, y: np.ndarray, lam: float, reg) -> np.ndarray:
    """The optimum in standardized space: damped Newton for smooth
    objectives, proximal Newton (coordinate descent on the quadratic
    model) for L1. Runs to relative objective changes below 1e-15."""
    Xs = Z.Xs
    p = Xs.shape[1]
    b = np.zeros(p)
    f = objective(Z, y, b, lam, reg)
    ridge = lam if reg == "l2" else 0.0
    for _ in range(200):
        mu, w = _mean_and_weight(Xs @ b)
        g = Xs.T @ (mu - y) + ridge * b
        H = (Xs * w[:, None]).T @ Xs + ridge * np.eye(p)
        if reg == "l1":
            d = _l1_newton_direction(g, H, b, lam)
        else:
            d = -np.linalg.solve(H, g)
        t = 1.0
        while True:
            f_new = objective(Z, y, b + t * d, lam, reg)
            if f_new <= f or t < 1e-12:
                break
            t *= 0.5
        b, f_old, f = b + t * d, f, min(f, f_new)
        if f_old - f <= 1e-15 * abs(f):
            break
    return b


def _l1_newton_direction(g, H, b, lam):
    """argmin_d g.d + d'Hd/2 + lam*|b + d|_1, by cyclic coordinate descent."""
    x = b.copy()
    for _ in range(500):
        x_prev = x.copy()
        for j in range(len(x)):
            # gradient of the quadratic model at x, without coordinate j
            r = g[j] + H[j] @ (x - b) - H[j, j] * (x[j] - b[j])
            z = H[j, j] * b[j] - r
            x[j] = np.sign(z) * max(abs(z) - lam, 0.0) / H[j, j]
        if np.max(np.abs(x - x_prev)) < 1e-15:
            break
    return x - b


class DenseReference:
    """The numpy optimum of one fit configuration, and the check of a fit's
    returned coefficients (original space, intercept last) against it."""

    def __init__(self, X, y, fit_intercept=True, lam=0.0, reg=None,
                 second_order=False, truth=None):
        self.lam, self.reg = lam, reg
        self.second_order, self.truth, self.y = second_order, truth, y
        self.Z = Standardized(X, fit_intercept)
        self.opt_s = solve(self.Z, y, lam, reg)
        self.f_opt = objective(self.Z, y, self.opt_s, lam, reg)
        self.opt = self.Z.to_orig(self.opt_s)

    def gap(self, beta) -> float:
        f = objective(self.Z, self.y, self.Z.to_std(np.asarray(beta, float)),
                      self.lam, self.reg)
        return (f - self.f_opt) / abs(self.f_opt)

    def check(self, beta) -> tuple[bool, str]:
        beta = np.asarray(beta, dtype=np.float64)
        if beta.shape != self.opt.shape or not np.all(np.isfinite(beta)):
            return False, f"bad coefficients {beta!r}"
        gap = self.gap(beta)
        if gap > GAP_TOL:
            return False, f"objective gap {gap:.3g} > {GAP_TOL:g}"
        detail = f"gap {gap:.2g}"
        if self.second_order:
            err = np.max(np.abs(beta - self.opt) / np.maximum(np.abs(self.opt), 1e-3))
            if err > COEF_RTOL:
                return False, f"coefficients off the optimum by {err:.3g} (rel)"
            detail += f", coef err {err:.2g}"
        if self.truth is not None:
            eta = self.Z.X @ beta
            _, w = _mean_and_weight(eta)
            cov = np.linalg.inv((self.Z.X * w[:, None]).T @ self.Z.X)
            z = np.abs(beta - self.truth) / np.sqrt(np.diag(cov))
            if z.max() > TRUTH_Z:
                return False, f"{z.max():.1f} standard errors from the true coefficients"
            detail += f", max |z| vs truth {z.max():.2f}"
        return True, detail


# ------------------------------------------------------- sparse softmax


def softmax_objective(rows: tuple, B: np.ndarray, lam: float):
    """Penalized multinomial NLL and its gradient at B (p, k) over CSR rows
    ``(indptr, indices, values, label_index)``; L2 penalty lam*|B|^2/2."""
    indptr, indices, values, yi = rows
    n = len(yi)
    row_of = np.repeat(np.arange(n), np.diff(indptr))
    Z = np.zeros((n, B.shape[1]))
    np.add.at(Z, row_of, values[:, None] * B[indices])
    zmax = Z.max(axis=1, keepdims=True)
    lse = (zmax + np.log(np.exp(Z - zmax).sum(axis=1, keepdims=True))).ravel()
    f = float(np.sum(lse - Z[np.arange(n), yi])) + lam * 0.5 * float(np.sum(B * B))
    P = np.exp(Z - lse[:, None])
    P[np.arange(n), yi] -= 1.0
    G = np.zeros_like(B)
    np.add.at(G, indices, values[:, None] * P[row_of])
    return f, G + lam * B


def check_softmax(rows, B, lam, converged: bool, tol: float) -> tuple[bool, str]:
    B = np.asarray(B, dtype=np.float64)
    if not np.all(np.isfinite(B)):
        return False, "non-finite coefficients"
    f, G = softmax_objective(rows, B, lam)
    f0, _ = softmax_objective(rows, np.zeros_like(B), lam)
    if not f < f0:
        return False, f"objective {f:.6g} not below its value at zero {f0:.6g}"
    gmax = float(np.abs(G).max())
    if converged and gmax > 10 * tol:
        return False, f"converged fit with gradient max-norm {gmax:.3g}"
    return True, f"objective {f:.6g} < {f0:.6g} at zero, |grad|max {gmax:.3g}"


# ------------------------------------------------------ held-out metrics


def sigmoid(eta):
    return 1.0 / (1.0 + np.exp(-eta))


def roc_auc(y: np.ndarray, s: np.ndarray) -> float:
    """Tie-aware rank-sum AUC (the Mann-Whitney statistic)."""
    order = np.argsort(s, kind="mergesort")
    s_sorted = s[order]
    ranks = np.empty(len(s))
    # average ranks over runs of equal scores
    starts = np.r_[0, np.flatnonzero(np.diff(s_sorted)) + 1]
    ends = np.r_[starts[1:], len(s)]
    for a, b in zip(starts, ends):
        ranks[order[a:b]] = (a + b + 1) / 2.0
    pos = y == 1
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def check_heldout(X, y, beta, intercept, prob, label, acc, auc) -> tuple[bool, str]:
    """Scoring and metrics of a fitted model on the held-out rows: the
    collected probabilities against numpy's sigmoid(x . beta), and the
    reported accuracy and AUC against numpy's from the collected scores."""
    if len(prob) != len(y):
        return False, f"{len(prob)} scored rows, expected {len(y)}"
    # rows come back in any order: compare sorted (prob, label) pairs
    want = np.sort(sigmoid(X @ beta + intercept))
    err = float(np.max(np.abs(np.sort(prob) - want)))
    if err > PROB_ATOL:
        return False, f"probabilities off numpy's by {err:.3g}"
    if int(label.sum()) != int(y.sum()):
        return False, "held-out labels differ from the parquet"
    acc_np = float(np.mean((prob > 0.5) == (label == 1)))
    auc_np = roc_auc(label, prob)
    if abs(acc - acc_np) > METRIC_ATOL or abs(auc - auc_np) > METRIC_ATOL:
        return False, f"accuracy {acc} vs {acc_np}, auc {auc} vs {auc_np}"
    return True, f"acc {acc:.6f} auc {auc:.6f}, prob err {err:.2g}"

