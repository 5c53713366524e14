"""TRUE linear-chain CRF trainer: L-BFGS/OWL-QN on the exact negative
log-likelihood — the reference's algorithm (sklearn-crfsuite lbfgs,
``Styling/src/lib/extractors/crf.py:136-142``: c1=0.1, c2=0.1,
max_iterations=500) reimplemented from scratch because neither crfsuite
nor scipy ships in this image.

Same parameterization as the perceptron twin (ml/crf.py): emission
weights Wp (pattern one-hot) + Wf (8 binary flags), first-order
transitions T with a dedicated start row — so the fused Arrow pass
(pipeline/extract.py, Viterbi via ChainPerceptron) applies either artifact
unchanged; only the TRAINER differs.

Pieces, all public-textbook algorithms:

* exact NLL + gradient via log-space forward-backward (alpha/beta
  recursions, per-position posteriors gamma, pairwise posteriors xi);
* elastic net exactly as crfsuite: objective = NLL + c1*||w||_1 +
  c2*||w||_2^2 (crfsuite applies both when > 0);
* L-BFGS two-loop recursion (m=10 history) for the search direction;
* OWL-QN orthant handling for the L1 term: pseudo-gradient at zeros,
  direction sign-aligned to the steepest-descent orthant, orthant
  projection inside the backtracking line search.

Training data is the same gold as the perceptron (rule-generated,
separable), so the gate is identical: the trained model must decode
every training document's gold tags exactly, and the pipeline-level
tests require the CRF-labeled triples to equal the rule path's.
"""

from __future__ import annotations

import numpy as np

from .crf import (
    CLASSES,
    N_CLASSES,
    N_FLAGS,
    UNK,
    ChainPerceptron,
    _training_docs,
)

C = N_CLASSES


def _doc_nll_grad(ids, flags, gold, Wp, Wf, T, dWp, dWf, dT) -> float:
    """Accumulate one document's exact NLL and its gradient (expected
    minus empirical feature counts) into dWp/dWf/dT. Returns the NLL.

    Forward-backward runs in the SCALED LINEAR domain (classic HMM
    scaling: per-step normalization, log-scale accumulated separately,
    transitions exponentiated once) — numerically equivalent to the
    log-space recursion but one 12x12 matvec per step instead of a
    logsumexp allocation storm; ~10x faster on the 33k-token skew doc."""
    n = len(ids)
    em = Wp[ids] + flags @ Wf  # (n, C)
    trans, start = T[:C], T[C]

    t_max = float(trans.max())
    expT = np.exp(trans - t_max)
    m = em.max(axis=1)  # (n,) per-step emission scale
    e = np.exp(em - m[:, None])

    ahat = np.empty((n, C))
    s_max = float(start.max())
    a0 = np.exp(start - s_max) * e[0]
    s = float(a0.sum())
    ahat[0] = a0 / s
    logZ = s_max + m[0] + np.log(s)
    for t in range(1, n):
        a = (ahat[t - 1] @ expT) * e[t]
        s = float(a.sum())
        ahat[t] = a / s
        logZ += np.log(s) + m[t] + t_max

    bhat = np.empty((n, C))
    bhat[n - 1] = 1.0 / C
    for t in range(n - 2, -1, -1):
        b = expT @ (e[t + 1] * bhat[t + 1])
        bhat[t] = b / b.sum()

    # per-position posteriors: scales cancel under per-t normalization
    gamma = ahat * bhat
    gamma /= gamma.sum(axis=1, keepdims=True)

    # expected counts
    np.add.at(dWp, ids, gamma)
    dWf += flags.T @ gamma
    if n > 1:
        # pairwise posteriors, vectorized over t; each xi_t sums to 1
        M = (
            ahat[:-1][:, :, None]
            * expT[None, :, :]
            * (e[1:] * bhat[1:])[:, None, :]
        )
        M /= M.sum(axis=(1, 2), keepdims=True)
        dT[:C] += M.sum(axis=0)
    dT[C] += gamma[0]

    # empirical counts
    np.add.at(dWp, (ids, gold), -1.0)
    onehot = np.zeros((n, C))
    onehot[np.arange(n), gold] = 1.0
    dWf -= flags.T @ onehot
    if n > 1:
        np.add.at(dT, (gold[:-1], gold[1:]), -1.0)
    dT[C, gold[0]] -= 1.0

    # gold path score
    score = float(start[gold[0]] + em[np.arange(n), gold].sum())
    if n > 1:
        score += float(trans[gold[:-1], gold[1:]].sum())
    return logZ - score


def _objective(theta: np.ndarray, shapes, docs, c2: float):
    """Smooth part of the objective (NLL + c2*||w||^2) and its gradient."""
    Wp, Wf, T = _unpack(theta, shapes)
    dWp = np.zeros_like(Wp)
    dWf = np.zeros_like(Wf)
    dT = np.zeros_like(T)
    nll = 0.0
    for ids, flags, gold in docs:
        nll += _doc_nll_grad(ids, flags, gold, Wp, Wf, T, dWp, dWf, dT)
    grad = np.concatenate([dWp.ravel(), dWf.ravel(), dT.ravel()])
    if c2 > 0.0:
        nll += c2 * float(theta @ theta)
        grad += 2.0 * c2 * theta
    return nll, grad


def _unpack(theta: np.ndarray, shapes):
    (vs, _), _, _ = shapes
    n_wp = vs * C
    n_wf = N_FLAGS * C
    Wp = theta[:n_wp].reshape(vs, C)
    Wf = theta[n_wp : n_wp + n_wf].reshape(N_FLAGS, C)
    T = theta[n_wp + n_wf :].reshape(C + 1, C)
    return Wp, Wf, T


def _pseudo_gradient(x: np.ndarray, g: np.ndarray, c1: float) -> np.ndarray:
    """OWL-QN pseudo-gradient of f(x) + c1*||x||_1."""
    if c1 == 0.0:
        return g
    pg = g + c1 * np.sign(x)
    zero = x == 0.0
    gz = g[zero]
    pg[zero] = np.where(gz + c1 < 0.0, gz + c1, np.where(gz - c1 > 0.0, gz - c1, 0.0))
    return pg


def owlqn_minimize(
    fun_grad,
    x0: np.ndarray,
    c1: float = 0.0,
    max_iter: int = 500,
    m: int = 10,
    tol: float = 1e-7,
    callback=None,
):
    """Minimize f(x) + c1*||x||_1 where ``fun_grad`` returns (f, grad f).
    Plain L-BFGS when c1 == 0. Returns (x, objective)."""
    x = x0.astype(np.float64).copy()
    f, g = fun_grad(x)
    obj = f + c1 * np.abs(x).sum()
    s_hist: list[np.ndarray] = []
    y_hist: list[np.ndarray] = []

    for it in range(max_iter):
        pg = _pseudo_gradient(x, g, c1)
        if float(np.abs(pg).max(initial=0.0)) < 1e-10:
            break

        # two-loop recursion on the pseudo-gradient
        q = pg.copy()
        alphas = []
        for s, y in zip(reversed(s_hist), reversed(y_hist)):
            rho = 1.0 / float(y @ s)
            a = rho * float(s @ q)
            alphas.append((a, rho))
            q -= a * y
        if s_hist:
            s, y = s_hist[-1], y_hist[-1]
            q *= float(s @ y) / float(y @ y)
        for (a, rho), s, y in zip(reversed(alphas), s_hist, y_hist):
            b = rho * float(y @ q)
            q += (a - b) * s
        d = -q
        if c1 > 0.0:
            # direction must stay in the descent orthant of -pg
            d[d * -pg < 0.0] = 0.0

        # orthant for the projection: sign(x), else sign of steepest descent
        xi = np.sign(x)
        if c1 > 0.0:
            zero = xi == 0.0
            xi[zero] = np.sign(-pg[zero])

        # backtracking line search with orthant projection
        step = 1.0 if s_hist else min(1.0, 1.0 / float(np.abs(pg).sum()))
        dg = float(pg @ d)
        accepted = False
        for _bt in range(40):
            x_new = x + step * d
            if c1 > 0.0:
                x_new[x_new * xi < 0.0] = 0.0
            f_new, g_new = fun_grad(x_new)
            obj_new = f_new + c1 * np.abs(x_new).sum()
            if obj_new <= obj + 1e-4 * step * dg or obj_new < obj:
                accepted = True
                break
            step *= 0.5
        if not accepted:
            break

        s_vec = x_new - x
        y_vec = g_new - g
        if float(s_vec @ y_vec) > 1e-12:
            s_hist.append(s_vec)
            y_hist.append(y_vec)
            if len(s_hist) > m:
                s_hist.pop(0)
                y_hist.pop(0)

        rel = abs(obj - obj_new) / max(1.0, abs(obj))
        x, f, g, obj = x_new, f_new, g_new, obj_new
        if callback is not None and callback(it, x, obj):
            break
        if rel < tol:
            break
    return x, obj


def train_crf(
    n_docs: int = 40,
    seed: int = 42,
    c1: float = 0.1,
    c2: float = 0.1,
    max_iter: int = 500,
) -> dict:
    """Train the true CRF with the reference's hyperparameters. Early
    stop (checked every 10 iterations) once Viterbi reproduces every
    training document's gold tags — the data is rule-generated and
    separable, so the decode-exact point arrives well before the 500
    cap. Returns an artifact dict compatible with ml.crf.load_artifact."""
    docs_raw = _training_docs(n_docs, seed)
    vocab: dict[str, int] = {"<unk>": UNK}
    for pats, _f, _g in docs_raw:
        for p in pats:
            if p not in vocab:
                vocab[p] = len(vocab)
    docs = [
        (
            np.fromiter((vocab[p] for p in pats), dtype=np.int64, count=len(pats)),
            f,
            g.astype(np.int64),
        )
        for pats, f, g in docs_raw
    ]
    vs = len(vocab)
    shapes = ((vs, C), (N_FLAGS, C), (C + 1, C))
    theta0 = np.zeros(vs * C + N_FLAGS * C + (C + 1) * C)

    model = ChainPerceptron(vocab)

    def decode_errors(theta) -> int:
        model.Wp, model.Wf, model.T = _unpack(theta, shapes)
        return sum(
            0 if np.array_equal(model.viterbi(ids, flags), gold) else 1
            for ids, flags, gold in docs
        )

    state = {"iters": 0}

    def cb(it, x, obj):
        state["iters"] = it + 1
        return (it + 1) % 10 == 0 and decode_errors(x) == 0

    theta, obj = owlqn_minimize(
        lambda th: _objective(th, shapes, docs, c2),
        theta0,
        c1=c1,
        max_iter=max_iter,
        callback=cb,
    )
    Wp, Wf, T = _unpack(theta, shapes)
    model.Wp, model.Wf, model.T = Wp, Wf, T
    errors = decode_errors(theta)
    return {
        # load_artifact's applier contract: same weight layout, same
        # Viterbi — "kind" records the true trainer for provenance
        "kind": "chain-crf-lbfgs",
        "version": 2,
        "classes": CLASSES,
        "vocab": vocab,
        "Wp": Wp,
        "Wf": Wf,
        "T": T,
        "c1": c1,
        "c2": c2,
        "iters": state["iters"],
        "objective": obj,
        "train_docs": len(docs),
        "train_errors": errors,
    }
