"""Context-window neural tagger (SURVEY §2.9 M5): the reference's
CNN1DExtractor / CNN1DTagger (``Styling/src/lib/extractors/cnn1d.py``,
``models/cnn1d.py``) reimplemented in numpy — TensorFlow is neither in
this image nor enabled by default in the reference (gated behind
ENABLE_TENSORFLOW, ``Styling/tkb.py:84-89``).

Same design as the reference's net_1d: each token is classified from a
sliding CONTEXT of feature vectors (context_size window, zero-padded),
where a token's vector is a learned word-pattern embedding concatenated
with the engine's 8 binary flags; the flattened context feeds dense
layers with ELU activations and a softmax head. (The reference stacks
five Dense+BatchNorm blocks; this twin uses one hidden layer — the
corpus semantics are learnable exactly without the extra depth, and the
gate below is decode parity, not architecture replay.) Training is
mini-batch Adam on per-token cross-entropy against the same gold BIO
tags the CRF trainers use.

Unlike the chain models there is NO transition structure — per-token
classification is exactly what makes window taggers fail on spans whose
openness isn't locally visible; here the block-head-opener roll-up flag
(flags[7], mirroring the reference's block-level aggregate features)
carries that signal into the window, which is why decode-exact is
reachable.

The artifact exposes the same applier interface as the chain models
(``vocab`` + ``viterbi(ids, flags)`` -> class path), so the fused
Arrow pass (pipeline/extract.py, M1) applies it unchanged.
"""

from __future__ import annotations

import numpy as np

from .crf import N_CLASSES, N_FLAGS, UNK, _training_docs

C = N_CLASSES


def _elu(x: np.ndarray) -> np.ndarray:
    # expm1 evaluated only on the non-positive branch: np.where computes
    # both branches eagerly, and expm1 on large positives overflows
    return np.where(x > 0, x, np.expm1(np.minimum(x, 0.0)))


def _elu_grad(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    # y = elu(x); derivative is 1 for x>0 else elu(x)+1
    return np.where(x > 0, 1.0, y + 1.0)


class CNN1DTagger:
    """Numpy context-window tagger with a learned pattern embedding."""

    def __init__(
        self,
        vocab: dict[str, int],
        context_size: int = 5,
        emb_dim: int = 16,
        hidden: int = 64,
        seed: int = 0,
    ):
        assert context_size % 2 == 1
        rng = np.random.default_rng(seed)
        v = max(vocab.values()) + 1
        self.vocab = vocab
        self.K = context_size
        self.D = emb_dim + N_FLAGS
        d_in = context_size * self.D
        # he-normal init, as the reference's kernel_initializer
        self.E = rng.normal(0.0, 0.1, (v, emb_dim))
        self.W1 = rng.normal(0.0, np.sqrt(2.0 / d_in), (d_in, hidden))
        self.b1 = np.zeros(hidden)
        self.W2 = rng.normal(0.0, np.sqrt(2.0 / hidden), (hidden, C))
        self.b2 = np.zeros(C)

    # ---- forward ------------------------------------------------------
    def _token_vectors(self, ids: np.ndarray, flags: np.ndarray) -> np.ndarray:
        return np.concatenate([self.E[ids], flags], axis=1)  # (n, D)

    def _contexts(self, X: np.ndarray) -> np.ndarray:
        n = len(X)
        pad = self.K // 2
        Xp = np.concatenate(
            [np.zeros((pad, X.shape[1])), X, np.zeros((pad, X.shape[1]))]
        )
        idx = np.arange(n)[:, None] + np.arange(self.K)[None, :]
        return Xp[idx].reshape(n, self.K * X.shape[1])

    def _forward(self, ids, flags):
        X = self._token_vectors(ids, np.asarray(flags, dtype=np.float64))
        Z = self._contexts(X)
        A1 = Z @ self.W1 + self.b1
        H = _elu(A1)
        logits = H @ self.W2 + self.b2
        return Z, A1, H, logits

    def viterbi(self, ids: np.ndarray, flags: np.ndarray) -> np.ndarray:
        """Per-token argmax — named for the shared applier contract
        (pipeline/label.predict_tags calls model.viterbi)."""
        if len(ids) == 0:
            return np.zeros(0, dtype=np.int64)
        _, _, _, logits = self._forward(np.asarray(ids, dtype=np.int64), flags)
        return np.argmax(logits, axis=1)

    # ---- backward -----------------------------------------------------
    def loss_grads(self, ids, flags, gold):
        """Mean cross-entropy over the document + grads for all params."""
        ids = np.asarray(ids, dtype=np.int64)
        flags = np.asarray(flags, dtype=np.float64)
        n = len(ids)
        Z, A1, H, logits = self._forward(ids, flags)
        m = logits.max(axis=1, keepdims=True)
        p = np.exp(logits - m)
        p /= p.sum(axis=1, keepdims=True)
        loss = float(-np.log(p[np.arange(n), gold] + 1e-300).mean())

        dlogits = p
        dlogits[np.arange(n), gold] -= 1.0
        dlogits /= n
        dW2 = H.T @ dlogits
        db2 = dlogits.sum(axis=0)
        dH = dlogits @ self.W2.T
        dA1 = dH * _elu_grad(A1, H)
        dW1 = Z.T @ dA1
        db1 = dA1.sum(axis=0)
        dZ = (dA1 @ self.W1.T).reshape(n, self.K, self.D)

        # context gather is a shifted sum: slot k of token t reads token
        # t + k - pad, so its gradient scatters back with the inverse
        # shift (vectorized per slot)
        emb_dim = self.D - N_FLAGS
        dX_emb = np.zeros((n, emb_dim))
        pad = self.K // 2
        for k in range(self.K):
            off = k - pad
            src_lo, src_hi = max(0, -off), min(n, n - off)
            if src_lo >= src_hi:
                continue
            dX_emb[src_lo + off : src_hi + off] += dZ[src_lo:src_hi, k, :emb_dim]
        dE = np.zeros_like(self.E)
        np.add.at(dE, ids, dX_emb)
        return loss, (dE, dW1, db1, dW2, db2)

    def params(self):
        return [self.E, self.W1, self.b1, self.W2, self.b2]


def train_cnn1d(
    n_docs: int = 12,
    seed: int = 42,
    context_size: int = 5,
    max_epochs: int = 200,
    lr: float = 3e-3,
) -> dict:
    """Adam on per-token cross-entropy over the corpus gold; early stop
    once every training document decodes exactly. Returns an artifact
    dict for ml.crf.load_artifact."""
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
    model = CNN1DTagger(vocab, context_size=context_size, seed=7)

    # Adam state
    ms = [np.zeros_like(p) for p in model.params()]
    vs = [np.zeros_like(p) for p in model.params()]
    b1, b2, eps, t = 0.9, 0.999, 1e-8, 0

    def decode_errors() -> int:
        return sum(
            0 if np.array_equal(model.viterbi(ids, flags), gold) else 1
            for ids, flags, gold in docs
        )

    epochs_run, last_loss = 0, float("inf")
    for epoch in range(max_epochs):
        epochs_run = epoch + 1
        total = 0.0
        for ids, flags, gold in docs:  # one doc = one minibatch
            loss, grads = model.loss_grads(ids, flags, gold)
            total += loss
            t += 1
            for p, g, m_s, v_s in zip(model.params(), grads, ms, vs):
                m_s *= b1
                m_s += (1 - b1) * g
                v_s *= b2
                v_s += (1 - b2) * g * g
                mh = m_s / (1 - b1**t)
                vh = v_s / (1 - b2**t)
                p -= lr * mh / (np.sqrt(vh) + eps)
        last_loss = total / len(docs)
        # decode-exact alone leaves thin margins (a first-epoch-zero
        # model can still flip rare held-out cases) — also require the
        # cross-entropy to be consolidated before stopping
        if epoch % 5 == 4 and last_loss < 1e-3 and decode_errors() == 0:
            break
    errors = decode_errors()
    return {
        "kind": "cnn1d-tagger",
        "version": 1,
        "vocab": vocab,
        "context_size": context_size,
        "E": model.E,
        "W1": model.W1,
        "b1": model.b1,
        "W2": model.W2,
        "b2": model.b2,
        "epochs": epochs_run,
        "loss": last_loss,
        "train_docs": len(docs),
        "train_errors": errors,
    }


def tagger_from_artifact(art: dict) -> CNN1DTagger:
    emb_dim = art["E"].shape[1]
    hidden = art["W1"].shape[1]
    model = CNN1DTagger(
        art["vocab"], context_size=art["context_size"], emb_dim=emb_dim, hidden=hidden
    )
    model.E, model.W1, model.b1 = art["E"], art["W1"], art["b1"]
    model.W2, model.b2 = art["W2"], art["b2"]
    return model
