"""Linear-chain sequence labeler: averaged structured perceptron.

The reference's labeler of record is a trained CRF applied per paper
(``Styling/src/lib/extractors/crf.py:89-132`` — featurize tokens, tag a
BIO sequence, decode to (label, group) spans; model wrapper
``models/crf.py:42-45``). sklearn-crfsuite is not in this image; TWO
pure-numpy trainers produce the same artifact layout:

* this module's linear-chain structured perceptron — fast (seconds),
  the artifact shipped by default;
* ``ml/crf_lbfgs.py`` — the reference's ACTUAL algorithm (exact CRF
  negative log-likelihood, elastic net c1/c2, L-BFGS with OWL-QN
  orthant handling for L1, max_iter 500) implemented from scratch,
  gated by gradient finite-difference, closed-form-lasso, and held-out
  decode-exact tests.

Both are applied by the same Viterbi inference (M1); only training
differs.

Training is deterministic (fixed doc order, no RNG) and converges to
zero training errors: the gold tagging is generated by the frozen rule
semantics, whose open/close conditions are linearly separable in the
emission features below plus first-order transitions. The artifact
ships to executors like any model file (``spark-submit --files`` /
``sc.addFile``) and is loaded once per executor by
``pipeline.extract._load_model`` (M1).

BIO decode (tags -> label + running group number) mirrors
``extractors/crf.py:113-131``: a B- tag opens a new group; I- continues
it; O closes.
"""

from __future__ import annotations

import pickle

import numpy as np

from ..functions.text import RESULT_LABELS, get_pattern

# Collapsed-continuation tagset: one shared I state instead of I-<label>.
# The span label lives on the B- tag and the chain carries it through
# the I run; per-label continuation states would make every filler-word
# emission feature compete between I-x and I-y (same words under every
# label), which stalls perceptron convergence. Decode re-attaches the
# open B's label to each I.
CLASSES = ["O"] + [f"B-{l}" for l in RESULT_LABELS] + ["I"]
CLASS_IDX = {c: i for i, c in enumerate(CLASSES)}
N_CLASSES = len(CLASSES)

# emission flag features (all 0/1): bias, bold, italic, line-initial
# token, block-initial line, styled line-initial, "opener shape"
# (line-initial + styled + pattern is a result label), and the
# hierarchy roll-up "this token's block head is opener-shaped" — the
# reference's CRF receives exactly this kind of block-level aggregate
# feature per token (paper/features.py STEP 2 roll-ups)
N_FLAGS = 8
UNK = 0  # vocab id reserved for unseen patterns


def _flags_matrix(bold, italic, word, line) -> np.ndarray:
    """(n, N_FLAGS) 0/1 matrix from vectorized token columns."""
    n = len(word)
    styled = (np.asarray(bold, dtype=bool)) | (np.asarray(italic, dtype=bool))
    w0 = np.asarray(word) == 0
    l0 = np.asarray(line) == 0
    out = np.zeros((n, N_FLAGS), dtype=np.float64)
    out[:, 0] = 1.0
    out[:, 1] = np.asarray(bold, dtype=bool)
    out[:, 2] = np.asarray(italic, dtype=bool)
    out[:, 3] = w0
    out[:, 4] = w0 & l0
    out[:, 5] = w0 & styled
    return out  # column 6 (opener shape) is filled by the caller


def featurize(texts, bold, italic, word, line, block, vocab: dict[str, int] | None):
    """-> (pattern_ids, flags) for one document's token sequence
    (reading order). ``block`` drives the block-head roll-up feature.

    ``vocab`` None = training mode (patterns collected by the caller);
    otherwise unseen patterns map to UNK.
    """
    pats = [get_pattern(t) for t in texts]
    flags = _flags_matrix(
        np.asarray(bold, dtype=object) == True,  # noqa: E712 — None-safe
        np.asarray(italic, dtype=object) == True,  # noqa: E712
        np.asarray(word),
        np.asarray(line),
    )
    n = len(pats)
    in_labels = np.fromiter((p in _LABEL_SET for p in pats), dtype=bool, count=n)
    flags[:, 6] = in_labels & flags[:, 5].astype(bool)
    if n:
        blk = np.asarray(block)
        new_blk = np.concatenate(([True], blk[1:] != blk[:-1]))
        head_pos = np.maximum.accumulate(np.where(new_blk, np.arange(n), 0))
        flags[:, 7] = flags[head_pos, 6]
    if vocab is None:
        ids = pats  # resolved later
    else:
        ids = np.fromiter((vocab.get(p, UNK) for p in pats), dtype=np.int64, count=len(pats))
    return ids, flags


_LABEL_SET = frozenset(RESULT_LABELS)


class ChainPerceptron:
    """Linear-chain scorer: score(y | x) = sum_t [Wp[pat_t, y_t] +
    flags_t . Wf[:, y_t] + T[y_{t-1}, y_t]] with a dedicated start row
    T[N, y_0]. Decoded with exact Viterbi."""

    def __init__(self, vocab: dict[str, int]):
        self.vocab = vocab
        v = max(vocab.values()) + 1
        self.Wp = np.zeros((v, N_CLASSES))
        self.Wf = np.zeros((N_FLAGS, N_CLASSES))
        self.T = np.zeros((N_CLASSES + 1, N_CLASSES))

    # ---- inference ----------------------------------------------------
    def _emissions(self, ids: np.ndarray, flags: np.ndarray) -> np.ndarray:
        return self.Wp[ids] + flags @ self.Wf

    def viterbi(self, ids: np.ndarray, flags: np.ndarray) -> np.ndarray:
        em = self._emissions(ids, flags)
        n = len(ids)
        back = np.zeros((n, N_CLASSES), dtype=np.int32)
        score = em[0] + self.T[N_CLASSES]
        for t in range(1, n):
            cand = score[:, None] + self.T[:N_CLASSES]  # prev x cur
            back[t] = np.argmax(cand, axis=0)
            score = cand[back[t], np.arange(N_CLASSES)] + em[t]
        path = np.zeros(n, dtype=np.int64)
        path[-1] = int(np.argmax(score))
        for t in range(n - 1, 0, -1):
            path[t - 1] = back[t, path[t]]
        return path

    # ---- training -----------------------------------------------------
    def _update(self, ids, flags, path, sign):
        np.add.at(self.Wp, (ids, path), sign)
        np.add.at(self.Wf.T, path, sign * flags)
        prev = np.concatenate(([N_CLASSES], path[:-1]))
        np.add.at(self.T, (prev, path), sign)


def gold_bio(tokens) -> list[str]:
    """Gold BIO tags for one document's token tuples
    ``(line, word, text, italic, bold)`` under the frozen rule
    semantics (naive_extractor.py:20-55) — the training target."""
    out = []
    state: str | None = None
    for line, word, text, italic, bold in tokens:
        if word == 0:
            pat = get_pattern(text)
            if (bold or italic) and pat in _LABEL_SET:
                state = pat
                out.append(f"B-{pat}")
                continue
            if line == 0:
                state = None
        out.append("I" if state else "O")
    return out


def _training_docs(n_docs: int, seed: int):
    """[(ids-as-patterns, flags, gold class indices)] per English doc,
    from the deterministic corpus via the pure per-doc parser."""
    from ..corpus.generator import build_corpus, render_html
    from ..pipeline.extract import _parse_tokens

    docs = []
    for doc, _targets in build_corpus(n_docs, seed):
        if doc.lang != "en":
            continue
        toks = _parse_tokens(doc.url, render_html(doc))
        # token tuple layout: see extract.TOKEN_SCHEMA
        texts = [t[5] for t in toks]
        bold = [bool(t[13]) for t in toks]
        italic = [bool(t[11]) for t in toks]
        word = [t[4] for t in toks]
        line = [t[3] for t in toks]
        block = [t[2] for t in toks]
        pats, flags = featurize(texts, bold, italic, word, line, block, vocab=None)
        gold = gold_bio(list(zip(line, word, texts, italic, bold)))
        docs.append((pats, flags, np.array([CLASS_IDX[g] for g in gold])))
    return docs


def train(n_docs: int = 40, seed: int = 42, max_epochs: int = 20) -> dict:
    """Averaged structured perceptron training to zero training errors
    (deterministic). Returns the picklable artifact dict."""
    docs = _training_docs(n_docs, seed)
    vocab: dict[str, int] = {"<unk>": UNK}
    for pats, _f, _g in docs:
        for p in pats:
            if p not in vocab:
                vocab[p] = len(vocab)
    model = ChainPerceptron(vocab)
    resolved = [
        (np.fromiter((vocab[p] for p in pats), dtype=np.int64, count=len(pats)), f, g)
        for pats, f, g in docs
    ]

    # Classic (non-averaged) perceptron: the data is separable (gold is
    # generated by rule semantics expressible in these features), so
    # training runs to ZERO errors and keeps the final weights.
    # Averaging was tried and rejected: convergence takes ~3 epochs, so
    # an average is dominated by the epoch-0 garbage weights and FAILS
    # the training set the raw weights fit exactly.
    for _epoch in range(max_epochs):
        errors = 0
        for ids, flags, gold in resolved:
            pred = model.viterbi(ids, flags)
            if not np.array_equal(pred, gold):
                errors += 1
                model._update(ids, flags, gold, +1.0)
                model._update(ids, flags, pred, -1.0)
        if errors == 0:
            break
    train_errors = sum(
        0 if np.array_equal(model.viterbi(ids, flags), gold) else 1
        for ids, flags, gold in resolved
    )
    return {
        "kind": "chain-averaged-perceptron",
        "version": 1,
        "classes": CLASSES,
        "vocab": vocab,
        "Wp": model.Wp,
        "Wf": model.Wf,
        "T": model.T,
        "train_docs": len(resolved),
        "train_errors": train_errors,
    }


def save_artifact(artifact: dict, path: str) -> None:
    with open(path, "wb") as f:
        pickle.dump(artifact, f)


def load_artifact(path: str):
    """Every trainer's artifact loads into the same applier contract
    (``vocab`` + ``viterbi(ids, flags)``): the perceptron and the true
    lbfgs CRF (ml/crf_lbfgs.py) share the chain weight layout; the
    CNN1D window tagger (ml/cnn1d.py) brings its own forward pass. The
    fused Arrow pass (M1) applies all three the same way."""
    with open(path, "rb") as f:
        art = pickle.load(f)
    kind = art.get("kind")
    if kind == "cnn1d-tagger":
        from .cnn1d import tagger_from_artifact

        return tagger_from_artifact(art)
    if kind not in ("chain-averaged-perceptron", "chain-crf-lbfgs"):
        raise ValueError(f"not a sequence-model artifact: {kind}")
    model = ChainPerceptron(art["vocab"])
    model.Wp, model.Wf, model.T = art["Wp"], art["Wf"], art["T"]
    return model


def ensure_crf_artifact(
    out_dir: str, n_docs: int = 40, seed: int = 42, trainer: str = "lbfgs"
) -> str:
    """Train-once-and-cache a sequence-labeler artifact (deterministic;
    the version suffix invalidates caches across semantic changes).

    ``trainer="lbfgs"`` (the shipped default since round 4) trains the
    TRUE exact-NLL CRF with OWL-QN — the reference's algorithm and
    hyperparameters (Styling/src/lib/extractors/crf.py:136-142,
    c1=c2=0.1) — via ml.crf_lbfgs.train_crf. ``trainer="perceptron"``
    keeps the structured-perceptron twin as the fast path (same weight
    layout, same Viterbi applier; seconds to train vs minutes). Both
    artifacts fit the rule-generated gold exactly, so downstream triples
    are identical; the artifact records its trainer and wall-time."""
    import os
    import time

    if trainer not in ("lbfgs", "perceptron"):
        raise ValueError(f"unknown trainer: {trainer}")
    os.makedirs(out_dir, exist_ok=True)
    fname = "crf_lbfgs_v2.pkl" if trainer == "lbfgs" else "crf_model_v1.pkl"
    path = os.path.join(out_dir, fname)
    if not os.path.exists(path) and n_docs == 40 and seed == 42:
        # the default-config artifacts SHIP with the package (both
        # trainers are deterministic, so a retrain reproduces them) —
        # a fresh checkout skips the ~100 s lbfgs train; non-default
        # (n_docs, seed) always trains
        shipped = os.path.join(os.path.dirname(__file__), "artifacts", fname)
        if os.path.exists(shipped):
            import shutil

            tmp = path + ".tmp"
            shutil.copyfile(shipped, tmp)
            os.replace(tmp, path)
    if not os.path.exists(path):
        t0 = time.time()
        if trainer == "lbfgs":
            from .crf_lbfgs import train_crf

            art = train_crf(n_docs=n_docs, seed=seed)
        else:
            art = train(n_docs=n_docs, seed=seed)
        art["train_wall_s"] = round(time.time() - t0, 1)
        if art["train_errors"]:
            raise RuntimeError(
                f"sequence model failed to fit gold tags: {art['train_errors']} docs"
            )
        tmp = path + ".tmp"
        save_artifact(art, tmp)
        os.replace(tmp, path)
    return path


def predict_tags(model: ChainPerceptron, texts, bold, italic, word, line, block) -> list[str]:
    """One document -> BIO tag strings (Viterbi)."""
    ids, flags = featurize(texts, bold, italic, word, line, block, model.vocab)
    if len(ids) == 0:
        return []
    path = model.viterbi(ids, flags)
    return [CLASSES[i] for i in path]


def decode_bio(tags: list[str]):
    """BIO tags -> (labels, groups) per reference crf.py:113-131: every
    B- opens a new group; I- continues it; O is group 0. A stray I-
    whose label doesn't continue the open span (possible only on
    out-of-distribution input) opens a group like a B."""
    labels, groups = [], []
    group = 0
    open_label: str | None = None
    for t in tags:
        if t.startswith("B-"):
            group += 1
            open_label = t[2:]
            labels.append(open_label)
            groups.append(group)
        elif t == "I" and open_label is not None:
            labels.append(open_label)
            groups.append(group)
        else:  # O, or a stray I with no open span
            labels.append("O")
            groups.append(0)
            open_label = None
    return labels, groups
