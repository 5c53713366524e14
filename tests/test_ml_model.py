"""Learned sequence model (M1/M2): train a linear-chain averaged
structured perceptron on the corpus gold tags, ship the pickled
artifact to executors, Viterbi-apply it inside the fused Arrow pass,
and gate parity against the rule semantics at span/mention/cite-row,
span-PR, and triple level (reference apply path:
extractors/crf.py:89-132)."""

import numpy as np
import pytest

from theoremkb_spark.corpus.generator import build_corpus, entity_dict_rows
from theoremkb_spark.corpus.oracle import oracle_triples
from theoremkb_spark.ml.crf import (
    ChainPerceptron,
    _training_docs,
    ensure_crf_artifact,
    train,
)
from theoremkb_spark.pipeline.extract import extract_spans, load_pages
from theoremkb_spark.pipeline.runner import build_kg, load_entity_dict

N_DOCS = 40


@pytest.fixture(scope="module")
def artifact(tmp_path_factory):
    # the PERCEPTRON twin: seconds to train, shares the applier contract
    # with the shipped lbfgs artifact (which trains in ~100 s and has its
    # own gates in the crf_lbfgs section below)
    return ensure_crf_artifact(
        str(tmp_path_factory.mktemp("mlart")), n_docs=N_DOCS, trainer="perceptron"
    )


def test_training_reaches_zero_errors(artifact):
    import pickle

    with open(artifact, "rb") as f:
        art = pickle.load(f)
    assert art["kind"] == "chain-averaged-perceptron"
    assert art["train_errors"] == 0


def test_default_shipped_trainer_is_lbfgs(tmp_path):
    """Round 4: the artifact kg_triples_crf ships by default is the true
    OWL-QN CRF — asserted on the cache filename contract (training it
    here would cost ~100 s; the trainer itself is finite-difference and
    held-out gated in the crf_lbfgs section)."""
    import inspect

    from theoremkb_spark.ml.crf import ensure_crf_artifact as fn

    assert inspect.signature(fn).parameters["trainer"].default == "lbfgs"


def test_heldout_generalization_exact():
    """Docs NEVER seen in training decode to the exact gold tags —
    the model learned the semantics, not the training set."""
    art = train(n_docs=N_DOCS)
    held = _training_docs(80, 42)[art["train_docs"]:]
    assert held, "held-out slice must be non-empty"
    m = ChainPerceptron(art["vocab"])
    m.Wp, m.Wf, m.T = art["Wp"], art["Wf"], art["T"]
    for pats, flags, gold in held:
        ids = np.fromiter(
            (art["vocab"].get(p, 0) for p in pats), dtype=np.int64, count=len(pats)
        )
        assert np.array_equal(m.viterbi(ids, flags), gold)


def _assert_same_fused_rows(pages, model_file):
    """extract_spans with the model == extract_spans with the rule
    labeler, both ways, over every column of every span, mention and
    cite row."""
    rule = extract_spans(pages)
    ml = extract_spans(pages, model_file=model_file)
    assert rule.exceptAll(ml).isEmpty() and ml.exceptAll(rule).isEmpty()
    kinds = {r.kind for r in ml.select("kind").distinct().collect()}
    assert kinds == {"span", "mention", "cite"}, kinds


def test_arrow_inference_with_trained_model_matches_rule_labels(spark, artifact):
    """The M1 path end-to-end: artifact shipped via sc.addFile, loaded
    once per executor, Viterbi inside the fused Arrow pass — the same
    fused rows as the rule labeler."""
    import os

    spark.sparkContext.addFile(artifact)
    _assert_same_fused_rows(load_pages(spark, N_DOCS), os.path.basename(artifact))


def test_model_span_pr_vs_gold(spark, artifact):
    """span_pr_report >= 0.95 gate (we hold it at 1.0): the model's span
    rows against the sequential oracle's gold-segmentation spans."""
    from pyspark.sql import functions as F

    from theoremkb_spark.corpus.oracle import oracle_doc_spans
    from theoremkb_spark.operators.evaluate import span_pr_report

    keys = ["url", "group", "label"]
    pred = (
        extract_spans(load_pages(spark, N_DOCS), model_file=artifact)
        .filter(F.col("kind") == "span")
        .select(*keys)
    )
    gold = spark.createDataFrame(
        [
            (doc.url, g, label)
            for doc, _t in build_corpus(N_DOCS)
            for g, label, _n in oracle_doc_spans(doc)
        ],
        "url string, group long, label string",
    )
    rows = {r.label: r for r in span_pr_report(pred, gold, keys=keys).collect()}
    micro = rows["__micro__"]
    assert micro.precision >= 0.95 and micro.recall >= 0.95
    assert micro.f1 == 1.0


def test_model_pipeline_triples_match_oracle(spark, artifact):
    """build_kg with the trained model == sequential-oracle triples —
    the surface behind the kg_triples_crf CORRECTNESS row."""
    pages = load_pages(spark, N_DOCS)
    got = {
        (r.subj, r.pred, r.obj, r.url)
        for r in build_kg(
            spark, pages, load_entity_dict(spark, N_DOCS), model_file=artifact
        ).collect()
    }
    exp = oracle_triples(list(build_corpus(N_DOCS)), entity_dict_rows(N_DOCS))
    assert got == exp


def test_viterbi_matches_exhaustive_argmax():
    """Property test (VERDICT r2 item 5): the Viterbi decoder against a
    brute-force argmax over ALL 12^n label sequences (vectorized), on
    random weight matrices and random inputs — independent of the
    corpus rules that gate the rest of the model. Integer weights so
    ties are exact; both sides break ties toward the lexicographically
    first path, seq len <= 5, 12 seeds."""
    import itertools

    import numpy as np

    from theoremkb_spark.ml.crf import N_CLASSES, N_FLAGS, ChainPerceptron

    rng = np.random.default_rng(99)
    for trial in range(12):
        vocab = {f"w{i}": i for i in range(5)}
        m = ChainPerceptron(vocab)
        m.Wp = rng.integers(-3, 4, size=m.Wp.shape).astype(float)
        m.Wf = rng.integers(-3, 4, size=m.Wf.shape).astype(float)
        m.T = rng.integers(-3, 4, size=m.T.shape).astype(float)
        n = int(rng.integers(1, 6))
        ids = rng.integers(0, 5, size=n)
        flags = rng.integers(0, 2, size=(n, N_FLAGS)).astype(float)

        em = m.Wp[ids] + flags @ m.Wf
        paths = np.array(
            list(itertools.product(range(N_CLASSES), repeat=n)), dtype=np.int64
        )  # (12^n, n), lexicographic order
        scores = m.T[N_CLASSES, paths[:, 0]] + em[0, paths[:, 0]]
        for t in range(1, n):
            scores += m.T[paths[:, t - 1], paths[:, t]] + em[t, paths[:, t]]
        best = tuple(paths[int(np.argmax(scores))])  # first max wins ties
        got = tuple(int(x) for x in m.viterbi(ids, flags))
        assert got == best, (trial, got, best)


# ---- TRUE CRF trainer (lbfgs/OWL-QN on the exact NLL, ml/crf_lbfgs) -----


def test_owlqn_lasso_matches_closed_form():
    """The from-scratch optimizer on min 0.5||x-b||^2 + c1||x||_1, whose
    exact solution is the soft-threshold of b — L1 handling is the part
    plain L-BFGS can't do, so it is pinned against the closed form."""
    from theoremkb_spark.ml.crf_lbfgs import owlqn_minimize

    b = np.array([3.0, -0.5, 0.05, -2.0, 0.0, 0.31, -0.29])
    c1 = 0.3
    x, _ = owlqn_minimize(
        lambda x: (0.5 * ((x - b) ** 2).sum(), x - b), np.zeros(len(b)), c1=c1
    )
    expected = np.sign(b) * np.maximum(np.abs(b) - c1, 0.0)
    assert np.abs(x - expected).max() < 1e-8


def test_crf_nll_gradient_matches_finite_differences():
    """The scaled-linear forward-backward gradient vs central finite
    differences on random weights/inputs — the exactness the lbfgs
    direction depends on."""
    from theoremkb_spark.ml.crf import N_FLAGS
    from theoremkb_spark.ml.crf_lbfgs import C, _objective

    rng = np.random.default_rng(3)
    vs, n = 6, 7
    shapes = ((vs, C), (N_FLAGS, C), (C + 1, C))
    docs = [
        (
            rng.integers(0, vs, n),
            rng.integers(0, 2, (n, N_FLAGS)).astype(float),
            rng.integers(0, C, n),
        )
        for _ in range(2)
    ]
    theta = rng.normal(0, 0.3, vs * C + N_FLAGS * C + (C + 1) * C)
    _f, g = _objective(theta, shapes, docs, c2=0.1)
    eps = 1e-6
    for i in rng.choice(len(theta), 30, replace=False):
        tp, tm = theta.copy(), theta.copy()
        tp[i] += eps
        tm[i] -= eps
        num = (
            _objective(tp, shapes, docs, 0.1)[0]
            - _objective(tm, shapes, docs, 0.1)[0]
        ) / (2 * eps)
        assert abs(num - g[i]) < 1e-6, (i, num, g[i])


def test_crf_lbfgs_trains_and_generalizes_exactly():
    """The reference's actual training algorithm (crf.py:136-142: lbfgs,
    c1=0.1, c2=0.1, max_iter<=500) reimplemented from scratch: trains to
    decode-exact on the gold tags AND decodes NEVER-SEEN documents'
    gold exactly. Shares the weight layout with the shipped perceptron
    artifact, so the Arrow inference stage applies either unchanged."""
    from theoremkb_spark.ml.crf_lbfgs import train_crf

    art = train_crf(n_docs=12, c1=0.1, c2=0.1, max_iter=500)
    assert art["kind"] == "chain-crf-lbfgs"
    assert art["train_errors"] == 0
    assert art["iters"] <= 500

    held = _training_docs(28, 42)[art["train_docs"]:]
    assert held, "held-out slice must be non-empty"
    m = ChainPerceptron(art["vocab"])
    m.Wp, m.Wf, m.T = art["Wp"], art["Wf"], art["T"]
    for pats, flags, gold in held:
        ids = np.fromiter(
            (art["vocab"].get(p, 0) for p in pats), dtype=np.int64, count=len(pats)
        )
        assert np.array_equal(m.viterbi(ids, flags), gold)


# ---- CNN1D context-window tagger (M5, ml/cnn1d.py) ----------------------


def test_cnn1d_gradients_match_finite_differences():
    from theoremkb_spark.ml.crf import N_FLAGS
    from theoremkb_spark.ml.cnn1d import CNN1DTagger

    rng = np.random.default_rng(5)
    vocab = {f"w{i}": i for i in range(6)}
    m = CNN1DTagger(vocab, context_size=3, emb_dim=4, hidden=8, seed=1)
    n = 6
    ids = rng.integers(0, 6, n)
    flags = rng.integers(0, 2, (n, N_FLAGS)).astype(float)
    gold = rng.integers(0, 12, n)
    _loss, grads = m.loss_grads(ids, flags, gold)
    eps = 1e-6
    for p, g in zip(m.params(), grads):
        flat = p.ravel()
        for i in rng.choice(flat.size, min(10, flat.size), replace=False):
            old = flat[i]
            flat[i] = old + eps
            lp, _ = m.loss_grads(ids, flags, gold)
            flat[i] = old - eps
            lm, _ = m.loss_grads(ids, flags, gold)
            flat[i] = old
            assert abs((lp - lm) / (2 * eps) - g.ravel()[i]) < 1e-6


@pytest.fixture(scope="module")
def cnn_artifact(tmp_path_factory):
    import pickle

    from theoremkb_spark.ml.cnn1d import train_cnn1d

    # n_docs=40 (same frame as the CRF gates): the v2 corpus's rarest
    # class (assumption, weight 0.02) is absent from a 20-doc train
    # slice, leaving its pattern id OOV at decode time — a vocabulary
    # coverage artifact of the fixture, not a model property
    art = train_cnn1d(n_docs=40, max_epochs=300)
    path = str(tmp_path_factory.mktemp("cnnart") / "cnn1d_model.pkl")
    with open(path, "wb") as f:
        pickle.dump(art, f)
    return path


def test_cnn1d_trains_and_generalizes_exactly(cnn_artifact):
    """Per-token window classification reaches decode-exact on training
    AND never-seen documents — possible only because the block-head
    opener roll-up flag carries span openness into the window (the same
    block-level aggregate features the reference feeds its CNN)."""
    import pickle

    with open(cnn_artifact, "rb") as f:
        art = pickle.load(f)
    assert art["kind"] == "cnn1d-tagger"
    assert art["train_errors"] == 0

    from theoremkb_spark.ml.cnn1d import tagger_from_artifact

    m = tagger_from_artifact(art)
    held = _training_docs(44, 42)[art["train_docs"]:]
    assert held
    for pats, flags, gold in held:
        ids = np.fromiter(
            (art["vocab"].get(p, 0) for p in pats), dtype=np.int64, count=len(pats)
        )
        assert np.array_equal(m.viterbi(ids, flags), gold)


def test_cnn1d_through_arrow_stage_matches_rule_labels(spark, cnn_artifact):
    """The M1 path applies the CNN artifact unchanged (same applier
    contract as the chain models): the same fused rows as the rule
    labeler across whole documents."""
    import os

    spark.sparkContext.addFile(cnn_artifact)
    _assert_same_fused_rows(load_pages(spark, 24), os.path.basename(cnn_artifact))


# ---- transformer text classifier (M6, ml/textformer.py) -----------------


def test_transformer_attention_gradients_match_finite_differences():
    from theoremkb_spark.ml.textformer import TransformerClassifier, _encode

    rng = np.random.default_rng(0)
    vocab = {"<pad>": 0, "<unk>": 1, "a": 2, "b": 3, "c": 4}
    m = TransformerClassifier(vocab, ["x", "y", "z"], d=8, ffn=10, seed=2)
    ids = np.array([_encode("a b c a", vocab), _encode("c c b", vocab)])
    y = np.array([0, 2])
    _loss, grads = m.loss_grads(ids, y)
    eps = 1e-6
    for p, g in zip(m.params(), grads):
        flat = p.ravel()
        for i in rng.choice(flat.size, min(6, flat.size), replace=False):
            old = flat[i]
            flat[i] = old + eps
            lp, _ = m.loss_grads(ids, y)
            flat[i] = old - eps
            lm, _ = m.loss_grads(ids, y)
            flat[i] = old
            assert abs((lp - lm) / (2 * eps) - g.ravel()[i]) < 1e-6


def test_transformer_line_classification_heldout():
    """M6 under the reference notebook's protocol (80/20 stratified
    split, random_state=42, balanced frame): the from-scratch encoder
    must reach the accuracy band the notebook reports for its
    pretrained models (~0.95+) on the held-out 20%."""
    from theoremkb_spark.ml.textformer import train_transformer

    art = train_transformer(n_docs=40)
    assert art["kind"] == "transformer-classifier"
    assert art["train_acc"] == 1.0
    assert art["test_acc"] >= 0.95, art["test_acc"]
    # every span class present in the label space
    assert {"theorem", "lemma", "proof", "other"} <= set(art["classes"])


# ---- LSTM text classifier (M6 second sub-variant, ml/lstm.py) ------------


def test_lstm_gradients_match_finite_differences():
    """Exact backprop through time (gates, cell path, padding mask that
    carries h/c through PAD steps, embedding scatter) vs central finite
    differences — including a padded row so the mask path is exercised."""
    from theoremkb_spark.ml.lstm import LSTMClassifier
    from theoremkb_spark.ml.textformer import _encode

    rng = np.random.default_rng(0)
    vocab = {"<pad>": 0, "<unk>": 1, "a": 2, "b": 3, "c": 4}
    m = LSTMClassifier(vocab, ["x", "y", "z"], d=6, hidden=5, seed=2)
    ids = np.array([_encode("a b c a", vocab), _encode("c c b", vocab)])
    y = np.array([0, 2])
    _loss, grads = m.loss_grads(ids, y)
    eps = 1e-6
    for p, g in zip(m.params(), grads):
        flat = p.ravel()
        for i in rng.choice(flat.size, min(6, flat.size), replace=False):
            old = flat[i]
            flat[i] = old + eps
            lp, _ = m.loss_grads(ids, y)
            flat[i] = old - eps
            lm, _ = m.loss_grads(ids, y)
            flat[i] = old
            assert abs((lp - lm) / (2 * eps) - g.ravel()[i]) < 1e-6


def test_lstm_readout_ignores_padding():
    """keras mask_zero semantics under the mean-pool readout: trailing
    PADs contribute nothing — the logits equal a manually-rolled forward
    over ONLY the real timesteps, mean-pooled over those steps."""
    from theoremkb_spark.ml.lstm import LSTMClassifier
    from theoremkb_spark.ml.textformer import MAXLEN

    vocab = {"<pad>": 0, "<unk>": 1, "a": 2, "b": 3}
    m = LSTMClassifier(vocab, ["x", "y"], d=4, hidden=3, seed=5)
    short = np.zeros((1, MAXLEN), dtype=np.int64)
    short[0, :3] = [2, 3, 2]
    # same tokens, but the sequence "ends" earlier vs later is identical
    # because the remaining positions are PAD either way; compare against
    # a manually-rolled forward that stops at the last real token
    _m, _X, _steps, (hbar, lens), logits = m._forward(short)
    h = np.zeros((1, 3))
    c = np.zeros((1, 3))
    hs = []
    H = 3
    for t in range(3):
        x = m.Emb[short[:, t]]
        z = x @ m.Wx + h @ m.Wh + m.b
        i = 1 / (1 + np.exp(-z[:, :H]))
        f = 1 / (1 + np.exp(-z[:, H : 2 * H]))
        g = np.tanh(z[:, 2 * H : 3 * H])
        o = 1 / (1 + np.exp(-z[:, 3 * H :]))
        c = f * c + i * g
        h = o * np.tanh(c)
        hs.append(h)
    want = np.mean(hs, axis=0)
    assert lens[0, 0] == 3
    assert np.allclose(hbar, want)
    assert np.allclose(logits, want @ m.Wo + m.bo)


def test_lstm_line_classification_heldout():
    """M6's LSTM sub-variant under the same notebook protocol as the
    transformer twin (80/20 stratified, random_state=42, balanced
    frame): >= 0.95 held-out accuracy."""
    from theoremkb_spark.ml.lstm import train_lstm

    art = train_lstm(n_docs=40)
    assert art["kind"] == "lstm-classifier"
    assert art["train_acc"] == 1.0
    assert art["test_acc"] >= 0.95, art["test_acc"]
    assert {"theorem", "lemma", "proof", "other"} <= set(art["classes"])


# ---- U-Net page segmentation (M4, ml/unet.py) ---------------------------


def test_unet_gradients_match_finite_differences():
    """Full 18-conv 3-level U-Net backprop (im2col convs, tied maxpool
    routing, nearest upsample, skip concats, weighted softmax loss) vs
    central finite differences, in float64. 32x32 input: the smallest
    side the 4x/4x/2x pool stack divides."""
    from theoremkb_spark.ml.unet import UNetSegmenter

    rng = np.random.default_rng(0)
    net = UNetSegmenter(seed=3, dtype=np.float64)
    X = rng.normal(0, 1, (1, 32, 32, 3))
    gold = rng.integers(0, 3, (1, 32, 32))
    w = np.array([1.0, 2.0, 3.0])
    _loss, grads = net.loss_grads(X, gold, w)
    eps = 1e-6
    pairs = list(grads)
    for li in rng.choice(len(pairs), 6, replace=False):
        p, g = pairs[li]
        flat = p.ravel()
        for i in rng.choice(flat.size, 3, replace=False):
            old = flat[i]
            flat[i] = old + eps
            lp, _ = net.loss_grads(X, gold, w)
            flat[i] = old - eps
            lm, _ = net.loss_grads(X, gold, w)
            flat[i] = old
            assert abs((lp - lm) / (2 * eps) - g.ravel()[i]) < 1e-5


def test_unet_vote_decode_matches_reference_rule():
    """The box-vote decode pinned against a hand fixture: summed in-box
    probabilities, argmax, background class -> O (cnn.py:96-126)."""
    from theoremkb_spark.ml.unet import vote_decode

    probs = np.zeros((8, 8, 3))
    probs[:, :, 0] = 0.5            # background everywhere
    probs[0:2, 0:4, 1] = 0.9        # strong class-1 patch
    probs[4:8, 4:8, 2] = 0.6        # class-2 patch
    boxes = [
        (0, 2, 0, 4, 1),   # inside the class-1 patch
        (4, 6, 4, 8, 2),   # inside the class-2 patch
        (2, 4, 0, 4, 0),   # background only
        (0, 4, 0, 4, 1),   # half class-1, half background: 0.9*16 vs 0.5*32 -> background wins
    ]
    assert vote_decode(probs, boxes) == [1, 2, 0, 0]


def test_unet_trains_above_majority_baseline():
    """CI-sized training smoke (4 docs, few epochs): the segmentation
    loss must fall and token-level vote accuracy on the TRAINING pages
    must beat always-predict-background — proves the full
    render->segment->vote stack trains end-to-end. (The generalization
    number for the full run is recorded in COVERAGE.md; full training
    is minutes-long and lives outside CI.)"""
    from theoremkb_spark.ml.unet import render_pages, train_unet

    pages = render_pages(4)
    counts = [g for _i, _m, boxes in pages for (_, _, _, _, g) in boxes]
    majority = max(counts.count(c) for c in set(counts)) / len(counts)
    art = train_unet(n_docs=4, max_epochs=12)
    assert art["train_token_acc"] > majority + 0.02, (
        art["train_token_acc"],
        majority,
    )


def test_unet_save_load_roundtrip(tmp_path):
    """save_unet -> load_unet reproduces the exact forward pass on a
    fresh net (no backward has run), byte-identical probabilities."""
    from theoremkb_spark.ml.unet import (
        UNetSegmenter, load_unet, render_pages, save_unet,
    )

    net = UNetSegmenter(seed=3, c_in=5)
    img = render_pages(1, seed=9)[0][0][None]
    want = net.forward(img)
    path = str(tmp_path / "unet.npz")
    save_unet(net, path)
    got = load_unet(path).forward(img)
    assert got.dtype == want.dtype and np.array_equal(got, want)


def test_unet_shipped_artifact_heldout_accuracy():
    """Eval-only gate on the committed full-training artifact: held-out
    vote accuracy >= 0.9 on the SAME held-out split the training run
    reported (last heldout_frac=0.25 of render_pages pages for the
    n_docs/seed recorded beside the weights). Skips when the artifact
    is absent (full training is ~90 min and lives outside CI)."""
    import json
    from pathlib import Path

    from theoremkb_spark.ml.unet import load_unet, render_pages, vote_decode

    art_dir = Path(__file__).resolve().parent.parent / "theoremkb_spark" / "ml" / "artifacts"
    npz = art_dir / "unet_full.npz"
    meta_p = art_dir / "unet_full.json"
    if not npz.exists() or not meta_p.exists():
        pytest.skip("full-training U-Net artifact not shipped")
    meta = json.loads(meta_p.read_text())
    net = load_unet(str(npz))
    pages = render_pages(
        meta["n_docs"], meta["seed"],
        max_pages_per_doc=meta.get("max_pages_per_doc"),
    )
    n_hold = max(1, int(len(pages) * 0.25))
    good = total = 0
    for img, _m, boxes in pages[-n_hold:]:
        pred = vote_decode(net.forward(img[None])[0], boxes)
        for p, (_, _, _, _, g) in zip(pred, boxes):
            good += int(p == g)
            total += 1
    acc = good / total
    assert acc >= 0.9, (acc, meta)


def test_shift_batch_zero_fills_no_wrap():
    """Shifted-out content must vanish, not wrap to the opposite edge,
    and image/mask must move together (round-4 post-mortem: np.roll
    wrapping collapsed held-out accuracy)."""
    from theoremkb_spark.ml.unet import _shift_batch

    rng = np.random.default_rng(0)
    X = np.zeros((6, 16, 16, 5))
    Y = np.zeros((6, 16, 16), dtype=np.int64)
    X[:, 0, :, 0] = 1.0   # content on the top row
    Y[:, 0, :] = 2
    Xa, Ya = _shift_batch(X, Y, rng)
    for i in range(len(Xa)):
        rows = np.where(Ya[i].any(axis=1))[0]
        assert len(rows) <= 1  # never split across both edges
        img_rows = np.where(Xa[i, :, :, 0].any(axis=1))[0]
        assert np.array_equal(rows, img_rows)  # mask tracks image
        if len(rows):
            assert rows[0] <= 3  # shifted at most max_dy, no wrap to bottom
    # labels preserved where content survives
    assert all(Ya[i][Xa[i, :, :, 0] > 0].min(initial=2) == 2 for i in range(6))


def test_unet_val_carve_is_doc_aligned():
    """With the per-doc page cap (the training config since the round-4
    diversity fix), the val carve must land exactly on a document
    boundary; uncapped, doc 0's 30x page count swallows the whole train
    prefix, which is the documented failure the cap exists to fix."""
    from theoremkb_spark.ml.unet import render_pages

    pages, doc_ids = render_pages(12, with_doc_ids=True, max_pages_per_doc=8)
    assert len(pages) == len(doc_ids)
    assert max(doc_ids.count(d) for d in set(doc_ids)) <= 8
    # replicate train_unet's carve and assert no doc straddles the cut
    n_hold = max(1, int(len(pages) * 0.25))
    train_ids = doc_ids[:-n_hold]
    n_val = max(1, int(len(train_ids) * 0.15))
    cut = len(train_ids) - n_val
    while cut > 0 and train_ids[cut - 1] == train_ids[cut]:
        cut -= 1
    assert cut > 0 and train_ids[cut - 1] != train_ids[cut]


def test_crf_artifact_ships_with_package(tmp_path):
    """A fresh out_dir must be seeded from the packaged default-config
    artifact (no ~100 s retrain), and the copy must load as a working
    tagger that still decodes the gold tags of a training doc."""
    import os
    import time
    from pathlib import Path

    import theoremkb_spark.ml.crf as crf_mod
    from theoremkb_spark.ml.crf import ensure_crf_artifact, load_artifact

    shipped = Path(crf_mod.__file__).parent / "artifacts" / "crf_lbfgs_v2.pkl"
    if not shipped.exists():
        pytest.skip("packaged CRF artifact not shipped")
    t0 = time.time()
    path = ensure_crf_artifact(str(tmp_path))
    assert time.time() - t0 < 10, "shipped artifact should copy, not retrain"
    assert os.path.exists(path)
    m = load_artifact(path)
    pats, flags, gold = _training_docs(1, 42)[0]
    ids = np.fromiter(
        (m.vocab.get(p, 0) for p in pats), dtype=np.int64, count=len(pats)
    )
    assert np.array_equal(m.viterbi(ids, flags), gold)
