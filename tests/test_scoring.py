"""Disambiguation math goldens (eval_utils.py:32-56, ned_task.py:25-46)."""

import numpy as np
import pytest

from bootleg_spark.functions.embedding import (
    candidate_matrix,
    featurize_texts,
    featurize_tokens,
    masked_class_logsoftmax,
    score_batch,
    token_hash,
)


def test_masked_logsoftmax_matches_manual():
    pred = np.array([[1.0, 2.0, 3.0]])
    mask = np.array([[True, True, False]])
    out = masked_class_logsoftmax(pred, mask)
    # masked slot gets log(1e-45) ≈ -103.6; softmax over first two
    expected = np.log(np.exp([1.0, 2.0]) / np.exp([1.0, 2.0]).sum())
    assert np.allclose(out[0, :2], expected)
    assert out[0, 2] < -80


def test_masked_logsoftmax_temperature():
    pred = np.array([[2.0, 4.0]])
    mask = np.array([[True, True]])
    hot = masked_class_logsoftmax(pred, mask, temp=2.0)
    expected = np.log(np.exp([1.0, 2.0]) / np.exp([1.0, 2.0]).sum())
    assert np.allclose(hot[0], expected)


def test_score_batch_argmax_and_mask():
    ctx = np.array([[1.0, 0.0], [0.0, 1.0]])
    ent = np.array(
        [
            [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],
            [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],
        ]
    )
    mask = np.array([[True, True, False], [True, True, False]])
    probs, arg = score_batch(ctx, ent, mask)
    assert arg.tolist() == [0, 1]
    assert np.allclose(probs.sum(axis=1), 1.0)
    assert (probs[:, 2] == 0).all()  # padded slot exactly zero


def test_featurize_deterministic_and_normalized():
    a = featurize_tokens(["spark", "join"], 64)
    b = featurize_tokens(["spark", "join"], 64)
    assert np.array_equal(a, b)
    assert abs(np.linalg.norm(a) - 1.0) < 1e-12
    m = featurize_texts(["spark join", ""], 64)
    assert np.array_equal(m[0], a)
    assert np.array_equal(m[1], np.zeros(64))


def _featurize_texts_add_at(texts, dim):
    """Reference: the per-token ``np.add.at`` batch featurizer that
    :func:`featurize_texts` replaced."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    rows, cols, vals = [], [], []
    for i, t in enumerate(texts):
        if t:
            for tok in t.split():
                b, s = token_hash(tok)
                rows.append(i)
                cols.append(b % dim)
                vals.append(1.0 if s else -1.0)
    if rows:
        np.add.at(out, (np.array(rows), np.array(cols)), np.array(vals))
    n = np.linalg.norm(out, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return out / n


_FEATURIZE_BATCHES = [
    [],
    [""],
    ["", "   ", ""],
    ["spark spark spark", "spark", "a b a b a b", ""],
    ["café naïve Ὀδυσσεύς ΟΔΟΣ", "e\u0301 \u0301", "tab\tsep\nline", "日本 語 日本"],
    [" ".join(f"w{(i * 7 + j) % 13}" for j in range(i)) for i in range(40)],
]


@pytest.mark.parametrize("dim", [8, 64])
@pytest.mark.parametrize("texts", _FEATURIZE_BATCHES)
def test_featurize_texts_bit_identical_to_add_at(texts, dim):
    got = featurize_texts(texts, dim)
    ref = _featurize_texts_add_at(texts, dim)
    assert got.shape == (len(texts), dim) and got.dtype == np.float64
    assert got.tobytes() == ref.tobytes()


def _candidate_matrix_loop(cand_lists, qid2row, mat):
    """Reference: the per-candidate fill loop that
    :func:`candidate_matrix` replaced."""
    n = len(cand_lists)
    k = max((len(c) for c in cand_lists), default=0)
    ent = np.zeros((n, k, mat.shape[1]))
    mask = np.zeros((n, k), dtype=bool)
    for i, cl in enumerate(cand_lists):
        for j, q in enumerate(cl):
            row = qid2row.get(q)
            if row is not None:
                ent[i, j] = mat[row]
                mask[i, j] = True
    return ent, mask


_MAT = np.random.default_rng(3).standard_normal((6, 5))
_QID2ROW = {f"Q{i}": i for i in range(6)}


@pytest.mark.parametrize(
    "cand_lists",
    [
        [],
        [[]],
        [["Q1"]],
        [["Q1", "Q2", "Q3"], ["Q4"], [], ["Q5", "-1", "-1"]],
        [["Q9", "Q0"], ["-1", "-1"], ["Q3", "Qx", "Q3", "Q5"]],
        [np.array(["Q2", "Q1"], dtype=object), ("Q0",)],
    ],
)
def test_candidate_matrix_matches_loop(cand_lists):
    ent, mask = candidate_matrix(cand_lists, _QID2ROW, _MAT)
    ref_ent, ref_mask = _candidate_matrix_loop(cand_lists, _QID2ROW, _MAT)
    assert ent.shape == ref_ent.shape and ent.dtype == ref_ent.dtype
    assert ent.tobytes() == ref_ent.tobytes()
    assert np.array_equal(mask, ref_mask)
