"""Deterministic embeddings + masked-softmax disambiguation math.

The reference scores each mention against ≤K candidate entities with a
dot product between a context encoding and entity encodings, masked
log-softmax over K, argmax (bootleg/tasks/ned_task.py:25-46,
bootleg/utils/eval_utils.py:32-56). The encoders are BERT biencoders;
torch/transformers are not available here, so encodings are
deterministic feature-hashed bag-of-token vectors — the *dataflow*
(static entity-embedding matrix broadcast + vectorized batch scoring,
bootleg/layers/static_entity_embeddings.py:10-36) is identical, and a
real ONNX/torch encoder slots into ``featurize_texts`` without touching
any Spark plan.

All hashing is md5-based (process-stable; Python's ``hash`` is salted).
Everything here is pure numpy over batches — called from Arrow-batched
pandas UDFs only, never per-row.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from itertools import chain, repeat

import numpy as np

NC_EID = 0  # "not in candidates" row (entity_symbols.py:43-45)
PAD_EID = 1  # padding row (eval_utils.py:90-114 maps "-1" -> 1)
_NO_CODES = np.empty(0, dtype=np.int32)


@lru_cache(maxsize=1 << 18)
def token_hash(token: str) -> tuple[int, int]:
    """(bucket_seed, sign_bit) for a token — md5-stable across processes.

    Memoized: natural-language token frequency is Zipfian, so the hot
    path hits the cache almost always (md5 is ~1.5 µs/call — the
    dominant cost of featurization without the cache)."""
    h = hashlib.md5(token.encode("utf-8")).digest()
    return int.from_bytes(h[:4], "big"), h[4] & 1


def featurize_tokens(tokens: list[str], dim: int) -> np.ndarray:
    """Feature-hashed bag-of-tokens vector, L2-normalized."""
    v = np.zeros(dim, dtype=np.float64)
    for t in tokens:
        b, s = token_hash(t)
        v[b % dim] += 1.0 if s else -1.0
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v


class _TokenCodes(dict):
    """token -> ``2 * (bucket % dim) + sign`` for one batch: each distinct
    token goes through :func:`token_hash` once, on its first lookup."""

    def __init__(self, dim: int):
        super().__init__()
        self.dim = dim

    def __missing__(self, tok: str) -> int:
        b, s = token_hash(tok)
        code = self[tok] = 2 * (b % self.dim) + s
        return code


def featurize_texts(texts: list[str], dim: int) -> np.ndarray:
    """Batch featurizer (rows = texts). Whitespace tokenization.

    Tokens become int codes (:class:`_TokenCodes`, one hash per distinct
    token of the batch), then one ``np.bincount`` over
    ``row * dim + bucket`` with ±1 weights builds the whole batch.
    Bit-identical to :func:`featurize_tokens` per text: the accumulated
    values are ±1 integers and the squared norms are exact in float64,
    so no summation order can change a bit."""
    n_rows = len(texts)
    get = _TokenCodes(dim).__getitem__
    parts = [np.fromiter(map(get, t.split()), dtype=np.int32) if t else _NO_CODES for t in texts]
    counts = np.fromiter(map(len, parts), dtype=np.intp, count=n_rows)
    codes = np.concatenate(parts) if n_rows else _NO_CODES
    flat = np.repeat(np.arange(n_rows, dtype=np.intp) * dim, counts) + (codes >> 1)
    out = np.bincount(flat, weights=2.0 * (codes & 1) - 1.0, minlength=n_rows * dim)
    out = out.reshape(n_rows, dim)
    n = np.linalg.norm(out, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return out / n


def candidate_matrix(cand_lists, qid2row: dict, mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-mention candidate embeddings for :func:`score_batch`.

    ``cand_lists`` holds one qid list per mention (ragged). Returns
    ``ent`` (B, K, D), K the longest list, with ``ent[i, j] =
    mat[qid2row[cand_lists[i][j]]]``, and ``mask`` (B, K), True where
    that qid has a matrix row. Qids without a row (the ``"-1"`` padding,
    unknown entities) and the ragged tail stay zero and masked."""
    n = len(cand_lists)
    lens = np.fromiter(map(len, cand_lists), dtype=np.intp, count=n)
    k = int(lens.max()) if n else 0
    rows = np.full((n, k), -1, dtype=np.intp)
    flat = chain.from_iterable(cand_lists)
    rows[np.arange(k) < lens[:, None]] = np.fromiter(
        map(qid2row.get, flat, repeat(-1)), dtype=np.intp, count=int(lens.sum())
    )
    mask = rows >= 0
    if not mask.any():
        return np.zeros((n, k, mat.shape[1])), mask
    # one gather straight into the result (no (hits, D) temporary)
    ent = mat.take(np.where(mask, rows, 0), axis=0)
    ent[~mask] = 0.0
    return ent, mask


def make_mlp_encoder(dim: int, hidden: int = 64, seed: int = 12345):
    """Second deterministic encoder behind the ``featurize_texts`` seam.

    Shaped like the reference's BertEncoder forward
    (bootleg/layers/bert_encoder.py:6-38: contextual token states →
    pooling → projection): feature-hashed token embeddings stand in for
    the token states, mean pooling is the CLS-style pool, then two
    fixed-weight linear layers with tanh and an L2-normalized output.
    Weights come from a seeded legacy RandomState, so the encoder is a
    pure function of (dim, hidden, seed) — any process computes the
    same matrix.

    Same ``(texts, dim) -> (B, dim)`` contract as :func:`featurize_texts`;
    tests/test_parity.py swaps it through the whole pipeline to prove a
    real torch/ONNX encoder needs no Spark-plan change.
    """
    rng = np.random.RandomState(seed)
    w1 = rng.standard_normal((dim, hidden)) / np.sqrt(dim)
    w2 = rng.standard_normal((hidden, dim)) / np.sqrt(hidden)

    def encode(texts: list[str], out_dim: int) -> np.ndarray:
        if out_dim != dim:
            raise ValueError(f"encoder built for dim={dim}, called with {out_dim}")
        pooled = featurize_texts(texts, dim)
        out = np.tanh(np.tanh(pooled @ w1) @ w2)
        n = np.linalg.norm(out, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return out / n

    return encode


def masked_class_logsoftmax(pred: np.ndarray, mask: np.ndarray, temp: float = 1.0) -> np.ndarray:
    """Masked log-softmax over the last axis (eval_utils.py:32-56 semantics:
    ``log_softmax(pred/temp + log(mask + 1e-45))``)."""
    assert temp > 0
    x = pred / temp + np.log(mask.astype(np.float64) + 1e-45)
    x = x - x.max(axis=-1, keepdims=True)
    ex = np.exp(x)
    return x - np.log(ex.sum(axis=-1, keepdims=True))


def score_batch(
    ctx: np.ndarray, ent: np.ndarray, mask: np.ndarray, temp: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Batched disambiguation: probs (B,K) and argmax indices (B,).

    ``ctx`` (B,D), ``ent`` (B,K,D), ``mask`` (B,K) True=valid candidate.
    Mirrors ``disambig_output`` (ned_task.py:25-46): dot products →
    masked log-softmax → exp; argmax takes the first max (numpy
    semantics, same as the reference's torch argmax on ties).
    """
    pred = np.einsum("bd,bkd->bk", ctx, ent)
    probs = np.exp(masked_class_logsoftmax(pred, mask, temp))
    probs = probs * mask  # zero out padded candidates exactly
    return probs, probs.argmax(axis=-1)
