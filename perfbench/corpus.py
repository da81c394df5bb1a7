"""Seeded corpus generator for the benchmark workloads.

Every workload's input is one ``documents.parquet`` in the schema the
program reads (``doc_id, text, lang, source, n_chars``), generated from a
seed and the workload's shape parameters (``workloads.json``). The same
(seed, shape) always gives byte-identical text; :func:`corpus_digest`
fingerprints a corpus so tests can pin that.

Text model:
- content words come from a seeded vocabulary of ``vocab`` pseudo-words,
  drawn with a Zipf law of exponent ``zipf_s``;
- a ``stop_share`` of tokens are English stop words (themselves Zipf
  distributed over :data:`STOP_WORDS`);
- a ``punct_share`` of tokens are capitalized and/or carry
  punctuation or a possessive, which sends a page down the program's
  generic tokenizer path instead of its clean-text fast path;
- doc lengths are uniform in ``[min_words, max_words]``.

Planted near-duplicate clusters (``clusters``: list of member counts) copy
one base doc per cluster and re-draw ``DUP_EDIT_SHARE`` of its tokens per
copy; the first cluster is the largest, so one LSH bucket runs hot.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

# Common English stop words; every one is in the program's stop-word
# list, so a stop-word token never becomes an alias.
STOP_WORDS = (
    "the of and to a in is it that for on with as was at by from this be "
    "or are an not which have had but they you he his she her we their "
    "there been has were more when will do about can so what all its "
    "into than only other some then these them most such no up out over"
).split()

DUP_EDIT_SHARE = 0.1  # tokens re-drawn in each planted near-copy
_LANGS = ("en", "de", "fr", "es", "it")
_PUNCT_FORMS = ("cap", ",", ".", ";", ":", "!", "?", "'s", "(", '"', "cap.")
_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of consonant-vowel
    syllables; none is a stop word and none is numeric. Word ``i`` (in
    Zipf rank order) has ``2 + i % 3`` syllables, so the frequency-weighted
    word length, and with it the text volume, does not depend on the seed."""
    stop = set(STOP_WORDS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        n_syl = 2 + len(words) % 3
        c = rng.integers(0, len(_CONSONANTS), n_syl)
        v = rng.integers(0, len(_VOWELS), n_syl)
        w = "".join(_CONSONANTS[i] + _VOWELS[j] for i, j in zip(c, v))
        if w not in seen and w not in stop:
            seen.add(w)
            words.append(w)
    return words


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _decorate(word: str, form: str) -> str:
    if form == "cap":
        return word.capitalize()
    if form == "cap.":
        return word.capitalize() + "."
    if form == "(":
        return f"({word})"
    if form == '"':
        return f'"{word}"'
    return word + form


def _tokens(rng, n_words, vocab, vocab_p, stop_p, shape) -> list[str]:
    """``n_words`` tokens drawn i.i.d. from the text model."""
    is_stop = rng.random(n_words) < shape["stop_share"]
    content = rng.choice(len(vocab), size=n_words, p=vocab_p)
    stops = rng.choice(len(STOP_WORDS), size=n_words, p=stop_p)
    punct = rng.random(n_words) < shape.get("punct_share", 0.0)
    forms = rng.integers(0, len(_PUNCT_FORMS), n_words)
    toks = []
    for i in range(n_words):
        w = STOP_WORDS[stops[i]] if is_stop[i] else vocab[content[i]]
        toks.append(_decorate(w, _PUNCT_FORMS[forms[i]]) if punct[i] else w)
    return toks


def generate(seed: int, shape: dict) -> list[dict]:
    """Rows of ``documents`` for one (seed, shape). Pure function."""
    rng = np.random.default_rng(seed)
    n_docs = shape["n_docs"]
    if sum(shape.get("clusters") or []) > n_docs:
        raise ValueError(f"clusters {shape['clusters']} do not fit {n_docs} docs")
    vocab = _vocabulary(rng, shape["vocab"])
    vocab_p = _zipf_probs(len(vocab), shape["zipf_s"])
    stop_p = _zipf_probs(len(STOP_WORDS), 1.0)
    lengths = rng.integers(shape["min_words"], shape["max_words"] + 1, n_docs)
    toks = _tokens(rng, int(lengths.sum()), vocab, vocab_p, stop_p, shape)
    ends = np.cumsum(lengths)
    texts = [" ".join(toks[e - n : e]) for e, n in zip(ends, lengths)]

    # planted near-dup clusters: each takes one base doc and overwrites
    # size-1 other (random) slots with copies of it in which
    # ``DUP_EDIT_SHARE`` of the tokens are re-drawn
    slots = iter(rng.permutation(n_docs).tolist())
    for size in shape.get("clusters") or []:
        base = texts[next(slots)].split(" ")
        for _ in range(size - 1):
            redraw = rng.random(len(base)) < DUP_EDIT_SHARE
            fresh = _tokens(rng, len(base), vocab, vocab_p, stop_p, shape)
            texts[next(slots)] = " ".join(
                f if r else t for t, f, r in zip(base, fresh, redraw)
            )

    langs = rng.integers(0, len(_LANGS), n_docs)
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": _LANGS[langs[i]],
            "source": f"src{i % 7}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def write_documents(rows: list[dict], out_dir: str) -> str:
    """Write ``rows`` as ``out_dir/documents.parquet``; return ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
            "source": pa.array([r["source"] for r in rows], pa.string()),
            "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def corpus_digest(rows: list[dict]) -> str:
    """sha256 over every row's (doc_id, lang, source, text)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(f"{r['doc_id']}\t{r['lang']}\t{r['source']}\t{r['text']}\n".encode())
    return h.hexdigest()
