"""All-JVM entity linking: the zero-Python strategy for clean web text.

On rows that provably take the Python extractor's clean-text fast path
(and with a single-token alias dictionary), EVERY stage — boilerplate
strip, mention matching, context windowing, feature-hash encoding,
candidate scoring — is expressible as Catalyst expressions: no Python
workers, no Arrow traffic.

MEASURED VERDICT (BENCH.md "Mention-matcher strategies", round 4):
end-to-end this is NOT the fastest triples path on this workload —
fused mapInPandas 2.15 s vs 9.9 s (all-JVM) / 6.0 s (hybrid) at
sf0.1×50 on 32 pinned cores. The round-3 "497k pages/s JVM ceiling"
measured a passthrough with no mention dataflow; real JVM scoring pays
mention-grain exchanges + O(dim·T) aggregation that cost more than the
~0.3 s/5k-pages of single-core numpy they displace. So
``KgPipeline.triples()`` defaults to the fused path, and this module
is the right tool for OTHER shapes: mentions-only jobs (the relational
extractor alone sustains ~500k pages/s), popularity-scorer pipelines
(relational end to end), or any scorer whose per-candidate cost dwarfs
an exchange. All strategies are output-identical (parity pinned by
tests/test_jvm_link.py and the shared driver oracles).

Output parity with the Python path:

- text, mentions, spans, context token arrays, and the L2-normalized
  feature-hash context vectors are **bitwise identical** (the hash
  vector entries are small integers before normalization, so addition
  order cannot round);
- candidate dot products / softmax probs agree to the last few ulps
  but not bitwise — numpy's einsum uses pairwise/SIMD summation while
  the JVM ``aggregate`` folds left-to-right (measured ~1e-15 relative).
  The driver gate formats floats at 6 significant digits and the
  contract queries round probs, so the gate is insensitive to this;
  tests/test_jvm_link.py pins qid_pred/spans exactly and probs at
  1e-9 on the full synthetic corpus.

Guards (each checked per row; failing rows take the Python path):

- :func:`jvm_extractable_expr` — html decodes to ASCII-printable +
  basic whitespace with no '&': then Python's ``html.unescape`` is the
  identity and ``str.split()`` agrees with Java ``\\s``.
- :func:`clean_text_expr` — extracted text is single-spaced
  ``[A-Za-z0-9]`` words (the ``_SKIP_SAFE_RE`` class minus double
  spaces) and short enough that ``extract_context``'s char-window
  clipping (tokenizer.model_max_length * 20 chars) cannot cut a token.

Reference semantics mirrored: mention extraction
bootleg/utils/mention_extractor_utils.py:110-204 (via
extract_mentions_ngram_relational), context window
bootleg/dataset.py:173-224, scoring bootleg/tasks/ned_task.py:25-46.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bootleg_spark import synthspec as S

# ASCII printable + space/tab/newline/CR, minus '&' (\x26): on this
# class html.unescape is the identity and every whitespace char is in
# Java's \s. \A..\z anchors (NOT ^..$ — '$' matches before a trailing
# newline; the round-3 mentions bug, same class).
JVM_HTML_GUARD_RE = "\\A[\\x20-\\x25\\x27-\\x7E\\t\\n\\r]*\\z"

# single-spaced alnum words: the Python extractor's skip-safe class
# minus double spaces (split(' ') would emit empty tokens there and
# change neighbor adjacency vs the whitespace-collapsing tokenizer)
CLEAN_TEXT_RE = "\\A[A-Za-z0-9]+( [A-Za-z0-9]+)*\\z"

# extract_context clips prefix/suffix at model_max_length * 20 chars
# (textproc.py:150); as long as the whole text fits, the clip is a
# provable no-op and the JVM window needs no partial-token handling
MAX_JVM_CONTEXT_CHARS = 512 * 20


def jvm_extractable_expr(html_col) -> F.Column:
    """True when the JVM regex chain is provably byte-identical to
    :func:`bootleg_spark.functions.textproc.extract_html_text`.
    ``cast("string")`` (not ``decode``, which THROWS on malformed
    UTF-8 under ANSI) wraps the bytes leniently; invalid sequences
    surface as replacement chars, fail the ASCII class, and route the
    row to the Python path."""
    return html_col.cast("string").rlike(JVM_HTML_GUARD_RE)


def html_text_expr(html_col) -> F.Column:
    """JVM mirror of ``extract_html_text`` (textproc.py:90-108), valid
    under :func:`jvm_extractable_expr`: drop comments, drop
    script/style/nav/footer/header/head blocks (same backreferenced
    regex), strip remaining tags, collapse whitespace. The unescape
    step is skipped — the guard guarantees no '&'."""
    s = html_col.cast("string")
    s = F.regexp_replace(s, "(?s)<!--.*?-->", " ")
    s = F.regexp_replace(
        s, "(?is)<(script|style|nav|footer|header|head)\\b[^>]*>.*?</\\1>", " "
    )
    s = F.regexp_replace(s, "<[^>]+>", " ")
    return F.trim(F.regexp_replace(s, "\\s+", " "))


def clean_text_expr(text_col) -> F.Column:
    return text_col.rlike(CLEAN_TEXT_RE) & (
        F.length(text_col) <= F.lit(MAX_JVM_CONTEXT_CHARS)
    )


def context_tokens_expr(arr, idx, window: int = S.MAX_SEQ_WINDOW_LEN) -> F.Column:
    """Context-window token array for the single-token mention at word
    index ``idx`` (0-based) of word array ``arr`` — exact relational
    mirror of ``extract_context`` (dataset.py:173-224 semantics,
    textproc.py:130-169) specialized to token-aligned spans in clean
    single-spaced text, where the marker insertion reduces to
    ``words[:i] + [ent_start, w_i, ent_end] + words[i+1:]`` and the
    budget arithmetic becomes pure slices:

    - mention closer to the start (2i < n-1): prev takes up to
      window/2 words before i, next takes the markers + the remaining
      budget after;
    - otherwise: next takes up to window/2 words after i, prev takes
      the remaining budget before + the markers.
    """
    half = window // 2
    n = F.size(arr)
    near_start = (F.lit(2) * idx) < (n - F.lit(1))
    # branch 1: prev = words[max(0, i-half):i], next budget = window - |prev|
    lp1 = F.least(idx, F.lit(half))
    head1 = F.slice(arr, F.greatest(F.lit(0), idx - F.lit(half)) + F.lit(1), lp1)
    tail1 = F.slice(arr, idx + F.lit(2), F.lit(window) - lp1)
    # branch 2: next = words[i+1:i+1+half], prev budget = window - |next|
    ln2 = F.least(F.lit(half), n - idx - F.lit(1))
    start2 = F.greatest(F.lit(0), idx - (F.lit(window) - ln2))
    head2 = F.slice(arr, start2 + F.lit(1), idx - start2)
    tail2 = F.slice(arr, idx + F.lit(2), ln2)
    head = F.when(near_start, head1).otherwise(head2)
    tail = F.when(near_start, tail1).otherwise(tail2)
    mid = F.array(
        F.lit("[ent_start]"), F.element_at(arr, idx + F.lit(1)), F.lit("[ent_end]")
    )
    return F.concat(head, mid, tail)


def _token_feature(tok, dim: int) -> F.Column:
    """(bucket, sign) of one token — JVM mirror of ``token_hash``
    (embedding.py:30-38): md5 bytes 0-3 big-endian mod dim, bit 0 of
    byte 4 as the sign."""
    hexs = F.md5(F.encode(tok, "UTF-8"))
    bucket = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long") % F.lit(dim)
    sign = F.when(
        F.conv(F.substring(hexs, 9, 2), 16, 10).cast("long") % 2 == 1, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    return F.struct(bucket.alias("b"), sign.alias("s"))


def with_context_vector(
    df: DataFrame,
    arr_col: str = "_arr",
    idx_col: str = "_tok_idx",
    dim: int = S.EMB_DIM,
    window: int = S.MAX_SEQ_WINDOW_LEN,
    out_col: str = "_ctx_vec",
) -> DataFrame:
    """Add the L2-normalized feature-hash context vector (``featurize
    tokens`` of embedding.py:41-59, as array<double>[dim]) for each
    mention row. Bitwise-identical to the Python featurizer: the
    pre-normalization entries are sums of ±1 (exact in float64 in any
    order) and the squared norm is a sum of small integers (also
    exact), so normalization divides identical values.

    Every intermediate array is materialized as a column before the
    next lambda references it — referencing a ``transform()``
    expression inside another array lambda INLINES it per element
    (O(n²)/row, the round-2 40× trap)."""
    toks = context_tokens_expr(F.col(arr_col), F.col(idx_col), window)
    stage = df.withColumn("_ctx_toks", toks)
    stage = stage.withColumn(
        "_feats", F.transform(F.col("_ctx_toks"), lambda t: _token_feature(t, dim))
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            F.col("_feats"),
            F.lit(0.0),
            lambda acc, x: acc
            + F.when(x["b"] == i.cast("long"), x["s"]).otherwise(F.lit(0.0)),
        ),
    )
    stage = stage.withColumn("_vec_raw", raw)
    norm = F.sqrt(
        F.aggregate(F.col("_vec_raw"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    stage = stage.withColumn("_vec_norm", norm)
    vec = F.when(
        F.col("_vec_norm") > 0,
        F.transform(F.col("_vec_raw"), lambda x: x / F.col("_vec_norm")),
    ).otherwise(F.col("_vec_raw"))
    return stage.withColumn(out_col, vec).drop(
        "_ctx_toks", "_feats", "_vec_raw", "_vec_norm"
    )


def flat_candidate_embs(grouped_cands: DataFrame, emb_df: DataFrame) -> DataFrame:
    """(alias, j, qid, emb): one row per (alias, candidate-rank), "-1"
    pads and qids absent from the matrix dropped — they are exactly
    the mask=False entries of the Python scorer, and softmax over the
    remaining set is float64-identical because the masked terms
    contribute < 1e-43 to a ≥ e^-2 sum. One small dim-table join at
    init, broadcast to every scoring join."""
    e = grouped_cands.select(
        "alias", F.posexplode("cand_qids").alias("j", "qid")
    ).where(F.col("qid") != "-1")
    return e.join(emb_df.select("qid", "emb"), "qid").select("alias", "j", "qid", "emb")


def score_mentions_relational(
    mentions: DataFrame,
    cand_embs_flat: DataFrame,
    dim: int = S.EMB_DIM,
    window: int = S.MAX_SEQ_WINDOW_LEN,
    threshold: float = S.PROB_THRESHOLD,
) -> DataFrame:
    """④ scoring with zero Python AND zero interpreted hot loops.

    A first cut expressed the feature-hash scorer as per-row
    higher-order functions; HOF lambdas evaluate interpreted (no
    whole-stage codegen inside ``transform``/``aggregate``), measured
    ~1 ms/mention — 10× the Python featurizer it replaced. This form
    keeps every per-token operation in codegen by exploding context
    tokens into rows and aggregating:

    1. explode context tokens → (mention key, md5 bucket b, sign s)
       rows (straight-line codegen, ~70 rows/mention);
    2. ONE ``groupBy(mention)`` with ``dim`` conditional sums
       (``sum(CASE WHEN b=i THEN s ELSE 0 END)``) densifies the hashed
       bag into ``dim`` net-count columns — declarative sums keep the
       aggregation in codegen'd HashAggregate (``pivot``'s PivotFirst
       is an imperative aggregate that forces SortAggregate, measured
       2× slower). A mention's exploded tokens are partition-local
       (Generate never repartitions), so the map-side partial
       aggregation completes every sum and the single exchange carries
       one ``dim``-wide row per mention;
    3. ``‖v‖² = Σ_b net_b²`` as a straight-line ``dim``-term codegen
       expression (nets are small integers — exact in float64, so the
       norm is bitwise equal to numpy's);
    4. broadcast-join the (alias, j, qid, emb) dim at mention grain
       (~k rows/mention) and compute ``dot_j = Σ_b net_b · emb_j[b]``
       as another fixed-order ``dim``-term expression — fully
       deterministic, and within ~1e-15 of the numpy einsum (which
       sums pairwise/SIMD; top-2 dot gaps on the synthetic corpora are
       ≥1e-3, pinned by tests, so argmax is stable);
    5. per mention: sort candidates by rank, shifted softmax in the
       exact formula order of ``masked_class_logsoftmax``
       (embedding.py:94-117: ``exp((x - max) - log(Σ exp(x - max)))``),
       first-max argmax (``array_position`` = numpy first-max). These
       HOFs run over k ≤ MAX_CANDIDATES elements — negligible.

    Returns (doc_id, mention_pos, alias, qid_pred, prob) — mention
    grain; join back on (doc_id, mention_pos) for span/url columns.
    At full-Wikidata scale drop the broadcast hint on the candidate
    dim and let the join shuffle on alias; every exchange here is
    mention-grain (~0.3 rows/page), orders below the input volume.
    A BERT-width dim (768) still pivots fine (Spark handles thousands
    of columns), but at that width a real encoder is in play and the
    Python path owns scoring anyway."""
    from functools import reduce

    toks = mentions.select(
        "doc_id",
        "mention_pos",
        "alias",
        F.explode(
            context_tokens_expr(F.col("_arr"), F.col("_tok_idx"), window)
        ).alias("_tok"),
    )
    hexs = F.md5(F.encode(F.col("_tok"), "UTF-8"))
    feat = toks.select(
        "doc_id",
        "mention_pos",
        "alias",
        (F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long") % F.lit(dim)).alias("b"),
        F.when(
            F.conv(F.substring(hexs, 9, 2), 16, 10).cast("long") % 2 == 1, F.lit(1.0)
        ).otherwise(F.lit(-1.0)).alias("s"),
    )
    net = feat.groupBy("doc_id", "mention_pos", "alias").agg(
        *[
            F.sum(F.when(F.col("b") == i, F.col("s")).otherwise(F.lit(0.0))).alias(
                f"_n{i}"
            )
            for i in range(dim)
        ]
    )
    normsq = reduce(
        lambda a, b: a + b, [F.col(f"_n{i}") * F.col(f"_n{i}") for i in range(dim)]
    )
    dense = net.withColumn("_nsq", normsq)
    sc = dense.join(F.broadcast(cand_embs_flat), "alias")
    dot_raw = reduce(
        lambda a, b: a + b,
        [F.col(f"_n{i}") * F.element_at("emb", i + 1) for i in range(dim)],
    )
    sc = sc.withColumn(
        "_dot",
        F.when(F.col("_nsq") > 0, dot_raw / F.sqrt(F.col("_nsq"))).otherwise(
            F.lit(0.0)
        ),
    )
    per_mention = sc.groupBy("doc_id", "mention_pos").agg(
        F.first("alias").alias("alias"),
        F.array_sort(F.collect_list(F.struct("j", "qid", "_dot"))).alias("_ds"),
    )
    m = per_mention.withColumn(
        "_dots", F.transform(F.col("_ds"), lambda x: x["_dot"])
    )
    m = m.withColumn("_xmax", F.array_max("_dots"))
    m = m.withColumn(
        "_exsum",
        F.aggregate(
            F.col("_dots"), F.lit(0.0), lambda acc, x: acc + F.exp(x - F.col("_xmax"))
        ),
    )
    probs = F.transform(
        F.col("_dots"),
        lambda x: F.exp((x - F.col("_xmax")) - F.log(F.col("_exsum"))),
    )
    m = m.withColumn("_probs", probs)
    m = m.withColumn("prob", F.array_max("_probs"))
    pos = F.array_position(F.col("_probs"), F.col("prob")).cast("int")
    m = m.withColumn("qid_pred", F.element_at(F.col("_ds"), pos)["qid"])
    return m.where(
        F.col("qid_pred").isNotNull() & (F.col("prob") > F.lit(threshold))
    ).select("doc_id", "mention_pos", "alias", "qid_pred", "prob")


def score_mentions_pandas(
    mentions: DataFrame,
    ent_matrix_bc,
    cand_dict_bc,
    dim: int = S.EMB_DIM,
    window: int = S.MAX_SEQ_WINDOW_LEN,
    threshold: float = S.PROB_THRESHOLD,
    encoder=None,
) -> DataFrame:
    """④ scoring as ONE Arrow-batched pandas UDF over mention rows
    carrying pre-built context token arrays (from
    :func:`context_tokens_expr`) — the hybrid between the fused
    all-Python pipeline and the all-relational scorer.

    Versus the fused path, Arrow ships ~70 short tokens per MENTION
    (~0.3 rows/page) instead of the full html of every page — an
    order less transfer. Versus the relational scorer, the per-mention
    math runs in numpy (bitwise identical to the fused path: same
    ``featurize_tokens`` accumulation order, same einsum) instead of
    O(dim·T) aggregate buffers. ``encoder=None`` uses the feature-hash
    featurizer directly on the token arrays; a custom encoder gets the
    joined token string (the ``featurize_texts`` contract)."""
    import numpy as np
    import pandas as pd

    from bootleg_spark.functions.embedding import (
        candidate_matrix,
        featurize_tokens,
        score_batch,
    )

    out_schema = (
        "doc_id long, mention_pos int, alias string, qid_pred string, prob double"
    )

    def _score(batches):
        qid2row, mat = ent_matrix_bc.value
        cands = cand_dict_bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {c: [] for c in ["doc_id", "mention_pos", "alias", "qid_pred", "prob"]}
                )
                continue
            toks = pdf["_ctx_toks"]
            if encoder is None:
                ctx = np.zeros((n, dim), dtype=np.float64)
                for i, tl in enumerate(toks):
                    ctx[i] = featurize_tokens(list(tl), dim)
            else:
                ctx = encoder([" ".join(tl) for tl in toks], dim)
            cl = [cands[a] for a in pdf["alias"]]
            ent, mask = candidate_matrix(cl, qid2row, mat)
            probs, arg = score_batch(ctx, ent, mask)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mention_pos": pdf["mention_pos"],
                    "alias": pdf["alias"],
                    "qid_pred": [
                        cl[i][arg[i]] if mask[i].any() else "-1" for i in range(n)
                    ],
                    "prob": probs[np.arange(n), arg],
                }
            )

    compact = mentions.select(
        "doc_id",
        "mention_pos",
        "alias",
        context_tokens_expr(F.col("_arr"), F.col("_tok_idx"), window).alias("_ctx_toks"),
    )
    out = compact.mapInPandas(_score, out_schema)
    return out.where((F.col("qid_pred") != "-1") & (F.col("prob") > F.lit(threshold)))


def link_neural_relational(
    mentions: DataFrame,
    cand_embs_flat: DataFrame,
    dim: int = S.EMB_DIM,
    window: int = S.MAX_SEQ_WINDOW_LEN,
    threshold: float = S.PROB_THRESHOLD,
) -> DataFrame:
    """④ over mention rows carrying ``_arr``/``_tok_idx`` (from
    ``extract_mentions_ngram_relational(keep_arr=True)``): score at
    mention grain (:func:`score_mentions_relational`), then join the
    span/url attribute columns back on (doc_id, mention_pos). The
    attribute side re-derives the mention frame — callers that only
    need (doc_id, qid_pred), like the triples path, should call the
    scorer directly and skip this join."""
    scored = score_mentions_relational(
        mentions, cand_embs_flat, dim=dim, window=window, threshold=threshold
    )
    attrs = mentions.drop("_arr", "_tok_idx")
    return attrs.join(scored.drop("alias"), ["doc_id", "mention_pos"])
