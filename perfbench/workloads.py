"""The three benchmark workloads.

Each workload generates its corpus from the seed, sets up (Spark session
plus ``KgPipeline`` or the documents read), runs one discarded warm-up
operation, then repeats its operation until ``seconds`` have passed
(at least once). Every operation ends by publishing its result as a
snapshot table and reading it back by key, which is how the result is
served; those reads are the lookups. Output checks run outside the timed
region.

- ``web_build``: ``plans.pipeline.snapshot_triples`` — the full batch
  build of the corpus into a graph table — then subject lookups.
- ``crawl_increments``: a round on fresh tables runs ``batches`` cycles;
  per cycle, one crawl batch is appended to the pages table
  (``snaptable.commit_stream_batch``) and folded into the graph by
  ``plans.pipeline.incremental_kg_update``. Subject lookups follow the
  round, on the grown graph. The warm-up is the round's first
  ``WARMUP_CYCLES`` cycles on throw-away tables.
- ``near_dup``: ``dedup.dedup_keep(docs, dedup.minhash_verified_pairs(
  docs))`` published as a keep-flag table, then doc-id lookups.
"""

from __future__ import annotations

import importlib.util
import itertools
import os
import pickle
import re
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, corpus
from perfbench.tracing import SparkActions, Tracer, force

# near-dup Jaccard threshold: the DuckDB oracle's minhash_verified_pairs
# query, which checks near_dup, is written for this value
THRESHOLD = 0.2
WARMUP_CYCLES = 1  # crawl cycles in the discarded warm-up
NEAR_DUP_SETUP_REPS = 3  # set-ups per near_dup run; setup_s is their median


@dataclass
class Ctx:
    root: str
    tmp: str
    workload: str
    seed: int
    seconds: float
    shape: dict
    cores: int
    tracer: Tracer | None = None
    attempted: int = 0
    problems: list[str] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    op_docs: list[int] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.problems.append(f"{name}: " + "; ".join(problems))

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


# ---------------------------------------------------------------------------
# shared steps
# ---------------------------------------------------------------------------

def start_spark(ctx: Ctx):
    from bootleg_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=ctx.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": ctx.path("spark-local"),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('jvm-tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop any live SparkContext, then the JVM that PySpark launched,
    and wait for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_corpus(ctx: Ctx) -> tuple[str, list[dict]]:
    rows = corpus.generate(ctx.seed, ctx.shape)
    return corpus.write_documents(rows, ctx.path("corpus")), rows


def build_pipeline(ctx: Ctx, spark, docs_dir: str):
    """``KgPipeline(spark, docs_dir)``; traced, it also forces the dims
    inside a ``synth.build_dims`` span and sizes the broadcasts."""
    from bootleg_spark.plans import pipeline as P

    t = ctx.tracer
    if t is None:
        return P.KgPipeline(spark, docs_dir)

    def wrap_build_dims(orig):
        def shim(spark_, sf_dir):
            with t.span("synth.build_dims") as rec:
                dims = orig(spark_, sf_dir)
                n_aliases = dims["aliases"].count()
                force(dims["entities"])
                force(dims["alias_cands"])
                n_rel = dims["kg_relations"].count()
            t.add("synth.build_dims_s", rec["end"] - rec["start"])
            t.add("synth.aliases", n_aliases)
            t.add("synth.kg_relations", n_rel)
            return dims

        return shim

    with t.patch((P, "build_dims", wrap_build_dims)):
        pipe = t.timed("pipeline.init_s", P.KgPipeline, spark, docs_dir)
    t.add(
        "pipeline.broadcast_bytes",
        sum(
            len(pickle.dumps(bc.value, protocol=pickle.HIGHEST_PROTOCOL))
            for bc in (pipe.alias_set_bc, pipe.cand_dict_bc, pipe.ent_matrix_bc, pipe.rel_dict_bc)
        ),
    )
    return pipe


def timed_setup(ctx: Ctx, body):
    """Run ``body()`` as one set-up; record its wall time in ``setup_s``."""
    t0 = time.perf_counter()
    out = body()
    ctx.setup_s.append(time.perf_counter() - t0)
    return out


def pipeline_setup(ctx: Ctx, docs_dir: str):
    def body():
        if ctx.tracer is None:
            spark = start_spark(ctx)
        else:
            spark = ctx.tracer.timed("session.get_spark_s", start_spark, ctx)
        return spark, build_pipeline(ctx, spark, docs_dir)

    return timed_setup(ctx, body)


def lookup(spark, table: str, col: str, key):
    """Entity-centric read: manifest-pruned scan plus the exact filter."""
    from pyspark.sql import functions as F

    from bootleg_spark.sources import snaptable as st

    return st.read_table(spark, table, prune=(col, "=", key)).where(F.col(col) == key).collect()


def run_lookups(ctx: Ctx, spark, table: str, col: str, queries, expected: dict, exact: bool, project):
    for key in queries:
        t0 = time.perf_counter()
        rows = lookup(spark, table, col, key)
        ctx.lookup_ms.append(1000.0 * (time.perf_counter() - t0))
        ctx.check(f"lookup {key}", checks.check_lookup(map(project, rows), expected.get(key, set()), exact))


def stratified(rng: np.random.Generator, keys: list, n: int) -> list:
    """One random key from each of ``n`` equal slices of sorted ``keys``:
    every run covers the whole key order, which decides how many files a
    manifest-pruned read opens."""
    keys = sorted(keys)
    edges = np.linspace(0, len(keys), n + 1)
    return [keys[int(rng.integers(int(lo), max(int(lo) + 1, int(hi))))] for lo, hi in zip(edges, edges[1:])]


def pick_queries(rng: np.random.Generator, present: list, absent: list, n: int) -> list:
    """``n`` keys, half present in the result table and half absent."""
    k = n // 2 if present else 0
    p, a = stratified(rng, present, k), stratified(rng, absent, n - k)
    return [x for pair in zip(p, a) for x in pair] + a[len(p):]


def repeat(ctx: Ctx, op) -> None:
    """One discarded ``op(timed=False)``, then ``op(timed=True)`` until
    ``seconds`` have passed (at least once)."""
    ctx.attempted += 1
    op(timed=False)
    deadline = time.perf_counter() + ctx.seconds
    while True:
        ctx.attempted += 1
        op(timed=True)
        if time.perf_counter() >= deadline:
            return


def throughput(ctx: Ctx) -> float:
    """Docs per second of operation time. A crawl round's cycles grow
    with the graph, so crawl pools pages over summed update time; the
    other workloads repeat one fixed-size operation and take the median."""
    if ctx.workload == "crawl_increments":
        return sum(ctx.op_docs) / sum(ctx.op_s)
    return statistics.median(d / s for d, s in zip(ctx.op_docs, ctx.op_s))


def reference_triples(ctx: Ctx, docs_dir: str) -> set:
    """The single-process reference (``scripts/build_neural_golden.py``)."""
    path = os.path.join(ctx.root, "scripts", "build_neural_golden.py")
    spec = importlib.util.spec_from_file_location("_build_neural_golden", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    _, tri, _ = mod.reference_outputs(docs_dir)
    return set(map(tuple, tri[["subj", "pred", "obj"]].itertuples(index=False)))


def by_subject(triples: set) -> dict:
    out: dict = {}
    for t in triples:
        out.setdefault(t[0], set()).add(t)
    return out


def absent_subjects(pipe, present: set) -> list:
    """Entities of the profile that head no expected triple."""
    cands = {q for qs in pipe.cand_dict_bc.value.values() for q in qs}
    return sorted(cands - present)


def triple_of(row) -> tuple:
    return (row["subj"], row["pred"], row["obj"])


# ---------------------------------------------------------------------------
# web_build
# ---------------------------------------------------------------------------

def web_build(ctx: Ctx) -> dict:
    from bootleg_spark.plans.pipeline import snapshot_triples
    from bootleg_spark.sources import snaptable as st

    docs_dir, rows = make_corpus(ctx)
    spark, pipe = pipeline_setup(ctx, docs_dir)
    expected = reference_triples(ctx, docs_dir)
    subjects = by_subject(expected)
    rng = np.random.default_rng(ctx.seed)
    queries = pick_queries(
        rng, sorted(subjects), absent_subjects(pipe, set(subjects)), ctx.shape["lookups_per_op"]
    )
    graph = ctx.path("graph")
    versions = []

    def op(timed: bool) -> None:
        t0 = time.perf_counter()
        snap = snapshot_triples(pipe, graph, mode="overwrite")
        dt = time.perf_counter() - t0
        versions.append(snap["version"])
        if timed:
            ctx.op_s.append(dt)
            ctx.op_docs.append(len(rows))
            run_lookups(ctx, spark, graph, "subj", queries, subjects, True, triple_of)

    run_traced(ctx, spark, op)
    digests = []
    for v in versions:
        got = [triple_of(r) for r in st.read_table(spark, graph, version=v).collect()]
        ctx.check(f"graph v{v} vs reference", checks.check_triples(got, expected))
        digests.append(checks.triple_digest(got))
    ctx.check("repetition digests", checks.check_same_digest(digests))
    layer_passes(ctx, spark, pipe, docs_dir, rows)
    return spark


# ---------------------------------------------------------------------------
# crawl_increments
# ---------------------------------------------------------------------------

def crawl_increments(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from bootleg_spark.plans import pipeline as P
    from bootleg_spark.sources import snaptable as st

    docs_dir, rows = make_corpus(ctx)
    spark, pipe = pipeline_setup(ctx, docs_dir)
    pages = pipe.pages()
    expected = {triple_of(r) for r in pipe.triples(pages).collect()}
    subjects = by_subject(expected)
    rng = np.random.default_rng(ctx.seed)
    queries = pick_queries(
        rng, sorted(subjects), absent_subjects(pipe, set(subjects)), ctx.shape["lookups_per_op"]
    )
    n_batches = ctx.shape["batches"]
    bounds = np.linspace(0, len(rows), n_batches + 1).astype(int).tolist()
    batches = [
        pages.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in zip(bounds, bounds[1:])
    ]
    rounds = itertools.count()

    def op(timed: bool) -> None:
        """One round: every batch appended and folded in, one cycle each,
        then the lookups on the grown graph. The warm-up runs only the
        first ``WARMUP_CYCLES`` cycles, on throw-away tables."""
        k = next(rounds)
        pages_t, graph_t = ctx.path(f"round{k}", "pages"), ctx.path(f"round{k}", "graph")
        if not timed:
            for i in range(WARMUP_CYCLES):
                st.commit_stream_batch(batches[i], pages_t, batch_id=i)
                P.incremental_kg_update(pipe, pages_t, graph_t)
            return
        for i in range(n_batches):
            t0 = time.perf_counter()
            st.commit_stream_batch(batches[i], pages_t, batch_id=i)
            P.incremental_kg_update(pipe, pages_t, graph_t)
            ctx.op_s.append(time.perf_counter() - t0)
            ctx.op_docs.append(bounds[i + 1] - bounds[i])
        run_lookups(ctx, spark, graph_t, "subj", queries, subjects, True, triple_of)
        got = [triple_of(r) for r in st.read_table(spark, graph_t).collect()]
        ctx.check(f"round {k} graph vs pipe.triples(all pages)", checks.check_triples(got, expected))

    run_traced(ctx, spark, op)
    layer_passes(ctx, spark, pipe, docs_dir, rows)
    return spark


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

def oracle_keep(docs_dir: str, rows: list[dict]) -> dict[int, int]:
    """Keep flags from a union-find over the DuckDB oracle's verified
    pairs."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(docs_dir, 'documents.parquet')}')"
        )
        pairs = con.execute(entry.oracle_sql()["minhash_verified_pairs"]).fetchall()
    finally:
        con.close()
    return checks.union_find_keep([r["doc_id"] for r in rows], [(a, b) for a, b, _ in pairs])


def near_dup(ctx: Ctx) -> dict:
    from bootleg_spark.operators import dedup
    from bootleg_spark.sources import snaptable as st
    from bootleg_spark.sources.synth import read_documents

    docs_dir, rows = make_corpus(ctx)
    spark = None

    def body():
        s = start_spark(ctx) if ctx.tracer is None else ctx.tracer.timed(
            "session.get_spark_s", start_spark, ctx
        )
        d = read_documents(s, docs_dir).cache()
        d.count()
        return s, d

    for _ in range(NEAR_DUP_SETUP_REPS):
        if spark is not None:
            spark.stop()
        spark, docs = timed_setup(ctx, body)

    expected = oracle_keep(docs_dir, rows)
    want = {d: {(d, k)} for d, k in expected.items()}
    rng = np.random.default_rng(ctx.seed)
    ids = sorted(expected)
    queries = pick_queries(
        rng, ids, list(range(len(ids), 2 * len(ids))), ctx.shape["lookups_per_op"]
    )
    table = ctx.path("keep")
    versions = []

    def op(timed: bool) -> None:
        t0 = time.perf_counter()
        keep = dedup.dedup_keep(docs, dedup.minhash_verified_pairs(docs, threshold=THRESHOLD))
        snap = st.write_table(keep.repartitionByRange(8, "id"), table, mode="overwrite")
        dt = time.perf_counter() - t0
        versions.append(snap["version"])
        if timed:
            ctx.op_s.append(dt)
            ctx.op_docs.append(len(rows))
            run_lookups(
                ctx, spark, table, "id", queries, want, True, lambda r: (r["id"], r["keep"])
            )

    run_traced(ctx, spark, op)
    for v in versions:
        got = [(r["id"], r["keep"]) for r in st.read_table(spark, table, version=v).collect()]
        ctx.check(f"keep flags v{v} vs oracle union-find", checks.check_keep(got, expected))
    if ctx.tracer is not None:
        pipe = build_pipeline(ctx, spark, docs_dir)
        layer_passes(ctx, spark, pipe, docs_dir, rows, docs=docs)
    return spark


WORKLOADS = {"web_build": web_build, "crawl_increments": crawl_increments, "near_dup": near_dup}


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

def run_traced(ctx: Ctx, spark, op) -> None:
    """Untraced: :func:`repeat`. Traced: :func:`repeat` untraced first
    (the overhead baseline), then one more traced operation with the
    program's public functions wrapped and Spark metrics per action."""
    repeat(ctx, op)
    t = ctx.tracer
    if t is None:
        return
    base = statistics.median(ctx.op_s)
    n_ops = len(ctx.op_s)
    actions = SparkActions(spark, t)
    with t.patch(*crawl_targets(ctx, actions)), actions.action(f"{ctx.workload}.op"):
        op(timed=True)
    traced = statistics.median(ctx.op_s[n_ops:])
    del ctx.op_s[n_ops:], ctx.op_docs[n_ops:]
    t.add("trace.overhead_s", traced - base)


def crawl_targets(ctx: Ctx, actions: SparkActions) -> list:
    """Wrappers for the snapshot-table and pipeline calls of crawl cycles
    and lookups; counts land in the tracer."""
    from bootleg_spark.plans import pipeline as P
    from bootleg_spark.sources import snaptable as st

    t = ctx.tracer
    load = st.load_snapshot  # unwrapped: the shims' own reads are not counted

    def wrap_commit(orig):
        def shim(df, table, batch_id):
            t0 = time.perf_counter()
            snap = orig(df, table, batch_id)
            dt = time.perf_counter() - t0
            if table.endswith("pages"):
                t.add("snaptable.append_s", dt)
            elif snap is not None:
                t.add("snaptable.commit_write_s", snap["write_seconds"])
                t.add("snaptable.commit_meta_s", dt - snap["write_seconds"])
                parent = len(load(table, snap["parent"])["files"]) if snap["parent"] else 0
                t.add("snaptable.files_per_commit", len(snap["files"]) - parent)
            return snap

        return shim

    def wrap_consume(orig):
        def shim(spark, table, group):
            t0 = time.perf_counter()
            got = orig(spark, table, group)
            if got is not None:
                actions.aside(force, got[0])
            t.add("snaptable.consume_s", time.perf_counter() - t0)
            return got

        return shim

    def wrap_update(orig):
        def shim(pipe, pages_table, graph_table, *a, **kw):
            calls = t.counts.get("snaptable.load_snapshot", 0)
            triples = pipe.triples

            def timed_triples(pages=None, *ta, **tkw):
                df = triples(pages, *ta, **tkw)
                t.timed("pipeline.batch_triples_s", actions.aside, force, df)
                return df

            pipe.triples = timed_triples
            jobs = len(actions.jobs())
            try:
                with t.span("pipeline.incremental_kg_update"):
                    out = orig(pipe, pages_table, graph_table, *a, **kw)
            finally:
                del pipe.triples
            t.add("spark.jobs_per_update", len(actions.jobs()) - jobs)
            t.add("snaptable.load_snapshot_calls", t.counts["snaptable.load_snapshot"] - calls)
            return out

        return shim

    def wrap_load_snapshot(orig):
        def shim(*a, **kw):
            t.bump("snaptable.load_snapshot")
            return orig(*a, **kw)

        return shim

    def wrap_plan_files(orig):
        def shim(table, version=None, prune=None):
            t0 = time.perf_counter()
            snap, files = orig(table, version, prune)
            if prune is not None:  # a lookup: record the table it reads
                t.add("snaptable.plan_files_ms", 1000.0 * (time.perf_counter() - t0))
                t.add("snaptable.files_read_per_lookup", len(files))
                t.add("snaptable.graph_files", len(snap["files"]))
                t.add("snaptable.graph_versions", snap["version"])
            return snap, files

        return shim

    return [
        (st, "commit_stream_batch", wrap_commit),
        (st, "consume_appends", wrap_consume),
        (st, "load_snapshot", wrap_load_snapshot),
        (st, "plan_files", wrap_plan_files),
        (P, "incremental_kg_update", wrap_update),
    ]


# ---------------------------------------------------------------------------
# per-layer passes (traced run only)
# ---------------------------------------------------------------------------

PAGE_SAMPLE = 300  # pages replayed by in_process_pass
PROBE_DOCS = 2000  # docs deduplicated by dedup_pass unless near_dup passes its own
PROBE_BATCH = 500  # pages per crawl_probe cycle

def layer_passes(ctx: Ctx, spark, pipe, docs_dir: str, rows: list[dict], docs=None) -> None:
    t = ctx.tracer
    if t is None:
        return
    scan_pass(t, spark, docs_dir)
    in_process_pass(t, pipe, rows, ctx.seed, PAGE_SAMPLE)
    if docs is None:
        from bootleg_spark.sources.synth import read_documents

        docs = read_documents(spark, docs_dir).where(f"doc_id < {PROBE_DOCS}")
    dedup_pass(t, docs)
    if "snaptable.append_s" not in t.samples:
        crawl_probe(ctx, spark, pipe)


def scan_pass(t: Tracer, spark, docs_dir: str) -> None:
    from pyspark.sql import functions as F

    from bootleg_spark.sources.synth import pages_table

    pages = pages_table(spark, docs_dir)
    t.timed("synth.pages_scan_s", force, pages)
    t.add("arrow.html_bytes", pages.select(F.sum(F.length("html"))).first()[0])

    def passthrough(batches):
        for pdf in batches:
            yield pdf.iloc[:0]

    t.timed("arrow.passthrough_s", force, pages.select("html").mapInPandas(passthrough, "html binary"))


# text on which ngram_extract_aliases takes its clean fast path
CLEAN_TEXT = re.compile(r"[A-Za-z0-9 ]*")


def in_process_pass(t: Tracer, pipe, rows: list[dict], seed: int, n: int) -> None:
    """``KgPipeline.triples_fused_local``'s loop over one Arrow batch,
    replayed in this process over a seeded page sample (the batch), timing
    each function it calls: text and mentions per page, then one encoder
    call and one ``score_batch`` call over all of the batch's mentions."""
    from bootleg_spark import synthspec as S
    from bootleg_spark.functions.embedding import score_batch
    from bootleg_spark.functions.textproc import extract_context, extract_html_text, render_page_html
    from bootleg_spark.operators.mentions import ngram_extract_aliases

    aliases = pipe.alias_set_bc.value
    cands = pipe.cand_dict_bc.value
    qid2row, mat = pipe.ent_matrix_bc.value
    rels = pipe.rel_dict_bc.value
    rng = np.random.default_rng(seed)
    sample = [rows[i] for i in rng.choice(len(rows), size=min(n, len(rows)), replace=False)]
    htmls = [render_page_html(r["doc_id"], r["text"]) for r in sample]
    pc = time.perf_counter
    us = {k: 0.0 for k in ("html", "ngram", "ctx")}
    ctx_o, cl_o, bounds = [], [], []
    n_clean = 0
    for html in htmls:
        t0 = pc()
        text = extract_html_text(html)
        t1 = pc()
        ms = ngram_extract_aliases(text, aliases, 1, 6, dict_max_words=pipe.dict_max_words)
        t2 = pc()
        ctxs = [extract_context((s, e), text, S.MAX_SEQ_WINDOW_LEN) for _, s, e in ms]
        t3 = pc()
        us["html"] += t1 - t0
        us["ngram"] += t2 - t1
        us["ctx"] += t3 - t2
        n_clean += CLEAN_TEXT.fullmatch(text) is not None
        bounds.append((len(ctx_o), len(ctx_o) + len(ms)))
        ctx_o += ctxs
        cl_o += [cands[a] for a, _, _ in ms]
    n_mentions = len(ctx_o)
    n_linked = 0
    triples = set()
    feat_s = score_s = 0.0
    if n_mentions:
        t0 = pc()
        feats = pipe.encoder(ctx_o, pipe.dim)
        feat_s = pc() - t0
        k = max(len(c) for c in cl_o)
        ent = np.zeros((n_mentions, k, pipe.dim))
        mask = np.zeros((n_mentions, k), dtype=bool)
        for i, cl in enumerate(cl_o):
            for j, q in enumerate(cl):
                if q in qid2row:
                    ent[i, j] = mat[qid2row[q]]
                    mask[i, j] = True
        t0 = pc()
        probs, arg = score_batch(feats, ent, mask)
        score_s = pc() - t0
        top = probs[np.arange(n_mentions), arg]
        linked = mask.any(axis=1) & (top > S.PROB_THRESHOLD)
        n_linked = int(linked.sum())
        for lo, hi in bounds:
            page_ents = {cl_o[i][arg[i]] for i in range(lo, hi) if linked[i]}
            for q in page_ents:
                for rel, obj in rels.get(q, ()):
                    if obj in page_ents and obj != q:
                        triples.add((q, rel, obj))
    pages_n = len(sample)
    per_mention = max(n_mentions, 1)
    t.add("textproc.extract_html_text_us", 1e6 * us["html"] / pages_n)
    t.add("mentions.ngram_extract_aliases_us", 1e6 * us["ngram"] / pages_n)
    t.add("mentions.per_page", n_mentions / pages_n)
    t.add("mentions.clean_page_share", n_clean / pages_n)
    t.add("textproc.extract_context_us", 1e6 * us["ctx"] / per_mention)
    t.add("embedding.featurize_texts_us", 1e6 * feat_s / per_mention)
    t.add("embedding.score_batch_us", 1e6 * score_s / per_mention)
    t.add("pipeline.linked_share", n_linked / per_mention)
    t.add("triples.out_rows", len(triples))


def dedup_pass(t: Tracer, docs) -> None:
    """Each stage of the near-dup plan forced on its own."""
    from pyspark.sql import functions as F

    from bootleg_spark.operators import dedup

    t.timed("dedup.shingle_arrays_s", force, dedup.doc_shingle_arrays(docs))
    n_cand = dedup.minhash_lsh_pairs(docs).count()
    buckets = dedup.minhash_band_buckets(docs).groupBy("band", "min_hash").count()
    max_bucket = buckets.agg(F.max("count")).first()[0] or 0
    pairs = dedup.minhash_verified_pairs(docs, threshold=THRESHOLD).localCheckpoint(eager=False)
    with t.span("dedup.minhash_verified_pairs") as rec:
        n_ver = pairs.count()
    t.add("dedup.verified_pairs_s", rec["end"] - rec["start"])
    t.timed("dedup.clusters_s", dedup.dup_clusters, pairs)
    keep = dedup.dedup_keep(docs, pairs)
    t.add("dedup.candidate_pairs", n_cand)
    t.add("dedup.max_bucket_members", max_bucket)
    t.add("dedup.verified_pairs", n_ver)
    t.add("dedup.verify_yield", n_ver / n_cand if n_cand else 0.0)
    t.add("dedup.dropped_docs", keep.where("keep = 0").count())


def crawl_probe(ctx: Ctx, spark, pipe) -> None:
    """Two crawl cycles on the workload's own pages, with the crawl
    wrappers installed — for workloads that do not update natively."""
    from pyspark.sql import functions as F

    from bootleg_spark.plans import pipeline as P
    from bootleg_spark.sources import snaptable as st

    t = ctx.tracer
    pages = pipe.pages()
    size = PROBE_BATCH
    pages_t, graph_t = ctx.path("probe", "pages"), ctx.path("probe", "graph")
    actions = SparkActions(spark, t)
    with t.patch(*crawl_targets(ctx, actions)), actions.action("crawl_probe", record=False):
        for i in range(2):
            batch = pages.where((F.col("doc_id") >= i * size) & (F.col("doc_id") < (i + 1) * size))
            st.commit_stream_batch(batch, pages_t, batch_id=i)
            P.incremental_kg_update(pipe, pages_t, graph_t)
        key = st.read_table(spark, graph_t).select("subj").first()
        if key is not None:
            lookup(spark, graph_t, "subj", key[0])
