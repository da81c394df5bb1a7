"""Streaming ingest: incremental triples == batch triples, idempotent."""

import os

import pyspark.sql.functions as F

from bootleg_spark.sources import synth
from bootleg_spark.streaming.ingest import start_triple_stream, triples_for_batch
from tests.conftest import SF_SMOKE


def test_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    dims = synth.build_dims(spark, SF_SMOKE)
    docs = dims["documents"].select("doc_id", "text")

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    # two "crawl arrivals"
    docs.where(F.col("doc_id") % 2 == 0).write.parquet(src + "/part1")
    docs.where(F.col("doc_id") % 2 == 1).write.parquet(src + "/part2")

    q = start_triple_stream(spark, src + "/*", out, dims, docs.schema)
    q.awaitTermination(300)

    got = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .select("subj", "pred", "obj")
        .collect()
    }
    expected = {tuple(r) for r in triples_for_batch(docs, dims).collect()}
    assert got == expected and len(got) > 0

    # restart over the same source: availableNow + checkpoint → no new
    # files to process, and the anti-join merge keeps the store exact
    q2 = start_triple_stream(spark, src + "/*", out, dims, docs.schema)
    q2.awaitTermination(300)
    got2 = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .select("subj", "pred", "obj")
        .collect()
    }
    assert got2 == expected


def test_merge_prunes_to_touched_buckets(spark, tmp_path):
    """The anti-join reads ONLY the store partitions whose bucket
    appears in the batch — per-batch read volume tracks the batch, not
    the store (exact-once preserved across 3 merges)."""
    from bootleg_spark.streaming.ingest import merge_new_triples

    store = str(tmp_path / "triples")
    mk = lambda rows: spark.createDataFrame(rows, ["subj", "pred", "obj"])

    b1 = [(f"Q{i}", "rel", f"Q{i+1}") for i in range(40)]
    touched1 = merge_new_triples(spark, mk(b1), store, n_buckets=64)
    # batch 2: one duplicate + one new triple -> touches few buckets
    b2 = [("Q0", "rel", "Q1"), ("X", "rel", "Y")]
    touched2 = merge_new_triples(spark, mk(b2), store, n_buckets=64)
    assert len(touched2) <= 2 < len(touched1)  # pruned read set
    # batch 3: pure replay of batch 2 -> nothing appended
    touched3 = merge_new_triples(spark, mk(b2), store, n_buckets=64)

    got = {
        tuple(r)
        for r in spark.read.parquet(store).select("subj", "pred", "obj").collect()
    }
    assert got == set(b1) | set(b2)
    # store stays partitioned by the SHARED layout's bucket column on
    # disk (pruning is real; one layout module serves batch + streaming)
    from bootleg_spark.sources.store import BUCKET_COL

    assert any(p.startswith(f"{BUCKET_COL}=") for p in os.listdir(store))


def test_session_windows_streaming_with_watermark(spark, tmp_path):
    """sessionize_windows runs as a Structured Streaming query: session
    state closes via the watermark, and an event arriving later than
    watermark + gap is dropped instead of reopening the session."""
    import datetime as dt

    from bootleg_spark.operators.sessions import sessionize_windows

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(*specs):
        return [(u, i, base + dt.timedelta(seconds=s), float(v)) for i, (u, s, v) in enumerate(specs)]

    cols = ["user_id", "event_id", "ts", "value"]
    # batch 1: user 1 session A (0s, 60s); a later anchor event advances
    # the watermark far past session A. coalesce(1): each batch dir must
    # be ONE file — with maxFilesPerTrigger=1, multiple part files would
    # split a logical batch and the anchor row could process first,
    # advancing the watermark over user 1's rows (flaky drops)
    spark.createDataFrame(
        rows((1, 0, 1.0), (1, 60, 2.0), (2, 40000, 1.0)), cols
    ).coalesce(1).write.parquet(src + "/b1")

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = (
            sessionize_windows(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # fail loudly on timeout instead of reading a partial sink
        assert q.awaitTermination(300), "streaming query did not finish in 300s"

    run_once()
    # batch 2: a LATE event for user 1 (t=120s, far behind the watermark
    # set by user 2's t=40000s event) must be dropped
    spark.createDataFrame(rows((1, 120, 100.0)), cols).coalesce(1).write.parquet(src + "/b2")
    # plus a fresh event to trigger window emission for user 2
    spark.createDataFrame(rows((2, 90000, 5.0)), cols).coalesce(1).write.parquet(src + "/b3")
    run_once()

    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    # user 1's session has exactly the 2 on-time events; the late 100.0
    # never appears anywhere
    assert (1, 2, 3.0) in got
    assert not any(abs(tv - 100.0) < 1e-9 or tv > 99 for _, _, tv in got)


def test_merge_refuses_layout_mismatch(spark, tmp_path):
    """A store written under a different bucket count (or with no layout
    marker at all — pre-versioning) must be refused, not silently merged
    with the wrong partition pruning."""
    import pytest

    from bootleg_spark.streaming.ingest import merge_new_triples

    store_path = str(tmp_path / "triples")
    mk = lambda rows: spark.createDataFrame(rows, ["subj", "pred", "obj"])
    merge_new_triples(spark, mk([("A", "r", "B")]), store_path, n_buckets=64)
    with pytest.raises(ValueError, match="layout"):
        merge_new_triples(spark, mk([("C", "r", "D")]), store_path, n_buckets=32)
    os.remove(os.path.join(store_path, "_LAYOUT"))
    with pytest.raises(ValueError, match="layout"):
        merge_new_triples(spark, mk([("C", "r", "D")]), store_path, n_buckets=64)


def test_linked_pipeline_runs_as_streaming_query(spark, tmp_path):
    """The fused KG linking plan (①–④, one stateless mapInPandas) must
    run unchanged under Structured Streaming: pages stream in as
    parquet files, linked mentions stream out, and the result matches
    the batch run row-for-row. This is the north-star ingest shape —
    a crawl feed linking continuously into the graph store."""
    from pyspark.sql import functions as F

    from bootleg_spark.plans.pipeline import KgPipeline
    from tests.conftest import SF_SMOKE

    pipe = KgPipeline(spark, SF_SMOKE)
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "linked_out")
    ckpt = str(tmp_path / "ckpt")
    pages = pipe.pages()
    pages.write.mode("overwrite").parquet(src)
    stream_pages = spark.readStream.schema(pages.schema).parquet(src)
    q = (
        pipe.linked_fused(stream_pages)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["url"], r["mention_pos"], r["alias"], r["qid_pred"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["url"], r["mention_pos"], r["alias"], r["qid_pred"])
        for r in pipe.linked_fused(spark.read.parquet(src)).collect()
    }
    assert got == want and len(got) > 0


def test_snapshot_stream_exactly_once(spark, tmp_path):
    """Streaming commits to the snapshot table: each micro-batch is one
    version stamped with its batch_id; a restart reprocesses nothing,
    a simulated batch REPLAY (crash between commit and checkpoint) is
    detected by the batch-id watermark and skipped."""
    from bootleg_spark.sources import snaptable as st
    from bootleg_spark.streaming.ingest import start_snapshot_triple_stream

    dims = synth.build_dims(spark, SF_SMOKE)
    docs = dims["documents"].select("doc_id", "text")

    src = str(tmp_path / "src")
    table = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    docs.where(F.col("doc_id") % 2 == 0).write.parquet(src + "/part1")
    docs.where(F.col("doc_id") % 2 == 1).write.parquet(src + "/part2")

    q = start_snapshot_triple_stream(spark, src + "/*", table, ckpt, dims, docs.schema)
    q.awaitTermination(300)

    # each micro-batch commit adds at most one (subj-ranged) data file
    n_files = 0
    for v in range(1, st.latest_version(table) + 1):
        snap = st.load_snapshot(table, v)
        assert len(snap["files"]) - n_files <= 1, (v, len(snap["files"]), n_files)
        n_files = len(snap["files"])

    expected = {tuple(r) for r in triples_for_batch(docs, dims).collect()}
    got = {
        tuple(r)
        for r in st.read_table(spark, table).select("subj", "pred", "obj").collect()
    }
    assert got == expected and len(got) > 0
    v_after = st.latest_version(table)
    last_batch = st.load_snapshot(table)["stream_batch_id"]

    # restart with the same checkpoint: no new input → no new versions
    q2 = start_snapshot_triple_stream(spark, src + "/*", table, ckpt, dims, docs.schema)
    q2.awaitTermination(300)
    assert st.latest_version(table) == v_after

    # simulated replay of an already-committed batch → no-op, no version
    replayed = st.commit_stream_batch(
        triples_for_batch(docs.limit(3), dims), table, last_batch
    )
    assert replayed is None
    assert st.latest_version(table) == v_after
    # ...while a genuinely NEW batch commits the next version
    s = st.commit_stream_batch(
        triples_for_batch(docs.limit(3), dims), table, last_batch + 1
    )
    assert s is not None and s["version"] == v_after + 1
