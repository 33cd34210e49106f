"""Streaming extraction: micro-batch results must equal the batch
pipeline's output (stateless kernels => exact reuse)."""

from __future__ import annotations

from rca_pdf_extraction_pipeline_spark.operators.extraction import extract_documents
from rca_pdf_extraction_pipeline_spark.sources import fixtures
from rca_pdf_extraction_pipeline_spark.streaming import pipeline


def _spans_by_doc(rows):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in rows
    }


def test_file_stream_matches_batch(spark, tmp_path):
    docs = [fixtures.build_golden_doc()] + fixtures.build_parser_branch_docs()
    df = fixtures.docs_to_spark(spark, docs)

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    # two separate files -> at least two micro-batches with maxFiles=1
    df.filter("doc_id = 'golden-doc-w20552'").write.parquet(f"{in_dir}/f1")
    df.filter("doc_id != 'golden-doc-w20552'").write.parquet(f"{in_dir}/f2")

    # flatten dirs: move parquet part files into in_dir root
    import glob
    import shutil
    for i, p in enumerate(sorted(glob.glob(f"{in_dir}/f*/part-*.parquet"))):
        shutil.move(p, f"{in_dir}/docs_{i}.parquet")
    for d in ("f1", "f2"):
        shutil.rmtree(f"{in_dir}/{d}")

    q = pipeline.run_file_stream(spark, in_dir, out_dir, ckpt,
                                 max_files_per_trigger=1)
    try:
        q.processAllAvailable()  # blocks until every input file is committed
    finally:
        q.stop()
        q.awaitTermination(30)

    got = _spans_by_doc(spark.read.parquet(out_dir).collect())
    want = _spans_by_doc(extract_documents(df).collect())
    assert got == want
    assert len(got) == 8


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """Event-time tumbling windows: streaming (complete mode) result ==
    batch result over the same events."""
    from rca_pdf_extraction_pipeline_spark.streaming import windows as W

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ev")
    ev.coalesce(2).write.parquet(in_dir)

    batch = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
             for r in W.windowed_event_counts(ev).collect()}

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (W.windowed_event_counts(stream)
         .writeStream.format("memory").queryName("winagg")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
           for r in spark.sql("select * from winagg").collect()}
    assert got == batch
    assert len(batch) > 10


def test_session_windows_stream_equals_batch(spark, tmp_path):
    """Gap-based session windows: streaming (complete mode) sessions ==
    batch sessions over the same events — one code path, state merged
    by session_window itself."""
    from rca_pdf_extraction_pipeline_spark.operators import sessions

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "sess_ev")
    ev.coalesce(2).write.parquet(in_dir)

    key = ["user_id", "session_start", "session_end"]
    batch = {tuple(r[k] for k in key): (r["n_events"], r["total_value"])
             for r in sessions.sessionize(ev, gap_minutes=30).collect()}

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sessions.sessionize(stream, gap_minutes=30)
         .writeStream.format("memory").queryName("sessagg")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {tuple(r[k] for k in key): (r["n_events"], r["total_value"])
           for r in spark.sql("select * from sessagg").collect()}
    assert got == batch
    assert len(batch) > 5


def test_stateful_running_totals_stream_equals_batch(spark, tmp_path):
    """applyInPandasWithState across micro-batches: the last update per
    user must equal the batch aggregate exactly (integer-cents state, so
    batch boundaries cannot drift the totals)."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.streaming import stateful

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ev_state")
    ev.repartition(3).write.parquet(in_dir)  # 3 files -> >=3 micro-batches

    batch = {r["user_id"]: (r["n"], r["cents"]) for r in
             ev.groupBy("user_id").agg(
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("cents")).collect()}

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stateful.running_user_totals(stream)
         .writeStream.format("memory").queryName("usertotals")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    # memory sink accumulates every update; the final row per user is the
    # one with the highest n_events (monotone), carrying its own cents
    rows = spark.sql(
        "SELECT user_id, max(struct(n_events, total_cents)) AS fin "
        "FROM usertotals GROUP BY user_id").collect()
    got = {r["user_id"]: (r["fin"]["n_events"], r["fin"]["total_cents"])
           for r in rows}
    assert got == batch


# ---- streaming dedup (ingest-time keep-first) -----------------------------

def _dedup_stream_input(spark, tmp_path):
    """Three files -> three micro-batches; duplicates within and across
    batches. Returns (in_dir, batch_df)."""
    import datetime as dt
    rows = [
        # (doc_id, text, event_time, file)
        (1, "alpha body", dt.datetime(2026, 1, 1, 10, 0, 0), 0),
        (2, "beta body", dt.datetime(2026, 1, 1, 10, 0, 10), 0),
        (3, "alpha body", dt.datetime(2026, 1, 1, 10, 0, 20), 1),  # dup of 1
        (4, "gamma body", dt.datetime(2026, 1, 1, 10, 0, 30), 1),
        (5, "beta body", dt.datetime(2026, 1, 1, 10, 0, 40), 2),   # dup of 2
        (6, "alpha body", dt.datetime(2026, 1, 1, 10, 0, 50), 2),  # dup of 1
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "doc_id long, text string, event_time timestamp")
    in_dir = str(tmp_path / "sin")
    for f in (0, 1, 2):
        ids = [r[0] for r in rows if r[3] == f]
        df.filter(df.doc_id.isin(ids)).coalesce(1).write.parquet(
            f"{in_dir}/f{f}")
    import glob
    import shutil
    for i, p in enumerate(sorted(glob.glob(f"{in_dir}/f*/part-*.parquet"))):
        shutil.move(p, f"{in_dir}/docs_{i}.parquet")
    for f in (0, 1, 2):
        shutil.rmtree(f"{in_dir}/f{f}")
    return in_dir, df


def test_stream_dedup_keeps_first_arrival(spark, tmp_path):
    from rca_pdf_extraction_pipeline_spark.streaming import dedup as sdedup

    in_dir, df = _dedup_stream_input(spark, tmp_path)
    stream = (spark.readStream
              .schema("doc_id long, text string, event_time timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = sdedup.dedup_stream(stream, watermark_delay="10 minutes")
    q = (out.writeStream.format("memory").queryName("sdedup")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = sorted(r["doc_id"] for r in spark.sql(
        "SELECT doc_id FROM sdedup").collect())
    assert got == [1, 2, 4]  # first arrival per content; 3/5/6 suppressed

    want = sorted(r["doc_id"] for r in
                  sdedup.batch_keep_first(df).collect())
    assert got == want  # stream == batch keep-first


def test_stream_url_dedup_keeps_first_arrival(spark, tmp_path):
    """Streaming URL dedup == batch keep-first over NORMALIZED urls:
    case/tracking-param/trailing-slash variants collide on arrival."""
    import datetime as dt

    from rca_pdf_extraction_pipeline_spark.streaming import dedup as sdedup

    rows = [
        # (doc_id, url, event_time, file) — 1/3/6 same normalized url
        (1, "https://e.com/x?utm_source=f", dt.datetime(2026, 1, 1, 10, 0, 0), 0),
        (2, "https://other.com/y", dt.datetime(2026, 1, 1, 10, 0, 10), 0),
        (3, "HTTPS://E.com/x", dt.datetime(2026, 1, 1, 10, 0, 20), 1),
        (4, "https://e.com/z", dt.datetime(2026, 1, 1, 10, 0, 30), 1),
        (5, "http://other.com/y", dt.datetime(2026, 1, 1, 10, 0, 40), 2),  # http != https
        (6, "https://e.com/x/", dt.datetime(2026, 1, 1, 10, 0, 50), 2),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "doc_id long, url string, event_time timestamp")
    in_dir = str(tmp_path / "uin")
    import glob
    import shutil
    for f in (0, 1, 2):
        ids = [r[0] for r in rows if r[3] == f]
        df.filter(df.doc_id.isin(ids)).coalesce(1).write.parquet(
            f"{in_dir}/f{f}")
    for i, p in enumerate(sorted(glob.glob(f"{in_dir}/f*/part-*.parquet"))):
        shutil.move(p, f"{in_dir}/urls_{i}.parquet")
    for f in (0, 1, 2):
        shutil.rmtree(f"{in_dir}/f{f}")

    stream = (spark.readStream
              .schema("doc_id long, url string, event_time timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = sdedup.url_dedup_stream(stream, watermark_delay="10 minutes")
    q = (out.writeStream.format("memory").queryName("surl")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = sorted(r["doc_id"] for r in spark.sql(
        "SELECT doc_id FROM surl").collect())
    assert got == [1, 2, 4, 5]  # 3 and 6 collapse into 1; http stays

    want = sorted(r["doc_id"] for r in
                  sdedup.batch_url_keep_first(df).collect())
    assert got == want  # stream == batch keep-first


def test_stream_incremental_pairs_equals_batch(spark, tmp_path):
    """Stream-static LSH ingest == the batch incremental operator: the
    arriving odd-id docs collide with the stored even-id band-key index
    identically whether they arrive as micro-batches or one batch."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import dedup
    from rca_pdf_extraction_pipeline_spark.streaming import dedup as sdedup

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
            .withColumn("event_time",
                        F.to_timestamp(F.lit("2026-01-01 10:00:00"))
                        + F.make_interval(secs=F.col("doc_id"))))
    index_docs = docs.filter("doc_id % 2 = 0")
    new_docs = docs.filter("doc_id % 2 = 1")

    in_dir = str(tmp_path / "inc_in")
    for f in (0, 1):
        new_docs.filter(F.col("doc_id") % 4 == 2 * f + 1) \
            .coalesce(1).write.parquet(f"{in_dir}/f{f}")
    for i, p in enumerate(sorted(glob.glob(f"{in_dir}/f*/part-*.parquet"))):
        shutil.move(p, f"{in_dir}/docs_{i}.parquet")
    for f in (0, 1):
        shutil.rmtree(f"{in_dir}/f{f}")

    idx = dedup.minhash_band_keys(index_docs)
    stream = (spark.readStream
              .schema("doc_id long, text string, event_time timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = sdedup.incremental_pairs_stream(stream, idx)
    q = (out.writeStream.format("memory").queryName("sinc")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = sorted((r["new_id"], r["indexed_id"]) for r in spark.sql(
        "SELECT new_id, indexed_id FROM sinc").collect())
    want = sorted((r["new_id"], r["indexed_id"]) for r in
                  dedup.incremental_candidate_pairs(new_docs, idx).collect())
    assert got == want and len(got) > 0
    assert len(got) == len(set(got))  # pair-dedup state suppressed re-emits


def test_stream_dedup_unbounded_matches(spark, tmp_path):
    from rca_pdf_extraction_pipeline_spark.streaming import dedup as sdedup

    in_dir, df = _dedup_stream_input(spark, tmp_path)
    stream = (spark.readStream
              .schema("doc_id long, text string, event_time timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = sdedup.dedup_stream_unbounded(stream)
    q = (out.writeStream.format("memory").queryName("sdedup2")
         .outputMode("append").trigger(availableNow=True).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {r["content_hash"] for r in spark.sql(
        "SELECT content_hash FROM sdedup2").collect()}
    assert len(got) == 3


def test_hll_registers_stream_equals_batch(spark, tmp_path):
    """Streaming HLL: the register table after consuming the stream ==
    the batch register table over the same rows (monoid merge inside
    the streaming agg), so the batch estimator reads either side."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import sketches as S
    from rca_pdf_extraction_pipeline_spark.streaming import sketches as SS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select(F.col("text").alias("v"))
    in_dir = str(tmp_path / "vals")
    docs.coalesce(3).write.parquet(in_dir)

    batch = {(r["bucket"], r["max_rank"])
             for r in S.hll_registers(docs, "v").collect()}

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (SS.hll_register_stream(stream)
         .writeStream.format("memory").queryName("hllregs")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["bucket"], r["max_rank"])
           for r in spark.sql("select * from hllregs").collect()}
    assert got == batch and len(batch) > 10
    # the batch estimator reads the streamed registers unchanged
    est = S.hll_estimate(spark.sql("select * from hllregs")).collect()
    est_b = S.hll_estimate(S.hll_registers(docs, "v")).collect()
    assert est == est_b


def test_drift_stream_equals_batch(spark, tmp_path):
    """Streaming drift: the bucket-count state after consuming the new
    drop as a stream, joined against the old snapshot's stored counts,
    yields EXACTLY the batch corpus_drift report over the same rows —
    one expression tree, two execution modes."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import profiling as P
    from rca_pdf_extraction_pipeline_spark.streaming import drift as SD

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("source") != "src1")
    new = docs.filter(F.col("source") == "src1")
    in_dir = str(tmp_path / "newdrop")
    new.select("doc_id", "text").coalesce(3).write.parquet(in_dir)

    batch = [tuple(r) for r in
             P.corpus_drift(old, new, n_buckets=64, top_k=10).collect()]

    stream = (spark.readStream
              .schema(new.select("doc_id", "text").schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (SD.drift_bucket_stream(stream, n_buckets=64)
         .writeStream.format("memory").queryName("driftcounts")
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed_counts = spark.sql("select * from driftcounts")
    got = [tuple(r) for r in
           P.drift_from_counts(P.token_bucket_counts(old, n_buckets=64),
                               streamed_counts,
                               n_buckets=64, top_k=10).collect()]
    assert got == batch and len(batch) == 10


def test_interleaved_quality_and_merge_stream_equals_batch(spark, tmp_path):
    """The interleaved curation ops are stateless narrow column
    expressions, so they run unchanged under Structured Streaming —
    a file stream of interleaved tables must produce exactly the
    batch results (quality flags AND merged span sequences)."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import interleaved as I

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(10 + (i * 7) % 30)))
         for i in range(12)], "doc_id long, text string")
    inter = I.synth_interleaved(docs)
    in_dir = str(tmp_path / "in")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    inter.filter("doc_id < 6").coalesce(1).write.parquet(f"{in_dir}/a")
    inter.filter("doc_id >= 6").coalesce(1).write.parquet(f"{in_dir}/b")
    import glob
    import shutil
    for i, p in enumerate(sorted(glob.glob(f"{in_dir}/*/part-*.parquet"))):
        shutil.move(p, f"{in_dir}/inter_{i}.parquet")
    for d in ("a", "b"):
        shutil.rmtree(f"{in_dir}/{d}")

    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    outs = {}
    for name, fn in (("quality", I.interleaved_quality),
                     ("merged", I.merge_adjacent_text)):
        out, ckpt = (str(tmp_path / f"{name}_{d}") for d in ("out", "ckpt"))
        q = (fn(stream).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
        outs[name] = out

    got_q = {r.doc_id: tuple(r)[1:]
             for r in spark.read.parquet(outs["quality"]).collect()}
    want_q = {r.doc_id: tuple(r)[1:]
              for r in I.interleaved_quality(inter).collect()}
    assert got_q == want_q and len(got_q) == 12

    got_m = _spans_by_doc(spark.read.parquet(outs["merged"]).collect())
    want_m = _spans_by_doc(I.merge_adjacent_text(inter).collect())
    assert got_m == want_m


def test_html_main_spans_stream_equals_batch(spark, tmp_path):
    """The raw-HTML extraction family (synth_html markup lift ->
    sentinel-split DOM parse -> in-array Boilerpipe scoring -> span
    assembly) is one narrow stateless map, so it runs unchanged under
    Structured Streaming: a file stream of (doc_id, site, html) pages
    must yield exactly the batch main-content span sequences."""
    from pyspark.sql import functions as F

    from rca_pdf_extraction_pipeline_spark.operators import htmlparse as HP

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(8 + (i * 5) % 40)))
         for i in range(14)], "doc_id long, text string")
    pages = HP.synth_html(docs)
    in_dir = str(tmp_path / "in")
    pages.filter("doc_id < 7").coalesce(1).write.parquet(f"{in_dir}/a")
    pages.filter("doc_id >= 7").coalesce(1).write.parquet(f"{in_dir}/b")
    import glob
    import shutil
    for i, p in enumerate(sorted(glob.glob(f"{in_dir}/*/part-*.parquet"))):
        shutil.move(p, f"{in_dir}/pages_{i}.parquet")
    for d in ("a", "b"):
        shutil.rmtree(f"{in_dir}/{d}")

    schema = spark.read.parquet(in_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out, ckpt = (str(tmp_path / d) for d in ("out", "ckpt"))
    q = (HP.to_spans(stream, content_only=True)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = _spans_by_doc(spark.read.parquet(out).collect())
    want = _spans_by_doc(HP.to_spans(pages, content_only=True).collect())
    assert got == want and len(got) == 14
