"""Structured Streaming surface: readStream twins must equal their
batch formulations when drained with trigger(availableNow); watermark
and incremental-upsert (availableNow + foreachBatch) behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from procoggraph_spark.queries.common import t
from procoggraph_spark.streaming.windows import (
    session_windows_batch,
    session_windows_native,
    sliding_counts,
    streaming_tumbling_counts,
    tumbling_counts,
)
from tests.conftest import SF_SMOKE


def _staged_events(spark, tmp_path):
    ev = t(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(path)
    return ev, path


def test_streaming_equals_batch_tumbling(spark, tmp_path):
    ev, path = _staged_events(spark, tmp_path)
    agg = streaming_tumbling_counts(spark, path, ev.schema, duration="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_counts(ev, duration="1 hour").collect()
    }
    assert stream_rows == batch_rows


def test_sliding_window_multiplicity(spark):
    ev = t(spark, SF_SMOKE, "events")
    slid = sliding_counts(ev, duration="1 hour", slide="30 minutes")
    tumb = tumbling_counts(ev, duration="1 hour")
    # each event lands in exactly 2 sliding windows
    n_slid = slid.agg(F.sum("n")).collect()[0][0]
    n_tumb = tumb.agg(F.sum("n")).collect()[0][0]
    assert n_slid == 2 * n_tumb


def test_session_native_vs_batch(spark):
    """The native session_window groupBy and the gaps-and-islands batch
    formulation must produce identical session sets on static data."""
    ev = t(spark, SF_SMOKE, "events")
    native = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_windows_native(ev, gap="30 minutes").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_windows_batch(ev, gap_minutes=30).collect()
    }
    assert native == batch


def test_session_gap_is_exact_not_whole_seconds(spark):
    """The session gap compares the exact interval, like the oracle's
    `> INTERVAL '30 minutes'`: 1800.5 s splits a session, exactly
    1800 s does not. The first gap runs from .1 s to .6 s past a
    second, so whole epoch seconds would read it as 1800 and merge."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 100_000)
    ts = [t0, t0 + dt.timedelta(seconds=1800.5),
          t0 + dt.timedelta(seconds=1800.5 + 1800)]
    ev = spark.createDataFrame([(1, x) for x in ts], "user_id long, ts timestamp")
    got = sorted(r["n_events"] for r in session_windows_batch(ev, gap_minutes=30).collect())
    assert got == [1, 2]


def test_incremental_upsert_availablenow(spark, tmp_path):
    """The S16 cache pattern under streaming: new files arrive, a
    foreachBatch merge upserts only unseen keys (exactly-once shape)."""
    from procoggraph_spark.sources.cache import KeyedParquetCache

    src = str(tmp_path / "incoming")
    cache_path = str(tmp_path / "cache")
    spark.createDataFrame([("k1", 1.0), ("k2", 2.0)], "k string, v double").write.mode(
        "overwrite"
    ).parquet(src)

    cache = KeyedParquetCache(spark, cache_path, ["k"])
    schema = "k string, v double"

    def merge(batch_df, epoch_id):
        cache.upsert(batch_df)

    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert {r["k"]: r["v"] for r in cache.read().collect()} == {"k1": 1.0, "k2": 2.0}

    # second micro-batch: one colliding key (kept), one new
    spark.createDataFrame([("k2", 99.0), ("k3", 3.0)], schema).write.mode(
        "append"
    ).parquet(src)
    q2 = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q2.awaitTermination(120)
    got = {r["k"]: r["v"] for r in cache.read().collect()}
    assert got == {"k1": 1.0, "k2": 2.0, "k3": 3.0}  # k2 NOT overwritten


def test_stateful_user_totals_equals_batch(spark, tmp_path):
    """applyInPandasWithState running totals, drained availableNow, must
    equal the batch groupBy twin (exact cents discipline end-to-end) —
    including NULL event values, which SQL SUM skips but an unguarded
    pandas fold would turn into int(NaN) and crash the state update,
    and NaN/Inf values, which the batch twin's finite_num gate degrades
    to NULL while an unguarded pandas fold overflows int(Inf)."""
    from pyspark.sql import functions as F

    from procoggraph_spark.streaming.windows import (
        batch_user_totals,
        stateful_user_totals,
    )

    ev, path = _staged_events(spark, tmp_path)
    ev = ev.withColumn(
        "value",
        F.when(F.col("event_id") % 11 == 3, F.lit(None).cast("double"))
        .when(F.col("event_id") % 11 == 5, F.lit(float("nan")))
        .when(F.col("event_id") % 11 == 7, F.lit(float("inf")))
        .otherwise(F.col("value")),
    )
    ev.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    q = (
        stateful_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("usertot")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode can emit a user several times; the last emission wins
    got_df = spark.sql(
        "SELECT user_id, n, total FROM usertot"
    ).toPandas().drop_duplicates("user_id", keep="last")
    got = {r.user_id: (r.n, r.total) for r in got_df.itertuples()}
    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in batch_user_totals(ev).collect()
    }
    assert got == want


def test_incremental_cache_stream_two_stage(spark, tmp_path):
    """availableNow + foreachBatch cache merge: two arrivals, two
    drains; the cache converges to the batch dedup and the second drain
    only processes the new file (checkpointed progress)."""
    from procoggraph_spark.sources.cache import KeyedParquetCache
    from procoggraph_spark.streaming.windows import incremental_cache_stream

    ev = t(spark, SF_SMOKE, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    inbox = str(tmp_path / "inbox")
    first.coalesce(1).write.mode("append").parquet(inbox)

    cache = KeyedParquetCache(spark, str(tmp_path / "cache"), ["event_id"])
    ckpt = str(tmp_path / "ckpt")
    q = incremental_cache_stream(spark, inbox, ev.schema, cache, checkpoint=ckpt)
    q.awaitTermination(120)
    n_first = cache.read().count()
    assert n_first == first.count()

    second.coalesce(1).write.mode("append").parquet(inbox)
    q = incremental_cache_stream(spark, inbox, ev.schema, cache, checkpoint=ckpt)
    q.awaitTermination(120)
    assert cache.read().count() == ev.count()
    # keys are unique after merge (upsert is idempotent on re-delivery)
    assert cache.read().select("event_id").distinct().count() == ev.count()


def test_streaming_dedup_drops_redelivery(spark, tmp_path):
    """The same file delivered twice: the deduped stream must count each
    event once (bounded state via watermark)."""
    from procoggraph_spark.streaming.windows import streaming_dedup

    ev = t(spark, SF_SMOKE, "events")
    inbox = str(tmp_path / "dup_inbox")
    ev.coalesce(1).write.mode("append").parquet(inbox)
    # redelivery with a bumped event time (retry queues rewrite ts):
    # still the same event_id, must still be dropped — state is keyed
    # on the id alone, not (id, ts)
    ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")).select(
        *ev.columns
    ).coalesce(1).write.mode("append").parquet(inbox)

    q = (
        streaming_dedup(spark, inbox, ev.schema)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(*) AS n FROM dedup_stream").collect()[0]["n"]
    assert n == ev.count()


def test_stream_stream_funnel_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (two-sided watermark + time-range
    condition) drained with availableNow must emit exactly the batch
    twin's pairs."""
    from procoggraph_spark.queries.common import t
    from procoggraph_spark.streaming.windows import (
        funnel_join_batch,
        streaming_funnel_join,
    )

    ev = t(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events_funnel")
    ev.write.mode("overwrite").parquet(path)
    ev_m = spark.read.parquet(path)

    expected = sorted(
        (r["first_id"], r["then_id"], r["user_id"])
        for r in funnel_join_batch(ev_m).collect()
    )
    assert expected, "fixture should produce at least one funnel pair"

    joined = streaming_funnel_join(spark, path, ev_m.schema)
    q = (
        joined.writeStream.format("memory")
        .queryName("funnel_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["first_id"], r["then_id"], r["user_id"])
        for r in spark.sql("SELECT * FROM funnel_sink").collect()
    )
    assert got == expected


def test_stream_static_enrich_equals_batch(spark, tmp_path):
    """Stream-static broadcast-dim join under availableNow must equal
    the batch twin (complete output mode: windowed agg result table)."""
    from procoggraph_spark.queries.common import t
    from procoggraph_spark.streaming.windows import (
        enriched_counts_batch,
        streaming_enriched_counts,
    )

    ev = t(spark, SF_SMOKE, "events")
    cust = t(spark, SF_SMOKE, "customer")
    path = str(tmp_path / "events_enrich")
    ev.write.mode("overwrite").parquet(path)
    ev_m = spark.read.parquet(path)

    expected = sorted(
        (str(r["window_start"]), r["c_mktsegment"], r["n"], round(r["sum_value"], 2))
        for r in enriched_counts_batch(ev_m, cust).collect()
    )
    assert expected

    q = (
        streaming_enriched_counts(spark, path, ev_m.schema, cust)
        .writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (str(r["window_start"]), r["c_mktsegment"], r["n"], round(r["sum_value"], 2))
        for r in spark.sql("SELECT * FROM enrich_sink").collect()
    )
    assert got == expected


def test_streaming_cms_converges_to_batch_sketch(spark, tmp_path):
    """CMS over a stream in two arrivals/drains: the cell-wise merged
    sketch must equal the batch sketch of all data (mergeability is
    what makes the sketch streaming-native)."""
    from procoggraph_spark.operators.sketches import cms_build
    from procoggraph_spark.streaming.windows import streaming_cms

    ev = t(spark, SF_SMOKE, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    inbox = str(tmp_path / "cms_inbox")
    sketch_dir = str(tmp_path / "cms_sketch")
    ckpt = str(tmp_path / "cms_ckpt")

    first.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_cms(spark, inbox, ev.schema, key_col="user_id",
                      sketch_dir=sketch_dir, checkpoint=ckpt, width=32)
    q.awaitTermination(120)

    second.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_cms(spark, inbox, ev.schema, key_col="user_id",
                      sketch_dir=sketch_dir, checkpoint=ckpt, width=32)
    q.awaitTermination(120)

    got = {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(sketch_dir).collect()
    }
    want = {
        (r["row_id"], r["bucket"]): r["cnt"]
        for r in cms_build(
            ev.select(F.col("user_id").cast("string").alias("_k")), "_k", width=32
        ).collect()
    }
    assert got == want


def test_streaming_bloom_gate_equals_batch(spark, tmp_path):
    """The stream-static Bloom blocklist gate drained with availableNow
    must flag exactly the same rows as the batch probe — and never miss
    a blocklisted key (no false negatives)."""
    from procoggraph_spark.operators.sketches import bloom_build, bloom_probe
    from procoggraph_spark.streaming.windows import streaming_bloom_gate

    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(100)],
        "doc_id long, text string",
    )
    blocklist = spark.createDataFrame(
        [(f"document body {i}",) for i in (3, 17, 42, 77, 98)], "text string"
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path)

    gated = streaming_bloom_gate(
        spark, path, docs.schema, blocklist, key_col="text"
    )
    q = (
        gated.writeStream.format("memory")
        .queryName("bloom_gate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r["blocked"] for r in spark.sql(
        "SELECT * FROM bloom_gate").collect()}

    bits = bloom_build(blocklist, "text")
    batch = {r["doc_id"]: r["blocked"] for r in bloom_probe(
        docs, "text", bits, flag_col="blocked").collect()}
    assert got == batch
    for i in (3, 17, 42, 77, 98):
        assert got[i] is True  # no false negatives, ever


def test_streaming_chunker_equals_batch(spark, tmp_path):
    """chunk_documents is stateless column algebra, so the same
    expression runs unchanged under readStream; availableNow drain must
    equal the batch chunking exactly."""
    from procoggraph_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(i, "word " * (20 + i)) for i in range(50)], "doc_id long, text string"
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        chunk_documents(stream, id_col="doc_id", text_col="text",
                        chunk_size=60, overlap=10)
        .writeStream.format("memory")
        .queryName("chunks")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM chunks").collect()))
    want = sorted(map(tuple, chunk_documents(
        docs, id_col="doc_id", text_col="text",
        chunk_size=60, overlap=10).collect()))
    assert got == want and len(got) > 50


def test_streaming_classifier_scoring_equals_batch(spark, tmp_path):
    """A trained linear quality model scores an incoming document
    stream with the same stateless column algebra as batch (featurize +
    dot-product fold under readStream); availableNow drain must equal
    the batch scores exactly — the serve-at-ingest half of the
    train-offline/score-online pattern."""
    from procoggraph_spark.operators.classifier import featurize, score, train_logreg
    from procoggraph_spark.operators.text import corpus_keep_decision

    docs = spark.createDataFrame(
        [(i, ("good words " * 12) if i % 2 else "x!") for i in range(60)],
        "doc_id long, text string",
    )
    labeled = featurize(
        docs.withColumn("label", corpus_keep_decision(F.col("text")).cast("int"))
    ).localCheckpoint(eager=True)
    w, b = train_logreg(labeled, iters=10, lr=2.0)

    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    q = (
        score(featurize(stream), w, b)
        .select("doc_id", F.round("prob", 6).alias("prob"))
        .writeStream.format("memory")
        .queryName("scored_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM scored_stream").collect()))
    want = sorted(map(tuple, score(featurize(docs), w, b).select(
        "doc_id", F.round("prob", 6).alias("prob")).collect()))
    assert got == want and len(got) == 60


def test_streaming_incremental_ingest_equals_batch_decisions(spark, tmp_path):
    """The streaming ingest gate must admit exactly the batch
    classifier's 'new' rows: same admitted key SET (which duplicate
    survives is arrival-order-dependent and deliberately unpinned), no
    history key ever admitted, and redelivered files add nothing."""
    from procoggraph_spark.operators.dedup import incremental_ingest_dedup
    from procoggraph_spark.streaming.windows import streaming_incremental_ingest

    docs = t(spark, SF_SMOKE, "documents")
    history = docs.filter(F.col("source") != "src0")
    batch = docs.filter(F.col("source") == "src0")

    inbox = str(tmp_path / "ingest_inbox")
    batch.coalesce(1).write.mode("append").parquet(inbox)
    batch.coalesce(1).write.mode("append").parquet(inbox)  # redelivery

    q = (
        streaming_incremental_ingest(spark, inbox, batch.schema, history)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = spark.sql("SELECT _k, doc_id FROM ingest_stream").collect()

    decisions = incremental_ingest_dedup(history, batch).collect()
    new_ids = {r.doc_id for r in decisions if r.decision == "new"}
    new_keys = {
        r._k
        for r in batch.select(
            "doc_id", F.md5("text").alias("_k")
        ).collect()
        if r.doc_id in new_ids
    }

    # one admitted row per fresh content key, despite the redelivery
    assert len(admitted) == len(new_keys)
    assert {r._k for r in admitted} == new_keys


def test_streaming_ingest_null_text_sentinel(spark, tmp_path):
    """NULL-text edge of the ingest gate: a NULL-text document already
    in history must suppress NULL-text stream arrivals (bare md5(NULL)
    keys are NULL and never join-match — the sentinel key makes the
    stream side match the batch twin), and a redelivered NULL-text file
    adds nothing."""
    from procoggraph_spark.streaming.windows import streaming_incremental_ingest

    history = spark.createDataFrame(
        [(1, None), (2, "kept")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, None), (11, "fresh"), (12, None)], "doc_id long, text string"
    )
    inbox = str(tmp_path / "null_inbox")
    batch.coalesce(1).write.mode("append").parquet(inbox)
    batch.coalesce(1).write.mode("append").parquet(inbox)  # redelivery

    q = (
        streaming_incremental_ingest(spark, inbox, batch.schema, history)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("null_ingest_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = spark.sql("SELECT _k, doc_id FROM null_ingest_stream").collect()
    # only "fresh" is new: both NULL-text arrivals collapse to the
    # sentinel key, which history already holds
    assert [r.doc_id for r in admitted] == [11]
    assert all(r._k is not None for r in admitted)


def test_streaming_ingest_watermarked_dedup_is_key_only(spark, tmp_path):
    """Watermarked path: the same content arriving twice with DIFFERENT
    event times inside the watermark must be admitted once — dedup state
    is keyed on the content key alone (dropDuplicatesWithinWatermark),
    not on (key, event-time)."""
    from procoggraph_spark.streaming.windows import streaming_incremental_ingest

    rows = [
        (1, "same content", "2024-01-01 10:00:00"),
        (2, "same content", "2024-01-01 10:05:00"),  # re-crawl, fresh ts
        (3, "other content", "2024-01-01 10:01:00"),
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string, ts string").select(
        "doc_id", "text", F.col("ts").cast("timestamp").alias("ts")
    )
    inbox = str(tmp_path / "wm_inbox")
    src.coalesce(1).write.parquet(inbox)
    history = spark.createDataFrame([], "doc_id long, text string, ts timestamp")

    q = (
        streaming_incremental_ingest(
            spark, inbox, src.schema, history, ts_col="ts", watermark="1 hour"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_ingest_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = spark.sql("SELECT _k, doc_id FROM wm_ingest_stream").collect()
    keys = [r._k for r in admitted]
    assert len(keys) == 2 and len(set(keys)) == 2


def test_streaming_ivf_pq_index_equals_batch(spark, tmp_path):
    """Vectors arriving on a stream must encode to EXACTLY the index
    rows the batch builder produces for the same corpus and models —
    the continual-ingest face of the ANN index is a stateless
    deterministic map, so an availableNow drain equals the batch
    build row-for-row."""
    from procoggraph_spark.operators.pq import ivf_pq_index_numpy, train_pq
    from procoggraph_spark.operators.similarity import train_centroids
    from procoggraph_spark.queries.common import t as load
    from procoggraph_spark.streaming.windows import streaming_ivf_pq_index
    from tests.conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cents = train_centroids(e, n_cells=16, iterations=2, metric="l2")
    books = train_pq(e, m=16, k=16, dim=64, iterations=2)
    path = str(tmp_path / "vecs")
    e.write.parquet(path)

    idx_stream = streaming_ivf_pq_index(
        spark, path, e.schema, cents, books
    )
    q = (
        idx_stream.writeStream.format("memory")
        .queryName("ivf_pq_stream_idx")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["pq_codes"]))
        for r in spark.sql("SELECT * FROM ivf_pq_stream_idx").collect()
    )
    batch = sorted(
        (r["vec_id"], r["cell"], tuple(r["pq_codes"]))
        for r in ivf_pq_index_numpy(e, cents, books).collect()
    )
    assert got == batch and len(got) > 0


def test_streaming_scd2_matches_iterated_batch(spark, tmp_path):
    """Two CDC micro-batches drained sequentially through
    streaming_scd2 leave the same versioned history as two batch
    scd2_apply passes; a redelivered drain with no new files changes
    nothing (checkpointed exactly-once)."""
    from procoggraph_spark.operators.temporal import (
        scd2_apply,
        scd2_from_snapshot,
    )
    from procoggraph_spark.streaming.windows import streaming_scd2

    inbox = str(tmp_path / "cdc_inbox")
    hist_dir = str(tmp_path / "dim_history")
    ckpt = str(tmp_path / "ckpt")

    d1 = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "k long, attr string"
    )
    d2 = spark.createDataFrame([(2, "B2"), (4, "D")], "k long, attr string")
    schema = d1.schema

    d1.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_scd2(
        spark, inbox, schema, hist_dir, key_col="k", attr_col="attr",
        checkpoint=ckpt,
    )
    q.awaitTermination(120)
    d2.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_scd2(
        spark, inbox, schema, hist_dir, key_col="k", attr_col="attr",
        checkpoint=ckpt,
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(hist_dir).collect()))

    empty = scd2_from_snapshot(
        spark.createDataFrame([], schema), key_col="k", attr_col="attr"
    )
    expect = scd2_apply(
        scd2_apply(empty, d1, key_col="k", attr_col="attr"),
        d2,
        key_col="k",
        attr_col="attr",
    )
    assert got == sorted(map(tuple, expect.collect()))
    assert (1, "A", 1, True) in got and (2, "B", 1, False) in got
    assert (2, "B2", 2, True) in got and (4, "D", 1, True) in got

    # redelivered drain: no new files -> history unchanged
    q = streaming_scd2(
        spark, inbox, schema, hist_dir, key_col="k", attr_col="attr",
        checkpoint=ckpt,
    )
    q.awaitTermination(120)
    again = sorted(map(tuple, spark.read.parquet(hist_dir).collect()))
    assert again == got


def test_streaming_data_card_matches_batch(spark, tmp_path):
    """Two document micro-batches drained through streaming_data_card
    leave exactly the batch operator's card over the union; a
    redelivered drain changes nothing."""
    from procoggraph_spark.operators.text import curation_data_card
    from procoggraph_spark.streaming.windows import (
        read_data_card,
        streaming_data_card,
    )

    docs = t(spark, SF_SMOKE, "documents")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    inbox = str(tmp_path / "docs_inbox")
    card_dir = str(tmp_path / "card")
    ckpt = str(tmp_path / "ckpt_card")

    b1.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_data_card(
        spark, inbox, docs.schema, card_dir, checkpoint=ckpt
    )
    q.awaitTermination(180)
    b2.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_data_card(
        spark, inbox, docs.schema, card_dir, checkpoint=ckpt
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, read_data_card(spark, card_dir).collect()))
    expect = sorted(map(tuple, curation_data_card(docs).select(
        "source", "n_docs", "n_drop_lang", "n_drop_quality",
        "n_drop_repetition", "n_kept", "kept_rate",
    ).collect()))
    assert got == expect

    q = streaming_data_card(
        spark, inbox, docs.schema, card_dir, checkpoint=ckpt
    )
    q.awaitTermination(180)
    assert sorted(map(tuple, read_data_card(spark, card_dir).collect())) == got


def test_streaming_volume_monitor_matches_batch(spark, tmp_path):
    """Two event micro-batches drained through streaming_volume_monitor
    leave exactly the batch operator's anomaly table over the union —
    including hours split ACROSS the two batches (counts merge); a
    redelivered drain changes nothing."""
    from procoggraph_spark.operators.analytics import volume_anomaly
    from procoggraph_spark.streaming.windows import (
        read_volume_anomalies,
        streaming_volume_monitor,
    )

    ev = t(spark, SF_SMOKE, "events")
    # split by event id parity so most hours appear in BOTH batches —
    # the merge must fold same-hour counts, not just append rows
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)

    inbox = str(tmp_path / "events_inbox")
    state_dir = str(tmp_path / "hourly")
    ckpt = str(tmp_path / "ckpt_vol")

    b1.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_volume_monitor(spark, inbox, ev.schema, state_dir, checkpoint=ckpt)
    q.awaitTermination(180)
    b2.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_volume_monitor(spark, inbox, ev.schema, state_dir, checkpoint=ckpt)
    q.awaitTermination(180)

    got = sorted(map(tuple, read_volume_anomalies(spark, state_dir).collect()))
    expect = sorted(map(tuple, volume_anomaly(ev).collect()))
    assert got == expect and len(got) > 0

    q = streaming_volume_monitor(spark, inbox, ev.schema, state_dir, checkpoint=ckpt)
    q.awaitTermination(180)
    assert sorted(map(tuple, read_volume_anomalies(spark, state_dir).collect())) == got


def test_streaming_srm_monitor_matches_batch(spark, tmp_path):
    """Two assignment micro-batches drained through streaming_srm_monitor
    leave exactly the batch ab_assignment_srm table over the union —
    segments split ACROSS batches must merge their arm counts — and a
    redelivered drain changes nothing."""
    from procoggraph_spark.operators.analytics import ab_assignment_srm
    from procoggraph_spark.streaming.windows import (
        read_srm_monitor,
        streaming_srm_monitor,
    )

    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "source")
    # parity split: every segment appears in both batches
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    inbox = str(tmp_path / "assign_inbox")
    state_dir = str(tmp_path / "srm_state")
    ckpt = str(tmp_path / "ckpt_srm")

    b1.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_srm_monitor(
        spark, inbox, b1.schema, state_dir, checkpoint=ckpt
    )
    q.awaitTermination(180)
    b2.coalesce(1).write.mode("append").parquet(inbox)
    q = streaming_srm_monitor(
        spark, inbox, b1.schema, state_dir, checkpoint=ckpt
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, read_srm_monitor(spark, state_dir).collect()))
    expect = sorted(map(tuple, ab_assignment_srm(docs).collect()))
    assert got == expect

    # crash-replay: re-drain with nothing new
    q = streaming_srm_monitor(
        spark, inbox, b1.schema, state_dir, checkpoint=ckpt
    )
    q.awaitTermination(180)
    assert sorted(map(tuple, read_srm_monitor(spark, state_dir).collect())) == got


def test_streaming_equals_batch_tumbling_dirty_ts(spark, tmp_path):
    """The NULL-event-time contract holds across BOTH execution faces:
    a corpus with NULL and band-floor (epoch+1s — epoch zero itself is
    OUT of band since r10: streaming watermark admission cannot
    represent it) timestamps drains to the same windowed counts under
    readStream (where Spark's TimeWindow drops NULL-ts rows natively)
    as the batch twin (which excludes them via the explicit
    _with_event_time boundary) — and neither crashes."""
    ev = t(spark, SF_SMOKE, "events")
    dirty = ev.withColumn(
        "ts",
        F.when(F.col("event_id") % 11 == 3, F.lit(None).cast(ev.schema["ts"].dataType))
        .when(
            F.col("event_id") % 11 == 7,
            F.lit("1970-01-01 00:00:01").cast(ev.schema["ts"].dataType),
        )
        .otherwise(F.col("ts")),
    )
    path = str(tmp_path / "events_dirty")
    dirty.write.mode("overwrite").parquet(path)
    agg = streaming_tumbling_counts(spark, path, dirty.schema, duration="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumb_dirty")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumb_dirty").collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_counts(dirty, duration="1 hour").collect()
    }
    assert stream_rows == batch_rows
    # the band-floor events ARE windowed (a 1970 bucket exists); the
    # NULL-ts events are in neither face's output
    assert any(ws.year == 1970 for ws, _ in batch_rows)
    n_total = dirty.filter(F.col("ts").isNotNull()).count()
    assert sum(n for n, _ in batch_rows.values()) == n_total


def test_streaming_tumbling_corrupted_clock_band(spark, tmp_path):
    """The r09 event-time BAND contract holds on the STREAMING face too
    (round-9 verdict item 7): a raw parquet inbox carrying year-9999
    sentinels and pre-band (year-1500) clocks — timestamps that, left
    ungated, crash F.window's bucket arithmetic at year 10000 and the
    Arrow hop beyond datetime64[ns] — drains through readStream (whose
    _events_stream applies valid_ts at the load) to exactly the counts
    of the batch twin gated with the same valid_ts band. The fuzz
    corpus's extreme-date leg exercises only the batch t() face; this
    pins the symmetric streaming gate."""
    from procoggraph_spark.queries.common import valid_ts

    ev = t(spark, SF_SMOKE, "events")
    ts_type = ev.schema["ts"].dataType
    raw = ev.withColumn(
        "ts",
        F.when(
            F.col("event_id") % 13 == 3,
            F.lit("9999-12-31 23:59:59").cast(ts_type),  # sentinel clock
        )
        .when(
            F.col("event_id") % 13 == 7,
            F.lit("1500-01-01 00:00:00").cast(ts_type),  # pre-band clock
        )
        .when(
            F.col("event_id") % 13 == 9,
            F.lit("1970-01-01 00:00:01").cast(ts_type),  # band floor: kept
        )
        .otherwise(F.col("ts")),
    )
    path = str(tmp_path / "events_corrupted_clock")
    raw.write.mode("overwrite").parquet(path)

    agg = streaming_tumbling_counts(spark, path, raw.schema, duration="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumb_clock")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumb_clock").collect()
    }
    gated = spark.read.parquet(path).withColumn("ts", valid_ts(F.col("ts")))
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_counts(gated, duration="1 hour").collect()
    }
    assert stream_rows == batch_rows
    # out-of-band clocks degraded to NULL and fell out of the windows;
    # the band-floor rows stayed (a 1970 bucket exists in both faces)
    n_in_band = gated.filter(F.col("ts").isNotNull()).count()
    assert n_in_band < raw.count()
    assert sum(n for n, _ in batch_rows.values()) == n_in_band
    assert any(ws.year == 1970 for ws, _ in batch_rows)


def test_streaming_dedup_admits_pre_epoch_clocks(spark, tmp_path):
    """Epoch-floor admission contract (streaming-fuzz finding, r10):
    Spark's initial watermark is epoch zero and
    dropDuplicatesWithinWatermark treats event time <= watermark as
    late, so a pre-epoch/epoch-zero corrupted clock would be silently
    LOST, not deduped. Since r10 the band floor is epoch+1s: the load
    gate degrades such clocks to NULL event time (admitted natively by
    the dedup state), and the operator additionally watermarks a
    clamped _wm_ts copy so even an UNGATED feed cannot lose rows.
    Every event is admitted exactly once; redeliveries still drop."""
    from procoggraph_spark.streaming.windows import streaming_dedup

    ev = t(spark, SF_SMOKE, "events")
    ts_type = ev.schema["ts"].dataType
    dirty = ev.withColumn(
        "ts",
        F.when(F.col("event_id") % 13 == 3, F.lit("1970-01-01 00:00:00").cast(ts_type))
        .when(F.col("event_id") % 13 == 7, F.lit("1969-06-01 12:00:00").cast(ts_type))
        .when(F.col("event_id") % 13 == 9, F.lit(None).cast(ts_type))
        .otherwise(F.col("ts")),
    )
    inbox = str(tmp_path / "pre_epoch_inbox")
    dirty.coalesce(1).write.mode("append").parquet(inbox)
    # bit-exact redelivery of the pre-epoch slice: must still dedup
    dirty.filter(F.col("event_id") % 13 == 7).coalesce(1).write.mode(
        "append"
    ).parquet(inbox)

    q = (
        streaming_dedup(spark, inbox, dirty.schema)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_pre_epoch")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM dedup_pre_epoch").collect()
    ]
    assert len(got) == len(set(got)) == dirty.count()
    # pre-epoch clocks degraded to NULL event time at the load gate —
    # the EVENTS survive (admitted once), their corrupt clocks do not
    kept = {
        r["event_id"]: r["ts"]
        for r in spark.sql("SELECT event_id, ts FROM dedup_pre_epoch").collect()
    }
    pre = [v for k, v in kept.items() if k % 13 in (3, 7)]
    assert pre and all(v is None for v in pre)
    assert all(v is None for k, v in kept.items() if k % 13 == 9)


def test_streaming_volume_monitor_excludes_null_event_time(spark, tmp_path):
    """One corrupted-clock event in a micro-batch (valid_ts degrades it
    to NULL) must NOT plant a NULL bucket_start row in the monitor
    state — a NULL bucket sorts first in the trailing window and
    silently shifts every z-score after it (streaming-face fuzz,
    round 11: 5 phantom rows on the dirty corpus). The served read must
    equal the batch operator, which applies the NULL-event-time filter
    before bucketing."""
    from procoggraph_spark.operators.analytics import volume_anomaly
    from procoggraph_spark.streaming.windows import (
        read_volume_anomalies,
        streaming_volume_monitor,
    )

    ev = t(spark, SF_SMOKE, "events")
    dirty = ev.unionByName(
        ev.limit(3).withColumn(
            "ts", F.lit("9999-12-31 00:00:00").cast("timestamp")
        )
    )
    inbox = str(tmp_path / "vol_inbox")
    state = str(tmp_path / "vol_state")
    dirty.coalesce(1).write.parquet(inbox)
    q = streaming_volume_monitor(
        spark, inbox, dirty.schema, state,
        checkpoint=str(tmp_path / "vol_ckpt"),
    )
    q.awaitTermination(180)
    buckets = spark.read.parquet(state)
    assert buckets.filter(F.col("bucket_start").isNull()).count() == 0
    got = sorted(map(tuple, read_volume_anomalies(spark, state).collect()))
    # batch face through the same valid_ts load gate _events_stream
    # applies (the test writes raw clocks, bypassing t())
    from procoggraph_spark.queries.common import valid_ts

    gated = dirty.withColumn("ts", valid_ts(F.col("ts")))
    want = sorted(map(tuple, volume_anomaly(gated).collect()))
    assert got == want and len(got) > 0


def test_read_srm_monitor_keeps_null_segment(spark, tmp_path):
    """Unattributed traffic (NULL segment) is a REAL segment to
    monitor: the served SRM read must keep it with correct arm counts,
    exactly like the batch operator's NULL-key group and the SQL
    twin's IS NOT DISTINCT FROM. The round-11 streaming-face fuzz
    caught the previous grid formulation equi-joining the NULL segment
    away — both arms zero-filled and the chi2 division crashed."""
    from procoggraph_spark.operators.analytics import ab_assignment_srm
    from procoggraph_spark.streaming.windows import (
        read_srm_monitor,
        streaming_srm_monitor,
    )

    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "source")
    dirty = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("source")
        ),
    )
    inbox = str(tmp_path / "srm_inbox")
    state = str(tmp_path / "srm_state")
    dirty.coalesce(1).write.parquet(inbox)
    q = streaming_srm_monitor(
        spark, inbox, dirty.schema, state,
        checkpoint=str(tmp_path / "srm_ckpt"),
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, read_srm_monitor(spark, state).collect()),
        key=lambda r: (str(r[0]), r[1]),
    )
    want = sorted(
        map(tuple, ab_assignment_srm(dirty).collect()),
        key=lambda r: (str(r[0]), r[1]),
    )
    assert got == want
    assert any(r[0] is None for r in got)


def test_dedup_state_tracks_watermark_not_corpus(spark, tmp_path):
    """State-store bound pin for the representative stateful twin
    (round-11 verdict item 2; the at-size numbers are in BENCH.md via
    tools/streaming_state_probe.py): streaming_dedup's state must hold
    only keys younger than the watermark, NOT every key ever seen.
    A 20k-event corpus spanning 40 hours drains in 4 time-ordered
    chunks + a tick batch 2 h past the corpus max; after every drain
    the state row count stays an order of magnitude below the
    cumulative input, and after the tick (watermark past everything)
    it collapses to the tick rows alone."""
    import json

    from procoggraph_spark.streaming.windows import streaming_dedup

    n, hours = 20_000, 40
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1_704_067_200)
            + (F.col("id") * (hours * 3600) / n).cast("long")
        ).alias("ts"),
        F.pmod(F.col("id"), F.lit(500)).alias("user_id"),
    )
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt")
    # time-ordered arrival: chunk i covers hours [i*10, (i+1)*10)
    chunks = [
        ev.filter(
            (F.col("event_id") >= n * i // 4) & (F.col("event_id") < n * (i + 1) // 4)
        )
        for i in range(4)
    ]
    tick = ev.limit(25).withColumn(
        "ts", F.timestamp_seconds(F.lit(1_704_067_200 + (hours + 2) * 3600))
    ).withColumn("event_id", F.col("event_id") + n)

    state_rows = []
    for chunk in chunks + [tick]:
        chunk.coalesce(1).write.mode("append").parquet(inbox)
        q = (
            streaming_dedup(spark, inbox, ev.schema)
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        last = None
        for p in q.recentProgress:
            d = json.loads(p) if isinstance(p, str) else json.loads(p.json)
            if d.get("stateOperators"):
                last = int(d["stateOperators"][0]["numRowsTotal"])
        state_rows.append(last)

    # per-batch resting state = the trailing-watermark residue (~1 h of
    # arrivals = n/hours keys), never the 5k-row chunk or the growing
    # cumulative corpus; 3x slack absorbs eviction granularity
    per_hour = n // hours
    assert all(s is not None for s in state_rows)
    assert max(state_rows[:-1]) <= 3 * per_hour, state_rows
    # after the tick the watermark passed every earlier event: state is
    # exactly the tick's own keys
    assert state_rows[-1] == 25, state_rows
