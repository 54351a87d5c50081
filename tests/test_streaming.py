"""Structured Streaming ingest tests — file source, availableNow trigger,
memory sink; streaming results checked against the equivalent batch query."""

import json
import time

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.streaming import ingest as SI


def _write_records(path, records):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / "batch0.json", "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


RECORDS = [
    {"id": f"v{i}", "vector": [float(i), 0.0], "metadata": None,
     "ts": f"2026-01-10T12:{i:02d}:00.000Z"}
    for i in range(10)
] + [
    # duplicate id inside the watermark horizon -> dropped by dedup
    {"id": "v0", "vector": [9.0, 9.0], "metadata": None,
     "ts": "2026-01-10T12:00:30.000Z"},
]


def _run_to_memory(stream_df, name, timeout=60):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def test_stream_ingest_dedup_and_events(spark, tmp_path):
    src = tmp_path / "in"
    _write_records(src, RECORDS)
    stream = spark.readStream.schema(
        "id string, vector array<float>, metadata string, ts timestamp"
    ).json(str(src))
    assert stream.isStreaming

    deduped = SI.deduped_ingest(stream, watermark="10 minutes")
    _run_to_memory(deduped, "ev_test")
    out = spark.sql("select * from ev_test").collect()
    assert len(out) == 10  # 11 records, 1 duplicate id dropped
    assert {r["id"] for r in out} == {f"v{i}" for i in range(10)}


def test_curate_stream_matches_batch_gate(spark, tmp_path):
    """Streaming gate == batch gate: the same documents pushed through
    curate_stream (file source, availableNow) carry exactly the signal
    columns and passed verdicts the batch stage computes, and the
    watermarked dedup drops a duplicate id."""
    from pyspark.sql import types as T

    from fabstir_vectordb_spark.functions import text as X

    docs = [
        ("d0", "the quick brown fox jumps over the lazy dog and keeps "
               "running through the quiet field with a steady pace"),
        ("d1", "tiny"),                                  # length gate
        ("d2", "la casa de la familia es grande y los vecinos hablan en "
               "un tono alegre durante la tarde en el barrio"),  # lang gate
        ("d3", " ".join(["spam ham"] * 30)),             # repetition gate
        ("d4", "numbers 111 222 333 444 555 666 777 888 999 000 111 222 "
               "333 444 555"),
    ]
    src = tmp_path / "cin"
    src.mkdir(parents=True, exist_ok=True)
    with open(src / "docs.json", "w") as f:
        for i, (did, text) in enumerate(docs):
            f.write(json.dumps(
                {"id": did, "text": text,
                 "ts": f"2026-01-10T12:{i:02d}:00.000Z"}) + "\n")
        # duplicate id inside the watermark -> dropped
        f.write(json.dumps(
            {"id": "d0", "text": "duplicate copy",
             "ts": "2026-01-10T12:00:30.000Z"}) + "\n")

    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ])
    stream = spark.readStream.format("json").schema(schema).load(str(src))
    gated = SI.curate_stream(stream, token_bounds=(10, 5000))
    _run_to_memory(gated, "curate_test")
    out = {r["id"]: r for r in spark.sql("select * from curate_test").collect()}

    assert len(out) == 5  # duplicate d0 dropped
    # batch replay of the same gate over the same docs
    batch = spark.createDataFrame(docs, "id string, text string")
    toks = X.whitespace_tokens("text")
    expected = {
        r["id"]: r
        for r in batch.withColumn("__toks", toks).select(
            "id",
            X.lang_id("text", "__toks").alias("lang"),
            X.quality_score("text", "__toks").alias("quality"),
            X.token_count_from("__toks").cast("long").alias("n_tokens"),
            X.repetition_ratio_from("__toks", 3).alias("rep_3gram"),
        ).collect()
    }
    for did, exp in expected.items():
        got = out[did]
        assert got["lang"] == exp["lang"]
        assert got["n_tokens"] == exp["n_tokens"]
        assert abs(got["quality"] - exp["quality"]) < 1e-12
        assert abs(got["rep_3gram"] - exp["rep_3gram"]) < 1e-12
        want_pass = (
            10 <= exp["n_tokens"] <= 5000
            and exp["rep_3gram"] <= 0.2
            and exp["lang"] == "en"
            and exp["quality"] >= 0.3
        )
        assert got["passed"] == want_pass, did
    assert not out["d1"]["passed"] and not out["d3"]["passed"]
    assert out["d0"]["passed"]


def test_sessionize_stream_equals_batch(spark, tmp_path, events):
    """sessionize_stream ≡ batch sessionize + session_stats on the same
    fixture, replayed in several micro-batches so sessions SPAN batch
    boundaries (the merging-session state path).  Complete mode emits
    every session including those the final watermark hasn't closed,
    making the bounded-input comparison exact.  The replay is
    UNORDERED (repartition shuffles rows across files), so the
    watermark must exceed the fixture's whole time span or genuinely
    late rows are — correctly — dropped/finalized instead of merged,
    which is engine behavior, not batch parity.  Keys are
    (user, session start) — the batch dense '<user>#<k>' index has no
    streaming meaning, so the batch side is keyed the same way."""
    from fabstir_vectordb_spark.operators.stats import session_stats, sessionize

    ev = events.limit(4000).select("user_id", "ts", "value", "event_id")
    src = tmp_path / "sess_src"
    ev.repartition(6).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double, event_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        SI.sessionize_stream(stream, gap_seconds=3600, watermark="3650 days")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start_us"], r["n_events"],
         r["duration_us"], round(r["sum_value"], 6))
        for r in spark.table("sess_stream").collect()
    }

    batch = session_stats(sessionize(ev, gap_seconds=3600))
    starts = (
        sessionize(ev, gap_seconds=3600)
        .groupBy("user_id", "session_id")
        .agg(F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("start_us"))
    )
    expect = {
        (r["user_id"], r["start_us"], r["n_events"],
         r["duration_us"], round(r["sum_value"], 6))
        for r in batch.join(starts, ["user_id", "session_id"]).collect()
    }
    assert got == expect


def test_sessionize_stream_exact_gap_boundary(spark, tmp_path):
    """Pin the merge boundary: an exactly-gap-sized pause stays
    IN-SESSION (batch semantics: break on strictly-greater gap;
    session_window's merge is inclusive at the window edge), while
    gap+1us breaks.  If a Spark upgrade ever flips the edge to
    exclusive, this fails and sessionize_stream needs a +1us gap
    adjustment to restore batch parity."""
    import json as _json

    src = tmp_path / "gap_src"
    src.mkdir()
    rows = [
        # user 1: second event exactly 60s after the first -> SAME session
        {"user_id": 1, "ts": "2026-01-10T12:00:00.000Z", "value": 1.0, "event_id": 0},
        {"user_id": 1, "ts": "2026-01-10T12:01:00.000Z", "value": 1.0, "event_id": 1},
        # user 2: 60.000001s pause -> TWO sessions
        {"user_id": 2, "ts": "2026-01-10T12:00:00.000Z", "value": 1.0, "event_id": 2},
        {"user_id": 2, "ts": "2026-01-10T12:01:00.000001Z", "value": 1.0, "event_id": 3},
    ]
    with open(src / "b0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double, event_id long"
    ).json(str(src))
    q = (
        SI.sessionize_stream(stream, gap_seconds=60, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("sess_gap")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.table("sess_gap").collect()
    )
    assert got == [(1, 2), (2, 1), (2, 1)]


def test_curate_stream_gopher_repetition_matches_batch(spark, tmp_path):
    """The A1.2 repetition gate on the stream == the batch funnel's
    gopher_repetition drop rule (every signal at or under threshold) on
    the same planted-pathology docs — including a doc the BASE gate
    passes and only the repetition family catches (a duplicated line in
    otherwise low-trigram-repetition prose)."""
    from pyspark.sql import types as T

    from fabstir_vectordb_spark.functions import text as X
    from fabstir_vectordb_spark.operators.repetition import (
        GOPHER_REPETITION_THRESHOLDS,
        repetition_signals,
    )

    long_a = ("the quick brown fox jumps over the lazy dog while the "
              "morning sun rises slowly")
    short_x = "check the daily report"
    long_b = ("a gentle wind moves across the open field and the trees "
              "sway with it")
    docs = [
        # long enough that a single once-occurring 4-gram cannot trip
        # top_4gram_char_frac (the short-doc caveat of the A1.2 family)
        ("d0", "the quick brown fox jumps over the lazy dog and keeps "
               "running through the quiet field with a steady pace "
               "while birds call from distant branches and a narrow "
               "stream turns past smooth stones under clear light as "
               "the afternoon settles into a calm and easy rhythm"),
        # dup_line_frac = 0.5 (> 0.30) but cross-line trigrams stay
        # distinct, so rep_3gram is far under the base 0.2 gate
        ("d1", f"{long_a}\n{short_x}\n{long_b}\n{short_x}"),
        # hammered bigram: both the base gate and top_2gram flag it
        ("d2", " ".join(["good data"] * 40)),
    ]
    src = tmp_path / "grin"
    src.mkdir(parents=True, exist_ok=True)
    with open(src / "docs.json", "w") as f:
        for i, (did, text) in enumerate(docs):
            f.write(json.dumps(
                {"id": did, "text": text,
                 "ts": f"2026-01-10T12:{i:02d}:00.000Z"}) + "\n")
    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ])
    stream = spark.readStream.format("json").schema(schema).load(str(src))
    gated = SI.curate_stream(
        stream, token_bounds=(10, 5000), gopher_repetition=True
    )
    _run_to_memory(gated, "grep_test")
    out = {r["id"]: r for r in spark.sql("select * from grep_test").collect()}

    batch = spark.createDataFrame(docs, "id string, text string")
    sig = {
        r["id"]: r for r in repetition_signals(batch, id_col="id").collect()
    }
    toks = X.whitespace_tokens("text")
    base = {
        r["id"]: r
        for r in batch.withColumn("__toks", toks).select(
            "id",
            X.lang_id("text", "__toks").alias("lang"),
            X.quality_score("text", "__toks").alias("quality"),
            X.token_count_from("__toks").cast("long").alias("n_tokens"),
            X.repetition_ratio_from("__toks", 3).alias("rep_3gram"),
        ).collect()
    }
    for did in ("d0", "d1", "d2"):
        base_pass = (
            10 <= base[did]["n_tokens"] <= 5000
            and base[did]["rep_3gram"] <= 0.2
            and base[did]["lang"] == "en"
            and base[did]["quality"] >= 0.3
        )
        rep_pass = all(
            sig[did][c] <= t for c, t in GOPHER_REPETITION_THRESHOLDS.items()
        )
        assert out[did]["passed"] == (base_pass and rep_pass), did
        # the signal columns ride along for audit, batch-identical
        for c in GOPHER_REPETITION_THRESHOLDS:
            assert abs(out[did][c] - sig[did][c]) < 1e-12, (did, c)
    # d1 is the load-bearing case: base gate passes, A1.2 catches it
    assert (
        10 <= base["d1"]["n_tokens"] <= 5000
        and base["d1"]["rep_3gram"] <= 0.2
        and base["d1"]["lang"] == "en"
        and base["d1"]["quality"] >= 0.3
    ), "fixture drift: d1 must pass the base gate"
    assert sig["d1"]["dup_line_frac"] > 0.30
    assert not out["d1"]["passed"]
    assert out["d0"]["passed"]
    assert not out["d2"]["passed"]


def test_asof_enrich_stream_equals_batch(spark, events, tmp_path):
    """The temporal tier's streaming boundary contract (stream == batch
    for a STATIC right side): asof_enrich_stream over micro-batches must
    union to exactly the batch asof_join over the union of inputs,
    whatever the batch split — as-of is row-local given the right side.
    (A streaming right side is documented out of scope in the helper.)"""
    from fabstir_vectordb_spark.operators.temporal import asof_join

    ev = events.limit(4000)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("rid"))
    )
    src = tmp_path / "asof_src"
    clicks.repartition(5).write.mode("overwrite").parquet(str(src))

    collected = []

    def sink(df, batch_id):
        collected.extend(
            (r["event_id"], r["rid_r"]) for r in df.collect()
        )

    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = SI.asof_enrich_stream(
        stream, views, str(tmp_path / "asof_ckpt"), sink,
        on="user_id", value_cols=["rid"],
    )
    assert q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= 1, "need MULTIPLE micro-batches"

    batch = sorted(
        (r["event_id"], r["rid_r"])
        for r in asof_join(
            clicks, views, on="user_id", value_cols=["rid"]
        ).collect()
    )
    assert sorted(collected) == batch and batch


def test_range_enrich_stream_equals_batch(spark, events, tmp_path):
    """range_enrich_stream completes the temporal tier's streaming
    boundary: streaming points against STATIC intervals must union to
    the batch range_join over the union of inputs, whatever the batch
    split — containment is row-local given the interval side."""
    from fabstir_vectordb_spark.operators.temporal import range_join

    ev = events.limit(4000)
    pts = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    ivs = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("iv_id"))
        .select(
            "user_id",
            "iv_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"),
        )
    )
    src = tmp_path / "range_src"
    pts.repartition(5).write.mode("overwrite").parquet(str(src))

    collected = []

    def sink(df, batch_id):
        collected.extend(
            (r["event_id"], r["iv_id"]) for r in df.collect()
        )

    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = SI.range_enrich_stream(
        stream, ivs, str(tmp_path / "range_ckpt"), sink,
        on="user_id", bucket_seconds=600,
    )
    assert q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= 1, "need MULTIPLE micro-batches"

    batch = sorted(
        (r["event_id"], r["iv_id"])
        for r in range_join(pts, ivs, on="user_id", bucket_seconds=600).collect()
    )
    assert sorted(collected) == batch and batch


def test_interval_enrich_stream_equals_batch(spark, events, tmp_path):
    """interval_enrich_stream: streaming left intervals against a
    STATIC right side union to the batch interval_join over the union
    of inputs — each left interval matches independently."""
    from fabstir_vectordb_spark.operators.temporal import interval_join

    ev = events.limit(4000)
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end"),
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("rid"))
        .select(
            "user_id",
            "rid",
            F.col("ts").alias("rstart"),
            (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("rend"),
        )
    )
    src = tmp_path / "iv_src"
    left.repartition(5).write.mode("overwrite").parquet(str(src))

    collected = []

    def sink(df, batch_id):
        collected.extend((r["event_id"], r["rid"]) for r in df.collect())

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, start timestamp, end timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = SI.interval_enrich_stream(
        stream, right, str(tmp_path / "iv_ckpt"), sink,
        on="user_id",
        left_start="start", left_end="end",
        right_start="rstart", right_end="rend",
        bucket_seconds=600,
    )
    assert q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= 1, "need MULTIPLE micro-batches"

    batch = sorted(
        (r["event_id"], r["rid"])
        for r in interval_join(
            left, right,
            on="user_id",
            left_start="start", left_end="end",
            right_start="rstart", right_end="rend",
            bucket_seconds=600,
        ).collect()
    )
    assert sorted(collected) == batch and batch


def test_resample_stream_equals_batch_binned(spark, tmp_path, events):
    """resample_stream ≡ the batch resample's OBSERVED (non-gap) rows
    on the same fixture, replayed unordered in several micro-batches —
    tumbling windows align to the epoch, so bucket ids match the batch
    floor(epoch_us / step) bit-for-bit.  Complete mode + a watermark
    beyond the fixture span make the bounded comparison exact."""
    from fabstir_vectordb_spark.operators.timeseries import resample

    ev = events.limit(4000).select("user_id", "ts", "value")
    src = tmp_path / "rs_src"
    ev.repartition(6).write.mode("overwrite").parquet(str(src))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    aggs = lambda: {"n": F.count(F.lit(1)), "v": F.avg("value")}  # noqa: E731
    q = (
        SI.resample_stream(
            stream, "user_id", "ts", 21600,
            watermark="3650 days", aggs=aggs(),
        )
        .writeStream.format("memory")
        .queryName("rs_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["bucket"], r["n"], round(r["v"], 6),
         r["bucket_ts"])
        for r in spark.table("rs_stream").collect()
    }
    batch = resample(
        ev.withColumn("ts", F.col("ts").cast("timestamp")),
        "user_id", "ts", 21600, aggs=aggs(),
    ).filter(~F.col("is_gap"))
    expect = {
        (r["user_id"], r["bucket"], r["n"], round(r["v"], 6),
         r["bucket_ts"])
        for r in batch.collect()
    }
    assert got == expect


def test_funnel_chunks_stream_equals_batch(spark, tmp_path, events):
    """funnel_chunks_stream + batch funnel_from_chunks ≡ plain
    funnel(chunk_seconds=...) ≡ plain funnel on the same fixture,
    replayed unordered in micro-batches — the r10 streaming split:
    chunk pre-folds stream under the watermark, the stitch stays
    batch."""
    from fabstir_vectordb_spark.operators.funnel import (
        funnel, funnel_from_chunks,
    )

    ev = events.limit(4000).select("user_id", "ts", "event_type")
    src = tmp_path / "fc_src"
    ev.repartition(6).write.mode("overwrite").parquet(str(src))

    def steps():
        return [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ]

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        SI.funnel_chunks_stream(
            stream, "user_id", steps(), chunk_seconds=21600,
            watermark="3650 days",
        )
        .writeStream.format("memory")
        .queryName("fc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    chunks = spark.table("fc_stream")
    got = {
        (r["user_id"], r["depth"], r["t1"], r["t2"], r["t3"])
        for r in funnel_from_chunks(
            chunks, "user_id", 3, window_seconds=86400
        ).collect()
    }
    for kw in ({}, {"chunk_seconds": 21600}):
        expect = {
            (r["user_id"], r["depth"], r["t1"], r["t2"], r["t3"])
            for r in funnel(
                ev, "user_id", steps(), window_seconds=86400, **kw
            ).collect()
        }
        assert got == expect


def test_retention_activity_stream_equals_batch(spark, tmp_path, events):
    """retention_activity_stream + batch retention_from_activity ≡
    plain retention on the same fixture — per-(key, period) activity
    streams, the cohort fold stays batch."""
    from fabstir_vectordb_spark.operators.funnel import (
        retention, retention_from_activity,
    )

    ev = events.limit(4000).select("user_id", "ts")
    src = tmp_path / "ra_src"
    ev.repartition(5).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        SI.retention_activity_stream(
            stream, "user_id", period_seconds=604800,
            watermark="3650 days",
        )
        .writeStream.format("memory")
        .queryName("ra_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    act = spark.table("ra_stream")
    got = {
        tuple(r)
        for r in retention_from_activity(act, "user_id").collect()
    }
    expect = {
        tuple(r)
        for r in retention(ev, "user_id", period_seconds=604800).collect()
    }
    assert got == expect


def test_summarize_stream_feeds_incremental_reports(spark, tmp_path, events):
    """summarize_stream's sink + merge_summaries + report_from_summary
    ≡ grouped_report over the same events — the corpus report
    refreshed FROM A STREAM, never rescanning history.  Exact-typed
    measures compare bit-for-bit (counts, histogram percentiles,
    capped-set distinct); the float sum compares rounded."""
    from fabstir_vectordb_spark.operators.olap import (
        grouped_report, merge_summaries, report_from_summary,
    )

    ev = events.limit(4000).select("user_id", "ts", "event_type", "value")
    src = tmp_path / "ss_src"
    ev.repartition(6).write.mode("overwrite").parquet(str(src))
    ms = {
        "n": ("count", None),
        "sv": ("sum", "value"),
        "p90": ("approx_p90", "value",
                {"lo": 0.0, "hi": 500.0, "buckets": 64}),
        "du": ("exact_distinct", "user_id", {"cap": 10_000}),
    }
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        SI.summarize_stream(
            stream, ["event_type"], ms,
            chunk_seconds=86400, watermark="3650 days",
        )
        .writeStream.format("memory")
        .queryName("ss_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    sink = spark.table("ss_stream")
    # per-chunk rows merge into the dims-only summary at report time
    rep = report_from_summary(
        merge_summaries(sink.drop("chunk")), ["event_type"], ms,
        mode="rollup",
    )
    batch = grouped_report(ev, ["event_type"], ms, mode="rollup")
    key = lambda r: repr(r[0])  # noqa: E731

    def norm(rows):
        return sorted(
            (
                (r["event_type"], r["g_event_type"], r["n"],
                 round(r["sv"], 6), round(r["p90"], 9), r["du"])
                for r in rows
            ),
            key=lambda t: repr(t[0]),
        )

    assert norm(rep.collect()) == norm(batch.collect())


def test_rolling_stream_equals_batch_composition(spark, tmp_path, events):
    """rolling_stream (sliding windows) ≡ the batch resample +
    rolling_buckets composition on every bucket both sides emit:
    identical sum/count (and mean = their ratio) per (key, trailing
    bucket), over an unordered multi-batch replay."""
    from fabstir_vectordb_spark.operators.timeseries import (
        resample, rolling_buckets,
    )

    ev = events.limit(3000).select("user_id", "ts", "value")
    src = tmp_path / "rs_src"
    ev.repartition(5).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        SI.rolling_stream(
            stream, "user_id", "ts",
            {"s": ("sum", "value"), "c": ("count", "value")},
            window_seconds=21600, slide_seconds=3600,
            watermark="3650 days",
        )
        .writeStream.format("memory")
        .queryName("roll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["bucket"]): (r["c"], r["s"])
        for r in spark.table("roll_stream").collect()
        if r["c"] is not None
    }
    rs = resample(
        ev, "user_id", "ts", 3600,
        aggs={"sv": F.sum("value"), "cv": F.count("value")},
        fill={"sv": ("zero",), "cv": ("zero",)},
    )
    rb = rolling_buckets(
        rs, "user_id",
        {"s": ("sum", "sv_zero"), "c": ("sum", "cv_zero")},
        n_buckets=6,
    )
    want = {
        (r["user_id"], r["bucket"]): (r["c"], r["s"])
        for r in rb.collect()
    }
    common = set(got) & set(want)
    assert common  # fixtures overlap
    for key in common:
        gc, gs = got[key]
        wc, ws = want[key]
        assert gc == wc, (key, gc, wc)
        assert abs((gs or 0.0) - (ws or 0.0)) < 1e-6, (key, gs, ws)
    # every batch bucket whose frame saw an event must exist streamed
    for key, (wc, ws) in want.items():
        if wc and wc > 0:
            assert key in got, key
    with pytest.raises(ValueError, match="multiple"):
        SI.rolling_stream(stream, "user_id", "ts", None,
                          window_seconds=5000, slide_seconds=3600)


def test_rolling_stream_output_name_guards(spark, tmp_path, events):
    """Agg names colliding with the bucket/window metadata columns (or
    keys, or the __ prefix) must raise — a collision would silently
    overwrite the user's aggregate."""
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .parquet(str(tmp_path))
    )
    for bad, msg in (
        ({"bucket": ("sum", "value")}, "bucket/window_start"),
        ({"window_end": ("sum", "value")}, "bucket/window_start"),
        ({"__x": ("sum", "value")}, "reserved"),
        ({"user_id": ("sum", "value")}, "key/timestamp"),
        ({"s": ("sum", "nope")}, "unknown column"),
    ):
        with pytest.raises(ValueError, match=msg):
            SI.rolling_stream(stream, "user_id", "ts", bad)


def test_rolling_stream_distinct_parity(spark, tmp_path, events):
    """Sliding-window distinct counts stream ≡ batch: exact_distinct
    per (key, window) equals a batch groupBy over each trailing
    span, and approx_distinct equals it too at these cardinalities —
    HLL union is set-union semantics, so unordered micro-batch replay
    cannot move the estimate."""
    ev = events.limit(2000).select("user_id", "ts", "event_type")
    src = tmp_path / "rsd_src"
    ev.repartition(5).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        SI.rolling_stream(
            stream, "user_id", "ts",
            {"xd": ("exact_distinct", "event_type"),
             "ad": ("approx_distinct", "event_type")},
            window_seconds=21600, slide_seconds=3600,
            watermark="3650 days",
        )
        .writeStream.format("memory")
        .queryName("roll_stream_d")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["bucket"]): (r["xd"], r["ad"])
        for r in spark.table("roll_stream_d").collect()
    }
    assert got
    # batch oracle: every event contributes to the 6 trailing hourly
    # buckets of its covering sliding windows
    slide_us = 3_600_000_000
    covered = ev.withColumn(
        "b0",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(slide_us)
        ),
    ).select(
        "user_id", "event_type",
        F.explode(
            F.sequence(F.col("b0"), F.col("b0") + F.lit(5))
        ).alias("bucket"),
    )
    want = {
        (r["user_id"], r["bucket"]): r["xd"]
        for r in covered.groupBy("user_id", "bucket")
        .agg(F.count_distinct("event_type").alias("xd"))
        .collect()
    }
    assert set(got) == set(want)
    for key, (xd, ad) in got.items():
        assert xd == want[key], (key, xd, want[key])
        assert ad == want[key], (key, ad, want[key])


def test_rolling_stream_hist_quantile_parity(spark, tmp_path, events):
    """Sliding-window percentiles stream ≡ batch: each window
    aggregates its own fixed-grid histogram from raw values, so the
    estimate is a deterministic function of the window's value
    multiset — identical to a closed-form batch replay of the same
    formula over the covered buckets, regardless of micro-batch
    arrival order."""
    import math

    ev = events.limit(2000).select("user_id", "ts", "value")
    src = tmp_path / "rsq_src"
    ev.repartition(5).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    grid = {"lo": 0.0, "hi": 250.0, "buckets": 25}
    q = (
        SI.rolling_stream(
            stream, "user_id", "ts",
            {"p50": ("hist_quantile", "value", {"q": 0.5, **grid}),
             "c": ("count", "value")},
            window_seconds=21600, slide_seconds=3600,
            watermark="3650 days",
        )
        .writeStream.format("memory")
        .queryName("roll_stream_q")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["bucket"]): r["p50"]
        for r in spark.table("roll_stream_q").collect()
    }
    assert got
    # batch oracle: python replay of the formula per covered bucket
    import collections

    byb = collections.defaultdict(list)
    for r in ev.collect():
        if r["ts"] is None:
            continue
        eb = int(r["ts"].timestamp() * 1e6) // 3_600_000_000
        for off in range(6):
            byb[(r["user_id"], eb + off)].append(r["value"])

    def est(vals, qq=0.5, lo=0.0, hi=250.0, n=25):
        vals = [v for v in vals if v is not None and not math.isnan(v)]
        w = (hi - lo) / n
        cnt = [0] * n
        for v in vals:
            cnt[min(max(int(math.floor((v - lo) / w)), 0), n - 1)] += 1
        tot = sum(cnt)
        if tot == 0:
            return None
        kr, cum = max(1, math.ceil(qq * tot)), 0
        for i, c in enumerate(cnt):
            if cum + c >= kr:
                return lo + w * (i + (kr - cum) / c)
            cum += c

    assert set(got) == set(byb)
    for key, p in got.items():
        want = est(byb[key])
        if want is None:
            assert p is None, (key, p)
        else:
            assert abs(p - want) < 1e-9, (key, p, want)
