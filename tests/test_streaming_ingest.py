"""Streaming ingest tests — reproduce the reference's simulator-driven
behavior (picoprobe/simulator.py + Watcher/CheckPoint semantics):
files dropped into a watched directory are processed exactly once,
across restarts, with the glob filter applied at the source."""

from __future__ import annotations

import os
import time

import pytest

from picoprobedataflow_spark.streaming import loop
from picoprobedataflow_spark.streaming.watch import (
    file_watch_stream,
    run_ingest_stream,
    windowed_event_rates,
)


def _drop(directory: str, name: str, payload: bytes) -> None:
    # simulator.py:30-41 copies files in with unique names
    with open(os.path.join(directory, name), "wb") as f:
        f.write(payload)


def _run_drain(spark, watch_dir, ckpt, out):
    stream = file_watch_stream(spark, watch_dir, glob="*.emd")
    q = run_ingest_stream(stream, ckpt, output_path=out)
    q.awaitTermination(120)


def test_continuous_ingest_runs_until_stopped(spark, tmp_path):
    """``available_now=False`` is the production watch: a loop that
    keeps triggering, so a file dropped after the start is ingested in
    a later micro-batch, and the loop stops only when asked."""
    watch = tmp_path / "incoming"
    watch.mkdir()
    out = str(tmp_path / "manifest")
    q = run_ingest_stream(file_watch_stream(spark, str(watch)),
                          str(tmp_path / "ckpt"), output_path=out,
                          available_now=False)
    try:
        # hidden name first: the source never lists a half-written file
        _drop(str(watch), ".simulator-0-a.emd", b"payload-a")
        os.rename(watch / ".simulator-0-a.emd",
                  watch / "simulator-0-a.emd")
        deadline = time.monotonic() + 90
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            assert q.isActive and time.monotonic() < deadline
            time.sleep(0.2)
        assert q.isActive
    finally:
        q.stop()
    assert not q.isActive
    assert [r.filename for r in spark.read.parquet(out).collect()] == [
        "simulator-0-a.emd"]


def test_drain_timeout_stops_the_loop(spark, tmp_path):
    """A drain that outlasts its timeout is stopped and raises a
    ``TimeoutError`` naming the loop; no query is left running."""
    src = str(tmp_path / "src")
    spark.range(1).write.parquet(src)
    before = {q.id for q in spark.streams.active}

    def _slow(batch, epoch_id):
        time.sleep(3)

    with pytest.raises(TimeoutError, match="slow body drain"):
        loop.drain(spark.readStream.schema("id long").parquet(src),
                   str(tmp_path / "ckpt"), _slow, "slow body", timeout=1)
    assert {q.id for q in spark.streams.active} <= before


def test_exactly_once_across_restarts(spark, tmp_path):
    watch = tmp_path / "incoming"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "manifest")

    _drop(str(watch), "simulator-0-a.emd", b"payload-a")
    _drop(str(watch), "simulator-1-b.emd", b"payload-b")
    _drop(str(watch), "notes.txt", b"ignored")  # S2: suffix filter
    _run_drain(spark, str(watch), ckpt, out)

    first = spark.read.parquet(out)
    names = sorted(r.filename for r in first.collect())
    assert names == ["simulator-0-a.emd", "simulator-1-b.emd"]

    # restart with one new file + the old ones still present (ST2):
    _drop(str(watch), "simulator-2-c.emd", b"payload-c")
    _run_drain(spark, str(watch), ckpt, out)

    second = spark.read.parquet(out)
    names = sorted(r.filename for r in second.collect())
    assert names == ["simulator-0-a.emd", "simulator-1-b.emd",
                     "simulator-2-c.emd"], "old files must not reprocess"


def test_manifest_checksums_match_hashlib(spark, tmp_path):
    import hashlib

    watch = tmp_path / "in"
    watch.mkdir()
    payload = b"deterministic bytes for checksum"
    _drop(str(watch), "simulator-0-x.emd", payload)
    ckpt, out = str(tmp_path / "c"), str(tmp_path / "o")
    _run_drain(spark, str(watch), ckpt, out)
    row = spark.read.parquet(out).collect()[0]
    assert row.sha256 == hashlib.sha256(payload).hexdigest()
    assert row.sha512 == hashlib.sha512(payload).hexdigest()
    assert row.length == len(payload)
    assert row.mime_type == "application/octet-stream"


def test_windowed_rates_stream_equals_batch(spark, tmp_path):
    """The streaming windowed aggregate must agree with its batch twin
    on a replay of the same data (processing one availableNow drain)."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.plans.common import events_us

    ev = events_us(spark, "/root/testdata/sf0.001").withColumn(
        "ts", F.timestamp_micros(F.col("ts")))
    batch = windowed_event_rates(ev, window="1 hour")

    src = str(tmp_path / "events_parquet")
    ev.write.parquet(src)
    stream = (spark.readStream.schema(ev.schema).parquet(src))
    agg = windowed_event_rates(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("rates")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM rates").collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_interval_attribution_join_stream_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join drains (availableNow)
    to the same rows the batch form produces; out-of-window purchases
    attribute to nothing."""
    from datetime import datetime

    from picoprobedataflow_spark.streaming.watch import (
        interval_attribution_join,
    )

    def t(minute):
        return datetime(2024, 1, 1, 10, minute)

    clicks = spark.createDataFrame(
        [(1, t(0)), (1, t(30)), (2, t(5))],
        "user_id long, ts timestamp")
    purchases = spark.createDataFrame(
        # u1 buys at :40 (matches both :0(+1h) and :30 clicks),
        # u2 buys at :50 (within :5+1h), u2 again 11:50 (no click in window)
        [(1, t(40), 9.5), (2, t(50), 3.25),
         (2, datetime(2024, 1, 1, 11, 50), 7.0)],
        "user_id long, ts timestamp, value double")
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.parquet(cdir)
    purchases.write.parquet(pdir)

    batch = {tuple(map(str, r)) for r in
             interval_attribution_join(clicks, purchases).collect()}
    assert len(batch) == 3  # (1,:0)->:40, (1,:30)->:40, (2,:5)->:50

    cs = (spark.readStream.schema("user_id long, ts timestamp")
          .parquet(cdir))
    ps = (spark.readStream
          .schema("user_id long, ts timestamp, value double")
          .parquet(pdir))
    joined = interval_attribution_join(cs, ps)
    q = (joined.writeStream.format("memory")
         .queryName("attrib_sink").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {tuple(map(str, r)) for r in
                spark.sql("SELECT * FROM attrib_sink").collect()}
    assert streamed == batch


def test_content_dedup_within_watermark(spark, tmp_path):
    """ST4 scalable variant EXECUTED through a stream: two files with
    identical bytes inside one micro-batch window — only one survives
    dropDuplicatesWithinWatermark; distinct content passes. Batch
    input takes the plain dropDuplicates path with the same result."""
    from picoprobedataflow_spark.streaming.watch import (
        content_dedup_stream,
        file_watch_stream,
    )

    watch = tmp_path / "in"
    watch.mkdir()
    _drop(str(watch), "simulator-0-a.emd", b"same-bytes")
    _drop(str(watch), "simulator-1-b.emd", b"same-bytes")      # dup content
    _drop(str(watch), "simulator-2-c.emd", b"other-bytes")

    stream = file_watch_stream(spark, str(watch), glob="*.emd")
    deduped = content_dedup_stream(stream, watermark="10 minutes")
    out = str(tmp_path / "out")
    q = (deduped.select("path", "fingerprint")
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    fps = sorted(r.fingerprint for r in rows)
    assert len(rows) == 2 and len(set(fps)) == 2

    # batch twin: same operator, same outcome, no streaming machinery
    import picoprobedataflow_spark.io.binary_files as BF
    batch = BF.scan_binary_dir(spark, str(watch), glob="*.emd")
    got = content_dedup_stream(batch).select("fingerprint").collect()
    assert len(got) == 2


def test_incremental_dedup_stream_equals_full_recompute(spark, tmp_path):
    """Drain a 3-batch document stream through the incremental dedup
    loop: the union of per-epoch pair outputs must equal one full
    minhash_lsh_dedup over the whole corpus — every near-dup pair
    emitted exactly once, in the epoch its later member arrived — and
    the accumulated signature state must equal a fresh full signing."""
    from picoprobedataflow_spark.operators.dedup import (
        minhash_lsh_dedup, minhash_signatures)
    from picoprobedataflow_spark.streaming.dedup_stream import (
        run_incremental_dedup_stream)

    texts = ["the quick brown fox jumps over the lazy dog today",
             "spark shuffles partition rows across the cluster nodes",
             "an entirely unrelated record with very fresh words here"]
    batches = [
        [(0, texts[0]), (1, texts[1])],
        [(2, texts[0]), (3, texts[2])],          # 2 dups 0
        [(4, texts[2]), (5, texts[0] + " nearly")],  # 4 dups 3, 5 near 0/2
    ]
    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    all_rows = []
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string") \
             .coalesce(1).write.parquet(str(in_dir / f"b{i}"))
        all_rows += rows

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(str(in_dir)))
    q = run_incremental_dedup_stream(stream, str(tmp_path / "state"),
                                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got_pairs = spark.read.parquet(str(tmp_path / "state" / "pairs"))
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in got_pairs.collect()}
    # >= 3 epochs ran (one file per trigger)
    assert got_pairs.select("epoch").distinct().count() >= 2

    full = minhash_lsh_dedup(
        spark.createDataFrame(all_rows, "doc_id long, text string"))
    want = {(r.doc_a, r.doc_b): r.est_jaccard for r in full.collect()}
    assert got == want and (0, 2) in got and got[(0, 2)] == 1.0

    got_sigs = (spark.read.parquet(str(tmp_path / "state" / "sigs"))
                .drop("epoch"))
    fresh = minhash_signatures(
        spark.createDataFrame(all_rows, "doc_id long, text string"))
    assert sorted(map(tuple, got_sigs.collect())) == \
        sorted(map(tuple, fresh.collect()))


def test_image_dedup_stream_equals_full_recompute(spark, tmp_path):
    """Drain a 3-batch image stream through the incremental image
    dedup loop: the union of per-epoch pair outputs must equal one
    full image_near_dup_pairs over the whole corpus (every near-dup
    pair once, in the epoch its later member arrived), and the
    accumulated signature state must equal a fresh full
    fingerprinting."""
    import numpy as np

    from picoprobedataflow_spark.operators.multimodal import (
        image_near_dup_pairs, image_phash, make_fake_image)
    from picoprobedataflow_spark.streaming.dedup_stream import \
        run_image_dedup_stream

    w, h = 64, 64
    rng = np.random.default_rng(23)

    def smooth(seed):
        base = np.frombuffer(make_fake_image(w, h, seed=seed),
                             dtype=np.uint8).reshape(h, w)
        x = np.linspace(0, (2 + seed) * np.pi, w)
        y = np.linspace(0, 2 * np.pi, h)
        return (127 + 90 * np.sin(x)[None, :] * np.cos(y)[:, None]
                + 0.05 * (base.astype("f8") - 127))

    def noisy(img):
        return np.clip(img + rng.normal(0, 2.0, img.shape), 0, 255)

    ia, ib = smooth(1), smooth(2)
    batches = [
        [("p0", ia), ("p1", ib)],
        [("p2", noisy(ia)), ("p3", 255.0 - ia)],   # p2 dups p0
        [("p4", noisy(ib)), ("p5", noisy(ia))],    # p4~p1, p5~p0/p2
    ]
    in_dir = tmp_path / "imgs"
    in_dir.mkdir()
    schema = "path string, width int, height int, image binary"
    all_rows = []
    for i, rows in enumerate(batches):
        enc = [(p, w, h, a.astype(np.uint8).tobytes())
               for p, a in rows]
        spark.createDataFrame(enc, schema) \
             .coalesce(1).write.parquet(str(in_dir / f"b{i}"))
        all_rows += enc

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(str(in_dir)))
    q = run_image_dedup_stream(stream, str(tmp_path / "state"),
                               str(tmp_path / "ckpt"), codec="fake")
    q.awaitTermination(120)

    got_pairs = spark.read.parquet(str(tmp_path / "state" / "pairs"))
    got = {(r.doc_a, r.doc_b): r.hamming for r in got_pairs.collect()}
    assert got_pairs.select("epoch").distinct().count() >= 2

    full_df = spark.createDataFrame(all_rows, schema)
    want = {(r.doc_a, r.doc_b): r.hamming
            for r in image_near_dup_pairs(full_df,
                                          codec="fake").collect()}
    assert got == want
    assert ("p0", "p2") in got          # dup found in epoch 2
    assert not any("p3" in p for p in got)  # inverted image: no pair

    got_sigs = (spark.read.parquet(str(tmp_path / "state" / "sigs"))
                .drop("epoch"))
    fresh = image_phash(full_df, codec="fake")
    assert sorted((r.path, r.simhash) for r in got_sigs.collect()) \
        == sorted(map(tuple, fresh.collect()))


def test_catalog_stream_query_equals_batch_twin(spark):
    """streaming_hourly_rates (executes through a real stream) and
    plans.scientific.windowed_event_rates (its batch twin) must emit
    identical rows. Both normalize ts through the ONE shared helper
    (plans.common.ts_to_us — the stream takes its source schema from
    the batch read), so a future events-layout change hits both paths
    or neither; this is the regression test for the round-2 ts-unit
    skew where the stream hardcoded its own conversion."""
    from picoprobedataflow_spark.plans.scientific import (
        windowed_event_rates,
    )
    from picoprobedataflow_spark.plans.streaming_query import (
        streaming_hourly_rates,
    )

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in streaming_hourly_rates(spark, sf).collect()}
    want = {tuple(r) for r in windowed_event_rates(spark, sf).collect()}
    assert got == want and len(want) > 0


def test_session_window_stream_equals_batch(spark):
    """sessionize_events' session_window family executes through a
    REAL stateful stream (round 4); its per-user session counts must
    equal the plain batch session_window aggregation — stream≡batch
    for merging session state, SURVEY §2.9's flagged generalization."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.plans.common import events_us
    from picoprobedataflow_spark.plans.telemetry import sessionize_events

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in sessionize_events(spark, sf)
           .filter(F.col("family") == "session_window").collect()}
    ev = events_us(spark, sf)
    batch = (ev.select("user_id", F.timestamp_micros("ts").alias("tst"))
               .groupBy("user_id", F.session_window("tst", "30 minutes"))
               .agg(F.count("*").alias("n"))
               .groupBy("user_id")
               .agg(F.count("*").cast("long").alias("n_sessions"),
                    F.sum("n").cast("long").alias("n_events")))
    want = {("session_window", r.user_id, r.n_sessions, r.n_events)
            for r in batch.collect()}
    assert got == want and len(want) > 0


def test_session_window_append_mode_holds_back_trailing_sessions(spark):
    """The production sessionization path is append mode + watermark
    into a real sink (not the gate's complete-mode memory drain); this
    pins EXACTLY how its emissions differ. Append emits a session only
    once the watermark (max event time − delay) passes its end, so the
    trailing sessions — each user's last session landing within the
    delay of the stream's max timestamp — are withheld until more data
    arrives, while complete mode emits every session in state:

    - append output is a subset of the complete output;
    - every session that closed strictly before the watermark IS
      emitted (no silent loss);
    - every appended session closed at-or-before the watermark (no
      early emission);
    - the withheld set is exactly the complete-mode sessions at or
      past the watermark, and is non-empty here by construction."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from picoprobedataflow_spark.plans.common import (
        drain_stream_to_local, events_us, stream_events, ts_to_us)

    sf = "/root/testdata/sf0.001"
    gap, delay = "30 minutes", "2 hours"
    src = (ts_to_us(stream_events(spark, sf))
           .select("user_id", F.timestamp_micros("ts").alias("tst")))

    sessions = lambda df: df.groupBy(  # noqa: E731
        "user_id", F.session_window("tst", gap)).agg(
        F.count("*").alias("n"))
    complete = drain_stream_to_local(spark, sessions(src)).collect()
    append = drain_stream_to_local(
        spark, sessions(src.withWatermark("tst", delay)),
        output_mode="append").collect()

    max_ts = events_us(spark, sf).agg(F.max("ts")).head()[0]
    wm = (timedelta(microseconds=max_ts) - timedelta(hours=2)).total_seconds()

    key = lambda r: (r.user_id, r.session_window.start,  # noqa: E731
                     r.session_window.end, r.n)
    end_s = lambda r: r.session_window.end.timestamp()  # noqa: E731
    got_a, got_c = {key(r) for r in append}, {key(r) for r in complete}
    assert got_a < got_c  # proper subset: something is withheld
    for r in complete:
        if end_s(r) < wm:
            assert key(r) in got_a, ("session closed before the "
                                     "watermark must be emitted", key(r))
    for r in append:
        assert end_s(r) <= wm, ("session past the watermark must be "
                                "withheld in append mode", key(r))
    withheld = got_c - got_a
    assert withheld == {key(r) for r in complete if end_s(r) >= wm}
    assert len(withheld) > 0 and len(got_a) > 0


def test_stream_catalog_queries_reinvokable_no_leaks(spark):
    """The driver may invoke a catalog query any number of times in
    one session; the stream-executed entries must return identical
    rows on a second run and leave no memory-sink temp view behind
    (each drain uses a unique name + ephemeral checkpoint, both
    cleaned up in drain_stream_to_local's finally block)."""
    from picoprobedataflow_spark.plans.streaming_query import (
        streaming_hourly_rates,
    )
    from picoprobedataflow_spark.plans.telemetry import sessionize_events

    sf = "/root/testdata/sf0.001"
    for fn in (sessionize_events, streaming_hourly_rates):
        first = sorted(map(tuple, fn(spark, sf).collect()))
        second = sorted(map(tuple, fn(spark, sf).collect()))
        assert first == second and len(first) > 0
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("stream_sink_")]
    assert leaked == []


def test_bucketed_content_dedup_bounded_state_semantics(spark):
    """The ST4 batch twin's explicit trade: duplicates inside one
    horizon bucket collapse (canonical = min id), a duplicate landing
    in a later bucket re-admits — state is bounded by the horizon, not
    by history (vs the reference's unbounded seen-set)."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.streaming.watch import (
        bucketed_content_dedup,
    )

    h = 1_000_000  # 1s horizon in µs
    rows = [
        (1, 100, "a"),          # bucket 0
        (2, 200, "a"),          # bucket 0 dup -> collapses into id 1
        (3, h + 100, "a"),      # bucket 1 -> re-admitted
        (4, 300, "b"),          # bucket 0, different content
    ]
    df = spark.createDataFrame(rows, "event_id long, ts long, fp string")
    out = bucketed_content_dedup(df, F.col("fp"), horizon_us=h)
    got = {(r.fingerprint, r.n_docs, r.canonical_id)
           for r in out.collect()}
    assert got == {("a", 2, 1), ("a", 1, 3), ("b", 1, 4)}


def test_streaming_dq_gate_flags_dirty_batch(spark, tmp_path):
    """The per-micro-batch quality gate: a clean batch passes all
    four checks, a later dirty batch fails exactly its broken ones —
    and the metrics table records both under distinct batch_ids with
    exactly one row per (batch, check)."""
    from picoprobedataflow_spark.streaming.quality import dq_gate_stream

    schema = ("event_id long, event_type string, value double, "
              "props string")
    src = tmp_path / "events_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "metrics")

    clean = spark.createDataFrame(
        [(1, "click", 5.0, "{}"), (2, "view", 10.0, "{}")], schema)
    clean.coalesce(1).write.mode("append").parquet(str(src))
    dq_gate_stream(spark, str(src), ckpt, out, schema)

    dirty = spark.createDataFrame(
        [(3, "bogus", -1.0, None), (3, "view", 7.0, "{}")], schema)
    dirty.coalesce(1).write.mode("append").parquet(str(src))
    dq_gate_stream(spark, str(src), ckpt, out, schema)

    rows = spark.read.parquet(out).collect()
    batches = {r.batch_id for r in rows}
    assert len(batches) == 2
    by_batch = {b: {r.k: r for r in rows if r.batch_id == b}
                for b in batches}
    # one row per (batch, check)
    assert all(len(ch) == 4 for ch in by_batch.values())
    verdicts = {b: all(r.v2 == 1.0 for r in ch.values())
                for b, ch in by_batch.items()}
    clean_b = [b for b, ok in verdicts.items() if ok]
    dirty_b = [b for b, ok in verdicts.items() if not ok]
    assert len(clean_b) == 1 and len(dirty_b) == 1
    bad = by_batch[dirty_b[0]]
    assert bad["completeness_props"].v2 == 0.0
    assert bad["uniqueness_event_id"].v2 == 0.0
    assert bad["domain_event_type"].v2 == 0.0
    assert bad["range_value"].v2 == 0.0
    assert all(r.n == 2 for r in bad.values())


def test_streaming_contamination_gate(spark, tmp_path):
    """The ingest-time decontamination gate: a batch containing a
    benchmark passage is flagged with the right overlap fraction, a
    clean batch emits nothing, and batches are tracked by id."""
    from picoprobedataflow_spark.streaming.quality import \
        contam_gate_stream

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    schema = "doc_id long, text string"
    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "flags")

    dirty = spark.createDataFrame(
        [(1, "intro words alpha beta gamma delta epsilon closing"),
         (2, "totally unrelated content with many other words here")],
        schema)
    dirty.coalesce(1).write.mode("append").parquet(str(src))
    contam_gate_stream(spark, str(src), ckpt, out, bench, schema,
                       threshold=0.05)

    clean = spark.createDataFrame(
        [(3, "nothing shared with the benchmark at all in this one")],
        schema)
    clean.coalesce(1).write.mode("append").parquet(str(src))
    contam_gate_stream(spark, str(src), ckpt, out, bench, schema,
                       threshold=0.05)

    rows = spark.read.parquet(out).collect()
    assert [r.doc_id for r in rows] == [1]
    r = rows[0]
    # doc 1: 6 distinct 3-shingles, 3 of them benchmark shingles
    assert r.n_shingles == 6 and r.n_overlap == 3
    assert abs(r.overlap_frac - 0.5) < 1e-9

    # Bloom-prefiltered drain of the same source from a fresh
    # checkpoint: identical flags (the filter builds once outside
    # the stream; a deliberately tiny 64-bit filter forces false
    # positives, which the exact verify join must remove).
    # 1<<24 bits exceeds BLOOM_LITERAL_MAX_BITS, exercising the
    # round-9 broadcast transport (bloom_filter_df built once outside
    # the stream, words on a 1-row BroadcastExchange) end to end.
    for nb, tag in ((1 << 12, "b1"), (64, "b2"), (1 << 24, "b3")):
        ck2, out2 = str(tmp_path / f"ck_{tag}"), str(tmp_path / tag)
        contam_gate_stream(spark, str(src), ck2, out2, bench, schema,
                           threshold=0.05, bloom_bits_count=nb)
        brows = spark.read.parquet(out2).collect()
        # batch_id is excluded: the fresh checkpoint drains both
        # files in one availableNow batch, renumbering batches.
        assert sorted((x.doc_id, x.n_shingles, x.n_overlap,
                       x.overlap_frac) for x in brows) \
            == sorted((x.doc_id, x.n_shingles, x.n_overlap,
                       x.overlap_frac) for x in rows)


def test_streaming_decontam_equals_batch(spark, tmp_path):
    """The span-decontamination stream: a 2-batch drain produces
    exactly the rows the single batch op produces on the union
    corpus (decontamination is per-doc, so batch boundaries are
    invisible), leaky passages are excised not flagged, and clean
    docs pass through normalized."""
    from picoprobedataflow_spark.operators.dedup import \
        decontaminate_spans
    from picoprobedataflow_spark.streaming.quality import \
        decontam_stream

    bench = spark.createDataFrame(
        [(900, "alpha beta gamma delta")],
        "doc_id long, text string")
    schema = "doc_id long, text string"
    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "cleaned")

    b1 = spark.createDataFrame(
        [(1, "intro alpha beta gamma delta outro"),
         (2, "totally unrelated content here")], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    decontam_stream(spark, str(src), ckpt, out, bench, schema, k=3)

    b2 = spark.createDataFrame(
        [(3, "alpha beta gamma delta"), (4, "")], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    decontam_stream(spark, str(src), ckpt, out, bench, schema, k=3)

    got = spark.read.parquet(out)
    rows = {r.doc_id: r for r in got.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].cleaned == "intro outro" and rows[1].n_removed == 4
    assert rows[2].cleaned == "totally unrelated content here"
    assert rows[3].cleaned == "" and rows[3].n_removed == 4
    assert rows[4].cleaned == "" and rows[4].n_removed == 0
    assert len({rows[1].batch_id, rows[3].batch_id}) == 2  # 2 batches

    # drain ≡ batch: the same corpus through the batch op
    want = sorted(
        (r.doc_id, r.cleaned, r.n_removed, r.n_kept)
        for r in decontaminate_spans(b1.unionByName(b2), bench,
                                     k=3).collect())
    have = sorted((r.doc_id, r.cleaned, r.n_removed, r.n_kept)
                  for r in got.collect())
    assert have == want

    # Bloom-amortized drains of the same source from fresh
    # checkpoints (round 13): identical cleaned rows. 64 bits forces
    # collisions (false positives the exact verify join must remove);
    # 1<<24 exceeds BLOOM_LITERAL_MAX_BITS, exercising the broadcast
    # words tier with the 1-row frame built ONCE outside the loop.
    for nb, tag in ((64, "d1"), (1 << 12, "d2"), (1 << 24, "d3")):
        ck2, out2 = str(tmp_path / f"dck_{tag}"), str(tmp_path / tag)
        decontam_stream(spark, str(src), ck2, out2, bench, schema,
                        k=3, bloom_bits_count=nb)
        bhave = sorted(
            (r.doc_id, r.cleaned, r.n_removed, r.n_kept)
            for r in spark.read.parquet(out2).collect())
        assert bhave == want


def test_streaming_ivf_index_maintenance_equals_batch_layout(
        spark, tmp_path):
    """Draining an embedding stream through the index-maintenance
    loop must leave exactly the rows a single batch ivf_index_write
    lays out for the union corpus, and the serving query over the
    streamed layout must partition-prune on cell and return the
    identical top-k."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.operators import similarity as SIM
    from picoprobedataflow_spark.streaming.index_stream import (
        read_ivf_index, run_ivf_index_stream)

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    cents = SIM.kmeans_centroids(emb, n_clusters=4, n_iter=2)

    # three stream batches covering the corpus, one file per trigger
    in_dir = tmp_path / "vecs"
    in_dir.mkdir()
    n = emb.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        (emb.filter((F.col("vec_id") >= cuts[i])
                    & (F.col("vec_id") < cuts[i + 1]))
            .coalesce(1).write.parquet(str(in_dir / f"b{i}")))

    schema = emb.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true")
              .parquet(str(in_dir)))
    idx_dir = str(tmp_path / "index")
    cent_rows = sorted((int(r.cell), list(r.centroid))
                       for r in cents.collect())
    q = run_ivf_index_stream(stream, cent_rows, idx_dir,
                             str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch_dir = str(tmp_path / "batch_index")
    SIM.ivf_index_write(emb, cents, batch_dir)

    streamed = read_ivf_index(spark, idx_dir)
    got = sorted(map(tuple, streamed.select("vec_id", "cell")
                     .collect()))
    want = sorted(map(tuple, spark.read.parquet(batch_dir)
                      .select("vec_id", "cell").collect()))
    assert got == want and len(got) == n

    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head().embedding]
    served = SIM.ivf_index_search(streamed, cent_rows, qv,
                                  k=5, n_probe=2)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan.split("PartitionFilters")[1][:200], plan
    twin = SIM.ivf_index_search(spark.read.parquet(batch_dir),
                                cent_rows, qv, k=5, n_probe=2)
    assert served.collect() == twin.collect()


def test_streaming_domain_quota_caps_across_batches(spark, tmp_path):
    """Cross-batch domain quota: a single-batch drain is
    row-identical to the batch op; across batches earlier arrivals
    win (first-come admission), rank continues where the domain's
    state left off, and no domain ever exceeds the quota over the
    stream's lifetime — including after a restart from checkpoint
    (the second drain resumes state, it does not re-admit)."""
    from picoprobedataflow_spark.functions import web as WB
    from picoprobedataflow_spark.streaming.quality import (
        domain_quota_stream,
    )

    schema = "doc_id long, url string"
    src = tmp_path / "urls_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "quota")

    b1 = [(i, f"https://big.example.com/p{i}") for i in range(6)] \
        + [(100, "https://tiny.other.org/x")]
    b2 = [(i, f"https://big.example.com/q{i}")
          for i in range(200, 206)] \
        + [(101, "https://tiny.other.org/y")]
    b1df = spark.createDataFrame(b1, schema)
    b1df.coalesce(1).write.mode("append").parquet(str(src))
    domain_quota_stream(spark, str(src), ckpt, out, schema, quota=3)

    # single-batch drain ≡ the batch op (same salted order)
    got1 = sorted((r.doc_id, r.domain, r.rank, r.kept)
                  for r in spark.read.parquet(out).collect())
    want1 = sorted((r.doc_id, r.domain, r.rank, r.kept)
                   for r in WB.domain_quota_sample(
                       b1df, quota=3).collect())
    assert got1 == want1

    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(str(src))
    domain_quota_stream(spark, str(src), ckpt, out, schema, quota=3)

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {*range(6), 100, *range(200, 206), 101}
    # the cap holds over the WHOLE stream
    for dom in ("example.com", "other.org"):
        kept = [r for r in rows.values() if r.domain == dom and r.kept]
        assert len(kept) <= 3
        assert sorted(r.rank for r in kept) == \
            list(range(1, len(kept) + 1))
    # earlier arrivals win: example.com filled its quota in batch 1,
    # so every batch-2 example.com doc is rejected with a NULL rank
    assert {r.doc_id for r in rows.values()
            if r.domain == "example.com" and r.kept} <= set(range(6))
    for i in range(200, 206):
        assert not rows[i].kept and rows[i].rank is None
    # rank CONTINUES across batches: other.org kept 1 in batch 1,
    # its batch-2 doc is admitted as rank 2
    assert rows[100].kept and rows[100].rank == 1
    assert rows[101].kept and rows[101].rank == 2


def test_streaming_boiler_flags_prefix_df_across_batches(spark,
                                                         tmp_path):
    """Cross-batch boilerplate flagging: a single-batch drain flags
    exactly the windows the batch op removes; across batches the
    flag is prefix-df (earlier occurrences keep their unflagged
    verdict, later ones flag once cumulative df reaches min_df, and
    df_after keeps counting); restart resumes state rather than
    re-counting."""
    from picoprobedataflow_spark.operators import dedup as DD
    from picoprobedataflow_spark.streaming.quality import (
        boiler_flag_stream,
    )

    nav = "b1 b2 b3 b4"
    schema = "doc_id long, text string"
    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "flags")

    b1 = [(1, nav + " u1 u2 u3 u4"), (2, nav + " v1 v2 v3 v4"),
          (3, "w1 w2 w3 w4")]
    b1df = spark.createDataFrame(b1, schema)
    b1df.coalesce(1).write.mode("append").parquet(str(src))
    boiler_flag_stream(spark, str(src), ckpt, out, schema,
                       span_w=4, min_df=2)

    # single-batch drain ≡ the batch rule: flagged window count per
    # doc equals the batch op's n_removed
    got1 = spark.read.parquet(out)
    flagged = {r.doc_id: 0 for r in got1.collect()}
    for r in got1.collect():
        flagged[r.doc_id] += int(r.is_boiler)
    batch = {r.doc_id: r.n_removed
             for r in DD.remove_frequent_segments(
                 b1df, span_w=4, min_df=2).collect()}
    assert flagged == batch           # nav flagged in docs 1+2 only

    # batch 2: doc 4 repeats doc 3's window -> its df reaches 2, so
    # doc 4 is flagged NOW while doc 3's batch-1 row stays unflagged
    # (prefix semantics); nav keeps counting (df_after = 3)
    spark.createDataFrame([(4, "w1 w2 w3 w4"), (5, nav)], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    boiler_flag_stream(spark, str(src), ckpt, out, schema,
                       span_w=4, min_df=2)
    rows = {(r.doc_id, r.idx): r
            for r in spark.read.parquet(out).collect()}
    assert not rows[(3, 0)].is_boiler and rows[(3, 0)].df_after == 1
    assert rows[(4, 0)].is_boiler and rows[(4, 0)].df_after == 2
    assert rows[(5, 0)].is_boiler and rows[(5, 0)].df_after == 3
    assert rows[(1, 0)].df_after == 2 and rows[(1, 0)].is_boiler


def test_streaming_robots_gate_equals_batch(spark, tmp_path):
    """The robots-exclusion stream: a 2-batch drain produces exactly
    the verdicts the batch op produces on the union corpus (verdicts
    are per-URL, no cross-batch state), the rules frame is built and
    checkpointed once outside the loop, and batch ids track the
    arrival batch."""
    from picoprobedataflow_spark.functions.web import (
        robots_gate, robots_rules_table)
    from picoprobedataflow_spark.streaming.quality import \
        robots_gate_stream

    rules = robots_rules_table(spark, [
        ("example.com", "/private", False),
        ("example.com", "/private/ok", True),
        ("blocked.org", "/", False),
    ])
    schema = "doc_id long, url string"
    src = tmp_path / "crawl_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "verdicts")

    b1 = spark.createDataFrame(
        [(1, "https://example.com/private/x"),
         (2, "https://example.com/private/ok/y")], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    robots_gate_stream(spark, str(src), ckpt, out, rules, schema)

    b2 = spark.createDataFrame(
        [(3, "https://blocked.org/z"),
         (4, "https://open.net/anything")], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    robots_gate_stream(spark, str(src), ckpt, out, rules, schema)

    got = spark.read.parquet(out)
    rows = {r.doc_id: r for r in got.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert (rows[1].rule, rows[1].allowed) == ("/private", False)
    assert (rows[2].rule, rows[2].allowed) == ("/private/ok", True)
    assert (rows[3].rule, rows[3].allowed) == ("/", False)
    assert (rows[4].rule, rows[4].allowed) == (None, True)
    assert len({rows[1].batch_id, rows[3].batch_id}) == 2

    want = sorted((r.doc_id, r.domain, r.rule, r.allowed)
                  for r in robots_gate(b1.unionByName(b2),
                                       rules).collect())
    have = sorted((r.doc_id, r.domain, r.rule, r.allowed)
                  for r in got.collect())
    assert have == want


def test_streaming_psi_drift_equals_batch(spark, tmp_path):
    """The PSI drift stream: each micro-batch's scoreboard equals
    psi_report(ref, that_batch) exactly (the reference half is built
    once outside the loop and shared), every batch emits the full
    n_buckets-row grid, and a shifted batch scores high PSI while an
    in-distribution batch scores ~0."""
    from picoprobedataflow_spark.operators.drift import psi_report
    from picoprobedataflow_spark.streaming.quality import \
        psi_drift_stream

    ref = spark.createDataFrame([(float(x),) for x in range(1, 101)],
                                "v double")
    schema = "v double"
    src = tmp_path / "vals_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "psi")

    b1 = spark.createDataFrame(
        [(float(x),) for x in range(1, 101)], schema)  # same dist
    b1.coalesce(1).write.mode("append").parquet(str(src))
    psi_drift_stream(spark, str(src), ckpt, out, ref, "v", schema,
                     n_buckets=4)
    b2 = spark.createDataFrame(
        [(float(x) + 60.0,) for x in range(1, 81)], schema)  # shift
    b2.coalesce(1).write.mode("append").parquet(str(src))
    psi_drift_stream(spark, str(src), ckpt, out, ref, "v", schema,
                     n_buckets=4)

    rows = spark.read.parquet(out).collect()
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(r)
    assert len(by_batch) == 2
    assert all(len(v) == 4 for v in by_batch.values())
    psis = {bid: sum(r.psi_term for r in v)
            for bid, v in by_batch.items()}
    lo, hi = sorted(psis.values())
    assert lo < 0.01 and hi > 0.25  # in-dist ~0, shifted = action
    # batch scoreboard == one-shot psi_report on the same batch
    for bid, batch in ((min(by_batch), b1), (max(by_batch), b2)):
        want = sorted(map(tuple, psi_report(ref, batch, "v",
                                            n_buckets=4).collect()))
        have = sorted((r.bucket, r.n_ref, r.n_cur, r.p_ref, r.p_cur,
                       r.psi_term) for r in by_batch[bid])
        assert have == want


def test_streaming_quality_scorer_equals_batch(spark, tmp_path):
    """Train offline, deploy on the stream: a 2-batch drain scores
    every row exactly as the batch predict does under the same
    weights, keep gates on the unrounded sigmoid, and the plan is a
    pure projection (no join, no state)."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.operators.mlfit import (
        logreg_predict, logreg_train)
    from picoprobedataflow_spark.streaming.quality import \
        quality_score_stream

    train = spark.createDataFrame(
        [(i, float(i % 7 - 3), 1.0 if i % 7 > 3 else 0.0)
         for i in range(40)], "doc_id long, f1 double, y double")
    w = logreg_train(train, ["f1"], "y", n_iter=4, lr=1.0)

    schema = "doc_id long, f1 double"
    src = tmp_path / "feat_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "scores")
    b1 = spark.createDataFrame(
        [(100, -2.0), (101, 0.5)], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    quality_score_stream(spark, str(src), ckpt, out, ["f1"], w,
                         schema)
    b2 = spark.createDataFrame([(102, 3.0)], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    quality_score_stream(spark, str(src), ckpt, out, ["f1"], w,
                         schema)

    got = {r.doc_id: (r.score, r.keep)
           for r in spark.read.parquet(out).collect()}
    assert set(got) == {100, 101, 102}
    both = b1.unionByName(b2)
    raw = logreg_predict(both, ["f1"], w, round_digits=None)
    want = {r.doc_id: (r.s, r.k) for r in both.select(
        "doc_id", F.round(raw, 6).alias("s"),
        (raw >= 0.5).alias("k")).collect()}
    assert got == want
    # monotone in f1 (the learned boundary is a real one)
    assert got[100][0] < got[101][0] < got[102][0]


def test_streaming_nb_scorer_equals_batch(spark, tmp_path):
    """Train NB offline, deploy on the stream: a 2-batch drain scores
    every tokenized doc exactly as the batch nb_predict does under
    the same frozen model — including an OOV-bearing doc and an
    empty-token doc arriving mid-stream."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.operators.mlfit import (
        nb_predict, nb_train)
    from picoprobedataflow_spark.streaming.quality import \
        nb_score_stream

    train = spark.createDataFrame(
        [(i, (["good", "clean"] if i % 2 else ["spam", "junk"])
          + ["text"], float(i % 2)) for i in range(20)],
        "doc_id long, toks array<string>, y double")
    m = nb_train(train, "toks", "y")

    schema = "doc_id long, toks array<string>"
    src = tmp_path / "tok_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "scores")
    b1 = spark.createDataFrame(
        [(100, ["good", "clean", "text"]), (101, ["spam", "junk"])],
        schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    nb_score_stream(spark, str(src), ckpt, out, m, "toks", schema)
    b2 = spark.createDataFrame(
        [(102, ["good", "UNSEEN"]), (103, [])], schema)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    nb_score_stream(spark, str(src), ckpt, out, m, "toks", schema)

    got = {r.doc_id: (r.n_tok, r.score, r.keep)
           for r in spark.read.parquet(out).collect()}
    assert set(got) == {100, 101, 102, 103}
    both = b1.unionByName(b2)
    want = {r.doc_id: (r.n_tok, r.score, r.pred)
            for r in nb_predict(both, m, "toks").collect()}
    assert got == want
    assert got[100][2] and not got[101][2]  # the filter filters
    assert got[103][0] == 0  # empty doc scored the prior, kept rows


def test_streaming_ks_drift_equals_batch(spark, tmp_path):
    """Per-micro-batch KS against a fixed reference: each batch's
    row equals the one-shot ks_report on the same batch, the
    in-distribution batch scores ~0 and the shifted batch scores
    high, and the reference builds once outside the loop."""
    from picoprobedataflow_spark.operators.drift import ks_report
    from picoprobedataflow_spark.streaming.quality import \
        ks_drift_stream

    ref = spark.createDataFrame([(float(i % 50),) for i in range(400)],
                                "v double")
    schema = "v double"
    src = tmp_path / "vals_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "ks")
    b1 = spark.createDataFrame([(float(i % 50),) for i in range(200)],
                               schema)                # in-dist
    b1.coalesce(1).write.mode("append").parquet(str(src))
    ks_drift_stream(spark, str(src), ckpt, out, ref, "v", schema)
    b2 = spark.createDataFrame([(float(i % 50) + 40.0,)
                                for i in range(200)], schema)  # shifted
    b2.coalesce(1).write.mode("append").parquet(str(src))
    ks_drift_stream(spark, str(src), ckpt, out, ref, "v", schema)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2
    by_batch = {r.batch_id: r for r in rows}
    lo, hi = sorted(r.ks for r in rows)
    assert lo == 0.0 and hi > 0.5
    for bid, batch in ((min(by_batch), b1), (max(by_batch), b2)):
        want = ks_report(ref, batch, "v").head()
        got = by_batch[bid]
        assert (got.n_ref, got.n_cur, got.ks) == \
            (want.n_ref, want.n_cur, want.ks)


def test_streaming_chi2_drift_equals_batch(spark, tmp_path):
    """The chi-square categorical drift stream: each micro-batch's
    scoreboard equals chi2_report(ref, that_batch) exactly (the
    reference counts build once outside the loop), an
    in-distribution batch sums ~0 while a mix-shifted batch clears
    the χ²(k-1) alert bar, and replay appends byte-identical rows."""
    from picoprobedataflow_spark.operators.drift import chi2_report
    from picoprobedataflow_spark.streaming.quality import \
        chi2_drift_stream

    ref = spark.createDataFrame(
        [("en",)] * 60 + [("de",)] * 30 + [("fr",)] * 10,
        "cat string")
    schema = "cat string"
    src = tmp_path / "cat_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "chi2")

    b1 = spark.createDataFrame(
        [("en",)] * 30 + [("de",)] * 15 + [("fr",)] * 5, schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    chi2_drift_stream(spark, str(src), ckpt, out, ref, "cat", schema)
    b2 = spark.createDataFrame(
        [("en",)] * 5 + [("zh",)] * 45, schema)  # mix shift + new cat
    b2.coalesce(1).write.mode("append").parquet(str(src))
    chi2_drift_stream(spark, str(src), ckpt, out, ref, "cat", schema)

    rows = spark.read.parquet(out).collect()
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(r)
    assert len(by_batch) == 2
    sums = {bid: sum(r.chi2_term for r in v)
            for bid, v in by_batch.items()}
    lo, hi = sorted(sums.values())
    # same mix: exactly expected counts -> 0; the shifted batch is
    # far beyond the χ²(3 dof, 0.001) ≈ 16.27 critical value
    assert lo < 0.01 and hi > 16.27
    for bid, batch in ((min(by_batch), b1), (max(by_batch), b2)):
        want = sorted(map(tuple,
                          chi2_report(ref, batch, "cat").collect()))
        have = sorted((r.category, r.n_ref, r.n_cur, r.e_cur,
                       r.chi2_term) for r in by_batch[bid])
        assert have == want


def test_streaming_curation_flow_equals_batch(spark, tmp_path):
    """The composed streaming curation loop (VERDICT r13 #5): a
    3-batch id-ordered drain admits EXACTLY the docs the batch flow
    keeps under arrival-rank quota — quality and repetition gates
    row-local, exact dedup first-arrival-survives via the fps state
    (== keep-min-id over id-ordered batches), decontamination
    against the once-checkpointed bench universe, and the per-domain
    cap spanning epochs through the domains state. Funnel counts per
    epoch ride along; the per-epoch funnels sum to the batch
    funnel's input count."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.flows.curation import \
        curate_documents
    from picoprobedataflow_spark.streaming.curation import \
        run_curation_stream

    # Distinct-token generator: every doc clears the Gopher
    # repetition battery (top word = a sparse "the" at 1/12) and the
    # 0.2 quality bar (stopword ratio) — only the planted offenders
    # drop at their intended stage.
    def gen(i: int) -> str:
        return " ".join("the" if j % 12 == 0 else f"doc{i}word{j}"
                        for j in range(36))

    bench_text = ("the held benchmark asked about capital france "
                  "and paris answer questions knowledge probe "
                  "evaluation test suite item prompt under the "
                  "usual protocol")
    rows = []
    for i in range(30):
        if i % 10 == 7:
            text = gen(i - 7)        # exact dup of the i%10==0 doc
        elif i % 10 == 3:
            text = bench_text + f" variantx{i} extray{i}"  # contam
        elif i % 10 == 5:
            text = "spam spam spam spam spam spam spam spam"
        else:
            text = gen(i)
        rows.append((i, text,
                     f"https://site{i % 4}.example.com/p{i}"))
    schema = "doc_id long, text string, url string"
    docs = spark.createDataFrame(rows, schema)
    bench = spark.createDataFrame([(0, bench_text)],
                                  "doc_id long, text string")

    # batch comparator: same stages, quota by ARRIVAL (desc -id)
    bdocs = docs.withColumn("_arr", -F.col("doc_id"))
    want = curate_documents(
        bdocs, min_quality=0.2, repetition_filter=True,
        exact_dedup=True, near_dedup=False, bench_docs=bench,
        contamination_threshold=0.2, url_col="url",
        domain_quota=2, quota_order="_arr", token_budget=None)
    want_ids = {r.doc_id for r in want.kept.collect()}

    src = tmp_path / "docs_in"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        (docs.filter((F.col("doc_id") >= lo)
                     & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(str(src)))
        q = run_curation_stream(
            spark.readStream.schema(schema).parquet(str(src)),
            state, ckpt, min_quality=0.2, bench_docs=bench,
            contamination_threshold=0.2, url_col="url",
            domain_quota=2)
        assert q.awaitTermination(300)

    kept = spark.read.parquet(os.path.join(state, "kept"))
    got_ids = {r.doc_id for r in kept.collect()}
    assert got_ids == want_ids
    # every admitted doc carries its registrable domain
    assert all(r.domain == "example.com" for r in kept.collect())

    funnel = spark.read.parquet(os.path.join(state, "funnel"))
    by_epoch = {}
    for r in funnel.collect():
        by_epoch.setdefault(r.epoch, {})[r.stage] = r.n
    assert len(by_epoch) == 3
    order = ["input", "quality", "repetition", "exact", "decontam",
             "quota"]
    for stages in by_epoch.values():
        assert set(stages) == set(order)  # all stages, every epoch
        ns = [stages[s] for s in order]
        assert all(a >= b for a, b in zip(ns, ns[1:]))  # monotone
    assert sum(s["input"] for s in by_epoch.values()) == 30
    assert (sum(s["quota"] for s in by_epoch.values())
            == len(want_ids))

    # replay idempotence: re-running the drained stream adds nothing
    q = run_curation_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        state, ckpt, min_quality=0.2, bench_docs=bench,
        contamination_threshold=0.2, url_col="url", domain_quota=2)
    assert q.awaitTermination(300)
    assert ({r.doc_id for r in spark.read.parquet(
        os.path.join(state, "kept")).collect()} == got_ids)


def test_streaming_substr_clean_equals_batch(spark, tmp_path):
    """The streaming ExactSubstr deletion loop: a 3-batch id-ordered
    drain produces per-doc cleaned text identical to ONE
    remove_duplicate_substrings run over the whole corpus — a
    passage quoted ACROSS batches deletes in the later epoch (its
    first occurrence survived in the earlier one), a within-batch
    repeat keeps its batch-first copy, and replay adds nothing."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.operators.dedup import \
        remove_duplicate_substrings
    from picoprobedataflow_spark.streaming.substr_stream import \
        run_substr_clean_stream

    L = 4
    quote = "q1 q2 q3 q4 q5 q6"             # 6-token passage
    rows = []
    for i in range(12):
        if i == 1:
            t = f"a{i} b{i} " + quote        # source (batch 0)
        elif i == 6:
            t = quote + f" tail{i} t2{i}"    # cross-batch quote
        elif i == 9:
            t = f"x{i} y{i} r1 r2 r3 r4 r1 r2 r3 r4"  # in-batch
        else:
            t = f"a{i} b{i} c{i} d{i} e{i} f{i}"
        rows.append((i, t))
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    want = {r.doc_id: (r.cleaned, r.n_removed, r.n_kept)
            for r in remove_duplicate_substrings(
                docs, min_len=L).collect()}

    src = tmp_path / "docs_in"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ck")
    for lo, hi in ((0, 4), (4, 8), (8, 12)):
        (docs.filter((F.col("doc_id") >= lo)
                     & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(str(src)))
        q = run_substr_clean_stream(
            spark.readStream.schema(schema).parquet(str(src)),
            state, ckpt, min_len=L)
        assert q.awaitTermination(300)

    got = {r.doc_id: (r.cleaned, r.n_removed, r.n_kept)
           for r in spark.read.parquet(
               os.path.join(state, "cleaned")).collect()}
    assert got == want
    # the planted semantics actually exercised
    assert want[1][1] == 0              # source intact
    assert got[6][0].startswith("tail6") or "q1" not in got[6][0]
    assert got[6][1] == 6               # cross-batch quote deleted
    assert got[9][1] == 4               # second in-batch copy only

    q = run_substr_clean_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        state, ckpt, min_len=L)
    assert q.awaitTermination(300)
    got2 = {r.doc_id: (r.cleaned, r.n_removed, r.n_kept)
            for r in spark.read.parquet(
                os.path.join(state, "cleaned")).collect()}
    assert got2 == got


def test_streaming_curation_input_carrying_domain_column(
        spark, tmp_path):
    """Round-15 ADVICE fix: an input stream ALREADY carrying a
    'domain' column used to make the quota stage's using-join emit
    two domain columns, failing the groupBy / kept write with an
    ambiguous reference at micro-batch time. Now the quota-derived
    registrable domain is authoritative: the stream runs, and kept
    rows carry it — not the input's stale value."""
    from picoprobedataflow_spark.streaming.curation import \
        run_curation_stream

    schema = ("doc_id long, text string, url string, domain string")
    rows = [(i, " ".join(f"tok{i}w{j}" for j in range(12)),
             f"https://site{i}.example.com/p{i}", "stale.junk")
            for i in range(4)]
    docs = spark.createDataFrame(rows, schema)
    src = tmp_path / "in"
    src.mkdir()
    docs.coalesce(1).write.mode("append").parquet(str(src))
    q = run_curation_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        str(tmp_path / "state"), str(tmp_path / "ck"),
        min_quality=None, repetition_filter=False,
        url_col="url", domain_quota=10)
    assert q.awaitTermination(300)
    kept = spark.read.parquet(
        os.path.join(str(tmp_path / "state"), "kept")).collect()
    assert {r.doc_id for r in kept} == {0, 1, 2, 3}
    assert all(r.domain == "example.com" for r in kept)


def test_streaming_curation_domain_quota_zero(spark, tmp_path):
    """domain_quota=0 (round-15 degenerate battery): the quota stage
    admits NOTHING — rank >= 1 never fits a zero budget — so kept is
    empty, the funnel records quota=0, and no epoch errors."""
    from picoprobedataflow_spark.streaming.curation import \
        run_curation_stream

    schema = "doc_id long, text string, url string"
    rows = [(i, " ".join(f"tok{i}w{j}" for j in range(12)),
             f"https://h{i}.example.com/") for i in range(3)]
    docs = spark.createDataFrame(rows, schema)
    src = tmp_path / "in"
    src.mkdir()
    docs.coalesce(1).write.mode("append").parquet(str(src))
    q = run_curation_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        str(tmp_path / "state"), str(tmp_path / "ck"),
        min_quality=None, repetition_filter=False,
        url_col="url", domain_quota=0)
    assert q.awaitTermination(300)
    # an all-filtered epoch writes no part files — read kept/ with
    # an explicit schema (inference has no footer to look at)
    kept_dir = os.path.join(str(tmp_path / "state"), "kept")
    assert (spark.read.schema(schema + ", domain string, epoch long")
            .parquet(kept_dir).count() == 0)
    funnel = spark.read.parquet(
        os.path.join(str(tmp_path / "state"), "funnel"))
    by = {r.stage: r.n for r in funnel.collect()}
    assert by["input"] == 3 and by["quota"] == 0


def test_streaming_line_flags_prefix_df_across_batches(spark,
                                                       tmp_path):
    """Line-grain streaming boilerplate flags (round 15): a
    single-batch drain flags exactly the lines the batch op removes;
    across batches the flag is prefix-df; blank lines never enter
    the stream; the trimmed line is the state key (indent variants
    share a counter); restart resumes state."""
    from picoprobedataflow_spark.operators.dedup import \
        remove_frequent_lines
    from picoprobedataflow_spark.streaming.quality import \
        line_flag_stream

    nav = "HOME | ABOUT"
    schema = "doc_id long, text string"
    src = tmp_path / "docs_in"
    src.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "flags")

    b1 = [(1, f"{nav}\nunique one\n\nbody a"),
          (2, f"  {nav}\nunique two"),      # indented nav, same key
          (3, "solo line only")]
    b1df = spark.createDataFrame(b1, schema)
    b1df.coalesce(1).write.mode("append").parquet(str(src))
    line_flag_stream(spark, str(src), ckpt, out, schema, min_df=2)

    got1 = spark.read.parquet(out)
    flagged = {r.doc_id: 0 for r in got1.collect()}
    for r in got1.collect():
        flagged[r.doc_id] += int(r.is_frequent)
    batch = {r.doc_id: r.n_removed
             for r in remove_frequent_lines(b1df, min_df=2).collect()}
    assert flagged == batch            # nav flagged in docs 1+2 only
    # the blank line of doc 1 contributed NO stream row
    assert all(not (r.doc_id == 1 and r.idx == 2)
               for r in got1.collect())

    # batch 2: doc 4 repeats doc 3's line -> flagged now, doc 3's
    # batch-1 row keeps its unflagged verdict; nav keeps counting
    spark.createDataFrame(
        [(4, "solo line only"), (5, nav)], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    line_flag_stream(spark, str(src), ckpt, out, schema, min_df=2)
    rows = {(r.doc_id, r.idx): r
            for r in spark.read.parquet(out).collect()}
    assert not rows[(3, 0)].is_frequent
    assert rows[(3, 0)].df_after == 1
    assert rows[(4, 0)].is_frequent and rows[(4, 0)].df_after == 2
    assert rows[(5, 0)].is_frequent and rows[(5, 0)].df_after == 3


def test_streaming_pagerank_converges_to_batch_fixpoint(spark,
                                                        tmp_path):
    """Incremental PageRank (round 15): draining edge deltas through
    the warm-start loop lands the final epoch's vector at the full
    graph's fixpoint (tolerance-compared to a 40-iteration cold
    batch run); the 2-iteration warm epoch is CLOSER to that
    fixpoint than a 2-iteration cold run on the same graph (the
    operator's value claim, measured); duplicate edges re-sent in a
    later batch do not regrow the edge state; replay adds nothing."""
    import os

    from picoprobedataflow_spark.operators.graph import pagerank
    from picoprobedataflow_spark.streaming.graph_stream import (
        latest_ranks, run_pagerank_stream)

    schema = "src string, dst string"
    # a small expander-ish graph fed in three growing slices
    b1 = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    b2 = [("c", "d"), ("d", "a"), ("b", "d")]
    b3 = [("d", "e"), ("e", "a"), ("a", "b")]   # ("a","b") re-sent
    src = tmp_path / "edges_in"
    src.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")

    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))
        q = run_pagerank_stream(
            spark.readStream.schema(schema).parquet(str(src)),
            state, ckpt, n_iter_cold=10, n_iter_warm=2)
        assert q.awaitTermination(300)

    got = {r.node: r.pr for r in latest_ranks(spark, state).collect()}
    # normalize_init keeps every epoch's vector a probability vector
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # STRONG pin: the drain equals the composed batch calls exactly —
    # cold-10 on slice 1, then warm-2 per grown slice threading the
    # previous vector through init_ranks
    g1 = spark.createDataFrame(b1, schema)
    g2 = spark.createDataFrame(b1 + b2, schema)
    g3 = spark.createDataFrame(b1 + b2 + b3, schema)
    v1 = pagerank(g1, n_iter=10, round_digits=None) \
        .select("node", "pr")
    v2 = pagerank(g2, n_iter=2, round_digits=None,
                  init_ranks=v1).select("node", "pr")
    v3 = {r.node: r.pr
          for r in pagerank(g3, n_iter=2, round_digits=None,
                            init_ranks=v2).collect()}
    assert set(got) == set(v3)
    assert max(abs(got[n] - v3[n]) for n in v3) < 1e-12

    # VALUE pin: the warm epoch tracks the full graph's fixpoint
    # strictly better than the same 2 iterations run cold (the toy
    # graph grows ~30% per slice — far harsher than a real crawl
    # epoch — so the bound is relative, not absolute)
    want = {r.node: r.pr
            for r in pagerank(g3, n_iter=40,
                              round_digits=None).collect()}
    warm_dist = sum(abs(got[n] - want[n]) for n in want)
    cold2 = {r.node: r.pr
             for r in pagerank(g3, n_iter=2,
                               round_digits=None).collect()}
    cold_dist = sum(abs(cold2[n] - want[n]) for n in want)
    assert warm_dist < cold_dist

    # edge state stayed distinct despite the re-sent ("a","b")
    edges_state = spark.read.schema(schema + ", epoch long") \
        .parquet(os.path.join(state, "edges"))
    rows = [(r.src, r.dst) for r in edges_state.collect()]
    assert len(rows) == len(set(rows)) == len(set(b1 + b2 + b3))

    # replay idempotence: draining again changes nothing
    q = run_pagerank_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        state, ckpt, n_iter_cold=10, n_iter_warm=2)
    assert q.awaitTermination(300)
    again = {r.node: r.pr
             for r in latest_ranks(spark, state).collect()}
    assert again == got


def test_streaming_cms_merge_equals_batch_sketch(spark, tmp_path):
    """The CMS monoid property, executed: a 3-batch drain's merged
    cells are BIT-IDENTICAL to the one-shot batch sketch of the
    union corpus (exact equality — the approximation lives only in
    collision bias); estimates never underestimate true counts; an
    unseen term estimates its colliders' mass, never a false
    negative zero-when-present; replay adds nothing."""
    from picoprobedataflow_spark.streaming.cms_stream import (
        _cells_of, cms_estimate, merged_cells, run_cms_stream)

    schema = "doc_id long, text string"
    batches = [
        [(1, "alpha beta alpha gamma"), (2, "beta beta delta")],
        [(3, "alpha epsilon zeta")],
        [(4, "gamma gamma gamma eta theta")],
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))
        q = run_cms_stream(
            spark.readStream.schema(schema).parquet(str(src)),
            state, ckpt)
        assert q.awaitTermination(300)

    full = spark.createDataFrame(sum(batches, []), schema)
    want = {(r.seed, r.bucket): r.cell
            for r in _cells_of(full, "text", 128, 4).collect()}
    got = {(r.seed, r.bucket): r.cell
           for r in merged_cells(spark, state).collect()}
    assert got == want

    truth = {"alpha": 3, "beta": 3, "gamma": 4, "delta": 1,
             "epsilon": 1, "zeta": 1, "eta": 1, "theta": 1}
    est = {r.term: r.est
           for r in cms_estimate(spark, state,
                                 list(truth) + ["never-seen"])
           .collect()}
    for t, n in truth.items():
        assert est[t] >= n          # never underestimates
    assert est["never-seen"] >= 0   # colliders' mass, not an error

    # replay idempotence
    q = run_cms_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        state, ckpt)
    assert q.awaitTermination(300)
    again = {(r.seed, r.bucket): r.cell
             for r in merged_cells(spark, state).collect()}
    assert again == want


def test_cms_direct_cells_equal_tf_form(spark):
    """The round-16 direct cell build (explode → d (seed, bucket)
    keys per token → ONE count — never materializes the term table)
    is cell-equal to the tf-based construction the batch gate keeps
    for its truth columns (Σ over tokens ≡ Σ over (term, cnt) — the
    sums commute), and its plan shuffles on (seed, bucket) only:
    exactly one Exchange, keyed by the sketch coordinates, never by
    tok — the map-side partial caps shuffle rows at d·w per input
    partition, the whole point of the sketch (VERDICT r15 #1b)."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.functions.text import words
    from picoprobedataflow_spark.streaming.cms_stream import (
        _bucket, _cells_of)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 200)
    w, d = 16, 3
    direct = {(r.seed, r.bucket): r.cell
              for r in _cells_of(docs, "text", w, d).collect()}

    # the round-15 tf-based construction (what the batch family's
    # truth columns still use), replayed inline
    toks = docs.select(F.explode(words("text")).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    melted = None
    for i in range(d):
        part = tf.select(F.lit(i).cast("int").alias("seed"),
                         _bucket(F.col("tok"), f"s{i}", w)
                         .alias("bucket"), F.col("cnt"))
        melted = part if melted is None else melted.unionByName(part)
    tf_cells = {(r.seed, r.bucket): r.cell
                for r in melted.groupBy("seed", "bucket")
                .agg(F.sum("cnt").cast("long").alias("cell"))
                .collect()}
    assert direct == tf_cells
    assert sum(direct.values()) == d * toks.count()

    plan = (_cells_of(docs, "text", w, d)
            ._jdf.queryExecution().executedPlan().toString())
    exchange_lines = [ln for ln in plan.splitlines()
                      if "Exchange" in ln]
    assert len(exchange_lines) == 1, plan
    assert "hashpartitioning(seed" in exchange_lines[0], \
        exchange_lines[0]
    assert "tok" not in exchange_lines[0], exchange_lines[0]


def test_cms_state_geometry_persisted_and_validated(spark, tmp_path):
    """Round-15 ADVICE: (w, d) persists with the state dir and every
    reader validates against it — run_cms_stream(w=64) followed by
    cms_estimate at a different w used to silently mis-bucket and
    return est=0 for terms that DID occur (a false negative, the one
    error class a CMS promises never to make). Now: the estimate
    path reads the persisted geometry, an explicit mismatching
    override raises, a resumed stream with changed geometry raises,
    and a state dir with no meta raises instead of guessing."""
    import pytest

    from picoprobedataflow_spark.streaming.cms_stream import (
        cms_estimate, read_meta, run_cms_stream)

    schema = "doc_id long, text string"
    src = tmp_path / "in"
    src.mkdir()
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    q = run_cms_stream(
        spark.readStream.schema(schema).parquet(str(src)),
        state, ckpt, w=64, d=2)
    assert q.awaitTermination(300)

    assert read_meta(spark, state) == (64, 2)
    # default read path picks up the persisted geometry — no false
    # negatives even though the caller never repeats (64, 2)
    est = {r.term: r.est
           for r in cms_estimate(spark, state,
                                 ["alpha", "beta", "gamma"])
           .collect()}
    assert est["alpha"] >= 2 and est["beta"] >= 2
    assert est["gamma"] >= 1

    with pytest.raises(ValueError, match="geometry mismatch"):
        cms_estimate(spark, state, ["alpha"], w=128)
    with pytest.raises(ValueError, match="geometry mismatch"):
        cms_estimate(spark, state, ["alpha"], d=4)
    # matching explicit override is an allowed assertion
    ok = cms_estimate(spark, state, ["alpha"], w=64, d=2).collect()
    assert ok[0].est >= 2
    # resuming the stream with a different geometry is rejected
    # loudly, BEFORE any cell is written
    with pytest.raises(ValueError, match="geometry mismatch"):
        run_cms_stream(
            spark.readStream.schema(schema).parquet(str(src)),
            state, str(tmp_path / "ck2"), w=128, d=4)
    # a never-run state dir has no geometry to trust
    with pytest.raises(FileNotFoundError):
        cms_estimate(spark, str(tmp_path / "nostate"), ["alpha"])


def test_stream_state_params_persisted_and_validated(spark, tmp_path):
    """Round 16 — the CMS-geometry guard generalized to every loop
    whose STATE ENCODING depends on its parameters: minhash dedup
    (num_hashes/k/band_size/hash_fn), substring clean (min_len),
    incremental PageRank (damping), and the IVF index stream
    (centroid digest). Each persists its identity params on first
    run and REFUSES a resume under different values — two encodings
    mixed in one state dir never error per-epoch, they just silently
    stop matching old state, which is why the guard must run before
    the stream starts."""
    import pytest

    from picoprobedataflow_spark.streaming.dedup_stream import (
        read_params, run_incremental_dedup_stream)
    from picoprobedataflow_spark.streaming.graph_stream import \
        run_pagerank_stream
    from picoprobedataflow_spark.streaming.index_stream import \
        run_ivf_index_stream
    from picoprobedataflow_spark.streaming.substr_stream import \
        run_substr_clean_stream

    # --- minhash dedup loop
    dsrc = tmp_path / "d_in"
    dsrc.mkdir()
    dstate, dck = str(tmp_path / "d_state"), str(tmp_path / "d_ck")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(str(dsrc))
    q = run_incremental_dedup_stream(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(dsrc)), dstate, dck,
        num_hashes=8, k=3, band_size=2)
    assert q.awaitTermination(300)
    got = read_params(spark, dstate)
    assert got == {
        "num_hashes": "8", "k": "3", "band_size": "2",
        "hash_fn":
            "picoprobedataflow_spark.functions.scalar"
            ".portable_hash64"}
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_incremental_dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(dsrc)), dstate, str(tmp_path / "d_ck2"),
            num_hashes=16, k=3, band_size=2)

    # --- substring clean loop
    ssrc = tmp_path / "s_in"
    ssrc.mkdir()
    sstate, sck = str(tmp_path / "s_state"), str(tmp_path / "s_ck")
    spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd")],
        "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(str(ssrc))
    q = run_substr_clean_stream(
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(ssrc)), sstate, sck, min_len=8)
    assert q.awaitTermination(300)
    assert read_params(spark, sstate) == {"min_len": "8"}
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_substr_clean_stream(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(ssrc)), sstate, str(tmp_path / "s_ck2"),
            min_len=12)

    # --- incremental pagerank loop (damping pinned; n_iter free)
    gsrc = tmp_path / "g_in"
    gsrc.mkdir()
    gstate, gck = str(tmp_path / "g_state"), str(tmp_path / "g_ck")
    spark.createDataFrame([("a", "b")], "src string, dst string") \
        .coalesce(1).write.mode("append").parquet(str(gsrc))
    q = run_pagerank_stream(
        spark.readStream.schema("src string, dst string")
        .parquet(str(gsrc)), gstate, gck, damping=0.85)
    assert q.awaitTermination(300)
    assert read_params(spark, gstate) == {"damping": "0.85"}
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_pagerank_stream(
            spark.readStream.schema("src string, dst string")
            .parquet(str(gsrc)), gstate, str(tmp_path / "g_ck2"),
            damping=0.9)
    # iteration counts are performance knobs — a changed n_iter_warm
    # must NOT be rejected
    spark.createDataFrame([("b", "c")], "src string, dst string") \
        .coalesce(1).write.mode("append").parquet(str(gsrc))
    q = run_pagerank_stream(
        spark.readStream.schema("src string, dst string")
        .parquet(str(gsrc)), gstate, gck,
        damping=0.85, n_iter_warm=4)
    assert q.awaitTermination(300)

    # --- IVF index stream (quantizer digest, sibling params dir)
    isrc = tmp_path / "i_in"
    isrc.mkdir()
    idir, ick = str(tmp_path / "ivf_idx"), str(tmp_path / "i_ck")
    cents = [(0, [0.0, 0.0]), (1, [1.0, 1.0])]
    spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.9, 0.8])],
        "vec_id long, embedding array<double>").coalesce(1) \
        .write.mode("append").parquet(str(isrc))
    q = run_ivf_index_stream(
        spark.readStream
        .schema("vec_id long, embedding array<double>")
        .parquet(str(isrc)), cents, idir, ick)
    assert q.awaitTermination(300)
    got = read_params(spark, idir.rstrip("/") + "_params")
    assert got is not None and got["n_cells"] == "2"
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_ivf_index_stream(
            spark.readStream
            .schema("vec_id long, embedding array<double>")
            .parquet(str(isrc)),
            [(0, [0.0, 0.5]), (1, [1.0, 1.0])],
            idir, str(tmp_path / "i_ck2"))
    # identical quantizer resumes fine
    q = run_ivf_index_stream(
        spark.readStream
        .schema("vec_id long, embedding array<double>")
        .parquet(str(isrc)), cents, idir, ick)
    assert q.awaitTermination(300)


def test_stream_params_half_written_dir_reads_as_absent(spark,
                                                        tmp_path):
    """A params dir whose directory exists but whose rows never
    landed (crash mid-first-write) must read as ABSENT — the next
    run redoes the write — never as an empty parameter set that
    spuriously mismatches every caller."""
    import os

    from picoprobedataflow_spark.streaming.dedup_stream import (
        _ensure_params, read_params)

    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "params"))
    assert read_params(spark, state) is None
    _ensure_params(spark, state, {"k": "3"})
    assert read_params(spark, state) == {"k": "3"}


def test_image_stream_params_and_ivf_digest_order_insensitive(
        spark, tmp_path):
    """Round-16 review finds, pinned: (a) the image dedup loop pins
    grid/codec (its simhash state encodes both — it was the one loop
    the params guard missed); (b) the IVF quantizer digest is
    order-insensitive, so resuming with the SAME centroid set
    collected in a different row order is accepted, while a changed
    centroid VALUE still rejects."""
    import pytest

    from picoprobedataflow_spark.streaming.dedup_stream import (
        read_params, run_image_dedup_stream)
    from picoprobedataflow_spark.streaming.index_stream import \
        run_ivf_index_stream

    # --- image loop params
    isrc = tmp_path / "img_in"
    isrc.mkdir()
    istate, ick = str(tmp_path / "img_state"), str(tmp_path / "img_ck")
    img_schema = ("path string, width int, height int, image binary")
    px = bytes(range(64))
    spark.createDataFrame([("a.img", 8, 8, px)], img_schema) \
        .coalesce(1).write.mode("append").parquet(str(isrc))
    q = run_image_dedup_stream(
        spark.readStream.schema(img_schema).parquet(str(isrc)),
        istate, ick, grid=8)
    assert q.awaitTermination(300)
    assert read_params(spark, istate) == {"grid": "8",
                                          "codec": "auto"}
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_image_dedup_stream(
            spark.readStream.schema(img_schema).parquet(str(isrc)),
            istate, str(tmp_path / "img_ck2"), grid=16)

    # --- IVF digest order-insensitivity
    vsrc = tmp_path / "v_in"
    vsrc.mkdir()
    vdir, vck = str(tmp_path / "v_idx"), str(tmp_path / "v_ck")
    spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>") \
        .coalesce(1).write.mode("append").parquet(str(vsrc))
    cents = [(0, [0.0, 0.0]), (1, [1.0, 1.0])]
    q = run_ivf_index_stream(
        spark.readStream
        .schema("vec_id long, embedding array<double>")
        .parquet(str(vsrc)), cents, vdir, vck)
    assert q.awaitTermination(300)
    # same set, reversed order: accepted
    q = run_ivf_index_stream(
        spark.readStream
        .schema("vec_id long, embedding array<double>")
        .parquet(str(vsrc)), list(reversed(cents)), vdir, vck)
    assert q.awaitTermination(300)
    # changed value: rejected
    with pytest.raises(ValueError, match="parameter mismatch"):
        run_ivf_index_stream(
            spark.readStream
            .schema("vec_id long, embedding array<double>")
            .parquet(str(vsrc)),
            [(0, [0.0, 0.25]), (1, [1.0, 1.0])],
            vdir, str(tmp_path / "v_ck2"))


def test_fs_list_connect_fallback_branch(tmp_path):
    """The Spark-Connect degradation path of _fs_list, simulated
    with a session object that has no _jvm: local paths fall back to
    the os probe (round-16 review find — Connect users with local
    state dirs must keep working), file:-prefixed local paths
    resolve, and a REMOTE URI raises loudly instead of silently
    reading as absent."""
    import pytest

    from picoprobedataflow_spark.streaming.dedup_stream import \
        _fs_list

    class _NoJvm:
        @property
        def _jvm(self):
            raise AttributeError("Spark Connect: no _jvm")

    fake = _NoJvm()
    d = tmp_path / "state"
    d.mkdir()
    (d / "epoch=0").mkdir()
    assert _fs_list(fake, str(d)) == ["epoch=0"]
    assert _fs_list(fake, "file://" + str(d)) == ["epoch=0"]
    assert _fs_list(fake, str(tmp_path / "missing")) is None
    with pytest.raises(NotImplementedError, match="non-Connect"):
        _fs_list(fake, "s3a://bucket/state")
    # round-17 ADVICE fix: the single-slash Hadoop Path rendering
    # and the localhost authority resolve to the same local dir; an
    # authority naming ANOTHER host is remote and raises instead of
    # silently reading as absent (the old prefix-slice fell through
    # to os.path.isdir on the raw string for all three)
    assert _fs_list(fake, "file:" + str(d)) == ["epoch=0"]
    assert _fs_list(fake, "file://localhost" + str(d)) == ["epoch=0"]
    with pytest.raises(NotImplementedError, match="non-Connect"):
        _fs_list(fake, "file://otherhost" + str(d))
    with pytest.raises(NotImplementedError, match="non-Connect"):
        _fs_list(fake, "hdfs://nn:8020/state")


def test_fn_name_lambda_and_damping_canonicalization():
    """Round-17 ADVICE fixes, unit level: (a) lambdas share one
    '<locals>.<lambda>' qualname per definition site, so a CHANGED
    lambda hash_fn would resume silently under a specific-looking
    pin — they now pin the generic 'custom:unnamed' marker like any
    anonymous callable (documented: give hash functions a real
    __name__); (b) the damping pin canonicalizes through
    repr(float(...)), so numerically identical values with
    different reprs (1 vs 1.0, numpy scalars) agree."""
    from picoprobedataflow_spark.streaming.dedup_stream import \
        _fn_name

    assert _fn_name(lambda s: 0) == "custom:unnamed"
    assert _fn_name(
        _fn_name) == ("picoprobedataflow_spark.streaming"
                      ".dedup_stream._fn_name")
    assert repr(float(1)) == repr(float(1.0)) == "1.0"
    import numpy as np
    assert repr(float(np.float64(0.85))) == "0.85"


def test_ivf_index_rebuild_after_delete_accepts_new_quantizer(
        spark, tmp_path):
    """Round-17 ADVICE fix: the IVF params pin lives in a SIBLING
    '<index_dir>_params' dir, so deleting the index tree for a
    rebuild used to leave a ghost pin that rejected the fresh build.
    When index_dir itself is absent there is no state to mix with:
    the rebuild with a NEW centroid set must be accepted (and its
    pin replaces the ghost), while a changed quantizer against a
    LIVE index still rejects."""
    import shutil

    import pytest

    from picoprobedataflow_spark.streaming.dedup_stream import \
        read_params
    from picoprobedataflow_spark.streaming.index_stream import \
        run_ivf_index_stream

    src = tmp_path / "in"
    src.mkdir()
    idir = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<double>") \
        .coalesce(1).write.mode("append").parquet(str(src))
    cents_a = [(0, [0.0, 0.0]), (1, [1.0, 1.0])]
    cents_b = [(0, [0.5, 0.5]), (1, [2.0, 2.0])]

    def _run(cents, ck):
        q = run_ivf_index_stream(
            spark.readStream
            .schema("vec_id long, embedding array<double>")
            .parquet(str(src)), cents, idir, str(tmp_path / ck))
        assert q.awaitTermination(300)

    _run(cents_a, "ck1")
    pin_a = read_params(spark, idir + "_params")
    # live index + changed quantizer: still rejected
    with pytest.raises(ValueError, match="parameter mismatch"):
        _run(cents_b, "ck2")
    # delete the index tree (the documented reset), keep the sibling
    # params behind — the rebuild must accept the new quantizer
    shutil.rmtree(idir)
    _run(cents_b, "ck3")
    pin_b = read_params(spark, idir + "_params")
    assert pin_b is not None and pin_b != pin_a
