"""EMD extraction, batch binary ingest/publish, scientific kernels on
extracted cubes, and the multimodal stubs — the per-file pillar (EP2)
end to end on FAKE-EMD fixtures."""

from __future__ import annotations

import json
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from picoprobedataflow_spark.io import binary_files as BF
from picoprobedataflow_spark.io import emd
from picoprobedataflow_spark.operators import multimodal as MM
from picoprobedataflow_spark.operators import scientific as SC


@pytest.fixture()
def emd_dir(tmp_path):
    """Two FAKE-EMD files: one with a 3-D hyperspectral cube (plus a
    2-D distractor signal — S5 must skip it), one 2-D only."""
    rng = np.random.default_rng(42)
    cube = rng.integers(0, 100, size=(4, 5, 6)).astype("f4")
    flat = rng.integers(0, 100, size=(3, 3)).astype("f4")
    meta = {"Acquisition_instrument": {"TEM": {"beam_energy": 200.0}},
            "Signal": {"signal_type": "EDS_TEM"}}
    (tmp_path / "a.emd").write_bytes(emd.write_fake_emd(
        [("survey", flat, {}), ("EDS", cube, meta)]))
    (tmp_path / "b.emd").write_bytes(emd.write_fake_emd(
        [("image-only", flat, {"Signal": {"signal_type": "image"}})]))
    return tmp_path, cube


def test_extract_signals_rows(spark, emd_dir):
    d, _ = emd_dir
    files = BF.scan_binary_dir(spark, str(d), glob="*.emd")
    sig = emd.extract_signals(files).collect()
    by_title = {r.title: r for r in sig}
    assert set(by_title) == {"survey", "EDS", "image-only"}
    assert by_title["EDS"].ndim == 3 and by_title["EDS"].dims == [4, 5, 6]
    meta = json.loads(by_title["EDS"].metadata)
    assert meta["Acquisition_instrument"]["TEM"]["beam_energy"] == 200.0


def test_cube_longform_and_reductions_match_numpy(spark, emd_dir):
    d, cube = emd_dir
    files = BF.scan_binary_dir(spark, str(d), glob="a.emd")
    long = emd.extract_cube_longform(files)
    assert long.count() == 4 * 5 * 6

    img = {(r.x, r.y): r.intensity
           for r in SC.spectral_image(long).collect()}
    want_img = cube.sum(axis=2)  # hyperspectral.py:96
    for (x, y), v in img.items():
        assert abs(v - float(want_img[x, y])) < 1e-6

    sp = {r.channel: r.counts for r in SC.spectrum(long).collect()}
    want_sp = cube.sum(axis=(0, 1))  # hyperspectral.py:104
    for ch, v in sp.items():
        assert abs(v - float(want_sp[ch])) < 1e-6


def test_publish_documents_shape(spark, emd_dir):
    d, _ = emd_dir
    files = BF.scan_binary_dir(spark, str(d), glob="*.emd")
    docs = BF.publish_documents(files).collect()
    assert len(docs) == 1
    doc = docs[0]
    assert doc.n_files == 2
    fnames = sorted(f.filename for f in doc.files)
    assert fnames == ["a.emd", "b.emd"]
    assert all(len(f.sha256) == 64 and len(f.sha512) == 128
               for f in doc.files)
    assert doc.dc.formats == ["application/octet-stream"]


def test_incremental_ingest_skips_seen(spark, emd_dir, tmp_path):
    d, _ = emd_dir
    files = BF.scan_binary_dir(spark, str(d), glob="*.emd")
    first = BF.incremental_ingest(files, None)
    assert first.count() == 2
    # Materialize the processed log (in production it is a parquet
    # table, not a live view over the source — a live view would
    # silently re-read mutated files and defeat the checksum skip).
    log_path = str(tmp_path / "processed_log")
    first.select("path", "sha256").write.parquet(log_path)
    processed = spark.read.parquet(log_path)
    again = BF.incremental_ingest(files, processed)
    assert again.count() == 0  # sync_level=checksum: nothing re-ships
    # touch one file's content -> only that file re-ingests
    (d / "a.emd").write_bytes(emd.write_fake_emd(
        [("EDS", np.ones((2, 2, 2), dtype="f4"), {})]))
    files2 = BF.scan_binary_dir(spark, str(d), glob="*.emd")
    changed = BF.incremental_ingest(files2, processed)
    assert [r.filename for r in changed.collect()] == ["a.emd"]


def test_incremental_ingest_reads_and_hashes_once(spark, emd_dir):
    """An incremental pass reads each scanned file's content once and
    hashes it once (one sha256, one sha512); the processed log is cut
    down by a path-only scan and is never shuffled."""
    d, _ = emd_dir
    processed = BF.file_manifest(
        BF.scan_binary_dir(spark, str(d), glob="*.emd")).localCheckpoint(
            eager=True)
    ones = np.ones((2, 2, 2), dtype="f4")
    (d / "a.emd").write_bytes(emd.write_fake_emd([("EDS", ones, {})]))
    (d / "c.emd").write_bytes(emd.write_fake_emd([("new", ones, {})]))
    out = BF.incremental_ingest(
        BF.scan_binary_dir(spark, str(d), glob="*.emd"), processed)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan binaryFile .*ReadSchema: (struct<.*>)",
                       plan)
    assert sorted(scans) == [
        "struct<path:string,modificationTime:timestamp,length:bigint,"
        "content:binary>",
        "struct<path:string>"]
    assert plan.count("sha2(") == 2
    assert "Exchange hashpartitioning" not in plan
    assert sorted(r.filename for r in out.collect()) == ["a.emd", "c.emd"]


def test_normalize_frames_range(spark):
    frames = SC.synthetic_frames(spark, 4, 8, 8)
    px = SC.normalize_frames(frames, keys=("t",))
    stats = px.agg(F.min("px"), F.max("px")).collect()[0]
    assert stats[0] == 0 and stats[1] == 255


def test_normalize_frames_constant_frame_is_zero(spark):
    """``hi == lo`` (a dark frame) gives px 0 rather than a division
    by zero; a frame with spread still spans 0..255."""
    frames = spark.createDataFrame(
        [(t, x, 0, v) for t, vals in ((0, (3.0, 3.0, 3.0)),
                                     (1, (1.0, 2.0, 5.0)))
         for x, v in enumerate(vals)],
        "t int, x int, y int, intensity double")
    px = sorted(tuple(r) for r in
                SC.normalize_frames(frames, keys=("t",)).collect())
    assert px == [(0, 0, 0, 0), (0, 1, 0, 0), (0, 2, 0, 0),
                  (1, 0, 0, 0), (1, 1, 0, 64), (1, 2, 0, 255)]


def test_multimodal_features_and_detection(spark):
    img = MM.make_fake_image(16, 12, seed=1)
    df = spark.createDataFrame(
        [("img0", 16, 12, bytearray(img), "")],
        "path string, width int, height int, image binary, meta string")
    feats = MM.extract_image_features(df).collect()[0]
    a = np.frombuffer(img, dtype=np.uint8).reshape(12, 16)
    assert abs(feats.mean_px - a.mean()) < 1e-9
    assert abs(feats.std_px - a.std()) < 1e-9

    small = MM.resize_images(MM.attach_image_metadata(df), 8, 6).collect()[0]
    assert small.width == 8 and small.height == 6
    assert len(bytes(small.image)) == 48

    boxes = MM.detect_objects(df, conf_threshold=0.0).collect()
    assert len(boxes) == 1 and 0.0 <= boxes[0].conf <= 1.0

    video = img + img + img  # 3 'frames'
    vdf = spark.createDataFrame(
        [("v0", 16, 12, bytearray(video))],
        "path string, width int, height int, video binary")
    frames = MM.sample_video_frames(vdf, every_n=2).collect()
    assert [f.frame_index for f in frames] == [0, 2]


def test_real_codec_branch_is_marked(spark):
    """PNG/JPEG magic bytes route to the PIL branch; with PIL absent
    that branch must fail loudly as a marked stub, never fall back to
    the fake layout silently."""
    if MM.HAS_PIL:
        pytest.skip("PIL installed - the real branch is live")
    png_header = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8
    with pytest.raises(NotImplementedError, match="STUB"):
        MM.decode_image(png_header, 4, 4)


def test_explicit_codec_overrides_magic_sniffing(spark):
    """codec='fake' must never route to PIL, even when the pixel bytes
    collide with the JPEG/PNG magic (~2^-24 per arbitrary uint8 image):
    the explicit parameter is the fix for sniffing misroutes."""
    w, h = 4, 4
    collider = b"\xff\xd8\xff" + b"\x07" * (w * h - 3)  # JPEG magic prefix
    a = MM.decode_image(collider, w, h, codec="fake")
    assert a.shape == (h, w)
    assert bytes(a.tobytes()) == collider
    # codec='image' forces the real branch - a marked stub without PIL
    if not MM.HAS_PIL:
        with pytest.raises(NotImplementedError, match="STUB"):
            MM.decode_image(collider, w, h, codec="image")


def test_real_mp4_requires_explicit_opt_in(spark):
    """encode_frames_to_video must default to the fake concat codec
    regardless of imageio's presence: sample_video_frames has no MP4
    decode branch, so silently flipping on install would break every
    fake-layout consumer downstream."""
    import inspect

    sig = inspect.signature(MM.encode_frames_to_video)
    assert sig.parameters["real_mp4"].default is False


@pytest.mark.skipif(not MM.HAS_PIL, reason="PIL not installed")
def test_real_decode_validates_declared_shape(spark):
    """A decoded image whose true shape disagrees with the row's
    (width, height) metadata must fail loudly, not flow on."""
    import io as _io

    from PIL import Image

    a = np.zeros((6, 5), dtype=np.uint8)
    buf = _io.BytesIO()
    Image.fromarray(a, mode="L").save(buf, format="PNG")
    with pytest.raises(ValueError, match="declared"):
        MM.decode_image(buf.getvalue(), 99, 99, codec="image")


@pytest.mark.skipif(not MM.HAS_PIL, reason="PIL not installed")
def test_real_png_decode_branch(spark):
    """Lights up the moment PIL appears: encode a known grayscale array
    to PNG, decode through the real branch, get the array back."""
    import io as _io

    from PIL import Image

    a = np.frombuffer(MM.make_fake_image(16, 12, seed=3),
                      dtype=np.uint8).reshape(12, 16)
    buf = _io.BytesIO()
    Image.fromarray(a, mode="L").save(buf, format="PNG")
    assert np.array_equal(MM.decode_image(buf.getvalue(), 16, 12), a)


@pytest.mark.skipif(not MM.HAS_IMAGEIO, reason="imageio not installed")
def test_real_mp4_encode_branch(spark):
    """Lights up the moment imageio appears: the applyInPandas encode
    path emits a real ISO-BMFF container instead of the fake concat."""
    f0, f1 = MM.make_fake_image(16, 16, 1), MM.make_fake_image(16, 16, 2)
    frames = spark.createDataFrame(
        [("v", 16, 16, 0, bytearray(f0)), ("v", 16, 16, 1, bytearray(f1))],
        "path string, width int, height int, frame_index int, frame binary")
    vid = MM.encode_frames_to_video(frames, real_mp4=True).collect()[0]
    assert bytes(vid.video)[4:8] == b"ftyp"  # ISO-BMFF brand box


def test_encode_frames_roundtrip(spark):
    """S14: frames → video → sampled frames round-trips."""
    f0, f1 = MM.make_fake_image(8, 4, 1), MM.make_fake_image(8, 4, 2)
    frames = spark.createDataFrame(
        [("v", 8, 4, 0, bytearray(f0)), ("v", 8, 4, 1, bytearray(f1))],
        "path string, width int, height int, frame_index int, frame binary")
    vid = MM.encode_frames_to_video(frames).collect()[0]
    assert vid.n_frames == 2 and bytes(vid.video) == f0 + f1
    vdf = spark.createDataFrame(
        [(vid.path, vid.width, vid.height, bytearray(vid.video))],
        "path string, width int, height int, video binary")
    back = MM.sample_video_frames(vdf, every_n=1).collect()
    assert [bytes(b.frame) for b in sorted(back, key=lambda r: r.frame_index)] \
        == [f0, f1]


def test_flow_config_yaml_roundtrip(tmp_path):
    """S9: YAML ⇄ typed config with unknown-key rejection."""
    import pytest as _pytest

    from picoprobedataflow_spark.config import FlowConfig

    cfg = FlowConfig(input_dir="/data/in", catalog_path="/data/cat",
                     max_files_per_trigger=1,
                     extra_spark_conf={"spark.sql.shuffle.partitions": "8"})
    p = tmp_path / "flow.yaml"
    cfg.to_yaml(p)
    back = FlowConfig.from_yaml(p)
    assert back == cfg
    p2 = tmp_path / "bad.yaml"
    p2.write_text("input_dir: /x\nnot_a_key: 1\n")
    with _pytest.raises(ValueError, match="not_a_key"):
        FlowConfig.from_yaml(p2)


def test_fake_emd_0d_signal_roundtrip():
    """A 0-d signal (one scalar) must round-trip: np.prod(()) == 1, so
    the parser reads exactly 4 data bytes and the following signals
    stay aligned (regression: the old `if dims else 0` guard read 0
    bytes and corrupted every subsequent signal)."""
    payload = emd.write_fake_emd([
        ("scalar", np.array(7.5, dtype="f4"), {"kind": "0d"}),
        ("cube", np.arange(8, dtype="f4").reshape(2, 2, 2), {"kind": "3d"}),
    ])
    parsed = emd._parse_fake_emd(payload)
    assert [t for t, _, _ in parsed] == ["scalar", "cube"]
    assert parsed[0][1].shape == ()
    assert float(parsed[0][1]) == 7.5
    assert parsed[1][1].shape == (2, 2, 2)
    assert json.loads(parsed[1][2])["kind"] == "3d"


@pytest.mark.skipif(not emd.HAS_H5PY,
                    reason="h5py not installed in this container; the "
                           "FAKE-EMD branch exercises the same plumbing")
def test_parse_hdf5_real_branch(tmp_path):
    """Light up the real-HDF5 branch the moment the dependency appears:
    craft a tiny HDF5 in-memory via h5py, feed its bytes to
    ``_parse_hdf5``, and check the (title, array, metadata-json)
    contract matches the FAKE-EMD branch's."""
    import io as _io

    import h5py

    buf = _io.BytesIO()
    with h5py.File(buf, "w") as f:
        d = f.create_dataset("experiment/signal3d",
                             data=np.arange(24, dtype="f4").reshape(2, 3, 4))
        d.attrs["beam_energy"] = 200.0
        f.create_dataset("experiment/axis", data=np.arange(4, dtype="f4"))
    signals = emd._parse_hdf5(buf.getvalue())
    by_name = {t: (a, m) for t, a, m in signals}
    assert "experiment/signal3d" in by_name
    arr, meta = by_name["experiment/signal3d"]
    assert arr.shape == (2, 3, 4)
    assert json.loads(meta)["beam_energy"] == 200.0
    # the 3-D signal-of-interest predicate (S5) finds exactly one
    assert sum(1 for _, a, _ in signals if a.ndim == 3) == 1


def test_jsonl_roundtrip_with_corrupt_lines(spark, tmp_path):
    """JSONL corpus io: schema-pinned read (no inference pass),
    gzip-sharded write round-trips all rows, and a corrupt line
    becomes a countable _corrupt_record row instead of an
    exception — the ingest-health contract of crawl-shard reads."""
    import gzip

    from picoprobedataflow_spark.io.jsonl import (
        corrupt_line_stats, read_jsonl_corpus, write_jsonl_corpus)

    docs = (spark.read
            .parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text", "source"))
    n = docs.count()
    out = str(tmp_path / "shards")
    write_jsonl_corpus(docs, out, n_shards=3)
    schema = "doc_id long, text string, source string"
    back = read_jsonl_corpus(spark, out, schema)
    clean_stats = corrupt_line_stats(back).collect()[0]
    assert clean_stats.n_corrupt == 0
    assert clean_stats.n_rows == n
    assert sorted(r.doc_id for r in back.select("doc_id").collect()) \
        == sorted(r.doc_id for r in docs.select("doc_id").collect())

    # inject a corrupt shard line
    bad = tmp_path / "shards" / "zz-bad.json.gz"
    with gzip.open(bad, "wt") as f:
        f.write('{"doc_id": 999999, "text": "ok", "source": "x"}\n')
        f.write('{"doc_id": broken-json\n')
    again = read_jsonl_corpus(spark, out, schema)
    stats = corrupt_line_stats(again).collect()[0]
    assert stats.n_rows == n + 2
    assert stats.n_corrupt == 1
    # data-column projection alongside the corrupt column (Spark
    # disallows corrupt-only references over raw JSON)
    rows = again.select("doc_id", "_corrupt_record").collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert sum(1 for r in good if r.doc_id == 999999) == 1
    assert len(bad) == 1 and "broken-json" in bad[0]._corrupt_record


def test_read_wet_records(spark, tmp_path):
    """WET ingestion (round 14): one row per record off the lineSep
    split — warcinfo filtered by default, headers extracted (URI,
    ISO date, type, length), a body MENTIONING 'WARC/1.0' mid-line
    stays intact, a record without a Target-URI keeps NULL rather
    than erroring, and the documents-shaped view derives stable
    hash ids + registrable-domain sources."""
    from picoprobedataflow_spark.io.warc import (
        read_wet, wet_documents)

    def rec(headers, body):
        return ("WARC/1.0\r\n" + "\r\n".join(headers)
                + "\r\n\r\n" + body)

    wet = "\r\n\r\n".join([
        rec(["WARC-Type: warcinfo",
             "Content-Type: application/warc-fields",
             "Content-Length: 10"], "robots: x"),
        rec(["WARC-Type: conversion",
             "WARC-Target-URI: https://WWW.Example.COM/a",
             "WARC-Date: 2024-03-01T12:30:00Z",
             "Content-Type: text/plain",
             "Content-Length: 25"],
            "first page text\nWARC/1.0 mentioned inline"),
        rec(["WARC-Type: conversion",
             "WARC-Target-URI: http://blog.example.co.uk/p",
             "WARC-Date: 2024-03-01T12:31:00Z",
             "Content-Type: text/plain",
             "Content-Length: 11"], "second page"),
        rec(["WARC-Type: conversion",
             "WARC-Date: 2024-03-01T12:32:00Z",
             "Content-Length: 7"], "no uri"),
    ]) + "\r\n\r\n"
    p = tmp_path / "crawl.wet"
    p.write_bytes(wet.encode())

    rows = {r.target_uri: r for r in
            read_wet(spark, str(p)).collect()}
    assert len(rows) == 3                      # warcinfo dropped
    a = rows["https://WWW.Example.COM/a"]
    assert a.text == "first page text\nWARC/1.0 mentioned inline"
    assert str(a.warc_date).startswith("2024-03-01 12:30")
    assert a.content_type == "text/plain"
    assert a.content_length == 25
    assert rows["http://blog.example.co.uk/p"].text == "second page"
    assert None in rows and rows[None].text == "no uri"

    allr = read_wet(spark, str(p), record_type=None)
    assert allr.count() == 4                   # warcinfo kept

    docs = {r.source: r for r in
            wet_documents(spark, str(p)).collect()}
    assert set(docs) == {"example.com", "example.co.uk"}
    assert all(r.doc_id is not None for r in docs.values())
    # deterministic ids: a second read produces the same ids
    again = {r.source: r.doc_id for r in
             wet_documents(spark, str(p)).collect()}
    assert {s: r.doc_id for s, r in docs.items()} == again


def test_wet_watch_stream_equals_batch(spark, tmp_path):
    """Streaming WET ingestion: draining a watched directory yields
    rows byte-identical to the batch reader over the same members
    (shared parser), exactly-once per member across restarts."""
    from picoprobedataflow_spark.io.warc import (
        read_wet, wet_watch_stream)

    def rec(uri, body, n):
        return ("WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                "WARC-Date: 2024-05-01T00:00:00Z\r\n"
                f"Content-Length: {n}\r\n\r\n" + body)

    d = tmp_path / "wet_in"
    d.mkdir()
    (d / "a.wet").write_bytes(
        ("\r\n\r\n".join([rec("http://a.example/1", "alpha text", 10),
                          rec("http://a.example/2", "beta text", 9)])
         + "\r\n\r\n").encode())
    out = str(tmp_path / "records")
    ckpt = str(tmp_path / "ck")

    def drain():
        q = (wet_watch_stream(spark, str(d))
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)

    drain()
    (d / "b.wet").write_bytes(
        (rec("http://b.example/3", "gamma text", 10)
         + "\r\n\r\n").encode())
    drain()

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in read_wet(spark, str(d)).collect())
    assert got == want and len(got) == 3
    # restart with nothing new adds nothing (file-source tracking)
    drain()
    assert spark.read.parquet(out).count() == 3


def test_read_wet_header_case_variance(spark, tmp_path):
    """ISO 28500 field names are case-INSENSITIVE (round-15 ADVICE
    fix): a conforming member with 'Warc-Type:' / 'WARC-TARGET-URI:'
    / 'content-length:' casing parses identically to canonical
    casing — before the fix the type extracted as '' and the default
    conversion filter silently dropped every record of the file."""
    from picoprobedataflow_spark.io.warc import read_wet

    wet = ("WARC/1.0\r\n"
           "Warc-Type: conversion\r\n"
           "WARC-TARGET-URI: https://odd.example/x\r\n"
           "warc-date: 2024-06-01T08:00:00Z\r\n"
           "content-type: text/plain\r\n"
           "CONTENT-LENGTH: 9\r\n"
           "\r\n"
           "page text\r\n\r\n")
    p = tmp_path / "cased.wet"
    p.write_bytes(wet.encode())
    rows = read_wet(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.target_uri == "https://odd.example/x"
    assert str(r.warc_date).startswith("2024-06-01 08:00")
    assert r.content_type == "text/plain"
    assert r.content_length == 9 and r.text == "page text"
    # header VALUES keep their case — only field-name matching is
    # case-blind (the (?i) must not rewrite what is captured)
    wet2 = ("WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Target-URI: https://Mixed.Example/Path%2Fq\r\n"
            "\r\nbody\r\n\r\n")
    p2 = tmp_path / "vals.wet"
    p2.write_bytes(wet2.encode())
    assert (read_wet(spark, str(p2)).collect()[0].target_uri
            == "https://Mixed.Example/Path%2Fq")


def test_read_wet_cr_only_line_ends(spark, tmp_path):
    """CR-only line ends (round-15 degenerate battery): the WARC 1.0
    record boundary is CRLF by spec, so a CR-only member never
    splits — the defined degradation is ONE row for the whole file
    (headers still extract: Java MULTILINE ^ matches after a bare
    CR) with an EMPTY body (no CRLF-CRLF header/body divider
    exists), never an abort or a half-parsed phantom record."""
    from picoprobedataflow_spark.io.warc import read_wet

    wet = ("WARC/1.0\r"
           "WARC-Type: conversion\r"
           "WARC-Target-URI: https://cr.example/only\r"
           "\r"
           "body that never separates\r")
    p = tmp_path / "cr.wet"
    p.write_bytes(wet.encode())
    rows = read_wet(spark, str(p), record_type=None).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.target_uri == "https://cr.example/only"
    assert r.text == ""


def test_wet_quoted_dump_quarantine(spark, tmp_path):
    """The module docstring's KNOWN LIMIT, now a handled path
    (round-15 VERDICT ask #4): a page QUOTING a WARC dump contains
    the full record boundary in its body, so the lineSep split
    truncates the record at the quote — and the declared
    Content-Length, counted over the full body, no longer matches
    the split octets. wet_reconcile flags it; read_wet_reconciled
    routes it to quarantine while honest records (including
    multi-byte bodies whose CHAR length differs from octets) stay
    clean. The phantom fragment after the quote has no WARC-Type
    and drops under the default conversion filter."""
    from picoprobedataflow_spark.io.warc import read_wet_reconciled

    quoted_body = ("see this dump:\r\n\r\nWARC/1.0\r\n"
                   "WARC-Type: response\r\nquoted inner headers")
    honest = "héllo wörld"                      # 11 chars, 13 octets
    member = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://a.example/quote\r\n"
        f"Content-Length: {len(quoted_body.encode())}\r\n"
        "\r\n" + quoted_body + "\r\n\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://b.example/honest\r\n"
        f"Content-Length: {len(honest.encode())}\r\n"
        "\r\n" + honest + "\r\n\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: https://c.example/undeclared\r\n"
        "\r\nno length declared\r\n\r\n")
    p = tmp_path / "quoted.wet"
    p.write_bytes(member.encode())
    clean, quar = read_wet_reconciled(spark, str(p))
    c = {r.target_uri: r for r in clean.collect()}
    q = {r.target_uri: r for r in quar.collect()}
    # honest multi-byte record: octets (not chars) match -> clean
    assert "https://b.example/honest" in c
    assert c["https://b.example/honest"].text_octets == 13
    # undeclared length: nothing to dispute -> clean
    assert "https://c.example/undeclared" in c
    # the quoted dump truncated at the quote -> quarantined
    assert set(q) == {"https://a.example/quote"}
    assert q["https://a.example/quote"].text == "see this dump:"
    assert (q["https://a.example/quote"].content_length
            > q["https://a.example/quote"].text_octets)
