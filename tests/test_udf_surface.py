"""UDF/UDTF/UDAF surface (SURVEY §2.10) + the Python DataSource:
the extensibility mechanisms a reference tool author would use.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_python_udtf_token_explode(spark):
    """Python UDTF (Spark 4): one doc row → many token rows — the
    dict-in/rows-out shape of a Gladier tool (SURVEY §2.10)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, tok string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, t in enumerate(text.split()):
                yield doc_id, i, t

    spark.udtf.register("tokenize_udtf", Tokenize)
    df = spark.createDataFrame([(1, "a b c"), (2, "x y")],
                               "doc_id long, text string")
    df.createOrReplaceTempView("udtf_docs_v")
    out = spark.sql("""
        SELECT t.doc_id, t.pos, t.tok
        FROM udtf_docs_v, LATERAL tokenize_udtf(doc_id, text) t
    """).collect()
    assert len(out) == 5
    assert [r.tok for r in out if r.doc_id == 1] == ["a", "b", "c"]


def test_pandas_udaf_weighted_mean(spark):
    """GROUPED_AGG pandas UDF — the UDAF surface the reference lacks
    (SURVEY §2.10: 'engine exposes pandas_udf GROUPED_AGG')."""

    @F.pandas_udf("double")
    def weighted_mean(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0)],
        "k string, v double, w double")
    got = {r.k: r.wm for r in
           df.groupBy("k").agg(weighted_mean("v", "w").alias("wm")).collect()}
    assert got["a"] == pytest.approx(17.5)
    assert got["b"] == pytest.approx(5.0)


def test_scalar_pandas_udf_vs_builtin(spark):
    """Arrow-batched scalar pandas UDF — and the assertion that the
    built-in expression gives the same answer (the point of SURVEY's
    'UDFs are the slow path': use them only when built-ins can't)."""

    @F.pandas_udf("double")
    def gb(v: pd.Series) -> pd.Series:
        return v / (1024.0 ** 3)

    df = spark.range(100).select((F.col("id") * 123456789).alias("b"))
    a = [r[0] for r in df.select(gb("b")).collect()]
    b = [r[0] for r in df.select(F.col("b") / (1024.0 ** 3)).collect()]
    assert a == b


def test_emd_python_datasource(spark, tmp_path):
    """spark.read.format('femd') — the Python DataSource wrapper."""
    import numpy as np

    from picoprobedataflow_spark.io import emd
    from picoprobedataflow_spark.io.binary_files import scan_binary_dir
    from picoprobedataflow_spark.io.emd_datasource import register

    rng = np.random.default_rng(3)
    for i in range(2):
        cube = rng.integers(0, 9, size=(2, 3, 4)).astype("f4")
        (tmp_path / f"d{i}.emd").write_bytes(emd.write_fake_emd(
            [("EDS", cube, {"i": i}), ("flat", cube[0], {})]))
    register(spark)
    df = spark.read.format("femd").load(str(tmp_path))
    rows = df.collect()
    assert len(rows) == 4  # 2 files × 2 signals
    # the same signal rows as the flows' kernel over the same files
    ref = emd.extract_signals(
        scan_binary_dir(spark, str(tmp_path), glob="*.emd"))
    assert df.schema == ref.schema
    assert sorted(rows) == sorted(
        ref.withColumn("path", F.regexp_replace("path", "^file:", ""))
        .collect())
    assert {r.title for r in rows} == {"EDS", "flat"}
    cubes = df.filter(F.col("ndim") == 3)
    assert cubes.count() == 2 and cubes.collect()[0].dims == [2, 3, 4]
    # empty-directory contract: partitions()==[] → read(None) → 0 rows
    empty = tmp_path / "empty"
    empty.mkdir()
    assert spark.read.format("femd").load(str(empty)).count() == 0


def test_kernel_modules_ship_by_value():
    """Every module whose kernels run in Python workers is registered
    for by-value pickling with PySpark's own cloudpickle (a standalone
    ``cloudpickle`` keeps a registry Spark never reads)."""
    import importlib

    from pyspark import cloudpickle

    mods = {"picoprobedataflow_spark.io.emd",
            "picoprobedataflow_spark.io.emd_datasource",
            "picoprobedataflow_spark.operators.multimodal",
            "picoprobedataflow_spark.operators.similarity",
            "picoprobedataflow_spark.streaming.stateful"}
    for m in mods:
        importlib.import_module(m)
    assert mods <= set(cloudpickle.list_registry_pickle_by_value())


def test_audio_lane_real_pcm_pipeline(spark):
    """The audio multimodal lane end-to-end, with REAL decode (PCM16
    via numpy, WAV container via stdlib wave — no codec stub):
    features match direct numpy math, WAV round-trips byte-exactly,
    and resampling halves the sample count while preserving the
    tone's RMS to first order."""
    import numpy as np

    from picoprobedataflow_spark.operators.audio import (
        decode_pcm16, extract_audio_features, make_fake_audio,
        pcm_to_wav, resample_audio, wav_to_pcm)

    sr, n = 16000, 16000
    clips = [(f"clip{i}.wav", sr, n, make_fake_audio(sr, n, seed=i))
             for i in range(3)]
    df = spark.createDataFrame(
        clips, "path string, sample_rate int, n_samples int, "
               "audio binary")
    feats = {r.path: r for r in extract_audio_features(df).collect()}
    for path, _sr, _n, pcm in clips:
        a = decode_pcm16(pcm, n)
        r = feats[path]
        assert abs(r.rms - float(np.sqrt(np.mean(a * a)))) < 1e-9
        assert abs(r.peak - float(np.abs(a).max())) < 1e-9
        assert abs(r.duration_s - 1.0) < 1e-9
        assert 0.0 < r.zcr < 0.5     # a 440 Hz tone, not noise/silence
    # WAV container round-trip (stdlib, real)
    wav = pcm_to_wav(clips[0][3], sr)
    pcm2, sr2, n2 = wav_to_pcm(wav)
    assert (pcm2, sr2, n2) == (clips[0][3], sr, n)
    # resample 16k -> 8k
    half = {r.path: r for r in
            resample_audio(df, target_rate=8000).collect()}
    for path, *_ in clips:
        assert half[path].n_samples == 8000
        assert half[path].sample_rate == 8000
    a0 = decode_pcm16(bytes(half[clips[0][0]].audio), 8000)
    r0 = feats[clips[0][0]].rms
    assert abs(float(np.sqrt(np.mean(a0 * a0))) - r0) < 0.02


def test_audio_fingerprint_noise_robust_dedup(spark):
    """Acoustic fingerprints: a clip and its lightly-noised copy
    collide (energy-delta signs survive jitter), clips with
    different tone structure differ, and the fingerprint joins the
    standard exact-dedup groupBy unchanged."""
    import numpy as np

    from picoprobedataflow_spark.operators.audio import (
        audio_fingerprints, decode_pcm16, encode_pcm16,
        make_fake_audio)

    sr, n = 16000, 16384
    base = make_fake_audio(sr, n, freq=440.0, seed=1)
    wavef = decode_pcm16(base, n)
    rng = np.random.default_rng(7)
    noised = encode_pcm16(wavef + 0.002 * rng.standard_normal(n))
    # different STRUCTURE: amplitude-modulated sweep, not just
    # another pure tone (pure tones share near-flat energy curves)
    t = np.arange(n) / sr
    sweep = encode_pcm16(
        0.5 * np.sin(2 * np.pi * (200 + 3000 * t) * t)
        * (0.2 + 0.8 * (np.sin(2 * np.pi * 3 * t) > 0)))
    df = spark.createDataFrame(
        [("a.wav", sr, n, base), ("a2.wav", sr, n, noised),
         ("b.wav", sr, n, sweep)],
        "path string, sample_rate int, n_samples int, audio binary")
    fps = {r.path: r.fp for r in audio_fingerprints(df).collect()}
    assert fps["a.wav"] == fps["a2.wav"]
    assert fps["a.wav"] != fps["b.wav"]
    groups = (audio_fingerprints(df)
              .groupBy("fp").count().collect())
    assert sorted(r["count"] for r in groups) == [1, 2]


def test_compression_ratio_separates_spam_from_prose(spark):
    """zlib compression ratio: repetitive spam compresses far below
    natural-looking prose, values match direct zlib math, and the
    UDF is Arrow-batched (ArrowEvalPython in the plan, never
    BatchEvalPython)."""
    import zlib

    from picoprobedataflow_spark.functions.text import compression_ratio

    spam = "buy now " * 200
    prose = ("the measured quantity varied across runs while the "
             "detector recorded each frame with distinct metadata "
             "fields and irregular spacing between readout events "
             "that never quite repeated the same words twice more")
    df = spark.createDataFrame([(1, spam), (2, prose)],
                               "doc_id long, text string")
    out = df.select("doc_id",
                    compression_ratio("text").alias("cr"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    rows = {r.doc_id: r.cr for r in out.collect()}
    for did, text in ((1, spam), (2, prose)):
        want = len(zlib.compress(text.encode(), 6)) / len(text.encode())
        assert abs(rows[did] - want) < 1e-12
    assert rows[1] < 0.1 < rows[2]


def test_nfc_normalize_composes_and_is_arrow_batched(spark):
    """Unicode NFC: decomposed marks compose (café, Hangul jamo),
    sequences with no precomposed form stay decomposed but
    canonically equivalent, already-composed text is a fixpoint,
    None passes through, and the UDF is Arrow-batched
    (ArrowEvalPython in the plan, never BatchEvalPython)."""
    import unicodedata

    from picoprobedataflow_spark.functions.text import nfc_normalize

    cases = [(1, "cafe\u0301"), (2, "\u1100\u1161"), (3, "q\u0301"),
             (4, "caf\u00e9"), (5, ""), (6, None)]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    out = df.select("doc_id", nfc_normalize("text").alias("norm"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    rows = {r.doc_id: r.norm for r in out.collect()}
    assert rows[1] == "caf\u00e9"    # composed, one char shorter
    assert rows[2] == "\uac00"        # jamo -> syllable block
    assert rows[3] == "q\u0301"       # no precomposed q-acute
    assert rows[4] == "caf\u00e9"     # idempotent on composed
    assert rows[5] == "" and rows[6] is None
    for did, raw in cases:
        if raw is not None:
            assert rows[did] == unicodedata.normalize("NFC", raw)


def test_image_phash_noise_and_resize_robust(spark):
    """Perceptual dHash: a lightly-noised copy and a 2x-downscaled
    copy of an image both collide with the original (pooled means
    absorb noise; the grid is resolution-independent), while a
    different image differs."""
    import numpy as np

    from picoprobedataflow_spark.operators.multimodal import (
        image_phash, make_fake_image)

    w, h = 64, 64
    base = np.frombuffer(make_fake_image(w, h, seed=3),
                         dtype=np.uint8).reshape(h, w).astype("f8")
    # smooth structure so pooled comparisons are decisive
    x = np.linspace(0, 4 * np.pi, w)
    y = np.linspace(0, 2 * np.pi, h)
    img = (127 + 90 * np.sin(x)[None, :] * np.cos(y)[:, None]
           + 0.05 * (base - 127))
    rng = np.random.default_rng(11)
    noised = np.clip(img + rng.normal(0, 2.0, img.shape), 0, 255)
    small = img[::2, ::2]
    other = 255.0 - img
    rows = [("orig", w, h, img.astype(np.uint8).tobytes()),
            ("noised", w, h, noised.astype(np.uint8).tobytes()),
            ("small", w // 2, h // 2,
             small.astype(np.uint8).tobytes()),
            ("other", w, h, other.astype(np.uint8).tobytes())]
    df = spark.createDataFrame(
        rows, "path string, width int, height int, image binary")
    fps = {r.path: r.phash for r in image_phash(df).collect()}
    assert fps["orig"] == fps["noised"] == fps["small"]
    assert fps["orig"] != fps["other"]


def test_image_near_dup_lane_pairs_and_clusters(spark):
    """The composed image-dedup lane (phash → banded simhash pairing
    → connected components): noisy re-uploads of the same image pair
    up within the hamming budget and resolve into one cluster per
    original; unrelated images never pair; singletons stay out of
    the cluster map."""
    import numpy as np

    from picoprobedataflow_spark.operators.multimodal import (
        image_near_dup_clusters, image_near_dup_pairs,
        make_fake_image)

    w, h = 64, 64
    rng = np.random.default_rng(7)

    def smooth(seed):
        base = np.frombuffer(make_fake_image(w, h, seed=seed),
                             dtype=np.uint8).reshape(h, w)
        x = np.linspace(0, (2 + seed) * np.pi, w)
        y = np.linspace(0, 2 * np.pi, h)
        return (127 + 90 * np.sin(x)[None, :] * np.cos(y)[:, None]
                + 0.05 * (base.astype("f8") - 127))

    rows = []
    for fam, seed, n_copies in (("a", 1, 3), ("b", 2, 2)):
        img = smooth(seed)
        rows.append((f"{fam}0", w, h,
                     img.astype(np.uint8).tobytes()))
        for i in range(1, n_copies):
            noisy = np.clip(img + rng.normal(0, 2.0, img.shape),
                            0, 255)
            rows.append((f"{fam}{i}", w, h,
                         noisy.astype(np.uint8).tobytes()))
    # a singleton unrelated image (inverted structure)
    rows.append(("solo", w, h,
                 (255.0 - smooth(1)).astype(np.uint8).tobytes()))
    df = spark.createDataFrame(
        rows, "path string, width int, height int, image binary")

    pairs = image_near_dup_pairs(df, max_hamming=6, codec="fake")
    got = {(p.doc_a, p.doc_b) for p in pairs.collect()}
    # within-family pairs all present (copies are within budget)...
    for fam, n in (("a", 3), ("b", 2)):
        for i in range(n):
            for j in range(i + 1, n):
                assert (f"{fam}{i}", f"{fam}{j}") in got, (fam, i, j)
    # ...and no cross-family or solo pair
    for x, y in got:
        assert x[0] == y[0], (x, y)

    comp = {r.node: r.comp
            for r in image_near_dup_clusters(
                df, max_hamming=6, codec="fake").collect()}
    assert {comp[f"a{i}"] for i in range(3)} == {"a0"}
    assert {comp[f"b{i}"] for i in range(2)} == {"b0"}
    assert "solo" not in comp  # singleton: nothing to resolve


def test_pcm_wav_roundtrip_property(spark):
    """PCM16 encode/decode round-trips within one quantization step
    for arbitrary waveforms, and WAV container wrapping is lossless
    over the PCM bytes — for a spread of lengths including the
    empty clip."""
    import numpy as np

    from picoprobedataflow_spark.operators.audio import (
        decode_pcm16, encode_pcm16, pcm_to_wav, wav_to_pcm)

    rng = np.random.default_rng(42)
    for n in (0, 1, 7, 1024):
        wave_f = np.clip(rng.standard_normal(n) * 0.4, -1, 0.999)
        pcm = encode_pcm16(wave_f)
        back = decode_pcm16(pcm, n)
        assert len(back) == n
        if n:
            assert float(np.abs(back - wave_f).max()) <= 1.0 / 32768
        wav = pcm_to_wav(pcm, 8000)
        pcm2, sr, n2 = wav_to_pcm(wav)
        assert (pcm2, sr, n2) == (pcm, 8000, n)


def test_audio_near_dup_lane_and_bit63_fold(spark):
    """The audio hamming lane: a lightly-noised re-encode of a clip
    pairs with the original at small hamming while a different tone
    does not; and the int64 fold regression — a fingerprint with
    bit 63 set must map to its two's-complement value (fp - 2^64),
    NOT fp - 2^63, which collided it with its bit-63-cleared twin."""
    import numpy as np

    from picoprobedataflow_spark.operators.audio import (
        audio_fingerprints, audio_near_dup_pairs, decode_pcm16,
        encode_pcm16, make_fake_audio)

    sr, n = 16000, 1024 * 8
    base = decode_pcm16(make_fake_audio(sr, n, freq=440.0, seed=1), n)
    rng = np.random.default_rng(3)
    noised = np.clip(base + 0.002 * rng.standard_normal(n), -1, 1)
    other = decode_pcm16(make_fake_audio(sr, n, freq=97.0, seed=2), n)
    rows = [("a0", sr, n, encode_pcm16(base)),
            ("a1", sr, n, encode_pcm16(noised)),
            ("b0", sr, n, encode_pcm16(other))]
    df = spark.createDataFrame(
        rows, "path string, sample_rate int, n_samples int, "
              "audio binary")
    pairs = {(p.doc_a, p.doc_b): p.hamming
             for p in audio_near_dup_pairs(df, max_hamming=2)
             .collect()}
    assert ("a0", "a1") in pairs
    assert all({x[0], y[0]} != {"a", "b"}
               for x, y in pairs)  # no cross-tone pair

    # bit-63 fold: craft a waveform whose 64th delta (i=63) is the
    # ONLY rising one among bits >= 63's fold positions — energies
    # strictly decreasing except frame 63 -> 64. 65 frames needed.
    fr = 1024
    n2 = fr * 66
    amps = np.linspace(0.9, 0.1, 67)
    amps[64] = 0.95  # frame index 64 louder than 63: delta bit 63 = 1
    w = np.concatenate([
        amps[i] * np.ones(fr) * np.sign(np.sin(
            2 * np.pi * 440.0 * (np.arange(fr) + i * fr) / sr) + 1e-9)
        for i in range(66)])
    df2 = spark.createDataFrame(
        [("c", sr, n2, encode_pcm16(w[:n2]))],
        "path string, sample_rate int, n_samples int, audio binary")
    fp = audio_fingerprints(df2).head().fp
    assert fp < 0  # bit 63 set -> negative int64 (fp - 2^64)
    assert fp == (fp & ((1 << 64) - 1)) - (1 << 64)
