"""Multimodal columns — image/audio/video as opaque ``binary`` columns
with typed metadata, processed by Arrow-batched kernels.

This models the reference's media stages: MP4 encode
(``create_mp4_from_array``, tools/temporal.py:21-35), PNG rendering
(tools/hyperspectral.py:78-107), and YOLOv8 inference
(tools/temporal.py:37-55). The decode/encode/infer libraries (imageio,
ultralytics, PIL) are import-gated: when present, the real PNG/JPEG
decode and MP4 encode branches run (skipif-gated tests cover them);
when absent — as in this container — the boundary raises a
clearly-marked ``NotImplementedError`` and a deterministic fake codec
exercises the identical Spark-side plumbing — schema, batch iteration,
partition placement, model-per-executor amortization — which is real
and tested either way.

Fake codec: a "frame" is ``width*height`` bytes (uint8 pixels,
row-major); "video" is frames concatenated. Feature extraction and
resize are defined on that layout with deterministic arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picoprobedataflow_spark import ship_by_value

IMAGE_SCHEMA = ("path string, width int, height int, image binary, "
                "meta string")
FEATURES_SCHEMA = ("path string, width int, height int, mean_px double, "
                   "std_px double, edge_score double")
FRAME_SAMPLE_SCHEMA = ("path string, frame_index int, frame binary, "
                       "mean_px double")
BOXES_SCHEMA = ("path string, x1 double, y1 double, x2 double, y2 double, "
                "conf double, cls int")

# Import-gated real codecs (the h5py pattern, io/emd.py:32): the real
# branch lights up the moment the dependency appears in the
# environment; until then it raises the clearly-marked stub error and
# the deterministic fake codec exercises identical Spark plumbing.
try:  # pragma: no cover - absent in this container
    from PIL import Image as _pil_image  # type: ignore

    HAS_PIL = True
except Exception:
    _pil_image = None
    HAS_PIL = False
try:  # pragma: no cover - absent in this container
    import imageio.v3 as _imageio  # type: ignore

    HAS_IMAGEIO = True
except Exception:
    _imageio = None
    HAS_IMAGEIO = False

#: Magic bytes that route decode_image to the real branch.
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _require_real_codec(op: str) -> None:
    raise NotImplementedError(
        f"STUB: real {op} needs an image/video library (imageio/PIL/"
        "ultralytics) which is not installed in this container. The "
        "deterministic fake codec exercises the same Spark plumbing.")


def _decode_fake(image: bytes, width: int, height: int) -> np.ndarray:
    if len(image) != width * height:
        raise ValueError("fake frame length != width*height")
    return np.frombuffer(image, dtype=np.uint8).reshape(height, width)


def _decode_real(image: bytes, width: int,
                 height: int) -> np.ndarray:  # pragma: no cover
    """PNG/JPEG → uint8 grayscale array via PIL (the library the
    reference's matplotlib PNG path sits on, hyperspectral.py:78-107).
    The decoded shape is validated against the row's declared
    (width, height) metadata so a misrouted buffer or stale sidecar
    fails loudly instead of flowing a wrongly-shaped array downstream."""
    if not HAS_PIL:
        _require_real_codec("image decode")
    import io as _io

    with _pil_image.open(_io.BytesIO(image)) as im:
        a = np.asarray(im.convert("L"), dtype=np.uint8)
    if a.shape != (height, width):
        raise ValueError(
            f"decoded image shape {a.shape} != declared (h,w)="
            f"({height}, {width})")
    return a


def decode_image(image: bytes, width: int, height: int,
                 codec: str = "auto") -> np.ndarray:
    """Codec boundary. ``codec`` picks the branch explicitly:

    - ``"fake"`` — the deterministic width*height layout, never PIL;
    - ``"image"`` — force the PIL branch (PNG/JPEG);
    - ``"auto"`` — route on PNG/JPEG magic bytes, for mixed columns
      where provenance is untracked. Note arbitrary uint8 pixel data
      collides with the 3-byte JPEG magic at ~2^-24 per image, so
      pipelines that know their format should pass it explicitly; the
      real branch's shape validation catches the misroute either way.
    """
    if codec == "fake":
        return _decode_fake(image, width, height)
    if codec == "image":
        return _decode_real(image, width, height)  # pragma: no cover
    if image[:8] == _PNG_MAGIC or image[:3] == _JPEG_MAGIC:
        return _decode_real(image, width, height)  # pragma: no cover
    return _decode_fake(image, width, height)


def extract_image_features(images: DataFrame,
                           codec: str = "auto") -> DataFrame:
    """Per-image features (mean/std/edge energy) via ``mapInPandas`` —
    the shape of any decode→featurize stage: bytes in, numerics out,
    executed where the bytes live, Arrow both ways."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_image(bytes(r.image), r.width, r.height,
                                 codec).astype("f8")
                gx = np.abs(np.diff(a, axis=1)).mean() if a.shape[1] > 1 else 0.0
                gy = np.abs(np.diff(a, axis=0)).mean() if a.shape[0] > 1 else 0.0
                rows.append((r.path, r.width, r.height,
                             float(a.mean()), float(a.std()),
                             float(gx + gy)))
            yield pd.DataFrame(rows, columns=[
                "path", "width", "height", "mean_px", "std_px", "edge_score"])

    return (images.select("path", "width", "height", "image")
                  .mapInPandas(gen, FEATURES_SCHEMA))


def resize_images(images: DataFrame, out_w: int, out_h: int,
                  codec: str = "auto") -> DataFrame:
    """Nearest-neighbor resize on the fake layout (real branch would
    call the codec); output schema identical to input so stages chain."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_image(bytes(r.image), r.width, r.height, codec)
                yi = (np.arange(out_h) * r.height // out_h)
                xi = (np.arange(out_w) * r.width // out_w)
                small = a[np.ix_(yi, xi)]
                rows.append((r.path, out_w, out_h,
                             small.astype(np.uint8).tobytes(), r.meta))
            yield pd.DataFrame(rows, columns=[
                "path", "width", "height", "image", "meta"])

    return images.mapInPandas(gen, IMAGE_SCHEMA)


def sample_video_frames(videos: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling from the fake 'video' (concatenated frames) —
    one input row → many output rows, the UDTF-flavored extraction."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                fsize = r.width * r.height
                buf = bytes(r.video)
                n_frames = len(buf) // fsize
                for i in range(0, n_frames, every_n):
                    fr = buf[i * fsize:(i + 1) * fsize]
                    a = np.frombuffer(fr, dtype=np.uint8)
                    rows.append((r.path, i, fr, float(a.mean())))
            yield pd.DataFrame(rows, columns=[
                "path", "frame_index", "frame", "mean_px"])

    return (videos.select("path", "width", "height", "video")
                  .mapInPandas(gen, FRAME_SAMPLE_SCHEMA))


VIDEO_SCHEMA = "path string, width int, height int, video binary, n_frames int"


def _encode_mp4(pdf: pd.DataFrame, fps: int = 100) -> bytes:  # pragma: no cover
    """Real MP4 branch via imageio — the reference's exact codec path
    (``create_mp4_from_array`` iterates uint8 frames into an H.264
    writer at fps=100, tools/temporal.py:21-35)."""
    if not HAS_IMAGEIO:
        _require_real_codec("video encode")
    r = pdf.iloc[0]
    w, h = int(r["width"]), int(r["height"])
    stack = np.stack([
        np.frombuffer(bytes(b), dtype=np.uint8).reshape(h, w)
        for b in pdf["frame"]])
    return _imageio.imwrite("<bytes>", stack, extension=".mp4", fps=fps)


def encode_frames_to_video(frames: DataFrame,
                           real_mp4: bool = False) -> DataFrame:
    """S14 — per-file frame stack → 'video' (``create_mp4_from_array``,
    tools/temporal.py:21-35): group by path, order frames, concatenate
    (fake codec; ``real_mp4=True`` hands the ordered uint8 array to
    imageio's H.264 writer instead — explicit opt-in, NOT defaulted on
    imageio's presence, because :func:`sample_video_frames` has no MP4
    *decode* branch yet: a real container fed back through the fake
    frame-slicer would produce garbage frames). ``applyInPandas`` per
    file-group — the one shuffle is on path, which is exactly the unit
    of encode."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("frame_index")
        if real_mp4:
            video = _encode_mp4(pdf)  # pragma: no cover
        else:
            video = b"".join(bytes(b) for b in pdf["frame"])
        r = pdf.iloc[0]
        return pd.DataFrame([{
            "path": r["path"], "width": int(r["width"]),
            "height": int(r["height"]), "video": video,
            "n_frames": len(pdf)}])

    return (frames.select("path", "width", "height", "frame_index", "frame")
                  .groupBy("path").applyInPandas(encode, VIDEO_SCHEMA))


def detect_objects(images: DataFrame, conf_threshold: float = 0.5,
                   codec: str = "auto") -> DataFrame:
    """YOLO-style batched inference stub (temporal.py:37-55 runs a CLI
    subprocess per file; here the 'model' loads once per executor —
    the predict_batch_udf pattern). The fake model proposes a box
    around the brightest 8×8 tile, 'confidence' = tile mean / 255."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a real model (ultralytics YOLO, temporal.py:37-55) would be
        # loaded HERE, once per task, and reused across batches; no
        # public inference library ships in this container, so the
        # deterministic fake model below stands in.
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_image(bytes(r.image), r.width, r.height,
                                 codec).astype("f8")
                th, tw = max(1, r.height // 8), max(1, r.width // 8)
                best, bij = -1.0, (0, 0)
                for i in range(0, r.height, th):
                    for j in range(0, r.width, tw):
                        m = a[i:i + th, j:j + tw].mean()
                        if m > best:
                            best, bij = m, (i, j)
                conf = best / 255.0
                if conf >= conf_threshold:
                    i, j = bij
                    rows.append((r.path, float(j), float(i),
                                 float(min(j + tw, r.width)),
                                 float(min(i + th, r.height)), conf, 0))
            yield pd.DataFrame(rows, columns=[
                "path", "x1", "y1", "x2", "y2", "conf", "cls"])

    return (images.select("path", "width", "height", "image")
                  .mapInPandas(gen, BOXES_SCHEMA))


ship_by_value(__name__)


def make_fake_image(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic test image."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width), dtype=np.uint8).tobytes()


#: LCG pixel constants for the ORACLE-REPLAYABLE synthetic corpus:
#: px(id, p) = (id·A + p·B) mod 256 — plain BIGINT arithmetic a SQL
#: engine can regenerate row-for-row, unlike the PCG64 stream behind
#: :func:`make_fake_image`. Knuth's multiplicative constant and an
#: odd step give full-range mixing at these sizes (no pooled-mean
#: ties over the gated id range — checked empirically).
SYNTH_PX_A, SYNTH_PX_B = 2654435761, 40503


def synthetic_image_corpus(ids: DataFrame, id_col: str = "doc_id",
                           width: int = 16,
                           height: int = 16) -> DataFrame:
    """(path, width, height, image): one deterministic fake-codec
    image per input id, pixels from the SQL-replayable LCG above —
    the bridge that lets the perceptual-hash lane be ORACLE-GATED:
    DuckDB regenerates the identical pixel grid with integer
    arithmetic and replays the pooling, while Spark runs the real
    binary-column → ``mapInPandas`` decode plumbing. ``path`` is the
    stringified id (the dedup key a real ingest would carry).
    Arrow-batched; one narrow projection in, one out."""
    n_px = width * height

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = np.arange(n_px, dtype=np.int64)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                i = int(getattr(r, id_col))
                px = ((i * SYNTH_PX_A + p * SYNTH_PX_B) % 256) \
                    .astype(np.uint8)
                rows.append((str(i), width, height, px.tobytes()))
            yield pd.DataFrame(
                rows, columns=["path", "width", "height", "image"])

    return (ids.select(id_col)
               .mapInPandas(gen, "path string, width int, height int, "
                                 "image binary"))


def synthetic_video_corpus(ids: DataFrame, id_col: str = "doc_id",
                           width: int = 16, height: int = 16,
                           base_frames: int = 4) -> DataFrame:
    """(path, width, height, video, n_frames): one deterministic fake
    'video' per input id — ``base_frames + (id mod 3)`` concatenated
    frames whose pixels continue the SAME LCG stream as
    :func:`synthetic_image_corpus` over the flat offset
    ``f·(w·h) + p``, so a SQL engine regenerates every sampled
    frame's pixels exactly. Feeds the real frame-sampling kernel
    (:func:`sample_video_frames`) for the oracle gate."""
    fsize = width * height

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                i = int(getattr(r, id_col))
                nf = base_frames + (i % 3)
                p = np.arange(nf * fsize, dtype=np.int64)
                px = ((i * SYNTH_PX_A + p * SYNTH_PX_B) % 256) \
                    .astype(np.uint8)
                rows.append((str(i), width, height, px.tobytes(), nf))
            yield pd.DataFrame(rows, columns=[
                "path", "width", "height", "video", "n_frames"])

    return ids.select(id_col).mapInPandas(gen, VIDEO_SCHEMA)


def attach_image_metadata(images: DataFrame) -> DataFrame:
    """Typed metadata for the opaque binary column — F13/F14: the JSON
    sidecar the reference writes next to each artifact."""
    meta = F.to_json(F.struct(
        F.col("width"), F.col("height"),
        F.length("image").alias("n_bytes"),
        F.lit("u8-gray").alias("pixel_format")))
    return images.withColumn("meta", meta)


PHASH_SCHEMA = "path string, phash long"


def image_phash(images: DataFrame, grid: int = 8,
                codec: str = "auto") -> DataFrame:
    """Perceptual dHash per image — the image analog of the audio
    energy-delta fingerprint and the text SimHash: downsample the
    decoded image to a (grid × grid+1) mean-pooled grid and set one
    bit per horizontal neighbor comparison (left > right). Robust
    to resizing, re-encoding and mild noise (pooled means move far
    less than raw pixels), so trivially-altered re-uploads of the
    same image collide — image dedup then rides the standard
    hash-groupBy like every other modality. ``mapInPandas`` over
    the decode kernel; the hash is 64 bits at the default grid."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_image(bytes(r.image), r.width, r.height,
                                 codec).astype("f8")
                h, w = a.shape
                # mean-pool to grid x (grid+1) via integer bucketing
                yi = (np.arange(h) * grid) // max(h, 1)
                xi = (np.arange(w) * (grid + 1)) // max(w, 1)
                pooled = np.zeros((grid, grid + 1))
                cnt = np.zeros((grid, grid + 1))
                np.add.at(pooled, (yi[:, None], xi[None, :]), a)
                np.add.at(cnt, (yi[:, None], xi[None, :]), 1.0)
                pooled /= np.maximum(cnt, 1.0)
                bits = (pooled[:, :-1] > pooled[:, 1:]).ravel()
                fp = 0
                for i, b in enumerate(bits[:64]):
                    fp |= int(b) << i
                if fp >= (1 << 63):
                    fp -= 1 << 64
                rows.append((r.path, fp))
            yield pd.DataFrame(rows, columns=["path", "phash"])

    return (images.select("path", "width", "height", "image")
                  .mapInPandas(gen, PHASH_SCHEMA))


def image_near_dup_pairs(images: DataFrame, max_hamming: int = 6,
                         n_chunks: int = 8, grid: int = 8,
                         codec: str = "auto") -> DataFrame:
    """(doc_a, doc_b, hamming): near-duplicate image pairs — the
    LAION-style image-dedup stage, composed from the catalog's two
    existing halves rather than a third pairing engine: the
    perceptual dHash kernel (:func:`image_phash`, one Arrow-batched
    map) feeds the SimHash banded pairing machinery
    (:func:`..dedup.simhash_near_pairs` at ``bits=64`` — pigeonhole
    chunk equi-join, full recall for hamming < ``n_chunks``, then a
    ``bit_count(xor)`` verify). Scale shape is therefore exactly the
    text SimHash lane's: one narrow map per image, band-bucket
    equi-join only, no all-pairs anywhere; re-encoded / resized /
    lightly-noised re-uploads land within a few bits of the original
    and pair up."""
    from pyspark import StorageLevel

    from picoprobedataflow_spark.operators.dedup import \
        simhash_near_pairs
    # Persist the 16-byte-per-image signature table before the banded
    # self-join — the text lane's simhash_dedup convention. Without it
    # the decode+dHash Arrow kernel (the expensive half) evaluates on
    # BOTH join sides (round-17 plan audit: two ArrowEvalPython
    # subtrees for one kernel). MEMORY_ONLY: evictable, recomputes.
    sigs = (image_phash(images, grid=grid, codec=codec)
            .select("path", F.col("phash").alias("simhash"))
            .persist(StorageLevel.MEMORY_ONLY))
    return simhash_near_pairs(sigs, max_hamming=max_hamming,
                              n_chunks=n_chunks, bits=64,
                              id_col="path")


def image_near_dup_clusters(images: DataFrame, max_hamming: int = 6,
                            n_chunks: int = 8, grid: int = 8,
                            codec: str = "auto") -> DataFrame:
    """(node, comp): connected components over
    :func:`image_near_dup_pairs` — each re-upload cluster resolves to
    one component (min-id label propagation,
    :func:`..dedup.connected_components`); a keep-one-per-component
    policy is then the standard survivor groupBy. Images pairing with
    nothing do not appear (singletons need no resolution)."""
    from picoprobedataflow_spark.operators.dedup import \
        connected_components
    pairs = image_near_dup_pairs(images, max_hamming=max_hamming,
                                 n_chunks=n_chunks, grid=grid,
                                 codec=codec)
    return connected_components(pairs)
