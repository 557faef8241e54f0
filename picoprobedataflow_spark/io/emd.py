"""EMD (HDF5-based Velox) extraction — the reference's scientific scan
(S4/S5: ``hs.load`` + 3-D signal selection,
``picoprobe/tools/hyperspectral.py:51-66``) as Arrow-batched
``mapInPandas`` kernels over ``binaryFile`` rows.

Spark has no native HDF5 source, so this is the one place the engine
drops to Python — per SURVEY §2.10 the per-file dict-in/dict-out
Gladier tool maps exactly onto a grouped/map-batch kernel. The h5py
dependency is import-gated: absent (as in this container), a
deterministic FAKE-EMD binary format stands in so the Spark plumbing
(schema, batching, explosion) is real and tested; the h5py branch is
the identical code path with a different byte parser.

The flows parse each file once and reduce inside the kernel:
:func:`reduce_cubes` returns one row per file (image and spectrum as
numpy sums, plus the signal rows) and :func:`normalize_stacks` returns
the normalized frame pixels, so the Spark/Python boundary carries
about as many values as the results hold. :func:`extract_cube_longform`
keeps the relational long form, which the tests, the catalog oracle
and the benchmark probes check against.

FAKE-EMD layout (little-endian):
  magic b'FEMD' | uint16 n_signals | per signal:
    uint8 title_len | title utf-8 | uint8 ndim | uint32 dims[ndim] |
    float32 data[prod(dims)] | uint16 meta_len | metadata-json utf-8
"""

from __future__ import annotations

import io
import json
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picoprobedataflow_spark import ship_by_value

try:  # pragma: no cover - not present in this container
    import h5py  # type: ignore

    HAS_H5PY = True
except Exception:  # pragma: no cover
    h5py = None
    HAS_H5PY = False

#: Long-form hyperspectral cube schema (SURVEY §1.1: the idiomatic
#: Spark shape for the (X, Y, S) cube).
CUBE_SCHEMA = "path string, x int, y int, channel int, counts double"

#: One signal of a file: an element of :data:`REDUCED_SCHEMA`'s
#: ``signals`` and, after ``path``, a row of the ``femd`` source.
SIGNAL_FIELDS = ("signal_index int, title string, ndim int, "
                 "dims array<int>, metadata string")

#: Per-file reductions of :func:`reduce_cubes`: image (row-major over
#: (x, y), ``ny`` wide), spectrum, and the file's signal rows (one per
#: signal in the file).
REDUCED_SCHEMA = (
    "path string, ny int, image array<double>, spectrum array<double>, "
    f"signals array<struct<{SIGNAL_FIELDS}>>")

#: Normalized frame pixels of :func:`normalize_stacks`.
FRAMES_PX_SCHEMA = "path string, t int, x int, y int, px int"


def write_fake_emd(signals: list[tuple[str, np.ndarray, dict]]) -> bytes:
    """Serialize signals into the FAKE-EMD layout (test fixture
    generator — the simulator.py analog)."""
    out = io.BytesIO()
    out.write(b"FEMD")
    out.write(struct.pack("<H", len(signals)))
    for title, arr, meta in signals:
        t = title.encode()
        out.write(struct.pack("<B", len(t)))
        out.write(t)
        out.write(struct.pack("<B", arr.ndim))
        out.write(struct.pack(f"<{arr.ndim}I", *arr.shape))
        out.write(arr.astype("<f4").tobytes())
        m = json.dumps(meta, sort_keys=True).encode()
        out.write(struct.pack("<H", len(m)))
        out.write(m)
    return out.getvalue()


def _parse_fake_emd(content: bytes) -> list[tuple[str, np.ndarray, str]]:
    buf = io.BytesIO(content)
    if buf.read(4) != b"FEMD":
        raise ValueError("not a FAKE-EMD payload")
    (n,) = struct.unpack("<H", buf.read(2))
    out = []
    for _ in range(n):
        (tl,) = struct.unpack("<B", buf.read(1))
        title = buf.read(tl).decode()
        (ndim,) = struct.unpack("<B", buf.read(1))
        dims = struct.unpack(f"<{ndim}I", buf.read(4 * ndim))
        # np.prod(()) == 1, which is exactly right for a 0-d signal
        # (one scalar element); the old `if dims else 0` guard read 0
        # data bytes for 0-d and corrupted every following signal.
        count = int(np.prod(dims, dtype=np.int64))
        data = np.frombuffer(buf.read(4 * count), dtype="<f4").reshape(dims)
        (ml,) = struct.unpack("<H", buf.read(2))
        meta = buf.read(ml).decode()
        out.append((title, data, meta))
    return out


def _parse_hdf5(content: bytes) -> list[tuple[str, np.ndarray, str]]:
    """Real-EMD branch: open HDF5 from bytes (h5py BytesIO driver) and
    emit (title, array, metadata-json) per dataset — mirrors
    ``hs.load`` + ``metadata.as_dictionary()`` (hyperspectral.py:51-61,
    JSON-laundering included)."""
    if not HAS_H5PY:  # pragma: no cover
        raise NotImplementedError(
            "h5py is not installed in this environment; real .emd files "
            "need the HDF5 branch. The FAKE-EMD branch exercises the "
            "identical Spark plumbing.")
    signals = []  # pragma: no cover
    with h5py.File(io.BytesIO(content), "r") as f:  # pragma: no cover
        def visit(name, obj):
            if isinstance(obj, h5py.Dataset):
                meta = json.loads(json.dumps(dict(obj.attrs))) if obj.attrs else {}
                signals.append((name, obj[()], json.dumps(meta, sort_keys=True)))

        f.visititems(visit)
    return signals  # pragma: no cover


def _parse(content: bytes) -> list[tuple[str, np.ndarray, str]]:
    if content[:4] == b"FEMD":
        return _parse_fake_emd(content)
    return _parse_hdf5(content)


ship_by_value(__name__)


def _first_cube(signals: list[tuple[str, np.ndarray, str]]
                ) -> np.ndarray | None:
    """S5: the first 3-D signal of a parsed file (the reference's
    signal-of-interest scan, hyperspectral.py:54-66), or None."""
    for _title, arr, _meta in signals:
        if arr.ndim == 3:
            return arr
    return None


def extract_cube_longform(files: DataFrame) -> DataFrame:
    """S5 + cube explosion: select the first 3-D signal per file and
    emit the cube in long form (x, y, channel, counts) — after this,
    every reduction (A12/A13) is a plain groupBy that Catalyst owns.
    The flows reduce inside the kernel instead (:func:`reduce_cubes`);
    this form stays as the relational reference the tests and the
    catalog oracle check against."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                cube = _first_cube(_parse(bytes(content)))
                if cube is None:
                    continue  # reference raises; relationally: no rows
                nx, ny, ns = cube.shape
                xs, ys, cs = np.meshgrid(np.arange(nx), np.arange(ny),
                                         np.arange(ns), indexing="ij")
                yield pd.DataFrame({
                    "path": path,
                    "x": xs.ravel().astype("int32"),
                    "y": ys.ravel().astype("int32"),
                    "channel": cs.ravel().astype("int32"),
                    "counts": cube.ravel().astype("float64"),
                })

    return files.select("path", "content").mapInPandas(gen, CUBE_SCHEMA)


def reduce_cubes(files: DataFrame) -> DataFrame:
    """S4 + S5 + A12/A13 in one parse per file: one row per file with
    the image ``Σ_channel cube`` (row-major over (x, y), ``ny`` wide)
    and the spectrum ``Σ_(x,y) cube`` as arrays, plus the file's signal
    rows. A file without a 3-D signal keeps its signals and gets null
    image/spectrum. The long-form cube never crosses into the JVM: the
    kernel hands back ~nx·ny+ns numbers per file instead of nx·ny·ns
    rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                signals = _parse(bytes(content))
                cube = _first_cube(signals)
                image = spectrum = ny = None
                if cube is not None:
                    c64 = cube.astype("float64")
                    ny = cube.shape[1]
                    image = c64.sum(axis=2).ravel()
                    spectrum = c64.sum(axis=(0, 1))
                rows.append((path, ny, image, spectrum, [
                    {"signal_index": i, "title": title, "ndim": arr.ndim,
                     "dims": list(arr.shape), "metadata": meta}
                    for i, (title, arr, meta) in enumerate(signals)]))
            yield pd.DataFrame(rows, columns=[
                "path", "ny", "image", "spectrum", "signals"])

    return files.select("path", "content").mapInPandas(gen, REDUCED_SCHEMA)


def reduced_signals(reduced: DataFrame) -> DataFrame:
    """One row per signal of each :func:`reduce_cubes` row: path,
    signal_index, title, ndim, dims, metadata."""
    return (reduced.select("path", F.explode("signals").alias("s"))
                   .select("path", "s.*"))


def extract_signals(files: DataFrame) -> DataFrame:
    """S4: binaryFile rows → one row per contained signal. Arrow-
    batched; executes where the bytes were read (no shuffle)."""
    return reduced_signals(reduce_cubes(files))


def normalize_stacks(files: DataFrame) -> DataFrame:
    """A14 + F10 in one parse per file: the first 3-D signal as a
    ``(T, X, Y)`` stack, each frame min/max-normalized to uint8 px with
    numpy — the operations and their order of
    :func:`..functions.scalar.normalize_to_uint8`, so every pixel equals
    the relational path's; a constant frame is all 0."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                stack = _first_cube(_parse(bytes(content)))
                if stack is None:
                    continue
                v = stack.astype("float64")
                lo = v.min(axis=(1, 2), keepdims=True)
                span = v.max(axis=(1, 2), keepdims=True) - lo
                flat = span == 0
                scaled = ((v - lo) / np.where(flat, 1.0, span)
                          * float(2 ** 8 - 1) + 0.499999999)
                px = np.where(flat, 0, np.floor(scaled)).astype("int32")
                nt, nx, ny = v.shape
                ts, xs, ys = np.meshgrid(np.arange(nt), np.arange(nx),
                                         np.arange(ny), indexing="ij")
                yield pd.DataFrame({
                    "path": path,
                    "t": ts.ravel().astype("int32"),
                    "x": xs.ravel().astype("int32"),
                    "y": ys.ravel().astype("int32"),
                    "px": px.ravel(),
                })

    return files.select("path", "content").mapInPandas(gen, FRAMES_PX_SCHEMA)
