"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from one integer
seed: FAKE-EMD drops (via ``io.emd.write_fake_emd``) for the flows and
the watched directory, and a documents corpus for the curation funnel.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd

from picoprobedataflow_spark.io.emd import write_fake_emd


#: a seed, or a seed and the index of an item (operation, segment)
Seed = int | tuple[int, ...]


def seeded_rng(seed: Seed, stream: str) -> np.random.Generator:
    # one independent stream per input item, so resizing one kind of
    # input never changes the bytes of another
    return np.random.default_rng(
        [*np.atleast_1d(seed).tolist(), zlib.crc32(stream.encode())])


def hyperspectral_payload(rng: np.random.Generator, nx: int, ny: int,
                          ns: int, index: int) -> tuple[bytes, np.ndarray]:
    """One hyperspectral acquisition: a HAADF image, an (X, Y, S) EDS
    cube and nested metadata. Returns the file bytes and the cube."""
    cube = rng.gamma(2.0, 3.0, size=(nx, ny, ns)).astype("<f4")
    haadf = rng.random((nx, ny)).astype("<f4")
    meta = {"Acquisition": {"index": index, "BeamEnergy_keV": 300,
                            "Detector": {"name": "SuperX", "tilt": 0.25}},
            "Sample": {"name": f"sample-{index % 7}",
                       "grid": {"x": nx, "y": ny}}}
    payload = write_fake_emd([("HAADF", haadf, {"kind": "image"}),
                              ("EDS", cube, meta)])
    return payload, cube


def temporal_payload(rng: np.random.Generator, nt: int, nx: int,
                     ny: int, index: int) -> tuple[bytes, np.ndarray]:
    """One spatiotemporal acquisition: a time-major (T, X, Y) stack."""
    stack = (rng.random((nt, nx, ny)) * 4096.0).astype("<f4")
    meta = {"Acquisition": {"index": index, "FrameRate_Hz": 50},
            "Detector": {"name": "Ceta", "binning": 2}}
    return write_fake_emd([("Frames", stack, meta)]), stack


def write_hyperspectral_drop(directory: str, seed: Seed, n_files: int,
                             shape: tuple[int, int, int],
                             start: int = 0) -> dict[str, np.ndarray]:
    """Write ``n_files`` hyperspectral files ``hs_<i>.emd`` for
    i in [start, start + n_files); returns path -> cube."""
    os.makedirs(directory, exist_ok=True)
    cubes = {}
    for i in range(start, start + n_files):
        payload, cube = hyperspectral_payload(
            seeded_rng(seed, f"hs{i}"), *shape, index=i)
        path = os.path.join(directory, f"hs_{i:04d}.emd")
        with open(path, "wb") as f:
            f.write(payload)
        cubes[path] = cube
    return cubes


def write_temporal_drop(directory: str, seed: Seed, n_files: int,
                        shape: tuple[int, int, int]) -> dict[str, np.ndarray]:
    os.makedirs(directory, exist_ok=True)
    stacks = {}
    for i in range(n_files):
        payload, stack = temporal_payload(seeded_rng(seed, f"st{i}"), *shape,
                                          index=i)
        path = os.path.join(directory, f"st_{i:04d}.emd")
        with open(path, "wb") as f:
            f.write(payload)
        stacks[path] = stack
    return stacks


# -- curation corpus ------------------------------------------------------

_STOP = ("the", "a", "of", "and", "to", "is", "in")
_CONTENT = ("spark", "window", "merge", "table", "column", "vector",
            "stream", "value", "data", "small", "join", "filter", "big",
            "group", "hash", "customer", "sort", "order", "slow", "line",
            "part", "fast", "row", "agg", "key", "query", "scan", "batch",
            "cube", "frame", "probe", "beam", "detector", "signal",
            "spectrum", "energy", "image", "flow", "ingest", "publish")


def _prose(rng: np.random.Generator, n_words: int) -> str:
    words = rng.choice(_CONTENT, size=n_words)
    stops = rng.choice(_STOP, size=n_words)
    use_stop = rng.random(n_words) < 0.3
    return " ".join(np.where(use_stop, stops, words))


def documents(seed: int, n: int) -> pd.DataFrame:
    """A documents table shaped like the repo's ``documents`` test
    table (doc_id, text, lang, source, n_chars) plus ``url``, derived
    from ``source``. Planted offenders, so every funnel stage has rows
    to drop: junk (quality), spam (repetition), exact copies, near
    copies (one word changed). Sources are Zipf-sized, so a domain
    quota caps the big ones."""
    rng = seeded_rng(seed, "docs")
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        k = kinds[i]
        if k < 0.04:
            texts.append("!! ?? " + " ".join(rng.choice(_CONTENT, 2)))
        elif k < 0.07:
            w = str(rng.choice(_CONTENT))
            texts.append(" ".join([w] * int(rng.integers(40, 80))))
        elif k < 0.11 and i > 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif k < 0.15 and i > 0:
            toks = texts[int(rng.integers(0, i))].split()
            if len(toks) > 30:
                j = int(rng.integers(0, len(toks)))
                toks[j] = str(rng.choice(_CONTENT))
            texts.append(" ".join(toks))
        else:
            texts.append(_prose(rng, int(rng.integers(30, 110))))
    n_src = 20
    weights = 1.0 / np.arange(1, n_src + 1)
    source = rng.choice(n_src, size=n, p=weights / weights.sum())
    langs = rng.choice(["en", "zh", "es", "fr", "de"], size=n,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in source],
    })
    df["n_chars"] = df["text"].str.len().astype("int64")
    df["url"] = ("https://www." + df["source"] + ".org/doc/"
                 + df["doc_id"].astype(str))
    return df


def bench_corpus(docs: pd.DataFrame, seed: int, frac: float) -> pd.DataFrame:
    """A seeded subset of the docs, re-keyed, reused as the benchmark
    corpus for decontamination."""
    rng = seeded_rng(seed, "bench")
    pick = rng.random(len(docs)) < frac
    sub = docs.loc[pick, ["text"]].reset_index(drop=True)
    sub.insert(0, "doc_id", np.arange(len(sub), dtype="int64") + 10**9)
    return sub


def dir_stats(directory: str) -> tuple[int, int]:
    """(files, bytes) under ``directory``."""
    n = b = 0
    for root, _, names in os.walk(directory):
        for name in names:
            n += 1
            b += os.path.getsize(os.path.join(root, name))
    return n, b
