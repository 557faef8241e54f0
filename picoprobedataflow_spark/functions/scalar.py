"""Scalar function layer — SURVEY.md §2.8 F1-F20 re-expressed as thin,
named wrappers over ``pyspark.sql.functions``.

Each wrapper states the reference behavior it reproduces
(file:line into /root/reference) so parity is checkable. Everything
here is JVM-side / codegen-friendly — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Time (F2)
# --------------------------------------------------------------------------


def epoch_seconds(ts: Column | str) -> Column:
    """F2 — timestamp → float epoch seconds
    ((to_datetime - 1970-01-01)/1s, flow_analyzer.py:199-204).

    Goes through ``timestamp`` first because parquet TIMESTAMP_NTZ
    (what Spark 4 infers for non-UTC-adjusted columns) cannot cast to
    double directly; with the session pinned to UTC the NTZ wall time
    becomes the same instant DuckDB's naive ``epoch()`` sees."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return c.cast("timestamp").cast("double")


# --------------------------------------------------------------------------
# Paths (F9)
# --------------------------------------------------------------------------


def path_name(path: Column | str) -> Column:
    """F9 — ``Path(p).name`` (picoprobe/utils.py:60,77)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.element_at(F.split(c, "/"), -1)


def path_parent(path: Column | str) -> Column:
    """F9 — ``Path(p).parent`` (examples/hyperspectral_flow/main.py:62)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.regexp_replace(c, "/[^/]*$", "")


def with_suffix(path: Column | str, new_suffix: str) -> Column:
    """F9 — ``Path(p).with_suffix('.png'/'.json'/'.mp4')``
    (tools/hyperspectral.py:127,139; tools/temporal.py:79,95)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.regexp_replace(c, r"\.[^./]*$", new_suffix)


def file_extension(path: Column | str) -> Column:
    """F9/S2 — suffix extraction for the ``.emd`` source filter
    (examples/hyperspectral_flow/main.py:99-101)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.lower(F.regexp_extract(c, r"(\.[^./]*)$", 1))


# --------------------------------------------------------------------------
# Math / units (F10-F11)
# --------------------------------------------------------------------------


def normalize_to_uint8(x: Column, lo: Column, hi: Column) -> Column:
    """F10 — per-frame min/max normalize to 0..255 with the reference's
    0.499999999 rounding nudge (tools/temporal.py:30-34)."""
    scaled = (x - lo) / (hi - lo) * F.lit(float(2 ** 8 - 1)) + F.lit(0.499999999)
    return F.floor(scaled).cast("int")


def energy_axis_kev(channel: Column, offset: float, increment: float) -> Column:
    """F11 — ``(x_offset + x_increment * arange(n)) / 1000``
    (tools/hyperspectral.py:69-74)."""
    return (F.lit(offset) + F.lit(increment) * channel) / F.lit(1000.0)


# --------------------------------------------------------------------------
# Checksums & classification (F18-F19)
# --------------------------------------------------------------------------


def sha256_hex(col: Column | str) -> Column:
    """F18 — per-file sha256 in the publish doc ``files[]``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("binary"), 256)


#: F19 — extension → mime map observed in the publish documents
#: (performance_*.pkl ``files[].mime_type``).
MIME_BY_EXTENSION = {
    ".emd": "application/octet-stream",
    ".mp4": "video/mp4",
    ".json": "application/json",
    ".png": "image/png",
    ".txt": "text/plain",
    ".csv": "text/csv",
    ".parquet": "application/octet-stream",
}


def mime_type(path: Column | str) -> Column:
    """F19 — classify mime type from the filename extension."""
    ext = file_extension(path)
    expr = F.lit("application/octet-stream")
    for k, v in reversed(list(MIME_BY_EXTENSION.items())):
        expr = F.when(ext == k, F.lit(v)).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# Portable hashing (engine-internal; used by dedup/minhash so the DuckDB
# oracle can reproduce signatures bit-for-bit)
# --------------------------------------------------------------------------


def portable_hash64(col: Column, salt: int = 0) -> Column:
    """Deterministic cross-engine 32-bit hash widened to long:
    first 8 hex chars of md5(salt || value). DuckDB equivalent:
    ``CAST('0x' || substr(md5(<salt> || x), 1, 8) AS BIGINT)``.

    Used instead of ``xxhash64`` because the oracle engine cannot
    reproduce Spark's xxhash seed; md5 is identical everywhere.
    """
    salted = F.concat(F.lit(str(salt)), col) if salt else col
    return F.conv(F.substring(F.md5(salted.cast("binary")), 1, 8), 16, 10).cast("long")


def fast_hash64(col: Column, salt: int = 0) -> Column:
    """Scale-path 64-bit hash: ``xxhash64`` — a JVM intrinsic inside
    whole-stage codegen, no string materialization (measured ~2× faster
    than :func:`portable_hash64` on a per-token aggregate at sf0.1).

    NOT oracle-reproducible (DuckDB cannot replay Spark's xxhash64
    seed), so the oracle-gated catalog queries keep
    :func:`portable_hash64`; production dedup at 100 TB should pass
    this as ``hash_fn``. May be negative — reduce with ``pmod``, never
    ``%``.
    """
    return F.xxhash64(F.lit(salt), col) if salt else F.xxhash64(col)


# --------------------------------------------------------------------------
# URL canonicalization — the web-corpus curation front door
# --------------------------------------------------------------------------

#: Query parameters dropped during canonicalization: tracking noise
#: that makes the same page look like millions of distinct URLs.
_URL_TRACKING_RE = r"(^|&)(utm_[A-Za-z]+|fbclid|gclid|ref)=[^&]*"


def url_host(url: Column | str) -> Column:
    """Canonical host of a URL: lowercased, leading ``www.`` and
    default ports (:80/:443) stripped. Pure regexp projection —
    row-local, JVM-side, replayable by the oracle engine (the
    patterns avoid backreferences, whose replacement syntax differs
    across regex dialects)."""
    c = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":(443|80)$", "")


def url_domain(url: Column | str) -> Column:
    """Registrable-domain approximation: the last two host labels
    (example.com from a.b.example.com). A true public-suffix-list
    lookup is a broadcast join against the PSL table — same shape,
    externally sourced data."""
    return F.regexp_extract(url_host(url), r"([^.]+\.[^.]+)$", 1)


def url_canonical(url: Column | str) -> Column:
    """Canonical form of a URL — the dedup key of web-corpus
    ingestion (the same page arrives as HTTP/HTTPS, with/without
    ``www.``, with tracking params, fragments, default ports and
    trailing slashes; URL-level dedup upstream of content dedup cuts
    fetch volume before a byte of text is compared):

    - scheme + host lowercased, ``www.`` and default ports stripped;
    - fragment dropped (never sent to the server);
    - tracking params (utm_*, fbclid, gclid, ref) dropped, other
      params preserved in order;
    - trailing slash stripped from non-root paths;
    - path case PRESERVED (paths are case-sensitive; hosts are not).

    Composed entirely of backreference-free regexps + CASE/concat,
    so Spark and the SQL oracle compute byte-identical results."""
    c = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(
        c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = url_host(c)
    path = F.regexp_extract(
        c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(c, r"\?([^#]*)", 1)
    q = F.regexp_replace(q, _URL_TRACKING_RE, "")
    q = F.regexp_replace(q, r"&&+", "&")
    q = F.regexp_replace(q, r"^&+|&+$", "")
    return F.concat(scheme, F.lit("://"), host, path,
                    F.when(q == "", F.lit(""))
                     .otherwise(F.concat(F.lit("?"), q)))
