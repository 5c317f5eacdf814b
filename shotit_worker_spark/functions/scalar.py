"""Scalar/projection kernels (SURVEY §2.3 P1-P3, P5, P13-P14).

Everything here is a built-in Catalyst expression — no UDFs — so these
stay inside whole-stage codegen and are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# -- P1: path-component projection (watcher.js:22-23, hasher.js:52) ---------


def path_imdb_id(path: ColumnOrName) -> Column:
    """First path component: `relpath.split('/')[0]`."""
    return F.element_at(F.split(_col(path), "/"), 1)


def path_file_name(path: ColumnOrName) -> Column:
    """Last path component: `relpath.split('/').pop()`."""
    return F.element_at(F.split(_col(path), "/"), -1)


def path_depth(path: ColumnOrName) -> Column:
    """Number of '/'-separated components (P3 predicate input, watcher.js:77)."""
    return F.size(F.split(_col(path), "/"))


# -- P2: extension predicate (watcher.js:25-29) -----------------------------


def has_extension(path: ColumnOrName, *exts: str) -> Column:
    """True iff lowercased final extension is in `exts` (no leading dot)."""
    ext = F.lower(F.substring_index(_col(path), ".", -1))
    return ext.isin([e.lstrip(".").lower() for e in exts])


# -- P5: regex extract-all timecodes (hasher.js:93-99) ----------------------

PTS_TIME_PATTERN = r"pts_time:\s*([\d.]+)\s*pos"


def extract_pts_times(log: ColumnOrName) -> Column:
    """All `pts_time` floats from an ffmpeg showinfo log, rounded to 4
    decimals (mirrors `toFixed(4)` at hasher.js:97). Returns array<double>."""
    raw = F.regexp_extract_all(_col(log), F.lit(PTS_TIME_PATTERN), 1)
    return F.transform(raw, lambda s: F.round(s.cast("double"), 4))


# -- P13: content MD5 (searcher.js:147-149) ---------------------------------


def content_md5(content: ColumnOrName) -> Column:
    return F.md5(_col(content))


# -- P14: magic-byte type sniff (searcher.js:151-155) -----------------------


def sniff_image_type(content: ColumnOrName) -> Column:
    """'png' iff the first 4 bytes are 89504E47, else 'jpg' (the reference
    defaults unknown signatures to jpg, searcher.js:155)."""
    magic = F.upper(F.hex(F.substring(_col(content), 1, 4)))
    return F.when(magic == "89504E47", F.lit("png")).otherwise(F.lit("jpg"))
