"""SQ8: the engine's one 8-bit scalar quantizer — the SQ8 half of the
reference's IVF_SQ8 (loader.js:333).

Format. Each dimension has a grid (min, scale), scale = span / 255
(1.0 for a constant dimension). A value x is stored as the tinyint

    code = clamp(round((x - min) / scale), 0, 255) - 128

and decodes to ``min + (code + 128) * scale``. The grid is global
(shape (dim,)) or per coarse centroid ((nlist, dim)); a list's narrower
ranges give finer steps for the same byte.

Scoring never decodes. With ``const = q·min`` and ``qs = q * scale``
folded on the driver, ``q·x̂ = const + Σ_d qs_d · (code_d + 128)``: one
zip_with aggregate over the tinyint codes per row.

Two encoders, both kept: the Column encoder (Spark ``round``, half up)
writes the IVF_SQ8 tables, and the numpy encoder (``np.round``, half to
even) writes IVF_PQ's refine payload. Their codes differ on exact
halves, so each stays on the rows it has always written.

:func:`pack` / :func:`unpack` are the tinyint byte form every stored
code uses, PQ subspace ids included.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from ..smallframe import arrow_rows

LEVELS = 255.0  # steps per dimension: unsigned codes 0..255
OFFSET = 128  # unsigned code - OFFSET = stored tinyint


def pack(codes: np.ndarray) -> pd.Series:
    """(n, d) unsigned codes in 0..255 → n tinyint lists (an Arrow
    UDF's array<tinyint> result)."""
    return pd.Series([(row - OFFSET).astype(np.int8).tolist() for row in codes])


def unpack(stored: pd.Series) -> np.ndarray:
    """n stored tinyint lists → (n, d) unsigned int64 codes."""
    return np.array(stored.tolist(), dtype=np.int64) + OFFSET


def _scale(span):
    return np.where(span > 0, span / LEVELS, 1.0)


@dataclass
class SQ8:
    """A fitted grid: ``mins``/``scales`` of shape (dim,) or
    (nlist, dim)."""

    mins: np.ndarray
    scales: np.ndarray

    @property
    def per_centroid(self) -> bool:
        return self.mins.ndim == 2

    @classmethod
    def fit(cls, assigned: DataFrame, vec_col: str, dim: int,
            nlist: int | None = None) -> "SQ8":
        """Per-dimension (min, scale) over ``assigned``: one posexplode
        + groupBy pass whose shuffle carries dim rows, or nlist × dim
        when ``nlist`` asks for a grid per centroid."""
        keys = ["d"] if nlist is None else ["centroid_id", "d"]
        stats = (
            assigned.select(*keys[:-1],
                            F.posexplode(F.col(vec_col)).alias("d", "x"))
            .groupBy(*keys)
            .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
            .collect()
        )
        shape = (dim,) if nlist is None else (nlist, dim)
        mins, spans = np.zeros(shape), np.zeros(shape)
        for r in stats:
            at = tuple(r[k] for k in keys)
            mins[at] = r["lo"]
            spans[at] = r["hi"] - r["lo"]
        return cls(mins, _scale(spans))

    @classmethod
    def fit_sample(cls, sample: np.ndarray) -> "SQ8":
        """A global grid over a driver-side (n, dim) sample."""
        mins = sample.min(axis=0)
        return cls(mins, _scale(sample.max(axis=0) - mins))

    def _grid(self, df: DataFrame) -> tuple[DataFrame, Column, Column]:
        """``df`` with its rows' (min, scale) arrays: literals for a
        global grid, a broadcast join on centroid_id for a per-centroid
        one."""
        if not self.per_centroid:
            return df, V.double_array(self.mins), V.double_array(self.scales)
        params = arrow_rows(
            df.sparkSession,
            [
                (c, [float(x) for x in lo], [float(x) for x in sc])
                for c, (lo, sc) in enumerate(zip(self.mins, self.scales))
            ],
            "centroid_id int, __mins array<double>, __scales array<double>",
        )
        return (df.join(F.broadcast(params), "centroid_id"),
                F.col("__mins"), F.col("__scales"))

    def encode(self, df: DataFrame, vec_col: str) -> DataFrame:
        """``df`` plus its ``sq8_code`` column. Values outside the grid
        (rows added after the fit) clamp to the code range, so drift
        degrades recall instead of wrapping codes."""
        df, lo, sc = self._grid(df)
        step = F.zip_with(F.col(vec_col), lo, lambda x, m: x - m)
        code = F.zip_with(
            step, sc,
            lambda d, s: (
                F.least(F.greatest(F.round(d / s), F.lit(0.0)),
                        F.lit(LEVELS))
                - OFFSET
            ).cast("tinyint"),
        )
        return df.withColumn("sq8_code", code).drop("__mins", "__scales")

    def decode(self, df: DataFrame, out_col: str) -> DataFrame:
        """``df`` plus ``out_col``, the dequantized ``sq8_code``."""
        df, lo, sc = self._grid(df)
        x = F.zip_with(
            F.zip_with(F.col("sq8_code"), sc,
                       lambda c, s: (c.cast("double") + float(OFFSET)) * s),
            lo,
            lambda v, m: v + m,
        )
        return df.withColumn(out_col, x).drop("__mins", "__scales")

    def encode_udf(self, vec_col: str) -> Column:
        """The numpy encoder as an Arrow UDF over ``vec_col`` (global
        grid only)."""
        mins, scales = self.mins, self.scales

        def _enc(s: pd.Series) -> pd.Series:
            x = np.array(s.tolist(), dtype=np.float64)
            return pack(
                np.clip(np.round((x - mins) / scales), 0, LEVELS)
                .astype(np.int64)
            )

        _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return F.pandas_udf(_enc, "array<tinyint>")(F.col(vec_col))

    def dequantize(self, codes: np.ndarray) -> np.ndarray:
        """Unsigned (n, dim) codes → float vectors (global grid)."""
        return self.mins + self.scales * codes

    @staticmethod
    def score(const: Column, qs: Column) -> Column:
        """The query-folded inner product over ``sq8_code``, from
        :meth:`fold`'s (const, qs)."""
        return const + F.aggregate(
            F.zip_with(
                F.col("sq8_code"), qs,
                lambda c, w: (c.cast("double") + float(OFFSET)) * w,
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    def fold(self, q: np.ndarray, c: int = 0) -> tuple[float, list]:
        """(const, qs) of query ``q`` for centroid ``c``'s rows (any
        ``c`` for a global grid)."""
        lo, sc = ((self.mins[c], self.scales[c]) if self.per_centroid
                  else (self.mins, self.scales))
        return float(q @ lo), [float(x) for x in q * sc]
