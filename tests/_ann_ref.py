"""Column-expression reference forms of the IVF cell argmax and the PQ
code argmin — test scaffolding for the Arrow kernels the library runs
(``similarity._append_ann_cols`` over ``_ann_kernels``).

These are the interpreted per-row distance folds the kernels replaced;
tests/test_ann_kernels.py and tools/ab_ann_kernels.py compare the
kernels against them value for value. The centroid literals and the
dot fold are the library's own (``_centroid_col``, ``_md5_seed``,
``_dot``), so both sides score against the same tables.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fstd2pandas_spark.operators.llm.similarity import (
    _centroid_col, _dot, _md5_seed,
)


def ivf_cell_col(vec: Column, n_cells: int, dim: int,
                 weights=None) -> Column:
    """IVF cell assignment: argmax over cells of <vec, centroid_c>
    (ties break toward the lower cell id).

    Linear argmax: each dot product appears ONCE in a scores array and
    the winner is ``array_position(scores, array_max(scores))``:
    first-occurrence-of-max = lowest winning cell; Spark orders NaN
    greatest and equates NaN=NaN, so a NaN score wins and position
    finds the first NaN; an all-NULL score row (NULL/short vector — dot
    nullability depends only on ``vec``, centroids are literals) falls
    to cell 0 through the ``coalesce``."""
    scores = F.array(*[_dot(vec, _centroid_col(c, dim, weights))
                       for c in range(n_cells)])
    return F.coalesce(
        (F.array_position(scores, F.array_max(scores)) - 1).cast("int"),
        F.lit(0))


def _pq_centroid(sub: int, c: int, d_sub: int,
                 codebook=None) -> Column:
    """PQ sub-centroid as a literal Column array: a trained codebook
    row when given (``pq_train``), else the md5 seed ``pq{sub}_{c}_{j}``
    (same recipe as the IVF centroids)."""
    if codebook is not None:
        return F.lit([float(w) for w in codebook[sub][c]])
    return F.lit(_md5_seed(f"pq{sub}_{c}_", d_sub))


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def pq_codes_col(vec: Column, m: int, ksub: int, dim: int,
                 codebook=None) -> Column:
    """Product-quantization code array (Jegou et al. 2011, public):
    split the vector into `m` subvectors of dim/m, each coded as the
    index of its nearest (L2) sub-centroid — ties break toward the
    lower code. m * ksub fixed-size distance folds per row."""
    if dim % m:
        raise ValueError(f"dim ({dim}) must be a multiple of m ({m})")
    d_sub = dim // m
    codes = []
    for sub in range(m):
        sv = F.transform(
            F.slice(vec, sub * d_sub + 1, d_sub),
            lambda x: x.cast("double"))
        # argmin via ONE struct sort (ties -> lower code): a when-chain
        # would reference the running best twice per step and grow the
        # expression tree 2^ksub
        entries = F.array(*[
            F.struct(_l2(sv, _pq_centroid(sub, c, d_sub, codebook))
                     .alias("d"),
                     F.lit(c).alias("c"))
            for c in range(ksub)
        ])
        codes.append(F.array_sort(entries)[0]["c"])
    return F.array(*codes)
