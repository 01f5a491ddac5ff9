"""A/B the Arrow ANN kernels against the Column-DSL reference forms in
tests/_ann_ref.py (r19): value equality on a dirty corpus (NULL
vectors, NULL elements, NaN, +-inf, short/long vectors, ties) and
same-process timing.

Usage: python tools/ab_ann_kernels.py [sf_dir]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import numpy as np

from fstd2pandas_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("ab_ann_kernels")
    from pyspark.sql import functions as F
    import pyarrow as pa

    from _ann_ref import ivf_cell_col, pq_codes_col

    from fstd2pandas_spark.operators.llm.similarity import _md5_seed
    from fstd2pandas_spark.operators.llm import _ann_kernels as K

    dim, n_cells, m, ksub = 64, 8, 8, 16
    d_sub = dim // m

    # ---- dirty corpus ----
    rng = np.random.RandomState(7)
    rows = []
    for i in range(400):
        v = [float(np.float32(x)) for x in rng.randn(dim)]
        rows.append((i, v))
    rows += [
        (1000, None),                                   # NULL vector
        (1001, [1.0] * dim),                            # constant
        (1002, [0.0] * dim),                            # zero vector
        (1003, [float("nan")] * dim),                   # all-NaN
        (1004, [1.0] * 10),                             # short
        (1005, [1.0] * 70),                             # long
        (1006, [1.0] * 30 + [float("nan")] + [1.0] * 33),  # one NaN
        (1007, [1.0] * 20 + [None] + [1.0] * 43),       # NULL element
        (1008, [float("inf")] * dim),                   # inf
        (1009, [1.0] * 63 + [float("-inf")]),           # -inf tail
        (1010, []),                                     # empty
        (1011, [1.0] * 56),                             # exactly 7 subs
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id bigint, embedding array<float>")
    df = df.repartition(8)

    weights_l = [_md5_seed(f"ivf{c}_", dim) for c in range(n_cells)]
    W = np.array(weights_l, dtype=np.float64)
    cb_l = [[_md5_seed(f"pq{s}_{c}_", d_sub) for c in range(ksub)]
            for s in range(m)]
    CB = np.array(cb_l, dtype=np.float64)

    # ---- Column-DSL reference ----
    ref = df.select(
        "vec_id",
        ivf_cell_col(F.col("embedding"), n_cells, dim).alias("cell"),
        pq_codes_col(F.col("embedding"), m, ksub, dim).alias("codes"),
    ).collect()
    ref = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in ref}

    # ---- kernel output via mapInArrow ----
    from pyspark.sql import types as T
    out_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType(), False)),
    ])

    def fn(it):
        for batch in it:
            vec = batch.column(1)
            cells = K.ivf_cells(vec, W, dim)
            codes = K.pq_codes(vec, CB, m, ksub, d_sub)
            off = np.arange(len(cells) + 1, dtype=np.int32) * m
            codes_arr = pa.ListArray.from_arrays(
                pa.array(off), pa.array(codes.ravel(), pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(cells, pa.int32()), codes_arr],
                names=["vec_id", "cell", "codes"])

    got = df.mapInArrow(fn, out_schema).collect()
    got = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in got}

    bad = 0
    for k in sorted(ref):
        if ref[k] != got.get(k):
            print(f"MISMATCH vec_id={k}: ref={ref[k]} got={got.get(k)}")
            bad += 1
    print(f"equality: {len(ref)} rows, {bad} mismatches")
    if bad:
        sys.exit(1)

    # ---- timing on the real embeddings table (single partition, like
    # the gate sees it) ----
    import __spark_entry__ as entry
    emb = entry._load(spark, sf_dir, "embeddings")

    def noop(d):
        d.write.format("noop").mode("overwrite").save()

    for label, build in [
        ("DSL  cell+codes", lambda: emb.select(
            "vec_id",
            ivf_cell_col(F.col("embedding"), n_cells, dim).alias("cell"),
            pq_codes_col(F.col("embedding"), m, ksub, dim).alias("codes"))),
        ("ARROW cell+codes", lambda: emb.select("vec_id", "embedding")
         .mapInArrow(fn, out_schema)),
    ]:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            noop(build())
            best = min(best, time.perf_counter() - t0)
        print(f"{label}: {best:.3f} s (min of 3, noop, 1-partition input)")


if __name__ == "__main__":
    main()
