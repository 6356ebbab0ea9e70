"""Measure the three expression tiers on the same per-document metric
(punctuation ratio over `documents.text`):

1. built-in JVM expressions (regexp_replace + length — whole-stage codegen);
2. vectorized @pandas_udf (Arrow batches, pandas str ops);
3. row-at-a-time Python UDF (pickle per row — the anti-pattern).

Usage: python tools/udf_bench.py [sf_dir] [repeats]
Appends nothing; prints one line per tier. The measured ranking backs the
"UDFs are the slow path" design rule in README §Scale design.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import DoubleType  # noqa: E402

from iatlas_cbioportal_export_spark import get_spark  # noqa: E402


def builtin_expr(col):
    n_punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


@F.pandas_udf(DoubleType())
def pandas_punct(texts: pd.Series) -> pd.Series:
    stripped = texts.str.replace(r"[A-Za-z0-9\s]", "", regex=True)
    n = texts.str.len()
    return (stripped.str.len() / n).where(n > 0, 0.0)


def python_punct(text):
    if not text:
        return 0.0
    import re

    return len(re.sub(r"[A-Za-z0-9\s]", "", text)) / len(text)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    amplify = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark("udf-bench")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        # row-amplify so per-row costs dominate scheduling overhead —
        # sf0.1's 5k docs complete in ~0.3s regardless of tier
        .crossJoin(spark.range(amplify).select(F.col("id").alias("__rep")))
    )
    print(f"rows: {docs.count()}")  # warm FS + JVM
    python_udf = F.udf(python_punct, DoubleType())
    tiers = {
        "builtin_codegen": lambda: docs.select(
            F.sum(builtin_expr(F.col("text")))
        ).collect(),
        "pandas_udf_arrow": lambda: docs.select(F.sum(pandas_punct("text"))).collect(),
        "python_udf_rowwise": lambda: docs.select(
            F.sum(python_udf("text"))
        ).collect(),
    }
    base = None
    for name, fn in tiers.items():
        best = min(_timed(fn) for _ in range(repeats))
        base = base or best
        print(f"{name:20s} {best:7.3f}s  ({best / base:4.1f}x builtin)")


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def vector_main() -> None:
    """Second workload: dense-vector dot products (the ANN hot loop) —
    JVM higher-order fold (F.aggregate over zip_with) vs Arrow-batched
    numpy pandas_udf. Numeric kernels are the one place the folklore
    inverts: the HOF evaluates an interpreted expression per ELEMENT,
    while numpy does the dot in C over a contiguous batch, so the
    pandas_udf tier can win — measured, not assumed.

    Usage: python tools/udf_bench.py vectors [sf_dir] [repeats] [amplify]
    """
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    amplify = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    spark = get_spark("udf-bench-vectors")
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .crossJoin(spark.range(amplify).select(F.col("id").alias("__rep")))
    )
    print(f"rows: {emb.count()}")
    q = [float(i % 7) / 7.0 for i in range(len(emb.first()["embedding"]))]

    def hof_dot(col):
        return F.aggregate(
            F.zip_with(col, F.array(*[F.lit(x) for x in q]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    import numpy as np
    from pyspark.sql.types import DoubleType as _D

    qv = np.array(q)

    @F.pandas_udf(_D())
    def np_dot(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        return pd.Series(m @ qv)

    tiers = {
        "hof_zip_aggregate": lambda: emb.select(
            F.sum(hof_dot(F.col("embedding")))
        ).collect(),
        "pandas_udf_numpy": lambda: emb.select(
            F.sum(np_dot("embedding"))
        ).collect(),
    }
    base = None
    for name, fn in tiers.items():
        best = min(_timed(fn) for _ in range(repeats))
        base = base or best
        print(f"{name:20s} {best:7.3f}s  ({best / base:4.1f}x first)")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "vectors":
        vector_main()
    else:
        main()
