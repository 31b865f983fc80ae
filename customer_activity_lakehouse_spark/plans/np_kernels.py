"""The ANN stack's one NumPy kernel set: assign, encode and score.

Both the in-plan catalog entries (ml_ops: k-means, PQ, IVF-PQ) and the
persisted index (ann_index: build, maintain, serve) run their per-row
vector arithmetic through the three kernels below, each wrapped as an
Arrow Series-to-Series ``pandas_udf`` (guide §4.2):

- :func:`argmin` — chunked squared distances + first argmin: k-means
  assignment, IVF cell assignment, and (per subspace) PQ encoding;
- :func:`pq_encode` — the per-subspace :func:`argmin` of a full vector
  against a PQ codebook;
- :func:`adc_cos` — the ADC dot/sq fold of PQ codes against a query
  matrix of shape (1, dim) (one query for every row) or (n, dim) (one
  query per row).

Numeric parity with the DuckDB oracles and the JVM expression twins in
tests/ann_twins.py: distances and partial sums reduce with
``np.cumsum(..., axis=-1)`` taking the last column — a LEFT-TO-RIGHT
sequential scan, the exact float-op order of the JVM ``aggregate`` fold
and DuckDB's list_sum (a BLAS matmul would reassociate the additions and
break the oracle hash); ``np.argmin`` returns the FIRST minimum, which
over cluster-sorted centroids is exactly array_min's (dist, cluster) tie
order; query norms are exact integer sums. Pinned in
tests/test_np_kernels.py.

Centroid rows arrive as ``[(cluster, c), ...]`` sorted by cluster (the
``ml_ops._centroid_rows`` shape) and PQ codebooks as ``{m: rows}`` (the
``ml_ops._codebook_rows`` shape).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Row-chunk budget for the (rows x cells x dim) distance temp: 32 MiB of
# float64 per chunk, so a corpus-sized cell count (nlist = sqrt(N), e.g.
# 31.6k cells at 1e9 vectors) never materializes a multi-GB intermediate
# inside one Python worker batch.
_NP_CHUNK_BYTES = 32 * 1024 * 1024


def _matrix(rows) -> tuple[np.ndarray, np.ndarray]:
    """(centroids float64 [K, d], cluster ids int64 [K]) from centroid rows."""
    return (
        np.array([c for _, c in rows], dtype=np.float64),
        np.array([cl for cl, _ in rows], dtype=np.int64),
    )


def _luts(book) -> list[np.ndarray]:
    """Per-subspace codeword tables indexed by cluster id, in m order."""
    luts = []
    for m in sorted(book):
        rows = book[m]
        lut = np.zeros((max(cl for cl, _ in rows) + 1, len(rows[0][1])), dtype=np.float64)
        for cl, c in rows:
            lut[cl] = c
        luts.append(lut)
    return luts


def _stack(s: pd.Series, width: int, dtype) -> np.ndarray:
    """An Arrow list column as a (rows, width) matrix."""
    if len(s) == 0:
        return np.empty((0, width), dtype=dtype)
    return np.stack([np.asarray(v, dtype=dtype) for v in s.values])


def argmin(x: np.ndarray, cents: np.ndarray, clusters: np.ndarray):
    """(cluster, squared distance) of each row of ``x`` to its nearest
    centroid, ties to the first (smallest) cluster — in row chunks that
    bound the distance temp."""
    out_cl = np.empty(len(x), dtype=np.int64)
    out_d = np.empty(len(x), dtype=np.float64)
    step = max(1, _NP_CHUNK_BYTES // (8 * max(1, cents.size)))
    for lo in range(0, len(x), step):
        d = x[lo : lo + step, None, :] - cents[None, :, :]
        d *= d
        dist = np.cumsum(d, axis=2)[:, :, -1]
        idx = np.argmin(dist, axis=1)
        out_cl[lo : lo + len(idx)] = clusters[idx]
        out_d[lo : lo + len(idx)] = dist[np.arange(len(idx)), idx]
    return out_cl, out_d


def pq_encode(x: np.ndarray, mats) -> np.ndarray:
    """PQ codes (rows, M): subspace m of each row of ``x`` assigned to its
    nearest codeword in ``mats[m]``."""
    codes = np.empty((len(x), len(mats)), dtype=np.int64)
    lo = 0
    for m, (cents, clusters) in enumerate(mats):
        w = cents.shape[1]
        codes[:, m] = argmin(x[:, lo : lo + w], cents, clusters)[0]
        lo += w
    return codes


def adc_cos(codes: np.ndarray, luts, qm: np.ndarray) -> np.ndarray:
    """ADC cosine of each code row against integer query matrix ``qm``
    (shape (1, dim) or (n, dim)): per subspace the dot/sq partials of the
    looked-up codeword, folded in ascending m."""
    qf = qm.astype(np.float64)
    dots = np.empty((len(codes), len(luts)), dtype=np.float64)
    sqs = np.empty((len(codes), len(luts)), dtype=np.float64)
    lo = 0
    for m, lut in enumerate(luts):
        c = lut[codes[:, m]]
        w = lut.shape[1]
        dots[:, m] = np.cumsum(c * qf[:, lo : lo + w], axis=1)[:, -1]
        sqs[:, m] = np.cumsum(c * c, axis=1)[:, -1]
        lo += w
    qnorm = np.sqrt((qm.astype(np.int64) ** 2).sum(axis=1).astype(np.float64))
    return np.cumsum(dots, axis=1)[:, -1] / (
        np.sqrt(np.cumsum(sqs, axis=1)[:, -1]) * qnorm
    )


# ------------------------------------------------------------ Spark wrappers


def assign_rows(df: DataFrame, rows) -> DataFrame:
    """Every column of ``df`` plus (cluster int, dist double): each
    quantized vector ``q``'s nearest centroid among ``rows`` and its
    squared distance. With no centroids (an empty training corpus) both
    are null, so the frame keeps its schema."""
    if not rows:
        return df.select(
            "*",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("dist"),
        )
    bc = df.sparkSession.sparkContext.broadcast(_matrix(rows))
    dim = len(rows[0][1])

    @F.pandas_udf("struct<cluster:int,dist:double>")
    def assign(q: pd.Series) -> pd.DataFrame:
        cl, d = argmin(_stack(q, dim, np.float64), *bc.value)
        return pd.DataFrame({"cluster": cl.astype("int32"), "dist": d})

    return df.withColumn("__r", assign("q")).select(
        *[F.col(c) for c in df.columns],
        F.col("__r.cluster").alias("cluster"),
        F.col("__r.dist").alias("dist"),
    )


def pq_assign_rows(sub_rows: DataFrame, book) -> DataFrame:
    """(vec_id, m, sq, cluster): each per-subspace row ``sq`` of subspace
    ``m`` assigned to its nearest codeword in ``book[m]`` (null with no
    codebook, as in :func:`assign_rows`)."""
    if not book:
        return sub_rows.select("vec_id", "m", "sq", F.lit(None).cast("int").alias("cluster"))
    mats = {m: _matrix(rows) for m, rows in book.items()}
    bc = sub_rows.sparkSession.sparkContext.broadcast(mats)
    width = len(next(iter(book.values()))[0][1])

    @F.pandas_udf("int")
    def passign(m: pd.Series, sq: pd.Series) -> pd.Series:
        ms = m.values.astype(np.int64)
        x = _stack(sq, width, np.float64)
        out = np.empty(len(ms), dtype=np.int64)
        for mm in np.unique(ms):
            mask = np.nonzero(ms == mm)[0]
            out[mask] = argmin(x[mask], *bc.value[int(mm)])[0]
        return pd.Series(out).astype("int32")

    return sub_rows.select("vec_id", "m", "sq", passign("m", "sq").alias("cluster"))


def encode_cells(df: DataFrame, rows, book) -> DataFrame:
    """(vec_id, cell, code[M]): the coarse-cell :func:`argmin` and the PQ
    codes of each quantized vector ``q`` in ONE pass."""
    if not rows or not book:
        # fail at the driver with a diagnosable message instead of an
        # opaque executor-side broadcasting error inside the kernel
        raise ValueError(
            f"encode_cells: empty centroid ({len(rows)}) or codebook "
            f"({len(book)}) rows — the index training input has no rows"
        )
    bc = df.sparkSession.sparkContext.broadcast(
        (_matrix(rows), [_matrix(book[m]) for m in sorted(book)])
    )
    dim = len(rows[0][1])

    @F.pandas_udf("struct<cell:int,code:array<int>>")
    def enc(q: pd.Series) -> pd.DataFrame:
        cents, mats = bc.value
        x = _stack(q, dim, np.float64)
        return pd.DataFrame(
            {
                "cell": argmin(x, *cents)[0].astype("int32"),
                "code": list(pq_encode(x, mats).astype(np.int32)),
            }
        )

    return df.select("vec_id", enc("q").alias("__e")).select(
        "vec_id", F.col("__e.cell").alias("cell"), F.col("__e.code").alias("code")
    )


def adc_udf(spark: SparkSession, book, qq: np.ndarray | None = None, encode: bool = False):
    """ADC cosine UDF under PQ codebook ``book``. With a fixed quantized
    query ``qq`` it takes one column: stored PQ codes, or — ``encode`` —
    raw quantized vectors, encoded in the kernel first (same doubles:
    codebooks are cluster-keyed, so encode-then-lookup reads exactly the
    codeword the argmin picked). Without ``qq`` it takes (code, qq): a
    per-row query, the batch serve."""
    luts = _luts(book)
    mats = [_matrix(book[m]) for m in sorted(book)] if encode else None
    bc = spark.sparkContext.broadcast((luts, mats))
    dim = sum(lut.shape[1] for lut in luts)

    if qq is None:

        @F.pandas_udf("double")
        def adc_rows(code: pd.Series, q: pd.Series) -> pd.Series:
            luts, _ = bc.value
            codes = _stack(code, len(luts), np.int64)
            return pd.Series(adc_cos(codes, luts, _stack(q, dim, np.int64)))

        return adc_rows

    q1 = np.asarray(qq, dtype=np.int64)[None, :]

    @F.pandas_udf("double")
    def adc(x: pd.Series) -> pd.Series:
        luts, mats = bc.value
        if mats is None:
            codes = _stack(x, len(luts), np.int64)
        else:
            codes = pq_encode(_stack(x, dim, np.float64), mats)
        return pd.Series(adc_cos(codes, luts, q1))

    return adc
