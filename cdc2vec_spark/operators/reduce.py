"""Embedding dimensionality reduction — PCA projection (optionally
whitened) for the vector side of the pipeline.

Why it belongs here: every ANN structure in this engine (IVF cells, PQ
codes, hyperplane buckets, brute-force BLAS top-k) gets cheaper roughly
linearly in dimension; a PCA cut from 768→64 that keeps ~all retrieval
quality is the standard first move before indexing 100 TB of
embeddings (and Matryoshka-style truncation is just PCA's little
sibling). The reference engine stores vectors verbatim and has no
vector math at all (SURVEY §2.1) — this extends the group-D surface.

Scale shape (the pq_train/ann_index pattern):
- training is DRIVER-side numpy SVD on a deterministic hash-ordered
  sample (``orderBy(xxhash64(id)) + limit`` → TakeOrderedAndProject: an
  O(n) scan with an O(sample) heap, never a global sort; the collect is
  capped at sample_limit·d floats at ANY corpus scale);
- projection is ONE narrow Arrow pass (`mapInPandas`, broadcast mean +
  component matrix, one BLAS matmul per batch) — no shuffle, no
  per-row Python;
- both steps are deterministic: no RNG (SVD sign fixed by convention),
  so repeated runs produce identical reduced vectors.

Rows-only by design (float SVD is not SQL-portable at ULP level);
tests/test_reduce.py pins: exact agreement with driver-numpy PCA,
variance ordering, whitening covariance, top-k recall in reduced space
vs the full-dim exact answer, determinism, and the no-shuffle plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load_table

# largest pca_train sample taken as a top-k without first counting rows
_TOPK_DIRECT_MAX = 1 << 16


def pca_train(
    embeddings: DataFrame,
    out_dim: int,
    sample_limit: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
    eps: float = 1e-9,
) -> tuple[np.ndarray, np.ndarray]:
    """(mean[d], components[out_dim, d]) from a bounded deterministic
    sample. With ``whiten`` the components are scaled by 1/sqrt(var) so
    projected coordinates have ~unit variance (useful before PQ, whose
    per-sub-space k-means otherwise spends its codebook on the first
    principal directions).

    Sign convention: each component's largest-|coefficient| entry is
    made non-negative — SVD sign is otherwise arbitrary and would break
    cross-run determinism."""
    src = embeddings.select(vec_col).where(F.col(vec_col).isNotNull())
    if sample_limit > _TOPK_DIRECT_MAX:
        # TakeOrderedAndProject allocates its top-k heap by the LIMIT,
        # not by the input: a take-everything limit (10**9) asks for
        # gigabytes on a few hundred rows and takes the JVM down. Past
        # this size, one count job bounds the limit by the row count.
        sample_limit = min(sample_limit, src.count())
    rows = src.orderBy(F.xxhash64(F.col(id_col))).limit(sample_limit).collect()
    if not rows:
        raise ValueError("pca_train: no vectors to train on")
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    n, d = x.shape
    if not (0 < out_dim <= d):
        raise ValueError(f"pca_train: out_dim {out_dim} not in 1..{d}")
    mean = x.mean(axis=0)
    xc = x - mean
    # economy SVD of the centered sample: rows of vt are the principal
    # directions; singular values give the component variances
    _, s, vt = np.linalg.svd(xc, full_matrices=False)
    comps = vt[:out_dim]
    flip = np.sign(comps[np.arange(out_dim), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    if whiten:
        var = (s[:out_dim] ** 2) / max(n - 1, 1)
        comps = comps / np.sqrt(var + eps)[:, None]
    return mean, comps


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "reduced",
) -> DataFrame:
    """df + ``out_col`` = (vec - mean) @ components.T — one broadcast
    BLAS pass per Arrow batch, float32 out (storage parity with the
    embed providers)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (np.asarray(mean, dtype=np.float64), np.asarray(components, dtype=np.float64))
    )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.FloatType()), True)]
    )

    def project(batches):
        m, c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: []})
                continue
            emat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            red = (emat - m) @ c.T
            yield pdf.assign(**{out_col: list(red.astype(np.float32))})

    return df.mapInPandas(project, schema=out_schema)


def d22_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded entry (rows-only inside x3): train PCA to dim 48 on the
    stored 64-dim embeddings, project the corpus, exact cosine top-10
    for vec 0's REDUCED query in the REDUCED space — the retrieval
    shape after a dimensionality cut. Recall vs the full-dim answer is
    pinned in tests/test_reduce.py.

    Cut-size note: the synthetic fixture embeddings are near-ISOTROPIC
    (16/64 components carry only ~27% of variance — measured), the
    worst case for PCA; real embedding corpora are strongly anisotropic
    and routinely survive 4-10x cuts. The entry therefore uses a modest
    64→48 cut whose recall the fixture can actually support; the
    operator itself takes any out_dim."""
    from .similarity import cosine_scores

    e = load_table(spark, sf_dir, "embeddings")
    mean, comps = pca_train(e, out_dim=48)
    red = pca_project(e.select("vec_id", "embedding"), mean, comps)
    qrow = red.where(F.col("vec_id") == 0).select("reduced").first()
    if qrow is None:
        raise ValueError("query vector vec_id=0 not found")
    qv = np.asarray(qrow[0], dtype=np.float64)
    cand = red.where(F.col("vec_id") != 0).select("vec_id", "reduced")
    return (
        cosine_scores(cand, qv, "vec_id", "reduced")
        .select("vec_id", F.round("sim", 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


QUERIES = {"d22_pca_topk": d22_pca_topk}
ORACLES: dict[str, str] = {}  # rows-only: float SVD is not SQL-portable
