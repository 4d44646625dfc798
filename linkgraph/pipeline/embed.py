"""Embedding transforms — dimensionality reduction for the vector column.

Random projection (Johnson–Lindenstrauss) runs entirely JVM-side: the
seed-deterministic projection matrix is folded into the plan as literal
coefficient arrays, one ``zip_with``/``aggregate`` dot product per output
dimension — zero shuffle, zero Python in the hot path, embarrassingly
parallel at any corpus size.

PCA follows the canonical two-phase Spark pattern: the d×d covariance is
reduced from per-partition Arrow partial sums (``mapInPandas`` emitting
one flattened Gram row each — d² floats per PARTITION, not per row),
eigendecomposed on the driver (d×d is tiny at any corpus scale), and the
component matrix is folded back into the same JVM-literal projection.
The only driver-sized object is d², never n.

Reference: this family is engine-added (no analogue in
neo4j-contrib/neo4j-graph-algorithms); the JL matrix follows Achlioptas
(2003) dense Gaussian; PCA is standard Pearson/Hotelling.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F


def _projection_matrix(in_dim: int, out_dim: int, seed: int) -> np.ndarray:
    """Deterministic Gaussian JL matrix, scaled by 1/sqrt(out_dim)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((out_dim, in_dim)) / np.sqrt(out_dim)


def _matvec_cols(
    vec_col: str, mat: np.ndarray, ndigits: int = 4, prefix: str = "d"
) -> list:
    """One JVM dot-product expression per output dimension: the matrix row
    becomes a literal float array folded into the plan (no broadcast var,
    no UDF)."""
    cols = []
    for j, row in enumerate(mat):
        lit = F.array(*[F.lit(float(c)) for c in row])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot, ndigits).alias(f"{prefix}{j}"))
    return cols


def _probe_dim(emb: DataFrame, vec_col: str) -> int:
    """Length of the vector column, from one driver-side row (an eager
    one-row job at plan-construction time — pass the dimension explicitly
    in latency-sensitive paths)."""
    first = emb.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(
            f"cannot infer embedding dimension: {vec_col!r} has no non-null rows"
        )
    return len(first[0])


def random_projection_wide(
    emb: DataFrame,
    out_dim: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, d0..d{out_dim-1}) — Johnson–Lindenstrauss random
    projection, one column per output dimension (the oracle-friendly wide
    shape)."""
    cols = _matvec_cols(
        vec_col, _projection_matrix(_probe_dim(emb, vec_col), out_dim, seed)
    )
    return emb.select(id_col, *cols)


def covariance_matrix(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, int]:
    """(cov, mean, n) — population covariance of the embedding column,
    reduced from per-partition Arrow partial sums.

    Each partition emits ONE row carrying (count, Σx, flattened ΣxxT) —
    the shuffle is |partitions| rows of d²+d+1 doubles, independent of n.
    """
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("ss", ArrayType(DoubleType())),
        ]
    )

    def partial(batches):
        import pandas as pd

        n = 0
        s = None
        ss = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            ss = g if ss is None else ss + g
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = emb.select(vec_col).mapInPandas(partial, schema).collect()
    if not parts:
        raise ValueError(
            f"covariance_matrix: no non-empty partitions in {vec_col!r}"
        )
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.asarray(r["ss"]) for r in parts], axis=0)
    d = s.shape[0]
    mean = s / n
    cov = ss.reshape(d, d) / n - np.outer(mean, mean)
    return cov, mean, n


def pca_project(
    emb: DataFrame,
    n_components: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
) -> DataFrame:
    """(vec_id, pc) — project embeddings onto the top-``n_components``
    principal axes (centered; components sign-fixed so the
    largest-|loading| coordinate is positive, making the output
    deterministic).

    Covariance is distributed (one d²-sized partial per partition); the
    d×d eigendecomposition happens on the driver; the component matrix is
    folded back into the plan as JVM literals — same zero-Python
    projection as :func:`random_projection_wide`.
    """
    cov, mean, _ = covariance_matrix(emb, vec_col)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T  # (k, d)
    # deterministic sign: largest-|loading| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    centered = F.zip_with(
        F.col(vec_col),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, y: x.cast("double") - y,
    )
    tmp = emb.select(id_col, centered.alias("_c"))
    cols = _matvec_cols("_c", comps, ndigits, prefix="pc")
    return tmp.select(id_col, F.array(*cols).alias("pc"))


def neighbor_mean_embeddings(
    edges: DataFrame,
    emb: DataFrame,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 5,
) -> DataFrame:
    """(id, nbr_degree, nbr_mean) — GraphSAGE-style MEAN aggregator: for
    every source node, the element-wise mean of its out-neighbors'
    embedding vectors (Hamilton et al. 2017, the aggregate step of one
    GraphSAGE layer; engine-added — the reference has no feature
    propagation, its closest surface is the node-weight property loader
    in core/.../heavyweight/HeavyGraphFactory.java).

    Scale shape: ONE shuffle. The fan-out join edges ⋈ embeddings is keyed
    on dst (embeddings side shuffles once; at 100 TB both sides are large,
    so this stays a sort-merge join — no broadcast), and the per-source
    mean is ``dim`` plain `F.avg(vec[i])` aggregates — partial-aggregated
    map-side, whole-stage codegen, no explode (which would multiply the
    shuffle by `dim`) and no UDF. `dim` is a column-width constant (64
    here); for dim in the thousands switch to the summarizer-style Arrow
    partial (see `covariance_matrix`) — same one-shuffle shape.
    """
    d = int(dim) if dim is not None else _probe_dim(emb, vec_col)
    nbr = edges.select("src", "dst").join(
        emb.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("_v")), "dst"
    )
    agg = nbr.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("nbr_degree"),
        *[F.avg(F.col("_v")[i]).alias(f"_m{i}") for i in range(d)],
    )
    return agg.select(
        "id",
        "nbr_degree",
        F.array(*[F.round(F.col(f"_m{i}"), ndigits) for i in range(d)]).alias(
            "nbr_mean"
        ),
    )
