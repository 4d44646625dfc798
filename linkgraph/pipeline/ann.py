"""Approximate nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k — JVM-side `zip_with`/`aggregate`
arithmetic (whole-stage codegen, no Python), window top-k. Ranking is on
the ROUNDED cosine (+ id tie-break) so results are reproducible across
engines and float summation orders.

Scale path: IVF-style coarse quantization — assign every vector to its
nearest of C centroids (broadcast), then only join query×candidate within
the same (or nprobe nearest) cells. The shuffle becomes an equi-join on
cell id instead of a cross-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def _dot(va: str, vb: str):
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(v: str):
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v_: acc + v_,
        )
    )


_BRUTE_MAX_BROADCAST = 512 << 20  # corpus matrix budget for the Arrow kernel
LLOYD_DRIVER_BUDGET = 64 << 20  # driver-matrix budget for the local Lloyd path


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cosine): top-k corpus neighbors per query vector, exact.

    r6: the pair scoring runs as an Arrow kernel over a broadcast corpus
    matrix when it fits a size guard — the per-pair zip_with/aggregate
    dot product is an interpreted HOF (~dim lambda steps per pair). The
    kernel accumulates the dot and the norms SEQUENTIALLY over the
    dimension axis (a Python loop of vectorized column ops), which is the
    exact fold order of both the old expression and DuckDB's
    list_dot_product — bit-identical raws; rounding and the top-k cut
    stay in Spark."""
    a = queries.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    agg = corpus.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(vec_col)).alias("dim")
    ).first()
    n_corp, dim = int(agg["n"] or 0), int(agg["dim"] or 0)
    if 0 < n_corp * max(dim, 1) * 8 <= _BRUTE_MAX_BROADCAST:
        scored = _cosine_scores_arrow(a, b, n_corp)
    else:
        pairs = a.crossJoin(F.broadcast(b)).filter(F.col("a") != F.col("b"))
        scored = pairs.select(
            "a",
            "b",
            F.round(_dot("va", "vb") / (_norm("va") * _norm("vb")), 4).alias("cosine"),
        )
    win = Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .select("a", "b", "cosine")
    )


def _cosine_scores_arrow(a: DataFrame, b: DataFrame, n_corp: int) -> DataFrame:
    """All (query, corpus) cosine raws via numpy, dimension-sequential."""
    import pyarrow as pa

    spark = a.sparkSession
    rows = b.collect()
    ids = np.array([r["b"] for r in rows], dtype=np.int64)
    M = np.array([list(map(float, r["vb"])) for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((ids, M))

    def seq_dot(A, B):
        """Σ_d A[:,d,None]·B[None,:,d] accumulated in dimension order —
        the same left fold as zip_with/aggregate and list_dot_product."""
        acc = np.zeros((A.shape[0], B.shape[0]))
        for d_ in range(A.shape[1]):
            acc += A[:, d_][:, None] * B[:, d_][None, :]
        return acc

    def kernel(batches):
        ids_, M_ = bc.value
        nb = np.zeros(len(ids_))
        for d_ in range(M_.shape[1]):
            nb += M_[:, d_] * M_[:, d_]
        nb = np.sqrt(nb)
        for batch in batches:
            qa = batch.column("a").to_numpy(zero_copy_only=False).astype(np.int64)
            A = np.array(
                [list(map(float, v)) for v in batch.column("va").to_pylist()],
                dtype=np.float64,
            )
            if len(qa) == 0:
                continue
            na = np.zeros(len(qa))
            for d_ in range(A.shape[1]):
                na += A[:, d_] * A[:, d_]
            na = np.sqrt(na)
            raw = seq_dot(A, M_) / (na[:, None] * nb[None, :])
            keep = qa[:, None] != ids_[None, :]
            ii, jj = np.nonzero(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qa[ii], pa.int64()),
                    pa.array(ids_[jj], pa.int64()),
                    pa.array(raw[ii, jj], pa.float64()),
                ],
                names=["a", "b", "raw"],
            )

    par = spark.sparkContext.defaultParallelism
    scored = a.repartition(par).mapInArrow(kernel, schema="a long, b long, raw double")
    return scored.select("a", "b", F.round("raw", 4).alias("cosine"))


def train_ivf_centroids(
    corpus: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_sample: int = 100_000,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Mini k-means on a driver-collected sample → (C, dim) centroids.

    The sample is BOUNDED (≤ max_sample rows by default — never the whole
    corpus); the assignment/search stays distributed.
    """
    sample = corpus.select(vec_col)
    if sample_fraction is None:
        n = corpus.count()
        sample_fraction = min(1.0, max_sample / max(n, 1))
    if sample_fraction < 1.0:
        sample = sample.sample(sample_fraction, seed=seed)
    x = np.array(sample.toPandas()[vec_col].tolist(), dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(num_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def train_ivf_centroids_distributed(
    corpus: DataFrame,
    num_cells: int = 16,
    vec_col: str = "embedding",
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Fully distributed Lloyd iterations — the 100 TB training path.

    Seeds from a tiny driver sample (k rows), then each iteration is one
    Arrow-vectorized assignment pass + one groupBy(cell) mean over the
    WHOLE corpus: the per-iteration reduction is num_cells × dim floats,
    independent of corpus size. Use when even a bounded sample would
    misrepresent the distribution (billions of vectors, rare modes)."""
    # seeding: a bounded hash-spread sample (~32 rows/cell — sample(1.0)
    # would be a no-op taking the first k rows, degenerate on
    # source-clustered parquet), then k-means++ farthest-point selection
    # so no two seeds start inside the same mode
    pool = np.array(
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
        .limit(num_cells * 32)
        .toPandas()["v"]
        .tolist(),
        dtype=np.float64,
    )
    pool /= np.maximum(np.linalg.norm(pool, axis=1, keepdims=True), 1e-12)
    k = min(num_cells, len(pool))
    chosen = [0]
    for _ in range(1, k):
        sims = pool @ pool[chosen].T  # cosine to nearest chosen seed
        d = 1.0 - sims.max(axis=1)
        d[chosen] = -1.0
        chosen.append(int(d.argmax()))
    cent = pool[chosen].copy()

    n_cells, dim = cent.shape
    # r6 hybrid crossover: when the corpus fits the driver matrix budget
    # (LIMIT-bounded probe + collect — never a full scan just to decide),
    # run the same Lloyd updates on one collected matrix: same assignment
    # argmax, same mean/normalize, zero jobs per iteration. The partial-sum
    # distributed loop below is unchanged and remains the at-scale path.
    from linkgraph.algorithms import blocks

    cap = max(1, LLOYD_DRIVER_BUDGET // max(dim * 8, 1))
    local = blocks.collect_if_small(corpus.select(F.col(vec_col).alias("v")), budget=cap)
    if local is not None:
        x = np.array(local["v"].tolist(), dtype=np.float64)
        if len(x):
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            for _ in range(iters):
                cells = (x @ cent.T).argmax(axis=1)
                counts = np.zeros(n_cells, dtype=np.int64)
                sums = np.zeros((n_cells, dim), dtype=np.float64)
                np.add.at(counts, cells, 1)
                np.add.at(sums, cells, x)
                for j in range(n_cells):
                    if counts[j]:
                        v = sums[j] / counts[j]
                        cent[j] = v / max(np.linalg.norm(v), 1e-12)
        return cent
    for _ in range(iters):
        c = cent

        def partials(batches):
            # ONE (cells × dim) accumulator per PARTITION: assignment and the
            # map-side combine happen in the same numpy pass, and each
            # partition emits at most num_cells skinny rows — the planner
            # sees 3 columns instead of `dim` codegen'd sum() expressions
            # (the old per-dimension F.sum(element_at) fan-out was 768
            # aggregate exprs per iteration at dim 768)
            counts = np.zeros(n_cells, dtype=np.int64)
            sums = np.zeros((n_cells, dim), dtype=np.float64)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.array(pdf["v"].tolist(), dtype=np.float64)
                x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
                cells = (x @ c.T).argmax(axis=1)
                np.add.at(counts, cells, 1)
                np.add.at(sums, cells, x)
            nz = np.nonzero(counts)[0]
            # empty partition (routine at scale: empty parquet splits,
            # post-filter unions): yield NOTHING — an empty DataFrame
            # would infer float64 for `vsum` and pyarrow cannot convert
            # an empty float64 ndarray to array<double>
            if len(nz):
                yield pd.DataFrame(
                    {
                        "cell": nz.astype(np.int32),
                        "n": counts[nz],
                        "vsum": list(sums[nz]),
                    }
                )

        rows = (
            corpus.select(F.col(vec_col).alias("v"))
            .mapInPandas(partials, schema="cell int, n long, vsum array<double>")
            .collect()  # ≤ partitions × num_cells skinny rows
        )
        counts = np.zeros(n_cells, dtype=np.int64)
        sums = np.zeros((n_cells, dim), dtype=np.float64)
        for r in rows:
            counts[r["cell"]] += r["n"]
            sums[r["cell"]] += np.asarray(r["vsum"])
        for j in range(n_cells):
            if counts[j]:
                v = sums[j] / counts[j]
                cent[j] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, embedding, cell) — nearest-centroid assignment, Arrow-vectorized."""
    cent = centroids.astype(np.float64)

    @pandas_udf("int")
    def assign_udf(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ cent.T).argmax(axis=1).astype(np.int32))

    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), assign_udf(F.col(vec_col)).alias("cell")
    )


def ivf_assign_multi(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, cell) with up to ``nprobe`` rows per vector — its
    nearest cells by centroid cosine. Query-side multi-probing: a vector
    near a Voronoi boundary also searches the adjacent cells, recovering
    the recall that nprobe=1 loses at cell edges."""
    cent = centroids.astype(np.float64)
    p = int(min(nprobe, len(cent)))

    @pandas_udf("array<int>")
    def probe_udf(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cent.T
        # top-p cells, best first (argpartition then sort — C·n, not C·log C·n)
        idx = np.argpartition(-sims, p - 1, axis=1)[:, :p]
        order = np.take_along_axis(-sims, idx, axis=1).argsort(axis=1)
        top = np.take_along_axis(idx, order, axis=1).astype(np.int32)
        return pd.Series(list(top))

    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(probe_udf(F.col(vec_col))).alias("cell"),
    )


def ivf_cell_means(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Per-cell RAW-vector means → (C, dim) residual anchors.

    `train_ivf_centroids` returns UNIT-NORM directions (cosine geometry);
    subtracting those from vectors at data scale leaves the residual ≈ the
    vector itself. Residual PQ (IVFADC) needs anchors at data scale — the
    cell's mean — computed here with one distributed groupBy (the
    reduction is C × dim floats regardless of corpus size)."""
    cent = centroids.astype(np.float64)
    dim = cent.shape[1]

    @pandas_udf("struct<cell:int, v:array<double>>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        x = np.array(vecs.tolist(), dtype=np.float64)
        nx = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.DataFrame(
            {"cell": (nx @ cent.T).argmax(axis=1).astype(np.int32), "v": list(x)}
        )

    agg = (
        corpus.select(assign(F.col(vec_col)).alias("s"))
        .select(F.col("s.cell").alias("cell"), F.col("s.v").alias("v"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array(*[F.sum(F.element_at("v", i + 1)) for i in range(dim)]).alias("vsum"),
        )
        .collect()
    )
    anchors = cent.copy()  # empty cells fall back to the unit direction
    for row in agg:
        if row["n"]:
            anchors[row["cell"]] = np.array(row["vsum"]) / row["n"]
    return anchors


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: equi-join on cell id, exact cosine within cell.

    Only the QUERY side multi-probes (``nprobe`` nearest cells); every
    corpus vector lives in exactly one cell, so a (query, corpus) pair can
    never be produced twice and no dedup shuffle is needed. Scan cost is
    nprobe/num_cells of the corpus per query instead of all of it."""
    qa = ivf_assign_multi(queries, centroids, nprobe, id_col, vec_col).select(
        F.col("id").alias("a"), F.col("v").alias("va"), "cell"
    )
    cb = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col("id").alias("b"), F.col("v").alias("vb"), "cell"
    )
    pairs = qa.join(cb, "cell").filter(F.col("a") != F.col("b"))
    scored = pairs.select(
        "a", "b", F.round(_dot("va", "vb") / (_norm("va") * _norm("vb")), 4).alias("cosine")
    )
    win = Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .select("a", "b", "cosine")
    )


# ------------------------------------------------------------------- PQ
def pq_train(
    corpus: DataFrame,
    num_subspaces: int = 8,
    bits: int = 8,
    vec_col: str = "embedding",
    max_sample: int = 100_000,
    iters: int = 8,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    residual: bool = False,
    anchors: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantization codebooks → (M, 2^bits, dim/M) array.

    Jégou et al. TPAMI'11: split the vector into M subspaces, k-means each
    independently over a BOUNDED hash-spread sample. At 100 TB the codes
    (M bytes/vector vs 4·dim) are what make exhaustive re-ranking and
    memory-resident candidate scans feasible. ``residual=True`` (with IVF
    ``centroids`` for assignment and data-scale ``anchors`` — see
    :func:`ivf_cell_means`) trains on x − anchor[cell] residuals — IVFADC
    proper."""
    k = 1 << bits
    pool = np.array(
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(seed)))
        .limit(max_sample)
        .toPandas()["v"]
        .tolist(),
        dtype=np.float64,
    )
    if residual:
        if centroids is None or anchors is None:
            raise ValueError(
                "residual training requires IVF centroids (assignment) and "
                "anchors (ivf_cell_means — data-scale subtraction points)"
            )
        cent = centroids.astype(np.float64)
        anc = anchors.astype(np.float64)
        nx = pool / np.maximum(np.linalg.norm(pool, axis=1, keepdims=True), 1e-12)
        pool = pool - anc[(nx @ cent.T).argmax(axis=1)]
    n, dim = pool.shape
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible by M={num_subspaces}")
    sub = dim // num_subspaces
    rng = np.random.RandomState(seed)
    books = np.empty((num_subspaces, k, sub))
    for m in range(num_subspaces):
        x = pool[:, m * sub : (m + 1) * sub]
        cent = x[rng.choice(n, size=min(k, n), replace=False)]
        if len(cent) < k:  # tiny corpora: pad with jittered repeats
            extra = cent[rng.choice(len(cent), k - len(cent))]
            cent = np.vstack([cent, extra + rng.normal(scale=1e-6, size=extra.shape)])
        for _ in range(iters):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = x[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[m] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    residual: bool = False,
    anchors: np.ndarray | None = None,
) -> DataFrame:
    """(id, codes array<int>[, cell]) — per-subspace nearest-centroid codes,
    Arrow-vectorized; M bytes of state per vector at bits≤8. Passing IVF
    ``centroids`` also emits the coarse cell in the SAME Arrow pass, so an
    IVF∘PQ index (cell for pruning + codes for ADC re-rank) is one scan.

    ``residual=True`` (requires centroids + data-scale ``anchors``,
    :func:`ivf_cell_means`) quantizes the RESIDUAL x − anchor[cell]
    instead of x — Jégou IVFADC proper: residual energy is far smaller
    than vector energy, so the same code budget carries much finer
    detail. Use codebooks trained with ``pq_train(..., residual=True)``
    and search with ``pq_topk_ivf(..., residual=True, anchors=...)``."""
    books = codebooks.astype(np.float64)
    n_sub, _, sub = books.shape
    cent = centroids.astype(np.float64) if centroids is not None else None
    if residual and (cent is None or anchors is None):
        raise ValueError("residual encoding requires IVF centroids and anchors")
    anc = anchors.astype(np.float64) if anchors is not None else None

    @pandas_udf("struct<codes:array<int>, cell:int>")
    def encode(vecs: pd.Series) -> pd.DataFrame:
        x = np.array(vecs.tolist(), dtype=np.float64)
        if cent is None:
            cells = np.zeros(x.shape[0], dtype=np.int32)
        else:
            nx = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            cells = (nx @ cent.T).argmax(axis=1).astype(np.int32)
        target = x - anc[cells] if residual else x
        codes = np.empty((x.shape[0], n_sub), dtype=np.int32)
        for m in range(n_sub):
            xs = target[:, m * sub : (m + 1) * sub]
            d2 = ((xs[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1).astype(np.int32)
        return pd.DataFrame({"codes": list(codes), "cell": cells})

    out = df.select(F.col(id_col).alias("id"), encode(F.col(vec_col)).alias("s"))
    cols = ["id", F.col("s.codes").alias("codes")]
    if cent is not None:
        cols.append(F.col("s.cell").alias("cell"))
    return out.select(*cols)


def _adc_topk(
    pairs: DataFrame,
    codebooks: np.ndarray,
    k: int,
    anchors: np.ndarray | None = None,
    residual: bool = False,
) -> DataFrame:
    """Shared ADC scorer: pairs(a, qv, b, codes[, cell]) → per-query top-k
    by asymmetric distance. Per Arrow batch one M×2^bits LUT per distinct
    (query[, cell]) — exact query-to-centroid distances; every corpus
    vector scores as M table lookups over its codes — no decode, no
    raw-vector math. With ``residual`` the LUT is built against
    q − anchor[cell], matching residual-encoded codes (IVFADC)."""
    books = codebooks.astype(np.float64)
    n_sub, k_cent, sub = books.shape
    if residual and anchors is None:
        raise ValueError("residual scoring requires anchors (ivf_cell_means)")
    cent = anchors.astype(np.float64) if residual else None

    @pandas_udf("double")
    def adc(qvs: pd.Series, codes: pd.Series, cells: pd.Series) -> pd.Series:
        # group the Arrow batch by (query, cell): ONE LUT build + ONE fancy-
        # index gather scores every code row of the group — the per-row
        # Python work is only the group-key pass (r3 VERDICT task 2; the old
        # scorer looped interpreted Python per (query, code) pair)
        out = np.empty(len(qvs))
        cd = np.array(codes.tolist(), dtype=np.int64)
        qarr = np.array(qvs.tolist(), dtype=np.float64)
        cl = cells.to_numpy(np.int64)
        groups: dict = {}
        for i in range(len(qarr)):
            key = (qarr[i].tobytes(), int(cl[i]) if cent is not None else 0)
            groups.setdefault(key, []).append(i)
        rows = np.arange(n_sub)
        for (qb, cell), idx in groups.items():
            q = np.frombuffer(qb, dtype=np.float64)
            if cent is not None:
                q = q - cent[cell]
            # (M, k_cent) LUT in one broadcast op (same math/order as the
            # per-subspace loop → bit-identical scores)
            lut = ((books - q.reshape(n_sub, 1, sub)) ** 2).sum(axis=2)
            ii = np.asarray(idx, dtype=np.int64)
            out[ii] = lut[rows[None, :], cd[ii]].sum(axis=1)
        return pd.Series(out)

    cell_col = F.col("cell") if residual else F.lit(0)
    scored = pairs.select(
        "a",
        "b",
        F.round(adc(F.col("qv"), F.col("codes"), cell_col), 6).alias("adc"),
    )
    win = Window.partitionBy("a").orderBy(F.asc("adc"), F.asc("b"))
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .select("a", "b", "adc")
    )


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exhaustive ADC top-k → (a, b, adc); smaller adc = closer (squared L2).

    This is the LINEAR-scan baseline (every query scores every corpus
    code). It is the exact-ADC reference for recall tests; at corpus scale
    use :func:`pq_topk_ivf`, which prunes candidates to the query's nprobe
    nearest IVF cells before the same ADC re-rank."""
    # r6: the old crossJoin duplicated every query VECTOR onto every
    # corpus row (nq × |corpus| × dim doubles through Arrow). The query
    # side is the bounded ≤~100-row front by contract, so its per-query
    # ADC LUTs — the same (M, 2^bits) tables _adc_topk builds, vectorized
    # over queries with identical elementwise math — broadcast once and
    # the corpus codes stream through a single Arrow pass. Rounding and
    # the top-k window stay in Spark; scores are bit-identical.
    import pyarrow as pa

    spark = queries.sparkSession
    rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[id_col] for r in rows], dtype=np.int64)
    Q = np.array([list(map(float, r[vec_col])) for r in rows], dtype=np.float64)
    books = codebooks.astype(np.float64)
    n_sub, k_cent, sub = books.shape
    luts = ((books[None, :, :, :] - Q.reshape(len(Q), n_sub, 1, sub)) ** 2).sum(axis=3)
    bc = spark.sparkContext.broadcast((qids, luts))

    def kernel(batches):
        qids_, luts_ = bc.value
        nq = len(qids_)
        rows_idx = np.arange(n_sub)
        for batch in batches:
            bids = batch.column("b").to_numpy(zero_copy_only=False).astype(np.int64)
            cd = np.array(batch.column("codes").to_pylist(), dtype=np.int64)
            if len(bids) == 0:
                continue
            out_a, out_b, out_s = [], [], []
            for qi in range(nq):
                s = luts_[qi][rows_idx[None, :], cd].sum(axis=1)
                keep = bids != qids_[qi]
                out_a.append(np.full(int(keep.sum()), qids_[qi], dtype=np.int64))
                out_b.append(bids[keep])
                out_s.append(s[keep])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a), pa.int64()),
                    pa.array(np.concatenate(out_b), pa.int64()),
                    pa.array(np.concatenate(out_s), pa.float64()),
                ],
                names=["a", "b", "raw"],
            )

    c = corpus_codes.select(F.col("id").alias("b"), "codes")
    scored = c.mapInArrow(kernel, schema="a long, b long, raw double").select(
        "a", "b", F.round("raw", 6).alias("adc")
    )
    win = Window.partitionBy("a").orderBy(F.asc("adc"), F.asc("b"))
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .select("a", "b", "adc")
    )


def pq_topk_ivf(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: np.ndarray,
    centroids: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    residual: bool = False,
    anchors: np.ndarray | None = None,
) -> DataFrame:
    """IVF∘PQ top-k: coarse-cell pruning composed in front of ADC re-rank.

    ``corpus_codes`` must carry a ``cell`` column (``pq_encode(...,
    centroids=...)``). Each query probes its ``nprobe`` nearest cells
    (query-side only — corpus vectors live in exactly one cell, so no pair
    duplicates) and ADC-scores only those cells' codes: the scan drops from
    the whole corpus to ~nprobe/num_cells of it, which is what survives a
    10⁹-vector corpus. ``residual=True`` expects residual-encoded codes
    (``pq_train/pq_encode`` with ``residual=True`` + the SAME ``anchors``
    from :func:`ivf_cell_means`) and builds the per-cell LUT against
    q − anchor — Jégou et al. TPAMI'11 §IV (IVFADC)."""
    if "cell" not in corpus_codes.columns:
        raise ValueError(
            "corpus_codes has no 'cell' column — encode with "
            "pq_encode(..., centroids=centroids) to build an IVF∘PQ index"
        )
    qa = ivf_assign_multi(queries, centroids, nprobe, id_col, vec_col).select(
        F.col("id").alias("a"), F.col("v").alias("qv"), "cell"
    )
    c = corpus_codes.select(F.col("id").alias("b"), "codes", "cell")
    pairs = qa.join(c, "cell").filter(F.col("a") != F.col("b"))
    return _adc_topk(pairs, codebooks, k, anchors=anchors, residual=residual)


# ------------------------------------------------------------------ SQ8
# Scalar quantization: each float compresses to one byte with per-dimension
# min/max scaling (the FAISS ScalarQuantizer QT_8bit recipe) — a 4x memory/
# shuffle reduction that, unlike PQ, keeps scoring EXACTLY reproducible in
# plain SQL (integer dot products over deterministically rounded codes), so
# the whole path is oracle-checkable end to end.


def sq8_bounds(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(dim, lo, hi) per dimension over the corpus — one posexplode +
    groupBy with map-side partial min/max; linear in corpus size."""
    return (
        corpus.select(F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
    )


def _sq8_literal_bounds(bounds: DataFrame):
    rows = sorted(bounds.collect(), key=lambda r: r["dim"])
    lo = F.array(*[F.lit(float(r["lo"])) for r in rows])
    hi = F.array(*[F.lit(float(r["hi"])) for r in rows])
    return lo, hi


def sq8_encode(
    vectors: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes: array<int>) — code_d = floor((x−lo_d)/(hi_d−lo_d)·255
    + 0.5) clamped to [0, 255]; a constant dimension (hi == lo) encodes 0.

    The per-dim bounds are dim-sized — collected once and inlined as array
    LITERALS so encoding is pure whole-stage codegen (zip_with twice); the
    corpus never joins against the bounds table."""
    lo, hi = _sq8_literal_bounds(bounds)
    shifted = F.zip_with(F.col(vec_col), lo, lambda x, l: x.cast("double") - l)
    span = F.zip_with(hi, lo, lambda h, l: h - l)
    codes = F.zip_with(
        shifted,
        span,
        lambda s, sp: F.when(sp > 0,
            F.least(
                F.lit(255),
                F.greatest(F.lit(0), F.floor(s / sp * 255.0 + 0.5).cast("int")),
            ),
        ).otherwise(F.lit(0)).cast("int"),
    )
    return vectors.select(F.col(id_col).alias("id"), codes.alias("codes"))


def sq8_decode(
    codes: DataFrame, bounds: DataFrame, codes_col: str = "codes"
) -> DataFrame:
    """Adds ``decoded: array<double>`` — x̂_d = lo_d + code_d/255·span_d,
    the reconstruction FAISS scores against. Pure codegen (two zip_withs
    over literal bounds arrays)."""
    lo, hi = _sq8_literal_bounds(bounds)
    span = F.zip_with(hi, lo, lambda h, l: h - l)
    scaled = F.zip_with(
        F.col(codes_col), span, lambda c, sp: c.cast("double") / 255.0 * sp
    )
    return codes.withColumn("decoded", F.zip_with(scaled, lo, lambda v, l: v + l))


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bounds: DataFrame | None = None,
) -> DataFrame:
    """(a, b, qcos) — top-k corpus neighbors per query by ASYMMETRIC
    SQ8 cosine: the query stays float, the corpus vector is reconstructed
    from its byte codes (x̂ = lo + c/255·span) — the FAISS ScalarQuantizer
    scoring recipe. Ranking uses the 4-digit-rounded cosine + id tie-break
    (reproducible across engines; identical per-element fold order makes
    the decode+cosine arithmetic itself engine-exact).

    Brute-force layout mirrors cosine_topk_bruteforce (broadcast corpus
    codes at 1/4 the float bytes); compose with IVF cells exactly like
    pq_topk_ivf when the corpus outgrows a broadcast."""
    if bounds is None:
        bounds = sq8_bounds(corpus, id_col, vec_col)
    a = queries.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    cb = sq8_decode(sq8_encode(corpus, bounds, id_col, vec_col), bounds).select(
        F.col("id").alias("b"), F.col("decoded").alias("vb")
    )
    pairs = a.crossJoin(F.broadcast(cb)).filter(F.col("a") != F.col("b"))
    scored = pairs.select(
        "a",
        "b",
        F.round(_dot("va", "vb") / (_norm("va") * _norm("vb")), 4).alias("qcos"),
    )
    win = Window.partitionBy("a").orderBy(F.desc("qcos"), F.asc("b"))
    return (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .select("a", "b", "qcos")
    )
