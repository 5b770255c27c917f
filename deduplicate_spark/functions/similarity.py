"""Similarity search over embedding columns (array<float>).

Four entry points, one cosine. Every cosine in this module comes from the
same numpy kernel over whole Arrow batches (:func:`_fold_dot`): each dot
product and squared norm is folded left to right over index 0..d-1, so a
pair scores the same bits whichever path scores it.

  * brute-force top-k — exact baseline: the query set rides into a
    mapInPandas closure and every corpus batch is scored against all of
    it. O(N*Q), the right choice when Q is small.
  * SRP-LSH top-k (``ann_topk``) — docs and queries hash to random
    hyperplane sign-pattern buckets; candidates are bucket collisions in
    any of ``n_tables`` tables, re-ranked exactly. Sub-linear candidate
    volume, recall tunable via (n_tables, n_bits).
  * IVF top-k — a small coarse-centroid table partitions the corpus into
    inverted-file cells; each query probes its ``nprobe`` nearest cells
    and is scored only inside them. Deterministic smallest-id quantizer
    for oracle-able tests; seeded k-means++ over a bounded sample for
    production.
  * embedding dup pairs — the SRP bucket self-join, exact cosine
    >= threshold on the candidates only.

Malformed vectors follow one rule, applied by the shared helpers
(:func:`_valid`, :func:`_collect_queries`):
  * a null or wrong-length corpus vector is dropped by a native filter
    before any kernel runs;
  * a zero-norm vector gets a null cosine, so it is never a dup pair and
    ranks last;
  * a null or wrong-length query vector raises ``ValueError`` on the
    driver, naming its query id. So does a query set larger than
    ``MAX_QUERIES``.

Everything relational (bucket joins, dedup, the rank window) stays native.
"""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deduplicate_spark.operators.skew import spread_to_task_slots

# the query set is collected to the driver and rides in every task's
# closure: 100k queries at d=128 is ~100 MB of float64 per task
MAX_QUERIES = 100_000

# fold-order accumulator tile: the d-step left-fold reads+writes the
# whole (rows x queries) accumulator once per dimension, so an untiled
# loop moves d x 16 bytes/cell of DRAM traffic (measured: 84 s for a
# 200k x 5k corpus — bandwidth-bound, not FLOP-bound). A 256x256 float64
# tile (0.5 MB) stays cache-resident across all d steps; per-element
# operation order is unchanged, so values stay bit-identical.
_FOLD_TILE = 256


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``sum_i a[..., i] * b[..., i]``, folded left over i = 0..d-1, with
    the leading axes of ``a`` and ``b`` broadcast. The fixed summation
    order makes a pair's cosine the same bits whichever path, batch or
    tile scores it (a BLAS dot product would not: its order depends on
    the matrix shape)."""
    shape = np.broadcast_shapes(a.shape[:-1], b.shape[:-1])
    acc = np.zeros(shape)
    buf = np.empty(shape)
    for i in range(a.shape[-1]):
        np.multiply(a[..., i], b[..., i], out=buf)
        acc += buf
    return acc


def _norms(mat: np.ndarray) -> np.ndarray:
    return np.sqrt(_fold_dot(mat, mat))


def _cosine(dot: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    # a zero norm gives NaN, which Arrow emits as a null cosine
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (na * nb)


def _pair_cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (pairs x d) matrices."""
    return _cosine(_fold_dot(a, b), _norms(a), _norms(b))


def _cosine_matrix(
    mat: np.ndarray, qmat: np.ndarray, qnorm: np.ndarray | None = None
) -> np.ndarray:
    """(rows x queries) cosine matrix, computed in cache-resident tiles."""
    dot = np.empty((mat.shape[0], qmat.shape[0]))
    t = _FOLD_TILE
    for i0 in range(0, mat.shape[0], t):
        for j0 in range(0, qmat.shape[0], t):
            dot[i0 : i0 + t, j0 : j0 + t] = _fold_dot(
                mat[i0 : i0 + t, None, :], qmat[None, j0 : j0 + t, :]
            )
    qnorm = _norms(qmat) if qnorm is None else qnorm
    return _cosine(dot, _norms(mat)[:, None], qnorm[None, :])


def _stack(col: pd.Series, dim: int) -> np.ndarray:
    """One Arrow batch's vector column as a float64 (rows x dim) matrix."""
    if len(col) == 0:
        return np.empty((0, dim))
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _valid(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Drop null and wrong-length vectors (``size`` of null is not dim)."""
    return df.filter(F.size(vec_col) == dim)


def _collect_queries(
    queries: DataFrame, query_id_col: str, vec_col: str, dim: int | None = None
) -> tuple[np.ndarray, np.ndarray, int]:
    """(query ids, float64 query matrix, dim) on the driver. Without a
    given ``dim`` the length most queries share is expected. Collecting
    ``MAX_QUERIES + 1`` rows detects an oversize query set without a
    separate count."""
    rows = queries.select(query_id_col, vec_col).limit(MAX_QUERIES + 1).collect()
    if len(rows) > MAX_QUERIES:
        raise ValueError(
            f"more than {MAX_QUERIES} query vectors: the query set is "
            "collected to the driver; score it in smaller batches"
        )
    if dim is None:
        lens = collections.Counter(len(v) for _, v in rows if v is not None)
        dim = lens.most_common(1)[0][0] if lens else 0
    for qid, v in rows:
        if v is None or len(v) != dim:
            got = "null" if v is None else f"of length {len(v)}"
            raise ValueError(
                f"query {query_id_col}={qid!r}: vector is {got}, expected length {dim}"
            )
    qmat = np.array([r[1] for r in rows], dtype=np.float64).reshape(len(rows), dim)
    return np.array([r[0] for r in rows]), qmat, dim


def _block_top_k(
    ids: np.ndarray, cos: np.ndarray, qids: np.ndarray, k: int, exclude_self: bool
) -> pd.DataFrame:
    """(q_id, neighbor_id, cosine) rows of a (rows x queries) cosine block:
    per query, every row within the block's k-th best cosine, boundary
    ties included — a superset of the block's top-k under the final window
    order, picked with one O(rows) partition per column instead of a sort
    (measured: the argsort was ~1 s/batch at 2048 x 5000). Every global
    top-k row is top-k in its own block, so the final window loses
    nothing. A NaN cosine ranks last, as its null does in the window;
    ``exclude_self`` drops (q, q) pairs before the selection."""
    drop = ids[:, None] == qids[None, :] if exclude_self else np.zeros(cos.shape, bool)
    key = -cos
    key[np.isnan(key) | drop] = np.inf
    if k < key.shape[0]:
        keep = key <= np.partition(key, k - 1, axis=0)[k - 1]
    else:
        keep = np.ones(key.shape, dtype=bool)
    qi, ri = np.nonzero((keep & ~drop).T)
    return pd.DataFrame({"q_id": qids[qi], "neighbor_id": ids[ri], "cosine": cos[ri, qi]})


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Rank (q_id, neighbor_id, cosine) rows per query by cosine DESC
    (nulls last), then neighbor_id ASC, and keep the first k."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _scan_top_k(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
    kernel,
    k: int,
) -> DataFrame:
    """Run a corpus-scoring ``kernel`` (batches -> (q_id, neighbor_id,
    cosine) frames) over the valid corpus rows, then rank."""
    src = _valid(vectors.select(id_col, vec_col), vec_col, dim)
    # parallelism floor: a bench-scale corpus is one parquet split, which
    # would run the kernel on one core; at real scale the scan already has
    # >= cores splits and takes no extra exchange (guide §2.4)
    if src.rdd.getNumPartitions() < src.sparkSession.sparkContext.defaultParallelism:
        src = spread_to_task_slots(src)
    q_t = queries.schema[query_id_col].dataType.simpleString()
    v_t = vectors.schema[id_col].dataType.simpleString()
    scored = src.mapInPandas(kernel, f"q_id {q_t}, neighbor_id {v_t}, cosine double")
    return _top_k(scored, k)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row.

    vectors(id_col, vec_col) x queries(query_id_col, vec_col) ->
    (q_id, neighbor_id, cosine, rnk). The query set rides into a
    mapInPandas kernel closure; the corpus side stays a narrow,
    shuffle-free scan. The kernel scores a whole Arrow batch against all
    queries at once and emits only each batch's top-k per query, so the
    final window ranks ~(batches x Q x k) rows instead of N x Q.

    ``exclude_self`` drops (q, q) pairs before ranking — the semantics of
    a pre-window ``id != q_id`` filter."""
    qids, qmat, dim = _collect_queries(queries, query_id_col, vec_col)
    qnorm = _norms(qmat)

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            cos = _cosine_matrix(_stack(pdf[vec_col], dim), qmat, qnorm)
            yield _block_top_k(ids, cos, qids, k, exclude_self)

    return _scan_top_k(vectors, queries, id_col, vec_col, query_id_col, dim, kernel, k)


def srp_signatures(
    df: DataFrame,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Signed-random-projection bucket keys: one row per (id, table,
    bucket). Hyperplanes are derived deterministically from the seed inside
    each task (no broadcast needed)."""

    def kernel(batches):
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables * n_bits, dim)).astype(np.float64)
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        for pdf in batches:
            mat = _stack(pdf[vec_col], dim)
            signs = (mat @ planes.T) > 0  # (batch, n_tables*n_bits)
            signs = signs.reshape(len(pdf), n_tables, n_bits)
            buckets = (signs * weights).sum(axis=2)  # (batch, n_tables)
            ids = np.repeat(pdf[id_col].to_numpy(), n_tables)
            tables = np.tile(np.arange(n_tables, dtype=np.int32), len(pdf))
            yield pd.DataFrame(
                {"vid": ids, "table_id": tables, "bucket": buckets.ravel()}
            )

    return df.select(F.col(id_col).alias(id_col), vec_col).mapInPandas(
        kernel, f"vid long, table_id int, bucket long"
    )


def ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_tables: int = 8,
    n_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: SRP bucket join -> exact cosine re-rank.

    Recall rises with n_tables (union of candidates across tables) and
    falls with n_bits (finer buckets, fewer candidates). The bucket join
    shuffles on (table_id, bucket) — the A1-style collision prefilter of
    the dedup cascade, reused for vectors. Each candidate is scored by the
    row-wise cosine kernel against its query, which rides in the closure."""
    qids, qmat, _ = _collect_queries(queries, query_id_col, vec_col, dim)
    qrow = {q: i for i, q in enumerate(qids.tolist())}
    vectors = _valid(vectors, vec_col, dim)
    v_sig = srp_signatures(vectors, dim, n_tables, n_bits, id_col, vec_col, seed)
    q_sig = srp_signatures(queries, dim, n_tables, n_bits, query_id_col, vec_col, seed)

    cand = (
        v_sig.alias("v")
        .join(q_sig.alias("q"), ["table_id", "bucket"])
        .select(
            F.col("q.vid").alias("q_id"),
            F.col("v.vid").alias("neighbor_id"),
        )
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .dropDuplicates(["q_id", "neighbor_id"])
    )

    def kernel(batches):
        for pdf in batches:
            qm = qmat[[qrow[q] for q in pdf["q_id"]]]
            cos = _pair_cosine(qm, _stack(pdf[vec_col], dim))
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "neighbor_id": pdf["neighbor_id"], "cosine": cos}
            )

    v = vectors.select(F.col(id_col).alias("neighbor_id"), vec_col)
    scored = cand.join(v, "neighbor_id").mapInPandas(
        kernel, "q_id long, neighbor_id long, cosine double"
    )
    return _top_k(scored, k)


def ivf_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``n_cells`` smallest-id vectors,
    in id order (cell i = i-th smallest id). Deterministic and
    SQL-expressible — the oracle-able quantizer for the driver harness; for
    production quality swap in :func:`ivf_centroids_kmeans` (same contract:
    a small ordered list of centroid vectors)."""
    rows = (
        vectors.select(F.col(id_col).alias("_i"), F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy("_i")
        .limit(n_cells)
        .collect()
    )
    return [list(r["_v"]) for r in rows]


def ivf_centroids_kmeans(
    vectors: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_rows: int = 100_000,
) -> list[list[float]]:
    """Production quantizer: seeded k-means++ / Lloyd over a bounded RANDOM
    sample — at 100 TB the quantizer trains on a sample, never the corpus.
    The sample must be uniform, not ``limit()``: limit takes the first N
    rows in file order, and a corpus written shard-by-shard (by source, by
    time) would train centroids on one region of embedding space, piling
    everything else into a few far cells and collapsing nprobe recall.
    A seeded Bernoulli sample costs one extra count() over the (narrow)
    vector column.

    The FIT runs driver-side in numpy: a coarse quantizer's training set is
    at most ``sample_rows`` rows (~50 MB at d=64) — small data by
    construction — while the Spark ML k-means|| fit made ~15 distributed
    passes over it (measured: 4-7 s of per-job scheduling on a 20k-row
    sample vs <0.3 s for the same Lloyd iterations in BLAS). Distribution
    stays where the data is big (the sampling scan); Euclidean objective,
    k-means++ init, 10 Lloyd iterations — the same algorithm family and
    determinism guarantees as before. Returns the same
    ordered-centroid-list contract as :func:`ivf_centroids`."""
    n = vectors.count()
    frac = min(1.0, sample_rows / max(n, 1))
    src = vectors if frac >= 1.0 else vectors.sample(fraction=frac, seed=seed)
    rows = src.select(F.col(vec_col).cast("array<double>")).collect()
    mat = np.array([list(r[0]) for r in rows], dtype=np.float64)
    if mat.shape[0] == 0:
        return []
    k = min(n_cells, mat.shape[0])
    rng = np.random.default_rng(seed)

    # k-means++ seeding (Arthur & Vassilvitskii, SODA 2007)
    sq = (mat * mat).sum(axis=1)
    cents = np.empty((k, mat.shape[1]))
    cents[0] = mat[rng.integers(mat.shape[0])]
    d2 = sq - 2 * (mat @ cents[0]) + (cents[0] * cents[0]).sum()
    np.maximum(d2, 0, out=d2)
    for i in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(d2.shape[0], 1 / d2.shape[0])
        cents[i] = mat[rng.choice(mat.shape[0], p=probs)]
        nd2 = sq - 2 * (mat @ cents[i]) + (cents[i] * cents[i]).sum()
        np.minimum(d2, np.maximum(nd2, 0), out=d2)

    for _ in range(10):  # Lloyd, same iteration budget as the former fit
        csq = (cents * cents).sum(axis=1)
        assign = (csq[None, :] - 2 * (mat @ cents.T)).argmin(axis=1)
        new_cents = cents.copy()  # empty cells keep their center (as Spark ML)
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, mat)
        nz = counts > 0
        new_cents[nz] = sums[nz] / counts[nz, None]
        if np.array_equal(new_cents, cents):
            break
        cents = new_cents
    return [list(map(float, c)) for c in cents]



def _ivf_cells(mat: np.ndarray, cmat: np.ndarray, n: int, use_kernel: bool) -> np.ndarray:
    """The ``n`` nearest cells of each row by cosine, ties -> smaller cell.
    Two arithmetics, each used alike on the driver (queries) and on the
    executors (corpus): the matmul form (normalize + one BLAS call) for
    large cell counts, or the fold-order cosine. A zero-norm row lands in
    cell 0 and scores null against every query."""
    if use_kernel:
        with np.errstate(divide="ignore", invalid="ignore"):
            nmat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            cs = nmat @ (cmat / np.linalg.norm(cmat, axis=1, keepdims=True)).T
    else:
        cs = _cosine_matrix(mat, cmat)
    return np.argsort(-cs, axis=1, kind="stable")[:, :n]


def _groups(keys: np.ndarray) -> dict:
    """{key: ascending positions of ``keys`` holding it}."""
    order = np.argsort(keys, kind="stable")
    uniq, starts = np.unique(keys[order], return_index=True)
    return dict(zip(uniq.tolist(), np.split(order, starts[1:])))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_cells: int = 64,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    centroids: list[list[float]] | None = None,
    assign_via_kernel: bool | None = None,
) -> DataFrame:
    """IVF-partitioned approximate top-k — the inverted-file scale path
    beside the SRP-LSH one (``ann_topk``): every corpus vector is assigned
    to its nearest coarse cell, each query probes its ``nprobe`` nearest
    cells, and the exact cosine re-rank touches only vectors in probed
    cells (~nprobe / n_cells of the corpus per query instead of all of
    it). Assignment, scoring and block-local top-k run in ONE mapInPandas
    pass over the corpus — a narrow, shuffle-free transform; queries and
    centroids ride in the closure.

    ``assign_via_kernel`` (default: auto, > 64 cells) selects the
    assignment arithmetic of :func:`_ivf_cells`: the matmul form or the
    fold-order cosine. Same argmax-of-cosine semantics; queries and
    corpus always use the same one."""
    qids, qmat, dim = _collect_queries(
        queries, query_id_col, vec_col, len(centroids[0]) if centroids else None
    )
    if centroids is None:
        centroids = ivf_centroids(_valid(vectors, vec_col, dim), n_cells, id_col, vec_col)
    use_kernel = assign_via_kernel if assign_via_kernel is not None else len(centroids) > 64
    cmat = np.asarray(centroids, dtype=np.float64).reshape(len(centroids), dim)
    qnorm = _norms(qmat)
    # inverted probe lists: cell -> indices of the queries probing it
    qcells = _ivf_cells(qmat, cmat, nprobe, use_kernel)
    probes = {
        c: pos // qcells.shape[1] for c, pos in _groups(qcells.ravel()).items()
    }

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = _stack(pdf[vec_col], dim)
            # score each row ONLY against the queries probing its cell —
            # the IVF contract: ~nprobe/n_cells of the pairs, never N x Q
            blocks = [
                _block_top_k(
                    ids[rows],
                    _cosine_matrix(mat[rows], qmat[q_idx], qnorm[q_idx]),
                    qids[q_idx],
                    k,
                    exclude_self=True,
                )
                for c, rows in _groups(_ivf_cells(mat, cmat, 1, use_kernel)[:, 0]).items()
                if (q_idx := probes.get(c)) is not None
            ]
            if blocks:
                yield pd.concat(blocks, ignore_index=True)

    return _scan_top_k(vectors, queries, id_col, vec_col, query_id_col, dim, kernel, k)


def embedding_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_tables: int = 8,
    n_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold) —
    the semantic-dedup edge source, LSH-bucketed so it never goes O(N^2).
    Candidates are scored by the row-wise cosine kernel."""
    vectors = _valid(vectors, vec_col, dim)
    sig = srp_signatures(vectors, dim, n_tables, n_bits, id_col, vec_col, seed)
    cand = (
        sig.alias("l")
        .join(sig.alias("r"), ["table_id", "bucket"])
        .filter(F.col("l.vid") < F.col("r.vid"))
        .select(F.col("l.vid").alias("a"), F.col("r.vid").alias("b"))
        .dropDuplicates(["a", "b"])
    )

    def kernel(batches):
        for pdf in batches:
            cos = _pair_cosine(_stack(pdf["_va"], dim), _stack(pdf["_vb"], dim))
            yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"], "cosine": cos})

    return (
        cand.join(vectors.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va")), "a")
        .join(vectors.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb")), "b")
        .select("a", "b", "_va", "_vb")
        .mapInPandas(kernel, "a long, b long, cosine double")
        .filter(F.col("cosine") >= threshold)
    )
