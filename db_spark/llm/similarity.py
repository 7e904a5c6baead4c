"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set,
score every corpus vector JVM-side with array expressions, window-rank
per query. Scale paths: IVF (centroid-bucketed probe) and SRP-LSH
(hyperplane signatures + Hamming blocking) so the corpus side never
self-joins unblocked.

All floating-point scoring is done in double precision with
sequential fold order, making results bit-reproducible.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType, DoubleType, IntegerType, LongType, ShortType, StructField,
    StructType)

from db_spark.llm.dedup import (
    _cross_pairs, _identical_groups, _plan_cache, _rep_rows, _within_pairs,
    h32)

#: semantic_dedup only routes a cell through the per-cell GEMM verify
#: kernel when its EXPECTED size (n / n_cells) is at or under this cap
#: — one applyInPandas group materializes the whole cell as numpy/
#: pandas state (~100k rows x dim 64 float64 = 51 MB, comfortable per
#: task even a few-fold skewed); above it the expression path's
#: spilling sort-merge pair join computes the identical output.
_KERNEL_CELL_CAP = 100_000


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x))


def _dot_d(a: Column, b: Column) -> Column:
    """Dot product of two already-double array columns (no cast pass)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x)


def _norm_d(v: Column) -> Column:
    """L2 norm of an already-double array column."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos_guarded(dot_expr: Column, denom: Column) -> Column:
    """Cosine division with the zero-vector contract: a zero denominator
    (either vector has zero L2 norm in double) yields similarity 0.0 —
    a zero vector has no direction. Keeps ANSI mode from faulting on
    0/0 and matches the guarded DOUBLE-cast oracle form."""
    return F.when(denom > 0, dot_expr / denom).otherwise(F.lit(0.0))


def cosine(a: Column, b: Column) -> Column:
    return _cos_guarded(dot(a, b), norm(a) * norm(b))


def _round_cos(dot_expr: Column, denom: Column) -> Column:
    """The module's reported cosine: guarded, rounded to 6 decimals —
    the engine-exact parity every ranking and threshold here compares."""
    return F.round(_cos_guarded(dot_expr, denom), 6)


def _staged(
    df: DataFrame, keep: list, vec_col: str, v: str, n: str,
) -> DataFrame:
    """``keep`` plus the double-cast vector as ``v`` and its L2 norm as
    ``n``. Casts and norms are staged per SIDE of a pair join: a row's
    norm is the same for every partner, so computing it inside cosine()
    per pair would cost one extra array fold per partner; arithmetic is
    unchanged — dot / (norm_a * norm_b) on the same doubles — so
    results are bit-identical."""
    df = df.select(*keep, _dbl(F.col(vec_col)).alias(v))
    return df.select(*keep, v, _norm_d(F.col(v)).alias(n))


def _staged_cos(a: str, b: str, na: str, nb: str) -> Column:
    """Round-6 cosine of two staged vector columns given their norms."""
    return _round_cos(_dot_d(F.col(a), F.col(b)), F.col(na) * F.col(nb))


def _top_k(df: DataFrame, part, order: list, k: "int | None",
           *out) -> DataFrame:
    """The rank tail every search and assignment here ends in:
    ``row_number`` over ``part`` ordered by ``order`` (which ends in an
    id, so the rank is a total order), keeping ranks ``<= k`` — or only
    the winner when ``k`` is None — then selecting ``out``, which may
    read the rank as ``_rk``."""
    w = Window.partitionBy(part).orderBy(*order)
    ranked = df.withColumn("_rk", F.row_number().over(w))
    keep = F.col("_rk") == 1 if k is None else F.col("_rk") <= k
    return ranked.filter(keep).select(*out)


def _rank() -> Column:
    return F.col("_rk").cast("long").alias("rank")


def _sim_topk(scored: DataFrame, k: int, id_col: str,
              query_id_col: str) -> DataFrame:
    """Cosine top-k output: (query, id, sim, rank), ranked by (sim desc,
    id asc) for cross-engine determinism."""
    return _top_k(scored, query_id_col, [F.col("sim").desc(), F.col(id_col)],
                  k, query_id_col, id_col, "sim", _rank())


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. The query set is broadcast (it is
    small by definition); the corpus is scanned once — O(|corpus|·|Q|)
    work fully partition-parallel, no shuffle until the final top-k
    (which AQE keeps tiny). Ranking key is (rounded sim desc, id asc)
    for cross-engine determinism."""
    c = _staged(corpus, [id_col], vec_col, "_cv", "_cn")
    q = _staged(queries, [query_id_col], vec_col, "_qv", "_qn")
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col),
        _staged_cos("_cv", "_qv", "_cn", "_qn").alias("sim"))
    return _sim_topk(scored, k, id_col, query_id_col)


# ---------------------------------------------------------------------------
# IVF — inverted-file index (scale path)
# ---------------------------------------------------------------------------

def ivf_assign(
    corpus: DataFrame, n_cells: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF: centroids = the n_cells lowest-id vectors
    (seed choice is reproducible; a k-means refinement would slot in
    here). Returns (centroids, corpus + cell assignment)."""
    centroids = (
        corpus.orderBy(F.col(id_col)).limit(n_cells)
        .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("_cvec"))
    )
    return centroids, _assign_to(corpus, centroids, id_col, vec_col)


def _assign_to(corpus: DataFrame, centroids: DataFrame,
               id_col: str, vec_col: str) -> DataFrame:
    """Nearest-centroid assignment (cosine; ties to the lowest cell_id).
    Corpus-row and centroid casts/norms are staged per side — inside
    cosine() per pair they would each be recomputed n_cells (resp.
    |corpus|) times; arithmetic order is unchanged, so assignments are
    bit-identical."""
    c = _staged(corpus, [id_col, vec_col], vec_col, "_cv", "_cn")
    cent = _staged(centroids, ["cell_id"], "_cvec", "_ce", "_cen")
    scored = c.crossJoin(F.broadcast(cent)).select(
        F.col(id_col), F.col(vec_col), F.col("cell_id"),
        _staged_cos("_cv", "_ce", "_cn", "_cen").alias("_csim"))
    return _top_k(scored, id_col, [F.col("_csim").desc(), F.col("cell_id")],
                  None, id_col, vec_col, "cell_id")


def _id_hash_sample(
    corpus: DataFrame, id_col: str, salt: str, n: int,
    out: "str | None" = None,
) -> DataFrame:
    """The ``n`` ids ranked lowest by the salted hash ``h32(salt || id)``,
    ties -> lowest id (as ``out`` when given): a training sample that is
    the same on any engine and partitioning, so the oracle can replay
    it."""
    idc = F.col(id_col) if out is None else F.col(id_col).alias(out)
    return (
        corpus.select(idc)
        .orderBy(h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                 F.col(id_col))
        .limit(int(n)))


def _mean_vectors(
    df: DataFrame, key: Column, g: str, vec_col: str, scale: int, out: str,
) -> DataFrame:
    """Per-group element-wise mean vector, (g, out array<double>), for
    the group column ``key`` named ``g``. Components accumulate in
    *scaled BIGINT* (each rounded to 1/``scale``), so the sum — and
    everything that compares against the mean — is identical under any
    partition order; plain double summation would make it run-dependent.
    One (group, component) hash aggregate and one per-group collect."""
    comp = df.select(key, F.posexplode(_dbl(F.col(vec_col))).alias("_j", "_x"))
    means = (
        comp.groupBy(g, "_j")
        .agg(F.sum(F.round(F.col("_x") * scale).cast("long")).alias("_s"),
             F.count(F.lit(1)).alias("_n"))
        .withColumn("_m", F.col("_s").cast("double")
                    / (F.lit(float(scale)) * F.col("_n")))
    )
    return (
        means.groupBy(g)
        .agg(F.array_sort(F.collect_list(F.struct("_j", "_m"))).alias("_jm"))
        .select(g, F.transform(F.col("_jm"),
                               lambda s: s.getField("_m")).alias(out))
    )


def ivf_kmeans_centroids(
    corpus: DataFrame, n_cells: int = 16, n_iter: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1_000_000, train_sample_n: "int | None" = None,
) -> DataFrame:
    """Lloyd-refined IVF centroids, fully deterministic (and therefore
    SQL-oracle-expressible):

    - seeding: the ``n_cells`` lowest-id vectors (same as ``ivf_assign``);
    - assignment: cosine argmax, ties to the lowest cell_id;
    - update: element-wise mean accumulated in *scaled BIGINT* (each
      component rounded to 1/``scale``), so the sum — and hence every
      subsequent assignment — is identical regardless of partition
      order. Plain double summation would make centroids run-dependent
      and assignments could flip on ties.

    A cell that loses every member keeps its previous centroid. Each
    iteration is one broadcast-join assignment + one (cell, component)
    hash aggregate — O(corpus · n_cells) work per round, no all-pairs.

    ``train_sample_n`` bounds the Lloyd refinement to a deterministic
    salted-id-hash sample (``h32('ivfs:' || id)`` ranking, ties ->
    lowest id — the pq_train doctrine): at 100 TB centroid quality
    saturates long before the corpus is exhausted, so the per-
    iteration assignment join runs over the sample while the RESULT
    centroids still partition the full corpus downstream. Seeding
    follows the sample, so sampled refinement equals full refinement
    on the manually-subsetted corpus, bit for bit."""
    src = corpus
    if train_sample_n is not None:
        pick = _id_hash_sample(corpus, id_col, "ivfs:", train_sample_n)
        src = corpus.join(F.broadcast(pick), id_col, "left_semi")
    # per-round centroid tables are persisted AND plan-truncated
    # (n_cells rows): the Lloyd chain otherwise grows exponentially
    # (cent_i references cent_{i-1} in both the assignment and the
    # update join), so every downstream consumer — semantic_dedup's
    # three v-references, the ivf_topk refine path — replayed the full
    # chain per reference (r12 cache; since r13 _plan_cache is a local
    # checkpoint, so the LOGICAL plan is cut too, not just the
    # execution — see its docstring)
    cent = _plan_cache(
        src.orderBy(F.col(id_col)).limit(n_cells)
        .select(F.col(id_col).alias("cell_id"), _dbl(F.col(vec_col)).alias("_cvec"))
    )
    for _ in range(n_iter):
        assigned = _assign_to(src, cent, id_col, vec_col)
        new_cent = _mean_vectors(
            assigned, F.col("cell_id"), "cell_id", vec_col, scale, "_new")
        cent = _plan_cache(
            # new_cent is <= n_cells rows but sits above an aggregate, so
            # Catalyst has no size estimate and would sort-merge; broadcast
            cent.join(F.broadcast(new_cent), "cell_id", "left")
            .select("cell_id", F.coalesce(F.col("_new"), F.col("_cvec")).alias("_cvec"))
        )
    return cent


def _ivf_model(
    corpus: DataFrame, n_cells: int, refine_iters: int,
    id_col: str, vec_col: str,
) -> "tuple[DataFrame, DataFrame]":
    """(centroids, assigned corpus) of an IVF index: the seed centroids
    of ``ivf_assign``, or ``refine_iters`` deterministic Lloyd rounds
    over them (``ivf_kmeans_centroids``) and one assignment."""
    if refine_iters > 0:
        centroids = ivf_kmeans_centroids(
            corpus, n_cells, refine_iters, id_col, vec_col)
        return centroids, _assign_to(corpus, centroids, id_col, vec_col)
    return ivf_assign(corpus, n_cells, id_col, vec_col)


def _ivf_probes(
    queries: DataFrame, centroids: DataFrame, n_probe: int,
    vec_col: str, query_id_col: str, carry_vec: bool,
) -> DataFrame:
    """Per query the ``n_probe`` cells whose centroid is nearest by
    round-6 cosine, ties -> lowest cell. ``carry_vec`` keeps the query
    vector for IVF scoring: (query_id_col, _qvec, cell_id); without it
    the IVF-PQ form (_qid, cell_id), whose ADC tables start from the
    query's components."""
    qid = query_id_col if carry_vec else "_qid"
    cols = [qid, "_qvec", "cell_id"] if carry_vec else [qid, "cell_id"]
    q = queries.select(
        F.col(query_id_col) if carry_vec else F.col(query_id_col).alias(qid),
        F.col(vec_col).alias("_qvec"))
    qv, cv = F.col("_qvec"), F.col("_cvec")
    q_cells = q.crossJoin(F.broadcast(centroids)).select(
        *cols, _round_cos(dot(qv, cv), norm(qv) * norm(cv)).alias("_csim"))
    return _top_k(q_cells, qid, [F.col("_csim").desc(), F.col("cell_id")],
                  n_probe, *cols)


def _ivf_score(
    cells: DataFrame, probes: DataFrame, k: int,
    id_col: str, vec_col: str, query_id_col: str,
) -> DataFrame:
    """The IVF search shared by the one-shot and persisted paths: each
    query's exact round-6 cosine against the vectors of its probed
    cells, top ``k`` per query. ``cells`` is the assigned corpus
    (cell_id, id, vector) — in flight for ``ivf_topk``, the pruned
    parquet scan for ``ivf_index_topk``."""
    asg = _staged(cells, ["cell_id", id_col], vec_col, "_cv", "_cn")
    pq = _staged(probes, [query_id_col, "cell_id"], "_qvec", "_qv", "_qn")
    scored = asg.join(F.broadcast(pq), "cell_id").select(
        F.col(query_id_col), F.col(id_col),
        _staged_cos("_cv", "_qv", "_cn", "_qn").alias("sim"))
    return _sim_topk(scored, k, id_col, query_id_col)


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, n_cells: int = 16,
    n_probe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", refine_iters: int = 0,
) -> DataFrame:
    """Approximate top-k: score only vectors in the n_probe cells nearest
    to each query, assigning the corpus in-flight (one-shot use). For
    repeated querying at scale, build the index once with
    ``ivf_index_build`` — it persists the assignment partitioned by
    cell_id so probes prune at the file level (``ivf_index_topk``).
    ``refine_iters`` > 0 runs that many deterministic Lloyd iterations
    over the seed centroids (``ivf_kmeans_centroids``) before assigning."""
    centroids, assigned = _ivf_model(
        corpus, n_cells, refine_iters, id_col, vec_col)
    probes = _ivf_probes(queries, centroids, n_probe, vec_col,
                         query_id_col, carry_vec=True)
    return _ivf_score(assigned, probes, k, id_col, vec_col, query_id_col)


# ---------------------------------------------------------------------------
# Persisted IVF index — cell-pruned probing (the 100 TB path)
# ---------------------------------------------------------------------------

def _write_centroids(centroids: DataFrame, path: str) -> None:
    centroids.withColumnRenamed("_cvec", "centroid").write.mode(
        "overwrite").parquet(path + "/centroids")


def _read_centroids(spark, path: str) -> DataFrame:
    return spark.read.parquet(path + "/centroids").withColumnRenamed(
        "centroid", "_cvec")


def _read_probed(spark, path: str, probes: DataFrame) -> DataFrame:
    """The cell-partitioned table at ``path``, read for the probed cells
    only: the union of probed cell ids (tiny: |Q|·n_probe ints, the one
    legitimate driver-side scalar fetch of a persisted search) becomes
    a literal IN filter on the partition column, so the parquet scan
    plans PartitionFilters and reads only those cell directories."""
    probed_cells = sorted(
        r["cell_id"] for r in probes.select("cell_id").distinct().collect())
    return spark.read.parquet(path).filter(
        F.col("cell_id").isin(probed_cells))  # -> PartitionFilters


def ivf_index_build(
    corpus: DataFrame, path: str, n_cells: int = 16, refine_iters: int = 0,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index: the assigned corpus is written
    hive-partitioned by ``cell_id`` (one directory per cell) and the
    centroids to a side table. A probe then reads ONLY the probed cells'
    directories — Spark partition pruning turns ``n_probe`` of
    ``n_cells`` into an actual file-level I/O ratio, which is the whole
    point of IVF at 100 TB: the index is built once, and every query
    scans ~n_probe/n_cells of the corpus instead of all of it.

    Cell directories also give bucketed-join locality for free: a probe
    joins on ``cell_id`` against files already grouped by it."""
    centroids, assigned = _ivf_model(
        corpus, n_cells, refine_iters, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        path + "/corpus")
    _write_centroids(centroids, path)


def ivf_index_topk(
    spark, path: str, queries: DataFrame, k: int = 10, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k against a persisted IVF index: ``ivf_topk``'s
    search fed from parquet. Probes come from the stored centroids, and
    the probed cell set prunes the corpus scan to those cells'
    directories (``_read_probed``); the one IVF scorer then ranks the
    probed cells' vectors — results are bit-identical to ``ivf_topk``
    with the same build parameters."""
    probes = _ivf_probes(queries, _read_centroids(spark, path), n_probe,
                         vec_col, query_id_col, carry_vec=True)
    return _ivf_score(_read_probed(spark, path + "/corpus", probes), probes,
                      k, id_col, vec_col, query_id_col)


# ---------------------------------------------------------------------------
# Embedding quantization (int8 storage path)
# ---------------------------------------------------------------------------

def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale) in [-127, 127]. Cuts embedding storage and
    shuffle width 4x (float32) / 8x (float64) for ANN-recall workloads.
    Pure Column expressions; zero vectors get scale 0 and all-zero codes.
    Returns (id, scale, qvec array<int>)."""
    # scale is staged through a projection boundary: referencing the
    # array_max tree inside the per-element lambda would re-reduce the
    # whole vector per element (Spark does no CSE inside lambdas —
    # O(dim^2) per row; ~5x observed on the embeddings table at sf0.1)
    v = _dbl(F.col(vec_col))
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("_scale"),
    )
    s = F.col("_scale")
    q = F.when(
        s > 0,
        F.transform(F.col("_v"), lambda x: F.round(x / s).cast("int")),
    ).otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
    return staged.select(F.col(id_col), s.alias("scale"), q.alias("qvec"))


def dequantize(scale: Column, qvec: Column) -> Column:
    """Reconstruct the (lossy) double vector from int8 codes."""
    return F.transform(qvec, lambda x: x.cast("double") * scale)


# ---------------------------------------------------------------------------
# SRP-LSH — signed random projections (embedding near-dup at scale)
# ---------------------------------------------------------------------------

def _srp_signs(dim: int, n_bits: int) -> list[list[float]]:
    """±1 hyperplane components, sign(i, j) = md5("i_j") first-8-hex % 2
    mapped to {-1, +1} — the same md5 family the SQL oracle derives its
    signs from, but folded to constants at plan-build time: the signs
    depend only on (bit, component), never on data, so evaluating an md5
    per (bit x element x row) was pure waste (16 x dim md5s per row)."""
    import hashlib

    return [
        [
            float((int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16) % 2) * 2 - 1)
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def srp_signature(vec: Column, dim: int, n_bits: int = 16) -> Column:
    """n_bits-bit sign signature under deterministic ±1 hyperplanes
    (component signs derived from md5 of 'bit_component'). Cosine-similar
    vectors agree on most bits. The hyperplanes are literal arrays in the
    plan — per row the work is n_bits signed dot products, no hashing."""
    v = _dbl(vec)
    signs = _srp_signs(dim, n_bits)
    out = F.lit(0).cast("long")
    for i in range(n_bits):
        plane = F.array(*[F.lit(s) for s in signs[i]])
        proj = F.aggregate(
            F.zip_with(v, plane, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


# ---------------------------------------------------------------------------
# Exact-cosine verify core: numpy helpers the GEMM kernels run in the
# Python workers (module-level, so cloudpickle ships them by reference)
# ---------------------------------------------------------------------------

def _by_len(vecs) -> dict:
    """{length: (positions, float64 matrix)} over a sequence of vectors,
    NULLs (``_kernel_vec``) skipped. Only equal-length vectors are ever
    compared: the expression path's ``zip_with`` null-pads a length
    mismatch, the dot folds to NULL and the guarded cosine to 0.0,
    which the kernels' positive threshold (``_kernel_ok``) excludes."""
    import numpy as np

    vecs = list(vecs)
    pos: dict = {}
    for i, v in enumerate(vecs):
        if v is not None:
            pos.setdefault(len(v), []).append(i)
    return {d: (idxs, np.stack([np.asarray(vecs[i], dtype=np.float64)
                                for i in idxs]))
            for d, idxs in pos.items()}


def _norms(X):
    """Row norms, the dim-sequential fold bit-identical to
    ``sqrt(aggregate(v, 0.0, (acc, x) -> acc + x*x))``."""
    import numpy as np

    n2 = np.zeros(len(X))
    for j in range(X.shape[1]):
        n2 += X[:, j] * X[:, j]
    return np.sqrt(n2)


def _block_verify(A, na, B, nb, threshold: float, ids=None):
    """Candidate cosine pairs between the rows of ``A`` and ``B`` (row
    norms ``na``/``nb`` from ``_norms``): ``(rows, cols, dot, den)``,
    positions into ``A`` and ``B`` with the pair's exact dot and norm
    product. ``ids=(ids_a, ids_b)`` keeps only pairs with id_a < id_b.

    Bit-exactness contract: ``dot`` accumulates DIM-SEQUENTIALLY (one
    vectorized ``+=`` per component, left to right), which reproduces
    the ``F.aggregate`` fold ``((0.0 + x0*y0) + x1*y1) + ...``
    IEEE-op-for-op, so ``(dot, den)`` are bit-identical to the
    expression path and the final guarded division / round / threshold
    stays in Catalyst.

    The threshold here is only a PREFILTER with a safety margin (1e-5,
    far above both the 0.5e-6 round-half-up boundary and the ~d·eps
    summation-order slack of a BLAS GEMM): the candidate pass is one
    ``A @ B.T`` — order-free, cache-blocked, the fast path — and only
    the pairs it keeps get the exact dim-sequential dot. It may emit
    extra sub-threshold pairs (Catalyst re-filters exactly) but never
    drops a qualifying one — NaN dots/denominators are emitted rather
    than judged, mirroring Spark's NaN-largest comparison semantics.
    (A first cut ran the dim-sequential accumulation over the FULL
    pair matrix: 64 read-modify-write passes over every scratch block
    made it memory-bound at ~2x the expression path's win; the
    GEMM-prefilter form is compute-bound and ~4x faster again.) Row
    blocks bound the block x ``len(B)`` scratch to ~32 MB."""
    import numpy as np

    margin = 1e-5
    out = []
    block = max(1, 4_000_000 // max(len(B), 1))
    for s in range(0, len(A), block):
        C = A[s:s + block] @ B.T
        den = np.multiply.outer(na[s:s + block], nb)
        with np.errstate(invalid="ignore"):
            keep = (np.isnan(den) | np.isnan(C)
                    | ((den > 0) & (C >= (threshold - margin) * den)))
        if ids is not None:
            keep &= ids[0][s:s + block][:, None] < ids[1][None, :]
        ra, ca = np.nonzero(keep)
        Ar, Bc = A[s + ra], B[ca]
        dot = np.zeros(ra.size)
        for j in range(A.shape[1]):
            dot += Ar[:, j] * Bc[:, j]
        out.append((s + ra, ca, dot, den[ra, ca]))
    return tuple(np.concatenate(c) for c in zip(*out))


def _pairs_frame(names, parts):
    """A kernel's output frame: the per-group ``parts`` tuples
    (ids..., dot, den) concatenated column by column under ``names``.
    The dot and den columns are Arrow-backed so a NaN reaches Catalyst
    as NaN: pyspark's pandas-to-Arrow conversion turns a plain float64
    NaN into NULL, which the guarded cosine maps to 0.0, where the
    expression path's NaN passes any threshold (NaN-largest)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    cols = [np.concatenate(c) for c in zip(*parts)]
    cols[-2:] = [pd.arrays.ArrowExtensionArray(pa.array(c)) for c in cols[-2:]]
    return pd.DataFrame(dict(zip(names, cols)))


def _srp_verify_kernel(id_col: str, threshold: float):
    """Per-group all-pairs cosine verify for ``_verify_pairs`` (guide
    §4.2: hand whole batches to vectorized native code instead of
    per-pair interpreted expressions): every equal-length pair of the
    group with id_a < id_b that ``_block_verify`` keeps, as
    (id_a, id_b, _dot, _den)."""
    def verify(pdf):
        import numpy as np
        ids_all = pdf[id_col].to_numpy()
        out = [(ids_all[:0], ids_all[:0], np.zeros(0), np.zeros(0))]
        for idxs, X in _by_len(pdf["_vd"]).values():
            ids = ids_all[idxs]
            nd = _norms(X)
            ra, ca, dot, den = _block_verify(X, nd, X, nd, threshold,
                                             (ids, ids))
            out.append((ids[ra], ids[ca], dot, den))
        return _pairs_frame(("id_a", "id_b", "_dot", "_den"), out)

    return verify


def _verify_pairs(grouped, id_col: str, id_type, threshold: float):
    """``_srp_verify_kernel`` over each group of ``grouped``: candidate
    pairs (id_a, id_b, _dot, _den) with ids of ``id_type``."""
    schema = StructType([
        StructField("id_a", id_type), StructField("id_b", id_type),
        StructField("_dot", DoubleType()), StructField("_den", DoubleType())])
    return grouped.applyInPandas(
        _srp_verify_kernel(id_col, float(threshold)), schema)


def _kernel_vec(vec: Column) -> Column:
    """A GEMM kernel's input vector: the double array, or NULL when it
    holds a NULL element. pandas receives a NULL element as NaN, but
    the expression fold tells them apart: a NULL element folds the dot
    to NULL (guarded cosine 0.0, never a match under the kernels'
    positive threshold), a NaN component folds it to NaN (which passes
    any threshold). The kernels skip NULL vectors, the NULL-element
    outcome."""
    return F.when(F.exists(vec, lambda x: x.isNull()), F.lit(None)) \
        .otherwise(_dbl(vec))


def _kernel_ok(df: DataFrame, id_col: str, threshold: float) -> bool:
    """The gate every GEMM verify kernel here shares: a positive
    threshold, under which NULL, zero and length-mismatched vectors are
    excluded identically by the kernel and the expression fold, and
    integral ids (the kernels' int64 output schema). Elsewhere the
    expression path keeps the original per-pair fold."""
    return threshold > 0.0 and isinstance(
        df.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType))


def _seg_keys(sig: Column, seg_n: int, seg_bits: int) -> Column:
    """One (seg_id, seg_key) row per pigeonhole segment of an SRP
    signature: vectors within ``seg_n - 1`` differing bits share at
    least one segment key."""
    return F.explode(F.array(*[
        F.struct(
            F.lit(s).alias("seg_id"),
            F.shiftright(sig, s * seg_bits)
            .bitwiseAND(F.lit((1 << seg_bits) - 1)).alias("seg_key"),
        )
        for s in range(seg_n)
    ])).alias("seg")


def embedding_near_dup_pairs(
    corpus: DataFrame, dim: int, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_bits: int = 16, max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate embedding pairs: SRP signatures block candidates
    (pigeonhole segments, like simhash_pairs), exact cosine verifies.
    Never materializes the full pair matrix.

    The verify is a per-bucket Arrow kernel (``applyInPandas``) whose
    arithmetic is dim-sequential and therefore bit-identical to the
    expression fold — see ``_block_verify``. Only bucket VECTORS
    cross the exchange and the Python boundary (O(corpus · segments)
    bytes), never per-pair payloads; the O(sum of squared bucket sizes)
    pair work runs as vectorized NumPy inside the kernel. The r12
    measurement that motivated this (guide §1/§4): at sf1 the
    interpreted higher-order-function fold over the 211.5M candidate
    pairs dominated the query's 142.5 s noop time, and a fully unrolled
    codegen expression was even slower (JIT bails out past the
    8K-bytecode method limit).

    Scale note: bucket count per segment is 2^(n_bits/(max_hamming+1)).
    The 16-bit default keeps the oracle SQL tractable; at corpus sizes
    past ~1e6 vectors use n_bits=64 (4 segments x 16 bits = 65536
    buckets/segment) so per-bucket candidate groups stay bounded — the
    verify cost is sum of squared bucket sizes."""
    seg_n = max_hamming + 1
    seg_bits = max(1, n_bits // seg_n)
    if _kernel_ok(corpus, id_col, threshold):
        # Identical-vector grouping (dedup._identical_groups, keyed by
        # the vector VALUE): at the 10x-replicated sf1 dir one hot
        # bucket held ~all copies of a vector — a single-task GEMM
        # straggler (guide §2.5). Exact because every decision is a
        # function of the vector bytes alone: members have their rep's
        # signature (same buckets), and a member pair's dim-sequential
        # dot/norms are bit-identical to the rep pair's. Spark's
        # group/window key normalization (NaN==NaN, -0.0==0.0) can
        # merge sign-of-zero variants; their dots differ only in +/-0.0
        # intermediates, so every merged pair still rounds to the same
        # cos_sim, and a +/-0.0 cos_sim is unreachable here (threshold
        # > 0 gates this path). Within-group pairs (identical vectors)
        # get the SAME guarded/rounded formula on the shared vector
        # value — 1.0 for normal vectors, excluded for zero/NULL
        # vectors (zero den -> 0.0, NULL never passes a positive
        # threshold) and NaN for NaN vectors, which passes
        # (NaN-largest) exactly like a kernel pair.
        mem = _identical_groups(
            corpus.select(F.col(id_col),
                          _kernel_vec(F.col(vec_col)).alias("_vd")),
            id_col, "_vd", "_vd")
        sig = _rep_rows(
            mem, F.col("_mid").alias(id_col), "_vd",
            srp_signature(F.col("_vd"), dim, n_bits).alias("_sig"),
        )
        segs = sig.select(
            id_col, "_vd", _seg_keys(F.col("_sig"), seg_n, seg_bits),
        ).select(id_col, "_vd", "seg.seg_id", "seg.seg_key")
        raw = _verify_pairs(segs.groupBy("seg_id", "seg_key"), id_col,
                            corpus.schema[id_col].dataType, threshold)
        rep_pairs = (
            raw.select(
                "id_a", "id_b",
                _round_cos(F.col("_dot"), F.col("_den")).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .distinct()
        )
        selfcos = _round_cos(
            _dot_d(F.col("_vd"), F.col("_vd")),
            _norm_d(F.col("_vd")) * _norm_d(F.col("_vd")))
        within = (
            _within_pairs(mem)
            .select("id_a", "id_b", selfcos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))
        return (_cross_pairs(rep_pairs, mem, "cos_sim")
                .unionByName(within).distinct())
    # expression path: non-integral id types or non-positive thresholds
    # (where the kernel's NULL/zero-vector shortcuts would not be
    # output-equivalent) keep the original per-pair fold
    sig = corpus.select(
        F.col(id_col), _dbl(F.col(vec_col)).alias("_vd"),
        srp_signature(F.col(vec_col), dim, n_bits).alias("_sig"),
    )
    sig = sig.select(
        id_col, "_vd", _norm_d(F.col("_vd")).alias("_nd"), "_sig")
    segs = sig.select(
        id_col, "_vd", "_nd", "_sig",
        _seg_keys(F.col("_sig"), seg_n, seg_bits),
    ).select(id_col, "_vd", "_nd", "seg.seg_id", "seg.seg_key")
    a = segs.select(
        F.col(id_col).alias("id_a"), F.col("_vd").alias("_va"),
        F.col("_nd").alias("_na"), "seg_id", "seg_key")
    b = segs.select(
        F.col(id_col).alias("id_b"), F.col("_vd").alias("_vb"),
        F.col("_nd").alias("_nb"), "seg_id", "seg_key")
    return (
        a.join(b, ["seg_id", "seg_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                _staged_cos("_va", "_vb", "_na", "_nb").alias("cos_sim"))
        # threshold BEFORE the dedup exchange (a pair's cos_sim is
        # fixed, so this is value-identical with a smaller shuffle)
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def centroid_outliers(
    df: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", group_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` embedding outliers per group: the vectors farthest
    (cosine distance) from their group's mean embedding — the
    label-noise / mislabel audit a curated training set runs per class,
    and the cluster-quality check after any assignment.

    The centroid is an element-wise mean accumulated in scaled BIGINT
    (each component rounded to 1/``scale`` — the ``ivf_kmeans``
    discipline), so it is identical under any partition order and the
    oracle recomputes it exactly. Distances round to micro-units
    before the per-group rank window (id tiebreak) so the top-k
    boundary is engine-exact.

    Shape: one (group, component) hash aggregate (|groups| · dim rows),
    centroids broadcast back, one distance scan, one per-group rank
    window over distance-ranked rows. No pairwise anything — O(n · dim)
    end to end. Returns (group, id, rank, dist) with dist rounded 6.
    """
    cent = _mean_vectors(
        df, F.col(group_col).alias("_g"), "_g", vec_col, scale, "_cvec")
    v = _dbl(F.col(vec_col))
    dist = F.lit(1.0) - _cos_guarded(
        _dot_d(v, F.col("_cvec")),
        _norm_d(v) * _norm_d(F.col("_cvec")))
    scored = (
        df.join(F.broadcast(cent), df[group_col] == cent["_g"])
        .select(F.col("_g"), F.col(id_col).alias("_id"),
                F.round(dist * 1e6).cast("long").alias("_d6"))
    )
    return _top_k(scored, "_g", [F.desc("_d6"), F.asc("_id")], k,
                  F.col("_g").alias(group_col), F.col("_id").alias(id_col),
                  _rank(), (F.col("_d6").cast("double") / 1e6).alias("dist"))


def ivf_index_append(
    spark, path: str, new_vectors: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> int:
    """Incremental IVF index maintenance: assign ``new_vectors`` to the
    index's EXISTING centroids and append them into the matching
    ``cell_id=`` directories — the daily-ingest path that keeps a 100 TB
    index current without the rebuild (`ivf_index_build` rewrites the
    whole corpus; this writes only the delta). Probes see the new
    vectors immediately, with identical arithmetic to a full rebuild on
    the same centroids — asserted by test, since assignment depends
    only on (vector, centroids).

    Centroids deliberately do NOT move: recall decays only as the data
    distribution drifts away from the frozen centroids, at which point
    a scheduled ``ivf_index_build(refine_iters=...)`` re-trains —
    the standard offline-retrain / online-append split. Returns the
    number of appended vectors (a metadata count of the delta, not a
    corpus scan)."""
    assigned = _assign_to(new_vectors, _read_centroids(spark, path),
                          id_col, vec_col)
    assigned.write.mode("append").partitionBy("cell_id").parquet(
        path + "/corpus")
    return new_vectors.count()


# ---------------------------------------------------------------------------
# MMR — maximal marginal relevance diversified re-ranking
# ---------------------------------------------------------------------------

def mmr_rerank(
    candidates: DataFrame, vectors: DataFrame, k: int = 5,
    lam: float = 0.7, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", sim_col: str = "sim",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank of an ANN candidate list:
    greedily pick, per query, the candidate maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_selected`` —
    the standard diversified-retrieval objective (Carbonell & Goldstein
    1998), used in training-data curation to pick exemplars that cover
    a neighborhood instead of k near-copies.

    ``candidates`` is a (query_id, vec_id, sim) table (e.g.
    ``brute_force_topk`` / ``ivf_topk`` output — bounded per query);
    ``vectors`` supplies embeddings for the pairwise diversity term.
    The greedy loop runs ``k`` driver-orchestrated rounds, each fully
    distributed: remaining x selected pairwise cosines (bounded by
    |candidates| * round, never corpus-sized), a per-candidate max, a
    per-query struct-argmax. Determinism: every similarity and every
    MMR score is rounded to 6 dp and ties break on ascending id, so
    the selection is engine-exact and SQL-oracle-checkable; the
    selected set is ``localCheckpoint``ed per round to keep the plan
    round-sized.

    Returns ``(query_id, vec_id, sim, mmr_score, mmr_rank)`` with
    ``mmr_rank`` 1..k in selection order.
    """
    cand = (
        candidates.select(query_id_col, id_col, sim_col)
        .join(vectors.select(F.col(id_col), _dbl(F.col(vec_col)).alias("_v")),
              id_col)
    )
    cand = cand.select(
        query_id_col, id_col, sim_col, "_v",
        _norm_d(F.col("_v")).alias("_n")).localCheckpoint(eager=True)
    selected = None  # (query_id, vec_id, sim, mmr_score, mmr_rank, _v, _n)
    for rnd in range(1, k + 1):
        if selected is None:
            remaining = cand
            max_div = F.lit(0.0)
            scored = remaining.withColumn("_maxdiv", max_div)
        else:
            remaining = cand.join(
                selected.select(query_id_col, id_col), [query_id_col, id_col],
                "left_anti")
            sel = selected.select(
                F.col(query_id_col).alias("_sq"), F.col("_v").alias("_sv"),
                F.col("_n").alias("_sn"))
            pair = remaining.join(
                sel, remaining[query_id_col] == sel["_sq"])
            div = _staged_cos("_v", "_sv", "_n", "_sn")
            scored = (
                pair.groupBy(query_id_col, id_col)
                .agg(F.max(div).alias("_maxdiv"),
                     F.first(sim_col).alias(sim_col),
                     F.first("_v").alias("_v"), F.first("_n").alias("_n"))
            )
        mmr = F.round(
            F.lit(lam) * F.col(sim_col) - F.lit(1.0 - lam) * F.col("_maxdiv"),
            6)
        scored = scored.withColumn("_mmr", mmr)
        best = scored.groupBy(query_id_col).agg(
            F.max(F.struct(F.col("_mmr"),
                           (-F.col(id_col)).alias("_nid"))).alias("_b"))
        pick = (
            scored.join(best, query_id_col)
            .filter((F.col("_mmr") == F.col("_b._mmr"))
                    & (F.col(id_col) == -F.col("_b._nid")))
            .select(query_id_col, id_col, sim_col,
                    F.col("_mmr").alias("mmr_score"),
                    F.lit(rnd).cast("long").alias("mmr_rank"), "_v", "_n")
        )
        selected = (pick if selected is None
                    else selected.unionByName(pick)).localCheckpoint(
            eager=True)
    return selected.select(
        query_id_col, id_col, sim_col, "mmr_score", "mmr_rank")


def recall_at_k(
    exact: DataFrame, approx: DataFrame, k: int,
    query_id_col: str = "query_id", id_col: str = "vec_id",
) -> DataFrame:
    """ANN quality measurement: per-query recall@k of an approximate
    top-k result against the exact one — the metric that justifies an
    IVF/LSH configuration (n_cells, n_probe) before pointing it at
    100 TB. Both inputs are (query_id, vec_id[, ...]) top-k tables;
    one equi-join on (query, id) + a query-keyed count. Deterministic
    given deterministic inputs, so the whole evaluation is
    oracle-checkable. Returns (query_id, n_hit, recall_at_k)."""
    e = exact.select(query_id_col, id_col)
    a = approx.select(query_id_col, id_col)
    return (
        e.join(a, [query_id_col, id_col])
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
        .select(query_id_col, "n_hit",
                F.round(F.col("n_hit").cast("double") / F.lit(float(k)), 6)
                .alias(f"recall_at_{k}"))
    )


def k_center_greedy(
    emb: DataFrame, k: int = 4, id_col: str = "vec_id",
    vec_col: str = "embedding", batch_m: int = 1,
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal) —
    the classic diversity-sampling pick for training data: seed with
    the smallest id, then each round add the point with the LARGEST
    current min cosine distance to the selected set. Distances use the
    established round-6 cosine parity and ties break toward the
    smaller id, so the traversal is a total order — bit-deterministic
    and replayable by the oracle as k unrolled select/update rounds.

    Scale shape (``batch_m=1``, the oracle mode): per round ONE
    map-only distance pass of the remaining corpus against the single
    newest pick (a literal vector — nothing broadcast but 64 doubles),
    folded into the running min column; O(k·|corpus|) distance
    evaluations total, the textbook bound. Per round the driver
    fetches one id and one vector (scalar class, like the k-core
    fixpoint counts); ``localCheckpoint`` keeps the plan round-sized.

    ``batch_m > 1`` keeps the traversal EXACTLY equal but compresses
    the O(k) job chain — the scale mode for k in the hundreds: each
    round fetches the top ``batch_m + 1`` frontier candidates by
    current min-dist, and since adding centers only ever LOWERS a
    point's min-dist, the (m+1)-th candidate's value upper-bounds
    every outside point's true score. A driver-side greedy over the
    batch (pairwise candidate distances come from one tiny map-only
    engine job on literal rows, so they are bit-identical to the fold
    expression — no Python float math) accepts picks while the best
    verified score strictly exceeds that bound, then ONE distributed
    pass folds all accepted centers into the min column. The first
    sub-pick per round is the global argmax and always accepted, so
    the worst case degrades to the m=1 chain, never to an inexact
    answer. Returns the k picks in selection order:
    (sel_rank, id, min_dist-at-selection), NULL for the seed."""
    spark = emb.sparkSession
    st = emb.select(F.col(id_col).alias("_id"),
                    _dbl(F.col(vec_col)).alias("_v"))
    st = st.localCheckpoint(eager=True)
    # k is clamped to the corpus size (an empty corpus returns an
    # empty result, not a crash): after the last vector is picked
    # there is nothing left to argmax over
    n_corpus = st.count()
    k = min(int(k), n_corpus)
    if k == 0:
        return spark.createDataFrame(
            [], "sel_rank int, " + id_col + " long, min_dist double")
    if batch_m > 1:
        return _k_center_batched(spark, st, k, id_col, int(batch_m))
    cur = st.agg(F.min("_id")).collect()[0][0]
    picks = [(1, int(cur), None)]
    for r in range(2, k + 1):
        cvec = st.filter(F.col("_id") == cur).select("_v").collect()[0][0]
        d_new = _kc_dist_expr(cvec)
        st = (
            st.filter(F.col("_id") != cur)
            .withColumn("_mind",
                        d_new if r == 2
                        else F.least(F.col("_mind"), d_new))
            .localCheckpoint(eager=True)
        )
        top = st.orderBy(F.col("_mind").desc(), F.col("_id")) \
            .limit(1).collect()[0]
        cur = top["_id"]
        picks.append((r, int(cur), float(top["_mind"])))
    return spark.createDataFrame(
        picks, "sel_rank int, " + id_col + " long, min_dist double")


def _kc_dist(v: Column, c: Column) -> Column:
    """k-center cosine distance: 1 - the round-6 cosine. The one
    expression behind the min-dist fold and the batched pair matrix,
    so the driver-side greedy compares bit-identical values."""
    return 1 - _round_cos(_dot_d(v, c), _norm_d(v) * _norm_d(c))


def _kc_dist_expr(vec: list) -> Column:
    """Distance of the corpus vector column ``_v`` to one literal
    center."""
    return _kc_dist(F.col("_v"), F.array(*[F.lit(float(x)) for x in vec]))


def _k_center_batched(
    spark, st: DataFrame, k: int, id_col: str, m: int,
) -> DataFrame:
    """Batched frontier for :func:`k_center_greedy` — same traversal,
    O(k/m_eff) jobs. ``st`` is the checkpointed (_id, _v) corpus."""
    seed = st.agg(F.min("_id")).collect()[0][0]
    seed_vec = st.filter(F.col("_id") == seed).select("_v").collect()[0][0]
    picks = [(1, int(seed), None)]
    # eager=False: the checkpoint materializes inside the next round's
    # frontier job, truncating lineage without spending a job of its own
    st = (st.filter(F.col("_id") != seed)
          .withColumn("_mind", _kc_dist_expr(seed_vec))
          .localCheckpoint(eager=False))
    # fetch deeper than m so exact-duplicate vectors (the norm in a
    # dedup-bound corpus) don't starve the batch: a twin (identical
    # vector, larger id) can never be sub-picked while its min-id
    # representative is present (equal score, larger id loses the
    # tie-break) and is dominated at distance 0 the moment the
    # representative is accepted — so dropping twins from the batch
    # provably never changes the traversal. ~65 rows of 64 doubles:
    # the fetch stays scalar-class.
    fetch = 8 * m + 1
    while len(picks) < k:
        cands = (st.orderBy(F.col("_mind").desc(), F.col("_id"))
                 .limit(fetch).collect())
        seen_vecs: set = set()
        batch, next_distinct, dropped_twin = [], None, False
        for r in cands:
            key = tuple(r["_v"])
            if key in seen_vecs:
                dropped_twin = True
                continue
            seen_vecs.add(key)
            if len(batch) < m:
                batch.append(r)
            else:
                next_distinct = r
                break
        # bound must cap every point outside the batch (true scores
        # only shrink): the (m+1)-th DISTINCT candidate caps the
        # non-batch distinct points and (transitively, twins score
        # exactly their representative) all twins; with no (m+1)-th
        # distinct row, the last fetched row caps the unfetched tail;
        # a fetch that exhausted the corpus leaves only dominated
        # twins outside - no bound needed.
        if next_distinct is not None:
            bound = next_distinct["_mind"]
        elif len(cands) == fetch:
            bound = cands[-1]["_mind"]
        else:
            bound = None
        # a dropped twin scores exactly 0 once its batch representative
        # is accepted, and cosine distance is never negative — so when
        # any twin was dropped, a 0-score sub-pick could lose the id
        # tie-break to a twin outside the batch: floor the bound at 0
        # (the degenerate all-duplicates tail then falls back to one
        # exact argmax per round, matching m=1)
        if dropped_twin and (bound is None or bound < 0.0):
            bound = 0.0
        ids = [int(r["_id"]) for r in batch]
        vecs = {int(r["_id"]): list(r["_v"]) for r in batch}
        score = {int(r["_id"]): r["_mind"] for r in batch}
        # pairwise candidate distances, engine-evaluated on literal
        # rows (map-only, no join): bit-identical to the fold expr
        pair = {}
        if len(ids) > 1:
            rows = [(ids[i], vecs[ids[i]], ids[j], vecs[ids[j]])
                    for i in range(len(ids))
                    for j in range(i + 1, len(ids))]
            pdf = spark.createDataFrame(
                rows, "ia long, va array<double>, ib long, vb array<double>")
            mat = pdf.select(
                "ia", "ib", _kc_dist(F.col("va"), F.col("vb")).alias("d")
            ).collect()
            for r in mat:
                pair[(r["ia"], r["ib"])] = pair[(r["ib"], r["ia"])] = r["d"]
        accepted: list[int] = []
        remaining = list(ids)
        while remaining and len(picks) < k:
            best = min(remaining, key=lambda i: (-score[i], i))
            # sub-pick 1 is the exact global argmax (min-dists are
            # fresh); later sub-picks are exact only if they beat the
            # outside bound STRICTLY (an equal-score outside point
            # with a smaller id would win the tie-break)
            if accepted and bound is not None and not score[best] > bound:
                break
            accepted.append(best)
            picks.append((len(picks) + 1, best, float(score[best])))
            remaining.remove(best)
            for i in remaining:
                d = pair[(i, best)]
                if d < score[i]:
                    score[i] = d
        if len(picks) < k:
            folds = [_kc_dist_expr(vecs[c]) for c in accepted]
            st = (st.filter(~F.col("_id").isin(accepted))
                  .withColumn("_mind", F.least(F.col("_mind"), *folds))
                  .localCheckpoint(eager=False))
    return spark.createDataFrame(
        picks, "sel_rank int, " + id_col + " long, min_dist double")


def rbo(
    exact: DataFrame, approx: DataFrame, k: int, p: float = 0.5,
    query_id_col: str = "query_id", id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Truncated rank-biased overlap at depth k — the ORDER-AWARE
    ranking-agreement metric that complements :func:`recall_at_k`
    (which treats a reversed top-k as perfect):
    ``RBO@k = (1-p) * Σ_{d<=k} p^(d-1) * |A_d ∩ B_d| / d``.

    Per-doc closed form instead of k prefix joins: a doc present in
    both top-k lists first enters both prefixes at ``m = max(rank_a,
    rank_b)`` and contributes ``Σ_{d=m..k} p^(d-1)/d`` — that weight
    depends only on m, so the k weights are PRECOMPUTED in Python,
    nano-rounded to integer literals, and the per-query total is a
    BIGINT sum (order-independent; a float sum of weights would drift
    with row order). One (query, id) equi-join of two bounded top-k
    tables + a query-keyed sum; queries with zero overlap keep a 0
    row. Truncated form — no tail extrapolation: identical lists
    score (1-p)·Σ p^(d-1), not 1. Returns (query_id, n_common,
    rbo)."""
    w_nano = [
        int(round(sum(p ** (d - 1) / d for d in range(m, k + 1)) * 1e9))
        for m in range(1, k + 1)]
    arr = F.array(*[F.lit(w) for w in w_nano])
    a = exact.select(query_id_col, id_col,
                     F.col(rank_col).alias("_ra")) \
        .filter(F.col("_ra") <= k)
    b = approx.select(query_id_col, id_col,
                      F.col(rank_col).alias("_rb")) \
        .filter(F.col("_rb") <= k)
    j = (a.join(b, [query_id_col, id_col])
         .select(query_id_col,
                 F.element_at(arr, F.greatest("_ra", "_rb").cast("int"))
                 .alias("_w")))
    per_q = j.groupBy(query_id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("_w").alias("_s"))
    qs = exact.select(query_id_col).distinct()
    return (qs.join(per_q, query_id_col, "left")
            .select(query_id_col,
                    F.coalesce("n_common", F.lit(0)).cast("long")
                    .alias("n_common"),
                    F.round(F.lit(1.0 - p)
                            * (F.coalesce(F.col("_s"), F.lit(0))
                               .cast("double") / 1e9), 6).alias("rbo")))


def dbscan(
    emb: DataFrame, threshold: float = 0.95, min_pts: int = 2,
    dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
    n_bits: int = 16, max_hamming: int = 3,
) -> DataFrame:
    """DBSCAN-style density clustering over an embedding corpus with
    cosine eps-neighborhoods: core points have >= ``min_pts`` neighbors
    at cosine >= ``threshold``; clusters are connected components of
    the core-core adjacency; non-core points adjacent to a core point
    join its cluster (ties toward the smallest cluster id —
    deterministic border assignment, unlike classic order-dependent
    DBSCAN); everything else is noise (NULL cluster, kept in the
    output).

    Composition of proven pieces: the eps-neighborhood pairs come from
    the SRP-blocked near-dup join (pigeonhole segments — never the
    full pair matrix; the documented recall bound applies), degrees
    are one pair-keyed count, components reuse
    ``dedup.connected_components`` (min-label propagation), and the
    border step is one min-aggregate over core-adjacent pairs. Returns
    (id, cluster_id NULLable, role in {core, border, noise})."""
    from db_spark.llm.dedup import connected_components

    pairs = embedding_near_dup_pairs(
        emb, dim=dim, threshold=threshold, n_bits=n_bits,
        max_hamming=max_hamming).select("id_a", "id_b")
    pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.unionByName(pairs.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    deg = sym.groupBy("id_a").agg(
        F.count(F.lit(1)).cast("long").alias("_deg"))
    core_ids = deg.filter(F.col("_deg") >= min_pts) \
        .select(F.col("id_a").alias("_core"))
    core_edges = (
        pairs
        .join(core_ids, pairs["id_a"] == core_ids["_core"], "left_semi")
        .join(core_ids, pairs["id_b"] == core_ids["_core"], "left_semi"))
    comp = connected_components(core_edges, "id_a", "id_b")
    core_lab = (
        core_ids.join(comp, core_ids["_core"] == comp["doc_id"], "left")
        .select(F.col("_core").alias("_cid"),
                F.coalesce("cluster_id", F.col("_core"))
                .alias("_cluster")))
    border = (
        sym.join(core_ids, sym["id_a"] == core_ids["_core"], "left_anti")
        .join(core_lab, F.col("id_b") == F.col("_cid"))
        .groupBy("id_a")
        .agg(F.min("_cluster").alias("_bcluster")))
    base = emb.select(F.col(id_col).alias("_id"))
    out = (
        base
        .join(core_lab, base["_id"] == core_lab["_cid"], "left")
        .join(border, base["_id"] == border["id_a"], "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("_cluster", "_bcluster").alias("cluster_id"),
            F.when(F.col("_cluster").isNotNull(), F.lit("core"))
            .when(F.col("_bcluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("role")))
    return out


def semantic_dedup(
    corpus: DataFrame, n_cells: int = 16, threshold: float = 0.95,
    refine_iters: int = 2, id_col: str = "vec_id",
    vec_col: str = "embedding", target_cell_size: int | None = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): k-means-cluster the embedding
    corpus, compare vectors pairwise only WITHIN a cluster, and drop
    every vector whose cosine similarity to a lower-id vector in the
    same cluster reaches ``threshold``. The keep-lowest-id rule
    replaces the paper's arbitrary within-cluster ordering with a
    deterministic one, so the output is reproducible and
    SQL-oracle-expressible.

    Determinism end to end: centroids come from
    ``ivf_kmeans_centroids`` (lowest-id seeding, scaled-BIGINT means,
    cosine argmax with lowest-cell tiebreak), assignment from
    ``_assign_to`` (same tiebreak), and the duplicate test compares
    ``round(cos, 6) >= threshold`` — the same rounded-boundary
    discipline every similarity operator here uses.

    Shape at 100 TB: the pair stage shuffles once on ``cell_id`` and
    is O(sum of cell_size^2) — the SemDeDup price. Cell count scales
    WITH the corpus: ``target_cell_size`` (r10, self-enforcing) raises
    ``n_cells`` to ``ceil(n / target_cell_size)`` whenever the explicit
    cell count would leave cells above the target, so a 10x corpus at
    default args gets ~10x the cells and per-cell pair work stays
    O(target^2) per cell — bounded — with no caller discipline needed.
    Pass ``target_cell_size=None`` to pin the cell count exactly (the
    oracle-paired registry query does, so its DuckDB twin can replicate
    the clustering with a fixed dimension). The count() this takes is a
    scalar driver fetch, the documented acceptable class. The k-means
    stage is O(n * n_cells) per iteration with broadcast centroids.

    Returns one row per input vector: (id, cell_id, kept) — kept=false
    iff a same-cell lower-id vector is cosine-similar at threshold.
    """
    n = None
    if target_cell_size is not None:
        n = corpus.count()
        n_cells = max(n_cells, -(-n // target_cell_size))
    cent = ivf_kmeans_centroids(
        corpus, n_cells=n_cells, n_iter=refine_iters,
        id_col=id_col, vec_col=vec_col)
    assigned = _assign_to(corpus, cent, id_col, vec_col)

    def kept(base: DataFrame, removed: DataFrame) -> DataFrame:
        # removed: the ids a same-cell lower-id vector duplicates
        removed = removed.distinct().withColumn("_kept", F.lit(False))
        return (
            base.join(removed, id_col, "left")
            .select(F.col(id_col), F.col("cell_id"),
                    F.coalesce(F.col("_kept"), F.lit(True)).alias("kept")))

    fast = _kernel_ok(corpus, id_col, threshold)
    if fast:
        # Bounded-cell gate (r13 ADVICE): the GEMM kernel materializes
        # ONE WHOLE CELL per Python task (applyInPandas group), so it
        # is only taken when the expected cell size n / n_cells is
        # under a cap — enforced by construction when target_cell_size
        # is set, checked via the same scalar count() when the caller
        # pinned the cell count (target_cell_size=None), where cell
        # size would otherwise grow linearly with the corpus and turn
        # the streaming pair-join into an unbounded per-task memory
        # requirement. Over the cap, the expression path's sort-merge
        # pair join (spills gracefully) computes the identical output.
        if n is None:
            n = corpus.count()
        fast = n <= _KERNEL_CELL_CAP * n_cells
    if fast:
        # Per-cell GEMM verify (r12 — the near-dup kernel applied to
        # SemDeDup's within-cluster stage; guide §4.2): the relational
        # a x b pair filter evaluated the interpreted zip_with cosine
        # fold per pair — O(sum cell_size^2) rows through
        # codegen'd-but-per-pair expressions, the dominant stage (sf0.1
        # noop ~6 s of which ~4 s was the pair filter). Exact under the
        # ``_block_verify`` contract; the round/guard/threshold stays in
        # Catalyst.
        seg = assigned.select(
            "cell_id", F.col(id_col), _kernel_vec(F.col(vec_col)).alias("_vd"))
        raw = _verify_pairs(seg.groupBy("cell_id"), id_col, LongType(),
                            threshold)
        removed = (
            raw.select(
                "id_b",
                _round_cos(F.col("_dot"), F.col("_den")).alias("_cs"))
            .filter(F.col("_cs") >= F.lit(threshold))
            .select(F.col("id_b").alias(id_col)))
        return kept(assigned.select(F.col(id_col), "cell_id"), removed)
    # expression path: non-integral id types or non-positive thresholds
    # (where the kernel's NULL/zero-vector shortcuts would not be
    # output-equivalent) keep the original per-pair fold
    v = _staged(assigned, [id_col, "cell_id"], vec_col, "_v", "_nn")
    # Deliberately NOT plan-cached despite three consumers (a-side,
    # b-side, final keep-join): the 66-exchange explain is misleading —
    # Spark dedups the identical Lloyd-chain subplans at runtime via
    # ReusedExchange, so the shuffles are paid once regardless, while a
    # .cache() inserts an InMemoryTableScan boundary that breaks
    # whole-stage codegen across the join. Measured A/B (r10, sf0.1,
    # 3 reps): cached 0.36-0.64 s vs uncached 0.13-0.21 s; sf1 neutral
    # (0.34 s both). The dedup builders' plan-cache discipline applies
    # to EXPENSIVE re-derivations (tokenizer regex passes), not to
    # exchange-reused relational chains.
    a = v.select(F.col(id_col).alias("_ida"), "cell_id",
                 F.col("_v").alias("_va"), F.col("_nn").alias("_na"))
    b = v.select(F.col(id_col).alias("_idb"), "cell_id",
                 F.col("_v").alias("_vb"), F.col("_nn").alias("_nb"))
    removed = (
        a.join(b, "cell_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(_staged_cos("_va", "_vb", "_na", "_nb") >= F.lit(threshold))
        .select(F.col("_idb").alias(id_col))
    )
    return kept(v, removed)


def _clamp(x: Column, clamp: float) -> Column:
    """``x`` CASE-clamped to ±``clamp`` (a CASE, not least/greatest,
    which swallow NULLs): totality on adversarial magnitudes before the
    scaled-integer cast of the PQ and PCA paths."""
    return (F.when(x > clamp, F.lit(clamp))
            .when(x < -clamp, F.lit(-clamp)).otherwise(x))


def _sq_l2(a: str, b: str) -> Column:
    """Exact squared L2 of scaled-integer components: a DECIMAL(38,0)
    fold of (a - b)^2 — differences reach 2e12, so squares need 128
    bits. Bit-identical on any engine and partitioning."""
    d = F.col(a) - F.col(b)
    return F.sum(d.cast("decimal(38,0)") * d).cast("decimal(38,0)")


#: stored codebook column -> the k-means loop's column
_CODEBOOK = {"subspace": "_j", "code": "_code", "pos": "_pos", "c": "_c"}


def _codebook(cb: DataFrame) -> DataFrame:
    """A stored codebook (subspace, code, pos, c) in k-means columns."""
    return cb.select(*[F.col(s).alias(c) for s, c in _CODEBOOK.items()])


def _stored_codebook(cent: DataFrame) -> DataFrame:
    """The k-means codebook (_j, _code, _pos, _c) in stored columns."""
    return cent.select(*[F.col(c).alias(s) for s, c in _CODEBOOK.items()])


def _pq_components(
    df: DataFrame, m: int, id_col: str, vec_col: str,
    scale: int, clamp: float, out_id: str,
) -> DataFrame:
    """Scaled-integer component rows for PQ: (out_id, _j subspace,
    _pos in-subspace position, _x scaled long). Subspace membership is
    ARITHMETIC over the exploded position (j = pos div d_sub) — no
    slice literals, so the same expression adapts to any corpus
    dimensionality (the oracle computes the identical quotient).

    ``m`` must divide the vector dimension exactly: a remainder would
    silently create an (m+1)-th partial subspace whose layout no
    stored codebook agrees on, and ``m`` > dim makes d_sub = 0 (NULL
    division keys that drop every row). Both are rejected with a
    runtime raise on the first exploded component (r11 ADVICE) — the
    check must be data-side because dimensionality is a property of
    the rows, not the schema."""
    if int(m) < 1:
        raise ValueError(f"pq: m must be >= 1, got {m}")
    arr = F.col(vec_col).cast("array<double>")
    cx = _clamp(F.col("_raw"), clamp)
    d_sub = F.expr(f"_dim div {int(m)}")
    dim_ok = F.when(
        (F.col("_dim") % int(m) == 0) & (F.col("_dim") >= int(m)),
        F.col("_dim"),
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"pq: m={int(m)} must divide the vector dimension; got "
              "size(" + str(vec_col) + ")="),
        F.col("_dim").cast("string"))))
    return (
        df.select(F.col(id_col).alias(out_id),
                  F.size(arr).alias("_dim"),
                  F.posexplode(arr).alias("_p", "_raw"))
        .select(out_id, dim_ok.alias("_dim"), "_p", "_raw")
        .select(out_id,
                F.expr(f"CAST(_p div (_dim div {int(m)}) AS INT)")
                .alias("_j"),
                (F.col("_p") % d_sub).cast("int").alias("_pos"),
                F.round(cx * scale).cast("long").alias("_x"))
    )


def _pq_kmeans(comp: DataFrame, seeds: DataFrame, n_iter: int) -> DataFrame:
    """The PQ k-means loop over component rows (_vid, _j, _pos, _x):
    seed codewords are the seed vectors' own components (seeds =
    (_vid, _code)), then ``n_iter`` rounds of exact-integer squared-L2
    assignment (ties -> lowest code) + truncating-division integer
    means; a codeword that loses every member keeps its previous
    value. Shared by ``pq_train`` (raw components) and ``ivfpq_train``
    (residual components) — identical arithmetic, so both replay 1:1
    in the HUGEINT oracle chain. Returns (_j, _code, _pos, _c)."""
    # Each round's codebook is plan-cached (model-sized: dim x n_codes
    # rows). Without the cache the lineage grows EXPONENTIALLY — cent_i
    # references cent_{i-1} twice (assignment + update join) and comp
    # twice per round — so every downstream reference (codes, ADC
    # tables) replayed the whole k-means chain and the composed plans
    # (ivfpq_recall) spent tens of seconds in planning + recompute
    # (r12, guide §2.4 duplicated subtrees / §3.3 plan size; sf0.1
    # noop: ivfpq_recall 36.2 s -> ~2 s, ivfpq_topk 6.2 s -> ~1.5 s).
    # Caching truncates each round to: one assignment pass over comp +
    # one model-sized update, the inherent Lloyd cost.
    cent = _plan_cache(
        comp.join(F.broadcast(seeds), "_vid")
        .select("_j", "_code", "_pos", F.col("_x").alias("_c")))
    for _ in range(n_iter):
        asg = _pq_assign(comp, cent, "_vid").select("_vid", "_j", "_code")
        means = (
            comp.join(asg, ["_vid", "_j"])
            .groupBy("_j", "_code", "_pos")
            .agg(F.expr("SUM(CAST(_x AS DECIMAL(38,0))) div COUNT(*)")
                 .cast("long").alias("_new")))
        cent = _plan_cache(
            # means is dim x n_codes rows (model-sized) but sits above
            # an aggregate, so Catalyst has no size estimate and would
            # sort-merge every update round (the ivf_kmeans_centroids
            # new_cent precedent); broadcast — join strategy only,
            # arithmetic and results unchanged
            cent.join(F.broadcast(means), ["_j", "_code", "_pos"], "left")
            .select("_j", "_code", "_pos",
                    F.coalesce("_new", "_c").alias("_c")))
    return cent


def _pq_assign(comp: DataFrame, cent: DataFrame, out_id: str) -> DataFrame:
    """Nearest-codeword per (vector, subspace) under EXACT integer
    squared L2 (DECIMAL(38,0) fold of (x-c)^2 — diffs reach 2e12, so
    squares need 128-bit; ties -> lowest code). Returns (out_id, _j,
    _code, _dist DECIMAL) — bit-identical on any engine/partitioning."""
    scored = (
        comp.join(F.broadcast(cent), ["_j", "_pos"])
        .groupBy(out_id, "_j", "_code")
        .agg(_sq_l2("_x", "_c").alias("_dist")))
    return _top_k(scored, [out_id, "_j"], ["_dist", "_code"], None,
                  out_id, "_j", "_code", "_dist")


def pq_train(
    corpus: DataFrame, m: int = 4, n_codes: int = 8, n_iter: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
    train_sample_n: "int | None" = None,
) -> DataFrame:
    """Train PRODUCT-QUANTIZATION codebooks (Jégou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    split every vector into ``m`` contiguous subvectors and k-means
    each subspace independently — the memory-bounded ANN path (a
    vector compresses to m small codes; search becomes m table
    lookups). Fully deterministic and SQL-oracle-expressible: the
    module's k-means doctrine (lowest-id seeding, ties -> lowest
    code, scaled-BIGINT means) under EXACT integer squared-L2 — the
    clamped components scale to integers once, distances fold in
    DECIMAL(38,0), centroid means are truncating integer division —
    so codebooks, codes, and ADC distances are bit-identical on any
    engine and partitioning, no float fold anywhere.

    Scale shape: assignment is one broadcast join at (corpus
    components x n_codes) cardinality — the inherent O(n * dim *
    n_codes) k-means FLOP count — and the update one (subspace, code,
    position) aggregate; the codebook is dim * n_codes rows (model-
    sized, always broadcastable). Returns (subspace, code, pos,
    c LONG scaled) component rows — the form both the encoder and
    the ADC tables join against.

    ``train_sample_n``: train the codebooks on a bounded DETERMINISTIC
    sample — the ``train_sample_n`` corpus rows ranked lowest by the
    salted id-hash ``h32('pqs:' || id)`` (ties -> lowest id; the
    corpus-module id-hash-uniform doctrine, so the pick is
    reproducible on any engine/partitioning and SQL-oracle-
    expressible). At 100 TB k-means over the full corpus is the wrong
    cost shape — codebook quality saturates at a few 100k training
    vectors (Jégou et al. train on learning sets, not the corpus) —
    while ENCODE/SEARCH still touch everything. Seeding follows the
    sample (lowest ids IN the sample), so sampled training equals
    full training on the manually-subsetted corpus, bit for bit.
    """
    src = corpus
    if train_sample_n is not None:
        pick = _id_hash_sample(corpus, id_col, "pqs:", train_sample_n)
        src = corpus.join(F.broadcast(pick), id_col, "left_semi")
    comp = _plan_cache(
        _pq_components(src, m, id_col, vec_col, scale, clamp, "_vid"))
    seeds = (
        src.select(F.col(id_col).alias("_vid")).orderBy("_vid")
        .limit(n_codes)
        .select("_vid", (F.row_number().over(
            Window.orderBy("_vid")) - 1).cast("int").alias("_code")))
    return _stored_codebook(_pq_kmeans(comp, seeds, n_iter))


def pq_encode(
    corpus: DataFrame, codebooks: DataFrame, m: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest codeword —
    (id, subspace, code): the compressed representation ADC search
    scans instead of the raw vectors (m codes per vector vs dim
    floats). Same exact-integer assignment as training."""
    comp = _pq_components(corpus, m, id_col, vec_col, scale, clamp, "_vid")
    return (
        _pq_assign(comp, _codebook(codebooks), "_vid")
        .select(F.col("_vid").alias(id_col),
                F.col("_j").cast("long").alias("subspace"),
                F.col("_code").cast("long").alias("code")))


def _dist_topk(
    scored: DataFrame, dist: str, vid: str, k: int, id_col: str,
    query_id_col: str, scale: int, name: str = "adc_dist",
) -> DataFrame:
    """The PQ family's output: per query (``_qid``) the ``k`` smallest
    exact-integer distances ``dist`` (ties -> lowest ``vid``), reported
    as one final double division ``round(dist / scale², 6) + 0.0`` —
    the +0.0 keeps IEEE -0.0 out of the value hash. Returns (query_id,
    id, ``name``, rank)."""
    out_id = F.col(vid) if vid == id_col else F.col(vid).alias(id_col)
    return _top_k(
        scored, "_qid", [F.col(dist), F.col(vid)], k,
        F.col("_qid").alias(query_id_col), out_id,
        (F.round(F.col(dist).cast("double") / float(scale) / float(scale), 6)
         + F.lit(0.0)).alias(name),
        _rank())


def _adc_topk(
    rq: DataFrame, cent: DataFrame, codes: DataFrame, by: list, vid: str,
    k: int, id_col: str, query_id_col: str, scale: int,
) -> DataFrame:
    """Asymmetric-distance (ADC) ranking, flat and IVF (Jégou et al.
    2011): per (query, ``by``, subspace) the query components ``rq``
    against the codebook ``cent`` give a code -> exact squared-L2 table
    (model-sized, always broadcast); the corpus ``codes`` (``vid``,
    ``by``, _j, _code) join it and one (query, vector) aggregate sums
    the m lookups. Exact integers throughout, so ranking is
    bit-identical on any engine/partitioning; ties -> lowest id."""
    tables = (
        rq.join(F.broadcast(cent), ["_j", "_pos"])
        .groupBy("_qid", *by, "_j", "_code")
        .agg(_sq_l2("_x", "_c").alias("_pd")))
    scored = (
        codes.join(F.broadcast(tables), [*by, "_j", "_code"])
        .groupBy("_qid", vid)
        .agg(F.sum("_pd").cast("decimal(38,0)").alias("_adc")))
    return _dist_topk(scored, "_adc", vid, k, id_col, query_id_col, scale)


def _pq_search(
    queries: DataFrame, cb: DataFrame, codes: DataFrame, k: int, m: int,
    id_col: str, vec_col: str, query_id_col: str, scale: int, clamp: float,
) -> DataFrame:
    """The flat-PQ search shared by the one-shot and persisted paths:
    ADC of the queries against the stored-form codebook ``cb`` over the
    corpus ``codes`` (id, subspace, code)."""
    qcomp = _pq_components(
        queries, m, query_id_col, vec_col, scale, clamp, "_qid")
    codes = codes.select(F.col(id_col), F.col("subspace").alias("_j"),
                         F.col("code").alias("_code"))
    return _adc_topk(qcomp, _codebook(cb), codes, [], id_col, k, id_col,
                     query_id_col, scale)


def _read_meta(spark, path: str) -> "tuple[int, int, float]":
    """(m, scale, clamp) a PQ or IVF-PQ index was built with, from its
    one-row ``meta`` table — stored, never inferred: a caller-supplied
    mismatch would silently misalign the query layout against the
    stored codebook (r11 ADVICE). A missing or empty table raises
    ValueError naming the path; an unreadable one raises Spark's own
    error."""
    try:
        meta = spark.read.parquet(path + "/meta").first()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        meta = None
    if meta is None:
        raise ValueError(f"index at {path!r} has no meta row: build it "
                         "with pq_index_build / ivfpq_index_build")
    return int(meta["m"]), int(meta["scale"]), meta["clamp"]


def pq_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, m: int = 4,
    n_codes: int = 8, n_iter: int = 2, id_col: str = "vec_id",
    vec_col: str = "embedding", query_id_col: str = "query_id",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
    train_sample_n: "int | None" = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou et al.
    2011): train codebooks on the corpus, encode it, build each
    query's (subspace, code) distance table against the codebooks
    (model-sized — dim * n_codes rows per query), and score every
    corpus vector as the SUM of m table lookups — the PQ promise:
    search touches m codes per vector, never the raw floats. All
    distances are the training stage's exact integers, so ranking is
    bit-identical everywhere; the reported distance is one final
    double division (round 6). Ties -> lowest id.

    Scale shape: the ADC join is (corpus codes x per-query tables)
    with the tables BROADCAST (queries are a bounded working set, the
    brute_force_topk contract); one (query, id) aggregate sums the m
    lookups; TakeOrdered finishes. Returns (query_id, vec_id,
    adc_dist DOUBLE, rank)."""
    cb = _plan_cache(pq_train(
        corpus, m, n_codes, n_iter, id_col, vec_col, scale, clamp,
        train_sample_n))
    codes = pq_encode(corpus, cb, m, id_col, vec_col, scale, clamp)
    return _pq_search(queries, cb, codes, k, m, id_col, vec_col,
                      query_id_col, scale, clamp)


def pq_index_build(
    corpus: DataFrame, path: str, m: int = 4, n_codes: int = 8,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
    train_sample_n: "int | None" = None,
) -> None:
    """Materialize a PQ index: trained codebooks plus the encoded
    corpus (m small codes per vector — the compressed representation)
    written once. At 100 TB this is THE point of PQ: the raw
    embeddings are read exactly once here; every later search scans
    only the code table (m ints/vector vs dim floats — a ~dim/m * 8x
    I/O reduction at float32/8-bit codes) plus the model-sized
    codebook parquet. ``m``, ``scale`` and ``clamp`` are persisted in a
    one-row ``meta`` table that every search reads back (r11
    ADVICE)."""
    cb = _plan_cache(pq_train(
        corpus, m, n_codes, n_iter, id_col, vec_col, scale, clamp,
        train_sample_n))
    cb.write.mode("overwrite").parquet(path + "/codebooks")
    pq_encode(corpus, cb, m, id_col, vec_col, scale, clamp).write.mode(
        "overwrite").parquet(path + "/codes")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(m), int(scale), float(clamp))],
        "m INT, scale LONG, clamp DOUBLE",
    ).write.mode("overwrite").parquet(path + "/meta")


def pq_index_topk(
    spark, path: str, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k against a persisted PQ index: ``pq_topk``'s search fed
    from parquet — the (model-sized) codebook table and the code table,
    never the raw vectors. Results are bit-identical to a one-shot run
    with the same codebooks. ``m``/``scale``/``clamp`` come from the
    index's ``meta`` table (the parameters the codes were actually
    built with). An index without ``meta`` raises ValueError."""
    m, scale, clamp = _read_meta(spark, path)
    return _pq_search(
        queries, spark.read.parquet(path + "/codebooks"),
        spark.read.parquet(path + "/codes"), k, m, id_col, vec_col,
        query_id_col, scale, clamp)


def l2_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
) -> DataFrame:
    """EXACT squared-L2 top-k in the PQ family's scaled-integer space
    — the ground-truth twin of the ADC searchers (`pq_topk` /
    `ivfpq_topk` approximate THIS metric, so recall against it is the
    meaningful quality number; `brute_force_topk` ranks by cosine, a
    different metric on unnormalized vectors). Components clamp+scale
    exactly as `_pq_components` (m=1: one subspace spanning the
    vector), distances fold in DECIMAL(38,0)/HUGEINT, ties -> lowest
    id — bit-identical on any engine/partitioning. The reported
    distance is one final double division (round 6).

    Scale shape: the query component table is broadcast (queries are
    a bounded working set — the brute_force_topk contract) and the
    corpus is scanned once: a position-keyed join + one (query, id)
    aggregate + TakeOrdered. Exact by construction — the baseline the
    ANN paths are measured against, not a scale path itself. Returns
    (query_id, vec_id, l2_dist DOUBLE, rank)."""
    comp = _pq_components(corpus, 1, id_col, vec_col, scale, clamp, "_vid")
    qcomp = (
        _pq_components(queries, 1, query_id_col, vec_col, scale, clamp,
                       "_qid")
        .select("_qid", "_pos", F.col("_x").alias("_qx")))
    scored = (
        comp.join(F.broadcast(qcomp), "_pos")
        .groupBy("_qid", "_vid")
        .agg(_sq_l2("_x", "_qx").alias("_d")))
    return _dist_topk(scored, "_d", "_vid", k, id_col, query_id_col, scale,
                      "l2_dist")


def embedding_decontaminate(
    train: DataFrame, eval_df: DataFrame, threshold: float = 0.9,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC decontamination — flag training vectors whose cosine
    similarity to ANY eval-set vector meets ``threshold``: the
    retrieval-based contamination check modern pipelines run BESIDE
    n-gram `corpus.decontaminate`, because a paraphrased or
    reformatted benchmark question shares almost no 4-grams with its
    source while its embedding stays nearly collinear.

    Scale shape: eval sets are bounded by nature (thousands of rows,
    not corpora), so the eval side BROADCASTS and the whole check is
    map-only over the training corpus — one pass, no shuffle, no LSH
    machinery (blocking only matters when BOTH sides are
    corpus-sized; for a corpus-vs-corpus sweep use
    `embedding_near_dup_pairs`). Per-side casts and norms are staged
    once (the brute_force_topk discipline); similarities are the
    module's guarded round-6 cosine, so the flag set is
    engine-identical. Returns one row per FLAGGED training vector:
    (id, n_matches, max_sim DOUBLE)."""
    def matches(sims: DataFrame, key: str) -> DataFrame:
        # sims: (key, _s) — one row per (train, eval) similarity
        return (
            sims.filter(F.col("_s") >= F.lit(threshold))
            .groupBy(key)
            .agg(F.count(F.lit(1)).cast("long").alias("n_matches"),
                 (F.max("_s") + F.lit(0.0)).alias("max_sim")))

    if _kernel_ok(train, id_col, threshold):
        # GEMM fast path (r12; guide §4.2): the crossJoin evaluated the
        # interpreted zip_with cosine fold once per (train, eval) pair —
        # |corpus| x |eval| lambda evaluations (227M at sf0.1). The eval
        # side is a bounded working set by the operator's own contract
        # (it already broadcast), so it is fetched once (model-sized
        # driver fetch, the accepted class), grouped by length with its
        # norms, and shipped to each task; each train batch then runs
        # ``_block_verify`` against it. round/guard/threshold and the
        # count/max aggregation stay in Catalyst, so the emitted values
        # are judged exactly as the expression path — including NaNs
        # and n_matches counting eval ROWS, duplicates included. The
        # ``_kernel_ok`` gate keeps the expression path for non-positive
        # thresholds and non-integral ids.
        #
        # NOTE: the eval-side collect() runs a Spark job AT BUILDER TIME
        # (the one eager builder in the module — the eval set is bounded
        # by the operator's contract and must sit on the driver to
        # become the broadcast matrix). The broadcast is registered for
        # cleanup so long-lived sessions reclaim its blocks with
        # unpersist_plan_caches() (r13 ADVICE).
        from db_spark.llm.dedup import register_broadcast

        ev_rows = [r[0] for r in eval_df.select(
            _kernel_vec(F.col(vec_col)).alias("_ev")).collect()]
        bc = register_broadcast(train.sparkSession.sparkContext.broadcast(
            {d: (E, _norms(E)) for d, (_, E) in _by_len(ev_rows).items()}))
        thr = float(threshold)

        def kernel(batches):
            import numpy as np
            evg = bc.value
            for pdf in batches:
                ids_all = pdf["_tid"].to_numpy()
                out = [(ids_all[:0], np.zeros(0), np.zeros(0))]
                for d, (idxs, X) in _by_len(pdf["_tv"]).items():
                    if d in evg:
                        E, en = evg[d]
                        ra, _, dot, den = _block_verify(
                            X, _norms(X), E, en, thr)
                        out.append((ids_all[idxs][ra], dot, den))
                yield _pairs_frame(("_tid", "_dot", "_den"), out)

        out_schema = StructType([
            StructField("_tid", LongType()),
            StructField("_dot", DoubleType()),
            StructField("_den", DoubleType())])
        raw = train.select(
            F.col(id_col).alias("_tid"),
            _kernel_vec(F.col(vec_col)).alias("_tv")).mapInPandas(
                kernel, out_schema)
        sims = raw.select(
            "_tid", _round_cos(F.col("_dot"), F.col("_den")).alias("_s"))
        return matches(sims, "_tid").select(
            F.col("_tid").cast(train.schema[id_col].dataType).alias(id_col),
            "n_matches", "max_sim")
    t = _staged(train, [id_col], vec_col, "_tv", "_tn")
    e = _staged(eval_df, [], vec_col, "_ev", "_en")
    sims = t.crossJoin(F.broadcast(e)).select(
        F.col(id_col), _staged_cos("_tv", "_ev", "_tn", "_en").alias("_s"))
    return matches(sims, id_col)


def pq_subspace_variance(
    corpus: DataFrame, m: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
) -> DataFrame:
    """Per-subspace ENERGY SHARE — the OPQ-lite diagnostic (Ge et al.
    2013 "Optimized Product Quantization" motivate rotating the space
    so subspaces carry balanced, independent energy; this measures how
    far the CURRENT layout is from that). For each contiguous PQ
    subspace j, ``var_share`` = Σ_{pos∈j} (n·Σx² − (Σx)²) over the
    same total across all subspaces — the per-dimension scaled-integer
    second moments `_pq_components` already implies, folded EXACTLY
    (DECIMAL(38,0); bound: n·(clamp·scale)² per term, fine to n≈1e13
    at the default scale) with ONE final double division (round 6,
    −0.0 normalized).

    Reading it: strongly unequal shares with d_sub > 1 mean correlated
    energy is straddling subspace boundaries — the geometry flat PQ
    quantizes worst. Remedy without a full OPQ solver: pre-rotate with
    ``pca_topk`` (energy-compacting orthogonal rotation; use m = k so
    each retained component gets its OWN 1-D codebook) and PQ the
    projections — on anisotropic corpora this measurably beats raw PQ
    recall (pinned by test on a planted low-rank fixture). Map-only +
    one (j, pos) aggregate at dim cardinality; corpus-independent
    output."""
    comp = _pq_components(corpus, m, id_col, vec_col, scale, clamp, "_vid")
    x = F.col("_x").cast("decimal(38,0)")
    mom = (
        comp.groupBy("_j", "_pos")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.sum(x).cast("decimal(38,0)").alias("_s"),
             F.sum(x * x).cast("decimal(38,0)").alias("_s2")))
    byj = (
        mom.select(
            "_j",
            (F.col("_n").cast("decimal(38,0)") * F.col("_s2")
             - F.col("_s") * F.col("_s")).alias("_ssd"))
        .groupBy("_j")
        .agg(F.sum("_ssd").cast("decimal(38,0)").alias("_v")))
    w = Window.partitionBy()
    tot = F.sum("_v").over(w)
    return byj.select(
        F.col("_j").cast("long").alias("subspace"),
        F.when(tot != 0,
               F.round(F.col("_v").cast("double") / tot.cast("double"), 6)
               + F.lit(0.0)).alias("var_share"))


def _centroid_comp(
    centroids: DataFrame, m: int, vec_col: str, scale: int, clamp: float,
) -> DataFrame:
    """Scaled-integer centroid components (cell_id, _j, _pos, _cx): the
    side a residual subtracts, through the same `_pq_components`
    arithmetic as the vectors."""
    return (
        _pq_components(
            centroids.select("cell_id", F.col("_cvec").alias(vec_col)),
            m, "cell_id", vec_col, scale, clamp, "cell_id")
        .select("cell_id", "_j", "_pos", F.col("_x").alias("_cx")))


def _residuals(
    comp: DataFrame, cells: DataFrame, ccomp: DataFrame, vid: str,
) -> DataFrame:
    """Residual components (vid, cell_id, _j, _pos, _x = x - cx): each
    ``comp`` row minus its cell's centroid component — an EXACT BIGINT
    subtraction, no float drift. ``cells`` maps ``vid`` to cell_id:
    the corpus assignment, or a query's probed cells."""
    return (
        comp.join(cells, vid)
        .join(F.broadcast(ccomp), ["cell_id", "_j", "_pos"])
        .select(vid, "cell_id", "_j", "_pos",
                (F.col("_x") - F.col("_cx")).alias("_x")))


def _ivfpq_encode(
    rcomp: DataFrame, cent: DataFrame, cells: DataFrame,
) -> DataFrame:
    """Residual codes (_vid, _j, _code, cell_id): nearest codeword per
    (vector, subspace), ties -> lowest code."""
    return (_pq_assign(rcomp, cent, "_vid").select("_vid", "_j", "_code")
            .join(cells, "_vid"))


def _write_codes(codes: DataFrame, path: str, id_col: str,
                 mode: str) -> None:
    # column types must match between build and append (parquet append)
    codes.select("cell_id", F.col("_vid").alias(id_col),
                 F.col("_j").alias("subspace"), F.col("_code").alias("code")
                 ).write.mode(mode).partitionBy("cell_id").parquet(
                     path + "/codes")


def _ivfpq_parts(
    corpus: DataFrame, n_cells: int, m: int, n_codes: int, n_iter: int,
    id_col: str, vec_col: str, scale: int, clamp: float,
    train_sample_n: "int | None" = None,
) -> "tuple[DataFrame, DataFrame, DataFrame, DataFrame]":
    """Shared IVF-PQ build (Jégou, Douze, Schmid, TPAMI 2011 §IV —
    the IVFADC composition production billion-scale ANN systems
    deploy): a coarse quantizer buckets vectors into cells, and PQ
    encodes each vector's RESIDUAL (vector − cell centroid) with ONE
    codebook shared across cells — residuals are centered near zero,
    so the same code budget quantizes them far better than raw
    vectors. Every stage reuses this module's deterministic doctrine:

    - coarse cells: ``ivf_assign`` (centroids = the n_cells lowest-id
      vectors; cosine argmax, ties -> lowest cell);
    - residuals: EXACT integer differences of the scaled components
      (`_residuals`);
    - codebook: `_pq_kmeans` over residual components, seeded by the
      n_codes lowest-id NON-CENTROID vectors (the centroids' own
      residuals are all-zero — seeding from them would collapse every
      codeword onto one point);
    - codes: nearest-codeword argmin, ties -> lowest code.

    Returns (centroids, centroid components (cell_id, _j, _pos, _cx),
    trained codebook (_j, _code, _pos, _c), codes
    (_vid, cell_id, _j, _code))."""
    centroids, assigned = ivf_assign(corpus, n_cells, id_col, vec_col)
    # centroids (n_cells rows, but derived via a corpus TakeOrdered) and
    # the full cell assignment (corpus-cardinality, 2 narrow columns)
    # each feed 2-3 consumers (ccomp + probes + seed anti-join; rcomp +
    # codes) — persist both so the corpus scan + argmax pass runs
    # once, not per consumer (r12, guide §2.4); both are local
    # checkpoints, so every consumer also plans against a leaf (r13).
    centroids = _plan_cache(centroids)
    cells = _plan_cache(assigned.select(F.col(id_col).alias("_vid"),
                                        "cell_id"))
    comp = _pq_components(corpus, m, id_col, vec_col, scale, clamp, "_vid")
    ccomp = _centroid_comp(centroids, m, vec_col, scale, clamp)
    rcomp = _plan_cache(_residuals(comp, cells, ccomp, "_vid"))
    rfit = rcomp
    if train_sample_n is None:
        seeds = (
            corpus.select(F.col(id_col).alias("_vid")).orderBy("_vid")
            .limit(n_cells + n_codes)
            .select("_vid", (F.row_number().over(Window.orderBy("_vid"))
                             - 1 - n_cells).alias("_sq"))
            .filter(F.col("_sq") >= 0)
            .select("_vid", F.col("_sq").cast("int").alias("_code")))
    else:
        # bounded-sample residual-codebook training (pq_train's 'pqs:'
        # doctrine): k-means over the sampled residuals only; seeds =
        # the lowest-id NON-centroid sample members (a centroid's own
        # residual is all-zero — pq seeding rule)
        pick = _id_hash_sample(corpus, id_col, "pqs:", train_sample_n, "_vid")
        rfit = rcomp.join(F.broadcast(pick), "_vid", "left_semi")
        seeds = (
            pick.join(centroids.select(F.col("cell_id").alias("_vid")),
                      "_vid", "left_anti")
            .orderBy("_vid").limit(n_codes)
            .select("_vid", (F.row_number().over(Window.orderBy("_vid"))
                             - 1).cast("int").alias("_code")))
    cent = _pq_kmeans(rfit, seeds, n_iter)
    return centroids, ccomp, cent, _ivfpq_encode(rcomp, cent, cells)


def _ivfpq_search(
    probes: DataFrame, qcomp: DataFrame, ccomp: DataFrame,
    cent: DataFrame, codes: DataFrame, k: int,
    id_col: str, query_id_col: str, scale: int,
) -> DataFrame:
    """The IVF-PQ search shared by the one-shot and persisted paths:
    per (query, probed cell) the query's RESIDUAL against that cell's
    centroid feeds the ADC tables (|Q| * n_probe * m * n_codes rows),
    and corpus CODES in the probed cells are ranked against them."""
    rq = _residuals(qcomp, F.broadcast(probes), ccomp, "_qid")
    return _adc_topk(rq, cent, codes, ["cell_id"], "_vid", k, id_col,
                     query_id_col, scale)


def ivfpq_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    n_cells: int = 8, n_probe: int = 3, m: int = 4, n_codes: int = 8,
    n_iter: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
    train_sample_n: "int | None" = None,
) -> DataFrame:
    """IVF-PQ (IVFADC) approximate top-k — the production
    billion-scale ANN architecture (Jégou et al. TPAMI 2011 §IV):
    probe the ``n_probe`` cells nearest each query, then rank ONLY
    those cells' vectors by asymmetric distance over residual PQ
    codes. Search cost per query = n_probe/n_cells of the corpus, at
    m codes per vector instead of dim floats — the two reductions
    compose multiplicatively (cell pruning x code compression), which
    is why this shape, not flat PQ or flat IVF, is what billion-scale
    deployments run. Deterministic and SQL-oracle-expressible end to
    end: exact-integer residuals, HUGEINT-replayable squared-L2, all
    ties broken by lowest id/code/cell. Returns (query_id, vec_id,
    adc_dist DOUBLE, rank). ``train_sample_n`` bounds the residual
    codebook's k-means to the pq_train 'pqs:' id-hash sample (seeds =
    its lowest-id non-centroid members); encode and search still
    cover every vector."""
    centroids, ccomp, cent, codes = _ivfpq_parts(
        corpus, n_cells, m, n_codes, n_iter, id_col, vec_col, scale,
        clamp, train_sample_n)
    probes = _ivf_probes(queries, centroids, n_probe, vec_col,
                         query_id_col, carry_vec=False)
    qcomp = _pq_components(
        queries, m, query_id_col, vec_col, scale, clamp, "_qid")
    return _ivfpq_search(probes, qcomp, ccomp, cent, codes, k,
                         id_col, query_id_col, scale)


def ivfpq_index_build(
    corpus: DataFrame, path: str, n_cells: int = 8, m: int = 4,
    n_codes: int = 8, n_iter: int = 2, id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000, clamp: float = 1_000_000.0,
    train_sample_n: "int | None" = None,
) -> None:
    """Materialize an IVF-PQ index: centroids (model-sized), the
    shared residual codebook (model-sized), and the corpus CODES
    hive-partitioned by cell_id — so a probe's parquet scan prunes to
    the probed cells' directories AND reads m small ints per vector.
    At 100 TB this is the full ANN I/O story: raw embeddings are read
    exactly once (here); every search touches ~n_probe/n_cells of a
    code table that is already ~dim/m * 8x smaller than the corpus.
    Parameters are persisted in ``meta`` (the pq_index_build
    doctrine — stored, never inferred)."""
    centroids, ccomp, cent, codes = _ivfpq_parts(
        corpus, n_cells, m, n_codes, n_iter, id_col, vec_col, scale,
        clamp, train_sample_n)
    _write_centroids(centroids, path)
    _stored_codebook(cent).write.mode("overwrite").parquet(
        path + "/codebooks")
    _write_codes(codes, path, id_col, "overwrite")
    corpus.sparkSession.createDataFrame(
        [(int(n_cells), int(m), int(scale), float(clamp))],
        "n_cells INT, m INT, scale LONG, clamp DOUBLE",
    ).write.mode("overwrite").parquet(path + "/meta")


def ivfpq_index_topk(
    spark, path: str, queries: DataFrame, k: int = 10, n_probe: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k against a persisted IVF-PQ index: ``ivfpq_topk``'s
    search fed from parquet. Probes come from the stored centroids,
    the probed cell set prunes the code table to those cells'
    directories (``_read_probed``), and the one IVF-PQ search ranks
    them — results are bit-identical to ``ivfpq_topk`` with the same
    build parameters. The raw corpus embeddings never enter the plan;
    m/scale/clamp come from the index's ``meta``."""
    m, scale, clamp = _read_meta(spark, path)
    centroids = _read_centroids(spark, path)
    probes = _ivf_probes(queries, centroids, n_probe, vec_col,
                         query_id_col, carry_vec=False)
    codes = _read_probed(spark, path + "/codes", probes).select(
        "cell_id", F.col(id_col).alias("_vid"),
        F.col("subspace").alias("_j"), F.col("code").alias("_code"))
    qcomp = _pq_components(
        queries, m, query_id_col, vec_col, scale, clamp, "_qid")
    return _ivfpq_search(
        probes, qcomp, _centroid_comp(centroids, m, vec_col, scale, clamp),
        _codebook(spark.read.parquet(path + "/codebooks")), codes, k,
        id_col, query_id_col, scale)


def ivfpq_index_append(
    spark, path: str, new_vectors: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> int:
    """Incremental IVF-PQ index maintenance (the ivf_index_append
    doctrine, extended to codes): assign ``new_vectors`` to the
    index's EXISTING centroids, PQ-encode their residuals with the
    STORED codebooks, and append the resulting code rows into the
    matching ``cell_id=`` directories — the daily-embedding-ingest
    path that keeps a 100 TB ANN index current without retraining.
    Probes see the new vectors immediately, with arithmetic identical
    to an index whose build had included them under the same
    centroids + codebooks (assignment and encoding depend only on
    (vector, centroids, codebooks) — asserted by the exact-duplicate
    twin test).

    Centroids and codebooks deliberately do NOT move: quantization
    error grows only as the data distribution drifts from the frozen
    model, at which point a scheduled ``ivfpq_index_build`` retrains
    — the standard offline-retrain / online-append split. Cost is
    O(delta): one broadcast centroid assignment + one broadcast
    codebook encode over the new batch only. Returns the number of
    vectors appended."""
    m, scale, clamp = _read_meta(spark, path)
    centroids = _read_centroids(spark, path)
    cells = (_assign_to(new_vectors, centroids, id_col, vec_col)
             .select(F.col(id_col).alias("_vid"), "cell_id"))
    comp = _pq_components(
        new_vectors, m, id_col, vec_col, scale, clamp, "_vid")
    rcomp = _residuals(
        comp, cells, _centroid_comp(centroids, m, vec_col, scale, clamp),
        "_vid")
    cent = _codebook(spark.read.parquet(path + "/codebooks"))
    _write_codes(_ivfpq_encode(rcomp, cent, cells), path, id_col, "append")
    return new_vectors.count()


def pca_project(
    corpus: DataFrame, n_iter: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", scale: int = 1_000_000,
    comp_scale: int = 1_000_000_000, clamp: float = 1_000_000.0,
) -> DataFrame:
    """:func:`pca_topk` with k=1: (id, pc1), the dominant component."""
    return pca_topk(corpus, 1, n_iter, id_col, vec_col, scale, comp_scale,
                    clamp)


def _pca_trunc_div(a: int, b: int) -> int:
    q = abs(a) // b  # b > 0; truncation toward zero via |a|
    return q if a >= 0 else -q


def _pca_renorm17(c: "list[list[int]]") -> "list[list[int]]":
    """Renormalize a symmetric integer matrix to |entries| <= 1e17 (the
    eigenvectors are scale-invariant): keeps the iteration inside the
    oracle's HUGEINT range — |y| <= dim * 1e17 * comp_scale ~ 6.4e27,
    so y * comp_scale <= 6.4e36 < 1.7e38 — while python bigints would
    silently diverge from the 128-bit oracle beyond that (caught by the
    dirty fixture's clamped 1e30-magnitude probes). Same truncating
    division on both engines, so the renormalized matrix is
    bit-identical."""
    cmax = max((abs(v) for row in c for v in row), default=0)
    cdiv = max(1, cmax // 10**17)
    if cdiv > 1:
        c = [[_pca_trunc_div(v, cdiv) for v in row] for row in c]
    return c


def _pca_centered_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, scale: int, clamp: float,
) -> "tuple[list[list[int]], int]":
    """Stage 1 of pca_project/pca_topk: the distributed exact-integer
    moment fold (ONE dim^2-cardinality exchange), the model-sized
    driver fetch, and the centered matrix C'_ij = n s_ij - m_i m_j,
    renormalized to <= 1e17. Returns (C', dim); dim 0 on empty input."""
    arr = F.col(vec_col).cast("array<double>")
    cx = _clamp(F.col("_x"), clamp)
    e1 = corpus.select(
        F.col(id_col).alias("_vid"), arr.alias("_v"),
        F.posexplode(arr).alias("_i", "_x"),
    ).select("_vid", "_v", "_i", F.round(cx * scale).cast("long").alias("_a"))
    cj = _clamp(F.col("_xj"), clamp)
    e2 = e1.select(
        "_i", "_a", F.posexplode("_v").alias("_j", "_xj"),
    ).select("_i", "_j", "_a",
             F.round(cj * scale).cast("long").alias("_b"))
    mom = (
        e2.groupBy("_i", "_j")
        # cast BEFORE the multiply: clamped terms reach 1e12 each, so
        # the long product would ANSI-overflow at 1e24 — decimal * long
        # stays exact
        .agg(F.sum(F.col("_a").cast("decimal(38,0)") * F.col("_b"))
             .cast("decimal(38,0)").alias("_s"))
    ).collect()
    side = (
        e1.groupBy("_i")
        .agg(F.sum(F.col("_a").cast("decimal(38,0)")).alias("_m"),
             F.count(F.lit(1)).cast("long").alias("_n"))
    ).collect()
    if not side:
        return [], 0
    d = max(r["_i"] for r in side) + 1
    # n = number of vectors (the count at component 0 — every non-empty
    # vector has one), not whichever row collect() returned first
    n = int(next(r["_n"] for r in side if r["_i"] == 0))
    m = [0] * d
    for r in side:
        if r["_m"] is not None:  # all-NULL component column sums to NULL
            m[r["_i"]] = int(r["_m"])
    s = [[0] * d for _ in range(d)]
    for r in mom:
        if r["_s"] is not None:
            s[r["_i"]][r["_j"]] = int(r["_s"])
    c = [[n * s[i][j] - m[i] * m[j] for j in range(d)] for i in range(d)]
    return _pca_renorm17(c), d


def _pca_power_iterate(
    c: "list[list[int]]", d: int, n_iter: int, comp_scale: int,
) -> "list[int]":
    """Stage 2: exact python-bigint power iteration from the all-ones
    vector, renormalized each step by truncating division toward zero
    (matches BIGINT/HUGEINT ``//``) to comp_scale; sign pinned by the
    largest-|coordinate| (ties -> lowest index) made positive."""
    w = [comp_scale] * d  # all-ones init at component scale
    for _ in range(n_iter):
        y = [sum(c[i][j] * w[j] for j in range(d)) for i in range(d)]
        mx = max(abs(v) for v in y)
        if mx == 0:
            break
        w = [_pca_trunc_div(v * comp_scale, mx) for v in y]
    pin = max(range(d), key=lambda i: (abs(w[i]), -i))
    if w[pin] < 0:
        w = [-v for v in w]
    return w


def _pca_deflate(
    c: "list[list[int]]", w: "list[int]",
) -> "list[list[int]]":
    """Hotelling-style deflation in the same pinned integer arithmetic:
    with y = C w (exactly the power-iteration product, so it inherits
    that bound), renormalized to |y| <= 1e17 by one truncating shift,
    and s' = w^T y' (the Rayleigh numerator, > 0 for any nonzero
    direction of the PSD C), subtract the rank-1 estimate
    D_ij = C_ij - g * trunc(y'_i y'_j / s') where g is the y
    renormalization divisor — exactly y y^T / (w^T y) up to pinned
    truncation (the ratio is quadratic over linear in y, so the 1/g
    normalization leaves a residual factor g that must multiply BACK).
    For the converged eigenpair this removes lambda v v^T while
    leaving orthogonal eigendirections intact. Every intermediate fits
    HUGEINT: y'_i y'_j <= 1e34; the quotient is ~|y'|/|w| <= ~1e9
    before the g (<= 6.4e10) multiply — so the oracle replays it
    exactly; truncation noise is +-g per entry, <= 1e11 against the
    1e17-scale signal. s' <= 0 (zero matrix) skips deflation."""
    d = len(w)
    y = [sum(c[i][j] * w[j] for j in range(d)) for i in range(d)]
    g = max(1, max((abs(v) for v in y), default=0) // 10**17)
    y = [_pca_trunc_div(v, g) for v in y]
    s = sum(w[i] * y[i] for i in range(d))
    if s <= 0:
        return _pca_renorm17(c)
    out = [[c[i][j] - g * _pca_trunc_div(y[i] * y[j], s)
            for j in range(d)] for i in range(d)]
    return _pca_renorm17(out)


def _pca_project_components(
    corpus: DataFrame, comps: "list[list[int]]", id_col: str,
    vec_col: str, scale: int, comp_scale: int, clamp: float,
) -> DataFrame:
    """Stage 3: map-only exact-integer projection of every vector onto
    each component literal — ONE explode and ONE (id) aggregate emit
    all k columns (pc1..pck DOUBLE, rounded 6, -0.0-normalized)."""
    arr = F.col(vec_col).cast("array<double>")
    cx = _clamp(F.col("_x"), clamp)
    proj = corpus.select(
        F.col(id_col),
        F.posexplode(arr).alias("_i", "_x"),
    ).select(
        id_col, "_i",
        F.round(cx * scale).cast("long").alias("_a"),
        *[F.element_at(F.array(*[F.lit(int(v)) for v in w]),
                       F.col("_i") + 1).alias(f"_w{k}")
          for k, w in enumerate(comps, 1)])
    aggs = [
        F.sum(F.col("_a").cast("decimal(38,0)") * F.col(f"_w{k}"))
        .cast("decimal(38,0)").alias(f"_dot{k}")
        for k in range(1, len(comps) + 1)]
    return (
        proj.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            *[(F.round((F.col(f"_dot{k}").cast("double")
                        / float(scale) / float(comp_scale)), 6)
               + F.lit(0.0)).alias(f"pc{k}")
              for k in range(1, len(comps) + 1)])
    )


def pca_topk(
    corpus: DataFrame, k: int = 2, n_iter: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1_000_000, comp_scale: int = 1_000_000_000,
    clamp: float = 1_000_000.0,
) -> DataFrame:
    """Project every embedding onto the corpus's TOP-K principal
    components — the dimensionality-reduction / drift-axis primitive an
    embedding pipeline runs before whitening, coarse bucketing or
    monitoring (:func:`pca_project` is k=1). Fully deterministic (and
    therefore SQL-oracle-expressible): the covariance fold, the power
    iteration AND the between-component deflation all run in EXACT
    integer arithmetic, so every component — and every projection — is
    bit-identical on any engine and any partitioning, and a SQL oracle
    can replay the whole chain in HUGEINT.

    Three stages:

    1. **Moment fold (distributed)** — components are CASE-clamped to
       ``±clamp`` (totality on adversarial magnitudes; a CASE, not
       least/greatest, which swallow NULLs) and scaled to integers
       (``round(x * scale)``); a double posexplode forms the per-vector
       outer product map-only (no self-join — Generate→Generate), and
       ONE exchange at (i, j) cardinality (dim², corpus-independent)
       folds ``s_ij = Σ x_i x_j``, ``m_i = Σ x_i``, ``n``.
    2. **Power iteration (driver, model-sized)** — the dim² moment
       table (64-dim → 4096 ints) is a MODEL, not data: fetching it is
       the same bounded driver-fetch class as the k-center frontier.
       The centered (scale-free) matrix ``C'_ij = n s_ij − m_i m_j``
       feeds ``n_iter`` exact python-bigint iterations from the
       all-ones vector, renormalized each step by truncating division
       toward zero (matches BIGINT/HUGEINT ``//`` — python ``//``
       floors, so negatives go through the |y| path) to
       ``comp_scale``. Sign pin: the largest-|coordinate| (ties →
       lowest index) is made positive. After each converged component,
       :func:`_pca_deflate` subtracts the integer rank-1 estimate
       (C - trunc(y y^T / w^T y) with y = C w) and the next power
       iteration runs on the deflated matrix — orthogonal
       eigendirections are untouched, so components emerge in
       descending-eigenvalue order. Deflation is driver-side
       python-bigint on the model-sized matrix (k * dim^2 multiplies —
       microseconds at any corpus size). Components beyond the matrix
       rank come out as the frozen iteration vector (documented
       garbage — pass k <= rank).
    3. **Projection (distributed, map-only)** — the integer components
       ship back as literals; each vector's projection is an exact
       int64 dot fold presented as DOUBLE (one divide, + 0.0 to
       normalize IEEE −0.0), rounded 6; one explode and one (id)
       aggregate emit all k columns.

    Overflow bounds (int_sum_overflow doctrine): |x_i| ≤ clamp·scale =
    1e12 ⇒ s_ij terms ≤ 1e24 — folded as DECIMAL(38,0) on the Spark
    side and HUGEINT on DuckDB, exact to 1e38 ≫ any corpus. The
    engine's C' and iteration run in python bigint (unbounded); the
    binding bound is the ORACLE's HUGEINT (~1.7e38) replay of the
    pre-renormalization ``c0_ij = n·s_ij − m_i·m_j``: |c0| ≤
    2·n²·(clamp·scale)² = 2·n²·1e24, which stays in HUGEINT range up
    to n ≈ 1e7 rows at the ADVERSARIAL clamp (every component pinned
    at ±clamp) and up to n ≈ 1e13 rows for real unit-normalized
    embeddings (|x| ≤ 1, terms ≤ scale² = 1e12). Past that the oracle
    fails LOUDLY (DuckDB HUGEINT overflow error), never silently; the
    engine itself is exact at any n. The final projection dot is ≤
    dim·scale·clamp·comp_scale ≈ 1e23 — DECIMAL(38,0) again. Returns
    (id, pc1..pck DOUBLE): the projections in the original vector
    units.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    c, d = _pca_centered_matrix(corpus, id_col, vec_col, scale, clamp)
    if d == 0:
        schema = ", ".join([f"{id_col} long"]
                           + [f"pc{i} double" for i in range(1, k + 1)])
        return corpus.sparkSession.createDataFrame([], schema)
    comps = []
    for comp in range(k):
        w = _pca_power_iterate(c, d, n_iter, comp_scale)
        comps.append(w)
        if comp < k - 1:
            c = _pca_deflate(c, w)
    return _pca_project_components(
        corpus, comps, id_col, vec_col, scale, comp_scale, clamp)
