"""Similarity search over embedding columns: brute-force cosine top-k
(correctness baseline) and an LSH-bucketed variant (the 100 TB path).

Vector math stays JVM-side via higher-order functions (``zip_with`` +
``aggregate``) — no Python in the scoring loop.  For very wide vectors a
Pandas-UDF/numpy batch scorer can be swapped in, but at dim=64 the built-in
expressions win by avoiding Arrow transfer entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: str, b: str) -> Column:
    prods = F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a: str) -> Column:
    sq = F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan shape: broadcast(queries) x vectors -> per-(query, vector) score ->
    window top-k per query.  The query side is always the small side at
    scale, so the join is a broadcast nested loop with no shuffle of the big
    corpus; only the scored candidates shuffle for the per-query top-k.
    """
    from .dedup import fan_out_narrow_scan

    # norms are computed ONCE per query row / corpus row before the join
    # (same expression, same values, same multiply order — bit-identical
    # cosine) instead of once per (query, vector) pair, and the corpus scan
    # is fanned out first: a single-file corpus otherwise runs the whole
    # O(q x n) scoring loop in one task (no-op at production scale).
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qv"),
            norm_expr(vec_col).alias("_qn"),
        )
    )
    scored = (
        fan_out_narrow_scan(vectors.select(F.col(id_col), F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            norm_expr(vec_col).alias("_vn"),
        )
        .crossJoin(q)
    )
    scored = scored.select(
        query_id_col,
        id_col,
        F.round(
            dot_expr("_qv", "_v") / (F.col("_qn") * F.col("_vn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def plane_weight(plane: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    md5-derived (same 15-hex-digit scheme as textstats.portable_hash), so
    Spark and the SQL oracle share the exact double constant."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 1000) / 1000.0 - 0.5


def hyperplane_expr(vec_col: str, plane: int, dim: int) -> Column:
    """Sign bit of <v, h_plane>.  The dot product is a left-associated sum of
    per-dimension products (float element cast to double exactly), mirrored
    term-for-term by :func:`hyperplane_sql` so the sign bit — and hence the
    bucket id — is bit-identical in both engines.

    Spelled as ``zip_with`` + ``aggregate`` higher-order functions rather
    than an unrolled 64-term expression: a multi-table LSH plan unrolls to
    thousands of terms, which overflows janino's 64KB generated-method
    limit and silently drops the WHOLE stage to interpreted evaluation
    (measured 6x slower end-to-end).  The HOF fold keeps generated code
    O(1) in dim while evaluating the same left-associated sum."""
    # ONE py4j call for the whole weight vector (not 64): F.lit on a 1-D
    # numpy array ships the doubles in a single invocation, whereas a
    # python list (and F.array of F.lits) makes a py4j round trip per
    # element — plan build time is py4j-bound at 12+ planes x 2 join sides
    import numpy as np

    w = F.lit(np.asarray([plane_weight(plane, d) for d in range(dim)], dtype=np.float64))
    prods = F.zip_with(
        F.slice(F.col(vec_col), 1, dim), w, lambda x, wd: x.cast("double") * wd
    )
    s = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(s >= 0, F.lit(1)).otherwise(F.lit(0))


def hyperplane_sql(vec_expr: str, plane: int, dim: int) -> str:
    """SQL twin of :func:`hyperplane_expr` (``vec_expr`` is a DOUBLE[] with
    1-based indexing); left-associated sum with repr-exact weight literals."""
    terms = " + ".join(
        f"{vec_expr}[{d + 1}] * ({plane_weight(plane, d)!r})" for d in range(dim)
    )
    return f"CASE WHEN ({terms}) >= 0 THEN 1 ELSE 0 END"


def with_centroid_scores(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    out_col: str = "_scores",
) -> DataFrame:
    """Attach an ``array<double>`` column of round(cosine(v, centroid_c), 6)
    per centroid.  Dot products are left-associated like
    :func:`hyperplane_expr`; the 6-dp round is the established float-parity
    contract with the SQL oracle's ``list_cosine_similarity``.

    The centroid matrix rides in as a ONE-ROW broadcast cross join (two
    constant array columns appended map-side — no shuffle of ``df``, no
    centroid table to co-partition), NOT as expression literals: Catalyst
    re-walks every literal node on each analyze/optimize pass, and at
    32 x 64 literals that cost ~10s of driver time PER ACTION (measured;
    ~1s with the broadcast row).  One ``zip_with`` lambda evaluates all
    cells, and the row norm is materialized in its own projection below
    the join so it is computed once per row, not once per cell."""
    import math

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    clash = {"_vn", "_cents", "_cnorms", out_col} & set(df.columns)
    if clash - {out_col}:  # out_col may intentionally overwrite
        raise ValueError(
            f"with_centroid_scores internal column collision: {sorted(clash)}"
        )
    dim = len(centroids[0])
    norms = [math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids]
    cdf = df.sparkSession.createDataFrame(
        [([
            [float(x) for x in c] for c in centroids
        ], norms)],
        StructType([
            StructField("_cents", ArrayType(ArrayType(DoubleType()))),
            StructField("_cnorms", ArrayType(DoubleType())),
        ]),
    )
    base = df.withColumn("_vn", norm_expr(vec_col)).crossJoin(F.broadcast(cdf))
    scores = F.zip_with(
        F.col("_cents"),
        F.col("_cnorms"),
        lambda c, n: F.round(
            F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), 1, dim), c,
                    lambda x, wd: x.cast("double") * wd,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col("_vn") * n),
            6,
        ),
    )
    return base.withColumn(out_col, scores).drop("_vn", "_cents", "_cnorms")


def fit_ivf_centroids(
    vecs,
    n_lists: int = 8,
    n_iter: int = 3,
    seed: int = 13,
) -> list[list[float]]:
    """Deterministic seeded spherical-k-means (Lloyd's) fit of IVF centroids.

    ``vecs`` is an (n, dim) array-like of the corpus (or a sample — k-means
    on a uniform sample is the standard offline IVF fit; reference precedent
    for fit-then-use: author_match.py:344-350).  Init is a seeded choice of
    ``n_lists`` distinct rows; each iteration assigns by max cosine and
    recenters on the member mean.  Everything is numpy float64 with a fixed
    seed and iteration count, so the result is reproducible bit-for-bit —
    the centroid literals can be inlined into BOTH the Spark plan and the
    SQL oracle twin (the plane_weight pattern).

    At 10^10 vectors the fit runs on a driver-sized sample (n_lists is
    thousands, the sample millions); the expensive part — assignment of the
    full corpus — stays in the Spark plan as codegen'd expressions."""
    import numpy as np

    v = np.asarray(vecs, dtype=np.float64)
    n = len(v)
    rng = np.random.RandomState(seed)
    cent = v[rng.choice(n, size=min(n_lists, n), replace=False)].copy()
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    vn = v / np.where(norms == 0, 1.0, norms)
    for _ in range(n_iter):
        cnorm = np.linalg.norm(cent, axis=1, keepdims=True)
        cn = cent / np.where(cnorm == 0, 1.0, cnorm)
        assign = np.argmax(vn @ cn.T, axis=1)
        for c in range(len(cent)):
            members = v[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(x) for x in row] for row in cent]


def assign_ivf_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Materialize the IVF coarse-quantization cell id (argmax-cosine over
    ``centroids``) as a column — the INGEST-time half of IVF search.

    The cell id is the natural cluster/partition key of a vector table at
    rest: write it once when vectors land (or when centroids are refit) and
    every subsequent query's cell-pruned probe join becomes a partition
    prune instead of an n_lists-cosine assignment pass over the whole
    corpus per query (round 4 measured that pass at ~1s per run at 64
    lists on the sf0.1 corpus — pure hot-path waste).  Ties resolve to the
    lowest cell id (array_position takes the first maximum), matching the
    SQL oracle's ORDER BY score DESC, cell ASC."""
    from .dedup import fan_out_narrow_scan

    # the n_lists interpreted cosine folds per row are the most CPU-dense
    # map work in the package; a single-row-group corpus file would run
    # them in ONE task (measured: ~10 s of the 12.3 s first-build wall at
    # sf1.0 inside one core while 31 idled).  Fan out first — values and
    # cell ids are row-local, so parallelism cannot change them; no-op at
    # production split counts.
    scored = with_centroid_scores(
        fan_out_narrow_scan(vectors.select(id_col, vec_col)), vec_col, centroids
    )
    return scored.select(
        F.col(id_col),
        F.col(vec_col),
        (F.array_position(F.col("_scores"), F.array_max("_scores")) - 1)
        .cast("int")
        .alias(cell_col),
    )


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_lists: int = 8,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
    cell_col: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into ``n_lists``
    Voronoi cells by cosine, then search only the ``n_probe`` cells nearest
    each query — the second standard scale path next to LSH.

    ``centroids`` default to the first ``n_lists`` corpus vectors by id — a
    deterministic, oracle-reproducible stand-in for a k-means fit (the
    partitioning, plan shape and cost model are identical; a deployment
    fits centroids offline and passes them in).  The centroid matrix rides
    in as a one-row broadcast (:func:`with_centroid_scores` — a few KB of
    constants appended map-side), so cell assignment shuffles nothing.

    Plan at 10^10 vectors: corpus -> argmax-cosine cell id (map-side);
    queries -> top-``n_probe`` cell ids -> explode -> broadcast; the
    equi-join on cell id prunes the corpus scan to ~n_probe/n_lists of its
    rows (cell id is the natural partition/cluster key for a vector table
    at rest, making the prune a partition prune); exact cosine + per-query
    top-k runs on the candidates only.  Ties on the rounded score resolve
    to the lowest cell id in both engines (array_position takes the first
    maximum; the oracle orders by score DESC, cell ASC).
    """
    if centroids is None:
        rows = (
            vectors.select(id_col, vec_col)
            .orderBy(F.col(id_col))
            .limit(n_lists)
            .collect()
        )
        centroids = [list(r[vec_col]) for r in rows]

    from .dedup import fan_out_narrow_scan

    vectors = fan_out_narrow_scan(vectors)
    if cell_col is not None:
        # the corpus already carries its materialized cell id (the at-rest
        # cluster key — see assign_ivf_cells): the n_lists-cosine
        # assignment pass drops out of the query hot path entirely
        vb = vectors.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.col(cell_col).cast("int").alias("_cell"),
        )
    else:
        vb = with_centroid_scores(
            vectors.select(id_col, vec_col), vec_col, centroids
        ).select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            (F.array_position(F.col("_scores"), F.array_max("_scores")) - 1)
            .cast("int")
            .alias("_cell"),
        )
    qs = with_centroid_scores(
        queries.select(query_id_col, vec_col), vec_col, centroids
    ).select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        F.posexplode(F.col("_scores")).alias("_c", "_s"),
    )
    wprobe = Window.partitionBy(query_id_col).orderBy(
        F.col("_s").desc(), F.col("_c").asc()
    )
    q0 = (
        qs.withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= n_probe)
        .select(
            query_id_col, "_qv", F.col("_c").alias("_cell"),
            norm_expr("_qv").alias("_qn"),
        )
    )
    # norms once per corpus row / probe row, not per candidate pair (same
    # expression and multiply order as dot_expr / (norm_expr * norm_expr)
    # — bit-identical scores)
    cand = vb.withColumn("_vn", norm_expr("_v")).join(F.broadcast(q0), "_cell")
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(
            dot_expr("_qv", "_v") / (F.col("_qn") * F.col("_vn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 4,
    dim: int = 64,
    multi_probe: bool = False,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing an LSH bucket with the
    query in at least one hash table.

    At 10^10 vectors this turns the scan into a bucket-pruned join
    (2^n_planes buckets per table).  Two independent recall levers compose:

    - ``multi_probe=True`` additionally probes every bucket at Hamming
      distance 1 from the query's (n_planes+1 of 2^n_planes buckets scanned
      instead of 1 — still strong pruning at scale);
    - ``n_tables>1`` unions candidates from independent hyperplane sets
      (table t uses planes ``[t*n_planes, (t+1)*n_planes)`` — standard
      multi-table LSH: miss probability decays exponentially in tables while
      candidate volume grows only linearly).

    Candidates are deduplicated before scoring, so the result is exactly
    "top-k over the union candidate set" — precision exact, recall the only
    approximation.
    """
    def _table_bucket(t: int) -> Column:
        bucket = F.lit(0)
        for i in range(n_planes):
            bucket = bucket + hyperplane_expr(vec_col, t * n_planes + i, dim) * F.lit(2**i)
        return bucket.cast("int")

    # one row per (vector, table): bucket ids namespaced by table.
    # Candidate generation is payload-light (ids + bucket only): the
    # bucket join and the cross-table dedup never carry the vectors, so
    # dedup is a HashAggregate over ~16-byte rows instead of a sort over
    # (vector, query-vector) pairs; both vector payloads are re-attached
    # AFTER the dedup (corpus join + broadcast query join) — each vector
    # crosses the network once per surviving candidate side, not once per
    # (table x probe) pre-dedup hit.
    from .dedup import _stage_reuse_barrier, fan_out_narrow_scan

    # the barrier keeps the bucket side and the re-attach side reading ONE
    # shared corpus scan+fan-out exchange: without it the re-attach join
    # pushes an inferred isnotnull(id) into its copy of the scan, the two
    # subtrees stop canonicalizing identically, and the corpus is scanned
    # and round-robin-exchanged twice (plan-verified: FileScan 3 -> 2)
    vectors = _stage_reuse_barrier(fan_out_narrow_scan(vectors))
    vb = vectors.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{t}:"), _table_bucket(t).cast("string"))
                for t in range(n_tables)
            ])
        ).alias("_tb"),
    )
    probe_cols = []
    for t in range(n_tables):
        b0 = _table_bucket(t)
        probes = [b0] + (
            [b0.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)] if multi_probe else []
        )
        probe_cols += [F.concat(F.lit(f"{t}:"), p.cast("int").cast("string")) for p in probes]
    q0 = queries.select(
        F.col(query_id_col),
        F.explode(F.array(*probe_cols)).alias("_tb"),
    )
    qb = F.broadcast(q0)
    cand = (
        vb.join(qb, "_tb")
        .dropDuplicates([query_id_col, id_col])
    )
    # norms computed once per vector at attach time (not per candidate
    # pair); same expression/order as dot_expr / (norm_expr * norm_expr),
    # so scores stay bit-identical
    cand = cand.join(
        vectors.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            norm_expr(vec_col).alias("_vn"),
        ),
        id_col,
    ).join(
        F.broadcast(
            queries.select(
                F.col(query_id_col),
                F.col(vec_col).alias("_qv"),
                norm_expr(vec_col).alias("_qn"),
            )
        ),
        query_id_col,
    )
    scored = cand.select(
        query_id_col,
        id_col,
        F.round(dot_expr("_qv", "_v") / (F.col("_qn") * F.col("_vn")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
