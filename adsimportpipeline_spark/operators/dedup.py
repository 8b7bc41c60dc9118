"""Document deduplication for web-scale training-data pipelines.

The reference dedups at the record level (fingerprint diff tasks.py:56,
order-preserving list dedup solr_adapter.py:592-619); a webtext engine needs
document-content dedup.  All variants below are built from relational
primitives (explode / groupBy / self-join on bucket keys) so they scale as
ordinary shuffles — no driver-side loops, no per-row Python:

- exact:        hash-groupBy on a normalized content fingerprint
- minhash LSH:  shingle -> k minhashes -> b bands -> bucket self-join ->
                exact-jaccard verify of candidates only
- simhash:      per-bit majority vote over token hashes; near-dups share the
                16-bit signature (or differ in few bits)
- ngram jaccard: exact pairwise similarity, but only over LSH candidates
- embedding near-dup: cosine >= threshold over LSH- or brute-candidates

Hashes use the md5-derived :func:`portable_hash` so a DuckDB oracle can
reproduce every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import portable_hash
from .lww import _is_simple_scan, _metadata_row_upper_bound


def normalize_words(col: str = "text"):
    """Lowercased word array (split on non-alphanumerics, empties dropped)."""
    return F.filter(
        F.split(F.lower(F.col(col)), r"[^a-z0-9]+"), lambda w: w != ""
    )


def fan_out_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a grossly under-parallel input before
    CPU-heavy per-document work (regex tokenize + shingle).

    A small table often arrives as one parquet file = ONE scan split, which
    serializes the tokenize stage on a single core (measured: 3.1s of a
    3.4s minhash wall in one task at sf0.1 while 31 cores idled — the
    shuffle that follows fans out, but the expensive work sits BELOW it).
    At production scale the scan has thousands of splits, the 4x guard
    fails, and this is a no-op — no extra exchange of full text ever
    appears in a big plan.

    Only a simple file scan (:func:`.lww._is_simple_scan`) is checked: its
    split count needs no Spark job.  Any other frame is returned as it is,
    because under AQE the partition count of a frame behind an exchange
    runs that exchange's map stage while the plan is still being built."""
    if not _is_simple_scan(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 4 <= target:
        return df.repartition(target)
    return df


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (exploded).

    The word array is materialized in its OWN projection before the
    shingling transform: embedding the split expression inside the lambda
    would re-evaluate the full regex split per transform element —
    O(words^2) regex work per document (measured 8.4s -> 1.3s on 5k web
    docs).  The projection survives optimization because ``_w`` is
    referenced more than once (CollapseProject only inlines single-use
    aliases).  Dedup stays relational (distinct): array_distinct here
    would be O(len^2) string comparisons per document before the explode."""
    base = fan_out_narrow_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), normalize_words(text_col).alias("_w")
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size(F.col("_w")) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(F.col("_w"), i + 1, n), " "))
    return (
        base.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """k portable minhashes per doc, one aggregation pass (no k-way explode)."""
    aggs = [
        F.min(portable_hash(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def _banded_buckets(sigs: DataFrame, id_col: str, k: int, band_size: int) -> DataFrame:
    """(id, bucket) rows: one row per (doc, band), bucket = hash of the
    band's signature slice."""
    n_bands = k // band_size
    bands = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)],
            )
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    banded = sigs.select(F.col(id_col), *bands)
    return banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias("bucket"),
    )


def lsh_bucket_stats(
    sigs: DataFrame, id_col: str = "doc_id", k: int = 8, band_size: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Audit surface for the bucket cap: (bucket, members, dropped).  Run it
    alongside a capped :func:`lsh_candidate_pairs` so caps are never silent —
    ``dropped`` buckets are exactly those the pair join skipped."""
    counts = _banded_buckets(sigs, id_col, k, band_size).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("members")
    )
    dropped = (
        (F.col("members") > bucket_cap) if bucket_cap is not None else F.lit(False)
    )
    return counts.select("bucket", "members", dropped.alias("dropped"))


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", k: int = 8, band_size: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket become candidates.

    The band self-join shuffles on the bucket value — at 100 TB this is the
    standard LSH join.  ``bucket_cap`` is the standard LSH hygiene against
    boilerplate explosions: a bucket with more than ``bucket_cap`` members
    (identical cookie banners, empty pages) would contribute O(members^2)
    candidate pairs, so it is excluded from the join entirely.  Capped
    buckets are observable via :func:`lsh_bucket_stats` — never silent.
    The cap is sound for *near-dup detection* because a true near-dup pair
    in a mega-bucket almost always shares another, smaller band bucket;
    exact-dup collapse is exact-hash groupBy's job, not LSH's.
    """
    stacked = _banded_buckets(sigs, id_col, k, band_size)
    if bucket_cap is not None:
        w_count = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        stacked = (
            stacked.withColumn("_bc", w_count)
            .filter(F.col("_bc") <= bucket_cap)
            .drop("_bc")
        )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    assume_distinct: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs only (never all-pairs).

    Scale shape: a (pair, shingle) EQUI-JOIN COUNT, never materialized
    shingle-set arrays.  The earlier formulation collect_set-ed each doc's
    full shingle set and shipped it to every candidate pair — with
    10k-shingle web documents and one hot candidate, those were the batch's
    widest rows replicated per pair.  Here the intersection is counted
    relationally: candidate pairs explode against the shingle table twice
    (rows stay a bounded (id_a, id_b, shingle) width), ``groupBy`` counts
    matches, and union sizes come from a per-doc count join —
    ``|A ∪ B| = |A| + |B| - |A ∩ B|``.  Requires ``threshold > 0``
    (zero-intersection pairs drop out of the count join; they could never
    pass a positive threshold anyway — asserted).

    PRECONDITION (as load-bearing as ``threshold > 0``): ``shingles`` rows
    must be DISTINCT per (doc, shingle) and ``pairs`` DISTINCT per
    (id_a, id_b) — the COUNT-based intersection/size math is inflated by
    duplicates, unlike the old collect_set formulation.  Both in-package
    producers guarantee this (word_shingles and lsh_candidate_pairs end in
    distinct); external callers with possibly-dirty inputs pass
    ``assume_distinct=False`` to buy the extra dedup shuffles."""
    assert threshold > 0, "equi-join count drops 0-intersection pairs"
    if not assume_distinct:
        shingles = shingles.select(id_col, "shingle").distinct()
        pairs = pairs.select("id_a", "id_b").distinct()
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sh_a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    # Join shapes picked deliberately (guide §3.1): Catalyst wildly
    # overestimates the candidate-pair subtree (band-join cardinality), so
    # left to size estimates it broadcast-builds the FULL (id, shingle)
    # table twice — the one relation here that is ∝ corpus with the
    # largest constant (measured at a 10x corpus: 2.6M-row builds, full
    # pipeline 4.7s).  Instead: (1) broadcast the deduped pair list — two
    # longs per row, ~350x fewer rows than the shingle table at the same
    # corpus, though still ∝ corpus: past ~10^8 candidate pairs drop this
    # hint and let the join shuffle; (2) the (id_b, shingle) match is a
    # shuffled-hash join with the pairs-side intermediate as build — no
    # sort, no driver-side build of the shingle relation, scale-correct at
    # any corpus size.  Measured 4.69s -> 3.58s at the 10x corpus with
    # bit-identical rows (strategy-only change).
    inter = (
        F.broadcast(pairs).join(sh_a, "id_a")
        .hint("shuffle_hash")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _stage_reuse_barrier(df: DataFrame) -> DataFrame:
    """Optimizer-opaque always-true filter over a shared aggregated frame.

    ``monotonically_increasing_id()`` is non-negative by construction, so
    the predicate passes every row (retry-safe: re-evaluation on a retried
    task passes everything again), but the expression is flagged
    nondeterministic, which the optimizer may not reorder, push through,
    or fold.  Placed ABOVE a frame that ends in an aggregation and is
    consumed several times in one plan, it blocks the two rewrites that
    would otherwise split the consumers' subtrees into different canonical
    forms and defeat AQE's runtime stage cache:

    - ``RemoveRedundantAggregates`` collapsing a downstream duplicate-
      insensitive aggregation (e.g. ``min``) into the frame's final
      ``distinct`` — that consumer would then re-derive the frame from the
      scan instead of reading the distinct's exchange;
    - inferred join predicates (``isnotnull`` on join keys) pushing below
      the frame's aggregation into the scan — join-side consumers would
      then scan-filter while aggregate-side consumers do not.

    With every consumer's below-exchange subtree canonically identical,
    AQE computes the frame's map stage ONCE and every consumer reads the
    reused shuffle output — sharing via shuffle files, with none of the
    memory-store serialization that makes ``.persist()`` slower here."""
    return df.where(F.monotonically_increasing_id() >= 0)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.7,
    bucket_cap: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band -> verify.

    The shingle subtree appears five times in the one plan (both band-join
    sides via the signatures, the two intersection sides, the size
    aggregate).  AQE's runtime stage cache already deduplicates the copies
    whose subtrees canonicalize identically — but the initial plan splits
    them into TWO classes that each compute the scan+regex+shingle map
    stage: the signature branch (RemoveRedundantAggregates collapses the
    shingle ``distinct`` into the duplicate-insensitive ``min`` aggregate,
    re-rooting it on the raw scan) and the verify branches (whose joins
    push an inferred ``isnotnull(id)`` below the distinct into the scan).
    :func:`_stage_reuse_barrier` over the shared shingle frame blocks both
    rewrites, so ALL consumers read one reused distinct exchange and the
    regex tokenize+explode runs ONCE per corpus (plan-verified: 6 scans ->
    1; results identical — the barrier is constant-true, ``min`` over
    distinct shingles equals ``min`` over the multiset, and the verify
    joins still drop null ids at the join itself).

    ``cleanup``: when a list is passed, the shingle frame is persisted and
    appended for the CALLER to unpersist after its action (the lww cleanup
    convention — operators/lww.py).  Pass one only when the INPUT is
    expensive to recompute (not a plain scan): for scan-rooted inputs an
    r06 A/B at sf1.0/local[32] measured every persist variant slower
    (6.8s unpersisted vs 9.6s cached — the memory store serializes every
    consumer), so the default stays unpersisted and shares via the
    barrier + AQE stage reuse instead."""
    sh = word_shingles(df, id_col, text_col, n)
    if cleanup is not None:
        sh = sh.persist()
        cleanup.append(sh)
    else:
        sh = _stage_reuse_barrier(sh)
    pairs = lsh_candidate_pairs(
        minhash_signatures(sh, id_col, k), id_col, k, band_size, bucket_cap=bucket_cap
    )
    return jaccard_verify(pairs, sh, id_col, threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """Per-doc simhash: majority vote of token-hash bits (distinct tokens).

    One explode + one groupBy with ``bits`` conditional sums — a single
    shuffle keyed on doc id; partial aggregation keeps big docs cheap.
    """
    toks = fan_out_narrow_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.array_distinct(normalize_words(text_col))).alias("tok")
    )
    h = portable_hash(F.col("tok"))
    toks = toks.select(id_col, h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Docs sharing an identical simhash signature (near-dup buckets)."""
    s = simhash(df, id_col, text_col, bits)
    return (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 3,
    n_bands: int = 4,
    band_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of each
    other's simhash — the banded Hamming join of classic web-dedup
    (Manku/Jain/Sarma's scheme re-expressed as DataFrame ops).

    Pigeonhole: split the ``bits``-bit signature into ``n_bands`` equal
    bands; any pair within Hamming distance ``n_bands - 1`` agrees exactly
    on >= 1 band, so candidate generation is an EQUI-join on
    ``(band_index, band_value)`` — never an all-pairs scan — and the exact
    ``bit_count(xor)`` verify runs on candidates only.  Requires
    ``max_hamming <= n_bands - 1`` for lossless recall (asserted).

    ``band_cap`` mirrors :func:`lsh_candidate_pairs`'s hot-bucket cap: a
    boilerplate corpus collapses to ONE signature whose band buckets
    explode quadratically; capped buckets are dropped (audit them with the
    signature-level :func:`simhash_duplicate_groups`, which reports exact
    collisions without pair fan-out).
    """
    assert max_hamming <= n_bands - 1, "pigeonhole guarantee needs max_hamming <= n_bands-1"
    assert bits % n_bands == 0
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    s = simhash(df, id_col, text_col, bits)
    bands = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.concat(
                    F.lit(f"{i}:"),
                    F.shiftright(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .cast("string"),
                )
                for i in range(n_bands)
            ])
        ).alias("_band"),
    )
    if band_cap is not None:
        w = Window.partitionBy("_band")
        bands = bands.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
            F.col("_n") <= band_cap
        ).drop("_n")
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "_band"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "_band"
    )
    return (
        a.join(b, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows: int = 100_000,
) -> DataFrame:
    """Cosine >= threshold pairs via brute self-join (correctness baseline;
    the scale path is :func:`embedding_near_dups_lsh`).

    The self-join is non-equi (BroadcastNestedLoop / cartesian): O(n^2)
    comparisons AND an n-way replication of the corpus.  It exists only to
    measure the LSH twin's recall, so it REFUSES to run when the parquet
    footers prove the input exceeds ``max_rows`` — a user pointing it at a
    big table gets an actionable error instead of a runaway job.  (When the
    input is not a plain file scan the bound is unknown and the caller is
    trusted — the guard is best-effort, the LSH path is the default.)"""
    from .similarity import dot_expr, norm_expr

    ub = _metadata_row_upper_bound(df)
    if ub is not None and ub > max_rows:
        raise ValueError(
            f"embedding_near_dups is an O(n^2) correctness baseline; input has "
            f"up to {ub} rows (> max_rows={max_rows}). Use "
            f"embedding_near_dups_lsh for large tables, or raise max_rows "
            f"explicitly if you really mean it."
        )
    # fan out the (often single-split) left side so the O(n^2) comparison
    # loop parallelizes, and compute each side's norm once per row instead
    # of once per pair (same expression/multiply order as
    # dot_expr / (norm_expr * norm_expr) — bit-identical results)
    a = fan_out_narrow_scan(df).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(vec_col).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(vec_col).alias("_nb"),
    )
    j = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        j.select(
            "id_a",
            "id_b",
            F.round(
                dot_expr("va", "vb") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dups_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 2,
) -> DataFrame:
    """Cosine >= threshold pairs via multi-table hyperplane-LSH bucketing —
    the 100 TB shape of :func:`embedding_near_dups`.

    Candidate pairs come only from vectors sharing a bucket in AT LEAST ONE
    of ``n_tables`` independent hash tables (table t uses hyperplanes
    ``[t*n_planes, (t+1)*n_planes)``); candidates are deduplicated across
    tables and then cosine-VERIFIED, so precision is exact and only recall
    is approximate — the same candidates-only discipline as MinHash-LSH
    (and as the reference's cost-matrix pruning, author_match.py:318-363).

    Scale shape: the self-join is per-(table, bucket) — the corpus never
    cross-joins, each bucket joins only itself, and adding tables multiplies
    candidate volume linearly while recall loss decays exponentially.

    Candidate generation is payload-light: only ``(id, bucket)`` rows enter
    the bucket self-join and the cross-table dedup, so the exchanges carry
    ~16 bytes per candidate instead of two ``dim``-wide vectors (which made
    the dedup a Sort+SortAggregate over gigabytes once buckets grew — the
    quadratic candidate volume is inherent to LSH, the payload copies were
    not).  Vectors are re-attached per SIDE after the dedup by joining the
    corpus twice — two joins proportional to corpus + candidates, not to
    candidates x vector width.
    """
    from .similarity import dot_expr, norm_expr

    # a small corpus often arrives as ONE scan split; every stage below
    # (bucket Generate, the bucket join whose output inherits the probe
    # side's partitioning, the map-side half of the dedup) would then run
    # in a single task while the quadratic candidate volume grows — fan
    # out once, here, before any per-row work (no-op at production scale)
    df = fan_out_narrow_scan(df)
    stacked = df.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                # table t gets its own independent plane set via plane-index
                # offset — same indexing the SQL twin uses
                F.concat(F.lit(f"{t}:"), lsh_bucket_offset(vec_col, n_planes, dim, t).cast("string"))
                for t in range(n_tables)
            ])
        ).alias("_tb"),
    )
    a = stacked.select(F.col(id_col).alias("id_a"), "_tb")
    b = stacked.select(F.col(id_col).alias("id_b"), "_tb")
    cand = (
        a.join(b, ["_tb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms ride along with the vectors: computed once per corpus row at
    # attach time instead of once per candidate pair side (the norm is a
    # 64-element interpreted fold — per-pair it dominated the verify CPU).
    # Same expression on the same values in the same multiply order, so
    # cosine stays bit-identical to dot_expr / (norm_expr * norm_expr).
    vecs = df.select(
        F.col(id_col), F.col(vec_col), norm_expr(vec_col).alias("_n")
    )
    cand = (
        cand.join(
            vecs.select(
                F.col(id_col).alias("id_a"),
                F.col(vec_col).alias("va"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.round(
                dot_expr("va", "vb") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def lsh_bucket_offset(vec_col: str, n_planes: int, dim: int, table: int):
    """LSH bucket over planes [table*n_planes, (table+1)*n_planes) — the
    independent plane set of hash table ``table``."""
    from .similarity import hyperplane_expr

    bucket = F.lit(0)
    for i in range(n_planes):
        bucket = bucket + hyperplane_expr(vec_col, table * n_planes + i, dim) * F.lit(2**i)
    return bucket.cast("int")


def lsh_bucket_offset_sql(vec_expr: str, n_planes: int, dim: int, table: int) -> str:
    """SQL twin of :func:`lsh_bucket_offset` (bit-identical sign bits)."""
    from .similarity import hyperplane_sql

    return (
        "CAST("
        + " + ".join(
            f"({hyperplane_sql(vec_expr, table * n_planes + i, dim)}) * {2 ** i}"
            for i in range(n_planes)
        )
        + " AS INTEGER)"
    )


def duplicate_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document gets
    a ``cluster_id`` = the smallest id reachable through pairs (singletons
    map to themselves).  This is the step that turns pairwise dedup output
    into actionable groups — the reference's alias->canonical closure
    (direct.py:64-96 resolves alternates to one canonical bibcode) done for
    discovered duplicates instead of curated aliases.

    Algorithm: iterative **hash-to-min label propagation with pointer
    jumping** (the MapReduce connected-components shape — Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).  Each round
    (1) every node takes the min label over itself and its neighbors — one
    equi-join on the edge list plus one groupBy(min), both keyed on the id;
    (2) labels chase one indirection (``lbl <- lbl(lbl)``) so chains
    collapse geometrically: rounds needed are O(log diameter), not
    O(diameter).  Labels only ever decrease, so the fixpoint ("no label
    moved this round") is exactly "all adjacent labels equal" = component
    minima.

    Scale shape: the driver loop holds ONE scalar per round (the changed
    count); the label frame is two narrow columns localCheckpoint'ed each
    round — lineage stays O(1) instead of growing a join tower, and the
    edge list is materialized once up front so the (possibly expensive)
    pair-producing plan never re-executes.

    ``checkpoint_dir``: when given, per-round truncation uses RELIABLE
    checkpointing into that directory (set once via
    ``sparkContext.setCheckpointDir``) — executor-loss- and driver-restart-
    safe, the multi-executor deployment mode.  When None (local/test
    default) ``localCheckpoint`` is used: same plan shape, blocks pinned on
    executors, no directory needed."""
    if checkpoint_dir is not None:
        nodes.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = _ckpt(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    labels = _ckpt(
        nodes.select(F.col(id_col).alias("u"), F.col(id_col).alias("lbl"))
    )

    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("_nl"))
        )
        prop = labels.join(nbr_min, "u", "left").select(
            "u", F.least(F.col("lbl"), F.coalesce(F.col("_nl"), F.col("lbl"))).alias("lbl")
        )
        # pointer jump: follow the label's own label one hop (path halving)
        parent = prop.select(F.col("u").alias("lbl"), F.col("lbl").alias("_ll"))
        jumped = _ckpt(
            prop.join(parent, "lbl", "left")
            .select("u", F.coalesce(F.col("_ll"), F.col("lbl")).alias("lbl"))
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds — "
            "component diameter is pathological; raise max_iter"
        )
    return labels.select(F.col("u").alias(id_col), F.col("lbl").alias("cluster_id"))
