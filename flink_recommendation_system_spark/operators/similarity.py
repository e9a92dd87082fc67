"""Similarity search over embedding columns (SURVEY.md §7 M4).

Top-k search:

- ``cosine_topk``: exact brute-force top-k — the correctness baseline and
  the re-rank stage. Dot products via `zip_with`/`aggregate` (JVM higher-
  order functions, no Python). The query set is broadcast; the corpus is
  never shuffled — each partition scores its slice and a global
  TakeOrdered merges per-query heaps.
- ``lsh_topk`` / ``srp_banded_topk`` / ``ivf_probe`` / ``ivf_probe_fixed``:
  candidate generation (SRP buckets, IVF cells) + exact cosine re-rank —
  the approximate scale paths, turning O(Q×N) into O(Q×candidates).
- ``pq_topk`` / ``pq_adc_topk``: product-quantization distance ranking.

Every cosine score is ``_cosine6``: ``round(a·b / (‖a‖‖b‖), 6)`` — the
expression the SQL oracles mirror bit-for-bit.

SemDeDup (Abbas et al. 2023) is ONE filter-and-refine skeleton:
``_semdedup_keep`` pairs ids that share a cell, verifies each candidate
pair with ``_cosine6 ≥ threshold`` (``_verified_pairs``), drops the higher
id of every verified pair and anti-joins the drops away, so the min id of
each semantic group survives. The tiers differ only in the cell-assignment
step they hand it:

- ``semantic_dedup``: KMeans cells (``ivf_fit``) over L2-normalized
  vectors; verifies on the unit vectors; rows-only.
- ``semantic_dedup_fixed``: nearest of ``n_clusters`` fixed grid
  centroids (``ivf_cell_assignments`` at probe 1); zero vectors sit in
  their ``zcell``. The registered ``semantic_dedup_sqrt`` query runs this
  tier at ⌊√N⌋ cells.
- ``semantic_dedup_ann``: banded SRP, one cell per (band, bucket).
- ``semantic_dedup_ivf``: multi-probe IVF cells on fixed grid centroids.
- ``semantic_dedup_ivf_refit``: multi-probe IVF cells on Lloyd-refit
  centroids (``ivf_refit_centroids``).

``incremental_semantic_pairs`` reuses the same verify step for the
streaming tier. Embeddings are `array<float>`; all math is done in double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product via zip_with + left-fold aggregate.

    Measured note: an unrolled 64-term ``element_at`` expression tree was
    tried and is ~3× SLOWER than this higher-order-function form (the
    191-node tree defeats whole-stage codegen); the HOF evaluates the whole
    array in one call. The left-fold order matches DuckDB's
    `list_sum(list_transform(...))` oracle bit-for-bit.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine6(a: str, b: str) -> Column:
    """THE engine cosine — every score, re-rank and SemDeDup verify in
    this module: ``round(a._v·b._v / (a._n·b._n), 6)`` between two
    ``_vecs``-shaped relations aliased ``a`` and ``b`` in a join. Rounded
    before any threshold or ranking, so results do not depend on summation
    order; the SQL oracles spell the same expression. Callers keep zero
    vectors out of its operands: cosine against them is undefined, and
    ANSI mode raises DIVIDE_BY_ZERO."""
    return F.round(
        _dot(F.col(f"{a}._v"), F.col(f"{b}._v"))
        / (F.col(f"{a}._n") * F.col(f"{b}._n")),
        6,
    )


def _vecs(
    df: DataFrame, id_as: str, id_col: str, vec_col: str, *extra: Column
) -> DataFrame:
    """(``id_as``, _v ARRAY<DOUBLE>, _n, *extra) — the operand relation of
    ``_cosine6``, norms computed once per vector. Widening to double once
    here is exact (scores are bit-identical to the float vectors) and
    spares the per-pair dot product an interpreted cast per element."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(id_as), v.alias("_v"), _norm(v).alias("_n"), *extra
    )


def _scored(cand: DataFrame, q: DataFrame, c: DataFrame) -> DataFrame:
    """Exact re-rank of (query_id, neighbor_id) candidates against the
    broadcast query side ``q`` and the corpus side ``c`` (``_vecs``
    relations keyed query_id / neighbor_id; their extra columns ride
    along): (query_id, neighbor_id, *extra, cosine_sim)."""
    extra = [
        x
        for x in q.columns + c.columns
        if x not in ("query_id", "neighbor_id", "_v", "_n")
    ]
    return (
        cand.join(F.broadcast(q.alias("q")), "query_id")
        .join(c.alias("c"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            *extra,
            _cosine6("q", "c").alias("cosine_sim"),
        )
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, cosine_sim) rows, ranked
    (cosine_sim DESC, neighbor_id ASC) — deterministic across engines."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..k, excluding
    self-matches. Deterministic: rounds the score to 6 dp *before* ranking
    and breaks ties on neighbor_id, so the result is engine-independent.
    """
    # The corpus side drives parallelism of the broadcast nested-loop join;
    # a small parquet file scans as 1 partition, which would serialize the
    # whole O(Q×N) scoring on one core — spread it first. (At real scale
    # the corpus is many splits and this is a no-op cost-wise.)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    q = _vecs(queries, "query_id", id_col, vec_col).alias("q")
    c = _vecs(corpus.repartition(par), "neighbor_id", id_col, vec_col).alias("c")
    # Broadcast the (small) query side and stream the corpus past it; the
    # corpus never shuffles. crossJoin(broadcast) → BroadcastNestedLoopJoin.
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine6("q", "c").alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


# --- deterministic sign-random-projection LSH -------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes (LCG → uniform in [-1, 1]); pure
    Python constants baked into the plan, identical on every run/engine."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection signature: bit i = sign(vec · plane_i),
    packed into a BIGINT (n_planes ≤ 63)."""
    bits = [
        F.when(
            _dot(vec, F.array(*[F.lit(w) for w in plane])) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: SRP-bucket join then exact re-rank within
    the bucket. Recall < 1 by design; pair with ``cosine_topk`` on samples
    to validate. Same output shape as ``cosine_topk``."""
    sig = srp_signature(F.col(vec_col), _hyperplanes(dim, n_planes))
    q = _vecs(queries, "query_id", id_col, vec_col, sig.alias("bucket"))
    c = _vecs(corpus, "neighbor_id", id_col, vec_col, sig.alias("bucket"))
    scored = (
        q.alias("q")
        .join(c.alias("c"), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine6("q", "c").alias("cosine_sim"),
        )
    )
    return _topk(scored, k)


class IVFIndex:
    """A fitted IVF index: the cell-assigned corpus plus the (tiny) centroid
    table. Built once by ``ivf_fit``, probed many times by ``ivf_probe`` —
    the served-ANN shape (in production the assignment lives as a parquet
    table partitioned by cell and the centroids as a broadcast side file;
    re-fitting per query, as the old single-call API did, throws away the
    expensive KMeans pass). ``assigned`` is (neighbor_id, _v, _n, cell) —
    ``_vecs``-shaped, so ``_cosine6`` scores it directly."""

    def __init__(self, assigned: DataFrame, centroids: DataFrame):
        self.assigned = assigned
        self.centroids = centroids


def ivf_fit(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 8,
    fit_fraction: float | None = None,
) -> IVFIndex:
    """Fit the IVF coarse quantizer: seeded KMeans over the corpus, corpus
    rows assigned to their nearest-centroid cell. The assignment is
    materialized (localCheckpoint) so repeated probes never re-run the
    KMeans transform.

    Scale knobs (the FAISS recipe): a coarse quantizer needs only a few
    hundred training points per centroid, so at 100 TB the KMeans fit runs
    on a seeded SAMPLE (``fit_fraction``) while the cell ASSIGNMENT — one
    nearest-centroid transform, no iteration — still covers the full
    corpus; and a coarse partitioner doesn't need tight convergence, so
    ``max_iter`` defaults to 8 with random init (k-means|| init costs ~5
    extra distributed passes for centroid quality IVF doesn't need —
    recall comes from ``n_probe``, not centroid polish)."""
    from pyspark.ml.clustering import KMeans

    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    feats = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    train = (
        feats if fit_fraction is None else feats.sample(fit_fraction, seed=42)
    )
    # Materialize the training features before the fit: KMeans re-evaluates
    # its input once per iteration (+ init + cost evaluation), and without
    # this the whole scan→norm→vector lineage replays each time (measured:
    # 6.8 s → 1.0 s for the sf0.1 fit). Only the fit sample is pinned —
    # the full-corpus assignment below stays a single streaming transform.
    train = train.select("features").localCheckpoint()
    km = KMeans(
        k=n_clusters,
        seed=42,
        featuresCol="features",
        predictionCol="cell",
        maxIter=max_iter,
        initMode="random",
    )
    model = km.fit(train)
    assigned = (
        model.transform(feats)
        .select("neighbor_id", "_v", "_n", "cell")
        .localCheckpoint()
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cell", "centroid"],
    )
    return IVFIndex(assigned, centroids)


def ivf_probe(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a fitted ``IVFIndex``: each query scores all centroids, keeps
    its ``n_probe`` nearest cells BY L2 DISTANCE — the metric the KMeans
    assignment itself partitions by, and the same probe rule as the
    value-oracled fixed-centroid twin ``ivf_probe_fixed`` (r14 similarity
    review: this previously ranked cells by −dot, which ignores ‖c‖² and
    biases probing toward large-norm centroids on fitted, non-unit
    centroid tables — the ROWS_ONLY_TWINS "same machinery" pairing is
    only honest with the metrics aligned) — then exact-re-ranks only
    those cells via an equi-join on cell id. Per-query work is O(probed
    fraction of the corpus) instead of O(N). Same output columns as
    ``cosine_topk``."""
    assigned, centroids = index.assigned, index.centroids
    q = _vecs(queries, "query_id", id_col, vec_col)
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("centroid_dist").asc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("centroid_dist", _l2sq(F.col("_v"), F.col("centroid")))
        .withColumn("_rn", F.row_number().over(probe_w))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_v", "_n", "cell")
    )
    scored = (
        probes.alias("q")
        .join(assigned.alias("c"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine6("q", "c").alias("cosine_sim"))
    )
    return _topk(scored, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot IVF (inverted-file) approximate top-k — ``ivf_fit`` +
    ``ivf_probe`` in a single call, the FAISS-IVF shape as DataFrame joins.
    Recall < 1 by design (validated against the exact baseline in tests).
    For repeated query batches, fit once and probe many instead."""
    index = ivf_fit(corpus, n_clusters, id_col, vec_col)
    return ivf_probe(index, queries, k, n_probe, id_col, vec_col)


# --- SemDeDup: one filter-and-refine skeleton ------------------------------


def _verified_pairs(cand: DataFrame, vecs: DataFrame, threshold: float) -> DataFrame:
    """The refine step: (id_a, id_b) candidate pairs whose ``_cosine6``
    over ``vecs`` (a ``_vecs`` relation keyed ``_id``) is ≥ ``threshold``,
    as (id_a, id_b, cosine)."""
    return (
        cand.join(vecs.withColumnRenamed("_id", "id_a").alias("a"), "id_a")
        .join(vecs.withColumnRenamed("_id", "id_b").alias("b"), "id_b")
        .withColumn("cosine", _cosine6("a", "b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _semdedup_keep(
    cells: DataFrame,
    vecs: DataFrame,
    threshold: float,
    id_col: str,
    multi_cell: bool,
    keep: DataFrame | None = None,
) -> DataFrame:
    """THE SemDeDup keep/drop tail every tier shares. ``cells`` (_id, cell)
    is the tier's cell assignment of its NON-ZERO vectors — a vector may
    sit in several cells (multi-probe IVF, SRP bands); zero vectors have
    no direction, are never paired, and survive through ``keep``.
    ``vecs`` (``_vecs``, keyed _id) holds what the cosine verifies on.
    Two vectors are compared iff they share a cell; each verified pair
    drops its higher id, so the min id of every semantic group survives.
    Returns ``keep`` (default: every id of ``vecs``) minus the dropped
    ids, with ``_id`` renamed to ``id_col``. ``multi_cell`` says whether a
    vector can sit in more than one cell, so a pair can repeat.

    The within-cell pair join is the only superlinear step: Σ|cell|²
    candidates, bounded by how each tier sizes its cells."""
    cand = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )
    if multi_cell:
        # distinct BEFORE the vector joins: multi-probe repeats a pair up
        # to n_probe×, and the id-only distinct is a cheap shuffle next to
        # the 64-dim cosine on repeated (and cell-skewed) pairs (measured:
        # carrying the vectors into the pair join instead = 16.7 s vs 7.7 s
        # at sf0.1). With one cell per vector every pair is already unique
        # and the shuffle is pure cost (KMeans tier, sf0.1, 4 cores: 2.3 → 3.2 s).
        cand = cand.distinct()
    dropped = (
        _verified_pairs(cand, vecs, threshold)
        .select(F.col("id_b").alias("_id"))
        .distinct()
    )
    keep = vecs.select("_id") if keep is None else keep
    return keep.join(dropped, "_id", "left_anti").withColumnRenamed(
        "_id", id_col
    )


def semantic_dedup(
    vectors: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_max_iter: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540). Cell assignment: KMeans clusters of the
    L2-normalized embeddings (``ivf_fit``); the ``_semdedup_keep``
    skeleton then drops, within each cluster, every vector whose cosine
    to a lower-id member is ≥ ``threshold`` — verified on the unit
    vectors. Output: the kept rows as (vec_id, cell).

    Scale shape — clusters bound the quadratic: the within-cluster pair
    join costs Σ|cluster|², controlled by scaling ``n_clusters`` with the
    corpus (FAISS-style √N clusters keeps expected cluster size √N). The
    KMeans fit reuses ``ivf_fit``'s sampled/loose-convergence recipe;
    cell assignment is one broadcast-centroid transform. Not
    SQL-expressible (iterative KMeans) → rows-only driver check; the
    tier contract is pinned in tests/test_llm_ops.py.

    Clustering runs on L2-NORMALIZED vectors (the paper's setup): the dedup
    criterion is cosine — magnitude-invariant — so clustering raw vectors
    would let two scaled copies of the same direction land in different
    cells and silently miss. Zero vectors pass through un-normalized and
    are kept (they have no direction; cosine against them is undefined).
    """
    norm = _norm(F.col(vec_col))
    unit = vectors.select(
        F.col(id_col),
        F.when(
            norm != 0.0,
            F.transform(F.col(vec_col), lambda x: x / norm),
        )
        .otherwise(F.col(vec_col))
        .alias(vec_col),
    )
    # kmeans_max_iter=4 (vs ivf_fit's 8): dedup clustering only BUCKETS the
    # quadratic — correctness comes from the exact within-cell cosine, and
    # scaled duplicates normalize to identical vectors, so they co-cluster
    # at any iteration count. MLlib's per-iteration fixed cost is the
    # dominant term on small corpora (measured: fit 6.8 s of the 8 s query
    # at sf0.1), so the cheaper quantizer halves the bench time without
    # touching the semantic contract.
    assigned = ivf_fit(
        unit,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        max_iter=kmeans_max_iter,
    ).assigned.withColumnRenamed("neighbor_id", "_id")
    return _semdedup_keep(
        assigned.filter(F.col("_n") != 0.0).select("_id", "cell"),
        assigned.select("_id", "_v", "_n"),
        threshold,
        id_col,
        multi_cell=False,
        keep=assigned.select("_id", F.col("cell").cast("long").alias("cell")),
    )


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a_id < b_id) via SRP-bucket
    candidate join + exact cosine verify — near-identical vectors land in
    the same bucket with high probability."""
    sig = srp_signature(F.col(vec_col), _hyperplanes(dim, n_planes))
    v = _vecs(vectors, "vid", id_col, vec_col, sig.alias("bucket"))
    return (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("a_id"),
            F.col("b.vid").alias("b_id"),
            _cosine6("a", "b").alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# --- product quantization (ADC) ---------------------------------------------


class PQIndex:
    """A fitted product-quantization index: ``codebooks`` (sub, code,
    codeword ARRAY<DOUBLE>) — m·k rows, always broadcastable — and
    ``codes`` (vec_id, sub, code) — the corpus compressed to m small ints
    per vector (the memory story: 64 float dims → m code bytes)."""

    def __init__(self, codebooks: DataFrame, codes: DataFrame, m: int, sub_dim: int):
        self.codebooks = codebooks
        self.codes = codes
        self.m = m
        self.sub_dim = sub_dim


def _sub_slices(vec_col: str, m: int, sub_dim: int):
    """(sub_idx, slice) pairs splitting a dim-length array into m
    contiguous sub_dim-length subvectors (cast to double once)."""
    return [
        (s, F.slice(F.col(vec_col).cast("array<double>"), s * sub_dim + 1, sub_dim))
        for s in range(m)
    ]


def _explode_subs(
    df: DataFrame,
    m: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
    id_alias: str = "vec_id",
    sv_alias: str = "sv",
) -> DataFrame:
    """(id_alias, sub, sv_alias): one row per (vector, subspace) with the
    contiguous sub_dim-length slice — via a single ``posexplode`` over the
    array of slices (position = subspace id), so the input relation is
    scanned ONCE. The previous union-of-m-selects form re-executed the
    whole upstream plan (scan + the vector store's per-vec_id
    representative pick) once per subspace — 16 scans and 16 window
    shuffles at m=16 (guide §2.4: remove shuffles outright; measured on
    pq_topk at sf0.1: isolated best-of-2 13.3 → 8.0 s together with the
    one-copy _emb pin in q_pq_topk). Row VALUES are identical to
    the union form; only physical row order/partitioning differs, which
    every consumer erases in a (vec, sub)-keyed partial aggregation."""
    return df.select(
        F.col(id_col).alias(id_alias),
        F.posexplode(
            F.array(*[sl for _, sl in _sub_slices(vec_col, m, sub_dim)])
        ).alias("sub", sv_alias),
    )


def _l2sq(a: Column, b: Column, n: int | None = None) -> Column:
    """Squared L2 distance as a left fold (the order DuckDB's ``list_sum``
    reproduces bit-for-bit). ``n``: when the caller knows both arrays are
    exactly ``n`` elements (PQ subvectors: sub_dim 4-8), emit an UNROLLED
    ``lit(0.0) + t1² + … + tn²`` expression tree for that case — the same
    IEEE addition order, but whole-stage-codegen'd where the higher-order
    ``aggregate`` is CodegenFallback (interpreted per element; the PQ
    assignment evaluates it corpus × m × n_codes times — guide §4.1
    "prefer built-ins/codegen"). Arrays of any OTHER length (hostile
    short vectors) take the original fold via the lazily-evaluated
    ``otherwise`` branch, so out-of-domain inputs keep byte-identical
    NULL semantics. Unrolling is capped at small n: a ~190-node 64-term
    tree defeats codegen and measured ~3× slower (see ``_dot``)."""
    d = F.zip_with(a, b, lambda x, y: x - y)
    fold = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)
    if n is None or n > 16:
        return fold
    fast = F.lit(0.0)
    for i in range(n):
        t = F.get(a, i) - F.get(b, i)
        fast = fast + t * t
    return F.when(
        (F.size(a) == n) & (F.size(b) == n), fast
    ).otherwise(fold)


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PQIndex:
    """Fit a product quantizer (Jégou et al. 2011): split each vector into
    ``m`` contiguous subspaces of dim/m and run ``iters`` Lloyd rounds of
    k-means PER SUBSPACE — all subspaces trained in ONE DataFrame job per
    round (the subspace id is just another grouping key), not m driver
    loops. Deterministic up to float-mean accumulation order: initial
    codewords are the k lowest-salted-hash training vectors per subspace
    and every argmin breaks ties on code id, so refits are reproducible
    ONLY within a fixed partitioning layout — NOT across different
    partition counts or cluster sizes (the codeword
    means are ``F.avg`` over doubles, whose partial-aggregation order —
    and therefore last-ulp value — can shift if the cluster layout
    changes; near-tie assignments may then flip, which is why the fit is
    rows-only + recall-tested rather than value-oracled. For the
    engine-exact ADC tier see ``pq_adc_topk``).

    Scale shape: per round, assignment is corpus×(broadcast m·k codebook)
    with a per-(vec, sub) argmin, and the update is one partial-agg mean
    per (sub, code). The fitted artifact is m·k codewords + m small ints
    per corpus vector.

    Physical design (round 16): the codebook is m·k rows of driver-side
    METADATA — the same bounded-collect scale waiver as MLlib's own Lloyd
    loop and ``ivf_refit_centroids`` — so each round collects the (sub,
    code) means (m·k rows) and re-broadcasts the merged codebook as
    literals instead of localCheckpoint-ing a 512-row DataFrame and
    joining it against the means relation (guide §1.2: the loop was
    checkpoint/job-bound, ~3 jobs per round for one distributed job's
    worth of work; the corpus-sized ``subs`` relation stays distributed
    and is never collected). Mean values are identical: the SAME
    distributed ``F.avg`` partial aggregation produces them, ``collect``
    round-trips exact doubles, and the kept-old-codeword rule for empty
    cells is the Python-side merge of what was the coalesce left join.
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    sub_dim = dim // m
    spark = corpus.sparkSession
    subs = _explode_subs(
        corpus, m, sub_dim, id_col, vec_col
    ).localCheckpoint()

    def _books_df(rows: list[tuple[int, int, list[float]]]) -> DataFrame:
        return spark.createDataFrame(
            rows, "sub INT, code INT, cw ARRAY<DOUBLE>"
        )

    # deterministic init: k lowest md5('pq'||sub||vec_id) vectors per sub
    iw = Window.partitionBy("sub").orderBy(
        F.md5(F.concat_ws("|", F.lit("pq"), "sub", "vec_id")).asc(),
        F.col("vec_id").asc(),
    )
    book_rows = {
        (r["sub"], r["code"]): r["cw"]
        for r in (
            subs.withColumn("_rn", F.row_number().over(iw))
            .filter(F.col("_rn") <= k)
            .select(
                "sub", (F.col("_rn") - 1).alias("code"),
                F.col("sv").cast("array<double>").alias("cw"),
            )
            .collect()
        )
    }
    # argmin as min(struct(_d, code, sv)) — lexicographic struct order is
    # (distance asc, code asc); code is unique per (vec, sub) group so sv
    # never participates in the comparison, it just rides along for the
    # mean update. Partial-aggregates map-side instead of a row_number
    # sort-shuffle (same rewrite as pq_assign_codes, where it measured
    # ~2×).
    for _ in range(iters):
        books = F.broadcast(_books_df(
            [(s, c, cw) for (s, c), cw in sorted(book_rows.items())]
        ))
        assigned = (
            subs.join(books, "sub")
            .withColumn("_d", _l2sq(F.col("sv"), F.col("cw"), sub_dim))
            .groupBy("vec_id", "sub")
            .agg(F.min(F.struct("_d", "code", "sv")).alias("_a"))
            .select(
                "vec_id",
                "sub",
                F.col("_a.code").alias("code"),
                F.col("_a.sv").alias("sv"),
            )
        )
        # mean per (sub, code); a code that lost every vector keeps its
        # old codeword (missing keys stay untouched in book_rows)
        means = assigned.groupBy("sub", "code").agg(
            F.array(
                *[
                    F.avg(F.element_at("sv", i + 1)).alias(f"c{i}")
                    for i in range(sub_dim)
                ]
            ).alias("new_cw")
        )
        for r in means.collect():
            book_rows[(r["sub"], r["code"])] = r["new_cw"]
    books = _books_df(
        [(s, c, cw) for (s, c), cw in sorted(book_rows.items())]
    )
    codes = (
        subs.join(F.broadcast(books), "sub")
        .withColumn("_d", _l2sq(F.col("sv"), F.col("cw"), sub_dim))
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct("_d", "code")).alias("_a"))
        .select("vec_id", "sub", F.col("_a.code").alias("code"))
        .localCheckpoint()
    )
    return PQIndex(books, codes, m, sub_dim)


def pq_topk(
    index: PQIndex,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a fitted ``PQIndex``: each
    query precomputes its m·k subspace distance table (broadcast — the
    classic lookup table), the compressed corpus joins it on (sub, code),
    and the approximate squared L2 distance is the per-vector SUM of m
    table lookups — one linear pass over m·N code rows, never a
    full-vector distance per pair. Output: (query_id, neighbor_id,
    approx_dist rounded 6dp, rank), rank by ascending distance with id
    tie-break. Recall vs the exact baseline is test-asserted (rows-only
    registered tier, like IVF)."""
    m, sub_dim = index.m, index.sub_dim
    qsubs = _explode_subs(
        queries, m, sub_dim, id_col, vec_col,
        id_alias="query_id", sv_alias="qv",
    )
    table = (
        qsubs.join(F.broadcast(index.codebooks), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            _l2sq(F.col("qv"), F.col("cw"), sub_dim).alias("_d"),
        )
    )
    scored = (
        index.codes.join(F.broadcast(table), ["sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("_d"), 6).alias("approx_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _lcg_vectors(n: int, dim: int, seed: int) -> list[list[float]]:
    """Seeded LCG pseudo-vectors in [-1, 1] — the same portable-constant
    recipe as ``_hyperplanes``: pure Python doubles baked into the plan,
    repr()-round-trippable, so Spark literals and DuckDB-parsed literals
    hold identical binary values."""
    state = seed
    out = []
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        out.append(row)
    return out


def _lcg_unit_vectors(n: int, dim: int, seed: int) -> list[list[float]]:
    """``_lcg_vectors`` L2-normalized in pure Python doubles — for
    clustering L2-NORMALIZED data, raw cube-corner LCG centroids (norm
    ~√(dim/3) ≈ 4.6 at dim 64) degenerate into 2-3 dominant cells
    (measured: 869/821/305/3/2 of 2000 at sf0.1); unit centroids give
    near-uniform cells (97-163) and ~6× fewer within-cell pairs. The
    normalized components are baked as repr() literals on both engines,
    so cross-engine exactness is unaffected."""
    import math

    out = []
    for v in _lcg_vectors(n, dim, seed):
        nrm = math.sqrt(sum(x * x for x in v))
        out.append([x / nrm for x in v])
    return out


def pq_fixed_codebooks(m: int, k: int, sub_dim: int, seed: int = 7):
    """(sub, code, codeword) triples for a FIXED hash-derived codebook —
    no Lloyd fit. One shared LCG stream in (sub, code, component) order,
    so the constants are a pure function of (m, k, sub_dim, seed)."""
    vecs = _lcg_vectors(m * k, sub_dim, seed)
    return [
        (s, c, vecs[s * k + c]) for s in range(m) for c in range(k)
    ]


def pq_assign_codes(
    corpus: DataFrame,
    books: DataFrame,
    m: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress ``corpus`` against an existing codebook: per (vector,
    subspace), the argmin-L2 code with id tie-break. The codebook (m·k
    rows) is broadcast; the corpus is scanned once per subspace union leg
    and never shuffled beyond the per-(vec, sub) argmin partial
    aggregate (min(struct) — no window, no sort). Output:
    (vec_id, sub, code)."""
    subs = _explode_subs(corpus, m, sub_dim, id_col, vec_col)
    # argmin as min(struct(_d, code)) — struct ordering compares fields
    # left-to-right, so this is exactly (distance asc, code asc) — which
    # PARTIAL-aggregates map-side; a row_number window would sort-shuffle
    # all m·k distance rows per vector (measured ~2× slower at sf0.1)
    return (
        subs.join(F.broadcast(books), "sub")
        .withColumn("_d", _l2sq(F.col("sv"), F.col("cw"), sub_dim))
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct(F.col("_d"), F.col("code"))).alias("_m"))
        .select("vec_id", "sub", F.col("_m.code").alias("code"))
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PQ/ADC *machinery* — subspace codes, per-query distance tables,
    table-lookup argmin top-k — on a FIXED hash-derived codebook, which
    makes every step deterministic arithmetic a SQL oracle can reproduce
    (the Lloyd-fitted tier ``pq_topk_oneshot`` stays rows-only; this tier
    value-checks the pipeline those fits feed).

    Engine-exactness: codewords are shared LCG constants; every L2 is the
    same left-fold both engines evaluate on bit-identical doubles; and the
    per-pair ADC distance is summed on an exact 1e-6 integer grid
    (``round(d·1e6)`` per sub-table cell, BIGINT sum) so the m-term
    reduction is order-independent — ``approx_dist`` is that grid divided
    back, never a float sum.

    Output: (query_id, neighbor_id, approx_dist, rank), rank by ascending
    distance with id tie-break, self-matches excluded.
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    sub_dim = dim // m
    spark = corpus.sparkSession
    books = F.broadcast(
        spark.createDataFrame(
            pq_fixed_codebooks(m, n_codes, sub_dim, seed),
            "sub INT, code INT, cw ARRAY<DOUBLE>",
        )
    )
    codes = pq_assign_codes(
        corpus, books, m, sub_dim, id_col=id_col, vec_col=vec_col
    )
    qsubs = _explode_subs(
        queries, m, sub_dim, id_col, vec_col,
        id_alias="query_id", sv_alias="qv",
    )
    table = qsubs.join(books, "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(_l2sq(F.col("qv"), F.col("cw"), sub_dim) * 1e6)
        .cast("long")
        .alias("_de6"),
    )
    scored = (
        codes.join(F.broadcast(table), ["sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            (F.sum("_de6").cast("double") / F.lit(1e6)).alias("approx_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_probe_fixed(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe machinery on FIXED hash-derived centroids (no KMeans):
    corpus → argmin-L2 cell, query → its ``n_probe`` nearest cells, exact
    cosine re-rank within the probed cells. Same candidate-generation and
    re-rank plan as the fitted ``ivf_topk`` tier, but every number is
    deterministic arithmetic — the value-oracle twin of the rows-only
    Lloyd fit.

    Output: (query_id, neighbor_id, cosine_sim, rank) like ``lsh_topk``.
    """
    spark = corpus.sparkSession
    cents = F.broadcast(
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(_lcg_vectors(n_cells, dim, seed))],
            "cell INT, cv ARRAY<DOUBLE>",
        )
    )
    dv = F.col(vec_col).cast("array<double>")
    # corpus argmin cell: min(struct) partial agg (see pq_assign_codes);
    # the query side keeps a window because it needs top-n_probe, but the
    # query set is tiny by contract
    assigned = (
        corpus.select(F.col(id_col).alias("_id"), dv.alias("_v"))
        .join(cents, F.lit(True))
        .withColumn("_d", _l2sq(F.col("_v"), F.col("cv")))
        .groupBy("_id")
        .agg(F.min(F.struct(F.col("_d"), F.col("cell"))).alias("_m"))
        .select(
            F.col("_id").alias("neighbor_id"), F.col("_m.cell").alias("cell")
        )
    )
    aw = Window.partitionBy("_id").orderBy(F.col("_d").asc(), F.col("cell").asc())
    probed = (
        queries.select(F.col(id_col).alias("_id"), dv.alias("_v"))
        .join(cents, F.lit(True))
        .withColumn("_d", _l2sq(F.col("_v"), F.col("cv")))
        .withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") <= n_probe)
        .select(F.col("_id").alias("query_id"), "cell")
    )
    cand = (
        probed.join(assigned, "cell")
        .select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk(
        _scored(
            cand,
            _vecs(queries, "query_id", id_col, vec_col),
            _vecs(corpus, "neighbor_id", id_col, vec_col),
        ),
        k,
    )


def semantic_dedup_fixed(
    vectors: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.45,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Value-checked twin of ``semantic_dedup`` (VERDICT r06 item 6):
    FIXED hash-derived LCG centroids instead of a Lloyd fit, so every
    number is deterministic arithmetic and the whole query value-oracles.

    Cell assignment: each L2-normalized vector's nearest of
    ``n_clusters`` grid-quantized centroids (``ivf_cell_assignments`` at
    n_probe=1 — the exact-grid BLAS path, mirrored by the
    quantized-centroid oracle); zero vectors sit in ``zcell``, the
    centroid nearest the origin, and are kept. The ``_semdedup_keep``
    skeleton verifies on the RAW vectors (cosine is magnitude-invariant).
    Output: kept (vec_id, cell). Σ|cell|² is bounded by scaling
    n_clusters √N-style (the ``semantic_dedup_sqrt`` query).
    """
    # assignment via the exact-grid BLAS path (round 10 — the same
    # cost-model fix as ivf_cell_assignments: interpreted HOF distances
    # are ~10 µs each, so N × n_clusters of them dominate the tier).
    # Zero vectors keep their legacy pass-through-with-a-cell contract:
    # on the grid their distance to centroid j is exactly Σ cq_j², an
    # order-independent exact sum, so the argmin is computable in plain
    # Python with the same (d, cell) tie-break the SQL mirror ranks by.
    cq = quantized_unit_centroids(n_clusters, dim, seed)
    zcell = min(
        range(n_clusters),
        key=lambda i: (sum(w * w for w in cq[i]), i),
    )
    vecs = _vecs(vectors, "_id", id_col, vec_col)
    # materialize once: the assignment feeds BOTH sides of the pair
    # self-join AND the keep anti-join — without truncation the
    # broadcast-argmin assignment pipeline re-executes three times
    # (measured 13.1 → 1.9 s at sf0.1)
    cells = (
        ivf_cell_assignments(
            vectors, n_clusters, n_probe=1, dim=dim, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
        .withColumnRenamed(id_col, "_id")
        .localCheckpoint()
    )
    zeros = vecs.filter(F.col("_n") == 0.0).select(
        "_id", F.lit(zcell).cast("int").alias("cell")
    )
    return _semdedup_keep(
        cells,
        vecs,
        threshold,
        id_col,
        multi_cell=False,
        keep=cells.unionByName(zeros).select(
            "_id", F.col("cell").cast("long").alias("cell")
        ),
    )


def _srp_bands(
    df: DataFrame,
    id_as: str,
    band_planes: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(``id_as``, band_idx, bucket): one row per band of every NON-ZERO
    vector, band b's bucket being the SRP signature over
    ``band_planes[b]``. Zero vectors have no direction and are never
    banded. Signatures are a codegen projection on the scan."""
    dv = F.col(vec_col).cast("array<double>")
    sigs = F.array(*[srp_signature(dv, planes) for planes in band_planes])
    return (
        df.select(
            F.col(id_col).alias(id_as),
            _norm(dv).alias("_n"),
            F.posexplode(sigs).alias("band_idx", "bucket"),
        )
        .filter(F.col("_n") != 0.0)
        .select(id_as, "band_idx", "bucket")
    )


def _srp_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    n_planes: int,
    n_bands: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, neighbor_id) pairs sharing at least one of ``n_bands``
    SRP band buckets (band = ``n_planes/n_bands`` sign bits of one seeded
    plane set): broadcast query signatures, (band_idx, bucket) equi-join —
    never all-pairs. Σ candidates per query is bounded by bucket
    occupancy (≈ N/2^(planes/bands) per band)."""
    assert n_planes % n_bands == 0, "bands must tile the plane set"
    rows = n_planes // n_bands
    planes = _hyperplanes(dim, n_planes)
    bands = [planes[b * rows : (b + 1) * rows] for b in range(n_bands)]
    return (
        F.broadcast(_srp_bands(queries, "query_id", bands, id_col, vec_col))
        .join(
            _srp_bands(corpus, "neighbor_id", bands, id_col, vec_col),
            ["band_idx", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def srp_banded_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_bands: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded-SRP approximate top-k: candidates share at least one of
    ``n_bands`` sign-random-projection band buckets with the query
    (``_srp_candidates``), then exact 6-dp cosine re-rank — the
    higher-recall/more-candidates point on the SRP curve vs
    ``lsh_topk``'s full-signature bucket match (recall measured side by
    side in ``ann_recall_report``). Same seeded hyperplane constants and
    candidate path as ``hard_negative_mining_ann``."""
    cand = _srp_candidates(
        queries, corpus, n_planes, n_bands, dim, id_col, vec_col
    )
    return _topk(
        _scored(
            cand,
            _vecs(queries, "query_id", id_col, vec_col),
            _vecs(corpus, "neighbor_id", id_col, vec_col),
        ),
        k,
    )


def kmeans_one_step(
    vectors: DataFrame,
    k: int = 8,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One unrolled Lloyd iteration, value-oracle-exact (VERDICT r08 item
    6): fixed LCG-unit init → assign → mean-update → re-assign, the core
    update step of the KMeans family (semantic_dedup / IVF / PQ fits)
    converted from property-tested to hash-checked.

    Exactness discipline: inputs are quantized to the 2^-20 grid
    (``floor(x·2^20 + 0.5)/2^20``) so the per-(cell, dim) mean numerator
    is a sum of grid multiples — exactly representable in double far past
    1e9 rows per cell, hence ORDER-INDEPENDENT across partial aggs and
    identical in any engine. The mean is then one IEEE division, and both
    assignment argmins run the engine-proven sequential-fold L2² on
    identical operands (ties → lower cell id).

    The updated centroids are collected to the driver (k × dim doubles —
    metadata-sized, the same bounded per-iteration collect MLlib's own
    Lloyd loop does) and re-broadcast as plan literals for the second
    assignment. Output: (vec_id, cell_init, cell_next).

    100 TB shape: two broadcast-argmin passes (partial-agg'd min-struct)
    plus one (cell, dim)-keyed partial-agg sum — all linear, no shuffle
    beyond k·dim cells.
    """
    spark = vectors.sparkSession
    grid = float(1 << 20)
    cents0 = _lcg_unit_vectors(k, dim, seed)
    dv = F.col(vec_col).cast("array<double>")
    base = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(
            dv, lambda x: F.floor(x * F.lit(grid) + F.lit(0.5)) / F.lit(grid)
        ).alias("_v"),
    ).localCheckpoint()

    def _assign(cents: list[list[float]], out: str) -> DataFrame:
        ct = F.broadcast(
            spark.createDataFrame(
                [(i, cv) for i, cv in enumerate(cents)],
                "cell INT, cv ARRAY<DOUBLE>",
            )
        )
        return (
            base.join(ct, F.lit(True))
            .withColumn("_d", _l2sq(F.col("_v"), F.col("cv")))
            .groupBy("_id")
            .agg(F.min(F.struct(F.col("_d"), F.col("cell"))).alias("_m"))
            .select("_id", F.col("_m.cell").alias(out))
        )

    a1 = _assign(cents0, "cell_init").localCheckpoint()
    sums = (
        a1.join(base, "_id")
        .select("cell_init", F.posexplode("_v").alias("pos", "val"))
        .groupBy("cell_init", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in sums:
        by_cell.setdefault(r["cell_init"], {})[r["pos"]] = r["s"] / r["c"]
    cents1 = [
        [by_cell[i][j] for j in range(dim)] if i in by_cell else cents0[i]
        for i in range(k)
    ]
    a2 = _assign(cents1, "cell_next")
    return a1.join(a2, "_id").select(
        F.col("_id").alias(id_col),
        F.col("cell_init").cast("long").alias("cell_init"),
        F.col("cell_next").cast("long").alias("cell_next"),
    )


def semantic_dedup_ann(
    vectors: DataFrame,
    threshold: float = 0.45,
    n_bands: int = 2,
    target_bucket: int = 24,
    max_bits: int = 24,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup on banded-SRP cells (VERDICT r08 item 2): the sublinear
    tier. Cell assignment: one cell per (band, bucket) — two vectors are
    compared only if they share at least one of the ``n_bands``
    sign-random-projection band buckets; the ``_semdedup_keep`` skeleton
    then applies the shared keep/drop rule on the raw vectors.

    Scale design (the law that keeps this sublinear): SRP buckets are a
    FIXED 2^bits space, so at constant ``bits`` occupancy grows linearly
    with N and within-bucket pairing turns quadratic. The bits-per-band
    therefore ADAPT to corpus size — ``bits = clamp(ceil(log2(N /
    target_bucket)), 4, max_bits)`` — holding expected occupancy ≈
    ``target_bucket`` so candidate volume stays ~linear in N (the same
    adaptive-planning move as the √N cell law in ``semantic_dedup_sqrt``,
    driven by one metadata-sized count()). Band b always uses planes
    ``[b*max_bits, b*max_bits + bits)`` of one fixed seeded set, so the
    plane CONSTANTS never shift as bits grows — both engines bake the
    full ``n_bands × max_bits`` plane table as literals and slice.

    Fully value-oracled: seeded-LCG hyperplane literals, integer sign
    packing, 6-dp IEEE cosine. Zero vectors are never banded and pass
    through kept.

    Output: kept (vec_id). 100 TB shape: signatures are a codegen
    projection on the scan; Σ pairs ≈ N × target_bucket — never
    all-pairs.
    """
    import math

    n = vectors.count()
    bits = min(max_bits, max(4, math.ceil(math.log2(max(n, 2) / float(target_bucket)))))
    all_planes = _hyperplanes(dim, n_bands * max_bits)
    bands = [all_planes[b * max_bits : b * max_bits + bits] for b in range(n_bands)]
    cells = _srp_bands(vectors, "_id", bands, id_col, vec_col).select(
        "_id", F.struct("band_idx", "bucket").alias("cell")
    )
    return _semdedup_keep(
        cells,
        _vecs(vectors, "_id", id_col, vec_col),
        threshold,
        id_col,
        multi_cell=True,
    )


IVF_GRID_BITS = 20


def quantized_unit_centroids(
    n_cells: int, dim: int, seed: int, grid_bits: int = IVF_GRID_BITS
) -> list[list[float]]:
    """``_lcg_unit_vectors`` snapped to the 2^-grid_bits grid in pure
    Python doubles — the exact-arithmetic domain of the IVF assignment
    (see ``ivf_cell_assignments``). Baked as repr() literals on both
    engines, prefix-stable in ``n_cells``."""
    import math

    scale = float(1 << grid_bits)
    return [
        [math.floor(w * scale + 0.5) / scale for w in row]
        for row in _lcg_unit_vectors(n_cells, dim, seed)
    ]


def ivf_cell_assignments(
    vectors: DataFrame,
    n_cells: int,
    n_probe: int = 8,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    include_quantized: bool = False,
) -> DataFrame:
    """Multi-probe IVF cell assignment: each NON-ZERO vector is
    L2-normalized, snapped to the 2^-20 grid, and mapped to its
    ``n_probe`` nearest of ``n_cells`` fixed hash-derived grid-quantized
    unit centroids (L2 asc, cell asc tie-break).

    Performance design — the O(N × n_cells × dim) distance pass is the
    dominant cost of every IVF-family operator here, and Spark's
    higher-order functions are CodegenFallback (~10 µs per interpreted
    64-dim _l2sq: a broadcast-join formulation measured 297 s for the
    25M-distance sf1 probe). This assignment instead runs ONE Arrow
    pandas_udf whose body is a numpy matmul (3.2 GFLOP ≈ seconds for the
    same probe). That is only legal under the engine's bit-exact-oracle
    doctrine because of the ``kmeans_one_step`` EXACT-GRID move: with
    vectors and centroids snapped to the 2^-20 grid, every distance
    intermediate — u², u·c products (grain 2^-40, bounded), their
    64-term sums — is EXACTLY representable in a double, so summation is
    ORDER-INDEPENDENT: numpy's pairwise/BLAS accumulation, Spark's
    left-fold, and DuckDB's list_sum all produce the same bits, and the
    matmul decomposition Σu² − 2Σuc + Σc² equals the oracle's direct
    Σ(u−c)² exactly. Tie-break: stable argsort over d, index order =
    cell ascending — the same (d ASC, cell ASC) the SQL mirror ranks by.

    Zero vectors get no assignment (cosine against them is undefined;
    dedup callers pass them through kept). The centroid table is
    prefix-stable in ``n_cells`` (cell i always uses LCG positions
    [i*dim, (i+1)*dim)), so stores built at one cell count never shift
    under another seed-compatible reader. Output: (id_col, cell INT).

    ``centroids`` replaces the seeded LCG table with an explicit
    ALREADY-GRID-QUANTIZED centroid list (cell i = centroids[i]) — the
    Lloyd-refit path (``semantic_dedup_ivf_refit``) passes the mean-
    updated centroids here; they MUST sit on the 2^-20 grid or the BLAS
    decomposition loses bit-exactness.

    ``include_quantized`` adds the grid-snapped unit vector as a
    ``quantized`` column — the Lloyd refit pass needs (cell, quantized)
    together, and emitting both from the one normalize+snap pass saves a
    second full projection plus an N-row rejoin per Lloyd step."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cq = (
        centroids
        if centroids is not None
        else quantized_unit_centroids(n_cells, dim, seed)
    )
    if len(cq) != n_cells:
        raise ValueError(
            f"ivf_cell_assignments: {len(cq)} centroids != n_cells={n_cells}"
        )
    scale = float(1 << IVF_GRID_BITS)

    @pandas_udf(ArrayType(IntegerType()))
    def _top_cells(vs):  # pd.Series[list[float]] -> pd.Series[list[int]]
        import numpy as np
        import pandas as pd

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        m = np.array(vs.tolist(), dtype=np.float64)
        cm = np.array(cq, dtype=np.float64)
        # exact on the grid: every term is a multiple of 2^-40 small
        # enough for a double, so BLAS order == fold order bit-for-bit
        d = (
            (m * m).sum(axis=1)[:, None]
            - 2.0 * (m @ cm.T)
            + (cm * cm).sum(axis=1)[None, :]
        )
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(idx.astype("int32")))

    dv = F.col(vec_col).cast("array<double>")
    norm = _norm(dv)
    unit = vectors.select(
        F.col(id_col).alias("_id"),
        norm.alias("_n"),
        F.when(norm != 0.0, F.transform(dv, lambda x: x / norm))
        .otherwise(dv)
        .alias("_v"),
    ).filter(F.col("_n") != 0.0)
    quant = unit.select(
        "_id",
        F.transform(
            "_v", lambda x: F.floor(x * scale + F.lit(0.5)) / scale
        ).alias("_q"),
    )
    extra = [F.col("_q").alias("quantized")] if include_quantized else []
    return quant.select(
        F.col("_id").alias(id_col),
        F.explode(_top_cells(F.col("_q"))).alias("cell"),
        *extra,
    )


def semantic_dedup_ivf(
    vectors: DataFrame,
    threshold: float = 0.45,
    target_occ: int = 16,
    n_probe: int = 8,
    max_cells: int = 128,
    min_cells: int = 8,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup on MULTI-PROBE IVF cells — the high-recall sublinear
    tier (VERDICT r09 item 2: the banded-SRP candidate generator of
    ``semantic_dedup_ann`` measures 0.12-0.36 drop-set recall at the
    registered threshold because a cosine-0.45 duplicate pair sits 63°
    apart, far wider than SRP sign-agreement reaches; IVF cells probed
    at depth catch them — measured pair recall 0.95-1.00 at
    (cells=N/16, probe=8) vs the exact all-pairs drop set, see
    ``ann_recall_report``).

    Cell assignment: each non-zero vector is L2-normalized and assigned
    to its ``n_probe`` nearest of ``n_cells`` fixed hash-derived unit
    centroids (the ``ivf_probe_fixed`` multi-probe move applied
    corpus-side); the ``_semdedup_keep`` skeleton compares two vectors
    iff they share a probed cell. This is ``semantic_dedup_ivf_refit``
    with no Lloyd step.

    Scale design: ``n_cells = clamp(ceil(N / target_occ), min_cells,
    max_cells)`` holds expected cell occupancy ≈ ``target_occ``, so
    candidate volume ≈ N × n_probe × target_occ — linear in N while the
    cap is not binding (the literal centroid table is what caps it here;
    at real scale the centroids come from the KMeans fit the rows-only
    ``semantic_dedup`` tier runs, exactly as ``ivf_topk`` is the fitted
    twin of ``ivf_probe_fixed``).

    Fully value-oracled: prefix-stable LCG unit centroids (cell i's
    components are positions [i*dim, (i+1)*dim) of one seeded stream, so
    the baked max_cells table never shifts as n_cells adapts), IEEE
    left-fold L2, 6-dp cosine, (d asc, cell asc) tie-break in both
    engines. Zero vectors are never assigned and pass through kept.

    Output: kept (vec_id).
    """
    return semantic_dedup_ivf_refit(
        vectors,
        threshold,
        target_occ,
        n_probe,
        max_cells,
        min_cells,
        dim,
        seed,
        lloyd_steps=0,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_refit_centroids(
    vectors: DataFrame,
    centroids: list[list[float]],
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """One exact-grid Lloyd step over an IVF centroid table: assign every
    non-zero vector to its SINGLE nearest centroid (probe-1), replace
    each non-empty cell's centroid with the grid-quantized mean of its
    members' grid-unit vectors, keep empty cells' seeds. The
    ``kmeans_one_step`` exactness discipline end to end: member vectors
    sit on the 2^-20 grid, so the per-(cell, dim) mean numerator is a sum
    of grid multiples — exactly representable far past 1e9 rows per cell,
    hence order-independent across partial aggs and identical in any
    engine; the mean is one IEEE division and the result snaps back to
    the grid so the NEXT assignment's BLAS decomposition stays bit-exact.

    The driver-side collect is (n_cells × dim) partial sums — the same
    bounded metadata-scale collect MLlib's own Lloyd loop does per
    iteration. 100 TB shape: one broadcast-argmin pass + one
    (cell, dim)-keyed partial-agg sum, both linear, no shuffle wider
    than n_cells × dim rows."""
    import math

    n_cells = len(centroids)
    scale = float(1 << IVF_GRID_BITS)
    # one pass: the probe-1 assignment's own normalize+snap projection
    # also yields the grid-unit vector the mean needs (include_quantized)
    # — no second projection, no N-row rejoin
    a1q = ivf_cell_assignments(
        vectors,
        n_cells,
        1,
        dim,
        0,
        id_col,
        vec_col,
        centroids=centroids,
        include_quantized=True,
    )
    sums = (
        a1q.select("cell", F.posexplode("quantized").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in sums:
        by_cell.setdefault(r["cell"], {})[r["pos"]] = (
            math.floor(r["s"] / r["c"] * scale + 0.5) / scale
        )
    return [
        [by_cell[i][j] for j in range(dim)] if i in by_cell else centroids[i]
        for i in range(n_cells)
    ]


def semantic_dedup_ivf_refit(
    vectors: DataFrame,
    threshold: float = 0.45,
    target_occ: int = 16,
    n_probe: int = 16,
    max_cells: int = 2048,
    min_cells: int = 8,
    dim: int = 64,
    seed: int = 11,
    lloyd_steps: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FITTED high-recall SemDeDup configuration: probe-16 multi-probe
    assignment against centroids refined by ``lloyd_steps`` exact-grid
    Lloyd iterations — the config the round-10 dup-dense sf1 probe
    measured at **0.95 drop-set recall** where the unfitted probe-8 tier
    measures 0.65 (PERFORMANCE.md r10 recall table; the published
    SemDeDup itself prescribes FITTED k-means cells). The cost is ~4×
    candidate volume (probe 16 vs 8) plus one bounded centroid-refit
    pass; a deployment picks its tier with exactly the
    ``semantic_dedup_recall`` audit this engine registers.

    Cell assignment: ``ivf_cell_assignments`` against the refit
    centroids, cells = clamp(ceil(N / target_occ), min_cells, max_cells)
    (the occupancy law of ``semantic_dedup_ivf``, which is this tier at
    ``lloyd_steps=0``); the ``_semdedup_keep`` skeleton does the rest.
    Identical oracle discipline — the Lloyd means are exact-grid
    order-independent sums (``ivf_refit_centroids``), so the full
    pipeline stays value-hash-checkable against the SQL mirror.

    Output: kept (vec_id)."""
    import math

    n = vectors.count()
    n_cells = min(max_cells, max(min_cells, math.ceil(n / float(target_occ))))
    cents = quantized_unit_centroids(n_cells, dim, seed)
    for _ in range(lloyd_steps):
        cents = ivf_refit_centroids(vectors, cents, dim, id_col, vec_col)
    # materialize once: the (id, cell) relation is tiny (N × n_probe ints)
    # but its producer — the n_cells × dim distance projection — is the
    # query's most expensive stage, and the pair self-join would otherwise
    # execute it TWICE (measured 2.2 s/side at sf0.1)
    cells = (
        ivf_cell_assignments(
            vectors, n_cells, n_probe, dim, seed, id_col, vec_col,
            centroids=cents,
        )
        .withColumnRenamed(id_col, "_id")
        .localCheckpoint()
    )
    return _semdedup_keep(
        cells,
        _vecs(vectors, "_id", id_col, vec_col),
        threshold,
        id_col,
        multi_cell=True,
    )


def incremental_semantic_pairs(
    new_vecs: DataFrame,
    store_assign: DataFrame,
    store_vecs: DataFrame,
    threshold: float = 0.45,
    n_cells: int = 128,
    n_probe: int = 8,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_disjoint: bool = True,
    new_assign: DataFrame | None = None,
) -> DataFrame:
    """Semantic near-dup pairs *introduced by a new ingestion batch*
    against an existing corpus — the embedding-space analog of
    ``operators.dedup.incremental_pairs_from_signatures`` (VERDICT r09
    item 5). Candidates are (new × store) ∪ (new × new) on shared
    multi-probe IVF cells — store × store is never re-paired, because
    those pairs were emitted when their vectors arrived; per-batch cost
    scales with the batch and its cell collisions, not the corpus.
    ``n_cells`` is FIXED at stream start (a per-batch adaptive count
    would shift cell boundaries between batches and break the
    accumulation contract — the pinned-cell analog of the signature
    store's pinned (num_hashes, bands)).

    ``store_assign`` is the persisted (id, cell) table accumulated by
    prior batches (``ivf_cell_assignments`` output — assignments are
    deterministic per vector, so persisting beats recomputing the
    n_cells × dim distance projection over the whole corpus each
    trigger); ``store_vecs`` the persisted (id, vector) rows backing the
    exact-cosine re-rank. Output: (id_a, id_b, cosine) with id_a < id_b
    — arrival order and id order are independent, so new × store pairs
    canonicalize via least/greatest. Union over all batches ==
    ``semantic_dedup_ivf``'s qualifying pair set at the same pinned
    (n_cells, n_probe): every pair is emitted exactly once, by the batch
    of its later-arriving member (pinned in
    tests/test_streaming_semantic_dedup.py).

    Pass ``new_assign`` (an already-checkpointed ``ivf_cell_assignments``
    result for ``new_vecs``) when the assignment pass is shared with
    other sinks — streaming.semantic_dedup computes it once per
    micro-batch and feeds both the store write and this join.
    """
    if check_disjoint:
        overlap = (
            new_vecs.select(id_col)
            .join(store_vecs.select(id_col), id_col, "left_semi")
            .limit(1)
            .count()
        )
        if overlap:
            raise ValueError(
                "incremental_semantic_pairs: new_vecs ids overlap the "
                "vector store; pairs would silently collapse. Dedup the "
                "batch against the store first."
            )
    if new_assign is None:
        new_assign = ivf_cell_assignments(
            new_vecs, n_cells, n_probe, dim, seed, id_col, vec_col
        ).localCheckpoint()
    na, nb = new_assign.alias("a"), new_assign.alias("b")
    nn = (
        na.join(
            nb,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    ns = (
        new_assign.alias("n")
        .join(
            store_assign.alias("s"),
            (F.col("n.cell") == F.col("s.cell"))
            # equal ids never pair: for disjoint inputs this is a no-op,
            # and under at-least-once redelivery (the same vector re-sent
            # in a LATER batch, so the before_batch store exclusion does
            # not screen it) it stops the cosine-1.0 self-pair from
            # dropping the vector against its own store copy
            & (F.col(f"n.{id_col}") != F.col(f"s.{id_col}")),
        )
        .select(
            F.least(
                F.col(f"n.{id_col}"), F.col(f"s.{id_col}")
            ).alias("id_a"),
            F.greatest(
                F.col(f"n.{id_col}"), F.col(f"s.{id_col}")
            ).alias("id_b"),
        )
    )
    cand = nn.unionByName(ns).distinct()
    allv = _vecs(new_vecs, "_id", id_col, vec_col).unionByName(
        _vecs(store_vecs, "_id", id_col, vec_col)
    )
    return _verified_pairs(cand, allv, threshold)


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    n_pos: int = 1,
    n_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training-pair mining — the dataset-construction step
    behind embedding-model fine-tuning (in-batch negatives are easy;
    HARD negatives are the top-scoring wrong-label neighbors): for each
    query vector, the ``n_pos`` nearest SAME-label vectors (positives)
    and the ``n_neg`` nearest DIFFERENT-label vectors (hard negatives),
    by exact cosine with the engine's 6-dp deterministic rounding and
    (sim DESC, neighbor_id ASC) tie-break.

    Output: (query_id, role 'pos'|'neg', rank, neighbor_id, cosine_sim).
    Fully value-oracled (exact arithmetic, no fit).

    Scale shape: the query side is tiny by contract and broadcast; the
    corpus streams through one codegen'd cosine projection and a
    per-(query, role) top-k window — same plan family as
    ``cosine_topk``. At real scale the corpus side swaps in any
    registered ANN tier (IVF/PQ/SRP buckets) for candidate generation
    without changing this ranking contract.
    """
    # zero-norm rows are EXCLUDED on both sides: cosine against a zero
    # vector is undefined — it can be neither a positive nor a hard
    # negative — and under the session's default ANSI mode the unguarded
    # division would raise DIVIDE_BY_ZERO (the semantic_dedup_fixed
    # lesson; mirrored in the SQL oracle)
    q = _vecs(
        queries, "query_id", id_col, vec_col, F.col(label_col).alias("q_label")
    ).filter(F.col("_n") != 0.0)
    c = _vecs(
        corpus, "neighbor_id", id_col, vec_col, F.col(label_col).alias("c_label")
    ).filter(F.col("_n") != 0.0)
    scored = (
        F.broadcast(q.alias("q"))
        .join(c.alias("c"), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "q_label",
            "c_label",
            _cosine6("q", "c").alias("cosine_sim"),
        )
    )
    return _rank_roles(scored, n_pos, n_neg)


def _rank_roles(scored: DataFrame, n_pos: int, n_neg: int) -> DataFrame:
    """Hard-negative ranking over scored (query_id, neighbor_id, q_label,
    c_label, cosine_sim) pairs: role 'pos' (same label) / 'neg', top
    ``n_pos`` / ``n_neg`` per (query, role) by (sim DESC, neighbor_id
    ASC)."""
    role = F.when(F.col("q_label") == F.col("c_label"), F.lit("pos")).otherwise(
        F.lit("neg")
    )
    w = Window.partitionBy("query_id", "role").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("role", role)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(
            ((F.col("role") == "pos") & (F.col("rank") <= n_pos))
            | ((F.col("role") == "neg") & (F.col("rank") <= n_neg))
        )
        .select("query_id", "role", "rank", "neighbor_id", "cosine_sim")
    )


def hard_negative_mining_ann(
    queries: DataFrame,
    corpus: DataFrame,
    n_pos: int = 1,
    n_neg: int = 3,
    n_planes: int = 8,
    n_bands: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """``hard_negative_mining`` with the 100 TB candidate path wired
    end-to-end (VERDICT r07 item 4): candidates come from BANDED SRP
    buckets — a corpus vector is scored only if it shares at least one
    of the ``n_bands`` sign-random-projection band buckets with the
    query — then the identical exact-cosine scoring / per-(query, role)
    ranking contract runs on the candidate set. Banding trades recall
    for candidate volume exactly like MinHash banding (each band is
    ``n_planes/n_bands`` sign bits; more bands → higher recall, more
    candidates).

    Fully value-oracled: the hyperplanes are the same seeded LCG
    constants as ``lsh_topk`` (baked as repr() literals on both
    engines), the band buckets are integer sums over sign tests, and
    scoring is the engine's 6-dp deterministic cosine.

    Scale shape: corpus signatures are a codegen projection on the scan;
    the candidate generator is a (band_idx, bucket) equi-join against the
    broadcast-sized query side — never all-pairs. Σ candidates per query
    is bounded by bucket occupancy (≈ N/2^(planes/bands) per band).
    """
    q_label = F.col(label_col).alias("q_label")
    c_label = F.col(label_col).alias("c_label")
    scored = _scored(
        _srp_candidates(queries, corpus, n_planes, n_bands, dim, id_col, vec_col),
        _vecs(queries, "query_id", id_col, vec_col, q_label),
        _vecs(corpus, "neighbor_id", id_col, vec_col, c_label),
    )
    return _rank_roles(scored, n_pos, n_neg)


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage path for a
    100 TB embedding corpus (float32 → 1 byte/dim + one scale/vector, 4×
    smaller; int8 dot products then run in SIMD on modern hardware):
    scale = max|x|/127, q_i = round(x_i·127/max|x|) ∈ [-127, 127]. The
    all-zero vector quantizes to zeros with scale 0.

    Output: (id, scale DOUBLE, qvec ARRAY<BIGINT>, orig ARRAY<DOUBLE>) —
    ``orig`` kept alongside so callers can digest reconstruction error
    without re-joining the source. Engine-exact: the quantized values are
    integer results of round() on bit-identical doubles
    (half-away-from-zero in both engines).

    One scan, no shuffle — embarrassingly parallel at any corpus size.
    """
    dv = F.col(vec_col).cast("array<double>")
    maxabs = F.aggregate(
        dv, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    v = vectors.select(
        F.col(id_col).alias("id"), dv.alias("orig"), maxabs.alias("_m")
    )
    q = F.when(
        F.col("_m") == 0.0,
        F.transform("orig", lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            "orig",
            lambda x: F.round(x * F.lit(127.0) / F.col("_m")).cast("long"),
        )
    )
    scale = F.when(F.col("_m") == 0.0, F.lit(0.0)).otherwise(
        F.col("_m") / F.lit(127.0)
    )
    return v.select("id", scale.alias("scale"), q.alias("qvec"), "orig")


def pq_topk_oneshot(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``pq_fit`` + ``pq_topk`` in one call (the registered-query shape);
    fit once and probe many in production.

    Default m=16/n_codes=32 (80 bits per vector) is sized for the
    synthetic UNIFORM-RANDOM embeddings — quantization's worst case (no
    cluster structure to exploit; measured recall@5 0.10/0.42/0.57 at
    m=8k16 / m=16k32 / m=32k16). Real embedding distributions cluster and
    quantize far better at the same bit budget."""
    index = pq_fit(corpus, m=m, k=n_codes, id_col=id_col, vec_col=vec_col)
    return pq_topk(index, queries, k=k, id_col=id_col, vec_col=vec_col)
