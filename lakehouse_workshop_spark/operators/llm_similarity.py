"""Similarity search over embeddings (north-star extensions).

Operators on the ``embeddings`` table (``embedding: array<float>``, 64-dim):

- ``cosine_topk``: brute-force cosine top-k — the exact baseline. Dot
  products run JVM-side via ``zip_with`` + ``aggregate`` (a left fold in
  double, deterministic order — no Python in the loop);
- ``embedding_near_pairs``: threshold self-join (near-dup by embedding);
- ``lsh_buckets`` / ``ann_topk_lsh``: random-hyperplane (sign) LSH — the
  scale path. Hyperplane weights are ±1 derived from md5(plane, dim), so
  both engines build identical planes with no side channel. Buckets turn
  the O(n·q) scan into an equi-join on bucket id.

Determinism: cosines are rounded to 6 dp and every ordering breaks ties by
vec_id, so rank cutoffs agree across engines bit-for-bit.

Scale posture: brute-force is O(n) per query with a broadcast query set —
right up to ~10^5 queries; past that, LSH bucketing (or IVF with trained
centroids — same join shape) keeps it an equi-join. At 100 TB the bucketed
variant is the only viable plan; both share the scoring expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table, table_rowcount
from lakehouse_workshop_spark.kernels import nearest, unit, worker_buf
from lakehouse_workshop_spark.operators import query

TOP_K = 10
NEAR_PAIR_THRESHOLD = 0.4
LSH_PLANES = 8  # 2^8 = 256 buckets
QUERY_FILTER = "vec_id % 100 = 0"
# The embedding dimension every dim-sensitive fragment interpolates (LSH
# plane length, the normalized-explode oracle). A datagen dim change must
# fail loudly, not silently diverge the oracle: embedding_normalized
# raise_error()s on any row whose array length differs.
EMB_DIM = 64

# --- dialect fragments -----------------------------------------------------

# Per-row prep: cast the vector to double ONCE and precompute its L2 norm —
# O(n) work hoisted out of the O(n²) pair stage, leaving a single fold per
# pair. The per-pair value is bit-identical to computing norms inline
# (same products, same left-fold order, same SQRT-then-multiply), so the
# cross-engine 6-dp hash parity is preserved.
_SPARK_PREP = """
    SELECT vec_id,
           transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
           SQRT(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          0.0D, (acc, v) -> acc + v)) AS nrm
    FROM embeddings
"""

_DUCK_PREP = """
    SELECT vec_id,
           embedding::DOUBLE[] AS emb,
           SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
"""

# Left-fold dot product over the pre-cast vectors, in double.
_SPARK_COS = """
    aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y),
              0.0D, (acc, v) -> acc + v) / (a.nrm * b.nrm)
"""

_DUCK_COS = "list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)"


def _nearest_sql(
    points: str,
    cents: str,
    cos: str,
    carry: tuple[str, ...] = (),
    key: str = "cid",
    on: str = "1 = 1",
    hint: str = "",
) -> str:
    """The one nearest-centroid rank: every ``points`` row (alias ``a``)
    against the ``cents`` rows (alias ``b``) it joins ``on``, ranked by
    the 6-dp-rounded cosine, ties to the smallest ``key``. Emits
    (vec_id, <carry>, <key>, ccos, rn); callers filter ``rn = 1`` for
    the assignment or ``rn <= nprobe`` for a probe set.

    The cosine is projected before the window ranks it, so the window
    buffers narrow (vec_id, key, ccos) rows: a DuckDB window ordered on
    the cosine expression over the raw join buffers both ``emb`` arrays
    of every pair and does not fit its memory cap at the 10x probe."""
    cols = ", ".join(("a.vec_id", *carry, f"b.{key}"))
    return f"""
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, {key}) AS rn
        FROM (SELECT {hint}{cols}, ROUND({cos}, 6) AS ccos
              FROM {points} a JOIN {cents} b ON {on}) p
    """


# Rows-per-task target for the user cid repartitions feeding the BLAS
# verdict / ADC applyInPandas stages. The width scales with the input:
# full core width at the 100× probe (200k rows), a handful of tasks at
# the base SF (n=2000), where a 32-way shuffle of ~60-row tasks is pure
# scheduling cost; at 100 TB the min() saturates at the core count.
CID_TASK_ROWS = 4096


def _cid_width(spark: SparkSession, n: int) -> int:
    return max(
        1,
        min(spark.sparkContext.defaultParallelism, -(-n // CID_TASK_ROWS)),
    )


def _emb_view(spark: SparkSession, sf_dir: str) -> None:
    # Single-row-group parquet → single-task scan; spread vectors so the
    # fold-heavy scoring parallelizes (see llm_dedup._docs_view). The raw
    # (unrepartitioned) scan is registered alongside for scalar-only
    # derivations (corpus count): counting through the repartitioned view
    # would execute its exchange as a full extra shuffle job.
    #
    # The spread is CONDITIONAL: when the input
    # already splits to >= core-count scan tasks (the 32-file probe
    # corpora under the minPartitionNum floor, any real multi-file
    # table), the round-robin exchange is a full shuffle of the corpus
    # payload for nothing — measured 53 MB/rep on every ANN row at the
    # 100× probe; at 100 TB it would re-shuffle the entire corpus once
    # per query. Row order is the only thing the spread changes, and
    # every consumer is row-order-independent (keyed aggregations,
    # row-wise kernels, rank windows with total tie-breaks).
    raw = load_table(spark, sf_dir, "embeddings")
    raw.createOrReplaceTempView("embeddings_raw")
    if len(raw.inputFiles()) >= spark.sparkContext.defaultParallelism:
        raw.createOrReplaceTempView("embeddings")
    else:
        raw.repartition(
            spark.sparkContext.defaultParallelism
        ).createOrReplaceTempView("embeddings")


def _matmul_assign(
    spark: SparkSession,
    n_universe: int | None = None,
    n_total: int | None = None,
) -> DataFrame:
    """Cluster assignment as one broadcast matmul per Arrow batch.

    The SQL form (vectors × centroids cross join, per-pair 64-element
    fold, then argmax) pays an interpreted lambda per dot product —
    n·√n folds dominate both IVF index build and semantic dedup once the
    pair stages are matmul-vectorized. Here the ≤√n centroid rows (the
    ``vec_id < nlist`` prefix, cid-ascending) collect once and broadcast
    (√n·d doubles: 16 MB at a billion 64-dim vectors — the same thing
    ``ivf_topk_kmeans`` already ships as literal cluster centers), and
    each Arrow batch scores against them with BLAS (the
    ``_centroid_assign_fn`` kernel: raw argmax + 2e-6-margin tie repair
    ≡ the oracle's round-6dp-then-first-max over the cid-ascending
    axis; see its docstring for the half-to-even caveat).

    ``n_total`` is the corpus size (a footer row count); only nlist, a
    scalar, depends on it. ``n_universe`` instead clips the corpus to the
    id-aligned prefix ``vec_id < n_universe`` (the hybrid-retrieval item
    universe) and is then also the corpus size. Returns
    (vec_id, emb, nrm, cid, ccos).
    """
    prepped = spark.sql(_SPARK_PREP)
    n = n_total
    if n_universe is not None:
        prepped = prepped.where(F.col("vec_id") < n_universe)
        n = n_universe
    bc = _prefix_centroids(spark, prepped, _ivf_nlist(n))
    return prepped.mapInPandas(
        _centroid_assign_fn(bc, "ivf_assign_s"), _SEM_ASSIGN_SCHEMA
    )


def _prefix_centroids(spark: SparkSession, prepped: DataFrame, nlist: int):
    """Broadcast (cent_mat, cids): the unit vectors of ``prepped``'s
    ``vec_id < nlist`` prefix, cid-ascending — the prefix-centroid rule
    every IVF geometry in this module uses."""
    import numpy as np

    rows = prepped.where(F.col("vec_id") < nlist).orderBy("vec_id").collect()
    cent_mat = unit([r["emb"] for r in rows], [r["nrm"] for r in rows])
    cids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    return spark.sparkContext.broadcast((cent_mat, cids))


def _topk_sql(cos: str, prep: str) -> str:
    return f"""
    WITH e AS ({prep}),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               ROUND({cos}, 6) AS cosine
        FROM (SELECT * FROM e WHERE {QUERY_FILTER}) a
        JOIN e b ON a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@query(
    "cosine_topk", oracle=_topk_sql(_DUCK_COS, _DUCK_PREP), scale_path="exact_topk"
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for each query vector (brute force).

    Spark plans this as BroadcastNestedLoopJoin (query side is tiny) →
    per-row fold → windowed top-k; the fact side is scanned once. The
    registered scale path is ``exact_topk`` (same rows, BLAS-batched —
    never schedule this fold plan on a real corpus); ``exact_topk``
    chains on to ``ivf_topk`` where approximate recall is acceptable.
    """
    _emb_view(spark, sf_dir)
    return spark.sql(_topk_sql(_SPARK_COS, _SPARK_PREP))


def _near_pairs_sql(cos: str, prep: str) -> str:
    return f"""
    WITH e AS ({prep}),
    scored AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({cos}, 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM scored
    WHERE cosine >= {NEAR_PAIR_THRESHOLD}
    """


@query(
    "embedding_near_pairs",
    oracle=_near_pairs_sql(_DUCK_COS, _DUCK_PREP),
    scale_path="embedding_near_pairs_lsh",
)
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold self-join).

    Scale: quadratic as written — the honest exact baseline. The LSH bucket
    join below is the production shape (same scoring expr on candidates).
    """
    _emb_view(spark, sf_dir)
    return spark.sql(_near_pairs_sql(_SPARK_COS, _SPARK_PREP))


# Random-hyperplane LSH. Plane j's weight on dim d = +1 if the first hex
# char of md5('j_d') is odd else -1 — engine-independent, no RNG needed.
def _planes_sql(strpos_fn: str) -> str:
    """Builds rows (j, plane) where plane is a 64-long array of ±1."""
    return f"""
        SELECT j, transform(sequence(0, {EMB_DIM - 1}),
                   d -> CASE WHEN {strpos_fn}('13579bdf',
                                  substring(md5(concat(j, '_', d)), 1, 1)) > 0
                             THEN 1.0D ELSE -1.0D END) AS plane
        FROM (SELECT explode(sequence(0, {LSH_PLANES - 1})) AS j)
    """


_DUCK_PLANES = f"""
        SELECT j, list_transform(generate_series(0, {EMB_DIM - 1}),
                   d -> CASE WHEN strpos('13579bdf',
                                  substr(md5(concat(j, '_', d)), 1, 1)) > 0
                             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS plane
        FROM (SELECT unnest(generate_series(0, {LSH_PLANES - 1})) AS j)
"""

_SPARK_BUCKETS = f"""
    WITH planes AS ({_planes_sql('instr')}),
    dots AS (
        SELECT e.vec_id, p.j,
               aggregate(zip_with(e.embedding, p.plane,
                                  (x, w) -> CAST(x AS DOUBLE) * w),
                         0.0D, (acc, v) -> acc + v) AS dot
        FROM embeddings e CROSS JOIN planes p
    )
    SELECT vec_id,
           SUM(CASE WHEN dot >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS bucket
    FROM dots GROUP BY vec_id
"""

_DUCK_BUCKETS = f"""
    WITH planes AS ({_DUCK_PLANES}),
    dots AS (
        SELECT e.vec_id, p.j,
               list_dot_product(e.embedding::DOUBLE[], p.plane) AS dot
        FROM embeddings e CROSS JOIN planes p
    )
    SELECT vec_id,
           -- outer CAST: DuckDB SUM(BIGINT) yields HUGEINT -> pandas float64
           CAST(SUM(CASE WHEN dot >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
"""


@query("lsh_buckets", oracle=_DUCK_BUCKETS)
def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket id (8 hyperplanes → 256 buckets) per vector.

    Scale: planes are a constant 8×64 array (broadcast); bucketing is one
    narrow pass over the vectors, then similarity joins become equi-joins
    on ``bucket``.
    """
    _emb_view(spark, sf_dir)
    return spark.sql(_SPARK_BUCKETS)


NEAR_LSH_TABLES = 4  # multi-table sign-LSH: 4 tables × 4 planes each
NEAR_LSH_PLANES_PER_TABLE = 4


def _near_pairs_lsh_sql(prep: str, planes: str, plane_dot: str, cos: str, intdiv: str) -> str:
    """Multi-table bucketed near-pair search.

    One table of 8 planes keeps only ~3% of cosine-0.4 pairs
    ((1−θ/π)⁸); 4 independent tables of 4 planes each recall
    1−(1−(1−θ/π)⁴)⁴ ≈ 50% — the standard recall knob (add tables for
    more). Candidates = same bucket in ANY table, deduped before the
    exact cosine threshold. ``plane_dot`` is the dialect's dot-product of
    ``e.emb`` with ``p.plane``.
    """
    ppt = NEAR_LSH_PLANES_PER_TABLE
    return f"""
    WITH e AS ({prep}),
    planes AS ({planes}),
    dots AS (
        SELECT e.vec_id, p.j,
               CASE WHEN {plane_dot} >= 0 THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN planes p
    ),
    buckets AS (
        SELECT vec_id, (j {intdiv} {ppt}) AS tbl,
               CAST(SUM(bit * CAST(POW(2, j % {ppt}) AS BIGINT)) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id, (j {intdiv} {ppt})
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM buckets x JOIN buckets y
          ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    scored AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({cos}, 6) AS cosine
        FROM cand JOIN e a ON a.vec_id = cand.id_a
                  JOIN e b ON b.vec_id = cand.id_b
    )
    SELECT vec_a, vec_b, cosine FROM scored
    WHERE cosine >= {NEAR_PAIR_THRESHOLD}
    """


_N_NEAR_PLANES = NEAR_LSH_TABLES * NEAR_LSH_PLANES_PER_TABLE  # 16


def _spark_planes_n(n_planes: int) -> str:
    return f"""
        SELECT j, transform(sequence(0, {EMB_DIM - 1}),
                   d -> CASE WHEN instr('13579bdf',
                                  substring(md5(concat(j, '_', d)), 1, 1)) > 0
                             THEN 1.0D ELSE -1.0D END) AS plane
        FROM (SELECT explode(sequence(0, {n_planes - 1})) AS j)
"""


def _duck_planes_n(n_planes: int) -> str:
    return f"""
        SELECT j, list_transform(generate_series(0, {EMB_DIM - 1}),
                   d -> CASE WHEN strpos('13579bdf',
                                  substr(md5(concat(j, '_', d)), 1, 1)) > 0
                             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS plane
        FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS j)
"""


_SPARK_NEAR_PLANES = _spark_planes_n(_N_NEAR_PLANES)

_DUCK_NEAR_PLANES = _duck_planes_n(_N_NEAR_PLANES)


# Runtime-count plane builders (the plane count is a scalar subquery over
# the corpus, not a compile-time literal — see ANN_LSH_PPT_SQL).
def _spark_planes_expr(n_expr: str) -> str:
    return f"""
        SELECT j, transform(sequence(0, {EMB_DIM - 1}),
                   d -> CASE WHEN instr('13579bdf',
                                  substring(md5(concat(j, '_', d)), 1, 1)) > 0
                             THEN 1.0D ELSE -1.0D END) AS plane
        FROM (SELECT explode(sequence(0, {n_expr} - 1)) AS j)
"""


def _duck_planes_expr(n_expr: str) -> str:
    return f"""
        SELECT j, list_transform(generate_series(0, {EMB_DIM - 1}),
                   d -> CASE WHEN strpos('13579bdf',
                                  substr(md5(concat(j, '_', d)), 1, 1)) > 0
                             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS plane
        FROM (SELECT unnest(generate_series(0, {n_expr} - 1)) AS j)
"""

_SPARK_PLANE_DOT = """aggregate(zip_with(e.emb, p.plane,
                   (x, w) -> x * w), 0.0D, (acc, v) -> acc + v)"""
_DUCK_PLANE_DOT = "list_dot_product(e.emb, p.plane)"


@query(
    "embedding_near_pairs_lsh",
    oracle=_near_pairs_lsh_sql(
        _DUCK_PREP, _DUCK_NEAR_PLANES, _DUCK_PLANE_DOT, _DUCK_COS, "//"
    ),
)
def embedding_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-pair search's scale path: same exact cosine threshold, but
    candidates come from a multi-table sign-LSH bucket equi-join instead
    of the full O(n²) cross-pairing — cross-bucket pairs are missed by
    design (~50% recall at the 0.4 threshold with 4×4 tables; add tables
    to raise it), identical in the oracle so parity is exact.
    """
    _emb_view(spark, sf_dir)
    return spark.sql(
        _near_pairs_lsh_sql(
            _SPARK_PREP, _SPARK_NEAR_PLANES, _SPARK_PLANE_DOT, _SPARK_COS, "div"
        )
    )


IVF_NLIST_MIN = 16  # nlist floor; actual nlist = max(16, floor(sqrt(n)))
# The standard IVF quality knob: each query searches its nprobe nearest
# clusters. IVF_NPROBE is a FLOOR — the effective value is derived from
# the index geometry as max(IVF_NPROBE, ceil(3·√nlist)), the same rule as
# the PQ family's ``_pq_knobs`` (llm_ann_pq.py). A constant nprobe is an
# at-scale defect: with nlist = √n and nprobe fixed, probed coverage
# nprobe/nlist decays as n^(-1/2), and measured recall@10 decayed
# 0.68→0.43 (prefix) / 0.66→0.58 (kmeans) from sf0.01 to sf0.1. With
# nprobe = 3·√nlist = 3·n^(1/4), probed candidates grow as
# nprobe·(n/nlist) = 3·n^(3/4) — sublinear, while coverage decays only as
# n^(-1/4) against a top-k set whose difficulty is roughly scale-free on
# this corpus. Floors pinned at all three SFs by tests/test_recall.py.
IVF_NPROBE = 8

# nlist derived from the corpus inside the query itself: ⌊√n⌋ with a floor
# of 16, as an uncorrelated scalar subquery both engines evaluate from the
# same COUNT(*). FLOOR (not ROUND) so half-even vs half-up rounding can't
# diverge the engines. At 100 TB the count comes free from table metadata;
# here it is one cheap pre-pass. nlist = √n balances the two stages —
# assignment (n·nlist dots) and per-cluster search (n/nlist candidates per
# query) are both O(n^1.5) — fixing nlist leaves search O(n²) (10.1×
# at the 10× probe, BENCH_SCALING.md).
def _geom_knobs(count: str, from_rel: str = "") -> tuple[str, str]:
    """One builder for the IVF geometry knobs (nlist, nprobe) as SQL,
    parametrized by the COUNT expression (and optional FROM relation)
    the knobs derive from — the full corpus for the IVF family, the
    item universe for the hybrid-fusion twin. One source of truth, so a
    change to the nprobe rule reaches every IVF query at once."""
    tail = f" FROM {from_rel}" if from_rel else ""
    nlist = (
        f"(SELECT GREATEST({IVF_NLIST_MIN}, CAST(FLOOR(SQRT({count})) AS BIGINT))"
        f"{tail})"
    )
    nprobe = (
        f"(SELECT GREATEST({IVF_NPROBE}, CAST(CEIL(3 * SQRT("
        f"GREATEST({IVF_NLIST_MIN}, FLOOR(SQRT({count}))))) AS BIGINT))"
        f"{tail})"
    )
    return nlist, nprobe


# nprobe: max(IVF_NPROBE, ceil(3·√nlist)) — one expression so the Spark
# and DuckDB dialects cannot drift; CEIL's argument is 3·sqrt(integer),
# exact IEEE doubles on both engines, so the ceiling cannot straddle an
# engine-specific rounding boundary.
_IVF_NLIST_SQL, _IVF_NPROBE_SQL = _geom_knobs("COUNT(*)", "embeddings")


def _ivf_sql(prep: str, cos: str, centroid_filter: str) -> str:
    """IVF top-k, one dialect-parametrized SQL for both engines.

    Centroids are the first nlist vectors by vec_id — deterministic, so
    the whole index build + search is value-checkable. A KMeans-trained
    centroid table drops in with the identical plan shape: broadcast
    centroids → per-vector argmax assignment → equi-join on cluster id.

    ``cdist`` ranks every vector's centroid distances once: rn = 1 is the
    index assignment (each vector lives in exactly one cluster), and the
    query side takes rn <= nprobe as its probe set — so a (query,
    candidate) pair appears at most once and no dedup is needed.
    """
    return f"""
    WITH e AS ({prep}),
    cent AS (SELECT vec_id AS cid, emb, nrm FROM e WHERE {centroid_filter}),
    cdist AS ({_nearest_sql("e", "cent", cos)}),
    clustered AS (
        SELECT e.vec_id, e.emb, e.nrm, c.cid
        FROM e JOIN (SELECT vec_id, cid FROM cdist WHERE rn = 1) c
          ON e.vec_id = c.vec_id
    ),
    qprobe AS (
        SELECT vec_id, cid FROM cdist
        WHERE rn <= {_IVF_NPROBE_SQL} AND {QUERY_FILTER}
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               ROUND({cos}, 6) AS cosine
        FROM (SELECT q.vec_id, q.emb, q.nrm, p.cid
              FROM (SELECT * FROM clustered WHERE {QUERY_FILTER}) q
              JOIN qprobe p ON q.vec_id = p.vec_id) a
        JOIN clustered b ON a.cid = b.cid AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


_IVF_CENTROIDS = f"vec_id < {_IVF_NLIST_SQL}"


@query("ivf_topk", oracle=_ivf_sql(_DUCK_PREP, _DUCK_COS, _IVF_CENTROIDS))
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(nlist=⌊√n⌋, nprobe=max(8, ⌈3√nlist⌉)) approximate top-k — the
    trained-index twin of the sign-LSH path.

    Scale: the centroid table is small (≤√n rows — broadcast); assignment
    is one narrow pass over the vectors (argmax over nlist dots); search
    is an equi-join on cluster id with √n-bounded per-cluster lists,
    nprobe lists per query. Both knobs derive from the corpus IN-QUERY
    (``_IVF_NLIST_SQL`` / ``_IVF_NPROBE_SQL``): nlist tracks the corpus
    (a fixed nlist=16 measured 10.1× at the 10× probe because
    per-cluster lists grew linearly), and nprobe tracks nlist (a
    fixed nprobe=8 measured recall@10 decaying 0.68→0.43 from sf0.01 to
    sf0.1 because probed coverage decays n^(-1/2)); probed candidates
    grow 3·n^(3/4), sublinear. Recall floors pinned at all three SFs by
    tests/test_recall.py. Swapping the deterministic seed centroids for
    KMeans-trained ones changes recall, not the plan.
    """
    _emb_view(spark, sf_dir)
    # Assignment = one broadcast matmul per Arrow batch (_matmul_assign;
    # same 6-dp-rounded argmax semantics as the oracle's window). The
    # checkpoint materializes the Python stage once — the probe ranking
    # and both sides of the cluster equi-join read it back.
    _matmul_assign(
        spark, n_total=table_rowcount(sf_dir, "embeddings")
    ).select("vec_id", "emb", "nrm", "cid").localCheckpoint(
        eager=True
    ).createOrReplaceTempView("ivf_clustered")
    # The centroid table is <= sqrt(n) rows: broadcast it (the checkpointed
    # view has no stats, so the planner would otherwise fall back to
    # CartesianProduct).
    probe = _nearest_sql(
        f"(SELECT * FROM ivf_clustered WHERE {QUERY_FILTER})",
        "cent",
        _SPARK_COS,
        hint="/*+ BROADCAST(b) */ ",
    )
    return spark.sql(
        f"""
        WITH cent AS (SELECT vec_id AS cid, emb, nrm FROM ivf_clustered
                      WHERE {_IVF_CENTROIDS}),
        qprobe AS (
            SELECT vec_id, cid FROM ({probe}) WHERE rn <= {_IVF_NPROBE_SQL}
        ),
        scored AS (
            -- broadcast the probe side so AQE cannot coalesce the join to one task
            SELECT /*+ BROADCAST(a) */
                   a.vec_id AS query_id, b.vec_id AS vec_id,
                   ROUND({_SPARK_COS}, 6) AS cosine
            FROM (SELECT q.vec_id, q.emb, q.nrm, p.cid
                  FROM (SELECT * FROM ivf_clustered WHERE {QUERY_FILTER}) q
                  JOIN qprobe p ON q.vec_id = p.vec_id) a
            JOIN ivf_clustered b ON a.cid = b.cid AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= {TOP_K}
        """
    )


# The ANN search ranks ALL true neighbors (not just θ<0.4-class pairs), so
# it needs more tables than the pair search for the same floor: measured
# per-table collision ~0.11 for a true top-10 neighbor → 4 tables = 0.37
# recall@10, 8 tables ≈ 0.60 (1-(1-p)^T).
ANN_LSH_TABLES = 8
# planes-per-table floor; the actual value derives from the corpus size
# IN-QUERY as max(4, floor(log2(n)) - 7), so expected bucket population
# n/2^ppt stays pinned at ~128 as the corpus grows (with ppt fixed, the
# bucket equi-join's per-bucket pair count — and the candidate set — grow
# linearly with n). At the
# driver-verified SFs (n <= 5000) the expression floors at 4, so recall
# and parity behavior there are byte-identical to the fixed-ppt form.
ANN_LSH_PPT_MIN = 4
ANN_LSH_PPT_SQL = (
    f"GREATEST({ANN_LSH_PPT_MIN}, CAST(FLOOR(LOG2(COUNT(*))) AS INT) - 7)"
)


def _ann_lsh_tail_sql(cos: str, buckets: str) -> str:
    """The candidate/score/rank tail of the multi-table ANN search,
    shared VERBATIM by the oracle (which derives ``buckets`` from the
    dots CTE) and the Spark side (which reads the kernel-built
    ``ann_lsh_buckets`` view) — one copy of the join-order and
    tie-break conventions, the `_pq_knobs` drift lesson. The scoring join
    attaches the corpus-side embedding first, so the ``cand`` exchange
    carries ids only, and broadcasts only the |Q|-row query slice, never
    the corpus embeddings."""
    return f"""cand AS (
        SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS vec_id
        FROM {buckets} x JOIN {buckets} y
          ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
        WHERE x.{QUERY_FILTER}
    ),
    scored AS (
        -- attach corpus embeddings first, then broadcast the |Q|-row query slice
        SELECT /*+ BROADCAST(a) */
               b.query_id, b.vec_id, ROUND({cos}, 6) AS cosine
        FROM (SELECT cand.query_id, ie.vec_id, ie.emb, ie.nrm
              FROM cand JOIN e ie ON ie.vec_id = cand.vec_id) b
        JOIN (SELECT * FROM e WHERE {QUERY_FILTER}) a
          ON a.vec_id = b.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}"""


def _lsh_plane_matrix(n_planes: int) -> "np.ndarray":
    """Driver-side twin of ``_spark_planes_expr``'s ±1 plane table:
    plane[j][d] = +1 iff the first hex char of md5("{j}_{d}") is odd
    (the '13579bdf' set = an odd top nibble). Bit-parity with the SQL
    expression is pinned by tests/test_llm_ops.py::
    test_lsh_plane_matrix_matches_sql."""
    import hashlib

    import numpy as np

    mat = np.empty((n_planes, EMB_DIM), dtype=np.float64)
    for j in range(n_planes):
        for d in range(EMB_DIM):
            nib = hashlib.md5(f"{j}_{d}".encode()).digest()[0] >> 4
            mat[j, d] = 1.0 if nib % 2 == 1 else -1.0
    return mat


def _ann_lsh_buckets_view(spark: SparkSession, sf_dir: str) -> None:
    """Register ``ann_lsh_buckets`` (vec_id, tbl, bucket) via a BLAS
    bucketing kernel. The SQL dots CTE (the oracle's form) pays one
    interpreted 64-element fold per (vector, plane) pair — 16M folds
    ≈ 100 s CPU at the 100× probe — plus a 16M-row aggregation exchange
    into the buckets groupBy. The kernel computes each vector's full bit
    row with one matmul against the broadcast plane matrix and folds the
    per-table bucket ids in-row: no plane cross join, no dots
    aggregation, no shuffle at all.

    BIT-SAFETY of the sign test: ``dot >= 0`` on an
    unrounded fold is knife-edge under BLAS summation-order changes, so
    any |dot| < 1e-9 is recomputed with the exact left fold (same
    multiplications, same addition order as the SQL lambda) and its
    sign is authoritative — the `_matmul_assign` margin-repair scheme.
    The margin is ~4 orders above the worst fold-vs-BLAS drift for 64
    doubles (~1e-13 relative) and candidate repairs are ~0 in practice,
    so the repair loop is free.

    ppt derives from the corpus count driver-side (floor(log2(n))-7,
    floored at {ANN_LSH_PPT_MIN}) — log2 of an exact BIGINT matches the
    SQL scalar-subquery form bit-for-bit; the count comes from the
    parquet footer (table_rowcount), so it costs no Spark job.
    """
    import math

    import numpy as np

    n = table_rowcount(sf_dir, "embeddings")
    ppt = max(ANN_LSH_PPT_MIN, int(math.floor(math.log2(n))) - 7)
    nplanes = ANN_LSH_TABLES * ppt
    planes = _lsh_plane_matrix(nplanes)
    weights = (1 << (np.arange(nplanes, dtype=np.int64) % ppt)).astype(
        np.int64
    )
    bc = spark.sparkContext.broadcast((planes, weights, ppt))

    def buckets(batches):
        import numpy as np
        import pandas as pd

        P, w, ppt_ = bc.value
        tbls = np.arange(ANN_LSH_TABLES, dtype=np.int32)
        # Arrow batches cap at maxRecordsPerBatch (10k) — one fixed-size
        # score slab serves every batch (and every task: worker reuse).
        cap = 10_240
        for pdf in batches:
            m = np.stack(pdf["emb"].to_numpy())
            nr = len(m)
            if nr <= cap:
                d = np.matmul(
                    m, P.T, out=worker_buf("lsh_dots", (cap, len(P)))[:nr]
                )
            else:
                d = m @ P.T
            # margin repair: exact left fold decides knife-edge signs
            for i, j in zip(*np.nonzero(np.abs(d) < 1e-9)):
                acc = 0.0
                row, pl = m[i], P[j]
                for k in range(EMB_DIM):
                    acc += row[k] * pl[k]
                d[i, j] = 1.0 if acc >= 0 else -1.0
            bits = (d >= 0).astype(np.int64)
            bkt = (bits * w).reshape(nr, ANN_LSH_TABLES, ppt_).sum(axis=2)
            vec = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vec, ANN_LSH_TABLES),
                    "tbl": np.tile(tbls, nr),
                    "bucket": bkt.reshape(-1),
                }
            )

    # Materialized once: the candidate self-join reads it on both sides,
    # and the sides differ (x is query-filtered), so Spark cannot reuse
    # one side's exchange and would run the kernel twice.
    spark.sql(_SPARK_PREP).select("vec_id", "emb").mapInPandas(
        buckets, "vec_id BIGINT, tbl INT, bucket BIGINT"
    ).localCheckpoint(eager=True).createOrReplaceTempView("ann_lsh_buckets")


def _ann_topk_lsh_sql(
    planes_n_fn,
    prep: str,
    plane_dot: str,
    cos: str,
    intdiv: str,
    count_rel: str = "e",
) -> str:
    """Multi-table bucketed approximate top-k (the ANN twin of
    ``_near_pairs_lsh_sql``): candidates = any same-bucket vector in ANY
    of the {ANN_LSH_TABLES} tables, deduped, then exact cosine rank.

    A single table of {LSH_PLANES} planes gives ~n/2^{LSH_PLANES}-sized
    buckets — so few candidates that measured recall@10 was ~0 on the
    synthetic corpus. Multi-table is the standard fix (same math as the
    pair search: recall 1-(1-p^ppt)^T per true neighbor); the recall
    floor is pinned by tests/test_recall.py. Planes-per-table scales
    with corpus size via the 1-row ``params`` relation (cross-joined —
    the engine broadcasts it). ``count_rel`` is the relation params
    counts: DuckDB counts the prep CTE (materialized once), while Spark
    passes the raw-scan view — Spark inlines CTE references, so counting
    ``e`` there would re-execute the repartition exchange (a full id
    shuffle) once per params reference. ``planes_n_fn(count_expr)``
    builds the dialect's plane table with a runtime plane count.
    """
    t = ANN_LSH_TABLES
    return f"""
    WITH e AS ({prep}),
    params AS (SELECT {ANN_LSH_PPT_SQL} AS ppt FROM {count_rel}),
    planes AS ({planes_n_fn(f"(SELECT {t} * ppt FROM params)")}),
    dots AS (
        SELECT e.vec_id, p.j,
               CASE WHEN {plane_dot} >= 0 THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN planes p
    ),
    lsh_buckets AS (
        SELECT vec_id, (j {intdiv} ppt) AS tbl,
               CAST(SUM(bit * CAST(POW(2, j % ppt) AS BIGINT)) AS BIGINT) AS bucket
        FROM dots CROSS JOIN params GROUP BY vec_id, (j {intdiv} ppt)
    ),
    {_ann_lsh_tail_sql(cos, "lsh_buckets")}
    """


@query(
    "ann_topk_lsh",
    oracle=_ann_topk_lsh_sql(
        _duck_planes_expr,
        _DUCK_PREP,
        _DUCK_PLANE_DOT,
        _DUCK_COS,
        "//",
    ),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: candidates from the
    query's bucket in any of the {ANN_LSH_TABLES} hash tables
    (equi-join on (table, bucket), deduped), then exact cosine rank
    within candidates — same quality knob family as IVF nprobe. Fully
    value-checked: bucketing, scoring, and rank are all deterministic,
    so the whole pipeline has a DuckDB oracle; the recall floor vs the
    exact twin is pinned by tests/test_recall.py.

    Scale: bucketing is one narrow pass per vector — the BLAS kernel
    behind ``ann_lsh_buckets``: one matmul per Arrow batch
    against the broadcast plane matrix with margin-repaired signs, the
    per-table bucket fold done in-row (the SQL dots CTE paid one
    interpreted 64-element fold per (vector, plane) pair — 16M folds at
    the 100× probe — plus a 16M-row aggregation exchange; the oracle
    keeps that form and pins the kernel bit-exact). Plane count derives
    from the corpus size (max(4, log2(n)-7) planes per table, so
    expected bucket population stays ~constant as n grows); candidates
    come from {ANN_LSH_TABLES} bucket equi-joins — no all-pairs stage;
    DISTINCT dedup keys on (query, candidate).
    """
    _emb_view(spark, sf_dir)
    _ann_lsh_buckets_view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH e AS ({_SPARK_PREP}),
        {_ann_lsh_tail_sql(_SPARK_COS, "ann_lsh_buckets")}
        """
    )


# KMeans training-sample bound (vec_id prefix): ~nlist*1e3 points at the
# test SFs covers the whole corpus; at 100 TB it is what makes training
# feasible at all. Deterministic by construction (no sample() RNG).
KMEANS_TRAIN_N = 65536


def _ivf_nprobe(nlist: int) -> int:
    """Driver-side twin of ``_IVF_NPROBE_SQL`` — max(floor, ⌈3√nlist⌉),
    the same geometry rule as the PQ family's ``_pq_knobs``."""
    import math

    return max(IVF_NPROBE, math.ceil(3 * nlist**0.5))


def ivf_kmeans_search(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """IVF top-k with *learned* centroids: the KMeans drop-in that
    ``ivf_topk`` documents. Train MLlib KMeans (fixed seed) on the corpus,
    assign every vector JVM-side via ``model.transform``, then search the
    ``nprobe`` clusters nearest each query. ``nprobe`` defaults to the
    geometry-derived max(8, ⌈3√nlist⌉) (``_ivf_nprobe``): a fixed
    nprobe=8 measured recall@10 decaying 0.66→0.58 from sf0.01 to sf0.1 as
    probed coverage shrank n^(-1/2) — the same defect class ``_pq_knobs``
    fixed for the PQ family; floors pinned at all three SFs in
    tests/test_recall.py.

    Scale: training runs on a bounded deterministic sample (centroid
    quality needs ~nlist·1e3 points, not the corpus — fitting on the full
    relation made training the dominant cost and would be flatly
    impossible at 100 TB); assignment is one narrow pass over everything;
    the centroid table stays ≤√n rows (broadcast to rank probes per
    query); the search is still a cluster equi-join with √n-bounded
    lists, just with nprobe candidate lists per query instead of one.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    _emb_view(spark, sf_dir)
    prepped = spark.sql(_SPARK_PREP)
    vecs = prepped.withColumn("features", array_to_vector("emb"))
    # Same nlist rule as ivf_topk: √n, floored at 16. ONE aggregation pass
    # covers both the corpus count and the training-prefix emptiness
    # guard (a separate take(1) would be one more Spark job per index
    # build); at 100 TB both come from the catalog.
    stats = vecs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("vec_id") < KMEANS_TRAIN_N).alias("n_prefix"),
    ).collect()[0]
    nlist = _ivf_nlist(stats["n"])
    if nprobe is None:
        nprobe = _ivf_nprobe(nlist)
    # Deterministic training sample: the vec_id prefix (same rule as the
    # PQ codebook sample) capped at KMEANS_TRAIN_N — identical centroids
    # on any cluster size or rerun, unlike a fraction-based sample.
    # Sparse / non-zero-based vec_ids leave the prefix empty; fall back
    # to the full relation rather than crash KMeans.fit (correct at any
    # id layout, just slower).
    train = (
        vecs.where(F.col("vec_id") < KMEANS_TRAIN_N)
        if stats["n_prefix"]
        else vecs
    )
    model = KMeans(
        k=nlist, seed=7, maxIter=5, featuresCol="features", predictionCol="cid"
    ).fit(train)
    assigned = (
        model.transform(vecs)
        .select("vec_id", "emb", "nrm", "cid")
        .localCheckpoint(eager=True)
    )
    assigned.createOrReplaceTempView("ivf_kmeans_clustered")
    # Centroids leave the JVM once as a ≤√n-row literal table (the exact
    # thing a 1000-executor cluster would broadcast from the index build).
    centers = [
        (i, [float(x) for x in c], float(sum(x * x for x in c) ** 0.5))
        for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(
        centers, "cid INT, cemb ARRAY<DOUBLE>, cnrm DOUBLE"
    ).createOrReplaceTempView("ivf_kmeans_centroids")
    probe_cos = """
        aggregate(zip_with(q.emb, c.cemb, (x, y) -> x * y),
                  0.0D, (acc, v) -> acc + v) / (q.nrm * c.cnrm)
    """
    return spark.sql(
        f"""
        WITH probes AS (
            SELECT q.vec_id AS qid, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {probe_cos} DESC, c.cid) AS prn
            FROM (SELECT * FROM ivf_kmeans_clustered WHERE {QUERY_FILTER}) q
            CROSS JOIN ivf_kmeans_centroids c
        ),
        qprobe AS (SELECT qid, cid FROM probes WHERE prn <= {nprobe}),
        scored AS (
            -- BROADCAST the pool-sized probe side (r17): same fix as
            -- ivf_topk — AQE otherwise coalesces the tiny probe exchange
            -- to one partition and the scoring join's ~5000x fan-out of
            -- cosine folds runs on a single task.
            SELECT /*+ BROADCAST(a) */
                   a.vec_id AS query_id, b.vec_id AS vec_id,
                   ROUND({_SPARK_COS}, 6) AS cosine
            FROM (SELECT q.vec_id, q.emb, q.nrm, p.cid AS pcid
                  FROM (SELECT * FROM ivf_kmeans_clustered
                        WHERE {QUERY_FILTER}) q
                  JOIN qprobe p ON q.vec_id = p.qid) a
            JOIN ivf_kmeans_clustered b
              ON a.pcid = b.cid AND a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored
        )
        SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk
        FROM ranked WHERE rnk <= {TOP_K}
        """
    )


@query(
    "ivf_topk_kmeans",
    oracle=f"""
    WITH e AS ({_DUCK_PREP})
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM e WHERE {QUERY_FILTER}
    """,
)
def ivf_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality contract for :func:`ivf_kmeans_search` (the learned-centroid
    IVF). Iterative KMeans training is not SQL-expressible, so instead of a
    rows-only check the emission is a *thresholded recall* the driver can
    value-check: run the KMeans search AND the exact ``cosine_topk`` set in
    one query, join them per (query, neighbor), and emit

    - ``n_queries`` — the query-set size (exactly derivable by the oracle);
    - ``recall_ok`` — mean recall@{TOP_K} >= 0.5, which the oracle expects
      to be literal TRUE (the documented nprobe=1-class quality floor;
      pinned tighter in tests/test_recall.py).
    """
    approx = ivf_kmeans_search(spark, sf_dir)
    approx.createOrReplaceTempView("ivf_kmeans_topk")
    exact = spark.sql(_topk_sql(_SPARK_COS, _SPARK_PREP))
    exact.createOrReplaceTempView("cosine_topk_exact")
    return spark.sql(
        f"""
        WITH hits AS (
            SELECT e.query_id,
                   COUNT(a.vec_id) AS n_hit,
                   COUNT(*) AS n_exact
            FROM cosine_topk_exact e
            LEFT JOIN ivf_kmeans_topk a
              ON e.query_id = a.query_id AND e.vec_id = a.vec_id
            GROUP BY e.query_id
        )
        SELECT COUNT(*) AS n_queries,
               AVG(n_hit / n_exact) >= 0.5D AS recall_ok
        FROM hits
        """
    )


@query(
    "embedding_normalized",
    oracle=f"""
    WITH e AS ({_DUCK_PREP})
    SELECT vec_id, CAST(g.i - 1 AS INT) AS pos,
           ROUND(emb[g.i] / nrm, 6) AS val
    FROM e CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) g
    """,
)
def embedding_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalized embeddings, posexploded to (vec_id, pos, val) scalar
    rows — unit vectors are the precondition for dot-product == cosine in
    every downstream ANN index; scalar rows keep the result comparator-
    checkable (the driver rejects array cells).

    The oracle's explode is generate_series(1, EMB_DIM) while Spark
    explodes the actual array — so the Spark side hard-asserts
    len == EMB_DIM per row (raise_error): a datagen dim change fails
    loudly instead of silently diverging the two sides.

    Scale: one narrow pass (norm hoisted once per vector by the shared
    prep), the explode is a row-expanding map with no shuffle.
    """
    _emb_view(spark, sf_dir)
    prepped = spark.sql(_SPARK_PREP)
    checked = prepped.withColumn(
        "emb",
        F.when(F.size("emb") == EMB_DIM, F.col("emb")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding dim != {EMB_DIM}: vec_id "),
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    return checked.select(
        "vec_id",
        F.posexplode(F.expr("transform(emb, x -> ROUND(x / nrm, 6))")).alias(
            "pos", "val"
        ),
    )


# int8 symmetric per-vector quantization: scale = max|x| / 127, codes =
# round-half-up(x / scale) — the storage form an ANN index actually ships
# (4x smaller than f32, 8x than f64). floor(x/s + 0.5) instead of ROUND
# so the half-rule is bit-identical across engines (ROUND is half-up in
# Spark, half-even in some engines).
QUANT_LEVELS = 127


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH e AS ({_DUCK_PREP}),
    s AS (
        SELECT vec_id, emb,
               GREATEST(list_max(list_transform(emb, x -> ABS(x))) / {QUANT_LEVELS}.0,
                        1e-30) AS qs
        FROM e
    )
    SELECT vec_id,
           ROUND(qs, 9) AS qscale,
           CAST(list_sum(list_transform(emb,
                    x -> CAST(FLOOR(x / qs + 0.5) AS BIGINT))) AS BIGINT)
               AS code_sum,
           list_max(list_transform(emb,
                    x -> ABS(FLOOR(x / qs + 0.5) * qs - x))) <= qs * 0.5 + 1e-12
               AS recon_ok
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column —
    the compression step a 100 TB vector store applies before indexing
    (scale in f32/f64, codes in int8; reconstruction x̂ = code · scale).

    Emission is the value-checkable contract: the per-vector scale
    (deterministic max/127), the code checksum (order-independent sum —
    pins every code without emitting an array column the driver
    comparator rejects), and ``recon_ok`` asserting the reconstruction
    error bound |x̂ - x| <= scale/2 that symmetric rounding guarantees —
    the oracle recomputes all three from the same parquet.

    Scale: one narrow codegen pass per vector (two folds + a transform),
    no shuffle, no Python.
    """
    _emb_view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH e AS ({_SPARK_PREP}),
        s AS (
            SELECT vec_id, emb,
                   GREATEST(aggregate(emb, 0.0D, (a, x) -> GREATEST(a, ABS(x)))
                                / {QUANT_LEVELS}.0D,
                            1e-30D) AS qs
            FROM e
        )
        SELECT vec_id,
               ROUND(qs, 9) AS qscale,
               aggregate(emb, 0L,
                         (a, x) -> a + CAST(FLOOR(x / qs + 0.5) AS BIGINT))
                   AS code_sum,
               aggregate(emb, 0.0D,
                         (a, x) -> GREATEST(a, ABS(FLOOR(x / qs + 0.5) * qs - x)))
                   <= qs * 0.5D + 1e-12D
                   AS recon_ok
        FROM s
        """
    )


# --- IVF cluster-balance diagnostics -----------------------------------------
# Skewed inverted lists are THE operational risk of IVF at scale: one hot
# cluster turns the per-cluster equi-join into a straggler (the 100×
# probe corpus deliberately drives 22% of vectors into one cluster).
# This emits the assignment's per-cluster population — size, corpus
# share, size rank, and the ratio to the uniform n/nlist expectation —
# the numbers an operator reads before deciding to split lists, re-train
# centroids, or let AQE's skew-join handle it.


def _cluster_balance_sql(assign_sql: str) -> str:
    """Dialect-shared rollup over a (vec_id, cid) assignment relation.
    share and skew divide exact integers (corpus count, cluster count,
    nlist), so the doubles are identical cross-engine."""
    return f"""
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(COUNT(*) / CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE),
                 6) AS share,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, cid) AS INT)
               AS size_rank,
           ROUND(COUNT(*) * CAST({_IVF_NLIST_SQL} AS DOUBLE)
                 / (SELECT COUNT(*) FROM embeddings), 6) AS x_uniform
    FROM ({assign_sql}) a
    GROUP BY cid
    """


_DUCK_IVF_ASSIGN = f"""
    WITH e AS ({_DUCK_PREP}),
    cent AS (SELECT vec_id AS cid, emb, nrm FROM e WHERE {_IVF_CENTROIDS}),
    cdist AS ({_nearest_sql("e", "cent", _DUCK_COS)})
    SELECT vec_id, cid FROM cdist WHERE rn = 1
"""


@query(
    "ivf_cluster_balance",
    oracle=_cluster_balance_sql(_DUCK_IVF_ASSIGN),
)
def ivf_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster population of the IVF assignment (nlist = ⌊√n⌋ seed
    centroids, the `ivf_topk` index): size, corpus share, size rank, and
    x_uniform = size ÷ (n/nlist) — the skew factor against a balanced
    index. x_uniform ≫ 1 on a head cluster is the signal to split its
    list or re-train centroids BEFORE the search join straggles.

    Scale: assignment is the same broadcast BLAS matmul the search path
    uses (`_matmul_assign`, argmax semantics pinned to the oracle's
    rounded window); the rollup is one groupBy on cid (≤ √n groups) and
    the rank window runs over √n rows on one partition — trivially
    bounded. Shares divide exact integers, identical cross-engine.
    """
    _emb_view(spark, sf_dir)
    _matmul_assign(
        spark, n_total=table_rowcount(sf_dir, "embeddings")
    ).select("vec_id", "cid").createOrReplaceTempView(
        "ivf_balance_assign"
    )
    return spark.sql(
        _cluster_balance_sql("SELECT vec_id, cid FROM ivf_balance_assign")
    )


# x_uniform at which a cluster's inverted list gets split before the
# search join straggles: 2× the balanced expectation is where AQE's
# skew-join mitigation also starts paying for itself, and splitting any
# x >= 2 cluster into ceil(x) sublists provably restores x_post <= 1.
IVF_SPLIT_FACTOR = 2.0


def _split_plan_sql(balance_sql: str) -> str:
    """Decision layer over the `_cluster_balance_sql` rollup: which
    inverted lists to split, into how many sublists, and the skew factor
    each split restores. n_sublists = ceil(x_uniform) (min 2 when
    splitting), so x_post_split = x_uniform / n_sublists <= 1 — the
    split always lands the list back at-or-under the uniform
    expectation. All inputs are the rollup's 6-dp-rounded doubles over
    exact integers, so both engines ceil the same values."""
    return f"""
    SELECT cid, n_vectors, x_uniform,
           x_uniform >= {IVF_SPLIT_FACTOR} AS needs_split,
           CAST(CASE WHEN x_uniform >= {IVF_SPLIT_FACTOR}
                     THEN GREATEST(CAST(CEIL(x_uniform) AS BIGINT), 2)
                     ELSE 1 END AS INT) AS n_sublists,
           ROUND(x_uniform / (CASE WHEN x_uniform >= {IVF_SPLIT_FACTOR}
                                   THEN GREATEST(CEIL(x_uniform), 2)
                                   ELSE 1 END), 6) AS x_post_split
    FROM ({balance_sql}) bal
    """


@query(
    "ivf_split_plan",
    oracle=_split_plan_sql(_cluster_balance_sql(_DUCK_IVF_ASSIGN)),
)
def ivf_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of `ivf_cluster_balance`: turn the per-cluster skew
    factor into the split DECISION an
    index maintainer executes — ``needs_split`` (x_uniform >=
    IVF_SPLIT_FACTOR), ``n_sublists`` = ceil(x_uniform) (the sub-list
    count that provably restores the balanced expectation:
    x_post_split = x_uniform / n_sublists <= 1, pinned by
    tests/test_recall.py::test_ivf_split_plan_restores_balance), and
    ``x_post_split`` itself. On the 100× probe corpus — 22% of vectors
    in one cluster — this emits the exact re-list instruction that keeps
    the per-cluster search equi-join from straggling.

    Scale: one projection over the ≤ √n-row balance rollup; the
    assignment underneath is the shared broadcast BLAS matmul. Nothing
    new shuffles.
    """
    ivf_cluster_balance(spark, sf_dir).createOrReplaceTempView(
        "ivf_balance_rollup"
    )
    return spark.sql(_split_plan_sql("SELECT * FROM ivf_balance_rollup"))



# --- semantic dedup (SemDeDup-style) ---------------------------------------
# Embedding-space dedup: cluster, then inside each cluster drop every
# vector that is near-identical (cosine >= threshold) to a vector that
# ranks more central — the "keep one representative per semantic
# duplicate group" pass (Abbas et al., SemDeDup, arXiv:2303.09540),
# simplified to a deterministic rank-based keep rule so the whole pass is
# value-checkable: within a cluster the keeper of a duplicate pair is
# always the one closer to the centroid (ties by vec_id).
SEM_DEDUP_THRESHOLD = 0.4


def _semantic_assign_sql(prep: str, cos: str, centroid_filter: str) -> str:
    """Assignment stage (window form, kept as the DuckDB-oracle dialect):
    broadcast-size centroid set -> per-vector argmax cluster assignment ->
    within-cluster centrality rank. Spark materializes its (max_by-form)
    twin once (eager localCheckpoint) because the verdict stage below
    reads it from three join sides — as an unmaterialized CTE each
    reference would recompute the n × sqrt(n) assignment cross join."""
    return f"""
    WITH e AS ({prep}),
    cent AS (SELECT vec_id AS cid, emb, nrm FROM e WHERE {centroid_filter}),
    cdist AS ({_nearest_sql("e", "cent", cos)})
    SELECT e.vec_id, e.emb, e.nrm, c.cid,
           ROW_NUMBER() OVER (PARTITION BY c.cid
                              ORDER BY c.ccos DESC, e.vec_id) AS crn
    FROM e JOIN (SELECT vec_id, cid, ccos FROM cdist WHERE rn = 1) c
      ON e.vec_id = c.vec_id
    """


def _semantic_verdict_body(assigned: str, cos: str) -> str:
    """Verdict stage (dialect-shared, CTE body without the leading WITH so
    callers can splice it into a larger CTE list): pairwise test ONLY
    inside clusters (n^2/nlist work; nlist = sqrt(n) keeps the whole pass
    O(n^1.5) like the IVF index build it mirrors). ``assigned`` is the
    dialect's name for the materialized assignment relation."""
    return f"""
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM {assigned} a JOIN {assigned} b
          ON a.cid = b.cid AND b.crn < a.crn
        WHERE ROUND({cos}, 6) >= {SEM_DEDUP_THRESHOLD}
    )
    SELECT a.vec_id, a.cid, CAST(a.crn AS INT) AS crn,
           (d.vec_id IS NULL) AS kept
    FROM {assigned} a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """


def _semantic_dedup_sql(prep: str, cos: str, centroid_filter: str) -> str:
    """Single-statement form (the DuckDB oracle; DuckDB materializes the
    CTE so the multi-reference cost Spark pays does not apply)."""
    return f"""
    WITH sem_assigned AS ({_semantic_assign_sql(prep, cos, centroid_filter)}),
    {_semantic_verdict_body("sem_assigned", cos)}
    """


SEM_VERDICT_BLOCK = 2048
# Clusters above this size split into sub-clusters before the pairwise
# verdict (SemDeDup's standard mitigation for adversarial skew: the 100×
# probe corpus drives 22% of all vectors into ONE 45k-member cluster,
# whose exact verdict is ~2e9 pair evaluations). The bound sits far above
# any cluster the driver-verified SFs produce, so the SQL oracle's exact
# within-cluster semantics stay pinned wherever the oracle runs; above
# the bound the verdict is per-SUB-cluster (cross-sub pairs inside one
# parent cluster are not compared — the accepted SemDeDup approximation).
SEM_SPLIT_BOUND = 4096
SEM_SPLIT_TARGET = 2048  # aim sub-clusters at roughly this size
SEM_SPLIT_DEPTH = 3  # identical-vector floods can defeat the split


def _sem_dropped_mask(m, depth=SEM_SPLIT_DEPTH):
    """Dropped-mask over centrality-sorted normalized rows ``m``.

    Exact path (c <= SEM_SPLIT_BOUND or recursion exhausted): blockwise
    Gram matmuls — drop row i iff any j < i has 6-dp-rounded cosine >=
    threshold. Dropped rows still count as comparison targets for later
    rows (the SQL joins against ALL more-central members), so blocks are
    independent; peak memory is BLOCK×c doubles (~0.7 GB at c=45k)
    regardless of cluster size.

    Split path: the ceil(c/SEM_SPLIT_TARGET) most-central rows become
    sub-centroids; every row assigns to its nearest sub-centroid by one
    BLAS matmul (UNROUNDED argmax — a 6-dp round would collapse the
    near-tie scores of a perturbed-replica flood into exact ties and
    funnel everything into the first sub-centroid), then each sub-group
    recurses. Deterministic: centrality order is fixed upstream, argmax
    takes the first maximum over the centrality-ascending centroid axis.
    If the split fails to shrink the largest group (identical vectors
    score 1.0 against every sub-centroid), fall through to the exact
    blockwise path rather than recurse forever.
    """
    import numpy as np

    c = len(m)
    if c > SEM_SPLIT_BOUND and depth > 0:
        n_sub = -(-c // SEM_SPLIT_TARGET)
        sub = m[:n_sub]  # most-central rows, centrality-ascending
        assign = (m @ sub.T).argmax(axis=1)
        if np.bincount(assign, minlength=n_sub).max() < c:
            dropped = np.zeros(c, dtype=bool)
            for g in range(n_sub):
                idx = np.flatnonzero(assign == g)  # ascending == crn order
                if len(idx):
                    dropped[idx] = _sem_dropped_mask(m[idx], depth - 1)
            return dropped
    dropped = np.zeros(c, dtype=bool)
    for s in range(0, c, SEM_VERDICT_BLOCK):
        e = min(s + SEM_VERDICT_BLOCK, c)
        sims = np.round(m[s:e] @ m[:e].T, 6) >= SEM_DEDUP_THRESHOLD
        # row i (global s+i) may only see j < s+i: strict lower triangle
        # offset to the block's global position
        allowed = np.tril(np.ones((e - s, e), dtype=bool), k=s - 1)
        dropped[s:e] = (sims & allowed).any(axis=1)
    return dropped


def _sem_verdict_batch(pdf):
    """Per-cluster verdict (applyInPandas): sort by centrality rank,
    normalize, and delegate to :func:`_sem_dropped_mask` — exact blockwise
    matmul at driver-verified sizes, sub-cluster split above
    ``SEM_SPLIT_BOUND``. (np.round is half-to-even vs SQL ROUND's
    half-away-from-zero: a divergence only on an exact .5 tie at the 6th
    decimal, measure-zero for real cosines.)
    """
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("crn")
    m = unit(pdf["emb"].to_numpy(), pdf["nrm"].to_numpy())
    dropped = _sem_dropped_mask(m)
    return pd.DataFrame(
        {
            "vec_id": pdf["vec_id"].to_numpy(),
            "cid": pdf["cid"].to_numpy(),
            "crn": pdf["crn"].to_numpy(),
            "kept": ~dropped,
        }
    )


@query(
    "semantic_dedup",
    oracle=_semantic_dedup_sql(_DUCK_PREP, _DUCK_COS, _IVF_CENTROIDS),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding table: every
    vector gets its cluster (deterministic seeded centroids, same index
    shape as ``ivf_topk``), a within-cluster centrality rank, and a
    ``kept`` verdict — False iff a more-central member of the same
    cluster sits within cosine SEM_DEDUP_THRESHOLD of it.

    Scale: centroids are a broadcast-size table (sqrt(n) rows); the only
    quadratic work is inside clusters — O(n^2/nlist) = O(n^1.5) total
    with the sqrt(n) nlist. The verdict stage is the one place in the
    engine where the built-in operators genuinely can't express the
    efficient form: as a SQL self-join each of the Σc² within-cluster
    pairs pays an interpreted 64-element fold (measured 25s of a 32s
    10×-probe run, dominated by one skewed 1389-member cluster); as a
    per-cluster Arrow batch it is ONE BLAS Gram matmul
    (``applyInPandas`` over the cid shuffle — measured ~20× faster, and
    the shape a GPU cluster would use). The DuckDB oracle keeps the
    pair-join form, pinning the matmul's 6-dp-rounded semantics
    cross-engine. Memory per task is one cluster's matrix; clusters
    above ``SEM_SPLIT_BOUND`` (adversarial skew — the 100× probe puts
    22% of all vectors in one 45k cluster) split into most-central-seeded
    sub-clusters inside the task before the pairwise verdict (see
    ``_sem_dropped_mask``), keeping per-cluster work ~O(c·√c) instead of
    O(c²). Swapping seeded centroids for KMeans (as ``ivf_topk_kmeans``
    does) keeps the identical plan.
    """
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from pyspark.sql import Window

    _emb_view(spark, sf_dir)
    # Assignment: broadcast-centroid matmul (see _matmul_assign), then the
    # within-cluster centrality rank as a window over the assigned rows —
    # the window's cid hash-partitioning doubles as the verdict groupBy's
    # distribution, so rank + verdict share ONE shuffle. That shuffle is
    # a USER repartition: the planner-inserted ENSURE_REQUIREMENTS
    # exchange it replaces was AQE-coalesced by shuffle volume (83 MB →
    # 8 partitions at the 100× probe), blind to the verdict stage's BLAS
    # compute — a user REPARTITION_BY_NUM is not coalescible, so the
    # verdict keeps core-count parallelism. Width scales with the
    # corpus (_cid_width): full core width at the 100× probe and
    # beyond, a handful of tasks at the base SF where 32-way fan-out
    # was pure scheduling overhead. n comes from the parquet footer
    # (table_rowcount — no job); n_total hands it into _matmul_assign
    # so the count job disappears from the query entirely.
    n = table_rowcount(sf_dir, "embeddings")
    assigned = _matmul_assign(spark, n_total=n).repartition(
        _cid_width(spark, n), "cid"
    ).withColumn(
        "crn",
        F.row_number().over(
            Window.partitionBy("cid").orderBy(F.desc("ccos"), "vec_id")
        ),
    )
    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cid", LongType()),
            StructField("crn", IntegerType()),
            StructField("kept", BooleanType()),
        ]
    )
    return assigned.groupBy("cid").applyInPandas(_sem_verdict_batch, out_schema)


# --- incremental / streaming semantic dedup ----------------------------------
# The one dedup family member that lacked a batch-vs-standing-corpus form
# (exact/bloom, MinHash-LSH, CMS, and PQ ingest all have one): embedding-
# space dedup of an ingest batch against an already-deduped standing
# corpus. Split rule mirrors the PQ/dedup twins: batch = vec_id % 10 = 9
# (tonight's ingest), corpus = the rest (the standing, already-kept side).
SEM_INCR_SPLIT = "vec_id % 10 = 9"

# Corpus-only centroid rule (the standing index's geometry — the batch
# must NOT influence it, or yesterday's verdicts would depend on tonight's
# data): nlist_c = max(16, floor(sqrt(n_corpus))), centroids = the corpus
# rows in the vec_id prefix. Same convention as ivf_pq_incremental's
# corpus index.
_SEM_INCR_NLIST_SQL = (
    f"(SELECT GREATEST({IVF_NLIST_MIN}, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))"
    f" FROM e WHERE NOT ({SEM_INCR_SPLIT}))"
)


def _sem_incr_sql(prep: str, cos: str, corpus_only: bool = False) -> str:
    """Dialect-shared incremental-semantic-dedup SQL (the DuckDB oracle;
    pairwise join form, exact at oracle scale).

    Standing state re-derivation: the corpus side re-runs the
    ``semantic_dedup`` verdict (corpus-only centroids, within-cluster
    centrality rank, drop iff a more-central member is within the
    threshold) purely so the emission is value-checkable end-to-end — a
    real deployment reads the kept set from the standing table written at
    the previous ingest and pays only the batch-side cost.

    Batch verdict: a batch vector is ``dup_vs_corpus`` iff any KEPT
    corpus member of its cluster is within the threshold (dropped corpus
    members are NOT standing targets — they don't exist in the standing
    table), and ``dup_vs_batch`` iff any more-central batch member of the
    same cluster is (kept or not — the flat ``semantic_dedup`` rule,
    applied within the batch). ``corpus_only=True`` emits just the
    batch-boundary-invariant corpus gate — the streaming twin's contract.
    """
    select = (
        """
    SELECT a.vec_id, a.cid,
           (vc.vec_id IS NOT NULL) AS dup_vs_corpus,
           (vc.vec_id IS NULL) AS kept
    FROM ba a LEFT JOIN vs_corpus vc ON a.vec_id = vc.vec_id
    """
        if corpus_only
        else """
    SELECT a.vec_id, a.cid, CAST(a.brn AS INT) AS brn,
           (vc.vec_id IS NOT NULL) AS dup_vs_corpus,
           (vb.vec_id IS NOT NULL) AS dup_vs_batch,
           (vc.vec_id IS NULL AND vb.vec_id IS NULL) AS kept
    FROM ba a LEFT JOIN vs_corpus vc ON a.vec_id = vc.vec_id
              LEFT JOIN vs_batch vb ON a.vec_id = vb.vec_id
    """
    )
    return f"""
    WITH e AS ({prep}),
    cent AS (
        SELECT vec_id AS cid, emb, nrm FROM e
        WHERE NOT ({SEM_INCR_SPLIT}) AND vec_id < {_SEM_INCR_NLIST_SQL}
    ),
    cdist AS ({_nearest_sql(
        "e", "cent", cos, carry=(f"a.{SEM_INCR_SPLIT} AS is_batch",)
    )}),
    assigned AS (
        SELECT e.vec_id, e.emb, e.nrm, c.is_batch, c.cid,
               ROW_NUMBER() OVER (PARTITION BY c.cid, c.is_batch
                                  ORDER BY c.ccos DESC, e.vec_id) AS rnk
        FROM e JOIN (SELECT * FROM cdist WHERE rn = 1) c
          ON e.vec_id = c.vec_id
    ),
    ca AS (SELECT vec_id, emb, nrm, cid, rnk AS crn FROM assigned
           WHERE NOT is_batch),
    c_dropped AS (
        SELECT DISTINCT a.vec_id
        FROM ca a JOIN ca b ON a.cid = b.cid AND b.crn < a.crn
        WHERE ROUND({cos}, 6) >= {SEM_DEDUP_THRESHOLD}
    ),
    c_kept AS (
        SELECT a.* FROM ca a LEFT JOIN c_dropped d ON a.vec_id = d.vec_id
        WHERE d.vec_id IS NULL
    ),
    ba AS (SELECT vec_id, emb, nrm, cid, rnk AS brn FROM assigned
           WHERE is_batch),
    vs_corpus AS (
        SELECT DISTINCT a.vec_id
        FROM ba a JOIN c_kept b ON a.cid = b.cid
        WHERE ROUND({cos}, 6) >= {SEM_DEDUP_THRESHOLD}
    ),
    vs_batch AS (
        SELECT DISTINCT a.vec_id
        FROM ba a JOIN ba b ON a.cid = b.cid AND b.brn < a.brn
        WHERE ROUND({cos}, 6) >= {SEM_DEDUP_THRESHOLD}
    )
    {select}
    """


def _sem_incr_centroids(spark: SparkSession):
    """Broadcast (cent_mat, cent_ids) for the standing corpus's centroid
    prefix (corpus-only rows, vec_id < nlist_c). Shared by the batch
    incremental query and its streaming twin so both assign
    bit-identically."""
    n_corpus = (
        spark.table("embeddings_raw")
        .where(f"NOT ({SEM_INCR_SPLIT})")
        .select("vec_id")
        .count()
    )
    return _prefix_centroids(
        spark,
        spark.sql(_SPARK_PREP).where(f"NOT ({SEM_INCR_SPLIT})"),
        _ivf_nlist(n_corpus),
    )


def _centroid_assign_fn(bc, buf_tag: str):
    """mapInPandas generator assigning each vector to its nearest
    broadcast centroid — the `_matmul_assign` kernel (raw argmax +
    2e-6-margin tie repair ≡ the oracle's round-6dp-then-first-max over
    the cid-ascending axis), parametrized by an explicit centroid
    broadcast so split corpora (standing vs ingest) can share one
    geometry. Emits (vec_id, emb, nrm, cid, ccos)."""

    def assign(batches):
        import numpy as np
        import pandas as pd

        c_mat, c_ids = bc.value
        for pdf in batches:
            m = unit(pdf["emb"].to_numpy(), pdf["nrm"].to_numpy())
            n = len(m)
            s = np.matmul(m, c_mat.T, out=worker_buf(buf_tag, (n, len(c_mat))))
            best = nearest(s)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": pdf["emb"],
                    "nrm": pdf["nrm"].to_numpy(),
                    "cid": c_ids[best],
                    "ccos": np.round(s[np.arange(n), best], 6),
                }
            )

    return assign


_SEM_ASSIGN_SCHEMA = (
    "vec_id BIGINT, emb ARRAY<DOUBLE>, nrm DOUBLE, cid BIGINT, ccos DOUBLE"
)


# _sem_incr_gate's output, shared with the streaming twin's per-batch gate
_SEM_GATE_SCHEMA = (
    "vec_id BIGINT, cid BIGINT, brn INT, dup_vs_corpus BOOLEAN,"
    " dup_vs_batch BOOLEAN, kept BOOLEAN"
)


def _sem_incr_gate(pdf, within_batch: bool):
    """Per-cluster incremental verdict (applyInPandas over cid groups of
    the corpus ∪ batch union).

    Standing state first: the corpus members re-run the `semantic_dedup`
    mask (most-central-first; dropped rows are NOT standing targets).
    Then each batch member, in batch-centrality order, is tested
    blockwise against (a) the KEPT corpus matrix and (b) — when
    ``within_batch`` — all more-central batch members via the same
    `_sem_dropped_mask` kernel (kept or dropped both count as targets,
    the flat rule). The two masks decompose the concatenated-verdict
    exactly: dropped(batch_i) = dup_vs_corpus(i) OR dup_vs_batch(i).
    """
    import numpy as np
    import pandas as pd

    batch = pdf[pdf["is_batch"]].sort_values(
        ["ccos", "vec_id"], ascending=[False, True]
    )
    nb = len(batch)
    if nb == 0:
        return pd.DataFrame(
            {
                "vec_id": np.array([], dtype=np.int64),
                "cid": np.array([], dtype=np.int64),
                "brn": np.array([], dtype=np.int32),
                "dup_vs_corpus": np.array([], dtype=bool),
                "dup_vs_batch": np.array([], dtype=bool),
                "kept": np.array([], dtype=bool),
            }
        )
    corpus = pdf[~pdf["is_batch"]].sort_values(
        ["ccos", "vec_id"], ascending=[False, True]
    )
    mb = unit(batch["emb"].to_numpy(), batch["nrm"].to_numpy())
    dup_c = np.zeros(nb, dtype=bool)
    if len(corpus):
        mc = unit(corpus["emb"].to_numpy(), corpus["nrm"].to_numpy())
        kc = mc[~_sem_dropped_mask(mc)]
        for s in range(0, nb, SEM_VERDICT_BLOCK):
            e = min(s + SEM_VERDICT_BLOCK, nb)
            dup_c[s:e] = (
                np.round(mb[s:e] @ kc.T, 6) >= SEM_DEDUP_THRESHOLD
            ).any(axis=1)
    dup_b = (
        _sem_dropped_mask(mb) if within_batch else np.zeros(nb, dtype=bool)
    )
    return pd.DataFrame(
        {
            "vec_id": batch["vec_id"].to_numpy(),
            "cid": batch["cid"].to_numpy(),
            "brn": np.arange(1, nb + 1, dtype=np.int32),
            "dup_vs_corpus": dup_c,
            "dup_vs_batch": dup_b,
            "kept": ~(dup_c | dup_b),
        }
    )


def _sem_incr_gated(spark: SparkSession, batch_df: DataFrame) -> DataFrame:
    """Assign the standing corpus and the given ingest rows against the
    corpus-only centroid geometry, then run the per-cluster incremental
    verdict. Shared by the batch query (full within-batch semantics) and
    the streaming twin's per-micro-batch gate (which projects the
    batch-boundary-invariant columns). Returns (vec_id, cid, brn,
    dup_vs_corpus, dup_vs_batch, kept) over exactly ``batch_df``'s rows.
    """
    bc = _sem_incr_centroids(spark)
    corpus = spark.sql(_SPARK_PREP).where(f"NOT ({SEM_INCR_SPLIT})")
    assigned_c = corpus.mapInPandas(
        _centroid_assign_fn(bc, "sem_incr_c"), _SEM_ASSIGN_SCHEMA
    ).withColumn("is_batch", F.lit(False))
    assigned_b = batch_df.mapInPandas(
        _centroid_assign_fn(bc, "sem_incr_b"), _SEM_ASSIGN_SCHEMA
    ).withColumn("is_batch", F.lit(True))
    return (
        assigned_c.unionByName(assigned_b)
        .groupBy("cid")
        .applyInPandas(lambda pdf: _sem_incr_gate(pdf, True), _SEM_GATE_SCHEMA)
    )


@query(
    "semantic_dedup_incremental",
    oracle=_sem_incr_sql(_DUCK_PREP, _DUCK_COS),
)
def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: gate tonight's ingest batch (vec_id % 10 =
    9) against the already-deduped standing corpus — the embedding-space
    member of the incremental-dedup family (exact: ``dedup_incremental``;
    near-dup: ``minhash_lsh_incremental``; sketch: bloom/CMS; vectors:
    ``ivf_pq_incremental``).

    Per batch vector: its cluster under the CORPUS-ONLY centroid geometry
    (the standing index — the batch must not move it), its batch-local
    centrality rank, and three verdicts: ``dup_vs_corpus`` (within
    cosine SEM_DEDUP_THRESHOLD of a KEPT standing member of its cluster
    — dropped corpus members are not standing targets; they don't exist
    in the standing table), ``dup_vs_batch`` (within threshold of a
    more-central member of the same ingest batch, the flat
    ``semantic_dedup`` rule applied batch-side), and ``kept`` = neither.

    The corpus-side kept set is re-derived here purely so the oracle can
    value-check the whole emission from the raw parquet — a deployment
    reads it from the standing table written at the previous ingest and
    pays O(batch·√n) end-to-end: one broadcast-centroid matmul over the
    batch plus per-cluster Gram blocks against ~n/nlist kept members.

    Scale: identical posture to ``semantic_dedup`` (broadcast √n-row
    centroids; the only quadratic work is within clusters, O(n^1.5)
    total for the re-derivation, O(batch·n/√n) for the gate itself);
    the verdict is per-cluster Arrow batches — one BLAS Gram matmul per
    block, no per-pair interpreted folds. Streaming twin:
    ``streaming_semantic_dedup`` (same gate per micro-batch, zero
    cross-batch state).
    """
    _emb_view(spark, sf_dir)
    batch = spark.sql(_SPARK_PREP).where(SEM_INCR_SPLIT)
    return _sem_incr_gated(spark, batch)


# --- IVF re-listing: execute the split plan ---------------------------------
def _rebalance_sql(prep: str, cos: str) -> str:
    """Dialect-shared re-listing SQL (the DuckDB oracle): re-derive the
    split plan from the assignment, take each split cluster's
    ``n_sublists`` most-central members as sub-centroids (srank =
    centrality order), and re-assign every member of a split cluster to
    its nearest sub-centroid (round-6dp argmax, srank-ascending ties —
    the engine-shared rule every assignment in this module uses).
    Members of untouched clusters keep sub_id = 1."""
    return f"""
    WITH assigned AS ({_semantic_assign_sql(prep, cos, _IVF_CENTROIDS)}),
    plan AS (
        SELECT cid,
               CASE WHEN x_uniform >= {IVF_SPLIT_FACTOR}
                    THEN GREATEST(CAST(CEIL(x_uniform) AS BIGINT), 2)
                    ELSE 1 END AS ns
        FROM (
            SELECT cid,
                   ROUND(COUNT(*) * CAST({_IVF_NLIST_SQL} AS DOUBLE)
                         / (SELECT COUNT(*) FROM embeddings), 6) AS x_uniform
            FROM assigned GROUP BY cid
        ) bal
    ),
    subcent AS (
        SELECT a.cid, a.emb, a.nrm, a.crn AS srank
        FROM assigned a JOIN plan p ON a.cid = p.cid
        WHERE p.ns > 1 AND a.crn <= p.ns
    ),
    subassign AS ({_nearest_sql(
        "assigned", "subcent", cos, carry=("a.cid",), key="srank",
        on="a.cid = b.cid",
    )}),
    geo AS (SELECT vec_id, cid, srank FROM subassign WHERE rn = 1),
    funnel AS (
        -- Flood fallback trigger: the geometric split funneled EVERY
        -- member of the cluster into one sub-list (identical-vector
        -- flood: all members score 1.0 against every sub-centroid and
        -- tie-break to srank 1), so the split did not shrink the list
        -- at all. Those clusters fall back to congruence sharding.
        SELECT DISTINCT cid FROM (
            SELECT cid, srank, COUNT(*) AS c,
                   SUM(COUNT(*)) OVER (PARTITION BY cid) AS tot
            FROM geo GROUP BY cid, srank
        ) g WHERE c = tot
    )
    SELECT a.vec_id, a.cid,
           CAST(CASE WHEN f.cid IS NOT NULL THEN a.vec_id % p.ns + 1
                     ELSE COALESCE(s.srank, 1) END AS INT) AS sub_id
    FROM assigned a
    JOIN plan p ON a.cid = p.cid
    LEFT JOIN geo s ON a.vec_id = s.vec_id
    LEFT JOIN funnel f ON a.cid = f.cid
    """


@query(
    "ivf_rebalance",
    oracle=_rebalance_sql(_DUCK_PREP, _DUCK_COS),
)
def ivf_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the split plan — the act stage of the IVF maintenance
    chain (`ivf_cluster_balance` diagnoses, `ivf_split_plan` decides,
    this re-lists): every member of a cluster the plan marks for
    splitting is re-assigned to the nearest of that cluster's
    ``n_sublists`` most-central members (geometric sub-centroids — the
    SemDeDup split rule, so sub-lists stay semantically coherent and a
    search probing its nearest sub-lists keeps the parent list's
    recall); untouched clusters keep ``sub_id`` = 1. Emits the new
    per-vector list key (vec_id, cid, sub_id).

    At the driver SFs no cluster crosses the split factor, so the
    emission is the identity re-listing (still value-checked end to
    end); the split path fires at the 10× probe corpus — x ≈ 10 on the
    hot cluster — where tests/test_recall.py pins Spark == DuckDB
    bit-exact AND that the hottest post-split list genuinely shrinks.
    Flood fallback: an
    identical-vector flood defeats geometric splitting (every member
    scores 1.0 against every sub-centroid and funnels to srank 1), so
    a cluster whose geometric split funneled ALL members into one
    sub-list — the did-the-split-shrink check — falls back to
    congruence sharding (sub_id = vec_id % ns + 1), trading list
    coherence for bounded task size. Both engines apply the same
    trigger and shard rule, pinned on an identical-vector fixture in
    tests/test_recall.py.

    Scale: the assignment is the shared broadcast BLAS matmul,
    checkpointed once and read by the plan rollup (≤ √n groups) and the
    per-cluster re-assign; the re-assign is one Gram matmul per split
    cluster (members × ns, ns ≈ x ≤ a few dozen), Arrow-batched. One
    extra shuffle (the cid groupBy) beyond the balance rollup; no new
    pairwise stage anywhere.
    """
    import numpy as np

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    _emb_view(spark, sf_dir)
    assigned = _matmul_assign(
        spark, n_total=table_rowcount(sf_dir, "embeddings")
    ).localCheckpoint(eager=True)
    assigned.createOrReplaceTempView("ivf_rebal_assigned")
    # The plan re-derived in Spark SQL with the same arithmetic as the
    # oracle (ROUND/CEIL on the engine side, never numpy), collected at
    # <= sqrt(n) rows and broadcast as the per-cluster sublist count.
    # n and nlist come from the rollup itself (SUM over the per-cid
    # counts == the corpus count), not a separate scan job.
    plan_rows = spark.sql(
        f"""
        WITH bal AS (SELECT cid, COUNT(*) AS c FROM ivf_rebal_assigned
                     GROUP BY cid),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bal)
        SELECT cid,
               CASE WHEN x >= {IVF_SPLIT_FACTOR}
                    THEN GREATEST(CAST(CEIL(x) AS BIGINT), 2)
                    ELSE 1 END AS ns
        FROM (SELECT cid,
                     ROUND(c * CAST(GREATEST({IVF_NLIST_MIN},
                               CAST(FLOOR(SQRT((SELECT n FROM tot)))
                                    AS BIGINT)) AS DOUBLE)
                           / (SELECT n FROM tot), 6) AS x
              FROM bal) t
        """
    ).collect()
    bc = spark.sparkContext.broadcast(
        {int(r["cid"]): int(r["ns"]) for r in plan_rows if r["ns"] > 1}
    )

    def rebal(pdf):
        import pandas as pd

        cid = int(pdf["cid"].iloc[0])
        ns = bc.value.get(cid, 1)
        pdf = pdf.sort_values(["ccos", "vec_id"], ascending=[False, True])
        c = len(pdf)
        if ns <= 1:
            sub_id = np.ones(c, dtype=np.int32)
        else:
            m = unit(pdf["emb"].to_numpy(), pdf["nrm"].to_numpy())
            best = nearest(m @ m[: min(ns, c)].T)
            if (best == best[0]).all():
                # Did-the-split-shrink check: every member funneled to
                # one sub-centroid (identical-vector flood — all cosines
                # tie at 1.0). Geometric splitting is defeated; fall
                # back to congruence sharding (sub_id = vec_id % ns + 1)
                # — bounded task size, coherence deliberately traded.
                sub_id = (
                    pdf["vec_id"].to_numpy() % ns + 1
                ).astype(np.int32)
            else:
                sub_id = (best + 1).astype(np.int32)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cid": pdf["cid"].to_numpy(),
                "sub_id": sub_id,
            }
        )

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cid", LongType()),
            StructField("sub_id", IntegerType()),
        ]
    )
    return assigned.groupBy("cid").applyInPandas(rebal, out_schema)


# --- embedding-space drift monitor -------------------------------------------
# The embedding twin of token_dist_shift / source_token_kl: before an
# ingest's vectors are trusted to the standing index (or the standing
# centroids are trusted to represent the ingest), compare the batch's
# cluster-occupancy distribution against the corpus's under the SAME
# corpus-only geometry the incremental gate uses. A cluster whose batch
# share moved >= 2 corpus-share points is the re-train / re-list signal
# read BEFORE recall decays (constant centroids on drifted data is the
# same defect class as constant nprobe on grown data).
EMB_DRIFT_SHIFTED = 0.02


def _drift_rollup_sql(asg_rel: str) -> str:
    """Dialect-shared rollup over a (vec_id, is_batch, cid) assignment
    relation: per-cluster corpus/batch populations, their shares, the
    signed share drift, and the shifted flag. Shares and drift divide
    exact integers in double and round at 6 dp — identical cross-engine
    (the `_cluster_balance_sql` convention)."""
    return f"""
    WITH asg AS ({asg_rel}),
    c AS (SELECT cid, COUNT(*) AS n FROM asg WHERE NOT is_batch GROUP BY cid),
    b AS (SELECT cid, COUNT(*) AS n FROM asg WHERE is_batch GROUP BY cid),
    tc AS (SELECT COUNT(*) AS n FROM asg WHERE NOT is_batch),
    tb AS (SELECT COUNT(*) AS n FROM asg WHERE is_batch)
    SELECT COALESCE(c.cid, b.cid) AS cid,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_corpus,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_batch,
           ROUND(COALESCE(c.n, 0) / CAST((SELECT n FROM tc) AS DOUBLE), 6)
               AS corpus_share,
           ROUND(COALESCE(b.n, 0) / CAST((SELECT n FROM tb) AS DOUBLE), 6)
               AS batch_share,
           ROUND(COALESCE(b.n, 0) / CAST((SELECT n FROM tb) AS DOUBLE)
                 - COALESCE(c.n, 0) / CAST((SELECT n FROM tc) AS DOUBLE), 6)
               AS drift,
           ABS(COALESCE(b.n, 0) / CAST((SELECT n FROM tb) AS DOUBLE)
               - COALESCE(c.n, 0) / CAST((SELECT n FROM tc) AS DOUBLE))
               >= {EMB_DRIFT_SHIFTED} AS shifted
    FROM c FULL OUTER JOIN b ON c.cid = b.cid
    """


_DRIFT_ASSIGN_ORACLE = f"""
    WITH e AS ({_DUCK_PREP}),
    cent AS (
        SELECT vec_id AS cid, emb, nrm FROM e
        WHERE NOT ({SEM_INCR_SPLIT}) AND vec_id < {_SEM_INCR_NLIST_SQL}
    ),
    cdist AS ({_nearest_sql(
        "e", "cent", _DUCK_COS, carry=(f"a.{SEM_INCR_SPLIT} AS is_batch",)
    )})
    SELECT vec_id, is_batch, cid FROM cdist WHERE rn = 1
"""


@query(
    "embedding_cluster_drift",
    oracle=_drift_rollup_sql(_DRIFT_ASSIGN_ORACLE),
)
def embedding_cluster_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space distribution-shift monitor: assign the standing
    corpus AND tonight's ingest batch (vec_id % 10 = 9) to the
    corpus-only centroid geometry (the `semantic_dedup_incremental`
    machinery — the batch must not move the yardstick it is measured
    against), then compare per-cluster occupancy shares. Emits per
    cluster: both populations, both shares, the signed share drift, and
    ``shifted`` (|drift| >= {EMB_DRIFT_SHIFTED} — two corpus-share
    points, the re-train/re-list signal). 0.5·Σ|drift| is the total
    variation distance between the two cluster distributions; per-row
    drift is emitted so the operator is a decision input per inverted
    list, not one opaque scalar.

    Completes the drift family across spaces: token unigrams
    (`token_dist_shift`), per-source KL (`source_token_kl`), and now
    cluster occupancy in embedding space — the one a vector index
    maintainer actually acts on (stale centroids on drifted data decay
    recall exactly like constant nprobe on grown data).

    Scale: two broadcast-centroid matmul passes (corpus, batch — each
    one Arrow pass, no shuffle), a cid rollup over ≤ √n groups, and a
    √n-row full outer join. Shares divide exact integers; identical
    cross-engine.
    """
    _emb_view(spark, sf_dir)
    bc = _sem_incr_centroids(spark)
    prepped = spark.sql(_SPARK_PREP)
    asg_c = (
        prepped.where(f"NOT ({SEM_INCR_SPLIT})")
        .mapInPandas(_centroid_assign_fn(bc, "drift_c"), _SEM_ASSIGN_SCHEMA)
        .select("vec_id", "cid")
        .withColumn("is_batch", F.lit(False))
    )
    asg_b = (
        prepped.where(SEM_INCR_SPLIT)
        .mapInPandas(_centroid_assign_fn(bc, "drift_b"), _SEM_ASSIGN_SCHEMA)
        .select("vec_id", "cid")
        .withColumn("is_batch", F.lit(True))
    )
    # The shared rollup references the assignment from four CTE sides
    # (corpus rollup, batch rollup, both totals); through a temp view
    # Spark re-expands the whole union+assign subtree per reference
    # (measured: 16 exchanges, 8 Python boundaries pre-AQE). Spark gets
    # the single-scan twin instead: materialize the assignment once (in
    # deployment it IS a standing table), roll both sides up in one
    # conditional-count pass, and read the totals as unpartitioned
    # window sums over the ≤ √n rollup rows — same integers, same
    # 6-dp-rounded doubles as the oracle's materialized-CTE form.
    asg = asg_c.unionByName(asg_b).localCheckpoint(eager=True)
    asg.createOrReplaceTempView("emb_drift_asg")
    return spark.sql(
        f"""
        WITH bal AS (
            SELECT cid,
                   COUNT(CASE WHEN NOT is_batch THEN 1 END) AS nc,
                   COUNT(CASE WHEN is_batch THEN 1 END) AS nb
            FROM emb_drift_asg GROUP BY cid
        )
        SELECT cid,
               CAST(nc AS BIGINT) AS n_corpus,
               CAST(nb AS BIGINT) AS n_batch,
               ROUND(nc / CAST(SUM(nc) OVER () AS DOUBLE), 6)
                   AS corpus_share,
               ROUND(nb / CAST(SUM(nb) OVER () AS DOUBLE), 6)
                   AS batch_share,
               ROUND(nb / CAST(SUM(nb) OVER () AS DOUBLE)
                     - nc / CAST(SUM(nc) OVER () AS DOUBLE), 6) AS drift,
               ABS(nb / CAST(SUM(nb) OVER () AS DOUBLE)
                   - nc / CAST(SUM(nc) OVER () AS DOUBLE))
                   >= {EMB_DRIFT_SHIFTED} AS shifted
        FROM bal
        """
    )


# --- drift maintenance plan --------------------------------------------------
# The consumer of `embedding_cluster_drift`: turn the per-cluster drift
# report into the maintenance DECISION an index operator executes, as
# `ivf_split_plan` consumes `ivf_cluster_balance`. Two triggers, by blast
# radius:
#   - GLOBAL: total variation distance between the corpus and batch
#     cluster distributions >= EMB_DRIFT_RETRAIN_TVD means the geometry
#     itself no longer represents the data -> retrain_centroids (per-list
#     surgery on a stale geometry is wasted work, so retrain supersedes).
#   - PER-LIST: a shifted, growing cluster whose projected post-merge
#     skew factor x_merged = (n_corpus + n_batch) * nlist / (N_c + N_b)
#     crosses IVF_SPLIT_FACTOR gets the `ivf_split_plan` treatment
#     (n_sublists = ceil(x_merged), so x_post <= 1); a shifted cluster
#     below the split line is watched (growth vs shrink named separately
#     -- a shrinking list is a future merge candidate, not a split).
EMB_DRIFT_RETRAIN_TVD = 0.1


def _drift_plan_sql(rollup_sql: str) -> str:
    """Decision layer over the `_drift_rollup_sql` emission. TVD is
    computed from exact integer cross-products, |nb*Nc - nc*Nb|
    promoted to DECIMAL(38,0) BEFORE multiplying (a BIGINT product
    would silently wrap in non-ANSI Spark beyond ~3e9 rows per side —
    the 100 TB scale this targets — while DuckDB's HUGEINT errored or
    stayed exact: the worst kind of cross-engine divergence, the same
    class `_psi_sql`'s terms CTE avoids), summed in DECIMAL and
    divided once by 2*Nb*Nc — no per-row double sums, so both engines
    see identical doubles before the single 6-dp round. nlist is
    re-derived from the rollup's own corpus total — the corpus-prefix
    convention (`_SEM_INCR_NLIST_SQL`) the drift assignment itself
    used."""
    return f"""
    WITH t0 AS (
        SELECT r.*,
               SUM(n_corpus) OVER () AS nc_total,
               SUM(n_batch) OVER () AS nb_total
        FROM ({rollup_sql}) r
    ),
    t AS (
        SELECT t0.*,
               SUM(ABS(CAST(n_batch AS DECIMAL(38, 0)) * nc_total
                       - CAST(n_corpus AS DECIMAL(38, 0)) * nb_total))
                   OVER () AS xsum
        FROM t0
    ),
    m AS (
        SELECT t.*,
               -- Empty-side guard: an empty ingest batch (or corpus) is
               -- no drift EVIDENCE, not infinite drift — tvd pins to 0
               -- (the parent rollup's NULL shares already push every
               -- action to 'none'), instead of a NULL that Spark and
               -- DuckDB could disagree on. The denominator promotes to
               -- DECIMAL(38,0) for the same ~3e9-row headroom reason as
               -- xsum (2*Nb*Nc overflows BIGINT first, at ~2.1e9/side).
               CASE WHEN nb_total = 0 OR nc_total = 0
                    THEN CAST(0 AS DOUBLE)
                    ELSE ROUND(CAST(xsum AS DOUBLE)
                               / CAST(2 * CAST(nb_total AS DECIMAL(38, 0))
                                      * nc_total AS DOUBLE), 6) END
                   AS tvd,
               ROUND((n_corpus + n_batch)
                     * CAST(GREATEST({IVF_NLIST_MIN},
                            CAST(FLOOR(SQRT(CAST(nc_total AS DOUBLE)))
                                 AS BIGINT)) AS DOUBLE)
                     / (nc_total + nb_total), 6) AS x_merged
        FROM t
    )
    SELECT cid, n_corpus, n_batch, drift, shifted, tvd, x_merged,
           CASE WHEN tvd >= {EMB_DRIFT_RETRAIN_TVD} THEN 'retrain_centroids'
                WHEN shifted AND drift > 0
                     AND x_merged >= {IVF_SPLIT_FACTOR} THEN 'split'
                WHEN shifted AND drift > 0 THEN 'watch_growth'
                WHEN shifted THEN 'watch_shrink'
                ELSE 'none' END AS action,
           CAST(CASE WHEN tvd < {EMB_DRIFT_RETRAIN_TVD}
                          AND shifted AND drift > 0
                          AND x_merged >= {IVF_SPLIT_FACTOR}
                     THEN GREATEST(CAST(CEIL(x_merged) AS BIGINT), 2)
                     ELSE 1 END AS INT) AS n_sublists
    FROM m
    """


@query(
    "drift_retrain_plan",
    oracle=_drift_plan_sql(_drift_rollup_sql(_DRIFT_ASSIGN_ORACLE)),
)
def drift_retrain_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume `embedding_cluster_drift`'s report into per-cluster
    maintenance ACTIONS — the drift family's decide stage and the
    consumer of the `shifted` flag (as `ivf_split_plan` is for
    `ivf_cluster_balance`). Emits per cluster: the drift evidence, the
    corpus-vs-batch total variation distance (global, repeated per row
    as a decision input), the projected post-merge skew factor
    x_merged, and the action: ``retrain_centroids`` when TVD crosses
    EMB_DRIFT_RETRAIN_TVD (the geometry is stale — supersedes per-list
    surgery), ``split`` (+ ``n_sublists`` = ceil(x_merged), the
    `ivf_split_plan` rule) for a shifted growing cluster crossing
    IVF_SPLIT_FACTOR,
    ``watch_growth`` / ``watch_shrink`` for shifted clusters below it
    (a shrinking list is a merge candidate, not a split), else
    ``none``.

    Scale: one projection + two unpartitioned window sums over the
    <= sqrt(n)-row drift rollup (the expensive work — two broadcast
    matmul passes — happens once in the parent and is reused via its
    checkpointed assignment). TVD comes from exact integer
    cross-products divided once, so the 6-dp doubles match DuckDB
    bit-exactly.
    """
    embedding_cluster_drift(spark, sf_dir).createOrReplaceTempView(
        "emb_drift_rollup"
    )
    return spark.sql(_drift_plan_sql("SELECT * FROM emb_drift_rollup"))


# --- hybrid rank fusion ------------------------------------------------------
# Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009): fuse a
# lexical retrieval arm (inverted-index token join, Jaccard-ranked) with
# a vector arm (exact cosine, `cosine_topk`'s plan) by
# score(d) = sum over arms of 1/(k + rank_arm(d)), k = 60 — the
# rank-only combiner every hybrid search stack (BM25 + ANN) ships
# because it needs no score calibration between arms. Item universe:
# the id-aligned prefix, ids < min(|documents|, |embeddings|) — the
# fixture's "items that carry BOTH a text and an embedding
# representation" (the min matters: either table can be the larger one
# across SFs, and BOTH arms clip to the universe so neither pool can
# rank an item the other arm cannot see); queries are the standard
# QUERY_FILTER ids within it.
RRF_K = 60
RRF_POOL = 20


def _brute_vec_arm(prep: str, cos: str, universe: str) -> str:
    """The exact vector arm: brute cosine of each query against every
    universe item (`cosine_topk`'s plan), pooled to the top RRF_POOL.
    Emits (query_id, doc_id, rank_vec)."""
    return f"""
        SELECT query_id, doc_id, rank_vec FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, doc_id) AS rank_vec
            FROM (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
                         ROUND({cos}, 6) AS cosine
                  FROM (SELECT * FROM ({prep}) qe
                        WHERE vec_id < {universe} AND {QUERY_FILTER}) a
                  JOIN (SELECT * FROM ({prep}) ie
                        WHERE vec_id < {universe}) b
                    ON a.vec_id <> b.vec_id) scored
        ) ranked WHERE rank_vec <= {RRF_POOL}
    """


def _ivf_arm_core(clustered: str, probe: str, cos: str) -> str:
    """The IVF vector arm's scoring body, shared verbatim by the oracle
    (`_ivf_vec_arm`, which derives ``clustered``/``probe`` from one
    cdist CTE) and the Spark side (which reads them from the
    checkpointed assignment) — ONE copy of the per-list scoring join
    and its tie-break convention, because the two dialect arms must
    stay structurally identical for bit-parity and a hand-synced pair
    is the `_pq_knobs` drift class; DuckDB reads the Spark hint as a
    comment. Emits (query_id, doc_id, rank_vec) pooled to RRF_POOL."""
    return f"""
        SELECT query_id, doc_id, rank_vec FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, doc_id) AS rank_vec
            -- broadcast the probe side so AQE cannot coalesce the join to one task
            FROM (SELECT /*+ BROADCAST(a) */
                         a.vec_id AS query_id, b.vec_id AS doc_id,
                         ROUND({cos}, 6) AS cosine
                  FROM (SELECT q.vec_id, q.emb, q.nrm, p.cid
                        FROM (SELECT * FROM ({clustered}) cq
                              WHERE {QUERY_FILTER}) q
                        JOIN ({probe}) p ON q.vec_id = p.vec_id) a
                  JOIN ({clustered}) b
                    ON a.cid = b.cid AND a.vec_id <> b.vec_id) scored
        ) ranked WHERE rank_vec <= {RRF_POOL}
    """


def _ivf_vec_arm(
    prep: str, cos: str, universe: str, nlist: str, nprobe: str
) -> str:
    """The production vector arm for the ORACLE dialect: IVF over the
    universe (its OWN index geometry — nlist =
    max(16, floor(sqrt(|universe|))) prefix centroids, geometry-derived
    nprobe), with assignment and probe set derived from one cdist
    ranking (`_ivf_sql`'s convention) and the scoring body shared with
    the Spark side via `_ivf_arm_core`. Ranks are pool-local, exactly
    what RRF consumes (it never compares scores across arms, so
    approximate ranks fuse as-is)."""
    return f"""
        WITH u_items AS (SELECT * FROM ({prep}) pe
                         WHERE vec_id < {universe}),
        u_cent AS (SELECT vec_id AS cid, emb, nrm FROM u_items
                   WHERE vec_id < {nlist}),
        u_cdist AS ({_nearest_sql("u_items", "u_cent", cos)}),
        u_clustered AS (
            SELECT i.vec_id, i.emb, i.nrm, c.cid
            FROM u_items i
            JOIN (SELECT vec_id, cid FROM u_cdist WHERE rn = 1) c
              ON i.vec_id = c.vec_id
        )
        {_ivf_arm_core(
            "SELECT * FROM u_clustered",
            f"SELECT vec_id, cid FROM u_cdist "
            f"WHERE rn <= {nprobe} AND {QUERY_FILTER}",
            cos,
        )}
    """


def _fuse_sql(vec_arm: str, tok_rel: str, universe: str) -> str:
    """Dialect-shared RRF fusion core, parametrized by the vector arm
    (brute = `_brute_vec_arm`, production = `_ivf_vec_arm` — RRF is
    rank-only, so the arms swap without touching the fusion). Ranks are
    exact integers (ROUND-6dp argsorts with id tie-breaks — the
    module's assignment convention); the fused score sums two exact
    integer-denominator divisions and rounds once, so both engines emit
    identical doubles. A doc missing from an arm's pool contributes
    nothing there (the RRF rule) and reports rank 0 as the out-of-pool
    sentinel. ``universe`` is the item-universe bound
    min(|documents|, |embeddings|): the oracle passes it as a scalar
    subquery; Spark inlines the driver-computed literal (a CTE form
    re-expands the two COUNT subqueries per reference — measured 42
    exchanges pre-AQE vs 17 with the literal, the ivf-nlist
    driver-derivation pattern)."""
    doc_query_filter = QUERY_FILTER.replace("vec_id", "doc_id")
    return f"""
    WITH vec_ranked AS ({vec_arm}),
    toks AS (SELECT * FROM ({tok_rel}) tk
             WHERE doc_id < {universe}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    shared AS (
        -- BROADCAST the query-side tokens (|Q|·tokens rows — tiny by the
        -- QUERY_FILTER construction): without the hint the planner
        -- broadcasts whichever side estimates smaller, and at the 10×
        -- probe it picked the CORPUS-grain token table (80 MiB, 477k
        -- rows) — a plan that cannot ship at 100 TB. DuckDB parses the
        -- hint as a plain comment, so the oracle text stays shared.
        SELECT /*+ BROADCAST(qt) */
               qt.doc_id AS query_id, t.doc_id AS doc_id,
               COUNT(*) AS n_shared
        FROM (SELECT * FROM toks WHERE {doc_query_filter}) qt
        JOIN toks t ON qt.tok = t.tok AND qt.doc_id <> t.doc_id
        GROUP BY qt.doc_id, t.doc_id
    ),
    lex_ranked AS (
        SELECT query_id, doc_id, rank_lex FROM (
            SELECT s.query_id, s.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.query_id
                       ORDER BY ROUND(CAST(s.n_shared AS DOUBLE)
                                      / (sq.n + sd.n - s.n_shared), 6) DESC,
                                s.doc_id) AS rank_lex
            FROM shared s
            JOIN sizes sq ON sq.doc_id = s.query_id
            JOIN sizes sd ON sd.doc_id = s.doc_id
        ) l WHERE rank_lex <= {RRF_POOL}
    ),
    fused AS (
        SELECT COALESCE(v.query_id, l.query_id) AS query_id,
               COALESCE(v.doc_id, l.doc_id) AS doc_id,
               COALESCE(v.rank_vec, 0) AS rank_vec,
               COALESCE(l.rank_lex, 0) AS rank_lex,
               ROUND(CASE WHEN v.rank_vec IS NULL THEN CAST(0 AS DOUBLE)
                          ELSE CAST(1 AS DOUBLE) / ({RRF_K} + v.rank_vec)
                     END
                     + CASE WHEN l.rank_lex IS NULL THEN CAST(0 AS DOUBLE)
                            ELSE CAST(1 AS DOUBLE) / ({RRF_K} + l.rank_lex)
                       END, 6) AS rrf
        FROM vec_ranked v
        FULL OUTER JOIN lex_ranked l
          ON v.query_id = l.query_id AND v.doc_id = l.doc_id
    )
    SELECT query_id, doc_id,
           CAST(rank_lex AS INT) AS rank_lex,
           CAST(rank_vec AS INT) AS rank_vec,
           rrf, CAST(rnk AS INT) AS rnk
    FROM (SELECT f.*,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rrf DESC, doc_id) AS rnk
          FROM fused f) ranked
    WHERE rnk <= {TOP_K}
    """


_DUCK_UNIVERSE = (
    "(SELECT LEAST((SELECT COUNT(*) FROM documents),"
    " (SELECT COUNT(*) FROM embeddings)))"
)
# Universe-geometry knobs from the same builder the IVF family uses —
# one rule, two count sources (see _geom_knobs).
_DUCK_U_NLIST, _DUCK_U_NPROBE = _geom_knobs(_DUCK_UNIVERSE)


_SPARK_HYBRID_TOKS = """
    SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents)
"""
_DUCK_HYBRID_TOKS = """
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents
"""


def _ivf_nlist(n: int) -> int:
    """Driver-side twin of the `_geom_knobs` nlist rule —
    max(IVF_NLIST_MIN, floor(sqrt(n))) — the ONE place the IVF list
    geometry is derived driver-side (`_matmul_assign`,
    `ivf_kmeans_search`, `_sem_incr_centroids`, and the hybrid fusion
    twin all call it)."""
    return max(IVF_NLIST_MIN, int(n**0.5))


def _hybrid_setup(spark: SparkSession, sf_dir: str) -> int:
    """Shared twin setup: register the documents/embeddings views,
    derive the item-universe bound min(|documents|, |embeddings|), and
    checkpoint the universe-clipped distinct-token table ONCE as
    `hybrid_toks` (the token table is referenced three times in the
    fusion SQL; through a view Spark re-expands the explode+DISTINCT
    subtree per reference — the embedding_cluster_drift finding,
    measured 26 exchanges). One helper for both twins so the
    'shared lexical arm, identical rank_lex' invariant the twin test
    pins is structural, not copy-synced. Returns the universe bound."""
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    _emb_view(spark, sf_dir)
    n_universe = min(
        table_rowcount(sf_dir, "documents"), table_rowcount(sf_dir, "embeddings")
    )
    # Partition the checkpoint BY doc_id at core-count width: AQE
    # coalesces the distinct's exchange to the shuffle-volume-sized ~4
    # partitions (~40 MB of tokens), but the downstream consumer is the
    # lexical arm's inverted-index join whose fan-out is ~150× its input
    # (70M shared-token rows at the 10× probe) — measured 41.7s of
    # aggregation time serialized onto 4 tasks (min/med/max 8.9/9.6/14.0s).
    # Hashing by doc_id also makes the join's partial aggregate exact per
    # partition (every (query, doc) match lands where the doc lives), so
    # the pair exchange shrinks to final cardinality.
    spark.sql(_SPARK_HYBRID_TOKS).where(f"doc_id < {n_universe}").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).localCheckpoint(eager=True).createOrReplaceTempView("hybrid_toks")
    return n_universe


@query(
    "hybrid_rank_fusion",
    scale_path="hybrid_rank_fusion_ivf",
    oracle=_fuse_sql(
        _brute_vec_arm(_DUCK_PREP, _DUCK_COS, _DUCK_UNIVERSE),
        _DUCK_HYBRID_TOKS,
        _DUCK_UNIVERSE,
    ),
)
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: for each standard
    query id, fuse the lexical arm (distinct-token inverted-index join,
    Jaccard-ranked — the BM25 stand-in this corpus supports
    deterministically) with the vector arm (exact cosine over the
    id-aligned item prefix — `cosine_topk`'s plan) via
    RRF = 1/(60+rank_lex) + 1/(60+rank_vec) over each arm's top-20
    pool, and emit the fused top-10 with both per-arm ranks (0 =
    outside that arm's pool). This is the retrieval shape a RAG /
    training-data-curation stack runs: neither arm alone surfaces both
    paraphrases (vector) and exact-term matches (lexical).

    Scale: the lexical arm is a query-side-tiny equi-join on token
    (the `decontaminate` posture — no pairwise scan); the vector arm
    is the exact brute fold — correct as ground truth, wrong as the
    scheduled operator at 100 TB, so the registered scale path is
    `hybrid_rank_fusion_ivf` (same fusion, IVF-probed arm); the fusion
    itself joins two pool-sized (queries x 20) relations and windows
    per query. Ranks are integers and the RRF sum has integer
    denominators, so both engines agree bit-exactly.
    """
    n_universe = _hybrid_setup(spark, sf_dir)
    return spark.sql(
        _fuse_sql(
            _brute_vec_arm(_SPARK_PREP, _SPARK_COS, str(n_universe)),
            "SELECT doc_id, tok FROM hybrid_toks",
            str(n_universe),
        )
    )


@query(
    "hybrid_rank_fusion_ivf",
    oracle=_fuse_sql(
        _ivf_vec_arm(
            _DUCK_PREP, _DUCK_COS, _DUCK_UNIVERSE, _DUCK_U_NLIST, _DUCK_U_NPROBE
        ),
        _DUCK_HYBRID_TOKS,
        _DUCK_UNIVERSE,
    ),
)
def hybrid_rank_fusion_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of `hybrid_rank_fusion` (its registered
    scale path): the same lexical arm and RRF fusion, with the vector
    arm swapped from the brute fold to an IVF index over the item
    universe — nlist = max(16, floor(sqrt(|universe|))) prefix
    centroids, geometry-derived nprobe, per-list scoring of probed
    candidates only (`ivf_topk`'s machinery). RRF is rank-only, so the
    approximate arm's pool-local ranks fuse without any score
    calibration — exactly why production hybrid stacks pair RRF with
    ANN backends. Emission shape matches the exact twin row-for-row
    (query_id, doc_id, per-arm ranks, fused rnk).

    Scale: probed vector candidates grow 3·n^(3/4) (the `ivf_topk`
    analysis) instead of the brute arm's n per query; the universe
    assignment is the family's broadcast BLAS kernel
    (`_centroid_assign_fn`), checkpointed once and read by the probe
    ranking and both sides of the cluster equi-join. Decade accounting
    (BENCH_SCALING.md): with queries scaling as n/100 the
    vec-arm crossover is n ≳ 1e5 vectors, and at the driver SFs and
    the 10× probe BOTH twins are dominated by the shared lexical arm —
    the probe row pins this twin's near-linear growth, not a
    same-decade win over brute. The fusion layer is unchanged: two
    pool-sized relations, one full-outer join, one window per query.
    """
    n_universe = _hybrid_setup(spark, sf_dir)
    nlist = _ivf_nlist(n_universe)
    nprobe = _ivf_nprobe(nlist)
    # Universe assignment: the family's broadcast BLAS kernel via
    # `_matmul_assign` with the universe bound folded in (raw argmax +
    # 2e-6-margin tie repair, the pinned equivalent of the oracle's
    # round-6dp-first-max window), checkpointed ONCE; the probe ranking
    # and both sides of the cluster equi-join read it back. (A first
    # cut assigned via the SQL fold — measured 16.0s at the 10x probe
    # vs the brute twin's 13.0s, an inverted scale path; the BLAS
    # kernel is why `ivf_topk` wins at scale and it is the production
    # assignment everywhere else in this module.)
    _matmul_assign(spark, n_universe=n_universe).select(
        "vec_id", "emb", "nrm", "cid"
    ).localCheckpoint(eager=True).createOrReplaceTempView(
        "hyb_ivf_clustered"
    )
    # The probe set is re-ranked from the checkpoint (the oracle reuses
    # its one cdist CTE instead — same expression, same tie-break, so
    # identical rn); the scoring body is the SHARED `_ivf_arm_core`.
    ranked = _nearest_sql(
        f"(SELECT * FROM hyb_ivf_clustered WHERE {QUERY_FILTER})",
        "(SELECT vec_id AS cid, emb, nrm FROM hyb_ivf_clustered "
        f"WHERE vec_id < {nlist})",
        _SPARK_COS,
        hint="/*+ BROADCAST(b) */ ",
    )
    probe = f"SELECT vec_id, cid FROM ({ranked}) pr WHERE rn <= {nprobe}"
    return spark.sql(
        _fuse_sql(
            _ivf_arm_core(
                "SELECT vec_id, emb, nrm, cid FROM hyb_ivf_clustered",
                probe,
                _SPARK_COS,
            ),
            "SELECT doc_id, tok FROM hybrid_toks",
            str(n_universe),
        )
    )
