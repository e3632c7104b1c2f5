"""Product-quantized ANN (IVF-PQ) and PCA spectrum over embeddings.

``ivf_topk`` / ``ivf_topk_kmeans`` keep full vectors in every inverted
list; at 100 TB the candidate scan's memory traffic IS the search cost.
IVF-PQ is the standard fix (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): store each vector as M small
subspace codes (here 8 bytes instead of 512), scan candidates by
asymmetric distance against the decoded approximation, then re-rank a
shortlist with exact scores fetched by id — a 64× candidate-bandwidth
reduction with near-exact final ranking.

Training (coarse-centroid prefix rule + per-subspace Lloyd iterations)
is deterministic: fixed sample, fixed init (first K sample rows), fixed
iteration count, first-minimum tie-breaks — so the index, and therefore
the recall contract, is bit-reproducible across runs and cluster sizes.

Like ``ivf_topk_kmeans``, the emission is a *thresholded recall
contract* (iterative codebook training is not SQL-expressible): the
oracle pins the query count exactly and expects the recall boolean to
be literal TRUE; tests/test_recall.py pins the measured recall tighter.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import table_rowcount
from lakehouse_workshop_spark.kernels import nearest, unit, worker_buf
from lakehouse_workshop_spark.operators import query
from lakehouse_workshop_spark.operators.llm_similarity import (
    _cid_width,
    _DUCK_COS,
    _DUCK_PREP,
    _emb_view,
    _nearest_sql,
    _SPARK_COS,
    _SPARK_PREP,
    _topk_sql,
    EMB_DIM,
    IVF_NLIST_MIN,
    QUERY_FILTER,
    TOP_K,
)

PQ_M = 8  # subspaces
PQ_K = 16  # codes per subspace (4-bit codes)
PQ_TRAIN_N = 4096  # deterministic training-sample prefix (vec_id bound)
PQ_ITERS = 10
PQ_NPROBE = 8  # FLOOR — effective nprobe scales as 3·√nlist (see below)
PQ_SHORTLIST = 100  # FLOOR — effective shortlist scales with candidates
PQ_SHORTLIST_CAP = 2000  # bounds the exact re-rank fetch per query
PQ_RECALL_FLOOR = 0.6
OPQ_ITERS = 5  # rotation/codebook alternation sweeps (Ge et al. 2013)
ADC_BLOCK = 4096  # decoded-slab rows: peak ADC task memory = ADC_BLOCK×dim


def _pq_knobs(n: int, nlist: int) -> tuple[int, int]:
    """Scale-derived search knobs. Constant knobs fail the recall
    contract at sf0.1: coverage was 0.43 at nprobe=8/44 lists, and even
    full coverage put only 40% of true neighbors in a top-100 shortlist
    of the 32-bit codes on this near-iid corpus.

    nprobe = max(floor, ⌈3·√nlist⌉): probed-candidate volume is
    n·nprobe/nlist = 3n/√nlist = 3·n^(3/4) — still sublinear (fixed
    nprobe gives n^(1/2) coverage decay; probing a fixed FRACTION would
    give back linear scans), and with nlist = √n the probe ranking stays
    a |Q|×√n matmul. shortlist = half the expected candidates, floored
    at {PQ_SHORTLIST} and capped at {PQ_SHORTLIST_CAP} so the exact
    re-rank fetch is bounded per query at any corpus size. Measured
    recall@10 with these rules: 0.84 / 0.82 / 0.695 at sf0.001/0.01/0.1
    (constant knobs: 0.66 at sf0.01 but 0.32 at sf0.1)."""
    nprobe = max(PQ_NPROBE, int(np.ceil(3 * nlist**0.5)))
    shortlist = max(
        PQ_SHORTLIST, min(PQ_SHORTLIST_CAP, (n * nprobe // max(nlist, 1)) // 2)
    )
    return nprobe, shortlist


def _train_codebooks(
    residuals: np.ndarray, init: np.ndarray | None = None
) -> np.ndarray:
    """Deterministic per-subspace Lloyd k-means: init = first PQ_K sample
    rows (or the given (M, K, dim/M) warm-start centers — the OPQ
    alternation passes the previous sweep's books so its objective is
    provably non-increasing), PQ_ITERS sweeps, empty clusters keep their
    previous center, ties take the first (lowest-index) code. Returns
    (M, K, dim/M)."""
    n, dim = residuals.shape
    if n < PQ_K:
        raise ValueError(
            f"PQ codebook training needs >= {PQ_K} sample rows, got {n} — "
            "the vec_id-prefix sample assumes dense ids starting near 0; "
            "remap ids or widen the training prefix"
        )
    sub = dim // PQ_M
    books = np.empty((PQ_M, PQ_K, sub), dtype=np.float64)
    for m in range(PQ_M):
        x = residuals[:, m * sub : (m + 1) * sub]
        centers = x[:PQ_K].copy() if init is None else init[m].copy()
        for _ in range(PQ_ITERS):
            d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            code = d2.argmin(axis=1)
            for k in range(PQ_K):
                mask = code == k
                if mask.any():
                    centers[k] = x[mask].mean(axis=0)
        books[m] = centers
    return books


def _encode_decode(y: np.ndarray, books: np.ndarray) -> np.ndarray:
    """PQ-reconstruct each row of ``y`` through the codebooks (nearest
    center per subspace, first-minimum ties — the exact assignment rule
    ``_assign_encode_fn`` applies). Driver-side, training-sample sized."""
    sub = y.shape[1] // PQ_M
    recon = np.empty_like(y)
    for m in range(PQ_M):
        x = y[:, m * sub : (m + 1) * sub]
        d2 = ((x[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        recon[:, m * sub : (m + 1) * sub] = books[m][d2.argmin(axis=1)]
    return recon


def _train_opq(
    residuals: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Optimized Product Quantization (Ge et al., "Optimized Product
    Quantization for Approximate Nearest Neighbor Search", CVPR 2013,
    non-parametric solution): learn an orthonormal rotation R so the
    PQ subspace split lands on axes that share the variance, alternating
    (a) codebook training on the rotated residuals (warm-started from the
    previous sweep's books, so Lloyd can only lower the objective) with
    (b) the orthogonal-Procrustes update R = UVᵀ from
    SVD(residualsᵀ·recon), the closed-form minimizer of
    ‖residuals·R − recon‖² over rotations. Both half-steps are
    non-increasing, and the sweep-0 objective (R = I, cold init) IS plain
    PQ's training error — so the returned error pair certifies
    ``err_opq <= err_pq`` by construction (pinned in tests/test_recall.py).

    Deterministic: fixed iteration counts, first-K init, first-minimum
    ties, and LAPACK SVD on a fixed matrix. Returns (R, books, err_pq,
    err_opq); books quantize ROTATED residuals — encode applies R before
    the subspace split, ADC rotates the query side instead of un-rotating
    every decoded candidate (inner products are rotation-invariant)."""
    dim = residuals.shape[1]
    R = np.eye(dim)
    books = None
    err_pq = err_opq = float("inf")
    for it in range(OPQ_ITERS):
        y = residuals @ R
        books = _train_codebooks(y, init=books)
        recon = _encode_decode(y, books)
        err = float(((y - recon) ** 2).sum())
        if it == 0:
            err_pq = err  # R = I, cold init: exactly plain PQ's training fit
        err_opq = err
        u, _, vt = np.linalg.svd(residuals.T @ recon)
        R = u @ vt
    # The loop ends on a Procrustes step; refit the books under the final
    # rotation (warm-started — still non-increasing) so the returned pair
    # is consistent.
    y = residuals @ R
    books = _train_codebooks(y, init=books)
    err_opq = float(((y - _encode_decode(y, books)) ** 2).sum())
    return R, books, err_pq, err_opq


def _kmeans_centroids(
    prepped: DataFrame, nlist: int, prefix_nonempty: bool | None = None
) -> np.ndarray:
    """Learned coarse centroids: MLlib KMeans on the bounded deterministic
    prefix sample (the exact trainer shape ``ivf_kmeans_search`` uses —
    vec_id < KMEANS_TRAIN_N, fixed seed, 5 sweeps), fit in UNIT space and
    re-normalized so downstream cosine assignment/ADC is unchanged.
    ``prefix_nonempty`` lets a caller that already knows whether rows with
    vec_id < KMEANS_TRAIN_N exist (ivf_pq_search collects a superset
    prefix anyway) skip the guard's take(1) — one fewer Spark job per
    index build. Returns (nlist, dim); row i is
    centroid of cluster id i."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from lakehouse_workshop_spark.operators.llm_similarity import KMEANS_TRAIN_N

    train = prepped.where(F.col("vec_id") < KMEANS_TRAIN_N)
    if prefix_nonempty is None:
        prefix_nonempty = bool(train.take(1))
    if not prefix_nonempty:
        # Sparse / non-zero-based vec_ids leave the prefix empty; fall
        # back to the full relation rather than crash KMeans.fit with an
        # opaque MLlib error (same fallback as ivf_kmeans_search).
        train = prepped
    train = train.withColumn(
        "features", array_to_vector(F.expr("transform(emb, x -> x / nrm)"))
    )
    model = KMeans(
        k=nlist, seed=7, maxIter=5, featuresCol="features", predictionCol="cid"
    ).fit(train)
    centers = np.array([list(c) for c in model.clusterCenters()], dtype=np.float64)
    norms = np.linalg.norm(centers, axis=1)
    norms[norms == 0.0] = 1.0  # an empty cluster's zero center stays zero
    return centers / norms[:, None]


def _assign_encode_fn(bc):
    """Arrow-batched coarse-assign + PQ-encode pass over prepped vectors,
    parameterized by a broadcast (cent_mat, cent_ids, books[, R]) index.
    Shared by the index build (``ivf_pq_search``), the incremental ingest
    (``ivf_pq_incremental``) and the OPQ variant so all encode
    bit-identically; the optional orthonormal R rotates residuals before
    the subspace split (OPQ) — absent, the pass is byte-identical to the
    plain-PQ encode."""

    def assign_encode(batches):
        import pandas as pd

        c_mat, c_ids, bks, *rest = bc.value
        rot = rest[0] if rest else None
        sub = c_mat.shape[1] // PQ_M
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = unit(pdf["emb"].to_numpy(), pdf["nrm"].to_numpy())
            n = len(vecs)
            best = nearest(
                np.matmul(vecs, c_mat.T, out=worker_buf("enc_s", (n, len(c_mat))))
            )
            res = vecs - c_mat[best]
            if rot is not None:
                res = np.matmul(
                    res, rot, out=worker_buf("enc_rot", res.shape)
                )
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            diff = worker_buf("enc_diff", (n, PQ_K, sub))
            for m in range(PQ_M):
                x = res[:, m * sub : (m + 1) * sub]
                np.subtract(x[:, None, :], bks[m][None, :, :], out=diff)
                np.square(diff, out=diff)
                codes[:, m] = diff.sum(axis=2).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": c_ids[best],
                    "codes": list(codes),
                }
            )

    return assign_encode


def _pq_prefix(prepped: DataFrame, nlist: int, coarse: str = "prefix"):
    """Collect the IVF-PQ training prefix (``vec_id < max(nlist,
    PQ_TRAIN_N)``, ascending) once and derive the coarse index from it:
    returns (cent_mat, cent_ids, residuals of the prefix against its
    nearest centroid) — the codebook training input. ``coarse="prefix"``
    takes the ``vec_id < nlist`` rows as centroids; ``"kmeans"`` trains
    them with :func:`_kmeans_centroids`. The sample assignment is the
    distributed encode's rule exactly (:func:`kernels.nearest`)."""
    bound = max(nlist, PQ_TRAIN_N)
    prefix = prepped.where(F.col("vec_id") < bound).orderBy("vec_id").collect()
    if not prefix:
        raise ValueError(
            f"IVF-PQ index build found no rows with vec_id < {bound} — the "
            "prefix-sample rule assumes dense vec_ids starting near 0; "
            "remap ids before indexing"
        )
    ids = np.array([int(r["vec_id"]) for r in prefix], dtype=np.int64)
    xs = unit([r["emb"] for r in prefix], [r["nrm"] for r in prefix])
    if coarse == "kmeans":
        from lakehouse_workshop_spark.operators.llm_similarity import (
            KMEANS_TRAIN_N,
        )

        # The collected prefix answers the trainer's emptiness guard —
        # no extra take(1) job.
        cent_mat = _kmeans_centroids(
            prepped, nlist, prefix_nonempty=bool((ids < KMEANS_TRAIN_N).any())
        )
        cent_ids = np.arange(nlist, dtype=np.int64)
    else:
        is_cent = ids < nlist
        if not is_cent.any():
            raise ValueError(
                f"IVF-PQ coarse-centroid prefix (vec_id < {nlist}) is empty "
                "— dense-from-0 vec_ids required"
            )
        cent_mat, cent_ids = xs[is_cent], ids[is_cent]
    return cent_mat, cent_ids, xs - cent_mat[nearest(xs @ cent_mat.T)]


def ivf_pq_search(
    spark: SparkSession, sf_dir: str, coarse: str = "prefix",
    rotate: bool = False,
) -> DataFrame:
    """IVF-PQ top-k: coarse assignment (broadcast-centroid BLAS matmul,
    same prefix-centroid rule as ``ivf_topk``), residual product
    quantization to {PQ_M}×4-bit codes, ADC candidate scoring against the
    decoded approximations, shortlist, exact re-rank by id — returning
    (query_id, vec_id, cosine, rnk) like the exact search. nprobe and the
    shortlist are DERIVED from the index geometry (:func:`_pq_knobs`):
    constant knobs pass the contract at small SF while coverage decays
    as n^(-1/2).

    ``coarse="kmeans"`` swaps the prefix-point coarse quantizer for
    MLlib-learned centroids — the same bounded-sample trainer
    ``ivf_topk_kmeans`` uses (KMeans on the vec_id < KMEANS_TRAIN_N
    prefix, fixed seed) — normalized to unit length so the identical
    matmul-assign/ADC machinery runs downstream. Learned centroids fit
    the data distribution, so inverted lists balance better than
    arbitrary prefix points under skew.

    ``rotate=True`` learns an OPQ rotation (Ge et al. 2013; see
    :func:`_train_opq`) on the training residuals and encodes rotated
    residuals — same codes-only candidate table, same ADC machinery (the
    query side rotates instead of un-rotating every candidate, since
    inner products are rotation-invariant), strictly lower training
    quantization error by construction.

    Scale: the quantized candidate table carries (vec_id, cid, 8 codes) —
    no vectors — and candidates never move at all: scoring is
    per-cluster (applyInPandas grouped on cid), one decode per inverted
    list + one BLAS matmul per probing query set, with only per-(query,
    cluster) top-shortlist rows leaving the worker. The only full-width
    reads are the one assign-and-encode pass and the shortlist re-rank
    (|queries|·shortlist rows fetched by key, shortlist capped at
    {PQ_SHORTLIST_CAP}); the re-rank attaches the corpus-side vector
    first, so the shortlist exchange carries ids only. Probed candidates
    grow as 3·n^(3/4) — sublinear (see :func:`_pq_knobs`).
    Queries, codebooks and centroids broadcast (|Q|·{EMB_DIM} +
    √n·{EMB_DIM} + {PQ_M}·{PQ_K} doubles — the same query broadcast the
    exact search's BNLJ already ships). Training reads a bounded prefix
    sample; at 100 TB that prefix becomes a hash-sample of the same
    size — the index shape is unchanged.
    """
    tag = "opq" if rotate else ("pq" if coarse == "prefix" else "pqk")
    _emb_view(spark, sf_dir)
    prepped = spark.sql(_SPARK_PREP)
    prepped.createOrReplaceTempView(f"{tag}_prepped")

    # One prefix collect (_pq_prefix) covers both the coarse centroids
    # (the vec_id < nlist rule of _matmul_assign/ivf_topk) and the PQ
    # training sample, so the index build costs one collect + one
    # distributed assign-and-encode pass; n comes from the parquet
    # footer (table_rowcount — no job).
    n = table_rowcount(sf_dir, "embeddings")
    nlist = max(IVF_NLIST_MIN, int(n**0.5))
    nprobe, shortlist = _pq_knobs(n, nlist)
    cent_mat, cent_ids, res = _pq_prefix(prepped, nlist, coarse)
    if rotate:
        R, books, _, _ = _train_opq(res)
        bc = spark.sparkContext.broadcast((cent_mat, cent_ids, books, R))
    else:
        bc = spark.sparkContext.broadcast(
            (cent_mat, cent_ids, _train_codebooks(res))
        )
    assign_encode = _assign_encode_fn(bc)

    # Checkpoint the codes ALREADY hash-partitioned by cid: the
    # ADC stage is groupBy("cid").applyInPandas, whose required
    # distribution this partitioning satisfies — the per-rep cid
    # exchange (written from the ~3 AQE-coalesced partitions the
    # checkpoint otherwise inherits) disappears from the scoring path.
    # Width scales with the corpus (_cid_width): full core width
    # at the 100× probe and beyond, a handful of tasks at the base SF
    # where a fixed 32-way form is scheduling overhead.
    codes_df = (
        prepped.mapInPandas(
            assign_encode, "vec_id BIGINT, cid BIGINT, codes ARRAY<INT>"
        )
        .repartition(_cid_width(spark, n), "cid")
        .localCheckpoint(eager=True)
    )
    codes_df.createOrReplaceTempView(f"{tag}_codes")

    # Probe ranking runs DRIVER-SIDE on the collected query matrix: the
    # query set must broadcast for scoring anyway (the same 51 MB-at-10^5-
    # queries the exact search's BNLJ ships), and queries × centroids is
    # a |Q|×√n matmul — pushing it through SQL paid one interpreted
    # 64-element fold per pair (900k folds at the 100× probe, the exact
    # anti-pattern the semantic-dedup rewrite removed).
    q_rows = (
        prepped.where(F.expr(QUERY_FILTER)).orderBy("vec_id").collect()
    )
    q_ids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    q_mat = unit([r["emb"] for r in q_rows], [r["nrm"] for r in q_rows])
    sims = np.round(q_mat @ cent_mat.T, 6)
    # top-nprobe per query, ties by ascending cid (stable mergesort on
    # (-sim, cid-order) — matches the SQL ORDER BY sim DESC, cid)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    probed_by_cid: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for ci in order[qi]:
            probed_by_cid.setdefault(int(cent_ids[ci]), []).append(qi)
    bc_q = spark.sparkContext.broadcast((q_ids, q_mat, probed_by_cid))

    # Per-cluster ADC: every query probing a list scores it by one BLAS
    # matmul, and only the per-(query, cluster) top-shortlist rows
    # leave the worker — the global shortlist is the top of these
    # per-group tops, so emission is exact while output shrinks from
    # |Q|·nprobe·L to |Q|·nprobe·shortlist. The inverted list
    # decodes in ADC_BLOCK-row slabs, so peak task memory is
    # ADC_BLOCK×dim + the accumulated candidate lists (≤ blocks×k per
    # query) REGARDLESS of cluster size — the same slab fix that saved
    # semantic_dedup at the 100× skew probe (22% of rows in one cluster),
    # now safe at any dim. Exactness through the slabs: each slab keeps
    # its own top-k-with-2e-6-margin superset; a cell a stronger slab
    # threshold drops has ≥ k same-(query,cluster) cells whose raw
    # scores exceed it by > 2e-6, hence STRICTLY higher 6-dp rounded
    # scores — it could never survive the final (-rounded, vec_id) cut.
    def adc_cluster(key, pdf):
        import pandas as pd

        c_mat, c_ids, bks, *rest = bc.value
        rot = rest[0] if rest else None
        qids, qmat, probes = bc_q.value
        cid = int(key[0])
        qis = probes.get(cid)
        if not qis:
            return pd.DataFrame(
                {"query_id": [], "vec_id": [], "approx": []}
            ).astype({"query_id": "int64", "vec_id": "int64", "approx": "float64"})
        sub = c_mat.shape[1] // PQ_M
        c_idx = {int(c): i for i, c in enumerate(c_ids)}
        base = c_mat[c_idx[cid]]
        codes_all = np.stack(pdf["codes"].to_numpy())
        vids_all = pdf["vec_id"].to_numpy()
        qsub = qmat[qis]
        if rot is not None:
            # OPQ: codes live in rotated-residual space. Rotating the
            # query side and the centroid once per cluster scores q·x̂
            # exactly — q·(c + ŷRᵀ) = (qR)·(cR + ŷ) — without un-rotating
            # ADC_BLOCK decoded rows per slab.
            base = base @ rot
            qsub = qsub @ rot

        def margin_topk(s, v):
            # deterministic top-k under 6-dp score ties: raw-cut a
            # superset at the kth value minus the rounding margin (see
            # exact_topk_blas) — only the superset ever pays np.round
            k = min(shortlist, len(s))
            if k < len(s):
                thr = np.partition(s, len(s) - k)[len(s) - k]
                sel = np.where(s >= thr - 2e-6)[0]
                return s[sel], v[sel], k
            return s, v, k

        cand_s: list[list] = [[] for _ in qis]
        cand_v: list[list] = [[] for _ in qis]
        for start in range(0, len(vids_all), ADC_BLOCK):
            codes = codes_all[start : start + ADC_BLOCK]
            vids = vids_all[start : start + ADC_BLOCK]
            # decoded slab reuses a worker buffer (row-prefix views stay
            # contiguous); the broadcast-copy form re-allocated the slab
            # per iteration — see kernels.worker_buf
            dec = worker_buf("adc_dec", (ADC_BLOCK, len(base)))[: len(codes)]
            np.copyto(dec, base)
            for m in range(PQ_M):
                dec[:, m * sub : (m + 1) * sub] += bks[m][codes[:, m]]
            # Score into a reused worker slab: `qsub @ dec.T` would
            # allocate a fresh |q_probing|×block float64 matrix per
            # slab — ~1 GB of first-touch page faults per rep at the
            # 100× probe, the page-fault cost worker_buf avoids. The buffer
            # is sized by the FULL query count so one allocation serves
            # every cluster; matmul writes row-prefix views in place
            # (only the ragged tail slab, codes < ADC_BLOCK, pays a
            # fresh allocation via the fallback).
            sbuf = worker_buf("adc_scores", (len(qids), ADC_BLOCK))
            if len(codes) == ADC_BLOCK and len(qsub) <= len(qids):
                scores = np.matmul(qsub, dec.T, out=sbuf[: len(qsub)])
            else:
                scores = qsub @ dec.T  # RAW |q_probing| × block
            for row, qi in enumerate(qis):
                mask = vids != qids[qi]  # drop the self-hit
                s, v, _ = margin_topk(scores[row][mask], vids[mask])
                cand_s[row].append(s)
                cand_v[row].append(v)
        out_q, out_v, out_s = [], [], []
        for row, qi in enumerate(qis):
            s, v, k = margin_topk(
                np.concatenate(cand_s[row]), np.concatenate(cand_v[row])
            )
            rs = np.round(s, 6)
            order = np.lexsort((v, -rs))[:k]
            out_q.append(np.full(len(order), qids[qi]))
            out_v.append(v[order])
            out_s.append(rs[order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "vec_id": np.concatenate(out_v),
                "approx": np.concatenate(out_s),
            }
        )

    codes_df.groupBy("cid").applyInPandas(
        adc_cluster, "query_id BIGINT, vec_id BIGINT, approx DOUBLE"
    ).createOrReplaceTempView(f"{tag}_scored")

    # Shortlist on the quantized score, then exact re-rank by id.
    return spark.sql(
        f"""
        WITH shortlist AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY approx DESC, vec_id) AS srn
                FROM {tag}_scored
            ) WHERE srn <= {shortlist}
        ),
        exact AS (
            -- attach corpus vectors first, then broadcast the |Q|-row query slice
            SELECT /*+ BROADCAST(a) */
                   b.query_id, b.vec_id, ROUND({_SPARK_COS}, 6) AS cosine
            FROM (SELECT s.query_id, s.vec_id, ie.emb, ie.nrm
                  FROM shortlist s
                  JOIN {tag}_prepped ie ON s.vec_id = ie.vec_id) b
            JOIN (SELECT * FROM {tag}_prepped WHERE {QUERY_FILTER}) a
              ON a.vec_id = b.query_id
        )
        SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rnk
            FROM exact
        ) WHERE rnk <= {TOP_K}
        """
    )


def exact_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} with the query matrix broadcast and each
    Arrow batch scored by one BLAS matmul — the vectorized twin of
    ``cosine_topk``'s BNLJ-and-fold plan (which pays one interpreted
    64-element fold per (query, vector) pair: 400M folds at the 100×
    probe, minutes of lambda dispatch for seconds of matmul).

    Exactness: every batch emits each query's within-batch top-{TOP_K}
    (cut at the kth score VALUE, tie region ordered by vec_id — never by
    partition order), and the global window keeps the top of those tops,
    which is exactly the global top-{TOP_K}. Self-hits are masked to -2
    (below any cosine) before the cut.

    The scan ships RAW float32 vectors and the cast + L2 norm run in
    numpy inside the UDF: the SQL-prep form paid an interpreted
    64-element lambda fold per row JVM-side AND doubled the Arrow bytes
    (float64) — at the 100× probe that prep alone cost more than the
    whole matmul. Numerics: the numpy float64 norm differs from the SQL
    left fold only in final-ulp summation order, the same measure-zero
    class as matmul-vs-fold scoring, which the 6-dp round absorbs
    (oracle parity stays bit-green at both driver SFs).
    """
    _emb_view(spark, sf_dir)
    raw = spark.table("embeddings").select("vec_id", "embedding")

    def unit_rows(rows):
        ids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
        mat = np.stack([np.asarray(r["embedding"]) for r in rows]).astype(
            np.float64
        )
        mat /= np.sqrt((mat * mat).sum(axis=1))[:, None]
        return ids, mat

    q_ids, q_mat = unit_rows(
        raw.where(F.expr(QUERY_FILTER)).orderBy("vec_id").collect()
    )
    bcq = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        import pandas as pd

        qids, qmat = bcq.value
        qpos = {int(v): i for i, v in enumerate(qids)}
        nq = len(qids)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vecs /= np.sqrt((vecs * vecs).sum(axis=1))[:, None]
            vids = pdf["vec_id"].to_numpy()
            n = len(vids)
            # Scores land (candidates × queries) in a REUSED worker
            # buffer (row-major, so per-query ops run down contiguous
            # columns and reused row-prefix views stay contiguous) — see
            # kernels.worker_buf for why fresh allocations here were the
            # dominant cost at the 100× probe.
            s = np.matmul(vecs, qmat.T, out=worker_buf("exact_s", (n, nq)))
            for col, vid in enumerate(vids):  # mask self-hits
                qi = qpos.get(int(vid))
                if qi is not None:
                    s[col, qi] = -2.0
            # Emit every cell that could round to at least the query's
            # kth ROUNDED score — the top-k plus its 6-dp ties, a
            # (k + ties)-bounded superset the global window cuts
            # deterministically. Rounding is monotone with |x−round(x)|
            # ≤ 5e-7, so round(x) ≥ round(thr) implies x ≥ thr − 1e-6:
            # the raw threshold with a 2e-6 margin is a strict superset,
            # and only the emitted cells get rounded — np.round over the
            # full batch×|Q| matrix measured ~2× the matmul itself.
            k = min(TOP_K, n)
            p = worker_buf("exact_p", (n, nq))
            np.copyto(p, s)
            p.partition(n - k, axis=0)  # in-place: no per-batch copy alloc
            thr = p[n - k]  # per-query kth-largest raw score
            # s > -1.5 drops the -2.0 self-hit sentinels: in a batch with
            # <= k rows the threshold falls to the sentinel itself and
            # the masked cell would otherwise pollute the final top-k.
            sel = worker_buf("exact_sel", (n, nq), np.bool_)
            np.greater_equal(s, thr - 2e-6, out=sel)
            live = worker_buf("exact_live", (n, nq), np.bool_)
            np.greater(s, -1.5, out=live)
            sel &= live
            col_idx, qi_idx = np.nonzero(sel)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi_idx],
                    "vec_id": vids[col_idx],
                    "cosine": np.round(s[col_idx, qi_idx], 6),
                }
            )

    raw.mapInPandas(
        score, "query_id BIGINT, vec_id BIGINT, cosine DOUBLE"
    ).createOrReplaceTempView("exact_blas_partial")
    return spark.sql(
        f"""
        SELECT query_id, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
            SELECT query_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rnk
            FROM exact_blas_partial
        ) WHERE rnk <= {TOP_K}
        """
    )


@query("exact_topk", oracle=_topk_sql(_DUCK_COS, _DUCK_PREP),
       scale_path="ivf_topk")
def exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS exact search as a first-class registered query: identical
    emission to ``cosine_topk`` (proven row-identical by the shared
    oracle and pinned by tests/test_recall.py), but scored by one matmul
    per Arrow batch instead of one interpreted 64-element fold per
    (query, vector) pair — at the 100× probe that is the difference
    between seconds of BLAS and minutes of lambda dispatch.

    Scale-path chain: ``cosine_topk`` (labeled fold baseline) names this
    query as its production form; this query in turn names ``ivf_topk``
    for consumers who can trade exactness for sub-linear candidate
    scans. Still O(|Q|·n) — exact search cannot beat a full scan — but
    every byte moves through vectorized kernels and the emission is
    bounded by |Q|·(k + ties) per batch.
    """
    return exact_topk_blas(spark, sf_dir)


@query(
    "ivf_pq_topk",
    oracle=f"""
    WITH e AS ({_DUCK_PREP})
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM e WHERE {QUERY_FILTER}
    """,
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for :func:`ivf_pq_search`: mean recall@{TOP_K}
    against the exact cosine top-k must clear {PQ_RECALL_FLOOR} (floor;
    tests/test_recall.py pins the measured value tighter). The oracle
    derives ``n_queries`` exactly and expects ``recall_ok`` = TRUE.

    The exact arm runs through :func:`exact_topk_blas` — measuring the
    approximate index against the fold-based brute force made the CONTRACT
    the slowest stage of the whole query at the 100× probe."""
    approx = ivf_pq_search(spark, sf_dir)
    approx.createOrReplaceTempView("ivf_pq_topk_result")
    exact_topk_blas(spark, sf_dir).createOrReplaceTempView("pq_exact_topk")
    return spark.sql(
        f"""
        WITH hits AS (
            SELECT e.query_id,
                   COUNT(a.vec_id) AS n_hit, COUNT(*) AS n_exact
            FROM pq_exact_topk e
            LEFT JOIN ivf_pq_topk_result a
              ON e.query_id = a.query_id AND e.vec_id = a.vec_id
            GROUP BY e.query_id
        )
        SELECT COUNT(*) AS n_queries,
               AVG(n_hit / n_exact) >= {PQ_RECALL_FLOOR}D AS recall_ok
        FROM hits
        """
    )


@query(
    "ivf_pq_topk_kmeans",
    oracle=f"""
    WITH e AS ({_DUCK_PREP})
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM e WHERE {QUERY_FILTER}
    """,
)
def ivf_pq_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the LEARNED-coarse-quantizer IVF-PQ
    (``ivf_pq_search(coarse="kmeans")``): the production pairing — a
    trained coarse quantizer balancing the inverted lists, PQ codes
    bounding candidate bandwidth — measured against ``exact_topk_blas``
    with the same ≥{PQ_RECALL_FLOOR} floor as ``ivf_pq_topk``
    (tests/test_recall.py pins the measured value tighter).

    Scale: identical plan to ``ivf_pq_topk`` plus one bounded-sample
    KMeans fit (vec_id < KMEANS_TRAIN_N — never the corpus); centroids
    leave the JVM once as a √n×{EMB_DIM} matrix, exactly what a cluster
    would broadcast from an offline index build."""
    approx = ivf_pq_search(spark, sf_dir, coarse="kmeans")
    approx.createOrReplaceTempView("ivf_pqk_topk_result")
    exact_topk_blas(spark, sf_dir).createOrReplaceTempView("pqk_exact_topk")
    return spark.sql(
        f"""
        WITH hits AS (
            SELECT e.query_id,
                   COUNT(a.vec_id) AS n_hit, COUNT(*) AS n_exact
            FROM pqk_exact_topk e
            LEFT JOIN ivf_pqk_topk_result a
              ON e.query_id = a.query_id AND e.vec_id = a.vec_id
            GROUP BY e.query_id
        )
        SELECT COUNT(*) AS n_queries,
               AVG(n_hit / n_exact) >= {PQ_RECALL_FLOOR}D AS recall_ok
        FROM hits
        """
    )


@query(
    "ivf_opq_topk",
    oracle=f"""
    WITH e AS ({_DUCK_PREP})
    SELECT COUNT(*) AS n_queries, TRUE AS recall_ok
    FROM e WHERE {QUERY_FILTER}
    """,
)
def ivf_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for OPQ-rotated IVF-PQ
    (``ivf_pq_search(rotate=True)``): the learned orthonormal rotation
    (Ge et al. 2013, non-parametric OPQ — see :func:`_train_opq`)
    re-axes residual space before the subspace split so the {PQ_M}
    codebooks share the variance instead of inheriting whatever the raw
    coordinate order happened to put in each block; training quantization
    error is ≤ plain PQ's by construction (each alternation half-step is
    non-increasing and sweep 0 IS the plain-PQ fit — the inequality is
    pinned in tests/test_recall.py). Same ≥{PQ_RECALL_FLOOR} floor and
    emission as ``ivf_pq_topk``.

    Scale: identical plan to ``ivf_pq_topk`` — the rotation adds one
    {EMB_DIM}×{EMB_DIM} matrix to the broadcast, one in-buffer matmul to
    the encode pass, and a per-cluster query-side rotation to ADC
    (q·(c + ŷRᵀ) = (qR)·(cR + ŷ), so decoded candidates are never
    un-rotated); training cost is {OPQ_ITERS} extra Lloyd/Procrustes
    sweeps over the bounded driver-side sample."""
    approx = ivf_pq_search(spark, sf_dir, rotate=True)
    approx.createOrReplaceTempView("ivf_opq_topk_result")
    exact_topk_blas(spark, sf_dir).createOrReplaceTempView("opq_exact_topk")
    return spark.sql(
        f"""
        WITH hits AS (
            SELECT e.query_id,
                   COUNT(a.vec_id) AS n_hit, COUNT(*) AS n_exact
            FROM opq_exact_topk e
            LEFT JOIN ivf_opq_topk_result a
              ON e.query_id = a.query_id AND e.vec_id = a.vec_id
            GROUP BY e.query_id
        )
        SELECT COUNT(*) AS n_queries,
               AVG(n_hit / n_exact) >= {PQ_RECALL_FLOOR}D AS recall_ok
        FROM hits
        """
    )


# --- incremental ingest ------------------------------------------------------
# The dedup family has per-ingest shapes (dedup_incremental,
# minhash_lsh_incremental); this is the vector-family mirror: assign a NEW
# batch to the EXISTING coarse centroids + codebooks — broadcast both, one
# Arrow-batched assign-and-encode pass over the batch only — instead of
# rebuilding the index from scratch. Split rule mirrors the dedup twins:
# corpus = vec_id % 10 != 9 (the standing index), batch = vec_id % 10 = 9
# (tonight's ingest).

_PQ_INCR_SPLIT = "vec_id % 10 = 9"  # batch predicate; corpus is its negation

# Shared by the batch query below and its streaming twin
# (streaming_pq_ingest): both emit the identical inverted-list counts, so
# both value-check against this one exact recomputation.
_PQ_INCR_ORACLE = f"""
    WITH e AS ({_DUCK_PREP}),
    corpus AS (SELECT * FROM e WHERE NOT ({_PQ_INCR_SPLIT})),
    cent AS (
        SELECT vec_id AS cid, emb, nrm FROM corpus
        WHERE vec_id < (SELECT GREATEST({IVF_NLIST_MIN},
                            CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))
                        FROM corpus)
    ),
    assign AS ({_nearest_sql(
        "e", "cent", _DUCK_COS, carry=(f"a.{_PQ_INCR_SPLIT} AS is_batch",)
    )})
    SELECT cid,
           CAST(COUNT(CASE WHEN NOT is_batch THEN 1 END) AS BIGINT)
               AS n_corpus,
           CAST(COUNT(CASE WHEN is_batch THEN 1 END) AS BIGINT) AS n_batch,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM assign WHERE rn = 1 GROUP BY cid
    """


def _corpus_pq_index(corpus: DataFrame, n: int):
    """Deterministic prefix-coarse IVF-PQ index over the given corpus
    relation (nlist = max({IVF_NLIST_MIN}, ⌊√n⌋) prefix centroids, PQ
    codebooks trained on the vec_id-prefix sample — the exact rules
    ``ivf_pq_search`` uses). Returns the broadcastable
    (cent_mat, cent_ids, books) triple; shared by the batch incremental
    ingest and its streaming twin so both encode bit-identically."""
    cent_mat, cent_ids, res = _pq_prefix(
        corpus, max(IVF_NLIST_MIN, int(n**0.5))
    )
    return cent_mat, cent_ids, _train_codebooks(res)


@query("ivf_pq_incremental", oracle=_PQ_INCR_ORACLE)
def ivf_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ ingest: build the index (prefix coarse
    centroids + PQ codebooks, both trained on the CORPUS partition only,
    same deterministic rules as ``ivf_pq_search``), then ingest the batch
    partition with ONE broadcast assign-and-encode pass — no retraining,
    no touching the standing corpus codes. Emits the updated inverted
    lists: per cid, the standing count, the ingested count, and the
    total. Nightly at 100 TB this is the difference between re-encoding
    a petabyte and encoding a terabyte.

    The coarse assignment (6-dp-rounded argmax, cid-ascending ties) is
    SQL-expressible, so — unlike the recall-contract PQ queries — the
    emission is value-checked exactly: the oracle recomputes every
    vector's nearest corpus-prefix centroid and both inverted-list
    counts. The PQ codes ride along in the same pass (the encode the
    contract queries exercise end-to-end); tests/test_recall.py pins the
    batch codes bit-equal to a driver-side numpy re-derivation of the
    same corpus-trained index applied to the same vectors.

    Scale: the batch pass reads ONLY the batch partition (filter pushed
    to the scan); centroids + codebooks broadcast (√n·{EMB_DIM} +
    {PQ_M}·{PQ_K} doubles); the count rollup keys on cid (≤√n groups,
    map-side combined). The corpus side here re-derives its counts for
    the emission — a real deployment reads them from the standing index's
    stats, making ingest cost O(batch) end-to-end.
    """
    corpus, batch, encode = _pq_incr_index(spark, sf_dir)
    return _pq_incr_counts(spark, encode(corpus), encode(batch))


def _pq_incr_index(spark: SparkSession, sf_dir: str):
    """The incremental ingest's standing index, trained on the corpus
    partition. Returns (corpus, batch, encode): the prepped corpus and
    ingest partitions, and ``encode(df)`` mapping prepped rows to
    (vec_id, cid, codes) against that index."""
    _emb_view(spark, sf_dir)
    prepped = spark.sql(_SPARK_PREP)
    corpus = prepped.where(f"NOT ({_PQ_INCR_SPLIT})")
    n = (
        spark.table("embeddings_raw")
        .where(f"NOT ({_PQ_INCR_SPLIT})")
        .select("vec_id")
        .count()
    )
    bc = spark.sparkContext.broadcast(_corpus_pq_index(corpus, n))
    assign_encode = _assign_encode_fn(bc)

    def encode(df: DataFrame) -> DataFrame:
        return df.mapInPandas(
            assign_encode, "vec_id BIGINT, cid BIGINT, codes ARRAY<INT>"
        )

    return corpus, prepped.where(_PQ_INCR_SPLIT), encode


def _pq_incr_counts(
    spark: SparkSession, corpus_codes: DataFrame, batch_codes: DataFrame
) -> DataFrame:
    """Updated inverted lists: per cid, the standing count, the ingested
    count and their total (views ``pqi_corpus_codes`` / ``pqi_batch_codes``)."""
    corpus_codes.createOrReplaceTempView("pqi_corpus_codes")
    batch_codes.createOrReplaceTempView("pqi_batch_codes")
    return spark.sql(
        """
        WITH c AS (SELECT cid, COUNT(*) AS n FROM pqi_corpus_codes
                   GROUP BY cid),
        b AS (SELECT cid, COUNT(*) AS n FROM pqi_batch_codes GROUP BY cid)
        SELECT COALESCE(c.cid, b.cid) AS cid,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_corpus,
               CAST(COALESCE(b.n, 0) AS BIGINT) AS n_batch,
               CAST(COALESCE(c.n, 0) + COALESCE(b.n, 0) AS BIGINT)
                   AS n_total
        FROM c FULL OUTER JOIN b ON c.cid = b.cid
        """
    )


# --- PCA spectrum --------------------------------------------------------------


@query(
    "embedding_pca_spectrum",
    oracle=f"""
    WITH x AS (
        SELECT g.i AS dim, CAST(embedding[g.i] AS DOUBLE) AS v
        FROM embeddings, generate_series(1, {EMB_DIM}) AS g(i)
    ),
    per_dim AS (
        SELECT dim,
               COUNT(*) AS n,
               CAST(SUM(CAST(v AS DECIMAL(38,8))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(v * v AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        FROM x GROUP BY dim
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(sxx / n - (sx / n) * (sx / n)
                              AS DECIMAL(38,8))) AS DOUBLE), 6)
               AS total_variance,
           TRUE AS eigen_trace_ok,
           TRUE AS shares_descending_ok
    FROM per_dim
    """,
)
def embedding_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA eigen-spectrum contract over the embedding covariance.

    The covariance accumulates distributedly (one {EMB_DIM}×{EMB_DIM}
    partial per Arrow batch — constant-size state, the classic
    tree-aggregate shape); eigenvalues come from the driver-side
    eigendecomposition of that tiny matrix. Eigenvectors/values are not
    SQL-derivable, so the emission is the contract the oracle CAN pin
    exactly: ``total_variance`` (the covariance trace, recomputed
    engine-side via order-independent DECIMAL moment sums over the
    exploded components) plus two internal-consistency booleans —
    Σλ = trace to 1e-6 relative, and shares sorted descending. The
    spectrum itself is pinned against numpy in tests/test_llm_mixture.py.
    """
    _emb_view(spark, sf_dir)

    def partial_cov(batches):
        import pandas as pd

        s = np.zeros(EMB_DIM)
        ss = np.zeros((EMB_DIM, EMB_DIM))
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            s += m.sum(axis=0)
            ss += m.T @ m
            n += len(m)
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = (
        spark.table("embeddings")
        .select("embedding")
        .mapInPandas(
            partial_cov, "n BIGINT, s ARRAY<DOUBLE>, ss ARRAY<DOUBLE>"
        )
        .collect()
    )
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    ss = np.sum([np.array(p["ss"]).reshape(EMB_DIM, EMB_DIM) for p in parts], axis=0)
    cov = ss / n - np.outer(s / n, s / n)
    eig = np.linalg.eigvalsh(cov)[::-1]
    shares = eig / eig.sum()
    trace_ok = bool(abs(eig.sum() - np.trace(cov)) <= 1e-6 * abs(np.trace(cov)))
    desc_ok = bool(np.all(np.diff(shares) <= 1e-12))

    # The hash-compared total_variance comes from the deterministic SQL
    # path (DECIMAL moment sums), NOT the float partials above.
    return spark.sql(
        f"""
        WITH x AS (
            SELECT pos + 1 AS dim, CAST(v AS DOUBLE) AS v
            FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, v
        ),
        per_dim AS (
            SELECT dim,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(v AS DECIMAL(38,8))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(v * v AS DECIMAL(38,8))) AS DOUBLE) AS sxx
            FROM x GROUP BY dim
        )
        SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
               ROUND(CAST(SUM(CAST(sxx / n - (sx / n) * (sx / n)
                                  AS DECIMAL(38,8))) AS DOUBLE), 6)
                   AS total_variance,
               {str(trace_ok).upper()} AS eigen_trace_ok,
               {str(desc_ok).upper()} AS shares_descending_ok
        FROM per_dim
        """
    )
