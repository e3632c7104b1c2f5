"""Measured-recall contracts for the approximate similarity family.

Round-3 verdict: recall knobs were documented, not tested. These tests
compute recall against the exact twins at the test SF and pin floors —
a hashing/banding/probing regression that silently guts answer quality
now fails pytest instead of shipping behind a green exact-parity row.

Measured values at the test SFs (for headroom context):
- embedding_near_pairs_lsh pair recall: 0.47 (sf0.001) / 0.58 (sf0.01)
- ann_topk_lsh recall@10 (8 tables x 4 planes): 0.66 / 0.66
- ivf_topk recall@10 (nlist=√n, nprobe=max(8,⌈3√nlist⌉), r11):
  0.92 / 0.88 / 0.76 at sf0.001/0.01/0.1 (constant nprobe=8 measured
  0.70 / 0.68 / 0.43 — the at-scale decay the r11 knob rule fixed)
- ivf_kmeans_search recall@10 (trained centroids, same rule, r11):
  0.80 / 0.94 / 0.845 (constant nprobe=8: 0.64 / 0.66 / 0.58)
"""

from __future__ import annotations

import os

import pytest

import lakehouse_workshop_spark.operators.llm_similarity as S

PAIR_RECALL_FLOOR = 0.4
TOPK_RECALL_FLOOR = 0.5

SF01 = "/root/testdata/sf0.1"
needs_sf01 = pytest.mark.skipif(
    not os.path.isdir(SF01),
    reason="sf0.1 fixture not generated on this checkout",
)


@pytest.fixture(scope="session")
def sf01_exact_topk(spark):
    """Exact top-k ground truth at sf0.1, computed once per session —
    shared by every at-scale recall contract below."""
    from lakehouse_workshop_spark.operators.llm_ann_pq import exact_topk_blas

    return _topk_set(exact_topk_blas(spark, SF01))


def _topk_set(df):
    return {(r.query_id, r.vec_id) for r in df.collect()}


def test_near_pair_lsh_recall(spark, sf_dir):
    exact = {(r.vec_a, r.vec_b) for r in S.embedding_near_pairs(spark, sf_dir).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in S.embedding_near_pairs_lsh(spark, sf_dir).collect()}
    assert exact, "exact near-pair set is empty — threshold or data drifted"
    assert not lsh - exact, "LSH emitted a pair the exact search did not (not a subset)"
    recall = len(lsh & exact) / len(exact)
    assert recall >= PAIR_RECALL_FLOOR, f"pair recall {recall:.3f} < {PAIR_RECALL_FLOOR}"


def test_ann_topk_lsh_recall(spark, sf_dir):
    exact = _topk_set(S.cosine_topk(spark, sf_dir))
    ann = _topk_set(S.ann_topk_lsh(spark, sf_dir))
    recall = len(ann & exact) / len(exact)
    assert recall >= TOPK_RECALL_FLOOR, f"ann recall@10 {recall:.3f} < {TOPK_RECALL_FLOOR}"


def test_ivf_topk_recall(spark, sf_dir):
    exact = _topk_set(S.cosine_topk(spark, sf_dir))
    ivf = _topk_set(S.ivf_topk(spark, sf_dir))
    recall = len(ivf & exact) / len(exact)
    assert recall >= TOPK_RECALL_FLOOR, f"ivf recall@10 {recall:.3f} < {TOPK_RECALL_FLOOR}"


def test_ivf_kmeans_recall(spark, sf_dir):
    exact = _topk_set(S.cosine_topk(spark, sf_dir))
    km = _topk_set(S.ivf_kmeans_search(spark, sf_dir))
    recall = len(km & exact) / len(exact)
    assert recall >= TOPK_RECALL_FLOOR, f"kmeans recall@10 {recall:.3f} < {TOPK_RECALL_FLOOR}"


def test_ann_topk_lsh_recall_holds_at_10x_scale(spark):
    """The r6 plane-scaling knob (planes-per-table = max(4, log2(n)-7))
    shrinks buckets as the corpus grows — which trades recall. The 1x
    floor above runs at 4 planes; the 10x probe corpus (20k vectors at
    sf0.1 base) runs at 7 planes, so this is the only test that
    exercises the growth path. Exact ground truth comes from numpy on a
    deterministic query sample (the standard sampled-recall protocol —
    the full exact twin would be 400M pairs). Measured: 0.925 at 20k
    vectors / 7 planes (the perturbed replicas seed plenty of true
    near neighbors, so sampled recall sits far above the 1x floor).
    """
    import numpy as np

    from bench import _probe_dir
    import lakehouse_workshop_spark.operators.llm_similarity as S

    probe = _probe_dir(spark, "/root/testdata/sf0.1")
    emb = spark.read.parquet(f"{probe}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in emb])
    m = np.array([r.embedding for r in emb], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, m = ids[order], m[order]

    sample = ids[:: max(1, len(ids) // 100)][:100]
    sample_rows = np.searchsorted(ids, sample)
    sims = m[sample_rows] @ m.T
    sims[np.arange(len(sample)), sample_rows] = -2.0  # exclude self
    exact = {
        (int(q), int(ids[j]))
        for qi, q in enumerate(sample)
        for j in np.argsort(-sims[qi])[: S.TOP_K]
    }

    want = set(int(q) for q in sample)
    ann = {
        (r.query_id, r.vec_id)
        for r in S.ann_topk_lsh(spark, probe).collect()
        if r.query_id in want
    }
    recall = len(ann & exact) / len(exact)
    assert recall >= TOPK_RECALL_FLOOR, (
        f"10x-scale ann recall@10 {recall:.3f} < {TOPK_RECALL_FLOOR} "
        "(plane growth over-shrank the buckets)"
    )


def test_ivf_pq_recall(spark, sf_dir):
    """IVF-PQ (residual codes + ADC shortlist + exact re-rank) recall@10.
    Measured: 0.84 (sf0.001) / 0.82 (sf0.01) / 0.695 (sf0.1) with the
    r10 scale-derived knobs (constant nprobe=8/shortlist=100 measured
    0.68 / 0.66 / 0.32 — the sf0.1 collapse is what forced _pq_knobs);
    deterministic index, so the floor has no run-to-run variance to
    absorb."""
    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        PQ_RECALL_FLOOR,
        ivf_pq_search,
    )

    exact = _topk_set(S.cosine_topk(spark, sf_dir))
    pq = _topk_set(ivf_pq_search(spark, sf_dir))
    recall = len(pq & exact) / len(exact)
    assert recall >= PQ_RECALL_FLOOR, f"pq recall@10 {recall:.3f} < {PQ_RECALL_FLOOR}"


def test_ivf_pq_kmeans_recall(spark, sf_dir):
    """Learned-coarse-quantizer IVF-PQ recall@10. Measured: 0.84
    (sf0.001) / 0.90 (sf0.01) / 0.83 (sf0.1) with the r10 scale-derived
    knobs — once probing covers enough lists, the learned centroids'
    tighter residuals show through (constant knobs measured 0.64 at both
    driver SFs, within noise of the prefix rule)."""
    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        PQ_RECALL_FLOOR,
        ivf_pq_search,
    )

    exact = _topk_set(S.cosine_topk(spark, sf_dir))
    pq = _topk_set(ivf_pq_search(spark, sf_dir, coarse="kmeans"))
    recall = len(pq & exact) / len(exact)
    assert recall >= PQ_RECALL_FLOOR, f"recall@10 {recall:.3f} < {PQ_RECALL_FLOOR}"


def test_opq_training_properties():
    """The OPQ alternation's paper-level guarantees, pinned on a seeded
    ANISOTROPIC sample (correlated dims — the case rotation exists for):
    R orthonormal, training quantization error ≤ plain PQ's (sweep 0 IS
    the plain fit, every half-step non-increasing), err_pq bit-equal to
    an independent cold plain-PQ fit, and the whole train deterministic."""
    import numpy as np

    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        _encode_decode,
        _train_codebooks,
        _train_opq,
    )

    rng = np.random.default_rng(42)
    mix = rng.normal(size=(64, 64))
    res = rng.normal(size=(500, 64)) @ mix * 0.1

    R, books, err_pq, err_opq = _train_opq(res)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-10
    assert err_opq <= err_pq + 1e-9
    cold = _train_codebooks(res)
    assert err_pq == float(((res - _encode_decode(res, cold)) ** 2).sum())
    R2, books2, p2, o2 = _train_opq(res)
    assert np.array_equal(R, R2) and np.array_equal(books, books2)
    assert (p2, o2) == (err_pq, err_opq)
    # measured on this sample: ~29% error reduction — assert a loose
    # floor so a rotation that silently degrades to identity fails
    assert err_opq < 0.9 * err_pq


def test_ivf_opq_recall(spark, sf_dir):
    """OPQ-rotated IVF-PQ recall@10. Measured: 0.90 (sf0.001) / 0.82
    (sf0.01) / 0.735 (sf0.1) with the r10 scale-derived knobs, vs plain
    PQ's 0.84 / 0.82 / 0.695 — the tighter codes show through at the SF
    where ADC ranking binds (at sf0.1 OPQ beats plain PQ by 4 points;
    the anisotropic-sample error reduction is pinned numerically in
    test_opq_training_properties); the contract here is that the rotated
    encode/ADC path scores exactly and clears the family floor."""
    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        PQ_RECALL_FLOOR,
        ivf_pq_search,
    )

    exact = _topk_set(S.cosine_topk(spark, sf_dir))
    opq = _topk_set(ivf_pq_search(spark, sf_dir, rotate=True))
    recall = len(opq & exact) / len(exact)
    assert recall >= PQ_RECALL_FLOOR, f"opq recall@10 {recall:.3f} < {PQ_RECALL_FLOOR}"


@needs_sf01
def test_pq_family_recall_holds_at_sf01(spark, sf01_exact_topk):
    """The r10 defect class, pinned where it actually bit: constant
    nprobe/shortlist cleared the 0.6 floor at the driver's sf0.01 while
    collapsing to 0.32 at sf0.1 (coverage decays n^(-1/2) when nprobe is
    fixed over nlist=√n). The scale-derived knobs (_pq_knobs) measured
    0.695 (pq) / 0.735 (opq) at sf0.1 — this test fails if a future knob
    or encode change re-introduces the decay at the one SF the driver
    never checks. Deterministic index → no variance to absorb."""
    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        PQ_RECALL_FLOOR,
        ivf_pq_search,
    )

    exact = sf01_exact_topk
    for kw, label in (({}, "pq"), ({"rotate": True}, "opq")):
        got = _topk_set(ivf_pq_search(spark, SF01, **kw))
        recall = len(got & exact) / len(exact)
        assert recall >= PQ_RECALL_FLOOR, (
            f"{label} recall@10 {recall:.3f} < {PQ_RECALL_FLOOR} at sf0.1 "
            "— the at-scale coverage/shortlist decay is back"
        )


@needs_sf01
def test_ivf_family_recall_holds_at_sf01(spark, sf01_exact_topk):
    """Round 11: the same at-scale pin for the NON-PQ IVF pair — the r10
    verdict's carried defect (#3). Constant nprobe=8 measured recall@10
    0.43 (prefix) / 0.58 (kmeans) at sf0.1; the geometry-derived
    max(8, ⌈3√nlist⌉) measured 0.76 / 0.845. Floor 0.6 (the PQ family
    floor) — the constant-knob values sit below it, so a regression to
    fixed nprobe fails here."""
    from lakehouse_workshop_spark.operators.llm_ann_pq import PQ_RECALL_FLOOR

    exact = sf01_exact_topk
    for search, label in (
        (S.ivf_topk, "ivf_topk"),
        (S.ivf_kmeans_search, "ivf_kmeans"),
    ):
        got = _topk_set(search(spark, SF01))
        recall = len(got & exact) / len(exact)
        assert recall >= PQ_RECALL_FLOOR, (
            f"{label} recall@10 {recall:.3f} < {PQ_RECALL_FLOOR} at sf0.1 "
            "— the n^(-1/2) probe-coverage decay is back"
        )


@needs_sf01
def test_probe10x_recall_floors(spark):
    """r11 verdict ask #3: the bench artifact's measured recall@10 at the
    10× probe corpus, pinned as a pytest floor. Both knob-decay defects
    so far (r10 PQ shortlist, r11 non-PQ nprobe) were caught by manual
    sweeps AFTER shipping; this turns the next decay into a red test.
    Measured (r11 bench, bit-identical across three runs — deterministic
    indexes, zero flake variance to absorb): ivf 0.9535 / pq 0.9445 /
    opq 0.948. Floor 0.94."""
    from bench import _probe_dir, _recall_probe

    recall = _recall_probe(spark, _probe_dir(spark, SF01), "probe10x")
    for key, val in recall.items():
        assert val >= 0.94, (
            f"{key} recall@10 {val:.4f} < 0.94 — an ANN knob stopped "
            "scaling with the corpus (r10/r11 defect class)"
        )


@needs_sf01
def test_probe100x_recall_floors(spark):
    """Same pin one decade out (200k vectors): measured ivf 0.7147 /
    pq 0.7137 / opq 0.714 — all three paths hold the same at-scale
    quality because every knob derives from corpus geometry in-query.
    Floor 0.70 (the r10 constant-knob PQ measured 0.32-grade here; the
    r11 constant-nprobe IVF 0.43-grade — both far below it)."""
    from bench import _probe_dir, _recall_probe, PROBE100X_REPLICAS, PROBE100X_TAG

    probe = _probe_dir(
        spark, SF01, PROBE100X_REPLICAS, tag=PROBE100X_TAG, embeddings=True
    )
    recall = _recall_probe(spark, probe, "probe100x")
    for key, val in recall.items():
        assert val >= 0.70, (
            f"{key} recall@10 {val:.4f} < 0.70 — the n^(-1/2) coverage "
            "decay is back at the 100× decade"
        )


def test_ivf_pq_adc_is_slab_invariant(spark, sf_dir, monkeypatch):
    """The blockwise inverted-list decode must emit BIT-IDENTICAL rows at
    any slab size: a tiny ADC_BLOCK forces every cluster through many
    decode slabs (the 100 TB memory-bounding path), and the per-slab
    top-k-with-margin supersets must reproduce the single-slab emission
    exactly — the determinism argument in the adc_cluster docstring,
    pinned here."""
    import lakehouse_workshop_spark.operators.llm_ann_pq as PQ

    whole = sorted(map(tuple, PQ.ivf_pq_search(spark, sf_dir).collect()))
    whole_opq = sorted(
        map(tuple, PQ.ivf_pq_search(spark, sf_dir, rotate=True).collect())
    )
    monkeypatch.setattr(PQ, "ADC_BLOCK", 7)
    sliced = sorted(map(tuple, PQ.ivf_pq_search(spark, sf_dir).collect()))
    assert whole == sliced
    # the slab argument is rotation-independent — pin that OPQ's rotated
    # scoring path reproduces its single-slab emission bit-identically too
    sliced_opq = sorted(
        map(tuple, PQ.ivf_pq_search(spark, sf_dir, rotate=True).collect())
    )
    assert whole_opq == sliced_opq


def test_ivf_pq_incremental_batch_encode_matches_reference(spark, sf_dir):
    """The incremental ingest's distributed Arrow-batched encode must be
    BIT-IDENTICAL to a driver-side numpy re-derivation of the same
    corpus-trained index applied to the same batch vectors — pinning
    that 'assign to the EXISTING index' drifts from neither the training
    rules nor the 6-dp-first-max assignment semantics."""
    import numpy as np

    import lakehouse_workshop_spark.operators.llm_ann_pq as PQ
    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        PQ_M,
        PQ_TRAIN_N,
        _train_codebooks,
    )
    from lakehouse_workshop_spark.operators.llm_similarity import (
        _SPARK_PREP,
        IVF_NLIST_MIN,
    )

    out = PQ.ivf_pq_incremental(spark, sf_dir).collect()
    assert out and all(r.n_total == r.n_corpus + r.n_batch for r in out)
    assert sum(r.n_batch for r in out) > 0
    got = {
        int(r.vec_id): (int(r.cid), list(r.codes))
        for r in spark.table("pqi_batch_codes").collect()
    }
    assert got and all(v % 10 == 9 for v in got)

    prepped = spark.sql(_SPARK_PREP)
    n = prepped.where("vec_id % 10 <> 9").count()
    nlist = max(IVF_NLIST_MIN, int(n**0.5))
    pre = (
        prepped.where(f"vec_id % 10 <> 9 AND vec_id < {max(nlist, PQ_TRAIN_N)}")
        .orderBy("vec_id")
        .collect()
    )
    unit = np.array([r["emb"] for r in pre], dtype=np.float64)
    unit /= np.array([r["nrm"] for r in pre])[:, None]
    ids = np.array([int(r["vec_id"]) for r in pre])
    cent = unit[ids < nlist]
    cent_ids = ids[ids < nlist]
    s_best = np.round(unit @ cent.T, 6).argmax(axis=1)
    books = _train_codebooks(unit - cent[s_best])

    brows = prepped.where("vec_id % 10 = 9").orderBy("vec_id").collect()
    bmat = np.array([r["emb"] for r in brows], dtype=np.float64)
    bmat /= np.array([r["nrm"] for r in brows])[:, None]
    best = np.round(bmat @ cent.T, 6).argmax(axis=1)
    res = bmat - cent[best]
    sub = cent.shape[1] // PQ_M
    expect = {}
    for i, r in enumerate(brows):
        codes = []
        for m in range(PQ_M):
            x = res[i, m * sub : (m + 1) * sub]
            codes.append(int(((x - books[m]) ** 2).sum(axis=1).argmin()))
        expect[int(r["vec_id"])] = (int(cent_ids[best[i]]), codes)
    assert got == expect


def test_pca_spectrum_matches_numpy(spark, sf_dir):
    """The emitted contract row agrees with a direct numpy PCA on the collected
    corpus: total variance equals the covariance trace, and the internal
    consistency booleans are TRUE."""
    import numpy as np

    from lakehouse_workshop_spark.operators import all_queries

    row = all_queries()["embedding_pca_spectrum"](spark, sf_dir).collect()[0]
    m = np.stack(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ]
    )
    cov = np.cov(m, rowvar=False, bias=True)
    assert row.n_vectors == len(m)
    assert abs(row.total_variance - np.trace(cov)) < 1e-4
    assert row.eigen_trace_ok and row.shares_descending_ok


def test_ivf_split_plan_restores_balance(spark, sf_dir):
    """r12 verdict ask #6: the skew factor must be a decision input, not
    a report. The split plan's contract: every cluster at or above the
    split factor gets n_sublists = ceil(x_uniform) >= 2 and the implied
    post-split skew lands at-or-under the uniform expectation
    (x_post_split <= 1); every cluster below it is left alone
    (n_sublists = 1, x_post_split = x_uniform)."""
    import math

    from lakehouse_workshop_spark.operators.llm_similarity import (
        IVF_SPLIT_FACTOR,
        ivf_split_plan,
    )

    rows = ivf_split_plan(spark, sf_dir).collect()
    assert rows
    total = sum(r.n_vectors for r in rows)
    assert total > 0
    split = [r for r in rows if r.needs_split]
    for r in rows:
        if r.needs_split:
            assert r.x_uniform >= IVF_SPLIT_FACTOR
            assert r.n_sublists == max(2, math.ceil(r.x_uniform))
            assert r.x_post_split <= 1.000001, (r.cid, r.x_post_split)
        else:
            assert r.n_sublists == 1
            assert abs(r.x_post_split - r.x_uniform) < 1e-9
    # the plan, executed, caps the index's straggler bound: the largest
    # post-split list is <= uniform-expectation among split lists and <=
    # IVF_SPLIT_FACTOR x uniform among untouched ones
    if split:
        assert max(r.x_post_split for r in split) <= 1.000001


def test_ivf_rebalance_splits_and_verifies_at_probe_scale(spark):
    """The split path never fires at driver SFs (max x_uniform ~1.4), so
    this pins it where it does: the 10x probe corpus drives a hot
    cluster to x ~ 10. Two contracts: (1) Spark == DuckDB bit-exact on
    the full per-vector re-listing (the same oracle the driver runs,
    executed on the probe corpus), and (2) the re-listing genuinely
    shrinks the hottest list — the straggler bound the whole
    diagnose -> decide -> act chain exists to cap."""
    from collections import Counter

    from bench import _probe_dir
    from lakehouse_workshop_spark.operators import all_oracles
    from lakehouse_workshop_spark.operators.llm_similarity import ivf_rebalance
    from lakehouse_workshop_spark.oracle import canon_rows, duck_connect

    probe = _probe_dir(spark, SF01)
    # duck_connect reads the probe's part files Spark reads, skips the
    # tables the probe lacks, and caps DuckDB at the RAM the Spark heap
    # leaves free
    con = duck_connect(probe)
    oracle_pdf = con.sql(all_oracles()["ivf_rebalance"]).df()
    spark_df = ivf_rebalance(spark, probe).localCheckpoint(eager=True)
    assert canon_rows(spark_df.toPandas()) == canon_rows(oracle_pdf), (
        "Spark vs DuckDB re-listing diverged at probe scale"
    )

    rows = spark_df.collect()
    old = Counter(r.cid for r in rows)
    new = Counter((r.cid, r.sub_id) for r in rows)
    assert any(r.sub_id > 1 for r in rows), "no split fired at probe scale"
    assert max(new.values()) < max(old.values()), (
        f"hottest list did not shrink: {max(old.values())} -> "
        f"{max(new.values())}"
    )


def test_ivf_rebalance_flood_fallback(spark, tmp_path):
    """r13 verdict ask #5: an identical-vector flood defeats geometric
    splitting (every member ties at cosine 1.0 against every
    sub-centroid and funnels to srank 1), so the did-the-split-shrink
    check must swap that cluster to congruence sharding. Fixture: 20
    one-hot centroids, then 380 exact copies of centroid 0 — cluster 0
    floods to 381 of 400 members (x_uniform ~ 19). Contracts: (1)
    Spark == DuckDB bit-exact on the fixture (both engines apply the
    same trigger and shard rule), and (2) the hottest list genuinely
    shrinks, to the congruence-shard bound ceil(381/20) + 1."""
    from collections import Counter

    import duckdb
    import numpy as np
    import pandas as pd

    from lakehouse_workshop_spark.operators import all_oracles
    from lakehouse_workshop_spark.operators.llm_similarity import ivf_rebalance
    from lakehouse_workshop_spark.oracle import canon_rows

    dim, n, nlist = 24, 400, 20
    embs = []
    for i in range(n):
        v = np.zeros(dim, dtype=np.float64)
        v[i if i < nlist else 0] = 1.0
        embs.append(v.tolist())
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": embs,
            "label": np.zeros(n, dtype=np.int32),
        }
    )
    path = str(tmp_path / "embeddings.parquet")
    pdf.to_parquet(path)

    con = duckdb.connect()
    con.sql(
        f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    oracle_pdf = con.sql(all_oracles()["ivf_rebalance"]).df()
    spark_df = ivf_rebalance(spark, str(tmp_path)).localCheckpoint(eager=True)
    assert canon_rows(spark_df.toPandas()) == canon_rows(oracle_pdf), (
        "Spark vs DuckDB re-listing diverged on the flood fixture"
    )

    rows = spark_df.collect()
    old = Counter(r.cid for r in rows)
    new = Counter((r.cid, r.sub_id) for r in rows)
    flood_cid = old.most_common(1)[0][0]
    assert old[flood_cid] == 381
    # congruence sharding fired: members of the flood cluster spread
    # over all 20 sub-lists, none bigger than the shard bound
    flood_subs = Counter(
        r.sub_id for r in rows if r.cid == flood_cid
    )
    assert len(flood_subs) == nlist, "flood cluster did not shard"
    assert max(flood_subs.values()) <= 381 // nlist + 2
    assert max(new.values()) < max(old.values()), (
        f"hottest list did not shrink: {max(old.values())} -> "
        f"{max(new.values())}"
    )


def test_drift_retrain_plan_fires_at_probe_scale(spark):
    """The drift consumer where drift genuinely exists: the 10x probe
    corpus's perturbed replicas shift cluster occupancy (TVD ~ 0.31 vs
    the corpus-only geometry), so the TVD trigger must fire — the
    geometry-is-stale verdict that supersedes per-list surgery. Two
    contracts: (1) Spark == DuckDB bit-exact on the full emission at
    probe scale (the same oracle the driver runs), and (2) the decision
    layer recommends retrain_centroids corpus-wide with no split rows
    (per-list surgery on a stale geometry is wasted work)."""
    from bench import _probe_dir
    from lakehouse_workshop_spark.operators import all_oracles
    from lakehouse_workshop_spark.operators.llm_similarity import (
        EMB_DRIFT_RETRAIN_TVD,
        drift_retrain_plan,
    )
    from lakehouse_workshop_spark.oracle import canon_rows, duck_connect

    probe = _probe_dir(spark, SF01)
    con = duck_connect(probe)
    oracle_pdf = con.sql(all_oracles()["drift_retrain_plan"]).df()
    spark_df = drift_retrain_plan(spark, probe).localCheckpoint(eager=True)
    assert canon_rows(spark_df.toPandas()) == canon_rows(oracle_pdf), (
        "Spark vs DuckDB drift plan diverged at probe scale"
    )
    rows = spark_df.collect()
    assert rows
    assert all(r.tvd >= EMB_DRIFT_RETRAIN_TVD for r in rows)
    assert all(r.action == "retrain_centroids" for r in rows)
    assert all(r.n_sublists == 1 for r in rows)


@needs_sf01
@pytest.mark.parametrize(
    "name",
    [
        "ivf_topk",
        "ivf_cluster_balance",
        "ivf_split_plan",
        "semantic_dedup",
        "semantic_dedup_incremental",
        "streaming_semantic_dedup",
        "embedding_cluster_drift",
        "hybrid_rank_fusion",
        "hybrid_rank_fusion_ivf",
        "ivf_pq_incremental",
        "streaming_pq_ingest",
    ],
)
def test_nearest_centroid_oracle_parity_at_probe_scale(spark, name):
    """The oracles that rank nearest centroids (`_nearest_sql`) or a
    brute top-k pool run under DuckDB's memory cap at the 10x probe and
    equal Spark bit-exact there. `ivf_rebalance` and `drift_retrain_plan`
    are pinned at this scale by their own tests above."""
    from bench import _probe_dir
    from lakehouse_workshop_spark.operators import all_oracles, all_queries
    from lakehouse_workshop_spark.oracle import canon_rows, duck_connect

    probe = _probe_dir(spark, SF01)
    con = duck_connect(probe)
    try:
        oracle_pdf = con.sql(all_oracles()[name]).df()
    finally:
        con.close()
    spark_pdf = all_queries()[name](spark, probe).toPandas()
    assert canon_rows(spark_pdf) == canon_rows(oracle_pdf), (
        f"Spark vs DuckDB {name} diverged at probe scale"
    )


def test_geom_knobs_emit_pinned_byte_forms():
    """`_geom_knobs` is the single source of the IVF geometry SQL; its
    full-corpus emission is pinned BYTE-exact here because those strings
    sit inside the oracle text of every IVF-family query — an accidental
    reformat would drift every out-of-window governance hash at once
    (make_driver_order would refuse the manifest, but this fails two
    minutes earlier with a diff)."""
    from lakehouse_workshop_spark.operators import llm_similarity as S

    nlist, nprobe = S._geom_knobs("COUNT(*)", "embeddings")
    assert nlist == (
        "(SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))"
        " FROM embeddings)"
    )
    assert nprobe == (
        "(SELECT GREATEST(8, CAST(CEIL(3 * SQRT(GREATEST(16, "
        "FLOOR(SQRT(COUNT(*)))))) AS BIGINT)) FROM embeddings)"
    )
    assert (nlist, nprobe) == (S._IVF_NLIST_SQL, S._IVF_NPROBE_SQL)


def test_driver_side_knobs_match_sql_evaluation():
    """The hybrid twin inlines driver-computed nlist/nprobe literals
    while its oracle evaluates the same rule in SQL — the two must agree
    for every corpus size, including perfect squares and off-by-one
    edges where a drifting sqrt convention (int-trunc vs FLOOR, **0.5 vs
    SQRT) would first diverge."""
    import duckdb

    from lakehouse_workshop_spark.operators.llm_similarity import (
        _geom_knobs,
        _ivf_nlist,
        _ivf_nprobe,
    )

    con = duckdb.connect()
    sizes = [1, 15, 16, 17, 255, 256, 257, 2000, 3200, 9999, 10000,
             10001, 123456, 10**8, 10**12]
    for n in sizes:
        nlist_sql, nprobe_sql = _geom_knobs(str(n))
        got_nlist = con.sql(f"SELECT {nlist_sql}").fetchone()[0]
        got_nprobe = con.sql(f"SELECT {nprobe_sql}").fetchone()[0]
        assert got_nlist == _ivf_nlist(n), (n, got_nlist, _ivf_nlist(n))
        assert got_nprobe == _ivf_nprobe(_ivf_nlist(n)), (
            n,
            got_nprobe,
            _ivf_nprobe(_ivf_nlist(n)),
        )
