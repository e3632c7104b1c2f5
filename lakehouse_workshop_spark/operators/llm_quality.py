"""Corpus-quality and sampling operators for LLM data pipelines.

The passes a training-data pipeline runs between dedup and sharding:
per-source balancing (cap any one domain's share of the corpus), unigram
and bigram language-model scoring (the classic cheap fluency signals),
robust length-outlier detection (median/MAD, not mean/stddev, so the
detector itself survives the outliers it hunts), per-label embedding
centroids plus nearest-centroid topic assignment and per-component
moments, the curation-funnel observability report, and RNG-free weighted
sampling (Efraimidis-Spirakis with md5-derived uniforms).

Scale posture: everything is one or two hash aggregations over the
corpus. The per-source window partitions by source (bounded fan-in per
partition — source cardinality is the parallelism, and a skewed source
is exactly the thing the cap then removes); the unigram join shuffles on
token with AQE handling the Zipf head; centroids reduce n×d values to
|labels|×d with map-side partial aggregation. Double sums that feed
cross-engine hashes accumulate in DECIMAL (order-independent), and LN is
only ever applied to integers both engines see identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.kernels import nearest

# ORACLES import contract: the operators package defines
# the QUERIES/ORACLES dicts BEFORE it imports any operator module, so a
# top-of-module import of the partially-initialized package is safe —
# but entries only exist once their registering module has run. Consumers
# below (`quality_gate_recalibrate`) index parents registered EARLIER IN
# THIS FILE, so by decoration time the key is present; indexing a missing
# parent fails loudly at import with a KeyError naming it.
from lakehouse_workshop_spark.operators import ORACLES as _ORACLES
from lakehouse_workshop_spark.operators import query
from lakehouse_workshop_spark.operators.llm_similarity import EMB_DIM

SOURCE_CAP = 120
OUTLIER_MADS = 3.0


@query(
    "source_balanced_sample",
    oracle=f"""
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    WHERE rn <= {SOURCE_CAP}
    ORDER BY source, doc_id
    """,
)
def source_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source (domain) at {SOURCE_CAP} documents, picking a
    deterministic hash-ordered sample — the per-domain balancing pass
    that stops one crawl host from dominating the training mix.

    Scale: the window partitions by source, so state per task is one
    counter per source; the md5 rank (not "first N by doc_id") makes the
    kept set invariant to input order and cluster size. A skew-heavy
    source is bounded by the cap itself — the window emits at most
    {SOURCE_CAP} rows per source regardless of input skew.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.withColumn("rn", rn)
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@query(
    "unigram_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS t FROM vocab)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(LN(c) AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*)
                 - CAST(LN(MAX(t)) AS DOUBLE), 6) AS avg_logprob
    FROM toks JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average token log-probability under the corpus's own
    unigram model — the classic cheap fluency score (gibberish and
    boilerplate both sit in the tails).

    avg_logprob = mean(ln c(tok)) − ln(total): algebraically identical to
    mean(ln(c/total)) but LN only ever sees the integer count and the
    integer total — both engines evaluate LN on identical inputs, and the
    per-token sum accumulates in DECIMAL so partition order can't move
    the double.

    Scale: two shuffles (vocab build, then token⨝vocab on the Zipf-
    skewed token key — AQE splits the head words); the 1-row total
    broadcasts. The vocab table is corpus-bounded, never collected.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.log(F.col("c")).cast("decimal(38,8)")).cast("double")
                / F.count("*")
                - F.log(F.max("t")).cast("double"),
                6,
            ).alias("avg_logprob"),
        )
    )


@query(
    "docs_length_outliers",
    oracle=f"""
    WITH med AS (
        SELECT quantile_cont(n_chars, 0.5) AS med FROM documents
    ),
    mad AS (
        SELECT MAX(med) AS med,
               quantile_cont(ABS(n_chars - med), 0.5) AS mad
        FROM documents CROSS JOIN med
    )
    SELECT doc_id, n_chars,
           ROUND(ABS(n_chars - med) / (mad + 1.0), 6) AS robust_z
    FROM documents CROSS JOIN mad
    WHERE ABS(n_chars - med) > {OUTLIER_MADS} * (mad + 1.0)
    ORDER BY robust_z DESC, doc_id
    """,
)
def docs_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents whose length deviates from the corpus median by more
    than {OUTLIER_MADS} MADs — the robust filter for truncated fragments
    and concatenation blobs (median/MAD, unlike mean/stddev, is not
    itself dragged by the outliers; +1 in the denominator keeps a
    degenerate zero-MAD corpus from flagging everything).

    Scale: two exact-median passes over the single n_chars column (at
    100 TB swap ``percentile`` for ``approx_percentile`` — same plan,
    sketch-bounded memory) and a final scan with the 1-row stats
    broadcast. n_chars and the medians are integer/half-integer, exact
    in double, so the cross-engine compare is safe.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    med = docs.agg(F.expr("percentile(n_chars, 0.5)").alias("med"))
    mad = (
        docs.crossJoin(F.broadcast(med))
        .agg(
            F.max("med").alias("med"),
            F.expr("percentile(ABS(n_chars - med), 0.5)").alias("mad"),
        )
    )
    return (
        docs.crossJoin(F.broadcast(mad))
        .filter(
            F.abs(F.col("n_chars") - F.col("med"))
            > OUTLIER_MADS * (F.col("mad") + 1.0)
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(
                F.abs(F.col("n_chars") - F.col("med")) / (F.col("mad") + 1.0), 6
            ).alias("robust_z"),
        )
        .orderBy(F.desc("robust_z"), "doc_id")
    )


@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH dims AS (
        -- EMB_DIM interpolated (DuckDB's generate_series can't be lateral
        -- over len(embedding)); the Spark side posexplodes the REAL array,
        -- so a datagen dim change shows up as a dim-column mismatch, not a
        -- silent divergence.
        SELECT label, g.i - 1 AS pos, embedding[g.i] AS val
        FROM embeddings,
             generate_series(1, {EMB_DIM}) AS g(i)
    )
    SELECT label, CAST(pos AS INT) AS pos,
           ROUND(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                      AS DOUBLE) / COUNT(*), 6) AS v,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM dims GROUP BY label, pos ORDER BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label, one row per (label, component) — the
    build step for nearest-centroid topic assignment and cluster-balanced
    sampling (re-assembled into a broadcast array table by the consumer).

    Scale: posexplode fans n vectors into n×{EMB_DIM} (pos, val) rows
    that partial-aggregate map-side down to |labels|×{EMB_DIM} — the
    shuffle carries only the reduced set. Component sums accumulate in
    DECIMAL(38,12) so the float additions are order-independent, then
    round to 6 dp in both dialects. n_vectors doubles as the dim guard:
    the Spark side explodes the real array, so a datagen dim change
    mismatches the oracle's {EMB_DIM}-bounded series loudly.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        dims.groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("v"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
        .orderBy("label", "pos")
    )


def _topic_assign_duck_sql() -> str:
    return f"""
    WITH dims AS (
        SELECT vec_id, label AS true_label, g.i - 1 AS pos,
               CAST(embedding[g.i] AS DOUBLE) AS val
        FROM embeddings, generate_series(1, {EMB_DIM}) AS g(i)
    ),
    {_TOPIC_ASSIGN_BODY}
    """


# Oracle body: centroid build -> component join -> cosine -> per-vector
# argmax via the rank window. The Spark side no longer runs this shape —
# it broadcasts the centroid matrix and scores each Arrow batch with one
# BLAS matmul (see topic_assign) — but the oracle keeps the explicit
# relational form as independent ground truth.
_TOPIC_ASSIGN_BODY = """
    cent AS (
        SELECT true_label AS label, pos,
               CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS v
        FROM dims GROUP BY true_label, pos
    ),
    cnorm AS (
        SELECT label, SQRT(SUM(v * v)) AS nrm FROM cent GROUP BY label
    ),
    vnorm AS (
        SELECT vec_id, SQRT(CAST(SUM(CAST(val * val AS DECIMAL(38,12)))
                                 AS DOUBLE)) AS nrm
        FROM dims GROUP BY vec_id
    ),
    scores AS (
        SELECT d.vec_id, MAX(d.true_label) AS true_label, c.label,
               ROUND(CAST(SUM(CAST(d.val * c.v AS DECIMAL(38,12))) AS DOUBLE)
                     / (MAX(vn.nrm) * MAX(cn.nrm)), 6) AS cosine
        FROM dims d
        JOIN cent c ON d.pos = c.pos
        JOIN vnorm vn ON d.vec_id = vn.vec_id
        JOIN cnorm cn ON c.label = cn.label
        GROUP BY d.vec_id, c.label
    ),
    ranked AS (
        SELECT vec_id, true_label, label AS assigned_label, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, label) AS rn
        FROM scores
    )
    SELECT vec_id, true_label, assigned_label, cosine,
           (assigned_label = true_label) AS matches_label
    FROM ranked WHERE rn = 1
"""


@query("topic_assign", oracle=_topic_assign_duck_sql())
def topic_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid topic assignment: build per-label centroids from
    the labeled vectors, then assign every vector to its most-similar
    centroid (cosine) — the cluster-then-route pass a pipeline uses to
    stratify or rebalance a corpus by topic, with ``matches_label`` as
    the built-in self-consistency signal.

    Scale: the centroid build partial-aggregates the
    n×dim exploded components map-side down to |labels|×dim rows (one
    shuffle carrying only the reduced set, DECIMAL-accumulated so the
    collected centroid values are bit-identical to the oracle's). That
    tiny matrix broadcasts, and every vector scores against ALL label
    centroids in one BLAS matmul per Arrow batch — the same
    broadcast-centroid plan as ``llm_similarity._matmul_assign``: a
    single scan + mapInPandas instead of an n×dim ⨝ labels×dim component
    equi-join (6 exchanges). The argmax pins to the
    oracle's ``ORDER BY cosine DESC, label``: ``kernels.nearest`` takes
    the first maximum of the 6-dp-rounded cosines over the
    label-ascending centroid axis. (np.round is half-to-even vs SQL's
    half-away-from-zero — a divergence only on an exact .5 tie at the
    6th decimal, measure-zero for real cosines.)
    """
    import numpy as np

    from lakehouse_workshop_spark.operators.llm_similarity import _emb_view

    _emb_view(spark, sf_dir)
    # |labels|×dim centroid components, DECIMAL-accumulated -> bit-equal
    # to the oracle's cent CTE. 10 labels × 64 dims: trivially collectable
    # and broadcastable at any corpus size (labels, not rows, bound it).
    cent_rows = spark.sql(
        """
        SELECT label, pos,
               CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS v
        FROM (SELECT label, posexplode(embedding) AS (pos, val)
              FROM (SELECT label,
                           transform(embedding, x -> CAST(x AS DOUBLE))
                               AS embedding
                    FROM embeddings))
        GROUP BY label, pos
        ORDER BY label, pos
        """
    ).collect()
    labels = sorted({r["label"] for r in cent_rows})
    dim = len(cent_rows) // len(labels)
    c_mat = np.array([r["v"] for r in cent_rows], dtype=np.float64).reshape(
        len(labels), dim
    )
    c_nrm = np.sqrt((c_mat * c_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast(
        (c_mat, c_nrm, np.array(labels, dtype=np.int64))
    )

    def assign(batches):
        import pandas as pd

        cm, cn, lab = bc.value
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vn = np.sqrt((m * m).sum(axis=1))
            raw = (m @ cm.T) / (vn[:, None] * cn[None, :])
            best = nearest(raw)
            true = pdf["label"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "true_label": true.astype(np.int32),
                    "assigned_label": lab[best].astype(np.int32),
                    "cosine": np.round(raw[np.arange(len(best)), best], 6),
                    "matches_label": lab[best] == true,
                }
            )

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("true_label", IntegerType()),
            StructField("assigned_label", IntegerType()),
            StructField("cosine", DoubleType()),
            StructField("matches_label", BooleanType()),
        ]
    )
    return spark.table("embeddings").mapInPandas(assign, schema)


# Funnel gates, in pipeline order. Each stage is a WHERE clause over the
# stage before it; the query reports survivors per stage so a mix change
# (new crawl, new filter threshold) shows up as a step-curve diff, not a
# mystery row-count delta at the end of the pipeline.
FUNNEL_LANG = "en"
FUNNEL_MIN_CHARS, FUNNEL_MAX_CHARS = 80, 520
FUNNEL_MIN_TTR = 0.55


def _funnel_sql(split_fn: str, distinct_fn: str, len_fn: str) -> str:
    """One-pass form: per-doc gate flags (each stage = previous AND its
    predicate), five conditional sums in ONE aggregation, then a 1-row
    unpivot. The naive CTE-chain form re-derives every stage (Spark
    inlines CTEs: 5 corpus scans, 18 exchanges measured); this is one
    scan + the dedup semi-join + one agg."""
    return f"""
    WITH flags AS (
        SELECT
            CASE WHEN doc_id IN (SELECT MIN(doc_id) FROM documents
                                 GROUP BY md5(text))
                 THEN 1 ELSE 0 END AS s2,
            CASE WHEN lang = '{FUNNEL_LANG}' THEN 1 ELSE 0 END AS g3,
            CASE WHEN n_chars BETWEEN {FUNNEL_MIN_CHARS} AND {FUNNEL_MAX_CHARS}
                 THEN 1 ELSE 0 END AS g4,
            CASE WHEN CAST({len_fn}({distinct_fn}({split_fn}(text, ' ')))
                      AS DOUBLE) / {len_fn}({split_fn}(text, ' '))
                      >= {FUNNEL_MIN_TTR}
                 THEN 1 ELSE 0 END AS g5
        FROM documents
    ),
    agg AS (
        SELECT COUNT(*) AS c1,
               SUM(s2) AS c2,
               SUM(s2 * g3) AS c3,
               SUM(s2 * g3 * g4) AS c4,
               SUM(s2 * g3 * g4 * g5) AS c5
        FROM flags
    )
    SELECT v.stage_no, v.stage,
           CAST(CASE v.stage_no WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
                                WHEN 4 THEN c4 ELSE c5 END AS BIGINT) AS docs
    FROM agg, (VALUES (1, 'raw'), (2, 'dedup_exact'), (3, 'lang_{FUNNEL_LANG}'),
                      (4, 'length_band'), (5, 'ttr_floor'))
               AS v(stage_no, stage)
    ORDER BY v.stage_no
    """


@query(
    "corpus_quality_funnel",
    oracle=_funnel_sql("string_split", "list_distinct", "len"),
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation funnel as one query: exact dedup → language
    gate → length band → type-token-ratio floor, reporting survivors at
    every stage. The per-stage counts are the observability contract a
    data pipeline alerts on (a collapsing stage = a filter or upstream
    mix regression).

    Scale: single-pass conditional aggregation — per-doc gate flags (a
    doc survives stage k iff it survives k-1 AND passes gate k), five
    sums in one map-side-combinable aggregation, a 1-row unpivot. The
    only shuffle beyond the count reduction is the exact-dedup semi-join
    (md5 group → min doc_id, the dedup_keep_canonical shape). 5 output
    rows.
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    return spark.sql(_funnel_sql("split", "array_distinct", "size"))


WSAMPLE_K = 150


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, n_chars,
               -- Efraimidis-Spirakis key ln(u)/w with u a dyadic rational
               -- from the doc's md5 (exact in double, so both engines feed
               -- LN the identical value); larger key = more likely kept,
               -- weight = n_chars.
               ROUND(LN((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 1.0) / 4294967297.0)
                     / n_chars, 6) AS es_key
        FROM documents
    )
    SELECT doc_id, n_chars, es_key
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= {WSAMPLE_K}
    ORDER BY es_key DESC, doc_id
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of {WSAMPLE_K} documents with
    inclusion probability proportional to length (stand-in for any
    quality weight): the Efraimidis-Spirakis one-pass scheme with the
    per-doc uniform drawn from its md5 — reproducible across reruns,
    input orders, and cluster sizes, no RNG state.

    Scale: one narrow scoring pass, then a top-k — Spark plans the rank
    as TakeOrderedAndProject (per-partition partial top-{WSAMPLE_K},
    then one {WSAMPLE_K}-row merge), so no global sort and no single
    partition ever holds more than k rows. The md5-fraction u is a
    dyadic rational (exact in double): LN sees bit-identical inputs in
    both engines, and the key rounds to 6 dp before ranking with a
    doc_id tie-break, so the kept set is cross-engine deterministic.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / 4294967297.0
    scored = docs.withColumn(
        "es_key", F.round(F.log(u) / F.col("n_chars"), 6)
    )
    return (
        scored.orderBy(F.desc("es_key"), "doc_id")
        .limit(WSAMPLE_K)
        .select("doc_id", "n_chars", "es_key")
    )


@query(
    "bigram_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, tok, pos
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents)
    ),
    bigrams AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    bg_counts AS (SELECT w1, w2, COUNT(*) AS c FROM bigrams GROUP BY w1, w2),
    uni_counts AS (SELECT w1, SUM(c) AS cu FROM bg_counts GROUP BY w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           -- fixed-point integers, not DECIMAL casts: DuckDB truncates
           -- double->DECIMAL where Spark rounds (measured 1 ulp/term
           -- systematic drift), but ROUND(x*1e8) -> BIGINT agrees in
           -- both engines on every non-half value (ln of an integer > 1
           -- is never a half), and BIGINT sums are exact
           CAST(SUM(CAST(ROUND(LN(c) * 100000000) AS BIGINT)
                    - CAST(ROUND(LN(cu) * 100000000) AS BIGINT)) AS DOUBLE)
               / 100000000 AS sum_logprob
    FROM bigrams JOIN bg_counts USING (w1, w2) JOIN uni_counts USING (w1)
    GROUP BY doc_id
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SUM of conditional bigram log-probabilities
    (``sum_logprob`` = Σ ln P(w2|w1), ln P(w2|w1) = ln c(w1,w2) −
    ln c(w1·), under the corpus's own bigram model; ``n_bigrams`` rides
    along so a consumer can take the mean) — the next step up from
    ``unigram_lm_score`` (captures local word order, so shuffled or
    templated text scores visibly worse).

    Same determinism contract as the unigram score: LN only ever sees
    integer counts, and per-term values accumulate order-independently
    as fixed-point BIGINT (each ln scaled by 1e8 and rounded; the sum
    divides back to double at the end). Scale: the
    adjacent-pair build is a posexplode + self-equi-join on (doc, pos+1)
    (at 100 TB prefer a window ``lead`` over (doc, pos) — same result,
    one shuffle); bigram counts shuffle on the Zipf-skewed (w1, w2) key
    with AQE splitting the head.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("w2", F.lead("tok").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), "w2")
    )
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    uni = bg.groupBy("w1").agg(F.sum("c").alias("cu"))
    return (
        bigrams.join(bg, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            (
                F.sum(
                    F.round(F.log("c") * 100000000).cast("bigint")
                    - F.round(F.log("cu") * 100000000).cast("bigint")
                ).cast("double")
                / 100000000
            ).alias("sum_logprob"),
        )
    )


@query(
    "embedding_component_variance",
    oracle=f"""
    WITH dims AS (
        SELECT g.i - 1 AS pos, CAST(embedding[g.i] AS DOUBLE) AS val
        FROM embeddings, generate_series(1, {EMB_DIM}) AS g(i)
    )
    SELECT CAST(pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
               AS mean,
           ROUND(CAST(SUM(CAST(val * val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
                 - POW(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*), 2), 6) AS variance
    FROM dims GROUP BY pos ORDER BY pos
    """,
)
def embedding_component_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component mean and variance across the embedding corpus — the
    calibration input for quantization ranges (``embedding_quantize_int8``)
    and the whitening/PCA preprocessing decision (a near-zero-variance
    component is a candidate to drop before indexing).

    Scale: posexplode → ONE aggregation over {EMB_DIM} groups, map-side-
    combined to a constant-size result; both moments accumulate in
    DECIMAL so partition order can't move the doubles, and the variance
    derives from the same two exact sums in both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "val")).select(
        "pos", F.col("val").cast("double").alias("val")
    )
    s1 = F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
    s2 = F.sum((F.col("val") * F.col("val")).cast("decimal(38,12)")).cast("double")
    mean = s1 / F.count("*")
    return (
        dims.groupBy(F.col("pos").cast("int").alias("pos"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(s2 / F.count("*") - F.pow(mean, 2), 6).alias("variance"),
        )
        .orderBy("pos")
    )


# --- hashed linear quality classifier --------------------------------------
# fastText-style scoring shape: tokens hash into a bounded feature space
# (the hashing trick), each bucket carries a linear weight, a document's
# logit is the mean bucket weight. The weights here are a deterministic
# md5-derived stand-in for a trained model (the container has no trained
# artifact to ship); in production the D-float weight vector broadcasts
# and the per-token lookup is element_at(weights, bucket) — the identical
# plan, since the scoring pass is pure per-row expressions either way.
QC_BUCKETS = 4096
QC_WEIGHT_SCALE = 32768  # weights are k/32768 with k in [-32768, 32767]


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    feats AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(
                    ('0x' || substr(md5(tok), 1, 8))::BIGINT % {QC_BUCKETS}
                    AS VARCHAR)), 1, 4))::BIGINT - {QC_WEIGHT_SCALE} AS w
        FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(w) AS DOUBLE)
                 / (COUNT(*) * {QC_WEIGHT_SCALE}.0), 6) AS logit,
           ROUND(1.0 / (1.0 + EXP(-(CAST(SUM(w) AS DOUBLE)
                 / (COUNT(*) * {QC_WEIGHT_SCALE}.0)))), 6) AS prob,
           (SUM(w) >= 0) AS keep
    FROM feats GROUP BY doc_id
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring over hashed token features — the
    CCNet/fastText-style gate a pretraining pipeline runs to rank pages
    by "looks like good text" before sampling. Every token hashes into
    {QC_BUCKETS} buckets; the document logit is the mean bucket weight
    and ``keep`` is the sign gate.

    Determinism contract: bucket ids and weights derive from md5 (both
    engines see identical integers), the logit numerator accumulates as
    an exact BIGINT sum (order-independent), and the single division
    happens once at the end. The sigmoid's EXP sees the identical double
    in both engines; its 6-dp round is the established ulp-tolerant
    boundary.

    Scale: ONE shuffle (the doc_id groupBy, map-side-combined); the
    scoring itself is pure codegen'd per-row expressions — no join, no
    UDF, no weight table lookup at all in this md5 stand-in (a real
    model broadcasts its D-float weight array — same plan).
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    bucket = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint") % QC_BUCKETS
    w = (
        F.conv(F.substring(F.md5(bucket.cast("string")), 1, 4), 16, 10).cast("bigint")
        - QC_WEIGHT_SCALE
    )
    logit = F.sum("w").cast("double") / (F.count("*") * float(QC_WEIGHT_SCALE))
    return toks.select("doc_id", w.alias("w")).groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(logit, 6).alias("logit"),
        F.round(1.0 / (1.0 + F.exp(-logit)), 6).alias("prob"),
        (F.sum("w") >= 0).alias("keep"),
    )


# --- per-source distribution drift -----------------------------------------


@query(
    "token_dist_shift",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    st AS (SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
    ct AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY 1),
    ts AS (SELECT source, SUM(c_st) AS t_s FROM st GROUP BY 1),
    tt AS (SELECT SUM(c_st) AS t FROM st)
    SELECT st.source,
           CAST(MAX(ts.t_s) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(SUM(CAST(st.c_st AS DECIMAL(38, 0)) * (
                      CAST(ROUND(LN(st.c_st) * 100000000) AS BIGINT)
                    - CAST(ROUND(LN(ts.t_s) * 100000000) AS BIGINT)
                    - CAST(ROUND(LN(ct.c_t) * 100000000) AS BIGINT)
                    + CAST(ROUND(LN(tt.t) * 100000000) AS BIGINT)
                 )) AS DOUBLE)
                 / (MAX(ts.t_s) * 100000000.0), 6) AS kl_divergence
    FROM st JOIN ct USING (tok) JOIN ts USING (source) CROSS JOIN tt
    GROUP BY st.source
    ORDER BY st.source
    """,
)
def token_dist_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution drift: KL(source ‖ corpus) over
    token frequencies — the mixture monitor that flags a crawl host whose
    language suddenly shifts (spam injection, template change, encoding
    rot) before it pollutes the training mix.

    KL = Σ_tok (c_st/t_s)·[ln c_st − ln t_s − ln c_t + ln T]: LN only
    ever sees integer counts (identical doubles in both engines), each
    ln is 1e8-fixed-pointed to BIGINT (the ``bigram_lm_score`` idiom),
    the per-token term multiplies by c_st PROMOTED to DECIMAL(38,0)
    first — a BIGINT product wraps silently in non-ANSI Spark once a
    single token's per-source count crosses ~2e9 (a head token in a
    100 TB source), the `_psi_sql` terms-CTE divergence class — and
    accumulates in DECIMAL, exact and order-independent; the single
    division by t_s·1e8 happens once per source.

    Scale: one explode → (source, tok) map-side-combined count; the tok
    marginal and source totals re-aggregate from that reduced table (no
    second corpus pass); the vocab-sized marginal joins back on the
    Zipf-skewed tok key (AQE splits the head), source totals broadcast,
    the grand total is a 1-row cross join. Output is |sources| rows.
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    st = st.localCheckpoint(eager=True)  # read by ct, ts, tt and the join
    ct = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    ts = st.groupBy("source").agg(F.sum("c_st").alias("t_s"))
    tt = st.agg(F.sum("c_st").alias("t"))

    def fp(col):
        return F.round(F.log(col) * 100000000).cast("bigint")

    term = F.col("c_st").cast("decimal(38,0)") * (
        fp("c_st") - fp("t_s") - fp("c_t") + fp("t")
    )
    return (
        st.join(ct, "tok")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tt))
        .groupBy("source")
        .agg(
            F.max("t_s").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.round(
                F.sum(term).cast("double")
                / (F.max("t_s") * 100000000.0),
                6,
            ).alias("kl_divergence"),
        )
        .orderBy("source")
    )


NORM_OUT_TOP = 20


@query(
    "embedding_norm_outliers",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id,
               ROUND(SQRT(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])), 6) AS nrm
        FROM embeddings
    ),
    med AS (SELECT quantile_cont(nrm, 0.5) AS med FROM norms),
    mad AS (
        SELECT MAX(med) AS med, quantile_cont(ABS(nrm - med), 0.5) AS mad
        FROM norms CROSS JOIN med
    )
    SELECT vec_id, nrm,
           ROUND(ABS(nrm - med) / (mad + 1e-9), 6) AS robust_z
    FROM norms CROSS JOIN mad
    ORDER BY robust_z DESC, vec_id
    LIMIT {NORM_OUT_TOP}
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {NORM_OUT_TOP} vectors whose L2 norm deviates most from the
    corpus median (robust z-score, median/MAD) — the broken-embedding
    detector a pipeline runs after an encoder batch job (truncated
    writes, zero vectors, fp16 overflows all surface as norm outliers
    before they poison the similarity index).

    Determinism: the norm is the same left-fold square sum both dialects
    compute bit-identically (the ``_SPARK_PREP`` contract), rounded to
    6 dp BEFORE the medians, so the interpolated quantile sees identical
    doubles; median/MAD/z then use only IEEE-exact +,−,×,÷. Scale: two
    single-column percentile passes (swap in approx_percentile at
    100 TB — same plan, sketch-bounded), a 1-row broadcast of the stats,
    and a TakeOrderedAndProject top-{NORM_OUT_TOP}.
    """
    from lakehouse_workshop_spark.operators.llm_similarity import _emb_view

    _emb_view(spark, sf_dir)
    norms = spark.sql(
        """
        SELECT vec_id,
               ROUND(SQRT(aggregate(transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          0.0D, (acc, v) -> acc + v)), 6) AS nrm
        FROM embeddings
        """
    )
    norms = norms.localCheckpoint(eager=True)  # read by med, mad and the scan
    med = norms.agg(F.expr("percentile(nrm, 0.5)").alias("med"))
    mad = (
        norms.crossJoin(F.broadcast(med))
        .agg(
            F.max("med").alias("med"),
            F.expr("percentile(ABS(nrm - med), 0.5)").alias("mad"),
        )
    )
    return (
        norms.crossJoin(F.broadcast(mad))
        .select(
            "vec_id",
            "nrm",
            F.round(
                F.abs(F.col("nrm") - F.col("med")) / (F.col("mad") + 1e-9), 6
            ).alias("robust_z"),
        )
        .orderBy(F.desc("robust_z"), "vec_id")
        .limit(NORM_OUT_TOP)
    )


# --- DSIR-style importance weights ------------------------------------------
# Data Selection via Importance Resampling (Xie et al., 2023,
# arXiv:2302.03169): score every raw document by how much more likely its
# hashed-unigram bag is under a target-domain LM than under the raw-corpus
# LM; resampling by exp(weight) shifts the training mix toward the target
# domain without a learned classifier. Here the target slice is one
# source (a stand-in for "looks like the target corpus"); features are
# md5-hashed unigram buckets exactly as quality_classifier_score hashes
# them, with add-one smoothing so unseen buckets stay finite.
DSIR_TARGET_SOURCE = "src0"
DSIR_BUCKETS = 1024


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 8))::BIGINT
                   % {DSIR_BUCKETS} AS b
        FROM documents
    ),
    tb AS (
        SELECT b, COUNT(*) AS tc FROM toks
        WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY b
    ),
    rb AS (SELECT b, COUNT(*) AS rc FROM toks GROUP BY b),
    tt AS (SELECT SUM(tc) + {DSIR_BUCKETS} AS t_tot FROM tb),
    rt AS (SELECT SUM(rc) + {DSIR_BUCKETS} AS r_tot FROM rb)
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(
                  CAST(ROUND(LN(COALESCE(tb.tc, 0) + 1) * 100000000) AS BIGINT)
                - CAST(ROUND(LN(tt.t_tot) * 100000000) AS BIGINT)
                - CAST(ROUND(LN(rb.rc + 1) * 100000000) AS BIGINT)
                + CAST(ROUND(LN(rt.r_tot) * 100000000) AS BIGINT)
             ) AS BIGINT) AS log_weight_e8
    FROM toks
    LEFT JOIN tb USING (b)
    JOIN rb USING (b)
    CROSS JOIN tt CROSS JOIN rt
    GROUP BY toks.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: Σ_tok [ln p̂_target(b(tok)) −
    ln p̂_raw(b(tok))] over {DSIR_BUCKETS} hashed unigram buckets with
    add-one smoothing — the importance-resampling score that tilts a raw
    crawl toward a target domain (arXiv:2302.03169), the third selection
    gate next to the classifier (`quality_classifier_score`) and the
    drift monitor (`token_dist_shift`).

    Determinism contract: bucket ids come from md5 (identical integers
    in both engines); LN only ever sees integers (smoothed counts,
    totals), each ln is 1e8-fixed-pointed to BIGINT (the
    ``token_dist_shift`` idiom), and per-token terms sum as exact
    BIGINTs — which IS the emission: ``log_weight_e8`` is the weight at
    1e-8 fixed-point grain as an exact integer. Dividing by 1e8 and
    rounding to 6 dp would put rows on an exact .5 at the 6th decimal,
    which Spark rounds half-up and DuckDB half-even; the integer has no
    cross-engine boundary.

    Scale: the corpus explodes ONCE — tokens reduce map-side to
    (doc_id, source, bucket) counts (≤ {DSIR_BUCKETS} rows per doc),
    that reduction is checkpointed, and BOTH bucket LMs ({DSIR_BUCKETS}
    rows each, broadcast back) plus the per-doc score derive from it; no
    second corpus pass anywhere. Per-token terms become count×term
    (exact BIGINT), so the reduced grain changes nothing numerically.
    Raw-count smoothing uses rc+1 (every observed bucket has rc ≥ 1;
    unseen target buckets coalesce to tc=0 before their +1).
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint") % DSIR_BUCKETS
    )
    # One corpus pass: reduce tokens to (doc, source, bucket) counts.
    # Everything downstream (both LMs, both totals, the per-doc score)
    # reads this checkpointed reduction instead of re-exploding text.
    db = (
        docs.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", "source", bucket.alias("b"))
        .groupBy("doc_id", "source", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    tb = (
        db.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("b")
        .agg(F.sum("c").alias("tc"))
    )
    rb = db.groupBy("b").agg(F.sum("c").alias("rc"))
    tt = tb.agg((F.sum("tc") + DSIR_BUCKETS).alias("t_tot"))
    rt = rb.agg((F.sum("rc") + DSIR_BUCKETS).alias("r_tot"))

    def fp(col):
        return F.round(F.log(col) * 100000000).cast("bigint")

    term = (
        fp(F.coalesce(F.col("tc"), F.lit(0)) + 1)
        - fp("t_tot")
        - fp(F.col("rc") + 1)
        + fp("r_tot")
    )
    return (
        db.join(F.broadcast(tb), "b", "left")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * term).cast("bigint").alias("log_weight_e8"),
        )
    )


# --- quality-score PSI -------------------------------------------------------
# Population Stability Index over the quality-classifier score -- the
# standard score-drift monitor a production gate runs before trusting
# yesterday's keep-threshold on tonight's ingest (industry convention:
# PSI < 0.1 stable, 0.1-0.25 moderate, >= 0.25 action). The family's
# fourth member: token unigrams (token_dist_shift), per-source KL
# (source_token_kl), embedding clusters (embedding_cluster_drift), and
# now the model-score axis. Split = the incremental family's document
# convention (doc_id % 10 = 9 is tonight's batch).
QS_PSI_BINS = 10
QS_PSI_SHIFTED = 0.25
_QS_BATCH = "doc_id % 10 = 9"


def _psi_sql(score_rel: str, bins_rel: str, fpln: str) -> str:
    """Dialect-shared PSI: decile-bin the [0,1) score (bin = min(floor
    (prob*10), 9) -- prob is the classifier's 6-dp-rounded double, so
    both engines bin identically), Laplace-smooth each side by +1 per
    bin over a full 10-bin spine (zero-count bins must contribute,
    else a vanished decile is invisible), and accumulate
    (pb - pc) * ln(pb/pc) in exact integer arithmetic: the share
    difference becomes the cross-product (cb+1)(Nc+B) - (cc+1)(Nb+B)
    over the common denominator, ln decomposes to fixed-point 1e8
    BIGINTs of integer args (the `token_dist_shift` idiom -- LN never
    sees a ratio), the per-bin product accumulates in DECIMAL(38,0),
    and ONE division at the end produces the identical double."""
    return f"""
    WITH s AS ({score_rel}),
    binned AS (
        SELECT LEAST(CAST(FLOOR(prob * {QS_PSI_BINS}) AS INT),
                     {QS_PSI_BINS - 1}) AS bin,
               ({_QS_BATCH}) AS is_batch
        FROM s
    ),
    spine AS ({bins_rel}),
    counts AS (
        SELECT sp.bin,
               COALESCE(SUM(CASE WHEN NOT b.is_batch THEN 1 END), 0) AS cc,
               COALESCE(SUM(CASE WHEN b.is_batch THEN 1 END), 0) AS cb
        FROM spine sp LEFT JOIN binned b ON b.bin = sp.bin
        GROUP BY sp.bin
    ),
    -- totals as window sums over the 10-row counts (NOT a separate
    -- tot CTE joined back: through a view Spark re-expands the whole
    -- classifier subtree per CTE reference — the embedding_cluster_drift
    -- finding; the linear chain scans the scores exactly once)
    t AS (
        SELECT c.*,
               SUM(cc) OVER () + {QS_PSI_BINS} AS nc,
               SUM(cb) OVER () + {QS_PSI_BINS} AS nb
        FROM counts c
    ),
    terms AS (
        -- The cross-products promote to DECIMAL(38,0) BEFORE any
        -- multiply (a BIGINT product would silently wrap in Spark at
        -- ~1e12-doc counts while DuckDB's HUGEINT stayed exact — the
        -- worst kind of cross-engine divergence); at 38 digits the
        -- full term (counts² x 1e10 fixed-point ln ~ 1e34) keeps
        -- headroom.
        SELECT t.bin, t.cc, t.cb, t.nc, t.nb,
               (CAST(t.cb + 1 AS DECIMAL(38, 0)) * t.nc
                - CAST(t.cc + 1 AS DECIMAL(38, 0)) * t.nb)
               * ({fpln.format(x="t.cb + 1")}
                  - {fpln.format(x="t.nb")}
                  - {fpln.format(x="t.cc + 1")}
                  + {fpln.format(x="t.nc")}) AS num
        FROM t
    ),
    agg AS (
        SELECT bin, cc, cb, nc, nb,
               SUM(num) OVER () AS psi_num
        FROM terms
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(cc AS BIGINT) AS n_corpus,
           CAST(cb AS BIGINT) AS n_batch,
           ROUND((cc + 1) / CAST(nc AS DOUBLE), 6) AS corpus_share,
           ROUND((cb + 1) / CAST(nb AS DOUBLE), 6) AS batch_share,
           ROUND(CAST(psi_num AS DOUBLE) / (CAST(nc AS DOUBLE) * nb * 100000000.0), 6)
               AS psi,
           -- shifted derives from the SAME rounded expression emitted as
           -- `psi`, so the flag always matches the visible value (an
           -- unrounded 0.2499996 must not display psi=0.25/shifted=false)
           ROUND(CAST(psi_num AS DOUBLE) / (CAST(nc AS DOUBLE) * nb * 100000000.0), 6)
               >= {QS_PSI_SHIFTED} AS shifted
    FROM agg
    """


_DUCK_FPLN = "CAST(ROUND(LN({x}) * 100000000) AS BIGINT)"
_DUCK_BINS = f"SELECT unnest(generate_series(0, {QS_PSI_BINS - 1})) AS bin"
_SPARK_BINS = f"SELECT explode(sequence(0, {QS_PSI_BINS - 1})) AS bin"


@query(
    "quality_score_psi",
    oracle=_psi_sql(
        "SELECT doc_id, prob FROM (" + _ORACLES["quality_classifier_score"] + ") qs",
        _DUCK_BINS,
        _DUCK_FPLN,
    ),
)
def quality_score_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the standing corpus's quality-score distribution and
    tonight's ingest batch (doc_id % 10 = 9): per score-decile corpus
    and batch populations, Laplace-smoothed shares, the global PSI
    (repeated per row as a decision input, the `embedding_cluster_drift`
    convention), and ``shifted`` (the emitted 6-dp PSI at or above
    QS_PSI_SHIFTED, the standard re-calibrate/re-train action line —
    the flag derives from the same rounded expression it is read
    against). A drifted score distribution
    means yesterday's keep-threshold no longer cuts at the same
    quantile -- the gate must be re-calibrated BEFORE the batch is
    filtered, which is exactly when this monitor runs.

    Scale: the classifier scoring is one scan + one doc_id hash agg
    (its own plan); the PSI layer is a 10-row spine join + window sums
    over 10 rows -- free. Exact integer cross-products and fixed-point
    LN of integer args keep Spark and DuckDB bit-identical (the
    `token_dist_shift` determinism idiom).
    """
    quality_classifier_score(spark, sf_dir).select(
        "doc_id", "prob"
    ).createOrReplaceTempView("qs_psi_scores")
    return spark.sql(
        _psi_sql(
            "SELECT doc_id, prob FROM qs_psi_scores",
            _SPARK_BINS,
            _DUCK_FPLN,
        )
    )


# --- quality-gate recalibration -----------------------------------------------
# The consumer of `quality_score_psi`: the score-axis `shifted` flag drives
# a decision, as elsewhere in the drift family — token/source-KL feed
# mixture weights, embedding drift feeds `drift_retrain_plan`, and the
# score axis feeds the gate threshold. A shifted score distribution
# means yesterday's keep-threshold cuts tonight's merged corpus+batch
# population at the wrong quantile; the re-calibrated threshold is the
# merged-distribution score whose keep-rate preserves the CORPUS
# keep-rate — pure integer rank arithmetic (rank·Nc <= Nm·Kc), the
# family's bit-parity idiom, no float share computation.
QGATE_THRESHOLD = 0.5  # the classifier's sign gate: logit >= 0 <=> prob >= 0.5


def _qgate_recal_sql(
    scores_rel: str, psi_rel: str, ranked_rel: str | None = None
) -> str:
    """Dialect-shared recalibration: one decision row. The merged
    corpus+batch scores rank by (prob DESC, doc_id); the recalibrated
    threshold is the prob at the last rank satisfying
    rank * n_corpus <= n_merged * n_keep_corpus (ties at the cut value
    keep marginally more than the exact rate — the standard >= -
    threshold semantics). The corpus keep count derives from the SAME
    gate the threshold drives (``prob >= QGATE_THRESHOLD`` over the
    6-dp-rounded prob), NOT the classifier's raw-sign ``keep`` flag —
    the two disagree where a barely-negative logit rounds prob to
    exactly the threshold, and an operator must report the keep-rate
    its own published threshold realizes. A keep-nothing corpus
    (kc = 0, including the degenerate all-batch nc = 0 case, which the
    predicate guards explicitly) recalibrates to 1.0 — above every
    6-dp-rounded sigmoid except a saturated 1.0, matching "keep
    nothing" as closely as a >= gate can.

    ``ranked_rel`` is the dialect split for the merged rank: when None
    (the DuckDB oracle) the rank is a plain total-order window; the
    Spark caller passes a pre-ranked relation built with the two-pass
    range-partitioned ``functions.exprs.global_row_number`` instead —
    a bare ``ROW_NUMBER() OVER (ORDER BY ...)`` holds every scored doc
    in ONE partition. The merged
    count ``nm`` is a scalar aggregate CTE for the same reason (the old
    ``COUNT(*) OVER ()`` rode the same unpartitioned window)."""
    ranked = ranked_rel or f"""
        SELECT prob,
               ROW_NUMBER() OVER (ORDER BY prob DESC, doc_id) AS rnk
        FROM s
    """
    return f"""
    WITH s AS ({scores_rel}),
    p AS (SELECT MAX(psi) AS psi, MAX(shifted) AS shifted
          FROM ({psi_rel}) pr),
    c AS (
        SELECT COALESCE(SUM(CASE WHEN NOT ({_QS_BATCH}) THEN 1 END), 0)
                   AS nc,
               COALESCE(SUM(CASE WHEN NOT ({_QS_BATCH})
                                      AND prob >= {QGATE_THRESHOLD}
                                 THEN 1 END), 0) AS kc,
               COALESCE(SUM(CASE WHEN {_QS_BATCH} THEN 1 END), 0) AS nb
        FROM s
    ),
    n AS (SELECT COUNT(*) AS nm FROM s),
    m AS ({ranked}),
    -- the rank cut promotes to DECIMAL(38,0) before multiplying: at
    -- ~3e9 merged docs rnk*nc crosses BIGINT and non-ANSI Spark would
    -- wrap silently while DuckDB stayed exact (the `_psi_sql` terms
    -- idiom). The nc > 0 guard keeps the empty-corpus case on the
    -- keep-nothing contract: without it, rnk*0 <= nm*0 holds for every
    -- row and the cut would collapse to min(prob) — keep EVERYTHING —
    -- on exactly the input with zero evidence for any keep-rate.
    r AS (
        SELECT MIN(prob) AS thr FROM m, c, n
        WHERE c.nc > 0
          AND CAST(m.rnk AS DECIMAL(38, 0)) * c.nc
              <= CAST(n.nm AS DECIMAL(38, 0)) * c.kc
    )
    SELECT p.psi, p.shifted,
           CAST(c.nc AS BIGINT) AS n_corpus,
           CAST(c.kc AS BIGINT) AS n_keep_corpus,
           CAST(c.nb AS BIGINT) AS n_batch,
           CASE WHEN c.nc = 0 THEN CAST(0 AS DOUBLE)
                ELSE ROUND(c.kc / CAST(c.nc AS DOUBLE), 6) END
               AS corpus_keep_rate,
           CAST({QGATE_THRESHOLD} AS DOUBLE) AS threshold_old,
           COALESCE(r.thr, CAST(1 AS DOUBLE)) AS threshold_recal,
           CASE WHEN p.shifted THEN COALESCE(r.thr, CAST(1 AS DOUBLE))
                ELSE CAST({QGATE_THRESHOLD} AS DOUBLE) END AS threshold_used
    FROM p, c, r
    """


@query(
    "quality_gate_recalibrate",
    oracle=_qgate_recal_sql(
        "SELECT doc_id, prob FROM ("
        + _ORACLES["quality_classifier_score"]
        + ") qs",
        # the parent's REGISTERED oracle string, not a hand-rebuilt
        # twin — if quality_score_psi's registration ever changes, this
        # consumer's embedded PSI moves with it instead of silently
        # diverging from the parent it claims to consume
        _ORACLES["quality_score_psi"],
    ),
)
def quality_gate_recalibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume `quality_score_psi`'s report into the gate DECISION — the
    drift family's score-axis decide stage. One row: the PSI evidence
    (psi, shifted), the corpus/batch populations, the exact corpus
    keep-rate under the standing ``prob >= QGATE_THRESHOLD`` gate (the
    same gate the emitted threshold drives — see `_qgate_recal_sql` for
    why the classifier's raw-sign ``keep`` flag is NOT the yardstick),
    the recalibrated threshold (the merged corpus+batch score quantile
    that preserves that keep-rate — integer rank arithmetic over
    6-dp-identical probs, so both engines cut at the identical score),
    and ``threshold_used``: the recalibrated value when ``shifted``,
    else the standing one. Downstream the batch filter is
    ``prob >= threshold_used`` — re-calibrated BEFORE the batch is
    gated, which is exactly when `quality_score_psi` says to run it.

    Scale: the classifier scores once (one scan + one doc_id hash agg,
    checkpointed — the PSI layer, the count rollup, and the rank all
    read the same materialization); the merged rank RUNS as the
    two-pass range-partitioned `functions.exprs.global_row_number`
    (per-partition row_number + broadcast offsets — no stage holds the
    scored corpus in one partition; the DuckDB oracle keeps the plain
    window, which is fine single-node) and the merged count is a
    scalar aggregate, not a `COUNT(*) OVER ()`; everything after is a
    10-row spine and three scalar CTEs.
    """
    from lakehouse_workshop_spark.functions.exprs import global_row_number

    scored = quality_classifier_score(spark, sf_dir).select(
        "doc_id", "prob"
    )
    scored.localCheckpoint(eager=True).createOrReplaceTempView(
        "qgate_scores"
    )
    spark.sql(
        _psi_sql(
            "SELECT doc_id, prob FROM qgate_scores", _SPARK_BINS, _DUCK_FPLN
        )
    ).createOrReplaceTempView("qgate_psi")
    global_row_number(
        spark.table("qgate_scores"), F.desc("prob"), F.col("doc_id"),
        name="rnk",
    ).select("prob", "rnk").createOrReplaceTempView("qgate_ranked")
    return spark.sql(
        _qgate_recal_sql(
            "SELECT doc_id, prob FROM qgate_scores",
            "SELECT psi, shifted FROM qgate_psi",
            ranked_rel="SELECT prob, rnk FROM qgate_ranked",
        )
    )


# --- quality-gate application -------------------------------------------------
# The quality family's DATA terminal, mirroring the budget family's
# `token_budget_materialize`: the chain
# monitor (`quality_score_psi`) -> decision (`quality_gate_recalibrate`)
# now ends in the gated batch itself — the admitted documents, not a
# report about a threshold. Downstream this IS tonight's ingest: the
# rows that join the standing corpus.


def _qgate_apply_sql(scores_rel: str, decision_rel: str) -> str:
    """Dialect-shared gate application: the batch rows (``_QS_BATCH``)
    whose 6-dp classifier prob clears the decision's ``threshold_used``
    (``>=`` — the same inclusive semantics `_qgate_recal_sql` documents
    for the threshold it emits, so the admitted count realizes exactly
    the keep-rate the recalibration preserved). Both sides of the
    comparison are 6-dp-identical doubles cross-engine (the classifier's
    rounded sigmoid; the threshold is one of those probs, the standing
    0.5 constant, or the keep-nothing 1.0), so admission is
    bit-identical. ``threshold_used`` repeats per row — the
    `quality_score_psi` decision-input convention."""
    return f"""
    WITH s AS ({scores_rel}),
    dec AS (SELECT threshold_used FROM ({decision_rel}) d0)
    SELECT s.doc_id, s.prob, dec.threshold_used
    FROM s CROSS JOIN dec
    WHERE ({_QS_BATCH}) AND s.prob >= dec.threshold_used
    """


@query(
    "quality_gate_apply",
    oracle=_qgate_apply_sql(
        "SELECT doc_id, prob FROM ("
        + _ORACLES["quality_classifier_score"]
        + ") qs",
        # the parent's REGISTERED oracle (the `quality_gate_recalibrate`
        # consumer idiom): if the decision's registration changes, the
        # gate this terminal applies moves with it
        _ORACLES["quality_gate_recalibrate"],
    ),
)
def quality_gate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply `quality_gate_recalibrate`'s ``threshold_used`` to tonight's
    batch (``doc_id % 10 = 9``): one row per ADMITTED document — the
    quality family's data terminal. When the score distribution drifted
    (``shifted``), the gate cuts at the recalibrated merged-quantile
    threshold; when it didn't, at the standing ``QGATE_THRESHOLD``; a
    keep-nothing corpus admits only saturated prob-1.0 docs (the
    decision's documented contract, inherited unchanged).

    Scale: calling the decision operator materializes the classifier
    scores ONCE (its eager ``localCheckpoint`` behind the
    ``qgate_scores`` view) — the decision arm and this gating arm both
    read the checkpoint, so the corpus is scanned and scored a single
    time; the decision side is one row (broadcast nested-loop, the
    established scalar-CTE shape) and the gate itself is a codegen'd
    filter. No new shuffle beyond the parent's.
    """
    quality_gate_recalibrate(spark, sf_dir).createOrReplaceTempView(
        "qga_decision"
    )
    return spark.sql(
        _qgate_apply_sql(
            "SELECT doc_id, prob FROM qgate_scores",
            "SELECT threshold_used FROM qga_decision",
        )
    )
