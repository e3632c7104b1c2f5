"""Deduplication operators for LLM data pipelines (north-star extensions).

Four dedup families over the ``documents`` table, each expressed as a
declarative Spark plan with a DuckDB oracle:

- exact: content-hash groupBy (one shuffle on a 128-bit key);
- n-gram Jaccard: shingle-explode + equi-join on shingle, Jaccard from
  shared-shingle counts (the candidate join is the scale bottleneck: common
  shingles fan out; kept exact here for the oracle — at scale, cap shingle
  document-frequency or use the MinHash variant below);
- MinHash + LSH: k=16 universal-hash minhash signatures, banded 4×4 so
  near-duplicates collide in ≥1 band — turns O(n²) comparison into an
  equi-join on (band, band_hash). The standard 100 TB-scale design;
- SimHash: 60-bit sign-of-weighted-sum fingerprint; candidate pairs via
  15-bit banding + exact hamming filter. Recall note: pigeonhole
  guarantees a band collision only for hamming ≤ 3 (4 bands); pairs with
  4-10 differing bits spread across all four bands are missed — the
  standard LSH recall/cost trade, identical in the oracle so parity is
  exact.

Every hash derives from md5 so Spark and DuckDB agree bit-for-bit:
``conv(substr(md5(s),1,15),16,10)`` ≡ ``('0x'||substr(md5(s),1,15))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.operators import query

SHINGLE_WIDTH = 5
JACCARD_THRESHOLD = 0.2
# Universal-hash family h_i(x) = (a_i * x + b_i) mod P over Z_P,
# P = 2^31 - 1 (Mersenne prime). a_i, b_i fixed literals → reproducible
# signatures everywhere; products stay < 2^62 (no bigint overflow).
MINHASH_K = 16
MINHASH_P = 2_147_483_647
_MINHASH_A = [(1_103_515_245 * i + 12_345) % MINHASH_P for i in range(1, MINHASH_K + 1)]
_MINHASH_B = [(2_654_435_761 * i + 1_013_904_223) % MINHASH_P for i in range(1, MINHASH_K + 1)]
LSH_BANDS = 4  # 4 bands x 4 rows: ~50% collision at J=0.47, >95% at J=0.8
# 60-bit simhash (15 md5 hex chars — stays under signed-bigint range in
# both engines), banded 4×15 bits. Band width sets the bucket count and
# therefore the candidate-join cost: 8-bit bands (256 buckets) saturate
# around 10⁴ docs and the join goes quadratic; 15-bit bands (32,768 per
# band) hold singleton-ish buckets orders of magnitude longer — measured
# 85s → 4s on a 50k-doc corpus.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_MAX_HAMMING = 10  # same relative strictness as 6-of-32

# --- shared SQL fragments (Spark dialect / DuckDB dialect) -----------------

# NB: tokens split ONCE in the inner select — referencing split(text) inside
# the transform lambda would re-tokenize the document per shingle index
# (measured 3x slower).
# NB2: the WHERE guard on short docs is load-bearing for cross-dialect
# safety, not an optimization — Spark's sequence(1, n) with n < 1 yields
# a DESCENDING ramp [1, 0, -1, ...] while DuckDB's generate_series yields
# the empty set, so a doc shorter than SHINGLE_WIDTH tokens would emit
# garbage shingles in Spark only. No testdata doc is that short (min 10
# tokens at every SF), so the guard is behavior-identical today; it
# exists so arbitrary corpora stay dialect-identical.
_SPARK_SHINGLES = f"""
    SELECT doc_id,
           explode(array_distinct(transform(
               sequence(1, size(toks) - {SHINGLE_WIDTH - 1}),
               i -> array_join(slice(toks, i, {SHINGLE_WIDTH}), ' ')
           ))) AS shingle
    FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents)
    WHERE size(toks) >= {SHINGLE_WIDTH}
"""

_DUCK_SHINGLES = f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {SHINGLE_WIDTH - 1}),
               i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_WIDTH - 1}], ' ')
           ))) AS shingle
    FROM documents
    WHERE len(string_split(text, ' ')) >= {SHINGLE_WIDTH}
"""

_SPARK_SHINGLE_INT = "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
_DUCK_SHINGLE_INT = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"


def _docs_view(spark: SparkSession, sf_dir: str) -> None:
    # The corpus parquet is a single row group, so the scan (and everything
    # pipelined into it — the shingle/token lambdas, the expensive part of
    # these queries) would run on ONE core. Spreading the raw text first
    # costs a ~MB shuffle and parallelizes the compute. The spread is
    # CONDITIONAL: a round-robin REPARTITION_BY_NUM never coalesces away,
    # so when the input already splits to >= core-count scan tasks (the
    # 32-file probe corpora, any real multi-file table) it would be a full
    # shuffle of the text payload per rep — 83 MB on every dedup/ngram row
    # at the 100× probe, the whole corpus at 100 TB. Row order is all it
    # changes; every consumer is row-order-independent.
    docs = load_table(spark, sf_dir, "documents")
    if len(docs.inputFiles()) >= spark.sparkContext.defaultParallelism:
        docs.createOrReplaceTempView("documents")
    else:
        docs.repartition(
            spark.sparkContext.defaultParallelism
        ).createOrReplaceTempView("documents")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash, keep min doc_id.

    Scale: the only shuffle key is the 128-bit hash — uniformly distributed,
    no skew; at 100 TB this is a single well-balanced exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies")
    )


@query(
    "dedup_keep_canonical",
    oracle="""
    SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d
    JOIN (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ) keep ON keep.doc_id = d.doc_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *application*: the corpus with only canonical copies kept.

    Plan: hash-groupBy picks min doc_id per content hash, then a semi-join
    filters the corpus. At scale the right side (one id per distinct doc)
    is far smaller than the corpus and the join is an equi-join on doc_id;
    Spark plans the aggregation partial+final and AQE sizes the join.
    """
    docs = load_table(spark, sf_dir, "documents")
    keep = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "source", F.length("text").cast("bigint").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard
# ---------------------------------------------------------------------------


@query(
    "ngram_jaccard_pairs",
    scale_path="ngram_jaccard_pairs_capped",
    oracle=f"""
    WITH shingles AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {JACCARD_THRESHOLD}
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 5-gram Jaccard ≥ {threshold}.

    Scale: the shingle self-join is quadratic in document frequency of a
    shingle; production caps DF (drop shingles appearing in >x% of docs —
    they carry no discrimination). Kept exact here; the MinHash variant is
    the sub-quadratic path.
    """
    _docs_view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH shingles AS ({_SPARK_SHINGLES}),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {JACCARD_THRESHOLD}
        """
    )


DF_CAP = 50  # drop shingles present in more than DF_CAP documents


def _jaccard_capped_sql(shingles_cte: str) -> str:
    """DF-capped Jaccard: identical to the exact form, but shingles whose
    document frequency exceeds DF_CAP are dropped BEFORE the self-join —
    they carry no discrimination and are precisely the quadratic fan-out.
    Note sizes are computed on the capped shingle set (the estimate is of
    Jaccard over discriminative shingles)."""
    return f"""
    WITH all_shingles AS ({shingles_cte}),
    df AS (SELECT shingle, COUNT(*) AS df FROM all_shingles GROUP BY 1),
    shingles AS (
        SELECT s.doc_id, s.shingle
        FROM all_shingles s JOIN df ON s.shingle = df.shingle
        WHERE df.df <= {DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {JACCARD_THRESHOLD}
    """


@query(
    "ngram_jaccard_pairs_capped",
    oracle=_jaccard_capped_sql(_DUCK_SHINGLES),
)
def ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Jaccard family's scale path: cap shingle document frequency
    before the candidate self-join.

    The exact variant's cost is Σ_shingle df² — boilerplate shingles
    dominate; capping df bounds per-shingle fan-out at DF_CAP² and the
    join becomes corpus-linear for natural corpora. Same scoring formula
    on the surviving shingles.

    Plan shape: the oracle references the capped-shingle CTE three times
    (sizes + both self-join sides). Spark's exchange reuse already
    dedupes those identical subtrees at this scale (measured ~even with
    the inlined SQL form); the explicit eager checkpoint keeps the
    sharing guaranteed rather than optimizer-dependent — at 100 TB a
    ReusedExchange miss (e.g. AQE re-planning one consumer differently)
    would re-run the corpus explode. Cost is dominated by the bounded
    Σ df² self-join fan-out itself, which is the operator's honest price.
    """
    _docs_view(spark, sf_dir)
    raw = spark.sql(_SPARK_SHINGLES)
    df = raw.groupBy("shingle").agg(F.count("*").alias("df"))
    capped = (
        raw.join(df.filter(F.col("df") <= DF_CAP), "shingle")
        .select("doc_id", "shingle")
        .localCheckpoint(eager=True)  # read by sizes and both join sides
    )
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_sig_sql(shingle_int: str, shingles_cte: str) -> str:
    mins = ",\n           ".join(
        f"MIN(({a} * (x % {MINHASH_P}) + {b}) % {MINHASH_P}) AS sig{i}"
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    return f"""
    WITH shingles AS ({shingles_cte}),
    ints AS (SELECT doc_id, {shingle_int} AS x FROM shingles)
    SELECT doc_id,
           {mins}
    FROM ints
    GROUP BY doc_id
    """


def _minhash_sigs_df(docs: "DataFrame") -> "DataFrame":
    """Arrow-kernel twin of ``_minhash_sig_sql``'s Spark side:
    tokenize → shingle → md5 → 16 universal-hash MINs per
    doc, all inside one ``mapInPandas`` pass — no explode, no groupBy
    shuffle (each doc's signature completes within its row), and the
    md5/tokenize work runs in C (hashlib + numpy) instead of one
    interpreted higher-order-function lambda chain per shingle.
    Profiled: the SQL form cost ~3.5 min of CPU over 24.2M shingles
    at the 100× probe — tokenize+md5 evenly spread but paying codegen'd
    JVM string work per shingle.

    BIT-PARITY with the SQL path (pinned by
    tests/test_llm_ops.py::test_minhash_sigs_kernel_matches_sql and the
    DuckDB oracles of every consumer):

    - ``split(text, ' ')`` ≡ ``str.split(' ')``: Java's split with
      limit -1 and Python's plain-string split both KEEP leading,
      consecutive and trailing empty tokens.
    - ``array_join(slice(toks, i, {SHINGLE_WIDTH}), ' ')`` ≡
      ``' '.join(toks[i:i+W])`` (no nulls by construction);
      ``array_distinct`` ≡ ``set()`` (MIN is order-blind).
    - ``conv(substring(md5(s), 1, 15), 16, 10)`` = the top 60 bits of
      the digest ≡ ``int.from_bytes(digest[:8], 'big') >> 4``.
    - ``MIN((a * (x % P) + b) % P)``: a, b, x%P < 2³¹ so the products
      stay < 2⁶² — exact in int64 in both engines.
    """
    import numpy as np

    A = np.array(_MINHASH_A, dtype=np.int64)[:, None]
    B = np.array(_MINHASH_B, dtype=np.int64)[:, None]
    W = SHINGLE_WIDTH
    # Shingle chunk bound for the (K × chunk) hash slab: batch-wide
    # temporaries ((16, ~800k) int64 ×3 passes ≈ 300 MB/task) measured
    # ~2 s/task of pure first-touch page faults on this VM (the
    # pathology kernels.worker_buf exists for); a fixed-size
    # reused slab keeps the pages warm across chunks, batches AND tasks
    # (worker reuse).
    CHUNK = 1 << 16

    def sigs(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from lakehouse_workshop_spark.kernels import worker_buf

        md5 = hashlib.md5
        for pdf in batches:
            ids: list = []
            counts: list = []
            xs: list = []
            for doc_id, text in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                if text is None:
                    continue  # the SQL path's split/explode drops null text
                toks = text.split(" ")
                if len(toks) < W:
                    continue
                sh = {
                    " ".join(toks[i : i + W])
                    for i in range(len(toks) - W + 1)
                }
                ids.append(doc_id)
                counts.append(len(sh))
                xs.extend(
                    int.from_bytes(md5(s.encode()).digest()[:8], "big") >> 4
                    for s in sh
                )
            if not ids:
                continue
            x = np.fromiter(xs, dtype=np.int64, count=len(xs))
            ends = np.cumsum(counts)
            ndocs = len(counts)
            mins = np.empty((MINHASH_K, ndocs), dtype=np.int64)
            hb = worker_buf("mh_h", (MINHASH_K, CHUNK), np.int64)
            xb = worker_buf("mh_xm", (CHUNK,), np.int64)
            d0 = 0
            pos = 0
            while d0 < ndocs:
                # widest doc prefix whose shingles fit the slab (a
                # single doc larger than CHUNK gets its own oversize
                # chunk via the d1==d0 fallback — correct, just unreused)
                d1 = int(np.searchsorted(ends, pos + CHUNK, side="right"))
                if d1 == d0:
                    d1 = d0 + 1
                seg = x[pos : ends[d1 - 1]]
                s = len(seg)
                if s <= CHUNK:
                    xm = xb[:s]
                    b = hb[:, :s]
                else:
                    xm = np.empty(s, dtype=np.int64)
                    b = np.empty((MINHASH_K, s), dtype=np.int64)
                np.mod(seg, MINHASH_P, out=xm)
                np.multiply(A, xm, out=b)
                np.add(b, B, out=b)
                np.mod(b, MINHASH_P, out=b)
                starts = np.empty(d1 - d0, dtype=np.int64)
                starts[0] = 0
                starts[1:] = ends[d0 : d1 - 1] - pos
                mins[:, d0:d1] = np.minimum.reduceat(b, starts, axis=1)
                pos = int(ends[d1 - 1])
                d0 = d1
            out = {"doc_id": np.asarray(ids, dtype=np.int64)}
            for i in range(MINHASH_K):
                out[f"sig{i}"] = mins[i]
            yield pd.DataFrame(out)

    schema = "doc_id BIGINT, " + ", ".join(
        f"sig{i} BIGINT" for i in range(MINHASH_K)
    )
    return docs.select("doc_id", "text").mapInPandas(sigs, schema)


def _band_exprs() -> list[str]:
    rows = MINHASH_K // LSH_BANDS
    out = []
    for band in range(LSH_BANDS):
        cols = ", ".join(f"sig{band * rows + j}" for j in range(rows))
        out.append(f"md5(concat_ws(',', {cols}))")
    return out


@query(
    "minhash_signatures",
    oracle=_minhash_sig_sql(_DUCK_SHINGLE_INT, _DUCK_SHINGLES),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=16 minhash signature per document — the LSH building block.

    Scale: one shuffle (groupBy doc_id over exploded shingles) with 16
    partial-aggregated MINs; signature bytes per doc are constant, so the
    output is tiny relative to the corpus.
    """
    _docs_view(spark, sf_dir)
    return _minhash_sigs_df(spark.table("documents"))


def _lsh_pairs_sql(sig_sql: str) -> str:
    """Oracle form (DuckDB materializes multi-referenced CTEs, so the
    3 references to ``sigs`` cost one evaluation there)."""
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {expr} AS band_hash FROM sigs"
        for b, expr in enumerate(_band_exprs())
    )
    sig_eq = " + ".join(f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))
    return f"""
    WITH sigs AS ({sig_sql}),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
    )
    SELECT cand.doc_a, cand.doc_b,
           CAST(({sig_eq}) AS DOUBLE) / {MINHASH_K} AS est_jaccard
    FROM cand
    JOIN sigs a ON a.doc_id = cand.doc_a
    JOIN sigs b ON b.doc_id = cand.doc_b
    """


@query(
    "minhash_lsh_pairs",
    oracle=_lsh_pairs_sql(_minhash_sig_sql(_DUCK_SHINGLE_INT, _DUCK_SHINGLES)),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (4 bands × 4 rows) + estimated Jaccard.

    Scale: candidates come from an equi-join on (band_id, band_hash) —
    never a cross join. Hot buckets (boilerplate docs) are the skew risk;
    AQE skew-join splits them, or cap bucket size upstream.

    Plan shape: Spark inlines deterministic CTEs, so the oracle's 3-way
    ``sigs`` reference would recompute the whole shingle→signature
    pipeline 6×. Here bands come from ONE pass over sigs (explode of the
    4 band structs) carrying the full signature array, so the expensive
    pipeline runs once and the pair stage is a self-equi-join on
    (band_id, band_hash). est_jaccard is computed INSIDE the join row
    (both sides already carry their signature) and the cross-band dedup
    aggregates ``first(est)`` per pair — the dedup shuffle moves one
    double per candidate instead of two 16-element signature arrays
    (every copy of a pair carries the identical estimate, so ``first``
    is deterministic).
    """
    _docs_view(spark, sf_dir)
    # Materialize the signature stage once (lazily): both sides of the
    # band self-join read the same blocks instead of re-deriving the
    # shingle→minhash pipeline per side. Signatures are ~100 B/doc, so the
    # materialization is negligible next to the corpus.
    sigs = _minhash_sigs_df(spark.table("documents")).localCheckpoint(
        eager=True
    )
    rows = MINHASH_K // LSH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"sig{b * rows + j}") for j in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    sig_arr = F.array(*[F.col(f"sig{i}") for i in range(MINHASH_K)])
    bands = sigs.select(
        "doc_id", sig_arr.alias("sig"), F.explode(band_structs).alias("band")
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")

    x, y = bands.alias("x"), bands.alias("y")
    matches = F.aggregate(
        F.zip_with(
            F.col("x.sig"), F.col("y.sig"), lambda a, b: (a == b).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            (matches.cast("double") / MINHASH_K).alias("est"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est").alias("est_jaccard"))
    )


def _band_stats_sql(sig_sql: str) -> str:
    """Dialect-shared band-population observability (oracle form; the
    band UNION ALL over ``sigs`` is cheap — populations, not pairs)."""
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {expr} AS band_hash FROM sigs"
        for b, expr in enumerate(_band_exprs())
    )
    return f"""
    WITH sigs AS ({sig_sql}),
    bands AS ({band_selects}),
    pops AS (
        SELECT band_id, band_hash, COUNT(*) AS pop
        FROM bands GROUP BY band_id, band_hash
    )
    SELECT CAST(band_id AS INT) AS band_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(pop) AS BIGINT) AS max_pop,
           CAST(SUM(CASE WHEN pop > 1 THEN pop ELSE 0 END) AS BIGINT)
               AS docs_in_shared_buckets,
           CAST(SUM((pop * (pop - 1)) // 2) AS BIGINT) AS candidate_pairs
    FROM pops GROUP BY band_id ORDER BY band_id
    """


@query(
    "minhash_band_stats",
    oracle=_band_stats_sql(_minhash_sig_sql(_DUCK_SHINGLE_INT, _DUCK_SHINGLES)),
)
def minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-population report for the banded MinHash join: per band,
    how many buckets exist, the hottest bucket, how many docs share a
    bucket, and the implied candidate-pair count Σ C(pop, 2) — the
    observability pass that sizes LSH bands BEFORE running the pair join
    (a band whose candidate_pairs explodes is the skew the banded join
    will pay for; re-band or cap bucket size first).

    Scale: signature build is the minhash shuffle; band populations
    map-side-combine on (band_id, band_hash); the final rollup is
    {LSH_BANDS} rows. pop·(pop−1) is always even, so the /2 is exact in
    BIGINT in both engines — no pair is ever materialized.
    """
    _docs_view(spark, sf_dir)
    sigs = _minhash_sigs_df(spark.table("documents"))
    rows = MINHASH_K // LSH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"sig{b * rows + j}") for j in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    pops = (
        sigs.select("doc_id", F.explode(band_structs).alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
        .groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("pop"))
    )
    return (
        pops.groupBy(F.col("band_id").cast("int").alias("band_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.max("pop").cast("bigint").alias("max_pop"),
            F.sum(F.when(F.col("pop") > 1, F.col("pop")).otherwise(0))
            .cast("bigint")
            .alias("docs_in_shared_buckets"),
            F.sum(F.expr("(pop * (pop - 1)) div 2"))
            .cast("bigint")
            .alias("candidate_pairs"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_sql(hex_to_int: str, split_fn: str, unnest: bool) -> str:
    """60-bit simhash: per token take md5-derived 60 bits; per bit position
    sum ±1 over tokens; fingerprint = Σ (sum>=0) << j."""
    hi = SIMHASH_BITS - 1
    if unnest:  # DuckDB
        toks = f"SELECT doc_id, unnest({split_fn}(text, ' ')) AS tok FROM documents"
        js = f"SELECT doc_id, x, unnest(generate_series(0, {hi})) AS j FROM tokints"
        shifted = "(x >> j)"
    else:  # Spark
        toks = f"SELECT doc_id, explode({split_fn}(text, ' ')) AS tok FROM documents"
        js = f"SELECT doc_id, x, explode(sequence(0, {hi})) AS j FROM tokints"
        shifted = "shiftright(x, CAST(j AS INT))"
    return f"""
    WITH tokens AS ({toks}),
    tokints AS (SELECT doc_id, {hex_to_int} AS x FROM tokens),
    bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN {shifted} % 2 = 1 THEN 1 ELSE -1 END) AS w
        FROM ({js})
        GROUP BY doc_id, j
    )
    SELECT doc_id,
           -- outer CAST matters for DuckDB: SUM(BIGINT) yields HUGEINT,
           -- which pandas would lossily convert to float64 (>2^53 values)
           CAST(SUM(CASE WHEN w >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    """


_SPARK_TOK_INT = "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
_DUCK_TOK_INT = "('0x' || substr(md5(tok), 1, 15))::BIGINT"


def _spark_simhash_sql() -> str:
    """Spark form: ONE groupBy(doc_id) with per-bit conditional sums instead
    of the oracle's tokens×bits explode (36M-row intermediate + second
    shuffle at sf0.1). Per-bit sums are identical, so values match the
    oracle."""
    ws = ",\n               ".join(
        f"SUM(CASE WHEN shiftright(x, {j}) % 2 = 1 THEN 1 ELSE -1 END) AS w{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN w{j} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tokens AS (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents),
    tokints AS (SELECT doc_id, {_SPARK_TOK_INT} AS x FROM tokens),
    bits AS (
        SELECT doc_id,
               {ws}
        FROM tokints
        GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash
    FROM bits
    """


@query(
    "simhash_fingerprints",
    oracle=_simhash_sql(_DUCK_TOK_INT, "string_split", unnest=True),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit simhash per document (SIMHASH_BITS).

    Scale: token explode → one partial-aggregated groupBy(doc_id) carrying
    the 60 per-bit sums as columns; all JVM-side integer arithmetic.
    """
    _docs_view(spark, sf_dir)
    return spark.sql(_spark_simhash_sql())


def _simhash_pairs_sql(simhash_sql: str, xor_expr: str, bitcount_fn: str, intdiv: str = "//") -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash {intdiv} {2 ** (SIMHASH_BAND_BITS * b)}) % {2 ** SIMHASH_BAND_BITS} AS band_val FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH fp AS ({simhash_sql}),
    bands AS ({bands}),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS sim_a,
                        y.doc_id AS doc_b, y.simhash AS sim_b
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_val = y.band_val
         AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({bitcount_fn}({xor_expr}) AS INT) AS hamming
    FROM cand
    WHERE {bitcount_fn}({xor_expr}) <= {SIMHASH_MAX_HAMMING}
    """


@query(
    "simhash_near_pairs",
    oracle=_simhash_pairs_sql(
        _simhash_sql(_DUCK_TOK_INT, "string_split", unnest=True),
        "xor(sim_a, sim_b)",
        "bit_count",
    ),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with simhash hamming ≤ 10 (SIMHASH_MAX_HAMMING),
    candidates via banding: pigeonhole over 4 bands of 15 bits — no cross
    join. Band width is the scale knob that keeps candidate buckets small
    (the original 8-bit bands measured quadratic at a 50k-doc corpus, 85s;
    15-bit bands run the same probe in ~4s).

    Like minhash_lsh_pairs, the Spark plan bands with ONE explode pass over
    the fingerprints (CTE inlining would recompute the token pipeline 4×
    through the oracle's UNION ALL form). The hamming distance computes
    INSIDE the join row and the threshold filters BEFORE the cross-band
    dedup, so the dedup exchange carries only passing pairs (every band
    copy of a pair yields the identical distance — first() is
    deterministic and the filter commutes with the dedup).
    """
    _docs_view(spark, sf_dir)
    fp = spark.sql(_spark_simhash_sql()).localCheckpoint(eager=True)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(
                    f"(simhash div {2 ** (SIMHASH_BAND_BITS * b)})"
                    f" % {2 ** SIMHASH_BAND_BITS}"
                ).alias("band_val"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = fp.select(
        "doc_id", "simhash", F.explode(band_structs).alias("band")
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")

    x, y = bands.alias("x"), bands.alias("y")
    hamming = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).cast(
        "int"
    )
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("h"),
        )
        .filter(F.col("h") <= SIMHASH_MAX_HAMMING)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("h").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Near-dup clusters: pairs → connected components → dedup decisions.
# ---------------------------------------------------------------------------

from lakehouse_workshop_spark.operators import ORACLES as _ORACLES

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE edges AS (
        SELECT doc_a, doc_b FROM ({_ORACLES["minhash_lsh_pairs"]})
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION
        SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a
"""


def _checkpoint(df: DataFrame) -> DataFrame:
    """Checkpoint to storage (bounded lineage AND executor-loss-safe — the
    100 TB posture), falling back to ``localCheckpoint`` only if no
    checkpoint dir can be set. The dir is set lazily, once per session.
    """
    import tempfile

    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        try:
            sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark_graft_ckpt_"))
        except Exception:
            return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def connected_components(edges: DataFrame, max_rounds: int = 100) -> DataFrame:
    """Connected components over an undirected edge list (``doc_a``,
    ``doc_b``) → (``doc_id``, ``cluster_id`` = component min).

    Alternating large-star/small-star (Kiveris et al., *Connected
    Components in MapReduce and Beyond*, SoCC 2014): each round rewrites
    the edge set so every node links toward its neighborhood minimum —
    large-star hooks big neighbors onto the local min, small-star
    flattens the small side — and the graph converges to per-component
    stars in O(log² n) rounds *regardless of diameter or skew* (plain
    min-label propagation needs O(diameter) rounds: a 1 000-link chain
    would need 1 000 of them). Each round is two join+agg passes over
    the edge set, checkpointed to storage so lineage stays bounded; the
    driver loop reads only a (count, checksum) pair per round.

    Raises ``RuntimeError`` if the edge set is still moving after
    ``max_rounds`` — unconverged labels are silently-wrong cluster ids,
    and at probe scale this query runs timing-only with no oracle, so
    failing loudly is the only signal. The paper's bound is O(log² n)
    *worst case* (for n = 10¹² that is (log₂ 10¹²)² ≈ 1600), but measured
    convergence is far faster — single-digit rounds on every graph shape
    tested, including 60-link chains and 10³-degree stars. 100 rounds is
    generous empirical headroom, not the worst-case bound; converged runs
    exit early, so the headroom costs nothing.
    """
    # Directed invariant: (u, v) with u > v, no self-loops, distinct.
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("doc_id"))
        .union(e.select("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _ckpt_sig(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        """Checkpoint the edge set and return ((checkpointed df), (count,
        commutative checksum)) — the signature rides the checkpoint
        materialization via ``DataFrame.observe``, so convergence costs
        ZERO extra scans per round.

        Equal counts + equal SUM(hash(u, v)) ⟺ set equality up to a
        vanishing hash-collision probability (both sets are distinct, the
        sum is order-independent), so convergence costs no count +
        ``exceptAll`` probe (two extra passes per round over the engine's
        most expensive iterative operator).
        """
        from pyspark.sql import Observation

        obs = Observation()
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.hash("u", "v").cast("long")), F.lit(0)).alias("chk"),
        )
        ck = _checkpoint(observed)
        got = obs.get
        return ck, (got["n"], got["chk"])

    e, sig = _ckpt_sig(e)

    def _swap(df: DataFrame) -> DataFrame:
        return df.select(F.col("v").alias("u"), F.col("u").alias("v"))

    for _ in range(max_rounds):
        # large-star: m(u) = min(N(u) ∪ {u}) over the *symmetric*
        # neighborhood; hook every bigger neighbor v > u onto m(u).
        sym = e.union(_swap(e))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        e1 = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: over the directed (u > v) edges, hook u and all its
        # smaller neighbors onto m(u) = min of those neighbors.
        mins2 = e1.groupBy("u").agg(F.min("v").alias("m"))
        e2 = (
            e1.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e2, sig2 = _ckpt_sig(e2)
        converged = sig2 == sig
        e, sig = e2, sig2
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # Converged edge set is per-component stars: (member, root). Roots —
    # and only roots — never appear on the big side.
    member = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = nodes.join(member, "doc_id", "left_anti").withColumn(
        "cluster_id", F.col("doc_id")
    )
    return member.union(roots)


@query("near_dup_clusters", oracle=_CLUSTERS_ORACLE)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-pair graph — the
    step that turns pairwise matches into dedup decisions (one
    ``cluster_id`` = min doc_id per component; keep that doc, drop the
    rest). Components via :func:`connected_components`
    (large-star/small-star — round count independent of component
    diameter, so a boilerplate doc duplicated thousands of times or a
    long similarity chain cannot stall the loop). The oracle computes
    the same components as a recursive-CTE transitive closure.
    """
    edges = (
        minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    return connected_components(edges)


# --- train/eval contamination check ---------------------------------------
# Deterministic md5 bucket (the llm_pipeline split rule): docs with bucket
# >= BENCH_PCT play the held-out benchmark; the rest are the training
# corpus. A train doc is flagged when >= CONTAM_MIN_SHINGLES of its
# distinct 5-gram shingles appear in the POOLED benchmark shingle set
# (the union over all benchmark docs — a doc sharing one shingle each
# with three different benchmark docs IS flagged; overlap is not
# counted per benchmark doc).
CONTAM_BENCH_PCT = 90
CONTAM_MIN_SHINGLES = 3

_SPARK_DOC_PCT = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT) % 100"
)
_DUCK_DOC_PCT = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS INT) % 100"
)


def _decontaminate_sql(shingles: str, pct: str) -> str:
    return f"""
    WITH sh AS ({shingles}),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE {pct} >= {CONTAM_BENCH_PCT}
    ),
    hits AS (
        SELECT s.doc_id, COUNT(*) AS n_shared_shingles
        FROM sh s JOIN bench b ON s.shingle = b.shingle
        WHERE {pct.replace('doc_id', 's.doc_id')} < {CONTAM_BENCH_PCT}
        GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_shared_shingles AS BIGINT) AS n_shared_shingles
    FROM hits WHERE n_shared_shingles >= {CONTAM_MIN_SHINGLES}
    """


@query(
    "decontaminate",
    oracle=_decontaminate_sql(_DUCK_SHINGLES, _DUCK_DOC_PCT),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: training docs whose 5-gram shingle
    overlap with the held-out benchmark slice reaches the flag threshold —
    the decontamination pass every serious pretraining corpus runs so eval
    answers don't leak into training data.

    Scale: the benchmark side is eval-suite-sized (tiny next to the
    corpus), so its distinct-shingle set makes a compact build side for
    the equi-join on shingle; per-doc shingles are pre-deduped
    (array_distinct in the shared fragment) so COUNT(*) after the join IS
    the distinct overlap — no second aggregation. One uniform
    hash-keyed exchange; no pairwise comparison anywhere.
    """
    _docs_view(spark, sf_dir)
    return spark.sql(_decontaminate_sql(_SPARK_SHINGLES, _SPARK_DOC_PCT))


# --- chunk-level dedup (CCNet-style) ---------------------------------------
# Paragraph/chunk-grain dedup: the corpus's repeated boilerplate spans are
# removed INSIDE documents while the documents themselves survive. Chunks
# are fixed-width non-overlapping character windows (the synthetic corpus
# has no newlines; with real text the splitter would be '\n\n'-grain).
CHUNK_DEDUP_CHARS = 80


def _chunk_dedup_sql(explode_fn: str, seq_fn: str) -> str:
    """Dialect-shared chunk-dedup plan. ``explode_fn``/``seq_fn`` are the
    dialect spellings (Spark ``explode``/``sequence``, DuckDB
    ``unnest``/``generate_series``); the ordered reassembly aggregate is
    patched per dialect by the caller.

    A chunk occurrence is canonical iff it is the first occurrence of its
    exact text corpus-wide (ROW_NUMBER over (doc_id, offset) per chunk
    key); later occurrences are dropped and each doc is reassembled from
    its surviving chunks in offset order.
    """
    return f"""
    WITH chunks AS (
        SELECT doc_id, s,
               substr(text, s + 1, {CHUNK_DEDUP_CHARS}) AS ct
        FROM (
            SELECT doc_id, text,
                   {explode_fn}({seq_fn}(0, GREATEST(length(text) - 1, 0),
                                         {CHUNK_DEDUP_CHARS})) AS s
            FROM documents
        )
    ),
    marked AS (
        SELECT doc_id, s, ct,
               ROW_NUMBER() OVER (PARTITION BY md5(ct)
                                  ORDER BY doc_id, s) AS occ
        FROM chunks
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN occ = 1 THEN ct END, '' ORDER BY s),
                    '') AS clean_text,
           CAST(COUNT(CASE WHEN occ = 1 THEN 1 END) AS BIGINT)
               AS n_kept_chunks,
           CAST(COUNT(CASE WHEN occ > 1 THEN 1 END) AS BIGINT)
               AS n_dropped_chunks
    FROM marked
    GROUP BY doc_id
    """


@query(
    "chunk_dedup",
    oracle=_chunk_dedup_sql("unnest", "generate_series"),
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style chunk-grain dedup: drop every repeated chunk except its
    first occurrence corpus-wide and reassemble each document from what
    survives — removes boilerplate (headers, license blocks, navigation)
    without dropping whole documents the way doc-level dedup does.

    Canonicalization is deterministic: occurrences of a chunk rank by
    (doc_id, offset), so reruns and cluster sizes can't change which copy
    wins.

    Scale: explode is a narrow row-expander; the only exchange keys on
    md5(chunk) — uniform by construction — and the reassembly groupBy
    keys on doc_id. Both shuffles move the corpus once; no pairwise
    comparison anywhere (this is exact dedup at chunk grain, the
    `dedup_exact` shape applied below document granularity).
    """
    _docs_view(spark, sf_dir)
    spark_sql = _chunk_dedup_sql("explode", "sequence").replace(
        "string_agg(CASE WHEN occ = 1 THEN ct END, '' ORDER BY s)",
        "array_join(transform(array_sort(collect_list(CASE WHEN occ = 1 THEN"
        " struct(s, ct) END)), x -> x.ct), '')",
    )
    return spark.sql(spark_sql)


# --- n-gram novelty score --------------------------------------------------


def _novelty_sql(shingles: str) -> str:
    return f"""
    WITH sh AS ({shingles}),
    df AS (SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(CASE WHEN df.n_docs = 1 THEN 1 END) AS BIGINT)
               AS n_unique,
           ROUND(CAST(COUNT(CASE WHEN df.n_docs = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.doc_id
    """


@query("ngram_novelty", oracle=_novelty_sql(_DUCK_SHINGLES))
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct
    {SHINGLE_WIDTH}-gram shingles that occur in NO other document —
    the inverse of the boilerplate signal. Dedup families ask "which
    docs repeat each other"; this asks, per doc, "how much of this doc
    is original", the score a curation mix uses to up-weight fresh
    content and down-rank template farms whose every shingle is shared.

    Determinism: counts are exact integers; the one ratio divides two
    integers and rounds to 6 dp — no floats anywhere else.

    Scale: shingles are per-doc distinct (the shared fragment), so the
    document-frequency aggregation keys on the Zipf-skewed shingle
    column (map-side combine first; AQE splits the head keys) and the
    join back carries one row per (doc, shingle). Docs shorter than
    {SHINGLE_WIDTH} tokens have no shingles and are absent — identically
    in both dialects. Same two-exchange shape as `decontaminate`.
    """
    _docs_view(spark, sf_dir)
    return spark.sql(_novelty_sql(_SPARK_SHINGLES))


# --- incremental near-dedup: batch vs corpus -------------------------------
# The per-ingest production shape of minhash_lsh_pairs: an incoming batch
# (the llm_pipeline NEW_BATCH_PRED slice) is checked against the EXISTING
# corpus only — no corpus-side self-join ever runs. The batch band table
# is ingest-sized, so it broadcasts; the corpus pays one signature scan.
INCR_BATCH_PRED = "doc_id % 10 = 9"  # = llm_pipeline.NEW_BATCH_PRED


def _lsh_incremental_sql(sig_sql: str) -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {expr} AS band_hash FROM sigs"
        for b, expr in enumerate(_band_exprs())
    )
    sig_eq = " + ".join(
        f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    return f"""
    WITH sigs AS ({sig_sql}),
    bands AS ({band_selects}),
    cand AS (
        SELECT DISTINCT x.doc_id AS corpus_doc, y.doc_id AS batch_doc
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_hash = y.band_hash
        WHERE NOT (x.doc_id % 10 = 9) AND (y.doc_id % 10 = 9)
    )
    SELECT cand.corpus_doc, cand.batch_doc,
           CAST(({sig_eq}) AS DOUBLE) / {MINHASH_K} AS est_jaccard
    FROM cand
    JOIN sigs a ON a.doc_id = cand.corpus_doc
    JOIN sigs b ON b.doc_id = cand.batch_doc
    """


@query(
    "minhash_lsh_incremental",
    oracle=_lsh_incremental_sql(_minhash_sig_sql(_DUCK_SHINGLE_INT, _DUCK_SHINGLES)),
)
def minhash_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: LSH candidate pairs between an incoming
    batch ({INCR_BATCH_PRED}) and the existing corpus, with estimated
    Jaccard — the near-dup twin of `dedup_incremental` and the shape
    production ingest actually schedules (nothing compares corpus docs
    to each other; that work happened when THEY were ingested).

    Scale: the corpus-side cost is one signature scan (at 100 TB the
    signatures live as their own compact table, ~100 B/doc, written at
    ingest — not recomputed); the batch band table is ingest-sized and
    BROADCASTS into it, so there is no shuffle keyed on band_hash at
    all and a hot boilerplate bucket cannot skew a partition. Estimated
    Jaccard compares exact integer signature components.
    """
    _docs_view(spark, sf_dir)
    bands = _lsh_bands(
        _minhash_sigs_df(spark.table("documents")).localCheckpoint(eager=True)
    )
    is_batch = F.expr(INCR_BATCH_PRED)
    return _lsh_band_join(bands.filter(~is_batch), bands.filter(is_batch))


def _lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band_id, band_hash): each signature row exploded into
    its LSH_BANDS bands, the band hash an md5 over the band's components."""
    rows = MINHASH_K // LSH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"sig{b * rows + j}") for j in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    sig_arr = F.array(*[F.col(f"sig{i}") for i in range(MINHASH_K)])
    return sigs.select(
        "doc_id", sig_arr.alias("sig"), F.explode(band_structs).alias("band")
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")


def _lsh_band_join(corpus_bands: DataFrame, batch_bands: DataFrame) -> DataFrame:
    """(corpus_doc, batch_doc, est_jaccard) for every pair sharing a band:
    the ingest-sized batch band table broadcasts into the corpus one."""
    x, y = corpus_bands.alias("x"), batch_bands.alias("y")
    matches = F.aggregate(
        F.zip_with(
            F.col("x.sig"), F.col("y.sig"), lambda a, b: (a == b).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        x.join(
            F.broadcast(y),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(
            F.col("x.doc_id").alias("corpus_doc"),
            F.col("y.doc_id").alias("batch_doc"),
            (matches.cast("double") / MINHASH_K).alias("est"),
        )
        .groupBy("corpus_doc", "batch_doc")
        .agg(F.first("est").alias("est_jaccard"))
    )


# --- cross-source duplication matrix ---------------------------------------

# Pair counts never multiply duplicate counts in BIGINT: cnt*(cnt-1)/2
# would wrap once a single text had ~4.3e9 copies in one source
# (degenerate boilerplate at 100 TB: empty strings, cookie banners).
# Every count product promotes to DECIMAL(38,0) BEFORE multiplying,
# and the /2 folds into whichever factor of cnt·(cnt−1) is even via
# integer division (the only dialect split: DuckDB `//` vs Spark `div`)
# so no decimal value is ever divided — exact at any cnt. The emitted
# BIGINT total binds only past ~9.2e18 pairs per source pair, the
# output contract's own limit. (The near-dup twin is NOT exposed: it
# counts emitted LSH pairs, no count product.)


def _dup_matrix_sql(intdiv: str, hs_rel: str | None = None) -> str:
    """``intdiv`` formats exact integer halving of an even BIGINT
    expression: ``"({x}) // 2"`` (DuckDB) or ``"({x}) div 2"`` (Spark).
    ``hs_rel`` overrides the (hash, source, cnt) counts relation so the
    overflow property test can inject counts near the old BIGINT wrap
    point (~4.3e9 copies) that no test corpus can physically reach."""
    half_even = intdiv.format(x="a.cnt")
    half_odd = intdiv.format(x="a.cnt - 1")
    hs = hs_rel or """
        SELECT md5(text) AS h, source, COUNT(*) AS cnt
        FROM documents GROUP BY 1, 2
    """
    return f"""
    WITH hs AS ({hs})
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CASE WHEN a.source = b.source THEN
                         CASE WHEN a.cnt % 2 = 0
                              THEN CAST({half_even} AS DECIMAL(38, 0))
                                   * (a.cnt - 1)
                              ELSE CAST(a.cnt AS DECIMAL(38, 0))
                                   * ({half_odd}) END
                         ELSE CAST(a.cnt AS DECIMAL(38, 0)) * b.cnt END)
                AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_shared_texts
    FROM hs a JOIN hs b
      ON a.h = b.h AND a.source <= b.source
    WHERE NOT (a.source = b.source AND a.cnt < 2)
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("cross_source_dup_matrix", oracle=_dup_matrix_sql("({x}) // 2"))
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: for every source pair (incl.
    a source against itself), the number of exact-duplicate document
    pairs and of distinct shared texts — the provenance diagnostic that
    finds mirror sites and scraped-content farms BEFORE sampling weights
    are chosen (a source whose docs all exist elsewhere adds tokens, not
    information).

    Scale: the corpus reduces map-side to (content-hash, source) counts
    — at most |sources| rows per distinct text — and the self-join keys
    on the uniform md5 hash with per-key fan-out bounded by |sources|.
    Pair counts are exact integer DECIMAL(38,0) products (the /2 folds
    into the even factor of cnt·(cnt−1) via integer division BEFORE the
    promotion, so no BIGINT product and no decimal division anywhere —
    see `_dup_matrix_sql`); output is ≤ |sources|² rows.
    """
    _docs_view(spark, sf_dir)
    return spark.sql(_dup_matrix_sql("({x}) div 2"))


# --- cross-source NEAR-dup matrix -------------------------------------------
# cross_source_dup_matrix finds sources that copy each other VERBATIM;
# mirror sites and scraper farms that lightly rewrite (ads injected,
# boilerplate swapped, tokens dropped) are invisible to the md5 join but
# dominate real crawl corpora. This is the near-dup twin: LSH candidate
# pairs at est_jaccard >= the near-dup threshold, aggregated to the
# source-pair grain — the provenance view that decides which SOURCE to
# drop or down-weight before per-doc dedup even runs.
NEAR_MATRIX_EST = 0.5  # same doc-grain drop threshold as the v2 pipeline


def _near_dup_matrix_sql(pairs_sql: str) -> str:
    """Dialect-shared source-pair rollup over a (doc_a, doc_b,
    est_jaccard) relation. The unordered source pair keys on
    LEAST/GREATEST; the mean estimate derives from the INTEGER match
    total (est·MINHASH_K is exact — every estimate is a multiple of
    1/MINHASH_K, a dyadic rational), so the emitted double is identical
    cross-engine regardless of aggregation order."""
    return f"""
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_near_pairs,
           CAST(SUM(CAST(p.est_jaccard * {MINHASH_K} AS INT)) AS BIGINT)
               AS sum_matches,
           ROUND(SUM(CAST(p.est_jaccard * {MINHASH_K} AS INT))
                 / ({MINHASH_K}.0 * COUNT(*)), 6) AS avg_est_jaccard
    FROM ({pairs_sql}) p
    JOIN documents sa ON p.doc_a = sa.doc_id
    JOIN documents sb ON p.doc_b = sb.doc_id
    WHERE p.est_jaccard >= {NEAR_MATRIX_EST}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query(
    "cross_source_near_dup_matrix",
    oracle=_near_dup_matrix_sql(
        _lsh_pairs_sql(_minhash_sig_sql(_DUCK_SHINGLE_INT, _DUCK_SHINGLES))
    ),
)
def cross_source_near_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources NEAR-duplicate each other: for every unordered
    source pair, the number of LSH candidate doc pairs at
    est_jaccard ≥ {NEAR_MATRIX_EST}, the integer signature-match total,
    and the mean estimate — `cross_source_dup_matrix`'s answer for
    mirrors that rewrite instead of copy.

    Scale: the pair stage is exactly `minhash_lsh_pairs` (banded
    equi-join, never a cross join); the source lookup joins the
    candidate set (corpus-reduced) back to documents on the unique
    doc_id, and the rollup output is ≤ |sources|² rows. The mean rides
    on an integer sum, so no float-order divergence cross-engine.
    """
    _docs_view(spark, sf_dir)
    pairs = minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEAR_MATRIX_EST
    )
    src = spark.table("documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("est_jaccard") * MINHASH_K).cast("int").alias("m"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_near_pairs"),
            F.sum("m").cast("bigint").alias("sum_matches"),
            F.round(
                F.sum("m") / (F.lit(float(MINHASH_K)) * F.count("*")), 6
            ).alias("avg_est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --- duplicated-span statistics --------------------------------------------
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") deduplicates at SUBSTRING granularity: a doc is mostly novel yet
# still carries a long verbatim span copied corpus-wide. The family here
# already measures doc-grain dup (dedup_*), chunk-grain (chunk_dedup), and
# per-doc novelty share (ngram_novelty); this adds the span view — per doc,
# how many CONTIGUOUS runs of shared shingles exist and how long the
# longest verbatim span is, the signal substring-level scrubbing acts on.

_SPARK_SHINGLE_POS = f"""
    SELECT doc_id, i - 1 AS pos,
           array_join(slice(t, i, {SHINGLE_WIDTH}), ' ') AS shingle
    FROM (SELECT doc_id, t,
                 explode(sequence(1, size(t) - {SHINGLE_WIDTH - 1})) AS i
          FROM (SELECT doc_id, split(text, ' ') AS t FROM documents)
          WHERE size(t) >= {SHINGLE_WIDTH})
"""

_DUCK_SHINGLE_POS = f"""
    SELECT doc_id, i - 1 AS pos,
           array_to_string(t[i:i+{SHINGLE_WIDTH - 1}], ' ') AS shingle
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - {SHINGLE_WIDTH - 1})) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
          WHERE len(t) >= {SHINGLE_WIDTH})
"""


def _dup_span_sql(shingle_pos: str) -> str:
    return f"""
    WITH sh AS ({shingle_pos}),
    dupsh AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (
        SELECT s.doc_id, s.pos FROM sh s JOIN dupsh USING (shingle)
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM dup
    ),
    spans AS (
        SELECT doc_id, grp, COUNT(*) AS span_len
        FROM isl GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_spans,
           CAST(MAX(span_len) + {SHINGLE_WIDTH - 1} AS BIGINT)
               AS max_dup_token_span,
           CAST(SUM(span_len) AS BIGINT) AS dup_shingle_positions
    FROM spans GROUP BY doc_id
    """


@query("dup_span_stats", oracle=_dup_span_sql(_DUCK_SHINGLE_POS))
def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verbatim-span statistics: islands of CONSECUTIVE
    {SHINGLE_WIDTH}-gram shingle positions whose shingle also occurs in
    at least one other document — the count of such spans, the longest
    span in tokens, and how many shingle positions sit inside any span.
    This is the substring-grain signal of Lee et al. 2022: a doc that is
    90% novel but embeds one 300-token verbatim block scores low on
    doc-grain dedup yet high here, and span scrubbing (not whole-doc
    dropping) is the right action.

    Determinism: positions are exact integers; islands come from the
    classic gaps-and-islands rewrite (pos − ROW_NUMBER per doc), and
    every emitted column is an integer count — no floats anywhere.

    Scale: the shingle document-frequency aggregate keys on the
    Zipf-skewed shingle column (map-side combine; AQE splits head keys),
    the join back carries one row per duplicated occurrence only, and
    the islands window partitions BY DOCUMENT — bounded by doc length,
    never corpus-wide. Docs shorter than {SHINGLE_WIDTH} tokens are
    absent in both dialects (explicit WHERE, so Spark's descending
    ``sequence(1, -1)`` ramp can never fire).
    """
    _docs_view(spark, sf_dir)
    return spark.sql(_dup_span_sql(_SPARK_SHINGLE_POS))


# --- duplicate-span SCRUB ---------------------------------------------------
# dup_span_stats REPORTS the Lee et al. substring-duplication signal; this
# operator ACTS on it: every token position covered by a cross-document
# duplicated shingle occurrence is removed UNLESS that occurrence is the
# shingle's first corpus occurrence (min (doc_id, pos) lexicographically —
# the same keep-first-canonical rule dedup_keep_canonical uses at document
# grain), and each document is reassembled from its surviving tokens in
# position order (chunk_dedup's reassembly shape at token grain).

_SPARK_TOKEN_POS = """
    SELECT doc_id, i - 1 AS tpos, element_at(t, i) AS tok
    FROM (SELECT doc_id, t, explode(sequence(1, size(t))) AS i
          FROM (SELECT doc_id, split(text, ' ') AS t FROM documents))
"""

_DUCK_TOKEN_POS = """
    SELECT doc_id, i - 1 AS tpos, t[i] AS tok
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
"""


def _span_scrub_sql(
    shingle_pos: str, token_pos: str, mkstruct: str, explode_fn: str,
    seq_fn: str, size_expr: str,
) -> str:
    """Dialect-shared span-scrub plan. ``mkstruct`` is the dialect's
    two-field struct constructor with ``{a}``/``{b}`` slots (Spark
    ``struct(a, b)``, DuckDB ``{{'doc_id': a, 'pos': b}}``) — structs
    order lexicographically in BOTH engines, so MIN(struct) is the
    canonical first-corpus-occurrence without a window over the
    Zipf-skewed shingle key. ``size_expr`` is the dialect's
    token-count-of-text expression (per-doc sizes come from a scalar
    over ``documents``, never a second token explode).

    ONE aggregation pass over the exploded shingles computes both the
    cross-doc flag (COUNT(DISTINCT doc_id)) and the canonical occurrence
    (MIN(struct)); the occurrence table joins that stats table once.
    (The first cut staged dupsh → docc → canon: two aggregations and two
    joins over shingle-keyed data — 14 exchanges, and the shingle
    explode fed two separate consumers.)

    Scrubbed token positions derive from gaps-and-islands SPANS of
    consecutive scrubbed shingle positions (the dup_span_stats island
    rewrite), each island exploding once into its covered token range —
    NOT from a per-occurrence ×{SHINGLE_WIDTH} offset explode: on a
    duplicate-heavy corpus (the 10× probe's perturbed replicas, or any
    crawl with boilerplate) nearly every occurrence is scrubbed and the
    offset explode emitted ~{SHINGLE_WIDTH}× the corpus before its
    DISTINCT (measured 17× growth at the 10× probe). Islands are
    disjoint, so no DISTINCT is needed — the anti-join tolerates the
    ≤{SHINGLE_WIDTH - 1}-token overlap between nearby islands.

    Determinism: the canonical occurrence is an aggregate MIN, token
    positions are exact integers, and reassembly orders by position —
    no floats, no partition-order dependence anywhere.
    """
    w = SHINGLE_WIDTH
    return f"""
    WITH sh AS ({shingle_pos}),
    stats AS (
        SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs,
               MIN({mkstruct.format(a="doc_id", b="pos")}) AS first_occ
        FROM sh GROUP BY shingle
    ),
    scrubocc AS (
        SELECT s.doc_id, s.pos
        FROM sh s JOIN stats t ON s.shingle = t.shingle
        WHERE t.n_docs >= 2
          AND {mkstruct.format(a="s.doc_id", b="s.pos")} <> t.first_occ
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM scrubocc
    ),
    spans AS (
        SELECT doc_id, MIN(pos) AS p0, MAX(pos) + {w - 1} AS p1
        FROM isl GROUP BY doc_id, grp
    ),
    scrubpos AS (
        SELECT doc_id, {explode_fn}({seq_fn}(p0, p1)) AS tpos FROM spans
    ),
    toks AS ({token_pos}),
    kept AS (
        SELECT t.doc_id, t.tpos, t.tok
        FROM toks t LEFT JOIN scrubpos s
          ON t.doc_id = s.doc_id AND t.tpos = s.tpos
        WHERE s.doc_id IS NULL
    ),
    rebuilt AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, {size_expr} AS n_tokens FROM documents)
    SELECT z.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(z.n_tokens AS BIGINT) AS n_tokens,
           CAST(z.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT)
               AS n_removed_tokens
    FROM sizes z LEFT JOIN rebuilt r ON z.doc_id = r.doc_id
    """


@query(
    "dup_span_scrub",
    oracle=_span_scrub_sql(
        _DUCK_SHINGLE_POS, _DUCK_TOKEN_POS,
        "{{'doc_id': {a}, 'pos': {b}}}", "unnest", "generate_series",
        "len(string_split(text, ' '))",
    ),
)
def dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplication SCRUB (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    covered by a cross-document duplicated {SHINGLE_WIDTH}-gram
    occurrence — keeping the shingle's FIRST corpus occurrence, so
    exactly one copy of each duplicated span survives corpus-wide — and
    reassemble each document from its surviving tokens. Emits per doc
    the rebuilt text, total tokens, and removed-token count; a fully
    duplicated later copy collapses to ''. This is the ACTION for
    ``dup_span_stats``' report: span-grain removal instead of whole-doc
    dropping, the right call for a doc that is 90% novel but embeds one
    verbatim block.

    Scale: ONE aggregation pass over the exploded shingles yields both
    the cross-doc flag and the canonical occurrence (COUNT DISTINCT +
    MIN(struct(doc_id, pos)) — map-side combinable and skew-safe, never
    a window over the Zipf-skewed shingle key), and one join back marks
    scrubbed occurrences; scrubbed occurrences collapse to
    gaps-and-islands SPANS (per-doc window, bounded by doc length)
    before any token-grain explode, so scrub-position volume is bounded
    by covered tokens even when nearly the whole corpus is duplicated —
    the per-occurrence ×{SHINGLE_WIDTH} offset explode this replaces
    measured 17× growth at the duplicate-heavy 10× probe; per-doc sizes
    come from a scalar size(split()) over the raw table, not a second
    token explode; the token anti-join and the reassembly both key on
    (doc_id, ...) — uniform by construction, bounded by doc length.
    Every stage moves the corpus a constant number of times; nothing is
    pairwise.
    """
    _docs_view(spark, sf_dir)
    spark_sql = _span_scrub_sql(
        _SPARK_SHINGLE_POS, _SPARK_TOKEN_POS,
        "struct({a}, {b})", "explode", "sequence",
        "size(split(text, ' '))",
    ).replace(
        "string_agg(tok, ' ' ORDER BY tpos)",
        "array_join(transform(array_sort(collect_list(struct(tpos, tok))),"
        " x -> x.tok), ' ')",
    )
    return spark.sql(spark_sql)


# --- asymmetric containment --------------------------------------------------
# Jaccard is symmetric resemblance; CONTAINMENT C(A→B) = |S(A)∩S(B)|/|S(A)|
# (Broder 1997, "On the resemblance and containment of documents") is the
# asymmetric signal that catches a small doc embedded in a big one —
# quoted articles, boilerplate-wrapped pages — where Jaccard stays low
# because the union is dominated by the big doc.
CONTAINMENT_THRESHOLD = 0.5


def _containment_sql(shingles_cte: str, df_capped: bool) -> str:
    prelude = (
        f"""
    WITH all_shingles AS ({shingles_cte}),
    df AS (SELECT shingle, COUNT(*) AS df FROM all_shingles GROUP BY 1),
    shingles AS (
        SELECT s.doc_id, s.shingle
        FROM all_shingles s JOIN df ON s.shingle = df.shingle
        WHERE df.df <= {DF_CAP}
    ),"""
        if df_capped
        else f"""
    WITH shingles AS ({shingles_cte}),"""
    )
    return f"""{prelude}
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / sa.n, 6) AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    WHERE CAST(n_shared AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
    """


@query(
    "ngram_containment_pairs",
    oracle=_containment_sql(_DUCK_SHINGLES, df_capped=False),
    scale_path="ngram_containment_capped",
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-dup pairs by shingle containment ≥ {threshold}:
    ``doc_a`` is the CONTAINED document (its shingle set is mostly inside
    ``doc_b``'s). The asymmetric complement of ``ngram_jaccard_pairs`` —
    a 100-token quote inside a 10k-token page scores containment ≈ 1
    while Jaccard ≈ 0.01.

    Scale: same candidate structure as the Jaccard family (only pairs
    sharing a shingle meet the join — never all-pairs), and the same
    Σ df² fan-out hazard; the DF-capped twin is the registered scale
    path. Exact here as the labeled ground-truth baseline.
    """
    _docs_view(spark, sf_dir)
    return spark.sql(_containment_sql(_SPARK_SHINGLES, df_capped=False))


@query(
    "ngram_containment_capped",
    oracle=_containment_sql(_DUCK_SHINGLES, df_capped=True),
)
def ngram_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment's scale path: drop shingles with document frequency
    above {DF_CAP} before the candidate self-join (identical rationale
    and cap as ``ngram_jaccard_pairs_capped`` — boilerplate shingles are
    precisely the quadratic fan-out and carry no discrimination), then
    the same directed containment score over the surviving shingles.

    Plan shape: the capped shingle table is eagerly checkpointed once
    and read by sizes + both self-join sides (the inlined-CTE form
    measured 11 exchanges — Spark re-derived the corpus explode per
    reference; this form audits at 2 — below even the Jaccard twin's 3, and the sharing
    is guaranteed rather than ReusedExchange-dependent)."""
    _docs_view(spark, sf_dir)
    raw = spark.sql(_SPARK_SHINGLES)
    dfreq = raw.groupBy("shingle").agg(F.count("*").alias("df"))
    (
        raw.join(dfreq.filter(F.col("df") <= DF_CAP), "shingle")
        .select("doc_id", "shingle")
        .localCheckpoint(eager=True)  # read by sizes and both join sides
    ).createOrReplaceTempView("containment_capped_shingles")
    return spark.sql(
        f"""
        WITH sizes AS (
            SELECT doc_id, COUNT(*) AS n
            FROM containment_capped_shingles GROUP BY 1
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
            FROM containment_capped_shingles a
            JOIN containment_capped_shingles b
              ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(CAST(n_shared AS DOUBLE) / sa.n, 6) AS containment
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        WHERE CAST(n_shared AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
        """
    )


# --- near-dup keep-canonical -------------------------------------------------
# The near-dup twin of `dedup_keep_canonical`: exact dedup keeps the min
# doc_id per identical-content group (every copy is the same, so any
# representative works); near-dup copies DIFFER, so the keeper should be
# the most informative one. Rule: within each `near_dup_clusters`
# component keep the LONGEST text (ties by min doc_id); docs in no
# near-dup cluster are kept unconditionally. This closes the near-dup
# family's decide->act gap — `minhash_lsh_pairs` finds, `near_dup_clusters`
# groups, this emits the surviving corpus.


@query(
    "near_dup_keep_canonical",
    oracle=f"""
    WITH clusters AS ({_CLUSTERS_ORACLE}),
    ranked AS (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY length(d.text) DESC, c.doc_id)
                   AS rn
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d
    LEFT JOIN (SELECT doc_id FROM ranked WHERE rn > 1) x
      ON d.doc_id = x.doc_id
    WHERE x.doc_id IS NULL
    """,
)
def near_dup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup dedup *application*: the corpus with one canonical
    copy kept per MinHash-LSH near-dup cluster — the longest member
    (most informative copy; ties by min doc_id) — and every
    cluster-free doc kept as-is. Same emission shape as
    `dedup_keep_canonical`, so the two canonicalizers compose in one
    pipeline (exact pass first, near pass on the survivors).

    Scale: the cluster assignment is `near_dup_clusters`
    (large-star/small-star components over banded-LSH pairs — output is
    pair-graph-sized, far smaller than the corpus); the keep rank is a
    window over cluster members only (components are near-dup groups,
    bounded small); the final filter is a broadcast-able anti-join on
    doc_id against the drop set. No pairwise work beyond what the LSH
    band join already did.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = near_dup_clusters(spark, sf_dir).join(
        docs.select("doc_id", F.length("text").alias("len")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("len"), "doc_id")
    drop = (
        ranked.withColumn("rn", F.row_number().over(w))
        .where("rn > 1")
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "source", F.length("text").cast("bigint").alias("n_chars")
    )
