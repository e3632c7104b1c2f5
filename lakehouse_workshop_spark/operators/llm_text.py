"""Text-analysis operators for LLM data pipelines (north-star extensions).

Language-ID, quality scoring, token counting, and document fingerprinting over
the ``documents`` table — all pure built-in-function plans (split / transform /
filter / aggregate on arrays), JVM-side and codegen-friendly; no Python UDFs.

Cross-engine determinism: every hash is md5 (identical in Spark and DuckDB);
hex→int goes through ``conv(hex,16,10)`` on Spark and ``('0x'||hex)::BIGINT``
on DuckDB — verified bit-identical.

Scale posture: each query is scan → per-row array expressions → (optional)
aggregate. Shuffle-free except final aggregates; at 100 TB these run at
scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table

# ORACLES import contract: the operators package defines
# the QUERIES/ORACLES dicts BEFORE it imports any operator module, so a
# top-of-module import of the partially-initialized package is safe —
# but entries only exist once their registering module has run.
# `token_budget_plan` indexes a parent registered earlier in this file
# (`tokenizer_fertility`); a violated order fails loudly at import with
# a KeyError naming the missing parent. (The mixture-wired variant
# lives in llm_mixture.py because THAT parent registers after this
# module — same contract, enforced by the package import order.)
from lakehouse_workshop_spark.operators import ORACLES as _ORACLES
from lakehouse_workshop_spark.operators import query

STOPWORDS = ("the", "a", "of", "to", "and", "in")

_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_obs,
           CAST((length(text) - (len(toks) - 1)) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(len(list_filter(toks, t -> t IN ({_STOP_IN}))) AS BIGINT) AS n_stopwords,
           CAST(len(list_filter(toks, t -> t IN ({_STOP_IN}))) AS DOUBLE) / len(toks)
               AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals per document: token count, average token
    length, stopword ratio, type-token ratio (vocabulary diversity)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id"), F.col("text"), F.split("text", " ").alias("toks")).selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(length(text) AS BIGINT) AS n_chars_obs",
        "CAST(length(text) - (size(toks) - 1) AS DOUBLE) / size(toks) AS avg_token_len",
        f"CAST(size(filter(toks, t -> t IN ({_STOP_IN}))) AS BIGINT) AS n_stopwords",
        f"CAST(size(filter(toks, t -> t IN ({_STOP_IN}))) AS DOUBLE) / size(toks) AS stopword_ratio",
        "CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks) AS ttr",
    )


@query(
    "doc_quality",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN n_tokens >= 30 AND stopword_ratio >= 0.05 AND ttr >= 0.3
                THEN 'keep'
                WHEN n_tokens >= 15 THEN 'review'
                ELSE 'drop' END AS quality_label
    FROM (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(len(list_filter(toks, t -> t IN ({_STOP_IN}))) AS DOUBLE) / len(toks)
                   AS stopword_ratio,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based keep/review/drop labeling — the filter stage of a training
    data pipeline (length + stopword + diversity gates)."""
    stats = text_stats(spark, sf_dir)
    label = (
        F.when(
            (F.col("n_tokens") >= 30) & (F.col("stopword_ratio") >= 0.05) & (F.col("ttr") >= 0.3),
            "keep",
        )
        .when(F.col("n_tokens") >= 15, "review")
        .otherwise("drop")
    )
    return stats.select("doc_id", label.alias("quality_label"))


# --- per-source adaptive quality gate ---------------------------------------
# A global quality threshold over-prunes the weakest source and
# under-prunes the strongest (quality distributions differ per crawl);
# production curation gates PER SOURCE: keep each source's top share by
# score, so every source contributes its best slice and no single
# distribution sets the bar. The keep rule is rank-based integer
# arithmetic (rank·10 ≤ n·6 ⇔ top 60%) — no float threshold whose
# binary representation could straddle engines.
GATE_KEEP_NUM, GATE_KEEP_DEN = 6, 10  # keep top 60% per source


def _quality_gate_sql(len_fn: str, filt_fn: str, dist_fn: str) -> str:
    return f"""
    WITH s AS (
        SELECT doc_id, source,
               ROUND(CAST({len_fn}(({filt_fn}(toks, t -> t IN ({_STOP_IN}))))
                         AS DOUBLE) / {len_fn}(toks)
                     + CAST({len_fn}({dist_fn}(toks)) AS DOUBLE)
                       / {len_fn}(toks), 6) AS q_score
        FROM (SELECT doc_id, source, {{split}} AS toks FROM documents)
    ),
    r AS (
        SELECT doc_id, source, q_score,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY q_score DESC, doc_id) AS src_rank,
               COUNT(*) OVER (PARTITION BY source) AS n_source
        FROM s
    )
    SELECT doc_id, source, q_score, CAST(src_rank AS INT) AS src_rank,
           CAST(src_rank * {GATE_KEEP_DEN} <= n_source * {GATE_KEEP_NUM}
                AS INT) AS kept
    FROM r
    """


@query(
    "source_quality_gate",
    oracle=_quality_gate_sql("len", "list_filter", "list_distinct").format(
        split="string_split(text, ' ')"
    ),
)
def source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source adaptive quality gate: score every doc (stopword ratio
    + type-token ratio, the `text_stats` signals), rank WITHIN its
    source, and keep each source's top 60% — the curation rule that
    makes every source contribute its best slice instead of letting one
    source's distribution set a global bar.

    Determinism: both ratio components divide exact integers the two
    engines derive identically, the composite rounds to 6 dp before
    ranking, ranks tie-break on doc_id, and the keep predicate is pure
    integer arithmetic (rank·10 ≤ n·6) — no float share computation.

    Scale: one narrow scan computes the score; the window partitions by
    source (bounded cardinality, uniform sizes — each partition sorts
    its own source independently). At 100 TB with few huge sources the
    same rule runs as the two-pass range-partitioned rank
    (`global_cumsum`'s construction) per source instead of a single
    window partition.
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    return spark.sql(
        _quality_gate_sql("size", "filter", "array_distinct").format(
            split="split(text, ' ')"
        )
    )


# Marker-word profiles for the n-gram/stopword language heuristic. On this
# synthetic corpus (shared vocabulary) most docs score 'en' — the operator's
# value is the deterministic argmax plumbing, checked exactly by the oracle.
_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "es": ("el", "la", "los"),
    "fr": ("le", "la", "les"),
}


def _marker_count_sql(markers: tuple[str, ...], list_fn: str, len_fn: str = "len") -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"{len_fn}({list_fn}(toks, t -> t IN ({inlist})))"


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id,
           CASE GREATEST(en_score, de_score, es_score, fr_score)
                WHEN en_score THEN 'en'
                WHEN de_score THEN 'de'
                WHEN es_score THEN 'es'
                ELSE 'fr' END AS pred_lang,
           en_score, de_score, es_score, fr_score
    FROM (
        SELECT doc_id,
               CAST({_marker_count_sql(_LANG_MARKERS['en'], 'list_filter')} AS BIGINT) AS en_score,
               CAST({_marker_count_sql(_LANG_MARKERS['de'], 'list_filter')} AS BIGINT) AS de_score,
               CAST({_marker_count_sql(_LANG_MARKERS['es'], 'list_filter')} AS BIGINT) AS es_score,
               CAST({_marker_count_sql(_LANG_MARKERS['fr'], 'list_filter')} AS BIGINT) AS fr_score
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic argmax (first-wins tie
    order en > de > es > fr, identical in the CASE on both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    scored = toks.selectExpr(
        "doc_id",
        *[
            f"CAST({_marker_count_sql(m, 'filter', 'size')} AS BIGINT) AS {lang}_score"
            for lang, m in _LANG_MARKERS.items()
        ],
    )
    best = F.greatest("en_score", "de_score", "es_score", "fr_score")
    pred = (
        F.when(F.col("en_score") == best, "en")
        .when(F.col("de_score") == best, "de")
        .when(F.col("es_score") == best, "es")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id", pred.alias("pred_lang"), "en_score", "de_score", "es_score", "fr_score"
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_hash,
           (SELECT MIN(('0x' || substr(md5(s), 1, 15))::BIGINT)
            FROM unnest(list_transform(
                generate_series(1, len(string_split(text, ' ')) - 4),
                i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
            )) AS t(s)) AS min_shingle_hash
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: exact content hash + min-hashed 5-token shingle
    (a 1-permutation minhash — the rolling-hash fingerprint primitive)."""
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    # tokens split once (see llm_dedup._SPARK_SHINGLES note)
    # size(toks) < 5 guard: Spark's sequence(1, n) with n <= 0 emits a
    # DESCENDING ramp (1, 0, -1, ...) where DuckDB's generate_series is
    # empty — an unguarded short doc would hash garbage slices instead of
    # yielding NULL (the shared shingle CTEs in llm_dedup carry the same
    # guard).
    return docs.selectExpr("doc_id", "text", "split(text, ' ') AS toks").selectExpr(
        "doc_id",
        "md5(text) AS content_hash",
        """
        CASE WHEN size(toks) >= 5 THEN
            array_min(transform(
                transform(sequence(1, size(toks) - 4),
                          i -> array_join(slice(toks, i, 5), ' ')),
                s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
            ))
        END AS min_shingle_hash
        """,
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tokens GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               ROUND(tf.cnt * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, tok, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rnk
        FROM scored
    )
    SELECT doc_id, tok, tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Scale: term frequencies and document frequencies are both partial-
    aggregated groupBys; the DF side is vocabulary-sized, so its join back
    onto TF broadcasts. The corpus size folds into the plan as a 1-row
    broadcast cross join (column-pruned count over doc_id — NOT a
    separate driver-side ``.count()`` job, which would schedule an extra
    full corpus scan before the query even starts). Ranking runs on the
    6-dp-rounded score (ties broken by term) so the cutoff is
    deterministic across engines.
    """
    from pyspark.sql import Window

    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = tokens.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    # DF derives from TF (one row per doc×term) — COUNT(*) there equals
    # COUNT(DISTINCT doc_id) over raw tokens, without re-exploding the
    # corpus or shuffling raw tokens a second time.
    tf = tf.localCheckpoint(eager=True)
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .agg(F.count("*").cast("double").alias("_n_docs"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("cnt") * F.log(F.col("_n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf", "rnk")
    )


# The BPE-ish tokenizer regex (letter runs, digit runs, single symbols)
# shared by `token_counts` and `tokenizer_fertility` — the two operators
# price the same tokenization, so the pattern exists exactly once.
_TOK_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{_TOK_REGEX}')) AS BIGINT)
               AS n_tokens_regex,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex pieces, and the
    chars/4 budget estimate used for quick corpus sizing."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens_ws",
        f"CAST(size(regexp_extract_all(text, '{_TOK_REGEX}', 0)) AS BIGINT)"
        " AS n_tokens_regex",
        "CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est",
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '0', 'g'),
                               '[ \t\r\n]+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical LM-preprocessing normalization: lowercase, digit-squash
    (any run of digits → ``0``), whitespace collapse, trim.

    Scale: pure JVM string expressions inside whole-stage codegen — one
    narrow pass, no shuffle; the normalized column feeds the hash-based
    dedup family so near-dups differing only in numbers/case collapse.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0"),
            "[ \t\r\n]+",
            " ",
        )
    )
    return docs.select("doc_id", norm.alias("norm_text"))


# Fixed-size character chunking with overlap: CHUNK_CHARS window sliding by
# CHUNK_CHARS - CHUNK_OVERLAP. Character-based (not token) so the chunk
# boundaries are exact and engine-portable; a token-budget variant is the
# shard_assignments pattern.
CHUNK_CHARS = 200
CHUNK_OVERLAP = 50
_CHUNK_STEP = CHUNK_CHARS - CHUNK_OVERLAP


@query(
    "doc_chunks",
    oracle=f"""
    SELECT doc_id,
           CAST(s // {_CHUNK_STEP} AS INT) AS chunk_id,
           substr(text, s + 1, {CHUNK_CHARS}) AS chunk_text,
           CAST(length(substr(text, s + 1, {CHUNK_CHARS})) AS BIGINT)
               AS n_chunk_chars
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, greatest(length(text) - 1, 0),
                                      {_CHUNK_STEP})) AS s
        FROM documents
    )
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into {CHUNK_CHARS}-char chunks overlapping by
    {CHUNK_OVERLAP} — the context-window packing prep step.

    Scale: row-expanding narrow map (explode over a computed start-offset
    sequence) — no shuffle, chunk count proportional to corpus bytes;
    substring extraction stays inside whole-stage codegen.
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT doc_id,
               CAST(s div {_CHUNK_STEP} AS INT) AS chunk_id,
               substring(text, s + 1, {CHUNK_CHARS}) AS chunk_text,
               CAST(length(substring(text, s + 1, {CHUNK_CHARS})) AS BIGINT)
                   AS n_chunk_chars
        FROM (
            SELECT doc_id, text,
                   explode(sequence(0, GREATEST(length(text) - 1, 0),
                                    {_CHUNK_STEP})) AS s
            FROM documents
        )
        """
    )


@query(
    "repetition_ratio",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT) AS top_token_count,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT), 6)
               AS top_token_share
    FROM tf GROUP BY doc_id
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/spam signal: share of the document taken by its single
    most frequent token (1.0 → one token repeated; ~1/n_tokens → fully
    diverse). The quality-filter complement to ``ttr`` in ``text_stats``.

    Scale: explode → per-(doc, token) partial count → per-doc max/sum;
    both aggregates map-side combine, the only exchange is keyed by
    doc_id × token (uniform).
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.max("c").cast("long").alias("top_token_count"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_token_share"),
    )


# Deny-list scrubbing: the content-filter shape every training corpus
# runs (toxic/PII/secret term lists). Token-exact matching (not regex)
# so both engines transform the identical split — the list here stands
# in for a real blocklist.
BLOCKLIST = ("customer", "vector")
_BLOCK_SQL = "('" + "', '".join(BLOCKLIST) + "')"
BLOCK_MARK = "[BLOCKED]"


@query(
    "blocklist_scrub",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(toks, t -> t IN {_BLOCK_SQL})) AS BIGINT)
               AS n_blocked,
           array_to_string(
               list_transform(toks,
                   t -> CASE WHEN t IN {_BLOCK_SQL}
                             THEN '{BLOCK_MARK}' ELSE t END), ' ')
               AS text_scrubbed
    FROM s
    """,
)
def blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deny-list term scrubbing: replace blocklisted tokens with
    ``{BLOCK_MARK}`` and count hits per document — the redaction pass a
    corpus runs for secrets/PII/deny-listed terms before training. Exact
    token matching over the whitespace split, so the scrub is
    deterministic and dialect-identical (no regex-engine divergence).

    Scale: one narrow codegen pass (split → transform → array_join), no
    shuffle; the blocklist is a literal IN-list — a real 10⁴-term list
    would broadcast as a lookup join on exploded tokens instead.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"CAST(size(filter(split(text, ' '), t -> t IN {_BLOCK_SQL})) AS BIGINT)"
        " AS n_blocked",
        f"array_join(transform(split(text, ' '),"
        f" t -> CASE WHEN t IN {_BLOCK_SQL} THEN '{BLOCK_MARK}' ELSE t END), ' ')"
        " AS text_scrubbed",
    )


VOCAB_TOP = 100


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tf AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    )
    SELECT tok,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_count,
           ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / SUM(cnt) OVER (), 6) AS coverage
    FROM tf
    QUALIFY rank <= {VOCAB_TOP}
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the top-{VOCAB_TOP} tokens by corpus
    frequency with their cumulative share of all tokens — the tokenizer
    sizing / Zipf-diagnostic a pretraining pipeline runs before committing
    to a vocab. ``coverage`` at rank k answers "what fraction of the token
    stream do the k most frequent types cover".

    Scale: explode → map-side-combined (token) count
    shrinks the corpus to the type vocabulary; only the top-{VOCAB_TOP}
    rows survive, so the top-k runs FIRST as a sort+limit
    (TakeOrderedAndProject: per-partition partial top-{VOCAB_TOP}, merged
    on the driver — no global window ever sees the billions of distinct
    types a web corpus has), and the rank + running-sum window runs over
    exactly {VOCAB_TOP} rows after the limit (``hot_keys_events``
    pattern, not a two-pass range-partitioned global rank/cumsum over
    the full vocabulary). The grand total joins back as
    a broadcast scalar.
    """
    from pyspark.sql import Window

    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tf = tf.localCheckpoint(eager=True)  # shared by top-k and the total
    total = tf.agg(F.sum("cnt").cast("double").alias("_total"))
    top = tf.orderBy(F.desc("cnt"), "tok").limit(VOCAB_TOP)
    w = Window.orderBy(F.desc("cnt"), "tok")  # bounded: VOCAB_TOP rows
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn(
            "cum_count",
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.col("cnt").cast("long").alias("cnt"),
            "rank",
            F.col("cum_count").cast("long").alias("cum_count"),
            F.round(F.col("cum_count") / F.col("_total"), 6).alias("coverage"),
        )
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT doc_id,
               CASE GREATEST(en_score, de_score, es_score, fr_score)
                    WHEN en_score THEN 'en'
                    WHEN de_score THEN 'de'
                    WHEN es_score THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM (
            SELECT doc_id,
                   CAST({_marker_count_sql(_LANG_MARKERS['en'], 'list_filter')} AS BIGINT) AS en_score,
                   CAST({_marker_count_sql(_LANG_MARKERS['de'], 'list_filter')} AS BIGINT) AS de_score,
                   CAST({_marker_count_sql(_LANG_MARKERS['es'], 'list_filter')} AS BIGINT) AS es_score,
                   CAST({_marker_count_sql(_LANG_MARKERS['fr'], 'list_filter')} AS BIGINT) AS fr_score
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        )
    )
    SELECT d.lang AS true_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language classifier against the
    corpus's labeled ``lang`` column — the evaluation harness a pipeline
    runs before trusting a heuristic gate (``corpus_quality_funnel``'s
    language stage) on unlabeled data.

    Scale: the prediction is the same narrow pass as ``lang_id``; the
    matrix is a groupBy over at most |langs|² keys, map-side-combined to
    a constant-size result.
    """
    preds = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    return (
        docs.join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


BPE_TOP = 20


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH pairs AS (
        SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
                                     i -> substr(tok, i, 2))) AS pair
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE length(tok) >= 2
    ),
    pc AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
    FROM pc
    QUALIFY rank <= {BPE_TOP}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BPE_TOP} most frequent adjacent character pairs across the
    corpus, occurrence-weighted — the first merge round of BPE tokenizer
    training (each round merges the top pair and recounts; this op is
    the distributed primitive that round iterates).

    Scale: token explode → in-token pair explode is narrow row expansion
    (length-bounded); the pair count map-side-combines to the tiny pair
    alphabet; only the top-{BPE_TOP} survive, so the rank runs AFTER a
    sort+limit (TakeOrderedAndProject) over per-partition partial top-ks
    — the ``hot_keys_events`` pattern, no global window over the full
    pair set.
    """
    from pyspark.sql import Window

    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    docs = spark.table("documents")
    pairs = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 2)
        .select(
            F.explode(F.expr("sequence(1, length(tok) - 1)")).alias("i"), "tok"
        )
        .select(F.expr("substring(tok, i, 2)").alias("pair"))
    )
    pc = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    top = pc.orderBy(F.desc("cnt"), "pair").limit(BPE_TOP)
    w = Window.orderBy(F.desc("cnt"), "pair")  # bounded: BPE_TOP rows
    return top.select(
        "pair",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# --- tokenizer fertility -----------------------------------------------------
# Fertility = subword pieces per whitespace word (the tokenizer-efficiency
# metric of Acs 2019 / Rust et al. 2021, "How Good is Your Tokenizer?"):
# a language or source whose fertility runs high pays proportionally more
# of the training budget per word, so the per-(source, lang) rollup is a
# direct input to mixture weighting and token-budget planning — the same
# decision `token_counts` feeds at document grain.

@query(
    "tokenizer_fertility",
    oracle=f"""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '{_TOK_REGEX}'))) AS BIGINT)
               AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           ROUND(SUM(len(regexp_extract_all(text, '{_TOK_REGEX}')))
                 / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 6)
               AS fertility,
           ROUND(SUM(length(text))
                 / CAST(SUM(len(regexp_extract_all(text, '{_TOK_REGEX}')))
                        AS DOUBLE), 6) AS chars_per_token
    FROM documents
    GROUP BY source, lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility rollup per (source, lang): document count,
    whitespace-word / BPE-ish-regex-token / character totals, fertility
    (regex tokens per word), and chars-per-token. The tokenizer here is
    the `token_counts` BPE-ish regex (letter runs, digit runs, single
    symbols), so the two operators price the same tokenization.

    Scale: scan → per-row array-length expressions (JVM codegen, no
    Python) → one partial+final hash aggregate on a low-cardinality key;
    the ratios divide exact integer sums once at the end and round at
    6 dp, so Spark and DuckDB agree bit-exactly. At 100 TB this runs at
    scan speed with a ~|sources|x|langs|-row result.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " "))
    toks = F.size(F.expr(f"regexp_extract_all(text, '{_TOK_REGEX}', 0)"))
    chars = F.length("text")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(words).cast("bigint").alias("n_words"),
            F.sum(toks).cast("bigint").alias("n_tokens"),
            F.sum(chars).cast("bigint").alias("n_chars"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens") / F.col("n_words").cast("double"), 6).alias(
                "fertility"
            ),
            F.round(
                F.col("n_chars") / F.col("n_tokens").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


# --- token budget plan -------------------------------------------------------
# The consumer `tokenizer_fertility` existed for: turn the per-source
# token pricing into the sampling DECISION a mixture executor runs.
# Target = uniform-over-sources (the `domain_mixture_weights`
# convention): each source owes TOKEN_BUDGET / n_sources tokens of the
# training budget; epochs_needed = that share over the source's own
# token supply says HOW to sample it — subsample (< 1 pass), repeat
# (> 1 pass), or cap at MAX_DATA_EPOCHS passes with an explicit deficit
# (repetition beyond ~4 epochs stops buying loss — Muennighoff et al.
# 2023, "Scaling Data-Constrained Language Models" — so the plan says
# what the budget CANNOT buy instead of silently over-repeating).
TOKEN_BUDGET = 30_000  # stand-in experiment budget, in _TOK_REGEX tokens
MAX_DATA_EPOCHS = 4


def _budget_plan_sql(fert_rel: str, target_rel: str | None = None) -> str:
    """Dialect-shared budget planner over a `tokenizer_fertility`-shaped
    relation (source, lang, n_docs, n_tokens, ...). Exact integer sums
    roll the fertility grain up to source; every emitted ratio divides
    exact operands once and rounds at 6 dp, and the action CASE reads
    the already-rounded epochs so the branch is bit-identical
    cross-engine.

    ``target_rel`` supplies the target mixture as (source, target_share)
    — any non-negative vector; the planner normalizes it with an exact
    DECIMAL window sum (order-independent, so cross-engine-stable even
    though float addition isn't). None = the uniform default (every
    source owes an equal share — a constant-1 vector). ``deficit_tokens``
    is computed EXACTLY from the unrounded budget share minus
    MAX_DATA_EPOCHS·n_tokens — one division, one final round — instead
    of multiplying the 6-dp-rounded epochs back by n_tokens, which
    amplified the rounding error by up to ~5e-7·n_tokens (~500k tokens
    on a 1e12-token source). The deficit gates on the
    same rounded ``epochs_needed`` the emitted ``action`` reads, so the
    two columns can never disagree about whether the cap binds."""
    tgt = target_rel or "SELECT source, 1 AS target_share FROM per_src"
    return f"""
    WITH f AS ({fert_rel}),
    per_src AS (
        SELECT source,
               SUM(n_docs) AS n_docs,
               SUM(n_tokens) AS n_tokens
        FROM f GROUP BY source
    ),
    tgt AS ({tgt}),
    ts AS (
        SELECT source,
               CAST(target_share AS DECIMAL(18, 6)) AS tshare,
               SUM(CAST(target_share AS DECIMAL(18, 6))) OVER ()
                   AS tshare_total
        FROM tgt
    ),
    t AS (
        SELECT p.*,
               s.tshare,
               s.tshare_total,
               SUM(n_tokens) OVER () AS nt_total
        FROM per_src p JOIN ts s ON p.source = s.source
    ),
    e AS (
        SELECT t.*,
               {TOKEN_BUDGET} * (CAST(tshare AS DOUBLE)
                                 / CAST(tshare_total AS DOUBLE))
                   AS budget_exact
        FROM t
    ),
    e2 AS (
        SELECT e.*,
               ROUND(budget_exact, 6) AS budget_tokens,
               ROUND(budget_exact / n_tokens, 6) AS epochs_needed
        FROM e
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(n_tokens / CAST(nt_total AS DOUBLE), 6) AS token_share,
           ROUND(CAST(tshare AS DOUBLE) / CAST(tshare_total AS DOUBLE), 6)
               AS target_share,
           budget_tokens,
           epochs_needed,
           LEAST(epochs_needed, CAST({MAX_DATA_EPOCHS} AS DOUBLE))
               AS epochs_used,
           CASE WHEN epochs_needed > {MAX_DATA_EPOCHS} THEN 'cap_repeat'
                WHEN epochs_needed > 1 THEN 'repeat'
                ELSE 'sample' END AS action,
           CASE WHEN epochs_needed > {MAX_DATA_EPOCHS}
                THEN ROUND(GREATEST(
                         budget_exact - {MAX_DATA_EPOCHS} * n_tokens,
                         CAST(0 AS DOUBLE)), 6)
                ELSE CAST(0 AS DOUBLE) END
               AS deficit_tokens
    FROM e2
    """


from lakehouse_workshop_spark.operators import ORACLES as _ORACLES


@query(
    "token_budget_plan",
    oracle=_budget_plan_sql(_ORACLES["tokenizer_fertility"]),
)
def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume `tokenizer_fertility`'s rollup into the per-source
    sampling DECISION for a uniform-target token budget: each source's
    exact doc/token supply, its normalized ``target_share`` (the
    uniform default — `token_budget_plan_mixture` in llm_mixture.py is
    the same planner wired to `domain_mixture_weights`' target vector),
    its ``budget_tokens`` (TOKEN_BUDGET · target_share),
    ``epochs_needed`` (budget share over own supply), ``epochs_used``
    (capped at MAX_DATA_EPOCHS), the ``action`` — ``sample``
    (subsample, < 1 epoch), ``repeat`` (1-MAX_DATA_EPOCHS epochs),
    ``cap_repeat`` (the budget share is unbuyable from this source) —
    and ``deficit_tokens``, the share the cap leaves unfilled (the
    mixture re-weighter's input for redistributing it), computed
    exactly from the unrounded budget share (see `_budget_plan_sql`).

    Determinism: the fertility grain rolls up as exact BIGINT sums; the
    target vector normalizes through an exact DECIMAL window sum; every
    ratio divides exact operands once (IEEE-identical doubles
    cross-engine) and rounds at 6 dp BEFORE the action branch reads it.

    Scale: the fertility rollup is |sources|x|langs| rows, so this
    whole layer — one re-aggregation, two unpartitioned window sums, a
    CASE — is driver-trivial at any corpus size; the one real pass is
    the parent's scan-speed rollup.
    """
    tokenizer_fertility(spark, sf_dir).createOrReplaceTempView("tb_fert")
    return spark.sql(_budget_plan_sql("SELECT * FROM tb_fert"))
