"""Training-data pipeline operators (engine extension, COVERAGE.md §LLM).

The ops a 100 TB corpus pipeline runs between dedup and training:
deterministic dataset splitting, hash-stratified sampling, and
token-budget sharding. All assignments are content/key-hash based — no
RNG — so they are reproducible across engines (md5 is the portable hash:
Spark's ``hash()``/``rand()`` have no DuckDB equivalent), across reruns,
and across cluster sizes: every op is a narrow map or a
stratum-partitioned window, no global shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.operators import query

# train/val/test fractions in percent (cumulative cutoffs).
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90  # 80–90 → val, 90+ → test
SAMPLE_PCT = 20
SHARD_TOKEN_BUDGET = 2000


def _md5_pct(key_sql: str) -> str:
    """Spark SQL: deterministic 0–99 bucket from the md5 of a key."""
    return f"CAST(conv(substring(md5(CAST({key_sql} AS STRING)), 1, 4), 16, 10) AS INT) % 100"


def _duck_md5_pct(key_sql: str) -> str:
    """DuckDB: the same 0–99 bucket (identical md5 → identical assignment)."""
    return f"CAST(('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 4))::BIGINT AS INT) % 100"


@query(
    "train_val_test_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_duck_md5_pct('doc_id')} < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {_duck_md5_pct('doc_id')} < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by md5(doc_id).

    Hash-assignment (not ``rand()``) means the split is stable under
    re-partitioning, retries, incremental appends, and engine changes —
    the properties a training corpus split must have. Narrow map; the
    predicate pushes into the scan when a consumer filters one split.
    """
    docs = load_table(spark, sf_dir, "documents")
    pct = F.expr(_md5_pct("doc_id"))
    return docs.select(
        "doc_id",
        F.when(pct < SPLIT_TRAIN_PCT, "train")
        .when(pct < SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_duck_md5_pct('doc_id')} < {SAMPLE_PCT}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% per-document sample.

    The md5 bucket is uniform within every stratum, so the sample is
    stratified over ``lang`` (and any other column) without a shuffle —
    unlike ``df.sampleBy``, repeat runs and different partitionings return
    the identical sample.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.expr(_md5_pct("doc_id")) < SAMPLE_PCT).select("doc_id", "lang")


@query(
    "shard_assignments",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                // {SHARD_TOKEN_BUDGET} AS INT) AS shard_id
    FROM toks
    """,
)
def shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into ~token-budget shards, per language stratum.

    Contiguous sharding by running token count: shard = floor(cumulative
    tokens before this doc / budget) within (lang, doc_id order). The
    window is PARTITIONed by ``lang`` so no stage is global; at 100 TB the
    stratum key would widen (e.g. lang × source-bucket) to bound partition
    size. Deterministic — the same corpus always shards identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = toks.withColumn(
        "_cum_before",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"),
    )
    # integer `div` matches the oracle's `//` — float division of large
    # running sums would lose exactness
    return staged.withColumn(
        "shard_id", F.expr(f"CAST(_cum_before div {SHARD_TOKEN_BUDGET} AS INT)")
    ).drop("_cum_before")


CLEAN_LANGS = ("en", "de")
CLEAN_MIN_CHARS = 100
CLEAN_MAX_CHARS = 100_000


@query(
    "corpus_clean",
    oracle=f"""
    WITH canon AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN canon ON canon.doc_id = d.doc_id
    WHERE d.lang IN {CLEAN_LANGS}
      AND d.n_chars BETWEEN {CLEAN_MIN_CHARS} AND {CLEAN_MAX_CHARS}
    """,
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pass a training pipeline actually runs:
    language allow-list + length gate + exact dedup (keep lowest doc_id per
    content hash), in one plan.

    Scale: the filters are scan-pushable and run BEFORE the dedup shuffle
    (Catalyst pushes them through the semi-join), so the single exchange
    carries only surviving rows; dedup is one hash-partitioned
    min-aggregate + left-semi join, the ``dedup_keep_canonical`` shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("lang").isin(*CLEAN_LANGS)
        & F.col("n_chars").between(CLEAN_MIN_CHARS, CLEAN_MAX_CHARS)
    )
    canon = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    return gated.join(canon, "doc_id", "left_semi").select("doc_id", "lang", "n_chars")


NEW_BATCH_PRED = "doc_id % 10 = 9"  # synthetic "incoming batch" partition


@query(
    "dedup_incremental",
    oracle=f"""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE NOT ({NEW_BATCH_PRED})
    ),
    batch AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE {NEW_BATCH_PRED}
    ),
    batch_canon AS (
        SELECT MIN(doc_id) AS doc_id, h FROM batch GROUP BY h
    )
    SELECT b.doc_id FROM batch_canon b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: admit only incoming-batch docs whose
    content hash is new — dedup within the batch (keep lowest doc_id),
    then anti-join against the existing corpus's hash set.

    This is the shape production dedup actually runs (per-ingest, not
    full-corpus): the batch side is small, so its canonical set
    broadcasts; the corpus is reduced to a distinct-hash projection before
    the anti-join. At 100 TB the corpus hash set lives as its own compact
    table (one 32-byte hash per doc), bucketed by hash for a shuffle-free
    anti-join.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.expr(NEW_BATCH_PRED)
    corpus_hashes = docs.filter(~is_new).select(F.md5("text").alias("h")).distinct()
    batch_canon = (
        docs.filter(is_new)
        .select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch_canon.join(corpus_hashes, "h", "left_anti").select("doc_id")


PSEUDO_SALT = "corpus-v1"


@query(
    "pseudonymize_users",
    oracle=f"""
    SELECT event_id,
           sha256('{PSEUDO_SALT}' || CAST(user_id AS VARCHAR)) AS user_pseudo_id,
           event_type
    FROM events
    """,
)
def pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SHA-256 pseudonymization of the user key — the privacy
    transform a training pipeline applies before events leave the trusted
    zone. Deterministic (same user → same pseudo-id, joins still work),
    irreversible without the salt; rotate the salt to unlink corpora.
    Narrow codegen map, no shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.sha2(F.concat(F.lit(PSEUDO_SALT), F.col("user_id").cast("string")), 256).alias(
            "user_pseudo_id"
        ),
        "event_type",
    )


PACK_WINDOW_TOKENS = 512


@query(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {PACK_WINDOW_TOKENS} AS INT) AS start_window,
           CAST((cum - 1) // {PACK_WINDOW_TOKENS} AS INT) AS end_window,
           CAST((cum - 1) // {PACK_WINDOW_TOKENS}
                - (cum - n_tokens) // {PACK_WINDOW_TOKENS} + 1 AS INT) AS n_windows
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate the corpus token
    stream in doc_id order and cut it into fixed {PACK_WINDOW_TOKENS}-token
    context windows — each doc maps to the window span
    [start_window, end_window] its tokens land in (the standard
    concat-then-chunk packing; docs straddle window boundaries by design,
    no padding waste).

    Scale: the only global object is the running token count, computed
    with the two-pass range-partitioned cumsum
    (``functions.exprs.global_cumsum`` — same construction as
    ``global_row_number``): no stage ever holds the corpus in one
    partition, unlike the textbook ``Window.orderBy`` cumsum. The oracle
    computes the identical sum with a plain window (DuckDB's single
    process has no partition-collapse hazard).
    """
    from lakehouse_workshop_spark.functions.exprs import global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    c = global_cumsum(toks, "n_tokens", "doc_id", name="cum")
    w = PACK_WINDOW_TOKENS
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST((cum - n_tokens) div {w} AS INT)").alias("start_window"),
        F.expr(f"CAST((cum - 1) div {w} AS INT)").alias("end_window"),
        F.expr(
            f"CAST((cum - 1) div {w} - (cum - n_tokens) div {w} + 1 AS INT)"
        ).alias("n_windows"),
    )


def _packing_efficiency_sql(idiv: str) -> str:
    """Dialect-shared rollup; ``idiv`` is the engine's integer-division
    operator ('div' for Spark, '//' for DuckDB). Every measure is
    integer-derived, the one ratio divides two exact integers."""
    w = PACK_WINDOW_TOKENS
    return f"""
    WITH t AS (
        SELECT source, {{toklen}} AS n FROM documents
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(SUM((n + {w - 1}) {idiv} {w}) AS BIGINT)
                   AS padded_windows
        FROM t GROUP BY source
    )
    SELECT source, n_docs, total_tokens, padded_windows,
           CAST((total_tokens + {w - 1}) {idiv} {w} AS BIGINT)
               AS packed_windows,
           ROUND((padded_windows * {w} - total_tokens)
                 / CAST(padded_windows * {w} AS DOUBLE), 6)
               AS padding_ratio
    FROM s
    ORDER BY source
    """


@query(
    "packing_efficiency",
    oracle=_packing_efficiency_sql("//").format(
        toklen="len(string_split(text, ' '))"
    ),
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting per source: the window count under
    doc-boundary-respecting packing (each doc padded up to its own
    ⌈n/{PACK_WINDOW_TOKENS}⌉ windows — the shape instruction tuning and
    eval batches use) vs concat-then-chunk (``sequence_packing``'s
    pretraining shape, zero padding by construction), and the padding
    ratio the boundary-respecting form wastes. The number that decides
    whether a mixture's short-doc sources need length-grouped batching
    before they burn {PACK_WINDOW_TOKENS}-token windows on padding.

    Determinism: every measure is integer arithmetic (integer-division
    ceilings, integer sums); the one ratio divides two exact integers
    and rounds to 6 dp — no float aggregation anywhere.

    Scale: one narrow scan partial-aggregates to |sources| rows;
    nothing else moves.
    """
    from lakehouse_workshop_spark.operators.llm_dedup import _docs_view

    _docs_view(spark, sf_dir)
    return spark.sql(
        _packing_efficiency_sql("div").format(toklen="size(split(text, ' '))")
    )


# --- PII redaction ---------------------------------------------------------
# The regex-scrub pass a corpus runs before training. The synthetic corpus
# carries no organic PII, so deterministic spans (1-3 emails + one phone,
# derived from doc_id) are woven in first — the redaction machinery
# (Java-regex regexp_replace / regexp_extract_all, both JVM codegen) then
# runs against genuine PII-shaped strings and the oracle re-derives the
# same spans to check every replacement and count.
PII_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

_PII_RAW_SPARK = (
    "text || repeat(' user' || CAST(doc_id AS STRING) || '@mail.example',"
    " CAST(1 + doc_id % 3 AS INT))"
    " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
)
_PII_RAW_DUCK = (
    "text || repeat(' user' || CAST(doc_id AS VARCHAR) || '@mail.example',"
    " CAST(1 + doc_id % 3 AS INT))"
    " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@query(
    "pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PII_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(
               regexp_replace(raw, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
               '{PII_PHONE_RE}', '[PHONE]', 'g') AS text_redacted
    FROM (SELECT doc_id, {_PII_RAW_DUCK} AS raw FROM documents)
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: find and mask email addresses and phone numbers,
    emitting per-doc hit counts alongside the scrubbed text — the
    regex-grade privacy pass (complement of the exact-token
    ``blocklist_scrub`` and the key-level ``pseudonymize_users``).

    Scale: one narrow codegen pass — two regexp_replace + two
    regexp_extract_all over each row, no shuffle, no Python. Patterns are
    deliberately RE2-compatible (character classes + bounded repeats, no
    backtracking constructs) so the same scrub runs on any engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", F.expr(_PII_RAW_SPARK).alias("raw"))
    return raw.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(PII_EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PII_PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ).alias("text_redacted"),
    )


# --- end-to-end training-set materialization --------------------------------
# The composition proof: corpus_clean -> exact dedup -> decontaminate ->
# BPE-encode -> sequence_packing as ONE declarative plan — no driver
# round-trip between stages. Each stage is the
# registered component family's exact shape; the only driver-side object
# is the FROZEN tokenizer below, broadcast into the encode pass the way a
# production pipeline ships its frozen tokenizer artifact.

# Frozen BPE merge table: trained once offline via
# ``llm.bpe.train_bpe(documents @ sf0.01, 12)`` and pinned here —
# production pipelines tokenize with a frozen tokenizer, they do not
# retrain per run. The table is "consistent" (every multi-char part is
# formed by an earlier merge), which makes greedy lowest-rank-first
# encoding equivalent to applying merges in rank order with leftmost
# non-overlapping replace-all — the property the SQL oracle's
# replace-chain relies on; tests/test_bpe.py pins it on the corpus
# vocabulary and 20k random words.
BPE_FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
]
# Per-rank replace-all repetitions in the SQL chain: a literal replace
# consumes the shared '|' delimiter, hiding an immediately-following
# match of the same rank ("|a|b|a|b|" resolves one pair per pass), so
# each rank repeats until its fixpoint. The bound is proven only for
# words of <= 2·REPS symbols (<= 2·REPS − 1 chars + </w>); the oracle's
# word stage asserts that invariant with a loud error() so a datagen or
# vocab change introducing a longer word fails the parity gate instead
# of silently desyncing the replace-chain from the greedy encoder
# (current fixtures max out at 8-char words).
BPE_CHAIN_REPS = 6
BPE_MAX_WORD_CHARS = 2 * BPE_CHAIN_REPS - 1


def _bpe_words_sql(kept_rel: str) -> str:
    """Oracle word stage: split surviving docs into words, drop empties,
    and assert the BPE_CHAIN_REPS length bound (see above)."""
    return f"""
        SELECT doc_id,
               CASE WHEN length(word) > {BPE_MAX_WORD_CHARS}
                    THEN error('BPE_CHAIN_REPS bound violated: word > '
                               || '{BPE_MAX_WORD_CHARS}' || ' chars')
                    ELSE word END AS word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM {kept_rel})
        WHERE word <> ''
    """


def _bpe_chain_sql(symbols_expr: str) -> str:
    """Nested literal-replace chain applying BPE_FROZEN_MERGES in rank
    order over a '|'-delimited symbol string ('|t|a|b|l|e|</w>|')."""
    s = symbols_expr
    for a, b in BPE_FROZEN_MERGES:
        for _ in range(BPE_CHAIN_REPS):
            s = f"replace({s}, '|{a}|{b}|', '|{a}{b}|')"
    return s


def _materialize_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _decontaminate_sql,
        _DUCK_DOC_PCT,
        _DUCK_SHINGLES,
    )

    w = PACK_WINDOW_TOKENS
    syms = r"'|' || regexp_replace(word, '(.)', '\1|', 'g') || '</w>|'"
    return f"""
    WITH canon AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    clean AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN canon ON canon.doc_id = d.doc_id
        WHERE d.lang IN {CLEAN_LANGS}
          AND d.n_chars BETWEEN {CLEAN_MIN_CHARS} AND {CLEAN_MAX_CHARS}
    ),
    flagged AS (
        SELECT doc_id FROM ({_decontaminate_sql(_DUCK_SHINGLES, _DUCK_DOC_PCT)}) f
    ),
    kept AS (
        SELECT c.doc_id, c.text FROM clean c
        WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = c.doc_id)
    ),
    words AS ({_bpe_words_sql("kept")}),
    enc AS (
        SELECT doc_id, {_bpe_chain_sql(syms)} AS s
        FROM words
    ),
    tok AS (
        SELECT doc_id,
               CAST(SUM(length(s) - length(replace(s, '|', '')) - 1)
                    AS BIGINT) AS n_tokens
        FROM enc GROUP BY doc_id
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM tok
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {w} AS INT) AS start_window,
           CAST((cum - 1) // {w} AS INT) AS end_window,
           CAST((cum - 1) // {w}
                - (cum - n_tokens) // {w} + 1 AS INT) AS n_windows
    FROM c
    """


@query("materialize_training_set", oracle=_materialize_oracle())
def materialize_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set materialization in ONE plan:
    ``corpus_clean``'s language/length gate + exact keep-first dedup →
    ``decontaminate``'s benchmark-overlap anti-join → BPE encoding with
    the frozen tokenizer (``llm.bpe.apply_bpe``, Arrow-batched) →
    ``sequence_packing``'s window assignment over the surviving token
    stream. The stages chain as DataFrames — Catalyst sees one logical
    plan, no driver materialization between families.

    The oracle recomputes the WHOLE pipeline exactly, including the BPE
    token counts: the frozen merge table is consistent, so greedy
    encoding equals a rank-ordered literal replace-chain over
    '|'-delimited symbols (see BPE_FROZEN_MERGES) — iterative BPE
    becomes SQL-expressible once the table is frozen.

    Scale: the gate filters push to the scan; dedup is one
    hash-partitioned min-aggregate + semi-join; the contamination side
    reduces the corpus to benchmark-overlap hits before a broadcast
    anti-join; the encode is one Arrow pass with the merge table in the
    closure (KBs); packing uses the two-pass range-partitioned global
    cumsum — no stage holds the corpus in one partition, and the
    fact is read once per arm (gate/dedup arms scan raw for pushdown;
    the shingle arm reads the spread view).
    """
    from lakehouse_workshop_spark.functions.exprs import global_cumsum
    from lakehouse_workshop_spark.llm.bpe import apply_bpe
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _decontaminate_sql,
        _docs_view,
        _SPARK_DOC_PCT,
        _SPARK_SHINGLES,
    )

    # The shingle arm reads the repartitioned view (_docs_view spreads the
    # single-row-group fixture so the explode parallelizes); the gate and
    # dedup arms read the RAW table so the lang/length filters push to the
    # parquet scan instead of stopping at the repartition exchange.
    _docs_view(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("lang").isin(*CLEAN_LANGS)
        & F.col("n_chars").between(CLEAN_MIN_CHARS, CLEAN_MAX_CHARS)
    )
    canon = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    clean = gated.join(canon, "doc_id", "left_semi").select("doc_id", "text")
    flagged = spark.sql(
        _decontaminate_sql(_SPARK_SHINGLES, _SPARK_DOC_PCT)
    ).select("doc_id")
    kept = clean.join(flagged, "doc_id", "left_anti")
    # n_tokens > 0: the oracle's word stage drops empty words, so a doc
    # whose words are ALL empty (all-whitespace text inside the n_chars
    # gate) vanishes there while apply_bpe emits an n_tokens=0 row —
    # token-less documents are dropped from the materialized set in both
    # dialects (no current fixture hits it).
    tok = (
        apply_bpe(kept, BPE_FROZEN_MERGES)
        .select("doc_id", "n_tokens")
        .filter(F.col("n_tokens") > 0)
    )
    c = global_cumsum(tok, "n_tokens", "doc_id", name="cum")
    w = PACK_WINDOW_TOKENS
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST((cum - n_tokens) div {w} AS INT)").alias("start_window"),
        F.expr(f"CAST((cum - 1) div {w} AS INT)").alias("end_window"),
        F.expr(
            f"CAST((cum - 1) div {w} - (cum - n_tokens) div {w} + 1 AS INT)"
        ).alias("n_windows"),
    )


# --- training-set materialization v2: + near-dedup + span scrub -----------
# A production pipeline runs
# MinHash-LSH near-dedup and substring-span scrubbing between cleaning and
# decontamination. v2 composes the FULL chain: gate + exact dedup →
# LSH near-dup drop (keep-lowest-id of each pair at est_jaccard >=
# V2_NEARDUP_EST) → duplicate-span scrub (Lee et al. span removal, first
# corpus occurrence kept) → benchmark decontamination of the SCRUBBED
# text → frozen-BPE encode → window packing. Two semantic upgrades over
# v1, documented rather than silent: the held-out benchmark slice
# (doc pct >= CONTAM_BENCH_PCT) is excluded from the training set itself
# (v1 only dropped flagged TRAIN docs and let bench docs through), and
# contamination is judged on the text that actually ships (post-scrub)
# against the ORIGINAL benchmark shingles.
V2_NEARDUP_EST = 0.5  # est_jaccard (k=16) drop threshold — standard ~0.5


def _on_rel(template: str, rel: str) -> str:
    """Re-point a dialect fragment's source relation: the shared shingle /
    token-position templates read FROM documents; composition stages read
    the identical shape from an intermediate relation."""
    return template.replace("FROM documents", f"FROM {rel}")


def _materialize_v2_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _DUCK_DOC_PCT,
        _DUCK_SHINGLE_INT,
        _DUCK_SHINGLE_POS,
        _DUCK_SHINGLES,
        _DUCK_TOKEN_POS,
        _lsh_pairs_sql,
        _minhash_sig_sql,
        _span_scrub_sql,
        CONTAM_BENCH_PCT,
        CONTAM_MIN_SHINGLES,
    )

    w = PACK_WINDOW_TOKENS
    syms = r"'|' || regexp_replace(word, '(.)', '\1|', 'g') || '</w>|'"
    pairs = _lsh_pairs_sql(
        _minhash_sig_sql(_DUCK_SHINGLE_INT, _on_rel(_DUCK_SHINGLES, "clean"))
    )
    scrub = _on_rel(
        _span_scrub_sql(
            _DUCK_SHINGLE_POS, _DUCK_TOKEN_POS,
            "{{'doc_id': {a}, 'pos': {b}}}", "unnest", "generate_series",
            "len(string_split(text, ' '))",
        ),
        "kept1",
    )
    return f"""
    WITH canon AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    clean AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN canon ON canon.doc_id = d.doc_id
        WHERE d.lang IN {CLEAN_LANGS}
          AND d.n_chars BETWEEN {CLEAN_MIN_CHARS} AND {CLEAN_MAX_CHARS}
          AND {_DUCK_DOC_PCT.replace('doc_id', 'd.doc_id')} < {CONTAM_BENCH_PCT}
    ),
    neardrop AS (
        SELECT DISTINCT doc_b AS doc_id FROM ({pairs}) p
        WHERE est_jaccard >= {V2_NEARDUP_EST}
    ),
    kept1 AS (
        SELECT c.doc_id, c.text FROM clean c
        WHERE NOT EXISTS (SELECT 1 FROM neardrop n WHERE n.doc_id = c.doc_id)
    ),
    scr AS (
        SELECT doc_id, clean_text AS text FROM ({scrub}) s
    ),
    bench AS (
        SELECT DISTINCT shingle FROM ({_DUCK_SHINGLES}) bs
        WHERE {_DUCK_DOC_PCT} >= {CONTAM_BENCH_PCT}
    ),
    flagged AS (
        SELECT t.doc_id
        FROM ({_on_rel(_DUCK_SHINGLES, "scr")}) t JOIN bench b
          ON t.shingle = b.shingle
        GROUP BY t.doc_id HAVING COUNT(*) >= {CONTAM_MIN_SHINGLES}
    ),
    kept2 AS (
        SELECT s.doc_id, s.text FROM scr s
        WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = s.doc_id)
    ),
    words AS ({_bpe_words_sql("kept2")}),
    enc AS (
        SELECT doc_id, {_bpe_chain_sql(syms)} AS s FROM words
    ),
    tok AS (
        SELECT doc_id,
               CAST(SUM(length(s) - length(replace(s, '|', '')) - 1)
                    AS BIGINT) AS n_tokens
        FROM enc GROUP BY doc_id
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM tok
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {w} AS INT) AS start_window,
           CAST((cum - 1) // {w} AS INT) AS end_window,
           CAST((cum - 1) // {w}
                - (cum - n_tokens) // {w} + 1 AS INT) AS n_windows
    FROM c
    """


# --- incremental training-set materialization -------------------------------
# The O(batch) ingest mirror of the composition, the same pattern as
# ivf_pq_incremental and dedup_incremental: an incoming batch
# (NEW_BATCH_PRED) is curated against the STANDING corpus state — its
# seen-hash set, its benchmark shingle set — and packed CONTINUING from
# the standing token stream (append semantics: new docs extend the
# stream in batch doc_id order; history is never re-sorted, so the
# batch may share its first window with the corpus tail). Like v2 and
# unlike v1, batch docs hashing into the held-out slice are routed to
# the benchmark, not the training stream.


def _mti_gate_ctes(gate: str) -> str:
    """The batch-gate CTE block (standing corpus, incoming batch,
    seen-hash anti-join, within-batch exact keep-first, gate) — shared
    by the full front and by the Spark dialect's bounded ``bgated``
    pre-materialization (evaluating ``bgated`` through the FULL front's
    unreferenced near-dedup CTEs trips a Spark Union constraint-rewrite
    defect at checkpoint time)."""
    return f"""corpus AS (SELECT doc_id, text, lang, n_chars FROM documents
                    WHERE NOT ({NEW_BATCH_PRED})),
    batch AS (SELECT doc_id, text, lang, n_chars FROM documents
              WHERE {NEW_BATCH_PRED}),
    seen AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    bnew AS (
        SELECT b.doc_id, b.text, b.lang, b.n_chars FROM batch b
        LEFT JOIN seen s ON md5(b.text) = s.h WHERE s.h IS NULL
    ),
    bcanon AS (SELECT MIN(doc_id) AS doc_id FROM bnew GROUP BY md5(text)),
    bgated AS (
        SELECT n.doc_id, n.text FROM bnew n JOIN bcanon USING (doc_id)
        WHERE {gate}
    )"""


def _mti_gate_expr(pct: str) -> str:
    from lakehouse_workshop_spark.operators.llm_dedup import CONTAM_BENCH_PCT

    return (
        f"lang IN {CLEAN_LANGS}"
        f" AND n_chars BETWEEN {CLEAN_MIN_CHARS} AND {CLEAN_MAX_CHARS}"
        f" AND {pct} < {CONTAM_BENCH_PCT}"
    )


def _mti_front_sql(
    shingles: str,
    pct: str,
    shingle_int: str,
    bndd_body: str | None = None,
) -> str:
    """Dialect-shared front of the incremental materialization: both
    kept sets (standing corpus and curated batch) as CTEs. The caller
    appends its dialect's encode/pack tail.

    The LSH near-dedup stage sits between the exact-dedup gate and
    decontamination: a batch doc drops when
    its MinHash bands collide with a STANDING corpus doc (every corpus
    doc precedes every batch doc — its own curation happened at ITS
    ingest) or with a lower-id batch doc, and the colliding pair's
    estimated Jaccard is ≥ {V2_NEARDUP_EST} — the same non-cascading
    doc-grain rule as ``materialize_training_set_v2``, restricted to
    batch-side drops. Corpus signatures come from the raw standing slice
    (the shape ``minhash_lsh_incremental`` registers: at 100 TB they are
    a standing ~100 B/doc table written at ingest, not recomputed — the
    registered emission re-derives them for oracle checkability, same
    caveat as the seen-hash set).

    ``bndd_body`` lets a dialect swap the whole near-dedup'd batch
    derivation (csig → bands → candidates → est-Jaccard filter →
    survivor anti-join) for a reference to a pre-computed relation:
    Spark computes it DataFrame-side with the signature tables and the
    (batch-sized) survivor set checkpointed once — CTE inlining would
    re-run the corpus minhash and the band join once per consumer
    (bflag AND bkept read bndd; measured 4× the row's steady cost),
    and checkpointed relations inside the band-union CTEs trip a Spark
    Union constraint-rewrite defect. DuckDB keeps the inline derivation
    (its optimizer materializes multiply-referenced CTEs itself)."""
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _band_exprs,
        _minhash_sig_sql,
        CONTAM_BENCH_PCT,
        CONTAM_MIN_SHINGLES,
        MINHASH_K,
    )

    gate = _mti_gate_expr(pct)
    if bndd_body is None:
        csig_bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, {expr} AS band_hash FROM csig"
            for b, expr in enumerate(_band_exprs())
        )
        bsig_bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, {expr} AS band_hash FROM bsig"
            for b, expr in enumerate(_band_exprs())
        )
        sig_eq = " + ".join(
            f"CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END"
            for i in range(MINHASH_K)
        )
        sig_ctes = f"""
    csig AS ({_minhash_sig_sql(shingle_int, _on_rel(shingles, "corpus"))}),
    bsig AS ({_minhash_sig_sql(shingle_int, _on_rel(shingles, "bgated"))}),
    nearcand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM (SELECT doc_id, band_id, band_hash, 1 AS is_corpus
              FROM ({csig_bands}) cb
              UNION ALL
              SELECT doc_id, band_id, band_hash, 0 AS is_corpus
              FROM ({bsig_bands}) bb) x
        JOIN ({bsig_bands}) y
          ON x.band_id = y.band_id AND x.band_hash = y.band_hash
        WHERE x.is_corpus = 1 OR x.doc_id < y.doc_id
    ),
    neardrop AS (
        SELECT DISTINCT c.b_id AS doc_id
        FROM nearcand c
        JOIN (SELECT * FROM csig UNION ALL SELECT * FROM bsig) sa
          ON sa.doc_id = c.a_id
        JOIN bsig sb ON sb.doc_id = c.b_id
        WHERE CAST(({sig_eq}) AS DOUBLE) / {MINHASH_K} >= {V2_NEARDUP_EST}
    ),"""
        bndd_body = """
        SELECT g.doc_id, g.text FROM bgated g
        WHERE NOT EXISTS (SELECT 1 FROM neardrop d WHERE d.doc_id = g.doc_id)
    """
    else:
        sig_ctes = ""
    near_ctes = f"""{sig_ctes}
    bndd AS ({bndd_body})"""
    return f"""
    WITH {_mti_gate_ctes(gate)},
    bench AS (
        SELECT DISTINCT shingle FROM ({_on_rel(shingles, "corpus")}) cs
        WHERE {pct} >= {CONTAM_BENCH_PCT}
    ),
    ccanon AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
    cgated AS (
        SELECT c.doc_id, c.text FROM corpus c JOIN ccanon USING (doc_id)
        WHERE {gate}
    ),
    cflag AS (
        SELECT t.doc_id FROM ({_on_rel(shingles, "cgated")}) t
        JOIN bench ON t.shingle = bench.shingle
        GROUP BY t.doc_id HAVING COUNT(*) >= {CONTAM_MIN_SHINGLES}
    ),
    ckept AS (
        SELECT g.doc_id, g.text FROM cgated g
        WHERE NOT EXISTS (SELECT 1 FROM cflag f WHERE f.doc_id = g.doc_id)
    ),{near_ctes},
    bflag AS (
        SELECT t.doc_id FROM ({_on_rel(shingles, "bndd")}) t
        JOIN bench ON t.shingle = bench.shingle
        GROUP BY t.doc_id HAVING COUNT(*) >= {CONTAM_MIN_SHINGLES}
    ),
    bkept AS (
        SELECT g.doc_id, g.text FROM bndd g
        WHERE NOT EXISTS (SELECT 1 FROM bflag f WHERE f.doc_id = g.doc_id)
    )
    """


def _mti_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _DUCK_DOC_PCT,
        _DUCK_SHINGLE_INT,
        _DUCK_SHINGLES,
    )

    w = PACK_WINDOW_TOKENS
    syms = r"'|' || regexp_replace(word, '(.)', '\1|', 'g') || '</w>|'"
    tok = "CAST(SUM(length(s) - length(replace(s, '|', '')) - 1) AS BIGINT)"
    return f"""
    {_mti_front_sql(_DUCK_SHINGLES, _DUCK_DOC_PCT, _DUCK_SHINGLE_INT)},
    cwords AS ({_bpe_words_sql("ckept")}),
    cenc AS (SELECT doc_id, {_bpe_chain_sql(syms)} AS s FROM cwords),
    ctok AS (SELECT doc_id, {tok} AS n_tokens FROM cenc GROUP BY doc_id),
    ctot AS (SELECT COALESCE(SUM(n_tokens), 0) AS c_total FROM ctok),
    bwords AS ({_bpe_words_sql("bkept")}),
    benc AS (SELECT doc_id, {_bpe_chain_sql(syms)} AS s FROM bwords),
    btok AS (SELECT doc_id, {tok} AS n_tokens FROM benc GROUP BY doc_id),
    bc AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS bcum
        FROM btok
    )
    SELECT doc_id, n_tokens,
           CAST((c_total + bcum - n_tokens) // {w} AS INT) AS start_window,
           CAST((c_total + bcum - 1) // {w} AS INT) AS end_window,
           CAST((c_total + bcum - 1) // {w}
                - (c_total + bcum - n_tokens) // {w} + 1 AS INT) AS n_windows
    FROM bc CROSS JOIN ctot
    """


@query("materialize_training_set_incremental", oracle=_mti_oracle())
def materialize_training_set_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-ingest training-set materialization: curate ONLY the incoming
    batch ({NEW_BATCH_PRED}) against the standing corpus state — drop
    batch docs whose content hash the corpus has seen (plus within-batch
    keep-first), gate, LSH near-dedup against the standing corpus
    signatures (plus within-batch keep-lowest-id; the stage
    ``materialize_training_set_v2`` has), decontaminate against the
    standing benchmark shingle
    set, frozen-BPE encode — and assign windows CONTINUING from
    the standing stream's token total (append semantics; the batch's
    first doc may share a window with the corpus tail). The deployment
    cost is O(batch): every batch-side stage is bounded by the batch,
    and the corpus-side inputs (seen-hash set, corpus minhash
    signatures, benchmark shingles, stream token total) are standing
    artifacts an ingest pipeline reads, not recomputes. The REGISTERED
    emission re-derives those standing artifacts from the raw table so
    the whole contract stays value-checkable by one oracle — the same
    honestly-documented caveat as ``ivf_pq_incremental``: the bench row
    prices the re-derivation, not the ingest. At the 10× probe that
    re-derivation is most of the row: ~11s ≈ 3.4s
    (gate/exact-dedup/decontaminate/BPE/pack) + ~2.7s signature
    derivation over corpus+batch + ~1s band join + the materialization
    barriers between the now-five bounded checkpoints; a real ingest
    pays only the batch-side slice of each stage.

    Scale: seen-hash anti-join and benchmark semi-join key on md5/shingle
    (uniform); near-dedup joins the ingest-sized batch band table against
    the standing bands (broadcastable batch side, the
    ``minhash_lsh_incremental`` shape — no shuffle keyed on a hot
    band_hash); the batch cumsum is the two-pass range-partitioned
    ``global_cumsum`` over batch rows only; the standing total rides in
    as a broadcast 1-row relation — no collect, one Catalyst plan after
    one bounded (kept-text) materialization shared by the two BPE arms.
    """
    from lakehouse_workshop_spark.functions.exprs import global_cumsum
    from lakehouse_workshop_spark.llm.bpe import apply_bpe
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _docs_view,
        _SPARK_DOC_PCT,
        _SPARK_SHINGLE_INT,
        _SPARK_SHINGLES,
    )

    from lakehouse_workshop_spark.operators.llm_dedup import (
        _minhash_sigs_df,
        LSH_BANDS,
        MINHASH_K,
    )

    _docs_view(spark, sf_dir)
    # Near-dedup computed DataFrame-side with both signature tables
    # checkpointed ONCE (bounded, ~100 B/doc): the SQL CTE form re-runs
    # the whole corpus minhash per reference under Spark's CTE inlining
    # (measured 4× the row's steady cost), and checkpointed relations
    # inside the band-union CTEs trip a Spark Union constraint-rewrite
    # defect. Same band/est idiom as minhash_lsh_incremental /
    # materialize_training_set_v2. bgated is evaluated via the shared
    # gate-CTE block, so the batch-gate text exists in exactly one place.
    spark.sql(
        f"WITH {_mti_gate_ctes(_mti_gate_expr(_SPARK_DOC_PCT))} "
        "SELECT doc_id, text FROM bgated"
    ).localCheckpoint(eager=True).createOrReplaceTempView("mti_bgated")
    spark.sql(
        f"SELECT doc_id, text FROM documents WHERE NOT ({NEW_BATCH_PRED})"
    ).createOrReplaceTempView("mti_corpus")
    # csig has exactly ONE consumer (the x-side band derivation — the
    # est-Jaccard filter reads signature arrays carried on the band rows,
    # never joins back), so it stays a plain plan and pipelines into the
    # band join; bsig is read twice (x-union and y-side) and checkpoints.
    csig = _minhash_sigs_df(spark.table("mti_corpus"))
    bsig = _minhash_sigs_df(spark.table("mti_bgated")).localCheckpoint(
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

    def _bands(sigs, is_corpus: int):
        return sigs.select(
            "doc_id",
            sig_arr.alias("sig"),
            F.lit(is_corpus).alias("is_corpus"),
            F.explode(band_structs).alias("band"),
        ).select("doc_id", "sig", "is_corpus", "band.band_id", "band.band_hash")

    x = _bands(csig, 1).unionByName(_bands(bsig, 0)).alias("x")
    y = _bands(bsig, 0).alias("y")
    matches = F.aggregate(
        F.zip_with(
            F.col("x.sig"), F.col("y.sig"), lambda a, b: (a == b).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    neardrop = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (
                (F.col("x.is_corpus") == 1)
                | (F.col("x.doc_id") < F.col("y.doc_id"))
            ),
        )
        .filter(matches.cast("double") / MINHASH_K >= V2_NEARDUP_EST)
        .select(F.col("y.doc_id").alias("doc_id"))
        .distinct()
    )
    spark.table("mti_bgated").join(
        neardrop, "doc_id", "left_anti"
    ).localCheckpoint(eager=True).createOrReplaceTempView("mti_bndd")
    # ONE evaluation of the shared front (bench shingles feed both flag
    # arms), materialized bounded (kept doc_id+text), then split.
    kept = spark.sql(
        _mti_front_sql(
            _SPARK_SHINGLES,
            _SPARK_DOC_PCT,
            _SPARK_SHINGLE_INT,
            bndd_body="SELECT doc_id, text FROM mti_bndd",
        )
        + """
        SELECT 'c' AS side, doc_id, text FROM ckept
        UNION ALL
        SELECT 'b' AS side, doc_id, text FROM bkept
        """
    ).localCheckpoint(eager=True)
    ck = kept.filter(F.col("side") == "c").select("doc_id", "text")
    bk = kept.filter(F.col("side") == "b").select("doc_id", "text")
    ctot = (
        apply_bpe(ck, BPE_FROZEN_MERGES)
        .filter(F.col("n_tokens") > 0)
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("c_total"))
    )
    btok = (
        apply_bpe(bk, BPE_FROZEN_MERGES)
        .select("doc_id", "n_tokens")
        .filter(F.col("n_tokens") > 0)
    )
    c = global_cumsum(btok, "n_tokens", "doc_id", name="bcum")
    w = PACK_WINDOW_TOKENS
    return c.crossJoin(F.broadcast(ctot)).select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST((c_total + bcum - n_tokens) div {w} AS INT)").alias(
            "start_window"
        ),
        F.expr(f"CAST((c_total + bcum - 1) div {w} AS INT)").alias("end_window"),
        F.expr(
            f"CAST((c_total + bcum - 1) div {w}"
            f" - (c_total + bcum - n_tokens) div {w} + 1 AS INT)"
        ).alias("n_windows"),
    )


@query("materialize_training_set_v2", oracle=_materialize_v2_oracle())
def materialize_training_set_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set materialization with the FULL curation chain (extends
    ``materialize_training_set``): gate +
    exact keep-first dedup → MinHash-LSH near-dup drop (doc_b of every
    candidate pair at est_jaccard ≥ {V2_NEARDUP_EST} — keep-lowest-id,
    the doc-grain twin of the scrub's first-occurrence rule) → duplicate-
    span scrub (every cross-doc duplicated shingle span removed except
    its first corpus occurrence) → benchmark decontamination of the
    SCRUBBED text against the original held-out slice's shingles →
    frozen-BPE encode → window packing. The oracle recomputes the whole
    pipeline exactly, span reassembly and BPE token counts included.

    Scale: each stage is the registered component family's exact shape
    (see dedup_exact / minhash_lsh_pairs / dup_span_scrub / decontaminate
    / sequence_packing). Three bounded materializations sit at the reuse
    frontiers where Spark's CTE inlining would otherwise recompute a
    whole upstream stage per consumer: the minhash signatures (~100 B per
    doc — the same checkpoint the component query carries), the
    near-dedup survivor text, and the scrubbed text (each one corpus pass
    of (doc_id, text), exactly what a production pipeline persists
    between curation stages); everything between frontiers chains as one
    Catalyst plan. No stage is pairwise; every shuffle keys on doc_id,
    shingle, or (band_id, band_hash).
    """
    from lakehouse_workshop_spark.functions.exprs import global_cumsum
    from lakehouse_workshop_spark.llm.bpe import apply_bpe
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _docs_view,
        _minhash_sigs_df,
        _SPARK_DOC_PCT,
        _SPARK_SHINGLE_POS,
        _SPARK_SHINGLES,
        _SPARK_TOKEN_POS,
        _span_scrub_sql,
        CONTAM_BENCH_PCT,
        CONTAM_MIN_SHINGLES,
        LSH_BANDS,
        MINHASH_K,
    )

    _docs_view(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(
        F.col("lang").isin(*CLEAN_LANGS)
        & F.col("n_chars").between(CLEAN_MIN_CHARS, CLEAN_MAX_CHARS)
        & (F.expr(_SPARK_DOC_PCT) < CONTAM_BENCH_PCT)
    )
    canon = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    clean = gated.join(canon, "doc_id", "left_semi").select("doc_id", "text")
    clean.createOrReplaceTempView("v2_clean")

    # near-dedup: the minhash_lsh_pairs shape over the clean survivors —
    # signatures materialized once (both band-join sides read the same
    # blocks), bands built in ONE pass carrying the signature array.
    sigs = _minhash_sigs_df(clean).localCheckpoint(eager=True)
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
    neardrop = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(matches.cast("double") / MINHASH_K >= V2_NEARDUP_EST)
        .select(F.col("y.doc_id").alias("doc_id"))
        .distinct()
    )
    kept1 = (
        clean.join(neardrop, "doc_id", "left_anti").localCheckpoint(eager=True)
    )
    kept1.createOrReplaceTempView("v2_kept1")

    # span scrub over the survivors (3 reads of kept1: shingle positions,
    # token positions, per-doc sizes — the checkpoint above bounds that to
    # block reads instead of three plan recomputes)
    scrub_sql = _on_rel(
        _span_scrub_sql(
            _SPARK_SHINGLE_POS, _SPARK_TOKEN_POS,
            "struct({a}, {b})", "explode", "sequence",
            "size(split(text, ' '))",
        ),
        "v2_kept1",
    ).replace(
        "string_agg(tok, ' ' ORDER BY tpos)",
        "array_join(transform(array_sort(collect_list(struct(tpos, tok))),"
        " x -> x.tok), ' ')",
    )
    scr = (
        spark.sql(scrub_sql)
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint(eager=True)
    )
    scr.createOrReplaceTempView("v2_scr")

    # decontaminate the text that ships: original bench shingles (raw
    # documents view) vs the scrubbed training text
    bench = (
        spark.sql(_SPARK_SHINGLES)
        .filter(F.expr(_SPARK_DOC_PCT) >= CONTAM_BENCH_PCT)
        .select("shingle")
        .distinct()
    )
    tsh = spark.sql(_on_rel(_SPARK_SHINGLES, "v2_scr"))
    flagged = (
        tsh.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHINGLES)
        .select("doc_id")
    )
    kept2 = scr.join(flagged, "doc_id", "left_anti")
    tok = (
        apply_bpe(kept2, BPE_FROZEN_MERGES)
        .select("doc_id", "n_tokens")
        .filter(F.col("n_tokens") > 0)
    )
    c = global_cumsum(tok, "n_tokens", "doc_id", name="cum")
    w = PACK_WINDOW_TOKENS
    return c.select(
        "doc_id",
        "n_tokens",
        F.expr(f"CAST((cum - n_tokens) div {w} AS INT)").alias("start_window"),
        F.expr(f"CAST((cum - 1) div {w} AS INT)").alias("end_window"),
        F.expr(
            f"CAST((cum - 1) div {w} - (cum - n_tokens) div {w} + 1 AS INT)"
        ).alias("n_windows"),
    )
