"""Corpus-hygiene demos: text canonicalization dedup, pattern redaction,
and vocabulary statistics — the remaining everyday operations of a
training-data pipeline (BASELINE north star), all native expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scripts_toolkit_spark.io.catalog import load_table
from scripts_toolkit_spark.materialize import materialize as _materialize


def canonical_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup via canonicalization: lowercase, strip
    non-alphanumerics, collapse whitespace — catches trivially-reformatted
    duplicates that byte-exact dedup misses. Survivor = min doc_id per
    canonical digest; shuffle carries 16-byte digests only."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")), " +", " "
    )
    keyed = d.select(F.md5(canon).alias("canon_key"), "doc_id")
    return keyed.groupBy("canon_key").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


CANONICAL_TEXT_DEDUP_SQL = """
SELECT md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS canon_key,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1
"""


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep CAPSTONE — the three hygiene passes composed in
    ONE declarative plan, the operation sequence an LLM-corpus pipeline
    runs at 100 TB:

        quality score (native exprs, no Python)
          → canonical-dedup survivor pick (min doc_id per canon digest —
            the shuffle key is a 16-byte md5, never the document)
          → quality gate (≥ 0.65)
          → deterministic 1-in-2 hash sample (stable under reruns and
            repartitioning, unlike Bernoulli sample())

    Catalyst fuses the projections; the only shuffle is the dedup window on
    the canon digest. Oracle replays every stage in SQL."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from scripts_toolkit_spark.ext import text as TX

    canon = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")), " +", " "
    )
    scored = d.select(
        "doc_id",
        "lang",
        TX.quality_score("text").alias("quality"),
        TX.token_count("text").alias("n_tokens"),
        F.md5(canon).alias("canon_key"),
    )
    w = Window.partitionBy("canon_key")
    sampled = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 2
        == 0
    )
    return (
        scored.withColumn("keep", F.min("doc_id").over(w))
        .where((F.col("doc_id") == F.col("keep")) & (F.col("quality") >= 0.65) & sampled)
        .select("doc_id", "lang", "quality", "n_tokens")
    )


# quality/token fragments identical to TEXT_STATS_SQL (oracle-green there)
CORPUS_PREP_PIPELINE_SQL = """
WITH base AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents
),
scored AS (
  SELECT doc_id, lang,
    0.3 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      + 0.25 * (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(len(w), 1) >= 3.0
                      AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(len(w), 1) <= 10.0
                 THEN 1.0 ELSE 0.3 END)
      + 0.2 * least(CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], lower(x)))) AS DOUBLE)
                    / greatest(len(w), 1) * 5.0, 1.0)
      + 0.25 * CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1) AS quality,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n]')) AS INT) AS n_tokens,
    md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS canon_key
  FROM base
),
surv AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY canon_key) AS keep FROM scored
)
SELECT doc_id, lang, quality, n_tokens
FROM surv
WHERE doc_id = keep AND quality >= 0.65
  AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
"""


def redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction (PII-shaped): inject synthetic emails/numbers
    deterministically, then scrub them — redaction is genuinely exercised,
    not a no-op, and the redacted output is hash-gated."""
    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.substring("text", 1, 60),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(dirty, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return d.select("doc_id", redacted.alias("clean_text"))


REDACT_TEXT_SQL = """
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      substring(text, 1, 60) || ' contact user' || CAST(doc_id AS VARCHAR)
        || '@example.com or call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean_text
FROM documents
"""


def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10 by md5 bucket of
    doc_id — reproducible under reruns, repartitioning, and engine choice,
    which `randomSplit` is not), reported as counts per (lang, split).
    The assignment column itself is what a pipeline materializes; the
    grouped counts keep the demo result compact."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


CORPUS_SPLIT_COUNTS_SQL = """
SELECT lang,
  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split,
  COUNT(*) AS n_docs
FROM (
  SELECT lang,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
  FROM documents
)
GROUP BY lang, CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END
"""


# context-window chunking: 64-token windows, 16-token overlap (stride 48)
_CHUNK, _OVERLAP = 64, 16
_STRIDE = _CHUNK - _OVERLAP


def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — the standard pre-tokenization segmentation
    for LLM training: tokenize (BPE-ish regex, same TOKEN_PATTERN as
    text_stats), slice into 64-token windows advancing 48 tokens (16-token
    overlap), re-join each window. One projection + explode, all native
    Catalyst (regexp_extract_all / sequence / slice / array_join) — scales
    as a narrow map over the corpus, no shuffle at all."""
    from scripts_toolkit_spark.ext.text import TOKEN_PATTERN

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(_OVERLAP)).cast("double") / F.lit(_STRIDE)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_no"),
            F.array_join(F.slice(toks, i * _STRIDE + 1, _CHUNK), " ").alias("chunk_text"),
            F.least(n - i * _STRIDE, F.lit(_CHUNK)).cast("int").alias("n_chunk_tokens"),
        ),
    )
    return (
        d.select("doc_id", n.alias("n_tokens"), F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            "n_tokens",
            F.col("c.chunk_no").alias("chunk_no"),
            F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


DOCUMENT_CHUNKS_SQL = f"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n]') AS toks
  FROM documents
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
    greatest(CAST(ceil(CAST(len(toks) - {_OVERLAP} AS DOUBLE) / {_STRIDE}) AS INT), 1) AS n_chunks
  FROM base
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
  CAST(i AS INT) AS chunk_no,
  CAST(least(n_tokens - i * {_STRIDE}, {_CHUNK}) AS INT) AS n_chunk_tokens,
  array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ') AS chunk_text
FROM sized, UNNEST(range(n_chunks)) AS t(i)
"""


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: top-50 tokens by document frequency and
    total count (deterministic tiebreak on the token) — the explode →
    two-level aggregate shape that scales to any corpus.

    The final ranking runs through `operators/topk.global_topk` (round-6
    verdict Next #4): per-partition partial top-50 first, then a final
    rank over the ≤ 50·P survivors — no single task ever holds the whole
    (open) vocabulary. Result identical to a global window for any input
    distribution (total order: count desc, token asc)."""
    from scripts_toolkit_spark.operators.topk import global_topk

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    stats = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("total_count"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    return global_topk(
        stats, [F.desc("total_count"), F.asc("token")], 50
    ).select("token", "total_count", "doc_freq", F.col("rank").cast("int").alias("rank"))


def lang_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE top-10 documents by whitespace token count — the
    oracle gate for `operators/topk.grouped_topk` (r14 — round-13
    verdict Next #6: the per-group two-stage ranker was pytest-only).
    This is exactly the skewed few-large-groups case its docstring
    names: the corpus has 5 languages with `en` holding ~44% of rows, so
    a naive `Window.partitionBy(lang)` would put N·0.44 rows in ONE task
    at 100 TB. Stage 1 ranks within (spark_partition_id, lang) — narrow,
    no shuffle — keeping 10 rows per (input partition, language); stage
    2 ranks the ≤ 10·P survivors per language. Identical to the naive
    per-group window for any input distribution (total order: token
    count desc, doc_id asc — the whitespace split is the proven
    `token_frequencies` parity convention)."""
    from scripts_toolkit_spark.operators.topk import grouped_topk

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return grouped_topk(
        scored, ["lang"], [F.desc("n_tokens"), F.asc("doc_id")], 10
    ).select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("rank").cast("int").alias("rank"),
    )


LANG_TOP_DOCS_SQL = """
WITH scored AS (
  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
)
SELECT lang, doc_id, n_tokens, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY n_tokens DESC, doc_id ASC
  ) AS rank
  FROM scored
)
WHERE rank <= 10
"""


TOKEN_FREQUENCIES_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
stats AS (
  SELECT token, COUNT(*) AS total_count, COUNT(DISTINCT doc_id) AS doc_freq
  FROM tok GROUP BY token
)
SELECT token, total_count, doc_freq, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY total_count DESC, token ASC) AS rank
  FROM stats
)
WHERE rank <= 50
"""


# decontamination: 8-word shingles, the classic eval-overlap window
_DECON_N = 8


def gopher_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics per document (Rae et al.
    2021 §A1.1; reference has no counterpart — standard LLM-corpus
    filtering): duplicate-word fraction, duplicate-2-gram fraction, and
    the fraction of all 2-grams taken by the single most frequent one.
    High values flag boilerplate/spam for the quality gate.

    Scale shape: word/2-gram distinct fractions are NATIVE array
    expressions (zero shuffle); only the top-2-gram count needs an
    explode → (doc_id, gram) hash aggregate → per-doc max, both
    map-side-combinable; the final join is equi-keyed on doc_id.
    Ratios are BIGINT/BIGINT double divisions — identical in DuckDB."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.concat_ws(" ", F.get(w, i - 1), F.get(w, i)),
    )
    base = d.where(F.size(w) >= 2).select(
        "doc_id",
        F.size(w).alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(w)).cast("double") / F.size(w).cast("double")
        ).alias("dup_word_frac"),
        grams.alias("grams"),
    )
    top = (
        base.select("doc_id", F.explode("grams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct_grams"),
        )
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        (
            F.lit(1.0)
            - F.col("n_distinct_grams").cast("double") / F.col("n_grams").cast("double")
        ).alias("dup_2gram_frac"),
        (F.col("top_cnt").cast("double") / F.col("n_grams").cast("double")).alias(
            "top_2gram_frac"
        ),
    )


GOPHER_REPETITION_STATS_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
g AS (
  SELECT doc_id,
    len(w) AS n_words,
    1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS grams
  FROM base WHERE len(w) >= 2
),
counts AS (
  SELECT doc_id, gram, COUNT(*) AS c
  FROM g, UNNEST(grams) AS t(gram)
  GROUP BY doc_id, gram
),
top AS (
  SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_grams, COUNT(*) AS n_distinct_grams
  FROM counts GROUP BY doc_id
)
SELECT g.doc_id,
  CAST(n_words AS INT) AS n_words,
  dup_word_frac,
  1.0 - CAST(n_distinct_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_2gram_frac,
  CAST(top_cnt AS DOUBLE) / CAST(n_grams AS DOUBLE) AS top_2gram_frac
FROM g JOIN top ON g.doc_id = top.doc_id
"""


_BOILER_N = 5  # shingle width (words)
_BOILER_K = 3  # doc-frequency threshold: shingle in >= K docs = boilerplate


def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (C4-style hygiene; reference
    has no counterpart): a 5-word shingle appearing in ≥ 3 DISTINCT
    documents is boilerplate (headers, disclaimers, templates); report per
    affected document how many of its distinct shingles are boilerplate.

    Scale shape (the train_eval_overlap discipline): documents reduce to
    16-byte md5 shingle digests before any shuffle; doc-frequency is one
    hash aggregate over digests; the boilerplate set (df ≥ K) is tiny and
    AQE-broadcastable; the per-doc join is equi-keyed on digest. The
    shuffle never carries text."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    sh = (
        d.where(F.size("w") >= _BOILER_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - F.lit(_BOILER_N - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, _BOILER_N))),
                )
            ).alias("h"),
        )
        .dropDuplicates(["doc_id", "h"])
    )
    boiler = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") >= _BOILER_K
    )
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.join(boiler.select("h"), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    return hits.join(per_doc, "doc_id").select(
        "doc_id",
        "n_boilerplate",
        "n_shingles",
        (F.col("n_boilerplate") / F.col("n_shingles")).alias("boilerplate_ratio"),
    )


BOILERPLATE_SHINGLES_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, h
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(w) - {_BOILER_N} + 2),
        i -> md5(array_to_string(w[i:i+{_BOILER_N}-1], ' ')))) AS h
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= {_BOILER_N}
  )
),
boiler AS (
  SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= {_BOILER_K}
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_boilerplate FROM sh JOIN boiler USING (h) GROUP BY doc_id
)
SELECT doc_id,
  CAST(n_boilerplate AS BIGINT) AS n_boilerplate,
  CAST(n_shingles AS BIGINT) AS n_shingles,
  CAST(n_boilerplate AS DOUBLE) / n_shingles AS boilerplate_ratio
FROM hits JOIN per_doc USING (doc_id)
"""


_PACK_BUDGET = 2048  # tokens per training sequence
_PACK_SHARDS = 16


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training (concatenate-then-chunk, GPT
    style; reference has no counterpart): documents concatenate in doc_id
    order and split into fixed 2048-token sequences; a document belongs to
    the sequence where its first token lands (floor(prev_cumsum/budget)).
    Reports per-sequence document and token counts.

    Scale shape: packing is SHARD-PARALLEL — a global running sum would
    serialize 100 TB through one task, so documents first hash into 16
    deterministic shards (doc_id % 16, the real-pipeline sharding) and
    the running sum windows per shard. One shuffle on shard, one sort."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = d.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(_PACK_BUDGET)
        ).alias("seq_id"),
    )
    return seq.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


PACK_TRAINING_SEQUENCES_SQL = f"""
WITH d AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
seq AS (
  SELECT shard, doc_id, n_tokens,
    CAST(floor(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      / {_PACK_BUDGET}) AS BIGINT) AS seq_id
  FROM d
)
SELECT shard, seq_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  MIN(doc_id) AS first_doc_id
FROM seq
GROUP BY shard, seq_id
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (reference has no counterpart;
    everyday corpus featurization): tf = term count in doc, idf =
    ln(N/df), ranked per doc with a token-asc tiebreak.

    Scale shape: tf is one (doc, token) hash aggregate; df reuses tf's
    distinct (doc, token) rows (no second pass over text); N is a one-row
    scalar broadcast. Cross-engine determinism: ln is IEEE libm in both
    engines but not guaranteed bit-identical, so the score is ROUNDED to
    6 dp BEFORE ranking (CLAUDE.md rule) and ties break on token asc —
    rank and value are then engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "token", F.col("rank").cast("int").alias("rank"), "tfidf")
    )


TFIDF_TOP_TERMS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
idf AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
),
scored AS (
  SELECT doc_id, token,
    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN idf USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, token, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
  FROM scored
)
SELECT doc_id, token, CAST(rank AS INT) AS rank, tfidf
FROM ranked WHERE rank <= 3
"""


_CMS_W = 256  # buckets per row
_CMS_D = 4  # hash rows
_CMS_T = 100  # heavy-hitter report threshold (exact count)


def _cms_bucket(r: int, token: F.Column) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{r}|"), token)), 1, 8), 16, 10
        ).cast("long")
        % _CMS_W
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a 4×256 COUNT-MIN SKETCH, reported beside
    exact counts (the hll_distinct_users pattern: the sketch is the scale
    path, the exact count the verification). est = min over 4 md5-keyed
    rows of the bucket counter; CMS guarantees est ≥ exact, equality when
    the token's buckets are collision-free.

    Scale shape: the sketch build is ONE hash aggregate over (row, bucket)
    — 1,024 cells, map-side-combinable, KB-size whatever the corpus; at
    100 TB that replaces a full-vocab shuffle when only heavy hitters
    matter. The estimate join is equi-keyed on (row, bucket) against the
    broadcast sketch. Deterministic md5 bucketing → DuckDB-replayable."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    keys = F.array(
        *[
            F.struct(F.lit(r).alias("r"), _cms_bucket(r, F.col("token")).alias("bucket"))
            for r in range(_CMS_D)
        ]
    )
    sketch = (
        tok.select(F.explode(keys).alias("k"))
        .select(F.col("k.r").alias("r"), F.col("k.bucket").alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt")).where(
        F.col("exact_cnt") >= _CMS_T
    )
    cand_keys = exact.select(
        "token", "exact_cnt", F.explode(keys).alias("k")
    ).select("token", "exact_cnt", F.col("k.r").alias("r"), F.col("k.bucket").alias("bucket"))
    # no broadcast hint: the sketch is ≤ D·W rows by construction, but its
    # lineage reaches the documents scan, so the SF-linear broadcast lint
    # would flag a forced hint — AQE broadcasts a KB-size frame on its own
    return (
        cand_keys.join(sketch, ["r", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select("token", "exact_cnt", "cms_est")
    )


CMS_HEAVY_HITTERS_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
keyed AS (
  SELECT token, r,
    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token), 1, 8)) AS BIGINT) % {_CMS_W} AS bucket
  FROM tok, UNNEST(range({_CMS_D})) AS t(r)
),
sketch AS (
  SELECT r, bucket, COUNT(*) AS c FROM keyed GROUP BY r, bucket
),
exact AS (
  SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token HAVING COUNT(*) >= {_CMS_T}
),
cand AS (
  SELECT e.token, e.exact_cnt, r,
    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || e.token), 1, 8)) AS BIGINT) % {_CMS_W} AS bucket
  FROM exact e, UNNEST(range({_CMS_D})) AS t(r)
)
SELECT cand.token, CAST(exact_cnt AS BIGINT) AS exact_cnt, CAST(MIN(c) AS BIGINT) AS cms_est
FROM cand JOIN sketch USING (r, bucket)
GROUP BY cand.token, exact_cnt
"""


def incremental_cms_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAMING Count-Min heavy-hitter monitor
    (streaming/cms_stream.py): documents split into three deterministic
    pseudo-batches (doc_id % 3), each batch's ≤ D·W sketch-cell partials
    written through the replay-idempotent foreachBatch processor, then the
    merged store is probed with the exact-count candidates. CMS cells are
    counts and counts SUM, so the merged sketch is bit-exact equal to the
    one-shot sketch — which is why the ORACLE is the one-shot SQL replay
    (same output as `cms_heavy_hitters`): equality here PROVES the
    incremental merge, not just the plan. Store path is applicationId-
    namespaced (the r7 convention — no cross-session races)."""
    from scripts_toolkit_spark.plans.ext_demos import _session_index_path
    from scripts_toolkit_spark.streaming import cms_stream as CMS

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split("text", " ")).alias("token"),
        (F.col("doc_id") % 3).alias("__b"),
    ).localCheckpoint()
    path = _session_index_path(spark, sf_dir, "cms_store")
    process = CMS.make_cms_processor(path)
    for b in range(3):
        process(tok.where(F.col("__b") == b).select("token"), b)
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .where(F.col("exact_cnt") >= _CMS_T)
    )
    return CMS.probe_heavy_hitters(spark, path, exact).select(
        "token", "exact_cnt", "cms_est"
    )


INCREMENTAL_CMS_HITTERS_SQL = CMS_HEAVY_HITTERS_SQL


def mixture_sample_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling (reference has no counterpart; how LLM
    pipelines weight sources): each source gets a configured sampling
    rate (tier A sources keep everything, tier B half, the tail a
    quarter); a document survives iff its md5-uniform draw falls under
    its source's rate. Reports configured vs realized rate per source.

    Deterministic: the draw is md5(doc_id)/2^32 — stable under reruns and
    repartitioning (the hash_sample_documents discipline), replayed
    exactly by DuckDB. Scale shape: one narrow projection + one
    per-source hash aggregate; no shuffle of documents."""
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), F.lit(1.0))
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), F.lit(0.5))
        .otherwise(F.lit(0.25))
    )
    draw = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 32))
    )
    return (
        d.select("source", rate.alias("rate"), (draw < rate).alias("kept"))
        .groupBy("source", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
        )
        .select(
            "source",
            "rate",
            "n_total",
            "n_kept",
            (F.col("n_kept") / F.col("n_total")).alias("realized_rate"),
        )
    )


MIXTURE_SAMPLE_RATES_SQL = """
WITH d AS (
  SELECT source,
    CAST(CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 1.0
              WHEN source IN ('src4', 'src5', 'src6', 'src7') THEN 0.5
              ELSE 0.25 END AS DOUBLE) AS rate,
    CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 AS draw
  FROM documents
)
SELECT source, rate,
  COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN draw < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN draw < rate THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS realized_rate
FROM d
GROUP BY source, rate
"""


def _split_assign() -> F.Column:
    """The corpus_split_counts 80/10/10 md5-bucket rule, shared so the
    decontamination pass sees the exact same train/test membership."""
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 10
    return F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")


def train_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (reference has no counterpart; standard
    LLM-pipeline hygiene): flag training documents that share any 8-word
    shingle with the held-out test split, reporting how many of the doc's
    distinct shingles are contaminated.

    Scale shape: both sides reduce to 16-byte md5 shingle digests before
    the join — the shuffle never carries text. The eval side is ~10% of
    the corpus and arrives as a DISTINCT digest set (smaller still), so at
    100 TB the join is an equi-join on digest with partial aggregation
    per train doc; AQE may broadcast the eval side outright. Shingling
    itself is a narrow map (split → slide → hash), no shuffle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _split_assign().alias("split"), F.split("text", " ").alias("w")
    )
    shingles = d.where(F.size("w") >= _DECON_N).select(
        "doc_id",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(_DECON_N - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, _DECON_N))),
            )
        ).alias("h"),
    )
    train = shingles.where(F.col("split") == "train").dropDuplicates(["doc_id", "h"])
    eval_set = shingles.where(F.col("split") == "test").select("h").distinct()
    per_doc = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        train.join(eval_set, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        hits.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_contaminated",
            "n_shingles",
            (F.col("n_contaminated") / F.col("n_shingles")).alias("contamination_ratio"),
        )
    )


TRAIN_EVAL_OVERLAP_SQL = f"""
WITH sp AS (
  SELECT doc_id,
    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
         THEN 'train'
         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9
         THEN 'val' ELSE 'test' END AS split,
    string_split(text, ' ') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, split, h
  FROM (
    SELECT doc_id, split,
      unnest(list_transform(range(1, len(w) - {_DECON_N} + 2),
        i -> md5(array_to_string(w[i:i+{_DECON_N}-1], ' ')))) AS h
    FROM sp WHERE len(w) >= {_DECON_N}
  )
),
ev AS (SELECT DISTINCT h FROM sh WHERE split = 'test'),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh WHERE split = 'train' GROUP BY doc_id
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM sh JOIN ev USING (h)
  WHERE split = 'train'
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_contaminated AS BIGINT) AS n_contaminated,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination_ratio
FROM hits JOIN per_doc USING (doc_id)
"""


# ------------------------------------------------------- BPE tokenization --
# Frozen-pair-statistics BPE (ext/bpe.py): 2 rounds x 12 merges. The
# merges are DATA (corpus-derived, deterministic), so the Spark demos
# train driver-side and inline them as literals, while the oracle
# re-trains inside SQL (unrolled rounds) and applies the identical
# list_reduce replace chain - bit-for-bit the same rewriting.
_BPE_ROUNDS, _BPE_PER_ROUND = 2, 12

# shared SQL fragments: double-pipe char encoding + merge application.
# list_reduce has no initial-accumulator form in DuckDB, so the sequence
# string is PREPENDED to the merge list; each merge is packed as
# 'pattern<US>replacement' (unit separator chr(31)) and unpacked in the
# lambda.
_BPE_SYM_SQL = (
    "'||' || array_to_string(list_transform(range(1, length({w}) + 1),"
    " i -> substr({w}, i, 1)), '||') || '||'"
)
_BPE_APPLY_SQL = (
    "list_reduce(list_prepend({seq}, {ms}),"
    " (acc, m) -> replace(acc, string_split(m, chr(31))[1],"
    " string_split(m, chr(31))[2]))"
)
_BPE_TOKS_SQL = "list_filter(string_split_regex({seq}, '\\|+'), x -> x <> '')"

# one training round in SQL: adjacent-pair counts over the current
# symbol sequences -> top per_round merges by (count desc, l, r), packed
# for the reduce lambda. {seqs} must yield (w, seq) per word.
_BPE_ROUND_SQL = """
  SELECT list('|' || l || '||' || r || '|' || chr(31) || '|' || l || r || '|'
              ORDER BY rnk) AS ms,
         list(struct_pack(l := l, r := r, cnt := cnt) ORDER BY rnk) AS raw
  FROM (
    SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rnk
    FROM (
      SELECT syms[i] AS l, syms[i + 1] AS r, COUNT(*) AS cnt
      FROM (SELECT {toks} AS syms FROM ({seqs})) s,
           UNNEST(range(1, len(syms))) AS t(i)
      GROUP BY syms[i], syms[i + 1]
    )
    QUALIFY rnk <= {per_round}
  )
"""


def _bpe_round_sql(seqs: str) -> str:
    return _BPE_ROUND_SQL.format(
        toks=_BPE_TOKS_SQL.format(seq="seq"), seqs=seqs, per_round=_BPE_PER_ROUND
    )


_BPE_TRAIN_CTES = f"""words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
),
flat AS (SELECT unnest(ws) AS w FROM words),
seq0 AS (SELECT w, {_BPE_SYM_SQL.format(w="w")} AS seq FROM flat),
m1 AS ({_bpe_round_sql("SELECT seq FROM seq0")}),
seq1 AS (
  SELECT w, {_BPE_APPLY_SQL.format(seq="seq", ms="(SELECT ms FROM m1)")} AS seq
  FROM seq0
),
m2 AS ({_bpe_round_sql("SELECT seq FROM seq1")}),
mall AS (
  SELECT (SELECT ms FROM m1) || (SELECT ms FROM m2) AS ms,
         (SELECT raw FROM m1) || (SELECT raw FROM m2) AS raw
)"""


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table itself (rank, pair, merged symbol,
    frozen pair count) - training is deterministic (exact counts,
    lexicographic tiebreak), so the oracle re-derives the identical
    table inside SQL."""
    from scripts_toolkit_spark.ext import bpe as BPE

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    merges = BPE.train_bpe_merges(d, "text", _BPE_ROUNDS, _BPE_PER_ROUND)
    return spark.createDataFrame(
        [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_count bigint",
    )


BPE_MERGE_TABLE_SQL = f"""
WITH {_BPE_TRAIN_CTES}
SELECT CAST(i AS INT) AS rank,
       raw[i].l AS "left", raw[i].r AS "right",
       raw[i].l || raw[i].r AS merged,
       CAST(raw[i].cnt AS BIGINT) AS pair_count
FROM mall, UNNEST(range(1, len(raw) + 1)) AS t(i)
"""


def document_chunks_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE twin of `document_chunks`: the same 64-token / 48-stride
    windowing, but over SUBWORD tokens from the corpus-trained merge
    table instead of regex word tokens - the segmentation an LLM
    pipeline actually performs. Merges are trained driver-side
    (KB-scale) and inlined; encoding is the pure-expression path so the
    oracle replays it exactly."""
    from scripts_toolkit_spark.ext import bpe as BPE

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    merges = [
        (l, r) for l, r, _m, _c in BPE.train_bpe_merges(d, "text", _BPE_ROUNDS, _BPE_PER_ROUND)
    ]
    toks = BPE.encode_tokens_expr("text", merges)
    # materialize the token arrays: size + the per-chunk slices reference
    # `toks` several times and projection collapse would re-run the whole
    # BPE encode chain per reference
    d = d.select("doc_id", toks.alias("toks")).transform(_materialize)
    n = F.size("toks")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(_OVERLAP)).cast("double") / F.lit(_STRIDE)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_no"),
            F.array_join(F.slice("toks", i * _STRIDE + 1, _CHUNK), " ").alias("chunk_text"),
            F.least(n - i * _STRIDE, F.lit(_CHUNK)).cast("int").alias("n_chunk_tokens"),
        ),
    )
    return d.select(
        "doc_id", n.alias("n_tokens"), F.explode(chunks).alias("c")
    ).select(
        "doc_id",
        "n_tokens",
        F.col("c.chunk_no").alias("chunk_no"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


DOCUMENT_CHUNKS_BPE_SQL = f"""
WITH {_BPE_TRAIN_CTES},
enc AS (
  SELECT doc_id,
    flatten(list_transform(ws, w ->
      {_BPE_TOKS_SQL.format(seq=_BPE_APPLY_SQL.format(seq=_BPE_SYM_SQL.format(w="w"), ms="ms"))}
    )) AS toks
  FROM words, mall
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
    greatest(CAST(ceil(CAST(len(toks) - {_OVERLAP} AS DOUBLE) / {_STRIDE}) AS INT), 1) AS n_chunks
  FROM enc
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
  CAST(i AS INT) AS chunk_no,
  CAST(least(n_tokens - i * {_STRIDE}, {_CHUNK}) AS INT) AS n_chunk_tokens,
  array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ') AS chunk_text
FROM sized, UNNEST(range(n_chunks)) AS t(i)
"""


def unigram_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: train corpus-wide word
    probabilities p(w) = count(w)/total in one aggregate pass, then score
    each document by its average negative log-likelihood - the classic
    cheap perplexity proxy for corpus filtering (high avg NLL = rare-word
    soup / noise; low = repetitive boilerplate).

    Cross-engine float discipline (CLAUDE.md rules): ln(p) is per-row
    IEEE (libm in both engines - the tfidf precedent) and is rounded to
    6 dp then cast to DECIMAL(18,6) BEFORE the per-document SUM, so the
    reduction is exact and order-independent; the final average divides
    the exact decimal sum as double and rounds to 6 dp. The token->stats
    join is on the corpus vocabulary (an aggregate, vocabulary-sized; at
    open-web scale AQE decides the strategy - never force-broadcast)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    total = tok.count()
    lnp = F.round(F.log(F.col("cnt").cast("double") / F.lit(float(total))), 6).cast(
        "decimal(18,6)"
    )
    stats = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select("w", lnp.alias("lnp"))
    return (
        tok.join(stats, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("lnp").alias("s"))
        .select(
            "doc_id",
            "n_words",
            F.round(-F.col("s").cast("double") / F.col("n_words").cast("double"), 6).alias(
                "avg_nll"
            ),
        )
    )


UNIGRAM_NLL_SCORES_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
stats AS (
  SELECT w,
    CAST(round(ln(CAST(COUNT(*) AS DOUBLE) / (SELECT t FROM total)), 6) AS DECIMAL(18,6)) AS lnp
  FROM tok GROUP BY w
)
SELECT doc_id, COUNT(*) AS n_words,
  round(-CAST(SUM(lnp) AS DOUBLE) / COUNT(*), 6) AS avg_nll
FROM tok JOIN stats USING (w)
GROUP BY doc_id
"""


def _doc_avg_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_words, avg_nll): the unigram avg-NLL document
    score shared by `perplexity_buckets` (exact tertile cut) and
    `perplexity_buckets_sketch` (bottom-k rank-sample cut) — same float
    discipline as `unigram_nll_scores` (6-dp-rounded per-token ln p cast
    to DECIMAL before the per-doc SUM, so the sum is order-free)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = d.select("doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    total = tok.count()
    lnp = F.round(F.log(F.col("cnt").cast("double") / F.lit(float(total))), 6).cast(
        "decimal(18,6)"
    )
    stats = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).select("w", lnp.alias("lnp"))
    return (
        tok.join(stats, "w")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("lnp").alias("s"))
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.round(-F.col("s").cast("double") / F.col("n_words").cast("double"), 6).alias(
                "avg_nll"
            ),
        )
    )


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning (Wenzek et al.,
    2020, public): score every document with the unigram avg-NLL proxy
    (same float discipline as `unigram_nll_scores`: 6-dp-rounded per-token
    ln p cast to DECIMAL before the per-doc SUM), cut each language at its
    exact interpolated NLL tertiles (Spark `percentile` ↔ DuckDB
    `quantile_cont`, the `value_percentiles` parity pair), and report per
    (lang, bucket) document/token counts plus the exact-decimal mean NLL.

    Scale shape: one explode→hash-agg pass trains the LM, one hash-agg
    scores docs, the per-lang threshold frame is |langs| rows (equi-join
    back on lang — AQE broadcasts KB frames), and the final roll-up is
    |langs|·3 rows. No window anywhere. Documented trade: Spark's exact
    `percentile` buffers each language's scores in the aggregate state
    (~N/|langs| doubles per group) — fine for the oracle gate, and CCNet
    itself cuts on a sample; at open-web scale swap in the bounded-state
    histogram cut (`histogram_quantiles`'s fixed-bin machinery) or
    `approx_percentile`, trading the exact-replay property."""
    nll = _doc_avg_nll(spark, sf_dir)
    th = nll.groupBy("lang").agg(
        F.percentile("avg_nll", F.lit(1.0 / 3.0)).alias("t1"),
        F.percentile("avg_nll", F.lit(2.0 / 3.0)).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_nll") < F.col("t1"), "head")
        .when(F.col("avg_nll") < F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        nll.join(th, "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
            F.round(
                F.sum(F.col("avg_nll").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_nll"),
        )
    )


PERPLEXITY_BUCKETS_SQL = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
stats AS (
  SELECT w,
    CAST(round(ln(CAST(COUNT(*) AS DOUBLE) / (SELECT t FROM total)), 6) AS DECIMAL(18,6)) AS lnp
  FROM tok GROUP BY w
),
nll AS (
  SELECT doc_id, lang, COUNT(*) AS n_words,
    round(-CAST(SUM(lnp) AS DOUBLE) / COUNT(*), 6) AS avg_nll
  FROM tok JOIN stats USING (w)
  GROUP BY doc_id, lang
),
th AS (
  SELECT lang, quantile_cont(avg_nll, 1.0/3.0) AS t1,
         quantile_cont(avg_nll, 2.0/3.0) AS t2
  FROM nll GROUP BY lang
)
SELECT lang,
  CASE WHEN avg_nll < t1 THEN 'head'
       WHEN avg_nll < t2 THEN 'middle'
       ELSE 'tail' END AS bucket,
  COUNT(*) AS n_docs,
  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
  round(CAST(SUM(CAST(avg_nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_nll
FROM nll JOIN th USING (lang)
GROUP BY 1, 2
"""


def perplexity_buckets_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-thresholded CCNet bucketing (round-10 verdict Next #8):
    `perplexity_buckets`' exact per-lang interpolated tertile is the ONE
    remaining per-group full-buffer aggregate state at 100 TB — Spark's
    exact `percentile` holds every score of a language in memory. This
    variant cuts at the BOTTOM-K RANK-SAMPLE tertiles instead
    (ext/quantiles.py, k=256: bounded state, mergeable across
    shards/days, ~1/(2√k) rank error) and reports, per language, the
    BUCKET-ASSIGNMENT AGREEMENT RATE against the exact cut — the
    accuracy trade made measurable instead of asserted (pytest pins
    agreement ≥ 0.875 = 1 − 2/√k, the two-threshold rank-error bound;
    measured ≥0.95 at sf0.001). Deterministic end-to-end: the sample is
    an md5-prefix, the sketch tertile an exact stored double (the
    sample's own order statistic), and the agreement an int-count ratio
    — so DuckDB replays BOTH cuts and the comparison."""
    from scripts_toolkit_spark.ext.quantiles import bottomk_sample, sample_quantiles

    nll = _doc_avg_nll(spark, sf_dir)
    # two consumers (sample + per-doc bucket compare) — cut the scoring once
    nll = nll.transform(_materialize)
    th_exact = nll.groupBy("lang").agg(
        F.percentile("avg_nll", F.lit(1.0 / 3.0)).alias("t1"),
        F.percentile("avg_nll", F.lit(2.0 / 3.0)).alias("t2"),
    )
    sample = bottomk_sample(nll, ["lang"], "avg_nll", "doc_id", 256)
    th_sketch = sample_quantiles(
        sample, ["lang"], "avg_nll", {"t1_sketch": 1.0 / 3.0, "t2_sketch": 2.0 / 3.0}
    ).select("lang", "t1_sketch", "t2_sketch")

    def bucket(lo, hi):
        return (
            F.when(F.col("avg_nll") < F.col(lo), "head")
            .when(F.col("avg_nll") < F.col(hi), "middle")
            .otherwise("tail")
        )

    joined = nll.join(th_exact, "lang").join(th_sketch, "lang")
    agree = F.sum(
        F.when(bucket("t1", "t2") == bucket("t1_sketch", "t2_sketch"), 1).otherwise(0)
    ).cast("bigint")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        agree.alias("n_agree"),
        F.round(agree.cast("double") / F.count(F.lit(1)).cast("double"), 6).alias(
            "agreement"
        ),
        F.first("t1_sketch").alias("t1_sketch"),
        F.first("t2_sketch").alias("t2_sketch"),
    )


PERPLEXITY_BUCKETS_SKETCH_SQL = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
stats AS (
  SELECT w,
    CAST(round(ln(CAST(COUNT(*) AS DOUBLE) / (SELECT t FROM total)), 6) AS DECIMAL(18,6)) AS lnp
  FROM tok GROUP BY w
),
nll AS (
  SELECT doc_id, lang, COUNT(*) AS n_words,
    round(-CAST(SUM(lnp) AS DOUBLE) / COUNT(*), 6) AS avg_nll
  FROM tok JOIN stats USING (w)
  GROUP BY doc_id, lang
),
th AS (
  SELECT lang, quantile_cont(avg_nll, 1.0/3.0) AS t1,
         quantile_cont(avg_nll, 2.0/3.0) AS t2
  FROM nll GROUP BY lang
),
samp AS (
  SELECT lang, avg_nll
  FROM nll
  QUALIFY row_number() OVER (
    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), avg_nll) <= 256
),
sk AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sample,
    list_sort(list(avg_nll)) AS vs
  FROM samp GROUP BY lang
),
thsk AS (
  -- literals are repr(1/3)/repr(2/3): the ceil argument is the SAME
  -- IEEE double product Spark's F.ceil(F.lit(q) * n) computes
  SELECT lang,
    vs[greatest(1, CAST(ceil(0.3333333333333333 * n_sample) AS INT))] AS t1_sketch,
    vs[greatest(1, CAST(ceil(0.6666666666666666 * n_sample) AS INT))] AS t2_sketch
  FROM sk
),
cmp AS (
  SELECT n.lang, n.avg_nll,
    CASE WHEN avg_nll < t1 THEN 'head'
         WHEN avg_nll < t2 THEN 'middle' ELSE 'tail' END AS b_exact,
    CASE WHEN avg_nll < t1_sketch THEN 'head'
         WHEN avg_nll < t2_sketch THEN 'middle' ELSE 'tail' END AS b_sketch,
    t1_sketch, t2_sketch
  FROM nll n JOIN th USING (lang) JOIN thsk USING (lang)
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN b_exact = b_sketch THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
  round(CAST(SUM(CASE WHEN b_exact = b_sketch THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS agreement,
  MIN(t1_sketch) AS t1_sketch,
  MIN(t2_sketch) AS t2_sketch
FROM cmp
GROUP BY lang
"""


_DSIR_B = 1024  # hashed n-gram feature buckets (DSIR keeps B small on purpose)


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, public — Data Selection
    with Importance Resampling): score every document by its hashed-ngram
    importance weight between a TARGET distribution (here lang='en', the
    in-domain slice) and the RAW corpus, log w(doc) = Σ_features
    c_doc(b) · ln(p̂_target(b) / p̂_raw(b)) over B=1024 md5-bucketed
    unigram+bigram features with add-1 smoothing; report the global
    top-200 docs by weight — the selection a curation pipeline feeds to
    training. The standard alternative to classifier-based filtering
    when the target domain is small.

    Determinism/oracle: buckets are md5-prefix ints (the repo's
    conv↔'0x'-cast parity pair); each bucket's log-ratio is ONE ln of a
    quotient of two exactly-representable ints (products ≤ 1e14 < 2^53)
    rounded to 6 dp and cast DECIMAL, so the per-doc Σ c·λ is an exact
    decimal sum (order-free); ranking ties break on doc_id.

    Scale shape: one explode pass → three hash-aggs (doc×bucket, raw
    bucket counts, target bucket counts; the model is B=1024 rows — KB
    control plane, AQE broadcasts it into the per-doc join), then the
    two-stage `global_topk` — no single-task window over the corpus, no
    all-pairs anything. At 100 TB the bucket tables stay 1024 rows no
    matter the corpus."""
    from scripts_toolkit_spark.operators.topk import global_topk

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select("doc_id", "lang", F.split(F.lower("text"), " ").alias("w"))
    tail = F.greatest(F.size("w") - 1, F.lit(0))
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("w"),
                F.zip_with(
                    F.slice("w", 1, tail), F.slice("w", 2, tail),
                    lambda x, y: F.concat_ws(" ", x, y),
                ),
            )
        ).alias("g"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("g"))), 1, 8), 16, 10)
        .cast("long") % _DSIR_B
    )
    feats = grams.select("doc_id", "lang", bucket.alias("b")).transform(_materialize)
    # ONE per-bucket aggregate carries raw AND target counts (r14, guide
    # §1.2/§2.3: the former raw/tgt/tot trio re-aggregated the exploded
    # feats frame three times; cr and ct partial-combine map-side in one
    # pass, and the corpus-free 1024-row result yields the totals by
    # summation — exact ints either way, so lam is bit-identical)
    bstats = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = bstats.agg(F.sum("cr").alias("n_r"), F.sum("ct").alias("n_t"))
    # one ln per bucket of a quotient of EXACT ints (≤1e14 < 2^53): both
    # engines divide the same doubles and ln the same value
    lam = (
        bstats.crossJoin(tot)  # 1024 × one-row scalar: AQE broadcasts, exempt
        .select(
            "b",
            F.round(
                F.log(
                    ((F.col("ct") + 1) * (F.col("n_r") + F.lit(_DSIR_B))).cast("double")
                    / ((F.col("cr") + 1) * (F.col("n_t") + F.lit(_DSIR_B))).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lam"),
        )
    )
    # ONE corpus-scale shuffle for the per-doc weights (r15, guide §1.2/
    # §2.4): λ broadcast-joins onto the exploded feats DIRECTLY and one
    # groupBy(doc) sums it — the old doc×bucket pre-aggregate paid a full
    # extra exchange to produce counts the final agg immediately folded
    # away. Σ_grams λ_b ≡ Σ_b c_b·λ_b exactly (decimal sums are exact and
    # order-free; both paths cast the same scale-6 decimal to double), so
    # weight and n_feats (= Σ c = row count) are bit-identical.
    wts = (
        feats.join(lam, "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.round(F.sum("lam").cast("double"), 6).alias("weight"),
        )
    )
    return global_topk(
        wts, [F.desc("weight"), F.asc("doc_id")], 200
    ).select("doc_id", "lang", "n_feats", "weight", F.col("rank").cast("int").alias("rank"))


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, lang,
    unnest(w || list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                               i -> w[i] || ' ' || w[i + 1])) AS g
  FROM toks
),
feats AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5('dsir|' || g), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
  FROM grams
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_r,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
  FROM feats
),
raw AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b),
lam AS (
  SELECT b,
    CAST(round(ln(
      CAST((COALESCE(ct, 0) + 1) * (n_r + {_DSIR_B}) AS DOUBLE)
      / CAST((cr + 1) * (n_t + {_DSIR_B}) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lam
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
),
docb AS (
  SELECT doc_id, lang, b, COUNT(*) AS c FROM feats GROUP BY doc_id, lang, b
),
wts AS (
  SELECT doc_id, lang,
    CAST(SUM(c) AS BIGINT) AS n_feats,
    round(CAST(SUM(c * lam) AS DOUBLE), 6) AS weight
  FROM docb JOIN lam USING (b)
  GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_feats, weight,
  CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT) AS rank
FROM wts
QUALIFY rank <= 200
"""


# ------------------------------------------------- Bloom-filter membership --
# Completes the sketch family (HLL = cardinality, CMS = frequency,
# histogram = quantiles, Bloom = MEMBERSHIP): a 2^15-bit / 3-hash Bloom
# filter over the eval split's shingle digests, probed by the train side.
# At 100 TB the filter is a KB-scale bit-array AGGREGATE (1024 bit_or'd
# 32-bit words) that reaches every probe task without shuffling the eval
# digests - the standard first pass before the exact decontamination
# join. No false negatives by construction (bloom_hits >= exact_hits,
# pytest-pinned); false-positive rate is the load-factor formula.
_BLOOM_BITS, _BLOOM_K = 32768, 3


def _pow32() -> F.Column:
    # built lazily: Column construction needs an active session
    return F.array(*[F.lit(1 << b).cast("long") for b in range(32)])


def _bloom_pos(h: F.Column, j: int) -> F.Column:
    """Bit position j for digest h: md5-derived, engine-portable."""
    return (
        F.conv(F.substring(F.md5(F.concat(h, F.lit(f"|{j}"))), 1, 8), 16, 10).cast(
            "long"
        )
        % _BLOOM_BITS
    )


def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-pass of the train/eval decontamination join
    (`train_eval_overlap` twin): per train doc, how many distinct 8-word
    shingles the Bloom filter flags (bloom_hits, a SUPERSET) vs the
    exact digest join (exact_hits). The filter build is one hash
    aggregate over the eval digests; the probe joins a <=1024-row word
    table (bounded by construction - AQE broadcasts it, no hint)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _split_assign().alias("split"), F.split("text", " ").alias("w")
    )
    sh = d.where(F.size("w") >= _DECON_N).select(
        "doc_id",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(_DECON_N - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, _DECON_N))),
            )
        ).alias("h"),
    ).dropDuplicates(["doc_id", "split", "h"])
    train = sh.where(F.col("split") == "train").select("doc_id", "h").transform(_materialize)
    ev = sh.where(F.col("split") == "test").select("h").distinct().transform(_materialize)

    parr = F.array(*[_bloom_pos(F.col("h"), j) for j in range(_BLOOM_K)])
    bits = (
        ev.select(F.explode(parr).alias("p"))
        .select(
            (F.col("p") / 32).cast("int").alias("word"),
            (F.col("p") % 32).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.get(_pow32(), F.col("bit"))).alias("wv"))
    )
    probe = train.select("doc_id", "h", F.explode(parr).alias("p")).select(
        "doc_id",
        "h",
        (F.col("p") / 32).cast("int").alias("word"),
        (F.col("p") % 32).cast("int").alias("bit"),
    )
    bloom = (
        probe.join(bits, "word")
        .where(F.col("wv").bitwiseAND(F.get(_pow32(), F.col("bit"))) != 0)
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("k_hit"))
        .where(F.col("k_hit") == _BLOOM_K)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("bloom_hits"))
    )
    exact = train.join(ev, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("exact_hits")
    )
    per_doc = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        bloom.join(exact, "doc_id", "left")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "bloom_hits",
            F.coalesce("exact_hits", F.lit(0)).alias("exact_hits"),
        )
    )


BLOOM_DECONTAMINATION_SQL = f"""
WITH sp AS (
  SELECT doc_id,
    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
         THEN 'train'
         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9
         THEN 'val' ELSE 'test' END AS split,
    string_split(text, ' ') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, split, h
  FROM (
    SELECT doc_id, split,
      unnest(list_transform(range(1, len(w) - {_DECON_N} + 2),
        i -> md5(array_to_string(w[i:i+{_DECON_N}-1], ' ')))) AS h
    FROM sp WHERE len(w) >= {_DECON_N}
  )
),
train AS (SELECT doc_id, h FROM sh WHERE split = 'train'),
ev AS (SELECT DISTINCT h FROM sh WHERE split = 'test'),
evpos AS (
  SELECT CAST(('0x' || substr(md5(h || '|' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_BLOOM_BITS} AS p
  FROM ev, UNNEST(range({_BLOOM_K})) AS t(j)
),
bits AS (
  SELECT CAST(p // 32 AS INT) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS wv
  FROM evpos GROUP BY 1
),
probe AS (
  SELECT doc_id, h,
    CAST(('0x' || substr(md5(h || '|' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
      % {_BLOOM_BITS} AS p
  FROM train, UNNEST(range({_BLOOM_K})) AS t(j)
),
bloom AS (
  SELECT doc_id, COUNT(*) AS bloom_hits FROM (
    SELECT doc_id, h, COUNT(*) AS k_hit
    FROM probe JOIN bits ON bits.word = CAST(probe.p // 32 AS INT)
    WHERE (bits.wv & (CAST(1 AS BIGINT) << CAST(probe.p % 32 AS INT))) <> 0
    GROUP BY doc_id, h
  ) WHERE k_hit = {_BLOOM_K}
  GROUP BY doc_id
),
exact AS (
  SELECT doc_id, COUNT(*) AS exact_hits FROM train JOIN ev USING (h) GROUP BY doc_id
),
per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id)
SELECT b.doc_id, n_shingles, bloom_hits, coalesce(exact_hits, 0) AS exact_hits
FROM bloom b
LEFT JOIN exact USING (doc_id)
JOIN per_doc USING (doc_id)
"""


# ------------------------------------------------- char-n-gram language ID --
# The n-gram-heuristic language identifier (Cavnar & Trenkle '94 style,
# integer-scored): per-language profiles = the 32 most frequent char
# TRIGRAMS of that language's corpus slice; a document scores one point
# per trigram occurrence that hits a profile; predicted = argmax score
# (tiebreak lang asc). Scores are exact INTEGER counts, so the whole
# pipeline is deterministic with no float discipline at all. The profile
# table is 5 langs x 32 rows - bounded by construction, AQE broadcasts.
_LID_TOP = 32


def charngram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of trigram-profile language ID against the corpus'
    own lang labels: per language, document count, correctly-identified
    count (docs with no profile hits count as wrong), and accuracy.

    Honesty note: the synthetic corpus draws every lang label from the
    SAME English-ish vocabulary, so no classifier can beat ~chance here —
    the demo pins the n-gram-profile MECHANICS and their integer-exact
    determinism, not classifier quality (on real multilingual text the
    same profiles separate scripts/languages sharply)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # lowercase ONCE behind a materialization boundary: referenced from
    # inside the per-position transform lambda, an inline lower(text)
    # re-lowercases the whole document per trigram element
    low = d.select("doc_id", "lang", F.lower("text").alias("lt")).transform(_materialize)
    t = F.col("lt")
    # Short-doc guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0]
    # (emitting bogus grams for docs under 3 chars) where DuckDB's
    # range(1, 1) is empty — gate the whole gram array on length >= 3 so
    # both engines agree even on degenerate corpora.
    grams = F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: F.substring(t, i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_grams = low.select("doc_id", "lang", F.explode(grams).alias("g")).transform(_materialize)
    w = Window.partitionBy("plang").orderBy(F.desc("cnt"), F.asc("g"))
    profiles = (
        doc_grams.groupBy(F.col("lang").alias("plang"), "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _LID_TOP)
        .select("plang", "g")
    )
    scores = (
        doc_grams.join(profiles, "g")
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    pred = scores.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("plang").alias("plang")))[
            "plang"
        ].alias("predicted")
    )
    joined = d.select("doc_id", "lang").join(pred, "doc_id", "left")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "lang",
            "n_docs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("accuracy"),
        )
    )


CHARNGRAM_LANG_ID_SQL = f"""
WITH dg AS (
  SELECT doc_id, lang, unnest(
    list_transform(range(1, greatest(length(lower(text)) - 2, 0) + 1),
      i -> substr(lower(text), i, 3))) AS g
  FROM documents
),
profiles AS (
  SELECT plang, g FROM (
    SELECT lang AS plang, g, COUNT(*) AS cnt,
      row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS rn
    FROM dg GROUP BY lang, g
  ) WHERE rn <= {_LID_TOP}
),
scores AS (
  SELECT doc_id, plang, COUNT(*) AS score
  FROM dg JOIN profiles USING (g)
  GROUP BY doc_id, plang
),
pred AS (
  SELECT doc_id, plang AS predicted FROM (
    SELECT doc_id, plang,
      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
    FROM scores
  ) WHERE rn = 1
),
docs AS (SELECT DISTINCT doc_id, lang FROM documents)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  ROUND(CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS accuracy
FROM docs LEFT JOIN pred USING (doc_id)
GROUP BY lang
"""


def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent token
    pairs, top-40 — PMI = ln(N_bi · c_xy / (c_x · c_y)) over bigram and
    unigram counts from ONE tokenized pass (bigrams via a zip of the token
    array with its tail — no self-join). All counts are exact integers;
    the single ln is rounded to 6 dp (repo rule) and ranking tiebreaks on
    the pair text. Filters c_xy ≥ 5 so the spectrum is stable at every
    SF."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("w"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("bg")
    )
    uni = (
        toks.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    nbi = bi.agg(F.sum("c2").alias("n_bi"))
    scored = (
        bi.withColumn("x", F.split("bg", " ").getItem(0))
        .withColumn("y", F.split("bg", " ").getItem(1))
        .join(uni.withColumnsRenamed({"t": "x", "c1": "cx"}), "x")
        .join(uni.withColumnsRenamed({"t": "y", "c1": "cy"}), "y")
        .crossJoin(nbi)
        .where(F.col("c2") >= 5)
        .select(
            "bg",
            "c2",
            F.round(
                F.log(
                    F.col("n_bi").cast("double")
                    * F.col("c2").cast("double")
                    / (F.col("cx").cast("double") * F.col("cy").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    from scripts_toolkit_spark.operators.topk import global_topk

    return global_topk(scored, [F.desc("pmi"), F.asc("bg")], 40).select(
        "bg", "c2", "pmi", F.col("rank").cast("int").alias("rank")
    )


BIGRAM_PMI_COLLOCATIONS_SQL = """
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS w FROM documents
),
bigrams AS (
  SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                               i -> w[i] || ' ' || w[i + 1])) AS bg
  FROM toks
),
uni AS (
  SELECT t, COUNT(*) AS c1 FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t
),
bi AS (
  SELECT bg, COUNT(*) AS c2 FROM bigrams GROUP BY bg
),
nbi AS (SELECT CAST(SUM(c2) AS BIGINT) AS n_bi FROM bi),
scored AS (
  SELECT bg, c2,
    round(ln(CAST(n_bi AS DOUBLE) * CAST(c2 AS DOUBLE)
             / (CAST(cx.c1 AS DOUBLE) * CAST(cy.c1 AS DOUBLE))), 6) AS pmi
  FROM bi
  JOIN uni cx ON cx.t = split_part(bg, ' ', 1)
  JOIN uni cy ON cy.t = split_part(bg, ' ', 2)
  CROSS JOIN nbi
  WHERE c2 >= 5
)
SELECT bg, c2, pmi, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, bg ASC) AS rank FROM scored
)
WHERE rank <= 40
"""


def trending_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift detection between two corpus slices (the check a
    training pipeline runs when a new crawl lands): token frequencies in
    slice A (even doc_id) vs slice B (odd), add-one-smoothed log-ratio
    score, top-20 A-trending tokens. One tokenized pass, per-slice counts
    via conditional sums in the SAME aggregate; ln rounded 6 dp."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).alias("cb"),
    )
    scored = counts.where(F.col("ca") + F.col("cb") >= 20).select(
        "token",
        "ca",
        "cb",
        F.round(
            F.log(
                (F.col("ca").cast("double") + F.lit(1.0))
                / (F.col("cb").cast("double") + F.lit(1.0))
            ),
            6,
        ).alias("shift_score"),
    )
    from scripts_toolkit_spark.operators.topk import global_topk

    return global_topk(scored, [F.desc("shift_score"), F.asc("token")], 20).select(
        "token", F.col("ca").cast("bigint").alias("ca"),
        F.col("cb").cast("bigint").alias("cb"), "shift_score",
        F.col("rank").cast("int").alias("rank"))


TRENDING_TOKENS_SQL = """
WITH tok AS (
  SELECT doc_id % 2 = 0 AS in_a, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
counts AS (
  SELECT token,
    SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS cb
  FROM tok GROUP BY token
),
scored AS (
  SELECT token, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
    round(ln((CAST(ca AS DOUBLE) + 1.0) / (CAST(cb AS DOUBLE) + 1.0)), 6) AS shift_score
  FROM counts WHERE ca + cb >= 20
)
SELECT token, ca, cb, shift_score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY shift_score DESC, token ASC) AS rank FROM scored
)
WHERE rank <= 20
"""


def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-strategy comparison from ONE token-count scan: how many
    2048-token training sequences (and what padding fraction) each
    strategy costs — pad-per-document (every doc rounded up to whole
    sequences) vs shard-parallel concat-then-chunk (the
    pack_training_sequences layout, where only each shard's LAST sequence
    pads). The decision table an LLM-data pipeline consults before
    materializing terabytes of sequences; all integer arithmetic plus one
    division per row."""
    d = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    budget = F.lit(_PACK_BUDGET)
    pad_doc = d.agg(
        F.sum(F.ceil(F.col("n_tokens") / budget)).alias("n_sequences"),
        F.sum("n_tokens").alias("total_tokens"),
    ).select(
        F.lit("pad_per_document").alias("strategy"),
        "n_sequences",
        "total_tokens",
        F.round(
            (F.col("n_sequences") * budget - F.col("total_tokens")).cast("double")
            / (F.col("n_sequences") * budget).cast("double"),
            6,
        ).alias("padding_frac"),
    )
    packed = (
        d.groupBy("shard")
        .agg(F.sum("n_tokens").alias("st"))
        .agg(
            F.sum(F.ceil(F.col("st") / budget)).alias("n_sequences"),
            F.sum("st").alias("total_tokens"),
        )
        .select(
            F.lit("shard_packed").alias("strategy"),
            "n_sequences",
            "total_tokens",
            F.round(
                (F.col("n_sequences") * budget - F.col("total_tokens")).cast("double")
                / (F.col("n_sequences") * budget).cast("double"),
                6,
            ).alias("padding_frac"),
        )
    )
    return pad_doc.unionByName(packed)


PACKING_EFFICIENCY_REPORT_SQL = f"""
WITH d AS (
  SELECT doc_id % {_PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
pad_doc AS (
  SELECT 'pad_per_document' AS strategy,
    CAST(SUM(CAST(ceil(CAST(n_tokens AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)) AS BIGINT) AS n_sequences,
    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM d
),
packed AS (
  SELECT 'shard_packed' AS strategy,
    CAST(SUM(CAST(ceil(CAST(st AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)) AS BIGINT) AS n_sequences,
    CAST(SUM(st) AS BIGINT) AS total_tokens
  FROM (SELECT shard, SUM(n_tokens) AS st FROM d GROUP BY shard)
)
SELECT strategy, n_sequences, total_tokens,
  round(CAST(n_sequences * {_PACK_BUDGET} - total_tokens AS DOUBLE)
        / CAST(n_sequences * {_PACK_BUDGET} AS DOUBLE), 6) AS padding_frac
FROM pad_doc
UNION ALL
SELECT strategy, n_sequences, total_tokens,
  round(CAST(n_sequences * {_PACK_BUDGET} - total_tokens AS DOUBLE)
        / CAST(n_sequences * {_PACK_BUDGET} AS DOUBLE), 6) AS padding_frac
FROM packed
"""


# ------------------------------------------- DSIR-composed corpus prep ----
# r12 (round-11 verdict Next #6): `corpus_prep_pipeline` predates the r11
# selection stack — its sampling stage is a flat 1-in-2 hash cut. This
# capstone replaces it with the selection a pretraining pipeline actually
# runs: DSIR importance ACCEPTANCE (accept doc with probability
# p = logistic(weight / s), tested against the doc's own md5-uniform — the
# deterministic Bernoulli form of importance resampling, the standard
# at-scale approximation of sampling ∝ exp(log w)) composed with the
# token-budget prefix-sum cut over md5 priority. Every stage reuses an
# oracle-proven fragment: quality/canon/gate from CORPUS_PREP_PIPELINE_SQL,
# the hashed-ngram log-ratio model from DSIR_IMPORTANCE_WEIGHTS_SQL, the
# bucketed prefix sum from TOKEN_BUDGET_SAMPLE_SQL.
_CPD_BUDGET = 4_000  # binds at every SF (accepted tokens ≥ ~5.6k at sf0.001)
_CPD_S = 2.0  # logistic temperature: mid probabilities for moderate weights


def corpus_prep_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep capstone, r12 edition — the full selection chain
    over `documents`:

        quality score → canonical-dedup survivor pick → quality gate
          → DSIR hashed-ngram importance weight (target = lang 'en',
            model fit on the RAW corpus as the paper does)
          → importance acceptance  u_doc < logistic(weight / 2)
          → token-budget prefix-sum cut (md5 priority, 4k tokens)

    Determinism: weight is the exact-decimal Σ c·λ of
    `dsir_importance_weights` rounded to 6 dp, p rounds to 6 dp (the ln /
    exp last-ulp discipline of that demo), u is an exact dyadic
    md5-prefix / 2³², and the budget cut replays the bucketed
    prefix-sum. Scale shape: the model is B=1024 rows (KB, AQE
    broadcasts); the only corpus shuffles are the canon-digest window,
    the three hash-aggs of the model fit, and the 256-bucket prefix-sum
    window — nothing all-pairs, nothing single-task. Measured enrichment:
    the accepted set is ~1.7× more target-language than the survivor
    pool (pytest-pinned)."""
    par = spark.sparkContext.defaultParallelism
    d = load_table(spark, sf_dir, "documents").repartition(par)
    from scripts_toolkit_spark.ext import text as TX

    canon = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " ")), " +", " "
    )
    scored = d.select(
        "doc_id",
        "lang",
        TX.quality_score("text").alias("quality"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(canon).alias("canon_key"),
    )
    wdup = Window.partitionBy("canon_key")
    surv = (
        scored.withColumn("keep", F.min("doc_id").over(wdup))
        .where((F.col("doc_id") == F.col("keep")) & (F.col("quality") >= 0.65))
        .select("doc_id", "lang", "quality", "n_tokens")
    )

    # DSIR model + per-doc weights — the dsir_importance_weights stages
    toks = d.select("doc_id", "lang", F.split(F.lower("text"), " ").alias("w"))
    tail = F.greatest(F.size("w") - 1, F.lit(0))
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("w"),
                F.zip_with(
                    F.slice("w", 1, tail), F.slice("w", 2, tail),
                    lambda x, y: F.concat_ws(" ", x, y),
                ),
            )
        ).alias("g"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("g"))), 1, 8), 16, 10)
        .cast("long") % _DSIR_B
    )
    feats = grams.select("doc_id", "lang", bucket.alias("b")).transform(_materialize)
    # ONE per-bucket aggregate instead of the raw/tgt/tot trio — same
    # collapse as `dsir_importance_weights` (r14, guide §1.2/§2.3);
    # exact ints, lam bit-identical
    bstats = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = bstats.agg(F.sum("cr").alias("n_r"), F.sum("ct").alias("n_t"))
    lam = (
        bstats.crossJoin(tot)  # 1024 × one-row scalar: AQE broadcasts, exempt
        .select(
            "b",
            F.round(
                F.log(
                    ((F.col("ct") + 1) * (F.col("n_r") + F.lit(_DSIR_B))).cast("double")
                    / ((F.col("cr") + 1) * (F.col("n_t") + F.lit(_DSIR_B))).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lam"),
        )
    )
    # ONE corpus-scale shuffle for the per-doc weights — same collapse as
    # `dsir_importance_weights` above (r15, guide §1.2/§2.4): λ broadcast-
    # joins onto the exploded feats and one groupBy(doc_id) sums it;
    # Σ_grams λ_b ≡ Σ_b c_b·λ_b exactly (order-free decimal sums, same
    # scale-6 decimal→double), so weight is bit-identical.
    wts = (
        feats.join(lam, "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lam").cast("double"), 6).alias("weight"))
    )

    # importance acceptance: u < logistic(weight / s)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("cpd|"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("weight") / F.lit(_CPD_S))), 6)
    acc = (
        surv.join(wts, "doc_id")
        .where(u < p)
        .select("doc_id", "lang", "quality", "n_tokens", "weight")
    )

    # token-budget prefix-sum over md5 priority (token_budget_sample shape)
    keyed = acc.withColumn("pri", F.md5(F.col("doc_id").cast("string"))).withColumn(
        "bucket", F.substring("pri", 1, 2)
    )
    win = (
        Window.partitionBy("bucket")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    # lit(0) = intentional single partition over the 256-row bucket
    # totals (see scale_demos.token_budget_sample; allowlisted in the
    # global-window plan lint)
    woff = (
        Window.partitionBy(F.lit(0))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        keyed.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("btok"))
        .select("bucket", F.coalesce(F.sum("btok").over(woff), F.lit(0)).alias("boff"))
    )
    return (
        keyed.withColumn("__within", within)
        .join(offsets, "bucket")
        .select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            "weight",
            (F.col("boff") + F.col("__within")).cast("bigint").alias("cum_before"),
        )
        .where(F.col("cum_before") < _CPD_BUDGET)
    )


CORPUS_PREP_DSIR_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents
),
scored AS (
  SELECT doc_id, lang,
    0.3 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      + 0.25 * (CASE WHEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(len(w), 1) >= 3.0
                      AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / greatest(len(w), 1) <= 10.0
                 THEN 1.0 ELSE 0.3 END)
      + 0.2 * least(CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], lower(x)))) AS DOUBLE)
                    / greatest(len(w), 1) * 5.0, 1.0)
      + 0.25 * CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1) AS quality,
    CAST(len(w) AS BIGINT) AS n_tokens,
    md5(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' +', ' ', 'g')) AS canon_key
  FROM base
),
surv AS (
  SELECT doc_id, lang, quality, n_tokens FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY canon_key) AS keep FROM scored)
  WHERE doc_id = keep AND quality >= 0.65
),
toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, lang,
    unnest(w || list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                               i -> w[i] || ' ' || w[i + 1])) AS g
  FROM toks
),
feats AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5('dsir|' || g), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
  FROM grams
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_r,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
  FROM feats
),
raw AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b),
lam AS (
  SELECT b,
    CAST(round(ln(
      CAST((COALESCE(ct, 0) + 1) * (n_r + {_DSIR_B}) AS DOUBLE)
      / CAST((cr + 1) * (n_t + {_DSIR_B}) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lam
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
),
docb AS (SELECT doc_id, b, COUNT(*) AS c FROM feats GROUP BY doc_id, b),
wts AS (
  SELECT doc_id, round(CAST(SUM(c * lam) AS DOUBLE), 6) AS weight
  FROM docb JOIN lam USING (b) GROUP BY doc_id
),
acc AS (
  SELECT s.doc_id, s.lang, s.quality, s.n_tokens, w.weight
  FROM surv s JOIN wts w USING (doc_id)
  WHERE CAST(('0x' || substr(md5('cpd|' || CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          / 4294967296.0
        < round(1.0 / (1.0 + exp(-w.weight / {_CPD_S})), 6)
),
c AS (
  SELECT doc_id, lang, quality, n_tokens, weight,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM acc
)
SELECT doc_id, lang, quality, n_tokens, weight, cum_before
FROM c WHERE cum_before < {_CPD_BUDGET}
"""


def sequence_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PACKER itself (r12 — `packing_efficiency_report` prices the
    strategies; this op MATERIALIZES the winning one): every document
    gets its (global training-sequence id, token offset, sequences
    spanned) under shard-parallel concat-then-chunk packing — docs
    concatenate in md5-deterministic order within their shard and chunk
    into 2048-token sequences, spanning boundaries GPT-style; only each
    shard's last sequence pads. This is the assignment a 100 TB pipeline
    writes back beside the corpus before materializing sequences.

    Scale shape: one per-shard token prefix sum (window bounded by shard
    size, never N) + a |shards|-row shard-base prefix (the
    token_budget_sample two-level machinery) equi-joined back (KB, AQE
    broadcasts). All integer arithmetic — exact div/mod, no doubles —
    so the oracle replays bit-for-bit."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(win), F.lit(0)).cast("bigint")
    # lit(0) = intentional single partition over the |shards|-row base
    # totals (allowlisted in the global-window plan lint)
    wbase = (
        Window.partitionBy(F.lit(0))
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        d.groupBy("shard")
        .agg(F.sum("n_tokens").alias("st"))
        .select(
            "shard",
            F.coalesce(
                F.sum(F.expr(f"(st + {_PACK_BUDGET} - 1) div {_PACK_BUDGET}")).over(wbase),
                F.lit(0),
            ).cast("bigint").alias("seq_base"),
        )
    )
    B = _PACK_BUDGET
    return (
        d.withColumn("cum", cum)
        .join(bases, "shard")
        .select(
            "doc_id",
            "shard",
            (F.col("seq_base") + F.expr(f"cum div {B}")).cast("bigint").alias("seq_id"),
            F.expr(f"cum % {B}").cast("bigint").alias("tok_offset"),
            "n_tokens",
            (
                F.expr(f"(cum + n_tokens - 1) div {B}") - F.expr(f"cum div {B}") + 1
            ).cast("int").alias("seqs_spanned"),
        )
    )


SEQUENCE_PACK_ASSIGNMENTS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS pri
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY pri, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
  FROM d
),
bases AS (
  SELECT shard,
         CAST(COALESCE(SUM((st + {_PACK_BUDGET} - 1) // {_PACK_BUDGET}) OVER (
           ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS seq_base
  FROM (SELECT shard, SUM(n_tokens) AS st FROM d GROUP BY shard)
)
SELECT doc_id, shard,
  CAST(seq_base + cum // {_PACK_BUDGET} AS BIGINT) AS seq_id,
  CAST(cum % {_PACK_BUDGET} AS BIGINT) AS tok_offset,
  n_tokens,
  CAST((cum + n_tokens - 1) // {_PACK_BUDGET} - cum // {_PACK_BUDGET} + 1 AS INT)
    AS seqs_spanned
FROM c JOIN bases USING (shard)
"""
