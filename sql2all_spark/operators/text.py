"""Text analysis for training-data pipelines: language ID (stopword-marker
heuristic), quality scoring (length/punct/stopword ratios), token counting
(whitespace + regex word/punct tokenization), and document fingerprinting
(normalized rolling hash).

All row-local JVM expressions → embarrassingly parallel, no shuffle at any
scale; each output row derives only from its input row.  This is the filter
stage that runs *before* dedup/similarity in a 100 TB curation pipeline, so
being shuffle-free matters most here.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.hashing import base_hash_sql
from sql2all_spark.functions.ngram_lm import (
    TOKENS_SQL,
    UNIGRAM_ORACLE,
    VOCAB,
    tokens as _tokens,
    unigram_doc_scores,
)
from sql2all_spark.cache import materialize_tracked, persist_tracked
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

# Marker stopwords per language for the heuristic language-ID scorer.  (The
# fixture's text is synthetic word-soup; accuracy vs the `lang` column is
# not the point — the operator shape is: per-lang marker-hit scores → argmax.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "和"],
}
ENGLISH_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def _split_words(text: Column) -> Column:
    """Bare split on ' ': a whitespace run yields '' tokens.  The operators
    that still use it have oracles that split the same way; the others
    tokenize with the n-gram LM core's rule (``_tokens``: drop '')."""
    return F.split(text, " ")


def _marker_hits(tokens: Column, markers: list[str]) -> Column:
    """How many tokens are in the marker list (JVM array filter, no UDF)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def _marker_hits_sql(markers: list[str]) -> str:
    lit = "[" + ",".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter({TOKENS_SQL}, t -> list_contains({lit}, t)))"


@register(
    "text_language_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang AS actual_lang,
         {_marker_hits_sql(LANG_MARKERS["en"])} AS s_en,
         {_marker_hits_sql(LANG_MARKERS["es"])} AS s_es,
         {_marker_hits_sql(LANG_MARKERS["fr"])} AS s_fr,
         {_marker_hits_sql(LANG_MARKERS["de"])} AS s_de,
         {_marker_hits_sql(LANG_MARKERS["zh"])} AS s_zh
  FROM documents
)
SELECT doc_id, actual_lang,
       CASE GREATEST(s_en, s_es, s_fr, s_de, s_zh)
         WHEN 0 THEN 'unknown'
         WHEN s_en THEN 'en'
         WHEN s_es THEN 'es'
         WHEN s_fr THEN 'fr'
         WHEN s_de THEN 'de'
         ELSE 'zh' END AS predicted_lang,
       GREATEST(s_en, s_es, s_fr, s_de, s_zh) AS marker_hits
FROM scored
""",
    doc="Heuristic language ID: per-language stopword-marker hit counts →"
    " argmax (ties broken by the fixed en>es>fr>de>zh order in both"
    " engines).  Row-local; no shuffle.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    langs = list(LANG_MARKERS)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[
            _marker_hits(toks, LANG_MARKERS[lg]).alias(f"s_{lg}")
            for lg in langs
        ],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.when(best == 0, "unknown")
    for lg in langs:
        pred = pred.when(F.col(f"s_{lg}") == best, lg)
    return scored.select(
        "doc_id",
        "actual_lang",
        pred.alias("predicted_lang"),
        best.alias("marker_hits"),
    )


@register(
    "text_quality_score",
    oracle=f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_actual,
       len({TOKENS_SQL}) AS n_tokens,
       CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
         / LENGTH(text) AS punct_ratio,
       CAST({_marker_hits_sql(ENGLISH_STOPWORDS)} AS DOUBLE)
         / len({TOKENS_SQL}) AS stopword_ratio,
       CAST(LENGTH(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS DOUBLE) AS approx_words,
       CASE WHEN LENGTH(text) BETWEEN 100 AND 20000
             AND len({TOKENS_SQL}) >= 10
            THEN 1 ELSE 0 END AS passes_length_gate
FROM documents
""",
    doc="Quality scoring: char/token counts, punctuation ratio, stopword"
    " ratio, and a length gate — the standard cheap pre-filter ahead of"
    " dedup in a curation pipeline.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    toks = _tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    punct_ratio = (
        (n_chars - F.length(F.regexp_replace(text, "[^a-zA-Z ]", ""))).cast("double")
        / n_chars
    )
    stop_ratio = _marker_hits(toks, ENGLISH_STOPWORDS).cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (F.length(F.regexp_replace(text, "[^ ]", "")) + 1)
        .cast("double")
        .alias("approx_words"),
        F.when(n_chars.between(100, 20000) & (n_tokens >= 10), 1)
        .otherwise(0)
        .alias("passes_length_gate"),
    )


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       len({TOKENS_SQL}) AS ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_ish_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+')) AS word_tokens,
       CAST(LENGTH(text) AS DOUBLE) / len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
         AS chars_per_token
FROM documents
WHERE LENGTH(text) > 0
""",
    doc="Token counting: whitespace tokens vs a BPE-ish regex tokenization"
    " (word runs + single punctuation marks) — the standard budget estimator"
    " for LLM corpora.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    text = F.col("text")
    bpe_ish = F.regexp_count(text, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"))
    return d.select(
        "doc_id",
        F.size(_tokens(text)).alias("ws_tokens"),
        bpe_ish.alias("bpe_ish_tokens"),
        F.regexp_count(text, F.lit("[a-zA-Z]+")).alias("word_tokens"),
        (F.length(text).cast("double") / bpe_ish).alias("chars_per_token"),
    )


@register(
    "text_fingerprint",
    oracle="""
WITH fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
         substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8)
           AS shard_key
  FROM documents
)
SELECT fingerprint, shard_key, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
FROM fp
GROUP BY fingerprint, shard_key
""",
    doc="Document fingerprinting: whitespace-normalized md5 + an 8-hex-char"
    " shard key (the partition key you would bucket a 100 TB dedup store"
    " by), grouped to expose duplicate clusters.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = F.md5(normalized)
    return (
        d.select(
            "doc_id",
            fp.alias("fingerprint"),
            F.substring(fp, 1, 8).alias("shard_key"),
        )
        .groupBy("fingerprint", "shard_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


# PII patterns: Java and DuckDB regex dialects agree on this subset
# (character classes, +, {n,m}, alternation — no lookbehind).
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
ID_RE = r"\b[0-9]{9,16}\b"


@register(
    "text_pii_scrub",
    oracle=f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
           '{PHONE_RE}', '[PHONE]', 'g'),
         '{ID_RE}', '[ID]', 'g') AS scrubbed,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones
FROM documents
WHERE doc_id < 200
""",
    doc="PII scrubbing: email/phone/long-numeric-id redaction via chained"
    " regexp_replace — the compliance stage that must run before any"
    " corpus leaves the pipeline.  Row-local JVM regex (no UDF); counts"
    " emitted alongside so the scrub is auditable.  Patterns restricted to"
    " the regex subset Java and DuckDB interpret identically.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"),
            PHONE_RE,
            "[PHONE]",
        ),
        ID_RE,
        "[ID]",
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).alias("n_phones"),
    )


@register(
    "text_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
)
SELECT token, COUNT(*) AS n
FROM toks
WHERE token <> ''
GROUP BY token
ORDER BY n DESC NULLS LAST, token ASC NULLS FIRST
LIMIT 25
""",
    doc="Vocabulary-head extraction: exact top-25 most frequent tokens."
    " The scalable two-phase shape: explode → map-side partial counts →"
    " one shuffle of (token, partial_count) → final counts →"
    " TakeOrderedAndProject (per-partition bounded heaps, single merge —"
    " never a global sort).  Raw text never shuffles, only token/count"
    " pairs; at 100 TB the shuffle volume is the distinct-token set per"
    " partition, not the corpus.  Deterministic tiebreak on the token.",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc_nulls_last(), F.col("token").asc_nulls_first())
        .limit(25)
    )


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


@register(
    "text_chunk_windows",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {TOKENS_SQL} AS w FROM documents
),
s AS (
  SELECT doc_id, w,
         UNNEST(range(1, GREATEST(len(w), 1) + 1, {CHUNK_STRIDE})) AS start
  FROM d
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
       CAST(start AS INT) AS chunk_start,
       CAST(len(w[start:start + {CHUNK_TOKENS - 1}]) AS INT) AS n_chunk_tokens,
       array_to_string(w[start:start + {CHUNK_TOKENS - 1}], ' ') AS chunk_text
FROM s
""",
    doc=f"Sliding-window document chunking ({CHUNK_TOKENS}-token windows,"
    f" stride {CHUNK_STRIDE}): the LLM-ingestion step that splits long"
    " documents into overlapping context-window-sized pieces.  The window"
    " fan-out is explode(sequence(...)) + slice — all JVM, inside"
    " whole-stage codegen, no shuffle; output rows carry stable"
    " (doc_id, chunk_id) keys so downstream dedup/embedding stages can"
    " reference chunks deterministically.",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_windows(load_table(spark, sf_dir, "documents"))


def chunk_windows(d: DataFrame) -> DataFrame:
    """The chunking transformation itself, usable on any (doc_id, text)
    frame — including an UNBOUNDED one: every expression is stateless and
    row-local, so the same plan runs as a streaming stage (see
    ``streaming/jobs.py:chunk_stream`` and the stream≡twin pytest)."""
    w = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunk = F.slice(F.col("w"), F.col("chunk_start"), CHUNK_TOKENS)
    return (
        w.select("doc_id", "w", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            ((F.col("chunk_start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


PACK_CAP = 256  # context-window budget in tokens


@register(
    "text_pack_sequences",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT lang, doc_id, len({TOKENS_SQL}) AS n_tok,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
  WHERE len({TOKENS_SQL}) <= {PACK_CAP}
),
walk AS (
  SELECT lang, rn, doc_id, n_tok,
         0 AS pack_id, n_tok AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.lang, d.rn, d.doc_id, d.n_tok,
         CASE WHEN w.fill + d.n_tok <= {PACK_CAP}
              THEN w.pack_id ELSE w.pack_id + 1 END,
         CASE WHEN w.fill + d.n_tok <= {PACK_CAP}
              THEN w.fill + d.n_tok ELSE d.n_tok END
  FROM walk w JOIN d ON d.lang = w.lang AND d.rn = w.rn + 1
)
SELECT lang, CAST(pack_id AS INT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM walk
GROUP BY lang, pack_id
""",
    doc=f"Greedy sequence packing: fill {PACK_CAP}-token context windows"
    " with whole documents in doc_id order per language stream (docs over"
    " budget are excluded).  Packing is INHERENTLY sequential per stream —"
    " each decision depends on the running fill — so it runs as an"
    " applyInPandas stateful scan per group: parallelism comes from the"
    " partition-by-stream axis (at 100 TB: thousands of shard streams, one"
    " sequential pass each), exactly how production packers shard.  The"
    " oracle replays the same greedy walk as a recursive CTE, so the"
    " Python path is value-checked end-to-end.",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("n_tok"),
    ).filter(F.col("n_tok") <= PACK_CAP)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        fill, pid, ids = PACK_CAP + 1, -1, []
        for n in pdf["n_tok"]:
            if fill + n <= PACK_CAP:
                fill += n
            else:
                pid += 1
                fill = n
            ids.append(pid)
        pdf["pack_id"] = pd.Series(ids, dtype="int32")
        return pdf

    packed = toks.groupBy("lang").applyInPandas(
        pack, schema="lang string, doc_id long, n_tok int, pack_id int"
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "text_repetition_score",
    oracle="""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]) AS grams
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT doc_id,
       CAST(len(grams) AS INT) AS n_grams,
       CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
       ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
         AS repetition
FROM g
""",
    doc="Intra-document repetition score (Gopher-style quality rule): the"
    " fraction of duplicated word-trigrams inside each document.  High"
    " repetition flags boilerplate/spam/looping generations before they"
    " enter training data.  Row-local array ops, no shuffle; the trigram"
    " list is built once per doc from a materialized split.",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _split_words(F.col("text")).alias("w")).filter(
        F.size("w") >= 3
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("w"), i),
            F.element_at(F.col("w"), i + 1),
            F.element_at(F.col("w"), i + 2),
        ),
    )
    g = w.select("doc_id", grams.alias("grams"))
    return g.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.array_distinct("grams")).alias("n_distinct"),
        F.round(
            1.0 - F.size(F.array_distinct("grams")).cast("double") / F.size("grams"),
            6,
        ).alias("repetition"),
    )


# 3-word shingles / 2-shared threshold: sized to the synthetic word-soup
# fixture (5-grams never collide there).  A real pipeline over natural text
# would use 8-13-gram shingles — only these two constants change.
CONTAM_GRAM = 3  # words per shingle used for contamination matching
CONTAM_MIN_SHARED = 2  # shared shingles to flag a (train, eval) pair


# Shingle id = the three 20-bit token hashes PACKED into one 60-bit int
# (md5 runs per TOKEN, not per gram: ~3x less hash input than hashing the
# concatenated gram strings, and the per-position work becomes pure integer
# arithmetic — identical in both engines, no mulmod overflow anywhere).
# 2^20 token buckets keep same-bucket token collisions negligible at any
# realistic vocabulary; widen the bucket (and shrink the gram) before
# widening the gram at constant width.
CONTAM_TOKEN_BITS = 20


def _contam_pack_sql() -> str:
    """DuckDB 60-bit packed gram id over the token-hash list ``th``."""
    return " + ".join(
        f"th[i+{k}] * {1 << (CONTAM_TOKEN_BITS * (CONTAM_GRAM - 1 - k))}"
        for k in range(CONTAM_GRAM)
    )


@register(
    "text_contamination_check",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        t -> {base_hash_sql('t')} % {1 << CONTAM_TOKEN_BITS}) AS th
  FROM documents
  WHERE len(string_split(text, ' ')) >= {CONTAM_GRAM}
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(th) - {CONTAM_GRAM - 2}),
           i -> {_contam_pack_sql()})) AS hg
  FROM t
),
ev AS (SELECT doc_id, UNNEST(hg) AS h FROM grams WHERE doc_id % 100 = 0),
tr AS (SELECT doc_id, UNNEST(hg) AS h FROM grams WHERE doc_id % 100 <> 0)
SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
       COUNT(*) AS n_shared
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id, ev.doc_id
HAVING COUNT(*) >= {CONTAM_MIN_SHARED}
""",
    doc="Benchmark-contamination detection: flag training documents sharing"
    f" >= {CONTAM_MIN_SHARED} distinct {CONTAM_GRAM}-word shingles with any"
    " held-out eval document (eval set = doc_id % 100 == 0 here; in"
    " production, the benchmark corpus).  Same sparse inverted-index shape"
    " as dedup_ngram_jaccard but ASYMMETRIC: the eval side is tiny and its"
    " exploded shingle table acts as the probe set — at 100 TB the eval"
    " index broadcasts and the train scan streams against it, no train-"
    "train pairs ever form.  Shingle ids pack per-token 20-bit md5 hashes"
    " into 60-bit ints (md5 per token, integer packing per position — the"
    " md5-per-gram variant spent ~3x the hash CPU and was the suite's"
    " heaviest query at every scale); raw text never shuffles.",
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql2all_spark.functions.hashing import base_hash

    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _split_words(F.col("text")).alias("w")).filter(
        F.size("w") >= CONTAM_GRAM
    )
    # token hashes MATERIALIZED as a real column (the _shingles inlining
    # trap: element_at over a lambda-built array re-derives the whole
    # transform per access, making gram packing O(words²)).  Safe here
    # because CollapseProject declines to inline a non-cheap alias that
    # the consumer references more than once (th appears in size() + three
    # element_at's) — test_plans pins the materialization.
    t = w.select(
        "doc_id",
        F.transform(
            "w", lambda tok: base_hash(tok) % (1 << CONTAM_TOKEN_BITS)
        ).alias("th"),
    )
    pack = lambda i: reduce(  # noqa: E731
        lambda acc, k: acc
        + F.element_at(F.col("th"), i + k)
        * F.lit(1 << (CONTAM_TOKEN_BITS * (CONTAM_GRAM - 1 - k))),
        range(1, CONTAM_GRAM),
        F.element_at(F.col("th"), i)
        * F.lit(1 << (CONTAM_TOKEN_BITS * (CONTAM_GRAM - 1))),
    )
    hg = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("th") - (CONTAM_GRAM - 1)),
            lambda i: pack(i),
        )
    )
    # explode(hg) INLINE in one select — projecting hg into its own column
    # and exploding in a second select puts the Generate in a codegen stage
    # that re-evaluates the packed-gram projection per OUTPUT ELEMENT
    # (measured 46s vs 0.96s at sf0.1 for the identical result)
    ev = t.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("eval_doc"), F.explode(hg).alias("h")
    )
    tr = t.filter(F.col("doc_id") % 100 != 0).select(
        F.col("doc_id").alias("train_doc"), F.explode(hg).alias("h")
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


@register(
    "text_unigram_lm_score",
    oracle=UNIGRAM_ORACLE,
    doc=f"Unigram language-model document quality score — the KenLM-filter"
    " stand-in: two corpus passes (token counts -> top-"
    f"{VOCAB} vocabulary with MLE probabilities; then per-doc"
    " average -log p with out-of-vocabulary tokens backed off to 1/total)."
    "  Low scores = high-probability boilerplate, high scores = gibberish"
    " — the standard perplexity-band filter in corpus curation.  Scale"
    " shape: one partial-agg shuffle of slim (token, count) pairs, exact"
    " top-V via TakeOrderedAndProject (bounded heap, never a global sort),"
    " vocabulary BROADCAST back (bounded at V rows regardless of corpus"
    " size), then one keyed per-doc agg — raw text never crosses an"
    " exchange.  Per-token scores are fixed-point BIGINTs so the doc sum"
    " is exact and order-free in both engines.",
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one definition, shared with operators/ccnet.py and operators/dsir.py
    return unigram_doc_scores(spark, sf_dir)


DUP_SPAN_GRAM = 5  # word n-gram length for cross-document span detection


def dup_gram_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h): every {DUP_SPAN_GRAM}-gram position whose hash
    also occurs in at least one OTHER document — the shared inverted-
    index front end of text_dup_ngram_spans and the template miner
    (operators/template.py).  Only slim (doc_id, pos, hash64) rows ever
    shuffle; cross-doc detection is the partial-agg MIN/MAX-by-hash
    trick, no distinct-count Expand and no join back to raw text."""
    from sql2all_spark.functions.hashing import base_hash

    n = DUP_SPAN_GRAM
    from sql2all_spark.spread import spread_fanout

    d = load_table(spark, sf_dir, "documents")
    # §2.5 re-spread: the 5-gram join+hash transform below is the
    # scan-side CPU mass of the whole template family and the fixture
    # scan is one unsplittable row group (measured ~0.9 s single-task,
    # twice, at the head of every consumer); no-op on multi-split
    # layouts.  Downstream is all integer/hash math.
    w = spread_fanout(d.select("doc_id", "text")).select(
        "doc_id", _split_words(F.col("text")).alias("w")
    ).filter(F.size("w") >= n)
    pos = F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("pos")
    p = w.select("doc_id", "w", pos)
    grams = p.select(
        "doc_id",
        "pos",
        base_hash(F.array_join(F.slice(F.col("w"), F.col("pos"), n), " ")).alias(
            "h"
        ),
        # Eager: the dup-side broadcast build and the probe side both
        # reference grams; left lazy they race and each computes the
        # gram explode+hash pass (cache.materialize_tracked).
    ).transform(materialize_tracked)
    dup = (
        grams.groupBy("h")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("h")
    )
    return grams.join(dup, "h").select("doc_id", "pos", "h")


@register(
    "text_dup_ngram_spans",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {DUP_SPAN_GRAM}
),
p AS (
  SELECT doc_id, w,
         UNNEST(range(1, len(w) - {DUP_SPAN_GRAM - 1} + 1)) AS pos
  FROM d
),
g AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         {base_hash_sql(f"array_to_string(w[pos:pos + {DUP_SPAN_GRAM - 1}], ' ')")} AS h
  FROM p
),
dup AS (
  SELECT h FROM g GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
),
hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos ASC) AS grp
  FROM hits
)
SELECT doc_id,
       CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + {DUP_SPAN_GRAM - 1} AS INT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_dup_ngrams
FROM isl GROUP BY doc_id, grp
""",
    doc=f"Exact duplicated-n-gram span detection ({DUP_SPAN_GRAM}-word"
    " grams): finds maximal token spans that also appear verbatim in at"
    " least one OTHER document — the operator behind boilerplate/license/"
    "template removal in corpus hygiene (report the spans, not just a"
    " doc-level verdict).  Inverted-index shape like dedup_ngram_jaccard:"
    " only slim (doc_id, pos, hash64) rows ever shuffle — raw text stays"
    " columnar in the scan; cross-doc detection is a partial-agg"
    " min/max-by-hash (no distinct-count Expand); consecutive duplicated"
    " positions merge into spans via the gaps-and-islands window keyed by"
    " doc.  At 100 TB the exchanges carry ~tokens-per-doc 16-byte rows,"
    " and the final window only sees positions that already matched.",
)
def text_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    n = DUP_SPAN_GRAM
    hits = dup_gram_hits(spark, sf_dir).select("doc_id", "pos")
    win = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    isl = hits.withColumn("grp", F.col("pos") - F.row_number().over(win))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_ngrams"),
        )
        .select("doc_id", "span_start", "span_end", "n_dup_ngrams")
    )


PMI_MIN_COUNT = 3  # bigram support threshold before ranking
PMI_TOP = 50


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
tot AS (
  SELECT CAST(SUM(len(w)) AS DOUBLE) AS t,
         CAST(SUM(len(w) - 1) AS DOUBLE) AS b
  FROM d
),
toks AS (
  SELECT UNNEST(w) AS token FROM d
),
uni AS (
  SELECT token, COUNT(*) AS c FROM toks GROUP BY token
),
bp AS (
  SELECT w, UNNEST(range(1, len(w))) AS i FROM d WHERE len(w) >= 2
),
bc AS (
  SELECT w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS c12
  FROM bp GROUP BY w1, w2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       ROUND(LN((CAST(c12 AS DOUBLE) / b)
                / ((CAST(u1.c AS DOUBLE) / t) * (CAST(u2.c AS DOUBLE) / t))),
             6) AS pmi
FROM bc
JOIN uni u1 ON u1.token = w1
JOIN uni u2 ON u2.token = w2, tot
ORDER BY pmi DESC NULLS LAST, w1 ASC NULLS FIRST, w2 ASC NULLS FIRST
LIMIT {PMI_TOP}
""",
    doc=f"Pointwise-mutual-information collocation mining: top-{PMI_TOP}"
    f" adjacent word pairs (support >= {PMI_MIN_COUNT}) by"
    " PMI = ln(p(w1,w2) / (p(w1) p(w2))) — the classic phrase/collocation"
    " extractor (Church & Hanks 1990) used to build tokenizer merge"
    " candidates and stop-phrase lists in corpus curation.  Scale shape:"
    " bigrams are generated ROW-LOCAL from the token array (no"
    " self-join); the exchanges carry only (w1, w2, partial count) and"
    " (token, partial count) pairs — map-side combine collapses each"
    " partition to its distinct pair set, and the min-count filter prunes"
    " the long tail before the two slim count joins; corpus totals are a"
    " 1-row broadcast; final ranking is TakeOrderedAndProject with a"
    " bounded heap.  Raw text never crosses an exchange.",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _split_words(F.col("text")).alias("w")
    )
    tot = d.agg(
        F.sum(F.size("w")).cast("double").alias("t"),
        F.sum(F.size("w") - 1).cast("double").alias("b"),
    )
    uni = (
        d.select(F.explode("w").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = d.filter(F.size("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("w"), i).alias("w1"),
                    F.element_at(F.col("w"), i + 1).alias("w2"),
                ),
            )
        ).alias("pr")
    ).select("pr.w1", "pr.w2")
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12").cast("double") / F.col("b"))
            / (
                (F.col("c1").cast("double") / F.col("t"))
                * (F.col("c2").cast("double") / F.col("t"))
            )
        ),
        6,
    )
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(
            F.col("pmi").desc_nulls_last(),
            F.col("w1").asc_nulls_first(),
            F.col("w2").asc_nulls_first(),
        )
        .limit(PMI_TOP)
    )


WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # winnowing window (guarantee threshold t = K + W - 1 = 8)


@register(
    "text_winnow_fingerprint",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
),
p AS (
  SELECT doc_id, w, UNNEST(range(1, len(w) - {WINNOW_K - 1} + 1)) AS pos
  FROM d
),
g AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         {base_hash_sql(f"array_to_string(w[pos:pos + {WINNOW_K - 1}], ' ')")} AS h
  FROM p
),
mx AS (
  SELECT doc_id, MAX(pos) AS m FROM g GROUP BY doc_id
),
wins AS (
  SELECT g.doc_id, g.pos AS ws,
         MIN(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos ASC
                      ROWS BETWEEN CURRENT ROW
                      AND {WINNOW_W - 1} FOLLOWING) AS wmin
  FROM g
),
valid AS (
  SELECT wins.doc_id, ws, wmin FROM wins
  JOIN mx ON mx.doc_id = wins.doc_id
  WHERE ws <= m - {WINNOW_W - 1}
),
sel AS (
  SELECT v.doc_id, v.ws, MAX(g2.pos) AS fp_pos
  FROM valid v
  JOIN g g2 ON g2.doc_id = v.doc_id
           AND g2.pos BETWEEN v.ws AND v.ws + {WINNOW_W - 1}
           AND g2.h = v.wmin
  GROUP BY v.doc_id, v.ws
)
SELECT DISTINCT s.doc_id, s.fp_pos, g.h AS fp_hash
FROM sel s
JOIN g ON g.doc_id = s.doc_id AND g.pos = s.fp_pos
""",
    doc=f"Robust winnowing document fingerprint (Schleimer, Wilkerson &"
    f" Aiken 2003, the MOSS algorithm): hash every {WINNOW_K}-token gram,"
    f" slide a {WINNOW_W}-gram window, keep the RIGHTMOST minimum hash of"
    " each window; the distinct kept (position, hash) set is the"
    " fingerprint — guaranteed to share a hash with any copy of at least"
    f" t = {WINNOW_K + WINNOW_W - 1} tokens, at ~2/(w+1) sampling density."
    "  The position-aware upgrade of text_fingerprint for plagiarism/"
    "overlap detection.  Scale shape: the entire select — gram hashing"
    " and the per-window rightmost-argmin fold — is ROW-LOCAL JVM"
    " higher-order functions over the token array (zero shuffle, zero"
    " UDF); only the distinct on slim (doc_id, pos, hash64) rows"
    " exchanges.  The oracle rebuilds the same selection relationally"
    " (frame-min window + rightmost-position join).",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql2all_spark.functions.hashing import base_hash

    k, w = WINNOW_K, WINNOW_W
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _split_words(F.col("text")).alias("w")
    ).filter(F.size("w") >= k + w - 1)
    # Materialize gram hashes as a REAL column: Catalyst inlines cheap
    # lambda-built expressions into every use site (NOTES.md), and the
    # windowed argmin below reads h O(w) times per position.
    grams = d.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (k - 1)),
            lambda p: base_hash(F.array_join(F.slice(F.col("w"), p, k), " ")),
        ).alias("h"),
    )
    # Rightmost-min fold per window: `<=` keeps the LATEST position on
    # ties, which is exactly the robust-winnowing tie rule.
    sel = grams.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                transform(sequence(1, size(h) - {w - 1}), s ->
                  aggregate(sequence(s, s + {w - 1}),
                            struct(CAST(9223372036854775807 AS BIGINT) AS mv,
                                   CAST(-1 AS INT) AS p),
                            (acc, q) -> IF(element_at(h, q) <= acc.mv,
                                           struct(element_at(h, q) AS mv,
                                                  CAST(q AS INT) AS p),
                                           acc)))
                """
            )
        ).alias("fp"),
    )
    return sel.select(
        "doc_id",
        F.col("fp.p").alias("fp_pos"),
        F.col("fp.mv").alias("fp_hash"),
    ).distinct()
