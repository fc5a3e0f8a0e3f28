"""Text analysis for large-scale training-data pipelines.

North-star extension (BASELINE.json): language-ID (stopword n-gram
heuristic), quality scoring (length/punct/stopword ratios), token
counting (whitespace + BPE-ish regex), and document fingerprinting —
all over the ``documents`` fixture.

Everything is built-in-function Spark (whole-stage codegen, zero
Python in the row path): at 100 TB these run as a single scan with
no shuffle at all — embarrassingly parallel per-document transforms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from motorway_spark.catalog import Catalog
from motorway_spark.queries.registry import query

# Tiny per-language stopword profiles for the lang-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
}

_PUNCT = "[.,;:!?'\"()-]"
_PUNCT_SQL = _PUNCT.replace("'", "''")  # escaped for use inside SQL literals
_BPE_TOKEN = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"


def _tokens(col) -> Column:
    return F.split(F.col(col) if isinstance(col, str) else col, " ")


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    """# tokens (lowercased) appearing in the stopword list."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, F.lower(t))))


def _sql_stopword_hits(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> list_contains([{lst}], lower(t))))"


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique_tokens,
           ROUND(CAST(length(text) - len(toks) + 1 AS DOUBLE) / len(toks), 6) AS avg_token_len,
           len(regexp_extract_all(text, '{_PUNCT_SQL}')) AS n_punct,
           {_sql_stopword_hits(STOPWORDS['en'])} AS n_stopwords,
           ROUND(CAST({_sql_stopword_hits(STOPWORDS['en'])} AS DOUBLE) / len(toks), 6)
             AS stopword_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: char/token/unique-token counts, average
    token length, punctuation count, stopword ratio."""
    docs = Catalog(spark, sf_dir).documents
    toks = _tokens("text")
    n_toks = F.size(toks)
    sw = _stopword_hits(toks, STOPWORDS["en"])
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(
            (F.length("text") - n_toks + 1).cast("double") / n_toks, 6
        ).alias("avg_token_len"),
        F.regexp_count("text", F.lit(_PUNCT)).alias("n_punct"),
        sw.alias("n_stopwords"),
        F.round(sw.cast("double") / n_toks, 6).alias("stopword_ratio"),
    )


def _lang_scores(tokens: Column) -> dict[str, Column]:
    return {lang: _stopword_hits(tokens, words) for lang, words in STOPWORDS.items()}


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 {_sql_stopword_hits(STOPWORDS['en'])} AS s_en,
                 {_sql_stopword_hits(STOPWORDS['de'])} AS s_de,
                 {_sql_stopword_hits(STOPWORDS['fr'])} AS s_fr,
                 {_sql_stopword_hits(STOPWORDS['es'])} AS s_es
          FROM t)
    SELECT doc_id, lang AS labeled_lang, s_en, s_de, s_fr, s_es,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with a deterministic argmax
    (priority order en > de > fr > es on ties)."""
    docs = Catalog(spark, sf_dir).documents
    toks = _tokens("text")
    s = _lang_scores(toks)
    pred = (
        F.when(F.greatest(*s.values()) == 0, "unknown")
        .when(s["en"] >= F.greatest(s["de"], s["fr"], s["es"]), "en")
        .when(s["de"] >= F.greatest(s["fr"], s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s["en"].alias("s_en"),
        s["de"].alias("s_de"),
        s["fr"].alias("s_fr"),
        s["es"].alias("s_es"),
        pred.alias("predicted_lang"),
    )


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
                 CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(len(regexp_extract_all(text, '{_PUNCT_SQL}')) AS DOUBLE)
                           / length(text) END AS punct_ratio,
                 CAST({_sql_stopword_hits(STOPWORDS['en'])} AS DOUBLE) / len(toks)
                   AS stop_ratio
          FROM t)
    SELECT doc_id,
           ROUND(0.4 * least(n_tokens / 50.0, 1.0)
               + 0.3 * uniq_ratio
               + 0.2 * least(stop_ratio * 5, 1.0)
               + 0.1 * (1.0 - least(punct_ratio * 10, 1.0)), 6) AS quality_score,
           n_tokens >= 10 AND uniq_ratio > 0.2 AS passes_filter
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score in [0,1]: length, lexical diversity,
    stopword plausibility, punctuation sanity — the usual pre-training
    corpus filter shape (C4/Gopher-style rules, public recipes)."""
    docs = Catalog(spark, sf_dir).documents
    toks = _tokens("text")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks)).cast("double") / n
    # empty text: define punct_ratio as 0 rather than 0/0 (ANSI Spark
    # raises DIVIDE_BY_ZERO; DuckDB yields inf — found by the
    # degenerate-input smoke; the identical CASE lives in the oracle)
    punct = F.when(
        F.length("text") > 0,
        F.regexp_count("text", F.lit(_PUNCT)).cast("double") / F.length("text"),
    ).otherwise(F.lit(0.0))
    stop = _stopword_hits(toks, STOPWORDS["en"]).cast("double") / n
    score = (
        0.4 * F.least(n / F.lit(50.0), F.lit(1.0))
        + 0.3 * uniq
        + 0.2 * F.least(stop * 5, F.lit(1.0))
        + 0.1 * (1.0 - F.least(punct * 10, F.lit(1.0)))
    )
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        ((n >= 10) & (uniq > 0.2)).alias("passes_filter"),
    )


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE_TOKEN}')) AS bpe_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_est_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex pieces,
    and the bytes/4 heuristic."""
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        F.size(_tokens("text")).alias("ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_TOKEN)).alias("bpe_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("byte_est_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
           substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 8)
             AS shard_key
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 of whitespace-collapsed,
    lowercased text. The 8-hex-char prefix doubles as a uniform shard
    key — at 100 TB, dedup shuffles route on this 4-byte key instead
    of the full text."""
    docs = Catalog(spark, sf_dir).documents
    norm = F.lower(F.trim(F.regexp_replace("text", " +", " ")))
    fp = F.md5(norm.cast("binary"))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("shard_key")
    )


@query(
    "text_commonness_score",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
    freq AS MATERIALIZED (
      SELECT t, COUNT(*) AS corpus_count FROM tok GROUP BY t)
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(corpus_count) AS BIGINT) AS common_sum,
           ROUND(CAST(SUM(corpus_count) AS DOUBLE) / COUNT(*), 4)
             AS avg_commonness
    FROM tok JOIN freq USING (t)
    GROUP BY doc_id
    """,
)
def text_commonness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics document scoring — the two-pass shape of every
    'train stats on the corpus, then score each doc' pipeline op
    (unigram LM scoring, TF-IDF, stopword induction): pass 1 aggregates
    global token frequencies, pass 2 joins them back token-keyed and
    re-aggregates per document. All-integer arithmetic (corpus counts,
    one final division) keeps it bit-exact cross-engine — no log/float
    accumulation.

    Scale shape: two token-keyed shuffles (freq agg, score join); the
    frequency table is vocabulary-sized, vastly smaller than the corpus,
    and the head of the distribution broadcast-joins under AQE when it
    fits. Nothing is quadratic; no driver-side state.
    """
    docs = Catalog(spark, sf_dir).documents
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("corpus_count"))
    return (
        tok.join(freq, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("corpus_count").alias("common_sum"),
            F.round(
                F.sum("corpus_count").cast("double") / F.count("*"), 4
            ).alias("avg_commonness"),
        )
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
    tf AS MATERIALIZED (
      SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS MATERIALIZED (
      SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
    scored AS (
      SELECT doc_id, t, tf, df,
             ROUND(CAST(tf * n AS DOUBLE) / df, 6) AS score
      FROM tf JOIN df USING (t), n_docs)
    SELECT doc_id, t AS term, score FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, t) AS rn
      FROM scored)
    WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms. The idf uses the raw ratio
    N/df instead of ln(N/df): ln is monotone, so the RANKING is
    identical, and the score stays one integer-ratio division —
    bit-exact cross-engine, where libm log would differ in final ulps.

    Scale shape: tf (doc,term) agg and df (term) agg both shuffle on
    the term/doc keys once; the scored join is term-keyed; the top-3
    bound pushes into the shuffle as WindowGroupLimit.
    """
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    # Deliberately kept as three parallel branches of one job: caching
    # the (doc, term) tf rollup to cut the explode to one pass was
    # measured SLOWER at sf0.1 (same-session interleaved best-of-3
    # 1.51 -> 1.87 s) — the redundant branches run concurrently on
    # idle cores while an eager persist fill serializes (guide §5/
    # §1.3).
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df = tok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = tok.agg(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round((F.col("tf") * F.col("n")).cast("double") / F.col("df"), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "t")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("t").alias("term"), "score")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters).
# ---------------------------------------------------------------------------
@query(
    "text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    big AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
      FROM (SELECT doc_id, toks AS w, UNNEST(range(1, len(toks))) AS i FROM t)),
    counts AS (
      SELECT doc_id, bigram, COUNT(*) AS c
      FROM big GROUP BY doc_id, bigram),
    top AS (
      -- n_bigrams must be computed BEFORE the rn=1 filter: windows in
      -- the same SELECT evaluate after WHERE, which would leave only
      -- the top row in the partition
      SELECT doc_id, bigram AS top_bigram, c AS top_count,
             CAST(n_bigrams AS BIGINT) AS n_bigrams
      FROM (SELECT *,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, bigram) AS rn,
                   SUM(c) OVER (PARTITION BY doc_id) AS n_bigrams
            FROM counts)
      WHERE rn = 1),
    toks AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_unique
      FROM t)
    SELECT k.doc_id,
           ROUND(1.0 - CAST(k.n_unique AS DOUBLE) / k.n_tokens, 6)
             AS dup_token_frac,
           p.top_bigram,
           ROUND(CAST(p.top_count AS DOUBLE) / p.n_bigrams, 6)
             AS top_bigram_frac
    FROM toks k JOIN top p USING (doc_id)
    WHERE k.n_tokens >= 2
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals per document — the Gopher-style quality
    filters that catch boilerplate/degenerate text the length and
    stopword heuristics miss: duplicate-token fraction (1 - unique/total)
    and the fraction of all bigrams taken by the single most frequent
    bigram (ties broken lexicographically so the reported bigram is
    deterministic cross-engine). High values on either → keyboard-mash,
    scraped menus, templated spam.

    Scale shape: bigrams explode to rows so the count runs in codegen
    with map-side partial aggregation keyed by (doc_id, bigram) — the
    wordcount shape, linear in corpus size; the top-1 selection is a
    WindowGroupLimit over the per-doc counts. No all-corpus state: every
    aggregate is keyed by doc_id.
    """
    docs = Catalog(spark, sf_dir).documents
    par = spark.sparkContext.defaultParallelism
    toks = _tokens("text")
    base = docs.repartition(par).select(
        "doc_id",
        toks.alias("w"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    ).filter(F.col("n_tokens") >= 2)
    bigrams = base.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i), F.element_at("w", i + 1)
                ),
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "bigram").agg(
        F.count("*").alias("c"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("n_unique").alias("n_unique"),
    )
    from pyspark.sql import Window

    w_top = Window.partitionBy("doc_id").orderBy(F.desc("c"), "bigram")
    w_doc = Window.partitionBy("doc_id")
    return (
        counts.withColumn("n_bigrams", F.sum("c").over(w_doc))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.round(
                1.0 - F.col("n_unique").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            F.col("bigram").alias("top_bigram"),
            F.round(F.col("c").cast("double") / F.col("n_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing).
# ---------------------------------------------------------------------------
_ENTITY_RE = "Customer#[0-9]+"
_AMOUNT_RE = "-?[0-9]+[.][0-9]+"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH t AS (
      SELECT c_custkey,
             c_name || ' balance ' || CAST(c_acctbal AS VARCHAR)
                    || ' segment ' || c_mktsegment AS text
      FROM customer)
    SELECT c_custkey,
           regexp_replace(regexp_replace(text, '{_ENTITY_RE}', '<NAME>', 'g'),
                          '{_AMOUNT_RE}', '<AMOUNT>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{_ENTITY_RE}'))
              + len(regexp_extract_all(text, '{_AMOUNT_RE}')) AS BIGINT)
             AS n_redactions
    FROM t
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training-data pipeline
    runs before text leaves the trust boundary: replace
    personally-identifying spans with typed placeholder tokens and emit
    a per-record redaction count (the audit that proves the scrub ran).
    Patterns here are entity ids and money amounts (what the TPC-H-ish
    fixtures actually contain, so the oracle is NON-vacuous — every row
    redacts); production swaps in email/phone/SSN patterns, same plan.

    Pattern dialect note: Spark regexes are java.util.regex, DuckDB's
    are RE2 — the patterns stay inside the common subset (character
    classes, quantifiers; no lookaround, which RE2 lacks), and DuckDB's
    regexp_replace needs the explicit 'g' flag to match Spark's
    replace-all default.

    Scale shape: pure map over one scan, zero shuffle, fully codegen'd
    (regexp_replace/regexp_count are JVM-side Catalyst expressions, not
    UDFs).
    """
    cust = Catalog(spark, sf_dir).customer
    text = F.concat(
        F.col("c_name"),
        F.lit(" balance "),
        F.col("c_acctbal").cast("string"),
        F.lit(" segment "),
        F.col("c_mktsegment"),
    )
    t = cust.select("c_custkey", text.alias("text"))
    return t.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _ENTITY_RE, "<NAME>"),
            _AMOUNT_RE,
            "<AMOUNT>",
        ).alias("redacted"),
        (
            F.regexp_count(F.col("text"), F.lit(_ENTITY_RE))
            + F.regexp_count(F.col("text"), F.lit(_AMOUNT_RE))
        )
        .cast("bigint")
        .alias("n_redactions"),
    )


@query(
    "text_surprisal_lm",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2),
    bg AS MATERIALIZED (
      SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bigram
      FROM tok, UNNEST(range(1, len(toks))) AS t(i)),
    bgc AS MATERIALIZED (
      SELECT bigram, COUNT(*) AS c_bg FROM bg GROUP BY bigram),
    pfx AS MATERIALIZED (
      SELECT w1, COUNT(*) AS c_w1 FROM bg GROUP BY w1)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(length(bin(c_w1 // c_bg))) AS BIGINT) AS sum_bits,
           ROUND(CAST(SUM(length(bin(c_w1 // c_bg))) AS DOUBLE) / COUNT(*), 6)
             AS mean_bits
    FROM bg JOIN bgc USING (bigram) JOIN pfx USING (w1)
    GROUP BY doc_id
    """,
)
def text_surprisal_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM surprisal scoring — the perplexity-proxy
    quality filter of CCNet/KenLM-style pipelines (train an n-gram LM on
    the corpus, score each document by its average per-token surprisal;
    high-surprisal docs are gibberish/OCR noise, very-low-surprisal docs
    are boilerplate), replacing the reference's per-document scoring
    intersections (motorway/intersection.py:24-47 1:1 transform shape)
    with a corpus-trained statistical model.

    The surprisal of bigram (w1 w2) is the INTEGER bit count
    ``length(bin(c(w1) div c(w1 w2)))`` = floor(log2 ratio)+1 — a
    monotone integer quantization of -log2 P(w2|w1) = log2(c(w1)/c(w1
    w2)). Pure int64 arithmetic end-to-end (counts, integer division,
    binary digit length — Spark `bin` and DuckDB `bin` agree
    bit-for-bit), so the oracle is exact with no float accumulation;
    the one division producing ``mean_bits`` is a single IEEE op on
    exact integers, identical in both engines.

    Scale shape (100 TB): the classic two-pass train-then-score — pass 1
    builds the bigram and prefix count tables (two hash aggregates with
    map-side partial combine, vocabulary-sized outputs, far smaller than
    the corpus); pass 2 joins them back bigram-/prefix-keyed (AQE
    broadcasts the head of the Zipf distribution when it fits) and
    re-aggregates per document. Nothing quadratic, no driver state, no
    Python in the row path. Docs with <2 tokens (incl. NULL/empty text)
    have no bigram and are excluded — same WHERE on both engines.
    """
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.concat_ws(
                        " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                    ).alias("bigram"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.bigram")
    bgc = bg.groupBy("bigram").agg(F.count("*").alias("c_bg"))
    pfx = bg.groupBy("w1").agg(F.count("*").alias("c_w1"))
    bits = F.length(F.bin(F.expr("c_w1 div c_bg")))
    return (
        bg.join(bgc, "bigram")
        .join(pfx, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(bits).cast("bigint").alias("sum_bits"),
            F.round(
                F.sum(bits).cast("double") / F.count("*"), 6
            ).alias("mean_bits"),
        )
    )


# boilerplate gate: a chunk in >= this many DISTINCT docs is template text
BP_MIN_DF = 3


@query(
    "text_boilerplate_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
    tok AS (
      SELECT doc_id, unnest(tokens) AS tok,
             generate_subscripts(tokens, 1) AS ord
      FROM toks),
    chunks AS (
      SELECT doc_id,
             CAST(floor((ord - 1) / 10) AS BIGINT) AS idx,
             string_agg(tok, ' ' ORDER BY ord) AS chunk
      FROM tok GROUP BY doc_id, CAST(floor((ord - 1) / 10) AS BIGINT)),
    df AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.idx, c.chunk
      FROM chunks c JOIN df USING (chunk) WHERE df < {BP_MIN_DF}),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_chunks_total FROM chunks GROUP BY doc_id),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_chunks_kept,
             string_agg(chunk, ' ' ORDER BY idx) AS kept_text
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           t.n_chunks_total,
           COALESCE(r.n_chunks_kept, 0) AS n_chunks_kept,
           t.n_chunks_total - COALESCE(r.n_chunks_kept, 0) AS n_boilerplate,
           COALESCE(r.kept_text, '') AS kept_text
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """,
)
def text_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL, CCNet-style: drop every chunk whose exact
    text appears in >= BP_MIN_DF(=3) DISTINCT documents — template
    headers/footers/navigation repeated across a crawl — and rebuild
    each document from what remains. The complement of
    dedup_chunk_global (dedup.py): that keeps the globally FIRST copy
    of a repeated span (dedup semantics); this removes ALL copies of
    corpus-frequent spans including the first (hygiene semantics) —
    both are standard rungs of a crawl-cleaning ladder and they
    compose (boilerplate first, then keep-first on what's left).

    Scale shape (100 TB): identical to dedup_chunk_global — chunking is
    a pure map (split + sequence + slice, no explode shuffle); the
    document-frequency gate aggregates a 16-byte md5 fingerprint
    (map-side combinable, count-distinct over doc_id); the verdict
    rejoins by fingerprint (anti join vs the tiny boilerplate set —
    broadcastable: |{{df >= 3}}| is corpus-template-sized, not
    corpus-sized); reassembly is one hash aggregate per doc. NULL/empty
    docs produce zero chunks and drop out on both engines.
    """
    from motorway_spark.queries.dedup import CHUNK_TOKENS

    docs = Catalog(spark, sf_dir).documents
    # NULL text yields no token row in DuckDB (unnest(NULL) = 0 rows)
    # but size(NULL) = -1 here, and sequence(0, -1) step-infers to
    # [0, -1] — two phantom NULL chunks. Drop NULL docs explicitly.
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.col("text"), " ").alias("tokens")
    )
    n_chunks = F.ceil(F.size("tokens") / F.lit(CHUNK_TOKENS)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(F.col("tokens"), i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
        ),
    )
    chunks = (
        toks.select("doc_id", F.posexplode(chunk_arr).alias("idx", "chunk"))
        .withColumn("idx", F.col("idx").cast("long"))
        .withColumn("fp", F.md5(F.col("chunk").cast("binary")))
    )
    boiler = (
        chunks.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BP_MIN_DF)
        .select("fp")
    )
    kept = chunks.join(F.broadcast(boiler), "fp", "left_anti")
    totals = chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks_total"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("kept_text"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_chunks_total",
        F.coalesce("n_chunks_kept", F.lit(0)).alias("n_chunks_kept"),
        (
            F.col("n_chunks_total") - F.coalesce("n_chunks_kept", F.lit(0))
        ).alias("n_boilerplate"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring.
# ---------------------------------------------------------------------------
# Okapi BM25 free parameters (Robertson et al., TREC-3): k1 saturates
# term frequency, b interpolates document-length normalization.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("vector", "scan", "merge")  # the fixed retrieval query
BM25_TOPK = 10

# One shared SQL text for the per-(doc,term) contribution, parsed by
# BOTH engines so the IEEE op tree is identical operation for
# operation: +,-,*,/ are exactly-rounded, so identical trees over
# identical inputs give bit-identical doubles, and the DECIMAL(38,6)
# cast makes the per-doc sum order-free (helpers.py convention). All
# literals are cast to DOUBLE explicitly because bare 2.2/0.75 parse as
# DECIMAL literals in both dialects and the engines' decimal-vs-double
# promotion rules are not worth trusting to agree.
#   idf      = (N - df + 0.5) / (df + 0.5)   -- odds form, ln OMITTED:
#              ln is monotone (per-term ranking unchanged) but libm ln
#              differs in final ulps across engines (the
#              text_tfidf_topterms precedent, applied to BM25)
#   tf part  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
_BM25_CONTRIB = (
    "CAST((((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
    " * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))"
    " / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)"
    " * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)"
    " * (CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n AS DOUBLE)))))))"
    " AS DECIMAL(38,6))"
)

_BM25_IN = "('" + "', '".join(BM25_TERMS) + "')"


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    dl AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS total_dl, COUNT(*) AS n FROM dl),
    qtok AS MATERIALIZED (
      SELECT doc_id, t FROM tok WHERE t IN {_BM25_IN}),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM qtok GROUP BY doc_id, t),
    dfq AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM qtok GROUP BY t),
    contrib AS (
      SELECT doc_id, {_BM25_CONTRIB} AS c
      FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id), stats),
    scored AS (
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
             ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
      FROM contrib GROUP BY doc_id)
    SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
             AS rnk,
           doc_id, n_terms, bm25
    FROM scored
    QUALIFY rnk <= {BM25_TOPK}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: score every document against a fixed term
    query and return the top-{BM25_TOPK} — the ranking primitive behind
    corpus search, RAG candidate retrieval, and contamination triage
    ("which training docs look like this eval question"). Classic
    formula (k1=1.2, b=0.75) with the idf kept in odds form instead of
    ln(odds): ln is strictly monotone so each TERM's document ordering
    is identical, and dropping it keeps the whole score inside
    exactly-rounded IEEE arithmetic — bit-reproducible across engines
    (the text_tfidf_topterms precedent; libm ln is not
    correctly-rounded and differs across implementations). The exact
    contribution expression is ONE shared SQL string parsed by both
    engines, and per-doc summation is decimal-cast so accumulation
    order cannot matter.

    Scale shape: dl and tf are map-side-combinable hash aggregates over
    the token stream; df collapses to a |query|-row frame (broadcast);
    the doc-keyed shuffle joins tf to dl. The corpus stats (total_dl,
    n) are columns of an un-keyed window over dl, so every per-document
    row passes through ONE partition: the plan's scale ceiling is one
    task holding |documents| rows (fine at sf0.1-sf1, not at 100 TB;
    a 1-row aggregate + broadcast join lifts it at the cost of a fourth
    token explode). Top-k is TakeOrderedAndProject (no global
    sort); the final rank window runs over exactly {BM25_TOPK} rows.
    NULL text drops on both engines (explode/unnest of NULL emits no
    row); empty text contributes its [''] token to dl identically on
    both.
    """
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
    # Three token explodes instead of four (guide §1.2): corpus stats
    # ride dl as unbounded-window columns (bigint sums, exact in any
    # order) instead of a dl.agg() + crossJoin that re-ran the explode
    # + doc rollup a fourth time. Caching the query-term tf to also
    # fold dfq into it was measured SLOWER at sf0.1 (same-session
    # interleaved A/B 1.01 -> 1.32 s — eager fill serializes branches
    # that otherwise run concurrently; guide §5/§1.3), so tf and dfq
    # keep their parallel branches.
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dl = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .withColumn("total_dl", F.sum("dl").over(wall).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wall))
    )
    qtok = tok.filter(F.col("t").isin(*BM25_TERMS))
    tf = qtok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfq = qtok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfq), "t")
        .join(dl, "doc_id")
        .select("doc_id", F.expr(_BM25_CONTRIB).alias("c"))
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.round(F.sum("c").cast("double"), 6).alias("bm25"),
    )
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOPK)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "rnk", "doc_id", "n_terms", "bm25"
    )


# ---------------------------------------------------------------------------
# Shared quality-gate predicate (text_quality's passes_filter, NULL-safe).
# ---------------------------------------------------------------------------
# Spark Column and DuckDB SQL forms of the SAME predicate so streaming
# composites (stream_corpus_ingest) can reuse the registered gate
# semantics without copy drift. NULL text coalesces to '' on both
# engines first: Spark's size(split(NULL)) is -1 while DuckDB's
# len(string_split(NULL)) is NULL — coalescing is the only form with
# one boolean answer everywhere ('' -> [''] -> n=1 -> fails the gate).


def quality_gate(textcol: Column) -> Column:
    """text_quality's passes_filter (n_tokens >= 10 AND uniq > 0.2)."""
    t = F.coalesce(textcol, F.lit(""))
    toks = F.split(t, " ")
    n = F.size(toks)
    return (n >= 10) & (
        F.size(F.array_distinct(toks)).cast("double") / n > 0.2
    )


QUALITY_GATE_SQL = (
    "(len(string_split(coalesce(text, ''), ' ')) >= 10"
    " AND CAST(len(list_distinct(string_split(coalesce(text, ''), ' ')))"
    " AS DOUBLE) / len(string_split(coalesce(text, ''), ' ')) > 0.2)"
)


# ---------------------------------------------------------------------------
# Inverted index build.
# ---------------------------------------------------------------------------
@query(
    "text_inverted_index",
    oracle="""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS MATERIALIZED (
      SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, doc_id)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           MIN(doc_id) AS first_doc,
           md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id))
             AS postings_md5
    FROM tf GROUP BY term
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BUILD — the batch job behind every search/BM25
    serving system (and the disk layout text_bm25_topk would query at
    serving time): one row per vocabulary term carrying document
    frequency, collection frequency, the first posting, and the full
    doc_id-ordered posting list (doc:tf pairs) reduced to an md5
    fingerprint. The fingerprint stands in for the list itself in the
    correctness contract: a scalar column order-insensitive result
    checkers can hash, while still pinning every posting's identity,
    order AND term frequency bit-for-bit across engines.

    Scale shape (100 TB): tf is one (term, doc) hash aggregate over the
    token stream (map-side combinable); the index rows are one further
    term-keyed aggregate whose posting assembly is in-row
    (array_sort + transform + array_join — no window, no second
    shuffle). Output is vocabulary-sized, partitioned by term hash —
    exactly how the posting files of a sharded index are laid out.
    Skew note: stopword-grade terms concentrate postings; at corpus
    scale the assembly stays map-side-combinable into the term shuffle
    and AQE splits oversized partitions — no driver-side state.
    NULL text drops on both engines (explode/unnest of NULL).
    """
    docs = Catalog(spark, sf_dir).documents
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    postings = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
            lambda s: F.concat_ws(":", s.doc_id.cast("string"), s.tf.cast("string")),
        ),
        ",",
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        F.min("doc_id").alias("first_doc"),
        F.md5(postings.cast("binary")).alias("postings_md5"),
    )
