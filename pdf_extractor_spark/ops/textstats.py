"""Text-analysis operators for training-data curation.

Language-ID (marker-word heuristic), quality scoring (length/punctuation/
stopword ratios), token counting (whitespace + regex word-piece), and
document fingerprinting (md5-derived 60-bit content hash + min-shingle
winnowing fingerprint). All JVM-side built-ins — no Python UDFs — and each
with an exact DuckDB oracle.

At scale all four are map-only over the corpus scan (no shuffle at all);
they pipeline into the same stage as the parquet read, and column pruning
means only `text` is read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..shipping import pin_launch_archives
from .dedup import SHINGLE_K, shingles
from .portable import h64, h64_sql, tokens, tokens_sql

# marker stopwords per language: tiny, deterministic; the operator contract
# is argmax with a fixed priority order on ties (en > de > es > fr > zh >
# unknown). Integer counts -> no float ambiguity.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "los", "que", "y"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "shi", "bu", "le", "wo"),
}
_PRIORITY = ("en", "de", "es", "fr", "zh")

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# word-piece-ish lexer: alpha runs, digit runs, single other non-space
# explicit whitespace class, not \s: Java and RE2 \s disagree on \x0B
# (see portable.WS_CLASS) and this ONE string feeds BOTH engines' counters
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _count_in(tok, words: tuple[str, ...]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def _count_in_sql(tok: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tok}, t -> list_contains([{lst}], t)))"


# --- language ID -----------------------------------------------------------

def lang_marker_counts(tok) -> list:
    """Per-language marker-count projections (compute ONCE, then argmax —
    the marker filters are interpreted higher-order functions, so inlining
    them into every argmax branch would re-run each one ~2x)."""
    return [_count_in(tok, LANG_MARKERS[lg]).alias(f"c_{lg}") for lg in _PRIORITY]


def lang_argmax():
    """Argmax over the ``c_<lang>`` columns with the fixed tie priority."""
    best = F.greatest(*[F.col(f"c_{lg}") for lg in _PRIORITY])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lg in _PRIORITY:  # fixed priority resolves ties deterministically
        pred = pred.when(F.col(f"c_{lg}") == best, F.lit(lg))
    return pred


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word argmax language prediction per document."""
    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "lang", *lang_marker_counts(tokens("text")))
    return (
        d.select("doc_id", "lang", lang_argmax().alias("pred_lang"))
        .orderBy("doc_id")
    )


def _lang_id_sql() -> str:
    tok = tokens_sql("text")
    counts = ",\n         ".join(
        f"{_count_in_sql('t', LANG_MARKERS[lg])} AS c_{lg}" for lg in _PRIORITY
    )
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in _PRIORITY) + ")"
    whens = "\n         ".join(
        f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in _PRIORITY
    )
    return f"""
WITH t AS (SELECT doc_id, lang, {tok} AS t FROM documents),
c AS (SELECT doc_id, lang,
         {counts}
      FROM t)
SELECT doc_id, lang,
       CASE WHEN {best} <= 0 THEN 'unknown'
         {whens}
       END AS pred_lang
FROM c ORDER BY doc_id
"""


LANG_ID_SQL = _lang_id_sql()


# characteristic lowercase character trigrams per language (the n-gram
# profile method, Cavnar-Trenkle-style reduced to a fixed tiny profile);
# occurrence counts are exact substring arithmetic on both engines
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", " an", "ing"),
    "de": ("der", "ein", "sch"),
    "es": ("que", " de", "los"),
    "fr": ("les", " le", "ent"),
    "zh": ("shi", "zho", "wo "),
}


def _gram_count(col, gram: str):
    """# occurrences of `gram` = (len - len(text with gram removed)) / len(gram)."""
    removed = F.length(F.replace(col, F.lit(gram), F.lit("")))
    return ((F.length(col) - removed) / len(gram)).cast("bigint")


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID (argmax over per-language
    trigram occurrence counts; same fixed tie priority as lang_id)."""
    docs = _docs(spark, sf_dir)
    low = F.lower(F.col("text"))
    d = docs.select(
        "doc_id",
        "lang",
        *[
            sum(
                (_gram_count(low, g) for g in LANG_TRIGRAMS[lg][1:]),
                _gram_count(low, LANG_TRIGRAMS[lg][0]),
            ).alias(f"g_{lg}")
            for lg in _PRIORITY
        ],
    )
    best = F.greatest(*[F.col(f"g_{lg}") for lg in _PRIORITY])
    pred = F.when(best <= 0, F.lit("unknown"))
    for lg in _PRIORITY:
        pred = pred.when(F.col(f"g_{lg}") == best, F.lit(lg))
    return (
        d.select("doc_id", "lang", pred.alias("pred_lang"), best.alias("top_grams"))
        .orderBy("doc_id")
    )


def _lang_id_ngram_sql() -> str:
    def gram_sql(g: str) -> str:
        esc = g.replace("'", "''")
        return (
            f"CAST((length(low) - length(replace(low, '{esc}', ''))) / {len(g)} AS BIGINT)"
        )

    counts = ",\n         ".join(
        " + ".join(gram_sql(g) for g in LANG_TRIGRAMS[lg]) + f" AS g_{lg}"
        for lg in _PRIORITY
    )
    best = "greatest(" + ", ".join(f"g_{lg}" for lg in _PRIORITY) + ")"
    whens = "\n         ".join(f"WHEN g_{lg} = {best} THEN '{lg}'" for lg in _PRIORITY)
    return f"""
WITH t AS (SELECT doc_id, lang, lower(text) AS low FROM documents),
c AS (SELECT doc_id, lang,
         {counts}
      FROM t)
SELECT doc_id, lang,
       CASE WHEN {best} <= 0 THEN 'unknown'
         {whens}
       END AS pred_lang,
       {best} AS top_grams
FROM c ORDER BY doc_id
"""


LANG_ID_NGRAM_SQL = _lang_id_ngram_sql()


# --- quality score ---------------------------------------------------------

def _quality_df(docs: DataFrame, extra_cols: list[str]) -> DataFrame:
    """Shared per-doc quality computation (doc_id + extra_cols + signals +
    floor-micros composite) — reused by q_quality and q_source_quality."""
    tok = tokens("text")
    d = docs.select(
        "doc_id",
        *extra_cols,
        F.length("text").alias("n_chars_m"),
        F.size(tok).alias("n_tokens"),
        _count_in(tok, STOPWORDS).alias("n_stop"),
        F.size(F.filter(tok, lambda t: F.length(t) >= 6)).alias("n_long"),
    )
    # floor-micros, not round(): Spark and DuckDB round() disagree at exact
    # decimal .5 boundaries of a double; floor of the identical double is safe
    score = F.floor(
        (
            F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)) * 0.4
            + (F.col("n_stop").cast("double") / F.col("n_tokens")) * 0.3
            + (F.col("n_long").cast("double") / F.col("n_tokens")) * 0.3
        )
        * 1000000.0
    ).cast("bigint")
    return d.withColumn("quality_micros", score)


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/punctuation quality signals + composite score.

    Ratios are exact integer pairs divided once at the end; the composite is
    a single double expression evaluated in the same operation order both
    engines, then rounded to 6dp.
    """
    return _quality_df(_docs(spark, sf_dir), []).select(
        "doc_id", "n_chars_m", "n_tokens", "n_stop", "n_long", "quality_micros"
    ).orderBy("doc_id")


QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, length(text) AS n_chars_m, {tokens_sql('text')} AS t
           FROM documents),
c AS (SELECT doc_id, n_chars_m, len(t) AS n_tokens,
             {_count_in_sql('t', STOPWORDS)} AS n_stop,
             len(list_filter(t, x -> length(x) >= 6)) AS n_long
      FROM t)
SELECT doc_id, n_chars_m, n_tokens, n_stop, n_long,
       CAST(floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
             + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
             + (CAST(n_long AS DOUBLE) / n_tokens) * 0.3) * 1000000.0) AS BIGINT)
         AS quality_micros
FROM c ORDER BY doc_id
"""


# --- per-source quality prior ------------------------------------------------

LOW_QUALITY_MICROS = 500_000  # composite < 0.5 counts as low quality


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality prior: mean composite quality and low-quality
    share by source — the signal a curation pipeline uses to set per-source
    sampling/filtering policy (drop or down-weight chronically bad sources
    before any per-doc work).

    Scale shape: the per-doc quality computation is map-only; the rollup is
    one partial-agg groupBy on `source` (a handful of groups). Cross-engine
    exactness: the mean aggregates the already-floored per-doc MICROS
    bigints (exact integer sum in any order) and divides once at the end —
    never a float sum across rows, whose order would differ between engines.
    """
    q = _quality_df(_docs(spark, sf_dir), ["source"])
    return (
        q.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.floor(
                F.sum("quality_micros").cast("double") / F.count("*")
            )
            .cast("bigint")
            .alias("mean_quality_micros"),
            F.sum(
                (F.col("quality_micros") < LOW_QUALITY_MICROS).cast("bigint")
            ).alias("n_low_quality"),
        )
        .orderBy("source")
    )


SOURCE_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, source, {tokens_sql('text')} AS t FROM documents),
c AS (SELECT doc_id, source, len(t) AS n_tokens,
             {_count_in_sql('t', STOPWORDS)} AS n_stop,
             len(list_filter(t, x -> length(x) >= 6)) AS n_long
      FROM t),
q AS (SELECT source,
             CAST(floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                   + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
                   + (CAST(n_long AS DOUBLE) / n_tokens) * 0.3) * 1000000.0)
               AS BIGINT) AS quality_micros
      FROM c)
SELECT source,
       count(*) AS n_docs,
       CAST(floor(CAST(sum(quality_micros) AS DOUBLE) / count(*)) AS BIGINT)
         AS mean_quality_micros,
       CAST(sum(CASE WHEN quality_micros < {LOW_QUALITY_MICROS} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_low_quality
FROM q GROUP BY source ORDER BY source
"""


# --- token counts ----------------------------------------------------------

def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + word-piece-ish regex token count."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(tokens("text")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(TOKEN_REGEX)).alias("piece_tokens"),
    ).orderBy("doc_id")


TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
       len({tokens_sql('text')}) AS ws_tokens,
       len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS piece_tokens
FROM documents ORDER BY doc_id
"""


# --- fingerprint -----------------------------------------------------------

def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit content hash + winnowing-style min-shingle fingerprint."""
    docs = _docs(spark, sf_dir)
    whole = docs.select(
        "doc_id",
        h64(F.array_join(tokens("text"), " ")).alias("content_fp"),
    )
    min_sh = (
        shingles(docs)
        .groupBy("doc_id")
        .agg(F.min(h64("shingle")).alias("min_shingle_fp"))
    )
    return (
        whole.join(min_sh, "doc_id", "left")
        .select("doc_id", "content_fp", "min_shingle_fp")
        .orderBy("doc_id")
    )


FINGERPRINT_SQL = f"""
WITH whole AS (
  SELECT doc_id,
         {h64_sql(f"array_to_string({tokens_sql('text')}, ' ')")} AS content_fp
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
       unnest(range(1, greatest(len(t) - {SHINGLE_K - 2}, 1))) AS u(i)),
min_sh AS (
  SELECT doc_id, min({h64_sql('shingle')}) AS min_shingle_fp FROM sh GROUP BY doc_id)
SELECT w.doc_id, w.content_fp, m.min_shingle_fp
FROM whole w LEFT JOIN min_sh m ON w.doc_id = m.doc_id
ORDER BY w.doc_id
"""


# --- PII scrubbing ---------------------------------------------------------

# deliberately alternation-free, backreference-free patterns so the Java
# (Spark) and RE2 (DuckDB) engines match byte-identically
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9][0-9()\- ]{7,}[0-9]"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails + intl-format phone numbers), a standard
    training-data curation stage. Map-only: two regexp_count + two
    regexp_replace per row, zero shuffle.

    The testdata corpus has no organic PII, so the query plants a
    deterministic contact line per doc (both engines construct the same
    string) — the scrubbed output and counts are then value-hash checked,
    not just the plumbing.
    """
    docs = _docs(spark, sf_dir)
    planted = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 010-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
    )
    d = docs.select("doc_id", planted.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PHONE_RE)).alias("n_phones"),
        scrubbed.alias("scrubbed"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = rf"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 (555) 010-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
       regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM planted ORDER BY doc_id
"""


# --- repetition quality filters (Gopher/C4-style) ---------------------------

def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals: fraction of tokens taken by the
    most frequent token, and by the most frequent word bigram — the classic
    filters for boilerplate/template spam in web-scale corpora.

    Map-only trick: the mode's count equals the longest run of equal
    adjacent values in the SORTED token array, so a JVM array_sort + one
    fold computes it with ZERO shuffle — no explode, no groupBy. The DuckDB
    oracle computes the same value the set-semantics way (unnest + group +
    max count), which doubles as an independent check of the fold.
    """
    docs = _docs(spark, sf_dir)
    tok = tokens("text")

    def top_run_frac(arr):
        """max equal-adjacent run in sorted arr / len(arr), in floor-micros."""
        sorted_arr = F.array_sort(arr)
        acc0 = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )

        def merge(acc, t):
            run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                t.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        best = F.aggregate(sorted_arr, acc0, merge, lambda acc: acc["best"])
        # widen before the scale-up: int * 1e6 would overflow int32 under ANSI
        return F.floor(
            best.cast("bigint") * F.lit(1_000_000) / F.size(arr)
        ).cast("bigint")

    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tok) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(tok, i.cast("int")), F.element_at(tok, (i + 1).cast("int"))
        ),
    )
    d = docs.select("doc_id", tok.alias("tok"), bigrams.alias("big")).where(
        F.size("tok") >= 2
    )
    return d.select(
        "doc_id",
        F.size("tok").alias("n_tokens"),
        top_run_frac(F.col("tok")).alias("top_token_micros"),
        top_run_frac(F.col("big")).alias("top_bigram_micros"),
    ).orderBy("doc_id")


REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {tokens_sql('text')} AS tok FROM documents),
base AS (SELECT doc_id, tok,
                [tok[i] || ' ' || tok[i+1] FOR i IN range(1, len(tok))] AS big
         FROM t WHERE len(tok) >= 2),
tok_counts AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(tok) AS w FROM base) GROUP BY doc_id, w),
big_counts AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(big) AS w FROM base) GROUP BY doc_id, w)
SELECT b.doc_id,
       len(b.tok) AS n_tokens,
       CAST(floor((SELECT max(c) FROM tok_counts tc WHERE tc.doc_id = b.doc_id)
                  * 1000000 / len(b.tok)) AS BIGINT) AS top_token_micros,
       CAST(floor((SELECT max(c) FROM big_counts bc WHERE bc.doc_id = b.doc_id)
                  * 1000000 / len(b.big)) AS BIGINT) AS top_bigram_micros
FROM base b ORDER BY doc_id
"""


# --- cross-document boilerplate n-grams ------------------------------------

_BP_N = 4  # words per gram
_BP_MIN_DOCS = 3  # document-frequency threshold


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: word 4-grams appearing verbatim
    in >= 3 distinct documents, with document frequency and total occurrence
    counts. `repetition` scores template spam WITHIN a document; this is its
    ACROSS-documents complement — the shared-n-gram removal list a web-scale
    pipeline (CCNet/RefinedWeb-style) subtracts before training.

    Scale shape: explode to (doc_id, gram), then ONE distinct aggregation.
    Spark's distinct-agg rewrite runs it as two shuffles with map-side
    partial dedup: the first keys on (gram, doc_id), so a heavy-hitter gram
    (a footer shared by millions of pages) spreads across reducers by
    doc_id instead of hot-spotting one; the second moves one pre-deduped row
    per (gram, doc). At 100 TB the shuffle key would additionally be
    pre-hashed to 8 bytes (portable.h64) with the gram text carried as a
    partial-agg min — elided here because the oracle compares the plain
    string key.
    """
    docs = _docs(spark, sf_dir)
    tok = tokens("text")
    d = docs.select("doc_id", tok.alias("tok")).where(F.size("tok") >= _BP_N)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("tok") - (_BP_N - 1)),
        lambda i: F.array_join(F.slice("tok", i.cast("int"), _BP_N), " "),
    )
    g = d.select("doc_id", F.explode(grams).alias("gram"))
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("df_docs"),
            F.count("*").alias("occurrences"),
        )
        .where(F.col("df_docs") >= _BP_MIN_DOCS)
        .orderBy(F.desc("df_docs"), "gram")
    )


BOILERPLATE_NGRAMS_SQL = f"""
WITH t AS (SELECT doc_id, {tokens_sql('text')} AS tok FROM documents),
g AS (
  SELECT doc_id, array_to_string(tok[u.i:u.i+{_BP_N - 1}], ' ') AS gram
  FROM t, LATERAL unnest(generate_series(1, len(tok) - {_BP_N - 1})) AS u(i)
  WHERE len(tok) >= {_BP_N})
SELECT gram,
       count(DISTINCT doc_id) AS df_docs,
       count(*) AS occurrences
FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= {_BP_MIN_DOCS}
ORDER BY df_docs DESC, gram
"""


# --- TF-IDF keyword extraction ------------------------------------------------

TFIDF_TOPK = 3


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by TF-IDF — the per-doc topical
    signature a curation pipeline keys on (topic balancing, domain mix).

    idf is the log-free rational form tf * N / df in floor-micros: ln()
    is libm-dependent and differs across engines (the same trap lm_score
    documents), while the rational score induces the identical ranking
    for fixed N. Scale shape: the token explode collapses immediately to
    (doc_id, term, tf) partials (map-side combine), the document-
    frequency table aggregates those PARTIALS (never raw tokens, one
    row per doc-term), and the vocab-sized (term, df) side joins back
    broadcast — vocabularies are millions of rows when corpora are
    billions, so the broadcast survives scale-up; if a vocab ever
    outgrew memory the same plan degrades to a shuffle join on term.
    The per-doc top-k window partitions on doc_id — maximal parallelism,
    k rows retained per doc.
    """
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.expr("(tf * n_docs * 1000000) DIV df").alias("score_micros"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micros"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "rank", "term", "score_micros")
        .orderBy("doc_id", "rank")
    )


TFIDF_KEYWORDS_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql("text")}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         (t.tf * n.n_docs * 1000000) // d.df AS score_micros
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score_micros,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micros DESC, term) AS rank
  FROM scored)
SELECT doc_id, rank, term, score_micros FROM ranked
WHERE rank <= {TFIDF_TOPK} ORDER BY doc_id, rank
"""


# --- BM25 keyword retrieval ------------------------------------------------

BM25_QUERY_TERMS = ("window", "hash", "vector")
BM25_TOPK = 10


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed keyword query under BM25 scoring
    (k1=1.2, b=0.75) with the log-free rational idf.

    Cross-engine exactness: ln() is libm-dependent (the lm_score /
    tfidf_keywords trap), so idf uses the rational core of the BM25 idf,
    (N - df + 0.5)/(df + 0.5) — scaled by 2 to stay integral — which
    preserves the per-term ordering. All arithmetic is integer with
    explicit floor division, staged so no intermediate exceeds ~2^50
    (DuckDB errors on BIGINT overflow; Spark ANSI too):

        idf_milli  = (2N - 2df + 1) * 1000          DIV (2df + 1)
        tfs_micros = 22*T*tf * 1_000_000            DIV (10*T*tf + 3*T + 9*dl*N)
        score      = idf_milli * tfs_micros         DIV 1000

    where tfs is tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) multiplied through
    by 10*T (avgdl = T/N). Scale shape: doc length rides THROUGH the token
    explode as a group key (dl is functional on doc_id), so no
    docs⨝term-stats join is ever needed; the term filter collapses the
    explode to query-term rows before the shuffle; df (|query| rows) and
    the corpus totals (1 row) join back broadcast. Final top-k is
    TakeOrderedAndProject, never a global sort.
    """
    docs = _docs(spark, sf_dir)
    dl = F.size(tokens("text")).cast("bigint")
    tf = (
        docs.select("doc_id", dl.alias("dl"), F.explode(tokens("text")).alias("term"))
        .where(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.select(dl.alias("dl")).agg(
        F.sum("dl").alias("t_tokens"), F.count("*").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "(((2*n_docs - 2*df + 1) * 1000) DIV (2*df + 1))"
                " * ((22*t_tokens*tf*1000000) DIV (10*t_tokens*tf + 3*t_tokens + 9*dl*n_docs))"
                " DIV 1000"
            ).alias("contrib_micros"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("contrib_micros").alias("score_micros"))
        .orderBy(F.desc("score_micros"), "doc_id")
        .limit(BM25_TOPK)
    )


BM25_SEARCH_SQL = rf"""
WITH tok AS (
  SELECT doc_id, len({tokens_sql("text")}) AS dl,
         unnest({tokens_sql("text")}) AS term
  FROM documents),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM tok
  WHERE term IN {BM25_QUERY_TERMS!r}
  GROUP BY 1, 2, 3),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT CAST(sum(len({tokens_sql("text")})) AS BIGINT) AS t_tokens,
                 count(*) AS n_docs
          FROM documents),
scored AS (
  SELECT t.doc_id,
         (((2*n_docs - 2*df + 1) * 1000) // (2*df + 1))
           * ((22*t_tokens*tf*1000000) // (10*t_tokens*tf + 3*t_tokens + 9*dl*n_docs))
           // 1000 AS contrib_micros
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats)
SELECT doc_id, CAST(sum(contrib_micros) AS BIGINT) AS score_micros
FROM scored GROUP BY doc_id
ORDER BY score_micros DESC, doc_id LIMIT {BM25_TOPK}
"""


# --- transcript/OCR normalization -------------------------------------------

# ASR filler tokens dropped by the normalizer (the deterministic subset of
# the reference's LLM transcript cleanup; absent from the synthetic corpus,
# so their count is honestly zero here — the rule is exercised by pytest)
FILLER_TOKENS = ("uh", "um", "erm", "hmm")


def q_transcript_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript/OCR-output normalization — the rule-based
    subset of the reference's K9 LLM post-process (Gemini transcript
    cleanup, whisper_processor.py:198-209), re-expressed as a pure map-only
    pass so it needs no external service:

    - collapse consecutive repeated tokens (the classic ASR stutter
      artifact: "the the model" -> "the model");
    - drop filler tokens (``FILLER_TOKENS``);
    - whitespace-squeeze + lowercase + trim (via ``tokens``'s split).

    Scale: zero shuffle besides the output sort — tokenize, two indexed
    ``filter`` HOF passes (comparisons only; the interpreted-HOF trap is
    hashing inside the lambda, see ops/dedup.py), re-join. Pipelines into
    the parquet scan reading only (doc_id, text)."""
    fillers = ", ".join(f"'{w}'" for w in FILLER_TOKENS)
    docs = _docs(spark, sf_dir).select(
        "doc_id", tokens("text").alias("t")
    )
    return (
        docs.select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens_in"),
            # Spark lambda index i is 0-based; t[i-1] ([] is 0-based) is the
            # previous token
            F.expr(
                "filter(filter(t, (w, i) -> i = 0 OR w != t[i-1]), "
                f"w -> w NOT IN ({fillers}))"
            ).alias("kept"),
        )
        .select(
            "doc_id",
            F.array_join("kept", " ").alias("clean_text"),
            "n_tokens_in",
            F.size("kept").cast("bigint").alias("n_tokens_out"),
        )
        .orderBy("doc_id")
    )


def _transcript_normalize_sql() -> str:
    fillers = ", ".join(f"'{w}'" for w in FILLER_TOKENS)
    return f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS t FROM documents),
kept AS (
  SELECT doc_id, t,
         list_filter(
           list_filter(t, (w, i) -> i = 1 OR w <> t[i-1]),
           w -> w NOT IN ({fillers})) AS k
  FROM toks)
SELECT doc_id,
       array_to_string(k, ' ') AS clean_text,
       CAST(len(t) AS BIGINT) AS n_tokens_in,
       CAST(len(k) AS BIGINT) AS n_tokens_out
FROM kept ORDER BY doc_id
"""


TRANSCRIPT_NORMALIZE_SQL = _transcript_normalize_sql()


# --- Unicode NFC normalization ----------------------------------------------

_NFC_OUT_SCHEMA = (
    "doc_id bigint, nfc_text string, raw_cp bigint, nfc_cp bigint"
)


def _nfc_batches(it):
    """Arrow-batched NFC kernel. pyarrow's own utf8_normalize does NOT
    compose on this build (measured: 'e'+U+0301 stays decomposed under
    form='NFC'), so the composition runs through unicodedata inside the
    Arrow batch — the engine's sanctioned Python boundary, and byte-exact
    vs DuckDB's nfc_normalize (probed on combining marks and precomposed
    forms before this op existed)."""
    import unicodedata

    import pyarrow as pa

    for batch in it:
        ids = batch.column("doc_id")
        raw = batch.column("raw").to_pylist()
        nfc = [
            None if s is None else unicodedata.normalize("NFC", s) for s in raw
        ]
        # Python len() counts code points — the same unit as length() on
        # both SQL engines (probed on combining marks)
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(nfc, pa.string()),
                pa.array([None if s is None else len(s) for s in raw], pa.int64()),
                pa.array([None if s is None else len(s) for s in nfc], pa.int64()),
            ],
            names=["doc_id", "nfc_text", "raw_cp", "nfc_cp"],
        )


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the standard first cleaning step of a
    web-corpus pipeline (CCNet/RefinedWeb normalize before dedup so that
    'é' composed and 'e'+combining-acute hash identically).

    The testdata text is ASCII (NFC is the identity there), so the query
    appends a per-doc DECOMPOSED suffix built portably in both engines
    (combining acute repeated doc_id%3+1 times, plus 'a'+combining tilde)
    and value-hashes the composed result and the code-point counts: the
    first acute must compose into 'é', surplus acutes must survive as
    combining marks, 'a'+tilde must become 'ã' — on both engines, byte
    for byte.

    Scale shape: map-only (zero shuffle) through one vectorized Arrow
    batch pass; the normalize itself is per-string C inside unicodedata.
    """
    docs = _docs(spark, sf_dir)
    # real unicode escapes, NOT Spark's char(): char(n) is chr(n % 256)
    # (ASCII-only), which mangled U+0301 into \x01 on the first attempt
    acute, tilde = "\u0301", "\u0303"
    raw = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" e"),
            F.expr(f"repeat('{acute}', cast(doc_id % 3 + 1 as int))"),
            F.lit(" a" + tilde),
        ).alias("raw"),
    )
    # code-point counts come out of the SAME Arrow pass — joining back to
    # the raw table for length() would buy a doc_id shuffle for nothing
    return raw.mapInArrow(_nfc_batches, schema=_NFC_OUT_SCHEMA).orderBy("doc_id")


UNICODE_NORMALIZE_SQL = """
WITH raw AS (
  SELECT doc_id,
         text || ' e' || repeat('\u0301', CAST(doc_id % 3 + 1 AS INT))
              || ' a\u0303' AS raw
  FROM documents)
SELECT doc_id,
       nfc_normalize(raw) AS nfc_text,
       CAST(length(raw) AS BIGINT) AS raw_cp,
       CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_cp
FROM raw ORDER BY doc_id
"""


# --- compression-ratio quality signal ---------------------------------------

_COMPRESS_OUT_SCHEMA = (
    "doc_id bigint, raw_bytes bigint, gz_bytes bigint, ratio_micros bigint"
)
_COMPRESS_LEVEL = 6  # fixed: the ratio must not drift with a zlib default


def _compress_batches(it):
    import zlib

    import pyarrow as pa

    for batch in it:
        ids = batch.column("doc_id")
        texts = batch.column("text").to_pylist()
        raw, gz, ratio = [], [], []
        for s in texts:
            if s is None:
                raw.append(None), gz.append(None), ratio.append(None)
                continue
            b = s.encode("utf-8")
            c = len(zlib.compress(b, _COMPRESS_LEVEL))
            raw.append(len(b))
            gz.append(c)
            ratio.append(c * 1_000_000 // len(b) if b else None)
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(raw, pa.int64()),
                pa.array(gz, pa.int64()),
                pa.array(ratio, pa.int64()),
            ],
            names=["doc_id", "raw_bytes", "gz_bytes", "ratio_micros"],
        )


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the Gopher/FineWeb-style junk
    signal: highly repetitive machine junk compresses far below natural
    text, so a low ``ratio_micros`` (compressed/raw, floor-micros) flags
    removal candidates and a very high one flags random-noise docs.

    No SQL oracle (DuckDB has no compression function), so this rides the
    rows-only driver check; the pytest differential recomputes every row
    with an independent zlib call and pins the monotonicity invariant
    (repeated text << natural text << incompressible hex noise). zlib
    level is PINNED (6) so the ratio never drifts with a library default.

    Scale shape: map-only through one Arrow pass, zero shuffle; only
    doc_id and text are read (column pruning)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "text"
    )
    return docs.mapInArrow(
        _compress_batches, schema=_COMPRESS_OUT_SCHEMA
    ).orderBy("doc_id")


# --- per-source document cap -------------------------------------------------

SOURCE_CAP = 20


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota enforcement: keep at most 20 documents per source,
    ranked by length then id — the curation step that stops one crawl
    domain from dominating the training mix (the batch twin of the
    streaming per-key quota in streaming/quota.py).

    Scale shape: one window partitioned by source (parallel across
    sources), ranking on columns that never require reading `text`. A
    monster domain makes its partition hot; at 100 TB the two-phase form
    applies — per-partition top-CAP first (each input partition emits at
    most CAP rows per source it holds), then the same window over the
    survivors — the standard top-k-per-key defusal, elided here because
    CAP bounds the skew the test corpus can express.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= SOURCE_CAP)
        .orderBy("source", "rank")
    )


SOURCE_CAP_SQL = f"""
SELECT source, doc_id, n_chars,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
FROM documents QUALIFY rank <= {SOURCE_CAP}
ORDER BY source, rank
"""


# --- lexical diversity (Simpson repeat probability) ---------------------------

def simpson_pairs(tok):
    """sum(c_i * (c_i - 1)) over the token multiset — the same-pair count of
    the Simpson index — via one array_sort + one fold: extending an
    equal-run from k-1 to k adds 2*(k-1). Zero shuffle; shared by
    ``q_lexical_diversity`` and the derived signals stage."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("bigint").alias("s"),
    )

    def merge(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        s = F.when(
            t == acc["prev"], acc["s"] + 2 * (run - 1).cast("bigint")
        ).otherwise(acc["s"])
        return F.struct(t.alias("prev"), run.alias("run"), s.alias("s"))

    return F.aggregate(F.array_sort(tok), acc0, merge, lambda acc: acc["s"])


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson repeat probability per document — the probability two
    token positions drawn without replacement hold the SAME token,
    sum(c_i*(c_i-1)) / (n*(n-1)) in floor-micros. A log-free lexical-
    diversity quality signal (entropy's rational stand-in: libm-free, so
    it hash-matches across engines): high = repetitive template spam,
    low = diverse natural text. Complements `repetition` (mode fraction)
    with the full-distribution statistic.

    Map-only like `repetition`'s fold: sum(c*(c-1)) accumulates over the
    SORTED token array — extending an equal-run from k-1 to k adds
    2*(k-1) — so one array_sort + one fold computes it with ZERO shuffle.
    The oracle computes the same value the set-semantics way (unnest +
    group + sum), independently checking the fold identity.
    """
    docs = _docs(spark, sf_dir)
    tok = tokens("text")
    pairs_same = simpson_pairs(tok)
    n = F.size(tok).cast("bigint")
    return (
        docs.select("doc_id", n.alias("n_tokens"), pairs_same.alias("ps"))
        .where(F.col("n_tokens") >= 2)
        .select(
            "doc_id",
            "n_tokens",
            F.expr("ps * 1000000 DIV (n_tokens * (n_tokens - 1))").alias(
                "simpson_micros"
            ),
        )
        .orderBy("doc_id")
    )


LEXICAL_DIVERSITY_SQL = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents),
base AS (
  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens FROM t WHERE len(tok) >= 2),
counts AS (
  SELECT doc_id, CAST(sum(c * (c - 1)) AS BIGINT) AS ps
  FROM (SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(tok) AS w FROM t) GROUP BY doc_id, w)
  GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       (c.ps * 1000000) // (b.n_tokens * (b.n_tokens - 1)) AS simpson_micros
FROM base b JOIN counts c ON b.doc_id = c.doc_id
ORDER BY b.doc_id
"""


# --- BPE pair counting (tokenizer-training step) ----------------------------

BPE_TOPK = 20


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent adjacent character pairs across the corpus — the first
    merge-candidate scan of BPE tokenizer training (count every adjacent
    symbol pair, weighted by word frequency; the argmax becomes the first
    merge rule).

    Scale shape is the actual BPE algorithm's: collapse the corpus to a
    (token, count) VOCAB first (one shuffle with map-side combine — the
    explode's output is token-count rows but the partial agg collapses them
    in-map), then enumerate pairs over vocab rows only, weighted by count.
    Pair generation therefore costs O(|vocab| * avg_len), not O(corpus
    tokens) — the reason real BPE trainers iterate on the vocab, not the
    stream. Final top-k is TakeOrderedAndProject, never a global sort.
    """
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("occurrences"))
        .orderBy(F.desc("occurrences"), "pair")
        .limit(BPE_TOPK)
    )


BPE_PAIRS_SQL = f"""
WITH vocab AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest({tokens_sql('text')}) AS tok FROM documents)
  WHERE len(tok) >= 2 GROUP BY tok),
pairs AS (
  SELECT substr(tok, u.i, 2) AS pair, n
  FROM vocab, LATERAL unnest(generate_series(1, len(tok) - 1)) AS u(i))
SELECT pair, CAST(sum(n) AS BIGINT) AS occurrences
FROM pairs GROUP BY pair
ORDER BY occurrences DESC, pair LIMIT {BPE_TOPK}
"""


# --- vocabulary coverage curve ----------------------------------------------

VOCAB_COVERAGE_KS = (10, 100, 1000)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of total token mass covered by the top-k vocabulary terms,
    for k in {10, 100, 1000} — the Zipf-curve summary a tokenizer/vocab
    sizing decision reads (how much of the corpus does a vocab of size k
    explain), in floor-micros.

    Scale shape: ONE (term, count) aggregation with map-side combine, then
    top-max(k) via TakeOrderedAndProject — the only ordered structure is
    over the <= 1000 surviving rows (the rank window runs on a bounded,
    driver-small input; a global window over the full vocab would be the
    scale bug). The vocab subtree feeds both the total and the top-k, so
    it is persisted (vocab-sized, millions of rows when corpora are
    billions) — the raw corpus is scanned ONCE. Totals and the ranked
    survivors join back broadcast.
    """
    from pyspark.sql import Window

    from .dedup import _persisted

    docs = _docs(spark, sf_dir)
    vocab = _persisted(
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    total = vocab.agg(F.sum("n").alias("total"))
    top = vocab.orderBy(F.desc("n"), "term").limit(max(VOCAB_COVERAGE_KS))
    # single-partition window is safe: input is already bounded to 1000 rows
    w = Window.orderBy(F.desc("n"), "term")
    ranked = top.select("term", "n", F.row_number().over(w).alias("rank"))
    ks = spark.createDataFrame(
        [(k,) for k in VOCAB_COVERAGE_KS], "k bigint"
    )
    return (
        ks.join(F.broadcast(ranked), F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("n").alias("covered"), F.count("*").alias("terms"))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "terms",
            F.expr("covered * 1000000 DIV total").alias("covered_micros"),
        )
        .orderBy("k")
    )


VOCAB_COVERAGE_SQL = f"""
WITH vocab AS (
  SELECT term, count(*) AS n
  FROM (SELECT unnest({tokens_sql('text')}) AS term FROM documents)
  GROUP BY term),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM vocab),
ranked AS (
  SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
  FROM vocab QUALIFY rank <= {max(VOCAB_COVERAGE_KS)}),
ks AS (SELECT CAST(unnest([{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}]) AS BIGINT) AS k)
SELECT ks.k AS k, count(*) AS terms,
       CAST((CAST(sum(r.n) AS BIGINT) * 1000000) // (SELECT total FROM total) AS BIGINT)
         AS covered_micros
FROM ks JOIN ranked r ON r.rank <= ks.k
GROUP BY ks.k ORDER BY k
"""


# --- BPE encode (tokenizer application) --------------------------------------

BPE_MERGES = 12  # merge-rule table size; recursion depth of the oracle CTE

_BPE_OUT_SCHEMA = (
    "doc_id bigint, n_tokens bigint, n_pieces bigint, encoded_text string"
)


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> list[str]:
    """Top-``BPE_MERGES`` adjacent character pairs by weighted corpus count
    (ties broken by pair text) — the single-level merge table that
    :func:`q_bpe_encode` applies. Derived with the same vocab-first shape
    as :func:`q_bpe_pairs`; the result is <= ``BPE_MERGES`` rows, so the
    collect is bounded (same contract as the k-means centroid collect)."""
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "n",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("occurrences"))
        .orderBy(F.desc("occurrences"), "pair")
        .limit(BPE_MERGES)
        .collect()
    )
    return [r["pair"] for r in top]


def bpe_encode_word(tok: str, rules: list[str]) -> list[str]:
    """Greedy rank-ordered merge sweeps over one word's character sequence.

    For each rule (in rank order) scan left-to-right: whenever the last
    emitted symbol equals the rule's first char and the next symbol equals
    its second char, replace the pair with the merged 2-char symbol. With
    single-level rules (pairs of ORIGINAL chars) one sweep per rule IS that
    rule's fixpoint: a merged symbol is 2 chars long and can never equal a
    rule's 1-char operand, so a sweep never creates new matches for itself
    or any other rule (asserted by the differential test). Pure Python —
    this is the oracle kernel for the Arrow batch path."""
    syms: list[str] = list(tok)
    for pair in rules:
        a, b = pair[0], pair[1]
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = pair
            else:
                out.append(s)
        syms = out
    return syms


def _bpe_encode_batches(rules: list[str]):
    def gen(it):
        import re

        import pyarrow as pa

        # EXACT portable.tokens() semantics (explicit [ \t\n\v\f\r]+ class
        # on both engines — NOT \s: Java's \s includes \x0B, RE2's does
        # not, and Python's str.split()/\s are UNICODE-whitespace-aware;
        # see portable.WS_CLASS) — trim() strips SPACES only, and leading/
        # trailing separators yield EMPTY tokens (split keeps them; '' in,
        # e.g., a whitespace-only doc is ONE empty token, not zero tokens)
        ws = re.compile(r"[ \t\n\v\f\r]+")

        # bounded: a real-scale vocab (10^7+ types) must not grow a
        # per-task dict without limit — Zipf means the hot heads all fit
        # long before the cap, so evicting wholesale barely costs
        memo: dict[str, tuple[str, int]] = {}
        MEMO_CAP = 1_000_000

        def enc(tok: str) -> tuple[str, int]:
            hit = memo.get(tok)
            if hit is None:
                syms = bpe_encode_word(tok, rules)
                hit = ("_".join(syms), len(syms))
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                memo[tok] = hit
            return hit

        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out_ids, n_tok, n_pieces, enc_text = [], [], [], []
            for doc_id, s in zip(ids, texts):
                if s is None:
                    # oracle parity: unnest(split(NULL)) yields no token
                    # rows, so a NULL-text doc is absent from the output
                    continue
                toks = ws.split(s.strip(" ").lower())
                # empty tokens (leading/trailing separators, whitespace-only
                # docs) count in n_tokens but carry NO pieces and are absent
                # from the joined text (DuckDB: array_to_string([]) is NULL
                # and string_agg skips NULLs; all-empty -> NULL text)
                pieces = [enc(t) for t in toks if t]
                out_ids.append(doc_id)
                n_tok.append(len(toks))
                n_pieces.append(sum(p[1] for p in pieces))
                enc_text.append(
                    " ".join(p[0] for p in pieces) if pieces else None
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.int64()),
                    pa.array(n_tok, pa.int64()),
                    pa.array(n_pieces, pa.int64()),
                    pa.array(enc_text, pa.string()),
                ],
                names=["doc_id", "n_tokens", "n_pieces", "encoded_text"],
            )

    return gen


def bpe_cost_batches(rules: list[str]):
    """Arrow kernel: (doc_id string, part_id int, text string) ->
    (doc_id, part_id, n_pieces bigint) — the COUNTING-only sibling of
    ``_bpe_encode_batches`` for the BPE-costed packing stage
    (spark/pack.py cost="bpe"): same tokenizer semantics and per-task
    word memo, but only the piece count crosses the boundary (the
    encoded text stays worker-side), and doc_id/part_id pass through
    untouched so the stage keys keep their types. Whitespace-only /
    empty text costs 0 (the stage's empty-doc guard drops it)."""

    def gen(it):
        import re

        import pyarrow as pa

        pin_launch_archives()

        ws = re.compile(r"[ \t\n\v\f\r]+")
        memo: dict[str, int] = {}
        MEMO_CAP = 1_000_000

        def npieces(tok: str) -> int:
            hit = memo.get(tok)
            if hit is None:
                hit = len(bpe_encode_word(tok, rules))
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                memo[tok] = hit
            return hit

        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            parts = batch.column("part_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out = [
                sum(npieces(t) for t in ws.split(s.strip(" ").lower()) if t)
                if s is not None
                else 0
                for s in texts
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(parts, pa.int32()),
                    pa.array(out, pa.int64()),
                ],
                names=["doc_id", "part_id", "n_pieces"],
            )

    return gen


def bpe_pieces_batches(rules: list[str]):
    """Arrow kernel: (pack_epoch long, doc_id string, text string) ->
    (pack_epoch, doc_id, _tok list<string>) — the ordered PIECE STREAM of
    each document under the merge-rule table, for the piece-costed
    materialize gather (spark/materialize.py on a cost='bpe' pack table):
    empty tokens contribute nothing, order is token order then intra-word
    merge order, per-task word memo as in the other BPE kernels."""

    def gen(it):
        import re

        import pyarrow as pa

        pin_launch_archives()

        ws = re.compile(r"[ \t\n\v\f\r]+")
        memo: dict[str, list[str]] = {}
        MEMO_CAP = 1_000_000

        def pieces(tok: str) -> list[str]:
            hit = memo.get(tok)
            if hit is None:
                hit = bpe_encode_word(tok, rules)
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                memo[tok] = hit
            return hit

        for batch in it:
            texts = batch.column("text").to_pylist()
            out = [
                [
                    p
                    for t in ws.split(s.strip(" ").lower())
                    if t
                    for p in pieces(t)
                ]
                if s is not None
                else []
                for s in texts
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("pack_epoch"),
                    batch.column("doc_id"),
                    pa.array(out, pa.list_(pa.string())),
                ],
                names=["pack_epoch", "doc_id", "_tok"],
            )

    return gen


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the corpus — tokenizer
    APPLICATION, the stage :func:`q_bpe_pairs` (merge-candidate counting)
    feeds (Sennrich et al. 2016). Each word's character sequence gets the
    top-``BPE_MERGES`` pair rules in rank order, greedy left-to-right;
    output is the per-doc piece stream ('_' joins merged chars inside a
    word, ' ' joins words) plus token/piece counts — every byte of the
    encoding value-hashed against the oracle.

    Rules here are single-level (ranked by the STATIC pair counts; real BPE
    training re-counts after each merge). The encode machinery is
    rule-table-agnostic — an iteratively-trained table plugs into the same
    kernel — and single-level rules make one sweep per rule provably that
    rule's fixpoint (see :func:`bpe_encode_word`).

    Scale shape: the rule table is derived vocab-first (two agg shuffles
    over token/pair counts, map-side combine) and is <= 12 rows — collected
    once and closure-shipped, the k-means-centroid pattern. The corpus pass
    is then MAP-ONLY: one mapInArrow over (doc_id, text) with a per-task
    word->pieces memo (the encode-the-vocab-once trick as a cache), so the
    Zipf-hot token distribution never touches a join or shuffle — at 10^12
    docs the encode is embarrassingly parallel. `documents` is read twice
    per run (rule derivation at build, encode at execute), never more."""
    rules = bpe_merge_rules(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    raw = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
    return raw.mapInArrow(
        _bpe_encode_batches(rules), schema=_BPE_OUT_SCHEMA
    ).orderBy("doc_id")


def bpe_encode_ctes() -> str:
    """The recursive-CTE tokenizer body (``vocab`` .. ``toks``) shared by
    the ``bpe_encode`` oracle and the BPE-cost packing oracle
    (training.PACK_BPE_SQL): rule derivation, per-word greedy merge
    fixpoint, and the per-(doc, pos) token stream. Callers prepend
    ``WITH RECURSIVE`` and join ``toks``/``encoded`` their own way."""
    m = BPE_MERGES
    return f"""vocab AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest({tokens_sql('text')}) AS tok FROM documents)
  WHERE len(tok) >= 2 GROUP BY tok),
cand AS (
  SELECT substr(tok, u.i, 2) AS pair, CAST(sum(n) AS BIGINT) AS occurrences
  FROM vocab, LATERAL unnest(generate_series(1, len(tok) - 1)) AS u(i)
  GROUP BY pair ORDER BY occurrences DESC, pair LIMIT {m}),
rules AS (
  SELECT pair, row_number() OVER (ORDER BY occurrences DESC, pair) AS rank
  FROM cand),
words AS (
  SELECT DISTINCT tok
  FROM (SELECT unnest({tokens_sql('text')}) AS tok FROM documents)),
enc AS (
  SELECT tok,
         list_transform(generate_series(1, len(tok)), i -> substr(tok, i, 1))
           AS syms,
         0 AS r
  FROM words
  UNION ALL
  SELECT e.tok,
         CASE WHEN len(e.syms) <= 1 THEN e.syms ELSE
           reduce(
             list_transform(e.syms, s -> [s]),
             (acc, x) -> CASE WHEN acc[-1] = substr(ru.pair, 1, 1)
                               AND x[1] = substr(ru.pair, 2, 1)
                         THEN list_concat(acc[:len(acc) - 1], [ru.pair])
                         ELSE list_concat(acc, x) END)
         END AS syms,
         e.r + 1
  FROM enc e JOIN rules ru ON ru.rank = e.r + 1),
encoded AS (
  SELECT tok, array_to_string(syms, '_') AS pieces, syms,
         CAST(len(syms) AS BIGINT) AS n_pieces
  FROM enc QUALIFY row_number() OVER (PARTITION BY tok ORDER BY r DESC) = 1),
toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok,
         generate_subscripts({tokens_sql('text')}, 1) AS pos
  FROM documents)"""


def _bpe_encode_sql() -> str:
    return f"""
WITH RECURSIVE
{bpe_encode_ctes()}
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(e.n_pieces) AS BIGINT) AS n_pieces,
       string_agg(e.pieces, ' ' ORDER BY t.pos) AS encoded_text
FROM toks t JOIN encoded e USING (tok)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


# --- model-based quality classifier ------------------------------------------

# hashed feature space (fastText-style bag of hashed words). 2^12 buckets is
# the toy-scale stand-in for fastText's 2^21; the bucket count only changes
# collision rate, never the plan shape.
CLS_BUCKETS = 4096
# frozen "model": weight_micros(b) = ((b*A + C) mod (2W+1)) - W, a full-period
# LCG draw in [-1e6, +1e6] micros. b < 2^12 and A < 2^16 keep every
# intermediate < 2^28 (DuckDB errors on BIGINT overflow; ANSI Spark too).
CLS_A = 48271
CLS_C = 11213
CLS_W = 1_000_000
# decision threshold in logit micros. The corpus vocabulary draws mostly
# positive weights under this frozen model, so 0 would keep ~97% — the
# threshold sits at the observed sf0.01 median (~180k micros) so the gate
# actually discriminates; a trained model ships its own threshold the same
# way (a constant in the plan).
CLS_THRESH = 180_000


def cls_weight(tok) -> "F.Column":
    """Per-token weight (integer micros) of the frozen hashed linear model —
    shared by the ``quality_classifier`` op (explode + codegen agg) and the
    curation stage's optional classifier gate (single map-only fold)."""
    bucket = F.pmod(h64(tok), F.lit(CLS_BUCKETS))
    return (bucket * CLS_A + CLS_C) % (2 * CLS_W + 1) - CLS_W


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the GPT-3/CCNet-style classifier gate):
    score every document with a linear bag-of-hashed-words model and emit the
    keep/drop verdict — the stage that runs AFTER the heuristic `quality`
    signals in a real curation pipeline (reference analogue: the confidence
    scores its processors attach per extraction, e.g. Docling's per-cell
    confidences, which downstream filtering thresholds).

    The model here is a frozen deterministic weight function over hash
    buckets so DuckDB can verify the whole chain closed-form; a TRAINED
    model ships as a (bucket, weight_micros) table and swaps in as a
    broadcast join on `bucket` — identical plan shape. Logit arithmetic is
    all-integer: sum of per-token weights, floor-mean over token count.

    Scale shape: tokenize+hash+weight are one codegen map pass fused with
    the pruned (doc_id, text) scan; the only exchange is the partial-agg
    sum keyed on doc_id (pre-reduced map-side, so the shuffle carries one
    row per doc, not per token). At 100 TB this is a single
    scan->explode->hash-agg stage; nothing is collected or broadcast except
    the (constant-size) model.
    """
    docs = _docs(spark, sf_dir)
    t = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    per_doc = (
        t.select("doc_id", cls_weight(F.col("tok")).alias("w_micros"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("w_micros").alias("s"))
    )
    logit = F.floor(F.col("s").cast("double") / F.col("n_tokens")).cast("bigint")
    return (
        per_doc.select(
            "doc_id",
            "n_tokens",
            logit.alias("logit_micros"),
            (logit > CLS_THRESH).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


QUALITY_CLASSIFIER_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents),
w AS (
  SELECT doc_id,
         ((({h64_sql('tok')}) % {CLS_BUCKETS}) * {CLS_A} + {CLS_C})
           % {2 * CLS_W + 1} - {CLS_W} AS w_micros
  FROM toks),
agg AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(sum(w_micros) AS BIGINT) AS s
  FROM w GROUP BY doc_id)
SELECT doc_id, n_tokens,
       CAST(floor(CAST(s AS DOUBLE) / n_tokens) AS BIGINT) AS logit_micros,
       CASE WHEN floor(CAST(s AS DOUBLE) / n_tokens) > {CLS_THRESH} THEN 1 ELSE 0 END AS keep
FROM agg ORDER BY doc_id
"""


QUERIES: dict[str, tuple] = {
    "quality_classifier": (q_quality_classifier, QUALITY_CLASSIFIER_SQL),
    "unicode_normalize": (q_unicode_normalize, UNICODE_NORMALIZE_SQL),
    "bpe_pairs": (q_bpe_pairs, BPE_PAIRS_SQL),
    "bpe_encode": (q_bpe_encode, BPE_ENCODE_SQL),
    "vocab_coverage": (q_vocab_coverage, VOCAB_COVERAGE_SQL),
    "source_cap": (q_source_cap, SOURCE_CAP_SQL),
    "lexical_diversity": (q_lexical_diversity, LEXICAL_DIVERSITY_SQL),
    "compression_ratio": (q_compression_ratio, None),
    "transcript_normalize": (q_transcript_normalize, TRANSCRIPT_NORMALIZE_SQL),
    "tfidf_keywords": (q_tfidf_keywords, TFIDF_KEYWORDS_SQL),
    "bm25_search": (q_bm25_search, BM25_SEARCH_SQL),
    "lang_id": (q_lang_id, LANG_ID_SQL),
    "boilerplate_ngrams": (q_boilerplate_ngrams, BOILERPLATE_NGRAMS_SQL),
    "pii_scrub": (q_pii_scrub, PII_SCRUB_SQL),
    "repetition": (q_repetition, REPETITION_SQL),
    "lang_id_ngram": (q_lang_id_ngram, LANG_ID_NGRAM_SQL),
    "quality": (q_quality, QUALITY_SQL),
    "source_quality": (q_source_quality, SOURCE_QUALITY_SQL),
    "token_counts": (q_token_counts, TOKEN_COUNTS_SQL),
    "fingerprint": (q_fingerprint, FINGERPRINT_SQL),
}
