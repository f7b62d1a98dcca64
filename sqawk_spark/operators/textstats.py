"""Text analysis operators for document pipelines.

Token counting, quality scoring, n-gram heuristic language ID, and
content fingerprinting run as pure column expressions (whole-stage
codegen, no Python in the hot path) — single scans over
``documents``, trivially linear at any scale. tf-idf top-terms adds
the canonical two-pass shape: a vocabulary-sized document-frequency
aggregate joined back into the per-document scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqawk_spark.operators.registry import query
from sqawk_spark.operators.session_cache import SessionCache
from sqawk_spark.operators.tables import load_tables

# Stopword sets for the language-ID heuristic and quality scoring.
# Tiny on purpose: at scale these ship as literals inside the codegen'd
# expression, not as a broadcast table.
STOP_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
STOP_ES = ("el", "la", "de", "los", "las", "y", "en", "que")


def _tokens():
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


def _sql_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


# GPT-2-style pre-tokenizer pattern, minus the lookahead (RE2 — the
# DuckDB oracle's engine — has none): contractions, space-prefixed
# letter runs, digit runs, punctuation runs, residual whitespace.
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_SQL = BPE_PAT.replace("'", "''")


@query(
    "text_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER)
                   AS n_tokens,
               CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS INTEGER)
                   AS n_bpe_tokens,
               CAST(length(text) AS INTEGER) AS n_chars_measured,
               CAST(n_chars AS BIGINT) AS n_chars_declared
        FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts per document: whitespace tokens plus a BPE-ish
    pre-tokenizer count (the GPT-2 split pattern) — the cheap proxy
    for "how many LLM tokens is this corpus" that runs as a codegen'd
    regex scan, no tokenizer library on the executors."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PAT), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_measured"),
        F.col("n_chars").alias("n_chars_declared"),
    )


@query(
    "text_quality_score",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
                   length(text) AS nc,
                   length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS npunct
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               round(npunct * 1.0 / nc, 6) AS punct_ratio,
               round(len(list_filter(toks, x -> x IN ({_sql_list(STOP_EN)})))
                     * 1.0 / len(toks), 6) AS stopword_ratio,
               round(
                   0.5 * least(len(toks), 100) / 100.0
                   + 0.5 * (1.0 - npunct * 1.0 / nc), 6
               ) AS quality_score
        FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length credit + punctuation penalty,
    with stopword ratio reported alongside (the classic cheap filters
    a pretraining pipeline applies before anything model-based)."""
    t = load_tables(spark, sf_dir, ("documents",), spread=("documents",))
    toks = _tokens()
    nc = F.length("text")
    npunct = F.length(F.regexp_replace(F.col("text"), r"[^.!?,;:]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*STOP_EN))
    )
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(npunct / nc, 6).alias("punct_ratio"),
        F.round(stop_hits / F.size(toks), 6).alias("stopword_ratio"),
        F.round(
            0.5 * F.least(F.size(toks), F.lit(100)) / 100.0 + 0.5 * (1.0 - npunct / nc),
            6,
        ).alias("quality_score"),
    )


@query(
    "text_langid",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
            FROM documents
        ),
        scored AS (
            SELECT doc_id, lang,
                   len(list_filter(toks, x -> x IN ({_sql_list(STOP_EN)})))
                       AS en_hits,
                   len(list_filter(toks, x -> x IN ({_sql_list(STOP_ES)})))
                       AS es_hits
            FROM s
        )
        SELECT doc_id, lang AS lang_declared,
               CASE WHEN es_hits > en_hits THEN 'es'
                    WHEN en_hits > 0 THEN 'en'
                    ELSE 'und' END AS lang_pred,
               CAST(en_hits AS INTEGER) AS en_hits,
               CAST(es_hits AS INTEGER) AS es_hits
        FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-hit voting — the n-gram-heuristic
    shape (real pipelines use bigger lexicons / character n-grams;
    the plan is identical: one scan, pure expressions)."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    en_hits = F.size(F.filter(toks, lambda x: x.isin(*STOP_EN)))
    es_hits = F.size(F.filter(toks, lambda x: x.isin(*STOP_ES)))
    return t["documents"].select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        F.when(es_hits > en_hits, "es")
        .when(en_hits > 0, "en")
        .otherwise("und")
        .alias("lang_pred"),
        en_hits.alias("en_hits"),
        es_hits.alias("es_hits"),
    )


@query(
    "text_fingerprint",
    oracle="""
        WITH s AS (
            SELECT doc_id,
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
            FROM documents
        )
        SELECT doc_id,
               md5(norm) AS content_md5,
               CAST(list_reduce(
                   list_transform(regexp_split_to_array(norm, ' '),
                                  t -> length(t)::BIGINT),
                   (acc, x) -> (acc * 31 + x) % 1000000007
               ) AS BIGINT) AS shape_hash
        FROM s
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text plus a rolling
    (polynomial) hash over token lengths — the structural sketch is
    robust to word substitution, the md5 to nothing. Both computed in
    one pass with higher-order array functions."""
    t = load_tables(spark, sf_dir, ("documents",))
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    d = t["documents"].select("doc_id", norm.alias("norm"))
    token_lens = F.transform(
        F.split(F.col("norm"), " "), lambda tok: F.length(tok).cast("long")
    )
    rolling = F.aggregate(
        token_lens,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return d.select(
        "doc_id",
        F.md5("norm").alias("content_md5"),
        rolling.alias("shape_hash"),
    )


_TFIDF_K = 5


@query(
    "text_tfidf_top_terms",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(
                regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0),
                         6) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= {_TFIDF_K}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed tf-idf
    (idf = ln((N+1)/(df+1)) + 1, sklearn's formulation).

    The canonical two-pass text statistic: pass 1 aggregates document
    frequencies (output rows = vocabulary size, far smaller than the
    corpus — AQE broadcasts it back into the per-doc join when it
    fits); pass 2 scores and takes a per-doc top-k window. All
    JVM-side; the shuffles are keyed on term (df agg) and doc_id
    (window) — both well-distributed, no driver collection. Ranking
    is on the ROUNDED score with the term as tie-break, so rank order
    is engine-independent."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    toks = docs.select(
        "doc_id", F.explode(_tokens()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # r11: raw-table row count from the parquet footer — same value
    # as docs.count(), no per-run Spark job
    from sqawk_spark.operators.tables import table_rows

    n_docs = table_rows(sf_dir, "documents")
    if n_docs is None:
        n_docs = docs.count()
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return scored.select(
        "doc_id", "term", "tfidf", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= _TFIDF_K)


@query(
    "text_repetition_stats",
    oracle="""
        WITH s AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        b AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS g
            FROM s, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        ),
        bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
        btop AS (SELECT doc_id, max(c) AS mc FROM bc GROUP BY 1),
        tri AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM s, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        ),
        tc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS tot,
                   CAST(count(DISTINCT g) AS BIGINT) AS uni
            FROM tri GROUP BY 1
        )
        SELECT s.doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               round(2.0 * mc / len(t), 6) AS top_bigram_frac,
               round((tot - uni) * 1.0 / tot, 6) AS dup_trigram_frac
        FROM s
        JOIN btop USING (doc_id)
        JOIN tc USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for pretraining quality filtering (the
    Gopher-rules family): the fraction of tokens covered by the most
    common bigram's occurrences, and the fraction of trigram
    occurrences that are duplicates. High values mark boilerplate /
    template / stutter documents that length and punctuation ratios
    (text_quality_score) miss.

    All JVM: grams come from a codegen'd sequence/slice transform
    (same idiom as the dedup shingler), the per-doc top count and
    distinct count are plain aggregates keyed by doc_id — two scans
    of the corpus, shuffles keyed on (doc_id[, gram]), nothing wider.
    """
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"].select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"),
    )
    base = docs.select("doc_id", F.size("t").alias("n_tokens"), "t")

    # size guards: Spark's sequence() descends when stop < start, so
    # an unguarded transform crashes on docs shorter than the gram
    # (slice start 0); the oracle's ascending-only generate_series
    # yields no grams there — guard to agree.
    b = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(t) >= 2 then"
                " transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', slice(t, i, 2)))"
                " else array() end"
            )
        ).alias("g"),
    )
    btop = (
        b.groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mc"))
    )
    tri = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(t) >= 3 then"
                " transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', slice(t, i, 3)))"
                " else array() end"
            )
        ).alias("g"),
    )
    tc = tri.groupBy("doc_id").agg(
        F.count("*").alias("tot"),
        F.countDistinct("g").alias("uni"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(btop, "doc_id")
        .join(tc, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(2.0 * F.col("mc") / F.col("n_tokens"), 6).alias(
                "top_bigram_frac"
            ),
            F.round(
                (F.col("tot") - F.col("uni")) / F.col("tot"), 6
            ).alias("dup_trigram_frac"),
        )
    )


# --- PII redaction ------------------------------------------------------

# Patterns valid (and identical in meaning) under both Java regex
# (Spark) and RE2 (DuckDB): explicit [0-9] classes, no shorthand \d,
# no lookaround. Order of application: EMAIL first (it contains dots
# and digits the later patterns could nibble), then SSN, PHONE, IP.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

# The synthetic corpus contains no PII, so both engines append the
# same deterministic contact block per document — the redaction then
# has real matches to find, and the md5 comparison proves the
# replacements happened identically.
_AUG_SQL = (
    "text || ' contact user' || doc_id || '@mail.example.com ip 10.' "
    "|| (doc_id % 200) || '.0.7 call 555-' "
    "|| lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-6789'"
)


@query(
    "text_pii_redact",
    oracle=f"""
        WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INTEGER)
                   AS n_emails,
               CAST(len(regexp_extract_all(t, '{PII_SSN}')) AS INTEGER)
                   AS n_ssns,
               CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS INTEGER)
                   AS n_phones,
               CAST(len(regexp_extract_all(t, '{PII_IP}')) AS INTEGER)
                   AS n_ips,
               md5(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_SSN}', '<SSN>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g'),
                   '{PII_IP}', '<IP>', 'g')) AS redacted_md5
        FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails / SSNs / phone numbers /
    IPv4 addresses with sequential regexp_replace — the standard
    pre-training scrub pass, as one codegen'd single-scan column
    expression (no Python, no shuffle; linear at any corpus size).

    Patterns are chosen to mean the same thing in Java regex and RE2
    so the DuckDB oracle checks the exact replacement behavior;
    category counts are measured independently on the original text,
    so they are order-free."""
    t = load_tables(spark, sf_dir, ("documents",), spread=("documents",))
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@mail.example.com ip 10."),
        F.col("doc_id") % 200,
        F.lit(".0.7 call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789"),
    )
    d = t["documents"].select("doc_id", aug.alias("t"))

    def count(pat):
        return F.size(F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0)))

    redacted = F.col("t")
    for pat, token in (
        (PII_EMAIL, "<EMAIL>"),
        (PII_SSN, "<SSN>"),
        (PII_PHONE, "<PHONE>"),
        (PII_IP, "<IP>"),
    ):
        redacted = F.regexp_replace(redacted, pat, token)
    return d.select(
        "doc_id",
        count(PII_EMAIL).alias("n_emails"),
        count(PII_SSN).alias("n_ssns"),
        count(PII_PHONE).alias("n_phones"),
        count(PII_IP).alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- corpus n-gram statistics -------------------------------------------

_NGRAM_K = 20


@query(
    "text_ngram_top",
    oracle=f"""
        WITH t AS (
            SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents
        ),
        b AS (
            SELECT unnest(list_transform(
                generate_series(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i + 1])) AS bigram
            FROM t WHERE len(tk) >= 2
        )
        SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY bigram
        ORDER BY cnt DESC, bigram
        LIMIT {_NGRAM_K}
    """,
)
def text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 bigrams — the vocabulary/phrase frequency
    table every corpus analysis starts from. One scan + one hashed
    aggregation on the bigram string; the final top-k is a
    TakeOrderedAndProject over the aggregated (vocabulary-sized)
    output, never a total sort of the corpus."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(_tokens().alias("t")).filter(F.size("t") >= 2)
    bigrams = F.zip_with(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(_NGRAM_K)
    )


# --- quality filter chain -----------------------------------------------


@query(
    "quality_filter_chain",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents
        ),
        m AS (
            SELECT doc_id, lang,
                   len(tk) AS n,
                   len(list_filter(tk,
                       x -> list_contains([{_sql_list(STOP_EN)}], x)))
                       AS stop_cnt,
                   len(list_distinct(tk)) AS n_distinct
            FROM t
        )
        SELECT doc_id,
               CASE
                   WHEN n < 20 THEN 'too_short'
                   WHEN lang NOT IN ('en', 'es') THEN 'lang_filtered'
                   WHEN stop_cnt * 100 < n THEN 'low_stopword'
                   WHEN n_distinct * 5 < n * 2 THEN 'repetitious'
                   ELSE 'keep'
               END AS reason,
               CASE
                   WHEN n < 20 THEN FALSE
                   WHEN lang NOT IN ('en', 'es') THEN FALSE
                   WHEN stop_cnt * 100 < n THEN FALSE
                   WHEN n_distinct * 5 < n * 2 THEN FALSE
                   ELSE TRUE
               END AS keep
        FROM m
    """,
)
def quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled keep/drop decision a pretraining pipeline applies
    before tokenization: length gate, language gate, stopword-density
    gate, repetition gate — first failing rule wins, exactly one
    reason per document.

    Every ratio threshold is evaluated as a cross-multiplied integer
    comparison (stop_cnt*100 < n, n_distinct*5 < 2n), so the oracle
    comparison has no float-tie ambiguity, and the whole operator is
    one codegen'd scan."""
    t = load_tables(spark, sf_dir, ("documents",), spread=("documents",))
    tk = _tokens()
    m = t["documents"].select(
        "doc_id",
        "lang",
        F.size(tk).alias("n"),
        F.size(
            F.filter(tk, lambda x: x.isin(*STOP_EN))
        ).alias("stop_cnt"),
        F.size(F.array_distinct(tk)).alias("n_distinct"),
    )
    reason = (
        F.when(F.col("n") < 20, "too_short")
        .when(~F.col("lang").isin("en", "es"), "lang_filtered")
        .when(F.col("stop_cnt") * 100 < F.col("n"), "low_stopword")
        .when(F.col("n_distinct") * 5 < F.col("n") * 2, "repetitious")
        .otherwise("keep")
    )
    return m.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


BPE_MERGES = 20


def _bpe_cte_chain(n: int) -> str:
    """The shared DuckDB CTE chain for the BPE oracles: the full
    iterative algorithm unrolled to ``n`` statically-chained rounds.
    Each round is (pair aggregation → deterministic arg-max → greedy
    left-to-right merge), where the merge fold is an exact recursive
    CTE over symbol positions — the same semantics as the Spark-side
    ``aggregate`` array fold, independently implemented. ``AS
    MATERIALIZED`` is load-bearing: each vocab CTE is referenced
    twice, and DuckDB's default inlining would re-expand the parquet
    scan 2^n times. Assumes the corpus supports ≥n merges (true for
    any real text table; the Spark side breaks early on exhaustion).
    The word ``w`` is carried through every fold so the final
    ``vocab{n}`` doubles as the word → segmentation map the encode
    oracle joins against."""
    parts = [
        """
words AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents)
  WHERE len(w) > 0 GROUP BY w
),
vocab0 AS MATERIALIZED (
  SELECT w, freq, list_append(string_split_regex(w, ''), '</w>') AS syms
  FROM words
)"""
    ]
    for k in range(n):
        parts.append(f"""
pairs{k} AS MATERIALIZED (
  SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(freq) AS BIGINT) AS pf
  FROM vocab{k}, unnest(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2
),
top{k} AS MATERIALIZED (
  SELECT a, b, pf FROM pairs{k} ORDER BY pf DESC, a, b LIMIT 1
),
fold{k} AS (
  SELECT w, syms, freq, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM vocab{k}
  UNION ALL
  SELECT f.w, f.syms, f.freq, f.i + 1,
    CASE WHEN len(f.acc) > 0 AND f.acc[-1] = t.a AND f.syms[f.i] = t.b
         THEN list_append(f.acc[:-2], t.a || t.b)
         ELSE list_append(f.acc, f.syms[f.i]) END
  FROM fold{k} f, top{k} t WHERE f.i <= len(f.syms)
),
vocab{k + 1} AS MATERIALIZED (
  SELECT w, freq, acc AS syms FROM fold{k} WHERE i = len(syms) + 1
)""")
    return "WITH RECURSIVE " + ",".join(parts)


def _bpe_oracle_sql(n: int) -> str:
    """text_bpe_learn oracle: the merge table (rank, left, right,
    pair_freq) read off the chain's per-round arg-max CTEs."""
    union = "\nUNION ALL ".join(
        f'SELECT {k} AS rank, a AS "left", b AS "right", pf AS pair_freq'
        f" FROM top{k}"
        for k in range(n)
    )
    return (
        _bpe_cte_chain(n)
        + "\nSELECT * FROM ("
        + union
        + ") ORDER BY rank"
    )


def _bpe_encode_oracle_sql(n: int) -> str:
    """text_bpe_encode oracle: every document re-tokenized through the
    final segmentation map (``vocab{n}``) — per-doc word count, BPE
    token count, and chars-per-token compression ratio."""
    return (
        _bpe_cte_chain(n)
        + f"""
, doctoks AS (
  SELECT doc_id, len(trim(text)) AS nc,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_tokens,
       round(max(d.nc) / sum(len(v.syms)), 6) AS chars_per_token
FROM doctoks d JOIN vocab{n} v USING (w)
WHERE len(d.w) > 0
GROUP BY d.doc_id"""
    )


@query("text_bpe_learn", oracle=_bpe_oracle_sql(BPE_MERGES))
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary learning (Sennrich-style): the
    iterative algorithm a tokenizer-training step runs, expressed the
    Spark way.

    Word frequencies collapse the corpus once (the vocab table is
    orders smaller than the corpus and carries all the information BPE
    needs); each of the {K} merge rounds is then one scan of the vocab:
    explode adjacent symbol pairs weighted by word frequency, one
    hashed aggregation picks the most frequent pair (freq DESC, then
    lexicographic — fully deterministic), ONE row comes to the driver,
    and the merge applies JVM-side as a left-to-right array fold
    (``aggregate``) — no Python touches the data. The vocab is
    re-persisted per round so lineage stays one round deep.

    Oracle: the algorithm unrolled to 20 statically-chained DuckDB
    rounds, with the greedy merge fold as a recursive CTE over symbol
    positions (see ``_bpe_oracle_sql``) — an independent
    implementation compared value-for-value. tests/test_extensions.py
    additionally replays the classic single-machine reference
    implementation and asserts the merge tables are identical.

    At 100 TB: the corpus scan happens once; rounds run on the vocab
    (≪ corpus, shuffles on symbol pairs); driver traffic is one row
    per round."""
    t = load_tables(spark, sf_dir, ("documents",))
    words = (
        t["documents"]
        .select(F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    return bpe_learn_from_words(words, BPE_MERGES)


def bpe_learn_from_words(words: DataFrame, n_merges: int) -> DataFrame:
    """Run the BPE merge loop over a ``(w, freq)`` word-frequency
    table. Split out from the registry builder so unit tests can feed
    adversarial vocabularies (backslashes, quotes) directly."""
    merges, _ = _bpe_train(words, n_merges)
    return words.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, pair_freq long"
    )


def _bpe_train(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """The BPE merge loop: returns the learned merge table (driver
    side — one row per round by construction) AND the final
    word → symbol-segmentation DataFrame, which is the trained
    tokenizer's application map (used by text_bpe_encode)."""
    spark = words.sparkSession
    # localCheckpoint (not persist): each round stacks another array
    # fold onto the plan, and 20 rounds of nested CASE expressions
    # overwhelm the analyzer — checkpointing materializes the tiny
    # vocab AND truncates the lineage to a LogicalRDD every round
    vocab = words.select(
        "w",
        "freq",
        F.expr(
            "concat(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), array('</w>'))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    merges = []
    for rank in range(n_merges):
        # fully-merged words have one symbol left; sequence(1, 0) would
        # DESCEND to index 0, so they must drop out before the expand
        pairs = vocab.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS a,"
                    "             element_at(syms, i + 1) AS b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.desc("pf"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, pf = top[0]["a"], top[0]["b"], top[0]["pf"]
        merges.append((rank, a, b, int(pf)))
        # Spark SQL string literals treat backslash as an escape, so a
        # corpus symbol containing one must double it BEFORE quote
        # escaping — quote-only escaping turns `\` into a malformed or
        # semantically different literal (ADVICE r04).
        esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")  # noqa: E731
        aq, bq = esc(a), esc(b)
        # left-to-right greedy merge as a JVM array fold: if the
        # accumulator ends with `a` and the next symbol is `b`, replace
        # the tail with the merged symbol, else append
        vocab = vocab.select(
            "w",
            "freq",
            F.expr(
                f"""aggregate(syms, CAST(array() AS ARRAY<STRING>),
                    (acc, x) -> CASE
                        WHEN size(acc) > 0
                             AND element_at(acc, -1) = '{aq}'
                             AND x = '{bq}'
                        THEN concat(slice(acc, 1, size(acc) - 1),
                                    array('{aq}' || '{bq}'))
                        ELSE concat(acc, array(x)) END)"""
            ).alias("syms"),
        ).localCheckpoint(eager=True)

    return merges, vocab


@query("text_bpe_encode", oracle=_bpe_encode_oracle_sql(BPE_MERGES))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the BPE vocabulary text_bpe_learn
    trains — the "apply" half of tokenizer training: per document, the
    word count, the BPE token count (symbols after all 20 merges), and
    the chars-per-token compression ratio every tokenizer report
    quotes.

    The trained segmentation lives as a word → symbols DataFrame (the
    merge loop's final vocab, ``_bpe_train``), so application is ONE
    equi-join of exploded document words against the distinct-word
    map plus a per-doc aggregation — the corpus text itself is never
    re-folded. At 100 TB: the vocab is orders smaller than the corpus
    (natural-language distinct words plateau in the millions), so AQE
    broadcasts it and the encode pass is scan + broadcast join +
    map-side-partial agg; driver traffic stays the 20 one-row merge
    collects of the training loop.

    Oracle: the same unrolled 20-round DuckDB chain as
    text_bpe_learn, with ``w`` carried through every fold so the
    final vocab CTE doubles as the segmentation map
    (``_bpe_encode_oracle_sql``)."""
    t = load_tables(spark, sf_dir, ("documents",))
    words = (
        t["documents"]
        .select(F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    _, vocab = _bpe_train(words, BPE_MERGES)
    seg = vocab.select("w", F.size("syms").alias("n_syms"))
    doctoks = (
        t["documents"]
        .select(
            "doc_id",
            F.length(F.trim("text")).alias("nc"),
            F.explode(_tokens()).alias("w"),
        )
        .filter(F.length("w") > 0)
    )
    return (
        doctoks.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_syms").alias("n_tokens"),
            F.round(F.max("nc") / F.sum("n_syms"), 6).alias(
                "chars_per_token"
            ),
        )
    )


@query(
    "text_perplexity_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents
        ),
        toks2 AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
        lm AS (
            SELECT w,
                   CAST(round(-ln(CAST(count(*) AS DOUBLE)
                              / (SELECT count(*) FROM toks2)) * 1000000)
                        AS BIGINT) AS nll_micro
            FROM toks2 GROUP BY w
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(sum(l.nll_micro) / (count(*) * 1000000.0), 4)
                   AS avg_nll,
               round(exp(sum(l.nll_micro) / (count(*) * 1000000.0)), 2)
                   AS perplexity
        FROM toks2 t JOIN lm l USING (w)
        GROUP BY t.doc_id
    """,
)
def text_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model perplexity — the CCNet-style quality
    signal: score every document by the average negative log-
    probability of its tokens under the corpus's own unigram
    distribution (gibberish and boilerplate both stand out: rare-token
    soup scores high, repeated-token spam scores low).

    Cross-engine float discipline: each DISTINCT word's -ln(p) is
    computed once and immediately scaled to an integer (micro-nats,
    round×1e6) — per-document sums are then integer arithmetic, exact
    and order-independent on both engines regardless of partial-agg
    order; only the final division rounds. The ln() itself is the one
    float op, evaluated once per vocab entry on identical f64 inputs.

    Scale: one corpus scan builds the LM (vocab ≪ corpus, plateaus in
    the millions for natural language), one scan scores — the LM side
    broadcasts (AQE) and the per-doc agg combines map-side. The
    corpus-total token count is a 1-row broadcast, not a window."""
    # r11: two structural trims over the r10 shape, keeping its
    # shuffle-light dataflow (partial-agged LM exchange + broadcast
    # LM, the corpus token stream itself never shuffles):
    #   * the corpus token total rolls up from the LM's own word
    #     counts (sum(wf) ≡ count(*), exact integers) instead of a
    #     third full tokenize pass.
    # (Two rejected-by-measurement alternatives, for the record: a
    # persisted per-doc (w, k) frame was ~2× SLOWER at sf0.1 —
    # materializing the exploded token stream costs more than
    # recomputing it, since tokenize+explode feeding a partial
    # aggregate never materializes at all — and the unsplittable-input
    # spread also lost here: the downstream is partial-agg-dominated,
    # so a full-row exchange buys parallelism the partials don't
    # need.)
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (
        t["documents"]
        .select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
    )
    counts = toks.groupBy("w").agg(F.count("*").alias("wf"))
    total = counts.agg(F.sum("wf").alias("corpus_n"))
    lm = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "w",
            F.round(
                -F.log(F.col("wf").cast("double") / F.col("corpus_n"))
                * 1_000_000
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    return (
        toks.join(lm, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("nll_micro") / (F.count("*") * 1_000_000.0), 4
            ).alias("avg_nll"),
            F.round(
                F.exp(F.sum("nll_micro") / (F.count("*") * 1_000_000.0)), 2
            ).alias("perplexity"),
        )
    )


@query(
    "text_zipf_fit",
    oracle="""
        WITH vocab AS (
            SELECT w, CAST(count(*) AS BIGINT) AS f
            FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                      '\\s+')) AS w
                  FROM documents)
            WHERE len(w) > 0 GROUP BY w
        ),
        ranked AS (
            SELECT CAST(round(ln(row_number()
                       OVER (ORDER BY f DESC, w)) * 1000000)
                       AS BIGINT) AS x,
                   CAST(round(ln(f) * 1000000) AS BIGINT) AS y
            FROM vocab
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM ranked
        )
        SELECT n AS n_vocab,
               round((n * sxy - sx * sy) * 1.0
                     / (n * sxx - sx * sx), 6) AS zipf_slope,
               round((sy - (n * sxy - sx * sy) * 1.0
                           / (n * sxx - sx * sx) * sx)
                     / (n * 1000000.0), 6) AS intercept_nats
        FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health diagnostic: least-
    squares slope of ln(frequency) against ln(rank) over the
    vocabulary (natural text sits near -1; templated/synthetic
    corpora drift toward 0 or collapse steeply). Returns the slope,
    the intercept (in nats), and the vocabulary size.

    Cross-engine float discipline: each vocab entry's ln(rank) and
    ln(freq) are scaled to integer micro-nats once (one ln per vocab
    row, identical f64 inputs), so every regression sum (Σx, Σy, Σxy,
    Σx²) is exact integer arithmetic — order-independent on both
    engines; two final divisions round. Rank ties break on the word
    itself, keeping row_number identical in both engines.

    Scale: the regression runs on the VOCAB (≪ corpus); the one
    global-order window is vocab-sized, not corpus-sized — at 100 TB
    natural-language vocab plateaus in the millions, which one task
    sorts in memory; the corpus itself contributes only the word-count
    scan with map-side partials."""
    t = load_tables(spark, sf_dir, ("documents",))
    vocab = (
        t["documents"]
        .select(F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    rk = F.row_number().over(W.orderBy(F.desc("f"), F.asc("w")))
    ranked = vocab.select(
        F.round(F.log(rk.cast("double")) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y"),
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx"))
            / (F.col("n") * 1_000_000.0),
            6,
        ).alias("intercept_nats"),
    )


@query(
    "source_level_filter",
    oracle="""
        WITH s AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY 1
        ), keep AS (
            SELECT source, n_docs,
                   round(sum_chars / (1.0 * n_docs), 2) AS avg_chars
            FROM s
            WHERE sum_chars >= 300 * n_docs AND n_docs >= 10
        )
        SELECT d.doc_id, d.source, keep.avg_chars
        FROM documents d JOIN keep ON d.source = keep.source
        ORDER BY d.doc_id
    """,
)
def source_level_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality filtering — drop WHOLE sources whose
    average document length falls below a floor (or with too few
    documents to judge), keep every document from surviving sources.
    The C4/RefinedWeb "blocklist the domain, not the page" step:
    per-document filters (quality_filter_chain) can't catch a domain
    that is uniformly mediocre.

    The mean-length test is the exact integer cross-multiplication
    ``sum_chars >= 300 × n_docs`` — never an avg() double compare a
    source could straddle differently per engine; the displayed
    average divides the same exact integers.

    Scale: one source-level aggregate (domains ≪ documents), the
    surviving-source table broadcast back over the corpus — the scan
    is pruned by a broadcast hash join, not re-aggregated; adding a
    new domain signal extends the small agg, not the corpus pass."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    keep = s.filter(
        (F.col("sum_chars") >= 300 * F.col("n_docs"))
        & (F.col("n_docs") >= 10)
    ).select(
        "source",
        F.round(F.col("sum_chars") / (1.0 * F.col("n_docs")), 2).alias(
            "avg_chars"
        ),
    )
    return (
        docs.join(F.broadcast(keep), "source")
        .select("doc_id", "source", "avg_chars")
        .orderBy("doc_id")
    )


# BM25 retrieval queries: constants, like the ANN query set — at scale
# these ship as literals inside the plan, never as a shuffled table.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "spark window merge"),
    (2, "slow query filter"),
    (3, "stream join batch"),
    (4, "hash table scan"),
)
_BM25_TERMS = sorted({t for _, q in BM25_QUERIES for t in q.split()})
_BM25_TOPK = 10


def _bm25_oracle() -> str:
    values = ", ".join(
        f"({qid}, '{t}')" for qid, q in BM25_QUERIES for t in q.split()
    )
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        dl AS (SELECT doc_id, len(t) AS dl FROM toks),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(len(t)) AS BIGINT) AS tt
            FROM toks
        ),
        q(query_id, term) AS (VALUES {values}),
        tf AS (
            SELECT doc_id, u.x AS term, CAST(count(*) AS BIGINT) AS tf
            FROM toks, UNNEST(t) AS u(x)
            WHERE u.x IN ({in_list})
            GROUP BY 1, 2
        ),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        contrib AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(round(
                       ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * 2.2
                          / (tf.tf + 0.3 + 0.9 * dl.dl * s.n / s.tt))
                       * 1000000) AS BIGINT) AS c
            FROM tf
            JOIN q ON q.term = tf.term
            JOIN df ON df.term = tf.term
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
        ),
        scored AS (
            SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_u
            FROM contrib GROUP BY 1, 2
        ),
        ranked AS (
            SELECT query_id, doc_id, score_u,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score_u DESC, doc_id) AS rn
            FROM scored
        )
        SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
               round(score_u / 1000000.0, 6) AS bm25,
               CAST(rn AS INTEGER) AS rank
        FROM ranked WHERE rn <= {_BM25_TOPK}
    """


@query("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus — the lexical baseline
    every RAG / data-curation pipeline needs next to the embedding
    ANN entries. Lucene-form BM25 (k1=1.2, b=0.75):

        idf(t)  = ln(1 + (N - df + ½) / (df + ½))
        score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b) + k1·b·dl/avgdl)

    Determinism: per-term contributions are computed from integer
    inputs (tf, df, dl, N, total tokens) with a TEXTUALLY IDENTICAL
    expression on both engines, rounded to integer micro-units, and
    summed as BIGINTs — integer sums are aggregation-order-free, so
    ranks (ordered by the integer score with a doc_id tie-break)
    cannot wiggle between engines the way raw double sums do.

    Scale: ONE corpus scan. The scan stage tokenizes each document
    once and reduces it to the compact per-doc frame
    ``(doc_id, dl, hits)`` — document length plus the query-vocabulary
    tokens it contains (duplicates kept; tf is their count) — which is
    persisted (:data:`_BM25_CACHE`, the bigram-LM pattern: column
    pruning gives the stats and posting branches different partial
    outputs, so ReuseExchange cannot dedupe them and without the
    persist each branch would re-read and re-tokenize the corpus).
    Corpus stats (N, total tokens) roll up from the compact frame, so
    they cost a doc-count-sized agg, not a second text scan. The
    vocabulary pre-filter is an array lambda — interpreted, but paid
    once inside the single scan; the earlier explode+isin codegen
    variant was faster per-branch yet forced the second full scan,
    which dominates at corpus scale. df is a vocabulary-sized
    aggregate broadcast back; stats are a 1-row broadcast. Top-k is
    one per-query ranking window whose row_number filter Spark 3.5+
    executes with a PARTIAL WindowGroupLimit below the exchange, so
    each query's partition receives tasks×k candidates, never its
    full posting list (see window_rank — same r12 de-salting)."""
    compact = _bm25_doc_hits(spark, sf_dir)
    stats = compact.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tt")
    )
    tf = (
        compact.select(
            "doc_id", "dl", F.explode("hits").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = spark.createDataFrame(
        [(qid, term) for qid, s in BM25_QUERIES for term in s.split()],
        "query_id int, term string",
    )
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.log(
                    1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (
                    F.col("tf") * 2.2
                    / (
                        F.col("tf")
                        + 0.3
                        + 0.9 * F.col("dl") * F.col("n") / F.col("tt")
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("score_u")
    )
    # r12: one plain per-query window replaces the r11 salted
    # two-phase (same move as window_rank). Spark 3.5+ inserts a
    # PARTIAL WindowGroupLimit below the exchange for a row_number
    # filter, so every map task already emits at most k rows per
    # query_id and the query_id exchange moves tasks×k×|queries|
    # candidate rows — the map-side truncation the salt used to
    # provide, minus one exchange and one window phase.
    order = (F.col("score_u").desc(), "doc_id")
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("score_u") / 1000000.0, 6).alias("bm25"),
            "rank",
        )
    )


@query(
    "text_collapse_runs",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        runs AS (
            SELECT doc_id, t,
                   list_filter(t, (x, i) -> i = 1 OR x <> t[i - 1]) AS c
            FROM toks
        )
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(len(c) AS INTEGER) AS n_runs,
               array_to_string(c, ' ') AS collapsed
        FROM runs
    """,
)
def text_collapse_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse consecutive repeated tokens ("batch batch batch" →
    "batch") — the run-length cleaning step crawled corpora need
    before training: boilerplate and scraped menus repeat tokens in
    place, and repetition is the classic degenerate-LM trigger.

    Implementation: an indexed array lambda — ``filter(t, (x, i) ->
    i = 0 OR x != t[i-1])`` — keeps each run's first token. For the
    run-start token the positional clause short-circuits the NULL
    ``x != t[-1]`` comparison identically in both engines
    (``TRUE OR NULL = TRUE``), so no sentinel padding is needed.

    Scale: map-only — no explode, no window, no shuffle; each row is
    rewritten in place inside the scan stage. Higher-order array
    functions evaluate interpreted rather than codegen'd (measured
    ~1.4× slower per value than a codegen'd expression on the BM25
    token filter), but interpreted-JVM-per-row beats the alternative
    shape — posexplode + lag() window — which would shuffle the
    entire token stream just to compare neighbors that already sit
    adjacent in one array."""
    t = load_tables(spark, sf_dir, ("documents",), spread=("documents",))
    d = t["documents"].select("doc_id", _tokens().alias("t"))
    tt = F.col("t")
    collapsed = F.filter(
        tt, lambda x, i: (i == F.lit(0)) | (x != F.get(tt, i - 1))
    )
    return d.select(
        "doc_id",
        F.size(tt).cast("int").alias("n_tokens"),
        F.size(collapsed).cast("int").alias("n_runs"),
        F.array_join(collapsed, " ").alias("collapsed"),
    )


# Per-document bigram counts are read by three consumers with three
# different shuffle keys (c(w1), c(w1,w2), per-doc scoring); column
# pruning gives each branch a distinct partial-aggregate output, so
# ReuseExchange cannot canonicalize them equal — persist instead, the
# same pattern as dedup's inverted-index cache (one tokenize+explode
# scan and one corpus-sized exchange total; MEMORY_AND_DISK spills
# rather than OOMing).
_BIGRAM_CACHE = SessionCache()

# (doc_id, dl, hits) per document for BM25 — persisted so the corpus
# is tokenized once while both the stats and posting-list branches
# read it (see text_bm25_topk's docstring).
_BM25_CACHE = SessionCache()


def _bm25_doc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, hits): document token length plus the query-
    vocabulary tokens the document contains, duplicates kept — the
    one corpus-derived frame text_bm25_topk needs. One row per
    document (zero-hit docs keep an empty array), so corpus-wide
    stats roll up from here without rescanning text. The lambda
    filter evaluates interpreted, but once per document inside the
    only text scan; the frame it leaves behind is doc-count-sized
    (two ints and a near-empty array per row)."""

    def build() -> DataFrame:
        from pyspark import StorageLevel

        t = load_tables(spark, sf_dir, ("documents",))
        terms_sql = ", ".join("'" + x + "'" for x in _BM25_TERMS)
        toks = t["documents"].select("doc_id", _tokens().alias("t"))
        return (
            toks.select(
                "doc_id",
                F.size("t").alias("dl"),
                F.expr(
                    f"filter(t, x -> x IN ({terms_sql}))"
                ).alias("hits"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )

    return _BM25_CACHE.get_or_build(spark, (sf_dir,), build)


def _bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2, k): count of each distinct adjacent token pair
    per document — the one corpus-sized frame the bigram-LM entry
    derives everything from."""

    def build() -> DataFrame:
        from pyspark import StorageLevel

        t = load_tables(spark, sf_dir, ("documents",))
        toks = t["documents"].select("doc_id", _tokens().alias("t"))
        big = (
            toks.select(
                "doc_id",
                F.explode(
                    F.expr(
                        "case when size(t) >= 2 then"
                        " transform(sequence(1, size(t) - 1),"
                        " i -> struct(t[i-1] as w1, t[i] as w2))"
                        " else array() end"
                    )
                ).alias("b"),
            )
            .select("doc_id", "b.w1", "b.w2")
            .filter((F.length("w1") > 0) & (F.length("w2") > 0))
        )
        # r11: pin HashPartitioning(w1, w2) + (w1, w2) order on the
        # cache. Aggregates accept a PARTIAL clustering key
        # (requireAllClusterKeysForDistribution=false), so c(w1,w2)
        # and the c(w1) rollup both run exchange-free on this layout;
        # the dbc⋈lm rescoring JOIN on (w1,w2) needs ALL join keys in
        # the partitioning (requireAllClusterKeysForCoPartition=true,
        # the Spark default) — pinning the full pair keeps that join
        # exchange- and sort-free too. The only per-run corpus-sized
        # exchange left in the bigram entry is the final per-document
        # rollup (guide §2.4).
        return (
            big.groupBy("doc_id", "w1", "w2")
            .agg(F.count("*").alias("k"))
            .repartition("w1", "w2")
            .sortWithinPartitions("w1", "w2")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return _BIGRAM_CACHE.get_or_build(spark, (sf_dir,), build)


@query(
    "text_perplexity_bigram",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        big AS (
            SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 2 AND len(t[i]) > 0 AND len(t[i+1]) > 0
        ),
        v AS (
            SELECT CAST(count(DISTINCT w) AS BIGINT) AS vsz
            FROM (SELECT unnest(t) AS w FROM toks)
            WHERE len(w) > 0
        ),
        c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1),
        lm AS (
            SELECT b.w1, b.w2,
                   CAST(round(-ln((count(*) + 1.0) / (c1.c + v.vsz))
                              * 1000000) AS BIGINT) AS nll_micro
            FROM big b JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v
            GROUP BY b.w1, b.w2, c1.c, v.vsz
        )
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(sum(l.nll_micro) / (count(*) * 1000000.0), 4)
                   AS avg_nll,
               round(exp(sum(l.nll_micro) / (count(*) * 1000000.0)), 2)
                   AS perplexity
        FROM big b JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
        GROUP BY b.doc_id
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model perplexity with add-one smoothing — the
    next quality signal up from :func:`text_perplexity_score`: a
    document full of individually-common words in improbable ORDER
    (shuffled spam, keyword stuffing) scores high where the unigram
    model cannot see anything wrong.

        p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + |V|)

    Same cross-engine float discipline as the unigram entry: each
    DISTINCT bigram's -ln p is computed once on identical f64 inputs
    and scaled to integer micro-nats; per-document sums are exact
    integer arithmetic under any partial-agg order. Documents with
    fewer than two non-empty tokens have no bigrams and drop from the
    output (matching the oracle's inner join).

    Scale: every consumer derives from ONE persisted per-document
    bigram-count frame (:func:`_bigram_counts` — the dedup-index
    persist pattern; column pruning gives each branch a different
    partial-agg output, so plan-level ReuseExchange can't dedupe
    them), so the corpus is tokenized+exploded and exchanged ONCE —
    the naive shape (re-joining the raw bigram stream against the LM)
    re-scans it once per distinct shuffle key. c(w1) rolls up from
    c(w1,w2), an LM-sized input, not the cache. The LM is
    observed-bigram-sized (≪ corpus; plateaus like any n-gram table);
    its joins are left to AQE to broadcast when small. The vocab size
    is a 1-row broadcast (one extra token-level scan — countDistinct
    over all tokens can't be derived from bigrams, 1-token docs have
    none). The bigram explode is guarded for short docs (Spark's
    sequence() DESCENDS when stop < start — an unguarded transform
    would index t[-1])."""
    dbc = _bigram_counts(spark, sf_dir)
    # (r11 note: an array_distinct-before-explode variant of this
    # scalar measured slower — countDistinct's partial aggregate
    # already collapses duplicates map-side in codegen, while the
    # higher-order-function dedup runs interpreted per row.)
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select("doc_id", _tokens().alias("t"))
    vsz = (
        toks.select(F.explode("t").alias("w"))
        .filter(F.length("w") > 0)
        .agg(F.countDistinct("w").alias("vsz"))
    )
    c12 = dbc.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c"))
    lm = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vsz))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    (F.col("c12") + 1.0) / (F.col("c") + F.col("vsz"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    n_inst = F.sum("k")
    s_nll = F.sum(F.col("k") * F.col("nll_micro"))
    return (
        dbc.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            n_inst.alias("n_bigrams"),
            F.round(s_nll / (n_inst * 1_000_000.0), 4).alias("avg_nll"),
            F.round(
                F.exp(s_nll / (n_inst * 1_000_000.0)), 2
            ).alias("perplexity"),
        )
    )


# Hashed-feature linear classifier: bucket = md5-derived 32-bit value
# mod _LR_BUCKETS; weight = a fixed integer mix of the bucket id in
# micro-logit units. The weights stand in for a trained fastText-style
# model (the container has no model artifacts); the PLUMBING — feature
# hashing, bucket lookup, integer-exact score aggregation — is the
# production shape, and swapping real weights in is a broadcast of a
# _LR_BUCKETS-row table instead of the arithmetic.
_LR_BUCKETS = 1024
_LR_MIX = 2654435761  # Knuth multiplicative-hash constant


@query(
    "text_quality_lr_score",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CAST(list_sum(
                   [(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                     % {_LR_BUCKETS} * {_LR_MIX}) % 2001 - 1000
                    FOR tok IN t]) AS BIGINT) AS logit_micro,
               CAST(CASE WHEN list_sum(
                   [(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                     % {_LR_BUCKETS} * {_LR_MIX}) % 2001 - 1000
                    FOR tok IN t]) >= 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM toks
    """,
)
def text_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a hashed bag-of-words linear
    classifier (the fastText / CCNet quality-filter shape) scored
    entirely inside one codegen'd scan. Each token hashes to one of
    1024 feature buckets (md5 → 32-bit int → mod), the bucket maps to
    an integer weight in micro-logit units, and the document's logit
    is the exact integer sum — ``aggregate(transform(tokens, w), 0,
    +)`` over the token array, so there is NO explode, NO shuffle,
    and no float accumulation for the engines to disagree on. The
    keep decision is a sign test on the logit.

    The weight table here is a deterministic function of the bucket
    id (no model artifacts ship in this container); a real model is
    the same plan with ``w(bucket)`` replaced by a 1024-row broadcast
    lookup — the operator's cost profile does not change.

    Scale: map-only, one scan, zero exchanges (plan-pinned in
    tests/test_plans.py); at 100 TB this runs at parquet-scan speed
    and is embarrassingly parallel."""
    t = load_tables(spark, sf_dir, ("documents",))
    w_expr = (
        f"aggregate(transform(t, tok -> "
        f"(cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) "
        f"% {_LR_BUCKETS} * {_LR_MIX}) % 2001 - 1000), "
        f"0L, (acc, w) -> acc + w)"
    )
    return (
        t["documents"]
        .select("doc_id", _tokens().alias("t"))
        .select(
            "doc_id",
            F.size("t").alias("n_tokens"),
            F.expr(w_expr).alias("logit_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logit_micro",
            F.when(F.col("logit_micro") >= 0, 1).otherwise(0).alias("keep"),
        )
    )


# A gram is per-source boilerplate when it appears in >= 10% of the
# source's documents and the source has at least _BOILER_MIN_DOCS
# docs (df on a 3-doc domain is noise, exactly like production
# boilerplate detectors gate on sample size).
_BOILER_MIN_DOCS = 20


@query(
    "text_boilerplate_strip",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        occ AS (
            SELECT doc_id, source, i AS start,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM toks, UNNEST(generate_series(1, len(t) - 2)) u(i)
        ),
        sdocs AS (SELECT source, count(*) AS nd FROM documents GROUP BY 1),
        df AS (
            SELECT source, g, count(DISTINCT doc_id) AS cnt
            FROM occ GROUP BY 1, 2
        ),
        boiler AS (
            SELECT df.source, df.g
            FROM df JOIN sdocs ON df.source = sdocs.source
            WHERE df.cnt * 10 >= sdocs.nd
              AND sdocs.nd >= {_BOILER_MIN_DOCS}
        ),
        cov AS (
            SELECT DISTINCT o.doc_id, p
            FROM occ o
            JOIN boiler b ON o.source = b.source AND o.g = b.g,
                 UNNEST(generate_series(o.start, o.start + 2)) v(p)
        ),
        covset AS (
            SELECT doc_id, list(p) AS ps,
                   CAST(count(*) AS BIGINT) AS n_removed
            FROM cov GROUP BY 1
        )
        SELECT t.doc_id,
               c.n_removed,
               array_to_string(
                   [t.t[i] FOR i IN generate_series(1, len(t.t))
                    IF NOT list_contains(c.ps, i)], ' ') AS clean_text
        FROM toks t JOIN covset c ON t.doc_id = c.doc_id
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate removal — the CCNet/RefinedWeb "strip
    the shared header/footer" step, reformulated over token 3-grams
    because this corpus has no line structure: any gram occurring in
    ≥ 10% of a source's documents (sources with ≥ 20 docs) is
    boilerplate, and every token covered by an occurrence of a
    boilerplate gram is deleted from the document. Output is the
    affected documents only: (doc_id, n_removed, clean_text).

    Shape: one gram scan feeds both the df aggregate and the
    coverage join; the boilerplate gram set is tiny by construction
    (high-df grams within a source are rare — that's what makes them
    boilerplate) so it BROADCASTS back onto the occurrence stream;
    covered positions collapse to a per-doc set; and only AFFECTED
    docs join their position set back to the token array, where one
    indexed ``filter`` lambda rewrites the text. Unaffected
    documents never shuffle, never rejoin, never rewrite.

    Integer df threshold (``10·cnt ≥ nd``) — no float ratio at the
    boundary. Positions are engine-local (0-based Spark, 1-based
    DuckDB) but never cross engines; the compared output is text.

    Scale: the df aggregate shuffles hashed grams (8-byte longs) —
    the same profile as the dedup index build; everything after it
    is broadcast-sized. At 100 TB the boilerplate table is
    per-source-bounded and the rewrite is map-only."""
    # r11 restructure: the only corpus-sized exchange left is the
    # (source, gram) document-frequency aggregate. Per-document gram
    # dedup is row-local (array_distinct before the explode), so the
    # old DISTINCT (source, g, doc_id) exchange disappears; and the
    # coverage/rewrite phase is now ONE map-only pass — the per-source
    # boilerplate gram sets broadcast onto the token arrays and every
    # covered position, the removal count and the rewritten text are
    # computed inside the row (guide §2.3/§2.4: the occurrence stream
    # never shuffles; the old shape exchanged it twice more — a
    # (doc_id, pos) DISTINCT and a collect_set groupBy — then joined
    # the corpus back on doc_id).
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    toks = docs.select(
        "doc_id", "source", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    gram_hashes = (
        "case when size(t) >= 3 then"
        " transform(sequence(0, size(t) - 3),"
        " i -> xxhash64(concat_ws(' ', slice(t, i + 1, 3))))"
        " else array() end"
    )
    sdocs = docs.groupBy("source").agg(F.count("*").alias("nd"))
    df = (
        toks.select(
            "source",
            F.explode(F.expr(f"array_distinct({gram_hashes})")).alias("g"),
        )
        .groupBy("source", "g")
        .agg(F.count("*").alias("cnt"))
    )
    boiler = (
        df.join(F.broadcast(sdocs), "source")
        .filter((F.col("cnt") * 10 >= F.col("nd")) & (F.col("nd") >= _BOILER_MIN_DOCS))
        .select("source", "g")
    )
    bsets = boiler.groupBy("source").agg(F.collect_set("g").alias("bset"))
    covered = (
        "array_distinct(flatten(transform("
        f" filter(sequence(0, greatest(size(t) - 3, -1)),"
        f"        i -> array_contains(bset,"
        f"             xxhash64(concat_ws(' ', slice(t, i + 1, 3))))),"
        " s -> sequence(s, s + 2))))"
    )
    return (
        toks.join(F.broadcast(bsets), "source")
        .withColumn(
            "ps", F.expr(f"case when size(t) >= 3 then {covered} else array() end")
        )
        .filter(F.size("ps") > 0)
        .select(
            "doc_id",
            F.size("ps").cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.expr("filter(t, (x, i) -> not array_contains(ps, i))"),
            ).alias("clean_text"),
        )
    )


@query(
    "text_ccnet_ppl_buckets",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents
        ),
        toks2 AS (SELECT doc_id, lang, w FROM toks WHERE len(w) > 0),
        lm AS (
            SELECT w,
                   CAST(round(-ln(CAST(count(*) AS DOUBLE)
                              / (SELECT count(*) FROM toks2)) * 1000000)
                        AS BIGINT) AS nll_micro
            FROM toks2 GROUP BY w
        ),
        scores AS (
            SELECT t.doc_id, t.lang,
                   CAST(sum(l.nll_micro) AS BIGINT)
                       // (count(*) * 1000) AS score_milli
            FROM toks2 t JOIN lm l USING (w)
            GROUP BY t.doc_id, t.lang
        ),
        hist AS (
            SELECT lang, score_milli, count(*) AS c
            FROM scores GROUP BY 1, 2
        ),
        nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        cut AS (
            SELECT h.lang, h.score_milli,
                   least(2, 3 * coalesce(sum(h.c) OVER (
                       PARTITION BY h.lang ORDER BY h.score_milli
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // nl.n) AS b
            FROM hist h JOIN nl ON h.lang = nl.lang
        )
        SELECT s.doc_id, s.lang, s.score_milli,
               CASE c.b WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
        FROM scores s
        JOIN cut c ON s.lang = c.lang AND s.score_milli = c.score_milli
    """,
)
def text_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: per LANGUAGE, rank documents
    by LM perplexity and cut the corpus into thirds — head (lowest
    perplexity, cleanest) / middle / tail (noisiest); downstream
    recipes train on head+middle or reweight by bucket. Scoring
    reuses the unigram micro-nat LM (``text_perplexity_score``);
    the per-doc score is COARSENED to integer millinats before
    bucketing, which is the scale move: the per-language value
    histogram is then bounded (~10⁴ distinct scores per language at
    ANY corpus size — natural-language avg-NLL lives in single-digit
    nats), so the cumulative window runs over a tiny histogram and
    the cut table broadcasts back onto the corpus. No corpus-wide
    window, no sort of the documents — the same exact-histogram
    technique as ``sample_curriculum_buckets``.

    Boundary determinism: every doc with the same (lang, millinat
    score) lands in the same bucket — the bucket of a value is
    ``least(2, 3·cum_before ÷ n)`` in pure integer arithmetic, so
    neither engine can disagree at a cut point, and bucket sizes are
    equal to within one value-group by construction."""
    # r11: the corpus token total rolls up from the LM's word counts
    # (sum(wf) ≡ count(*), exact) instead of a third tokenize pass
    # (see text_perplexity_score for why a persisted unigram-count
    # frame and the input spread were both rejected by measurement).
    t = load_tables(spark, sf_dir, ("documents",))
    toks = (
        t["documents"]
        .select("doc_id", "lang", F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
    )
    counts = toks.groupBy("w").agg(F.count("*").alias("wf"))
    total = counts.agg(F.sum("wf").alias("corpus_n"))
    lm = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "w",
            F.round(
                -F.log(F.col("wf").cast("double") / F.col("corpus_n"))
                * 1_000_000
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    scores = (
        toks.join(lm, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr("sum(nll_micro) div (count(*) * 1000)").alias(
                "score_milli"
            )
        )
    )
    hist = scores.groupBy("lang", "score_milli").agg(
        F.count("*").alias("c")
    )
    nl = hist.groupBy("lang").agg(F.sum("c").alias("n"))
    cum_w = (
        W.partitionBy("lang")
        .orderBy("score_milli")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cut = (
        hist.withColumn("cumb", F.coalesce(F.sum("c").over(cum_w), F.lit(0)))
        .join(F.broadcast(nl), "lang")
        .select(
            "lang",
            "score_milli",
            F.least(F.lit(2), F.expr("3 * cumb div n")).alias("b"),
        )
    )
    return scores.join(cut, ["lang", "score_milli"]).select(
        "doc_id",
        "lang",
        "score_milli",
        F.when(F.col("b") == 0, "head")
        .when(F.col("b") == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@query(
    "text_entropy_unigram",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents
        ),
        toks2 AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
        wc AS (
            SELECT doc_id, w, count(*) AS c
            FROM toks2 GROUP BY doc_id, w
        ),
        terms AS (
            SELECT doc_id, c,
                   c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
                            AS BIGINT) AS clnc_micro
            FROM wc
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               round(ln(CAST(sum(c) AS DOUBLE))
                     - sum(clnc_micro) / (sum(c) * 1000000.0),
                     4) AS entropy_nats
        FROM terms GROUP BY doc_id
    """,
)
def text_entropy_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy over the document's OWN word
    distribution — the intra-document diversity signal (repeated-token
    spam collapses toward 0 nats; varied prose sits near ln(n_types)):
    complements text_perplexity_score, which scores against the
    CORPUS LM, not the document's self-distribution.

    Uses the identity H = ln(n) − (1/n)·Σ c·ln(c), which needs ln()
    only of INTEGER counts — so the micro-nat discipline applies
    doubly well: each distinct (doc, word)'s c·round(ln(c)·1e6) is an
    exact integer, per-document sums are order-independent on both
    engines, and the single final expression rounds to 4 decimals.

    Scale: one tokenize scan, one (doc_id, word)-keyed count with
    map-side combine, one doc_id-keyed sum — no joins, no windows, no
    corpus-global state at all (unlike the LM entries, nothing even
    broadcasts)."""
    t = load_tables(spark, sf_dir, ("documents",))
    wc = (
        t["documents"]
        .select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    terms = wc.select(
        "doc_id",
        "c",
        (
            F.col("c")
            * F.round(F.log(F.col("c").cast("double")) * 1_000_000).cast(
                "long"
            )
        ).alias("clnc_micro"),
    )
    return terms.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum("clnc_micro") / (F.sum("c") * 1_000_000.0),
            4,
        ).alias("entropy_nats"),
    )


@query(
    "text_ttr_lexical_diversity",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents
        ),
        toks2 AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
        wc AS (
            SELECT doc_id, w, count(*) AS c
            FROM toks2 GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               round(count(*) * 1.0 / sum(c), 6) AS ttr,
               round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                     / sum(c), 6) AS hapax_ratio,
               round(count(*) * 1.0 / sqrt(CAST(sum(c) AS DOUBLE)), 6)
                   AS guiraud_r
        FROM wc GROUP BY doc_id
    """,
)
def text_ttr_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lexical diversity per document: type-token ratio, hapax-
    legomena ratio (fraction of tokens occurring exactly once), and
    Guiraud's R (types/sqrt(tokens), the length-corrected variant) —
    the classic trio of corpus-linguistics quality features: low TTR
    flags keyword stuffing and template spam, abnormally high hapax
    ratio flags OCR noise and gibberish.

    All three divide exact integers (the sqrt runs on an exact
    integer cast to f64 — same bits both engines), rounded to 6.

    Scale: identical shape to text_entropy_unigram — tokenize scan,
    (doc, word) count with map-side combine, doc-keyed rollup; no
    joins, broadcasts, or windows."""
    t = load_tables(spark, sf_dir, ("documents",))
    wc = (
        t["documents"]
        .select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    return wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(F.count("*") / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) / F.sum("c"), 6
        ).alias("hapax_ratio"),
        F.round(
            F.count("*") / F.sqrt(F.sum("c").cast("double")), 6
        ).alias("guiraud_r"),
    )


_STOPWORD_MIN_DF_PCT = 40  # document-frequency threshold, percent


@query(
    "text_stopword_discovery",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS w
            FROM documents
        ),
        toks2 AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        df AS (SELECT w, count(*) AS df FROM toks2 GROUP BY w)
        SELECT df.w AS word,
               CAST(df.df AS BIGINT) AS df,
               round(df.df * 1.0 / n.n_docs, 6) AS df_ratio
        FROM df, n
        WHERE 100 * df.df >= {_STOPWORD_MIN_DF_PCT} * n.n_docs
    """,
)
def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: every word appearing in at
    least 40% of documents, with its document frequency and ratio —
    the data-derived stopword list TF-IDF pipelines, index pruning,
    and language-drift monitoring start from (a corpus whose "the"
    isn't near df_ratio 1 is telling you something).

    The threshold compare is pure integer arithmetic
    (100·df ≥ 40·n_docs — no float boundary); the ratio divides two
    exact integers, rounded identically on both engines.

    Scale: DISTINCT (doc, word) collapses within-doc repeats map-side
    before the word-keyed count; the doc count is a 1-row broadcast.
    Output is vocabulary-bounded and the ≥40% filter cuts it to
    dozens of rows — the definitional small-result/big-scan shape."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    toks = (
        docs.select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = toks.groupBy("w").agg(F.count("*").alias("df"))
    return (
        df.crossJoin(F.broadcast(n))
        .filter(
            100 * F.col("df") >= _STOPWORD_MIN_DF_PCT * F.col("n_docs")
        )
        .select(
            F.col("w").alias("word"),
            F.col("df").cast("long").alias("df"),
            F.round(F.col("df") / F.col("n_docs"), 6).alias("df_ratio"),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        ),
        firsts AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
        SELECT gr.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = gr.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               round(sum(CASE WHEN f.first_doc = gr.doc_id
                              THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                   AS novelty_ratio
        FROM grams gr JOIN firsts f ON gr.g = f.g
        GROUP BY gr.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty: the fraction of a document's
    distinct trigrams whose FIRST occurrence (lowest doc_id) is this
    document — the incremental-crawl signal dedup pipelines use to
    decide whether a new batch adds content or re-treads the corpus
    (boilerplate-heavy docs trend to 0; fresh material to 1).

    Same trigram definition as the dedup shingle family, WITHOUT the
    MAX_DF cap (novelty must see common grams — they are exactly the
    un-novel mass). "First" is min(doc_id): a deterministic total
    order both engines agree on, standing in for crawl order.

    Scale: one gram-keyed min aggregate (map-side combinable), one
    join of the gram stream back to it (same key, same partitioning —
    Catalyst reuses the exchange), one doc-keyed rollup. The ratio
    divides exact integers."""
    # r11: per-document gram dedup happens INSIDE the row with
    # array_distinct before the explode — a document's trigrams all
    # live in its own token array, so the old `.distinct()` exchanged
    # the gram stream on (doc_id, g) just to remove row-local
    # duplicates. The repartition("g") that replaces it is the shared
    # materialization point BOTH consumers need anyway: the first-doc
    # aggregate and the gram-keyed join read the one g-partitioned
    # exchange with no further shuffle of the gram stream (g ⊆ every
    # downstream clustering key), where the old plan paid three full
    # gram-stream exchanges ((doc_id,g) distinct, groupBy g, join g).
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select("doc_id", _tokens().alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])))"
            )
        ).alias("g"),
    ).repartition("g")
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(firsts, "g")
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_novel"),
        F.round(
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(
                    0
                )
            )
            / F.count("*"),
            6,
        ).alias("novelty_ratio"),
    )


@query(
    "docs_cross_source_overlap",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents
        ),
        sg AS (
            SELECT DISTINCT source,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        ),
        sizes AS (SELECT source, count(*) AS sz FROM sg GROUP BY source),
        common AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_common
            FROM sg a JOIN sg b
              ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT c.src_a, c.src_b,
               CAST(c.n_common AS BIGINT) AS n_common,
               round(c.n_common * 1.0
                     / (sa.sz + sb.sz - c.n_common), 6) AS gram_jaccard
        FROM common c
        JOIN sizes sa ON sa.source = c.src_a
        JOIN sizes sb ON sb.source = c.src_b
    """,
)
def docs_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination audit: trigram-set Jaccard between
    every pair of sources — the corpus-level view of duplication
    (mirror sites, syndicated feeds, scraped re-posts show up as
    source pairs with outsized overlap long before any doc-level pair
    does). The doc-level twin is dedup_ngram_jaccard; this aggregates
    the same shingle space by provenance.

    Scale: the gram universe collapses to DISTINCT (source, gram)
    first — the self-join's per-gram fan-out is then bounded by the
    SOURCE count (dozens), not document frequency, so no MAX_DF cap
    is needed; output is |sources|² at most. Jaccard divides exact
    integers."""
    # r11: dedup each document's grams row-locally (array_distinct)
    # before the explode — fewer rows into the DISTINCT's map-side
    # partial aggregate. The DISTINCT itself stays: cross-document
    # duplicates within a source are the common case here (that is
    # what boilerplate IS), so its partial aggregation collapses the
    # stream before the exchange — a repartition("g")-first variant
    # shipped the raw duplicated gram strings and measured slower.
    # r12: grams are xxhash64'd to 8-byte longs INSIDE the transform
    # (guide §2.3 "narrower types"), so the DISTINCT exchange and the
    # g-keyed self-join move longs instead of ~25-byte trigram
    # strings — the same hashed-id discipline as dedup's shingle
    # index, with the same documented ~n²/2⁶⁵ collision posture (the
    # output carries only counts, never the grams).
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select("source", _tokens().alias("t"))
    sg = (
        toks.select(
            "source",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(0, size(t) - 3),"
                    " i -> xxhash64(concat(t[i], ' ', t[i+1], ' ', t[i+2]))))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    sizes = sg.groupBy("source").agg(F.count("*").alias("sz"))
    a = sg.select(F.col("source").alias("src_a"), "g")
    b = sg.select(F.col("source").alias("src_b"), "g")
    common = (
        a.join(b, "g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("sz").alias("sz_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("sz").alias("sz_b")
    )
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ).alias("gram_jaccard"),
        )
    )


@query(
    "text_langid_confusion",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
            FROM documents
        ),
        scored AS (
            SELECT doc_id, lang,
                   len(list_filter(toks, x -> x IN ({_sql_list(STOP_EN)})))
                       AS en_hits,
                   len(list_filter(toks, x -> x IN ({_sql_list(STOP_ES)})))
                       AS es_hits
            FROM s
        ),
        pred AS (
            SELECT lang AS lang_declared,
                   CASE WHEN es_hits > en_hits THEN 'es'
                        WHEN en_hits > 0 THEN 'en'
                        ELSE 'und' END AS lang_pred
            FROM scored
        ),
        tot AS (
            SELECT lang_declared, count(*) AS n_decl
            FROM pred GROUP BY 1
        )
        SELECT p.lang_declared, p.lang_pred,
               CAST(count(*) AS BIGINT) AS n,
               round(count(*) * 1.0 / t.n_decl, 6) AS row_frac
        FROM pred p JOIN tot t USING (lang_declared)
        GROUP BY p.lang_declared, p.lang_pred, t.n_decl
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-voting language identifier
    against the declared language label — the calibration table every
    langid-based corpus filter publishes before anyone trusts its
    per-language token counts (row_frac is the per-declared-language
    recall when lang_pred == lang_declared).

    Derived from the same heuristic as text_langid (one scan, pure
    expressions); the matrix is |langs|² — value-domain-sized — and
    the row fraction divides exact integers.

    Scale: scan + two tiny keyed aggregates; the per-language total
    broadcasts back onto the matrix."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = _tokens()
    en_hits = F.size(F.filter(toks, lambda x: x.isin(*STOP_EN)))
    es_hits = F.size(F.filter(toks, lambda x: x.isin(*STOP_ES)))
    pred = t["documents"].select(
        F.col("lang").alias("lang_declared"),
        F.when(es_hits > en_hits, "es")
        .when(en_hits > 0, "en")
        .otherwise("und")
        .alias("lang_pred"),
    )
    tot = pred.groupBy("lang_declared").agg(F.count("*").alias("n_decl"))
    return (
        pred.groupBy("lang_declared", "lang_pred")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(tot), "lang_declared")
        .select(
            "lang_declared",
            "lang_pred",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("n_decl"), 6).alias("row_frac"),
        )
    )


@query(
    "text_length_percentiles_by_lang",
    oracle="""
        WITH h AS (
            SELECT lang, n_chars, count(*) AS c
            FROM documents GROUP BY lang, n_chars
        ),
        cum AS (
            SELECT lang, n_chars,
                   sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cc,
                   sum(c) OVER (PARTITION BY lang) AS n
            FROM h
        )
        SELECT lang,
               CAST(min(n) AS BIGINT) AS n_docs,
               CAST(min(CASE WHEN 4 * cc >= n THEN n_chars END)
                    AS BIGINT) AS p25,
               CAST(min(CASE WHEN 2 * cc >= n THEN n_chars END)
                    AS BIGINT) AS p50,
               CAST(min(CASE WHEN 4 * cc >= 3 * n THEN n_chars END)
                    AS BIGINT) AS p75
        FROM cum GROUP BY lang
    """,
)
def text_length_percentiles_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language document-length quartiles — the corpus-profiling
    table that catches tokenizer/segmentation skew between languages
    (a zh p50 that suddenly halves means the segmenter changed, not
    the data). EXACT discrete percentiles defined arithmetic-only:
    p_q = min value whose cumulative count·k ≥ q·k·n, pure integer
    compares identical on both engines — no reliance on either
    engine's percentile function semantics.

    Scale: the same value-histogram discipline as the quantile family
    — one (lang, n_chars) count with map-side combine, prefix sums
    over the PARTITIONED (per-language) histogram, one rollup. The
    corpus never sorts; the histogram is length-domain-sized."""
    t = load_tables(spark, sf_dir, ("documents",))
    from pyspark.sql import Window as W

    h = t["documents"].groupBy("lang", "n_chars").agg(
        F.count("*").alias("c")
    )
    wc = (
        W.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = W.partitionBy("lang")
    cum = h.select(
        "lang",
        "n_chars",
        F.sum("c").over(wc).alias("cc"),
        F.sum("c").over(wn).alias("n"),
    )
    return cum.groupBy("lang").agg(
        F.min("n").cast("long").alias("n_docs"),
        F.min(
            F.when(4 * F.col("cc") >= F.col("n"), F.col("n_chars"))
        ).cast("long").alias("p25"),
        F.min(
            F.when(2 * F.col("cc") >= F.col("n"), F.col("n_chars"))
        ).cast("long").alias("p50"),
        F.min(
            F.when(4 * F.col("cc") >= 3 * F.col("n"), F.col("n_chars"))
        ).cast("long").alias("p75"),
    )


# ---------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
# tokenizer-training algorithm production pipelines run (Kudo 2018),
# sibling of text_bpe_learn (reference scope: sqawk evaluates scripts
# verbatim, lib/classes/sqawk.tcl:216; this is extension surface).
#
# Deterministic hard-EM variant, engineered for oracle parity:
# - seed vocabulary: every substring of length 1..4 of the word-freq
#   table, all single characters kept, top-N multi-character pieces
#   by (freq DESC, piece ASC);
# - E-step: VITERBI segmentation of each word under integer MICRONAT
#   piece costs (floor(-ln(cnt/total)*1e6 + 0.5) — ln() is bit-equal
#   between CPython and DuckDB, probed; explicit floor(+0.5) dodges
#   the banker's-rounding mismatch), ties broken toward the SHORTEST
#   piece ending at each position (CASE order, identical both sides);
# - M-step: piece counts = freq-weighted piece occurrences in the
#   best segmentations; unused multi-char pieces are pruned, single
#   characters persist with a count floor of 1 (SentencePiece keeps
#   required characters), costs recomputed from the new counts.
#
# Spark execution: the corpus collapses ONCE to the word-frequency
# table (same move as BPE); each round is one scan of that table —
# the DP and the backwalk are pure JVM `aggregate` folds over a
# broadcast cost-map literal (vocab ≤ ~90 entries, collected per
# round: bounded driver traffic like BPE's one-row-per-round).  The
# SEED cut is in-cluster too: single-char pieces filter down to the
# alphabet, multi-char pieces take a distributed ordered top-k
# (TakeOrderedAndProject), so no step collects more than ~|alphabet|
# + UNIGRAM_SEED_MULTI rows.  At 100 TB the corpus scan happens once
# and rounds cost O(|words|).
#
# Oracle: the SAME rounds unrolled in DuckDB — the DP as a recursive
# CTE carrying a sliding 4-slot window of dp values, the backwalk as
# a second recursive CTE re-deriving each step's piece from the dp
# equality, counts as plain aggregation.  Output is all-integer
# (rank, piece, cnt): no float ever crosses the comparison boundary.

UNIGRAM_ROUNDS = 2
UNIGRAM_SEED_MULTI = 40
UNIGRAM_MAX_PIECE = 4
UNIGRAM_MAX_WORD = 12
UNIGRAM_INF = 10**12


def _unigram_cost_map_sql(costs: dict[str, int]) -> str:
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")  # noqa: E731
    pairs = ", ".join(
        f"'{esc(p)}', {c}L" for p, c in sorted(costs.items())
    )
    return f"map({pairs})"


def _unigram_dp_sql(m: str) -> str:
    """dp array fold: dp[0]=0; dp[j] = min over piece length k of
    dp[j-k] + cost(piece ending at j); missing pieces cost INF."""
    branches = []
    for k in range(1, UNIGRAM_MAX_PIECE + 1):
        start = f"cast(j as int) - {k} + 1"
        branches.append(
            f"IF(j >= {k}, element_at(acc, {start}) + "
            f"coalesce(element_at({m}, substring(w, {start}, {k})), "
            f"{UNIGRAM_INF}L), {UNIGRAM_INF}L)"
        )
    return (
        "aggregate(sequence(1, length(w)), array(0L), "
        f"(acc, j) -> concat(acc, array(least({', '.join(branches)}))))"
    )


def _unigram_walk_sql(m: str) -> str:
    """Backwalk fold over the dp column: at position j pick the
    SHORTEST piece length k whose cost closes the dp equality, emit
    the piece, step to j-k.  CASE order = the tie-break."""
    whens = []
    for k in range(1, UNIGRAM_MAX_PIECE + 1):
        piece = f"substring(w, s.j - {k} + 1, {k})"
        cond = (
            f"s.j >= {k} AND element_at(dp, s.j - {k} + 1) + "
            f"coalesce(element_at({m}, {piece}), {UNIGRAM_INF}L) "
            f"= element_at(dp, s.j + 1)"
        )
        whens.append(
            f"WHEN {cond} THEN named_struct('j', s.j - {k}, "
            f"'parts', concat(array({piece}), s.parts))"
        )
    return (
        "aggregate(sequence(1, length(w)), "
        "named_struct('j', cast(length(w) as int), "
        "'parts', cast(array() as array<string>)), "
        f"(s, x) -> IF(s.j <= 0, s, CASE {' '.join(whens)} "
        "ELSE named_struct('j', 0, 'parts', s.parts) END)"
        ").parts"
    )


def _unigram_final_counts(words: DataFrame) -> list[tuple[str, int]]:
    """Run the seed + UNIGRAM_ROUNDS hard-EM rounds; return the final
    round's (piece, freq-weighted count) list."""
    import math

    words = words.localCheckpoint(eager=True)
    subs_expr = (
        "flatten(transform(sequence(1, length(w)), i -> "
        f"filter(transform(sequence(1, {UNIGRAM_MAX_PIECE}), l -> "
        "IF(cast(i as int) + cast(l as int) - 1 <= length(w), "
        "substring(w, cast(i as int), cast(l as int)), NULL)), "
        "x -> x IS NOT NULL)))"
    )
    # seed histogram stays in-cluster: singles are alphabet-bounded,
    # and the multi-piece cut is a distributed ordered top-k (Spark
    # plans orderBy+limit as TakeOrderedAndProject — per-partition
    # heaps, only UNIGRAM_SEED_MULTI rows reach the driver).  The
    # (-cnt, piece) tiebreak is total, so the cut — and every EM
    # round after it — is deterministic and identical to sorting the
    # full histogram driver-side.
    seed_base = (
        words.select("freq", F.explode(F.expr(subs_expr)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    singles = {
        r["piece"]: int(r["cnt"])
        for r in seed_base.filter(F.length("piece") == 1).collect()
    }
    multis = (
        seed_base.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(UNIGRAM_SEED_MULTI)
        .collect()
    )
    vocab = dict(singles)
    vocab.update({r["piece"]: int(r["cnt"]) for r in multis})

    counts: dict[str, int] = {}
    for _ in range(UNIGRAM_ROUNDS):
        total = float(sum(vocab.values()))
        costs = {
            p: int(math.floor(-math.log(c / total) * 1e6 + 0.5))
            for p, c in vocab.items()
        }
        m = _unigram_cost_map_sql(costs)
        seg = words.select(
            "w", "freq", F.expr(_unigram_dp_sql(m)).alias("dp")
        )
        parts = seg.select(
            "freq", F.explode(F.expr(_unigram_walk_sql(m))).alias("piece")
        )
        counts = {
            r["piece"]: int(r["cnt"])
            for r in parts.groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        }
        vocab = dict(counts)
        for ch in singles:
            vocab.setdefault(ch, 1)
    return sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))


def _unigram_dp_round_sql(r: int) -> str:
    """One round's DP + backwalk + counts as DuckDB CTE text."""
    inf = UNIGRAM_INF
    # dp/walk lookups as LEFT JOINs (x.-qualified dp fields — a bare
    # d0 would resolve against this select item's own `AS d0` alias;
    # correlated scalar subqueries inside DuckDB recursive terms
    # proved unreliable over the materialized chain, joins are exact)
    dp_branches = [f"coalesce(x.d0 + c1.cost, {inf})"]
    dp_joins = [
        f"LEFT JOIN costs{r} c1 ON c1.piece = substr(x.w, x.j + 1, 1)"
    ]
    for k in range(2, UNIGRAM_MAX_PIECE + 1):
        dp_branches.append(
            f"CASE WHEN x.j >= {k - 1} THEN "
            f"coalesce(x.d{k - 1} + c{k}.cost, {inf}) "
            f"ELSE {inf} END"
        )
        dp_joins.append(
            f"LEFT JOIN costs{r} c{k} ON c{k}.piece = "
            f"substr(x.w, x.j + 2 - {k}, {k})"
        )
    dp_step = ",\n             ".join(dp_branches)
    walk_whens, walk_joins = [], [
        f"LEFT JOIN dpfull{r} f0 ON f0.w = x.w AND f0.j = x.j"
    ]
    for k in range(1, UNIGRAM_MAX_PIECE + 1):
        walk_whens.append(
            f"WHEN x.j >= {k} AND "
            f"f{k}.d + coalesce(c{k}.cost, {inf}) = f0.d THEN {k}"
        )
        walk_joins.append(
            f"LEFT JOIN dpfull{r} f{k} ON f{k}.w = x.w "
            f"AND f{k}.j = x.j - {k}"
        )
        walk_joins.append(
            f"LEFT JOIN costs{r} c{k} ON c{k}.piece = "
            f"substr(x.w, x.j - {k} + 1, {k})"
        )
    walk_case = " ".join(walk_whens)
    nl = "\n    "
    return f"""
dp{r} AS (
  SELECT w, freq, 0 AS j, CAST(0 AS BIGINT) AS d0,
         CAST({inf} AS BIGINT) AS d1, CAST({inf} AS BIGINT) AS d2,
         CAST({inf} AS BIGINT) AS d3
  FROM words
  UNION ALL
  SELECT x.w, x.freq, x.j + 1,
         least({dp_step}) AS d0,
         x.d0 AS d1, x.d1 AS d2, x.d2 AS d3
  FROM dp{r} x
  {nl.join(dp_joins)}
  WHERE x.j < len(x.w)
),
dpfull{r} AS MATERIALIZED (SELECT w, j, d0 AS d FROM dp{r}),
walk{r} AS (
  SELECT w, freq, len(w) AS j, CAST(NULL AS VARCHAR) AS piece
  FROM words
  UNION ALL
  SELECT s.w, s.freq, s.j - s.k,
         substr(s.w, s.j - s.k + 1, s.k) AS piece
  FROM (
    SELECT x.w, x.freq, x.j,
           CASE {walk_case} END AS k
    FROM walk{r} x
    {nl.join(walk_joins)}
    WHERE x.j > 0
  ) s
  WHERE s.k IS NOT NULL
),
counts{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM walk{r} WHERE piece IS NOT NULL GROUP BY piece
)"""


def _unigram_costs_sql(r: int, vocab_body: str) -> str:
    return f"""
vocab{r} AS MATERIALIZED ({vocab_body}),
costs{r} AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-ln(CAST(cnt AS DOUBLE) /
              (SELECT CAST(sum(cnt) AS DOUBLE) FROM vocab{r}))
              * 1000000 + 0.5) AS BIGINT) AS cost
  FROM vocab{r}
)"""


def _unigram_chain_sql(rounds: int) -> str:
    """The shared WITH-chain: tokenize → word freqs → seed → the
    training rounds, ending at counts{rounds}."""
    body = ""
    for r in range(1, rounds + 1):
        if r == 1:
            vb = (
                "\n  SELECT piece, cnt FROM singles"
                "\n  UNION ALL"
                "\n  SELECT piece, cnt FROM multis\n"
            )
        else:
            vb = (
                f"\n  SELECT piece, cnt FROM counts{r - 1}"
                "\n  UNION ALL"
                "\n  SELECT s.piece, CAST(1 AS BIGINT) AS cnt"
                " FROM singles s"
                f"\n  WHERE s.piece NOT IN"
                f" (SELECT piece FROM counts{r - 1})\n"
            )
        body += "," + _unigram_costs_sql(r, vb)
        body += "," + _unigram_dp_round_sql(r)
    return f"""
WITH RECURSIVE
toks AS MATERIALIZED (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
),
words AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks
  WHERE len(w) BETWEEN 1 AND {UNIGRAM_MAX_WORD} GROUP BY w
),
seedsub AS MATERIALIZED (
  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
         CAST(sum(freq) AS BIGINT) AS cnt
  FROM words,
       unnest(range(1, len(w) + 1)) AS ti(i),
       unnest(range(1, {UNIGRAM_MAX_PIECE + 1})) AS tl(l)
  WHERE i + l - 1 <= len(w)
  GROUP BY 1
),
singles AS MATERIALIZED (SELECT piece, cnt FROM seedsub WHERE len(piece) = 1),
multis AS MATERIALIZED (
  SELECT piece, cnt FROM seedsub WHERE len(piece) > 1
  ORDER BY cnt DESC, piece LIMIT {UNIGRAM_SEED_MULTI}
){body}"""


def _unigram_oracle_sql() -> str:
    last = UNIGRAM_ROUNDS
    return f"""{_unigram_chain_sql(last)}
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank,
       piece, cnt
FROM counts{last}
ORDER BY rank
"""


@query("text_unigram_lm_learn", oracle=_unigram_oracle_sql())
def text_unigram_lm_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer-vocabulary training:
    deterministic hard-EM — Viterbi E-step over integer micronat piece
    costs, count M-step with single-character floor, multi-char
    pruning (see the section comment above for the full spec and the
    100 TB rationale).  Output: the final round's piece table,
    all-integer, ranked by (count DESC, piece ASC)."""
    t = load_tables(spark, sf_dir, ("documents",))
    words = (
        t["documents"]
        .select(F.explode(_tokens()).alias("w"))
        .filter(
            (F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAX_WORD)
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    ranked = _unigram_final_counts(words)
    rows = [(i + 1, p, c) for i, (p, c) in enumerate(ranked)]
    return spark.createDataFrame(rows, "rank int, piece string, cnt long")


def _unigram_encode_oracle_sql() -> str:
    """Training chain + one APPLICATION round: the encode vocabulary
    is the final counts table verbatim (no single-character floor —
    every word's round-{R} segmentation uses only counted pieces, so
    coverage is guaranteed on the training corpus), and per-document
    piece totals come from joining the per-word segmentation back to
    the document token stream."""
    train = UNIGRAM_ROUNDS
    enc = train + 1
    enc_vocab = f"\n  SELECT piece, cnt FROM counts{train}\n"
    enc_costs = _unigram_costs_sql(enc, enc_vocab)
    return f"""{_unigram_chain_sql(train)},{enc_costs},{_unigram_dp_round_sql(enc)},
wseg AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
  FROM walk{enc} WHERE piece IS NOT NULL GROUP BY w
),
doctoks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_pieces
FROM doctoks d JOIN wseg s ON s.w = d.w
WHERE len(d.w) BETWEEN 1 AND {UNIGRAM_MAX_WORD}
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@query("text_unigram_lm_encode", oracle=_unigram_encode_oracle_sql())
def text_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram-LM tokenizer: Viterbi-segment every
    word under the FINAL vocabulary's micronat costs and emit
    per-document word and piece totals — the token-counting step a
    data pipeline runs with the trained model (sibling of
    text_bpe_encode).  Same JVM-fold execution and per-word
    segmentation-join shape; the corpus is scanned once for words and
    once for the doc join."""
    import math

    t = load_tables(spark, sf_dir, ("documents",))
    words = (
        t["documents"]
        .select(F.explode(_tokens()).alias("w"))
        .filter(
            (F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAX_WORD)
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    final_counts = _unigram_final_counts(words)
    total = float(sum(c for _, c in final_counts))
    costs = {
        p: int(math.floor(-math.log(c / total) * 1e6 + 0.5))
        for p, c in final_counts
    }
    m = _unigram_cost_map_sql(costs)
    seg = (
        words.select("w", F.expr(_unigram_dp_sql(m)).alias("dp"))
        .select(
            "w", F.size(F.expr(_unigram_walk_sql(m))).alias("n_pieces")
        )
    )
    doctoks = (
        t["documents"]
        .select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(
            (F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAX_WORD)
        )
    )
    return (
        doctoks.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
    )
