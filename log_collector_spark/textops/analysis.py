"""Text analysis operators: token counting, quality scoring, language-ID,
document fingerprinting.

All native Catalyst expressions (whole-stage codegen, no Python in the hot
path); every scoring output is an integer/boolean/string so the DuckDB oracle
hashes identically. At 100 TB these run as a single narrow projection over
the documents scan — no shuffle at all until the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.textops import common as C
from log_collector_spark.registry import docs, events, register, tbl

# "BPE-ish" lexer: letter runs, digit runs, single other-symbols — the shape
# of a byte-pair pre-tokenizer's coarse split (public GPT-2 style pattern,
# simplified to stay identical across regex engines).
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# tiny deterministic stopword lists for the n-gram language heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "du", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "que", "por", "con"],
}
CJK_REGEX = r"[一-鿿]"
# deterministic tie-break: priority order when scores are equal
LANG_ORDER = ["en", "de", "fr", "es"]


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(C.tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish lexemes (letters run / digits run / symbol)."""
    return F.regexp_count(text, F.lit(BPE_ISH)).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer quality features + a rule-based keep/drop flag.

    Mirrors the usual pretraining quality filters (length bounds, symbol
    ratio, stopword presence, word-length sanity) with pure integer
    comparisons so the oracle matches exactly.
    """
    text = F.col(text_col)
    toks = C.tokens(text)
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_alpha = F.regexp_count(text, F.lit(r"[A-Za-z]")).cast("long")
    n_digit = F.regexp_count(text, F.lit(r"[0-9]")).cast("long")
    n_punct = F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]")).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda t: F.array_contains(
            F.lit(LANG_STOPWORDS["en"]).cast("array<string>"), F.lower(t)))
    ).cast("long")
    # keep: 10..10000 chars, >=5 tokens, alpha majority (2*alpha > chars),
    # punct <= 20% of chars, mean word length 2..20 (integer cross-multiply)
    keep = (
        (n_chars >= 10) & (n_chars <= 10000) & (n_tokens >= 5)
        & (n_alpha * 2 > n_chars)
        & (n_punct * 5 <= n_chars)
        & (n_chars >= n_tokens * 2) & (n_chars <= n_tokens * 21)
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        bpe_ish_token_count(text).alias("n_bpe_tokens"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        keep.alias("quality_keep"),
    )


def sql_quality_features(table: str = "documents") -> str:
    tok = C.sql_tokens("text")
    stop = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len({tok}) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '{BPE_ISH}')) AS BIGINT) AS n_bpe_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
                   CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
                   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter({tok}, t -> list_contains([{stop}], lower(t)))) AS BIGINT) AS n_stopwords
            FROM {table}
        )
        SELECT *, (n_chars >= 10 AND n_chars <= 10000 AND n_tokens >= 5
                   AND n_alpha * 2 > n_chars
                   AND n_punct * 5 <= n_chars
                   AND n_chars >= n_tokens * 2 AND n_chars <= n_tokens * 21)
                  AS quality_keep
        FROM base
    """


def lang_scores(text: Column) -> list[Column]:
    toks = C.tokens(F.lower(text))

    def _counter(words: list[str]):
        lst = F.lit(words).cast("array<string>")
        return lambda t: F.array_contains(lst, t)

    return [
        F.size(F.filter(toks, _counter(LANG_STOPWORDS[lang]))).cast("long")
         .alias(f"score_{lang}")
        for lang in LANG_ORDER
    ]


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language heuristic.

    CJK characters present → ``zh``; otherwise the stopword-hit argmax over
    the per-language lists (ties broken by LANG_ORDER); no hits → ``und``.
    """
    text = F.col(text_col)
    scored = df.select("doc_id", "lang", *lang_scores(text),
                       (F.regexp_count(text, F.lit(CJK_REGEX)) > 0).alias("has_cjk"))
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in reversed(LANG_ORDER):  # earlier langs win ties → apply last
        sc = F.col(f"score_{lang}")
        cond = sc >= F.greatest(best_score, F.lit(1))
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, sc).otherwise(best_score)
    pred = F.when(F.col("has_cjk"), F.lit("zh")).otherwise(best)
    return scored.select("doc_id", "lang",
                         pred.alias("pred_lang"),
                         *[F.col(f"score_{lang}") for lang in LANG_ORDER])


def sql_lang_id(table: str = "documents") -> str:
    tok = C.sql_tokens("lower(text)")
    score_cols = ", ".join(
        "CAST(len(list_filter({tok}, t -> list_contains([{lst}], t))) AS BIGINT)"
        " AS score_{lang}".format(
            tok=tok,
            lst=", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]),
            lang=lang)
        for lang in LANG_ORDER)
    # argmax with >= going right-to-left == earlier language wins ties
    pred = "'und'"
    best = "CAST(0 AS BIGINT)"
    for lang in reversed(LANG_ORDER):
        pred = (f"CASE WHEN score_{lang} >= greatest({best}, 1) "
                f"THEN '{lang}' ELSE {pred} END")
        best = f"greatest({best}, score_{lang})"
    return f"""
        WITH scored AS (
            SELECT doc_id, lang, {score_cols},
                   len(regexp_extract_all(text, '{CJK_REGEX}')) > 0 AS has_cjk
            FROM {table}
        )
        SELECT doc_id, lang,
               CASE WHEN has_cjk THEN 'zh' ELSE {pred} END AS pred_lang,
               {', '.join('score_' + lang for lang in LANG_ORDER)}
        FROM scored
    """


def lang_id_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Confusion matrix of the lang-ID heuristic against the gold ``lang``
    label — the eval table a corpus pipeline publishes before trusting a
    language filter (which languages bleed into which, and how much of
    each gold class the filter would keep).

    Returns (lang, pred_lang, n, row_permille) — ``row_permille`` is the
    share of the GOLD class falling in this cell (diagonal = recall).

    Plan: rides on :func:`lang_id` (one narrow scan, no shuffle), then a
    |langs|²-bounded hash agg and a tiny per-gold-row window — metadata
    scale after the scan at any corpus size."""
    pred = lang_id(df, text_col).select("lang", "pred_lang")
    cells = (pred.groupBy("lang", "pred_lang")
                 .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = Window.partitionBy("lang")
    return (cells
            .withColumn("row_permille",
                        C.permille(F.col("n"),
                                   F.sum("n").over(w).cast("long")))
            .orderBy("lang", "pred_lang"))


def sql_lang_id_confusion(table: str = "documents") -> str:
    return f"""
        WITH pred AS ({sql_lang_id(table)}),
        cells AS (
            SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM pred GROUP BY lang, pred_lang
        )
        SELECT lang, pred_lang, n,
               {C.sql_permille("n", "SUM(n) OVER (PARTITION BY lang)")}
                   AS row_permille
        FROM cells ORDER BY lang, pred_lang
    """


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercase text
    (exact-dup key) + 60-bit integer fingerprint (cheap join key)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        C.h60(norm).alias("fp_h60"),
    )


def sql_fingerprint(table: str = "documents") -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
        SELECT doc_id, md5({norm}) AS fp_md5, {C.sql_h60(norm)} AS fp_h60
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

# Salting the id keeps split membership independent of any other h60 use of
# the same key (dedup buckets, fingerprints) — without it, e.g. a modulo
# sample of fp_h60 would correlate with the split label.
SPLIT_SALT = "split:v1|"
SPLIT_BUCKETS = 100


def split_assign(df: DataFrame, id_col: str = "doc_id",
                 weights: tuple[int, int, int] = (80, 10, 10),
                 salt: str = SPLIT_SALT) -> DataFrame:
    """Assign each row to train/val/test by salted hash of its id.

    The label is a pure function of (salt, id): a narrow shuffle-free
    projection that is *stable under corpus growth* — appending documents
    never reassigns existing ones, re-runs are reproducible with no stored
    state, and workers need no coordination. That (not randomness quality)
    is why hash splits replace ``df.randomSplit`` at 100-TB scale:
    randomSplit's per-task RNG reassigns rows whenever partitioning
    changes. Integer percent weights over 100 hash buckets keep the
    assignment exact and oracle-checkable (reference has no analog; this is
    an engine extension for training-data pipelines).
    """
    w_train, w_val, w_test = weights
    if w_train + w_val + w_test != SPLIT_BUCKETS:
        raise ValueError(f"weights must sum to {SPLIT_BUCKETS}: {weights}")
    # explicit string cast: md5 hashes the decimal digits in both engines
    # (DuckDB's `'…' || bigint` varchar-casts the same way)
    bucket = C.h60(F.concat(F.lit(salt),
                            F.col(id_col).cast("string"))) % SPLIT_BUCKETS
    label = (F.when(bucket < w_train, "train")
              .when(bucket < w_train + w_val, "val")
              .otherwise("test"))
    return df.withColumn("split_bucket", bucket).withColumn("split", label)


def sql_split_assign(table: str = "documents", id_col: str = "doc_id",
                     weights: tuple[int, int, int] = (80, 10, 10),
                     salt: str = SPLIT_SALT) -> str:
    w_train, w_val, w_test = weights
    assert w_train + w_val + w_test == SPLIT_BUCKETS
    salted = f"'{salt}' || {id_col}"
    bucket = f"{C.sql_h60(salted)} % {SPLIT_BUCKETS}"
    return f"""
        SELECT {id_col}, {bucket} AS split_bucket,
               CASE WHEN {bucket} < {w_train} THEN 'train'
                    WHEN {bucket} < {w_train + w_val} THEN 'val'
                    ELSE 'test' END AS split
        FROM {table}
    """


def domain_cap(df: DataFrame, group_col: str = "source",
               id_col: str = "doc_id", cap: int = 50,
               salt: str = SPLIT_SALT) -> DataFrame:
    """Cap documents per domain by deterministic hash rank (domain mixing).

    Training corpora cap over-represented domains; taking the first ``cap``
    docs by *salted-hash* order makes the sample (a) uniform within the
    domain, (b) reproducible with no RNG state, and (c) downward-stable —
    growing the corpus can only push docs OUT of the kept set, never
    shuffle the survivors' relative order. One shuffle on ``group_col``;
    at 100 TB a skewed domain bounds the partition at ~cap survivors only
    after the sort, so pair this with AQE skew splitting (the rank is per
    group, not global — no single-partition window).
    """
    from pyspark.sql import Window
    h = C.h60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("rk", F.row_number().over(w).cast("long"))
              .withColumn("kept", F.col("rk") <= cap))


def sql_domain_cap(table: str = "documents", group_col: str = "source",
                   id_col: str = "doc_id", cap: int = 50,
                   salt: str = SPLIT_SALT) -> str:
    h = C.sql_h60(f"'{salt}' || {id_col}")
    return f"""
        SELECT {id_col}, {group_col},
               CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
                                       ORDER BY {h}, {id_col}) AS BIGINT)
                   AS rk,
               rk <= {cap} AS kept
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Within-document repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

REP_K = 2  # duplicate/top n-gram fractions use word bigrams


def repetition_signals(df: DataFrame, text_col: str = "text",
                       k: int = REP_K) -> DataFrame:
    """Gopher-style within-doc repetition: duplicate-bigram and top-bigram
    permille per document (machine-generated / boilerplate-heavy docs score
    high and get filtered before training).

    Two-level aggregate — partial map-side combine on (doc_id, shingle),
    then a per-doc rollup — so the corpus shuffles once on (doc_id, shingle)
    and once on doc_id, both key-local; no join back to the base table
    (``explode_outer`` keeps sub-k-token docs as a zero row). Integer
    permille only (see ``common.permille``) so the DuckDB oracle hashes
    identically."""
    toks = C.tokens(F.col(text_col))
    base = df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.explode_outer(C.shingles(toks, k)).alias("sh"))
    per = base.groupBy("doc_id", "n_tokens", "sh").agg(
        F.count("sh").alias("c"))
    total = F.sum("c").cast("long")
    return (per.groupBy("doc_id", "n_tokens")
            .agg(total.alias("total_bigrams"),
                 F.max("c").cast("long").alias("top_c"),
                 F.count(F.when(F.col("c") > 0, True)).alias("distinct_sh"))
            .select(
                "doc_id", "n_tokens", "total_bigrams",
                C.permille(F.col("total_bigrams") - F.col("distinct_sh"),
                           F.col("total_bigrams"))
                 .alias("dup_bigram_permille"),
                C.permille(F.col("top_c"), F.col("total_bigrams"))
                 .alias("top_bigram_permille")))


def sql_repetition_signals(table: str = "documents", k: int = REP_K) -> str:
    tok = C.sql_tokens("text")
    shs = C.sql_shingles("tok", k)
    return f"""
        WITH base AS (
            SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
                   {shs} AS shs
            FROM (SELECT doc_id, {tok} AS tok FROM {table})
        ), per AS (
            SELECT doc_id, sh, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(shs) AS sh FROM base)
            GROUP BY doc_id, sh
        ), agg AS (
            SELECT doc_id, SUM(c) AS total, MAX(c) AS top,
                   COUNT(*) AS d
            FROM per GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_tokens,
               CAST(COALESCE(a.total, 0) AS BIGINT) AS total_bigrams,
               {C.sql_permille("a.total - a.d", "a.total")}
                   AS dup_bigram_permille,
               {C.sql_permille("a.top", "a.total")} AS top_bigram_permille
        FROM base b LEFT JOIN agg a USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Per-domain vocabulary statistics
# ---------------------------------------------------------------------------


def vocab_stats(df: DataFrame, group_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Per-domain corpus stats: doc count, token count, vocabulary size and
    type-token ratio (permille). A domain whose TTR collapses is template
    spam — the corpus-level counterpart of :func:`repetition_signals`.

    One explode + one hash aggregate on ``group_col``; the distinct counts
    partially aggregate map-side, so the shuffle carries (group, token)
    partials, never rows. No join."""
    ex = df.select(
        group_col, "doc_id",
        F.explode_outer(C.tokens(F.col(text_col))).alias("tok"))
    return (ex.groupBy(group_col)
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count("tok").alias("total_tokens"),
                 F.count_distinct("tok").alias("distinct_tokens"))
            .select(group_col, "n_docs", "total_tokens", "distinct_tokens",
                    C.permille(F.col("distinct_tokens"),
                               F.col("total_tokens")).alias("ttr_permille")))


def sql_vocab_stats(table: str = "documents", group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH ex AS (
            SELECT {group_col}, doc_id,
                   unnest(CASE WHEN len(tok) = 0
                               THEN [CAST(NULL AS VARCHAR)] ELSE tok END)
                       AS tok
            FROM (SELECT {group_col}, doc_id, {tok} AS tok FROM {table})
        )
        SELECT {group_col},
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(tok) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS distinct_tokens,
               {C.sql_permille("COUNT(DISTINCT tok)", "COUNT(tok)")}
                   AS ttr_permille
        FROM ex GROUP BY {group_col}
    """


# ---------------------------------------------------------------------------
# PII scan (regex classes over a free-text column)
# ---------------------------------------------------------------------------

# Patterns constrained to the syntax intersection of java.util.regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround, ASCII classes only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "ipv4": r"(?:[0-9][0-9]?[0-9]?\.){3}[0-9][0-9]?[0-9]?",
    "digit_run": r"[0-9][0-9]+",
}


def pii_scan(df: DataFrame, group_col: str = "event_type",
             text_col: str = "props") -> DataFrame:
    """Per-group PII-class match counts (emails / IPv4 / digit runs) — the
    scrub-before-training scan. Pure Catalyst ``regexp_count`` projection
    (whole-stage codegen over the scan) feeding ONE hash aggregate; at
    100 TB this is a single narrow pass, no Python, one tiny shuffle."""
    cnts = {n: F.regexp_count(F.col(text_col), F.lit(p))
            for n, p in PII_PATTERNS.items()}
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for n in PII_PATTERNS:
        aggs.append(F.sum(cnts[n]).cast("long").alias(f"{n}_matches"))
        aggs.append(F.count(F.when(cnts[n] > 0, True)).cast("long")
                     .alias(f"{n}_rows"))
    return df.groupBy(group_col).agg(*aggs)


def sql_pii_scan(table: str = "events", group_col: str = "event_type",
                 text_col: str = "props") -> str:
    cols = []
    for n, p in PII_PATTERNS.items():
        c = f"len(regexp_extract_all({text_col}, '{p}'))"
        cols.append(f"CAST(SUM({c}) AS BIGINT) AS {n}_matches")
        cols.append(
            f"CAST(COUNT(CASE WHEN {c} > 0 THEN 1 END) AS BIGINT)"
            f" AS {n}_rows")
    sel = ",\n               ".join(cols)
    return f"""
        SELECT {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               {sel}
        FROM {table} GROUP BY {group_col}
    """


PII_REPLACEMENTS = [("email", "<EMAIL>"), ("ipv4", "<IP>"),
                    ("digit_run", "<NUM>")]


def pii_redact(df: DataFrame, id_col: str = "event_id",
               text_col: str = "props") -> DataFrame:
    """PII REDACTION (the transform :func:`pii_scan` only audits): mask
    email → IPv4 → digit-run IN THAT ORDER — emails first so their local
    parts don't leak into the digit pass, IPs before bare digit runs so an
    address becomes one ``<IP>`` token, not four ``<NUM>`` fragments. Each
    stage's count is taken on the PREVIOUSLY-redacted string, so the
    counts are replacements actually performed, not raw-overlap counts.

    Returns (event_id, n_email, n_ipv4, n_digit_run, redacted), ordered.

    Plan: one narrow whole-stage-codegen projection (three JVM-side
    ``regexp_replace``/``regexp_count`` pairs chained), no shuffle, no
    Python — at 100 TB this is scan-speed, the redacted column writes
    straight back out."""
    stages = []
    cur = F.col(text_col)
    for name, tok in PII_REPLACEMENTS:
        pat = PII_PATTERNS[name]
        stages.append(F.regexp_count(cur, F.lit(pat)).cast("long")
                      .alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, tok)
    return (df.select(F.col(id_col).alias("event_id"), *stages,
                      cur.alias("redacted"))
              .orderBy("event_id"))


def sql_pii_redact(table: str = "events", id_col: str = "event_id",
                   text_col: str = "props") -> str:
    cols, cur = [], text_col
    for name, tok in PII_REPLACEMENTS:
        pat = PII_PATTERNS[name]
        cols.append(f"CAST(len(regexp_extract_all({cur}, '{pat}'))"
                    f" AS BIGINT) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{tok}', 'g')"
    sel = ",\n               ".join(cols)
    return f"""
        SELECT {id_col} AS event_id,
               {sel},
               {cur} AS redacted
        FROM {table} ORDER BY event_id
    """


# ---------------------------------------------------------------------------
# KMV distinct sketch (deterministic approximate count-distinct)
# ---------------------------------------------------------------------------

KMV_K = 64  # sketch size; relative error ~ 1/sqrt(k-2) ~ 13%


def kmv_distinct(df: DataFrame, group_col: str = "source",
                 text_col: str = "text", k: int = KMV_K) -> DataFrame:
    """Per-group distinct-token estimate via a k-minimum-values sketch over
    the deterministic 60-bit hash: est = (k-1) * 2^60 / h_k where h_k is the
    k-th smallest distinct hash (exact count when the group has < k values).

    Unlike HLL (`approx_count_distinct`), KMV on ``h60`` is cross-engine
    deterministic, so it oracle-checks. The sketch is mergeable — union two
    groups' k-min sets and re-take the k smallest — which is what makes it
    the 100-TB shape: per-partition top-k heaps, then a k-value-per-group
    merge; the shuffle carries k longs per group, never the token set. This
    sandbox form computes the exact distinct count alongside (for the
    err_permille column), which dominates the cost — drop ``n_exact`` at
    scale and only the sketch shuffle remains.

    The estimate divides in DOUBLE ((k-1)*2^60 overflows BIGINT for k > 9;
    the numerator is exactly representable, int64→double rounding of h_k is
    IEEE round-to-nearest in both engines, division is IEEE — so the floor
    is identical bit-for-bit)."""
    hashes = (df.select(group_col,
                        F.explode(C.tokens(F.col(text_col))).alias("tok"))
                .select(group_col, C.h60(F.col("tok")).alias("h"))
                .distinct())
    w = Window.partitionBy(group_col).orderBy("h")
    ranked = hashes.withColumn("rn", F.row_number().over(w))
    kth = (ranked.filter(F.col("rn") == k)
                 .select(group_col, F.col("h").alias("h_k")))
    exact = (hashes.groupBy(group_col)
                   .agg(F.count(F.lit(1)).alias("n_exact")))
    num = float((k - 1) * (1 << 60))
    est = F.when(F.col("h_k").isNotNull(),
                 F.floor(F.lit(num) / F.col("h_k").cast("double")))
    return (exact.join(kth, group_col, "left")
            .select(group_col, "n_exact",
                    F.coalesce("h_k", F.lit(0)).alias("h_k"),
                    F.coalesce(est, F.col("n_exact")).cast("long")
                     .alias("n_est"))
            .withColumn(
                "err_permille",
                C.permille(F.abs(F.col("n_est") - F.col("n_exact")),
                           F.col("n_exact"))))


def sql_kmv_distinct(table: str = "documents", group_col: str = "source",
                     k: int = KMV_K) -> str:
    tok = C.sql_tokens("text")
    h = C.sql_h60("tok")
    num = (k - 1) * (1 << 60)
    return f"""
        WITH hashes AS (
            SELECT DISTINCT {group_col}, {h} AS h
            FROM (SELECT {group_col}, unnest({tok}) AS tok FROM {table})
        ), ranked AS (
            SELECT {group_col}, h,
                   ROW_NUMBER() OVER (PARTITION BY {group_col} ORDER BY h)
                       AS rn
            FROM hashes
        ), kth AS (
            SELECT {group_col}, h AS h_k FROM ranked WHERE rn = {k}
        ), exact AS (
            SELECT {group_col}, COUNT(*) AS n_exact
            FROM ranked GROUP BY {group_col}
        )
        SELECT e.{group_col},
               CAST(e.n_exact AS BIGINT) AS n_exact,
               CAST(COALESCE(t.h_k, 0) AS BIGINT) AS h_k,
               CAST(COALESCE(FLOOR({num} / CAST(t.h_k AS DOUBLE)),
                             e.n_exact) AS BIGINT) AS n_est,
               {C.sql_permille(
                   "ABS(CAST(COALESCE(FLOOR(" + str(num)
                   + " / CAST(t.h_k AS DOUBLE)), e.n_exact) AS BIGINT)"
                   " - e.n_exact)", "e.n_exact")} AS err_permille
        FROM exact e LEFT JOIN kth t USING ({group_col})
    """


# ---------------------------------------------------------------------------
# Per-group top-k terms
# ---------------------------------------------------------------------------

TOP_TERMS_K = 5


def top_terms_per_source(df: DataFrame, group_col: str = "source",
                         text_col: str = "text",
                         k: int = TOP_TERMS_K) -> DataFrame:
    """Top-k tokens per group by count (ties broken lexicographically).

    One (group, token) hash aggregate with map-side partial combine — the
    shuffle carries count partials, never rows — then a rank window
    partitioned by group. The window sorts each group's vocabulary;
    vocabulary (not corpus) sized, and at 100 TB a `HAVING count >= t`
    pre-filter bounds it further without changing the top-k set (any t below
    the k-th count)."""
    counts = (df.select(group_col,
                        F.explode(C.tokens(F.col(text_col))).alias("token"))
                .groupBy(group_col, "token")
                .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy(group_col).orderBy(F.col("n").desc(),
                                              F.col("token"))
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k))


def sql_top_terms_per_source(table: str = "documents",
                             group_col: str = "source",
                             k: int = TOP_TERMS_K) -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH counts AS (
            SELECT {group_col}, tok AS token, COUNT(*) AS n
            FROM (SELECT {group_col}, unnest({tok}) AS tok FROM {table})
            GROUP BY {group_col}, tok
        )
        SELECT {group_col}, token, CAST(n AS BIGINT) AS n,
               CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
                    ORDER BY n DESC, token) AS BIGINT) AS rank
        FROM counts
        QUALIFY rank <= {k}
    """


# ---------------------------------------------------------------------------
# Token-rarity quality signal (corpus-frequency-based gibberish screen)
# ---------------------------------------------------------------------------

RARE_MAX_COUNT = 2  # a token occurring <= this many times corpus-wide is rare


def token_rarity(df: DataFrame, text_col: str = "text",
                 rare_max: int = RARE_MAX_COUNT) -> DataFrame:
    """Per-document rare-token fraction: tokens whose CORPUS-WIDE count is
    <= ``rare_max`` are rare; a document dominated by them is gibberish /
    OCR noise / mangled encoding (the corpus-level complement of the
    within-doc :func:`repetition_signals`).

    Shape: one (token) hash aggregate builds the vocabulary counts
    (map-side partials — the shuffle carries (token, count), never rows),
    then the exploded doc-tokens join the vocabulary on token and roll up
    per doc. The vocabulary is corpus-frequency sized (Zipf: far smaller
    than the corpus) — broadcast it when it fits, bucket both sides on
    token when it doesn't. Empty docs survive with zero counts
    (explode_outer + null-token guard)."""
    ex = df.select("doc_id",
                   F.explode_outer(C.tokens(F.col(text_col))).alias("tok"))
    vocab = (ex.filter(F.col("tok").isNotNull())
               .groupBy("tok").agg(F.count(F.lit(1)).alias("corpus_n")))
    joined = ex.join(vocab, "tok", "left")
    return (joined.groupBy("doc_id")
            .agg(F.count("tok").alias("n_tokens"),
                 F.count(F.when(F.col("corpus_n") <= rare_max, True))
                  .alias("n_rare"))
            .select("doc_id",
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("n_rare").cast("long").alias("n_rare"),
                    C.permille(F.col("n_rare"), F.col("n_tokens"))
                     .alias("rare_permille")))


def sql_token_rarity(table: str = "documents",
                     rare_max: int = RARE_MAX_COUNT) -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH ex AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(tok) = 0
                               THEN [CAST(NULL AS VARCHAR)] ELSE tok END)
                       AS tok
            FROM (SELECT doc_id, {tok} AS tok FROM {table})
        ), vocab AS (
            SELECT tok, COUNT(*) AS corpus_n
            FROM ex WHERE tok IS NOT NULL GROUP BY tok
        )
        SELECT e.doc_id,
               CAST(COUNT(e.tok) AS BIGINT) AS n_tokens,
               CAST(COUNT(CASE WHEN v.corpus_n <= {rare_max} THEN 1 END)
                    AS BIGINT) AS n_rare,
               {C.sql_permille(
                   "COUNT(CASE WHEN v.corpus_n <= " + str(rare_max)
                   + " THEN 1 END)", "COUNT(e.tok)")} AS rare_permille
        FROM ex e LEFT JOIN vocab v USING (tok)
        GROUP BY e.doc_id
    """


# ---------------------------------------------------------------------------
# Text normalization (cleaning stage ahead of dedup/tokenization)
# ---------------------------------------------------------------------------

# ASCII control characters (incl. DEL); mapped to spaces before collapsing
CTRL_CLASS = r"[\x00-\x1f\x7f]"


def normalize_text(col: Column) -> Column:
    """Canonical text form: lowercase, control chars -> space, whitespace
    runs collapsed to one space, trimmed. Pure Catalyst string ops."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(col), CTRL_CLASS, " "), r"\s+", " "))


def normalize_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization audit row per doc: raw/normalized lengths, control-char
    count, whether normalization changed anything, and the 60-bit hash of
    the canonical form (the dedup key the cleaning stage feeds downstream).

    Narrow projection, no shuffle at any corpus size; the hash keeps the
    output row small so the full text never leaves the scan stage."""
    text = F.col(text_col)
    norm = normalize_text(text)
    return df.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.regexp_count(text, F.lit(CTRL_CLASS)).cast("long").alias("n_ctrl"),
        (norm != text).alias("changed"),
        C.h60(norm).alias("norm_h60"),
    )


def sql_normalize_profile(table: str = "documents") -> str:
    norm = ("trim(regexp_replace(regexp_replace(lower(text), "
            "'[\\x00-\\x1f\\x7f]', ' ', 'g'), '\\s+', ' ', 'g'))")
    return f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_raw,
               CAST(length({norm}) AS BIGINT) AS n_chars_norm,
               CAST(len(regexp_extract_all(text, '[\\x00-\\x1f\\x7f]'))
                    AS BIGINT) AS n_ctrl,
               {norm} <> text AS changed,
               {C.sql_h60(norm)} AS norm_h60
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Windowed token co-occurrence (corpus collocation mining)
# ---------------------------------------------------------------------------

COOC_WINDOW = 3   # max token distance counted as co-occurring
COOC_TOPK = 30


def cooccur_topk(df: DataFrame, text_col: str = "text",
                 window: int = COOC_WINDOW, topk: int = COOC_TOPK) -> DataFrame:
    """Top-k co-occurring token pairs within a ``window``-token distance,
    with an integer lift score (the PMI argument, permille, before the log).

    Pair generation is a NARROW array transform per doc — work is linear in
    corpus tokens x window, never quadratic in vocabulary or doc length
    (contrast a per-doc all-pairs cross join). The pair hash-agg map-side
    combines; the global top-k is a TakeOrderedAndProject (no full sort, no
    single-partition window over the corpus); token marginals then attach to
    the k survivors by broadcasting the k-row side, streaming the vocabulary
    counts past it. lift_permille = 1000 * P(a,b)/(P(a)P(b)) with every
    probability replaced by its count numerator (the shared denominators
    cancel up to the constant), computed in exact integer arithmetic:
    (n_pair * n_total_tokens * 1000) DIV (n_a * n_b)."""
    toks = C.tokens(F.lower(F.col(text_col)))

    def _pairs_of(t: Column) -> Column:
        n = F.size(t)
        return F.when(n >= 2, F.flatten(F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + window, n)),
                lambda j: F.concat_ws(
                    " ",
                    F.least(F.element_at(t, i), F.element_at(t, j)),
                    F.greatest(F.element_at(t, i), F.element_at(t, j)))),
        ))).otherwise(F.array().cast("array<string>"))

    # single-binding shape (see common.shingles): tokenization evaluates once
    pairs_col = F.element_at(F.transform(F.array(toks), _pairs_of), 1)
    pair_counts = (df.select(F.explode(pairs_col).alias("pair"))
                     .groupBy("pair").agg(F.count(F.lit(1)).alias("n_pair")))
    top = (pair_counts.orderBy(F.desc("n_pair"), F.asc("pair")).limit(topk)
           .select("pair", "n_pair",
                   F.split(F.col("pair"), " ").getItem(0).alias("tok_a"),
                   F.split(F.col("pair"), " ").getItem(1).alias("tok_b")))
    tok_counts = (df.select(F.explode(toks).alias("tok"))
                    .groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok")))
    totals = tok_counts.agg(F.sum("n_tok").cast("long").alias("n_total"))
    half = (tok_counts.join(F.broadcast(top),
                            tok_counts["tok"] == top["tok_a"])
            .select("pair", "n_pair", "tok_b",
                    F.col("n_tok").alias("n_a")))
    joined = (tok_counts.alias("tc2")
              .join(F.broadcast(half), F.col("tc2.tok") == F.col("tok_b"))
              .select("pair", "n_pair", "n_a",
                      F.col("tc2.n_tok").alias("n_b"))
              .crossJoin(F.broadcast(totals)))
    return joined.select(
        "pair",
        F.col("n_pair").cast("long").alias("n_pair"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr("(n_pair * n_total * 1000) DIV (n_a * n_b)")
         .cast("long").alias("lift_permille"))


def sql_cooccur_topk(table: str = "documents",
                     window: int = COOC_WINDOW,
                     topk: int = COOC_TOPK) -> str:
    tok = C.sql_tokens("lower(text)")
    return f"""
        WITH toks AS (SELECT doc_id, {tok} AS t FROM {table}),
        pr AS (
            SELECT unnest(flatten(list_transform(range(1, len(t)),
                       i -> list_transform(
                           range(i + 1, least(i + {window}, len(t)) + 1),
                           j -> CASE WHEN t[i] <= t[j]
                                     THEN t[i] || ' ' || t[j]
                                     ELSE t[j] || ' ' || t[i] END))))
                   AS pair
            FROM toks WHERE len(t) >= 2
        ), pc AS (
            SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair
            FROM pr GROUP BY pair
        ), top AS (
            SELECT pair, n_pair,
                   string_split(pair, ' ')[1] AS tok_a,
                   string_split(pair, ' ')[2] AS tok_b
            FROM pc ORDER BY n_pair DESC, pair LIMIT {topk}
        ), tc AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
        ), tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM tc)
        SELECT top.pair, top.n_pair,
               a.n_tok AS n_a, b.n_tok AS n_b,
               CAST((top.n_pair * tot.n_total * 1000)
                    // (a.n_tok * b.n_tok) AS BIGINT) AS lift_permille
        FROM top
        JOIN tc a ON a.tok = top.tok_a
        JOIN tc b ON b.tok = top.tok_b
        CROSS JOIN tot
    """


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (mergeable frequency sketch)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4     # hash rows; estimate = min over rows
CMS_WIDTH = 512   # counters per row
CMS_TOPK = 20


def cms_heavy_hitters(df: DataFrame, text_col: str = "text",
                      depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                      topk: int = CMS_TOPK) -> DataFrame:
    """Count-min sketch over the corpus token stream, validated in-query
    against exact counts for the ``topk`` most frequent tokens.

    The sketch is depth x width counters: cell (r, c) sums the counts of
    every token with h60(r || ':' || token) % width == c. It is MERGEABLE —
    shard sketches union by cell-wise addition, which is exactly what the
    hash aggregate's map-side partials do, so the shuffle after the vocab
    count carries at most depth*width rows per partition. The vocabulary
    subplan feeds the cells, the top-k, and the marginal join; Spark's
    ReusedExchange serves all three from one shuffle (at 100 TB you would
    checkpoint the vocab instead). Estimate = min over rows of the probed
    cell; by construction est >= exact (overcount only, never under), so
    the output carries overcount = est - n as the audit column."""
    toks = C.tokens(F.lower(F.col(text_col)))
    vocab = (df.select(F.explode(toks).alias("tok"))
               .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    probes = vocab.select(
        "tok", "n",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     (C.h60(F.concat(F.lit(f"{r}:"), F.col("tok"))) % width)
                     .alias("col"))
            for r in range(depth)])).alias("p"))
    cells = (probes.groupBy(F.col("p.row").alias("row"),
                            F.col("p.col").alias("col"))
                   .agg(F.sum("n").alias("cell")))
    top = vocab.orderBy(F.desc("n"), F.asc("tok")).limit(topk)
    top_probes = top.select(
        "tok", "n",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     (C.h60(F.concat(F.lit(f"{r}:"), F.col("tok"))) % width)
                     .alias("col"))
            for r in range(depth)])).alias("p"))
    est = (cells.join(F.broadcast(top_probes),
                      (cells["row"] == F.col("p.row")) &
                      (cells["col"] == F.col("p.col")))
                .groupBy("tok")
                .agg(F.max("n").alias("n"), F.min("cell").alias("est")))
    return est.select(
        "tok",
        F.col("n").cast("long").alias("n"),
        F.col("est").cast("long").alias("est"),
        (F.col("est") - F.col("n")).cast("long").alias("overcount"))


def sql_cms_heavy_hitters(table: str = "documents",
                          depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
                          topk: int = CMS_TOPK) -> str:
    tok = C.sql_tokens("lower(text)")
    cell_exprs = " UNION ALL ".join(
        f"SELECT {r} AS rr, {C.sql_h60(repr(str(r) + ':') + ' || tok')} % {width} AS cc, n FROM vocab"
        for r in range(depth))
    probe_exprs = " UNION ALL ".join(
        f"SELECT tok, n, {r} AS rr, {C.sql_h60(repr(str(r) + ':') + ' || tok')} % {width} AS cc FROM top"
        for r in range(depth))
    return f"""
        WITH vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest({tok}) AS tok FROM {table}) GROUP BY tok
        ), rows_ AS ({cell_exprs}),
        cells AS (
            SELECT rr, cc, CAST(SUM(n) AS BIGINT) AS cell
            FROM rows_ GROUP BY rr, cc
        ), top AS (
            SELECT tok, n FROM vocab ORDER BY n DESC, tok LIMIT {topk}
        ), tp AS ({probe_exprs})
        SELECT tp.tok, CAST(MAX(tp.n) AS BIGINT) AS n,
               CAST(MIN(c.cell) AS BIGINT) AS est,
               CAST(MIN(c.cell) - MAX(tp.n) AS BIGINT) AS overcount
        FROM tp JOIN cells c ON c.rr = tp.rr AND c.cc = tp.cc
        GROUP BY tp.tok
    """


# ---------------------------------------------------------------------------
# Token-budget mixture sampling (pretraining data mixing)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 800  # per-source token budget for the demo query


def token_budget_sample(df: DataFrame, group_col: str = "source",
                        id_col: str = "doc_id", text_col: str = "text",
                        budget: int = TOKEN_BUDGET,
                        salt: str = SPLIT_SALT) -> DataFrame:
    """Greedy token-budget sampling per domain: walk each domain's docs in
    salted-hash order and keep whole documents while the running token total
    stays within ``budget`` — how a pretraining mixture hits a per-source
    token target rather than a doc-count cap (:func:`domain_cap`).

    The hash order gives the same guarantees as ``domain_cap``: uniform
    within the domain, RNG-free, and append-stable (new docs can only evict
    later-ranked survivors, never reorder earlier ones). A doc is kept iff
    the budget minus all earlier-ranked docs' tokens still covers it ENTIRELY
    (no doc splitting — chunking is :mod:`textops.chunking`'s job), i.e.
    ``cum_tokens <= budget`` with cum including the doc itself.

    One shuffle on ``group_col`` + a per-group running sum (same cost shape
    as any sessionization). Low domain cardinality makes hot groups — at
    corpus scale pre-aggregate per-doc token counts map-side (done here:
    ``size(tokens())`` is computed in the narrow stage before the shuffle)
    and let AQE split the skewed sort partitions.
    """
    from pyspark.sql import Window
    tok_n = F.size(C.tokens(F.col(text_col))).cast("long")
    h = C.h60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = (Window.partitionBy(group_col)
               .orderBy(h.asc(), F.col(id_col).asc())
               .rowsBetween(Window.unboundedPreceding, 0))
    base = df.select(F.col(id_col), F.col(group_col), tok_n.alias("tok_n"))
    return (base.withColumn("cum_tokens",
                            F.sum("tok_n").over(w).cast("long"))
                .withColumn("kept", F.col("cum_tokens") <= budget))


def sql_token_budget_sample(table: str = "documents",
                            group_col: str = "source",
                            id_col: str = "doc_id", text_col: str = "text",
                            budget: int = TOKEN_BUDGET,
                            salt: str = SPLIT_SALT) -> str:
    h = C.sql_h60(f"'{salt}' || {id_col}")
    tok_n = f"CAST(len({C.sql_tokens(text_col)}) AS BIGINT)"
    return f"""
        WITH base AS (
            SELECT {id_col}, {group_col}, {tok_n} AS tok_n,
                   {h} AS h
            FROM {table}
        )
        SELECT {id_col}, {group_col}, tok_n,
               CAST(SUM(tok_n) OVER (PARTITION BY {group_col}
                                     ORDER BY h, {id_col}
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens,
               cum_tokens <= {budget} AS kept
        FROM base
    """


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction and cross-source n-gram overlap
# ---------------------------------------------------------------------------

TFIDF_TOPK = 3
OVERLAP_K = 8  # 8-gram shingles, same unit as eval-set decontamination


def tfidf_topk(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", topk: int = TFIDF_TOPK) -> DataFrame:
    """Per-document top-k keywords by integer TF-IDF: score =
    tf * 1_000_000 // df (term frequency in the doc over document frequency
    in the corpus; the permille trick scaled up so ranks never tie on
    rounding). Ties break (score desc, token asc) — fully deterministic.

    Plan shape at corpus scale: one (doc, token) hash agg with map-side
    combine, one (token) hash agg for the df side, an equi-join on token
    (shuffle join — the vocabulary is NOT broadcastable at 10^9 docs), and
    a per-doc top-k window. The window partitions by doc_id over ~tokens
    rows; no global sort anywhere."""
    from pyspark.sql import Window
    tf = (df.select(F.col(id_col),
                    F.explode(C.tokens(F.lower(F.col(text_col))))
                     .alias("token"))
            .groupBy(id_col, "token")
            .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("token")
               .agg(F.count(F.lit(1)).alias("df")))
    scored = (tf.join(dfreq, "token")
                .withColumn("score",
                            F.floor(F.col("tf") * 1_000_000 / F.col("df"))
                             .cast("long")))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("token"))
    return (scored.withColumn("rk", F.row_number().over(w).cast("long"))
                  .filter(F.col("rk") <= topk)
                  .select(id_col, "token", F.col("tf").cast("long").alias("tf"),
                          F.col("df").cast("long").alias("df"),
                          "score", "rk"))


def sql_tfidf_topk(table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text", topk: int = TFIDF_TOPK) -> str:
    tok = C.sql_tokens(f"lower({text_col})")
    return f"""
        WITH tf AS (
            SELECT {id_col}, token, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT {id_col}, unnest({tok}) AS token FROM {table})
            GROUP BY 1, 2
        ), dfreq AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), scored AS (
            SELECT tf.{id_col}, tf.token, tf.tf, dfreq.df,
                   CAST((tf.tf * 1000000) // dfreq.df AS BIGINT) AS score
            FROM tf JOIN dfreq USING (token)
        )
        SELECT {id_col}, token, tf, df, score, rk FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                       PARTITION BY {id_col}
                       ORDER BY score DESC, token) AS BIGINT) AS rk
            FROM scored
        ) WHERE rk <= {topk}
    """


def source_overlap(df: DataFrame, group_col: str = "source",
                   text_col: str = "text", k: int = OVERLAP_K,
                   max_groups_per_shingle: int | None = None) -> DataFrame:
    """Cross-source contamination matrix: for every source pair (a < b),
    how many distinct ``k``-gram shingles they share — the corpus-level
    companion of eval-set decontamination (which screens one eval set
    against the corpus; this screens every source against every other).

    Plan shape: distinct (source, shingle) — one hash agg with map-side
    combine — then a shingle-keyed self-join. A shingle present in s
    sources contributes s(s-1)/2 pairs, so join fan-out is bounded by
    (#sources choose 2) PER SHINGLE, independent of corpus size; with
    thousands of sources set ``max_groups_per_shingle`` to drop
    boilerplate shingles present nearly everywhere (the ``max_df`` guard —
    they carry no contamination signal). Output is the sparse upper
    triangle: pairs sharing nothing emit no row."""
    sh = (df.select(F.col(group_col).alias("g"),
                    F.explode(C.shingles(C.tokens(F.lower(F.col(text_col))),
                                         k)).alias("sh"))
            .distinct())
    if max_groups_per_shingle is not None:
        counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("ng"))
        sh = (sh.join(counts.filter(F.col("ng") <= max_groups_per_shingle),
                      "sh").select("g", "sh"))
    a = sh.select(F.col("g").alias("src_a"), "sh")
    b = sh.select(F.col("g").alias("src_b"), "sh")
    return (a.join(b, "sh")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).cast("long").alias("shared")))


def sql_source_overlap(table: str = "documents", group_col: str = "source",
                       text_col: str = "text", k: int = OVERLAP_K) -> str:
    sh = C.sql_shingles(C.sql_tokens(f"lower({text_col})"), k)
    return f"""
        WITH sh AS (
            SELECT DISTINCT {group_col} AS g, shingle
            FROM (SELECT {group_col}, unnest({sh}) AS shingle FROM {table})
        )
        SELECT a.g AS src_a, b.g AS src_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.g < b.g
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Quality-weighted deterministic subsampling and conjunctive keyword search
# ---------------------------------------------------------------------------

QS_SALT = "qsample:v1|"


def quality_sample(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   salt: str = QS_SALT) -> DataFrame:
    """Quality-weighted downsampling, RNG-free: each doc is kept with
    probability proportional to its quality permille — kept iff
    ``h60(salt || id) % 1000 < quality_permille`` (the CCNet/FineWeb-style
    soft filter: don't hard-drop mid-quality docs, thin them). Deterministic
    and append-stable: a doc's keep/drop never changes as the corpus grows.

    Quality here is the stopword-permille proxy from
    :func:`quality_signals`'s family kept deliberately simple (alpha-token
    permille), so the whole op is a narrow pure-Catalyst projection — zero
    shuffle at any corpus size."""
    toks = C.tokens(F.lower(F.col(text_col)))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    quality = C.permille(alpha, F.size(toks))
    draw = C.h60(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 1000
    return df.select(
        F.col(id_col),
        quality.alias("quality_permille"),
        draw.cast("long").alias("draw"),
        (draw < quality).alias("kept"))


def sql_quality_sample(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text", salt: str = QS_SALT) -> str:
    toks = C.sql_tokens(f"lower({text_col})")
    alpha = (f"len(list_filter({toks}, "
             f"t -> regexp_matches(t, '^[a-z]+$')))")
    quality = C.sql_permille(alpha, f"len({toks})")
    draw = f"{C.sql_h60(repr(salt) + ' || ' + id_col)} % 1000"
    return f"""
        SELECT {id_col},
               {quality} AS quality_permille,
               CAST({draw} AS BIGINT) AS draw,
               {draw} < {quality} AS kept
        FROM {table}
    """


# Terms that actually co-occur in the synthetic corpus (ADVICE r3: the old
# ["data","model","training"] default returned 0 rows on every sf table, so
# the registered oracle never exercised the AND-count semantics).
KEYWORDS = ["data", "table", "scan"]


def keyword_search(df: DataFrame, keywords: list[str] | None = None,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Conjunctive keyword search: docs containing ALL query terms (AND
    semantics over the token set, not substring match). The query list is a
    tiny broadcast; per doc the match reduces to a distinct-token semi-join
    + count == k — one (doc, token) hash agg over only the tokens that are
    query terms, so the shuffle carries at most |docs| * k rows at any
    corpus size."""
    keywords = keywords or KEYWORDS
    toks = (df.select(F.col(id_col),
                      F.explode(F.array_distinct(
                          C.tokens(F.lower(F.col(text_col))))).alias("tok"))
              .filter(F.col("tok").isin(keywords)))
    return (toks.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_hit"))
                .filter(F.col("n_hit") == len(keywords))
                .select(id_col, F.col("n_hit").cast("long").alias("n_hit")))


def sql_keyword_search(table: str = "documents",
                       keywords: list[str] | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    keywords = keywords or KEYWORDS
    kw = ", ".join(f"'{k}'" for k in keywords)
    toks = C.sql_tokens(f"lower({text_col})")
    return f"""
        SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM (
            SELECT DISTINCT {id_col}, tok
            FROM (SELECT {id_col}, unnest({toks}) AS tok FROM {table})
            WHERE tok IN ({kw})
        )
        GROUP BY {id_col} HAVING COUNT(*) = {len(keywords)}
    """


# ---------------------------------------------------------------------------
# Mixture reweighting (per-source sampling rates to hit a target data mix)
# ---------------------------------------------------------------------------


def mixture_weights(df: DataFrame, group_col: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Per-source sampling rates that reshape the corpus toward a target
    token mixture — the "data mixing" step every LLM pipeline runs after
    filtering (DoReMi/Pile-style domain weights, here with deterministic
    hash-derived targets so the oracle shares the exact constants).

    Target share of source s ∝ ``h60(s) % 100 + 1`` (a stand-in for the
    externally-chosen domain weights). With T total corpus tokens, the
    target token budget is ``T_s = T * w_s // Σw``, and the downsampling
    rate is ``rate_permille = min(1000, T_s * 1000 // tokens_s)`` — a
    source over its budget is sampled down, a source under it keeps
    everything (rates > 1 would be epoch-repeat factors; clamped here).

    Returns (source, n_docs, n_tokens, share_permille, weight,
    rate_permille).

    Plan: one map-side-combined hash agg to (source, doc/token counts) —
    a #sources-row frame; the corpus-wide totals then attach via a
    broadcast of a ONE-row aggregate (no second scan: totals re-aggregate
    the tiny per-source frame). Everything after the first agg is
    driver-scale. Applying the rates is a narrow filter downstream
    (``h60(doc_id) % 1000 < rate_permille``), same shape as
    :func:`split_assign`."""
    ntok = F.size(C.tokens(F.col(text_col))).cast("long")
    per = (df.select(F.col(group_col), ntok.alias("ntok"))
             .groupBy(group_col)
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum("ntok").cast("long").alias("n_tokens")))
    w = (C.h60(F.col(group_col)) % 100 + 1).cast("long")
    weighted = per.withColumn("weight", w)
    totals = weighted.agg(
        F.sum("n_tokens").cast("long").alias("t_total"),
        F.sum("weight").cast("long").alias("w_total"))
    j = weighted.crossJoin(F.broadcast(totals))
    # div-by-zero guards (ANSI mode fails the JOB on integer x/0 — the
    # never-throw F3 invariant): an all-empty source keeps everything
    # (rate 1000); an all-empty corpus has no shares to apportion.
    share = F.when(F.col("t_total") > 0,
                   F.expr("(n_tokens * 1000) DIV t_total")).otherwise(0)
    rate = F.when(
        F.col("n_tokens") > 0,
        F.least(F.lit(1000).cast("long"),
                F.expr("((t_total * weight) DIV w_total) * 1000 DIV n_tokens"))
    ).otherwise(1000)
    return j.select(
        F.col(group_col),
        "n_docs", "n_tokens",
        share.cast("long").alias("share_permille"),
        "weight",
        rate.cast("long").alias("rate_permille"))


def sql_mixture_weights(table: str = "documents",
                        group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    wexpr = f"{C.sql_h60(group_col)} % 100 + 1"
    return f"""
        WITH per AS (
            SELECT {group_col},
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({tok})) AS BIGINT) AS n_tokens,
                   CAST({wexpr} AS BIGINT) AS weight
            FROM {table} GROUP BY {group_col}
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total,
                   CAST(SUM(weight) AS BIGINT) AS w_total
            FROM per
        )
        SELECT {group_col}, n_docs, n_tokens,
               CAST(CASE WHEN t_total > 0
                         THEN (n_tokens * 1000) // t_total
                         ELSE 0 END AS BIGINT) AS share_permille,
               weight,
               CAST(CASE WHEN n_tokens > 0
                         THEN least(1000, ((t_total * weight) // w_total)
                                          * 1000 // n_tokens)
                         ELSE 1000 END AS BIGINT) AS rate_permille
        FROM per CROSS JOIN tot
    """


# ---------------------------------------------------------------------------
# BPE merge-step pair counting (tokenizer-training primitive)
# ---------------------------------------------------------------------------

BPE_TOPK = 20


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    topk: int = BPE_TOPK) -> DataFrame:
    """Corpus-wide adjacent character-pair counts — the inner statistic of
    one BPE tokenizer-training merge step (the argmax pair becomes the
    next merge; re-running after applying merges trains the vocabulary).
    Returns the top ``topk`` (pair, n) rows ordered by (n DESC, pair).

    Plan: pair generation is a NARROW nested array transform per doc
    (flatten of per-token character bigrams — work linear in corpus
    bytes, nothing leaves the row until the count), then one
    map-side-combined hash agg on the pair and a TakeOrderedAndProject
    global top-k (no full sort, no single-partition window). At 100 TB
    this is exactly the map-reduce pair-count every distributed BPE
    trainer runs; the agg output is vocabulary-sized, not corpus-sized."""
    toks = C.tokens(F.lower(F.col(text_col)))

    def _pairs_of(t: Column) -> Column:
        return F.flatten(F.transform(
            t,
            lambda tok: F.when(
                F.length(tok) >= 2,
                F.transform(F.sequence(F.lit(1), F.length(tok) - 1),
                            lambda i: F.substr(tok, i, F.lit(2)))
            ).otherwise(F.array().cast("array<string>"))))

    pairs_col = F.element_at(F.transform(F.array(toks), _pairs_of), 1)
    return (df.select(F.explode(pairs_col).alias("pair"))
              .groupBy("pair")
              .agg(F.count(F.lit(1)).cast("long").alias("n"))
              .orderBy(F.desc("n"), F.asc("pair"))
              .limit(topk))


def sql_bpe_pair_counts(table: str = "documents",
                        topk: int = BPE_TOPK) -> str:
    tok = C.sql_tokens("lower(text)")
    return f"""
        WITH toks AS (SELECT {tok} AS t FROM {table}),
        pairs AS (
            SELECT unnest(flatten(list_transform(t,
                       tok -> list_transform(range(1, length(tok)),
                                             i -> substring(tok, i, 2)))))
                   AS pair
            FROM toks
        )
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT {topk}
    """


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (integer registers — oracle-checkable HLL)
# ---------------------------------------------------------------------------

HLL_M = 64          # registers (p = 6 index bits)
HLL_P = 6
_HLL_WBITS = 60 - HLL_P          # 54-bit rank word
_HLL_RMAX = _HLL_WBITS + 1       # rho when the rank word is all zeros
# harmonic sum is scaled by 2^47 so alpha_m * m^2 * 2^47 / 1000 stays in
# int64 (the textbook 2^-M sum is fractional; fixed-point keeps the whole
# estimator in exact integer arithmetic in both engines)
_HLL_SCALE_BITS = 47
# alpha_64 = 0.709 (Flajolet et al.), as the exact integer
# floor(709 * m^2 * 2^47 / 1000)
_HLL_A = 709 * HLL_M * HLL_M * (1 << _HLL_SCALE_BITS) // 1000
# linear-counting table: round(m * ln(m / V)) for V = 1..m — computed ONCE
# here in Python and embedded as the same literal array in both engines
# (ln never runs inside either engine, so no float divergence)
import math as _math
_HLL_LC = [round(HLL_M * _math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]
# small-range threshold: 5m/2 (the standard HLL switchover)
_HLL_LC_THRESH = 5 * HLL_M // 2



def _hll_est(frame: DataFrame) -> DataFrame:
    """Append (v_zero, s_total, n_est) to a frame carrying
    (s_present, n_regs): harmonic mean in 2^47 fixed point (integer DIV —
    the scale constant exceeds float64 exactness) + linear-counting
    small-range correction. Shared by the HLL sketches: registers merge
    with MAX at any granularity and feed this same formula."""
    f2 = (frame
          .withColumn("v_zero",
                      (F.lit(HLL_M) - F.col("n_regs")).cast("long"))
          .withColumn("s_total",
                      (F.col("s_present")
                       + F.col("v_zero") * (1 << _HLL_SCALE_BITS))
                      .cast("long"))
          .withColumn("_raw",
                      F.expr(f"CAST({_HLL_A} DIV s_total AS BIGINT)")))
    lc = F.element_at(F.lit(_HLL_LC).cast("array<bigint>"),
                      F.col("v_zero").cast("int"))
    return (f2.withColumn(
        "n_est",
        F.when((F.col("_raw") < _HLL_LC_THRESH) & (F.col("v_zero") > 0), lc)
         .otherwise(F.col("_raw")).cast("long")).drop("_raw"))


def hll_distinct(df: DataFrame, group_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Per-group distinct-token estimate via a REAL HyperLogLog sketch —
    64 integer registers over the deterministic 60-bit hash (6 index bits,
    rho = leading-zero rank of the remaining 54), harmonic mean in 2^47
    fixed point, linear-counting small-range correction from a
    precomputed integer table. The canonical mergeable distinct sketch
    (register-wise MAX merges partitions/groups), here built from
    first principles so it oracle-checks — ``approx_count_distinct``'s
    own HLL++ is engine-internal and unverifiable against DuckDB.

    Returns (group, n_exact, v_zero, n_est, err_permille) — mirroring
    :func:`kmv_distinct` so the two sketches compare per group.

    Plan: tokens → (group, idx, rho) → ONE map-side-combined MAX agg on
    (group, idx) — the shuffle carries at most m rows per group (the
    sketch, never the token set), then a per-group sum of m terms. The
    n_exact column (for err_permille) is the expensive exact pass —
    drop it at 100 TB and only the register shuffle remains."""
    hashes = (df.select(group_col,
                        F.explode(C.tokens(F.col(text_col))).alias("tok"))
                .select(group_col, C.h60(F.col("tok")).alias("h"))
                .distinct())
    w = F.shiftright(F.col("h"), HLL_P)
    rho = (F.when(w > 0, F.lit(_HLL_RMAX) - F.length(F.bin(w)))
            .otherwise(_HLL_RMAX).cast("long"))
    regs = (hashes.select(group_col,
                          (F.col("h") % HLL_M).alias("idx"),
                          rho.alias("rho"))
                  .groupBy(group_col, "idx")
                  .agg(F.max("rho").alias("m_reg")))
    # pyspark's F.shiftleft only takes a literal shift count — the SQL
    # function form accepts a column expression
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST({_HLL_SCALE_BITS} - least(m_reg, {_HLL_SCALE_BITS}) AS INT))")
    per_group = (regs.groupBy(group_col)
                 .agg(F.sum(term).cast("long").alias("s_present"),
                      F.count(F.lit(1)).cast("long").alias("n_regs")))
    v_zero = (F.lit(HLL_M) - F.col("n_regs")).cast("long")
    s_total = (F.col("s_present") +
               v_zero * (1 << _HLL_SCALE_BITS)).cast("long")
    raw = F.expr(f"{_HLL_A} DIV s_total").cast("long")
    lc = F.element_at(F.lit(_HLL_LC).cast("array<bigint>"),
                      F.col("v_zero").cast("int"))
    est = F.when((raw < _HLL_LC_THRESH) & (F.col("v_zero") > 0), lc) \
           .otherwise(raw).cast("long")
    exact = hashes.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"))
    return (exact.join(per_group, group_col)
            .withColumn("v_zero", v_zero)
            .withColumn("s_total", s_total)
            .select(group_col, "n_exact", "v_zero",
                    est.alias("n_est"))
            .withColumn("err_permille",
                        C.permille(F.abs(F.col("n_est") - F.col("n_exact")),
                                   F.col("n_exact"))))


def sql_hll_distinct(table: str = "documents",
                     group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    h = C.sql_h60("tok")
    lc = "[" + ", ".join(str(x) for x in _HLL_LC) + "]"
    return f"""
        WITH hashes AS (
            SELECT DISTINCT {group_col}, {h} AS h
            FROM (SELECT {group_col}, unnest({tok}) AS tok FROM {table})
        ), regs AS (
            SELECT {group_col}, h % {HLL_M} AS idx,
                   MAX(CASE WHEN (h >> {HLL_P}) > 0
                            THEN {_HLL_RMAX} - length(bin(h >> {HLL_P}))
                            ELSE {_HLL_RMAX} END) AS m_reg
            FROM hashes GROUP BY 1, 2
        ), pg AS (
            SELECT {group_col},
                   CAST(SUM(1::BIGINT << ({_HLL_SCALE_BITS} -
                            least(m_reg, {_HLL_SCALE_BITS}))) AS BIGINT)
                       AS s_present,
                   CAST(COUNT(*) AS BIGINT) AS n_regs
            FROM regs GROUP BY {group_col}
        ), est AS (
            SELECT {group_col},
                   CAST({HLL_M} - n_regs AS BIGINT) AS v_zero,
                   CAST(s_present + ({HLL_M} - n_regs)
                        * {1 << _HLL_SCALE_BITS} AS BIGINT) AS s_total
            FROM pg
        ), ex AS (
            SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n_exact
            FROM hashes GROUP BY {group_col}
        )
        SELECT e.{group_col}, ex.n_exact, e.v_zero,
               CAST(CASE WHEN ({_HLL_A} // s_total) < {_HLL_LC_THRESH}
                          AND e.v_zero > 0
                         THEN ({lc})[e.v_zero]
                         ELSE {_HLL_A} // s_total END AS BIGINT) AS n_est,
               {C.sql_permille(
                   "ABS(CAST(CASE WHEN (" + str(_HLL_A)
                   + " // s_total) < " + str(_HLL_LC_THRESH)
                   + " AND e.v_zero > 0 THEN (" + lc + ")[e.v_zero] ELSE "
                   + str(_HLL_A) + " // s_total END AS BIGINT) - ex.n_exact)",
                   "ex.n_exact")} AS err_permille
        FROM est e JOIN ex ON e.{group_col} = ex.{group_col}
    """


def length_histogram(df: DataFrame, group_col: str = "source",
                     text_col: str = "text") -> DataFrame:
    """Per-group token-length histogram over power-of-2 buckets
    (bucket = floor(log2(n_tokens)) + 1 via binary-string length — the
    same cross-engine `bin()` primitive the HLL rho uses; bucket 0 holds
    empty docs). The length-distribution profile batching/curriculum
    schedulers consume, and the canonical mergeable histogram: buckets add
    across shards/groups.

    Returns (group, bucket, n_docs, sum_tokens).

    Plan: one narrow projection + one map-side-combined hash agg on
    (group, bucket) — output is #groups x ~40 rows at any corpus size;
    the only shuffle carries the histogram cells."""
    ntok = F.size(C.tokens(F.col(text_col))).cast("long")
    bucket = (F.when(ntok > 0, F.length(F.bin(ntok)))
               .otherwise(0).cast("long"))
    return (df.select(F.col(group_col), ntok.alias("ntok"),
                      bucket.alias("bucket"))
              .groupBy(group_col, "bucket")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.sum("ntok").cast("long").alias("sum_tokens")))


def sql_length_histogram(table: str = "documents",
                         group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    return f"""
        SELECT {group_col}, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS sum_tokens
        FROM (
            SELECT {group_col},
                   CAST(len({tok}) AS BIGINT) AS ntok,
                   CAST(CASE WHEN len({tok}) > 0
                             THEN length(bin(CAST(len({tok}) AS BIGINT)))
                             ELSE 0 END AS BIGINT) AS bucket
            FROM {table}
        )
        GROUP BY {group_col}, bucket
    """


def hll_user_rollup(events: DataFrame, type_col: str = "event_type",
                    user_col: str = "user_id",
                    ts_col: str = "ts") -> DataFrame:
    """HLL MERGEABILITY, demonstrated in one plan: hourly distinct-user
    registers roll up to per-(type, day) estimates by register-wise MAX —
    the hourly sketches are computed ONCE and merged, never rebuilt from
    raw rows (the property that makes sketch tables worth storing: a year
    of hourly sketches answers any coarser window without rescanning).

    Returns per (event_type, day_idx): the merged-day estimate, the SUM of
    the hourly estimates (which over-counts users active in several hours
    — the number a naive consumer would add up), and n_hours.

    Plan: raw rows → distinct (type, hour, user-hash) → hourly registers
    (map-side MAX) → day registers (second tiny MAX over #hours × m rows)
    → estimates. The only raw-data shuffle is the first distinct."""
    h = C.h60(F.col(user_col).cast("string"))
    hour = F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                  f"div 1000 div 3600000")
    hashes = (events.select(F.col(type_col).alias("event_type"),
                            hour.cast("long").alias("hour_idx"),
                            h.alias("h"))
              .distinct())
    w = F.shiftright(F.col("h"), HLL_P)
    rho = (F.when(w > 0, F.lit(_HLL_RMAX) - F.length(F.bin(w)))
            .otherwise(_HLL_RMAX).cast("long"))
    hourly_regs = (hashes
                   .select("event_type", "hour_idx",
                           (F.col("h") % HLL_M).alias("idx"),
                           rho.alias("rho"))
                   .groupBy("event_type", "hour_idx", "idx")
                   .agg(F.max("rho").alias("m_reg")))
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST({_HLL_SCALE_BITS} - least(m_reg, {_HLL_SCALE_BITS}) AS INT))")
    hourly = _hll_est(
        hourly_regs.groupBy("event_type", "hour_idx")
        .agg(F.sum(term).cast("long").alias("s_present"),
             F.count(F.lit(1)).cast("long").alias("n_regs")))
    day = F.expr("hour_idx div 24")
    day_regs = (hourly_regs
                .groupBy("event_type", day.cast("long").alias("day_idx"),
                         "idx")
                .agg(F.max("m_reg").alias("m_reg")))  # the MERGE
    daily = _hll_est(
        day_regs.groupBy("event_type", "day_idx")
        .agg(F.sum(term).cast("long").alias("s_present"),
             F.count(F.lit(1)).cast("long").alias("n_regs")))
    hourly_sums = (hourly
                   .groupBy("event_type",
                            F.expr("hour_idx div 24").cast("long")
                             .alias("day_idx"))
                   .agg(F.sum("n_est").cast("long")
                         .alias("sum_hourly_est"),
                        F.count(F.lit(1)).cast("long").alias("n_hours")))
    return (daily.select("event_type", "day_idx",
                         F.col("n_est").alias("n_est_day"))
            .join(hourly_sums, ["event_type", "day_idx"]))


def sql_hll_user_rollup(table: str = "events") -> str:
    h = C.sql_h60("CAST(user_id AS VARCHAR)")
    lc = "[" + ", ".join(str(x) for x in _HLL_LC) + "]"
    term = (f"1::BIGINT << ({_HLL_SCALE_BITS} - "
            f"least(m_reg, {_HLL_SCALE_BITS}))")

    def est(prefix: str) -> str:
        return (f"CAST(CASE WHEN ({_HLL_A} // {prefix}s_total) "
                f"< {_HLL_LC_THRESH} AND {prefix}v_zero > 0 "
                f"THEN ({lc})[{prefix}v_zero] "
                f"ELSE {_HLL_A} // {prefix}s_total END AS BIGINT)")

    return f"""
        WITH hashes AS (
            SELECT DISTINCT event_type,
                   CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_idx,
                   {h} AS h
            FROM {table}
        ), hregs AS (
            SELECT event_type, hour_idx, h % {HLL_M} AS idx,
                   MAX(CASE WHEN (h >> {HLL_P}) > 0
                            THEN {_HLL_RMAX} - length(bin(h >> {HLL_P}))
                            ELSE {_HLL_RMAX} END) AS m_reg
            FROM hashes GROUP BY 1, 2, 3
        ), hourly AS (
            SELECT event_type, hour_idx,
                   CAST(SUM({term}) AS BIGINT) AS s_present,
                   CAST(COUNT(*) AS BIGINT) AS n_regs
            FROM hregs GROUP BY 1, 2
        ), hourly_est AS (
            SELECT event_type, hour_idx,
                   CAST({HLL_M} - n_regs AS BIGINT) AS v_zero,
                   CAST(s_present + ({HLL_M} - n_regs)
                        * {1 << _HLL_SCALE_BITS} AS BIGINT) AS s_total
            FROM hourly
        ), dregs AS (
            SELECT event_type, hour_idx // 24 AS day_idx, idx,
                   MAX(m_reg) AS m_reg
            FROM hregs GROUP BY 1, 2, 3
        ), daily AS (
            SELECT event_type, day_idx,
                   CAST(SUM({term}) AS BIGINT) AS s_present,
                   CAST(COUNT(*) AS BIGINT) AS n_regs
            FROM dregs GROUP BY 1, 2
        ), daily_est AS (
            SELECT event_type, CAST(day_idx AS BIGINT) AS day_idx,
                   CAST({HLL_M} - n_regs AS BIGINT) AS v_zero,
                   CAST(s_present + ({HLL_M} - n_regs)
                        * {1 << _HLL_SCALE_BITS} AS BIGINT) AS s_total
            FROM daily
        ), hsum AS (
            SELECT event_type,
                   CAST(hour_idx // 24 AS BIGINT) AS day_idx,
                   CAST(SUM({est('')}) AS BIGINT) AS sum_hourly_est,
                   CAST(COUNT(*) AS BIGINT) AS n_hours
            FROM hourly_est GROUP BY 1, 2
        )
        SELECT d.event_type, d.day_idx,
               {est('d.')} AS n_est_day,
               s.sum_hourly_est, s.n_hours
        FROM daily_est d
        JOIN hsum s ON s.event_type = d.event_type
                   AND s.day_idx = d.day_idx
    """


# ---------------------------------------------------------------------------
# KMV set operations: pairwise source overlap / Jaccard from the same
# k-minimum-values sketch kmv_distinct builds (round-4 continuation).
# ---------------------------------------------------------------------------

def kmv_overlap(df: DataFrame, group_col: str = "source",
                text_col: str = "text", k: int = KMV_K) -> DataFrame:
    """Pairwise token-set overlap between sources from KMV sketches: for a
    pair (a, b), rank the UNION of the two k-min sets by hash, keep the k
    smallest (the union's own KMV sketch — closure under union is THE
    property that makes KMV a distributed set algebra), and estimate
    ``jaccard ~= |{h in sketch : h in a AND h in b}| / k'``.

    Scale shape: the fact table reduces to k longs per source BEFORE any
    pairwise work (one shuffle: the per-source top-k heap merge), so the
    s^2/2 pair comparison runs over an s*k-row sketch dim — with s sources
    that is driver-scale regardless of corpus size. The exact-Jaccard
    columns (a full hash self-join) are the sandbox validation baseline;
    drop them at 100 TB and nothing but the sketch algebra remains.

    All outputs integer (permille); the estimator and the exact baseline
    use the same h60 hash space, so both engines agree bit-for-bit."""
    hashes = (df.select(group_col,
                        F.explode(C.tokens(F.col(text_col))).alias("tok"))
                .select(group_col, C.h60(F.col("tok")).alias("h"))
                .distinct())
    w = Window.partitionBy(group_col).orderBy("h")
    minset = (hashes.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= k).drop("rn"))
    srcs = hashes.select(group_col).distinct()
    pairs = (srcs.select(F.col(group_col).alias("s1"))
                 .join(srcs.select(F.col(group_col).alias("s2")),
                       F.col("s1") < F.col("s2")))
    # union sketch per pair: tag membership, rank, keep the k smallest
    u = (pairs.join(minset,
                    (F.col(group_col) == F.col("s1"))
                    | (F.col(group_col) == F.col("s2")))
              .groupBy("s1", "s2", "h")
              .agg(F.max(F.when(F.col(group_col) == F.col("s1"), 1)
                          .otherwise(0)).alias("in1"),
                   F.max(F.when(F.col(group_col) == F.col("s2"), 1)
                          .otherwise(0)).alias("in2")))
    wu = Window.partitionBy("s1", "s2").orderBy("h")
    sketch = (u.withColumn("rn", F.row_number().over(wu))
               .filter(F.col("rn") <= k)
               .groupBy("s1", "s2")
               .agg(F.count(F.lit(1)).cast("long").alias("k_used"),
                    F.sum(F.col("in1") * F.col("in2")).cast("long")
                     .alias("n_common")))
    est = sketch.withColumn(
        "jaccard_est_permille",
        C.permille(F.col("n_common"), F.col("k_used")))
    # exact baseline (drop at scale): full-hash intersection + sizes
    sizes = hashes.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (hashes.select(F.col(group_col).alias("s1"), "h")
                   .join(hashes.select(F.col(group_col).alias("s2"),
                                       F.col("h").alias("h2")),
                         (F.col("h") == F.col("h2"))
                         & (F.col("s1") < F.col("s2")))
                   .groupBy("s1", "s2")
                   .agg(F.count(F.lit(1)).alias("n_inter")))
    ex = (est.join(sizes.select(F.col(group_col).alias("s1"),
                                F.col("n").alias("n1")), "s1")
             .join(sizes.select(F.col(group_col).alias("s2"),
                                F.col("n").alias("n2")), "s2")
             .join(inter, ["s1", "s2"], "left")
             .withColumn("n_inter",
                         F.coalesce("n_inter", F.lit(0)).cast("long")))
    ex = ex.withColumn(
        "jaccard_exact_permille",
        C.permille(F.col("n_inter"),
                   F.col("n1") + F.col("n2") - F.col("n_inter")))
    return (ex.select(
                "s1", "s2", "k_used", "n_common",
                "jaccard_est_permille", "jaccard_exact_permille",
                F.abs(F.col("jaccard_est_permille")
                      - F.col("jaccard_exact_permille")).cast("long")
                 .alias("err_permille"))
              .orderBy("s1", "s2"))


def sql_kmv_overlap(table: str = "documents", group_col: str = "source",
                    k: int = KMV_K) -> str:
    tok = C.sql_tokens("text")
    h = C.sql_h60("tok")
    return f"""
        WITH hashes AS (
            SELECT DISTINCT {group_col} AS src, {h} AS h
            FROM (SELECT {group_col}, unnest({tok}) AS tok FROM {table})
        ), minset AS (
            SELECT src, h FROM (
                SELECT src, h,
                       ROW_NUMBER() OVER (PARTITION BY src ORDER BY h) AS rn
                FROM hashes
            ) WHERE rn <= {k}
        ), pairs AS (
            SELECT a.src AS s1, b.src AS s2
            FROM (SELECT DISTINCT src FROM hashes) a
            JOIN (SELECT DISTINCT src FROM hashes) b ON a.src < b.src
        ), u AS (
            SELECT p.s1, p.s2, m.h,
                   MAX(CASE WHEN m.src = p.s1 THEN 1 ELSE 0 END) AS in1,
                   MAX(CASE WHEN m.src = p.s2 THEN 1 ELSE 0 END) AS in2
            FROM pairs p
            JOIN minset m ON m.src = p.s1 OR m.src = p.s2
            GROUP BY p.s1, p.s2, m.h
        ), sketch AS (
            SELECT s1, s2,
                   CAST(COUNT(*) AS BIGINT) AS k_used,
                   CAST(SUM(in1 * in2) AS BIGINT) AS n_common
            FROM (
                SELECT s1, s2, in1, in2,
                       ROW_NUMBER() OVER (PARTITION BY s1, s2 ORDER BY h)
                           AS rn
                FROM u
            ) WHERE rn <= {k}
            GROUP BY s1, s2
        ), sizes AS (
            SELECT src, COUNT(*) AS n FROM hashes GROUP BY src
        ), inter AS (
            SELECT a.src AS s1, b.src AS s2, COUNT(*) AS n_inter
            FROM hashes a JOIN hashes b ON a.h = b.h AND a.src < b.src
            GROUP BY 1, 2
        ), joined AS (
            SELECT sk.s1, sk.s2, sk.k_used, sk.n_common,
                   {C.sql_permille('sk.n_common', 'sk.k_used')}
                       AS jaccard_est_permille,
                   {C.sql_permille(
                       'COALESCE(i.n_inter, 0)',
                       'z1.n + z2.n - COALESCE(i.n_inter, 0)')}
                       AS jaccard_exact_permille
            FROM sketch sk
            JOIN sizes z1 ON z1.src = sk.s1
            JOIN sizes z2 ON z2.src = sk.s2
            LEFT JOIN inter i ON i.s1 = sk.s1 AND i.s2 = sk.s2
        )
        SELECT s1, s2, k_used, n_common,
               jaccard_est_permille, jaccard_exact_permille,
               CAST(abs(jaccard_est_permille - jaccard_exact_permille)
                    AS BIGINT) AS err_permille
        FROM joined
        ORDER BY s1, s2
    """


# ---------------------------------------------------------------------------
# Stratified exact-quota sampling (round-4 continuation)
# ---------------------------------------------------------------------------

STRATA_QUOTA = 20
STRATA_SALT = "strat1"


def stratified_sample(df: DataFrame, group_col: str = "source",
                      id_col: str = "doc_id", quota: int = STRATA_QUOTA,
                      salt: str = STRATA_SALT) -> DataFrame:
    """Exact per-stratum quotas, RNG-free: within each stratum keep the
    ``quota`` docs with the smallest ``h60(salt || id)`` — a deterministic
    uniform draw (hash order is independent of any data attribute), unlike
    ``df.sampleBy`` which is seeded-RNG, fraction-based (no exact counts),
    and unstable under partition reshuffles.

    One shuffle on the stratum key; the per-stratum top-``quota`` selection
    is a bounded heap (rank window over a key whose group fits the quota),
    so a hot stratum costs one sorted pass with early-out — at 100 TB
    replace row_number with a per-partition top-k heap + merge
    (the TakeOrdered pattern) if strata are few and huge. Quota-exactness:
    |stratum ∩ sample| = min(quota, |stratum|), which rate-based sampling
    (quality_sample) cannot promise; NOT append-stable — adding docs can
    evict by design, because the quota is the contract."""
    draw = C.h60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(draw.asc(),
                                              F.col(id_col).asc())
    return (df.select(F.col(group_col), F.col(id_col))
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= quota)
              .select(group_col, id_col,
                      F.col("rn").cast("long").alias("rank_in_stratum"))
              .orderBy(group_col, id_col))


def sql_stratified_sample(table: str = "documents",
                          group_col: str = "source",
                          id_col: str = "doc_id",
                          quota: int = STRATA_QUOTA,
                          salt: str = STRATA_SALT) -> str:
    draw = C.sql_h60(f"'{salt}' || CAST({id_col} AS VARCHAR)")
    return f"""
        SELECT {group_col}, {id_col},
               CAST(rn AS BIGINT) AS rank_in_stratum
        FROM (
            SELECT {group_col}, {id_col},
                   ROW_NUMBER() OVER (PARTITION BY {group_col}
                                      ORDER BY {draw} ASC, {id_col} ASC)
                       AS rn
            FROM {table}
        )
        WHERE rn <= {quota}
        ORDER BY {group_col}, {id_col}
    """


def freq_spectrum(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Type-frequency spectrum: how many distinct token types occur with
    frequency in each power-of-two band (bucket = bitlen(freq)), plus the
    bands' total occurrence mass — the corpus-health check (natural text
    is Zipfian: log-linear decay of n_types per band; a flat or bimodal
    spectrum flags boilerplate floods or synthetic/templated text before
    it poisons a training mix).

    One token-keyed partial-agg shuffle (the vocabulary count every other
    corpus stat here already pays — never a sort, never a rank window),
    then a ~30-row histogram agg. At 100 TB the vocab frame is the only
    exchange and the spectrum is constant-size output."""
    tok = df.select(F.explode(C.tokens(F.col(text_col))).alias("tok"))
    per_tok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    bucket = F.length(F.bin(F.col("freq"))).cast("long")
    return (per_tok.groupBy(bucket.alias("freq_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum("freq").cast("long").alias("n_occurrences"))
            .orderBy("freq_bucket"))


def sql_freq_spectrum(table: str = "documents",
                      text_col: str = "text") -> str:
    tok = C.sql_tokens(text_col)
    return f"""
        WITH per_tok AS (
            SELECT t.tok, COUNT(*) AS freq
            FROM {table}, unnest({tok}) AS t(tok)
            GROUP BY t.tok
        )
        SELECT CAST(length(bin(freq)) AS BIGINT) AS freq_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(freq) AS BIGINT) AS n_occurrences
        FROM per_tok
        GROUP BY 1
        ORDER BY 1
    """


def cms_cells(df: DataFrame, text_col: str = "text",
              depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """The count-min sketch ALONE — (row, col, cell) counters for a token
    stream, no top-k audit. This is the mergeable unit: sketches of two
    disjoint corpora (or two micro-batches) union by cell-wise addition,
    so `cells(A ∪ B) = cells(A) ⊎ cells(B)` summed per (row, col) — the
    property the streaming path (`streaming.start_cms_stream`) relies on
    verbatim. One token shuffle + one ≤depth·width-row agg."""
    toks = C.tokens(F.lower(F.col(text_col)))
    per_tok = (df.select(F.explode(toks).alias("tok"))
                 .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    probes = per_tok.select(
        "n",
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("row"),
                     (C.h60(F.concat(F.lit(f"{r}:"), F.col("tok"))) % width)
                     .alias("col"))
            for r in range(depth)])).alias("p"))
    return (probes.groupBy(F.col("p.row").cast("long").alias("row"),
                           F.col("p.col").cast("long").alias("col"))
                  .agg(F.sum("n").cast("long").alias("cell")))


SLIDING_HOURS = 24


def sliding_hll_users(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      window_hours: int = SLIDING_HOURS) -> DataFrame:
    """Trailing-``window_hours`` distinct-user estimate for EVERY hour —
    the live 'rolling DAU' gauge — from hourly HLL registers slid with a
    range window, never from raw rows: the hourly sketch table answers
    all trailing windows, which is why observability stacks store
    sketches, not counts.

    Composition: hourly registers (one distinct + one MAX agg, as in
    hll_user_rollup) → DENSE (hour × 64-register) grid (an hour where a
    register never fired still needs a row for the range frame to anchor
    on; the grid is |hours|·64 rows — metadata scale) → per-register
    MAX over ``RANGE 23 PRECEDING`` (gap-correct: range frames measure
    hour distance, not row distance) → the shared fixed-point estimate.
    The windows partition by register index (64 partitions of |hours|
    rows each); exact trailing counts would rescan 24× the raw data per
    hour, this rescans nothing."""
    h = C.h60(F.col(user_col).cast("string"))
    hour = F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                  f"div 1000 div 3600000")
    hashes = (events.select(hour.cast("long").alias("hour_idx"),
                            h.alias("h"))
              .distinct())
    w = F.shiftright(F.col("h"), HLL_P)
    rho = (F.when(w > 0, F.lit(_HLL_RMAX) - F.length(F.bin(w)))
            .otherwise(_HLL_RMAX).cast("long"))
    hourly_regs = (hashes
                   .select("hour_idx", (F.col("h") % HLL_M).alias("idx"),
                           rho.alias("rho"))
                   .groupBy("hour_idx", "idx")
                   .agg(F.max("rho").alias("m_reg")))
    hours = hashes.select("hour_idx").distinct()
    grid = hours.crossJoin(
        F.broadcast(hourly_regs.sparkSession.range(HLL_M)
                    .select(F.col("id").cast("long").alias("idx"))))
    from pyspark.sql.window import Window
    slid = (grid.join(hourly_regs, ["hour_idx", "idx"], "left")
            .withColumn("m_slide",
                        F.max("m_reg").over(
                            Window.partitionBy("idx").orderBy("hour_idx")
                            .rangeBetween(-(window_hours - 1), 0))))
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST({_HLL_SCALE_BITS} - least(m_slide, {_HLL_SCALE_BITS}) "
        f"AS INT))")
    per_hour = (slid.groupBy("hour_idx")
                .agg(F.sum(F.when(F.col("m_slide").isNotNull(), term))
                      .cast("long").alias("_sp"),
                     F.sum(F.col("m_slide").isNotNull().cast("long"))
                      .cast("long").alias("n_regs")))
    est = _hll_est(per_hour.select(
        "hour_idx", F.coalesce(F.col("_sp"), F.lit(0)).alias("s_present"),
        "n_regs"))
    return (est.select("hour_idx", "v_zero", "n_est")
               .orderBy("hour_idx"))


def sql_sliding_hll_users(table: str = "events",
                          window_hours: int = SLIDING_HOURS) -> str:
    h = C.sql_h60("CAST(user_id AS VARCHAR)")
    lc = "[" + ", ".join(str(x) for x in _HLL_LC) + "]"
    return f"""
        WITH hashes AS (
            SELECT DISTINCT
                   CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_idx,
                   {h} AS h
            FROM {table}
        ), hregs AS (
            SELECT hour_idx, h % {HLL_M} AS idx,
                   MAX(CASE WHEN (h >> {HLL_P}) > 0
                            THEN {_HLL_RMAX} - length(bin(h >> {HLL_P}))
                            ELSE {_HLL_RMAX} END) AS m_reg
            FROM hashes GROUP BY 1, 2
        ), grid AS (
            SELECT hr.hour_idx, g.idx
            FROM (SELECT DISTINCT hour_idx FROM hashes) hr
            CROSS JOIN (SELECT CAST(unnest(range({HLL_M})) AS BIGINT)
                        AS idx) g
        ), slid AS (
            SELECT grid.hour_idx,
                   MAX(h.m_reg) OVER (
                       PARTITION BY grid.idx ORDER BY grid.hour_idx
                       RANGE BETWEEN {window_hours - 1} PRECEDING
                       AND CURRENT ROW) AS m_slide
            FROM grid
            LEFT JOIN hregs h
              ON h.hour_idx = grid.hour_idx AND h.idx = grid.idx
        ), per_hour AS (
            SELECT hour_idx,
                   CAST(COALESCE(SUM(CASE WHEN m_slide IS NOT NULL
                       THEN 1::BIGINT << ({_HLL_SCALE_BITS} -
                            least(m_slide, {_HLL_SCALE_BITS})) END), 0)
                       AS BIGINT) AS s_present,
                   CAST(SUM(CASE WHEN m_slide IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_regs
            FROM slid GROUP BY hour_idx
        ), est AS (
            SELECT hour_idx,
                   CAST({HLL_M} - n_regs AS BIGINT) AS v_zero,
                   CAST(s_present + ({HLL_M} - n_regs)
                        * {1 << _HLL_SCALE_BITS} AS BIGINT) AS s_total
            FROM per_hour
        )
        SELECT hour_idx, v_zero,
               CAST(CASE WHEN ({_HLL_A} // s_total) < {_HLL_LC_THRESH}
                          AND v_zero > 0
                         THEN ({lc})[v_zero]
                         ELSE {_HLL_A} // s_total END AS BIGINT) AS n_est
        FROM est
        ORDER BY hour_idx
    """


DRIFT_TOPK = 20
DRIFT_MIN_N = 5


def vocab_drift(df: DataFrame, text_col: str = "text",
                topk: int = DRIFT_TOPK,
                min_n: int = DRIFT_MIN_N) -> DataFrame:
    """Vocabulary drift between two corpus snapshots: split the corpus
    into halves A/B by ``h60(doc_id) % 2`` (the deterministic stand-in for
    'last month's crawl vs this month's'), compute each token's rate per
    MILLION tokens in each half, and rank by absolute rate delta — the
    top movers are the drift report a training-data freshness monitor
    publishes (a token surging between snapshots flags templated floods,
    topic shifts, or scraper regressions before they skew a mix).

    Tokens below ``min_n`` combined occurrences are dropped (rate deltas
    of singletons are noise). One token-keyed shuffle with a conditional
    CASE split (never two scans), one broadcast 1-row total, top-k via
    TakeOrderedAndProject with token tiebreak."""
    half = (C.h60(F.col("doc_id").cast("string")) % 2).alias("half")
    tok = (df.select(half, F.explode(C.tokens(F.col(text_col)))
                     .alias("tok")))
    per_tok = (tok.groupBy("tok")
               .agg(F.sum((F.col("half") == 0).cast("long")).cast("long")
                     .alias("n_a"),
                    F.sum((F.col("half") == 1).cast("long")).cast("long")
                     .alias("n_b")))
    totals = per_tok.agg(F.sum("n_a").cast("long").alias("t_a"),
                         F.sum("n_b").cast("long").alias("t_b"))
    rate = lambda n, t: F.when(F.col(t) > 0,
                               F.expr(f"({n} * 1000000) div {t}")) \
                         .otherwise(F.lit(0)).cast("long")
    enriched = (per_tok.filter(F.col("n_a") + F.col("n_b") >= min_n)
                .crossJoin(F.broadcast(totals))
                .withColumn("rate_a_ppm", rate("n_a", "t_a"))
                .withColumn("rate_b_ppm", rate("n_b", "t_b"))
                .withColumn("drift_ppm",
                            F.abs(F.col("rate_a_ppm")
                                  - F.col("rate_b_ppm")).cast("long")))
    return (enriched.select("tok", "n_a", "n_b", "rate_a_ppm",
                            "rate_b_ppm", "drift_ppm")
            .orderBy(F.col("drift_ppm").desc(), F.col("tok"))
            .limit(topk))


def sql_vocab_drift(table: str = "documents", topk: int = DRIFT_TOPK,
                    min_n: int = DRIFT_MIN_N) -> str:
    tok = C.sql_tokens("text")
    half = C.sql_h60("CAST(doc_id AS VARCHAR)") + " % 2"
    return f"""
        WITH toks AS (
            SELECT {half} AS half, t.tok
            FROM {table}, unnest({tok}) AS t(tok)
        ), per_tok AS (
            SELECT tok,
                   CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM toks GROUP BY tok
        ), tot AS (
            SELECT CAST(SUM(n_a) AS BIGINT) AS t_a,
                   CAST(SUM(n_b) AS BIGINT) AS t_b
            FROM per_tok
        ), enr AS (
            SELECT tok, n_a, n_b,
                   CAST(CASE WHEN t_a > 0 THEN (n_a * 1000000) // t_a
                             ELSE 0 END AS BIGINT) AS rate_a_ppm,
                   CAST(CASE WHEN t_b > 0 THEN (n_b * 1000000) // t_b
                             ELSE 0 END AS BIGINT) AS rate_b_ppm
            FROM per_tok CROSS JOIN tot
            WHERE n_a + n_b >= {min_n}
        )
        SELECT tok, n_a, n_b, rate_a_ppm, rate_b_ppm,
               CAST(ABS(rate_a_ppm - rate_b_ppm) AS BIGINT) AS drift_ppm
        FROM enr
        ORDER BY drift_ppm DESC, tok
        LIMIT {topk}
    """


WSAMPLE_K = 50


def weighted_sample(df: DataFrame, weight_col: str = "n_chars",
                    k: int = WSAMPLE_K) -> DataFrame:
    """Deterministic weighted bottom-k sample (integer Efraimidis-
    Spirakis): rank every doc by ``h60(doc_id) DIV weight`` and keep the
    k smallest — a doc with twice the weight halves its expected rank
    key, so selection probability grows with weight, yet the draw is
    RNG-free, append-stable (a new doc never changes an existing doc's
    key) and identical on every engine — the properties `sample()` and
    rand() can never give an oracle-checked pipeline.

    Zero/negative weights are excluded (their inclusion probability is
    0, and the DIV would be undefined/ANSI-fatal). Plans as one narrow
    projection + TakeOrderedAndProject — no shuffle beyond the top-k."""
    w = F.col(weight_col).cast("long")
    return (df.filter(w > 0)
            .select("doc_id", w.alias("weight"),
                    C.h60(F.col("doc_id").cast("string")).alias("_h"))
            .withColumn("rank_key", F.expr("_h div weight").cast("long"))
            .drop("_h")
            .orderBy("rank_key", "doc_id")
            .limit(k))


def sql_weighted_sample(table: str = "documents",
                        weight_col: str = "n_chars",
                        k: int = WSAMPLE_K) -> str:
    h = C.sql_h60("CAST(doc_id AS VARCHAR)")
    return f"""
        SELECT doc_id,
               CAST({weight_col} AS BIGINT) AS weight,
               CAST({h} // CAST({weight_col} AS BIGINT) AS BIGINT)
                   AS rank_key
        FROM {table}
        WHERE CAST({weight_col} AS BIGINT) > 0
        ORDER BY rank_key, doc_id
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Token-coverage length cutoff (curation: "what max-length filter keeps
# X permille of the training tokens?")
# ---------------------------------------------------------------------------

COVERAGE_TARGETS = (500, 900, 950, 990)


def token_coverage_cutoff(df: DataFrame, text_col: str = "text",
                          targets: tuple = COVERAGE_TARGETS) -> DataFrame:
    """For each target permille, the smallest doc-length cutoff L such that
    keeping only docs with n_tokens <= L retains >= target/1000 of ALL
    corpus tokens — the token-weighted length quantile every max-seq-len /
    truncation decision reads off.

    Plan: per-doc token counts collapse to per-LENGTH token totals in one
    map-side-combined agg (|distinct lengths| rows — metadata scale at any
    corpus size); a single cumulative window over length asc; targets is a
    tiny broadcast cross; min_by picks the first length crossing each
    target. The corpus-scale work is exactly one narrow pass + one shuffle
    of |lengths| rows.

    Returns (target_permille, cutoff_len, covered_permille), ORDER BY
    target_permille — all BIGINT (the covered share at the cutoff, >= the
    target by construction)."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    per_len = (df.select(F.size(C.tokens(F.col(text_col))).cast("long")
                         .alias("n_tokens"))
               .groupBy("n_tokens")
               .agg(F.count(F.lit(1)).alias("n_docs")))
    w = (Window.orderBy("n_tokens")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (per_len
           .withColumn("len_tokens", F.col("n_tokens") * F.col("n_docs"))
           .withColumn("cum_tokens", F.sum("len_tokens").over(w))
           .withColumn("total_tokens",
                       F.sum("len_tokens").over(
                           Window.orderBy(F.lit(1))
                           .rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing))))
    tgt = spark.createDataFrame([(int(t),) for t in targets],
                                "target_permille long")
    hit = (cum.crossJoin(F.broadcast(tgt))
           .filter(F.col("cum_tokens") * 1000
                   >= F.col("target_permille") * F.col("total_tokens")))
    return (hit.groupBy("target_permille")
            .agg(F.min("n_tokens").cast("long").alias("cutoff_len"),
                 C.permille(F.min_by("cum_tokens", "n_tokens"),
                            F.min_by("total_tokens", "n_tokens"))
                 .alias("covered_permille"))
            .orderBy("target_permille"))


def sql_token_coverage_cutoff(table: str = "documents",
                              targets: tuple = COVERAGE_TARGETS) -> str:
    tok = C.sql_tokens("text")
    tlist = ", ".join(f"({t})" for t in targets)
    return f"""
        WITH per_len AS (
            SELECT CAST(len({tok}) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM {table} GROUP BY 1
        ),
        cum AS (
            SELECT n_tokens,
                   CAST(SUM(n_tokens * n_docs) OVER (
                        ORDER BY n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_tokens,
                   CAST(SUM(n_tokens * n_docs) OVER () AS BIGINT)
                       AS total_tokens
            FROM per_len
        ),
        tgt(target_permille) AS (VALUES {tlist})
        SELECT CAST(t.target_permille AS BIGINT) AS target_permille,
               CAST(MIN(c.n_tokens) AS BIGINT) AS cutoff_len,
               {C.sql_permille('arg_min(c.cum_tokens, c.n_tokens)',
                               'arg_min(c.total_tokens, c.n_tokens)')}
                   AS covered_permille
        FROM cum c CROSS JOIN tgt t
        WHERE c.cum_tokens * 1000 >= t.target_permille * c.total_tokens
        GROUP BY t.target_permille
        ORDER BY target_permille
    """


# ---------------------------------------------------------------------------
# Pairwise total-variation distance between source unigram distributions
# ---------------------------------------------------------------------------


def token_tvd_sources(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Exact total-variation distance ½·Σ|p_i − q_i| between every source
    pair's unigram distribution — the categorical analogue of the KS
    drift screen (KS needs an ordered support; token identity has none),
    and the number behind "are these two sources the same kind of text".

    Integer closed form over the INNER token join only: with per-token
    counts c_a, c_b and totals n_a, n_b,
    Σ_union |c_a·n_b − c_b·n_a| = Σ_both |c_a·n_b − c_b·n_a|
      + (n_a·n_b − Σ_both c_a·n_b) + (n_a·n_b − Σ_both c_b·n_a)
    (tokens private to one source contribute their full mass), so
    tvd_permille = num·1000 div (2·n_a·n_b) with no full-outer join and
    no dense vocab grid. Overflow bound: n_a·n_b·1000 < 2^63 holds to
    ~3e9 tokens/source; beyond that widen to DECIMAL(38,0).

    One (source, token-hash) count agg (the only corpus-scale shuffle) +
    a token-hash equi-join between source pairs (|sources| is small).

    Returns (source_a, source_b, n_a, n_b, shared_types, tvd_permille),
    ORDER BY (source_a, source_b)."""
    inv = (df.select(F.col(group_col).alias("s"),
                     F.explode(C.tokens(F.col(text_col))).alias("tok"))
           .select("s", C.h60(F.col("tok")).alias("th"))
           .groupBy("s", "th").agg(F.count(F.lit(1)).alias("c")))
    tot = inv.groupBy("s").agg(F.sum("c").alias("n"))
    a = (inv.join(tot, "s")
         .select(F.col("s").alias("sa"), "th",
                 F.col("c").alias("ca"), F.col("n").alias("na")))
    b = (inv.join(tot, "s")
         .select(F.col("s").alias("sb"), "th",
                 F.col("c").alias("cb"), F.col("n").alias("nb")))
    both = (a.join(b, ["th"])
            .filter(F.col("sa") < F.col("sb"))
            .groupBy("sa", "sb")
            .agg(F.first("na").alias("na"), F.first("nb").alias("nb"),
                 F.count(F.lit(1)).cast("long").alias("shared_types"),
                 F.sum(F.abs(F.col("ca") * F.col("nb")
                             - F.col("cb") * F.col("na"))).alias("s_abs"),
                 F.sum(F.col("ca") * F.col("nb")).alias("s_ab"),
                 F.sum(F.col("cb") * F.col("na")).alias("s_ba")))
    return (both.withColumn(
                "num",
                F.col("s_abs") + 2 * F.col("na") * F.col("nb")
                - F.col("s_ab") - F.col("s_ba"))
            .withColumn("tvd_permille",
                        F.expr("(num * 1000) div (2 * na * nb)")
                        .cast("long"))
            .select(F.col("sa").alias("source_a"),
                    F.col("sb").alias("source_b"),
                    F.col("na").cast("long").alias("n_a"),
                    F.col("nb").cast("long").alias("n_b"),
                    "shared_types", "tvd_permille")
            .orderBy("source_a", "source_b"))


def sql_token_tvd_sources(table: str = "documents",
                          group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    h = C.sql_h60("tok")
    return f"""
        WITH inv AS (
            SELECT s, th, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT {group_col} AS s, {h} AS th
                  FROM (SELECT {group_col}, unnest({tok}) AS tok
                        FROM {table}))
            GROUP BY s, th
        ),
        tot AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n
                FROM inv GROUP BY s),
        pair_stats AS (
            SELECT a.s AS sa, b.s AS sb,
                   MAX(ta.n) AS na, MAX(tb.n) AS nb,
                   CAST(COUNT(*) AS BIGINT) AS shared_types,
                   CAST(SUM(abs(a.c * tb.n - b.c * ta.n)) AS BIGINT)
                       AS s_abs,
                   CAST(SUM(a.c * tb.n) AS BIGINT) AS s_ab,
                   CAST(SUM(b.c * ta.n) AS BIGINT) AS s_ba
            FROM inv a
            JOIN inv b ON a.th = b.th AND a.s < b.s
            JOIN tot ta ON ta.s = a.s
            JOIN tot tb ON tb.s = b.s
            GROUP BY a.s, b.s
        )
        SELECT sa AS source_a, sb AS source_b,
               CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               shared_types,
               CAST((s_abs + 2 * na * nb - s_ab - s_ba) * 1000
                    // (2 * na * nb) AS BIGINT) AS tvd_permille
        FROM pair_stats
        ORDER BY source_a, source_b
    """


# ---------------------------------------------------------------------------
# quality × duplication cross-audit
# ---------------------------------------------------------------------------

def quality_vs_dup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Are duplicates concentrated in low-quality text? Per stopword-ratio
    decile (0..10, integer ``n_stopwords*10 DIV n_tokens``): document
    count, exact-duplicate members, and the duplicate share in permille.
    The filter-ordering evidence every cleaning pipeline wants — if dups
    live in the junk deciles, dedup AFTER the quality filter touches far
    fewer pairs.

    Plan: quality features are the existing narrow projection; the dup
    flag is one (h60(text) → count) hash agg joined back on the hash —
    only (doc_id, hash) pairs shuffle, text never moves. Output is <= 11
    rows."""
    feats = quality_features(df, text_col).select(
        "doc_id", "n_tokens", "n_stopwords")
    d = df.select("doc_id", C.h60(F.col(text_col)).alias("h"))
    cnt = d.groupBy("h").agg(F.count(F.lit(1)).alias("n_same"))
    dup = d.join(cnt, "h").select(
        "doc_id", (F.col("n_same") > 1).alias("is_dup"))
    j = feats.join(dup, "doc_id")
    dec = (F.when(F.col("n_tokens") > 0,
                  F.expr("n_stopwords * 10 DIV n_tokens"))
            .otherwise(0)).cast("long")
    return (j.select(dec.alias("stop_decile"), "is_dup")
             .groupBy("stop_decile")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum(F.col("is_dup").cast("long")).cast("long")
                   .alias("n_dup"))
             .withColumn("dup_permille",
                         C.permille(F.col("n_dup"), F.col("n_docs")))
             .orderBy("stop_decile"))


def sql_quality_vs_dup(table: str = "documents") -> str:
    return f"""
        WITH feats AS ({sql_quality_features(table)}),
        d AS (SELECT doc_id, {C.sql_h60('text')} AS h FROM {table}),
        cnt AS (SELECT h, COUNT(*) AS n_same FROM d GROUP BY h),
        dup AS (
            SELECT d.doc_id, (cnt.n_same > 1) AS is_dup
            FROM d JOIN cnt USING (h)
        ),
        j AS (
            SELECT CAST(CASE WHEN f.n_tokens > 0
                             THEN f.n_stopwords * 10 // f.n_tokens
                             ELSE 0 END AS BIGINT) AS stop_decile,
                   dup.is_dup
            FROM feats f JOIN dup ON dup.doc_id = f.doc_id
        )
        SELECT stop_decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup,
               CAST(CASE WHEN COUNT(*) > 0
                         THEN SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
                              * 1000 // COUNT(*)
                         ELSE 0 END AS BIGINT) AS dup_permille
        FROM j GROUP BY stop_decile ORDER BY stop_decile
    """


# ---------------------------------------------------------------------------
# BM25 ranking (integer arithmetic) and per-source quality calibration
# ---------------------------------------------------------------------------

BM25_TOPK = 10
BM25_K1_MILLI = 1200   # k1 = 1.2 (Robertson defaults)
BM25_B_MILLI = 750     # b  = 0.75
BM25_IDF_CAP = 1_000_000_000  # keeps idf*tf*(k1+1) inside int64 at any N


def bm25_topk(df: DataFrame, keywords: list[str] | None = None,
              id_col: str = "doc_id", text_col: str = "text",
              topk: int = BM25_TOPK) -> DataFrame:
    """Top-k documents for a fixed keyword query under integer BM25.

    Classic BM25 (Robertson/Sparck Jones) needs ln() in the IDF — a float
    whose last ulp differs across engines — so this uses the standard
    integer-exact surrogate family: all ratios are fixed-point milli/micro
    integers with explicit integer division, and the IDF is the rational
    form ``idf_micro = min(CAP, (N - df + 1) * 1e6 // (df + 1))`` (same
    monotone-in-df shape as ln((N-df+.5)/(df+.5)), no transcendental).
    Per matched term:

        norm_milli = (1000 - b) + b * dl * 1000 // avgdl_milli
        denom      = tf * 1000 + k1 * norm_milli // 1000
        score     += idf_micro * tf * (1000 + k1) // denom

    Ties break (score DESC, id ASC) — deterministic. Returns
    (doc_id, score, n_terms).

    Plan shape at corpus scale: tokens are filtered to the query terms
    BEFORE the (doc, term) hash agg, so the tf shuffle carries at most
    |docs|·|terms| rows; df and avgdl are tiny aggregates broadcast back;
    the top-k is a TakeOrderedAndProject (no global sort)."""
    keywords = keywords or KEYWORDS
    k1, b, cap = BM25_K1_MILLI, BM25_B_MILLI, BM25_IDF_CAP

    toks = df.select(F.col(id_col),
                     C.tokens(F.lower(F.col(text_col))).alias("toks"))
    dl = toks.select(id_col, F.size("toks").cast("long").alias("dl"))
    # empty-input guard: count=0 would be an ANSI integer div-by-zero
    # (never-throw invariant); the NULL avgdl never meets a row downstream
    totals = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CASE WHEN count(1) > 0"
               " THEN sum(dl) * 1000 DIV count(1) END").cast("long")
         .alias("avgdl_milli"))
    tf = (toks.select(id_col, F.explode("toks").alias("term"))
              .filter(F.col("term").isin(keywords))
              .groupBy(id_col, "term")
              .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    j = (tf.join(F.broadcast(dfreq), "term")
           .join(dl, id_col)
           .crossJoin(F.broadcast(totals)))
    # keep every division integer and in the same order as the oracle
    scored = j.select(
        F.col(id_col),
        F.expr(
            f"least(CAST({cap} AS BIGINT),"
            f" (n_docs - df + 1) * 1000000 DIV (df + 1))"
            f" * tf * {1000 + k1} DIV"
            f" (tf * 1000 + {k1} * (({1000 - b}) +"
            f" {b} * dl * 1000 DIV avgdl_milli) DIV 1000)"
        ).cast("long").alias("term_score"))
    agg = (scored.groupBy(id_col)
           .agg(F.sum("term_score").cast("long").alias("score"),
                F.count(F.lit(1)).cast("long").alias("n_terms")))
    return agg.orderBy(F.desc("score"), F.asc(id_col)).limit(topk)


def sql_bm25_topk(table: str = "documents",
                  keywords: list[str] | None = None,
                  id_col: str = "doc_id", text_col: str = "text",
                  topk: int = BM25_TOPK) -> str:
    keywords = keywords or KEYWORDS
    k1, b, cap = BM25_K1_MILLI, BM25_B_MILLI, BM25_IDF_CAP
    kw = ", ".join(f"'{k}'" for k in keywords)
    tok = C.sql_tokens(f"lower({text_col})")
    return f"""
        WITH dl AS (
            SELECT {id_col}, CAST(len({tok}) AS BIGINT) AS dl
            FROM {table}
        ), totals AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(CASE WHEN COUNT(*) > 0
                             THEN SUM(dl) * 1000 // COUNT(*)
                        END AS BIGINT) AS avgdl_milli
            FROM dl
        ), tf AS (
            SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT {id_col}, unnest({tok}) AS term FROM {table})
            WHERE term IN ({kw})
            GROUP BY 1, 2
        ), dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), scored AS (
            SELECT tf.{id_col},
                   CAST(least({cap},
                              (t.n_docs - d.df + 1) * 1000000 // (d.df + 1))
                        * tf.tf * {1000 + k1} //
                        (tf.tf * 1000 + {k1} * (({1000 - b}) +
                         {b} * dl.dl * 1000 // t.avgdl_milli) // 1000)
                        AS BIGINT) AS term_score
            FROM tf
            JOIN dfreq d USING (term)
            JOIN dl ON dl.{id_col} = tf.{id_col}
            CROSS JOIN totals t
        )
        SELECT {id_col},
               CAST(SUM(term_score) AS BIGINT) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM scored
        GROUP BY {id_col}
        ORDER BY score DESC, {id_col}
        LIMIT {topk}
    """


def quality_calibration(df: DataFrame, group_col: str = "source",
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-source quality calibration against GLOBAL histogram deciles:
    where does each source's quality mass sit relative to the whole
    corpus? A healthy source spreads ~100 permille per decile; one piling
    into deciles 0-2 is drifting junk (the cross-source drift monitor
    quality_sample's scalar enables). Returns
    (source, global_decile, n_docs, share_permille) ordered.

    The decile of a doc is defined on its quality VALUE, not its row rank:
    ``decile(v) = count(q < v) * 10 // N`` — every doc with the same score
    lands in the same decile (rank-based ntile would split ties by row
    order, which no distributed engine reproduces deterministically).

    Plan shape: quality is the zero-shuffle alpha-permille projection; the
    global histogram is one hash agg over <=1001 distinct permille values,
    so the cumulative window runs over a BOUNDED 1001-row frame (single
    partition by construction, independent of corpus size) and the decile
    map broadcasts back to the doc frame."""
    from pyspark.sql import Window

    toks = C.tokens(F.lower(F.col(text_col)))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    q = df.select(F.col(group_col), C.permille(alpha, F.size(toks)).alias("q"))
    hist = q.groupBy("q").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (Window.orderBy("q")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    n_total = hist.agg(F.sum("n").cast("long").alias("n_total"))
    dec_map = (hist.withColumn("cum_le", F.sum("n").over(w))
                   .crossJoin(F.broadcast(n_total))
                   .select("q", F.expr("(cum_le - n) * 10 DIV n_total")
                                 .cast("long").alias("global_decile")))
    per = (q.join(F.broadcast(dec_map), "q")
            .groupBy(group_col, "global_decile")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    src_tot = per.groupBy(group_col).agg(
        F.sum("n_docs").cast("long").alias("src_n"))
    # |sources| rows — broadcast, or the report pays a SortMergeJoin
    return (per.join(F.broadcast(src_tot), group_col)
               .select(group_col, "global_decile", "n_docs",
                       C.permille(F.col("n_docs"), F.col("src_n"))
                        .alias("share_permille"))
               .orderBy(group_col, "global_decile"))


def sql_quality_calibration(table: str = "documents",
                            group_col: str = "source",
                            text_col: str = "text") -> str:
    toks = C.sql_tokens(f"lower({text_col})")
    alpha = (f"len(list_filter({toks}, "
             f"t -> regexp_matches(t, '^[a-z]+$')))")
    quality = C.sql_permille(alpha, f"len({toks})")
    return f"""
        WITH q AS (
            SELECT {group_col}, {quality} AS q FROM {table}
        ), hist AS (
            SELECT q, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY q
        ), dec_map AS (
            SELECT q,
                   CAST((SUM(n) OVER (ORDER BY q
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n) * 10 //
                        (SELECT SUM(n) FROM hist) AS BIGINT)
                       AS global_decile
            FROM hist
        ), per AS (
            SELECT q.{group_col}, d.global_decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM q JOIN dec_map d USING (q)
            GROUP BY 1, 2
        )
        SELECT {group_col}, global_decile, n_docs,
               CAST(CASE WHEN SUM(n_docs) OVER (PARTITION BY {group_col}) > 0
                         THEN n_docs * 1000 //
                              SUM(n_docs) OVER (PARTITION BY {group_col})
                         ELSE 0 END AS BIGINT) AS share_permille
        FROM per
        ORDER BY {group_col}, global_decile
    """


# ---------------------------------------------------------------------------
# Bigram coherence (LM-quality proxy without a language model)
# ---------------------------------------------------------------------------

BIGRAM_MIN_DF = 5  # a bigram is "coherent" when >= this many docs use it


def bigram_coherence(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     min_df: int = BIGRAM_MIN_DF) -> DataFrame:
    """Per-doc share of adjacent token bigrams that the REST of the corpus
    also uses (document frequency >= ``min_df``) — a model-free fluency
    proxy: shuffled/garbled text keeps its unigram stats but its bigrams
    stop matching anyone else's, so low coherence flags word-salad,
    boilerplate keeps near-1000. The corpus itself is the language model.

    Returns (doc_id, n_bigrams, n_coherent, coherence_permille).

    Plan: bigrams are a narrow shingle transform hashed to int64 before
    anything shuffles; df is one distinct-(doc,bigram) hash agg; the
    doc-side occurrence rows join the frequent-bigram set on the hash
    (shuffle equi-join — the bigram vocabulary is corpus-sized, NEVER
    broadcast), then one per-doc agg. Token identity uses native xxhash64
    internally (outputs are counts; a cross-doc 64-bit collision needs
    ~|bigrams|²/2⁶⁴ luck)."""
    bg = C.shingles(C.tokens(F.lower(F.col(text_col))), 2)
    occ = (df.select(F.col(id_col),
                     F.explode(F.transform(bg, lambda s: F.xxhash64(s)))
                      .alias("bh")))
    freq = (occ.select(id_col, "bh").distinct()
               .groupBy("bh")
               .agg(F.count(F.lit(1)).alias("bdf"))
               .filter(F.col("bdf") >= min_df)
               .select("bh"))
    flagged = (occ.join(freq.withColumn("is_coherent", F.lit(1)),
                        "bh", "left")
                  .select(id_col,
                          F.coalesce("is_coherent", F.lit(0)).alias("c")))
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum("c").cast("long").alias("n_coherent"))
            .withColumn("coherence_permille",
                        C.permille(F.col("n_coherent"),
                                   F.col("n_bigrams"))))


def sql_bigram_coherence(table: str = "documents", id_col: str = "doc_id",
                         text_col: str = "text",
                         min_df: int = BIGRAM_MIN_DF) -> str:
    bg = C.sql_shingles(C.sql_tokens(f"lower({text_col})"), 2)
    return f"""
        WITH occ AS (
            SELECT {id_col}, unnest({bg}) AS b FROM {table}
        ), freq AS (
            SELECT b FROM (SELECT DISTINCT {id_col}, b FROM occ)
            GROUP BY b HAVING COUNT(*) >= {min_df}
        ), flagged AS (
            SELECT occ.{id_col},
                   CASE WHEN freq.b IS NULL THEN 0 ELSE 1 END AS c
            FROM occ LEFT JOIN freq USING (b)
        )
        SELECT {id_col},
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(c) AS BIGINT) AS n_coherent,
               CAST(CASE WHEN COUNT(*) > 0
                         THEN SUM(c) * 1000 // COUNT(*)
                         ELSE 0 END AS BIGINT) AS coherence_permille
        FROM flagged GROUP BY {id_col}
    """


def len_quality_grid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """2-D curation dashboard: joint histogram of GLOBAL length deciles ×
    GLOBAL quality deciles (both value-defined, same rule as
    :func:`quality_calibration`) — the grid every cleaning pipeline eyeballs
    before choosing cut lines, because the two filters interact (dropping
    short docs already removes most junk-quality mass iff the low-len ×
    low-q cell is heavy; independent cutoffs double-count).

    Returns (len_decile, q_decile, n_docs, share_permille) ordered; at
    most 100 rows.

    Plan: both decile maps come from bounded VALUE histograms (distinct
    token-counts / permilles — metadata-scale single-partition windows),
    broadcast back onto one narrow doc pass; one 100-row hash agg."""
    from pyspark.sql import Window

    toks = C.tokens(F.lower(F.col(text_col)))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    base = df.select(F.size(toks).cast("long").alias("ln"),
                     C.permille(alpha, F.size(toks)).alias("q"))

    def dec_map(col: str) -> DataFrame:
        hist = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("n"))
        w = (Window.orderBy(col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        tot = hist.agg(F.sum("n").cast("long").alias("t"))
        return (hist.withColumn("cum_le", F.sum("n").over(w))
                    .crossJoin(F.broadcast(tot))
                    .select(col, F.expr("(cum_le - n) * 10 DIV t")
                                  .cast("long").alias(f"{col}_decile")))

    per = (base.join(F.broadcast(dec_map("ln")), "ln")
               .join(F.broadcast(dec_map("q")), "q")
               .groupBy(F.col("ln_decile").alias("len_decile"),
                        F.col("q_decile"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    tot = per.agg(F.sum("n_docs").cast("long").alias("t"))
    return (per.crossJoin(F.broadcast(tot))
               .select("len_decile", "q_decile", "n_docs",
                       C.permille(F.col("n_docs"), F.col("t"))
                        .alias("share_permille"))
               .orderBy("len_decile", "q_decile"))


def sql_len_quality_grid(table: str = "documents",
                         text_col: str = "text") -> str:
    toks = C.sql_tokens(f"lower({text_col})")
    alpha = (f"len(list_filter({toks}, "
             f"t -> regexp_matches(t, '^[a-z]+$')))")
    quality = C.sql_permille(alpha, f"len({toks})")
    return f"""
        WITH base AS (
            SELECT CAST(len({toks}) AS BIGINT) AS ln, {quality} AS q
            FROM {table}
        ), lh AS (
            SELECT ln, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY ln
        ), lmap AS (
            SELECT ln, CAST((SUM(n) OVER (ORDER BY ln
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n) * 10 //
                            (SELECT SUM(n) FROM lh) AS BIGINT) AS len_decile
            FROM lh
        ), qh AS (
            SELECT q, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY q
        ), qmap AS (
            SELECT q, CAST((SUM(n) OVER (ORDER BY q
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n) * 10 //
                           (SELECT SUM(n) FROM qh) AS BIGINT) AS q_decile
            FROM qh
        ), per AS (
            SELECT lmap.len_decile, qmap.q_decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM base JOIN lmap USING (ln) JOIN qmap USING (q)
            GROUP BY 1, 2
        )
        SELECT len_decile, q_decile, n_docs,
               CAST(CASE WHEN (SELECT SUM(n_docs) FROM per) > 0
                         THEN n_docs * 1000 // (SELECT SUM(n_docs) FROM per)
                         ELSE 0 END AS BIGINT) AS share_permille
        FROM per
        ORDER BY len_decile, q_decile
    """



def watermark_bias(df: DataFrame, group_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Statistical-watermark screen per source: share of tokens on a
    hash-derived GREEN LIST (h60(token) even — the Kirchenbauer-style
    detector with the simplest possible partition; a real deployment
    plugs its keyed hash in the same slot). Organic text sits at ~500
    permille; watermarked generations are biased toward green, and the
    integer test statistic ``chi2_milli = (2·n_green − n_tokens)² * 1000
    // n_tokens`` (= 4n(p̂−½)²·1000, the one-df chi-square score scaled
    milli) grows linearly in n under bias — the screen for synthetic
    (possibly watermarked) text leaking into a pretraining source.

    Returns (source, n_tokens, n_green, green_permille, chi2_milli)
    ordered.

    Plan: one narrow tokenize+hash pass, one hash agg per source —
    zero joins, text never shuffles."""
    tok = df.select(
        F.col(group_col),
        F.explode(C.tokens(F.lower(F.col(text_col)))).alias("t"))
    green = (C.h60(F.col("t")) % 2 == 0).cast("long")
    agg = (tok.select(group_col, green.alias("g"))
              .groupBy(group_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                   F.sum("g").cast("long").alias("n_green")))
    chi2 = F.expr("(2 * n_green - n_tokens) * (2 * n_green - n_tokens)"
                  " * 1000 DIV n_tokens")
    return (agg.filter(F.col("n_tokens") > 0)
               .select(group_col, "n_tokens", "n_green",
                       C.permille(F.col("n_green"), F.col("n_tokens"))
                        .alias("green_permille"),
                       chi2.cast("long").alias("chi2_milli"))
               .orderBy(group_col))


def sql_watermark_bias(table: str = "documents",
                       group_col: str = "source",
                       text_col: str = "text") -> str:
    tok = C.sql_tokens(f"lower({text_col})")
    return f"""
        WITH t AS (
            SELECT {group_col}, unnest({tok}) AS t FROM {table}
        ), agg AS (
            SELECT {group_col},
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN {C.sql_h60('t')} % 2 = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_green
            FROM t GROUP BY {group_col}
        )
        SELECT {group_col}, n_tokens, n_green,
               {C.sql_permille('n_green', 'n_tokens')} AS green_permille,
               CAST((2 * n_green - n_tokens) * (2 * n_green - n_tokens)
                    * 1000 // n_tokens AS BIGINT) AS chi2_milli
        FROM agg WHERE n_tokens > 0
        ORDER BY {group_col}
    """


CURRICULUM_STAGES = 5
# Cohen's kappa int64 headroom: |agree*n - pe_num| * 1000 <= 1000 * n^2
# must stay under 2^63 -> n <= sqrt((2^63-1)/1000) ~ 9.6e7.
KAPPA_MAX_N = 95_000_000


def curriculum_stages(df: DataFrame, text_col: str = "text",
                      n_stages: int = CURRICULUM_STAGES) -> DataFrame:
    """Curriculum-learning staging report: documents ordered by an
    integer difficulty score (lexical diversity — type/token ratio in
    permille, the standard "harder text has more distinct words" proxy)
    and cut into ``n_stages`` equal-population stages, with per-stage
    doc/token accounting — the schedule a curriculum trainer feeds from
    (stage 0 = easiest first).

    NO global sort: difficulty is permille-bounded (<= 1001 distinct
    values), so staging happens on the VALUE HISTOGRAM — one hash agg to
    <= 1001 rows, a window cumsum over that constant-size frame, and a
    re-agg. Stage of a value v = least(n_stages-1, cum_before(v) *
    n_stages DIV total): every doc sharing a difficulty value lands in
    the same stage (deterministic; boundary ties never split across
    engines). At 10^12 docs the corpus is scanned once and only
    (difficulty, count, token_sum) partials move."""
    t = F.col(text_col)
    toks = C.tokens(t)
    per_doc = df.select(
        F.size(toks).cast("long").alias("n_tokens"),
        C.permille(F.size(F.array_distinct(toks)).cast("long"),
                   F.size(toks).cast("long")).alias("difficulty"))
    hist = (per_doc.groupBy("difficulty")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("token_sum")))
    w = Window.orderBy("difficulty").rowsBetween(
        Window.unboundedPreceding, -1)
    staged = (hist
              .withColumn("cum_before",
                          F.coalesce(F.sum("n_docs").over(w), F.lit(0)))
              .withColumn("total", F.sum("n_docs").over(
                  Window.partitionBy(F.lit(1))))
              .withColumn("stage", F.expr(
                  f"least({n_stages - 1}, "
                  f"cum_before * {n_stages} DIV total)")))
    return (staged.groupBy("stage")
            .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                 F.sum("token_sum").cast("long").alias("token_sum"),
                 F.min("difficulty").cast("long").alias("difficulty_lo"),
                 F.max("difficulty").cast("long").alias("difficulty_hi"))
            .select(F.col("stage").cast("long").alias("stage"),
                    "n_docs", "token_sum", "difficulty_lo",
                    "difficulty_hi")
            .orderBy("stage"))


def sql_curriculum_stages(table: str = "documents",
                          n_stages: int = CURRICULUM_STAGES) -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH per_doc AS (
            SELECT CAST(len({tok}) AS BIGINT) AS n_tokens,
                   {C.sql_permille(f"len(list_distinct({tok}))",
                                   f"len({tok})")} AS difficulty
            FROM {table}
        ), hist AS (
            SELECT difficulty,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS token_sum
            FROM per_doc GROUP BY 1
        ), staged AS (
            SELECT *,
                   COALESCE(SUM(n_docs) OVER (ORDER BY difficulty
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_before,
                   SUM(n_docs) OVER () AS total
            FROM hist
        )
        SELECT CAST(LEAST({n_stages - 1},
                          cum_before * {n_stages} // total)
                    AS BIGINT) AS stage,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(token_sum) AS BIGINT) AS token_sum,
               CAST(MIN(difficulty) AS BIGINT) AS difficulty_lo,
               CAST(MAX(difficulty) AS BIGINT) AS difficulty_hi
        FROM staged GROUP BY 1 ORDER BY stage
    """


def judge_agreement(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cohen's kappa (permille, exact integer) between two rule-based
    quality judges over the corpus — the inter-annotator-agreement gate
    run before trusting heuristic labels for filtering or reward
    modeling. Judge A bands stopword rate (stopword tokens per 1000
    tokens: >= 70 natural / >= 48 mixed / else unnatural); judge B bands
    mean word length (deci-chars per token, n_chars * 10 DIV n_tokens:
    <= 53 natural / <= 55 mixed / else synthetic — stopwords are short,
    so both judges target natural-language likeness through disjoint
    features). kappa = (po - pe) / (1 - pe) computed as
    (agree*n - pe_num) * 1000 DIV (n*n - pe_num) with pe_num =
    sum_k rowmargin_k * colmargin_k, sign-split for the negative case
    (Spark DIV truncates, DuckDB // floors — they agree only on
    non-negative operands).

    Plan: one scan to a 3x3 contingency grid (hash agg), margins and
    kappa on the constant-size grid — nothing but 9 rows moves after the
    first agg. Headroom guard: n <= 95M (|num| * 1000 < 2^63); beyond
    that compute kappa on deterministic h60 samples per shard."""
    t = F.col(text_col)
    toks = C.tokens(t)
    n_chars = F.length(t).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda x: F.array_contains(
            F.lit(LANG_STOPWORDS["en"]).cast("array<string>"),
            F.lower(x)))).cast("long")
    ps = C.permille(n_stop, n_tokens)
    # deci-chars per token; floor(a*10/b) on exact small ints == a*10//b
    cpt = (F.when(n_tokens > 0, F.floor(n_chars * 10 / n_tokens))
           .otherwise(0).cast("long"))
    ja = (F.when(ps >= 70, F.lit(2)).when(ps >= 48, F.lit(1))
          .otherwise(F.lit(0)).cast("long"))
    jb = (F.when(cpt <= 53, F.lit(2)).when(cpt <= 55, F.lit(1))
          .otherwise(F.lit(0)).cast("long"))
    grid = (df.select(ja.alias("ja"), jb.alias("jb"))
            .groupBy("ja", "jb")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    summ = grid.agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ja") == F.col("jb"), F.col("cnt"))
              .otherwise(0)).cast("long").alias("agree"))
    rowm = grid.groupBy(F.col("ja").alias("k")).agg(
        F.sum("cnt").cast("long").alias("ra"))
    colm = grid.groupBy(F.col("jb").alias("k")).agg(
        F.sum("cnt").cast("long").alias("cb"))
    pe = (rowm.join(colm, "k")
          .agg(F.coalesce(F.sum(F.col("ra") * F.col("cb")), F.lit(0))
               .cast("long").alias("pe_num")))
    return (summ.crossJoin(pe)
            .select(F.when(F.col("n_docs") <= KAPPA_MAX_N,
                           F.col("n_docs"))
                     .otherwise(F.raise_error(F.lit(
                         "judge_agreement: corpus exceeds int64 kappa "
                         "headroom; shard or sample")))
                     .alias("n_docs"),
                    "agree", "pe_num")
            .withColumn("kappa_permille", F.expr(
                "CAST(CASE WHEN n_docs * n_docs - pe_num <= 0 THEN "
                "  CASE WHEN agree = n_docs THEN 1000 ELSE 0 END "
                "WHEN agree * n_docs >= pe_num THEN "
                "  (agree * n_docs - pe_num) * 1000 "
                "  DIV (n_docs * n_docs - pe_num) "
                "ELSE -((pe_num - agree * n_docs) * 1000 "
                "       DIV (n_docs * n_docs - pe_num)) "
                "END AS BIGINT)")))


def sql_judge_agreement(table: str = "documents") -> str:
    tok = C.sql_tokens("text")
    stop = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    ps = C.sql_permille(
        f"len(list_filter({tok}, x -> list_contains([{stop}], lower(x))))",
        f"len({tok})")
    cpt = (f"CASE WHEN len({tok}) > 0 "
           f"THEN length(text) * 10 // len({tok}) ELSE 0 END")
    return f"""
        WITH judged AS (
            SELECT CASE WHEN {ps} >= 70 THEN 2
                        WHEN {ps} >= 48 THEN 1 ELSE 0 END AS ja,
                   CASE WHEN {cpt} <= 53 THEN 2
                        WHEN {cpt} <= 55 THEN 1 ELSE 0 END AS jb
            FROM {table}
        ), grid AS (
            SELECT ja, jb, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM judged GROUP BY 1, 2
        ), summ AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(CASE WHEN ja = jb THEN cnt END), 0)
                        AS BIGINT) AS agree
            FROM grid
        ), rowm AS (SELECT ja AS k, SUM(cnt) AS ra FROM grid GROUP BY 1),
        colm AS (SELECT jb AS k, SUM(cnt) AS cb FROM grid GROUP BY 1),
        pe AS (
            SELECT CAST(COALESCE(SUM(ra * cb), 0) AS BIGINT) AS pe_num
            FROM rowm JOIN colm USING (k)
        )
        SELECT n_docs, agree, pe_num,
               CAST(CASE WHEN n_docs * n_docs - pe_num <= 0 THEN
                      CASE WHEN agree = n_docs THEN 1000 ELSE 0 END
                    WHEN agree * n_docs >= pe_num THEN
                      (agree * n_docs - pe_num) * 1000
                      // (n_docs * n_docs - pe_num)
                    ELSE -((pe_num - agree * n_docs) * 1000
                           // (n_docs * n_docs - pe_num))
                    END AS BIGINT) AS kappa_permille
        FROM summ CROSS JOIN pe
    """


def dataset_card(df: DataFrame, text_col: str = "text",
                 group_col: str = "source") -> DataFrame:
    """Per-source dataset-card row: the header block of a datasheet /
    data statement for each corpus slice — document and token counts,
    mean document length, language spread, exact duplicate rate, and
    vocabulary size — the one table a dataset release ships next to the
    data and the first thing a consumer reads to decide whether the
    slice is usable.

    Plan: two aggregations over one projection. (1) The per-doc branch
    groups (source) with COUNT/SUM plus two count-distincts (lang,
    h60(text)) — Catalyst expands multi-distinct into one exchange per
    distinct set, all at (source, value) grain, never wider than the
    distinct-pair count. (2) The vocab branch explodes per-doc DISTINCT
    tokens (array_distinct first, so the explode emits each (doc, token)
    once) and counts distinct tokens per source — the shuffle carries
    (source, token) pairs, bounded by |sources| x |vocab| after the
    map-side distinct. The final join is #sources rows. Dup rate uses
    the exact h60 text fingerprint: dup_permille = (n_docs -
    distinct_texts) * 1000 DIV n_docs, the same statistic
    :func:`exact dedup <log_collector_spark.textops.dedup.exact_dedup>`
    removes. All outputs BIGINT."""
    t = F.col(text_col)
    base = df.select(
        F.col(group_col),
        F.col("lang"),
        C.h60(t).alias("th"),
        F.size(C.tokens(t)).cast("long").alias("ntok"),
        F.array_distinct(C.tokens(t)).alias("utoks"))
    docs = (base.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("ntok").cast("long").alias("n_tokens"),
                 F.countDistinct("lang").cast("long").alias("n_langs"),
                 F.countDistinct("th").cast("long").alias("distinct_texts")))
    vocab = (base.select(F.col(group_col), F.explode("utoks").alias("tok"))
             .groupBy(group_col)
             .agg(F.countDistinct("tok").cast("long").alias("vocab_size")))
    return (docs.join(vocab, group_col)
            .select(F.col(group_col),
                    "n_docs", "n_tokens",
                    F.expr("CASE WHEN n_docs > 0 THEN n_tokens DIV n_docs "
                           "ELSE 0 END").cast("long").alias("mean_tokens"),
                    "n_langs", "distinct_texts",
                    C.permille(F.col("n_docs") - F.col("distinct_texts"),
                               F.col("n_docs")).alias("dup_permille"),
                    "vocab_size")
            .orderBy(group_col))


def sql_dataset_card(table: str = "documents",
                     group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    th = C.sql_h60("text")
    return f"""
        WITH base AS (
            SELECT {group_col}, lang, {th} AS th,
                   CAST(len({tok}) AS BIGINT) AS ntok,
                   list_distinct({tok}) AS utoks
            FROM {table}
        ), docs AS (
            SELECT {group_col},
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(COUNT(DISTINCT th) AS BIGINT) AS distinct_texts
            FROM base GROUP BY 1
        ), vocab AS (
            SELECT {group_col},
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
            FROM base, unnest(utoks) AS u(tok)
            GROUP BY 1
        )
        SELECT d.{group_col}, d.n_docs, d.n_tokens,
               CAST(CASE WHEN d.n_docs > 0 THEN d.n_tokens // d.n_docs
                         ELSE 0 END AS BIGINT) AS mean_tokens,
               d.n_langs, d.distinct_texts,
               {C.sql_permille('d.n_docs - d.distinct_texts', 'd.n_docs')}
                   AS dup_permille,
               v.vocab_size
        FROM docs d JOIN vocab v USING ({group_col})
        ORDER BY d.{group_col}
    """


# ---------------------------------------------------------------------------
# FIM split accounting, Chinchilla budget advisor, epoch shuffle audit
# ---------------------------------------------------------------------------

def fim_split(df: DataFrame, text_col: str = "text",
              group_col: str = "source") -> DataFrame:
    """Fill-in-the-middle (FIM) preprocessing accounting: split every
    eligible document (>= 3 tokens) into prefix / middle / suffix at two
    deterministic cut points and report, per source, how many tokens land
    in each segment — the sizing audit run before committing a corpus to
    FIM-style pretraining (the middle-share controls how much infilling
    signal the transform actually yields; a skewed cut distribution
    starves it).

    Cut points are RNG-free and reshuffle-stable (the repo's sampling
    invariant): with n tokens, cut1 = 1 + h60(doc_id:fim1) % (n-2) in
    [1, n-2] and cut2 = cut1 + 1 + h60(doc_id:fim2) % (n-1-cut1) in
    [cut1+1, n-1], so prefix/middle/suffix are all >= 1 token and every
    eligible doc contributes exactly one split. Both hashes are 60-bit
    md5 prefixes — identical in Spark and DuckDB, so the oracle replays
    the exact split.

    Plan: one narrow projection (token count + two hashes per doc) into
    one map-side-combined hash agg at source grain — nothing but
    (source, partial sums) shuffles at any corpus size."""
    n = F.size(C.tokens(F.col(text_col))).cast("long")
    did = F.col("doc_id").cast("string")
    h1 = C.h60(F.concat(did, F.lit(":fim1")))
    h2 = C.h60(F.concat(did, F.lit(":fim2")))
    base = (df.select(F.col(group_col), n.alias("n"),
                      h1.alias("h1"), h2.alias("h2"))
            .withColumn("eligible", F.col("n") >= 3)
            .withColumn("cut1", F.when(F.col("eligible"),
                                       1 + F.col("h1") % (F.col("n") - 2)))
            .withColumn("cut2", F.when(F.col("eligible"),
                                       F.col("cut1") + 1 +
                                       F.col("h2") %
                                       (F.col("n") - 1 - F.col("cut1")))))
    return (base.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.col("eligible").cast("long")).cast("long")
                  .alias("n_eligible"),
                 F.sum(F.when(F.col("eligible"), F.col("cut1"))
                       .otherwise(0)).cast("long").alias("prefix_tokens"),
                 F.sum(F.when(F.col("eligible"),
                              F.col("cut2") - F.col("cut1"))
                       .otherwise(0)).cast("long").alias("middle_tokens"),
                 F.sum(F.when(F.col("eligible"), F.col("n") - F.col("cut2"))
                       .otherwise(0)).cast("long").alias("suffix_tokens"))
            .select(F.col(group_col), "n_docs", "n_eligible",
                    "prefix_tokens", "middle_tokens", "suffix_tokens",
                    C.permille(F.col("middle_tokens"),
                               F.col("prefix_tokens") +
                               F.col("middle_tokens") +
                               F.col("suffix_tokens"))
                    .alias("middle_share_permille"))
            .orderBy(group_col))


def sql_fim_split(table: str = "documents",
                  group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    h1 = C.sql_h60("CAST(doc_id AS VARCHAR) || ':fim1'")
    h2 = C.sql_h60("CAST(doc_id AS VARCHAR) || ':fim2'")
    return f"""
        WITH base AS (
            SELECT {group_col}, CAST(len({tok}) AS BIGINT) AS n,
                   {h1} AS h1, {h2} AS h2
            FROM {table}
        ), cuts AS (
            SELECT {group_col}, n, h2, n >= 3 AS eligible,
                   CASE WHEN n >= 3 THEN 1 + h1 % (n - 2) END AS cut1
            FROM base
        ), cuts2 AS (
            SELECT *, CASE WHEN eligible
                           THEN cut1 + 1 + h2 % (n - 1 - cut1) END AS cut2
            FROM cuts
        ), agg AS (
            SELECT {group_col},
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(CASE WHEN eligible THEN 1 END), 0)
                        AS BIGINT) AS n_eligible,
                   CAST(COALESCE(SUM(CASE WHEN eligible THEN cut1 END), 0)
                        AS BIGINT) AS prefix_tokens,
                   CAST(COALESCE(SUM(CASE WHEN eligible
                                          THEN cut2 - cut1 END), 0)
                        AS BIGINT) AS middle_tokens,
                   CAST(COALESCE(SUM(CASE WHEN eligible
                                          THEN n - cut2 END), 0)
                        AS BIGINT) AS suffix_tokens
            FROM cuts2 GROUP BY 1
        )
        SELECT {group_col}, n_docs, n_eligible, prefix_tokens,
               middle_tokens, suffix_tokens,
               {C.sql_permille(
                   'middle_tokens',
                   'prefix_tokens + middle_tokens + suffix_tokens')}
                   AS middle_share_permille
        FROM agg ORDER BY {group_col}
    """


# Chinchilla-optimal tokens-per-parameter ratio (Hoffmann et al., 2022).
CHINCHILLA_RATIO = 20
BUDGET_MODEL_SIZES = [125_000_000, 1_300_000_000,
                      7_000_000_000, 70_000_000_000]


def scaling_budget_advisor(df: DataFrame,
                           text_col: str = "text",
                           model_sizes: list[int] | None = None) -> DataFrame:
    """Compute-budget advisor: fold the corpus to its total token count
    and, for each candidate model size, report the Chinchilla-optimal
    token budget (20 tokens/parameter), how many epochs over this corpus
    that budget implies (milli-epochs, integer), and the unique-token
    deficit if the corpus is too small to reach it single-epoch — the
    one-row-per-model planning table a pretraining run starts from.

    All integer: 70B params * 20 * 1000 = 1.4e15 << 2^63, and the corpus
    count is a SUM of per-doc BIGINTs. Plan: one map-side-combined global
    agg (the scan is the entire cost), then a constant-size broadcast
    cross with the model list."""
    sizes = model_sizes or BUDGET_MODEL_SIZES
    tot = df.agg(F.sum(F.size(C.tokens(F.col(text_col))).cast("long"))
                 .cast("long").alias("corpus_tokens"))
    models = df.sparkSession.createDataFrame(
        [(int(p),) for p in sizes], "params long")
    j = (models.crossJoin(F.broadcast(tot))
         .withColumn("corpus_tokens",
                     F.coalesce("corpus_tokens", F.lit(0)).cast("long"))
         .withColumn("tokens_needed",
                     F.expr(f"params * {CHINCHILLA_RATIO}").cast("long")))
    return (j.select(
                "params", "tokens_needed", "corpus_tokens",
                F.expr("CASE WHEN corpus_tokens > 0 THEN "
                       "tokens_needed * 1000 DIV corpus_tokens "
                       "ELSE 0 END").cast("long").alias("epochs_milli"),
                F.greatest(F.lit(0).cast("long"),
                           F.expr("tokens_needed - corpus_tokens"))
                 .cast("long").alias("deficit_tokens"))
            .orderBy("params"))


def sql_scaling_budget_advisor(table: str = "documents",
                               model_sizes: list[int] | None = None) -> str:
    sizes = model_sizes or BUDGET_MODEL_SIZES
    tok = C.sql_tokens("text")
    vals = ", ".join(f"({p})" for p in sizes)
    return f"""
        WITH tot AS (
            SELECT CAST(COALESCE(SUM(len({tok})), 0) AS BIGINT)
                       AS corpus_tokens
            FROM {table}
        ), models AS (
            SELECT CAST(params AS BIGINT) AS params
            FROM (VALUES {vals}) v(params)
        )
        SELECT params,
               CAST(params * {CHINCHILLA_RATIO} AS BIGINT) AS tokens_needed,
               corpus_tokens,
               CAST(CASE WHEN corpus_tokens > 0
                    THEN params * {CHINCHILLA_RATIO} * 1000 // corpus_tokens
                    ELSE 0 END AS BIGINT) AS epochs_milli,
               CAST(GREATEST(0, params * {CHINCHILLA_RATIO}
                                - corpus_tokens) AS BIGINT)
                   AS deficit_tokens
        FROM models CROSS JOIN tot
        ORDER BY params
    """


EPOCH_SHARDS = 8


def epoch_shuffle_audit(df: DataFrame,
                        n_shards: int = EPOCH_SHARDS) -> DataFrame:
    """Data-loader reshuffle audit: assign every document to one of
    ``n_shards`` shards for epoch 0 and epoch 1 via independent salted
    h60 hashes and report (a) how many docs land on the SAME shard both
    epochs (should track the 1/n_shards chance level — a correlated
    assignment means consecutive epochs replay the same shard locality
    and the loader's shuffle is broken) and (b) epoch-0 shard balance
    (min/max shard size) — the two properties a distributed training
    loader's sharding function must have.

    Deterministic, RNG-free, single scan: per-doc work is two md5
    prefixes; both reports are one hash agg each over (shard) /
    (same-flag) — metadata-scale shuffles only."""
    did = F.col("doc_id").cast("string")
    s0 = (C.h60(F.concat(did, F.lit(":e0"))) % n_shards).alias("s0")
    s1 = (C.h60(F.concat(did, F.lit(":e1"))) % n_shards).alias("s1")
    base = df.select(s0, s1)
    summ = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("s0") == F.col("s1")).cast("long")).cast("long")
         .alias("same_shard_docs"))
    bal = (base.groupBy("s0")
           .agg(F.count(F.lit(1)).cast("long").alias("c"))
           .agg(F.max("c").cast("long").alias("shard_max"),
                F.min("c").cast("long").alias("shard_min")))
    return (summ.crossJoin(F.broadcast(bal))
            .select("n_docs", "same_shard_docs",
                    C.permille(F.col("same_shard_docs"), F.col("n_docs"))
                     .alias("same_shard_permille"),
                    F.lit(1000 // n_shards).cast("long")
                     .alias("expected_permille"),
                    "shard_max", "shard_min",
                    C.permille(F.col("shard_min"), F.col("shard_max"))
                     .alias("balance_permille")))


def sql_epoch_shuffle_audit(table: str = "documents",
                            n_shards: int = EPOCH_SHARDS) -> str:
    h0 = C.sql_h60("CAST(doc_id AS VARCHAR) || ':e0'")
    h1 = C.sql_h60("CAST(doc_id AS VARCHAR) || ':e1'")
    return f"""
        WITH base AS (
            SELECT {h0} % {n_shards} AS s0, {h1} % {n_shards} AS s1
            FROM {table}
        ), summ AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(CASE WHEN s0 = s1 THEN 1 END), 0)
                        AS BIGINT) AS same_shard_docs
            FROM base
        ), bal AS (
            SELECT CAST(MAX(c) AS BIGINT) AS shard_max,
                   CAST(MIN(c) AS BIGINT) AS shard_min
            FROM (SELECT COUNT(*) AS c FROM base GROUP BY s0)
        )
        SELECT n_docs, same_shard_docs,
               {C.sql_permille('same_shard_docs', 'n_docs')}
                   AS same_shard_permille,
               CAST({1000 // n_shards} AS BIGINT) AS expected_permille,
               shard_max, shard_min,
               {C.sql_permille('shard_min', 'shard_max')}
                   AS balance_permille
        FROM summ CROSS JOIN bal
    """


def padding_waste(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length-bucketed padding-waste report for batched serving /
    training: documents are grouped into power-of-two length buckets
    (the standard dynamic-batching policy — pad each sequence up to its
    bucket length) and each bucket reports how many tokens the padding
    burns — the table that decides the bucket ladder before anyone pays
    for it in accelerator hours. bucket(len) = smallest power of two
    >= len (1 for empty/1-token docs), computed via binary-string length
    (no float log2, identical in both engines).

    Plan: one narrow projection to (bucket, len) + one map-side-combined
    hash agg at bucket grain (<= ~40 buckets ever exist) — nothing but
    constant-size partials shuffle. waste_permille = (padded - real) *
    1000 DIV padded per bucket; the TOTAL row is the consumer's SUM."""
    n = F.size(C.tokens(F.col(text_col))).cast("long")
    bucket = F.expr(
        "CASE WHEN n <= 1 THEN 1 "
        "ELSE CAST(power(2, length(bin(n - 1))) AS BIGINT) END")
    agg = (df.select(n.alias("n"))
           .withColumn("bucket", bucket)
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n").cast("long").alias("token_sum")))
    return (agg.withColumn("padded_sum",
                           F.expr("bucket * n_docs").cast("long"))
            .select("bucket", "n_docs", "token_sum", "padded_sum",
                    C.permille(F.col("padded_sum") - F.col("token_sum"),
                               F.col("padded_sum"))
                     .alias("waste_permille"))
            .orderBy("bucket"))


def sql_padding_waste(table: str = "documents") -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH base AS (
            SELECT CAST(len({tok}) AS BIGINT) AS n FROM {table}
        ), bucketed AS (
            SELECT n,
                   CASE WHEN n <= 1 THEN 1
                        ELSE CAST(2 ** strlen(bin(n - 1)) AS BIGINT)
                   END AS bucket
            FROM base
        ), agg AS (
            SELECT bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS token_sum
            FROM bucketed GROUP BY 1
        )
        SELECT bucket, n_docs, token_sum,
               CAST(bucket * n_docs AS BIGINT) AS padded_sum,
               {C.sql_permille('bucket * n_docs - token_sum',
                               'bucket * n_docs')} AS waste_permille
        FROM agg ORDER BY bucket
    """


# Order-fingerprint arithmetic: term = (rank * (h60(doc) % P1)) % P2 with
# 31-bit P1/P2 keeps every term < 2^31, so SUM stays under 2^63 for up to
# 2^32 docs per shard.
FP_P1 = 1_000_003
FP_P2 = 2_147_483_647
FP_SHARDS = 8


def data_order_fingerprint(df: DataFrame,
                           n_shards: int = FP_SHARDS) -> DataFrame:
    """Training-data-order fingerprint: shard documents by salted h60 and
    fingerprint each shard's READ ORDER (the repo's deterministic salted
    stream order, same as sequence packing uses) with an order-sensitive
    checksum — two training runs that claim "same data, same order"
    compare this table; any insertion, drop, or swap changes the rank of
    everything after it and hence the sum. This is the reproducibility
    receipt a data loader logs at epoch start.

    fingerprint = SUM over docs of (rank * (h60(doc_id) % P1)) % P2 —
    order-sensitive because rank multiplies a per-doc value; every term
    < 2^31 so the int64 SUM holds to 2^32 docs/shard (guard documented).
    Plan: one exchange on shard (rank window ordered by the salted order
    hash), one hash agg — (shard, rank, h) triples are all that move."""
    did = F.col("doc_id").cast("string")
    base = df.select(
        F.col("doc_id"),
        (C.h60(F.concat(did, F.lit(":shard"))) % n_shards).alias("shard"),
        C.h60(F.concat(did, F.lit(":ord"))).alias("ord"),
        (C.h60(did) % FP_P1).alias("h"))
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    ranked = base.withColumn("rank",
                             F.row_number().over(w).cast("long"))
    return (ranked
            .withColumn("term", F.expr(f"(rank * h) % {FP_P2}"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("term").cast("long").alias("order_fingerprint"))
            .select(F.col("shard").cast("long").alias("shard"),
                    "n_docs", "order_fingerprint")
            .orderBy("shard"))


def sql_data_order_fingerprint(table: str = "documents",
                               n_shards: int = FP_SHARDS) -> str:
    hs = C.sql_h60("CAST(doc_id AS VARCHAR) || ':shard'")
    ho = C.sql_h60("CAST(doc_id AS VARCHAR) || ':ord'")
    hd = C.sql_h60("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH base AS (
            SELECT doc_id, {hs} % {n_shards} AS shard, {ho} AS ord,
                   {hd} % {FP_P1} AS h
            FROM {table}
        ), ranked AS (
            SELECT shard, h,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                           ORDER BY ord, doc_id)
                        AS BIGINT) AS rank
            FROM base
        )
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM((rank * h) % {FP_P2}) AS BIGINT)
                   AS order_fingerprint
        FROM ranked GROUP BY 1 ORDER BY shard
    """


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (multilingual-sampling knob)
# ---------------------------------------------------------------------------


def temperature_mixture(df: DataFrame, group_col: str = "source",
                        text_col: str = "text") -> DataFrame:
    """Temperature-scaled sampling shares per source — the knob
    multilingual / multi-domain pipelines turn to trade natural
    proportions against coverage (mBERT/XLM-R exponentiated sampling):
    at T=1 a source's share is its token share; at T=2 shares follow
    sqrt(tokens), compressing the head and lifting the tail; T→∞ is
    uniform. The companion of :func:`mixture_weights` (which applies
    externally-chosen weights; this derives them from the data).

    Integer exactness: sqrt(n_tokens) uses ``common.isqrt`` (double
    sqrt + one Newton correction — exact, engine-identical), and every
    share is a floored permille of the corresponding total. Uniform
    shares are 1000 DIV n_sources.

    Returns (source, n_docs, n_tokens, sqrt_tokens, w_t1_permille,
    w_t2_permille, w_uniform_permille) ORDER BY source.

    Plan: one map-side-combined hash agg to the #sources-row frame;
    totals re-aggregate that tiny frame and attach via broadcast —
    exactly mixture_weights' shape, driver-scale after the first agg."""
    ntok = F.size(C.tokens(F.col(text_col))).cast("long")
    per = (df.select(F.col(group_col).alias("source"), ntok.alias("nt"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.sum("nt").cast("long").alias("n_tokens"))
             .withColumn("sqrt_tokens", C.isqrt(F.col("n_tokens"))))
    totals = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("n_tokens").cast("long").alias("t_total"),
        F.sum("sqrt_tokens").cast("long").alias("s_total"))
    j = per.crossJoin(F.broadcast(totals))
    return (j.select(
                "source", "n_docs", "n_tokens", "sqrt_tokens",
                C.permille(F.col("n_tokens"), F.col("t_total"))
                 .alias("w_t1_permille"),
                C.permille(F.col("sqrt_tokens"), F.col("s_total"))
                 .alias("w_t2_permille"),
                F.expr("1000 DIV n_sources").cast("long")
                 .alias("w_uniform_permille"))
            .orderBy("source"))


def sql_temperature_mixture(table: str = "documents",
                            group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH per AS (
            SELECT {group_col} AS source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({tok})) AS BIGINT) AS n_tokens
            FROM {table} GROUP BY 1
        ), per2 AS (
            SELECT *, {C.sql_isqrt('n_tokens')} AS sqrt_tokens FROM per
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(SUM(n_tokens) AS BIGINT) AS t_total,
                   CAST(SUM(sqrt_tokens) AS BIGINT) AS s_total
            FROM per2
        )
        SELECT source, n_docs, n_tokens, sqrt_tokens,
               {C.sql_permille('n_tokens', 't_total')} AS w_t1_permille,
               {C.sql_permille('sqrt_tokens', 's_total')} AS w_t2_permille,
               CAST(1000 // n_sources AS BIGINT) AS w_uniform_permille
        FROM per2 CROSS JOIN tot
        ORDER BY source
    """


# ---------------------------------------------------------------------------
# ROUGE-1/2 recall over deterministic reference/candidate doc pairs
# ---------------------------------------------------------------------------


def rouge_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Clipped ROUGE-1 / ROUGE-2 recall between deterministic document
    pairs — even doc_id is the REFERENCE, doc_id+1 the CANDIDATE (the
    pairing a summarization/distillation eval uses when references and
    system outputs land as adjacent rows of one table). Per n-gram type
    the match is clipped at the reference count (multiset min, the
    standard ROUGE/BLEU clipping), recall divides by total reference
    grams.

    Returns (doc_ref, doc_cand, r1_match, r1_total, rouge1_permille,
    r2_match, r2_total, rouge2_permille) ORDER BY doc_ref.

    Plan/scale: per-doc gram counts are one explode + hash agg (work
    linear in corpus tokens); the match join is equi on (pair id, gram)
    — each gram row shuffles once, nothing quadratic. The pair id is
    doc_id DIV 2, so co-partitioning by pair is a free repartition key
    at 100 TB."""
    tok = C.tokens(F.col(text_col))

    def gram_counts(gram_col, tag):
        return (df.select(F.col("doc_id"), F.explode(gram_col).alias("g"))
                .groupBy("doc_id", "g")
                .agg(F.count(F.lit(1)).cast("long").alias(f"c_{tag}")))

    out = None
    pairs = (df.filter(F.col("doc_id") % 2 == 0)
             .select(F.col("doc_id").alias("doc_ref"))
             .join(df.filter(F.col("doc_id") % 2 == 1)
                     .select((F.col("doc_id") - 1).alias("doc_ref"),
                             F.col("doc_id").alias("doc_cand")),
                   "doc_ref"))
    for n, tag in ((1, "r1"), (2, "r2")):
        grams = tok if n == 1 else C.shingles(tok, n)
        cnt = gram_counts(grams, "x")
        ref = cnt.select(F.col("doc_id").alias("doc_ref"), "g",
                         F.col("c_x").alias("c_ref"))
        cand = cnt.select((F.col("doc_id") - 1).alias("doc_ref"), "g",
                          F.col("c_x").alias("c_cand")) \
                  .filter(F.col("doc_ref") % 2 == 0)
        match = (ref.join(cand, ["doc_ref", "g"])
                 .groupBy("doc_ref")
                 .agg(F.sum(F.least("c_ref", "c_cand")).cast("long")
                      .alias(f"{tag}_match")))
        total = (ref.groupBy("doc_ref")
                 .agg(F.sum("c_ref").cast("long").alias(f"{tag}_total")))
        piece = (total.join(match, "doc_ref", "left")
                 .select("doc_ref",
                         F.coalesce(f"{tag}_match", F.lit(0)).cast("long")
                          .alias(f"{tag}_match"),
                         F.col(f"{tag}_total")))
        out = piece if out is None else out.join(piece, "doc_ref", "left")
    res = (pairs.join(out, "doc_ref", "left")
           .select("doc_ref", "doc_cand",
                   F.coalesce("r1_match", F.lit(0)).cast("long")
                    .alias("r1_match"),
                   F.coalesce("r1_total", F.lit(0)).cast("long")
                    .alias("r1_total"),
                   F.coalesce("r2_match", F.lit(0)).cast("long")
                    .alias("r2_match"),
                   F.coalesce("r2_total", F.lit(0)).cast("long")
                    .alias("r2_total")))
    return (res.withColumn("rouge1_permille",
                           C.permille(F.col("r1_match"), F.col("r1_total")))
            .withColumn("rouge2_permille",
                        C.permille(F.col("r2_match"), F.col("r2_total")))
            .select("doc_ref", "doc_cand", "r1_match", "r1_total",
                    "rouge1_permille", "r2_match", "r2_total",
                    "rouge2_permille")
            .orderBy("doc_ref"))


def sql_rouge_pairs(table: str = "documents") -> str:
    tok = C.sql_tokens("text")
    bi = C.sql_shingles(tok, 2)

    def cnts(gram_expr: str) -> str:
        return f"""
            SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest({gram_expr}) AS g FROM {table})
            GROUP BY doc_id, g
        """

    def piece(tag: str, cte: str) -> str:
        return f"""
        {tag}_match AS (
            SELECT r.doc_id AS doc_ref,
                   CAST(SUM(LEAST(r.c, c.c)) AS BIGINT) AS m
            FROM {cte} r JOIN {cte} c
              ON c.doc_id = r.doc_id + 1 AND c.g = r.g
            WHERE r.doc_id % 2 = 0
            GROUP BY 1
        ),
        {tag}_total AS (
            SELECT doc_id AS doc_ref, CAST(SUM(c) AS BIGINT) AS t
            FROM {cte} WHERE doc_id % 2 = 0 GROUP BY 1
        )"""

    return f"""
        WITH uni AS ({cnts(tok)}),
        big AS ({cnts(bi)}),
        pairs AS (
            SELECT r.doc_id AS doc_ref, c.doc_id AS doc_cand
            FROM {table} r JOIN {table} c ON c.doc_id = r.doc_id + 1
            WHERE r.doc_id % 2 = 0
        ),
        {piece('r1', 'uni')},
        {piece('r2', 'big')}
        SELECT p.doc_ref, p.doc_cand,
               CAST(COALESCE(m1.m, 0) AS BIGINT) AS r1_match,
               CAST(COALESCE(t1.t, 0) AS BIGINT) AS r1_total,
               {C.sql_permille('COALESCE(m1.m, 0)', 'COALESCE(t1.t, 0)')}
                   AS rouge1_permille,
               CAST(COALESCE(m2.m, 0) AS BIGINT) AS r2_match,
               CAST(COALESCE(t2.t, 0) AS BIGINT) AS r2_total,
               {C.sql_permille('COALESCE(m2.m, 0)', 'COALESCE(t2.t, 0)')}
                   AS rouge2_permille
        FROM pairs p
        LEFT JOIN r1_match m1 ON m1.doc_ref = p.doc_ref
        LEFT JOIN r1_total t1 ON t1.doc_ref = p.doc_ref
        LEFT JOIN r2_match m2 ON m2.doc_ref = p.doc_ref
        LEFT JOIN r2_total t2 ON t2.doc_ref = p.doc_ref
        ORDER BY p.doc_ref
    """


# ---------------------------------------------------------------------------
# RAKE-lite keyphrase extraction (degree/frequency scores)
# ---------------------------------------------------------------------------

RAKE_STOP_K = 15    # data-derived stoplist: top-df tokens
RAKE_TOP_K = 20


def rake_phrases(df: DataFrame, text_col: str = "text",
                 stop_k: int = RAKE_STOP_K,
                 topk: int = RAKE_TOP_K) -> DataFrame:
    """RAKE keyphrase extraction, corpus-scale: phrases are maximal runs
    of non-stopword tokens, each word scores degree/frequency (degree =
    total length of phrases containing it, the RAKE co-occurrence
    count), a phrase scores the sum of its words — the classic
    unsupervised keyphrase baseline (Rose et al. 2010), with the
    stoplist DERIVED from the data (top ``stop_k`` document-frequency
    tokens, ties to the lexicographically smaller) so both engines
    share it without an external word list.

    Integer milli scores: ``word = degree·1000 DIV freq``; phrase =
    Σ word scores (with multiplicity). Returns the top ``topk``
    distinct phrases by (score_milli DESC, phrase ASC):
    (phrase, n_words, n_occurrences, score_milli).

    Plan/scale: one posexplode of the corpus tokens, ONE per-doc window
    (cumsum of stop flags = phrase id — partitioned by doc, never
    global), two hash aggs for word stats, one join back on the word,
    and a TakeOrderedAndProject top-k. Work is linear in corpus tokens;
    the only wide keys are tokens themselves (Zipf head = the stoplist,
    which is excluded by construction)."""
    from pyspark.sql.window import Window

    toks = (df.select("doc_id",
                      F.posexplode(C.tokens(F.col(text_col)))
                      .alias("pos", "tok")))
    docfreq = (toks.select("tok", "doc_id").distinct()
               .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    wstop = Window.orderBy(F.desc("df"), F.asc("tok"))
    stops = (docfreq.withColumn("rn", F.row_number().over(wstop))
             .filter(F.col("rn") <= stop_k).select("tok"))
    wdoc = (Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tagged = (toks.join(F.broadcast(stops.withColumn("_s", F.lit(1))),
                        "tok", "left")
              .withColumn("stop", F.coalesce("_s", F.lit(0)))
              .withColumn("phrase_id", F.sum("stop").over(wdoc)))
    members = tagged.filter(F.col("stop") == 0) \
                    .select("doc_id", "phrase_id", "pos", "tok")
    wph = Window.partitionBy("doc_id", "phrase_id")
    members = members.withColumn(
        "plen", F.count(F.lit(1)).over(wph).cast("long"))
    wordstats = (members.groupBy("tok")
                 .agg(F.count(F.lit(1)).cast("long").alias("freq"),
                      F.sum("plen").cast("long").alias("degree"))
                 .withColumn("wscore",
                             F.expr("degree * 1000 DIV freq")))
    scored = (members.join(wordstats.select("tok", "wscore"), "tok")
              .groupBy("doc_id", "phrase_id")
              .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("pos", "tok"))),
                           lambda s: s["tok"]), " ").alias("phrase"),
                   F.count(F.lit(1)).cast("long").alias("n_words"),
                   F.sum("wscore").cast("long").alias("score_milli")))
    return (scored.groupBy("phrase")
            .agg(F.max("n_words").cast("long").alias("n_words"),
                 F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                 F.max("score_milli").cast("long").alias("score_milli"))
            .orderBy(F.desc("score_milli"), F.asc("phrase"))
            .limit(topk))


def sql_rake_phrases(table: str = "documents",
                     stop_k: int = RAKE_STOP_K,
                     topk: int = RAKE_TOP_K) -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH toks AS (
            SELECT doc_id, t.pos AS pos, ts[t.pos + 1] AS tok
            FROM (SELECT doc_id, {tok} AS ts FROM {table}),
                 unnest(range(0, len(ts))) AS t(pos)
        ),
        docfreq AS (
            SELECT tok, COUNT(*) AS df
            FROM (SELECT DISTINCT tok, doc_id FROM toks) GROUP BY tok
        ),
        stops AS (
            SELECT tok FROM (
                SELECT tok, ROW_NUMBER() OVER (ORDER BY df DESC, tok)
                           AS rn
                FROM docfreq
            ) WHERE rn <= {stop_k}
        ),
        tagged AS (
            SELECT t.doc_id, t.pos, t.tok,
                   CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END AS stop,
                   SUM(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY t.doc_id ORDER BY t.pos)
                       AS phrase_id
            FROM toks t LEFT JOIN stops s ON s.tok = t.tok
        ),
        members AS (
            SELECT doc_id, phrase_id, pos, tok,
                   COUNT(*) OVER (PARTITION BY doc_id, phrase_id)
                       AS plen
            FROM tagged WHERE stop = 0
        ),
        wordstats AS (
            SELECT tok,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS degree
            FROM members GROUP BY tok
        ),
        scored AS (
            SELECT m.doc_id, m.phrase_id,
                   array_to_string(list_transform(
                       list_sort(list(struct_pack(pos := m.pos,
                                                  tok := m.tok))),
                       s -> s.tok), ' ') AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(w.degree * 1000 // w.freq) AS BIGINT)
                       AS score_milli
            FROM members m JOIN wordstats w ON w.tok = m.tok
            GROUP BY m.doc_id, m.phrase_id
        )
        SELECT phrase,
               CAST(MAX(n_words) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MAX(score_milli) AS BIGINT) AS score_milli
        FROM scored GROUP BY phrase
        ORDER BY score_milli DESC, phrase
        LIMIT {topk}
    """


# ---------------------------------------------------------------------------
# Good-Turing / Chao1 vocabulary advisor (unseen-mass + species richness)
# ---------------------------------------------------------------------------


def good_turing_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unseen-vocabulary advisor from the frequency-of-frequencies: the
    Good-Turing estimate of the probability mass on tokens NEVER seen
    (``P0 = N1/N``, the leave-one-out classic) plus the bias-corrected
    Chao1 species-richness estimate of the TRUE vocabulary size
    (``V + N1*(N1-1)/(2*(N2+1))``, Chao 1984) — the pair that answers
    "how much of the long tail has this corpus not sampled yet", the
    go/no-go for freezing a tokenizer vocab on a growing crawl.

    One token-keyed partial-agg shuffle (the same vocab frame every other
    corpus stat pays), then a constant-size agg; output is ONE row.
    Integer throughout: permilles floor, Chao1's product is guarded by a
    DIVISION-form headroom check (N1 <= isqrt bound) so the multiply can
    never ANSI-overflow first. Reference parity: the reference has no
    corpus stats — this extends its aggregate stage (SURVEY.md §2.5) to
    the curation ops a training pipeline needs."""
    tok = df.select(F.explode(C.tokens(F.col(text_col))).alias("tok"))
    per_tok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    agg = per_tok.agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
         .cast("long").alias("n_singletons"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
         .cast("long").alias("n_doubletons"))
    n1, n2 = F.col("n_singletons"), F.col("n_doubletons")
    # n1*(n1-1) must stay in int64: n1 <= 3e9 (division-form bound; a
    # 100-TB crawl has ~1e9 singleton types — at the bound, shard first).
    n1_ok = F.when(n1 <= F.lit(3_000_000_000), n1).otherwise(
        F.raise_error(F.lit("good_turing_vocab: n_singletons beyond int64 "
                            "headroom; shard the corpus")))
    # chao1's n1*(n1-1) product reads the GUARDED column too: computing it
    # from raw n_singletons in the same projection could ANSI-overflow
    # before the curated raise_error fires (ADVICE r4).
    agg = agg.withColumn("n1_ok", n1_ok)
    unseen = C.permille(F.col("n1_ok"), F.col("n_tokens"))
    chao1 = (F.col("n_types")
             + F.expr("n1_ok * (n1_ok - 1) "
                      "DIV (2 * (n_doubletons + 1))")).cast("long")
    return agg.select(
        "n_tokens", "n_types", "n_singletons", "n_doubletons",
        unseen.alias("unseen_mass_permille"),
        (F.lit(1000) - unseen).cast("long").alias("coverage_permille"),
        chao1.alias("chao1_vocab"))


def sql_good_turing_vocab(table: str = "documents",
                          text_col: str = "text") -> str:
    tok = C.sql_tokens(text_col)
    return f"""
        WITH per_tok AS (
            SELECT t.tok, COUNT(*) AS freq
            FROM {table}, unnest({tok}) AS t(tok)
            GROUP BY t.tok
        ), agg AS (
            SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_singletons,
                   CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_doubletons
            FROM per_tok
        )
        SELECT n_tokens, n_types, n_singletons, n_doubletons,
               CAST(CASE WHEN n_tokens > 0
                         THEN n_singletons * 1000 // n_tokens
                         ELSE 0 END AS BIGINT) AS unseen_mass_permille,
               CAST(1000 - (CASE WHEN n_tokens > 0
                                 THEN n_singletons * 1000 // n_tokens
                                 ELSE 0 END) AS BIGINT)
                   AS coverage_permille,
               CAST(n_types + n_singletons * (n_singletons - 1)
                    // (2 * (n_doubletons + 1)) AS BIGINT) AS chao1_vocab
        FROM agg
    """


# ---------------------------------------------------------------------------
# Source concentration (HHI + effective source count)
# ---------------------------------------------------------------------------


def source_concentration(df: DataFrame, group_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """Corpus concentration audit: the Herfindahl-Hirschman index of
    per-source TOKEN shares (micro units: sum of squared permille shares,
    1e6 = single-source monoculture) and its inverse — the effective
    number of equally-sized sources (milli units) — plus the largest
    single source's share. The one-row dashboard that catches a crawl
    silently collapsing onto one domain before mixture weighting runs.

    One (source)-keyed partial agg (map-side combined; |sources| rows),
    then a constant-size agg. Shares floor to permille independently per
    source, so the HHI is exactly reproducible cross-engine."""
    per_src = (df.select(F.col(group_col).alias("src"),
                         F.size(C.tokens(F.col(text_col)))
                          .cast("long").alias("n_tok"))
               .groupBy("src").agg(F.sum("n_tok").alias("tok_s")))
    tot = per_src.agg(F.sum("tok_s").alias("t_total"))
    shared = per_src.crossJoin(F.broadcast(tot)).select(
        C.permille(F.col("tok_s"), F.col("t_total")).alias("share_pm"))
    agg = shared.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("share_pm") * F.col("share_pm"))
         .cast("long").alias("hhi_micro"),
        F.max("share_pm").cast("long").alias("top_share_permille"))
    return agg.select(
        "n_sources", "hhi_micro", "top_share_permille",
        F.when(F.col("hhi_micro") > 0,
               F.expr("1000000000 DIV hhi_micro"))
         .otherwise(0).cast("long").alias("eff_sources_milli"))


def sql_source_concentration(table: str = "documents",
                             group_col: str = "source",
                             text_col: str = "text") -> str:
    tok = C.sql_tokens(text_col)
    return f"""
        WITH per_src AS (
            SELECT {group_col} AS src,
                   SUM(len({tok})) AS tok_s
            FROM {table} GROUP BY {group_col}
        ), tot AS (SELECT SUM(tok_s) AS t_total FROM per_src),
        shared AS (
            SELECT CASE WHEN t.t_total > 0
                        THEN p.tok_s * 1000 // t.t_total
                        ELSE 0 END AS share_pm
            FROM per_src p, tot t
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(SUM(share_pm * share_pm) AS BIGINT) AS hhi_micro,
                   CAST(MAX(share_pm) AS BIGINT) AS top_share_permille
            FROM shared
        )
        SELECT n_sources, hhi_micro, top_share_permille,
               CAST(CASE WHEN hhi_micro > 0
                         THEN 1000000000 // hhi_micro
                         ELSE 0 END AS BIGINT) AS eff_sources_milli
        FROM agg
    """


# ---------------------------------------------------------------------------
# Neyman allocation (minimum-variance stratified sampling advisor)
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 1000
_NEYMAN_BOUND = 9_000_000_000_000_000_000


def neyman_allocation(df: DataFrame, group_col: str = "source",
                      size_col: str = "n_chars",
                      budget: int = NEYMAN_BUDGET) -> DataFrame:
    """Minimum-variance sample allocation across strata (Neyman 1934):
    give stratum h a share of the audit budget proportional to
    ``N_h · S_h`` (population size × within-stratum std-dev of the size
    column), against the naive proportional allocation shown alongside —
    the advisor for "we can hand-label B docs; how many from each
    source?" that beats proportional sampling exactly where sources have
    unequal spread.

    Integer throughout: population variance via the moment identity
    ``(N·Σx² − (Σx)²) / N²`` with a DIVISION-form int64 headroom guard,
    std-dev by exact :func:`common.isqrt`, allocations by integer DIV
    (floored, so Σ alloc ≤ budget — the remainder is the caller's
    tie-break). One (group)-keyed moment agg, |groups| output rows; at
    100 TB moments combine per-shard, nothing else moves."""
    g = (df.select(F.col(group_col).alias("stratum"),
                   F.col(size_col).cast("long").alias("x"))
         .groupBy("stratum")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("x").alias("sum_x"),
              F.sum(F.col("x") * F.col("x")).alias("sum_x2")))
    ok = F.expr(f"sum_x2 <= {_NEYMAN_BOUND} DIV GREATEST(n_docs, 1)")
    varnum = (F.when(ok, F.expr("n_docs * sum_x2 - sum_x * sum_x"))
              .otherwise(F.raise_error(F.lit(
                  "neyman_allocation: moments beyond int64 headroom; "
                  "pre-aggregate per shard"))))
    g = (g.withColumn("varnum", F.greatest(varnum, F.lit(0)))
          .withColumn("sd", C.isqrt(F.expr("varnum DIV (n_docs * n_docs)")))
          .withColumn("w", F.expr("n_docs * sd")))
    tot = g.agg(F.sum("w").alias("tot_w"),
                F.sum("n_docs").alias("tot_n"))
    out = g.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sd").cast("long").alias("sd_chars"),
        F.when(F.col("tot_w") > 0,
               F.expr(f"least({budget} * w DIV tot_w, n_docs)"))
         .otherwise(0).cast("long").alias("neyman_alloc"),
        F.when(F.col("tot_n") > 0,
               F.expr(f"least({budget} * n_docs DIV tot_n, n_docs)"))
         .otherwise(0).cast("long").alias("prop_alloc"))
    return out.orderBy("stratum")


def sql_neyman_allocation(table: str = "documents",
                          group_col: str = "source",
                          size_col: str = "n_chars",
                          budget: int = NEYMAN_BUDGET) -> str:
    isq = C.sql_isqrt("GREATEST(n_docs * sum_x2 - sum_x * sum_x, 0) "
                      "// (n_docs * n_docs)")
    return f"""
        WITH g AS (
            SELECT {group_col} AS stratum,
                   COUNT(*) AS n_docs,
                   SUM(CAST({size_col} AS BIGINT)) AS sum_x,
                   SUM(CAST({size_col} AS BIGINT)
                       * CAST({size_col} AS BIGINT)) AS sum_x2
            FROM {table} GROUP BY {group_col}
        ), s AS (
            SELECT stratum, n_docs, CAST({isq} AS BIGINT) AS sd
            FROM g
        ), w AS (
            SELECT stratum, n_docs, sd, n_docs * sd AS w FROM s
        ), tot AS (
            SELECT SUM(w) AS tot_w, SUM(n_docs) AS tot_n FROM w
        )
        SELECT w.stratum,
               CAST(w.n_docs AS BIGINT) AS n_docs,
               CAST(w.sd AS BIGINT) AS sd_chars,
               CAST(CASE WHEN t.tot_w > 0
                         THEN LEAST({budget} * w.w // t.tot_w, w.n_docs)
                         ELSE 0 END AS BIGINT) AS neyman_alloc,
               CAST(CASE WHEN t.tot_n > 0
                         THEN LEAST({budget} * w.n_docs // t.tot_n,
                                    w.n_docs)
                         ELSE 0 END AS BIGINT) AS prop_alloc
        FROM w, tot t
        ORDER BY w.stratum
    """


# ---------------------------------------------------------------------------
# Readability census (integer Flesch reading-ease bands)
# ---------------------------------------------------------------------------


def readability_census(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus readability histogram: per-document Flesch reading ease
    computed in MILLI units from integer counts (206835 − 1015·words/
    sentence − 84600·syllables/word, the 1948 formula ×1000), bucketed
    into the standard bands (90+ very-easy … <30 very-confusing, banded
    by score DIV 10000). Syllables use the deterministic vowel-group
    proxy (runs of [aeiouy], min 1 per word); sentences are [.!?]+
    boundaries, min 1 per doc. The curation screen for "is this source
    textbook prose or legalese" that needs no model and runs at scan
    speed — and its bands are stable under the proxy because every
    input to the formula is an exact count.

    Zero shuffles until the ~15-row histogram agg: counts are three
    regexp projections per row (JVM regexp, whole-stage codegen). The
    two quotients stay FLOAT on purpose (the repo's no-float-rescale
    rule targets >2^53 integers; here every numerator is < 1e9, exact
    in a double, and both engines evaluate the identical IEEE
    expression tree — int/int is double division in Spark and DuckDB
    alike — so the final FLOOR agrees bit-for-bit).
    """
    toks = C.tokens(F.col(text_col))
    words = F.greatest(F.size(toks), F.lit(1)).cast("long")
    # sentences: runs of terminators; min 1
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), 0)),
        F.lit(1)).cast("long")
    # syllable proxy: vowel-group count, floored at one per word
    vgroups = F.size(F.regexp_extract_all(F.lower(F.col(text_col)),
                                          F.lit(r"[aeiouy]+"), 0))
    syl = F.greatest(vgroups.cast("long"), words)
    score = (F.lit(206835)
             - F.lit(1015) * words / sents
             - F.lit(84600) * syl / words)
    per_doc = df.select(
        F.floor(score).cast("long").alias("flesch_milli"))
    band = F.expr("""CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
                          WHEN flesch_milli >= 70000 THEN 'easy'
                          WHEN flesch_milli >= 50000 THEN 'medium'
                          WHEN flesch_milli >= 30000 THEN 'hard'
                          ELSE 'very_confusing' END""")
    return (per_doc.groupBy(band.alias("band"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("flesch_milli").cast("long").alias("min_milli"),
                 F.max("flesch_milli").cast("long").alias("max_milli"))
            .orderBy("band"))


def sql_readability_census(table: str = "documents",
                           text_col: str = "text") -> str:
    tok = C.sql_tokens(text_col)
    return f"""
        WITH counts AS (
            SELECT GREATEST(len({tok}), 1) AS words,
                   GREATEST(len(regexp_extract_all({text_col},
                                                   '[.!?]+')), 1)
                       AS sents,
                   len(regexp_extract_all(lower({text_col}),
                                          '[aeiouy]+')) AS vgroups
            FROM {table}
        ), per_doc AS (
            SELECT CAST(FLOOR(206835
                        - 1015 * words / sents
                        - 84600 * GREATEST(vgroups, words) / words)
                        AS BIGINT) AS flesch_milli
            FROM counts
        )
        SELECT CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
                    WHEN flesch_milli >= 70000 THEN 'easy'
                    WHEN flesch_milli >= 50000 THEN 'medium'
                    WHEN flesch_milli >= 30000 THEN 'hard'
                    ELSE 'very_confusing' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(flesch_milli) AS BIGINT) AS min_milli,
               CAST(MAX(flesch_milli) AS BIGINT) AS max_milli
        FROM per_doc
        GROUP BY 1 ORDER BY 1
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "readability_census",
    """Integer Flesch reading-ease band histogram (vowel-group syllable
    proxy) — the no-model prose-vs-legalese curation screen.""",
    lambda spark, sf_dir: readability_census(docs(spark, sf_dir)),
    sql_readability_census)

register(
    "neyman_allocation",
    """Minimum-variance (Neyman) stratified sample allocation across
    sources vs proportional allocation — integer moments + exact isqrt.""",
    lambda spark, sf_dir: neyman_allocation(docs(spark, sf_dir)),
    sql_neyman_allocation)

register(
    "good_turing_vocab",
    """Good-Turing unseen-mass + bias-corrected Chao1 vocabulary-size
    estimate from the token frequency-of-frequencies (one row).""",
    lambda spark, sf_dir: good_turing_vocab(docs(spark, sf_dir)),
    sql_good_turing_vocab)

register(
    "source_concentration",
    """Herfindahl concentration of per-source token shares + effective
    source count — the corpus-monoculture dashboard (one row).""",
    lambda spark, sf_dir: source_concentration(docs(spark, sf_dir)),
    sql_source_concentration)

register(
    "bm25_topk_documents",
    """Integer BM25 top-10 for the fixed keyword query — rational IDF
    surrogate (no transcendentals), fixed-point k1/b, tf shuffle filtered
    to query terms pre-agg, TakeOrderedAndProject top-k.""",
    lambda spark, sf_dir: bm25_topk(docs(spark, sf_dir)),
    sql_bm25_topk)

register(
    "quality_calibration_documents",
    """Per-source quality mass across GLOBAL histogram deciles — drift
    monitor; the cumulative window runs over a bounded <=1001-row value
    histogram, never over docs.""",
    lambda spark, sf_dir: quality_calibration(docs(spark, sf_dir)),
    sql_quality_calibration)

register(
    "temperature_mixture_documents",
    """Temperature-scaled per-source sampling shares (T=1 / T=2 via exact
    integer sqrt / uniform) — the multilingual mixing knob.""",
    lambda spark, sf_dir: temperature_mixture(docs(spark, sf_dir)),
    sql_temperature_mixture)

register(
    "rouge_pairs_documents",
    """Clipped ROUGE-1/2 recall over deterministic (even, even+1) doc
    pairs — the summarization-eval primitive as a corpus op.""",
    lambda spark, sf_dir: rouge_pairs(docs(spark, sf_dir)),
    sql_rouge_pairs)

register(
    "rake_phrases_documents",
    """RAKE keyphrases with data-derived stoplist: degree/frequency word
    scores, top-20 phrases by summed integer score.""",
    lambda spark, sf_dir: rake_phrases(docs(spark, sf_dir)),
    sql_rake_phrases)

register(
    "watermark_bias_documents",
    """Statistical-watermark screen per source: green-list token share +
    integer chi-square score; one narrow hash pass, zero joins.""",
    lambda spark, sf_dir: watermark_bias(docs(spark, sf_dir)),
    sql_watermark_bias)

register(
    "len_quality_grid_documents",
    """Joint global length-decile × quality-decile histogram — the
    cut-line interaction grid; bounded value histograms broadcast back.""",
    lambda spark, sf_dir: len_quality_grid(docs(spark, sf_dir)),
    sql_len_quality_grid)

register(
    "bigram_coherence_documents",
    """Model-free fluency proxy: per-doc share of bigrams the rest of the
    corpus uses (df >= 5); hash-keyed vocab join, never broadcast.""",
    lambda spark, sf_dir: bigram_coherence(docs(spark, sf_dir)),
    sql_bigram_coherence)

register(
    "quality_vs_dup_documents",
    """Duplicate share per stopword-ratio decile — filter-ordering
    evidence (dedup before vs after the quality gate).""",
    lambda spark, sf_dir: quality_vs_dup(docs(spark, sf_dir)),
    sql_quality_vs_dup)

register(
    "pii_redact_events",
    """PII redaction transform: email → IP → digit-run masking chained so
    each stage counts replacements actually performed; pure JVM-side
    regexp projection, scan-speed at any corpus size.""",
    lambda spark, sf_dir: pii_redact(events(spark, sf_dir)),
    sql_pii_redact)

register(
    "token_tvd_sources",
    """Pairwise exact total-variation distance between source unigram
    distributions — inner-join-only closed form, no dense vocab grid.""",
    lambda spark, sf_dir: token_tvd_sources(docs(spark, sf_dir)),
    sql_token_tvd_sources)

register(
    "token_coverage_documents",
    """Token-weighted length quantiles: smallest length cutoff retaining
    each target permille of corpus tokens (max-seq-len curation stat).""",
    lambda spark, sf_dir: token_coverage_cutoff(docs(spark, sf_dir)),
    sql_token_coverage_cutoff)

register(
    "freq_spectrum_documents",
    "Type-frequency spectrum of the documents corpus (Zipf health).",
    lambda spark, sf_dir: freq_spectrum(docs(spark, sf_dir)),
    sql_freq_spectrum)

register(
    "sliding_hll_users_events",
    """Rolling 24h distinct-user gauge per hour from slid HLL registers
    (dense hour×register grid + range window — never rescans raw rows).""",
    lambda spark, sf_dir: sliding_hll_users(events(spark, sf_dir)),
    sql_sliding_hll_users)

register(
    "vocab_drift_documents",
    """Top token-rate movers between two deterministic corpus halves
    (the snapshot-drift freshness monitor).""",
    lambda spark, sf_dir: vocab_drift(docs(spark, sf_dir)),
    sql_vocab_drift)

register(
    "weighted_sample_documents",
    """Deterministic weighted bottom-k sample (integer Efraimidis-
    Spirakis rank keys — RNG-free, append-stable).""",
    lambda spark, sf_dir: weighted_sample(docs(spark, sf_dir)),
    sql_weighted_sample)

register(
    "curriculum_stages_documents",
    """Curriculum staging: TTR-difficulty value histogram cut into 5
    equal-population stages with per-stage doc/token accounting — stage
    assignment on the <= 1001-row histogram, no global sort.""",
    lambda spark, sf_dir: curriculum_stages(tbl(spark, sf_dir, "documents")),
    sql_curriculum_stages)

register(
    "judge_agreement_documents",
    """Cohen's kappa (permille, exact integer) between the stopword-rate
    and word-length quality judges — one scan to a 3x3 contingency grid,
    margins and kappa on the constant-size grid.""",
    lambda spark, sf_dir: judge_agreement(tbl(spark, sf_dir, "documents")),
    sql_judge_agreement)

register(
    "dataset_card_documents",
    """Per-source dataset-card row: docs/tokens/mean length/langs/exact
    dup rate/vocab size — the datasheet header block, two aggs over one
    projection.""",
    lambda spark, sf_dir: dataset_card(tbl(spark, sf_dir, "documents")),
    sql_dataset_card)

register(
    "fim_split_documents",
    """FIM preprocessing accounting: per-source prefix/middle/suffix
    token sums at deterministic h60 cut points; one scan, one agg.""",
    lambda spark, sf_dir: fim_split(tbl(spark, sf_dir, "documents")),
    sql_fim_split)

register(
    "scaling_budget_documents",
    """Chinchilla budget advisor: per model size, token budget,
    milli-epochs over this corpus, unique-token deficit.""",
    lambda spark, sf_dir: scaling_budget_advisor(
        tbl(spark, sf_dir, "documents")),
    sql_scaling_budget_advisor)

register(
    "epoch_shuffle_documents",
    """Data-loader reshuffle audit: cross-epoch same-shard rate vs
    chance + epoch-0 shard balance, salted h60 assignment.""",
    lambda spark, sf_dir: epoch_shuffle_audit(tbl(spark, sf_dir, "documents")),
    sql_epoch_shuffle_audit)

register(
    "padding_waste_documents",
    """Power-of-two length-bucket padding-waste table (dynamic-batching
    ladder audit); constant-size agg, bit-length bucketing.""",
    lambda spark, sf_dir: padding_waste(tbl(spark, sf_dir, "documents")),
    sql_padding_waste)

register(
    "order_fingerprint_documents",
    """Per-shard order-sensitive data-order checksum over the salted
    stream order — the loader's reproducibility receipt.""",
    lambda spark, sf_dir: data_order_fingerprint(
        tbl(spark, sf_dir, "documents")),
    sql_data_order_fingerprint)

register(
    "quality_score_documents",
    "Text quality features + keep/drop flag (pretraining filter).",
    lambda spark, sf_dir: quality_features(docs(spark, sf_dir)),
    sql_quality_features)

register(
    "lang_id_documents",
    "Stopword/CJK language-ID heuristic.",
    lambda spark, sf_dir: lang_id(docs(spark, sf_dir)),
    sql_lang_id)

register(
    "lang_id_confusion",
    """Confusion matrix of the lang-ID heuristic vs the gold lang label
    (diagonal row_permille = per-language recall).""",
    lambda spark, sf_dir: lang_id_confusion(docs(spark, sf_dir)),
    sql_lang_id_confusion)

register(
    "fingerprint_documents",
    "Normalized md5 + 60-bit document fingerprints.",
    lambda spark, sf_dir: fingerprint(docs(spark, sf_dir)),
    sql_fingerprint)

register(
    "split_documents",
    """Deterministic 80/10/10 train/val/test split by salted id hash —
    stable under corpus growth, shuffle-free (unlike randomSplit).""",
    lambda spark, sf_dir: split_assign(docs(spark, sf_dir)).select(
        "doc_id", "split_bucket", "split"),
    sql_split_assign)

register(
    "domain_cap_documents",
    """Per-source cap by salted-hash rank (domain mixing): deterministic
    uniform sample within each domain, one shuffle on source.""",
    lambda spark, sf_dir: domain_cap(docs(spark, sf_dir), cap=10).select(
        "doc_id", "source", "rk", "kept"),
    lambda: sql_domain_cap(cap=10))

register(
    "repetition_documents",
    "Gopher-style within-doc repetition: duplicate/top bigram permille.",
    lambda spark, sf_dir: repetition_signals(docs(spark, sf_dir)),
    sql_repetition_signals)

register(
    "vocab_stats_documents",
    "Per-source vocabulary stats: docs, tokens, vocab size, TTR permille.",
    lambda spark, sf_dir: vocab_stats(docs(spark, sf_dir)),
    sql_vocab_stats)

register(
    "pii_scan_events",
    "Per-event-type PII-class regex counts over the props payload.",
    lambda spark, sf_dir: pii_scan(events(spark, sf_dir)),
    sql_pii_scan)

register(
    "kmv_distinct_documents",
    "Per-source KMV distinct-token sketch vs exact, with error permille.",
    lambda spark, sf_dir: kmv_distinct(docs(spark, sf_dir)),
    sql_kmv_distinct)

register(
    "kmv_overlap_sources",
    """Pairwise source Jaccard from KMV union sketches (k longs per source
    shuffle, then driver-scale pair algebra) vs the exact baseline.""",
    lambda spark, sf_dir: kmv_overlap(docs(spark, sf_dir)),
    sql_kmv_overlap)

register(
    "top_terms_documents",
    "Per-source top-5 tokens: (group, token) partial agg + rank window.",
    lambda spark, sf_dir: top_terms_per_source(docs(spark, sf_dir)),
    sql_top_terms_per_source)

register(
    "hll_user_rollup_events",
    """HLL mergeability: hourly distinct-user registers MAXed up to daily
    estimates (sketches merged, never rebuilt from raw rows).""",
    lambda spark, sf_dir: hll_user_rollup(events(spark, sf_dir)),
    sql_hll_user_rollup)

register(
    "stratified_sample_documents",
    "Exact per-source quotas via hash-rank (RNG-free, unlike sampleBy).",
    lambda spark, sf_dir: stratified_sample(docs(spark, sf_dir)),
    sql_stratified_sample)

register(
    "token_rarity_documents",
    """Rare-token fraction per doc (corpus count <= 2): the gibberish/OCR
    screen; vocab-side join, shuffle carries (token, count) partials.""",
    lambda spark, sf_dir: token_rarity(docs(spark, sf_dir)),
    sql_token_rarity)

register(
    "normalize_documents",
    """Text-normalization audit: canonical form lengths, control-char count,
    changed flag, 60-bit hash of the normalized text (narrow, no shuffle).""",
    lambda spark, sf_dir: normalize_profile(docs(spark, sf_dir)),
    sql_normalize_profile)

register(
    "cooccur_topk_documents",
    """Windowed token co-occurrence: top-30 pairs within 3 tokens, with
    integer lift score — collocation mining, linear in corpus tokens.""",
    lambda spark, sf_dir: cooccur_topk(docs(spark, sf_dir)),
    sql_cooccur_topk)

register(
    "cms_heavy_hitters",
    """Count-min sketch (4x512, mergeable cells) probed for the exact top-20
    tokens; est >= exact by construction, overcount is the audit column.""",
    lambda spark, sf_dir: cms_heavy_hitters(docs(spark, sf_dir)),
    sql_cms_heavy_hitters)

register(
    "token_budget_documents",
    """Greedy per-source token-budget sampling in salted-hash order (the
    pretraining mixture op: hit a token target per domain, whole docs only,
    append-stable) — one shuffle on source + a per-group running sum.""",
    lambda spark, sf_dir: token_budget_sample(docs(spark, sf_dir)),
    sql_token_budget_sample)

register(
    "tfidf_topk_documents",
    """Per-doc top-3 keywords by integer TF-IDF (tf * 1e6 // df) — token
    shuffle join (vocab not broadcastable at corpus scale) + per-doc top-k
    window.""",
    lambda spark, sf_dir: tfidf_topk(docs(spark, sf_dir)),
    sql_tfidf_topk)

register(
    "source_overlap_documents",
    """Cross-source contamination matrix: distinct shared 8-gram shingles
    per source pair — join fan-out bounded by (#sources choose 2) per
    shingle, independent of corpus size.""",
    lambda spark, sf_dir: source_overlap(docs(spark, sf_dir)),
    sql_source_overlap)

register(
    "quality_sample_documents",
    """Quality-weighted deterministic subsampling: keep a doc iff
    h60(salt||id) % 1000 < alpha-token permille — the soft quality filter,
    RNG-free and append-stable; pure narrow projection, zero shuffle.""",
    lambda spark, sf_dir: quality_sample(docs(spark, sf_dir)),
    sql_quality_sample)

register(
    "keyword_search_documents",
    """Conjunctive keyword search (AND over the token set): distinct-token
    semi-join + count == k; the shuffle carries at most |docs|*k rows.""",
    lambda spark, sf_dir: keyword_search(docs(spark, sf_dir)),
    sql_keyword_search)

register(
    "mixture_weights_documents",
    """Data-mixing rates: per-source token shares vs hash-derived target
    weights -> clamped sampling permille; one hash agg + broadcast
    totals.""",
    lambda spark, sf_dir: mixture_weights(docs(spark, sf_dir)),
    sql_mixture_weights)

register(
    "bpe_pair_counts_documents",
    """BPE merge-step statistic: corpus-wide adjacent char-pair counts,
    narrow nested transform + hash agg + TakeOrderedAndProject top-20.""",
    lambda spark, sf_dir: bpe_pair_counts(docs(spark, sf_dir)),
    sql_bpe_pair_counts)

register(
    "hll_distinct_documents",
    """First-principles HyperLogLog distinct-token sketch per source: 64
    integer registers, fixed-point harmonic mean, linear-counting table —
    register MAX agg shuffles <= 64 rows per group.""",
    lambda spark, sf_dir: hll_distinct(docs(spark, sf_dir)),
    sql_hll_distinct)

register(
    "length_histogram_documents",
    """Per-source token-length histogram over power-of-2 buckets — one
    map-side-combined hash agg; buckets merge across shards.""",
    lambda spark, sf_dir: length_histogram(docs(spark, sf_dir)),
    sql_length_histogram)
