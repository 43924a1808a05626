"""Text-analysis operators for LLM-data pipelines — JVM-side expressions.

Everything here is built from ``pyspark.sql.functions`` (whole-stage
codegen, no Python in the hot path — the one deliberate exception is
``cdc_chunks``, whose rolling hash is a vectorized-numpy Arrow kernel
because the column-expression form paid an O(L·K) interpreted-lookup
constant) so it scales to 100 TB document sets:
tokenization, shingling, language-ID heuristics, quality scoring, token
counting and document fingerprinting.  Each has a matching duckdb-SQL
formulation in ``plans/pipeline.py`` for the oracle gate; md5 is used as
the portable deterministic hash (identical hex output in Spark and duckdb).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

TOKEN_RE = "[^a-z0-9]+"
PUNCT_RE = "[^a-zA-Z0-9\\s]"
WS_RE = "\\s+"

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic.  Deliberately small + deterministic: score = token matches with
# multiplicity, argmax with lexicographic tie-break.
LANG_LEXICON: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "auf"],
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "es": ["el", "los", "y", "es", "no", "por", "una", "para", "con", "se"],
    "fr": ["le", "les", "et", "est", "pas", "pour", "que", "une", "dans", "du"],
}

STOPWORDS = sorted({w for ws in LANG_LEXICON.values() for w in ws})


def _qcols(df: DataFrame) -> list[str]:
    """Backtick-quoted passthrough column names for selectExpr: a raw
    name like ``a-b`` would otherwise parse as SQL arithmetic (round-17
    review finding — the Column-API forms these selectExpr calls replaced
    accepted arbitrary names)."""
    return ["`" + c.replace("`", "``") + "`" for c in df.columns]


def _sql_re(pat: str) -> str:
    """Escape a regex for embedding in a SQL string literal (Spark parses
    backslash escapes inside quoted literals when
    escapedStringLiterals=false, the default)."""
    return pat.replace("\\", "\\\\").replace("'", "\\'")


def tokens_sql(col_expr: str) -> str:
    """SQL fragment: lowercased alnum tokens of ``col_expr`` (empty strings
    removed).  String form so callers can assemble ONE parsed expression —
    the lambda-built ``F.filter(F.split(...))`` tree costs dozens of py4j
    round trips per use (similarity.py's module-top note); this is the
    identical Catalyst tree from one ``F.expr``."""
    return f"filter(split(lower({col_expr}), '{_sql_re(TOKEN_RE)}'), x -> x != '')"


def word_shingles_sql(toks_expr: str, k: int = 3) -> str:
    """SQL fragment: distinct k-word shingles of a token-array expression
    (empty array if < k tokens).  The string twin of the former
    Column-lambda builder — same Catalyst functions."""
    return (
        f"CASE WHEN size({toks_expr}) >= {k} THEN "
        f"array_distinct(transform(sequence(0, size({toks_expr}) - {k}), "
        f"i -> concat_ws(' ', slice({toks_expr}, i + 1, {k})))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def tokens(col: Column | str) -> Column:
    """Lowercased alnum tokens (empty strings removed).  Accepts a column
    NAME (one parsed expression — preferred) or a Column."""
    if isinstance(col, str):
        return F.expr(tokens_sql(f"`{col}`"))
    return F.filter(F.split(F.lower(col), TOKEN_RE), lambda x: x != "")


_STOP_ARR_SQL = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace / alnum / punctuation token counts per row."""
    c = f"`{text_col}`"
    return df.selectExpr(
        *_qcols(df),
        f"CAST(size(filter(split({c}, '{_sql_re(WS_RE)}'), x -> x != '')) AS BIGINT) AS n_ws",
        f"CAST(size({tokens_sql(c)}) AS BIGINT) AS n_alnum",
        f"CAST(regexp_count({c}, '{_sql_re(PUNCT_RE)}') AS BIGINT) AS n_punct",
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword features + a linear quality score.

    Integer numerators are exact; ratios are single IEEE divisions and the
    score is a fixed-order linear combination, so the duckdb oracle matches
    bit-for-bit."""
    c = f"`{text_col}`"
    t = tokens_sql(c)
    out = df.selectExpr(
        *_qcols(df),
        f"CAST(length({c}) AS BIGINT) AS n_chars",
        f"CAST(size({t}) AS BIGINT) AS n_tok",
        f"CAST(aggregate(transform({t}, t -> length(t)), 0, (a, x) -> a + x) AS BIGINT)"
        " AS sum_tok_len",
        f"CAST(size(filter({t}, t -> array_contains({_STOP_ARR_SQL}, t))) AS BIGINT)"
        " AS n_stop",
        f"CAST(regexp_count({c}, '{_sql_re(PUNCT_RE)}') AS BIGINT) AS n_punct",
    )
    return out.selectExpr(
        *_qcols(out),
        "CASE WHEN n_tok > 0 THEN sum_tok_len / CAST(n_tok AS DOUBLE)"
        " ELSE 0.0D END AS avg_tok_len",
        "CASE WHEN n_tok > 0 THEN n_stop / CAST(n_tok AS DOUBLE)"
        " ELSE 0.0D END AS stop_ratio",
        "CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE)"
        " ELSE 0.0D END AS punct_ratio",
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-lexicon language ID; 'und' (undetermined) when no lexicon
    token matches; ties break to the lexicographically smallest language."""
    t = tokens_sql(f"`{text_col}`")

    def score(words):
        arr = ", ".join(f"'{w}'" for w in words)
        return f"size(filter({t}, t -> array_contains(array({arr}), t)))"

    scores = {lang: score(words) for lang, words in LANG_LEXICON.items()}
    langs = sorted(LANG_LEXICON)  # lexicographic order drives tie-break
    best = "greatest(" + ", ".join(scores[lg] for lg in langs) + ")"
    pred = "'und'"
    for lg in reversed(langs):
        pred = f"CASE WHEN {scores[lg]} = {best} THEN '{lg}' ELSE {pred} END"
    pred = f"CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END"
    return df.selectExpr(*_qcols(df), f"{pred} AS `{out_col}`")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two deterministic document fingerprints:

    * ``fp_md5`` — md5 of the whitespace-normalized token stream (robust to
      spacing/punctuation; the exact-dedup key for 'same content').
    * ``fp_minshingle`` — lexicographic min md5 over word-3-gram shingles,
      i.e. a 1-permutation MinHash sketch (cheap near-dup prefilter key).
    """
    # tokens staged as a projected column: inlined into the shingle
    # transform's lambda it would re-evaluate the split per shingle
    staged = df.selectExpr(
        *_qcols(df), f"{tokens_sql(f'`{text_col}`')} AS __ftok"
    )
    sh = word_shingles_sql("__ftok", 3)
    return staged.selectExpr(
        *_qcols(df),
        # concat_ws SKIPS null args, so a NULL text would silently
        # fingerprint as md5('') — pin NULL-in -> NULL-out instead;
        # genuinely empty content (0 tokens) still hashes md5('')
        f"CASE WHEN `{text_col}` IS NOT NULL THEN md5(concat_ws(' ', __ftok)) END"
        " AS fp_md5",
        f"CASE WHEN size({sh}) > 0 THEN array_min(transform({sh}, s -> md5(s)))"
        " ELSE CAST(NULL AS STRING) END AS fp_minshingle",
    )


def repetition_stats(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate k-gram
    occurrences per document (``1 - distinct/total``, 0.0 when fewer than
    ``k`` tokens).  Integer numerators, one IEEE division — oracle-exact."""
    # tokens staged as a projected column (see fingerprint: inlining into
    # the shingle lambda re-evaluates the split per shingle)
    staged = df.selectExpr(
        *_qcols(df), f"{tokens_sql(f'`{text_col}`')} AS __rtok"
    )
    out = staged.selectExpr(
        *_qcols(df),
        f"CAST(CASE WHEN size(__rtok) >= {k} THEN size(__rtok) - {k - 1}"
        " ELSE 0 END AS BIGINT) AS ngrams_total",
        f"CAST(size({word_shingles_sql('__rtok', k)}) AS BIGINT) AS ngrams_distinct",
    )
    return out.selectExpr(
        *_qcols(out),
        "CASE WHEN ngrams_total > 0 THEN (ngrams_total - ngrams_distinct)"
        " / CAST(ngrams_total AS DOUBLE) ELSE 0.0D END AS dup_ngram_ratio",
    )


# C4-style content-pattern + scrub regexes (pure column exprs, codegen'd),
# chosen for identical semantics in Java regex (Spark) and RE2 (duckdb):
# no backrefs, no lookaround.  ONE definition site — these exact strings
# are embedded verbatim in the duckdb oracles, so edits here change
# stored oracle hashes.  Known dialect edge, accepted and documented: \s
# includes \x0B (vertical tab) in Java but not RE2, so URL/whitespace
# matching diverges on \x0B-bearing text; the fixtures and the corpus
# contract carry none.
URL_RE = "https?://[^\\s]+"
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
DIGIT_RE = "[0-9]"


def pattern_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document counts of emails, URLs and digit characters plus the
    digit ratio — the C4-family content filters as plain column exprs."""
    c = f"`{text_col}`"
    out = df.selectExpr(
        *_qcols(df),
        f"CAST(regexp_count({c}, '{_sql_re(EMAIL_RE)}') AS BIGINT) AS n_emails",
        f"CAST(regexp_count({c}, '{_sql_re(URL_RE)}') AS BIGINT) AS n_urls",
        f"CAST(regexp_count({c}, '{_sql_re(DIGIT_RE)}') AS BIGINT) AS n_digits",
        f"CAST(length({c}) AS BIGINT) AS n_chars",
    )
    return out.selectExpr(
        *_qcols(out),
        "CASE WHEN n_chars > 0 THEN n_digits / CAST(n_chars AS DOUBLE)"
        " ELSE 0.0D END AS digit_ratio",
    )


# Composite document-quality gate thresholds (Gopher-rule family, tuned to
# the fixture corpus so both outcomes occur).  ONE definition site — the
# duckdb oracle embeds these exact literals, so edits change stored hashes.
QUALITY_MIN_TOKENS = 20
QUALITY_MAX_TOKENS = 100_000
QUALITY_MIN_AVG_TOK_LEN = 2.0
QUALITY_MAX_AVG_TOK_LEN = 12.0
QUALITY_MIN_STOPWORDS = 2
QUALITY_MAX_DUP_NGRAM = 0.3
QUALITY_MAX_DIGIT_RATIO = 0.2


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite Gopher/C4-style quality gate: evaluate the documented rule
    ladder per document and emit ``keep`` plus the FIRST failing rule name
    (``reason`` is NULL for keepers).  Rule order is part of the contract:

    1. ``too_few_tokens``      n_tok < QUALITY_MIN_TOKENS
    2. ``too_many_tokens``     n_tok > QUALITY_MAX_TOKENS
    3. ``avg_tok_len_range``   avg token length outside [2.0, 12.0]
    4. ``too_few_stopwords``   fewer than QUALITY_MIN_STOPWORDS stopword hits
    5. ``repetitive``          duplicate word-3-gram ratio > 0.3
    6. ``digit_heavy``         digit chars / chars > 0.2

    Every numerator is an exact integer; each ratio is one IEEE division
    and each threshold test is a single comparison, so the duckdb oracle
    matches bit-for-bit.  Pure codegen'd column exprs — at 100 TB this is
    a map-only pass that rides the scan (no shuffle, no Python)."""
    c = f"`{text_col}`"
    staged = df.selectExpr(*_qcols(df), f"{tokens_sql(c)} AS __qtok")
    k = 3
    counted = staged.selectExpr(
        *_qcols(df),
        "CAST(size(__qtok) AS BIGINT) AS n_tok",
        "CAST(aggregate(transform(__qtok, t -> length(t)), 0, (a, x) -> a + x)"
        " AS BIGINT) AS __sum_tok_len",
        f"CAST(size(filter(__qtok, t -> array_contains({_STOP_ARR_SQL}, t)))"
        " AS BIGINT) AS n_stop",
        f"CAST(CASE WHEN size(__qtok) >= {k} THEN size(__qtok) - {k - 1}"
        " ELSE 0 END AS BIGINT) AS __ng_total",
        f"CAST(size({word_shingles_sql('__qtok', k)}) AS BIGINT) AS __ng_distinct",
        f"CAST(coalesce(regexp_count({c}, '{_sql_re(DIGIT_RE)}'), 0) AS BIGINT)"
        " AS __n_digits",
        f"CAST(length({c}) AS BIGINT) AS __n_chars",
    )
    ratios = counted.selectExpr(
        *_qcols(df),
        "n_tok",
        "n_stop",
        "CASE WHEN n_tok > 0 THEN __sum_tok_len / CAST(n_tok AS DOUBLE)"
        " ELSE 0.0D END AS avg_tok_len",
        "CASE WHEN __ng_total > 0 THEN (__ng_total - __ng_distinct)"
        " / CAST(__ng_total AS DOUBLE) ELSE 0.0D END AS dup_ngram_ratio",
        "CASE WHEN __n_chars > 0 THEN __n_digits / CAST(__n_chars AS DOUBLE)"
        " ELSE 0.0D END AS digit_ratio",
    )
    reason = (
        f"CASE WHEN n_tok < {QUALITY_MIN_TOKENS} THEN 'too_few_tokens'"
        f" WHEN n_tok > {QUALITY_MAX_TOKENS} THEN 'too_many_tokens'"
        f" WHEN avg_tok_len < CAST('{QUALITY_MIN_AVG_TOK_LEN!r}' AS DOUBLE)"
        f" OR avg_tok_len > CAST('{QUALITY_MAX_AVG_TOK_LEN!r}' AS DOUBLE)"
        f" THEN 'avg_tok_len_range'"
        f" WHEN n_stop < {QUALITY_MIN_STOPWORDS} THEN 'too_few_stopwords'"
        f" WHEN dup_ngram_ratio > CAST('{QUALITY_MAX_DUP_NGRAM!r}' AS DOUBLE)"
        f" THEN 'repetitive'"
        f" WHEN digit_ratio > CAST('{QUALITY_MAX_DIGIT_RATIO!r}' AS DOUBLE)"
        f" THEN 'digit_heavy'"
        f" ELSE CAST(NULL AS STRING) END"
    )
    return ratios.selectExpr(
        *_qcols(ratios),
        f"{reason} AS reason",
        f"({reason}) IS NULL AS keep",
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_chars: int = 160,
    stride: int = 120,
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Sliding-window document chunking: split every document into
    ``chunk_chars``-char windows starting every ``stride`` chars
    (``chunk_chars - stride`` overlap) — the retrieval/embedding prep
    step.  A document fitting in one window yields exactly one chunk;
    the last window may be short, never empty.

    100 TB shape: pure column expressions + an ``explode(sequence(...))``
    fan-out that rides the scan — no shuffle, no UDF; output rows are
    proportional to total corpus length / stride.
    """
    if not 0 < stride <= chunk_chars:
        raise ValueError(f"need 0 < stride <= chunk_chars, got {stride}, {chunk_chars}")
    n = F.length(F.col(text_col))
    extra = F.when(n <= chunk_chars, F.lit(0)).otherwise(
        F.expr(f"(length({text_col}) - {chunk_chars} + {stride} - 1) div {stride}")
    )
    return (
        df.select(*id_cols, text_col)
        .withColumn("__extra", extra)
        .withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), F.col("__extra"))))
        .select(
            *id_cols,
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("bigint").alias("chunk_start"),
            F.expr(
                f"substring({text_col}, chunk_idx * {stride} + 1, {chunk_chars})"
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF *rank* — float-free.

    Classic tf*log(N/df) scoring only matters through the order it
    induces; for fixed N that order is exactly ``(tf DESC, df ASC)``
    term-by-term, so the ranking is computed directly on the two integers
    (lexicographic tie-break on the term makes it total).  Output:
    ``(id_col, term, tf, df, rnk)`` with ``rnk <= top_k``.

    100 TB shape: one shuffle on (doc, term) for TF, one on term for DF,
    a shuffled join back on term (document frequencies are unbounded —
    never broadcast by hint; AQE may still choose to for small corpora),
    and a per-document window for the top-k.  All integers, all JVM.
    """
    toks = df.selectExpr(
        f"`{id_col}` AS __id", f"{tokens_sql(f'`{text_col}`')} AS __t"
    )
    tf = (
        toks.select("__id", F.explode("__t").alias("term"))
        .groupBy("__id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("__id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfs, "term")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select(
            F.col("__id").alias(id_col),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# clean_text / pii_scrub reuse the module-level URL_RE / EMAIL_RE scrub
# patterns (single definition site above, next to pattern_counts).


def clean_text(df: DataFrame, text_col: str = "text", out_col: str = "clean") -> DataFrame:
    """C4-style scrub: count then strip URLs and e-mail addresses, collapse
    runs of whitespace, trim.  Case is preserved (cleaning, not
    normalization — `fingerprint` owns the normalized form).  Pure
    codegen'd column expressions; the scrub order (urls -> emails -> ws)
    is part of the contract so oracle twins replay it exactly."""
    c = f"`{text_col}`"
    url, email = _sql_re(URL_RE), _sql_re(EMAIL_RE)
    stripped = f"regexp_replace(regexp_replace({c}, '{url}', ' '), '{email}', ' ')"
    return df.selectExpr(
        *_qcols(df),
        f"CAST(regexp_count({c}, '{url}') AS BIGINT) AS n_urls",
        f"CAST(regexp_count({c}, '{email}') AS BIGINT) AS n_emails",
        f"trim(regexp_replace({stripped}, '{_sql_re(WS_RE)}', ' ')) AS `{out_col}`",
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
    out_col: str = "clean",
) -> DataFrame:
    """C4-style duplicate-SPAN removal across the whole corpus: chunk each
    document's token stream into consecutive ``span_tokens``-token spans,
    keep only the FIRST occurrence of every span corpus-wide (first =
    smallest (id, span index)), and reassemble each document from its
    surviving spans in order.  Catches boilerplate shared across documents
    at sub-document granularity — the C4 paper's three-sentence-span rule
    with a token-count span instead of sentences.

    Returns one row per input document: ``n_spans``, ``n_kept`` and the
    reassembled ``out_col`` (empty when every span was seen earlier).

    Scale shape: tokens are staged ONCE per doc (a transform lambda
    referencing a staged attribute — nested-lambda re-evaluation is the
    known Catalyst trap), spans explode to (id, idx, span) rows, the
    first-occurrence pass is ONE shuffle keyed on the span text (the spans
    ARE the payload, so this is the minimum possible wire volume) with a
    map-side-combined min(struct) winner per span, and
    reassembly is a map-side-combinable collect_list per doc."""
    k = int(span_tokens)
    base = df.selectExpr(
        f"`{id_col}`", f"{tokens_sql(f'`{text_col}`')} AS __toks"
    )
    spans_sql = (
        f"CASE WHEN size(__toks) = 0 THEN cast(array() AS array<string>) "
        f"ELSE transform(sequence(0, (size(__toks) + {k - 1}) div {k} - 1), "
        f"i -> array_join(slice(__toks, i * {k} + 1, {k}), ' ')) END"
    )
    spanned = base.select(id_col, F.expr(spans_sql).alias("__spans"))
    ex = spanned.select(
        id_col, F.posexplode("__spans").alias("idx", "span")
    )
    # first occurrence = min (id, idx) struct per span — a map-side-combined
    # aggregate, NOT a row_number window: a boilerplate span repeated in
    # millions of documents combines locally instead of funnelling every
    # duplicate row through one window task.  The winner's coordinates come
    # straight out of the min struct, so no join-back is needed.
    surv = (
        ex.groupBy("span")
        .agg(F.min(F.struct(id_col, "idx")).alias("__w"))
        .select(
            F.col(f"__w.{id_col}").alias(id_col),
            F.col("__w.idx").alias("idx"),
            "span",
        )
    )
    agg = surv.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias(out_col),
    )
    return (
        spanned.select(id_col, F.size("__spans").cast("bigint").alias("n_spans"))
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )


# PII scrub patterns — Java-regex/RE2 common subset (no lookaround, no
# backrefs; \b and {n} quantifiers behave identically for ASCII on both
# engines).  Dict order IS the application order and part of the contract
# (ssn -> phone -> ip -> email) so oracle twins replay the same rewrites:
# counts are taken on the ORIGINAL text, replacements compose in order.
PII_PATTERNS: dict[str, str] = {
    "ssn": "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone": "(\\(\\d{3}\\) |\\b\\d{3}[-.])\\d{3}[-.]\\d{4}\\b",
    "ip": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "email": EMAIL_RE,
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII detection + redaction: count each pattern class on the original
    text, then replace matches with ``<LABEL>`` placeholders, applying the
    classes in dict order.  The redaction pass every responsibly-built
    training corpus needs before tokenization (the reference has no text
    surface at all — north-star pipeline scope).

    Pure codegen'd column expressions (``regexp_count`` /
    ``regexp_replace``): scan-parallel, no shuffle, no Python in the hot
    path — safe at 100 TB by construction."""
    pats = patterns if patterns is not None else PII_PATTERNS
    c = f"`{text_col}`"
    # labels are caller-supplied: escape them for both the alias
    # (backticks) and the replacement string literal (quotes/backslashes)
    counts = [
        f"CAST(regexp_count({c}, '{_sql_re(p)}') AS BIGINT)"
        f" AS `{('n_' + label).replace('`', '``')}`"
        for label, p in pats.items()
    ]
    scrub = c
    for label, p in pats.items():
        scrub = (
            f"regexp_replace({scrub}, '{_sql_re(p)}',"
            f" '{_sql_re('<' + label.upper() + '>')}')"
        )
    return df.selectExpr(*_qcols(df), *counts, f"{scrub} AS `{out_col}`")


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 4, w: int = 4, out_col: str = "fps"
) -> DataFrame:
    """MOSS-style winnowing fingerprints: md5 each k-token gram, slide a
    w-hash window, keep each window's minimum hash, distinct the result.

    Guarantees (Schleimer/Wilkerson/Aiken): any shared token run of at
    least k + w - 1 tokens contributes at least one IDENTICAL fingerprint
    to both documents — so winnowed sets catch PARTIAL overlap (a copied
    paragraph inside an otherwise-different doc) that whole-document
    MinHash signatures dilute away, at ~1/w the index size of the full
    k-gram set.

    Implementation note: this is deliberately an Arrow-batched
    ``mapInPandas``, not nested ``transform()`` expressions — Catalyst
    inlines array subexpressions referenced from a higher-order-function
    lambda and re-evaluates them per outer element (no CSE across lambda
    scopes), which makes the nested gram→window form quadratic per row
    (measured ~600x slower than this on the fixture corpus).  md5 keeps
    the fingerprints portable, so the duckdb oracle replays them exactly;
    the token regex matches :func:`tokens` (split ``[^a-z0-9]+`` of the
    lowercased text, empties dropped)."""
    import hashlib
    import re as _re

    from collections.abc import Iterator as _Iterator

    import pandas as _pd

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    tok_re = _re.compile(TOKEN_RE)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(StringType()))]
    )

    def fn(batches: "_Iterator[_pd.DataFrame]") -> "_Iterator[_pd.DataFrame]":
        for pdf in batches:
            fps_col = []
            for t in pdf[text_col]:
                toks = [x for x in tok_re.split((t or "").lower()) if x]
                if len(toks) < k + w - 1:
                    fps_col.append([])
                    continue
                grams = [
                    hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
                    for i in range(len(toks) - k + 1)
                ]
                fps = {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
                fps_col.append(sorted(fps))
            pdf = pdf.copy()
            pdf[out_col] = fps_col
            yield pdf

    return df.mapInPandas(fn, schema=schema)


# URL canonicalization: ONE ordered regexp chain, single definition site —
# the duckdb oracle embeds these exact steps, and each pattern is chosen
# for identical Java-regex (Spark) / RE2 (duckdb) semantics: no
# lookaround, no backrefs, anchors only at whole-string ends.  End anchors
# are \z, not $: Java's default-mode $ also matches BEFORE a trailing
# newline while RE2's does not, so '$' would canonicalize a
# newline-terminated crawl URL differently per engine; \z means
# end-of-input in both.
# Simplification, documented as the operator contract: tracking params are
# stripped only as a WHOLE query string made of known tracker keys
# (utm_*/fbclid/gclid) — a tracker mixed into a meaningful query string is
# preserved rather than risk dropping real parameters.
_URL_CANON_STEPS: list[tuple[str, str]] = [
    ("^https?://", ""),          # scheme
    ("^www\\.", ""),             # canonical host alias
    ("#[^#]*\\z", ""),           # fragment
    ("\\?(utm_[a-z_]+|fbclid|gclid)=[^&#]*(&(utm_[a-z_]+|fbclid|gclid)=[^&#]*)*\\z", ""),
    ("/\\z", ""),                # trailing slash
]


def canonical_url(col: Column) -> Column:
    """Canonical form of a URL for frontier/content dedup: lowercase, drop
    scheme, leading ``www.``, fragment, all-tracker query strings, and the
    trailing slash — so ``https://WWW.A.com/p/?utm_source=x#top`` and
    ``http://a.com/p`` collapse to the same key.  Pure codegen'd
    regexp_replace chain (order is part of the contract)."""
    out = F.lower(col)
    for pat, rep in _URL_CANON_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def url_canon_sql(expr: str) -> str:
    """The duckdb twin of :func:`canonical_url` over a SQL expression."""
    out = f"lower({expr})"
    for pat, rep in _URL_CANON_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}')"
    return out


def bpe_pair_counts(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """One BPE merge iteration over the corpus vocabulary (Sennrich et
    al.'s byte-pair encoding, the standard subword-tokenizer construction
    step): count adjacent character pairs inside each vocabulary word,
    weighted by the word's corpus frequency, and return the top-``k``
    merge candidates ``(pair, cnt, rnk)``.

    Scale shape: the token explode partially aggregates map-side into the
    vocabulary (distinct words — the ONLY shuffle whose size tracks the
    corpus, and it shrinks to |vocab|); pair generation then runs over
    vocabulary rows (len(word) - 1 pairs each, pure column expressions),
    a second |pairs|-sized partial agg sums frequencies, and the top-k is
    ORDER BY + LIMIT (TakeOrderedAndProject, map-side partial top-k — no
    global sort); the rank window runs over k rows.  A full BPE trainer
    iterates this with the winning pair merged into the vocab — that loop
    is driver-side orchestration of this exact plan."""
    t = df.selectExpr(f"explode({tokens_sql(f'`{text_col}`')}) AS w")
    vocab = t.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # guard single-char words: Spark's sequence(1, 0) yields [1, 0]
    # (descending), not the empty range DuckDB produces — without the
    # CASE a 1-char vocab word fabricates phantom pairs ('a ' / 'a a')
    prs = vocab.select(
        "freq",
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN"
                "  transform(sequence(1, length(w) - 1),"
                "            i -> concat(substr(w, i, 1), ' ', substr(w, i + 1, 1)))"
                " ELSE array() END"
            )
        ).alias("pair"),
    )
    agg = prs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    top = agg.orderBy(F.col("cnt").desc(), "pair").limit(k)
    w_rnk = Window.orderBy(F.col("cnt").desc(), "pair")
    return top.withColumn("rnk", F.row_number().over(w_rnk)).select(
        "pair", F.col("cnt").cast("bigint").alias("cnt"),
        F.col("rnk").cast("bigint").alias("rnk"),
    )


def _bpe_merge_word(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of the adjacent symbol
    pair ``(a, b)`` inside one word's symbol array — the BPE apply step.

    Expressed as a single-string FOLD whose accumulator is the merged
    prefix space-joined (symbols are alnum by tokenization, so the space
    is a safe separator and the last token is recoverable by suffix
    test): for each next symbol x, if the accumulated last token is ``a``
    and ``x == b``, replace that last token with ``a||b``; else append
    x.  A freshly merged ``a||b`` token never re-merges as the left side
    (it differs from ``a`` since ``b`` is non-empty), which is exactly
    the non-overlap rule.  The same fold runs verbatim in DuckDB's
    ``list_reduce`` (which seeds the accumulator with the first element,
    matching the ``slice``+init shape here), so the merge SEQUENCE is
    engine-exact — a global regexp_replace is NOT equivalent (its match
    resumption skips back-to-back occurrences: 6x'a' under (a,a) gives
    [aa,a,aa,a] instead of greedy [aa,aa,aa])."""
    init = F.element_at(syms, 1)
    rest = F.slice(syms, 2, F.size(syms) - 1)

    def step(acc: Column, x: Column) -> Column:
        hit = ((acc == F.lit(a)) | acc.endswith(F.lit(" " + a))) & (x == F.lit(b))
        merged = F.concat(
            F.substr(acc, F.lit(1), F.length(acc) - F.lit(len(a))), F.lit(a + b)
        )
        return F.when(hit, merged).otherwise(F.concat(acc, F.lit(" "), x))

    return F.split(F.aggregate(rest, init, step), " ")


_BPE_PAIRS = (
    "CASE WHEN size(syms) >= 2 THEN"
    "  transform(sequence(1, size(syms) - 1),"
    "            i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"
    " ELSE array() END"
)


def bpe_train(df: DataFrame, text_col: str = "text", k: int = 8) -> DataFrame:
    """Train ``k`` BPE merges over the corpus vocabulary (Sennrich et al.:
    iterate argmax-pair + merge) and return the exact merge sequence
    ``(rnk, pair, cnt)`` — the tokenizer-prep loop that
    :func:`bpe_pair_counts` runs one step of.

    Scale shape: the ONLY corpus-sized stage is the initial token explode
    (map-side partial agg into |vocab|); every iteration then runs over
    vocabulary rows — a |pairs| partial agg, a TakeOrderedAndProject
    argmax (1 row to the driver: merges are inherently sequential, the
    loop is driver orchestration of k tiny plans), and a pure
    column-expression merge fold.  The vocabulary is localCheckpoint-ed
    per round (the pagerank/connected-components lineage-truncation
    discipline) with superseded checkpoints freed, so storage is O(1) in
    ``k``.  Arithmetic is integer counts with (cnt DESC, pair ASC)
    tie-breaking, so the merge sequence is deterministic and an
    unrolled-CTE DuckDB oracle hash-gates it exactly."""
    merges, _last = _bpe_loop(df, text_col, k, carry_word=False, apply_last=False)
    from .caching import release_local_checkpoint as _release_ckpt

    _release_ckpt(_last)
    return df.sparkSession.createDataFrame(
        merges, schema="rnk bigint, pair string, cnt bigint"
    )


def _bpe_loop(
    df: DataFrame, text_col: str, k: int, carry_word: bool, apply_last: bool
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Shared BPE training loop: returns (merge sequence, final vocabulary
    state).  ``carry_word`` keeps the source word alongside the symbol
    array (the encoder needs the word->symbols mapping; training doesn't);
    ``apply_last`` applies the k-th merge too (training only records it).
    The vocabulary is localCheckpoint-ed per round — one merge fold per
    materialization, NEVER chained as expressions: each
    :func:`_bpe_merge_word` references its input 3x, so k chained folds
    would grow the expression tree 3^k-fold (the connected-components
    lineage-truncation lesson, in expression space).  The caller owns
    releasing the returned state's checkpoint."""
    from .caching import checkpoint_rotate as _ckpt_rotate

    t = df.selectExpr(f"explode({tokens_sql(f'`{text_col}`')}) AS w")
    vocab = t.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    chars = F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))")
    cols = ["w"] if carry_word else []
    cur = vocab.select(*cols, "freq", chars.alias("syms")).localCheckpoint(eager=True)
    prev = cur
    merges: list[tuple[int, str, int]] = []
    for rnk in range(1, k + 1):
        top = (
            cur.select("freq", F.explode(F.expr(_BPE_PAIRS)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .first()
        )
        if top is None:
            break
        merges.append((rnk, top["pair"], int(top["cnt"])))
        if rnk == k and not apply_last:
            break  # the k-th merge is recorded; applying it has no reader
        a, b = top["pair"].split(" ")
        cur = prev = _ckpt_rotate(
            cur.select(
                *cols, "freq", _bpe_merge_word(F.col("syms"), a, b).alias("syms")
            ),
            prev,
        )
    return merges, cur


def bpe_encode_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Encode the corpus with a freshly trained ``k``-merge BPE vocabulary
    (the tokenizer APPLY step completing :func:`bpe_train`) and return
    per-document compression stats ``(id_col, n_words, n_chars,
    n_subwords)`` — the signal a pipeline uses to budget sequence
    lengths and spot pathological documents (n_subwords/n_chars near 1
    means the vocabulary never fires, i.e. out-of-domain text).
    Documents with zero alnum tokens produce no row (engine policy: the
    encoder's domain is the token stream).

    Scale shape: the merge FOLD — the only non-trivial compute — runs
    over the **vocabulary** (distinct words), never the corpus: the
    shared :func:`_bpe_loop` applies one fold per localCheckpoint-ed
    round over |vocab| rows (chaining them as expressions would grow the
    tree 3^k-fold), and the encoded word lengths join back into the
    corpus-sized token stream (unhinted: AQE picks a broadcast join
    while the vocabulary fits an executor — always at test scale — and
    degrades to a shuffle join only when Heaps'-law growth outruns it)
    for one map-side-partial per-doc aggregation.  The final vocabulary
    checkpoint backs the returned plan (one live |vocab|-row block; the
    per-round rotation frees every superseded one).  All-bigint
    output; no float discipline needed.  Unlike :func:`bpe_train` (which
    records but never applies its k-th merge), encoding applies ALL k
    trained merges."""
    _, state = _bpe_loop(df, text_col, k, carry_word=True, apply_last=True)
    enc = state.select("w", F.size("syms").cast("bigint").alias("__n_sub"))
    toks = df.selectExpr(
        f"`{id_col}`", f"explode({tokens_sql(f'`{text_col}`')}) AS w"
    )
    return (
        toks.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("__n_sub").cast("bigint").alias("n_subwords"),
        )
    )


def pmi_top_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_top: int = 40,
    k: int = 25,
) -> DataFrame:
    """Top-``k`` document-level PMI pairs over the ``vocab_top``
    highest-document-frequency terms: pmi(a,b) = ln(c_ab * N / (df_a *
    df_b)) with document-level (distinct-term) counts — the classic
    collocation / topic-coherence signal a pipeline mines for phrase
    vocabularies and prompt-leak detection.

    Scale shape: the vocabulary restriction is the point — per-doc pair
    explosion is bounded by ``vocab_top``² (not doc length²).  The
    top-df vocabulary comes from ORDER BY + LIMIT over the df aggregate
    (TakeOrderedAndProject) and is broadcast into the probe join; pairs
    are generated per doc from the sorted in-doc term array (pure
    ``transform``/``flatten`` expressions, no self-join of the exploded
    table); counts are map-side partial aggs.  Cross-engine float
    discipline: ranking on round(pmi*1e6), pmi emitted at 6 dp."""
    t = df.selectExpr(
        f"`{id_col}`", f"array_distinct({tokens_sql(f'`{text_col}`')}) AS toks"
    )
    t = t.where(F.size("toks") > 0)
    e = t.select(id_col, F.explode("toks").alias("term"))
    dfc = e.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = dfc.orderBy(F.col("df").desc(), "term").limit(vocab_top)
    ef = e.join(F.broadcast(top.select("term", "df")), "term")
    n = t.agg(F.count(F.lit(1)).alias("n_docs"))
    # per-doc sorted frequent-term array -> all a<b pairs, JVM-side
    doc_terms = ef.groupBy(id_col).agg(
        F.array_sort(F.collect_list("term")).alias("ts")
    )
    pairs = doc_terms.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (x, i) ->"
                "  transform(slice(ts, i + 2, size(ts)), y -> struct(x AS w1, y AS w2))))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cab = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cab"))
    d1 = top.select(F.col("term").alias("w1"), F.col("df").alias("df1"))
    d2 = top.select(F.col("term").alias("w2"), F.col("df").alias("df2"))
    sc = (
        cab.join(F.broadcast(d1), "w1")
        .join(F.broadcast(d2), "w2")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi",
            F.log(F.col("cab") * F.lit(1.0) * F.col("n_docs") / (F.col("df1") * F.col("df2"))),
        )
    )
    qkey = F.round(F.col("pmi") * F.lit(1000000.0))
    topk = sc.orderBy(qkey.desc(), "w1", "w2").limit(k)
    w_rnk = Window.orderBy(qkey.desc(), "w1", "w2")
    return topk.withColumn("rnk", F.row_number().over(w_rnk)).select(
        "w1", "w2", F.col("cab").cast("bigint").alias("cab"),
        F.round(F.col("pmi"), 6).alias("pmi_r"),
        F.col("rnk").cast("bigint").alias("rnk"),
    )


CDC_K = 8  # rolling-hash window (chars)
CDC_BASE = 31
CDC_DIVISOR = 64  # expected chunk length ~ divisor chars


def cdc_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC idea): cut each
    document where the rolling hash of the trailing ``CDC_K``-char window
    hits ``0 mod CDC_DIVISOR``, so chunk boundaries follow CONTENT, not
    offsets — an insertion early in a document shifts every fixed-size
    block but leaves all content-defined chunks after the next boundary
    intact.  That re-alignment is what makes chunk-hash dedup robust to
    edits, the storage/dataset-dedup trick fixed blocks can't do.

    Returns one row per chunk occurrence: ``(id, chunk_idx, start_pos,
    chunk_len, chunk_md5)``.  Everything is integer/string-exact (the
    polynomial hash is plain int64 arithmetic, no float anywhere).

    The rolling hash is a vectorized numpy ``mapInPandas`` kernel: the
    document decodes once to a codepoint array (``utf-32-le`` →
    ``uint32``, exactly DuckDB's ``ascii(substr(t, i, 1))``), and the
    full hash vector is CDC_K shifted-slice multiply-adds over that
    array — O(L·K/SIMD), ~10× cheaper than the previous per-position
    column-expression recompute (8 interpreted ``element_at`` lookups
    per character, the suite's worst constant factor in round 7).  Still
    map-only per-document work riding the scan partitions — no shuffle,
    no join; the Python hop is Arrow-batched, and max hash value
    127·Σ31^j ≈ 3.6e12 fits int64 with 5 decades of headroom.
    Documents shorter than the window form a single chunk; empty
    documents yield no rows."""
    import numpy as np
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("chunk_idx", T.LongType()),
            T.StructField("start_pos", T.LongType()),
            T.StructField("chunk_len", T.LongType()),
            T.StructField("chunk_md5", T.StringType()),
        ]
    )
    powers = np.array([CDC_BASE**e for e in range(CDC_K - 1, -1, -1)], dtype=np.int64)
    k, div, ic, tc = CDC_K, CDC_DIVISOR, id_col, text_col

    def kernel(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids: list = []
            cis: list[int] = []
            starts: list[int] = []
            lens: list[int] = []
            md5s: list[str] = []
            for did, s in zip(pdf[ic].tolist(), pdf[tc].tolist()):
                if not s:
                    continue
                length = len(s)
                if length >= k:
                    codes = np.frombuffer(
                        s.encode("utf-32-le"), dtype="<u4"
                    ).astype(np.int64)
                    h = codes[0 : length - k + 1] * powers[0]
                    for j in range(1, k):
                        h += codes[j : length - k + 1 + j] * powers[j]
                    raw = np.flatnonzero(h % div == 0) + k  # 1-based cut pos
                    cuts = raw[raw < length].tolist()
                else:
                    cuts = []
                cuts.append(length)
                prev = 0
                for ci, e in enumerate(cuts, start=1):
                    ids.append(did)
                    cis.append(ci)
                    starts.append(prev + 1)
                    lens.append(e - prev)
                    md5s.append(hashlib.md5(s[prev:e].encode("utf-8")).hexdigest())
                    prev = e
            if ids:
                yield pd.DataFrame(
                    {
                        ic: ids,
                        "chunk_idx": cis,
                        "start_pos": starts,
                        "chunk_len": lens,
                        "chunk_md5": md5s,
                    }
                )

    src = df.where(F.col(text_col).isNotNull() & (F.length(text_col) >= 1)).select(
        id_col, text_col
    )
    return src.mapInPandas(kernel, out_schema)


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of each document's lowercased character
    distribution — the classic gibberish/boilerplate detector (encrypted
    or base64 blobs score near ln(alphabet); single-char spam scores near
    0; natural language sits in a narrow band).  Returns ``(id,
    distinct_chars, n_chars, entropy_r)`` with entropy at 6 dp.

    Scale shape: char explode -> (id, char) partial-agg counts (the only
    corpus-sized shuffle, and map-side combine collapses it to at most
    |alphabet| rows per doc per task), then a per-doc aggregate over
    <= |alphabet| rows.  The entropy sum's float order is absorbed by the
    6-dp contract (same discipline as the bigram-LM scorer).  Empty
    documents are excluded."""
    d0 = df.where(F.length(text_col) > 0).select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__t")
    )
    ch = d0.select(
        id_col,
        F.explode(
            F.expr("transform(sequence(1, length(__t)), i -> substr(__t, i, 1))")
        ).alias("__c"),
    )
    cnt = ch.groupBy(id_col, "__c").agg(F.count(F.lit(1)).alias("__n"))
    tot = cnt.groupBy(id_col).agg(
        F.sum("__n").alias("__nt"), F.count(F.lit(1)).alias("__k")
    )
    p = F.col("__n") / F.col("__nt").cast("double")
    return (
        cnt.join(tot, id_col)
        .groupBy(id_col)
        .agg(
            F.max("__k").alias("distinct_chars"),
            F.max("__nt").alias("n_chars"),
            # abs(): a single-distinct-char doc sums to exactly 0 and the
            # negation would emit -0.0 on engines that keep the sign
            # (DuckDB does; Spark round normalizes) — entropy is >= 0 by
            # definition, so abs pins +0.0 on BOTH sides
            F.abs(F.round(-F.sum(p * F.log(p)), 6)).alias("entropy_r"),
        )
    )


# --------------------------------------------------------------------------
# HTML -> text (the WET-extraction step after the WARC response split)
# --------------------------------------------------------------------------

_HTML_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})
_HTML_BLOCK_TAGS = frozenset(
    "p div br li ul ol h1 h2 h3 h4 h5 h6 tr table section article header "
    "footer blockquote pre hr dd dt figure figcaption aside nav main "
    "form fieldset address".split()
)


from html.parser import HTMLParser as _HTMLParser  # noqa: E402  (stdlib)


class _HtmlTextExtractor(_HTMLParser):
    """Module-level so :func:`html_to_text` doesn't rebuild the class per
    document on the mapInPandas hot path (round-12 review finding)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag, attrs):
        if tag in _HTML_SKIP_TAGS:
            self._skip += 1
        elif tag in _HTML_BLOCK_TAGS:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _HTML_SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in _HTML_BLOCK_TAGS:
            self.parts.append("\n")

    def handle_data(self, data):
        if not self._skip:
            self.parts.append(data)


def html_to_text(html: str) -> str:
    """Visible text of an HTML document via the stdlib parser: content of
    ``script``/``style``/``noscript``/``template`` is suppressed, block
    elements break lines, character references decode
    (``convert_charrefs``), comments/PIs/attributes are dropped, runs of
    whitespace collapse (newlines preserved as single breaks).  The
    stdlib parser is deliberately lenient about malformed markup —
    crawl HTML is malformed HTML; leniency here mirrors what browsers
    and production extractors do, while the WARC/HTTP layers below it
    stay strict about FRAMING."""
    ex = _HtmlTextExtractor()
    ex.feed(html)
    ex.close()
    raw = "".join(ex.parts)
    lines = [" ".join(ln.split()) for ln in raw.split("\n")]
    out: list[str] = []
    for ln in lines:
        if ln:
            out.append(ln)
    return "\n".join(out)


def extract_html_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Arrow-batched HTML text extraction over ``mapInPandas`` (the same
    distributed shape as the codec decodes — per-document parsing is
    irreducibly per-row Python; everything before and after stays
    JVM-side).  All input columns pass through, ``out_col`` is
    appended."""
    from pyspark.sql.types import StringType, StructField, StructType

    # StructType.add mutates in place — build a fresh copy
    schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType())])

    def fn(batches):
        for pdf in batches:
            pdf[out_col] = pdf[html_col].map(
                lambda h: html_to_text(h) if h is not None else None
            )
            yield pdf

    return df.mapInPandas(fn, schema=schema)
