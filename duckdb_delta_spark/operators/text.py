"""Text analysis: tokenization, language ID, quality scoring, fingerprinting.

Designed for 100 TB document corpora: all expressions are built-in Spark SQL
functions (whole-stage codegen, no Python in the hot path); every operator
is embarrassingly parallel over rows (no shuffle at all) except explicit
aggregations.

The constants (stopword lists, regexes) are shared with the DuckDB oracle
generator so both engines compute the identical deterministic function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from duckdb_delta_spark.operators.exprlit import lit_strings

#: token splitter shared with the oracle (duckdb regexp_split_to_array)
TOKEN_SPLIT_RE = r"\s+"

#: tiny embedded stopword lists — deterministic language-ID heuristic.
#: (A real pipeline swaps in fastText/cld3; the *operator shape* — per-row
#: scoring + argmax, zero shuffle — is what scales.)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for",
           "on", "with", "as", "this", "was"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "mit", "den",
           "nicht", "ein", "eine", "auf", "für", "im"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "los",
           "se", "del", "las", "por", "con"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est", "du",
           "en", "que", "pour", "dans", "sur"),
}

#: quality-score weights (shared with oracle)
QUALITY_MIN_TOKENS = 5
QUALITY_MAX_MEAN_TOKEN_LEN = 12.0


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empty strings removed."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != "")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens, n_distinct_tokens, mean_token_len — the token-counting
    primitive of a data pipeline (BPE-ish counts derive from the same shape)."""
    t = tokens(F.col(text_col))
    return (
        df.withColumn("__toks", t)
        .withColumn("n_tokens", F.size("__toks").cast("long"))
        .withColumn(
            "n_distinct_tokens", F.size(F.array_distinct("__toks")).cast("long")
        )
        .withColumn(
            "mean_token_len",
            F.round(
                F.aggregate(
                    "__toks", F.lit(0.0), lambda acc, x: acc + F.length(x)
                )
                / F.greatest(F.size("__toks"), F.lit(1)),
                4,
            ),
        )
        .drop("__toks")
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", k: int = 5,
    id_col: str = "doc_id", n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the keyword-extraction
    primitive behind topic filtering, domain balancing and index-time
    keyword fields in a training-data pipeline.

    score(term, doc) = tf · ln(N / df), tie-broken by term so the
    selection is deterministic. 100-TB shape: one (doc, term) hash-agg
    (map-side combined), a small term-keyed document-frequency agg
    joined back on the term partitioning, and a per-doc top-k window
    whose groups are bounded by a document's distinct-term count —
    never corpus-sized, so no skew. All built-ins, no Python.

    ``n_docs``: pass the corpus size when known to skip the count job
    (it's a metadata-only pass on parquet sources otherwise)."""
    from pyspark.sql.window import Window

    if n_docs is None:
        n_docs = df.count()
    pairs = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = pairs.join(dfreq, "term").withColumn(
        "score",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score",
                F.col("rank").cast("long").alias("rank"))
    )


def _stopword_hits(text_col: str, lang: str) -> Column:
    toks = tokens(F.col(text_col))
    sw = lit_strings(STOPWORDS[lang])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")


def with_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic argmax-of-stopword-hits language ID.

    Ties break on language code ascending (stable across engines)."""
    out = df
    for lang in STOPWORDS:
        out = out.withColumn(f"__hits_{lang}", _stopword_hits(text_col, lang))
    # argmax with lexicographic tie-break: pick lang with (-hits, lang) minimal
    pairs = F.array(
        *[
            F.struct(
                (-F.col(f"__hits_{lang}")).alias("neg"),
                F.lit(lang).alias("lang"),
            )
            for lang in STOPWORDS
        ]
    )
    out = out.withColumn("lang_detected", F.array_min(pairs).getField("lang"))
    out = out.withColumn(
        "stopword_hits", F.greatest(*[F.col(f"__hits_{lang}") for lang in STOPWORDS])
    )
    return out.drop(*[f"__hits_{lang}" for lang in STOPWORDS])


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punct/stopword-ratio quality features + a [0,1] score."""
    df = with_token_stats(df, text_col)
    text = F.col(text_col)
    n_punct = (
        F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    ).cast("long")
    all_sw = sorted({w for ws in STOPWORDS.values() for w in ws})
    sw_arr = lit_strings(all_sw)
    toks = tokens(text)
    sw_ratio = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))) / F.greatest(
        F.size(toks), F.lit(1)
    )
    df = (
        df.withColumn("n_punct", n_punct)
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 4))
        .withColumn("stopword_ratio", F.round(sw_ratio, 4))
    )
    score = (
        F.when(F.col("n_tokens") < QUALITY_MIN_TOKENS, 0.0)
        .otherwise(
            F.least(
                F.lit(1.0),
                F.col("n_distinct_tokens") / F.col("n_tokens")
                + F.col("stopword_ratio"),
            )
        )
    )
    return df.withColumn("quality_score", F.round(score, 4))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    (Content-defined fingerprint for exact/near-exact dedup joins; md5 is
    available verbatim in both Spark and DuckDB, so oracle-checkable.)"""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized))


#: BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbols
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_bpe_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Subword-style token counting: the whitespace count (`n_tokens`) plus
    a BPE-ish pre-tokenization count (letter runs / digit runs / symbols) —
    the usual first-order estimate of LLM token cost. Pure regexp_count,
    JVM-side."""
    n_bpe = F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN))
    n_ws = F.size(tokens(F.col(text_col)))
    return (
        df.withColumn("n_bpe_tokens", n_bpe.cast("long"))
        .withColumn("n_ws_tokens", n_ws.cast("long"))
        .withColumn(
            "bpe_per_word",
            F.round(n_bpe / F.greatest(n_ws, F.lit(1)).cast("double"), 4),
        )
    )


#: PII patterns a pre-training scrub removes (the usual first-pass set:
#: emails, international-ish phone numbers, IPv4s). Regex-only — pure
#: JVM codegen, zero Python in the hot path; both engines run PCRE-ish
#: dialects where these constructs agree.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def with_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub (training-data release hygiene): replace every email /
    phone / IPv4 occurrence with a typed placeholder and count what was
    removed per document. Chained ``regexp_replace`` + ``regexp_count``
    — embarrassingly parallel, no UDFs; at 100 TB this is a pure
    map-stage over the corpus.

    Each pattern is COUNTED on the same intermediate string it is
    REPLACED in, so ``n_<type>`` equals the number of ``<TYPE>``
    placeholders actually present in ``redacted`` (a phone-like digit
    run inside an already-redacted email is not double-counted) and
    ``n_pii`` is exactly the total placeholder count."""
    redacted = F.col(text_col)
    n_total = F.lit(0)
    cols = {}
    for name, pat in sorted(PII_PATTERNS.items()):
        n = F.regexp_count(redacted, F.lit(pat))
        cols[f"n_{name}"] = n.cast("long")
        n_total = n_total + n
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    out = df.withColumn("redacted", redacted)
    for c, expr in cols.items():
        out = out.withColumn(c, expr)
    return out.withColumn("n_pii", n_total.cast("long"))


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: "repetitious
    documents" filters): duplicate-LINE fraction and the fraction of the
    document covered by its single most frequent word BIGRAM. High values
    flag boilerplate/spam that exact- and near-dedup miss because the
    repetition is INSIDE one document.

    100-TB shape: embarrassingly parallel map stage, zero shuffle, zero
    Python. The top-bigram count deliberately avoids the naive
    O(L^2) count-each-distinct-gram scan: bigrams are ``array_sort``-ed and
    the max frequency is the longest equal-run in the sorted array, folded
    with one ``F.aggregate`` pass — O(L log L) per row, whole-stage codegen.
    """
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    n_dup = n_lines - F.size(F.array_distinct(lines))

    toks = tokens(text)
    n = F.size(toks)
    pair_len = F.greatest(n - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, pair_len),
        F.slice(toks, 2, pair_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # longest equal-run in the sorted bigram array == max bigram frequency
    top_count = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        df.withColumn("n_lines", n_lines.cast("long"))
        .withColumn("n_dup_lines", n_dup.cast("long"))
        .withColumn(
            "dup_line_frac",
            F.round(n_dup / F.greatest(n_lines, F.lit(1)).cast("double"), 4),
        )
        .withColumn(
            "top_bigram_frac",
            F.round(
                F.when(pair_len == 0, F.lit(0.0)).otherwise(
                    top_count / pair_len.cast("double")
                ),
                4,
            ),
        )
    )


#: Frequent-line sets at or below this cardinality are broadcast for a
#: map-side anti-join; above it the anti-join degrades to a shuffle join
#: instead of failing on the broadcast cap. ~5M short lines ≈ a few
#: hundred MB — at the edge of what a healthy executor can hold.
BOILERPLATE_BROADCAST_BUDGET = 5_000_000


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    min_docs: int = 2,
    broadcast_budget: int | None = None,
) -> DataFrame:
    """CCNet-style boilerplate removal: a LINE (trimmed, empties dropped)
    that appears in ≥ ``min_docs`` distinct documents is boilerplate
    (cookie banners, nav menus, license headers) and is struck from every
    document; per-doc output keeps the surviving lines in order.

    100-TB shape: one hash-agg shuffle on the line to find the frequent
    set. The set is the head of the line-frequency distribution (bounded:
    every member appears in ≥ min_docs docs, so |set| ≤
    corpus_lines/min_docs). It is persisted and counted once; at or below
    ``broadcast_budget`` entries it is BROADCAST for a map-side anti-join,
    above the budget the anti-join runs as a plain shuffle join (both
    sides hash-partition on the line) — degrading gracefully instead of
    blowing the driver/broadcast cap. The per-doc rebuild is one
    groupBy(doc_id) with an in-agg positional sort — no window.

    Returns doc_id, n_lines, n_kept, n_removed, clean_md5 (fingerprint of
    the newline-rejoined surviving lines; md5('') when everything was
    boilerplate). The persisted frequent set is exposed on the result as
    ``_boilerplate_freq`` so long-lived pipelines can ``unpersist()`` it
    after the downstream action runs."""
    if broadcast_budget is None:
        broadcast_budget = BOILERPLATE_BROADCAST_BUDGET
    lines_arr = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    base = df.select("doc_id", lines_arr.alias("ls"))
    flat = base.select(
        "doc_id", F.posexplode("ls").alias("pos", "line")
    )
    freq = (
        flat.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("line")
    ).persist()
    n_freq = freq.count()  # materializes the persisted set — one agg, reused by the join
    anti_rhs = F.broadcast(freq) if n_freq <= broadcast_budget else freq
    kept = flat.join(anti_rhs, "line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            )
        ).alias("clean_md5"),
    )
    out = (
        base.select("doc_id", F.size("ls").cast("long").alias("n_lines"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
            F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
        )
    )
    out._boilerplate_freq = freq  # caller may unpersist after its action
    return out


#: URL matcher shared with the oracle — conservative char class that both
#: regex dialects (Spark/Java, DuckDB/RE2) read identically
URL_PATTERN = r"https?://[A-Za-z0-9./_%-]+"
DOMAIN_PATTERN = r"https?://([^/]+)"


def with_url_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document URL census — the input to domain-level quality rules
    (blocklists, per-domain caps, dedup by canonical URL) every web-scale
    pipeline applies. Pure regexp built-ins: embarrassingly parallel,
    zero shuffle, zero Python.

    Adds n_urls, n_domains (distinct), domains_csv (sorted distinct
    domains, comma-joined — deterministic)."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    domains = F.transform(
        urls, lambda u: F.regexp_extract(u, DOMAIN_PATTERN, 1)
    )
    distinct = F.array_sort(F.array_distinct(domains))
    return (
        df.withColumn("n_urls", F.size(urls).cast("long"))
        .withColumn("n_domains", F.size(distinct).cast("long"))
        .withColumn("domains_csv", F.concat_ws(",", distinct))
    )


def with_char_entropy(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-document character-unigram Shannon entropy (bits) — the cheap
    perplexity proxy quality filters use: near-zero entropy flags
    degenerate/repeated content, unusually high entropy flags binary
    junk or encoded blobs.

    Shape: explode characters → (doc, char) hash-agg (map-side combined,
    alphabet-bounded groups) → per-doc fold. Returns doc_id, n_chars_nz
    (non-empty chars counted), char_entropy (round 4)."""
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("c")
    ).where(F.col("c") != "")
    counts = chars.groupBy(id_col, "c").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy(id_col).agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    ent = (
        counts.join(totals, id_col)
        .groupBy(id_col)
        .agg(
            F.first("tot").cast("long").alias("n_chars_nz"),
            F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy"),
        )
    )
    return (
        df.select(id_col)
        .join(ent, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chars_nz", F.lit(0)).cast("long")
            .alias("n_chars_nz"),
            F.coalesce("char_entropy", F.lit(0.0)).alias("char_entropy"),
        )
    )


#: tag / block regexes shared with the oracle (RE2- and java.util.regex-safe)
HTML_SCRIPT_RE = r"(?s)<script[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?s)<style[^>]*>.*?</style>"
HTML_TAG_RE = r"<[^>]*>"

#: the entity subset a boilerplate-free extractor must handle; ordered so
#: that &amp; is decoded LAST (otherwise '&amp;lt;' would double-decode)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def with_html_strip(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Main-content extraction from raw HTML — the first step of every
    web-crawl pipeline (WET-file generation). Pure built-in regexp/replace
    expressions: whole-stage codegen, embarrassingly parallel, zero
    shuffle, zero Python — the shape that survives 100 TB of WARC-derived
    pages.

    Steps (each a deterministic function both engines reproduce):
      1. drop <script>/<style> blocks wholesale (content is not text),
      2. count then strip remaining tags (replaced by a space so adjacent
         words don't fuse),
      3. decode the common entity subset (&amp; last to avoid
         double-decoding),
      4. collapse whitespace runs and trim.

    Adds ``n_tags`` (tags stripped after block removal), ``clean_text``,
    ``clean_len``. Reference analogue: the reference engine has no HTML
    path — this is beyond-reference pipeline surface."""
    no_blocks = F.regexp_replace(
        F.regexp_replace(F.col(html_col), HTML_SCRIPT_RE, " "),
        HTML_STYLE_RE, " ")
    n_tags = F.regexp_count(no_blocks, F.lit(HTML_TAG_RE)).cast("long")
    clean = F.regexp_replace(no_blocks, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return (
        df.withColumn("n_tags", n_tags)
        .withColumn("clean_text", clean)
        .withColumn("clean_len", F.length(clean).cast("long"))
    )


#: C0/C1 control characters (tab/newline excluded — they are structure)
CONTROL_CHARS_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def with_normalized_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization + control-character stripping — the
    canonicalization step that makes fingerprints/dedup stable across
    crawl encodings (é as one codepoint vs e+combining-accent must hash
    identically).

    Control-char removal is a codegen regexp; NFC itself has no Spark
    built-in, so it runs as an Arrow-batched pandas UDF
    (``unicodedata.normalize`` over a whole column batch per call — the
    sanctioned slow-path shape: vectorized transfer, zero shuffle, scales
    linearly with executors). Adds ``norm_text``, ``n_chars_raw``,
    ``n_chars_norm``, ``changed``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc_batch(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf cannot resolve — the returnType argument carries it
    _nfc = pandas_udf(_nfc_batch, "string")

    stripped = F.regexp_replace(F.col(text_col), CONTROL_CHARS_RE, "")
    return (
        df.withColumn("n_chars_raw", F.length(text_col).cast("long"))
        .withColumn("norm_text", _nfc(stripped))
        .withColumn("n_chars_norm", F.length("norm_text").cast("long"))
        .withColumn("changed", F.col("norm_text") != F.col(text_col))
    )


#: C4-style line/document rules (Raffel et al. 2020, §2.2) — thresholds
#: shared with the oracle
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 2
C4_TERMINALS = (".", "!", "?", '"')


def c4_quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4-style cleaning: keep only lines that end in terminal punctuation
    and have >= C4_MIN_LINE_WORDS words; drop documents with braces (code)
    or fewer than C4_MIN_KEPT_LINES surviving lines. Everything is array
    built-ins over the line split — one codegen map stage, no shuffle, no
    Python; at 100 TB this is a pure scan.

    Adds ``n_lines``, ``n_kept_lines``, ``has_brace``, ``kept`` (doc
    survives), ``clean_md5`` (md5 of kept lines newline-joined — position
    exact)."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    term = lit_strings(C4_TERMINALS)
    kept_lines = F.filter(
        lines,
        lambda l: F.array_contains(term, F.substring(l, -1, 1))
        & (F.size(F.split(l, r"\s+")) >= C4_MIN_LINE_WORDS),
    )
    has_brace = F.col(text_col).contains("{") | F.col(text_col).contains("}")
    n_kept = F.size(kept_lines)
    return (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept_lines", n_kept.cast("long"))
        .withColumn("has_brace", has_brace)
        .withColumn(
            "kept", (~has_brace) & (n_kept >= C4_MIN_KEPT_LINES)
        )
        .withColumn("clean_md5", F.md5(F.concat_ws("\n", kept_lines)))
    )


def zipf_top_terms(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """Corpus-level term-frequency head: the top-k terms with counts,
    rank, and cumulative coverage of all token occurrences — the
    input to stopword derivation, vocab truncation decisions, and the
    Zipf-curve sanity check every new crawl snapshot gets.

    Shape: explode → one (term) hash-agg (map-side combined — the only
    shuffle, keyed on term so it spreads), then a TWO-STAGE top-k
    (per-partition partial rank, global rank on ≤ k·partitions
    survivors — the weighted_sample / bm25_topk pattern): the global
    ``row_number`` window never sees the full vocabulary, which at crawl
    scale is billions of distinct terms funneled through one task.
    Total-token count sums the same term-count aggregate; at runtime
    Spark's ReuseExchange dedupes the two branches onto ONE corpus scan
    (plan-asserted in test_plans.py)."""
    from pyspark.sql.window import Window

    terms = df.select(
        F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("tot"))
    order = (F.col("n").desc(), F.col("term").asc())
    w_partial = Window.partitionBy("__pid").orderBy(*order)
    w_rank = Window.orderBy(*order)
    head = (
        counts.withColumn("__pid", F.spark_partition_id())
        .withColumn("__prank", F.row_number().over(w_partial))
        .where(F.col("__prank") <= top_k)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= top_k)
        .drop("__pid", "__prank")
    )
    w_cum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        head.crossJoin(F.broadcast(total))
        .withColumn("cum_n", F.sum("n").over(w_cum))
        .select(
            "term",
            F.col("n").cast("long").alias("n"),
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("cum_n") / F.col("tot"), 6).alias("cum_frac"),
        )
    )


def with_paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_docs: int = 2,
    broadcast_budget: int | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup signals (the Dolma/CCNet step between
    line-boilerplate and whole-doc dedup): a paragraph (blank-line
    separated block) appearing in >= ``min_docs`` documents is corpus
    boilerplate; per doc this reports how much of it is duplicated
    content and the md5 of the text with duplicate paragraphs struck.

    Shape: explode paragraphs with position → one (paragraph-hash)
    distinct-doc count agg → anti join back (broadcast at or below
    ``broadcast_budget`` frequent hashes, plain shuffle join above — the
    same graceful degradation as :func:`remove_boilerplate_lines`) →
    positional rebuild inside one per-doc agg (no window)."""
    if broadcast_budget is None:
        broadcast_budget = BOILERPLATE_BROADCAST_BUDGET
    paras = F.filter(
        F.transform(F.split(F.col(text_col), r"\n\s*\n"),
                    lambda p: F.trim(p)),
        lambda p: p != "",
    )
    exploded = (
        df.select(F.col(id_col), F.posexplode(paras).alias("pos", "para"))
        .withColumn("ph", F.md5("para"))
    )
    freq = (
        exploded.groupBy("ph")
        .agg(F.count_distinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("ph")
    ).persist()
    n_freq = freq.count()
    anti_rhs = F.broadcast(freq) if n_freq <= broadcast_budget else freq
    kept = exploded.join(anti_rhs, "ph", "left_anti")
    n_paras = df.select(
        F.col(id_col), F.size(paras).cast("long").alias("n_paras")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept_paras"),
        F.md5(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "para"))
                    ),
                    lambda s: s["para"],
                ),
            )
        ).alias("clean_md5"),
    )
    return (
        n_paras.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_paras",
            F.coalesce("n_kept_paras", F.lit(0)).cast("long")
            .alias("n_kept_paras"),
            (F.col("n_paras") - F.coalesce("n_kept_paras", F.lit(0)))
            .cast("long")
            .alias("n_dup_paras"),
            F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
        )
    )


def filter_blocked_domains(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Domain-blocklist filtering (the UT1/adult-blocklist step of web
    pipelines): a document is dropped when ANY URL in it resolves to a
    blocked domain. Domains come from the same conservative regex as
    :func:`with_url_stats`; the blocklist (a small dimension, even the
    big public ones are ~millions of rows) broadcasts into an
    ``arrays_overlap`` semi-filter — one map-side pass over the corpus,
    no shuffle, no explode of the corpus side.

    Adds ``blocked`` plus the URL census columns; callers filter on
    ``~blocked``."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    domains = F.array_distinct(
        F.transform(urls, lambda u: F.regexp_extract(u, DOMAIN_PATTERN, 1))
    )
    dcol = blocklist.columns[0]
    # lit_strings: ONE py4j round-trip for the whole literal array (the
    # F.lit loop costs 2+ round-trips per domain — up to ~20k for a 10k
    # blocklist; guide §5, driver-side plan construction). A domain with
    # a backslash has no exact SQL rendering; lit_strings then builds the
    # array with F.lit instead of failing
    blocked_arr = lit_strings(
        [r[0] for r in blocklist.select(dcol).distinct().collect()]
    ) if blocklist.count() <= 10_000 else None
    out = df.withColumn("__domains", domains)
    if blocked_arr is not None:
        # small list: inline as a literal array (pure codegen, zero jobs
        # per row); the collect above is bounded by the 10k guard
        out = out.withColumn(
            "blocked", F.arrays_overlap("__domains", blocked_arr)
        )
    else:
        # large list: explode doc domains (distinct per doc, bounded) and
        # broadcast-semi-join against the blocklist, then re-attach
        hits = (
            out.select("doc_id", F.explode("__domains").alias("d"))
            .join(
                F.broadcast(
                    blocklist.select(F.col(dcol).alias("d")).distinct()
                ),
                "d",
                "left_semi",
            )
            .select("doc_id")
            .distinct()
            .withColumn("blocked", F.lit(True))
        )
        out = out.join(hits, "doc_id", "left").withColumn(
            "blocked", F.coalesce("blocked", F.lit(False))
        )
    return out.drop("__domains")


def with_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model surprisal — the cheap stand-in for the
    KenLM-perplexity quality filter (CCNet/LLaMA recipe): train unigram
    probabilities ON THE CORPUS ITSELF (one term hash-agg), then score
    every document by its mean negative log2 probability with add-one
    smoothing. High surprisal = tokens the corpus rarely uses (noise,
    boilerplate codes, wrong language); low = templated text.

    Two-pass shape at 100 TB: the model is a term-keyed table (|vocab|
    rows, shuffles on term — well spread), the scoring join is also
    term-keyed, partial-aggregated per doc. Per-term surprisal is rounded
    to 4 dp and accumulated as exact DECIMAL so both engines sum
    identically regardless of order. Adds ``n_scored``, ``sum_bits``
    (total -log2 p at 4 dp — a SUM, not a mean: the sum of 4-dp decimals
    is itself an exact 4-dp decimal, so both engines emit bit-identical
    doubles; the mean would re-introduce double-division rounding
    divergence at the 4th digit; divide client-side when needed)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(
        F.sum("c").alias("T"), F.count(F.lit(1)).alias("V")
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            -F.log2((F.col("c") + 1) / (F.col("T") + F.col("V")).cast("double")),
            4,
        )
        .cast("decimal(38,18)")
        .alias("nll"),
    )
    per = (
        toks.join(probs, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("nll").alias("s"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            .alias("sum_bits"),
        )
    )


def canonical_url(url: Column) -> Column:
    """Canonical form for URL-level dedup: lowercase scheme+host, strip
    the query string, fragment, a leading ``www.`` and any trailing
    slash. Pure regexp codegen — the form both engines compute byte-
    identically."""
    u = F.regexp_replace(url, r"[?#].*$", "")        # query + fragment
    u = F.regexp_replace(u, r"/+$", "")               # trailing slashes
    head = F.lower(F.regexp_extract(u, r"^(https?://[^/]*)", 1))
    head = F.regexp_replace(head, r"^(https?://)www\.", r"$1")
    tail = F.regexp_replace(u, r"^https?://[^/]*", "")
    return F.concat(head, tail)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id: str = "query_id",
    query_text: str = "qtext",
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """BM25 full-text retrieval: top-``k`` documents per query — the
    lexical-search half of a RAG / retrieval pipeline next to the ANN
    operators in :mod:`similarity`.

    score(q, d) = sum over distinct query terms of
    ``idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`` with
    the Robertson/Lucene smoothed ``idf = ln(1 + (N-df+0.5)/(df+0.5))``.

    100-TB shape: the (doc, term, tf) pairs ARE the inverted index (one
    map-side-combined hash-agg over the corpus); document frequency is a
    small term-keyed agg joined back on the same term partitioning; the
    query side is tiny and meets the postings in a term-keyed join, so
    only postings of the query's terms are ever touched — the classic
    index-probe cost, not a corpus scan. Per-(query, doc) scores then
    hash-agg on a well-distributed key and a two-stage window takes
    top-k without a corpus-wide sort.

    Determinism: each term contribution rounds to 4dp and accumulates as
    exact DECIMAL, so Spark's partial aggregation and any other engine's
    summation order produce identical scores (the ``text_lm_score``
    convention); ties rank by doc_id.

    ``stats``: pass (n_docs, avgdl) when known to skip the one scalar
    agg job (at 100 TB these come from table metadata or a prior pass).
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    if stats is None:
        r = toks.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.size("__t")).alias("avgdl"),
        ).collect()[0]
        n_docs, avgdl = int(r["n"]), float(r["avgdl"])
    else:
        n_docs, avgdl = stats
    pairs = (
        toks.select(id_col, F.size("__t").alias("dl"),
                    F.explode("__t").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = queries.select(
        F.col(query_id),
        F.explode(
            F.array_distinct(tokens(F.col(query_text)))
        ).alias("term"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    weight = (
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.lit(avgdl))
        )
    )
    contrib = F.round(idf * weight, 4).cast("decimal(38,18)")
    # query terms pick up their df first (broadcast the tiny query side —
    # never the corpus-sized vocabulary), then probe the postings
    qd = F.broadcast(qterms).join(dfreq, "term")
    scored = (
        F.broadcast(qd).join(pairs, "term")
        .groupBy(query_id, id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(contrib).alias("__s"),
        )
        .withColumn("score", F.col("__s").cast("double"))
        .withColumn("__pid", F.spark_partition_id())
    )
    order = (F.col("score").desc(), F.col(id_col).asc())
    w_partial = Window.partitionBy(query_id, "__pid").orderBy(*order)
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        scored.withColumn("__prank", F.row_number().over(w_partial))
        .where(F.col("__prank") <= k)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col(query_id).cast("long"),
            F.col(id_col).cast("long"),
            "n_terms", "score", F.col("rank").cast("long"),
        )
    )
