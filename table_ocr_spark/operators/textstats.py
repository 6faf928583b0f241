"""Text-analysis operators for the training-data pipeline surface:
token counting, quality scoring, language identification, document
fingerprinting. All pure JVM-side column expressions (whole-stage
codegen; zero Python UDFs) so they run at crawl scale, and every
formula is pinned so the DuckDB oracle can reproduce it exactly.

The reference has no text-analytics layer (its "quality" mechanism is
LLM self-agreement, ``ui/majority_vote.py:59-201``); these operators
are the deterministic analogues a 100 TB pretraining pipeline needs.

Pinned definitions (shared with ``__spark_entry__.oracle_sql``):
- token        := maximal run of non-whitespace (split \\s+, drop '')
- punct chars  := [.,;:!?]
- stopword hit := token IN the pinned per-language list (non-distinct)
- lang_id      := argmax of stopword hits over {en, de, fr}; ties break
                  en > de > fr; all-zero -> 'und'
- fingerprint  := fold over tokens of
                  acc = (acc*131 + length(tok)*31 + ascii(tok[0])) % 1e9+7
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FP_MOD = 1_000_000_007

STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "für", "mit", "ein", "eine", "über"],
    "fr": ["le", "la", "les", "et", "est", "pour", "dans", "un", "une", "sur"],
}
# pinned tie-break order (argmax prefers earlier entries)
LANG_ORDER = ["en", "de", "fr"]


def tokens(col: Column) -> Column:
    """Pinned tokenizer: split on \\s+, drop empty tokens. NULL text
    tokenizes to the EMPTY array — pinned once HERE so every consumer
    (stats, quality, lang-id, dedup kernels) agrees: without it a
    NULL-text row yields all-NULL stats and a quality_pass that is
    neither true nor false, silently vanishing from pass/fail
    accounting (crawl corpora carry NULL text routinely)."""
    return F.coalesce(
        F.filter(F.split(col, r"\s+"), lambda w: w != ""),
        F.array().cast("array<string>"),
    )


def stopword_hits(toks: Column, lang: str) -> Column:
    """Non-distinct count of tokens in the pinned stopword list."""
    sw = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda w: w.isin(*sw))).cast("long")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token/quality statistics.

    Output: (id, n_tokens, n_chars_obs, avg_token_len, punct_ratio,
    stopword_ratio, quality_score) — quality is the pinned blend
    ``0.4*min(n_tokens/100,1) + 0.3*(1-punct_ratio) + 0.3*stopword_ratio``
    rounded to 6 dp. Map-only: no shuffle; scales linearly.
    """
    # bind tokens to a column first: several expressions below read the
    # token array, and interpreted HOF evaluation would re-run the
    # split+filter once per reference against a raw expression
    toked = df.select(
        F.col(id_col),
        # NULL text == empty text (same pin as tokens())
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        tokens(F.col(text_col)).alias("_toks"),
    )
    toks = F.col("_toks")
    n_tok = F.size(toks).cast("long")
    n_chars = F.length("_t").cast("long")
    tok_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    punct = F.length(F.regexp_replace(F.col("_t"), r"[^.,;:!?]", "")).cast("long")
    sw = stopword_hits(toks, "en")
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = sw / F.greatest(n_tok, F.lit(1))
    quality = F.round(
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.3
        + stop_ratio * 0.3,
        6,
    )
    return toked.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_obs"),
        F.round(tok_chars / F.greatest(n_tok, F.lit(1)), 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language identification (n-gram-free heuristic;
    a real deployment would swap the pinned lists for fastText — the
    *plan shape* is what matters: map-only, codegen'd, no shuffle).
    """
    df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    scores = {lg: stopword_hits(toks, lg) for lg in LANG_ORDER}
    en, de, fr = scores["en"], scores["de"], scores["fr"]
    pred = (
        F.when((en == 0) & (de == 0) & (fr == 0), F.lit("und"))
        .when((en >= de) & (en >= fr), F.lit("en"))
        .when(de >= fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.select(
        F.col(id_col),
        en.alias("sw_en"),
        de.alias("sw_de"),
        fr.alias("sw_fr"),
        pred.alias("lang_pred"),
    )


# Gopher-style pinned bounds (Rae et al. 2021-flavored, values pinned
# for the oracle; swap per-corpus in production)
QF_MIN_TOKENS, QF_MAX_TOKENS = 10, 100_000
QF_MIN_AVG_LEN, QF_MAX_AVG_LEN = 2.0, 12.0
QF_MAX_SYMBOL_RATIO = 0.1


def gopher_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rule-based document quality filter (the Gopher-rules shape):
    token-count bounds, mean-word-length bounds, symbol-character
    ratio. Emits per-rule flags plus the conjunction — filters should
    be auditable columns, not silent drops. Map-only, codegen'd."""
    toked = df.select(
        F.col(id_col),
        # NULL text == empty text (same pin as tokens())
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        tokens(F.col(text_col)).alias("_toks"),
    )
    n_tok = F.size("_toks").cast("long")
    tok_chars = F.aggregate(
        F.transform(F.col("_toks"), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    avg_len = tok_chars / F.greatest(n_tok, F.lit(1))
    n_chars = F.length("_t").cast("long")
    symbols = F.length(F.regexp_replace("_t", r"[A-Za-z0-9\s]", "")).cast("long")
    sym_ratio = symbols / F.greatest(n_chars, F.lit(1))
    p_len = (n_tok >= QF_MIN_TOKENS) & (n_tok <= QF_MAX_TOKENS)
    p_avg = (avg_len >= QF_MIN_AVG_LEN) & (avg_len <= QF_MAX_AVG_LEN)
    p_sym = sym_ratio <= QF_MAX_SYMBOL_RATIO
    return toked.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        p_len.alias("passes_length"),
        p_avg.alias("passes_word_len"),
        p_sym.alias("passes_symbol"),
        (p_len & p_avg & p_sym).alias("quality_pass"),
    )


def _bigram_stats_udf():
    """token array -> (n_bigrams, max_count) in one Arrow batch: a
    per-document Counter over adjacent token pairs. Per-doc statistics
    must never cost a corpus-wide exchange — the previous shape
    (explode -> groupBy(id, bigram) -> groupBy(id)) shuffled ~one row
    per corpus bigram to compute a number derivable entirely map-side.
    Same measured numpy/Python-over-shuffle doctrine as the minhash /
    simhash kernels (dedup.py:213,409): the Python loop over the Arrow
    batch is microseconds per document; the exchange was the query."""
    import pandas as pd

    @F.pandas_udf("n_bigrams long, max_count long")
    def udf(token_lists):  # type: ignore[no-untyped-def]
        from collections import Counter

        n_col, mx_col = [], []
        for t in token_lists:
            t = list(t) if t is not None else []
            if len(t) < 2:
                n_col.append(0)
                mx_col.append(0)
                continue
            c = Counter(zip(t, t[1:]))
            n_col.append(len(t) - 1)
            mx_col.append(max(c.values()))
        return pd.DataFrame({"n_bigrams": n_col, "max_count": mx_col})

    return udf


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals (the dup-line/top-ngram-share
    family): distinct-token ratio and the share of the most frequent
    bigram. MAP-ONLY — tokenization is JVM-side codegen, the bigram
    mode runs in a per-document Arrow kernel, and the plan contains no
    Exchange (asserted by test_textstats). Pinned semantics unchanged:
    n_bigrams = max(n_tokens-1, 0); share = max_count/n_bigrams
    (0.0 for docs with <2 tokens), rounded 6 dp."""
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    n_tok = F.size("_toks").cast("long")
    distinct_ratio = (
        F.size(F.array_distinct("_toks")).cast("long")
        / F.greatest(n_tok, F.lit(1))
    )
    st = toked.select(
        F.col(id_col),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        _bigram_stats_udf()(F.col("_toks")).alias("_bs"),
    )
    share = F.col("_bs.max_count") / F.greatest(F.col("_bs.n_bigrams"), F.lit(1))
    return st.select(
        F.col(id_col),
        "distinct_token_ratio",
        F.col("_bs.n_bigrams").alias("n_bigrams"),
        F.round(share, 6).alias("top_bigram_share"),
    )


# the pinned line-trim set, shared by the per-doc stats kernel, the
# corpus-level line-removal operator, and (via interpolation in
# __spark_entry__) their SQL oracles — one definition, or the
# bit-exact contract silently forks
LINE_TRIM_CHARS = " \t\r"


def _line_stats_udf():
    """text -> (n_lines, dup_lines, line_chars, dup_line_chars) in one
    Arrow batch: per-document Counter over trimmed non-empty lines.
    Map-only for the same reason as :func:`_bigram_stats_udf` — a
    per-document statistic must not cost a corpus-line exchange."""
    import pandas as pd

    @F.pandas_udf(
        "n_lines long, dup_lines long, line_chars long, dup_line_chars long"
    )
    def udf(texts):  # type: ignore[no-untyped-def]
        from collections import Counter

        out = {"n_lines": [], "dup_lines": [], "line_chars": [],
               "dup_line_chars": []}
        for t in texts:
            # trim set pinned to ' \t\r' (NOT Python's full .strip():
            # that trims unicode whitespace DuckDB's trim() does not,
            # and the oracle contract would diverge on CRLF corpora)
            lines = [
                ln.strip(LINE_TRIM_CHARS)
                for ln in (t or "").split("\n")
                if ln.strip(LINE_TRIM_CHARS) != ""
            ]
            c = Counter(lines)
            n = len(lines)
            chars = sum(len(ln) for ln in lines)
            dup_n = sum(cnt for cnt in c.values() if cnt > 1)
            dup_chars = sum(
                len(ln) * cnt for ln, cnt in c.items() if cnt > 1
            )
            out["n_lines"].append(n)
            out["dup_lines"].append(dup_n)
            out["line_chars"].append(chars)
            out["dup_line_chars"].append(dup_chars)
        return pd.DataFrame(out)

    return udf


def line_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style duplicate-LINE signals (Rae et al. 2021 repetition
    rules, the axis :func:`repetition_stats` does not cover): fraction
    of lines that belong to a within-document duplicated line group and
    the character mass those lines carry — boilerplate nav/footer soup
    scores high here while staying invisible to token-level stats.

    Pinned: line := segment of split('\\n') trimmed of ``' \\t\\r'``
    (the explicit set, mirrored by the oracle's ``trim(l, ...)`` —
    Python's bare ``.strip()`` trims unicode whitespace DuckDB does
    not), empties dropped; a line is 'duplicated' iff its trimmed
    content occurs >= 2 times in the SAME document; fractions rounded
    6 dp, 0.0 for line-less docs.
    MAP-ONLY (plan-asserted): one Arrow kernel per batch, no Exchange.
    """
    st = df.select(
        F.col(id_col),
        _line_stats_udf()(F.coalesce(F.col(text_col), F.lit(""))).alias("_ls"),
    )
    dup_frac = F.col("_ls.dup_lines") / F.greatest(F.col("_ls.n_lines"), F.lit(1))
    char_frac = F.col("_ls.dup_line_chars") / F.greatest(
        F.col("_ls.line_chars"), F.lit(1)
    )
    return st.select(
        F.col(id_col),
        F.col("_ls.n_lines").alias("n_lines"),
        F.col("_ls.dup_lines").alias("dup_lines"),
        F.round(dup_frac, 6).alias("dup_line_frac"),
        F.round(char_frac, 6).alias("dup_line_char_frac"),
    )


def remove_repeated_lines(
    df: DataFrame,
    min_doc_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope_col: str | None = None,
) -> DataFrame:
    """Corpus-level boilerplate line REMOVAL (the C4/CCNet move —
    :func:`line_repetition_stats` measures within-document repetition;
    this deletes lines repeated ACROSS documents: nav bars, cookie
    banners, footers). A line is boilerplate iff its trimmed form
    (the pinned ``' \\t\\r'`` set, same as the stats kernel) occurs in
    >= ``min_doc_df`` DISTINCT documents; all its occurrences are
    removed (boilerplate has no canonical copy worth keeping).
    Whitespace-only lines are structure, never counted or removed.

    Output: (id_col, text_clean, n_lines, n_kept, n_dropped) — one row
    per input doc, text_clean = '' when every line was boilerplate.

    ``scope_col`` (e.g. the registrable domain) switches the
    boilerplate key to (scope, line) — the RefinedWeb/Dolma variant
    that deletes WITHIN-SITE repeats (every site repeats its own nav
    bar) without letting a corpus-global threshold delete common
    phrases that merely recur across unrelated sites. NULL scopes
    coalesce to ``''`` (the assign_splits pin). The plan shape is
    unchanged: the count/anti-join keys just widen by one column.

    Scale shape: posexplode the line stream (narrow: id, pos, line) →
    two-phase distinct-doc count per trimmed line (map-side partial) →
    LEFT ANTI join back → per-doc re-assembly via
    array_sort(struct(pos, line)). The line keys ship RAW, not
    hashed: boilerplate lines are Zipfian short strings, the measured
    regime where lz4 beats hash-narrowing (BASELINE.md exchange-key
    measurement) — and a hash collision here would DELETE an innocent
    line, a worse failure than a wider exchange. No broadcast of the
    boilerplate set: its size is corpus-dependent (every near-dup line
    at low ``min_doc_df``), so the general plan is the anti-join;
    Spark downgrades it to broadcast automatically when it is small.
    """
    return _remove_repeated_units(
        df,
        min_doc_df,
        text_col,
        id_col,
        split_pat="\n",
        trim_chars=LINE_TRIM_CHARS,
        join_sep="\n",
        n_col="n_lines",
        scope_col=scope_col,
    )


# paragraph := segment of a split on /\n{2,}/ trimmed of this set (a
# segment produced by that split can still carry a single leading/
# trailing '\n', unlike a line) — shared with webfilter's repetition
# kernel and the SQL oracles
PARA_SPLIT_RE = "\n{2,}"
PARA_TRIM_CHARS = " \t\r\n"


def remove_repeated_paragraphs(
    df: DataFrame,
    min_doc_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope_col: str | None = None,
) -> DataFrame:
    """Corpus-level boilerplate PARAGRAPH removal — the coarser
    granularity of :func:`remove_repeated_lines` (CCNet dedups at the
    paragraph level: multi-line footer blocks, legal disclaimers,
    cookie-consent walls that line-level df splits across several
    keys). A paragraph is a ``\\n{2,}``-separated segment; it is
    boilerplate iff its ``' \\t\\r\\n'``-trimmed form occurs in >=
    ``min_doc_df`` DISTINCT documents, and all its occurrences are
    removed. Kept paragraphs re-join with ``'\\n\\n'`` in original
    order — multi-blank-line runs normalize to one blank line, the
    single deliberate lossy pin (a line-lossless variant would have to
    carry the separator widths through the shuffle for bytes nobody
    keys on).

    Output: (id_col, text_clean, n_paras, n_kept, n_dropped). Same
    plan shape, raw-key rationale and ``scope_col`` site-scoping as
    the line variant (docstring above)."""
    return _remove_repeated_units(
        df,
        min_doc_df,
        text_col,
        id_col,
        split_pat=PARA_SPLIT_RE,
        trim_chars=PARA_TRIM_CHARS,
        join_sep="\n\n",
        n_col="n_paras",
        scope_col=scope_col,
    )


def _remove_repeated_units(
    df: DataFrame,
    min_doc_df: int,
    text_col: str,
    id_col: str,
    split_pat: str,
    trim_chars: str,
    join_sep: str,
    n_col: str,
    scope_col: str | None = None,
) -> DataFrame:
    if min_doc_df < 2:
        raise ValueError(
            f"min_doc_df must be >= 2 (1 would delete every unit), "
            f"got {min_doc_df}"
        )
    scope = (
        [F.coalesce(F.col(scope_col).cast("string"), F.lit("")).alias("_scope")]
        if scope_col is not None
        else []
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        *scope,
    )
    keys = (["_scope"] if scope_col is not None else []) + ["_k"]
    units = base.select(
        "_id",
        *(["_scope"] if scope_col is not None else []),
        F.posexplode(F.split("_t", split_pat)).alias("_pos", "_line"),
    ).withColumn("_k", F.expr(f"trim(BOTH '{trim_chars}' FROM _line)"))
    boiler = (
        units.filter(F.length("_k") > 0)
        .groupBy(*keys)
        .agg(F.countDistinct("_id").alias("_ddf"))
        .filter(F.col("_ddf") >= min_doc_df)
        .select(*keys)
    )
    kept = units.join(boiler, keys, "left_anti")
    reassembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda x: x["_line"],
            ),
            join_sep,
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # the unit total is a per-document statistic: derive it map-side
    # from the split width instead of a third corpus explode + exchange
    totals = base.select(
        "_id", F.size(F.split("_t", split_pat)).alias(n_col)
    )
    return (
        totals.join(reassembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col(n_col).cast("long").alias(n_col),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col(n_col) - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


# pinned PII patterns (portable subset: no lookarounds, same semantics
# under Java regex and RE2)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing for pretraining corpora: emails and phone-shaped
    numbers replaced with typed placeholders, with per-document match
    counts so the redaction rate is auditable. Map-only, codegen'd
    regex — at 100 TB this is a pure scan stage."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0)).cast("long")
    redacted = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    # phones counted AFTER email redaction (an email can contain digits)
    n_phone = F.size(F.regexp_extract_all(redacted, F.lit(PHONE_RE), 0)).cast("long")
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        redacted.alias("redacted_text"),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        ((n_email > 0) | (n_phone > 0)).alias("had_pii"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream
    (document fingerprint; detects exact/near-prefix duplicates and is
    stable across engines — no engine hash functions involved).
    """
    toks = tokens(F.col(text_col))
    vals = F.transform(
        toks,
        lambda w: F.length(w).cast("long") * 31 + F.ascii(F.substring(w, 1, 1)).cast("long"),
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 131 + v) % FP_MOD,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style perplexity-proxy quality score: per document, the
    mean negative log-probability of its tokens under the CORPUS's own
    unigram distribution (p(tok) = corpus_count(tok) / corpus_tokens).
    High score = rare vocabulary (gibberish, boilerplate soup, wrong
    language); low = common prose — the standard LM-filtering signal
    with the LM reduced to order-0, so it stays exactly
    SQL-reproducible.

    Plan shape (new in this surface): a corpus-GLOBAL statistic joined
    back to the stream. Token counts: one explode + map-side-combining
    aggregate (shuffle rows = |vocab|, not corpus tokens). The count
    table re-joins the exploded stream — a hash equi-join whose build
    side is the vocabulary (Zipf-bounded, ~millions at crawl scale,
    never corpus-sized); per-doc mean then aggregates by id. Every
    token has corpus count >= 1 (self-scored), so no OOV smoothing
    branch is needed.

    Exchange width — MEASURED (BASELINE.md "Token/gram exchange-key
    encoding" row, sf0.1, shuffled-join regime forced), and the obvious
    narrowing loses:
    keying the count + join-back on ``xxhash64(tok)`` (the
    ``exact_dedup`` trick) measured **1.18 MB hashed vs 1.09 MB
    raw-token keys** head-to-head — shuffle blocks are lz4-compressed
    and a Zipf-distributed stream of short token strings compresses
    better than incompressible 64-bit hashes, so the hash BUYS nothing
    for unigram-sized keys and costs 8%. The narrowing transfers only
    to LONG keys (whole documents in exact_dedup, 5-gram strings in
    duplicate_span_stats where the hash wins >1.7x). Shipping shape
    keys on the raw token.

    The same measurement exposed the real cost: the zero-token-doc
    backfill as a ``left_anti`` join doubled the query's total shuffle
    (2.14 MB -> 1.13 MB without it) — two corpus-id exchanges spent on
    a rare edge case. Zero-token docs are decidable MAP-SIDE
    (``size(tokens(text)) == 0``), so the backfill is now a filter +
    union, exchange-free.
    """
    # ex is consumed by the count aggregate AND the scoring join;
    # recomputing the tokenize+explode (map-only) is deliberate — a
    # corpus-token-sized cache would be the scale mistake here
    ex = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    counts = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    total = counts.agg(F.sum("_c").alias("_t"))
    scored = (
        ex.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.avg(-F.log(F.col("_c") / F.col("_t"))).alias("_s"),
        )
    )
    out = scored.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.round("_s", 6).alias("avg_neg_logprob"),
    )
    # zero-token docs: defined score 0.0 (no evidence, never filtered).
    # `out` contains exactly the docs with >=1 token (every token
    # self-scores), so the complement is computable by a MAP-SIDE
    # filter — the previous left_anti join shuffled two corpus-id
    # streams for this rare edge case and doubled the query's total
    # exchange bytes (measured: 2.14 -> 1.13 MB at sf0.1)
    empties = df.filter(F.size(tokens(F.col(text_col))) == 0).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0.0).alias("avg_neg_logprob"),
    )
    return out.unionByName(empties)


def ngram_logprob(
    df: DataFrame,
    n: int = 3,
    min_count: int = 2,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Order-``n`` corpus LM quality score with Stupid Backoff (Brants
    et al. 2007 — the web-scale LM smoothing that needs NO discount
    normalization, so every probability stays a RATIONAL function of
    integer counts and the score is exactly reproducible on any
    engine): per document, the mean negative log-score of its tokens
    under the corpus's own pruned n-gram model. This is the order-n
    ladder above :func:`unigram_logprob` (order-0) — the CCNet
    perplexity-filter signal with the LM kept relational instead of
    client-side KenLM.

    Scoring rule per position i (``n=3``): use the trigram conditional
    ``c3(w_{i-2..i}) / c2(w_{i-2..i-1})`` when the trigram survives
    pruning (``c3 >= min_count``); else back off with factor ``alpha``
    to the bigram conditional, else ``alpha^2`` to the unigram
    ``c1(w)/T``. Self-scoring makes every n-gram count >= 1, so
    ``min_count=1`` never backs off and the knob cleanly controls how
    much of the model's tail is pruned away (singleton n-grams are
    exactly what a stored web-scale model drops). ``alpha`` powers are
    injected as PYTHON-computed double literals, never ``pow()`` —
    pow is not correctly-rounded on every engine, a product of parsed
    literals is bit-stable everywhere.

    Plan shape: gram keys (w, bigram, trigram) are built by ``lag``
    windows over the position stream — MEASURED against the map-side
    alternative (a ``transform`` lambda indexing the token array):
    the higher-order function is INTERPRETED per element and took
    9.4-11.8 s on the sf0.1 token stream vs **0.25-0.42 s** for the
    codegen'd window lags (~30x, the same interpreted-HOF trap this
    repo measured for minhash signatures), so the window's one
    id-keyed token-stream exchange buys back far more CPU than it
    costs. One count aggregate per order (map-side combining, shuffle
    rows = |order-k vocab|, Zipf-bounded); count tables re-join the
    position stream on the raw gram strings (the
    :func:`unigram_logprob` measurement applies: short-key shuffles
    compress better raw than hashed). CONTEXT counts are NOT extra
    joins: the context gram of position i IS position i-1's gram, so
    a second ``lag`` window over the same (id, pos) key recovers both
    denominators — instead of two more corpus-position gram-keyed
    joins. Final per-doc aggregate rides the same partitioning.

    Output: (id_col, n_tokens, avg_neg_logprob, backoff_frac) —
    ``backoff_frac`` is the fraction of positions that backed off at
    least one order (an auditable pruning-pressure signal; 0.0 at
    min_count=1). Zero-token docs score 0.0/0.0 via the map-side
    backfill (no evidence, never filtered).
    """
    if n not in (2, 3):
        raise ValueError(f"ngram_logprob: n must be 2 or 3, got {n}")
    if min_count < 1:
        raise ValueError(f"ngram_logprob: min_count must be >= 1, got {min_count}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"ngram_logprob: alpha must be in (0, 1], got {alpha}")
    a1 = float(alpha)
    a2 = float(alpha * alpha)

    from pyspark.sql import Window

    win = Window.partitionBy("id").orderBy("pos")
    pos_stream = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    w1, w2 = F.lag("w", 1).over(win), F.lag("w", 2).over(win)
    # concat is NULL-propagating in BOTH engines: a missing lag (the
    # first one/two positions) nulls the whole gram, exactly the
    # availability rule the scoring branches key on
    tri_col = (
        F.concat(w2, F.lit(" "), w1, F.lit(" "), F.col("w"))
        if n == 3
        else F.lit(None).cast("string")
    )
    grams = pos_stream.select(
        "id",
        "pos",
        "w",
        F.concat(w1, F.lit(" "), F.col("w")).alias("b"),
        tri_col.alias("t3"),
    )
    c1 = grams.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    c2 = (
        grams.filter(F.col("b").isNotNull())
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    total = c1.agg(F.sum("c1").alias("_T"))
    j = grams.join(c1, "w").join(c2, "b", "left")
    if n == 3:
        c3 = (
            grams.filter(F.col("t3").isNotNull())
            .groupBy("t3")
            .agg(F.count(F.lit(1)).alias("c3"))
        )
        j = j.join(c3, "t3", "left")
    else:
        j = j.withColumn("c3", F.lit(None).cast("long"))
    j = j.crossJoin(F.broadcast(total)).select(
        "id",
        "pos",
        "c1",
        "c2",
        "c3",
        "_T",
        F.lag("c1").over(win).alias("c1p"),
        F.lag("c2").over(win).alias("c2p"),
    )
    pos, c1_, c2_, c3_ = (F.col(x) for x in ("pos", "c1", "c2", "c3"))
    c1p, c2p, T = F.col("c1p"), F.col("c2p"), F.col("_T")
    dbl = lambda c: c.cast("double")  # noqa: E731
    mc = F.lit(min_count)
    # branch order mirrored EXACTLY in the oracle SQL
    if n == 3:
        ratio = (
            F.when((pos >= 2) & (c3_ >= mc), dbl(c3_) / dbl(c2p))
            .when((pos >= 2) & (c2_ >= mc), F.lit(a1) * (dbl(c2_) / dbl(c1p)))
            .when(pos >= 2, F.lit(a2) * (dbl(c1_) / dbl(T)))
            .when((pos == 1) & (c2_ >= mc), dbl(c2_) / dbl(c1p))
            .when(pos == 1, F.lit(a1) * (dbl(c1_) / dbl(T)))
            .otherwise(dbl(c1_) / dbl(T))
        )
        backed = (
            F.when((pos >= 2) & (c3_ >= mc), 0)
            .when((pos == 1) & (c2_ >= mc), 0)
            .when(pos == 0, 0)
            .otherwise(1)
        )
    else:
        ratio = (
            F.when((pos >= 1) & (c2_ >= mc), dbl(c2_) / dbl(c1p))
            .when(pos >= 1, F.lit(a1) * (dbl(c1_) / dbl(T)))
            .otherwise(dbl(c1_) / dbl(T))
        )
        backed = F.when((pos >= 1) & (c2_ < mc), 1).otherwise(0)
    out = (
        j.select("id", (-F.log(ratio)).alias("_nl"), backed.alias("_bo"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("_nl"), 6).alias("avg_neg_logprob"),
            F.round(F.avg(F.col("_bo").cast("double")), 6).alias(
                "backoff_frac"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "avg_neg_logprob",
            "backoff_frac",
        )
    )
    empties = df.filter(F.size(tokens(F.col(text_col))) == 0).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0.0).alias("avg_neg_logprob"),
        F.lit(0.0).alias("backoff_frac"),
    )
    return out.unionByName(empties)


def top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the ``k`` highest
    ``tf * ln(N / df)`` terms per document (raw term frequency;
    smooth-free idf is exact rational-over-integers inside the log, so
    both engines see identical doubles), ties broken by term string
    ascending — the classic corpus-summarization/labeling signal
    (salient-term panels on dataset cards, cluster naming, index
    keywords).

    Output: (id_col, rank, term, tf, df, round(tfidf, 6)). Documents
    with no tokens emit no rows (keywords of nothing are nothing —
    unlike scores, absence is the honest answer here).

    Plan shape (the :func:`unigram_logprob` family): one explode →
    per-(doc, term) count (map-side combine) → term df table (one more
    combine over the distinct doc-term stream) → equi-join back on the
    raw term string (the measured short-key regime) → per-doc top-k
    window. The window partitions on the document id — corpus-id
    cardinality with ≤ |distinct terms per doc| rows each, never a
    global sort. A term appearing in EVERY document scores exactly 0
    (ln 1) and still ranks — deliberately unfiltered; callers wanting
    stopword pruning compose ``max_df_ratio`` upstream like bm25.
    """
    if k < 1:
        raise ValueError(f"top_terms: k must be >= 1, got {k}")
    from pyspark.sql import Window

    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = ex.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("_n")
    )
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs))
    tfidf = F.col("tf") * F.log(F.col("_n") / F.col("df"))
    w = Window.partitionBy("id").orderBy(
        F.desc(tfidf), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(tfidf, 6).alias("tfidf"),
        )
    )
