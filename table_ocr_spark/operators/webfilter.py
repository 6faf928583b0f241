"""Webtext line-rule filters: C4-style within-document line cleaning
(Raffel et al. 2020, §2.2) and Gopher-style line-shape document rules
(Rae et al. 2021, A1.1). These are the two classic crawl-cleaning
passes the corpus already-shipped operators do NOT cover:
:func:`textstats.remove_repeated_lines` deletes lines repeated ACROSS
documents (a corpus-level anti-join), while C4's rules are purely
DOC-LOCAL — a line lives or dies on its own shape — so the whole
operator is map-only and never leaves the row.

The reference has no webtext layer (its corpus is OCR result JSON,
``table_ocr/core.py``); these are the crawl-side analogues its
extraction stage would feed at pretraining scale.

Scale shape (100 TB argument): zero exchanges, zero joins, zero
Python. Lines are bound to an array column once (`split` + trim,
whole-stage codegen), then every rule is a `filter`/`transform`
higher-order function over that bound column. HOF lambdas run
interpreted, but each is a SINGLE linear pass per document (the
measured O(n^2) HOF trap was re-evaluating an unbound expression per
element — BASELINE.md round-1); the alternative shape (posexplode ->
per-line predicate -> groupBy reassembly) costs a full corpus-line
exchange to compute a per-document answer, exactly the anti-pattern
:func:`textstats.repetition_stats` was rebuilt to avoid.

Pinned definitions (shared with ``__spark_entry__.oracle_sql``):
- line           := segment of split('\\n') trimmed of ``' \\t\\r'``
                    (textstats.LINE_TRIM_CHARS), empties dropped
- word           := maximal \\s+-separated run within a line (drop '')
- terminal punct := line matches ``[.!?"']$``
- blocklist hit  := lowercased line CONTAINS the pinned phrase
- doc blocklist  := lowercased full text CONTAINS the phrase
- bullet line    := line matches ``^[-*•]``
- ellipsis line  := line matches ``(\\.\\.\\.|…)$``
- alphabetic word:= word matches ``[A-Za-z]``
- stop hit       := DISTINCT pinned stopwords present as lowercased
                    tokens of the full text (Gopher counts distinct
                    stopword TYPES, unlike textstats.stopword_hits'
                    non-distinct token count)
- fractions      := x / max(n, 1), rounded 6 dp
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# PARA_TRIM_CHARS / PARA_SPLIT_RE: the one paragraph definition —
# shared with remove_repeated_paragraphs and the SQL oracles
from .textstats import (
    LINE_TRIM_CHARS,
    PARA_SPLIT_RE,
    PARA_TRIM_CHARS,
    tokens,
)

# --- C4 pins (Raffel et al. 2020 §2.2, values pinned for the oracle;
# swap per-corpus in production) ---
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_KEPT_LINES = 3
C4_TERMINAL_PUNCT_RE = "[.!?\"']$"
C4_LINE_BLOCKLIST = ("javascript", "cookie", "privacy policy")
C4_DOC_BLOCKLIST = ("lorem ipsum",)

# --- Gopher repetition pins (Rae et al. 2021 A1.2, Table A1) ---
# rule -> max allowed fraction; a doc passes a rule iff its ROUNDED
# (6 dp) fraction is <= the threshold, and passes overall iff it
# passes all 13. Values are the paper's; swap per-corpus in production.
GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}
# --- Gopher pins (Rae et al. 2021 A1.1) ---
GOPHER_BULLET_RE = "^[-*•]"
GOPHER_ELLIPSIS_RE = "(\\.\\.\\.|…)$"
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


# Python pin for _repetition_kernel_udf's tokens: Java regex \s is
# ASCII [ \t\n\x0B\f\r] while Python re \s matches Unicode whitespace,
# so the kernel MUST use this explicit class or it splits NBSP-bearing
# crawl text where tokens() does not (same twin-pinning discipline as
# kernel/textops.py's fence stripper and its JVM twin).
_PY_WS = "[ \t\n\x0b\f\r]+"


def _trimmed_lines(text_col: str) -> Column:
    """Bound array of non-empty lines trimmed of the pinned set. The
    trim charset form only exists as SQL syntax (``TRIM(BOTH ... )``),
    hence expr; the surrounding filter/transform are the same HOFs the
    F.* API would build."""
    return F.expr(
        f"filter(transform(split({text_col}, '\\n'), "
        f"l -> trim(BOTH '{LINE_TRIM_CHARS}' FROM l)), l -> l <> '')"
    )


def _min_words_re(k: int) -> str:
    """Regex equivalent of 'has >= k words': k non-space runs with
    whitespace between — ``(\\S+\\s+){k-1}\\S``. One regex probe per
    line measured 18% faster than the nested split->filter->size HOF
    (12.9 vs 15.8 s at 1M docs). Equivalence: >= k words means the
    first k words w1..wk appear as w1 \\s+ ... \\s+ wk, which the
    greedy pattern matches; conversely a match exhibits k non-space
    runs separated by whitespace. Java \\S == NOT [ \\t\\n\\x0B\\f\\r]
    (ASCII only: NBSP is not a word separator)."""
    return r"(\S+\s+){%d}\S" % (k - 1)


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4 line-rule cleaning: keep a line iff it ends in terminal
    punctuation AND has >= ``min_words_per_line`` words AND contains no
    blocklisted phrase; flag (not silently drop — filters must be
    auditable columns, the :func:`textstats.gopher_quality` doctrine)
    documents containing a doc-blocklist phrase or ``{`` (C4's
    source-code tell), or keeping fewer than ``min_kept_lines`` lines.

    Output: (id_col, text_clean, n_lines, n_kept, n_dropped,
    has_doc_blocklist, has_brace, c4_pass). ``text_clean`` is the kept
    lines joined by ``\\n`` regardless of the doc flags — a production
    pipeline completes the drop with ``.filter("c4_pass")``.
    Map-only; plan contains no Exchange (plan-asserted in tests).

    UDF-free column expressions, whole-stage codegen'd around one HOF
    line pass. An Arrow-batch kernel of the same rules measured slower
    at 1M docs (24.7 vs 14.6 s, BASELINE.md r4): the alternative here
    is a linear HOF, not a corpus exchange, so the Arrow text transfer
    and Python loop buy nothing.
    """
    lined = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).select(id_col, "_t", _trimmed_lines("_t").alias("_lines"))

    def _keep(line: Column) -> Column:
        ok = line.rlike(C4_TERMINAL_PUNCT_RE)
        if min_words_per_line >= 1:
            ok = ok & line.rlike(_min_words_re(min_words_per_line))
        low = F.lower(line)
        for phrase in C4_LINE_BLOCKLIST:
            ok = ok & ~low.contains(phrase)
        return ok

    kept = F.filter(F.col("_lines"), _keep)
    st = lined.select(
        id_col,
        F.size("_lines").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("text_clean"),
        F.lower("_t").alias("_low"),
        F.col("_t").contains("{").alias("has_brace"),
    )
    has_doc_block = F.lit(False)
    for phrase in C4_DOC_BLOCKLIST:
        has_doc_block = has_doc_block | F.col("_low").contains(phrase)
    c4_pass = (
        ~has_doc_block
        & ~F.col("has_brace")
        & (F.col("n_kept") >= min_kept_lines)
    )
    return st.select(
        id_col,
        "text_clean",
        "n_lines",
        "n_kept",
        (F.col("n_lines") - F.col("n_kept")).alias("n_dropped"),
        has_doc_block.alias("has_doc_blocklist"),
        "has_brace",
        c4_pass.alias("c4_pass"),
    )


def gopher_line_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher document-SHAPE rules — the line-start/line-end/word-form
    axis :func:`textstats.gopher_quality` (length / mean-word-length /
    symbol-ratio) does not cover: bullet-started line fraction <= 0.9,
    ellipsis-ended line fraction <= 0.3, fraction of words containing
    an alphabetic character >= 0.8, and >= 2 distinct pinned stopwords
    present. Emits per-rule stats + flags + the conjunction.
    Map-only; plan contains no Exchange (plan-asserted in tests).

    UDF-free: six HOF passes over the bound line and token arrays. An
    Arrow-batch kernel of the same counts measured even at 1M docs
    (36.7 vs 35.7 s, BASELINE.md r4), so the UDF-free form is the one
    engine. (A third strategy — whole-text multiline ``regexp_count`` +
    per-stopword ``rlike``, zero HOFs — measured 70.3 s: N full-text
    regex scans lose to one line pass.)
    """
    lined = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
    ).select(
        id_col,
        _trimmed_lines("_t").alias("_lines"),
        tokens(F.col("_t")).alias("_toks"),
    )
    n_lines = F.size("_lines").cast("long")
    n_toks = F.size("_toks").cast("long")
    bullet = F.size(
        F.filter(F.col("_lines"), lambda l: l.rlike(GOPHER_BULLET_RE))
    ).cast("long")
    ellipsis = F.size(
        F.filter(F.col("_lines"), lambda l: l.rlike(GOPHER_ELLIPSIS_RE))
    ).cast("long")
    alpha = F.size(
        F.filter(F.col("_toks"), lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    toks_low = F.transform(F.col("_toks"), F.lower)
    n_stop = sum(
        (
            F.array_contains(toks_low, w).cast("int")
            for w in GOPHER_STOPWORDS
        ),
        F.lit(0),
    ).cast("long")
    st = lined.select(
        id_col,
        n_lines.alias("n_lines"),
        F.round(bullet / F.greatest(n_lines, F.lit(1)), 6).alias(
            "bullet_start_frac"
        ),
        F.round(ellipsis / F.greatest(n_lines, F.lit(1)), 6).alias(
            "ellipsis_end_frac"
        ),
        F.round(alpha / F.greatest(n_toks, F.lit(1)), 6).alias(
            "alpha_word_frac"
        ),
        n_stop.alias("n_stopword_types"),
    )
    p_bullet = F.col("bullet_start_frac") <= GOPHER_MAX_BULLET_FRAC
    p_ellipsis = F.col("ellipsis_end_frac") <= GOPHER_MAX_ELLIPSIS_FRAC
    p_alpha = F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC
    p_stop = F.col("n_stopword_types") >= GOPHER_MIN_STOPWORDS
    return st.select(
        "*",
        p_bullet.alias("passes_bullet"),
        p_ellipsis.alias("passes_ellipsis"),
        p_alpha.alias("passes_alpha"),
        p_stop.alias("passes_stopwords"),
        (p_bullet & p_ellipsis & p_alpha & p_stop).alias(
            "gopher_line_pass"
        ),
    )


def _repetition_kernel_udf():
    """text -> raw repetition counts in one Arrow batch; every
    fraction and flag derives JVM-side from these integers, so the
    only cross-engine arithmetic is one final round(x, 6) per column
    (the same integers-out-of-the-kernel discipline as
    textstats._line_stats_udf).

    Emitted per document:
    - line/paragraph duplicate-group mass: (n, dup_n, chars,
      dup_chars) over trimmed non-empty lines (split '\\n', trim
      LINE_TRIM_CHARS) and paragraphs (split /\\n{2,}/, trim
      PARA_TRIM_CHARS); a unit is 'duplicated' iff its trimmed
      content occurs >= 2 times in the SAME document.
    - total_token_chars: sum of token lengths (tokens := _PY_WS
      splits, empties dropped) — the denominator for every n-gram
      fraction (whitespace-insensitive, unlike len(text)).
    - top_{2,3,4}_mass: count * char-length of the most frequent
      n-gram, 0 when the top count is < 2 (a singleton top gram is
      not repetition); char-length of a gram := sum of its token
      lengths. Tie-break (pinned, oracle-mirrored): max count, then
      max char-length, then MIN space-joined gram string.
    - cov_{5..10}: char mass of the UNION of token positions covered
      by occurrences of n-grams appearing >= 2 times (each position
      counted once — the Rae et al. 'take care not to count
      characters twice' semantics; we pin position-union rather than
      the greedy skip-ahead scan some implementations use, because
      union is order-independent and exactly expressible in SQL).

    Per-doc Counter work is exactly the measured Arrow-kernel regime
    (textstats doctrine): the expression alternative is a corpus-wide
    explode->groupBy per n — nine exchanges to compute map-side
    facts."""
    import pandas as pd

    schema = (
        "n_lines long, dup_lines long, line_chars long, "
        "dup_line_chars long, n_paras long, dup_paras long, "
        "para_chars long, dup_para_chars long, total_token_chars long, "
        "top_2_mass long, top_3_mass long, top_4_mass long, "
        "cov_5 long, cov_6 long, cov_7 long, cov_8 long, "
        "cov_9 long, cov_10 long"
    )

    @F.pandas_udf(schema)
    def udf(texts):  # type: ignore[no-untyped-def]
        import re
        from collections import Counter

        ws = re.compile(_PY_WS)
        para_split = re.compile(PARA_SPLIT_RE)
        cols: dict[str, list[int]] = {
            k: []
            for k in (
                "n_lines dup_lines line_chars dup_line_chars "
                "n_paras dup_paras para_chars dup_para_chars "
                "total_token_chars top_2_mass top_3_mass top_4_mass "
                "cov_5 cov_6 cov_7 cov_8 cov_9 cov_10"
            ).split()
        }

        def group_mass(units):
            c = Counter(units)
            n = len(units)
            dup = sum(v for v in c.values() if v >= 2)
            chars = sum(len(u) for u in units)
            dup_chars = sum(len(u) * v for u, v in c.items() if v >= 2)
            return n, dup, chars, dup_chars

        for t in texts:
            t = t or ""
            lines = [
                ln
                for ln in (
                    s.strip(LINE_TRIM_CHARS) for s in t.split("\n")
                )
                if ln
            ]
            paras = [
                p
                for p in (
                    s.strip(PARA_TRIM_CHARS) for s in para_split.split(t)
                )
                if p
            ]
            for pre, (a, b, c_, d) in (
                ("line", group_mass(lines)),
                ("para", group_mass(paras)),
            ):
                cols[f"n_{pre}s"].append(a)
                cols[f"dup_{pre}s"].append(b)
                cols[f"{pre}_chars"].append(c_)
                cols[f"dup_{pre}_chars"].append(d)
            toks = [w for w in ws.split(t) if w]
            lens = [len(w) for w in toks]
            cols["total_token_chars"].append(sum(lens))
            for n in (2, 3, 4):
                mass = 0
                if len(toks) >= n:
                    c = Counter(
                        tuple(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    )
                    top_c = max(c.values())
                    if top_c >= 2:
                        # pinned tie-break: count desc, char-len
                        # desc, joined string asc
                        g = min(
                            (k for k, v in c.items() if v == top_c),
                            key=lambda k: (
                                -sum(len(w) for w in k),
                                " ".join(k),
                            ),
                        )
                        mass = top_c * sum(len(w) for w in g)
                cols[f"top_{n}_mass"].append(mass)
            for n in range(5, 11):
                cov = 0
                if len(toks) >= n:
                    grams = [
                        tuple(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    ]
                    c = Counter(grams)
                    covered = bytearray(len(toks))
                    for i, g in enumerate(grams):
                        if c[g] >= 2:
                            for j in range(i, i + n):
                                covered[j] = 1
                    cov = sum(
                        ln for ln, hit in zip(lens, covered) if hit
                    )
                cols[f"cov_{n}"].append(cov)
        return pd.DataFrame(cols)

    return udf


def gopher_repetition_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """The complete Gopher within-document repetition ruleset (Rae et
    al. 2021 A1.2): duplicate line/paragraph fractions by count AND by
    character mass, top-{2,3,4}-gram character fraction, and
    duplicate-{5..10}-gram character coverage — the thirteen rules of
    Table A1, each as an auditable fraction column plus a pass flag,
    with ``repetition_pass`` as the conjunction.

    :func:`textstats.line_repetition_stats` covers only the two LINE
    rules; this operator subsumes them (bit-identical fractions —
    differential-tested) and adds the paragraph and n-gram axes.

    Pinned semantics (mirrored by the oracle SQL; see
    :func:`_repetition_kernel_udf` for each definition): fractions are
    integer-count ratios rounded 6 dp; line/paragraph fractions are
    over within-doc duplicate groups; n-gram fractions are over total
    token chars; a doc with no units passes everything (0 <= thr).
    Flags compare the ROUNDED fraction to the threshold so float noise
    cannot fork engines.

    Map-only: one Arrow kernel pass per document, no Exchange
    (plan-asserted in tests). 100-TB shape: per-doc Counters are
    microseconds each and embarrassingly parallel; the alternative —
    explode + groupBy per unit type and gram width — is NINE corpus
    exchanges for map-side facts (the textstats doctrine, measured).

    Reference parity note: the reference has no webtext layer
    (table_ocr/core.py processes OCR result JSON); this is the
    crawl-cleaning stage its extraction output would feed.
    """
    thr = dict(GOPHER_REP_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(thr)
        if unknown:
            raise ValueError(f"unknown repetition rules: {sorted(unknown)}")
        thr.update(thresholds)
    st = df.select(
        F.col(id_col),
        _repetition_kernel_udf()(
            F.coalesce(F.col(text_col), F.lit(""))
        ).alias("_r"),
    )

    def frac(num: str, den: str) -> Column:
        return F.round(
            F.col(f"_r.{num}")
            / F.greatest(F.col(f"_r.{den}"), F.lit(1)),
            6,
        )

    fracs = {
        "dup_line_frac": frac("dup_lines", "n_lines"),
        "dup_para_frac": frac("dup_paras", "n_paras"),
        "dup_line_char_frac": frac("dup_line_chars", "line_chars"),
        "dup_para_char_frac": frac("dup_para_chars", "para_chars"),
        **{
            f"top_{n}gram_char_frac": frac(
                f"top_{n}_mass", "total_token_chars"
            )
            for n in (2, 3, 4)
        },
        **{
            f"dup_{n}gram_char_frac": frac(
                f"cov_{n}", "total_token_chars"
            )
            for n in range(5, 11)
        },
    }
    out = st.select(
        F.col(id_col), *[c.alias(name) for name, c in fracs.items()]
    )
    passes = [
        (F.col(name) <= F.lit(thr[name])).alias(f"passes_{name}")
        for name in fracs
    ]
    conj = None
    for name in fracs:
        p = F.col(f"passes_{name}")
        conj = p if conj is None else (conj & p)
    return out.select("*", *passes).select(
        "*", conj.alias("repetition_pass")
    )
