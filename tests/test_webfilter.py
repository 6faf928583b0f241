"""C4 line-rule cleaning + Gopher line-shape rules (webfilter.py):
per-rule semantics, pinned trim/word definitions, doc flags, and the
map-only plan contract (no Exchange — a per-document answer must never
cost a corpus-line shuffle)."""

import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.textstats import LINE_TRIM_CHARS
from table_ocr_spark.operators.webfilter import (
    _PY_WS,
    C4_DOC_BLOCKLIST,
    C4_LINE_BLOCKLIST,
    C4_MIN_KEPT_LINES,
    C4_MIN_WORDS_PER_LINE,
    C4_TERMINAL_PUNCT_RE,
    GOPHER_BULLET_RE,
    GOPHER_ELLIPSIS_RE,
    GOPHER_MAX_BULLET_FRAC,
    GOPHER_MAX_ELLIPSIS_FRAC,
    GOPHER_MIN_ALPHA_FRAC,
    GOPHER_MIN_STOPWORDS,
    GOPHER_STOPWORDS,
    c4_clean,
    gopher_line_rules,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # one line per rule: kept / too-short / line-blocklist /
        # no-terminal-punct / bullet-kept / ellipsis-dropped / kept
        (
            1,
            "The first good line stays here.\n"
            "short one\n"
            "please enable JavaScript to continue.\n"
            "no terminal punctuation on this line\n"
            "- the bullet item stays right here.\n"
            "to be continued and more…\n"
            "the final line is here.",
        ),
        # doc-blocklist phrase (case-insensitive) flags the doc even
        # though every line individually passes
        (2, "Lorem Ipsum dolor sit amet.\nKeeps this line too.\nAnd a third good line here."),
        # brace doc: the brace line itself also fails terminal punct
        (3, "function() { return 1; }\nA fine line one stays.\nA fine line two stays.\nA fine line three stays."),
        (4, None),
        (5, "  \t\r\n\r\n"),  # whitespace-only -> zero lines
        # quote/bang/question terminal punctuation all count
        (6, "He said \"stop right there!\"\nIs this a question line?\nIt ends with an apostrophe'"),
        # cookie + privacy policy blocklist hits
        (7, "We use cookie banners here.\nRead our privacy policy now.\nOnly this good line survives here.\nAnd this second good one does.\nAnd a third one to pass."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _row(df, doc_id):
    return df.filter(F.col("doc_id") == doc_id).collect()[0]


class TestC4Clean:
    def test_line_rules(self, docs):
        r = _row(c4_clean(docs), 1)
        assert r.n_lines == 7
        assert r.n_kept == 3
        assert r.text_clean.split("\n") == [
            "The first good line stays here.",
            "- the bullet item stays right here.",
            "the final line is here.",
        ]
        assert r.c4_pass  # 3 kept == C4_MIN_KEPT_LINES

    def test_doc_blocklist_case_insensitive(self, docs):
        r = _row(c4_clean(docs), 2)
        assert r.n_kept == 3 and r.has_doc_blocklist and not r.c4_pass

    def test_brace_flag(self, docs):
        r = _row(c4_clean(docs), 3)
        assert r.has_brace and not r.c4_pass
        assert r.n_kept == 3  # the brace line fails terminal punct

    def test_null_and_whitespace_text(self, docs):
        out = {r.doc_id: r for r in c4_clean(docs).collect()}
        for did in (4, 5):
            r = out[did]
            assert r.n_lines == 0 and r.n_kept == 0
            assert r.text_clean == "" and not r.c4_pass

    def test_terminal_punct_set(self, docs):
        r = _row(c4_clean(docs), 6)
        assert r.n_kept == 3 and r.c4_pass

    def test_line_blocklist_phrases(self, docs):
        r = _row(c4_clean(docs), 7)
        assert r.n_kept == 3 and r.n_dropped == 2 and r.c4_pass

    def test_min_kept_lines_threshold(self, docs):
        strict = c4_clean(docs, min_kept_lines=C4_MIN_KEPT_LINES + 1)
        assert not _row(strict, 1).c4_pass

    def test_map_only_plan(self, docs):
        plan = c4_clean(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestGopherLineRules:
    def test_bullet_and_ellipsis_fractions(self, spark):
        df = spark.createDataFrame(
            [(1, "- b one.\n* b two.\n• b three.\nplain line here.\ntrailing dots...\nunicode dots…")],
            "doc_id long, text string",
        )
        r = gopher_line_rules(df).collect()[0]
        assert r.n_lines == 6
        assert r.bullet_start_frac == 0.5
        assert abs(r.ellipsis_end_frac - round(2 / 6, 6)) < 1e-9
        assert not r.passes_ellipsis and r.passes_bullet

    def test_alpha_word_frac_and_stopwords(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the quick fox went to be of and that have with all."),
                (2, "12345 67890 11 22 33"),  # zero alphabetic words
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in gopher_line_rules(df).collect()}
        assert out[1].alpha_word_frac == 1.0
        assert out[1].n_stopword_types == 8 and out[1].gopher_line_pass
        assert out[2].alpha_word_frac == 0.0
        assert out[2].n_stopword_types == 0 and not out[2].gopher_line_pass

    def test_stopword_types_are_distinct(self, spark):
        # 'the' five times is ONE stopword type (Gopher counts types,
        # unlike textstats.stopword_hits' token count)
        df = spark.createDataFrame(
            [(1, "the the the the the word word word word word here.")],
            "doc_id long, text string",
        )
        r = gopher_line_rules(df).collect()[0]
        assert r.n_stopword_types == 1 and not r.passes_stopwords

    def test_empty_doc(self, spark):
        df = spark.createDataFrame([(1, None)], "doc_id long, text string")
        r = gopher_line_rules(df).collect()[0]
        assert r.n_lines == 0 and r.alpha_word_frac == 0.0
        assert r.passes_bullet and r.passes_ellipsis  # vacuous <= rules
        assert not r.gopher_line_pass  # alpha/stopword floors fail

    def test_map_only_plan(self, spark):
        df = spark.createDataFrame([(1, "x.")], "doc_id long, text string")
        plan = (
            gopher_line_rules(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on the decimal
    representation, not Python's round-half-even on the binary."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _py_lines(t: str) -> list:
    return [ln for ln in (ln.strip(LINE_TRIM_CHARS) for ln in t.split("\n")) if ln]


def _py_words(s: str) -> list:
    # Java regex \s is ASCII; Python's unicode \s would split on NBSP
    return [w for w in re.split(_PY_WS, s) if w]


def _c4_reference(doc_id, text) -> dict:
    """Plain-Python c4_clean row for one document."""
    t = text or ""
    lines = _py_lines(t)
    kept = [
        ln
        for ln in lines
        if re.search(C4_TERMINAL_PUNCT_RE, ln)
        and len(_py_words(ln)) >= C4_MIN_WORDS_PER_LINE
        and not any(p in ln.lower() for p in C4_LINE_BLOCKLIST)
    ]
    doc_block = any(p in t.lower() for p in C4_DOC_BLOCKLIST)
    brace = "{" in t
    return {
        "doc_id": doc_id,
        "text_clean": "\n".join(kept),
        "n_lines": len(lines),
        "n_kept": len(kept),
        "n_dropped": len(lines) - len(kept),
        "has_doc_blocklist": doc_block,
        "has_brace": brace,
        "c4_pass": not doc_block and not brace
        and len(kept) >= C4_MIN_KEPT_LINES,
    }


def _gopher_reference(doc_id, text) -> dict:
    """Plain-Python gopher_line_rules row for one document."""
    t = text or ""
    lines = _py_lines(t)
    toks = _py_words(t)
    n_l, n_t = max(len(lines), 1), max(len(toks), 1)
    bullet = _round6(
        sum(1 for ln in lines if re.search(GOPHER_BULLET_RE, ln)) / n_l
    )
    ellipsis = _round6(
        sum(1 for ln in lines if re.search(GOPHER_ELLIPSIS_RE, ln)) / n_l
    )
    alpha = _round6(sum(1 for w in toks if re.search("[A-Za-z]", w)) / n_t)
    n_stop = len(set(GOPHER_STOPWORDS).intersection(w.lower() for w in toks))
    passes = {
        "passes_bullet": bullet <= GOPHER_MAX_BULLET_FRAC,
        "passes_ellipsis": ellipsis <= GOPHER_MAX_ELLIPSIS_FRAC,
        "passes_alpha": alpha >= GOPHER_MIN_ALPHA_FRAC,
        "passes_stopwords": n_stop >= GOPHER_MIN_STOPWORDS,
    }
    return {
        "doc_id": doc_id,
        "n_lines": len(lines),
        "bullet_start_frac": bullet,
        "ellipsis_end_frac": ellipsis,
        "alpha_word_frac": alpha,
        "n_stopword_types": n_stop,
        **passes,
        "gopher_line_pass": all(passes.values()),
    }


class TestEngineTwins:
    """Both operators are pinned to plain-Python per-row references —
    including the whitespace class (Java \\s is ASCII; the references
    use the explicit _PY_WS class, NOT Python's unicode \\s) and the
    trim set. NBSP and CRLF are the trap cases."""

    @pytest.fixture(scope="class")
    def nasty(self, spark, docs):
        extra = spark.createDataFrame(
            [
                # NBSP between words: it is not a word separator, so
                # 'two\xa0words here.' is 2 words -> dropped
                (100, "two\xa0words here.\nA real kept line stays."),
                # CRLF endings: \r is in the trim set
                (101, "crlf line one stays fine.\r\ncrlf two keeps going.\r\n"),
                # vertical tab is NOT in the trim set but IS a word
                # separator in both regex dialects
                (102, "\x0bleading vtab line stays here.\nall\x0bsplit\x0bwords."),
                (103, "…\n...\n- \n'"),
            ],
            "doc_id long, text string",
        )
        return docs.union(extra)

    @staticmethod
    def _check(op_df, reference, nasty):
        got = {r.doc_id: r.asDict() for r in op_df.collect()}
        want = {
            r.doc_id: reference(r.doc_id, r.text) for r in nasty.collect()
        }
        assert set(got) == set(want)
        for did in want:
            assert got[did] == want[did], did

    def test_c4_differential(self, nasty):
        self._check(c4_clean(nasty), _c4_reference, nasty)

    def test_gopher_differential(self, nasty):
        self._check(gopher_line_rules(nasty), _gopher_reference, nasty)


class TestGopherRepetition:
    """webfilter.gopher_repetition_rules: the full A1.2 ruleset —
    hand-computed fractions, position-union coverage, tie-breaks,
    NULL/empty behavior, bit-identity of the line rules with
    textstats.line_repetition_stats, and the map-only plan contract."""

    @pytest.fixture(scope="class")
    def rep_docs(self, spark):
        rows = [
            # para A (2 dup lines) ⊕ unique para ⊕ para A again:
            # lines n=5 dup=4; line chars 54 dup 20; paras n=3 dup=2,
            # chars 56 dup 22; tokens=17, token chars=42
            (
                1,
                "x y z\nx y z\n\nunique middle paragraph words here\n\n"
                "x y z\nx y z",
            ),
            # "a b c d e" twice, 10 of 15 single-char tokens covered
            # at n=5; no 6-gram repeats; top 2-gram mass 2*2=4 of 15
            (2, "a b c d e q r s t u a b c d e"),
            (3, ""),
            (4, None),
            # top-2-gram tie-break: ("bb","bb") and ("c","c") both
            # occur twice; max char-len wins -> mass 2*4=8 of 15
            (5, "bb bb x bb bb y c c z c c"),
            # singleton top gram is NOT repetition: every 2-gram
            # occurs once -> top_2gram mass 0
            (6, "p q r s"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.fixture(scope="class")
    def rep(self, rep_docs):
        from table_ocr_spark.operators.webfilter import (
            gopher_repetition_rules,
        )

        return {
            r.doc_id: r.asDict()
            for r in gopher_repetition_rules(rep_docs).collect()
        }

    def test_line_para_fractions(self, rep):
        a = rep[1]
        assert a["dup_line_frac"] == 0.8
        assert a["dup_line_char_frac"] == round(20 / 54, 6)
        assert a["dup_para_frac"] == 0.666667
        assert a["dup_para_char_frac"] == round(22 / 56, 6)
        assert not a["passes_dup_line_frac"]
        assert not a["repetition_pass"]

    def test_dup_gram_position_union(self, rep):
        b = rep[2]
        assert b["dup_5gram_char_frac"] == 0.666667
        assert b["dup_6gram_char_frac"] == 0.0
        assert b["top_2gram_char_frac"] == round(4 / 15, 6)

    def test_top_gram_tiebreak_max_charlen(self, rep):
        # both candidate grams have count 2; ("bb","bb") has char
        # len 4 vs ("c","c") len 2 -> mass 8 over 15 token chars
        assert rep[5]["top_2gram_char_frac"] == round(8 / 15, 6)

    def test_singleton_top_gram_is_zero(self, rep):
        assert rep[6]["top_2gram_char_frac"] == 0.0
        assert rep[6]["repetition_pass"]

    def test_empty_and_null_pass(self, rep):
        for did in (3, 4):
            assert rep[did]["repetition_pass"], did
            fracs = [
                v
                for k, v in rep[did].items()
                if k.endswith("_frac") and not k.startswith("passes_")
            ]
            assert fracs and all(v == 0.0 for v in fracs), did

    def test_line_rules_bit_identical_to_textstats(self, spark):
        from table_ocr_spark.operators.textstats import (
            line_repetition_stats,
        )
        from table_ocr_spark.operators.webfilter import (
            gopher_repetition_rules,
        )

        docs = spark.range(40).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("header line\nbody "),
                F.col("id").cast("string"),
                F.lit(" words\nheader line\n\ttrailing\t\n  \n"),
                F.when(F.col("id") % 3 == 0, F.lit("header line")).otherwise(
                    F.lit("unique tail")
                ),
            ).alias("text"),
        )
        a = {
            r.doc_id: (r.dup_line_frac, r.dup_line_char_frac)
            for r in gopher_repetition_rules(docs).collect()
        }
        b = {
            r.doc_id: (r.dup_line_frac, r.dup_line_char_frac)
            for r in line_repetition_stats(docs).collect()
        }
        assert a == b

    def test_map_only_plan(self, rep_docs):
        from table_ocr_spark.operators.webfilter import (
            gopher_repetition_rules,
        )

        plan = (
            gopher_repetition_rules(rep_docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_threshold_override_and_unknown_rule(self, rep_docs):
        from table_ocr_spark.operators.webfilter import (
            gopher_repetition_rules,
        )

        # doc 2's dup_5gram_char_frac = 0.666667 passes a loose bound
        loose = gopher_repetition_rules(
            rep_docs, thresholds={"dup_5gram_char_frac": 0.7}
        )
        r = _row(loose, 2)
        assert r.passes_dup_5gram_char_frac
        with pytest.raises(ValueError):
            gopher_repetition_rules(rep_docs, thresholds={"nope": 0.5})
