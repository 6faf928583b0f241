"""BPE tokenizer: textbook-example pins, kernel↔order-apply
differential, determinism under repartitioning, NULL contract,
count/array consistency, and the pack_sequences weight integration
that makes the documented BPE-weight swap-in executable end to end."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.bpe import (
    EOW,
    MAX_TRAIN_DOCS,
    _apply_pair,
    _encode_word,
    _eow_collision,
    _word_seq,
    apply_bpe,
    bpe_token_count,
    train_bpe,
)


def _ranks(merges):
    return {tuple(m): i for i, m in enumerate(merges)}


def _train_merges_reference(vocab, n_merges):
    """The obvious recount-everything trainer — O(sample symbols) per
    merge. Slow and readable: the differential reference for the
    indexed ``bpe._train_merges``."""
    seqs = {w: _word_seq(w) for w in vocab}
    merges = []
    taken = set()
    guard = 0
    while len(merges) < n_merges and guard < 4 * n_merges + 100:
        guard += 1
        pairs = Counter()
        for w, freq in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                if not _eow_collision(*p):
                    pairs[p] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if best not in taken:  # re-emerged pair: merge, no new rank
            merges.append(best)
            taken.add(best)
        for w, s in seqs.items():
            if best[0] in s:
                seqs[w] = _apply_pair(s, *best)
    return merges


def _encode_word_by_order(word, merges):
    """Apply merges in LEARNED ORDER, each everywhere (the subword-nmt
    formulation). Equivalent to ``bpe._encode_word`` for every table
    that passes ``_check_merges`` (constructibility is exactly the
    property that makes the two formulations agree)."""
    s = _word_seq(word)
    for a, b in merges:
        if len(s) < 2:
            break
        if a in s:
            s = _apply_pair(s, a, b)
    return s


class TestTrain:
    def test_sennrich_example(self, spark):
        # the classic corpus from the paper: merges must start with the
        # highest-frequency adjacent pair; 'es' (newest x6 + widest x3
        # = 9) beats everything, then 'es'+'t', then 'est'+'</w>'
        docs = []
        for w, n in [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]:
            docs.extend([(w,)] * n)
        df = spark.createDataFrame(docs, ["text"])
        merges = train_bpe(df, 3, sample_docs=100)
        assert merges == [("e", "s"), ("es", "t"), ("est", EOW)]

    def test_deterministic_across_partitioning(self, spark):
        rng = random.Random(7)
        docs = [
            (" ".join(rng.choice("abcdef") * rng.randint(1, 4)
                      for _ in range(10)),)
            for _ in range(300)
        ]
        df = spark.createDataFrame(docs, ["text"])
        m1 = train_bpe(df.repartition(1), 12, sample_docs=200)
        m2 = train_bpe(df.repartition(7), 12, sample_docs=200)
        assert m1 == m2

    def test_sample_bound_enforced(self, spark):
        df = spark.createDataFrame([("x",)], ["text"])
        with pytest.raises(ValueError, match="bounded"):
            train_bpe(df, 5, sample_docs=MAX_TRAIN_DOCS + 1)
        with pytest.raises(ValueError, match="positive"):
            train_bpe(df, 0)

    def test_exhausted_vocab_stops_early(self, spark):
        # single 1-char word: only ('a', EOW) is learnable
        df = spark.createDataFrame([("a a a",)], ["text"])
        merges = train_bpe(df, 50, sample_docs=10)
        assert merges == [("a", EOW)]


class TestKernelDifferential:
    def test_matches_order_apply_on_random_corpora(self, spark):
        # learn real merge tables from random corpora, then pin the
        # fast rank-min kernel to the subword-nmt order-apply twin on
        # words INCLUDING ones never seen in training
        for seed in range(5):
            rng = random.Random(seed)
            alphabet = "abcd"
            docs = [
                (" ".join(
                    "".join(rng.choice(alphabet)
                            for _ in range(rng.randint(1, 8)))
                    for _ in range(20)
                ),)
                for _ in range(50)
            ]
            df = spark.createDataFrame(docs, ["text"])
            merges = train_bpe(df, 25, sample_docs=100)
            ranks = _ranks(merges)
            probe = ["".join(rng.choice(alphabet)
                             for _ in range(rng.randint(1, 12)))
                     for _ in range(200)]
            for w in probe:
                assert _encode_word(w, ranks, {}) == \
                    _encode_word_by_order(w, merges), (w, merges)

    def test_unmergeable_word_is_chars_plus_eow(self):
        assert _encode_word("xyz", _ranks([("a", "b")]), {}) == (
            "x", "y", "z", EOW,
        )

    def test_cache_hit_returns_same_object(self):
        cache = {}
        r = _ranks([("a", "b"), ("ab", EOW)])
        first = _encode_word("ab", r, cache)
        assert first == ("ab</w>",)
        assert _encode_word("ab", r, cache) is first


class TestValidator:
    def _df(self, spark):
        return spark.createDataFrame([(1, "ab abc")], ["doc_id", "text"])

    def test_fused_alphabet_rejected(self, spark):
        # subword-nmt's learn_bpe emits fused base symbols like 't</w>';
        # in this symbol space such a merge could never match and would
        # silently under-merge — it must be a loud error instead
        with pytest.raises(ValueError, match="single"):
            bpe_token_count(self._df(spark), [("es", "t" + EOW)])

    def test_out_of_order_rejected(self, spark):
        # ('ab','c') before ('a','b') makes the rank-min kernel and the
        # order-apply twin diverge; constructibility forbids it
        with pytest.raises(ValueError, match="earlier merge"):
            bpe_token_count(self._df(spark), [("ab", "c"), ("a", "b")])
        # same pairs in constructible order validate
        out = bpe_token_count(
            self._df(spark), [("a", "b"), ("ab", "c")]
        ).collect()
        assert out[0]["n_bpe_tokens"] == 4  # 'ab'+EOW, 'abc'+EOW

    def test_sentinel_spelling_rejected(self, spark):
        # chars merging into the literal sentinel string
        with pytest.raises(ValueError, match="sentinel"):
            bpe_token_count(
                self._df(spark), [("<", "/"), ("</", "w"), ("</w", ">")]
            )
        # boundary-spanning spelling: product 'x</w>' with clean sides
        with pytest.raises(ValueError, match="sentinel"):
            bpe_token_count(
                self._df(spark),
                [("x", "<"), ("/", "w"), ("/w", ">"), ("x<", "/w>")],
            )


class TestTrainerDifferential:
    def test_indexed_matches_reference(self):
        from table_ocr_spark.operators.bpe import _train_merges

        for seed in range(6):
            rng = random.Random(seed)
            vocab = {}
            for _ in range(120):
                w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 9)))
                vocab[w] = vocab.get(w, 0) + rng.randint(1, 20)
            # plant literal-sentinel text so the skip rule is exercised
            vocab["x" + EOW + "y"] = 15
            vocab[EOW] = 12
            for n in (1, 7, 40):
                assert _train_merges(dict(vocab), n) == \
                    _train_merges_reference(dict(vocab), n), (seed, n)


class TestSentinelSafety:
    def test_literal_sentinel_text_round_trips(self, spark):
        from table_ocr_spark.operators.bpe import _words

        df = spark.createDataFrame(
            [
                (1, "pre </w> post"),
                (2, "x</w>y low low"),
                (3, "</w></w>"),
            ],
            ["doc_id", "text"],
        )
        merges = train_bpe(df, 30, sample_docs=10)
        # trained tables always validate (the trainer skips
        # sentinel-spelling candidates under the validator's own rule)
        rows = apply_bpe(df, merges).collect()
        for r in rows:
            toks = r["bpe_tokens"]
            # no token smuggles the marker mid-string: it appears only
            # as the end-of-word suffix
            for t in toks:
                assert EOW not in t or t.endswith(EOW), toks
            # the boundary parse stays sound on sentinel-laden text
            words = _words(r["text"])
            rebuilt, cur = [], ""
            for t in toks:
                if t.endswith(EOW):
                    rebuilt.append(cur + t[: -len(EOW)])
                    cur = ""
                else:
                    cur += t
            assert rebuilt == words, (toks, words)


class TestApply:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "low low lower"),
                (2, "newest widest"),
                (3, None),
                (4, ""),
                (5, "  spaced\tout  "),
            ],
            ["doc_id", "text"],
        )

    @pytest.fixture(scope="class")
    def merges(self):
        return [("l", "o"), ("lo", "w"), ("low", EOW), ("e", "s")]

    def test_tokens_and_null_contract(self, spark, corpus, merges):
        rows = {
            r["doc_id"]: r["bpe_tokens"]
            for r in apply_bpe(corpus, merges).collect()
        }
        assert rows[1] == ["low</w>", "low</w>", "low", "e", "r", EOW]
        assert rows[3] == [] and rows[4] == []
        # ASCII-\s pretokenization: tabs and runs collapse
        assert rows[5] == list("spaced") + [EOW] + list("out") + [EOW]

    def test_count_equals_array_length(self, spark, corpus, merges):
        joined = (
            apply_bpe(corpus, merges)
            .join(bpe_token_count(corpus, merges), "doc_id")
            .select("doc_id", F.size("bpe_tokens").alias("n"), "n_bpe_tokens")
            .collect()
        )
        assert joined and all(r["n"] == r["n_bpe_tokens"] for r in joined)

    def test_invalid_merges_raise(self, spark, corpus):
        with pytest.raises(ValueError, match="pair"):
            bpe_token_count(corpus, [("a",)])
        with pytest.raises(ValueError, match="ambiguous"):
            bpe_token_count(corpus, [("a", "b"), ("a", "b")])
        # a flat token list is NOT a merge table — "ab" is a length-2
        # sequence of strings and must not decompose into ('a', 'b')
        with pytest.raises(ValueError, match="pair"):
            bpe_token_count(corpus, ["ab", "cd"])

    def test_real_corpus_round_trip(self, spark, sf_dir):
        # word-boundary conservation on real documents: EOW-terminated
        # tokens == whitespace word count, and concatenating a word's
        # tokens (EOW stripped) restores the word exactly
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .limit(50)
        )
        merges = train_bpe(docs, 40, sample_docs=50)
        out = apply_bpe(docs, merges).collect()
        assert out
        from table_ocr_spark.operators.bpe import _words

        for r in out:
            toks = r["bpe_tokens"]
            words = _words(r["text"]) if r["text"] else []
            assert sum(1 for t in toks if t.endswith(EOW)) == len(words)
            rebuilt, cur = [], ""
            for t in toks:
                if t.endswith(EOW):
                    rebuilt.append(cur + t[: -len(EOW)])
                    cur = ""
                else:
                    cur += t
            assert rebuilt == words


class TestPackingIntegration:
    def test_bpe_weights_drive_pack_sequences(self, spark):
        from table_ocr_spark.operators.packing import pack_sequences

        merges = [("a", "b"), ("ab", EOW)]
        df = spark.createDataFrame(
            [(1, "ab ab"), (2, "ab c"), (3, "c c c")], ["doc_id", "text"]
        )
        weighted = bpe_token_count(df, merges)
        packed = pack_sequences(
            weighted, capacity=4, id_col="doc_id", text_col="text",
            weight_col="n_bpe_tokens",
        ).collect()
        got = {r["doc_id"]: (r["n_tokens"], r["start_offset"]) for r in packed}
        # counts: 'ab'->1 token, 'c'-> c + EOW = 2 tokens
        assert got[1][0] == 2 and got[2][0] == 3 and got[3][0] == 6
        # exclusive prefix sum in doc_id order
        assert [got[i][1] for i in (1, 2, 3)] == [0, 2, 5]
