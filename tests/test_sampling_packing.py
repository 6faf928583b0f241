"""Training-data layout operators: deterministic sampling (exact
reproducibility + nesting), decontamination overlap, and the two-phase
distributed prefix sum for sequence packing."""

import pytest
from pyspark.sql import functions as F

from table_ocr_spark.operators.decontaminate import contamination_stats
from table_ocr_spark.operators.packing import pack_sequences, packing_summary
from table_ocr_spark.operators.sampling import (
    deterministic_sample,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 31 + j) % 97}" for j in range(10 + i % 23)),
         ["en", "de", "fr"][i % 3])
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_deterministic_sample_reproducible_and_nested(spark, docs):
    a1 = {r["doc_id"] for r in deterministic_sample(docs, 0.3).collect()}
    a2 = {r["doc_id"] for r in deterministic_sample(docs, 0.3).collect()}
    assert a1 == a2  # identical on every run

    # repartitioning must not change membership
    a3 = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(13), 0.3).collect()
    }
    assert a1 == a3

    # md5-threshold rule => samples NEST: frac 0.1 ⊂ 0.3 ⊂ 0.7
    s01 = {r["doc_id"] for r in deterministic_sample(docs, 0.1).collect()}
    s07 = {r["doc_id"] for r in deterministic_sample(docs, 0.7).collect()}
    assert s01 <= a1 <= s07

    # fraction approximately honored (binomial tolerance)
    assert 0.2 < len(a1) / 600 < 0.4
    assert len(deterministic_sample(docs, 0.0).collect()) == 0
    assert len(deterministic_sample(docs, 1.0).collect()) == 600


def test_stratified_sample_per_stratum(spark, docs):
    out = stratified_sample(
        docs, {"en": 1.0, "de": 0.0}, default_fraction=0.5
    ).collect()
    langs = {r["lang"] for r in out}
    n_en = sum(1 for r in out if r["lang"] == "en")
    n_fr = sum(1 for r in out if r["lang"] == "fr")
    assert "de" not in langs
    assert n_en == 200          # full stratum
    assert 60 < n_fr < 140      # ~0.5 of 200 via default


def test_contamination_benchmark_is_fully_contaminated(spark, docs):
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = contamination_stats(docs, bench, k=3, threshold=0.5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 600
    for i in range(0, 600, 10):
        assert rows[i]["contaminated_frac"] == 1.0 and rows[i]["is_contaminated"]
    # a doc sharing no shingles with the benchmark scores 0
    assert all(r["n_contaminated"] <= r["n_shingles"] for r in rows.values())


def test_contamination_bench_side_is_broadcast(spark, docs):
    # the membership test must run map-side: a left OUTER join cannot
    # be semi-join/Bloom pruned, so without the forced broadcast the
    # whole corpus shingle stream shuffles on stop-shingle-skewed keys
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    plan = (
        contamination_stats(docs, bench, k=3, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_contamination_short_docs_never_flagged(spark):
    docs = spark.createDataFrame(
        [(1, "only two"), (2, "a much longer document body here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           contamination_stats(docs, docs, k=5, threshold=0.0).collect()}
    assert out[1]["n_shingles"] == 0 and not out[1]["is_contaminated"]
    assert out[2]["is_contaminated"]  # self-benchmark, has shingles


def test_pack_sequences_matches_naive_and_bucket_invariant(spark, docs):
    cap = 256
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_offset"], r["seq_id"])
        for r in pack_sequences(docs, cap, bucket_width=7).collect()
    }
    # naive reference: python cumsum in id order
    toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n"),
        ).collect()
    }
    run = 0
    for i in sorted(toks):
        assert got[i] == (toks[i], run, run // cap), i
        run += toks[i]

    # bucket_width is an implementation knob, never a semantics knob
    got_big = {
        r["doc_id"]: (r["n_tokens"], r["start_offset"], r["seq_id"])
        for r in pack_sequences(docs, cap, bucket_width=4096).collect()
    }
    assert got == got_big

    summ = packing_summary(pack_sequences(docs, cap, bucket_width=7), cap)
    srows = summ.collect()
    assert sum(r["n_docs"] for r in srows) == 600
    assert srows[0]["seq_id"] == 0

    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


@pytest.mark.parametrize("width", [1, 7, 1 << 46])
def test_grouped_pack_equals_each_group_packed_alone(spark, width):
    # ids interleave across groups and straddle bucket edges at every
    # width: dense small ids, both sides of multiples of 2^46, and
    # three ids near 2^62 that one double rounds together
    edges = [k * (1 << 46) + d for k in (-2, 1, 3) for d in (-1, 0, 1)]
    ids = list(range(40)) + edges + [(1 << 62) + d for d in (-1, 0, 1)]
    rows = [(i, ["a", "b", "c"][i % 3], (i % 11) + 1) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, g string, w long")
    cols = ["doc_id", "n_tokens", "start_offset", "seq_id"]
    grouped = pack_sequences(
        df, 8, weight_col="w", bucket_width=width, group_col="g"
    )
    assert grouped.columns == ["g"] + cols
    for g in ("a", "b", "c"):
        alone = pack_sequences(
            df.filter(F.col("g") == g), 8, weight_col="w", bucket_width=width
        )
        got = {tuple(r) for r in grouped.filter(F.col("g") == g)
               .select(*cols).collect()}
        assert got == {tuple(r) for r in alone.collect()}
        # and both are the group's own exclusive prefix sum from 0
        run, want = 0, set()
        for i, _, w in sorted(r for r in rows if r[1] == g):
            want.add((i, w, run, run // 8))
            run += w
        assert got == want


def test_write_training_shards_order_and_assignment(spark, docs, tmp_path):
    from table_ocr_spark.operators.packing import write_training_shards

    cap = 256
    packed = pack_sequences(docs, cap, bucket_width=64)
    out = str(tmp_path / "shards")
    write_training_shards(packed, out, seqs_per_shard=4)

    back = spark.read.parquet(out)
    rows = back.collect()
    assert len(rows) == 600
    for r in rows:
        assert r["shard"] == r["seq_id"] // 4

    # within each physical file, rows are stored in start_offset order
    import glob

    import pyarrow.parquet as pq

    for shard_dir in glob.glob(out + "/shard=*"):
        for f in glob.glob(shard_dir + "/*.parquet"):
            offs = pq.read_table(f, columns=["start_offset"])["start_offset"].to_pylist()
            assert offs == sorted(offs), f

    with pytest.raises(ValueError):
        write_training_shards(packed, out, seqs_per_shard=0)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from table_ocr_spark.operators.importance import dsir_weights

    target = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),      # target-like
            (2, "zzz qqq kkk www yyy xxx vvv"),          # alien
            (3, "the quick brown fox jumps over the lazy dog"),  # exact target
            (4, "x"),                                    # zero bigrams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dsir_weights(corpus, target).collect()}
    assert len(got) == 4
    # per-feature mean makes doc lengths comparable; exact target copy
    # must outrank the partial match, which outranks the alien doc
    def per_feat(r):
        return r["dsir_logweight"] / max(r["n_features"], 1)

    assert per_feat(got[3]) > per_feat(got[1]) > per_feat(got[2])
    assert got[4]["n_features"] == 0 and got[4]["dsir_logweight"] == 0.0
    # the ratio table must reach scorers by broadcast, not a shuffle join
    plan = (
        dsir_weights(corpus, target)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_dsir_weights_empty_target_is_uniform_not_null(spark):
    # review r3 pass 2: sum() over an empty target count table is NULL
    # and NULLed every weight; add-one smoothing defines the empty
    # target as the uniform model p(b) = 1/B
    import math

    from table_ocr_spark.operators.importance import dsir_weights

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    empty_target = spark.createDataFrame([], "doc_id long, text string")
    got = dsir_weights(corpus, empty_target, n_buckets=100).collect()[0]
    assert got["n_features"] == 2
    assert got["dsir_logweight"] is not None
    # hand value: lr(b) = ln(1/100) - ln((cr_b+1)/(2+100)); both corpus
    # bigrams are unique -> cr_b = 1 -> lr = ln(102/200) per feature
    assert abs(got["dsir_logweight"] - round(2 * math.log(102 / 200), 6)) < 1e-6


def test_temperature_fractions_rebalance_tail_languages(spark):
    from table_ocr_spark.operators.sampling import (
        temperature_fractions,
        temperature_sample,
    )

    # 800 en / 150 de / 50 fr — skewed but not cap-degenerate
    rows = (
        [(i, "t", "en") for i in range(800)]
        + [(1000 + i, "t", "de") for i in range(150)]
        + [(2000 + i, "t", "fr") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    fr = temperature_fractions(df, temperature=0.5, total_fraction=0.3)
    # closed-form check: w_s = p_s^0.5, frac_s = 0.3*N*w_s/(wsum*n_s)
    n = {"en": 800, "de": 150, "fr": 50}
    w = {s: (c / 1000) ** 0.5 for s, c in n.items()}
    ws = sum(w.values())
    for s in n:
        expect = min(1.0, 0.3 * 1000 * w[s] / ws / n[s])
        assert abs(fr[s] - expect) < 1e-12, s
    # tail gets a HIGHER keep-rate than head under T<1, none capped here
    assert 1.0 > fr["fr"] > fr["de"] > fr["en"]

    # a degenerate tail caps at 1.0 instead of over-sampling
    tiny = spark.createDataFrame(
        [(i, "t", "en") for i in range(990)]
        + [(3000 + i, "t", "fr") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    assert temperature_fractions(tiny, temperature=0.3)["fr"] == 1.0

    # T=1 reproduces the natural mix (uniform keep-rate)
    fr1 = temperature_fractions(df, temperature=1.0, total_fraction=0.5)
    assert all(abs(v - 0.5) < 1e-12 for v in fr1.values())

    # composition samples deterministically with those rates
    out = temperature_sample(df, temperature=0.5, total_fraction=0.3)
    got = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in got}
    assert 0 < by_lang.get("en", 0) < 800
    assert by_lang.get("fr", 0) > 0

    with pytest.raises(ValueError):
        temperature_fractions(df, temperature=0.0)
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert temperature_fractions(empty) == {}


def test_temperature_fractions_skip_zero_count_strata():
    # review r4: externally-gathered counts routinely pre-seed strata
    # with 0 (dict.fromkeys); a zero-count stratum must be skipped, not
    # divide by zero — and must not perturb the other fractions
    from table_ocr_spark.operators.sampling import (
        temperature_fractions_from_counts,
    )

    base = temperature_fractions_from_counts({"en": 900, "fr": 100})
    seeded = temperature_fractions_from_counts(
        {"en": 900, "fr": 100, "de": 0, "xx": 0}
    )
    assert seeded == base
    assert temperature_fractions_from_counts({"en": 0}) == {}


def test_temperature_sample_null_stratum_not_dropped(spark):
    # review r3 pass 3: NULL lang (lang-id failure) was counted in the
    # mix math but dropped by the map-literal lookup — crawl corpora
    # carry NULL lang routinely and rows must not silently vanish
    from table_ocr_spark.operators.sampling import (
        temperature_fractions,
        temperature_sample,
    )

    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (4, None)],
        "doc_id long, lang string",
    )
    fr = temperature_fractions(df, temperature=0.5, total_fraction=1.0)
    assert None in fr and fr[None] > 0
    out = temperature_sample(df, temperature=0.5, total_fraction=1.0)
    # total_fraction=1.0 with per-stratum caps -> every stratum's
    # fraction is 1.0 here (equal-weight boost saturates); all 4 kept
    assert out.count() == 4
    assert any(r["doc_id"] == 4 for r in out.collect())


def _bucket(gram, n_buckets):
    """Pinned engine-portable bucket of a bigram string as a column
    expression — the oracle SQL's formula, the reference for
    importance._bigram_bucket_udf."""
    from table_ocr_spark.operators.importance import HASH_MIX, HASH_MOD

    val = (
        F.length(gram).cast("long") * 31
        + F.ascii(F.substring(gram, 1, 1)).cast("long") * 7
        + F.ascii(F.substring(gram, -1, 1)).cast("long")
    )
    return ((val * HASH_MIX) % HASH_MOD) % n_buckets


def test_dsir_bucket_kernel_matches_column_expression(spark):
    # the Arrow kernel and the column-expression/oracle reference must
    # agree bucket-for-bucket (incl. unicode: ord == ascii == codepoint)
    from table_ocr_spark.operators.importance import _bigram_bucket_udf
    from table_ocr_spark.operators.dedup import _gram_seq_udf
    from table_ocr_spark.operators.textstats import tokens

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "héllo wörld ünïcode test"),
            (3, "a b"),
            (4, "single"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    kern = df.select(
        "doc_id",
        _bigram_bucket_udf(10_000)(tokens(F.col("text"))).alias("b"),
    ).collect()
    expr = df.select(
        "doc_id",
        F.transform(
            _gram_seq_udf(2)(tokens(F.col("text"))),
            lambda g: _bucket(g, 10_000).cast("int"),
        ).alias("b"),
    ).collect()
    k = {r["doc_id"]: r["b"] for r in kern}
    e = {r["doc_id"]: r["b"] for r in expr}
    assert k == e


class TestChunkDocuments:
    def _reference(self, text, max_tokens, overlap):
        toks = text.split()
        n, stride = len(toks), max_tokens - overlap
        if n == 0:
            return []
        out, k = [], 0
        while True:
            w = toks[k * stride: k * stride + max_tokens]
            out.append((k, k * stride, len(w), " ".join(w)))
            if k * stride + max_tokens >= n:
                return out
            k += 1

    def test_edge_cases_pinned(self, spark):
        from pyspark.sql import Row

        from table_ocr_spark.operators.packing import chunk_documents

        docs = spark.createDataFrame([
            Row(doc_id=0, text="   "),  # whitespace-only: zero chunks
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text=" ".join(f"t{i}" for i in range(8))),
            Row(doc_id=3, text=" ".join(f"t{i}" for i in range(9))),
        ])
        got = {}
        for r in chunk_documents(docs, max_tokens=8, overlap=4).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_id, r.start_token, r.chunk_tokens, r.chunk_text))
        assert 0 not in got
        assert got[1] == [(0, 0, 3, "a b c")]
        assert got[2] == [(0, 0, 8, " ".join(f"t{i}" for i in range(8)))]
        # n == max+1: second chunk starts at stride, clipped to 5 toks
        assert len(got[3]) == 2 and got[3][1][2] == 5

    def test_differential_vs_reference(self, spark):
        from pyspark.sql import Row

        from table_ocr_spark.operators.packing import chunk_documents

        docs = spark.createDataFrame([
            Row(doc_id=i, text=" ".join(
                f"w{(i * 31 + j) % 97}" for j in range((i * 53) % 41)))
            for i in range(120)
        ])
        for max_tokens, overlap in [(10, 0), (10, 3), (7, 6), (1, 0)]:
            got = {}
            for r in chunk_documents(docs, max_tokens, overlap).collect():
                got.setdefault(r.doc_id, []).append(
                    (r.chunk_id, r.start_token, r.chunk_tokens, r.chunk_text))
            for row in docs.collect():
                want = self._reference(row.text, max_tokens, overlap)
                have = sorted(got.get(row.doc_id, []))
                assert [(k, s, ln, tx) for k, s, ln, tx in want] == have, (
                    row.doc_id, max_tokens, overlap)

    def test_validation(self, spark):
        from pyspark.sql import Row

        from table_ocr_spark.operators.packing import chunk_documents

        docs = spark.createDataFrame([Row(doc_id=0, text="a")])
        with pytest.raises(ValueError, match="max_tokens"):
            chunk_documents(docs, max_tokens=0)
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(docs, max_tokens=4, overlap=4)

    def test_plan_is_map_only(self, spark):
        from pyspark.sql import Row

        from table_ocr_spark.operators.packing import chunk_documents

        docs = spark.createDataFrame([Row(doc_id=0, text="a b c")])
        plan = chunk_documents(docs, 8, 2)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestLinearQualityClassifier:
    def _fit_apply(self, spark):
        from table_ocr_spark.operators.importance import (
            apply_linear_model,
            train_quality_classifier,
        )

        pos = spark.createDataFrame(
            [(i, "well written prose with varied informative words "
                 f"sample {i}") for i in range(6)],
            "doc_id long, text string",
        )
        neg = spark.createDataFrame(
            [(i, "buy buy buy cheap cheap click click here here now")
             for i in range(6)],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                (1, "well written prose with varied informative words"),
                (2, "buy cheap click here now buy cheap click"),
                (3, "x"),  # zero bigrams -> prior
            ],
            "doc_id long, text string",
        )
        w = train_quality_classifier(pos, neg)
        return w, apply_linear_model(corpus, w)

    def test_separates_and_priors(self, spark):
        w, scored = self._fit_apply(spark)
        got = {r["doc_id"]: r for r in scored.collect()}
        assert len(got) == 3
        # positive-looking doc above 0.5, negative below, both in (0,1)
        assert 0.5 < got[1]["quality_score"] < 1.0
        assert 0.0 < got[2]["quality_score"] < 0.5
        # zero-feature doc gets exactly sigmoid(bias=0) = 0.5
        assert got[3]["n_features"] == 0
        assert got[3]["quality_score"] == 0.5

    def test_weight_table_bounded_and_broadcast(self, spark):
        from table_ocr_spark.operators.importance import apply_linear_model

        w, scored = self._fit_apply(spark)
        assert w.count() <= 10_000
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan

    def test_external_weight_table_and_bias(self, spark):
        """Any (bucket, weight) frame drops in — the fastText swap-in
        contract — and bias shifts the zero-feature prior."""
        import math

        from table_ocr_spark.operators.importance import apply_linear_model

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "")],
            "doc_id long, text string",
        )
        w = spark.createDataFrame(
            [(b, 0.0) for b in range(10)], "bucket int, weight double"
        )
        got = {
            r["doc_id"]: r["quality_score"]
            for r in apply_linear_model(corpus, w, bias=1.5).collect()
        }
        expect = round(1.0 / (1.0 + math.exp(-1.5)), 6)
        # all-zero weights -> every doc scores sigmoid(bias)
        assert got[1] == expect and got[2] == expect


class TestLangidClassifier:
    """Multiclass NB lang-id (importance.train_langid_classifier /
    apply_langid_model) — the lang_id heuristic's executable swap-in."""

    def _fit(self, spark):
        from table_ocr_spark.operators.importance import (
            apply_langid_model,
            train_langid_classifier,
        )

        labeled = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog "
                 f"run {i}", "en") for i in range(6)]
            + [(10 + i, "le renard brun saute par dessus le chien "
                        f"tour {i}", "fr") for i in range(6)],
            "doc_id long, text string, lang string",
        )
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the dog"),
                (2, "le renard brun saute par dessus le chien"),
                (3, "x"),          # zero bigrams -> prior argmax
                (4, "zz qq ww"),   # all buckets unseen -> defaults rule
            ],
            "doc_id long, text string",
        )
        model = train_langid_classifier(labeled)
        return model, apply_langid_model(corpus, model)

    def test_predicts_and_prior_backfill(self, spark):
        model, scored = self._fit(spark)
        got = {r["doc_id"]: r for r in scored.collect()}
        assert len(got) == 4
        assert got[1]["lang_pred"] == "en"
        assert got[2]["lang_pred"] == "fr"
        # zero-feature doc: equal priors (6 docs each) -> tie breaks to
        # the SMALLEST label, deterministically
        assert got[3]["n_features"] == 0
        assert got[3]["lang_pred"] == "en"
        import math

        assert got[3]["lang_logprob"] == round(math.log(0.5), 6)
        # every-bucket-unseen doc still gets a prediction (the
        # per-class unseen default decides, tie -> smallest label)
        assert got[4]["n_features"] == 2
        assert got[4]["lang_pred"] in ("en", "fr")

    def test_model_rows_bounded_and_kinds(self, spark):
        from table_ocr_spark.operators.importance import (
            PRIOR_BUCKET,
            UNSEEN_BUCKET,
        )

        model, scored = self._fit(spark)
        rows = model.collect()
        labels = {r["label"] for r in rows}
        assert labels == {"en", "fr"}
        priors = [r for r in rows if r["bucket"] == PRIOR_BUCKET]
        defaults = [r for r in rows if r["bucket"] == UNSEEN_BUCKET]
        assert len(priors) == 2 and len(defaults) == 2
        main = [r for r in rows if r["bucket"] >= 0]
        # densified: every observed bucket carries BOTH labels
        from collections import Counter

        per_bucket = Counter(r["bucket"] for r in main)
        assert set(per_bucket.values()) == {2}
        assert len(main) <= 10_000 * 2
        # scoring plan: model joins are broadcast, never shuffled
        plan = scored._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan

    def test_label_with_no_bigrams_survives_as_class(self, spark):
        """A class whose every training doc has <2 tokens still gets
        prior + default rows (the label universe comes from DOC counts,
        not feature counts)."""
        from table_ocr_spark.operators.importance import (
            PRIOR_BUCKET,
            UNSEEN_BUCKET,
            train_langid_classifier,
        )

        labeled = spark.createDataFrame(
            [(1, "der hund lauft schnell weg", "de"), (2, "zh", "zh")],
            "doc_id long, text string, lang string",
        )
        rows = train_langid_classifier(labeled).collect()
        zh = [r for r in rows if r["label"] == "zh"]
        assert {r["bucket"] for r in zh if r["bucket"] < 0} == {
            PRIOR_BUCKET,
            UNSEEN_BUCKET,
        }
        # densified: zh also gets smoothed rows for de's buckets
        assert any(r["bucket"] >= 0 for r in zh)

def test_pack_sequences_rejects_bad_ids_and_weights(spark):
    """Round-5 review regressions: non-numeric/NULL ids must raise
    (they landed in bucket NULL and silently vanished in the inner
    bucket join -- or crashed the driver sort on a numeric mix), and
    NULL/negative weights must raise like token_budget_fractions
    (NULL weights silently shift every later start_offset)."""
    from table_ocr_spark.operators.packing import pack_sequences

    str_ids = spark.createDataFrame(
        [("a1b2", "x y z"), ("c3d4", "w")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="non-numeric"):
        pack_sequences(str_ids, capacity=4)

    null_ids = spark.createDataFrame(
        [(None, "x y"), (2, "w")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="non-numeric"):
        pack_sequences(null_ids, capacity=4)

    null_w = spark.createDataFrame(
        [(1, "x", 3), (2, "y", None)],
        "doc_id long, text string, bpe_len long",
    )
    with pytest.raises(ValueError, match="NULL or negative"):
        pack_sequences(null_w, capacity=4, weight_col="bpe_len")
    neg_w = spark.createDataFrame(
        [(1, "x", 3), (2, "y", -1)],
        "doc_id long, text string, bpe_len long",
    )
    with pytest.raises(ValueError, match="NULL or negative"):
        pack_sequences(neg_w, capacity=4, weight_col="bpe_len")


def test_stratified_sample_null_stratum_key(spark):
    """A None key in the fractions dict (temperature_fractions returns
    one for lang-id failures) is applied via the isNull branch -- the
    documented direct composition used to crash on a NULL map key."""
    from table_ocr_spark.operators.sampling import (
        stratified_sample,
        temperature_fractions,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else None) for i in range(300)],
        "doc_id long, lang string",
    )
    fr = temperature_fractions(df, temperature=0.5)
    assert None in fr
    out = stratified_sample(df, fr)
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    # both strata sampled at their computed (nonzero) rates
    assert langs == {"en", None}
    # null-stratum rows kept at roughly fr[None] (deterministic count)
    n_null = out.where(F.col("lang").isNull()).count()
    assert 0 < n_null <= 100
    # full fraction keeps everything, both strata
    assert stratified_sample(df, {None: 1.0, "en": 1.0}).count() == 300


def test_temperature_fractions_bounded_collect_enforced(spark):
    """Sibling operators fail fast on high-cardinality strata; the
    temperature recipe now enforces the same sentinel."""
    from table_ocr_spark.operators.sampling import temperature_fractions

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(50)], "doc_id long, lang string"
    )
    with pytest.raises(ValueError, match="distinct"):
        temperature_fractions(df, max_strata=10)

def test_bucket_guard_shared_by_all_hashed_ngram_consumers(spark):
    """The int32 bucket-space guard lives in the shared kernel factory
    now, so apply_linear_model (and friends) fail fast at plan-build
    time instead of overflowing the Arrow conversion in an executor."""
    from table_ocr_spark.operators.importance import (
        apply_linear_model,
        dsir_weights,
    )

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    w = spark.createDataFrame([(0, 0.1)], "bucket int, weight double")
    with pytest.raises(ValueError, match="n_buckets"):
        apply_linear_model(df, w, n_buckets=2**32)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_weights(df, df, n_buckets=2**32)

