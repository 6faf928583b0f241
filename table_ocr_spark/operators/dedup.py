"""Deduplication operators for the training-data pipeline: exact
(hash-groupBy), n-gram Jaccard, MinHash+LSH, and SimHash near-dup.

Joins, groupings and verification are JVM-side DataFrame algebra;
the per-document kernels (shingle sets, the MinHash and SimHash
signatures, ordered k-grams, span stripping) are pandas UDFs over
Arrow batches, each measured against its JVM-expression shape where
it is defined. Each operator's semantics are pinned so the DuckDB
oracle reproduces them exactly; the probabilistic stage (MinHash
banding) is always followed by an exact-Jaccard verification so the
*output* is deterministic — the banding only prunes the candidate
space (at 10^12 docs the all-pairs join is impossible; the band join
is the scale path, and with 32 hashes / 16 bands of 2 the miss
probability at J>=0.8 is (1-0.8^2)^16 ≈ 6e-8 per pair).

Scale notes:
- the shingle self-join (`ngram_jaccard_pairs`) is the *oracle-shaped*
  quadratic path: correct at test SF, unusable at crawl scale. Use
  ``max_shingle_df`` to drop stop-shingles (bounded fanout) or prefer
  ``minhash_lsh_pairs`` which shuffles only (band_key) groups.
- all joins here are equi-joins on hash-distributed keys; AQE handles
  band-bucket skew (a hot shingle/band = one big group).

Pinned definitions (shared with the oracle SQL):
- normalization for exact dedup := lower(text), \\s+ collapsed to one
  space, trimmed
- shingle := k consecutive tokens joined with one space; DISTINCT set
- jaccard := |A∩B| / |A∪B| over distinct shingle sets, rounded 6 dp
- simhash := SIMHASH_BITS-wide signature over tokens valued by the same
  polynomial token hash as textstats.fingerprint; bit b set iff
  sum over tokens of (2*bit_b(val)-1) >= 0
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from table_ocr_spark.local_frames import local_frame
from table_ocr_spark.sources.catalog import fs_exists
from table_ocr_spark.operators.textstats import tokens

SIMHASH_BITS = 32
# 4 bands of 8 bits: hamming<=3 pairs always share a band (pigeonhole:
# 3 differing bits touch at most 3 of the 4 bands), and 256 values per
# band keeps buckets ~n/256 — 4-bit bands (16 values) made every bucket
# huge and the candidate join quadratic-ish.
SIMHASH_BAND_BITS = 8


def normalized_text(col: Column) -> Column:
    """Pinned dedup normalization (lower + whitespace collapse + trim).
    NULL text normalizes to the EMPTY string — otherwise NULL group
    keys never survive the equi-join back and NULL-text rows silently
    vanish from the dedup output (crawl corpora carry NULL text
    routinely; they cluster with empty documents by design)."""
    return F.coalesce(
        F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), F.lit("")
    )


def content_key_cols(text_col: str) -> list:
    """THE 192-bit content key: ``(xxhash64(norm), md5(norm))`` of the
    pinned normalization, as two columns named ``_h64``/``_h128``.
    Single definition shared by ``exact_dedup``, ``exact_dedup_audit``,
    ``novel_documents`` and the streaming content dedup — these must
    stay hash-identical for cross-operator composability (a dedup run
    and a later incremental ingest must agree on what 'same content'
    means), so the construction lives HERE once."""
    norm = normalized_text(F.col(text_col))
    return [F.xxhash64(norm).alias("_h64"), F.md5(norm).alias("_h128")]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate clustering: every doc mapped to the canonical
    (min id) doc of its normalized-text group, plus the group size.

    The groupBy and the join back are keyed on a 192-bit composite —
    ``(xxhash64(norm), md5(norm))`` — 40 bytes/row through both
    exchanges instead of the full normalized document text (which
    roughly doubled exchange bytes for the stage). The two hashes are
    independent algorithms, so a wrong merge needs a simultaneous
    64-bit AND 128-bit collision on the same pair: at 10^12 docs the
    expected number of colliding PAIRS is n^2/2^193 ≈ 2^-113 — not a
    realistic failure mode (the single-hash xxhash64 variant alone
    WOULD collide at that scale: ~2^15 expected pairs, hence the
    second hash as the collision check). :func:`exact_dedup_audit`
    certifies a corpus against the full normalized text.
    """
    keyed = df.select(F.col(id_col), *content_key_cols(text_col))
    group_cols = ["_h64", "_h128"]
    groups = keyed.groupBy(*group_cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return (
        keyed.join(groups, group_cols)
        .select(
            F.col(id_col),
            "canonical_id",
            "n_copies",
            (F.col(id_col) != F.col("canonical_id")).alias("is_dup"),
        )
    )


def _exact_dedup_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``df`` restricted to the rows :func:`exact_dedup` marks
    ``is_dup = false``: the min-id row of each content-key group, in
    one window (one exchange of ``df``'s rows by the key) instead of
    the operator's groupBy, join back and id semi-join. Equal ids in
    one group tie-break on the text, so the survivor is deterministic
    even then."""
    from pyspark.sql import Window as W

    w = W.partitionBy("_h64", "_h128").orderBy(id_col, text_col)
    return (
        df.select(*df.columns, *content_key_cols(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*df.columns)
    )


def exact_dedup_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_cols=None,
) -> DataFrame:
    """Certify the hash-keyed dedup on THIS corpus: re-group by the
    same composite key and count DISTINCT normalized texts per group —
    any row in the output is a real collision (two different texts
    merged into one cluster). Expected empty; run it when a merge
    would be catastrophic (e.g. before deleting 'duplicate' originals).

    This is deliberately the WIDE path (the full normalized text
    crosses the exchange for the distinct count) — it is an audit you
    run once per corpus build, not a step of the hot pipeline.
    ``key_cols`` overrides the key expressions (tests use a weak key to
    prove the audit actually catches merges)."""
    norm = normalized_text(F.col(text_col))
    if key_cols is None:
        keyed = df.select(norm.alias("_norm"), *content_key_cols(text_col))
        group_cols = ["_h64", "_h128"]
    else:
        # key expressions are evaluated against the ORIGINAL frame, so
        # they may reference any of its columns
        keyed = df.select(norm.alias("_norm"), *key_cols)
        group_cols = [c for c in keyed.columns if c != "_norm"]
    return (
        keyed.groupBy(*group_cols)
        .agg(
            F.countDistinct("_norm").alias("n_distinct_texts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_distinct_texts") > 1)
    )


def _mk_shingles(t: list, k: int) -> list:
    """Distinct k-word shingles in first-occurrence order (the pinned
    definition shared by the oracle SQL)."""
    n = len(t)
    if n < k:
        return []
    seen = set()
    out = []
    for i in range(n - k + 1):
        s = " ".join(t[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _shingle_udf(k: int):
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def udf(toks):  # type: ignore[no-untyped-def]
        # NULL text -> tokens() yields a NULL array -> None here; treat
        # as empty (crawl corpora routinely carry NULL text rows)
        return pd.Series(
            [_mk_shingles(list(t), k) if t is not None else [] for t in toks]
        )

    return udf


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingles: distinct array of k-word shingles).

    Shingle construction runs in an Arrow-batched pandas UDF, not a
    Spark higher-order function: HOF lambdas evaluate INTERPRETED
    (~70 ms/doc for 300 positions — measured), while the same loop in
    Python is ~30 µs/doc. This is the one place where "UDFs are the
    slow path" inverts: a per-position interpreted expression tree is
    three orders of magnitude slower than a Python loop over the
    Arrow batch. Tokenization stays JVM-side (codegen'd split).
    Map-only either way — no shuffle."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    return toked.select("id", _shingle_udf(k)(F.col("_toks")).alias("shingles"))


MINHASH_PRIME = (1 << 61) - 1  # Mersenne; A*h + B stays under 2^64


def _minhash_coeffs(num_hashes: int):
    """Pinned affine-mix coefficients (no RNG state — identical on
    every executor and run): A odd in [1, 2^31), B in [0, 2^61)."""
    import numpy as np

    i = np.arange(num_hashes, dtype=np.uint64)
    a = (i * np.uint64(2654435761) + np.uint64(1)) % np.uint64(1 << 31) | np.uint64(1)
    b = (i * np.uint64(0x9E3779B97F4A7C15)) % np.uint64(MINHASH_PRIME)
    return a.reshape(-1, 1), b.reshape(-1, 1)


def _shingle_sig_udf(k: int, num_hashes: int):
    """token array -> (shingles, minhash signature) in ONE Arrow pass.

    Shingle construction and the signature share a kernel so the
    (large) shingle arrays cross the JVM↔Python boundary once — a
    separate signature UDF re-serialized ~60 MB of shingle strings at
    sf0.1 for ~1 s of numpy work. Signature: one crc32 per shingle
    (zlib, C speed), then the whole (num_hashes x n) affine family
    `(A*crc + B) mod (2^61-1)` as one numpy broadcast + per-row min —
    no per-hash JVM expression evaluation (see minhash_lsh_pairs)."""
    import pandas as pd

    @F.pandas_udf(
        "shingles array<string>, sigs array<long>"
    )
    def udf(toks):  # type: ignore[no-untyped-def]
        import numpy as np
        from zlib import crc32

        A, B = _minhash_coeffs(num_hashes)
        P = np.uint64(MINHASH_PRIME)
        sh_col = []
        sig_col = []
        for t in toks:
            sh = _mk_shingles(list(t), k) if t is not None else []
            sh_col.append(sh)
            if not sh:
                sig_col.append(None)
                continue
            h = np.fromiter(
                (crc32(s.encode("utf-8")) for s in sh), np.uint64, len(sh)
            )
            sig_col.append(((A * h[None, :] + B) % P).min(axis=1).astype(np.int64))
        return pd.DataFrame({"shingles": sh_col, "sigs": sig_col})

    return udf


def _band_pairs(sigs: DataFrame, bands: list) -> DataFrame:
    """Candidate pairs of an LSH banding, shared by the MinHash, SimHash
    and hyperplane finders: ``(id_a, id_b, sig_a, sig_b)`` for every
    ``id_a < id_b`` that agrees on some band, once per shared band
    (callers deduplicate). ``sigs`` holds ``(id, sig)``; ``bands`` are
    the band-key columns over it, all one type. One ``posexplode``
    keys each row by (band index, key), and both join sides read that
    one frame; a ``sig`` the caller drops after the join is pruned
    below the exchange."""
    banded = sigs.select(
        "id", "sig", F.posexplode(F.array(*bands)).alias("band", "bkey")
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "bkey"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "bkey"
    )
    return a.join(b, ["band", "bkey"]).filter(F.col("id_a") < F.col("id_b"))


def _pair_jaccard(cand: DataFrame, sets_df: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs (id_a < id_b) via array
    intersection on the (small) candidate set."""
    a = sets_df.select(F.col("id").alias("id_a"), F.col("shingles").alias("_sa"))
    b = sets_df.select(F.col("id").alias("id_b"), F.col("shingles").alias("_sb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    na = F.size("_sa").cast("long")
    nb = F.size("_sb").cast("long")
    jac = inter / F.greatest(na + nb - inter, F.lit(1))
    return joined.select(
        "id_a", "id_b", jac.alias("_jac_raw"), F.round(jac, 6).alias("jaccard"),
        inter.alias("n_common"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """All pairs with Jaccard(k-shingle sets) >= threshold, exactly.

    Plan: explode distinct shingles -> self equi-join on shingle
    (id_a < id_b) -> count = |A∩B| -> join sizes -> filter. This is the
    ground-truth path. ``max_shingle_df`` (drop shingles occurring in
    more than N docs) bounds the join fanout at scale by computing the
    Jaccard over the RARE-shingle universe — both the intersection AND
    the set sizes use only surviving shingles, so the reported value is
    self-consistent (sizes from the unfiltered sets would systematically
    understate jaccard and silently drop true near-dups). Leave None
    for oracle parity.
    """
    sets_df = shingle_sets(df, text_col, id_col, k).cache()
    exploded = sets_df.select("id", F.explode("shingles").alias("sh"))
    if max_shingle_df is not None:
        rare = (
            exploded.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("sh")
        )
        exploded = exploded.join(rare, "sh", "left_semi")
    a = exploded.select(F.col("id").alias("id_a"), "sh")
    b = exploded.select(F.col("id").alias("id_b"), "sh")
    cand = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    if max_shingle_df is not None:
        # sizes over the SAME rare universe as the intersection
        sizes = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("_n"))
    else:
        sizes = sets_df.select("id", F.size("shingles").cast("long").alias("_n"))
    na = sizes.select(F.col("id").alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("_n").alias("_nb"))
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .filter(jac >= threshold)
        .select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard"),
            F.col("_inter").alias("n_common"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs at Jaccard >= threshold via MinHash banding +
    exact verification. Output is identical to ``ngram_jaccard_pairs``
    at the same threshold (up to the ~1e-7 banding miss probability);
    the shuffle is on band buckets, NOT on raw shingles — this is the
    path that survives 10^12 documents. For a different threshold or
    hash budget, :func:`plan_lsh_bands` picks (bands, rows_per_band)
    from the S-curve instead of eyeballing.
    """
    # ONE Arrow kernel produces shingles AND signatures; the cached
    # frame is read by the band explode and both _pair_jaccard sides,
    # so tokenize+shingle+sign runs exactly once. The empty-set filter
    # reads the cache: above the kernel's projection the optimizer
    # pushes it below, copying the UDF into the filter (a second
    # ArrowEvalPython that re-signs every document). Signature shapes
    # measured along the way:
    #   (a) num_hashes interpreted HOF folds: ~20x slower than (b);
    #   (b) explode + num_hashes codegen'd xxhash64-min aggregates:
    #       correct shuffle profile, but evaluates num_hashes * n_shingles
    #       (~100M at sf0.1) JVM hash expressions — ~28 s of executor
    #       CPU for a ~4 s query; the signature stage WAS the query;
    #   (c) numpy kernel (this): ~1 s of CPU at the same scale. Banding
    #       needs any deterministic hash family, not xxhash64 parity —
    #       the output is exact-Jaccard VERIFIED, so the oracle never
    #       sees signatures.
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    sets_df = (
        toked.select(
            "id", _shingle_sig_udf(k, num_hashes)(F.col("_toks")).alias("_s")
        )
        .select(
            "id",
            F.col("_s.shingles").alias("shingles"),
            F.col("_s.sigs").alias("sig"),
        )
        .cache()
        .filter(F.size("shingles") > 0)
    )
    bands = [
        F.xxhash64(
            F.lit(b),
            *[
                F.element_at("sig", b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ],
        )
        for b in range(num_hashes // rows_per_band)
    ]
    cand = (
        _band_pairs(sets_df.select("id", "sig"), bands)
        .select("id_a", "id_b")
        .distinct()
    )
    verified = _pair_jaccard(cand, sets_df)
    # threshold on the UNROUNDED value (oracle parity); round only output
    return verified.filter(F.col("_jac_raw") >= threshold).select(
        "id_a", "id_b", "jaccard", "n_common"
    )


# Engine-portable token value (no xxhash, so the DuckDB oracle can
# recompute it): val(w) = ((31*len(w) + codepoint(w[0])) * MIX) mod 2^32
# — the fingerprint-style base (< 2^11) scrambled by a multiplicative
# mix so ALL 32 signature bits carry signal.
SIMHASH_MIX = 2654435761  # Knuth multiplicative constant
SIMHASH_VAL_MOD = 1 << 32


def _simhash_sig_udf():
    """token array -> 32-bit simhash, one Arrow batch at a time.

    Bit-for-bit pinned to the oracle SQL (`__spark_entry__._simhash_sig_sql`):
    val(w) = ((31*len(w) + codepoint(w[0])) * SIMHASH_MIX) mod 2^32;
    bit b set iff sum over tokens (with multiplicity) of
    (2*bit_b(val) - 1) >= 0; zero tokens -> every sum is 0 -> all bits
    set. Python ``ord`` == DuckDB/Spark ``ascii`` (Unicode codepoint).

    Replaces explode + SIMHASH_BITS codegen'd sum-aggregates, which
    evaluated 32 shift/and/mul expressions per token row (~100M at
    sf0.1: 30-97 s of executor CPU measured, THE cost of the query);
    here the same sums are one (n_tokens x 32) numpy broadcast per
    document — ~1 s of CPU total at the same scale. Map-only either
    way; per-doc signature rows are what shuffles afterwards."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def udf(token_lists):  # type: ignore[no-untyped-def]
        import numpy as np

        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        full = (1 << SIMHASH_BITS) - 1
        mix = np.uint64(SIMHASH_MIX)
        mod = np.uint64(SIMHASH_VAL_MOD)
        out = []
        for toks in token_lists:
            n = len(toks) if toks is not None else 0
            if n == 0:
                out.append(full)  # all sums 0 -> every bit set
                continue
            base = np.fromiter(
                ((31 * len(w) + ord(w[0])) for w in toks), np.uint64, n
            )
            v = (base * mix) % mod
            bits = (v[:, None] >> shifts[None, :]) & np.uint64(1)  # (n, 32)
            sums = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            out.append(int(((sums >= 0).astype(np.uint64) << shifts).sum()))
        return pd.Series(out, dtype="int64")

    return udf


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document over the token stream (with
    multiplicity). bit b of the signature is set iff the sum over
    tokens of (2*bit_b(val(tok)) - 1) is >= 0. Map-only; tokenization
    stays JVM-side (pinned split), the bit sums run in the Arrow numpy
    kernel (see :func:`_simhash_sig_udf` for the measured tradeoff)."""
    return df.select(
        F.col(id_col).alias("id"),
        _simhash_sig_udf()(tokens(F.col(text_col))).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs with hamming(simhash) <= max_hamming — EXACT, via
    band join: with 4 bands of 8 bits, any pair within hamming 3 shares
    at least one identical band (pigeonhole), so banding loses nothing.
    The shuffle is on 4 band buckets per doc, never all-pairs.
    """
    # cached: both sides of the band self-join read it; uncached, the
    # tokenize + signature kernel would run twice (rows: id + 1 long)
    sig = simhash16(df, text_col, id_col).toDF("id", "sig").cache()
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = [
        F.shiftright("sig", i * SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask))
        for i in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
    ]
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        _band_pairs(sig, bands)
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)  # BEFORE distinct: the
        # band bucket emits pairs up to hamming 24; discarding them ahead
        # of the exchange keeps the distinct shuffle near-output-sized
        .distinct()
    )


def _gram_seq_udf(k: int):
    """token array -> ORDERED, non-distinct k-gram list (one per start
    position). Positional twin of the distinct shingle set — duplicated
    SPANS need every occurrence, not the set. Same Arrow-batch
    rationale as _shingle_udf (per-position interpreted HOFs are ~1000x
    slower than this loop)."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def udf(toks):  # type: ignore[no-untyped-def]
        out = []
        for t in toks:
            t = list(t) if t is not None else []
            n = len(t)
            out.append(
                [" ".join(t[i : i + k]) for i in range(n - k + 1)] if n >= k else []
            )
        return pd.Series(out)

    return udf


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplication (the Lee-et-al. / RefinedWeb axis —
    doc-level near-dup misses boilerplate PASSAGES shared across
    otherwise-distinct pages): a token position is covered iff the
    k-gram starting there occurs >= min_count times in the corpus;
    covered ranges ``[pos, pos+k-1]`` merge when overlapping or
    contiguous (gaps-and-islands over a per-doc window — never a k-way
    position explode). Output per document: token count, covered token
    count, covered fraction, merged span count.

    Scale shape: gram instances shuffle once, by gram, for the
    per-gram occurrence count (a window: a groupBy joined back would
    read the gram frame twice and run the k-gram kernel twice per
    document), and once per doc for the islands window — all
    hash-partitioned; nothing quadratic, nothing driver-side. The heavy
    gram frame has exactly ONE consumer, so nothing corpus-token-sized
    is cached; the final left join re-derives only the narrow
    (id, n_tokens) side (one extra JVM tokenize — recompute beats a
    token-scale cache at crawl size).

    Exchange width: the k-gram STRING (k=5 tokens, ~30-60 bytes) is
    projected away map-side; the gram exchange carries
    ``xxhash64(gram)`` (8 bytes) instead — the ``exact_dedup``
    narrowing, MEASURED at sf0.1 with the shuffled-join regime forced:
    **13.20 MB raw-gram keys -> 7.62 MB hashed (1.73x)**
    (BASELINE.md "Token/gram exchange-key encoding" row; note the
    same trick LOSES for short unigram tokens — see unigram_logprob —
    because lz4 compresses Zipfian short strings better than random
    hashes; 5-gram strings
    are long and near-unique, so the hash wins here and the gap grows
    with document length). A 64-bit collision can mark a rare
    gram's position as covered because it collided with a hot gram's
    hash; for a coverage STATISTIC that is one spurious k-token span
    per ~2^64/corpus_grams documents — accepted tolerance, documented
    here (use the 192-bit composite recipe from exact_dedup if a
    consumer deletes text based on spans).
    """
    from pyspark.sql import Window

    sizes = df.select(
        F.col(id_col).alias("id"),
        # size(NULL array) is NULL; pinned: NULL text -> 0 tokens
        F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _gram_seq_udf(k)(tokens(F.col(text_col)))
        ).alias("pos", "_g"),
    ).select("id", "pos", F.xxhash64("_g").alias("gram"))
    n_gram = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dup = (
        ex.withColumn("_n", n_gram)
        .filter(F.col("_n") >= min_count)
        .select("id", "pos")
    )

    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "_new",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w))
    spans = marked.groupBy("id", "_island").agg(
        F.min("pos").alias("_s"), F.max(F.col("pos") + (k - 1)).alias("_e")
    )
    per_doc = spans.groupBy("id").agg(
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("n_dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    out = (
        sizes.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        )
    )
    return out


def _strip_positions_udf(k: int):
    """(token array, dup-gram start positions) ->
    struct(text_clean, n_dropped): union of the ``[p, p+k)`` ranges by
    a sorted two-pointer sweep, O(n_tokens + n_positions) per doc —
    never the O(n_tokens x n_spans) per-token ``exists`` an expression
    HOF would interpret. Rows with no dup positions return
    text_clean=NULL (the caller passes the ORIGINAL text through
    untouched — reassembly would gratuitously re-normalize their
    whitespace)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("text_clean", T.StringType()),
            T.StructField("n_dropped", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def udf(toks, starts):  # type: ignore[no-untyped-def]
        texts, dropped = [], []
        for t, ps in zip(toks, starts):
            if ps is None or len(ps) == 0:
                texts.append(None)
                dropped.append(0)
                continue
            t = list(t) if t is not None else []
            ps = sorted(ps)
            kept: list = []
            n_drop = 0
            j = 0
            cover_end = -1  # exclusive end of the covered run so far
            for i in range(len(t)):
                while j < len(ps) and ps[j] <= i:
                    e = ps[j] + k
                    if e > cover_end:
                        cover_end = e
                    j += 1
                if i < cover_end:
                    n_drop += 1
                else:
                    kept.append(t[i])
            texts.append(" ".join(kept))
            dropped.append(n_drop)
        return pd.DataFrame({"text_clean": texts, "n_dropped": dropped})

    return udf


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplicate REMOVAL — the deletion half of
    :func:`duplicate_span_stats` (Lee et al. 2022's ExactSubstr axis:
    doc-level dedup keeps both pages when only a PASSAGE is shared).
    A token position is covered iff the k-gram starting there occurs
    >= ``min_count`` times corpus-wide (byte-identical coverage rule
    to the stats operator); ALL covered tokens are removed — the
    :func:`~table_ocr_spark.operators.textstats.remove_repeated_lines`
    convention (corpus-repeated passages are boilerplate with no
    canonical copy worth keeping). True ExactSubstr keep-one-copy
    semantics need maximal-duplicate-substring machinery (suffix
    arrays); at gram granularity "keep one occurrence" is ill-defined
    under overlapping islands, so this operator deliberately pins
    remove-all and says so.

    Output: (id_col, text_clean, n_tokens, n_kept, n_dropped). Docs
    with NO covered position pass their original text through
    byte-identical; docs with removals are reassembled as the kept
    token stream joined by single spaces (token-space output — the
    pinned tokenizer's view, same caveat as the stats operator).
    ``text_clean = ''`` when every token was covered; NULL text passes
    through NULL.

    Scale shape: the corpus TOKEN STREAM never shuffles (contrast
    ``remove_repeated_lines``, which ships the line stream — ~20x
    fewer rows). Exchanges: gram keys once (the per-gram count is a
    window, so the k-gram kernel runs once per document — a groupBy
    semi-joined back would read the gram frame twice), covered start
    positions once (``groupBy(id).collect_list`` — dup-position-sized,
    not corpus-sized), and one doc-level hash join corpus<->positions.
    Removal itself is a map-only Arrow kernel after that join.

    Key width: the stats operator ships bare ``xxhash64(gram)`` and
    documents the tolerance ("use the composite recipe if a consumer
    deletes text based on spans" — this IS that consumer), so grams
    here ship the 192-bit ``(xxhash64, unhex(md5))`` composite: 24
    bytes/key (vs 40 for the hex-md5 form ``exact_dedup`` uses for its
    one-per-document keys; grams are one-per-token, so the binary form
    pays) — still narrower than the raw ~30-60-byte 5-gram string, and
    a collision can no longer delete innocent text."""
    from pyspark.sql import Window

    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _gram_seq_udf(k)(tokens(F.col(text_col)))
        ).alias("pos", "_g"),
    ).select(
        "id",
        "pos",
        F.xxhash64("_g").alias("_g64"),
        F.unhex(F.md5("_g")).alias("_g128"),
    )
    n_gram = F.count(F.lit(1)).over(Window.partitionBy("_g64", "_g128"))
    dup_pos = (
        ex.withColumn("_n", n_gram)
        .filter(F.col("_n") >= min_count)
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_ps"))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    strip = _strip_positions_udf(k)
    res = base.join(dup_pos, "id", "left").withColumn(
        "_r", strip(tokens(F.col("_text")), F.col("_ps"))
    )
    return res.select(
        F.col("id").alias(id_col),
        F.when(F.col("_ps").isNull(), F.col("_text"))
        .otherwise(F.col("_r.text_clean"))
        .alias("text_clean"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("_r.n_dropped"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
        F.coalesce(F.col("_r.n_dropped"), F.lit(0))
        .cast("long")
        .alias("n_dropped"),
    )


def _truncate_plan(df: DataFrame) -> DataFrame:
    """Cut the logical plan of an iteratively-rebuilt frame or a stage
    output. Uses the reliable checkpoint when the session has a
    checkpoint dir (the cluster deployment: survives executor loss),
    else a localCheckpoint (local mode). Without this, iteration i's
    plan contains i nested join trees and Catalyst re-plans the whole
    stack every loop — plan time grows quadratically and a lost
    partition recomputes the entire history. Stage boundaries
    (``build_training_corpus``, the CC edge set) use it too: a
    ``.cache()`` keeps its full upstream plan inside every consumer,
    and Spark re-renders that plan's explain string at every SQL
    execution start and AQE update.

    The local checkpoint is LAZY on purpose: every caller runs an
    aggregate action on the result immediately (the convergence probe,
    a stage count), which materializes it in the same job — eager
    would spend a separate job on the same work. Under AQE the lazy
    call already runs the input's shuffle map stages (planning the RDD
    executes the adaptive plan's query stages); only the final stage
    waits for the action. The reliable checkpoint is EAGER: a lazy one
    writes its files in a second pass that recomputes the plan, while
    the eager call evaluates it once (a counting UDF under a 1,000-row
    map-only plan ran 1,000 times eager, 2,000 lazy) in as many jobs
    as a persist plus a lazy checkpoint, and leaves no persisted copy
    for the caller to release."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def _stage_leaf(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """A stage output as a checkpointed plan leaf, and its counts:
    ``{"n": rows, name: value for each of aggs}``. One global aggregate
    (the row count plus ``aggs``, evaluated over the leaf's rows) is the
    action that materializes a local checkpoint, so a stage's report
    counts cost no pass of their own. An aggregate over zero rows must
    still give a number (``count_if``, or ``coalesce(sum(...), 0)``)."""
    leaf = _truncate_plan(df)
    row = leaf.agg(
        F.count(F.lit(1)).alias("n"),
        *(c.alias(name) for name, c in aggs.items()),
    ).collect()[0]
    return leaf, row.asDict()


def _cc_round_path(state_dir: str, rnd: int) -> str:
    return f"{state_dir}/labels/round={rnd}"


def _cc_committed(spark, path: str) -> bool:
    # the output committer writes _SUCCESS only after every part file
    # is in place: a write cut by a driver kill leaves a directory
    # without it, and the next write of that round overwrites it
    return fs_exists(spark, f"{path}/_SUCCESS")


def _cc_resume_point(spark, state_dir: str) -> tuple[int, bool] | None:
    """(round, done) a durable CC run resumes from, or None for a fresh
    state dir. ``done/`` names the final round of a converged run and
    counts only when that round is committed; otherwise the newest
    committed ``labels/round=N`` is the resume point. Every other name
    under ``labels/`` (an uncommitted round, an S3 ``_$folder$``
    marker, tooling files) is skipped."""
    done = f"{state_dir}/done"
    if _cc_committed(spark, done):
        rnd = int(spark.read.parquet(done).collect()[0]["round"])
        if _cc_committed(spark, _cc_round_path(state_dir, rnd)):
            return rnd, True
    labels = f"{state_dir}/labels"
    if not fs_exists(spark, labels):
        return None
    jpath = spark._jvm.org.apache.hadoop.fs.Path(labels)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    rounds = [
        int(name[6:])
        for name in (st.getPath().getName() for st in fs.listStatus(jpath))
        if name.startswith("round=") and name[6:].isdigit()
        and _cc_committed(spark, f"{labels}/{name}")
    ]
    return (max(rounds), False) if rounds else None


def _cc_finalize(docs: DataFrame, labels: DataFrame, id_col: str) -> DataFrame:
    # sizes over the labeled subgraph only; everything else is a
    # singleton and never shuffles for its size of 1
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("n"))
    labeled = labels.join(sizes, "lbl")
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(labeled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("lbl", F.col("id")).alias("cluster_id"),
            F.coalesce(F.col("n"), F.lit(1)).cast("long").alias("cluster_size"),
            F.coalesce(F.col("id") != F.col("lbl"), F.lit(False)).alias(
                "is_dup"
            ),
        )
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    state_dir: str | None = None,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc
    labeled with the MIN doc id reachable through the pairs (its
    cluster canonical), plus cluster size and an ``is_dup`` keep-flag.
    This is the step the pair operators (:func:`minhash_lsh_pairs`,
    :func:`simhash_pairs`) feed at corpus-build time — near-dup is not
    transitive, so "drop the greater id of each pair" over-keeps
    (A~B, B~C, A!~C still must collapse to one survivor) and pairwise
    output alone cannot say which docs to keep. The reference has no
    graph step (its corpus is per-document, ``table_ocr/core.py``);
    this is the standard web-dedup closure (FineWeb/RefinedWeb shape).

    Algorithm: min-label propagation with POINTER JUMPING —
    per iteration (1) every node offers its label to its neighbors
    (equi-join edges x labels, groupBy min), then (2) every node
    re-reads the label OF its label (labels self-join). Jumping makes
    label trees collapse in O(log diameter) rounds (a 1000-hop chain
    converges in ~10 iterations, not 1000) — the alternating-star
    result of Kiveris et al. (MapReduce CC), simplified to the
    monotone-min special case. All steps are hash equi-joins on the
    id; labels are 2 longs/row, so every exchange after the first
    edge join is narrow regardless of document size.

    Convergence detection: a round has converged when no edge joins
    two different labels. A label is always an id of the node's own
    component no larger than the node's id (propagation follows edges
    and min() only selects existing ids), so a component whose edges
    all agree carries one label: its min id, the fixed point. The
    probe is one count over the subgraph's edges with both endpoint
    labels joined on, the same for every orderable id type, and the
    loop stops in the round that reaches the fixed point — no
    confirming round. The symmetrized edges are one materialized
    :func:`_stage_leaf` and each round's labels a plan cut
    (:func:`_truncate_plan`) that the round's probe materializes, so
    every round plans over materialized leaves instead of the upstream
    pair pipeline and a growing join stack. Every label starts as its
    node's own id, so round 1 needs no label frame: its merge is one
    ``groupBy(src)`` over the edge leaf. The leaf's row count ends the
    call with no round when there are no pairs. Raises
    ``RuntimeError`` after ``max_iters`` (pathological graphs only:
    log2(10^12-node chain) < 25).

    Output: (id_col, cluster_id, cluster_size, is_dup). Ids in
    ``pairs`` that are absent from ``docs`` participate in propagation
    but are dropped from the output (``docs`` drives the final join).

    The iteration runs ONLY over the edge-induced subgraph: a node
    with no near-dup pair is a singleton forever, so carrying it
    through every round would scale each iteration with the CORPUS
    instead of the (orders-of-magnitude smaller) dup graph. The corpus
    re-enters exactly once at the end via a single narrow left join.
    Edges are symmetrized with one explode over one scan — a
    self-union here would compute the whole upstream pair pipeline
    (shingle + minhash + verify) twice. No ``distinct()`` on edges:
    the pair operators emit unique (id_a < id_b) pairs, and a
    duplicate edge cannot change a ``min()`` — dedup would cost an
    always-on shuffle to guard a harmless case.

    RESTART CONTRACT. Default (``state_dir=None``): the plan cuts
    survive EXECUTOR loss (the reliable-checkpoint path when the
    session has a checkpoint dir) but live in this session — a DRIVER
    loss costs re-running every round from scratch (bounded:
    O(log diameter) rounds, each one subgraph-sized job wave). Pass
    ``state_dir`` to make rounds durable the way extraction is
    (``plans/lineage.py``): round N's labels are written to
    ``state_dir/labels/round=N/`` parquet and read back, which also
    cuts the plan. A round is committed exactly when its ``_SUCCESS``
    file exists: Spark's output committer writes it after every part
    file is in place, so it needs the committer's default
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=true`` (without
    it no round counts as committed and every call restarts cleanly).
    A killed driver resumes from the newest committed round (the same
    ``pairs`` recipe must be passed again — the pair operators are
    deterministic, so recomputing edges is correct). Convergence
    writes the final round to ``state_dir/done``; while that is
    committed and names a committed round, a re-call returns the
    stored labels without iterating (idempotent re-run, the
    lineage-table property). An uncommitted ``done`` costs one more
    round. Kill/resume pinned in
    ``tests/test_dedup.py::test_duplicate_clusters_resumes_from_state_dir``.
    """
    spark = docs.sparkSession
    resume = _cc_resume_point(spark, state_dir) if state_dir else None
    if resume is not None and resume[1]:
        labels = spark.read.parquet(_cc_round_path(state_dir, resume[0]))
        return _cc_finalize(docs, labels, id_col)
    edges, c = _stage_leaf(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    if c["n"] == 0:
        # no pair, so no round: every doc is a singleton, and the empty
        # leaf carries the id type the labels would have
        return _cc_finalize(docs, edges.toDF("id", "lbl"), id_col)
    rnd, labels = 0, None
    if resume is not None:
        rnd = resume[0]
        labels = spark.read.parquet(_cc_round_path(state_dir, rnd))
    # each symmetrized pair once: a split pair splits in both directions
    probe_edges = edges.where(F.col("src") < F.col("dst"))
    converged = False
    for _ in range(max_iters):
        rnd += 1
        if labels is None:
            # labels start as the ids themselves, and src covers every
            # endpoint: each takes the least of itself and its
            # smallest neighbour
            merged = (
                edges.groupBy(F.col("src").alias("id"))
                .agg(F.min("dst").alias("lbl"))
                .select("id", F.least("id", "lbl").alias("lbl"))
            )
        else:
            offered = (
                edges.join(labels, edges["src"] == labels["id"])
                .select(F.col("dst").alias("id"), "lbl")
            )
            merged = (
                labels.union(offered)
                .groupBy("id").agg(F.min("lbl").alias("lbl"))
            )
        # pointer jump: lbl <- label(lbl). Every lbl IS a node id (labels
        # start as ids and min() only selects existing ones), so the
        # inner self-join is total.
        l2 = merged.select(
            F.col("id").alias("_jid"), F.col("lbl").alias("_jlbl")
        )
        jumped = (
            merged.join(l2, merged["lbl"] == l2["_jid"])
            .select("id", F.least("lbl", "_jlbl").alias("lbl"))
        )
        if state_dir is None:
            labels = _truncate_plan(jumped)
        else:
            path = _cc_round_path(state_dir, rnd)
            jumped.write.mode("overwrite").parquet(path)
            labels = spark.read.parquet(path)
        # convergence probe (see docstring): count the edges whose two
        # endpoints still carry different labels. Its full scan of the
        # labels also materializes this round's local checkpoint.
        n_split = (
            probe_edges
            .join(labels.select(F.col("id").alias("src"),
                                F.col("lbl").alias("_ls")), "src")
            .join(labels.select(F.col("id").alias("dst"),
                                F.col("lbl").alias("_ld")), "dst")
            .where(F.col("_ls") != F.col("_ld"))
            .count()
        )
        if n_split == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters: no convergence in {max_iters} iterations "
            "(graph diameter > 2^max_iters is not a realistic dedup corpus; "
            "check the pair input for id-space corruption)"
            + (
                f" — durable state kept at {state_dir}; a re-call with a "
                "higher max_iters resumes from the last committed round"
                if state_dir is not None
                else ""
            )
        )
    if state_dir is not None:
        local_frame(spark, [(rnd,)], "round long").write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/done")
    return _cc_finalize(docs, labels, id_col)


def cluster_survivors(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Pick ONE survivor per near-dup cluster: the highest-``score_col``
    member, ties broken by MIN id — the step that turns
    :func:`duplicate_clusters` output into an actual kept corpus.
    Min-id survivorship (the ``is_dup`` flag) throws away quality
    information: when a truncated copy carries a lower id than the full
    document, min-id keeps the fragment. FineWeb/RefinedWeb-style
    builds keep the best representative instead.

    ``clusters``: (id_col, cluster_id, ...) — :func:`duplicate_clusters`
    output. ``scores``: (id_col, score_col) — any per-doc numeric
    (quality score, char length, token count); compared as DOUBLE.
    NULL and NaN scores both mean "no usable score" and sort below
    every real score (a doc with no score never beats one with a
    score; an all-missing cluster falls back to pure min-id —
    pinned explicitly because negation does not order-reverse NaN
    and the SQL mirror must agree).

    Scale shape: join on id (narrow rows: 2 ids + a double), then
    ``groupBy(cluster_id).agg(min(struct(missing_rank, -score, id)))``
    + a join back — deliberately NOT a ``row_number() OVER (PARTITION
    BY cluster)`` window: the agg gets a map-side partial combine, so
    a pathological mega-cluster (all-identical boilerplate — routine
    in crawls) folds on the map side instead of sorting through one
    reducer task. Exchanges carry (id, cluster_id, score) /
    (cluster_id, best) only — never document payloads.

    Output: (id_col, cluster_id, score_col, keep). Exactly one
    keep=true per cluster. Reference has no corpus-level dedup
    (per-document loop, ``table_ocr/core.py``); this is the standard
    web-corpus survivor rule.
    """
    cl = clusters.select(F.col(id_col).alias("id"), "cluster_id")
    sc = scores.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("_score")
    )
    joined = cl.join(sc, "id", "left")
    # min(struct(missing_rank, -score, id)): the rank puts NULL *and
    # NaN* scores (rank 1) after all real scores (rank 0) — negation
    # does not order-reverse NaN (-NaN is NaN, which Spark sorts
    # LARGEST), so NaN must be routed through the rank, not the
    # negated key. try_cast (not cast) makes the double conversion
    # total: under ANSI a plain cast of one unparseable string score
    # aborts the whole job, and on non-ANSI engines its NULL would
    # sort ahead of every real score in the negated key — try_cast
    # NULLs route through the missing rank instead (ADVICE r3). The
    # double width also makes the negation overflow-safe for integer
    # scores at Long.MIN. -score turns the min into an argmax, and
    # the id rides UN-negated so string ids (urls) work.
    score_d = F.col("_score").try_cast("double")
    missing = score_d.isNull() | F.isnan(score_d)
    best = (
        joined.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    F.when(missing, 1).otherwise(0).alias("r"),
                    F.when(missing, F.lit(None)).otherwise(-score_d).alias("ns"),
                    F.col("id").alias("i"),
                )
            ).alias("b")
        )
        .select("cluster_id", F.col("b.i").alias("_survivor"))
    )
    return joined.join(best, "cluster_id").select(
        F.col("id").alias(id_col),
        "cluster_id",
        F.col("_score").alias(score_col),
        (F.col("id") == F.col("_survivor")).alias("keep"),
    )


def novel_documents(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup (the recrawl axis none of the within-
    corpus operators cover): keep only ``new`` documents whose pinned-
    normalized content does NOT appear anywhere in the ``seen``
    snapshot. The crawl-scale shape of "process this week's WARCs
    minus everything already in the lake".

    Plan: the SEEN side (the lake — the big side) reduces map-side to
    the shared 192-bit content composite (:func:`content_key_cols`; its
    text never crosses an exchange) and DISTINCTs its keys (map-side
    combine, |distinct contents| rows). The ``new`` batch attaches the
    same keys via withColumn and LEFT_ANTI joins on them — ONE scan of
    ``new`` (its full rows do cross the join exchange when the seen
    keys exceed broadcast: they are the output, and a narrow-then-
    semi-join-back shape would scan and shuffle ``new`` twice instead).
    Spark injects a runtime Bloom filter on the stream side for
    exactly this shape, so most already-seen rows are dropped before
    the exchange; AQE handles hot-content skew. Within-batch
    duplicates in ``new`` are NOT collapsed here — compose with
    :func:`exact_dedup` for that (separable concerns, separately
    auditable).
    """
    clash = {"_h64", "_h128"} & set(new.columns)
    if clash:
        raise ValueError(
            f"novel_documents: input columns {sorted(clash)} collide with "
            "the internal content-key columns; rename them first"
        )
    h64, h128 = content_key_cols(text_col)
    seen_keys = seen.select(*content_key_cols(text_col)).distinct()
    keyed_new = new.withColumn("_h64", h64).withColumn("_h128", h128)
    return keyed_new.join(
        seen_keys, ["_h64", "_h128"], "left_anti"
    ).drop("_h64", "_h128")


def plan_lsh_bands(
    threshold: float,
    num_hashes: int = 128,
    fp_weight: float = 0.5,
    _steps: int = 1000,
) -> tuple:
    """Pick (bands, rows_per_band) for MinHash LSH at a target Jaccard
    ``threshold`` — the knob :func:`minhash_lsh_pairs` otherwise asks
    the caller to eyeball. Standard S-curve analysis (Leskovec/
    Rajaraman/Ullman ch.3; the same integral objective datasketch's
    ``_optimal_param`` uses, public): candidate probability at
    similarity s is ``1 - (1 - s^r)^b``; for every factorization
    ``b * r <= num_hashes`` integrate the false-positive mass below
    the threshold and the false-negative mass above it (fixed-step
    midpoint sums — deterministic, no scipy) and take the
    factorization minimizing ``fp_weight * FP + (1-fp_weight) * FN``.
    Ties break toward fewer bands (fewer band buckets = less shuffle).

    Driver-side pure arithmetic over the ~H·ln H pairs with
    ``b * r <= num_hashes`` — no data touched. Returns ``(bands,
    rows_per_band, weighted_error)``; feed ``rows_per_band`` and
    ``num_hashes = bands * rows_per_band`` into
    :func:`minhash_lsh_pairs`. The exact
    verify step downstream makes FP purely a COST concern (verified
    away) while FN is a RECALL concern (a missed candidate is never
    recovered) — weight accordingly: ``fp_weight`` below 0.5 tightens
    recall at more verify work.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"plan_lsh_bands: threshold must be in (0,1), "
                         f"got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"plan_lsh_bands: num_hashes must be >= 2, "
                         f"got {num_hashes}")
    if not 0.0 <= fp_weight <= 1.0:
        raise ValueError(f"plan_lsh_bands: fp_weight must be in [0,1], "
                         f"got {fp_weight}")
    best = None
    # EVERY (b, r) with b*r <= num_hashes — not just r = num_hashes//b
    # per b: the objective is not monotone in unused hashes, and the
    # restricted sweep measurably misses optima (review r5: at
    # (t=0.2, H=32, w=0.3) it returned (17,1) err 0.0443 vs the true
    # (10,1) err 0.0405). ~H ln H candidate pairs — driver arithmetic.
    w_lo = threshold / _steps
    w_hi = (1.0 - threshold) / _steps
    for r in range(1, num_hashes + 1):
        # the s**r grids depend only on r — hoisting them out of the b
        # loop cuts the sweep's pow work ~b-fold (review r5)
        p_lo = [((i + 0.5) * w_lo) ** r for i in range(_steps)]
        p_hi = [
            (threshold + (i + 0.5) * w_hi) ** r for i in range(_steps)
        ]
        for b in range(1, num_hashes // r + 1):
            # FP: integral of P(candidate) below threshold (midpoint
            # rule); FN: integral of the miss above it
            fp = sum((1.0 - (1.0 - p) ** b) for p in p_lo) * w_lo
            fn = sum((1.0 - p) ** b for p in p_hi) * w_hi
            err = fp_weight * fp + (1.0 - fp_weight) * fn
            if best is None or err < best[2] - 1e-15 or (
                abs(err - best[2]) <= 1e-15 and b < best[0]
            ):
                best = (b, r, err)
    return best
