"""Byte-pair-encoding tokenizer — the pinned whitespace token-count
heuristic's documented swap-in made EXECUTABLE with the public
algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine Translation
of Rare Words with Subword Units"). Completes the swap-in trio next to
the NB quality scorer and the multiclass lang-id head in
``importance.py``: any merge table expressed in this module's symbol
space — single characters plus the STANDALONE end-of-word sentinel —
drops into ``apply_bpe``/``bpe_token_count`` unchanged, and the
bundled ``train_bpe`` learns one from the corpus itself with no
external artifacts. Tables in a FUSED end-of-word alphabet
(subword-nmt's ``learn_bpe`` emits symbols like ``t</w>`` as base
alphabet entries) are REJECTED loudly by the validator rather than
silently under-merging — convert them first by splitting each fused
``x</w>`` base symbol into the explicit ``(x, </w>)`` merge.

Split of labor, pinned deliberately:

- TRAINING is driver-side over a BOUNDED deterministic sample.
  BPE training is inherently sequential in merge rank — merge ``i+1``'s
  pair statistics are defined on the corpus AFTER merge ``i`` has been
  applied — so a faithful distributed trainer would run ``n_merges``
  corpus-wide aggregation rounds (a shuffle per merge; thousands of
  jobs for a real vocabulary). Standard practice, including the
  original paper and every production vocabulary since, trains on a
  corpus sample and applies everywhere; the sample here is a
  deterministic hash-ordered top-N (``TakeOrderedAndProject`` — a
  per-partition top-N merge, never a full sort or full collect), so
  two runs over the same corpus learn the same merges regardless of
  partitioning. The materialization is bounded AND enforced
  (``MAX_TRAIN_DOCS``), per the repo-wide driver-collect rule. The
  merge loop itself is the INDEXED incremental algorithm (pair stats
  maintained under a lazy max-heap, each merge touching only the
  words that contain its pair — subword-nmt's approach), so cost per
  merge scales with the pair's support, not the sample; the obvious
  recount-everything loop lives in ``tests/test_bpe.py`` as the
  differential reference.
- APPLICATION is the distributed part: a map-only Arrow kernel, no
  exchange at all. Per word, the greedy lowest-rank-pair loop (the
  rank-dict formulation popularized by the GPT-2 reference encoder);
  a per-worker word→tokens cache (closure state, shared across Arrow
  batches) exploits the Zipfian repetition of web text so the merge
  loop runs once per DISTINCT word per worker, not once per
  occurrence. The cache is size-bounded — web-scale vocabulary is
  unbounded and an unbounded dict would grow for the lifetime of the
  Python worker.

Validated table contract (``_check_merges``, enforced on every apply):

- every component is a single character, the sentinel, or the product
  of an EARLIER merge — so the rank-min kernel and the rank-order
  formulation (apply merges in learned order, each everywhere; the
  tests' reference) provably agree (an out-of-order pair like
  ``('ab','c')`` before ``('a','b')`` makes the two formulations
  diverge and is rejected, as is any fused-alphabet symbol);
- no merge may SPELL the sentinel out of literal text: a product that
  contains ``</w>`` is only legal when it inherits it from its right
  component (true end-of-word lineage). Crawled text legitimately
  contains a literal ``</w>`` substring (raw HTML fragments); without
  this rule those characters could merge into a symbol
  string-identical to the sentinel, conflating pair statistics and
  breaking the "word boundary = ``</w>``-suffixed token" parse. The
  trainer skips such candidate merges under the SAME rule, so
  trained tables always validate.

Pre-tokenization matches the pinned ``textstats.tokens()`` contract:
split on ``\\s+``, drop empties, NULL text → zero tokens.

Reference parity note: the reference repo counts LLM usage tokens from
API metadata (table_ocr/parser.py's usage fields); it has no local
tokenizer. This operator exists for the 100 TB packing path
(``packing.pack_sequences(weight_col=...)``), where sequence budgets
are denominated in model tokens, not whitespace words.
"""

from __future__ import annotations

import re
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EOW = "</w>"

# the pinned tokens() splits on JAVA \s+ (ASCII: space \t \n \x0B \f
# \r); Python's str.split() splits on UNICODE whitespace (NBSP,
# ideographic space, ...), which would move word boundaries on exactly
# the messy text a crawl corpus is full of. re.ASCII pins the same
# six-character class as the JVM expression.
_WS = re.compile(r"\s+", re.ASCII)


def _words(text: str) -> List[str]:
    return [w for w in _WS.split(text) if w]


# enforced ceiling on the driver-side training materialization — at
# 20k docs of web text the pair statistics are already stable (the
# original paper trained 32k merges on sampled news corpora); raise
# deliberately, not by accident
MAX_TRAIN_DOCS = 200_000

# per-worker word→tokens cache bound: ~64k distinct words comfortably
# covers a web-text working set; beyond it, clear and rebuild (simple
# and allocation-free vs an LRU, and correct at any size)
_CACHE_MAX = 1 << 16


def _word_seq(word: str) -> Tuple[str, ...]:
    return tuple(word) + (EOW,)


def _apply_pair(s: Tuple[str, ...], a: str, b: str) -> Tuple[str, ...]:
    """Replace every left-to-right non-overlapping (a, b) adjacency in
    ``s`` with the concatenated symbol — the one merge-rewrite shared
    by the trainer, the kernel, and the tests' order-apply reference."""
    ab = a + b
    out: List[str] = []
    i = 0
    n = len(s)
    while i < n:
        if i + 1 < n and s[i] == a and s[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return tuple(out)


def _eow_collision(a: str, b: str) -> bool:
    """True when merging (a, b) would create a symbol that SPELLS the
    sentinel out of literal text. Legal products carry ``</w>`` only
    by inheriting it from their right component (end-of-word lineage:
    such symbols exist solely in word-final position, and by induction
    every symbol containing ``</w>`` is suffix-terminated by it). A
    product containing ``</w>`` that the right side does not account
    for — spelled across the join (``'es<' + '/w>x'``) or sitting in
    the left component — would alias the sentinel mid-word."""
    return EOW in (a + b) and (EOW in a or EOW not in b)


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    sample_docs: int = 20_000,
) -> List[Tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a bounded deterministic
    sample of ``df``. Returns the ordered merge list — the model IS
    this list; persist it however you like (it is plain data).

    Determinism: the sample is the ``sample_docs`` texts with the
    smallest ``(md5(text), text)`` key — a global top-N the planner
    executes as per-partition top-N + merge (no full sort, no full
    shuffle), identical on every run and partitioning. Ties in pair
    frequency break to the lexicographically smallest pair, so the
    learned merges are a pure function of the sampled multiset.

    Scale: the ONLY distributed work is the top-N scan; everything
    after runs on ≤ ``sample_docs`` driver-side texts (enforced ≤
    ``MAX_TRAIN_DOCS``). On 10^12 docs this is one bounded pass —
    the deliberate design, not a shortcut (see module docstring).
    One caveat at EXTREME partition counts: the top-N's single merge
    reducer receives ``partitions × sample_docs`` candidate rows
    (each partition's local top-N). At 10^5 input partitions,
    pre-thin with the map-only hash-threshold filter first —
    ``train_bpe(deterministic_sample(df, f, key="url"), ...)`` — the
    top-N of a deterministic sample is still deterministic, and the
    reducer input shrinks by ``f``."""
    if n_merges <= 0:
        raise ValueError(f"train_bpe: n_merges={n_merges} must be positive")
    if sample_docs <= 0 or sample_docs > MAX_TRAIN_DOCS:
        raise ValueError(
            f"train_bpe: sample_docs={sample_docs} outside "
            f"(0, {MAX_TRAIN_DOCS}] — the driver-side training "
            "materialization is bounded by design"
        )
    rows = (
        df.select(F.col(text_col).alias("_t"))
        .where(F.col("_t").isNotNull() & (F.length("_t") > 0))
        .orderBy(F.md5(F.col("_t")), F.col("_t"))
        .limit(sample_docs)
        .collect()
    )
    from collections import Counter

    vocab: Counter = Counter()
    for r in rows:
        for w in _words(r["_t"]):
            vocab[w] += 1
    return _train_merges(dict(vocab), n_merges)


def _train_merges(
    vocab: Dict[str, int], n_merges: int
) -> List[Tuple[str, str]]:
    """Indexed incremental merge learner: pair statistics live under a
    lazy max-heap and each merge rewrites ONLY the words that contain
    its pair (tracked by a pair→words index) — cost per merge scales
    with the pair's support, not the sample. Heap entries are
    (-count, pair); stale entries (count changed since push) are
    discarded on pop, so the deterministic argmax — highest count,
    ties to the lexicographically smallest pair — is exact.
    Differential-pinned against the recount-everything reference
    trainer in ``tests/test_bpe.py``."""
    import heapq
    from collections import Counter, defaultdict

    seqs: Dict[str, Tuple[str, ...]] = {w: _word_seq(w) for w in vocab}
    stats: Counter = Counter()
    index: Dict[Tuple[str, str], set] = defaultdict(set)
    for w, freq in vocab.items():
        s = seqs[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            stats[p] += freq
            index[p].add(w)
    heap: List[Tuple[int, Tuple[str, str]]] = [
        (-c, p) for p, c in stats.items() if not _eow_collision(*p)
    ]
    heapq.heapify(heap)

    merges: List[Tuple[str, str]] = []
    taken: set = set()
    while len(merges) < n_merges and heap:
        negc, best = heapq.heappop(heap)
        if -negc != stats.get(best, 0) or negc == 0:
            continue  # stale entry — a fresher one exists if still live
        if best not in taken:
            # a picked pair's adjacency can RE-EMERGE when a later
            # merge builds the same product string via a different
            # split ('abc' from ('a','bc') after ('ab','c') already
            # produced it); apply-side merges those at the ORIGINAL
            # rank, so the trainer merges them too but must not record
            # a duplicate rank (the validator rejects duplicates)
            merges.append(best)
            taken.add(best)
        a, b = best
        changed: set = set()
        for w in list(index.get(best, ())):
            freq = vocab[w]
            s = seqs[w]
            s2 = _apply_pair(s, a, b)
            if s2 == s:  # index is maintained lazily via `changed`
                continue
            old = Counter(zip(s, s[1:]))
            new = Counter(zip(s2, s2[1:]))
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    stats[p] += d * freq
                    changed.add(p)
                if new.get(p, 0):
                    index[p].add(w)
                elif p in index:
                    index[p].discard(w)
            seqs[w] = s2
        stats.pop(best, None)
        index.pop(best, None)
        for p in changed:
            c = stats.get(p, 0)
            if c > 0 and not _eow_collision(*p):
                heapq.heappush(heap, (-c, p))
            elif c <= 0:
                stats.pop(p, None)
                index.pop(p, None)
    return merges


def _check_merges(merges: Sequence[Sequence[str]]) -> List[Tuple[str, str]]:
    """Validate a merge table against the symbol-space contract (see
    module docstring): pairs of non-empty strings, no duplicates,
    every component CONSTRUCTIBLE (a single character, the sentinel,
    or the product of an earlier merge), and no sentinel-spelling
    products. Constructibility is what makes the rank-min kernel and
    the rank-order formulation provably agree, and what turns a fused-
    alphabet table (subword-nmt) into a loud error instead of a
    silent systematic under-merge."""
    out: List[Tuple[str, str]] = []
    products: set = set()
    for rank, m in enumerate(merges):
        # reject plain strings explicitly: "ab" IS a length-2 sequence
        # of strings, so a flat token list passed by mistake would
        # silently decompose into bogus ('a','b') pairs
        if (
            isinstance(m, str)
            or len(m) != 2
            or not all(isinstance(x, str) and x for x in m)
        ):
            raise ValueError(
                f"bpe: merge entry {m!r} is not a pair of non-empty strings"
            )
        a, b = m[0], m[1]
        for x in (a, b):
            if len(x) > 1 and x != EOW and x not in products:
                raise ValueError(
                    f"bpe: merge #{rank} component {x!r} is not a single "
                    f"character, the {EOW!r} sentinel, or the product of "
                    "an earlier merge. Fused end-of-word alphabets "
                    "(subword-nmt) must be converted: split each fused "
                    f"'x{EOW}' base symbol into the explicit ('x', "
                    f"{EOW!r}) merge"
                )
        if _eow_collision(a, b):
            raise ValueError(
                f"bpe: merge #{rank} ({a!r}, {b!r}) would spell the "
                f"{EOW!r} sentinel out of literal text — its product "
                "carries the marker without end-of-word lineage"
            )
        out.append((a, b))
        products.add(a + b)
    if len(set(out)) != len(out):
        raise ValueError("bpe: duplicate merge pairs — ranks would be ambiguous")
    return out


def _encode_word(
    word: str,
    ranks: Dict[Tuple[str, str], int],
    cache: Dict[str, Tuple[str, ...]],
) -> Tuple[str, ...]:
    """Greedy BPE: repeatedly merge ALL occurrences (left-to-right,
    non-overlapping) of the lowest-rank pair present. Rank-dict
    formulation — only pairs actually in the word are consulted, so
    cost scales with the word, not the merge table."""
    hit = cache.get(word)
    if hit is not None:
        return hit
    s = _word_seq(word)
    while len(s) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(s) - 1):
            r = ranks.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (s[i], s[i + 1])
        if best_pair is None:
            break
        s = _apply_pair(s, *best_pair)
    if len(cache) >= _CACHE_MAX:
        cache.clear()
    cache[word] = s
    return s


def apply_bpe(
    df: DataFrame,
    merges: Sequence[Sequence[str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Add ``out_col``: the document's BPE token strings
    (``array<string>``; word boundary = the ``</w>``-suffixed token —
    sound for arbitrary input text because validated tables cannot
    spell the sentinel, see ``_check_merges``). Map-only Arrow
    kernel — no exchange; the merge-rank dict rides the UDF closure
    (a 32k-merge table is ~1 MB — task-binary freight, far under
    broadcast-worthy).

    NULL text → empty array, matching the pinned ``tokens()``
    NULL-contract."""
    ranks = {m: i for i, m in enumerate(_check_merges(merges))}
    # closure state, NOT per-batch: each Python worker deserializes its
    # own copy once and keeps it across Arrow batches for the lifetime
    # of the task — per-batch (256 rows) a cache barely amortizes
    cache: Dict[str, Tuple[str, ...]] = {}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def udf(texts):  # type: ignore[no-untyped-def]
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks: List[str] = []
            for w in _words(t):
                toks.extend(_encode_word(w, ranks, cache))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, udf(F.col(text_col)))


def bpe_token_count(
    df: DataFrame,
    merges: Sequence[Sequence[str]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Add ``out_col``: the document's BPE token COUNT (long) — the
    packing weight column (`packing.pack_sequences(weight_col=...)`:
    sequence budgets are denominated in model tokens, and this makes
    the documented BPE-weight swap-in executable end to end). Same
    kernel as ``apply_bpe`` but returns only the count: the token
    strings never cross the Arrow boundary, which is the entire
    per-row cost at corpus scale. NULL text → 0."""
    ranks = {m: i for i, m in enumerate(_check_merges(merges))}
    cache: Dict[str, Tuple[str, ...]] = {}  # per-worker closure state (see apply_bpe)

    @F.pandas_udf(T.LongType())
    def udf(texts):  # type: ignore[no-untyped-def]
        import pandas as pd

        out = []
        for t in texts:
            if t is None:
                out.append(0)
                continue
            n = 0
            for w in _words(t):
                n += len(_encode_word(w, ranks, cache))
            out.append(n)
        return pd.Series(out, dtype="int64")

    return df.withColumn(out_col, udf(F.col(text_col)))
