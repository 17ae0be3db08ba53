"""True-BPE tokenizer (corpus/bpe.py): parity against a pure-Python
reference implementation of classic merge-table BPE (merge ALL
occurrences of the lowest-rank pair per step, left to right) — the
tokenizer's one-occurrence-per-step formulation must be exactly
equivalent."""

import re

import pytest

from siuba_spark import tbl
from siuba_spark.corpus.bpe import (
    DEFAULT_MERGES, bpe_encode, bpe_token_count, bpe_tokens_col,
)

# ASCII ``\s``, like Java's regex and the tokenizer: NBSP / U+2003 are
# symbol tokens, not separators
_WORD_RE = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]", re.ASCII)


def _ref_bpe_word(word, merges, max_word_len=16):
    """Classic BPE: each step merges every non-overlapping occurrence of
    the lowest-rank adjacent pair, scanning left to right."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    syms = list(word[:max_word_len])
    while len(syms) > 1:
        pairs = [(ranks.get((syms[i], syms[i + 1]), 1 << 60), i)
                 for i in range(len(syms) - 1)]
        best = min(p for p, _ in pairs)
        if best >= 1 << 60:
            break
        out, i = [], 0
        while i < len(syms):
            if (i < len(syms) - 1
                    and ranks.get((syms[i], syms[i + 1]), 1 << 60) == best):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _ref_bpe_text(text, merges, max_word_len=16):
    toks = []
    for w in _WORD_RE.findall(text.lower()):
        toks.extend(_ref_bpe_word(w, merges, max_word_len))
    return toks


TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "another word there and another thing",
    "exploring expression translation engines",
    "aaa bbb the the the",
    "punctuation, too! and numbers 12345",
    "",
    "a",
    "antidisestablishmentarianismlongword",   # > max_word_len, truncated
]


def test_bpe_encode_matches_reference(spark):
    t = tbl(spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"))
    got = {r.doc_id: list(r.bpe_tokens)
           for r in bpe_encode(t).df.collect()}
    for i, text in enumerate(TEXTS):
        assert got[i] == _ref_bpe_text(text, DEFAULT_MERGES), (i, text)


def test_bpe_token_count_matches_reference(spark):
    t = tbl(spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"))
    got = {r.doc_id: r.n_bpe_tokens
           for r in bpe_token_count(t).df.collect()}
    for i, text in enumerate(TEXTS):
        assert got[i] == len(_ref_bpe_text(text, DEFAULT_MERGES)), (i, text)


def test_bpe_custom_merges(spark):
    merges = [("a", "b"), ("ab", "c"), ("c", "d")]
    t = tbl(spark.createDataFrame(
        [(0, "abcd abc ab cd x")], "doc_id long, text string"))
    out = bpe_encode(t, merges=merges).df.collect()[0].bpe_tokens
    assert list(out) == _ref_bpe_text("abcd abc ab cd x", merges) \
        == ["abc", "d", "abc", "ab", "cd", "x"]


def test_bpe_tokenizer_hook_on_token_budget(spark):
    """token_budget_sample(tokenizer=) measures budgets in true-BPE
    units: with a 6-token budget and per-doc BPE counts [4, 4, 4], only
    docs while running total < 6 survive (the first two, md5 order)."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.quality import token_budget_sample
    rows = [(i, "g", "the thing is here") for i in range(3)]
    t = tbl(spark.createDataFrame(rows, "doc_id long, g string, text string"))
    per_doc = bpe_token_count(t).df.collect()[0].n_bpe_tokens
    out = token_budget_sample(
        t, "g", budget=per_doc + 1,
        tokenizer=lambda c: bpe_tokens_col(c)).df
    assert out.count() == 2  # first fits under budget, second overshoots
    # the count is bound once: the tokenizer runs in ONE Arrow eval
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_bpe_hypothesis_parity(spark):
    """Randomized words over the merge alphabet — the equivalence proof
    in test form."""
    import random
    rng = random.Random(7)
    letters = "theandingwofrst"
    texts = [" ".join("".join(rng.choice(letters)
                              for _ in range(rng.randint(1, 12)))
                      for _ in range(rng.randint(1, 6)))
             for _ in range(25)]
    t = tbl(spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"))
    got = {r.doc_id: list(r.bpe_tokens) for r in bpe_encode(t).df.collect()}
    for i, text in enumerate(texts):
        assert got[i] == _ref_bpe_text(text, DEFAULT_MERGES), (i, text)


def test_bpe_counts_feed_pack_sequences(spark):
    """Composition: bpe_token_count's output column drives pack_sequences
    — training sequences measured in TRUE tokenizer units (the point of
    the tokenizer hook family)."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.quality import pack_sequences
    rows = [(i, "g", "the thing is here and there") for i in range(6)]
    t = tbl(spark.createDataFrame(rows, "doc_id long, g string, text string"))
    # column-preserving (ADVICE r7 item 5): g/text ride along with the count
    counted = bpe_token_count(t, merges=DEFAULT_MERGES)
    assert set(counted.df.columns) == {"doc_id", "g", "text", "n_bpe_tokens"}
    per_doc = counted.df.agg(F.min("n_bpe_tokens"), F.max("n_bpe_tokens")).first()
    assert per_doc[0] == per_doc[1]  # identical docs -> identical counts
    n = per_doc[0]
    packed = pack_sequences(counted, tokens_col="n_bpe_tokens",
                            capacity=2 * n, by="g").df
    seqs = {r.doc_id: r.seq_id for r in packed.collect()}
    # 6 docs, 2 per sequence -> sequence ids 0,0,1,1,2,2 in doc order
    assert [seqs[i] for i in range(6)] == [0, 0, 1, 1, 2, 2]


def test_bpe_null_text_and_columns_kept(spark):
    """Every entry point is a per-row column: NULL and empty text give 0
    tokens / [], input columns (and their order) are kept, and rows that
    share an id — or have a NULL id — each get their own value."""
    from pyspark.sql import functions as F

    rows = [(1, "the thing", "x"), (1, "another word here", "y"),
            (None, "the", "z"), (2, "", "w"), (3, None, "v")]
    t = tbl(spark.createDataFrame(
        rows, "doc_id long, text string, tag string"))
    want = [len(_ref_bpe_text(r[1] or "", DEFAULT_MERGES)) for r in rows]
    cnt = bpe_token_count(t).df
    assert cnt.columns == ["doc_id", "text", "tag", "n_bpe_tokens"]
    assert [(r.tag, r.n_bpe_tokens) for r in cnt.collect()] == \
        [(r[2], n) for r, n in zip(rows, want)]
    enc = bpe_encode(t).df
    assert enc.columns == ["doc_id", "text", "tag", "bpe_tokens"]
    assert [list(r.bpe_tokens) for r in enc.collect()] == \
        [_ref_bpe_text(r[1] or "", DEFAULT_MERGES) for r in rows]
    col = t.df.select(bpe_tokens_col(F.col("text")).alias("n"))
    assert [r.n for r in col.collect()] == want
    assert want[2:] == [1, 0, 0]


def test_bpe_pretokenizer_matches_java_regex(spark):
    """The tokenizer's words are the words Spark's Java regex extracts
    (the ones bpe_train's histogram counts): ASCII ``\\s``, so NBSP and
    EM SPACE are symbol tokens and tab / vertical tab separate.  With no
    merges every token is one character of a (truncated) word."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.text import _BPE_RE
    texts = ["the\u00a0thing", "a\u2003b c", "tab\there", "v\x0btab",
             "x\u00a0\u00a0\u2003y\t\x0b"]
    t = tbl(spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"))
    java = t.df.select("doc_id", F.regexp_extract_all(
        F.lower("text"), F.lit(_BPE_RE), 0).alias("w"))
    want = {r.doc_id: [c for w in r.w for c in w[:16]]
            for r in java.collect()}
    got = {r.doc_id: list(r.bpe_tokens)
           for r in bpe_encode(t, merges=[]).df.collect()}
    assert got == want
    assert got[0] == ["t", "h", "e", "\u00a0", "t", "h", "i", "n", "g"]
    assert [_ref_bpe_text(x, []) for x in texts] == \
        [want[i] for i in range(len(texts))]


def test_bpe_arrow_auto_at_gpt2_scale(spark):
    """A GPT-2-size table (50k merges) completes fast — dict lookups
    cost the same at any size; junk filler pairs never match, so counts
    equal the DEFAULT_MERGES result."""
    filler = [(f"zz{i}", f"qq{i}") for i in range(50_000)]
    merges = list(DEFAULT_MERGES) + filler
    assert len(merges) == 50_040
    t = tbl(spark.createDataFrame(
        [(0, "the thing is here and the word is there")],
        "doc_id long, text string"))
    big = bpe_token_count(t, merges=merges).df.collect()[0].n_bpe_tokens
    small = bpe_token_count(t).df.collect()[0].n_bpe_tokens
    assert big == small


# ---------------------------------------------------------------------------
# bpe_train: merge LEARNING (corpus/bpe.py bpe_train / _train_on_histogram)
# ---------------------------------------------------------------------------

def _naive_train(hist, n_merges, min_freq):
    """Recount-from-scratch reference trainer: every step rebuilds the
    full pair-count table from the current segmentations and picks
    (max count, lexicographically smallest pair)."""
    words = [list(w) for w, _ in hist]
    counts = [n for _, n in hist]
    merges = []
    while len(merges) < n_merges:
        pc = {}
        for syms, n in zip(words, counts):
            for p in zip(syms, syms[1:]):
                pc[p] = pc.get(p, 0) + n
        if not pc:
            break
        best = min(pc, key=lambda p: (-pc[p], p))
        if pc[best] < min_freq:
            break
        merges.append(best)
        a, b = best
        for wi, syms in enumerate(words):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
    return merges


def test_bpe_train_incremental_equals_naive():
    from siuba_spark.corpus.bpe import _train_on_histogram
    hist = [("low", 5), ("lower", 2), ("lowest", 2), ("newer", 6),
            ("wider", 3), ("new", 7), ("a", 9), ("bb", 1)]
    for n_merges in (1, 3, 8, 32):
        for min_freq in (1, 2, 5):
            assert (_train_on_histogram(hist, n_merges, min_freq)
                    == _naive_train(hist, n_merges, min_freq)), \
                (n_merges, min_freq)


def test_bpe_train_hypothesis_parity():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from siuba_spark.corpus.bpe import _train_on_histogram

    word = st.text(alphabet="abcd", min_size=1, max_size=10)
    hist_s = st.dictionaries(word, st.integers(1, 9),
                             min_size=1, max_size=12)

    @settings(max_examples=60, deadline=None)
    @given(hist_s, st.integers(1, 12), st.integers(1, 3))
    def check(hist, n_merges, min_freq):
        items = sorted(hist.items())
        assert (_train_on_histogram(items, n_merges, min_freq)
                == _naive_train(items, n_merges, min_freq))

    check()


def test_bpe_train_end_to_end(spark):
    """Distributed histogram + driver merge loop: learned merges feed the
    tokenizer unchanged and compress the corpus; training is
    deterministic across invocations."""
    from siuba_spark.corpus.bpe import bpe_train

    rows = [(i, t) for i, t in enumerate(TEXTS * 3)]
    t = tbl(spark.createDataFrame(rows, "doc_id long, text string"))
    merges = bpe_train(t, n_merges=12, min_freq=2)
    assert len(merges) == 12
    assert merges == bpe_train(t, n_merges=12, min_freq=2)
    # learned merges encode: total tokens strictly below character count
    enc = bpe_encode(t, merges=merges).df.collect()
    n_tok = sum(len(r.bpe_tokens) for r in enc)
    n_chr = sum(len(w) for _, txt in rows
                for w in _WORD_RE.findall(txt.lower()))
    assert 0 < n_tok < n_chr
    # first merge = the corpus's most frequent adjacent character pair,
    # recomputed naively from the histogram
    from collections import Counter
    pc = Counter()
    for _, txt in rows:
        for w in _WORD_RE.findall(txt.lower()):
            for p in zip(w[:16], w[1:16]):
                pc[p] += 1
    best = min(pc, key=lambda p: (-pc[p], p))
    assert merges[0] == best


def test_bpe_train_min_freq_stops_early(spark):
    from siuba_spark.corpus.bpe import bpe_train
    t = tbl(spark.createDataFrame([(0, "ab ab cd")],
                                  "doc_id long, text string"))
    # (a,b) count 2 passes min_freq=2; (c,d) count 1 does not
    assert bpe_train(t, n_merges=10, min_freq=2) == [("a", "b")]


def test_bpe_train_driver_bound_enforced(spark):
    import pytest as _pytest

    import siuba_spark.corpus.bpe as bpe_mod
    t = tbl(spark.createDataFrame([(0, "aa bb cc dd ee ff gg hh")],
                                  "doc_id long, text string"))
    old = bpe_mod.MAX_TRAIN_VOCAB_BYTES
    bpe_mod.MAX_TRAIN_VOCAB_BYTES = 8
    try:
        with _pytest.raises(ValueError, match="driver bound"):
            bpe_mod.bpe_train(t, min_freq=1)
    finally:
        bpe_mod.MAX_TRAIN_VOCAB_BYTES = old


def test_bpe_train_byte_guard_fires_before_any_job(spark, monkeypatch):
    """The training cut is bounded by construction (max_vocab_words rows
    of <= max_word_len chars + 16 bytes each), so a bound below that
    raises before the histogram job runs — even on a tiny corpus — and
    a bound at it trains normally."""
    import uuid

    import siuba_spark.corpus.bpe as bpe_mod
    t = tbl(spark.createDataFrame([(0, "aa aa bb")],
                                  "doc_id long, text string"))
    kw = dict(min_freq=1, max_vocab_words=100, max_word_len=8)
    bound = 100 * (8 + 16)
    sc = spark.sparkContext
    group = f"bpe-guard-{uuid.uuid4().hex}"
    monkeypatch.setattr(bpe_mod, "MAX_TRAIN_VOCAB_BYTES", bound - 1)
    sc.setJobGroup(group, "bpe_train byte guard")
    try:
        with pytest.raises(ValueError, match="driver bound"):
            bpe_mod.bpe_train(t, **kw)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    monkeypatch.setattr(bpe_mod, "MAX_TRAIN_VOCAB_BYTES", bound)
    assert bpe_mod.bpe_train(t, n_merges=1, **kw) == [("a", "a")]


def test_bpe_train_truncation_matches_apply(spark):
    """Words longer than max_word_len train on the SAME truncated form
    the tokenizer encodes, so train/apply stay consistent."""
    from siuba_spark.corpus.bpe import bpe_train
    long_word = "abcdefghijklmnopqrstuvwxyz"
    t = tbl(spark.createDataFrame([(0, f"{long_word} {long_word}")],
                                  "doc_id long, text string"))
    merges = bpe_train(t, n_merges=100, min_freq=2, max_word_len=4)
    # only pairs inside the 4-char prefix can be learned
    assert set("".join(a + b for a, b in merges)) <= set("abcd")
    enc = bpe_encode(t, merges=merges, max_word_len=4).df.collect()[0]
    assert list(enc.bpe_tokens) == ["abcd", "abcd"]


def test_bpe_train_validates_params(spark):
    import pytest as _pytest

    from siuba_spark.corpus.bpe import bpe_train
    t = tbl(spark.createDataFrame([(0, "ab ab")],
                                  "doc_id long, text string"))
    with _pytest.raises(ValueError, match="min_freq"):
        bpe_train(t, min_freq=0)
    with _pytest.raises(ValueError, match="n_merges"):
        bpe_train(t, n_merges=-1)
    assert bpe_train(t, n_merges=0) == []
