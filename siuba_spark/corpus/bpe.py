r"""True merges-table-driven BPE tokenization: one scalar Arrow UDF.

``token_count_bpe`` (text.py) approximates subword counts with a regex;
training-data token budgets inherit its error.  This module applies a
REAL byte-pair-encoding merge loop against a rank table (VERDICT r6
item 9):

- pre-tokenize the lowercased text with the GPT-2-ish word/number/symbol
  pattern ``_BPE_RE``;
- truncate each word to ``max_word_len`` characters (bounds the loop;
  the SQL oracle replays the same truncation) and split it into
  characters;
- apply at most ``max_word_len - 1`` merge steps: each step finds the
  lowest-rank adjacent pair (leftmost on rank ties) and merges THAT ONE
  occurrence.

One occurrence per step is exactly the classic all-occurrences-left-to-
right formulation: a merged token is the concatenation of the pair, so
it is strictly longer than either side and can never form a new
occurrence of the SAME pair — merging the leftmost occurrence repeatedly
consumes the identical occurrences in the identical order (test_bpe
pins it against a reference of the classic form; the graded DuckDB
oracle replays the one-occurrence loop step by step in SQL).

The loop runs in Python, wrapped ONCE in a scalar Series → Series Arrow
UDF (``_bpe_col``): a dict gives O(1) rank lookups at any vocabulary
size (GPT-2's 50k merges cost what 40 do), and a bounded per-task memo
of word → tokens leaves the loop to each word's first occurrence (Zipf
makes most instances repeats).  Every entry point is that one column:
``bpe_token_count`` adds it as a count, ``bpe_encode`` as the
``array<string>`` sequence, and ``bpe_tokens_col`` is the bare count
column for ``tokenizer=`` hooks.  So every row gets its own value — no
id column, join or shuffle — and NULL text has no tokens (count 0,
sequence ``[]``).

Why not Spark array expressions: higher-order array functions evaluate
interpreted (CodegenFallback) per row and probe a MapType by linear
scan, so the same loop lowered that way (a literal rank map, a
crc32-bucketed one, a loop over distinct words) measured 5-77x slower
than this UDF at sf0.1 and 10x (SCALE.md, "Round-8: BPE tokenizer
tiers").

Pre-tokenizer parity: the pattern is compiled with ``re.ASCII``, so
``\s`` is the ASCII class Java's regex has — the one ``bpe_train``'s
histogram (``regexp_extract_all``) reads words with.  NBSP and U+2003
are symbol tokens on both sides.  DuckDB's RE2 ``\s`` also excludes
``\v``, so the SQL oracle reads a vertical tab as a symbol token where
Java and this module read whitespace.

No reference equivalent (siuba has no tokenizer surface); the API mirrors
this repo's corpus verbs.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..plans.pipe import verb, wrap_table
from ..plans.tbl import SparkTbl

__all__ = ["DEFAULT_MERGES", "MAX_TRAIN_VOCAB_BYTES",
           "bpe_token_count", "bpe_encode", "bpe_tokens_col", "bpe_train"]

# the GPT-2-ish pre-tokenizer pattern token_count_bpe already uses
from .text import _BPE_RE  # noqa: E402

#: A small deterministic English merges table (rank = list position).
#: Stands in for a trained tokenizer's merges.txt; any [(left, right)]
#: list loaded from a real merges file plugs in unchanged.
DEFAULT_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("in", "g"), ("o", "u"), ("i", "s"), ("o", "f"),
    ("t", "o"), ("e", "s"), ("a", "l"), ("a", "r"), ("s", "t"),
    ("the", "r"), ("l", "e"), ("i", "t"), ("a", "s"), ("c", "o"),
    ("e", "d"), ("i", "on"), ("me", "n"), ("r", "o"), ("m", "e"),
    ("b", "e"), ("w", "h"), ("e", "x"), ("ex", "p"), ("c", "h"),
    ("s", "h"), ("u", "n"), ("w", "or"), ("wor", "d"), ("q", "u"),
]


def _bpe_col(col, merges, max_word_len, encode):
    """The tokenizer: ``col``'s BPE tokens (``encode``, array<string>) or
    their count (bigint), as one scalar Arrow UDF over the text."""
    ranks = {(a, b): i for i, (a, b) in enumerate(
        DEFAULT_MERGES if merges is None else merges)}
    pat = re.compile(_BPE_RE, re.ASCII)
    # word-level memo, bounded.  A word's segmentation is context-free
    # and Zipf makes most instances repeats, so caching (truncated word
    # -> tokens) removes the merge loop from all but the first occurrence
    # per task.  The bound keeps a pathological all-unique-words
    # partition from growing the cache without limit.
    cache: dict = {}

    def encode_word(word):
        word = word[:max_word_len]
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word)
        for _ in range(max(1, max_word_len - 1)):
            if len(syms) < 2:
                break
            best, bi = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi:bi + 2] = [syms[bi] + syms[bi + 1]]
        if len(cache) < (1 << 20):
            cache[word] = syms
        return syms

    def tokens(s):
        if not isinstance(s, str):          # NULL text: no tokens
            return []
        return [t for w in pat.findall(s.lower()) for t in encode_word(w)]

    def fn(texts):      # pandas Series -> Series, one Arrow batch
        toks = texts.map(tokens)
        return toks if encode else toks.map(len)

    return F.pandas_udf(fn, "array<string>" if encode else "bigint")(col)


@verb
def bpe_token_count(tbl: SparkTbl, merges=None, col: str = "text",
                    out: str = "n_bpe_tokens", max_word_len: int = 16):
    """Per-document TRUE-BPE token count against a merges ranking: the
    tokenizer column (module docstring) added as ``out``, a narrow
    per-row map with every input column kept.  Text that produces no
    pre-tokens, NULL included, counts 0."""
    return tbl.evolve(df=tbl.df.withColumn(
        out, _bpe_col(F.col(col), merges, max_word_len, encode=False)))


@verb
def bpe_encode(tbl: SparkTbl, merges=None, col: str = "text",
               out: str = "bpe_tokens", max_word_len: int = 16):
    """Per-document BPE token sequence (array<string>, words in text
    order) added as ``out``, every input column kept; NULL text → []."""
    return tbl.evolve(df=tbl.df.withColumn(
        out, _bpe_col(F.col(col), merges, max_word_len, encode=True)))


def bpe_tokens_col(col, merges=None, max_word_len: int = 16):
    """Expression-level token COUNT of ``col`` (a name or Column) — the
    ``tokenizer=`` hook for token-consuming verbs (token_budget_sample).
    The same column ``bpe_token_count`` adds."""
    return _bpe_col(col, merges, max_word_len, encode=False)


#: hard ceiling on the bytes the trainer may pull to the driver (the same
#: bounded-collect contract as the IVF Lloyd training slice): the word
#: HISTOGRAM is collected, never the corpus, and its top-N cut must fit here
MAX_TRAIN_VOCAB_BYTES = 32 << 20


def _train_on_histogram(hist, n_merges, min_freq):
    """Classic BPE merge learning over a ``[(word, count)]`` histogram —
    the driver-side half of ``bpe_train`` (the corpus never gets here,
    only its word frequencies).  Deterministic: each step merges the
    adjacent symbol pair with the highest corpus count, ties broken by
    the lexicographically smallest ``(left, right)`` pair; stops early
    when the best pair's count drops below ``min_freq``.

    Incremental bookkeeping (the heap holds ``(-count, pair)`` entries,
    stale ones are skipped on pop by re-checking the live count): each
    chosen merge re-segments ONLY the words containing that pair, so a
    training step costs O(affected words x word length), not O(vocab).
    Parity with the recount-from-scratch formulation is pinned in
    test_bpe."""
    import heapq

    words = [list(w) for w, _n in hist]
    counts = [n for _w, n in hist]
    pair_counts: dict = {}
    pair_words: dict = {}

    def add_word(wi):
        syms = words[wi]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + counts[wi]
            pair_words.setdefault((a, b), set()).add(wi)

    def drop_word(wi):
        syms = words[wi]
        for a, b in zip(syms, syms[1:]):
            left = pair_counts[(a, b)] - counts[wi]
            if left:
                pair_counts[(a, b)] = left
            else:
                del pair_counts[(a, b)]
            s = pair_words.get((a, b))
            if s is not None:
                s.discard(wi)
                if not s:
                    del pair_words[(a, b)]

    for wi in range(len(words)):
        add_word(wi)
    heap = [(-n, p) for p, n in pair_counts.items()]
    heapq.heapify(heap)
    merges = []
    while len(merges) < n_merges and heap:
        neg, pair = heapq.heappop(heap)
        live = pair_counts.get(pair, 0)
        if -neg != live:          # stale entry: count changed since push
            if live:
                heapq.heappush(heap, (-live, pair))
            continue
        if live < min_freq:
            break
        merges.append(pair)
        a, b = pair
        ab = a + b
        for wi in sorted(pair_words.get(pair, ())):
            drop_word(wi)
            syms, out, i = words[wi], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            add_word(wi)
            for p2 in set(zip(out, out[1:])):
                heapq.heappush(heap, (-pair_counts.get(p2, 0), p2))
    return merges


def bpe_train(tbl, col: str = "text", n_merges: int = 256,
              min_freq: int = 2, max_vocab_words: int = 1 << 16,
              max_word_len: int = 16):
    """Learn a BPE merges table FROM the corpus (the training half of the
    tokenizer lifecycle; ``bpe_encode``/``bpe_token_count`` are the apply
    half and consume the returned ``[(left, right)]`` list unchanged).

    Spark-first split, sized for 100 TB:

    - the ONE pass over the corpus is a word-frequency aggregation
      (pre-tokenize with the same ``_BPE_RE``/lowercase/``max_word_len``
      truncation the tokenizer uses, explode, groupBy word) — a single
      map-side-combined shuffle whose output is the VOCABULARY, which
      Heaps' law keeps sublinear in corpus size;
    - the histogram is cut to the top ``max_vocab_words`` words by
      (count desc, word asc) — a deterministic bound whose byte weight
      (``max_vocab_words * (max_word_len + 16)``) is checked against
      ``MAX_TRAIN_VOCAB_BYTES`` before any job runs (the same explicit
      driver-slice contract as the IVF Lloyd trainer) — and merge
      learning runs on those frequencies driver-side, exactly how
      single-node BPE trainers work on a word-count table.  Rare words
      below the cut contribute no pair counts (standard practice;
      they still ENCODE fine — apply-side coverage does not depend on
      training-side membership).

    Deterministic end to end: the cut and the tie-breaks are total
    orders, so the same corpus always yields the same merges
    (``bpe_train_gate`` pins this plus an independent Spark-side
    recomputation of the first merge)."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    if min_freq < 1:
        # min_freq=0 would let the trainer emit pairs whose live count
        # already dropped to zero (merged away) — never meaningful
        raise ValueError("min_freq must be >= 1")
    # the cut is bounded by construction — at most max_vocab_words rows of
    # <= max_word_len chars plus ~16 bytes of row overhead each — so the
    # driver guard is checked before any job runs
    bound = max_vocab_words * (max_word_len + 16)
    if bound > MAX_TRAIN_VOCAB_BYTES:
        raise ValueError(
            f"training vocabulary slice up to ~{bound >> 20} MiB exceeds "
            f"the {MAX_TRAIN_VOCAB_BYTES >> 20} MiB driver bound; "
            "lower max_vocab_words (rare-word pair counts are "
            "negligible)")
    df = wrap_table(tbl).df
    words = F.regexp_extract_all(F.lower(F.col(col)), F.lit(_BPE_RE), 0)
    hist = (df.select(F.explode(words).alias("__w"))
            .select(F.substring("__w", 1, max_word_len).alias("__w"))
            .groupBy("__w").agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= min_freq))
    # r13: ONE driver action.  The ordered-limit cut keeps Spark's
    # TakeOrderedAndProject top-K path (no global sort, no single-
    # partition GlobalLimit); the r12 persist() of the cut materialized
    # it through a full Sort + GlobalLimit and regressed the gate ~2x.
    rows = (hist.orderBy(F.col("__n").desc(), F.col("__w"))
            .limit(max_vocab_words).collect())
    pairs = sorted(((r["__w"], r["__n"]) for r in rows),
                   key=lambda wn: (-wn[1], wn[0]))
    return _train_on_histogram(pairs, n_merges, min_freq)
