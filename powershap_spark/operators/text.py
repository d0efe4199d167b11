"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure built-in expressions (whole-stage codegen); deliberately simple,
deterministic heuristics — the point is scale-shaped plumbing with
oracle-checkable semantics, not NLP accuracy.
"""

from __future__ import annotations

from pyspark.sql import functions as F

__all__ = [
    "token_count",
    "bpe_ish_token_count",
    "stopword_ratio",
    "quality_score",
    "lang_id",
    "rolling_fingerprint",
    "repetition_ratios",
    "chunk_tokens",
    "topk_ngrams",
    "dedup_lines",
    "dedup_ngram_spans",
    "lm_perplexity",
    "tfidf_keywords",
    "bpe_learn",
    "bpe_encode",
    "BPE_SEP",
    "build_vocab",
    "tokens_to_ids",
    "token_shift",
    "corpus_divergence",
]

_EN_STOP = ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"]
_DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "ich", "sie", "mit", "ein"]
_FR_STOP = ["le", "la", "les", "et", "est", "pas", "je", "vous", "que", "une"]
_ES_STOP = ["el", "la", "los", "y", "es", "no", "yo", "que", "con", "una"]


def _tokens(col) -> "F.Column":
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(F.lower(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _word_ngrams(toks, n: int, sep: str = " "):
    """Word n-gram array from a token array: empty for docs with < n
    tokens (the descending-``sequence()`` guard lives here). Shared by
    repetition_ratios, topk_ngrams, and dedup_ngram_spans (keep in sync
    with the DuckDB oracle mirrors in __spark_entry__.py).

    The token expression is bound ONCE via a single-element ``transform``
    lambda: interpreted HOF trees get no CSE, so a caller passing the
    usual ``_tokens(col)`` EXPRESSION would otherwise re-run the whole
    trim/lower/split per n-gram position — O(n_tokens^2) per row
    (measured 4x on repetition_ratios at sf0.1). Values unchanged."""
    return F.element_at(
        F.transform(
            F.array(toks),
            lambda tk: F.when(
                F.size(tk) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - n),
                    lambda i: F.array_join(F.slice(tk, i + 1, n), sep),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ),
        1,
    )


def token_count(col) -> "F.Column":
    """Whitespace token count."""
    return F.size(_tokens(col)).cast("int")


def bpe_ish_token_count(col) -> "F.Column":
    """BPE-ish token estimate: count of word pieces + punctuation via regex
    (letters/digit runs and individual symbols), like a crude tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    ).cast("int")


def _stop_hits(col, stopwords: list[str]) -> "F.Column":
    toks = _tokens(col)
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.array_intersect(F.array_distinct(toks), arr)).cast("int")


def stopword_ratio(col, stopwords: list[str] | None = None) -> "F.Column":
    """Fraction of tokens that are (English) stopwords."""
    toks = _tokens(col)
    arr = F.array(*[F.lit(s) for s in (stopwords or _EN_STOP)])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0)).cast(
        "double"
    )


def quality_score(col) -> "F.Column":
    """Heuristic [0,1] document quality: length band + punctuation sanity +
    stopword presence + alpha ratio. Deterministic, oracle-expressible."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    toks = _tokens(c)
    n_tok = F.size(toks)
    punct = n - F.length(F.regexp_replace(c, r"[\.,;:!\?]", ""))
    alpha = F.length(F.regexp_replace(F.lower(c), r"[^a-z]", ""))
    len_ok = F.when((n_tok >= 5) & (n_tok <= 10000), 1.0).otherwise(0.0)
    punct_ok = F.when(n > 0, 1.0 - F.least(punct / n * 5.0, F.lit(1.0))).otherwise(0.0)
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    stop = stopword_ratio(c)
    stop_ok = F.least(stop * 4.0, F.lit(1.0))
    return ((len_ok + punct_ok + alpha_ratio + stop_ok) / 4.0).cast("double")


def lang_id(col) -> "F.Column":
    """Stopword-vote language ID over {en, de, fr, es}; 'und' (undetermined)
    when no stopword list scores > 0. Ties break by fixed language order."""
    scores = [
        ("en", _stop_hits(col, _EN_STOP)),
        ("de", _stop_hits(col, _DE_STOP)),
        ("fr", _stop_hits(col, _FR_STOP)),
        ("es", _stop_hits(col, _ES_STOP)),
    ]
    # struct comparison is lexicographic: max score wins, ties go to the
    # earliest language in the list (higher -index)
    best = F.greatest(
        *[
            F.struct(sc.alias("s"), F.lit(-i).alias("o"), F.lit(lang).alias("l"))
            for i, (lang, sc) in enumerate(scores)
        ]
    )
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def rolling_fingerprint(col, mod: int = 1_000_000_007, base: int = 31) -> "F.Column":
    """Polynomial rolling hash over the character codepoints:
    h = sum(base^i * code_i) mod p — engine-agnostic (same value computable
    in DuckDB SQL), unlike xxhash64."""
    c = F.col(col) if isinstance(col, str) else col
    # regexp_extract_all('.') yields exactly the non-newline characters —
    # identical tokenization to the DuckDB oracle (split-based alternatives
    # emit a trailing empty string that would corrupt the hash)
    chars = F.regexp_extract_all(c, F.lit("."), 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * base + F.ascii(ch), F.lit(mod)),
    ).cast("long")


def repetition_ratios(col, n: int = 2) -> dict:
    """Boilerplate / degenerate-repetition signals (the Gopher/RefinedWeb
    quality-filter family): fraction of repeated tokens and repeated word
    n-grams — 1 - distinct/total, 0.0 for empty docs, in [0, 1).

    Highly repetitive machine-generated or template text scores near 1;
    natural prose stays low. Pure array expressions (one split, slices and
    set ops), oracle-expressible with DuckDB list functions."""
    toks = _tokens(col)

    def dup_ratio(arr):
        # bind the (possibly expensive) array expression once — size,
        # array_distinct and the guard all read the bound variable
        return F.element_at(
            F.transform(
                F.array(arr),
                lambda a: F.when(
                    F.size(a) > 0, 1.0 - F.size(F.array_distinct(a)) / F.size(a)
                )
                .otherwise(F.lit(0.0))
                .cast("double"),
            ),
            1,
        )

    return {
        "dup_token_ratio": dup_ratio(toks),
        f"dup_{n}gram_ratio": dup_ratio(_word_ngrams(toks, n)),
    }


def chunk_tokens(
    df,
    text_col: str = "text",
    max_tokens: int = 64,
    id_cols: tuple = ("doc_id",),
):
    """Sequence chunking for training: split each document's whitespace
    token stream into consecutive fixed-size windows — one output row per
    chunk with (id, chunk_idx, n_tokens, chunk_text). The 1->N expansion is
    a pure JVM ``explode(sequence(...))`` over ceil(n/max_tokens) chunk
    indices + an array slice per row; empty documents yield zero rows
    (explode drops the null sequence). No Python, no shuffle."""
    toks = _tokens(text_col)
    k = int(max_tokens)
    n_chunks = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    chunk = F.col("chunk_idx")
    piece = F.slice(F.col("__toks"), chunk * k + 1, k)
    return (
        df.select(
            *id_cols,
            toks.alias("__toks"),
            F.explode(
                F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1))
            ).alias("chunk_idx"),
        )
        .select(
            *id_cols,
            chunk.cast("int").alias("chunk_idx"),
            F.size(piece).cast("int").alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def topk_ngrams(
    df,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
):
    """Corpus-level n-gram frequency mining (boilerplate discovery /
    contamination auditing): the k most frequent word n-grams across the
    whole corpus with their occurrence counts. Returns
    (ngram, n_occurrences) ordered by count desc, ngram asc (deterministic
    tie-break).

    Scale shape: explode -> ONE hash aggregation (map-side partial combine
    collapses each partition's counts before the shuffle, so the exchange
    carries at most |distinct n-grams per partition| rows, not corpus
    tokens) -> global top-k via TakeOrderedAndProject (no full sort — each
    partition keeps k rows, the driver merges k * n_partitions)."""
    toks = _tokens(text_col)
    exploded = df.select(F.explode(_word_ngrams(toks, n)).alias("ngram"))
    return (
        exploded.groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(int(k))
    )


def dedup_lines(
    docs,
    min_count: int,
    min_chars: int = 1,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Line-level exact dedup — the C4/RefinedWeb boilerplate scrub that
    document-level dedup cannot express: split every document on ``sep``,
    count each line's occurrences CORPUS-WIDE (every occurrence counts,
    including repeats within one document), and remove from all documents
    any line seen >= ``min_count`` times whose length >= ``min_chars``
    (the length floor protects blank/short lines from being scrubbed).
    Returns ``(id_col, text_col, n_removed)`` with the surviving lines
    rejoined in original order; a document whose every line is removed is
    KEPT with empty text (downstream length filters decide its fate).

    Scale shape: exactly two shuffles of the exploded lines — one hash
    partition on ``xxhash64(line)`` (8-byte key; the frequency is a window
    count so the line rows never join back against a counts table) and
    one groupBy on the doc id to reassemble. The line text itself is
    never a shuffle KEY, only payload; distinct-line collisions under
    xxhash64 are the standard 2^-64 content-hash contract shared with
    exact_dedup/corpus_diff."""
    import re as _re

    from pyspark.sql import Window

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "__idx", "__line"
        ),
    )
    counted = lines.withColumn("__h", F.xxhash64("__line")).withColumn(
        "__c", F.count("*").over(Window.partitionBy("__h"))
    )
    is_dup = (F.col("__c") >= int(min_count)) & (
        F.length("__line") >= int(min_chars)
    )
    kept_struct = F.when(~is_dup, F.struct("__idx", "__line"))
    return counted.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["__line"]
            ),
            sep,
        ).alias(text_col),
        F.sum(F.when(is_dup, 1).otherwise(0)).alias("n_removed"),
    )


def dedup_ngram_spans(
    docs,
    k: int,
    min_count: int,
    sep: str = " ",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Exact substring dedup — the span-level scrub of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"
    (arXiv:2107.06499), at token granularity: every k-token window whose
    exact token sequence occurs >= ``min_count`` times CORPUS-WIDE (all
    occurrences count, including repeats within one document) is a
    duplicated span; every token covered by at least one duplicated span
    is removed, and the survivors are rejoined in original order.
    Returns ``(id_col, text_col, n_removed)``; a document scrubbed to
    nothing is KEPT with empty text, and a document with fewer than k
    tokens is passed through untouched (no window exists).

    Scale shape — deliberately different from ``dedup_lines``: gram
    hashing is a PURE PROJECTION (k-gram xxhash64 per start position,
    computed doc-locally from the token array — O(n*k) chars hashed per
    doc, k is small), so the exploded relation carries only
    ``(id, start, hash)`` = ~20 B/row into shuffle 1 (frequency window
    over the 8-byte hash). Duplicated starts collapse per doc in
    shuffle 2 (groupBy id, payload = small int arrays), and that
    dup-starts table — a compressed representation orders of magnitude
    smaller than the corpus — joins back to the original docs, where AQE
    promotes it to broadcast whenever it fits (the common case), leaving
    the document text out of EVERY shuffle; worst case it is one
    sort-merge join. Token filtering is then a pure array expression
    (coverage test per position against the sorted starts). Distinct-gram
    collisions under xxhash64 are the standard 2^-64 content-hash
    contract shared with exact_dedup/corpus_diff; the DuckDB oracle
    counts the gram STRINGS, so the value-green row is the contract's
    evidence."""
    import re as _re

    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")

    pat = _re.escape(sep)
    toks = F.split(F.col(text_col), pat, -1)
    # gram construction shared with repetition_ratios/topk_ngrams; start
    # positions are 0-based (posexplode index over the gram array)
    gram_hashes = F.transform(
        _word_ngrams(toks, k, sep), lambda g: F.xxhash64(g)
    )

    grams = docs.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("__s", "__h")
    )
    counted = grams.withColumn(
        "__c", F.count("*").over(Window.partitionBy("__h"))
    )
    dup_starts = (
        counted.filter(F.col("__c") >= int(min_count))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__s")).alias("__starts"))
    )

    out = docs.join(dup_starts, id_col, "left")
    starts = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    kept = F.filter(
        toks,
        lambda t, p: ~F.exists(
            starts, lambda s: (s <= p) & (p <= s + F.lit(k - 1))
        ),
    )
    return out.select(
        F.col(id_col),
        F.array_join(kept, sep).alias(text_col),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )


def lm_perplexity(
    docs,
    add_k: float = 0.5,
    sep: str = " ",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Corpus-trained n-gram LM quality score — the perplexity filter of
    CCNet (Wenzek et al., arXiv:1911.00359), self-trained: an add-k-
    smoothed bigram LM is fit on the corpus itself in the same job that
    scores it, so unusual token transitions (gibberish, boilerplate
    markup, wrong-language fragments) surface as high perplexity with no
    external model artifact.  Per bigram position,
    ``logp = ln((C2(c,w) + k) / (C1(c) + k*V))`` where ``C2`` is the
    corpus-wide count of the (context, word) pair, ``C1`` the corpus-wide
    count of the context AS a context (so ``sum_w C2(c,w) == C1(c)``),
    and ``V`` the corpus-wide distinct-token count.  Returns one row per
    input document: ``(id_col, n_scored, nll, ppl)`` — ``nll`` is the
    mean negative log-likelihood over the doc's ``n_scored`` bigram
    positions rounded to 6 dp, ``ppl = exp(nll)`` rounded to 4 dp (both
    roundings absorb cross-engine libm/summation-order drift in the
    oracle compare); docs with fewer than 2 tokens are KEPT with
    ``n_scored = 0`` and null nll/ppl.

    Scale shape: context/bigram hashing is a doc-local projection
    (xxhash64 of one resp. two token strings), so the exploded relation
    entering every shuffle is ``(id, ctx_hash, bigram_hash)`` = 24 B/row
    — corpus-wide counts are WINDOW counts over the 8-byte hashes (two
    chained window shuffles; per-key state is one count, no counts-table
    materialization or join back — the bigram vocabulary at web scale is
    billions of rows, too big to broadcast), and the vocabulary size V is
    one ``count_distinct`` over the token hash (8-byte shuffle keys; the
    token string never shuffles) broadcast back as a 1-row cross join.
    The per-doc collapse is a partial+final avg.  Hash collisions merge a
    2^-64 fraction of distinct tokens/bigrams into one count — the repo's
    standard content-hash contract; the DuckDB oracle counts the token
    STRINGS, so the value-green driver row is that contract's evidence.

    Window counts, not groupBy-count + join back: the join form plans
    four exchanges of the exploded relation instead of two and measured
    35.7 s vs 17.1 s on the chain corpus (320k docs, 13M bigram
    positions, local[32])."""
    import re as _re

    from pyspark.sql import Window

    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")

    pat = _re.escape(sep)
    toks = F.split(F.col(text_col), pat, -1)
    # bind the split ONCE (the module's let-expression idiom): the
    # per-position lambda otherwise re-runs the regex split for every
    # F.get reference — O(n_tokens^2) per document in interpreted HOFs
    bigrams = F.element_at(
        F.transform(
            F.array(toks),
            lambda tk: F.when(
                F.size(tk) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - 2),
                    lambda i: F.struct(
                        F.xxhash64(F.get(tk, i)).alias("__ch"),
                        F.xxhash64(F.get(tk, i), F.get(tk, i + 1)).alias("__bh"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<__ch:bigint,__bh:bigint>>")),
        ),
        1,
    )

    ex = docs.select(F.col(id_col), F.explode(bigrams).alias("__g")).select(
        id_col, F.col("__g.__ch").alias("__ch"), F.col("__g.__bh").alias("__bh")
    )
    # V over token hashes: the distinct shuffle carries 8 bytes, not text
    vocab = docs.select(
        F.explode(F.transform(toks, lambda t: F.xxhash64(t))).alias("__th")
    ).agg(F.count_distinct("__th").alias("__V"))

    k = F.lit(float(add_k))
    counted = ex.withColumn(
        "__c2", F.count("*").over(Window.partitionBy("__bh"))
    ).withColumn("__c1", F.count("*").over(Window.partitionBy("__ch")))
    scored = counted.crossJoin(F.broadcast(vocab)).select(
        id_col,
        F.log((F.col("__c2") + k) / (F.col("__c1") + k * F.col("__V"))).alias(
            "__lp"
        ),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_scored"), (-F.avg("__lp")).alias("nll")
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            F.round(F.col("nll"), 6).alias("nll"),
            F.round(F.exp("nll"), 4).alias("ppl"),
        )
    )


def tfidf_keywords(
    docs,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-document top-k keyword extraction by tf-idf — the metadata-
    enrichment operator a curation pipeline runs to tag/route documents
    (topic bucketing, mixture labels, retrieval keys). Tokenization is
    the module's shared ``_tokens`` (trim/lower/whitespace); per token
    ``score = tf * ln((N + 1) / (df + 1))`` with tf the within-doc count,
    df the number of docs containing the token, N the total document
    count (empty docs included in N, emitted with no keywords). Ranking
    compares the 6dp-ROUNDED score (then token asc) on purpose: both
    engines of the oracle pair rank identical keys, so a 1-ulp ln()
    difference between libms cannot flip a keyword. Returns
    ``(id_col, token, tf, df, score)``, ``tf``/``df`` long, score rounded
    to 6 dp, at most k rows per doc.

    Scale shape: tf collapses on ``(id, xxhash64(token))`` with the token
    string as a map-side-combined PAYLOAD (partial_first) — duplicates
    merge before the exchange, so the shuffle is ~distinct (doc, token)
    pairs, not corpus tokens; df is a WINDOW count over the 8-byte token
    hash on that already-collapsed relation (per-key state = one count,
    no vocabulary table is materialized or joined back — same choice as
    lm_perplexity and for the same reason); N rides in as a 1-row
    broadcast; the top-k is one row_number window per doc. Collisions
    under xxhash64 merge 2^-64 of tokens (standard content-hash
    contract; the oracle counts the strings)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    toks = _tokens(text_col)
    ex = docs.select(F.col(id_col), F.explode(toks).alias("__tok"))
    tf = ex.groupBy(id_col, F.xxhash64("__tok").alias("__th")).agg(
        F.first("__tok").alias("token"), F.count("*").alias("tf")
    )
    withdf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("__th"))
    )
    n = docs.select(F.count("*").alias("__N"))
    scored = withdf.crossJoin(F.broadcast(n)).select(
        F.col(id_col),
        "token",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(
            F.col("tf") * F.log((F.col("__N") + 1) / (F.col("df") + 1)), 6
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
        .drop("__rk")
    )


def _local_bpe_induction(word_counts, n_merges: int):
    """Exact Sennrich BPE induction over a collected word-frequency
    dictionary — the induction loop of ``bpe_learn``.

    Semantics are the textbook loop, bit-exact against its reference:
    pair counts over the word dictionary, argmax with (count desc,
    (left, right) asc) tie-break, left-to-right non-overlapping merge
    application, early stop when no pair remains. Incremental pair-stat
    maintenance (only words containing the merged pair are rewritten,
    each word's old pair contributions subtracted and new ones added)
    keeps a 32k-merge induction O(n_merges * touched-words * word-len)
    instead of O(n_merges * vocab).

    ``word_counts``: iterable of (word, count). Returns the merge list
    [(merge_idx, left, right, pair_count)].

    The argmax is a lazy heap (push on every stat change, discard stale
    entries on pop) so each merge costs O(log P) plus the touched-word
    rewrites, not an O(P) scan of all distinct pairs — the difference
    between minutes and hours at 32k merges over a web-scale dictionary.
    Heap order (-count, pair) is the tie-break above."""
    import heapq
    from collections import defaultdict

    # symbols are split as bpe_encode splits them (_bpe_word_expr's
    # regexp_extract_all(word, '.', 0)), so learn and encode agree: Java's
    # '.' (no DOTALL) skips line terminators, and NEL/LS/PS
    # (U+0085/U+2028/U+2029) are NOT Java \s, so they survive the \s+
    # tokenization and reach the symbol split — Python's tuple(w) would keep
    # them and learn merges encode never applies
    _dot_excl = {"\n", "\r", "\x85", "\u2028", "\u2029"}

    words: list[tuple] = []
    counts: list[int] = []
    for w, c in word_counts:
        words.append(tuple(ch for ch in w if ch not in _dot_excl))
        counts.append(int(c))

    stats: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)  # pair -> set of word indices
    for wi, syms in enumerate(words):
        c = counts[wi]
        for pr in zip(syms, syms[1:]):
            stats[pr] += c
            pair_words[pr].add(wi)

    heap = [(-c, pr) for pr, c in stats.items()]
    heapq.heapify(heap)

    merges = []
    for it in range(int(n_merges)):
        best = None
        while heap:
            negc, pr = heap[0]
            if stats.get(pr) == -negc:
                best = (pr, -negc)
                break
            heapq.heappop(heap)  # stale entry (count changed since push)
        if best is None:
            break
        (a, b), cnt = best
        merges.append((it, a, b, int(cnt)))
        ab = a + b
        changed: set = set()
        for wi in list(pair_words.get((a, b), ())):
            syms = words[wi]
            c = counts[wi]
            out = []
            i, n = 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_syms = tuple(out)
            for pr in zip(syms, syms[1:]):
                stats[pr] -= c
                changed.add(pr)
                if stats[pr] <= 0:
                    del stats[pr]
                    pair_words.pop(pr, None)
                else:
                    s = pair_words.get(pr)
                    if s is not None:
                        s.discard(wi)
                        # another occurrence of pr may remain in this word;
                        # re-added below if so
            for pr in zip(new_syms, new_syms[1:]):
                stats[pr] += c
                changed.add(pr)
                pair_words[pr].add(wi)
            words[wi] = new_syms
        # ONE heap entry per changed pair at its final count (pushing on
        # every intermediate update measured slower than the O(P) scan it
        # replaced — the rewrite loop touches pairs many times per merge)
        for pr in changed:
            if pr in stats:
                heapq.heappush(heap, (-stats[pr], pr))
    return merges


def bpe_learn(
    docs,
    n_merges: int,
    text_col: str = "text",
    max_local_vocab: int = 2_000_000,
):
    """BPE tokenizer induction (Sennrich et al., arXiv:1508.07909): learn
    the first ``n_merges`` merge rules from the corpus. Returns a
    DataFrame ``(merge_idx, left, right, pair_count)`` — the merge table
    a tokenizer ships; deterministic tie-break is (pair_count desc, left
    asc, right asc). Stops early when no pair remains (every word fused
    to one symbol). Variant: character symbols, no end-of-word marker,
    tokens from the module's shared ``_tokens`` (trim/lower/whitespace)
    — semantics pinned bit-exactly by a pure-python reference in
    ``test_text_dedup_sim.py``.

    Merges are learned on the WORD-FREQUENCY DICTIONARY, not the raw
    corpus: the corpus is touched by one Spark job (the token count
    collapse, a map-side-combined shuffle), the dictionary is collected
    to the driver once, and the exact Sennrich loop runs there
    (``_local_bpe_induction``).

    Driver bound: the collect is ``limit(max_local_vocab + 1)``, so at
    most ``max_local_vocab + 1`` rows ever cross to the driver; a
    dictionary with more than ``max_local_vocab`` distinct words raises
    ``ValueError`` instead of being truncated. Measured at the default
    bound (2,000,000 distinct random 5-11 letter words, 256 merges,
    local[2], 4-vCPU Xeon): the Python driver's peak RSS for the collect
    plus the induction was 2.2 GiB (0.14 GiB before the call), the
    driver JVM's 2.3 GiB, in 148 s."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if max_local_vocab < 1:
        raise ValueError(f"max_local_vocab must be >= 1, got {max_local_vocab}")

    toks = _tokens(text_col)
    wc = (
        docs.select(F.explode(toks).alias("__w"))
        # _tokens trims spaces only, so tab/newline-padded text yields a
        # zero-length token; it has no pair, so it must not count toward
        # the driver bound
        .filter(F.length("__w") > 0)
        .groupBy("__w")
        .agg(F.count("*").alias("__c"))
    )
    rows = wc.limit(int(max_local_vocab) + 1).collect()
    if len(rows) > int(max_local_vocab):
        raise ValueError(
            f"bpe_learn: the word-frequency dictionary has more than "
            f"max_local_vocab={max_local_vocab} distinct words; raise the "
            f"bound if the driver can hold it"
        )
    merges = _local_bpe_induction(((r["__w"], r["__c"]) for r in rows), n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "merge_idx int, left string, right string, pair_count long"
    )


BPE_SEP = "\x01"


def _bpe_word_expr(w, rules, sep: str = BPE_SEP):
    """Encode ONE word's symbols through the ranked merge table as pure
    string expressions — the separator-wrapped replace trick: each
    symbol is stored as ``sep+sym+sep`` and rule (a, b) rewrites
    ``sep a sep sep b sep -> sep ab sep``. Plain string ``replace``
    scans left-to-right and never overlaps matches, which is EXACTLY
    one BPE merge pass (the same single greedy pass ``bpe_learn``'s
    induction applies to each word), and the double-sep
    boundary makes a mid-symbol false match impossible (a rule can only
    fire on whole adjacent symbols). Identical semantics in DuckDB's
    ``replace``, so encoding carries a full value oracle. ``sep`` chars
    in input words are stripped first (a control byte is never
    legitimate token text)."""
    w = F.replace(w, F.lit(sep), F.lit(""))
    s = F.array_join(
        F.transform(
            F.regexp_extract_all(w, F.lit("."), 0),
            lambda c: F.concat(F.lit(sep), c, F.lit(sep)),
        ),
        "",
    )
    for a, b in rules:
        s = F.replace(
            s,
            F.lit(f"{sep}{a}{sep}{sep}{b}{sep}"),
            F.lit(f"{sep}{a}{b}{sep}"),
        )
    # btrim (not substring(2, len-2)) so the replace chain is evaluated
    # ONCE — a second F.length(s) would embed a full second copy of the
    # chain (no CSE inside higher-order functions); the wrapping
    # invariant guarantees exactly one sep at each edge, so both spell
    # the same value. A word that was ONLY separator bytes strips to ''
    # and would split to [''] — drop empty symbols so no phantom token
    # survives.
    return F.filter(
        F.split(F.btrim(s, F.lit(sep)), sep + sep),
        lambda t: F.length(t) > 0,
    )


def _bpe_rules(merges) -> list:
    """Normalize a merge table: bpe_learn's DataFrame (ordered by
    merge_idx) or an already-ordered [(left, right), ...] list. The rule
    table is tokenizer-sized (driver-held by design — it is the artifact
    a tokenizer ships), never corpus-sized."""
    if hasattr(merges, "collect"):
        rows = sorted(merges.collect(), key=lambda r: r["merge_idx"])
        return [(r["left"], r["right"]) for r in rows]
    return [(a, b) for a, b in merges]


def bpe_encode(
    docs,
    merges,
    text_col: str = "text",
    out_col: str = "tokens",
    method: str = "inline",
    id_col: str = "doc_id",
    sep: str = BPE_SEP,
):
    """Apply a learned BPE merge table to the corpus (the encode half of
    the tokenizer bpe_learn induces): each whitespace token's characters
    are merged by the ranked rules, one greedy left-to-right
    non-overlapping pass per rule — exactly the pass ``bpe_learn``
    applies to its vocab, so learn/encode are consistent by
    construction. Appends ``out_col: array<string>``.

    Two value-identical paths (parity pytest):

    - ``method="inline"`` — encoding as a PURE PROJECTION: per-word
      chained ``replace`` expressions inside a ``transform`` over the
      token array; zero shuffle, whole-stage codegen, fuses with any
      scan. Right when the rule table is small (expression size grows
      with rules): pilot tokenizers, filter-stage encodes.
    - ``method="dict"`` — the vocabulary trick for production-sized
      tables and 100-TB corpora: encode each DISTINCT word once (the
      vocab relation is orders of magnitude smaller than the corpus),
      then posexplode + join the dictionary back and regroup per doc.
      Three shuffles on word/id keys, but the replace-chain work is
      bounded by |vocab| not |corpus|; at 30k+ rules swap the per-word
      expression for an Arrow UDF behind the same dictionary seam."""
    rules = _bpe_rules(merges)
    toks = _tokens(text_col)
    if method == "inline":
        # coalesce: NULL text tokenizes to NULL — both paths must agree
        # on [] (the dict path's regroup-coalesce already yields [])
        return docs.withColumn(
            out_col,
            F.coalesce(
                F.flatten(
                    F.transform(toks, lambda w: _bpe_word_expr(w, rules, sep))
                ),
                F.array().cast("array<string>"),
            ),
        )
    if method != "dict":
        raise ValueError(f"unknown method {method!r}")
    enc = (
        docs.select(F.explode(toks).alias("__w"))
        .distinct()
        .select("__w", _bpe_word_expr(F.col("__w"), rules, sep).alias("__t"))
    )
    ex = docs.select(id_col, F.posexplode(toks).alias("__pos", "__w"))
    regrouped = (
        ex.join(enc, "__w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__t"))),
                    lambda x: x["__t"],
                )
            ).alias(out_col)
        )
    )
    return docs.join(regrouped, id_col, "left").withColumn(
        out_col,
        F.coalesce(F.col(out_col), F.array().cast("array<string>")),
    )


def build_vocab(
    docs,
    size: int,
    text_col: str = "text",
    min_count: int = 1,
    unk_token: str = "<unk>",
):
    """Frequency-ranked token vocabulary ``(token, id, count)`` — the id
    table that turns a tokenized corpus into training ``input_ids``.
    ``unk_token`` gets id 0; the top-``size`` corpus tokens (count desc,
    token asc tie-break — deterministic at the cut boundary) get ids
    1..size in rank order.

    Scale shape: ONE map-side-combined count over the exploded corpus,
    then ``orderBy(...).limit(size)`` — Spark plans
    TakeOrderedAndProject (per-partition top-``size`` heaps + one
    bounded merge), never a full corpus-vocabulary sort; the final
    row_number windows over the already-``size``-bounded relation (a
    vocab-sized single task by construction, NOT corpus-sized — the same
    bounded-driver-action discipline as the BPE argmax).

    ``text_col`` may be a STRING column (tokenized with the module's
    shared ``_tokens``) or an ``array<string>`` column of pre-tokenized
    tokens (e.g. ``bpe_encode`` output) — the array path explodes
    directly, skipping a corpus-sized join+resplit round-trip."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    from pyspark.sql import Window

    dt = docs.schema[text_col].dataType
    toks = (
        F.col(text_col) if dt.typeName() == "array" else _tokens(text_col)
    )
    counts = (
        docs.select(F.explode(toks).alias("token"))
        # the literal unk_token in corpus text must not rank: a second
        # vocab row for it would double-match every occurrence in
        # tokens_to_ids' join (duplicated positions). Zero-length tokens
        # (tab/newline-padded text survives _tokens' space-only trim) must
        # not rank either — an id slot for '' is a wasted vocab entry
        # (ADVICE r6).
        .filter((F.col("token") != unk_token) & (F.length("token") > 0))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= int(min_count))
        .orderBy(F.col("count").desc(), F.col("token").asc())
        .limit(int(size))
    )
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    ranked = counts.select(
        "token", F.row_number().over(w).cast("int").alias("id"), "count"
    )
    unk = docs.sparkSession.createDataFrame(
        [(unk_token, 0, 0)], "token string, id int, count long"
    )
    return unk.unionByName(ranked.select("token", "id", F.col("count").cast("long")))


def tokens_to_ids(
    docs,
    vocab,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    out_col: str = "input_ids",
    unk_id: int = 0,
):
    """Map a per-doc token array to id arrays through a vocab table
    (``build_vocab`` output or any ``(token, id)`` frame);
    out-of-vocabulary tokens map to ``unk_id`` and are counted in
    ``n_unk``. Appends ``out_col: array<int>`` + ``n_unk``; docs with
    empty token arrays keep an empty id array.

    Plan: posexplode -> BROADCAST join -> regroup in position order; one
    corpus shuffle (the regroup by doc). A broadcast hash join probes a
    real hash table per token; a shuffle-free literal-map projection
    does not pay off, because Spark's literal-map lookup is a linear
    scan per probe (ArrayBasedMapData carries no hash index) — at a
    4096-entry vocab it ran about 5x slower end to end."""
    from pyspark.sql.functions import broadcast

    # the reserved unk row is a SENTINEL, not a match target: a corpus
    # token spelled like the unk literal must be counted OOV (and map to
    # unk_id via the miss path)
    vocab = vocab.filter(F.col("id") != int(unk_id))

    ex = docs.select(
        id_col, F.posexplode_outer(tokens_col).alias("__pos", "__tok")
    )
    mapped = (
        ex.join(
            broadcast(vocab.select(F.col("token").alias("__tok"), "id")),
            "__tok",
            "left",
        )
        .withColumn(
            "__id",
            F.when(F.col("__tok").isNull(), F.lit(None).cast("int")).otherwise(
                F.coalesce(F.col("id"), F.lit(int(unk_id)))
            ),
        )
    )
    regrouped = mapped.groupBy(id_col).agg(
        F.filter(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__id"))
                ),
                lambda x: x["__id"],
            ),
            lambda v: v.isNotNull(),
        ).alias(out_col),
        F.sum(
            F.when(
                F.col("__tok").isNotNull() & F.col("id").isNull(), 1
            ).otherwise(0)
        )
        .cast("int")
        .alias("n_unk"),
    )
    return docs.join(regrouped, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.array().cast("array<int>"))
    )


def _joined_token_probs(old, new, text_col: str):
    """(token, c_old, c_new, p_old, p_new) over the union vocabulary,
    built in ONE pass: the sides are tagged and unioned BEFORE counting,
    so one explode + one map-side-combined groupBy on the 8-byte token
    hash yields both sides' counts per row — no per-side count tables,
    no full-outer join, and each corpus scanned exactly once. Absent
    tokens count 0 — probabilities are exact corpus frequencies, no
    smoothing (drift monitoring wants the raw shift).

    The vocab-sized counts table is a diamond (read again for the side
    totals that ride back as a 1-row broadcast), so it is
    tracked-persisted — without it Spark re-runs the corpus scan for the
    totals branch (no ReusedExchange: the pruned totals subtree doesn't
    canonicalize equal). Callers release via the repo's tracked-persist
    discipline (``caching.tracking_scope`` / ``release_tracked``), same
    as the minhash signature cache."""
    from ..caching import tracked_persist

    u = old.select(
        F.lit(0).alias("__side"), F.col(text_col).alias("__text")
    ).unionAll(new.select(F.lit(1).alias("__side"), F.col(text_col).alias("__text")))
    ex = u.select("__side", F.explode(_tokens("__text")).alias("__tok"))
    counts = tracked_persist(
        ex.groupBy(F.xxhash64("__tok").alias("__th")).agg(
            F.first("__tok").alias("token"),
            F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).alias("c_old"),
            F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).alias("c_new"),
        )
    )
    tot = counts.agg(
        F.sum("c_old").alias("__to"), F.sum("c_new").alias("__tn")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "token",
        F.col("c_old").cast("long").alias("c_old"),
        F.col("c_new").cast("long").alias("c_new"),
        (F.col("c_old") / F.col("__to")).alias("p_old"),
        (F.col("c_new") / F.col("__tn")).alias("p_new"),
    )


def token_shift(
    old,
    new,
    k: int = 20,
    text_col: str = "text",
):
    """Distribution-drift triage between two corpus snapshots: the k
    tokens whose corpus probability moved most, ``shift = p_new -
    p_old`` (positive = over-represented in the new snapshot) — the
    actionable artifact behind "did yesterday's crawl change the mix?"
    (a boilerplate burst, a language drift, a spam template). Ordering
    compares the 6dp-ROUNDED |shift| (then token asc) so both engines of
    the oracle pair rank identical keys. Returns
    ``(token, c_old, c_new, p_old, p_new, shift)``, probabilities
    rounded to 6 dp.

    Scale shape: per-side counts shuffle ~distinct tokens (map-side
    combine, 8-byte hash keys); the full-outer join is vocab x vocab on
    the hash; totals are two 1-row broadcasts; the global top-k is
    ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject (per-
    partition heaps + one k-row merge), never an Exchange
    SinglePartition over the vocabulary."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    probs = _joined_token_probs(old, new, text_col)
    shift = F.round(F.col("p_new") - F.col("p_old"), 6)
    return (
        probs.select(
            "token",
            "c_old",
            "c_new",
            F.round("p_old", 6).alias("p_old"),
            F.round("p_new", 6).alias("p_new"),
            shift.alias("shift"),
        )
        .orderBy(F.abs(F.col("shift")).desc(), F.col("token").asc())
        .limit(int(k))
    )


def corpus_divergence(
    old,
    new,
    text_col: str = "text",
):
    """Jensen-Shannon divergence (natural log) between two snapshots'
    token distributions, plus the side totals — the one-number drift
    alarm a daily ingest job thresholds on (0 = identical mix,
    ln 2 ~= 0.693 = disjoint vocabularies). Zero-probability terms
    contribute 0 by the standard convention. Returns ONE row
    ``(js_divergence, n_tokens_old, n_tokens_new, vocab_old,
    vocab_new)``; js rounded to 6 dp.

    Scale shape: the same vocab-sized joined-probabilities relation as
    ``token_shift`` collapsed by one partial+final aggregate — the
    output is a single row, nothing vocabulary-sized ever reaches the
    driver."""
    probs = _joined_token_probs(old, new, text_col)
    m = (F.col("p_old") + F.col("p_new")) / 2
    term = (
        F.when(
            F.col("p_old") > 0,
            0.5 * F.col("p_old") * F.log(F.col("p_old") / m),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("p_new") > 0,
            0.5 * F.col("p_new") * F.log(F.col("p_new") / m),
        ).otherwise(F.lit(0.0))
    )
    return probs.agg(
        F.round(F.sum(term), 6).alias("js_divergence"),
        F.sum("c_old").alias("n_tokens_old"),
        F.sum("c_new").alias("n_tokens_new"),
        F.sum(F.when(F.col("c_old") > 0, 1).otherwise(0)).alias("vocab_old"),
        F.sum(F.when(F.col("c_new") > 0, 1).otherwise(0)).alias("vocab_new"),
    )
