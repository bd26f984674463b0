"""Text-analysis function library (training-data-pipeline surface).

Language-ID, quality scoring, token counting, shingling, and fingerprinting as
pure Catalyst expressions over the ``documents`` table — no Python in the row
path, so these run at full whole-stage-codegen speed over 100 TB of text.

Heavier NLP (real language models, BPE tokenizers) would be Arrow-batched
pandas UDFs; the operators here are the JVM-side heuristics a data pipeline
runs FIRST, at full scan speed, to cheaply filter/route the bulk of a corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..session import local_frame

#: Tiny per-language stopword lexicons for the n-gram/stopword-hit heuristic
#: language-ID. Deliberately small: the point is the operator shape (vector of
#: per-language scores → argmax with deterministic tie-break), not the lexicon.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "a", "of", "and", "in", "is"),
    "es": ("el", "la", "de", "los", "que", "es"),
    "fr": ("le", "la", "les", "des", "et", "est"),
    "zh": ("的", "是", "了", "在", "我", "有"),
}

#: English stopwords for quality scoring.
STOPWORDS_EN = ("the", "a", "an", "of", "and", "or", "in", "on", "is", "are", "to")

WORD_RE = r"[A-Za-z0-9']+"


def ws_tokens(col: Column) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(col, r"\s+")


def word_tokens(col: Column) -> Column:
    """Regex word tokenization (BPE-ish pre-tokenizer: alnum+apostrophe runs)."""
    return F.regexp_extract_all(col, F.lit(WORD_RE), 0)


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(col))


def word_count(col: Column) -> Column:
    """Regex word-token count."""
    return F.size(word_tokens(col))


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """n-token shingles as zipped shifted arrays: O(len) per document.

    The naive form — ``transform(sequence(0, size-n), i -> slice+join)`` — is
    O(len·n) *interpreted* work (higher-order functions don't codegen) and
    dominated whole dedup pipelines. Zipping ``n`` shifted views and
    concat_ws'ing each struct touches every token once.

    Distinct shingle sets feed Jaccard dedup (exact or MinHash); all JVM-side,
    zero UDFs."""
    shifted = [F.slice(tokens, i + 1, 1 << 30) for i in range(n)]
    zipped = F.arrays_zip(*shifted)  # null-padded to len(tokens)
    sh = F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s.getField(str(i)) for i in range(n)]))
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")) \
        .otherwise(F.slice(sh, 1, F.size(tokens) - n + 1))


def punct_ratio(col: Column, scale: int | None = 4) -> Column:
    """Fraction of characters that are not alnum/whitespace. ``scale=None``
    skips rounding — int/int division is bit-identical cross-engine, so raw
    ratios make exact filter predicates (see q128)."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    r = F.length(stripped) / F.nullif(F.length(col), F.lit(0))
    return F.round(r, scale) if scale is not None else r


def stopword_ratio(tokens: Column, stopwords=STOPWORDS_EN,
                   scale: int | None = 4) -> Column:
    """Fraction of tokens that are stopwords (quality signal).
    ``scale=None`` as in :func:`punct_ratio`."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(sw, F.lower(t))))
    r = hits / F.nullif(F.size(tokens), F.lit(0))
    return F.round(r, scale) if scale is not None else r


def distinct_token_ratio(tokens: Column, scale: int | None = 4) -> Column:
    """Lexical diversity: |distinct tokens| / |tokens| — near-0 flags
    boilerplate/spam repetition. ``scale=None`` skips rounding (for use in
    filter predicates where both engines compare the raw double)."""
    r = F.size(F.array_distinct(tokens)) / F.nullif(F.size(tokens), F.lit(0))
    return F.round(r, scale) if scale is not None else r


def quality_gate_columns(text_col: Column, lang_col: Column) -> dict:
    """The q128 rule cascade as reusable columns: ``n_tokens``, ``keep``,
    ``reason`` (first failing rule's name, else 'pass'). Gopher/C4-family
    heuristics (Rae et al. 2021 §A1.1; Raffel et al. 2020 §2.2 — public
    papers). Every predicate compares raw int/int-division doubles —
    bit-identical cross-engine — and the whole cascade is stateless
    expressions, so the SAME columns run under readStream unchanged
    (asserted by the streaming-twin test)."""
    toks = ws_tokens(text_col)
    n_tokens = F.size(toks)
    rules = [
        ("min_words", n_tokens >= 15),
        ("max_words", n_tokens <= 5000),
        ("mean_word_len",
         mean_token_len(toks, scale=None).between(2.0, 12.0)),
        ("punct", punct_ratio(text_col, scale=None) <= 0.30),
        ("diversity", distinct_token_ratio(toks, scale=None) >= 0.30),
        ("stopword", (lang_col != "en")
         | (stopword_ratio(toks, scale=None) >= 0.02)),
    ]
    arr = F.array(*[F.struct(F.lit(n).alias("rule"), ok.alias("ok"))
                    for n, ok in rules])
    fails = F.filter(arr, lambda r: ~r["ok"])
    return {
        "n_tokens": n_tokens,
        "keep": F.size(fails) == 0,
        "reason": F.coalesce(F.get(fails, 0)["rule"], F.lit("pass")),
        # The raw (rule, ok) array — q216's per-rule ablation consumes it
        # directly instead of re-deriving the six predicates.
        "rules": arr,
    }


def mean_token_len(tokens: Column, scale: int | None = 4) -> Column:
    """Average token length (garbage text skews far from ~4-6).
    ``scale=None`` as in :func:`punct_ratio`."""
    total = F.aggregate(tokens, F.lit(0), lambda acc, t: acc + F.length(t))
    r = total / F.nullif(F.size(tokens), F.lit(0))
    return F.round(r, scale) if scale is not None else r


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Per-language lexicon-hit counts over distinct lowercase tokens."""
    distinct = F.array_distinct(F.transform(tokens, F.lower))
    return {
        lang: F.size(F.array_intersect(distinct, F.array(*[F.lit(w) for w in lex])))
        for lang, lex in sorted(LANG_LEXICONS.items())
    }


def lang_id(tokens: Column) -> Column:
    """Heuristic language-ID: argmax of lexicon-hit scores, ties broken by
    language code ascending (deterministic). Implemented as
    ``max(struct(score, reversed-lang))`` over a literal array — single
    projection, no shuffle, no UDF."""
    scores = lang_scores(tokens)
    # argmax with ties → lexicographically FIRST language: invert the lang code
    # ordering inside the struct comparison by using a negative rank.
    langs = sorted(scores)  # e.g. de,en,es,fr,zh
    entries = [
        F.struct(scores[lang].alias("s"), F.lit(-i).alias("r"), F.lit(lang).alias("l"))
        for i, lang in enumerate(langs)
    ]
    return F.array_max(F.array(*entries)).getField("l")


#: Minimal entity map for HTML unescaping — the handful that dominate web
#: text; full entity coverage belongs to a real HTML parser, which is a
#: different (Python-side) tier.
_HTML_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                  ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "))


def strip_html(col: Column) -> Column:
    """Web-text cleanup entirely in JVM regexp expressions: drop
    script/style blocks WITH their contents, strip remaining tags, unescape
    the dominant entities, collapse whitespace runs, trim. The scan-speed
    first pass of crawl-corpus cleaning; documents that need DOM-accurate
    extraction route to a Python-tier parser instead (different cost
    class — this path stays in whole-stage codegen)."""
    # (?is) = dot-matches-newline + case-insensitive; non-greedy bodies.
    out = F.regexp_replace(col, r"(?is)<(script|style)\b.*?</\1>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def sentences(col: Column) -> Column:
    """Regex sentence segmentation → array<string>: split after ./!/?
    followed by whitespace and an upper-case/digit start, keeping
    abbreviation-like single-letter splits imperfect by design (a
    linguistically exact splitter is a model, not a regex — this is the
    deterministic, cross-engine-reproducible tier used for sentence-level
    chunking and per-sentence stats)."""
    trimmed = F.trim(col)
    arr = F.split(trimmed, r"(?<=[.!?])\s+(?=[A-Z0-9])")
    return F.filter(arr, lambda s: F.length(s) > 0)


def content_fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 over the sorted distinct lowercase word-token
    bag. Invariant to word order and duplication — a cheap canonical-content
    key for exact-ish dedup at scan speed."""
    canon = F.array_join(
        F.sort_array(F.array_distinct(word_tokens(F.lower(col)))), " ")
    return F.md5(canon)


def chunk_documents(df, chunk_size: int, overlap: int = 0,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Split documents into fixed token windows with overlap — the
    context-window packing prep step of a training pipeline. Emits one row
    per chunk: (id, chunk_idx, n_tokens, chunk_text, chunk_md5).

    Pure array arithmetic per row (tokenize once; each chunk is a
    ``slice`` over the token array at stride ``chunk_size - overlap``), then
    one explode — no shuffle, no UDF; output volume ≈ input tokens ×
    (1 + overlap/stride). The md5 over the re-joined chunk makes chunk
    CONTENT cross-engine checkable (q108's oracle recomputes it in SQL),
    not just chunk counts.

    The token array is pre-projected as a MULTI-REFERENCED column, never
    inlined into the per-chunk lambda: higher-order functions re-evaluate
    every free subexpression per element (no memoization in interpreted
    HOF eval), so an inlined ``split`` would tokenize the whole document
    once per CHUNK — O(n²/stride) per doc, the q147 lesson (SCALE.md
    round 7). Multi-reference keeps CollapseProject from re-inlining."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("require 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = F.col("_toks")
    n = F.size(toks)
    # Number of chunks: 1 + ceil(max(0, n - chunk_size) / stride). Spark's
    # `/` is DOUBLE division with the floor applied after — exact here
    # because n is an array size (INT, < 2^31), far inside the 2^53 mantissa;
    # it would NOT be safe for arbitrary bigint numerators.
    extra = F.greatest(n - F.lit(chunk_size), F.lit(0))
    n_chunks = F.lit(1) + F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.slice(toks, i * stride + 1, chunk_size).alias("toks")))
    # split("") yields [""] (size 1), so empty/whitespace-only docs must be
    # excluded by trimmed content, not token count.
    return (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), ws_tokens(F.col(text_col)).alias("_toks"))
            .select(F.col(id_col), F.explode(chunks).alias("c"))
            .select(id_col,
                    F.col("c.chunk_idx").alias("chunk_idx"),
                    F.size("c.toks").alias("n_tokens"),
                    F.array_join("c.toks", " ").alias("chunk_text"))
            .withColumn("chunk_md5", F.md5(F.col("chunk_text"))))


def chunk_by_sentences(df, max_tokens: int, text_col: str = "text",
                       id_col: str = "doc_id"):
    """Sentence-boundary chunking: greedily pack consecutive SENTENCES into
    chunks of at most ``max_tokens`` whitespace tokens (a sentence longer
    than the budget becomes its own over-budget chunk rather than being
    split mid-sentence) — the retrieval/RAG-style chunker that never cuts a
    sentence, where :func:`chunk_documents` cuts exactly on token counts.

    Pure per-row expressions: one ``aggregate`` fold over the sentence
    array carries a struct accumulator (finished chunk-boundary indices +
    the running token count); chunk membership then derives from the
    boundary list with a second ``transform``. One explode, no shuffle, no
    UDF. Emits (id, chunk_idx, n_sentences, n_tokens, chunk_text,
    chunk_md5) with the same content-pinning md5 convention as q108.

    The sentence array and the boundary fold are pre-projected as
    multi-referenced columns so the per-chunk lambda touches only O(1)
    attributes — an inlined ``sentences()``/``aggregate`` would re-run
    per CHUNK inside the interpreted HOF (the q147 O(n²) lesson,
    SCALE.md round 7)."""
    sents = F.col("_sents")
    tok_counts = F.transform(sents, lambda s: F.size(ws_tokens(s)))
    # Fold: acc = struct(bounds: array<int> — START index of each chunk,
    # cur_len: int). A sentence starts a new chunk when adding it would
    # exceed the budget AND the current chunk is non-empty.
    init = F.struct(F.array(F.lit(0)).alias("bounds"),
                    F.lit(0).alias("cur_len"))
    def step(acc, pair):
        i, n = pair["i"], pair["n"]
        overflow = (acc["cur_len"] + n > F.lit(max_tokens)) \
            & (acc["cur_len"] > 0)
        return F.struct(
            F.when(overflow, F.concat(acc["bounds"], F.array(i)))
            .otherwise(acc["bounds"]).alias("bounds"),
            (F.when(overflow, n).otherwise(acc["cur_len"] + n))
            .alias("cur_len"))
    indexed = F.transform(
        tok_counts, lambda n, i: F.struct(i.alias("i"), n.alias("n")))
    bounds_expr = F.aggregate(indexed, init, step)["bounds"]
    bounds = F.col("_bounds")
    # chunk k spans sentence indices [bounds[k], bounds[k+1]) — slice them.
    n_chunks = F.size(bounds)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("int").alias("chunk_idx"),
            F.slice(
                sents,
                F.element_at(bounds, k + 1) + 1,
                # try_element_at: k+2 walks one past the last boundary for
                # the final chunk (null -> end of document), and ANSI mode
                # makes plain element_at throw there.
                F.coalesce(F.try_element_at(bounds, k + 2),
                           F.size(sents)) - F.element_at(bounds, k + 1))
            .alias("sents")))
    return (df.filter(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col), sentences(F.col(text_col)).alias("_sents"))
            .select(F.col(id_col), F.col("_sents"),
                    bounds_expr.alias("_bounds"))
            .select(F.col(id_col), F.explode(chunks).alias("c"))
            .filter(F.size("c.sents") > 0)
            .select(id_col,
                    F.col("c.chunk_idx").alias("chunk_idx"),
                    F.size("c.sents").alias("n_sentences"),
                    F.array_join("c.sents", " ").alias("chunk_text"))
            .withColumn("n_tokens", token_count(F.col("chunk_text")))
            .withColumn("chunk_md5", F.md5(F.col("chunk_text"))))


def sequence_pack_offsets(df, seq_len: int, id_col: str = "doc_id",
                          text_col: str = "text",
                          num_partitions: int | None = None,
                          caches: list | None = None):
    """GPT-style sequence packing offsets: conceptually concatenate the
    whole corpus token stream in ``id_col`` order and cut it every
    ``seq_len`` tokens; each document's tokens then live in packs
    ``first_pack..last_pack`` starting at global ``start_offset``. Output:
    (doc_id, n_tokens, start_offset, first_pack, last_pack).

    This packing style (documents concatenated, training sequences cut at a
    fixed length regardless of document boundaries) is a pure PREFIX
    function — unlike first-fit bin packing, which is sequential and
    non-associative — so it distributes: the global token offset comes from
    ``operators.ranks.global_prefix_sum`` (range-partitioned sort + per-
    partition offsets; no single-partition window at any input size), and
    everything after is per-row arithmetic. Pack ids use floor division on
    DOUBLE, exact while total corpus tokens stay under 2^53 (~9e15 —
    two orders of magnitude above a 100 TB text corpus)."""
    from ..operators.ranks import global_prefix_sum

    sized = df.select(F.col(id_col).alias("doc_id"),
                      token_count(F.col(text_col)).alias("n_tokens"))
    cum = global_prefix_sum(sized, [F.col("doc_id").asc()], "n_tokens",
                            out_col="_cum", num_partitions=num_partitions,
                            caches=caches)
    start = (F.col("_cum") - F.col("n_tokens")).cast("long")
    return cum.select(
        "doc_id", "n_tokens",
        start.alias("start_offset"),
        F.floor(start / F.lit(seq_len)).cast("long").alias("first_pack"),
        F.floor((F.col("_cum") - 1) / F.lit(seq_len)).cast("long")
            .alias("last_pack"))


def sequence_pack_slices(df, seq_len: int, id_col: str = "doc_id",
                         text_col: str = "text",
                         num_partitions: int | None = None,
                         caches: list | None = None):
    """Materialize :func:`sequence_pack_offsets` into per-pack slices: one
    row per (pack_id, document) overlap — ``slice_start`` is the 0-based
    position INSIDE the document where the pack's portion begins and
    ``slice_len`` its length, so a writer can assemble every fixed-length
    training sequence by concatenating its slices in (pack_id, start_offset)
    order. Output: (pack_id, doc_id, slice_start, slice_len).

    Per-row arithmetic + one explode over the (tiny) span of packs a
    document touches — ⌈n_tokens/seq_len⌉+1 rows max per doc; the output
    volume is corpus tokens / seq_len extra rows, i.e. ~linear."""
    offs = sequence_pack_offsets(df, seq_len, id_col=id_col,
                                 text_col=text_col,
                                 num_partitions=num_partitions,
                                 caches=caches)
    L = F.lit(seq_len)
    pack = F.explode(F.sequence(F.col("first_pack"),
                                F.col("last_pack"))).alias("pack_id")
    with_pack = offs.select("doc_id", "n_tokens", "start_offset", pack)
    p0 = F.col("pack_id") * L                     # pack's global start
    doc_end = F.col("start_offset") + F.col("n_tokens")
    sl_start = F.greatest(p0 - F.col("start_offset"), F.lit(0))
    sl_end = F.least(doc_end, p0 + L) - F.col("start_offset")
    return with_pack.select(
        "pack_id", "doc_id",
        sl_start.cast("long").alias("slice_start"),
        (sl_end - sl_start).cast("long").alias("slice_len"))


def bigram_lm_nll(df, text_col: str = "text", id_col: str = "doc_id",
                  k: float = 0.5, scale: int = 4, train_df=None,
                  caches: list | None = None):
    """Corpus-trained bigram-LM negative log-likelihood per document — the
    perplexity-style quality filter of CCNet/Gopher-class pipelines (score
    each document against a language model of the corpus itself; the most
    "surprising" documents are boilerplate, encoding noise, or off-domain).

    Two passes, both linear: (1) train — explode bigrams once, aggregate
    (w1, w2) and w1 counts (map-side-combined shuffles on token keys) and
    the corpus vocabulary size; (2) score — join each document's bigrams
    back to the model on its natural keys and average the add-k-smoothed
    conditional log-probabilities per document.

    Cross-engine determinism: each bigram's ``ln((c2+k)/(c1+k·V))`` is
    rounded to ``scale`` decimals FIRST and summed as an exact DECIMAL —
    the sum is associative integer math, so Spark's arbitrary aggregation
    order and an ORDER-BY oracle agree bit-for-bit (the same discipline as
    ``operators.aggregates.exact_sum``).

    ``train_df`` scores ``df`` against a model trained on a DIFFERENT
    corpus (the Moore-Lewis / DSIR domain-selection shape). Bigrams the
    model never saw still get an add-k-smoothed probability — the
    model-count left joins coalesce to 0, so an unseen (w1, w2) under a
    seen w1 scores ``ln(k/(c1+k·V))`` and a fully-unseen w1 scores
    ``ln(1/V)``. With ``train_df=None`` (train = score corpus, the q146
    path) every bigram exists in the model and the coalesces are inert —
    values are bit-identical to the pre-refactor form.

    Returns (id_col, n_bigrams, mean_nll): one row per document with at
    least one bigram; higher mean_nll = less corpus-typical.

    NO small-corpus fan-out here (round 12, VERDICT r11 #2): the round-11
    `fan_out_small_scan` call was A/B-measured and REVERTED — interleaved
    min-of-3 in one warm JVM at sf0.1 (two independent sessions agreeing)
    showed the fan-out costing +14% (q146), +47%/+51% (q157) and +27%
    (q182): unlike bm25_topk, the explode here feeds a map-side-combined
    token agg whose downstream stages already parallelize, so the extra
    raw-text shuffle buys no serial-stage relief and q157 pays it twice
    (two corpora). The
    SCALE.md A/B table is the record; bm25_topk and the shingle
    operators keep their fan-outs (measured wins, r10)."""
    def _bigrams(frame):
        toks = ws_tokens(F.lower(F.col(text_col)))
        pairs = F.when(
            F.size(toks) < 2,
            F.array().cast("array<struct<w1:string,w2:string>>")
        ).otherwise(
            F.slice(
                F.arrays_zip(toks.alias("w1"),
                             F.slice(toks, 2, 1 << 30).alias("w2")),
                1, F.size(toks) - 1))
        return (frame.select(F.col(id_col), F.explode(pairs).alias("p"))
                .select(id_col, F.col("p.w1").alias("w1"),
                        F.col("p.w2").alias("w2")))

    model_src = df if train_df is None else train_df
    bi = _bigrams(df)
    mbi = bi if train_df is None else _bigrams(train_df)

    # Count pyramid (the q162 discipline): one corpus-sized bigram
    # shuffle builds c2; c1 — the count of w1 as a bigram FIRST — is
    # exactly Σ_w2 c2, a vocab-sized rollup instead of a second pass
    # over the exploded corpus. c2 persists when the caller passes
    # ``caches`` (it feeds the scoring join and the c1 rollup).
    c2 = mbi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    if caches is not None:
        from ..operators.relational import persisted
        c2 = persisted(c2)
        caches.append(c2)
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (model_src.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("t")).agg(
        F.countDistinct("t").alias("v")))

    lp = (bi.join(c2, ["w1", "w2"], "left").join(c1, ["w1"], "left")
            .crossJoin(F.broadcast(vocab))
            .select(
                id_col,
                F.round(F.log((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
                              / (F.coalesce(F.col("c1"), F.lit(0))
                                 + F.lit(k) * F.col("v"))),
                        scale).cast(f"decimal(18,{scale})").alias("lp")))
    return (lp.groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"),
                   F.round(-F.sum("lp").cast("double")
                           / F.count("*"), scale).alias("mean_nll"),
                   # The EXACT decimal NLL sum: consumers comparing two
                   # models (q157 Moore-Lewis) difference these and divide
                   # once — the rounded per-doc mean above can land on a
                   # round-half boundary where engines disagree.
                   (-F.sum("lp")).alias("sum_nll")))


def bm25_topk(df, queries, k: int = 10, k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              scale: int = 4, exclude_query_doc: bool = False):
    """Lexical top-k retrieval with Okapi BM25 — the sparse half of a
    retrieval stack (the dense half is ``operators.similarity``'s ANN
    tiers). ``queries`` is a list of (query_id, query_text) pairs — the
    handful of live search strings, not a table.

    ``queries`` may also be a DataFrame with (query_id, qtext) columns —
    query-by-document retrieval passes a projection of the corpus itself,
    and nothing ever leaves the cluster. With ``exclude_query_doc`` the
    document whose id equals the query id is dropped BEFORE ranking
    (ranks stay dense), the convention of query-by-example evaluation.

    Inverted-index shape, so cost follows the QUERY terms, not the
    corpus: the deduplicated query-term set is BROADCAST against the
    exploded token stream, so non-query tokens die at the scan and ONLY
    query-term postings enter any shuffle. Per-term document frequency
    is exact from those surviving postings (every posting of a query
    term survives the filter), which deletes the corpus-wide vocabulary
    aggregation the naive plan pays; document length rides the postings
    groupBy key (constant within a doc — zero extra shuffle width), so
    no corpus-sized dl join exists either. What remains corpus-wide is
    two scans: the filtered token explode and one map-side-combined
    scalar aggregate for N and Σdl. Nothing vocabulary-sized or
    corpus-sized ever shuffles.

    Cross-engine determinism: corpus size N and Σdl are exact integers,
    so ``dl/avgdl`` is computed as ``dl·N / Σdl`` (IEEE division of
    exactly-representable ints); each per-term partial
    ``idf · tf(k1+1)/(tf + k1(1−b+b·dl·N/Σdl))`` with the BM25+ idf
    ``ln(1 + (N−df+0.5)/(df+0.5))`` is rounded to ``scale`` decimals
    FIRST and summed as exact DECIMAL (the ``bigram_lm_nll``
    discipline); ranking ties break on ascending doc id.

    Returns (query_id, rank, id_col, n_terms, score_4dp): top ``k``
    documents per query, rank 1 = best."""
    from pyspark.sql.window import Window

    # Small-corpus fan-out (round 10 — the ACTUAL root of the q150
    # in-suite inflation): a corpus living in one small parquet file is
    # ONE input split, so the tokenize+explode+filter pipeline runs in a
    # single task no matter how downstream exchanges are partitioned —
    # and that serial stage is what the chunk-JVM interpreter penalty
    # amplified 10×. Conditional (no-op when splits ≥ parallelism):
    # shuffling raw text at 100 TB would be the real mistake. Shared
    # policy lives in relational.fan_out_small_scan (ADVICE r10 —
    # deferred import, the dedup.py pattern).
    from ..operators.relational import fan_out_small_scan

    df = fan_out_small_scan(df)
    width = df.sparkSession.sparkContext.defaultParallelism

    toks = ws_tokens(F.lower(F.col(text_col)))
    stats = (df.select(F.size(toks).alias("dl"))
               .agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl")))

    if isinstance(queries, (list, tuple)):
        qrows = [(int(qid), qtext) for qid, qtext in queries]
        qdf = local_frame(df.sparkSession, qrows,
                          "query_id int, qtext string")
    else:
        qdf = queries.select("query_id", "qtext")
    qterms = (qdf.select("query_id",
                         F.explode(ws_tokens(F.lower(F.col("qtext"))))
                          .alias("t"))
                 .distinct())

    # Broadcast the distinct query-term SET against the exploded token
    # stream: non-query tokens never leave the scan stage, and dl rides
    # the groupBy key, so the only postings shuffle is query-term-sized.
    #
    # Width pin (round 10): the explicit repartition on EXACTLY the
    # grouping keys is AQE-exempt and satisfies the aggregation's
    # clustering requirement, so the tf aggregation + cache build run
    # at defaultParallelism instead of the single AQE-coalesced task
    # the small post-shuffle volume otherwise earns. Trade: raw
    # postings shuffle instead of map-side-combined counts — both
    # query-term-bounded; the serial stage it removes is unbounded in
    # the interpreter regime (SCALE.md §in-suite-inflation).
    tf = (df.select(F.col(id_col), F.size(toks).alias("dl"),
                    F.explode(toks).alias("t"))
            .join(F.broadcast(qterms.select("t").distinct()), "t")
            .repartition(width, id_col, "dl", "t")
            .groupBy(id_col, "dl", "t").agg(F.count("*").alias("tf")))
    # The postings frame feeds BOTH df(t) (inside the qt broadcast
    # subtree) and the scoring join. Unpersisted, the corpus-wide token
    # explode would execute twice — and the broadcast-side copy runs
    # under the driver's broadcast-build path, where heap pressure makes
    # its cost wildly variable (observed 3.5→60 s swings in-suite).
    # The frame itself is query-term-sized, so caching it is cheap at
    # any corpus scale.
    #
    # The cache stores the (id, dl, t)-partitioned relation from the
    # width-pinned aggregation above; df(t)'s partial aggregate runs
    # over those width partitions map-side and its final reduces a
    # ≤ width × |query terms| relation — no serial stage anywhere in
    # the postings pipeline.
    tf = tf.persist()
    # df(t) is exact from the surviving postings — every posting of a
    # query term survived the filter above.
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    qt = (qterms.join(dfreq, "t")
                .crossJoin(F.broadcast(stats))
                .select("query_id", "t",
                        F.log(F.lit(1.0)
                              + (F.col("n") - F.col("df") + F.lit(0.5))
                              / (F.col("df") + F.lit(0.5))).alias("idf"),
                        "n", "sum_dl"))

    part = (F.col("idf") * F.col("tf") * F.lit(k1 + 1.0)
            / (F.col("tf") + F.lit(k1)
               * (F.lit(1.0 - b)
                  + F.lit(b) * F.col("dl") * F.col("n") / F.col("sum_dl"))))
    scored = (tf.join(F.broadcast(qt), "t")
                .select("query_id", id_col,
                        F.round(part, scale)
                         .cast(f"decimal(18,{scale})").alias("part"))
                .groupBy("query_id", id_col)
                .agg(F.count("*").alias("n_terms"),
                     F.sum("part").cast("double").alias("score_4dp")))
    if exclude_query_doc:
        scored = scored.filter(F.col("query_id") != F.col(id_col))
    w = (Window.partitionBy("query_id")
               .orderBy(F.desc("score_4dp"), F.asc(id_col)))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "rank", id_col, "n_terms",
                          "score_4dp"))


def _adjacent_pairs(toks: Column) -> Column:
    """Adjacent (w1, w2) token pairs as an array of structs — the shared
    zip-slice construction of the bigram family (no explode here; callers
    explode once into their own count shape)."""
    return F.when(
        F.size(toks) < 2,
        F.array().cast("array<struct<w1:string,w2:string>>")
    ).otherwise(
        F.slice(F.arrays_zip(toks.alias("w1"),
                             F.slice(toks, 2, 1 << 30).alias("w2")),
                1, F.size(toks) - 1))


def pmi_collocations(df, text_col: str = "text", min_count: int = 5,
                     scale: int = 4, caches: list | None = None):
    """Collocation mining by pointwise mutual information — the classic
    phrase-detection / tokenizer-vocabulary pass (Church & Hanks 1990;
    word2vec's phrase-joining step is the same count ratio): adjacent
    token pairs whose joint frequency beats the independence prediction
    of their unigram frequencies.

    Plan shape: ONE token explode feeds the unigram counts and ONE bigram
    explode feeds the pair counts (both map-side-combined shuffles on
    token keys). The corpus totals (token count N, bigram count M, from
    the UNFILTERED counts) are one tiny agg each over the already-reduced
    count relations — no second corpus pass. The ``min_count`` filter
    lands BEFORE the unigram joins, so only surviving pairs (a vanishing
    fraction of the pair vocabulary at scale) ever join. Linear in
    tokens; no all-pairs step anywhere.

    Cross-engine determinism: every operand is an exact integer count;
    the PMI ratio is evaluated in ONE fixed association
    ``(c12/M) / ((c1/N) * (c2/N))`` in both engines and the single ``ln``
    is rounded to ``scale`` (the q146 bigram-LM discipline — each divide
    is one IEEE op on exact-integer-valued doubles).

    Returns (w1, w2, c12, pmi) for pairs with ``c12 >= min_count``.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    uni = (df.select(F.explode(toks).alias("t"))
             .groupBy("t").agg(F.count("*").alias("c1")))
    bi_all = (df.select(F.explode(_adjacent_pairs(toks)).alias("p"))
                .select(F.col("p.w1").alias("w1"),
                        F.col("p.w2").alias("w2"))
                .groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    if caches is not None:
        # uni feeds BOTH unigram joins + the N total; bi_all feeds the
        # surviving-pair filter + the M total — without the persists each
        # consumer re-executes its corpus explode (5 scans instead of 2).
        from ..operators.relational import persisted
        uni = persisted(uni)
        bi_all = persisted(bi_all)
        caches.extend([uni, bi_all])
    n_tok = uni.agg(F.sum("c1").cast("double").alias("n_tok"))
    m_bi = bi_all.agg(F.sum("c12").cast("double").alias("m_bi"))
    surviving = bi_all.filter(F.col("c12") >= min_count)
    joined = (surviving
              .join(uni.select(F.col("t").alias("w1"),
                               F.col("c1").alias("c1a")), "w1")
              .join(uni.select(F.col("t").alias("w2"),
                               F.col("c1").alias("c1b")), "w2")
              .crossJoin(F.broadcast(n_tok))
              .crossJoin(F.broadcast(m_bi)))
    ratio = ((F.col("c12").cast("double") / F.col("m_bi"))
             / ((F.col("c1a").cast("double") / F.col("n_tok"))
                * (F.col("c1b").cast("double") / F.col("n_tok"))))
    return joined.select("w1", "w2", "c12",
                         F.round(F.log(ratio), scale).alias("pmi"))


def stupid_backoff_nll(df, train_df=None, alpha: float = 0.4,
                       k: float = 0.5, text_col: str = "text",
                       id_col: str = "doc_id", scale: int = 4,
                       caches: list | None = None):
    """Trigram language-model scoring with stupid backoff (Brants et al.
    2007, "Large Language Models in Machine Translation" — the
    web-scale scoring scheme that skips normalization): each trigram
    scores ``c123/c12`` when the model saw it, backs off to
    ``alpha * c23/c2`` when it saw only the bigram, and bottoms out at
    ``alpha² * (c3+k)/(N+k·V)`` (add-k unigram, so unseen words stay
    finite). Extends :func:`bigram_lm_nll` one order up — the same
    linear-shuffle shape with one more count relation.

    ``train_df`` trains the counts on a different corpus (the held-out /
    domain-selection shape, exercising the backoff paths); ``None``
    trains on ``df`` itself, where every trigram is its own evidence.

    Plan: one trigram explode of the scored corpus; four count relations
    (c123, c12, c23, c2) from one trigram explode of the train corpus
    (map-side-combined token-keyed shuffles); unigram counts + (N, V)
    scalars broadcast. Score joins are on the counts' natural keys.

    Cross-engine determinism: per-trigram log-scores are rounded to
    ``scale`` then summed as exact DECIMAL (q146 discipline); the
    backoff tier of each trigram is reported as exact integer counts.

    Returns one row per document with ≥1 trigram:
    (id_col, n_trigrams, n_tri_hits, n_bi_backoffs, n_uni_backoffs,
    mean_nll, sum_nll)."""
    def _trigrams(frame):
        toks = ws_tokens(F.lower(F.col(text_col)))
        tri = F.when(
            F.size(toks) < 3,
            F.array().cast(
                "array<struct<w1:string,w2:string,w3:string>>")
        ).otherwise(
            F.slice(
                F.arrays_zip(toks.alias("w1"),
                             F.slice(toks, 2, 1 << 30).alias("w2"),
                             F.slice(toks, 3, 1 << 30).alias("w3")),
                1, F.size(toks) - 2))
        return (frame.select(F.col(id_col), F.explode(tri).alias("p"))
                .select(id_col, F.col("p.w1").alias("w1"),
                        F.col("p.w2").alias("w2"),
                        F.col("p.w3").alias("w3")))

    model_src = df if train_df is None else train_df
    tri = _trigrams(df)
    mtri = tri if train_df is None else _trigrams(model_src)

    # Count pyramid: ONE corpus-sized trigram shuffle builds c123; the
    # lower orders are rollups of the already-reduced count relation
    # (c12 = Σ_w3 c123, c23 = Σ_w1 c123, c2 = Σ_w3 c23) — vocab-sized
    # aggs, not three more passes over the exploded corpus. c123 is
    # persisted when the caller passes ``caches`` (it feeds the scoring
    # join AND two rollups; without the persist each consumer would
    # re-execute the corpus explode that built it).
    c123 = mtri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123"))
    if caches is not None:
        from ..operators.relational import persisted
        c123 = persisted(c123)
        caches.append(c123)
    c12 = c123.groupBy("w1", "w2").agg(F.sum("c123").alias("c12"))
    c23 = c123.groupBy("w2", "w3").agg(F.sum("c123").alias("c23"))
    c2 = c23.groupBy("w2").agg(F.sum("c23").alias("c2"))
    muni = (model_src.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("t"))
        .groupBy("t").agg(F.count("*").alias("c3")))
    if caches is not None:
        # muni feeds the w3 scoring join AND the (N, V) scalar agg —
        # unpersisted, each consumer re-runs the unigram corpus explode
        from ..operators.relational import persisted
        muni = persisted(muni)
        caches.append(muni)
    nv = muni.agg(F.sum("c3").cast("double").alias("n_tok"),
                  F.count("*").cast("double").alias("v"))

    tier = (F.when(F.coalesce(F.col("c123"), F.lit(0)) > 0, F.lit(0))
             .when(F.coalesce(F.col("c23"), F.lit(0)) > 0, F.lit(1))
             .otherwise(F.lit(2)))
    score = (F.when(tier == 0,
                    F.col("c123").cast("double") / F.col("c12"))
              .when(tier == 1,
                    F.lit(alpha) * F.col("c23").cast("double")
                    / F.col("c2"))
              .otherwise(
                  F.lit(alpha * alpha)
                  * (F.coalesce(F.col("c3"), F.lit(0)) + F.lit(k))
                  / (F.col("n_tok") + F.lit(k) * F.col("v"))))
    # Scoring attaches the model in THREE instance-keyed joins, not five
    # (r14 optimization round, guide §2.4): the backoff score consumes
    # c12 ONLY on tier 0 (c123 > 0) and c2 ONLY on tier 1 (c23 > 0), so
    # the lower-order counts pre-join onto their parent count relations
    # — model-vocab-sized joins — instead of each re-shuffling the
    # corpus-sized trigram-instance relation on a new key. A trigram
    # missing from cc123 leaves c12 null exactly when c12 is never read
    # (and likewise c2 via cc23), so every emitted score is identical.
    # At fixture scale the count relations broadcast either way; at
    # 100 TB this is two fewer corpus-wide exchanges (5 → 3).
    cc123 = c123.join(c12, ["w1", "w2"])
    cc23 = c23.join(c2, ["w2"])
    lp = (tri.join(cc123, ["w1", "w2", "w3"], "left")
             .join(cc23, ["w2", "w3"], "left")
             .join(muni.select(F.col("t").alias("w3"), "c3"),
                   ["w3"], "left")
             .crossJoin(F.broadcast(nv))
             .select(id_col, tier.alias("tier"),
                     F.round(F.log(score), scale)
                      .cast(f"decimal(18,{scale})").alias("lp")))
    return (lp.groupBy(id_col)
              .agg(F.count("*").alias("n_trigrams"),
                   F.sum((F.col("tier") == 0).cast("long"))
                    .alias("n_tri_hits"),
                   F.sum((F.col("tier") == 1).cast("long"))
                    .alias("n_bi_backoffs"),
                   F.sum((F.col("tier") == 2).cast("long"))
                    .alias("n_uni_backoffs"),
                   F.round(-F.sum("lp").cast("double") / F.count("*"),
                           scale).alias("mean_nll"),
                   (-F.sum("lp")).alias("sum_nll")))


#: ln(2) as the exact double literal BOTH engines are handed — hardcoded so
#: the JSD only-mass term never depends on two libms agreeing about ln(2).
_LN2 = 0.6931471805599453


def source_js_divergence(df, group_col: str = "source",
                         text_col: str = "text", scale: int = 6,
                         term_scale: int = 8, caches: list | None = None):
    """Pairwise Jensen-Shannon divergence between per-group unigram
    distributions — the corpus-mixture diagnostic behind data-mixing
    work (how lexically far apart are my sources/domains?). JSD is
    symmetric and bounded by ln 2, so the matrix is directly comparable
    across pairs.

    Decomposition that avoids a per-pair full-outer join: for words both
    groups share, the per-word term is
    ``p/2·ln(2p/(p+q)) + q/2·ln(2q/(p+q))``; a word only one side has
    contributes exactly ``p/2·ln 2`` — so each pair needs ONE inner join
    on the word key plus its two "missing mass" totals, which are exact
    integers (n_a − Σ shared c_a). Plan: one (group, word) count shuffle,
    one word-keyed self-join (each word joins only across groups that
    share it), per-group totals broadcast. Linear in vocabulary × the
    groups sharing each word — never |corpus| and never groups².

    Cross-engine determinism: shared-word terms are rounded to
    ``term_scale`` then DECIMAL-summed (q146 discipline); the missing
    masses are exact-integer ratios scaled by the hardcoded ``_LN2``
    literal; the final score is one IEEE add then one round.

    ``caches``: optional list that receives the internally persisted
    (group, word) count relation — it feeds BOTH sides of the self-join
    and the totals, so persisting saves two extra corpus token passes;
    the caller unpersists after its consuming action (the ranks.py
    ownership contract).

    Returns (g_a, g_b, n_shared, jsd) for every unordered group pair
    that shares at least one word, g_a < g_b."""
    cnt = (df.select(F.col(group_col).alias("g"),
                     F.explode(ws_tokens(
                         F.lower(F.col(text_col)))).alias("t"))
             .groupBy("g", "t").agg(F.count("*").alias("c")))
    if caches is not None:
        from ..operators.relational import persisted
        cnt = persisted(cnt)
        caches.append(cnt)
    tot = cnt.groupBy("g").agg(F.sum("c").alias("n"))
    d = (cnt.join(F.broadcast(tot), "g")
            .select("g", "t", "c", "n"))
    a = d.select(F.col("g").alias("g_a"), F.col("t"),
                 F.col("c").alias("c_a"), F.col("n").alias("n_a"))
    b = d.select(F.col("g").alias("g_b"), F.col("t"),
                 F.col("c").alias("c_b"), F.col("n").alias("n_b"))
    p = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    q = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    term = (p / F.lit(2.0) * F.log(F.lit(2.0) * p / (p + q))
            + q / F.lit(2.0) * F.log(F.lit(2.0) * q / (p + q)))
    shared = (a.join(b, "t")
               .filter(F.col("g_a") < F.col("g_b"))
               .select("g_a", "g_b", "c_a", "c_b",
                       F.round(term, term_scale)
                        .cast(f"decimal(18,{term_scale})").alias("term"))
               .groupBy("g_a", "g_b")
               .agg(F.count("*").alias("n_shared"),
                    F.sum("term").alias("shared_dec"),
                    F.sum("c_a").alias("sh_a"),
                    F.sum("c_b").alias("sh_b")))
    out = (shared
           .join(F.broadcast(tot.select(F.col("g").alias("g_a"),
                                        F.col("n").alias("n_a"))), "g_a")
           .join(F.broadcast(tot.select(F.col("g").alias("g_b"),
                                        F.col("n").alias("n_b"))), "g_b"))
    only = (((F.col("n_a") - F.col("sh_a")).cast("double")
             / F.col("n_a").cast("double")
             + (F.col("n_b") - F.col("sh_b")).cast("double")
             / F.col("n_b").cast("double"))
            * F.lit(0.5) * F.lit(_LN2))
    return out.select(
        "g_a", "g_b", "n_shared",
        F.round(F.col("shared_dec").cast("double") + only, scale)
         .alias("jsd"))


def blocklist_stats(df, terms: tuple[str, ...], text_col: str = "text",
                    group_col: str = "source",
                    max_hit_ratio: float = 0.0, scale: int = 4):
    """C4-style blocklist gating: per-group counts of documents whose
    token stream hits a (small, broadcastable-by-literal) term
    blocklist — the classic bad-words / boilerplate-marker filter that
    runs at full scan speed before anything expensive. A document is
    DROPPED when its hit ratio exceeds ``max_hit_ratio`` (0.0 = any hit
    drops, the C4 rule).

    Pure per-row expressions (token filter against a literal array —
    no join, no shuffle except the final group agg), so the gate
    composes into any scan. Exact integers + one rounded ratio.

    Returns per group: n_docs, n_flagged, n_kept, total_hits,
    flagged_rate."""
    toks = ws_tokens(F.lower(F.col(text_col)))
    lit = F.array(*[F.lit(t) for t in terms])
    hits = F.size(F.filter(toks, lambda x: F.array_contains(lit, x)))
    ratio = hits.cast("double") / F.size(toks).cast("double")
    flagged = (ratio > F.lit(max_hit_ratio)).cast("int")
    return (df.select(F.col(group_col).alias("grp"),
                      hits.alias("hits"), flagged.alias("flagged"))
            .groupBy("grp")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("flagged").cast("long").alias("n_flagged"),
                 (F.count("*") - F.sum("flagged")).cast("long")
                  .alias("n_kept"),
                 F.sum("hits").cast("long").alias("total_hits"),
                 F.round(F.sum("flagged").cast("double")
                         / F.count("*"), scale).alias("flagged_rate"))
            .withColumnRenamed("grp", group_col))


def dsir_importance(df, target_col, text_col: str = "text",
                    id_col: str = "doc_id", scale: int = 4,
                    caches: list | None = None):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    NON-target document by how target-like its unigram distribution is —
    ``Σ_tokens [ln p_target(tok) − ln p_raw(tok)]`` with add-one
    smoothing over the joint vocabulary — so the raw pool can be
    resampled toward a curated domain. ``target_col`` is a boolean
    column marking the target (curated) documents; raw = the whole
    corpus, the paper's setup.

    This is the EXACT token-level variant; the paper's hashed-n-gram
    bucketing is a drop-in key swap (``xxhash64(tok) % B`` instead of
    ``tok``) that bounds the model relation at ``B`` rows for corpora
    whose vocabularies outgrow a token-keyed join — same plan shape,
    coarser features, oracle certifies the exact path.

    Plan (the :func:`bigram_lm_nll` pyramid discipline): ONE corpus
    token explode feeds (a) the token-keyed count model (target count
    via conditional sum, raw count — map-side-combined) and (b) the
    scoring join; totals/vocab-size are a 1-row rollup OF THE MODEL
    (never a second corpus pass), broadcast. Per-token log-ratio rounds
    to ``scale`` FIRST and sums as exact DECIMAL per doc (q146
    discipline — aggregation order cannot drift the value); the weight
    is the exact decimal sum cast once to double, never re-rounded.

    ``caches`` receives the persisted token-instance relation (it feeds
    both the model aggregation and the scoring join — separate actions'
    worth of fan-out in one query plan; relational.persisted ownership
    contract).

    Returns one row per non-target doc: (id_col, n_tokens, weight);
    higher = more target-like."""
    toks = (df.select(F.col(id_col), F.col(target_col).alias("_tgt"),
                      F.explode(ws_tokens(F.lower(F.col(text_col))))
                       .alias("tok")))
    if caches is not None:
        from ..operators.relational import persisted
        toks = persisted(toks)
        caches.append(toks)
    model = (toks.groupBy("tok")
             .agg(F.sum(F.col("_tgt").cast("long")).alias("ct"),
                  F.count("*").alias("cr")))
    totals = model.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"),
                       F.count("*").alias("v"))
    lam = F.round(
        F.log((F.col("ct") + 1).cast("double")
              / (F.col("nt") + F.col("v")).cast("double"))
        - F.log((F.col("cr") + 1).cast("double")
                / (F.col("nr") + F.col("v")).cast("double")),
        scale).cast(f"decimal(18,{scale})")
    scored = (toks.filter(~F.col("_tgt"))
              .join(model, "tok")
              .crossJoin(F.broadcast(totals))
              .select(id_col, lam.alias("lam")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("lam").cast("double").alias("weight")))


def zipf_slope(df, text_col: str = "text", top_n: int = 200,
               scale: int = 4):
    """Zipf's-law fit of the corpus token-frequency curve: OLS slope of
    ``ln(count)`` against ``ln(rank)`` over the ``top_n`` most frequent
    tokens — the standard corpus-health diagnostic (natural language
    sits near −1; templated/boilerplate corpora flatten, OCR noise
    steepens the tail).

    Plan: one token-count aggregation (map-side-combined), a global
    top-``top_n`` (TakeOrderedAndProject — never a full sort), then the
    regression runs on the ``top_n``-row relation: the single-partition
    rank window is top_n-sized BY CONSTRUCTION at any corpus size.
    Cross-engine determinism: ln(rank)/ln(count) round to ``scale``
    at creation and every OLS sum is exact DECIMAL (products of 4-dp
    decimals are exact 8-dp decimals); slope/intercept/r² are IEEE
    ops over the exact sums, never re-rounded.

    Returns one row: (n_points, slope, intercept, r2)."""
    cnt = (df.select(F.explode(ws_tokens(F.lower(F.col(text_col))))
                     .alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("cnt"))
           .orderBy(F.desc("cnt"), F.asc("tok")).limit(top_n))
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    pts = cnt.select(
        F.round(F.log(F.row_number().over(w).cast("double")), scale)
         .cast(f"decimal(18,{scale})").alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), scale)
         .cast(f"decimal(18,{scale})").alias("y"))
    s = pts.agg(F.count("*").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
    return s.select(F.col("n").alias("n_points"), slope.alias("slope"),
                    intercept.alias("intercept"), r2.alias("r2"))


def vocab_growth(df, text_col: str = "text", id_col: str = "doc_id",
                 salt: int = 77):
    """Heaps'-law vocabulary-growth curve by NESTED hash subsamples:
    distinct-token counts at 1/8, 1/4, 1/2 and all of the corpus — the
    diagnostic that says whether more data keeps buying new vocabulary
    (natural corpora grow ≈ n^β, β ≈ 0.5; a flattening curve means the
    crawl is recycling itself). Nested prefixes of the permutation-hash
    space replace "the first n documents": membership is one exact
    integer compare (rank < 2³¹·f, dyadic f → exact thresholds), each
    level CONTAINS the previous (true growth curve, not four
    independent samples), and no global sort or prefix-sum ever runs —
    the classic formulation's "order the corpus" becomes a free
    per-row predicate.

    Plan: one token explode → per-token MIN level (the first nested
    sample containing it — map-side-combined) → level-sized rollups +
    a 4-row cumulative window. The corpus contributes one pass.

    Returns one row per level: (fraction, n_docs, n_tokens, vocab),
    all cumulative, fraction ascending (0.125, 0.25, 0.5, 1.0)."""
    from ..operators.sampling import _perm_rank

    rank = _perm_rank(id_col, salt)
    lvl = (F.when(rank < F.lit(1 << 28), 0)
           .when(rank < F.lit(1 << 29), 1)
           .when(rank < F.lit(1 << 30), 2).otherwise(3))
    toks = ws_tokens(F.lower(F.col(text_col)))
    base = df.select(lvl.alias("lvl"), toks.alias("toks"))
    doc_stats = base.groupBy("lvl").agg(
        F.count("*").alias("d"),
        F.sum(F.size("toks")).cast("long").alias("t"))
    first_seen = (base.select("lvl", F.explode("toks").alias("tok"))
                  .groupBy("tok").agg(F.min("lvl").alias("lvl"))
                  .groupBy("lvl").agg(F.count("*").alias("v")))
    from pyspark.sql import Window
    w = (Window.orderBy("lvl")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    frac = (F.lit(1.0) / F.pow(F.lit(2.0), (F.lit(3) - F.col("lvl"))
                               .cast("double")))
    return (doc_stats.join(first_seen, "lvl", "left")
            .select("lvl", "d", "t",
                    F.coalesce(F.col("v"), F.lit(0)).alias("v"))
            .select(frac.alias("fraction"),
                    F.sum("d").over(w).alias("n_docs"),
                    F.sum("t").over(w).alias("n_tokens"),
                    F.sum("v").over(w).alias("vocab"))
            .orderBy("fraction"))


def padding_waste(df, boundaries: tuple[int, ...] = (16, 32, 64, 128),
                  text_col: str = "text"):
    """Padding-efficiency audit for bucketed batching (the batch-shape
    planning number for fixed-context training: how many of the tokens
    a batch ships are real vs. pad).

    Per length bucket — the smallest boundary >= the document's token
    count, overlong documents truncated to the last boundary — the
    audit reports rows, real tokens, padded capacity (rows x boundary)
    and the padding fraction, plus one ``global`` row showing the waste
    if every sequence padded to the longest boundary (the single
    max-length collate strategy bucketed batching replaces).

    Scale: the corpus pass computes ONLY a token count per row (no
    explode, no shuffle of text), and ONE map-side-combined ROLLUP
    aggregate produces the per-bucket rows and the ``global`` row
    together — a union of two consumers would re-execute the corpus
    aggregate (no exchange sits at the union point to reuse; the q167
    lesson), so the grouping-set form is what keeps the corpus scanned
    once. The one IEEE divide runs on exact integer operands, so the
    fraction is bit-identical on any engine.
    """
    if list(boundaries) != sorted(set(boundaries)) or not boundaries:
        raise ValueError(
            f"boundaries must be strictly ascending, got {boundaries}")
    bmax = boundaries[-1]
    n = F.least(F.size(ws_tokens(F.col(text_col))), F.lit(bmax))
    expr = None
    for b in boundaries:
        expr = (F.when(n <= b, b) if expr is None
                else expr.when(n <= b, b))
    bucket = expr.otherwise(F.lit(bmax))
    rolled = (df.select(bucket.alias("bucket"), n.alias("n_tok"))
              .rollup("bucket")
              .agg(F.count("*").alias("n_docs"),
                   F.sum("n_tok").cast("long").alias("sum_tokens")))
    strategy = (F.when(F.col("bucket").isNull(), F.lit("global"))
                .otherwise(F.lit("bucketed")))
    bucket_out = F.coalesce(F.col("bucket"), F.lit(bmax)).cast("int")
    capacity = bucket_out.cast("long") * F.col("n_docs")
    pad = capacity - F.col("sum_tokens")
    return (rolled.select(strategy.alias("strategy"),
                          bucket_out.alias("bucket"),
                          "n_docs", "sum_tokens",
                          capacity.alias("capacity"),
                          pad.alias("padding"),
                          (pad.cast("double") / capacity.cast("double"))
                          .alias("waste_frac"))
            .orderBy("strategy", "bucket"))


def gopher_repetition(df, text_col: str = "text", id_col: str = "doc_id",
                      top_n: int = 40):
    """Gopher-style intra-document n-gram repetition signals (Rae et
    al. 2021, Table A1 — the duplicated-n-gram character fractions that
    gate machine-generated and boilerplate text, adapted token-level
    for single-line corpora).

    Per document: ``dup_2gram_frac`` / ``dup_3gram_frac`` — the share
    of n-gram characters (token chars + joining spaces) sitting in
    n-grams that occur at least twice in the document — and
    ``top_2gram_frac`` — the character share of the single most
    frequent 2-gram (tie-break: count desc, gram desc, matching the
    struct-max ordering on any engine). All three are exact-integer
    character sums with one divide, rounded to 4 dp at creation (the
    q146 discipline). Returns the ``top_n`` most repetitive documents
    (dup_2gram_frac desc, id asc) with the winning 2-gram inline.

    Documents shorter than 3 tokens are EXCLUDED (they have no 3-gram
    relation, so their dup_3gram_frac is undefined — emitting a null
    row here while a SQL twin's inner join drops the doc is exactly
    the silent cross-engine divergence this filter forecloses).

    Scale: one explode of per-document 2-/3-gram arrays (zipped
    shifted views — O(len) per doc, see :func:`word_shingles`), one
    (doc, n, gram) count, one (doc, n) rollup, one doc-level pivot.
    Everything shuffles on document keys — no corpus-wide vocabulary
    relation, no pair fan-out — so the plan is two linear passes
    regardless of corpus size; the global top-N is a
    TakeOrderedAndProject."""
    toks = ws_tokens(F.lower(F.col(text_col)))

    def _tag(n: int) -> Column:
        # NB: a default-arg lambda (``lambda g, n=n``) would have TWO
        # parameters, which PySpark reads as the (element, index) form
        # of transform — the index would silently overwrite the tag.
        return F.transform(
            word_shingles(toks, n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))

    tagged = F.concat(_tag(2), _tag(3))
    grams = (df.filter(F.size(ws_tokens(F.col(text_col))) >= 3)
             .select(F.col(id_col).alias("doc_id"),
                     F.explode(tagged).alias("t"))
             .select("doc_id", F.col("t.n").alias("n"),
                     F.col("t.g").alias("g")))
    chars = (F.col("c") * F.length("g")).cast("long")
    per = (grams.groupBy("doc_id", "n", "g")
           .agg(F.count("*").alias("c"))
           .groupBy("doc_id", "n")
           .agg(F.sum(chars).alias("denom"),
                F.sum(F.when(F.col("c") >= 2, chars).otherwise(F.lit(0)))
                .alias("dup_chars"),
                F.max(F.struct(F.col("c").alias("c"), F.col("g").alias("g")))
                .alias("top")))
    is2 = F.col("n") == 2
    is3 = F.col("n") == 3
    d2 = F.sum(F.when(is2, F.col("denom"))).cast("double")
    wide = per.groupBy("doc_id").agg(
        F.round(F.sum(F.when(is2, F.col("dup_chars"))) / d2, 4)
        .alias("dup_2gram_frac"),
        F.round(F.sum(F.when(is3, F.col("dup_chars")))
                / F.sum(F.when(is3, F.col("denom"))).cast("double"), 4)
        .alias("dup_3gram_frac"),
        F.round(F.max(F.when(is2, (F.col("top.c") * F.length("top.g"))
                             .cast("long"))) / d2, 4)
        .alias("top_2gram_frac"),
        F.max(F.when(is2, F.col("top.g"))).alias("top_2gram"))
    return (wide.orderBy(F.desc("dup_2gram_frac"), F.asc("doc_id"))
            .limit(top_n))
