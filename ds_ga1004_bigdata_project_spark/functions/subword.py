"""Subword tokenizer training: distributed byte-pair encoding (BPE).

Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units") — the tokenizer-training stage of an LLM data pipeline.
The distributed shape matters more than the loop: the CORPUS is touched
exactly once (a word-count pass); every merge iteration runs on the
weighted word-VOCABULARY relation, which Heaps' law keeps sublinear in
corpus size, and the only driver state per iteration is the single
winning pair row. That is how BPE training stays tractable at 100 TB —
the corpus pass is embarrassingly parallel, and the iterative part never
touches the corpus again.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .text import ws_tokens


def _chars(col):
    """Word → array of single characters. The split points are the
    between-character boundaries only — without the ``(?!$)`` guard the
    empty match at end-of-string yields a trailing '' element (Spark's
    split keeps trailing empties, unlike Java's String.split)."""
    return F.split(col, "(?!^)(?!$)")


@contextmanager
def _loop_confs(vocab: DataFrame):
    """Scope the merge loop's session confs to the VOCAB relation's size.

    Every iteration job shuffles only the checkpointed vocabulary — a
    relation whose partition count AQE has already sized to the data
    during the one corpus pass. Inside the loop, (a) shuffle width
    follows that measured count instead of the session default (never a
    constant: at 100 TB the word-count agg leaves hundreds of
    partitions and the loop inherits them; on the fixture it is 1), and
    (b) AQE is disabled — its per-stage stat collection and replanning
    is pure overhead on a relation whose size is already known and
    FIXED across iterations (measured: the per-iteration pair-count job
    drops ~35-45% with AQE off + matched width; spark_optimization_guide
    §1.2 step 3 applied after steps 1-2 shaped the loop). Confs are
    saved/restored exactly (the conftest tripwire enforces it)."""
    spark = vocab.sparkSession
    saved = {k: spark.conf.get(k) for k in
             ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    try:
        width = max(1, vocab.rdd.getNumPartitions())
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _merge_fold(syms, left: str, right: str, fused_sym: str | None = None):
    """One left-to-right non-overlapping merge pass over a symbol array.

    A fold that either fuses the current symbol with the accumulator's
    tail (when the tail is ``left`` and the symbol is ``right``) or
    appends it. A freshly fused token can't chain-merge (the tail becomes
    ``left+right`` ≠ ``left``), which is exactly BPE's single-pass rule.
    O(len²) per word from accumulator copies — words are short, and this
    runs on the vocabulary relation, not the corpus.

    ``fused_sym`` overrides the merged symbol's spelling (WordPiece
    strips the continuation prefix off ``right``); default is plain
    concatenation (BPE).

    The fold is gated behind two O(len) ``array_contains`` probes: a
    word that lacks either symbol cannot contain the pair, so the fold
    is the identity there and the CASE short-circuits the O(len²)
    accumulator copies. On a real (Heaps-law) vocabulary almost every
    word skips almost every merge — the guard turns the per-iteration
    rewrite from O(Σ len²) over the whole vocab into O(Σ len) probes
    plus O(len²) on the touched words only (guide §1.2 step 2:
    per-task work). ``syms`` must be a plain column reference (never an
    inline computed array — the HOF re-evaluation trap, SKILL lesson 9);
    both call sites pass ``F.col("syms")``."""
    fused = F.lit(left + right if fused_sym is None else fused_sym)
    folded = F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.when(F.array_contains(syms, left)
                  & F.array_contains(syms, right), folded).otherwise(syms)


def bpe_learn(df: DataFrame, n_merges: int = 24, text_col: str = "text",
              min_pair_count: int = 2,
              return_vocab: bool = False):
    """Learn a BPE merge list from a document corpus.

    One corpus pass builds the weighted word vocabulary (lower-cased
    whitespace words → counts); each of the ``n_merges`` iterations then:

    1. explodes adjacent symbol pairs of every vocab word (zipped
       shifted slices — O(len) per word, no index HOF),
    2. sums pair frequencies weighted by word count (map-side combined,
       pair-keyed shuffle of the VOCAB relation only),
    3. takes the most frequent pair (ties break lexicographically — the
       determinism contract), a ONE-ROW collect,
    4. rewrites every vocab word's symbol array with the single-pass
       merge fold, and localCheckpoints the tiny vocab so lineage (and
       codegen depth) stays one iteration deep.

    Stops early when no pair reaches ``min_pair_count``. Fully
    deterministic: exact integer counts, lexicographic tie-break, no
    RNG anywhere.

    Returns the merge table (merge_rank, left, right, merged,
    pair_count); with ``return_vocab`` a (merges, vocab) tuple where
    vocab is (word, cnt, syms) — every corpus word's final
    segmentation."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = df.sparkSession

    # NO fan_out_small_scan here: the word-count pass is exactly the
    # bigram_lm_nll shape (explode feeding a map-side-combined token
    # agg whose downstream already parallelizes) where the r11/r12
    # interleaved A/B measured the fan-out COSTING +14-51% — see
    # bigram_lm_nll's docstring and the SCALE.md A/B table.
    vocab = (df.select(F.explode(ws_tokens(F.lower(F.col(text_col))))
                        .alias("word"))
               .filter(F.col("word") != "")
               .groupBy("word").agg(F.count("*").alias("cnt"))
               .withColumn("syms", _chars(F.col("word")))
               .localCheckpoint())

    # Iteration-INDEPENDENT expressions hoisted out of the loop (r15,
    # guide §1.2 step 2): Columns are immutable unresolved expression
    # trees, safely reusable across DataFrames, and building the
    # zip_with/struct lambda tree costs ~0.1 s of driver py4j round
    # trips PER CONSTRUCTION (measured: 24 rebuilds = 3.0 s — a real
    # slice of the learner's wall at ANY scale, since it is driver
    # time, not data time).
    body = F.slice(F.col("syms"), 1, F.size("syms") - 1)
    tail = F.slice(F.col("syms"), 2, F.size("syms") - 1)
    pair_explode = F.explode(F.zip_with(
        body, tail,
        lambda a, b: F.struct(a.alias("l"), b.alias("r")))).alias("p")
    has_pair = F.size("syms") >= 2

    merges: list[tuple[int, str, str, str, int]] = []
    with _loop_confs(vocab):
        for rank in range(1, n_merges + 1):
            pairs = (vocab.filter(has_pair)
                     .select("cnt", pair_explode)
                     .groupBy("p.l", "p.r")
                     .agg(F.sum("cnt").alias("pc"))
                     .filter(F.col("pc") >= min_pair_count)
                     .orderBy(F.desc("pc"), "l", "r")
                     .limit(1)
                     .collect())
            if not pairs:
                break
            left, right, pc = (pairs[0]["l"], pairs[0]["r"],
                               int(pairs[0]["pc"]))
            merges.append((rank, left, right, left + right, pc))
            # Lazy checkpoint (r15, guide §2.4): the NEXT iteration's
            # pair-count collect (or the caller's first action on the
            # returned vocab) materializes the fold in the same job —
            # per-iteration jobs drop 2 → 1 while lineage still cuts one
            # iteration deep at materialization. The LAST fold is never
            # materialized at all unless return_vocab consumes it.
            vocab = (vocab.withColumn("syms",
                                      _merge_fold(F.col("syms"), left,
                                                  right))
                          .localCheckpoint(eager=False))

    schema = ("merge_rank int, left string, right string, merged string, "
              "pair_count bigint")
    mdf = local_frame(spark, merges, schema)
    return (mdf, vocab) if return_vocab else mdf


def bpe_fertility(df: DataFrame, n_merges: int = 24,
                  text_col: str = "text", group_col: str = "lang",
                  scale: int = 4) -> DataFrame:
    """Apply a learned BPE segmentation to the corpus and measure
    tokenizer fertility (subword tokens per whitespace word) per group —
    the gauge multilingual tokenizer work watches (a vocabulary trained
    on one language family over-fragments the others; fertility per
    language is the standard evidence).

    The encode path is the SCALABLE one: the corpus never re-runs the
    merge loop. :func:`bpe_learn` already leaves every distinct word's
    final segmentation on the (Heaps-law-sized) vocabulary relation, so
    encoding is ONE token explode + ONE word-keyed join against the
    |vocab|-row segmentation table (broadcast at any realistic vocab
    size) — per-document merge replay would pay the O(merges·len) fold
    corpus-wide for identical results on duplicate words.

    Returns per group: n_words, n_subtokens, distinct_words,
    fertility = n_subtokens/n_words (rounded once)."""
    _, vocab = bpe_learn(df, n_merges=n_merges, text_col=text_col,
                         return_vocab=True)
    seg = vocab.select("word", F.size("syms").alias("n_sub"))
    # No fan-out: same bigram_lm_nll-class shape (see bpe_learn).
    words = (df.select(F.col(group_col).alias("grp"),
                       F.explode(ws_tokens(F.lower(F.col(text_col))))
                        .alias("word"))
               .filter(F.col("word") != ""))
    return (words.join(F.broadcast(seg), "word")
            .groupBy("grp")
            .agg(F.count("*").alias("n_words"),
                 F.sum("n_sub").cast("long").alias("n_subtokens"),
                 F.countDistinct("word").alias("distinct_words"),
                 F.round(F.sum("n_sub").cast("double")
                         / F.count("*"), scale).alias("fertility"))
            .withColumnRenamed("grp", group_col))


def _bpe_state_ctes(n_merges: int, min_pair_count: int, table: str,
                    text_col: str) -> tuple[list[str], list[str]]:
    """Shared CTE chain for the DuckDB twins below: ``state0`` (the
    weighted word vocabulary, words split to characters) plus, per
    iteration k, ``pairsk`` (adjacent-pair counts over the vocab),
    ``wink`` (the arg-max pair, lexicographic tie-break) and ``statek``
    (the vocab with the winning pair merged). Returns (ctes,
    winner_select_per_iteration).

    Every CTE is MATERIALIZED: each ``statek`` is referenced twice
    (``pairsk+1`` and ``statek+1``), and DuckDB's default CTE inlining
    would otherwise expand the chain into 2^n corpus scans.

    The merge rewrite replays :func:`_merge_fold`'s single-pass
    left-to-right non-overlapping semantics with a wrapped-string
    ``replace``: symbols render as ``' '||s||' '`` blocks (words are
    whitespace-tokenized, so a space can never occur INSIDE a symbol),
    the pair pattern ``' l  r '`` consumes both blocks, and
    ``replace``'s resume-after-replacement scan is exactly the fold's
    no-chain-merge rule ([a,a,a,a] → [aa,aa], [a,a,a] → [aa,a])."""
    ctes = [f"""state0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             string_split(word, '') AS syms
      FROM (SELECT unnest(string_split_regex(lower({text_col}), '\\s+'))
                     AS word FROM {table})
      WHERE word <> '' GROUP BY word)"""]
    winners = []
    for k in range(1, n_merges + 1):
        p, s_in, s_out, w = f"pairs{k}", f"state{k-1}", f"state{k}", f"win{k}"
        ctes.append(f"""{p} AS MATERIALIZED (
      SELECT syms[t.i] AS l, syms[t.i+1] AS r,
             CAST(sum(cnt) AS BIGINT) AS pc
      FROM {s_in}, unnest(range(1, len(syms))) AS t(i)
      GROUP BY 1, 2 HAVING sum(cnt) >= {min_pair_count})""")
        ctes.append(f"""{w} AS MATERIALIZED (
      SELECT l, r, pc FROM {p} ORDER BY pc DESC, l, r LIMIT 1)""")
        ctes.append(f"""{s_out} AS MATERIALIZED (
      SELECT s.word, s.cnt,
             CASE WHEN w.l IS NULL OR len(s.syms) < 2 THEN s.syms
                  ELSE string_split(trim(replace(
                         array_to_string(list_transform(
                           s.syms, x -> ' ' || x || ' '), ''),
                         ' ' || w.l || '  ' || w.r || ' ',
                         ' ' || w.l || w.r || ' ')), '  ')
             END AS syms
      FROM {s_in} s LEFT JOIN {w} w ON TRUE)""")
        winners.append(
            f'SELECT {k} AS merge_rank, l AS "left", r AS "right", '
            f"l || r AS merged, pc AS pair_count FROM {w}")
    return ctes, winners


def bpe_learn_sql(n_merges: int = 24, min_pair_count: int = 2,
                  table: str = "documents", text_col: str = "text") -> str:
    """DuckDB-SQL twin of :func:`bpe_learn` — the iterative merge loop
    unrolled as a STATIC chain of ``n_merges`` CTE triples (the merge
    count is a fixed parameter, so no recursion is needed; VERDICT r8
    #6's oracle upgrade). Integer counts and binary-collation
    lexicographic tie-breaks end-to-end, so equality with the Spark
    side is exact, not approximate."""
    ctes, winners = _bpe_state_ctes(n_merges, min_pair_count, table,
                                    text_col)
    return ("WITH " + ",\n".join(ctes) + "\n"
            + " UNION ALL ".join(winners) + " ORDER BY merge_rank")


def bpe_fertility_sql(n_merges: int = 24, min_pair_count: int = 2,
                      table: str = "documents", text_col: str = "text",
                      group_col: str = "lang", scale: int = 4) -> str:
    """DuckDB-SQL twin of :func:`bpe_fertility`: the same unrolled merge
    chain, then the corpus word stream joined to the final vocabulary
    segmentation (``state{n}``) and aggregated per group. The fertility
    round matches Spark's ``F.round`` on the identical IEEE quotient."""
    ctes, _ = _bpe_state_ctes(n_merges, min_pair_count, table, text_col)
    return ("WITH " + ",\n".join(ctes) + f""",
    words AS (
      SELECT {group_col} AS grp,
             unnest(string_split_regex(lower({text_col}), '\\s+')) AS word
      FROM {table})
    SELECT grp AS {group_col},
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(s.syms)) AS BIGINT) AS n_subtokens,
           CAST(count(DISTINCT w.word) AS BIGINT) AS distinct_words,
           round(CAST(sum(len(s.syms)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), {scale}) AS fertility
    FROM words w JOIN state{n_merges} s USING (word)
    WHERE w.word <> ''
    GROUP BY grp ORDER BY {group_col}""")


def wordpiece_learn(df: DataFrame, n_merges: int = 16,
                    text_col: str = "text", min_pair_count: int = 2):
    """Learn a WordPiece merge list (Schuster & Nakajima 2012 / Wu et
    al. 2016 — the BERT-family tokenizer) from a document corpus.

    Same distributed shape as :func:`bpe_learn` — ONE corpus word-count
    pass, then every iteration runs on the weighted word-VOCABULARY
    relation with one-row driver state — with the two WordPiece
    deviations:

    * symbols carry the ``##`` continuation prefix (first character
      bare, the rest ``##c``; a merged symbol keeps its left prefix and
      strips the right's), and
    * the winning pair maximizes the LIKELIHOOD score
      ``count(l,r) / (count(l) * count(r))`` — the pair whose merge
      most increases a unigram LM's corpus likelihood — instead of raw
      frequency, which costs one extra vocab-relation aggregate (the
      weighted per-symbol counts) and two joins of the pair relation
      against that K-row side per iteration.

    Determinism contract: all counts are exact integers; the score is
    one IEEE divide of one IEEE product of those integers — identical
    on any engine — and ties break (left, right) lexicographic. The
    fixture vocabulary contains no ``#``, so the ``##`` prefix is
    unambiguous (asserted nowhere — a real deployment would escape it).

    Returns (merge_rank, left, right, merged, pair_count, left_count,
    right_count, score), score rounded 6 dp for display AFTER the
    argmax runs on the raw double."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = df.sparkSession

    wp_syms = F.transform(
        _chars(F.col("word")),
        lambda c, i: F.when(i == F.lit(0), c)
        .otherwise(F.concat(F.lit("##"), c)))
    # No fan-out: same bigram_lm_nll-class shape (see bpe_learn).
    vocab = (df.select(F.explode(ws_tokens(F.lower(F.col(text_col))))
                        .alias("word"))
               .filter(F.col("word") != "")
               .groupBy("word").agg(F.count("*").alias("cnt"))
               .withColumn("syms", wp_syms)
               .localCheckpoint())

    # Iteration-independent combined-grain explode, hoisted (r15 — see
    # bpe_learn: ~0.13 s of driver py4j construction per rebuild).
    body = F.slice(F.col("syms"), 1, F.size("syms") - 1)
    tail = F.slice(F.col("syms"), 2, F.size("syms") - 1)
    pair_structs = F.when(
        F.size("syms") >= 2,
        F.zip_with(body, tail,
                   lambda a, b: F.struct(a.alias("l"), b.alias("r")))
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    sym_structs = F.transform(
        F.col("syms"),
        lambda s: F.struct(s.alias("l"),
                           F.lit(None).cast("string").alias("r")))
    grain_explode = F.explode(
        F.concat(pair_structs, sym_structs)).alias("p")

    merges: list[tuple] = []
    with _loop_confs(vocab):
        for rank in range(1, n_merges + 1):
            # Per-iteration job fusion (r15, VERDICT r14 next-round #3 /
            # guide §2.4): the likelihood argmax needs pair counts AND
            # per-symbol counts, and the old form paid THREE vocab-wide
            # aggregation jobs per iteration for them — the pair agg plus
            # one broadcast-build per sym_counts reference (each build
            # re-executed the whole symbol explode+agg). One combined
            # explode now emits both grains — struct(l, r) pair rows and
            # struct(sym, NULL) symbol rows (syms are never NULL, so the
            # NULL tag is unambiguous) — into ONE aggregation over the
            # vocab, lazily localCheckpointed so the scoring job
            # materializes it; the argmax's two broadcast joins then read
            # the checkpointed model-sized relation instead of re-running
            # vocab passes. Counts, score arithmetic (one IEEE divide of
            # one IEEE product), and the (score desc, l, r) argmax are
            # unchanged — the merge table is byte-identical (pinned by
            # tests/test_wordpiece_bpe_ppjoin_exact.py against the unfused
            # form).
            counts = (vocab.select("cnt", grain_explode)
                      .groupBy("p.l", "p.r")
                      .agg(F.sum("cnt").alias("c"))
                      .localCheckpoint(eager=False))
            sym_counts = (counts.filter(F.col("r").isNull())
                          .select(F.col("l").alias("sym"),
                                  F.col("c").alias("sc")))
            pairs = (counts.filter(F.col("r").isNotNull())
                     .select("l", "r", F.col("c").alias("pc"))
                     .filter(F.col("pc") >= min_pair_count))
            scored = (pairs
                      .join(F.broadcast(
                          sym_counts.withColumnRenamed("sym", "l")
                                    .withColumnRenamed("sc", "lc")), "l")
                      .join(F.broadcast(
                          sym_counts.withColumnRenamed("sym", "r")
                                    .withColumnRenamed("sc", "rc")), "r")
                      .withColumn("score",
                                  F.col("pc").cast("double")
                                  / (F.col("lc").cast("double")
                                     * F.col("rc").cast("double")))
                      .orderBy(F.desc("score"), "l", "r")
                      .limit(1)
                      .collect())
            if not scored:
                break
            row = scored[0]
            left, right = row["l"], row["r"]
            merged = left + (right[2:] if right.startswith("##") else right)
            merges.append((rank, left, right, merged, int(row["pc"]),
                           int(row["lc"]), int(row["rc"]),
                           round(row["score"], 6)))
            # Lazy checkpoint: the NEXT iteration's counts job (or the
            # caller's first action) materializes the fold — the
            # dedicated per-iteration fold job is gone (r15; lineage
            # still cut one iteration deep once materialized).
            vocab = (vocab.withColumn(
                        "syms", _merge_fold(F.col("syms"), left, right,
                                            fused_sym=merged))
                     .localCheckpoint(eager=False))

    schema = ("merge_rank int, left string, right string, merged string, "
              "pair_count bigint, left_count bigint, right_count bigint, "
              "score double")
    return local_frame(spark, merges, schema)


def wordpiece_learn_sql(n_merges: int = 16, min_pair_count: int = 2,
                        table: str = "documents",
                        text_col: str = "text") -> str:
    """DuckDB-SQL twin of :func:`wordpiece_learn` — the same static
    unrolled CTE chain as :func:`bpe_learn_sql` plus, per iteration, a
    weighted symbol-count CTE and the likelihood-score argmax. The
    score is the identical IEEE divide-of-product, so the winner (and
    every downstream state) matches exactly; the merged symbol strips
    the right side's ``##`` via ``replace`` (the prefix is the only
    place ``##`` can occur — see :func:`wordpiece_learn`)."""
    merged_expr = "w.l || replace(w.r, '##', '')"
    ctes = [f"""state0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             list_transform(range(1, len(cs) + 1),
               i -> CASE WHEN i = 1 THEN cs[i]
                         ELSE '##' || cs[i] END) AS syms
      FROM (SELECT word, string_split(word, '') AS cs FROM
              (SELECT unnest(string_split_regex(lower({text_col}),
                                                '\\s+')) AS word
               FROM {table})
            WHERE word <> '')
      GROUP BY word, cs)"""]
    winners = []
    for k in range(1, n_merges + 1):
        sy, p, s_in, s_out, w = (f"syms{k}", f"pairs{k}", f"state{k-1}",
                                 f"state{k}", f"win{k}")
        ctes.append(f"""{sy} AS MATERIALIZED (
      SELECT t.s AS sym, CAST(sum(cnt) AS BIGINT) AS sc
      FROM {s_in}, unnest(syms) AS t(s) GROUP BY 1)""")
        ctes.append(f"""{p} AS MATERIALIZED (
      SELECT syms[t.i] AS l, syms[t.i+1] AS r,
             CAST(sum(cnt) AS BIGINT) AS pc
      FROM {s_in}, unnest(range(1, len(syms))) AS t(i)
      GROUP BY 1, 2 HAVING sum(cnt) >= {min_pair_count})""")
        ctes.append(f"""{w} AS MATERIALIZED (
      SELECT l, r, pc, sl.sc AS lc, sr.sc AS rc,
             CAST(pc AS DOUBLE) / (CAST(sl.sc AS DOUBLE)
                                   * CAST(sr.sc AS DOUBLE)) AS score
      FROM {p} JOIN {sy} sl ON l = sl.sym JOIN {sy} sr ON r = sr.sym
      ORDER BY score DESC, l, r LIMIT 1)""")
        ctes.append(f"""{s_out} AS MATERIALIZED (
      SELECT s.word, s.cnt,
             CASE WHEN w.l IS NULL OR len(s.syms) < 2 THEN s.syms
                  ELSE string_split(trim(replace(
                         array_to_string(list_transform(
                           s.syms, x -> ' ' || x || ' '), ''),
                         ' ' || w.l || '  ' || w.r || ' ',
                         ' ' || {merged_expr} || ' ')), '  ')
             END AS syms
      FROM {s_in} s LEFT JOIN {w} w ON TRUE)""")
        winners.append(
            f'SELECT {k} AS merge_rank, l AS "left", r AS "right", '
            f"{merged_expr.replace('w.', '')} AS merged, "
            f"pc AS pair_count, lc AS left_count, rc AS right_count, "
            f"round(score, 6) AS score FROM {w} w")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + " UNION ALL ".join(winners) + " ORDER BY merge_rank")
