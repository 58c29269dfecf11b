"""Byte-pair-encoding merge training (Sennrich, Haddow & Birch, ACL
2016) as an iterative DataFrame algorithm.

The reference engine has no tokenizer training at all (SURVEY.md §2 —
it is a storage/scan engine); this extends the LLM-pipeline family:
``doc_bpe_token_count`` (queries.py) COUNTS tokens with a fixed
pattern, this module TRAINS the merge table itself.

Design for 100 TB:

- Training never iterates over the corpus. The corpus collapses once
  into a word-frequency table (one groupBy — Heaps'-law-bounded vocab,
  orders of magnitude smaller than the corpus) and every merge round
  runs on that vocab table only.
- Each round is one partial-agged pair-count shuffle (vocab-sized) plus
  a 1-row global argmax; only that scalar argmax row is collected to
  the driver (the dedup/cluster.py convergence-scalar pattern — the
  data itself never moves). The merge is then applied map-side with the
  pair as a LITERAL, so lineage stays linear in the round count instead
  of doubling per round.
- The symbol sequence is encoded as ``|s1||s2||s3|`` — every symbol
  wrapped in single ``|`` guards, ``||`` between symbols. A merge of
  pair (a, b) is then a plain leftmost non-overlapping string
  ``replace('|a||b|' -> '|ab|')``, which (a) cannot match across symbol
  boundaries (a mid-symbol match would need the guard byte inside a
  symbol, and ``|`` is outside the token alphabet) and (b) has
  IDENTICAL greedy left-to-right semantics in Spark and DuckDB — which
  is what makes an exact chained-CTE SQL oracle possible for an
  iterative algorithm.

Tie-break contract (pinned in tests/test_dedup.py's BPE pin): highest
pair count, then lexicographically smallest (left, right) pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_PATTERN = "[a-z]+"

MERGES_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.IntegerType(), False),
        T.StructField("left_sym", T.StringType(), False),
        T.StructField("right_sym", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def encoded_word_freqs(docs: DataFrame) -> DataFrame:
    """Corpus -> (w, ws, freq): lowercase ``[a-z]+`` word runs, counted,
    each word encoded as its ``|c1||c2||...|`` character sequence. This
    is the ONE corpus-wide pass; everything after runs on the vocab."""
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc = F.concat(F.lit("|"), F.array_join(F.split("w", ""), "||"), F.lit("|"))
    return words.select("w", enc.alias("ws"), "freq")


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the encoded vocab: (a, b, cnt).
    Counts EVERY adjacent occurrence (Sennrich's get_stats), weighted
    by word frequency — one partial-agged shuffle on the pair key."""
    syms = F.split(F.expr("btrim(ws, '|')"), r"\|\|")
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(syms[i-1] AS a, syms[i] AS b))"
    )
    return (
        words.select(syms.alias("syms"), "freq")
        .filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("cnt"))
    )


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """One greedy left-to-right merge pass, map-side, pair as literal;
    preserves every other column (w, freq)."""
    return words.withColumn(
        "ws",
        F.replace(
            F.col("ws"),
            F.lit(f"|{left}||{right}|"),
            F.lit(f"|{left}{right}|"),
        ),
    )


def _train(
    base: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The merge loop: per round one vocab-sized pair-count shuffle and
    ONE collected argmax row; the merge applies as a literal, keeping
    lineage linear. Caller persists ``base``. Returns (merges, vocab):
    the fully-merged vocab DataFrame the loop necessarily built —
    callers applying the tokenizer use IT instead of re-deriving the
    merge chain (one definition of "the trained vocab"; r7 review)."""
    merges: list[tuple[int, str, str, int]] = []
    cur = base
    for rank in range(1, n_merges + 1):
        best = (
            pair_counts(cur)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        cur = apply_merge(cur, a, b)
    return merges, cur


def bpe_merges(spark: SparkSession, docs: DataFrame, n_merges: int = 12) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns the merges table
    (merge_rank, left_sym, right_sym, pair_count). Stops early if the
    vocab runs out of pairs."""
    base = encoded_word_freqs(docs).persist()
    try:
        merges, _vocab = _train(base, n_merges)
    finally:
        base.unpersist()
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def doc_trained_token_counts(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = 12,
) -> DataFrame:
    """Tokenizer APPLICATION: per-document token count under the
    freshly trained ``n_merges``-rule BPE — the number a sequence
    packer or context-length budget actually needs.

    The segmentation of a word depends only on the word, so the corpus
    is never re-segmented: the trained vocab table itself carries each
    word's final symbol count, and per-doc counts are one
    explode + vocab join (shuffle_hash — the vocab grows with the
    corpus, never broadcast) + one partial-agged sum. Documents with
    zero alphabetic words drop out on both engines (explode semantics).
    """
    base = encoded_word_freqs(docs).persist()
    try:
        _merges, cur = _train(base, n_merges)
        n_syms = F.size(F.split(F.expr("btrim(ws, '|')"), r"\|\|"))
        vocab = cur.select("w", n_syms.alias("n_syms"))
        toks = docs.select(
            F.col("doc_id"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)
                )
            ).alias("w"),
        )
        return (
            toks.join(vocab.hint("shuffle_hash"), "w")
            .groupBy("doc_id")
            .agg(F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"))
        )
    finally:
        base.unpersist()


def bpe_merges_oracle_sql(n_merges: int = 12) -> str:
    """The DuckDB twin: the same algorithm unrolled into ``n_merges``
    chained CTE stages (pair-count -> 1-row argmax -> literal replace).
    Possible only because the ``|``-guard encoding makes each round one
    deterministic string replace — no recursion, no procedural SQL.

    Every stage is ``AS MATERIALIZED``: DuckDB inlines plain CTEs, and
    each ``words{{i}}`` is referenced twice (next round's pair counts +
    next round's replace), so inlining doubles the plan per round —
    2^n copies of the base scan by round n (measured: 367 s at sf0.001
    for n=12; materialized: sub-second)."""
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS merge_rank, a AS left_sym,"
        f" b AS right_sym, cnt AS pair_count FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_cte_chain(n_merges) + "\n" + unions


def _bpe_cte_chain(n_merges: int) -> str:
    """The shared WITH-chain: words0 .. words{n} plus per-round pair
    counts and argmax, each stage materialized."""
    parts = [
        f"""WITH words0 AS MATERIALIZED (
  SELECT w, '|' || array_to_string(string_split(w, ''), '||') || '|' AS ws,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS w
        FROM documents)
  GROUP BY 1
)"""
    ]
    for i in range(1, n_merges + 1):
        prev = i - 1
        parts.append(
            f""", pc{i} AS MATERIALIZED (
  SELECT p[1] AS a, p[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_zip(syms[:len(syms)-1], syms[2:])) AS p, freq
    FROM (SELECT string_split(trim(ws, '|'), '||') AS syms, freq
          FROM words{prev})
    WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), best{i} AS MATERIALIZED (
  SELECT a, b, cnt FROM pc{i} ORDER BY cnt DESC, a, b LIMIT 1
), words{i} AS MATERIALIZED (
  SELECT w,
         CASE WHEN a IS NULL THEN ws
              ELSE replace(ws, '|' || a || '||' || b || '|',
                               '|' || a || b || '|') END AS ws,
         freq
  FROM words{prev} LEFT JOIN best{i} ON TRUE
)"""
        )
    return "".join(parts)


def doc_token_counts_oracle_sql(n_merges: int = 12) -> str:
    """DuckDB twin of doc_trained_token_counts: the same training chain,
    then per-word final symbol counts joined back to the exploded
    corpus."""
    return (
        _bpe_cte_chain(n_merges)
        + f"""
, vocab AS MATERIALIZED (
  SELECT w, len(string_split(trim(ws, '|'), '||')) AS n_syms
  FROM words{n_merges}
), toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text),
                                             '{TOKEN_PATTERN}')) AS w
  FROM documents
)
SELECT toks.doc_id, CAST(SUM(vocab.n_syms) AS BIGINT) AS n_bpe_tokens
FROM toks JOIN vocab ON toks.w = vocab.w
GROUP BY toks.doc_id"""
    )


def lang_fertility(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = 12,
) -> DataFrame:
    """Tokenizer FERTILITY per language — mean subword tokens per word
    under the freshly trained BPE: the standard multilingual-fairness
    metric (a language the merges under-serve pays more context budget
    per word, cf. the SentencePiece/XLM-R fertility tables).

    Same shape as doc_trained_token_counts (train on the aggregate,
    join the vocab's per-word symbol count back to one exploded corpus
    pass, shuffle_hash — vocab grows with the corpus, never broadcast);
    the groupBy key is the language, so the output is |langs| rows.
    Fertility is ONE unrounded division of exact integer operands
    (token and word totals are far inside 2^53), identical on both
    engines.
    """
    base = encoded_word_freqs(docs).persist()
    try:
        _merges, cur = _train(base, n_merges)
        n_syms = F.size(F.split(F.expr("btrim(ws, '|')"), r"\|\|"))
        vocab = cur.select("w", n_syms.alias("n_syms"))
        toks = docs.select(
            F.col("lang"),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)
                )
            ).alias("w"),
        )
        agg = (
            toks.join(vocab.hint("shuffle_hash"), "w")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_words"),
                F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            )
        )
        return agg.select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            (
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    finally:
        base.unpersist()


def lang_fertility_oracle_sql(n_merges: int = 12) -> str:
    """DuckDB twin of lang_fertility: the same training chain, per-word
    symbol counts joined to the exploded corpus, grouped by language."""
    return (
        _bpe_cte_chain(n_merges)
        + f"""
, vocab AS MATERIALIZED (
  SELECT w, len(string_split(trim(ws, '|'), '||')) AS n_syms
  FROM words{n_merges}
), toks AS (
  SELECT lang, unnest(regexp_extract_all(lower(text),
                                                       '{TOKEN_PATTERN}')) AS w
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(vocab.n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(vocab.n_syms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS fertility
FROM toks JOIN vocab ON toks.w = vocab.w
GROUP BY lang"""
    )
