"""Hybrid retrieval: reciprocal-rank fusion of a lexical (BM25) and a
vector (cosine-ANN) ranking — the standard RAG/search-stack pattern
(Cormack, Clarke & Büttcher 2009: RRF outperforms individual rankers
and learned fusion on TREC runs; every public hybrid-search engine
ships exactly this formula).

``rrf(d) = Σ_r 1/(rrf_k + rank_r(d))`` over the rankers that retrieved
``d`` — rank-based, so the two scorers' incomparable score scales never
need calibration.

Scale shape: each side reduces the corpus to its top-``per_side``
candidates with a distributed TakeOrderedAndProject (orderBy + limit —
partial top-k per partition, merge at the driver-sized result), and
only those ≤ per_side rows see a global row_number window — the
SinglePartition exchange carries a bounded retrieval working set, never
the corpus (reviewed allowlist entry in tests/test_plans.py). The
fused join is per_side × per_side at most.

Cross-engine exactness: both ranks order on integer micro-unit scores
with id tie-breaks (total order), and the fused score is a sum of two
exact-operand divisions, quantized to micro-units
(multiply-then-round, FIXTURES.md).

Reference parity: no retrieval surface exists in the reference; this
is part of the similarity-search extension family (SURVEY.md §2.4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chronobase_spark.functions import similarity, text


def rrf_hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Fuse BM25(query_terms) and cosine(probe ``vec_id = 0``) rankings.

    Returns the top-``k`` fused documents as
    (doc_id, r_lex, r_vec, rrf_micro): the per-side ranks (NULL when a
    side did not retrieve the doc) and the RRF score in micro-units.
    Embeddings join documents 1:1 on ``vec_id = doc_id``.
    """
    # Lexical side: total BM25 over the query terms (integer micro sum),
    # distributed top-k, then rank the bounded candidate set.
    lex = (
        text.bm25_scores(docs)
        .filter(F.col("term").isin(*query_terms))
        .groupBy("doc_id")
        .agg(F.sum("score_micro").alias("lex_micro"))
        .orderBy(F.col("lex_micro").desc(), F.col("doc_id"))
        .limit(50)
    )
    lex_ranked = lex.select(
        F.col("doc_id").alias("lex_doc"),
        F.row_number()
        .over(Window.orderBy(F.col("lex_micro").desc(), F.col("doc_id")))
        .alias("r_lex"),
    )

    # Vector side: exact cosine to the single probe vector (1-row
    # broadcast — the corpus streams through map-side), quantized to
    # micro-units before ranking, same bounded top-k + rank.
    # probe norm computed once on the 1-row side (r17; cosine()'s
    # join-path note): cosine() re-folded the probe's 64-dim norm per
    # corpus row for the same bit-identical double.
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("probe_vec"),
        similarity.norm(F.col("embedding")).alias("probe_nrm"),
    )
    cos_micro = F.round(
        similarity.cosine_pre(
            F.col("embedding"),
            F.col("probe_vec"),
            similarity.norm(F.col("embedding")),
            F.col("probe_nrm"),
        )
        * F.lit(1000000.0),
        0,
    ).cast("bigint")
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(F.col("vec_id"), cos_micro.alias("cos_micro"))
        .orderBy(F.col("cos_micro").desc(), F.col("vec_id"))
        .limit(50)
    )
    vec_ranked = vec.select(
        F.col("vec_id").alias("vec_doc"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_micro").desc(), F.col("vec_id")))
        .alias("r_vec"),
    )

    fused = lex_ranked.join(
        vec_ranked, F.col("lex_doc") == F.col("vec_doc"), "full_outer"
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("r_lex")).cast("double"), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("r_vec")).cast("double"), F.lit(0.0)
    )
    doc = F.coalesce(F.col("lex_doc"), F.col("vec_doc"))
    return (
        fused.select(
            doc.alias("doc_id"),
            # bigint: Spark row_number is INT, the oracle engine's BIGINT
            F.col("r_lex").cast("bigint").alias("r_lex"),
            F.col("r_vec").cast("bigint").alias("r_vec"),
            F.round(rrf * F.lit(1000000.0), 0).cast("bigint").alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
        .limit(k)
    )
