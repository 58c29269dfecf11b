"""Streaming document intake — the LLM-pipeline operators (SURVEY §2.4)
on the streaming surface.

A training corpus is not a one-shot batch: crawls and feeds arrive
continuously. This module runs the same quality gates and content dedup
the batch queries implement (``quality_filter_funnel``,
``dedup_normalized``) as a Structured Streaming stage:

* **quality gating is stateless** — token/repetition/stopword signals
  are pure codegen expressions per document, so the stream stays fully
  pipelined (no state store, no shuffle);
* **exact dedup keys on a content fingerprint with bounded state** —
  ``dropDuplicatesWithinWatermark`` on the xxhash64 of the normalized
  text: the state store holds 8-byte digests (never document bodies —
  the 100 TB concern), and fingerprints older than the watermark are
  evicted, so state is bounded by arrival rate × horizon.

The reference's streaming analog is its insert path's TTL-at-arrival
gate (reference internal/storage/table.go:93-96) — this extends the
same admit-or-drop shape to content-quality admission.

**Which batch operators get a per-document streaming twin and which
do not.** The stages here (quality gates, PII scrub, span/template
hashes, LM scoring) are per-document: each row's output depends only
on that row plus a FROZEN model broadcast at stream build time
(lm_score_stage / kn_score_stage pin their back-off ladders on exactly
that contract). Operators whose OUTPUT is a corpus-level marginal —
``benford_first_digit`` (the expected-vs-observed digit distribution
over all values) and ``source_unigram_kl`` (each source's drift from
the corpus-wide unigram mixture, which every other source moves) —
have no stateless per-row form: their streaming shape is a WINDOWED
AGGREGATION (watermark + window → partial-agged digit/token counts,
marginals finalized per window close), not a map stage. Don't "add
the missing map-only twin" for these: a per-row emission would have
to reference a marginal that is only defined once the window closes.
The same boundary holds for any future corpus-marginal score (e.g.,
IDF-weighted signals): freeze the marginal and broadcast it (the LM
pattern), or aggregate per window — never compute it per row.

**Admission members are one per MODALITY, not one per signature
family.** The stream-static dup-of-corpus stages (minhash_admit_stage
for text, phash_admit_stage for images, semantic_admit_stage for
embeddings) each answer "is this arrival a near-dup of the frozen
store" for one content modality. SimHash and winnowing are
alternative SIGNATURES over the same text stream minhash already
admits on — a simhash_admit_stage would re-answer the text question
with a different recall curve, not cover new content; their in-stream
role stays annotation (simhash_stage / winnow_stage), feeding batch
pipelines that prefer those signatures. Don't "complete" the family
by duplicating a modality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from chronobase_spark.dedup._bands import (
    CHUNK_KEYS,
    chunk_bands,
    chunk_hamming,
    jaccard_sizes,
)
from chronobase_spark.dedup.exact import normalize
from chronobase_spark.functions import packing, text
from chronobase_spark.streaming._fold import fold_by_key

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
        StructField("ingest_ts", TimestampType()),
    ]
)


def read_document_stream(
    spark: SparkSession, src_dir: str, max_files: int = 4
) -> DataFrame:
    """File-source document stream (parquet drops into ``src_dir``)."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def _watermarked(
    stream: DataFrame, watermark: str | None, window: str | None
) -> tuple[DataFrame, str]:
    """The composed-pipeline watermark contract, shared by every
    windowed admission stage: ``watermark=None`` means the UPSTREAM
    already defined one (Spark disallows redefining it between chained
    stateful operators) and requires an explicit ``window``; otherwise
    the stage defines its own and ``window`` defaults to it. Returns
    (marked stream, resolved window)."""
    if window is None:
        if watermark is None:
            raise ValueError(
                "watermark=None (upstream-defined) requires an explicit window"
            )
        window = watermark
    marked = (
        stream if watermark is None else stream.withWatermark("ingest_ts", watermark)
    )
    return marked, window


def _admission_verdict(
    cand: DataFrame, id_col: str, ok: Column, window: str
) -> DataFrame:
    """The near-dup admission verdict, one windowed aggregation per
    arrival: dup iff ANY candidate verifies (``ok``); canonical = the
    smallest matched ``cand`` id, NULL when none matched. Three scalars
    of state per in-flight arrival, watermark-evicted. Arrivals with no
    candidate row (NULL ``cand``) still get (false, NULL)."""
    agg = cand.groupBy(F.window("ingest_ts", window), id_col).agg(
        F.max(F.when(ok, 1).otherwise(0)).alias("_dup"),
        F.min(F.when(ok, F.col("cand"))).alias("canonical_id"),
    )
    return agg.select(
        "window",
        id_col,
        (F.col("_dup") == 1).alias("dup_of_corpus"),
        "canonical_id",
    )


def quality_gate(
    stream: DataFrame,
    text_col: str = "text",
    min_tokens: int = 25,
    max_stop_ratio: float = 0.12,
) -> DataFrame:
    """Admit documents passing the stateless quality rules (length floor
    + stopword ceiling — the per-row subset of the batch funnel; the
    most-frequent-token rule needs a per-doc token aggregate, which the
    bigram/array expressions compute per row without any stream state).
    """
    feats = text.token_features(F.col(text_col))
    return (
        stream.withColumn("_f", feats)
        .filter(
            (F.col("_f.n_tokens") >= min_tokens)
            & (F.col("_f.stop_ratio") <= max_stop_ratio)
        )
        .drop("_f")
    )


def content_dedup(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact dedup on the normalized-content fingerprint.
    State holds (fingerprint → seen) digests only, evicted past the
    watermark; a fingerprint collision (xxhash64, ~2^-64 per pair)
    drops one real document — acceptable for corpus intake, and the
    batch near-dup pass behind it is content-exact anyway."""
    return (
        stream.withColumn(
            "fingerprint", F.xxhash64(normalize(F.col(text_col)))
        )
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def document_intake(stream: DataFrame) -> DataFrame:
    """The composed intake stage: quality gate → content dedup. Gate
    first — rejected documents never enter the dedup state store."""
    return content_dedup(quality_gate(stream))


def signature_stage(
    stream: DataFrame,
    text_col: str = "text",
    num_perm: int = 128,
) -> DataFrame:
    """Per-row MinHash signatures computed IN the stream — so documents
    land in storage already carrying the signature column and the batch
    LSH banding (dedup.minhash.lsh_candidates) never re-tokenizes the
    corpus.

    Stateless by construction: lane i = min over the row's shingles of
    xxhash64(xxhash64(shingle), i), a pure higher-order-function fold
    per document — no explode, no groupBy, no state store, so the
    stream stays fully pipelined. This is the SAME value the batch
    formulation produces (dedup.minhash.minhash_signature: explode +
    num_perm min-agg lanes — exact-equality pinned in
    tests/test_streaming.py), just arranged for the streaming
    constraint. The batch engine keeps its explode+agg shape because
    HOF lambdas are interpreted, not codegen'd (measured 5-20× slower
    for a full-corpus pass, amortized fine per arriving row). Docs with
    no shingles get a NULL signature (they cannot near-duplicate
    anything).

    ``num_perm`` defaults to 128 — the SAME lane count as the batch
    ``minhash_signature`` — because ``lsh_candidates``' defaults
    (16 bands × 8 rows) slice 128 lanes: a shorter signature would make
    every band past the array's end hash an empty slice identically,
    collapsing the band join toward all-pairs (lsh_candidates now also
    rejects mismatched lane counts outright)."""
    from chronobase_spark.dedup.minhash import SHINGLE_N
    from chronobase_spark.dedup.ngram import shingles as _shingles

    sh = _shingles(F.col(text_col), SHINGLE_N)
    lanes = [
        F.array_min(
            F.transform(sh, lambda g: F.xxhash64(F.xxhash64(g), F.lit(i)))
        )
        for i in range(num_perm)
    ]
    return stream.withColumn(
        "minhash_sig",
        F.when(F.size(sh) > 0, F.array(*lanes)),
    )


def simhash_stage(stream: DataFrame) -> DataFrame:
    """Per-row SimHash computed IN the stream — the SimHash companion
    to ``signature_stage``, completing the in-stream signature family
    so near-dup detection can ride ingest instead of re-tokenizing the
    corpus in a separate batch pass.

    Stateless by construction: token hashes are a ``transform`` over
    the row's own token array, each of the 64 bit accumulators is a
    pure HOF fold (+1/−1 by the token's bit value), and the signature
    assembles sign bits into one BIGINT — no explode, no groupBy, no
    state store, so the stream stays fully pipelined. Integer sums are
    order-independent, so this is BIT-IDENTICAL to the batch
    explode+agg formulation (dedup.simhash.simhash — equality pinned in
    tests/test_streaming.py); the batch engine keeps its explode shape
    because HOF lambdas are interpreted, not codegen'd (see
    signature_stage). Docs with no tokens get a NULL signature,
    mirroring the batch groupBy which never sees them."""
    from chronobase_spark.dedup.simhash import BITS

    toks = text.tokens(F.col("text"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def _bit_sum(i: int):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    sig = F.lit(0).cast("long")
    for i in range(BITS):
        bit_sum = _bit_sum(i)
        # bit 63 is the sign bit of a 64-bit long: its set-value wraps
        # to long.min in two's complement (same literal as the batch).
        bit_val = (1 << i) if i < BITS - 1 else -(1 << (BITS - 1))
        sig = sig + F.when(bit_sum > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return stream.withColumn(
        "simhash", F.when(F.size(toks) > 0, sig)
    )


def winnow_stage(stream: DataFrame) -> DataFrame:
    """Per-row winnowing fingerprints computed IN the stream (Schleimer
    et al.'s MOSS selection, dedup/winnow.py) — the third member of the
    in-stream signature family. Stateless by construction: the
    selection is a pure per-row array expression (positional 4-gram md5
    hashes, min per 4-window, distinct), the IDENTICAL expression the
    batch operator uses — one definition, so batch/stream equality
    holds by construction and is still pinned in tests/test_streaming.
    Docs with no fingerprints (shorter than k+w-1 tokens) get NULL, the
    signature_stage convention."""
    from chronobase_spark.dedup.winnow import selected_fingerprints

    fps = selected_fingerprints(F.col("text"))
    return stream.withColumn("winnow_fps", F.when(F.size(fps) > 0, fps))


def lm_score_stage(
    stream: DataFrame,
    lm: DataFrame,
    left: DataFrame,
    v: int,
) -> DataFrame:
    """Score arriving documents under a FROZEN bigram language model
    trained in batch (functions/text.bigram_lm_model) — the streaming
    half of the LM-quality gate: the batch pipeline periodically
    retrains the LM over the accumulated corpus, and ingest scores each
    new document against that reference distribution as it lands
    (CCNet's shape: a fixed in-domain LM filtering a moving crawl).

    Mechanics: grams per row are the IDENTICAL pure expression the
    batch trainer uses (text.lm_grams — one definition, no drift), the
    LM lookup is a stream-STATIC left join on the gram key (stateless —
    no state store; the static side shuffles/broadcasts per
    micro-batch as Catalyst sizes it), and an UNSEEN gram backs off to
    the exact add-one probability for its context — ln(1/(c1(w1)+V))
    via a second stream-static left join on the model's left-context
    count table, with c1 = 0 (i.e. ln(1/V)) only when the context
    itself is unseen. A single scalar back-off ln(1/V) would
    OVERESTIMATE every unseen continuation of a common context by
    ln((c1+V)/V) — the r7 review finding this join closes. The per-doc
    integer sum is a windowed streaming aggregation: state is two
    BIGINTs per in-flight document, evicted once the watermark passes
    its ingest window — bounded by arrival rate × horizon, never by
    corpus size.

    Integer micro-nat terms make the drained result BIT-IDENTICAL to
    the batch ``bigram_lm_scores`` when scored against the same-corpus
    LM (order-free integer sums; pinned in tests/test_streaming.py,
    which also pins both unseen-gram back-off branches). Returns
    (window, doc_id, n_grams, logprob_micro); documents with fewer
    than two tokens produce no grams and no row, matching batch.
    """
    grams = stream.withWatermark("ingest_ts", "10 minutes").select(
        "doc_id",
        "ingest_ts",
        F.explode(text.lm_grams(F.col("text"))).alias("gram"),
    ).withColumn("w1", F.substring_index("gram", " ", 1))
    unseen = (
        F.round(
            F.log(
                F.lit(1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(float(v)))
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("bigint")
    )
    scored = (
        grams.join(lm, "gram", "left")
        .join(left, "w1", "left")
        .select(
            "doc_id",
            "ingest_ts",
            F.coalesce(F.col("term_micro"), unseen).alias("term_micro"),
        )
    )
    return (
        scored.groupBy(F.window("ingest_ts", "10 minutes"), "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("term_micro").alias("logprob_micro"),
        )
    )


def kn_score_stage(
    stream: DataFrame,
    lm: DataFrame,
    ctx: DataFrame,
    cont: DataFrame,
    n_types: int,
) -> DataFrame:
    """Score arriving documents under a FROZEN Kneser-Ney bigram model
    trained in batch (functions/text.kn_bigram_model) — the KN
    companion to ``lm_score_stage``, so the continuation-aware quality
    signal rides ingest exactly like the add-one one.

    Seen grams take the model's term_micro verbatim (the literal
    _kn_tables expression — drained scores on in-vocabulary text equal
    the batch ``kn_bigram_scores`` by construction). Unseen grams walk
    the explicit KN back-off ladder, each leg a stream-static LEFT
    join (stateless — no state store):

    * seen context w1, any w2:  λ(w1)·P_cont(w2)
      = (d·N1+(w1·)/c(w1·)) · N1+(·w2)/N_types  (the discounted mass
      w1 reserved for unseen continuations);
    * unseen context w1:        P_cont(w2)  (pure continuation prob);
    * w2 never seen as a continuation: N1+(·w2) falls back to 1 —
      the +1-type floor that keeps ln finite (uniform 1/N_types when
      both sides are novel).

    All legs micro-quantize through the same round(ln(p)·1e6) BIGINT
    the model table uses, so the per-doc windowed sum stays an
    order-free exact integer; state is two BIGINTs per in-flight
    document, watermark-evicted (the lm_score_stage bound). n_types is
    a frozen Python constant (model metadata, not a live aggregate).
    Returns (window, doc_id, n_grams, kn_logprob_micro); docs with
    fewer than two tokens produce no row, matching batch."""
    grams = (
        stream.withWatermark("ingest_ts", "10 minutes")
        .select(
            "doc_id",
            "ingest_ts",
            F.explode(text.lm_grams(F.col("text"))).alias("gram"),
        )
        .withColumn("w1", F.substring_index("gram", " ", 1))
        .withColumn("w2", F.substring_index("gram", " ", -1))
    )
    nt = F.lit(float(n_types))
    pcont = F.coalesce(F.col("ncont").cast("double"), F.lit(1.0)) / nt
    lam_p = (
        (F.lit(0.5) * F.col("n1").cast("double")) / F.col("c1").cast("double")
    ) * pcont
    backoff_micro = (
        F.round(F.log(F.coalesce(lam_p, pcont)) * F.lit(1000000.0), 0)
        .cast("bigint")
    )
    scored = (
        grams.join(lm, "gram", "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .select(
            "doc_id",
            "ingest_ts",
            F.coalesce(F.col("term_micro"), backoff_micro).alias("term_micro"),
        )
    )
    return scored.groupBy(F.window("ingest_ts", "10 minutes"), "doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("term_micro").alias("kn_logprob_micro"),
    )


def jm_score_stage(
    stream: DataFrame,
    lm: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    n_tokens: int,
) -> DataFrame:
    """Score arriving documents under a FROZEN Jelinek-Mercer trigram
    model trained in batch (functions/text.jm_trigram_model) — the
    trigram companion to ``lm_score_stage``/``kn_score_stage``.

    Seen trigrams take the model's term_micro verbatim (the literal
    _jm_tables expression — drained scores on in-vocabulary text equal
    the batch ``jm_trigram_scores`` by construction). Unseen trigrams
    drop the λ3 level (its ML count is 0) and keep the lower
    interpolation levels, each a stream-static LEFT join (stateless —
    no state store):

    * seen suffix bigram (w2 w3): λ2·c23/c2p + λ1·c3/N (w3 is
      necessarily seen when the bigram is);
    * unseen bigram, seen w3:     λ1·c3/N;
    * w3 never seen:              λ1·1/N — the +1-count floor that
      keeps ln finite (the kn_score_stage convention).

    All legs micro-quantize through the same round(ln(p)·1e6) BIGINT
    the model table uses, so the per-doc windowed sum stays an
    order-free exact integer; state is two BIGINTs per in-flight
    document, watermark-evicted. n_tokens is a frozen Python constant
    (model metadata, not a live aggregate). Returns (window, doc_id,
    n_grams, jm_logprob_micro); docs with fewer than three tokens
    produce no row, matching batch."""
    grams = (
        stream.withWatermark("ingest_ts", "10 minutes")
        .select(
            "doc_id",
            "ingest_ts",
            F.explode(text.lm_trigrams(F.col("text"))).alias("gram"),
        )
        .withColumn("b", F.substring_index("gram", " ", -2))
        .withColumn("w", F.substring_index("gram", " ", -1))
    )
    n = F.lit(float(n_tokens))
    p_bi = F.coalesce(
        (F.lit(text.JM_L2) * F.col("c23").cast("double"))
        / F.col("c2p").cast("double"),
        F.lit(0.0),
    )
    p_uni = (
        F.lit(text.JM_L1) * F.coalesce(F.col("c3").cast("double"), F.lit(1.0))
    ) / n
    backoff_micro = (
        F.round(F.log(p_bi + p_uni) * F.lit(1000000.0), 0).cast("bigint")
    )
    scored = (
        grams.join(lm, "gram", "left")
        .join(bi, "b", "left")
        .join(uni, "w", "left")
        .select(
            "doc_id",
            "ingest_ts",
            F.coalesce(F.col("term_micro"), backoff_micro).alias("term_micro"),
        )
    )
    return scored.groupBy(F.window("ingest_ts", "10 minutes"), "doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("term_micro").alias("jm_logprob_micro"),
    )


def pii_scrub_stage(stream: DataFrame) -> DataFrame:
    """PII scrubbing IN the stream — the in-stream twin of the batch
    ``pii_redact_docs`` pass (functions.text.redact_pii), so documents
    land in storage ALREADY scrubbed and audited instead of requiring
    a second corpus pass before training.

    Stateless by construction: span counting and the typed-placeholder
    replace are pure regexp expressions per document — no explode, no
    state store, the stream stays fully pipelined (the cheapest kind
    of streaming stage; at 100 TB ingest this is bandwidth-bound, not
    state-bound). Emits the SAME columns the batch scrub derives
    (n_emails, n_phones, redacted) next to the original text so the
    downstream audit aggregate (pii_source_stats shape) can run on
    either surface; drained-equal-to-batch pinned in
    tests/test_streaming.py. NULL text yields NULL counts/redaction,
    matching batch."""
    t = F.col("text")
    return stream.select(
        "*",
        text.email_count(t).cast("bigint").alias("n_emails"),
        text.phone_count(t).cast("bigint").alias("n_phones"),
        text.redact_pii(t).alias("redacted"),
    )


def span_stage(stream: DataFrame) -> DataFrame:
    """Span-hash emission IN the stream — the in-stream twin of the
    batch ExactSubstr candidate pass (queries.repeated_spans /
    span_dedup_assign / the span stage of pretrain_pipeline_report),
    completing the stream-side counterpart set for every stage the
    composed pre-training pipeline runs (exact dedup: content_dedup;
    semantic: signature_stage family; quality: quality_gate; PII:
    pii_scrub_stage; span: here).

    Stateless by construction: the md5 window fingerprints are a pure
    per-row expression (functions.text.span_hashes — the LITERAL same
    expression the batch queries compile, so drained output is equal by
    construction, pinned in tests/test_streaming.py). Documents land in
    storage already carrying their span fingerprints; the global
    ≥2-docs aggregate (repeated_spans shape) runs downstream on either
    surface. No explode in-stream — the array column keeps the stage
    map-only and one-row-per-doc (token-linear bytes, the 100 TB
    concern is bandwidth, not state). Docs shorter than the window —
    and NULL text — carry an empty array: they cannot share a span."""
    toks = text.tokens(F.col("text"))
    return stream.withColumn("_toks", toks).withColumn(
        "span_hashes", text.span_hashes("_toks")
    ).drop("_toks")


def cdc_stage(stream: DataFrame) -> DataFrame:
    """Content-defined chunk fingerprints IN the stream — the in-stream
    twin of the batch CDC dedup pass (dedup.cdc / queries
    cdc_chunk_dedup), so each arriving document lands in storage
    already carrying the chunk-store keys a snapshot-to-snapshot dedup
    needs; the global per-source accounting (cdc_chunk_dedup shape)
    runs downstream on either surface.

    Stateless by construction: the chunker is the LITERAL batch
    expression (dedup.cdc.chunk_hashes — two Generate barriers plus
    higher-order column math, no state store, no watermark), so
    drained output is equal to batch by construction (pinned in
    tests/test_streaming.py). One row per document — the md5 array is
    ~len/64 × 32 bytes, so the stage is bandwidth-bound, never
    state-bound (the 100 TB concern). Empty and NULL text carry an
    EMPTY array (they have no chunkable content), matching batch."""
    from chronobase_spark.dedup import cdc

    return cdc.chunk_hashes(stream)


def template_stage(stream: DataFrame) -> DataFrame:
    """Boilerplate/template end-hashes IN the stream — the in-stream
    twin of the batch ``boilerplate_templates`` pass: each arriving
    document lands in storage already carrying the md5 of its first and
    last TEMPLATE_WIDTH tokens, so the global template-group aggregate
    (the boilerplate_templates shape) runs downstream on either surface
    without re-tokenizing the corpus.

    Stateless by construction: the end-hash struct is the LITERAL
    shared expression the batch query compiles
    (functions/text.template_end_hashes — one definition, so drained
    output equals batch by construction; pinned in
    tests/test_streaming.py). No explode, no state store — the stream
    stays fully pipelined, two fixed-width md5s per document. Emitted
    as ONE struct column: flattening via getField would inline the
    tokenization once per field (Catalyst does not CSE across
    projections — FIXTURES.md lambda-inlining note). Docs shorter than
    the template width — and NULL text — carry NULL hashes: they
    cannot hold a full template span, matching the batch size gate."""
    return stream.withColumn(
        "template_ends", text.template_end_hashes(F.col("text"))
    )


def datacard_stage(stream: DataFrame) -> DataFrame:
    """Per-document datacard signals IN the stream — the in-stream twin
    of the batch ``corpus_datacard`` signal pass: arriving documents
    land carrying content hash, token count, distinct-token mass and
    stopword mass, so the (source, lang) datasheet aggregate runs
    downstream on either surface as a plain partial-agged groupBy over
    pre-computed signals.

    Stateless by construction: the signal struct is the LITERAL shared
    expression the batch query compiles (functions/text.datacard_signals
    — one definition, drained-equal by construction, pinned in
    tests/test_streaming.py). Map-only, no state store. Emitted as ONE
    struct column — flattening via getField would inline the
    tokenization once per field (Catalyst does not CSE across
    projections — FIXTURES.md lambda-inlining note). NULL text yields
    NULL signals, matching the batch NULL filter which counts nothing
    for such rows."""
    return stream.withColumn("datacard", text.datacard_signals(F.col("text")))


def wav_stage(stream: DataFrame) -> DataFrame:
    """Audio feature extraction IN the stream — the in-stream twin of
    the batch multimodal_wav_features pass: arriving documents are
    wrapped as spec-valid WAV payloads and decoded (RIFF walk + numpy
    stats) before landing, so storage carries waveform features next
    to the raw payload rather than requiring a second media pass.

    Stateless by construction: payload synthesis is pure column
    algebra and the decoder is a partition-preserving mapInPandas —
    Structured Streaming runs both per micro-batch with no state
    store, no watermark; drained output equals batch by construction
    (pinned in tests/test_streaming.py). Payload bytes stay on the
    executor that built them; only fixed-width feature rows flow on
    (the 100 TB media concern is bandwidth, never state)."""
    from chronobase_spark.functions import multimodal

    return multimodal.decode_wav(multimodal.to_wav_payload(stream))


def phash_stage(stream: DataFrame) -> DataFrame:
    """Per-row perceptual-hash chunks computed IN the stream — the
    multimodal member of the in-stream signature family (MinHash /
    SimHash / winnowing / template hashes), so image payloads land in
    storage already carrying the dHash the batch chunk-LSH banding
    (dedup.phash.phash_near_pairs) buckets on, and admission-time
    image dedup never re-decodes the stored corpus.

    Stateless by construction: the PPM payload is built per row by the
    SAME pure column expression the batch path uses
    (multimodal.ppm_payload_col) and decoded/hashed by the SAME real
    parser + integer pooling (multimodal.dhash_annotate, the
    carry-all-columns twin of dhash_chunks) — one definition, so
    batch/stream chunk equality holds by construction and is still
    pinned in tests/test_streaming. No explode, no join, no state
    store; mapInPandas on an unaggregated stream is a stateless
    projection, so the stream stays fully pipelined. Rows under the
    thumbnail gate (dedup.phash.MIN_PAYLOAD_BYTES) get NULL chunks —
    exactly the rows the batch pair finder excludes."""
    from chronobase_spark.dedup.phash import MIN_PAYLOAD_BYTES
    from chronobase_spark.functions import multimodal

    eligible = F.col("text").isNotNull() & (
        F.length(F.encode("text", "UTF-8")) >= MIN_PAYLOAD_BYTES
    )
    with_payload = stream.withColumn(
        "_payload",
        F.when(eligible, multimodal.ppm_payload_col(F.col("text"))),
    )
    return multimodal.dhash_annotate(with_payload)


def minhash_admit_stage(
    stream: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    text_col: str = "text",
    watermark: str | None = "10 minutes",
    window: str | None = None,
) -> DataFrame:
    """Is this ARRIVING document a near-dup of the FROZEN corpus? —
    the intake member of the near-dup family (the incremental
    crawl-ingest question every snapshot ingest asks). The in-stream
    signature stages (signature/simhash/winnow/phash) only ANNOTATE
    arriving rows; ``content_dedup`` is exact-fingerprint only. This
    stage answers admission against stored content: the
    ``dsir_admit_stage`` frozen-model shape applied to
    ``minhash_md5_pairs``' banding.

    Mechanics: the arriving doc's 16 md5-MinHash lanes are a pure
    per-row HOF fold over its shingle array (dedup.minhash.md5_lane —
    the LITERAL batch lane hash, arranged per-row exactly like
    signature_stage's xxhash64 fold; the shingle array is let-bound via
    a single-element transform so tokenization runs once per row, not
    once per lane). Band keys assemble through the SHARED
    dedup.minhash.md5_band_key layout and LEFT-join stream-static
    against the frozen (doc, band_id, band_val) table from
    minhash_band_model — stateless, no state store; a second
    stream-static LEFT join fetches the matched corpus doc's shingle
    array and the exact-Jaccard verify is the batch query's integer
    cross-multiplication (LSH recall only tunes candidates; the OUTPUT
    is exact). The per-doc verdict is a windowed streaming aggregation
    (dup iff ANY verified candidate; canonical = min matched corpus
    id): three scalars of state per in-flight doc, watermark-evicted.

    Drained output over a fresh×frozen split equals the batch
    ``minhash_md5_pairs`` pair list restricted to (new, old) pairs
    (pinned in tests/test_streaming.py). Docs with no shingles — and
    docs whose bands match nothing — aggregate to dup_of_corpus=false
    with NULL canonical (explode_outer keeps them; admission needs a
    verdict for EVERY arrival, unlike the batch pair list). A re-ingest
    carrying an id already in the corpus verifies against its own
    stored content and reports dup (the crawl re-fetch case).

    State/scale: the static sides are |corpus| band rows and |corpus|
    shingle arrays — persisted once by minhash_band_model and re-read
    per micro-batch, which is the honest cost of stream-static against
    a corpus-sized model: Catalyst broadcasts the static side only
    while it fits, otherwise both sides shuffle per trigger, so the
    levers at 100 TB are (1) the frozen store is DEDUPED — each
    arrival matches ~1 stored canonical, not a clique (the probe
    measures both shapes: SCALING.md r14 intake rows minhash vs
    minhash_dd), (2) amortize per-trigger costs with larger triggers
    (maxFilesPerTrigger) — measured r15: ~10× drain wall from batching
    32 triggers into 1 at a fixed ~1.7 s/trigger (SCALING.md
    trigger-amortization table; same verdicts at every trigger size),
    (3) pre-bucket the model on the exact join
    keys on disk (dedup.minhash.minhash_band_model_bucketed) so the
    static side's scan already satisfies the join's distribution and
    the per-trigger store EXCHANGE disappears — measured r15
    (SCALING.md): identical verdicts, drain ~13% faster than the
    persisted model at every store size 1×/16×/64×, and it is the
    only form that works when the store outgrows executor memory.
    Per-band fan-out is bounded by the band-bucket distribution the
    batch pair finder already relies on (hot buckets probed
    adversarially in SCALING.md). ``watermark=None`` means the
    UPSTREAM already defined one (e.g. this stage composed after
    content_dedup in one query graph): Spark disallows redefining the
    watermark between chained stateful operators, so a composed
    pipeline sets it once at the first stateful stage and passes None
    (with an explicit ``window``) here — pinned in
    tests/test_streaming.py's composed-intake test."""
    from chronobase_spark.dedup.minhash import (
        BANDS,
        ROWS_PER_BAND,
        SHINGLE_N,
        md5_band_key,
        md5_lane,
    )
    from chronobase_spark.dedup.ngram import shingles as _shingles

    def _lane_fold(i: int):
        # one-arg lambda REQUIRED: F.transform passes the array INDEX
        # to a second parameter (even one with a default), which would
        # silently shadow the lane constant — measured wrong band keys
        return lambda g: md5_lane(g, i)

    def _bands_of(s):
        lanes = [
            F.array_min(F.transform(s, _lane_fold(i)))
            for i in range(BANDS * ROWS_PER_BAND)
        ]
        return md5_band_key(lanes)

    sh = _shingles(F.col(text_col), SHINGLE_N)
    marked, window = _watermarked(stream, watermark, window)
    prepped = marked.select("doc_id", "ingest_ts", sh.alias("_sh"))
    banded = prepped.select(
        "doc_id",
        "ingest_ts",
        "_sh",
        F.explode_outer(
            F.when(F.size("_sh") > 0, _bands_of(F.col("_sh")))
        ).alias("b"),
    ).select("doc_id", "ingest_ts", "_sh", "b.band_id", "b.band_val")
    cand = banded.join(
        corpus_bands.select(
            F.col("doc").alias("cand"), "band_id", "band_val"
        ),
        ["band_id", "band_val"],
        "left",
    ).join(
        corpus_shingles.select(F.col("doc").alias("cand"), F.col("sh").alias("sh_c")),
        "cand",
        "left",
    )
    # NULL sh_c (no candidate) propagates NULL; the cand guard gates it
    common, union = jaccard_sizes("_sh", "sh_c")
    ok = F.col("cand").isNotNull() & (common * 1_000_000 >= F.lit(500_000) * union)
    return _admission_verdict(cand, "doc_id", ok, window)


EMB_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
        StructField("ingest_ts", TimestampType()),
    ]
)


def read_embedding_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source embedding stream (parquet drops into ``src_dir``) —
    the vector-side arrival feed next to read_document_stream."""
    return (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )


def semantic_admit_stage(
    stream: DataFrame,
    corpus_cells: DataFrame,
    num_planes: int = 8,
    min_cosine: float = 0.9,
) -> DataFrame:
    """Is this ARRIVING embedding semantically near a FROZEN stored
    one? — the embedding-space member of the admission family,
    completing the trio alongside the text (minhash_admit_stage) and
    image (phash_admit_stage) members: every modality with a batch
    near-dup pair finder now has an intake verdict.

    Mechanics: the arriving vector's LSH cell is a pure per-row
    hyperplane-sign fold under the SAME literal planes the batch
    finder buckets on (dedup.embedding.lsh_signature — one quantizer
    definition); the cell LEFT-joins stream-static against the frozen
    (vid, vec, cell) table from semantic_cell_model (stateless, no
    state store) and the verify is the batch query's exact rounded
    cosine ≥ min_cosine. The per-doc verdict is a windowed streaming
    aggregation (dup iff ANY verified neighbor, canonical = min
    matched stored vid; three scalars of state per in-flight vector,
    watermark-evicted).

    Drained output over a fresh×frozen split equals the batch
    ``bucketed_near_pairs`` list (same planes/threshold) restricted to
    (new, old) pairs — pinned in tests/test_streaming.py. NULL
    arriving embeddings fold to cell 0 but every cosine against stored
    vectors is NULL, so they report dup_of_corpus=false with NULL
    canonical (a verdict for every arrival, like the other members).
    Static-side scale levers are minhash_admit_stage's — PLUS one of
    its own: a fixed plane count means cells grow linearly with the
    store and so does per-arrival verify fan-out, so a growing store
    should freeze its model with semantic_cell_model_scaled (returns
    (cells, k); pass ``num_planes=k`` here) — the batch scaled
    quantizer's constant-cell-size guarantee applied to intake."""
    from chronobase_spark.dedup.embedding import hyperplanes, lsh_signature
    from chronobase_spark.functions.similarity import cosine_pre, norm

    marked = stream.withWatermark("ingest_ts", "10 minutes")
    planes = hyperplanes(num_planes)
    # norms projected once per row BELOW the cell join on both sides
    # (r17; similarity.cosine_pre's join-path note): per-arrival and
    # per-stored-row folds instead of per-(arrival, cand) pair —
    # bit-identical verdicts (the drained-equal pins hold unchanged).
    prepped = marked.select(
        "vec_id",
        "ingest_ts",
        F.col("embedding").alias("vec"),
        norm(F.col("embedding")).alias("_nrm"),
        lsh_signature(F.col("embedding"), planes).alias("cell"),
    )
    cand = prepped.join(
        corpus_cells.select(
            F.col("vid").alias("cand"),
            F.col("vec").alias("vec_c"),
            norm(F.col("vec")).alias("_nrm_c"),
            "cell",
        ),
        "cell",
        "left",
    )
    sim = F.round(
        cosine_pre(F.col("vec"), F.col("vec_c"), F.col("_nrm"), F.col("_nrm_c")),
        6,
    )
    ok = F.col("cand").isNotNull() & (sim >= min_cosine)
    return _admission_verdict(cand, "vec_id", ok, "10 minutes")


def phash_admit_stage(
    stream: DataFrame,
    corpus_chunks: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    watermark: str | None = "10 minutes",
    window: str | None = None,
) -> DataFrame:
    """Is this ARRIVING image a near-dup of the FROZEN corpus? — the
    multimodal member of the admission family, completing the intake
    pair for every signature family that has a batch pair finder
    (text: minhash_admit_stage; image: here). ``phash_stage`` only
    ANNOTATES arriving rows with their dHash chunks; this stage turns
    those chunks into a per-arrival verdict against stored content —
    the minhash_admit_stage shape applied to ``phash_near_pairs``'
    chunk-LSH pigeonhole.

    Mechanics: the arriving payload is decoded per row by the SAME
    real PPM parser + pooling the batch path uses (phash_stage /
    multimodal.dhash_annotate — one definition), the four 16-bit
    chunk keys LEFT-join stream-static against the frozen
    dhash_chunk_table from phash_band_model (stateless, no state
    store), and the verify is the batch query's exact popcount
    Hamming ≤ max_hamming over the full 64-bit signatures — the
    pigeonhole guarantee (any pair within distance CHUNKS-1 shares a
    chunk) makes the banded verdict EQUAL to brute force, so LSH only
    tunes candidate traffic. The per-doc verdict is a windowed
    streaming aggregation (dup iff ANY verified candidate, canonical =
    min matched corpus id; three scalars of state per in-flight doc,
    watermark-evicted).

    Drained output over a fresh×frozen split equals the batch
    ``phash_near_pairs`` list restricted to (new, old) pairs (pinned
    in tests/test_streaming.py). Sub-gate arrivals (thumbnails, NULL
    payloads) carry NULL chunks → no band row → verdict
    dup_of_corpus=false with NULL canonical, exactly the rows the
    batch finder excludes; every arrival still gets a verdict (the
    admission contract). Static-side scale levers are
    minhash_admit_stage's (deduped store, larger triggers,
    pre-bucketing); ``watermark=None`` follows the composed-pipeline
    contract (``_watermarked``)."""
    from chronobase_spark.dedup.phash import CHUNKS, MIN_PAYLOAD_BYTES
    from chronobase_spark.functions import multimodal

    marked, window = _watermarked(stream, watermark, window)
    eligible = F.col(text_col).isNotNull() & (
        F.length(F.encode(text_col, "UTF-8")) >= MIN_PAYLOAD_BYTES
    )
    with_payload = marked.withColumn(
        "_payload",
        F.when(eligible, multimodal.ppm_payload_col(F.col(text_col))),
    )
    annotated = multimodal.dhash_annotate(
        with_payload.select("doc_id", "ingest_ts", "_payload"),
    )
    cs = [f"c{j}" for j in range(CHUNKS)]
    banded = annotated.select(
        "doc_id",
        "ingest_ts",
        *cs,
        F.explode_outer(
            F.when(F.col("c0").isNotNull(), chunk_bands([F.col(c) for c in cs]))
        ).alias("k"),
    ).select(
        "doc_id",
        "ingest_ts",
        *cs,
        F.col("k.chunk_id").alias("chunk_id"),
        F.col("k.chunk_val").alias("chunk_val"),
    )
    corpus = corpus_chunks.select(
        F.col("doc").alias("cand"),
        *[F.col(c).alias(f"c{c}") for c in cs],
        "chunk_id",
        "chunk_val",
    )
    cand = banded.join(corpus, list(CHUNK_KEYS), "left")
    hamming = chunk_hamming("c", "cc", CHUNKS)
    ok = F.col("cand").isNotNull() & (hamming <= max_hamming)
    return _admission_verdict(cand, "doc_id", ok, window)


def budget_histogram_stage(stream: DataFrame) -> DataFrame:
    """Windowed per-SCORE token histogram — the streaming half of the
    batch ``token_budget_select`` admission: budget selection is a
    corpus-level decision (which score classes fit 30% of the window's
    tokens), so per the corpus-marginal boundary in this module's
    docstring its streaming twin is a WINDOWED AGGREGATION, not a
    map stage — exactly the streaming_benford_counts split. This
    stage emits the watermark-bounded (window_start, score, bucket_n,
    n_docs) histogram; the admission plan (full buckets, boundary
    class, remaining tokens) is the tiny finalize over the drained
    counts (``finalize_budget_admission``), and the per-doc admit bit
    inside the boundary class stays a batch concern (it needs the
    window's full doc_id order, which no stream row can see).

    Score and token count are the batch query's LITERAL expressions
    (text.space_distinct_tokens / text.lm_tokens), so a drained
    window's histogram equals the batch histogram over the same rows
    (pinned in tests/test_streaming.py). State per window is at most
    |distinct scores| count rows, watermark-evicted."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    return (
        stream.withWatermark("ingest_ts", "1 hour")
        .select(
            "ingest_ts",
            text.space_distinct_tokens(txt).cast("bigint").alias("score"),
            F.size(text.lm_tokens(F.col("text")))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .groupBy(F.window("ingest_ts", "1 day"), "score")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("bucket_n"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "score",
            "bucket_n",
            "n_docs",
        )
    )


def finalize_budget_admission(counts: DataFrame) -> DataFrame:
    """The admission plan from drained budget histograms: per window,
    budget = window_tokens * 3 DIV 10; score classes
    whose inclusive (score desc) cumulative fits are fully admitted,
    the single crossing class is the boundary with its exact remaining
    token allowance. One batch projection over |windows|·|scores|
    rows — every window is independent, so the cumulative windows
    partition by window_start and nothing global exists (the
    continuous-aggregate finalize split). Returns (window_start,
    score, bucket_n, full_ok, is_boundary, remaining).

    Input is defensively re-aggregated to one row per (window_start,
    score) first: a sink that accumulated counts across two drain runs
    (or a restart) would otherwise make the desc-ordered cumulative
    nondeterministic per duplicate row and could mark multiple
    boundary classes (r13 advice)."""
    from pyspark.sql import Window as W

    counts = counts.groupBy("window_start", "score").agg(
        F.sum("bucket_n").cast("bigint").alias("bucket_n")
    )
    w_b = W.partitionBy("window_start")
    w_cum = (
        W.partitionBy("window_start")
        .orderBy(F.col("score").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # integer DIV, the batch query's exact budget arithmetic — a double
    # quotient would drift for window token sums beyond 2^53
    counts = counts.withColumn("_tot", F.sum("bucket_n").over(w_b))
    b = F.expr("_tot * 3 div 10")
    cum = F.sum("bucket_n").over(w_cum)
    cum_before = cum - F.col("bucket_n")
    return counts.select(
        "window_start",
        "score",
        "bucket_n",
        (cum <= b).alias("full_ok"),
        ((cum_before <= b) & (cum > b)).alias("is_boundary"),
        F.when((cum_before <= b) & (cum > b), b - cum_before)
        .otherwise(F.lit(None).cast("bigint"))
        .alias("remaining"),
    )


def topq_histogram_stage(stream: DataFrame) -> DataFrame:
    """Windowed per-(lang, score) document histogram — the streaming
    half of the batch ``quality_topq_filter`` admission, completing the
    intake selection trio (budget: budget_histogram_stage; DSIR:
    dsir_admit_stage; quantile: here). A per-stratum percentile cut is
    a corpus-level marginal (which scores sit in the window's top
    half), so per this module's corpus-marginal boundary its streaming
    twin is a WINDOWED AGGREGATION: this stage emits the
    watermark-bounded (window_start, lang, score, n_docs) histogram and
    the quantile cut is the tiny finalize over the drained counts
    (``finalize_topq_admission``) — the budget_histogram_stage split
    applied to the quantile rule.

    Score is the batch query's LITERAL expression
    (text.space_distinct_tokens), so a drained window's histogram
    equals the batch histogram over the same rows (pinned in
    tests/test_streaming.py). State per window is at most
    |langs|·|distinct scores| count rows, watermark-evicted."""
    return (
        stream.withWatermark("ingest_ts", "1 hour")
        .select(
            "ingest_ts",
            "lang",
            text.space_distinct_tokens(F.col("text")).alias("score"),
        )
        .groupBy(F.window("ingest_ts", "1 day"), "lang", "score")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            F.col("window.start").alias("window_start"),
            "lang",
            "score",
            "n_docs",
        )
    )


def finalize_topq_admission(
    counts: DataFrame, ratio_num: int = 1, ratio_den: int = 2
) -> DataFrame:
    """The quantile admission plan from drained topq histograms: per
    (window, lang) stratum, the threshold is the LARGEST score whose
    inclusive (score desc) cumulative count covers ratio_num/ratio_den
    of the stratum (``n_ge·den ≥ total·num`` — quality_topq_filter's
    exact integer rule, boundary ties kept inclusively), and a score
    class is admitted iff it is ≥ that threshold. One batch projection
    over |windows|·|langs|·|scores| rows; every stratum is independent,
    so the windows partition by (window_start, lang) and nothing global
    exists. Input is defensively re-aggregated to one row per
    (window_start, lang, score) first (the finalize_budget_admission
    accumulated-sink rule). Returns (window_start, lang, score,
    n_docs, thr, admitted)."""
    from pyspark.sql import Window as W

    counts = counts.groupBy("window_start", "lang", "score").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs")
    )
    w_b = W.partitionBy("window_start", "lang")
    w_cum = (
        W.partitionBy("window_start", "lang")
        .orderBy(F.col("score").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = counts.withColumn("_n_ge", F.sum("n_docs").over(w_cum)).withColumn(
        "_total", F.sum("n_docs").over(w_b)
    )
    qualifies = (
        F.col("_n_ge") * int(ratio_den) >= F.col("_total") * int(ratio_num)
    )
    thr = cum.withColumn(
        "thr", F.max(F.when(qualifies, F.col("score"))).over(w_b)
    )
    return thr.select(
        "window_start",
        "lang",
        "score",
        "n_docs",
        "thr",
        (F.col("score") >= F.col("thr")).alias("admitted"),
    )


def dsir_admit_stage(
    stream: DataFrame,
    ratio: DataFrame,
    unseen_micro: int,
    m: float,
    watermark: str | None = "10 minutes",
    window: str | None = None,
) -> DataFrame:
    """Admit arriving documents under a FROZEN DSIR model trained in
    batch (functions/text.dsir_model) — the intake half of the
    distribution-matched selection: the batch pipeline periodically
    retrains the hashed-bigram importance ratios against the target
    domain, and ingest scores each new document against that frozen
    reference as it lands (the lm_score_stage shape applied to
    selection instead of perplexity).

    Mechanics: buckets per row are the IDENTICAL expression chain the
    batch trainer uses (text.lm_grams → text.dsir_bucket — one
    definition, no drift); the ratio lookup is a stream-STATIC left
    join on the ≤4096-row model table; an UNSEEN bucket backs off to
    the frozen smoothing prior ``unseen_micro`` (a bucket with zero
    training mass on both sides — the exact add-one value, not an
    ad-hoc floor); the per-doc integer sum is a windowed streaming
    aggregation (two BIGINTs of state per in-flight doc, watermark-
    evicted); the accept test is the SHARED text.dsir_accept_col
    against the frozen max-weight m. Drained output over the training
    corpus itself is BIT-IDENTICAL to batch dsir_select (pinned in
    tests/test_streaming.py, which also pins the unseen-bucket branch
    against plain Python). Returns (window, doc_id, n_grams, w_micro,
    accepted); docs with fewer than two tokens have no grams and no
    row, matching batch.

    ``watermark`` (lateness tolerance / state-eviction horizon) and
    ``window`` (per-doc aggregation window duration) are set
    separately; window defaults to the watermark, so tuning lateness
    does not silently change the output window column (r13 advice).
    ``watermark=None`` follows the composed-pipeline contract
    (``_watermarked``)."""
    marked, window = _watermarked(stream, watermark, window)
    buckets = (
        marked.select(
            "doc_id",
            "ingest_ts",
            F.explode(text.lm_grams(F.col("text"))).alias("gram"),
        )
        .select("doc_id", "ingest_ts", text.dsir_bucket(F.col("gram")).alias("bucket"))
    )
    scored = buckets.join(ratio, "bucket", "left").select(
        "doc_id",
        "ingest_ts",
        F.coalesce(F.col("r_micro"), F.lit(int(unseen_micro))).alias("r_micro"),
    )
    agg = scored.groupBy(F.window("ingest_ts", window), "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum("r_micro").cast("bigint").alias("w_micro"),
    )
    return agg.select(
        "window",
        "doc_id",
        "n_grams",
        "w_micro",
        text.dsir_accept_col(
            F.col("doc_id"),
            F.col("w_micro"),
            F.col("n_grams"),
            F.lit(float(m)),
        ).alias("accepted"),
    )


def weighted_sample_stage(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """In-stream importance-weighted thinning — the streaming twin of
    the batch ``quality_weighted_sample`` accept test, completing the
    Bernoulli member of the selection family's admission surface
    (rate-controlled soft quality filtering at intake; the fixed-k
    member is reservoir_admit_stage). The keep probability is
    proportional to the arriving doc's OWN lexical diversity
    (p = min(distinct_tokens, 64)/64), decided by the batch query's
    keep column (text.diversity_keep: a pure-BIGINT cross-multiplication
    on the content-free md5 doc_id bucket) — a pure function of the
    row, so this is a map-only SELECT: no state, no watermark, no
    shuffle, and a drained stream's flags equal the batch flags row-for-row (pinned in
    tests/test_streaming.py). NULL text keeps n_distinct = 0 ⇒
    keep = false (p = 0 — nothing to sample), the admission
    contract's explicit NULL arm."""
    n_distinct, keep = text.diversity_keep(F.col("doc_id"), F.col(text_col))
    return stream.select(
        "doc_id",
        "ingest_ts",
        F.col("source"),
        n_distinct.alias("n_distinct"),
        keep.alias("keep"),
    )


RESERVOIR_K = 100


def reservoir_admit_stage(stream: DataFrame, k: int = RESERVOIR_K) -> DataFrame:
    """Fixed-budget weighted selection AT INTAKE — the streaming twin
    of the batch ``weighted_reservoir_sample`` (Efraimidis-Spirakis
    A-ES: both rank by ``packing.aes_key``, round(ln(u)/w, 6) with the
    md5-deterministic u; the top k ARE a weighted sample without
    replacement), completing the
    selection family's last admission member: a custom BOUNDED-STATE
    stateful operator (the per-key state fold), state = at most k
    (doc_id, source, wt, wrs_key) rows per window — the reservoir
    itself, nothing corpus-sized.

    Emission contract: every micro-batch that delivers rows to a
    window's group re-emits that window's CURRENT top-k (append output
    — file sinks reject update mode — so the sink accumulates
    candidate rows, repeated across batches even when the top-k did
    not change). Because reservoir
    membership is MONOTONE — a row in the window's final top-k beats
    all but < k rows of the whole window, so it entered the state in
    its arrival batch and was emitted — the drain-time
    ``finalize_reservoir`` (dedup + top-k over the sink) recovers
    EXACTLY the batch query's answer over the window's rows (pinned
    drained-equal in tests/test_streaming.py). The deterministic md5 u
    makes stream and batch rank identical rows identically.

    Scale: state is k rows per ACTIVE window; each batch does one
    vectorized pandas merge per window group. Windows here are
    processing-independent id-derived buckets of ``ingest_ts``
    (a plain group key — the stateful API needs a flat column);
    watermarking is the sink reader's concern since state is bounded
    by construction."""
    out_schema = StructType(
        [
            StructField("window_start", TimestampType()),
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("wt", LongType()),
            StructField("wrs_key", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("doc_ids", ArrayType(LongType())),
            StructField("sources", ArrayType(StringType())),
            StructField("wts", ArrayType(LongType())),
            StructField("keys", ArrayType(DoubleType())),
        ]
    )
    cols = ["doc_id", "source", "wt", "wrs_key"]

    def step(win, pdf, prior):
        import pandas as pd

        parts = [pdf[cols]]
        if prior:
            parts.insert(0, pd.DataFrame(dict(zip(cols, prior))))
        # the batch query's exact cut: key desc, doc_id asc tie-break
        merged = (
            pd.concat(parts, ignore_index=True)
            .sort_values(["wrs_key", "doc_id"], ascending=[False, True])
            .drop_duplicates("doc_id")
            .head(k)
        )
        new_state = (
            [int(x) for x in merged["doc_id"]],
            [str(x) for x in merged["source"]],
            [int(x) for x in merged["wt"]],
            [float(x) for x in merged["wrs_key"]],
        )
        out = merged.copy()
        out.insert(0, "window_start", win)
        return new_state, out

    wt, key = packing.aes_key(F.col("doc_id"), F.col("n_chars"))
    keyed = stream.select(
        F.timestamp_seconds(
            (F.unix_timestamp("ingest_ts") / 86_400).cast("bigint")
            * 86_400
        ).alias("window_start"),
        "doc_id",
        "source",
        wt.alias("wt"),
        key.alias("wrs_key"),
    )
    return fold_by_key(
        keyed, "window_start", step, out_schema, state_schema, "append"
    )


def finalize_reservoir(
    sink: DataFrame, k: int = RESERVOIR_K
) -> DataFrame:
    """The exact per-window reservoir from drained
    ``reservoir_admit_stage`` emissions: dedup the accumulated
    candidate rows (append-mode re-emissions repeat survivors) and
    take the final top-k by (wrs_key desc, doc_id) per window — by
    the monotone-membership argument in the stage docstring this
    EQUALS the batch A-ES top-k over the window's rows. A bounded
    batch projection: |windows|·k·re-emissions input rows, one
    window-keyed ranking."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.col("wrs_key").desc(), F.col("doc_id")
    )
    return (
        sink.dropDuplicates(["window_start", "doc_id"])
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def decontam_admit_stage(
    stream: DataFrame,
    bench_shingles: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Is this ARRIVING document contaminated by the FROZEN eval
    benchmark? — test-set decontamination AT INTAKE, the admission
    form of the batch ``decontam_overlap`` sweep (the GPT-3/PaLM-style
    n-gram collision rule, applied before a doc ever enters the
    store instead of as a pre-training batch pass). Not a near-dup
    modality duplicate (this module's boundary note): the question is
    benchmark LEAKAGE against a frozen reference set, not similarity
    within the corpus.

    Mechanics: the arriving doc's distinct 3-gram shingles (the batch
    sweep's LITERAL dedup.ngram.shingles expression) explode_outer and
    LEFT-join stream-static against the frozen benchmark shingle set
    from dedup.ngram.decontam_model — stateless, no state store, and
    the static side is an EVAL SUITE: small by nature, so unlike the
    near-dup admission models Catalyst broadcasts it and the arriving
    rows never shuffle for the join. The per-doc verdict is a windowed
    streaming aggregation: n_overlap = count of matched distinct
    shingles, contaminated = n_overlap ≥ 3. Two scalars of
    state per in-flight doc, watermark-evicted.

    Drained verdicts over a fresh×frozen-benchmark split equal the
    batch ``contamination_overlap`` rows (contaminated docs carry the
    same n_overlap; clean and shingle-less arrivals report (0, false)
    — every arrival gets a verdict, the admission contract the batch
    HAVING-filtered list does not provide). Pinned in
    tests/test_streaming.py."""
    from chronobase_spark.dedup.ngram import shingles as _shingles

    marked = stream.withWatermark("ingest_ts", "10 minutes")
    exploded = (
        marked
        .select(
            "doc_id",
            "ingest_ts",
            F.explode_outer(_shingles(F.col(text_col))).alias("sh"),
        )
    )
    matched = exploded.join(
        bench_shingles.select(F.col("sh"), F.lit(1).alias("_hit")),
        "sh",
        "left",
    )
    agg = matched.groupBy(F.window("ingest_ts", "10 minutes"), "doc_id").agg(
        F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_overlap")
    )
    return agg.select(
        "window",
        "doc_id",
        "n_overlap",
        (F.col("n_overlap") >= 3).alias("contaminated"),
    )


def containment_admit_stage(
    stream: DataFrame,
    postings: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Is this ARRIVING document (partly) CONTAINED in the frozen
    corpus? — the partial-copy member of the admission family.
    ``minhash_admit_stage`` answers resemblance (near-identical whole
    documents); this stage answers the case it provably misses: an
    arrival that QUOTES or EMBEDS a stored document (or is a fragment
    of one) shares nearly all of its own shingles with the store while
    its Jaccard against any single stored doc stays near zero. The
    measure is the batch ``ngram.containment_pairs`` direction
    C(arrival→stored) = |shared pruned shingles| / |sh(arrival)|.

    Mechanics: per-arrival |sh| is computed BEFORE the explode (a pure
    row expression), the arrival's shingles explode_outer and
    LEFT-join stream-static against the frozen pruned posting lists
    from ``dedup.ngram.containment_model`` — stateless; then ONE
    windowed aggregation per (window, doc_id, cand) counts the shared
    shingles and emits the rounded per-candidate containment.
    Shingle-less and match-less arrivals keep a (doc_id, NULL cand,
    0.0) row via explode_outer — every arrival reaches the sink. The
    per-arrival verdict (contained?, host) is a drain-time reduction
    (:func:`finalize_containment`), the budget/topq-family convention,
    because argmax-over-candidates would need a second stateful
    aggregation in-stream.

    State/scale: the static side is the corpus-sized posting list —
    the minhash-admit posture applies verbatim: deduped store, larger
    triggers, and the BUCKETED model (``containment_model_bucketed``,
    bucketBy on exactly [sh]) so the store never re-shuffles per
    trigger; per-shingle fan-out is bounded by the model's ``max_df``
    pruning (the admission-time form of the f² pair bound). State is
    one count per in-flight (doc, cand) candidate, watermark-evicted.

    The candidate rows, aggregate, and projection are the LITERAL
    shared builders the batch reference compiles
    (dedup.ngram.containment_candidate_rows / containment_agg_exprs /
    containment_projection — the md5_band_table one-definition
    convention), so drained-equal holds by construction; only the
    window grouping key differs."""
    from chronobase_spark.dedup.ngram import (
        containment_agg_exprs,
        containment_candidate_rows,
        containment_projection,
    )

    marked = stream.withWatermark("ingest_ts", "10 minutes")
    rows = containment_candidate_rows(marked, postings, text_col, carry=("ingest_ts",))
    agg = rows.groupBy(F.window("ingest_ts", "10 minutes"), "doc_id", "cand").agg(
        *containment_agg_exprs()
    )
    return containment_projection(agg, lead=("window",))


def finalize_containment(sink: DataFrame) -> DataFrame:
    """Per-arrival verdict from drained ``containment_admit_stage``
    emissions: (doc_id, contained, host_id, containment) where host =
    the stored doc with the highest containment (min id tie-break, the
    canonical-id convention) and contained = best ≥ threshold. A
    bounded batch projection over candidate rows; the SAME reduction
    applied to the batch ``ngram.containment_against`` rows yields the
    batch verdict, which the drained-equal test pins row-for-row.
    Ranked via a window on (containment desc, cand asc) rather than an
    arithmetic-negation struct max, so any orderable id type works
    (string/url corpus ids — r16 review catch)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(
        F.col("containment").desc(), F.col("cand").asc_nulls_last()
    )
    best = sink.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1)
    contained = F.col("cand").isNotNull() & (F.col("containment") >= 0.8)
    return best.select(
        "doc_id",
        contained.alias("contained"),
        F.when(contained, F.col("cand")).alias("host_id"),
        "containment",
    )


def novelty_admit_stage(
    stream: DataFrame,
    stored_sh: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """How much of this ARRIVING document is NEW against the entire
    frozen corpus? — the aggregate member of the admission family.
    ``containment_admit_stage`` measures the arrival against each
    stored CANDIDATE (fragment-of-one-doc); this stage measures it
    against the UNION of stored shingles — the case per-candidate
    measures structurally miss: an arrival stitched from many stored
    documents has low containment against every single host yet
    novelty ≈ 0 (the re-crawl / boilerplate-collage admission cut).
    The batch doc-ordered twin is the registered ``doc_novelty_ratio``
    (novelty vs lower-id docs); at intake the reference set is the
    frozen corpus' distinct shingles (``dedup.ngram.novelty_model``,
    bucketed form ``novelty_model_bucketed``).

    Mechanics: per-arrival |sh| computed BEFORE the explode, the
    arrival's shingles explode_outer and LEFT membership-join
    stream-static against the distinct stored set — stateless, and
    fan-out is structurally 1 (the set is distinct; no per-candidate
    dimension exists, so this stage needs no drain-time finalize);
    then ONE windowed aggregation per (window, doc_id) counts the
    known shingles and emits novelty = 1 − known/|sh|, 0.0 for
    shingle-less/NULL-text arrivals (every arrival verdicts).

    State/scale: one (known, n_sh) pair per in-flight arrival —
    smaller than containment's per-(doc, cand) state; the static side
    is corpus-sized, so the bucketed-on-[sh] model is the 100 TB form
    (no re-distinct is applied to it — an Exchange above the static
    scan every trigger would defeat the layout; the model builders
    guarantee distinctness). The candidate rows, aggregate, and
    projection are the LITERAL shared builders the batch reference
    (``ngram.novelty_against``) compiles — drained-equal by
    construction; only the window grouping key differs."""
    from chronobase_spark.dedup.ngram import (
        novelty_agg_exprs,
        novelty_candidate_rows,
        novelty_projection,
    )

    marked = stream.withWatermark("ingest_ts", "10 minutes")
    rows = novelty_candidate_rows(marked, stored_sh, text_col, carry=("ingest_ts",))
    agg = rows.groupBy(F.window("ingest_ts", "10 minutes"), "doc_id").agg(
        *novelty_agg_exprs()
    )
    return novelty_projection(agg, lead=("window",))
