"""Corpus-curation operators for LLM training-data pipelines (engine
extensions, SURVEY.md §2.12).

Beyond dedup/similarity (operators/dedup.py, similarity.py) a corpus
pipeline needs the curation layer: benchmark decontamination,
reproducible train/holdout splitting, sequence packing into fixed
context windows, repetition-based quality gates, and mixture
reweighting across languages/sources.  Every operator here is a pure
DataFrame composition — no Python UDFs — and every ratio is built from
identical-operand integer arithmetic so the DuckDB oracle hash-matches
without rounding (functions/exprs.py rule 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import (
    POLY_B2,
    POLY_M,
    POLY_M2,
    o_poly_hash,
    poly_hash,
)
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load

# ---------------------------------------------------------------------------
# Benchmark decontamination: word-trigram overlap vs a held-out eval set

_EVAL_MOD = 37  # doc_id % 37 == 0 -> the synthetic "benchmark" slice
_DECONTAM_TAU = 0.05  # flag a training doc when >=5% of its trigrams hit

_DECONTAM_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
                   AS shingle
        FROM t
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {_EVAL_MOD} != 0)
    SELECT tr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(ev.shingle) AS BIGINT) AS n_hit,
           CAST(COUNT(ev.shingle) AS DOUBLE) / COUNT(*) AS hit_ratio,
           CAST(COUNT(ev.shingle) AS DOUBLE) / COUNT(*) >= {_DECONTAM_TAU}
               AS contaminated
    FROM tr LEFT JOIN ev USING (shingle)
    GROUP BY tr.doc_id
    """


def _word_trigrams(tokens):
    """Distinct word trigrams of a token array, [] when under 3 tokens."""
    n = F.size(tokens)
    k = F.greatest(n - 2, F.lit(0))
    first = F.slice(tokens, 1, k)
    second = F.slice(tokens, 2, k)
    third = F.slice(tokens, 3, k)
    tail = F.zip_with(second, third, lambda b, c: F.concat(b, F.lit(" "), c))
    return F.array_distinct(
        F.zip_with(first, tail, lambda a, bc: F.concat(a, F.lit(" "), bc))
    )


@query("corpus_decontam_ngram", oracle=_DECONTAM_ORACLE, tier="P2")
def corpus_decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct word trigrams that appear anywhere in the eval slice
    (``doc_id % 37 == 0`` stands in for a benchmark suite), with a
    >=5% contamination flag.

    Plan shape: one pass shingles every doc (explode of a per-row
    array — map-only), the eval side collapses to DISTINCT shingles,
    and the hit test is an inverted-index equi-join on the shingle
    string followed by a per-doc count — never a doc x doc product.
    The fixture eval slice grows with scale factor, so the join stays
    a shuffle join here; against a real fixed-size benchmark suite the
    eval shingle set is bounded and Spark would broadcast it, making
    decontamination a map-only scan at 100 TB.  ``hit_ratio`` divides
    two counts both engines compute identically — unrounded per
    exprs.py rule 2.
    """
    docs = load(spark, sf_dir, "documents")
    shingles = docs.select(
        "doc_id",
        F.explode(_word_trigrams(F.split(F.col("text"), " "))).alias("shingle"),
    )
    eval_sh = (
        shingles.where(F.col("doc_id") % _EVAL_MOD == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train_sh = shingles.where(F.col("doc_id") % _EVAL_MOD != 0)
    joined = train_sh.join(eval_sh, "shingle", "left")
    ratio = F.col("n_hit").cast("double") / F.col("n_shingles")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            ratio.alias("hit_ratio"),
            (ratio >= _DECONTAM_TAU).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: the map-only 100 TB shape of the same test

_BLOOM_BITS = 65536  # m: filter size in bits (2048 x 32-bit words)
_BLOOM_WORD = 32  # word width; 32 keeps every shift amount < 63 everywhere

_BLOOM_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
                   AS shingle
        FROM t
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
    pos AS (
        SELECT {o_poly_hash('shingle')} % {_BLOOM_BITS} AS p FROM ev
        UNION ALL
        SELECT {o_poly_hash('shingle', POLY_B2, POLY_M2)} % {_BLOOM_BITS}
        FROM ev
    ),
    bloom AS (
        SELECT p // {_BLOOM_WORD} AS w,
               bit_or(CAST(1 AS BIGINT)
                      << CAST(p % {_BLOOM_WORD} AS INT)) AS bits
        FROM pos GROUP BY 1
    ),
    tr AS (
        SELECT doc_id,
               {o_poly_hash('shingle')} % {_BLOOM_BITS} AS p1,
               {o_poly_hash('shingle', POLY_B2, POLY_M2)} % {_BLOOM_BITS}
                   AS p2
        FROM sh WHERE doc_id % {_EVAL_MOD} != 0
    ),
    j AS (
        SELECT tr.doc_id,
               (b1.bits IS NOT NULL AND b2.bits IS NOT NULL
                AND (b1.bits & (CAST(1 AS BIGINT)
                                << CAST(tr.p1 % {_BLOOM_WORD} AS INT))) != 0
                AND (b2.bits & (CAST(1 AS BIGINT)
                                << CAST(tr.p2 % {_BLOOM_WORD} AS INT))) != 0)
                   AS hit
        FROM tr
        LEFT JOIN bloom b1 ON tr.p1 // {_BLOOM_WORD} = b1.w
        LEFT JOIN bloom b2 ON tr.p2 // {_BLOOM_WORD} = b2.w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS hit_ratio,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               >= {_DECONTAM_TAU} AS contaminated
    FROM j GROUP BY doc_id
    """


@query("corpus_decontam_bloom", oracle=_BLOOM_ORACLE, tier="P2")
def corpus_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark decontamination — the same per-doc
    contamination test as ``corpus_decontam_ngram``, but the eval
    trigram set is compressed into a 64 Kbit / k=2 Bloom filter
    (2048 int64-words carrying 32 bits each) BEFORE it meets the
    corpus, so the corpus side is never shuffled: membership is two
    broadcast equi-joins on the word index (map-side) plus bitwise
    AND, then one per-doc count aggregate.

    Why this exists next to the exact twin: at 100 TB the exact test
    shuffles every (doc, trigram) row by the SHINGLE STRING to meet
    the eval set (fine when the eval side broadcasts, but a full
    benchmark-suite trigram set can reach GBs); the Bloom filter is a
    fixed 16 KB REGARDLESS of eval-set size, the classic space/
    precision trade (Bloom 1970).  One-sided error: every truly
    contaminated trigram IS flagged (no false negatives, the property
    a decontamination gate must not lose), with false-positive rate
    (1 - e^(-kn/m))^k — ~1e-3 at the sf0.1 eval cardinality, and the
    flag threshold is the same >=5% of a doc's trigrams as the exact
    twin, so a false flag needs a 50x concentration of independent
    FPs in one doc.  The filter is built from the engine's own
    deterministic poly-hash pair (exprs.py), so the DuckDB oracle
    reconstructs the IDENTICAL filter bit-for-bit and the whole
    operator — false positives included — hash-checks cross-engine.
    Superset-of-exact and FP-overhead invariants are property-tested
    (tests/test_properties.py).

    Plan shape: eval trigrams -> two positions each -> groupBy(word)
    bit_or = a <=2048-row filter (one tiny shuffle of eval-sized
    rows); corpus trigrams pick up their two words via two BROADCAST
    joins (no corpus shuffle), and the only corpus-sized shuffle is
    the final per-doc count — same as any per-doc aggregate.
    hit_ratio divides two counts computed identically by both engines
    — unrounded per the exprs.py rule.
    """
    docs = load(spark, sf_dir, "documents")
    shingles = docs.select(
        "doc_id",
        F.explode(_word_trigrams(F.split(F.col("text"), " "))).alias("shingle"),
    )
    p1 = poly_hash("shingle") % _BLOOM_BITS
    p2 = poly_hash("shingle", POLY_B2, POLY_M2) % _BLOOM_BITS
    ev_pos = (
        shingles.where(F.col("doc_id") % _EVAL_MOD == 0)
        .select("shingle")
        .distinct()
        .select(p1.alias("p"), p2.alias("p2"))
    )
    pos = ev_pos.select("p").unionAll(ev_pos.select(F.col("p2").alias("p")))
    bloom = (
        pos.select(
            F.floor(F.col("p") / _BLOOM_WORD).cast("bigint").alias("w"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(p % {_BLOOM_WORD} as int))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )
    tr = shingles.where(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", p1.alias("p1"), p2.alias("p2")
    )
    tr = tr.withColumn(
        "w1", F.floor(F.col("p1") / _BLOOM_WORD).cast("bigint")
    ).withColumn("w2", F.floor(F.col("p2") / _BLOOM_WORD).cast("bigint"))
    b1 = F.broadcast(
        bloom.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    )
    b2 = F.broadcast(
        bloom.select(F.col("w").alias("w2"), F.col("bits").alias("bits2"))
    )
    hit = F.expr(
        "bits1 is not null and bits2 is not null "
        f"and (bits1 & shiftleft(cast(1 as bigint), "
        f"cast(p1 % {_BLOOM_WORD} as int))) != 0 "
        f"and (bits2 & shiftleft(cast(1 as bigint), "
        f"cast(p2 % {_BLOOM_WORD} as int))) != 0"
    )
    joined = (
        tr.join(b1, "w1", "left").join(b2, "w2", "left").withColumn("hit", hit)
    )
    ratio = F.col("n_hit").cast("double") / F.col("n_shingles")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("hit").cast("bigint")).cast("bigint").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            ratio.alias("hit_ratio"),
            (ratio >= _DECONTAM_TAU).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified train/val/test split report

_MIX_A = 2654435761  # Knuth multiplicative constant (also sampling.py)
_TRAIN_PCT = 80
_VAL_PCT = 90  # [80, 90) -> val, [90, 100) -> test

_SPLIT_EXPR = f"((doc_id % {POLY_M}) * {_MIX_A}) % {POLY_M} % 100"

_SPLIT_ORACLE = f"""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN {_SPLIT_EXPR} < {_TRAIN_PCT} THEN 'train'
                    WHEN {_SPLIT_EXPR} < {_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    counts AS (
        SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM assigned GROUP BY 1, 2
    )
    SELECT lang, split, n_docs,
           CAST(n_docs AS DOUBLE)
               / SUM(n_docs) OVER (PARTITION BY lang) AS lang_share
    FROM counts
    """


@query("split_train_holdout", oracle=_SPLIT_ORACLE, tier="P2")
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test assignment keyed on a
    doc_id hash, reported as per-language counts and within-language
    shares (the stratification audit a split job must emit).

    The assignment is a pure row-local int64 expression — same rows
    land in the same split on any engine, any partitioning, any rerun
    (sampling.py's auditability argument).  The report is a partial/
    final hash agg on a (lang, split) key of bounded cardinality plus
    one window over that tiny aggregate; the raw corpus is scanned
    exactly once, map-only, at any scale.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") % POLY_M) * F.lit(_MIX_A).cast("bigint")) % POLY_M % 100
    assigned = docs.select(
        "lang",
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )
    counts = assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "split",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "lang_share"
        ),
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk into fixed token windows

_PACK_BUDGET = 512  # tokens per context window

_PACK_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    off AS (
        SELECT doc_id, lang, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS BIGINT)) AS tok_offset
        FROM toks
    )
    SELECT doc_id, lang, n_tok, tok_offset,
           CAST(FLOOR(CAST(tok_offset AS DOUBLE) / {_PACK_BUDGET}.0)
                AS BIGINT) AS pack_first,
           CAST(FLOOR(CAST(tok_offset + n_tok - 1 AS DOUBLE)
                      / {_PACK_BUDGET}.0) AS BIGINT) AS pack_last,
           CAST(FLOOR(CAST(tok_offset + n_tok - 1 AS DOUBLE)
                      / {_PACK_BUDGET}.0) AS BIGINT)
               > CAST(FLOOR(CAST(tok_offset AS DOUBLE) / {_PACK_BUDGET}.0)
                      AS BIGINT) AS straddles
    FROM off
    """


@query("pack_concat_chunks", oracle=_PACK_ORACLE, tier="P2")
def pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per language, documents are
    concatenated in doc_id order and cut into fixed 512-token context
    windows; each doc gets its token offset and the first/last window
    it lands in, plus a boundary-straddle flag.

    This is the packing LLM trainers actually use (concatenate, then
    split at the window boundary) — not bin-packing, so it's
    expressible as one exclusive-prefix running sum per language: a
    single shuffle on ``lang``, then an ordered window.  At 100 TB a
    global per-language cumsum would serialize; production packs per
    (lang, shard) independently — the same plan with a composite
    partition key — accepting window-boundary waste only at shard
    seams.  Window ids come from a FLOOR-of-double shared formula:
    exact for any offset under 2^53, bit-identical across engines.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = toks.withColumn(
        "tok_offset",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("bigint")),
    )
    first = F.floor(
        F.col("tok_offset").cast("double") / float(_PACK_BUDGET)
    ).cast("bigint")
    last = F.floor(
        (F.col("tok_offset") + F.col("n_tok") - 1).cast("double")
        / float(_PACK_BUDGET)
    ).cast("bigint")
    return off.select(
        "doc_id",
        "lang",
        "n_tok",
        "tok_offset",
        first.alias("pack_first"),
        last.alias("pack_last"),
        (last > first).alias("straddles"),
    )


# ---------------------------------------------------------------------------
# Packing-strategy comparison: padding waste vs boundary contamination


@query(
    "pack_strategy_compare",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    off AS (
        SELECT lang, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS BIGINT)) AS tok_offset
        FROM toks
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(greatest(CAST(0 AS BIGINT), {_PACK_BUDGET} - n_tok))
                AS BIGINT) AS pad_tokens,
           CAST(SUM(greatest(CAST(0 AS BIGINT), n_tok - {_PACK_BUDGET}))
                AS BIGINT) AS trunc_tokens,
           CAST(SUM(least(n_tok, CAST({_PACK_BUDGET} AS BIGINT))) AS DOUBLE)
               / (COUNT(*) * {_PACK_BUDGET}) AS util_single,
           CAST(SUM(CASE WHEN CAST(FLOOR(CAST(tok_offset + n_tok - 1 AS DOUBLE)
                                         / {_PACK_BUDGET}.0) AS BIGINT)
                              > CAST(FLOOR(CAST(tok_offset AS DOUBLE)
                                           / {_PACK_BUDGET}.0) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS straddle_docs,
           CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / {_PACK_BUDGET}.0) AS BIGINT)
               AS concat_windows,
           CAST(SUM(n_tok) AS DOUBLE)
               / (CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / {_PACK_BUDGET}.0)
                       AS BIGINT) * {_PACK_BUDGET}) AS util_concat
    FROM off
    GROUP BY lang
    """,
    tier="P2",
)
def pack_strategy_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-strategy readout — the per-language numbers a trainer
    team weighs when choosing between the two standard schemes:

    - SINGLE (one doc per context window, BERT-style pad/truncate to
      the 512-token budget): zero cross-document attention
      contamination, but short docs pay ``pad_tokens`` of dead compute
      and long docs lose ``trunc_tokens`` of data; ``util_single`` is
      the fraction of window slots doing useful work.
    - CONCAT (concat-and-chunk, pack_concat_chunks' scheme): ~100%
      utilization (only the final partial window pads —
      ``util_concat``), but ``straddle_docs`` documents cross a window
      boundary, the attention-contamination cost.

    One shuffle on ``lang`` (the same exclusive-prefix cumsum window
    as pack_concat_chunks, whose shard-seam scale note applies
    unchanged), then a partial/final aggregate to one row per
    language.  All sums are exact int64; both utilizations are
    divisions of identically-computed exact operands (the int64 sums
    and products are far below 2^53, and the floor/ceil window ids use
    the shared-formula pattern) — unrounded.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = toks.withColumn(
        "tok_offset",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("bigint")),
    )
    b = F.lit(_PACK_BUDGET).cast("bigint")
    zero = F.lit(0).cast("bigint")
    first = F.floor(
        F.col("tok_offset").cast("double") / float(_PACK_BUDGET)
    ).cast("bigint")
    last = F.floor(
        (F.col("tok_offset") + F.col("n_tok") - 1).cast("double")
        / float(_PACK_BUDGET)
    ).cast("bigint")
    concat_windows = F.ceil(
        F.sum("n_tok").cast("double") / float(_PACK_BUDGET)
    ).cast("bigint")
    return off.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.greatest(zero, b - F.col("n_tok")))
        .cast("bigint")
        .alias("pad_tokens"),
        F.sum(F.greatest(zero, F.col("n_tok") - b))
        .cast("bigint")
        .alias("trunc_tokens"),
        (
            F.sum(F.least(F.col("n_tok"), b)).cast("double")
            / (F.count(F.lit(1)) * _PACK_BUDGET)
        ).alias("util_single"),
        F.sum((last > first).cast("bigint")).cast("bigint").alias(
            "straddle_docs"
        ),
        concat_windows.alias("concat_windows"),
        (
            F.sum("n_tok").cast("double") / (concat_windows * _PACK_BUDGET)
        ).alias("util_concat"),
    )


# ---------------------------------------------------------------------------
# Repetition-based quality gate (Gopher-style)

_REP_DUP_TAU = 0.80  # duplicate-token fraction gate
_REP_TOP_TAU = 0.10  # single-token dominance gate

_REPETITION_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) AS dup_ratio,
           CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_token_ratio,
           (CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt) > {_REP_DUP_TAU}
            OR CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) > {_REP_TOP_TAU})
               AS flagged
    FROM tf GROUP BY doc_id
    """


@query("text_repetition_ratio", oracle=_REPETITION_ORACLE, tier="P2")
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: per doc, the duplicate-token
    fraction and the most-frequent-token share, flagged when either
    exceeds its threshold (boilerplate / degenerate-generation
    detector that complements text_quality_score's surface features).

    Two-level aggregation — (doc, token) term frequencies, then a
    per-doc rollup — so the shuffle carries term-frequency partials,
    never raw token instances, and both levels are partial/final hash
    aggs.  The (doc_id, token) key inherits the doc partitioning, so
    AQE coalesces the second exchange.  Ratios are identical-operand
    int divisions — unrounded per exprs.py rule 2.
    """
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = F.sum("cnt")
    dup = (n - F.count(F.lit(1))).cast("double") / n
    top = F.max("cnt").cast("double") / n
    return tf.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        dup.alias("dup_ratio"),
        top.alias("top_token_ratio"),
        ((dup > _REP_DUP_TAU) | (top > _REP_TOP_TAU)).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation composite: repetition gate -> exact dedup ->
# decontamination -> split assignment -> per-(lang, split) budget

_CURATE_ORACLE = f"""
    WITH gated AS (
        SELECT doc_id, text, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
        WHERE doc_id % {_EVAL_MOD} != 0
          AND CAST(len(string_split(text, ' '))
                   - len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) <= {_REP_DUP_TAU}
    ),
    survivors AS (
        SELECT arg_min(doc_id, doc_id) AS doc_id, text,
               arg_min(lang, doc_id) AS lang,
               arg_min(n_tok, doc_id) AS n_tok
        FROM gated GROUP BY text
    ),
    t AS (SELECT doc_id, string_split(text, ' ') AS t FROM survivors),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
                   AS shingle
        FROM t
    ),
    ev AS (
        SELECT DISTINCT
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
                   AS shingle
        FROM (SELECT string_split(text, ' ') AS t FROM documents
              WHERE doc_id % {_EVAL_MOD} = 0)
    ),
    hits AS (
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_sh,
               CAST(COUNT(ev.shingle) AS BIGINT) AS n_hit
        FROM sh LEFT JOIN ev USING (shingle)
        GROUP BY sh.doc_id
    ),
    clean AS (
        SELECT s.doc_id, s.lang, s.n_tok
        FROM survivors s LEFT JOIN hits h USING (doc_id)
        WHERE COALESCE(CAST(h.n_hit AS DOUBLE) / h.n_sh, 0.0)
              < {_DECONTAM_TAU}
    )
    SELECT lang,
           CASE WHEN {_SPLIT_EXPR} < {_TRAIN_PCT} THEN 'train'
                WHEN {_SPLIT_EXPR} < {_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM clean GROUP BY 1, 2
    """


@query("pipeline_corpus_curate", oracle=_CURATE_ORACLE, tier="P1")
def pipeline_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus CURATION — the sequel to
    pipeline_corpus_clean, composing this module's stages in one
    declarative lineage:

      1. REPETITION GATE — map-only (dup-token fraction from array
         size vs distinct size; no explode, no shuffle), which also
         excludes the eval slice from the training corpus.
      2. EXACT DEDUP     — one hash-group on text, min-id-wins.
      3. DECONTAMINATION — trigram inverted-index join vs the eval
         slice's shingle set; zero-shingle docs are kept (a doc with
         no trigrams can't be contaminated).
      4. SPLIT + BUDGET  — hash-keyed train/val/test assignment and
         the per-(lang, split) doc/token budget a training job
         consumes.

    Catalyst pipelines stage 1 into the dedup scan (no intermediate
    materialization); total cost is one shuffle on text, one
    inverted-index join, and one bounded-key agg — each individually
    audited for 100 TB in its standalone operator.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("bigint")
    dup_ratio = (n - F.size(F.array_distinct(toks)).cast("bigint")).cast(
        "double"
    ) / n
    gated = docs.filter(
        (F.col("doc_id") % _EVAL_MOD != 0) & (dup_ratio <= _REP_DUP_TAU)
    ).select("doc_id", "text", "lang", n.alias("n_tok"))

    survivors = gated.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_tok", "doc_id").alias("n_tok"),
    )

    sh = survivors.select(
        "doc_id",
        F.explode(_word_trigrams(F.split(F.col("text"), " "))).alias("shingle"),
    )
    eval_sh = (
        docs.where(F.col("doc_id") % _EVAL_MOD == 0)
        .select(
            F.explode(_word_trigrams(F.split(F.col("text"), " "))).alias(
                "shingle"
            )
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hits = (
        sh.join(eval_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("hit").alias("n_hit"),
        )
    )
    clean = survivors.join(hits, "doc_id", "left").filter(
        F.coalesce(
            F.col("n_hit").cast("double") / F.col("n_sh"), F.lit(0.0)
        )
        < _DECONTAM_TAU
    )

    bucket = (
        (F.col("doc_id") % POLY_M) * F.lit(_MIX_A).cast("bigint")
    ) % POLY_M % 100
    return (
        clean.select(
            "lang",
            "n_tok",
            F.when(bucket < _TRAIN_PCT, "train")
            .when(bucket < _VAL_PCT, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .select("lang", "split", "n_docs", "n_tokens")
    )


# ---------------------------------------------------------------------------
# Mixture reweighting across languages

_MIXTURE_ORACLE = """
    WITH per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    totals AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
               CAST(COUNT(*) AS BIGINT) AS n_langs
        FROM per_lang
    )
    SELECT lang, n_docs, n_tokens,
           CAST(n_docs AS DOUBLE) / tot_docs AS corpus_share,
           CAST(tot_docs AS DOUBLE) / (n_langs * n_docs) AS uniform_weight
    FROM per_lang, totals
    """


@query("corpus_mixture_weights", oracle=_MIXTURE_ORACLE, tier="P2")
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus mixture report: doc/token counts, the
    language's share of the corpus, and the sampling weight that would
    rebalance training to a uniform language mixture
    (``weight_l = (1/K) / share_l``) — the number a data-mixing job
    multiplies into per-document sampling probabilities.

    One partial/final agg to a |langs|-row table, then a single-row
    grand total joined back — the total is one row at ANY scale, so
    the broadcast is bounded (unlike dimension tables, which the
    CLAUDE.md rule rightly forbids broadcasting).  All ratios are
    identical-operand divisions of exact ints — unrounded.
    """
    docs = load(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    totals = per_lang.agg(
        F.sum("n_docs").cast("bigint").alias("tot_docs"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return per_lang.join(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("tot_docs")).alias(
            "corpus_share"
        ),
        (
            F.col("tot_docs").cast("double")
            / (F.col("n_langs") * F.col("n_docs"))
        ).alias("uniform_weight"),
    )


_TEMP_ALPHA = 0.3  # exponent alpha = 1/T; 0.3 is the mT5/XLM-R default


@query(
    "corpus_mixture_temperature",
    oracle=f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM per_lang),
    shares AS (
        SELECT lang, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / tot_tokens AS token_share,
               pow(CAST(n_tokens AS DOUBLE) / tot_tokens, {_TEMP_ALPHA}) AS p
        FROM per_lang, tot
    ),
    z AS (SELECT SUM(p) AS z FROM shares)
    SELECT lang, n_docs, n_tokens, token_share,
           round(p / z, 6) AS temp_weight,
           round((p / z) / token_share, 6) AS boost
    FROM shares, z
    """,
    tier="P2",
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights — the multilingual
    training standard (mT5 / XLM-R: q_l ∝ p_l^alpha with alpha = 1/T):
    upsample low-resource languages without flattening to uniform.
    alpha = 1 reproduces natural token shares; alpha → 0 approaches
    uniform; 0.3 (here) is the published default.  Emits per language:
    counts, natural token share, the temperature weight q_l, and the
    boost q_l / p_l a sampler multiplies into per-document keep
    probabilities (boost > 1 = upsampled).  Complements
    corpus_mixture_weights (the uniform-rebalance report, alpha = 0
    in this family) and corpus_token_budget (hard per-lang budgets).

    Scale shape: one partial/final agg to a |langs|-row table, a 1-row
    grand total, then a second 1-row normalizer Σ p_l^alpha joined
    back — every broadcast side is bounded by language cardinality or
    is a single row at ANY corpus size.  token_share is an
    identical-operand division of exact int64 sums (unrounded);
    temp_weight and boost pass through pow(), which the two engines
    take from different libm implementations — rounded @6 per the
    exprs.py boundary rule.
    """
    docs = load(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    totals = per_lang.agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens")
    )
    shares = per_lang.join(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot_tokens")).alias(
            "token_share"
        ),
        F.pow(
            F.col("n_tokens").cast("double") / F.col("tot_tokens"),
            F.lit(_TEMP_ALPHA),
        ).alias("p"),
    )
    z = shares.agg(F.sum("p").alias("z"))
    return shares.join(F.broadcast(z)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "token_share",
        F.round(F.col("p") / F.col("z"), 6).alias("temp_weight"),
        F.round((F.col("p") / F.col("z")) / F.col("token_share"), 6).alias(
            "boost"
        ),
    )


_BUDGET_TOKENS = 200_000  # global training-token budget to allocate


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_langs FROM per_lang)
    SELECT lang, n_docs, n_tokens,
           CAST({_BUDGET_TOKENS} // n_langs AS BIGINT) AS budget_tokens,
           least(1.0, CAST({_BUDGET_TOKENS} // n_langs AS DOUBLE) / n_tokens)
               AS sample_rate,
           CAST(least(CAST({_BUDGET_TOKENS} // n_langs AS BIGINT), n_tokens)
                AS BIGINT) AS expected_tokens,
           n_tokens < {_BUDGET_TOKENS} // n_langs AS under_budget
    FROM per_lang, tot
    """,
    tier="P2",
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation: split a global training budget evenly
    across languages and derive each language's sampling rate — the
    arithmetic a data-mixing job runs before sampling (see
    corpus_mixture_weights for the share/weight report; this operator
    turns shares into an executable per-language plan).

    Per language: budget_l = B // K (exact integer division),
    sample_rate = min(1, budget_l / tokens_l), expected kept tokens,
    and an under_budget flag for languages too small to fill their
    slice (their surplus re-allocation is a second pass of the same
    shape).  One partial/final agg to a |langs|-row table plus a
    1-row broadcast — bounded at any corpus size; the rates feed
    sample_bernoulli_hash-style map-only keep decisions downstream.
    """
    docs = load(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    tot = per_lang.agg(F.count(F.lit(1)).alias("n_langs"))
    budget = F.expr(f"{_BUDGET_TOKENS} div n_langs")
    return per_lang.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        budget.cast("bigint").alias("budget_tokens"),
        F.least(
            F.lit(1.0), budget.cast("double") / F.col("n_tokens")
        ).alias("sample_rate"),
        F.least(budget.cast("bigint"), F.col("n_tokens")).alias("expected_tokens"),
        (F.col("n_tokens") < budget).alias("under_budget"),
    )


@query(
    "corpus_eval_leakage",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
                   list_transform(range(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' '
                            || string_split(text, ' ')[i + 1] || ' '
                            || string_split(text, ' ')[i + 2])))
               AS shingle
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_EVAL_MOD} <> 0),
    ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {_EVAL_MOD} = 0)
    SELECT ev.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(train.shingle) AS BIGINT) AS n_leaked,
           CAST(COUNT(train.shingle) AS DOUBLE) / COUNT(*) AS leak_ratio,
           CAST(COUNT(train.shingle) AS DOUBLE) / COUNT(*)
               >= {_DECONTAM_TAU} AS leaked
    FROM ev LEFT JOIN train USING (shingle)
    GROUP BY ev.doc_id
    """,
    tier="P2",
)
def corpus_eval_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side leakage report — the REVERSE direction of
    corpus_decontam_ngram: per EVAL document, the fraction of ITS
    distinct trigrams that appear anywhere in the training slice.
    This is the direction benchmark papers actually report (an eval
    example is compromised when >= tau of its n-grams leak from
    training); the train-side twin instead flags training docs to
    drop.  Both directions share one shingling pass shape.

    Same scale story as the twin: inverted-index equi-join on the
    shingle string, never doc x doc; here the DISTINCT side is the
    training corpus, which grows — so the join is a shuffle join at
    any scale (nothing broadcastable), with map-side partial counts
    per eval doc.  Ratio divides two identically-computed counts —
    unrounded per the exprs.py boundary rule.
    """
    docs = load(spark, sf_dir, "documents").where(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    shingles = docs.select(
        "doc_id",
        F.explode(_word_trigrams(F.split(F.col("text"), " "))).alias("shingle"),
    )
    train_sh = (
        shingles.where(F.col("doc_id") % _EVAL_MOD != 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    eval_sh = shingles.where(F.col("doc_id") % _EVAL_MOD == 0)
    ratio = F.col("n_leaked").cast("double") / F.col("n_shingles")
    return (
        eval_sh.join(train_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_leaked"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_leaked",
            ratio.alias("leak_ratio"),
            (ratio >= _DECONTAM_TAU).alias("leaked"),
        )
    )


# Epoch shuffle: deterministic per-epoch training order, sharded
_SHUFFLE_EPOCHS = 3
_SHUFFLE_SHARDS = 8
# Knuth multiplicative mixer + a small odd epoch mixer, independent of
# sample_bernoulli_hash's line-number mixer so the two keyed decisions
# (keep/drop and ordering) are uncorrelated.
_SHUFFLE_A = 2654435761
_SHUFFLE_B = 97531

_EPOCH_SHUFFLE_ORACLE = f"""
    WITH epochs AS (
        SELECT unnest(generate_series(1, {_SHUFFLE_EPOCHS})) AS epoch
    ),
    keyed AS (
        SELECT d.doc_id, e.epoch,
               ((d.doc_id % {POLY_M}) * {_SHUFFLE_A}
                + e.epoch * {_SHUFFLE_B}) % {POLY_M} AS shuffle_key
        FROM documents d CROSS JOIN epochs e
    )
    SELECT CAST(epoch AS INT) AS epoch,
           shuffle_key % {_SHUFFLE_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY epoch, shuffle_key % {_SHUFFLE_SHARDS}
               ORDER BY shuffle_key, doc_id
           ) AS INT) AS shard_pos,
           doc_id, shuffle_key
    FROM keyed
"""


@query("corpus_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE, tier="P2")
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training order: every document gets,
    per epoch, a pseudorandom shard and a within-shard position —
    the (epoch, shard, shard_pos) triple IS the training data order a
    loader replays, with a different permutation each epoch and
    bit-identical results across engines, reruns, and re-shardings
    (no RNG; the key is exact int64 arithmetic on (doc_id, epoch)).

    100 TB design: the epoch fan-out is a map-side explode (no join —
    a literal 3-row build side would trip the BNLJ audit and shuffle
    for nothing), shard assignment is map-only arithmetic, and the
    only shuffle is the window's partitionBy(epoch, shard).  Position
    is ranked WITHIN a shard, never globally: a global ORDER BY would
    funnel the corpus through a range sort per epoch, while shards
    (scaled so corpus/shards stays executor-sized — 8 here, thousands
    at 100 TB) bound every sort partition, exactly how training-shard
    writers lay out data.  Mod-before-multiply keeps the key product
    < 2^62, so the arithmetic never overflows on either engine (same
    pattern as sample_bernoulli_hash).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "epoch", F.explode(F.sequence(F.lit(1), F.lit(_SHUFFLE_EPOCHS)))
    ).withColumn(
        "shuffle_key",
        (
            (F.col("doc_id") % POLY_M) * F.lit(_SHUFFLE_A)
            + F.col("epoch").cast("bigint") * F.lit(_SHUFFLE_B)
        )
        % POLY_M,
    )
    w = Window.partitionBy("epoch", "shard").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("shard", F.col("shuffle_key") % _SHUFFLE_SHARDS)
        .select(
            "epoch",
            "shard",
            F.row_number().over(w).alias("shard_pos"),
            "doc_id",
            "shuffle_key",
        )
    )


# Mixture interleave: stride-scheduled deterministic source mixing
_INTERLEAVE_SCALE = 1_000_000_000  # vt = (2r-1)*SCALE div w  stays < 2^62

_MIX_INTERLEAVE_ORACLE = f"""
    WITH weights AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    keyed AS (
        SELECT d.doc_id, d.source, w.w,
               ((d.doc_id % {POLY_M}) * {_SHUFFLE_A}) % {POLY_M}
                   % {_SHUFFLE_SHARDS} AS shard,
               ((d.doc_id % {POLY_M}) * {_SHUFFLE_A}) % {POLY_M} AS okey
        FROM documents d JOIN weights w USING (source)
    ),
    ranked AS (
        SELECT doc_id, source, w, shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY shard, source ORDER BY okey, doc_id
               ) AS BIGINT) AS r
        FROM keyed
    )
    SELECT shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY shard
               ORDER BY (2 * r - 1) * {_INTERLEAVE_SCALE} // w, source, r
           ) AS INT) AS pos,
           doc_id, source,
           (2 * r - 1) * {_INTERLEAVE_SCALE} // w AS vtime
    FROM ranked
"""


@query("corpus_mixture_interleave", oracle=_MIX_INTERLEAVE_ORACLE, tier="P2")
def corpus_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture interleave: orders documents so every
    prefix of the training stream carries the sources in proportion to
    their corpus share (stride scheduling — source s with weight w
    emits its r-th doc at virtual time (2r-1)/(2w); merging by virtual
    time yields the proportional round-robin trainers want, instead of
    the per-source report corpus_mixture_weights stops at).

    Exactness: virtual time is computed as (2r-1)*SCALE div w in int64
    (operands < 2^62; both engines truncate positive integer division
    identically), so the interleave — including every tie, broken by
    (source, r) — is bit-identical across engines and reruns.

    100 TB design: interleave positions are ranked WITHIN a
    pseudorandom shard, not globally — shard assignment is map-only
    key arithmetic, so each shard receives an unbiased sample of every
    source and its local stride order matches the global mixture in
    expectation, while every window sort stays executor-sized (shards
    scale with the corpus; 8 here).  The weights side is a per-source
    count — bounded by source-vocabulary cardinality, not corpus size
    — hence broadcastable (same bounded-dim argument as
    corpus_token_budget's per-language table).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    weights = docs.groupBy("source").agg(F.count(F.lit(1)).alias("w"))
    okey = ((F.col("doc_id") % POLY_M) * F.lit(_SHUFFLE_A)) % POLY_M
    keyed = (
        docs.join(F.broadcast(weights), "source")
        .withColumn("okey", okey)
        .withColumn("shard", F.col("okey") % _SHUFFLE_SHARDS)
    )
    r = F.row_number().over(
        Window.partitionBy("shard", "source").orderBy("okey", "doc_id")
    ).cast("bigint")
    ranked = keyed.withColumn("r", r)
    vtime = F.expr(f"(2 * r - 1) * {_INTERLEAVE_SCALE} div w")
    return ranked.select(
        "shard",
        F.row_number()
        .over(Window.partitionBy("shard").orderBy(vtime, "source", "r"))
        .alias("pos"),
        "doc_id",
        "source",
        vtime.alias("vtime"),
    )


_DSIR_DIM = 1024  # hashed-feature buckets (fixed-width, broadcastable)
_DSIR_TARGET = "src0"  # stand-in "high-quality target" source

_DSIR_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
    FROM documents
), b AS (
    SELECT doc_id, source,
           CAST({o_poly_hash('token')} % {_DSIR_DIM} AS INT) AS bucket
    FROM tok
), tf AS (
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf
    FROM b GROUP BY doc_id, bucket
), tgt AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
    FROM b WHERE source = '{_DSIR_TARGET}' GROUP BY bucket
), raw AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr
    FROM b GROUP BY bucket
), nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS n_t FROM tgt),
nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_r FROM raw),
ratio AS (
    SELECT raw.bucket,
           ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
              / CAST(n_t + {_DSIR_DIM} AS DOUBLE))
         - ln(CAST(raw.cr + 1 AS DOUBLE)
              / CAST(n_r + {_DSIR_DIM} AS DOUBLE)) AS lr
    FROM raw
    LEFT JOIN tgt USING (bucket)
    CROSS JOIN nt CROSS JOIN nr
)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       round(SUM(CAST(tf.tf AS DOUBLE) * ratio.lr), 6) AS dsir_weight
FROM tf JOIN ratio USING (bucket)
GROUP BY tf.doc_id
"""


@query("corpus_dsir_weights", oracle=_DSIR_ORACLE, tier="P2")
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the log-likelihood ratio of its hashed-unigram features under a
    TARGET distribution (here the src0 slice, standing in for the
    curated high-quality corpus) versus the RAW corpus distribution.
    Sampling proportionally to exp(weight) reshapes 100 TB of raw crawl
    toward the target domain without training a classifier — this
    query IS the published method's feature-extraction + scoring pass,
    Laplace-smoothed ((count+1) / (N+B)) exactly as in the paper.

    Plan shape, and the 100 TB argument: ONE token pass (the per-doc
    hashed-bucket tf with map-side combine; global and target bucket
    counts are re-aggregated from that compact output through a reused
    exchange), then the bucket log-ratio table — FIXED at B=1024 rows by
    construction, so unlike a vocabulary it is legitimately
    broadcastable at any corpus size (the hashing trick's whole point;
    contrast text_tfidf, whose df side grows with vocabulary and must
    not be broadcast).  The scoring join is therefore map-only: the
    single real shuffle is the per-(doc, bucket) partial aggregation.
    The bucket hash is the cross-engine-exact polynomial hash; counts
    and ratios are exact-int until the final ln, whose libm path and
    summation order differ between engines, so dsir_weight alone is
    rounded at 6 (same contract as text_unigram_logprob's entropy).
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    b = tok.select(
        "doc_id",
        "source",
        (poly_hash("token") % _DSIR_DIM).cast("int").alias("bucket"),
    )
    # ONE tokenize+hash pass: source is functionally dependent on
    # doc_id, so carrying it through the per-(doc, bucket) aggregate is
    # free, and both corpus-level bucket counts derive from the compact
    # tf output (|docs|·|buckets| rows, not token-count rows).  The
    # three consumers of tf share one identical exchange, which Spark's
    # exchange-reuse collapses to a single physical execution — the
    # corpus is scanned, split, and polynomial-hashed exactly once.
    tf = b.groupBy("doc_id", "source", "bucket").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # Both corpus distributions in ONE conditional aggregation over the
    # compact tf output (≤ |docs|·B rows): per bucket, cr = all tokens,
    # ct = target-slice tokens — no second corpus pass, no left join
    # (an absent-from-target bucket naturally sums ct to 0).
    stats = tf.groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("cr"),
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET, F.col("tf")).otherwise(0)
        )
        .cast("bigint")
        .alias("ct"),
    )
    totals = stats.agg(
        F.sum("ct").cast("bigint").alias("n_t"),
        F.sum("cr").cast("bigint").alias("n_r"),
    )
    ratio = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("n_t") + _DSIR_DIM).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("n_r") + _DSIR_DIM).cast("double")
            )
        ).alias("lr"),
    )
    return (
        tf.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("tf").cast("double") * F.col("lr")), 6).alias(
                "dsir_weight"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Relative quality gate: keep the top share of each language by score

_GATE_KEEP = 0.80  # keep the top 80% of each language
# The same keep share as an EXACT integer fraction (4/5): the
# threshold twin's target count must be integer arithmetic end-to-end
# (the CLAUDE.md exact-τ rule — ceil(0.8·n) via floats evaluates
# 0.7999…·n on some n and lands one rank short).
_GATE_KEEP_NUM, _GATE_KEEP_DEN = 4, 5
assert _GATE_KEEP_NUM / _GATE_KEEP_DEN == _GATE_KEEP
_GATE_STOPWORDS = ("the", "a", "and", "of", "to", "in")
_GATE_STOP_SQL = ", ".join(f"'{w}'" for w in _GATE_STOPWORDS)

# Shared scoring CTE — used verbatim by the percent_rank gate and its
# threshold twin so the two oracles can never drift.
_GATE_SCORED_CTE = f"""scored AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t IN ({_GATE_STOP_SQL}))) AS BIGINT)
                   AS n_stop,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t IN ({_GATE_STOP_SQL}))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS score
        FROM documents
    )"""


def _gate_scored(docs: DataFrame) -> DataFrame:
    """Map-only quality scoring pass — the Spark twin of
    ``_GATE_SCORED_CTE`` (stopword-ratio score per document), shared by
    the percent_rank gate and the threshold twin."""
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array([F.lit(w) for w in _GATE_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        n_stop.cast("bigint").alias("n_stop"),
        (n_stop.cast("double") / F.size(toks)).alias("score"),
    )


@query(
    "corpus_quality_gate",
    oracle=f"""
    WITH {_GATE_SCORED_CTE},
    ranked AS (
        SELECT *,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY score DESC, doc_id) AS pr
        FROM scored
    )
    SELECT doc_id, lang, n_tokens, n_stop, score, pr
    FROM ranked
    WHERE pr <= {_GATE_KEEP}
    """,
    tier="P2",
)
def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language RELATIVE quality gate: score every document
    (stopword ratio — the fluency signal ``text_quality_score``
    established) and keep the top 80% of each language by percentile —
    the curation step that replaces a hand-tuned absolute threshold
    with a distribution-relative one, so a quality cut means the same
    thing in a language whose score distribution sits lower (the
    Gopher/FineWeb-style per-language gating pattern; an absolute
    stopword cut tuned on English would delete most of another
    language's tail).

    Plan: one map-only scoring pass (split + higher-order filter, all
    JVM codegen), then ONE window over lang partitions for
    percent_rank — at 100 TB each language's partition sorts
    independently, so a single heavy language can exceed executor sort
    memory.  The REGISTERED production form for that regime is
    ``corpus_quality_gate_threshold``: the same keep-top-80% semantics
    from a value-bounded (lang, score) histogram — only the histogram
    is ever window-sorted — bound to this op row-for-row by
    tests/test_properties.py::test_threshold_gate_agrees_with_percent_rank_gate
    (and the tie-policy twin).  This percent_rank form stays registered
    as the oracle-exact semantics definition.  Determinism:
    score is one exact-int division (identical-operand, bit-identical
    both engines, stays UNROUNDED per the exprs.py boundary rule);
    the window orders by (score DESC, doc_id) so ranks are tie-free
    and percent_rank = (rank−1)/(n−1) is the identical exact-int
    division in both engines.  No rounding anywhere.
    """
    scored = _gate_scored(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= _GATE_KEEP)
    )


def _gate_thresholds(scored: DataFrame) -> DataFrame:
    """Per-lang exact rank-⌈4n/5⌉ score threshold from the value
    histogram — the |langs|-row model table the threshold gate (batch)
    and stream_quality_gate (stream-static join) both broadcast."""
    hist = scored.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("lang").orderBy(F.col("score").desc())
        ),
    ).withColumn("n_lang", F.sum("cnt").over(Window.partitionBy("lang")))
    target = F.expr(
        f"({_GATE_KEEP_NUM} * n_lang + {_GATE_KEEP_DEN - 1})"
        f" div {_GATE_KEEP_DEN}"
    )
    return (
        cum.filter(F.col("cum") >= target)
        .groupBy("lang")
        .agg(F.max("score").alias("thr"))
    )


def _threshold_gate(scored: DataFrame) -> DataFrame:
    """The scale-safe gate core over any scored-shaped frame
    (doc_id, lang, n_tokens, n_stop, score) — split out so property
    tests can drive it with synthetic tie-heavy distributions.

    Exact per-lang quantile WITHOUT a corpus sort: the score histogram
    (one row per DISTINCT (lang, score) value) is value-bounded —
    score is a ratio of two small ints, so its distinct-value count is
    capped by the (n_stop, n_tokens) value space regardless of corpus
    size — and the only Window in the plan sorts THAT histogram.  The
    threshold is the score at the ceil(4n/5)-th rank from the top
    (integer arithmetic, ties-kept policy), broadcast back as a
    |langs|-row table for a map-side filter.
    """
    thr = _gate_thresholds(scored)
    return scored.join(F.broadcast(thr), "lang").filter(
        F.col("score") >= F.col("thr")
    ).select("doc_id", "lang", "n_tokens", "n_stop", "score", "thr")


# Shared by the batch threshold gate and its streaming twin
# (stream_quality_gate replays the same map-side gate over a file
# stream — identical output set, so one oracle serves both).
_GATE_THRESHOLD_ORACLE = f"""
    WITH {_GATE_SCORED_CTE},
    hist AS (
        SELECT lang, score, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM scored GROUP BY lang, score
    ),
    cum AS (
        SELECT lang, score,
               SUM(cnt) OVER (PARTITION BY lang ORDER BY score DESC) AS cum,
               SUM(cnt) OVER (PARTITION BY lang) AS n_lang
        FROM hist
    ),
    thr AS (
        SELECT lang, MAX(score) AS thr
        FROM cum
        WHERE cum >= ({_GATE_KEEP_NUM} * n_lang + {_GATE_KEEP_DEN - 1})
                     // {_GATE_KEEP_DEN}
        GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.n_stop, s.score, t.thr
    FROM scored s JOIN thr t ON s.lang = t.lang
    WHERE s.score >= t.thr
    """


@query(
    "corpus_quality_gate_threshold",
    oracle=_GATE_THRESHOLD_ORACLE,
    tier="P2",
)
def corpus_quality_gate_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of ``corpus_quality_gate``: same per-language
    relative quality cut, formulated as exact-quantile threshold +
    broadcast + map-side filter instead of a full per-lang percent_rank
    sort — the production form the original's docstring names, now
    registered (round-8 verdict task #1).

    Why the twin exists: the percent_rank gate's window partitions by
    lang, so its parallelism is capped at |languages| no matter the
    cluster size, and at 100 TB a single language's partition is
    terabytes through one task's sorter (the measured µs/row 12.1→35.2
    ceiling at the 1000× probe tier).  This plan never sorts doc rows:
    pass 1 aggregates the corpus to a per-(lang, score) histogram
    (map-side combine; value-bounded cardinality — score is a ratio of
    two small ints), sorts ONLY that histogram to find the exact
    rank-⌈4n/5⌉ threshold per lang, and pass 2 re-scans the corpus with
    a broadcast |langs|-row threshold table and a map-side filter.  Two
    linear passes, no corpus-sized shuffle at all.

    Semantics vs the percent_rank twin: the threshold gate keeps ALL
    docs tied at the boundary score (ties-kept, ≥ ⌈0.8·n⌉ kept) where
    percent_rank tie-breaks by doc_id (exactly ⌊0.8·(n−1)⌋+1 kept) —
    identical kept-sets whenever no tie straddles the boundary;
    tests/test_properties.py asserts the kept-set symmetric difference
    is confined to boundary-score docs.  Target rank is INTEGER
    arithmetic (⌈4n/5⌉ = (4n+4) div 5) per the exact-τ CLAUDE.md rule.
    Output adds the per-lang threshold column (thr) — the artifact a
    production gate persists — in place of per-doc percentile.

    [MEASURED, round 9] µs/row FLAT across three probe decades —
    26.6 (10×) → 18.1 (100×) → 18.07 (1000×) — where the percent_rank
    twin rises 12.1 → 35.2; 1000× wall 90.35 s vs the twin's 140.71 s
    (docs/SCALE.md).  The sort ceiling is gone from the plan, not just
    the docstring.
    """
    return _threshold_gate(_gate_scored(load(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Fuzzy decontamination: MinHash-LSH near-match removal vs the eval set

_FUZZY_DECONTAM_TAU = 0.9  # flag a training doc near-matching eval >= this
# EXACT-INT size-ratio prune operands (the _JAC_TAU_NUM discipline:
# float forms like floor((1-tau)*n) evaluate low at decade boundaries).
_FUZZY_TAU_NUM, _FUZZY_TAU_DEN = 9, 10
assert _FUZZY_TAU_NUM / _FUZZY_TAU_DEN == _FUZZY_DECONTAM_TAU


def _fuzzy_decontam_oracle() -> str:
    # NOT collapsed (round 12, measured): the directional train×eval
    # band join keeps `cand` tiny, so the collapsed replay LOSES at
    # sf0.1 (5.4 s vs 1.3 s) — see dedup._collapsed_minhash_ctes,
    # which only the undirected full-corpus minhash oracle adopts.
    from powertrainstreaming_spark.operators.dedup import _MINHASH_SIG_CTES

    return f"""
    WITH {_MINHASH_SIG_CTES},
    cand AS (SELECT DISTINCT a.doc_id AS doc_t, b.doc_id AS doc_e
             FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
             WHERE a.doc_id % {_EVAL_MOD} != 0 AND b.doc_id % {_EVAL_MOD} = 0),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM toks GROUP BY doc_id),
    inter AS (SELECT c.doc_t, c.doc_e, CAST(COUNT(*) AS BIGINT) AS i
              FROM cand c
              JOIN toks a ON a.doc_id = c.doc_t
              JOIN toks b ON b.doc_id = c.doc_e AND a.token = b.token
              GROUP BY 1, 2),
    ver AS (SELECT doc_t,
                   round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS j
            FROM inter
            JOIN sizes sa ON doc_t = sa.doc_id
            JOIN sizes sb ON doc_e = sb.doc_id
            WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6)
                  >= {_FUZZY_DECONTAM_TAU})
    SELECT doc_t AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
           MAX(j) AS max_jaccard
    FROM ver GROUP BY doc_t
    """


@query("corpus_decontam_minhash", oracle=_fuzzy_decontam_oracle(), tier="P2")
def corpus_decontam_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: flag every training document
    whose token-set Jaccard against ANY eval-slice document is ≥ 0.9 —
    the near-duplicate contamination the exact-trigram gate
    (``corpus_decontam_ngram``) and the Bloom twin can miss when a
    benchmark item was lightly paraphrased or re-wrapped before it
    leaked into the crawl (the GPT-3 appendix-C / Dolma-style fuzzy
    decontam pass).  Output: one row per contaminated training doc
    with its eval-match count and the strongest match score.

    Plan shape, composing the house near-dup discipline end-to-end:
    (1) exact-duplicate COLLAPSE first (CLAUDE.md rule — m verbatim
    clones would otherwise amplify every LSH bucket m²-fold): the
    family's one ``_collapse_sets``, with train and eval member lists
    split by role, so distinct token sets become one representative
    each, multiplicity hard-capped, and the group table is
    localCheckpointed once for its four consumers; (2) banded MinHash
    (k=32, 4×8 — the shared _MINHASH_SIG_CTES family) computed ONCE
    PER DISTINCT SET from the stored code arrays (``_rep_hashes``: h =
    code div 2³¹ recovers the primary hash bit-exactly — no
    re-tokenization pass); (3) candidates = the family's one
    ``_first_match_band_join`` (a pair is emitted only from its lowest
    matching band — exactly-once, no pair-stream .distinct() exchange)
    with THREE lossless prunes as its extra join condition: the
    EXACT-INT size-ratio bound
    (9·max ≤ 10·min, the _JAC_TAU_NUM discipline), and bears-train/
    bears-eval flags so only pairs that can expand to a (train, eval)
    output leg ship to the verify — never an all-pairs product; (4)
    exact verify on the packed code arrays (array_intersect, |pairs|
    rows);
    (5) expand representatives back to (train, eval) member pairs,
    including the within-group arm (a train doc VERBATIM-equal to an
    eval doc is the most contaminated case of all — Jaccard literal
    1.0, the value the oracle's arithmetic produces).  The oracle
    replays the UNCOLLAPSED pipeline (signatures per doc) — identical
    sets produce identical signatures, so collapse is output-invariant
    and the oracle double-checks that equivalence at two scales.
    At 100 TB the eval side is a fixed benchmark suite (bounded), so
    every eval-bearing group structure broadcasts and the pass is
    corpus-linear; the fixture's eval slice grows with sf, so no
    broadcast hint is planted (same policy as the exact-trigram op).
    Banding recall at τ=0.9 is 1−(1−0.9⁸)⁴ ≈ 0.90 per true pair —
    verified pairs are exact, and a production gate wanting recall
    ≥0.99 at τ=0.9 re-bands to 16×2 (the b/r knob, not a new design).
    """
    from powertrainstreaming_spark.operators.dedup import (
        _MINHASH_B,
        _band_sigs_wide_from_h,
        _collapse_sets,
        _doc_tokens,
        _first_match_band_join,
        _rep_hashes,
        _role_members,
        _size_ratio_prune,
    )

    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    grp = _collapse_sets(
        _doc_tokens(spark, sf_dir),
        "fuzzy-decontam",
        _role_members(~is_eval, "train_members"),
        _role_members(is_eval, "eval_members"),
    )
    # Band each DISTINCT set once from its code array, then the
    # family's one first-match band join (exactly-once candidate
    # emission, no pair-stream .distinct() exchange).  Each side also
    # carries three lossless candidate prunes as scalar columns:
    #   n  — set size, for the EXACT-INT size-ratio prune (J ≥ 0.9
    #        forces 9·max ≤ 10·min; verified output unchanged);
    #   ht/he — bears-train / bears-eval flags: a pair expands to
    #        output only via train(A)×eval(B) or train(B)×eval(A), so
    #        (hta ∧ heb) ∨ (htb ∧ hea) keeps exactly the pairs
    #        that can emit rows (train-only×train-only LSH collisions
    #        previously rode all the way through the array verify).
    meta = grp.select(
        F.col("rep").alias("doc_id"),
        F.size("codes").alias("n"),
        (F.size("train_members") >= 1).alias("ht"),
        (F.size("eval_members") >= 1).alias("he"),
    )
    sigs = _band_sigs_wide_from_h(_rep_hashes(grp)).join(meta, "doc_id")
    cand = _first_match_band_join(
        sigs,
        sigs,
        ("rep_a", "rep_b"),
        _MINHASH_B,
        (F.col("rep_a") < F.col("rep_b"))
        & _size_ratio_prune(_FUZZY_TAU_NUM, _FUZZY_TAU_DEN)
        & ((F.col("hta") & F.col("heb")) | (F.col("htb") & F.col("hea"))),
        carry=("n", "ht", "he"),
    )
    ga = grp.select(
        F.col("rep").alias("rep_a"),
        F.col("codes").alias("codes_a"),
        F.col("train_members").alias("train_a"),
        F.col("eval_members").alias("eval_a"),
    )
    gb = grp.select(
        F.col("rep").alias("rep_b"),
        F.col("codes").alias("codes_b"),
        F.col("train_members").alias("train_b"),
        F.col("eval_members").alias("eval_b"),
    )
    i = F.size(F.array_intersect("codes_a", "codes_b"))
    verified = (
        cand.join(ga, "rep_a")
        .join(gb, "rep_b")
        .withColumn(
            "j",
            F.round(
                i.cast("double")
                / (F.size("codes_a") + F.size("codes_b") - i),
                6,
            ),
        )
        .filter(F.col("j") >= _FUZZY_DECONTAM_TAU)
    )
    # Expand both directions: train(A)×eval(B) and train(B)×eval(A).
    leg1 = verified.select(
        F.explode("train_a").alias("doc_id"),
        F.col("eval_b").alias("evals"),
        "j",
    )
    leg2 = verified.select(
        F.explode("train_b").alias("doc_id"),
        F.col("eval_a").alias("evals"),
        "j",
    )
    cross = (
        leg1.unionAll(leg2)
        .select("doc_id", F.explode("evals").alias("eval_id"), "j")
    )
    within = (
        grp.filter(
            (F.size("train_members") >= 1) & (F.size("eval_members") >= 1)
        )
        .select(
            F.explode("train_members").alias("doc_id"),
            F.col("eval_members").alias("evals"),
        )
        .select(
            "doc_id",
            F.explode("evals").alias("eval_id"),
            F.lit(1.0).alias("j"),
        )
    )
    return (
        cross.unionAll(within)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("j").alias("max_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing: head / middle / tail per language

_PPL_BUCKETS = 3  # head / middle / tail


# Shared cross-entropy scoring CTEs — used verbatim by the ntile
# bucketing op and its threshold-cuts twin so the two oracles can
# never drift.
_PPL_SCORED_CTES = """tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    corpus AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM corpus),
    tf AS (
        SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, lang, token
    ),
    scored AS (
        SELECT tf.doc_id, tf.lang,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               round(-SUM(CAST(tf.tf AS DOUBLE)
                          * ln(CAST(c.cnt AS DOUBLE)
                               / CAST(t.n_total AS DOUBLE)))
                     / CAST(SUM(tf.tf) AS DOUBLE), 6) AS ce
        FROM tf JOIN corpus c ON tf.token = c.token CROSS JOIN total t
        GROUP BY tf.doc_id, tf.lang
    )"""


def _ppl_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM cross-entropy — the Spark twin of
    ``_PPL_SCORED_CTES`` (doc_id, lang, n_tokens, ce), shared by the
    ntile bucketing op and the threshold-cuts twin."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    corpus = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = corpus.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    tf = tok.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    ln_p = F.log(
        F.col("cnt").cast("double") / F.col("n_total").cast("double")
    )
    n = F.sum("tf").cast("bigint")
    ce = -F.sum(F.col("tf").cast("double") * ln_p) / n.cast("double")
    return (
        tf.join(corpus, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(n.alias("n_tokens"), F.round(ce, 6).alias("ce"))
    )


@query(
    "corpus_perplexity_buckets",
    oracle=f"""
    WITH {_PPL_SCORED_CTES},
    bucketed AS (
        SELECT *, ntile({_PPL_BUCKETS}) OVER (
                   PARTITION BY lang ORDER BY ce, doc_id) AS bucket
        FROM scored
    )
    SELECT lang, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(ce AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_ce,
           MIN(ce) AS min_ce, MAX(ce) AS max_ce
    FROM bucketed
    GROUP BY lang, bucket
    """,
    tier="P2",
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document's cross-entropy under the corpus unigram LM
    (``text_unigram_logprob``'s model), split each language into
    head / middle / tail terciles by ntile over the scored order, and
    report the per-bucket document/token budget — the readout a
    curation team uses to decide how much of each fluency tier to keep
    (CCNet trains on head+middle; the tail is where boilerplate and
    wrong-language text concentrate).

    Plan shape: the unigram scoring pass (two corpus aggregates + one
    vocabulary join — lang rides the tf aggregate as a functionally
    dependent key, no extra join), ONE ntile window per language
    partition, then a |langs|×3-row final aggregate.  At 100 TB the
    per-language ntile sort is the same single-heavy-language risk as
    corpus_quality_gate's; the REGISTERED production form is
    ``corpus_perplexity_bucket_cuts`` (the _bucket_cuts histogram-threshold
    core — no corpus sort), bound to this op by
    tests/test_properties.py::test_bucket_cuts_agree_with_ntile_buckets.
    This ntile form stays registered as the oracle-exact semantics
    definition.  Determinism:
    ce is rounded @6 at the doc level (libm ln + order-dependent sum),
    the ntile orders by (ce, doc_id) — tie-free total order, and both
    engines assign ntile groups by the same SQL rule (first n mod k
    groups one larger).  mean_ce is an exact DECIMAL(18,6) sum of the
    already-rounded ce divided by the bigint count (money_avg
    discipline — order-insensitive, so the final division is
    identical-operand and stays UNROUNDED); min/max are exact column
    values.
    """
    from powertrainstreaming_spark.functions.exprs import money_avg

    scored = _ppl_scored(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("ce", "doc_id")
    return (
        scored.withColumn("bucket", F.ntile(_PPL_BUCKETS).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            money_avg("ce").alias("mean_ce"),
            F.min("ce").alias("min_ce"),
            F.max("ce").alias("max_ce"),
        )
    )


def _bucket_cuts(scored: DataFrame) -> DataFrame:
    """The scale-safe tercile-assignment core over any scored-shaped
    frame (doc_id, lang, n_tokens, ce) — split out so property tests
    can drive it with synthetic tie-heavy distributions.

    Exact per-lang ntile cut positions WITHOUT a corpus sort: the ce
    histogram (one row per DISTINCT (lang, ce)) is value-bounded — ce
    is rounded @6 over a bounded range, so its distinct-value count has
    a fixed ceiling regardless of corpus size — and the only Window in
    the plan sorts THAT histogram.  Cut values t_j = the ce at rank
    ⌈j·n/3⌉ (integer arithmetic); docs bucket by two broadcast
    comparisons, map-side.  Ties at a cut all land in the lower bucket
    (ties-together policy) where ntile splits them by doc_id.
    """
    from powertrainstreaming_spark.functions.exprs import money_avg

    hist = scored.groupBy("lang", "ce").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("lang").orderBy("ce"))
    ).withColumn("n_lang", F.sum("cnt").over(Window.partitionBy("lang")))
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n_lang + 2) div 3"), F.col("ce"))
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n_lang + 2) div 3"), F.col("ce")
            )
        ).alias("t2"),
    )
    bucket = (
        F.when(F.col("ce") <= F.col("t1"), 1)
        .when(F.col("ce") <= F.col("t2"), 2)
        .otherwise(3)
        .cast("int")
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            money_avg("ce").alias("mean_ce"),
            F.min("ce").alias("min_ce"),
            F.max("ce").alias("max_ce"),
        )
    )


@query(
    "corpus_perplexity_bucket_cuts",
    oracle=f"""
    WITH {_PPL_SCORED_CTES},
    hist AS (
        SELECT lang, ce, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM scored GROUP BY lang, ce
    ),
    cum AS (
        SELECT lang, ce,
               SUM(cnt) OVER (PARTITION BY lang ORDER BY ce) AS cum,
               SUM(cnt) OVER (PARTITION BY lang) AS n_lang
        FROM hist
    ),
    cuts AS (
        SELECT lang,
               MIN(CASE WHEN cum >= (n_lang + 2) // 3 THEN ce END) AS t1,
               MIN(CASE WHEN cum >= (2 * n_lang + 2) // 3 THEN ce END) AS t2
        FROM cum GROUP BY lang
    ),
    bucketed AS (
        SELECT s.*, CASE WHEN s.ce <= k.t1 THEN 1
                         WHEN s.ce <= k.t2 THEN 2
                         ELSE 3 END AS bucket
        FROM scored s JOIN cuts k ON s.lang = k.lang
    )
    SELECT lang, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(ce AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_ce,
           MIN(ce) AS min_ce, MAX(ce) AS max_ce
    FROM bucketed
    GROUP BY lang, bucket
    """,
    tier="P2",
)
def corpus_perplexity_bucket_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of ``corpus_perplexity_buckets``: the same
    CCNet head/middle/tail readout, formulated as exact-quantile cut
    values + broadcast + map-side bucket assignment instead of a full
    per-lang ntile sort (round-8 verdict task #1 — and the form CCNet
    itself deploys: per-lang perplexity THRESHOLDS, Wenzek et al. 2020
    §4.3, not a global sort of the corpus).

    Why the twin exists: ntile's window partitions by lang, capping
    parallelism at |languages| and pushing a terabyte-scale language
    through one task's sorter at 100 TB (the measured 40× super-linear
    100× probe row).  This plan sorts only the per-(lang, ce) histogram
    — value-bounded at ≤ range/1e-6 rows per lang since ce is rounded
    @6 over a bounded range, and in practice ~|distinct ce| ≪ |docs| —
    then assigns buckets with two broadcast scalar comparisons per doc,
    map-side, and finishes with the same |langs|×3-row rollup.

    Semantics vs the ntile twin: cut ranks are the identical ntile
    positions ⌈j·n/3⌉ (INTEGER arithmetic per the exact-τ rule), but a
    ce-tie group straddling a cut lands together in the lower bucket
    where ntile splits it by doc_id — identical outputs whenever no tie
    straddles a cut; tests/test_properties.py bounds the per-bucket
    count deviation by the straddling tie-group size on synthetic
    tie-heavy data.

    [MEASURED, round 9] 4.2× faster than the ntile twin at 100×
    (18.04 vs 75.07 s) and able to run the 1000× tier at all
    (212.28 s; the twin's per-decade growth priced it out) — the
    residual super-linearity is the unigram-LM vocabulary axis of
    token-disjoint staging, measured as reversing under fixed-vocab
    staging in round 8 (docs/SCALE.md).
    """
    return _bucket_cuts(_ppl_scored(spark, sf_dir))
