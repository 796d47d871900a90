"""Deduplication operators over the documents corpus (SURVEY.md §2.11).

Exact dedup is the first stage of every LLM training-data pipeline:
hash-group on the content key, keep one deterministic representative
per group.  At 100 TB this is a single shuffle on the dedup key with
map-side partial aggregation — never a window sort, and never a
driver-side pass.

The fixtures have no exact duplicate texts at sf≤0.01 (SURVEY.md:300),
so duplicates are synthesized with a self-union; at sf0.1 the corpus
carries real duplicate texts (4992 distinct / 5000 rows [MEASURED]),
which is why the representative must be deterministic (min doc_id via
min_by), not whatever row dropDuplicates happens to keep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import (
    POLY_B2,
    POLY_M,
    POLY_M2,
    o_dot,
    o_poly_fold,
    o_poly_hash,
    poly_fold,
    poly_hash,
)
from powertrainstreaming_spark.operators.similarity import (
    _adaptive_cells,
    _cell_pairs,
    _O_ADAPT_CELLS,
)
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load


@query(
    "dedup_exact",
    oracle="""
    SELECT text,
           arg_min(doc_id, doc_id) AS doc_id,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source,
           arg_min(n_chars, doc_id) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
    GROUP BY text
    """,
    tier="P1",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate removal on documents.text, keeping the min-doc_id
    representative and a copy count.

    ``dropDuplicates(['text'])`` is the one-liner form, but its kept row
    is arbitrary; ``min_by(col, doc_id)`` pins the representative so the
    result is deterministic even when distinct doc_ids share a text (as
    they do at sf0.1).  groupBy+min_by partial-aggregates map-side, so
    the shuffle carries one candidate row per (partition, text) — the
    scalable exact-dedup plan.
    """
    docs = load(spark, sf_dir, "documents")
    uni = docs.unionAll(docs)
    return uni.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_JAC_TAU = 0.95

_JACCARD_ORACLE = f"""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_JAC_TAU}
    """


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, token) pairs — the shared shingle base for
    every near-dup operator."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )


_CODE_BASE = 2_147_483_648  # 2³¹: both poly-hash halves are < 2³¹


def _token_code(col: str = "token") -> Column:
    """The packed int64 token code h1·2³¹ + h2 (two independent
    polynomial hashes) that every near-dup set operator intersects in
    place of token strings — collision and size analysis in
    ``_pair_jaccard``."""
    return poly_hash(col) * F.lit(_CODE_BASE) + poly_hash(col, POLY_B2, POLY_M2)


def _rep_hashes(grp: DataFrame) -> DataFrame:
    """(doc_id = rep, h) per token of each collapsed set: the inverse of
    ``_token_code``'s packing, h = code div 2³¹, recovers the primary
    poly-hash bit-exactly, so banding a collapsed set needs no
    re-tokenization."""
    return grp.select(
        F.col("rep").alias("doc_id"), F.explode("codes").alias("c")
    ).select("doc_id", F.expr(f"c div {_CODE_BASE}").alias("h"))


def _pair_jaccard(toks: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for the given (doc_a, doc_b) pairs.

    PACKED formulation: each doc's distinct tokens are collected into
    one array, the pair list picks up both arrays via two equi-joins
    (|pairs| rows each), and the intersection size is computed
    in-expression with array_intersect — all whole-stage-codegen.

    Why not the textbook per-token join (pairs ⋈ toks_a ⋈ toks_b ON
    token, GROUP BY pair)?  Its second shuffle materializes one row
    per (pair, token-of-A) — Σ|A| over all candidate pairs.  At the
    100× probe tier that is ~10⁹ rows / tens of GB of shuffle spill
    from a 151 MB input (the round-5 probe died on exactly this,
    exhausting local disk).  Packing moves the same information as
    array payload on |pairs| rows: ~50× fewer shuffle rows and no
    per-row Tungsten overhead per token.

    Tokens travel as int64 CODES, not strings: two independent
    polynomial hashes packed into one long (h1·2³¹ + h2 < 2⁶²).  A
    Tungsten string array element costs ~24 B (offset/len word plus
    8-B-padded bytes) vs 8 B for a long — measured 43 GB → ~14 GB of
    100×-tier shuffle for the same pairs.  The code is NOT decoded
    anywhere; equality of codes stands in for equality of tokens.
    Exactness: i differs from the true token intersection only if two
    DISTINCT tokens collide in BOTH hashes — P ≈ |vocab|²/2 / (M1·M2)
    ≈ 5e-11 at gate scale, and the collision would be deterministic
    (same verdict every run), so the DuckDB oracles keep intersecting
    raw tokens and the hash gate itself continuously re-validates the
    no-collision assumption at two scales.
    """
    coded = toks.select("doc_id", _token_code().alias("code"))
    sets_a = coded.groupBy("doc_id").agg(
        F.collect_list("code").alias("toks_a"),
        F.count(F.lit(1)).alias("na"),
    ).select(F.col("doc_id").alias("doc_a"), "toks_a", "na")
    sets_b = coded.groupBy("doc_id").agg(
        F.collect_list("code").alias("toks_b"),
        F.count(F.lit(1)).alias("nb"),
    ).select(F.col("doc_id").alias("doc_b"), "toks_b", "nb")
    i = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        pairs.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                i.cast("double") / (F.col("na") + F.col("nb") - i), 6
            ).alias("jaccard"),
        )
    )


@query("dedup_near_exact", oracle=_JACCARD_ORACLE, tier="P2")
def dedup_near_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ τ near-duplicate pairs on token sets — the
    ground truth for the MinHash twin.  τ=0.95 sits at ~p99 of the
    pair distribution [MEASURED].

    Candidate generation uses PREFIX FILTERING (the PPJoin family):
    order the vocabulary by ascending document frequency; a pair with
    J ≥ τ MUST share a token within the first ⌊(1-τ)·n⌋+1 tokens of
    each side's df-sorted token list (pigeonhole: skipping that prefix
    discards > (1-τ)·n tokens, more than a ≥ τ overlap can afford to
    miss).  So only PREFIX tokens — the rarest per document — enter
    the inverted-index join, and a size-ratio filter (τ·max ≤ min)
    prunes length-incompatible pairs before verification.  Both
    filters are exact: no false negatives, identical result to the
    naive all-sharing-pairs join the oracle computes.

    This is the 100 TB shape: a naive token join explodes on
    stop-token postings (every document shares 'the' with every
    other); the prefix join's posting lists are the df-ordered TAIL of
    the vocabulary, which stays short regardless of corpus size.

    OPERATING ENVELOPE [MEASURED round 7, docs/SCALE.md]: per-row cost
    grows ~3×/decade (5.4 µs/row at 10× → 16.4 at 100×) because the
    exact verify must intersect full token arrays for every surviving
    candidate — the irreducible price of being the ground truth.  Use
    this operator for calibration/audit slices (≤ ~1/10 of the corpus
    minhash handles); ``dedup_near_minhash`` — whose µs/row FALLS
    across the same decade — is the production member of the family.
    Three candidate-side refinements were probed and rejected on
    measurement; see ``_tau_pairs``.
    """
    toks = _doc_tokens(spark, sf_dir)
    return _tau_pairs(toks)


# Hard cap on the exact-duplicate multiplicity one collapse group may
# carry in its members array (~80 MB of int64 ids at the cap), for every
# collapse of the near-dup family and similarity.sim_lsh_rp_pairs'.
_JAC_COLLAPSE_MAX_MULT = 10_000_000

# τ as an EXACT integer fraction (19/20): every candidate-side bound
# (size-ratio prune, prefix length) must be integer arithmetic — the
# CLAUDE.md exact-τ rule.  Found latent here in round 9: the float form
# ``na >= 0.95 * nb`` evaluates 0.95 as 0.95000000000000001…, so a TRUE
# pair with na exactly 19·nb/20 (e.g. 95-token set fully inside a
# 100-token set's overlap budget, J = 0.95 exactly) was rejected at
# candidate time — same failure class as round 8's containment prefix
# bound, caught by inspection this time and pinned by a regression
# property test (tests/test_properties.py).
_JAC_TAU_NUM, _JAC_TAU_DEN = 19, 20
assert _JAC_TAU_NUM / _JAC_TAU_DEN == _JAC_TAU


def _size_ratio_prune(num: int = _JAC_TAU_NUM, den: int = _JAC_TAU_DEN) -> Column:
    """Size-ratio prune over carried set sizes na / nb, EXACT-INT (the
    _JAC_TAU_NUM note): J ≥ num/den forces num·max ≤ den·min, so the
    verified output is unchanged and the array-shipping verify gets
    strictly fewer candidate pairs."""
    return (F.col("na") * den >= F.col("nb") * num) & (
        F.col("nb") * den >= F.col("na") * num
    )


def _role_members(pred: Column, name: str) -> Column:
    """Member aggregate for ``_collapse_sets`` keeping only the doc ids
    that satisfy ``pred`` (one role of a role-split op), sorted."""
    return F.sort_array(
        F.collect_list(F.when(pred, F.col("doc_id")))
    ).alias(name)


def _collapse_cap(label: str, unit: str) -> Column:
    """The duplicate-collapse multiplicity cap, as a filter predicate
    over a collapse group's member count ``m``: fail LOUDLY when one
    ``unit`` (a token set, an embedding) has a verbatim multiplicity
    that would put an unbounded members array in a single aggregation
    row.  assert_true evaluates JVM-side per group and returns NULL on
    success, so the filter keeps every row and adds nothing to the
    result; being a filter predicate it cannot be pruned away like a
    dropped column would be."""
    return F.assert_true(
        F.col("m") <= F.lit(_JAC_COLLAPSE_MAX_MULT),
        F.concat(
            F.lit(
                f"{label} duplicate-collapse cap exceeded: one "
                f"{unit} has multiplicity "
            ),
            F.col("m").cast("string"),
            F.lit(f" > {_JAC_COLLAPSE_MAX_MULT}"),
        ),
    ).isNull()


def _collapse_sets(toks: DataFrame, label: str, *members: Column) -> DataFrame:
    """EXACT-DUPLICATE COLLAPSE (the CLAUDE.md house rule): group
    documents by their exact token-code SET (sorted packed-int64
    array) so everything downstream — banding, candidate joins,
    verification — runs once per DISTINCT set, and member pairs expand
    at the end.  Returns (codes, rep, <members>, m), localCheckpointed
    because every consumer reads it 3+ times (the PageRank pattern).
    ``members`` are the member-list aggregates, by default
    ``collect_list(doc_id) AS members``; the role-split ops
    (corpus_decontam_minhash, sim_containment_join) pass one
    ``_role_members`` list per role instead.  The one collapse of every
    token-set near-dup op; the multiplicity cap fails loudly rather
    than building an unbounded members array.
    """
    sets_ = (
        toks.select("doc_id", _token_code().alias("code"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("code")).alias("codes"))
    )
    return (
        sets_.groupBy("codes")
        .agg(
            F.min("doc_id").alias("rep"),
            *(members or [F.collect_list("doc_id").alias("members")]),
            F.count(F.lit(1)).alias("m"),
        )
        .filter(_collapse_cap(label, "token set"))
        # Materialize the collapse ONCE (PageRank's localCheckpoint
        # pattern): grp feeds candidate generation (several self-derived
        # reads), both verify sides, and the within-group expansion —
        # without a checkpoint the tokenize + two shuffled aggregations
        # above re-execute per consumer ([MEASURED round 7] 32.1 s →
        # the checkpointed run at the 10× tier; ~6 redundant upstream
        # executions eliminated).
        .localCheckpoint()
    )


def _verify_expand(
    cands: DataFrame, grp: DataFrame, tau: float = _JAC_TAU
) -> DataFrame:
    """Exact-Jaccard verify of representative candidate pairs + member
    expansion — the scalar-emitting back half shared by _tau_pairs and
    dedup_near_minhash (the sim_containment_join discipline, round-8
    verdict task #2).

    The packed code arrays are re-attached by rep id as SHUFFLE-HASH
    joins (an SMJ would sort pair rows widened by the token arrays —
    the rp_pairs spill lesson), and the select PROJECTS THE ARRAYS
    AWAY in the same codegen stage the second join runs in: everything
    downstream of the verify — the τ filter, member expansion,
    re-orientation — carries scalars plus the (small, true-output)
    member id lists only.  Cross-group member pairs inherit their
    representative pair's exact Jaccard (J depends only on the two
    sets); within-group pairs are identical sets, emitted at literal
    1.0 — the value the oracle's arithmetic produces (i = na = nb ⇒
    round(i/(na+nb−i), 6) = 1.0).
    """
    return _verify_cross(cands, grp, tau).unionAll(_within_pairs(grp))


def _verify_cross(
    cands: DataFrame, grp: DataFrame, tau: float = _JAC_TAU
) -> DataFrame:
    """The cross-group half of ``_verify_expand``: verify + member
    expansion for representative candidate pairs only.  Split out
    (round 11) so the single-host scale path can run it in sequential
    hash-chunks of the candidate stream — the verify joins' shuffle is
    the resource that killed the 1000× probe in a spill-merge
    transient, and it is exactly 1/K per chunk because every shuffled
    byte downstream of ``cands`` is candidate-pair-proportional.  The
    chunk union is the whole output by construction (a pmod partition
    of ``cands`` partitions the emitted pairs).  The union was asserted
    bit-equal to the one-shot plan at the 10× tier before the 1000×
    run booked a number (docs/SCALE.md, "dedup_near_minhash 1000×:
    LANDED via chunked verify"; script removed, last at 2140ddd), and
    tests/test_properties.py::test_minhash_chunked_verify_equals_one_shot
    pins it at fixture scale."""
    ga = grp.select(
        F.col("rep").alias("doc_a"),
        F.col("codes").alias("codes_a"),
        F.col("members").alias("members_a"),
    )
    gb = grp.select(
        F.col("rep").alias("doc_b"),
        F.col("codes").alias("codes_b"),
        F.col("members").alias("members_b"),
    )
    i = F.size(F.array_intersect("codes_a", "codes_b"))
    return (
        cands.join(ga.hint("shuffle_hash"), "doc_a")
        .join(gb.hint("shuffle_hash"), "doc_b")
        .select(
            "members_a",
            "members_b",
            F.round(
                i.cast("double")
                / (F.size("codes_a") + F.size("codes_b") - i),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
        .select(
            F.explode("members_a").alias("ma"),
            F.col("members_b").alias("mbs"),
            "jaccard",
        )
        .select("ma", F.explode("mbs").alias("mb"), "jaccard")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )


def _within_pairs(grp: DataFrame) -> DataFrame:
    """Within-group member pairs at literal 1.0 — the other half of
    ``_verify_expand``, computed ONCE regardless of how the cross
    verify is chunked (folding it into a chunked loop would emit every
    within-group pair K times)."""
    return (
        grp.filter(F.col("m") >= 2)
        .select(F.explode("members").alias("ma"), "members")
        .select("ma", F.explode("members").alias("mb"))
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("doc_a"),
            F.col("mb").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )


def _tau_pairs(toks: DataFrame) -> DataFrame:
    """All (doc_a < doc_b, jaccard) pairs with exact token-set Jaccard
    ≥ τ — the shared exact-near-dup primitive (dedup_near_exact,
    keep-longest, CC clustering, PageRank, the clean pipeline).
    Three exact filters in series, cheapest first:

    1. EXACT-DUPLICATE COLLAPSE (the CLAUDE.md house rule, the
    rp_pairs pattern): documents are grouped by their exact token-code
    SET (sorted packed-int64 array); everything downstream runs once
    per DISTINCT set, and member pairs are expanded at the end —
    within-group pairs (identical sets, J = 1 by definition) directly,
    cross-group pairs from the verified representative pair,
    re-oriented with least/greatest to honor the doc_a < doc_b
    contract.  Correctness: J(a, b) depends only on the two token
    sets, so every member pair inherits its representative pair's
    exact Jaccard.  [MEASURED round 7, 100× tier] 500,000 docs
    collapse to 393,500 distinct sets (×1.27), cutting candidate
    pairs ~×1.6 quadratically; on a clone-heavier corpus the win
    grows as m² while this plan stays linear in the true output (the
    >230 GB rp_pairs lesson).

    2. PPJoin PREFIX JOIN: only the ⌊(1-τ)·n⌋+1 globally-rarest codes
    per set enter the inverted-index join (pigeonhole: a J ≥ τ pair
    must share a token inside both prefixes), with the size-ratio
    filter (τ·max ≤ min) in the join condition.  Both filters are
    exact — identical result to the naive all-sharing-pairs join the
    oracles compute.

    3. PACKED-ARRAY VERIFY on the distinct candidates: the collapse's
    grouped `codes` arrays ARE the packed token sets _pair_jaccard
    would re-collect, re-attached by rep id as SHUFFLE-HASH joins (an
    SMJ would sort pair rows widened by the token arrays — the
    rp_pairs spill lesson).

    Token identity travels as the same double-poly-hash int64 codes as
    _pair_jaccard (collision analysis there); the prefix join ranks
    codes by document frequency — any GLOBAL total order is exact for
    prefix filtering, so ranking coded tokens instead of strings
    changes only which ties win, not the recall guarantee.

    Two further PPJoin-family refinements were BUILT, MEASURED at the
    10×/100× probe tiers, and REJECTED (round 7) — recorded so they
    are not re-attempted:
    - POSITIONAL filter (Xiao et al. 2008 §3.2): pruned exactly 0 of
      213.65M candidates while costing +21% candidate-generation wall.
      At τ = 0.95 the prefix is ~⌊0.05·n⌋+1 tokens and a candidate's
      first shared token sits at prefix position 1-2, where the
      achievable-overlap bound ≈ n comfortably exceeds α ≈ 0.974·n;
      positional filtering is a low-τ (long-prefix) tool.
    - BUCKET-COUNT SKETCH pre-verify (B per-bucket code counts on
      prefix rows; ub = Σ_b min as an exact |A∩B| upper bound): kills
      99.8% of candidates before the distinct, but every variant lost
      end-to-end — array sketch + zip_with/aggregate is an interpreted
      HigherOrderFunction on every raw join row (71.4 s / 501.3 s vs
      31.3 s / 259.8 s without); 32 scalar least() columns kept the
      filter codegen'd but the widened prefix join + extra full-token
      aggregate still ran past 2× the no-sketch wall.  The distinct +
      array-verify of false candidates is simply cheaper here than any
      per-pair pre-verify payload; revisit only if a corpus shows
      candidate:true ratios far above the measured ~11:1 … ~580:1.
    """
    grp = _collapse_sets(toks, "jaccard")
    rep_toks = grp.select(
        F.col("rep").alias("doc_id"), F.explode("codes").alias("token")
    )
    # Global rarity order: document frequency per code — one row per
    # vocabulary word.  NOT hint-broadcast: vocabulary grows with the
    # corpus (Heaps' law never fully saturates on web text — typos,
    # URLs, numbers), and an explicit hint overrides the size check;
    # AQE broadcasts it while it fits and shuffles on token past that.
    df_ = rep_toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # n as a plain aggregate + equi-join, NOT count() over the rank
    # window: the unordered-frame window buffers every doc's rows a
    # second time through the same exchange and [MEASURED round 7]
    # cost ~+35% end-to-end at the 100× tier (353.1 s vs 259.8 s).
    # ALSO not carried as size(codes) from grp through the explode
    # (the minhash family's with_n trick): that widens the OCCURRENCE-
    # proportional token exchange by 8 B/row to delete only this DOC-
    # proportional, map-side-partial-aggregated exchange — [MEASURED
    # round 12, OPTIMIZATION_r12.md §9] parity at sf0.1 and a
    # clear LOSS at 10× (cands 3.74 → 4.65 s, full op 9.30 → 14.28 s,
    # outputs exceptAll-equal both ways).  The two families differ
    # because minhash computes n inside an aggregate it ALREADY runs
    # per doc; _tau_pairs has no such aggregate to piggyback on.
    sizes = rep_toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        rep_toks.join(df_, "token")
        .join(sizes, "doc_id")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            ),
        )
    )
    # Exact-int prefix bound: misses <= n - ceil(tau*n) = (n*(DEN-NUM))
    # div DEN, so that plus one prefix tokens guarantee a shared one.
    # (The float form floor((1-tau)*n)+1 happened to round UP here —
    # 1.0-0.95 = 0.0500…044 in double — but the integer form is exact
    # by construction, per the CLAUDE.md rule.)
    prefix_len = (
        F.col("n") * (_JAC_TAU_DEN - _JAC_TAU_NUM)
    ).cast("bigint") / F.lit(_JAC_TAU_DEN)
    prefix_len = F.floor(prefix_len).cast("bigint") + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        "doc_id", "token", "n"
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("n").alias("na")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("token").alias("token_b"),
        F.col("n").alias("nb"),
    )
    cands = (
        pa.join(
            pb,
            (F.col("token") == F.col("token_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # size-ratio filter: J >= tau forces tau*max(na,nb) <= min
            # — EXACT-INT form (see _JAC_TAU_NUM note above).
            & (F.col("na") * _JAC_TAU_DEN >= F.col("nb") * _JAC_TAU_NUM)
            & (F.col("nb") * _JAC_TAU_DEN >= F.col("na") * _JAC_TAU_NUM),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_expand(cands, grp)


_MINHASH_K = 32  # signature length
_MINHASH_R = 8  # rows per band
_MINHASH_B = _MINHASH_K // _MINHASH_R  # 4 bands
# P(candidate | j) = 1-(1-j^r)^b: ~0.99 at j=0.95, ~0.12 at j=0.65
# (this corpus's median) — high recall at τ with bounded candidates.

def _band_sigs_wide_from_h(th: DataFrame, with_n: bool = False) -> DataFrame:
    """(doc_id, band, sig, s0..s{B-2}[, n]) — banded MinHash
    signatures (k=32 seeded min-hashes via the exact-int64 seed
    family h_i(t) = ((2i+1)·H(t) + i) mod p, folded into b=4 bands of
    r=8) from already-hashed tokens (doc_id, h), laid out by
    ``_band_explode`` for ``_first_match_band_join``.  Width cost of
    carrying the earlier bands: (b−1) extra int64s on the
    distinct-set-proportional sig rows — noise next to the
    pair-proportional duplicate stream the first-match join deletes.
    Every MinHash operator bands through here (dedup_near_minhash and
    corpus_decontam_minhash from collapsed code arrays via
    ``_rep_hashes``, bit-identical to hashing raw tokens;
    dedup_incremental_minhash from the raw per-doc token stream), so
    ``_MINHASH_SIG_CTES`` remains the single shared oracle.

    ``with_n=True`` additionally carries the per-doc distinct-token
    count ``n`` (computed in the SAME hash aggregate — no extra
    shuffle), for callers that band raw per-doc token streams and
    want the exact-int size-ratio prune in their join condition
    (dedup_incremental_minhash; the collapsed ops get n from their
    group table instead)."""
    # All k mins in ONE hash aggregate as k columns — NOT an
    # explode(sequence(0, k-1)) + groupBy(doc_id, seed): the explode
    # materializes k× the token rows through the aggregate iterator
    # (~875M rows at the 100× probe tier) for the identical partial-agg
    # output.  Column-wise, the map side streams each token row once
    # and updates k accumulators; shuffle volume is docs × k longs
    # either way, but CPU drops ~k-fold.  Band folds (seed order) are
    # bit-identical to the historical explode+collect_list
    # formulation, so _MINHASH_SIG_CTES needs no change.
    mins = th.groupBy("doc_id").agg(
        *[
            F.min(((2 * i + 1) * F.col("h") + i) % POLY_M).alias(f"mh{i}")
            for i in range(_MINHASH_K)
        ],
        *([F.count(F.lit(1)).alias("n")] if with_n else []),
    )
    sig_col = [
        poly_fold(
            F.array(
                *[
                    F.col(f"mh{b * _MINHASH_R + j}")
                    for j in range(_MINHASH_R)
                ]
            )
        )
        for b in range(_MINHASH_B)
    ]
    extra = ("n",) if with_n else ()
    wide = mins.select(
        "doc_id",
        *[sig_col[b].alias(f"s{b}") for b in range(_MINHASH_B)],
        *extra,
    )
    return _band_explode(wide, "doc_id", _MINHASH_B, extra)


def _band_explode(
    wide: DataFrame, key: str, bands: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(key, s0..s{B-1}, *carry) → (key, band, sig, s0..s{B-2}, *carry):
    one row per (band, sig), every EARLIER band's signature riding
    along as a scalar column — the input layout of
    ``_first_match_band_join``, shared by the MinHash family and
    sim_lsh_rp_pairs."""
    structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"s{b}").alias("sig"))
            for b in range(bands)
        ]
    )
    earlier = [F.col(f"s{j}") for j in range(bands - 1)]
    return wide.select(
        key, F.explode(structs).alias("bs"), *earlier, *carry
    ).select(
        key,
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
        *earlier,
        *carry,
    )


def _first_match_band_join(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    ids: tuple[str, str],
    bands: int,
    cond: Column,
    carry: tuple[str, ...] = (),
    key: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b) candidate pairs of a banded-LSH equi-join, each
    emitted EXACTLY ONCE: from its lowest matching band (round 10).

    ``sigs_a`` / ``sigs_b`` are ``_band_explode`` frames (the two sides
    may be filtered differently: new×ref, train×eval).  Side A is
    projected to (id_a, band, sig, <c>a…, sa0..) and side B to (id_b,
    band_b, sig_b, <c>b…, sb0..), where each ``carry`` column c becomes
    ``c + "a"`` / ``c + "b"`` (n → na / nb); ``cond`` is the caller's
    own extra join condition over those names (id order, the exact-int
    size-ratio prune, role prunes).  The join key is (band, sig), and a
    joined row survives only if no EARLIER band also matches — unrolled
    scalar comparisons, b−1 of them (the CLAUDE.md no-HOF-on-pair-rows
    rule) — which deletes both the ~1.5-2.6× duplicate pair stream (at
    j ≈ τ a true pair matches most bands) and the pair-stream
    ``.distinct()`` exchange that deduplicated it.
    tests/test_properties.py pins exactly-once emission against the
    distinct any-band join."""
    id_a, id_b = ids
    earlier = range(bands - 1)
    sa = sigs_a.select(
        F.col(key).alias(id_a),
        "band",
        "sig",
        *[F.col(c).alias(c + "a") for c in carry],
        *[F.col(f"s{j}").alias(f"sa{j}") for j in earlier],
    )
    sb = sigs_b.select(
        F.col(key).alias(id_b),
        F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
        *[F.col(c).alias(c + "b") for c in carry],
        *[F.col(f"s{j}").alias(f"sb{j}") for j in earlier],
    )
    first_match = F.lit(True)
    for j in earlier:
        first_match = first_match & (
            (F.col("band") <= j) | (F.col(f"sa{j}") != F.col(f"sb{j}"))
        )
    return sa.join(
        sb,
        (F.col("band") == F.col("band_b"))
        & (F.col("sig") == F.col("sig_b"))
        & cond
        & first_match,
    ).select(id_a, id_b)


# Shared CTE prefix: tokens → seeded min-hashes → banded signatures.
# Used verbatim by the full-corpus and incremental oracles so the two
# stay bit-identical by construction.
_MINHASH_SIG_CTES = f"""toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    th AS (SELECT doc_id, {o_poly_hash('token')} AS h FROM toks),
    seeded AS (SELECT doc_id, h, unnest(range(0, {_MINHASH_K})) AS seed FROM th),
    mh AS (SELECT doc_id, seed,
                  MIN(((2 * seed + 1) * h + seed) % {POLY_M}) AS mh
           FROM seeded GROUP BY doc_id, seed),
    sigs AS (SELECT doc_id, seed // {_MINHASH_R} AS band,
                    {o_poly_fold(f'list(mh ORDER BY seed)')} AS sig
             FROM mh GROUP BY doc_id, seed // {_MINHASH_R})"""

_MINHASH_ORACLE_UNCOLLAPSED = f"""
    WITH {_MINHASH_SIG_CTES},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sigs a JOIN sigs b
               ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
              FROM cand c
              JOIN toks a ON a.doc_id = c.doc_a
              JOIN toks b ON b.doc_id = c.doc_b AND a.token = b.token
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_JAC_TAU}
    """


def _collapsed_minhash_ctes(
    tau: float, num: int, den: int, flag_sql: str = "", dir_pred: str = "TRUE"
) -> str:
    """COLLAPSED shared CTE prefix for the minhash-family oracles
    (round 12, the round-11 verdict's task #1): group docs by exact
    token-set first, run the LSH band join + exact-Jaccard verify over
    REPRESENTATIVES only, and let the per-op consumers expand members
    back out.  Signatures depend only on the token set, so identical
    sets land in identical band buckets with identical verified
    Jaccard — the same output-invariance the ENGINE has exploited
    since round 9, now applied to the oracle, whose uncollapsed `cand`
    was 263.8 s of the sweep's 279.7 s minhash row at sf0.1 (7.58 M
    uncollapsed candidate pairs; collapsed: ~0.48 M).

    The proof obligation moves to tests/test_oracle_collapse_equiv.py:
    collapsed ≡ uncollapsed (row count + canonical hash), oracle vs
    oracle inside DuckDB, at sf0.001 AND sf0.01 — so the uncollapsed
    form above remains the output-invariance ground truth at gate
    scales while the sweeps and the correctness gate pay the collapsed
    price.  Only dedup_near_minhash adopts the collapse: the
    directional siblings (incremental new×ref, decontam train×eval)
    were measured SLOWER collapsed — see their comments.

    `MATERIALIZED` hints keep DuckDB from re-inlining the heavy shared
    CTEs per consumer (measured: the naive collapsed incremental /
    decontam REGRESSED without them).  The size-ratio prune in `candp`
    is the ENGINE's exact-int bound (J ≥ τ ⇒ max·NUM ≤ min·DEN —
    integer operands per the CLAUDE.md exact-τ rule); `dir_pred` lets
    the directional ops (new×ref / train×eval) drop group pairs that
    cannot produce output BEFORE the token-intersection join.
    """
    return f"""toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    dsets AS (SELECT doc_id, list_sort(list(token)) AS tokset FROM toks GROUP BY doc_id),
    grp AS MATERIALIZED (SELECT tokset, MIN(doc_id) AS rep, list(doc_id) AS members,
                   CAST(len(tokset) AS BIGINT) AS n{flag_sql}
            FROM dsets GROUP BY tokset),
    rtoks AS MATERIALIZED (SELECT rep AS doc_id, unnest(tokset) AS token FROM grp),
    th AS (SELECT doc_id, {o_poly_hash('token')} AS h FROM rtoks),
    seeded AS (SELECT doc_id, h, unnest(range(0, {_MINHASH_K})) AS seed FROM th),
    mh AS (SELECT doc_id, seed,
                  MIN(((2 * seed + 1) * h + seed) % {POLY_M}) AS mh
           FROM seeded GROUP BY doc_id, seed),
    sigs AS MATERIALIZED (SELECT doc_id, seed // {_MINHASH_R} AS band,
                    {o_poly_fold("list(mh ORDER BY seed)")} AS sig
             FROM mh GROUP BY doc_id, seed // {_MINHASH_R}),
    cand AS (SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
             FROM sigs a JOIN sigs b
               ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    candp AS MATERIALIZED (SELECT c.rep_a, c.rep_b, ga.n AS na, gb.n AS nb
             FROM cand c
             JOIN grp ga ON ga.rep = c.rep_a
             JOIN grp gb ON gb.rep = c.rep_b
             WHERE ga.n * {den} >= gb.n * {num}
               AND gb.n * {den} >= ga.n * {num}
               AND ({dir_pred})),
    inter AS (SELECT c.rep_a, c.rep_b, c.na, c.nb, CAST(COUNT(*) AS BIGINT) AS i
              FROM candp c
              JOIN rtoks a ON a.doc_id = c.rep_a
              JOIN rtoks b ON b.doc_id = c.rep_b AND a.token = b.token
              GROUP BY 1, 2, 3, 4),
    ver AS MATERIALIZED (SELECT rep_a, rep_b,
                   round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
            FROM inter
            WHERE round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= {tau})"""


_MINHASH_ORACLE = f"""
    WITH {_collapsed_minhash_ctes(_JAC_TAU, _JAC_TAU_NUM, _JAC_TAU_DEN)},
    x1 AS (SELECT unnest(ga.members) AS ma, gb.members AS mbs, v.jaccard
           FROM ver v JOIN grp ga ON ga.rep = v.rep_a
                      JOIN grp gb ON gb.rep = v.rep_b),
    x2 AS (SELECT ma, unnest(mbs) AS mb, jaccard FROM x1),
    w1 AS (SELECT unnest(members) AS ma, members AS mbs FROM grp WHERE len(members) >= 2),
    w2 AS (SELECT ma, unnest(mbs) AS mb FROM w1)
    SELECT least(ma, mb) AS doc_a, greatest(ma, mb) AS doc_b, jaccard FROM x2
    UNION ALL
    SELECT ma AS doc_a, mb AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard FROM w2 WHERE ma < mb
    """


@query("dedup_near_minhash", oracle=_MINHASH_ORACLE, tier="P2")
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding, exact-verified.

    Pipeline (reworked round 9 to the sim_containment_join discipline
    — the round-8 verdict's task #2): (1) EXACT-DUPLICATE COLLAPSE
    first (_collapse_sets — the CLAUDE.md house rule; m verbatim
    clones would otherwise amplify every band bucket m²-fold and every
    verify shipment m²-fold); (2) banded MinHash computed ONCE PER
    DISTINCT SET from the stored code arrays (h = code div 2³¹
    recovers the primary poly-hash bit-exactly — no re-tokenization);
    (3) band-signature equi-join over representatives with the
    EXACT-INT size-ratio prune in the join condition (J ≥ τ forces
    τ·max(na,nb) ≤ min — lossless for the verified output, kills
    length-incompatible LSH collisions before any array ships) under
    the FIRST-MATCH-BAND discipline (round 10,
    ``_first_match_band_join``): each side carries its earlier bands'
    signatures as scalar columns and a joined row survives only if no
    earlier band also matches — so every candidate pair is emitted
    EXACTLY ONCE and the pair-stream .distinct() exchange is deleted
    outright;
    (4) exact-Jaccard verify once per representative pair, projecting
    the packed arrays away in the verify stage itself and emitting
    SCALARS (_verify_expand); (5) member expansion at the end,
    within-group pairs at literal 1.0.

    Collapse is OUTPUT-INVARIANT: identical sets produce identical
    signatures, hence identical band buckets and identical verified
    Jaccard.  Round 12 moved the registered oracle to the COLLAPSED
    replay (_collapsed_minhash_ctes — the uncollapsed oracle's 7.58 M
    candidate pairs were 263.8 s of the sweep's 279.7 s minhash row at
    sf0.1); the invariance proof now lives in
    tests/test_oracle_collapse_equiv.py, which hash-compares the
    collapsed oracle against _MINHASH_ORACLE_UNCOLLAPSED (kept
    verbatim above) inside DuckDB at sf0.001 AND sf0.01.
    Token hashing is the cross-engine-exact polynomial hash
    (exprs.poly_hash) with the seed family h_i(t) = ((2i+1)·H(t) + i)
    mod p, so the ENTIRE LSH pipeline — signatures, band buckets,
    candidates, verified pairs — is replicated bit-for-bit by DuckDB.
    tests/test_properties.py additionally asserts every emitted pair
    is a true ≥ τ pair and that recall vs dedup_near_exact is high.

    This is THE 100 TB near-dup design: no all-pairs stage exists —
    candidates come only from exact band matches (an equi-join whose
    key is the band signature), Σ|bucket|² is bounded by the LSH
    collision probability over DISTINCT sets rather than corpus size,
    and the verify-stage shuffle — the resource that killed the 1000×
    single-host probe at ~240 GB (docs/SCALE.md) — now ships arrays
    once per distinct-set candidate pair that also passes the size
    prune, with everything downstream scalar-only.

    [MEASURED, round 9 — docs/SCALE.md, "100× tier (flagships)",
    round-9 readout; script removed, last at 2140ddd] The verify
    rework, receipted at 100×: candidates 116,316,335 → 46,660,506
    under the size-ratio prune (59.9% cut); wall 363.7 → 114.3 s; peak
    scratch 24 → 8.3 GB; output rows bit-identical (19,053,889).
    sf0.1 wall 39.1 → 5.0 s and the full-sweep entry 138.4 → 84.9 s.

    [MEASURED, round 10 — same probe, extended] First-match-band,
    receipted at 100×: the old duplicate pair stream was 69,428,289
    rows (1.49× the candidate set); the first-match join emits
    exactly 46,660,506 (asserted equal to the distinct count
    in-probe), and with the .distinct() exchange deleted the timed
    fresh-JVM run reads peak scratch 4.3 GB (was 8.3) at an unchanged
    wall (123.0 s vs 114.3, inside the host envelope), output still
    bit-identical.  That halves the candidate-linear 1000×
    extrapolation to ~43 GB against the 79 GB quota — the tier the
    round-8/9 attempts died on; docs/SCALE.md carries the 1000× row.

    [MEASURED, round 11 — docs/SCALE.md, "dedup_near_minhash 1000×:
    LANDED via chunked verify"; script removed, last at 2140ddd] The
    1000× tier LANDED under the chunked verify: the candidate stream
    (454,235,264 pairs, 9.73× the 100× count) materialized once as
    pmod-partitioned parquet, verified in K=8 sequential chunks with
    shuffle GC between — 888.0 s, 190,886,389 rows = 10.018× the 100×
    output (exactly copy-linear), peak scratch 20.2 GB vs the 79 GB
    quota that killed every one-shot attempt; µs/row 4.65 vs 4.40 at
    700× (flat through the top rung).  The chunk union is proven
    bit-equal to this one-shot plan at 10×.  At
    cluster scale no chunking is needed (~60-70 MB/executor); K is the
    single-host knob trading ~10-15% wall for a 1/K transient bound.
    """
    cands, grp = _minhash_rep_candidates(spark, sf_dir)
    return _verify_expand(cands, grp)


def _minhash_rep_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(candidates, grp) — the collapse → band → first-match-band
    front half of ``dedup_near_minhash``, split out (round 11) so the
    single-host scale path can materialize the (int, int) candidate
    pair stream once and verify it in sequential hash-chunks
    (``_verify_cross``) without re-running the band join per chunk.
    The registered op composes the two halves back into the identical
    one-shot plan."""
    toks = _doc_tokens(spark, sf_dir)
    grp = _collapse_sets(toks, "minhash")
    sizes = grp.select(
        F.col("rep").alias("doc_id"), F.size("codes").alias("n")
    )
    sigs = _band_sigs_wide_from_h(_rep_hashes(grp)).join(sizes, "doc_id")
    candidates = _first_match_band_join(
        sigs,
        sigs,
        ("doc_a", "doc_b"),
        _MINHASH_B,
        (F.col("doc_a") < F.col("doc_b")) & _size_ratio_prune(),
        carry=("n",),
    )
    return candidates, grp


_EMB_TAU = 0.3  # ~p99 of the within-label cosine distribution [MEASURED]


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH c AS (
        {_O_ADAPT_CELLS}
    ), pairs AS (
        SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
        FROM c a
        JOIN c b ON a.label = b.label AND a.cell = b.cell
                AND a.vec_id < b.vec_id
        WHERE round({o_dot('a.embedding', 'b.embedding')}, 6) >= {_EMB_TAU}
    )
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.drop_id = e.vec_id)
    """,
    tier="P2",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate REMOVAL: drop every vector that
    is ≥ τ similar to a lower-id vector in its block (greedy
    min-id-wins), keep the rest.

    Built from the blocked pair join — blocked on (label, adaptive
    sign-bit LSH cell), same discipline as sim_pair_join_threshold:
    the adaptive cell term (cell count doubles as the corpus crosses
    size thresholds) keeps bucket size bounded as the corpus grows,
    where label alone (fixed cardinality) would make pair work grow
    quadratically with scale factor — followed by a left-anti join of
    the corpus against the drop set.  That is the standard two-stage shape of semantic
    dedup at scale: pair generation is bucket-bounded, and the removal
    pass is a hash anti-join keyed on id.  Greedy-by-id is the
    deterministic policy (true clustering dedup — connected components
    — keeps fewer docs but needs an iterative algorithm; the greedy
    pass is what production pipelines run first).
    """
    from powertrainstreaming_spark.functions.exprs import dot_f, sim_round

    emb = load(spark, sf_dir, "embeddings")
    order = F.col("keep_id") < F.col("drop_id")
    drops = (
        _cell_pairs(_adaptive_cells(emb), "keep_id", "drop_id", order)
        .filter(sim_round(dot_f("emb_a", "emb_b")) >= _EMB_TAU)
        .select("drop_id")
        .distinct()
    )
    return emb.join(
        drops, emb.vec_id == drops.drop_id, "left_anti"
    ).select("vec_id", "label")


_MIN_TOKENS = 20
_MAX_PUNCT_RATIO = 0.10


@query(
    "pipeline_corpus_clean",
    oracle=f"""
    WITH quality AS (
        SELECT doc_id, text, lang, source,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_MIN_TOKENS}
          AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_ ]')) AS DOUBLE)
              / length(text) <= {_MAX_PUNCT_RATIO}
    ),
    exact_kept AS (
        SELECT text, arg_min(doc_id, doc_id) AS doc_id,
               arg_min(lang, doc_id) AS lang,
               arg_min(source, doc_id) AS source,
               arg_min(n_tokens, doc_id) AS n_tokens
        FROM quality GROUP BY text
    ),
    toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             FROM exact_kept),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    near_drop AS (
        SELECT DISTINCT b.doc_id AS drop_id
        FROM (SELECT a.doc_id AS da, b2.doc_id AS db, COUNT(*) AS i
              FROM toks a JOIN toks b2
                ON a.token = b2.token AND a.doc_id < b2.doc_id
              GROUP BY 1, 2) p
        JOIN sizes sa ON p.da = sa.doc_id
        JOIN sizes sb ON p.db = sb.doc_id
        JOIN exact_kept b ON b.doc_id = p.db
        WHERE round(CAST(p.i AS DOUBLE) / (sa.n + sb.n - p.i), 6) >= {_JAC_TAU}
    )
    SELECT k.doc_id, k.lang, k.source, CAST(k.n_tokens AS INT) AS n_tokens
    FROM exact_kept k
    WHERE NOT EXISTS (SELECT 1 FROM near_drop d WHERE d.drop_id = k.doc_id)
    """,
    tier="P1",
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning — the flagship LLM-data
    pipeline composed from this engine's stages in one lineage:

      1. QUALITY GATE  — map-only filter (token count ≥ {mt},
         punctuation ratio ≤ {mp}); no shuffle.
      2. EXACT DEDUP   — hash-group on text, min-id representative.
      3. NEAR-DUP DROP — prefix-filtered Jaccard pairs ≥ τ over the
         survivors, greedy min-id-wins anti-join.

    Everything is one declarative DataFrame lineage, so Catalyst
    pipelines the quality filter INTO the dedup scan (no intermediate
    materialization), and each stage is the already-audited scalable
    shape.  At 100 TB this exact composition is the nightly corpus
    build: map-only gate → one shuffle on text → blocked pair join.
    """
    docs = load(spark, sf_dir, "documents")
    toks_col = F.split(F.col("text"), " ")
    punct = F.size(F.regexp_extract_all("text", F.lit("[^A-Za-z0-9_ ]"), 0))
    quality = docs.filter(
        (F.size(toks_col) >= _MIN_TOKENS)
        & (punct.cast("double") / F.length("text") <= _MAX_PUNCT_RATIO)
    ).select("doc_id", "text", "lang", "source", F.size(toks_col).alias("n_tokens"))

    exact_kept = quality.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )

    toks = exact_kept.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    near_drop = (
        _tau_pairs(toks).select(F.col("doc_b").alias("drop_id"))
    ).distinct()

    return exact_kept.join(
        near_drop, exact_kept.doc_id == near_drop.drop_id, "left_anti"
    ).select("doc_id", "lang", "source", "n_tokens")


_NGRAM_TAU = 0.90
# EXACT-INT size-ratio prune operands (the _JAC_TAU_NUM discipline).
_NGRAM_TAU_NUM, _NGRAM_TAU_DEN = 9, 10
assert _NGRAM_TAU_NUM / _NGRAM_TAU_DEN == _NGRAM_TAU


@query(
    "dedup_near_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i + 1])) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM toks a JOIN toks b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_NGRAM_TAU}
    """,
    tier="P2",
)
def dedup_near_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs on bigram-SHINGLE sets (n-gram Jaccard).

    Word-order-sensitive where unigram Jaccard is bag-of-words blind:
    two docs with the same vocabulary but different order share few
    bigrams, so shingling is the standard dedup representation for
    natural text.  Same candidate/verify machinery as the unigram
    operator (the shingle IS the token) with the inverted-index join
    on shingles — rarer than unigrams, so postings are shorter.

    Round 11 rework onto the full house discipline (the op previously
    violated the collapse-before-pair-generation rule and shuffled
    bigram STRINGS through its inverted-index join):
    (1) EXACT-DUPLICATE COLLAPSE of identical bigram sets first
    (_collapse_sets over the shingle stream — m verbatim clones would
    otherwise amplify every posting m-fold and every candidate pair
    m²-fold); (2) postings carry packed int64 CODES, never the shingle
    string (strings are hashed map-side inside the collapse aggregate;
    the double-hash collision argument is _pair_jaccard's, unchanged);
    (3) the posting join carries the EXACT-INT size-ratio prune
    (J ≥ 0.9 forces 9·max ≤ 10·min) on set sizes riding the posting
    rows; (4) shared packed verify + member expansion
    (_verify_expand at τ = 0.9) — identical sets emit within-group
    pairs at literal 1.0, matching the oracle's arithmetic.  The
    candidate .distinct() stays: an inverted index emits one row per
    SHARED shingle, and unlike banding there is no bounded per-row
    signature set to unroll a first-match predicate over — but the
    size prune now fires BEFORE it.  [MEASURED sf0.1] old plan:
    36.47M-row string-keyed stream → 10.30M distinct pairs (3.5×),
    all verified; new plan: 36.35M int-keyed posting rows → size
    prune 7.03M (−80.7% through the distinct exchange) → 1.38M
    distinct candidates (7.5× fewer array-shipping verify rows).
    Output invariant — the oracle still replays the per-doc string
    pipeline and the hash gate re-proves the collapse equivalence at
    every scale (re-proven sf0.001/0.01/0.1 this round).
    """
    docs = load(spark, sf_dir, "documents")
    toks_arr = F.split(F.col("text"), " ")
    n = F.size(toks_arr)
    bigrams = F.zip_with(
        F.slice(toks_arr, 1, n - 1),
        F.slice(toks_arr, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    shingles = docs.select(
        "doc_id", F.explode(F.array_distinct(bigrams)).alias("token")
    )
    grp = _collapse_sets(shingles, "ngram")
    ta = grp.select(
        F.col("rep").alias("doc_a"),
        F.size("codes").alias("na"),
        F.explode("codes").alias("code"),
    )
    tb = grp.select(
        F.col("rep").alias("doc_b"),
        F.size("codes").alias("nb"),
        F.explode("codes").alias("code_b"),
    )
    candidates = (
        ta.join(
            tb,
            (F.col("code") == F.col("code_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") * _NGRAM_TAU_DEN >= F.col("nb") * _NGRAM_TAU_NUM)
            & (F.col("nb") * _NGRAM_TAU_DEN >= F.col("na") * _NGRAM_TAU_NUM),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_expand(candidates, grp, tau=_NGRAM_TAU)


_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = 15  # 4 bands × 15 bits = the 60-bit fingerprint
_SIMHASH_MAX_HAMMING = 3

_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
    th AS (SELECT doc_id,
                  {o_poly_hash('token')} * 1073741824
                  + {o_poly_hash('token', base=POLY_B2, mod=POLY_M2)} AS h
           FROM toks),
    bits AS (SELECT doc_id, h, unnest(range(0, 60)) AS bit FROM th),
    votes AS (SELECT doc_id, bit,
                     CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
              FROM bits),
    s AS (SELECT doc_id, bit, SUM(vote) AS s FROM votes GROUP BY doc_id, bit),
    fp AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                                ELSE 0 END) AS BIGINT) AS simhash
           FROM s GROUP BY doc_id),
    bands AS (SELECT doc_id, simhash, unnest(range(0, {_SIMHASH_BANDS})) AS band
              FROM fp),
    bv AS (SELECT doc_id, simhash, band,
                  (simhash >> (band * {_SIMHASH_BAND_BITS}))
                  & {(1 << _SIMHASH_BAND_BITS) - 1} AS band_val
           FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS fp_a, b.simhash AS fp_b
             FROM bv a JOIN bv b
               ON a.band = b.band AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= {_SIMHASH_MAX_HAMMING}
    """


@query("dedup_near_simhash", oracle=_SIMHASH_ORACLE, tier="P2")
def dedup_near_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via SimHash fingerprints + Hamming banding.

    Pipeline: 60-bit SimHash per doc (text_fingerprint's plan, built on
    the cross-engine-exact polynomial hash pair) → split into {b}
    15-bit bands → pairs matching on ANY band (pigeonhole: a pair
    within Hamming distance {d} < {b} must agree on ≥1 band) → verify
    exact Hamming ≤ {d} with bit_count(xor).  The DuckDB oracle
    replicates fingerprint, banding, and verification bit-for-bit —
    full value-hash driver check; properties additionally pinned in
    tests/test_properties.py.  The band equi-join is the block key —
    no all-pairs stage, identical scaling story to MinHash banding but
    over a single 8-byte fingerprint, which is why SimHash is the
    cheapest near-dup index at 100 TB.

    Round 11: the band join adopted the FIRST-MATCH-BAND discipline
    of the MinHash family's ``_first_match_band_join`` — a pair
    within Hamming ≤ {d} agrees on up to {b} bands and was emitted
    once per agreeing band, then deduplicated by a pair-stream
    .distinct() exchange; now a joined row survives only if no
    EARLIER band also agrees, so emission is exactly-once and the
    exchange is deleted.  Uniquely cheap here: both full fingerprints
    already ride the join, so the earlier-band comparisons are plain
    shift/mask expressions on fp_a/fp_b — no extra columns at all,
    which is why this op keeps its own loop instead of the shared
    join.
    [MEASURED sf0.1] old duplicate stream 4,451,604 rows over
    3,420,908 distinct candidates (1.30×); first-match emits exactly
    the distinct count (asserted in-session), output hash-identical.
    """
    from powertrainstreaming_spark.operators.text import text_fingerprint

    fp = text_fingerprint(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(
            f"(simhash >> (band * {_SIMHASH_BAND_BITS}))"
            f" & {(1 << _SIMHASH_BAND_BITS) - 1}"
        ),
    )
    ba = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"),
        "band", "band_val",
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"),
        F.col("band").alias("band_b"), F.col("band_val").alias("band_val_b"),
    )
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    first_match = F.lit(True)
    for j in range(_SIMHASH_BANDS - 1):
        first_match = first_match & (
            (F.col("band") <= j)
            | (
                F.expr(f"(fp_a >> {j * _SIMHASH_BAND_BITS}) & {mask}")
                != F.expr(f"(fp_b >> {j * _SIMHASH_BAND_BITS}) & {mask}")
            )
        )
    candidates = ba.join(
        bb,
        (F.col("band") == F.col("band_b"))
        & (F.col("band_val") == F.col("band_val_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & first_match,
    ).select("doc_a", "doc_b", "fp_a", "fp_b")
    return candidates.withColumn(
        "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    ).filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", "hamming"
    )


_CC_MAX_ITERS = 50

# Exact min-label connected components.  The naive formulation
# (recursive reachability closure over the raw edge list, seeded with
# every node) is correct but O(k^2) state and O(k^3)-ish join work per
# component of size k — near-dup components are DENSE, and at sf0.1 the
# closure alone cost ~168 s.  Two lossless cuts bring it to ~23 s with
# bit-identical output at every fixture scale:
#   1. CONTRACT before recursing: m1(v) = min(v, N(v)) is one plain
#      aggregate; edges re-keyed through m1 collapse each near-clique
#      to ~one node (sf0.1: 5000 nodes / 381 850 edges -> 3251 / 1534),
#      so the recursion runs on the tiny condensed graph.  Components
#      of the condensed graph are exactly the images of the original
#      components, and the component min M survives contraction because
#      m1(M) = M.
#   2. PRUNE the propagation: a label l crossing edge (u, v) can only
#      matter if l < v (MIN can't improve otherwise); the component min
#      passes every hop, so MIN(label) is unchanged.
# MATERIALIZED hints matter: DuckDB 1.0 inlines multiply-referenced
# CTEs, and an inlined `edges` would be re-derived from the token join
# on every recursion step.  But the hint cuts BOTH ways — `toks` must
# stay INLINED: materializing it forces the token self-join to run
# against an opaque temp table instead of the optimized scan+unnest
# pipeline, [MEASURED round 12] 38-41 s vs 3.9-8.9 s for the pair
# derivation alone at sf0.1 (full oracle 78.0 -> 8.0 s same-window,
# rows EQUAL at sf0.001/0.01/0.1).  MATERIALIZED is a pure performance
# hint in DuckDB (never semantic), so only edges/m1/cedges — the CTEs
# whose re-derivation is the actual hazard — carry it.
_CC_ORACLE = f"""
    WITH RECURSIVE toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS i
              FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT da, db FROM inter
              JOIN sizes sa ON da = sa.doc_id
              JOIN sizes sb ON db = sb.doc_id
              WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_JAC_TAU}),
    edges AS MATERIALIZED (SELECT da AS src, db AS dst FROM pairs
              UNION SELECT db, da FROM pairs),
    m1 AS MATERIALIZED (
        SELECT d.doc_id, least(d.doc_id, coalesce(MIN(e.dst), d.doc_id)) AS l1
        FROM documents d LEFT JOIN edges e ON d.doc_id = e.src
        GROUP BY d.doc_id),
    cedges AS MATERIALIZED (
        SELECT DISTINCT a.l1 AS src, b.l1 AS dst
        FROM edges e JOIN m1 a ON e.src = a.doc_id
                     JOIN m1 b ON e.dst = b.doc_id
        WHERE a.l1 <> b.l1),
    cnodes AS (SELECT DISTINCT l1 AS node FROM m1),
    reach(node, label) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT e.dst, r.label FROM reach r JOIN cedges e ON r.node = e.src
        WHERE r.label < e.dst),
    cc AS (SELECT node, MIN(label) AS root FROM reach GROUP BY node)
    SELECT m1.doc_id, cc.root AS component_id
    FROM m1 JOIN cc ON m1.l1 = cc.node
    """


def cc_min_labels(
    labels: DataFrame, edges: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Exact min-label connected components, returning (labels, rounds).

    ``labels`` is (doc_id, component_id) seeded with component_id =
    doc_id for EVERY node (including isolated ones); ``edges`` is the
    SYMMETRIC (src, dst) edge list.  Both should be checkpointed by the
    caller.

    Each round does (1) neighbor-min propagation — one edges⋈labels
    shuffle + groupBy-min, both keyed on doc_id — and (2) POINTER
    JUMPING: component_id := component_id(component_id), a labels⋈labels
    self-join.  Every label value is itself a doc_id with a labels row
    (seeds are ids; propagation and jumping only move existing ids), so
    the jump join is total, and both steps are monotone non-increasing.
    Neighbor-min alone needs rounds = eccentricity of the component min
    (fine for shallow near-dup clusters, O(n) on a chain); the jump
    doubles the distance a label has travelled each round, so worst-case
    rounds drop to O(log n) on ANY graph — pinned by
    tests/test_properties.py::test_cc_chain_converges_in_log_rounds.
    Convergence is detected via the monotonically decreasing Σlabels
    (one scalar agg per round, no old-vs-new join);
    ``localCheckpoint`` truncates lineage so the plan stays O(1) deep.
    At 100 TB the same loop runs with edges hash-partitioned on src and
    the per-round driver traffic is still one scalar.
    """
    prev_sum = labels.agg(F.sum("component_id")).collect()[0][0]
    for rounds in range(1, max_iters + 1):
        prop = edges.join(
            labels, edges.src == labels.doc_id
        ).select(F.col("dst").alias("doc_id"), "component_id")
        stepped = (
            labels.union(prop)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
        )
        hop = stepped.select(
            F.col("doc_id").alias("hop_id"),
            F.col("component_id").alias("hop_label"),
        )
        labels = (
            stepped.join(hop, stepped.component_id == hop.hop_id)
            .select("doc_id", F.col("hop_label").alias("component_id"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("component_id")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels, rounds
        prev_sum = cur_sum
    raise RuntimeError(f"connected components did not converge in {max_iters} rounds")


@query("dedup_cluster_cc", oracle=_CC_ORACLE, tier="P2")
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    near-dup pair graph (Jaccard ≥ τ edges), labeling every document
    with the min doc_id of its component.

    Pair-level dedup under-collapses: if A~B and B~C but A~C misses
    the threshold, keeping one doc per PAIR still leaves two copies of
    the cluster.  Training-data pipelines therefore cluster the pair
    graph and keep one representative per component — this operator is
    that step, exact.

    Plan (round 12 — CONTRACT BEFORE ITERATING, the same lossless move
    the oracle has used since round 9, now on the engine side):

    1. m1(v) = min(v, min N(v)) — one edges groupBy(src).min partial/
       final hash aggregate (map-side partials: the 38.2 M-edge stream
       at the 100× tier reduces to 500 k rows before the exchange)
       left-joined back to documents.  Near-dup components are DENSE
       (near-cliques), so one local-min round collapses most of each
       component: 100× tier, 38.2 M symmetric edges → 153 k condensed
       edges (−99.6%).
    2. Re-key edges through m1 on both ends, drop self-loops, distinct
       → the condensed edge list.
    3. Run the pointer-jumping min-label loop (``cc_min_labels`` —
       label-of-label shortcut per round, O(log n) worst-case rounds,
       property-pinned on a synthetic 256-chain) on the CONDENSED
       graph only: every per-round shuffle now carries condensed rows,
       not corpus rows.  Rounds also drop (6 → 4 at every probe tier).
    4. Map back: component(doc) = root(m1(doc)).

    Correctness (same argument as _CC_ORACLE's): condensed components
    are exactly the images of the original components, and the
    component min M survives contraction because m1(M) = M (all of
    M's neighbors exceed it), so the condensed loop's min-label IS the
    original component min.  Hash-EQUAL vs the uncontracted loop at
    sf0.001/0.01/0.1 and both probe tiers ('0fdbe9873c66' at 100×);
    pinned by tests/test_properties.py::test_cc_contraction_equals
    plain_loop.

    [MEASURED, round 12 — /tmp cc probes, fresh JVM each, contracted
    FIRST so JVM warmup favors the baseline] cc-phase after the shared
    edge derivation: sf0.1 15.3 → 8.5 s; 10× 9.1 → 6.4 s; 100×
    63.0 → 24.6 s (2.56×; m1 3.3 + cedges 13.2 + loop 6.0 + mapback
    2.1).  The aggregate-first m1 beats join-then-aggregate 3.8 vs
    8.0 s at 100×; an extra distinct((la, dst)) between the two re-key
    joins was measured SLOWER (25.1 vs 10.9 s) and rejected — the
    fan-in collapse does not pay for the extra 38 M-row exchange.
    """
    toks = _doc_tokens(spark, sf_dir)
    pairs = _tau_pairs(toks).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    docs = load(spark, sf_dir, "documents").select("doc_id")
    nmin = edges.groupBy("src").agg(F.min("dst").alias("nmin"))
    m1 = (
        docs.join(nmin, docs.doc_id == nmin.src, "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce(F.col("nmin"), F.col("doc_id"))
            ).alias("l1"),
        )
        .localCheckpoint()
    )
    a = m1.select(F.col("doc_id").alias("src"), F.col("l1").alias("la"))
    b = m1.select(F.col("doc_id").alias("dst"), F.col("l1").alias("lb"))
    cedges = (
        edges.join(a, "src")
        .join(b, "dst")
        .where(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    labels0 = (
        m1.select(F.col("l1").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component_id"))
        .localCheckpoint()
    )
    clabels, _rounds = cc_min_labels(labels0, cedges)
    return m1.join(
        clabels.withColumnRenamed("doc_id", "cnode"), m1.l1 == F.col("cnode")
    ).select("doc_id", "component_id")


_FUZZY_HEAD = 20
_FUZZY_MAX_DIST = 10


@query(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, source, substr(text, 1, {_FUZZY_HEAD}) AS head,
               list_min(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS canopy
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang, a.source,
           CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.canopy = b.canopy
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {_FUZZY_MAX_DIST}
    """,
    tier="P2",
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: document pairs whose leading
    20-char (_FUZZY_HEAD) heads are within Levenshtein distance
    10 (_FUZZY_MAX_DIST), BLOCKED on (lang, source, canopy) where the
    canopy is the alphabetically-least token of the document — the
    entity-resolution join (same title, typo'd name, near-identical
    header) that token-set Jaccard misses because edit-level noise
    preserves few whole tokens.

    Scale discipline: Levenshtein is O(head²) per comparison and
    cannot be indexed by equality, so the candidate space MUST be
    blocked.  (lang, source) alone is a FIXED-cardinality key, so
    block size — and pair work, quadratically — would grow with the
    corpus; the canopy term (the length-1 prefix of the sorted token
    multiset, the classic sorted-neighborhood/canopy key) has
    vocabulary-scaled cardinality (Heaps' law: grows with corpus
    size), keeping blocks bounded as data grows.  Near-identical
    records share their least token under edit noise unless the typo
    hits that token itself — the standard canopy recall trade.  The
    equi-join on the composite key bounds pairs by Σ|block|², and the
    head truncation caps the per-pair DP cost.  Both engines implement
    classic unit-cost Levenshtein and byte-order string min, so the
    distance and the block key are exact cross-engine.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.substring("text", 1, _FUZZY_HEAD).alias("head"),
        F.array_min(toks).alias("canopy"),
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "source",
        "canopy",
        F.col("head").alias("head_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("canopy").alias("canopy_b"),
        F.col("head").alias("head_b"),
    )
    dist = F.levenshtein(F.col("head_a"), F.col("head_b"))
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("canopy") == F.col("canopy_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(dist <= _FUZZY_MAX_DIST)
        .select(
            "doc_a", "doc_b", "lang", "source", dist.cast("int").alias("edit_dist")
        )
    )


_INCR_MOD = 10  # doc_id % 10 == 0 → the simulated "new batch" (~10%)

# NOT collapsed (round 12, measured): the directional new×ref band join
# keeps this oracle's `cand` tiny (10% × 90% of docs), so the collapsed
# replay — which must run the full grp/rtoks machinery over every doc —
# LOSES at sf0.1: 6.3 s collapsed vs 3.9 s uncollapsed (decontam's twin:
# 5.4 vs 1.3 s).  Only the undirected full-corpus oracle above benefits.


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_MINHASH_SIG_CTES},
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sigs a JOIN sigs b
               ON a.band = b.band AND a.sig = b.sig
              AND a.doc_id % {_INCR_MOD} = 0
              AND b.doc_id % {_INCR_MOD} <> 0),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
              FROM cand c
              JOIN toks a ON a.doc_id = c.doc_a
              JOIN toks b ON b.doc_id = c.doc_b AND a.token = b.token
              GROUP BY 1, 2)
    SELECT doc_a AS new_doc_id, doc_b AS ref_doc_id,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_JAC_TAU}
    """,
    tier="P2",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection: which documents of a new ingest
    batch near-duplicate the EXISTING reference corpus — the shape
    production pipelines actually run daily (full-corpus re-dedup is a
    backfill; day-to-day work is new-batch × reference).  The batch is
    simulated deterministically as doc_id % 10 == 0 (~10%).

    Candidate generation is the same banded-MinHash equi-join as
    dedup_near_minhash (shared signature family / _MINHASH_SIG_CTES),
    but the band join is ASYMMETRIC: new-side signatures against
    reference-side signatures only.  No ref×ref pairs are ever formed,
    so per-ingest cost is O(|batch| + collisions), not O(|corpus|²) —
    at 100 TB the reference signatures are a persisted table partitioned
    by (band, sig) (4 ints per doc per band), the daily job scans only
    signature partitions the batch's bands touch, and the raw reference
    text is fetched by id for the survivors alone.  Exact-Jaccard
    verification and τ are identical to the full-corpus twin, so
    incremental output ⊆ full output restricted to new×ref pairs (the
    subset law a user migrating between the two relies on).

    The band join is the family's one ``_first_match_band_join``
    (exactly-once candidate emission, no pair-stream .distinct()
    exchange) with the EXACT-INT size-ratio prune
    (``_size_ratio_prune``) as its extra condition; with_n=True
    computes the per-doc set size inside the signature hash
    aggregate, so the prune costs no extra shuffle.  Output is
    invariant (the prune is lossless for verified ≥ τ pairs;
    first-match only dedups emission) — re-proven by hash.
    """
    toks = _doc_tokens(spark, sf_dir)
    sigs = _band_sigs_wide_from_h(
        toks.select("doc_id", poly_hash("token").alias("h")), with_n=True
    )
    is_new = F.col("doc_id") % _INCR_MOD == 0
    candidates = _first_match_band_join(
        sigs.filter(is_new),
        sigs.filter(~is_new),
        ("doc_a", "doc_b"),
        _MINHASH_B,
        _size_ratio_prune(),
        carry=("n",),
    )
    return (
        _pair_jaccard(toks, candidates)
        .filter(F.col("jaccard") >= _JAC_TAU)
        .select(
            F.col("doc_a").alias("new_doc_id"),
            F.col("doc_b").alias("ref_doc_id"),
            "jaccard",
        )
    )


@query(
    "dedup_keep_longest",
    oracle=f"""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= {_JAC_TAU}
    ),
    meta AS (SELECT doc_id, n_chars FROM documents),
    drops AS (
        SELECT DISTINCT CASE
            WHEN ma.n_chars > mb.n_chars
                 OR (ma.n_chars = mb.n_chars AND ma.doc_id < mb.doc_id)
            THEN p.doc_b ELSE p.doc_a END AS doc_id
        FROM pairs p
        JOIN meta ma ON ma.doc_id = p.doc_a
        JOIN meta mb ON mb.doc_id = p.doc_b
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = d.doc_id)
    """,
    tier="P2",
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup removal with a QUALITY-AWARE keep policy: for every
    exact-Jaccard ≥ τ pair, drop the SHORTER member (n_chars, doc_id
    tiebreak) — the curation policy production pipelines actually
    want (min-id-wins keeps whichever copy happened to be ingested
    first; keep-longest keeps the most complete version of a
    boilerplate-trimmed / truncated duplicate family).

    Pair generation reuses the collapsed PPJoin primitive (never
    all-pairs; _tau_pairs); the keep policy is a pure
    per-pair expression (one loser per pair, deduped), and the removal
    is a hash anti-join on doc_id — so swapping keep policy costs
    NOTHING in plan shape vs dedup-by-id: same shuffles, same anti-
    join, only the CASE changes.  Greedy one-pass semantics: a doc is
    dropped if ANY better near-dup partner exists, matching the
    min-id-wins twin's semantics under a different order; n_chars ties
    break by doc_id so the loser is always unique and deterministic.
    """
    docs = load(spark, sf_dir, "documents")
    toks = _doc_tokens(spark, sf_dir)
    pairs = _tau_pairs(toks)
    meta = docs.select("doc_id", "n_chars")
    ma = meta.select(
        F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("chars_a")
    )
    mb = meta.select(
        F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("chars_b")
    )
    a_better = (F.col("chars_a") > F.col("chars_b")) | (
        (F.col("chars_a") == F.col("chars_b"))
        & (F.col("doc_a") < F.col("doc_b"))
    )
    drops = (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.when(a_better, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "drop_id"
            )
        )
        .distinct()
    )
    return docs.join(
        drops, docs.doc_id == drops.drop_id, "left_anti"
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "dedup_url_canonical",
    oracle="""
    WITH u AS (
        SELECT doc_id, lang, source, n_chars,
               regexp_replace(source, '[^a-z0-9-]', '-', 'g')
               || '.example.org/' || lang || '/doc-'
               || CAST(doc_id % 50 AS VARCHAR) AS canonical_url
        FROM documents
    )
    SELECT canonical_url,
           arg_min(doc_id, doc_id) AS doc_id,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source,
           CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM u
    GROUP BY canonical_url
    """,
    tier="P2",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the web-corpus first pass: strip
    scheme and query parameters (session ids, tracking refs), keep one
    representative per canonical host+path.  Uses the same synthesized
    per-document URL as fn_url_parse (the fixtures carry no URL
    column), whose doc_id % 50 path makes real collision groups.

    Exactly the dedup_exact plan shape with the canonical URL as the
    content key: map-only canonicalization expression, one hash
    shuffle with map-side partial min_by/count, deterministic min-id
    representative.  At 100 TB this is the cheapest dedup stage —
    run before any content hashing, since it needs no text bytes at
    all, only the URL column.
    """
    docs = load(spark, sf_dir, "documents")
    canonical = F.concat(
        F.regexp_replace(F.col("source"), "[^a-z0-9-]", "-"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc-"),
        (F.col("doc_id") % 50).cast("string"),
    )
    return (
        docs.select("doc_id", "lang", "source", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("source", "doc_id").alias("source"),
            F.count(F.lit(1)).alias("n_urls"),
        )
    )


_SEG_TOKENS = 10

_SEG_DEDUP_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t,
           unnest(generate_series(
               0, CAST(ceil(len(t) / {_SEG_TOKENS}.0) AS INT) - 1
           )) AS seg_idx
    FROM toks
), segs AS (
    SELECT doc_id, seg_idx,
           array_to_string(
               t[(seg_idx * {_SEG_TOKENS} + 1):((seg_idx + 1) * {_SEG_TOKENS})],
               ' '
           ) AS seg
    FROM idx
), ranked AS (
    SELECT doc_id, seg_idx, seg,
           ROW_NUMBER() OVER (
               PARTITION BY seg ORDER BY doc_id, seg_idx
           ) AS rn
    FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(
           string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1),
           ''
       ) AS clean_text
FROM ranked
GROUP BY doc_id
"""


@query("dedup_segment_global", oracle=_SEG_DEDUP_ORACLE, tier="P2")
def dedup_segment_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-global segment dedup: split every document into
    fixed 10-token segments (_SEG_TOKENS), keep only the FIRST occurrence of
    each distinct segment corpus-wide (first = lowest (doc_id,
    seg_idx)), and reassemble each document from its surviving
    segments.  This is the line-level dedup of Raffel et al. 2020's C4
    pipeline (boilerplate sentences repeated across millions of pages
    are removed everywhere but one place), adapted to the fixture's
    space-delimited text: the segment — not the document — is the
    dedup unit, so partially-duplicated documents are CLEANED rather
    than dropped or kept whole, which neither exact nor near-dup
    document dedup can express.

    Plan shape, and why it holds at 100 TB: one explode bounded by
    document length, then a single row_number window PARTITIONED BY
    the segment text — Spark shuffles on hash(seg), so the "global"
    first-occurrence decision is a per-key sort over only that
    segment's occurrences (duplicate depth), never a global sort.  The
    rebuild is one partial+final groupBy(doc_id) carrying (seg_idx,
    seg, rn) structs — in-group sort via array_sort keeps the
    concatenation order deterministic under any partitioning, same
    contract as agg_string_agg.  Both shuffles are linear in corpus
    size with no pair blowup: segment dedup is the rare near-dup-class
    operation whose worst case is exactly two scans.  Keep-first by
    (doc_id, seg_idx) is a total order (no tie risk).  Documents whose
    every segment is a repeat survive as audit rows with n_kept = 0
    and empty clean_text — dropping them is the consumer's filter, not
    silent behavior.
    """
    docs = load(spark, sf_dir, "documents")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / "
                f"{_SEG_TOKENS}.0) as int) - 1), "
                f"i -> array_join(slice(split(text, ' '), "
                f"i * {_SEG_TOKENS} + 1, {_SEG_TOKENS}), ' '))"
            )
        ).alias("seg_idx", "seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept_sorted = F.expr(
        "transform(filter(array_sort(collect_list(struct(seg_idx, seg, rn))), "
        "s -> s.rn = 1), s -> s.seg)"
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(kept_sorted, " ").alias("clean_text"),
    )


_SPAN_DEDUP_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT doc_id, i, array_to_string(t[i:i + 7], ' ') AS shingle
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - 7)) AS i
          FROM toks
          WHERE len(t) >= 8)
), stats AS (
    SELECT shingle,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM sh GROUP BY shingle
), rem AS (
    SELECT s.doc_id, s.i
    FROM sh s JOIN stats st ON s.shingle = st.shingle
    WHERE st.n_docs >= 2 AND s.doc_id <> st.min_doc
), cov AS (
    SELECT DISTINCT doc_id, p
    FROM (SELECT doc_id, unnest(generate_series(i, i + 7)) AS p FROM rem)
), tok AS (
    SELECT doc_id, i AS p, t[i] AS token
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
          FROM toks)
)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(cov.p) AS BIGINT) AS n_removed,
       COALESCE(
           string_agg(token, ' ' ORDER BY tok.p)
               FILTER (WHERE cov.p IS NULL),
           ''
       ) AS clean_text
FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
GROUP BY tok.doc_id
"""


def _doc_span_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, i, h1, h2) — positioned, fingerprinted sliding shingles
    of any (doc_id, text)-shaped frame (the text._doc_shingles shape
    without the string column, reusable on a streaming micro-batch)."""
    from powertrainstreaming_spark.operators.text import (
        _SHINGLE_WINDOWS_SQL,
        _with_shingle_hash,
    )

    # Short-doc-guarded (<_SHINGLE_W tokens → zero shingles, doc passes
    # through verbatim downstream) — the unguarded form crashed on
    # docs under the window width; see _SHINGLE_WINDOWS_SQL.
    windows = F.expr(_SHINGLE_WINDOWS_SQL)
    return _with_shingle_hash(
        docs.select(
            "doc_id", F.posexplode(windows).alias("i0", "shingle")
        ).select("doc_id", (F.col("i0") + 1).alias("i"), "shingle")
    ).select("doc_id", "i", "h1", "h2")


def _span_gen_stats(docs: DataFrame) -> DataFrame:
    """Full span-stats table of ONE corpus generation — (h1, h2,
    n_docs, min_doc, first_occ) per distinct span fingerprint, where
    first_occ = min(struct(doc_id, i)) locates the earliest occurrence
    for text rebuild (the census idiom).  This is the STORED form of
    the span index: it keeps n_docs = 1 rows too, because a span seen
    once in the reference and once in a later batch must PROMOTE to
    served status when the generations merge (_span_stats_merge) —
    serving-side consumers filter n_docs >= 2 themselves."""
    return (
        _doc_span_shingles(docs)
        .groupBy("h1", "h2", "doc_id")
        .agg(F.min("i").alias("min_i"))
        .groupBy("h1", "h2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.min(F.struct(F.col("doc_id"), F.col("min_i"))).alias(
                "first_occ"
            ),
        )
    )


def _span_stats_merge(ref: DataFrame, new: DataFrame) -> DataFrame:
    """Merge a NEW generation's span stats into the stored REFERENCE
    stats: one full-outer equi-join on the 128-bit fingerprint —
    index-scaled, never a corpus re-scan, and no ref×ref work (the
    dedup_incremental_minhash discipline).  Generations partition
    documents by construction, so distinct-doc counts ADD exactly,
    and min/first-occ merge as the pairwise minimum."""
    r = ref.select(
        "h1",
        "h2",
        F.col("n_docs").alias("n_ref"),
        F.col("min_doc").alias("min_ref"),
        F.col("first_occ").alias("occ_ref"),
    )
    n = new.select(
        "h1",
        "h2",
        F.col("n_docs").alias("n_new"),
        F.col("min_doc").alias("min_new"),
        F.col("first_occ").alias("occ_new"),
    )
    zero = F.lit(0).cast("bigint")
    return r.join(n, ["h1", "h2"], "full_outer").select(
        "h1",
        "h2",
        F.coalesce("n_ref", zero).alias("n_docs_ref"),
        F.coalesce("n_new", zero).alias("n_docs_new"),
        (F.coalesce("n_ref", zero) + F.coalesce("n_new", zero)).alias(
            "n_docs"
        ),
        F.least("min_ref", "min_new").alias("min_doc"),
        F.when(F.col("occ_ref").isNull(), F.col("occ_new"))
        .when(F.col("occ_new").isNull(), F.col("occ_ref"))
        .when(F.col("occ_ref") < F.col("occ_new"), F.col("occ_ref"))
        .otherwise(F.col("occ_new"))
        .alias("first_occ"),
    )


def _span_removal_index(docs: DataFrame) -> DataFrame:
    """(h1, h2, min_doc) for every ≥2-doc repeated span — the OFFLINE
    MODEL of substring dedup (the span index a stream deployment fits
    on a batch cadence and serves to the ingest path; fingerprint-keyed
    ints only, corpus-scaled but narrow).  The SERVED projection of
    _span_gen_stats; Catalyst prunes the first-occ aggregate this view
    never references.  Refresh cadence: dedup_span_index_merge folds a
    new batch's stats into the stored table without re-scanning the
    reference corpus."""
    return (
        _span_gen_stats(docs)
        .filter(F.col("n_docs") >= 2)
        .select("h1", "h2", "min_doc")
    )


def _span_clean(docs: DataFrame, index: DataFrame) -> DataFrame:
    """Remove every token of ``docs`` covered by an indexed repeated
    span (keep-first: the indexed min_doc keeps all its occurrences)
    and reassemble — pure function of (docs, index), so the batch op
    and the per-micro-batch streaming twin share it verbatim."""
    sh = _doc_span_shingles(docs)
    rem = (
        sh.join(index, ["h1", "h2"])
        .filter(F.col("doc_id") != F.col("min_doc"))
        .select("doc_id", "i")
    )
    from powertrainstreaming_spark.operators.text import _SHINGLE_W

    cov = rem.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + (_SHINGLE_W - 1))).alias(
            "p"
        ),
    ).distinct()
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "token")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "token")
    flagged = toks.join(
        cov.withColumn("hit", F.lit(1)), ["doc_id", "p"], "left"
    ).select("doc_id", "p", "token", F.col("hit").isNull().alias("keep"))
    kept_sorted = F.expr(
        "transform(filter(array_sort(collect_list(struct(p, token, keep))), "
        "s -> s.keep), s -> s.token)"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(kept_sorted, " ").alias("clean_text"),
    )


def _span_dedup_core(docs: DataFrame) -> DataFrame:
    """The sliding-span removal core over any (doc_id, text) frame —
    split out so property tests can drive it with synthetic corpora
    whose repeated spans are known by construction.

    Coverage rule: token position p of doc d is removed iff SOME
    sliding _SHINGLE_W-token window [i, i+7] ∋ p starts a shingle that
    occurs in ≥ 2 distinct documents AND d is not that shingle's
    lowest-id document (keep-first — the dedup_segment_global policy
    at sliding alignment).  All occurrences inside the first document
    survive, including within-doc repeats (df counts DOCUMENTS).
    """
    return _span_clean(docs, _span_removal_index(docs))


@query("dedup_span_repeated", oracle=_SPAN_DEDUP_ORACLE, tier="P2")
def dedup_span_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup ACTION at sliding alignment: remove from
    every non-first document each token covered by a sliding 8-token
    span that repeats across ≥ 2 documents, and reassemble the cleaned
    text — the Lee et al. 2021 ExactSubstr removal for which
    ``text_repeated_ngrams`` is the census (round-9 verdict gap #1:
    census without action).  Contrast the two registered relatives:
    dedup_segment_global removes DISJOINT 10-token segments (misses a
    repeat that straddles a segment boundary); this op's sliding
    windows catch a repeated span at ANY alignment, and keep-first
    (the shingle's lowest-id document keeps ALL its occurrences)
    preserves one canonical copy exactly as segment-global does.

    Plan, all shuffles int-keyed or token-linear: shingles ride the
    128-bit xxhash64 fingerprint (text._with_shingle_hash — collision
    accounting there; strings never shuffle), so span stats
    (df + min_doc) are two int aggregates; removal windows are one
    fingerprint equi-join (corpus-linear — each occurrence meets its
    own stats row exactly once, never another document's occurrence,
    so there is NO pair amplification by duplicate depth); coverage
    explodes each removal window into ≤ 8 (doc, p) ints + distinct;
    the token stream joins coverage on (doc_id, p) and reassembles via
    the dedup_segment_global collect_list(struct)/array_sort idiom
    (per-doc bounded arrays; in-group sort keeps concatenation
    deterministic under any partitioning).  Docs shorter than 8 tokens
    have no windows and pass through verbatim.  The census emits the
    span inventory; this op applies it — build both from the same
    hashed shingle stream.
    """
    return _span_dedup_core(load(spark, sf_dir, "documents"))


_SPAN_MERGE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
    SELECT doc_id, i, array_to_string(t[i:i + 7], ' ') AS shingle
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - 7)) AS i
          FROM toks
          WHERE len(t) >= 8)
), stats AS (
    SELECT shingle,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % {_INCR_MOD} <> 0
                                    THEN doc_id END) AS BIGINT)
               AS n_docs_ref,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % {_INCR_MOD} = 0
                                    THEN doc_id END) AS BIGINT)
               AS n_docs_new,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM sh GROUP BY shingle
)
SELECT shingle AS span, n_docs_ref, n_docs_new, n_docs, min_doc
FROM stats WHERE n_docs >= 2
"""


@query("dedup_span_index_merge", oracle=_SPAN_MERGE_ORACLE, tier="P2")
def dedup_span_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL span-index maintenance: fold a new ingest batch's
    span statistics into the stored reference span index WITHOUT
    re-scanning the reference corpus — the refresh-cadence op
    stream_span_dedup's docstring promises (round-10 verdict gap #1:
    today a deployment must rebuild the index from scratch each
    cadence).  The batch is simulated deterministically as
    doc_id % {_INCR_MOD} == 0 (~10%), the dedup_incremental_minhash
    convention.  Output = the refreshed SERVED index (every span now
    repeated across ≥ 2 docs corpus-wide) with generation provenance:
    n_docs_ref / n_docs_new / n_docs and the keep-first min_doc.  The
    interesting rows are the PROMOTIONS — spans seen once in the
    reference and once in the batch, which only the merge of
    FULL stats tables (n_docs = 1 rows included, _span_gen_stats)
    can catch; a stored served-only (≥ 2) index would silently miss
    them, which is why the stored form keeps singletons.

    Plan: each generation's stats are two int-keyed aggregates over
    THAT generation only (in deployment the reference subtree is one
    scan of the stored parquet stats table — the registered query
    computes it inline because the t2 gate is stateless); the merge is
    one fingerprint-keyed full-outer join, INDEX-scaled (distinct
    spans, sub-corpus by Heaps' law), never pair- or
    occurrence-amplified; no ref×ref work exists anywhere.  Distinct-
    doc counts add exactly because generations partition documents.
    Span text is never shuffled: it is rebuilt at the end by slicing
    the first occurrence's document (the text_repeated_ngrams census
    idiom — min(struct(doc_id, i)) survives the merge as the pairwise
    struct minimum).  Invariance (merge of two generations' stats ≡
    one-shot full-corpus stats) is property-tested on a synthetic
    2-generation corpus with known promotions and on the fixture.
    """
    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % _INCR_MOD == 0
    merged = _span_stats_merge(
        _span_gen_stats(docs.filter(~is_new)),
        _span_gen_stats(docs.filter(is_new)),
    ).filter(F.col("n_docs") >= 2)
    from powertrainstreaming_spark.operators.text import _SHINGLE_W

    occ = merged.select(
        F.col("first_occ.doc_id").alias("o_doc"),
        F.col("first_occ.min_i").alias("o_i"),
        "n_docs_ref",
        "n_docs_new",
        "n_docs",
        "min_doc",
    )
    docs_t = docs.select(
        F.col("doc_id").alias("o_doc"), F.split("text", " ").alias("t")
    )
    return occ.join(docs_t, "o_doc").select(
        F.expr(f"array_join(slice(t, o_i, {_SHINGLE_W}), ' ')").alias(
            "span"
        ),
        "n_docs_ref",
        "n_docs_new",
        "n_docs",
        "min_doc",
    )


def _sem_reps(emb: DataFrame) -> DataFrame:
    """Exact-duplicate collapse for the semantic dedup (the CLAUDE.md
    collapse-before-pair-generation rule, minhash precedent): one
    deterministic representative (min vec_id) per DISTINCT embedding.
    Semantics-preserving by a short argument: a verbatim clone shares
    its representative's cell, centroid-similarity and a cos = 1.0 ≥ τ
    edge to it, so the clone (a) always has an earlier-keyed τ-witness
    — its rep if the rep survives, else whatever earlier-keyed vector
    dropped the rep — hence NEVER survives, and (b) can never drop a
    vector its rep doesn't (same vector, strictly later key).  So the
    survivor set over all vectors equals the survivor set over reps,
    while an m-clone group costs 1 unit of pair work instead of m²."""
    return (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.min_by("label", "vec_id").alias("label"),
        )
        .select("vec_id", "label", "embedding")
    )


@query("dedup_embedding_cluster", oracle=None, tier="P2")
def dedup_embedding_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with k-means, then
    inside each cluster drop every vector that is ≥ τ cosine-similar
    to ANY earlier-keyed vector (kept or itself dropped), where the
    key order prefers the vector FARTHEST from its centroid (the
    paper's diversity-preserving policy — the extreme point represents
    the semantic neighborhood better than the centroid-hugging
    copies), tie-broken by vec_id.  This ONE-SHOT rule deliberately
    deviates from the paper's keep-set greedy: on a similarity chain
    a~b~c with a!~c, greedy keeps {a, c} while one-shot keeps only
    {a} — one-shot is a single self-join (order-free, scalable);
    greedy is inherently sequential within a cell.  Completes the
    registered dedup spectrum: exact / minhash / simhash / n-gram /
    embedding-PAIR cosine (LSH-cell-blocked) / embedding-CLUSTER
    (data-adaptive cells) — the cluster form is what production corpus
    pipelines run at the billion-doc tier because trained cells follow
    the density, so a fixed τ prunes hot semantic neighborhoods
    without cross-cell pair work.

    Policy detail (one-shot greedy, deterministic): vector b is
    dropped iff SOME a in the same cell has (c_sim, vec_id) < b's and
    cos(a, b) ≥ τ.  This is τ-consistent — two survivors of one cell
    are never ≥ τ similar (if they were, the later-keyed one would
    have been dropped by the earlier) — property-tested, along with
    cell confinement and the drop-witness rule.

    Plan: exact-duplicate collapse FIRST (_sem_reps — one hash
    aggregate; provably semantics-preserving, see its docstring, and
    the reason the 100× verbatim-replicated tier costs 1× pair work),
    then the deterministic Lloyd's trainer (shared _train_centroids —
    model-sized codebook, O(1)-in-corpus driver collect; trained on
    DISTINCT vectors so duplicate mass cannot drag centroids),
    map-only nearest-centroid assign (_assign_cells), one within-cell
    self-join whose ONLY equi-key is the cell (plan-asserted: never a
    cartesian),
    left-anti removal keyed on vec_id.  The cell count is
    DATA-ADAPTIVE: k = _adaptive_k(#distinct reps) doubles along the
    _ADAPT_LADDER exactly like the LSH cell modulus, so EXPECTED cell
    size n/k stays ≤ 128 and Σ|cell|² — the pair work — stays linear
    in n under genuinely distinct growth (SemDeDup trains k ∝ n; the
    round-10 verdict flagged the earlier fixed k = 16 as quadratic —
    measured on the perturbed 10×/100× tiers in docs/SCALE.md).  At
    fixture scale (≤ 2048 reps at every SF) the ladder leaves k at 16,
    keeping the trained codebook golden-snapshot-able; at 100 TB the
    codebook at adaptive k moves from a driver collect to a stored
    centroid table with the identical DataFrame shapes (the
    _train_centroids docstring's k-means|| note).  Rows-only t2 check
    (trained centroids are data-dependent, not SQL-expressible);
    correctness is carried by the property suite.
    """
    from powertrainstreaming_spark.functions.exprs import dot_f, sim_round
    from powertrainstreaming_spark.operators.similarity import (
        _adaptive_k,
        _assign_cells,
        _train_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    reps = _sem_reps(emb)
    cents = _train_centroids(reps, k=_adaptive_k(reps.count()))
    cents_df = spark.createDataFrame(cents, "cent_id int, c_emb array<double>")
    cells = _assign_cells(reps, cents)
    scored = cells.join(
        F.broadcast(cents_df), cells.cell == cents_df.cent_id
    ).select(
        "vec_id",
        "label",
        "embedding",
        "cell",
        sim_round(dot_f("embedding", "c_emb")).alias("c_sim"),
    )
    a = scored.select(
        F.col("vec_id").alias("a_id"),
        F.col("cell").alias("a_cell"),
        F.col("c_sim").alias("a_key"),
        F.col("embedding").alias("a_emb"),
    )
    b = scored.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("b_cell"),
        F.col("c_sim").alias("b_key"),
        F.col("embedding").alias("b_emb"),
    )
    earlier = (F.col("a_key") < F.col("b_key")) | (
        (F.col("a_key") == F.col("b_key")) & (F.col("a_id") < F.col("b_id"))
    )
    drops = (
        a.join(b, (F.col("a_cell") == F.col("b_cell")) & earlier)
        .filter(sim_round(dot_f("a_emb", "b_emb")) >= _EMB_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return scored.join(drops, "vec_id", "left_anti").select(
        "vec_id", "label", "cell", "c_sim"
    )


@query("dedup_embedding_cluster_mp", oracle=None, tier="P2")
def dedup_embedding_cluster_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SemDeDup: `dedup_embedding_cluster` with every
    vector probing its TWO nearest k-means cells, so a ≥ τ pair whose
    members straddle one cell boundary still shares a witness block —
    the `sim_pair_multiprobe` recall idea applied to trained cells.
    Registered because the round-11 miss-rate receipt (docs/SCALE.md)
    measured the single-cell miss as MATERIAL on the fixtures: 73-80%
    of exhaustive ≥ τ pairs straddle cells and 63-83% of the base op's
    survivors keep an earlier-keyed cross-cell witness.  SemDeDup
    accepts that miss for throughput; this variant halves the
    boundary blind spot for exactly 2× the assign/join width —
    FAISS's own nprobe trade, here at nprobe = 2.

    Same policy as the base op, wider candidate view: key order is
    (c_sim to the PRIMARY centroid, vec_id) — identical to the base
    op's, since both read `cell` from the same _assign_cells call —
    and vector b is dropped iff SOME vector a sharing
    ANY of the two probe cells has an earlier key and cos(a, b) ≥ τ.
    The candidate set is a SUPERSET of the base op's (same primary
    cell ⇒ shared probe cell), and one-shot drops are monotone in the
    candidate relation, so survivors(mp) ⊆ survivors(base) — asserted
    as a property test, along with τ-consistency across shared probe
    blocks.

    Plan: collapse → train → assign (_assign_cells, whose `cell2` is
    the second-nearest cell; on a one-centroid codebook `cell2 = cell`
    and the `distinct()` on drops absorbs the doubled probe row),
    explode each vector to its ≤ 2 probe cells, ONE equi-join on the
    probe cell (plan-asserted never-cartesian).  Blow-up bound: candidate
    rows ≤ Σ over cells of (|cell| + |2nd-probe members|)² ≈ 4× the
    base op's Σ|cell|², still linear in n under the _adaptive_k
    ladder.  A pair sharing BOTH probe cells would surface twice, so
    the join emits each pair from its LOWEST shared cell only — the
    minhash first-match-band discipline, unrolled to scalar
    comparisons per the CLAUDE.md lambda rule (a_c1/a_c2 ride the
    probe rows as plain int columns).  Rows-only t2 check (trained
    centroids are data-dependent); correctness carried by the
    property suite + golden snapshot.
    """
    from powertrainstreaming_spark.functions.exprs import dot_f, sim_round
    from powertrainstreaming_spark.operators.similarity import (
        _adaptive_k,
        _assign_cells,
        _train_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    reps = _sem_reps(emb)
    cents = _train_centroids(reps, k=_adaptive_k(reps.count()))
    cents_df = spark.createDataFrame(cents, "cent_id int, c_emb array<double>")
    cells = _assign_cells(reps, cents)
    scored = cells.join(
        F.broadcast(cents_df), cells.cell == cents_df.cent_id
    ).select(
        "vec_id",
        "label",
        "embedding",
        "cell",
        "cell2",
        sim_round(dot_f("embedding", "c_emb")).alias("c_sim"),
    )
    probes = scored.select(
        "vec_id",
        "cell",
        "cell2",
        "c_sim",
        "embedding",
        F.explode(F.array("cell", "cell2")).alias("pcell"),
    )
    a = probes.select(
        F.col("vec_id").alias("a_id"),
        F.col("cell").alias("a_c1"),
        F.col("cell2").alias("a_c2"),
        F.col("c_sim").alias("a_key"),
        F.col("embedding").alias("a_emb"),
        F.col("pcell").alias("a_pcell"),
    )
    b = probes.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("b_c1"),
        F.col("cell2").alias("b_c2"),
        F.col("c_sim").alias("b_key"),
        F.col("embedding").alias("b_emb"),
        F.col("pcell").alias("b_pcell"),
    )
    earlier = (F.col("a_key") < F.col("b_key")) | (
        (F.col("a_key") == F.col("b_key")) & (F.col("a_id") < F.col("b_id"))
    )
    # First-match-cell: emit the pair from its lowest shared probe cell
    # only (no shared cell below this row's — unrolled scalars, no
    # higher-order lambda on the pair stream).
    no_lower_shared = ~(
        (
            (F.col("a_c1") < F.col("a_pcell"))
            & ((F.col("a_c1") == F.col("b_c1")) | (F.col("a_c1") == F.col("b_c2")))
        )
        | (
            (F.col("a_c2") < F.col("a_pcell"))
            & ((F.col("a_c2") == F.col("b_c1")) | (F.col("a_c2") == F.col("b_c2")))
        )
    )
    drops = (
        a.join(
            b,
            (F.col("a_pcell") == F.col("b_pcell")) & earlier & no_lower_shared,
        )
        .filter(sim_round(dot_f("a_emb", "b_emb")) >= _EMB_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return scored.join(drops, "vec_id", "left_anti").select(
        "vec_id", "label", "cell", "cell2", "c_sim"
    )
