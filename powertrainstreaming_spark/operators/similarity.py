"""Similarity-search operators (SURVEY.md §2.11).

Embeddings are unit-normalized (FIXTURES.md), so cosine similarity ≡
dot product.  All dot products run through ``exprs.dot_f`` — a
zip_with/aggregate fold, JVM-side, no Python workers (interpreted,
not codegen'd, but measured at parity with an unrolled codegen form
at the pair-join shape — see the dot_f docstring's round-11 A/B).

100 TB design: the brute-force probe scan is O(n) and embarrassingly
parallel (fine at any scale for a single probe).  All-pairs variants
must never materialize O(n²): they block on (label, adaptive LSH
cell) — the cell count doubles as the corpus crosses size thresholds
(``_adaptive_cells``) so each bucket's cross-join stays bounded at
any scale, and the blocking key drives the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from powertrainstreaming_spark.functions.exprs import (
    dot_f,
    money_avg,
    o_dot,
    sim_round,
)
from powertrainstreaming_spark.plans.registry import query
from powertrainstreaming_spark.sources.loaders import load

# The assign/encode bodies shipped to Python workers call module-level
# helpers (``_nearest2``), so this module is pickled BY VALUE, like the
# other worker-callable operator modules: executors never need the
# package importable.
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

_PROBE_VEC_ID = 0


@query(
    "sim_knn_bruteforce",
    oracle=f"""
    SELECT e.vec_id, e.label,
           round({o_dot('e.embedding', 'p.embedding')}, 6) AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {_PROBE_VEC_ID}) p
    WHERE e.vec_id != {_PROBE_VEC_ID}
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
    tier="P0",
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbours of probe vec_id=0 by cosine (≡ dot).

    The probe is a 1-row broadcast cross join — at cluster scale this
    is a map-only scan over the embedding table plus a k-row top-k.
    """
    emb = load(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == _PROBE_VEC_ID).select(
        F.col("embedding").alias("probe_embedding")
    )
    return (
        emb.filter(F.col("vec_id") != _PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            sim_round(dot_f("embedding", "probe_embedding")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


_IVF_BITS = 4  # 2^4 = 16 buckets; probe searches Hamming<=1 cells (5 of 16)


def _cell_expr(col: Column, bits: int = _IVF_BITS) -> Column:
    """Deterministic coarse quantizer: sign bits of the first
    ``bits`` dimensions → bucket id (axis-aligned random-hyperplane
    LSH — the deterministic stand-in for trained IVF centroids)."""
    cell = F.lit(0)
    for i in range(bits):
        cell = cell + F.when(F.element_at(col, i + 1) > 0, 2**i).otherwise(0)
    return cell.cast("int")


def _o_cell(col: str, bits: int = _IVF_BITS) -> str:
    """DuckDB mirror of ``_cell_expr`` for an arbitrary (possibly
    table-qualified) embedding column reference."""
    return (
        "CAST("
        + " + ".join(
            f"(CASE WHEN {col}[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
            for i in range(bits)
        )
        + " AS INT)"
    )


# --- Data-adaptive cell count for the blocked all-pairs family --------------
#
# A fixed cell count re-creates the fixed-cardinality-block problem one
# level down: buckets grow with the corpus and Σ|bucket|² grows
# quadratically.  The adaptive block instead doubles the cell count each
# time the corpus crosses a size threshold (integer comparisons against
# an in-plan COUNT(*) scalar — no floating-point log2, so the modulus is
# bit-identical cross-engine), keeping MEAN BUCKET SIZE bounded by
# ~_ADAPT_LADDER[0]/16 rows at any scale.  The full signature carries
# _ADAPT_MAX_BITS sign bits; masking by the modulus keeps its low bits,
# which equals the cell computed with fewer planes (nested quantizers),
# so growing the corpus only SPLITS existing buckets — the hierarchy a
# production IVF rebuild preserves.
#
# The ladder runs 2048·2^k for k < 20: the modulus keeps doubling up to
# 16·2^20 = 2^24 cells at ~10^9 rows per corpus, i.e. mean bucket size
# stays ≤ ~128 until past a billion vectors (round-4 capped the ladder
# at 1024 cells / ~10M vectors — the same quadratic failure mode one
# decade out; this lifts it three more decades).  24 sign bits fit the
# 64-dim embeddings with room to extend the ladder further — the
# remaining 100 TB knob is `range(20)` below, and the plan shape never
# changes.

_ADAPT_MAX_BITS = 24
_ADAPT_LADDER = [2048 << k for k in range(20)]
assert _ADAPT_MAX_BITS == 4 + len(_ADAPT_LADDER)  # modulus ≤ 2^_ADAPT_MAX_BITS


def _adaptive_mod_expr(n: Column) -> Column:
    """Cell-count modulus 16·2^(#thresholds exceeded) from a corpus
    count column — exact integer arithmetic, mirrors _O_ADAPT_MOD."""
    mod = F.lit(16)
    for t in _ADAPT_LADDER:
        mod = mod * F.when(n > t, F.lit(2)).otherwise(F.lit(1))
    return mod.cast("int")


_O_ADAPT_MOD = (
    "CAST(16 "
    + " ".join(f"* (CASE WHEN n > {t} THEN 2 ELSE 1 END)" for t in _ADAPT_LADDER)
    + " AS INT)"
)


def _adaptive_cells(emb: DataFrame, with_mod: bool = False) -> DataFrame:
    """embeddings → (vec_id, label, cell, embedding[, mod]) with the
    data-adaptive cell id.  The corpus count enters the plan as a
    broadcast 1-row aggregate (never a driver-side .count()), so the
    whole thing is one job and the plan is reusable under streaming
    replay.  ``with_mod`` also emits the modulus column (the active
    cell count) — the multi-probe variant needs it to know which cell
    bits are live."""
    # The 1-row count attaches as a broadcast nested-loop join with a
    # SCALAR build side (keys=[] global aggregate) — cost-identical to
    # a map-side variable, safe at any scale.  The plan-quality tests
    # distinguish this from a data×data product by requiring any BNLJ
    # build side to be a global aggregate.
    ncnt = emb.agg(F.count(F.lit(1)).alias("n"))
    cell_full = _cell_expr(F.col("embedding"), _ADAPT_MAX_BITS)
    cols = [
        F.col("vec_id"),
        F.col("label"),
        (cell_full % _adaptive_mod_expr(F.col("n"))).alias("cell"),
        F.col("embedding"),
    ]
    if with_mod:
        cols.append(_adaptive_mod_expr(F.col("n")).alias("mod"))
    return emb.crossJoin(F.broadcast(ncnt)).select(*cols)


_O_ADAPT_CELLS = f"""
        SELECT vec_id, label, embedding,
               {_o_cell('embedding', _ADAPT_MAX_BITS)} % {_O_ADAPT_MOD} AS cell
        FROM embeddings, (SELECT COUNT(*) AS n FROM embeddings)
"""


def _cell_pairs(cells: DataFrame, id_a: str, id_b: str, order: Column) -> DataFrame:
    """The blocked self-join of ``_adaptive_cells`` rows: every
    (``id_a``, ``id_b``) pair sharing (label, cell) that satisfies
    ``order`` (an id comparison), as ``id_a, label, cell, emb_a,
    id_b, label_b, cell_b, emb_b`` — an equi-join on the block key,
    never an unconditioned crossJoin."""
    a = cells.select(
        F.col("vec_id").alias(id_a),
        F.col("label"),
        F.col("cell"),
        F.col("embedding").alias("emb_a"),
    )
    b = cells.select(
        F.col("vec_id").alias(id_b),
        F.col("label").alias("label_b"),
        F.col("cell").alias("cell_b"),
        F.col("embedding").alias("emb_b"),
    )
    return a.join(b, (a.label == b.label_b) & (a.cell == b.cell_b) & order)


_PAIR_TAU = 0.3


@query(
    "sim_pair_join_threshold",
    oracle=f"""
    WITH c AS (
        {_O_ADAPT_CELLS}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round({o_dot('a.embedding', 'b.embedding')}, 6) AS sim
    FROM c a
    JOIN c b ON a.label = b.label AND a.cell = b.cell
            AND a.vec_id < b.vec_id
    WHERE round({o_dot('a.embedding', 'b.embedding')}, 6) >= {_PAIR_TAU}
    """,
    tier="P1",
)
def sim_pair_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-block pairs with cosine ≥ τ — the blocked all-pairs
    similarity join, blocked on (label, adaptive LSH cell).

    The join key is the BLOCK — (label, sign-bit LSH cell) — never an
    unconditioned crossJoin: each bucket's candidate set is |bucket|²,
    so total work is Σ|bucket|² instead of n².  The cell component is
    the DATA-SCALED half of the key: label alone has fixed cardinality
    (10 at every scale factor), so bucket size — and pair work,
    quadratically — grows with the corpus; the round-3 10× probe
    measured exactly that (14.1× for the sibling top-k).  The adaptive
    modulus (``_adaptive_cells``) doubles the cell count each time the
    corpus crosses a size threshold, keeping mean bucket size bounded
    at any scale while the plan shape (equi-join shuffle on the block
    key, sim filter inside the joined stage) never changes.
    τ=0.3 sits at ~p99 of the within-label sim distribution [MEASURED],
    so the output is non-trivial but bounded.  The filter compares the
    ROUNDED sim on both engines so boundary values cannot diverge.

    Blocking is a recall/cost trade, and at τ=0.3 on near-isotropic
    vectors a single sign-bit cell is recall-poor: measured recall vs
    the exact within-label ground truth is 0.22 @ sf0.001 and 0.10 @
    sf0.01 (each active hyperplane agrees w.p. ~0.6 at sim 0.3 and the
    bits multiply — no bounded-bucket scheme holds both recall and
    bucket bounds here; that is the LSH lower-bound trade, not a bug).
    ``sim_pair_multiprobe`` is the recall knob: same blocking, Hamming-1
    probing, ~4–5× the recall for (1 + active-bits) ≈ log(n) candidate
    fan-out.  Both are pinned by
    tests/test_properties.py::test_cosine_pair_blocking_recall_ladder.
    """
    emb = load(spark, sf_dir, "embeddings")
    order = F.col("vec_a") < F.col("vec_b")
    return (
        _cell_pairs(_adaptive_cells(emb), "vec_a", "vec_b", order)
        .withColumn("sim", sim_round(dot_f("emb_a", "emb_b")))
        .filter(F.col("sim") >= _PAIR_TAU)
        .select("vec_a", "vec_b", "label", "sim")
    )


_TOPK_K = 5


@query(
    "sim_topk_per_query",
    oracle=f"""
    WITH c AS (
        {_O_ADAPT_CELLS}
    )
    SELECT vec_id, neighbor_id, label, sim
    FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id, a.label,
               round({o_dot('a.embedding', 'b.embedding')}, 6) AS sim,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round({o_dot('a.embedding', 'b.embedding')}, 6) DESC,
                            b.vec_id
               ) AS rn
        FROM c a
        JOIN c b ON a.label = b.label AND a.cell = b.cell
                AND a.vec_id != b.vec_id
    )
    WHERE rn <= {_TOPK_K}
    """,
    tier="P2",
)
def sim_topk_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN (k=5) for EVERY vector, blocked on
    (label, adaptive LSH cell): within-block pairs → window top-k.

    Same blocking discipline as sim_pair_join_threshold — the pair
    space is Σ|bucket|², never n², and the ADAPTIVE cell term
    (``_adaptive_cells``: cell count doubles as the corpus crosses
    size thresholds) keeps bucket size bounded as the corpus grows.
    Label alone is fixed-cardinality, which made the round-3 10×
    probe measure 14.1× here; the adaptive cell is the fix.  The
    window shuffles once on vec_id after the blocked join; at 100 TB
    this exact plan is the batch ANN sweep — neighbors are searched
    within the same quantizer cell, the IVF trade.
    """
    emb = load(spark, sf_dir, "embeddings")
    order = F.col("vec_id") != F.col("neighbor_id")
    pairs = _cell_pairs(
        _adaptive_cells(emb), "vec_id", "neighbor_id", order
    ).select(
        "vec_id",
        "neighbor_id",
        "label",
        sim_round(dot_f("emb_a", "emb_b")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK_K)
        .select("vec_id", "neighbor_id", "label", "sim")
    )


_O_ADAPT_CELLS_MOD = f"""
        SELECT vec_id, label, embedding,
               {_o_cell('embedding', _ADAPT_MAX_BITS)} % {_O_ADAPT_MOD} AS cell,
               {_O_ADAPT_MOD} AS mod
        FROM embeddings, (SELECT COUNT(*) AS n FROM embeddings)
"""


@query(
    "sim_pair_multiprobe",
    oracle=f"""
    WITH c AS (
        {_O_ADAPT_CELLS_MOD}
    ), p AS (
        SELECT c.*, CAST(CASE WHEN i = 0 THEN 0 ELSE (1 << (i - 1)) END AS INT) AS f
        FROM c, (SELECT unnest(range(0, {_ADAPT_MAX_BITS + 1})) AS i) ii
        WHERE i = 0 OR (1 << (i - 1)) < mod
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round({o_dot('a.embedding', 'b.embedding')}, 6) AS sim
    FROM p a
    JOIN c b ON a.label = b.label AND xor(a.cell, a.f) = b.cell
            AND a.vec_id < b.vec_id
    WHERE round({o_dot('a.embedding', 'b.embedding')}, 6) >= {_PAIR_TAU}
    """,
    tier="P2",
)
def sim_pair_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant of ``sim_pair_join_threshold``: candidates
    come from the probe side's own cell PLUS every cell at Hamming
    distance 1 over the ACTIVE cell bits — the recall knob of the
    cell-blocked family, as a first-class operator.

    A single sign-bit cell is selective but recall-poor at a low τ on
    near-isotropic vectors (measured 0.10 at sf0.01 for the single-cell
    join — each active hyperplane agrees w.p. ~0.6 at sim 0.3, and the
    bits multiply); flipping each live bit in turn recovers every pair
    the blocking lost to exactly one disagreeing plane, lifting
    measured recall to ~0.5 at gate scale (test_cosine_pair_blocking
    _recall_ladder) for a candidate-volume factor of (1 + active bits)
    — ~log(n), NOT a constant-factor recall/precision trade.  Still a
    pure bucket equi-join: the probe side explodes into ≤ 1 + 24 rows
    keyed by (label, probed cell), the build side stays single-cell,
    and each unordered pair matches at most one flip (f is determined
    by cell_a XOR cell_b), so no dedup pass is needed.  The flip set is
    GATED by the in-plan modulus — only live bits are probed, so probe
    fan-out tracks the ~log(n) active bit count at every scale.
    """
    emb = load(spark, sf_dir, "embeddings")
    cells = _adaptive_cells(emb, with_mod=True)
    probes = (
        cells.select(
            F.col("vec_id").alias("vec_a"),
            F.col("label"),
            F.col("cell"),
            F.col("mod"),
            F.col("embedding").alias("emb_a"),
        )
        .withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.lit(_ADAPT_MAX_BITS)))
        )
        .withColumn(
            "f",
            F.expr(
                "CAST(CASE WHEN i = 0 THEN 0 ELSE shiftleft(1, i - 1) END AS INT)"
            ),
        )
        .filter((F.col("i") == 0) | (F.col("f") < F.col("mod")))
        .withColumn("probe_cell", F.col("cell").bitwiseXOR(F.col("f")))
    )
    b = cells.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("cell").alias("cell_b"),
        F.col("embedding").alias("emb_b"),
    )
    sim = sim_round(dot_f("emb_a", "emb_b"))
    return (
        probes.join(
            b,
            (probes.label == b.label_b)
            & (F.col("probe_cell") == b.cell_b)
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn("sim", sim)
        .filter(F.col("sim") >= _PAIR_TAU)
        .select("vec_a", "vec_b", "label", "sim")
    )


@query(
    "sim_knn_ivf",
    oracle=f"""
    WITH cells AS (
        SELECT vec_id, label, embedding,
               {_o_cell('embedding')} AS cell
        FROM embeddings),
    probe AS (SELECT embedding AS p_emb, cell AS p_cell FROM cells
              WHERE vec_id = {_PROBE_VEC_ID})
    SELECT vec_id, label, cell,
           round({o_dot('embedding', 'p_emb')}, 6) AS sim
    FROM cells, probe
    WHERE vec_id != {_PROBE_VEC_ID}
      AND bit_count(xor(cell, p_cell)) <= 1
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
    tier="P2",
)
def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN via inverted-file (IVF/LSH-bucketed) search —
    the scale path next to sim_knn_bruteforce's exhaustive baseline.

    Index: every vector is assigned a bucket by a deterministic coarse
    quantizer (sign bits of the leading dimensions ≡ axis-aligned
    hyperplane LSH; a trained IVF swaps in k-means centroids, same
    plan).  Query: the probe searches only its own bucket plus
    Hamming-distance-1 neighbors (nprobe=5 of 16 cells) — at 100 TB
    the scan touches ~nprobe/ncells of the corpus instead of all of
    it, and the bucket id is a partition key so pruning happens at
    the storage layer.  Recall vs the exhaustive baseline is
    property-tested (tests/test_properties.py).
    """
    emb = load(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id", "label", "embedding", _cell_expr(F.col("embedding")).alias("cell")
    )
    probe = cells.filter(F.col("vec_id") == _PROBE_VEC_ID).select(
        F.col("embedding").alias("p_emb"), F.col("cell").alias("p_cell")
    )
    return (
        cells.filter(F.col("vec_id") != _PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .filter(F.bit_count(F.col("cell").bitwiseXOR(F.col("p_cell"))) <= 1)
        .select(
            "vec_id",
            "label",
            "cell",
            sim_round(dot_f("embedding", "p_emb")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Trained IVF: k-means coarse quantizer (Lloyd's iterations on DataFrames)

_KM_K = 16
_KM_ITERS = 3
_KM_NPROBE = 4


def _adaptive_k(n: int) -> int:
    """Driver-side twin of ``_adaptive_mod_expr`` for TRAINED cell
    counts: k = _KM_K · 2^(#_ADAPT_LADDER thresholds exceeded by n),
    so a trained quantizer's EXPECTED cell size n/k stays ≤
    _ADAPT_LADDER[0]/_KM_K = 128 at every rung — the SemDeDup "k
    scales with the corpus" doctrine as exact integer arithmetic
    (property-tested in tests/test_properties.py).  Driver-side
    because the consumers are trainers that already run driver-side
    actions per Lloyd's iteration; n arrives from a .count() on the
    distinct-rep frame, one extra job before training.  At fixture
    scale (≤ 2048 distinct embeddings at every SF) k stays pinned at
    _KM_K = 16, which is what keeps the trained-codebook goldens
    stable."""
    k = _KM_K
    for t in _ADAPT_LADDER:
        if n > t:
            k *= 2
    return k


def _dot(a: list[float], b: list[float]) -> float:
    """Driver-side dot of two model-sized vectors (probe · centroid)."""
    return sum(x * y for x, y in zip(a, b))


def _nearest2(E, C, bias):
    """The one nearest-centroid kernel: for every row of E, the column
    of C with the highest score E @ Cᵀ − bias, and the next one.
    ``bias`` is 0 for the inner-product ranking of the IVF cells and
    ‖c‖²/2 per centroid for PQ's L2 ranking (argmin ‖x − c‖² =
    argmax x·c − ‖c‖²/2).

    Order is (score desc, column desc): `best` is the last-argmax, so
    among equal scores the HIGHEST column wins; `second` is the
    last-argmax once `best` is masked out, i.e. the next column in the
    same order.  A one-column C has no second column, so there
    `second = best` (the masked row is all −inf and its last-argmax is
    the only column)."""
    import numpy as np

    sims = E @ C.T - bias
    k = C.shape[0]
    best = k - 1 - np.argmax(sims[:, ::-1], axis=1)
    sims[np.arange(len(sims)), best] = -np.inf
    second = k - 1 - np.argmax(sims[:, ::-1], axis=1)
    return best, second


def _assign_cells(
    emb: DataFrame, cent_list: list[tuple[int, list[float]]]
) -> DataFrame:
    """The one nearest-centroid assign: every vector's nearest and
    second-nearest codebook cell, as ``vec_id, label, embedding, cell,
    cell2``.  One numpy GEMM per Arrow batch (``mapInPandas`` over
    ``_nearest2``, zero bias) against the closure-captured codebook
    (k × d doubles — model-sized, shipped with the task closure):
    map-only, no join, no shuffle.  A crossJoin form would materialize
    n·k rows with an interpreted dot each, and with k ∝ n (the
    _adaptive_k ladder) that is quadratic — the round-11 perturbed
    probe measured such a trainer at 1351 s for k = 2048 × 200k
    vectors, wholly assign-bound.

    Columns are in cent_id order, so `cell` is the nearest cell with
    ties to the HIGHEST cent_id and `cell2` the next one in the same
    order.  Every caller gets `cell2` (one O(k) argmax per row beside
    the O(d·k) GEMM); the multi-probe dedup op is the one that reads
    it.  A one-centroid codebook gives `cell2 = cell` — k = 1 happens
    whenever the trainer sees one distinct vector, since it
    initialises from the k smallest vec_ids.  Sims are BLAS sums, not
    ``dot_f``'s sequential fold, so a last-ulp near-tie could in
    principle rank differently from a SQL-side dot;
    test_assign_cells_matches_sequential_fold_reference pins both
    cells against the fold on a codebook with forced ties."""
    import numpy as np

    order = sorted(cent_list)
    ids = np.array([cid for cid, _ in order], dtype=np.int64)
    C = np.array([c for _, c in order], dtype=np.float64)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            best, second = _nearest2(E, C, 0.0)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "embedding": pdf["embedding"],
                    "cell": ids[best].astype("int32"),
                    "cell2": ids[second].astype("int32"),
                }
            )

    return emb.mapInPandas(
        assign,
        schema=(
            "vec_id bigint, label int, embedding array<float>, "
            "cell int, cell2 int"
        ),
    )


def _init_codebook(emb: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """No-RNG Lloyd's init shared by both trainers: the embeddings of
    the k smallest vec_ids, as cent_ids 0..k−1 (fewer when the corpus
    has fewer than k vectors)."""
    init = emb.orderBy("vec_id").limit(k).collect()
    return [(i, [float(x) for x in r.embedding]) for i, r in enumerate(init)]


_Books = list[list[tuple[int, list[float]]]]  # (cent_id, centroid) per slice


def _lloyd_update(assigned: DataFrame, key: Column, books: _Books) -> _Books:
    """The one exact centroid update of both trainers.  ``books`` are
    codebooks over consecutive slices of the embedding (k-means: one
    over all of it; PQ: _PQ_M of dim/_PQ_M each); ``assigned`` carries
    each vector's ``embedding``, and ``key`` names the cell each
    component averages into — it may read the component's ``pos``
    (PQ: the code of that component's subspace).  Every component is
    an EXACT decimal mean over one posexplode → groupBy(key, pos) →
    money_avg job for all books — order-insensitive, so the trained
    codebook is bit-identical run to run and the operators are
    golden-snapshot-able.  A cell no vector chose keeps its previous
    centroid (deterministic)."""
    means = {
        (r.key, r.pos): r.mean_v
        for r in assigned.select("*", F.posexplode("embedding").alias("pos", "v"))
        .groupBy(key.alias("key"), "pos")
        .agg(money_avg("v").alias("mean_v"))
        .collect()
    }
    out, lo = [], 0
    for book in books:
        hi = lo + len(book[0][1])
        out.append(
            [
                (cid, [means[(cid, p)] for p in range(lo, hi)])
                if (cid, lo) in means
                else (cid, prev)
                for cid, prev in book
            ]
        )
        lo = hi
    return out


def _train_centroids(
    emb: DataFrame, k: int = _KM_K
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's training.

    Init = the k smallest vec_ids' embeddings (``_init_codebook``; no
    RNG; default k = _KM_K, the fixture-pinned codebook size — pass
    _adaptive_k(n) to scale the cell count with the corpus; a corpus
    of fewer than k vectors trains fewer than k centroids).  Each
    round: assign against the current codebook list (_assign_cells,
    the map-only GEMM above), then recompute every centroid as an
    exact decimal mean (``_lloyd_update``).  The codebook is
    model-sized (k × dim doubles): collecting it to the driver is O(1)
    in the data, the same at 100 TB as at sf0.001.  Scale-up swaps:
    k-means|| init and mini-batch updates keep the identical DataFrame
    shapes.
    """
    cents = _init_codebook(emb, k)
    for _ in range(_KM_ITERS):
        (cents,) = _lloyd_update(
            _assign_cells(emb, cents), F.col("cell"), [cents]
        )
    return cents


def _probe_vector(emb: DataFrame) -> list[float]:
    """The probe (vec_id = _PROBE_VEC_ID) embedding, driver-side."""
    return [
        float(x)
        for x in emb.filter(F.col("vec_id") == _PROBE_VEC_ID)
        .select("embedding")
        .first()[0]
    ]


def _probe_sim(probe: list[float]) -> Column:
    """Exact rerank score: ``embedding`` · probe, rounded, as ``sim``."""
    return sim_round(
        dot_f("embedding", F.array(*[F.lit(x) for x in probe]))
    ).alias("sim")


def _probed_cells(
    cents: list[tuple[int, list[float]]], probe: list[float]
) -> list[tuple[int, list[float]]]:
    """The _KM_NPROBE cells a probe scans: ranked by (−q·c, cent_id)
    driver-side, from the already-driver-resident codebook."""
    return sorted(cents, key=lambda c: (-_dot(c[1], probe), c[0]))[
        :_KM_NPROBE
    ]


@query("sim_knn_ivf_kmeans", oracle=None, tier="P2")
def sim_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with a TRAINED coarse quantizer: k-means IVF (the classic
    IVFFlat layout), upgrading sim_knn_ivf's data-independent LSH
    cells to data-adaptive centroids.

    Index: k=16 centroids trained by 3 deterministic Lloyd's rounds
    (above); every vector stores its nearest-centroid cell.  Query:
    rank cells by centroid similarity to the probe driver-side (the
    codebook is already on the driver — no extra job), scan only the
    nprobe=4 best cells (~nprobe/k of the corpus), exact-dot rerank,
    top-10.  At 100 TB the cell id is the partition key, so the
    non-probed ~3/4 of the corpus is pruned at the storage layer, and
    recall beats LSH at equal scan fraction because cells follow the
    data distribution.  Rows-only t2 check (training is iterative —
    not SQL-expressible); exact-rerank correctness and determinism
    are property-tested in tests/test_properties.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    cents = _train_centroids(emb)
    probe = _probe_vector(emb)
    probe_cells = [cid for cid, _ in _probed_cells(cents, probe)]
    return (
        _assign_cells(emb, cents)
        .filter(
            F.col("cell").isin(probe_cells)
            & (F.col("vec_id") != _PROBE_VEC_ID)
        )
        .select("vec_id", "label", "cell", _probe_sim(probe))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Product quantization: the compressed-index ANN (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search")

_PQ_M = 8  # subspaces (64-dim fixture -> 8 dims each)
_PQ_K = 16  # centroids per subspace -> 4-bit codes, M bytes per vector
_PQ_ITERS = 3
_PQ_RERANK = 100  # ADC candidate pool handed to the exact reranker



def _pq_encode(emb: DataFrame, books: _Books) -> DataFrame:
    """Product-quantize every vector: ``emb``'s rows plus ``codes``,
    the _PQ_M per-subspace codes (the persisted index row).  One
    ``mapInPandas`` pass calls the nearest kernel once per subspace
    with bias ‖c‖²/2 (a sequential double sum per centroid), so each
    code is the L2-nearest centroid of its subvector, ties to the
    HIGHEST cent_id — the ``_assign_cells`` path with PQ's bias:
    map-only, no codebook join, no per-row interpreted dot."""
    import numpy as np

    tables, lo = [], 0
    for book in books:
        order = sorted(book)
        hi = lo + len(order[0][1])
        tables.append(
            (
                lo,
                hi,
                np.array([cid for cid, _ in order], dtype=np.int32),
                np.array([c for _, c in order], dtype=np.float64),
                np.array([sum(x * x for x in c) / 2.0 for _, c in order]),
            )
        )
        lo = hi

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = np.stack(
                [
                    ids[_nearest2(E[:, lo:hi], C, bias)[0]]
                    for lo, hi, ids, C, bias in tables
                ],
                axis=1,
            )
            yield pdf.assign(codes=list(codes))

    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.schema)
    return emb.mapInPandas(encode, schema=f"{cols}, codes array<int>")


def _pq_train(emb: DataFrame) -> _Books:
    """Deterministic per-subspace Lloyd's — ``_train_centroids``'s
    init and update, run for ALL _PQ_M subspaces per job: the init
    slices the _PQ_K smallest vec_ids' embeddings (``_init_codebook``)
    into per-subspace codebooks, each round encodes with the map-only
    ``_pq_encode`` and moves every codebook through one
    ``_lloyd_update`` job keyed on the code of each component's
    subspace.  The full codebook is M × K × (dim/M) doubles = one
    vector-width × K — model-sized, O(1) in the corpus, collected to
    the driver exactly like the IVF codebook."""
    init = _init_codebook(emb, _PQ_K)
    dim_per = len(init[0][1]) // _PQ_M
    books = [
        [(cid, v[m * dim_per : (m + 1) * dim_per]) for cid, v in init]
        for m in range(_PQ_M)
    ]
    code_of_pos = F.expr(f"codes[pos div {dim_per}]")
    for _ in range(_PQ_ITERS):
        books = _lloyd_update(_pq_encode(emb, books), code_of_pos, books)
    return books


def _pq_adc_expr(probe: list[float], books: _Books) -> Column:
    """The ADC score as an UNROLLED sum of M element_at lookups into
    driver-inlined distance-table array literals (scalar terms per the
    CLAUDE.md lambda rule): dtab[m][k] = q_m · c_{m,k}, so
    Σ_m dtab[m][code_m] reconstructs q·x (or q·r for residual
    codebooks) up to quantization error — map-only, no join.  Each
    table spans its trained codebook's cent_ids 0..k−1, so a corpus of
    fewer than _PQ_K vectors gets a shorter table."""
    dim_per = len(probe) // _PQ_M
    adc = None
    for m, book in enumerate(books):
        q_m = probe[m * dim_per : (m + 1) * dim_per]
        arr = F.array(*[F.lit(_dot(q_m, v)) for _, v in sorted(book)])
        term = F.element_at(arr, F.col("codes").getItem(m) + 1)
        adc = term if adc is None else adc + term
    return adc


def _adc_rerank(
    codes: DataFrame,
    emb: DataFrame,
    probe: list[float],
    adc: Column,
    *carry: str,
) -> DataFrame:
    """The query tail of both PQ ops: top-_PQ_RERANK of ``codes`` by
    ADC score (a map-only codegen scan of the codes), then exact-dot
    rerank of that pool's full vectors, top-10.  ``carry`` columns of
    ``codes`` ride through to the output."""
    cands = (
        codes.filter(F.col("vec_id") != _PROBE_VEC_ID)
        .select("vec_id", *carry, adc.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col("vec_id"))
        .limit(_PQ_RERANK)
    )
    return (
        cands.join(emb, "vec_id")
        .select(
            "vec_id",
            "label",
            *carry,
            sim_round(F.col("adc")).alias("adc_sim"),
            _probe_sim(probe),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query("sim_pq_adc", oracle=None, tier="P2")
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a PRODUCT-QUANTIZED index with asymmetric distance
    computation (ADC) + exact rerank — the compressed-index layout a
    100 TB vector corpus actually deploys (Jégou et al. 2011): each
    vector is stored as _PQ_M 4-bit codes (4 bytes here vs 256 bytes
    raw, a 64× memory cut), queries scan CODES ONLY, and only a
    {_PQ_RERANK}-row candidate pool ever touches full vectors.

    Index build (once per corpus): per-subspace k-means codebooks
    (_pq_train), then one map-only ``_pq_encode`` pass packs every
    vector's M codes into a single array column, the persisted index
    row.  Query: the probe's distance table
    dtab[m][k] = q_m · c_{{m,k}} is M × K = {_PQ_M * _PQ_K} doubles,
    computed driver-side from the already-driver-resident codebook and
    inlined as array LITERALS — the ADC score is then an UNROLLED sum
    of {_PQ_M} element_at lookups (scalar terms per the CLAUDE.md
    lambda rule), a map-only whole-stage-codegen scan of the code
    table with NO join and NO shuffle: inner products are additive
    across subspaces, so Σ_m dtab[m][code_m] reconstructs q·x up to
    quantization error.  Top-{_PQ_RERANK} by ADC score, exact-dot
    rerank of those {_PQ_RERANK} full vectors, top-10 out
    (``_adc_rerank``).

    Rows-only t2 check (k-means training is iterative, not
    SQL-expressible); determinism, code-domain validity, ADC-vs-exact
    fidelity, and recall@10 vs sim_knn_bruteforce are property-tested
    in tests/test_properties.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", "embedding")
    books = _pq_train(vecs)
    probe = _probe_vector(emb)
    return _adc_rerank(
        _pq_encode(vecs, books), emb, probe, _pq_adc_expr(probe, books)
    )


@query("sim_knn_ivf_pq", oracle=None, tier="P2")
def sim_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED production ANN index — IVF coarse quantizer over
    PQ-compressed RESIDUALS (the FAISS IVFPQ layout, Jégou et al. 2011
    §IV): the k-means cells give partition-pruned scan scope, the PQ
    codes give 64×-compressed in-cell scoring, and the residual trick
    (quantize x − c_cell, not x) concentrates each subquantizer on the
    within-cell variance, which is why IVFPQ beats flat PQ at equal
    code budget.

    Index build (once per corpus): coarse k-means (the shared
    ``_train_centroids``), assign every vector a cell (the shared
    ``_assign_cells``), subtract its
    centroid (one broadcast join + zip_with per corpus row — a
    vector-width column op, not pair work), then train the shared
    residual codebooks and pack 4-bit codes (the shared ``_pq_train``
    / ``_pq_encode``, whose map-only pass carries the cell through).
    The persisted row is (vec_id, cell, codes) — 4 bytes of code + a
    cell id per 256-byte vector.

    Query (all decisions driver-side from the model-sized codebooks):
    rank cells by q·c, probe the top {_KM_NPROBE}; the inner-product
    decomposition q·x = q·c_cell + q·r makes the ADC table
    CELL-INDEPENDENT (dtab[m][k] = q_m · cres_{{m,k}} — one table for
    every probed cell, inlined as literals) and the cell term a
    per-cell CONSTANT (a {_KM_NPROBE}-arm CASE of literals).  The scan
    is then: partition-prune to probed cells, map-only codegen ADC
    over codes, top-{_PQ_RERANK} pool, exact rerank of the pool's full
    vectors, top-10 (``_adc_rerank``).  No join, no shuffle at query
    time beyond the top-k.  At 100 TB: cell = partition key prunes
    ~(k−nprobe)/k of the corpus at the storage layer; the in-cell scan
    reads 4-byte codes, not vectors — the two savings MULTIPLY, which
    is the whole point of the composition.

    Rows-only t2 check (two iterative k-means trainings); recall@10 vs
    bruteforce, candidate-confinement-to-probed-cells, and determinism
    are property-tested in tests/test_properties.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    coarse = _train_centroids(emb)
    coarse_df = spark.createDataFrame(
        coarse, "cent_id int, c_emb array<double>"
    )
    resid = (
        _assign_cells(emb, coarse)
        .join(
            F.broadcast(
                coarse_df.select(
                    F.col("cent_id").alias("cell"),
                    F.col("c_emb").alias("c_emb"),
                )
            ),
            "cell",
        )
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                "embedding", "c_emb", lambda a, b: a - b
            ).alias("embedding"),
        )
        .localCheckpoint()  # feeds every round
    )
    books = _pq_train(resid)

    probe = _probe_vector(emb)
    probed = _probed_cells(coarse, probe)
    cell_term = None
    for cid, cvec in probed:
        qc = F.lit(_dot(probe, cvec))
        cell_term = (
            F.when(F.col("cell") == cid, qc)
            if cell_term is None
            else cell_term.when(F.col("cell") == cid, qc)
        )
    adc = cell_term + _pq_adc_expr(probe, books)
    codes = _pq_encode(
        resid.filter(F.col("cell").isin([cid for cid, _ in probed])), books
    )
    return _adc_rerank(codes, emb, probe, adc, "cell")


# ---------------------------------------------------------------------------
# Random-projection LSH: band-blocked all-pairs (the unlabeled scale path)

_LSH_BANDS = 6
_LSH_BITS = 6  # base bucket bits per band (64 buckets at fixture scale)
_LSH_MAX_BITS = 20  # up to 14 extra planes gated in by corpus size
_LSH_DIM = 64
_LSH_TAU = 0.3
# Bucket-count ladder, same discipline as _ADAPT_LADDER: the bucket
# count per band doubles each time the corpus crosses a size threshold,
# so band-bucket size stays bounded as data grows (a fixed 64-bucket
# band would re-create the fixed-cardinality-block problem this file's
# blocked joins exist to avoid).  14 rungs: the per-band bucket count
# keeps doubling to 64·2^14 = 2^20 at ~16M rows (round-4 capped at
# 1024 buckets / ~16k rows).  At n <= 2048 only the base 6 bits are
# live — fixture-scale results are unchanged.  Extension planes are
# GATED by the in-plan modulus, not computed-then-masked, so the
# signature cost scales with the ACTIVE plane count (~log n), not the
# ladder length — extending `range(14)` further is free until the
# corpus actually grows.
_LSH_LADDER = [2048 << k for k in range(14)]
assert _LSH_MAX_BITS == _LSH_BITS + len(_LSH_LADDER)

_LSH_EXT_POOL = 1000  # disjoint plane-id pool for extension bits
_LSH_EXT_STRIDE = 100  # per-band id stride: stable for any ladder ≤ 100 rungs
# (band b's extension bit _LSH_EXT_STRIDE would collide with band
# b+1's extension bit 0, so uniqueness requires the rung count — the
# ladder length, _LSH_MAX_BITS - _LSH_BITS — to stay ≤ the stride).
assert _LSH_MAX_BITS - _LSH_BITS <= _LSH_EXT_STRIDE


def _lsh_plane_index(band: int, j: int) -> int:
    """Plane id for signature bit j of a band.  Bits below _LSH_BITS
    keep their original plane ids (so the low bits reproduce the
    historical 6-bit signature exactly); extension bits draw from a
    disjoint id pool with a FIXED per-band stride, so plane ids — and
    therefore results at every scale — are stable under future ladder
    extensions."""
    if j < _LSH_BITS:
        return band * _LSH_BITS + j
    return _LSH_EXT_POOL + band * _LSH_EXT_STRIDE + (j - _LSH_BITS)


def _lsh_weights(plane: int) -> list[int]:
    """Deterministic ±1 hyperplane for one signature bit: the sign is a
    pure integer function of (plane, dim) — no RNG, so both engines and
    every run share the exact codebook.  ±1 entries make the projection
    a signed sum (sign-random-projection LSH, the standard SimHash-for-
    vectors construction)."""
    return [
        1 if ((plane * _LSH_DIM + i + 1) * 2654435761) % 97 % 2 == 0 else -1
        for i in range(_LSH_DIM)
    ]


def _lsh_sig_exprs(mod: Column) -> list[Column]:
    """Per-band signature expressions with extension planes GATED by
    the in-plan modulus: plane j ≥ _LSH_BITS is live iff 2^j < mod,
    which is bit-for-bit the same set a `sig % mod` mask would keep
    (mod is a power of two) — but the projection behind an inactive
    plane is never evaluated (CASE branches are lazy in codegen), so
    signature cost tracks the active plane count, not _LSH_MAX_BITS.
    Returned as raw int columns (one per band) so the caller can lay
    them out as s0..s{b−1} scalar columns — the wide shape
    ``dedup._band_explode`` takes."""
    sigs = []
    for band in range(_LSH_BANDS):
        sig = F.lit(0)
        for j in range(_LSH_MAX_BITS):
            w = _lsh_weights(_lsh_plane_index(band, j))
            proj = dot_f(F.col("embedding"), F.array(*[F.lit(x) for x in w]))
            bit = F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
            if j >= _LSH_BITS:
                bit = F.when(F.lit(2**j) < mod, bit).otherwise(F.lit(0))
            sig = sig + bit
        sigs.append(sig.cast("int"))
    return sigs


def _lsh_mod_expr(n: Column) -> Column:
    """Bucket count per band: 64·2^(#thresholds exceeded) — exact
    integer arithmetic, mirrors _O_LSH_MOD."""
    mod = F.lit(2**_LSH_BITS)
    for t in _LSH_LADDER:
        mod = mod * F.when(n > t, F.lit(2)).otherwise(F.lit(1))
    return mod.cast("int")


_O_LSH_MOD = (
    f"CAST({2**_LSH_BITS} "
    + " ".join(f"* (CASE WHEN n > {t} THEN 2 ELSE 1 END)" for t in _LSH_LADDER)
    + " AS INT)"
)


def _o_lsh_band_sig(band: int) -> str:
    """DuckDB mirror of one band's gated signature (``mod`` must be in
    scope; DuckDB CASE is lazy too, so inactive planes cost nothing
    on the oracle side either)."""
    terms = []
    for j in range(_LSH_MAX_BITS):
        w = _lsh_weights(_lsh_plane_index(band, j))
        lit = "[" + ", ".join(str(x) for x in w) + "]"
        t = f"(CASE WHEN {o_dot('embedding', lit)} > 0 THEN {2**j} ELSE 0 END)"
        if j >= _LSH_BITS:
            t = f"(CASE WHEN {2**j} < mod THEN {t} ELSE 0 END)"
        terms.append(t)
    return "CAST(" + " + ".join(terms) + " AS INT)"


_LSH_SIGS_SQL = "\n        UNION ALL ".join(
    f"SELECT vec_id, {band} AS band, {_o_lsh_band_sig(band)} AS sig "
    "FROM embeddings, m"
    for band in range(_LSH_BANDS)
)


@query(
    "sim_lsh_rp_pairs",
    oracle=f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
    m AS (SELECT {_O_LSH_MOD} AS mod FROM nn),
    sigs AS (
        {_LSH_SIGS_SQL}
    ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM sigs a
        JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                   AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           round({o_dot('ea.embedding', 'eb.embedding')}, 6) AS sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = vec_a
    JOIN embeddings eb ON eb.vec_id = vec_b
    WHERE round({o_dot('ea.embedding', 'eb.embedding')}, 6) >= {_LSH_TAU}
    """,
    tier="P2",
)
def sim_lsh_rp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar pairs via sign-random-projection LSH banding — the
    blocked all-pairs join for corpora with NO label/cluster column
    (the docstring promise of sim_pair_join_threshold, made real).

    Index: 6 bands × an ADAPTIVE number of sign-bits — each band's
    signature carries up to 20 planes, of which 6 + (#size thresholds
    the corpus exceeds) are live (same ladder discipline as
    ``_adaptive_cells``, buckets doubling up to 2^20 per band at ~16M
    rows), so band-bucket size stays bounded as the corpus grows.
    Inactive planes are GATED by the in-plan modulus, never computed —
    signature cost is ~log(n) planes, not the ladder length — and at
    fixture scale exactly the base 6 bits are live.  Each vector lands
    in one bucket per band.  Candidates: vectors sharing any (band,
    bucket),
    generated by a self-equi-join on the band key — the shuffle is keyed
    on (band, sig), candidate volume is Σ|bucket|² per band, never n².
    Rerank: exact dot on the exactly-once candidate set, keep sim ≥ τ.
    The band join is the MinHash family's ``_first_match_band_join``
    over ``_band_explode``d sigs (each band's sig computed once as a
    scalar column, earlier bands' sigs carried on the sig rows, pair
    emitted from its lowest matching band only) — no pair-stream
    .distinct() exchange deduplicates multi-band emissions.
    [MEASURED sf0.1, when this op moved to first-match] the old
    duplicate stream was 1,175,817 rows over 481,109 distinct
    candidates (2.44×); at the 1000× tier (2.27 B emitted pairs) the
    deleted exchange covered a ~2.4× multiple of that stream.

    The signature join carries only (vec_id, band, sig) — 3 ints per
    vector per band — and embeddings are re-joined by id only for the
    ~0.1% of pairs that survive banding: at 100 TB the wide vector
    column stays out of the biggest shuffle entirely.  Recall vs the
    exhaustive pair join is property-tested; the oracle mirrors the
    construction exactly (deterministic codebook), so correctness is
    hash-checked, approximation and all.
    """
    from powertrainstreaming_spark.operators.dedup import (
        _band_explode,
        _collapse_cap,
        _first_match_band_join,
    )

    emb = load(spark, sf_dir, "embeddings")
    # ladder input stays the TOTAL corpus size (mirrors the oracle's n)
    ncnt = emb.agg(F.count(F.lit(1)).alias("n"))
    # Exact-duplicate collapse BEFORE banding: identical vectors share
    # every band bucket by construction, so a group of m verbatim
    # copies amplifies every candidate its vector participates in by
    # m² while adding zero information — the standard near-dup
    # pipeline runs exact dedup first for exactly this reason.
    # [MEASURED] at 100x staging (every vector x100 verbatim) the
    # uncollapsed plan generates ~10^4x the 1x candidate volume
    # (~10^10 pair rows, >230 GB of shuffle — two disk-exhaustion
    # failures on a 250 GB scratch volume); collapsed, banding work is
    # per DISTINCT vector and only the final member expansion is
    # proportional to the true output.  Per-group member payload is
    # bounded by the exact-duplicate multiplicity (same per-key
    # contract as collect_sorted; cap it if a corpus can contain a
    # billion-fold verbatim clone).  Results are identical row-for-row:
    # clones have identical signatures, so (u, v) share a bucket iff
    # their representatives do, and within-group pairs always co-bucket.
    grp = emb.groupBy("embedding").agg(
        F.min("vec_id").alias("rep"),
        F.collect_list("vec_id").alias("members"),
        F.count(F.lit(1)).alias("m"),
    )
    # The members payload is ONE array row per distinct vector, linear
    # in its exact-duplicate multiplicity m — fine at the measured
    # 100x/1000x clone depths, but a corpus with a ~10^7-fold verbatim
    # clone would put an ~80 MB array in a single aggregation row and
    # stress that task's memory before anything else in the plan.
    # Fail LOUDLY there instead of degrading (the near-dup family's one
    # cap, ``_collapse_cap``).  Beyond the cap the right plan is a
    # two-level collapse (collect per (embedding, salt), then merge) —
    # not needed until a real corpus shows such a group.
    grp = grp.filter(_collapse_cap("rp_pairs", "embedding"))
    # Wide signature layout: compute each band's sig ONCE as a plain
    # column; _band_explode then lays out (band, sig) rows carrying
    # every EARLIER band's sig, the input of the MinHash family's
    # _first_match_band_join.
    sig_exprs = _lsh_sig_exprs(F.col("mod"))
    wide = (
        grp.crossJoin(F.broadcast(ncnt))
        .withColumn("mod", _lsh_mod_expr(F.col("n")))
        .select(
            F.col("rep").alias("vec_id"),
            *[sig_exprs[b].alias(f"s{b}") for b in range(_LSH_BANDS)],
        )
    )
    sigs = _band_explode(wide, "vec_id", _LSH_BANDS)
    cand = _first_match_band_join(
        sigs,
        sigs,
        ("vec_a", "vec_b"),
        _LSH_BANDS,
        F.col("vec_a") < F.col("vec_b"),
        key="vec_id",
    )
    reps = grp.select("rep", "embedding", "members")
    ea = reps.select(
        F.col("rep").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("members").alias("members_a"),
    )
    eb = reps.select(
        F.col("rep").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("members").alias("members_b"),
    )
    # Verify re-attach as SHUFFLE HASH joins, not sort-merge: once the
    # first join widens each pair row with a 64-double vector, sorting
    # that stream for an SMJ is the dominant spill of the whole plan
    # ([MEASURED] at 100x staging, ~50M candidate pairs x ~0.5 KB sort
    # rows exhausted 90+ GB of local scratch).  Hashing the NARROW
    # embeddings side (linear in corpus, ~1 MB per partition slice at
    # 640 partitions) and streaming the wide pair side through it
    # leaves the shuffle files as the only disk cost — the same
    # fact-stream-vs-hashed-dim shape a 100 TB verify stage needs.
    cross = (
        cand.join(ea.hint("shuffle_hash"), "vec_a")
        .join(eb.hint("shuffle_hash"), "vec_b")
        .withColumn("sim", sim_round(dot_f("emb_a", "emb_b")))
        .filter(F.col("sim") >= _LSH_TAU)
        # expand the surviving REP pair to every member combination;
        # each unordered member pair appears exactly once, re-oriented
        # by least/greatest to honor the vec_a < vec_b output contract
        .select(
            F.explode("members_a").alias("ma"),
            F.col("members_b").alias("mbs"),
            "sim",
        )
        .select(F.col("ma"), F.explode("mbs").alias("mb"), "sim")
        .select(
            F.least("ma", "mb").alias("vec_a"),
            F.greatest("ma", "mb").alias("vec_b"),
            "sim",
        )
    )
    # within-group pairs: verbatim clones co-bucket in every band, so
    # the uncollapsed plan always emitted all C(m, 2) of them (their
    # sim is the self dot); emit them directly, no banding needed
    within = (
        grp.filter(F.col("m") >= 2)
        .withColumn("sim", sim_round(dot_f("embedding", "embedding")))
        .filter(F.col("sim") >= _LSH_TAU)
        .select(F.explode("members").alias("ma"), "members", "sim")
        .select("ma", F.explode("members").alias("mb"), "sim")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("vec_a"), F.col("mb").alias("vec_b"), "sim"
        )
    )
    return cross.unionAll(within)


# ---------------------------------------------------------------------------
# Asymmetric containment join (quote / subset detection)

# tau as an exact integer fraction: every PRUNING comparison (prefix
# length, size filter) must be integer arithmetic — the float form
# (1.0 - 0.9)*n evaluates to 0.0999…*n and FLOORS LOW at n % 10 == 0,
# silently shortening the pigeonhole prefix below its lossless bound
# ([MEASURED round 8]: 13 of 2099 true pairs dropped at sf0.01; caught
# by the exhaustive oracle).  The final containment >= tau compare may
# stay double: both engines evaluate the identical division against
# the identically-parsed literal.
_CONTAIN_NUM, _CONTAIN_DEN = 9, 10
_CONTAIN_TAU = _CONTAIN_NUM / _CONTAIN_DEN
_CONTAIN_QMOD = 41  # doc_id % 41 == 0 -> the query side

_CONTAINMENT_ORACLE = f"""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    qs AS (SELECT * FROM toks WHERE doc_id % {_CONTAIN_QMOD} = 0),
    cs AS (SELECT * FROM toks WHERE doc_id % {_CONTAIN_QMOD} != 0),
    na AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM qs GROUP BY doc_id),
    inter AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_shared
              FROM qs q JOIN cs c ON q.token = c.token
              GROUP BY 1, 2)
    SELECT i.query_id, i.doc_id, i.n_shared,
           CAST(i.n_shared AS DOUBLE) / na.n AS containment
    FROM inter i JOIN na ON i.query_id = na.doc_id
    WHERE CAST(i.n_shared AS DOUBLE) / na.n >= {_CONTAIN_TAU}
    """


@query("sim_containment_join", oracle=_CONTAINMENT_ORACLE, tier="P2")
def sim_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join: every (query doc, corpus doc) pair
    where the corpus doc covers ≥ 90% of the query's token set —
    C(Q→D) = |Q∩D| / |Q|, the quote/excerpt/subset detector (Jaccard
    treats a snippet inside a long page as DISsimilar; containment is
    the predicate you actually want for "is this benchmark question
    quoted inside a crawl page", cf. PPJoin's overlap variants, Xiao
    et al. 2008).  The query side is doc_id % 41 == 0, standing in for
    a bounded probe set (benchmark items, canary strings, takedown
    texts).

    Scale discipline, in order: (1) exact-duplicate COLLAPSE of both
    sides by distinct token set (CLAUDE.md rule; verify runs once per
    distinct-set pair, members expand at the end — including the
    within-group arm, a query VERBATIM inside the corpus, containment
    literal 1.0); (2) a LOSSLESS prefix block: if C ≥ τ then Q misses
    at most floor((1−τ)·|Q|) of its own tokens in D, so by pigeonhole
    any floor((1−τ)·|Q|)+1 tokens of Q include one shared with D —
    the block joins only Q's rarest-(df)-first prefix against the
    corpus-side inverted index (asymmetric: D is NOT prefix-truncated,
    a snippet can sit inside any-length page; a size filter
    |D| ≥ τ·|Q| prunes the rest).  Unlike MinHash banding this block
    loses NOTHING — the oracle is the exhaustive inverted-index join
    and must agree exactly.  (3) verify on packed int64 code arrays
    (array_intersect, |pairs| rows — the _pair_jaccard argument).
    Containment itself is one exact-int division — identical-operand,
    bit-identical in both engines, UNROUNDED per the exprs.py boundary
    rule.  At 100 TB the query side is bounded → its prefix table
    broadcasts and the pass is one map-side semi-filter of the
    inverted index + a candidate-sized verify, corpus-linear.
    """
    from powertrainstreaming_spark.operators.dedup import (
        _collapse_sets,
        _doc_tokens,
        _role_members,
    )

    is_query = F.col("doc_id") % _CONTAIN_QMOD == 0
    grp = _collapse_sets(
        _doc_tokens(spark, sf_dir),
        "containment",
        _role_members(is_query, "q_members"),
        _role_members(~is_query, "c_members"),
    )
    rep_toks = grp.select(
        F.col("rep").alias("doc_id"), F.explode("codes").alias("token")
    )
    # Rarity order over DISTINCT sets, so prefixes carry the rarest
    # tokens first and posting lists stay short (correctness does not
    # depend on the order — only candidate count does).
    df_ = rep_toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    sizes = rep_toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Query-bearing groups: prefix of the floor((1-tau)*n)+1 rarest.
    q_grp = grp.filter(F.size("q_members") >= 1)
    q_ranked = (
        q_grp.select(F.col("rep").alias("doc_id"), F.explode("codes").alias("token"))
        .join(df_, "token")
        .join(sizes, "doc_id")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            ),
        )
    )
    # Exact-int prefix bound: misses <= n - ceil(tau*n) = (n*(DEN-NUM))
    # div DEN, so that plus one prefix tokens guarantee a hit.
    prefix_len = (
        F.col("n") * (_CONTAIN_DEN - _CONTAIN_NUM)
    ) / F.lit(_CONTAIN_DEN)
    prefix_len = F.floor(prefix_len).cast("bigint") + 1
    q_prefix = q_ranked.filter(F.col("pos") <= prefix_len).select(
        F.col("doc_id").alias("rep_q"), "token", F.col("n").alias("nq")
    )
    # Corpus-bearing groups: FULL inverted index (asymmetric block).
    c_grp = grp.filter(F.size("c_members") >= 1)
    c_post = (
        c_grp.select(
            F.col("rep").alias("rep_c"), F.explode("codes").alias("token")
        )
        .join(sizes.withColumnRenamed("doc_id", "rep_c"), "rep_c")
        .withColumnRenamed("n", "nc")
    )
    cand = (
        q_prefix.join(
            c_post,
            (q_prefix["token"] == c_post["token"])
            # identical sets are handled by the within-group arm below
            & (F.col("rep_q") != F.col("rep_c"))
            # exact-int size prune: nc >= tau*nq without float floors
            & (F.col("nc") * _CONTAIN_DEN >= F.col("nq") * _CONTAIN_NUM),
        )
        .select("rep_q", "rep_c")
        .distinct()
    )
    gq = grp.select(
        F.col("rep").alias("rep_q"),
        F.col("codes").alias("codes_q"),
        F.col("q_members").alias("qm"),
    )
    gc = grp.select(
        F.col("rep").alias("rep_c"),
        F.col("codes").alias("codes_c"),
        F.col("c_members").alias("cm"),
    )
    i = F.size(F.array_intersect("codes_q", "codes_c"))
    verified = (
        cand.join(gq, "rep_q")
        .join(gc, "rep_c")
        .select(
            "qm",
            "cm",
            i.cast("bigint").alias("n_shared"),
            (i.cast("double") / F.size("codes_q")).alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_TAU)
    )
    cross = verified.select(
        F.explode("qm").alias("query_id"), "cm", "n_shared", "containment"
    ).select(
        "query_id",
        F.explode("cm").alias("doc_id"),
        "n_shared",
        "containment",
    )
    within = (
        grp.filter((F.size("q_members") >= 1) & (F.size("c_members") >= 1))
        .select(
            F.explode("q_members").alias("query_id"),
            F.col("c_members").alias("cm"),
            F.size("codes").cast("bigint").alias("n_shared"),
        )
        .select(
            "query_id",
            F.explode("cm").alias("doc_id"),
            "n_shared",
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionAll(within)
