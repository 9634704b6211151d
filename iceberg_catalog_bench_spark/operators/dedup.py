"""Deduplication operators for LLM training-data pipelines.

Five dedup families over the ``documents`` / ``embeddings`` tables,
each Spark-first and designed for 100 TB:

- exact        : hash-groupBy (one shuffle on a 128-bit digest)
- n-gram Jaccard: shingle-inverted-index self-join — never a cross
                  join; pair candidates only via shared shingles,
                  stop-shingle df cap bounds the worst bucket
- MinHash+LSH  : signature → band buckets → bucket join → exact
                  verify. The scale path: candidate generation cost
                  is proportional to true-near-dup density, not n².
- SimHash      : 64-bit signature + pigeonhole band join + hamming
                  verify via xor/bit_count
- embedding    : cosine near-dup pairs via hyperplane-LSH band
                  buckets + exact verify — same banding shape as
                  minhash, in cosine space (no all-pairs join)

All hashing uses deterministic built-ins (md5 / xxhash64), so every
run — and the DuckDB oracle where registered — reproduces identical
results.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import load_table
from .registry import register

from ..functions import shingles_expr

# 3-word shingles, 0-based Spark array indexing (DuckDB oracle uses
# 1-based list_extract — mind the off-by-one when editing either side).
_SHINGLES_EXPR = shingles_expr("text", 3)

_ORACLE_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(string_split(trim(text), ' ')) - 2), "
    "i -> list_extract(string_split(trim(text), ' '), i) || ' ' || "
    "list_extract(string_split(trim(text), ' '), i+1) || ' ' || "
    "list_extract(string_split(trim(text), ' '), i+2)))"
)

_ORACLE_JACCARD_PAIRS = (
    "WITH sh AS (SELECT doc_id, " + _ORACLE_SHINGLES + " AS shingles FROM documents) "
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "ROUND(len(list_intersect(a.shingles, b.shingles)) * 1.0 / "
    "len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 / "
    "len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8"
)

# Stop-shingle document-frequency cap: shingles present in more than
# max(10, 10% of docs) documents are boilerplate — they say nothing
# about near-duplication but create the quadratic hot bucket in the
# inverted-index self-join. Both the Spark operator and the DuckDB
# oracle compute jaccard over the CAPPED shingle space, so the two
# stay equivalent at every scale (not just at test SF where the cap
# happens not to fire).
_STOP_SHINGLE_FRAC = 0.10
_STOP_SHINGLE_MIN = 10

# COUNT(*) of documents per sf_dir, memoized for the session: the stop-
# shingle cap is a driver-side scalar, and recounting per invocation
# would add a full metadata pass to every pair operator.
_N_DOCS_CACHE: dict[str, int] = {}


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _N_DOCS_CACHE:
        _N_DOCS_CACHE[sf_dir] = load_table(spark, "documents", sf_dir).count()
    return _N_DOCS_CACHE[sf_dir]

def _oracle_jaccard_capped(threshold: float, extra_select: str = "") -> str:
    """Exact-jaccard pair SQL over the CAPPED shingle space (see cap
    comment above) at the given threshold; ``extra_select`` appends
    verdict columns to the projection."""
    return (
        "WITH sh0 AS (SELECT doc_id, unnest(" + _ORACLE_SHINGLES + ") AS shingle "
        "FROM documents), "
        "hot AS (SELECT shingle FROM sh0 GROUP BY shingle "
        f"HAVING COUNT(*) > greatest({_STOP_SHINGLE_MIN}, "
        f"{_STOP_SHINGLE_FRAC} * (SELECT COUNT(*) FROM documents))), "
        "kept AS (SELECT doc_id, shingle FROM sh0 "
        "WHERE shingle NOT IN (SELECT shingle FROM hot)), "
        "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i "
        "FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id) "
        "SELECT da AS doc_a, db AS doc_b, "
        "ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard" + extra_select + " "
        "FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db "
        f"WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {threshold}"
    )


_ORACLE_JACCARD_PAIRS_CAPPED = _oracle_jaccard_capped(0.8)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) inverted-index rows + per-doc set sizes."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("shingle")
    )


@register(
    "dedup_exact",
    oracle=(
        "SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, "
        "COUNT(*) AS copies FROM documents GROUP BY md5(text)"
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one shuffle keyed on the MD5
    digest (16 bytes, not the document body — at 100 TB you shuffle
    hashes, never text). keeper = min doc_id per group."""
    return (
        load_table(spark, "documents", sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("copies"))
    )


@register("dedup_ngram_jaccard", oracle=_ORACLE_JACCARD_PAIRS_CAPPED)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-Jaccard near-dup pairs (threshold 0.8) via a shingle
    inverted index: explode → self-join on shingle → count shared
    shingles per pair → |A∪B| = |A|+|B|-inter.

    Scale guards: candidate pairs arise only from shared shingles —
    no cross join — and shingles whose document frequency exceeds
    max(10, 10% of docs) are dropped BEFORE the self-join (the
    standard stop-shingle cap). Without it, one boilerplate shingle
    shared by 1M docs creates a 10¹²-row join bucket; with it the
    worst bucket is bounded by the cap². The hot set is by
    construction tiny → broadcast anti-join, no shuffle of the index.
    Jaccard is computed over the capped shingle space on BOTH the
    Spark side and the DuckDB oracle, so equivalence holds at every
    scale, not just where the cap happens not to fire."""
    return _capped_jaccard_pairs(spark, sf_dir, 0.8)


def _capped_pair_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b, inter, size_a, size_b) over the capped shingle
    space — the shared core of the jaccard and containment operators.
    Candidates arise only from shared shingles (inverted-index
    self-join, never a cross join); the stop-shingle df cap bounds the
    worst join bucket."""
    # The cap scalar needs COUNT(*) over documents. Joining a 1-row
    # aggregate in-plan degrades to BroadcastNestedLoopJoin (Catalyst
    # constant-folds any literal join key), so the count runs as its
    # own tiny job instead — memoized per sf_dir, shared by every pair
    # operator in the session, and a column-less parquet COUNT(*) is
    # answered from row-group metadata, not a data scan.
    cap = max(
        float(_STOP_SHINGLE_MIN), _STOP_SHINGLE_FRAC * _n_docs(spark, sf_dir)
    )
    sh0 = _doc_shingles(spark, sf_dir)
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("shingle")
    )
    sh = sh0.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def _capped_jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Exact jaccard pairs ≥ threshold over the capped shingle space
    (the Spark mirror of ``_oracle_jaccard_capped``)."""
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        _capped_pair_overlaps(spark, sf_dir)
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_ORACLE_CONTAINMENT = (
    "WITH sh0 AS (SELECT doc_id, unnest(" + _ORACLE_SHINGLES + ") AS shingle "
    "FROM documents), "
    "hot AS (SELECT shingle FROM sh0 GROUP BY shingle "
    f"HAVING COUNT(*) > greatest({_STOP_SHINGLE_MIN}, "
    f"{_STOP_SHINGLE_FRAC} * (SELECT COUNT(*) FROM documents))), "
    "kept AS (SELECT doc_id, shingle FROM sh0 "
    "WHERE shingle NOT IN (SELECT shingle FROM hot)), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i "
    "FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY a.doc_id, b.doc_id), "
    "pairs AS (SELECT da, db, i, sa.sz AS sza, sb.sz AS szb "
    "FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db) "
    "SELECT da AS contained_id, db AS container_id, "
    "ROUND(i * 1.0 / sza, 4) AS containment FROM pairs WHERE i * 10 >= sza * 9 "
    "UNION ALL "
    "SELECT db AS contained_id, da AS container_id, "
    "ROUND(i * 1.0 / szb, 4) AS containment FROM pairs WHERE i * 10 >= szb * 9"
)


@register("text_near_containment", oracle=_ORACLE_CONTAINMENT)
def text_near_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-containment pairs: doc A is (≥90%) quoted inside
    doc B when |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 0.9.
    This is the asymmetric complement to jaccard dedup — a short
    document embedded verbatim in a much longer one has LOW jaccard
    (the union is dominated by B) but containment ≈ 1, and it's the
    shape quote/boilerplate/forwarded-content contamination takes in
    a web corpus.

    Same scale spine as the jaccard operator: candidates only from
    the shared-shingle inverted index (stop-shingle cap bounds the
    worst bucket), one undirected overlap per pair, then BOTH
    directions scored from the same row — no second join. The
    threshold compares as integer cross-multiplication
    (``inter*10 >= size*9``), so the 0.9 boundary is exact on both
    engines — no float-division tie to diverge on."""
    pairs = _capped_pair_overlaps(spark, sf_dir)
    ab = pairs.filter(F.col("inter") * 10 >= F.col("size_a") * 9).select(
        F.col("doc_a").alias("contained_id"),
        F.col("doc_b").alias("container_id"),
        F.round(F.col("inter") / F.col("size_a"), 4).alias("containment"),
    )
    ba = pairs.filter(F.col("inter") * 10 >= F.col("size_b") * 9).select(
        F.col("doc_b").alias("contained_id"),
        F.col("doc_a").alias("container_id"),
        F.round(F.col("inter") / F.col("size_b"), 4).alias("containment"),
    )
    return ab.unionByName(ba)


_NUM_PERM = 32
_BANDS = 16  # 16 bands x 2 rows: P(candidate | j=0.8) ≈ 1 - 6.9e-8



def _band_rows(sh: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH bucket rows from a (doc_id, shingle)
    relation: 32-permutation MinHash signature (one groupBy, map-side
    partial min), banded 16x2 with a per-band xxhash64 key. The shared
    signature pipeline of the batch and incremental operators —
    deterministic, so signatures computed in DIFFERENT runs (a stored
    corpus index vs a fresh ingest batch) land in identical buckets."""
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}")
            for i in range(_NUM_PERM)
        ]
    )
    rows_per_band = _NUM_PERM // _BANDS
    band_cols = [
        F.xxhash64(
            F.lit(band), *[F.col(f"h{band * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{band}")
        for band in range(_BANDS)
    ]
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), band_cols[i].alias("key"))
                      for i in range(_BANDS)])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


@register("dedup_minhash_lsh", oracle=_ORACLE_JACCARD_PAIRS)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified at threshold 0.8.

    Pipeline (all DataFrame ops, deterministic):
    1. signature: 32 permutations as min(xxhash64(shingle, seed_i))
       — one groupBy over the shingle index, map-side partial min;
    2. banding: 16 bands × 2 rows; band key = xxhash64(h_2b, h_2b+1);
    3. candidates: self-join on (band, key) — only docs sharing a
       band bucket ever meet, which is what makes this the 100 TB
       path (vs the exact index's shared-shingle join);
    4. verify: exact Jaccard on candidates via the shingle index.

    With 16×2 banding the miss probability at j≥0.8 is ~7e-8, so the
    verified output equals the exact operator's — the oracle is the
    same exact-Jaccard SQL, making the approximation's completeness
    itself part of the correctness gate.

    Bands × rows is the scale knob (same rule as the embedding
    banding's bit width): r=2 keeps random-pair collisions ≈ j²·16
    — fine at test SF and measured fine at 50k docs
    (scripts/dedup_scale_probe.py, recall 1.0 in 19s) — but at
    billions of documents raise rows-per-band (r=4-8 with more
    permutations) so the S-curve crosses near the 0.8 threshold and
    the candidate volume keeps tracking duplicate density, not n².

    r16: the shingle relation is NOT cached any more. The r8-era
    ``.cache()`` predates the r15 shingle single-bind fix; with the
    explode now cheap, recomputing the shingles per consumer beats
    paying the InMemoryRelation build + columnar reads (A/B at sf0.1,
    3.8% steal window: no-cache 1.96-2.28 s vs cache 2.35-2.77 s,
    identical rows) — and it removes the VERDICT r15 gaming flag
    (CacheManager let timed bench iterations reuse the warm-up's
    materialized blocks; bench.py additionally clears the plan cache
    between iterations now)."""
    sh = _doc_shingles(spark, sf_dir)
    banded = _band_rows(sh)

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verification of candidates only
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b_"), F.col("shingle").alias("sh_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b_")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.join(za, "doc_a").join(zb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_simhash",
    oracle=_oracle_jaccard_capped(0.9, ", TRUE AS simhash_covered"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 64-bit signature per document (sign
    of the per-bit token-hash sum), candidates via the pigeonhole band
    trick (8 × 8-bit chunks: hamming ≤ 7 ⇒ ≥ 1 chunk equal), verified
    with bit_count(xor) ≤ 6 (measured: ≥0.9-Jaccard near-dups in this
    corpus sit at hamming ≤ 5). Everything stays in JVM expressions
    (xxhash64 / shiftright / bit_count).

    Candidate-superset oracle: the 64-bit signature itself isn't
    portable SQL, but simhash's CONTRACT is — every true near-dup pair
    (exact jaccard ≥ 0.9, reproducible in SQL) must appear among the
    simhash pairs. The query returns the exact near-dup pairs with a
    per-pair coverage verdict; the oracle pins every verdict TRUE, so
    a simhash miss turns the driver row red instead of being
    unverifiable."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
    ).withColumn("th", F.xxhash64("token"))

    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    sim_expr = " + ".join(
        # bit 63 would flip the sign bit; shift into the positive range
        f"(CASE WHEN b{b} > 0 THEN {1 << b if b < 63 else 0}L ELSE 0L END)"
        for b in range(63)
    )
    sims = bit_sums.select("doc_id", F.expr(sim_expr).alias("simhash"))

    chunks = sims.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.shiftright(F.col("simhash"), c * 8).bitwiseAND(F.lit(0xFF)).alias("chunk"),
                )
                for c in range(8)
            ])
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk_id", "ck.chunk")

    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk_id") == F.col("b.chunk_id"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"), F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    simhash_pairs = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 6)
        .select("doc_a", "doc_b", F.lit(True).alias("simhash_covered"))
    )
    exact = _capped_jaccard_pairs(spark, sf_dir, 0.9)
    return (
        exact.join(simhash_pairs, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a", "doc_b", "jaccard",
            F.coalesce("simhash_covered", F.lit(False)).alias("simhash_covered"),
        )
    )


_ORACLE_CC = (
    # Transitive closure over the exact near-dup pairs via a recursive
    # CTE (fine at oracle SF; the Spark side is the scalable algorithm).
    # Uncapped pair SQL — the same oracle that gates dedup_minhash_lsh,
    # whose output is the Spark side's edge list.
    "WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ("
    + _ORACLE_JACCARD_PAIRS
    + ")), edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach AS (SELECT u, v FROM edges "
    "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u "
    "WHERE e.v <> r.u) "
    "SELECT doc_id, canonical_id, "
    "COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size FROM ("
    "SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id FROM reach GROUP BY u)"
)


@register("dedup_connected_components", oracle=_ORACLE_CC)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (the dedup endgame): pair detection finds
    edges, but "keep one doc per duplicate group" needs the connected
    components of the pair graph — A~B and B~C must collapse to one
    cluster even when A and C never paired directly. Returns
    (doc_id, canonical_id = min doc id in the component, cluster_size).

    Algorithm: distributed min-label propagation with pointer jumping —
    per round, (1) every node takes the min label among itself and its
    neighbors (one join + groupBy over the symmetric edge list), then
    (2) label = label(label) (self-join pointer jump), which doubles
    the propagation distance per round, so convergence is
    O(log(diameter)) rounds, not O(diameter) — the same round structure
    GraphFrames/Pregel CC uses. The driver sees only one scalar per
    round (the converged? count); edges and labels never leave the
    cluster. Near-dup graphs have tiny components, so this typically
    converges in 2-3 rounds regardless of corpus size; each round is
    two shuffles keyed on bigint node ids.

    Edges are the ``dedup_minhash_lsh`` pairs — the actual corpus-scale
    pipeline (banded candidates + exact verify), not the quadratic
    exact index. That works as an oracle-checked input because the
    minhash operator's completeness is itself gated (its output equals
    the exact-Jaccard pair SQL); the DuckDB oracle closes over the
    uncapped exact pairs and must see the identical graph."""
    pairs = _minhash_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("canonical_id"),
        "cluster_size",
    )


def connected_components(pairs: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Connected components of an undirected (u, v) edge list →
    (node, label) with label = min node id in the component.

    Min-label propagation with pointer jumping: each round relaxes
    every node to the min label among itself and its neighbors, then
    follows the label one hop (labels are node ids), doubling the
    propagation distance — O(log(diameter)) rounds, only a
    changed-count scalar reaches the driver per round.

    Iteration discipline (the part that matters in Spark): the edge
    list is materialized ONCE up front and every round's labels are
    ``localCheckpoint``ed — an iterative DataFrame loop must truncate
    lineage each round, or each of the 3 self-references per round
    re-expands the upstream plan 3^rounds times (measured: the lazy
    unrolled form took 280s where this takes ~3s). localCheckpoint
    keeps blocks on the executors — no driver collect, no disk round
    trip; on a real cluster you'd use reliable checkpointing for
    fault tolerance at the same call sites."""
    # Checkpoint the edge list BEFORE symmetrizing: union references
    # `pairs` twice, so a union-then-checkpoint would execute the
    # (potentially expensive — minhash LSH) upstream plan twice.
    pairs = pairs.localCheckpoint()
    sym = pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("u", "node")
        )
        relaxed = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
            )
        )
        # pointer jump: follow the label one hop (labels ARE node ids)
        ptr = relaxed.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
        jumped = (
            relaxed.join(ptr, relaxed["label"] == ptr["pnode"], "left")
            .select("node", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            jumped.withColumnRenamed("label", "new_label")
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break

    return labels


@register(
    "dedup_embedding_cosine",
    oracle=(
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        "ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 20"
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-20 most-similar vector pairs via
    LSH-bucketed candidate generation + exact verification — never an
    all-pairs/non-equi join.

    Pipeline (mirrors dedup_minhash_lsh, in cosine space):
    1. band: 48 hyperplane tables × 3 sign bits per vector
       (``lsh_band_buckets``) — each vector emits 48 (table, bucket)
       ints, so the shuffle carries small ints, not vectors;
    2. candidates: self-equi-join on (table, bucket), vec_a < vec_b,
       distinct;
    3. verify: exact cosine on candidate pairs only, top-20.

    The oracle is the exact all-pairs SQL, so LSH completeness is
    itself gated: a pair at the observed top-20 cutoff (cos ≈ 0.43,
    plane-agreement p ≈ 0.64) escapes all 48 tables with
    (1 − p³)⁴⁸ ≈ 4e-7.

    BAND WIDTH IS THE SCALE KNOB: 3 bits/table is tuned to THIS
    corpus (~1k near-uniform vectors, 0.43 similarity floor — random
    pairs collide somewhere at 3 bits, which is unavoidable when the
    targets themselves are barely above random). Production near-dup
    detection (cos ≥ 0.85) at n vectors needs bits ≈ log2(n /
    bucket_target): `scripts/embedding_dedup_probe.py` MEASURES
    16 bits × 48 tables at 51k vectors with planted cos-0.93 dups —
    recall 0.995, zero spurious pairs, candidate volume 1.5e-3 of all
    pairs, 26s on local[32] (BASELINE.md). With bits sized to n,
    candidate cost tracks duplicate density, not n²."""
    from ..functions import cosine_similarity, lsh_band_buckets_arrow as lsh_band_buckets

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .withColumn("buckets", lsh_band_buckets("embedding", 48, 3))
    )
    banded = emb.select("vec_id", F.posexplode("buckets").alias("t", "bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("cos_sim", F.round(cosine_similarity("ea", "eb"), 4))
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(20)
    )


_ORACLE_INCR_MINHASH = (
    "WITH sh AS (SELECT doc_id, " + _ORACLE_SHINGLES + " AS shingles FROM documents) "
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "ROUND(len(list_intersect(a.shingles, b.shingles)) * 1.0 / "
    "len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE (a.doc_id % 10 = 7 OR b.doc_id % 10 = 7) "
    "AND len(list_intersect(a.shingles, b.shingles)) * 1.0 / "
    "len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8"
)


@register("dedup_incremental_minhash", oracle=_ORACLE_INCR_MINHASH)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup — the continuous-ingestion shape a
    100 TB training pipeline actually runs: the standing corpus's LSH
    bucket rows live in a PERSISTED signature store (a LakeTable,
    partitioned ``bucket(8, key)``), and each arriving batch computes
    signatures for ITS OWN documents only, bucket-joins them against
    the store, exact-verifies the candidates, and (in production)
    appends its bucket rows back to the store for the next batch.

    This query runs one full cycle end-to-end: docs with
    ``doc_id % 10 = 7`` are "the arriving batch", the rest are the
    standing corpus whose bucket rows are written to and READ BACK
    from the store table — so the determinism claim (signatures
    computed in different runs collide into identical buckets) is
    exercised through a real write/read round-trip, not one in-memory
    plan.

    Scale accounting per ingest: O(batch) signature compute (the
    corpus is NEVER re-hashed — that is the whole point), one join of
    16×|batch| bucket rows against the store. The store is partitioned
    ``bucket(8, key)``, so at scale the join prunes to matching key
    buckets and the store side streams from its co-located files; the
    verify step semi-joins the shingle relation down to CANDIDATE
    docs before any aggregation — its cost tracks duplicate density,
    never corpus size. Candidate volume does too (16×2 banding, miss
    ~7e-8 at j≥0.8), so the verified output equals exact
    cross-Jaccard — the
    oracle is that exact SQL, making the approximation's completeness
    part of the correctness gate.

    Reference analogue: none (the reference has no dedup surface);
    north-star per BASELINE.json."""
    import atexit
    import shutil
    import tempfile

    from ..catalog import LakeTable

    batch_cond = F.col("doc_id") % 10 == 7
    # r16: no ``.cache()`` — its two consumers read DISJOINT slices
    # (corpus rows feed the store write, batch rows the ingest), so
    # caching the full shingle set served each consumer nothing the
    # other needed; with the r15 single-bind shingle expression each
    # slice recomputes cheaper than the InMemoryRelation round trip
    # (the _minhash_pairs A/B), and the VERDICT r15 cross-iteration
    # reuse flag dies with the cache.
    sh_all = _doc_shingles(spark, sf_dir)

    # -- corpus half: bucket rows persisted once, then read back --
    d = tempfile.mkdtemp(prefix="laketable-sigstore-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    store = LakeTable.create(
        spark, d + "/sig", "doc_id bigint, band int, key bigint",
        partition_by=["bucket(8, key)"],
    )
    store.append(_band_rows(sh_all.filter(~batch_cond)))
    corpus_banded = store.read()

    # -- ingest: the batch hashes itself; the store is only joined --
    batch_banded = _band_rows(sh_all.filter(batch_cond))
    return minhash_ingest(
        load_table(spark, "documents", sf_dir), batch_banded, corpus_banded
    )


def minhash_ingest(docs: DataFrame, batch_banded: DataFrame,
                   corpus_banded: DataFrame) -> DataFrame:
    """One incremental-dedup ingest: candidates from the batch's
    bucket rows against (store ∪ batch), exact-verified by
    re-shingling the CANDIDATE documents only — the documents table
    is semi-joined down to candidate ids BEFORE the shingle explode,
    so verify cost tracks duplicate density, never corpus size (at
    scale, a doc_id-clustered documents table turns the semi-join
    into point-lookup pruning)."""
    a = corpus_banded.unionByName(batch_banded).alias("a")
    b = batch_banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
        .cache()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("shingle"))
        .cache()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b_"), F.col("shingle").alias("sh_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b_")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.join(za, "doc_a").join(zb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
    )


_SEMDEDUP_K = 8      # centroid count (scales with n in production)
_SEMDEDUP_TAU = 0.4  # within-cluster near-dup threshold (corpus floor)

_ORACLE_SEMDEDUP = f"""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
), ass AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(
               c.cv, CAST(e.embedding AS DOUBLE[])) DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN c)
  WHERE rn = 1
), pairs AS (
  SELECT x.cid, x.vec_id AS a, y.vec_id AS b,
         list_cosine_similarity(x.v, y.v) AS s
  FROM ass x JOIN ass y ON x.cid = y.cid AND x.vec_id < y.vec_id
), drops AS (
  SELECT cid, b FROM pairs WHERE s >= {_SEMDEDUP_TAU} GROUP BY cid, b
)
SELECT m.cid AS cluster_id,
       CAST(m.n_vectors AS BIGINT) AS n_vectors,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       COALESCE(ROUND(p.max_cos, 4), 0.0) AS max_cos
FROM (SELECT cid, COUNT(*) AS n_vectors FROM ass GROUP BY cid) m
LEFT JOIN (SELECT cid, COUNT(*) AS n_dropped FROM drops GROUP BY cid) d
  ON d.cid = m.cid
LEFT JOIN (SELECT cid, MAX(s) AS max_cos FROM pairs GROUP BY cid) p
  ON p.cid = m.cid
ORDER BY cluster_id
"""


def semdedup_centroids(spark: SparkSession, emb: DataFrame, k: int,
                       method: str = "first", iters: int = 2) -> DataFrame:
    """Centroid source for :func:`semdedup_report` — (cid, cv) rows.

    ``method="first"``: the first K vectors by vec_id. Deterministic,
    so the driver oracle reproduces the assignment in SQL; centroid
    QUALITY is whatever the corpus head happens to be.

    ``method="kmeans"``: production centroids — distributed sampled
    seeding + Lloyd iterations (the ann_ivf training shape):

    * seeds are the K corpus vectors with the smallest
      ``xxhash64(vec_id)`` — a uniform pseudo-random sample computed
      as ONE TakeOrdered top-K heap pass over the corpus (the
      distributed stand-in for k-means||'s oversampled seeding: no
      driver-side randomness, no full sort, deterministic given the
      corpus);
    * each Lloyd iteration is broadcast-assign (crossJoin + map-side
      struct-max argmax — the same no-Window idiom the report stage
      pins) → per-dimension mean → a K×d centroid table
      driver-materialized between iterations (KB-sized at any corpus
      scale, like any broadcast model).

    Every stage downstream of the centroid table is unchanged between
    the two methods — that is the point: swapping in real k-means
    centroids never touches the report plan."""
    if method == "first":
        return emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    if method != "kmeans":
        raise ValueError(f"unknown centroid method {method!r}")
    seed_rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(k)
        .collect()
    )
    vec_type = emb.schema["embedding"].dataType
    cents = spark.createDataFrame(
        [(i, r["embedding"]) for i, r in enumerate(seed_rows)],
        T.StructType([
            T.StructField("cid", T.LongType()),
            T.StructField("cv", vec_type),
        ]),
    )
    if iters <= 0:
        return cents
    import numpy as np

    # Lloyd assignment via the Arrow/BLAS twin: training is not
    # oracle-bound (the driver row uses method="first"), and the
    # matmul path is ~7× on the 1M probe's training step. Past the
    # flat-matmul budget the two-level IVF scorer takes over (13.7×
    # at K=16k, BASELINE.md) — approximate Lloyd updates are standard
    # IVF-training practice; the ±2% of boundary vectors averaged
    # into a neighboring centroid perturb the iterate far less than
    # one Lloyd step moves it.
    # r15: the per-dimension mean comes from MAP-SIDE partial sums
    # emitted by the same Arrow pass that assigns (the
    # parameter-server step) — the reduce input is K×partitions rows,
    # independent of corpus size, where the previous join-back +
    # posexplode shuffled n×d values per iteration.
    # r16 (guide §5 — the model is DRIVER state, don't round-trip it
    # through exchanges): the K×d iterate now stays a numpy matrix
    # between iterations. Each iteration is exactly ONE Spark job —
    # the partial-sum mapInPandas pass — whose K×partitions rows are
    # reduced driver-side; the old loop additionally paid a
    # posexplode + two shuffled aggregates + a collect/createDataFrame
    # round trip per iteration to rebuild a DataFrame the next
    # iteration immediately re-collected (measured: centroids leg
    # 3.0-4.5 s → 1.7-2.1 s at 200k×16, K=200, local[32]). The reduce
    # input the driver holds is the same K×partitions rows the old
    # plan shuffled — for models past ~32 MB a deployment would push
    # this back into a treeAggregate; at bench/test K it is KBs.
    # Sum order differs from the old per-value F.avg by ULPs —
    # training is not oracle-bound, and one Lloyd step moves the
    # iterate far more.
    cids = np.arange(len(seed_rows), dtype=np.int64)
    cv = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                   for r in seed_rows])
    for _ in range(iters):
        cn = np.linalg.norm(cv, axis=1, keepdims=True)
        c = cv / np.where(cn == 0, 1.0, cn)
        score = (_ivf_scorer(c, cids)
                 if len(cids) >= _IVF_TRAIN_MIN_K else None)
        if score is None:
            score = _flat_scorer(c, cids)
        n_slots = int(cids.max()) + 1
        acc = np.zeros((n_slots, cv.shape[1]))
        cnt = np.zeros(n_slots, dtype=np.int64)
        for r in _lloyd_partials(emb, score, n_slots).collect():
            acc[r["cid"]] += np.asarray(r["vsum"], dtype=np.float64)
            cnt[r["cid"]] += r["cnt"]
        # empty centroids drop out, exactly as the old groupBy (which
        # only ever saw emitted cids) dropped them
        keep = np.nonzero(cnt)[0]
        cids = keep.astype(np.int64)
        cv = acc[keep] / cnt[keep, None]
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(cids, cv)],
        T.StructType([
            T.StructField("cid", T.LongType()),
            T.StructField("cv", T.ArrayType(T.DoubleType())),
        ]),
    )


def _lloyd_partials(emb: DataFrame, score, n_slots: int) -> DataFrame:
    """One map-side Arrow pass per Lloyd iteration: each partition
    assigns its vectors (``score`` over the unit rows) and accumulates
    per-centroid RAW-value sums + counts into a K×d accumulator,
    emitting only the non-empty (cid, cnt, vsum) rows — the classic
    parameter-server partial. The downstream reduce sees
    K × partitions rows regardless of corpus size.

    r16 (guide §4.2): ``mapInArrow`` over ONLY the embedding column —
    the list column's values buffer reshapes into the (n, d) matrix
    directly (``_list_matrix``), where the old mapInPandas path paid
    ``np.stack`` over an object Series (measured 0.44 s per 200k×16
    rows — it dominated the Lloyd pass)."""
    import numpy as np
    import pyarrow as pa

    def part(batches):
        acc = cnt = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = _list_matrix(rb.column(0))
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            vu = v / np.where(vn == 0, 1.0, vn)
            cid = score(vu)
            if acc is None:
                acc = np.zeros((n_slots, v.shape[1]))
                cnt = np.zeros(n_slots, dtype=np.int64)
            np.add.at(acc, cid, v)
            cnt += np.bincount(cid, minlength=n_slots)
        if acc is None:
            return
        nz = np.nonzero(cnt)[0]
        d = acc.shape[1]
        offs = pa.array(
            np.arange(0, (len(nz) + 1) * d, d, dtype=np.int32),
            type=pa.int32())
        yield pa.RecordBatch.from_arrays(
            [pa.array(nz.astype(np.int64)),
             pa.array(cnt[nz]),
             pa.ListArray.from_arrays(offs, pa.array(acc[nz].ravel()))],
            ["cid", "cnt", "vsum"])

    return emb.select("embedding").mapInArrow(
        part, "cid bigint, cnt bigint, vsum array<double>")


def _list_matrix(col):
    """(n, d) float64 matrix from an Arrow ``list<double>`` column.

    A list column is one contiguous values buffer plus offsets (guide
    §4.2), so a fixed-width embedding column reshapes in O(1) —
    measured 0.0002 s vs 0.44 s for ``np.stack`` over the equivalent
    object Series at 200k×16. Requires fixed-length, non-null rows
    and raises ValueError otherwise (as ``np.stack`` did): a reshape
    alone would turn a ragged batch whose total length divides ``n``
    into a silently misaligned matrix."""
    import numpy as np

    lens = np.diff(col.offsets.to_numpy())
    if col.null_count or (lens[1:] != lens[:-1]).any():
        raise ValueError(
            f"embedding batch is not a fixed-width matrix: "
            f"{col.null_count} null row(s), row lengths "
            f"{lens.min()}..{lens.max()}"
        )
    vals = col.flatten().to_numpy(zero_copy_only=False)
    return vals.reshape(len(col), -1).astype(np.float64, copy=False)


def _unit_rows(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its unit-normalized double vector —
    ONE extra pass per ROW, so every downstream cosine is a single
    dot-product pass per PAIR instead of three (dot + two norms).
    Spark interprets higher-order functions (no codegen), so at
    SemDeDup's n·(n/K) pair volume the 3-pass cosine is the dominant
    cost: measured 2.5× on the whole assign+pair report at 250k
    vectors (260.9s → 105.9s, BASELINE.md r11 probe)."""
    from ..functions import l2_norm

    return (
        df.withColumn("_norm", l2_norm(vec_col))
        .withColumn(vec_col, F.expr(
            f"transform({vec_col}, x -> CAST(x AS DOUBLE) / _norm)"))
        .drop("_norm")
    )


def _semdedup_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid): nearest centroid, ties → lowest cid. Broadcast
    crossJoin + partial-aggregatable struct-max — map-side combine, so
    only (vec_id, best) rows cross the wire; NEVER a window over the
    n×K crossJoin output (plan-pinned). Both sides are unit-normalized
    once, so each of the n×K evaluations is one dot pass."""
    from ..functions import dot_product

    sim = dot_product("cv", "embedding")
    return (
        _unit_rows(emb, "embedding")
        .crossJoin(F.broadcast(_unit_rows(cents, "cv")))
        .groupBy("vec_id")
        .agg(F.max(F.struct(sim.alias("s"),
                            (-F.col("cid")).alias("ncid"))).alias("m"))
        .select("vec_id", (-F.col("m.ncid")).alias("cid"))
    )


def _collect_unit_centroids(cents: DataFrame):
    """Collect the centroid table into the driver-held model BOTH
    Arrow assign twins ship in their closures: (K×d unit-row float64
    matrix in cid order, int64 cid array). One place for the zero-norm
    guard and the cid-sort that makes argmax tie-break on lowest cid."""
    import numpy as np

    rows = sorted(cents.collect(), key=lambda r: r["cid"])
    c = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    cn = np.linalg.norm(c, axis=1, keepdims=True)
    c = c / np.where(cn == 0, 1.0, cn)
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    return c, cids


def _flat_scorer(c, cids):
    """score(unit-rows batch) -> cid array via ONE BLAS matmul +
    argmax. Ties break on lowest cid (the matrix is cid-sorted and
    argmax returns the first maximum)."""
    def score(v):
        return cids[(v @ c.T).argmax(axis=1)]

    return score


def _assign_arrow(emb: DataFrame, score, carry_vec: bool = False
                  ) -> DataFrame:
    """Map-side Arrow assignment: each batch normalizes, scores via
    ``score`` (flat or IVF), and emits (vec_id, cid) — plus the input
    embedding column when ``carry_vec`` (r15: both downstream
    consumers used to JOIN the assignment back to the vectors on
    vec_id, a full corpus shuffle×2 that carrying the column through
    the same map pass removes — the report's only shuffle is then the
    groupBy on cluster id).

    r16 (guide §4.2): ``mapInArrow`` — the embedding column reshapes
    from its Arrow values buffer (``_list_matrix``) instead of
    ``np.stack`` over an object Series. The carried column is the
    UNIT-NORMALIZED float64 matrix this pass computes for scoring
    anyway (its sole consumer, the per-cluster pair search, needs
    unit rows) — so the JVM ``_unit_rows`` HOF pipeline (two
    interpreted ``transform`` passes over n×d values) drops out of
    the report plan entirely."""

    def assign(batches):
        import numpy as np

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            v = _list_matrix(rb.column(1))
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            v = v / np.where(vn == 0, 1.0, vn)
            arrays = [rb.column(0), pa.array(score(v))]
            names = ["vec_id", "cid"]
            if carry_vec:
                d = v.shape[1]
                offs = pa.array(
                    np.arange(0, (n + 1) * d, d, dtype=np.int32),
                    type=pa.int32())
                arrays.append(
                    pa.ListArray.from_arrays(offs, pa.array(v.ravel())))
                names.append("embedding")
            yield pa.RecordBatch.from_arrays(arrays, names)

    schema = "vec_id bigint, cid bigint"
    if carry_vec:
        schema += ", embedding array<double>"
    return emb.select("vec_id", "embedding").mapInArrow(assign, schema)


def _assign_arrow_from_model(emb: DataFrame, c, cids,
                             carry_vec: bool = False) -> DataFrame:
    """Flat-matmul assignment against an already-collected centroid
    model — the body of :func:`_semdedup_assign_arrow`, also the
    small-K fallback of the IVF twin (which has already paid the one
    collect)."""
    return _assign_arrow(emb, _flat_scorer(c, cids), carry_vec)


def _semdedup_assign_arrow(emb: DataFrame, cents: DataFrame,
                           carry_vec: bool = False) -> DataFrame:
    """Arrow twin of :func:`_semdedup_assign`: the K×d centroid matrix
    is collected once (KB-sized — the same driver materialization the
    Lloyd trainer already does), unit-normalized, and shipped in the
    closure; each Arrow batch assigns via ONE (batch × d)·(d × K) BLAS
    matmul + argmax instead of batch×K interpreted zip_with dots.
    Ties break on lowest cid (argmax returns the first maximum and the
    matrix is cid-sorted). Map-side, no shuffle — same plan shape."""
    c, cids = _collect_unit_centroids(cents)
    return _assign_arrow_from_model(emb, c, cids, carry_vec)


_IVF_ASSIGN_MIN_K = 64   # below this, flat matmul beats two probe passes
_IVF_ASSIGN_NPROBE = 8   # coarse cells probed per vector
_IVF_TRAIN_MIN_K = 1024  # Lloyd switches to IVF assignment here (2.8×+)


def _train_coarse_cells(c, n_cells: int, iters: int = 5):
    """Driver-side numpy Lloyd over the (unit-normalized) K×d centroid
    matrix: returns (coarse (C×d unit rows), members (list of
    cid-sorted centroid-index arrays per cell)). The centroid matrix
    is ALREADY a driver-materialized model (the flat twin collects it
    into the closure), so training the coarse level adds milliseconds,
    no Spark jobs, and is fully deterministic (seeds = first C
    centroids in cid order)."""
    import numpy as np

    k = len(c)
    coarse = c[:n_cells].copy()
    for _ in range(iters):
        cell = (c @ coarse.T).argmax(axis=1)
        for j in range(n_cells):
            m = c[cell == j]
            if len(m):
                v = m.mean(axis=0)
                nv = np.linalg.norm(v)
                coarse[j] = v / (nv if nv else 1.0)
    cell = (c @ coarse.T).argmax(axis=1)
    members = [np.nonzero(cell == j)[0] for j in range(n_cells)]
    assert sum(len(m) for m in members) == k
    return coarse, members


def _semdedup_assign_ivf_arrow(emb: DataFrame, cents: DataFrame,
                               nprobe: int = _IVF_ASSIGN_NPROBE,
                               carry_vec: bool = False) -> DataFrame:
    """Two-level (IVF) twin of :func:`_semdedup_assign_arrow` — the
    documented handoff once K outgrows the flat-matmul budget (VERDICT
    r10 / BASELINE.md: the assignment leg is the only SemDeDup stage
    that grows with K). The K centroids are themselves clustered into
    C = √(nprobe·K) coarse cells (driver-side numpy Lloyd — the
    centroid matrix is already a driver-held model); each Arrow batch
    then (1) matmuls against the C coarse cells, (2) argpartitions the
    top-``nprobe`` cells per vector, (3) matmuls only against the
    centroids of probed cells. Per-row dot count drops from K to
    ~C + nprobe·K/C = 2·√(nprobe·K) — 11× fewer at K=4096, 23× at
    K=65536 — at the cost of APPROXIMATE nearest-centroid (a vector
    whose true centroid lives outside its probed cells is assigned to
    the best probed one). Measured agreement vs flat (pure-numpy
    harness, 100k dim-16 vectors): on CLUSTERED corpora — the
    production case, since k-means centroids sit at genuine cluster
    modes — ≥0.998 at nprobe=4 and 1.000 at nprobe=8 for K up to 4096;
    on adversarially-UNIFORM vectors (near-equidistant centroids,
    IVF's documented worst case — the ann_ivf_incremental caveat)
    0.81–0.91 at the default nprobe=8, recoverable to 0.91–0.98 at
    nprobe=16. Cluster-quality, not correctness:
    every vector is still assigned exactly once and every downstream
    report stage is unchanged. Ties break on lowest cid (member lists
    are cid-sorted; argmax returns the first maximum; cross-cell
    updates require strictly-greater or equal-with-lower-cid).
    Plan shape identical to the flat twin: mapInPandas, no shuffle.

    K < ``_IVF_ASSIGN_MIN_K`` falls back to the flat twin (two passes
    cost more than one small matmul)."""
    c, cids = _collect_unit_centroids(cents)
    score = _ivf_scorer(c, cids, nprobe)
    if score is None:
        return _assign_arrow_from_model(emb, c, cids, carry_vec)
    return _assign_arrow(emb, score, carry_vec)


def _ivf_scorer(c, cids, nprobe: int = _IVF_ASSIGN_NPROBE):
    """score(unit-rows batch) -> cid array via the two-level probe, or
    None when K is below the IVF budget (caller falls back to the flat
    scorer). The body of :func:`_semdedup_assign_ivf_arrow`, factored
    so the Lloyd trainer's partial-sum pass (r15) shares it."""
    import numpy as np

    k = len(cids)
    n_cells = int(round(max(1, (nprobe * k) ** 0.5)))
    if k < _IVF_ASSIGN_MIN_K or n_cells >= k:
        return None
    coarse, members = _train_coarse_cells(c, n_cells)
    # drop EMPTY cells before probing: duplicate-heavy centroid tables
    # (a dedup corpus head under method="first") collapse the coarse
    # Lloyd so most cells own nothing — probing an empty cell wastes a
    # probe slot, and a vector whose every probed cell was empty would
    # leak the int64-max sentinel out as a phantom cluster id. With
    # only non-empty cells probed, every vector always gets a real cid.
    keep = [j for j, m in enumerate(members) if len(m)]
    coarse = coarse[keep]
    members = [members[j] for j in keep]
    nprobe = min(nprobe, len(members))

    def score(v):
        n = len(v)
        cs = v @ coarse.T                              # n × C
        probes = np.argpartition(-cs, nprobe - 1, axis=1)[:, :nprobe]
        best_s = np.full(n, -np.inf)
        best_c = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        for j in np.unique(probes):
            mem = members[j]
            idx = np.nonzero((probes == j).any(axis=1))[0]
            sims = v[idx] @ c[mem].T                   # m × |cell j|
            arg = sims.argmax(axis=1)
            s = sims[np.arange(len(idx)), arg]
            cand = cids[mem[arg]]
            upd = (s > best_s[idx]) | (
                (s == best_s[idx]) & (cand < best_c[idx]))
            ui = idx[upd]
            best_s[ui] = s[upd]
            best_c[ui] = cand[upd]
        assert (best_s > -np.inf).all()  # every cell probed is real
        return best_c

    return score


def semdedup_report_arrow(emb: DataFrame, cents: DataFrame,
                          tau: float, assign: str = "flat") -> DataFrame:
    """Arrow/BLAS twin of :func:`semdedup_report` — same assignment,
    same one-shuffle-on-cluster-id shape, but the per-cluster pair
    search is ONE numpy matmul per cluster (``applyInArrow``:
    V·Vᵀ over the cluster's unit vectors) instead of (n/K)²
    interpreted zip_with dot evaluations. Spark does not codegen
    higher-order functions, so at SemDeDup's pair volume the
    interpreter is the asymptotic cost — measured 67× on the whole
    1M-vector report (622.3s → 9.2s, identical cluster structure;
    BASELINE.md r11 probe). Same keep-lowest-id
    policy (a vector drops when a LOWER-id cluster-mate has cosine ≥
    τ) and the same output schema/rounding.

    The registered driver row keeps the pure-SQL variant — its DuckDB
    oracle reproduces that float path; BLAS summation order differs by
    ULPs, the documented tolerance class (the lsh_band_buckets /
    lsh_band_buckets_arrow precedent, inverted: here SQL is the
    oracle-exact path and Arrow is the scale path).

    ``assign="ivf"`` swaps the flat matmul assignment for the
    two-level :func:`_semdedup_assign_ivf_arrow` — the large-K path;
    every other stage is byte-identical."""
    from pyspark.sql import types as _T

    try:
        assign_fn = {"flat": _semdedup_assign_arrow,
                     "ivf": _semdedup_assign_ivf_arrow}[assign]
    except KeyError:
        raise ValueError(f"unknown assign mode {assign!r}") from None
    # r15: the assignment pass CARRIES the unit vectors through
    # (carry_vec) instead of being joined back to them on vec_id —
    # that join was two full-corpus shuffles; the report's only
    # shuffle is now the groupBy on cluster id below.
    # r16: the carried vectors are normalized INSIDE the Arrow pass
    # (one numpy divide it already performed for scoring), so the JVM
    # ``_unit_rows`` stage — two interpreted ``transform`` HOF passes
    # over every element — is gone from this plan. Norm summation
    # order differs from the JVM fold by ULPs: the documented
    # tolerance class of this twin (max_cos rounds to 4 digits;
    # value-parity vs the SQL path is pinned in
    # tests/test_plan_hygiene.py on both centroid sources).
    ass = assign_fn(emb, cents,
                    carry_vec=True).select("vec_id", "embedding", "cid")
    out_schema = _T.StructType([
        _T.StructField("cluster_id", _T.LongType()),
        _T.StructField("n_vectors", _T.LongType()),
        _T.StructField("n_dropped", _T.LongType()),
        _T.StructField("max_cos", _T.DoubleType()),
    ])

    # r16 (guide §4.2): applyInArrow — the group's vector matrix comes
    # straight from the list column's values buffer (_list_matrix);
    # the old applyInPandas paid np.stack over an object Series per
    # group (0.44 s per 200k rows across groups).
    def per_cluster(tbl: pa.Table) -> pa.Table:
        import numpy as np

        n = tbl.num_rows
        cid = int(tbl.column("cid")[0].as_py())
        if n == 1:
            return pa.table({"cluster_id": [cid], "n_vectors": [1],
                             "n_dropped": [0], "max_cos": [0.0]})
        vid = tbl.column("vec_id").to_numpy(zero_copy_only=False)
        v = _list_matrix(tbl.combine_chunks().column("embedding")
                         .chunk(0))                    # (n, d) units
        order = np.argsort(vid, kind="stable")
        v = v[order]
        s = v @ v.T                                     # one BLAS call
        # j drops when ANY lower-id mate i<j has s[i, j] >= tau:
        # strict-upper mask, column-wise any. r16: the old
        # triu_indices + fancy-index path allocated ~30 MB of index
        # arrays and gather/scatter temporaries per 1000-row cluster —
        # 7× slower than these two triangular passes (0.74 vs 5.2 s
        # for 200 clusters, single-threaded) and the reason the phase
        # was the bench's most memory-bandwidth-sensitive.
        dropped = int(np.triu(s >= tau, 1).any(axis=0).sum())
        # s is symmetric, so the strict-upper max is the off-diagonal
        # max: exclude the diagonal and take the global max.
        np.fill_diagonal(s, -np.inf)
        return pa.table({"cluster_id": [cid], "n_vectors": [n],
                         "n_dropped": [dropped],
                         "max_cos": [round(float(s.max()), 4)]})

    return (
        ass.groupBy("cid").applyInArrow(per_cluster, out_schema)
        .orderBy("cluster_id")
    )


def semdedup_report(emb: DataFrame, cents: DataFrame,
                    tau: float) -> DataFrame:
    """The SemDeDup cluster-then-pair stages downstream of any
    centroid source: assign (map-side), shuffle ONCE on cluster id,
    per-cluster pair search bounded by cluster size, keep-lowest-id
    drop accounting. Vectors are unit-normalized BEFORE the pair
    join, so the per-pair similarity is one dot pass.

    Float contract: dot(unit(a), unit(b)) differs from the oracle's
    dot(a,b)/(|a||b|) by ULPs — the same tolerance class the
    pre-normalization version already had vs DuckDB's own summation
    order. A τ-boundary or argmax flip needs a pair within that ULP
    band on the FIXED driver corpus; the per-round oracle parity run
    is the regression gate for exactly that, and ``max_cos`` is
    additionally rounded to 4 digits on both sides."""
    from ..functions import dot_product

    ass = _unit_rows(emb, "embedding").join(
        _semdedup_assign(emb, cents), "vec_id").select(
        "vec_id", "embedding", "cid")
    x = ass.select(F.col("cid"), F.col("vec_id").alias("a"),
                   F.col("embedding").alias("va"))
    y = ass.select(F.col("cid"), F.col("vec_id").alias("b"),
                   F.col("embedding").alias("vb"))
    pairs = (
        x.join(y, ["cid"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("s", dot_product("va", "vb"))
        .select("cid", "a", "b", "s")
    )
    sizes = ass.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vectors"))
    drops = (
        pairs.filter(F.col("s") >= tau)
        .select("cid", "b").distinct()
        .groupBy("cid").agg(F.count("*").cast("bigint").alias("n_dropped"))
    )
    tight = pairs.groupBy("cid").agg(F.max("s").alias("max_cos"))
    return (
        sizes.join(drops, "cid", "left").join(tight, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_vectors",
            F.coalesce("n_dropped", F.lit(0)).cast("bigint")
            .alias("n_dropped"),
            F.coalesce(F.round("max_cos", 4), F.lit(0.0)).alias("max_cos"),
        )
        .orderBy("cluster_id")
    )


@register("dedup_semantic_clusters", oracle=_ORACLE_SEMDEDUP)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, cluster-then-pair (the SemDeDup shape, Abbas et
    al. 2023, public): assign every embedding to its nearest centroid,
    then search near-duplicates ONLY within each cluster — the cluster
    bound is what makes semantic dedup tractable, turning the n²
    pairwise search into K independent (n/K)² searches that shuffle
    once on cluster id. Reports per-cluster accounting: size, how many
    vectors a keep-lowest-id policy drops (a vector drops when a
    lower-id cluster-mate has cosine ≥ τ), and the tightest pair.

    Determinism contract: centroids are the first K vectors (vec_id <
    K) rather than k-means iterates, so the oracle reproduces the
    assignment in SQL — production swaps in k-means|| centroids and
    every stage downstream is unchanged. Ties in the nearest-centroid
    argmax break on lowest centroid id in BOTH engines.

    100 TB story: centroids broadcast (K rows); assignment is one
    map-side pass (n×K similarity inside whole-stage codegen, no
    shuffle); the pair search shuffles vectors ONCE on cluster id and
    each task's quadratic is bounded by its cluster size — K scales
    with n to hold n/K constant. Keep-lowest-id is a deterministic,
    join-free policy (an aggregate per vector, not a sequential scan).
    Production centroids: ``semdedup_centroids(..., method="kmeans")``
    swaps k-means iterates in behind the SAME report stages
    (plan-pinned, scale-probed in BASELINE.md)."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    cents = semdedup_centroids(spark, emb, _SEMDEDUP_K, method="first")
    return semdedup_report(emb, cents, _SEMDEDUP_TAU)


_ORACLE_SEMDEDUP_INCR = f"""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {_SEMDEDUP_K}
), ass AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(
               c.cv, CAST(e.embedding AS DOUBLE[])) DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN c)
  WHERE rn = 1
), corpus AS (
  SELECT * FROM ass WHERE vec_id % 10 <> 7
), batch AS (
  SELECT * FROM ass WHERE vec_id % 10 = 7
), pairs AS (
  SELECT b.cid, b.vec_id AS b, list_cosine_similarity(x.v, b.v) AS s
  FROM corpus x JOIN batch b ON x.cid = b.cid
  UNION ALL
  SELECT b.cid, b.vec_id, list_cosine_similarity(a.v, b.v)
  FROM batch a JOIN batch b ON a.cid = b.cid AND a.vec_id < b.vec_id
), drops AS (
  SELECT cid, b FROM pairs WHERE s >= {_SEMDEDUP_TAU} GROUP BY cid, b
)
SELECT m.cid AS cluster_id,
       CAST(COALESCE(x.n_corpus, 0) AS BIGINT) AS n_corpus,
       CAST(COALESCE(nb.n_batch, 0) AS BIGINT) AS n_batch,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       COALESCE(ROUND(p.max_cos, 4), 0.0) AS max_cos
FROM (SELECT DISTINCT cid FROM ass) m
LEFT JOIN (SELECT cid, COUNT(*) AS n_corpus FROM corpus GROUP BY cid) x
  ON x.cid = m.cid
LEFT JOIN (SELECT cid, COUNT(*) AS n_batch FROM batch GROUP BY cid) nb
  ON nb.cid = m.cid
LEFT JOIN (SELECT cid, COUNT(*) AS n_dropped FROM drops GROUP BY cid) d
  ON d.cid = m.cid
LEFT JOIN (SELECT cid, MAX(s) AS max_cos FROM pairs GROUP BY cid) p
  ON p.cid = m.cid
ORDER BY cluster_id
"""


@register("dedup_semantic_incremental", oracle=_ORACLE_SEMDEDUP_INCR)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — the continuous-ingestion twin of
    :func:`dedup_semantic_clusters`, completing the dedup family's
    symmetry (exact and MinHash already have incremental variants):
    the standing corpus lives ASSIGNED in a persisted, cid-partitioned
    LakeTable (unit vectors, nearest-centroid id computed once at
    store-build); each arriving batch assigns ONLY ITSELF against the
    broadcast centroids and pairs only against (a) the store rows of
    its own clusters and (b) earlier batch arrivals in the same
    cluster. A batch vector drops when any corpus cluster-mate — the
    already-kept set — or any lower-id batch mate has cosine ≥ τ (the
    same deterministic, join-free keep-policy the batch row pins).

    This query runs one full cycle end-to-end: vectors with
    ``vec_id % 10 = 7`` are "the arriving batch"; the rest are written
    to and READ BACK from the store table, so the persistence
    round-trip (unit-normalized doubles through parquet) is part of
    the gate, not an in-memory shortcut.

    Scale accounting per ingest (probe-measured, BASELINE.md):
    O(batch × K) assignment (the corpus is NEVER re-assigned — that is
    the whole point; at large K the IVF twin takes over), then ONE
    join of the batch against the store keyed on cluster id. The store
    is identity-partitioned on cid and scanned with the batch's
    K-bounded cid IN-list, so the scan/shuffle term is bounded by the
    batch's CLUSTER FOOTPRINT Σ_touched |store_cid| — in the
    production regime (K large, a batch touches a small cluster
    subset) that is flat in corpus size (probe: 5.0s → 5.9s per ingest
    at 4× corpus, fixed 16-cluster footprint); in the worst case
    (batch touches every cluster) it degrades to one full store pass —
    corpus-bound I/O with still-flat pair work (probe: 19.0s → 43.2s
    at 4× corpus, all clusters touched). Pair volume per cluster is
    |store_cid|×|batch_cid| + |batch_cid|².
    Float contract: store vectors are unit-normalized ONCE at write,
    so every pair similarity is a single dot pass (the
    dedup_semantic_clusters ULP tolerance class, max_cos rounded to 4
    on both engines).

    Reference analogue: none (no dedup surface); north-star per
    BASELINE.json."""
    import atexit
    import shutil
    import tempfile

    from ..catalog import LakeTable
    from ..functions import dot_product

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding")
    cents = semdedup_centroids(spark, emb, _SEMDEDUP_K, method="first")
    batch_cond = F.col("vec_id") % 10 == 7
    unit = _unit_rows(emb, "embedding")
    # cached: the assignment feeds the store build, the touched-cid
    # collect, AND the report plan — without it the n×K broadcast-dot
    # pass re-runs per job (the dedup_incremental_minhash sh_all
    # precedent)
    ass_all = unit.join(_semdedup_assign(emb, cents), "vec_id").cache()

    d = tempfile.mkdtemp(prefix="laketable-semstore-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    store = LakeTable.create(
        spark, d + "/sem", "vec_id bigint, cid bigint, embedding array<double>",
        partition_by=["cid"],
    )
    store.append(ass_all.filter(~batch_cond)
                 .select("vec_id", "cid", "embedding"))
    batch = ass_all.filter(batch_cond).select("vec_id", "cid", "embedding")
    # the batch's touched clusters are K-bounded (≤ |centroids| values)
    # — collect them and scan the store with an explicit IN-list so
    # manifest partition pruning actually skips untouched clusters'
    # files (pinned in tests/test_round11.py; a bare store.read() would
    # open every partition since the join does no dynamic pruning)
    touched = sorted(r["cid"] for r in batch.select("cid").distinct().collect())
    # the cache has now served all three of its consumers (store build,
    # touched-cid collect, and — via the checkpoint below — the report
    # plan's batch side). Pin the SMALL batch slice as materialized
    # blocks and release the full-corpus cache: without this, repeated
    # invocations in one long driver/bench session accumulate executor
    # storage memory for the whole assignment relation (ADVICE r11).
    batch = batch.localCheckpoint(eager=True)
    ass_all.unpersist()
    corpus = (
        store.scan("cid IN (" + ", ".join(str(c) for c in touched) + ")")
        if touched
        # empty arriving batch: nothing to pair — "IN ()" won't parse
        else store.read().filter(F.lit(False))
    )

    x = corpus.select("cid", F.col("vec_id").alias("m"),
                      F.col("embedding").alias("vm"))
    b = batch.select("cid", F.col("vec_id").alias("b"),
                     F.col("embedding").alias("vb"))
    a = batch.select("cid", F.col("vec_id").alias("m"),
                     F.col("embedding").alias("vm"))
    # corpus→batch and earlier-batch→batch pairs, one shuffle on cid
    cb = x.join(b, "cid").withColumn("s", dot_product("vm", "vb"))
    bb = (a.join(b, "cid").filter(F.col("m") < F.col("b"))
          .withColumn("s", dot_product("vm", "vb")))
    pairs = cb.select("cid", "b", "s").unionByName(bb.select("cid", "b", "s"))

    # per-cluster corpus counts come from the store's MANIFEST stats —
    # zero data read, and they cover clusters the batch never touched
    # (the pruned pair scan above only opens touched clusters)
    n_corpus = store.partitions().select(
        F.get_json_object("partition", "$._p_identity_cid")
        .cast("bigint").alias("cid"),
        F.col("record_count").cast("bigint").alias("n_corpus"),
    )
    all_cids = (n_corpus.select("cid")
                .unionByName(batch.select("cid")).distinct())
    n_batch = batch.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"))
    drops = (pairs.filter(F.col("s") >= _SEMDEDUP_TAU)
             .select("cid", "b").distinct()
             .groupBy("cid").agg(F.count(F.lit(1)).cast("bigint")
                                 .alias("n_dropped")))
    tight = pairs.groupBy("cid").agg(F.max("s").alias("max_cos"))
    return (
        all_cids.join(n_corpus, "cid", "left")
        .join(n_batch, "cid", "left")
        .join(drops, "cid", "left")
        .join(tight, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            F.coalesce("n_corpus", F.lit(0)).cast("bigint").alias("n_corpus"),
            F.coalesce("n_batch", F.lit(0)).cast("bigint").alias("n_batch"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint")
            .alias("n_dropped"),
            F.coalesce(F.round("max_cos", 4), F.lit(0.0)).alias("max_cos"),
        )
        .orderBy("cluster_id")
    )


_SPAN_L = 8  # duplicated-span seed length, in whitespace tokens


@register(
    "dedup_substring_spans",
    oracle=(
        # exact duplicate-SPAN detection (the "Deduplicating Training
        # Data Makes Language Models Better" pipeline stage): every
        # 8-token window that occurs >= 2 times anywhere in the corpus
        # seeds a duplicated span; per document, the distinct token
        # positions covered by any duplicated window measure how much
        # of the document is copied text. Ratio divides identical
        # integers -> identical doubles.
        "WITH words AS (SELECT doc_id, "
        "  string_split_regex(trim(text), '\\s+') AS w FROM documents), "
        "sized AS (SELECT doc_id, w, len(w) AS nw FROM words "
        "  WHERE len(w) >= 8), "
        "grams AS (SELECT doc_id, nw, i AS start, "
        "  array_to_string(w[i:i+7], ' ') AS gram "
        "  FROM sized, LATERAL (SELECT unnest(generate_series(1, nw - 7)) "
        "  AS i) t), "
        "dup AS (SELECT gram FROM grams GROUP BY gram "
        "  HAVING COUNT(*) >= 2), "
        "occ AS (SELECT g.doc_id, g.nw, g.start "
        "  FROM grams g JOIN dup USING (gram)), "
        "cov AS (SELECT doc_id, nw, "
        "  COUNT(DISTINCT pos) AS covered_tokens FROM occ, "
        "  LATERAL (SELECT unnest(generate_series(start, start + 7)) "
        "  AS pos) p GROUP BY doc_id, nw), "
        "oc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) "
        "  AS dup_occurrences FROM occ GROUP BY doc_id) "
        "SELECT c.doc_id, CAST(c.nw AS BIGINT) AS n_tokens, "
        "  oc.dup_occurrences, "
        "  CAST(c.covered_tokens AS BIGINT) AS covered_tokens, "
        "  CAST(c.covered_tokens AS DOUBLE) / c.nw AS dup_ratio "
        "FROM cov c JOIN oc USING (doc_id) "
        "ORDER BY covered_tokens DESC, c.doc_id LIMIT 100"
    ),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DUPLICATE-SPAN DETECTION — the suffix-array substring
    dedup stage of published LM-data pipelines (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed as the equivalent rolling-window hash-join: every
    L=8-token window occurring >= 2 times ANYWHERE in the corpus
    (within- or cross-document) seeds a duplicated span; per document
    the report counts duplicated-window occurrences and the distinct
    token positions covered — the span-coverage measure a cutter would
    use to excise copied text. Complements the near-dup family
    (MinHash/SimHash/ngram-Jaccard score whole documents; this finds
    WHERE the copied text is).

    Plan shape at 100 TB: window generation is a map-side explode
    (O(total tokens) rows, each one small string); the duplicate test
    is ONE shuffle on the window text with map-side partial counts,
    and the occurrence join REUSES that partitioning (groupBy and
    join share the `gram` key, so AQE plans no extra exchange for
    the probe side beyond the one it already paid). Coverage then
    shuffles O(duplicated occurrences) — corpus-size-independent for
    clean corpora. The suffix array's O(n log n) global sort is
    deliberately traded for the hash approach Spark executes well;
    windows shorter than L are invisible, exactly as in the published
    minhash-seeded span cutters. At petabyte scale the window STRING
    would be replaced by its 128-bit hash (xxhash64 pair) to shrink
    the shuffle ~3x; the driver row keys on the string so the DuckDB
    oracle is exact."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    words = (
        docs.select(
            "doc_id",
            F.split(F.trim(F.col("text")), r"\s+").alias("w"))
        .withColumn("nw", F.size("w"))
        .filter(F.col("nw") >= _SPAN_L)
    )
    grams = words.select(
        "doc_id", "nw",
        F.explode(F.expr(
            f"transform(sequence(1, nw - {_SPAN_L - 1}), "
            f"i -> struct(i AS start, "
            f"concat_ws(' ', slice(w, i, {_SPAN_L})) AS gram))"
        )).alias("g"),
    ).select("doc_id", "nw", F.col("g.start").alias("start"),
             F.col("g.gram").alias("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    occ = grams.join(dup, "gram")
    # ONE pass over the duplicated occurrences: a (doc, start) window
    # appears at most once in occ, so distinct starts count the
    # occurrences while distinct exploded positions count the
    # coverage — both from the same grouped aggregate (a second
    # fact-side tokenization pass for a separate occurrence count
    # would double the dominant scan at scale)
    per = (
        occ.select(
            "doc_id", "nw", "start",
            F.explode(F.expr(
                f"sequence(start, start + {_SPAN_L - 1})")).alias("pos"))
        .groupBy("doc_id", "nw")
        .agg(
            F.countDistinct("start").cast("bigint")
            .alias("dup_occurrences"),
            F.countDistinct("pos").alias("covered_tokens"),
        )
    )
    return (
        per
        .select(
            "doc_id",
            F.col("nw").cast("bigint").alias("n_tokens"),
            "dup_occurrences",
            F.col("covered_tokens").cast("bigint").alias("covered_tokens"),
            (F.col("covered_tokens").cast("double") / F.col("nw"))
            .alias("dup_ratio"),
        )
        .orderBy(F.desc("covered_tokens"), "doc_id")
        .limit(100)
    )


@register(
    "dedup_substring_cut",
    oracle=(
        # The CUTTING stage over the duplicate-span seeds: the FIRST
        # occurrence of every 8-token window (lowest (doc_id, start),
        # encoded as doc_id*100000+start — starts are bounded far
        # below 100000) is kept; every LATER occurrence marks its 8
        # token positions for excision. Per doc: tokens cut (distinct
        # marked positions) and tokens kept.
        "WITH words AS (SELECT doc_id, "
        "  string_split_regex(trim(text), '\\s+') AS w FROM documents), "
        "sized AS (SELECT doc_id, w, len(w) AS nw FROM words "
        "  WHERE len(w) >= 8), "
        "grams AS (SELECT doc_id, nw, i AS start, "
        "  doc_id * 100000 + i AS ord, "
        "  array_to_string(w[i:i+7], ' ') AS gram "
        "  FROM sized, LATERAL (SELECT unnest(generate_series(1, nw - 7)) "
        "  AS i) t), "
        "firsts AS (SELECT gram, MIN(ord) AS first_ord FROM grams "
        "  GROUP BY gram HAVING COUNT(*) >= 2), "
        "laters AS (SELECT g.doc_id, g.nw, g.start FROM grams g "
        "  JOIN firsts f ON g.gram = f.gram AND g.ord <> f.first_ord), "
        "cuts AS (SELECT doc_id, nw, COUNT(DISTINCT pos) AS cut_tokens "
        "  FROM laters, LATERAL (SELECT unnest(generate_series(start, "
        "  start + 7)) AS pos) p GROUP BY doc_id, nw) "
        "SELECT doc_id, CAST(nw AS BIGINT) AS n_tokens, "
        "  CAST(cut_tokens AS BIGINT) AS cut_tokens, "
        "  CAST(nw - cut_tokens AS BIGINT) AS kept_tokens "
        "FROM cuts ORDER BY cut_tokens DESC, doc_id LIMIT 100"
    ),
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SPAN-CUTTING STAGE (staged r16) — the output side of
    suffix-array substring dedup (Lee et al. 2022): the corpus keeps
    each duplicated 8-token window's FIRST occurrence (lowest
    (doc_id, start)) and excises every later one; the report counts
    cut and kept tokens per affected document. Complements
    `dedup_substring_spans` (which measures coverage symmetrically —
    a fully-duplicated PAIR both report; here the first copy
    survives).

    Plan shape at 100 TB: first-occurrence selection is a struct-MIN
    aggregate per window text (map-side combinable — deliberately NOT
    a row_number window, whose per-gram partitions would put a
    boilerplate window's 1e9 occurrences in one task), and the
    later-occurrence join REUSES the gram partitioning the aggregate
    just created. Everything downstream is O(duplicated occurrences).
    The (doc_id, start) order encodes as one integer
    (doc_id*100000+start; token counts are bounded far below 100000)
    so both engines order identically in pure int64 math."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    words = (
        docs.select(
            "doc_id",
            F.split(F.trim(F.col("text")), r"\s+").alias("w"))
        .withColumn("nw", F.size("w"))
        .filter(F.col("nw") >= _SPAN_L)
    )
    grams = words.select(
        "doc_id", "nw",
        F.explode(F.expr(
            f"transform(sequence(1, nw - {_SPAN_L - 1}), "
            f"i -> struct(i AS start, "
            f"concat_ws(' ', slice(w, i, {_SPAN_L})) AS gram))"
        )).alias("g"),
    ).select(
        "doc_id", "nw", F.col("g.start").alias("start"),
        (F.col("doc_id") * 100000 + F.col("g.start")).alias("ord"),
        F.col("g.gram").alias("gram"),
    )
    # restrict the build side to windows that CAN have later
    # occurrences (count >= 2): a unique window's only occurrence is
    # its first and would drop at the filter anyway, but carrying it
    # through the join makes the build side corpus-sized even for a
    # CLEAN corpus (probe-measured 2.5x on the clean case) — filtered,
    # the build side is |duplicated windows| and AQE broadcasts it
    # when small
    firsts = (
        grams.groupBy("gram")
        .agg(F.min("ord").alias("first_ord"),
             F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram", "first_ord")
    )
    laters = (
        grams.join(firsts, "gram")
        .filter(F.col("ord") != F.col("first_ord"))
        .select("doc_id", "nw", "start")
    )
    cuts = (
        laters.select(
            "doc_id", "nw",
            F.explode(F.expr(
                f"sequence(start, start + {_SPAN_L - 1})")).alias("pos"))
        .groupBy("doc_id", "nw")
        .agg(F.countDistinct("pos").alias("cut_tokens"))
    )
    return (
        cuts.select(
            "doc_id",
            F.col("nw").cast("bigint").alias("n_tokens"),
            F.col("cut_tokens").cast("bigint").alias("cut_tokens"),
            (F.col("nw") - F.col("cut_tokens")).cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy(F.desc("cut_tokens"), "doc_id")
        .limit(100)
    )


@register(
    "corpus_ngram_novelty",
    oracle=(
        # Novel-content profile (the mixing/curation signal): a
        # window is NOVEL in its document when that document holds
        # the window's first corpus occurrence (lowest
        # doc_id*100000+start). Per language: documents, total
        # windows, novel windows, and the corpus novelty ratio from
        # identical integers.
        "WITH words AS (SELECT doc_id, lang, "
        "  string_split_regex(trim(text), '\\s+') AS w FROM documents), "
        "sized AS (SELECT doc_id, lang, w, len(w) AS nw FROM words "
        "  WHERE len(w) >= 8), "
        "grams AS (SELECT doc_id, lang, "
        "  doc_id * 100000 + i AS ord, "
        "  array_to_string(w[i:i+7], ' ') AS gram "
        "  FROM sized, LATERAL (SELECT unnest(generate_series(1, nw - 7)) "
        "  AS i) t), "
        "firsts AS (SELECT gram, MIN(ord) AS first_ord FROM grams "
        "  GROUP BY gram), "
        "flagged AS (SELECT g.lang, "
        "  CASE WHEN g.ord = f.first_ord THEN 1 ELSE 0 END AS novel "
        "  FROM grams g JOIN firsts f ON g.gram = f.gram) "
        "SELECT lang, "
        "CAST(COUNT(*) AS BIGINT) AS n_windows, "
        "CAST(SUM(novel) AS BIGINT) AS novel_windows, "
        "CAST(SUM(novel) AS DOUBLE) / COUNT(*) AS novelty "
        "FROM flagged GROUP BY lang ORDER BY lang"
    ),
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY PROFILE (staged r16) — the per-slice
    novel-content fraction data-mixing pipelines weigh corpora by: a
    window counts as novel where its document holds the FIRST corpus
    occurrence; per language the report carries window counts and the
    novelty ratio (identical-integer division). The third member of
    the substring family: `dedup_substring_spans` measures coverage,
    `dedup_substring_cut` excises, this scores slices for mixing.

    Plan shape at 100 TB: the same single corpus-sized exchange on
    the window text (map-side-combinable MIN — no row_number window,
    no per-gram task skew); the novelty flag joins first-occurrence
    ords back along the partitioning that aggregate just produced,
    and the per-language fold is |languages| cells. Unlike the cut
    stage, every window flows through the join (each contributes to
    the denominator) — the probe-measured clean-corpus cost of
    exactly that shape."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "text")
    words = (
        docs.select(
            "doc_id", "lang",
            F.split(F.trim(F.col("text")), r"\s+").alias("w"))
        .withColumn("nw", F.size("w"))
        .filter(F.col("nw") >= _SPAN_L)
    )
    grams = words.select(
        "doc_id", "lang",
        F.explode(F.expr(
            f"transform(sequence(1, nw - {_SPAN_L - 1}), "
            f"i -> struct(i AS start, "
            f"concat_ws(' ', slice(w, i, {_SPAN_L})) AS gram))"
        )).alias("g"),
    ).select(
        "lang",
        (F.col("doc_id") * 100000 + F.col("g.start")).alias("ord"),
        F.col("g.gram").alias("gram"),
    )
    firsts = grams.groupBy("gram").agg(F.min("ord").alias("first_ord"))
    flagged = grams.join(firsts, "gram").select(
        "lang",
        (F.col("ord") == F.col("first_ord")).cast("long").alias("novel"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("novel").alias("novel_windows"),
            (F.sum("novel").cast("double") / F.count(F.lit(1)))
            .alias("novelty"),
        )
        .orderBy("lang")
    )
