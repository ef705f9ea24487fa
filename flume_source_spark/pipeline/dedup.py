"""Deduplication operators: exact, n-gram Jaccard (exact near-dup),
MinHash-LSH (scalable near-dup), SimHash.

Scale design (the whole point of these operators):

- exact dedup = hash + min-by-key: one shuffle on the 64-bit content
  hash, no full-text comparison. At 100 TB, group on xxhash64 and only
  tie-break within hash buckets.
- exact n-gram Jaccard joins documents on *shared shingles* — cost is
  Σ_s |docs(s)|², fine when shingles are discriminative, quadratic
  when a shingle is hot; it is the ORACLE for the LSH path, not the
  scale path.
- MinHash-LSH replaces the shingle join with a band-signature join:
  cost Σ_bucket |bucket|² where buckets only contain likely-similar
  docs. 63 hashes = 21 bands × 3 rows → P(candidate) ≈ 1 for
  J ≥ 0.85, ≈ 3·J³ for J ≤ 0.2; with this corpus's bimodal
  similarity (planted dups ≥ 0.88, noise ≤ 0.15) the LSH+verify
  result equals the exact result with P(miss) < 1e-10, which is why
  the query can be hash-checked against the exact oracle.
- MinHash functions are h_i(s) = (a_i·x + b_i) mod p over
  x = xxhash64(shingle) & 0x7FFFFFFF (p = 2³¹−1, Carter–Wegman
  universal family) — pure column expressions, no Python, no RNG at
  runtime (a_i, b_i fixed from a seeded generator at import time).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_source_spark.registry import query
from flume_source_spark.tables import load_tables

MERSENNE31 = (1 << 31) - 1
N_HASHES = 63
BANDS = 21
ROWS_PER_BAND = 3
_rng = random.Random(42)
_HASH_PARAMS = [(_rng.randrange(1, MERSENNE31), _rng.randrange(0, MERSENNE31)) for _ in range(N_HASHES)]

JACCARD_THRESHOLD = 0.5

# Hot-bucket cap: an LSH bucket of b ids emits b·(b−1)/2 candidate
# pairs, so one degenerate bucket (boilerplate text, an empty-shingle
# cluster, an adversarial band collision) can dominate the whole job.
# Buckets larger than MAX_BUCKET are dropped from pair expansion —
# bounded work per bucket (≤ ~20k pairs at 200). Near-dup pairs inside
# a dropped bucket are usually recovered by ANY other band (21 bands;
# genuinely-similar pairs collide in many), and mass-identical content
# is exact-dedup's job (dedup_exact), not LSH's.
MAX_BUCKET = 200


def spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-repartition on a key to the session's parallelism before
    compute-bound per-row work. Small fixture tables arrive as ONE
    parquet split, so without this shingling/hashing runs
    single-threaded regardless of core count. Hash partitioning (not
    round-robin: that variant sorts every row for determinism) keeps
    the exchange cheap; at 100 TB input splits already provide
    parallelism and the exchange can be dropped."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(key))


def shingle_col(text_col, k: int = 3):
    """Distinct k-token shingles of a whitespace-tokenized text column.

    Documents shorter than k tokens yield an EMPTY array: Spark's
    sequence(1, n) runs DESCENDING when n < 1 (default step -1), which
    would feed slice() an illegal 0 index and crash — so the sequence
    is guarded (matches the oracle's generate_series, which is empty)."""
    toks = F.split(text_col, " ")
    n = F.size(toks) - (k - 1)
    return F.array_distinct(
        F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def minhash_signature(df: DataFrame, id_col: str, shingles_col: str) -> DataFrame:
    """(id, h_0..h_62) MinHash signatures as pure array expressions,
    computed in ONE pass over the shingle array: hash each shingle
    once, then fold with aggregate() keeping a 63-wide running-min
    array via zip_with — a single map stage, NO shuffle. (Alternatives
    measured at sf0.1: 63 separate array_min(transform(...)) columns
    re-evaluate the shingle hash per column — higher-order lambdas sit
    outside codegen CSE — and run ~1.5× slower; explode→groupBy costs
    a 63-buffer hash aggregate and runs ~2× slower.)

    Empty shingle arrays yield NULL h_i (as array_min of an empty
    array would) — degenerate short docs must not all collide on a
    sentinel signature.

    Universe mask is 30 bits: it must inject into [0, p) — with a
    31-bit mask, 0 and 2^31-1 ≡ 0 (mod p) collide in EVERY h_i
    (found by hypothesis test_minhash_agreement_estimates_jaccard).
    Products stay in long range: h < 2^30, a < 2^31 → h·a < 2^61."""
    hx = F.transform(F.col(shingles_col), lambda s: F.xxhash64(s).bitwiseAND(F.lit(0x3FFFFFFF)))
    params = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in _HASH_PARAMS])
    init = F.array_repeat(F.lit(MERSENNE31).cast("long"), N_HASHES)
    mins = F.aggregate(
        hx,
        init,
        lambda acc, h: F.zip_with(
            acc, params, lambda m, ab: F.least(m, (h * ab["a"] + ab["b"]) % F.lit(MERSENNE31))
        ),
    )
    sig = F.when(F.size(F.col(shingles_col)) > 0, mins).alias("sig")
    return df.select(id_col, sig.alias("sig")).select(
        id_col, *[F.element_at("sig", i + 1).alias(f"h{i}") for i in range(N_HASHES)]
    )


def _banded(sig: DataFrame, id_col: str) -> DataFrame:
    bands = F.array(
        *[
            F.xxhash64(F.concat_ws(",", *[f"h{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]))
            for band in range(BANDS)
        ]
    )
    return sig.select(F.col(id_col).alias("bid"), F.posexplode(bands).alias("band", "band_sig"))


def lsh_bucket_profile(sig: DataFrame, id_col: str) -> DataFrame:
    """Bucket-size histogram input: one row per (band, band_sig) with
    its population — the operational check for hot buckets (count rows
    with bucket_size > MAX_BUCKET to see how much pair mass the cap is
    dropping before trusting an LSH run at a new scale)."""
    return _banded(sig, id_col).groupBy("band", "band_sig").agg(F.count("*").alias("bucket_size"))


def lsh_candidate_pairs(sig: DataFrame, id_col: str, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Band the signature, group ids by (band, band_hash) bucket, emit
    all in-bucket pairs. groupBy + in-bucket pair expansion instead of
    a self-join: one pass over the signatures (a self-join would
    recompute the whole signature pipeline for each side), and the
    quadratic term is explicitly per-bucket AND capped: buckets larger
    than ``max_bucket`` are skipped entirely (see MAX_BUCKET), so
    per-bucket work is bounded no matter how degenerate the data.
    Pass ``max_bucket=None`` to disable the cap (exhaustive mode)."""
    banded = _banded(sig, id_col)
    buckets = (
        banded.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_set("bid")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("i"), y.alias("j")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .distinct()
    )


@query(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, md5(lower(trim(text))) AS content_hash FROM documents
    ),
    keep AS (SELECT content_hash, min(doc_id) AS keeper, count(*) AS n_copies
             FROM hashed GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, k.keeper, h.doc_id = k.keeper AS is_kept, k.n_copies
    FROM hashed h JOIN keep k ON h.content_hash = k.content_hash
    ORDER BY h.doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize → content hash → keep min doc_id per
    hash. One shuffle on the hash; at 100 TB swap md5 for xxhash64
    (same plan shape, cheaper bytes — md5 here for oracle portability)."""
    d = load_tables(spark, sf_dir)["documents"]
    hashed = d.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"))
    keep = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )
    return (
        hashed.join(keep, "content_hash")
        .select(
            "doc_id",
            "content_hash",
            "keeper",
            (F.col("doc_id") == F.col("keeper")).alias("is_kept"),
            "n_copies",
        )
        .orderBy("doc_id")
    )


_EXACT_JACCARD_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                      for i in generate_series(1, len(toks)-2)])) AS shingle
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT i, j,
           CAST(round(c * 1.0 / (sa.n + sb.n - c), 4) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON i = sa.doc_id
    JOIN sz sb ON j = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    ORDER BY i, j
"""


@query("dedup_ngram_jaccard", oracle=_EXACT_JACCARD_ORACLE, tags=("llm", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs: join docs on shared 3-token shingles,
    count intersections, Jaccard ≥ 0.5. This is the quadratic-capable
    reference path — the oracle for the LSH variant below."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    sh = d.select("doc_id", F.explode(shingle_col(F.col("text"))).alias("shingle"))
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("i"), "shingle")
    b = sh.select(F.col("doc_id").alias("j"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("c"))
    )
    sza = sz.select(F.col("doc_id").alias("i"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("j"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sza, "i")
        .join(szb, "j")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("i", "j", F.round(jac, 4).cast("double").alias("jaccard"))
        .orderBy("i", "j")
    )


@query("dedup_minhash_lsh", oracle=_EXACT_JACCARD_ORACLE, tags=("llm", "dedup", "lsh"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable near-dup: MinHash signatures → banded LSH self-join →
    exact-Jaccard verification of the (few) candidates. Same output as
    the exact oracle on this corpus (see module docstring for the
    probability argument) at a fraction of the join fan-out — the
    100 TB path."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    # persist the shingle sets: they feed the signature pipeline AND
    # both sides of the verification join — without persist Spark
    # recomputes the shingling 3× (LSH is a DAG, not a tree)
    docs = d.select("doc_id", shingle_col(F.col("text")).alias("shingles")).persist()
    sig = minhash_signature(docs, "doc_id", "shingles")
    # persist candidates: they feed the id set AND the verify join
    cand = lsh_candidate_pairs(sig, "doc_id").persist()
    # verify candidates exactly (array_intersect on the distinct
    # shingle sets) — but FIRST shrink the shingle table to candidate
    # docs via a broadcast id set: candidate pairs are rare by LSH
    # design, so this turns two full-corpus shuffle joins into two
    # broadcast joins of a candidate-sized side. (If candidates ever
    # weren't broadcast-sized, the corpus is so duplicated that exact
    # dedup should run first.)
    ids = cand.select(F.col("i").alias("doc_id")).union(cand.select("j")).distinct()
    cdocs = docs.join(F.broadcast(ids), "doc_id")
    left = cdocs.select(F.col("doc_id").alias("i"), F.col("shingles").alias("sh_i"))
    right = cdocs.select(F.col("doc_id").alias("j"), F.col("shingles").alias("sh_j"))
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size("sh_i") + F.size("sh_j") - inter
    jac = inter / union
    out = (
        cand.join(F.broadcast(left), "i")
        .join(F.broadcast(right), "j")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("i", "j", F.round(jac, 4).cast("double").alias("jaccard"))
        .orderBy("i", "j")
        # materialize the BOUNDED verified-pair result eagerly and
        # release the two corpus-sized caches (round-13: the bare
        # persists leaked one shingle + one candidate cache PER CALL
        # — and four composites call this builder, so a bench session
        # accumulated dozens of pinned frames; the
        # unpersist-after-checkpoint pattern text_bm25/semdedup use).
        # Checkpointing here also collapses every consumer's plan:
        # the live-scan audit showed 24 documents scans in THIS plan
        # and 49 in ds_neardup_rate_by_lang's before the change.
        .localCheckpoint(eager=True)
    )
    docs.unpersist(blocking=False)
    cand.unpersist(blocking=False)
    return out


_CONTAINMENT_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                      for i in generate_series(1, len(toks)-2)])) AS shingle
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
    SELECT i, j,
           CAST(round(c * 1.0 / sa.n, 4) AS DOUBLE) AS containment
    FROM inter
    JOIN sz sa ON i = sa.doc_id
    WHERE c * 1.0 / sa.n >= 0.8
    ORDER BY i, j
"""


@query("dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("llm", "dedup", "containment"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    C(i→j) = |sh(i) ∩ sh(j)| / |sh(i)| ≥ 0.8 — document i is (nearly)
    a subset of j. The duplicate class symmetric Jaccard structurally
    misses: a 50-token quote inside a 5,000-token page has J ≈ 0.01
    but C ≈ 1.0 (excerpt pages, boilerplate wrappers, syndicated
    articles with added chrome). Directional output: (i, j) and
    (j, i) are independent findings; dedup policy usually drops the
    CONTAINED side (i). Same shared-shingle join shape as
    ``dedup_ngram_jaccard`` — the exact/oracle path; at 100 TB the
    candidate set comes from the same MinHash bands (containment ≥ t
    implies Jaccard ≥ t·|sh(i)|/|sh(j)|, so high-containment pairs of
    comparable size collide in bands; for extreme size ratios the
    scale path is a dedicated containment sketch, e.g. bottom-k with
    size-stratified bands)."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    sh = d.select("doc_id", F.explode(shingle_col(F.col("text"))).alias("shingle"))
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("i"), "shingle")
    b = sh.select(F.col("doc_id").alias("j"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("c"))
    )
    sza = sz.select(F.col("doc_id").alias("i"), F.col("n").alias("na"))
    cont = F.col("c") / F.col("na")
    return (
        inter.join(sza, "i")
        .filter(cont >= 0.8)
        .select("i", "j", F.round(cont, 4).cast("double").alias("containment"))
        .orderBy("i", "j")
    )


_INCR_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                      for i in generate_series(1, len(toks)-2)])) AS shingle
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
              FROM sh a JOIN sh b ON a.shingle = b.shingle
              WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
              GROUP BY 1, 2)
    SELECT i, j,
           CAST(round(c * 1.0 / (sa.n + sb.n - c), 4) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON i = sa.doc_id
    JOIN sz sb ON j = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    ORDER BY i, j
"""


@query("dedup_incremental_lsh", oracle=_INCR_ORACLE, tags=("llm", "dedup", "lsh", "incremental"))
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: match a NEW batch of documents (stand-in:
    doc_id % 10 == 0) against the STANDING corpus (the rest) — the
    daily-crawl pipeline shape, where re-running all-pairs dedup over
    corpus+increment every day is the classic quadratic blowup. The
    scale design: band signatures on BOTH sides, equi-join the
    increment's buckets against the corpus's buckets (cost =
    Σ_bucket |inc ∩ bucket|·|corpus ∩ bucket|, never corpus×corpus),
    hot corpus buckets capped at MAX_BUCKET exactly like the batch
    variant, then exact-Jaccard verification of the (rare) candidates
    via broadcast. At 100 TB the corpus's banded signatures are a
    PERSISTED index (write once, bucket-partitioned); each increment
    only computes its own signatures and joins in. Oracle: the exact
    shingle join restricted to increment × corpus pairs — on this
    corpus LSH equals exact (same probability argument as
    ``dedup_minhash_lsh``).

    The result is candidate-sized, so it is materialized eagerly and
    the two caches released (the same unpersist-after-checkpoint
    discipline as ``dedup_minhash_lsh``; otherwise each call leaks
    them)."""
    lazy, docs, cand = _incremental_lsh_lazy(spark, sf_dir)
    try:
        out = lazy.localCheckpoint(eager=True)
    finally:
        # release even when the checkpoint job fails mid-flight — a
        # retrying session would otherwise accumulate leaked caches
        docs.unpersist(blocking=False)
        cand.unpersist(blocking=False)
    return out


def _incremental_lsh_lazy(spark: SparkSession, sf_dir: str):
    """The un-checkpointed verified-pair plan plus its two persisted
    frames (``docs``, ``cand``) — factored (the _knn_blocked_lazy
    pattern) so plan-shape tests can inspect the REAL band and verify
    joins; the public builder checkpoints, which collapses the executed
    plan to a Scan ExistingRDD. The caller unpersists both frames."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    docs = d.select("doc_id", shingle_col(F.col("text")).alias("shingles")).persist()
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    b_inc = _banded(minhash_signature(inc, "doc_id", "shingles"), "doc_id").select(
        F.col("bid").alias("i"), "band", "band_sig"
    )
    b_cor = _banded(minhash_signature(corpus, "doc_id", "shingles"), "doc_id")
    # cap on the CORPUS side (the unbounded side at scale): buckets
    # larger than MAX_BUCKET are dropped from candidate generation,
    # bounding per-bucket work exactly as in lsh_candidate_pairs
    cor_buckets = (
        b_cor.groupBy("band", "band_sig")
        .agg(F.collect_set("bid").alias("js"))
        .filter(F.size("js") <= MAX_BUCKET)
    )
    cand = (
        b_inc.join(cor_buckets, ["band", "band_sig"])
        .select("i", F.explode("js").alias("j"))
        .distinct()
        .persist()
    )
    ids = cand.select(F.col("i").alias("doc_id")).union(cand.select("j")).distinct()
    cdocs = docs.join(F.broadcast(ids), "doc_id")
    left = cdocs.select(F.col("doc_id").alias("i"), F.col("shingles").alias("sh_i"))
    right = cdocs.select(F.col("doc_id").alias("j"), F.col("shingles").alias("sh_j"))
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size("sh_i") + F.size("sh_j") - inter
    jac = inter / union
    out = (
        cand.join(F.broadcast(left), "i")
        .join(F.broadcast(right), "j")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("i", "j", F.round(jac, 4).cast("double").alias("jaccard"))
        .orderBy("i", "j")
    )
    return out, docs, cand


@query(
    "dedup_simhash",
    oracle=None,  # Spark-specific bit patterns (xxhash64); determinism
    # + near-dup Hamming property pinned in tests/test_llm_ops.py
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over token hashes: per bit, majority vote of
    token-hash bits. Explode → 32 conditional sums → bit pack; one
    shuffle on doc_id. Near-dup docs land within small Hamming
    distance, enabling radius search by prefix blocking at scale."""
    d = spread(load_tables(spark, sf_dir)["documents"])
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tok = tok.withColumn("hx", F.xxhash64("tok"))
    bit_sums = [
        F.sum(F.shiftright("hx", b).bitwiseAND(F.lit(1))).alias(f"b{b}") for b in range(32)
    ]
    votes = tok.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_sums)
    simhash = None
    for b in range(32):
        bit = F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return votes.select("doc_id", simhash.cast("long").alias("simhash")).orderBy("doc_id")
