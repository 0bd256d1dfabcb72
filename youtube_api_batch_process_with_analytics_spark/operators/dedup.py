"""Deduplication operators for training-data pipelines (SURVEY.md M7).

Four strategies over ``documents``, each idiomatic Spark and each designed
for the 100 TB shape:

- **exact**: content-hash groupBy — one shuffle on a 16-byte key.
- **MinHash + LSH**: shingle → per-permutation min-hash → band keys →
  band-bucket self-join for candidates → Jaccard verification. The
  band join only pairs documents sharing a band bucket, avoiding the
  O(n²) cross join entirely; candidate volume is controlled by (bands,
  rows-per-band).
- **SimHash**: 16-bit fingerprint from per-token md5 hex digits;
  fingerprint-equality buckets are the near-dup candidates. Map-only +
  one small aggregate.
- **n-gram Jaccard**: exact pairwise similarity *within a blocking key*
  (source) — the quadratic fallback, bounded by block size.

Hash choice: md5 (lexicographic min over hex strings for MinHash) — it is
available with identical output in Spark, DuckDB, and Python, which makes
every one of these oracle-verifiable bit-for-bit. At production scale one
would swap in xxhash64 (cheaper); the plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table, spread
from .memo import register_releaser, track_persisted
from .similarity import _DUCK_EMB_NONZERO as _EMB_VALID

N_PERMUTATIONS = 8   # minhash signature length
N_BANDS = 4          # bands of r = N_PERMUTATIONS / N_BANDS rows
JACCARD_THRESHOLD = 0.5

# word 3-shingles (distinct), built from a PRE-MATERIALIZED ``toks`` column.
# Tokenizing once matters: referencing split(...) inside the per-element
# lambda would re-run the regex split for every shingle (O(tokens²) regex
# work per document — measured 30× slower at sf0.1).
# coalesce first: NULL text must shingle exactly like '' on both engines
# (bare split(trim(NULL)) is a NULL array -> size -1 / NULL len divergence;
# caught by the hostile-corpus differential)
_TOKS_SPARK = "split(trim(coalesce(text, '')), '\\\\s+')"
_SHINGLES_FROM_TOKS_SPARK = (
    "array_distinct(CASE WHEN size(toks) >= 3 THEN "
    "transform(sequence(1, size(toks) - 2), "
    "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
    "element_at(toks, i + 2))) "
    "ELSE array(concat_ws(' ', toks)) END)"
)

_TOKS_DUCK = (
    "regexp_split_to_array(trim(coalesce(text, '')), '[\\t\\n\\x0b\\f\\r ]+')"
)
_SHINGLES_FROM_TOKS_DUCK = (
    "list_distinct(CASE WHEN len(toks) >= 3 "
    "THEN list_transform(generate_series(1, len(toks) - 2), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) "
    "ELSE [list_aggregate(toks, 'string_agg', ' ')] END)"
)


def _shingled(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """doc_id (+extras) with the distinct word-3-shingle array.

    The input goes through ``spread()`` first: the test corpus arrives as
    a single parquet split, which would serialize all shingling/hashing
    onto one core. On a real cluster the scan already has many splits and
    spread() is a guarded no-op (no shuffle).
    """
    sh = (
        spread(docs)
        .selectExpr("doc_id", *extra_cols, f"{_TOKS_SPARK} AS toks")
        .selectExpr("doc_id", *extra_cols, f"{_SHINGLES_FROM_TOKS_SPARK} AS shingles")
    )
    # Persist: the shingle array feeds multiple branches (posting lists,
    # sizes, signatures) and Catalyst would otherwise push derived join-key
    # predicates below the repartition and re-evaluate the whole shingle
    # expression per branch on the (single-split) source scan. Tracked so
    # memo.release_session_frames() can unpersist it — repeated
    # invocations share one InMemoryRelation (CacheManager dedups
    # plan-identical persists), but nothing released it before round 7.
    return track_persisted(sh.persist())


_DUCK_SHINGLE_CTE = f"""
  toks_t AS (
    SELECT doc_id, source, {_TOKS_DUCK} AS toks FROM documents
  ),
  sh AS (
    SELECT doc_id, source, {_SHINGLES_FROM_TOKS_DUCK} AS shingles FROM toks_t
  )
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical assignment by content hash.

    Every doc gets its normalized-content md5, the canonical (minimum)
    doc_id within its hash group, and a duplicate flag. One shuffle on the
    hash; at 100 TB this is the standard first pass before fuzzy dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    hashed = docs.select("doc_id", h.alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("group_size"),
    )
    return (
        hashed.join(groups, "content_hash")
        .select(
            "doc_id",
            "content_hash",
            "canonical_doc_id",
            "group_size",
            (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
        )
    )


ORACLE_DEDUP_EXACT = """
WITH h AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '[\\t\\n\\x0b\\f\\r ]+', ' ', 'g'))) AS content_hash
  FROM documents
),
g AS (
  SELECT content_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS group_size
  FROM h GROUP BY content_hash
)
SELECT h.doc_id, h.content_hash, g.canonical_doc_id, g.group_size,
       h.doc_id <> g.canonical_doc_id AS is_duplicate
FROM h JOIN g USING (content_hash)
ORDER BY doc_id
"""


def _minhash_cols():
    """One lexicographic-min md5 per permutation, computed scan-local
    (array_min over a transform — NO explode, NO shuffle)."""
    return [
        F.expr(
            f"array_min(transform(shingles, s -> md5(concat('{p}:', s))))"
        ).alias(f"h{p}")
        for p in range(N_PERMUTATIONS)
    ]


# Structural band-bucket cap (round-8 verdict: "the last unguarded
# quadratic"). A boilerplate-heavy web corpus can put K near-identical
# documents into ONE band bucket, and the bucket self-join then owes K²
# candidate rows before verification. The guard copies semantic_dedup's
# mega-cell pattern (clustering.py): buckets above the cap are
# sub-bucketed by the FULL minhash signature (docs that agree on all 8
# permutations — the degenerate boilerplate class — stay together; docs
# that merely collide on one band separate), and within every pairing
# group the LEFT side of the pair join is restricted to the group's
# ``bucket_cap`` lowest doc_ids. Buckets of size ≤ cap are EXACT (the
# rank covers every pair's left element), so gated-fixture hashes are
# unchanged at the default cap — the largest observed bucket is 3 at
# sf0.01 and ~copies-sized at sf1/sf3, vs the 4096 default. A degenerate
# K-doc class costs K·cap candidate rows (linear), and every duplicate
# still pairs with the class MINIMUM (rank 1), so connected-components
# survivorship over the pair graph keeps the exact canonical assignment.
LSH_BUCKET_CAP = 4096
# Gate-variant knob: at sf0.01 the largest band bucket holds 3 docs with
# one shared signature and several 2-doc buckets hold 2 DISTINCT
# signatures, so cap=1 demonstrably fires BOTH layers on the fixture —
# multi-signature buckets split into singleton sub-buckets (layer 1) and
# the 3-doc single-signature bucket trims its pair pool to the lowest id
# (layer 2) — while the surviving (min, other) pairs still pass Jaccard
# verification.
LSH_GATE_CAP = 1


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, bucket_cap: int | None = LSH_BUCKET_CAP
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, Jaccard-verified.

    Pipeline: shingle (map) → 8-permutation minhash signature (map) →
    4 band keys of 2 minhashes each (map) → explode bands → self-join on
    (band_idx, band_key) for candidate pairs (the ONLY shuffle, keyed on
    band buckets — no O(n²)) → distinct pairs → verify true Jaccard on the
    shingle arrays → threshold filter.

    ``bucket_cap`` (see ``LSH_BUCKET_CAP``) bounds the self-join inside
    any one band bucket structurally: oversized buckets sub-bucket by the
    full signature and each pair's LEFT element must rank within the
    group's ``bucket_cap`` lowest doc_ids. Exact whenever every bucket is
    ≤ cap; linear |bucket|·cap candidate work on degenerate boilerplate
    classes. ``None`` restores the unguarded form. Both window passes
    share the bucket-key exchange (the count needs no sort; the rank is
    a WindowGroupLimit pre-filtered sort), and the pair join reuses the
    same partitioning.
    """
    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError("bucket_cap must be >= 1 (or None to disable)")
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingled(docs)
    sig = sh.select("doc_id", "shingles", *_minhash_cols())

    r = N_PERMUTATIONS // N_BANDS
    band_exprs = [
        F.md5(
            F.concat_ws("|", *[F.col(f"h{b * r + i}") for i in range(r)])
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    # Equality key over the full signature — the guard only ever GROUPS
    # and JOINS on it, never outputs it, so any injective-in-practice
    # function of (h0..h7) yields the identical equivalence classes.
    # Round-9 ADVICE: a single 64-bit key made "injective in practice"
    # load-bearing for gate parity with the md5-keyed twin (one collision
    # between two signature classes inside an oversized bucket would
    # merge their sub-groups). The key is therefore a STRUCT of two
    # INDEPENDENT xxhash64 draws (the second salted), pushing the
    # collision bound to ~2^-128 — the md5 twin's regime — while a
    # 16-byte struct still shuffles/sorts/compares ~2x cheaper than the
    # 32-char md5 hex string it replaces.
    sig_key = F.struct(
        F.xxhash64(*[F.col(f"h{p}") for p in range(N_PERMUTATIONS)]).alias(
            "x1"
        ),
        F.xxhash64(
            F.lit("sig_salt_2"), *[F.col(f"h{p}") for p in range(N_PERMUTATIONS)]
        ).alias("x2"),
    ).alias("sig_key")
    banded = sig.select("doc_id", sig_key, *band_exprs).select(
        "doc_id",
        "sig_key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_key")
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig_key", "b.band_idx", "b.band_key")

    # Struct sentinel for non-oversized buckets (same shape as sig_key).
    # Within any one (band_idx, band_key) bucket the sub column is EITHER
    # all-sentinel (small bucket) or all-sig-hash (oversized) — the
    # when-branch is a function of the bucket — so a sig class that
    # happens to hash to the sentinel value cannot cross-contaminate
    # anything: sub is only ever compared alongside the bucket key.
    _SUB_NONE = F.struct(
        F.lit(-1).cast("long").alias("x1"), F.lit(-1).cast("long").alias("x2")
    )
    if bucket_cap is None:
        pool = banded.withColumn("sub", _SUB_NONE)
        full = pool
    else:
        # layer 1: per-bucket size via a no-sort count window (the bucket
        # key space is corpus-sized — a broadcast join on it would not
        # scale, unlike semantic_dedup's k-sized cell map); oversized
        # buckets key their pairing groups by the full signature.
        w_cnt = Window.partitionBy("band_idx", "band_key")
        # layer 2: the pair join's left pool is each group's bucket_cap
        # lowest doc_ids.
        w_rn = Window.partitionBy("band_idx", "band_key", "sub").orderBy(
            F.col("doc_id").asc()
        )
        # ONE windowed pipeline, persisted per invocation: the self-join
        # references the guarded frame on BOTH sides, and AQE's
        # ReusedExchange measurably does not dedup the duplicated
        # minhash+window subtrees (the key-rotation finding) — without
        # the persist the 8-permutation minhash AND both window passes
        # run twice. Released via memo.release_session_frames().
        ranked = track_persisted(
            banded.withColumn(
                "sub",
                F.when(
                    F.count("*").over(w_cnt) > bucket_cap, F.col("sig_key")
                ).otherwise(_SUB_NONE),
            )
            .withColumn("_rn", F.row_number().over(w_rn))
            .drop("sig_key")  # folded into sub; don't store it twice
            .persist()
        )
        full = ranked.drop("_rn")
        pool = ranked.filter(F.col("_rn") <= bucket_cap).drop("_rn")

    left = pool.alias("l")
    right = full.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.sub") == F.col("r.sub"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"), F.col("r.doc_id").alias("doc_id_b")
        )
        .distinct()
    )

    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    verified = (
        candidates.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("doc_id_a", "doc_id_b", "jaccard")


def _duck_minhash(p: int) -> str:
    return f"list_min(list_transform(shingles, s -> md5('{p}:' || s))) AS h{p}"


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {_DUCK_SHINGLE_CTE},
sig AS (
  SELECT doc_id, shingles,
         {", ".join(_duck_minhash(p) for p in range(N_PERMUTATIONS))}
  FROM sh
),
banded_wide AS (
  SELECT doc_id,
         md5(h0 || '|' || h1) AS band0,
         md5(h2 || '|' || h3) AS band1,
         md5(h4 || '|' || h5) AS band2,
         md5(h6 || '|' || h7) AS band3
  FROM sig
),
banded AS (
  SELECT doc_id, 0 AS band_idx, band0 AS band_key FROM banded_wide
  UNION ALL SELECT doc_id, 1, band1 FROM banded_wide
  UNION ALL SELECT doc_id, 2, band2 FROM banded_wide
  UNION ALL SELECT doc_id, 3, band3 FROM banded_wide
),
candidates AS (
  SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT c.doc_id_a, c.doc_id_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM candidates c
JOIN sh a ON c.doc_id_a = a.doc_id
JOIN sh b ON c.doc_id_b = b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(a.shingles || b.shingles)), 6)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_id_a, doc_id_b
"""


def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine attestation of the LSH band-bucket guard (round-8
    verdict task #1, the ``semantic_dedup_capped`` precedent): the
    default-cap gate row only exercises the regime where the guard never
    fires (every fixture bucket is far below 4096). This variant runs the
    SAME production function with ``LSH_GATE_CAP`` small enough that the
    fixture's multi-doc buckets are all oversized — multi-signature
    buckets split into signature sub-buckets AND the rank cap trims the
    single-signature 3-doc bucket's pool — against a DuckDB oracle that
    encodes the identical sub-bucket + lowest-id rank-cap semantics, so
    the guarded path gets the same hash-level verification as the exact
    path."""
    return dedup_minhash_lsh(spark, sf_dir, bucket_cap=LSH_GATE_CAP)


ORACLE_DEDUP_MINHASH_LSH_CAPPED = f"""
WITH {_DUCK_SHINGLE_CTE},
sig AS (
  SELECT doc_id, shingles,
         {", ".join(_duck_minhash(p) for p in range(N_PERMUTATIONS))}
  FROM sh
),
banded_wide AS (
  SELECT doc_id,
         md5(h0 || '|' || h1) AS band0,
         md5(h2 || '|' || h3) AS band1,
         md5(h4 || '|' || h5) AS band2,
         md5(h6 || '|' || h7) AS band3,
         md5(h0 || '|' || h1 || '|' || h2 || '|' || h3 || '|' ||
             h4 || '|' || h5 || '|' || h6 || '|' || h7) AS sig_key
  FROM sig
),
banded AS (
  SELECT doc_id, sig_key, 0 AS band_idx, band0 AS band_key FROM banded_wide
  UNION ALL SELECT doc_id, sig_key, 1, band1 FROM banded_wide
  UNION ALL SELECT doc_id, sig_key, 2, band2 FROM banded_wide
  UNION ALL SELECT doc_id, sig_key, 3, band3 FROM banded_wide
),
subbed AS (
  SELECT doc_id, band_idx, band_key,
         CASE WHEN COUNT(*) OVER (PARTITION BY band_idx, band_key)
                   > {LSH_GATE_CAP}
              THEN sig_key ELSE '-' END AS sub
  FROM banded
),
pool AS (
  SELECT doc_id, band_idx, band_key, sub FROM (
    SELECT subbed.*, ROW_NUMBER() OVER (
      PARTITION BY band_idx, band_key, sub ORDER BY doc_id) AS rn
    FROM subbed
  ) WHERE rn <= {LSH_GATE_CAP}
),
candidates AS (
  SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
  FROM pool l JOIN subbed r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.sub = r.sub AND l.doc_id < r.doc_id
)
SELECT c.doc_id_a, c.doc_id_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM candidates c
JOIN sh a ON c.doc_id_a = a.doc_id
JOIN sh b ON c.doc_id_b = b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(a.shingles || b.shingles)), 6)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_id_a, doc_id_b
"""


SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 16-bit fingerprint per document.

    Bit b is the majority vote of the b-th hex digit's high bit across the
    md5 of every distinct token (ties → 1). Identical fingerprints are
    near-dup candidates. Entirely map-side (token hashing via array
    transform) plus one window over the fingerprint — no explode.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.selectExpr(
        "doc_id",
        "array_distinct(split(trim(text), '\\\\s+')) AS toks",
    ).selectExpr("doc_id", "transform(toks, t -> md5(t)) AS hashes")
    bit_exprs = [
        (
            f"CASE WHEN 2 * size(filter(hashes, h -> substring(h, {b + 1}, 1) >= '8'))"
            f" >= size(hashes) THEN '1' ELSE '0' END"
        )
        for b in range(SIMHASH_BITS)
    ]
    fp = toks.selectExpr(
        "doc_id", f"concat({', '.join(bit_exprs)}) AS simhash"
    )
    groups = fp.groupBy("simhash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("bucket_size"),
    )
    return (
        fp.join(groups, "simhash")
        .select(
            "doc_id",
            "simhash",
            "canonical_doc_id",
            "bucket_size",
            (F.col("bucket_size") > 1).alias("has_near_dup"),
        )
    )


def _duck_simhash_bits() -> str:
    parts = [
        (
            f"CASE WHEN 2 * len(list_filter(hashes, h -> substr(h, {b + 1}, 1) >= '8'))"
            f" >= len(hashes) THEN '1' ELSE '0' END"
        )
        for b in range(SIMHASH_BITS)
    ]
    return " || ".join(parts)


ORACLE_DEDUP_SIMHASH = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_distinct(regexp_split_to_array(trim(text), '[\\t\\n\\x0b\\f\\r ]+')),
                        t -> md5(t)) AS hashes
  FROM documents
),
fp AS (
  SELECT doc_id, {_duck_simhash_bits()} AS simhash FROM t
),
g AS (
  SELECT simhash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS bucket_size
  FROM fp GROUP BY simhash
)
SELECT fp.doc_id, fp.simhash, g.canonical_doc_id, g.bucket_size,
       g.bucket_size > 1 AS has_near_dup
FROM fp JOIN g USING (simhash)
ORDER BY doc_id
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise word-3-gram Jaccard within a blocking key (source).

    The quadratic fallback for small blocks: pairs are generated only
    inside each ``source`` partition (block), so cost is sum of block² not
    total². Returns every within-block pair with jaccard >= 0.2.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingled(docs, "source")
    sized = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    # Posting-list formulation: explode shingles and count co-occurrences
    # per pair. |A∩B| falls out of a groupBy instead of 625k array
    # intersections; pairs sharing nothing never materialize. This is the
    # shape that survives 100 TB — the shuffle keys are (source, shingle)
    # and (pair), both well-distributed.
    posts = sh.select(
        "source", "doc_id", F.explode("shingles").alias("shingle")
    )
    pa = posts.alias("a")
    pb = posts.alias("b")
    inter = (
        pa.join(
            pb,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    sa = sized.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sized.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("n_a") + F.col("n_b") - F.col("i")), 6),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("source", "doc_id_a", "doc_id_b", "jaccard")
    )


# Posting-list twin (the engine-side formulation): explode shingles and
# count co-occurrences per pair — |A∩B| falls out of a GROUP BY and pairs
# sharing nothing never materialize, exactly like the Spark plan. The
# original all-pairs block join with per-pair list_intersect was quadratic
# by construction and excluded this query from the sf1 gate tier.
ORACLE_NGRAM_JACCARD_PAIRS = f"""
WITH {_DUCK_SHINGLE_CTE},
sized AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
),
posts AS (
  SELECT source, doc_id, unnest(shingles) AS shingle FROM sh
),
inter AS (
  SELECT a.source AS source, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(COUNT(*) AS DOUBLE) AS i
  FROM posts a JOIN posts b
    ON a.source = b.source AND a.shingle = b.shingle
       AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT i.source, i.doc_id_a, i.doc_id_b,
       ROUND(i.i / (sa.n_sh + sb.n_sh - i.i), 6) AS jaccard
FROM inter i
JOIN sized sa ON sa.doc_id = i.doc_id_a
JOIN sized sb ON sb.doc_id = i.doc_id_b
WHERE ROUND(i.i / (sa.n_sh + sb.n_sh - i.i), 6) >= 0.2
ORDER BY 1, 2, 3
"""


# Structural guard for the posting-list self-join (the ngram analog of
# the LSH band-bucket cap): a shingle occurring in K documents of one
# block owes K² posting-join rows. Unlike the LSH candidate join, the
# UNCAPPED posting join COMPUTES the Jaccard numerator, so a per-posting
# rank cap would corrupt values — the semantics-preserving guard is the
# standard stop-shingle rule: shingles with block document frequency
# above the cap are dropped from CANDIDATE GENERATION only, and every
# surviving pair's Jaccard is then computed EXACTLY on the full shingle
# arrays (the LSH verify-stage pattern). Values are exact; only recall
# is bounded — a pair sharing ONLY ubiquitous shingles is missed, the
# declared trade (ubiquitous shingles are non-discriminative, which is
# why CCNet/Gopher-style pipelines drop them too). Work per shingle is
# ≤ df_cap² — structural, not policy.
NGRAM_DF_CAP = 4096      # production stop-shingle bound
# Gate knob: at sf0.01 the per-(source, shingle) df histogram is
# {1: 24840, 2: 630, 3: 12} and the one true near-dup pair shares 37
# shingles of df=2 — cap=2 demonstrably FIRES the guard (12 shingles
# drop) while the pair still candidates through its df=2 shingles and
# verifies with the exact uncapped Jaccard.
NGRAM_GATE_DF_CAP = 2


def ngram_jaccard_block_capped(
    spark: SparkSession, sf_dir: str, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """`ngram_jaccard_pairs` with the stop-shingle df guard (above):
    candidate pairs come only from shingles whose within-block document
    frequency is ≤ ``df_cap``; surviving pairs verify with the EXACT
    full-array Jaccard, same threshold. Output values for every emitted
    pair are bit-identical to the uncapped operator's.

    The default is the PRODUCTION bound (``NGRAM_DF_CAP`` — round-9
    ADVICE: a default of the tiny gate knob would silently drop every
    shingle with df > 2 for an ordinary caller, collapsing recall; the
    sibling ``dedup_minhash_lsh`` defaults to its production cap the same
    way). The gated registry row passes ``NGRAM_GATE_DF_CAP`` explicitly
    via :func:`ngram_jaccard_block_capped_gate` so the guard demonstrably
    fires on the fixture."""
    if df_cap < 1:
        raise ValueError("df_cap must be >= 1")
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingled(docs, "source")
    posts = sh.select(
        "source", "doc_id", F.explode("shingles").alias("shingle")
    )
    # Stop-shingle guard as an AGGREGATE df table, not a window (round-10
    # verdict #2): `count(*) OVER (PARTITION BY source, shingle)` shuffles
    # and SORTS every posting row — the full posting list through one
    # exchange with a per-partition sort, and a skewed shingle lands its
    # whole partition on one task. The groupBy df table gets map-side
    # partial aggregation (hot shingles collapse per input partition
    # before the exchange), and only the DROPPED side ships anywhere:
    # |stop| ≤ total_postings / df_cap rows of bare shingle keys by
    # construction, so it broadcasts and the keep side is a MAP-ONLY
    # anti-join — the full posting list never shuffles for the guard at
    # all. Same retention: drop shingles with within-block df > df_cap.
    stop = (
        posts.groupBy("source", "shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > df_cap)
        .select("source", "shingle")
    )
    # persisted: the candidate self-join reads the capped postings on
    # both sides and ReusedExchange does not dedup the duplicated
    # explode+anti-join subtrees (the LSH-guard finding)
    keep = track_persisted(
        posts.join(F.broadcast(stop), ["source", "shingle"], "left_anti")
        .persist()
    )
    cand = (
        keep.alias("a")
        .join(
            keep.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("source", "doc_id_a", "doc_id_b", "jaccard")
    )


def ngram_jaccard_block_capped_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate row for ``ngram_jaccard_block_capped``: runs the production
    function with ``NGRAM_GATE_DF_CAP`` (passed explicitly — the knob is
    the gate's, not the function default) so the stop-shingle guard
    demonstrably fires on the sf0.01 fixture while the true near-dup pair
    still survives with its exact Jaccard."""
    return ngram_jaccard_block_capped(spark, sf_dir, df_cap=NGRAM_GATE_DF_CAP)


def _oracle_ngram_block_capped(df_cap: int = NGRAM_GATE_DF_CAP) -> str:
    return f"""
WITH {_DUCK_SHINGLE_CTE},
posts AS (
  SELECT source, doc_id, unnest(shingles) AS shingle FROM sh
),
df AS (
  SELECT source, shingle, COUNT(*) AS df FROM posts GROUP BY 1, 2
),
keep AS (
  SELECT p.source, p.doc_id, p.shingle
  FROM posts p JOIN df ON df.source = p.source AND df.shingle = p.shingle
  WHERE df.df <= {df_cap}
),
cand AS (
  SELECT DISTINCT a.source, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM keep a JOIN keep b
    ON a.source = b.source AND a.shingle = b.shingle
       AND a.doc_id < b.doc_id
)
SELECT c.source, c.doc_id_a, c.doc_id_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM cand c
JOIN sh a ON c.doc_id_a = a.doc_id
JOIN sh b ON c.doc_id_b = b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.2
ORDER BY 1, 2, 3
"""


ORACLE_NGRAM_JACCARD_BLOCK_CAPPED = _oracle_ngram_block_capped()


EMB_N_BANDS = 4        # OR-amplification: candidate if ANY band matches
EMB_BAND_BITS = 6      # 6 sign bits per band → 64 buckets per band
EMB_COSINE_THRESHOLD = 0.25


def dedup_embedding_cosine(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int = EMB_N_BANDS,
    band_bits: int = EMB_BAND_BITS,
    threshold: float = EMB_COSINE_THRESHOLD,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH banding.

    The vector analog of MinHash-LSH (same shape as the reference-free
    training-pipeline dedup stack): each embedding gets ``EMB_N_BANDS``
    bucket keys, band b hashing the signs of components
    [b*EMB_BAND_BITS, (b+1)*EMB_BAND_BITS) — a deterministic
    random-hyperplane LSH with axis-aligned hyperplanes (at production
    scale the hyperplanes come from a seeded Gaussian matrix; the
    plumbing is identical). Vectors sharing ANY band bucket become
    candidates (OR-amplification); candidates are verified with the true
    cosine and thresholded.

    Scale shape (restructured round 10 — the round-9 sf1 regression):
    the vectors and their L2 norms RIDE THROUGH the (band_idx, bucket)
    self-join, so verification runs inside the join's output stage and
    the materialized pair list is never re-shuffled. The old plan
    shipped bare (a, b) candidate pairs through a distinct, a re-spread,
    and two vector-lookup joins — at sf1 that was FOUR more exchanges of
    a 12M-row pair list that is ~150× larger than the vector table
    itself; shuffling 2·bands copies of the vector table (~50 MB at sf1)
    instead is strictly cheaper whenever the banding emits more than
    ~2·bands candidates per vector, which is the only regime where the
    plan shape matters at all. Deduplication of pairs that agree in
    several bands happens AFTER the cosine threshold, on the tiny
    survivor set (duplicates carry identical cosines, so distinct-after
    ≡ distinct-before bit-for-bit; the +5% duplicate verifications cost
    far less than one extra 12M-row exchange). Measured at sf1:
    6.9s → 4.8s; sf3: 46s → 34s. A degenerate mega-bucket concentrates
    its verification folds in its own join partition — the same
    partition that already generates those pairs — and AQE's skew-join
    splitting (on for the session) re-spreads exactly that case. L2
    norms are computed ONCE per vector map-side (caching a deterministic
    value changes no bits), so verification is a single dot-product fold
    per candidate instead of dot + two norm folds.
    """
    norm = F.sqrt(
        F.aggregate(
            F.transform("vec", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    from .similarity import valid_embeddings

    emb_scan = load_table(spark, sf_dir, "embeddings")
    emb = valid_embeddings(spread(emb_scan)).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("vec")
    ).withColumn("nrm", norm)
    if n_bands * band_bits > 64:
        raise ValueError("band structure exceeds the embedding dimension")
    bucket_exprs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            sum(
                F.when(
                    F.element_at("vec", b * band_bits + i + 1) >= 0, F.lit(1 << i)
                ).otherwise(F.lit(0))
                for i in range(band_bits)
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    banded = emb.select(
        "vec_id", "vec", "nrm", F.explode(F.array(*bucket_exprs)).alias("b")
    ).select("vec_id", "vec", "nrm", "b.band_idx", "b.bucket")

    left = banded.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
        "band_idx",
        "bucket",
    )
    right = banded.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
        "band_idx",
        "bucket",
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return (
        left.join(right, ["band_idx", "bucket"])
        .filter(F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b", "cosine")
        .distinct()
    )


_DUCK_EMB_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)
_DUCK_EMB_NORM = (
    "sqrt(list_reduce(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, y) -> acc + y))"
)


def _duck_emb_bands(
    n_bands: int = EMB_N_BANDS, band_bits: int = EMB_BAND_BITS
) -> str:
    rows = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN vec[{b * band_bits + i + 1}] >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(band_bits)
        )
        rows.append(f"SELECT vec_id, {b} AS band_idx, {bits} AS bucket FROM emb")
    return " UNION ALL ".join(rows)


def oracle_dedup_embedding_cosine(
    n_bands: int = EMB_N_BANDS,
    band_bits: int = EMB_BAND_BITS,
    threshold: float = EMB_COSINE_THRESHOLD,
) -> str:
    return f"""
WITH emb AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         {_DUCK_EMB_NORM.format(a="embedding")} AS nrm
  FROM embeddings WHERE {_EMB_VALID}
),
banded AS ({_duck_emb_bands(n_bands, band_bits)}),
candidates AS (
  SELECT DISTINCT l.vec_id AS vec_id_a, r.vec_id AS vec_id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.bucket = r.bucket
   AND l.vec_id < r.vec_id
),
scored AS (
  SELECT c.vec_id_a, c.vec_id_b,
         ROUND({_DUCK_EMB_DOT.format(a="a.vec", b="b.vec")}
               / (a.nrm * b.nrm), 6) AS cosine
  FROM candidates c
  JOIN emb a ON c.vec_id_a = a.vec_id
  JOIN emb b ON c.vec_id_b = b.vec_id
)
SELECT vec_id_a, vec_id_b, cosine FROM scored
WHERE cosine >= {threshold}
ORDER BY vec_id_a, vec_id_b
"""


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH emb AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
         {_DUCK_EMB_NORM.format(a="embedding")} AS nrm
  FROM embeddings WHERE {_EMB_VALID}
),
banded AS ({_duck_emb_bands()}),
candidates AS (
  SELECT DISTINCT l.vec_id AS vec_id_a, r.vec_id AS vec_id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.bucket = r.bucket
   AND l.vec_id < r.vec_id
),
scored AS (
  SELECT c.vec_id_a, c.vec_id_b,
         ROUND({_DUCK_EMB_DOT.format(a="a.vec", b="b.vec")}
               / (a.nrm * b.nrm), 6) AS cosine
  FROM candidates c
  JOIN emb a ON c.vec_id_a = a.vec_id
  JOIN emb b ON c.vec_id_b = b.vec_id
)
SELECT vec_id_a, vec_id_b, cosine FROM scored
WHERE cosine >= {EMB_COSINE_THRESHOLD}
ORDER BY vec_id_a, vec_id_b
"""


# Min-label propagation converges in ≤ graph-diameter rounds; near-dup
# clusters are shallow, so 50 is a generous safety bound, not a tuning knob.
# One hop per convergence check is pinned by measurement (commit c1aeb8d,
# OPTIMIZATION_r13.md): the LSH pair graph converges in 2 hops at every
# tier, so folding H hops into one check only bought no-op joins past the
# fixpoint (H=2: 2.56->3.22 s at sf0.1, 5.24->7.55 s at sf1), and pointer
# doubling added one shuffle join per hop (2.56->11.4 s at sf0.1). CC
# wall-clock is the upstream pair computation + fixed materializations,
# not iteration count.
CC_MAX_ITERATIONS = 50
# Every this-many rounds the iterate is localCheckpoint'ed so the plan a
# long chain builds stays bounded (persist truncates execution but not
# lineage, and each round doubles the plan — the iterate is referenced
# twice per round — so the interval caps the blow-up at 2^interval copies
# of a checkpointed leaf).
CC_CHECKPOINT_INTERVAL = 5
# Diagnostics: propagation rounds of the most recent invocation (tests use
# this to prove a long-chain graph actually exercised the checkpoint path).
CC_LAST_ROUNDS = 0
# Final per-invocation `comp` caches that the returned plan still references;
# drained at the start of the next invocation or via release_cc_caches().
_CC_LIVE_CACHES: list[DataFrame] = []
_CC_CACHE_LOCK = __import__("threading").Lock()


def release_cc_caches() -> None:
    """Unpersist the final ``comp`` cache held for the most recent
    ``dedup_connected_components`` result. Call once the returned DataFrame
    has been consumed; also runs automatically at the next invocation."""
    with _CC_CACHE_LOCK:
        while _CC_LIVE_CACHES:
            _CC_LIVE_CACHES.pop().unpersist()


register_releaser(release_cc_caches)


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivorship with TRANSITIVE closure: connected components
    over the MinHash-LSH pair graph.

    Pairwise near-dup output (dedup_minhash_lsh) is not enough for corpus
    dedup: if A~B and B~C, all three must land in one cluster with one
    canonical survivor even when A and C never pair directly. Components
    are computed by iterative min-label propagation — each round every doc
    takes the minimum component id among itself and its neighbors, until a
    fixpoint (component id = smallest doc_id in the component, a
    deterministic canonical choice mirroring dedup_exact's MIN(doc_id)).

    Scale shape: this is the standard large-graph CC recipe (Pregel-style
    hash-join rounds; at trillion-edge scale you'd switch to
    large-star/small-star to bound hops). Each round is one shuffle join
    keyed on doc_id over an edge list that is TINY relative to the corpus
    (only near-dup pairs survive LSH + verification), and the driver only
    ever sees a has-anything-changed boolean, never data. Iteration count
    = eccentricity of each cluster's min node — near-dup clusters are
    shallow (chains of rewrites), so a handful of rounds.

    Non-reference extension (training-pipeline dedup); oracle is a DuckDB
    WITH RECURSIVE reachability query over the identical pair CTE.

    The pair graph inherits dedup_minhash_lsh's band-bucket guard (round
    9): inside a capped group every member still pairs with the group's
    rank-1 MINIMUM id, so a degenerate boilerplate class stays ONE
    component with the exact canonical (the star around the minimum
    replaces the clique — same closure, |group|·cap edges instead of
    |group|²). Only pairs whose sole path crossed sub-buckets of an
    oversized bucket can split a component — the same declared recall
    trade as the guard itself. At gated tiers no bucket exceeds the cap,
    so the oracle's uncapped recursive CTE is identical.
    """
    # Drain caches leaked by a previous invocation's returned plan (the final
    # ``comp`` must stay persisted until the caller consumes the result, so
    # release it here instead) — keeps storage flat across repeated calls.
    release_cc_caches()
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b")
    # localCheckpoint (eager), not a bare persist: every propagation round
    # references the graph TWICE (comp directly + through nbr_min), so the
    # logical plan doubles per round — with the full LSH pair-plan at the
    # leaves, ten rounds would stack 2^10 copies of it and OOM the driver
    # during analysis on a long-chain graph. Truncating the edge lineage
    # to a LogicalRDD makes the doubling harmless (2^k copies of a 2-node
    # leaf), and the per-interval checkpoint below resets even that.
    edges = (
        pairs.selectExpr("doc_id_a AS src", "doc_id_b AS dst")
        .unionAll(pairs.selectExpr("doc_id_b AS src", "doc_id_a AS dst"))
        .localCheckpoint(eager=True)
    )
    # Iterate ONLY the pair-graph vertex set: docs with no near-dup pair are
    # their own singleton component and never change — at corpus scale the
    # edge-endpoint set is orders of magnitude smaller than the corpus, so
    # the propagation rounds never touch the full documents table.
    cached = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("component_id"))
        .persist()
    )
    comp = cached
    global CC_LAST_ROUNDS
    CC_LAST_ROUNDS = 0
    for _round in range(CC_MAX_ITERATIONS):
        CC_LAST_ROUNDS = _round + 1
        nbr_min = (
            edges.join(comp, edges.src == comp.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # Carry the did-anything-move flag inside the propagation join
        # itself: one keyed join + one flag scan per round, instead of a
        # second comp-vs-new_comp join just to detect convergence.
        # `cached` is the persisted handle (comp is a projection over it,
        # so unpersist must target `cached`, not comp).
        stepped = comp.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component_id"),
                F.coalesce(F.col("nbr_min"), F.col("component_id")),
            ).alias("component_id"),
            (
                F.coalesce(F.col("nbr_min"), F.col("component_id"))
                < F.col("component_id")
            ).alias("moved"),
        )
        # localCheckpoint (implicitly persisted) every K rounds truncates
        # the stacked-join lineage; plain persist in between.
        if (_round + 1) % CC_CHECKPOINT_INTERVAL == 0:
            stepped = stepped.localCheckpoint(eager=False)
        else:
            stepped = stepped.persist()
        changed = stepped.filter(F.col("moved")).limit(1).count()
        cached.unpersist()
        cached = stepped
        comp = stepped.drop("moved")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERATIONS} "
            "rounds — pathological chain in the near-dup pair graph; raise "
            "CC_MAX_ITERATIONS or switch to large-star/small-star"
        )
    # The `changed` count materialized the final comp, so edges' cache is no
    # longer needed to serve the returned plan.
    edges.unpersist()
    with _CC_CACHE_LOCK:
        _CC_LIVE_CACHES.append(cached)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    # No broadcast hint: `sizes` is one row per near-dup component —
    # unbounded at corpus scale (a hint here OOMs a 100-TB run). AQE is
    # free to pick a broadcast at runtime when the frame is actually small;
    # tests/test_scale_plans.py pins the absence of the static hint.
    clustered = comp.join(sizes, "component_id").select(
        "doc_id",
        "component_id",
        "cluster_size",
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )
    singletons = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(comp.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("component_id"),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(True).alias("is_canonical"),
        )
    )
    return clustered.unionByName(singletons)


ORACLE_DEDUP_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({ORACLE_DEDUP_MINHASH_LSH}),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
),
walk(node, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.reach FROM walk w JOIN edges e ON e.src = w.node
),
comp AS (
  SELECT node AS doc_id, MIN(reach) AS component_id FROM walk GROUP BY node
),
sizes AS (
  SELECT component_id, COUNT(*) AS cluster_size FROM comp GROUP BY component_id
)
SELECT c.doc_id, c.component_id, s.cluster_size,
       c.doc_id = c.component_id AS is_canonical
FROM comp c JOIN sizes s USING (component_id)
ORDER BY doc_id
"""


CONTAMINATION_MIN_SHARED = 3


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    min_shared: int = CONTAMINATION_MIN_SHARED,
    df_cap: int | None = NGRAM_DF_CAP,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing ≥ ``min_shared``
    distinct word-3-shingles with any benchmark item.

    ``docs`` needs (doc_id, text); ``benchmark`` needs (bench_id, text).
    Output: (doc_id, bench_id, shared_shingles) per contaminated pair.

    Scale shape: shingle both sides (map-only), inner-join on the shingle
    string — a posting-list join keyed on shingle, NOT doc×bench pairs; the
    pair space materializes only where an actual shingle co-occurs. The
    benchmark side is tiny by definition (an eval set), so the join
    broadcasts; the corpus side streams through. A production variant
    hashes shingles to 8 bytes first — same plan, smaller keys.

    Stop-shingle guard (round-9 verdict: the last unguarded posting join):
    a boilerplate shingle occurring in K corpus docs AND in the benchmark
    owes K·|bench postings| join rows — linear per bench item but
    unbounded in K. With ``df_cap`` set, the CORPUS-side posting list
    drops shingles whose global corpus document frequency exceeds the
    cap for CANDIDATE GENERATION only, and every surviving (doc, bench)
    pair's ``shared_shingles`` is then computed EXACTLY as
    |shingles(doc) ∩ shingles(bench)| on the full arrays — the same
    candidates-then-exact-verify shape as ``ngram_jaccard_block_capped``.
    Values are exact (the shingle arrays are distinct, so the intersect
    size equals the uncapped join's count); only recall is bounded — a
    pair sharing ONLY ubiquitous shingles is missed, the declared trade
    (a doc that overlaps an eval item solely in boilerplate is not a
    leak). The benchmark side stays uncapped and broadcast. Work per
    shingle is ≤ df_cap · bench-df — structural, not policy.
    ``df_cap=None`` restores the unguarded single posting join.
    """
    if df_cap is None:
        d = _posting_list(docs, "doc_id")
        b = _posting_list(benchmark, "bench_id")
        return (
            d.join(F.broadcast(b), "shingle")
            .groupBy("doc_id", "bench_id")
            .agg(F.count("*").alias("shared_shingles"))
            .filter(F.col("shared_shingles") >= min_shared)
        )
    if df_cap < 1:
        raise ValueError("df_cap must be >= 1 (or None to disable)")
    # persisted: the corpus shingle arrays feed candidate generation AND
    # the exact-verify join; without materialization each branch re-runs
    # the shingle build on the scan (the _shingled() contract).
    d_sh = track_persisted(
        spread(
            docs.selectExpr("doc_id", f"{_TOKS_SPARK} AS toks").selectExpr(
                "doc_id", f"{_SHINGLES_FROM_TOKS_SPARK} AS shingles"
            )
        ).persist()
    )
    posts = d_sh.select("doc_id", F.explode_outer("shingles").alias("shingle"))
    b_sh = spread(
        benchmark.selectExpr("bench_id", f"{_TOKS_SPARK} AS toks").selectExpr(
            "bench_id", f"{_SHINGLES_FROM_TOKS_SPARK} AS shingles"
        )
    )
    b_posts = b_sh.select(
        "bench_id", F.explode_outer("shingles").alias("shingle")
    )
    # Stop-shingle guard as an AGGREGATE df table, not a window (round-10
    # verdict #2, same rework as ngram_jaccard_block_capped): the old
    # `count(*) OVER (PARTITION BY shingle)` pushed the FULL corpus
    # posting list through one exchange with a per-partition sort, and a
    # skewed shingle lands its whole partition on one task. The groupBy
    # df table partial-aggregates map-side, only the DROPPED shingles (≤
    # total_postings / df_cap bare keys, structural) broadcast, and the
    # keep side becomes a MAP-ONLY anti-join: the corpus posting list no
    # longer shuffles for the guard. Retention unchanged: drop shingles
    # whose global corpus df exceeds the cap. Round-11 A/B on this shape
    # (commit b72fa39, sf3, one session, warm guard stage):
    # window 3.27s / agg 3.24s / bench-semi-prefilter 3.80s — fixture-
    # tier timing is neutral (the df agg and the window shuffle the same
    # 7.8M postings; the win is the structural skew/sort story), and the
    # round-10-rejected broadcast pre-filter re-measured SLOWER on top of
    # the aggregate shape too (the extra broadcast barrier again), so it
    # stays rejected; revisit only in the petabyte-posting regime where
    # the full-corpus df aggregate is the measured bottleneck. Failure
    # mode to carry into that revisit (round-11 advice): the stop table
    # is driver-broadcast, and its ≤ total_postings/df_cap size bound is
    # structural, not absolute — with df_cap=4096 a petabyte posting
    # list admits a stop side beyond the broadcast limit, which FAILS
    # the job (broadcast OOM) rather than degrading. The fallback there
    # is the same left_anti without the broadcast hint (shuffled anti-
    # join): correct, skew-exposed on the hot shingles the stop table
    # exists to remove, hence only acceptable once the stop side itself
    # is too big to ship.
    stop = (
        posts.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > df_cap)
        .select("shingle")
    )
    keep = posts.join(F.broadcast(stop), "shingle", "left_anti")
    cand = (
        keep.join(F.broadcast(b_posts), "shingle")
        .select("doc_id", "bench_id")
        .distinct()
    )
    return (
        cand.join(d_sh, "doc_id")
        .join(
            F.broadcast(b_sh.select("bench_id", F.col("shingles").alias("b_sh"))),
            "bench_id",
        )
        .select(
            "doc_id",
            "bench_id",
            F.size(F.array_intersect("shingles", "b_sh"))
            .cast("long")
            .alias("shared_shingles"),
        )
        .filter(F.col("shared_shingles") >= min_shared)
    )


def _posting_list(df: DataFrame, id_col: str) -> DataFrame:
    """(id, shingle) posting list.

    Two deliberate plan-shape choices, both load-bearing:

    - ``explode_outer``, not ``explode``: for a plain explode the
      InferFiltersFromGenerate rule synthesizes ``size(shingles) > 0 AND
      isnotnull(shingles)`` and pushes it into the scan's Filter with the
      whole shingle expression INLINED — where each ``element_at(split(
      trim(text)), i)`` re-runs the regex split, the O(tokens²) trap
      (measured 120ms/doc vs ~1ms; 6s → 0.3s for the benchmark side).
      The rule skips outer generates, and the CASE WHEN shingle builder
      always yields a non-empty array, so the outer variant is
      semantically identical here.
    - ``spread()`` between the shingle projection and the explode: on the
      fixture's single parquet split it inserts an Exchange that both fans
      the work across cores and acts as a materialization barrier
      (CollapseProject cannot cross an Exchange, so the shingle arrays
      evaluate exactly once in the map stage). On a multi-split cluster
      scan spread() is a no-op — safe, because CollapseProject refuses to
      inline a non-cheap alias referenced more than once (SPARK-36718;
      ``toks`` appears 3× inside the shingle lambda), so the one-regex-
      split-per-row property holds without the Exchange. _shingled()
      solves the same problems with a persist because its output feeds
      multiple consumers; this one is consumed once."""
    sh = spread(
        df.selectExpr(id_col, f"{_TOKS_SPARK} AS toks")
        .selectExpr(id_col, f"{_SHINGLES_FROM_TOKS_SPARK} AS shingles")
    )
    return sh.select(id_col, F.explode_outer("shingles").alias("shingle"))


def benchmark_contamination_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated decontamination run: the eval set is the deterministic
    doc_id % 100 == 0 slice of the corpus standing in for a benchmark —
    every flagged (doc_id, bench_id) pair is a training doc that would leak
    eval content."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return benchmark_contamination(docs, bench)


def _oracle_benchmark_contamination(
    df_cap: int | None = NGRAM_DF_CAP,
    min_shared: int = CONTAMINATION_MIN_SHARED,
) -> str:
    """DuckDB twin of the gated ``benchmark_contamination_query``. The
    stop-shingle df guard is ENCODED in the oracle (round-10 ADVICE: the
    unguarded twin matched only while no fixture had a pair whose every
    shared shingle exceeded the cap — a data-dependent equivalence; the
    repo convention is capped variants get capped oracles, as in
    ``_oracle_ngram_block_capped``): candidates come from the df-capped
    corpus posting list, and ``shared_shingles`` is the EXACT full-array
    intersect size for surviving pairs — the same
    candidates-then-exact-verify shape as the Spark operator.
    ``df_cap=None`` emits the unguarded single-join twin."""
    head = """
WITH dt AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[\\t\\n\\x0b\\f\\r ]+') AS toks
  FROM documents
),
ds AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 3
           THEN list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS shingles
  FROM dt
),
d AS (SELECT doc_id, unnest(shingles) AS shingle FROM ds),
b AS (
  SELECT doc_id AS bench_id, shingle
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM ds)
  WHERE doc_id % 100 = 0
)"""
    if df_cap is None:
        return (
            head
            + f"""
SELECT d.doc_id, b.bench_id, COUNT(*) AS shared_shingles
FROM d JOIN b USING (shingle)
GROUP BY d.doc_id, b.bench_id
HAVING COUNT(*) >= {min_shared}
ORDER BY doc_id, bench_id
"""
        )
    return (
        head
        + f""",
df AS (SELECT shingle, COUNT(*) AS df FROM d GROUP BY 1),
keep AS (
  SELECT d.doc_id, d.shingle
  FROM d JOIN df USING (shingle) WHERE df.df <= {df_cap}
),
cand AS (
  SELECT DISTINCT k.doc_id, b.bench_id FROM keep k JOIN b USING (shingle)
)
SELECT c.doc_id, c.bench_id,
       CAST(len(list_intersect(da.shingles, db.shingles)) AS BIGINT)
         AS shared_shingles
FROM cand c
JOIN ds da ON c.doc_id = da.doc_id
JOIN ds db ON c.bench_id = db.doc_id
WHERE len(list_intersect(da.shingles, db.shingles)) >= {min_shared}
ORDER BY c.doc_id, c.bench_id
"""
    )


ORACLE_BENCHMARK_CONTAMINATION = _oracle_benchmark_contamination()


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_capped": dedup_minhash_lsh_capped,
    "dedup_simhash": dedup_simhash,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_jaccard_block_capped": ngram_jaccard_block_capped_gate,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_connected_components": dedup_connected_components,
    "benchmark_contamination": benchmark_contamination_query,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_minhash_lsh_capped": ORACLE_DEDUP_MINHASH_LSH_CAPPED,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD_PAIRS,
    "ngram_jaccard_block_capped": ORACLE_NGRAM_JACCARD_BLOCK_CAPPED,
    "dedup_embedding_cosine": ORACLE_DEDUP_EMBEDDING_COSINE,
    "dedup_connected_components": ORACLE_DEDUP_CONNECTED_COMPONENTS,
    "benchmark_contamination": ORACLE_BENCHMARK_CONTAMINATION,
}
