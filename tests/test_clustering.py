"""Differential test: Spark Lloyd k-means vs a NumPy replica of the exact
same deterministic algorithm (same init, same tie-break, same iteration
count). Assignments must agree exactly; centroids to float tolerance (the
Spark side sums through DECIMAL — order-independent — while NumPy sums
float64 in index order, so last-ulp drift is expected and bounded)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
    kmeans_assign,
    kmeans_centroids,
    kmeans_lloyd,
)
from youtube_api_batch_process_with_analytics_spark.sources import load_table

K = 4
N_ITER = 3


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )


def _numpy_lloyd(ids, X, k, n_iter):
    def means(assign):
        cents = {}
        for c in range(k):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(axis=0)
        fallback = cents[min(cents)]
        return np.stack([cents.get(c, fallback) for c in range(k)])

    assign = ids % k
    C = means(assign)
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the first min → lowest id
        C = means(assign)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return d2.argmin(axis=1), C


def test_kmeans_matches_numpy(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.vec for r in rows], dtype=np.float64)

    got = {
        r.vec_id: r.cluster
        for r in kmeans_lloyd(emb, k=K, n_iter=N_ITER).collect()
    }
    want_assign, want_C = _numpy_lloyd(ids, X, K, N_ITER)
    want = dict(zip(ids.tolist(), want_assign.tolist()))
    # Spark folds distances sequentially, NumPy sums pairwise — for a point
    # nearly equidistant to two centroids the argmin can legitimately flip
    # on last-ulp rounding. Compare exactly only where the best/second-best
    # margin is clearly above float noise.
    d2 = ((X[:, None, :] - want_C[None, :, :]) ** 2).sum(axis=2)
    margins = dict(zip(ids.tolist(), (np.partition(d2, 1, axis=1)[:, 1] - d2.min(axis=1)).tolist()))
    mismatched = {i for i in want if got[i] != want[i] and margins[i] > 1e-9}
    assert not mismatched, f"{len(mismatched)} assignments differ: {sorted(mismatched)[:5]}"

    C = np.array(kmeans_centroids(emb, k=K, n_iter=N_ITER))
    assert C.shape == want_C.shape
    np.testing.assert_allclose(C, want_C, rtol=0, atol=1e-9)


def test_kmeans_assign_is_map_only(spark, sf_dir):
    """The data-sized step must be shuffle-free: literal centroids, no
    Exchange in the assignment plan."""
    emb = _emb(spark, sf_dir)
    cents = kmeans_centroids(emb, k=K, n_iter=1)
    plan = kmeans_assign(emb, cents)._sc._jvm.PythonSQLUtils.explainString(
        kmeans_assign(emb, cents)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan


def test_kmeans_cells_drive_ivf_recall(spark, sf_dir):
    """End-to-end: k-means cells feed the IVF probe/search shape
    (assign → probe nearest centroids → search inside probed cells) and
    must recover most of the brute-force top-k. This is the production
    wiring ann_ivf_topk's docstring defers to — labels replaced by learned
    cells."""
    emb = _emb(spark, sf_dir)
    cents = kmeans_centroids(emb, k=K, n_iter=N_ITER)
    cells = kmeans_assign(emb, cents)

    rows = cells.collect()
    X = {r.vec_id: np.array(r.vec) for r in rows}
    cell_of = {r.vec_id: r.cluster for r in rows}
    C = np.array(cents)
    ids = sorted(X)
    M = np.stack([X[i] for i in ids])
    norms = np.linalg.norm(M, axis=1)
    queries = [i for i in ids if i % 10 == 0]

    top_k, n_probe, hits, total = 5, 2, 0, 0
    for q in queries:
        qv = X[q]
        cos = (M @ qv) / (norms * np.linalg.norm(qv))
        order = [i for _, i in sorted(zip(-cos, ids)) if i != q]
        truth = set(order[:top_k])
        # probe the n_probe nearest centroids, search only inside them
        ccos = (C @ qv) / (np.linalg.norm(C, axis=1) * np.linalg.norm(qv))
        probed = set(np.argsort(-ccos)[:n_probe].tolist())
        cand = [i for i in ids if cell_of[i] in probed and i != q]
        cand.sort(key=lambda i: -cos[ids.index(i)])
        got = set(cand[:top_k])
        hits += len(truth & got)
        total += top_k
    recall = hits / total
    assert recall >= 0.5, f"IVF-over-kmeans recall too low: {recall:.2f}"


def test_kmeans_empty_cluster_reseeds(spark):
    """k larger than the distinct-point count forces empty clusters; the
    job must still return exactly k centroids and a total assignment."""
    df = spark.createDataFrame(
        [(i, [float(i % 2), 0.0]) for i in range(6)], "vec_id long, vec array<double>"
    )
    out = kmeans_lloyd(df, k=5, n_iter=2)
    assert out.count() == 6
    cents = kmeans_centroids(df, k=5, n_iter=2)
    assert len(cents) == 5


def test_kmeans_cells_gate_matches_oracle(spark, duck, sf_dir):
    """The integer-exact gated twin must be bit-identical to its DuckDB
    oracle — the whole point of the quantized formulation."""
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        kmeans_cells_query,
        oracle_kmeans_cells,
    )

    assert_oracle_match(kmeans_cells_query(spark, sf_dir), duck, oracle_kmeans_cells())


def test_ann_ivf_kmeans_gate_matches_oracle(spark, duck, sf_dir):
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        ann_ivf_kmeans,
        oracle_ann_ivf_kmeans,
    )

    assert_oracle_match(ann_ivf_kmeans(spark, sf_dir), duck, oracle_ann_ivf_kmeans())


def test_gate_kmeans_assignment_is_map_only(spark, sf_dir):
    """Final gated assignment must be a literal-centroid expression: the
    only Exchange allowed is spread()'s deliberate round-robin fan-out of
    the single-file fixture scan — no hash shuffle from the compute."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        kmeans_cells_query,
    )

    df = kmeans_cells_query(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1 and "RoundRobinPartitioning" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_pq_adc_recall_and_code_validity(spark, sf_dir):
    """PQ two-stage sanity: codes are in [0, PQ_K); ADC shortlist=100 +
    exact rerank achieves recall@5 >= 0.5 against exact quantized-L2
    (raw 12-bit ADC alone measures ~0.08 on this near-uniform fixture —
    the rerank stage is what makes PQ a usable index)."""
    import numpy as np

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        PQ_K,
        PQ_M,
        QUANT_SCALE,
        pq_adc_topk,
        pq_codes_query,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    codes = pq_codes_query(spark, sf_dir).collect()
    assert all(
        0 <= getattr(r, f"code_{m}") < PQ_K for r in codes for m in range(PQ_M)
    )

    adc = pq_adc_topk(spark, sf_dir, top_k=5, stride=50, shortlist=100).collect()
    got = {}
    for r in adc:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    mat = np.rint(
        np.array([r.embedding for r in emb], dtype=np.float64) * QUANT_SCALE
    )
    hits = total = 0
    for q in sorted(got):
        qi = np.where(ids == q)[0][0]
        d = ((mat - mat[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[:5]].tolist())
        hits += len(got[q] & exact)
        total += 5
    recall = hits / total
    assert recall >= 0.5, f"PQ/ADC+rerank recall too low: {recall:.2f}"


def test_pq_survives_empty_clusters(spark, tmp_path):
    """With fewer distinct vectors than PQ_K codes, subspace clusters MUST
    empty during fitting; codes must only reference populated clusters,
    the ADC distance tables must stay cluster-id-aligned (an empty slot
    is +inf, never a shifted lookup), and the two-stage search must still
    return exact-reranked neighbors without error."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        PQ_DIM,
        PQ_K,
        PQ_M,
        _pq_fit,
        pq_adc_topk,
        pq_codes_query,
    )

    # 4 distinct vectors replicated -> at most 4 populated clusters per subspace
    base = [[float((v + 1) * (d % 7 + 1)) / 10.0 for d in range(PQ_DIM)] for v in range(4)]
    rows = [(i, base[i % 4], i % 4) for i in range(200)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    books, _ = _pq_fit(spark, str(tmp_path))
    assert any(len(cents) < PQ_K for cents in books)  # clusters did empty
    codes = pq_codes_query(spark, str(tmp_path)).collect()
    for r in codes:
        for m in range(PQ_M):
            assert getattr(r, f"code_{m}") in books[m]
    out = pq_adc_topk(spark, str(tmp_path), top_k=3, stride=50, shortlist=20).collect()
    assert out
    # identical replicas of the query vector must rerank to exact_dist 0
    assert all(r.exact_dist == 0 for r in out if r.rank == 1)


def test_semantic_dedup_matches_numpy_reference(spark, sf_dir):
    """Independent replica of semantic_dedup in numpy: take the ENGINE's
    cluster assignment (itself oracle- and numpy-pinned above), then
    re-derive the keep-first survivorship from scratch — exact int64
    dot/norm arithmetic, same rounded-cosine threshold. Catches a shared
    closed-form bug the DuckDB twin (same SQL shape) could hide."""
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_COS_THRESHOLD,
        SEMDEDUP_K,
        _gate_kmeans,
        semantic_dedup,
    )

    assigned, _ = _gate_kmeans(spark, sf_dir, k=SEMDEDUP_K)
    rows = assigned.select("vec_id", "cluster", "qvec").collect()
    got = {
        r.vec_id: (r.cluster, r.dup_of, r.is_dup)
        for r in semantic_dedup(spark, sf_dir).collect()
    }

    by_cell: dict[int, list] = {}
    for r in rows:
        q = np.array(r.qvec, dtype=np.int64)
        if (q * q).sum() == 0:
            continue
        by_cell.setdefault(r.cluster, []).append((r.vec_id, q))
    want = {}
    for cell, members in by_cell.items():
        members.sort()
        mats = np.stack([q for _, q in members])
        norms = np.sqrt((mats * mats).sum(axis=1).astype(np.float64))
        for i, (vid, q) in enumerate(members):
            dup_of = -1
            for j in range(i):
                dot = int(np.dot(mats[j], q))  # exact int64
                cos = round(dot / (norms[j] * norms[i]), 6)
                if cos >= SEMDEDUP_COS_THRESHOLD:
                    dup_of = members[j][0]
                    break  # members sorted -> first hit IS the min id
            want[vid] = (cell, dup_of, dup_of != -1)
    assert got == want


def test_cluster_balanced_sample_invariants(spark, sf_dir):
    """Exactly min(per_cluster, n_c) rows per cell; selected rows carry
    the SAME cluster assignment as the gated kmeans_cells query (shared
    fitted model); ranks are contiguous from 1; the draw is the md5
    order (smallest-hash prefix property, like corpus_sample_hash)."""
    from collections import Counter

    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    per = 5
    rows = C.cluster_balanced_sample(spark, sf_dir, per_cluster=per).collect()
    cells = {
        r.vec_id: r.cluster
        for r in C.kmeans_cells_query(spark, sf_dir).collect()
    }
    sizes = Counter(cells.values())
    got_sizes = Counter(r.cluster for r in rows)
    assert got_sizes == {c: min(per, n) for c, n in sizes.items()}
    for r in rows:
        assert cells[r.vec_id] == r.cluster
    ranks = sorted((r.cluster, r.sample_rank) for r in rows)
    for c, n in got_sizes.items():
        assert [x[1] for x in ranks if x[0] == c] == list(range(1, n + 1))


def test_semantic_dedup_cell_cap_guard(spark, sf_dir):
    """Mega-cell guard (round-6 verdict): a pathologically large k-means
    cell must not go quadratic. With a tiny cell_cap every fixture cell is
    'oversized', so the guard's two layers both engage:

    1. the sign-LSH sub-bucket bound holds — per (cell, sub) pairing
       group, the comparison pool is at most cell_cap rows, so join work
       is Σ |group|·cap, never Σ |cell|²;
    2. exactness properties survive: capped results are a SUBSET of the
       unguarded duplicate set (guarding only removes comparisons), every
       reported dup_of matches the unguarded assignment or a later
       (higher-id) representative, and identical vectors are still caught
       (same signs → same sub-bucket, group-min is rank 1).
    """
    from pyspark.sql import functions as F

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_SUB_BITS,
        semantic_dedup,
    )

    cap = 3
    guarded = {
        r.vec_id: (r.dup_of, r.is_dup)
        for r in semantic_dedup(spark, sf_dir, cell_cap=cap).collect()
    }
    exact = {
        r.vec_id: (r.dup_of, r.is_dup)
        for r in semantic_dedup(spark, sf_dir, cell_cap=None).collect()
    }
    assert set(guarded) == set(exact)  # every valid vector still reported
    n_guard = sum(1 for d, f in guarded.values() if f)
    n_exact = sum(1 for d, f in exact.values() if f)
    assert n_guard <= n_exact  # guarding only removes comparisons
    for vid, (dup_of, is_dup) in guarded.items():
        if is_dup:
            # a guarded dup must be a real duplicate (of the same or a
            # later representative — never an invented pair)
            assert exact[vid][1]
            assert dup_of >= exact[vid][0]

    # the pairing-pool bound itself: rebuild the guard's grouping and
    # assert no group contributes more than |group|·cap comparisons
    # while the unguarded form would pair |cell|² on a mega-cell.
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_K,
        _gate_kmeans,
    )

    assigned, _ = _gate_kmeans(spark, sf_dir, k=SEMDEDUP_K)
    sign_key = sum(
        (
            F.when(
                F.try_element_at("qvec", F.lit(i + 1)) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(SEMDEDUP_SUB_BITS)
        ),
        F.lit(0),
    )
    groups = (
        assigned.select("vec_id", "cluster", sign_key.alias("sub"))
        .groupBy("cluster", "sub")
        .count()
    )
    comparisons = groups.agg(
        F.sum(F.col("count") * F.least(F.col("count"), F.lit(cap))).alias(
            "bounded"
        ),
        F.sum(F.col("count") * F.col("count")).alias("quadratic"),
    ).collect()[0]
    assert comparisons["bounded"] <= comparisons["quadratic"]
    assert comparisons["bounded"] <= cap * sum(
        r["count"] for r in groups.collect()
    )


def test_semantic_dedup_hostile_mega_cell(spark):
    """50%-of-corpus-in-one-cell hostile case: a frame where half the
    vectors are near-identical (one k-means cell, one sign bucket —
    the sign split cannot separate them) must still complete with the
    rank-cap bounding join work, and keep-lowest semantics must hold
    exactly for the identical group (dup_of = group minimum)."""
    from pyspark.sql import functions as F

    from youtube_api_batch_process_with_analytics_spark.operators import (
        clustering as C,
    )

    n = 400
    # ids 0..199: identical positive vectors (one cell, one sub-bucket);
    # ids 200..399: alternating-sign vectors spread across sub-buckets
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < n // 2, F.lit(0))
        .otherwise((F.col("id") % 8).cast("int"))
        .alias("cluster"),
        F.when(
            F.col("id") < n // 2,
            F.array(*[F.lit(1000)] * 8),
        )
        .otherwise(
            F.array(
                *[
                    (F.col("id") * (i + 1) % 7 - 3).cast("long") * 300
                    for i in range(8)
                ]
            )
        )
        .alias("qvec"),
    )
    nrm2 = F.aggregate(
        F.transform("qvec", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    v = base.withColumn("nrm2", nrm2).filter(F.col("nrm2") > 0)

    cap = 16
    sizes = v.groupBy("cluster").agg(F.count("*").alias("_cell_n"))
    sign_key = sum(
        (
            F.when(
                F.try_element_at("qvec", F.lit(i + 1)) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i in range(C.SEMDEDUP_SUB_BITS)
        ),
        F.lit(0),
    )
    paired = (
        v.join(F.broadcast(sizes), "cluster")
        .withColumn(
            "sub",
            F.when(F.col("_cell_n") > cap, sign_key).otherwise(F.lit(-1)),
        )
        .drop("_cell_n")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("cluster", "sub").orderBy(F.col("vec_id").asc())
    )
    a_pool = paired.withColumn("_rn", rn).filter(F.col("_rn") <= cap)
    # join work bound: |paired ⋈ a_pool on (cluster, sub)| ≤ Σ|group|·cap
    pool_sizes = a_pool.groupBy("cluster", "sub").count().collect()
    assert all(r["count"] <= cap for r in pool_sizes)
    joined = paired.join(
        a_pool.select(
            F.col("vec_id").alias("a_id"),
            F.col("cluster").alias("a_cell"),
            F.col("sub").alias("a_sub"),
            F.col("qvec").alias("a_q"),
            F.col("nrm2").alias("a_n"),
        ),
        (F.col("a_cell") == F.col("cluster"))
        & (F.col("a_sub") == F.col("sub"))
        & (F.col("a_id") < F.col("vec_id")),
    )
    n_pairs = joined.count()
    assert n_pairs <= cap * n  # linear envelope, vs ~ (n/2)^2 unguarded
    # keep-lowest exactness on the identical mega-group: every identical
    # vector (cos = 1.0 with the rank-1 member, id 0) dups vec 0
    dot = F.aggregate(
        F.zip_with("a_q", "qvec", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = F.round(
        dot.cast("double")
        / (
            F.sqrt(F.col("a_n").cast("double"))
            * F.sqrt(F.col("nrm2").cast("double"))
        ),
        6,
    )
    dups = (
        joined.withColumn("cos", cos)
        .filter(F.col("cos") >= 0.99)
        .groupBy("vec_id")
        .agg(F.min("a_id").alias("dup_of"))
        .collect()
    )
    mega = {r.vec_id: r.dup_of for r in dups if r.vec_id < n // 2}
    assert set(mega) == set(range(1, n // 2))
    assert all(d == 0 for d in mega.values())


def test_ivf_pq_topk_containment_and_recall(spark, sf_dir):
    """IVFADC composition invariants:

    1. **cell containment** — every returned neighbor's cell is one of
       its query's probed cells, recomputed here in exact rational
       arithmetic (Fraction) from the fitted centroids: the whole point
       of the composition is that the ADC scan never leaves the probe.
    2. **recall differential vs full-scan ADC** — ivf_pq restricts the
       candidate pool to ~N_PROBE/k of the corpus, so its recall@5 vs
       exact quantized-L2 may trail pq_adc_topk's but must stay usable
       (>= 0.3 on the fixture) and the differential is bounded.
    3. **exact_dist is the true quantized L2** (NumPy check) — the
       rerank stage never approximates."""
    from fractions import Fraction

    import numpy as np

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        IVF_KM_N_PROBE,
        QUANT_SCALE,
        _gate_kmeans,
        ivf_pq_topk,
        kmeans_cells_query,
        pq_adc_topk,
    )
    from youtube_api_batch_process_with_analytics_spark.sources import load_table

    rows = ivf_pq_topk(spark, sf_dir).collect()
    assert rows, "ivf_pq_topk returned no rows"
    _, cents = _gate_kmeans(spark, sf_dir)
    cells = {r.vec_id: r.cluster for r in kmeans_cells_query(spark, sf_dir).collect()}

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    mat = np.rint(
        np.array([r.embedding for r in emb], dtype=np.float64) * QUANT_SCALE
    ).astype(np.int64)
    qvec = {int(i): mat[k] for k, i in enumerate(ids)}

    def probe(qid):
        dists = []
        for c, (svec, n) in cents.items():
            d = sum(
                Fraction(int(n) * int(x) - int(s), 1) ** 2
                for x, s in zip(qvec[qid], svec)
            ) / Fraction(n * n)
            dists.append((d, c))
        dists.sort()
        return {c for _, c in dists[:IVF_KM_N_PROBE]}

    got = {}
    for r in rows:
        # 1. containment: neighbor's cell is probed, and matches the gate
        assert r.cell == cells[r.neighbor_id]
        assert r.cell in probe(r.query_id), (
            f"neighbor {r.neighbor_id} of query {r.query_id} "
            f"lies outside the probed cells"
        )
        # 3. exact rerank distance is the true quantized L2
        d = int(((qvec[r.query_id] - qvec[r.neighbor_id]) ** 2).sum())
        assert r.exact_dist == d
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    adc = pq_adc_topk(spark, sf_dir, top_k=5, stride=50, shortlist=100).collect()
    full = {}
    for r in adc:
        full.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(res):
        hits = total = 0
        for q, neigh in res.items():
            d = ((mat - qvec[q]) ** 2).sum(axis=1)
            d[np.where(ids == q)[0][0]] = np.iinfo(np.int64).max
            exact = set(ids[np.argsort(d, kind="stable")[:5]].tolist())
            hits += len(neigh & exact)
            total += 5
        return hits / total

    r_ivf, r_full = recall(got), recall(full)
    assert r_ivf >= 0.3, f"IVFADC recall too low: {r_ivf:.2f}"
    # the probe restriction can only lose so much on this fixture
    assert r_full - r_ivf <= 0.5, (
        f"recall differential suspicious: full={r_full:.2f} ivf={r_ivf:.2f}"
    )


def test_semantic_dedup_fitted_k_binds_and_floor_is_exact(spark, duck, sf_dir):
    """The fitted-k contract (round-10):

    1. the production default (target_cell=640) resolves to the k=32
       floor on every shipped fixture, so the default run is bit-
       identical to an explicit k=32 run;
    2. the gate knob (target_cell=10) makes the fit BIND — more distinct
       cells than the floor — and still hash-matches its scalar-subquery
       DuckDB twin."""
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_GATE_TARGET_CELL,
        SEMDEDUP_K_MIN,
        fitted_semdedup_k,
        oracle_semantic_dedup,
        semantic_dedup,
        semantic_dedup_fitted,
    )

    assert fitted_semdedup_k(spark, sf_dir) == SEMDEDUP_K_MIN
    default_rows = sorted(
        map(tuple, semantic_dedup(spark, sf_dir).collect())
    )
    fixed_rows = sorted(
        map(tuple, semantic_dedup(spark, sf_dir, k=SEMDEDUP_K_MIN).collect())
    )
    assert default_rows == fixed_rows

    k_gate = fitted_semdedup_k(
        spark, sf_dir, target_cell=SEMDEDUP_GATE_TARGET_CELL
    )
    assert k_gate > SEMDEDUP_K_MIN
    fitted = semantic_dedup_fitted(spark, sf_dir)
    n_cells = fitted.select("cluster").distinct().count()
    assert n_cells > SEMDEDUP_K_MIN  # the fit demonstrably bound
    assert_oracle_match(
        fitted,
        duck,
        oracle_semantic_dedup(target_cell=SEMDEDUP_GATE_TARGET_CELL),
    )


def test_gemm_assign_bit_identical_to_expression_path(spark, sf_dir, monkeypatch):
    """The Arrow GEMM assignment kernel is the EXACT twin of the
    interpreted expression path: same integer distances (algebraic
    expansion in int64), same double division, same lowest-cluster tie
    break — assignments must agree row-for-row with the kernel forced on
    and forced off, across every registered k shape (floor k=32 and the
    binding gate fit). The model cache is reset before each forced mode,
    so the Lloyd fit rounds are compared too, not only the final
    assignment."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    def run(query):
        return sorted(map(tuple, query(spark, sf_dir).collect()))

    for query in (cl.semantic_dedup, cl.semantic_dedup_fitted):
        monkeypatch.setattr(cl, "_KMEANS_MODEL_CACHE", {})
        monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 10**18)
        expr_rows = run(query)
        monkeypatch.setattr(cl, "_KMEANS_MODEL_CACHE", {})
        monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", 0)
        gemm_rows = run(query)
        assert expr_rows == gemm_rows and expr_rows


def test_gemm_assign_property_differential(spark, monkeypatch):
    """Property differential for the GEMM kernel on synthetic integer
    vectors: random qvecs and random (sum, count) centroid dicts —
    including magnitudes near the documented exactness envelope
    (n_cell·|q| well below 3e9) and exact-tie constructions — must
    produce identical assignments through both paths, for one
    whole-vector part and for M slice parts in one call. Seeded, not
    hypothesis-driven, so the fixture is reproducible."""
    import random

    import numpy as np

    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    rng = random.Random(20260816)
    d = 16
    for trial in range(3):
        n_rows, k = 200, rng.choice([3, 7, 17])
        rows = [
            (i, [rng.randint(-8000, 8000) for _ in range(d)])
            for i in range(n_rows)
        ]
        # exact-tie construction: duplicate vectors (equal distance to
        # every centroid) exercise the lowest-cluster tie-break
        rows += [(n_rows + j, list(rows[0][1])) for j in range(3)]
        df = spark.createDataFrame(rows, "vec_id long, qvec array<long>")
        cents = {
            c: (
                [rng.randint(-8000 * 50, 8000 * 50) for _ in range(d)],
                rng.randint(1, 50),
            )
            for c in rng.sample(range(100), k)  # non-contiguous ids
        }
        expr_rows = dict(
            df.withColumn("cluster", cl._int_assign_expr(cents))
            .select("vec_id", "cluster")
            .collect()
        )
        gemm_rows = dict(
            cl._gemm_argmin(df, [(0, None, cents, "cluster")])
            .select("vec_id", "cluster")
            .collect()
        )
        assert expr_rows == gemm_rows, f"trial {trial} diverged"
        # envelope sanity: the largest |n·x − s| term stays far inside
        # int64 when squared and summed over d
        n_max = max(n for _, n in cents.values())
        s_max = max(abs(v) for s, _ in cents.values() for v in s)
        term = n_max * 8000 + s_max
        assert d * term * term < 2**63 - 1

    # multi-part: M=4 slices of width 4 in ONE call, each with its own
    # codebook of non-contiguous ids, routed with the threshold forced
    # both ways. Exact ties: duplicates of row 0, and an all-zero row
    # equidistant to a centroid pair ±v/20 (|v| small, so the pair is
    # its nearest) in every slice — the lowest id of the pair must win.
    m_sub, width = 4, d // 4
    books, tie_ids = [], []
    for _ in range(m_sub):
        ids = rng.sample(range(100), 5)
        book = {
            c: ([rng.randint(-8000 * 20, 8000 * 20) for _ in range(width)], 20)
            for c in ids
        }
        v = [rng.randint(1, 10) for _ in range(width)]
        book[ids[0]] = ([20 * x for x in v], 20)
        book[ids[1]] = ([-20 * x for x in v], 20)
        books.append(book)
        tie_ids.append(min(ids[0], ids[1]))
    rows = [
        (i, [rng.randint(-8000, 8000) for _ in range(d)]) for i in range(200)
    ]
    rows += [(200 + j, list(rows[0][1])) for j in range(3)]
    rows += [(300, [0] * d)]
    df = spark.createDataFrame(rows, "vec_id long, qvec array<long>")
    parts = [(m * width, width, bk, f"code_{m}") for m, bk in enumerate(books)]
    outs = [f"code_{m}" for m in range(m_sub)]

    def routed(threshold):
        monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", threshold)
        out = cl._assign(df, parts, len(rows), 8000)
        plan = out._jdf.queryExecution().logical().toString()
        got = {r[0]: tuple(r[1:]) for r in out.select("vec_id", *outs).collect()}
        return got, plan

    expr_rows, expr_plan = routed(10**18)
    gemm_rows, gemm_plan = routed(0)
    assert "MapInPandas" not in expr_plan and "MapInPandas" in gemm_plan
    assert expr_rows == gemm_rows
    assert gemm_rows[300] == tuple(tie_ids)
    assert gemm_rows[200] == gemm_rows[201] == gemm_rows[202] == gemm_rows[0]


def test_pq_codes_gemm_bit_identical_to_expression_path(spark, sf_dir, monkeypatch):
    """The argmin kernel with M slice parts (_gemm_argmin — ONE
    mapInPandas pass assigning all M codes) is the EXACT twin of the M
    per-subspace expression folds: same integer-exact distances, same
    double division, same lowest-code tie break. pq_codes_query must
    return identical rows with the kernel forced on and forced off, and
    the routed plan must actually switch (expression plan has no Python
    node; forced plan has exactly one MapInPandas)."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    def run():
        df = cl.pq_codes_query(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, df.collect())), plan

    def force(threshold):
        # fresh model caches: the PQ-fit and Lloyd rounds run in the
        # forced mode too, not only the final encode
        monkeypatch.setattr(cl, "_PQ_MODEL_CACHE", {})
        monkeypatch.setattr(cl, "_KMEANS_MODEL_CACHE", {})
        monkeypatch.setattr(cl, "GEMM_ASSIGN_MIN_WORK", threshold)

    force(10**18)
    expr_rows, expr_plan = run()
    assert "MapInPandas" not in expr_plan
    force(0)
    gemm_rows, gemm_plan = run()
    assert gemm_plan.count("MapInPandas") == 1
    assert expr_rows == gemm_rows and expr_rows

    # the IVFADC composition assigns cell AND codes in one routed call —
    # full-query parity, and one Python boundary in the forced plan
    force(10**18)
    expr_ivf = sorted(map(tuple, cl.ivf_pq_topk(spark, sf_dir).collect()))
    force(0)
    ivf = cl.ivf_pq_topk(spark, sf_dir)
    assert ivf._jdf.queryExecution().executedPlan().toString().count(
        "MapInPandas"
    ) == 1
    gemm_ivf = sorted(map(tuple, ivf.collect()))
    assert expr_ivf == gemm_ivf and expr_ivf


def test_semdedup_combined_gate_fold_is_feasible(spark, duck, sf_dir):
    """Round-11 capacity pre-proof: the two gate-knob attestation
    queries (semantic_dedup_fitted, semantic_dedup_capped) can FOLD into
    one registered query that exercises the fitted-k path AND both
    mega-cell guard layers simultaneously against one combined twin —
    verified hash-exact here so the fold (which frees a head slot for
    any round-11 registration) is a mechanical registry change, not new
    verification work."""
    from tests.oracle_utils import assert_oracle_match
    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        SEMDEDUP_GATE_CAP,
        SEMDEDUP_GATE_SUB_BITS,
        SEMDEDUP_GATE_TARGET_CELL,
        SEMDEDUP_K_MIN,
        oracle_semantic_dedup_capped,
        semantic_dedup,
    )

    combined = semantic_dedup(
        spark,
        sf_dir,
        cell_cap=SEMDEDUP_GATE_CAP,
        sub_bits=SEMDEDUP_GATE_SUB_BITS,
        target_cell=SEMDEDUP_GATE_TARGET_CELL,
    )
    # the fitted k binds (more cells than the floor) while the tiny cap
    # forces both guard layers — one run covers everything the two
    # separate gate rows cover
    assert combined.select("cluster").distinct().count() > SEMDEDUP_K_MIN
    assert_oracle_match(
        combined,
        duck,
        oracle_semantic_dedup_capped(
            k=None, target_cell=SEMDEDUP_GATE_TARGET_CELL
        ),
    )


def test_gemm_envelope_check_routes_fallback(spark):
    """ADVICE r10: the GEMM router must detect — on the driver, from
    max|s|, n, and the centroid aggregate's own max|x| — when the
    expanded intermediates could exceed int64, and keep the expression
    path. Checked both ways: the exact boundary arithmetic, and the
    router's plan choice under a forced-on work volume."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    d = 4
    # inside: d·(n·xb + s)² just under 2^63
    xb = 10**6
    n = 1000
    s_in = int((2**63 / d) ** 0.5) - n * xb - 10**6
    ok_cents = {0: ([s_in] * d, n), 1: ([-s_in] * d, n)}
    assert cl._gemm_envelope_ok(ok_cents, xb)
    # outside: bump max|s| past the boundary
    s_out = int((2**63 / d) ** 0.5) - n * xb + 10**6
    bad_cents = {0: ([s_in] * d, n), 1: ([s_out] * d, n)}
    assert not cl._gemm_envelope_ok(bad_cents, xb)
    # unknown bound: never GEMM
    assert not cl._gemm_envelope_ok(ok_cents, None)

    df = spark.createDataFrame(
        [(i, [i % 5] * d) for i in range(10)], "vec_id long, qvec array<long>"
    )
    # work volume forced over the threshold: envelope decides the route
    gemm = cl._assign(df, [(0, None, ok_cents, "cluster")], 10**9, xb)
    expr = cl._assign(df, [(0, None, bad_cents, "cluster")], 10**9, xb)
    assert "MapInPandas" in gemm._jdf.queryExecution().logical().toString()
    assert "MapInPandas" not in expr._jdf.queryExecution().logical().toString()
    # and both routes still assign (tiny sanity execute on the safe dict)
    assert gemm.count() == 10 and expr.count() == 10


def test_int_centroids_reports_global_component_bound(spark):
    """_int_centroids' x_bound is the corpus max|x| regardless of which
    cluster holds the extreme component."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl

    df = spark.createDataFrame(
        [(0, 0, [1, -7]), (1, 0, [2, 3]), (2, 1, [-11, 5])],
        "vec_id long, cluster int, qvec array<long>",
    )
    cents, x_bound = cl._int_centroids(df)
    assert x_bound == 11
    assert cents[0] == ([3, -4], 2) and cents[1] == ([-11, 5], 1)


def test_semdedup_pair_kernel_bit_identical_to_expression_path(
    spark, sf_dir, monkeypatch
):
    """Round 13: the grouped pair-scoring kernel (_semdedup_pair_kernel —
    one int64 GEMM per (cell, sub) group emitting the dups aggregate
    directly) is the EXACT twin of the window + pair-join + groupBy
    expression path: same integer dot/norms, same IEEE double chain, and
    the round-to-6 threshold gate replaced by the provably-equivalent
    double cutoff. semantic_dedup must return identical rows with the
    kernel forced on and forced off — including with a tiny cap that
    forces both mega-cell guard layers — and the routed plan must
    actually switch (expression plan has no grouped-map Python node; the
    forced plan drops the rank window and the pair join entirely).
    Releases its session frames on exit: each invocation tracks a
    persisted dim, and leaving four of them to the NEXT test file's
    release turns test_memo's persistent-RDD baseline into a race
    against the non-blocking unpersist."""
    import youtube_api_batch_process_with_analytics_spark.operators.clustering as cl
    from youtube_api_batch_process_with_analytics_spark.operators import memo

    def run(**kw):
        df = cl.semantic_dedup(spark, sf_dir, **kw)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, df.collect())), plan

    try:
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 10**18)
        expr_rows, expr_plan = run()
        assert "FlatMapGroupsInPandas" not in expr_plan
        assert "Window" in expr_plan  # the rank pool on the expression path
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 0)
        gemm_rows, gemm_plan = run()
        assert "FlatMapGroupsInPandas" in gemm_plan
        assert "Window" not in gemm_plan
        assert expr_rows == gemm_rows and expr_rows

        # cap-binding variant: layer-1 sub-buckets AND the layer-2 rank
        # cap must survive the kernel translation (candidates = cap
        # lowest ids)
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 10**18)
        expr_cap, _ = run(cell_cap=2, sub_bits=2)
        monkeypatch.setattr(cl, "SEMDEDUP_GEMM_MIN_WORK", 0)
        gemm_cap, _ = run(cell_cap=2, sub_bits=2)
        assert expr_cap == gemm_cap and expr_cap
    finally:
        memo.release_session_frames()


def test_semdedup_round6_cutoff_is_exact():
    """The kernel's vectorized gate `cos >= cutoff` must be EXACTLY
    Spark's `round(cos, 6) >= tau` for every double: _round6_ge_cutoff
    returns the smallest qualifying double (its predecessor must fail),
    and a dense random sweep across the rounding boundary agrees with
    the bit-exact BigDecimal-twin predicate."""
    import random
    import struct

    from youtube_api_batch_process_with_analytics_spark.operators.clustering import (
        _round6_ge_cutoff,
        _spark_round6,
    )

    for tau in (0.3, 0.82, 0.25, 0.7999995, 1.0):
        c = _round6_ge_cutoff(tau)
        below = struct.unpack(
            "<d",
            struct.pack(
                "<q", struct.unpack("<q", struct.pack("<d", c))[0] - 1
            ),
        )[0]
        assert _spark_round6(c) >= tau and _spark_round6(below) < tau
        rng = random.Random(int(tau * 1e7))
        for _ in range(20000):
            y = rng.uniform(tau - 1e-5, tau + 1e-5)
            assert (y >= c) == (_spark_round6(y) >= tau), (tau, y)
