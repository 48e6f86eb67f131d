"""Graded similarity-search queries (L3) over the embeddings fixture:
brute-force cosine top-k (exact, oracle-checked), LSH-bucketed ANN
(approximate — recall property-tested), embedding near-dup pairs."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meepo_spark.catalog import table
from meepo_spark.operators.similarity import (
    ann_cosine_topk,
    cosine_topk,
    rademacher_planes,
)
from meepo_spark.registry import register

DIM = 64


@register(
    "l3_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings)
    SELECT q_id, c_id, cos_r, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT q_id, c_id,
               list_cosine_similarity(q_vec, c_vec) AS cos,
               ROUND(list_cosine_similarity(q_vec, c_vec), 6) AS cos_r,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY list_cosine_similarity(q_vec, c_vec) DESC,
                                           c_id ASC) AS rank
        FROM q JOIN c ON q_id <> c_id
    )
    WHERE rank <= 5
    """,
)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: exact brute-force cosine top-5 for 10 query vectors.
    Queries broadcast; corpus scanned once; ranked window keeps 5 rows
    per query (WindowGroupLimit). All math in DOUBLE, sequential fold
    — bit-matches DuckDB's list_cosine_similarity on DOUBLE[]."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    topk = cosine_topk(
        q, c, k=5,
        query_id="q_id", query_vec="q_vec", corpus_id="c_id", corpus_vec="c_vec",
        pair_filter=F.col("q_id") != F.col("c_id"),
    )
    return topk.select("q_id", "c_id", F.round("cos", 6).alias("cos_r"), "rank")


@register(
    "l3b_ann_lsh_topk",
    oracle="""
    WITH sgn AS (
        SELECT p, list_transform(range(64),
            j -> CASE WHEN (strpos('0123456789abcdef',
                            substr(md5(p::VARCHAR || ':' || j::VARCHAR), 1, 1))
                            - 1) % 2 = 0
                 THEN 1.0 ELSE -1.0 END) AS s
        FROM range(6) t(p)
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
        SELECT e.vec_id,
               CAST(SUM(CASE WHEN list_reduce(
                       list_transform(range(64), j -> e.v[j+1] * sgn.s[j+1]),
                       (a, b) -> a + b) > 0
                   THEN (1::BIGINT << sgn.p) ELSE 0 END) AS BIGINT) AS bucket
        FROM e, sgn
        GROUP BY e.vec_id
    )
    SELECT q_id, c_id, cos_r, CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT qs.vec_id AS q_id, cs.vec_id AS c_id,
               ROUND(list_cosine_similarity(qe.v, ce.v), 6) AS cos_r,
               ROW_NUMBER() OVER (PARTITION BY qs.vec_id
                                  ORDER BY list_cosine_similarity(qe.v, ce.v) DESC,
                                           cs.vec_id ASC) AS rnk
        FROM sig qs
        JOIN sig cs ON qs.bucket = cs.bucket
        JOIN e qe ON qe.vec_id = qs.vec_id
        JOIN e ce ON ce.vec_id = cs.vec_id
        WHERE qs.vec_id < 10
    )
    WHERE rnk <= 5
    """,
)
def l3b_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path: sign-bit LSH bucketing (6 fixed ±1 "Rademacher"
    hyperplanes → 64 buckets) then exact cosine rank within bucket.
    Candidate work drops ~|buckets|× vs brute force; recall@5 is
    asserted in tests/test_llm.py against the exact operator.

    The planes are md5-parity ±1 entries (operators/similarity.
    rademacher_planes) instead of seeded Gaussians, so the DuckDB
    oracle recomputes the identical signatures from the same md5
    formula and replays the same bucket-equi-join + within-bucket
    exact rank — the approximate ALGORITHM is graded exactly, not
    just its recall. x * ±1.0 products are lossless and both engines
    fold left-to-right, so the sign bits are bit-stable."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return ann_cosine_topk(
        q, c, dim=DIM, k=5, n_planes=6, planes=rademacher_planes(DIM, 6)
    ).select(
        "q_id", "c_id", F.round("cos", 6).alias("cos_r"), "rank"
    )


@register(
    "l3c_embedding_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
    SELECT a.label AS label_a, b.label AS label_b, COUNT(*) AS n_close_pairs
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 200 AND list_cosine_similarity(a.v, b.v) >= 0.3
    GROUP BY 1, 2
    """,
)
def l3c_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L2: embedding-cosine near-pair census for a 200-vector probe
    sample vs the full corpus, bucketed by label pair. The probe bound
    keeps cost linear in corpus size at any scale; the LSH-blocked
    variant (operators/similarity.embedding_near_dup_pairs) is the
    full-corpus scale path."""
    from meepo_spark.catalog import spread
    from meepo_spark.functions.vectors import cosine_with_norms, norm

    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("label").alias("label_a")
    ).withColumn("na", norm(F.col("va")))
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("label").alias("label_b")
    ).withColumn("nb", norm(F.col("vb")))
    return (
        a.filter(F.col("id_a") < 200)
        .join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")) >= 0.3)
        .groupBy("label_a", "label_b")
        .agg(F.count(F.lit(1)).alias("n_close_pairs"))
    )


@register(
    "l3d_ivf_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings)
    SELECT q_id, c_id, cos_r, CAST(rank AS BIGINT) AS rank,
           TRUE AS ivf_recall_ge_2
    FROM (
        SELECT q_id, c_id,
               ROUND(list_cosine_similarity(q_vec, c_vec), 6) AS cos_r,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY list_cosine_similarity(q_vec, c_vec) DESC,
                                           c_id ASC) AS rank
        FROM q JOIN c ON q_id <> c_id
    )
    WHERE rank <= 5
    """,
)
def l3d_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path #2: IVF — k-means coarse quantizer (16 cells,
    trained on a deterministic corpus sample), queries probe their 8
    nearest cells, exact rank within. Complements the sign-LSH path:
    cells adapt to the data distribution, but this fixture's top-5
    neighbors are near-uniformly spread across cells, so recall ≈
    probed fraction (a clustered production corpus does much better).

    VERDICT r4 #5 — statistical oracle for the trained path: the
    trained codebook has no SQL form, so instead of going rows-only
    the query emits the EXACT cosine top-5 (cross-engine verified by
    DuckDB, the real content) plus per-query ``ivf_recall_ge_2`` —
    |IVF-top5 ∩ exact-top5| >= 2 — computed from the live IVF run in
    the same query. The gate is the measured per-query minimum across
    sf0.001/0.01/0.1 (2 at sf0.1; 3 elsewhere), and the IVF output is
    partition-layout-deterministic (verified across local[8]/
    local[32] session shapes), so a quantizer/assignment bug flips
    the flag to false and hash-fails the driver compare. Raw IVF
    recall is additionally property-tested in tests/test_llm.py."""
    from meepo_spark.operators.similarity import ivf_cosine_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    ivf = ivf_cosine_topk(
        q, c, dim=DIM, k=5, n_centroids=16, n_probe=8,
        pair_filter=F.col("q_id") != F.col("c_id"),
    ).select("q_id", "c_id")
    exact = cosine_topk(
        q, c, k=5,
        query_id="q_id", query_vec="q_vec", corpus_id="c_id", corpus_vec="c_vec",
        pair_filter=F.col("q_id") != F.col("c_id"),
    )
    hits = (
        exact.select("q_id", "c_id")
        .join(ivf, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return exact.join(F.broadcast(hits), "q_id", "left").select(  # bcast: fixed (q x k hits)
        "q_id",
        "c_id",
        F.round("cos", 6).alias("cos_r"),
        "rank",
        (F.coalesce("hits", F.lit(0)) >= 2).alias("ivf_recall_ge_2"),
    )


@register(
    "l3e_label_centroids",
    oracle="""
    SELECT e.label, CAST(t.i AS INTEGER) AS pos,
           ROUND(CAST(SUM(CAST(e.embedding[t.i + 1] AS DECIMAL(25,10))) AS DOUBLE)
                 / COUNT(*), 4) AS centroid
    FROM embeddings e, range(4) t(i)
    GROUP BY e.label, t.i
    ORDER BY e.label, t.i
    """,
)
def l3e_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: per-label embedding centroids (first 4 dims graded; the
    operator is dimension-generic) — posexplode to (label, pos, val),
    then an elementwise decimal-exact mean. The order-independent
    decimal sum is what makes a distributed array-mean reproducible:
    a double accumulation would drift with partition order. Shuffle
    carries labels × dims partial sums (map-side combine), never the
    vectors themselves."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(25,10)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("centroid")
        )
        .orderBy("label", "pos")
    )


@register(
    "l3f_quantized_topk",
    oracle="""
    WITH q8 AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127 /
                        list_max(list_transform(embedding,
                                 y -> abs(CAST(y AS DOUBLE))))) AS BIGINT)) AS qv
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS q_id, b.vec_id AS c_id,
               CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS qdot
        FROM q8 a JOIN q8 b ON a.vec_id < 5 AND a.vec_id <> b.vec_id
    )
    SELECT q_id, c_id, qdot, CAST(rank AS BIGINT) AS rank
    FROM (SELECT q_id, c_id, qdot,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY qdot DESC, c_id) AS rank
          FROM scored)
    WHERE rank <= 3
    ORDER BY q_id, rank
    """,
)
def l3f_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: top-k over INT8-QUANTIZED embeddings — per-vector absmax
    scaling to [-127, 127], integer dot products. The 100 TB rationale:
    int8 cuts the candidate-scan bandwidth 4× vs float32 and the
    integer dots are exactly reproducible on any engine (this oracle
    hash-matches bit-for-bit — impossible for float cosine). Same
    broadcast + windowed-top-k plan as the float path; quantization is
    one map-side expression, no shuffle added."""
    e = table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda y: F.abs(y.cast("double"))))
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 127 / absmax).cast("long"),
        ).alias("qv"),
    )
    queries = q8.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    scored = (
        q8.join(F.broadcast(queries), F.col("q_id") != F.col("vec_id"))  # bcast: fixed (5 queries)
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.aggregate(
                F.zip_with("q_qv", "qv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qdot").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .orderBy("q_id", "rank")
    )


@register(
    "l3g_kmeans_clusters",
    # Lloyd with a FIXED iteration count unrolls into plain SQL: each
    # E-step is an argmin over k centroids, each M-step a per-dimension
    # AVG. iters=2 in kmeans_fit means assign(seed) -> 2 x (update,
    # reassign), i.e. 3 assignment passes and 2 mean updates.
    # COALESCE keeps an empty cluster's previous centroid, matching the
    # operator's fallback. Argmin stability across engines holds
    # because distances are float64 with margins >> the ~1e-12 drift
    # from summation-order differences (validated at all three SFs).
    oracle="""
    WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
         c0 AS (SELECT id AS cid, v AS cv FROM pts ORDER BY id LIMIT 8),
         a0 AS (SELECT id, cid AS cluster FROM (
                  SELECT p.id, c.cid,
                         ROW_NUMBER() OVER (
                           PARTITION BY p.id
                           ORDER BY list_sum(list_transform(list_zip(p.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rn
                  FROM pts p CROSS JOIN c0 c) WHERE rn = 1),
         m1 AS (SELECT a0.cluster AS cid, t.i, AVG(p.v[t.i + 1]) AS m
                FROM a0 JOIN pts p USING (id) CROSS JOIN range(64) t(i)
                GROUP BY a0.cluster, t.i),
         c1 AS (SELECT c0.cid,
                       COALESCE(n.cv, c0.cv) AS cv
                FROM c0 LEFT JOIN (SELECT cid, LIST(m ORDER BY i) AS cv
                                   FROM m1 GROUP BY cid) n USING (cid)),
         a1 AS (SELECT id, cid AS cluster FROM (
                  SELECT p.id, c.cid,
                         ROW_NUMBER() OVER (
                           PARTITION BY p.id
                           ORDER BY list_sum(list_transform(list_zip(p.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rn
                  FROM pts p CROSS JOIN c1 c) WHERE rn = 1),
         m2 AS (SELECT a1.cluster AS cid, t.i, AVG(p.v[t.i + 1]) AS m
                FROM a1 JOIN pts p USING (id) CROSS JOIN range(64) t(i)
                GROUP BY a1.cluster, t.i),
         c2 AS (SELECT c1.cid,
                       COALESCE(n.cv, c1.cv) AS cv
                FROM c1 LEFT JOIN (SELECT cid, LIST(m ORDER BY i) AS cv
                                   FROM m2 GROUP BY cid) n USING (cid)),
         a2 AS (SELECT id, cid AS cluster FROM (
                  SELECT p.id, c.cid,
                         ROW_NUMBER() OVER (
                           PARTITION BY p.id
                           ORDER BY list_sum(list_transform(list_zip(p.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rn
                  FROM pts p CROSS JOIN c2 c) WHERE rn = 1),
         tot AS (SELECT COUNT(*) AS n FROM pts)
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(COUNT(*) / (SELECT CAST(n AS DOUBLE) FROM tot) + 1e-9,
                 4) AS share
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
)
def l3g_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3g: semantic clustering profile — distributed Lloyd k-means
    (operators/clustering.py) over the embedding corpus, reporting
    cluster sizes and the share of the corpus each covers. The
    cluster assignment is the backbone of semantic dedup and
    diversity-aware sampling (keep N per cluster), and the profile is
    the sanity report you'd publish alongside the index.

    Oracle: Lloyd with a FIXED iteration budget IS SQL-expressible by
    unrolling — the registered DuckDB SQL replays seed-assign plus two
    (mean-update, reassign) rounds and must reproduce the exact
    cluster census. The engine-side invariants that SQL can't see —
    inertia monotonicity, run-to-run determinism, O(1) lineage via
    localCheckpoint — stay property-tested in test_llm.py."""
    emb = table(spark, sf_dir, "embeddings")
    from meepo_spark.operators.clustering import kmeans_fit

    assigned, _cent, _inertia = kmeans_fit(
        emb, "vec_id", "embedding", k=8, iters=2
    )
    # 1-row corpus count folded back via broadcast — no .count()
    # driver sync splitting the DAG (the r1 q11/q15/q22 discipline)
    total = emb.agg(F.count(F.lit(1)).cast("double").alias("__t"))
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .crossJoin(F.broadcast(total))  # bcast: fixed (1-row total)
        .select(
            "cluster",
            "n_members",
            F.round(F.col("n_members") / F.col("__t") + 1e-9, 4).alias(
                "share"
            ),
        )
    )


@register(
    "l3h_mips_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id BETWEEN 20 AND 29),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec
               FROM embeddings)
    SELECT q_id, c_id, dot_r, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT q_id, c_id,
               ROUND(list_dot_product(q_vec, c_vec), 6) AS dot_r,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY list_dot_product(q_vec, c_vec) DESC,
                                           c_id ASC) AS rank
        FROM q JOIN c ON q_id <> c_id
    )
    WHERE rank <= 5
    """,
)
def l3h_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3h: maximum-inner-product top-5 — ranking by RAW dot product,
    not cosine. The retrieval mode of learned-embedding recommenders
    and reward models, where vector norm carries signal (popularity,
    confidence) that cosine normalization would erase; on any corpus
    with varying norms the two rankings genuinely differ, which is
    why it earns its own oracle next to l3_cosine_topk.

    Same scale anatomy as l3: a FIXED 10-vector probe set broadcasts
    against one corpus scan (probe size is a constant, never a
    fraction of the corpus — a range tied to the table's tail grew
    with sf and blew up the pair count 300× at sf0.1), dot product
    folds JVM-side in DOUBLE, WindowGroupLimit keeps 5 rows per
    query before the shuffle. The IVF/LSH scale
    paths apply after the standard MIPS-to-cosine reduction (append
    a norm-completion dimension), at which point l3b/l3d serve
    MIPS unchanged."""
    from meepo_spark.operators.similarity import mips_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").between(20, 29)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return mips_topk(
        q, c, k=5, pair_filter=F.col("q_id") != F.col("c_id")
    ).select("q_id", "c_id", F.round("dot", 6).alias("dot_r"), "rank")


@register(
    "l3i_pq_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings)
    SELECT q_id, c_id, dot_r, CAST(rank AS BIGINT) AS rank,
           TRUE AS pq_recall_ge_3
    FROM (
        SELECT q_id, c_id,
               ROUND(list_dot_product(q_vec, c_vec), 6) AS dot_r,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY list_dot_product(q_vec, c_vec) DESC,
                                           c_id ASC) AS rank
        FROM q JOIN c ON q_id <> c_id
    )
    WHERE rank <= 5
    """,
)
def l3i_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path #4: product quantization with asymmetric distance
    (ADC) and exact re-rank — corpus compressed to 16 one-byte codes
    per 64-dim vector (16× scan-bandwidth cut vs float32), queries
    score candidates via m table lookups inside a JVM higher-order
    aggregate (the scan stays in WholeStageCodegen; Python touches
    only the one-off encode pass), then the ADC top-50 shortlist
    fetches full vectors by id-join and re-ranks by exact dot.
    Completes the ANN family: LSH buckets (l3b) prune by hash, IVF
    (l3d) prunes by cell, int8 (l3f) compresses 4×, PQ compresses 16×
    — production systems (FAISS IVF-PQ) compose the IVF prune with
    this PQ scan.

    VERDICT r4 #5 — statistical oracle for the trained path: trained
    PQ codebooks have no SQL form, so the query emits the EXACT MIPS
    top-5 (DuckDB-verified) plus per-query ``pq_recall_ge_3`` —
    |PQ-top5 ∩ exact-top5| >= 3, the measured per-query minimum
    across sf0.001/0.01/0.1 — computed from the live PQ run in the
    same query (output verified partition-layout-deterministic). A
    codebook/encode/LUT bug flips the flag and hash-fails the driver
    compare; raw recall (≈0.92 overall) stays property-tested vs
    exact MIPS in tests/test_llm.py."""
    from meepo_spark.operators.similarity import mips_topk, pq_topk

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    pq = pq_topk(
        q, c, dim=DIM, k=5, m=16, ksub=16, rerank=50,
        pair_filter=F.col("q_id") != F.col("c_id"),
    ).select("q_id", "c_id")
    exact = mips_topk(q, c, k=5, pair_filter=F.col("q_id") != F.col("c_id"))
    hits = (
        exact.select("q_id", "c_id")
        .join(pq, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return exact.join(F.broadcast(hits), "q_id", "left").select(  # bcast: fixed (q x k hits)
        "q_id",
        "c_id",
        F.round("dot", 6).alias("dot_r"),
        "rank",
        (F.coalesce("hits", F.lit(0)) >= 3).alias("pq_recall_ge_3"),
    )


@register(
    "l3j_kmeans_assign",
    # sqd is the exact per-dim squared-diff fold (bit-matches the
    # engine's sq_dist; POWER(list_distance,2) is off by an ulp — the
    # ADVICE r2 sqrt-roundtrip trap). farthest_id ties break to the
    # LOWEST vec_id via an explicit max-join, mirrored engine-side.
    oracle="""
    WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM pts WHERE vec_id < 8),
         d AS (SELECT p.vec_id, c.cid,
                      list_sum(list_transform(list_zip(p.v, c.cv),
                               x -> (x[1]-x[2])*(x[1]-x[2]))) AS sqd
               FROM pts p CROSS JOIN cent c),
         best AS (SELECT vec_id, cid, sqd,
                         ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY sqd, cid) AS rn
                  FROM d),
         agg AS (SELECT cid AS cluster,
                        CAST(COUNT(*) AS BIGINT) AS n_members,
                        ROUND(AVG(sqd), 6) AS avg_sqdist,
                        ROUND(MAX(sqd), 6) AS max_sqdist,
                        MAX(sqd) AS mx
                 FROM best WHERE rn = 1 GROUP BY cid),
         far AS (SELECT b.cid AS cluster, MIN(b.vec_id) AS farthest_id
                 FROM best b JOIN agg ON agg.cluster = b.cid
                                     AND b.sqd = agg.mx
                 WHERE b.rn = 1 GROUP BY b.cid)
    SELECT a.cluster, a.n_members, a.avg_sqdist, a.max_sqdist,
           f.farthest_id
    FROM agg a JOIN far f USING (cluster) ORDER BY cluster
    """,
)
def l3j_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3j: the Lloyd ASSIGNMENT kernel as an exactly-graded query —
    every vector assigned to the nearest of the k=8 lowest-id seed
    centroids (squared Euclidean, ties to the lowest centroid id),
    profiled per cluster (size, mean/max squared distance, farthest
    member). This is the oracle-checked half of l3g's iterative
    k-means: the E-step math is verified bit-for-bit here (sequential
    float64 fold = DuckDB's list_distance), while l3g composes the
    same kernel across M-step iterations that SQL cannot express.

    Scale shape: the k x dim centroid table broadcasts; the corpus is
    scanned once, each row scoring k candidates map-side; the only
    shuffle carries one (cluster, partial-agg) row per partition —
    identical to the Arrow-matmul path in operators/clustering.py but
    in pure codegen (no Python), which is the right trade at k = 8.
    """
    from meepo_spark.functions.vectors import sq_dist

    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = pts.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    d = pts.crossJoin(F.broadcast(cent)).select(  # bcast: fixed (k centroids)
        "vec_id", "cid", sq_dist(F.col("v"), F.col("cv")).alias("sqd")
    )
    w = Window.partitionBy("vec_id").orderBy("sqd", "cid")
    best = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # farthest_id ties (duplicate embeddings exist by fixture design)
    # break to the LOWEST vec_id: join back on sqd == per-cluster max
    # (bit-exact doubles on both engines) and take MIN(vec_id).
    agg = best.groupBy(F.col("cid").alias("cluster")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.round(F.avg("sqd"), 6).alias("avg_sqdist"),
        F.round(F.max("sqd"), 6).alias("max_sqdist"),
        F.max("sqd").alias("__mx"),
    )
    far = (
        best.join(
            F.broadcast(agg.select("cluster", "__mx")),  # bcast: fixed (k clusters)
            (best["cid"] == F.col("cluster")) & (best["sqd"] == F.col("__mx")),
        )
        .groupBy("cluster")
        .agg(F.min("vec_id").alias("farthest_id"))
    )
    return (
        agg.drop("__mx")
        .join(F.broadcast(far), "cluster")  # bcast: fixed (k rows)
        .orderBy("cluster")
    )


@register(
    "l3k_ivf_seeded_topk",
    # IVF with a FIXED seed quantizer (16 lowest-id vectors as cell
    # centroids) is exactly SQL-expressible: assignment and probe
    # selection are argmins over k centroids, the cell-pruned search
    # is an equi-join. Completes the ANN family's oracle coverage:
    # the trained-quantizer variants (l3d IVF, l3i PQ) stay rows-only
    # because Lloyd-trained codebooks are not SQL-reproducible, but
    # the IVF *mechanism* is verified bit-for-bit here.
    oracle="""
    WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM pts WHERE vec_id < 16),
         assign AS (SELECT vec_id, cid AS cell FROM (
                      SELECT p.vec_id, c.cid,
                             ROW_NUMBER() OVER (
                               PARTITION BY p.vec_id
                               ORDER BY list_sum(list_transform(list_zip(p.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid)
                               AS rn
                      FROM pts p CROSS JOIN cent c) WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, v AS qv FROM pts
               WHERE vec_id BETWEEN 30 AND 39),
         probes AS (SELECT q_id, cid AS cell FROM (
                      SELECT q.q_id, c.cid,
                             ROW_NUMBER() OVER (
                               PARTITION BY q.q_id
                               ORDER BY list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid)
                               AS rn
                      FROM q CROSS JOIN cent c) WHERE rn <= 2),
         cand AS (SELECT pr.q_id, a.vec_id AS c_id
                  FROM probes pr JOIN assign a ON a.cell = pr.cell
                  WHERE a.vec_id <> pr.q_id),
         scored AS (SELECT cand.q_id, cand.c_id,
                           list_dot_product(q.qv, p.v) AS dot
                    FROM cand
                    JOIN q ON q.q_id = cand.q_id
                    JOIN pts p ON p.vec_id = cand.c_id)
    SELECT q_id, c_id, ROUND(dot, 6) AS dot_r,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT q_id, c_id, dot,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY dot DESC, c_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def l3k_ivf_seeded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3k: IVF (inverted-file) ANN with a fixed seed quantizer,
    oracle-checked end to end — corpus vectors are assigned to the
    nearest of 16 seed cells, each of 10 query vectors probes its 2
    nearest cells, and the exact dot-product top-5 is computed over
    the probed cells only (~1/8 of the corpus touched per query:
    IVF's cost/recall dial made graded and reproducible).

    Scale shape: assignment is one broadcast(k x dim) + codegen-fold
    pass over the corpus (the l3j kernel); the probe table is
    queries x nprobe rows and broadcasts; the search is an equi-join
    on cell — the scan prunes to probed cells instead of the full
    corpus, which is the entire point of IVF. All floating math is
    sequential float64 folds, bit-matching DuckDB's list functions
    (the l3/l3h convention)."""
    from meepo_spark.functions.vectors import dot as vdot
    from meepo_spark.functions.vectors import sq_dist
    from meepo_spark.queries.doc_cache import ivf_assign

    # session-cached inverted file (r10): assignment is the one
    # corpus-sized pass, shared with l14b's dense hybrid branch
    assign = ivf_assign(spark, sf_dir)
    cent = assign.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    q = assign.filter(F.col("vec_id").between(30, 39)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    pw = Window.partitionBy("q_id").orderBy("sqd", "cid")
    probes = (
        q.crossJoin(F.broadcast(cent))  # bcast: fixed (k centroids)
        .select("q_id", "qv", "cid", sq_dist(F.col("qv"), F.col("cv")).alias("sqd"))
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= 2)
        .select("q_id", "qv", F.col("cid").alias("cell"))
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("c_id"))
    return (
        assign.join(F.broadcast(probes), "cell")  # bcast: fixed (q x nprobe)
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            vdot(F.col("qv"), F.col("v")).alias("dot"),
        )
        .withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("q_id", "c_id", F.round("dot", 6).alias("dot_r"), "rank")
        .orderBy("q_id", "rank")
    )

@register(
    "l3l_pq_seeded_topk",
    # PQ with FIXED seed codebooks (VERDICT r2 #5, mirroring l3k's
    # treatment of IVF): each of 8 subspaces takes its 4 codes from
    # the sub-vectors of the 4 lowest-id corpus vectors, so encode
    # (per-subspace argmin), LUT build, ADC scan, and exact re-rank
    # are all SQL-expressible and DuckDB bit-matches every float:
    # squared distances / dots are sequential float64 folds
    # (list_sum of per-dim products = the engine's zip_with fold),
    # and the ADC sum folds LUT entries in subspace order
    # (list_sum(LIST(dp ORDER BY j))). The trained-codebook PQ
    # (l3i) stays rows-only for genuinely k-means-trained books.
    oracle="""
    WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         seeds AS (SELECT vec_id AS c, v AS sv FROM pts WHERE vec_id < 4),
         grid AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
         dists AS (
           SELECT p.vec_id, g.j, s.c,
                  list_sum(list_transform(
                      list_zip(p.v[g.j*8+1 : g.j*8+8],
                               s.sv[g.j*8+1 : g.j*8+8]),
                      x -> (x[1]-x[2])*(x[1]-x[2]))) AS d
           FROM pts p CROSS JOIN grid g CROSS JOIN seeds s),
         codes AS (
           SELECT vec_id, j, c AS code FROM (
             SELECT vec_id, j, c,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                       ORDER BY d, c) AS rn
             FROM dists) WHERE rn = 1),
         q AS (SELECT vec_id AS q_id, v AS qv FROM pts
               WHERE vec_id BETWEEN 40 AND 49),
         lut AS (
           SELECT q.q_id, g.j, s.c,
                  list_dot_product(q.qv[g.j*8+1 : g.j*8+8],
                                   s.sv[g.j*8+1 : g.j*8+8]) AS dp
           FROM q CROSS JOIN grid g CROSS JOIN seeds s),
         adc AS (
           SELECT l.q_id, cd.vec_id AS c_id,
                  list_sum(LIST(l.dp ORDER BY l.j)) AS adc
           FROM codes cd
           JOIN lut l ON l.j = cd.j AND l.c = cd.code
           WHERE cd.vec_id <> l.q_id
           GROUP BY l.q_id, cd.vec_id),
         short AS (
           SELECT q_id, c_id, adc,
                  ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY adc DESC, c_id) AS srank
           FROM adc),
         rer AS (
           SELECT s.q_id, s.c_id, s.adc,
                  list_dot_product(q.qv, p.v) AS dotp
           FROM short s
           JOIN q ON q.q_id = s.q_id
           JOIN pts p ON p.vec_id = s.c_id
           WHERE s.srank <= 20)
    SELECT q_id, c_id, ROUND(adc, 6) AS adc_r, ROUND(dotp, 6) AS dot_r,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY dotp DESC, c_id) AS rank
          FROM rer)
    WHERE rank <= 5
    """,
)
def l3l_pq_seeded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3l: product quantization with seeded codebooks, oracle-checked
    end to end — the PQ MECHANISM (encode -> per-query LUT -> ADC scan
    -> exact re-rank of the ADC top-20) graded bit-for-bit, completing
    the ANN family's oracle coverage (l3k did the same for IVF;
    l3d/l3i remain rows-only solely for their TRAINED codebooks).

    Scale shape (VERDICT r3 #1 two-tier layout; r10 wave 3 kernel —
    see `_pq_seeded_shortlist`): encode→LUT→ADC runs as ONE numpy
    `mapInPandas` pass over the corpus (the FAISS posture; the former
    32-subexpression Catalyst tree paid 1.3–2.6 s of analysis+codegen
    per invocation and carried a same-code 33 s churn outlier), with
    the 4-seed codebook and 10 query LUTs as bounded driver state.
    The kernel emits (q_id, c_id, adc) ONLY — the full vector never
    enters the shuffle/window, so the shortlist rank (a per-query
    WindowGroupLimit top-20) moves scores, not payloads (PQ's
    bandwidth cut); only the ≤20-per-query surviving ids join back
    to `embeddings` (broadcast of the tiny shortlist) to fetch full
    vectors for the exact re-rank. `test_plans.py` asserts the
    shortlist window's input carries no vector column."""
    from meepo_spark.functions.vectors import dot as vdot
    from meepo_spark.operators.trade_graph import bounded_rows

    pts, q, shortlist = _pq_seeded_shortlist(spark, sf_dir)
    # optimization r10: the ADC shortlist is BOUNDED (|q| × 20 rows)
    # but as a broadcast subtree it dragged the whole encode+ADC DAG
    # into the rerank plan's broadcast build and re-planning —
    # measured 3.8 s of the query's 5.3 s isolated wall. Materialize
    # it (and the |q|-row query-vector frame) as LOCAL relations via
    # the audited bounded collect; doubles survive the py4j
    # round-trip bit-exactly, so scores are unchanged.
    shortlist = spark.createDataFrame(
        bounded_rows(shortlist, 500, "l3l ADC shortlist"), shortlist.schema
    )
    # q is already a bounded LOCAL relation (the kernel rewrite
    # collects the 10 query vectors for the LUTs) — no re-collect
    rerank = (
        pts.select(F.col("vec_id").alias("c_id"), "v")
        .join(F.broadcast(shortlist), "c_id")  # bcast: fixed (q x 20 shortlist)
        .join(F.broadcast(q), "q_id")  # bcast: fixed (capped queries)
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("dotp").desc(), F.col("c_id").asc())
    return (
        rerank.select(
            "q_id", "c_id", "adc", vdot(F.col("qv"), F.col("v")).alias("dotp")
        )
        .withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "q_id", "c_id",
            F.round("adc", 6).alias("adc_r"),
            F.round("dotp", 6).alias("dot_r"),
            "rank",
        )
        .orderBy("q_id", "rank")
    )


def _pq_seeded_shortlist(spark: SparkSession, sf_dir: str):
    """Codes-only PQ ADC stage shared by `l3l_pq_seeded_topk` and the
    plan-shape test: returns (pts, q, shortlist) where `shortlist` is
    the per-query ADC top-20 computed WITHOUT carrying any float
    vector column — its schema is exactly (q_id, c_id, adc).

    Shape (optimization r10 wave 3, guide §4.2): the encode→LUT→ADC
    score ran as ONE giant Catalyst projection — 8×4 `least(struct(
    sq_dist(slice…)))` HOF folds for the codes plus a 32-entry LUT
    and an `aggregate` ADC fold, a tree so large that ANALYSIS +
    codegen dominated: forcing the 2 000-row encode alone measured
    1.3–2.6 s and the whole shortlist 3.9–5.6 s isolated-warm, with a
    same-code 33 s outlier in-bench (the codegen-churn class, now with
    a ~10× amplitude). The score is row-local arithmetic, so it now
    runs as one `mapInPandas` numpy kernel over the corpus: the 4
    seed vectors and the 10 query LUTs are SF-independent driver
    state (the k-means-centroid class, `bounded_rows`-audited), and
    the kernel reproduces Spark's folds bit-for-bit — float32→float64
    casts are exact, (x−y)·(x−y) accumulated sequentially over the 8
    sub-dims (explicit k-loop, NOT np.sum's pairwise tree), argmin
    ties to the lowest centroid exactly like `least(struct(d, c))`,
    and the ADC adds LUT entries in subspace order. Per-query ADC
    values and therefore the shortlist are unchanged (oracle-verified
    at 3 SFs); the shortlist window still sees (q_id, c_id, adc) only.
    At 100 TB the kernel is the FAISS posture: one Arrow pass over
    codes-width data, no JVM expression tree re-planned per batch."""
    import numpy as np

    from meepo_spark.operators.trade_graph import bounded_rows

    M, KSUB, SUB = 8, 4, 8
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # bounded driver state: 4 seed + 10 query vectors at ANY scale
    # (fixed id sets by construction), fetched in ONE job
    picked = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in bounded_rows(
            emb.select("vec_id", "embedding").filter(
                (F.col("vec_id") < KSUB) | F.col("vec_id").between(40, 49)
            ),
            KSUB + 16,
            "l3l PQ seeds+queries",
        )
    )
    seed_rows = [(i, v) for i, v in picked if i < KSUB]
    q_rows = [(i, v) for i, v in picked if i >= 40]
    seeds_np = np.array([v for _, v in seed_rows], dtype=np.float64)
    q_ids = [qid for qid, _ in q_rows]
    # LUT[q, j*KSUB + c] = dot(q_sub_j, seed_c_sub_j), sequential fold
    # in float64 — identical association order to functions.vectors.dot
    luts = np.zeros((len(q_rows), M * KSUB), dtype=np.float64)
    for qi, (_, qv) in enumerate(q_rows):
        for j in range(M):
            for c in range(KSUB):
                acc = 0.0
                for k in range(SUB):
                    acc = acc + qv[j * SUB + k] * seeds_np[c, j * SUB + k]
                luts[qi, j * KSUB + c] = acc

    def _adc_score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(
                pdf["embedding"].tolist(), dtype=np.float32
            ).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            codes = np.empty((n, M), dtype=np.int64)
            for j in range(M):
                vs = V[:, j * SUB : (j + 1) * SUB]
                dist = np.empty((n, KSUB), dtype=np.float64)
                for c in range(KSUB):
                    d = vs - seeds_np[c, j * SUB : (j + 1) * SUB]
                    dd = d * d
                    acc = np.zeros(n, dtype=np.float64)
                    for k in range(SUB):
                        acc = acc + dd[:, k]
                    dist[:, c] = acc
                # first-min == least(struct(d, c))'s lowest-c tiebreak
                codes[:, j] = np.argmin(dist, axis=1)
            out_q, out_c, out_adc = [], [], []
            for qi, qid in enumerate(q_ids):
                adc = np.zeros(n, dtype=np.float64)
                for j in range(M):
                    adc = adc + luts[qi, j * KSUB + codes[:, j]]
                keep = ids != qid
                out_q.append(np.full(int(keep.sum()), qid, dtype=np.int64))
                out_c.append(ids[keep])
                out_adc.append(adc[keep])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "c_id": np.concatenate(out_c),
                    "adc": np.concatenate(out_adc),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        _adc_score, "q_id long, c_id long, adc double"
    )
    q = spark.createDataFrame(
        [(qid, qv) for qid, qv in q_rows],
        T.StructType(
            [
                T.StructField("q_id", T.LongType()),
                T.StructField("qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    sw = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("c_id").asc())
    shortlist = (
        scored.withColumn("srank", F.row_number().over(sw))
        .filter(F.col("srank") <= 20)
        .select("q_id", "c_id", "adc")
    )
    return pts, q, shortlist


@register(
    "l27_mmr_diversified_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS (
        SELECT c.vec_id AS c_id, c.v,
               list_cosine_similarity(q.qv, c.v) AS rel
        FROM e c CROSS JOIN q WHERE c.vec_id <> 0
        ORDER BY rel DESC, c_id LIMIT 12
    ),
    sims AS (
        SELECT a.c_id AS a_id, b.c_id AS b_id,
               list_cosine_similarity(a.v, b.v) AS s
        FROM cand a JOIN cand b ON a.c_id <> b.c_id
    ),
    s1 AS (SELECT c_id, 0.7 * rel AS mmr FROM cand
           ORDER BY rel DESC, c_id LIMIT 1),
    p2 AS (SELECT c.c_id, 0.7 * c.rel - 0.3 * MAX(s.s) AS mmr
           FROM cand c JOIN sims s ON s.a_id = c.c_id
                AND s.b_id IN (SELECT c_id FROM s1)
           WHERE c.c_id NOT IN (SELECT c_id FROM s1)
           GROUP BY c.c_id, c.rel ORDER BY mmr DESC, c.c_id LIMIT 1),
    sel2 AS (SELECT c_id FROM s1 UNION ALL SELECT c_id FROM p2),
    p3 AS (SELECT c.c_id, 0.7 * c.rel - 0.3 * MAX(s.s) AS mmr
           FROM cand c JOIN sims s ON s.a_id = c.c_id
                AND s.b_id IN (SELECT c_id FROM sel2)
           WHERE c.c_id NOT IN (SELECT c_id FROM sel2)
           GROUP BY c.c_id, c.rel ORDER BY mmr DESC, c.c_id LIMIT 1),
    sel3 AS (SELECT c_id FROM sel2 UNION ALL SELECT c_id FROM p3),
    p4 AS (SELECT c.c_id, 0.7 * c.rel - 0.3 * MAX(s.s) AS mmr
           FROM cand c JOIN sims s ON s.a_id = c.c_id
                AND s.b_id IN (SELECT c_id FROM sel3)
           WHERE c.c_id NOT IN (SELECT c_id FROM sel3)
           GROUP BY c.c_id, c.rel ORDER BY mmr DESC, c.c_id LIMIT 1),
    sel4 AS (SELECT c_id FROM sel3 UNION ALL SELECT c_id FROM p4),
    p5 AS (SELECT c.c_id, 0.7 * c.rel - 0.3 * MAX(s.s) AS mmr
           FROM cand c JOIN sims s ON s.a_id = c.c_id
                AND s.b_id IN (SELECT c_id FROM sel4)
           WHERE c.c_id NOT IN (SELECT c_id FROM sel4)
           GROUP BY c.c_id, c.rel ORDER BY mmr DESC, c.c_id LIMIT 1)
    SELECT CAST(rank AS BIGINT) AS rank, c_id,
           ROUND(mmr + 1e-9, 6) + 0.0 AS mmr_r
    FROM (
        SELECT 1 AS rank, * FROM s1
        UNION ALL SELECT 2, * FROM p2
        UNION ALL SELECT 3, * FROM p3
        UNION ALL SELECT 4, * FROM p4
        UNION ALL SELECT 5, * FROM p5
    ) ORDER BY rank
    """,
)
def l27_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27: maximal-marginal-relevance diversified top-k — the
    re-ranking step RAG retrieval runs after ANN so the 5 results
    aren't 5 copies of the same passage: greedily pick
    argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), λ=0.7, k=5, over a
    12-candidate relevance shortlist. Greedy selection is inherently
    sequential, but each of the 5 steps is a BOUNDED aggregate over
    the shortlist (the l3g/l3k discipline: fixed iteration counts
    unroll into both the DataFrame DAG and the SQL oracle), so
    nothing driver-side loops over data.

    Scale shape: the only corpus-sized work is the one relevance scan
    (broadcast query vector, TakeOrdered top-12 — exactly l3's
    kernel). The shortlist is a BOUNDED 12-row frame by construction,
    so the greedy tail is exact driver arithmetic over the audited
    `bounded_rows` collect (the trade_graph/l3l discipline) — zero
    further scans, joins, shuffles, or Catalyst expression trees.
    (History: a first cut chained five tiny DataFrames — 16 s of
    planning; r10's form unrolled the greedy into one ~5-step
    projection chain of array HOFs over a 1-row frame, which still
    paid 0.5–1 s of analysis+codegen per invocation, the l4k/l3l
    churn class. The driver solve replicates the float64 arithmetic
    bit-for-bit: sequential dot folds in element order, Math.sqrt and
    IEEE division are correctly rounded in both runtimes, greatest =
    max over finite doubles, and F.round's shortest-repr HALF_UP is
    `round_half_up` — property-tested in tests/test_trade_graph.py.)
    Cosines are sequential DOUBLE folds (bit-match
    list_cosine_similarity), so argmax-with-id-tie picks identical
    ids on both engines."""
    import math

    from meepo_spark.functions.vectors import cosine_with_norms, norm
    from meepo_spark.operators.trade_graph import bounded_rows, round_half_up

    LAM = 0.7
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), norm(F.col("embedding")).alias("qn")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))  # bcast: fixed (capped queries)
        .select(
            F.col("vec_id").alias("c_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            cosine_with_norms(
                F.col("qv"), F.col("embedding"), F.col("qn"),
                norm(F.col("embedding")),
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("c_id").asc())
        .limit(12)
    )
    # (c_id, rel, v): 12 rows at ANY scale — TakeOrderedAndProject
    # merges per-partition top-12s, one parallel job
    shortlist = sorted(
        (int(r["c_id"]), float(r["rel"]), [float(x) for x in r["v"]])
        for r in bounded_rows(cand, 12, "l27 MMR shortlist")
    )

    def _norm(v: list) -> float:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    def _cos(a, b) -> float:
        acc = 0.0
        for x, y in zip(a[2], b[2]):
            acc = acc + x * y
        return acc / (a[3] * b[3])

    cands = [(cid, rel, v, _norm(v)) for cid, rel, v in shortlist]
    chosen: list = []
    out_rows: list[tuple] = []
    for rank in range(1, 6):
        best = None
        for c in cands:
            if any(c[0] == s[0] for s in chosen):
                continue
            if not chosen:
                mmr = LAM * c[1]
            else:
                pen = max(_cos(c, s) for s in chosen)
                mmr = LAM * c[1] - (1 - LAM) * pen
            key = (-mmr, c[0])
            if best is None or key < best[0]:
                best = (key, c)
        chosen.append(best[1])
        out_rows.append(
            (rank, best[1][0], round_half_up(-best[0][0] + 1e-9, 6) + 0.0)
        )
    return spark.createDataFrame(
        out_rows, "rank long, c_id long, mmr_r double"
    ).orderBy("rank")


@register(
    "l29_semantic_dedup",
    oracle="""
    WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id < 1000),
    seeds AS (SELECT vec_id AS c, v AS sv FROM pts WHERE vec_id < 4),
    d AS (SELECT p.vec_id, s.c,
                 list_sum(list_transform(list_zip(p.v, s.sv),
                          x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
          FROM pts p CROSS JOIN seeds s),
    assign AS (SELECT vec_id, c AS cluster FROM
        (SELECT vec_id, c,
                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
         FROM d) WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT a2.vec_id
        FROM assign a1
        JOIN assign a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
        JOIN pts p1 ON p1.vec_id = a1.vec_id
        JOIN pts p2 ON p2.vec_id = a2.vec_id
        WHERE list_cosine_similarity(p1.v, p2.v) >= 0.3
    )
    SELECT a.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(SUM(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM assign a LEFT JOIN dropped dr ON dr.vec_id = a.vec_id
    GROUP BY a.cluster ORDER BY a.cluster
    """,
)
def l29_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L29: SemDeDup-style semantic deduplication — cluster the
    embedding space, then drop every vector with a LOWER-id neighbor
    at cosine ≥ 0.3 WITHIN its cluster (min-id survivor, the l1/l10
    rule lifted to semantic space). Clustering is what makes semantic
    dedup tractable: pairwise comparison happens only inside a
    cluster, so with k chosen ∝ corpus size the per-cluster pair work
    stays bounded — the published SemDeDup recipe. Centroids here are
    SEEDED (4 lowest-id vectors, the l3k/l3l discipline) so
    assignment, pairing, and the census are all DuckDB-bit-matched;
    the trained path swaps in operators/clustering.kmeans. The
    1000-vector probe window keeps fixture cost flat across SFs (the
    l3c convention).

    Scale shape: one assignment scan (4-seed broadcast, argmin as a
    lexicographic struct-least), an equi-join on cluster for pairs
    (never a cross join), distinct-id reduction, one census
    aggregate."""
    from meepo_spark.functions.vectors import cosine_with_norms, norm, sq_dist

    KSUB = 4
    pts = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    seeds = (
        pts.filter(F.col("vec_id") < KSUB)
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("sv"))
    )
    best = F.least(
        *[
            F.struct(
                sq_dist(F.col("v"), F.col("sv")[c]["v"]).alias("d"),
                F.lit(c).alias("c"),
            )
            for c in range(KSUB)
        ]
    )
    assign = pts.crossJoin(F.broadcast(seeds)).select(  # bcast: fixed (seeds)
        "vec_id", "v", norm(F.col("v")).alias("nn"), best["c"].cast("long").alias("cluster")
    )
    a = assign.select(
        "cluster", F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"), F.col("nn").alias("na"),
    )
    b = assign.select(
        "cluster", F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"), F.col("nn").alias("nb"),
    )
    dropped = (
        a.join(b, "cluster")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
            >= 0.3
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("is_dropped").isNull(), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("cluster")
    )


@register(
    "l34_hard_negatives",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e WHERE vec_id < 10)
    SELECT q_id, c_id, neg_label, cos_r, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT q.q_id, c.vec_id AS c_id, c.label AS neg_label,
               ROUND(list_cosine_similarity(q.qv, c.v), 6) AS cos_r,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY list_cosine_similarity(q.qv, c.v) DESC,
                                           c.vec_id ASC) AS rank
        FROM q JOIN e c ON c.label <> q.q_label
    )
    WHERE rank <= 3
    """,
)
def l34_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L34: hard-negative mining for contrastive training — for each
    query vector, the top-3 most-similar vectors with a DIFFERENT
    label: maximally confusable cross-class examples, the negatives
    that actually move a contrastive/embedding loss (random negatives
    are trivially separable). Exactly l3's broadcast-scan kernel plus
    a label-mismatch pair filter; per-query WindowGroupLimit keeps 3.
    At scale the ANN shortlist (l3b/l3k) generates candidates first
    and this exact pass re-ranks the shortlist — same two-tier
    discipline as l3l."""
    from meepo_spark.functions.vectors import cosine_with_norms, norm

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qn"),
        F.col("label").alias("q_label"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        norm(F.col("embedding")).alias("cn"),
        F.col("label").alias("neg_label"),
    )
    rw = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id").asc())
    return (
        c.join(F.broadcast(q), F.col("neg_label") != F.col("q_label"))  # bcast: fixed (capped queries)
        .select(
            "q_id",
            "c_id",
            "neg_label",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "neg_label", F.round("cos", 6).alias("cos_r"), "rank")
        .orderBy("q_id", "rank")
    )


@register(
    "l35_embedding_drift",
    oracle="""
    WITH comp AS (
        SELECT label, vec_id % 2 AS shard, t.i AS pos,
               CAST(SUM(CAST(embedding[t.i + 1] AS DECIMAL(25,10))) AS DOUBLE)
                   / COUNT(*) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings, range(64) t(i)
        GROUP BY label, vec_id % 2, t.i
    ),
    paired AS (
        SELECT a.label, a.pos, a.c AS c0, b.c AS c1,
               a.n AS n0, b.n AS n1
        FROM comp a JOIN comp b
          ON a.label = b.label AND a.pos = b.pos
         AND a.shard = 0 AND b.shard = 1
    ),
    folded AS (
        SELECT label, MAX(n0) AS n_even, MAX(n1) AS n_odd,
               list_sum(LIST(c0 * c1 ORDER BY pos)) AS dot,
               list_sum(LIST(c0 * c0 ORDER BY pos)) AS s0,
               list_sum(LIST(c1 * c1 ORDER BY pos)) AS s1
        FROM paired GROUP BY label
    )
    SELECT label, n_even, n_odd,
           ROUND(dot / (SQRT(s0) * SQRT(s1)) + 1e-9, 6) + 0.0 AS centroid_cos_r
    FROM folded ORDER BY label
    """,
)
def l35_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L35: embedding drift monitor — per label, the cosine between
    the centroids of two deterministic corpus shards (vec_id parity
    stands in for yesterday/today): centroid_cos ≈ 1 means the
    embedding space is stable across batches; a drop is the alarm a
    re-embedding pipeline pages on (model silently updated, encoder
    version skew, corrupted batch).

    Exactness, two layers: centroid components are DECIMAL-exact sums
    over the posexploded values (l3e's discipline — order-independent,
    map-side combinable) divided once in double; the 64-term
    dot/norm folds then run in POSITION order on both engines
    (F.aggregate ≡ list_sum(LIST ... ORDER BY pos)). Shuffle carries
    labels × dims × 2 partial sums — never vectors."""
    emb = table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("shard"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .groupBy("label", "shard", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(25,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    a = comp.filter(F.col("shard") == 0).select(
        "label", "pos", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    b = comp.filter(F.col("shard") == 1).select(
        "label", "pos", F.col("c").alias("c1"), F.col("n").alias("n1")
    )
    paired = a.join(b, ["label", "pos"])

    def fold(expr_name: str):
        return F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col(expr_name).alias("x")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["x"],
        )

    folded = (
        paired.select(
            "label",
            "pos",
            F.col("n0").alias("n_even"),
            F.col("n1").alias("n_odd"),
            (F.col("c0") * F.col("c1")).alias("p_dot"),
            (F.col("c0") * F.col("c0")).alias("p0"),
            (F.col("c1") * F.col("c1")).alias("p1"),
        )
        .groupBy("label")
        .agg(
            F.max("n_even").cast("long").alias("n_even"),
            F.max("n_odd").cast("long").alias("n_odd"),
            fold("p_dot").alias("dot"),
            fold("p0").alias("s0"),
            fold("p1").alias("s1"),
        )
    )
    return folded.select(
        "label",
        "n_even",
        "n_odd",
        (
            F.round(F.col("dot") / (F.sqrt("s0") * F.sqrt("s1")) + 1e-9, 6) + 0.0
        ).alias("centroid_cos_r"),
    ).orderBy("label")


@register(
    "l55_matryoshka_recall",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec
               FROM embeddings),
         full5 AS (
            SELECT q_id, c_id, cos, rank FROM (
                SELECT q_id, c_id,
                       list_cosine_similarity(q_vec, c_vec) AS cos,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY list_cosine_similarity(q_vec, c_vec) DESC,
                                    c_id ASC) AS rank
                FROM q JOIN c ON q_id <> c_id
            ) WHERE rank <= 5
         ),
         tr5 AS (
            SELECT q_id, c_id FROM (
                SELECT q_id, c_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY list_cosine_similarity(q_vec[1:16],
                                                           c_vec[1:16]) DESC,
                                    c_id ASC) AS rank
                FROM q JOIN c ON q_id <> c_id
            ) WHERE rank <= 5
         ),
         hits AS (
            SELECT q_id, COUNT(*) AS h
            FROM full5 JOIN tr5 USING (q_id, c_id)
            GROUP BY q_id
         )
    SELECT f.q_id, f.c_id, ROUND(f.cos, 6) AS cos_r,
           CAST(f.rank AS BIGINT) AS rank,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS trunc_hits
    FROM full5 f LEFT JOIN hits h USING (q_id)
    """,
)
def l55_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: Matryoshka-truncation retrieval evaluation — rank the
    corpus by cosine over only the FIRST 16 of 64 embedding dims (the
    MRL deployment trick: 4x less compute and memory in the ANN tier)
    and measure, per query, how many of the truncated top-5 survive
    in the full-dimension exact top-5. This is the measurement that
    decides the production two-tier layout: truncated-dim ANN
    shortlist (cheap, IVF/LSH-compatible — l3b/l3k) feeding a
    full-dim exact re-rank (l3l's ADC-then-rerank shape); trunc_hits
    is the shortlist recall that sets the rerank depth.

    Unlike l3d's TRAINED quantizer (statistical recall gate), the
    truncation is pure arithmetic, so BOTH rankings are exact SQL and
    the whole evaluation is bit-graded: slices are F.slice(v,1,16) ≡
    DuckDB v[1:16], cosines are the sequential float64 folds that
    bit-match list_cosine_similarity, ties break on c_id. Output rows
    are the full-dim top-5 (deterministic) with the per-query integer
    overlap joined on."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    full5 = cosine_topk(
        q, c, k=5,
        query_id="q_id", query_vec="q_vec", corpus_id="c_id", corpus_vec="c_vec",
        pair_filter=F.col("q_id") != F.col("c_id"),
    )
    tr5 = cosine_topk(
        q.select("q_id", F.slice("q_vec", 1, 16).alias("q_vec")),
        c.select("c_id", F.slice("c_vec", 1, 16).alias("c_vec")),
        k=5,
        query_id="q_id", query_vec="q_vec", corpus_id="c_id", corpus_vec="c_vec",
        pair_filter=F.col("q_id") != F.col("c_id"),
    ).select("q_id", "c_id")
    hits = (
        full5.select("q_id", "c_id")
        .join(tr5, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    return full5.join(F.broadcast(hits), "q_id", "left").select(  # bcast: fixed (q x k hits)
        "q_id",
        "c_id",
        F.round("cos", 6).alias("cos_r"),
        "rank",
        F.coalesce("h", F.lit(0)).alias("trunc_hits"),
    )


# --- l63: Johnson-Lindenstrauss random projection (round 8) -----------

_JL_OUT = 16  # projected dims; scale = 1/sqrt(16) = 1/4 (exact)


def _jl_sign_sql(p: str, j: str) -> str:
    """The md5-parity ±1 entry (operators/similarity.rademacher_planes
    formula as SQL) — entry is +1 when the first hex digit of
    md5('p:j') is even."""
    return (
        f"(CASE WHEN (strpos('0123456789abcdef', substr(md5({p}::VARCHAR"
        f" || ':' || {j}::VARCHAR), 1, 1)) - 1) % 2 = 0"
        " THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
    )


_JL_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 100),
    proj AS (
        SELECT vec_id, v,
               list_transform(range({_JL_OUT}), p ->
                   list_reduce(
                       list_concat([CAST(0 AS DOUBLE)],
                           list_transform(range(64),
                               j -> v[j + 1] * {_jl_sign_sql('p', 'j')})),
                       (a, b) -> a + b) / CAST(4 AS DOUBLE)) AS pv
        FROM e
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               sqrt(list_reduce(list_concat([CAST(0 AS DOUBLE)],
                   list_transform(range(64),
                       j -> (a.v[j+1] - b.v[j+1]) * (a.v[j+1] - b.v[j+1]))),
                   (x, y) -> x + y)) AS d0,
               sqrt(list_reduce(list_concat([CAST(0 AS DOUBLE)],
                   list_transform(range({_JL_OUT}),
                       j -> (a.pv[j+1] - b.pv[j+1]) * (a.pv[j+1] - b.pv[j+1]))),
                   (x, y) -> x + y)) AS d1
        FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    ),
    r AS (SELECT d1 / d0 AS ratio FROM pairs WHERE d0 > 0)
    SELECT CAST(FLOOR(ratio * 20) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MIN(ratio) + 1e-9, 4) + 0.0 AS min_ratio,
           ROUND(MAX(ratio) + 1e-9, 4) + 0.0 AS max_ratio,
           ROUND(AVG(ratio) + 1e-9, 4) + 0.0 AS avg_ratio
    FROM r GROUP BY 1
"""


@register("l63_jl_projection", oracle=_JL_ORACLE)
def l63_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L63: Johnson-Lindenstrauss dimensionality reduction — project
    the 64-dim embeddings onto {_JL_OUT} Rademacher (±1) directions
    scaled by 1/sqrt(k), then CENSUS the pairwise L2 distortion
    (d_projected / d_original) over a 100-vector probe block, bucketed
    at 0.05 width. The operator a 100 TB embedding store runs before
    swapping its ANN index to a cheaper dimensionality: JL theory says
    the ratio concentrates near 1, and this censuses the actual
    distribution instead of trusting the lemma. The ±1 planes are the
    md5-parity family (operators/similarity.rademacher_planes) so the
    DuckDB oracle rebuilds the IDENTICAL matrix from the formula —
    sign-LSH's reproducibility discipline applied to projection; ±1
    products are lossless, folds are sequential on both engines, and
    1/sqrt(16) = 1/4 is an exact power of two, so projected vectors
    are bit-identical cross-engine and the floor-bucket assignment
    cannot straddle.

    Scale shape: the projection is a pure per-row JVM fold fused into
    the scan (plane literals in the plan, no shuffle, no Python) — at
    100 TB it is a map-only pass that cuts downstream ANN cost 4x;
    the distortion census is probe-blocked (100 vectors, 4950 pairs)
    exactly like l3c, so its cost is constant at any corpus size."""
    from meepo_spark.operators.similarity import rademacher_planes

    planes = rademacher_planes(DIM, _JL_OUT)
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.col("embedding").cast("array<double>")

    def dot_plane(p: list[float]):
        return F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in p]), lambda x, s: x * s),
            F.lit(0.0),
            lambda a, b: a + b,
        ) / F.lit(4.0)

    proj = e.select(
        "vec_id",
        v.alias("v"),
        F.array(*[dot_plane(p) for p in planes]).alias("pv"),
    )

    a = proj.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("pv").alias("pa")
    )
    b = proj.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("pv").alias("pb")
    )

    def l2(x, y):
        return F.sqrt(
            F.aggregate(
                F.zip_with(x, y, lambda u, w: (u - w) * (u - w)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        l2(F.col("va"), F.col("vb")).alias("d0"),
        l2(F.col("pa"), F.col("pb")).alias("d1"),
    )
    r = pairs.filter(F.col("d0") > 0).select((F.col("d1") / F.col("d0")).alias("ratio"))
    return r.groupBy(
        F.floor(F.col("ratio") * 20).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.round(F.min("ratio") + 1e-9, 4) + 0.0).alias("min_ratio"),
        (F.round(F.max("ratio") + 1e-9, 4) + 0.0).alias("max_ratio"),
        (F.round(F.avg("ratio") + 1e-9, 4) + 0.0).alias("avg_ratio"),
    )


# --- l64: int8 scalar quantization census (round 8) -------------------

_SQ_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (
        SELECT vec_id, t.j AS dim, v[t.j + 1] AS x
        FROM e, range(64) t(j)
    ),
    stats AS (
        SELECT dim, MIN(x) AS lo, MAX(x) AS hi,
               (MAX(x) - MIN(x)) / CAST(255 AS DOUBLE) AS scale
        FROM x GROUP BY dim HAVING MAX(x) > MIN(x)
    ),
    q AS (
        SELECT x.dim, x.x, s.lo, s.scale,
               FLOOR((x.x - s.lo) / s.scale + CAST(0.5 AS DOUBLE)) AS code
        FROM x JOIN stats s USING (dim)
    ),
    err AS (
        SELECT dim, lo, scale, code,
               abs((lo + code * scale) - x) AS e
        FROM q
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes,
           ROUND(sqrt(AVG(e * e)) + 1e-9, 6) + 0.0 AS rmse,
           ROUND(MAX(e) + 1e-9, 6) + 0.0 AS max_err,
           ROUND(MAX(e) / scale + 1e-9, 4) + 0.0 AS max_err_scales
    FROM err GROUP BY dim, scale
"""


@register("l64_int8_quantization", oracle=_SQ_ORACLE)
def l64_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L64: scalar int8 quantization of the embedding store — per-dim
    affine codes (lo + code*(hi-lo)/255, code in 0..255) and the
    reconstruction-error census that decides whether 4x compression is
    safe: per dimension, RMSE and max abs error plus code-space
    utilization (n_codes). The third member of the compression family
    (PQ l3i codes subspaces jointly, Matryoshka l55 truncates dims;
    this is the per-dim affine baseline every vector store ships —
    FAISS SQ8 / Milvus SQ).

    Cross-engine: quantization rounds via FLOOR(t + 0.5) — written
    identically on both engines, unlike ROUND whose half-way rule is
    engine-defined; (x-lo)/scale is an identical double chain, so
    codes are integer-exact and only the error AGGREGATES carry float
    rounding (6dp). Constant dimensions (hi == lo) are excluded on
    both sides rather than dividing by zero. max_err_scales pins the
    theory check: affine rounding error can never exceed half a scale
    step (the census value is <= 0.5 by construction — a wrong
    rounding rule on either engine would break the hash, not just the
    bound).

    Scale shape: one posexplode + per-dim partial-aggregated min/max
    (64-row output at ANY corpus size), broadcast back, one more
    map-side-combined error aggregate — two map-only passes over the
    store, shuffles bounded by 64 rows. At 100 TB this is the cheap
    full-scan pair every quantizer training job runs."""
    e = table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    stats = (
        x.groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "dim",
            "lo",
            ((F.col("hi") - F.col("lo")) / F.lit(255.0)).alias("scale"),
        )
    )
    q = x.join(F.broadcast(stats), "dim").select(  # bcast: fixed (64 rows)
        "dim",
        "lo",
        "scale",
        F.floor((F.col("x") - F.col("lo")) / F.col("scale") + F.lit(0.5)).alias(
            "code"
        ),
        "x",
    )
    err = q.select(
        "dim",
        "scale",
        "code",
        F.abs((F.col("lo") + F.col("code") * F.col("scale")) - F.col("x")).alias(
            "e"
        ),
    )
    return err.groupBy(F.col("dim").cast("long").alias("dim"), "scale").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.count_distinct("code").alias("n_codes"),
        (F.round(F.sqrt(F.avg(F.col("e") * F.col("e"))) + 1e-9, 6) + 0.0).alias(
            "rmse"
        ),
        (F.round(F.max("e") + 1e-9, 6) + 0.0).alias("max_err"),
        (F.round(F.max("e") / F.first("scale") + 1e-9, 4) + 0.0).alias(
            "max_err_scales"
        ),
    ).drop("scale")


# --- l67: sparse TF-IDF cosine top-k via inverted index (round 8) ------

_SPARSE_ORACLE = """
    WITH t AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t WHERE term <> '' GROUP BY 1, 2
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    w AS (
        SELECT tf.doc_id, tf.term,
               CAST(FLOOR(CAST(tf.tf AS DOUBLE)
                          * LN(CAST(nn.n AS DOUBLE) / df.df)
                          * CAST(1000 AS DOUBLE)
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS w
        FROM tf JOIN df USING (term) CROSS JOIN nn
    ),
    nrm AS (
        SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nr
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS q_id, b.doc_id AS c_id,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
        WHERE a.doc_id < 10
        GROUP BY 1, 2
    ),
    cos AS (
        SELECT d.q_id, d.c_id,
               CAST(d.dot AS DOUBLE) / (qa.nr * qb.nr) AS c
        FROM dots d
        JOIN nrm qa ON d.q_id = qa.doc_id
        JOIN nrm qb ON d.c_id = qb.doc_id
    )
    SELECT q_id, c_id, ROUND(c + 1e-9, 6) + 0.0 AS cos_r,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT q_id, c_id, c,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY c DESC, c_id ASC) AS rank
        FROM cos
    ) WHERE rank <= 5
"""


@register("l67_sparse_cosine_topk", oracle=_SPARSE_ORACLE)
def l67_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L67: SPARSE document similarity — TF-IDF cosine top-5 via the
    inverted index, the lexical complement to the dense-embedding
    family (l3*): dot products come from a posting-list EQUI-JOIN on
    the term (only term-sharing pairs ever meet — the BM25/sparse-
    retrieval scale shape; no all-pairs stage, no vector scan), which
    is how doc-to-doc similarity actually runs over 100 TB of text
    when there are no embeddings.

    Cross-engine exactness: TF-IDF weights are QUANTIZED to integer
    milliunits — floor(tf*ln(N/df)*1000 + 0.5) — so every dot product
    is an exact integer SUM (summation-order-free, unlike a float dot
    accumulated across shuffle partitions) and the cosine is one
    double division chain; ranking ties break on c_id. The lone float
    input (ln) differs by at most an ulp between libms, which flips a
    quantized weight only within 1e-12 of a rounding boundary.

    Scale shape: tf/df/norm are map-side-combined aggregates; the
    posting join is keyed on the term with the 10-doc query side
    filtered BEFORE the join; top-5 per query is a ranked window the
    planner runs as WindowGroupLimit."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nn = tf.agg(F.count_distinct("doc_id").alias("n"))
    w = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(nn))  # bcast: fixed (1-row corpus size)
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf").cast("double")
                * F.log(F.col("n").cast("double") / F.col("df"))
                * F.lit(1000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w"),
        )
        # optimization r11: w feeds the norms agg, the query side, and
        # the candidate side of the posting join — the before-plan
        # re-ran the tokenize+tf+df chain 24 times (155 nodes).
        # Materialize the index once: a TF-IDF posting file IS a
        # written artifact in production (the l68c discipline).
        .localCheckpoint()
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nr")
    ).localCheckpoint()  # doc-grain, read by both norm joins
    qa = w.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("q_id"), "term", F.col("w").alias("wq")
    )
    dots = (
        qa.join(
            w.select(F.col("doc_id").alias("c_id"), "term", F.col("w").alias("wc")),
            "term",
        )
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("wq") * F.col("wc")).cast("long").alias("dot"))
    )
    qn = nrm.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("q_id"), F.col("nr").alias("nq")
    )
    cos = (
        dots.join(
            F.broadcast(qn),  # bcast: fixed (10 query norms)
            "q_id",
        )
        .join(
            nrm.select(F.col("doc_id").alias("c_id"), F.col("nr").alias("nc")),
            "c_id",
        )
        .select(
            "q_id",
            "c_id",
            (F.col("dot").cast("double") / (F.col("nq") * F.col("nc"))).alias("c"),
        )
    )
    win = Window.partitionBy("q_id").orderBy(F.col("c").desc(), F.col("c_id").asc())
    return (
        cos.select("q_id", "c_id", "c", F.row_number().over(win).alias("rank"))
        .filter(F.col("rank") <= 5)
        .select(
            "q_id",
            "c_id",
            (F.round(F.col("c") + 1e-9, 6) + 0.0).alias("cos_r"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# --- l68: general sparse retrieval (df-capped postings) — round 9 ------

# Shared DuckDB CTE chain: unigram+trigram terms over the
# empties-filtered token array, integer df cut (2*df <= N keeps), and
# milliunit-quantized TF-IDF postings. Kept in ONE string so the three
# l68 oracles can never drift from each other.
_SPARSE_IDX_CTES = """
    toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS ts
        FROM documents
    ),
    terms AS (
        SELECT doc_id,
               unnest(ts || list_transform(
                   range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS term
        FROM toks
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms GROUP BY 1, 2
    ),
    dfp AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    w AS (
        SELECT tf.doc_id, tf.term,
               CAST(FLOOR(CAST(tf.tf AS DOUBLE)
                          * LN(CAST(nn.n AS DOUBLE) / dfp.df)
                          * CAST(1000 AS DOUBLE)
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS w
        FROM tf JOIN dfp USING (term) CROSS JOIN nn
        WHERE dfp.df * 2 <= nn.n
    )
"""

_SPARSE_TOPK_TAIL = """
    nrm AS (
        SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nr
        FROM {W} GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS q_id, b.doc_id AS c_id,
               CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        FROM {W} a JOIN {W} b
          ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    cos AS (
        SELECT d.q_id, d.c_id,
               CAST(d.dot AS DOUBLE) / (qa.nr * qb.nr) AS c
        FROM dots d
        JOIN nrm qa ON d.q_id = qa.doc_id
        JOIN nrm qb ON d.c_id = qb.doc_id
    )
    SELECT q_id, c_id, ROUND(c + 1e-9, 6) + 0.0 AS cos_r,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT q_id, c_id, c,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY c DESC, c_id ASC) AS rank
        FROM cos
    ) WHERE rank <= 3
"""

_L68_ORACLE = (
    "WITH " + _SPARSE_IDX_CTES + ", " + _SPARSE_TOPK_TAIL.format(W="w")
)


@register("l68_sparse_retrieval_topk", oracle=_L68_ORACLE)
def l68_sparse_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68: the l67 one-off promoted to a GENERAL sparse-retrieval
    operator (VERDICT r8 #1) — query = corpus (every doc retrieves its
    cosine top-3), over df-capped unigram+trigram TF-IDF postings
    (operators/sparse.py). The fractional df cut is what makes
    all-docs retrieval runnable: the documents fixture's 30
    stopword-hot unigrams (df ~ 80% N) carry >99% of SUM(df^2) pair
    volume for near-zero IDF weight, and 2*df <= N removes exactly
    them on both engines via an integer compare. Every kept weight is
    then >= floor(ln(2)*1000+0.5) > 0, so no zero-norm docs exist by
    construction.

    Cross-engine exactness: integer-quantized weights make every dot
    an exact BIGINT (shuffle-order-immune); norms and cosines are
    single double chains; ranking ties break on c_id (the l67
    discipline, now over the full corpus).

    Scale shape: candidates come only from the posting equi-join on
    the term (no all-pairs stage); per-query top-3 is a rank-limited
    window the planner runs as a Partial+Final WindowGroupLimit pair
    (block top-k before the shuffle — asserted in tests/test_plans
    .py); the posting file is built once per session (doc_cache
    .sparse_postings) and reused by the query side, candidate side,
    norms, and l68c's pruned index."""
    from meepo_spark.operators.sparse import sparse_cosine_topk
    from meepo_spark.queries.doc_cache import sparse_postings

    w = sparse_postings(spark, sf_dir)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nr")
    )
    top = sparse_cosine_topk(w, norms, k=3)
    return top.select(
        "q_id",
        "c_id",
        (F.round(F.col("cos") + 1e-9, 6) + 0.0).alias("cos_r"),
        F.col("rank").cast("long").alias("rank"),
    )


_L68B_ORACLE = (
    "WITH "
    + _SPARSE_IDX_CTES
    + """
    SELECT CAST(len(string_split(term, ' ')) AS BIGINT) AS ngram_n,
           (df * 2 <= nn.n) AS kept,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(df * df) AS BIGINT) AS pair_volume,
           CAST(MAX(df) AS BIGINT) AS max_df
    FROM dfp CROSS JOIN nn
    GROUP BY 1, 2
"""
)


@register("l68b_df_cut_census", oracle=_L68B_ORACLE)
def l68b_df_cut_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68b: the df-cut census that JUSTIFIES l68's stop-term
    discipline as data, not prose — per (ngram class, kept/cut):
    vocabulary size, posting volume SUM(df) and candidate-pair volume
    SUM(df^2), i.e. exactly the work the posting join would do with
    and without the cut. On the documents fixture the cut unigram row
    dwarfs everything (30 terms, >99% of pair volume at near-zero
    IDF) while every trigram survives — the hot-stopword shape a real
    corpus shows at any scale.

    Scale shape: tokenize + two map-side-combined aggregates; output
    bounded by |ngram classes| x 2 rows at any corpus size."""
    from meepo_spark.operators.sparse import df_capped_tfidf
    from meepo_spark.queries.doc_cache import sparse_tf

    idx = df_capped_tfidf(tf=sparse_tf(spark, sf_dir))
    return (
        idx["df"]
        .groupBy(
            F.size(F.split(F.col("term"), " ")).cast("long").alias("ngram_n"),
            "kept",
        )
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum(F.col("df") * F.col("df")).cast("long").alias("pair_volume"),
            F.max("df").cast("long").alias("max_df"),
        )
    )


_L68C_ORACLE = (
    "WITH "
    + _SPARSE_IDX_CTES
    + """,
    wp AS (
        SELECT doc_id, term, w FROM (
            SELECT doc_id, term, w,
                   ROW_NUMBER() OVER (PARTITION BY term
                                      ORDER BY w DESC, doc_id ASC) AS pr
            FROM w
        ) WHERE pr <= 20
    ),
"""
    + _SPARSE_TOPK_TAIL.format(W="wp")
)


@register("l68c_pruned_postings_topk", oracle=_L68C_ORACLE)
def l68c_pruned_postings_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68c: static index pruning (Carmel-style) on top of the df cut
    — each kept term's posting list truncated to its 20 highest
    weights (ties on doc_id, so the pruned index is a deterministic,
    oracle-replayable function of the corpus), then the same all-docs
    top-3. This is the LINEAR-scale mode: candidate pairs per term
    <= R^2 regardless of df, so pair volume <= |vocab| * R^2 even
    when a fixed hot vocabulary makes the exact l68 join grow
    quadratically (tools/scale_probe.py sparse measures both modes under
    hot-term replication; norms are recomputed over the PRUNED
    vectors, so the pruned index defines its own exact metric rather
    than approximating l68's). The truncation window partitions on
    the term (vocab cardinality) and is rank-limited — a
    Partial+Final WindowGroupLimit pair, never a full posting sort.

    The cap bites at every SF (the 'dup' unigram: df 25 at sf0.01,
    250 at sf0.1), so this query's result provably differs from
    l68's and the pruning path itself is what the hash grades."""
    from meepo_spark.operators.sparse import sparse_cosine_topk
    from pyspark.sql import Window as W_

    from meepo_spark.queries.doc_cache import sparse_postings

    w = sparse_postings(spark, sf_dir)
    pw = W_.partitionBy("term").orderBy(F.col("w").desc(), F.col("doc_id").asc())
    wp = (
        w.select("doc_id", "term", "w", F.row_number().over(pw).alias("pr"))
        .filter(F.col("pr") <= 20)
        .drop("pr")
        # optimization r10: the pruned index feeds the norms agg AND
        # both sides of the posting join — materialize the truncation
        # window once instead of once per consumer (production shape:
        # a pruned index is a written artifact)
        .localCheckpoint()
    )
    norms = wp.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nr")
    ).localCheckpoint()  # doc-grain; also keeps the size-gate probe
    # (maybe_broadcast inside sparse_cosine_topk) a cheap RDD read —
    # a checkpoint-derived plan hashes fresh per invocation, so the
    # probe memo cannot hit and would otherwise re-run the norms agg
    top = sparse_cosine_topk(wp, norms, k=3)
    return top.select(
        "q_id",
        "c_id",
        (F.round(F.col("cos") + 1e-9, 6) + 0.0).alias("cos_r"),
        F.col("rank").cast("long").alias("rank"),
    )


# --- l68d: multi-query BM25 retrieval over the shared index (r10) -------

from meepo_spark.queries._bm25_sql import BM25_IDX_CTES as _BM25_CTES

# (qid, terms): three query shapes — topical (q1), broad (q2), and one
# leaning on the single selective term in the fixture's vocabulary
# ('dup', df 25 vs ~380 for everything else), so idf actually ranks
_L68D_QUERIES = [
    (1, "query"), (1, "join"), (1, "vector"),
    (2, "stream"), (2, "data"), (2, "merge"),
    (3, "dup"), (3, "hash"),
]

_L68D_ORACLE = (
    "WITH "
    + _BM25_CTES
    + """,
    qt(qid, term) AS (VALUES """
    + ", ".join(f"({q}, '{t}')" for q, t in _L68D_QUERIES)
    + """),
    scored AS (
        SELECT CAST(qt.qid AS BIGINT) AS qid, w.doc_id,
               CAST(SUM(w.w) AS BIGINT) AS score_mu,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM w JOIN qt USING (term)
        GROUP BY 1, 2
    )
    SELECT qid, doc_id, score_mu, n_terms_hit, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT qid, doc_id, score_mu, n_terms_hit,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score_mu DESC, doc_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 10
"""
)


@register("l68d_bm25_multiquery_topk", oracle=_L68D_ORACLE)
def l68d_bm25_multiquery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68d: batched BM25 retrieval — a 3-query batch joined against
    the session-cached BM25 posting index (doc_cache.bm25_index, the
    same frame l4n and l14b's lexical branch read — VERDICT r9 #4's
    'one index, every scorer' shape), scored as exact BIGINT milliunit
    sums, per-query top-10.

    Scale shape: the query batch is a literal broadcast, so candidate
    work is O(postings of the queried terms) — never corpus-sized; the
    per-query top-k is a rank-limited window on qid that the planner
    runs as a Partial+Final WindowGroupLimit pair (block top-k before
    the shuffle — plan-asserted in tests/test_plans.py). At 100 TB
    with a million-query batch the same DAG holds: queries shuffle on
    term against the posting file instead of broadcasting, and the
    WindowGroupLimit bound keeps the top-k merge at k rows per
    query."""
    from meepo_spark.queries.doc_cache import bm25_index

    qterms = spark.createDataFrame(_L68D_QUERIES, schema="qid LONG, term STRING")
    w = bm25_index(spark, sf_dir)
    scored = (
        w.join(F.broadcast(qterms), "term")  # bcast: fixed (8-row query batch)
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("w").cast("long").alias("score_mu"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("score_mu").desc(), F.col("doc_id").asc()
    )
    return (
        scored.select(
            "qid",
            "doc_id",
            "score_mu",
            "n_terms_hit",
            F.row_number().over(win).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 10)
    )
