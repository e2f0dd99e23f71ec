"""Similarity search over the `embeddings` table (vec_id, embedding
FLOAT[64], label): brute-force cosine top-k, sign-bucketed ANN, and
per-label norm stats.

Oracle parity: Spark's left-to-right `aggregate` fold over
`zip_with(a, b, double-mul)` is bit-identical to DuckDB's
`list_dot_product` over `DOUBLE[]`, and sqrt/division are IEEE-exact in
both — so cosine scores match to the last bit and only the final ROUND(6)
guards display formatting. Ranking ties are broken on (rounded score,
neighbor id) in both engines.

Scale notes (100 TB):
- Brute-force top-k broadcasts the PROBE side (a handful of query
  vectors) and streams the corpus once — a map-only plan plus one small
  top-k-per-query aggregate; this is the right plan for few queries.
- The bucketed variant (`sign_bucket`) is the many-queries path: the
  self-join is keyed on a small int bucket, so candidate volume is
  sum over buckets of |bucket|^2, tunable by bit count — never corpus^2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import vectors as V
from myserver_datawarehouse_spark.sources.tables import load_table

N_PROBES = 8
TOP_K = 5
BUCKET_BITS = 4
BUCKET_TOP_K = 3

# DuckDB fragments ---------------------------------------------------------

_COS_SQL = """
  CASE WHEN sqrt(list_dot_product(q, q)) > 0
        AND sqrt(list_dot_product(v, v)) > 0
       THEN list_dot_product(q, v)
            / (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(v, v)))
  END
"""

_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(BUCKET_BITS)
)


def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOP_K} for {N_PROBES} probe vectors.

    The probe side is explicitly broadcast: the corpus scan is map-only
    (no shuffle of the big side), and the only shuffle is the per-query
    top-k window over N_PROBES x corpus candidate rows, partitioned by
    query_id.
    """
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    scored = (
        e.join(F.broadcast(probes), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(V.cosine("q", "embedding"), 6).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "cosine")
        .orderBy("query_id", F.col("cosine").desc(), "vec_id")
    )


EMBEDDING_TOPK_BRUTEFORCE_SQL = f"""
WITH p AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id < {N_PROBES}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT query_id, vec_id, ROUND({_COS_SQL}, 6) AS cosine
  FROM p CROSS JOIN e
  WHERE vec_id != query_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id
  ) AS rn
  FROM s WHERE cosine IS NOT NULL
)
SELECT query_id, vec_id, cosine FROM r
WHERE rn <= {TOP_K}
ORDER BY query_id, cosine DESC, vec_id
"""


def embedding_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOP_K}, physically executed as one numpy
    gemm per Arrow batch (operators/vectors.gemm_probe_scores) instead of
    the per-pair JVM fold — same semantics and oracle as
    `embedding_topk_bruteforce`, ~2x faster at sf0.1 and orders faster
    when probe count or dimension grows (BLAS vs interpreted fold).

    Plan shape is unchanged: map-only corpus pass with the probe matrix on
    the broadcast side, then the small per-query top-k window. Scores are
    rounded to 6 dp where the blocked BLAS accumulation and the
    left-to-right fold agree (verified against the shared DuckDB oracle at
    sf0.01 and sf0.1)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes_pdf = (
        e.filter(F.col("vec_id") < N_PROBES)
        .select("vec_id", "embedding")
        .toPandas()
    )
    scored = V.gemm_probe_scores(e, probes_pdf)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "cosine")
        .orderBy("query_id", F.col("cosine").desc(), "vec_id")
    )


EMBEDDING_TOPK_GEMM_SQL = EMBEDDING_TOPK_BRUTEFORCE_SQL


def embedding_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-local ANN: top-{BUCKET_TOP_K} cosine neighbors for EVERY
    vector, searched only within its {BUCKET_BITS}-bit sign bucket.

    This is the IVF-shaped scale path: the self-join shuffles both sides
    once on the bucket id, each bucket's candidates fit a task, and
    recall is traded against cost by the bit count (probing adjacent
    buckets would raise recall; kept single-probe here to stay
    oracle-exact).
    """
    # Norms are computed ONCE per vector before the self-join — inside the
    # join each candidate pair costs one dot product, not three (measured
    # ~2.5x on the bucket join at sf0.1). Identical arithmetic, so the
    # per-pair oracle still matches bit-for-bit.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
        V.norm2("embedding").alias("nrm"),
    )
    a = e.select(
        F.col("vec_id"),
        F.col("embedding").alias("q"),
        F.col("bucket"),
        F.col("nrm").alias("na"),
    )
    return _bucket_topk(a, e, "bucket")


def _bucket_topk(a: DataFrame, e: DataFrame, *extra: str) -> DataFrame:
    """Top-{BUCKET_TOP_K} cosine neighbors per query over a sign-bucket
    join: `a` is the query side (vec_id, q, na, bucket — a probed bucket
    for multiprobe), `e` the corpus (vec_id, embedding, bucket, nrm).
    Returns (vec_id, neighbor_id, *extra, cosine) ordered by query,
    cosine desc, neighbor id; `extra` carries query-side columns."""
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v"),
        F.col("bucket"),
        F.col("nrm").alias("nb"),
    )
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        V.dot("q", "v") / (F.col("na") * F.col("nb")),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", *extra, F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BUCKET_TOP_K)
        .select("vec_id", "neighbor_id", *extra, "cosine")
        .orderBy("vec_id", F.col("cosine").desc(), "neighbor_id")
    )


EMBEDDING_ANN_BUCKETED_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
),
s AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id, a.bucket,
         ROUND(CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) > 0
                     AND sqrt(list_dot_product(b.vec, b.vec)) > 0
                    THEN list_dot_product(a.vec, b.vec)
                         / (sqrt(list_dot_product(a.vec, a.vec))
                            * sqrt(list_dot_product(b.vec, b.vec)))
               END, 6) AS cosine
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
  ) AS rn
  FROM s WHERE cosine IS NOT NULL
)
SELECT vec_id, neighbor_id, bucket, cosine FROM r
WHERE rn <= {BUCKET_TOP_K}
ORDER BY vec_id, cosine DESC, neighbor_id
"""


def embedding_ann_bucketed_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-local ANN, BLAS tier: identical semantics and oracle as
    `embedding_ann_bucketed`, but each bucket's |bucket|^2 dot products
    run as one numpy gemm in an applyInPandas kernel
    (operators/vectors.gemm_bucket_topk) instead of a self-join + fold —
    ~4x at sf0.1, wider as buckets grow. One shuffle (hash by bucket id),
    no pair rows outside the kernel."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
    )
    scored = V.gemm_bucket_topk(e, BUCKET_TOP_K)
    return scored.select("vec_id", "neighbor_id", "bucket", "cosine").orderBy(
        "vec_id", F.col("cosine").desc(), "neighbor_id"
    )


EMBEDDING_ANN_BUCKETED_GEMM_SQL = EMBEDDING_ANN_BUCKETED_SQL


def embedding_norm_stats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus profile: vector count, norm extrema, bucket
    spread. MIN/MAX/COUNT only — order-independent under any partitioning
    (the engine's float-determinism policy; see plans/relational.py).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        V.norm2("embedding").alias("nrm"),
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
    )
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.countDistinct("bucket").alias("n_buckets"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_STATS_BY_LABEL_SQL = f"""
WITH e AS (
  SELECT label,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm,
       COUNT(DISTINCT bucket) AS n_buckets
FROM e
GROUP BY 1
ORDER BY label
"""


NEAR_DUP_TAU = 0.35
IVF_CENTS = 48  # FIXED centroid budget: cells grow in SIZE with the
                # corpus, never in COUNT, so assignment is O(N x K).
                # A 5x/10x scale probe showed a
                # %-mod rule (centroid count ~ N/37) going quadratic —
                # ratio@10x 12.9 for the IVF scan alone, 36.8 composed
                # with PQ. A deployment picks k at index build (often
                # ~sqrt(N), trained on a sample); a fixture must not
                # secretly scale k with the corpus.
IVF_NPROBE = 2
IVF_TOP_K = 3


def near_dup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (i < j) with cosine >= tau,
    candidates restricted to the same sign bucket (the LSH property: a
    high-cosine pair almost surely agrees on leading signs, so the bucket
    join prunes the pair space from corpus^2 to sum(|bucket|^2) while
    keeping the dup recall of the threshold).

    This is the embedding leg of the dedup family (exact sha2 / MinHash /
    SimHash / n-gram Jaccard live in plans/llm_text.py): at 100 TB the
    bucket id is the shuffle key, each bucket's pair loop is task-local,
    and tau gates the expensive pair emission."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
        V.norm2("embedding").alias("nrm"),
    )
    a = e.select("bucket", F.col("vec_id"), F.col("embedding").alias("q"),
                 F.col("nrm").alias("na"))
    b = e.select("bucket", F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("v"), F.col("nrm").alias("nb"))
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        V.dot("q", "v") / (F.col("na") * F.col("nb")),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_id") < F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_TAU)
        .orderBy("vec_id", "neighbor_id")
    )


NEAR_DUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
)
SELECT a.vec_id, b.vec_id AS neighbor_id,
       ROUND(list_dot_product(a.vec, b.vec)
             / (sqrt(list_dot_product(a.vec, a.vec))
                * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE sqrt(list_dot_product(a.vec, a.vec)) > 0
  AND sqrt(list_dot_product(b.vec, b.vec)) > 0
  AND ROUND(list_dot_product(a.vec, b.vec)
            / (sqrt(list_dot_product(a.vec, a.vec))
               * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {NEAR_DUP_TAU}
ORDER BY a.vec_id, b.vec_id
"""


def near_dup_embedding_cosine_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, BLAS tier: same bucket pruning, threshold
    and oracle as `near_dup_embedding_cosine`, with each bucket's upper-
    triangle pair scores computed by one gemm (operators/vectors.
    gemm_bucket_pairs); tau gates emission inside the kernel so pair rows
    above threshold are the only kernel output."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
    )
    return (
        V.gemm_bucket_pairs(e, NEAR_DUP_TAU)
        .select("vec_id", "neighbor_id", "cosine")
        .orderBy("vec_id", "neighbor_id")
    )


NEAR_DUP_EMBEDDING_COSINE_GEMM_SQL = NEAR_DUP_EMBEDDING_COSINE_SQL


def _ivf_centroids(e: DataFrame, keep: Column) -> DataFrame:
    """The fixed IVF quantizer: the (vec_id, embedding, nrm) rows that
    `keep` selects, as centroids (cid, c, nc)."""
    return e.filter(keep).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c"),
        F.col("nrm").alias("nc"),
    )


def _ivf_ranker(e: DataFrame, dp: int | None = None):
    """The broadcast IVF assignment of the vectors `e` (vec_id,
    embedding, nrm): returns `ranked(cent, *cols)`, every (vector,
    centroid) pair of a centroid table with the kept columns `cols` of
    `e`, the cosine `cent_cos` (rounded to `dp` places when given; NULL
    for a zero vector) and its rank `rn` among the vector's centroids
    (cosine desc, NULLs last, cid tie-break): rn 1 is the vector's
    cell, rn <= nprobe its probe list. One cosine expression serves
    every centroid table ranked."""
    cos = F.when(
        (F.col("nrm") > 0) & (F.col("nc") > 0),
        V.dot("embedding", "c") / (F.col("nrm") * F.col("nc")),
    )
    if dp is not None:
        cos = F.round(cos, dp)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cent_cos").desc_nulls_last(), F.col("cid")
    )

    def ranked(cent: DataFrame, *cols) -> DataFrame:
        return (
            e.join(F.broadcast(cent))
            .select(*cols, "cid", cos.alias("cent_cos"))
            .withColumn("rn", F.row_number().over(w))
        )

    return ranked


def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic coarse quantizer ({IVF_CENTS} fixed
    centroids — cells grow in size with the corpus, never in count),
    each corpus vector assigned to its max-cosine cell, probes search
    the {IVF_NPROBE} nearest cells only.

    The scale anatomy mirrors a real IVF index: centroid table is tiny and
    BROADCAST (assignment is a map-only pass over the corpus — no
    shuffle); the inverted lists are the corpus hash-partitioned by
    cell_id; a probe touches nprobe cells, so query cost is
    nprobe * avg-cell-size instead of corpus. A trained k-means quantizer
    would only change the centroid table, not this plan."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", V.norm2("embedding").alias("nrm")
    )
    cent = _ivf_centroids(e, F.col("vec_id") < IVF_CENTS)
    asn = _ivf_ranker(e)(cent, "vec_id", "embedding", "nrm")
    cells = asn.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "nrm", F.col("cid").alias("cell")
    )
    probe_cells = (
        asn.filter((F.col("vec_id") < N_PROBES) & (F.col("rn") <= IVF_NPROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q"),
            F.col("nrm").alias("nq"),
            F.col("cid").alias("cell"),
        )
    )
    cos = F.when(
        (F.col("nq") > 0) & (F.col("nrm") > 0),
        V.dot("q", "embedding") / (F.col("nq") * F.col("nrm")),
    )
    scored = (
        cells.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "cell", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOP_K)
        .select("query_id", "vec_id", "cell", "cosine")
        .orderBy("query_id", F.col("cosine").desc(), "vec_id")
    )


EMBEDDING_ANN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, vec AS c, nrm AS nc FROM e
  WHERE vec_id < {IVF_CENTS}
),
asn AS (
  SELECT e.vec_id, e.vec, e.nrm, cent.cid,
         CASE WHEN e.nrm > 0 AND cent.nc > 0
              THEN list_dot_product(e.vec, cent.c) / (e.nrm * cent.nc) END
           AS cent_cos,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY (CASE WHEN e.nrm > 0 AND cent.nc > 0
                          THEN list_dot_product(e.vec, cent.c)
                               / (e.nrm * cent.nc) END) DESC NULLS LAST,
                    cent.cid
         ) AS rn
  FROM e CROSS JOIN cent
),
cells AS (
  SELECT vec_id, vec, nrm, cid AS cell FROM asn WHERE rn = 1
),
probe_cells AS (
  SELECT vec_id AS query_id, vec AS q, nrm AS nq, cid AS cell
  FROM asn WHERE vec_id < {N_PROBES} AND rn <= {IVF_NPROBE}
),
s AS (
  SELECT p.query_id, c.vec_id, c.cell,
         ROUND(CASE WHEN p.nq > 0 AND c.nrm > 0
                    THEN list_dot_product(p.q, c.vec) / (p.nq * c.nrm) END,
               6) AS cosine
  FROM cells c JOIN probe_cells p USING (cell)
  WHERE p.query_id != c.vec_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id
  ) AS rn
  FROM s WHERE cosine IS NOT NULL
)
SELECT query_id, vec_id, cell, cosine FROM r
WHERE rn <= {IVF_TOP_K}
ORDER BY query_id, cosine DESC, vec_id
"""


# ------------------------------------------------------------ centroids


def lang_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal rollup: join documents to their embeddings (doc_id =
    vec_id), average each language's vectors into a centroid, and emit
    pairwise centroid cosines — the corpus-drift / language-proximity
    probe of embedding-space monitoring.

    Shape: posexplode the vectors -> per-(lang, pos) mean with DECIMAL
    accumulation (the element sums are the one order-dependent float
    reduction here; decimal partials keep them exact and map-side
    combinable) -> collect each centroid back into an ordered array ->
    |langs|² pair join on arrays. At 100 TB only the explode/aggregate
    stage sees data volume — the shuffle carries |langs| × dim partial
    sums; the pair stage is a handful of rows. Cosines run through the
    same left-to-right fold both engines evaluate sequentially
    (operators/vectors.dot ↔ list_dot_product).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings")
    el = d.join(e, d.doc_id == e.vec_id).select(
        "lang", F.posexplode("embedding").alias("pos", "v")
    )
    cent = el.groupBy("lang", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    cvec = (
        cent.groupBy("lang")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("sc"))
        .select("lang", F.expr("transform(sc, x -> x.c)").alias("cvec"))
    )
    a, b = cvec.alias("a"), cvec.alias("b")
    # Broadcast one side explicitly: the pair join has no equi-key, and
    # the aggregate's unknown stats otherwise leave the planner on
    # CartesianProduct — the hint pins BroadcastNestedLoopJoin, the
    # right physical shape for a |langs|-row frame at any corpus size.
    return (
        a.join(F.broadcast(b), F.col("a.lang") < F.col("b.lang"))
        .select(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            F.round(V.cosine(F.col("a.cvec"), F.col("b.cvec")), 6).alias(
                "cosine"
            ),
        )
        .orderBy("lang_a", "lang_b")
    )


LANG_CENTROID_SIMILARITY_SQL = """
WITH el AS (
  SELECT d.lang,
         generate_subscripts(e.embedding, 1) - 1 AS pos,
         unnest(e.embedding) AS v
  FROM documents d
  JOIN embeddings e ON d.doc_id = e.vec_id
),
cent AS (
  SELECT lang, pos,
         CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM el
  GROUP BY 1, 2
),
cvecs AS (
  SELECT lang, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1
)
SELECT a.lang AS lang_a, b.lang AS lang_b,
       ROUND(list_dot_product(a.cvec, b.cvec)
             / (sqrt(list_dot_product(a.cvec, a.cvec))
                * sqrt(list_dot_product(b.cvec, b.cvec))), 6) AS cosine
FROM cvecs a
JOIN cvecs b ON a.lang < b.lang
ORDER BY lang_a, lang_b
"""


# ---------------------------------------------------------- quantization


def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the 4x storage
    reduction path for vector corpora (float32 -> int8 + one float scale
    per vector): code_i = round(x_i * 127 / max|x|), and the per-label
    rollup of reconstruction error tells you whether the cheap index can
    serve recall (rule of thumb: rerank the final candidates at full
    precision).

    Everything is per-row array math in one scan (no shuffle until the
    |labels|-row rollup). The error fold is left-to-right and the rollup
    means accumulate in DECIMAL over 12-dp-rounded per-vector values, so
    the result is partition-order independent and engine-exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    scaled = e.select(
        "label",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda v: F.abs(v.cast("double")))
        ).alias("scale"),
    ).filter(F.col("scale") > 0)

    def diff(v):
        return v.cast("double") - F.round(
            v.cast("double") * 127.0 / F.col("scale")
        ) * F.col("scale") / 127.0

    per_vec = scaled.select(
        "label",
        "scale",
        (
            F.aggregate(
                F.transform("embedding", lambda v: diff(v) * diff(v)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            / F.size("embedding")
        ).alias("mse"),
        F.array_max(F.transform("embedding", lambda v: F.abs(diff(v)))).alias(
            "maxerr"
        ),
    )
    dec = "decimal(28,14)"
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.round(F.col("mse"), 12).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_mse"),
            F.round(F.max("maxerr"), 6).alias("max_abs_err"),
            F.round(
                F.sum(F.round(F.col("scale"), 12).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_scale"),
        )
        .orderBy("label")
    )


_Q_DIFF_SQL = (
    "(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) * 127 / scale)"
    " * scale / 127)"
)

EMBEDDING_INT8_QUANTIZATION_SQL = f"""
WITH scaled AS (
  SELECT label, embedding,
         list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS scale
  FROM embeddings
),
pos AS (SELECT * FROM scaled WHERE scale > 0),
per_vec AS (
  SELECT label, scale,
         list_sum([{_Q_DIFF_SQL} * {_Q_DIFF_SQL} FOR x IN embedding])
           / len(embedding) AS mse,
         list_max([abs({_Q_DIFF_SQL}) FOR x IN embedding]) AS maxerr
  FROM pos
)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(ROUND(mse, 12) AS DECIMAL(28,14))) AS DOUBLE)
             / COUNT(*), 6) AS avg_mse,
       ROUND(MAX(maxerr), 6) AS max_abs_err,
       ROUND(CAST(SUM(CAST(ROUND(scale, 12) AS DECIMAL(28,14))) AS DOUBLE)
             / COUNT(*), 6) AS avg_scale
FROM per_vec
GROUP BY 1
ORDER BY label
"""


# ------------------------------------------------------- trained k-means

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_DP = 9  # centroid / distance rounding: kills cross-engine ulp drift


def _kmeans_assign(
    vx: DataFrame, cents: DataFrame, col: str = "x", by: tuple = ()
) -> DataFrame:
    """One Lloyd assignment pass: each vx row (vec_id, *by, col, xx,
    ...) gets its nearest centroid by the dot-product identity d2 = xx
    − 2·x·c + cc, rounded to {KMEANS_DP} dp, ties broken on cid. `by`
    names the key both sides share (`sub` for product quantization's
    per-subspace codebooks); without it every centroid is a candidate.
    The one source for the assignment rounding/tie-break rules."""
    cc = cents.select(*by, "cid", "c", V.dot("c", "c").alias("cc"))
    d2 = F.round(
        F.col("xx") - 2 * V.dot(col, "c") + F.col("cc"), KMEANS_DP
    )
    w = Window.partitionBy("vec_id", *by).orderBy("d2", "cid")
    paired = (
        vx.join(F.broadcast(cc), list(by))
        if by
        else vx.crossJoin(F.broadcast(cc))
    )
    return (
        paired.select("vec_id", *by, col, "xx", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _kmeans_update(
    assigned: DataFrame, col: str = "x", by: tuple = ()
) -> DataFrame:
    """One Lloyd update pass: per-(*by, cid, pos) decimal means, rounded
    to {KMEANS_DP} dp, re-assembled into centroid vectors."""
    el = assigned.select(*by, "cid", F.posexplode(col).alias("pos", "val"))
    means = el.groupBy(*by, "cid", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            KMEANS_DP,
        ).alias("m")
    )
    return (
        means.groupBy(*by, "cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("sm"))
        .select(*by, "cid", F.expr("transform(sm, s -> s.m)").alias("c"))
    )


def _pq_train(
    sx: DataFrame, col: str, seed: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Product-quantization training and encoding over a (vec_id, sub,
    col, xx) subspace frame: PQ_ITERS Lloyd rounds per subspace from
    the `seed` codebook (sub, cid, c), trained jointly. Returns the
    materialized codebook, its dense per-subspace renumber (sub, cid,
    dcid) and every vector's code array (vec_id, codes), codes ordered
    by subspace."""
    from myserver_datawarehouse_spark.session import materialize

    cents = seed
    for _ in range(PQ_ITERS):
        cents = _kmeans_update(
            _kmeans_assign(sx, cents, col, ("sub",)), col, ("sub",)
        )
    # materialize: the trained codebook (<= M*K rows) feeds encoding,
    # the dense renumber AND every probe LUT — without the cut each
    # consumer would re-run the whole training lineage.
    cents = materialize(cents)
    wsub = Window.partitionBy("sub").orderBy("cid")
    dense = cents.select("sub", "cid").withColumn(
        "dcid", F.row_number().over(wsub) - 1
    )
    codes = (
        _kmeans_assign(sx, cents, col, ("sub",))
        .join(F.broadcast(dense), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sub", "dcid"))
            ).alias("sc")
        )
        .select(
            "vec_id", F.expr("transform(sc, s -> s.dcid)").alias("codes")
        )
    )
    return cents, dense, codes


def kmeans_ivf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF coarse quantizer: {KMEANS_ITERS} Lloyd iterations of
    k-means (k={KMEANS_K}, init = the k lowest vec_ids) expressed as pure
    DataFrame ops — the iterative-ML dataflow (assign via broadcast
    centroid join, update via posexplode + decimal-mean) that upgrades
    `embedding_ann_ivf`'s deterministic quantizer to a learned one
    without changing any downstream plan.

    Exactness across engines: distances use the dot-product identity
    (xx − 2·x·c + cc) whose three folds are sequential in both engines,
    rounded to {KMEANS_DP} dp; centroid means accumulate in DECIMAL and
    are rounded to {KMEANS_DP} dp before the next iteration — so every
    assignment decision (ordered by (d2, cid)) is bit-reproducible.

    Scale: each iteration is one broadcast join (k rows) + one per-vec
    top-1 + one (k × dim)-key decimal aggregate — shuffle volume is
    k·dim partials, never corpus². The per-vec top-1 here is a window
    for oracle parity; the 100 TB swap is `min(struct(d2, cid))` as a
    map-side-combinable aggregate.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("x"),
    )
    vx = v.select("vec_id", "x", V.dot("x", "x").alias("xx"))
    cents = v.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    for _ in range(KMEANS_ITERS):
        cents = _kmeans_update(_kmeans_assign(vx, cents))
    final = _kmeans_assign(vx, cents)
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("d2").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_d2"),
        )
        .orderBy("cid")
    )


def _kmeans_sql() -> str:
    parts = [
        f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
      FROM embeddings),
vx AS (SELECT vec_id, x, list_dot_product(x, x) AS xx FROM v),
c0 AS (SELECT vec_id AS cid, x AS c FROM v WHERE vec_id < {KMEANS_K})"""
    ]
    for i in range(1, KMEANS_ITERS + 2):
        parts.append(
            f"""a{i} AS (
  SELECT vx.vec_id, vx.x, vx.xx, c.cid,
         ROUND(vx.xx - 2 * list_dot_product(vx.x, c.c)
               + list_dot_product(c.c, c.c), {KMEANS_DP}) AS d2
  FROM vx, c{i - 1} c
),
s{i} AS (
  SELECT vec_id, x, cid, d2
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rn FROM a{i})
  WHERE rn = 1
)"""
        )
        if i <= KMEANS_ITERS:
            parts.append(
                f"""e{i} AS (
  SELECT cid, generate_subscripts(x, 1) - 1 AS pos, unnest(x) AS val
  FROM s{i}
),
m{i} AS (
  SELECT cid, pos,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               {KMEANS_DP}) AS m
  FROM e{i} GROUP BY 1, 2
),
c{i} AS (SELECT cid, list(m ORDER BY pos) AS c FROM m{i} GROUP BY 1)"""
            )
    last = KMEANS_ITERS + 1
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT cid, COUNT(*) AS n_members,
       ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*), 6)
         AS avg_d2
FROM s{last}
GROUP BY 1
ORDER BY cid
"""
    )


KMEANS_IVF_CLUSTERS_SQL = _kmeans_sql()


# --------------------------------------------- covariance probe (PCA prep)

# Selected (i, j) dimension pairs, 0-based — diagonal entries give
# per-dimension variance, off-diagonals the correlation structure.
COV_PROBE_PAIRS: list[tuple[int, int]] = [
    (0, 0), (1, 1), (63, 63),
    (0, 1), (2, 7), (5, 13), (10, 40), (31, 62),
]


def embedding_covariance_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selected entries of the embedding covariance matrix (the PCA /
    whitening building block of embedding-space curation): for each probe
    pair (i, j), E[x_i x_j], the mean-centered covariance, and n — all
    from ONE pass over the vectors.

    All moments accumulate as DECIMAL(28,14) of per-row IEEE products, so
    the distributed sum is order-independent and bit-equal to the oracle
    (plans/relational.py float policy). At 100 TB the FULL d x d matrix is
    the same plan with d(d+1)/2 columns — for d=64 that is 2080 decimal
    partials per task, still one map-side-combinable aggregate and a
    1-row reduce (a mapInPandas gemm partial would cut Python-side cost
    but reintroduce float-merge order; the codegen'd decimal form is both
    exact and JVM-side). Probe entries keep the adjudicated surface small
    while exercising exactly that plan."""
    e = load_table(spark, sf_dir, "embeddings")

    def el(i: int):
        return F.element_at("embedding", i + 1).cast("double")

    aggs = [F.count(F.lit(1)).alias("n")]
    for i, j in COV_PROBE_PAIRS:
        aggs.append(
            F.sum((el(i) * el(j)).cast("decimal(28,14)")).alias(f"sxy_{i}_{j}")
        )
        aggs.append(F.sum(el(i).cast("decimal(28,14)")).alias(f"sx_{i}_{j}"))
        aggs.append(F.sum(el(j).cast("decimal(28,14)")).alias(f"sy_{i}_{j}"))
    one = e.agg(*aggs)
    stack_args = []
    for i, j in COV_PROBE_PAIRS:
        stack_args += [
            F.lit(i), F.lit(j),
            F.col(f"sxy_{i}_{j}").cast("double"),
            F.col(f"sx_{i}_{j}").cast("double"),
            F.col(f"sy_{i}_{j}").cast("double"),
        ]
    long = one.select(
        "n",
        F.stack(
            F.lit(len(COV_PROBE_PAIRS)), *stack_args
        ).alias("dim_i", "dim_j", "sxy", "sx", "sy"),
    )
    mean_xy = F.col("sxy") / F.col("n")
    mean_x = F.col("sx") / F.col("n")
    mean_y = F.col("sy") / F.col("n")
    return long.select(
        "dim_i",
        "dim_j",
        F.col("n").alias("n_vecs"),
        F.round(mean_xy, 6).alias("gram"),
        F.round(mean_xy - mean_x * mean_y, 6).alias("covariance"),
    ).orderBy("dim_i", "dim_j")


def _cov_probe_sql() -> str:
    aggs = ["COUNT(*) AS n"]
    rows = []
    for i, j in COV_PROBE_PAIRS:
        xi = f"CAST(embedding[{i + 1}] AS DOUBLE)"
        xj = f"CAST(embedding[{j + 1}] AS DOUBLE)"
        aggs.append(
            f"SUM(CAST({xi} * {xj} AS DECIMAL(28,14))) AS sxy_{i}_{j}"
        )
        aggs.append(f"SUM(CAST({xi} AS DECIMAL(28,14))) AS sx_{i}_{j}")
        aggs.append(f"SUM(CAST({xj} AS DECIMAL(28,14))) AS sy_{i}_{j}")
        rows.append(
            f"SELECT {i} AS dim_i, {j} AS dim_j, n AS n_vecs,\n"
            f"  ROUND(CAST(sxy_{i}_{j} AS DOUBLE) / n, 6) AS gram,\n"
            f"  ROUND(CAST(sxy_{i}_{j} AS DOUBLE) / n\n"
            f"        - (CAST(sx_{i}_{j} AS DOUBLE) / n)\n"
            f"          * (CAST(sy_{i}_{j} AS DOUBLE) / n), 6)\n"
            f"    AS covariance FROM agg"
        )
    return (
        "WITH agg AS (SELECT "
        + ", ".join(aggs)
        + " FROM embeddings)\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY dim_i, dim_j"
    )


EMBEDDING_COVARIANCE_PROBE_SQL = _cov_probe_sql()


def embedding_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe sign-bucket ANN, BLAS tier (the shipped default):
    identical semantics, candidate set and oracle as
    `embedding_ann_multiprobe_join` below, but each probed bucket's
    (queries x corpus) dot products run as one numpy gemm in an
    applyInPandas kernel (operators/vectors.gemm_multiprobe_topk)
    instead of ({BUCKET_BITS}+1)x the single-probe volume of
    interpreted per-pair folds — measured 16.5 s -> 1.3 s (~13x) at
    sf0.1, the same arrangement as the other shipped gemm tiers."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
    )
    scored = V.gemm_multiprobe_topk(e, BUCKET_BITS, BUCKET_TOP_K)
    return scored.select("vec_id", "neighbor_id", "cosine").orderBy(
        "vec_id", F.col("cosine").desc(), "neighbor_id"
    )


def embedding_ann_multiprobe_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiprobe sign-bucket ANN, JVM join form — the readable
    reference implementation the gemm tier is tier-parity-tested
    against (tests/test_vectors.py); not registered (the shipped
    default above is the gemm tier, same oracle).

    Like `embedding_ann_bucketed`, but
    each query additionally probes the {BUCKET_BITS} buckets at Hamming
    distance 1 from its own (flip one sign bit) — the classic multiprobe
    LSH recall lever. On the near-isotropic synthetic vectors this lifts
    measured recall@{BUCKET_TOP_K} from ~0.04 (single-probe) to ~0.4
    (see `ann_recall_audit`, which adjudicates all three tiers), at a
    bounded ({BUCKET_BITS}+1)x candidate-volume cost.

    Plan shape: the QUERY side explodes into its probe-bucket list and
    the join stays a plain hash join on the bucket id — candidate volume
    is sum over buckets of |bucket| x |queries probing it|, never
    corpus^2, and each (query, neighbor) pair arises from exactly one
    probe bucket (the XOR masks are distinct), so no dedup pass is
    needed. At 100 TB the probe factor is the recall/cost dial: nprobe
    grows to Hamming-2 the same way, still shuffle-bounded."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
        V.norm2("embedding").alias("nrm"),
    )
    masks = F.array(
        F.lit(0), *[F.lit(1 << i) for i in range(BUCKET_BITS)]
    )
    a = e.select(
        F.col("vec_id"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("na"),
        F.explode(masks).alias("mask"),
        F.col("bucket"),
    ).select(
        "vec_id", "q", "na",
        F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
    )
    return _bucket_topk(a, e)


_XOR_MASKS = ", ".join(str(1 << i) for i in range(BUCKET_BITS))

EMBEDDING_ANN_MULTIPROBE_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         {_BUCKET_SQL} AS bucket,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
s AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND(CASE WHEN a.nrm > 0 AND b.nrm > 0
                    THEN list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm)
               END, 6) AS cosine
  FROM e a JOIN e b
    ON xor(a.bucket, b.bucket) IN (0, {_XOR_MASKS})
   AND a.vec_id != b.vec_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
  ) AS rn
  FROM s WHERE cosine IS NOT NULL
)
SELECT vec_id, neighbor_id, cosine FROM r
WHERE rn <= {BUCKET_TOP_K}
ORDER BY vec_id, cosine DESC, neighbor_id
"""


# ------------------------------------------------------------ ANN recall

RECALL_K = IVF_TOP_K  # == BUCKET_TOP_K: exact top-3 is the common baseline
RECALL_FLOOR = 0.3  # the flag's threshold; see measured values below
RECALL_NPROBE_SWEEP = (1, 2, 4)  # the audited nprobe tuning curve


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{RECALL_K} of the two ANN tiers against the exact
    brute-force top-{RECALL_K} — the sketch-tier audit pattern
    (adjudicate the ACCURACY CLAIM, not just the output) applied to
    similarity search, mirroring `approx_distinct_audit`.

    For each probe vector (vec_id < {N_PROBES}) and each method
    ('ivf' = `embedding_ann_ivf`, 'ivfpq' = the composed
    `embedding_ivfpq_search` (its top-{RECALL_K} by estimated
    distance — the ADC estimate is rated against the exact yardstick,
    so this row prices the compression loss ON TOP of the coarse
    quantizer's), 'ivfpq_np1'/'ivfpq_np4' = the nprobe tuning curve
    (every sweep point derived from ONE nprobe-max candidate pipeline
    by probe_rank cuts — training runs once, the curve costs filters),
    'ivfpq_refined' = `embedding_ivfpq_refined`'s exact re-rank of the
    {REFINE_R}-deep ADC shortlist (its recall is the compression loss
    BOUGHT BACK per unit of exact-scoring work), 'bucket' = the shipped
    `embedding_ann_bucketed_gemm` BLAS tier (identical semantics and
    oracle to the interpreted twin — the audit measures the tier users
    actually run), 'multiprobe' = `embedding_ann_multiprobe`, the
    latter two restricted to the probes), the output carries the hit count against
    the exact top-{RECALL_K}, the recall ratio, and a
    `recall_floor_met` flag asserting recall ≥ {RECALL_FLOOR}. Both ANN
    results and the exact baseline are fully deterministic (rounded
    cosine + id tie-breaks), so the DuckDB oracle RECOMPUTES the same
    two result sets and the same recall — a quantizer regression, a
    probe-routing bug, or a tie-break drift all change n_hit and flip
    the hash. Unlike the HLL audit (whose sketch is engine-specific,
    flag-only), recall here is itself oracle-expressible, so the
    adjudication covers the exact recall VALUES, not just the floor.

    Measured recall (this audit's own output): bucket mean ≈ 0.04,
    ivf mean ≈ 0.29–0.37, multiprobe mean ≈ 0.6 across sf0.001–sf0.1.
    The sweep rows measure ivfpq_refined ≈ 0.83 (the exact
    re-rank recovers the full coarse-tier recall — compression loss
    bought back for {REFINE_R} exact distances/query) while the nprobe
    curve is FLAT on this fixture (np1 = np2 = np4): every ADC top-k
    candidate comes from the rank-1 cell because near-isotropic
    vectors give ADC errors larger than the true distance gaps, so
    extra probes add candidates that never crack the estimated top-k.
    That flatness is the honest measurement the sweep exists to
    surface — on clustered real embeddings the same rows spread.
    Single-probe numbers are the honest floor for the synthetic
    near-isotropic embedding table — random-ish vectors are ANN's worst
    case (every cosine is close to every other, so bucket/cell
    membership carries little neighbor signal). The audit's value is
    exactly that it SURFACES the recall/cost tradeoff as an adjudicated
    number instead of an assumption — and the multiprobe tier
    demonstrates the lever working: +1-bit Hamming probing buys ~15x
    the single-bucket recall at a ({BUCKET_BITS}+1)x candidate cost.
    The `recall_floor_met` flag reports honestly False for most
    single-probe rows at the {RECALL_FLOOR} floor — adjudicated as
    False by the oracle's own recomputation, not asserted away.

    Scale: the expensive inputs are the ANN plans themselves (bucket- or
    cell-local, see their docstrings); the exact baseline is the
    broadcast-probe map-only scan, and the recall join is
    probe-count-sized — the audit adds nothing super-linear, so it can
    run continuously as a data-quality monitor next to the index build."""
    from myserver_datawarehouse_spark.session import materialize, parallel_actions

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    # materialize(): the exact top-k is the shared yardstick for every
    # method below (the hit semi-join AND the query grid) — without the
    # lineage cut the brute-force gemm plan would re-execute once per
    # consumer. N_PROBES x RECALL_K rows, executor-side.
    #
    # The exact yardstick and the IVFPQ candidate pipeline are
    # INDEPENDENT eager chains — materialized concurrently so the gemm
    # pass back-fills cores the Lloyd chain's stage tails leave idle;
    # each chain's internal order is unchanged. One candidate pipeline
    # at the sweep's max nprobe; every sweep point (and the refined
    # leg's shortlist) is a probe_rank / est_raw cut over this single
    # materialized frame — training runs ONCE, so the nprobe curve
    # costs filters, not re-trainings.
    def _exact():
        return materialize(
            embedding_topk_gemm(spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= RECALL_K)
            .select("query_id", "vec_id")
        )

    def _cand4():
        return materialize(
            _ivfpq_candidates(spark, sf_dir, max(RECALL_NPROBE_SWEEP))
        )

    exact, cand4 = parallel_actions(_exact, _cand4)
    ivf = embedding_ann_ivf(spark, sf_dir).select("query_id", "vec_id")
    w_adc = Window.partitionBy("query_id").orderBy("est_raw", "vec_id")

    def _np_leg(np: int) -> DataFrame:
        return (
            cand4.filter(F.col("probe_rank") <= np)
            .withColumn("rn", F.row_number().over(w_adc))
            .filter(F.col("rn") <= RECALL_K)
            .select("query_id", "vec_id")
        )

    ivfpq = _np_leg(IVF_NPROBE)  # the shipped nprobe=2 configuration
    ivfpq_np1 = _np_leg(1)
    ivfpq_np4 = _np_leg(4)
    short = (
        cand4.filter(F.col("probe_rank") <= IVF_NPROBE)
        .withColumn("r_adc", F.row_number().over(w_adc))
        .filter(F.col("r_adc") <= REFINE_R)
        .select("query_id", "vec_id")
    )
    vv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("x"),
    )
    vv = vv.withColumn("xx", V.dot("x", "x"))
    qv = vv.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("xx").alias("qxx"),
    )
    w_ex = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    refined = (
        vv.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.col("qxx") - 2 * V.dot("qx", "x") + F.col("xx"),
                KMEANS_DP,
            ).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= RECALL_K)
        .select("query_id", "vec_id")
    )
    bucket = (
        embedding_ann_bucketed_gemm(spark, sf_dir)
        .filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("neighbor_id").alias("vec_id"),
        )
    )
    multi = (
        embedding_ann_multiprobe(spark, sf_dir)
        .filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("neighbor_id").alias("vec_id"),
        )
    )
    # One semi-join over the tagged union instead of one per method:
    # each ANN plan executes exactly once, and the (method x query)
    # grid is an explode over the probe ids, not a join per method.
    approx_all = (
        ivf.withColumn("method", F.lit("ivf"))
        .unionByName(ivfpq.withColumn("method", F.lit("ivfpq")))
        .unionByName(ivfpq_np1.withColumn("method", F.lit("ivfpq_np1")))
        .unionByName(ivfpq_np4.withColumn("method", F.lit("ivfpq_np4")))
        .unionByName(
            refined.withColumn("method", F.lit("ivfpq_refined"))
        )
        .unionByName(bucket.withColumn("method", F.lit("bucket")))
        .unionByName(multi.withColumn("method", F.lit("multiprobe")))
    )
    h = (
        approx_all.join(exact, ["query_id", "vec_id"], "left_semi")
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    grid = exact.select("query_id").distinct().select(
        F.explode(
            F.array(
                F.lit("ivf"),
                F.lit("ivfpq"),
                F.lit("ivfpq_np1"),
                F.lit("ivfpq_np4"),
                F.lit("ivfpq_refined"),
                F.lit("bucket"),
                F.lit("multiprobe"),
            )
        ).alias("method"),
        "query_id",
    )
    out = grid.join(h, ["method", "query_id"], "left").select(
        "method",
        "query_id",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
    )
    recall = F.col("n_hit") / F.lit(RECALL_K)
    return (
        out.select(
            "method",
            "query_id",
            F.lit(RECALL_K).alias("k"),
            "n_hit",
            F.round(recall, 4).alias("recall"),
            (recall >= F.lit(RECALL_FLOOR)).alias("recall_floor_met"),
        )
        .orderBy("method", "query_id")
    )


# ANN_RECALL_AUDIT_SQL is assigned at the END of this module: its
# f-string embeds EMBEDDING_IVFPQ_SEARCH_SQL, defined below.


# ------------------------------------------------- semantic dedup clusters


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster collapse in EMBEDDING space: connected
    components over the cosine near-dup pair graph (the
    `near_dup_embedding_cosine` pairs), labeling every clustered vector
    with its component's min vec_id (the canonical survivor) and the
    component size — the embedding-space twin of `dedup_clusters`
    (which closes the MinHash text-pair graph). Pair lists alone
    under-remove: A~B and B~C must collapse to ONE survivor even when
    A~C was never scored; that closure is exactly connected components,
    and at training-corpus scale this is how paraphrase/translation
    near-dups that share no n-grams get deduplicated.

    Scope note: the pair graph is the bucket-pruned one (single-probe
    sign buckets, tau={NEAR_DUP_TAU}) — the same candidate scope the
    pair query itself adjudicates, so the oracle's recursive closure
    runs over the identical edge set. Scale: the CC iteration runs on
    the EDGE set only (pairs above tau — output-sized, not corpus²),
    via the shared min-label loop (`materialize` lineage cuts,
    localCheckpoint locally / reliable checkpoint on a cluster)."""
    from myserver_datawarehouse_spark.plans.llm_text import _cc_min_labels

    pairs = V.gemm_bucket_pairs(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            V.sign_bucket("embedding", BUCKET_BITS).alias("bucket"),
        ),
        NEAR_DUP_TAU,
    ).select(
        F.col("vec_id").alias("doc_a"), F.col("neighbor_id").alias("doc_b")
    )
    labels = _cc_min_labels(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labels.join(F.broadcast(sizes), "label")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("label").alias("cluster_id"),
            "n_members",
        )
        .orderBy("vec_id")
    )


SEMANTIC_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({NEAR_DUP_EMBEDDING_COSINE_SQL}),
edges AS (
  SELECT vec_id AS src, neighbor_id AS dst FROM pairs
  UNION ALL
  SELECT neighbor_id AS src, vec_id AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS vec_id, src AS label FROM edges
  UNION
  SELECT e.dst AS vec_id, r.label
  FROM reach r JOIN edges e ON e.src = r.vec_id
),
members AS (SELECT vec_id, MIN(label) AS cluster_id FROM reach GROUP BY vec_id)
SELECT m.vec_id, m.cluster_id, s.n_members
FROM members m
JOIN (SELECT cluster_id, COUNT(*) AS n_members FROM members GROUP BY 1) s
  USING (cluster_id)
ORDER BY m.vec_id
"""


# ------------------------------------------------------------------ PCA
# Reference parity: the reference has no PCA, but embedding-space
# curation at scale needs the whitening/dim-reduction building block
# (embedding_covariance_probe's docstring promises the full-matrix plan;
# this query delivers it and adjudicates the result).

PCA_TOP_K = 8
PCA_RTOL = 1e-6  # projected-variance vs eigenvalue relative tolerance


def embedding_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding corpus, adjudicated the sketch-tier way
    (claims checked, not assumed): the covariance matrix accumulates
    DISTRIBUTED (one numpy X'X partial per Arrow batch via mapInPandas,
    reduced by a (d^2+d+1)-key aggregate — the MLlib computeCovariance
    shape), the d x d eigendecomposition runs on the driver (the `fit`
    step, O(d^3) for d=64 — never corpus-sized), and the top-{PCA_TOP_K}
    projection is re-applied distributed to verify that the projected
    coordinates' population variances actually equal the eigenvalues.

    Adjudicated output (one row):
      - n_vectors, dim: exact, oracle-recomputed.
      - total_variance: trace of the covariance, accumulated as
        DECIMAL(28,14) per-dim moments (embedding_covariance_probe's
        order-independent float policy) so the oracle rebuilds the
        IDENTICAL value bit-for-bit — the one number that pins the
        whole decomposition's scale.
      - trace_conserved: |sum(eigenvalues) - trace| <= 1e-8 * trace —
        eigh consistency with the decimal-exact trace.
      - components_orthonormal: max|V'V - I| <= 1e-8.
      - eigenvalues_monotone: sorted descending, all >= -1e-10.
      - projection_variance_matches: per-component population variance
        of the DISTRIBUTED projection within {PCA_RTOL} relative of the
        corresponding eigenvalue — the end-to-end check that the
        broadcast projection matrix actually produces the claimed
        coordinates (oracle: literal TRUE, the compaction-audit flag
        pattern).

    Scale: two corpus passes (moment partials, projection check) plus
    one JVM decimal aggregate; every shuffle is (d^2+d+1) keys x task
    partials, never corpus-sized; the only driver materializations are
    the 4161-row moment frame and the {PCA_TOP_K}-row variance frame
    (manifest-scale, independent of corpus size). Float covariance
    merge order varies across runs, but it feeds only the tolerance
    flags; the adjudicated total_variance rides the decimal path.
    Eager-execution convention (the fit runs at plan-construction
    time), like kmeans_ivf_clusters and the writer-lifecycle queries."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    first = e.select(F.size("embedding").alias("d")).first()
    d = int(first["d"])

    # --- distributed moment partials -> driver covariance (fit) ------
    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            vals = np.concatenate(
                ([float(len(X))], X.sum(axis=0), (X.T @ X).ravel())
            )
            yield pd.DataFrame(
                {"pos": np.arange(-1, d * d + d, dtype=np.int64), "val": vals}
            )

    sums = (
        e.select("embedding")
        .mapInPandas(partials, "pos long, val double")
        .groupBy("pos")
        .agg(F.sum("val").alias("val"))
    )
    stats = {int(r["pos"]): float(r["val"]) for r in sums.collect()}
    n = stats[-1]
    sx = np.array([stats[i] for i in range(d)])
    sxx = np.array([stats[d + i] for i in range(d * d)]).reshape(d, d)
    mean = sx / n
    cov = sxx / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    evals, evecs = evals[::-1], evecs[:, ::-1]  # descending

    trace = float(np.trace(cov))
    trace_ok = abs(float(evals.sum()) - trace) <= 1e-8 * max(trace, 1.0)
    ortho_ok = bool(
        np.abs(evecs.T @ evecs - np.eye(d)).max() <= 1e-8
    )
    mono_ok = bool(
        np.all(np.diff(evals) <= 1e-12) and evals.min() >= -1e-10
    )

    # --- distributed projection variance check -----------------------
    Vk = np.ascontiguousarray(evecs[:, :PCA_TOP_K])
    bc = spark.sparkContext.broadcast((mean, Vk))

    def proj_partials(batches):
        b_mean, b_V = bc.value
        k = b_V.shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            P = (X - b_mean) @ b_V  # centered projection
            yield pd.DataFrame(
                {
                    "comp": np.tile(np.arange(k, dtype=np.int64), 3),
                    "kind": np.repeat(np.arange(3, dtype=np.int64), k),
                    "val": np.concatenate(
                        (
                            np.full(k, float(len(P))),
                            P.sum(axis=0),
                            (P * P).sum(axis=0),
                        )
                    ),
                }
            )

    pv = (
        e.select("embedding")
        .mapInPandas(proj_partials, "comp long, kind long, val double")
        .groupBy("comp", "kind")
        .agg(F.sum("val").alias("val"))
    )
    acc: dict[tuple[int, int], float] = {
        (int(r["comp"]), int(r["kind"])): float(r["val"]) for r in pv.collect()
    }
    proj_ok = True
    for c in range(PCA_TOP_K):
        nc, s, s2 = acc[(c, 0)], acc[(c, 1)], acc[(c, 2)]
        var = s2 / nc - (s / nc) ** 2  # population variance
        lam = float(evals[c])
        if abs(var - lam) > PCA_RTOL * max(abs(lam), 1e-9):
            proj_ok = False

    # --- adjudicated output: decimal-exact trace + checked flags -----
    def el(i: int):
        return F.element_at("embedding", i + 1).cast("double")

    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(d):
        aggs.append(
            F.sum((el(i) * el(i)).cast("decimal(28,14)")).alias(f"sxx_{i}")
        )
        aggs.append(F.sum(el(i).cast("decimal(28,14)")).alias(f"sx_{i}"))
    terms = [
        F.col(f"sxx_{i}").cast("double") / F.col("n")
        - (F.col(f"sx_{i}").cast("double") / F.col("n"))
        * (F.col(f"sx_{i}").cast("double") / F.col("n"))
        for i in range(d)
    ]
    total_var = terms[0]
    for t in terms[1:]:  # left-assoc, mirrored exactly in the oracle SQL
        total_var = total_var + t
    return e.agg(*aggs).select(
        F.col("n").alias("n_vectors"),
        F.lit(d).alias("dim"),
        F.round(total_var, 6).alias("total_variance"),
        F.lit(bool(trace_ok)).alias("trace_conserved"),
        F.lit(bool(ortho_ok)).alias("components_orthonormal"),
        F.lit(bool(mono_ok)).alias("eigenvalues_monotone"),
        F.lit(bool(proj_ok)).alias("projection_variance_matches"),
    )


def _pca_audit_sql(d: int = 64) -> str:
    aggs = ["COUNT(*) AS n"]
    terms = []
    for i in range(d):
        xi = f"CAST(embedding[{i + 1}] AS DOUBLE)"
        aggs.append(f"SUM(CAST({xi} * {xi} AS DECIMAL(28,14))) AS sxx_{i}")
        aggs.append(f"SUM(CAST({xi} AS DECIMAL(28,14))) AS sx_{i}")
        terms.append(
            f"(CAST(sxx_{i} AS DOUBLE) / n"
            f" - (CAST(sx_{i} AS DOUBLE) / n)"
            f" * (CAST(sx_{i} AS DOUBLE) / n))"
        )
    # plain + chain: left-associative in both engines
    total = "\n    + ".join(terms)
    return (
        "WITH agg AS (SELECT "
        + ",\n  ".join(aggs)
        + " FROM embeddings)\n"
        + "SELECT n AS n_vectors,\n"
        + f"  {d} AS dim,\n"
        + f"  ROUND({total}, 6) AS total_variance,\n"
        + "  TRUE AS trace_conserved,\n"
        + "  TRUE AS components_orthonormal,\n"
        + "  TRUE AS eigenvalues_monotone,\n"
        + "  TRUE AS projection_variance_matches\n"
        + "FROM agg"
    )


EMBEDDING_PCA_AUDIT_SQL = _pca_audit_sql()


# ----------------- product quantization (IVFPQ's compression half)

PQ_M = 4            # subspaces
PQ_SUBDIM = 16      # 64-dim embeddings / PQ_M
PQ_K = 8            # centroids per subspace (one 3-bit code each)
PQ_ITERS = 2        # Lloyd iterations per subspace (trained jointly)
PQ_TOPK = 10        # ADC retrieval depth audited
PQ_COMPRESSION = 64.0  # 64 dims x float32 -> 4 one-byte codes


def embedding_pq_adc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION with asymmetric-distance retrieval, fully
    adjudicated — the compression half of the FAISS IVFPQ design that
    makes billion-vector ANN feasible (the coarse half is
    `embedding_ann_ivf`): vectors are split into {m} subspaces of
    {sd} dims; each subspace gets its own {k}-centroid Lloyd codebook
    (trained JOINTLY in one dataflow — the subspace id is just another
    grouping key, so all {m} k-means runs ride the same shuffles);
    every vector compresses to {m} one-byte codes ({cx:.0f}x smaller
    than float32).

    Retrieval is classic ADC: per probe, a {m}x{k} lookup table of
    subspace distances is built against the codebooks ONCE, and each
    candidate's distance estimate is a table-lookup sum over its codes
    — expressed as an array-indexed `aggregate` over a broadcast LUT,
    so the scan is map-side with NO shuffle until the top-k window.
    Codebook ids are densely renumbered per subspace and the LUT is
    skeleton-filled over all {m}x{k} slots, so a cluster emptied
    during training can never corrupt the positional indexing.

    The audit computes, per probe: recall@{tk} of the ADC top-{tk}
    against the EXACT L2 top-{tk} (both deterministic: distances
    rounded to {dp} dp, id tie-breaks) and the mean absolute ADC
    error over the returned candidates — the estimate-quality number
    PQ papers report. The DuckDB oracle retrains the identical
    codebooks (decimal-rounded Lloyd, unrolled iterations, same
    renumber + skeleton) and recomputes both result sets — recall
    VALUES are adjudicated, not just a floor flag.

    Scale: training shuffles k·dim decimal partials per iteration
    (never corpus²); encoding is one broadcast-join pass; ADC is
    broadcast-LUT + map-side aggregate per candidate, the exact
    access pattern a 100 TB scan needs (codes live columnar, 4 bytes
    a row; the float vectors are only read by training and the exact
    yardstick)."""
    from myserver_datawarehouse_spark.session import materialize

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("x"),
    )
    subs = v.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> slice(x, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}))"
            )
        ).alias("sub", "xs"),
    )
    sx = subs.select(
        "vec_id", "sub", "xs", V.dot("xs", "xs").alias("xx")
    )
    cents, dense, codes = _pq_train(
        sx,
        "xs",
        subs.filter(F.col("vec_id") < PQ_K).select(
            "sub", F.col("vec_id").alias("cid"), F.col("xs").alias("c")
        ),
    )
    qs = subs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("xs").alias("q")
    )
    lut_vals = (
        qs.join(
            cents.join(F.broadcast(dense), ["sub", "cid"]).select(
                "sub", "dcid", "c", V.dot("c", "c").alias("cc")
            ),
            "sub",
        )
        .select(
            "query_id",
            (F.col("sub") * PQ_K + F.col("dcid")).alias("slot"),
            F.round(
                V.dot("q", "q") - 2 * V.dot("q", "c") + F.col("cc"),
                KMEANS_DP,
            ).alias("d2p"),
        )
    )
    slots = spark.createDataFrame(
        [(s,) for s in range(PQ_M * PQ_K)], "slot int"
    )
    lut_arr = materialize(
        qs.select("query_id")
        .distinct()
        .crossJoin(F.broadcast(slots))
        .join(lut_vals, ["query_id", "slot"], "left")
        .na.fill({"d2p": 0.0})
        .groupBy("query_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("slot", "d2p"))
            ).alias("sl")
        )
        .select(
            "query_id", F.expr("transform(sl, s -> s.d2p)").alias("lut")
        )
    )
    probes = v.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("x").alias("q")
    )
    cand = (
        codes.join(v, "vec_id")
        .crossJoin(F.broadcast(lut_arr.join(probes, "query_id")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), cast(0 as double), "
                f"(acc, m) -> acc + lut[m * {PQ_K} + codes[m]])"
            ).alias("est_d2"),
            F.round(
                V.dot("x", "x") - 2 * V.dot("x", "q") + V.dot("q", "q"),
                KMEANS_DP,
            ).alias("true_d2"),
        )
    )
    w_est = Window.partitionBy("query_id").orderBy("est_d2", "vec_id")
    w_true = Window.partitionBy("query_id").orderBy("true_d2", "vec_id")
    ranked = cand.select(
        "query_id",
        "vec_id",
        "est_d2",
        "true_d2",
        F.row_number().over(w_est).alias("r_est"),
        F.row_number().over(w_true).alias("r_true"),
    ).filter(
        (F.col("r_est") <= PQ_TOPK) | (F.col("r_true") <= PQ_TOPK)
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                (
                    (F.col("r_est") <= PQ_TOPK)
                    & (F.col("r_true") <= PQ_TOPK)
                ).cast("long")
            ).alias("n_hit"),
            F.round(
                F.sum(
                    F.when(
                        F.col("r_est") <= PQ_TOPK,
                        F.round(
                            F.abs(
                                F.col("est_d2") - F.col("true_d2")
                            ),
                            6,
                        ).cast("decimal(28,12)"),
                    )
                ).cast("double")
                / PQ_TOPK,
                6,
            ).alias("avg_adc_err"),
        )
        .select(
            "query_id",
            F.lit(PQ_TOPK).alias("k"),
            "n_hit",
            F.round(F.col("n_hit") / F.lit(PQ_TOPK), 4).alias("recall"),
            "avg_adc_err",
            F.lit(PQ_COMPRESSION).alias("compression_x"),
        )
        .orderBy("query_id")
    )


embedding_pq_adc_audit.__doc__ = embedding_pq_adc_audit.__doc__.format(
    m=PQ_M, sd=PQ_SUBDIM, k=PQ_K, cx=PQ_COMPRESSION, tk=PQ_TOPK,
    dp=KMEANS_DP,
)


def _pq_sql() -> str:
    sd, m, k = PQ_SUBDIM, PQ_M, PQ_K
    parts = [
        f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
      FROM embeddings),
subs AS (
  SELECT vec_id, g.m AS sub, x[g.m * {sd} + 1 : g.m * {sd} + {sd}] AS xs
  FROM v, (SELECT unnest(generate_series(0, {m - 1})) AS m) g
),
sx AS (SELECT vec_id, sub, xs, list_dot_product(xs, xs) AS xx FROM subs),
c0 AS (SELECT sub, vec_id AS cid, xs AS c FROM subs
       WHERE vec_id < {k})"""
    ]
    for i in range(1, PQ_ITERS + 2):
        parts.append(
            f"""a{i} AS (
  SELECT sx.vec_id, sx.sub, sx.xs, sx.xx, c.cid,
         ROUND(sx.xx - 2 * list_dot_product(sx.xs, c.c)
               + list_dot_product(c.c, c.c), {KMEANS_DP}) AS d2
  FROM sx JOIN c{i - 1} c ON c.sub = sx.sub
),
s{i} AS (
  SELECT vec_id, sub, xs, cid, d2
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d2, cid) AS rn FROM a{i})
  WHERE rn = 1
)"""
        )
        if i <= PQ_ITERS:
            parts.append(
                f"""e{i} AS (
  SELECT sub, cid, generate_subscripts(xs, 1) - 1 AS pos,
         unnest(xs) AS val
  FROM s{i}
),
m{i} AS (
  SELECT sub, cid, pos,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), {KMEANS_DP}) AS m
  FROM e{i} GROUP BY 1, 2, 3
),
c{i} AS (SELECT sub, cid, list(m ORDER BY pos) AS c
         FROM m{i} GROUP BY 1, 2)"""
            )
    last_c = f"c{PQ_ITERS}"
    last_s = f"s{PQ_ITERS + 1}"
    parts.append(
        f"""dn AS (
  SELECT sub, cid,
         ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cid) - 1 AS dcid
  FROM {last_c}
),
codes AS (
  SELECT s.vec_id, list(d.dcid ORDER BY s.sub) AS codes
  FROM {last_s} s JOIN dn d ON d.sub = s.sub AND d.cid = s.cid
  GROUP BY 1
),
qs AS (SELECT vec_id AS query_id, sub, xs AS q FROM subs
       WHERE vec_id < {N_PROBES}),
lut_vals AS (
  SELECT q.query_id, c.sub * {k} + d.dcid AS slot,
         ROUND(list_dot_product(q.q, q.q)
               - 2 * list_dot_product(q.q, c.c)
               + list_dot_product(c.c, c.c), {KMEANS_DP}) AS d2p
  FROM qs q
  JOIN {last_c} c ON c.sub = q.sub
  JOIN dn d ON d.sub = c.sub AND d.cid = c.cid
),
lut_arr AS (
  SELECT g.query_id, list(COALESCE(l.d2p, 0.0) ORDER BY g.slot) AS lut
  FROM (SELECT DISTINCT query_id, s.slot
        FROM qs, (SELECT unnest(generate_series(0, {m * k - 1}))
                  AS slot) s) g
  LEFT JOIN lut_vals l ON l.query_id = g.query_id AND l.slot = g.slot
  GROUP BY 1
),
probes AS (SELECT vec_id AS query_id, x AS q FROM v
           WHERE vec_id < {N_PROBES}),
cand AS (
  SELECT l.query_id, c.vec_id,
         list_sum([l.lut[i * {k} + c.codes[i + 1] + 1]
                   FOR i IN generate_series(0, {m - 1})]) AS est_d2,
         ROUND(list_dot_product(v.x, v.x)
               - 2 * list_dot_product(v.x, p.q)
               + list_dot_product(p.q, p.q), {KMEANS_DP}) AS true_d2
  FROM codes c
  JOIN v ON v.vec_id = c.vec_id
  CROSS JOIN lut_arr l
  JOIN probes p ON p.query_id = l.query_id
  WHERE c.vec_id <> l.query_id
),
ranked AS (
  SELECT query_id, vec_id, est_d2, true_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY est_d2, vec_id) AS r_est,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY true_d2, vec_id) AS r_true
  FROM cand
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, {PQ_TOPK} AS k,
       CAST(SUM(CASE WHEN r_est <= {PQ_TOPK} AND r_true <= {PQ_TOPK}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(SUM(CASE WHEN r_est <= {PQ_TOPK} AND r_true <= {PQ_TOPK}
                      THEN 1 ELSE 0 END) / CAST({PQ_TOPK} AS DOUBLE),
             4) AS recall,
       CAST(ROUND(CAST(SUM(CASE WHEN r_est <= {PQ_TOPK}
                     THEN CAST(ROUND(ABS(est_d2 - true_d2), 6)
                               AS DECIMAL(28,12)) END) AS DOUBLE)
             / {PQ_TOPK}, 6) AS DOUBLE) AS avg_adc_err,
       CAST({PQ_COMPRESSION} AS DOUBLE) AS compression_x
FROM ranked
WHERE r_est <= {PQ_TOPK} OR r_true <= {PQ_TOPK}
GROUP BY query_id
ORDER BY query_id
"""
    )


EMBEDDING_PQ_ADC_AUDIT_SQL = _pq_sql()


# ------------------------------------------------------------- IVFPQ

IVFPQ_DIM = 64    # embeddings table vector width
IVFPQ_CENTS = IVF_CENTS  # shared fixed centroid budget (see IVF_CENTS)


def _ivfpq_candidates(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """The shared IVFPQ pipeline up to ADC-scored candidates:
    (query_id, vec_id, cell, probe_rank, est_raw), where probe_rank is
    the probed cell's rank in the query's coarse-distance order. Both
    quantizers are trained EXACTLY as `embedding_ivfpq_search` documents
    (training is nprobe-independent); callers cut by probe_rank and
    est_raw — which is how `ann_recall_audit` derives the whole
    nprobe sweep from ONE pipeline run instead of re-training per
    sweep point."""
    from myserver_datawarehouse_spark.session import materialize

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("x"),
    )
    v = v.withColumn("xx", V.dot("x", "x"))
    cent = v.filter(F.col("vec_id") < IVFPQ_CENTS).select(
        F.col("vec_id").alias("ccid"),
        F.col("x").alias("c"),
        F.col("xx").alias("cc"),
    )
    d2c = F.round(
        F.col("xx") - 2 * V.dot("x", "c") + F.col("cc"), KMEANS_DP
    )
    w_asn = Window.partitionBy("vec_id").orderBy("d2c", "ccid")
    asn = (
        v.join(F.broadcast(cent))
        .select("vec_id", "x", "ccid", "c", d2c.alias("d2c"))
        .withColumn("rn", F.row_number().over(w_asn))
    )
    residual = F.zip_with("x", "c", lambda a, b: a - b)
    # materialize: the coarse assignment feeds PQ training (via sx),
    # encoding AND the candidate scan — without the cut each consumer
    # re-runs the O(N*K) assignment join + ranking window.
    cells = materialize(
        asn.filter(F.col("rn") == 1).select(
            "vec_id", F.col("ccid").alias("cell"), residual.alias("r")
        )
    )
    sub_slices = (
        f"transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(r, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}))"
    )
    rsub = cells.select(
        "vec_id",
        F.posexplode(F.expr(sub_slices)).alias("sub", "rs"),
    )
    # materialize: every Lloyd round's assignment and the final encoding
    # fold over the same residual-subspace frame.
    sx = materialize(
        rsub.select(
            "vec_id", "sub", "rs", V.dot("rs", "rs").alias("xx")
        )
    )
    cb, dense, codes = _pq_train(
        sx,
        "rs",
        sx.filter(F.col("vec_id") < PQ_K).select(
            "sub", F.col("vec_id").alias("cid"), F.col("rs").alias("c")
        ),
    )
    probe_cells = asn.filter(
        (F.col("vec_id") < N_PROBES) & (F.col("rn") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("ccid").alias("cell"),
        F.col("rn").alias("probe_rank"),
        residual.alias("r"),
    )
    qsub = probe_cells.select(
        "query_id",
        "cell",
        F.posexplode(F.expr(sub_slices)).alias("sub", "qs"),
    )
    lut_vals = (
        qsub.join(
            F.broadcast(
                cb.join(F.broadcast(dense), ["sub", "cid"]).select(
                    "sub", "dcid", "c", V.dot("c", "c").alias("cc")
                )
            ),
            "sub",
        )
        .select(
            "query_id",
            "cell",
            (F.col("sub") * PQ_K + F.col("dcid")).alias("slot"),
            F.round(
                V.dot("qs", "qs") - 2 * V.dot("qs", "c") + F.col("cc"),
                KMEANS_DP,
            ).alias("d2p"),
        )
    )
    slots = spark.range(PQ_M * PQ_K).select(
        F.col("id").cast("int").alias("slot")
    )
    # NOT materialized: the LUT frame is consumed exactly once,
    # as the hinted broadcast below — folding it into the consumer's
    # BroadcastExchange builds it inside that one job, where the old
    # eager localCheckpoint paid ~12 driver-blocking AQE/broadcast jobs
    # per pipeline construction for the same work.
    lut_arr = (
        probe_cells.select("query_id", "cell", "probe_rank")
        .crossJoin(F.broadcast(slots))
        .join(lut_vals, ["query_id", "cell", "slot"], "left")
        .na.fill({"d2p": 0.0})
        .groupBy("query_id", "cell", "probe_rank")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("slot", "d2p"))
            ).alias("sl")
        )
        .select(
            "query_id",
            "cell",
            "probe_rank",
            F.expr("transform(sl, s -> s.d2p)").alias("lut"),
        )
    )
    return (
        cells.select("vec_id", "cell")
        .join(codes, "vec_id")
        .join(F.broadcast(lut_arr), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "cell",
            "probe_rank",
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), cast(0 as double), "
                f"(acc, m) -> acc + lut[m * {PQ_K} + codes[m]])"
            ).alias("est_raw"),
        )
    )


def embedding_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the two ANN halves composed into the genuine FAISS
    shape: a COARSE quantizer (deterministic
    FIXED-BUDGET centroid pick — {nc} cells regardless of corpus size,
    so assignment is O(N·K) and cells grow in size, the deployment
    model — with L2 assignment: residual geometry is Euclidean)
    partitions the corpus
    into inverted lists; PRODUCT QUANTIZATION (`embedding_pq_adc_audit`
    machinery) is trained on the RESIDUALS x - c(x), so each vector is
    stored as its cell id + {m} one-byte codes; a query probes its
    {npq} nearest cells and scores candidates by ASYMMETRIC DISTANCE:
    per (query, cell) a {m}x{k} LUT of
    ||(q - c_cell)_sub - codeword||^2 is built once, and each
    candidate's distance estimate is a code-indexed LUT sum —
    ||q - x||^2 ~ ||(q - c) - (x - c)||^2 with the residual PQ-coded.

    Every step is deterministic and oracle-retrained: centroid pick by
    id, L2 cell assignment (distances rounded to {dp} dp, id
    tie-breaks), PQ init from the first {k} vectors' residuals,
    {it} decimal-exact Lloyd iterations, dense code renumber,
    skeleton-filled LUTs — the DuckDB oracle rebuilds BOTH quantizers
    and the full search, so a drift anywhere in the pipeline flips the
    hash. Output: top-{tk} per probe by estimated distance.

    Scale anatomy (the 100 TB plan): training shuffles k*subdim
    decimal partials per iteration (never corpus^2); encoding is one
    broadcast pass; the search reads only the PROBED cells' code lists
    (cell-partitioned in a real deployment, nprobe * avg-cell-size
    candidates), the LUT join is broadcast (probes x nprobe x {m}x{k}
    floats), and the scan side is map-only until the final bounded
    top-k window. The float vectors are touched only by training and
    encoding — retrieval runs entirely on 4-byte codes, which is what
    makes billion-vector serving fit in memory.

    Reference parity: none — the reference has no vector tier; this is
    the LLM-pipeline similarity-search scale path."""
    cand = _ivfpq_candidates(spark, sf_dir, IVF_NPROBE)
    w_est = Window.partitionBy("query_id").orderBy("est_raw", "vec_id")
    return (
        cand.withColumn("pos", F.row_number().over(w_est))
        .filter(F.col("pos") <= PQ_TOPK)
        .select(
            "query_id",
            "pos",
            "vec_id",
            "cell",
            F.round("est_raw", 6).alias("est_d2"),
        )
        .orderBy("query_id", "pos")
    )


REFINE_R = 50  # ADC shortlist depth handed to the exact re-ranker


def embedding_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ + REFINE — the production FAISS third stage
    (IndexRefineFlat): the coarse+PQ pipeline shortlists the top-{r}
    candidates per query by ADC estimate, then the ORIGINAL vectors of
    just those {r} ids are fetched and re-scored by exact L2, and the
    final top-{tk} is cut on exact distance. Compression error affects
    only which {r} candidates enter the shortlist, never their final
    ordering — the measured recall win over raw IVFPQ is adjudicated in
    `ann_recall_audit`'s ivfpq_refined row.

    Scale anatomy: the shortlist is N_PROBES x {r} ids — a BROADCAST
    against the vector table, so the exact re-rank is one map-side
    semi-join + {r} real distance computations per query (point lookups
    by id against a cell-partitioned store in a real deployment). The
    expensive full-precision vectors are touched for {r} rows per
    query, not per candidate-list — this is exactly the memory/recall
    trade FAISS ships."""
    cand = _ivfpq_candidates(spark, sf_dir, IVF_NPROBE)
    w_adc = Window.partitionBy("query_id").orderBy("est_raw", "vec_id")
    short = (
        cand.withColumn("r_adc", F.row_number().over(w_adc))
        .filter(F.col("r_adc") <= REFINE_R)
        .select("query_id", "vec_id", "cell")
    )
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("x"),
    )
    v = v.withColumn("xx", V.dot("x", "x"))
    qv = v.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("xx").alias("qxx"),
    )
    ex = (
        v.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            "cell",
            F.round(
                F.col("qxx") - 2 * V.dot("qx", "x") + F.col("xx"),
                KMEANS_DP,
            ).alias("d2"),
        )
    )
    w_ex = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        ex.withColumn("pos", F.row_number().over(w_ex))
        .filter(F.col("pos") <= PQ_TOPK)
        .select(
            "query_id",
            "pos",
            "vec_id",
            "cell",
            F.round("d2", 6).alias("exact_d2"),
        )
        .orderBy("query_id", "pos")
    )


embedding_ivfpq_refined.__doc__ = embedding_ivfpq_refined.__doc__.format(
    r=REFINE_R, tk=PQ_TOPK
)


embedding_ivfpq_search.__doc__ = embedding_ivfpq_search.__doc__.format(
    m=PQ_M, k=PQ_K, npq=IVF_NPROBE, dp=KMEANS_DP, it=PQ_ITERS,
    tk=PQ_TOPK, nc=IVFPQ_CENTS,
)


def _ivfpq_cand_parts(nprobe: int) -> list[str]:
    """CTE chain shared by every IVFPQ oracle: both quantizers trained,
    corpus encoded, `cand` = (query_id, vec_id, cell, probe_rank,
    est_raw) for the given nprobe — the SQL twin of
    `_ivfpq_candidates`."""
    sd, m, k, dim = PQ_SUBDIM, PQ_M, PQ_K, IVFPQ_DIM
    parts = [
        f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
      FROM embeddings),
vv AS (SELECT vec_id, x, list_dot_product(x, x) AS xx FROM v),
cent AS (SELECT vec_id AS ccid, x AS c, xx AS cc FROM vv
         WHERE vec_id < {IVFPQ_CENTS}),
asn AS (
  SELECT vv.vec_id, vv.x, cent.ccid, cent.c,
         ROW_NUMBER() OVER (
           PARTITION BY vv.vec_id
           ORDER BY ROUND(vv.xx - 2 * list_dot_product(vv.x, cent.c)
                          + cent.cc, {KMEANS_DP}), cent.ccid
         ) AS rn
  FROM vv CROSS JOIN cent
),
cells AS (
  SELECT vec_id, ccid AS cell,
         [x[i] - c[i] FOR i IN generate_series(1, {dim})] AS r
  FROM asn WHERE rn = 1
),
rsub AS (
  SELECT vec_id, g.m AS sub, r[g.m * {sd} + 1 : g.m * {sd} + {sd}] AS rs
  FROM cells, (SELECT unnest(generate_series(0, {m - 1})) AS m) g
),
sx AS (SELECT vec_id, sub, rs, list_dot_product(rs, rs) AS xx FROM rsub),
c0 AS (SELECT sub, vec_id AS cid, rs AS c FROM rsub
       WHERE vec_id < {k})"""
    ]
    for i in range(1, PQ_ITERS + 2):
        parts.append(
            f"""a{i} AS (
  SELECT sx.vec_id, sx.sub, sx.rs, sx.xx, c.cid,
         ROUND(sx.xx - 2 * list_dot_product(sx.rs, c.c)
               + list_dot_product(c.c, c.c), {KMEANS_DP}) AS d2
  FROM sx JOIN c{i - 1} c ON c.sub = sx.sub
),
s{i} AS (
  SELECT vec_id, sub, rs, cid, d2
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d2, cid) AS rn FROM a{i})
  WHERE rn = 1
)"""
        )
        if i <= PQ_ITERS:
            parts.append(
                f"""e{i} AS (
  SELECT sub, cid, generate_subscripts(rs, 1) - 1 AS pos,
         unnest(rs) AS val
  FROM s{i}
),
m{i} AS (
  SELECT sub, cid, pos,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), {KMEANS_DP}) AS m
  FROM e{i} GROUP BY 1, 2, 3
),
c{i} AS (SELECT sub, cid, list(m ORDER BY pos) AS c
         FROM m{i} GROUP BY 1, 2)"""
            )
    last_c = f"c{PQ_ITERS}"
    last_s = f"s{PQ_ITERS + 1}"
    parts.append(
        f"""dn AS (
  SELECT sub, cid,
         ROW_NUMBER() OVER (PARTITION BY sub ORDER BY cid) - 1 AS dcid
  FROM {last_c}
),
codes AS (
  SELECT s.vec_id, list(d.dcid ORDER BY s.sub) AS codes
  FROM {last_s} s JOIN dn d ON d.sub = s.sub AND d.cid = s.cid
  GROUP BY 1
),
pc AS (
  SELECT vec_id AS query_id, ccid AS cell, rn AS probe_rank,
         [x[i] - c[i] FOR i IN generate_series(1, {dim})] AS qr
  FROM asn WHERE vec_id < {N_PROBES} AND rn <= {nprobe}
),
qsub AS (
  SELECT query_id, cell, g.m AS sub,
         qr[g.m * {sd} + 1 : g.m * {sd} + {sd}] AS qs
  FROM pc, (SELECT unnest(generate_series(0, {m - 1})) AS m) g
),
lut_vals AS (
  SELECT q.query_id, q.cell, c.sub * {k} + d.dcid AS slot,
         ROUND(list_dot_product(q.qs, q.qs)
               - 2 * list_dot_product(q.qs, c.c)
               + list_dot_product(c.c, c.c), {KMEANS_DP}) AS d2p
  FROM qsub q
  JOIN {last_c} c ON c.sub = q.sub
  JOIN dn d ON d.sub = c.sub AND d.cid = c.cid
),
lut_arr AS (
  SELECT g.query_id, g.cell, g.probe_rank,
         list(COALESCE(l.d2p, 0.0) ORDER BY g.slot) AS lut
  FROM (SELECT query_id, cell, probe_rank, s.slot
        FROM pc, (SELECT unnest(generate_series(0, {m * k - 1}))
                  AS slot) s) g
  LEFT JOIN lut_vals l ON l.query_id = g.query_id
                      AND l.cell = g.cell AND l.slot = g.slot
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT l.query_id, cl.vec_id, cl.cell, l.probe_rank,
         list_sum([l.lut[i * {k} + co.codes[i + 1] + 1]
                   FOR i IN generate_series(0, {m - 1})]) AS est_raw
  FROM cells cl
  JOIN codes co ON co.vec_id = cl.vec_id
  JOIN lut_arr l ON l.cell = cl.cell
  WHERE cl.vec_id <> l.query_id
)"""
    )
    return parts


def _ivfpq_sql() -> str:
    parts = _ivfpq_cand_parts(IVF_NPROBE)
    parts.append(
        """rk AS (
  SELECT query_id, vec_id, cell, est_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY est_raw, vec_id) AS pos
  FROM cand
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, pos, vec_id, cell, ROUND(est_raw, 6) AS est_d2
FROM rk WHERE pos <= {PQ_TOPK}
ORDER BY query_id, pos
"""
    )


EMBEDDING_IVFPQ_SEARCH_SQL = _ivfpq_sql()


def _ivfpq_refined_sql() -> str:
    parts = _ivfpq_cand_parts(IVF_NPROBE)
    parts.append(
        f"""short AS (
  SELECT query_id, vec_id, cell
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY est_raw, vec_id) AS r_adc
        FROM cand)
  WHERE r_adc <= {REFINE_R}
),
ex AS (
  SELECT s.query_id, s.vec_id, s.cell,
         ROUND(q.xx - 2 * list_dot_product(q.x, t.x) + t.xx,
               {KMEANS_DP}) AS d2
  FROM short s
  JOIN vv t ON t.vec_id = s.vec_id
  JOIN vv q ON q.vec_id = s.query_id
),
rk2 AS (
  SELECT query_id, vec_id, cell, d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY d2, vec_id) AS pos
  FROM ex
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, pos, vec_id, cell, ROUND(d2, 6) AS exact_d2
FROM rk2 WHERE pos <= {PQ_TOPK}
ORDER BY query_id, pos
"""
    )


EMBEDDING_IVFPQ_REFINED_SQL = _ivfpq_refined_sql()


def _ivfpq_cand_full_sql(nprobe: int) -> str:
    """Complete SELECT over the candidate CTE chain — embeddable as a
    subquery (the audit derives every nprobe sweep point from ONE
    nprobe-max run by cutting probe_rank, mirroring the Spark side)."""
    return (
        "WITH "
        + ",\n".join(_ivfpq_cand_parts(nprobe))
        + "\nSELECT query_id, vec_id, cell, probe_rank, est_raw FROM cand"
    )


ANN_RECALL_AUDIT_SQL = f"""
WITH exact_k AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id
         ) AS rn
  FROM ({EMBEDDING_TOPK_BRUTEFORCE_SQL}) x
),
base AS (SELECT query_id, vec_id FROM exact_k WHERE rn <= {RECALL_K}),
ivf AS (SELECT query_id, vec_id FROM ({EMBEDDING_ANN_IVF_SQL}) y),
pqc AS (
  SELECT * FROM ({_ivfpq_cand_full_sql(max(RECALL_NPROBE_SWEEP))}) t
),
ipq AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY est_raw, vec_id) AS rn
        FROM pqc WHERE probe_rank <= {IVF_NPROBE})
  WHERE rn <= {RECALL_K}
),
ipq1 AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY est_raw, vec_id) AS rn
        FROM pqc WHERE probe_rank <= 1)
  WHERE rn <= {RECALL_K}
),
ipq4 AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY est_raw, vec_id) AS rn
        FROM pqc WHERE probe_rank <= 4)
  WHERE rn <= {RECALL_K}
),
vv2 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS xx
  FROM embeddings
),
shortr AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY est_raw, vec_id) AS r_adc
        FROM pqc WHERE probe_rank <= {IVF_NPROBE})
  WHERE r_adc <= {REFINE_R}
),
refd AS (
  SELECT query_id, vec_id
  FROM (SELECT s.query_id, s.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY s.query_id
                 ORDER BY ROUND(q.xx - 2 * list_dot_product(q.x, t.x)
                                + t.xx, {KMEANS_DP}), s.vec_id
               ) AS rn
        FROM shortr s
        JOIN vv2 t ON t.vec_id = s.vec_id
        JOIN vv2 q ON q.vec_id = s.query_id)
  WHERE rn <= {RECALL_K}
),
bkt AS (
  SELECT vec_id AS query_id, neighbor_id AS vec_id
  FROM ({EMBEDDING_ANN_BUCKETED_SQL}) z
  WHERE vec_id < {N_PROBES}
),
mp AS (
  SELECT vec_id AS query_id, neighbor_id AS vec_id
  FROM ({EMBEDDING_ANN_MULTIPROBE_SQL}) m
  WHERE vec_id < {N_PROBES}
),
q AS (SELECT DISTINCT query_id FROM base),
counts AS (
  SELECT 'ivf' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT i.query_id, COUNT(*) AS n
    FROM ivf i JOIN base b
      ON i.query_id = b.query_id AND i.vec_id = b.vec_id
    GROUP BY i.query_id
  ) h ON h.query_id = q.query_id
  UNION ALL
  SELECT 'ivfpq' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT p.query_id, COUNT(*) AS n
    FROM ipq p JOIN base b
      ON p.query_id = b.query_id AND p.vec_id = b.vec_id
    GROUP BY p.query_id
  ) h ON h.query_id = q.query_id
  UNION ALL
  SELECT 'ivfpq_np1' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT p.query_id, COUNT(*) AS n
    FROM ipq1 p JOIN base b
      ON p.query_id = b.query_id AND p.vec_id = b.vec_id
    GROUP BY p.query_id
  ) h ON h.query_id = q.query_id
  UNION ALL
  SELECT 'ivfpq_np4' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT p.query_id, COUNT(*) AS n
    FROM ipq4 p JOIN base b
      ON p.query_id = b.query_id AND p.vec_id = b.vec_id
    GROUP BY p.query_id
  ) h ON h.query_id = q.query_id
  UNION ALL
  SELECT 'ivfpq_refined' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT p.query_id, COUNT(*) AS n
    FROM refd p JOIN base b
      ON p.query_id = b.query_id AND p.vec_id = b.vec_id
    GROUP BY p.query_id
  ) h ON h.query_id = q.query_id
  UNION ALL
  SELECT 'bucket' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT k.query_id, COUNT(*) AS n
    FROM bkt k JOIN base b
      ON k.query_id = b.query_id AND k.vec_id = b.vec_id
    GROUP BY k.query_id
  ) h ON h.query_id = q.query_id
  UNION ALL
  SELECT 'multiprobe' AS method, q.query_id, COALESCE(h.n, 0) AS n_hit
  FROM q LEFT JOIN (
    SELECT m.query_id, COUNT(*) AS n
    FROM mp m JOIN base b
      ON m.query_id = b.query_id AND m.vec_id = b.vec_id
    GROUP BY m.query_id
  ) h ON h.query_id = q.query_id
)
SELECT method, query_id, {RECALL_K} AS k, n_hit,
       ROUND(n_hit / {RECALL_K}.0, 4) AS recall,
       n_hit / {RECALL_K}.0 >= {RECALL_FLOOR} AS recall_floor_met
FROM counts
ORDER BY method, query_id
"""


# -------------------------------------- clustered-fixture nprobe curve

CLUSTERED_DP = KMEANS_DP  # shared rounding policy kills cross-engine ulp
CLUSTERED_NPROBE_SWEEP = (1, 2, 4)


def ann_nprobe_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe recall/cost TRADEOFF on a CLUSTERED fixture:
    `ann_recall_audit`'s sweep is
    honestly FLAT on the near-isotropic synthetic embeddings (its
    docstring discloses why), so this query derives a clustered
    embedding table IN-PLAN — deterministically, from existing columns,
    no rand(): each vector is shrunk halfway toward its label centroid
    (cv = round(centroid + (v - centroid)/2, {dp}); centroids are the
    per-(label, pos) decimal-exact means, the `lang_centroid_similarity`
    accumulation) — and runs an IVF-Flat nprobe sweep on it, with the
    label centroids as the coarse quantizer cells.

    Structure guarantees monotonicity (candidates at nprobe n are a
    SUPERSET of nprobe n-1, ranked by exact distance, so recall is
    non-decreasing); the CLUSTERED geometry makes the curve
    informative: true top-{k} neighbors near cluster boundaries live in
    the 2nd/3rd-nearest cells, so each extra probe buys real recall.
    Measured at sf0.01: mean recall ≈ 0.21 (np1) → 0.42 (np2) → 0.67
    (np4) — the textbook IVF tuning curve, each point adjudicated by
    the oracle's full recomputation (centroids, shrink, cell ranking,
    exact yardstick, every sweep cut).

    Cost shape (the part that matters at 100 TB): ONE distance frame —
    every (query, vector) pair with its exact distance AND the
    vector's cell rank for that query — feeds the exact yardstick and
    every sweep point by probe_rank filters; the sweep costs filters,
    not re-scans (the `ann_recall_audit` one-pipeline rule). Queries
    and the |cells| centroid table broadcast; the N x {q} distance
    computation is the one map-only heavy stage."""
    from myserver_datawarehouse_spark.session import materialize

    raw = load_table(spark, sf_dir, "embeddings")
    el = raw.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    )
    cent = el.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    cvel = el.join(cent, ["label", "pos"]).select(
        "vec_id",
        "label",
        "pos",
        F.round(
            F.col("c") + (F.col("v").cast("double") - F.col("c")) / 2,
            CLUSTERED_DP,
        ).alias("cv"),
    )
    cvv = (
        cvel.groupBy("vec_id", "label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("sc"))
        .select(
            "vec_id",
            "label",
            F.expr("transform(sc, x -> x.cv)").alias("x"),
        )
        .withColumn("xx", V.dot("x", "x"))
    )
    cvv = materialize(cvv)
    cents = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("sc"))
        .select("label", F.expr("transform(sc, x -> x.c)").alias("cx"))
        .withColumn("cxx", V.dot("cx", "cx"))
    )
    q = cvv.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("xx").alias("qxx"),
    )
    cellrank = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "label",
            F.round(
                F.col("qxx") - 2 * V.dot("qx", "cx") + F.col("cxx"),
                CLUSTERED_DP,
            ).alias("d2c"),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2c", "label")
            ),
        )
        .select("query_id", "label", "probe_rank")
    )
    d2f = (
        cvv.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(
                F.col("qxx") - 2 * V.dot("qx", "x") + F.col("xx"),
                CLUSTERED_DP,
            ).alias("d2"),
        )
        .join(F.broadcast(cellrank), ["query_id", "label"])
    )
    d2f = materialize(d2f)
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    exact = (
        d2f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        .select("query_id", "vec_id")
    )
    legs = None
    for np_ in CLUSTERED_NPROBE_SWEEP:
        leg = (
            d2f.filter(F.col("probe_rank") <= np_)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= RECALL_K)
            .select(
                F.lit(np_).alias("nprobe"), "query_id", "vec_id"
            )
        )
        legs = leg if legs is None else legs.unionByName(leg)
    h = (
        legs.join(exact, ["query_id", "vec_id"], "left_semi")
        .groupBy("nprobe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    grid = (
        q.select("query_id")
        .select(
            F.explode(
                F.array(*[F.lit(n) for n in CLUSTERED_NPROBE_SWEEP])
            ).alias("nprobe"),
            "query_id",
        )
    )
    out = grid.join(h, ["nprobe", "query_id"], "left").select(
        "nprobe",
        "query_id",
        F.lit(RECALL_K).alias("k"),
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
    )
    return out.select(
        "nprobe",
        "query_id",
        "k",
        "n_hit",
        F.round(F.col("n_hit") / F.lit(RECALL_K), 4).alias("recall"),
    ).orderBy("nprobe", "query_id")


ann_nprobe_clustered.__doc__ = ann_nprobe_clustered.__doc__.format(
    dp=CLUSTERED_DP, k=RECALL_K, q=N_PROBES
)

ANN_NPROBE_CLUSTERED_SQL = f"""
WITH el AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM el GROUP BY 1, 2
),
cvel AS (
  SELECT el.vec_id, el.label, el.pos,
         ROUND(c + (CAST(v AS DOUBLE) - c) / 2, {CLUSTERED_DP}) AS cv
  FROM el JOIN cent ON el.label = cent.label AND el.pos = cent.pos
),
cvv AS (
  SELECT vec_id, label, list(cv ORDER BY pos) AS x
  FROM cvel GROUP BY 1, 2
),
cvx AS (
  SELECT vec_id, label, x, list_dot_product(x, x) AS xx FROM cvv
),
cents AS (
  SELECT label, list(c ORDER BY pos) AS cx FROM cent GROUP BY 1
),
centx AS (
  SELECT label, cx, list_dot_product(cx, cx) AS cxx FROM cents
),
q AS (
  SELECT vec_id AS query_id, x AS qx, xx AS qxx
  FROM cvx WHERE vec_id < {N_PROBES}
),
cellrank AS (
  SELECT query_id, label,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY ROUND(qxx - 2 * list_dot_product(qx, cx) + cxx,
                          {CLUSTERED_DP}), label) AS probe_rank
  FROM q CROSS JOIN centx
),
d2f AS (
  SELECT q.query_id, v.vec_id, v.label,
         ROUND(q.qxx - 2 * list_dot_product(q.qx, v.x) + v.xx,
               {CLUSTERED_DP}) AS d2,
         r.probe_rank
  FROM cvx v
  CROSS JOIN q
  JOIN cellrank r ON r.query_id = q.query_id AND r.label = v.label
  WHERE v.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d2, vec_id) AS rn
    FROM d2f
  ) WHERE rn <= {RECALL_K}
),
legs AS (
  {" UNION ALL ".join(
    f'''SELECT {np_} AS nprobe, query_id, vec_id FROM (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, vec_id) AS rn
      FROM d2f WHERE probe_rank <= {np_}
    ) WHERE rn <= {RECALL_K}'''
    for np_ in CLUSTERED_NPROBE_SWEEP
  )}
),
h AS (
  SELECT l.nprobe, l.query_id, COUNT(*) AS n_hit
  FROM legs l JOIN exact e
    ON e.query_id = l.query_id AND e.vec_id = l.vec_id
  GROUP BY 1, 2
),
grid AS (
  SELECT s.nprobe, q.query_id
  FROM q CROSS JOIN (
    SELECT unnest([{", ".join(str(n) for n in CLUSTERED_NPROBE_SWEEP)}])
      AS nprobe) s
)
SELECT CAST(g.nprobe AS INT) AS nprobe, g.query_id AS query_id,
       {RECALL_K} AS k,
       CAST(COALESCE(h.n_hit, 0) AS INT) AS n_hit,
       ROUND(COALESCE(h.n_hit, 0) / {RECALL_K}.0, 4) AS recall
FROM grid g
LEFT JOIN h ON h.nprobe = g.nprobe AND h.query_id = g.query_id
ORDER BY 1, 2
"""


# ------------------------------------- incremental IVF index ingest

INGEST_BATCH_MOD = 10  # vec_id % 10 in {8,9} = the arriving batch


def ivf_incremental_ingest_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental IVF index INGEST — the maintenance operator a
    production vector store runs between retrains: new vectors are
    assigned to the EXISTING trained quantizer (one broadcast of the
    centroid table, map-only over the batch — no retrain, no reshuffle
    of the standing inverted lists) and appended to their cells. The
    audit adjudicates both halves of the contract:

    1. The incremental state itself: per cell, how many base vectors,
       how many batch arrivals, the post-ingest total (assignment is a
       pure per-vector function of (vector, centroids), so the
       incremental union IS the rebuild under the same quantizer —
       what the audit pins is the exact cell routing of every arrival).
    2. The DRIFT signal that tells the operator when retraining is
       due: a retrained quantizer (here: the deterministic stand-in —
       the full corpus's first {cents} ids, a SUPERSET of the
       base-trained set, so 'new centroid candidates arrived with the
       batch') would pull `n_would_move` of each cell's members to a
       strictly better (higher-cosine) NEW centroid. Rising move-share
       = the standing quantizer is going stale — the monitored number
       behind every re-index decision.

    Scale: two broadcast-centroid assignment passes (map-only; the
    argmax is a per-vector window over {cents}ish broadcast rows, no
    corpus shuffle) + one per-cell rollup. The batch pass touches ONLY
    batch rows — at 100 TB the standing index is never rewritten, the
    exact property that makes nightly embedding ingest affordable."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", V.norm2("embedding").alias("nrm")
    )
    is_batch = (F.col("vec_id") % INGEST_BATCH_MOD) >= 8
    # Base-trained quantizer: the first IVF_CENTS ids PRESENT IN BASE.
    cent_a = _ivf_centroids(e, (F.col("vec_id") < IVF_CENTS) & ~is_batch)
    # 'Retrained' quantizer: the full corpus's first IVF_CENTS ids —
    # a superset (batch ids < IVF_CENTS become new centroid candidates).
    cent_b = _ivf_centroids(e, F.col("vec_id") < IVF_CENTS)
    ranked = _ivf_ranker(e, 6)

    def assign(cent):
        return (
            ranked(cent, "vec_id", is_batch.alias("is_batch"))
            .filter(F.col("rn") == 1)
            .select("vec_id", "is_batch", "cid", "cent_cos")
        )

    a = assign(cent_a)
    b = assign(cent_b).select(
        F.col("vec_id").alias("bv"),
        F.col("cid").alias("b_cid"),
        F.col("cent_cos").alias("b_cos"),
    )
    joined = a.join(b, F.col("vec_id") == F.col("bv")).select(
        "vec_id",
        "is_batch",
        F.col("cid").alias("cell"),
        # moved = the retrained quantizer routes this vector to a NEW
        # centroid at STRICTLY better cosine (rounded — ties stay put,
        # matching the assignment's own cid tie-break).
        (
            (F.col("b_cid") != F.col("cid"))
            & (F.col("b_cos") > F.col("cent_cos"))
        ).alias("would_move"),
    )
    return (
        joined.groupBy("cell")
        .agg(
            F.sum((~F.col("is_batch")).cast("long")).alias("n_base"),
            F.sum(F.col("is_batch").cast("long")).alias("n_batch"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("would_move").cast("long")).alias("n_would_move"),
            F.round(
                F.sum(F.col("would_move").cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("move_share"),
        )
        .orderBy("cell")
    )


ivf_incremental_ingest_audit.__doc__ = (
    ivf_incremental_ingest_audit.__doc__.format(cents=IVF_CENTS)
)

# Shared IVF assignment CTE fragment (e / cent_a / cent_b / asn_a /
# asn_b): the two-quantizer broadcast assignment with its exact
# rounding and tie-break rules, single-sourced so the batch audit's
# oracle and the streaming ingest's oracle
# (plans/streaming_plans.STREAMING_IVF_INGEST_SQL) can never drift.
IVF_ASSIGN_CTES_SQL = f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm,
         (vec_id % {INGEST_BATCH_MOD}) >= 8 AS is_batch
  FROM embeddings
),
cent_a AS (
  SELECT vec_id AS cid, vec AS c, nrm AS nc FROM e
  WHERE vec_id < {IVF_CENTS} AND NOT is_batch
),
cent_b AS (
  SELECT vec_id AS cid, vec AS c, nrm AS nc FROM e
  WHERE vec_id < {IVF_CENTS}
),
asn_a AS (
  SELECT vec_id, is_batch, cid, cent_cos FROM (
    SELECT e.vec_id, e.is_batch, cent_a.cid,
           ROUND(CASE WHEN e.nrm > 0 AND cent_a.nc > 0
                 THEN list_dot_product(e.vec, cent_a.c)
                      / (e.nrm * cent_a.nc) END, 6) AS cent_cos,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(CASE WHEN e.nrm > 0 AND cent_a.nc > 0
                            THEN list_dot_product(e.vec, cent_a.c)
                                 / (e.nrm * cent_a.nc) END, 6)
                        DESC NULLS LAST,
                      cent_a.cid) AS rn
    FROM e CROSS JOIN cent_a
  ) WHERE rn = 1
),
asn_b AS (
  SELECT vec_id, cid AS b_cid, cent_cos AS b_cos FROM (
    SELECT e.vec_id, cent_b.cid,
           ROUND(CASE WHEN e.nrm > 0 AND cent_b.nc > 0
                 THEN list_dot_product(e.vec, cent_b.c)
                      / (e.nrm * cent_b.nc) END, 6) AS cent_cos,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(CASE WHEN e.nrm > 0 AND cent_b.nc > 0
                            THEN list_dot_product(e.vec, cent_b.c)
                                 / (e.nrm * cent_b.nc) END, 6)
                        DESC NULLS LAST,
                      cent_b.cid) AS rn
    FROM e CROSS JOIN cent_b
  ) WHERE rn = 1
)"""

IVF_INCREMENTAL_INGEST_AUDIT_SQL = f"""
WITH {IVF_ASSIGN_CTES_SQL},
j AS (
  SELECT a.vec_id, a.is_batch, a.cid AS cell,
         (b.b_cid <> a.cid AND b.b_cos > a.cent_cos) AS would_move
  FROM asn_a a JOIN asn_b b USING (vec_id)
)
SELECT cell,
       CAST(SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_base,
       CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_batch,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN would_move THEN 1 ELSE 0 END) AS BIGINT)
         AS n_would_move,
       ROUND(SUM(CASE WHEN would_move THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS move_share
FROM j
GROUP BY cell
ORDER BY cell
"""


# -------------------------------------------- IVF batch re-cluster audit

# The batch complement of streaming_ivf_ingest's `n_would_move` drift
# monitor: when the drift number says
# "retrain", a production ANN service runs exactly this job — retrain
# the coarse quantizer on seed+ingested corpus, then quantify what the
# retrain bought (reassignment volume, cell balance, quantization
# error, recall against the exact yardstick) before swapping indexes.
RECLUSTER_TOP_K = IVF_TOP_K  # recall@3, the ANN-tier yardstick depth
RECLUSTER_NPROBE = IVF_NPROBE


def ivf_recluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance audit: BEFORE = Lloyd quantizer trained on
    the seed corpus only (vec_id % {INGEST_BATCH_MOD} < 8, the
    streaming_ivf_ingest seed), AFTER = retrained on seed+ingested.
    Both index the FULL corpus; the output is one row per phase with
    n_vecs, cells used, max cell size, mean assignment d2 (quantization
    error) and recall@{RECLUSTER_TOP_K} of an nprobe={RECLUSTER_NPROBE}
    IVF search against the exact L2 top-k — plus how many vectors the
    retrain reassigns.

    Plan shape (100 TB): training reuses the `kmeans_ivf_clusters`
    Lloyd machinery (broadcast k-row centroid join per assignment, k x
    dim decimal-mean update — shuffle volume k·dim partials, never
    corpus²); the full-corpus (vec_id, x, xx) frame, both trained
    centroid sets, both final assignment frames and the exact top-k
    yardstick are `materialize()`d because each feeds 2+ downstream
    consumers (cell stats, reassignment join, the recall probe arms) —
    without the cuts every consumer re-runs the Lloyd chain. Probe and
    centroid frames ride broadcasts; the per-vec top-1 windows are
    bounded by k (assignment) or nprobe·cell (search). Determinism:
    the `kmeans` dot-identity d2 ROUND({KMEANS_DP}), decimal centroid
    means, ties on (d2, cid) / (d2, vec_id) everywhere.
    """
    from myserver_datawarehouse_spark.session import materialize

    e = load_table(spark, sf_dir, "embeddings")
    vx = materialize(
        e.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias(
                "x"
            ),
            ((F.col("vec_id") % INGEST_BATCH_MOD) >= 8).alias("is_batch"),
        ).withColumn("xx", V.dot("x", "x"))
    )
    cents0 = vx.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("x").alias("c")
    )
    vx_seed = vx.filter(~F.col("is_batch"))
    cb, ca = cents0, cents0
    for _ in range(KMEANS_ITERS):
        cb = _kmeans_update(_kmeans_assign(vx_seed, cb))
        ca = _kmeans_update(_kmeans_assign(vx, ca))
    cb, ca = materialize(cb), materialize(ca)
    asnb = materialize(_kmeans_assign(vx, cb))
    asna = materialize(_kmeans_assign(vx, ca))

    probes = vx.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("q"),
        F.col("xx").alias("qxx"),
    )
    pair_d2 = F.round(
        F.col("qxx") - 2 * V.dot("q", "x") + F.col("xx"), KMEANS_DP
    )

    def top_by_d2(cand: DataFrame) -> DataFrame:
        # (query_id, vec_id) of each probe's RECLUSTER_TOP_K nearest
        # candidates by rounded squared distance, vec_id tie-break.
        return (
            cand.filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", pair_d2.alias("d2"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy("d2", "vec_id")
                ),
            )
            .filter(F.col("rn") <= RECLUSTER_TOP_K)
            .select("query_id", "vec_id")
        )

    exact_topk = materialize(top_by_d2(vx.join(F.broadcast(probes))))

    def phase_stats(asn: DataFrame) -> DataFrame:
        cells = asn.groupBy("cid").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("d2").cast("decimal(28,14)")).alias("sd"),
        )
        return cells.agg(
            F.sum("n").alias("n_vecs"),
            F.count(F.lit(1)).alias("n_cells_used"),
            F.max("n").alias("max_cell"),
            F.round(
                F.sum("sd").cast("double") / F.sum("n"), 6
            ).alias("avg_d2"),
        )

    def phase_recall(asn: DataFrame, cents: DataFrame) -> DataFrame:
        cc = cents.select("cid", "c", V.dot("c", "c").alias("cc"))
        q_d2 = F.round(
            F.col("qxx") - 2 * V.dot("q", "c") + F.col("cc"), KMEANS_DP
        )
        pcells = (
            probes.crossJoin(F.broadcast(cc))
            .select("query_id", "q", "qxx", "cid", q_d2.alias("qd2"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy("qd2", "cid")
                ),
            )
            .filter(F.col("rn") <= RECLUSTER_NPROBE)
            .select("query_id", "q", "qxx", "cid")
        )
        topk = top_by_d2(
            asn.select("cid", "vec_id", "x", "xx").join(
                F.broadcast(pcells), "cid"
            )
        )
        return (
            topk.join(
                F.broadcast(exact_topk), ["query_id", "vec_id"], "left_semi"
            )
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.round(
                    F.col("n_hits")
                    / F.lit(float(N_PROBES * RECLUSTER_TOP_K)),
                    6,
                ).alias("recall_at_k")
            )
        )

    moved = (
        asnb.select("vec_id", F.col("cid").alias("cid_b"))
        .join(asna.select("vec_id", F.col("cid").alias("cid_a")), "vec_id")
        .agg(
            F.sum((F.col("cid_b") != F.col("cid_a")).cast("long")).alias(
                "n_reassigned"
            )
        )
    )
    row_b = (
        phase_stats(asnb)
        .crossJoin(F.broadcast(phase_recall(asnb, cb)))
        .select(
            F.lit("before").alias("phase"),
            "n_vecs",
            "n_cells_used",
            "max_cell",
            "avg_d2",
            "recall_at_k",
            F.lit(0).cast("long").alias("n_reassigned"),
        )
    )
    row_a = (
        phase_stats(asna)
        .crossJoin(F.broadcast(phase_recall(asna, ca)))
        .crossJoin(F.broadcast(moved))
        .select(
            F.lit("after").alias("phase"),
            "n_vecs",
            "n_cells_used",
            "max_cell",
            "avg_d2",
            "recall_at_k",
            "n_reassigned",
        )
    )
    return row_b.unionByName(row_a).orderBy("phase")


def _recluster_sql() -> str:
    """Oracle twin of `ivf_recluster_audit`: the `_kmeans_sql` Lloyd
    CTE pattern instantiated twice (seed-trained / full-retrained),
    then the same full-corpus assignments, stats, recall arms and
    reassignment join."""
    parts = [
        f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
             (vec_id % {INGEST_BATCH_MOD}) >= 8 AS is_batch
      FROM embeddings),
vx AS (SELECT vec_id, x, list_dot_product(x, x) AS xx, is_batch FROM v),
cb0 AS (SELECT vec_id AS cid, x AS c FROM vx WHERE vec_id < {KMEANS_K}),
ca0 AS (SELECT vec_id AS cid, x AS c FROM vx WHERE vec_id < {KMEANS_K})"""
    ]
    for tag, flt in (("b", " WHERE NOT vx.is_batch"), ("a", "")):
        for i in range(1, KMEANS_ITERS + 1):
            parts.append(
                f"""s{tag}{i} AS (
  SELECT vec_id, x, cid FROM (
    SELECT vx.vec_id, vx.x, c.cid,
           ROW_NUMBER() OVER (PARTITION BY vx.vec_id ORDER BY
             ROUND(vx.xx - 2 * list_dot_product(vx.x, c.c)
                   + list_dot_product(c.c, c.c), {KMEANS_DP}), c.cid) AS rn
    FROM vx CROSS JOIN c{tag}{i - 1} c{flt})
  WHERE rn = 1
),
m{tag}{i} AS (
  SELECT cid, generate_subscripts(x, 1) - 1 AS pos, unnest(x) AS val
  FROM s{tag}{i}
),
c{tag}{i} AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), {KMEANS_DP}) AS m
    FROM m{tag}{i} GROUP BY 1, 2)
  GROUP BY 1
)"""
            )
    last = KMEANS_ITERS
    for tag in ("b", "a"):
        parts.append(
            f"""f{tag} AS (
  SELECT vec_id, x, xx, cid, d2 FROM (
    SELECT vx.vec_id, vx.x, vx.xx, c.cid,
           ROUND(vx.xx - 2 * list_dot_product(vx.x, c.c)
                 + list_dot_product(c.c, c.c), {KMEANS_DP}) AS d2,
           ROW_NUMBER() OVER (PARTITION BY vx.vec_id ORDER BY
             ROUND(vx.xx - 2 * list_dot_product(vx.x, c.c)
                   + list_dot_product(c.c, c.c), {KMEANS_DP}), c.cid) AS rn
    FROM vx CROSS JOIN c{tag}{last} c)
  WHERE rn = 1
),
stat{tag} AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_vecs,
         COUNT(*) AS n_cells_used,
         CAST(MAX(n) AS BIGINT) AS max_cell,
         ROUND(CAST(SUM(sd) AS DOUBLE) / SUM(n), 6) AS avg_d2
  FROM (SELECT cid, COUNT(*) AS n,
               SUM(CAST(d2 AS DECIMAL(28,14))) AS sd
        FROM f{tag} GROUP BY 1)
),
pc{tag} AS (
  SELECT query_id, q, qxx, cid FROM (
    SELECT p.query_id, p.q, p.qxx, c.cid,
           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
             ROUND(p.qxx - 2 * list_dot_product(p.q, c.c)
                   + list_dot_product(c.c, c.c), {KMEANS_DP}), c.cid) AS rn
    FROM probes p CROSS JOIN c{tag}{last} c)
  WHERE rn <= {RECLUSTER_NPROBE}
),
top{tag} AS (
  SELECT query_id, vec_id FROM (
    SELECT pc.query_id, f.vec_id,
           ROW_NUMBER() OVER (PARTITION BY pc.query_id ORDER BY
             ROUND(pc.qxx - 2 * list_dot_product(pc.q, f.x) + f.xx,
                   {KMEANS_DP}), f.vec_id) AS rn
    FROM f{tag} f JOIN pc{tag} pc USING (cid)
    WHERE f.vec_id <> pc.query_id)
  WHERE rn <= {RECLUSTER_TOP_K}
),
rec{tag} AS (
  SELECT ROUND(COUNT(*) / {float(N_PROBES * RECLUSTER_TOP_K)!r}, 6)
           AS recall_at_k
  FROM top{tag} JOIN ex USING (query_id, vec_id)
)"""
        )
    probes_ex = f"""probes AS (
  SELECT vec_id AS query_id, x AS q, xx AS qxx FROM vx
  WHERE vec_id < {N_PROBES}
),
ex AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, vx.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
             ROUND(p.qxx - 2 * list_dot_product(p.q, vx.x) + vx.xx,
                   {KMEANS_DP}), vx.vec_id) AS rn
    FROM vx CROSS JOIN probes p WHERE vx.vec_id <> p.query_id)
  WHERE rn <= {RECLUSTER_TOP_K}
)"""
    parts.insert(1 + 2 * KMEANS_ITERS, probes_ex)
    mv = """mv AS (
  SELECT CAST(SUM(CASE WHEN b.cid <> a.cid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_reassigned
  FROM fb b JOIN fa a USING (vec_id)
)"""
    parts.append(mv)
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT 'before' AS phase, n_vecs, n_cells_used, max_cell, avg_d2,
       recall_at_k, CAST(0 AS BIGINT) AS n_reassigned
FROM statb, recb
UNION ALL
SELECT 'after' AS phase, n_vecs, n_cells_used, max_cell, avg_d2,
       recall_at_k, n_reassigned
FROM stata, reca, mv
ORDER BY phase
"""
    )


IVF_RECLUSTER_AUDIT_SQL = _recluster_sql()


# ------------------------------------------- Matryoshka prefix-dim audit

# Matryoshka representation learning (Kusupati et al., NeurIPS 2022) trains
# embeddings whose PREFIXES are themselves usable embeddings; serving
# stacks exploit that by retrieving on a cheap prefix and reranking on the
# full vector.  This audit measures, per prefix width, how much of the
# full-dimension top-k the prefix retrieval preserves — the number a
# vector-store operator reads before choosing the serving width.
MRL_PREFIX_DIMS = [8, 16, 32, 64]  # 64 = full width, recall-1.0 self-check

# MRL-structured fixture: the synthetic embeddings
# are isotropic — every dimension carries equal energy — so prefix
# retrieval on the RAW vectors sits at the chance floor and the audit
# can't show the width/recall tradeoff it exists to measure.  A trained
# MRL encoder front-loads energy into the leading dimensions; the audit
# reproduces that structure DETERMINISTICALLY in-plan (no rand()) by
# scaling dimension i by MRL_DECAY**i, computed once in Python and fed
# to BOTH engines as identical double literals.  With decay 0.9 the
# squared-weight (inner-product-variance) mass of the first 8/16/32
# dims is 81.5% / 96.6% / 99.9% — a monotone, non-floor recall curve.
MRL_DECAY = 0.9
MRL_DIM = 64
MRL_SCALES = [round(MRL_DECAY**i, 12) for i in range(MRL_DIM)]

# DuckDB leg of the fixture: explicit 64-element list constructor
# (1-based), element-for-element the same double ops as the Spark
# zip_with below — float->double cast is exact, one IEEE multiply each.
_MRL_SCALED_DUCK = (
    "["
    + ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * {s!r}"
        for i, s in enumerate(MRL_SCALES)
    )
    + "]"
)


def _mrl_scaled(col: str):
    """Spark leg of the MRL fixture: per-dimension geometric scaling via
    zip_with against the literal scale array (the HOF path — see
    operators/vectors.py on why HOF beats unrolled element chains)."""
    scales = F.array(*[F.lit(s) for s in MRL_SCALES])
    return F.zip_with(
        F.col(col), scales, lambda x, s: x.cast("double") * s
    )


def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension retrieval audit: cosine top-{TOP_K}
    for {N_PROBES} probes at prefix widths {MRL_PREFIX_DIMS} vs the
    full-width ground truth, one row per width with recall@k and the
    mean FULL-width cosine of what the prefix actually retrieved (the
    quality actually served, not the truncated score that selected it).

    Runs on the MRL-structured fixture (dimension i scaled by
    {MRL_DECAY}**i, identical literal doubles in both engines): the raw
    synthetic vectors are isotropic, which pins every sub-full width at
    the chance floor; the deterministic energy-compaction transform
    restores the structure a trained MRL encoder has, so the curve
    shows the real width/recall tradeoff (monotone, rising to 1.0).

    Plan shape (100 TB): the probe matrix is broadcast and the corpus
    is scanned ONCE — the scored-and-ranked per-width top-k is
    `materialize()`d (executor-side lineage cut), so its four
    consumers (the 64-width ground-truth extract, the recall hit
    semi-join, the hits-per-width rollup, and the served-quality
    rollup) read the N_PROBES x |widths| x TOP_K checkpoint instead of
    each re-deriving the N_PROBES x corpus scored frame.  Every
    width's cosine comes out of the same pass via `slice` on the
    in-flight array (extra widths cost arithmetic on the in-flight
    row, never a second scan), and the 64-width leg reuses the
    full-cosine column rather than re-folding it.  The only shuffles
    are the per-(query, width) top-k windows over N_PROBES x corpus
    candidate rows and the |widths|-row rollup.
    Determinism: scores ROUND(6) before ranking, ties on vec_id, means
    accumulate in DECIMAL over 12-dp-rounded values (partition-order
    independent).
    """
    from myserver_datawarehouse_spark.session import materialize

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _mrl_scaled("embedding").alias("embedding")
    )
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    # the 64-width leg IS the full cosine (slice(q, 1, 64) == q), so it
    # reuses cos_full instead of paying a second independent 64-dim fold
    # on the hottest frame of the query
    legs = F.array(
        *[
            F.struct(
                F.lit(d).alias("prefix_dim"),
                F.round(
                    V.cosine(F.slice("q", 1, d), F.slice("embedding", 1, d)), 6
                ).alias("cos_prefix"),
            )
            for d in MRL_PREFIX_DIMS
            if d < 64
        ],
        F.struct(
            F.lit(64).alias("prefix_dim"),
            F.col("cos_full").alias("cos_prefix"),
        ),
    )
    scored = (
        e.join(F.broadcast(probes), F.col("query_id") != F.col("vec_id"))
        .withColumn("cos_full", F.round(V.cosine("q", "embedding"), 6))
        .select(
            "query_id",
            "vec_id",
            F.explode(legs).alias("leg"),
            "cos_full",
        )
        .select(
            "query_id",
            "vec_id",
            F.col("leg.prefix_dim").alias("prefix_dim"),
            F.col("leg.cos_prefix").alias("cos_prefix"),
            "cos_full",
        )
        .filter(F.col("cos_prefix").isNotNull())
    )
    w = Window.partitionBy("query_id", "prefix_dim").orderBy(
        F.col("cos_prefix").desc(), F.col("vec_id")
    )
    topk = materialize(
        scored.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= TOP_K
        )
    )
    gt = topk.filter(F.col("prefix_dim") == 64).select(
        F.col("query_id").alias("gt_query_id"),
        F.col("vec_id").alias("gt_vec_id"),
    )
    hit = topk.join(
        gt,
        (F.col("query_id") == F.col("gt_query_id"))
        & (F.col("vec_id") == F.col("gt_vec_id")),
        "left_semi",
    )
    dec = "decimal(28,14)"
    n_gt = TOP_K * N_PROBES
    hits_per_dim = hit.groupBy("prefix_dim").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        topk.groupBy("prefix_dim")
        .agg(
            F.count(F.lit(1)).alias("n_retrieved"),
            F.round(
                F.sum(F.round(F.col("cos_full"), 12).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_served_cosine"),
        )
        .join(hits_per_dim, "prefix_dim", "left")
        .select(
            "prefix_dim",
            "n_retrieved",
            # a width can legitimately recall NOTHING (tiny prefix on
            # untrained vectors) — report 0, don't drop the row
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(n_gt)), 6
            ).alias("recall_at_k"),
            "avg_served_cosine",
        )
        .orderBy("prefix_dim")
    )


_MRL_FULL_COS_SQL = """ROUND(CASE WHEN sqrt(list_dot_product(q, q)) > 0
                       AND sqrt(list_dot_product(v, v)) > 0
                 THEN list_dot_product(q, v)
                      / (sqrt(list_dot_product(q, q))
                         * sqrt(list_dot_product(v, v)))
                 END, 6)"""

# the 64-width leg reuses the full cosine (q[1:64] == q), mirroring the
# Spark plan's single full-width fold
_MRL_LEG_SQL = ",\n  ".join(
    [
        f"""leg_{d} AS (
    SELECT query_id, vec_id,
           ROUND(CASE WHEN sqrt(list_dot_product(q[1:{d}], q[1:{d}])) > 0
                       AND sqrt(list_dot_product(v[1:{d}], v[1:{d}])) > 0
                 THEN list_dot_product(q[1:{d}], v[1:{d}])
                      / (sqrt(list_dot_product(q[1:{d}], q[1:{d}]))
                         * sqrt(list_dot_product(v[1:{d}], v[1:{d}])))
                 END, 6) AS cos_prefix,
           {_MRL_FULL_COS_SQL} AS cos_full,
           {d} AS prefix_dim
    FROM pairs
  )"""
        for d in MRL_PREFIX_DIMS
        if d < 64
    ]
    + [
        f"""leg_64 AS (
    SELECT query_id, vec_id, cos_full AS cos_prefix, cos_full,
           64 AS prefix_dim
    FROM (SELECT query_id, vec_id, {_MRL_FULL_COS_SQL} AS cos_full
          FROM pairs)
  )"""
    ]
)

EMBEDDING_MATRYOSHKA_AUDIT_SQL = f"""
WITH mrl AS (
  SELECT vec_id, {_MRL_SCALED_DUCK} AS v FROM embeddings
),
p AS (
  SELECT vec_id AS query_id, v AS q
  FROM mrl WHERE vec_id < {N_PROBES}
),
e AS (SELECT vec_id, v FROM mrl),
pairs AS (
  SELECT query_id, vec_id, q, v FROM p CROSS JOIN e
  WHERE vec_id != query_id
),
  {_MRL_LEG_SQL},
legs AS (
  {" UNION ALL ".join(f"SELECT * FROM leg_{d}" for d in MRL_PREFIX_DIMS)}
),
topk AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id, prefix_dim
      ORDER BY cos_prefix DESC, vec_id
    ) AS rn
    FROM legs WHERE cos_prefix IS NOT NULL
  ) WHERE rn <= {TOP_K}
),
gt AS (
  SELECT query_id, vec_id FROM topk WHERE prefix_dim = 64
),
hits AS (
  SELECT t.prefix_dim, COUNT(*) AS n_hits
  FROM topk t SEMI JOIN gt g
    ON t.query_id = g.query_id AND t.vec_id = g.vec_id
  GROUP BY 1
)
SELECT t.prefix_dim,
       COUNT(*) AS n_retrieved,
       COALESCE(h.n_hits, 0) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / {float(TOP_K * N_PROBES)}, 6)
         AS recall_at_k,
       ROUND(CAST(SUM(CAST(ROUND(t.cos_full, 12) AS DECIMAL(28,14)))
                  AS DOUBLE) / COUNT(*), 6) AS avg_served_cosine
FROM topk t LEFT JOIN hits h ON t.prefix_dim = h.prefix_dim
GROUP BY t.prefix_dim, h.n_hits
ORDER BY t.prefix_dim
"""


# --------------------------------------- 1-bit binary quantization rerank

# Binary quantization (sign bit per dimension, Hamming-distance scan,
# exact rerank of the shortlist) is the 32x-compression end of the
# quantization spectrum this tier already covers at int8 (4x) and PQ
# (~16x).  The serving pattern is the one popularized by the
# RaBitQ/BQ literature and every vector store's "binary index" mode:
# popcount(XOR) over packed words is the fastest scan a CPU can do, and
# a full-precision rerank of the top candidates recovers most of the
# recall the 1-bit scores lose.
BQ_CAND = 32  # Hamming shortlist width reranked at full precision


def _packed_bits_sql_spark(col: str, lo: bool) -> str:
    """Spark-SQL expression packing 32 sign bits of `col` (0-based array)
    into one BIGINT — dims [0,32) when lo else [32,64)."""
    base = 0 if lo else 32
    return " + ".join(
        f"(CASE WHEN {col}[{base + i}] > 0"
        f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    )


def _packed_bits_sql_duck(col: str, lo: bool) -> str:
    """DuckDB expression packing 32 sign bits of `col` (1-based list)."""
    base = 1 if lo else 33
    return " + ".join(
        f"(CASE WHEN {col}[{base + i}] > 0"
        f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    )


def embedding_binary_hamming_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-bit binary-quantization search audit: per probe, scan by Hamming
    distance over sign-bit-packed BIGINT words (popcount(XOR) — the 32x
    compression index), shortlist the top {BQ_CAND}, rerank the shortlist
    by exact cosine, and flag each served row against the exact
    full-corpus top-{TOP_K} ground truth.

    Plan shape (100 TB): ONE corpus pass computes the packed words and
    the exact cosine for the broadcast probe set together; the scored
    N_PROBES x corpus frame is `materialize()`d (executor-side lineage
    cut) so the Hamming-shortlist/rerank windows and the ground-truth
    top-k window both read the checkpoint instead of each re-deriving
    the corpus scan (no second scan — in production the packed words
    are a stored 16-byte column and the full-precision leg reads only
    the shortlist).  Hamming is INTEGER arithmetic end-to-end —
    bit-for-bit deterministic across engines — and only the rerank
    cosine carries the usual ROUND(6) + vec_id tie-break discipline.
    """
    from myserver_datawarehouse_spark.session import materialize

    e = load_table(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        "embedding",
        F.expr(_packed_bits_sql_spark("embedding", lo=True)).alias("b_lo"),
        F.expr(_packed_bits_sql_spark("embedding", lo=False)).alias("b_hi"),
    )
    probes = packed.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
    )
    pairs = materialize(
        packed.join(F.broadcast(probes), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            (
                F.bit_count(F.col("b_lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("b_hi").bitwiseXOR(F.col("q_hi")))
            ).cast("int").alias("hamming"),
            F.round(V.cosine("q", "embedding"), 6).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    w_ham = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    served = (
        pairs.withColumn("rn_h", F.row_number().over(w_ham))
        .filter(F.col("rn_h") <= BQ_CAND)
        .withColumn("rn_c", F.row_number().over(w_cos))
        .filter(F.col("rn_c") <= TOP_K)
    )
    gt = (
        pairs.withColumn("rn_g", F.row_number().over(w_cos))
        .filter(F.col("rn_g") <= TOP_K)
        .select(
            F.col("query_id").alias("gt_query_id"),
            F.col("vec_id").alias("gt_vec_id"),
        )
    )
    return (
        served.join(
            gt,
            (F.col("query_id") == F.col("gt_query_id"))
            & (F.col("vec_id") == F.col("gt_vec_id")),
            "left",
        )
        .select(
            "query_id",
            "vec_id",
            "hamming",
            "cosine",
            F.col("gt_vec_id").isNotNull().alias("in_exact_topk"),
        )
        .orderBy("query_id", F.col("cosine").desc(), "vec_id")
    )


EMBEDDING_BINARY_HAMMING_RERANK_SQL = f"""
WITH packed AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_packed_bits_sql_duck("embedding", lo=True)} AS b_lo,
         {_packed_bits_sql_duck("embedding", lo=False)} AS b_hi
  FROM embeddings
),
p AS (
  SELECT vec_id AS query_id, v AS q, b_lo AS q_lo, b_hi AS q_hi
  FROM packed WHERE vec_id < {N_PROBES}
),
pairs AS (
  SELECT query_id, e.vec_id,
         CAST(bit_count(xor(e.b_lo, p.q_lo))
              + bit_count(xor(e.b_hi, p.q_hi)) AS INTEGER) AS hamming,
         ROUND({_COS_SQL}, 6) AS cosine
  FROM packed e CROSS JOIN p
  WHERE e.vec_id != p.query_id
),
nn AS (SELECT * FROM pairs WHERE cosine IS NOT NULL),
served AS (
  SELECT query_id, vec_id, hamming, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rn_c
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY hamming, vec_id
      ) AS rn_h
      FROM nn
    ) WHERE rn_h <= {BQ_CAND}
  ) WHERE rn_c <= {TOP_K}
),
gt AS (
  SELECT query_id AS gt_query_id, vec_id AS gt_vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rn_g
    FROM nn
  ) WHERE rn_g <= {TOP_K}
)
SELECT s.query_id, s.vec_id, s.hamming, s.cosine,
       (g.gt_vec_id IS NOT NULL) AS in_exact_topk
FROM served s LEFT JOIN gt g
  ON s.query_id = g.gt_query_id AND s.vec_id = g.gt_vec_id
ORDER BY s.query_id, s.cosine DESC, s.vec_id
"""


# ------------------------------------------ margin-based bitext mining

# Artetxe & Schwenk 2019 ("Margin-based Parallel Corpus Mining with
# Multilingual Sentence Embeddings" — the CCMatrix/LASER criterion):
# a cross-lingual pair is bitext not when its cosine is high in the
# absolute, but when it stands OUT of both endpoints' neighborhoods —
# margin = cos(x, y) / mean of the two directions' k-NN cosines. The
# missing capability class of the curation tier: mining parallel
# training pairs ACROSS languages rather than deduplicating within one.

MARGIN_K = 3  # neighborhood size in the margin denominator
MARGIN_TAU = 1.2  # keep pairs >= 1.2x their neighborhoods
# Adaptive blocking: bucket bits GROW with the corpus (one more bit per
# doubling over the reference size) so the expected bucket population —
# and with it the candidate join's per-key cost — stays CONSTANT as the
# corpus scales (the sign_bucket docstring's sizing rule, applied
# in-query). An integer threshold ladder, never float log2: engines
# disagree in the last ulp of log at exact powers of two.
BITEXT_REF_N = 500  # corpus size at which BUCKET_BITS bits suffice
BITEXT_MAX_DOUBLINGS = 16  # ladder cap (4 + 16 = 20 bits max)


def _bitext_bits(n: int) -> int:
    k = 0
    while (
        k < BITEXT_MAX_DOUBLINGS
        and n >= BITEXT_REF_N * (1 << (k + 1))
    ):
        k += 1
    return BUCKET_BITS + k


def bitext_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based cross-lingual pair mining over the documents'
    embeddings (doc_id = vec_id, lang from the documents table):
    candidates are positively-similar cross-language pairs sharing an
    ADAPTIVE sign bucket — {BUCKET_BITS} bits at the {BITEXT_REF_N}-row
    reference corpus plus one bit per corpus doubling (integer
    threshold ladder, both engines), so bucket population and the
    candidate join's per-key cost stay constant as the corpus grows
    (the sign_bucket sizing rule, applied in-query; bucket-keyed
    equi-join, never all-pairs); each candidate (x, y)
    scores margin = cos / ((knn(x->lang_y) + knn(y->lang_x)) / 2) with
    knn = the DECIMAL-exact mean of the top-{MARGIN_K} bucketed
    cosines into the OTHER language; pairs with margin >=
    {MARGIN_TAU} are the mined bitext, ordered per language pair by
    margin.

    Scale (100 TB): ONE bucketed candidate join feeds all three
    consumers (both k-NN arms and the final margin join) via a
    materialize() lineage cut — the curation-ledger lesson: without
    the cut the bucket join re-executes 3x. k-NN windows partition by
    (anchor, other-lang) — bounded by bucket population, never global.
    Recall/cost trades by BUCKET_BITS exactly as the ANN tier
    documents (multi-probe raises recall; kept single-probe here to
    stay oracle-exact). Determinism: cosines ROUND(6) with
    precomputed norms (the adjudicated bucketed-ANN arithmetic), k-NN
    means DECIMAL(10,6)-accumulated, margin one IEEE expression.
    """
    from myserver_datawarehouse_spark.session import materialize

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings")
    # Construction-time corpus count (parquet metadata scan) sizes the
    # blocking: bits = BUCKET_BITS + one per corpus doubling over
    # BITEXT_REF_N, keeping bucket population — and the candidate
    # join's quadratic-in-bucket term — constant as the corpus grows.
    bits = _bitext_bits(e.count())
    v = d.join(e, d.doc_id == e.vec_id).select(
        "lang",
        "vec_id",
        "embedding",
        V.sign_bucket("embedding", bits).alias("bucket"),
        V.norm2("embedding").alias("nrm"),
    )
    a = v.select(
        F.col("lang").alias("lang_a"),
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("q"),
        "bucket",
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("lang").alias("lang_b"),
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("v"),
        "bucket",
        F.col("nrm").alias("nb"),
    )
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        V.dot("q", "v") / (F.col("na") * F.col("nb")),
    )
    # materialize(): the bucketed candidate frame is consumed by BOTH
    # k-NN arms and the final margin join (3 consumers) — the cut
    # replaces a triple re-execution of the bucket join + dot fold.
    cand = materialize(
        a.join(b, "bucket")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a",
            "lang_b",
            "doc_a",
            "doc_b",
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") > 0)
    )
    # The k-NN arms keep EXACT decimal sums + counts; the margin is one
    # tie-free ratio cos * 2*na*nb / (sa*nb + sb*na) — algebraically
    # cos / ((sa/na + sb/nb)/2), but never materializing the per-arm
    # mean, whose sum/2 lands EXACTLY on a half-ulp of the 6th dp
    # whenever an arm has 2 neighbors (engines then round the tie in
    # opposite directions — hit live at sf0.001).
    dec = "decimal(10,6)"

    def knn(anchor: str, other_lang: str, tie: str, s: str, n: str):
        w = Window.partitionBy(anchor, other_lang).orderBy(
            F.col("cosine").desc(), tie
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= MARGIN_K)
            .groupBy("lang_a", "lang_b", anchor)
            .agg(
                F.sum(F.col("cosine").cast(dec))
                .cast("decimal(16,6)")
                .alias(s),
                F.count(F.lit(1)).cast("decimal(6,0)").alias(n),
            )
        )

    ka = knn("doc_a", "lang_b", "doc_b", "sa", "na")
    kb = knn("doc_b", "lang_a", "doc_a", "sb", "nb")
    denom = (
        F.col("sa") * F.col("nb") + F.col("sb") * F.col("na")
    ).cast("double")
    numer = F.col("cosine") * (
        F.lit(2).cast("decimal(6,0)") * F.col("na") * F.col("nb")
    ).cast("double")
    return (
        cand.join(ka, ["lang_a", "lang_b", "doc_a"])
        .join(kb, ["lang_a", "lang_b", "doc_b"])
        .select(
            "lang_a",
            "lang_b",
            "doc_a",
            "doc_b",
            "cosine",
            F.round(numer / denom, 6).alias("margin"),
        )
        .filter(F.col("margin") >= MARGIN_TAU)
        .orderBy(
            "lang_a", "lang_b", F.col("margin").desc(), "doc_a", "doc_b"
        )
    )


_BITEXT_LADDER_SQL = "".join(
    f" WHEN cnt >= {BITEXT_REF_N * (1 << k)} THEN {BUCKET_BITS + k}"
    for k in range(BITEXT_MAX_DOUBLINGS, 0, -1)
)
_BITEXT_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {i} < bits AND embedding[{i + 1}] >= 0"
    f" THEN {1 << i} ELSE 0 END)"
    for i in range(BUCKET_BITS + BITEXT_MAX_DOUBLINGS)
)

BITEXT_MINING_PAIRS_SQL = f"""
WITH c0 AS (SELECT COUNT(*) AS cnt FROM embeddings),
bc AS (SELECT CASE{_BITEXT_LADDER_SQL} ELSE {BUCKET_BITS} END AS bits
       FROM c0),
v AS (
  SELECT d.lang, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS vec,
         {_BITEXT_BUCKET_SQL} AS bucket
  FROM documents d
  JOIN embeddings e ON d.doc_id = e.vec_id, bc
),
cand AS (
  SELECT * FROM (
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           a.vec_id AS doc_a, b.vec_id AS doc_b,
           ROUND(CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) > 0
                       AND sqrt(list_dot_product(b.vec, b.vec)) > 0
                      THEN list_dot_product(a.vec, b.vec)
                           / (sqrt(list_dot_product(a.vec, a.vec))
                              * sqrt(list_dot_product(b.vec, b.vec)))
                 END, 6) AS cosine
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.lang < b.lang
  ) WHERE cosine > 0
),
ka AS (
  SELECT lang_a, lang_b, doc_a,
         CAST(SUM(CAST(cosine AS DECIMAL(10,6))) AS DECIMAL(16,6)) AS sa,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS na
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_a, lang_b ORDER BY cosine DESC, doc_b) AS rn
        FROM cand)
  WHERE rn <= {MARGIN_K} GROUP BY 1, 2, 3
),
kb AS (
  SELECT lang_a, lang_b, doc_b,
         CAST(SUM(CAST(cosine AS DECIMAL(10,6))) AS DECIMAL(16,6)) AS sb,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS nb
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_b, lang_a ORDER BY cosine DESC, doc_a) AS rn
        FROM cand)
  WHERE rn <= {MARGIN_K} GROUP BY 1, 2, 3
),
m AS (
  SELECT lang_a, lang_b, doc_a, doc_b, cosine,
         ROUND(cosine * CAST(CAST(2 AS DECIMAL(6,0)) * na * nb AS DOUBLE)
               / CAST(sa * nb + sb * na AS DOUBLE), 6) AS margin
  FROM cand JOIN ka USING (lang_a, lang_b, doc_a)
            JOIN kb USING (lang_a, lang_b, doc_b)
)
SELECT lang_a, lang_b, doc_a, doc_b, cosine, margin
FROM m
WHERE margin >= {MARGIN_TAU!r}
ORDER BY lang_a, lang_b, margin DESC, doc_a, doc_b
"""
