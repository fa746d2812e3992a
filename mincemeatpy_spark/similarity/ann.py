"""Similarity search over the embeddings table.

Two paths, as a 100 TB pipeline needs:

- ``similarity_topk``: brute-force cosine top-k — O(Q*N) exact baseline;
  right when the query set is small (broadcast queries, one pass over
  the corpus, per-partition heaps).
- ``similarity_ann_lsh``: random-hyperplane LSH — bucket vectors by the
  sign pattern of 8 projections, search only within the bucket.  Work
  scales with bucket collisions, not N^2.  Recall < 1 by construction,
  but the pipeline is fully deterministic (hyperplanes derived from md5)
  so even this ANN path is exactly oracle-checkable.

- ``similarity_ann_ivf``: IVF (inverted-file) — a coarse quantizer
  assigns every vector to its nearest centroid's posting list; a query
  probes only the ``nprobe`` nearest lists.  Deterministic seed
  centroids (the first K corpus vectors) stand in for the k-means
  training step, which at 100 TB runs offline on a sample anyway; the
  partition/probe plumbing — the part that matters at scale — is real.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as Wnd, functions as F

from mincemeatpy_spark.lineage import truncate_eager, truncate_lazy
from mincemeatpy_spark.operators._util import hash60, q6_dot, q6_embeddings, q6_sample
from mincemeatpy_spark.registry import QUERIES, register
from mincemeatpy_spark.tables import t

_N_PLANES = 8
_DIM = 64
_POW2_60 = float(2**60)

# Deterministic hash-capped reference sample for the embedding evals:
# vec_id % _EVAL_MOD == 0 AND vec_id < _EVAL_MOD * _EVAL_CAP bounds the
# driver-collected side to <= _EVAL_CAP rows at ANY corpus size (a pure
# scan-pushed filter); the probe side stays the full distributed table.
_EVAL_MOD = 4
_EVAL_CAP = 50_000

# Same hash-cap discipline for the PQ-family QUERY sets: vec_id % _PQ_QMOD
# == 0 AND vec_id < _PQ_QMOD * _PQ_QCAP bounds the driver-collected query
# sample (and therefore the broadcast [8][nq][16] distance tables and the
# per-batch O(nq * n) ADC kernels) to <= _PQ_QCAP queries at ANY corpus
# size, instead of an unbounded 1/97 corpus fraction.  A pure scan-pushed
# predicate; every PQ oracle applies the identical one.
_PQ_QMOD = 97
_PQ_QCAP = 1_000


def _pq_queries(e: DataFrame) -> DataFrame:
    """The bounded PQ query sample (<= _PQ_QCAP rows at any scale)."""
    return e.filter(
        (F.col("vec_id") % _PQ_QMOD == 0)
        & (F.col("vec_id") < _PQ_QMOD * _PQ_QCAP)
    )


# --- the integer-vector kernel kit --------------------------------------
#
# Every quantized-ANN query below is one MapReduce job: map each Arrow
# batch of (vec_id, embedding) to int64 distances against a broadcast
# query sample, combine map-side to each query's nearest few
# (_nearest — the reference's collectfn), shuffle on query_id and reduce
# with the row_number() cut (_top3).


def _nearest(row_ids, col_ids, key, k):
    """The ``(r, c)`` index arrays of each row's k smallest
    ``(key[r, c], col_ids[c])`` pairs in ``key[len(row_ids)][len(col_ids)]``,
    skipping the pair where ``row_ids[r] == col_ids[c]`` (ids are unique
    on each side).  Ties go to the lowest col_id and NaN keys sort last:
    ``row_number() OVER (PARTITION BY row ORDER BY key, col_id) <= k``
    over the non-self pairs.  Run per Arrow batch, it keeps an exact
    superset of each row's global top-k members from that batch, so a
    batch ships at most ``len(row_ids) * k`` rows."""
    import numpy as np

    if key.shape[1] > k:
        # A row's k smallest non-self keys are all <= its (k+1)-th
        # smallest key (at most one column is self): only those, and
        # NaN keys, go to the exact sort.
        kth = np.partition(key, k, axis=1)[:, k : k + 1]
        cand = ~(key > kth)
    else:
        cand = np.ones(key.shape, dtype=bool)
    r, c = np.nonzero(cand & (row_ids[:, None] != col_ids[None, :]))
    order = np.lexsort((col_ids[c], key[r, c], r))
    r, c = r[order], c[order]
    # rank within the row = position minus the row's first position
    keep = np.arange(len(r)) - np.searchsorted(r, r) < k
    return r[keep], c[keep]


def _top3(pairs: DataFrame) -> DataFrame:
    """``row_number() OVER (PARTITION BY query_id ORDER BY adc_dist,
    neighbor_id) <= 3`` as a bigint ``rnk`` column (a WindowGroupLimit,
    no global sort)."""
    w = Wnd.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return pairs.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= 3
    )


def _l2(qm, mat):
    """Exact squared L2 from every row of ``qm`` to every row of ``mat``
    (int64 micro-units): ||q-v||^2 = q.q - 2 q.v + v.v, terms <= ~4e13."""
    return (
        (qm * qm).sum(axis=1)[:, None]
        - 2 * q6_dot(qm, mat)
        + (mat * mat).sum(axis=1)[None, :]
    )


def _scan_top3(e: DataFrame, q_ids, dist) -> DataFrame:
    """Each query's 3 nearest vectors of ``e`` (vec_id, embedding):
    ``dist(mat)`` maps a batch's ``[n][64]`` micro-unit matrix to
    ``[len(q_ids)][n]`` int64 distances; one mapInArrow pass keeps the
    per-batch top 3 (:func:`_nearest`, self excluded) and :func:`_top3`
    cuts the global one.  Columns: query_id, neighbor_id, adc_dist,
    rnk."""
    import pyarrow as pa

    def scan_top3(batches):
        import numpy as np

        for batch in batches:
            ids = np.asarray(batch.column("vec_id"), dtype=np.int64)
            d = dist(q6_embeddings(batch))
            r, c = _nearest(q_ids, ids, d, 3)
            yield pa.RecordBatch.from_arrays(
                [pa.array(x, type=pa.int64()) for x in (q_ids[r], ids[c], d[r, c])],
                ["query_id", "neighbor_id", "adc_dist"],
            )

    pairs = e.mapInArrow(scan_top3, "query_id long, neighbor_id long, adc_dist long")
    return _top3(pairs)


def _recall_at_3(
    spark: SparkSession, e: DataFrame, q_rows, approx_top: DataFrame
) -> DataFrame:
    """Recall@3 of an index's ``approx_top`` (query_id, neighbor_id)
    against exact integer-L2 brute force over the collected query sample
    ``q_rows``: the ground truth is one :func:`_scan_top3` pass of
    :func:`_l2`, left-joined to the broadcast approximate top 3."""
    q_ids, q_mat = q6_sample(q_rows)
    bc = spark.sparkContext.broadcast(q_mat)
    exact = _scan_top3(e, q_ids, lambda mat: _l2(bc.value, mat))
    hits = approx_top.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    n = F.count("hit")
    return (
        exact.join(F.broadcast(hits), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            n.cast("bigint").alias("n_hits"),
            F.round(n.cast("double") / 3, 6).alias("recall_at_3"),
        )
    )


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with double-cast vectors and L2 norms."""
    e = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        F.sqrt(sq).alias("nrm"),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


@register(
    "similarity_topk",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   list_sum(list_transform(generate_series(1, len(q.e)),
                        i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
            FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        )
        SELECT q_id, neighbor_id, rnk, round(cosine, 6) AS cosine
        FROM (
            SELECT q_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 5
        """,
    category="similarity",
    doc="Exact cosine top-5 neighbors for 10 query vectors: broadcast the "
    "query side, one scan of the corpus, window top-k per query.",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    q = F.broadcast(v.filter(F.col("vec_id") < 10).alias("q"))
    c = v.alias("c")
    cos = _dot(F.col("q.e"), F.col("c.e")) / (F.col("q.nrm") * F.col("c.nrm"))
    scored = q.join(c, F.col("c.vec_id") != F.col("q.vec_id")).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    )
    w = Wnd.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine"))
    )


def _planes(spark: SparkSession) -> DataFrame:
    """Deterministic pseudo-random hyperplanes: weight(p,d) derived from
    md5(p:d), uniform in [-1, 1) — reproducible in any engine."""
    return spark.range(_N_PLANES).select(
        F.col("id").cast("int").alias("p"),
        F.transform(
            F.sequence(F.lit(1), F.lit(_DIM)),
            lambda d: (
                hash60(F.concat(F.col("id").cast("string"), F.lit(":"), d.cast("string")))
                / F.lit(_POW2_60)
            )
            * 2
            - 1,
        ).alias("w"),
    )


_ORACLE_PLANES = f"""
        planes AS (
            SELECT p, list(w ORDER BY d) AS w
            FROM (
                SELECT p, d,
                       (('0x' || substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT
                        / {_POW2_60!r}) * 2 - 1 AS w
                FROM generate_series(0, {_N_PLANES - 1}) t(p),
                     generate_series(1, {_DIM}) s(d)
            )
            GROUP BY p
        )
"""


@register(
    "similarity_ann_lsh",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        {_ORACLE_PLANES},
        sigs AS (
            SELECT v.vec_id,
                   sum(CASE WHEN list_sum(list_transform(generate_series(1, {_DIM}),
                            i -> v.e[i] * planes.w[i])) > 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS sig
            FROM v, planes
            GROUP BY v.vec_id
        ),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   list_sum(list_transform(generate_series(1, len(qv.e)),
                        i -> qv.e[i] * cv.e[i])) / (qv.nrm * cv.nrm) AS cosine
            FROM sigs q
            JOIN sigs c ON q.sig = c.sig AND c.vec_id <> q.vec_id
            JOIN v qv ON qv.vec_id = q.vec_id
            JOIN v cv ON cv.vec_id = c.vec_id
            WHERE q.vec_id < 10
        )
        SELECT q_id, neighbor_id, rnk, round(cosine, 6) AS cosine
        FROM (
            SELECT q_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 5
        """,
    category="similarity",
    doc="ANN top-5 via random-hyperplane LSH: 8 sign bits bucket the "
    "corpus; candidates are bucket-mates only; exact cosine re-ranks "
    "within the bucket.  Same output shape as similarity_topk with "
    "recall < 1 — the scale path (shuffle is per-bucket, not all-pairs). "
    "Deterministic md5-derived hyperplanes keep it oracle-checkable.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint, not cache(): intra-query reuse without pinning the
    # whole corpus projection in executor storage for the session lifetime
    v = _vecs(spark, sf_dir).transform(truncate_lazy)
    planes = F.broadcast(_planes(spark))
    proj = v.crossJoin(planes).select(
        "vec_id",
        F.when(_dot(F.col("e"), F.col("w")) > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)"))
        .otherwise(F.lit(0))
        .alias("bit"),
    )
    sigs = proj.groupBy("vec_id").agg(F.sum("bit").alias("sig"))
    sv = v.join(sigs, "vec_id")
    q = sv.filter(F.col("vec_id") < 10).alias("q")
    c = sv.alias("c")
    cos = _dot(F.col("q.e"), F.col("c.e")) / (F.col("q.nrm") * F.col("c.nrm"))
    scored = q.join(
        c, (F.col("q.sig") == F.col("c.sig")) & (F.col("c.vec_id") != F.col("q.vec_id"))
    ).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    )
    w = Wnd.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine"))
    )


_IVF_K = 8       # coarse-quantizer centroids (posting lists)
_IVF_NPROBE = 2  # lists searched per query


@register(
    "similarity_ann_ivf",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, e AS ce, nrm AS cnrm FROM v
            WHERE vec_id < {_IVF_K}
        ),
        aff AS (
            SELECT v.vec_id, cent.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                                    i -> v.e[i] * cent.ce[i])) / (v.nrm * cent.cnrm)
                                DESC, cent.c_id) AS rn
            FROM v, cent
        ),
        assign AS (SELECT vec_id, c_id AS list_id FROM aff WHERE rn = 1),
        probe  AS (SELECT vec_id AS q_id, c_id AS list_id FROM aff
                   WHERE rn <= {_IVF_NPROBE} AND vec_id < 10),
        scored AS (
            SELECT probe.q_id, a.vec_id AS neighbor_id,
                   list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> qv.e[i] * cv.e[i])) / (qv.nrm * cv.nrm) AS cosine
            FROM probe
            JOIN assign a ON a.list_id = probe.list_id
                         AND a.vec_id <> probe.q_id
            JOIN v qv ON qv.vec_id = probe.q_id
            JOIN v cv ON cv.vec_id = a.vec_id
        )
        SELECT q_id, neighbor_id, rnk, round(cosine, 6) AS cosine
        FROM (
            SELECT q_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
        )
        WHERE rnk <= 5
        """,
    category="similarity",
    doc="ANN top-5 via IVF: nearest-centroid posting lists + nprobe=2 "
    "probing, exact cosine re-rank within the probed lists.  Work per "
    "query is O(nprobe * N / K) instead of O(N); the corpus shuffles "
    "once on list_id (at scale: write bucketed-by-list parquet and the "
    "probe join prunes to 2 buckets).  Seed centroids keep the whole "
    "pipeline deterministic, so recall is oracle-checkable exactly.",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("c_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )
    # Affinity of every vector to every centroid (K is small, so this is
    # a broadcast nested loop — K*N rows, never N^2).
    aff_score = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    aff = v.crossJoin(cent).select(
        "vec_id", "c_id", aff_score.alias("aff")
    )
    wa = Wnd.partitionBy("vec_id").orderBy(F.col("aff").desc(), F.col("c_id"))
    ranked = aff.withColumn("rn", F.row_number().over(wa))
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", F.col("c_id").alias("list_id"))
    probe = (
        ranked.filter((F.col("rn") <= _IVF_NPROBE) & (F.col("vec_id") < 10))
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("list_id"))
    )
    lists = v.join(assign, "vec_id")  # corpus partitioned by posting list
    q = v.select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cand = (
        F.broadcast(probe.join(q, "q_id"))
        .join(lists, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm"))
    scored = cand.select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    w = Wnd.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine"))
    )


@register(
    "embedding_dim_stats",
    oracle="""
        SELECT CAST(i - 1 AS INT) AS dim,
               count(*) AS n,
               (CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                    AS BIGINT)) AS DOUBLE) / 1000000) AS sum_x,
               min(CAST(embedding[i] AS DOUBLE)) AS min_x,
               max(CAST(embedding[i] AS DOUBLE)) AS max_x
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS s(i)
        GROUP BY i
        """,
    category="similarity",
    doc="Per-dimension corpus statistics over the embedding column — the "
    "profiling pass behind normalization/whitening and int8 quantization "
    "calibration (each dimension's range sets its scale).  posexplode "
    "pivots vectors to (dim, value) pairs scan-side; the aggregate is "
    "two-phase hash with only n_dims groups, so map-side combine "
    "collapses the shuffle to 64 rows per task regardless of corpus "
    "size — at 100 TB this is a scan plus a 64-row exchange.  Sums are "
    "6-decimal fixed-point (see operators/_util.py) so the totals are "
    "order-independent and oracle-exact; float→double casts are "
    "value-preserving in both engines.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.operators._util import decsum

    e = t(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    return (
        e.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            decsum(x).alias("sum_x"),
            F.min(x).alias("min_x"),
            F.max(x).alias("max_x"),
        )
    )


_EXACT_ORACLE = QUERIES["similarity_topk"].oracle
_IVF_ORACLE = QUERIES["similarity_ann_ivf"].oracle


@register(
    "similarity_ann_recall",
    oracle=f"""
        WITH exact_k AS ({_EXACT_ORACLE}),
             ann_k AS ({_IVF_ORACLE})
        SELECT e.q_id,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
               count(a.neighbor_id) / 5.0 AS recall_at_5
        FROM exact_k e
        LEFT JOIN ann_k a
          ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.q_id
        """,
    category="similarity",
    doc="Recall@5 evaluation of the IVF index against exact brute-force "
    "cosine — the eval harness every ANN deployment needs.  Both sides "
    "are the engine's own operators (deterministic, so the metric is "
    "oracle-checkable exactly); the join is per-query top-5 against "
    "top-5, i.e. tiny, and the heavy lifting is the two underlying "
    "scans which Spark schedules independently.  At 100 TB you run "
    "this on a sampled query set: the exact side is the only O(N) "
    "term and sampling queries bounds it.",
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk(spark, sf_dir)
    ann = similarity_ann_ivf(spark, sf_dir)
    e = exact.select("q_id", "neighbor_id")
    a = ann.select(F.col("q_id").alias("aq"), F.col("neighbor_id").alias("an"))
    hits = e.join(
        a, (F.col("q_id") == F.col("aq")) & (F.col("neighbor_id") == F.col("an")), "left"
    )
    return hits.groupBy("q_id").agg(
        F.count("an").alias("n_hits"),
        (F.count("an") / F.lit(5.0)).alias("recall_at_5"),
    )


_PCA_SCALE = 1_000_000


@register(
    "embedding_pca_power",
    oracle=f"""
        WITH q AS (
            SELECT list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {_PCA_SCALE}) AS BIGINT))
                   AS qv
            FROM embeddings
        ),
        cells AS (
            SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS g
            FROM q, generate_series(1, {_DIM}) s1(i), generate_series(1, {_DIM}) s2(j)
            GROUP BY i, j
        ),
        grows AS (
            SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS gd,
                   CAST(list_sum(list(g ORDER BY j)) AS BIGINT) AS v1_int
            FROM cells GROUP BY i
        ),
        n1 AS (SELECT max(abs(CAST(v1_int AS DOUBLE))) AS m1 FROM grows),
        v1 AS (
            SELECT list(CAST(v1_int AS DOUBLE) / m1 ORDER BY i) AS v
            FROM grows, n1 GROUP BY m1
        ),
        it2 AS (
            SELECT i, list_sum(list_transform(generate_series(1, {_DIM}),
                       j -> gd[j] * v[j])) AS v2
            FROM grows, v1
        ),
        n2 AS (SELECT max(abs(v2)) AS m2 FROM it2)
        SELECT CAST(i - 1 AS INT) AS dim, round(v2 / m2, 6) AS loading
        FROM it2, n2
        """,
    category="similarity",
    doc="Top principal direction of the embedding cloud via two power "
    "iterations on the Gram matrix — the whitening / quantization-"
    "calibration step of an embedding pipeline, in the shape that "
    "scales: each Arrow batch contributes an EXACT int64 64x64 partial "
    "Gram (components quantized to 1e-6, numpy matmul per batch — no "
    "per-row Python, no float summation-order nondeterminism), "
    "partials merge by element-wise long addition (a 4096-cell "
    "shuffle regardless of corpus size), and the O(dim^2) iteration "
    "runs on the reduced matrix with left-to-right folds that DuckDB "
    "reproduces bit-for-bit.  100 TB of embeddings stream through "
    "map-side partials; nothing but 32 KB matrices ever shuffles.  "
    "Bounds: |q| <= 6e5, so a cell <= N*3.6e11 — exact int64 through "
    "sf1 and beyond.",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    from mincemeatpy_spark.tables import fan_out

    def gram_partials(batches):
        import numpy as np

        acc = np.zeros((64, 64), dtype=np.int64)
        seen = False
        for batch in batches:
            q = q6_embeddings(batch)
            acc += q.T @ q
            seen |= len(q) > 0
        if seen:
            ii, jj = np.divmod(np.arange(_DIM * _DIM), _DIM)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ii, type=pa.int32()),
                    pa.array(jj, type=pa.int32()),
                    pa.array(acc.ravel(), type=pa.int64()),
                ],
                ["i", "j", "g"],
            )

    e = fan_out(
        spark, t(spark, sf_dir, "embeddings").select("embedding"), sf_dir, "embeddings"
    )
    cells = (
        e.mapInArrow(gram_partials, "i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )
    grows = cells.groupBy("i").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "g"))), lambda s: s["g"]
        ).alias("g_int")
    )
    grows = grows.select(
        "i",
        F.transform("g_int", lambda x: x.cast("double")).alias("gd"),
        F.aggregate("g_int", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "v1_int"
        ),
    )
    m1 = grows.agg(F.max(F.abs(F.col("v1_int").cast("double"))).alias("m1"))
    v1 = (
        grows.crossJoin(F.broadcast(m1))
        .groupBy("m1")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "v1_int"))),
                lambda s: s["v1_int"].cast("double") / F.col("m1"),
            ).alias("v")
        )
        .select("v")
    )
    it2 = grows.crossJoin(F.broadcast(v1)).select(
        "i",
        F.aggregate(
            F.zip_with(F.col("gd"), F.col("v"), lambda g, x: g * x),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("v2"),
    )
    m2 = it2.agg(F.max(F.abs(F.col("v2"))).alias("m2"))
    return it2.crossJoin(F.broadcast(m2)).select(
        F.col("i").alias("dim"), F.round(F.col("v2") / F.col("m2"), 6).alias("loading")
    )


@register(
    "embedding_outliers",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {_PCA_SCALE}) AS BIGINT))
                   AS qv
            FROM embeddings
        ),
        flat AS (
            SELECT vec_id, i AS dim, qv[i] AS v
            FROM q, generate_series(1, {_DIM}) s(i)
        ),
        stats AS (
            SELECT dim,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v) AS BIGINT) AS s,
                   CAST(sum(v * v) AS BIGINT) AS ss
            FROM flat GROUP BY dim
        ),
        scored AS (
            SELECT f.vec_id,
                   CASE WHEN
                       (CAST(f.v AS DOUBLE) - CAST(s AS DOUBLE) / n)
                     * (CAST(f.v AS DOUBLE) - CAST(s AS DOUBLE) / n)
                     > 9.0 * ((CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
                   THEN 1 ELSE 0 END AS is_out
            FROM flat f JOIN stats USING (dim)
        )
        SELECT vec_id, CAST(sum(is_out) AS BIGINT) AS n_outlier_dims
        FROM scored
        GROUP BY vec_id
        HAVING sum(is_out) >= 1
        """,
    category="similarity",
    doc="Embedding outlier audit — flag vectors with any dimension "
    "beyond 3 sigma of that dimension's corpus distribution: the "
    "data-quality gate before ANN indexing or quantization "
    "(calibration outliers wreck int8 ranges — see "
    "vector_quantize_int8).  Moments per dimension accumulate as "
    "exact int64 on 1e-6-quantized components (order-independent); "
    "the 3-sigma test is sqrt-free — (x-mean)^2 > 9*var — so every "
    "float op is a fixed IEEE expression on identical inputs in both "
    "engines.  The 64-row stats table broadcasts; at 100 TB the "
    "explode never shuffles (stats ride a map-side join) and only "
    "per-vector flag counts aggregate.",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _PCA_SCALE).cast("bigint"),
            )
        ).alias("dim", "v"),
    )
    stats = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / F.col("n")
    dev = F.col("v").cast("double") - mean
    scored = flat.join(F.broadcast(stats), "dim").select(
        "vec_id", F.when(dev * dev > 9.0 * var, 1).otherwise(0).alias("is_out")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.sum("is_out").cast("bigint").alias("n_outlier_dims"))
        .filter(F.col("n_outlier_dims") >= 1)
    )


@register(
    "ann_index_persist",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, e AS ce, nrm AS cnrm FROM v
            WHERE vec_id < {_IVF_K}
        ),
        aff AS (
            SELECT v.vec_id, cent.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                                    i -> v.e[i] * cent.ce[i])) / (v.nrm * cent.cnrm)
                                DESC, cent.c_id) AS rn
            FROM v, cent
        ),
        assign AS (SELECT vec_id, c_id AS list_id FROM aff WHERE rn = 1)
        SELECT list_id,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(vec_id) AS BIGINT) AS vec_id_sum
        FROM assign
        WHERE list_id IN (SELECT c_id FROM (
            SELECT c_id, row_number() OVER (
                ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                             i -> qv.e[i] * cent.ce[i])) / (qv.nrm * cent.cnrm)
                         DESC, c_id) AS prn
            FROM cent, (SELECT e, nrm FROM v WHERE vec_id = 0) qv
        ) WHERE prn <= {_IVF_NPROBE})
        GROUP BY list_id
        """,
    category="similarity",
    doc="IVF index MATERIALIZATION — the storage half the in-memory "
    "similarity_ann_ivf query defers: posting-list assignments are "
    "written as parquet partitioned by list_id, and a probe for query "
    "vector 0 reads back ONLY its nprobe nearest lists — the partition "
    "filter prunes whole directories before IO "
    "(test_plans asserts PartitionFilters on the read-back scan).  At "
    "100 TB this is the real serving layout: the index rebuild is one "
    "partitioned write, a probe touches nprobe/K of the corpus, and "
    "compaction (sink_compaction) keeps list shards at target size.  "
    "Output summarizes the probed lists so the whole roundtrip is "
    "oracle-checked.",
)
def ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.sources.readers import _scratch

    v = _vecs(spark, sf_dir)
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("c_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )
    aff_score = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    wa = Wnd.partitionBy("vec_id").orderBy(F.col("aff").desc(), F.col("c_id"))
    assign = (
        v.crossJoin(cent)
        .select("vec_id", "c_id", aff_score.alias("aff"))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c_id").alias("list_id"))
    )
    path = _scratch(sf_dir, "ivf_index")
    assign.write.mode("overwrite").partitionBy("list_id").parquet(path)

    # Probe: the nprobe nearest lists for query vector 0.
    q0 = v.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qe"), F.col("nrm").alias("qnrm")
    )
    probe_score = _dot(F.col("qe"), F.col("ce")) / (F.col("qnrm") * F.col("cnrm"))
    probes = [
        r["c_id"]
        for r in cent.crossJoin(q0)
        .select("c_id", probe_score.alias("s"))
        .orderBy(F.col("s").desc(), "c_id")
        .limit(_IVF_NPROBE)
        .collect()
    ]
    back = spark.read.parquet(path).filter(F.col("list_id").isin(probes))
    return back.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("vec_id").alias("vec_id_sum"),
    )


@register(
    "similarity_ann_pq",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        cent AS (SELECT vec_id AS c, e FROM q WHERE vec_id < 16),
        sub AS (
            SELECT v.vec_id, s.s, c.c,
                   list_sum(list_transform(generate_series(1, 8),
                       d -> (v.e[s.s * 8 + d] - c.e[s.s * 8 + d])
                          * (v.e[s.s * 8 + d] - c.e[s.s * 8 + d]))) AS dist
            FROM q v,
                 (SELECT unnest(generate_series(0, 7)) AS s) s,
                 cent c
        ),
        assigned AS (
            SELECT vec_id, s, c
            FROM (SELECT vec_id, s, c,
                         row_number() OVER (PARTITION BY vec_id, s
                                            ORDER BY dist, c) AS rn
                  FROM sub)
            WHERE rn = 1
        ),
        queries AS (SELECT vec_id AS query_id, e FROM q
                    WHERE vec_id % 97 = 0 AND vec_id < 97000),
        qd AS (
            SELECT qu.query_id, a.vec_id, a.s,
                   list_sum(list_transform(generate_series(1, 8),
                       d -> (qu.e[a.s * 8 + d] - c.e[a.s * 8 + d])
                          * (qu.e[a.s * 8 + d] - c.e[a.s * 8 + d]))) AS d
            FROM queries qu
            CROSS JOIN assigned a
            JOIN cent c ON c.c = a.c
            WHERE a.vec_id <> qu.query_id
        ),
        adc AS (
            SELECT query_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_dist
            FROM qd GROUP BY query_id, vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT query_id, vec_id, adc_dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc_dist, vec_id) AS rnk
              FROM adc)
        WHERE rnk <= 3
        """,
    category="similarity",
    doc="Product-quantization ANN (the third index family next to "
    "similarity_ann_lsh and similarity_ann_ivf): 64 dims split into 8 "
    "subspaces of 8; each subvector is assigned its nearest of 16 "
    "codewords (codebook = the first 16 vectors' subvectors — "
    "deterministic stand-in for per-subspace k-means, which "
    "kmeans_assign_update supplies); a query then scores every vector "
    "by asymmetric distance (ADC): the sum over subspaces of "
    "query-subvector-to-assigned-codeword distances, read from an "
    "8x16 lookup table instead of touching the 64-dim vector.  All "
    "arithmetic is int64 micro-units (assignment ties to the lowest "
    "codeword), so even the PQ path is exactly oracle-checked.  At "
    "100 TB the index stores 8 bytes/vector (8 codes) instead of 256, "
    "assignment is one numpy pass per Arrow batch against a broadcast "
    "16x64 codebook, and query ADC scans codes, not vectors — this is "
    "the memory-bound regime where PQ beats IVF probing.  Each batch "
    "ships only its per-query top 3 (_nearest, the map-side combine), "
    "and the global top 3 per query is a WindowGroupLimit, no global "
    "sort.",
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = q6_sample(e.filter(F.col("vec_id") < 16).collect())[1]  # [16][64]
    # <= _PQ_QCAP rows at any corpus size
    q_ids, q_mat = q6_sample(_pq_queries(e).collect())
    # Per-subspace query→codeword distance tables: [8][nq][16]
    qtab = np.stack(
        [
            (
                (q_mat[:, None, s * 8 : s * 8 + 8] - cent[None, :, s * 8 : s * 8 + 8])
                ** 2
            ).sum(axis=2)
            for s in range(8)
        ]
    )
    bc = spark.sparkContext.broadcast((cent, qtab))

    def adc(mat):
        c, qt = bc.value
        total = np.zeros((qt.shape[1], len(mat)), dtype=np.int64)
        for s in range(8):
            d = (
                (mat[:, None, s * 8 : s * 8 + 8] - c[None, :, s * 8 : s * 8 + 8])
                ** 2
            ).sum(axis=2)  # [n][16]
            total += qt[s][:, np.argmin(d, axis=1)]  # first min = lowest codeword
        return total

    return _scan_top3(e, q_ids, adc)


@register(
    "similarity_pq_recall",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        cent AS (SELECT vec_id AS c, e FROM q WHERE vec_id < 16),
        sub AS (
            SELECT v.vec_id, s.s, c.c,
                   list_sum(list_transform(generate_series(1, 8),
                       d -> (v.e[s.s * 8 + d] - c.e[s.s * 8 + d])
                          * (v.e[s.s * 8 + d] - c.e[s.s * 8 + d]))) AS dist
            FROM q v,
                 (SELECT unnest(generate_series(0, 7)) AS s) s,
                 cent c
        ),
        assigned AS (
            SELECT vec_id, s, c
            FROM (SELECT vec_id, s, c,
                         row_number() OVER (PARTITION BY vec_id, s
                                            ORDER BY dist, c) AS rn
                  FROM sub)
            WHERE rn = 1
        ),
        queries AS (SELECT vec_id AS query_id, e FROM q
                    WHERE vec_id % 97 = 0 AND vec_id < 97000),
        qd AS (
            SELECT qu.query_id, a.vec_id, a.s,
                   list_sum(list_transform(generate_series(1, 8),
                       d -> (qu.e[a.s * 8 + d] - c.e[a.s * 8 + d])
                          * (qu.e[a.s * 8 + d] - c.e[a.s * 8 + d]))) AS d
            FROM queries qu
            CROSS JOIN assigned a
            JOIN cent c ON c.c = a.c
            WHERE a.vec_id <> qu.query_id
        ),
        pq_top AS (
            SELECT query_id, vec_id
            FROM (SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sum_d, vec_id) AS rnk
                  FROM (SELECT query_id, vec_id, CAST(sum(d) AS BIGINT) AS sum_d
                        FROM qd GROUP BY query_id, vec_id))
            WHERE rnk <= 3
        ),
        exact_top AS (
            SELECT query_id, vec_id
            FROM (SELECT qu.query_id, v.vec_id,
                         row_number() OVER (PARTITION BY qu.query_id ORDER BY
                             list_sum(list_transform(generate_series(1, 64),
                                 d -> (qu.e[d] - v.e[d]) * (qu.e[d] - v.e[d]))),
                             v.vec_id) AS rnk
                  FROM queries qu CROSS JOIN q v
                  WHERE v.vec_id <> qu.query_id)
            WHERE rnk <= 3
        )
        SELECT e.query_id,
               CAST(count(p.vec_id) AS BIGINT) AS n_hits,
               round(CAST(count(p.vec_id) AS DOUBLE) / 3, 6) AS recall_at_3
        FROM exact_top e
        LEFT JOIN pq_top p
          ON p.query_id = e.query_id AND p.vec_id = e.vec_id
        GROUP BY e.query_id
        """,
    category="similarity",
    doc="Recall@3 of the PQ index against exact integer-L2 brute force — "
    "the eval harness every ANN deployment needs before trusting the "
    "approximate path (pairs with similarity_ann_recall, which scores "
    "IVF).  Both rankings are deterministic (int64 distances, ties to "
    "lowest vec_id), so even the evaluation itself hash-matches the "
    "oracle.  At 100 TB this runs on a held-out query sample; the "
    "ground-truth side is the only quadratic piece, which is why it "
    "samples queries, never the corpus.",
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq_top = similarity_ann_pq(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # <= _PQ_QCAP rows at any corpus size
    return _recall_at_3(spark, e, _pq_queries(e).collect(), pq_top)


# --- hybrid retrieval: lexical + dense rank fusion ----------------------

_RRF_K = 60          # standard RRF constant
_RRF_SCALE = 10**9   # integer fixed-point: floor(1e9 / (60 + rank))
_RRF_DEPTH = 50      # per-modality candidate depth
_RRF_TERMS = ("value", "table", "key")


@register(
    "search_hybrid_rrf",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ),
        lex_scores AS (
            SELECT doc_id, count(*) AS score
            FROM toks
            WHERE word IN {str(tuple(_RRF_TERMS))}
            GROUP BY doc_id
        ),
        lex AS (
            SELECT doc_id, rk
            FROM (SELECT doc_id,
                         row_number() OVER (ORDER BY score DESC, doc_id) AS rk
                  FROM lex_scores)
            WHERE rk <= {_RRF_DEPTH}
        ),
        qv AS (
            SELECT list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS qe
            FROM embeddings WHERE vec_id = 0
        ),
        dense_scores AS (
            SELECT e.vec_id AS doc_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, len(q.qe)),
                       i -> q.qe[i] * CAST(round(CAST(e.embedding[i] AS DOUBLE)
                                                 * 1000000) AS BIGINT)))
                        AS BIGINT) AS dot
            FROM embeddings e CROSS JOIN qv q
            WHERE e.vec_id <> 0
        ),
        dense AS (
            SELECT doc_id, rk
            FROM (SELECT doc_id,
                         row_number() OVER (ORDER BY dot DESC, doc_id) AS rk
                  FROM dense_scores)
            WHERE rk <= {_RRF_DEPTH}
        ),
        fused AS (
            SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
                   coalesce({_RRF_SCALE} // ({_RRF_K} + l.rk), 0)
                 + coalesce({_RRF_SCALE} // ({_RRF_K} + d.rk), 0) AS rrf,
                   l.rk AS lex_rank, d.rk AS dense_rank
            FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
        )
        SELECT doc_id, CAST(rrf AS BIGINT) AS rrf_score,
               lex_rank, dense_rank
        FROM (SELECT *,
                     row_number() OVER (ORDER BY rrf DESC, doc_id) AS out_rk
              FROM fused)
        WHERE out_rk <= 20
        """,
    category="similarity",
    doc="Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al. "
    "2009) — the RAG-stack retrieval step: a lexical candidate list "
    "(query-term hit counts over the postings, top-50; text_bm25_topk "
    "is the heavyweight scorer that slots into the same rank input) "
    "and a dense candidate list (exact int64 micro-unit dot against "
    "the broadcast query vector, top-50, vec_id 0 as the query), fused "
    "by sum of floor(1e9/(60+rank)) — integer fixed-point, so fusion "
    "is bit-stable.  Plan shape at 100 TB: the lexical side reads only "
    "query-term postings (never the vocabulary), the dense side is one "
    "scan against a broadcast vector (similarity_topk's 0-shuffle "
    "kernel), both candidate lists are top-k (WindowGroupLimit / "
    "TakeOrdered), and the fusion join touches <= 2k rows.",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
    lex_scores = (
        toks.filter(F.col("word").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    lex = (
        lex_scores.withColumn(
            "rk", F.row_number().over(Wnd.orderBy(F.col("score").desc(), "doc_id"))
        )
        .filter(F.col("rk") <= _RRF_DEPTH)
        .select("doc_id", F.col("rk").alias("lex_rank"))
    )
    e = t(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(quant.alias("qe"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), quant, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dense = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(F.col("vec_id").alias("doc_id"), dot.alias("dot"))
        .withColumn(
            "rk", F.row_number().over(Wnd.orderBy(F.col("dot").desc(), "doc_id"))
        )
        .filter(F.col("rk") <= _RRF_DEPTH)
        .select("doc_id", F.col("rk").alias("dense_rank"))
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + lex_rank)"), F.lit(0))
                + F.coalesce(
                    F.expr(f"{_RRF_SCALE} div ({_RRF_K} + dense_rank)"), F.lit(0)
                )
            ).alias("rrf"),
            "lex_rank",
            "dense_rank",
        )
    )
    return (
        fused.withColumn(
            "out_rk", F.row_number().over(Wnd.orderBy(F.col("rrf").desc(), "doc_id"))
        )
        .filter(F.col("out_rk") <= 20)
        .select(
            "doc_id",
            F.col("rrf").cast("bigint").alias("rrf_score"),
            "lex_rank",
            "dense_rank",
        )
    )


@register(
    "embedding_matryoshka_overlap",
    oracle=f"""
        WITH q AS (
            SELECT list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS qe
            FROM embeddings WHERE vec_id = 0
        ),
        scores AS (
            SELECT e.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, len(q.qe)),
                        i -> q.qe[i]
                           * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000)
                                  AS BIGINT))) AS BIGINT) AS dot_full,
                   CAST(list_sum(list_transform(generate_series(1, 16),
                        i -> q.qe[i]
                           * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000000)
                                  AS BIGINT))) AS BIGINT) AS dot_16
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> 0
        ),
        full_rk AS (
            SELECT vec_id, row_number() OVER (ORDER BY dot_full DESC, vec_id)
                       AS rk
            FROM scores
        ),
        trunc_rk AS (
            SELECT vec_id, row_number() OVER (ORDER BY dot_16 DESC, vec_id)
                       AS rk
            FROM scores
        )
        SELECT CAST((SELECT count(*) FROM full_rk f
                     JOIN trunc_rk t ON t.vec_id = f.vec_id
                     WHERE f.rk <= 10 AND t.rk <= 10) AS BIGINT)
                   AS overlap_at_10,
               (SELECT vec_id FROM full_rk  WHERE rk = 1) AS top1_full,
               (SELECT vec_id FROM trunc_rk WHERE rk = 1) AS top1_trunc
        """,
    category="similarity",
    doc="Matryoshka truncation eval (Kusupati et al. 2022): retrieval "
    "top-10 by the full 64-dim dot product vs the first-16-dims "
    "truncation, reported as overlap@10 plus both top-1 ids — the "
    "measurement that decides whether a 4x cheaper truncated index "
    "is good enough for first-stage retrieval (re-rank with full dims "
    "on the short list).  Both scores come from ONE scan (the prefix "
    "dot is a sub-fold of the full fold), exact int64 micro-unit "
    "arithmetic, query vector broadcast, both rankings top-k.",
)
def embedding_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    qv = F.broadcast(e.filter(F.col("vec_id") == 0).select(quant.alias("qe")))
    dot_full = F.aggregate(
        F.zip_with(F.col("qe"), quant, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dot_16 = F.aggregate(
        F.zip_with(
            F.slice(F.col("qe"), 1, 16), F.slice(quant, 1, 16), lambda x, y: x * y
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scores = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", dot_full.alias("dot_full"), dot_16.alias("dot_16"))
    )
    full_rk = scores.withColumn(
        "rk", F.row_number().over(Wnd.orderBy(F.col("dot_full").desc(), "vec_id"))
    )
    trunc_rk = scores.withColumn(
        "rk", F.row_number().over(Wnd.orderBy(F.col("dot_16").desc(), "vec_id"))
    )
    overlap = (
        full_rk.filter(F.col("rk") <= 10)
        .select("vec_id")
        .join(trunc_rk.filter(F.col("rk") <= 10).select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("overlap_at_10"))
    )
    top1_full = full_rk.filter(F.col("rk") == 1).select(
        F.col("vec_id").alias("top1_full")
    )
    top1_trunc = trunc_rk.filter(F.col("rk") == 1).select(
        F.col("vec_id").alias("top1_trunc")
    )
    return overlap.crossJoin(F.broadcast(top1_full)).crossJoin(
        F.broadcast(top1_trunc)
    )


def _ivf_curve_probe_sql(p: int) -> str:
    return f"""
        probe_{p} AS (SELECT vec_id AS q_id, c_id AS list_id FROM aff
                      WHERE rn <= {p} AND vec_id < 10),
        top_{p} AS (
            SELECT q_id, neighbor_id
            FROM (
                SELECT s.q_id, s.neighbor_id,
                       row_number() OVER (PARTITION BY s.q_id
                                          ORDER BY s.cosine DESC, s.neighbor_id)
                           AS rnk
                FROM (
                    SELECT probe_{p}.q_id, a.vec_id AS neighbor_id,
                           list_sum(list_transform(generate_series(1, {_DIM}),
                                i -> qv.e[i] * cv.e[i])) / (qv.nrm * cv.nrm)
                               AS cosine
                    FROM probe_{p}
                    JOIN assign a ON a.list_id = probe_{p}.list_id
                                 AND a.vec_id <> probe_{p}.q_id
                    JOIN v qv ON qv.vec_id = probe_{p}.q_id
                    JOIN v cv ON cv.vec_id = a.vec_id
                ) s
            )
            WHERE rnk <= 5
        )"""


@register(
    "similarity_ivf_nprobe_curve",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, e AS ce, nrm AS cnrm FROM v
            WHERE vec_id < {_IVF_K}
        ),
        aff AS (
            SELECT v.vec_id, cent.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                                    i -> v.e[i] * cent.ce[i])) / (v.nrm * cent.cnrm)
                                DESC, cent.c_id) AS rn
            FROM v, cent
        ),
        assign AS (SELECT vec_id, c_id AS list_id FROM aff WHERE rn = 1),
        exact AS (
            SELECT q_id, neighbor_id
            FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                                        i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm)
                                    DESC, c.vec_id) AS rnk
                FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
            )
            WHERE rnk <= 5
        ),
        {",".join(_ivf_curve_probe_sql(p) for p in (1, 2, 4))}
        SELECT nprobe,
               CAST(n_hits AS BIGINT) AS n_hits,
               CAST(round(1000000.0 * n_hits / 50) AS BIGINT) AS recall_ppm
        FROM (
            {" UNION ALL ".join(
                f"SELECT {p} AS nprobe, (SELECT count(*) FROM exact e "
                f"JOIN top_{p} t ON t.q_id = e.q_id "
                f"AND t.neighbor_id = e.neighbor_id) AS n_hits"
                for p in (1, 2, 4)
            )}
        )
        """,
    category="similarity",
    doc="IVF recall-vs-nprobe curve — the ANN tuning loop next to "
    "dedup_lsh_band_tradeoff: the SAME posting-list assignment probed "
    "at nprobe = 1 / 2 / 4 for the 10 query vectors, recall@5 against "
    "the exact brute-force truth reported in exact ppm per setting.  "
    "This is the sample-scale measurement that picks the latency/"
    "recall point before a 100 TB index build; the assignment and "
    "affinity ranking are computed once (checkpointed) and each probe "
    "depth reuses them — deeper probes only widen the posting-list "
    "join.",
)
def similarity_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("c_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )
    aff_score = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    wa = Wnd.partitionBy("vec_id").orderBy(F.col("aff").desc(), F.col("c_id"))
    ranked = (
        v.crossJoin(cent)
        .select("vec_id", "c_id", aff_score.alias("aff"))
        .withColumn("rn", F.row_number().over(wa))
        .transform(truncate_lazy)
    )
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("c_id").alias("list_id")
    )
    lists = v.join(assign, "vec_id")
    q = v.select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    exact = (
        QUERIES["similarity_topk"].fn(spark, sf_dir)
        .select("q_id", "neighbor_id")
        .transform(truncate_lazy)
    )
    cos = _dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm"))
    out = None
    for p in (1, 2, 4):
        probe = ranked.filter((F.col("rn") <= p) & (F.col("vec_id") < 10)).select(
            F.col("vec_id").alias("q_id"), F.col("c_id").alias("list_id")
        )
        w5 = Wnd.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        top = (
            F.broadcast(probe.join(q, "q_id"))
            .join(lists, "list_id")
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
            .withColumn("rnk", F.row_number().over(w5))
            .filter(F.col("rnk") <= 5)
            .select("q_id", "neighbor_id")
        )
        hits = exact.join(top, ["q_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        row = hits.select(
            F.lit(p).alias("nprobe"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.round(F.lit(1_000_000.0) * F.col("n_hits") / 50)
            .cast("bigint")
            .alias("recall_ppm"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "embedding_knn_label_eval",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, label, e,
                   sqrt(CAST(list_sum(list_transform(e, x -> x * x))
                        AS DOUBLE)) AS nrm
            FROM v
        ),
        p AS (
            SELECT a.vec_id AS qa, a.label AS la, b.label AS lb, b.vec_id AS nb,
                   CAST(list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> a.e[i] * b.e[i])) AS DOUBLE) / (a.nrm * b.nrm)
                       AS cos
            FROM n a JOIN n b
              ON b.vec_id <> a.vec_id
             AND b.vec_id % {_EVAL_MOD} = 0
             AND b.vec_id < {_EVAL_MOD * _EVAL_CAP}
        ),
        top5 AS (
            SELECT qa, la, lb FROM (
                SELECT qa, la, lb,
                       row_number() OVER (PARTITION BY qa
                                          ORDER BY cos DESC, nb) AS rk
                FROM p
            ) WHERE rk <= 5
        ),
        votes AS (SELECT qa, la, lb, count(*) AS c FROM top5 GROUP BY qa, la, lb),
        pred AS (
            SELECT qa, la, lb AS predicted FROM (
                SELECT qa, la, lb,
                       row_number() OVER (PARTITION BY qa
                                          ORDER BY c DESC, lb) AS r
                FROM votes
            ) WHERE r = 1
        )
        SELECT la AS label,
               count(*) AS n_vectors,
               CAST(sum(CASE WHEN predicted = la THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_correct,
               (1000000 * CAST(sum(CASE WHEN predicted = la THEN 1 ELSE 0 END)
                    AS BIGINT)) // count(*) AS accuracy_ppm
        FROM pred GROUP BY la
        """,
    category="similarity",
    doc="kNN label-prediction eval (k=5, majority vote, cosine) — the "
    "standard embedding-quality probe: leave-one-out neighbors vote on "
    "each vector\'s label, per-label accuracy says which classes the "
    "embedding space actually separates (read BEFORE trusting semantic "
    "dedup or clustering built on it).  Same exact integer Gram kernel "
    "as dedup_embedding_cosine: vectors quantize to int64 (order-"
    "independent dot products), the ranking cosine is elementwise IEEE "
    "ops on those exact integers (sqrt is correctly rounded by spec), "
    "ties break by neighbor id then label — bit-identical to the "
    "oracle\'s sequential SQL.  The reference (voter) side is a "
    "DETERMINISTIC HASH-CAPPED SAMPLE (vec_id % 4 == 0, hard cap 50k "
    "rows — a pure scan-pushed filter), so the one driver collect is "
    "bounded at ANY corpus size; the probe side streams the full "
    "distributed table through Arrow batches.  At corpus scale the "
    "same vote runs over similarity_ann_ivf\'s posting-list top-k "
    "instead (similarity_ann_recall measures what that swap costs).  "
    "The vote and argmax run inside the Arrow batch; only (label, "
    "prediction) rows leave Python.",
)
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ids, mat, labs = q6_sample(
        e.filter(
            (F.col("vec_id") % _EVAL_MOD == 0)
            & (F.col("vec_id") < _EVAL_MOD * _EVAL_CAP)
        ).collect(),
        "label",
    )
    nrm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    n_lab = int(labs.max()) + 1
    bc = spark.sparkContext.broadcast((ids, labs, mat, nrm))

    def knn(batches):
        import numpy as np

        b_ids, b_labs, b_mat, b_nrm = bc.value
        for batch in batches:
            a_ids = np.asarray(batch.column("vec_id"), dtype=np.int64)
            a_labs = np.asarray(batch.column("label"), dtype=np.int64)
            a_mat = q6_embeddings(batch)
            a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1).astype(np.float64))
            cos = q6_dot(a_mat, b_mat) / np.outer(a_nrm, b_nrm)
            # ORDER BY cos DESC, nb; leave-one-out because _nearest
            # drops self (an -inf mask would still take a top-5 slot and
            # vote for its own label whenever the sample has <= 5 rows)
            r, c = _nearest(a_ids, b_ids, -cos, 5)
            votes = np.zeros((len(a_ids), n_lab), dtype=np.int64)
            np.add.at(votes, (r, b_labs[c]), 1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(a_labs, type=pa.int64()),
                 pa.array(votes.argmax(axis=1), type=pa.int64())],
                ["la", "predicted"],
            )

    scored = e.mapInArrow(knn, "la long, predicted long")
    return scored.groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("predicted") == F.col("la")).cast("int"))
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "1000000 * cast(sum(cast(predicted = la as int)) as bigint)"
            " div count(*)"
        ).alias("accuracy_ppm"),
    )


@register(
    "embedding_label_separation",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, label, e,
                   sqrt(CAST(list_sum(list_transform(e, x -> x * x))
                        AS DOUBLE)) AS nrm
            FROM v
        ),
        p AS (
            SELECT a.label AS la, b.label AS lb,
                   CAST(floor(1000000 * (
                        CAST(list_sum(list_transform(generate_series(1, {_DIM}),
                             i -> a.e[i] * b.e[i])) AS DOUBLE)
                        / (a.nrm * b.nrm))) AS BIGINT) AS cq
            FROM n a JOIN n b
              ON b.vec_id <> a.vec_id
             AND b.vec_id % {_EVAL_MOD} = 0
             AND b.vec_id < {_EVAL_MOD * _EVAL_CAP}
        )
        SELECT la AS label_a, lb AS label_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(cq) AS BIGINT) // count(*) AS mean_cos_micros
        FROM p GROUP BY la, lb
        """,
    category="similarity",
    doc="Class-separation matrix — the eval read NEXT TO "
    "embedding_knn_label_eval: mean pairwise cosine (in exact "
    "micro-units) for every ordered label pair; a healthy space has "
    "the diagonal (intra-class) well above the off-diagonal.  Floats "
    "never sum across rows: each cosine quantizes scan-side to an "
    "int64 floor(1e6*cos) — a deterministic function of the exact "
    "integer Gram — and only INTEGER sums aggregate, so the matrix is "
    "order/partition-independent and bit-identical to the oracle.  The "
    "batch kernel emits per-(vector, label) partial sums (n_labels "
    "rows per vector, never the pair grid), and the final aggregate "
    "merges partials — the mergeable-partials rollup shape at any "
    "scale.  The reference side of each pair is a DETERMINISTIC "
    "HASH-CAPPED SAMPLE (vec_id % 4 == 0, hard cap 50k rows — a pure "
    "scan-pushed filter), so the one driver collect is bounded at ANY "
    "corpus size; the probe side streams the full distributed table.",
)
def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    ids, mat, labs = q6_sample(
        e.filter(
            (F.col("vec_id") % _EVAL_MOD == 0)
            & (F.col("vec_id") < _EVAL_MOD * _EVAL_CAP)
        ).collect(),
        "label",
    )
    nrm = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    uniq = np.unique(labs)
    onehot = (labs[:, None] == uniq[None, :]).astype(np.int64)  # [nb][n_labels]
    bc = spark.sparkContext.broadcast((ids, mat, nrm, onehot, uniq))

    def partials(batches):
        import numpy as np

        b_ids, b_mat, b_nrm, b_onehot, u = bc.value
        for batch in batches:
            a_ids = np.asarray(batch.column("vec_id"), dtype=np.int64)
            a_labs = np.asarray(batch.column("label"), dtype=np.int64)
            a_mat = q6_embeddings(batch)
            a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1).astype(np.float64))
            gram = q6_dot(a_mat, b_mat)
            cq = np.floor(
                1_000_000 * (gram.astype(np.float64) / np.outer(a_nrm, b_nrm))
            ).astype(np.int64)
            # per-(vector, reference label) sum and count over the
            # non-self pairs: exact int64 products with the one-hot labels
            other = a_ids[:, None] != b_ids[None, :]
            s = np.where(other, cq, 0) @ b_onehot
            n = other.astype(np.int64) @ b_onehot
            ii, ll = np.nonzero(n)
            yield pa.RecordBatch.from_arrays(
                [pa.array(a_labs[ii], type=pa.int64()),
                 pa.array(u[ll], type=pa.int64()),
                 pa.array(s[ii, ll], type=pa.int64()),
                 pa.array(n[ii, ll], type=pa.int64())],
                ["la", "lb", "s", "n"],
            )

    part = e.mapInArrow(partials, "la long, lb long, s long, n long")
    return part.groupBy(
        F.col("la").alias("label_a"), F.col("lb").alias("label_b")
    ).agg(
        F.sum("n").cast("bigint").alias("n_pairs"),
        F.expr("cast(sum(s) as bigint) div cast(sum(n) as bigint)").alias(
            "mean_cos_micros"
        ),
    )


@register(
    "similarity_mmr_rerank",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        q AS (SELECT * FROM v WHERE vec_id < 10),
        cand AS (
            SELECT q_id, c_id, rel FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                       list_sum(list_transform(generate_series(1, 64),
                            i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS rel,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY list_sum(list_transform(generate_series(1, 64),
                                i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) DESC,
                                c.vec_id) AS rk
                FROM q JOIN v c ON c.vec_id <> q.vec_id
            ) WHERE rk <= 8
        ),
        sim AS (
            SELECT a.q_id, a.c_id AS c1, b.c_id AS c2,
                   list_sum(list_transform(generate_series(1, 64),
                        i -> x.e[i] * y.e[i])) / (x.nrm * y.nrm) AS s
            FROM cand a
            JOIN cand b ON b.q_id = a.q_id AND b.c_id <> a.c_id
            JOIN v x ON x.vec_id = a.c_id
            JOIN v y ON y.vec_id = b.c_id
        ),
        s1 AS (
            SELECT q_id, c_id AS sel1 FROM (
                SELECT q_id, c_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY rel DESC, c_id) AS r
                FROM cand
            ) WHERE r = 1
        ),
        sc2 AS (
            SELECT c.q_id, c.c_id, c.rel - m.s AS score
            FROM cand c
            JOIN s1 ON s1.q_id = c.q_id AND c.c_id <> s1.sel1
            JOIN sim m ON m.q_id = c.q_id AND m.c1 = c.c_id AND m.c2 = s1.sel1
        ),
        s2 AS (
            SELECT q_id, c_id AS sel2 FROM (
                SELECT q_id, c_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY score DESC, c_id) AS r
                FROM sc2
            ) WHERE r = 1
        ),
        sc3 AS (
            SELECT c.q_id, c.c_id,
                   c.rel - greatest(m1.s, m2.s) AS score
            FROM cand c
            JOIN s1 ON s1.q_id = c.q_id
            JOIN s2 ON s2.q_id = c.q_id
            JOIN sim m1 ON m1.q_id = c.q_id AND m1.c1 = c.c_id
                        AND m1.c2 = s1.sel1
            JOIN sim m2 ON m2.q_id = c.q_id AND m2.c1 = c.c_id
                        AND m2.c2 = s2.sel2
            WHERE c.c_id <> s1.sel1 AND c.c_id <> s2.sel2
        ),
        s3 AS (
            SELECT q_id, c_id AS sel3 FROM (
                SELECT q_id, c_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY score DESC, c_id) AS r
                FROM sc3
            ) WHERE r = 1
        )
        SELECT q_id, 1 AS pick, sel1 AS selected_id FROM s1
        UNION ALL SELECT q_id, 2, sel2 FROM s2
        UNION ALL SELECT q_id, 3, sel3 FROM s3
        """,
    category="similarity",
    doc="MMR (maximal marginal relevance) diversified reranking — the "
    "RAG retrieval step after top-k: from each query's top-8 cosine "
    "candidates, greedily pick 3 where each pick maximizes relevance "
    "minus its worst similarity to the already-picked set (lambda = "
    "0.5, scaled out of the argmax), so near-duplicate passages don't "
    "crowd the context window.  The greedy recurrence is UNROLLED to "
    "three rounds in both engines — each round one window argmax over "
    "the candidate table joined to the tiny pairwise-sim table "
    "(candidates^2 per query, bounded by k^2, never corpus-scale).  "
    "Cosines are the same bit-deterministic float pipeline as "
    "similarity_topk; ties break on vec_id.",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vecs(spark, sf_dir)
    q = F.broadcast(v.filter(F.col("vec_id") < 10).alias("q"))
    c = v.alias("c")
    rel = _dot(F.col("q.e"), F.col("c.e")) / (F.col("q.nrm") * F.col("c.nrm"))
    w = Wnd.partitionBy("q_id").orderBy(F.col("rel").desc(), "c_id")
    cand = (
        q.join(c, F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("q_id"),
            F.col("c.vec_id").alias("c_id"),
            rel.alias("rel"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
        .drop("rk")
        .transform(truncate_lazy)
    )
    x, y = v.alias("x"), v.alias("y")
    s = _dot(F.col("x.e"), F.col("y.e")) / (F.col("x.nrm") * F.col("y.nrm"))
    a, b = cand.alias("a"), cand.alias("b")
    sim = (
        a.join(
            b,
            (F.col("b.q_id") == F.col("a.q_id"))
            & (F.col("b.c_id") != F.col("a.c_id")),
        )
        .join(x, F.col("x.vec_id") == F.col("a.c_id"))
        .join(y, F.col("y.vec_id") == F.col("b.c_id"))
        .select(
            F.col("a.q_id").alias("q_id"),
            F.col("a.c_id").alias("c1"),
            F.col("b.c_id").alias("c2"),
            s.alias("s"),
        )
        .transform(truncate_lazy)
    )

    def argmax(df, score_col, out_name):
        wr = Wnd.partitionBy("q_id").orderBy(F.col(score_col).desc(), "c_id")
        return (
            df.withColumn("r", F.row_number().over(wr))
            .filter(F.col("r") == 1)
            .select("q_id", F.col("c_id").alias(out_name))
        )

    s1 = argmax(cand, "rel", "sel1")
    sc2 = (
        cand.join(s1, "q_id")
        .filter(F.col("c_id") != F.col("sel1"))
        .join(
            sim.select("q_id", F.col("c1").alias("c_id"), F.col("c2").alias("m2c"), "s"),
            ["q_id", "c_id"],
        )
        .filter(F.col("m2c") == F.col("sel1"))
        .select("q_id", "c_id", (F.col("rel") - F.col("s")).alias("score"))
    )
    s2 = argmax(sc2, "score", "sel2")
    m1 = sim.select("q_id", F.col("c1").alias("c_id"), F.col("c2").alias("mc1"), F.col("s").alias("s1v"))
    m2 = sim.select("q_id", F.col("c1").alias("c_id"), F.col("c2").alias("mc2"), F.col("s").alias("s2v"))
    sc3 = (
        cand.join(s1, "q_id")
        .join(s2, "q_id")
        .filter((F.col("c_id") != F.col("sel1")) & (F.col("c_id") != F.col("sel2")))
        .join(m1, ["q_id", "c_id"])
        .filter(F.col("mc1") == F.col("sel1"))
        .join(m2, ["q_id", "c_id"])
        .filter(F.col("mc2") == F.col("sel2"))
        .select(
            "q_id",
            "c_id",
            (F.col("rel") - F.greatest(F.col("s1v"), F.col("s2v"))).alias("score"),
        )
    )
    s3 = argmax(sc3, "score", "sel3")
    return (
        s1.select("q_id", F.lit(1).alias("pick"), F.col("sel1").alias("selected_id"))
        .unionAll(s2.select("q_id", F.lit(2), "sel2"))
        .unionAll(s3.select("q_id", F.lit(3), "sel3"))
    )


@register(
    "similarity_ann_ivfpq",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        cc AS (SELECT vec_id AS c, e FROM q WHERE vec_id < 8),
        cd AS (
            SELECT v.vec_id, c.c,
                   list_sum(list_transform(generate_series(1, 64),
                       d -> (v.e[d] - c.e[d]) * (v.e[d] - c.e[d]))) AS dist
            FROM q v, cc c
        ),
        casgn AS (
            SELECT vec_id, c
            FROM (SELECT vec_id, c,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist, c) AS rn
                  FROM cd)
            WHERE rn = 1
        ),
        resid AS (
            SELECT v.vec_id, a.c AS lst,
                   list_transform(generate_series(1, 64),
                                  d -> v.e[d] - cc.e[d]) AS r
            FROM q v JOIN casgn a ON a.vec_id = v.vec_id
                     JOIN cc ON cc.c = a.c
        ),
        book AS (SELECT vec_id AS b, r FROM resid WHERE vec_id < 16),
        sub AS (
            SELECT x.vec_id, x.lst, s.s, bk.b,
                   list_sum(list_transform(generate_series(1, 8),
                       d -> (x.r[s.s * 8 + d] - bk.r[s.s * 8 + d])
                          * (x.r[s.s * 8 + d] - bk.r[s.s * 8 + d]))) AS dist
            FROM resid x,
                 (SELECT unnest(generate_series(0, 7)) AS s) s,
                 book bk
        ),
        codes AS (
            SELECT vec_id, lst, s, b
            FROM (SELECT vec_id, lst, s, b,
                         row_number() OVER (PARTITION BY vec_id, s
                                            ORDER BY dist, b) AS rn
                  FROM sub)
            WHERE rn = 1
        ),
        queries AS (SELECT vec_id AS query_id, e FROM q
                    WHERE vec_id % 97 = 0 AND vec_id < 97000),
        probes AS (
            SELECT query_id, c AS lst
            FROM (SELECT qu.query_id, c.c,
                         row_number() OVER (PARTITION BY qu.query_id ORDER BY
                             list_sum(list_transform(generate_series(1, 64),
                                 d -> (qu.e[d] - c.e[d]) * (qu.e[d] - c.e[d]))),
                             c.c) AS rn
                  FROM queries qu, cc c)
            WHERE rn <= 2
        ),
        qresid AS (
            SELECT qu.query_id, p.lst,
                   list_transform(generate_series(1, 64),
                                  d -> qu.e[d] - cc.e[d]) AS qr
            FROM queries qu JOIN probes p ON p.query_id = qu.query_id
                            JOIN cc ON cc.c = p.lst
        ),
        qd AS (
            SELECT qr.query_id, co.vec_id, co.s,
                   list_sum(list_transform(generate_series(1, 8),
                       d -> (qr.qr[co.s * 8 + d] - bk.r[co.s * 8 + d])
                          * (qr.qr[co.s * 8 + d] - bk.r[co.s * 8 + d]))) AS d
            FROM qresid qr
            JOIN codes co ON co.lst = qr.lst
            JOIN book bk ON bk.b = co.b
            WHERE co.vec_id <> qr.query_id
        ),
        adc AS (
            SELECT query_id, vec_id, CAST(sum(d) AS BIGINT) AS adc_dist
            FROM qd GROUP BY query_id, vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT query_id, vec_id, adc_dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc_dist, vec_id) AS rnk
              FROM adc)
        WHERE rnk <= 3
        """,
    category="similarity",
    doc="IVF-PQ, the production web-scale ANN index (FAISS IndexIVFPQ): "
    "a coarse quantizer (8 centroid lists, as similarity_ann_ivf) "
    "routes each vector to a posting list, then product quantization "
    "runs on the RESIDUAL vector minus its coarse centroid (8 "
    "subspaces x 16 codewords, as similarity_ann_pq but on residuals "
    "— residual energy is smaller, so the same code budget quantizes "
    "finer).  A query probes its nprobe=2 nearest lists and scores "
    "candidates by per-list asymmetric distance: the query residual "
    "against EACH probed centroid feeds its own 8x16 lookup table.  "
    "All arithmetic is int64 micro-units with deterministic "
    "lowest-index tie-breaks, so the full index-build + probe is "
    "exactly oracle-checked.  Centroid/codebook collects are bounded "
    "by construction (8 + 16 rows).  At 100 TB the index stores "
    "8 B/vector + one list id, candidates are partition-pruned to the "
    "probed lists, and the scan reads codes, not vectors — memory "
    "traffic nprobe/nlists of IVF's and 1/32nd of brute force's.  "
    "Top-3 per query via WindowGroupLimit, no global sort.",
)
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # One bounded collect: the 8 coarse centroids are a prefix slice of
    # the 16 codebook seeds.
    m16 = q6_sample(e.filter(F.col("vec_id") < 16).collect())[1]  # [16][64]
    cc = m16[:8]  # [8][64] coarse centroids
    # Codebook = residuals of the first 16 vectors w.r.t. their own
    # coarse assignment (argmin = first minimum = lowest centroid id,
    # matching the oracle's ORDER BY dist, c).
    a16 = ((m16[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    book = m16 - cc[a16]  # [16][64]

    # <= _PQ_QCAP rows at any corpus size
    q_ids, q_mat = q6_sample(_pq_queries(e).collect())
    # nprobe=2 nearest lists per query (stable argsort -> lowest id ties).
    qc = ((q_mat[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2)  # [nq][8]
    probes = np.argsort(qc, axis=1, kind="stable")[:, :2]  # [nq][2]
    # Per-(query, probed list) residuals and their subspace ADC tables:
    # qtab[s][qi][j][16] = dist from query-residual subvector s (vs list
    # probes[qi][j]'s centroid) to each codeword.
    qres = q_mat[:, None, :] - cc[probes]  # [nq][2][64]
    qtab = np.stack(
        [
            (
                (
                    qres[:, :, None, s * 8 : s * 8 + 8]
                    - book[None, None, :, s * 8 : s * 8 + 8]
                )
                ** 2
            ).sum(axis=3)
            for s in range(8)
        ]
    )  # [8][nq][2][16]
    bc = spark.sparkContext.broadcast((cc, book, q_ids, probes, qtab))

    def adc(batches):
        import numpy as np

        c, bk, qi, pr, qt = bc.value
        for batch in batches:
            ids = np.asarray(batch.column("vec_id"), dtype=np.int64)
            mat = q6_embeddings(batch)
            n = len(ids)
            lst = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(
                axis=1
            )  # [n] coarse list per vector
            resid = mat - c[lst]  # [n][64]
            codes = np.empty((8, n), dtype=np.int64)
            for s in range(8):
                d = (
                    (
                        resid[:, None, s * 8 : s * 8 + 8]
                        - bk[None, :, s * 8 : s * 8 + 8]
                    )
                    ** 2
                ).sum(axis=2)
                codes[s] = np.argmin(d, axis=1)  # first min = lowest codeword
            # candidates of probe j: the vectors in list pr[q, j], self
            # excluded; each vector sits in one list, so in <= 1 probe
            out = []
            for j in range(2):
                qq, vv = np.nonzero(
                    (lst[None, :] == pr[:, j : j + 1]) & (qi[:, None] != ids[None, :])
                )
                tot = sum(qt[s][qq, j, codes[s][vv]] for s in range(8))
                out.append((qi[qq], ids[vv], tot))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(x), type=pa.int64()) for x in zip(*out)],
                ["query_id", "neighbor_id", "adc_dist"],
            )

    pairs = e.mapInArrow(adc, "query_id long, neighbor_id long, adc_dist long")
    return _top3(pairs)


@register(
    "ann_index_incremental_add",
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, e AS ce, nrm AS cnrm FROM v
            WHERE vec_id < {_IVF_K}
        ),
        aff AS (
            SELECT v.vec_id, cent.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                                    i -> v.e[i] * cent.ce[i])) / (v.nrm * cent.cnrm)
                                DESC, cent.c_id) AS rn
            FROM v, cent
        ),
        assign AS (SELECT vec_id, c_id AS list_id FROM aff WHERE rn = 1)
        SELECT list_id,
               CAST(sum(CASE WHEN vec_id % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_base,
               CAST(sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_delta,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(vec_id) AS BIGINT) AS vec_id_sum
        FROM assign
        GROUP BY list_id
        """,
    category="similarity",
    doc="INCREMENTAL IVF index maintenance — the ANN companion to "
    "dedup_incremental_index and ivm_incremental_join: the base corpus "
    "(vec_id %% 4 != 0) builds the partitioned posting lists once; a "
    "new-vector batch (%% 4 == 0) is assigned against the SAME frozen "
    "centroids and APPENDED to the per-list partitions — no rebuild, "
    "ingest cost O(batch), and the read-back summary must hash-match a "
    "from-scratch full-corpus assignment (append == rebuild is the "
    "maintenance invariant; centroid drift is handled by periodic "
    "retrains, kmeans_loop_2iter).  At 100 TB this is how a serving "
    "index tracks a growing corpus: daily batches append to "
    "list-partitioned parquet, probes keep pruning partitions, "
    "sink_compaction keeps shards at target size.",
)
def ann_index_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.sources.readers import _scratch

    v = _vecs(spark, sf_dir)
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("c_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )
    aff_score = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    wa = Wnd.partitionBy("vec_id").orderBy(F.col("aff").desc(), F.col("c_id"))

    def assign(side: DataFrame) -> DataFrame:
        return (
            side.crossJoin(cent)
            .select("vec_id", "c_id", aff_score.alias("aff"))
            .withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("c_id").alias("list_id"))
        )

    path = _scratch(sf_dir, "ivf_index_incr")
    # Base build clears the directory (overwrite), the delta batch
    # appends into the same list_id partitions — never a rebuild.
    assign(v.filter(F.col("vec_id") % 4 != 0)).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(path)
    assign(v.filter(F.col("vec_id") % 4 == 0)).write.mode(
        "append"
    ).partitionBy("list_id").parquet(path)

    back = spark.read.parquet(path)
    return back.groupBy("list_id").agg(
        F.sum(F.when(F.col("vec_id") % 4 != 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_base"),
        F.sum(F.when(F.col("vec_id") % 4 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_delta"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("vec_id").cast("bigint").alias("vec_id_sum"),
    )


@register(
    "similarity_ivfpq_recall",
    oracle=f"""
        WITH ivfpq AS (
            SELECT query_id, neighbor_id FROM ({{ivfpq_oracle}}) iv
        ),
        q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        queries AS (SELECT vec_id AS query_id, e FROM q
                    WHERE vec_id % 97 = 0 AND vec_id < 97000),
        exact_top AS (
            SELECT query_id, vec_id
            FROM (SELECT qu.query_id, v.vec_id,
                         row_number() OVER (PARTITION BY qu.query_id ORDER BY
                             list_sum(list_transform(generate_series(1, 64),
                                 d -> (qu.e[d] - v.e[d]) * (qu.e[d] - v.e[d]))),
                             v.vec_id) AS rnk
                  FROM queries qu CROSS JOIN q v
                  WHERE v.vec_id <> qu.query_id)
            WHERE rnk <= 3
        )
        SELECT e.query_id,
               CAST(count(p.neighbor_id) AS BIGINT) AS n_hits,
               round(CAST(count(p.neighbor_id) AS DOUBLE) / 3, 6)
                   AS recall_at_3
        FROM exact_top e
        LEFT JOIN ivfpq p
          ON p.query_id = e.query_id AND p.neighbor_id = e.vec_id
        GROUP BY e.query_id
        """,
    category="similarity",
    doc="Recall@3 of the combined IVF-PQ index against exact integer-L2 "
    "brute force — completes the eval symmetry (similarity_ann_recall "
    "scores IVF, similarity_pq_recall scores PQ, this scores their "
    "composition, whose losses compound: a missed probe list AND "
    "residual quantization error both cost recall).  Rankings on both "
    "sides are deterministic int64, so the eval itself hash-matches; "
    "the oracle's candidate side is composed verbatim from the "
    "registered similarity_ann_ivfpq oracle, so index and eval cannot "
    "drift.  Ground truth is the only quadratic piece — query-sampled, "
    "never corpus x corpus.",
)
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivfpq_top = similarity_ann_ivfpq(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # <= _PQ_QCAP rows at any corpus size
    return _recall_at_3(spark, e, _pq_queries(e).collect(), ivfpq_top)


QUERIES["similarity_ivfpq_recall"].oracle = QUERIES[
    "similarity_ivfpq_recall"
].oracle.format(ivfpq_oracle=QUERIES["similarity_ann_ivfpq"].oracle)


@register(
    "vector_quantize_recall",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS m,
                   CASE WHEN list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) = 0
                        THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(embedding,
                                 x -> CAST(round(CAST(x AS DOUBLE) * 127
                                      / list_max(list_transform(embedding,
                                            y -> abs(CAST(y AS DOUBLE)))))
                                      AS BIGINT))
                   END AS q
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
                   list_sum(list_transform(generate_series(1, len(a.m)),
                        i -> a.m[i] * b.m[i])) AS dm,
                   list_sum(list_transform(generate_series(1, len(a.q)),
                        i -> a.q[i] * b.q[i])) AS dq
            FROM v a JOIN v b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ),
        rk AS (
            SELECT q_id, neighbor_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY dm DESC, neighbor_id) AS er,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY dq DESC, neighbor_id) AS qr
            FROM pairs
        )
        SELECT q_id,
               CAST(sum(CASE WHEN er <= 3 AND qr <= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits,
               round(CAST(sum(CASE WHEN er <= 3 AND qr <= 3 THEN 1 ELSE 0 END)
                          AS DOUBLE) / 3, 6) AS recall_at_3
        FROM rk GROUP BY q_id
        """,
    category="similarity",
    doc="Recall@3 of int8 absmax-quantized maximum-inner-product search "
    "against the full-precision ranking — the eval that decides whether "
    "a vector store can ship 8-bit vectors (4x memory, 4x scan "
    "throughput) for a given corpus: vector_quantize_int8 provides the "
    "storage kernel, this measures what its rounding costs at query "
    "time.  BOTH rankings are exact int64 dot products (full precision "
    "= 1e-6 micro-units, quantized = round(127*x/absmax) — the "
    "half-away rounding Spark ROUND and DuckDB round() share), so "
    "ranks, hits and recall are deterministic and hash-exact.  Plan: "
    "ONE pair table (broadcast 10-query side, one corpus scan) carries "
    "both dot products; two row_number windows over the same q_id "
    "partitioning rank them without a second scan (the second window "
    "reuses the first's Exchange); a per-query aggregate finishes.  At "
    "100 TB the corpus is scanned once, the query side is O(queries).",
)
def vector_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    micro = F.transform("e", lambda x: F.round(x * 1000000, 0).cast("bigint"))
    am = F.array_max(F.transform("e", lambda x: F.abs(x)))
    q8 = F.when(
        am == 0, F.transform("e", lambda x: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform("e", lambda x: F.round(x * 127 / am, 0).cast("bigint"))
    )
    v = e.select("vec_id", micro.alias("m"), q8.alias("q"))
    idot = lambda a, b: F.aggregate(  # noqa: E731 — int64 dot product
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qside = F.broadcast(v.filter(F.col("vec_id") < 10).alias("qq"))
    c = v.alias("cc")
    pairs = qside.join(c, F.col("cc.vec_id") != F.col("qq.vec_id")).select(
        F.col("qq.vec_id").alias("q_id"),
        F.col("cc.vec_id").alias("neighbor_id"),
        idot(F.col("qq.m"), F.col("cc.m")).alias("dm"),
        idot(F.col("qq.q"), F.col("cc.q")).alias("dq"),
    )
    er = F.row_number().over(
        Wnd.partitionBy("q_id").orderBy(F.col("dm").desc(), "neighbor_id")
    )
    qr = F.row_number().over(
        Wnd.partitionBy("q_id").orderBy(F.col("dq").desc(), "neighbor_id")
    )
    hit = ((F.col("er") <= 3) & (F.col("qr") <= 3)).cast("int")
    return (
        pairs.withColumn("er", er)
        .withColumn("qr", qr)
        .groupBy("q_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            F.round(F.sum(hit).cast("double") / 3, 6).alias("recall_at_3"),
        )
    )


@register(
    "embedding_triplet_mining",
    oracle="""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS q_id, q.label AS q_label,
                   c.vec_id AS c_id, c.label AS c_label,
                   list_sum(list_transform(generate_series(1, len(q.e)),
                        i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
            FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
        ),
        hard_neg AS (
            SELECT q_id, q_label, c_id AS hard_neg_id, cosine AS neg_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, c_id) AS rn
                  FROM scored WHERE c_label <> q_label)
            WHERE rn = 1
        ),
        hard_pos AS (
            SELECT q_id, c_id AS hard_pos_id, cosine AS pos_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine ASC, c_id) AS rn
                  FROM scored WHERE c_label = q_label)
            WHERE rn = 1
        )
        SELECT n.q_id, n.q_label,
               n.hard_neg_id, round(n.neg_cos, 6) AS neg_cosine,
               p.hard_pos_id, round(p.pos_cos, 6) AS pos_cosine,
               round(n.neg_cos - p.pos_cos, 6) AS margin,
               round(n.neg_cos, 6) > round(p.pos_cos, 6) - 0.2
                   AS violates_margin
        FROM hard_neg n JOIN hard_pos p USING (q_id)
        """,
    category="similarity",
    doc="Triplet mining for contrastive training (r12): per anchor, the "
    "HARDEST NEGATIVE (highest-cosine vector of a different label) and "
    "HARDEST POSITIVE (lowest-cosine vector of the same label), plus "
    "the triplet margin and a 0.2-margin violation flag — the batch "
    "audit every metric-learning pipeline runs to decide whether its "
    "sampler still finds informative triplets.  Shape: bounded anchor "
    "batch broadcast (vec_id < 20 — the per-step mining batch), ONE "
    "corpus scan, two per-anchor windows.  At 100 TB the anchor batch "
    "stays batch-sized and the candidate side drops to IVF/nprobe "
    "cells (similarity_ann_ivf's persisted postings) instead of the "
    "full scan — the mining windows are unchanged.",
)
def embedding_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    v = e.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        F.sqrt(sq).alias("nrm"),
    )
    q = F.broadcast(v.filter(F.col("vec_id") < 20).alias("q"))
    c = v.alias("c")
    cos = _dot(F.col("q.e"), F.col("c.e")) / (F.col("q.nrm") * F.col("c.nrm"))
    scored = q.join(c, F.col("c.vec_id") != F.col("q.vec_id")).select(
        F.col("q.vec_id").alias("q_id"),
        F.col("q.label").alias("q_label"),
        F.col("c.vec_id").alias("c_id"),
        F.col("c.label").alias("c_label"),
        cos.alias("cosine"),
    )
    w_neg = Wnd.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    w_pos = Wnd.partitionBy("q_id").orderBy(
        F.col("cosine").asc(), F.col("c_id")
    )
    neg = (
        scored.filter(F.col("c_label") != F.col("q_label"))
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            "q_label",
            F.col("c_id").alias("hard_neg_id"),
            F.col("cosine").alias("neg_cos"),
        )
    )
    pos = (
        scored.filter(F.col("c_label") == F.col("q_label"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("c_id").alias("hard_pos_id"),
            F.col("cosine").alias("pos_cos"),
        )
    )
    return neg.join(pos, "q_id").select(
        "q_id",
        "q_label",
        "hard_neg_id",
        F.round("neg_cos", 6).alias("neg_cosine"),
        "hard_pos_id",
        F.round("pos_cos", 6).alias("pos_cosine"),
        F.round(F.col("neg_cos") - F.col("pos_cos"), 6).alias("margin"),
        (
            F.round("neg_cos", 6) > F.round("pos_cos", 6) - F.lit(0.2)
        ).alias("violates_margin"),
    )


@register(
    "embedding_triplet_mining_ivf",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, e AS ce, nrm AS cnrm FROM v
            WHERE vec_id < {_IVF_K}
        ),
        aff AS (
            SELECT v.vec_id, cent.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(generate_series(1, {_DIM}),
                                    i -> v.e[i] * cent.ce[i])) / (v.nrm * cent.cnrm)
                                DESC, cent.c_id) AS rn
            FROM v, cent
        ),
        assign AS (SELECT vec_id, c_id AS list_id FROM aff WHERE rn = 1),
        probe  AS (SELECT vec_id AS q_id, c_id AS list_id FROM aff
                   WHERE rn <= {_IVF_NPROBE} AND vec_id < 20),
        negs AS (
            SELECT probe.q_id, qv.label AS q_label, a.vec_id AS c_id,
                   list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> qv.e[i] * cv.e[i])) / (qv.nrm * cv.nrm) AS cosine
            FROM probe
            JOIN assign a ON a.list_id = probe.list_id
                         AND a.vec_id <> probe.q_id
            JOIN v qv ON qv.vec_id = probe.q_id
            JOIN v cv ON cv.vec_id = a.vec_id
            WHERE cv.label <> qv.label
        ),
        hard_neg AS (
            SELECT q_id, q_label, c_id AS hard_neg_id, cosine AS neg_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, c_id) AS rn FROM negs)
            WHERE rn = 1
        ),
        pos AS (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
            FROM v q JOIN v c ON q.vec_id < 20 AND c.label = q.label
                              AND c.vec_id <> q.vec_id
        ),
        hard_pos AS (
            SELECT q_id, c_id AS hard_pos_id, cosine AS pos_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cosine ASC, c_id) AS rn FROM pos)
            WHERE rn = 1
        )
        SELECT n.q_id, n.q_label,
               n.hard_neg_id, round(n.neg_cos, 6) AS neg_cosine,
               p.hard_pos_id, round(p.pos_cos, 6) AS pos_cosine,
               round(n.neg_cos - p.pos_cos, 6) AS margin
        FROM hard_neg n JOIN hard_pos p USING (q_id)
        """,
    category="similarity",
    doc="The SCALE PATH of embedding_triplet_mining, implemented (not "
    "just claimed): hard negatives are mined from the anchor's "
    f"nprobe={_IVF_NPROBE} IVF posting lists — per-anchor candidate "
    "work O(nprobe*N/K) instead of O(N), the same coarse quantizer + "
    "probe join as similarity_ann_ivf (bucketed-by-list parquet at "
    "scale, probe join prunes to nprobe buckets).  Hard positives "
    "search WITHIN the anchor's label class (an equi-join on label — "
    "class-partitioned work, never all-pairs), because the lowest-"
    "cosine positive is by definition FAR from the anchor and IVF "
    "cells would never contain it.  An anchor whose probed cells hold "
    "no opposite-label vector drops out (deterministic; the oracle "
    "replays the identical candidate generation).  Same mining "
    "windows as the exact twin, so recall degradation is directly "
    "diffable against embedding_triplet_mining.",
)
def embedding_triplet_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    v = e.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        F.sqrt(sq).alias("nrm"),
    )
    cent = F.broadcast(
        v.filter(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("c_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )
    aff_score = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    aff = v.crossJoin(cent).select("vec_id", "c_id", aff_score.alias("aff"))
    wa = Wnd.partitionBy("vec_id").orderBy(F.col("aff").desc(), F.col("c_id"))
    ranked = aff.withColumn("rn", F.row_number().over(wa))
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("c_id").alias("list_id")
    )
    probe = ranked.filter(
        (F.col("rn") <= _IVF_NPROBE) & (F.col("vec_id") < 20)
    ).select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("list_id"))

    lists = v.join(assign, "vec_id")
    qv = v.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cos_nc = _dot(F.col("qe"), F.col("e")) / (F.col("qnrm") * F.col("nrm"))
    negs = (
        probe.join(lists, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(qv, "q_id")
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "q_id", "q_label", F.col("vec_id").alias("c_id"),
            cos_nc.alias("cosine"),
        )
    )
    w_neg = Wnd.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    hard_neg = (
        negs.withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select(
            "q_id", "q_label",
            F.col("c_id").alias("hard_neg_id"),
            F.col("cosine").alias("neg_cos"),
        )
    )

    q20 = F.broadcast(
        v.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label2"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    pos = (
        q20.join(
            v.alias("c"),
            (F.col("c.label") == F.col("q_label2"))
            & (F.col("c.vec_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("c.vec_id").alias("c_id"),
            (
                _dot(F.col("qe"), F.col("c.e"))
                / (F.col("qnrm") * F.col("c.nrm"))
            ).alias("cosine"),
        )
    )
    w_pos = Wnd.partitionBy("q_id").orderBy(
        F.col("cosine").asc(), F.col("c_id")
    )
    hard_pos = (
        pos.withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("c_id").alias("hard_pos_id"),
            F.col("cosine").alias("pos_cos"),
        )
    )
    return hard_neg.join(hard_pos, "q_id").select(
        "q_id",
        "q_label",
        "hard_neg_id",
        F.round("neg_cos", 6).alias("neg_cosine"),
        "hard_pos_id",
        F.round("pos_cos", 6).alias("pos_cosine"),
        F.round(F.col("neg_cos") - F.col("pos_cos"), 6).alias("margin"),
    )


# --- scalar quantization (SQ8) -----------------------------------------

# SQ8 scores queries by a brute-force nq x corpus kernel (no posting-
# list pruning to hide behind), so its eval sample is capped TIGHTER
# than _PQ_QCAP: the r13 sf1 soak measured 35x on 10x data with the
# 1000-cap still unsaturated (the sample itself grew 52 -> 515).  128
# queries keep the kernel linear in the corpus beyond ~12k vectors;
# every fixture scale (<= 5000 vectors) passes the cap unchanged.
_SQ8_QCAP = 128


def _sq8_queries(e: DataFrame) -> DataFrame:
    """The bounded SQ8 query sample (<= _SQ8_QCAP rows at any scale)."""
    return e.filter(
        (F.col("vec_id") % _PQ_QMOD == 0)
        & (F.col("vec_id") < _PQ_QMOD * _SQ8_QCAP)
    )


def _sq8_stats(e: DataFrame) -> tuple[list[int], list[int]]:
    """Per-dimension (min, span) of the micro-unit corpus — the SQ8
    'codebook', a 2x64-int model artifact (bounded collect regardless
    of corpus size; at 100 TB it comes from the same one-pass agg)."""
    micro = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
    )
    rows = (
        e.select(F.posexplode(micro).alias("pos", "m"))
        .groupBy("pos")
        .agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
        .collect()
    )
    mn = [0] * _DIM
    span = [0] * _DIM
    for r in rows:
        mn[int(r.pos)] = int(r.mn)
        span[int(r.pos)] = int(r.mx) - int(r.mn)
    return mn, span


_SQ8_ORACLE_CTES = """
        q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                       AS e
            FROM embeddings
        ),
        stats AS (
            SELECT ds.d, min(e[ds.d]) AS mn,
                   max(e[ds.d]) - min(e[ds.d]) AS span
            FROM q, (SELECT unnest(generate_series(1, 64)) AS d) ds
            GROUP BY ds.d
        ),
        recon AS (
            SELECT v.vec_id, s.d,
                   s.mn + (CASE WHEN s.span = 0 THEN 0
                                ELSE ((v.e[s.d] - s.mn) * 255) // s.span
                           END * s.span) // 255 AS r
            FROM q v, stats s
        ),
        queries AS (SELECT vec_id AS query_id, e FROM q
                    WHERE vec_id % 97 = 0 AND vec_id < 12416),
        qd AS (
            SELECT qu.query_id, r.vec_id,
                   CAST(sum((qu.e[r.d] - r.r) * (qu.e[r.d] - r.r))
                        AS BIGINT) AS adc_dist
            FROM queries qu JOIN recon r ON r.vec_id <> qu.query_id
            GROUP BY qu.query_id, r.vec_id
        )"""


@register(
    "similarity_ann_sq8",
    oracle=f"""
        WITH {_SQ8_ORACLE_CTES}
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               CAST(rnk AS BIGINT) AS rnk
        FROM (SELECT query_id, vec_id, adc_dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc_dist, vec_id) AS rnk
              FROM qd)
        WHERE rnk <= 3
        """,
    category="similarity",
    doc="Scalar-quantization ANN (FAISS SQ8, the fourth index family "
    "next to LSH / IVF / PQ): each of the 64 dims is affine-quantized "
    "to an 8-bit code against the corpus per-dimension (min, span) — "
    "code = ((x-min)*255) // span — so the index stores 64 bytes/"
    "vector (vs 256 raw, vs PQ's 8 with far higher distortion); "
    "queries score by asymmetric distance to the integer "
    "RECONSTRUCTION min + (code*span)//255.  All arithmetic is int64 "
    "micro-units with floor division, so assignment, reconstruction "
    "and ranking are exactly oracle-checked.  At 100 TB: the (min, "
    "span) stats are one posexplode aggregate (64 groups) collected "
    "as a 2x64 model artifact and broadcast; encode+score is one "
    "numpy pass per Arrow batch against a query sample HARD-capped "
    "at _SQ8_QCAP=128 — tighter than PQ's 1000 cap because the brute "
    "nq x corpus kernel has no posting-list pruning to hide behind.  "
    "Each batch ships only its per-query top 3 "
    "(_nearest, the map-side combine), and the global top 3 per "
    "query is a WindowGroupLimit, no global sort.",
)
def similarity_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mn, span = _sq8_stats(e)
    q_ids, q_mat = q6_sample(_sq8_queries(e).collect())  # <= _SQ8_QCAP rows
    bc = spark.sparkContext.broadcast(
        (q_mat, np.array(mn, dtype=np.int64), np.array(span, dtype=np.int64))
    )

    def sq_adc(mat):
        qm, mnv, spv = bc.value
        codes = np.where(spv > 0, ((mat - mnv) * 255) // np.where(spv > 0, spv, 1), 0)
        return _l2(qm, mnv + (codes * spv) // 255)  # against the reconstruction

    return _scan_top3(e, q_ids, sq_adc)


@register(
    "similarity_sq8_recall",
    oracle=f"""
        WITH {_SQ8_ORACLE_CTES},
        sq_top AS (
            SELECT query_id, vec_id
            FROM (SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY adc_dist, vec_id) AS rnk
                  FROM qd)
            WHERE rnk <= 3
        ),
        exact_top AS (
            SELECT query_id, vec_id
            FROM (SELECT qu.query_id, v.vec_id,
                         row_number() OVER (PARTITION BY qu.query_id ORDER BY
                             list_sum(list_transform(generate_series(1, 64),
                                 d -> (qu.e[d] - v.e[d]) * (qu.e[d] - v.e[d]))),
                             v.vec_id) AS rnk
                  FROM queries qu CROSS JOIN q v
                  WHERE v.vec_id <> qu.query_id)
            WHERE rnk <= 3
        )
        SELECT e.query_id,
               CAST(count(p.vec_id) AS BIGINT) AS n_hits,
               round(CAST(count(p.vec_id) AS DOUBLE) / 3, 6) AS recall_at_3
        FROM exact_top e
        LEFT JOIN sq_top p
          ON p.query_id = e.query_id AND p.vec_id = e.vec_id
        GROUP BY e.query_id
        """,
    category="similarity",
    doc="Recall@3 of the SQ8 index against exact integer-L2 brute "
    "force — completes the per-family eval harness (IVF: "
    "similarity_ann_recall, PQ: similarity_pq_recall).  SQ8's "
    "distortion is per-dimension rounding only, so its recall sits "
    "between raw exact search and PQ's subspace quantization — the "
    "measurement that justifies picking 64 B/vector SQ8 over 8 B/"
    "vector PQ when memory allows.  Deterministic int64 rankings on "
    "both sides make the eval itself hash-exact; the brute-force "
    "ground truth is the only quadratic piece, which is why it runs "
    "on the bounded query sample, never corpus x corpus.",
)
def similarity_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sq_top = similarity_ann_sq8(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # <= _SQ8_QCAP rows at any scale
    return _recall_at_3(spark, e, _sq8_queries(e).collect(), sq_top)


@register(
    "bitext_margin_mining",
    oracle="""
        WITH el AS (
            SELECT e.vec_id, d.lang,
                   list_transform(e.embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                       AS v
            FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        ),
        a AS (SELECT vec_id AS src_id, v FROM el
              WHERE lang = 'en' AND vec_id % 3 = 0 AND vec_id < 3072),
        b AS (SELECT vec_id AS dst_id, v FROM el WHERE lang = 'fr'),
        pairs AS (
            SELECT a.src_id, b.dst_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                        i -> a.v[i] * b.v[i])) AS BIGINT) AS dot
            FROM a CROSS JOIN b
        ),
        rnk AS (
            SELECT src_id, dst_id, dot,
                   row_number() OVER (PARTITION BY src_id
                                      ORDER BY dot DESC, dst_id) AS rx,
                   row_number() OVER (PARTITION BY dst_id
                                      ORDER BY dot DESC, src_id) AS ry
            FROM pairs
        ),
        sums AS (
            SELECT src_id, dst_id, dot,
                   sum(CASE WHEN rx <= 4 THEN dot END)
                       OVER (PARTITION BY src_id) AS sumx,
                   sum(CASE WHEN ry <= 4 THEN dot END)
                       OVER (PARTITION BY dst_id) AS sumy
            FROM rnk
        ),
        scored AS (
            SELECT src_id, dst_id, dot,
                   8 * dot - sumx - sumy AS margin,
                   row_number() OVER (PARTITION BY src_id
                       ORDER BY 8 * dot - sumx - sumy DESC, dst_id) AS ra,
                   row_number() OVER (PARTITION BY dst_id
                       ORDER BY 8 * dot - sumx - sumy DESC, src_id) AS rb
            FROM sums
        )
        SELECT src_id, dst_id, CAST(dot AS BIGINT) AS dot_milli,
               CAST(margin AS BIGINT) AS margin_scaled,
               rb = 1 AS is_mutual
        FROM scored WHERE ra = 1
        """,
    category="similarity",
    doc="Bitext mining with the margin criterion (Artetxe & Schwenk "
    "2019; the CCMatrix/LASER pipeline that harvests parallel "
    "sentence pairs from comparable web corpora): for a bounded "
    "sample of English anchors, score every French candidate by the "
    "DIFFERENCE margin — dot(x,y) minus the mean of each side's "
    "k=4-NN dots (scaled by 2k so the whole criterion is one int64 "
    "expression: 2k*dot - sum(top-k of x) - sum(top-k of y); the "
    "ratio margin needs a division, the difference margin ranks "
    "identically per the paper and stays integer-exact) — and emit "
    "each anchor's best pair with its FORWARD-BACKWARD consistency "
    "flag (is_mutual: the pair is also the candidate's best anchor, "
    "the filter CCMatrix applies before training on mined pairs).  "
    "Milli-unit integer dots make every rank and sum hash-exact "
    "cross-engine.  Plan: the bounded anchor side broadcasts against "
    "the candidate-language scan (dot products in JVM zip_with/"
    "aggregate codegen, no Python); two window exchanges (src-keyed, "
    "dst-keyed) compute k-NN sums and both direction ranks.  The "
    "anchor sample is HARD-capped (<= 1024 ids; unbounded anchors "
    "made the pair kernel quadratic — 18.7x on the 10x soak).  At "
    "100 TB the all-pairs candidate side swaps for IVF posting-list "
    "pruning exactly as embedding_triplet_mining_ivf implements; the "
    "margin algebra is unchanged.",
)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    milli = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("bigint"),
    )
    el = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "lang", milli.alias("v")
    )
    # Bounded anchor sample (the embedding_triplet_mining discipline:
    # the r13 sf1 soak measured 18.7x on 10x data with UNBOUNDED
    # anchors — both sides grew linearly, the pair kernel
    # quadratically).  <= 1024 candidate ids at any corpus size; every
    # fixture scale below 3072 vectors passes unchanged.
    a = (
        el.filter(
            (F.col("lang") == "en")
            & (F.col("vec_id") % 3 == 0)
            & (F.col("vec_id") < 3 * 1024)
        )
        .select(F.col("vec_id").alias("src_id"), F.col("v").alias("sv"))
    )
    b = el.filter(F.col("lang") == "fr").select(
        F.col("vec_id").alias("dst_id"), F.col("v").alias("dv")
    )
    pairs = b.crossJoin(F.broadcast(a)).select(
        "src_id",
        "dst_id",
        F.expr(
            "aggregate(zip_with(sv, dv, (x, y) -> x * y), 0L,"
            " (acc, p) -> acc + p)"
        ).alias("dot"),
    )
    # r13 optimization round (identical values, fewer exchanges): the
    # old shape alternated window partition keys per select
    # (src, dst, src, dst, src, dst = 6 exchanges of the pair table);
    # grouping same-key windows — rank then top-4 sum under ONE
    # partitioning before switching keys, and computing the dst-side
    # mutual rank while the rows are STILL dst-partitioned from the
    # sumy window — needs only src → dst → src (3 exchanges).
    wx = Wnd.partitionBy("src_id").orderBy(F.col("dot").desc(), "dst_id")
    wy = Wnd.partitionBy("dst_id").orderBy(F.col("dot").desc(), "src_id")
    px = pairs.select(
        "src_id", "dst_id", "dot", F.row_number().over(wx).alias("rx")
    ).withColumn(
        "sumx",
        F.sum(F.when(F.col("rx") <= 4, F.col("dot"))).over(
            Wnd.partitionBy("src_id")
        ),
    )
    py = px.select(
        "src_id", "dst_id", "dot", "sumx",
        F.row_number().over(wy).alias("ry"),
    ).withColumn(
        "sumy",
        F.sum(F.when(F.col("ry") <= 4, F.col("dot"))).over(
            Wnd.partitionBy("dst_id")
        ),
    )
    margin = (F.lit(8) * F.col("dot") - F.col("sumx") - F.col("sumy"))
    wa = Wnd.partitionBy("src_id").orderBy(
        margin.desc(), F.col("dst_id")
    )
    wb = Wnd.partitionBy("dst_id").orderBy(
        margin.desc(), F.col("src_id")
    )
    # rb first: rows are dst-partitioned after sumy, so the mutual-rank
    # window is exchange-free; only ra re-keys to src.
    scored = py.withColumn("rb", F.row_number().over(wb)).select(
        "src_id", "dst_id",
        F.col("dot").cast("bigint").alias("dot_milli"),
        margin.cast("bigint").alias("margin_scaled"),
        F.row_number().over(wa).alias("ra"),
        "rb",
    )
    return scored.filter(F.col("ra") == 1).select(
        "src_id", "dst_id", "dot_milli", "margin_scaled",
        (F.col("rb") == 1).alias("is_mutual"),
    )
