"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random hyperplane / SimHash-for-vectors) variant as the scale path.

Scale design (100 TB):
- Brute force is O(|queries| × |corpus|): correct only when the query
  set is small — the query side is broadcast so the corpus is scanned
  once, embarrassingly parallel, no shuffle. The per-pair dot product
  is `aggregate(zip_with(...))` — codegen'd, no Python.
- The LSH variant buckets vectors by the sign-pattern of R random
  hyperplanes (deterministic seeded pseudo-random planes derived from
  md5 bits — portable). Query cost drops to the bucket's share; recall
  is tunable via number of tables/planes. The bucket join shuffles on
  the bucket key.
- The IVF variant (k-means coarse quantizer, no MLlib dependency)
  composes from groupBy + argmin over centroid distances: the model
  (k×dim centroids) lives on the driver like MLlib's, assignment is a
  codegen'd expression over literal centroid arrays (no join), and the
  probe is an equi-join on cluster id. Search cost drops to
  nprobe/n_clusters of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.operators.util import checkpoint_df

# Width of the driver thread pool that overlaps pq_model's per-subspace
# k-means fits. A latency/driver-contention trade, not a semantics knob:
# each fit is byte-identical regardless of pool width, so centroids are
# too. Interleaved A/B at sf0.1, m=16: width 4 [3.57, 5.45, 5.55] vs
# width 8 [3.17, 3.62, 4.52] — 8 won every pairing (the fits are
# driver-latency-bound, so deeper overlap keeps hiding round trips).
_PQ_FIT_WORKERS = 8



def _array_lit(values: list[float]) -> Column:
    """Constant ``array<double>`` literal built from ONE SQL-text parse.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round trip per element
    — measured ~0.5 ms each, so a 64-element plane array costs ~30 ms
    and an 8×6-plane bucketing expression >1.5 s of pure DRIVER time
    per plan build (round-15 profile: sim_lsh_topk was planning-bound,
    3.5 s of its 7.3 s in explain() alone). One ``F.expr`` ships the
    whole array as text and parses JVM-side; the resulting plan
    (CreateArray of foldable literals → constant-folded) is node-for-
    node what the per-element form produced, so values are
    bit-identical. ``repr(float)`` is the shortest exact-roundtrip
    form and Spark's decimal-exponent literal parser accepts it with
    the ``D`` suffix."""
    parts = []
    for x in values:
        fx = float(x)
        if fx != fx or fx in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite array literal element: {x!r}")
        parts.append(f"{fx!r}D")
    return F.expr("array(" + ",".join(parts) + ")")


def _qident(name: str) -> str:
    """Backtick-quote an identifier for SQL-text splicing, escaping
    embedded backticks (``a`b`` → ```a``b```) — a name containing a
    backtick otherwise parses as a different expression or errors
    (round-16 advisor item on the public lsh_table_buckets surface)."""
    return "`" + name.replace("`", "``") + "`"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (0 when either is zero)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize a double array (zero vector passes through) —
    the standard pre-step so cosine == dot and quantization error is
    bounded. Pure higher-order functions, codegen'd."""
    n = _norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)


def quantize_int8(a: Column, scale: float = 127.0) -> Column:
    """Symmetric int8 quantization of a (normalized) double array:
    round(clamp(x, -1, 1) * scale). 4× smaller than float32 at rest —
    at 100 TB of embeddings the scan-time win is the point; dequantize
    is x/scale."""
    return F.transform(
        a,
        lambda x: F.round(
            F.greatest(F.least(x, F.lit(1.0)), F.lit(-1.0)) * scale, 0
        ).cast("int"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    queries: (query_id, embedding). Output: query_id, neighbor_id, rank,
    cos_sim — deterministic tie-break on (sim desc, neighbor_id asc).
    ``metric="l2"`` ranks by ascending squared Euclidean distance
    instead (same tie-break; output column ``dist``) — the metric the
    PCA-space lossless-rotation check needs, since centering preserves
    distances but not angles.
    """
    from privacy_cdc_lakehouse_spark.operators.util import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cvec")
    )
    q = queries.select(
        F.col("query_id"), as_double(F.col(vec_col)).alias("qvec")
    )
    if metric == "l2":
        score, out_col = (
            F.aggregate(
                F.zip_with(
                    F.col("qvec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            "dist",
        )
        order = [F.asc(out_col), F.asc("neighbor_id")]
    elif metric == "cosine":
        score, out_col = cosine(F.col("qvec"), F.col("cvec")), "cos_sim"
        order = [F.desc(out_col), F.asc("neighbor_id")]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", score.alias(out_col)
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", out_col)
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    lambda_: float = 0.75,
    query_id: str = "query_id",
    id_col: str = "neighbor_id",
    rel_col: str = "cos_sim",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    1998) — the standard retrieval diversification pass over an ANN
    top-N list: greedily pick ``k`` results where round ``r`` selects
    ``argmax λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)`` — relevance
    traded against redundancy with what is already picked.

    Spark shape: ``k`` bounded driver ITERATIONS (k is the rerank
    depth, ≤ tens — the kmeans/bpe sanctioned-loop precedent) with NO
    driver data movement: each round is one per-query window over the
    candidate-sized frame (never the corpus) plus one join against
    the 1-pick-per-query frame (broadcast-hinted: |queries| rows by
    construction). The running ``max-sim-to-selected`` column is
    updated with ``greatest``, so state never grows.

    ``checkpoint_every`` (default 8, 0 = off) eagerly
    ``localCheckpoint``s the shrinking candidate state every k rounds —
    the same lineage bound as ``bpe_train``'s (round-11 verdict task:
    without it the state plan chains one window+join per round, k-deep
    at the last round). The checkpoint materializes a candidate-sized
    frame; results are bit-identical either way (the parity pytest
    covers a k spanning a checkpoint boundary).

    Determinism: the pick ranks over the 6dp-ROUNDED score with the
    doc id as tie-break (rank-over-rounded); cosines are left-fold
    aggregates (deterministic term order, the ``brute_force_topk``
    contract) — fully oracle-replayable as staged CTEs.

    Output: (query_id, id, mmr_rank 1..k, mmr_score 6dp). Queries with
    fewer than ``k`` candidates return what they have."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    if checkpoint_every < 0:
        raise ValueError(
            f"checkpoint_every must be >= 0, got {checkpoint_every}"
        )
    v = vectors.select(
        F.col(vec_id).alias(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    state = (
        candidates.select(query_id, id_col, F.col(rel_col).alias("_rel"))
        .join(v, id_col)
        .withColumn("_maxsim", F.lit(0.0))
    )
    score = F.round(
        F.lit(lambda_) * F.col("_rel")
        - F.lit(1.0 - lambda_) * F.col("_maxsim"),
        6,
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("_score"), F.asc(id_col))
    picks = None
    for r in range(1, k + 1):
        if checkpoint_every and r > 1 and (r - 1) % checkpoint_every == 0:
            state = checkpoint_df(state, eager=True)
        scored = state.withColumn("_score", score).withColumn(
            "_rn", F.row_number().over(w)
        )
        pick = scored.filter(F.col("_rn") == 1)
        out_r = pick.select(
            query_id,
            id_col,
            F.lit(r).alias("mmr_rank"),
            F.col("_score").alias("mmr_score"),
        )
        picks = out_r if picks is None else picks.unionByName(out_r)
        if r == k:
            break
        sel = pick.select(query_id, F.col("_v").alias("_pv"))
        state = (
            scored.filter(F.col("_rn") > 1)
            .select(query_id, id_col, "_rel", "_v", "_maxsim")
            .join(F.broadcast(sel), query_id)
            .withColumn(
                "_maxsim",
                F.greatest(
                    F.col("_maxsim"), cosine(F.col("_v"), F.col("_pv"))
                ),
            )
            .drop("_pv")
        )
    return picks


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Ranked-retrieval quality metrics against a binary relevance set
    — the IR-eval triple every retrieval/ANN stack reports:
    ``recall_at_k`` (relevant retrieved / relevant), ``mrr``
    (1 / rank of the first relevant hit, 0 when none), and binary
    ``ndcg_at_k`` (DCG with the standard 1/log2(rank+1) discount over
    the ideal DCG for min(k, |relevant|) hits). All three rounded to
    6dp (cross-engine log drift is sub-ulp; rounding is the standing
    determinism contract). Queries present in ``qrels`` but absent
    from ``results`` score 0 / 0 / 0.

    ``results``: (query, doc, rank) ranked lists (e.g. any of this
    module's top-k outputs); ``qrels``: (query, doc) relevant pairs.

    Scale shape: results are |queries|·k rows and qrels
    |queries|·|rel| — both query-bounded, nothing corpus-sized. One
    equi-join (un-hinted; AQE broadcasts the smaller side) + one
    per-query aggregate; the IDCG is an ``aggregate(sequence(...))``
    fold, pure codegen, no join."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    r = results.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias("_r"),
    )
    rel = qrels.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.lit(1).alias("_rel"),
    ).distinct()
    n_rel = rel.groupBy("_q").agg(F.count("*").alias("_n_rel"))
    hit = r.join(rel, ["_q", "_d"], "left")
    per_q = hit.groupBy("_q").agg(
        F.sum(F.coalesce("_rel", F.lit(0))).alias("_n_hit"),
        F.min(F.when(F.col("_rel") == 1, F.col("_r"))).alias("_first"),
        F.sum(
            F.when(F.col("_rel") == 1, 1.0 / F.log2(F.col("_r") + 1.0))
        ).alias("_dcg"),
    )
    ideal = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(k), F.col("_n_rel"))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    return (
        n_rel.join(per_q, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            F.round(
                F.coalesce(F.col("_n_hit"), F.lit(0)) / F.col("_n_rel"), 6
            ).alias("recall_at_k"),
            F.round(
                F.coalesce(1.0 / F.col("_first"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(
                F.coalesce(F.col("_dcg"), F.lit(0.0)) / ideal, 6
            ).alias("ndcg_at_k"),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN majority-vote label prediction over an embedding column —
    the label-propagation / embedding-quality-probe eval every
    labeled-corpus pipeline runs (semi-supervised labeling, quality-
    classifier sanity checks, probe accuracy as an embedding metric).

    Per query: exact top-``k`` cosine neighbors (the
    :func:`brute_force_topk` baseline — swap in an ANN top-k for the
    100 TB path, the vote is downstream of WHICH top-k), then the
    modal neighbor label, ties broken (count desc, label asc) so the
    prediction is deterministic and engine-replicable. Output:
    ``(query_id, predicted_label)``.

    100 TB shape: the vote itself is O(queries×k) — trivial; the cost
    center is the top-k, which inherits its operator's contract
    (queries broadcast, corpus never shuffles). The label lookup joins
    the O(queries×k) neighbor list against the (id, label) projection
    of the corpus — AQE broadcasts the small side.
    """
    top = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        top.join(lab, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count("*").alias("_n"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_n"), F.asc("_nl"))
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("_nl").alias("predicted_label"))
    )


def plane_vector(plane_seed: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5("p<seed>|<i>") parity.

    Driver-side derivation of the same bits the previous in-plan
    ``conv(substring(md5(...)),16,10) % 2`` computed per row — the
    planes are data-independent, so they are literals, not expressions:
    zero per-row hashing cost, and the identical ±1 list can be inlined
    into the DuckDB oracle SQL for bit-for-bit banding parity.
    """
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"p{plane_seed}|{i}".encode()).hexdigest()[:8], 16) % 2
        == 0
        else -1.0
        for i in range(dim)
    ]


def _plane_sign(vec: Column, plane_seed: int, dim: int) -> Column:
    """Sign bit of <vec, plane_seed> against the literal ±1 plane.

    Kept as ``aggregate(zip_with(...))`` deliberately: an attempted
    round-3 rewrite into dim scalar element refs per plane (~3k
    expression nodes at 8×6 planes) blew past whole-stage codegen
    limits and ran 4× SLOWER interpreted — the higher-order fold stays
    inside codegen and is the faster form."""
    plane = _array_lit(plane_vector(plane_seed, dim))
    return (_dot(vec, plane) >= 0).cast("int")


def lsh_bucket(vec: Column, planes: int, dim: int, plane_offset: int = 0) -> Column:
    """Random-hyperplane LSH bucket id: concatenated sign bits.

    ``plane_offset`` selects a disjoint plane range so multiple hash
    tables (OR-amplification) draw independent planes.
    """
    return F.concat_ws(
        "",
        *[
            _plane_sign(vec, plane_offset + p, dim).cast("string")
            for p in range(planes)
        ],
    )


def lsh_table_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: int,
    band_planes: int,
    dim: int,
) -> DataFrame:
    """(id, t, bucket) for T independent hash tables of b planes each.

    OR-amplified LSH: a pair is a candidate when it collides in ANY
    table. P(candidate) = 1 - (1 - (1-θ/π)^b)^T — b controls selectivity
    (bucket count 2^b), T controls recall. One row explodes to T rows;
    the downstream self-join is an equi-join on (t, bucket): no cross
    product, shuffle keyed on the bucket space.
    """
    # NOTE: no ensure_parallelism here — measured at sf0.1 it made
    # lsh_topk ~40% SLOWER: the plane-dot expressions are dominated by
    # Catalyst/codegen fixed cost, not row compute, and the repartition
    # splits the single codegen'd scan pipeline into shuffle stages.
    # (minhash/simhash, which are md5-per-token bound, DO benefit.)
    #
    # The whole tagged array-of-structs is ONE SQL-text parse: the
    # per-Column form cost ~400 py4j round trips (~1.5 s of driver
    # time per plan build — round-15 profile); the parsed tree is the
    # same expression the Column form built (named_struct/concat_ws/
    # aggregate-fold over constant plane arrays), so buckets are
    # bit-identical (pinned by test_lsh_table_buckets_sql_text_parity).
    def sign_sql(seed: int) -> str:
        plane = "array(" + ",".join(f"{float(x)!r}D" for x in plane_vector(seed, dim)) + ")"
        return (
            f"CAST(CAST(aggregate(zip_with({_qident(vec_col)}, {plane}, "
            f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v) >= 0 AS INT) AS STRING)"
        )

    def bucket_sql(t: int) -> str:
        signs = ", ".join(sign_sql(t * band_planes + p) for p in range(band_planes))
        return f"named_struct('t', {t}, 'bucket', concat_ws('', {signs}))"

    tagged = F.expr(
        "array(" + ", ".join(bucket_sql(t) for t in range(tables)) + ")"
    )
    return df.select(
        F.col(id_col), F.explode(tagged).alias("tb")
    ).select(id_col, F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroid_dists(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Sorted array of (squared distance, cluster id) structs — struct
    ordering gives argmin with deterministic id tie-break.

    ``vec`` as a STRING is the vector expression in SQL text (a column
    name or e.g. ``slice(_v, 5, 4)``): the whole k-entry argmin is
    then ONE ``F.expr`` parse. The Column form builds per-centroid
    expressions — measured ~1.5 s of py4j round trips per call at
    k=16 (round-15 profile: sim_ann_recall spent 100 of its 164 build
    seconds here), so hot callers pass text; the parsed tree is the
    same named_struct/aggregate-fold the Column form builds, values
    bit-identical (test_centroid_dists_sql_text_parity)."""
    if isinstance(vec, str):
        entries = ", ".join(
            "named_struct('d', aggregate(zip_with({v}, {arr}, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v), "
            "'c', {cid})".format(
                v=vec,
                arr="array(" + ",".join(f"{float(x)!r}D" for x in c) + ")",
                cid=int(cid),
            )
            for cid, c in centroids
        )
        return F.expr(f"array_sort(array({entries}))")
    entries = [
        F.struct(
            _sqdist(vec, _array_lit(c)).alias("d"),
            F.lit(cid).alias("c"),
        )
        for cid, c in centroids
    ]
    return F.array_sort(F.array(*entries))


def nearest_centroid(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    return _centroid_dists(vec, centroids)[0]["c"]


def kmeans_fit(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means coarse quantizer for IVF.

    Seeds = the ``n_clusters`` lowest-id vectors (reproducible across
    runs/engines); each iteration assigns via literal-centroid argmin
    (a codegen'd expression — no join, no shuffle beyond the per-dim
    mean) and recomputes centroids with posexplode→groupBy(cluster,dim).
    Only model state crosses to the driver: k seed rows up front and
    k×dim aggregated means per iteration — the same contract as
    MLlib's driver-resident KMeansModel, valid at any corpus size.
    Iterated centroid MEANS are rounded to 6 dp so downstream
    assignment is stable against float summation-order jitter; SEEDS
    stay bit-exact raw data values, so the ``iters=0`` fixed-centroid
    variant is exactly replicable in ANSI SQL (the driver oracle for
    ``sim_ivf_topk`` relies on this).
    """
    df = corpus.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    )
    seeds = df.orderBy("_id").limit(n_clusters).collect()
    cents = [
        (i, [float(x) for x in r["_v"]]) for i, r in enumerate(seeds)
    ]
    for _ in range(iters):
        # Same large-k dispatch as every other assignment site: the
        # literal argmin tree is k×dim and breaks codegen at
        # production cluster counts.
        if n_clusters <= LITERAL_MAX_CENTROIDS:
            assigned = df.withColumn(
                "_c", nearest_centroid("`_v`", cents)
            )
        else:
            assigned = _assign_by_join(df, cents, "_id").withColumnRenamed(
                "cluster", "_c"
            )
        means = (
            assigned.select("_c", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_c", "_d")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["_c"], {})[r["_d"]] = round(float(r["_m"]), 6)
        # a cluster that lost all members keeps its previous centroid
        cents = [
            (
                cid,
                [by_cluster[cid][d] for d in range(len(prev))]
                if cid in by_cluster
                else prev,
            )
            for cid, prev in cents
        ]
    return cents


def ivf_model(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Persistable IVF coarse-quantizer model — the write-once artifact
    twin of :func:`lsh_index` for the IVF path. One row per cluster:
    ``(cluster, centroid, _k, _iters, _dim)``. The expensive part of
    IVF is the iterative fit (``iters`` full-corpus aggregation
    passes); this pays it once and parquet-persists the k×dim model so
    every later probe batch skips it (``ivf_topk(model=...)``). The
    per-call corpus cluster TAG is deliberately not part of the
    artifact: it is a codegen'd argmin projection (no shuffle), and at
    100 TB it belongs in the table layout itself (tag at ingest,
    partition/bucket by cluster)."""
    cents = kmeans_fit(
        corpus, n_clusters=n_clusters, iters=iters, id_col=id_col,
        vec_col=vec_col,
    )
    dim = len(cents[0][1]) if cents else 0
    return corpus.sparkSession.createDataFrame(
        [(cid, vec, n_clusters, iters, dim) for cid, vec in cents],
        "cluster int, centroid array<double>, _k int, _iters int, _dim int",
    )


def _model_centroids(
    model: DataFrame, n_clusters: int, iters: int
) -> list[tuple[int, list[float]]]:
    """Load + stamp-check an :func:`ivf_model` artifact (k rows — the
    same driver-resident model contract as ``kmeans_fit``). A model fit
    with different params yields same-shaped rows from different
    centroids — undetectable from the data — so the stamp is the only
    reliable guard."""
    missing = {"cluster", "centroid", "_k", "_iters"} - set(model.columns)
    if missing:
        raise ValueError(
            f"ivf_model artifact lacks columns {sorted(missing)} — "
            f"rebuild it with ivf_model()"
        )
    rows = model.collect()
    for r in rows:
        if r["_k"] != n_clusters or r["_iters"] != iters:
            raise ValueError(
                f"ivf_model artifact was fit with k={r['_k']} "
                f"iters={r['_iters']} — does not match the query's "
                f"k={n_clusters} iters={iters}; rebuild it"
            )
    cents = sorted(
        (r["cluster"], [float(x) for x in r["centroid"]]) for r in rows
    )
    if len(cents) != n_clusters:
        raise ValueError(
            f"ivf_model artifact has {len(cents)} clusters, expected "
            f"{n_clusters}"
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest clusters.

    The corpus is tagged with its coarse-quantizer cell; each query
    explodes to its nprobe closest centroids and the candidate fetch is
    an equi-join on cluster id — search touches ~nprobe/n_clusters of
    the corpus, recall < 1 by construction (measured by
    ``sim_ivf_recall``). At 100 TB the cluster tag is computed once at
    ingest and the corpus is partitioned/bucketed by it, making the
    probe a pruned scan.

    ``model`` — optional pre-fit :func:`ivf_model` artifact; skips the
    iterative k-means fit (the per-call cost center), stamp-guarded
    against parameter mismatch.
    """
    if model is not None:
        cents = _model_centroids(model, n_clusters, iters)
    else:
        cents = kmeans_fit(
            corpus, n_clusters=n_clusters, iters=iters, id_col=id_col,
            vec_col=vec_col,
        )
    from privacy_cdc_lakehouse_spark.operators.util import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cvec")
    )
    # Large coarse quantizers (n_clusters ~ sqrt(N)) dispatch both the
    # corpus tag and the query probe to broadcast-join twins — the
    # literal argmin expression tree grows as k×dim and hits codegen
    # limits exactly at production sizing (same dispatch as
    # semantic_dedup assignment).
    if n_clusters <= LITERAL_MAX_CENTROIDS:
        c = c.withColumn("cluster", nearest_centroid("`cvec`", cents))
    else:
        c = _assign_by_join(c, cents, "neighbor_id", vec_field="cvec")
    q = _probe_clusters(
        queries.select("query_id", as_double(F.col(vec_col)).alias("qvec")),
        cents,
        nprobe,
        vec_field="qvec",
    )
    scored = c.join(F.broadcast(q), "cluster").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    tables: int = 12,
    band_planes: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ threshold) without an all-pairs join.

    Candidates come from OR-amplified hyperplane LSH (collide in any of
    ``tables`` hash tables of ``band_planes`` sign bits); only candidates
    get the exact cosine verify. At cos ≥ 0.99 (θ ≤ 0.142 rad) a true
    pair misses one table w.p. 1-(1-θ/π)^12 ≈ 0.42 and all twelve w.p.
    0.42^12 ≈ 3e-5 — while near-orthogonal pairs collide w.p. 2^-12 per
    table, so candidate volume stays ~linear. Candidates come from
    grouping ids per (table, bucket) and expanding pairs in-bucket —
    NOT a bucket self-join, which would plan the whole plane-sign
    bucketing pipeline twice (the same two-scans shape replaced in
    minhash_lsh_pairs); then two hash-partitioned id equi-joins fetch
    vectors for the exact verify. No BroadcastNestedLoop anywhere;
    survives a 100× corpus.
    """
    from privacy_cdc_lakehouse_spark.operators.dedup import bucket_pairs

    tb = lsh_table_buckets(corpus, id_col, vec_col, tables, band_planes, dim)
    cand = bucket_pairs(tb, ["t", "bucket"], id_col)
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def lsh_index(
    corpus: DataFrame,
    planes: int = 6,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, t, bucket) bucket table for the corpus — the
    write-once ANN index artifact. The plane-sign bucketing (T×b dot
    products per vector) dominates ``lsh_topk``'s cost, and it depends
    only on the corpus: at 100 TB you build THIS once (persist it as a
    parquet/LakeTable next to the corpus, same pattern as
    ``curation.corpus_ngrams``) and every query batch joins against it
    — per-batch cost drops to the candidate equi-join + exact rerank,
    which is where LSH overtakes brute force (crossover at ~a few
    hundred queries; see DESIGN.md). The build parameters are STAMPED
    into the artifact (constant columns — parquet RLE makes them free)
    so a consumer built with different planes/tables/dim fails loudly
    instead of silently collapsing recall."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    )
    return lsh_table_buckets(
        c, "neighbor_id", "cvec", tables, planes, dim
    ).select(
        "*",
        F.lit(planes).alias("_planes"),
        F.lit(tables).alias("_tables"),
        F.lit(dim).alias("_dim"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 6,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact rerank over OR-amplified LSH candidates.

    A corpus vector is a candidate for a query when they share a bucket
    in ANY of ``tables`` hash tables (``planes`` sign bits each) —
    multi-probe recall amplification; a single table's recall on
    near-orthogonal corpora is poor (measured ≈0.1 at 1×6 planes). At
    scale each table join is an equi-join on the bucket key: cost
    ~tables × corpus/2^planes per query, never a cross join.

    ``corpus_index`` — optional pre-built bucket table from
    :func:`lsh_index` (same planes/tables/dim); pass it to skip the
    corpus bucketing pass, the per-call cost center that amortizes
    across query batches."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    )
    q = queries.select("query_id", as_double(F.col(vec_col)).alias("qvec"))
    if corpus_index is not None:
        # Exact runtime guard via the params STAMPED by lsh_index: a
        # fewer-tables or different-dim artifact yields same-shaped
        # bucket strings from different hyperplanes — undetectable from
        # the data itself — so the stamp is the only reliable check.
        # (assert_true → NULL on success, so the filter keeps every
        # valid row and cannot be optimized away.)
        missing = {"_planes", "_tables", "_dim"} - set(corpus_index.columns)
        if missing:
            raise ValueError(
                f"lsh_index artifact lacks its parameter stamp columns "
                f"{sorted(missing)} — rebuild it with lsh_index()"
            )
        ctb = corpus_index.filter(
            F.assert_true(
                (F.col("_planes") == planes)
                & (F.col("_tables") == tables)
                & (F.col("_dim") == dim),
                F.lit(
                    f"lsh_index artifact does not match planes={planes} "
                    f"tables={tables} dim={dim} — rebuild it with the "
                    f"query params"
                ),
            ).isNull()
        ).select("neighbor_id", "t", "bucket")
    else:
        ctb = lsh_table_buckets(c, "neighbor_id", "cvec", tables, planes, dim)
    qtb = lsh_table_buckets(q, "query_id", "qvec", tables, planes, dim)
    cand = (
        ctb.join(F.broadcast(qtb), ["t", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # Rescoring joins the CORPUS against the broadcast candidate set —
    # (candidates × query vectors) is tiny by LSH construction, while
    # the corpus side must never shuffle (an un-hinted join here
    # shuffled all corpus vectors on neighbor_id; the bench showed it).
    cand_q = cand.join(F.broadcast(q), "query_id")
    scored = c.join(F.broadcast(cand_q), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


# Literal-expression argmin/probe expressions grow as k×dim and hit
# the codegen (Janino) limit past roughly this many centroids; larger
# coarse quantizers dispatch to broadcast-join twins (bit-identical
# tie-breaks, parity-tested). Module-level so tests can force the
# join paths.
LITERAL_MAX_CENTROIDS = 64


def _assign_by_join(
    c: DataFrame, cents, id_col: str, vec_field: str = "_v"
) -> DataFrame:
    """Nearest-centroid assignment as a broadcast join — the large-k
    twin of :func:`nearest_centroid` (literal expressions stop scaling
    past ~:data:`LITERAL_MAX_CENTROIDS` centroids; a k-row broadcast
    table scales to any k the driver can hold). Returns
    ``(id_col, vec_field, cluster)``; the argmin is
    ``min(struct(d, c))`` so ties break toward the lowest cluster id,
    bit-identical to the literal path.

    The vector rides THROUGH the argmin aggregate (``first`` — every
    scored row of an id carries the identical vector, so it is
    deterministic) rather than a corpus-to-corpus join-back: one
    map-side-combinable shuffle, no sort-merge join sneaking in once
    the corpus outgrows the broadcast threshold."""
    spark = c.sparkSession
    cent_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "cluster int, _cv array<double>",
    )
    return (
        c.select(id_col, vec_field)
        .join(F.broadcast(cent_df))
        .select(
            id_col,
            F.col(vec_field),
            F.struct(
                _sqdist(F.col(vec_field), F.col("_cv")).alias("d"),
                F.col("cluster").alias("c"),
            ).alias("dc"),
        )
        .groupBy(id_col)
        .agg(
            F.min("dc").alias("m"),
            F.first(vec_field).alias(vec_field),
        )
        .select(id_col, vec_field, F.col("m.c").alias("cluster"))
    )


def _probe_clusters(
    q: DataFrame,
    cents,
    nprobe: int,
    key_col: str = "query_id",
    vec_field: str = "qv",
) -> DataFrame:
    """Explode each query row to its ``nprobe`` nearest coarse cells
    (``cluster`` column added). Small quantizers use the codegen'd
    literal sort (:func:`_centroid_dists`); past
    :data:`LITERAL_MAX_CENTROIDS` a broadcast centroid join with a
    per-query rank replaces it — the query side is small, so the q×k
    scored rows and the window are trivial, while the expression tree
    stays bounded. Tie-break is (distance, cluster id) on both paths."""
    if len(cents) <= LITERAL_MAX_CENTROIDS:
        return q.withColumn(
            "cluster",
            F.explode(
                F.transform(
                    F.slice(
                        _centroid_dists(_qident(vec_field), cents), 1, nprobe
                    ),
                    lambda s: s["c"],
                )
            ),
        )
    spark = q.sparkSession
    cent_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "cluster int, _cv array<double>",
    )
    w = Window.partitionBy(key_col).orderBy(
        F.asc("_d"), F.asc("cluster")
    )
    return (
        q.join(F.broadcast(cent_df))
        .withColumn("_d", _sqdist(F.col(vec_field), F.col("_cv")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .drop("_cv", "_d", "_rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): embedding-space
    dedup scoped to k-means cells. Vectors are assigned to their
    nearest centroid; pairs are compared ONLY within a cell — the
    paper's core trick: semantic duplicates land in the same cell, so
    the quadratic pair expansion is bounded by cell size, never corpus
    size. Pairs at cosine >= ``threshold`` transitively close into
    components; the min-id member is the keeper (the paper keeps the
    LOW-similarity-to-centroid example; min-id is the deterministic
    stand-in that makes the output oracle-checkable).
    Output: (id, cluster, component, is_keeper) for every vector.

    100 TB shape: the fit is the write-once :func:`ivf_model` artifact
    (pass ``model=``); assignment is a codegen'd argmin projection; the
    in-cell expansion reuses :func:`dedup.bucket_pairs` (grouped ids,
    never a cell self-join — that would plan the assignment twice), so
    choose ``n_clusters ~ sqrt(N)`` as the paper does to keep cells
    small; the exact-cosine verify touches candidate pairs only; the
    closure is the checkpointed min-label propagation of
    :func:`dedup.connected_components`.
    """
    from privacy_cdc_lakehouse_spark.operators.dedup import (
        bucket_pairs,
        connected_components,
    )

    if model is not None:
        cents = _model_centroids(model, n_clusters, iters)
    else:
        cents = kmeans_fit(
            corpus, n_clusters=n_clusters, iters=iters, id_col=id_col,
            vec_col=vec_col,
        )
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    # Assignment dispatch: the literal-expression argmin is the fastest
    # shape for small k (no join at all) but its expression tree grows
    # as k×dim literals — at the paper's n_clusters ~ sqrt(N) sizing
    # (hundreds+ of cells) codegen/Janino becomes the bottleneck, so
    # large k switches to a broadcast centroid-table join with a
    # map-side-combinable min(struct(d, c)) argmin (N×k scored rows,
    # distributed; same deterministic lowest-id tie-break because the
    # struct compares (d, c)).
    if n_clusters <= LITERAL_MAX_CENTROIDS:
        c = c.withColumn("cluster", nearest_centroid("`_v`", cents))
    else:
        c = _assign_by_join(c, cents, id_col)
    # The assigned corpus feeds FOUR consumers (candidate buckets, both
    # sides of the pair-vector join, the final label join) — without a
    # persist the N×k argmin recomputes per consumer. slot_persist
    # bounds the cache to one subplan across repeated invocations; at
    # cluster scale persist() is MEMORY_AND_DISK, evictable, and strictly
    # cheaper than 4× re-scoring the corpus against every centroid.
    from privacy_cdc_lakehouse_spark.operators.util import slot_persist

    c = slot_persist(c, "semantic_dedup_assigned")
    cand = bucket_pairs(c.select(id_col, "cluster"), ["cluster"], id_col)
    a = c.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    b = c.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    dup = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(dup)
    return (
        c.select(id_col, "cluster")
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
        .withColumn("is_keeper", F.col(id_col) == F.col("component"))
    )


def prototypes_filter(
    corpus: DataFrame,
    drop_frac: float = 0.25,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: DataFrame | None = None,
) -> DataFrame:
    """SSL-prototype diversification (Sorscher et al. 2022, "Beyond
    neural scaling laws"; the second stage of D4, Tirumala et al. 2023):
    within each k-means cell, rank vectors by cosine similarity TO THE
    CELL CENTROID descending — the centroid-nearest examples are the
    cluster's redundant prototypical core — and drop the top
    ``drop_frac`` fraction, keeping the diverse tail. Complements
    :func:`semantic_dedup` (which removes near-identical PAIRS; this
    prunes region-level redundancy with no pair expansion at all).
    Output: ``(id, cluster, proto_rank, cell_n, is_kept)`` —
    ``proto_rank`` 1 = most prototypical; a cell of n rows drops its
    ``floor(drop_frac * n)`` lowest ranks.

    Determinism: the rank orders by the 6dp-ROUNDED cosine (absorbing
    float summation-order slack) with id tie-break, so the kept set is
    engine-exact — the same rank-over-rounded-score contract as
    ``tfidf_top_terms`` / ``collocations``.

    100 TB shape: the fit is the write-once :func:`ivf_model` artifact
    (pass ``model=``); assignment is the same literal/broadcast-join
    argmin dispatch as every other site; the centroid similarity is ONE
    broadcast join against the k-row centroid table; the only shuffle
    is the per-cell window, whose partitions are cell-sized — bounded
    by the paper's ``n_clusters ~ sqrt(N)`` sizing, never corpus-sized.
    No pair expansion: strictly cheaper than the dedup stage it
    follows in the D4 pipeline.
    """
    if not 0.0 <= drop_frac < 1.0:
        raise ValueError(f"drop_frac must be in [0, 1), got {drop_frac}")
    if model is not None:
        cents = _model_centroids(model, n_clusters, iters)
    else:
        cents = kmeans_fit(
            corpus, n_clusters=n_clusters, iters=iters, id_col=id_col,
            vec_col=vec_col,
        )
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    if n_clusters <= LITERAL_MAX_CENTROIDS:
        c = c.withColumn("cluster", nearest_centroid("`_v`", cents))
    else:
        c = _assign_by_join(c, cents, id_col)
    cent_df = corpus.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "cluster int, _cv array<double>",
    )
    scored = c.join(F.broadcast(cent_df), "cluster").select(
        id_col,
        "cluster",
        F.round(cosine(F.col("_v"), F.col("_cv")), 6).alias("_cos"),
    )
    cell = Window.partitionBy("cluster")
    rank_w = cell.orderBy(F.desc("_cos"), F.asc(id_col))
    return (
        scored.withColumn(
            "proto_rank", F.row_number().over(rank_w).cast("long")
        )
        .withColumn("cell_n", F.count("*").over(cell).cast("long"))
        .withColumn(
            "is_kept",
            F.col("proto_rank")
            > F.floor(F.lit(float(drop_frac)) * F.col("cell_n")),
        )
        .select(id_col, "cluster", "proto_rank", "cell_n", "is_kept")
    )


def pq_model(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebook (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector space is
    split into ``m`` orthogonal subspaces of ``dim/m`` dims and a
    ``n_codes``-entry k-means codebook is fit per subspace (reusing
    :func:`kmeans_fit`, so the same determinism contract holds: seeds
    are the lowest-id vectors' subvectors bit-exact, iterated means
    round to 6 dp, and ``iters=0`` is exactly SQL-replicable).

    One row per (sub, code): ``(sub, code, centroid, _m, _codes,
    _iters, _subdim)`` — m×n_codes rows, a driver/broadcast-sized
    model like :func:`ivf_model`, parquet-persistable and
    stamp-guarded by :func:`_pq_codebook`. The fit runs m×(iters+1)
    aggregation passes; it is the write-once artifact cost — encode
    and search never re-pay it.
    """
    subdim, rem = divmod(dim, m)
    if rem:
        raise ValueError(f"dim={dim} not divisible by m={m}")

    # The m sub-fits are INDEPENDENT jobs over disjoint slices — the
    # guide-§2.6 overlap case. A small thread pool submits them
    # concurrently so one fit's driver round trips (seed collect +
    # per-iteration means collect) hide behind another's executor
    # time; each individual job is byte-identical to the sequential
    # form (same partitioning, same aggregation grouping), so the
    # fitted centroids are bit-identical — only wall-clock changes
    # (round-15: pq_model at m=16 was 17 sequential kmeans fits
    # ≈ 40 s of sim_ann_recall's build; ~4× overlap). Results are
    # reassembled in subspace order regardless of completion order.
    def fit(s: int) -> list[tuple]:
        sub = corpus.select(
            F.col(id_col).alias("_id"),
            F.slice(
                as_double(F.col(vec_col)), s * subdim + 1, subdim
            ).alias("_sv"),
        )
        cents = kmeans_fit(
            sub, n_clusters=n_codes, iters=iters, id_col="_id", vec_col="_sv"
        )
        return [
            (s, code, vec, m, n_codes, iters, subdim) for code, vec in cents
        ]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(_PQ_FIT_WORKERS, m)) as pool:
        per_sub = list(pool.map(fit, range(m)))
    rows = [row for sub_rows in per_sub for row in sub_rows]
    return corpus.sparkSession.createDataFrame(
        rows,
        "sub int, code int, centroid array<double>, "
        "_m int, _codes int, _iters int, _subdim int",
    )


def _pq_codebook(
    model: DataFrame, m: int, n_codes: int, iters: int,
    dim: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Load + stamp-check a :func:`pq_model` artifact into per-subspace
    centroid lists (``cb[sub] = [(code, subcentroid), ...]`` sorted by
    code). Same rationale as :func:`_model_centroids`: a codebook fit
    with different (m, n_codes, iters) yields same-shaped rows from
    different centroids, so the stamp is the only reliable guard.
    ``dim=`` additionally rejects a codebook fit at a different vector
    dimensionality (``_subdim != dim // m``) — without it an
    other-dim artifact would silently zip-with mismatched-length
    arrays and produce null-padded ADC distances."""
    if dim is not None and dim % m:
        # same contract as pq_model's fit path: a non-divisible dim
        # would otherwise pass the truncating dim // m stamp check and
        # silently drop the trailing query coordinates from the
        # slice-based ADC tables
        raise ValueError(f"dim={dim} not divisible by m={m}")
    missing = {
        "sub", "code", "centroid", "_m", "_codes", "_iters", "_subdim"
    } - set(model.columns)
    if missing:
        raise ValueError(
            f"pq_model artifact lacks columns {sorted(missing)} — "
            f"rebuild it with pq_model()"
        )
    rows = model.collect()
    for r in rows:
        if r["_m"] != m or r["_codes"] != n_codes or r["_iters"] != iters:
            raise ValueError(
                f"pq_model artifact was fit with m={r['_m']} "
                f"n_codes={r['_codes']} iters={r['_iters']} — does not "
                f"match the query's m={m} n_codes={n_codes} "
                f"iters={iters}; rebuild it"
            )
        if dim is not None and r["_subdim"] != dim // m:
            raise ValueError(
                f"pq_model artifact was fit with subdim={r['_subdim']} "
                f"(vector dim {r['_subdim'] * m}) — does not match the "
                f"query's dim={dim} (subdim {dim // m}); rebuild it"
            )
    cb: list[list[tuple[int, list[float]]]] = [[] for _ in range(m)]
    for r in rows:
        cb[r["sub"]].append((r["code"], [float(x) for x in r["centroid"]]))
    for s in range(m):
        cb[s].sort()
        if len(cb[s]) != n_codes:
            raise ValueError(
                f"pq_model artifact has {len(cb[s])} codes for sub {s}, "
                f"expected {n_codes}"
            )
    return cb


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_max: int = 4096,
    coarse: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the id of the nearest
    codebook centroid (tie-break lowest code). Output ``(id_col,
    codes array<int>)`` — m small ints per vector instead of dim
    floats: the compressed-corpus artifact that makes 100 TB ANN
    storable (64-dim float64 = 512 B → m=4 codes ≈ 4 B, persisted
    once at ingest like the cluster tag of :func:`ivf_topk`).

    ``coarse=`` — optional IVF coarse-quantizer centroids (from
    :func:`kmeans_fit` / :func:`_model_centroids`): adds a ``cluster``
    column tagging each vector's nearest coarse cell, making the
    artifact consumable by the cell-pruned :func:`pq_topk` path (the
    FAISS IVFADC layout: partition/bucket the persisted table by
    ``cluster`` and the probe becomes a pruned scan). Assignment uses
    the same small-k-literal / large-k-broadcast-join dispatch as
    :func:`semantic_dedup`.

    Dispatch mirrors :func:`semantic_dedup`'s assignment: the literal
    argmin is a pure projection (no join, no shuffle — the shape you
    want in the ingest path) while large m×n_codes×subdim codebooks
    switch to a broadcast join with min(struct(d, code)) per (id, sub)
    — bit-identical tie-break, parity-tested."""
    m = len(codebook)
    subdim = len(codebook[0][0][1])
    literal_size = sum(len(cs) * subdim for cs in codebook)
    base = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    extra = []
    if coarse is not None:
        extra = ["cluster"]
        if len(coarse) <= LITERAL_MAX_CENTROIDS:
            base = base.withColumn(
                "cluster", nearest_centroid("`_v`", coarse)
            )
        else:
            base = _assign_by_join(base, coarse, id_col)
    if literal_size <= literal_max:
        return base.select(
            F.col(id_col),
            *extra,
            F.array(
                *[
                    nearest_centroid(
                        f"slice(`_v`, {s * subdim + 1}, {subdim})",
                        codebook[s],
                    )
                    for s in range(m)
                ]
            ).alias("codes"),
        )
    spark = corpus.sparkSession
    cb_df = spark.createDataFrame(
        [
            (s, int(code), [float(x) for x in cent])
            for s, cs in enumerate(codebook)
            for code, cent in cs
        ],
        "sub int, code int, _cent array<double>",
    )
    return (
        base.join(F.broadcast(cb_df))
        .select(
            id_col,
            *extra,
            F.col("sub"),
            F.struct(
                _sqdist(
                    F.slice(
                        F.col("_v"),
                        F.col("sub") * subdim + 1,
                        F.lit(subdim),
                    ),
                    F.col("_cent"),
                ).alias("d"),
                F.col("code").alias("c"),
            ).alias("dc"),
        )
        .groupBy(id_col, *extra, "sub")
        .agg(F.min("dc").alias("mn"))
        .groupBy(id_col, *extra)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("mn.c").alias("c")))
            ).alias("sc")
        )
        .select(
            id_col,
            *extra,
            F.transform(F.col("sc"), lambda e: e["c"]).alias("codes"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: DataFrame | None = None,
    corpus_codes: DataFrame | None = None,
    coarse_clusters: int | None = None,
    nprobe: int = 4,
    coarse_iters: int = 2,
    coarse_model: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k (asymmetric distance computation):
    rank corpus vectors by the sum of per-subspace squared distances
    from the query SUBVECTOR to each corpus code's CENTROID — the
    query side stays exact (asymmetric), the corpus side is read only
    as codes. Per query the m×n_codes distance table is computed once
    (a broadcast-sized artifact); per (query, vector) pair the scan
    does m table lookups — no float vector reads at all, which is the
    whole point at 100 TB: the scan touches the ~m-byte codes column,
    not the dim×8-byte embedding.

    The reported score is the EXACT cosine of the chosen candidates
    (the standard fetch-and-rerank step): the k winners per query are
    broadcast back against the float corpus, so the full-vector fetch
    is O(|queries|×k), never a corpus scan. Rank order is the ADC
    order (recall vs brute force is measured by the ann-recall tests,
    like the LSH/IVF arms).

    ``model=`` — pre-fit :func:`pq_model` artifact (skips the fit);
    ``corpus_codes=`` — pre-encoded :func:`pq_encode` artifact (skips
    the encode; the ingest-time shape).

    ``coarse_clusters=`` — IVFADC composition (FAISS's default index
    shape): an IVF coarse quantizer prunes the scan to each query's
    ``nprobe`` nearest cells AND the surviving candidates are scored
    by ADC over codes — pruning and compression compose, so the scan
    touches ~nprobe/n_clusters of the corpus and reads only code
    bytes. The cell tag comes from ``pq_encode(coarse=...)`` (at
    100 TB: tagged at ingest, table partitioned by cluster → the probe
    is a pruned scan); a pre-encoded ``corpus_codes`` must then carry
    the ``cluster`` column. ``coarse_model=`` accepts a pre-fit
    :func:`ivf_model` artifact for the coarse quantizer."""
    if model is not None:
        cb = _pq_codebook(model, m, n_codes, iters, dim=dim)
    else:
        cb = _pq_codebook(
            pq_model(
                corpus, m=m, n_codes=n_codes, iters=iters, dim=dim,
                id_col=id_col, vec_col=vec_col,
            ),
            m, n_codes, iters, dim=dim,
        )
    subdim = dim // m
    from privacy_cdc_lakehouse_spark.operators.util import ensure_parallelism

    pruned = coarse_clusters is not None
    ccents: list[tuple[int, list[float]]] | None = None
    if pruned:
        if coarse_model is not None:
            ccents = _model_centroids(coarse_model, coarse_clusters, coarse_iters)
        else:
            ccents = kmeans_fit(
                corpus, n_clusters=coarse_clusters, iters=coarse_iters,
                id_col=id_col, vec_col=vec_col,
            )
    if corpus_codes is None:
        corpus_codes = pq_encode(
            ensure_parallelism(corpus), cb, id_col=id_col, vec_col=vec_col,
            coarse=ccents,
        )
    elif pruned and "cluster" not in corpus_codes.columns:
        raise ValueError(
            "cell-pruned pq_topk needs a cluster-tagged corpus_codes — "
            "re-encode with pq_encode(coarse=...)"
        )
    spark = corpus.sparkSession
    cb_df = spark.createDataFrame(
        [
            (s, int(code), [float(x) for x in cent])
            for s, cs in enumerate(cb)
            for code, cent in cs
        ],
        "sub int, code int, _cent array<double>",
    )
    qv = queries.select("query_id", as_double(F.col(vec_col)).alias("qv"))
    # Per-query ADC distance table: flat array indexed sub*n_codes+code
    # (struct sort on the unique index keeps construction join-order-
    # independent and bit-deterministic).
    dtab = (
        qv.join(F.broadcast(cb_df))
        .select(
            "query_id",
            F.struct(
                (F.col("sub") * n_codes + F.col("code")).alias("i"),
                _sqdist(
                    F.slice(
                        F.col("qv"), F.col("sub") * subdim + 1, F.lit(subdim)
                    ),
                    F.col("_cent"),
                ).alias("d"),
            ).alias("e"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
        .select(
            "query_id", F.transform(F.col("es"), lambda e: e["d"]).alias("dtab")
        )
    )
    # ADC scan: m lookups per pair, left-to-right fold over subspaces
    # (fixed association — the oracle adds its four terms in the same
    # order). Pruned: an equi-join on the probed cell replaces the
    # cross join, so only ~nprobe/n_clusters of the codes are scored.
    if pruned:
        # both sides are query-sized; hint so the planner never
        # sort-merges two tiny frames whose stats it can't estimate
        # through the aggregate
        probe = F.broadcast(dtab).join(
            _probe_clusters(
                queries.select(
                    "query_id", as_double(F.col(vec_col)).alias("_qpv")
                ),
                ccents,
                nprobe,
                vec_field="_qpv",
            ).select("query_id", "cluster"),
            "query_id",
        )
        paired = corpus_codes.join(F.broadcast(probe), "cluster")
    else:
        paired = corpus_codes.crossJoin(F.broadcast(dtab))
    scored = paired.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.aggregate(
            F.transform(
                F.col("codes"),
                lambda c, i: F.element_at(
                    F.col("dtab"), (i * n_codes + c + 1).cast("int")
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("pq_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("pq_dist"), F.asc("neighbor_id")
    )
    winners = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    return (
        cv.join(F.broadcast(winners), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )


def pca_model(
    corpus: DataFrame,
    n_components: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "explode",
) -> DataFrame:
    """PCA for embedding columns — the classic pre-ANN/pre-PQ
    transform (dimensionality reduction / decorrelation; whitening is
    what OPQ-style pipelines apply before product quantization). No
    MLlib dependency; the same driver-resident-model contract as
    :func:`kmeans_fit`:

    - ONE distributed pass computes the d-vector of column means and
      the d×d sum-of-outer-products: each row explodes to its d²
      (i, j, x_i*x_j) terms and a map-side-combinable groupBy(i, j)
      sums them — shuffle volume is d²×partitions, independent of
      corpus size.
    - The 64×64 covariance eigendecomposition runs on the driver via
      numpy (``eigh`` on a symmetric matrix — O(d³) on d=64 is
      microseconds; the same place MLlib's PCA materializes its
      Gramian).
    - Output: one row per component ``(component, loading, mean,
      eigenvalue, _dim, _k)`` — a persistable stamp-guarded artifact
      like :func:`pq_model`. Whitening is a PROJECTION-time choice
      (the eigenvalues are stored), so it is not a fit stamp. Components are sign-normalized
      (largest-|loading| coordinate positive) so the artifact is
      deterministic up to float summation order.

    ``method``: ``"explode"`` (default) keeps everything JVM-side —
    per-row work is O(d²) generated terms, the right trade at
    d ≲ a few hundred. ``"pandas"`` computes per-batch Gramian
    partials with BLAS (``mapInPandas`` emitting one
    (count, sum-vec, flattened X'X) row per Arrow batch, summed
    driver-side) — at large d the O(N·d²) flops belong in BLAS, not
    codegen'd expressions; this is a sanctioned Arrow batch path like
    the multimodal operators, never in a registered query's hot path.
    Both methods agree to float-summation-order (parity-tested).
    """
    import numpy as np

    d = dim
    if method == "pandas":
        import pandas as pd  # noqa: F401

        def gram_partials(batches):
            for pdf in batches:
                X = np.asarray(
                    [list(map(float, v)) for v in pdf["_v"]], dtype=np.float64
                )
                if X.size == 0:
                    continue
                yield __import__("pandas").DataFrame(
                    {
                        "n": [X.shape[0]],
                        "sx": [X.sum(axis=0).tolist()],
                        "sxx": [(X.T @ X).ravel().tolist()],
                    }
                )

        parts = (
            corpus.select(as_double(F.col(vec_col)).alias("_v"))
            .mapInPandas(
                gram_partials,
                "n long, sx array<double>, sxx array<double>",
            )
            .collect()
        )
        n = sum(r["n"] for r in parts)
        sx = np.zeros(d)
        sxx = np.zeros((d, d))
        for r in parts:
            sx += np.asarray(r["sx"])
            sxx += np.asarray(r["sxx"]).reshape(d, d)
        return _pca_from_moments(
            corpus.sparkSession, n, sx, sxx, d, n_components
        )
    if method != "explode":
        raise ValueError(f"unknown pca_model method {method!r}")
    v = as_double(F.col(vec_col))
    # The diagonal element is resolved in a projection IMMEDIATELY
    # after the generate, so the d² exploded rows entering the partial
    # aggregate are 3 scalars wide — not 2 scalars + the full _v array
    # (which would be ~d³ transient doubles per input row at d=64).
    pairs = (
        corpus.select(v.alias("_v"))
        .select(
            F.posexplode(
                F.flatten(
                    F.transform(
                        F.col("_v"),
                        lambda xi: F.transform(F.col("_v"), lambda xj: xi * xj),
                    )
                )
            ).alias("_p", "_xx"),
            F.col("_v"),
        )
        .select(
            "_p",
            "_xx",
            # the mean only needs each coordinate once: the i-th
            # element on the diagonal rows (p = i*d + i)
            F.when(
                F.col("_p") % (d + 1) == 0,
                F.element_at(F.col("_v"), (F.col("_p") / (d + 1) + 1).cast("int")),
            ).alias("_x"),
        )
    )
    sums = (
        pairs.groupBy("_p")
        .agg(
            F.sum("_xx").alias("_sxx"),
            F.count("*").alias("_n"),
            F.sum("_x").alias("_sx"),
        )
        .collect()
    )
    if not sums:
        raise ValueError("pca_model needs a non-empty corpus")
    n = sums[0]["_n"]
    sxx = np.zeros((d, d))
    sx = np.zeros(d)
    for r in sums:
        i, j = divmod(r["_p"], d)
        sxx[i, j] = r["_sxx"]
        if i == j:
            sx[i] = r["_sx"]
    return _pca_from_moments(corpus.sparkSession, n, sx, sxx, d, n_components)


def _pca_from_moments(spark, n, sx, sxx, d, n_components) -> DataFrame:
    """Driver-side tail shared by both pca_model methods: moments →
    covariance → eigh → sign-normalized component artifact."""
    import numpy as np

    if n == 0:
        raise ValueError("pca_model needs a non-empty corpus")
    mean = sx / n
    cov = sxx / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    rows = []
    for rank, idx in enumerate(order):
        vec = evecs[:, idx]
        # deterministic sign: largest-|coordinate| entry positive
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        rows.append(
            (
                rank,
                [round(float(x), 9) for x in vec],
                [round(float(x), 9) for x in mean],
                round(float(max(evals[idx], 0.0)), 9),
                d,
                n_components,
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, loading array<double>, mean array<double>, "
        "eigenvalue double, _dim int, _k int",
    )


def pca_project(
    df: DataFrame,
    model: DataFrame,
    n_components: int = 16,
    whiten: bool = False,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto a :func:`pca_model` artifact: a pure
    codegen'd projection (k dot products against literal loading
    vectors — no join, no shuffle, the ingest-path shape shared with
    :func:`pq_encode`'s literal path). ``whiten=True`` divides each
    component by sqrt(eigenvalue) (+1e-12 floor), giving unit variance
    per component."""
    rows = model.collect()
    missing = {"component", "loading", "mean", "eigenvalue", "_k"} - {
        c for r in rows for c in r.asDict()
    }
    if missing:
        raise ValueError(
            f"pca_model artifact lacks columns {sorted(missing)} — "
            f"rebuild it with pca_model()"
        )
    for r in rows:
        if r["_k"] != n_components:
            raise ValueError(
                f"pca_model artifact was fit with k={r['_k']} — does "
                f"not match the query's k={n_components}; rebuild it"
            )
    comps = sorted((r["component"], r) for r in rows)
    if len(comps) != n_components:
        raise ValueError(
            f"pca_model artifact has {len(comps)} components, expected "
            f"{n_components}"
        )
    mean = comps[0][1]["mean"]
    v = as_double(F.col(vec_col))
    centered = F.zip_with(
        v, _array_lit([float(x) for x in mean]), lambda a, b: a - b
    )
    outs = []
    for rank, r in comps:
        load = _array_lit([float(x) for x in r["loading"]])
        proj = F.aggregate(
            F.zip_with(centered, load, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if whiten:
            proj = proj / float((r["eigenvalue"] + 1e-12) ** 0.5)
        outs.append(proj)
    return df.withColumn(out_col, F.array(*outs))


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    query_id: str = "query_id",
    doc_id: str = "neighbor_id",
    rank_col: str = "rank",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) — the
    standard hybrid-retrieval combiner (BM25 + dense ANN in every RAG
    stack): per (query, doc), ``score = Σ_r 1/(k + rank_r(doc))`` over
    the rankers that retrieved it; re-rank by the fused score. Rank-
    based, so it needs no score calibration between rankers — the
    reason it beats score interpolation in practice.

    Scale shape: ONE tagged union of the ranked lists (each top-N
    bounded by its retriever) → one map-side-combinable
    (query, doc) aggregate → a per-query window over the fused
    candidate set. Never touches a corpus. Determinism: each
    ``1/(k+rank)`` term is exact IEEE math; per-(query, doc) terms are
    summed as a ranker-index-sorted LEFT FOLD (``F.aggregate`` over
    ``array_sort(collect_list(...))`` — the standing fold contract),
    and the final ordering is rank-over-rounded (6dp) with doc-id
    tie-break. Output: (query_id, doc_id, n_rankers, rrf_score 6dp,
    rrf_rank), optionally truncated to ``top_k`` per query."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    tagged = None
    for idx, r in enumerate(rankings):
        t = r.select(
            F.col(query_id).alias("query_id"),
            F.col(doc_id).alias("doc_id"),
            F.lit(idx).alias("_src"),
            (
                F.lit(1.0)
                / (F.lit(float(k)) + F.col(rank_col).cast("double"))
            ).alias("_term"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    fused = (
        tagged.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_rankers"),
            F.array_sort(
                F.collect_list(F.struct("_src", "_term"))
            ).alias("_ts"),
        )
        .select(
            "query_id",
            "doc_id",
            "n_rankers",
            F.round(
                F.aggregate(
                    F.col("_ts"),
                    F.lit(0.0),
                    lambda acc, t: acc + t["_term"],
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    out = fused.withColumn("rrf_rank", F.row_number().over(w))
    if top_k is not None:
        out = out.filter(F.col("rrf_rank") <= top_k)
    return out


def random_projection(
    df: DataFrame,
    dim_out: int,
    dim_in: int,
    vec_col: str = "embedding",
    seed: int = 0,
    normalize: bool = True,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with the ±1
    (Achlioptas 2003) matrix: ``y_k = <x, plane_k> / sqrt(dim_out)``
    over ``dim_out`` deterministic ±1 planes (:func:`plane_vector` —
    the SAME seeded-plane contract the LSH layer uses, so the planes
    are plan literals with zero per-row hashing). The cheap
    alternative to :func:`pca_model` at 100 TB: NO training pass, no
    moments aggregation — projection is a single codegen'd map over
    the corpus, distances preserved within the JL 1±ε bound instead
    of optimally. ``normalize=False`` skips the 1/sqrt(k) scaling
    (irrelevant for cosine). Replaces ``vec_col`` with the projected
    ``array<double>``.

    ``dim_in`` is EXPLICIT (the LSH layer's contract: plane length is
    caller-declared, like ``lsh_index(dim=)``) — the earlier
    sniff-one-row fallback was an eager driver job at plan-build time
    with undefined semantics on mixed-dim or streaming frames, so it
    violated the never-collect design contract (round-12 advice)."""
    if dim_out < 1:
        raise ValueError(f"dim_out must be >= 1, got {dim_out}")
    if dim_in < 1:
        raise ValueError(f"dim_in must be >= 1, got {dim_in}")
    v = as_double(F.col(vec_col))
    comps = [
        _dot(v, _array_lit(plane_vector(seed * 100_003 + k, dim_in)))
        for k in range(dim_out)
    ]
    scale = 1.0 / (dim_out ** 0.5) if normalize else 1.0
    return df.withColumn(
        vec_col, F.array(*[(c * F.lit(scale)) for c in comps])
    )
