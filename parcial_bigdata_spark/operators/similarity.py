"""Similarity search over the ``embeddings`` table.

Baseline: exact brute-force cosine top-k (broadcast the query set,
stream the corpus — one scan, no shuffle until the tiny per-query top-k).
Scale paths: IVF (coarse centroids prune the corpus to nprobe clusters)
and random-hyperplane LSH bucketing.  Their vector math is built-in
higher-order functions (functions/vector.py) — JVM-side, interpreted
(the HOFs are CodegenFallback in Spark 4.1.2).  ``knn_brute_force_arrow``
is the exception: a numpy matmul over Arrow batches (``mapInPandas``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parcial_bigdata_spark.functions.money import ratio_round, ratio_round_float
from parcial_bigdata_spark.functions.vector import (
    cosine,
    dot,
    elementwise_avg,
    norm,
)
from parcial_bigdata_spark.operators.scale import distributed_rank, iter_checkpoint


def _queries(embeddings: DataFrame, query_ids: list[int], *extra) -> DataFrame:
    """The query set: ``(query_id, qvec, *extra)`` for each query id."""
    return embeddings.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"), *extra
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of ``(query_id, vec_id, sim)`` candidate rows: a
    window row_number per query over (sim desc, vec_id asc) —
    rank-partitioned, so it scales with the candidate rows — returned
    as ``(query_id, rnk, vec_id, sim)`` ordered by query and rank."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "vec_id", "sim")
        .orderBy("query_id", "rnk")
    )


def knn_brute_force(embeddings: DataFrame, query_ids: list[int], k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query set (tiny) broadcasts; the corpus is scanned once; the
    per-query top-k is ``_top_k``'s window.
    """
    sim = cosine(F.col("qvec"), F.col("embedding"))
    return _top_k(
        embeddings.crossJoin(F.broadcast(_queries(embeddings, query_ids)))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(sim, 6).alias("sim")),
        k,
    )


def ivf_centroids(embeddings: DataFrame, cluster_col: str = "label") -> DataFrame:
    """Coarse centroids per cluster (element-wise mean).  At 100 TB the
    cluster assignment comes from a trained quantizer; here the ``label``
    column plays that role deterministically."""
    return elementwise_avg(embeddings, [cluster_col], "embedding").withColumnRenamed(
        cluster_col, "cluster"
    )


def knn_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
) -> DataFrame:
    """IVF search: rank clusters by query→centroid cosine, search only the
    top ``nprobe`` clusters.  Corpus scan is pruned to nprobe/|clusters|
    of the data — the standard ANN recall/cost dial.  Deterministic given
    the cluster column, and the probe ranking orders by ROUNDED csim
    (ties broken by cluster id) so the probe set is stable across engines
    — which is what lets the full query carry an exact SQL oracle."""
    cents = ivf_centroids(embeddings, cluster_col)
    queries = _queries(embeddings, query_ids)
    csim = F.round(cosine(F.col("qvec"), F.col("centroid")), 6)
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cluster").asc())
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("query_id", "qvec", "cluster", csim.alias("csim"))
        .withColumn("crnk", F.row_number().over(wq))
        .where(F.col("crnk") <= nprobe)
        .select("query_id", "qvec", "cluster")
    )
    sim = cosine(F.col("qvec"), F.col("embedding"))
    return _top_k(
        embeddings.join(
            F.broadcast(probes), F.col(cluster_col) == F.col("cluster")
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(sim, 6).alias("sim")),
        k,
    )


def assign_clusters(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by ROUNDED cosine (ties → lowest
    cluster id).  The rounding pins the argmax across engines and
    summation orders, which is what lets the trained quantizer carry an
    exact SQL oracle.  Centroids broadcast (k rows); the corpus streams
    through one scan.

    r16 rewrite (guide §2.4 "remove shuffles outright"): the k-row
    centroid frame collapses to ONE row holding an array of
    (cluster, centroid, cnrm) structs, broadcast onto the corpus; the
    argmax is then a row-local array_max over the k candidate
    struct(sim, -cluster) values.  The former crossJoin(k rows) +
    groupBy(vec_id) form collapsed the k candidates map-side but still
    EXCHANGED one row per vector WITH its embedding payload — a
    full-corpus shuffle per Lloyd round for a decision that is
    row-local once the centroids are known.  Now the plan has zero
    exchanges on the corpus side.

    Numerics are unchanged per (row, centroid): the same
    `round(dot/(norm_a·norm_c), 6)` double folds in the same order —
    norms are hoisted exactly as embedding_near_duplicates hoists them
    (same deterministic fold per vector, same multiply/divide order,
    bitwise-identical; the centroid norm is computed once per centroid
    in the broadcast row instead of once per pair).  array_max over
    struct(sim, negc) is the same lexical (sim DESC, cluster ASC)
    argmax the groupBy's F.max(struct) computed; rounded sims make it
    order-independent, so the array_sort (cluster order) is only for
    plan determinism.

    Contract notes (r16 advice): the output has ONE ROW PER INPUT ROW —
    duplicate vec_ids are assigned independently, not collapsed (the
    pre-r16 groupBy(vec_id) form collapsed them; current callers — the
    Lloyd loop, the training summary — never pass duplicates).  The
    whole centroid set rides a single collect_list row, so k·dim must
    stay broadcast-sized (true for any IVF coarse quantizer; not a
    surface for million-centroid codebooks)."""
    cent = centroids.select(
        F.struct(
            F.col("cluster").alias("cluster"),
            F.col("centroid").alias("centroid"),
            norm(F.col("centroid")).alias("cnrm"),
        ).alias("c")
    )
    carr = F.broadcast(cent.agg(F.array_sort(F.collect_list("c")).alias("carr")))
    base = embeddings.crossJoin(carr).where(F.size("carr") > 0).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm"), "carr"
    )

    def _cand(s):
        sim = F.round(
            dot(F.col("embedding"), s["centroid"]) / (F.col("nrm") * s["cnrm"]), 6
        )
        return F.struct(sim.alias("sim"), (-s["cluster"]).alias("negc"))

    best = F.array_max(F.transform("carr", _cand))
    return base.select(
        "vec_id",
        "embedding",
        (-best["negc"]).alias("cluster"),
        best["sim"].alias("sim"),
    )


def train_spherical_kmeans(embeddings: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Train the IVF coarse quantizer itself: spherical k-means by Lloyd
    iteration, entirely as DataFrame ops — the step that produces the
    cluster assignment knn_ivf consumes (instead of borrowing the
    fixture ``label``).

    Init is the first ``k`` vectors by vec_id (deterministic, no RNG);
    each round assigns every vector to its max-cosine centroid
    (broadcast k×dim, one corpus scan) and recomputes element-wise mean
    centroids (one shuffle of |clusters|·dim partial sums).  The
    iteration count is FIXED, not convergence-tested: per-round cost is
    known, the result is reproducible, and an unrolled SQL twin can
    verify it — at 100 TB you run Lloyd on a sample anyway, so bounded
    iterations are the production shape.  Per-round lineage is cut with
    ``iter_checkpoint`` (same rationale as duplicate_components; reliable
    ``.checkpoint()`` engages automatically when a checkpoint dir is set).

    Oracle-equality caveat (round-3 advice): centroid components come
    from double ``avg()`` whose partial-sum order differs between Spark
    and the unrolled DuckDB oracle, so centroids can differ by ~1 ulp;
    the round-to-6 cosine in assign_clusters then pins the argmax only
    when no two cluster similarities fall within ~1e-6.  Empirically
    exact at sf0.001-0.1; a different scale/partitioning could flip an
    assignment whose top-2 similarities tie inside that band.  The money
    fix (sum in DECIMAL) does NOT port here: the inputs are float32, and
    double→decimal casts at any fixed scale themselves round differently
    per engine (Spark rounds the shortest decimal repr, DuckDB the
    binary value), reintroducing the same class of divergence.  If a
    driver mismatch ever appears here, the fix is to demote the query to
    rows-only and keep kmeans_cluster_summary (count-dominated) as the
    hash-checked twin."""
    if k <= 0 or iters <= 0:
        raise ValueError("k and iters must be positive")
    e = embeddings.select("vec_id", "embedding")
    w0 = Window.orderBy("vec_id")
    cents = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).alias("cluster"),
            F.col("embedding").alias("centroid"),
        )
    )
    for _ in range(iters):
        asg = assign_clusters(e, cents)
        cents = iter_checkpoint(elementwise_avg(asg, ["cluster"], "embedding"))
    return cents


def kmeans_cluster_summary(embeddings: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Per-cluster profile of the trained quantizer: member count and
    mean member→centroid cosine (the coherence metric that tells you
    whether k is sane before building the IVF index)."""
    cents = train_spherical_kmeans(embeddings, k, iters)
    final = assign_clusters(embeddings.select("vec_id", "embedding"), cents)
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("sim"), 4).alias("avg_sim"),
        )
        .orderBy("cluster")
    )


def knn_brute_force_arrow(embeddings: DataFrame, query_ids: list[int], k: int = 10) -> DataFrame:
    """Brute-force cosine top-k on the Arrow path: the tiny query matrix
    broadcasts to executors; each Arrow batch computes ALL similarities
    as one numpy matmul and keeps only its local top-k per query, so the
    shuffle carries ≤ k·|queries| rows per batch instead of n·|queries|.

    This is the wide-embedding scale path (BLAS beats per-element HOF
    folds as dims grow); `knn_brute_force` (built-in expressions, oracle-
    checked) is the ground truth it must match — asserted in tests.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        embeddings.where(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect()
    )  # |queries| rows — driver-safe by contract
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = embeddings.sparkSession.sparkContext.broadcast((qids, Qn))

    from decimal import ROUND_HALF_UP, Decimal

    def _round6(x: float) -> float:
        # Spark F.round(x, 6) semantics: HALF_UP on the shortest decimal
        # repr (np.round is binary half-to-even — it diverges on
        # …5-at-the-7th-decimal values, the exact rounding-divergence
        # class the engine guards against elsewhere; verified equal to
        # F.round on probe values in tests).
        # float(x) first: numpy 2.x reprs np.float64 as 'np.float64(…)',
        # which Decimal cannot parse
        return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    def batches(it):
        b_qids, b_Qn = bq.value
        for pdf in it:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            En = E / np.linalg.norm(E, axis=1, keepdims=True)
            S = En @ b_Qn.T  # (batch, queries)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_v, out_s = [], [], []
            for j, qid in enumerate(b_qids):
                col = S[:, j]
                cand_idx = np.nonzero(vids != qid)[0]
                if len(cand_idx) > k:
                    # raw-sim prune with a 1e-6 slack band: rounding is
                    # monotonic, so any row that could TIE the k-th row
                    # after 6-decimal rounding (and then win on the
                    # vec_id tie-break) lies within 1e-6 of the k-th raw
                    # sim — keep the band, then cut exactly below.
                    kth = np.partition(col[cand_idx], len(cand_idx) - k)[
                        len(cand_idx) - k
                    ]
                    cand_idx = cand_idx[col[cand_idx] >= kth - 1e-6]
                # exact final order (rounded sim desc, vec_id asc), so the
                # batch-local cut keeps precisely the rows the global
                # ground-truth ranking could place in the top k
                scored = sorted(
                    ((-_round6(col[i]), int(vids[i])) for i in cand_idx)
                )[:k]
                out_q.extend([qid] * len(scored))
                out_v.extend(v for _, v in scored)
                out_s.extend(-s for s, _ in scored)
            yield pd.DataFrame({"query_id": out_q, "vec_id": out_v, "sim": out_s})

    local = embeddings.select("vec_id", "embedding").mapInPandas(
        batches, schema="query_id long, vec_id long, sim double"
    )
    return _top_k(local, k)


def embedding_norm_stats(embeddings: DataFrame) -> DataFrame:
    """Per-cluster L2-norm profile — the sanity check before any
    cosine-based search (catches unnormalized or degenerate vectors).
    norm() is a sequential fold in double precision, so the value is
    bitwise-deterministic and oracle-comparable."""
    n = norm(F.col("embedding"))
    return (
        embeddings.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(n), 4).alias("avg_norm"),
            F.round(F.min(n), 4).alias("min_norm"),
            F.round(F.max(n), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


def scalar_quantization_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector int8 scalar-quantization audit — the memory-shrink
    path an ANN index takes at scale (float32 → uint8 is 4× smaller
    resident state; IVF/LSH probes then rerank the shortlist in full
    precision).  Affine codebook per vector: scale = (max−min)/255,
    code cᵢ = ⌊(vᵢ−min)/scale + 0.5⌋, reconstruction rᵢ = min + cᵢ·scale;
    the audit reports RMSE and max abs reconstruction error.

    Everything is a row-local double fold (one scan, zero exchanges
    before the output sort).  ⌊x+0.5⌋ instead of round(): banker's vs
    half-away rounding differs across engines, floor does not — the
    codes, and therefore every statistic, are bit-identical to the SQL
    oracle.  A constant vector (scale 0) quantizes losslessly."""
    base = embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).select(
        "vec_id",
        "label",
        "v",
        F.array_min("v").alias("vmin"),
        ((F.array_max("v") - F.array_min("v")) / 255).alias("scale"),
    )
    recon = lambda x: F.col("vmin") + (  # noqa: E731
        F.floor((x - F.col("vmin")) / F.col("scale") + F.lit(0.5))
        * F.col("scale")
    )
    errs = F.when(
        F.col("scale") > 0,
        F.transform("v", lambda x: F.abs(x - recon(x))),
    ).otherwise(F.transform("v", lambda x: F.lit(0.0)))
    sq_sum = F.aggregate(
        "errs", F.lit(0.0), lambda acc, e: acc + e * e
    )
    return (
        base.withColumn("errs", errs)
        .select(
            "vec_id",
            "label",
            F.size("v").alias("n_dims"),
            F.round("scale", 6).alias("scale"),
            F.round(F.sqrt(sq_sum / F.size("v")), 6).alias("rmse"),
            F.round(F.array_max("errs"), 6).alias("max_err"),
        )
        .orderBy("vec_id")
    )


def label_centroid_dispersion(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid dispersion — the cluster-quality readout for
    an IVF index or a labeled near-dup space: tight labels rerank well
    from small probe lists, diffuse ones need more probes.

    The centroid is an elementwise mean: posexplode → ONE map-side-
    combining (label, pos) average over a |labels|·dim frame, folded
    back into an index-sorted array and BROADCAST to the vectors (the
    centroid table is tiny by construction); each vector's L2 distance
    to its centroid is then a sequential zip_with fold, and a closing
    label groupBy yields count/avg/max.  No vector-cardinality join —
    the only fact-side exchanges are the centroid average and the final
    per-label aggregate."""
    pos = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select("label", "pos", F.col("val").cast("double").alias("val"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                "centroid",
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        embeddings.join(F.broadcast(cent), "label")
        .select("label", dist.alias("dist"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
            F.round(F.max("dist"), 6).alias("max_dist"),
        )
        .orderBy("label")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype("float64").tolist()


def _vec_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding dimensionality probed from one row (zip_with null-pads on
    length mismatch, silently zeroing every bucket — so never guess)."""
    row = embeddings.select(F.size(vec_col).alias("d")).first()
    if row is None:
        raise ValueError("empty embeddings table: cannot infer vector dim")
    return row.d


def lsh_buckets(
    embeddings: DataFrame, n_planes: int = 8, dim: int | None = None, seed: int = 42
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string over ``n_planes``
    fixed hyperplanes (seeded, deterministic).  Bucketing is a projection
    — no shuffle; the bucket column then drives equi-join candidate
    generation or bucketed search."""
    planes = _hyperplanes(dim or _vec_dim(embeddings), n_planes, seed)
    bits = [
        (dot(F.col("embedding"), F.array(*[F.lit(v) for v in p])) > 0).cast("int").alias(f"bit{i}")
        for i, p in enumerate(planes)
    ]
    with_bits = embeddings.select("vec_id", "embedding", "label", *bits)
    bucket = sum(F.col(f"bit{i}") * (2**i) for i in range(n_planes))
    return with_bits.select("vec_id", "embedding", "label", bucket.alias("bucket"))


def knn_lsh(embeddings: DataFrame, query_ids: list[int], k: int = 10, n_planes: int = 6) -> DataFrame:
    """LSH-bucketed ANN: search only the query's bucket.  Approximate
    (recall < 1) by design — rows-only correctness check; recall is
    asserted against brute force in tests."""
    bucketed = lsh_buckets(embeddings, n_planes)
    queries = _queries(bucketed, query_ids, F.col("bucket").alias("qbucket"))
    sim = cosine(F.col("qvec"), F.col("embedding"))
    return _top_k(
        bucketed.join(F.broadcast(queries), F.col("bucket") == F.col("qbucket"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(sim, 6).alias("sim")),
        k,
    )


def dimension_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension moment profile of the embedding space
    (`embedding_dim_stats`) — the whitening / feature-scaling input
    (per-dim mean and variance) plus collapse diagnostics (a dimension
    whose variance ≈ 0 carries no information; wildly uneven variances
    say the space needs whitening before an L2 index).

    ORDER-INSENSITIVE moments: double summation is not associative, so
    a plain avg() over a shuffled corpus can wobble ulps between runs
    and engines; here each value and its square are first rounded onto
    the fixed 1e-18 decimal grid (exact for most float32 inputs, a
    half-ulp perturbation far below the output's round-6 for the
    rest), summed EXACTLY as decimals in any order, and the mean /
    population variance come out of the two exact sums with a fixed
    IEEE op sequence — mean = S/n, var = Q/n − (S/n)² — shared with
    the oracle.

    Scale: posexplode is row-local; ONE map-side-combining groupBy on
    the |dims|-ary dimension key carries the whole profile."""
    pos = embeddings.select(
        F.posexplode("embedding").alias("pos", "val")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    s = F.col("val").cast("decimal(38,18)")
    q = (F.col("val") * F.col("val")).cast("decimal(38,18)")
    agg = pos.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(s).alias("__s"),
        F.sum(q).alias("__q"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
    n = F.col("n_values").cast("double")
    s_d = F.col("__s").cast("double")
    q_d = F.col("__q").cast("double")
    mean = s_d / n
    var = q_d / n - (s_d / n) * (s_d / n)
    return agg.select(
        "dim",
        "n_values",
        ratio_round(mean, 6).alias("mean_val"),
        ratio_round(var, 6).alias("var_val"),
        "min_val",
        "max_val",
    ).orderBy("dim")


def pair_cosine_histogram(embeddings: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Corpus isotropy diagnostic (`embedding_pair_cosine_hist`): the
    cosine distribution over a DETERMINISTIC random pairing of the
    corpus — anisotropic embedding spaces (everything similar to
    everything, the known transformer pathology) show the histogram
    mass piled far from 0, which breaks cosine-threshold dedup and
    IVF recall assumptions alike.

    The pairing is the md5 rank line (the `sample_negative_pairs`
    convention): rank r ≤ ⌊n/2⌋ pairs with rank r + ⌊n/2⌋ — every
    vector in at most one pair, a pure function of the corpus (an odd
    trailing vector is dropped, visible as 2·n_pairs vs corpus size).
    Ranks come from the skew-proof ``distributed_rank``; cosines round
    at 6 digits (the embedding-oracle convention) BEFORE bucketing, so
    bucket assignment is deterministic cross-engine.

    Scale: two slim rank-equi joins carry ids only; payloads join back
    once per side; the histogram is a ≤n_buckets-row aggregate."""
    hashed = embeddings.select(
        "vec_id",
        "embedding",
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    )
    ranked = distributed_rank(hashed, "__h", "vec_id", out_col="__r")
    half = ranked.agg((F.count(F.lit(1)) / 2).cast("long").alias("__half"))
    a = ranked.crossJoin(F.broadcast(half)).where(F.col("__r") <= F.col("__half"))
    b = ranked.crossJoin(F.broadcast(half)).where(
        (F.col("__r") > F.col("__half")) & (F.col("__r") <= 2 * F.col("__half"))
    )
    pairs = a.select(
        F.col("__r").alias("__k"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    ).join(
        b.select(
            (F.col("__r") - F.col("__half")).alias("__k"),
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
        ),
        "__k",
    )
    cos = F.round(
        cosine(
            F.transform("emb_a", lambda x: x.cast("double")),
            F.transform("emb_b", lambda x: x.cast("double")),
        ),
        6,
    )
    bucket = F.least(
        F.greatest(
            F.floor((cos + 1) * n_buckets / 2).cast("int"), F.lit(0)
        ),
        F.lit(n_buckets - 1),
    )
    return (
        pairs.select(bucket.alias("bucket"), cos.alias("__c"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("__c").alias("min_cos"),
            F.max("__c").alias("max_cos"),
        )
        .orderBy("bucket")
    )


def mahalanobis_outliers(
    embeddings: DataFrame, top_n: int = 20, var_floor: float = 1e-12
) -> DataFrame:
    """Embedding-space outliers by DIAGONAL-covariance Mahalanobis
    distance (`embedding_mahalanobis_outliers`): per-dimension z-score
    energy d² = Σ_i (x_i − μ_i)²/σ_i² — the standard cheap screen for
    corrupt / out-of-distribution vectors before they poison dedup
    thresholds or k-means seeds (full-covariance Mahalanobis needs a
    matrix inverse; the diagonal form is the scale-sane variant and
    catches the axis-aligned pathologies real pipelines produce).

    Engine-exact: per-dim moments use the ``dimension_stats``
    decimal-grid technique (values and squares land on the 1e-18 grid,
    sum EXACTLY in any order, one fixed IEEE sequence to μ and σ²);
    each vector's per-dim term is one fixed double sequence, rounded
    back onto the 1e-18 grid so the per-vector SUM is again
    order-free; the top-``top_n`` ranking orders by the EXACT decimal
    (tie-break vec_id) so the cut is bit-deterministic.  Dimensions
    with σ² ≤ ``var_floor`` are excluded (deterministically — both
    engines compare the identical double) rather than dividing by ~0.

    Scale: one posexplode groupBy to the |dims| grain (map-side
    combining), the ≤|dims|-row stats frame broadcasts back over a
    second row-local pass, and the closing top-n is a global sort of
    |vectors| single-double rows — the same shape as knn's result
    collapse."""
    pos = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    s = F.col("val").cast("decimal(38,18)")
    q = (F.col("val") * F.col("val")).cast("decimal(38,18)")
    agg = pos.groupBy("dim").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(s).alias("__s"),
        F.sum(q).alias("__q"),
    )
    n = F.col("__n").cast("double")
    s_d = F.col("__s").cast("double")
    q_d = F.col("__q").cast("double")
    mean = s_d / n
    var = q_d / n - (s_d / n) * (s_d / n)
    stats = agg.select(
        "dim", mean.alias("__mu"), var.alias("__var")
    ).where(F.col("__var") > F.lit(var_floor))
    dev = F.col("val") - F.col("__mu")
    term = (dev * dev / F.col("__var")).cast("decimal(38,18)")
    scored = (
        pos.join(F.broadcast(stats), "dim")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dims_used"),
            F.sum(term).alias("__d2"),
        )
    )
    return (
        scored.orderBy(F.col("__d2").desc(), F.col("vec_id"))
        .limit(top_n)
        .select(
            "vec_id",
            "n_dims_used",
            ratio_round(F.col("__d2").cast("double"), 6).alias(
                "mahalanobis_sq"
            ),
        )
    )


def random_projection_audit(
    embeddings: DataFrame, k: int = 8, n_buckets: int = 20
) -> DataFrame:
    """Johnson-Lindenstrauss sign-projection distance audit
    (`embedding_random_projection`): project the embedding space to
    ``k`` dims with a deterministic ±1 matrix (Achlioptas 2003 — the
    database-friendly JL construction: no Gaussians, just signs), then
    histogram the projected/original distance ratios over adjacent
    (even, odd) vec_id pairs.  A healthy projection concentrates the
    ratio near 1.0; this is the cheap pre-flight check before
    committing an ANN index to the reduced space.

    The sign matrix is a pure int64 function of (dim i, proj j) —
    ``bit 16 of (i*2654435761 + j*40503) mod 2^32`` — so both engines
    materialize the identical matrix with no stored state.

    Determinism: each projected coordinate and each distance is a
    SEQUENTIAL fold in array order (F.aggregate here, list_sum in the
    oracle — the knn-oracle-validated pattern), so the ratio doubles
    are bit-identical; the histogram bucket is floor(ratio·10) capped
    at the top bucket.  Zero-distance originals (exact duplicate
    vectors) are counted in their own row (bucket -1) rather than
    dividing by zero.

    Scale: the projection is row-local (|dims|·k multiply-adds in
    interpreted HOFs); pairing is ONE equi-join on vec_id+1; the histogram is a
    |buckets|-row aggregate.  No all-pairs anything."""
    dim = _vec_dim(embeddings)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def sign(i, j):
        h = F.pmod(
            i.cast("long") * F.lit(2654435761) + F.lit(j * 40503),
            F.lit(4294967296),
        )
        return F.when(
            F.pmod(F.floor(h / F.lit(65536)), F.lit(2)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))

    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(emb, idx, lambda v, i: v * sign(i, j)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for j in range(k)
        ]
    )
    projected = iter_checkpoint(
        embeddings.select("vec_id", emb.alias("v"), proj.alias("p"))
    )
    a = projected.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0).select(
        F.col("vec_id").alias("id"),
        F.col("v").alias("va"),
        F.col("p").alias("pa"),
    )
    b = projected.where(F.pmod(F.col("vec_id"), F.lit(2)) == 1).select(
        (F.col("vec_id") - 1).alias("id"),
        F.col("v").alias("vb"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "id")
    d_orig = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d_proj = None
    for j in range(k):
        term = (F.col("pa")[j] - F.col("pb")[j]) * (
            F.col("pa")[j] - F.col("pb")[j]
        )
        d_proj = term if d_proj is None else d_proj + term
    ratio = F.sqrt((d_proj / F.lit(float(k))) / d_orig)
    bucket = F.when(d_orig <= 0, F.lit(-1)).otherwise(
        F.least(F.floor(ratio * 10).cast("long"), F.lit(n_buckets - 1))
    )
    return (
        pairs.select(bucket.alias("ratio_bucket"))
        .groupBy("ratio_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("ratio_bucket")
    )


def _exact_covariance_moments(embeddings: DataFrame):
    """(dim_rows, pair_rows): exact-decimal first moments per
    dimension and second moments per (i ≤ j) dimension pair, collected
    driver-side (bounded by d², the declared-dimension contract).

    float32→double casts and double×double products of float32 operands
    are EXACT (24+24 mantissa bits < 53); each product lands on the
    1e-18 decimal grid, so the sums are order-free and the covariance
    matrix is bit-identical across runs/engines (the
    `embedding_dim_stats` technique, extended to cross-moments).

    The pair expansion is ROW-LOCAL (nested transform + flatten —
    interpreted HOFs, no self-join); the shuffle carries map-side-combined
    partials at the d(d+1)/2 pair grain.  A SENTINEL dimension of
    constant 1.0 is appended before the expansion, so the pair stream
    carries the first moments too — (i, d+1) products ARE the Σxᵢ line
    and (d+1, d+1) is n — so ONE aggregate/job serves both frames
    (one scan+shuffle instead of two; the remaining cost is the
    decimal aggregation of the exploded pair stream itself, the price
    of the exact-grid covariance).  For d=64 that is a ×2145 explode
    per vector — the
    documented alternative above ~1e9 vectors is per-partition Gram
    partials via mapInPandas; at every tested scale the explode's
    map-side combine collapses it first."""
    arr = F.concat(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.array(F.lit(1.0)),
    )
    staged = embeddings.select(arr.alias("v")).select(
        "v", F.size("v").alias("d")
    )
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.col("d")),
            lambda i: F.transform(
                F.sequence(i, F.col("d")),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        F.element_at(F.col("v"), i)
                        * F.element_at(F.col("v"), j)
                    ).alias("p"),
                ),
            ),
        )
    )
    pairs_all = (
        staged.select(F.explode(pair_structs).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p").cast("decimal(38,18)")).alias("q"),
        )
    ).collect()
    d = max(r["j"] for r in pairs_all) - 1
    dims = [
        {"i": r["i"], "n": r["n"], "s": r["q"]}
        for r in pairs_all
        if r["j"] == d + 1 and r["i"] <= d
    ]
    # per-dim Q_ii rides the diagonal pair rows
    qii = {r["i"]: r["q"] for r in pairs_all if r["i"] == r["j"] and r["i"] <= d}
    for row in dims:
        row["q"] = qii[row["i"]]
    pairs = [r for r in pairs_all if r["j"] <= d]
    return dims, pairs


def _covariance(embeddings: DataFrame) -> tuple[list, int, np.ndarray]:
    """(dim_rows, n, cov): the per-dimension exact moments of
    ``_exact_covariance_moments``, the row count, and the d×d
    covariance matrix Qᵢⱼ/n − μᵢμⱼ assembled from them on the driver."""
    dim_rows, pair_rows = _exact_covariance_moments(embeddings)
    d = max(r["i"] for r in dim_rows)
    n = dim_rows[0]["n"]
    mu = np.zeros(d)
    for r in dim_rows:
        mu[r["i"] - 1] = float(r["s"]) / n
    cov = np.zeros((d, d))
    for r in pair_rows:
        i, j = r["i"] - 1, r["j"] - 1
        c = float(r["q"]) / n - mu[i] * mu[j]
        cov[i, j] = c
        cov[j, i] = c
    return dim_rows, n, cov


def pca_variance_spectrum(embeddings: DataFrame) -> DataFrame:
    """Full-covariance PCA variance spectrum
    (`embedding_pca_variance`): eigen-decompose the embedding
    covariance matrix and report each principal component's
    eigenvalue, explained-variance ratio, and the cumulative curve —
    the intrinsic-dimensionality readout (how many axes carry the
    corpus, whether the tail is noise) behind whitening, compression,
    and IVF cell-count choices.

    Distributed part: the exact-decimal moment aggregates of
    `_exact_covariance_moments` (bit-identical covariance across
    runs).  Driver part: numpy `eigh` on the d×d matrix — d² doubles,
    BOUNDED BY THE DECLARED DIMENSION, never by the row count (the
    same driver-side contract as the BPE merge list).  No SQL oracle
    can eigen-decompose, so this entry is rows-only by design; its
    hard-check twin is `embedding_pca_trace_audit` (Σ eigenvalues must
    reproduce the SQL-computable trace bit-for-bit at 6 dp)."""
    spark = embeddings.sparkSession
    _, _, cov = _covariance(embeddings)
    eig = np.linalg.eigh(cov)[0][::-1]  # descending
    trace = float(eig.sum())
    # degenerate corpus (constant embeddings, or a single row): every
    # variance is 0 and the ratio denominators vanish — emit NULL
    # ratios instead of raising, matching the NULL-not-NaN posture of
    # the periodogram variance-share guard (round-13 advice)
    degenerate = trace <= 0.0
    rows, cum = [], 0.0
    for k, ev in enumerate(eig, start=1):
        ev = float(ev)
        cum += ev
        rows.append(
            (
                k,
                ratio_round_float(ev, 6),
                None if degenerate else ratio_round_float(ev / trace, 6),
                None if degenerate else ratio_round_float(cum / trace, 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, eigenvalue double, explained_ratio double,"
        " cumulative_ratio double",
    )


def pca_trace_audit(embeddings: DataFrame) -> DataFrame:
    """Oracle-checked twin of `embedding_pca_variance`
    (`embedding_pca_trace_audit`): the eigenvalue sum of the
    driver-side decomposition must equal the covariance trace — which
    IS SQL-computable from the exact-decimal moments (Σᵢ Qᵢᵢ/n −
    μᵢ²).  Both numbers are reported rounded at 6 dp; the DuckDB
    oracle emits the trace TWICE, so any eigensolver / moment-pipeline
    drift beyond 5e-7 breaks the hash."""
    spark = embeddings.sparkSession
    dim_rows, n, cov = _covariance(embeddings)
    trace = 0.0
    for r in dim_rows:
        m = float(r["s"]) / n
        trace += float(r["q"]) / n - m * m
    sum_eig = float(np.linalg.eigh(cov)[0].sum())
    return spark.createDataFrame(
        [
            (
                cov.shape[0],
                ratio_round_float(trace, 6),
                ratio_round_float(sum_eig, 6),
            )
        ],
        "n_dims int, trace double, sum_eigenvalues double",
    )
