"""Quantized k-means trainer + prototypicality pruning — embedding
curation operators a training-data pipeline runs BEFORE dedup/mixing
(cluster the corpus, keep per-cluster exemplars, drop the far tail).

Engine-exactness strategy (the repo's established parity idioms):

- Coordinates are floor-quantized ONCE to an integer grid
  (``floor(x * 1e6)`` as BIGINT — Spark ``floor`` and DuckDB ``floor``
  both round toward -inf on the identical ``x * 1000000.0`` double),
  and every downstream step — L2 distances, argmin assignment,
  centroid sums, mean division — is EXACT int64 arithmetic, so the
  full T-round Lloyd trajectory is bit-identical in any engine.
- Centroid means use exact FLOOR division, computed driver-side in
  Python (``//`` is floor) and in the oracle via the portable
  ``(s - ((s % n) + n) % n) // n`` identity (numerator exactly
  divisible, so the engine's rounding mode can't matter).
- The k centroids are BOUNDED state (k x d ints): each round collects
  them driver-side (the PCA power-iteration pattern, pca.py) and
  inlines them as literal arrays, so ASSIGNMENT is map-only — one
  projection against a constant, no crossJoin fan, no per-row window
  (the semdedup ``_argmax_struct`` idiom with an argMIN fold).

Overflow budget at Q = 1e6 over unit-scale embeddings (|x| < 1):
per-dim delta < 2^21, squared < 2^42, x 64 dims < 2^48; per-cluster
coordinate sums stay under 2^63 up to ~4e12 member vectors — int64 is
safe three orders of magnitude past the 100 TB corpus.

100 TB shape: each Lloyd round is ONE corpus scan emitting k x d
partial sums (map-side combined; the shuffle is centroid-sized, not
corpus-sized) plus a driver-side k x d reduce — the same economics as
distributed MLlib KMeans, but with a replayable exact trajectory the
driver's DuckDB oracle can verify hash-for-hash (MLlib's float order
is nondeterministic under partitioning, which is why ``assign_cells``
could only rows-check its kmeans=True path).

Prototypicality (Sorscher et al. 2022, "Beyond neural scaling laws")
ranks members by distance to their cluster centroid: the far tail is
noise/outliers (prune for quality), the near core is redundant
(prune for diversity).  ``embedding_prototypicality`` emits both ends
per label cluster with exact integer distances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import load_table

K_CLUSTERS = 8
LLOYD_ROUNDS = 3
Q_SCALE = "1000000.0"  # textual so Spark and DuckDB parse the same double
PROTO_TOP = 5


def _quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, label, qv array<long>): floor-quantized coordinates.
    A pure projection: the assignment subtree built on it stays
    map-only (zero exchanges)."""
    v = F.col("embedding").cast("array<double>")
    qv = F.transform(v, lambda x: F.floor(x * F.lit(float(Q_SCALE))).cast("long"))
    return emb.select("vec_id", "label", qv.alias("qv"))


def _qv_matrix(col, n: int):
    """int64 (n, d) matrix from a list<int64> Arrow column — zero-copy
    via the list values buffer when the layout allows (fixed dim, no
    nulls: the _quantized contract), falling back to to_pylist (r12,
    guide §4.2: to_pylist built n x d python ints per batch and was
    the kernel's measured hot spot ahead of the einsum)."""
    import numpy as np

    try:
        flat = col.flatten()
        vals = flat.to_numpy(zero_copy_only=True)
        if n and vals.size % n == 0:
            return vals.reshape(n, -1).astype(np.int64, copy=False)
    except Exception:
        pass
    return np.array(col.to_pylist(), dtype=np.int64)


def _np_dists(b, C):
    """(ids, Q, dist): the per-batch exact int64 distance matrix —
    n x k squared L2 against the centroid matrix.  numpy int64 is
    exact (no float path) and stays within the module's overflow
    budget (< 2^48 per distance)."""
    import numpy as np

    ids = b.column("vec_id").to_numpy(zero_copy_only=False)
    Q = _qv_matrix(b.column("qv"), len(ids))
    if Q.size == 0:
        return ids, Q, np.zeros((0, C.shape[0]), np.int64)
    diff = Q[:, None, :] - C[None, :, :]
    return ids, Q, np.einsum("nkd,nkd->nk", diff, diff)


def _assign(d: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, cluster, dist): map-only nearest-centroid assignment.

    Arrow-batched numpy kernel, not a Catalyst literal fold: the k x d
    inlined-literal argmin expression recompiled per Lloyd round
    (centroid literals change every round) and its codegen dominated
    the key's wall time at any local SF.  numpy argmin keeps the
    EARLIEST index on ties — identical to the strict-< fold / a
    (dist ASC, j ASC) row_number — and every distance is exact int64,
    so the emitted values are bit-identical to the SQL oracle's."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(cents, dtype=np.int64)

    def fn(batches):
        for b in batches:
            ids, _Q, dist = _np_dists(b, C)
            if dist.shape[0] == 0:
                continue
            cl = dist.argmin(axis=1)
            dm = dist[np.arange(dist.shape[0]), cl]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(ids, np.int64)),
                    pa.array(cl.astype(np.int32)),
                    pa.array(dm),
                ],
                names=["vec_id", "cluster", "dist"],
            )

    return d.select("vec_id", "qv").mapInArrow(
        fn, "vec_id long, cluster int, dist long"
    )


def seed_centroids_quantized(emb: DataFrame, k: int = K_CLUSTERS) -> list[list[int]]:
    """First-k-by-vec_id quantized seeds, driver-side (bounded collect
    of k rows — the seed_codebook convention)."""
    rows = _quantized(emb).orderBy("vec_id").limit(k).collect()
    return [list(r["qv"]) for r in rows]


def kmeans_train(
    emb: DataFrame, k: int = K_CLUSTERS, rounds: int = LLOYD_ROUNDS
) -> list[list[int]]:
    """The trained quantized centroids after ``rounds`` exact Lloyd
    updates.  Per round: map-only assignment, one k x d integer
    partial-sum shuffle, driver-side floor-division (k x d ints — the
    bounded-state collect the module docstring justifies).  Clusters
    that lose all members keep their previous centroid."""
    import numpy as np
    import pyarrow as pa

    # seed from the SAME checkpointed frame the rounds iterate (r10):
    # the seed collect is the checkpoint's materializing action, so
    # round 1 reads cached quantized blocks instead of re-running the
    # scan + quantize projection a second time.  _quantized spreads
    # the single-split scan (r12) so the checkpoint holds parallel
    # partitions and every Lloyd round's kernel inherits them.
    d = _quantized(emb).localCheckpoint(eager=False)
    cents = [list(r["qv"]) for r in d.orderBy("vec_id").limit(k).collect()]
    if not cents:
        return cents
    dim = len(cents[0])
    for _ in range(rounds):
        # one Arrow-batched pass: assign + per-cluster integer partial
        # sums INSIDE the kernel, emitting k bounded rows per batch —
        # the collect is (k x partitions) rows, never corpus-sized.
        # (The old posexplode -> groupBy(cluster, pos) round shipped a
        # dim-times-corpus exploded frame into a shuffle every round.)
        C = np.asarray(cents, dtype=np.int64)
        kk = C.shape[0]

        def fn(batches, _C=C, _k=kk, _dim=dim):
            S = np.zeros((_k, _dim), np.int64)
            N = np.zeros(_k, np.int64)
            seen = False
            for b in batches:
                _ids, Q, dist = _np_dists(b, _C)
                if dist.shape[0] == 0:
                    continue
                seen = True
                cl = dist.argmin(axis=1)
                np.add.at(S, cl, Q)
                N += np.bincount(cl, minlength=_k)
            if seen:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.arange(_k, dtype=np.int32)),
                        pa.array(N),
                        pa.array(S.tolist(), pa.list_(pa.int64())),
                    ],
                    names=["cluster", "n", "s"],
                )

        rows = (
            d.select("vec_id", "qv")
            .mapInArrow(fn, "cluster int, n long, s array<long>")
            .collect()
        )
        S = np.zeros((kk, dim), np.int64)
        N = np.zeros(kk, np.int64)
        for r in rows:
            S[r["cluster"]] += np.asarray(r["s"], np.int64)
            N[r["cluster"]] += r["n"]
        # clusters that lose all members keep their previous centroid;
        # Python // is floor division, matching the oracle's pmod
        # identity for negative sums
        cents = [
            [int(S[j, p]) // int(N[j]) for p in range(dim)] if N[j] else cents[j]
            for j in range(kk)
        ]
    return cents


# Trained centroids are bounded driver state shared by
# embedding_kmeans_quantized and the elbow's same-k leg — memoized per
# (session, sf_dir, k, rounds), the _PCA_STATE_CACHE discipline.
_CENTS_CACHE: dict = {}


def _cents_for(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, rounds: int = LLOYD_ROUNDS
) -> list[list[int]]:
    ck = (spark.sparkContext.applicationId, str(sf_dir), int(k), int(rounds))
    cents = _CENTS_CACHE.get(ck)
    if cents is None:
        cents = kmeans_train(load_table(spark, sf_dir, "embeddings"), k, rounds)
        _CENTS_CACHE[ck] = cents
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = K_CLUSTERS,
    rounds: int = LLOYD_ROUNDS,
    cents: list[list[int]] | None = None,
) -> DataFrame:
    """(vec_id, cluster, dist): the final assignment under the trained
    quantized centroids — the oracle-checkable surface of the trainer
    (every round of the trajectory feeds the emitted distances, so a
    hash match proves the whole Lloyd replay)."""
    if cents is None:
        cents = kmeans_train(emb, k, rounds)
    d = _quantized(emb)
    if not cents:
        return d.select(
            "vec_id",
            F.lit(-1).alias("cluster"),
            F.lit(None).cast("long").alias("dist"),
        )
    return _assign(d, cents).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"), "dist"
    )


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), cents=_cents_for(spark, sf_dir)
    )


def prototypicality(emb: DataFrame, top: int = PROTO_TOP) -> DataFrame:
    """(label, vec_id, dist, which, rank): per-label cluster, the
    ``top`` FARTHEST members ('outlier' — prune for quality) and the
    ``top`` NEAREST ('core' — redundant mass, prune for diversity),
    by exact integer L2 to the label's quantized mean centroid.

    100 TB shape: centroid sums are one map-side-combined label x dim
    aggregate; distances are a map-only join against the (labels x d)
    centroid frame (broadcast — label cardinality is codebook-sized);
    the per-label top ranks ride a window over label partitions, never
    a global sort."""
    d = _quantized(emb)
    cent = (
        d.select("label", F.posexplode("qv").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "pos",
            # portable exact floor division: pmod makes the numerator
            # divisible, integer DIV keeps it off the double path
            F.expr("(s - pmod(s, n)) DIV n").alias("c"),
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.transform("pc", lambda p: p["c"]).alias("cv"))
    )
    j = d.join(F.broadcast(cent), "label")
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = j.select("label", "vec_id", dist.alias("dist"))
    # BOTH ranks in one pass (r11, guide §2.4): the union-of-two-window
    # shape re-expanded the whole distance subtree per leg (8 parquet
    # scans in the plan); both windows partition by label, so computing
    # rk_far and rk_near side by side shares ONE exchange and ONE
    # scored subtree, then an explode emits the two labeled rows.
    # Identical (label, vec_id, dist, which, rank) multiset.
    # Forfeited: WindowGroupLimit rank pruning (ADVICE r11 #3).  With
    # the rank<=top filter behind the explode, neither sort can be
    # top-k-pruned — each label partition is fully ranked twice.  A
    # per-leg filter cannot be pushed either: a row may be core-top-k
    # but not outlier-top-k, so the legs' predicates differ and the
    # shared pass must rank everything.  Deliberate trade: the r11
    # union shape's duplicated distance subtree re-scanned the corpus
    # per leg (8 scans), which at 100 TB costs two full passes of
    # scan+quantize+fold vs. this shape's one pass + two in-memory
    # sorts of (label, vec_id, dist) triples — sorting a partition of
    # narrow triples is cheaper than re-deriving it from vector bytes.
    # Measured (r11 driver): the fused shape took the key off the
    # 40-slowest board (0.493 s prev record, below display cutoff
    # since).  Revisit only if a label's membership outgrows a
    # partition sort (same escape hatch as ngram_lm_score: split hot
    # labels by hash range first).
    w_far = Window.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    w_near = Window.partitionBy("label").orderBy(F.asc("dist"), F.asc("vec_id"))
    ranked = scored.select(
        "label",
        "vec_id",
        "dist",
        F.row_number().over(w_far).alias("rk_far"),
        F.row_number().over(w_near).alias("rk_near"),
    )
    both = ranked.select(
        "label",
        "vec_id",
        "dist",
        F.explode(
            F.array(
                F.struct(
                    F.lit("outlier").alias("which"), F.col("rk_far").alias("rank")
                ),
                F.struct(F.lit("core").alias("which"), F.col("rk_near").alias("rank")),
            )
        ).alias("r"),
    )
    return (
        both.where(F.col("r.rank") <= top)
        .select(
            "label",
            "vec_id",
            "dist",
            F.col("r.which").alias("which"),
            F.col("r.rank").cast("long").alias("rank"),
        )
    )


def _q_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prototypicality(load_table(spark, sf_dir, "embeddings"))


K_CENTER = 8


def _min_dist_to(chosen: list[list[int]]):
    """Column: exact integer L2 distance to the NEAREST of the inlined
    chosen points (map-only, the inlined-literal fold idiom the r9
    numpy `_assign` kernel replaced for the trainer — kept here
    because the chosen set grows by one per greedy step, so each step
    IS a fresh small plan and a kernel would re-ship per step)."""
    lit = F.array(*[F.array(*[F.lit(int(x)) for x in c]) for c in chosen])
    dists = F.transform(
        lit,
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return F.array_min(dists)


def kcenter_seeds(emb: DataFrame, k: int = K_CENTER) -> DataFrame:
    """(sel_order, vec_id, dist): greedy k-center / farthest-point
    traversal — the classic 2-approximation coreset selector (Gonzalez
    1985; the diversity-sampling half of data pruning, complementing
    ``prototypicality``'s redundancy ranks).  Seed = lowest vec_id
    (dist 0 by definition); each further pick maximizes the exact
    integer L2 distance to the already-chosen set, ties to the lowest
    vec_id.

    100 TB shape: per pick, ONE corpus scan — a map-only min-fold
    against the <= k inlined chosen points and a TakeOrdered(1)
    (per-partition partial top-1, never a global sort); the chosen set
    is bounded driver state (k x d ints), exactly the kmeans_train
    economics.  k corpus scans total — the greedy algorithm's inherent
    cost (each pick depends on the last)."""
    d = _quantized(emb).localCheckpoint(eager=False)
    first = d.orderBy("vec_id").limit(1).collect()
    if not first:
        return emb.sparkSession.createDataFrame(
            [], "sel_order long, vec_id long, dist long"
        )
    chosen_ids = [first[0]["vec_id"]]
    chosen_qv = [list(first[0]["qv"])]
    out = [(0, chosen_ids[0], 0)]
    for r in range(1, k):
        cand = (
            d.where(~F.col("vec_id").isin(chosen_ids))
            .select("vec_id", "qv", _min_dist_to(chosen_qv).alias("dist"))
            .orderBy(F.desc("dist"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not cand:
            break
        row = cand[0]
        chosen_ids.append(row["vec_id"])
        chosen_qv.append(list(row["qv"]))
        out.append((r, row["vec_id"], row["dist"]))
    return emb.sparkSession.createDataFrame(
        out, "sel_order long, vec_id long, dist long"
    )


def _q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcenter_seeds(load_table(spark, sf_dir, "embeddings"))


def silhouette(emb: DataFrame) -> DataFrame:
    """(vec_id, label, a_mean, b_mean, nearest_other, silhouette): the
    squared-distance silhouette per vector over the label clustering —
    the standard cluster-quality eval (Rousseeuw 1987; the squared-L2
    variant is what distributed implementations ship, because of the
    identity below).

    NOT a pairwise scan: the sum of squared distances from x to every
    member of cluster C collapses algebraically —

        sum_c ||x - c||^2  =  n_C * ||x||^2  -  2 * <x, S_C>  +  Q_C

    with S_C = coordinate sums and Q_C = sum of member squared norms.
    Over floor-quantized int64 coordinates every term is EXACT integer
    arithmetic, so a(i) and b(i) are single exact-integer divisions
    and the whole eval is one cluster-stats aggregate (k x (d+2)
    bounded rows, broadcast back) + one map-only corpus pass — O(n*k)
    where the naive silhouette is O(n^2).

    a_mean = mean squared distance to OWN cluster co-members (the
    self-distance 0 is excluded via the n-1 denominator; singleton
    clusters get NULL a and silhouette 0 by the standard convention);
    b_mean = the smallest mean squared distance to another cluster
    (ties to the lowest label); silhouette = (b - a) / max(a, b) — a
    fixed three-op IEEE tail on exactly-determined doubles, so the
    driver hash still matches."""
    d = _quantized(emb)
    x2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pts = d.select("vec_id", "label", "qv", x2.alias("x2"))
    stats = (
        pts.select("label", F.col("x2").alias("q"), F.posexplode("qv").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum("x").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("qsum_rep"),  # q replicated per dim; undo below
        )
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"),
            F.max("n").alias("n"),
            # qsum_rep is identical for every pos of the label
            F.max("qsum_rep").alias("qsum"),
        )
        .select(
            "label",
            F.transform("ps", lambda p: p["s"]).alias("sv"),
            "n",
            "qsum",
        )
    )
    j = pts.crossJoin(F.broadcast(stats.select(
        F.col("label").alias("c_label"), "sv", "n", "qsum"
    )))
    dot_xs = F.aggregate(
        F.zip_with(F.col("qv"), F.col("sv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    num = F.col("n") * F.col("x2") - F.lit(2) * dot_xs + F.col("qsum")
    own = F.col("c_label") == F.col("label")
    # own cluster: n-1 co-members (self distance is 0); others: n
    terms = j.select(
        "vec_id",
        "label",
        "c_label",
        F.when(own & (F.col("n") > 1), num / (F.col("n") - 1))
        .when(~own, num / F.col("n"))
        .alias("mean_sq"),
    )
    # ONE per-vector aggregate folds the own-cluster row (a_mean) and
    # the min over other clusters (b side) — the r10 a_side/b_side
    # split re-expanded the whole corpus x stats subtree per leg and
    # re-joined on vec_id (8 parquet scans in the plan; now the
    # distance pass runs once).  min over a struct orders by
    # (mean_sq, c_label) — same pick as a (mean_sq ASC, c_label ASC)
    # row_number, but with a map-side partial agg instead of a
    # per-vec_id window sort.  Each vector has exactly one own-cluster
    # row, so max(when(own, ..)) IS that row's mean_sq (NULL for
    # singletons, as before); `bm` is NULL only when no other cluster
    # exists — the old INNER join dropped those vec_ids, replicated by
    # the isNotNull filter.
    out = (
        terms.groupBy("vec_id", "label")
        .agg(
            F.max(
                F.when(F.col("c_label") == F.col("label"), F.col("mean_sq"))
            ).alias("a_mean"),
            F.min(
                F.when(
                    F.col("c_label") != F.col("label"),
                    F.struct(F.col("mean_sq").alias("m"), F.col("c_label").alias("c")),
                )
            ).alias("bm"),
        )
        .where(F.col("bm").isNotNull())
        .select(
            "vec_id",
            "label",
            "a_mean",
            F.col("bm.m").alias("b_mean"),
            F.col("bm.c").alias("nearest_other"),
        )
    )
    s = F.when(
        F.col("a_mean").isNull(), F.lit(0.0)
    ).otherwise(
        (F.col("b_mean") - F.col("a_mean"))
        / F.greatest(F.col("a_mean"), F.col("b_mean"))
    )
    return out.select(
        "vec_id",
        "label",
        "a_mean",
        "b_mean",
        F.col("nearest_other").cast("long").alias("nearest_other"),
        s.alias("silhouette"),
    )


def _q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    return silhouette(load_table(spark, sf_dir, "embeddings"))


ELBOW_KS = (2, 4, 8)


def kmeans_elbow(
    emb: DataFrame,
    ks: tuple[int, ...] = ELBOW_KS,
    rounds: int = LLOYD_ROUNDS,
    pretrained: dict | None = None,
) -> DataFrame:
    """(k, inertia, max_dist): the elbow curve — total and worst
    within-cluster squared distance after ``rounds`` exact Lloyd
    updates at each candidate k.  Inertia is an exact int64 sum (the
    trainer's trajectory is integer throughout), so the curve is
    engine-reproducible — the "choose k" artifact usually eyeballed
    from nondeterministic float runs becomes a hashable table.

    100 TB shape: |ks| independent trainings, each the kmeans_train
    economics (one scan + centroid-sized exchange per round); the
    per-k inertia is a single-row agg on the final assignment."""
    d = _quantized(emb).localCheckpoint(eager=False)
    spark = emb.sparkSession
    out = []
    for k in ks:
        cents = (pretrained or {}).get(k) or kmeans_train(emb, k, rounds)
        if not cents:
            continue
        row = (
            _assign(d, cents)
            .agg(
                F.sum("dist").alias("inertia"),
                F.max("dist").alias("max_dist"),
            )
            .collect()[0]
        )
        out.append((k, row["inertia"], row["max_dist"]))
    return spark.createDataFrame(out, "k long, inertia long, max_dist long")


def _q_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the k=K_CLUSTERS leg shares embedding_kmeans_quantized's training
    return kmeans_elbow(
        load_table(spark, sf_dir, "embeddings"),
        pretrained={K_CLUSTERS: _cents_for(spark, sf_dir)},
    )


QUERIES = {
    "embedding_kmeans_quantized": _q_kmeans,
    "embedding_prototypicality": _q_prototypicality,
    "embedding_kcenter_seeds": _q_kcenter,
    "embedding_silhouette": _q_silhouette,
    "embedding_kmeans_elbow": _q_elbow,
}


def _kcenter_oracle(k: int = K_CENTER) -> str:
    """CTE replay of the greedy traversal: per pick, min-dist-to-set
    via a sel-sized join + group, argmax by (dist DESC, vec_id ASC)."""
    head = f"""
WITH d AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {Q_SCALE})::BIGINT) AS qv
  FROM embeddings
),
sel0 AS MATERIALIZED (
  SELECT 0::BIGINT AS sel_order, vec_id, qv, 0::BIGINT AS dist
  FROM d ORDER BY vec_id LIMIT 1
)"""
    steps = []
    prev = "sel0"
    for r in range(1, k):
        steps.append(f""",
pick{r} AS MATERIALIZED (
  SELECT {r}::BIGINT AS sel_order, vec_id, qv, dist FROM (
    SELECT d.vec_id, d.qv,
           min(list_sum(list_transform(list_zip(d.qv, s.qv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))))::BIGINT AS dist
    FROM d CROSS JOIN {prev} s
    WHERE d.vec_id NOT IN (SELECT vec_id FROM {prev})
    GROUP BY d.vec_id, d.qv
  ) ORDER BY dist DESC, vec_id ASC LIMIT 1
),
sel{r} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r}
)""")
        prev = f"sel{r}"
    tail = f"""
SELECT sel_order, vec_id, dist FROM {prev}
"""
    return head + "".join(steps) + tail


def _kmeans_cents_oracle(k: int = K_CLUSTERS, rounds: int = LLOYD_ROUNDS) -> str:
    """The trained quantized centroids as (j, qv) — the trajectory
    replay of `_kmeans_oracle` with the final-assignment tail swapped
    for a centroid projection.  Lets downstream oracles (the trained
    IVF arm in similarity.py) consume the exact trained codebook."""
    head, steps, prev = _kmeans_oracle_parts(k, rounds)
    return head + "".join(steps) + f"\nSELECT j, qv FROM {prev}\n"


def _kmeans_oracle(k: int = K_CLUSTERS, rounds: int = LLOYD_ROUNDS) -> str:
    """CTE replay of the exact Lloyd trajectory (the pagerank-oracle
    generator style, graph.py): assignment = (dist, j) row_number,
    update = per-(j, dim) integer sums with portable floor division,
    empty clusters keep the previous centroid via coalesce."""
    head, steps, prev = _kmeans_oracle_parts(k, rounds)
    tail = f"""
SELECT vec_id, j::BIGINT AS cluster, dist FROM (
  SELECT d.vec_id, c.j,
         list_sum(list_transform(list_zip(d.qv, c.qv),
                  p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist,
         row_number() OVER (PARTITION BY d.vec_id
                            ORDER BY list_sum(list_transform(list_zip(d.qv, c.qv),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), c.j) AS rn
  FROM d CROSS JOIN {prev} c
) WHERE rn = 1
"""
    return head + "".join(steps) + tail


def _kmeans_oracle_parts(k: int, rounds: int) -> tuple[str, list[str], str]:
    q = Q_SCALE
    head = f"""
WITH d AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {q})::BIGINT) AS qv
  FROM embeddings
),
cent0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, qv
  FROM d ORDER BY vec_id LIMIT {k}
)"""
    steps = []
    prev = "cent0"
    for r in range(1, rounds + 1):
        steps.append(f""",
asg{r} AS MATERIALIZED (
  SELECT vec_id, qv, j, dist FROM (
    SELECT d.vec_id, d.qv, c.j,
           list_sum(list_transform(list_zip(d.qv, c.qv),
                    p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY list_sum(list_transform(list_zip(d.qv, c.qv),
                                       p -> (p[1] - p[2]) * (p[1] - p[2]))), c.j) AS rn
    FROM d CROSS JOIN {prev} c
  ) WHERE rn = 1
),
upd{r} AS (
  SELECT j, ord, sum(val)::BIGINT AS s, count(*)::BIGINT AS n
  FROM (SELECT j, unnest(qv) AS val, generate_subscripts(qv, 1) AS ord
        FROM asg{r})
  GROUP BY 1, 2
),
newc{r} AS (
  SELECT j, list((s - ((s % n) + n) % n) // n ORDER BY ord) AS qv
  FROM upd{r} GROUP BY j
),
cent{r} AS MATERIALIZED (
  SELECT c.j, coalesce(nc.qv, c.qv) AS qv
  FROM {prev} c LEFT JOIN newc{r} nc USING (j)
)""")
        prev = f"cent{r}"
    return head, steps, prev


def _elbow_oracle(ks: tuple[int, ...] = ELBOW_KS) -> str:
    """UNION ALL of the per-k Lloyd replays, each folded to one row."""
    arms = [
        f"""SELECT {k}::BIGINT AS k, sum(dist)::BIGINT AS inertia,
       max(dist)::BIGINT AS max_dist FROM ({_kmeans_oracle(k)})"""
        for k in ks
    ]
    return "\nUNION ALL\n".join(arms)


ORACLES = {
    "embedding_kmeans_quantized": _kmeans_oracle(),
    "embedding_kmeans_elbow": _elbow_oracle(),
    "embedding_kcenter_seeds": _kcenter_oracle(),
    "embedding_silhouette": f"""
WITH d AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {Q_SCALE})::BIGINT) AS qv
  FROM embeddings
),
pts AS (
  SELECT vec_id, label, qv,
         list_sum(list_transform(list_zip(qv, qv),
                  p -> p[1] * p[2]))::BIGINT AS x2
  FROM d
),
st0 AS (
  SELECT label, ord, sum(val)::BIGINT AS s, count(*)::BIGINT AS n
  FROM (SELECT label, unnest(qv) AS val, generate_subscripts(qv, 1) AS ord
        FROM d)
  GROUP BY 1, 2
),
sv AS (
  SELECT label, list(s ORDER BY ord) AS sv, max(n) AS n
  FROM st0 GROUP BY label
),
qs AS (SELECT label, sum(x2)::BIGINT AS qsum FROM pts GROUP BY label),
stats AS (SELECT sv.label, sv.sv, sv.n, qs.qsum FROM sv JOIN qs USING (label)),
terms AS (
  SELECT p.vec_id, p.label, s.label AS c_label, s.n,
         s.n * p.x2
           - 2 * list_sum(list_transform(list_zip(p.qv, s.sv),
                          z -> z[1] * z[2]))::BIGINT
           + s.qsum AS num
  FROM pts p CROSS JOIN stats s
),
a_side AS (
  SELECT vec_id, label,
         CASE WHEN n > 1 THEN num / (n - 1) END AS a_mean
  FROM terms WHERE c_label = label
),
b_all AS (
  SELECT vec_id, c_label, num / n AS mean_sq
  FROM terms WHERE c_label <> label
),
b_side AS (
  SELECT vec_id, c_label AS nearest_other, mean_sq AS b_mean FROM (
    SELECT vec_id, c_label, mean_sq,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY mean_sq ASC, c_label ASC) AS rn
    FROM b_all
  ) WHERE rn = 1
)
SELECT a.vec_id, a.label, a.a_mean, b.b_mean,
       b.nearest_other::BIGINT AS nearest_other,
       CASE WHEN a.a_mean IS NULL THEN 0.0
            ELSE (b.b_mean - a.a_mean) / greatest(a.a_mean, b.b_mean)
       END AS silhouette
FROM a_side a JOIN b_side b USING (vec_id)
""",
    "embedding_prototypicality": f"""
WITH d AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {Q_SCALE})::BIGINT) AS qv
  FROM embeddings
),
cs AS (
  SELECT label, ord, sum(val)::BIGINT AS s, count(*)::BIGINT AS n
  FROM (SELECT label, unnest(qv) AS val, generate_subscripts(qv, 1) AS ord
        FROM d)
  GROUP BY 1, 2
),
cent AS (
  SELECT label, list((s - ((s % n) + n) % n) // n ORDER BY ord) AS cv
  FROM cs GROUP BY label
),
scored AS (
  SELECT d.label, d.vec_id,
         list_sum(list_transform(list_zip(d.qv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist
  FROM d JOIN cent c USING (label)
),
ranked AS (
  SELECT label, vec_id, dist, 'outlier' AS which,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist DESC, vec_id ASC) AS rank
  FROM scored
  UNION ALL
  SELECT label, vec_id, dist, 'core' AS which,
         row_number() OVER (PARTITION BY label
                            ORDER BY dist ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT label, vec_id, dist, which, rank::BIGINT AS rank
FROM ranked WHERE rank <= {PROTO_TOP}
""",
}
