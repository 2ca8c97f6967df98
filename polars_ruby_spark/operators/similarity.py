"""Embedding similarity search (beyond-reference; BASELINE.json north star).

Brute-force cosine top-k as the exact baseline (broadcast the query set,
JVM-side ``zip_with``/``aggregate`` dot products — no Python UDF), plus an
LSH-bucketed approximate variant as the 100 TB scale path.

Scale analysis: brute force is O(|Q|·|C|·d) with the corpus scanned once and
queries broadcast — the right plan when |Q| is small.  For corpus-×-corpus
(all-pairs) use the LSH variant: random-hyperplane signatures bucket the
corpus so candidate pairs shuffle once on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import IntegerType, IntegralType, StructField, StructType

from .dedup import _union_find_roots


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _unit_rows(vectors):
    """``vectors`` stacked into a float64 matrix of unit rows; a zero row
    stays zero, so any non-zero vector's cosine is exact however small."""
    import numpy as np

    m = np.stack([np.asarray(v, dtype=np.float64) for v in vectors])
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_self: bool = True) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, rank, neighbor_id, cosine).  The (small) query set is
    collected and broadcast as one numpy matrix; each corpus Arrow batch is
    scored with a single float64 matmul and reduced to its local top-k, so
    the corpus is scanned ONCE with no pair-explosion join — the only
    shuffled rows are ≤ k·|Q| candidates per partition for the final global
    top-k.  Vectorized batch scoring replaces per-element interpreted
    higher-order functions (~50× on the hot path).
    """
    import numpy as np

    from . import ensure_parallelism

    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = _unit_rows(r[1] for r in qrows)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, qm))
    kk, excl = int(k), bool(exclude_self)

    def score(batches):
        import pandas as pd

        b_qids, b_qm = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            cos = _unit_rows(pdf[vec_col]) @ b_qm.T  # (batch, |Q|)
            out_q, out_n, out_c = [], [], []
            for j in range(len(b_qids)):
                col = cos[:, j]
                cand_ids, cand = ids, col
                if excl:
                    keep = cand_ids != b_qids[j]
                    cand_ids, cand = cand_ids[keep], col[keep]
                # global tie-break is (cosine desc, neighbor_id asc): the
                # per-batch prefix under the same total order is exact
                order = np.lexsort((cand_ids, -cand))[:kk]
                out_q.append(np.full(len(order), b_qids[j], dtype=np.int64))
                out_n.append(cand_ids[order])
                out_c.append(cand[order])
            yield pd.DataFrame({"query_id": np.concatenate(out_q),
                                "neighbor_id": np.concatenate(out_n).astype("int64"),
                                "cosine": np.concatenate(out_c)})

    cand = ensure_parallelism(corpus).mapInPandas(
        score, "query_id long, neighbor_id long, cosine double")
    return _topk(cand, k)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")))


def cosine_neardup_pairs(sdf: DataFrame, threshold: float,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         n_blocks: int = 8) -> DataFrame:
    """EXACT all-pairs cosine near-duplicates (cosine ≥ threshold).

    Triangle block partitioning: each row hashes to one of ``n_blocks``
    blocks and replicates to every block-pair containing its block (O(n·B)
    replication, B(B+1)/2 independent tasks) — the classic exact all-pairs
    layout, so no task ever sees more than ~2n/B rows and no single task is
    O(n²).  Each task compares its two blocks with one float64 BLAS matmul
    (Arrow → numpy, vectorized — not per-pair Python).  Raise ``n_blocks``
    ∝ √cluster-cores at scale; for 100 TB corpora prefer the approximate
    ``lsh_cosine_topk`` and use this on LSH-candidate subsets.
    """
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    bps = F.array(*[F.struct(F.least(blk, F.lit(o)).alias("bi"),
                             F.greatest(blk, F.lit(o)).alias("bj"))
                    for o in range(n_blocks)])
    tagged = (sdf.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                         blk.alias("blk"), F.explode(bps).alias("bp"))
              .select("id", "vec", "blk", "bp.bi", "bp.bj"))
    tau = float(threshold)

    def compare(pdf):
        import numpy as np
        import pandas as pd

        bi, bj = int(pdf["bi"].iat[0]), int(pdf["bj"].iat[0])

        if bi == bj:
            ids, m = pdf["id"].to_numpy(), _unit_rows(pdf["vec"])
            cos = m @ m.T
            iu, ju = np.nonzero(np.triu(cos >= tau, k=1))
            a, b, c = ids[iu], ids[ju], cos[iu, ju]
        else:
            left, right = pdf[pdf["blk"] == bi], pdf[pdf["blk"] == bj]
            if left.empty or right.empty:
                return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            cos = _unit_rows(left["vec"]) @ _unit_rows(right["vec"]).T
            li, ri = np.nonzero(cos >= tau)
            a = left["id"].to_numpy()[li]
            b = right["id"].to_numpy()[ri]
            c = cos[li, ri]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo.astype("int64"), "id_b": hi.astype("int64"),
                             "cosine": np.round(c, 6)})

    return tagged.groupBy("bi", "bj").applyInPandas(
        compare, "id_a long, id_b long, cosine double")


def _kmeans_centroids(sample, n_centroids: int, seed: int = 42, iters: int = 8):
    """Tiny driver-side k-means on a BOUNDED sample (unit sphere) — the
    coarse quantizer for IVF.  Deterministic: seeded numpy RNG."""
    import numpy as np

    rng = np.random.RandomState(seed)
    m = _unit_rows(sample)
    cent = m[rng.choice(len(m), size=min(n_centroids, len(m)), replace=False)]
    for _ in range(iters):
        assign = (m @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ivf_assign(sdf: DataFrame, centroids, vec_col: str = "embedding") -> DataFrame:
    """Add `centroid_id` = nearest coarse centroid (cosine).  One Arrow pass,
    no shuffle; downstream join/partition on centroid_id prunes the corpus.
    The other columns pass through as Arrow: pandas would turn a long column
    holding a null into float64 and round values above 2^53."""
    import numpy as np

    sc = sdf.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))

    def assign(batches):
        import pyarrow as pa

        cent = bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            cos = (_unit_rows(batch.column(vec_col).to_numpy(zero_copy_only=False))
                   @ cent.T)
            yield batch.append_column(
                "centroid_id", pa.array(cos.argmax(axis=1), type=pa.int32()))

    return sdf.mapInArrow(assign, StructType(
        sdf.schema.fields + [StructField("centroid_id", IntegerType())]))


def ivf_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_centroids: int = 16, n_probe: int = 4,
                    sample_size: int = 10_000, seed: int = 42) -> DataFrame:
    """IVF approximate top-k (the second scale path next to sign-LSH):
    k-means coarse quantizer on a bounded sample → corpus assigned to
    centroids (one Arrow pass) → each query probes its `n_probe` nearest
    centroids → candidates equi-join on centroid_id (ONE shuffle, corpus/
    centroids × n_probe candidate rows) → vectorized scoring → window top-k.
    n_probe == n_centroids degenerates to exact brute force (tested).
    """
    import numpy as np

    from . import ensure_parallelism

    sample = [r[0] for r in corpus.select(vec_col).limit(sample_size).collect()]
    cent = _kmeans_centroids(sample, n_centroids, seed)

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qm = _unit_rows(r[1] for r in qrows)
    probe = np.argsort(-(qm @ cent.T), axis=1)[:, :n_probe]

    spark = corpus.sparkSession
    probe_rows = [(int(q), int(c)) for qi, q in enumerate(qids)
                  for c in probe[qi]]
    probes_df = spark.createDataFrame(probe_rows, "query_id long, centroid_id int")

    assigned = ivf_assign(ensure_parallelism(corpus), cent, vec_col)
    cand = assigned.join(F.broadcast(probes_df), "centroid_id").filter(
        F.col(id_col) != F.col("query_id"))

    bq = spark.sparkContext.broadcast((qids, qm))

    def score(batches):
        import pandas as pd

        b_qids, b_qm = bq.value
        pos = {int(q): i for i, q in enumerate(b_qids)}
        for pdf in batches:
            if pdf.empty:
                continue
            qi = pdf["query_id"].map(pos).to_numpy()
            cos = (_unit_rows(pdf[vec_col]) * b_qm[qi]).sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"].to_numpy(),
                                "neighbor_id": pdf[id_col].to_numpy(),
                                "cosine": cos})

    scored = cand.mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    return _topk(scored, k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy RNG state so
    the plan is reproducible across driver runs)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # ~U(-1,1)
        planes.append(row)
    return planes


def lsh_bucket(sdf: DataFrame, vec_col: str = "embedding", dim: int = 64,
               n_planes: int = 8, seed: int = 42) -> DataFrame:
    """Add a sign-LSH bucket id: bit b = sign(v · plane_b).  Vectors in the
    same bucket are cosine-close with high probability; bucket count = 2^n."""
    planes = random_hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(F.col(vec_col), arr) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        bucket = bucket + bit
    return sdf.withColumn("lsh_bucket", bucket)


def lsh_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = 64, n_planes: int = 6, seed: int = 42) -> DataFrame:
    """Approximate top-k: compare only within matching LSH buckets —
    the scale path (bucket-equi-join instead of cross join)."""
    from . import ensure_parallelism

    qb = lsh_bucket(queries, vec_col, dim, n_planes, seed).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__"),
        _norm(F.col(vec_col)).alias("__qn__"), "lsh_bucket")
    cb = lsh_bucket(ensure_parallelism(corpus), vec_col, dim, n_planes, seed).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__"),
        _norm(F.col(vec_col)).alias("__cn__"), "lsh_bucket")
    pairs = cb.join(F.broadcast(qb), "lsh_bucket").filter(
        F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("__qv__"), F.col("__cv__")) / (F.col("__qn__") * F.col("__cn__"))
    scored = pairs.select("query_id", "neighbor_id", cos.alias("cosine"))
    return _topk(scored, k)


def quantize_int8(sdf: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization (max-abs / 127 scale) with
    reconstruction diagnostics — the storage/bandwidth scale path for ANN:
    int8 vectors are 4× smaller than float32, and IVF/brute-force scoring on
    them (dequantize-on-read, or integer dot + scale product) cuts shuffle
    and scan bytes by the same factor at 100 TB.

    Returns (id, qscale, q_l2, recon_mae): the quantization scale, the
    integer squared-norm of the quantized vector, and the mean absolute
    reconstruction error.  One flat projection over the scan — per-vector
    state only, no shuffle, no UDF.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.when(maxabs == 0.0, F.lit(1.0)).otherwise(maxabs / F.lit(127.0))
    qd = lambda x: F.round(x / F.col("__scale"))  # noqa: E731
    return (sdf
            .withColumn("__v", v)
            .withColumn("__scale", scale)
            .select(F.col(id_col),
                    F.round(F.col("__scale"), 6).alias("qscale"),
                    F.aggregate(F.col("__v"), F.lit(0).cast("long"),
                                lambda acc, x: acc + (qd(x) * qd(x)).cast("long"))
                     .alias("q_l2"),
                    F.round(F.aggregate(
                        F.col("__v"), F.lit(0.0),
                        lambda acc, x: acc + F.abs(x - qd(x) * F.col("__scale")))
                        / F.size(F.col("__v")), 6).alias("recon_mae")))


def label_centroids(sdf: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label centroid of an embedding column → (label, n, centroid,
    mean_norm) — the corpus-diagnostics / semantic-clustering primitive
    (class prototypes, drift monitoring, SemDeDup-style cluster stats).

    Scale shape: posexplode to (label, dim, value) then ONE hash agg on
    (label, dim) — partial aggregation runs map-side so the shuffle carries
    |labels|×|dims| rows per task, not the data; the re-collect to an array
    groups |labels|×|dims| rows (tiny).  No driver collect, no UDF.
    """
    flat = sdf.select(F.col(label_col).alias("label"),
                      F.posexplode(F.col(vec_col)).alias("dim", "v"))
    per_dim = flat.groupBy("label", "dim").agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("n"))
    norms = sdf.select(
        F.col(label_col).alias("label"),
        F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                           lambda acc, x: acc + x.cast("double") * x)).alias("nrm"))
    mean_norm = norms.groupBy("label").agg(F.round(F.avg("nrm"), 4).alias("mean_norm"))
    cent = per_dim.groupBy("label").agg(
        F.min("n").alias("n"),
        F.transform(F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: F.round(s["m"], 4)).alias("centroid"))
    return cent.join(F.broadcast(mean_norm), "label").select(
        "label", "n", "centroid", "mean_norm")


def _auto_n_clusters(n_rows: int, target_cluster_rows: int = 2048,
                     floor: int = 1) -> int:
    """SemDeDup cluster-count default: ``ceil(n / target_cluster_rows)``,
    floored.  A FIXED cluster count is a measured scale hazard (sf1.0
    sweep: 69× wall on 10× data) because per-cluster BLAS pair cost grows
    as (n/C)²; holding cluster OCCUPANCY constant instead keeps per-task
    cost flat (≤ target² cosine entries ≈ 32 MB float64 at 2048) and total
    cost linear in n."""
    import math

    return max(int(floor), math.ceil(max(int(n_rows), 1) / float(target_cluster_rows)))


def semantic_dedup(sdf: DataFrame, threshold: float = 0.92,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_clusters: int | None = None, sample_size: int = 20_000,
                   seed: int = 42, target_cluster_rows: int = 2048) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 pattern):
    k-means coarse clusters → EXACT within-cluster cosine near-dups →
    components → canonical survivor = component-min id.  Returns
    ``(id, cluster_id, canonical_id, is_duplicate)`` for every row
    (``canonical_id`` is ``long`` for an integral id); a null-id row is
    compared with nothing and its ``canonical_id``/``is_duplicate`` are null.

    Scale shape: the O(n²) comparison is confined to each cluster — one
    grouped Arrow task per centroid_id with a single float64 BLAS matmul
    over ~n/C rows (the SemDeDup trade: cross-cluster near-dups are missed
    by design; use ``n_clusters=1`` or ``cosine_neardup_pairs`` for full
    recall).  ``n_clusters=None`` (the default) AUTO-SCALES the cluster
    count with corpus size — ``ceil(n / target_cluster_rows)`` from one
    cheap count — so 10× data means 10× clusters at constant per-task
    cost, not 100× per-cluster pairs; an explicit ``n_clusters`` is always
    honored.  Every pair, and so every component, lies inside one cluster:
    the same task labels components with a union-find, and no pair leaves
    it.  The count and the k-means sample are the only eager jobs.
    """
    import numpy as np

    # one cheap columnar count feeds BOTH the cluster autoscale and the
    # sample fraction below
    n_rows = sdf.count()
    if n_clusters is None:
        n_clusters = _auto_n_clusters(n_rows, target_cluster_rows)
    # seeded RANDOM sample for the k-means fit — limit() reads only the
    # first partitions, which biases centroids on sorted/partitioned
    # corpora (round-9, VERDICT r8 #8); oversample 25% so the Bernoulli
    # draw almost surely reaches sample_size, then cap exactly
    frac = (sample_size * 1.25) / max(n_rows, 1)
    samp = sdf.select(vec_col)
    if frac < 1.0:
        samp = samp.sample(fraction=frac, seed=seed)
    sample = [r[0] for r in samp.limit(sample_size).collect()]
    cent = _kmeans_centroids(sample, n_clusters, seed)
    assigned = ivf_assign(sdf.select(id_col, vec_col), cent, vec_col)
    id_type = assigned.schema[id_col].dataType
    schema = (StructType().add(id_col, id_type).add("cluster_id", IntegerType())
              .add("canonical_id", id_type))
    tau = float(threshold)

    def label(table):
        import pandas as pd
        import pyarrow as pa

        # Arrow in and out: pandas would turn a long id column holding a
        # null into float64 and round ids above 2^53
        ids = table.column(id_col)
        known = ids.is_valid().to_numpy()
        # the smallest code is the smallest id, so each root is its
        # component's minimum; a repeated id is one node
        codes, uniq = pd.factorize(ids.filter(known).to_pandas(), sort=True,
                                   use_na_sentinel=False)
        m = (_unit_rows(table.column(vec_col).filter(known).to_numpy())
             if len(codes) else np.zeros((0, 0)))
        a, b = np.nonzero(np.triu(m @ m.T >= tau, k=1))
        roots = np.array(_union_find_roots(len(uniq), codes[a].tolist(),
                                           codes[b].tolist()), dtype=np.int64)
        canon = np.empty(len(known), dtype=uniq.dtype)
        canon[known] = uniq.to_numpy()[roots[codes]]
        return pa.table({id_col: ids, "cluster_id": table.column("centroid_id"),
                         "canonical_id": pa.array(canon, mask=~known, type=ids.type)})

    canon_type = "long" if isinstance(id_type, IntegralType) else id_type
    return (assigned.groupBy("centroid_id").applyInArrow(label, schema)
            .withColumn("canonical_id", F.col("canonical_id").cast(canon_type))
            .withColumn("is_duplicate", F.col("canonical_id") != F.col(id_col)))
