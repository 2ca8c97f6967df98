"""Deduplication operators for large-scale training-data pipelines
(beyond-reference; BASELINE.json north star).

All hot paths are JVM-side Catalyst expressions (split/transform/aggregate/
hash) — no Python UDFs — so they scale with executor count.  Two hash
families, split by contract (round-11): **md5** where bit-level oracle
parity is required (exact_dedup fingerprints, minhash/simhash signatures,
hash-based sampling — DuckDB reproduces the digest bit-for-bit), and
**xxhash64** for internal shuffle/join keys (ngram_jaccard,
decontaminate_flags, ngram_dup_coverage, source_overlap,
dup_ngram_fraction, boilerplate_signals) where the oracle matches on final
aggregates and the accepted risk class is a 2^-64 per-pair collision
(verified collision-free on the oracle tiers).

Scale design (100 TB): minhash/simhash signatures are one narrow shuffle on
the band hash (classic LSH); exact dedup is a hash aggregate on a fingerprint
column, which AQE handles with skew splitting.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

_LOG = logging.getLogger(__name__)


def _tokens(col):
    return F.split(F.lower(col), " ")


from . import ensure_parallelism as _ensure_parallelism  # noqa: E402


def shingles_from_tokens(t, k: int = 3):
    """k-word shingles from an ALREADY-MATERIALIZED token array column
    (or lambda variable) — the caller guarantees ``t`` is cheap to
    re-reference, so no singleton binding is needed."""
    sh = F.transform(F.sequence(F.lit(0), F.size(t) - k), lambda i: F.concat_ws(
        " ", *[F.element_at(t, i + F.lit(j) + 1) for j in range(k)]))
    # guard: sequence(0, negative) throws — short docs get an empty set
    return F.when(F.size(t) >= k, sh).otherwise(F.array().cast("array<string>"))


def shingles(col, k: int = 3):
    """k-word shingles of a text column (JVM higher-order fns, no UDF)."""
    # transform-over-singleton binds the token array to a lambda variable so
    # split() runs ONCE per row — inlining it would re-split per element_at
    # (interpreted HOFs do no subexpression caching; ~25× slower here)
    return F.element_at(
        F.transform(F.array(_tokens(col)),
                    lambda t: shingles_from_tokens(t, k)), 1)


def exact_dedup(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest id.

    One hash-aggregate shuffle on the md5 fingerprint (16 bytes/row).
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))) if normalize \
        else F.col(text_col)
    fp = F.md5(norm)
    return (sdf.withColumn("__fp__", fp)
            .groupBy("__fp__")
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
            .drop("__fp__"))


def minhash_signatures(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_hashes: int = 9, bands: int = 3, shingle_k: int = 3) -> DataFrame:
    """(id, band_id, band_hash) — one row per (doc, band).

    Double hashing: each distinct shingle is md5'd ONCE; h1/h2 are two
    48-bit halves of that digest and minhash_j = min(h1 + j·h2) — the
    classic (a + j·b) LSH hash family, so num_hashes costs ONE digest per
    shingle plus j integer ops (was: j full digests — measured ~2× on the
    whole pipeline at 9 hashes).  48-bit values keep h1 + 8·h2 < 2^53,
    overflow-free in both engines.  Band key = '-'.joined minhash run (no
    digest needed — it's already a hash).  Docs with < k tokens produce no
    rows (no shingles → no bands; same pair set as a null band).

    Shape: explode distinct shingles to rows, hash in a flat projection
    (whole-stage codegen — md5 inside a `transform` lambda is interpreted
    per element and ~50× slower), then one partial-agg min shuffle on the
    doc id.  At 100 TB the explode is wide but map-side combine collapses
    it back to num_hashes cells per doc before the shuffle.
    """
    rows = num_hashes // bands
    sdf = _ensure_parallelism(sdf)
    sh = sdf.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias("__sh__"))
    digest = F.md5(F.col("__sh__"))
    h1 = F.conv(F.substring(digest, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 17, 12), 16, 10).cast("long")
    hashed = sh.select(
        F.col(id_col), h1.alias("__h1__"), h2.alias("__h2__")).select(
        F.col(id_col),
        *[(F.col("__h1__") + F.lit(j) * F.col("__h2__")).alias(f"__mh{j}__")
          for j in range(num_hashes)])
    sig = hashed.groupBy(id_col).agg(
        *[F.min(f"__mh{j}__").alias(f"__mh{j}__") for j in range(num_hashes)])
    band_structs = []
    for b in range(bands):
        parts = [F.col(f"__mh{b * rows + r}__") for r in range(rows)]
        band_structs.append(F.struct(F.lit(b).alias("band_id"),
                                     F.concat_ws("-", *parts).alias("band_hash")))
    out = sig.select(F.col(id_col),
                     F.explode(F.array(*band_structs)).alias("__band__"))
    return out.select(id_col, F.col("__band__.band_id").alias("band_id"),
                      F.col("__band__.band_hash").alias("band_hash"))


def _bucket_pairs(buckets: DataFrame, id_col: str, max_bucket_size: int | None) -> DataFrame:
    """(bucket_key..., ids array) → distinct (id_a < id_b) in-bucket pairs.

    Group-and-enumerate instead of a self-join: the signature pipeline above
    the bucket key is computed ONCE (a band self-join recomputes it per side —
    AQE's broadcast conversion defeats ReusedExchange).  Pair explosion is
    inherently O(|bucket|²); `max_bucket_size` drops degenerate buckets
    (huge buckets = exact dups — run `exact_dedup` first, which is linear).
    """
    ids = F.sort_array(F.array_distinct(F.col("__ids__")))
    sized = buckets.withColumn("__ids__", ids).filter(F.size("__ids__") > 1)
    if max_bucket_size is not None:
        # surface the drop count as a named observed metric (readable from a
        # QueryExecutionListener / the Spark UI SQL tab at action time — no
        # extra pass) so capped runs are auditable, and log the regime
        sized = sized.observe(
            "minhash_bucket_cap",
            F.sum(F.when(F.size("__ids__") > max_bucket_size, 1).otherwise(0))
            .alias("dropped_buckets"),
            F.count(F.lit(1)).alias("total_buckets"))
        _LOG.info("minhash bucket cap active: buckets larger than %d members "
                  "are dropped (run exact_dedup first — oversized buckets are "
                  "overwhelmingly exact-duplicate clusters)", max_bucket_size)
        sized = sized.filter(F.size("__ids__") <= max_bucket_size)
    pairs = sized.select(F.explode(F.flatten(F.transform(
        "__ids__",
        lambda x, i: F.transform(
            F.slice("__ids__", i + F.lit(2), F.size("__ids__") - i - 1),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))).alias("__p__"))
    return pairs.select(F.col("__p__.id_a").alias("id_a"),
                        F.col("__p__.id_b").alias("id_b")).distinct()


def minhash_dedup_pairs(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 9, bands: int = 3, shingle_k: int = 3,
                        max_bucket_size: int | None = 1000) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via LSH band bucketing.

    One shuffle on (band_id, band_hash); pairs enumerated inside each bucket
    (see `_bucket_pairs` for the scale rationale).  ``max_bucket_size``
    defaults to a finite cap (round-2): in-bucket enumeration is
    O(|bucket|²), and at 100 TB one boilerplate band bucket (empty docs,
    templates) would otherwise emit billions of pairs.  Oversized buckets
    are nearly always exact-duplicate clusters — run ``exact_dedup`` first
    (linear) and the cap then drops nothing real (property-tested).  Pass
    ``None`` to disable.
    """
    sig = minhash_signatures(sdf, text_col, id_col, num_hashes, bands, shingle_k)
    buckets = sig.groupBy("band_id", "band_hash").agg(
        F.collect_list(id_col).alias("__ids__"))
    return _bucket_pairs(buckets, id_col, max_bucket_size)


def ngram_jaccard(sdf_pairs: DataFrame, left_text: str, right_text: str,
                  n: int = 3) -> DataFrame:
    """Token n-gram Jaccard similarity for a pairs frame —
    |A∩B| / (|A|+|B|−|A∩B|) on distinct shingle-hash sets, all JVM-side.

    Three projection layers, deliberately (round-11; guide §1.2 per-task
    work): each layer references the previous one's expensive aliases more
    than once, so CollapseProject keeps them separate and the interpreted
    shingle HOFs (no CSE with codegen siblings) evaluate ONCE per row per
    side — the former single-expression form re-evaluated each side's
    split+shingles+distinct ~3× (union appears twice in the when(), plus
    the intersect), measured 14.2 s → ~6 s at sf1.0.

    Two further round-11 moves (interleaved A/B at sf1.0, min-of-8):
    the union ARRAY is never built — it was consumed only through its
    size, and on distinct sets |A∪B| = |A|+|B|−|A∩B| (6.00 → 4.56 s);
    and each shingle reduces to an 8-byte xxhash64 before the set ops,
    so distinct/intersect hash and compare longs instead of ~30-byte
    strings (→ 4.45 s min / 6.87 → 4.97 s median; a 2^-64 collision per
    shingle pair shifts one count — the class the whole n-gram family
    accepts, verified collision-free on the oracle tiers)."""
    def hset(c):
        return F.array_distinct(F.transform(shingles(F.col(c), n),
                                            lambda s: F.xxhash64(s)))

    sets = sdf_pairs.withColumns({
        "__sa__": hset(left_text),
        "__sb__": hset(right_text)})
    sized = sets.withColumns({
        "__in__": F.size(F.array_intersect(F.col("__sa__"), F.col("__sb__"))),
        "__na__": F.size(F.col("__sa__")),
        "__nb__": F.size(F.col("__sb__"))})
    un = F.col("__na__") + F.col("__nb__") - F.col("__in__")
    return (sized.withColumn(
        "jaccard",
        F.when(un > 0,
               F.round(F.col("__in__").cast("double") / un.cast("double"), 4))
        .otherwise(F.lit(0.0)))
        .drop("__sa__", "__sb__", "__in__", "__na__", "__nb__"))


def simhash(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64) -> DataFrame:
    """SimHash fingerprint: per-token 64-bit hash bit-votes, packed to a bit
    string.  Bits come from the first 16 hex chars of md5(token) — one hash
    per token (same cost as xxhash64) and bit-identical across engines, so
    the fingerprint itself is oracle-checkable (DuckDB:
    ``('0x' || substr(md5(tok),1,16))::UBIGINT``)."""
    sdf = _ensure_parallelism(sdf)
    t = _tokens(F.col(text_col))
    # per-token 64-char bit string, MSB first (single pass; shiftright
    # can't take a lambda variable as the bit index)
    hash_bits = F.transform(
        t, lambda x: F.lpad(F.conv(F.substring(F.md5(x), 1, 16), 16, 2), bits, "0"))
    zero = F.array_repeat(F.lit(0), bits)
    votes = F.aggregate(
        hash_bits, zero,
        lambda acc, hb: F.zip_with(
            acc,
            F.transform(F.split(hb, "(?!$)"),
                        lambda c: F.when(c == "1", F.lit(1)).otherwise(F.lit(-1))),
            lambda a, v: a + v))
    bitstr = F.concat_ws("", F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0")))
    return sdf.select(F.col(id_col), bitstr.alias("simhash_bits"))


def simhash_pairs(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  band_bytes: int = 16, max_bucket_size: int | None = 1000) -> DataFrame:
    """Near-dup candidates: docs sharing any simhash substring band
    (Hamming-LSH: 4 bands of 16 bits → finds pairs within ~3 bit flips).
    Same finite ``max_bucket_size`` default as ``minhash_dedup_pairs`` —
    in-bucket enumeration is O(|bucket|²)."""
    s = simhash(sdf, text_col, id_col)
    bands = [F.struct(F.lit(i).alias("band_id"),
                      F.substring("simhash_bits", i * band_bytes + 1, band_bytes)
                      .alias("band")) for i in range(64 // band_bytes)]
    exploded = s.select(id_col, F.explode(F.array(*bands)).alias("b")).select(
        id_col, "b.band_id", "b.band")
    buckets = exploded.groupBy("band_id", "band").agg(
        F.collect_list(id_col).alias("__ids__"))
    return _bucket_pairs(buckets, id_col, max_bucket_size)


# one-task limit on Catalyst's estimate: 2M edges of two longs (24 B a row) fit
_CC_ONE_TASK_BYTES = 64 << 20


def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         max_iterations: int = 50) -> DataFrame:
    """Connected components over an undirected edge list: ``(id,
    cluster_id)`` for every node in ``edges``, typed like ``src``, where
    ``cluster_id`` is the smallest node id in the component (oracle-able
    with a recursive CTE).  A null endpoint is not a node; the other
    endpoint of its edge stays a singleton unless another edge joins it.

    The path comes from Catalyst's size estimate of the endpoint columns
    (``optimizedPlan().stats()``, what broadcast-join planning reads), so
    choosing it starts no Spark job.  Under ``_CC_ONE_TASK_BYTES`` — a
    dedup pair graph is orders of magnitude smaller than its corpus — a
    union-find with path compression runs in ONE executor task
    (``repartition(1)`` → ``mapInArrow``, output sorted by id), O(E α(E)).
    Over it, or unknown (``Long.MaxValue``), a distributed min-label
    propagation loop with pointer jumping (id↔label links too, so a
    d-diameter chain converges in ~log d rounds): each round is one shuffle
    join (edges ∪ label-links × labels) plus a map-side-combined min
    aggregate, with ``localCheckpoint`` truncating lineage.
    """
    from pyspark.sql.types import StructType

    id_type = edges.schema[src].dataType
    u, v = F.col(src), F.col(dst)
    e = (edges.select(F.coalesce(u, v).cast(id_type).alias("u"),
                      F.coalesce(v, u).cast(id_type).alias("v"))
         .filter(F.col("u").isNotNull()))
    est = e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if est < _CC_ONE_TASK_BYTES:
        schema = StructType().add("id", id_type).add("cluster_id", id_type)
        return e.repartition(1).mapInArrow(_cc_union_find, schema)

    sym = e.select(F.explode(F.array(
        F.struct("u", "v"), F.struct(F.col("v").alias("u"), F.col("u").alias("v"))
    )).alias("e")).select("e.u", "e.v")
    sym = sym.repartition("v").localCheckpoint(eager=True)
    labels = (sym.select(F.col("u").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(max_iterations):
        # every node offers its label to each neighbor AND along id↔label
        # links (pointer jumping); a node keeps the min of its own label and
        # all offers.  ONE materialization per round: the joined frame is
        # checkpointed, then both the convergence count and the next labels
        # are cheap reads of it (the projection stays lazy — no lineage
        # growth past the checkpoint).
        links = labels.filter(F.col("label") != F.col("id"))
        aug = (sym
               .union(links.select(F.col("id").alias("u"), F.col("label").alias("v")))
               .union(links.select(F.col("label").alias("u"), F.col("id").alias("v"))))
        offers = (aug.join(labels.withColumnRenamed("id", "v"), "v")
                  .groupBy(F.col("u").alias("id"))
                  .agg(F.min("label").alias("nbr_label")))
        joined = (labels.join(offers, "id", "left")
                  .localCheckpoint(eager=True))
        changed = joined.filter(F.col("nbr_label") < F.col("label")).count()
        labels = joined.select("id", F.least("label", "nbr_label").alias("label"))
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("cluster_id"))


def _cc_union_find(batches):
    """``mapInArrow`` body of the one-task path: union-find over dense
    codes of the sorted distinct non-null ids (the smallest code is the
    smallest id; NaN is one id, the largest, as Spark orders it).  Arrow
    out, because PySpark turns a NaN in a pandas result into null."""
    import pandas as pd
    import pyarrow as pa

    frames = list(batches)
    if not frames:
        return
    ends = pa.concat_arrays([b.column(i) for i in (0, 1) for b in frames])
    codes, ids = pd.factorize(ends.to_pandas(), sort=True, use_na_sentinel=False)
    roots = _union_find_roots(len(ids), *codes.reshape(2, -1).tolist())  # src, dst
    if len(ids):
        ids = pa.array(ids.to_numpy(), type=ends.type, from_pandas=False)
        yield pa.RecordBatch.from_arrays([ids, ids.take(pa.array(roots))],
                                         ["id", "cluster_id"])


def _union_find_roots(n: int, a, b) -> list[int]:
    """Union-find (path compression) over nodes ``0 .. n-1`` joined by the
    pairs ``zip(a, b)``: each node's root, the smallest node of its component."""
    parent = list(range(n))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for x, y in zip(a, b):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return [find(i) for i in range(n)]


def dedup_clusters(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   num_hashes: int = 9, bands: int = 3, shingle_k: int = 3) -> DataFrame:
    """Full near-dup dedup pipeline: MinHash+LSH candidate pairs → connected
    components → one canonical survivor per cluster.

    Returns one row per document: ``(id, cluster_id, cluster_size, keep)``
    where ``cluster_id`` is the smallest doc id in the near-dup cluster
    (singletons cluster with themselves) and ``keep`` marks the canonical
    survivor.  This is the stage that actually deduplicates — candidate
    pairs alone do not partition the corpus.
    """
    pairs = minhash_dedup_pairs(sdf, text_col=text_col, id_col=id_col,
                                num_hashes=num_hashes, bands=bands, shingle_k=shingle_k)
    cc = connected_components(pairs, "id_a", "id_b")
    out = (sdf.select(F.col(id_col))
           .join(cc.withColumnRenamed("id", id_col), id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")))
    from pyspark.sql.window import Window

    w_cluster = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return (out.withColumn("cluster_size", w_cluster)
            .withColumn("keep", F.col(id_col) == F.col("cluster_id")))


def decontaminate_flags(train: DataFrame, bench: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3) -> DataFrame:
    """Test-set decontamination: flag training docs sharing any k-word
    shingle with a benchmark/eval set → ``(id, contaminated)``.

    Scale shape: the BENCH shingle set (eval sets are small by definition)
    is distinct-ed and broadcast; training shingles stream through a
    broadcast semi-join probe — no shuffle of the training corpus, one scan.
    If the eval set outgrows broadcast size, drop the hint and let AQE pick
    a shuffle join on the shingle key.  Both sides reduce the shingle to an
    8-byte xxhash64 before the probe (round-11, guide §2.3 — shrinks the
    broadcast relation and makes the hash-table key a long; a 2^-64
    collision flags one extra doc, the family's accepted class).
    """
    bsh = (bench.select(F.explode(shingles(F.col(text_col), k)).alias("__s__"))
           .select(F.xxhash64("__s__").alias("s"))
           .distinct())
    hits = (train.select(F.col(id_col),
                         F.explode(shingles(F.col(text_col), k)).alias("__s__"))
            .select(F.col(id_col), F.xxhash64("__s__").alias("s"))
            .join(F.broadcast(bsh), "s", "left_semi")
            .select(id_col).distinct())
    return (train.select(id_col)
            .join(hits.withColumn("__hit__", F.lit(True)), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("__hit__", F.lit(False)).alias("contaminated")))


def ngram_dup_coverage(sdf: DataFrame, n: int = 13, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication coverage: for each document with ≥ n
    tokens, the fraction of its n-gram positions whose n-gram also occurs in
    at least one OTHER document.  This is the distributed n-gram
    approximation of suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") — the scan
    flags documents whose text is substantially copied elsewhere so a
    downstream filter can drop or trim them.

    Returns (id, n_grams, dup_grams, dup_frac) for docs with ≥ n tokens.

    Scale shape: positions explode map-side in the scan stage; grams are
    reduced to an 8-byte xxhash64 in a flat codegen projection BEFORE the
    shuffle (never shuffling full n-gram strings; round-11 — the former
    16-hex md5 prefix was the same 64-bit collision class but hashed a
    cryptographic digest into a 16-byte STRING key: xxhash64 measured
    4.34 → 3.06 s on this query at sf1.0, and the long key halves the
    gram-exchange row and compares cheaper in the agg/join); the per-gram doc-count
    aggregate is FILTERED to the shared grams (``__docs > 1``) before the
    flag join — 13-gram hashes are overwhelmingly unique across documents,
    so the surviving set is small and AQE broadcasts it at runtime (the
    position side never re-shuffles on the gram hash).  Per-doc coverage
    is then a map-side-combined groupBy on the id.

    The gram table is pinned behind ONE explicit gram-hash exchange that
    both consumers (the doc-count branch and the flag-join instance side)
    reuse (round-11; guide §2.4/§7.2): without it the broadcast join left
    no exchange to share and the explode + md5 subtree EXECUTED TWICE —
    the per-position gram build is the dominant stage (measured 3.8 s of
    the query's 12.7 s at sf1.0, ×2).  AQE stage reuse collapses the two
    reads into one computation; the count-distinct's partial aggregate
    sits above the exchange, where partition-local combine does the same
    reduction the pre-shuffle combine did (13-gram hashes are singleton-
    dominated either way).  One shape serves every corpus and no job runs
    at construction.  A gram shared by most documents reduces on one
    task; a (gram, salt-of-doc-id) split would spread it, but its second
    aggregate has one row per distinct gram, and on the uniform sf0.1
    corpus it cost more than it saved (q128's shape, local[4]: 1.37 s
    → 1.77 s).
    """
    toks = _tokens(F.col(text_col))
    base = (sdf.select(F.col(id_col), toks.alias("__toks"))
            .withColumn("__n", F.size("__toks"))
            .filter(F.col("__n") >= n))
    flat = (base
            .select(id_col,
                    F.explode(F.sequence(F.lit(1), F.col("__n") - (n - 1))).alias("__pos"),
                    "__toks")
            .select(id_col,
                    F.xxhash64(F.array_join(
                        F.slice(F.col("__toks"), F.col("__pos"), F.lit(n)), " "))
                     .alias("__gh")))
    grams = flat.repartition("__gh")
    docs = grams.groupBy("__gh").agg(
        F.count_distinct(F.col(id_col)).alias("__docs"))
    shared = (docs.where(F.col("__docs") > 1)
              .select(F.col("__gh").alias("__gh2"), F.lit(1).alias("__dup")))
    # eqNullSafe, deliberately: a plain equi-join INFERS isnotnull(__gh) on
    # the count branch, and that filter pushes below the shared exchange —
    # the branch stops being canonically equal and the reuse never fires
    # (__gh is xxhash64 output, never null, so the matches are identical)
    return (grams.join(shared, F.col("__gh").eqNullSafe(F.col("__gh2")),
                       "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_grams"),
                 F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
                  .cast("int").alias("dup_grams"))
            .select(F.col(id_col), F.col("n_grams"), F.col("dup_grams"),
                    F.round(F.col("dup_grams") / F.col("n_grams"), 4)
                     .alias("dup_frac")))
