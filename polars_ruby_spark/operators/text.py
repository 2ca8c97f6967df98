"""Text-analysis operators for training-data pipelines (beyond-reference).

Language-ID (stopword-ratio heuristic), quality scoring, token counting,
document fingerprinting — all pure Catalyst expressions (split/filter/
regexp), deterministic, and DuckDB-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "les", "et", "est", "je", "ne", "pas", "une", "pour", "que"],
    "es": ["el", "los", "y", "es", "no", "por", "con", "para", "se", "del"],
}

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(col):
    return F.split(F.lower(col), " ")


def _stop_count(tokens, lang: str):
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda x: F.array_contains(arr, x)))


def language_id(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword heuristic language id → adds ``lang_pred``.

    Ties break in fixed order en>de>fr>es (documented, oracle-matched).
    """
    # three projection layers (round-11): the token array materializes
    # ONCE, then each stopword count materializes as a column.  Inlined,
    # every count column embedded its own split(lower(text)) — interpreted
    # HOFs do no subexpression caching, so each row paid the lower+split
    # FOUR times (measured ~11% of per-row cost; CollapseProject keeps the
    # layers apart because the token alias is non-cheap and referenced 4×).
    # The inlined when-chain mostly matched the count-layer cost already
    # (conditionals short-circuit, so its 3× textual duplication only
    # re-ran counts for rows falling past the first branch) — kept for the
    # later-branch rows and for shape uniformity with quality_score/
    # gopher_rules, where the duplicates were UNCONDITIONAL and the same
    # layering measured 4×.  The remaining cost is the four interpreted
    # token scans — inherent to exact instance-count semantics
    # (array_intersect/except dedup, so no codegen set-op substitutes;
    # a vectorized ArrowEvalPython kernel measured SLOWER — per-token
    # Python string hashing loses to the JVM's interpreted membership
    # scan once the boundary transfer is paid).
    toked = sdf.select("*", _tokens(F.col(text_col)).alias("__lid_toks__"))
    t = F.col("__lid_toks__")
    counts = toked.select(
        "*",
        _stop_count(t, "en").alias("__se__"),
        _stop_count(t, "de").alias("__sd__"),
        _stop_count(t, "fr").alias("__sf__"),
        _stop_count(t, "es").alias("__ss__"))
    se, sd, sf_, ss = (F.col(c) for c in ("__se__", "__sd__", "__sf__", "__ss__"))
    pred = (F.when((se >= sd) & (se >= sf_) & (se >= ss), "en")
            .when((sd >= sf_) & (sd >= ss), "de")
            .when(sf_ >= ss, "fr")
            .otherwise("es"))
    return (counts.withColumn("lang_pred", pred)
            .drop("__se__", "__sd__", "__sf__", "__ss__", "__lid_toks__"))


def quality_score(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality score in [0,1]: length + stopword density −
    punctuation density (the classic cheap pre-filter for LLM corpora)."""
    # token layer first (round-11): size() and the stopword filter-HOF both
    # embedded their own split(lower(text)) — materializing the array once
    # halves the split cost; then the base layer evaluates the token-size
    # and the stopword filter-HOF once, and the derived layer references
    # them repeatedly (ratio column AND the score), which inlined re-ran
    # the interpreted HOF + split per reference (guide §1.2 —
    # CollapseProject keeps the layers separate because the non-cheap
    # aliases are referenced more than once)
    toked = sdf.select("*", _tokens(F.col(text_col)).alias("__qs_toks__"))
    t = F.col("__qs_toks__")
    base = toked.select(
        "*",
        F.size(t).alias("n_tokens"),
        _stop_count(t, "en").alias("__stop__"),
        F.regexp_count(F.col(text_col), F.lit(r"[.,!?;:]")).alias("__punct__"))
    n_tok = F.col("n_tokens")
    stop_ratio = F.col("__stop__").cast("double") / n_tok.cast("double")
    punct_ratio = (F.col("__punct__").cast("double")
                   / F.length(text_col).cast("double"))
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    score = F.round(0.4 * len_score + 0.4 * stop_ratio + 0.2 * (1.0 - punct_ratio), 4)
    return (base.withColumn("stop_ratio", F.round(stop_ratio, 4))
            .withColumn("quality", score)
            .drop("__stop__", "__punct__", "__qs_toks__"))


def token_count(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (both counts)."""
    ws = F.size(_tokens(F.col(text_col)))
    bpe = F.regexp_count(F.col(text_col), F.lit(TOKEN_RE))
    return sdf.withColumn("ws_tokens", ws).withColumn("re_tokens", bpe)


def fingerprint(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set (catches shuffled near-copies that exact hash misses)."""
    t = F.array_sort(F.array_distinct(_tokens(F.col(text_col))))
    return sdf.withColumn("fingerprint", F.md5(F.array_join(t, " ")))


def rolling_fingerprint(sdf: DataFrame, text_col: str = "text",
                        base: int = 31, mod: int = 10**15) -> DataFrame:
    """Order-SENSITIVE Rabin-Karp polynomial fingerprint over the token
    stream: h = Σ h(tok_i)·base^(n-i) mod 10^15, with per-token hashes from
    md5's first 8 hex chars — bit-identical across engines (DuckDB mirrors
    with list_reduce).  Complements :func:`fingerprint`: detects reordered
    content as DIFFERENT, same content as SAME."""
    t = _tokens(F.col(text_col))

    def tok_hash(x):
        return F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")

    fp = F.aggregate(t, F.lit(0).cast("long"),
                     lambda acc, x: (acc * base + tok_hash(x)) % mod)
    return sdf.withColumn("roll_fp", fp)


def tf_idf_topk(sdf: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document: ``(id, rank, term, weight)``.

    Scale shape: explode → two hash aggregates (doc-term tf, term df; both
    map-side combined) → shuffle join on term → per-doc window.  The corpus
    size enters the plan as a broadcast one-row aggregate (no driver action).
    Stopword-grade terms have huge tf partitions on the term join — AQE skew
    split handles them, and their idf→0 weight keeps them out of the top-k.
    Ranking orders by the ROUNDED weight (ties broken by term) so the order
    is reproducible across engines regardless of float ulp differences.
    """
    from pyspark.sql.window import Window

    toks = (sdf.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term"))
            .filter(F.col("term") != ""))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # df must CONSUME the tf column: with count(1), column pruning drops
    # the count from this branch's copy of the subtree, the two partial
    # (doc,term) aggregates stop being canonically equal, and
    # ReuseExchange never fires — the scan + explode + (doc,term)
    # aggregate executed TWICE (round-11, verified in the physical plan).
    # A bare count(tf) is rewritten back to count(1) by NullPropagation
    # (tf is non-nullable), so the reference is kept through a NULLABLE
    # wrapper; tf = count(*) ≥ 1 by construction, so every row still
    # counts and df is unchanged.
    dfreq = tf.groupBy("term").agg(
        F.count(F.when(F.col("tf") >= 1, F.col("tf"))).alias("df"))
    n_docs = sdf.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("weight", F.round(
                  F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4)))
    w = Window.partitionBy(id_col).orderBy(F.desc("weight"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", "term", "weight"))


def repetition_signals(sdf: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition/quality signals per document:
    ``distinct_ratio`` (unique/total tokens), ``top_bigram_frac`` (fraction of
    bigram occurrences taken by the most common bigram), ``mean_word_len``.

    One flat per-row projection, zero shuffles (round-11; guide §2.4):
    the bigram mode — count of the most frequent bigram — equals the
    longest equal-run in the SORTED bigram array, so it reduces to
    array_sort + one O(d) aggregate() scan per row instead of the former
    explode → groupBy(doc, gram) → groupBy(doc) → join (two full-data
    exchanges, a second scan of the corpus, and a |docs|-row join; the
    gram exchange carried |docs|×|bigrams| rows before map-side combine).
    Per-row work was already O(d log d)-ish (array_distinct) — the sort
    joins that class; every stage stays embarrassingly parallel and NOTHING
    is keyed on the doc id, so doc-count growth never changes the shape.
    <2-token docs have an empty bigram array; their top_bigram_frac is
    defined as 0 (matches the old explode_outer null-gram branch).
    """
    from ..operators.dedup import shingles_from_tokens

    # token layer first (round-11): size/distinct/char-sum AND the bigram
    # shingle each embedded their own split(lower(text)) — materializing
    # the token array once cuts the per-row splits 4× → 1× (interpreted
    # HOFs do no subexpression caching; the ≥4 references block
    # CollapseProject from re-inlining the alias)
    t = F.col("__rs_toks__")
    bi_sorted = F.array_sort(shingles_from_tokens(t, 2))

    # longest run of equal adjacent values in a sorted array == max
    # per-value count.  One interpreted-HOF pass; accumulator fields are
    # plain extractions so the re-evaluated `run` expression stays O(1).
    def _step(acc, x):
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top_c = F.aggregate(
        bi_sorted,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("bigint").alias("run"),
                 F.lit(0).cast("bigint").alias("best")),
        _step, lambda acc: acc["best"])
    # two projections, deliberately: the ratio layer references n_tok four
    # times, so CollapseProject keeps the layers separate and the expensive
    # base expressions (the sorted-shingle HOF especially — interpreted, no
    # CSE with codegen siblings) evaluate ONCE per row.  tot (= bigram
    # count) is n_tok−1 arithmetic, never a second shingle evaluation.
    toked = sdf.select(F.col(id_col),
                       _tokens(F.col(text_col)).alias("__rs_toks__"))
    base = toked.select(
        F.col(id_col),
        F.size(t).alias("n_tok"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
         .alias("char_sum"),
        top_c.alias("top_c"))
    tot = F.when(F.col("n_tok") >= 2, F.col("n_tok") - 1)
    return base.select(
        F.col(id_col),
        F.round(F.col("n_distinct") / F.col("n_tok"), 4).alias("distinct_ratio"),
        F.when(tot > 0, F.round(F.col("top_c") / tot, 4)).otherwise(F.lit(0.0))
         .alias("top_bigram_frac"),
        F.round(F.col("char_sum") / F.col("n_tok"), 4).alias("mean_word_len"))


def bm25_search(sdf: DataFrame, query_terms: list[str], text_col: str = "text",
                id_col: str = "doc_id", k: int = 10,
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 keyword search: top-k documents for a bag-of-terms query,
    ``(rank, id, score)``.

    Scale shape: tokens are filtered to the query terms BEFORE the explode
    (array_contains in a flat projection), so the exploded relation is
    |docs| × |matched terms|, not |docs| × |tokens|.  Corpus N/avgdl enter
    as a broadcast one-row aggregate; per-term df is a second tiny broadcast.
    The global top-k is orderBy+limit (TakeOrdered — no single-partition
    window); ordering is on the rounded score with id tiebreak.
    """
    from pyspark.sql.window import Window

    t = _tokens(F.col(text_col))
    qarr = F.array(*[F.lit(q) for q in query_terms])
    # token layer first (round-11): dl and the query-term filter both
    # embedded their own split(lower(text)) — one materialized array
    # serves both (the filter sits in the Generate above the projection)
    toked = sdf.select(F.col(id_col), t.alias("__bm_toks__"))
    tc = F.col("__bm_toks__")
    base = toked.select(
        F.col(id_col), F.size(tc).alias("dl"),
        F.explode(F.filter(tc, lambda x: F.array_contains(qarr, x))).alias("term"))
    tf = base.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
    # consume tf through a nullable wrapper so this branch's copy of the
    # subtree keeps the count aggregate and ReuseExchange can fire on the
    # (id,term) exchange — see tf_idf_topk above (tf ≥ 1 by construction,
    # so df is unchanged; a bare count(tf) is folded back to count(1) by
    # NullPropagation and then pruned, breaking canonical equality).
    dfreq = tf.groupBy("term").agg(
        F.count(F.when(F.col("tf") >= 1, F.col("tf"))).alias("df"))
    stats = sdf.select(F.count(F.lit(1)).alias("n_docs"),
                       F.avg(F.size(t)).alias("avgdl"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    s = idf * (F.col("tf") * (k1 + 1)) / \
        (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy(id_col).agg(F.round(F.sum(s), 4).alias("score"))
              .orderBy(F.desc("score"), F.asc(id_col))
              .limit(k))
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).select("rank", id_col, "score")


def vocab_build(sdf: DataFrame, text_col: str = "text", vocab_size: int = 1000,
                min_count: int = 1) -> DataFrame:
    """Corpus-frequency vocabulary: top-``vocab_size`` tokens →
    (token, token_id, count), ids dense 0..V-1 by (count desc, token asc).

    Scale shape: explode + map-side-combined hash agg is the only
    data-sized shuffle; the global top-V is orderBy+limit (TakeOrdered, no
    full sort) and the id-assigning window runs over ≤V rows — bounded by
    construction (V ≪ corpus), not by the data.
    """
    from pyspark.sql.window import Window

    toks = sdf.select(F.explode(_tokens(F.col(text_col))).alias("token")) \
              .where(F.col("token") != "")
    counts = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("count"))
              .where(F.col("count") >= min_count))
    top = counts.orderBy(F.col("count").desc(), F.col("token")).limit(vocab_size)
    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    return top.withColumn("token_id", (F.row_number().over(w) - 1).cast("long")) \
              .select("token", "token_id", "count")


def encode_tokens(sdf: DataFrame, vocab: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", oov_id: int = -1) -> DataFrame:
    """Encode documents as token-id arrays against a built vocabulary →
    (id, token_ids), position order preserved, unknown tokens → ``oov_id``.

    Scale shape: the vocabulary (≤V rows) broadcasts — the posexplode'd
    token relation never shuffles for the lookup; the single data-sized
    shuffle is the groupBy(id) re-collect, ordered by the carried position
    (sort_array on structs, no window).
    """
    toks = sdf.select(
        F.col(id_col),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "token"))
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left")
    return joined.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                F.col("pos"),
                F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("tid")))),
            lambda s: s["tid"]).alias("token_ids"))


def source_overlap(sdf: DataFrame, text_col: str = "text",
                   group_col: str = "source", k: int = 3) -> DataFrame:
    """Pairwise k-word-shingle Jaccard overlap between corpus slices
    (sources) → (source_a, source_b, n_a, n_b, n_common, jaccard) — the
    cross-source contamination/overlap matrix.

    Scale shape: shingles are xxhash64-hashed to 8-byte longs BEFORE the
    distinct's shuffle (narrow rows, q93's hash-before-shuffle move;
    round-11 swapped the 128-bit md5 hex string for the long key — same
    move as the n-gram flag joins, guide §2.3; a 64-bit birthday collision
    merges two shingles and shifts a count by one, the accepted class the
    rest of the family already rides); the self-equi-join on the gram
    hash reuses the distinct's hash partitioning (no extra exchange);
    per-group sizes are a tiny broadcast.  Output is |groups|²/2 rows.
    """
    from ..operators.dedup import shingles

    # the explicit isNotNull is a no-op (xxhash64 of a non-null gram) but
    # makes all three consumers' subtrees canonically EQUAL: the a⋈b join
    # infers isnotnull(gh) on its branches and the sizes branch does not,
    # which broke AQE stage reuse — the scan+explode+distinct executed once
    # per consumer (round-11, verified in the final adaptive plan; with the
    # filter shared, sizes reuses the distinct exchange).
    g = (sdf.select(F.col(group_col).alias("grp"),
                    F.explode(shingles(F.col(text_col), k)).alias("gram"))
         .select("grp", F.xxhash64(F.col("gram")).alias("gh"))
         .where(F.col("gh").isNotNull())
         .distinct())
    sizes = g.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("grp").alias("source_a"), "gh")
    b = g.select(F.col("grp").alias("source_b"), "gh")
    inter = (a.join(b, "gh")
             .where(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    na = F.broadcast(sizes.select(F.col("grp").alias("source_a"), F.col("n").alias("n_a")))
    nb = F.broadcast(sizes.select(F.col("grp").alias("source_b"), F.col("n").alias("n_b")))
    return (inter.join(na, "source_a").join(nb, "source_b")
            .select("source_a", "source_b", "n_a", "n_b", "n_common",
                    F.round(F.col("n_common") /
                            (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4)
                    .alias("jaccard")))


def unigram_logprob(sdf: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Unigram-LM document score → (id, n_tokens, avg_logprob, pseudo_ppl).

    The deterministic stand-in for the KenLM-perplexity quality filter
    (CCNet-style): train unigram MLE probabilities on the corpus itself in
    one pass, then score every document by its mean token log-probability;
    ``pseudo_ppl = exp(-avg_logprob)`` sorts documents exactly like a
    unigram perplexity would.

    Scale shape: one explode (linear fan-out), one map-side-combined hash
    agg for the vocab counts, corpus total attached as a one-row broadcast
    scalar, vocab joined back BROADCAST (vocab ≪ corpus — even at 100 TB a
    deduped unigram vocab is millions of rows, well under the broadcast
    threshold after the count agg), one final per-doc agg.  Two shuffles
    total; no Python.
    """
    toks = sdf.select(F.col(id_col).alias("id"),
                      F.explode(_tokens(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    lp = (counts.crossJoin(F.broadcast(total))  # sanctioned one-row scalar attach
          .select("tok", F.log(F.col("cnt").cast("double") / F.col("tot")).alias("logp")))
    return (toks.join(F.broadcast(lp), "tok")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.avg("logp").alias("avg_logprob"))
            .select(F.col("id").alias(id_col), "n_tokens",
                    F.round("avg_logprob", 6).alias("avg_logprob"),
                    F.round(F.exp(-F.col("avg_logprob")), 4).alias("pseudo_ppl")))


def dup_ngram_fraction(sdf: DataFrame, n: int = 3, text_col: str = "text",
                       id_col: str = "doc_id", min_docs: int = 2) -> DataFrame:
    """Duplicate-n-gram fraction per document (Gopher/FineWeb-style
    repetition-across-corpus filter) → (id, n_ngrams, n_dup, dup_frac).

    An n-gram is "duplicated" when it occurs in ≥ ``min_docs`` distinct
    documents; ``dup_frac`` is the fraction of a document's n-gram
    *instances* that are duplicated.

    Scale shape: n-grams built JVM-side (``transform`` over an index
    sequence — no Python), exploded once into one gram exchange; the
    docs-per-ngram table comes from one distinct + hash agg over it and is
    FILTERED to ``n_docs >= min_docs`` before the flag join — natural-text
    distinct grams are singleton-dominated (Zipf), so the surviving
    duplicated set is a small fraction and AQE broadcasts it at runtime
    (the instance side never re-shuffles on the gram key).  No job runs at
    construction.  The join key is ``xxhash64(ngram)`` (round-11: the
    long-documented 100 TB knob is now the default — 8-byte shuffle rows
    instead of full n-gram strings; 2^-64 collision odds merge two grams,
    shifting a count by one; oracle parity verified empirically at
    sf0.01/sf0.1, where the deterministic corpora are collision-free).
    Null grams from ``explode_outer`` stay NULL through the hash so the
    short-doc contract (n_ngrams=0 rows survive) is untouched —
    ``xxhash64(NULL)`` would otherwise fold nulls into the seed value.
    """
    from ..operators.dedup import shingles

    # shingles() IS the n-gram constructor, with the transform-over-
    # singleton binding that evaluates split() once per row — building the
    # grams from a bare `_tokens(col)` expression re-splits the text per
    # element inside the interpreted HOF (measured ~4× on this query)
    grams = shingles(F.col(text_col), n)
    # explode_OUTER: a signal operator must not silently drop documents —
    # docs shorter than n tokens keep one null-gram row and surface as
    # n_ngrams=0, dup_frac=null.
    # One explicit gram exchange shared by BOTH consumers (round-11; guide
    # §2.4/§7.2): the broadcast flag join left no exchange to reuse, so the
    # explode + shingle subtree executed twice.  Keeping the branches
    # canonically equal needs two twists: (a) eqNullSafe — a plain
    # equi-join infers isnotnull(gram) on the count branch and the filter
    # pushes below the shared exchange; (b) the null-gram group is
    # excluded inside the COUNT (a `where gram is not null` is a key
    # predicate that would push below the aggregate and the exchange too).
    # The null group then fails `n_docs >= min_docs` (count = 0), and a
    # null probe gram can only null-safe-match that excluded row — matches
    # are identical to the old shape.
    flat = (sdf.select(F.col(id_col).alias("id"), F.explode_outer(grams).alias("__gs__"))
            .select(F.col("id"),
                    F.when(F.col("__gs__").isNotNull(),
                           F.xxhash64(F.col("__gs__"))).alias("gram")))
    ng = flat.repartition("gram")
    counts = (ng.distinct()
              .groupBy("gram")
              .agg(F.count(F.when(F.col("gram").isNotNull(), 1))
                   .alias("n_docs")))
    # n_docs > 0 keeps the null group out even for a
    # min_docs <= 0 caller; an aggregate-output predicate,
    # so it cannot push below the shared exchange
    duplicated = (counts
                  .where((F.col("n_docs") >= min_docs) & (F.col("n_docs") > 0))
                  .select(F.col("gram").alias("__g2__"), F.lit(1).alias("_dup")))
    return (ng.join(duplicated, F.col("gram").eqNullSafe(F.col("__g2__")), "left")
            .groupBy("id")
            .agg(F.count(F.col("gram")).alias("n_ngrams"),
                 F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup"))
            .select(F.col("id").alias(id_col), "n_ngrams",
                    F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
                    F.round(F.col("n_dup") / F.col("n_ngrams"), 4).alias("dup_frac")))


# -- PII detection / redaction (training-data pipeline op) ---------------------
#: conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB
#: oracle) — no lookarounds, no backrefs
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_signals(sdf: DataFrame, text_col: str = "text",
                kinds=None) -> DataFrame:
    """Per-document PII match counts (emails, phone numbers, IPv4s,
    SSN-shaped ids) as flat ``regexp_count`` projections.

    Scale: whole-stage-codegen row-local work, 0 shuffles — linear over
    100 TB and trivially partition-parallel.  Patterns are deliberately
    conservative (high precision) so the counts are actionable as filter
    signals; swap :data:`PII_PATTERNS` for a jurisdiction-specific set.
    """
    kinds = list(kinds or PII_PATTERNS)
    c = F.col(text_col)
    cols = [F.regexp_count(c, F.lit(PII_PATTERNS[k])).alias(f"n_{k}")
            for k in kinds]
    total = None
    for k in kinds:
        t = F.regexp_count(c, F.lit(PII_PATTERNS[k]))
        total = t if total is None else total + t
    return sdf.select("*", *cols, total.alias("n_pii"))


def pii_redact(sdf: DataFrame, text_col: str = "text", out_col: str = None,
               kinds=None) -> DataFrame:
    """Replace PII matches with typed placeholder tokens (``<EMAIL>``,
    ``<PHONE>``, ``<IPV4>``, ``<SSN>``) — chained ``regexp_replace``, flat
    codegen, 0 shuffles.  Order matters: SSN before phone so the more
    specific shape wins where patterns overlap."""
    kinds = list(kinds or ["email", "ssn", "phone", "ipv4"])
    out_col = out_col or text_col
    c = F.col(text_col)
    for k in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[k], f"<{k.upper()}>")
    return sdf.withColumn(out_col, c)


def boilerplate_signals(sdf: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        df_threshold: int = 3) -> DataFrame:
    """Corpus-frequent shingle scoring — the C4/CCNet line-frequency
    boilerplate filter re-expressed for unstructured text: a k-word shingle
    occurring in more than ``df_threshold`` distinct documents counts as
    boilerplate; each doc gets the fraction of its (distinct) shingles that
    are boilerplate.

    Scale shape (100 TB): per-doc DISTINCT shingles explode partition-local;
    ONE hash-agg shuffle computes document frequencies (map-side combined)
    and is FILTERED to ``df > threshold`` before the join — the Zipf head is
    tiny relative to the gram table, so AQE converts the per-doc flag join
    to a broadcast at runtime (the gram side never re-shuffles; an
    adversarial corpus whose frequent set outgrows the broadcast limit
    degrades to a shuffle join against the filtered — still much smaller —
    side, never the full df table).  Both shapes avoid any driver
    materialization.
    """
    from ..operators.dedup import shingles

    # one explicit gram exchange shared by the df branch and the flag-join
    # gram side (round-11; guide §2.4/§7.2 — the broadcast join left no
    # exchange to reuse, so the explode + distinct-shingle subtree executed
    # twice); eqNullSafe keeps the branches canonically equal (a plain
    # equi-join infers isnotnull(gram) on the df branch and the filter
    # pushes below the shared exchange — gram is an xxhash64 of a non-null
    # shingle, never null, so the matches are identical).  The shingle
    # reduces to an 8-byte xxhash64 BEFORE the exchange (round-11, guide
    # §2.3 — the raw k-word strings shuffled ~30+ bytes/row and grouped on
    # string keys; the docstring's documented 100 TB knob, now the
    # default: 2^-64 odds merge two shingles, shifting a count by one —
    # oracle parity verified empirically at sf0.01/sf0.1)
    flat = (sdf.select(F.col(id_col), F.explode(F.array_distinct(
        shingles(F.col(text_col), k))).alias("__gs__"))
            .select(F.col(id_col), F.xxhash64(F.col("__gs__")).alias("gram")))
    g = flat.repartition("gram")
    dfreq = g.groupBy("gram").agg(F.countDistinct(id_col).alias("df"))
    frequent = (dfreq.filter(F.col("df") > df_threshold)
                .select(F.col("gram").alias("__g2__"), F.lit(1).alias("_frequent")))
    flag = F.coalesce(F.col("_frequent"), F.lit(0))
    return (g.join(frequent, F.col("gram").eqNullSafe(F.col("__g2__")), "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(flag).alias("n_frequent"),
                 F.avg(flag.cast("double")).alias("boilerplate_frac")))


URL_RE = r"(?i)https?://[^\s]+"


def url_signals(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract + canonicalize the first URL per document: lowercase host,
    strip a leading ``www.``, drop query string and fragment.  Flat
    regexp codegen projections, 0 shuffles."""
    url = F.regexp_extract(F.col(text_col), URL_RE, 0)
    url = F.when(url != "", url)
    host = F.lower(F.regexp_extract(url, r"(?i)https?://([^/\s:?#]+)", 1))
    domain = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(url, r"(?i)https?://[^/\s?#]+([^\s?#]*)", 1)
    scheme = F.lower(F.regexp_extract(url, r"(?i)^(https?)://", 1))
    return (sdf.withColumn("url", url)
            .withColumn("host", host)
            .withColumn("domain", domain)
            .withColumn("url_normalized",
                        F.when(url.isNotNull(),
                               F.concat(scheme, F.lit("://"), host, path))))


def gopher_rules(sdf: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 min_alpha_frac: float = 0.8) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1): word
    count bounds, mean-word-length bounds, fraction of words containing an
    alphabetic character.  Flat JVM higher-order projections, 0 shuffles."""
    # token layer first (round-11): the three signal columns each embedded
    # their own split(lower(text)) — interpreted HOFs do no subexpression
    # caching, so the split ran 3× per row; then the base layer runs each
    # interpreted HOF (char-sum aggregate, alpha filter) once, and the pass
    # predicate references the derived ratios twice each, which inlined
    # re-ran the HOFs per reference (guide §1.2 — the multiply-referenced
    # non-cheap aliases block CollapseProject)
    toked = sdf.select("*", _tokens(F.col(text_col)).alias("__gr_toks__"))
    w = F.col("__gr_toks__")
    base = toked.select(
        "*",
        F.size(w).alias("n_words"),
        F.aggregate(w, F.lit(0), lambda a, x: a + F.length(x)).alias("__chs__"),
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).alias("__alpha__"))
    n_words = F.col("n_words")
    mean_wl = F.col("__chs__").cast("double") / n_words
    alpha_frac = F.col("__alpha__").cast("double") / n_words
    passes = ((n_words >= min_words) & (n_words <= max_words)
              & (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
              & (alpha_frac >= min_alpha_frac))
    return (base.withColumn("mean_word_len", mean_wl)
            .withColumn("alpha_word_frac", alpha_frac)
            .withColumn("gopher_pass", passes)
            .drop("__chs__", "__alpha__", "__gr_toks__"))
