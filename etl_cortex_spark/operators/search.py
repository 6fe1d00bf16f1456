"""Corpus retrieval operators: BM25 ad-hoc ranking and vocabulary
coverage statistics.

The reference app (`/root/reference/app.py`) has no retrieval surface;
these extend the mandated tier-D LLM-data-pipeline family (text
analysis / similarity search) with the lexical-retrieval twin of
`operators/similarity.py`'s embedding search.

Scale design:
- `bm25_topk` never materializes a full inverted index for an ad-hoc
  query: tokens are filtered to the query's terms INSIDE the scan
  projection, so the explode fans out O(matching terms) rows, not
  O(corpus tokens). Per-term document frequencies are a tiny aggregate
  (≤ |query| rows) broadcast back, corpus stats (N, avgdl) are a
  single-row broadcast, and the final top-k is TakeOrderedAndProject —
  no full sort of the corpus.
- `vocab_topk` is the classic two-phase count (map-side partial agg on
  token), a single-row total broadcast, and a window that runs AFTER
  the top-k limit — the running-coverage sum orders k rows, never the
  full vocabulary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_cortex_spark.operators.caching import track
from etl_cortex_spark.operators.localframe import local_df
from etl_cortex_spark.operators.textops import words


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 20,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k for an ad-hoc bag-of-words query.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  (the standard
    non-negative variant); score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 - b + b·dl/avgdl)).

    Emits (id, bm25) with the score rounded to 3 decimals and the tie
    broken on id so the top-k frontier is deterministic across engines.
    """
    terms_lit = F.array(*[F.lit(t) for t in terms])
    w = words(text_col)
    # ONE corpus scan+tokenize feeds everything (round 10; before,
    # the corpus-stats agg re-scanned and re-tokenized the whole
    # corpus a second time): base = (id, dl, matching-terms array) is
    # the persisted frame — one row per doc, hits arrays are tiny
    # (query terms only) — and stats, tf, and the scoring join all
    # derive from it. Persisting base rather than the tf posting frame
    # is the same inverted-index materialization (each consumer reads
    # the cache instead of re-tokenizing; the dedup.py:115 pattern);
    # the explode+count from cache per consumer is cheap because the
    # hits arrays are already term-filtered. Tracked so repeat
    # invocations can't accumulate CacheManager entries.
    from pyspark import StorageLevel

    base = track(
        docs.select(
            F.col(id_col),
            F.size(w).alias("dl"),
            F.filter(w, lambda t: F.array_contains(terms_lit, t)).alias("__hits"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # tf is itself read twice (df build + scoring join) — persist the
    # aggregated posting too, so the explode+count shuffle runs once.
    tf = track(
        base.select(F.col(id_col), "dl", F.explode("__hits").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    stats = base.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1) / norm

    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(contrib), 3).alias("bm25"))
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def vocab_topk(docs: DataFrame, k: int = 50, *, text_col: str = "text") -> DataFrame:
    """Top-k vocabulary with cumulative corpus coverage.

    Emits (token, cnt, rank, cum_frac): rank by descending count with
    the token string as tiebreak, cum_frac = running token-count share
    of the WHOLE corpus (so the k-th row reads "the top-k vocabulary
    covers X% of all tokens" — the tokenizer-budget question).
    """
    counts = (
        docs.select(F.explode(words(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    order = [F.desc("cnt"), F.asc("token")]
    top = counts.orderBy(*order).limit(k).crossJoin(F.broadcast(total))
    win = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return top.select(
        "token",
        "cnt",
        F.row_number().over(win).alias("rank"),
        F.round(F.sum("cnt").over(win) / F.col("total"), 4).alias("cum_frac"),
    ).orderBy("rank")


def tfidf_knn(
    docs: DataFrame,
    *,
    k: int = 3,
    max_df_frac: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist: bool = True,
) -> DataFrame:
    """Sparse document-to-document similarity through an inverted
    index: tf·idf weights, cosine over shared terms only, top-k
    neighbors per document.

    This is the lexical sibling of the embedding ANN path
    (similarity.lsh_topk): instead of bucketing dense vectors, the
    TERM is the index key — the pairwise join touches only documents
    that share a term (posting-list join), never all pairs. Join
    cost is Σ df², so terms in more than ``max_df_frac`` of the corpus
    (stopword-grade postings) and df=1 terms (no pairs possible) are
    excluded from the JOIN; norms still use every term, so the cosine
    denominator is the true vector length.

    Ranking orders on the ROUNDED cosine (6dp) + neighbor id, so libm
    ULP drift between engines cannot flip the frontier.

    ``persist`` caches the weight frame read by the norms agg and both
    join sides (MEMORY_AND_DISK); pass False in sessions that manage
    their own caching (see dedup.minhash_lsh_pairs).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from etl_cortex_spark.operators.textops import words

    tok = docs.select(
        F.col(id_col), F.explode(words(F.lower(F.col(text_col)))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            "df",
            "n",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("wt"),
        )
    )
    if persist:
        w = track(w.persist(StorageLevel.MEMORY_AND_DISK))
    norms = w.groupBy(id_col).agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm"))
    joinable = w.filter(
        (F.col("df") >= 2) & (F.col("df") <= F.greatest(F.lit(2.0), max_df_frac * F.col("n")))
    )
    a = joinable.select(F.col(id_col).alias("ida"), "term", F.col("wt").alias("wa"))
    b = joinable.select(F.col(id_col).alias("idb"), "term", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("ida") != F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("ida"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("idb"), F.col("nrm").alias("nb"))
    scored = dots.join(na, "ida").join(nb, "idb").select(
        F.col("ida").alias(id_col),
        F.col("idb").alias("neighbor_id"),
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
    )
    rank = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.desc("cos"), "neighbor_id")
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
    )


def hybrid_topk_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms: Sequence[str],
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
    rrf_k: int = 60,
    *,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid retrieval — BM25 lexical pool + exact-cosine vector pool
    fused by Reciprocal Rank Fusion (Cormack et al. 2009), the
    standard RAG-serving combiner:

        rrf(d) = Σ_pools 1 / (rrf_k + rank_pool(d))

    Ranks come from each pool's deterministic total order (rounded
    score desc, id asc), so the fusion is pure integer→IEEE-division
    arithmetic — bit-identical in any engine, no libm in the fused
    score. A document missing from a pool contributes 0 (classic RRF).

    Scale shape: each pool is an existing top-k operator
    (TakeOrderedAndProject); the rank windows run over POOL rows (a
    driver-bounded constant, ≤ ~100 in any serving config), so the
    single-partition window is a k-row sort, not a data-sized one;
    the fusion join is pool×pool. The expensive parts — BM25's
    inverted-index aggs and the cosine scan — keep their own
    documented distributions.
    """
    from pyspark.sql import Window

    from etl_cortex_spark.operators.similarity import cosine_topk

    lex = bm25_topk(docs, terms, k=pool, id_col=id_col)
    wl = Window.orderBy(F.desc("bm25"), F.col(id_col))
    lexr = lex.select(F.col(id_col), F.row_number().over(wl).alias("lex_rank"))

    vec = cosine_topk(emb, query_vec, k=pool, id_col=vec_id_col)
    wv = Window.orderBy(F.desc("cosine"), F.col(vec_id_col))
    vecr = vec.select(
        F.col(vec_id_col).alias(id_col), F.row_number().over(wv).alias("vec_rank")
    )

    fused = lexr.join(vecr, id_col, "full_outer")
    rrf = F.coalesce(1.0 / (rrf_k + F.col("lex_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (rrf_k + F.col("vec_rank")), F.lit(0.0)
    )
    return (
        fused.select(id_col, "lex_rank", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), id_col)
        .limit(k)
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional-index PHRASE search (round 11 — the retrieval family
    member BM25's bag-of-words scoring cannot express: "these exact
    tokens, adjacent, in order"): build (doc, position, token)
    postings with ``posexplode``, FILTER each posting stream down to
    one phrase term BEFORE any join (predicate pushdown does the
    heavy lifting — the joined frames are term-frequency-sized, not
    corpus-sized), then chain equi-joins on (doc, pos + offset) for
    the adjacency. Returns (id_col, n_occurrences, first_pos) per
    matching document, positions 0-based; occurrences may overlap —
    each starting position counts.

    Scale shape: this is exactly how a positional inverted index
    serves phrase queries at corpus scale — per-term postings are the
    index partitions, the query touches only its own terms' postings,
    and the adjacency join keys on (doc, pos) so co-located posting
    shards join without a corpus shuffle. At 100 TB: write the
    postings once (doc-bucketed), and this query prunes to
    |phrase-terms| posting lists."""
    from etl_cortex_spark.operators.textops import words

    terms = [w for w in phrase.split() if w]
    if len(terms) < 2:
        raise ValueError(f"phrase_search needs >= 2 tokens, got {phrase!r}")
    toks = docs.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("__pos", "__tok")
    )
    out = toks.filter(F.col("__tok") == terms[0]).select(
        id_col, F.col("__pos").alias("__p0")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = toks.filter(F.col("__tok") == t).select(
            id_col, (F.col("__pos") - i).alias("__p0")
        )
        out = out.join(nxt, [id_col, "__p0"])
    return out.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("__p0").cast("int").alias("first_pos"),
    )


def term_bucket_py(term: str, n_buckets: int = 64) -> int:
    """Driver-side twin of the postings-index bucket function — ONE
    definition of the hash convention (first 4 md5 hex chars as an
    int), so index writer and query lookup can never disagree (the
    similarity.query_bucket discipline applied to text)."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


def postings_frame(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """The (term, doc, dl, tf, __bucket) postings of ``docs`` — the
    shared build step of the full index write, the incremental append,
    and the streaming micro-batch commit (one code path, the three
    ingest modes cannot drift)."""
    from etl_cortex_spark.operators.textops import words

    w = words(text_col)
    return (
        docs.select(
            F.col(id_col), F.size(w).alias("dl"), F.explode(w).alias("term")
        )
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "__bucket",
            F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("int")
            % n_buckets,
        )
    )


def write_postings_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """PERSISTED INVERTED INDEX as a term-bucket-partitioned layout
    (round 13 — the lexical twin of `similarity.write_ivf_index`):
    tokenize once at ingest, aggregate (term, doc, tf) postings plus
    per-doc length, and write parquet PARTITIONED BY a deterministic
    md5 term bucket. A query for k terms then reads AT MOST k bucket
    directories — partition pruning does for text retrieval what the
    IVF cell does for ANN: the other 2^n buckets are never listed. The
    bucket function is engine-portable md5 arithmetic (the d11/d38
    convention), so a SQL oracle can replay the index contents
    verbatim and the driver-side twin (`term_bucket_py`) computes a
    literal prune list per query.

    At 100 TB: the index write is one tokenize + one (term, doc)
    partial-agg shuffle, paid once at ingest; per-query cost is
    |buckets(query)| directory reads instead of a corpus scan+tokenize
    per query (what `bm25_topk` does ad-hoc — both postures are real:
    ad-hoc for one-off audits, this layout for a serving workload)."""
    postings = postings_frame(
        docs, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    postings.repartition("__bucket").write.mode("overwrite").partitionBy(
        "__bucket"
    ).parquet(path)


def postings_lookup(
    spark,
    path: str,
    terms: Sequence[str],
    k: int = 20,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Top-k lexical lookup against a `write_postings_index` layout:
    the query terms' bucket ids (computed driver-side, a handful of
    integers) prune the scan to their partition directories, the term
    IN-list filters the survivors, and matched-tf scoring ranks docs —
    (doc, n_matched, total_tf) with deterministic tie-breaks. The scan
    never touches non-query buckets (numPartitions pinned in
    tests/test_plans.py)."""
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    terms_lit = F.array(*[F.lit(t) for t in terms])
    return (
        spark.read.parquet(path)
        .filter(F.col("__bucket").isin(buckets))
        .filter(F.array_contains(terms_lit, F.col("term")))
        .groupBy(id_col)
        .agg(
            F.countDistinct("term").alias("n_matched"),
            F.sum("tf").alias("total_tf"),
        )
        .orderBy(F.desc("n_matched"), F.desc("total_tf"), id_col)
        .limit(k)
    )


def append_postings_index(
    delta_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """INCREMENTAL maintenance of a `write_postings_index` layout
    (round 13 — the `similarity.append_ivf_index` pattern applied to
    the lexical index): tokenize ONLY the new documents, bucket their
    postings with the SAME deterministic md5 term hash, and APPEND
    partition-aligned — each term bucket gains one file holding the
    delta's postings, untouched buckets are never rewritten, and the
    lookup path is unchanged (a bucket directory simply holds base +
    delta files). O(|delta|) work per ingest batch instead of a corpus
    re-tokenize; file accumulation is `layout.compact_parquet`'s job.
    New docs' postings for an EXISTING term land in that term's
    existing bucket by construction (same hash), so queries see the
    merged posting list with no merge step."""
    postings = postings_frame(
        delta_docs, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    postings.repartition("__bucket").write.mode("append").partitionBy(
        "__bucket"
    ).parquet(path)


def snapshot_postings_lookup(
    spark,
    path: str,
    terms: Sequence[str],
    k: int = 20,
    *,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Top-k lexical lookup against a SNAPSHOT-VERSIONED postings
    table (round 14 — the serving read of `streaming.ingest.
    foreach_batch_postings`): the index lives under the D102 manifest
    protocol (each micro-batch is one snapshot version of postings
    rows, committed with per-file ``__bucket`` zone maps), so the
    query plans from ONE manifest read — files are kept only when
    their bucket range overlaps a queried term's bucket, the manifest
    version pins the index state (a query never sees a half-committed
    batch), and exactly-once ingest comes from the protocol's batch_id
    idempotence rather than a bespoke sidecar. Manifest zone maps play
    the role directory partitioning plays in `postings_lookup`; the
    micro-batch writer range-partitions on __bucket so each file's
    range is tight and a k-term query touches ~k files per version."""
    import json
    import os

    from etl_cortex_spark.operators.layout import (
        _manifests,
        _stats_range,
        snapshot_meta,
    )

    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    manifests = _manifests(path)
    if not manifests:
        raise ValueError(f"snapshot_postings_lookup: no manifests under {path}")
    meta = snapshot_meta(path)  # resolved (segmented or inline) head
    stats = meta.get("stats", {})
    keep = []
    for fp in meta["files"]:
        rng = _stats_range(stats.get(os.path.abspath(fp)), "__bucket")
        if rng is None or any(rng[0] <= b <= rng[1] for b in buckets):
            keep.append(fp)
    schema = spark.read.parquet(meta["files"][0]).schema
    terms_lit = F.array(*[F.lit(t) for t in terms])
    base = (
        local_df(spark, [], schema)
        if not keep
        else spark.read.schema(schema).parquet(*keep)
    )
    return (
        base.filter(F.col("__bucket").isin(buckets))
        .filter(F.array_contains(terms_lit, F.col("term")))
        .groupBy(id_col)
        .agg(
            F.countDistinct("term").alias("n_matched"),
            F.sum("tf").alias("total_tf"),
        )
        .orderBy(F.desc("n_matched"), F.desc("total_tf"), id_col)
        .limit(k)
    )
