"""Embedding similarity search (tier D / BASELINE.json: "similarity
search over an embedding column").

Two paths, per the scale contract:

- **cosine_topk** — exact brute force: one scan, dot/norm as builtin
  HOFs (zip_with + aggregate fold), TakeOrdered top-k. At 100 TB this
  is the per-query baseline and the verifier for the ANN path; the
  scan parallelizes perfectly and the top-k needs no full sort
  (Catalyst plans TakeOrderedAndProject).
- **lsh_topk** — random-hyperplane LSH: H fixed signed projections →
  2^H buckets; only the query's bucket is scanned for candidates. The
  hyperplanes are deterministic literals (seeded off-line), so results
  are reproducible across engines and runs — and the bucketing column
  can be precomputed and used as a partition key at scale (IVF-style:
  partition pruning turns a 100 TB scan into one bucket's worth).

Norm conventions: vectors are cast float→double before any
arithmetic; fold order is left-to-right in both our HOFs and the
oracle SQL so cross-engine sums agree bit-for-bit at round(6).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_cortex_spark.operators.localframe import local_df


def as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


# --- literal-vector path: the FOLD, by measurement ----------------------------
#
# Round-9 adopted an element_at UNROLL for literal operands (query
# vectors, hyperplanes, centroids) on the theory that HOF lambdas are
# interpreted per row while unrolled arithmetic rides whole-stage
# codegen, backed by one slope-window measurement (d03 sf1 0.24 s ->
# 0.15 s). The round-10 interleaved three-way A/B (fold vs
# guarded-unroll vs unguarded-unroll alternating in ONE JVM)
# REFUTED it: the zip_with/aggregate fold wins at BOTH scale factors —
# sf0.1: fold 0.066 s, unguarded unroll 0.132 s, size-guarded unroll
# 0.184 s; sf1: fold 0.082 s, unroll 0.121 s, guarded 0.717 s. The
# round-9 number was host-window drift (the same drift BASELINE.md
# documents at ~1.5x between windows). Mechanically: a 64-dim cosine
# unrolls to a ~190-node expression whose generated code exceeds the
# JIT-friendly method size, while the fold is one tight loop the JVM
# optimizes well — and wrapping the big tree in the dim-guard CaseWhen
# (needed for ragged-input NULL-degrade) makes it 6x worse again.
# So dot_lit/norm_sq_expr/cosine_lit below are FOLDS over a literal
# array: same left-to-right ((0+t1)+t2)+... order, bit-identical
# values, natural NULL-degrade on dim mismatch (zip_with pads the
# short side with NULL -> NULL sum), no guard needed.


def _lit_array(q: list[float]) -> Column:
    """Literal double array. Built as ONE parsed SQL expression rather
    than dim py4j `F.lit` calls (round 19): constructing a 64-element
    literal via the Column API costs ~45 ms of driver round-trips and
    the similarity family builds dozens per plan (6-plane lsh_bucket =
    6 arrays, k-means = k per iteration) — measured 4x faster to
    build, and the parsed tree is bit-identical (shortest-roundtrip
    repr + D suffix re-parses to the same double; verified on
    denormals/negatives). Non-finite elements (inf/nan — e.g. a
    degenerate data-derived centroid) render as explicit CASTs because
    ``infD``/``nanD`` do not parse (round-20 — the r19 ADVICE guard;
    same rendering as clustering._render_double)."""
    if not q:
        return F.array().cast("array<double>")

    def r(x: float) -> str:
        x = float(x)
        if x != x:
            return "CAST('NaN' AS DOUBLE)"
        if x == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if x == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"{x!r}D"

    return F.expr("array(" + ",".join(r(x) for x in q) + ")")


def dot_lit(v: Column, q: list[float]) -> Column:
    """dot(v, literal q): the zip_with/aggregate fold over a literal
    array — measured fastest (round-10 A/B, block comment above), and
    NULL on dim mismatch by construction (zip_with pads the short
    side with NULL)."""
    return dot(v, _lit_array(q))


def norm_sq_expr(v: Column, dim: int) -> Column:
    """Σ v[i]^2 as the aggregate fold (order == l2norm's). ``dim`` is
    kept for signature stability; the fold runs over the vector's
    actual length — callers pair it with a ``dot`` whose NULL-degrade
    already voids ragged rows."""
    return F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x)


def cosine_lit(v: Column, q: list[float]) -> Column:
    """cosine(v, literal q) — the HOF fold over a literal array (the
    measured-fastest form at every SF; round-10 A/B). Left-to-right
    IEEE folds on both engines → bit-identical round(6) values; dim
    mismatch → NULL dot → NULL cosine (the zip_with degrade)."""
    return cosine(v, _lit_array(q))


def hyperplanes(dim: int, n: int = 8, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (literals, no runtime
    RNG) for sign-LSH. Gaussian via random.Random for portability."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit j set iff dot(vec, plane_j) > 0."""
    out = F.lit(0)
    for j, plane in enumerate(planes):
        out = out + F.when(dot_lit(vec, plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("int")


def query_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side twin of ``lsh_bucket`` for a literal query vector —
    ONE definition of the sign convention (strict > 0), shared by the
    full-scan and IVF paths so index and query can never disagree."""
    return sum(
        (1 << j)
        for j, plane in enumerate(planes)
        if sum(a * b for a, b in zip(query_vec, plane)) > 0
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.
    Deterministic total order: (cosine desc, id asc)."""
    v = as_double(F.col(vec_col))
    return (
        df.select(F.col(id_col), F.round(cosine_lit(v, query_vec), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ann_brp_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_length: float = 2.0,
    n_tables: int = 3,
) -> DataFrame:
    """The MLlib path for ANN (SURVEY D3: ``BucketedRandomProjectionLSH``):
    Euclidean-LSH bucketing + ``approxNearestNeighbors`` for the top-k,
    re-scored with exact cosine for a comparable output contract
    (vec_id, cosine). The hashing is engine-specific; since round 9 the
    d03_ann_brp_topk registry entry wraps this in an EPSILON-RECALL
    oracle (recall@5 vs the exact euclidean top-5 ≥ 4/5), and the
    pytest suite pins rank-consistency against the brute-force baseline.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    feat = df.select(
        F.col(id_col), array_to_vector(as_double(F.col(vec_col))).alias("__vec")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="__vec",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=n_tables,
        seed=7,
    )
    model = brp.fit(feat)
    hits = model.approxNearestNeighbors(
        feat, Vectors.dense([float(v) for v in query_vec]), k, distCol="__dist"
    )
    q = _lit_array([float(v) for v in query_vec])
    vec_arr = F.transform("__vec_arr", lambda x: x.cast("double"))
    from pyspark.ml.functions import vector_to_array

    return (
        hits.withColumn("__vec_arr", vector_to_array("__vec"))
        .select(
            F.col(id_col),
            F.round(cosine(vec_arr, q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: candidates = vectors in the query's sign-LSH bucket,
    ranked by exact cosine. Recall < 1 by design; the planes being
    literals makes the result deterministic and oracle-checkable."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbucket = query_bucket(query_vec, planes)
    v = as_double(F.col(vec_col))
    return (
        df.withColumn("__bucket", lsh_bucket(v, planes))
        .filter(F.col("__bucket") == qbucket)
        .select(F.col(id_col), F.round(cosine_lit(v, query_vec), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 7,
    dim: int | None = None,
) -> None:
    """Materialize the IVF-style ANN index: precompute the sign-LSH
    bucket and write parquet PARTITIONED BY the bucket — one directory
    per cell. At 100 TB this is what turns `lsh_topk`'s bucket filter
    into partition pruning: the query reads 1/2^n_planes of the corpus
    and the other cells are never listed, let alone scanned
    (demonstrated in tests/test_plans.py::test_ivf_partition_pruning).

    ``dim`` is peeked from the first row when not given (one tiny
    eager action, writer-side only).

    The frame is repartitioned BY THE BUCKET before the partitioned
    write (the ``append_ivf_index`` discipline, round 19): without it
    every scan task opens a writer per touched cell — O(tasks × 2^n)
    files of a few KB each — while hashing on the bucket lands each
    cell's rows in one task → one file per cell, and the read side
    pays one footer per cell instead of dozens (guide §6 small-files:
    both the write and every subsequent probe were measured faster).
    """
    if dim is None:
        # first NON-NULL vector (round-3 advice, same as semantic_dedup)
        first = (
            df.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .first()
        )
        if first is None or first[0] is None or first[0] < 0:
            raise ValueError(
                f"write_ivf_index: cannot infer vector dim — input is "
                f"empty or {vec_col!r} is NULL in every row; pass dim "
                f"explicitly"
            )
        dim = first[0]
    planes = hyperplanes(dim, n_planes, seed)
    out = df.withColumn("__bucket", lsh_bucket(as_double(F.col(vec_col)), planes))
    out.repartition("__bucket").write.mode("overwrite").partitionBy(
        "__bucket"
    ).parquet(path)


def append_ivf_index(
    delta: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 7,
    dim: int | None = None,
) -> None:
    """INCREMENTAL maintenance of a ``write_ivf_index`` table (round 13
    — the ingest path the index was missing): bucket the delta batch
    with the SAME deterministic hyperplanes as the base (``dim`` +
    ``n_planes`` + ``seed`` fully determine them, so matching knobs ⇒
    matching cell assignment by construction) and APPEND it
    partition-aligned — each sign-LSH cell directory gains exactly one
    new file holding its delta vectors, and cells the delta doesn't
    touch are never listed, let alone rewritten. The delta is
    repartitioned by the bucket id first so a cell's rows land in one
    task → one file per touched cell per batch (the
    ``bucketed_fact_with_delta`` discipline applied to the ANN index).

    At 100 TB this is the difference between re-shuffling the whole
    corpus per ingest batch and a delta-sized write: cost is
    O(|delta|) shuffle + O(touched cells) files, independent of base
    size. The query path (``lsh_topk_ivf``) is UNCHANGED — the bucket
    equality still prunes to ONE partition directory, which now simply
    holds base + delta files (numPartitions==1 over multi-file cells
    is pinned in tests/test_plans.py). Compaction of accumulated
    per-batch files is ``layout.compact_parquet``'s job, same as for
    any bucketed fact.

    ``dim`` is peeked from the first non-null delta vector when not
    given; it MUST equal the base's dim or the planes diverge — the
    same contract ``lsh_topk_ivf`` already imposes on the query
    vector.
    """
    if dim is None:
        first = (
            delta.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .first()
        )
        if first is None or first[0] is None or first[0] < 0:
            raise ValueError(
                f"append_ivf_index: cannot infer vector dim — delta is "
                f"empty or {vec_col!r} is NULL in every row; pass dim "
                f"explicitly"
            )
        dim = first[0]
    planes = hyperplanes(dim, n_planes, seed)
    out = delta.withColumn(
        "__bucket", lsh_bucket(as_double(F.col(vec_col)), planes)
    )
    out.repartition("__bucket").write.mode("append").partitionBy(
        "__bucket"
    ).parquet(path)


def lsh_topk_ivf(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k against a ``write_ivf_index`` table: the bucket
    equality predicate prunes to ONE partition directory, then exact
    cosine ranks the cell. Same contract and (given the same planes)
    same result as ``lsh_topk`` — minus the full scan.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbucket = query_bucket(query_vec, planes)
    v = as_double(F.col(vec_col))
    return (
        spark.read.parquet(path)
        .filter(F.col("__bucket") == qbucket)
        .select(F.col(id_col), F.round(cosine_lit(v, query_vec), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_probe_near_dups(
    spark,
    path: str,
    new_df: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """INCREMENTAL SEMANTIC-DEDUP PROBE against the persisted IVF
    index (round 19 — the r18 verdict's #5: the exact (d87),
    MinHash-LSH (d59) and prefix-filter (D59b) incremental-probe
    family had no SEMANTIC member). A NEW batch of embeddings is
    bucketed with the index's own deterministic hyperplanes
    (dim + n_planes + seed fully determine them — the
    `append_ivf_index` contract), and each new vector is flagged iff
    a corpus vector in ITS cell has cosine ≥ ``threshold`` — the
    SemDeDup rule (`clustering.semantic_dedup`) applied bipartite:
    new-vs-corpus, never corpus-vs-corpus.

    Cost shape at 100 TB: the probe reads ONLY the cell directories
    the batch touches — ``__bucket`` is the index's PARTITION column,
    so the driver-side `isin` over the batch's ≤ 2^n_planes distinct
    cells becomes parquet partition pruning (pinned in
    tests/test_plans.py); untouched cells are never listed, let alone
    scanned. The join is |batch| × |touched cells|, with per-vector
    norms hoisted once before the pair predicate (the semantic_dedup
    measurement: 2.7× on the dominant cost). The batch never shuffles
    the corpus and the corpus never re-indexes — this is the ingest
    gate a deduplicated embedding store runs per arriving batch,
    composing with `append_ivf_index` for the survivors.

    Returns one row per FLAGGED new vector: (id, n_mates, max_cosine
    rounded to 6 — deterministic, oracle-checkable). Recall equals
    sign-LSH bucket recall, certified by the ε-recall audit entry
    (`d25_semantic_probe_recall`) exactly like d25's."""
    if dim is None:
        first = (
            new_df.where(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)))
            .first()
        )
        if first is None or first[0] is None or first[0] < 0:
            raise ValueError(
                f"ivf_probe_near_dups: cannot infer vector dim — batch "
                f"is empty or {vec_col!r} is NULL in every row; pass "
                f"dim explicitly"
            )
        dim = first[0]
    planes = hyperplanes(dim, n_planes, seed)
    v = as_double(F.col(vec_col))
    norm = F.sqrt(norm_sq_expr(v, dim))
    nb = new_df.select(
        F.col(id_col).alias("__nid"),
        lsh_bucket(v, planes).alias("__bucket"),
        v.alias("__nv"),
        norm.alias("__nn"),
    )
    # the batch's touched cells: ≤ 2^n_planes values, constant-bounded
    # driver state — the isin literal is what turns into partition
    # pruning on the index scan
    cells = [r[0] for r in nb.select("__bucket").distinct().collect()]
    if not cells:
        return local_df(
            spark, [], f"{id_col} bigint, n_mates bigint, max_cosine double"
        )
    idx = (
        spark.read.parquet(path)
        .filter(F.col("__bucket").isin(cells))
        .select(
            "__bucket",
            as_double(F.col(vec_col)).alias("__cv"),
            F.sqrt(norm_sq_expr(as_double(F.col(vec_col)), dim)).alias("__cn"),
        )
    )
    cos = F.round(
        dot(F.col("__nv"), F.col("__cv")) / (F.col("__nn") * F.col("__cn")), 6
    )
    return (
        nb.join(idx, "__bucket")
        .filter(cos >= threshold)
        .groupBy("__nid")
        .agg(
            F.count(F.lit(1)).alias("n_mates"),
            F.max(cos).alias("max_cosine"),
        )
        .select(
            F.col("__nid").alias(id_col),
            F.col("n_mates").cast("bigint").alias("n_mates"),
            "max_cosine",
        )
    )


def snapshot_ivf_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k against a SNAPSHOT-VERSIONED IVF table (round 14 —
    the serving read of `streaming.ingest.foreach_batch_ivf`, the
    vector twin of `search.snapshot_postings_lookup`): the index lives
    under the D102 manifest protocol (each micro-batch one snapshot
    version of (id, vec, __bucket) rows with per-file __bucket zone
    maps), so the query computes its cell driver-side, keeps only
    manifest files whose bucket range covers that cell — zone maps do
    what the partition directory does in `lsh_topk_ivf` — and ranks
    the survivors by exact cosine. The manifest version pins the index
    state per query; exactly-once ingest is the protocol's batch_id
    contract, not a bespoke sink."""
    import json
    import os

    from etl_cortex_spark.operators.layout import (
        _manifests,
        _stats_range,
        snapshot_meta,
    )

    planes = hyperplanes(len(query_vec), n_planes, seed)
    qbucket = query_bucket(query_vec, planes)
    manifests = _manifests(path)
    if not manifests:
        raise ValueError(f"snapshot_ivf_topk: no manifests under {path}")
    meta = snapshot_meta(path)  # resolved (segmented or inline) head
    stats = meta.get("stats", {})
    keep = []
    for fp in meta["files"]:
        rng = _stats_range(stats.get(os.path.abspath(fp)), "__bucket")
        if rng is None or (rng[0] <= qbucket <= rng[1]):
            keep.append(fp)
    schema = spark.read.parquet(meta["files"][0]).schema
    base = (
        local_df(spark, [], schema)
        if not keep
        else spark.read.schema(schema).parquet(*keep)
    )
    v = as_double(F.col(vec_col))
    return (
        base.filter(F.col("__bucket") == qbucket)
        .select(F.col(id_col), F.round(cosine_lit(v, query_vec), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --- int8 quantization (the ANN storage path at corpus scale) -----------------


def quantize_embedding(vec: Column, bits: int = 8) -> Column:
    """Symmetric per-vector int quantization: ``struct(scale double,
    q array<tinyint>)`` with ``scale = max(|v|)/qmax`` so dequantized
    values are ``q * scale``. 4× smaller than float32 on disk and in
    shuffle — at corpus scale the index fits where floats wouldn't.
    All-zero vectors quantize to all-zero with scale 0 (no division)."""
    qmax = float(2 ** (bits - 1) - 1)
    v = as_double(vec)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(qmax)
    q = F.transform(
        v,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.round(x / scale))
        .cast("tinyint"),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_embedding(q: Column, scale: Column) -> Column:
    """Inverse of ``quantize_embedding``: ``array<double>`` ≈ original."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def quantized_centroid_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    topk: int = 20,
) -> DataFrame:
    """Embedding-space outlier audit: the top-k vectors farthest from
    the corpus centroid — the standard pre-index hygiene pass (corrupt
    encodes, all-zero rows, wrong-modality strays) before ANN indexing
    or semantic dedup.

    The float-sum trap, and why the centroid is computed in INTEGER
    space: a double centroid `avg(x_i)` is summation-order-dependent
    (Spark's partial aggregates vs any single-threaded engine differ in
    the last ULP), and an outlier CUT on a noisy threshold is not
    reproducible. Instead each component is quantized once —
    ``q = floor(x*scale + 0.5)`` is a single deterministic rounding of
    the exact float32→double value — and the per-dimension SUMS of q
    are exact BIGINTs (order-free). The squared distance then uses the
    exact integer residual ``n·q_i − S_i`` (distance to the mean
    without ever dividing): cast to double, squared, summed in index
    order — every operation identical on any engine, so the ranking is
    bit-reproducible. Overflow headroom: |n·q| ≤ n·scale·max|x|; at
    1e9 vectors and |x|≤10 that is 1e13 — exact in a double and far
    inside BIGINT.

    Plan shape: one agg pass (dim per-component sums + count, map-side
    combined) → 1-row broadcast → column-side distance → TakeOrdered
    top-k. The vectors are never shuffled.

    Returns (id_col, dist) with dist = sqrt(Σ residual²)/(scale·n) —
    the actual Euclidean distance to the centroid, rounded at 6dp.
    """
    q = emb.select(
        F.col(id_col),
        F.transform(
            as_double(vec_col), lambda x: F.floor(x * scale + F.lit(0.5)).cast("long")
        ).alias("__q"),
    )
    sums = q.agg(
        F.array(*[F.sum(F.col("__q")[i]) for i in range(dim)]).alias("__s"),
        F.count(F.lit(1)).alias("__n"),
    )
    resid2 = F.aggregate(
        F.zip_with(
            "__q",
            "__s",
            lambda qi, si: ((F.col("__n") * qi - si).cast("double"))
            * ((F.col("__n") * qi - si).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        q.crossJoin(F.broadcast(sums))
        .select(
            id_col,
            F.round(
                F.sqrt(resid2) / (F.lit(float(scale)) * F.col("__n")), 6
            ).alias("dist"),
            resid2.alias("__d2"),
        )
        .orderBy(F.desc("__d2"), id_col)
        .limit(topk)
        .select(id_col, "dist")
    )


def lsh_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """BATCH ANN serving: exact-cosine top-k per query for a WHOLE
    BATCH of query vectors, candidates pruned to each query's sign-LSH
    bucket — the shape an embedding service actually runs (one request
    carries hundreds of queries; per-query full scans would be
    hundreds of scans). One corpus scan, zero corpus shuffle: the
    bucketed query batch is broadcast and hash-joined on the bucket
    id, so each corpus row is tested against only the queries sharing
    its cell (expected fan-out |batch|/2^n_planes per row); exact
    cosine then ranks candidates and a query-partitioned row_number
    keeps k. The window partitions by query id — batch-sized, never
    corpus-sized (each partition holds one bucket's candidates,
    ~|corpus|/2^n_planes rows; at 100 TB the same join against a
    `write_ivf_index` table turns the bucket equality into partition
    pruning per query).

    The hyperplanes are deterministic literals (``hyperplanes(dim,
    n_planes, seed)``) shared with `lsh_topk` — index and batch can
    never disagree on the bucketing. Returns (query_id, id_col,
    cosine) with the (cosine desc, id asc) total order per query.
    """
    planes = hyperplanes(dim, n_planes, seed)
    cv = as_double(F.col(vec_col))
    c = corpus.select(
        F.col(id_col), cv.alias("__cv"), lsh_bucket(cv, planes).alias("__bucket")
    )
    q = queries.select(
        F.col(query_id_col), cv.alias("__qv"), lsh_bucket(cv, planes).alias("__bucket")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        c.join(F.broadcast(q), "__bucket")
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__cv"), F.col("__qv")), 6).alias("cosine"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id_col, id_col, "cosine")
    )


def sized_n_planes(
    n_tgt: int, target_pool: int = 256, max_planes: int = 30
) -> int:
    """The d25/d03 LSH sizing rule as BEHAVIOR (round 14 — the round-13
    verdict's one measured scale-killer was `bitext_margin_pairs`
    defaulting to a fixture-sized plane count): the smallest plane
    count n whose expected per-source candidate pool,

        pool(n) = (n + 1) * n_tgt / 2**n
                  (radius-1 multi-probe visits n+1 cells; each cell
                   holds n_tgt / 2**n targets in expectation),

    stays within ``target_pool``. Pools held constant make the
    candidate join LINEAR in the corpus (|src| * target_pool pairs)
    instead of quadratic at a pinned n. Monotone decreasing in n, so
    the first n that fits is the unique minimal choice — deterministic
    from the corpus count alone, no sampling, no RNG. ``max_planes=30``
    (2^30 cells, cell key well under 63 bits) covers corpora to ~10^10
    vectors at the default pool."""
    n = 1
    while n < max_planes and (n + 1) * n_tgt / (2.0**n) > target_pool:
        n += 1
    return n


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.5,
    n_planes: int | None = None,
    seed: int = 7,
    dim: int = 64,
    vec_col: str = "embedding",
    src_id_col: str = "src_id",
    tgt_id_col: str = "tgt_id",
) -> DataFrame:
    """MARGIN-BASED BITEXT MINING (round 13) — the parallel-corpus
    construction step of a multilingual training pipeline (the
    Artetxe & Schwenk margin criterion, CCMatrix-style): for every
    source-language embedding, find the target-language candidate
    whose cosine stands out RELATIVE to both vectors' neighborhoods,

        margin(x, y) = cos(x, y) / (avg_k NN(x)/2 + avg_k NN(y)/2),

    and emit the best-margin pair per source when it clears
    ``threshold``. Raw cosine alone over-mines hub vectors (points
    close to everything); the margin normalizes by each side's
    neighborhood density — the published fix this operator reproduces.

    Scale shape: candidates come from a sign-LSH cell join with
    radius-1 MULTI-PROBE on the source side (the d12c recall device) —
    both sides shuffle ONCE on the cell key; the neighborhood averages
    are windows over candidate pools (cell-sized), not the corpus; the
    final argmax is one more pool window. The pairwise candidate JOIN
    is the scaling term and ``n_planes`` is its knob: cells must grow
    with the corpus. ``n_planes=None`` (the default since round 14)
    DERIVES the plane count from one cheap target-side count via
    `sized_n_planes` — per-source pools held ~constant, candidate
    pairs linear in the corpus — which retires the round-13 measured
    superlinearity of the old pinned default (sf0.1→sf1 6.7×,
    BASELINE.md round-13 probe). Pass an explicit integer only when
    the plane literals must be replayable elsewhere (the d101 oracle
    fixture pins 6 so DuckDB can share them).
    Neighborhoods are computed over the SAME candidate set (documented
    deviation from global kNN — exact at fixture scale where cells
    cover the true neighbors, certified by the planted-pair pytest).

    Cross-engine exactness device: cosines are quantized to integer
    micro-units (round 6dp × 1e6 → BIGINT) BEFORE the window sums, so
    the top-k neighborhood sums are order-free integers and the margin
    is one identical-operand double expression on both engines.
    Returns (src_id, tgt_id, margin, cosine) — one row per mined
    source."""
    from pyspark.sql import Window

    if n_planes is None:
        n_planes = sized_n_planes(tgt.count())
    planes = hyperplanes(dim, n_planes, seed)
    cv = as_double(F.col(vec_col))
    flips = [0] + [1 << j for j in range(n_planes)]
    # round 19: materialize the bucket ONCE per row and xor the flip
    # constants against the column — the old form embedded the whole
    # n_planes x dim dot-fold tree once PER FLIP inside the explode
    # array (n+1 evaluations per row, and an (n+1)x bigger plan for
    # the analyzer); same cells by construction (xor of the same b).
    s = (
        src.select(
            F.col(src_id_col),
            cv.alias("__sv"),
            lsh_bucket(cv, planes).alias("__b"),
        )
        .select(
            src_id_col,
            "__sv",
            F.explode(
                F.array(
                    *[F.col("__b").bitwiseXOR(F.lit(f)) for f in flips]
                )
            ).alias("__cell"),
        )
    )
    t = tgt.select(
        F.col(tgt_id_col),
        cv.alias("__tv"),
        lsh_bucket(cv, planes).alias("__cell"),
    )
    pairs = s.join(t, "__cell").select(
        src_id_col,
        tgt_id_col,
        F.round(cosine(F.col("__sv"), F.col("__tv")), 6).alias("cosine"),
    ).withColumn("__c6", F.round(F.col("cosine") * 1_000_000).cast("bigint"))
    ws = Window.partitionBy(src_id_col).orderBy(
        F.desc("__c6"), F.asc(tgt_id_col)
    )
    wt = Window.partitionBy(tgt_id_col).orderBy(
        F.desc("__c6"), F.asc(src_id_col)
    )
    # round 19: the candidate frame is read THREE times below (both
    # neighborhood aggregates + the scored join) and Spark re-executes
    # the cell join + windows per reference; a lazy per-instance
    # localCheckpoint materializes it once per run (no cross-run
    # cache: every build gets its own checkpoint).
    ranked = (
        pairs.withColumn("__rs", F.row_number().over(ws))
        .withColumn("__rt", F.row_number().over(wt))
        .localCheckpoint(eager=False)
    )
    nbh_s = (
        ranked.filter(F.col("__rs") <= k)
        .groupBy(src_id_col)
        .agg(F.sum("__c6").alias("__sx"), F.count(F.lit(1)).alias("__nx"))
    )
    nbh_t = (
        ranked.filter(F.col("__rt") <= k)
        .groupBy(tgt_id_col)
        .agg(F.sum("__c6").alias("__sy"), F.count(F.lit(1)).alias("__ny"))
    )
    scored = (
        ranked.join(nbh_s, src_id_col)
        .join(nbh_t, tgt_id_col)
        .withColumn(
            "margin",
            (F.lit(2.0) * F.col("__c6"))
            / (F.col("__sx") / F.col("__nx") + F.col("__sy") / F.col("__ny")),
        )
    )
    wm = Window.partitionBy(src_id_col).orderBy(
        F.desc("margin"), F.asc(tgt_id_col)
    )
    return (
        scored.withColumn("__rm", F.row_number().over(wm))
        .filter((F.col("__rm") == 1) & (F.col("margin") >= F.lit(float(threshold))))
        .select(src_id_col, tgt_id_col, "margin", "cosine")
    )


def matryoshka_recall_audit(
    emb: DataFrame,
    n_queries: int = 8,
    dims: tuple = (8, 16, 32),
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """TRUNCATED-DIMENSION retrieval audit (round 15 — the Matryoshka
    question every embedding-serving stack now asks: how much recall
    does serving a PREFIX of the vector cost?): for each truncation
    width m, rank the corpus by cosine over the first m components and
    measure recall@k against the full-dimension exact top-k, averaged
    over the first ``n_queries`` vectors as queries. This is the
    measured basis for the storage/latency knob (a 4× shorter vector
    is 4× less ANN I/O) — the same audit discipline as the LSH/PQ
    ε-recall twins: never adopt a lossy serving path without its
    measured recall.

    Plan shape: ONE broadcast cross join of the corpus against the
    tiny query set, a per-(m, query) window over corpus-sized rows
    (partitioned, never global), and a k-row semi-join per truncation
    — no all-pairs between corpus rows anywhere. Scores round to 6dp
    before ranking with an id tiebreak (the d03 convention), so the
    order — and therefore the recall integers — is engine-exact."""
    from pyspark.sql import Window

    queries = (
        emb.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("__qid"),
            as_double(F.col(vec_col)).alias("__qv"),
        )
    )
    corpus = emb.filter(F.col(id_col) >= n_queries).select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    pairs = corpus.crossJoin(F.broadcast(queries))
    full_dim = 0  # sentinel label for the untruncated ranking
    frames = []
    for m in list(dims) + [full_dim]:
        if m == full_dim:
            sv, sq = F.col("__v"), F.col("__qv")
        else:
            sv, sq = F.slice("__v", 1, m), F.slice("__qv", 1, m)
        frames.append(
            pairs.select(
                F.lit(m).alias("__m"),
                "__qid",
                "__id",
                F.round(cosine(sv, sq), 6).alias("__s"),
            )
        )
    from functools import reduce

    scored = reduce(lambda a, b: a.unionByName(b), frames)
    w = Window.partitionBy("__m", "__qid").orderBy(
        F.desc("__s"), F.asc("__id")
    )
    top = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("__m", "__qid", "__id")
    )
    full_top = top.filter(F.col("__m") == full_dim).select("__qid", "__id")
    hits = (
        top.filter(F.col("__m") != full_dim)
        .join(full_top, ["__qid", "__id"], "left_semi")
        .groupBy(F.col("__m").alias("m"))
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    denom = n_queries * k
    return (
        hits.select(
            "m",
            F.lit(n_queries).alias("n_queries"),
            "hits",
            (F.col("hits").cast("double") / F.lit(denom)).alias("recall_at_k"),
        )
    )
