"""Deduplication operators for LLM training-data pipelines (tier D,
BASELINE.json: "dedup" — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

Scale design
------------
- **exact_dedup**: hash-groupBy on a content digest — one shuffle of
  (digest, id), never of the payload. The survivor rule (min id) is
  deterministic.
- **minhash_lsh_pairs**: the shingle→minhash→band→bucket-join pipeline.
  Work per doc is O(shingles × H) entirely in JVM HOFs; the only
  shuffle is the band-bucket self-join, whose fan-out is controlled by
  the band hash — the classic way to avoid the O(n²) all-pairs join at
  100 TB. Candidates are then verified with exact Jaccard on the
  shingle sets.
- **simhash**: 16-bit rotational-sum signature, pure HOFs; hamming
  buckets give near-dup candidates.
- **ngram_jaccard_pairs**: the exact (quadratic) baseline — only ever
  run on a bounded slice (caller restricts), used as oracle/recall
  reference for the LSH paths.
- **embedding_near_dup_pairs**: cosine threshold over vector pairs —
  quadratic baseline here; the scale path is LSH bucketing in
  operators/similarity.py.

MinHash permutations use universal hashing ``(a·h + b) mod p`` over a
single base ``xxhash64`` reduced to 31 bits, so products stay far from
64-bit overflow (Spark 4 runs ANSI mode: overflow would raise, not
wrap).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_cortex_spark.operators.caching import track

from etl_cortex_spark.operators.textops import shingles

#: slack for comparing a double product such as n·t with the exact
#: rational it stands for
_EPS = 1e-9


def prefix_len(n: F.Column, t: float) -> F.Column:
    """The AllPairs probe-prefix length ``n − ceil(t·n) + 1`` for a set
    of ``n`` tokens at threshold ``t``. ``t·n`` is a rounded double:
    25·0.28 evaluates to 7.000000000000001, whose ceil of 8 would cut
    the prefix one token short and lose a pair with jaccard exactly t.
    The ε pulls such products back onto their integer; a prefix one
    token too long only adds candidates that verification drops."""
    return n - F.ceil(n * F.lit(t) - F.lit(_EPS)).cast("int") + 1

# 2^61-1 (Mersenne prime) — modulus for the universal hash family.
_P = (1 << 61) - 1
_H31 = (1 << 31) - 1


def _perm_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _H31), rng.randrange(0, _H31)) for _ in range(n)]


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: list[str] | None = None,
) -> DataFrame:
    """D1: exact dedup on a sha256 digest; survivor = min id per digest.

    Adds ``n_copies`` so downstream can weight by multiplicity.

    ONE aggregate — ``min(struct(id, ...)) + count`` — not a window:
    partial combine means each map partition ships at most one
    candidate row and a count per digest, so a boilerplate digest with
    a million copies (the exact workload dedup exists for) costs 32
    partial rows in the shuffle instead of a million rows landing on a
    single window task. Survivor choice is deterministic because the
    id leads the struct ordering.

    ``keep`` narrows the carried columns (id is always kept): pass the
    columns the caller actually needs and the digest shuffle becomes
    payload-free (~50 bytes/row) — hashing never needs the text after
    the scan. Default keeps every column, the prep-pipeline posture.
    """
    digest = F.sha2(F.col(text_col).cast("binary"), 256).alias("__digest")
    cols = list(df.columns) if keep is None else (
        [id_col] + [c for c in keep if c != id_col]
    )
    rest = [c for c in cols if c != id_col]
    packed = df.select(digest, F.struct(id_col, *rest).alias("__row"))
    return (
        packed.groupBy("__digest")
        .agg(F.min("__row").alias("__row"), F.count(F.lit(1)).alias("n_copies"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols], "n_copies")
    )


def base_hashes(shingle_col) -> F.Column:
    """xxhash64 → 31-bit base hash per shingle. Materialize this ONCE
    as a column before fanning out to the permutations — inlining it
    into every permutation's lambda defeats common-subexpression
    elimination across HOF scopes and recomputes the string hashing
    ``num_hashes`` times."""
    return F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_H31)))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    persist: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH, verified with
    exact Jaccard over the shingle sets. Returns (id_a, id_b, jaccard)
    with id_a < id_b and jaccard >= threshold.

    Shuffle discipline (the thing that matters at 100 TB): the band
    explode and the bucket self-join carry ONLY (id, band, bucket) —
    ~24 bytes/row — never the shingle arrays. Shingles re-enter by
    joining the (deduplicated, tiny) candidate pair list back to the
    per-doc shingle sets, so payload bytes cross the wire O(candidates)
    instead of O(bands × corpus) twice.

    ``persist`` caches the (id, shingles) frame (MEMORY_AND_DISK, so it
    spills rather than OOMs): four plan branches read it — banding,
    both self-join sides, and verification — and without the cache the
    scan + shingling re-runs per branch (~2× wall on the bench corpus).
    Spark evicts it LRU; pass False for fire-and-forget one-shot use
    on corpora you'd rather re-read than spill.
    """
    base, banded = _shingles_and_bands(
        df, text_col, id_col, k, num_hashes, bands, persist=persist
    )

    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    sh = base.select(F.col("__id"), F.col("__shingles"))
    pairs = (
        cand.join(sh.alias("sa"), F.col("id_a") == F.col("sa.__id"))
        .join(sh.alias("sb"), F.col("id_b") == F.col("sb.__id"))
        .select(
            "id_a",
            "id_b",
            F.col("sa.__shingles").alias("sh_a"),
            F.col("sb.__shingles").alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    j = inter / F.greatest(union, F.lit(1))
    # filter on the exact ratio, round only for display
    return pairs.filter(j >= F.lit(threshold)).select(
        "id_a", "id_b", F.round(j, 6).alias("jaccard")
    )


def minhash_lsh_probe(
    existing: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup check: probe NEW documents against an
    EXISTING corpus index — the maintenance path a production dedup
    runs per ingest batch, instead of re-pairing the whole corpus.

    Bipartite by construction: candidates are (new × existing) bucket
    collisions only — new×new and existing×existing never pair (batch-
    internal dedup is a separate `minhash_lsh_pairs` call). At scale
    the existing side's banded buckets are the persisted index (write
    them bucket-partitioned exactly like `write_ivf_index`); the new
    batch is orders of magnitude smaller, so its banded rows broadcast
    or shuffle cheaply, and verification joins shingles back for
    O(candidates) payload bytes, same as the self-join form.

    Returns (new_id, existing_id, jaccard ≥ threshold).
    """
    ex_base, ex_banded = _shingles_and_bands(
        existing, text_col, id_col, k, num_hashes, bands
    )
    new_base, new_banded = _shingles_and_bands(
        new, text_col, id_col, k, num_hashes, bands
    )
    cand = (
        new_banded.alias("l")
        .join(
            ex_banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket")),
        )
        .select(F.col("l.__id").alias("new_id"), F.col("r.__id").alias("existing_id"))
        .dropDuplicates(["new_id", "existing_id"])
    )
    pairs = (
        cand.join(
            new_base.select(F.col("__id"), F.col("__shingles")).alias("sa"),
            F.col("new_id") == F.col("sa.__id"),
        )
        .join(
            ex_base.select(F.col("__id"), F.col("__shingles")).alias("sb"),
            F.col("existing_id") == F.col("sb.__id"),
        )
        .select(
            "new_id",
            "existing_id",
            F.col("sa.__shingles").alias("sh_a"),
            F.col("sb.__shingles").alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    j = inter / F.greatest(union, F.lit(1))
    # filter on the exact ratio, round only for display
    return pairs.filter(j >= F.lit(threshold)).select(
        "new_id", "existing_id", F.round(j, 6).alias("jaccard")
    )


def prefix_filter_probe(
    existing: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    df_ordered: bool = False,
    metric: str = "jaccard",
) -> DataFrame:
    """Incremental near-dup probe with GUARANTEED recall: prefix-filter
    candidate generation (AllPairs / PPJoin family, Bayardo et al.,
    WWW 2007) instead of MinHash banding. Deterministic and exact, so
    unlike the LSH probe it is oracle-checkable: output = every
    (new, existing) pair with shingle-Jaccard ≥ ``threshold``, no
    probabilistic misses.

    The filter: order each new doc's shingle set S by a fixed global
    token order and keep only its PREFIX of ``|S| - ceil(t·|S|) + 1``
    tokens. If a pair (a ∈ new, b ∈ existing) shares no token of a's
    prefix, then their intersection fits inside a's non-prefix tail,
    so |a∩b| ≤ ceil(t·|Sa|) − 1 < t·|Sa| ≤ t·|a∪b| — i.e. j < t.
    Single-sided prefixing against a FULL inverted index of the
    existing side is therefore a lossless candidate generator for
    pairs ≥ t.

    Scale shape: the existing side's posting list (shingle → doc) is
    the persisted index — written once, shingle-partitioned, exactly
    like the banded LSH index; the new batch explodes only ~(1−t)·|S|+1
    prefix tokens per doc, so the candidate join's probe side is a
    fraction of the batch's shingle volume. Exact verification joins
    shingles back for O(candidates) payload bytes, same as the LSH
    form. Trade-off vs LSH: more candidates per probe (a prefix token
    can be common), perfect recall — the right tool when the dedup
    decision must be reproducible (compliance / training-data
    provenance), with the banded probe as the cheaper lossy sibling.

    ``df_ordered`` switches the global token order to document-
    frequency-ascending — the AllPairs optimization (prefix keeps each
    doc's RAREST tokens, so a prefix hit is nearly always a real
    near-dup). Correctness is order-independent — stronger: with a
    FULL index (one-sided prefixing), the counting argument above
    needs no global order at all, only that each doc keeps SOME
    ``prefix_len``-subset and the rest is its tail; so the df path's
    rank ties (possible across hash collisions now that the join key
    is hashed) are harmless, and df-ascending is purely a
    candidate-count heuristic. Measured round 10 (sf0.1, interleaved, identical output
    asserted): this corpus's vocabulary is UNIFORM-random, so dfs are
    flat and the order buys little (45k → 34k candidates after the
    length filter) while its stats pass + rank window cost ~0.4 s —
    lexicographic wins locally (0.64 s vs 1.05 s best), hence the
    False default. On a real Zipfian corpus common-trigram postings
    dominate the lexicographic candidate set and df-ordering is the
    standard choice; at index scale its stats pass amortizes into the
    index build (computed once when the posting list is written). The
    standard length filter (t·|Sa| ≤ |Sb| ≤ |Sa|/t, necessary for
    j ≥ t) prunes candidates before the verify join on BOTH paths;
    the df path's rank window partitions by new_id — batch-sized by
    contract, never corpus-sized.

    ``metric`` (round 17): ``"jaccard"`` (the default, resemblance —
    symmetric) or ``"containment"`` — |Sa∩Sb| / |Sa| ≥ t, "the new doc
    is t-contained in the existing one": the asymmetric near-dup
    quote/subset detection Jaccard structurally misses (a 50-word
    quote inside a 5000-word article has Jaccard ≈ 0.01 but
    containment ≈ 1.0 — exactly the training-data hazard when
    benchmark snippets hide inside crawl documents). The SAME prefix
    lemma covers it — no shared prefix token bounds |a∩b| ≤
    ceil(t·|Sa|) − 1 < t·|Sa| directly — so candidate generation is
    identical; only the length filter changes (lower bound alone:
    |Sb| ≥ t·|Sa|, since b may be arbitrarily LARGER — that is the
    point) and verification divides by |Sa| instead of the union.

    Returns (new_id, existing_id, jaccard ≥ threshold) — the metric
    column is named ``containment`` under that metric.
    """
    if metric not in ("jaccard", "containment"):
        raise ValueError(
            f"prefix_filter_probe: unknown metric {metric!r} "
            "(jaccard | containment)"
        )
    t = float(threshold)
    # t must be strictly positive: the length filter's upper bound is
    # |Sb| ≤ |Sa|/t, and at t=0 the division yields NULL (non-ANSI) —
    # the predicate would silently drop EVERY candidate, violating the
    # guaranteed-recall contract (round-10 ADVICE). t=0 is also
    # meaningless here (it asks for ALL pairs — use a cross join).
    if not 0.0 < t <= 1.0:
        raise ValueError(
            f"prefix_filter_probe: threshold must be in (0, 1], got {threshold!r}"
        )
    from pyspark import StorageLevel

    # Both shingle frames feed TWO plan branches each (index/probe +
    # verification) — persist so the tokenize pass runs once per side,
    # the same materialization `minhash_lsh_pairs` does (measured
    # ~0.3 s/pass at sf0.1; at scale this is the index build).
    ex_base = track(
        existing.select(
            F.col(id_col).alias("__id"), shingles(F.col(text_col), k).alias("__shingles")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    new_base = track(
        new.select(
            F.col(id_col).alias("__id"), shingles(F.col(text_col), k).alias("__shingles")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # The candidate join runs on xxhash64(token), not the trigram
    # string (round 10): prefix SELECTION stays in string space (the
    # lemma's total order is untouched), only the join KEY is hashed —
    # a shared string token always shares its hash, so recall is
    # preserved exactly, and a 64-bit collision can only ADD a
    # candidate that verification discards. Measured a WASH at sf0.1
    # (interleaved: 0.69 vs 0.68 s — the join is tiny there); kept for
    # the posting-list shuffle at scale, where fixed 8-byte keys vs
    # ~20-char strings is the d51 xxhash-gram-key argument verbatim.
    inv_index = ex_base.select(
        F.col("__id").alias("existing_id"),
        F.size("__shingles").alias("__ex_n"),
        F.explode("__shingles").alias("__tok_s"),
    ).select("existing_id", "__ex_n", F.xxhash64("__tok_s").alias("__tok"))
    if df_ordered:
        from pyspark.sql import Window

        # df per token is one agg over the posting list; the result is
        # token-count-sized (≪ posting rows). NO explicit broadcast
        # hint (round-10 ADVICE): the frame is DISTINCT-VOCABULARY-
        # sized — unbounded in the corpus, not in the batch — so a
        # forced broadcast could blow the driver at index scale. AQE
        # broadcasts it whenever it measures small; otherwise the
        # order join shuffles the batch's exploded tokens, which is
        # the correct fallback at vocabulary scale.
        tok_df = inv_index.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
        exploded = (
            new_base.select(
                F.col("__id").alias("new_id"),
                F.size("__shingles").alias("__new_n"),
                F.explode("__shingles").alias("__tok_s"),
            )
            .select("new_id", "__new_n", F.xxhash64("__tok_s").alias("__tok"))
            # tokens absent from the corpus keep df NULL → fill 0:
            # they sort first (rarest possible) and generate no
            # candidates — still a valid position in the total order.
            .join(tok_df, "__tok", "left")
            .na.fill({"__df": 0})
        )
        w = Window.partitionBy("new_id").orderBy("__df", "__tok")
        probe = (
            exploded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= prefix_len(F.col("__new_n"), t))
            .select("new_id", "__new_n", "__tok")
        )
    else:
        sorted_sh = F.array_sort("__shingles")
        pre = prefix_len(F.size("__shingles"), t)
        probe = new_base.select(
            F.col("__id").alias("new_id"),
            F.size("__shingles").alias("__new_n"),
            F.explode(F.slice(sorted_sh, F.lit(1), pre)).alias("__tok_s"),
        ).select("new_id", "__new_n", F.xxhash64("__tok_s").alias("__tok"))
    # ε-relaxed like the prefix: the bounds are exact rationals that
    # doubles can round past (25·0.28 > 7)
    size_filter = F.col("__ex_n") >= F.col("__new_n") * F.lit(t) - F.lit(_EPS)
    if metric == "jaccard":
        # the symmetric length filter (t·|Sa| ≤ |Sb| ≤ |Sa|/t) is a
        # JACCARD necessity; containment keeps only the lower bound
        # (|Sb| ≥ |Sa∩Sb| ≥ t·|Sa|) — a containing doc may be any size
        size_filter = size_filter & (
            F.col("__ex_n") <= F.col("__new_n") / F.lit(t) + F.lit(_EPS)
        )
    cand = (
        probe.join(inv_index, "__tok")
        .filter(size_filter)
        .select("new_id", "existing_id")
        .dropDuplicates(["new_id", "existing_id"])
    )
    pairs = (
        cand.join(
            new_base.select(F.col("__id"), F.col("__shingles")).alias("sa"),
            F.col("new_id") == F.col("sa.__id"),
        )
        .join(
            ex_base.select(F.col("__id"), F.col("__shingles")).alias("sb"),
            F.col("existing_id") == F.col("sb.__id"),
        )
        .select(
            "new_id",
            "existing_id",
            F.col("sa.__shingles").alias("sh_a"),
            F.col("sb.__shingles").alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    if metric == "containment":
        ratio = inter / F.greatest(F.size("sh_a"), F.lit(1))
    else:
        ratio = inter / F.greatest(F.size("sh_a") + F.size("sh_b") - inter, F.lit(1))
    # filter on the exact ratio, round only for display
    return pairs.filter(ratio >= F.lit(t)).select(
        "new_id", "existing_id", F.round(ratio, 6).alias(metric)
    )


def group_rep_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs AMONG EXACT-DUPLICATE-GROUP REPRESENTATIVES —
    the production composition for corpora with heavy verbatim
    duplication (round 10, motivated by a measured blow-up: the raw
    pair-list contract is Ω(group²) in duplicate-group size, and the
    sf10 probe corpus — ~200-member verbatim groups — made
    `minhash_lsh_pairs` spend 110 s emitting ~10M pairs that all say
    the same thing). Pipeline: `exact_dedup` collapses verbatim
    copies to their min-id representative carrying ``n_copies``, then
    the AllPairs prefix filter (`prefix_filter_probe` applied
    self-bipartite) yields the EXACT pair set with Jaccard ≥
    ``threshold`` among representatives — guaranteed recall, so the
    whole operator is full-oracle-checkable, unlike banded LSH.

    Returns (id_a, id_b, jaccard, n_copies_a, n_copies_b) with
    id_a < id_b: the multiplicities let downstream weight a
    rep-level near-dup edge by the group sizes it stands for —
    exactly the information the 10M expanded pairs carried, at
    1/(group_a·group_b) the rows.

    Scale shape: the exact collapse is one digest-keyed aggregate
    (shuffle carries (digest, id) + counts, never the text twice);
    the quadratic-risk pairing then runs on the COLLAPSED corpus,
    whose size is the number of distinct texts. At 100 TB with
    real-web duplication factors (5-50×) that is the difference
    between an infeasible verify join and a routine one.

    ``reps`` is persisted before fan-out (round-10 ADVICE): four plan
    branches consume it (both prefix_filter_probe sides + two
    n_copies joins) and without the cache the digest group-by would
    recompute up to 4×."""
    from pyspark import StorageLevel

    reps = track(
        exact_dedup(df, text_col=text_col, id_col=id_col, keep=[text_col]).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    pairs = prefix_filter_probe(
        reps, reps, text_col=text_col, id_col=id_col, k=k, threshold=threshold
    ).filter(F.col("new_id") < F.col("existing_id"))
    counts = reps.select(F.col(id_col), F.col("n_copies"))
    return (
        pairs.select(
            F.col("new_id").alias("id_a"),
            F.col("existing_id").alias("id_b"),
            "jaccard",
        )
        .join(
            counts.select(
                F.col(id_col).alias("id_a"), F.col("n_copies").alias("n_copies_a")
            ),
            "id_a",
        )
        .join(
            counts.select(
                F.col(id_col).alias("id_b"), F.col("n_copies").alias("n_copies_b")
            ),
            "id_b",
        )
        .select("id_a", "id_b", "jaccard", "n_copies_a", "n_copies_b")
    )


def group_rep_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """The PRODUCTION-DEFAULT near-dedup survivor set for verbatim-
    heavy corpora (round-10 verdict #6 — promotes the measured 80×
    sf10 win of the group-collapse posture to a certified end-to-end
    pipeline): exact-dup collapse to min-id representatives → EXACT
    AllPairs prefix-filter pairs among representatives
    (guaranteed recall, so the whole pipeline is full-oracle-
    checkable) → connected components → one min-id survivor per
    cluster, carrying ``n_docs`` = the TOTAL number of original
    documents the survivor stands for (Σ of its cluster's exact-group
    sizes — the weight a mixture sampler needs downstream).

    Equivalent to ``near_dedup`` with exact pairing, but the
    quadratic-risk pairing stage runs on the COLLAPSED corpus — the
    composition `group_rep_near_pairs` documents, completed through
    the clustering. ``reps`` is computed ONCE and persisted (three
    consumers: both prefix-probe sides + the weight join), unlike
    composing exact_dedup + group_rep_near_pairs by hand, which would
    recompute the digest aggregate.

    Returns (id_col, n_docs), one row per surviving cluster."""
    from pyspark import StorageLevel

    reps = track(
        exact_dedup(df, text_col=text_col, id_col=id_col, keep=[text_col]).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    pairs = (
        prefix_filter_probe(
            reps, reps, text_col=text_col, id_col=id_col, k=k, threshold=threshold
        )
        .filter(F.col("new_id") < F.col("existing_id"))
        .select(F.col("new_id").alias("id_a"), F.col("existing_id").alias("id_b"))
    )
    labels = connected_components(reps.select(id_col), pairs, max_iter=max_iter)
    return (
        labels.join(
            reps.select(F.col(id_col).alias("node"), "n_copies"), "node"
        )
        .groupBy("label")
        .agg(F.sum("n_copies").alias("n_docs"))
        .select(F.col("label").alias(id_col), "n_docs")
    )


def _shingles_and_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    persist: bool = False,
):
    """(base, banded) frames shared by the self-join and probe forms:
    base = (id, shingles), persisted when requested (multiple plan
    branches read it); banded = (id, band, bucket) — the ~24-byte
    index rows.

    Signature strategy (round 10, interleaved A/B): the minhash mins
    are computed by EXPLODING the base hashes and running
    ``num_hashes`` plain ``min(pmod(a·h+b))`` aggregates — whole-stage
    codegen — instead of the per-row HOF transform+array_min chain
    (interpreted per element; measured d02 0.39 → 0.30 s best at
    sf0.1, every interleaved run faster). Scale shape: a doc's
    exploded hashes stay in its input partition, so the groupBy's
    map-side combine emits ONE row per doc per partition — the
    shuffle is doc-count-sized (~32 ints/doc), never shingle-sized.
    When ``persist`` is set, banded is persisted too (both self-join
    sides read it; without the cache the agg would run twice)."""
    rows = num_hashes // bands
    base = df.select(
        F.col(id_col).alias("__id"), shingles(F.col(text_col), k).alias("__shingles")
    )
    if persist:
        from pyspark import StorageLevel

        base = track(base.persist(StorageLevel.MEMORY_AND_DISK))
    h = base.select("__id", F.explode(base_hashes(F.col("__shingles"))).alias("__h"))
    sig_cols = [
        F.min(F.pmod(a * F.col("__h") + b, F.lit(_P))).alias(f"__s{i}")
        for i, (a, b) in enumerate(_perm_params(num_hashes, 42))
    ]
    sig = h.groupBy("__id").agg(*sig_cols)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[F.col(f"__s{b * rows + r}") for r in range(rows)],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("__id", F.explode(band_cols).alias("bb")).select(
        "__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if persist:
        from pyspark import StorageLevel

        banded = track(banded.persist(StorageLevel.MEMORY_AND_DISK))
    return base, banded


def minhash_lsh_pairs_ml(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """The MLlib path for D2 (SURVEY: ``ml.feature.MinHashLSH`` +
    ``approxSimilarityJoin``): shingles → binary HashingTF sparse
    vectors → MinHash tables → approximate Jaccard-distance self-join.

    Complements the hand-rolled ``minhash_lsh_pairs``: same contract
    (id_a < id_b, jaccard ≥ threshold), different engine — MLlib owns
    the banding internals and its Jaccard is computed on the hashed
    feature sets (HashingTF collisions make it approximate), so results
    are engine-specific (rows-only check; recall vs the exact baseline
    is pinned in pytest).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from etl_cortex_spark.operators.textops import shingles as _sh

    base = df.select(
        F.col(id_col).alias("__id"), _sh(F.col(text_col), k).alias("__shingles")
    ).filter(F.size("__shingles") > 0)
    tf = HashingTF(
        inputCol="__shingles", outputCol="__features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(base)
    mh = MinHashLSH(
        inputCol="__features", outputCol="__hashes", numHashTables=num_hashes, seed=42
    )
    model = mh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="__dist")
    return (
        joined.filter(F.col("datasetA.__id") < F.col("datasetB.__id"))
        .select(
            F.col("datasetA.__id").alias("id_a"),
            F.col("datasetB.__id").alias("id_b"),
            F.round(1.0 - F.col("__dist"), 6).alias("jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _guard_quadratic(df: DataFrame, max_rows: int | None, op: str) -> None:
    """Enforce the bounded-input contract of the quadratic baselines.

    The count is a deliberate eager action: one cheap scan is the price
    of making it impossible to accidentally launch an O(n²) self-join
    over a 100 TB corpus. Pass ``max_rows=None`` to opt out (e.g. when
    the caller already counted).
    """
    if max_rows is not None:
        # limit-probe, not a full count: the scan stops as soon as
        # max_rows+1 rows exist, so the guard's cost is bounded by the
        # cap, not the (possibly huge) input.
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"{op} is an all-pairs quadratic baseline: input exceeds "
                f"max_rows={max_rows} (>{max_rows * (max_rows - 1) // 2} "
                f"pairs). Use the LSH path for large corpora, or pass "
                f"max_rows=None/higher to override."
            )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_rows: int | None = 100_000,
    persist: bool = True,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Exact all-pairs word-k-gram Jaccard (the oracle/recall baseline
    for the LSH paths). Returns (id_a, id_b, jaccard) for every pair
    id_a < id_b.

    With ``min_jaccard`` (> 0) set, only pairs with jaccard ≥ the
    threshold are returned, and the computation switches from the
    quadratic theta self-join to an EXACT prefix-filtered inverted-
    index plan (round 19 indexed every shingle — cost Σ_g freq(g)²,
    quadratic in any HOT shingle's frequency, the boilerplate cliff
    the r19 verdict flagged; round 20 applies the AllPairs/PPJoin
    prefix filter the probe path already carries): order each doc's
    shingle set by document frequency ascending, explode only its
    PREFIX of ``|S| − ceil(t·|S|) + 1`` rarest tokens on the probe
    side, and join against the full index restricted to ``probe id <
    index id``. The single-sided prefix lemma (see
    `prefix_filter_probe`) makes this lossless: a pair sharing no
    probe-prefix token has |a∩b| ≤ ceil(t·|Sa|) − 1 < t·|Sa| ≤
    t·|a∪b|, i.e. j < t. Candidate cost is Σ_g pref(g)·freq(g) —
    df-ascending ordering pushes hot boilerplate shingles OUT of
    prefixes, so a shingle shared by 1% of the corpus no longer
    produces a quadratic join output (pinned on a boilerplate-heavy
    fixture in tests/test_tier_d.py). The ε-relaxed size-ratio filter
    (j ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|)) can only ADMIT extras;
    verification recomputes the exact jaccard from the full shingle
    arrays and filters ≥ t, so the output set is identical to
    filtering the all-pairs form (equivalence pin kept).

    ``persist`` caches the shingle frame (min_jaccard mode reads it
    for the index, the prefix ranking and both verification sides;
    the all-pairs form for both self-join sides); callers owning a
    long-lived session can pass False or clear via
    ``spark.catalog.clearCache()``.
    """
    s = df.select(F.col(id_col).alias("__id"), shingles(F.col(text_col), k).alias("__sh"))
    if min_jaccard is not None and min_jaccard > 0:
        from pyspark import StorageLevel
        from pyspark.sql import Window

        t = float(min_jaccard)
        if persist:
            s = track(s.persist(StorageLevel.MEMORY_AND_DISK))
        e = s.select(
            "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__g")
        ).select("__id", "__n", F.xxhash64("__g").alias("__tok"))
        # hashed join keys (the prefix_filter_probe discipline): a
        # shared string always shares its hash — recall exact — and a
        # 64-bit collision only ADDS a candidate the exact verify drops
        tok_df = e.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
        w = Window.partitionBy("__id").orderBy("__df", "__tok")
        probe = (
            e.join(tok_df, "__tok")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= prefix_len(F.col("__n"), t))
            .select(
                F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__tok"
            )
        )
        index = e.select(
            F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__tok"
        )
        na, nb = F.col("__na"), F.col("__nb")
        cand = (
            probe.join(index, "__tok")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.least(na, nb) >= F.lit(t) * F.greatest(na, nb) - F.lit(_EPS))
            )
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = (
            cand.join(
                s.select(F.col("__id"), F.col("__sh").alias("__sh_a")),
                F.col("id_a") == F.col("__id"),
            )
            .drop("__id")
            .join(
                s.select(F.col("__id"), F.col("__sh").alias("__sh_b")),
                F.col("id_b") == F.col("__id"),
            )
            .drop("__id")
        )
        inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
        union = F.size("__sh_a") + F.size("__sh_b") - inter
        j = inter / F.greatest(union, F.lit(1))
        # filter on the exact ratio, round only for display
        return pairs.filter(j >= F.lit(t)).select(
            "id_a", "id_b", F.round(j, 6).alias("jaccard")
        )
    _guard_quadratic(df, max_rows, "ngram_jaccard_pairs")
    from pyspark import StorageLevel

    if persist:
        s = track(s.persist(StorageLevel.MEMORY_AND_DISK))  # both join sides read it
    a, b = s.alias("a"), s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.col("a.__sh")) + F.size(F.col("b.__sh")) - inter
    return a.join(b, F.col("a.__id") < F.col("b.__id")).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def simhash16(text_col) -> F.Column:
    """16-bit SimHash from whitespace-token xxhash64s, entirely in
    builtin HOFs: per bit, sum +1/-1 over token hashes; bit set when
    the sum is positive."""
    from etl_cortex_spark.operators.textops import words

    toks = words(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # 16 static bit positions → plain python loop with literal masks
    # (shift amounts must be literals in Spark's shift functions).
    # NB: the mask must be closed over via a factory — a default-arg
    # lambda would change the visible arity and break HOF binding.
    def bit_counter(mask: int):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        )

    out = F.lit(0)
    for b in range(16):
        mask = 1 << b
        out = out + F.when(bit_counter(mask) > 0, F.lit(mask)).otherwise(F.lit(0))
    return out.cast("bigint")


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    persist: bool = True,
) -> DataFrame:
    """Near-dup pairs whose 16-bit SimHashes differ in at most
    ``max_hamming`` bits, via Hamming-LSH banding: the signature is
    split into ``bands`` equal bit-bands, each doc explodes to
    (band, band_value) keys, and the self-join matches on those keys.

    Pigeonhole guarantee: a pair with hamming ≤ bands-1 has at least
    one band with zero differing bits, so for the default 4 bands and
    max_hamming=3 recall is 100% (pinned in tests/test_tier_d.py) —
    unlike a single top-byte bucket, which silently dropped pairs
    differing in that byte. Bucket sizes are bounded too: 4-bit band
    values give 16 buckets per band on random signatures, vs one
    N/256-row quadratic bucket per top-byte value.

    The exploded join carries only (id, sim, band, value) — 24 bytes a
    row; payloads never shuffle.
    """
    from pyspark import StorageLevel

    if 16 % bands:
        raise ValueError(f"bands={bands} must divide the 16-bit signature")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} bands "
            f"for the pigeonhole recall guarantee (got bands={bands})"
        )
    band_bits = 16 // bands
    vmask = (1 << band_bits) - 1
    sh = df.select(F.col(id_col).alias("__id"), simhash16(F.col(text_col)).alias("__sim"))
    if persist:
        sh = track(sh.persist(StorageLevel.MEMORY_AND_DISK))  # both join sides read it
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("__sim", i * band_bits).bitwiseAND(F.lit(vmask)).alias("val"),
            )
            for i in range(bands)
        ]
    )
    banded = sh.select("__id", "__sim", F.explode(band_keys).alias("bb")).select(
        "__id", "__sim", F.col("bb.band").alias("band"), F.col("bb.val").alias("val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(xor).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    max_rows: int | None = 100_000,
    persist: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact quadratic baseline,
    guarded by ``max_rows`` — the LSH-bucketed scale path lives in
    similarity.py)."""
    from pyspark import StorageLevel

    _guard_quadratic(df, max_rows, "embedding_near_dup_pairs")
    v = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    if persist:
        v = track(v.persist(StorageLevel.MEMORY_AND_DISK))  # both join sides read it
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.__v"), F.col("b.__v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (norm(F.col("a.__v")) * norm(F.col("b.__v")))
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"), "cosine")
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a candidate-pair graph via iterative
    min-label propagation — joins and aggregations only, no GraphFrames
    dependency. Returns (node, label) where label is the component's
    minimum node id (singletons label themselves).

    ``nodes`` is a 1-column frame of ids; ``pairs`` has (id_a, id_b).

    Scale design: each round is one shuffle-join of the edge list
    against the current labels plus a min-aggregate — O(E) state, no
    driver-side graph. Rounds needed = graph diameter, and LSH dup
    clusters are near-cliques (diameter ≤ 2-3 in practice); max_iter
    bounds pathological chains. Convergence is detected by the label
    sum (strictly decreasing until fixpoint — labels only ever move
    down to the component min), one scalar action per round.
    ``localCheckpoint`` truncates the otherwise exponentially nesting
    join lineage each round; on a real cluster with a checkpoint dir,
    ``checkpoint()`` gives the same truncation fault-tolerantly.
    """
    node_col = nodes.columns[0]
    # Materialize the edge list ONCE: every propagation round reads it,
    # and without the checkpoint each round's job would re-execute the
    # whole upstream pair-generation plan (the LSH pipeline or the
    # quadratic baseline) from scratch.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("__nbr_min"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("__nbr_min", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # exhaustion != convergence: silently returning mid-propagation
        # labels would split one true cluster into several "survivors".
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds — the pair graph has a chain longer than max_iter; "
            f"raise max_iter (rounds needed = graph diameter)."
        )
    return labels


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    edge rewriting (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14) — the diameter-INDEPENDENT
    sibling of ``connected_components``. Same contract: (node, label),
    label = component minimum, singletons label themselves.

    Why a second algorithm: min-label propagation needs one round per
    hop of graph diameter — a 10⁶-long chain (pathological but real in
    near-dup graphs built from sliding shingles) needs 10⁶ shuffles.
    The star rewrite contracts paths by pointer-doubling instead:

      large-star: every node u computes m = min(Γ(u) ∪ {u}) and
                  re-wires its LARGER neighbors v > u to (v, m);
      small-star: u re-wires its smaller-or-equal neighbors (and
                  itself) to (v, m).

    Each phase is one symmetric-neighbor groupBy (partial-combined
    min) + one join — the same shuffle cost per round as label
    propagation — but the number of rounds is O(log n) in practice
    (O(log² n) proven), regardless of diameter. The fixpoint is a
    forest of stars rooted at each component's minimum, read out
    directly as the label. The equivalence pytest runs both
    algorithms on chain/star/random fixtures; the scale pytest runs a
    200-chain where label propagation with the same round budget
    provably cannot finish.
    """
    node_col = nodes.columns[0]
    und = (
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )

    def _sig(e: DataFrame):
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("sh"),
        ).first()
        return (r["n"], r["sa"], r["sb"], r["sh"])

    edges = und
    sig = _sig(edges)
    converged = False
    for _ in range(max_iter):
        changed = False
        for phase in ("large", "small"):
            nbrs = edges.select(
                F.col("a").alias("u"), F.col("b").alias("v")
            ).unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
            mins = nbrs.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            joined = nbrs.join(mins, "u")
            if phase == "large":
                out = joined.filter(F.col("v") > F.col("u")).select("v", "m")
            else:
                out = joined.filter(F.col("v") < F.col("u")).select("v", "m").unionAll(
                    mins.select(F.col("u").alias("v"), "m")
                )
            edges = (
                out.filter(F.col("v") != F.col("m"))
                .select(F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b"))
                .distinct()
                .localCheckpoint()
            )
            new_sig = _sig(edges)
            if new_sig != sig:
                changed = True
            sig = new_sig
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in max_iter={max_iter} "
            f"alternating rounds — raise max_iter (O(log n) rounds expected)."
        )
    # fixpoint edges are (component_min, node) stars
    from_edges = edges.groupBy(F.col("b").alias("node")).agg(
        F.min("a").alias("__lbl")
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(from_edges, "node", "left")
        .select("node", F.coalesce("__lbl", "node").alias("label"))
    )


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    max_iter: int = 20,
    exact_first: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-duplicate removal: candidate pairs → connected
    components → one deterministic survivor (min id) per cluster.
    Returns the input rows minus the losers — the operator a training
    -data pipeline actually calls (pairs alone are only step one).

    ``pairs`` defaults to ``minhash_lsh_pairs(df, **lsh_kwargs)``; pass
    an explicit (id_a, id_b) frame to cluster by any other notion of
    near-duplicate (exact Jaccard, SimHash, embedding cosine).

    ``exact_first`` (default, only when ``pairs`` is None) collapses
    byte-identical documents by content digest BEFORE MinHash: exact
    copies are jaccard-1.0 cliques, so on a dup-heavy corpus the LSH
    candidate count grows quadratically per clique while the digest
    groupBy is linear. Measured on the 10×-replicated bench corpus the
    LSH stage alone was 22× slower without it. Survivors are identical
    either way: digest-group members connect to their digest-min id,
    the LSH pairs between representatives connect the clusters.
    """
    if pairs is None:
        if exact_first:
            digest = F.sha2(F.col(text_col).cast("binary"), 256).alias("__digest")
            w = Window.partitionBy("__digest")  # whole-partition min, no frame
            keyed = df.select(F.col(id_col).alias("__node"), digest).withColumn(
                "__rep", F.min("__node").over(w)
            )
            # member→representative edges for every exact-dup group
            exact_pairs = (
                keyed.filter(F.col("__node") != F.col("__rep"))
                .select(F.col("__rep").alias("id_a"), F.col("__node").alias("id_b"))
            )
            reps = keyed.filter(F.col("__node") == F.col("__rep")).select("__node")
            rep_docs = df.join(reps, df[id_col] == reps["__node"], "left_semi")
            lsh_pairs = minhash_lsh_pairs(
                rep_docs, text_col=text_col, id_col=id_col, **lsh_kwargs
            ).select("id_a", "id_b")
            pairs = exact_pairs.unionByName(lsh_pairs)
        else:
            pairs = minhash_lsh_pairs(
                df, text_col=text_col, id_col=id_col, **lsh_kwargs
            )
    labels = connected_components(
        df.select(id_col), pairs.select("id_a", "id_b"), max_iter=max_iter
    )
    survivors = labels.filter(F.col("node") == F.col("label")).select("node")
    return df.join(
        survivors, df[id_col] == survivors["node"], "left_semi"
    )


def incremental_exact_dedup(
    existing: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of a NEW ingest batch against an EXISTING corpus —
    the per-batch maintenance path of D1, the exact-hash sibling of the
    LSH/prefix probes: a new document survives iff its content digest
    appears neither in the existing corpus nor earlier (by id) within
    its own batch.

    Scale shape: the existing side reduces to DISTINCT digests — at
    production scale that digest set IS the persisted dedup index
    (bucketed by digest, appended per batch), so the anti join is
    digest-keyed and payload-free; the in-batch tiebreak is the same
    min-struct aggregate as ``exact_dedup`` (map-side combinable, one
    candidate per digest per partition). Nothing rescans existing
    payloads.

    NULL-text rows are dropped from the batch up front (round-6
    ADVICE): ``sha2(NULL)`` digests to NULL, which a left_anti join
    would pass through (NULL never matches) while the SQL oracle's
    ``digest NOT IN (...)`` drops it — filtering first keeps both
    engines agreeing and keeps the dedup index NULL-free.

    Returns the surviving new rows (id, digest) ordered by id.
    """
    digest = F.sha2(F.col(text_col).cast("binary"), 256)
    seen = (
        existing.where(F.col(text_col).isNotNull())
        .select(digest.alias("__digest"))
        .distinct()
    )
    packed = new.where(F.col(text_col).isNotNull()).select(
        digest.alias("__digest"), F.col(id_col)
    )
    batch_first = (
        packed.groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
    )
    return (
        batch_first.join(seen, "__digest", "left_anti")
        .select(id_col, F.col("__digest").alias("digest"))
    )
