"""Tier D inventory, data-selection and training extensions (D67-D69,
D71-D72, D78-D79): DSIR importance selection, per-domain cap sampling,
the iterative BPE merge-table trainer, distributed perceptron training,
star-rewrite connected components, group-statistic imputation, and the
image-tiling decode plan.

These are the selection/curation stages of a training-data pipeline
the earlier tiers don't cover: d67 picks WHICH raw documents resemble
a target corpus (Xie et al., NeurIPS 2023), d68 enforces the
"≤ N pages per site" crawl rule, d69 closes the tokenizer loop that
d55 (pair counts) and d57 (merge application) opened — training the
merge table itself.

Oracle notes: d67's bucket hashing is the strpos+md5 hex trick
(portable verbatim); its per-bucket weights are exact integers, so
the distributed document sums hash-match bit-for-bit. d68 orders by
md5 of the key's decimal string — identical text both engines. d69's
oracle UNROLLS the training loop: each iteration is a CTE trio
(pair explosion → argmax with the same (count desc, lhs, rhs)
tiebreak → literal replace), chained n_merges deep; the separator
representation makes the merge a plain replace() in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cortex_spark.operators import llmprep as LP
from etl_cortex_spark.operators import textops as TX
from etl_cortex_spark.queries import T, query

# --- D67: DSIR importance selection ------------------------------------------

_DSIR_SQL = """
WITH toks AS (
  SELECT doc_id, (lang = 'en')::INT AS t,
         unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
  FROM documents
), btoks AS (
  SELECT doc_id, t,
         ((strpos('0123456789abcdef', substring(md5(lower(tok)), 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(md5(lower(tok)), 2, 1)) - 1) % 64 AS b
  FROM toks
), dist AS (
  SELECT b, count(*) AS raw_cnt, sum(t) AS tgt_cnt FROM btoks GROUP BY b
), tot AS (
  SELECT sum(raw_cnt) AS rt, sum(tgt_cnt) AS tt FROM dist
), scored AS (
  SELECT doc_id,
         CAST(sum((tgt_cnt + 1) * (rt + 64) - (raw_cnt + 1) * (tt + 64)) AS BIGINT)
           AS dsir_score
  FROM btoks JOIN dist USING (b) CROSS JOIN tot GROUP BY doc_id
)
SELECT doc_id, dsir_score FROM scored ORDER BY dsir_score DESC, doc_id LIMIT 50
"""


@query("d67_dsir_select", _DSIR_SQL)
def d67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: rank raw documents by hashed-unigram
    importance toward the lang='en' target slice, keep the top 50.
    Pass 1 = one 64-row bucket aggregate (collected model state, the
    k-means-centroid pattern); pass 2 = shuffle-free literal-map fold;
    top-50 = TakeOrderedAndProject. Weights are the exact-integer
    smoothed cross-difference, so both engines hash-match bit-for-bit
    (operators/llmprep.py:dsir_select)."""
    docs = T(spark, sf_dir, "documents")
    return LP.dsir_select(
        docs, "doc_id", "text", F.col("lang") == "en", n_buckets=64, top_m=50
    )


# --- D68: per-domain cap sampling --------------------------------------------

_CAP_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 5
"""


@query("d68_domain_cap_sample", _CAP_SQL)
def d68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-corpus domain cap: at most 5 docs per source, chosen by
    content-hash order (a deterministic uniform draw, identical at any
    partitioning). rank ≤ cap plans as WindowGroupLimit, so the
    per-source exchange is pruned map-side before the shuffle
    (operators/llmprep.py:domain_cap_sample)."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "source")
    return LP.domain_cap_sample(docs, "source", "doc_id", cap=5)


# --- D69: iterative BPE merge-table training ---------------------------------


def _bpe_train_oracle(n_merges: int) -> str:
    """The training loop unrolled as chained CTEs: per iteration a
    pair explosion over the current symbol arrays, the deterministic
    argmax, and the literal-replace merge feeding the next iteration."""
    sep, sep2 = TX.BPE_SEP, TX.BPE_SEP * 2
    parts = [
        f"""
w1 AS (
  SELECT tok AS w, count(*) AS f
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok HAVING length(tok) >= 2
),
v1 AS (
  SELECT '{sep}' || list_aggregate(
           list_transform(generate_series(1, length(w)), i -> w[i]),
           'string_agg', '{sep2}') || '{sep}' AS e, f
  FROM w1
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
s{i} AS (SELECT string_split(substring(e, 2, length(e) - 2), '{sep2}') AS syms, f
         FROM v{i}),
x{i} AS (SELECT unnest(generate_series(1, len(syms) - 1)) AS j, syms, f
         FROM s{i} WHERE len(syms) >= 2),
p{i} AS (SELECT syms[j] AS lhs, syms[j + 1] AS rhs, CAST(sum(f) AS BIGINT) AS pair_count
         FROM x{i} GROUP BY 1, 2),
m{i} AS (SELECT {i} AS step, lhs, rhs, pair_count FROM p{i}
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1)"""
        )
        if i < n_merges:
            parts.append(
                f""",
v{i + 1} AS (SELECT replace(e, '{sep}' || lhs || '{sep2}' || rhs || '{sep}',
                            '{sep}' || lhs || rhs || '{sep}') AS e, f
             FROM v{i} CROSS JOIN m{i})"""
            )
    final = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, n_merges + 1))
    return "WITH " + "".join(parts) + " " + final


@query("d69_bpe_train_merges", _bpe_train_oracle(4))
def d69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 4-rule BPE merge table on the corpus (Sennrich et al.):
    one corpus pass builds the weighted vocabulary, then each
    iteration is vocabulary-only — pair-keyed partial agg, 1-row
    argmax collect (driver model state), literal-replace merge. The
    oracle replays the exact loop as unrolled CTEs
    (operators/textops.py:bpe_train)."""
    docs = T(spark, sf_dir, "documents")
    return TX.bpe_train(docs, "text", n_merges=4)


@query(
    "d58_unigram_em",
    oracle=r"""
    WITH RECURSIVE v AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wf FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS w
        FROM documents) s
      WHERE regexp_matches(w, '^[a-z]+$') AND length(w) BETWEEN 2 AND 10
      GROUP BY w
    ),
    occ AS (
      SELECT substring(w, i, l) AS piece, sum(wf) AS pf
      FROM v, range(1, 11) s(i), range(1, 4) q(l)
      WHERE i + l - 1 <= length(w)
      GROUP BY 1
    ),
    pieces AS (
      SELECT piece, pf, greatest(41 - length(bin(pf)), 0) AS cost FROM (
        SELECT piece, pf FROM occ WHERE length(piece) = 1
        UNION ALL
        SELECT piece, pf FROM (
          SELECT piece, pf FROM occ WHERE length(piece) >= 2
          ORDER BY pf DESC, piece LIMIT 60) tk
      ) u
    ),
    paths(w, pos, cost, seg) AS (
        SELECT w, 0, 0, '' FROM v
      UNION
        SELECT pa.w, pa.pos + length(pc.piece), pa.cost + pc.cost,
               pa.seg || pc.piece || '.'
        FROM paths pa JOIN pieces pc
          ON substring(pa.w, pa.pos + 1, length(pc.piece)) = pc.piece
        WHERE pa.pos < length(pa.w)
    ),
    best AS (
      SELECT w, min(lpad(CAST(cost AS VARCHAR), 6, '0') || '|' || seg) AS key
      FROM paths WHERE pos = length(w) GROUP BY w
    ),
    em AS (
      SELECT unnest(list_filter(string_split(substring(key, 8), '.'),
                                x -> x <> '')) AS piece, wf
      FROM best JOIN v USING (w)
    ),
    agg AS (SELECT piece, CAST(sum(wf) AS BIGINT) AS em_count FROM em GROUP BY piece),
    tot AS (SELECT sum(em_count) AS t FROM agg)
    SELECT piece, em_count, CAST(em_count * 1000000 // t AS BIGINT) AS score_ppm
    FROM agg, tot
    ORDER BY em_count DESC, piece LIMIT 40
    """,
)
def d58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE unigram-LM (SentencePiece) EM iteration (round 12 — the
    tokenizer family's missing member next to BPE d55/d57/d69):
    frequent-substring piece seeding with integer-quantized costs
    (41 − ilog2(freq) — no transcendental log for engines to round
    differently), Viterbi hard-E-step as a pure-JVM string-key fold
    over every distinct clean word, occurrence-weighted M-step counts
    renormalized to exact ppm integer scores. The oracle replays the
    vocabulary/inventory/cost arithmetic verbatim and brute-force
    enumerates every segmentation with a recursive CTE (bounded by
    the length-10 vocab cap), taking the same string-MIN key — the
    worse-algorithm-as-oracle pattern. Independent pure-Python
    reference in tests/test_unigram_em.py
    (operators/textops.py:unigram_em_step)."""
    docs = T(spark, sf_dir, "documents")
    return TX.unigram_em_step(docs, "text", top_multi=60, top_k=40)


# --- D71: distributed perceptron training ------------------------------------

_PERC_FEATS_SQL = """
feats AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y, doc_id AS rid,
         ((strpos('0123456789abcdef', substring(md5(lower(tok)), 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substring(md5(lower(tok)), 2, 1)) - 1) % 64 AS b,
         count(*) AS x
  FROM (SELECT doc_id, lang,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS tok
        FROM documents)
  GROUP BY 1, 2, 3
),
w0 AS (SELECT unnest(generate_series(0, 63)) AS b, CAST(0 AS BIGINT) AS w)
"""


def _perceptron_oracle(n_iters: int) -> str:
    """The training loop unrolled: per iteration score (feats ⋈ w),
    cut the misclassified set (y·s ≤ 0), integer gradient, weight
    update — each a CTE, bit-exact against the distributed run."""
    parts = ["WITH " + _PERC_FEATS_SQL]
    for k in range(1, n_iters + 1):
        parts.append(
            f""",
s{k} AS (SELECT f.y, f.rid, sum(w.w * f.x) AS s
         FROM feats f JOIN w{k - 1} w USING (b) GROUP BY 1, 2),
m{k} AS (SELECT rid FROM s{k} WHERE y * s <= 0),
g{k} AS (SELECT f.b, sum(f.y * f.x) AS g FROM feats f JOIN m{k} USING (rid) GROUP BY 1),
w{k} AS (SELECT w.b, CAST(w.w + COALESCE(g.g, 0) AS BIGINT) AS w
         FROM w{k - 1} w LEFT JOIN g{k} g USING (b))"""
        )
    parts.append(
        f" SELECT b AS bucket, w AS weight FROM w{n_iters} ORDER BY bucket"
    )
    return "".join(parts)


@query("d71_perceptron_weights", _perceptron_oracle(3))
def d71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed integer perceptron training (3 full-batch epochs,
    64 hashed buckets, label = lang='en' as ±1): d63b applies a
    trained linear model, this TRAINS one. Integer features and ±1
    labels make every update exact arithmetic — no learning-rate
    float, no sigmoid — so the oracle unrolls the whole loop as CTEs
    and matches bit-for-bit. Per epoch: one broadcast-weight scoring
    agg + one ≤64-row gradient agg collected as driver model state
    (operators/llmprep.py:perceptron_train)."""
    docs = T(spark, sf_dir, "documents")
    return LP.perceptron_weights_df(
        docs,
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", 1).otherwise(-1),
        n_buckets=64,
        n_iters=3,
    )


# --- D72: star-rewrite connected components ----------------------------------

_CC_STAR_SQL = """
WITH RECURSIVE e AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 < 3
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - (a.doc_id % 20)
  WHERE a.doc_id % 20 >= 15
),
u AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b, id_a FROM e),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.s, walk.label FROM u JOIN walk ON walk.node = u.d
)
SELECT node, min(label) AS label FROM walk GROUP BY node ORDER BY node
"""


@query("d72_cc_star", _CC_STAR_SQL)
def d72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via the alternating large-star/small-star
    edge rewrite (Kiveris et al. SOCC'14) over a seeded chain+star
    graph on the document ids — the diameter-INDEPENDENT sibling of
    the min-label propagation the near-dedup path uses (O(log n)
    alternating rounds vs one round per diameter hop; the 200-chain
    pytest shows propagation provably cannot finish in the same
    budget). The oracle replays reachability with a recursive CTE and
    takes each node's reachable minimum
    (operators/dedup.py:connected_components_star)."""
    from etl_cortex_spark.operators.dedup import connected_components_star

    docs = T(spark, sf_dir, "documents").select("doc_id")
    a, b = docs.alias("a"), docs.alias("b")
    chain = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % 10 < 3)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    star = (
        a.join(
            b,
            F.col("b.doc_id") == F.col("a.doc_id") - (F.col("a.doc_id") % 20),
        )
        .filter(F.col("a.doc_id") % 20 >= 15)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return connected_components_star(docs, chain.unionAll(star))


# --- D78: group-statistic imputation -----------------------------------------

_IMPUTE_SQL_BODY = """
WITH s AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
  FROM {events}
),
m AS (
  SELECT event_type, percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS med
  FROM s WHERE v IS NOT NULL GROUP BY event_type
)
SELECT s.event_id, s.event_type,
       COALESCE(s.v, m.med) AS value_imputed,
       CAST(s.v IS NULL AS INT) AS was_imputed
FROM s JOIN m ON s.event_type = m.event_type
"""


@query("d78_group_impute", _IMPUTE_SQL_BODY.format(events="events"))
def d78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-statistic imputation (the feature-prep step before any
    model training): values NULLed on a deterministic seed are filled
    with their event_type's median. percentile_disc makes the fill an
    ACTUAL data point (c61's cross-engine guarantee — no
    interpolation, no rounding anywhere); the k-row median frame
    broadcasts back onto the fact scan, so imputation costs one small
    agg + a broadcast join. Identical SQL text runs on both engines."""
    ev = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.createOrReplaceTempView("d78_events")
    return spark.sql(_IMPUTE_SQL_BODY.format(events="d78_events"))


# --- D5d: image tiling plan ---------------------------------------------------


@query(
    "d79_image_tile_plan",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id,
             CAST(640 + (doc_id % 5) * 320 AS BIGINT) AS width,
             CAST(480 + (doc_id % 3) * 360 AS BIGINT) AS height
      FROM documents WHERE doc_id % 6 = 0
    ),
    gx AS (
      SELECT asset_id, width, height,
             unnest(range(0, greatest(CAST(ceil(width / 512.0) AS BIGINT), 1))) AS tile_x
      FROM assets
    ),
    g AS (
      SELECT asset_id, width, height, tile_x,
             unnest(range(0, greatest(CAST(ceil(height / 512.0) AS BIGINT), 1))) AS tile_y
      FROM gx
    )
    SELECT asset_id,
           CAST(tile_x AS INT) AS tile_x,
           CAST(tile_y AS INT) AS tile_y,
           tile_x * 512 AS x0,
           tile_y * 512 AS y0,
           least(tile_x * 512 + 512, width) - tile_x * 512 AS tw,
           least(tile_y * 512 + 512, height) - tile_y * 512 AS th
    FROM g
    ORDER BY asset_id, tile_x, tile_y
    """,
)
def d79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal.plan_image_tiles — the ViT-patch / deep-zoom tiling
    manifest (D5d, third decode-plan next to frame sampling and audio
    chunking): 512px grid with truncated edge tiles over synthesized
    per-asset dimensions; two sequence explodes of exact integer
    arithmetic, fully SQL-replayable."""
    from etl_cortex_spark.operators.multimodal import plan_image_tiles

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        (640 + (F.col("doc_id") % 5) * 320).cast("long").alias("width"),
        (480 + (F.col("doc_id") % 3) * 360).cast("long").alias("height"),
    )
    return plan_image_tiles(assets, tile=512)


# --- D80: corpus concentration audit -----------------------------------------

_CONC_SQL = """
WITH c AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS cnt FROM {docs} GROUP BY source),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, source) AS i FROM c),
t AS (SELECT count(*) AS n, CAST(sum(cnt) AS BIGINT) AS tot,
             CAST(sum(cnt * cnt) AS BIGINT) AS sumsq,
             CAST(max(cnt) AS BIGINT) AS mx
      FROM c),
g AS (SELECT CAST(sum(cnt * (2 * i - (SELECT n FROM t) - 1)) AS BIGINT) AS gnum
      FROM r)
SELECT t.n AS n_sources,
       g.gnum / (CAST(t.n AS DOUBLE) * t.tot) AS gini,
       t.sumsq / (CAST(t.tot AS DOUBLE) * t.tot) AS hhi,
       t.mx / CAST(t.tot AS DOUBLE) AS top1_share
FROM t CROSS JOIN g
"""


@query("d80_source_concentration", _CONC_SQL.format(docs="documents"))
def d80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration audit — the "is my corpus dominated by a
    few domains?" question every curation pass asks before mixing:
    Gini coefficient, Herfindahl-Hirschman index, and top-1 share of
    the per-source CHARACTER-mass distribution (the byte-budget view —
    doc counts alone hide a source of few huge documents). Every statistic is a SINGLE
    IEEE division of exact integers (the Gini numerator is the
    classic Σ cnt_i·(2i−n−1) over the sorted counts — integer; HHI is
    Σcnt²/tot²), so the report is bit-exact cross-engine with no
    rounding. The per-source count table is k rows; the rank window
    orders k rows, never documents. Identical SQL text runs on both
    engines."""
    docs = T(spark, sf_dir, "documents").select("source", "n_chars")
    docs.createOrReplaceTempView("d80_documents")
    return spark.sql(_CONC_SQL.format(docs="d80_documents"))


# --- D81: exact-quota stratified split ---------------------------------------

_EXACT_SPLIT_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS STRING)), doc_id
         ) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM {docs}
),
s AS (
  SELECT doc_id, lang,
         CASE WHEN rk * 10 <= n THEN 'val'
              WHEN rk * 5 <= n THEN 'test'
              ELSE 'train' END AS split
  FROM r
)
SELECT lang, split, count(*) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
FROM s GROUP BY lang, split
"""


@query("d81_exact_stratified_split", _EXACT_SPLIT_SQL.format(docs="documents"))
def d81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified split — the complement of d38's
    proportional hash split: exactly ⌊n/10⌋ validation and the next
    ⌊n/5⌋−⌊n/10⌋ test docs PER LANGUAGE, membership decided by
    content-hash rank so the assignment is deterministic and
    partition-invariant (hash thresholds alone can't hit exact
    quotas; quota splits alone aren't reproducible without the hash
    order). The quota tests are pure integer comparisons
    (rk·10 ≤ n), no division anywhere; rank ≤ quota rides the same
    per-stratum window as the count. Identical SQL text runs on both
    engines."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    docs.createOrReplaceTempView("d81_documents")
    return spark.sql(_EXACT_SPLIT_SQL.format(docs="d81_documents"))


@query(
    "d52b_weighted_priority_sample",
    oracle="""
    WITH pr AS (
      SELECT doc_id, lang, n_chars,
             (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 10))
                   AS BIGINT) * 1000000) // n_chars AS __priority
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, CAST(__priority AS BIGINT) AS __priority
    FROM pr ORDER BY __priority, doc_id LIMIT 40
    """,
)
def d52b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmprep.weighted_priority_sample — deterministic WEIGHTED
    sampling without replacement (round 11; the Efraimidis–Spirakis
    weighted-reservoir shape as a batch operator, completing the
    sampling family: md5-threshold keep-RATES, uniform per-group
    caps, exact stratified quotas, and now weight-proportional
    exact-k). Priority = 40-bit md5 uniform · 10^6 // weight — pure
    INTEGER arithmetic, so no transcendental u^(1/w) for two engines
    to disagree about and the exact-k cut can never flip on a ulp;
    longer documents (weight = n_chars) get proportionally smaller
    expected priorities and dominate the selection without crowding
    it out entirely. Plan: pure projection + TakeOrdered(40) — no
    global sort, no shuffle beyond the top-k; the oracle replays the
    identical integer priority and cut."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return LP.weighted_priority_sample(docs, k=40, weight_col="n_chars")
