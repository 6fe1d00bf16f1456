"""Tier D extensions, round-2 second wave: chunking, lexical
retrieval, duplicated-n-gram auditing, vocabulary coverage.

These complete the LLM-data-pipeline family (SURVEY §2 D-tier /
BASELINE.json north star) beyond dedup + embedding search: the
chunk → retrieve → audit stages a pretraining corpus actually runs.
The reference app has no counterpart (its pipeline is Excel
unification); oracle SQL reproduces each operator token-for-token in
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cortex_spark.operators import llmprep as LP
from etl_cortex_spark.operators import search as SR
from etl_cortex_spark.operators import textops as TX
from etl_cortex_spark.inventory.tier_d import _WORDS, _bucket_sql, _shingles_sql
from etl_cortex_spark.operators.localframe import local_df
from etl_cortex_spark.operators.layout import scratch_dir
from etl_cortex_spark.queries import T, query


# --- D18: fixed-window chunking -----------------------------------------------


@query(
    "d18_chunk_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    s AS (
      SELECT doc_id, ws, len(ws) AS n,
             unnest(range(0, greatest(len(ws) - 16, 1), 48)) AS start
      FROM w
    )
    SELECT doc_id,
           CAST(start // 48 AS INT) AS chunk_id,
           array_to_string(ws[start + 1 : start + 64], ' ') AS chunk_text,
           CAST(least(64, n - start) AS INT) AS chunk_words
    FROM s WHERE n - start > 0
    ORDER BY doc_id, chunk_id
    """,
)
def d18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llmprep.chunk_documents: 64-word windows, 16-word overlap,
    stride 48. Pure generator expression — zero shuffles."""
    docs = T(spark, sf_dir, "documents")
    return LP.chunk_documents(docs, size=64, overlap=16)


# --- D19: BM25 lexical retrieval ----------------------------------------------

_BM25_TERMS = ("table", "join", "fast")


@query(
    "d19_phrase_search",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id, text || ' alpha beta gamma alpha beta' AS text
      FROM documents WHERE doc_id % 10 = 0
    ),
    d AS (SELECT doc_id, {_WORDS} AS w FROM base),
    toks AS (
      SELECT doc_id, unnest(w) AS tok, unnest(range(0, len(w))) AS pos FROM d
    ),
    m AS (
      SELECT a.doc_id, a.pos
      FROM (SELECT doc_id, pos FROM toks WHERE tok = 'alpha') a
      JOIN (SELECT doc_id, pos - 1 AS pos FROM toks WHERE tok = 'beta') b
        ON a.doc_id = b.doc_id AND a.pos = b.pos
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(pos) AS INT) AS first_pos
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
)
def d19ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search.phrase_search — positional-index phrase matching (round
    11), the retrieval capability bag-of-words BM25 cannot express:
    find documents containing the EXACT adjacent token sequence
    "alpha beta", with overlap-counting occurrences and the first
    0-based position. Self-seeded: every 10th document gets
    " alpha beta gamma alpha beta" appended (2 occurrences at known
    offsets); any natural occurrences count identically on both
    engines. The Spark plan filters each term's postings BEFORE the
    adjacency join — the joined frames are term-frequency-sized, the
    positional-inverted-index serving shape — and the oracle replays
    the same adjacency semantics over zipped (token, position)
    unnests."""
    docs = T(spark, sf_dir, "documents")
    keep = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    seeded = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" alpha beta gamma alpha beta")).alias("text"),
    )
    base = keep.unionByName(seeded)
    from etl_cortex_spark.operators.search import phrase_search

    return phrase_search(base, "alpha beta")


@query(
    "d19_bm25_topk",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    dl AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, dl,
             unnest(list_filter(ws, t -> list_contains(['table','join','fast'], t))) AS term
      FROM dl
    ),
    tfc AS (SELECT doc_id, dl, term, count(*) AS tf FROM tf GROUP BY 1, 2, 3),
    dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1)
    SELECT doc_id,
           round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * tf * (1.2 + 1)
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 3) AS bm25
    FROM tfc JOIN dfc USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def d19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search.bm25_topk: ad-hoc Okapi BM25 over the corpus. Terms are
    filtered inside the scan projection (fan-out O(hits), not
    O(tokens)); df / corpus stats are tiny broadcasts; top-k is
    TakeOrderedAndProject. Tie order on the ROUNDED score + doc_id so
    libm ULP drift between engines cannot flip the frontier."""
    docs = T(spark, sf_dir, "documents")
    return SR.bm25_topk(docs, _BM25_TERMS, k=20)


# --- D20: duplicated-n-gram audit ---------------------------------------------


@query(
    "d20_dup_ngram_flags",
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_shingles_sql(5)}) AS gram FROM documents),
    g AS (SELECT gram, count(*) AS n_docs FROM sh GROUP BY 1)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
           round(CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_frac
    FROM sh JOIN g USING (gram)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def d20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram audit (the signal behind exact-substring
    training-data dedup): a 5-gram appearing in ≥2 documents is
    'duplicated'; per document emit how much of it is made of such
    grams. Two keyed shuffles (gram count, doc rollup) + one shuffle
    join on gram; at production scale the gram key would ride as
    xxhash64(gram) to keep the shuffle narrow (collision-tolerant for
    an audit metric), the string form here keeps the oracle exact."""
    sh = T(spark, sf_dir, "documents").select(
        "doc_id", F.explode(TX.shingles("text", 5)).alias("gram")
    )
    # round 19: n_docs per gram as a window count over ONE gram-keyed
    # exchange — the agg+join form computed the shingle explode twice
    # and shuffled the gram strings three times (count agg, join probe,
    # doc rollup); measured 1.18 s -> 0.61 s at sf0.1, same rows.
    dup = (F.col("n_docs") >= 2).cast("int")
    return (
        sh.withColumn(
            "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(dup).alias("n_dup_grams"),
            F.round(F.sum(dup) / F.count(F.lit(1)), 4).alias("dup_frac"),
        )
    )


# --- D23: vocabulary coverage -------------------------------------------------


@query(
    "d23_vocab_coverage",
    oracle=f"""
    WITH tok AS (SELECT unnest({_WORDS}) AS token FROM documents),
    c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
    top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 50)
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
           round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 / (SELECT total FROM tot), 4) AS cum_frac
    FROM top ORDER BY rank
    """,
)
def d23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search.vocab_topk: top-50 vocabulary with cumulative corpus
    coverage (the tokenizer-budget question). Count agg with map-side
    partial combine, 1-row total broadcast, window only AFTER the
    limit so the running sum orders 50 rows, never the vocabulary."""
    docs = T(spark, sf_dir, "documents")
    return SR.vocab_topk(docs, k=50)


# --- D6 extension: stream-static join -----------------------------------------


@query(
    "stream_static_join",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CASE WHEN count(*) >= 70 THEN 'high'
                  WHEN count(*) >= 60 THEN 'mid'
                  ELSE 'low' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT tier, event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events e JOIN dim USING (user_id)
    GROUP BY tier, event_type
    ORDER BY tier, event_type
    """,
)
def d06_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_static_enrich: the event stream broadcast-
    joined with a batch-built per-user tier dimension, aggregated per
    (tier, event_type). Bounded replay == the batch join, so it is
    fully oracle-checkable; integer count thresholds keep the tier
    boundary engine-exact."""
    from etl_cortex_spark.streaming.events import stream_static_enrich

    return stream_static_enrich(spark, sf_dir)


# --- D24/D25: embedding clustering + semantic dedup ---------------------------

_CENTROID_K = 8


def _centroid_sql() -> str:
    """Initial-centroid view: the k lowest-id vectors, indexed 0..k-1
    in id order — exactly clustering.initial_centroids."""
    return f"""
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, v AS cv
    FROM e WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {_CENTROID_K})
    """


@query(
    "d24_centroid_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c AS ({_centroid_sql()}),
    d AS (
      SELECT e.vec_id, CAST(c.idx AS INT) AS cluster,
             round(list_sum(list_transform(e.v, (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))), 6)
               AS dist6
      FROM e, c
    )
    SELECT vec_id, cluster FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist6, cluster) AS rn
      FROM d
    ) WHERE rn = 1 ORDER BY vec_id
    """,
)
def d24a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clustering.assign_centroids — one Lloyd's assignment step
    against the deterministic initial centroids (k lowest ids). The
    assignment is a pure codegen projection (array of (dist, idx)
    structs, array_min argmin — no shuffle, no UDF); distances are
    rounded to 6 decimals before the argmin so the tie rule, not libm
    ULP, decides near-equidistant points. The oracle replays the same
    fold-order sum via DuckDB's indexed lambda and compares the
    assignment (vec_id -> cluster); raw distances stay out of the
    hash because round(double, N) drifts across engines at .xx5
    boundaries — pytest pins the distance math instead."""
    from etl_cortex_spark.operators import clustering as CL

    emb = T(spark, sf_dir, "embeddings")
    cents = CL.initial_centroids(emb, _CENTROID_K)
    out = CL.assign_centroids(emb, cents)
    return out.select("vec_id", "cluster")


def _kmeans_oracle_sql(iters: int = 3, k: int = 8, q: int = 6) -> str:
    """The d69/d71 unrolled-CTE technique applied to Lloyd's: a fixed
    ``iters``-round k-means replayed as a chain of assignment/update
    CTEs. Cross-engine exactness comes from the quantized arithmetic
    contract shared with ``clustering.kmeans_fit_predict(quantize=q)``:
    coordinates rounded to q decimals, every centroid update an exact
    INTEGER sum (order-free) followed by the identical two IEEE
    divisions ``(s / n) / 10^q``, distances rounded to q decimals
    before the (dist, idx) argmin, and the final WCSS summed as scaled
    integers so no float accumulation order can drift."""
    scale = f"{10**q}.0"
    # assignment of every vector against centroid CTE c{i}
    assign = (
        "SELECT vec_id, cluster, v FROM (\n"
        "      SELECT e.vec_id, c.idx AS cluster, e.v,\n"
        "             row_number() OVER (PARTITION BY e.vec_id ORDER BY\n"
        "               round(list_sum(list_transform(e.v,\n"
        "                 (x, i) -> (x - c.cv[i]) * (x - c.cv[i]))), {q}),\n"
        "               c.idx) AS rn\n"
        "      FROM e, c{i} c) WHERE rn = 1"
    )
    parts = [
        f"WITH e AS (SELECT vec_id, list_transform(embedding,"
        f" x -> round(CAST(x AS DOUBLE), {q})) AS v FROM embeddings),",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, v AS cv"
        f" FROM e WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k})),",
    ]
    for i in range(iters):
        parts.append(f"a{i} AS ({assign.format(i=i, q=q)}),")
        parts.append(
            f"m{i + 1} AS (\n"
            f"  SELECT cluster, u.pos AS pos,\n"
            f"         (CAST(sum(CAST(round(u.x * {scale}) AS BIGINT)) AS DOUBLE)"
            f" / count(*)) / {scale} AS m\n"
            f"  FROM (SELECT cluster,"
            f" unnest(list_transform(v, (x, i) -> {{'pos': i, 'x': x}})) AS u"
            f" FROM a{i})\n"
            f"  GROUP BY cluster, u.pos\n"
            f"),"
        )
        parts.append(
            f"c{i + 1} AS (\n"
            f"  SELECT c.idx, coalesce(u.cv, c.cv) AS cv FROM c{i} c LEFT JOIN\n"
            f"    (SELECT cluster AS idx, list(m ORDER BY pos) AS cv"
            f" FROM m{i + 1} GROUP BY cluster) u USING (idx)\n"
            f"),"
        )
    parts.append(
        f"af AS (\n"
        f"  SELECT vec_id, cluster,\n"
        f"         round(list_sum(list_transform(v,"
        f" (x, i) -> (x - cv[i]) * (x - cv[i]))), {q}) AS dist{q}\n"
        f"  FROM (SELECT a.vec_id, a.cluster, a.v, c.cv FROM"
        f" ({assign.format(i=iters, q=q)}) a JOIN c{iters} c ON a.cluster = c.idx)\n"
        f")\n"
        f"SELECT CAST(cluster AS INT) AS cluster, count(*) AS n,\n"
        f"       round(CAST(sum(CAST(round(dist{q} * {scale}) AS BIGINT)) AS DOUBLE)"
        f" / {scale}, 2) AS wcss\n"
        f"FROM af GROUP BY cluster ORDER BY cluster"
    )
    return "\n".join(parts)


@query("d24_kmeans_sizes", oracle=_kmeans_oracle_sql(iters=3, k=_CENTROID_K, q=6))
def d24b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clustering.kmeans_fit_predict — full Lloyd's (k=8, 3
    iterations): per-cluster sizes + within-cluster sum of squares.
    Oracle-paired since round 8 (r7 verdict #4): the fit runs
    ``quantize=6`` (integer-sum centroid updates — exact in any
    aggregation order, so the model is bit-identical across engines)
    and the DuckDB twin unrolls the same 3 iterations as CTEs
    (`_kmeans_oracle_sql`); WCSS is summed as scaled integers on both
    sides for order-free totals. The pytest suite additionally pins
    determinism, non-increasing inertia, and separable-cluster
    recovery."""
    from etl_cortex_spark.operators import clustering as CL

    emb = T(spark, sf_dir, "embeddings")
    out = CL.kmeans_fit_predict(emb, k=_CENTROID_K, iters=3, quantize=6)
    return (
        out.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("sq_dist") * 1000000.0).cast("long"))
                / F.lit(1000000.0),
                2,
            ).alias("wcss"),
        )
    )


def _seeded_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-seeded near-dup embedding corpus: every 10th vector gets a
    +0.01-perturbed copy at id+10000 (cosine ≈ 1 with its original) —
    same pattern as tier_d's mutated document corpus, so semantic
    dedup has real prey. Perturbation happens in DOUBLE on both
    engines for bit parity."""
    emb = T(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("embedding"),
        "label",
    )
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"), "label"
    ).unionByName(copies)


@query(
    "d25_semantic_dedup",
    oracle=f"""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                         label FROM embeddings),
    seeded AS (
      SELECT vec_id, v, label FROM base
      UNION ALL
      SELECT vec_id + 10000, list_transform(v, x -> x + 0.01), label
      FROM base WHERE vec_id % 10 = 0
    ),
    b AS (SELECT vec_id, label, v, ((CASE WHEN list_dot_product(v, [-0.2558802884476004, 0.511431512516514, -0.2260961647831047, -0.3150684223311854, -0.9300181903227674, -0.21330194742120367, 1.1119173809863208, 0.42414668412593615, 1.0368790788896665, 0.24890272766509133, 0.39476963461375775, 0.18532666042839877, -1.6660625253119432, 0.8552509687647372, 0.5063848458947204, 0.498818038161944, -1.6913645518484226, -1.7438881172756033, -0.8896153448069297, -0.4681892757332346, 0.3054459918324407, -0.045911730512585354, 0.520974898420902, -0.6422347498744938, 0.3087031492108811, 0.39415447685921007, -0.6611373475321424, 1.7175303173337426, 0.5566093558674555, 1.197005237979008, -0.6203329144828438, -0.7395158962247732, -0.34404667916316806, -0.10642133153854398, 0.6320787450321489, 0.24842725356969214, -0.44735489523216543, -0.9569123136623718, -0.5205903100665388, 1.2209213148999039, -0.8079464283078355, 0.24475874731607522, 0.4265189746741636, -1.4897431348611148, 0.048474357805962036, 1.3062435998070716, -2.014363824710263, -0.32159385106567046, -0.10613916862568372, -0.8172603024370143, 0.49739001119925413, -0.0622798949329554, -1.4646566571540556, 0.8278458784913143, 0.669335689821001, 0.9458417924074138, 1.440597413192603, 0.3622436703483417, 0.1192741503501188, -1.29916808473125, 0.6154432127149754, -0.6117589196103815, -0.4527018996188372, -1.2647877743013232]) > 0 THEN 1 ELSE 0 END) + (CASE WHEN list_dot_product(v, [-0.9676143272108394, -0.5311210926158692, 1.288837543075987, -2.0317920474486755, -1.4577055535788668, 0.23935109637450452, 1.443349754156496, 0.5784969503748149, -1.899943276931952, -2.5182348300312385, 0.35739721571102645, -0.7362619397364518, -1.119786573527076, 0.9773712414195629, 1.101786204180404, 0.1572518804384863, 0.2457765102792436, 0.43436280983213216, 1.594004056931279, 0.6190286032553851, 0.5186495389757707, 0.5477375736312311, -1.5683105225549592, 1.2817335184040903, 0.955102083496128, 0.5296237217996917, -1.97387543553663, -0.6336800255863366, 0.842303593847481, -1.8112142525213255, -0.1840222293260406, 1.0195276718522928, -1.3111886130114665, 1.6101061983748743, 0.5519639717948621, -0.15013875127978507, 0.3248668210047183, 0.6498309914451523, 0.12039372620354538, 1.1456602358579617, -0.6615445657523961, -0.41473615589334284, 1.0416845530735936, 0.026798941547276814, -0.8804640811194406, 0.9464552654932115, 1.4654975743027467, -0.4448260851557471, -1.379993187160495, -0.13474820169311302, -0.1490188036402389, -0.2979996496335803, 1.4047703035775652, -1.0269364739157945, 1.2605866448383238, -1.2683219790736193, -0.7870394671827289, 0.6315212788981737, 1.128690305549404, 0.8590023502535399, 0.3452247461920301, 0.14235633795275582, 0.15248179045684337, 0.5752802708340415]) > 0 THEN 2 ELSE 0 END) + (CASE WHEN list_dot_product(v, [-0.17619745775629098, 0.2774359968472974, 0.5727265336329771, 0.0008394764737400608, 0.7639823885379302, 0.5658781291403443, 2.0106321963650546, 0.32494263677272134, -0.4275929519432337, -0.3725512159128706, -0.013105597765684358, 0.9237846044248513, -0.3365636884977564, 0.3858259920571797, 1.8373012776494662, -2.564679474213934, -1.1239085853390323, 0.24389701690330107, 0.39833539441746396, 0.23857332886106958, -0.43115149906475186, 0.6551461933291434, 0.2821300659532711, -0.5220513382734014, 2.4300538751667524, 0.35513286238489494, -0.5542289707468753, -0.09944855217688697, -0.22559529002503245, -0.06274154660763057, -2.7280853409502006, -0.48689902987749445, 1.0085695080504102, -1.1685622644599787, -0.06670019084833684, 0.953505373781144, 0.8561767658598077, 1.4910519966346505, -1.7014133444479123, -0.35337600676388026, -0.3409499885992652, 0.6232898459421933, 1.0917875038700675, -2.6828295707823213, 1.0886792902698061, -1.4475434222626538, 0.6831498761023059, -1.4921384033709648, 0.1758527333971162, 1.194654610342507, -0.14931961088595433, 0.19110309114851495, 0.7971236448445002, 0.14137719514721223, -0.08848138185253349, 1.5332560594607463, 1.0484707258760626, -0.29381505949002173, 2.745325222713014, -1.1468390443176453, 0.9146091156866576, -0.2657145773117556, 0.13236571689072277, 0.7050056181659022]) > 0 THEN 4 ELSE 0 END) + (CASE WHEN list_dot_product(v, [0.22222213219388434, 0.6386453076620816, -1.5273253626636443, -1.5095110821216398, 0.614942589651404, -0.9631584954660181, -1.0266482477157042, -1.4701393872716566, 1.2663800510697516, 0.7465580088791107, 1.4730747223165876, -0.9377376926458102, 0.001006361176401166, -1.1403069023670096, 0.7660373851792844, 1.5894228933877312, -0.8902210016364664, 1.560331722877474, 0.9880294936192074, -0.17783466698270087, -1.9719706859297967, 1.406631736935783, -0.09626049184656091, -0.6028282452915394, 0.3995953804847207, 0.4099643344682516, 1.4980950388878669, -1.020140810726624, 1.1362373205344798, 1.487360381407538, 1.4522360099017078, -0.18062457323422282, -0.7440285519188423, 1.0185727246115932, 0.11518531261028207, 0.12418948586415564, 1.424214629128952, -0.2634364671048731, -2.2967252108090643, -0.3871912071663193, -1.8539231821091202, 0.8187833309098644, 0.31703478716395445, -0.6112071513291476, -0.009599297743796214, 0.8326240130700854, 0.07894509069111393, 1.3265215121954472, -0.061284815505433334, 1.0403347667816991, 1.4914807619775488, 1.6098929837444262, -0.6718193753931158, 0.8799042085322046, -1.8759959069652823, -1.0833493949516109, -1.9627915133159943, 1.0689856225433496, -1.2319347228695534, -0.012764042825850742, -0.19221398052462813, -0.028597527773578522, -0.5915217765351448, 0.23366317531436248]) > 0 THEN 8 ELSE 0 END) + (CASE WHEN list_dot_product(v, [1.7912670882203054, 0.04426855356723932, 0.5309821489194161, 1.000519367767209, -0.1979476908918288, -1.2596911318386328, -0.5553954715373572, 1.0735947393673675, -1.6462255708492126, -0.5978458205505127, 1.0074106526294715, 0.792736649857606, 0.007618128232682514, 0.8052357958724505, 0.16597943232983933, -1.1789154574572682, -1.563942369215198, -0.6389521365384299, 0.9227301102209123, -0.565545151756395, -0.9023586004604149, -0.7709605117789752, -1.5317669524976807, -0.11727492029984514, -1.1796069523217882, 0.3641459668086755, -2.3600964126154564, 0.3277812095660942, -0.6416107567993177, -1.9421479266214765, 0.724709448402856, -0.275508251441208, -2.2300367831585772, -0.8750631970150292, 0.29102424481911965, -0.4585822105092044, 0.779983687525831, 0.7475569414124802, 0.6662366416423052, 0.32662528809543556, 1.3336969496355782, 0.6598341701579238, 0.4512181743988895, -2.083978902544166, 0.8965557800878597, 1.3094251555769685, -0.2968980826814108, -0.4695074406834185, 1.9402984589295469, -1.7581325394842842, 0.46885693299161335, 2.423715777281978, -0.9276007408351008, 0.6895887603103621, 1.8863808434044749, -0.12021071198239965, 0.5611968429225049, 0.9025756438758757, -0.9057683298953746, -0.08909580115966619, 0.2928017222234918, 0.825384906595379, -0.03453411691863202, -0.19534031540028793]) > 0 THEN 16 ELSE 0 END) + (CASE WHEN list_dot_product(v, [-1.016076060079454, -0.3589751774969397, 0.8916724552611744, 0.10174321702968378, -0.8530284462353348, -0.8416040883173763, 2.666679825295587, 1.1398942914069643, 0.637395441622035, -2.592918898090674, 0.621481570776758, 0.48069350043843734, 1.6840969559442966, 0.42776084526170044, -0.06748832720249312, 0.5224442730982287, -1.9442084464296083, 1.033253241769541, 0.3248848734274768, -0.7020713026445065, 1.325572315677972, 1.8093395348223056, -1.402401228611634, -0.6663342386941895, 0.2912654431574569, 0.18346504177956124, -0.3984806573532425, -0.9742108071691844, 2.1204674058622515, 1.0373874109296344, -1.1942285957085124, -1.3450079820248242, 1.7031284920759695, 0.9891487891565814, 1.820970607270463, 0.8101433981225372, -0.8720754993863207, 0.26066547473298435, -2.160062416568297, -0.7481188302399433, -0.058908982229867, 0.5227548093943034, -0.7275513172705698, -0.12422421999156745, 0.45854719384586046, 0.376688787759155, 0.6379962841237677, 0.20898171852910344, -0.32393469662347757, 0.7891569632740172, 0.04935941790144371, -0.8260956022644346, -0.6259281672414992, -0.0003484475806431715, -0.10960369347001762, 0.15699424609521928, -0.0004958849679764077, 0.1758690699903359, -0.1342889896191048, -1.2584316011337113, 0.4213535592448479, 1.0536904504800653, 0.4346429352825692, -0.18924595822576348]) > 0 THEN 32 ELSE 0 END)) AS bucket FROM seeded),
    losers AS (
      SELECT DISTINCT hi.vec_id FROM b lo JOIN b hi
        ON lo.bucket = hi.bucket AND lo.vec_id < hi.vec_id
      WHERE round(list_dot_product(lo.v, hi.v) /
            (sqrt(list_dot_product(lo.v, lo.v)) * sqrt(list_dot_product(hi.v, hi.v))), 6)
            >= 0.99
    )
    SELECT vec_id, label, bucket FROM b
    WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    ORDER BY vec_id
    """,
)
def d25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clustering.semantic_dedup (SemDeDup): sign-LSH bucket →
    within-bucket pairwise cosine → drop any vector with a lower-id
    ≥0.99 neighbor. On the seeded corpus the perturbed copies are the
    losers. Bucket join is O(Σ bucket²), never all-pairs; the bucket
    is the IVF partition key at scale."""
    from etl_cortex_spark.operators import clustering as CL

    seeded = _seeded_embeddings(spark, sf_dir)
    out = CL.semantic_dedup(seeded, threshold=0.99, n_planes=6, seed=7)
    return (
        out.select("vec_id", "label", "bucket")
    )


@query(
    "d25_semantic_dedup_recall_audit",
    oracle="""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
    seeded AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 10000, list_transform(v, x -> x + 0.01)
      FROM base WHERE vec_id % 10 = 0
    ),
    losers AS (
      SELECT DISTINCT hi.vec_id FROM seeded lo JOIN seeded hi
        ON lo.vec_id < hi.vec_id
      WHERE round(list_dot_product(lo.v, hi.v) /
            (sqrt(list_dot_product(lo.v, lo.v)) * sqrt(list_dot_product(hi.v, hi.v))), 6)
            >= 0.99
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact_losers, true AS recall_ok FROM losers
    """,
)
def d25ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSILON-RECALL audit for SemDeDup's sign-LSH bucketing (round-9
    verdict #5 — the d02/d03 recall-audit pattern applied to d25):
    ``semantic_dedup``'s only approximation is that a true near-dup
    pair split across buckets lets the loser survive, so the entry
    pins the PROPERTY — over the exact loser set (every vector with a
    lower-id cosine ≥ 0.99 mate ANYWHERE in the corpus, computed by a
    guarded quadratic baseline with the same rounded-cosine expression
    the oracle uses), the bucketed dedup must catch ≥ 0.85. Measured
    recall at n_planes=6: 0.90 / 0.88 / 0.915 at sf0.001/0.01/0.1 —
    deterministic for fixed data+planes, so the bound holds exactly;
    8 planes measures 0.86/0.82/0.835, the other end of the
    bucket-granularity/recall knob (miss rate ≈ n_planes·θ/π per
    pair), with the wall-clock side in BASELINE.md (n_planes 6 vs 8
    at sf1). ``n_exact_losers`` is
    data-derived on both sides, so the audit provably measured the
    ground-truth set the oracle counted; a bucketing/threshold
    regression flips ``recall_ok`` and the hash compare fails.
    Driver-side state is two counts; the quadratic baseline is
    caller-bounded (audit corpora), same contract as
    ``ngram_jaccard_pairs``."""
    from etl_cortex_spark.operators import clustering as CL
    from etl_cortex_spark.operators.similarity import dot, l2norm

    seeded = _seeded_embeddings(spark, sf_dir)
    # exact baseline: hoisted per-vector norms (the semantic_dedup
    # pattern), pair dot as the HOF fold — BNLJ with a broadcastable
    # side, never a CartesianProduct.
    withn = seeded.select(
        "vec_id", "embedding", l2norm(F.col("embedding")).alias("__n")
    )
    a = withn.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("__n").alias("na"),
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("__n").alias("nb"),
    )
    exact_losers = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
            >= 0.99
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    survivors = CL.semantic_dedup(seeded, threshold=0.99, n_planes=6, seed=7).select(
        "vec_id"
    )
    n_exact = exact_losers.count()
    # a MISSED loser is an exact loser that survived (its pair was
    # split across buckets); bucketed losers ⊆ exact losers always.
    missed = exact_losers.join(survivors, "vec_id", "semi").count()
    ok = n_exact > 0 and (n_exact - missed) / n_exact >= 0.85
    return local_df(
        spark, [(n_exact, ok)], "n_exact_losers bigint, recall_ok boolean"
    )


def _probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving embedding batch the probe entries share: a
    +0.01-perturbed copy of every 10th corpus vector (cosine ≈ 1 with
    its original — true near-dups the gate must flag) plus the
    NEGATION of every (10k+5)th vector (cosine = −1 with its source —
    fresh content that must pass). Double arithmetic on both engines
    for bit parity, same discipline as `_seeded_embeddings`."""
    emb = T(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") + 0.01
        ).alias("embedding"),
    )
    fresh = emb.filter(F.col("vec_id") % 10 == 5).select(
        (F.col("vec_id") + 20_000).alias("vec_id"),
        F.transform("embedding", lambda x: -x.cast("double")).alias(
            "embedding"
        ),
    )
    return dups.unionByName(fresh)


@query(
    "d25_semantic_dedup_probe",
    oracle=f"""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
    newb AS (
      SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
      FROM base WHERE vec_id % 10 = 0
      UNION ALL
      SELECT vec_id + 20000 AS vec_id, list_transform(v, x -> -x) AS v
      FROM base WHERE vec_id % 10 = 5
    ),
    cb AS (SELECT vec_id, v, ({_bucket_sql("v")}) AS bkt FROM base),
    nb AS (SELECT vec_id, v, ({_bucket_sql("v")}) AS bkt FROM newb),
    hits AS (
      SELECT nb.vec_id,
             round(list_dot_product(nb.v, cb.v) /
                   (sqrt(list_dot_product(nb.v, nb.v)) *
                    sqrt(list_dot_product(cb.v, cb.v))), 6) AS c
      FROM nb JOIN cb ON nb.bkt = cb.bkt
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_mates, max(c) AS max_cosine
    FROM hits WHERE c >= 0.99
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def d25probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SEMANTIC-DEDUP PROBE against the persisted IVF
    index (round 19 — `similarity.ivf_probe_near_dups`, closing the
    incremental-probe family's semantic gap: exact d87, MinHash-LSH
    d59 and prefix-filter D59b all had per-batch probes; SemDeDup
    (d25) only had the full-corpus job). The corpus is indexed ONCE
    (`write_ivf_index`, partitioned by the deterministic sign-LSH
    cell); the arriving batch is bucketed with the same planes and
    each new vector is flagged iff a corpus mate in ITS cell has
    cosine ≥ 0.99 — new-vs-corpus bipartite, never corpus-vs-corpus,
    and the index scan reads ONLY the batch's touched cell
    DIRECTORIES (partition pruning over the ≤ 2^n_planes-value isin;
    pinned in tests/test_plans.py). On the fixture the perturbed
    copies are flagged with their source as the top mate and the
    negated vectors pass. The oracle replays the same bucket-gated
    bipartite join in SQL, so the hash match proves cell assignment,
    pruning, and the cosine gate end-to-end; recall vs the unbucketed
    ground truth is certified by `d25_semantic_probe_recall`."""
    from etl_cortex_spark.operators import similarity as SIM

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    path = scratch_dir(sf_dir, "d25_semantic_dedup_probe")
    SIM.write_ivf_index(emb, path, n_planes=6, seed=7)
    out = SIM.ivf_probe_near_dups(
        spark, path, _probe_batch(spark, sf_dir), threshold=0.99,
        n_planes=6, seed=7,
    )
    return out


@query(
    "d25_semantic_probe_recall",
    oracle="""
    WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
    newb AS (
      SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
      FROM base WHERE vec_id % 10 = 0
      UNION ALL
      SELECT vec_id + 20000 AS vec_id, list_transform(v, x -> -x) AS v
      FROM base WHERE vec_id % 10 = 5
    ),
    exact AS (
      SELECT DISTINCT nb.vec_id FROM newb nb JOIN base cb
        ON round(list_dot_product(nb.v, cb.v) /
                 (sqrt(list_dot_product(nb.v, nb.v)) *
                  sqrt(list_dot_product(cb.v, cb.v))), 6) >= 0.99
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact_flagged, true AS recall_ok
    FROM exact
    """,
)
def d25probera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSILON-RECALL audit for the IVF semantic probe (the
    d02/d03/d25 recall-audit pattern): the probe's only approximation
    is the cell gate — a true near-dup pair split across sign-LSH
    cells lets the new vector through. Over the EXACT flag set (every
    batch vector with a cosine ≥ 0.99 corpus mate ANYWHERE, computed
    by the guarded bipartite baseline with the same rounded-cosine
    expression the oracle uses), the probe must catch ≥ 0.85.
    ``n_exact_flagged`` is data-derived on both sides, so the audit
    provably measured the set the oracle counted; a plane/threshold
    regression flips ``recall_ok`` and the hash compare fails. The
    baseline is |batch| × |corpus| bipartite — batch-bounded by
    construction, never corpus²."""
    from etl_cortex_spark.operators import similarity as SIM
    from etl_cortex_spark.operators.similarity import dot, l2norm

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    batch = _probe_batch(spark, sf_dir)
    nb = batch.select(
        F.col("vec_id").alias("id_n"),
        F.col("embedding").alias("vn"),
        l2norm(F.col("embedding")).alias("nn"),
    )
    cb = emb.select(
        F.col("embedding").alias("vc"),
        l2norm(F.col("embedding")).alias("nc"),
    )
    exact = (
        nb.join(cb)
        .filter(
            F.round(
                dot(F.col("vn"), F.col("vc")) / (F.col("nn") * F.col("nc")),
                6,
            )
            >= 0.99
        )
        .select(F.col("id_n").alias("vec_id"))
        .distinct()
    )
    path = scratch_dir(sf_dir, "d25_semantic_probe_recall")
    SIM.write_ivf_index(emb, path, n_planes=6, seed=7)
    probed = SIM.ivf_probe_near_dups(
        spark, path, batch, threshold=0.99, n_planes=6, seed=7
    ).select("vec_id")
    n_exact = exact.count()
    missed = exact.join(probed, "vec_id", "left_anti").count()
    ok = n_exact > 0 and (n_exact - missed) / n_exact >= 0.85
    return local_df(
        spark, [(n_exact, ok)], "n_exact_flagged bigint, recall_ok boolean"
    )


# --- D26: fuzzy entity match --------------------------------------------------


@query(
    "d26_fuzzy_entity_match",
    oracle="""
    WITH clean AS (SELECT c_custkey, substr(c_name, 10, 9) AS key FROM customer),
    dirty AS (
      SELECT c_custkey AS dirty_id,
             substr(key, 1, CAST(c_custkey % 9 AS INT)) || 'x' ||
             substr(key, CAST(c_custkey % 9 AS INT) + 2) AS key
      FROM clean WHERE c_custkey % 7 = 0
    ),
    pairs AS (
      SELECT d.dirty_id, c.c_custkey, levenshtein(d.key, c.key) AS dist
      FROM dirty d CROSS JOIN clean c
      WHERE levenshtein(d.key, c.key) <= 2
    )
    SELECT dirty_id, c_custkey, dist FROM (
      SELECT *, row_number() OVER (PARTITION BY dirty_id ORDER BY dist, c_custkey) AS rn
      FROM pairs
    ) WHERE rn = 1 ORDER BY dirty_id
    """,
)
def d26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy.fuzzy_join + best_fuzzy_match — entity resolution of a
    self-seeded dirty side (one digit of the 9-char key swapped to
    'x', position = custkey % 9) back to the clean customer keys via
    pigeonhole banding (3 bands for max_dist=2) and a levenshtein
    refine, then deterministic best-match (min dist, min custkey).

    The oracle brute-forces the cross join, which also finds dist-2
    insert+delete "shift" pairs banding can miss — the results still
    agree because every dirty key has its original at dist exactly 1,
    and equal-length dist-1 pairs are single substitutions, which the
    banding provably finds; the winner is always chosen among those.
    The banded path is the one that scales: band shuffle carries
    (id, slice) only, refine is per candidate, never per cross pair."""
    from etl_cortex_spark.operators.fuzzy import best_fuzzy_match, fuzzy_join

    cust = T(spark, sf_dir, "customer")
    clean = cust.select("c_custkey", F.substring("c_name", 10, 9).alias("key"))
    dirty = clean.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.expr("substring(key, 1, CAST(c_custkey % 9 AS INT))"),
            F.lit("x"),
            F.expr("substring(key, CAST(c_custkey % 9 AS INT) + 2)"),
        ).alias("key"),
    )
    pairs = fuzzy_join(
        dirty,
        clean,
        left_id="dirty_id",
        right_id="c_custkey",
        left_key="key",
        right_key="key",
        key_width=9,
        max_dist=2,
    )
    return best_fuzzy_match(
        pairs, left_id="dirty_id", right_id="c_custkey"
    )


# --- D8 extension: stream-stream interval join --------------------------------


@query(
    "stream_stream_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
          FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, p.purchase_id,
           epoch_us(p.pts - c.cts) AS gap_us
    FROM c JOIN p ON c.user_id = p.user_id
     AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 10 MINUTE
    ORDER BY c.user_id, c.click_id, p.purchase_id
    """,
)
def d08_ss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_stream_attribution — true stream-stream inner
    join (click→purchase within 10 min per user), both sides
    watermarked so join state is evictable; bounded replay equals the
    batch interval join, which the oracle replays."""
    from etl_cortex_spark.streaming.events import stream_stream_attribution

    return stream_stream_attribution(spark, sf_dir, window_minutes=10)


@query(
    "stream_stream_left_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT c.user_id, c.click_id, c.cts, p.purchase_id,
                 epoch_us(p.pts - c.cts) AS gap_us
          FROM c LEFT JOIN p ON c.user_id = p.user_id
           AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 10 MINUTE),
    m AS (SELECT least((SELECT date_trunc('milliseconds', max(cts)) FROM c),
                       (SELECT date_trunc('milliseconds', max(pts)) FROM p))
                 - INTERVAL 60 MINUTE AS wm)
    SELECT user_id, click_id, purchase_id, gap_us
    FROM j CROSS JOIN m
    WHERE purchase_id IS NOT NULL
       OR cts + INTERVAL 10 MINUTE < wm
    ORDER BY user_id, click_id, purchase_id
    """,
)
def d08_ss_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_stream_attribution_outer — stream-stream LEFT
    OUTER interval join: unconverted clicks surface as NULL-purchase
    rows only once the GLOBAL watermark (min over both inputs' max
    event time, ms-truncated, minus delay) closes their join state —
    the closure cut the oracle applies to its unmatched rows; matched
    rows equal the inner join exactly."""
    from etl_cortex_spark.streaming.events import stream_stream_attribution_outer

    return stream_stream_attribution_outer(spark, sf_dir, window_minutes=10)


@query(
    "stream_stream_full_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
                 CAST(ts AS TIMESTAMP) AS pts
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT coalesce(c.user_id, p.p_user_id) AS user_id,
                 c.click_id, c.cts, p.purchase_id, p.pts,
                 epoch_us(p.pts - c.cts) AS gap_us
          FROM c FULL JOIN p ON c.user_id = p.p_user_id
           AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 10 MINUTE),
    m AS (SELECT least((SELECT date_trunc('milliseconds', max(cts)) FROM c),
                       (SELECT date_trunc('milliseconds', max(pts)) FROM p))
                 - INTERVAL 60 MINUTE AS wm)
    SELECT user_id, click_id, purchase_id, gap_us
    FROM j CROSS JOIN m
    WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
       OR (purchase_id IS NULL AND cts + INTERVAL 10 MINUTE < wm)
       OR (click_id IS NULL AND pts < wm)
    ORDER BY user_id, click_id, purchase_id
    """,
)
def d08_ss_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_stream_attribution_full — stream-stream FULL
    OUTER interval join (round 11, completing the D28/D70 join
    family): unconverted clicks AND orphan purchases emit NULL rows.
    The oracle applies the ASYMMETRIC closure cuts the watermark
    semantics imply — unmatched clicks need wm past click_ts + window
    (a later purchase could still match), unmatched purchases only wm
    past purchase_ts (the join condition forbids later clicks) — on
    top of the batch FULL interval join; matched rows equal the inner
    join exactly."""
    from etl_cortex_spark.streaming.events import stream_stream_attribution_full

    return stream_stream_attribution_full(spark, sf_dir, window_minutes=10)


# --- D27: weighted PageRank over the nation trade graph -----------------------

_TRADE_EDGES_SQL = """
SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
GROUP BY 1, 2
"""


def _pagerank_oracle() -> str:
    from etl_cortex_spark.operators.graph import pagerank_unrolled_sql

    inner = pagerank_unrolled_sql(
        _TRADE_EDGES_SQL,
        "SELECT n_nationkey AS node FROM nation",
        iters=3,
        damping=0.85,
    )
    return f"SELECT node, round(pr, 6) AS pr FROM ({inner}) ORDER BY node"


@query("d27_pagerank_trade", oracle=_pagerank_oracle())
def d27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph.pagerank — weighted PageRank (3 iterations, d=0.85,
    dangling mass redistributed) over the customer-nation →
    supplier-nation trade graph. The rank vector stays a DataFrame
    (billions of rows at web scale); per iteration one src-keyed join
    + one dst agg, scalars ride as broadcast 1-row frames — no
    collect anywhere. The oracle unrolls the identical iterations as
    CTEs emitted by the same generator (graph.pagerank_unrolled_sql);
    round(,6) absorbs summation-order FP drift."""
    from etl_cortex_spark.operators.graph import pagerank

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), s["s_suppkey"] == l["l_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("node"))
    pr = pagerank(edges, nodes, iters=3, damping=0.85)
    return (
        pr.select("node", F.round("pr", 6).alias("pr"))
    )


# --- D28: sparse lexical doc-doc similarity (inverted index) ------------------


@query(
    "d28_tfidf_knn",
    oracle="""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM corpus
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM corpus),
    w AS (
      SELECT tf.doc_id, tf.term, dfreq.df, n.n,
             tf.tf * ln(n.n / dfreq.df) AS wt
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY 1),
    j AS (SELECT * FROM w WHERE df >= 2 AND df <= greatest(2.0, 0.3 * n)),
    dots AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, sum(a.wt * b.wt) AS dot
      FROM j a JOIN j b ON a.term = b.term AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT dots.ida AS doc_id, dots.idb AS neighbor_id,
             round(dots.dot / (na.nrm * nb.nrm), 6) AS cos
      FROM dots
      JOIN norms na ON na.doc_id = dots.ida
      JOIN norms nb ON nb.doc_id = dots.idb
    )
    SELECT doc_id, neighbor_id, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def d28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search.tfidf_knn — doc-doc cosine through an inverted index:
    the TERM is the index key, so the pairwise join touches only
    documents sharing a term (posting-list join, Σ df² bounded by the
    max_df stopword cut + df≥2 prune), never all pairs — the lexical
    sibling of similarity.lsh_topk. Norms keep every term so the
    denominator is the true vector length; ranking uses the rounded
    cosine like d04."""
    from etl_cortex_spark.operators.search import tfidf_knn

    corpus = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tfidf_knn(corpus, k=3, max_df_frac=0.3)


# --- D5 extension: multimodal extraction PLANS (oracle-checkable half) --------


@query(
    "d29_frame_sample_plan",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id,
             30.0 + (doc_id % 7) * 10.0 AS duration_s,
             CAST(24 + (doc_id % 2) * 6 AS DOUBLE) AS fps
      FROM documents WHERE doc_id % 4 = 0
    ),
    plan AS (
      SELECT asset_id, duration_s, fps,
             unnest(range(0, CAST(least(8, greatest(1, CAST(floor(duration_s / 2.0) AS INT))) AS BIGINT))) AS sample_idx
      FROM assets
    )
    SELECT asset_id,
           CAST(sample_idx AS INT) AS sample_idx,
           CAST(floor(sample_idx * 2.0 * fps) AS BIGINT) AS frame_no,
           sample_idx * 2.0 AS t_offset_s
    FROM plan ORDER BY asset_id, sample_idx
    """,
)
def d29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal.plan_frame_samples — the oracle-checkable half of
    video frame extraction: per-asset frame indices / timestamps from
    (duration, fps) metadata, one frame per 2 s capped at 8. Pure
    sequence-explode arithmetic; the plan is the decode work manifest
    (the pixel half stays behind the documented codec stub).
    t_offset_s multiplies identical doubles, so it's emitted
    unrounded."""
    from etl_cortex_spark.operators.multimodal import plan_frame_samples

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        (30.0 + (F.col("doc_id") % 7) * 10.0).alias("duration_s"),
        (24 + (F.col("doc_id") % 2) * 6).cast("double").alias("fps"),
    )
    return plan_frame_samples(assets, every_s=2.0, max_frames=8)


@query(
    "d30_audio_chunk_plan",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id,
             CAST((n_chars * 800) + 1234 AS BIGINT) AS n_samples
      FROM documents WHERE doc_id % 4 = 1
    ),
    plan AS (
      SELECT asset_id, n_samples,
             unnest(range(0, greatest(CAST(ceil(CAST(n_samples AS DOUBLE) / 80000) AS BIGINT), 1))) AS chunk_id
      FROM assets
    )
    SELECT asset_id, CAST(chunk_id AS INT) AS chunk_id,
           chunk_id * 80000 * 2 AS byte_start,
           least(chunk_id * 80000 + 80000, n_samples) * 2 AS byte_end,
           least(chunk_id * 80000 + 80000, n_samples) - chunk_id * 80000 AS chunk_samples
    FROM plan ORDER BY asset_id, chunk_id
    """,
)
def d30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal.plan_audio_chunks — byte ranges for 5 s PCM windows
    (16 kHz, 2 bytes/sample) from per-asset sample counts, last chunk
    truncated. Integer offset math end-to-end; the decoder slices the
    binary payload by exactly these offsets."""
    from etl_cortex_spark.operators.multimodal import plan_audio_chunks

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        (F.col("n_chars").cast("long") * 800 + 1234).alias("n_samples"),
    )
    return plan_audio_chunks(
        assets, window_s=5, sample_rate=16_000, bytes_per_sample=2
    )


# --- D31: entity resolution end-to-end (fuzzy pairs -> clusters -> canonical) -


@query(
    "d31_entity_clusters",
    oracle="""
    WITH RECURSIVE clean AS (
      SELECT c_custkey AS id, substr(c_name, 10, 9) AS key FROM customer
    ),
    dirty AS (
      SELECT id + 1000000 AS id,
             substr(key, 1, 1) || 'x' || substr(key, 3) AS key
      FROM clean WHERE id % 7 = 0
    ),
    p AS (
      SELECT d.id AS id_a, c.id AS id_b
      FROM dirty d JOIN clean c ON levenshtein(d.key, c.key) <= 1
    ),
    nodes AS (SELECT id FROM clean UNION ALL SELECT id FROM dirty),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION ALL SELECT id_b, id_a FROM p),
    cc AS (
      SELECT id AS node, id AS label FROM nodes
      UNION
      SELECT e.dst, cc.label FROM cc JOIN e ON cc.node = e.src
    )
    SELECT node AS id, CAST(min(label) AS BIGINT) AS canonical_id
    FROM cc GROUP BY node ORDER BY id
    """,
)
def d31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: banded fuzzy match (bipartite —
    dirty records against the clean master only) → connected
    components → canonical id per record (component min). max_dist=1
    with the mutation pinned to a guaranteed-zero digit position
    (keys ≤ 7 digits of value) keeps components bounded — a dirty
    record matches exactly its origin, never bridging the dense
    numeric keyspace into a giant chain (mutating low digits links
    ten-key stars through dirty bridges until min-label propagation
    can't converge; transitive-chain CC is d02's territory). The
    banded candidate set is provably identical to the oracle's
    brute-force lev≤1 set (equal-length dist-1 pairs are single
    substitutions — pigeonhole-complete). CC is
    dedup.connected_components: min-label propagation, joins only;
    the oracle replays it as a recursive CTE."""
    from etl_cortex_spark.operators.dedup import connected_components
    from etl_cortex_spark.operators.fuzzy import fuzzy_join

    cust = T(spark, sf_dir, "customer")
    clean = cust.select("c_custkey", F.substring("c_name", 10, 9).alias("key"))
    dirty = clean.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(
            F.substring("key", 1, 1), F.lit("x"), F.expr("substring(key, 3)")
        ).alias("key"),
    )
    pairs = fuzzy_join(
        dirty,
        clean,
        left_id="c_custkey",
        right_id="c_custkey",
        left_key="key",
        right_key="key",
        key_width=9,
        max_dist=1,
    ).select(F.col("l_c_custkey").alias("id_a"), F.col("r_c_custkey").alias("id_b"))
    nodes = clean.select(F.col("c_custkey").alias("id")).unionByName(
        dirty.select(F.col("c_custkey").alias("id"))
    )
    cc = connected_components(nodes, pairs)
    return cc.select(
        F.col("node").alias("id"), F.col("label").alias("canonical_id")
    )


# --- D33: Python UDTF surface (row-expanding escape hatch) --------------------


@query(
    "d33_udtf_sentences",
    oracle="""
    WITH docs AS (
      SELECT doc_id, replace(text, ' a ', '. ') AS text
      FROM documents WHERE doc_id < 100
    ),
    segs AS (
      SELECT doc_id,
             list_filter(
               list_transform(regexp_extract_all(text, '[^.!?]*[.!?]|[^.!?]+$'),
                              x -> trim(x)),
               x -> x != '') AS sents
      FROM docs
    )
    SELECT doc_id,
           CAST(generate_subscripts(sents, 1) - 1 AS INT) AS sent_idx,
           unnest(sents) AS sentence,
           CAST(len(unnest(sents)) AS INT) AS n_chars
    FROM segs
    ORDER BY doc_id, sent_idx
    """,
)
def d33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """functions.pandas_udfs.sentence_udtf — the Python UDTF surface
    (Spark 3.5 @udtf): row-expanding generator applied per document
    via SQL LATERAL. The corpus has no punctuation, so boundaries are
    synthesized with a literal replace (identical non-overlapping
    left-to-right semantics on both engines); the oracle re-derives
    the exact split in pure SQL, proving the escape hatch is
    swap-in/swap-out with the declarative form. UDTFs are the slow
    path by policy — this entry documents the API, not a hot path."""
    from etl_cortex_spark.functions.pandas_udfs import sentence_udtf

    spark.udtf.register("sentence_split", sentence_udtf())
    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.replace(F.col("text"), F.lit(" a "), F.lit(". ")).alias("text"))
    )
    docs.createOrReplaceTempView("d33_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM d33_docs d, LATERAL sentence_split(d.text) s
        """
    )


@query(
    "d36_triangle_count",
    oracle="""
    WITH ed AS (
      SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE c_nationkey <> s_nationkey
      GROUP BY 1, 2
    ), cut AS (
      SELECT * FROM ed WHERE w > (SELECT avg(w) FROM ed)
    ), e AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM cut
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
    )
    SELECT node, count(*) AS n_triangles FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) GROUP BY node ORDER BY node
    """,
)
def d36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph.triangle_count — join-based triangle enumeration over the
    above-average-weight trade graph (same edge build as d27, sparsified
    with the scale-invariant ``w > avg(w)`` cut: integer counts make the
    comparison exact on both engines). The oracle enumerates a<b<c
    triangles by id-order; the operator's enumeration order is an
    implementation choice (degree-ordering at scale) — the hash match
    proves the triangle SET is orientation-invariant.

    Round 19 (guide §2.4/§5): the downstream graph algebra references
    its input many times — `cut` reads `ed` twice (avg + filter) and
    `triangle_count`'s canonicalize/degree/wedge/closure self-joins
    re-read `cut` ~6× — and Spark re-executes the whole 4-table fact
    join per reference (no subplan sharing across self-join arms).
    `localCheckpoint` materializes the nation-pair aggregate ONCE
    (≤ |nations|² ≈ 625 rows), so the fact join runs exactly once and
    every graph step reads the 625-row snapshot; measured noop
    2.3 s → 0.7 s at sf0.1 (A/B best-of-2, fresh sessions). Lineage
    truncation on a metadata-sized frame is the guide's sanctioned
    use; results are bit-identical (oracle re-verified)."""
    from etl_cortex_spark.operators.graph import triangle_count

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    ed = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), s["s_suppkey"] == l["l_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .coalesce(1)
        # lazy (round 20 — the r19 ADVICE): eager=True executed the
        # 4-table fact join at DataFrame-CONSTRUCTION time, so even
        # explain/build-only paths paid the job; lazy materializes at
        # the first action and the ~6 self-join readers still share
        # the one snapshot. (localCheckpoint storage is non-reliable —
        # executor loss recomputes from scratch; acceptable for a
        # ≤625-row intermediate, noted where the pattern is reused.)
        .localCheckpoint(eager=False)
    )
    cut = ed.crossJoin(
        F.broadcast(ed.agg(F.avg("w").alias("avg_w")))
    ).filter(F.col("w") > F.col("avg_w"))
    return triangle_count(cut, order_by_degree=True)


def _pq_oracle(m: int = 4, k: int = 8, d_sub: int = 16) -> str:
    """DuckDB replay of pq_encode under the deterministic codebooks
    (the k lowest-id vectors' subvectors) — same generator-emits-the-
    oracle pattern as d24: per subspace, the 6-decimal-rounded argmin
    with lowest-code tiebreak."""
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        "      FROM embeddings)",
        "cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cidx,"
        "              v AS cv FROM e ORDER BY vec_id LIMIT " + str(k) + ")",
    ]
    joins = []
    for j in range(m):
        lo, hi = j * d_sub + 1, (j + 1) * d_sub
        parts.append(
            f"s{j} AS (SELECT e.vec_id, cb.cidx, "
            f"round(list_sum(list_transform(e.v[{lo}:{hi}], "
            f"(x, i) -> (x - cb.cv[{lo}:{hi}][i]) * (x - cb.cv[{lo}:{hi}][i]))), 6) AS d "
            f"FROM e, cb)"
        )
        parts.append(
            f"c{j} AS (SELECT vec_id, cidx FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn "
            f"FROM s{j}) WHERE rn = 1)"
        )
        joins.append(f"c{j}")
    sel = ", ".join(f"c{j}.cidx AS code{j}" for j in range(m))
    frm = " JOIN ".join(
        [joins[0]] + [f"{t} USING (vec_id)" for t in joins[1:]]
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT c0.vec_id, {sel} FROM {frm} ORDER BY vec_id"
    )


@query(
    "d39_bfs_hops",
    oracle="""
    WITH RECURSIVE ed AS (
      SELECT DISTINCT l_orderkey + 10000000 AS src, l_suppkey AS dst
      FROM lineitem WHERE l_orderkey % 50 = 0
    ),
    e AS (
      SELECT src AS s, dst AS d FROM ed
      UNION ALL
      SELECT dst, src FROM ed
    ),
    walk(node, dist) AS (
      SELECT (SELECT min(dst) FROM ed), 0
      UNION
      SELECT e.d, walk.dist + 1
      FROM walk JOIN e ON walk.node = e.s
      WHERE walk.dist < 12
    )
    SELECT node, CAST(min(dist) AS INT) AS hops
    FROM walk GROUP BY node ORDER BY node
    """,
)
def d39bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph.bfs_hops — single-source shortest hops (round 11: the
    classic graph primitive next to PageRank/CC/LPA/triangles) over
    the sparse supplier↔order co-supply bipartite graph (every 50th
    order): hop 0 = the min-id supplier in the slice, hop 1 = its
    orders, hop 2 = co-suppliers, and so on — supplier collaboration
    distance. Frontier expansion as joins (one shuffle per hop level,
    visited set anti-joined, localCheckpoint lineage truncation);
    returns only the REACHABLE component, which is exactly what the
    oracle's dedup-recursive CTE (UNION on (node, dist), min per
    node) explores. The 12-level oracle bound is >2× the measured
    eccentricity at every SF; Spark's own exhaustion bound raises
    rather than silently truncating."""
    from etl_cortex_spark.operators.graph import bfs_hops

    ed = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select(
            (F.col("l_orderkey") + 10_000_000).alias("src"),
            F.col("l_suppkey").alias("dst"),
        )
        .distinct()
    )
    source = ed.agg(F.min("dst")).first()[0]  # bounded driver peek (1 scalar)
    return bfs_hops(ed, int(source))


@query("d37_pq_encode", oracle=_pq_oracle())
def d37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/pq.pq_encode — product-quantization codes (m=4
    subspaces × k=8 codewords over the 64-dim embeddings) under the
    DETERMINISTIC codebooks, so the encode projection is fully
    oracle-checkable; trained codebooks are engine state covered by
    reconstruction tests (tests/test_pq.py). Encoding is a pure
    codegen projection — no shuffle, no Python."""
    from etl_cortex_spark.operators.pq import deterministic_codebooks, pq_encode

    emb = T(spark, sf_dir, "embeddings")
    books = deterministic_codebooks(emb, m=4, k=8)
    codes = pq_encode(emb, books)
    return codes.select(
        "vec_id",
        *[F.col("codes")[j].alias(f"code{j}") for j in range(4)],
    )


# --- D56: hybrid lexical+vector retrieval (RRF) -------------------------------


@query(
    "d56_hybrid_rrf",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents WHERE doc_id <> 0),
    dl AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, dl,
             unnest(list_filter(ws, t -> list_contains(['table','join','fast'], t))) AS term
      FROM dl
    ),
    tfc AS (SELECT doc_id, dl, term, count(*) AS tf FROM tf GROUP BY 1, 2, 3),
    dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
    lex AS (
      SELECT doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * (1.2 + 1)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 3) AS bm25
      FROM tfc JOIN dfc USING (term) CROSS JOIN stats
      GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    lexr AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM lex
    ),
    q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id AS doc_id,
             round(list_dot_product(v, qv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
               AS cosine
      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE vec_id <> 0), q
      ORDER BY cosine DESC, doc_id LIMIT 50
    ),
    vecr AS (
      SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS vec_rank
      FROM cos
    ),
    f AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank
      FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank,
           coalesce(1.0 / (60 + lex_rank), 0.0)
           + coalesce(1.0 / (60 + vec_rank), 0.0) AS rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def d56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D56: hybrid retrieval, the RAG serving combiner — the BM25
    lexical pool (d19's query terms) and the exact-cosine vector pool
    (d03's query embedding) fused by Reciprocal Rank Fusion. The
    fused score is pure integer→IEEE-division arithmetic over each
    pool's deterministic (rounded score, id) ranks, so the whole
    two-modality pipeline hash-matches the SQL replay; doc 0 (the
    query document) is excluded from both pools."""
    from etl_cortex_spark.inventory.tier_d import _query_vec
    from etl_cortex_spark.operators.search import hybrid_topk_rrf

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir)
    return hybrid_topk_rrf(docs, emb, _BM25_TERMS, qv, k=10, pool=50)


def _lpa_oracle() -> str:
    from etl_cortex_spark.operators.graph import lpa_unrolled_sql

    return lpa_unrolled_sql(
        _TRADE_EDGES_SQL, "SELECT n_nationkey AS node FROM nation", iters=3
    )


@query("d76_label_propagation", _lpa_oracle())
def d76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph.label_propagation — deterministic synchronous weighted
    LPA communities (3 rounds, smallest-label tiebreak) over the same
    nation trade graph d27 ranks: per round one edge⋈label join + a
    (node, label) weight agg + a max_by argmax, labels a DataFrame
    throughout. The oracle unrolls the identical rounds from the same
    generator (graph.lpa_unrolled_sql)."""
    from etl_cortex_spark.operators.graph import label_propagation

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), s["s_suppkey"] == l["l_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("node"))
    return label_propagation(nodes, edges, iters=3)


# --- D77: market-basket co-occurrence ----------------------------------------


@query(
    "d77_market_basket",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS pair_orders
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    po AS (SELECT l_partkey, count(*) AS n_orders_part FROM li GROUP BY 1),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    top AS (
      SELECT part_a, part_b, pair_orders FROM pairs
      ORDER BY pair_orders DESC, part_a, part_b LIMIT 20
    )
    SELECT t.part_a, t.part_b, t.pair_orders,
           pa.n_orders_part AS a_orders, pb.n_orders_part AS b_orders,
           n.n_orders,
           t.pair_orders * n.n_orders
             / (CAST(pa.n_orders_part AS DOUBLE) * pb.n_orders_part) AS lift
    FROM top t
    JOIN po pa ON pa.l_partkey = t.part_a
    JOIN po pb ON pb.l_partkey = t.part_b
    CROSS JOIN n
    ORDER BY t.pair_orders DESC, t.part_a, t.part_b
    """,
)
def d77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift — the association-rule
    primitive (and the co-click/co-view signal a retrieval pipeline
    mines): distinct (order, part) pairs self-joined per order with
    part_a < part_b, one pair-keyed partial agg, top-20 frontier, and
    the per-part/order totals joined AFTER the limit so only 20 rows
    fetch statistics. Pair fan-out is Σ(basket choose 2) — bounded
    here by TPC-H's ≤7-line orders; real carts get a max-basket-size
    prune first (the standard practice). lift = pair·N/(a·b) is one
    IEEE expression over exact integers, emitted unrounded —
    bit-identical in any engine."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    top = pairs.orderBy(F.desc("pair_orders"), "part_a", "part_b").limit(20)
    po = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders_part"))
    n = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    pa = po.withColumnRenamed("l_partkey", "part_a").withColumnRenamed(
        "n_orders_part", "a_orders"
    )
    pb = po.withColumnRenamed("l_partkey", "part_b").withColumnRenamed(
        "n_orders_part", "b_orders"
    )
    return (
        top.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            "a_orders",
            "b_orders",
            "n_orders",
            (
                F.col("pair_orders")
                * F.col("n_orders")
                / (F.col("a_orders").cast("double") * F.col("b_orders"))
            ).alias("lift"),
        )
    )


@query(
    "d101_bitext_margin",
    oracle=f"""
    WITH s0 AS (
      SELECT vec_id AS src_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    t0 AS (
      SELECT vec_id AS tgt_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 2 = 1
      UNION ALL
      SELECT vec_id + 1000001,
             list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                            x -> x + 0.01)
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    sp AS (
      SELECT src_id, v, xor(({_bucket_sql("v")}), f) AS cell
      FROM s0, (VALUES (0), (1), (2), (4), (8), (16), (32)) fl(f)
    ),
    tb AS (SELECT tgt_id, v, ({_bucket_sql("v")}) AS cell FROM t0),
    pr AS (
      SELECT src_id, tgt_id,
             round(list_dot_product(sp.v, tb.v) /
                   (sqrt(list_dot_product(sp.v, sp.v)) *
                    sqrt(list_dot_product(tb.v, tb.v))), 6) AS cosine
      FROM sp JOIN tb USING (cell)
    ),
    pc AS (SELECT *, CAST(round(cosine * 1000000) AS BIGINT) AS c6 FROM pr),
    rk AS (
      SELECT *,
        row_number() OVER (PARTITION BY src_id ORDER BY c6 DESC, tgt_id) AS rs,
        row_number() OVER (PARTITION BY tgt_id ORDER BY c6 DESC, src_id) AS rt
      FROM pc
    ),
    nx AS (SELECT src_id, CAST(sum(c6) AS BIGINT) AS sx,
                  CAST(count(*) AS BIGINT) AS cx
           FROM rk WHERE rs <= 4 GROUP BY src_id),
    ny AS (SELECT tgt_id, CAST(sum(c6) AS BIGINT) AS sy,
                  CAST(count(*) AS BIGINT) AS cy
           FROM rk WHERE rt <= 4 GROUP BY tgt_id),
    sc AS (
      SELECT rk.src_id, rk.tgt_id, rk.cosine,
             (2.0 * rk.c6) / (sx / cx + sy / cy) AS margin
      FROM rk JOIN nx USING (src_id) JOIN ny USING (tgt_id)
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin DESC, tgt_id) AS rm
      FROM sc
    )
    SELECT src_id, tgt_id, margin, cosine
    FROM best WHERE rm = 1 AND margin >= 1.5
    ORDER BY src_id
    """,
)
def d101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """similarity.bitext_margin_pairs -- MARGIN-BASED BITEXT MINING
    (round 13, the parallel-corpus construction step of a multilingual
    training pipeline; Artetxe & Schwenk margin criterion): per source
    embedding, the target candidate whose cosine stands out relative
    to BOTH vectors' k-NN neighborhood averages, mined at margin >=
    1.5. Raw-cosine mining over-selects hub vectors; the margin
    normalization is the published fix. Self-seeded ground truth: the
    target side carries a +0.01-perturbed copy of every 10th source
    vector (disjoint +1000001 ids), so planted translations mine with
    margins far above organic pairs -- the recovery property is pinned
    in pytest (tests/test_selection.py). Scale shape: sign-LSH cell
    join with radius-1 multi-probe on the source side (one shuffle per
    side on the cell key, never all-pairs); neighborhood averages are
    candidate-pool windows quantized to integer micro-units so the
    top-k sums are order-free and the margin is one identical-operand
    double expression on both engines. FULL oracle: the deterministic
    plane literals + xor probes + quantized windows replayed verbatim
    in DuckDB (operators/similarity.py:bitext_margin_pairs)."""
    from etl_cortex_spark.operators import similarity as SIM

    emb = T(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    src = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src_id"), dbl.alias("embedding")
    )
    organic = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"), dbl.alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_001).alias("tgt_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.01).alias(
            "embedding"
        ),
    )
    # n_planes pinned to 6 HERE (not in the operator's default) so the
    # oracle's plane/flip literals stay replayable in DuckDB; the
    # operator default self-sizes from the corpus count (round 14)
    return SIM.bitext_margin_pairs(
        src, organic.unionByName(planted), k=4, threshold=1.5, n_planes=6
    )


@query(
    "d19_postings_index_lookup",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    hits AS (
      SELECT doc_id,
             unnest(list_filter(ws, t -> list_contains(['table','join','fast'], t)))
               AS term
      FROM d
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(count(DISTINCT term) AS BIGINT) AS n_matched,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tfc GROUP BY doc_id
    ORDER BY n_matched DESC, total_tf DESC, doc_id
    LIMIT 20
    """,
)
def d19idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search.write_postings_index + postings_lookup — the PERSISTED
    inverted index (round 13, the lexical twin of the IVF layout):
    tokenize once at ingest, write (term, doc, tf) postings
    PARTITIONED BY a deterministic md5 term bucket, then answer a
    3-term query by pruning to ≤3 bucket directories (driver-side
    bucket twin computes the literal prune list; the scan never lists
    the other buckets — numPartitions pinned in tests/test_plans.py).
    The ad-hoc `d19_bm25_topk` and this layout are the two real
    retrieval postures: per-query corpus scan for one-off audits,
    ingest-time index for a serving workload. The oracle replays the
    postings aggregation + matched-term ranking from the raw corpus —
    equality proves the INDEX holds exactly the corpus's postings (a
    dropped or doubled posting breaks the hash)."""
    docs = T(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "d19_postings_index_lookup")
    SR.write_postings_index(docs, path)
    return SR.postings_lookup(spark, path, ["table", "join", "fast"], k=20)


@query(
    "d19_postings_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 30000000, 'fast fast join table ' || text
      FROM documents WHERE doc_id % 25 = 0
    ),
    d AS (SELECT doc_id, {_WORDS} AS ws FROM corpus),
    hits AS (
      SELECT doc_id,
             unnest(list_filter(ws, t -> list_contains(['table','join','fast'], t)))
               AS term
      FROM d
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(count(DISTINCT term) AS BIGINT) AS n_matched,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tfc GROUP BY doc_id
    ORDER BY n_matched DESC, total_tf DESC, doc_id
    LIMIT 20
    """,
)
def d19inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental postings-index maintenance (round 13 —
    `search.append_postings_index`, the bucket-aligned append pattern
    applied to the lexical index): the base index is written over the
    corpus, then a delta batch of NEW documents (every 25th, re-texted
    to contain the query terms — 'fast fast join table …' at disjoint
    +30M ids) is appended by tokenizing ONLY the delta; same md5 term
    hash ⇒ same bucket ⇒ queries read merged posting lists with no
    merge step and no base re-tokenize. The oracle replays base ∪
    delta from raw text, so a dropped or doubled delta posting breaks
    the hash — and because the delta docs are STUFFED with query terms
    they reach the top-k (3 of 20 at sf0.01, rank 1 included), so the
    maintained index's delta visibility is pinned by the hash, not
    just the base postings."""
    docs = T(spark, sf_dir, "documents")
    path = scratch_dir(sf_dir, "d19_postings_incremental")
    SR.write_postings_index(docs, path)
    delta = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.concat(F.lit("fast fast join table "), F.col("text")).alias("text"),
    )
    SR.append_postings_index(delta, path)
    return SR.postings_lookup(spark, path, ["table", "join", "fast"], k=20)


@query(
    "stream_postings_ingest",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    hits AS (
      SELECT doc_id,
             unnest(list_filter(ws, t -> list_contains(['table','join','fast'], t)))
               AS term
      FROM d
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(count(DISTINCT term) AS BIGINT) AS n_matched,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM tfc GROUP BY doc_id
    ORDER BY n_matched DESC, total_tf DESC, doc_id
    LIMIT 20
    """,
)
def d19stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING postings-index maintenance through the snapshot
    protocol (round 14 — `streaming.ingest.foreach_batch_postings` +
    `search.snapshot_postings_lookup`; closes the serving-layout loop:
    index write r13, batch append r13, STREAMING append r14): the
    documents stream drains through foreachBatch, each micro-batch
    tokenized alone (the shared `postings_frame` code path) and
    committed as ONE snapshot version with its batch_id (crash-replay
    = manifest-lookup no-op, pinned in tests/test_layout.py) and
    per-file __bucket zone maps; the 3-term query then plans from one
    manifest read, keeping only bucket-overlapping files. The oracle
    replays the postings aggregation + matched-term ranking from raw
    text — equality proves the streamed index holds exactly the
    corpus's postings ONCE, independent of where the engine cut the
    micro-batches (a doubled batch or a torn commit breaks the hash).
    At 100 TB this is the index-freshness answer: ingest commits
    versions continuously, serving pins a snapshot per query, and
    nothing ever rebuilds."""
    import os

    from etl_cortex_spark.streaming.events import read_table_stream
    from etl_cortex_spark.streaming.ingest import foreach_batch_postings

    base = scratch_dir(sf_dir, "stream_postings_ingest")
    docs = read_table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    q = foreach_batch_postings(
        docs,
        path=os.path.join(base, "table"),
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return SR.snapshot_postings_lookup(
        spark, os.path.join(base, "table"), ["table", "join", "fast"], k=20
    )
