"""Tier D operator tests: LSH recall vs exact baseline, simhash
properties, ANN vs brute force, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cortex_spark.operators import dedup as DD
from etl_cortex_spark.operators import multimodal as MM
from etl_cortex_spark.operators import similarity as SIM
from etl_cortex_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") % 10 == 0)
    mutated = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("mutated "), F.col("text")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(mutated).cache()


def test_minhash_lsh_recall(spark, docs_with_dups):
    """Every exact-Jaccard pair ≥ 0.8 must be found by LSH (recall at
    high similarity ~1 with 8 bands × 4 rows)."""
    exact = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs_with_dups).filter("jaccard >= 0.8").collect()
    }
    assert exact, "fixture should contain planted near-dups"
    lsh = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect()
    }
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {sorted(missed)[:5]}"


def test_minhash_lsh_no_false_positives_below_threshold(spark, docs_with_dups):
    out = DD.minhash_lsh_pairs(docs_with_dups, threshold=0.5).collect()
    assert all(r.jaccard >= 0.5 for r in out)


def test_simhash_identical_and_mutated(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    sims = {r.doc_id: r.s for r in df.select("doc_id", DD.simhash16("text").alias("s")).collect()}
    assert sims[1] == sims[2]  # identical text → identical signature
    ham13 = bin(sims[1] ^ sims[3]).count("1")
    ham14 = bin(sims[1] ^ sims[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated
    cands = DD.simhash_candidates(df, max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in cands} >= {(1, 2)}


def test_ann_results_subset_of_brute_force_ranking(spark):
    emb = load_table(spark, SF, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    exact = DD  # noqa: F841  (readability)
    brute = SIM.cosine_topk(emb.filter("vec_id != 0"), qv, k=500)
    order = {r.vec_id: i for i, r in enumerate(brute.collect())}
    ann = SIM.lsh_topk(emb.filter("vec_id != 0"), qv, k=5).collect()
    assert len(ann) > 0
    # ANN candidates must be ranked consistently with brute force
    ranks = [order[r.vec_id] for r in ann]
    assert ranks == sorted(ranks)


def test_batch_ann_matches_per_query_path(spark):
    """lsh_topk_batch (round 11): the one-scan broadcast-join batch
    form must return, for EVERY query in the batch, exactly what the
    single-query lsh_topk path returns — same hyperplanes, same
    bucketing, same (cosine desc, id) order."""
    emb = load_table(spark, SF, "embeddings")
    corpus = emb.filter("vec_id >= 5")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = SIM.lsh_topk_batch(corpus, queries, k=5, n_planes=6, seed=7).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    assert set(got) <= set(range(5)) and len(got) > 0
    for qid in got:
        qv = [float(x) for x in emb.filter(f"vec_id = {qid}").first().embedding]
        single = [
            (r["vec_id"], r["cosine"])
            for r in SIM.lsh_topk(corpus, qv, k=5, n_planes=6, seed=7).collect()
        ]
        assert got[qid] == single, f"query {qid}: batch != single"


def test_exact_dedup_removes_planted_duplicates(spark):
    docs = load_table(spark, SF, "documents").limit(20).select("doc_id", "text", "lang")
    dup = docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text", "lang")
    out = DD.exact_dedup(docs.unionByName(dup))
    rows = out.collect()
    assert len(rows) == 20  # survivors only
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.doc_id < 1000 for r in rows)  # min-id survivor rule


def test_multimodal_pipeline_schema_and_determinism(spark):
    docs = load_table(spark, SF, "documents").limit(30)
    feats = MM.extract_features(MM.synthesize_assets(docs))
    assert feats.schema.simpleString() == (
        "struct<asset_id:bigint,modality:string,byte_len:bigint,"
        "width:int,height:int,mean_byte:double,feature_crc:string>"
    )
    a = sorted(map(tuple, feats.collect()))
    b = sorted(map(tuple, feats.repartition(7).collect()))
    assert a == b  # partitioning must not change results
    assert all(r[2] == 128 for r in a)  # 256 hex chars → 128 bytes


def test_decode_stub_contract():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x89PNG")


def test_approx_count_distinct_within_5pct(spark):
    li = load_table(spark, SF, "lineitem")
    got = li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("a"),
        F.countDistinct("l_orderkey").alias("e"),
    ).first()
    assert abs(got.a - got.e) / got.e < 0.05


def test_minhash_lsh_ml_recall(spark, docs_with_dups):
    """The MLlib MinHashLSH path must also find every high-similarity
    pair the exact baseline finds."""
    exact = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(docs_with_dups)
        .filter("jaccard >= 0.8")
        .collect()
    }
    assert exact
    ml = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs_ml(docs_with_dups, threshold=0.5).collect()
    }
    missed = exact - ml
    assert not missed, f"MLlib LSH missed pairs: {sorted(missed)[:5]}"


def test_ann_brp_rank_consistent_with_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    pool = emb.filter("vec_id != 0")
    order = {
        r.vec_id: i for i, r in enumerate(SIM.cosine_topk(pool, qv, k=2000).collect())
    }
    ann = SIM.ann_brp_topk(pool, qv, k=5).collect()
    assert 0 < len(ann) <= 5
    ranks = [order[r.vec_id] for r in ann]
    assert ranks == sorted(ranks)  # cosine ordering consistent


def test_simhash_banding_full_recall_vs_exact_hamming(spark, docs_with_dups):
    """Pigeonhole guarantee: 4 bands × 4 bits must find EVERY pair with
    hamming ≤ 3 (the old single top-byte bucket silently dropped pairs
    differing in that byte)."""
    sims = docs_with_dups.select(
        "doc_id", DD.simhash16(F.col("text")).alias("s")
    ).collect()
    exact = {
        (a.doc_id, b.doc_id)
        for i, a in enumerate(sims)
        for b in sims[i + 1 :]
        if bin(a.s ^ b.s).count("1") <= 3
    }
    exact = {(min(p), max(p)) for p in exact}
    assert exact, "fixture should contain hamming-close pairs"
    got = {
        (r.id_a, r.id_b)
        for r in DD.simhash_candidates(docs_with_dups, max_hamming=3).collect()
    }
    missed = exact - got
    assert not missed, f"banding missed hamming≤3 pairs: {sorted(missed)[:5]}"
    assert got == exact  # and no pair above the bound sneaks in


def test_simhash_banding_parameter_validation(spark, docs_with_dups):
    with pytest.raises(ValueError, match="must divide"):
        DD.simhash_candidates(docs_with_dups, bands=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_candidates(docs_with_dups, max_hamming=4, bands=4)


def test_connected_components_transitive_chain(spark):
    """A-B and B-C pairs (no A-C edge) must collapse into one cluster
    labeled by the min id — label propagation has to transit."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    labels = {r.node: r.label for r in DD.connected_components(nodes, pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_near_dedup_end_to_end(spark):
    """pairs → clusters → min-id survivor: three near-identical docs
    (transitively linked) keep exactly one survivor; unrelated docs all
    survive."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (10, base),
            (11, base + " extra"),
            (12, "prefix " + base),
            (20, "completely different content about spark execution engines"),
            (30, "a third unrelated document mentioning columnar parquet files"),
        ],
        "doc_id long, text string",
    )
    out = DD.near_dedup(df, threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [10, 20, 30]
    # input schema passes through untouched
    assert out.columns == df.columns


def test_quadratic_guards_raise_on_unbounded_input(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    with pytest.raises(ValueError, match="quadratic"):
        DD.ngram_jaccard_pairs(docs, max_rows=10)
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="quadratic"):
        DD.embedding_near_dup_pairs(emb, max_rows=10)


# --- D10-D13 training-prep operators -----------------------------------------


def test_redact_pii_categories(spark):
    from etl_cortex_spark.operators import llmprep as LP

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.org now"),
            (2, "server at 192.168.0.255 down"),
            (3, "call +44 555 0102 9999 today"),
            (4, "account 1234567890123 flagged"),
            (5, "clean text with no identifiers"),
        ],
        "id long, text string",
    )
    out = {r.id: r.red for r in df.select("id", LP.redact_pii("text").alias("red")).collect()}
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "server at <IP> down"
    assert out[3] == "call <PHONE> today"
    assert out[4] == "account <NUM> flagged"
    assert out[5] == "clean text with no identifiers"


def test_stratified_sample_deterministic_and_rate(spark):
    from etl_cortex_spark.operators import llmprep as LP

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    s1 = LP.stratified_sample(docs, "lang", {"en": 0.5}, "doc_id", 0.0)
    a = sorted(r.doc_id for r in s1.select("doc_id").collect())
    b = sorted(r.doc_id for r in s1.repartition(13).select("doc_id").collect())
    assert a == b and a  # repartition-invariant, non-empty
    n_en = docs.filter("lang = 'en'").count()
    # 50% nominal rate: binomial bounds, generous
    assert 0.35 * n_en < len(a) < 0.65 * n_en
    # only the sampled stratum survives a 0-default
    assert s1.filter("lang <> 'en'").count() == 0


def test_contamination_flags_benchmark_members(spark):
    from etl_cortex_spark.operators import llmprep as LP

    docs = load_table(spark, SF, "documents")
    bench = docs.filter("doc_id % 50 = 0")
    out = LP.contamination_check(docs, bench, k=5, min_overlap=0.99)
    flagged = {r.doc_id for r in out.collect()}
    members = {r.doc_id for r in bench.select("doc_id").collect()}
    assert members <= flagged  # every benchmark doc is 100% contaminated


def test_pack_sequences_invariants(spark):
    from etl_cortex_spark.operators import llmprep as LP
    from etl_cortex_spark.operators import textops as TX

    docs = load_table(spark, SF, "documents").select(
        "doc_id", TX.n_tokens("text").alias("n_tokens")
    )
    packed = LP.pack_sequences(docs, max_tokens=64, n_buckets=4)
    rows = packed.collect()
    # every doc packed exactly once
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in docs.collect()
    )
    # no bin over budget unless it holds a single oversized doc
    import collections

    bins = collections.defaultdict(list)
    for r in rows:
        bins[r.bin_id].append(int(r.n_tokens))
    for _, toks in bins.items():
        assert sum(toks) <= 64 or len(toks) == 1
    # deterministic under repartitioning
    again = sorted(map(tuple, LP.pack_sequences(
        docs.repartition(7), max_tokens=64, n_buckets=4).collect()))
    assert sorted(map(tuple, rows)) == again


def test_near_dedup_exact_first_same_survivors(spark):
    """exact_first is a pure optimization: survivors must equal the
    direct-LSH path on a corpus with planted exact + near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base), (2, base), (3, base),          # exact-dup clique
        (10, base + " extra"),                     # near-dup of the clique
        (20, "entirely different content on spark physical planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = sorted(r.doc_id for r in DD.near_dedup(df, threshold=0.5).collect())
    slow = sorted(
        r.doc_id
        for r in DD.near_dedup(df, threshold=0.5, exact_first=False).collect()
    )
    assert fast == slow == [1, 20]


def test_tws_user_stats_matches_batch_when_available(spark):
    """Spark-4 transformWithStateInPandas variant of D8 — skipped where
    the container's protobuf is unusable (the API runs a
    protobuf-based state server)."""
    pytest.importorskip("google.protobuf.descriptor")
    from etl_cortex_spark.streaming.events import tws_user_value_stats

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in tws_user_value_stats(spark, SF).collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_resample_locf_fills_gaps(spark):
    from etl_cortex_spark.operators.timeseries import resample_daily_locf

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 10:00:00", 1.0),
            ("a", "2024-01-04 10:00:00", 4.0),   # 2-day gap before
            ("b", "2024-01-02 10:00:00", 2.0),   # leading gap on day 1
        ],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r.k, str(r.day)): (r.n, r.val, r.val_filled)
        for r in resample_daily_locf(df, "ts", "k", "v").collect()
    }
    assert len(out) == 8  # 4-day calendar × 2 keys, dense
    assert out[("a", "2024-01-02")] == (0, None, 1.0)  # gap carried
    assert out[("a", "2024-01-03")] == (0, None, 1.0)
    assert out[("a", "2024-01-04")] == (1, 4.0, 4.0)   # own value wins
    assert out[("b", "2024-01-01")] == (0, None, None)  # leading gap stays NULL
    assert out[("b", "2024-01-04")] == (0, None, 2.0)


def test_stratified_sample_full_fraction_keeps_everything(spark):
    from etl_cortex_spark.operators import llmprep as LP

    docs = load_table(spark, SF, "documents")
    kept = LP.stratified_sample(docs, "lang", {"en": 1.0}, "doc_id", 1.0)
    assert kept.count() == docs.count()  # frac=1.0 means ALL rows


def test_connected_components_raises_on_exhaustion(spark):
    """A 5-node chain cannot converge in 2 rounds — exhaustion must be
    an error, never silently-wrong labels."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(nodes, chain, max_iter=2)
    labels = {r.node: r.label for r in DD.connected_components(nodes, chain).collect()}
    assert set(labels.values()) == {1}


def test_binned_range_join_rejects_outer_sides(spark):
    from etl_cortex_spark.operators.rangejoin import binned_range_join

    pts = spark.createDataFrame([(5,)], "p long")
    ivs = spark.createDataFrame([(0, 40)], "lo long, hi long")
    with pytest.raises(ValueError, match="unsupported"):
        binned_range_join(pts, ivs, "p", "lo", "hi", 16, how="full")


def test_gopher_gate_flags_each_failure_mode(spark):
    from etl_cortex_spark.operators import textops as TX

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy sleeping dog today"),
            (2, "spam spam spam spam spam spam spam spam the end"),   # repetition
            (3, "the ### fox ### ran ### off ### again ### now"),     # symbols
            (4, "too short"),                                          # word count
            (5, "12 34 56 78 90 11 22 33 44 55 the end"),              # non-alpha
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.keep
        for r in docs.select(
            "doc_id", TX.gopher_pass("text").alias("keep")
        ).collect()
    }
    assert out == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_line_dedup_drops_frequent_keeps_order(spark):
    from etl_cortex_spark.operators import llmprep as LP

    docs = spark.createDataFrame(
        [
            (1, "alpha\nSPAM\nbeta"),
            (2, "SPAM\ngamma"),
            (3, "delta\nSPAM"),
            (4, "SPAM"),          # all-boilerplate doc disappears
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in LP.line_dedup(docs, min_count=3).collect()}
    assert out == {1: "alpha\nbeta", 2: "gamma", 3: "delta"}


def test_quantized_cosine_topk_matches_float(spark):
    """int8 dequantized vectors must reproduce the float top-10 (the
    whole point of shipping the 4x-smaller index)."""
    from etl_cortex_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    qvec = [float(i % 7 - 3) / 7.0 for i in range(
        emb.select(F.size("embedding")).first()[0])]
    exact = [r.vec_id for r in SIM.cosine_topk(emb, qvec, k=10).collect()]

    qs = SIM.quantize_embedding(F.col("embedding"))
    deq = emb.select(
        "vec_id",
        SIM.dequantize_embedding(
            qs.getField("q"), qs.getField("scale")
        ).alias("embedding"),
    )
    approx = [r.vec_id for r in SIM.cosine_topk(deq, qvec, k=10).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 9, f"int8 recall@10 too low: {overlap}/10"


def test_trigram_lm_flags_gibberish(spark):
    """A gibberish doc planted in a real corpus must score clearly
    below the corpus mean logprob — that is the screening signal."""
    from etl_cortex_spark.operators import textops as TX

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(200)
    planted = docs.unionByName(
        spark.createDataFrame(
            [(999_999, "qzxjv wqkfz xjqvz bzzkq jxqwv zqxkj vjqzx kqzwx")],
            "doc_id long, text string",
        )
    )
    scores = {
        r.doc_id: r.mean_logprob
        for r in TX.trigram_lm_scores(planted).collect()
    }
    gib = scores.pop(999_999)
    mean = sum(scores.values()) / len(scores)
    assert gib < mean - 1.0, f"gibberish {gib} not below corpus mean {mean}"


def test_repetition_signals_fixture(spark):
    """Gopher repetition family on a hand-computable fixture."""
    from etl_cortex_spark.operators import textops as TX

    fix = spark.createDataFrame(
        [(1, "a b a b a b\nx\nx\ny"), (2, "single"), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in fix.select(
            "doc_id",
            TX.dup_line_frac("text").alias("dl"),
            TX.top_ngram_frac("text", 2).alias("t2"),
            TX.dup_ngram_frac("text", 5).alias("d5"),
        ).collect()
    }
    # 4 lines, 3 distinct; bigrams: 'a b' x3 of 8
    assert rows[1]["dl"] == 0.25
    assert rows[1]["t2"] == 3 / 8
    # doc with < n words: all signals defined, zero
    assert rows[2]["t2"] == 0.0 and rows[2]["d5"] == 0.0
    assert rows[3]["dl"] == 0.0 and rows[3]["t2"] == 0.0


def test_repetition_signals_run_length_equals_reference(spark):
    """Round-19 optimization pin: the sort-then-run-length forms of
    top_ngram_frac / dup_ngram_frac must equal the reference
    distinct×filter (quadratic) definition EXACTLY — same integers,
    same quotient — on adversarial shapes: empty, NULL, < n words,
    all-identical grams, no duplicates, interleaved repeats, and a
    doc whose repeated gram run sits at the array tail (exercises the
    finish-lambda close)."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators import textops as TX

    def ref_top(col, n):
        g = TX.word_ngrams(col, n)
        cnts = F.transform(
            F.array_distinct(g),
            lambda gg: F.size(F.filter(g, lambda x: x == gg)),
        )
        return F.coalesce(
            F.array_max(cnts) / F.greatest(F.size(g), F.lit(1)), F.lit(0.0)
        )

    def ref_dup(col, n):
        g = TX.word_ngrams(col, n)
        cnts = F.transform(
            F.array_distinct(g),
            lambda gg: F.size(F.filter(g, lambda x: x == gg)),
        )
        dup = F.aggregate(
            F.filter(cnts, lambda c: c >= 2), F.lit(0), lambda acc, x: acc + x
        )
        return dup / F.greatest(F.size(g), F.lit(1))

    fix = spark.createDataFrame(
        [
            (0, ""),
            (1, None),
            (2, "one"),
            (3, "a a a a a a a a a a"),
            (4, "b c d e f g h i j k l m"),
            (5, "x y x y x y x y"),
            (6, "p q r p q r p q r p q"),
            (7, "z z q w e r t y z z"),
        ],
        "doc_id long, text string",
    )
    for n in (2, 3, 5):
        bad = fix.select(
            ref_top(F.col("text"), n).alias("rt"),
            TX.top_ngram_frac("text", n).alias("nt"),
            ref_dup(F.col("text"), n).alias("rd"),
            TX.dup_ngram_frac("text", n).alias("nd"),
        ).filter(
            (~F.col("rt").eqNullSafe(F.col("nt")))
            | (~F.col("rd").eqNullSafe(F.col("nd")))
        )
        assert bad.count() == 0, f"n={n}: {bad.collect()}"


def test_span_dedup_removes_shared_span_only(spark):
    """Two docs share a 6-word sentence (=> two duplicated 5-grams
    covering exactly those 6 words); a third doc is unique. The shared
    span must vanish from BOTH carriers, unique prose must survive,
    and counts must be exact."""
    from etl_cortex_spark.operators import llmprep as LP

    shared = "the quick brown fox jumps high"
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} epsilon zeta eta theta iota"),
        (3, "totally unique words nobody else repeats anywhere at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in LP.span_dedup(df, n=5, min_docs=2).collect()
    }
    assert out[1]["text"] == "alpha beta gamma delta"
    assert out[1]["n_removed"] == 6
    assert out[2]["text"] == "epsilon zeta eta theta iota"
    assert out[2]["n_removed"] == 6
    assert out[3]["text"] == rows[2][1]
    assert out[3]["n_removed"] == 0
    assert out[3]["n_words"] == 9


def test_span_dedup_full_doc_removal_yields_empty_text(spark):
    """A doc that IS the duplicated span collapses to '' (not a
    dropped row) — the left-join reassembly contract."""
    from etl_cortex_spark.operators import llmprep as LP

    rows = [
        (1, "one two three four five"),
        (2, "one two three four five"),
        (3, "padding text that is unrelated and stays intact here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in LP.span_dedup(df, n=5, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["text"] == "" and out[1]["n_removed"] == 5
    assert out[2]["text"] == "" and out[2]["n_removed"] == 5
    assert out[3]["n_removed"] == 0


def test_span_dedup_within_doc_repeat_not_flagged_across(spark):
    """min_docs=2 counts DISTINCT documents: a span repeated twice
    inside ONE doc is not corpus-duplicated and must survive."""
    from etl_cortex_spark.operators import llmprep as LP

    rows = [
        (1, "aa bb cc dd ee aa bb cc dd ee"),
        (2, "vv ww xx yy zz qq rr ss tt uu"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in LP.span_dedup(df, n=5, min_docs=2).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] == 0


def test_plan_mixture_rates_and_apply(spark):
    """Hand-checked BIGINT rate math + the cap and zero-weight rules,
    and apply_mixture's determinism under repartitioning."""
    from etl_cortex_spark.operators import llmprep as LP

    rows = [(i, "w " * 10, ["web", "code", "other"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # per-domain tokens: 100 docs x 10 tokens = 1000
    plan = LP.plan_mixture(df, "source", {"web": 3, "code": 1}, token_budget=2000)
    p = {r["source"]: r for r in plan.collect()}
    # web: min(256, 2000*3*256 // (4*1000)) = min(256, 384) = 256 (keep all)
    assert p["web"]["rate_256"] == 256 and p["web"]["n_tokens"] == 1000
    # code: 2000*1*256 // (4*1000) = 128 (~half)
    assert p["code"]["rate_256"] == 128
    assert p["code"]["est_tokens"] == 500
    assert p["other"]["rate_256"] == 0
    sampled = LP.apply_mixture(df, plan, "source", "doc_id")
    got = {r["source"]: r["n"] for r in
           sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["web"] == 100          # rate 256 keeps everything
    assert "other" not in got         # rate 0 drops the domain
    assert 30 <= got["code"] <= 70    # ~half by md5 byte
    again = LP.apply_mixture(df.repartition(7), plan, "source", "doc_id")
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in sampled.collect()
    )


def test_strip_markup_cases(spark):
    """Tag removal, word boundaries, single-pass entity decode,
    whitespace collapse, and plain-text passthrough."""
    from etl_cortex_spark.operators.textops import strip_markup

    rows = [
        (1, "<td>a</td><td>b</td>"),
        (2, "x &amp;lt; y &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b"),
        (3, "no markup   at\tall\n just   spaces"),
        (4, '<a href="http://e.com?q=1&amp;r=2">link</a> tail'),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {r["i"]: r["s"] for r in df.select("i", strip_markup("t").alias("s")).collect()}
    assert got[1] == "a b"
    # &amp;lt; decodes ONCE to the literal '&lt;' (no double pass), and
    # an entity-ENCODED tag becomes visible text (tags were already gone)
    assert got[2] == "x &lt; y <tag> \"q\" 's' a b"
    assert got[3] == "no markup at all just spaces"
    assert got[4] == "link tail"


def test_norm_url_cases(spark):
    """Scheme+host fold, path case kept, default-port strip, tracking
    params dropped (order of survivors kept), fragment gone, trailing
    slash gone, schemeless passthrough (trimmed)."""
    from etl_cortex_spark.operators.textops import norm_url

    rows = [
        (1, "HTTP://WWW.Ex.COM:80/A/B/?utm_source=x&q=1&fbclid=z#top"),
        (2, "https://Ex.com:443/CaseKept?ref=rss"),
        (3, "https://ex.com:8443/keep:port"),
        (4, "  plain text  "),
        (5, "ftp://Files.EX.com/Pub/"),
        (6, "http://ex.com/?utm_medium=a&utm_term=b"),
    ]
    df = spark.createDataFrame(rows, "i long, u string")
    got = {r["i"]: r["n"] for r in df.select("i", norm_url("u").alias("n")).collect()}
    assert got[1] == "http://www.ex.com/A/B?q=1"
    assert got[2] == "https://ex.com/CaseKept"
    assert got[3] == "https://ex.com:8443/keep:port"
    assert got[4] == "plain text"
    assert got[5] == "ftp://files.ex.com/Pub"
    assert got[6] == "http://ex.com"


def test_bpe_pair_counts_hand_computed(spark):
    """'aaab' x2 + 'ab' x1: pairs aa(2x2=4)... hand-check the weighted
    count and the tiebreak ordering."""
    from etl_cortex_spark.operators.textops import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab x")], "i long, text string"
    )
    # words: aaab (wf 2), ab (wf 1); 'x' dropped (length < 2)
    # aaab pairs: aa, aa, ab -> aa: 2*2=4, ab: 2*1=2 ; ab pairs: ab -> +1
    got = [(r["pair"], r["total"]) for r in bpe_pair_counts(df, "text").collect()]
    assert got == [("aa", 4), ("ab", 3)]


def test_bpe_apply_merges_hand_computed(spark):
    """Greedy left-to-right per-rule semantics, chained rules, and the
    aaa-overlap case, checked against hand-derived encodings."""
    from etl_cortex_spark.operators.textops import (
        BPE_SEP,
        bpe_apply_merges,
        bpe_encode_word,
        bpe_symbol_count,
    )

    df = spark.createDataFrame(
        [(1, "table"), (2, "aaa"), (3, "fast"), (4, "x")],
        "i long, w string",
    )
    merges = [("t", "a"), ("ta", "b"), ("a", "a"), ("f", "a"), ("fa", "s")]
    enc = bpe_apply_merges(bpe_encode_word("w"), merges)
    out = {
        r["i"]: (r["s"], r["n"])
        for r in df.select(
            "i", enc.alias("s"), bpe_symbol_count(enc).alias("n")
        ).collect()
    }
    def toks(s):
        return [t for t in s.split(BPE_SEP) if t]
    # table: t+a -> ta, ta+b -> tab => [tab, l, e]
    assert toks(out[1][0]) == ["tab", "l", "e"] and out[1][1] == 3
    # aaa with (a,a): left-to-right non-overlap => [aa, a]
    assert toks(out[2][0]) == ["aa", "a"] and out[2][1] == 2
    # fast: f+a -> fa, fa+s -> fas => [fas, t]
    assert toks(out[3][0]) == ["fas", "t"] and out[3][1] == 2
    # single char untouched
    assert toks(out[4][0]) == ["x"] and out[4][1] == 1


def test_minhash_probe_bipartite_recall_and_no_self_pairs(spark):
    """The incremental probe must (a) find every mutated copy's
    source (recall at one-word mutation), (b) never emit new×new or
    existing×existing pairs, and (c) not pair the genuinely fresh
    docs with anything."""
    from etl_cortex_spark.operators import dedup as DD

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") % 10 == 0)
    existing = docs.select("doc_id", "text")
    mutants = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("mutated "), F.col("text")).alias("text"),
    )
    fresh = spark.createDataFrame(
        [(30_000_000 + i, f"completely novel content block {i} zz qq vv ww rr")
         for i in range(5)],
        "doc_id long, text string",
    )
    new = mutants.unionByName(fresh)
    got = DD.minhash_lsh_probe(existing, new, threshold=0.5).collect()
    pairs = {(r["new_id"], r["existing_id"]) for r in got}
    # every pair is bipartite: new ids on the left, existing on the right
    assert all(n >= 10_000_000 and e < 10_000_000 for n, e in pairs)
    # every mutant found its source (one-word prefix => jaccard ~0.8+)
    src_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    found = {e for n, e in pairs if n < 20_000_000 and n - 10_000_000 == e}
    assert found == src_ids, f"missed sources: {src_ids - found}"
    # fresh docs pair with nothing
    assert not any(n >= 30_000_000 for n, _ in pairs)


def test_prefix_filter_probe_exact_vs_bruteforce(spark):
    """prefix_filter_probe's AllPairs bound guarantees recall 1.0:
    its output must EQUAL the brute-force exact bipartite pair set
    (every (new, existing) with shingle-Jaccard >= t), including
    short-doc edge cases where the prefix is the whole set."""
    from etl_cortex_spark.operators import dedup as DD
    from etl_cortex_spark.operators.textops import shingles

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") % 10 == 0)
    existing = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(900_001, "tiny doc"), (900_002, "alpha beta gamma delta")],
            "doc_id long, text string",
        )
    )
    new = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("mutated "), F.col("text")).alias("text"),
    ).unionByName(
        spark.createDataFrame(
            [(10_900_001, "tiny doc"),            # j=1 with 900_001
             (10_900_002, "alpha beta gamma"),    # prefix-boundary case
             (10_900_003, "zz qq vv novel")],     # pairs with nothing
            "doc_id long, text string",
        )
    )
    got = {
        (r["new_id"], r["existing_id"], r["jaccard"])
        for r in DD.prefix_filter_probe(existing, new, threshold=0.5).collect()
    }
    # brute force: full cross join + exact jaccard
    a = new.select(F.col("doc_id").alias("new_id"), shingles("text").alias("sa"))
    b = existing.select(
        F.col("doc_id").alias("existing_id"), shingles("text").alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    j = inter / F.greatest(union, F.lit(1))
    want = {
        (r["new_id"], r["existing_id"], r["jaccard"])
        for r in a.crossJoin(b)
        .filter(j >= 0.5)
        .withColumn("jaccard", F.round(j, 6))
        .collect()
    }
    assert got == want
    assert (10_900_001, 900_001, 1.0) in got
    assert not any(n == 10_900_003 for n, _, _ in got)


def test_prefix_filter_probe_rejects_degenerate_threshold(spark):
    """t=0 would make the length filter's |Sb| <= |Sa|/t divide by
    zero (NULL under non-ANSI -> silently drops EVERY candidate,
    violating the guaranteed-recall contract) — it must raise instead
    (round-10 ADVICE). Same for t>1 and t<0."""
    import pytest

    from etl_cortex_spark.operators import dedup as DD

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad_t in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            DD.prefix_filter_probe(docs, docs, threshold=bad_t)


def test_embedding_outliers_partition_invariant_and_sane(spark):
    """d92's exactness claim, pinned directly: the integer-quantized
    moments are summation-order-free, so the top-k outlier RANKING must
    be identical under any partitioning of the vectors — the property a
    double avg() centroid would not have. Sanity: a hand-planted
    far-away vector must rank first."""
    from etl_cortex_spark.operators.similarity import quantized_centroid_outliers

    base = [(i, [float((i * 7 + j) % 13) / 13.0 for j in range(8)]) for i in range(300)]
    far = (999, [50.0] * 8)
    df = spark.createDataFrame(base + [far], "vec_id bigint, embedding array<float>")
    a = [
        (r["vec_id"], r["dist"])
        for r in quantized_centroid_outliers(df.repartition(2), dim=8, topk=5).collect()
    ]
    b = [
        (r["vec_id"], r["dist"])
        for r in quantized_centroid_outliers(df.repartition(17), dim=8, topk=5).collect()
    ]
    assert a == b
    assert a[0][0] == 999


def test_literal_unroll_null_degrades_on_ragged_vectors(spark):
    """The codegen unroll (dot_lit/norm_sq_expr/cosine_lit) must keep
    the zip_with fold's dim-mismatch semantics (round-9 ADVICE): a
    vector LONGER than the query must NOT silently truncate-and-score,
    and a SHORTER one must NOT throw ANSI INVALID_ARRAY_INDEX — both
    degrade to NULL, exactly like the HOF path. Well-formed vectors
    are bit-identical to the fold."""
    q = [1.0, 2.0, 3.0]
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),          # exact dim
            (2, [1.0, 2.0, 3.0, 4.0]),     # longer: would truncate
            (3, [1.0, 2.0]),               # shorter: would throw under ANSI
            (4, None),                     # NULL vector
        ],
        "vec_id long, embedding array<double>",
    )
    v = SIM.as_double(F.col("embedding"))
    rows = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            SIM.dot_lit(v, q).alias("dot"),
            SIM.cosine_lit(v, q).alias("cos"),
            SIM.dot(v, F.array(*[F.lit(x) for x in q])).alias("dot_hof"),
        ).collect()
    }
    assert rows[1].dot == rows[1].dot_hof == 14.0
    assert abs(rows[1].cos - 1.0) < 1e-12
    for bad in (2, 3, 4):
        assert rows[bad].dot is None and rows[bad].cos is None
    # lsh_bucket over the same ragged frame must not raise either —
    # mismatched rows land in bucket 0 (NULL > 0 is never true),
    # matching the fold behavior.
    planes = SIM.hyperplanes(3, n=4)
    buckets = {
        r.vec_id: r.b
        for r in df.select("vec_id", SIM.lsh_bucket(v, planes).alias("b")).collect()
    }
    assert buckets[2] == buckets[3] == buckets[4] == 0


def test_group_rep_near_pairs_collapses_then_pairs(spark):
    """group_rep_near_pairs: verbatim copies collapse to the min-id
    representative with the right multiplicity, near-dup edges appear
    once per REP pair (not per expanded pair), and the edge carries
    both group sizes."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # verbatim of 1
            (3, "alpha beta gamma delta epsilon zeta"),   # verbatim of 1
            (4, "mutated alpha beta gamma delta epsilon zeta"),  # near-dup
            (5, "completely different text about spark engines here"),
        ],
        "doc_id long, text string",
    )
    rows = DD.group_rep_near_pairs(df, threshold=0.5).collect()
    assert len(rows) == 1
    [e] = rows
    assert (e.id_a, e.id_b) == (1, 4)
    assert e.n_copies_a == 3 and e.n_copies_b == 1
    assert e.jaccard >= 0.5


def test_group_rep_survivors_weights_clusters(spark):
    """group_rep_survivors (round 11): the end-to-end composition must
    emit ONE min-id survivor per near-dup cluster of exact-group reps,
    with n_docs = the total ORIGINAL documents it stands for (sum of
    the cluster's exact-group sizes), and singletons survive with
    their own group size."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # verbatim of 1
            (3, "alpha beta gamma delta epsilon zeta"),  # verbatim of 1
            (4, "mutated alpha beta gamma delta epsilon zeta"),  # near-dup of the group
            (5, "completely different text about spark engines here"),
            (6, "completely different text about spark engines here"),  # verbatim of 5
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_docs for r in DD.group_rep_survivors(df, threshold=0.5).collect()}
    # cluster {1,2,3,4} survives as 1 (4 docs); cluster {5,6} as 5 (2 docs)
    assert got == {1: 4, 5: 2}


def test_ccnet_buckets_balanced_and_ordered(spark):
    """CCNet bucketing invariants: per language the terciles differ by
    at most one document (ntile contract), every document lands in
    exactly one bucket, and the head bucket's mean quantized score is
    strictly above the tail's (the whole point of the partition)."""
    from etl_cortex_spark.operators import llmprep as LP

    docs = load_table(spark, SF, "documents")
    n_by_lang = {r["lang"]: r["n"] for r in
                 docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rows = LP.ccnet_perplexity_buckets(docs).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}
        sizes = [buckets[b]["n_docs"] for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1
        assert sum(sizes) == n_by_lang[lang]
        head = buckets["head"]
        tail = buckets["tail"]
        assert (head["sum_lp_micro"] / head["n_trigrams"]
                > tail["sum_lp_micro"] / tail["n_trigrams"])


def test_ccnet_buckets_equal_windowed_ntile_form_under_skew(spark):
    """Round-16 fix pin: the two-phase grouped_ntile tercile must equal
    the ntile OVER (PARTITION BY lang) form bit-for-bit — verified on a
    90%-one-language corpus (the exact shape whose windowed form
    single-tasks at scale, and which the balanced sf fixture can't
    exercise). The reference here recomputes the SAME capped-LM scores
    and assigns terciles with the windowed ntile."""
    from pyspark.sql import Window

    from etl_cortex_spark.operators import llmprep as LP

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(400):
        lang = "en" if i % 10 < 9 else "zh"
        text = " ".join(words[(i * k) % len(words)] for k in range(1, 8 + i % 5))
        rows.append((i, lang, text))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["lang"], r["bucket"]): (r["n_docs"], r["sum_lp_micro"])
        for r in LP.ccnet_perplexity_buckets(docs, lm_top_k=20).collect()
    }

    # reference: identical scoring, windowed ntile tercile
    tg = docs.select(
        F.col("doc_id").alias("__id"),
        F.col("lang").alias("__lang"),
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(lower(text)) - 2, 1)),"
                " i -> substring(lower(text), i, 3))"
            )
        ).alias("__tg"),
    ).filter(F.length("__tg") == 3)
    counts = tg.groupBy("__lang", "__tg").agg(F.count(F.lit(1)).alias("__n"))
    w_lm = Window.partitionBy("__lang").orderBy(F.desc("__n"), "__tg")
    lm = (
        counts.withColumn("__rk", F.row_number().over(w_lm))
        .filter(F.col("__rk") <= 20)
        .select(
            "__lang",
            "__tg",
            F.floor(F.log("__n") * 1_000_000).cast("bigint").alias("__lp_u"),
        )
    )
    ds = (
        tg.join(lm, ["__lang", "__tg"])
        .groupBy("__lang", "__id")
        .agg(F.sum("__lp_u").alias("__s"), F.count(F.lit(1)).alias("__m"))
    )
    w = Window.partitionBy("__lang").orderBy(
        (F.col("__s").cast("double") / F.col("__m")).desc(), F.col("__id")
    )
    name = F.when(F.col("__b") == 1, F.lit("head")).otherwise(
        F.when(F.col("__b") == 2, F.lit("middle")).otherwise(F.lit("tail"))
    )
    want = {
        (r["lang"], r["bucket"]): (r["n_docs"], r["sum_lp_micro"])
        for r in ds.withColumn("__b", F.ntile(3).over(w))
        .groupBy(F.col("__lang").alias("lang"), name.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__s").alias("sum_lp_micro"),
        )
        .collect()
    }
    assert got == want


def test_ccnet_buckets_plan_no_ntile_and_lm_topk_prunes(spark):
    """Round-16 scale pins: (1) no ntile() survives anywhere in d111's
    plan — the tercile is the two-phase grouped_ntile, whose windows
    all partition by __pid; (2) the LM top-k derivation plans as
    WindowGroupLimit, so the per-language trigram rank prunes map-side
    instead of sorting a language's whole vocabulary in one task."""
    from etl_cortex_spark.operators import llmprep as LP

    df = LP.ccnet_perplexity_buckets(load_table(spark, SF, "documents"))
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ntile(" not in opt
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in ex


def test_ngram_jaccard_indexed_equals_quadratic(spark, docs_with_dups):
    """min_jaccard mode (inverted-index exact plan, round 19) must
    return exactly the pairs the quadratic all-pairs form yields after
    the same threshold filter — same ids, same rounded jaccard."""
    for t in (0.5, 0.8):
        quad = {
            (r.id_a, r.id_b, r.jaccard)
            for r in DD.ngram_jaccard_pairs(docs_with_dups)
            .filter(F.col("jaccard") >= t)
            .collect()
        }
        idx = {
            (r.id_a, r.id_b, r.jaccard)
            for r in DD.ngram_jaccard_pairs(
                docs_with_dups, min_jaccard=t
            ).collect()
        }
        assert idx == quad
        assert quad, "fixture should contain pairs above threshold"


def test_ngram_jaccard_prefix_filter_on_boilerplate_fixture(spark):
    """Round-20 pin (r19 verdict #4): a HOT shingle shared corpus-wide
    (boilerplate header) must neither change the output set nor drive
    the candidate join quadratic. Fixture: 60 docs all opening with
    the same 6-word boilerplate (every doc shares those hot 3-grams)
    followed by mostly-unique bodies, plus 3 genuine near-dup pairs.
    (a) the prefix-filtered indexed output equals the quadratic
    all-pairs output exactly; (b) the candidate volume stays near the
    true-pair count — with the hot grams indexed on the probe side it
    would be ~all C(60,2)=1770 pairs."""
    from pyspark.sql import functions as FF

    boiler = "terms of service apply to everything"
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi omic pi".split()

    def body(i, tail="end"):
        return " ".join(f"{w}{i}" for w in words) + f" {tail}"

    rows = [(i, f"{boiler} {body(i)}") for i in range(60)]
    # 3 planted near-dups: same body, the tail word changed
    rows += [
        (100 + j, f"{boiler} {body(src, 'CHANGED')}")
        for j, src in enumerate((0, 1, 2))
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5
    quad = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, max_rows=None)
        .filter(F.col("jaccard") >= t)
        .collect()
    }
    idx = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.ngram_jaccard_pairs(docs, min_jaccard=t, persist=False).collect()
    }
    assert idx == quad
    assert {(a, b) for (a, b, _) in quad} >= {(0, 100), (1, 101), (2, 102)}
    # candidate-volume bound: replicate the probe/index join without
    # the verify step and count pre-verify candidates — the hot grams
    # must stay out of the df-ordered prefixes
    from pyspark.sql import Window

    from etl_cortex_spark.operators.textops import shingles as _sh

    s = docs.select(
        F.col("doc_id").alias("__id"), _sh(F.col("text"), 3).alias("__sh")
    )
    e = s.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("__g")
    ).select("__id", "__n", F.xxhash64("__g").alias("__tok"))
    tok_df = e.groupBy("__tok").agg(F.count(FF.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    plen = F.col("__n") - F.ceil(F.col("__n") * F.lit(t)).cast("int") + 1
    probe = (
        e.join(tok_df, "__tok")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= plen)
        .select(F.col("__id").alias("id_a"), "__tok")
    )
    cands = (
        probe.join(e.select(F.col("__id").alias("id_b"), "__tok"), "__tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert cands < 200, f"hot grams leaked into prefixes: {cands} candidates"
