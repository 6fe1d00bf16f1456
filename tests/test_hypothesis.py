"""Hypothesis property tests (SURVEY §5.2 item 4, generative tier).

The fixed-data property tests in test_properties.py pin known-adversarial
layouts; these let hypothesis SEARCH for counterexamples in the semantics
that are easiest to get subtly wrong:

- global_ntile vs Spark's own windowed ntile (the D90 two-phase rewrite
  must match bit-for-bit on ANY value distribution, including all-ties,
  n < buckets, and single-row frames),
- the whitespace tokenizer / k-shingle column expressions vs a pure-
  Python reference on arbitrary unicode (the d04/d12/d91 foundation),
- Bloom membership's zero-false-negative contract on arbitrary strings
  (the d91 decontamination guarantee),
- salted_agg vs the plain aggregate on arbitrary key skew (the
  semantics-preservation claim of the scale tier),
- the dedup prefix filters' boundary: a pair whose jaccard equals the
  threshold exactly is never lost.

Each example evaluates in one small Spark job; max_examples is kept low
because a Spark round-trip costs ~0.3 s (deadline disabled for the same
reason).
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish unicode incl. whitespace runs, combining marks, CJK
TEXTS = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), include_characters=" \t\n"
    ),
    max_size=60,
)


def _py_words(s: str) -> list[str]:
    # the reference twin of textops.words: split on \s+, drop empties.
    # Java's \s is ASCII-only by default — match with re.ASCII.
    return [w for w in re.split(r"\s+", s, flags=re.ASCII) if w != ""]


def _py_shingles(s: str, k: int) -> list[str]:
    w = _py_words(s)
    n = len(w)
    hi = max(n - (k - 1), 1)
    out, seen = [], set()
    for i in range(hi):
        g = " ".join(w[i : i + k])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@SLOW
@given(st.lists(TEXTS, min_size=1, max_size=12), st.integers(2, 5))
def test_words_and_shingles_match_python_reference(spark, docs, k):
    from etl_cortex_spark.operators.textops import shingles, words

    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "i int, t string")
    rows = (
        df.select("i", words("t").alias("w"), shingles(F.col("t"), k).alias("sh"))
        .orderBy("i")
        .collect()
    )
    for r in rows:
        t = docs[r["i"]]
        assert list(r["w"]) == _py_words(t), repr(t)
        assert list(r["sh"]) == _py_shingles(t, k), repr(t)


@SLOW
@given(
    st.lists(st.integers(-50, 50), min_size=1, max_size=40),
    st.integers(1, 7),
)
def test_global_ntile_matches_windowed_ntile(spark, values, b):
    from etl_cortex_spark.operators.skew import global_ntile

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, v int"
    ).repartition(4)
    got = {
        r["id"]: r["ntile"]
        for r in global_ntile(df, b, [F.col("v"), F.col("id")]).collect()
    }
    want = {
        r["id"]: r["nt"]
        for r in df.select(
            "id", F.expr(f"ntile({b}) OVER (ORDER BY v, id)").alias("nt")
        ).collect()
    }
    assert got == want


@SLOW
@given(st.lists(TEXTS.filter(lambda s: s != ""), min_size=1, max_size=30, unique=True))
def test_bloom_has_no_false_negative_on_arbitrary_keys(spark, keys):
    from etl_cortex_spark.operators import sketch as SK

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    filt = SK.bloom_build(df, "k")
    misses = (
        df.crossJoin(F.broadcast(filt))
        .filter(~SK.bloom_might_contain(F.col("k")))
        .count()
    )
    assert misses == 0


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-1000, 1000)),
        min_size=1,
        max_size=50,
    )
)
def test_salted_agg_equals_plain_agg(spark, rows):
    from etl_cortex_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "k string, v long").repartition(4)
    got = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in salted_agg(
            df,
            keys=["k"],
            aggs=[("v", "sum", "s"), ("v", "count", "n"), ("v", "min", "mn"), ("v", "max", "mx")],
            n_salts=4,
        ).collect()
    }
    want = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want


@SLOW
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=12, max_size=20),  # shared run
    st.lists(st.sampled_from("qrstuvwx"), min_size=0, max_size=8),  # prefix A
    st.lists(st.sampled_from("ijklmnop"), min_size=0, max_size=8),  # prefix B
)
def test_winnowing_shared_run_guarantees_shared_fingerprint(spark, shared, pre_a, pre_b):
    """The MOSS guarantee (Schleimer 2003): two documents sharing a
    run of ≥ window+k-1 = 6 word grams (i.e. ≥ k+window+k-2 = 8
    words; the generated shared run has ≥ 12) must share at least one
    selected fingerprint, whatever surrounds the run. Hypothesis
    varies the shared run and each document's distinct prefix — the
    disjoint alphabets guarantee no accidental grams bridge them."""
    from etl_cortex_spark.operators.textops import winnowing_fingerprints

    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(pre_b + shared)
    df = spark.createDataFrame([(0, doc_a), (1, doc_b)], "doc_id bigint, text string")
    rows = winnowing_fingerprints(df, k=3, window=4).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r["doc_id"]].add(r["fingerprint"])
    assert fps[0] & fps[1], (doc_a, doc_b)


@SLOW
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.lists(st.integers(0, 60), min_size=1, max_size=8)),
            st.tuples(st.just("delete"), st.integers(0, 60)),
            st.tuples(
                st.just("merge"),
                st.lists(st.integers(0, 60), min_size=1, max_size=6, unique=True),
            ),
            st.tuples(st.just("rollback"), st.integers(1, 1000)),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_snapshot_protocol_matches_model(spark, tmp_path_factory, ops):
    """Model-based check of the manifest snapshot protocol, extended
    in round 14 to the full write surface: an arbitrary sequence of
    appends (multisets of (k, tag) rows), COW deletes (drop one key
    everywhere), keyed MERGEs (replace every row of the given keys
    with one fresh (k, tag) row each — upsert), and ROLLBACKs (head
    becomes an earlier version's state, committed as a new version)
    must leave every VERSION equal to a plain Python multiset model
    replayed to that point — snapshot isolation, COW rewrites,
    manifest chaining, and restore semantics all at once."""
    import collections

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
        snapshot_rollback,
    )

    path = str(tmp_path_factory.mktemp("snapmodel") / "t")
    model: collections.Counter = collections.Counter()
    history = []  # model state per version
    for i, (op, arg) in enumerate(ops):
        if op == "append":
            snapshot_append(
                spark,
                spark.createDataFrame(
                    [(k, i) for k in arg], "k long, tag long"
                ),
                path,
            )
            model = model + collections.Counter((k, i) for k in arg)
        elif op == "delete":
            if not history:  # needs an existing table
                continue
            snapshot_delete(spark, path, F.col("k") == arg)
            model = collections.Counter(
                {kt: n for kt, n in model.items() if kt[0] != arg}
            )
        elif op == "merge":
            if not history:
                continue
            snapshot_merge(
                spark,
                spark.createDataFrame(
                    [(k, i) for k in arg], "k long, tag long"
                ),
                path,
                "k",
            )
            keys = set(arg)
            model = collections.Counter(
                {kt: n for kt, n in model.items() if kt[0] not in keys}
            ) + collections.Counter((k, i) for k in keys)
        else:  # rollback
            if not history:
                continue
            target = 1 + (arg % len(history))
            snapshot_rollback(spark, path, to_version=target)
            model = collections.Counter(history[target - 1])
        history.append(collections.Counter(model))
    for v, expect in enumerate(history, start=1):
        got = collections.Counter(
            (r.k, r.tag) for r in snapshot_read(spark, path, version=v).collect()
        )
        assert got == expect, (v, got, expect)


@SLOW
@given(st.integers(2, 40).flatmap(lambda n: st.tuples(st.just(n), st.integers(1, n))))
@example((25, 7))  # 25 * 0.28 == 7.000000000000001 in doubles
def test_prefix_filters_keep_pairs_at_exactly_the_threshold(spark, nm):
    """Doc A has n distinct word 3-grams and doc B is A's last m + 2
    words, so B's m grams are A's last m and jaccard(A, B) = m/n = t
    exactly. A is the probe side of both prefix filters, and its shared
    grams sort LAST in either token order (highest df, and the zero-
    padded words sort positionally): a prefix one token short misses
    every shared gram and loses the pair."""
    from etl_cortex_spark.operators.dedup import ngram_jaccard_pairs, prefix_filter_probe

    n, m = nm
    t = m / n
    words = [f"w{i:03d}" for i in range(n + 2)]
    a = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    b = spark.createDataFrame([(2, " ".join(words[-(m + 2):]))], "doc_id long, text string")
    pairs = ngram_jaccard_pairs(a.unionByName(b), min_jaccard=t, persist=False)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)], (n, m)
    probe = prefix_filter_probe(existing=b, new=a, threshold=t)
    assert [(r.new_id, r.existing_id) for r in probe.collect()] == [(1, 2)], (n, m)


def test_lsh_verify_drops_pairs_just_below_the_threshold(spark):
    """Doc A has 3 word 3-grams and doc B 2 of them, so jaccard(A, B) is
    2/3, which rounds to 0.666667. One minhash per band makes the pair a
    candidate (the 0.5 run finds it); at threshold 0.666667 the exact
    ratio is below the threshold and the verify step drops the pair."""
    from etl_cortex_spark.operators.dedup import minhash_lsh_pairs, minhash_lsh_probe

    words = [f"w{i:03d}" for i in range(5)]
    a = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    b = spark.createDataFrame([(2, " ".join(words[1:]))], "doc_id long, text string")
    lsh = {"num_hashes": 32, "bands": 32}
    for t, want in ((0.5, [(1, 2, 0.666667)]), (0.666667, [])):
        pairs = minhash_lsh_pairs(a.unionByName(b), threshold=t, persist=False, **lsh)
        assert [tuple(r) for r in pairs.collect()] == want, t
        probe = minhash_lsh_probe(existing=b, new=a, threshold=t, **lsh)
        assert [tuple(r) for r in probe.collect()] == want, t
