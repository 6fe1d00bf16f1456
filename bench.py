#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion with the ``noop`` sink — full plan
runs on the executors (scans, shuffles, codegen) with zero driver-side
collection cost, so the number measures the engine, not Py4J transfer.

The headline set deliberately spans every execution shape the engine
has: columnar scan+agg (tpch q1), multi-way broadcast/shuffle joins,
window shuffles, exact + MinHash dedup, vector similarity (HOF dot
product), and text explode/agg — matching BASELINE.md's operational
baseline (DuckDB wall-clock on the same parquet, target ≤2×).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_cortex_spark.queries import ORACLE, QUERIES  # noqa: E402
from etl_cortex_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

#: the headline set — one per execution shape, heaviest representative.
#: Round-5 additions: d51 (corpus-wide gram shuffle + HOF rebuild — the
#: substring-dedup shape), d56 (two retrieval pools + rank fusion — the
#: RAG-serving shape), and d63 (hashed-feature linear scoring — the
#: shuffle-free model-inference projection shape); earlier rounds'
#: 12 names are unchanged so per-query round-over-round comparisons
#: stay valid. Round 10 adds d02_prefix_probe_pairs (r9 verdict #4):
#: the exact, FULL-ORACLE member of the near-dup family, so the
#: heaviest LLM-dedup number is hash-verified per round — the banded
#: LSH entry stays too for continuity. Note its oracle is the
#: brute-force O(batch×corpus) verify (SQL cannot express the prefix
#: filter), so its per-query ratio credits Spark's ALGORITHM, not the
#: engine — read the like-for-like set for engine-vs-engine drift.
HEADLINE = [
    "flagship_events_medallion",
    "c17_tpch_q1",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "c10_join_inner_agg",
    "c26_window_ranking",
    "c32_topk_per_group",
    "a13_dedup_keep_latest",
    "d01_exact_dedup",
    "d02_minhash_lsh_pairs",
    "d02_prefix_probe_pairs",
    "d03_cosine_topk",
    "d04_token_stats",
    "d51_span_dedup",
    "d56_hybrid_rrf",
    "d63_quality_classifier",
]


#: ADDITIONS-ONLY registry extras (round 20 — the r19 verdict's #6):
#: the registry-wide operator wins of rounds 19-20 (54×/28×/17×/12×/6×
#: movers) are invisible to the 16-query headline because these
#: entries aren't in it. They are timed with the same best-of-N noop
#: discipline and printed as EXTRA keys in ``queries`` plus a separate
#: ``registry_extras_total`` — and deliberately EXCLUDED from
#: ``value`` and every ratio, so all pre-existing numbers keep their
#: round-over-round meaning (the contract allows adding queries keys,
#: never removing). Spark-only legs: their DuckDB oracles replay
#: deliberately brute-force verifies (gram unnests, cross-join
#: levenshtein) whose cost would be methodology noise, not an engine
#: comparison.
REGISTRY_EXTRAS = [
    "c19_approx_count_distinct",
    "d04_repetition_signals",
    "d58_unigram_em",
    "d26_fuzzy_entity_match",
    "b29_equidepth_histogram",
]


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    return float(m.group(1)) if m else 0.0


#: Fact tables re-laid-out before timing (BASELINE.md "scan-parallelism
#: artifact": every driver-generated parquet is ONE row group, the
#: atomic split unit, so every fact scan runs as one task in Spark and
#: caps DuckDB at intra-group morsels). The rewrite restores the layout
#: any real ingest produces — many files/row groups per table — and
#: BOTH engines read the same rewritten files, so the comparison stays
#: symmetric. Dimensions are copied untouched (they are cached /
#: page-cached anyway).
FACT_RELAYOUT = frozenset({"lineitem", "orders", "events", "documents", "embeddings"})
#: Half a scan split per core (round 10): a same-session A/B of 16 vs
#: 32 files over 12 headline queries measured 16 consistently faster
#: on the Spark side (totals −7/−8% on the two query sets; q1/d01/
#: a13/d56/c26/d02pp all better, d51/d02 slightly worse) and neutral
#: for DuckDB — per-task dispatch + file-open overhead outweighs the
#: extra scan parallelism once every multi-stage query keeps the
#: other 16 cores busy downstream. Round 6 had already shown the
#: opposite EXTREME (minPartitionNum=1 → ~3 fat tasks) loses 2×, so
#: 16 is the measured middle. Both engines read the same files —
#: the comparison stays symmetric.
RELAYOUT_FILES = 16


def relayout(sf_dir: str) -> str:
    """Mirror ``sf_dir`` into a bench-local multi-file layout dir, once:
    a signature file keyed on source mtimes skips the rewrite when the
    inputs haven't changed. Returns the mirror dir; on any failure
    returns ``sf_dir`` unchanged (the bench must never break on a
    layout nicety)."""
    import hashlib
    import shutil

    from etl_cortex_spark.operators.layout import rewrite_multi_file

    try:
        srcs = {
            t: os.path.join(sf_dir, f"{t}.parquet")
            for t in TABLES
            if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
        }
        if not srcs:
            return sf_dir
        tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
        dst = os.path.join("/tmp", f"spark_graft_bench_layout_{tag}")
        sig = "|".join(
            f"{t}:{os.path.getmtime(p)}:{RELAYOUT_FILES}" for t, p in sorted(srcs.items())
        )
        marker = os.path.join(dst, ".layout_sig")
        if os.path.exists(marker) and open(marker).read() == sig:
            return dst
        os.makedirs(dst, exist_ok=True)
        for t, src in srcs.items():
            dstp = os.path.join(dst, f"{t}.parquet")
            if t in FACT_RELAYOUT:
                rewrite_multi_file(src, dstp, n_files=RELAYOUT_FILES)
            else:
                if os.path.isdir(dstp):
                    shutil.rmtree(dstp)
                shutil.copyfile(src, dstp)
        with open(marker, "w") as f:
            f.write(sig)
        return dst
    except Exception:
        return sf_dir


#: best-of-N discipline shared by every leg (Spark and DuckDB alike) in
#: bench.py and bench_slope.py — one constant so the two engines are
#: never measured with different run counts. 5 runs (round 5, up from
#: 3): the host's background load swings 2-3x between windows and
#: best-of-5 rejects a same-window spike symmetrically for both
#: engines — measured run-to-run ratio spread tightens ~2x.
RUNS = 5


def run_one(spark, name: str, sf_dir: str, runs: int = RUNS) -> float:
    """Best-of-N steady-state wall clock: the first execution also pays
    one-time session costs (file listing, codegen compilation, JIT);
    reporting the best of three measures the engine, not JVM warm-up
    or a transient host-load spike (the host swings 2-3x between windows)."""
    best = float("inf")
    for _ in range(runs):
        df = QUERIES[name](spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def duck_connect(sf_dir: str):
    """A warm DuckDB connection with the bench views registered, or
    None when duckdb is unavailable — same thread count as Spark."""
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    con.execute(f"SET threads = {int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else 32}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # multi-file relayout: glob the parts
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def run_interleaved(
    spark, con, name: str, sf_dir: str, runs: int = RUNS
) -> tuple[float, float | None]:
    """One query's Spark AND DuckDB legs, ALTERNATING repetition by
    repetition in one process window (round-10 verdict #1: the
    official record must carry the same evidentiary standard as the
    round-10 interleaved A/B). Sequential blocks let a host-load spike land
    on one engine only — three rounds produced false verdicts that
    way; interleaving makes any drift hit both legs symmetrically, so
    best-of-N picks each engine's clean run from the SAME window.
    Returns (spark_best, duck_best-or-None)."""
    sql = ORACLE.get(name) if con is not None else None
    best_s = float("inf")
    best_d = float("inf")
    for _ in range(runs):
        df = QUERIES[name](spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best_s = min(best_s, time.perf_counter() - t0)
        if sql is not None:
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best_d = min(best_d, time.perf_counter() - t0)
    return best_s, (best_d if sql is not None else None)


#: Bench-session sizing for the measured scale factor. AQE stays the
#: engine default (session.py) because at cluster scale runtime
#: re-planning is non-negotiable; at a KNOWN-tiny SF (~10 MB inputs)
#: AQE only adds per-stage materialization round-trips — every stage
#: becomes its own job submission — and 32 static partitions produce
#: 32 near-empty tasks per shuffle. Sizing the session to the data
#: (static 4-partition shuffles, plan-once execution) is what any
#: production job with known-small inputs does; measured −19% on the
#: headline set vs the cluster defaults, with identical plans
#: otherwise. The correctness gate always runs with vanilla conf.
BENCH_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
    # ~10 MB shuffles: lz4 costs more CPU than the bytes it saves on a
    # local disk that never leaves page cache. At cluster scale shuffle
    # compression is non-negotiable (network-bound) — this, like the
    # partition count, is sizing the session to the measured SF.
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    # Scan split sizing — round 6 finding: this value is a CEILING the
    # scans never reach here, because `spark.sql.files.minPartitionNum`
    # defaults to defaultParallelism (32), making the effective split
    # max(openCost, table_bytes/32) ≈ 0.5 MB — i.e. one task per
    # relayout file, every core busy. A 3-session interleaved A/B of
    # that status quo vs truly packed scans (minPartitionNum=1 → ~3
    # fat tasks per fact) measured packing ~2x WORSE on the headline
    # set (total 2.35 s → 4.31 s; d56 0.34→1.04, flagship 0.16→0.42):
    # at sf0.1 the queries are CPU-bound enough that 32 thin scan
    # tasks on 32 cores beat per-task dispatch savings. So: keep the
    # default minPartitionNum, keep this ceiling permissive. At real
    # scale the cluster-default 128 MB splits are correct — files
    # carry thousands of row groups and saturate every core anyway.
    "spark.sql.files.maxPartitionBytes": "2097152",
    "spark.sql.files.openCostInBytes": "65536",
    # Runtime bloom-filter join pruning (InjectRuntimeFilter) is left
    # at the engine-default gate HERE: at sf0.1 the bloom's extra
    # build stage costs more than pruning a ~1 MB shuffle saves
    # (measured q3 +35%, flagship +17% with a forced 10 MB gate).
    # bench_slope's sf1 leg sizes the gate down (10 MB) because there
    # the same filter is a measured win (q3 −25%, q5 −45%) — the
    # crossover is exactly the build-cost-vs-bytes-pruned tradeoff the
    # default 10 GB threshold encodes for real scans.
}


#: Dimension tables pinned in executor memory for the bench session
#: (round-3 verdict #4: share ONE cached dimension scan across the
#: suite instead of re-opening the same tiny files per query). This is
#: the production posture at any scale — a 1000-executor cluster keeps
#: region/nation/supplier/customer/part hot in storage-layer or Spark
#: cache while facts stream from disk — and it is also the symmetric
#: treatment: the DuckDB leg holds every table in one warm process on
#: OS page cache. Facts (lineitem/orders/events/documents/embeddings)
#: stay on-disk scans on the Spark side.
DIM_CACHE = ("region", "nation", "supplier", "customer", "part")


def cache_dimensions(spark, sf_dir: str) -> None:
    """Cache + materialize the dimension scans; queries built through
    ``load_table`` produce the identical analyzed plan, so Spark's
    CacheManager substitutes the InMemoryRelation automatically."""
    from etl_cortex_spark.sources.tables import load_table

    for t in DIM_CACHE:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).cache().count()
    # the conformed supplier_geo dim (q5) is a dimension too: cache it
    # so its broadcast builds read the InMemoryRelation like the base
    # dims do (build_layouts has already written the table by the time
    # queries run; calling the loader here re-reads, not re-writes)
    try:
        from etl_cortex_spark.inventory.tier_tpch import _supplier_geo_dim

        _supplier_geo_dim(spark, sf_dir).cache().count()
    except Exception:
        pass


def build_layouts(spark, sf_dir: str) -> float:
    """Explicit INGEST phase (round-8 ADVICE #4): the bucketed fact
    layouts q3/q5/c10/scale_bucketed_join read are built HERE, before
    any timed run, so the one-time hash-layout write is charged to
    ingest rather than to whichever query runs first — the
    amortization every warehouse assumes (pay the layout once when
    data lands, run N queries against it). Methodology note: the
    DuckDB leg keeps scanning raw parquet — the layout changes Spark's
    PLAN SHAPE (which side shuffles), not either engine's input rows —
    and the reported per-query times on both sides exclude this
    one-time cost, exactly as a cluster's steady state would. Returns
    the ingest wall-clock (reported in the bench JSON, not added to
    any query's time). Calls the SAME loaders the queries use, so the
    (cols, buckets) signatures match and every timed run is a catalog
    hit."""
    from etl_cortex_spark.inventory.tier_c_rel import _orders_by_custkey
    from etl_cortex_spark.inventory.tier_scale import _BKT_LI_COLS, _BKT_O_COLS
    from etl_cortex_spark.inventory.tier_tpch import (
        _customer_by_custkey,
        _lineitem_by_orderkey,
        _supplier_geo_dim,
    )
    from etl_cortex_spark.operators.layout import bucketed_fact

    t0 = time.perf_counter()
    try:
        _lineitem_by_orderkey(spark, sf_dir)  # q3 + q5 (shared layout)
        _orders_by_custkey(spark, sf_dir)  # c10 + q3/q5 co build
        _customer_by_custkey(spark, sf_dir)  # c10 + q3/q5 co build
        _supplier_geo_dim(spark, sf_dir)  # q5 conformed supplier dim
        bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey", _BKT_LI_COLS, 8)
        bucketed_fact(spark, sf_dir, "orders", "o_orderkey", _BKT_O_COLS, 8)
    except Exception:
        pass  # queries fall back to plain scans; the bench must not die
    return round(time.perf_counter() - t0, 4)


def warm_up(spark) -> None:
    """JVM/codegen warm-up on the tiny SF so timings measure the
    engine, not classloading (shared with bench_slope legs)."""
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        try:
            run_one(spark, "flagship_events_medallion", warm_dir)
        except Exception:
            pass


#: The 11 oracle-paired queries every round since r4 has measured —
#: the LIKE-FOR-LIKE set. The headline ratio moves when new queries
#: join HEADLINE (composition), so this fixed subset is reported
#: alongside it to keep the round-over-round ratio honest
#: (round-5 verdict #3: "make the like-for-like number part of the
#: official bench output so the ratio can't drift by composition").
LIKE_FOR_LIKE = [
    "flagship_events_medallion",
    "c17_tpch_q1",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "c10_join_inner_agg",
    "c26_window_ranking",
    "c32_topk_per_group",
    "a13_dedup_keep_latest",
    "d01_exact_dedup",
    "d03_cosine_topk",
    "d04_token_stats",
]


def job_floor_ms(spark, runs: int = 7) -> dict[str, float]:
    """Measured per-job scheduling floor of THIS session on THIS host:
    the wall clock of a 1-row, 1-task noop write (job submit + task
    dispatch + commit — zero data work) and of a 32-task two-stage
    shuffle agg over ``range(1e6)`` (~8 MB of longs). Every query pays
    this floor once per job it runs (broadcast builds are jobs too),
    which is why sub-second ratios vs an in-process engine are
    scheduling arithmetic, not plan quality — see BASELINE.md."""
    import pyspark.sql.functions as F  # noqa: N812

    floors = {}
    for label, df in (
        ("one_task_noop", spark.range(1)),
        ("two_stage_32task_agg", spark.range(0, 1_000_000, 1, 32).agg(F.sum("id"))),
    ):
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        floors[label] = round(best * 1000, 1)
    return floors


#: Headline queries ALLOWED to carry a partition-less (global) Window,
#: with the expected node count — each is bounded upstream by a top-k
#: limit (d56's two rank windows run over ≤pool rows), so the single
#: partition is ≤50 rows at any corpus size. Anything else is a
#: data-sized global window — the c69-class scale killer the round-5
#: verdict found buried in the WindowExec log tail. The plan check
#: below replaces that log warning (the bench session logs at ERROR,
#: so the tail stays clean and a REAL violation can't hide in noise).
BOUNDED_GLOBAL_WINDOWS = {"d56_hybrid_rrf": 2}


def global_window_violations(spark, names: list[str], sf_dir: str) -> dict[str, int]:
    """Queries whose optimized plan contains more partition-less Window
    nodes than BOUNDED_GLOBAL_WINDOWS allows. A partitioned Window
    prints as ``Window [exprs], [partSpec], [orderSpec]`` (two ``], [``
    separators); a global one omits the partition list (one)."""
    out: dict[str, int] = {}
    for name in names:
        if name not in QUERIES:
            continue
        try:
            plan = (
                QUERIES[name](spark, sf_dir)
                ._jdf.queryExecution()
                .optimizedPlan()
                .toString()
            )
        except Exception:
            continue
        # Same detector as tests/test_plans.py (round-6 ADVICE): a
        # Window node prints ``Window [exprs], [partSpec], [orderSpec]``;
        # with an empty partition spec the middle group is omitted, so
        # GLOBAL means one group, or two with a sort-direction marker
        # in the second (a partitioned-but-unordered window also has
        # two groups but no ASC/DESC — not global).
        n = 0
        for line in plan.splitlines():
            s = line.lstrip(" :+-")
            if not s.startswith("Window "):
                continue
            groups = re.split(r"\], \[", s)
            if len(groups) <= 1 or (
                len(groups) == 2 and re.search(r" (ASC|DESC)", groups[1])
            ):
                n += 1
        if n > BOUNDED_GLOBAL_WINDOWS.get(name, 0):
            out[name] = n
    return out


def main() -> None:
    sf_dir = relayout(SF_DIR)
    spark = get_spark(app_name="etl_cortex_spark_bench", extra_conf=BENCH_CONF)
    # ERROR-level session log: the WindowExec global-window warning is
    # replaced by the stronger plan-level check above, and the clean
    # tail means a genuine new warning class can't drown (round-5
    # verdict #7: c69's real warning was buried among false alarms).
    spark.sparkContext.setLogLevel("ERROR")
    window_violations = global_window_violations(spark, HEADLINE, sf_dir)
    warm_up(spark)
    # layouts BEFORE the dim cache (round 12): the conformed
    # supplier_geo write happens inside build_layouts, so its one-time
    # cost lands in ingest_secs; cache_dimensions then only re-reads.
    ingest_secs = build_layouts(spark, sf_dir)
    cache_dimensions(spark, sf_dir)

    # Interleaved official window (round-10 verdict #1): per query the
    # Spark and DuckDB legs alternate repetition by repetition — the
    # discipline the round-10 A/B proved is the only window-proof
    # measurement on this host. One DuckDB warm-up pass per query is
    # paid before its timed reps (symmetric with Spark's session-level
    # warm_up above — the first DuckDB execution of a view pays the
    # parquet metadata read the Spark side paid during warm-up/cache).
    con = duck_connect(sf_dir)
    timings: dict[str, float] = {}
    duck: dict[str, float] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        duck_con = None
        if con is not None and name in ORACLE:
            try:
                con.execute(ORACLE[name]).fetchall()  # duck warm-up leg
                duck_con = con
            except Exception:
                # An oracle this duckdb build can't run (e.g. missing
                # function) must degrade this query to Spark-only, not
                # crash the whole headline window: the timed legs in
                # run_interleaved don't guard, by design.
                duck_con = None
        s, d = run_interleaved(spark, duck_con, name, sf_dir)
        timings[name] = round(s, 4)
        if d is not None:
            duck[name] = round(d, 4)
    paired_spark = sum(timings[n] for n in duck)
    paired_duck = sum(duck.values())
    ratio = round(paired_spark / paired_duck, 2) if paired_duck else None
    # Queries whose ORACLE deliberately replays a WORSE algorithm
    # (SQL can't express the candidate filter, so the oracle is the
    # brute-force verify): their per-query ratio credits the
    # algorithm, not the engine, and including them makes the
    # aggregate flatter-than-real. Reported three ways so none can
    # mislead: all-paired (standard), engine-only (sans these), and
    # the fixed like-for-like set below.
    ALGO_ASYM = {"d02_prefix_probe_pairs"}
    eng = [n for n in duck if n not in ALGO_ASYM]
    eng_spark = sum(timings[n] for n in eng)
    eng_duck = sum(duck[n] for n in eng)
    ratio_engine = round(eng_spark / eng_duck, 2) if eng_duck else None
    ratio_per_query = {
        n: round(timings[n] / duck[n], 2) for n in duck if duck[n] > 0
    }
    lfl = [n for n in LIKE_FOR_LIKE if n in timings and duck.get(n)]
    lfl_spark = sum(timings[n] for n in lfl)
    lfl_duck = sum(duck[n] for n in lfl)
    lfl_ratio = round(lfl_spark / lfl_duck, 2) if lfl_duck else None

    # ``value`` and the ratios above are computed from the HEADLINE
    # names ONLY (timings holds exactly those at this point); the
    # registry extras below are appended to the printed ``queries``
    # dict afterwards and never enter value/ratios — additions-only.
    total = round(sum(timings.values()), 4)
    extras: dict[str, float] = {}
    for name in REGISTRY_EXTRAS:
        if name not in QUERIES:
            continue
        try:
            extras[name] = round(run_one(spark, name, sf_dir), 4)
        except Exception:
            continue  # an extra must never break the official record
    timings.update(extras)
    # Two-layer record (round-9 verdict #2: the r9 JSON line overflowed
    # the driver's 2000-char tail-capture window and the official
    # record lost its headline). The PRINTED line is the compact
    # contract subset — sized well under the window, with nothing
    # printed after it — and the full detail (per-query ratios, the
    # ingest/relayout methodology notes) goes to bench_result.json on
    # disk. ratio_per_query is recomputable from queries/duckdb_queries.
    detail = {
        "metric": "headline_wall_clock_total",
        "value": total,
        "unit": "sec",
        "method": f"interleaved per-query Spark/DuckDB legs, best-of-{RUNS}, one window",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "duckdb_queries": duck,
        "ratio_vs_duckdb": ratio,
        "ratio_vs_duckdb_engine_only": ratio_engine,
        "ratio_like_for_like_r4_common": lfl_ratio,
        "ratio_per_query": ratio_per_query,
        "job_floor_ms": job_floor_ms(spark),
        "ingest": {
            "bucketed_layout_secs": ingest_secs,
            "note": "one-time warehouse layout write (q3/q5/c10/"
            "scale_bucketed_join fact buckets), charged to ingest "
            "not to queries; DuckDB scans raw parquet — the layout "
            "changes Spark's plan shape, not either engine's rows",
        },
        "registry_extras": {
            "names": sorted(extras),
            "total_secs": round(sum(extras.values()), 4),
            "note": "additions-only Spark legs (r19 verdict #6): "
            "registry-wide operator movers surfaced as named keys in "
            "queries; excluded from value and every ratio so all "
            "pre-existing numbers keep their round-over-round meaning",
        },
        "data_sized_global_windows": window_violations,
        "relayout": {
            "applied": sf_dir != SF_DIR,
            "n_files": RELAYOUT_FILES,
            "tables": sorted(FACT_RELAYOUT),
            "note": "facts rewritten multi-file/multi-row-group; "
            "both engines read the same rewritten files",
        },
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_result.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the printed line still carries the contract
    compact = {
        k: detail[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "sf",
            "duckdb_queries",
            "ratio_vs_duckdb",
            "ratio_vs_duckdb_engine_only",
            "ratio_like_for_like_r4_common",
        )
    }
    compact["job_floor_ms"] = detail["job_floor_ms"]
    compact["registry_extras_total"] = detail["registry_extras"]["total_secs"]
    compact["ingest_secs"] = ingest_secs
    compact["method"] = f"interleaved_best_of_{RUNS}"
    if window_violations:
        compact["data_sized_global_windows"] = window_violations
    compact["detail"] = "bench_result.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 1900:  # never overflow: duckdb per-query lives in the detail file
        compact.pop("duckdb_queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    spark.stop()
    print(line)


if __name__ == "__main__":
    main()
