"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

The driver captures only a 2000-char stdout tail, so the final line
stays compact (the per-query map is dropped from stdout if it would
overflow the capture) and the FULL per-query medians + [min,max]
spread always land in BENCH_DETAIL.json next to this file.

The headline set covers every operator family: graph build+traversal,
fixpoint reachability, upsert merge, relational aggregation/joins/
windows, dedup (exact/LSH fast path/jaccard), similarity top-k,
text analysis, event windowing. Queries come straight from the t2
catalog (correctness-gated code paths — no bench-special builds),
except the *_fast entries which exercise the xxhash64 scale path
of the same operators.

Each timed entry is the MEDIAN of REPS runs, and the JSON carries a
parallel ``spread`` map {name: [min, max]} so round-over-round deltas
are attributable: this box drifts ±40% under concurrent load (the
round-4 "g_members_of_role 3.2x" scare reproduced at 1.3x when
measured in isolation with n=7 — the median was taken during a load
spike), so a delta is only a regression if the [min,max] intervals
don't overlap. graph_build is single-shot: it is a build-once cost
and later reps would only measure the cache.

Before any timing, a selfcheck-smoke preflight (one query per fixture
family at sf0.001, oracle-compared) aborts the run loudly if a
fixture or plan is broken — round 3's bench died 24 queries in on an
events-fixture type change that a 30-second smoke would have caught
up front.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPS = 5

# One query per fixture family — a broken fixture/plan fails here in
# ~30s instead of mid-suite at sf0.1 (FIXTURES.md "bench hygiene").
SMOKE = [
    "ns_events_tumbling",   # events (the round-3 ts-type casualty)
    "g_count_by_label",     # graph build over the TPC-H-ish dims
    "rel_pricing_summary",  # lineitem
    "ns_dedup_exact",       # documents
    "ns_topk_cosine",       # embeddings
]


def preflight() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    rc = subprocess.call(
        [
            sys.executable,
            os.path.join(here, "tools", "selfcheck.py"),
            "/root/testdata/sf0.001",
            *SMOKE,
        ],
        stdout=sys.stderr,
    )
    if rc != 0:
        print(
            f"bench preflight FAILED (selfcheck smoke rc={rc}) — aborting "
            "before timing anything",
            file=sys.stderr,
        )
        raise SystemExit(rc)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from gsuites_gcp_graphdb_spark.operators import dedup as dd  # noqa: E402
from gsuites_gcp_graphdb_spark.plans import graph_queries as gq  # noqa: E402
from gsuites_gcp_graphdb_spark.plans.catalog import CATALOG  # noqa: E402
from gsuites_gcp_graphdb_spark.session import get_spark  # noqa: E402
from gsuites_gcp_graphdb_spark.sources.fixtures import load_table  # noqa: E402

HEADLINE = [
    # graph surface
    "g_count_by_label",
    "g_edge_count",
    "g_principals_with_access",
    "g_reachable_from_user",
    "g_members_of_role",
    "g_top_roles",
    # relational / ETL surface
    "rel_pricing_summary",
    "rel_revenue_by_nation",
    "rel_top_order_per_customer",
    "etl_role_permission_inversion",
    # pipeline surface
    "ns_dedup_exact",
    "ns_dedup_ngram_jaccard",
    "ns_dedup_minhash_lsh",
    "ns_topk_cosine",
    "ns_text_token_stats",
    "ns_events_tumbling",
    "ns_events_sessions",
    "ns_events_asof_join",
    "g_connected_components",
    # round-2 additions: second CC algorithm, triangle closure, the
    # dedup cluster stage, and a REAL streaming query (state store +
    # AvailableNow drain) timed end-to-end
    "g_connected_components_star",
    "g_triangle_count",
    "ns_dedup_clusters",
    "ns_events_sessions_stream",
    # corpus-management surface: benchmark decontamination (broadcast
    # shingle join) and sequence packing (hash-group windowed binning)
    "ns_decontaminate",
    "ns_pack_sequences",
    # round-4: the composed corpus-prep pipeline (quality -> dedup ->
    # split), the Gopher-style repetition screens, incremental
    # batch-vs-index dedup, and label-propagation communities
    "ns_pipeline_e2e",
    "ns_text_repetition",
    "ns_dedup_incremental",
    "ns_text_unigram_logprob",
    "g_label_propagation",
    "g_ppr_access",
    # round-4 additions: the skew-join pair (plain vs salted over the
    # hub-skewed membership edges) and streaming ingest end-to-end
    "g_skew_membership_plain",
    "g_skew_membership_salted",
    "g_stream_ingest_e2e",
    # round-5: the PII scrub (map-only regex chain — the must-touch-
    # every-byte compliance pass, benched to prove it stays map-only),
    # the hypertable rollup cascade, and tf-idf topic terms
    "ns_text_pii",
    "ns_events_multires_rollup",
    "ns_text_tfidf",
    # round-5: weighted shortest paths (Bellman-Ford over
    # aggregate_messages). ns_semantic_dedup is NOT here: the catalog
    # entry is the exact all-pairs correctness anchor (quadratic by
    # design, ~78s at sf0.1) — the bench times the LSH production
    # path below as ns_semantic_dedup_fast instead.
    "g_weighted_distances",
    # round-5 late additions: substring-window dedup (the ExactSubstr
    # profile — one hash-agg + join-back over the exploded windows),
    # DSIR importance scoring (broadcast vocab), the one-pass
    # data-quality audit, IVM partial merge, and landmark closeness
    # (per-seed BFS — the sampled form IS the scale form)
    "ns_dedup_substring",
    "ns_text_dsir",
    "ns_table_audit",
    "ns_incremental_agg",
    "g_closeness_sample",
    # round-5 sixth wave: HITS (the most expensive new iterative
    # plan), the blocked fuzzy join, robust anomaly fences, chunking
    # (map-only — tracks the per-byte floor), and the blast-radius
    # report
    "g_hits_top",
    "ns_fuzzy_match",
    "ns_events_anomaly",
    "ns_text_chunks",
    "g_risk_report",
    # round-6 wave: winnowing fingerprints (the cheap partial-overlap
    # index), CUSUM change points (two-pass prefix scan), the banded
    # skyline, exact-integer class rebalancing. (ns_semantic_dedup is
    # NOT here: the catalog entry is a correctness summary that also
    # re-verifies soundness + probe recall — ~22s of oracle-style
    # work; the production path it wraps is timed as
    # ns_semantic_dedup_fast below.)
    "ns_text_winnowing",
    "ns_events_cusum",
    "rel_skyline_parts",
    "ns_class_balance",
    # round-7 wave: bloom-pruned join (map-side fact filter), Markov
    # transitions, SCD2 episodes, global decile binning — plus the
    # bucketed-layout flagship timed separately below.
    "rel_bloom_prejoin",
    "ns_events_transitions",
    "ns_events_scd2",
    "ns_events_value_deciles",
    # round-8 wave: exact SCC over the transition digraph, DAG depth
    # layering, mergeable histogram quantiles (day->month rollup),
    # BPE pair census (tokenizer-trainer hot loop), sqrt-temperature
    # rebalancing, auto-regime skew join
    "g_scc",
    "g_dag_depth",
    "ns_events_quantile_hist",
    "ns_text_bpe_pairs",
    "ns_mixture_temperature",
    "g_skew_membership_auto",
    # round-8 third wave: exact-integer Gram + power iteration (the
    # n*d^2 self-join is the timed part; 8 power rounds are d^2-row
    # aggs with literal-bound vectors)
    "ns_vec_pca_power",
    # round-8 fourth/fifth waves: leakage-safe split (map-only
    # hash-CASE + audit joins), provenance overlap (fp-keyed joins),
    # banded token-budget selection, centered PCA, the DP grant-path
    # census (collapsed O(|V|) frontier), and the cheap one-pass
    # audit scalars (reciprocity, degree heterogeneity, global
    # clustering, event-type gini)
    "ns_split_leakage_safe",
    "ns_text_source_overlap",
    "ns_text_bpe_train",
    "rel_cdc_diff",
    "ns_events_attribution",
    "ns_events_pit_lookup",
    "rel_trailing_window",
    "ns_events_theil_sen",
    "ns_events_seq_ngrams",
    "g_metapath_census",
    "ns_events_engagement",
    "ns_corpus_budget_select",
    "ns_vec_pca_centered",
    "g_grant_path_census",
    "g_reach_anf",
    "g_reciprocity",
    "g_degree_heterogeneity",
    "g_clustering_coefficient",
    "ns_events_type_gini",
    "ns_events_span_coverage",
    "rel_ivm_join",
    "ns_text_langid_confusion",
    "rel_rank_distribution",
    "ns_text_ngram_novelty",
    "ns_vec_drift",
    # real streaming: CEP pattern detection (stateful funnel) — wall
    # time is dominated by the 4 micro-batch triggers, the fixed cost
    # a real stream amortizes
    "ns_events_funnel_stream",
    # round-9 wave: systematic PPS corpus sampling (exact gridpoint
    # arithmetic over a banded cumulative scan), weekly retention
    # cohorts, MinHash estimator calibration (signature agreement vs
    # exact jaccard per candidate pair), pairwise-cosine histogram
    # (embedding-collapse audit)
    "ns_corpus_pps_sample",
    "ns_events_retention_cohorts",
    "ns_dedup_minhash_calibration",
    "ns_vec_pair_cos_hist",
    # round-9 late wave: LP-partition quality (modularity/conductance
    # over the 3-round LPA assignment) and chi-square source keyness
    "g_community_quality",
    "ns_text_keyness",
    # round-10: unbounded repeat().until() at the fluent surface
    # (same oracle as g_reachable_from_user) and the Hilbert-curve
    # layout key (per-row state machine, the z-order sibling).
    # ns_ivf_refresh stays out (census harness, the
    # oracle-verification-query rule).
    "g_reachable_until",
    "ns_layout_hilbert",
    "ns_events_ewma",
    "g_role_redundancy",
    "g_entitlement_cohorts",
    "g_access_redundancy",
    "ns_quality_calibration",
    "ns_vec_dim_quartiles",
    # round-11: ns_nn_descent stays out (census harness — the ladder
    # carries its own brute-force truth stage; the
    # oracle-verification-query rule, same as ns_ivf_refresh).
    # round-12: ns_knn_delete stays out for the same reason (its
    # census re-runs the full build + survivor brute-force truth);
    # the operator's scale receipt is the x64 row in SCALING.md.
]


# FROZEN round-over-round comparator (r8 VERDICT item 2): the exact
# 66-entry r7 suite (commit 6001656's BENCH_DETAIL key set). The
# headline total keeps growing as the suite grows, so drift and
# growth are indistinguishable in it; `common66` is the sum over THIS
# list only, emitted alongside the headline every round. Do not edit
# this list — that is the point of it.
COMMON66 = (
    "etl_role_permission_inversion", "g_bucketed_layout_write",
    "g_closeness_sample", "g_connected_components",
    "g_connected_components_star", "g_count_by_label", "g_edge_count",
    "g_flagship_bucketed", "g_hits_top", "g_label_propagation",
    "g_members_of_role", "g_ppr_access", "g_principals_with_access",
    "g_reachable_from_user", "g_risk_report",
    "g_skew_membership_plain", "g_skew_membership_salted",
    "g_stream_ingest_e2e", "g_top_roles", "g_triangle_count",
    "g_weighted_distances", "graph_build", "ns_class_balance",
    "ns_decontaminate", "ns_dedup_clusters", "ns_dedup_exact",
    "ns_dedup_incremental", "ns_dedup_jaccard_fast",
    "ns_dedup_jaccard_fast_dfcut", "ns_dedup_minhash_fast",
    "ns_dedup_minhash_lsh", "ns_dedup_ngram_jaccard",
    "ns_dedup_simhash_fast", "ns_dedup_substring",
    "ns_dedup_substring_fast", "ns_events_anomaly",
    "ns_events_asof_join", "ns_events_cusum",
    "ns_events_multires_rollup", "ns_events_scd2",
    "ns_events_sessions", "ns_events_sessions_stream",
    "ns_events_transitions", "ns_events_tumbling",
    "ns_events_value_deciles", "ns_fuzzy_match", "ns_incremental_agg",
    "ns_ivf_ann", "ns_pack_sequences", "ns_pipeline_e2e",
    "ns_semantic_dedup_fast", "ns_table_audit", "ns_text_chunks",
    "ns_text_dsir", "ns_text_pii", "ns_text_repetition",
    "ns_text_tfidf", "ns_text_token_stats",
    "ns_text_unigram_logprob", "ns_text_winnowing", "ns_topk_cosine",
    "rel_bloom_prejoin", "rel_pricing_summary",
    "rel_revenue_by_nation", "rel_skyline_parts",
    "rel_top_order_per_customer",
)


def fast_registry(spark, sf_dir: str) -> dict:
    """Bench-only scale-path entries (xxhash64 / trained-quantizer
    variants of catalog operators) as name -> zero-arg action, shared
    between the timed suite below and tools/drift_probe.py (r8
    VERDICT item 3: the _fast family needs isolated medians too, and
    these live here, not in the catalog)."""
    from gsuites_gcp_graphdb_spark.operators import similarity as sim
    from gsuites_gcp_graphdb_spark.plans import (
        pipeline_queries as pq,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return {
        "ns_dedup_minhash_fast": lambda: dd.minhash_lsh_candidates(
            docs, use_md5=False
        ).count(),
        "ns_dedup_jaccard_fast": lambda: dd.ngram_jaccard_pairs(
            docs, hash_shingles=True
        ).count(),
        "ns_dedup_jaccard_fast_dfcut": lambda: dd.ngram_jaccard_pairs(
            docs, hash_shingles=True, max_df=5
        ).count(),
        "ns_dedup_simhash_fast": lambda: dd.simhash_candidates(
            docs, max_hamming=3
        ).count(),
        "ns_semantic_dedup_fast": lambda: dd.semantic_dedup_members(
            sim.embedding_near_duplicates(emb, threshold=0.4)
        ).count(),
        "ns_dedup_substring_fast": lambda: dd.substring_dup_stats(
            docs, k=8, fast=True
        ).count(),
        "ns_ivf_ann": lambda: pq.ivf_ann(spark, sf_dir).collect(),
    }


def cpu_probe_sample(spark) -> dict[str, float]:
    """One positional sample of the three code-frozen CPU probes
    (shapes unchanged since r9 — do not edit them). 4 reps each,
    median of the last 3 (rep 1 absorbs codegen/JIT warmup for the
    probe's own plan). r15 (VERDICT r14 item 5): the suite now takes
    one sample at the start, one mid-suite and one at the end — the
    same positional-sampling fix anchor_io got in r14 — because the
    r13→r14 normalized metrics inverted purely on a 38% single-sample
    anchor swing. Each probe's reported value is the median of its
    three positional samples; anchor_total keeps its frozen
    definition (sum of the three CPU probe values)."""
    probes = {
        "anchor_shuffle": lambda: spark.range(20_000_000)
        .groupBy((F.col("id") % 200_000).alias("k"))
        .agg(F.sum("id").alias("s"), F.count("*").alias("c"))
        .agg(F.sum("s"), F.sum("c"))
        .collect(),
        "anchor_join": lambda: spark.range(4_000_000)
        .select(F.col("id").alias("k"))
        .join(
            spark.range(4_000_000).select((F.col("id") + 1).alias("k")),
            "k",
        )
        .agg(F.count("*"))
        .collect(),
        "anchor_codegen": lambda: spark.range(150_000_000)
        .select(F.xxhash64("id").alias("h"))
        .agg(F.sum(F.pmod(F.col("h"), F.lit(1000))))
        .collect(),
    }
    out = {}
    for name, action in probes.items():
        reps = []
        for _ in range(4):
            t0 = time.perf_counter()
            action()
            reps.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(reps[1:]), 3)
    return out


def anchor_probes(spark) -> dict[str, float]:
    """Code-frozen box-speed anchors (r9 VERDICT item 2): three pure
    synthetic Spark workloads with ZERO dependence on repo code —
    shuffle+hash-agg, big-by-big SMJ, and a codegen expression scan —
    plus the r13 disk probe. They measure the box+JVM alone, so
    ``common66_norm = common66 / anchor_total`` cancels environment
    drift that moves engine and anchors proportionally — the r9
    common66 spread ([96.3, 112.9]s across same-code runs) forced a
    code-frozen-commit bisect to attribute; the normalized metric
    makes round-over-round claims arithmetic instead.

    r13 (VERDICT r12 item 1): the three CPU probes are CPU/shuffle-
    only and proved BLIND to the dimension that moved in r12 (suite
    +20% raw, anchors flat — the regressed set was checkpoint/write/
    staging-heavy). anchor_io measures the DISK path the suite
    actually exercises: a fixed-size parquet write + full read-back +
    a localCheckpoint round-trip, zero repo-code dependence. Reported
    separately: anchor_total (the frozen common66_norm denominator)
    stays CPU-only for round-over-round comparability; the
    common66_norm_io variant divides by (anchor_total + anchor_io)."""
    out = cpu_probe_sample(spark)
    t0 = time.perf_counter()
    _io_probe(spark)
    reps = [time.perf_counter() - t0]
    for _ in range(3):
        t0 = time.perf_counter()
        _io_probe(spark)
        reps.append(time.perf_counter() - t0)
    out["anchor_io"] = round(statistics.median(reps[1:]), 3)
    return out


def _io_probe(spark) -> None:
    """Code-frozen disk probe body (do not edit shapes/sizes): 8M
    rows × 3 columns → parquet (overwrite), read back with a full
    column scan, then an eager localCheckpoint of a 4M-row frame —
    the three disk touchpoints (sink write, source scan, checkpoint
    store) the write/staging/iterative suite queries depend on."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="spark_graft_anchor_io_")
    try:
        path = os.path.join(d, "t.parquet")
        (
            spark.range(8_000_000)
            .select(
                F.col("id"),
                F.xxhash64("id").alias("h"),
                (F.col("id") % 1000).cast("string").alias("s"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        # pmod-reduce before summing: a raw sum of 8M 64-bit hashes
        # overflows BIGINT under ANSI mode
        spark.read.parquet(path).agg(
            F.sum("id"),
            F.sum(F.pmod(F.col("h"), F.lit(1000))),
            F.count("s"),
        ).collect()
        ck = (
            spark.range(4_000_000)
            .select(F.col("id"), F.xxhash64("id").alias("h"))
            .localCheckpoint(eager=True)
        )
        ck.agg(F.sum(F.pmod(F.col("h"), F.lit(1000)))).collect()
        ck.unpersist()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    preflight()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/session warmup (codegen, parquet reader init) — not a query
    # cost, so keep it out of the first timed entry.
    spark.range(1_000_000).agg(F.sum("id")).collect()
    load_table(spark, sf_dir, "region").count()

    # Box-speed anchors run FIRST (same process, before any suite
    # pressure) — their total is the denominator of common66_norm.
    anchors = anchor_probes(spark)
    # anchor_total keeps its FROZEN definition (the three CPU probes)
    # so common66_norm stays comparable across rounds; anchor_io is
    # the r13 disk probe, folded only into the new common66_norm_io.
    #
    # r14 (VERDICT r13 item 6): the r13 sessions measured anchor_io
    # ONCE per run and saw 1.69 → 3.99 → 1.74s across same-code runs
    # — one positional sample cannot denominate a 200s suite on a box
    # whose disk drifts WITHIN a run. The probe now also fires
    # mid-suite (after the headline loop) and at the end; anchor_io
    # becomes the median of the three positional samples, with the
    # samples themselves reported in BENCH_DETAIL. r15 (VERDICT r14
    # item 5): the three CPU probes get the same treatment; each
    # probe's value (and hence anchor_total) is the median of its
    # start/mid/end samples.
    anchor_io_start = anchors.get("anchor_io", 0.0)

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    queries_done = 0

    def median_timed(name: str, action) -> None:
        nonlocal queries_done
        # Suite-position pressure guard (round-8 drift probe): over a
        # 66-query run, localCheckpoint blocks pile up until the JVM
        # happens to GC (ContextCleaner is weak-ref driven; its own
        # periodic GC fires every 30 min by default), and late-suite
        # iterative queries pay for it (g_connected_components_star
        # benched 4.05s in the r7 suite vs 3.28s isolated, same code).
        # Drop Python refs every query; force a JVM GC every 8 so the
        # cleaner reclaims dead checkpoint/shuffle blocks OFF the
        # timed path.
        import gc

        gc.collect()
        if queries_done % 8 == 0:
            spark.sparkContext._jvm.System.gc()
        queries_done += 1
        reps = []
        for _ in range(REPS):
            dd.release_scratch()
            t0 = time.perf_counter()
            action()
            reps.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(reps), 3)
        spread[name] = [round(min(reps), 3), round(max(reps), 3)]

    # Materialize the graph once (deployed-system shape); timed as its
    # own entry so build cost is visible, not smeared into queries.
    t0 = time.perf_counter()
    g = gq._graph(spark, sf_dir)
    g.counts()
    timings["graph_build"] = round(time.perf_counter() - t0, 3)

    # Round-8: write the canonical bucketed store BEFORE the headline
    # loop, so EVERY g_ traversal query below reads the dual-clustered
    # layout (zero stored-side Exchange on expansion joins) — the
    # deployed-system read path, not a flagship-only twin. The write
    # is the one-off layout cost, timed as its own entry.
    t0 = time.perf_counter()
    gq.materialize_graph_store(spark, sf_dir)
    timings["g_bucketed_layout_write"] = round(
        time.perf_counter() - t0, 3
    )
    g = gq._graph(spark, sf_dir)  # now store-backed
    g.counts()

    for name in HEADLINE:
        fn = CATALOG[name].fn
        median_timed(name, lambda fn=fn: fn(spark, sf_dir).collect())

    # mid-suite IO + CPU samples (r14/r15, untimed — drift probes)
    t0 = time.perf_counter()
    _io_probe(spark)
    anchor_io_mid = round(time.perf_counter() - t0, 3)
    cpu_mid = cpu_probe_sample(spark)

    # Scale-path variants (xxhash64 instead of portable md5/strings;
    # SemDeDup banded-LSH production path; IVF raw ANN). Shared with
    # tools/drift_probe.py via fast_registry. Design history for the
    # semantic path (band geometry, the 256-bit agreement cut) lives
    # in operators/similarity.py and SCALING.md; ns_ivf_ann is
    # bench-only because the hit set depends on the trained quantizer
    # (correctness rides on ns_ivf_recall and test_ivf_topk).
    for name, action in fast_registry(spark, sf_dir).items():
        median_timed(name, action)
    # Bucketed-layout flagship (round-7, kept for round-over-round
    # continuity): since round 8 the store IS the default _graph()
    # read path (written above, before the headline loop), so this
    # entry now times the flagship against the same store-backed
    # graph every other g_ query used.
    gb = gq._graph(spark, sf_dir)
    median_timed(
        "g_flagship_bucketed",
        lambda: gq.principals_with_access_g(gb).collect(),
    )
    # r13: the saved graph-ANN index's serving path — build the
    # NN-Descent graph once OFF the timed path (production Arrow
    # scorer; its build cost is ns_nn_descent_fast's job), then time
    # the layout write (knn_save) and the disk-resident probe
    # (knn_probe, partition-pruned reads) as separate entries, the
    # g_bucketed_layout_write / flagship split applied to the ANN
    # store.
    import shutil
    import tempfile

    from gsuites_gcp_graphdb_spark.operators import knngraph as kg

    emb_t = load_table(spark, sf_dir, "embeddings")
    knn_g = kg.nn_descent(emb_t, k=10, rounds=3, arrow=True)[-1]
    knn_g = knn_g.localCheckpoint()
    knn_links = kg.permutation_init(
        kg._normalize(emb_t, "vec_id", "embedding"), 10
    ).localCheckpoint()
    knn_dir = tempfile.mkdtemp(prefix="spark_graft_bench_knn_")

    def knn_save_action():
        kg.knn_save(
            knn_g, emb_t, f"{knn_dir}/idx", n_parts=16,
            max_entries=64, long_links=knn_links,
        )

    median_timed("ns_knn_index_save", knn_save_action)
    knn_q = emb_t.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").cast("bigint").alias("a")
    ).localCheckpoint()
    median_timed(
        "ns_knn_probe_serve",
        lambda: kg.knn_probe(
            spark, f"{knn_dir}/idx", knn_q, beam=16, hops=6,
            n_entries=4, arrow=True,
        ).collect(),
    )
    shutil.rmtree(knn_dir, ignore_errors=True)
    dd.release_scratch()

    # end-of-suite IO + CPU samples (r14/r15): median-of-3 positional
    # samples is the denominated value per probe; the samples are the
    # drift receipt.
    t0 = time.perf_counter()
    _io_probe(spark)
    anchor_io_end = round(time.perf_counter() - t0, 3)
    io_samples = [anchor_io_start, anchor_io_mid, anchor_io_end]
    anchor_io = round(statistics.median(io_samples), 3)
    anchors["anchor_io"] = anchor_io
    cpu_end = cpu_probe_sample(spark)
    cpu_samples = {
        k: [anchors[k], cpu_mid[k], cpu_end[k]] for k in cpu_mid
    }
    for k, s in cpu_samples.items():
        anchors[k] = round(statistics.median(s), 3)
    anchor_total = round(sum(anchors[k] for k in cpu_samples), 3)

    total = round(sum(timings.values()), 3)
    missing66 = [n for n in COMMON66 if n not in timings]
    common66 = round(
        sum(timings[n] for n in COMMON66 if n in timings), 3
    )
    common66_norm = (
        round(common66 / anchor_total, 3) if anchor_total else None
    )
    common66_norm_io = (
        round(common66 / (anchor_total + anchor_io), 3)
        if anchor_total + anchor_io
        else None
    )
    # Full per-query detail (medians + [min,max] spread) goes to a repo
    # file — the driver only captures a 2000-char stdout tail, and the
    # round-5 full-detail line overflowed it (BENCH_r05 parsed: null).
    detail = {
        "metric": "headline-suite wall time",
        "value": total,
        "common66": common66,
        "common66_norm": common66_norm,
        "common66_norm_io": common66_norm_io,
        "anchors": anchors,
        "anchor_io_samples": io_samples,
        "anchor_cpu_samples": cpu_samples,
        "anchor_total": anchor_total,
        "cpus": cpus,
        "common66_missing": missing66,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "reps": REPS,
        "sf": sf,
    }
    detail_path = os.path.join(os.path.dirname(__file__), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # r15 (VERDICT r14 item 1): ALSO write the detail keyed by core
    # count so a 32-core run and the driver's follow-up 8-core run
    # survive side by side — BENCH_DETAIL.json alone gets overwritten
    # by whichever run happens last, which destroyed r14's per-query
    # round-over-round comparability. Additions-only: the plain
    # BENCH_DETAIL.json and the stdout contract are unchanged.
    with open(
        os.path.join(
            os.path.dirname(__file__), f"BENCH_DETAIL_c{cpus}.json"
        ),
        "w",
    ) as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # The FINAL stdout line is the driver contract. Include the
    # per-query map only if the whole line stays comfortably inside the
    # tail capture; otherwise print the compact headline object (the
    # detail file always has everything).
    line_obj = {
        "metric": "headline-suite wall time",
        "value": total,
        "common66": common66,
        "common66_norm": common66_norm,
        "common66_norm_io": common66_norm_io,
        "anchor_total": anchor_total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(line_obj)
    if len(line) > 1800:
        line_obj.pop("queries")
        line = json.dumps(line_obj)
    print(line)


if __name__ == "__main__":
    main()
