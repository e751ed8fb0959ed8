"""Dump formatted physical plans for the headline queries to PLANS.md —
the evidence trail for plan-quality review: pushed filters, broadcast
vs sort-merge joins, whole-stage codegen spans, exchange counts.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")


def main():
    # --names a,b,c : audit only that subset and print summaries
    # without touching PLANS.md (heuristic-iteration mode)
    argv = list(sys.argv[1:])
    only = None
    if "--names" in argv:
        i = argv.index("--names")
        only = argv[i + 1].split(",")
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    from gsuites_gcp_graphdb_spark.plans.catalog import CATALOG
    from gsuites_gcp_graphdb_spark.session import get_spark

    audit = [
        "g_principals_with_access",
        "g_members_of_role",
        "g_who_can_access_bucket",
        "rel_pricing_summary",
        "rel_revenue_by_nation",
        "rel_trade_volume",
        "rel_market_share",
        "ns_dedup_minhash_lsh",
        "ns_dedup_ngram_jaccard",
        "ns_topk_cosine",
        "ns_events_tumbling",
        # round-2 additions
        "rel_small_qty_revenue",
        "rel_waiting_suppliers",
        "rel_discounted_revenue",
        "g_triangle_count",
        "ns_dedup_clusters",
        "ns_embedding_norm_stats",
        # corpus-management surface: the split must be map-only, the
        # decontamination join must broadcast the benchmark side, and
        # packing must show one hash exchange (no global sort)
        "ns_split_assign",
        "ns_decontaminate",
        "ns_pack_sequences",
        # round-4: the skew pair — the salted plan must show the salt
        # column in the join keys and no broadcast-nested-loop
        "g_skew_membership_plain",
        "g_skew_membership_salted",
        # round-4: composed pipeline, incremental dedup, repetition
        # screens (argmax must plan as hash agg, not window sort)
        "ns_pipeline_e2e",
        "ns_dedup_incremental",
        "ns_text_repetition",
        "g_label_propagation",
        "g_ppr_access",
        # round-5: bounded top-k must show TakeOrderedAndProject and
        # ZERO Window operators; weighted SSSP's final round must be
        # broadcast-joined against the (small) reached set
        "g_top_roles",
        "ns_text_top_ngrams",
        "g_weighted_distances",
        # round-5: the PII scrub and normalization census must be
        # map-only (zero Exchange before the final collect); the CMS
        # probe must broadcast the counter table; k-core's final
        # census is one hash-agg over the converged edge set
        "ns_text_pii",
        "ns_text_normalize",
        "ns_cms_heavy_hitters",
        "g_kcore",
        # round-5 second wave: tf-idf must broadcast the df table and
        # plan its argmax as a hash-agg (no Window); the funnel's
        # three stages must reuse one user_id exchange; the rollup's
        # day level must re-aggregate the hour agg (exactly two
        # aggregates above the scan); zorder is pure projection
        "ns_text_tfidf",
        "ns_events_funnel",
        "ns_events_multires_rollup",
        "ns_layout_zorder",
        # round-5 third wave: the pivot must plan as ONE hash-agg of
        # conditional aggregates (no per-status scan); unpivot adds
        # only a generate/projection on top
        "rel_pivot_status",
        "rel_unpivot_status",
        # round-5 fourth wave: substring dedup is explode -> ONE
        # hash-agg on the window hash -> join-back (both sides already
        # partitioned by h — no extra exchange) -> per-doc re-agg;
        # DSIR and the audit must broadcast their tiny aggregates
        # (vocab / totals); the IVM merge is two partial hash-aggs
        # re-aggregated once; closeness is the per-seed BFS loop so
        # only its final per-seed agg shows here
        "ns_dedup_substring",
        "ns_text_dsir",
        "ns_table_audit",
        "ns_incremental_agg",
        # round-5 fifth/sixth wave: chunking and scalar quantization
        # must be map-only (zero Exchange before the collect);
        # filtered ANN must show the broadcast label probe feeding
        # TakeOrdered (pre-filter before any distance work); the
        # fuzzy join must be an equi-join on the block key (no
        # BroadcastNestedLoop); retention reuses one user_id
        # exchange; trend and anomaly are broadcast-fed hash-aggs
        "ns_text_chunks",
        "ns_vec_scalar_quant",
        "ns_filtered_ann",
        "ns_fuzzy_match",
        "ns_events_retention",
        "ns_events_trend",
        "ns_events_anomaly",
        # round-5 seventh wave: association rules are one equi-self-
        # join + broadcast-fed division; collocations broadcast the
        # unigram table; weighted sampling is map-only keys into
        # TakeOrdered; the full-outer reconciliation must join two
        # PRE-aggregated sides; the risk report must show role-grain
        # broadcast sums (no expand over a fused countDistinct)
        "ns_events_assoc",
        "ns_text_collocations",
        "ns_weighted_sample",
        "rel_nation_presence",
        "g_risk_report",
        # round-6 wave: winnowing's running min must be a doc-
        # partitioned window (never 'No Partition Defined'); the
        # skyline must show the band-partitioned window + broadcast
        # offsets (no NestedLoop over the data); CUSUM must show the
        # two chunk-partitioned windows and a broadcast offset join;
        # class balance is a broadcast of the tiny class-count table
        # into a map-only filter; containment reuses ONE intersection
        # pass; dim stats is one 64-key hash agg; random walks are
        # 4 equi-joins of a narrow frontier (no BroadcastNestedLoop)
        "ns_text_winnowing",
        "rel_skyline_parts",
        "ns_events_cusum",
        "ns_class_balance",
        "ns_dedup_containment",
        "ns_vec_dim_stats",
        "g_random_walks",
        # round-7 wave: the bloom probe must be h BroadcastHashJoins
        # with hash exchanges ONLY on the build's word_idx agg (the
        # fact side never shuffles); transitions/SCD2 windows must be
        # user-partitioned (never 'No Partition Defined'); deciles
        # must be ONE hash-agg over a map-only CASE bin (thresholds
        # are bound literals, no global sort); the span-overlap join
        # must stay an equi-join on (key, bucket) with the bucket
        # width auto-derived; centroids are two chained hash-aggs +
        # a tiny broadcast cross of label pairs
        "rel_bloom_prejoin",
        "ns_events_transitions",
        "ns_events_scd2",
        "ns_events_value_deciles",
        "ns_events_span_overlap",
        "ns_vec_class_centroids",
        # round-8 wave: the k-truss peel round must show the
        # DEGREE-oriented wedge join (struct(d, id) comparisons in
        # the join/filter), never a raw id self-join at a hub
        "g_ktruss",
        # round-8 second wave: SCC and DAG-depth are fixpoint loops so
        # only their final shape shows here; the quantile histogram
        # must be hash-aggs + a broadcast 128-row cumulative self-join
        # (no global window); BPE pairs must be explode -> ONE
        # map-combinable hash-agg -> TakeOrderedAndProject; the
        # temperature sampler is a broadcast of two tiny aggregates
        # into a map-only filter
        "g_scc",
        "g_dag_depth",
        "ns_events_quantile_hist",
        "ns_text_bpe_pairs",
        "ns_mixture_temperature",
        # round-8 third wave: the PCA Gram must be ONE shuffle on id
        # for the self-join feeding a map-combinable (i, j) hash-agg;
        # every power round is a d^2-row agg with the vector bound as
        # literals (no join in the round), so only the final ranked
        # projection shows here
        "ns_vec_pca_power",
        # round-8 fourth wave: the leakage-safe split must show the
        # map-only hash-CASE assignment and broadcast-able audit
        # joins (never a doc x doc product); source overlap must be
        # fp-keyed joins with doc-partitioned windows only; the gini
        # score is two chained hash-aggs, no window
        "ns_split_leakage_safe",
        "ns_text_source_overlap",
        "ns_events_type_gini",
        # round-8 fifth wave: the path-census DP is a fixpoint loop so
        # only the final census agg shows here — the load-bearing
        # property is the COLLAPSED O(|V|) frontier (see SCALING.md);
        # the visible plan must be hash-aggs over the arrival union +
        # a broadcast-able project-dim join, no window, no per-user
        # key anywhere
        "g_grant_path_census",
        # the PIT lookup must show an equi-join on user_id with the
        # interval containment as a join/filter condition — any
        # BroadcastNestedLoop here is a bug
        "ns_events_pit_lookup",
        # round-8 sixth wave: the drift monitor must be two chained
        # hash-aggs + broadcast 1-row cohort counts (no window, no
        # per-vector state); role similarity is one membership
        # self-join + broadcastable dim-size joins
        "ns_vec_drift",
        "g_role_similarity",
        # round-9 wave: PPS sampling must show the banded partial
        # window + broadcast offsets (no global Window, no single-
        # task sort); the retention triangle is two hash-aggs + one
        # broadcast join; the calibration pair join must reuse the
        # persisted posting/signature scans (InMemoryTableScan both
        # sides); the cosine histogram is one (id, dim) equi-join +
        # two hash-aggs
        "ns_corpus_pps_sample",
        "ns_events_retention_cohorts",
        "ns_dedup_minhash_calibration",
        "ns_vec_pair_cos_hist",
        # round-9 late wave: community quality's aggregates must be
        # hash-aggs with the m scalar as a 1-row broadcast (the only
        # window-free plan atop the LPA rounds); keyness must
        # broadcast k_t and N into the (source, term) agg and show
        # exactly one source-partitioned Window for the top-k
        "g_community_quality",
        "ns_text_keyness",
        # round-10: the checksum receipt must stay two map-combinable
        # aggregates; the Hilbert key must plan as staged projections
        # with zero shuffles; role mining / access redundancy should
        # be hash-aggs + broadcasts (role dims are tiny); the fluent
        # repeat().until() spelling must match the algorithms path.
        "rel_ivm_join",
        "g_reachable_until",
        "ns_layout_hilbert",
        "ns_events_ewma",
        "g_role_redundancy",
        "g_entitlement_cohorts",
        "g_access_redundancy",
        # round-11 wave (session 2): nn_descent's windows must ALL be
        # node-partitioned (never 'No Partition Defined') and the
        # vector re-attach must be equi-joins on id — the only
        # BroadcastNestedLoop allowed in the census is the 1-row
        # aggregate crossJoins assembling the final row; the shard
        # shuffle must be exactly ONE exchange on shard feeding a
        # shard-partitioned window; the watermark census is one
        # user-partitioned window + one final agg; coreness shows the
        # final H-index round only (loop-checkpointed) — one join +
        # one vertex-partitioned window.
        "ns_nn_descent",
        "ns_corpus_shuffle_shards",
        "ns_events_watermark_census",
        "g_coreness",
        # round-11 late pair: the bigram scorer must broadcast the
        # unigram+V tables and join the bigram counts by key (no
        # positional self-join — bigrams are built in-array); the
        # Zipf fit is TakeOrdered into a 256-row bounded window.
        "ns_text_bigram_logprob",
        "ns_text_zipf_fit",
        # round-12: the delete census must show the tombstone
        # anti/semi joins as broadcast (|D| is small), ONE bounded
        # bridge join through the old adjacency, and the re-knit
        # re-score as the same two equi-joins on id as every other
        # _score_pairs consumer — no corpus scan anywhere after the
        # graph build.
        "ns_knn_delete",
    ]
    # r14 adjudications for the rows the attribute-aware flag still
    # reviews: all three predicates are EXPRESSIONS over scan columns
    # (parquet data-source pushdown takes only bare-column
    # comparisons/IN/startsWith — an expression predicate cannot
    # reach the reader in any engine), so the Filter sitting above
    # the scan is the correct plan, not a missed pushdown.
    adjudicated = {
        "ns_text_chunks": (
            "chunk-count predicate size(sequence(..split(text)..))>0 "
            "— expression over text, map-side inside the only "
            "codegen stage; not pushable"
        ),
        "ns_fuzzy_match": (
            "isnotnull(split(name,'#')[1]) null-intolerant guards "
            "Catalyst inserted for the block-key equi-join — "
            "expressions over c_name/s_name; not pushable"
        ),
        "ns_vec_drift": (
            "md5-derived cohort split on vec_id (the census's "
            "deterministic A/B halves) — expression predicate; not "
            "pushable, and both halves read the same single parquet "
            "scan range anyway"
        ),
    }
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # Round-8: audit the DEPLOYED read path — materialize the bucketed
    # store first so every g_ traversal below plans against it (the
    # expansion joins must show bucketed scans, no stored-side
    # Exchange), exactly what bench.py measures.
    from gsuites_gcp_graphdb_spark.plans import graph_queries as _gq

    _gq.materialize_graph_store(spark, sf_dir)

    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by tools/explain_audit.py over {sf_dir}. Summary",
        "markers per query, then the formatted plan. Things to check:",
        "filters pushed into scans (PushedFilters), joins broadcast for",
        "dimension tables, codegen coverage, no stray shuffles.",
        "",
    ]
    def audit_df(name: str, df) -> None:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        formatted = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        counts = {
            "BroadcastHashJoin": plan.count("BroadcastHashJoin"),
            "SortMergeJoin": plan.count("SortMergeJoin"),
            "Exchange": plan.count("Exchange"),
            "WholeStageCodegen": len(
                set(re.findall(r"\*\((\d+)\)", plan))
            ),
            "PushedFilters": formatted.count("PushedFilters: ["),
        }
        # r13 (VERDICT r12 item 5): a PushedFilters=0 summary is only
        # a red flag when the plan SCANS FILES — queries over
        # in-memory built graphs / checkpointed frames read
        # ExistingRDD/LogicalRDD, where pushdown does not exist as a
        # concept. Annotate the distinction so zero rows stop needing
        # manual adjudication.
        #
        # r14 (VERDICT r13 item 2): predicate-aware review flag. The
        # r13 rule fired "review" on 54/105 rows, most of which had
        # nothing reviewable: cache-backed plans (InMemoryTableScan —
        # the filter correctly runs above the cache, pushdown into the
        # cached relation is not a concept), plans with no Filter
        # operator at all (nothing to push), and plans whose predicate
        # DID reach the scan as a PartitionFilter (partition pruning is
        # pushdown). A position-blind first cut ("any Filter + any
        # uncached file scan") still flagged 7 rows whose filters are
        # HAVING-style predicates over AGGREGATED/derived columns
        # (e.g. zipf_fit's r2-threshold over two chained aggs) — not
        # pushable in any engine. The flag is therefore ATTRIBUTE-
        # AWARE: from the formatted plan, collect every file scan's
        # Output attribute ids and every Filter's Condition attribute
        # ids; REVIEW fires only when some Filter references a
        # scan-output id directly (a predicate over raw scan columns)
        # while no scan carries a pushed data or partition predicate.
        # Filters over derived columns only are annotated n/a.
        n_file = plan.count("Scan parquet") + plan.count("FileScan")
        n_rdd = plan.count("Scan ExistingRDD") + plan.count(
            "LocalTableScan"
        )
        n_cache = plan.count("InMemoryTableScan")
        # physical Filter operators ("*(n) Filter (" / "+- Filter (");
        # the substring " Filter (" cannot match "PushedFilters: ["
        # or "PartitionFilters: [".
        n_filter = plan.count(" Filter (")
        pushed_empty = formatted.count("PushedFilters: []")
        pushed_data = counts["PushedFilters"] - pushed_empty
        part_push = len(
            re.findall(r"PartitionFilters: \[[^\]]", formatted)
        )
        scan_ids: set[str] = set()
        scan_col_filters = 0
        for seg in formatted.split("\n\n"):
            first = seg.lstrip().split("\n", 1)[0]
            if re.match(r"\(\d+\) Scan parquet", first):
                m = re.search(r"Output \[\d+\]: \[(.*?)\]", seg)
                if m:
                    scan_ids |= set(re.findall(r"#(\d+)", m.group(1)))
        for seg in formatted.split("\n\n"):
            first = seg.lstrip().split("\n", 1)[0]
            if re.match(r"\(\d+\) (\*\(\d+\) )?Filter", first):
                cm = re.search(r"Condition : (.*)", seg)
                if cm and (
                    set(re.findall(r"#(\d+)", cm.group(1))) & scan_ids
                ):
                    scan_col_filters += 1
        counts["FileScans"] = n_file
        counts["MemScans"] = n_rdd
        counts["CacheScans"] = n_cache
        counts["Filters"] = n_filter
        counts["ScanColFilters"] = scan_col_filters
        counts["PartitionPushed"] = part_push
        note = ""
        if pushed_data == 0:
            if n_file == 0:
                note = (
                    " [pushdown-n/a: no file scans — ExistingRDD/"
                    "checkpoint/local relations only]"
                )
            elif n_filter == 0:
                note = (
                    " [pushdown-n/a: no Filter operator in the plan "
                    "— nothing to push]"
                )
            elif part_push > 0:
                note = (
                    " [pushdown-ok: predicate reached the scan as a "
                    "PartitionFilter (partition pruning)]"
                )
            elif n_cache > 0:
                note = (
                    " [pushdown-n/a: cache-backed — Filter runs "
                    "above InMemoryTableScan, file scans feed the "
                    "cache unfiltered by design]"
                )
            elif scan_col_filters == 0:
                note = (
                    " [pushdown-n/a: every Filter is over DERIVED "
                    "columns (aggregates/explodes/window ranks) — "
                    "not pushable in any engine]"
                )
            elif name in adjudicated:
                note = (
                    " [pushdown-adjudicated: " + adjudicated[name] + "]"
                )
            else:
                note = (
                    " [pushdown-REVIEW: a Filter references raw "
                    "scan columns yet nothing was pushed]"
                )
        out.append(f"## {name}")
        out.append("")
        out.append(
            "summary: "
            + ", ".join(f"{k}={v}" for k, v in counts.items())
            + note
        )
        out.append("")
        out.append("```")
        # formatted plans are long; keep the operator tree + scan info
        head = formatted.split("\n\n")[0]
        out.append(head.strip())
        scans = [
            seg
            for seg in formatted.split("\n\n")
            if "PushedFilters" in seg
            or "PartitionFilters" in seg
            or "ReadSchema" in seg
        ]
        for s in scans[:4]:
            out.append("")
            out.append(s.strip()[:1200])
        out.append("```")
        out.append("")
        print(name, counts)

    if only:
        for name in only:
            audit_df(name, CATALOG[name].fn(spark, sf_dir))
        print("(--names mode: PLANS.md not written)")
        return

    for name in audit:
        audit_df(name, CATALOG[name].fn(spark, sf_dir))

    # r13: the saved kNN-graph probe's partition-pruned read receipt
    # (VERDICT r12 item 2). The ns_knn_probe CATALOG entry returns a
    # literal census row (counts collected inside the function), so
    # audit the PROBE DATAFRAME itself: build+save a small index,
    # then explain knn_probe with checkpoint=False so the full hop
    # lineage — including the pa/pv partition filters pushed into
    # the adjacency and vector scans — is visible in one plan.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gsuites_gcp_graphdb_spark.operators import knngraph as kg
    from gsuites_gcp_graphdb_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    e = kg._normalize(emb, "vec_id", "embedding")
    sg = (
        kg.nn_descent(emb, k=10, rounds=1, arrow=False)[-1]
        .select("a", "b")
        .union(kg.permutation_init(e, 10))
    )
    knn_path = tempfile.mkdtemp(prefix="spark_graft_plan_knn_")
    try:
        kg.knn_save(sg, emb, knn_path, n_parts=8, max_entries=16)
        q = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").cast("bigint").alias("a")
        )
        probe = kg.knn_probe(
            spark, knn_path, q, beam=8, hops=2, n_entries=4,
            arrow=False, checkpoint=False,
        )
        audit_df("ns_knn_probe (probe dataflow)", probe)
    finally:
        shutil.rmtree(knn_path, ignore_errors=True)

    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
