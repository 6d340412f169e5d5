"""Physical-plan hygiene for the scale-path operators.

Correctness says the answer is right; these assert the PLAN is the one
that survives a 100× scale-up: candidate-generation paths must be hash
joins (never cartesian/nested-loop), scans must prune columns, and the
claim path must not contain a single-partition global-sort exchange.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_lsh_near_dup_has_no_cartesian(emb):
    """Candidate generation must be an equi-join on (table, bucket) —
    a nested-loop join carrying the vid<vid predicate would mean the
    O(n²) all-pairs path leaked back in.  (BroadcastNestedLoopJoin
    against the 36-row plane dim is the intended broadcast crossJoin.)"""
    from adscrawler_spark.operators.dedup import embedding_near_dup_lsh

    plan = _plan(embedding_near_dup_lsh(emb, threshold=0.35))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            assert "vid" not in line, line
    # the candidate join itself: an equi-join keyed on (t, bucket)
    assert any(
        ("Join" in ln) and ("bucket" in ln) and ("NestedLoop" not in ln)
        for ln in plan.splitlines()
    ), plan


def test_jaccard_via_minhash_has_no_cartesian(docs):
    from adscrawler_spark.operators.dedup import (
        jaccard_via_minhash,
        word_shingles,
    )

    plan = _plan(jaccard_via_minhash(word_shingles(docs, n=4), threshold=0.35))
    assert "CartesianProduct" not in plan
    # the 8-row band dim rides a broadcast crossJoin by design; the
    # doc-pair comparison must never sit in a nested-loop join
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            assert "doc" not in line, line
    assert any(
        ("Join" in ln) and ("sig" in ln) and ("NestedLoop" not in ln)
        for ln in plan.splitlines()
    ), plan


def test_brute_force_near_dup_is_the_explicit_exception(emb):
    """The bounded small-n verifier IS a nested-loop join — assert that
    so a future edit that silently flips the wired path back to
    brute-force fails the LSH tests above, not this one."""
    from adscrawler_spark.operators.dedup import embedding_near_dup_pairs

    plan = _plan(embedding_near_dup_pairs(emb.filter("vec_id < 50")))
    assert "NestedLoopJoin" in plan or "CartesianProduct" in plan


def test_documents_scan_prunes_columns(spark):
    """A 2-column projection must reach the parquet scan as a 2-column
    ReadSchema (column pruning), not a full-width read."""
    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("n")
    )
    plan = _plan(df)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "lang" not in read[0] and "source" not in read[0]


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_tfidf_vocabulary_join_not_hint_broadcast(docs):
    """The term→document-frequency join must be a plain shuffle join in
    the OPTIMIZED plan (no user broadcast hint): the distinct-term
    table grows with the corpus, and a forced broadcast of a
    billions-of-rows vocabulary is an executor OOM at web scale.  AQE
    may still *choose* a runtime broadcast when the build side turns
    out small — we assert the hint is absent, not the physical join."""
    from adscrawler_spark.operators.dedup import tfidf_top_terms

    out = tfidf_top_terms(docs.select("doc_id", "text"), k=3)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # exactly one broadcast hint survives: the 1-row n_docs scalar
    hints = [ln for ln in analyzed.splitlines() if "ResolvedHint" in ln]
    assert len(hints) == 1, analyzed
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    for ln in optimized.splitlines():
        if "Join Inner" in ln and "Hint" in ln:
            raise AssertionError(f"hinted equi-join in tfidf plan: {ln}")


def test_chain_hops_convergence_join_not_hint_broadcast(spark):
    """chain_hops' converged test joins the pointer table against the
    head set — one row per chain, which grows with the crawl.  Assert
    no user broadcast hint anywhere in the analyzed plan (AQE may still
    choose a runtime broadcast when the head set is genuinely small;
    we pin the HINT absent, mirroring the tfidf vocabulary test)."""
    from adscrawler_spark.operators.chains import chain_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    out = chain_hops(edges, max_hops=4)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    rows = {(r["node"], r["head"], r["hop_index"]) for r in out.collect()}
    assert rows == {("a", "a", 0), ("b", "a", 1), ("c", "a", 2),
                    ("x", "x", 0), ("y", "x", 1)}


def test_claim_path_has_no_global_sort(spark):
    """ranked_top_n must not compile to a single-partition global sort
    or a global-order window (rangepartitioning with numPartitions=1 /
    SinglePartition exchange)."""
    from adscrawler_spark.operators import frontier as fo
    from adscrawler_spark.streaming.frontier_gen import synth_frontier

    fr = fo.with_canonical(synth_frontier(spark, 2000))
    now = "2026-08-02 00:00:00"
    base = fo.eligible(fr, now).filter(
        F.col("doc_kind").isin(["listing_play", "listing_ios"])
    )
    out = fo.ranked_top_n(base, fo.listing_order_cols(now), 500)
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan


def test_frontend_topk_uses_window_group_limit(spark):
    """The frontend leaderboards must carry Spark's WindowGroupLimit
    (rank-pushdown: per-partition top-k before the window sort) — a
    plain Window over the full input would sort every group member at
    100 TB for rows that are then discarded."""
    from adscrawler_spark.plans import benchmarks as B

    for name in ["apps_new_yearly", "company_top_apps",
                 "latest_sdk_scanned"]:
        plan = _plan(B.QUERIES[name](spark, SF))
        assert "WindowGroupLimit" in plan, (name, plan)


def test_frontend_pattern_joins_broadcast_only_pattern_dims(spark):
    """mediation_adapter_app_counts: the two prefix-match joins are
    nested-loop by nature — assert the BUILD side of each is a
    broadcast (the O(10)-row pattern dim), never the strings table."""
    from adscrawler_spark.plans import benchmarks as B

    plan = _plan(B.QUERIES["mediation_adapter_app_counts"](spark, SF))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            assert "BuildRight" in line or "BuildLeft" in line, line
    # the app-count join on string_id must be a hash equi-join
    assert any(
        "Join" in ln and "string_id" in ln and "NestedLoop" not in ln
        for ln in plan.splitlines()
    ), plan


def test_frontend_rollups_have_no_nested_loops(spark):
    """The count-distinct rollup family must be pure hash joins +
    hash aggregates — any nested loop here is a synth-key bug."""
    from adscrawler_spark.plans import benchmarks as B

    for name in ["adstxt_ad_domain_overview", "adstxt_publishers_overview",
                 "category_tag_stats", "companies_category_stats",
                 "category_tag_type_stats", "api_call_countries",
                 "company_domain_country"]:
        plan = _plan(B.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "NestedLoopJoin" not in plan, (name, plan)


def test_round4_queries_have_no_cartesian(spark):
    """The round-4 battery surface (ad-payload attribution, variant
    matviews, scheduled-scan frontier) must compile to hash joins —
    no cartesian/nested-loop anywhere (the dims ride intended
    broadcast hash joins, not nested loops)."""
    from adscrawler_spark.plans import benchmarks as B

    for name in [
        "ad_payload_known_parts", "companies_category_tag_type_stats",
        "advertiser_creatives", "advertiser_creative_rankings_recent_month",
        "frontier_secondary_priority", "sdk_scan_priority",
        "api_scan_priority", "creative_scan_priority",
    ]:
        plan = _plan(B.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "NestedLoopJoin" not in plan or name == (
            "frontier_secondary_priority"  # the tier CROSS JOIN fan-out
        ), (name, plan)


def test_secondary_frontier_limit_is_distributed_topk(spark):
    """apps_to_update_secondary's ordered LIMIT must compile to
    TakeOrderedAndProject (distributed top-k), never a global sort
    exchange feeding a limit."""
    from adscrawler_spark.plans import benchmarks as B

    plan = _plan(B.QUERIES["frontier_secondary_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan or "TakeOrdered" in plan


def test_creative_rankings_aggregates_without_fanout_join(spark):
    """The recent-month rollup must aggregate the record rows BEFORE
    joining the per-advertiser mmp/domain arrays — the matview's
    row-level fanout join (records x mmp x domains) must not reappear.
    Detect it structurally: no join in the plan may sit between the
    record scan and the count-distinct aggregate."""
    from adscrawler_spark.plans import benchmarks as B

    df = B.QUERIES["advertiser_creative_rankings_recent_month"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the two array sides arrive pre-aggregated: every join on
    # advertiser_store_app_id must have an Aggregate below each side
    # that carries collect_set — crude but effective: the string
    # "collect_set(mmp_domain" must appear ABOVE (before) the last
    # "Join" over advertiser_store_app_id in the optimized plan text.
    assert "collect_set(mmp_domain" in opt
    assert "collect_set(ad_network_domain" in opt


def test_round5_queries_have_no_cartesian(spark):
    """The round-5 battery surface (download/keyword frontiers, mitm
    ingest, creative assembly) must compile to hash joins — no
    cartesian/nested-loop anywhere."""
    from adscrawler_spark.plans import benchmarks as B

    for name in [
        "apps_to_download_priority", "apps_to_process_keywords",
        "mitm_api_calls_ingest", "creative_records_assembly",
    ]:
        plan = _plan(B.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "NestedLoopJoin" not in plan, (name, plan)


def test_apps_to_download_rank_is_distributed(spark):
    """The no-LIMIT app_rank must come from the range-partition +
    prefix-sum ranker — never a single-partition global-order window
    (which would funnel the whole candidate set through one task)."""
    from adscrawler_spark.plans import benchmarks as B

    plan = _plan(B.QUERIES["apps_to_download_priority"](spark, SF))
    assert "Exchange SinglePartition" not in plan, plan


def test_payload_extraction_python_only_on_nested_tier(spark):
    """The two-tier extractor must keep the Arrow UDF off the
    marker-free slice: the fast branch of the union carries no
    Python evaluation node, and the containment-marker filter guards
    the slow branch."""
    from adscrawler_spark.operators import adpayload as ap

    df = spark.createDataFrame(
        [(1, "x https://a.com/b y")], "i int, payload string"
    )
    plan = _plan(ap.payload_urls(df, "payload"))
    # exactly one Python eval node in the whole two-tier plan — the
    # slow branch's; a second would mean the fast tier still pays it
    assert plan.count("ArrowEvalPython") == 1, plan
    # and the JVM tier exists: a regexp_extract_all projection with
    # no Python above it
    assert "regexp_extract_all" in plan


def test_network_split_python_only_on_routed_tiers(spark):
    """with_network_fields is a three-way filter-split: the protobuf
    decode UDF and the json-walk UDF each appear exactly once (their
    own branches), and the generic/mtg/fyber/youappi branch carries
    no Python node at all — a conditional projection would drag every
    row through both Arrow stages."""
    from adscrawler_spark.operators import adnetworks as an

    df = spark.createDataFrame(
        [("r1", "p", "c1", "s1", "generic-tld.com", "t", "u", None,
          None, None, None, "v")],
        "run_id string, pub_store_id string, cr_uuid string, "
        "src_uuid string, init_tld string, text string, "
        "src_url string, src_mime string, src_headers string, "
        "request_blob string, src_content string, video_id string",
    )
    nf = an.with_network_fields(df, frozenset({"adjust.com"}))
    plan = _plan(nf)
    # one Arrow node per routed branch: json-walk + protobuf decode
    assert plan.count("ArrowEvalPython") == 2, plan
    assert "BatchEvalPython" not in plan
    # the raw payload bytes are consumed at the split — they must not
    # ride into the downstream checkpoint/meta joins
    assert "src_content" not in nf.columns


def test_primary_recrawl_frontier_plan_shape(spark):
    """apps_to_update_primary: the ordered LIMIT compiles to
    TakeOrderedAndProject (distributed top-k, no global sort); no
    CartesianProduct — the country fan-out is the broadcast of a
    curated scenario dim (the J4 precedent), never a shuffled
    nested-loop.  The sibling retention/description ports stay
    cartesian-free too."""
    from adscrawler_spark.plans import benchmarks as B

    plan = _plan(B.QUERIES["apps_to_update_primary"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "NestedLoopJoin" in line:
            assert "Broadcast" in line, line
    for name in ["metrics_retention_batches", "app_descriptions_latest"]:
        p = _plan(B.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "NestedLoopJoin" not in p, name


def test_rake_plan_stays_jvm_and_per_doc(docs):
    """RAKE must be whole-stage JVM (no Python UDF anywhere) and every
    exchange keyed — a global (unpartitioned) window or a cartesian
    would mean the per-document algebra leaked into a corpus-wide
    single-partition step."""
    from adscrawler_spark.functions.rake import rake_topk

    plan = _plan(rake_topk(docs, top_n=5))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan
    # RAKE is document-local algebra: the whole job must be one
    # row-local projection chain — no shuffle of any kind
    assert "Exchange" not in plan


def test_rss_guid_harvest_stays_jvm(spark):
    from adscrawler_spark.operators.discovery import harvest_rss_guids

    feeds = spark.createDataFrame(
        [("f", '<guid isPermaLink="false">a</guid>')],
        "feed string, page_source string",
    )
    plan = _plan(harvest_rss_guids(feeds))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_status_views_broadcast_dims(spark):
    """The status-view dims (category mapping, domains, developers,
    third-party set) must ride broadcast joins — a shuffle join against
    a 40-row dim at 10^8 apps would be a pointless full shuffle — and
    no path may degrade to a cartesian."""
    from adscrawler_spark.plans import status_views as SV

    sa = spark.createDataFrame(
        [(1, 1, 1, "Action"), (2, 2, 1, "News & Magazines")],
        "id int, store int, crawl_result int, category string",
    )
    plan = _plan(SV.mv_app_categories(sa, SV.category_mapping(sa)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    devs = spark.createDataFrame(
        [(1, "d", 1, "x")], "id int, name string, store int, developer_id string"
    )
    aum = spark.createDataFrame([(1, 5)], "store_app int, pub_domain int")
    doms = spark.createDataFrame(
        [(5, "a.com", 7), (7, "root.com", None)],
        "id int, domain_name string, root_domain_id int",
    )
    tp = spark.createDataFrame([(7,)], "domain_id int")
    sa2 = spark.createDataFrame(
        [(1, 1, 1)], "id int, store int, developer int"
    )
    plan2 = _plan(SV.developer_store_apps(sa2, devs, aum, doms, tp))
    assert plan2.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan2


def test_sent_video_match_uses_gram_index(spark):
    """find_sent_videos must generate candidates through the inverted
    5-gram index (linear: explode of source text grams joined against
    the creative's min-gram anchor) with the exact instr() confirm —
    never the old per-run cross term, whose |cr|x|src| instr scans were
    quadratic once capture volume outgrew the fixed run count.  The
    pair-forming join must stay an equi-join (hash/sort-merge), never
    a nested loop, and the plan must contain the gram explode and the
    instr confirm."""
    from pyspark.sql import functions as F

    from adscrawler_spark.operators import creatives as cv

    flows = spark.createDataFrame(
        [(
            "m1", "r1", "com.pub",
            "https://s0.2mdn.net/id/vidABCDE1/f.mp4", "2mdn.net",
            "2024-03-01 00:00:10", 200, "video/mp4", 60000, "text",
            b"X", None, None, None, None,
        )],
        "mitm_uuid string, run_id string, pub_store_id string, "
        "url string, tld_url string, called_at string, "
        "status_code int, response_mime_type string, "
        "response_size_bytes long, response_text string, "
        "response_content binary, query_params string, "
        "response_headers string, post_params string, "
        "request_text string",
    ).withColumn("called_at", F.to_timestamp("called_at"))
    calls = cv.add_is_creative(
        cv.add_file_extension(cv.api_calls_from_flows(flows))
    )
    plan = _plan(cv.find_sent_videos(cv.creative_rows(calls), calls))
    assert "explode" in plan.lower(), plan
    assert "instr" in plan, plan
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan


def test_seen_probe_is_one_jvm_anti_join(spark):
    """The seen-set probe stays one JVM left_anti join: its executed
    plan carries no Python eval, no grouped or co-grouped pandas
    stage and no cached relation, and nothing is handed back for the
    caller to unpersist."""
    from adscrawler_spark.operators import seen as seen_ops

    def urls(lo, hi):
        return seen_ops.with_url_hash64(spark.range(lo, hi).select(
            F.concat(F.lit("host"), F.col("id"), F.lit(".com")).alias("url_canon")))

    seen, frontier = urls(0, 500), urls(250, 900)
    persisted: list = []
    counted = seen_ops.probe_unseen(
        frontier, seen_ops.build_bloom_filters(seen), seen, persisted=persisted
    ).groupBy().count()
    assert counted.collect()[0][0] == 400
    plan = _plan(counted)
    assert "isFinalPlan=true" in plan, plan
    for node in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "InMemoryRelation",
                 "InMemoryTableScan"):
        assert node not in plan, (node, plan)
    assert "LeftAnti" in plan, plan
    assert persisted == []
