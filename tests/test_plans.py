"""Physical-plan assertions: pushdown, pruning, join strategy.

Guards the properties that matter at 100 TB: predicate pushdown reaches
the parquet scan, scans are column-pruned, small-side joins broadcast,
and the crawl's fetch join never shuffles the pages side.
"""

import contextlib
import io
import re

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_date_filter_pushed_to_scan(spark):
    p = _plan(entrymod.queries()["p1_date_window_filter"](spark, SF))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any("o_orderdate" in f for f in pushed), p


def test_scan_column_pruned(spark):
    p = _plan(entrymod.queries()["q1_pricing_summary"](spark, SF))
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = {c.split(":")[0] for c in schema.split(",")}
    # 6 of lineitem's 11 columns — unused columns never leave the scan
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_returnflag", "l_shipdate"} <= cols


def test_small_dim_join_broadcasts(spark):
    p = _plan(entrymod.queries()["j1_enrichment_join"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_crawl_fetch_join_broadcasts_and_pages_never_shuffle(spark):
    from pyspark.sql import functions as F
    from siren_spark.crawl import prepare_pages
    from siren_spark.testing.sitegen import SiteSpec, build_site
    from tests.conftest import pages_df
    site = build_site(SiteSpec(mirror_seed_range=(10, 12)))
    pages_p = prepare_pages(pages_df(spark, site.pages))
    sched = spark.createDataFrame(
        [(p["url"], p["url"], None) for p in site.pages[:5]],
        "url string, url_canon string, meta map<string,string>")
    joined = pages_p.join(F.broadcast(sched), "url_canon", "inner")
    p = _plan(joined)
    assert "BroadcastHashJoin" in p
    # the pages scan side must reach the join without an Exchange
    # (no shuffle of html at any scale)
    scan_side = p.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in scan_side, p


def test_similarity_plans_never_cross_join(spark):
    """Every similarity operator must block (equi-join) — a cartesian
    or nested-loop join anywhere means the op silently degraded to
    all-pairs and would never survive corpus scale."""
    from siren_spark.functions.similarity import (
        ann_lsh_topk, duplicate_span_stats, embedding_near_dups,
        minhash_lsh_pairs, simhash_near_dups,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plans = {
        "minhash": _plan(minhash_lsh_pairs(docs)),
        "dup_spans": _plan(duplicate_span_stats(docs)),
        "simhash_nd": _plan(simhash_near_dups(docs)),
        "emb_nd": _plan(embedding_near_dups(emb)),
        "ann_topk": _plan(ann_lsh_topk(
            emb, query_filter=F.col("vec_id") < 5)),
    }
    from siren_spark.functions.graph import detect_mirror_hosts
    from siren_spark.functions.text import winnow_candidate_pairs
    hosted = docs.select(
        (F.col("doc_id") % 40).cast("string").alias("host"), "text")
    plans["mirror_hosts"] = _plan(detect_mirror_hosts(hosted))
    plans["winnow_pairs"] = _plan(winnow_candidate_pairs(docs, k=24, w=8))
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_text_ops_column_pruned_scan(spark):
    """Text analysis reads only the columns it uses from the scan."""
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_token_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_token_counts(docs).select("doc_id", "n_tokens")
    p = _plan(out)
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = {c.split(":")[0] for c in schema.split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_bucketed_bloom_or_reduce_shuffles_bitmaps_not_urls(spark):
    """or_reduce_bitmaps's shuffle carries (bucket, bitmap) rows only —
    url columns never reach the exchange above the partial build."""
    from siren_spark.operators.seen import (
        build_bloom_partials, or_reduce_bitmaps,
    )
    seen = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(50)],
        "url_canon string")
    reduced = or_reduce_bitmaps(
        build_bloom_partials(seen, "url_canon",
                             bits_per_bucket=1 << 12, buckets=4))
    p = _plan(reduced)
    tail = p.split("MapInArrow")[-1] if "MapInArrow" in p else p
    assert "url_canon" not in tail, p


def test_annotate_single_full_frontier_exchange(spark, monkeypatch):
    """The round-4 annotate restructure (fused dup window + inverted
    broadcast seen-confirm + politeness split-union) must keep exactly
    ONE full-frontier shuffle in the executed plan:

    - the only full-frontier (domain, __salt) exchange is the one
      inside the cached subtree; the hot-domain sliver may re-exchange
      once for the phase-1 politeness window, and the round-5
      distributed rank adds a range exchange over phase-1 SURVIVORS
      only — never a third (domain, __salt) shuffle;
    - the seen set is never sort-merge-joined in broadcast-confirm mode
      (it streams into a broadcast-semi probe) — no SortMergeJoin
      anywhere.

    The annotate is fully lazy (a driver action inside it would
    serialize the prestaged annotate into synchronized jobs — measured
    0.48 commit-window efficiency), so the test executes it once and
    then reads the final adaptive plan. AQE prints each cache's plan
    as "Final Plan" PLUS a never-executed "Initial Plan" copy whose
    exchanges carry fresh plan_ids — count only exchanges under a
    ShuffleQueryStage (the nodes that actually ran).
    """
    import re

    from pyspark.sql import functions as F

    from siren_spark.crawl import (
        CrawlConfig, _annotate_round, _seeds_to_frontier,
    )
    from siren_spark.operators import politeness
    from siren_spark.operators.seen import build_bloom

    seeds = spark.createDataFrame(
        [(f"https://d{i % 7}.example/p/{i}",) for i in range(500)],
        "url string")
    fr = _seeds_to_frontier(seeds)
    seen = (spark.createDataFrame(
        [(f"https://d{i % 7}.example/p/{i}",) for i in range(0, 500, 3)],
        "url string").select(F.col("url").alias("url_canon")))
    bloom = build_bloom(seen, "url_canon",
                        bits_per_bucket=1 << 14, buckets=4)
    # budget 20 < ~47 post-seen eligible rows per domain, so every
    # domain is hot and the sliver path (w1 + distributed rank) really
    # executes — at budget 50 AQE proves the sliver empty and the pin
    # would not cover it; a zero key cap skips the key-threshold tier
    # (pinned by test_annotate_threshold_tier_plan), forcing the
    # at-scale range-partition rank
    monkeypatch.setattr(politeness, "THRESHOLD_KEYS_MAX", 0)
    cfg = CrawlConfig(budget_per_host=20, use_bloom=True)
    caches: list = []
    ann = _annotate_round(fr, cfg=cfg, bloom=bloom, seen_exact=seen,
                          cache_registry=caches, frontier_rows=500)
    try:
        ann.collect()   # execute so AQE finalizes + caches materialize
        plan = ann._jdf.queryExecution().executedPlan().toString()
    finally:
        for c in caches:
            c.unpersist()
    assert "SortMergeJoin" not in plan, plan
    # executed (domain, __salt) exchanges: 1 in the cache build + 1 on
    # the hot-domain sliver (phase-1 window) — never a third
    ex = re.findall(
        r"ShuffleQueryStage \d+[^\n]*\n\s*\+- Exchange hashpartitioning"
        r"\(domain#\d+, __salt#\d+L?, \d+\), [A-Z_]+, \[plan_id=(\d+)\]",
        plan)
    assert 1 <= len(set(ex)) <= 2, plan
    # the distributed politeness rank range-partitions the phase-1
    # survivors (sliver subset) — it must run, and only once
    rng = re.findall(
        r"ShuffleQueryStage \d+[^\n]*\n\s*\+- Exchange rangepartitioning"
        r"\(domain#\d+ [^)]*\), [A-Z_]+, \[plan_id=(\d+)\]", plan)
    assert len(set(rng)) == 1, plan
    # and the frontier is cached exactly once (one InMemoryRelation id):
    # every downstream consumer (confirm sliver, hot count, cold branch,
    # hot branch) reads the cache, so the scan+gate+window runs once
    assert "InMemoryRelation" in plan
    assert "InMemoryTableScan" in plan


def test_annotate_threshold_tier_plan(spark):
    """The key-threshold politeness tier (realistic budgets — the
    round-5 default for binding rounds) must add NO heavyweight
    physical machinery to the annotate plan: no range-sampling
    exchange, no sort-merge join, no second cache — the only extra
    work is the key-only threshold aggregate whose one-row-per-domain
    result broadcasts back. Executed-plan pin, same protocol as
    test_annotate_single_full_frontier_exchange."""
    import re

    from pyspark.sql import functions as F

    from siren_spark.crawl import (
        CrawlConfig, _annotate_round, _seeds_to_frontier,
    )
    from siren_spark.operators.seen import build_bloom

    seeds = spark.createDataFrame(
        [(f"https://d{i % 7}.example/p/{i}",) for i in range(500)],
        "url string")
    fr = _seeds_to_frontier(seeds)
    seen = (spark.createDataFrame(
        [(f"https://d{i % 7}.example/p/{i}",) for i in range(0, 500, 3)],
        "url string").select(F.col("url").alias("url_canon")))
    bloom = build_bloom(seen, "url_canon",
                        bits_per_bucket=1 << 14, buckets=4)
    cfg = CrawlConfig(budget_per_host=20, use_bloom=True)
    caches: list = []
    ann = _annotate_round(fr, cfg=cfg, bloom=bloom, seen_exact=seen,
                          cache_registry=caches, frontier_rows=500)
    try:
        ann.collect()
        plan = ann._jdf.queryExecution().executedPlan().toString()
    finally:
        for c in caches:
            c.unpersist()
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    # (domain, __salt) exchanges: the cached frontier build + the
    # key-only threshold aggregate's shuffle — never a full-width third
    ex = re.findall(
        r"ShuffleQueryStage \d+[^\n]*\n\s*\+- Exchange hashpartitioning"
        r"\(domain#\d+, __salt#\d+L?, \d+\), [A-Z_]+, \[plan_id=(\d+)\]",
        plan)
    assert 1 <= len(set(ex)) <= 2, plan
    # exactly the one upstream frontier cache — the threshold tier
    # itself persists nothing (the range tier registers two more)
    assert len(caches) == 1, [str(c) for c in caches]
    # the per-domain threshold comes back as a broadcast hash join
    assert "BroadcastHashJoin" in plan, plan


def test_annotate_without_bloom_runs_the_fused_dup_window(spark):
    """A crawl with no Bloom filter runs the same seen plan as one with
    a filter: every key is a maybe, the dup window partitions by
    (domain, __salt) like the politeness windows, and the exact confirm
    broadcasts the frontier keys into the seen scan (no sort-merge
    join). Executed-plan pin, same protocol as
    test_annotate_single_full_frontier_exchange."""
    import re

    from pyspark.sql import functions as F

    from siren_spark.crawl import (
        CrawlConfig, _annotate_round, _seeds_to_frontier,
    )

    seeds = spark.createDataFrame(
        [(f"https://d{i % 7}.example/p/{i}",) for i in range(500)],
        "url string")
    fr = _seeds_to_frontier(seeds)
    seen = (spark.createDataFrame(
        [(f"https://d{i % 7}.example/p/{i}",) for i in range(0, 500, 3)],
        "url string").select(F.col("url").alias("url_canon")))
    cfg = CrawlConfig(budget_per_host=20, use_bloom=False)
    caches: list = []
    ann = _annotate_round(fr, cfg=cfg, bloom=None, seen_exact=seen,
                          cache_registry=caches, frontier_rows=500)
    try:
        ann.collect()
        plan = ann._jdf.queryExecution().executedPlan().toString()
    finally:
        for c in caches:
            c.unpersist()
    # the dup window: lag(url_canon) partitioned by (domain, __salt)
    dup_parts = re.findall(
        r"Window \[lag\(url_canon#\d+, -1, null\) windowspecdefinition"
        r"\((\w+)#\d+L?, (\w+)#\d+L?, url_canon#\d+ ASC", plan)
    assert dup_parts and set(dup_parts) == {("domain", "__salt")}, plan
    ex = re.findall(
        r"ShuffleQueryStage \d+[^\n]*\n\s*\+- Exchange hashpartitioning"
        r"\(domain#\d+, __salt#\d+L?, \d+\)", plan)
    assert ex, plan
    assert "SortMergeJoin" not in plan, plan


def test_crawl_gate_is_self_checking(spark):
    """The crawl_end_to_end gate output embeds the oracle simulator's
    expected row digest next to the engine's (distributively computed)
    actual digest — the driver's rows-only record therefore pins
    content. Equality here IS the e2e frontier-equivalence claim."""
    df = entrymod.queries()["crawl_end_to_end"](spark, SF)
    row = df.select("self_check_expected", "self_check_actual",
                    "self_check_ok").distinct().collect()
    assert len(row) == 1
    assert row[0].self_check_ok
    assert row[0].self_check_expected == row[0].self_check_actual


def test_round5_ops_plan_shape(spark):
    """inverted_index and length_quantiles each shuffle exactly once
    (the promised single groupBy exchange); edit_distance_verify never
    degrades to a cartesian/nested-loop join."""
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import (inverted_index,
                                                length_quantiles)
    from siren_spark.functions.similarity import edit_distance_verify

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    for name, df in (("inverted_index", inverted_index(docs,
                                                       max_df=None)),
                     ("length_quantiles", length_quantiles(docs))):
        p = _plan(df)
        # explain("formatted") splits the node name and its arguments:
        # "(5) Exchange" / "Arguments: hashpartitioning(...)"
        n_ex = len(re.findall(r"\(\d+\) Exchange", p))
        assert n_ex == 1, (name, n_ex, p)
        assert "CartesianProduct" not in p, name

    # default skew guard (max_df=0.5 corpus fraction): the threshold
    # rides in as a broadcast one-row count — the postings groupBy is
    # still the only hashpartitioning exchange (the extra exchange is
    # the count's SinglePartition gather), and the corpus is never
    # cartesian-joined
    p = _plan(inverted_index(docs))
    hash_ex = len(re.findall(r"hashpartitioning", p))
    assert hash_ex == 1, (hash_ex, p)
    assert "CartesianProduct" not in p, p

    pairs = docs.select(F.col("doc_id").alias("doc_a"),
                        (F.col("doc_id") + 1).alias("doc_b"))
    p = _plan(edit_distance_verify(docs, pairs))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the Levenshtein math stays in whole-stage codegen (no Python)
    assert "levenshtein" in p and "PythonUDF" not in p, p


def test_gate_views_reregister_after_drop(spark):
    """The temp-view memo must not outlive the views it vouches for: a
    gate query re-registers a view dropped since the last call."""
    q = entrymod.queries()["politeness_topk_per_host"]
    n = q(spark, SF).count()
    spark.catalog.dropTempView("customer")
    assert q(spark, SF).count() == n
