"""Frontier-equivalence, byte-identity-on-Spark, resume, politeness, Bloom.

The Spark engine must match the single-process oracle simulator exactly:
URL-seen set, per-round ordered schedule, extracted results (byte-
identical text), and counters (FIXTURES.md §4).
"""

import pytest
from pyspark.sql import functions as F

from siren_spark.crawl import CrawlConfig, run_crawl
from siren_spark.testing.oracle import simulate_crawl
from siren_spark.testing.sitegen import (
    SiteSpec, WINDOW_END, WINDOW_START, build_site,
)
from tests.conftest import pages_df, seeds_df

BUDGET = 7  # small budget so politeness deferral actually kicks in

# narrow mirror's 10..49 seed fan-out (kept faithful by default in sitegen)
# so each crawl converges in ~4 rounds instead of ~12
SPEC = SiteSpec(mirror_seed_range=(10, 19))


@pytest.fixture(scope="module")
def site():
    return build_site(SPEC)


@pytest.fixture(scope="module")
def sim(site):
    return simulate_crawl(
        site.pages, site.seeds, budget_per_host=BUDGET,
        window_start=WINDOW_START, window_end=WINDOW_END,
        keywords=SPEC.keywords,
    )


@pytest.fixture(scope="module")
def engine(spark, site, tmp_path_factory):
    cfg = CrawlConfig(
        budget_per_host=BUDGET, window_start=WINDOW_START,
        window_end=WINDOW_END, keywords=SPEC.keywords,
        use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4, salt_buckets=4,
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return run_crawl(spark, pages_df(spark, site.pages),
                     seeds_df(spark, site.seeds), cfg, ckpt)


@pytest.fixture(scope="module")
def revisit_seeds(site):
    """The site's seeds plus five indiatoday articles that round 1
    rediscovers: the seen probe must read each as maybe-seen. A probe
    that reads seen keys as definitely new fetches them twice — on the
    plain site no frontier holds a URL fetched in an earlier round, so
    such a probe goes unnoticed there."""
    revisits = sorted(p["url"] for p in site.pages if p["url"].startswith(
        "https://indiatoday.example/story/"))
    return site.seeds + [
        {"url": u, "keyword": None, "source": "indiatoday", "meta": {}}
        for u in revisits[:5]]


@pytest.fixture(scope="module")
def revisit_sim(site, revisit_seeds):
    return simulate_crawl(
        site.pages, revisit_seeds, budget_per_host=BUDGET,
        window_start=WINDOW_START, window_end=WINDOW_END,
        keywords=SPEC.keywords,
    )


def _result_key(r):
    return (r["source"], r["url"], r["title"] or "", r["text"], r["gen"])


def _sim_results(sim):
    return sorted(_result_key(r) for r in sim.results)


def _crawl_results(res):
    return sorted(_result_key(r.asDict()) for r in res.results.collect())


def _bloom_cfg(**kw):
    return CrawlConfig(
        budget_per_host=BUDGET, window_start=WINDOW_START,
        window_end=WINDOW_END, keywords=SPEC.keywords,
        use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4, salt_buckets=4,
        **kw)


def test_seen_set_identical(engine, sim):
    got = {r.url_canon for r in engine.seen.collect()}
    assert got == sim.seen


def test_results_byte_identical(engine, sim):
    got = sorted(_result_key(r.asDict()) for r in engine.results.collect())
    exp = sorted(_result_key(r) for r in sim.results)
    assert got == exp


def test_counters_match(engine, sim):
    got = {}
    for r in engine.counters.collect():
        got[(r.gen, r.metric)] = got.get((r.gen, r.metric), 0) + r.n
    exp = {}
    for c in sim.counters:
        exp[(c["gen"], c["metric"])] = exp.get((c["gen"], c["metric"]), 0) + c["n"]
    # compare every metric the sim tracked (engine may emit zero-rows absent)
    for k, v in exp.items():
        assert got.get(k, 0) == v, (k, got.get(k, 0), v)


def test_round_count(engine, sim):
    assert engine.rounds == len(sim.schedule)


def test_politeness_budget_never_exceeded(engine, spark):
    # per (gen, domain): fetched <= BUDGET
    over = (
        engine.counters.filter(F.col("metric") == "fetched")
        .filter(F.col("n") > BUDGET).collect()
    )
    assert over == []


def test_schedule_per_round_matches_oracle(spark, site, sim, tmp_path):
    """Scheduled sets per round are checkpointed as seen deltas — compare
    each round's delta to the oracle's ordered schedule (as a set, plus
    global order determinism via the sorted comparison)."""
    from siren_spark.operators.checkpoint import CheckpointStore
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, salt_buckets=2)
    ckpt = str(tmp_path / "ck")
    run_crawl(spark, pages_df(spark, site.pages), seeds_df(spark, site.seeds),
              cfg, ckpt)
    store = CheckpointStore(ckpt)
    for gen, expected_round in enumerate(sim.schedule):
        delta = (store.read(spark, gen, "frontier_ann")
                 .filter("status = 'scheduled'").collect())
        assert sorted(r.url_canon for r in delta) == sorted(expected_round), gen


def test_resume_equals_uninterrupted(spark, site, revisit_seeds,
                                     revisit_sim, tmp_path):
    """A run killed after round 1 resumes to the oracle's crawl of a
    site whose frontiers hold seen URLs."""
    cfg = _bloom_cfg()
    ckpt = str(tmp_path / "ck2")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(spark, pages_df(spark, site.pages),
                  seeds_df(spark, revisit_seeds), cfg, ckpt,
                  fail_after_round=1)
    resumed = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, revisit_seeds), cfg, ckpt,
                        resume=True)
    assert _crawl_results(resumed) == _sim_results(revisit_sim)
    assert {r.url_canon for r in resumed.seen.collect()} == revisit_sim.seen


def test_bloom_equals_exact(spark, site, revisit_seeds, revisit_sim,
                            tmp_path):
    """Bloom + exact-confirm path produces the same crawl as plain
    anti-join — and both the oracle's — on a site whose frontiers hold
    seen URLs."""
    exact = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                        window_end=WINDOW_END, keywords=SPEC.keywords,
                        use_bloom=False)
    for name, cfg in (("bloom", _bloom_cfg()), ("exact", exact)):
        res = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, revisit_seeds), cfg,
                        str(tmp_path / f"ck3_{name}"))
        assert _crawl_results(res) == _sim_results(revisit_sim), name


def test_robots_gating(spark, site, tmp_path, monkeypatch):
    """block-all domain yields zero fetches; path-prefix rules enforced.

    Also pins (spy) that the compiled matcher is broadcast exactly ONCE
    for the whole run, not re-pickled+re-shipped every round — at
    thousands of rounds a per-round broadcast is pure serial cost."""
    from siren_spark.operators.robots import RobotsMatcher

    robots = spark.createDataFrame(
        [("mirror-city.example", "User-agent: *\nDisallow: /\n")],
        "domain string, rules string",
    )
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, max_rounds=3)
    matcher_broadcasts = []
    real_broadcast = spark.sparkContext.broadcast
    monkeypatch.setattr(
        spark.sparkContext, "broadcast",
        lambda v: (matcher_broadcasts.append(v)
                   if isinstance(v, RobotsMatcher) else None,
                   real_broadcast(v))[1])
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, site.seeds), cfg, str(tmp_path / "ck4"),
                    robots=robots)
    assert len(matcher_broadcasts) == 1
    mirror_fetched = (
        res.counters.filter((F.col("metric") == "fetched")
                            & (F.col("domain") == "mirror-city.example"))
        .agg(F.sum("n")).collect()[0][0]
    )
    assert not mirror_fetched
    blocked = (
        res.counters.filter(F.col("metric") == "robots_blocked")
        .agg(F.sum("n")).collect()[0][0]
    )
    assert blocked and blocked > 0
    assert res.results.filter(F.col("source") == "mirror").count() == 0


def test_robots_broadcast_released_when_run_fails(spark, site, tmp_path,
                                                   monkeypatch):
    """A run that stops with an error (here the simulated kill after
    round 0) must still release the matcher broadcast — otherwise each
    failed run leaves one behind in the session."""
    from pyspark.broadcast import Broadcast

    from siren_spark.operators.robots import RobotsMatcher

    robots = spark.createDataFrame(
        [("mirror-city.example", "User-agent: *\nDisallow: /\n")],
        "domain string, rules string",
    )
    matcher_bcs, released = [], []
    real_broadcast = spark.sparkContext.broadcast
    real_unpersist = Broadcast.unpersist

    def broadcast(v):
        bc = real_broadcast(v)
        if isinstance(v, RobotsMatcher):
            matcher_bcs.append(bc)
        return bc

    def unpersist(self, *a, **k):
        released.append(self)
        return real_unpersist(self, *a, **k)

    monkeypatch.setattr(spark.sparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, max_rounds=3)
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(spark, pages_df(spark, site.pages),
                  seeds_df(spark, site.seeds), cfg, str(tmp_path / "ckf"),
                  robots=robots, fail_after_round=0)
    assert len(matcher_bcs) == 1
    assert any(b is matcher_bcs[0] for b in released)


def test_bloom_broadcasts_released_every_round(spark, site, tmp_path,
                                               monkeypatch):
    """Each round's annotate broadcasts that round's Bloom filter; once
    the annotate table is staged nothing reads it, so every filter
    broadcast of a multi-round default-config crawl must be released —
    otherwise each round leaves one (up to 64 MiB) in the session."""
    from pyspark.broadcast import Broadcast

    from siren_spark.operators.seen import BloomFilter

    bloom_bcs, released = [], []
    real_broadcast = spark.sparkContext.broadcast
    real_unpersist = Broadcast.unpersist

    def broadcast(v):
        bc = real_broadcast(v)
        if isinstance(v, BloomFilter):
            bloom_bcs.append(bc)
        return bc

    def unpersist(self, *a, **k):
        released.append(self)
        return real_unpersist(self, *a, **k)

    monkeypatch.setattr(spark.sparkContext, "broadcast", broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords)
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, site.seeds), cfg, str(tmp_path / "ckb"))
    assert res.rounds >= 3
    assert len(bloom_bcs) >= 2
    assert all(any(r is b for r in released) for b in bloom_bcs)


@pytest.mark.parametrize("field, value", [
    ("fetch_join", "bucket"), ("fetch_join", "broadcast"),
    ("fetch_join", ""), ("budget_per_host", 0), ("salt_buckets", 0),
    ("bloom_buckets", 0), ("bloom_bits", 0), ("bloom_bits", 1001),
])
def test_crawl_config_rejects_out_of_range(field, value):
    """A misspelt fetch_join ('broadcast' is no longer a strategy) or a
    crawl shape no round can run must fail at construction, naming the
    field, before any session work: a zero budget or bucket count, or
    a bitmap size that is not a whole number of bytes."""
    with pytest.raises(ValueError, match=field):
        CrawlConfig(**{field: value})
    for ok in ("auto", "bucketed"):
        assert CrawlConfig(fetch_join=ok).fetch_join == ok


def test_bucketed_bloom_equals_broadcast(spark, site, tmp_path, engine,
                                         revisit_seeds, revisit_sim,
                                         monkeypatch):
    """The bucketed (cogroup) Bloom probe path crawls identically to the
    broadcast path — and its bitmap table is committed/resumable."""
    from siren_spark.operators import seen
    from siren_spark.operators.checkpoint import CheckpointStore
    monkeypatch.setattr(seen, "BLOOM_BROADCAST_MAX_BYTES", 0)

    def crawl(buckets, seeds):
        cfg = CrawlConfig(
            budget_per_host=BUDGET, window_start=WINDOW_START,
            window_end=WINDOW_END, keywords=SPEC.keywords, use_bloom=True,
            bloom_bits=1 << 16, bloom_buckets=buckets, salt_buckets=4,
        )
        ckpt = str(tmp_path / f"ckb{buckets}")
        res = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, seeds), cfg, ckpt)
        store = CheckpointStore(ckpt)
        m = store.manifest(store.latest_gen())
        bm = spark.read.parquet(m["stats"]["bloom_table"])
        assert bm.count() <= buckets           # one row per bucket
        assert set(bm.columns) == {"bucket", "bitmap"}
        return sorted(_result_key(r.asDict()) for r in res.results.collect())

    assert crawl(4, site.seeds) == sorted(
        _result_key(r.asDict()) for r in engine.results.collect())
    # 3 buckets, on the site whose frontiers hold seen URLs: a build
    # and a probe that bucket a key differently read seen URLs as
    # definitely new, and the crawl fetches them twice.
    assert crawl(3, revisit_seeds) == _sim_results(revisit_sim)


def test_ht_headline_dedup(engine, site):
    """A3: at most one HT record per (gen, title) — and the sitegen
    cross-edition duplicate-headline fixture guarantees the dedup
    actually dropped records vs kernel-level output."""
    ht = [r for r in engine.results.collect() if r.source == "ht"]
    per: dict[tuple, int] = {}
    for r in ht:
        per[(r.gen, r.title)] = per.get((r.gen, r.title), 0) + 1
    assert ht and all(v == 1 for v in per.values())
    exp_ht = [e for e in site.expected if e["source"] == "ht"]
    assert len(ht) < len(exp_ht)


def test_robots_cogroup_crawl_equals_broadcast(spark, site, tmp_path,
                                               monkeypatch):
    """The cogroup robots gate produces the identical crawl to the
    broadcast matcher path (same blocked set, same results)."""
    from siren_spark.operators import robots as robots_mod

    robots = spark.createDataFrame(
        [("mirror-city.example", "User-agent: *\nDisallow: /\n")],
        "domain string, rules string",
    )
    outs = []
    # 1 rule row: broadcast under the default bound, cogroup under 0
    for probe, bound in (("broadcast", robots_mod.ROBOTS_BROADCAST_MAX),
                         ("cogroup", 0)):
        monkeypatch.setattr(robots_mod, "ROBOTS_BROADCAST_MAX", bound)
        cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                          window_end=WINDOW_END, keywords=SPEC.keywords,
                          use_bloom=False, max_rounds=3)
        res = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, site.seeds),
                        cfg, str(tmp_path / f"ck_{probe}"), robots=robots)
        outs.append((
            sorted(_result_key(r.asDict()) for r in res.results.collect()),
            sorted((r.gen, r.domain or "", r.metric, r.n)
                   for r in res.counters.collect()),
        ))
    assert outs[0] == outs[1]


def test_scale_paths_combined_equal_defaults(spark, site, tmp_path,
                                             monkeypatch):
    """bucketed Bloom + cogroup robots TOGETHER (the full 10^10
    configuration) crawl identically to the broadcast defaults."""
    from siren_spark.operators import robots as robots_mod
    from siren_spark.operators import seen

    robots = spark.createDataFrame(
        [("mirror-city.example", "User-agent: *\nDisallow: /\n")],
        "domain string, rules string",
    )
    outs = []
    for mode in ("broadcast", "bucketed"):
        if mode == "bucketed":
            monkeypatch.setattr(robots_mod, "ROBOTS_BROADCAST_MAX", 0)
            monkeypatch.setattr(seen, "BLOOM_BROADCAST_MAX_BYTES", 0)
        cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                          window_end=WINDOW_END, keywords=SPEC.keywords,
                          use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4,
                          salt_buckets=4, max_rounds=3)
        res = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, site.seeds),
                        cfg, str(tmp_path / f"ck_{mode}"),
                        robots=robots)
        outs.append(sorted(_result_key(r.asDict())
                           for r in res.results.collect()))
    assert outs[0] == outs[1]


def test_headline_dedup_spans_rounds(spark, tmp_path):
    """A3 cross-round scope: the reference's done-set spans the whole
    scrape() (ht.py:261-268). HT-only crawl with a budget small enough
    that the duplicated-headline detail pages are fetched in DIFFERENT
    rounds: the crawl emits one record per title for the whole run and
    matches the oracle simulator."""
    from siren_spark.operators.checkpoint import CheckpointStore

    site = build_site(SPEC)
    ht_seeds = [s for s in site.seeds if s["source"] == "ht"]
    cfg = CrawlConfig(budget_per_host=3, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, salt_buckets=2)
    ckpt = str(tmp_path / "ck_run")
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, ht_seeds), cfg, ckpt)
    out = [r.asDict() for r in res.results.collect()]
    titles = [r["title"] for r in out]
    assert len(titles) == len(set(titles))
    # the fixture actually exercises the cross-round case: some HT title
    # is extracted (before the headline dedup) in two different gens
    store = CheckpointStore(ckpt)
    by_title: dict[str, set] = {}
    for gen in range(res.rounds):
        for r in (store.read(spark, gen, "extracted")
                  .filter((F.col("kind") == "record")
                          & (F.col("source") == "ht"))
                  .select("title").collect()):
            by_title.setdefault(r.title, set()).add(gen)
    assert any(len(g) > 1 for g in by_title.values())
    # and the engine matches the oracle simulator exactly
    sim2 = simulate_crawl(site.pages, ht_seeds, budget_per_host=3,
                          window_start=WINDOW_START, window_end=WINDOW_END,
                          keywords=SPEC.keywords)
    got = sorted(_result_key(r) for r in out)
    exp = sorted(_result_key(r) for r in sim2.results)
    assert got == exp


def test_headline_dedup_cross_round_survives_resume(spark, tmp_path):
    """The (source, title) done-set is checkpoint state: a run killed
    mid-crawl and resumed must not re-emit titles from committed rounds."""
    site = build_site(SPEC)
    ht_seeds = [s for s in site.seeds if s["source"] == "ht"]
    cfg = CrawlConfig(budget_per_host=3, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, salt_buckets=2)
    ckpt = str(tmp_path / "ck_resume")
    with pytest.raises(RuntimeError):
        run_crawl(spark, pages_df(spark, site.pages),
                  seeds_df(spark, ht_seeds), cfg, ckpt, fail_after_round=1)
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, ht_seeds), cfg, ckpt, resume=True)
    titles = [r.title for r in res.results.collect()]
    assert len(titles) == len(set(titles))


def test_a3_window_scoped_to_dedup_sources(spark):
    """The (source, title) dedup window only ever receives rows of the
    headline-dedup sources: the source filter sits BELOW the window in
    the optimized plan, so mirror/toi/nm records never pay that shuffle
    (round-2 'What's wrong' #1 — the largest avoidable shuffle in the
    results path)."""
    from siren_spark.crawl import _apply_result_filters

    recs = spark.createDataFrame(
        [("mirror", "u1", "t1", None, None, None, "x", None, 0),
         ("ht", "u2", "t1", None, None, None, "y", None, 0)],
        "source string, url string, title string, author string, "
        "location string, published timestamp, text string, extra string, "
        "gen int")
    out = _apply_result_filters(recs, CrawlConfig())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    win = [i for i, ln in enumerate(lines) if "Window" in ln]
    assert win, plan
    # the window's subtree (deeper-indented lines below it) must contain
    # the dedup-source filter before indentation returns to window level
    depth = len(lines[win[0]]) - len(lines[win[0]].lstrip(" :+-"))
    sub = []
    for ln in lines[win[0] + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        sub.append(ln)
    assert any("ht" in ln and "Filter" in ln for ln in sub), plan


def test_round_counters_single_aggregation(spark, tmp_path):
    """A round's counters are one pass over its committed tables: one
    groupBy(domain) (one shuffle, no join) whose rows equal a
    pure-Python count over the same frontier_ann/extracted parquet."""
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    from siren_spark.crawl import _METRIC_OF_STATUS, _round_counters
    from siren_spark.operators.checkpoint import CheckpointStore

    site = build_site(SPEC)
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, max_rounds=1)
    ckpt = str(tmp_path / "ck_counters")
    run_crawl(spark, pages_df(spark, site.pages),
              seeds_df(spark, site.seeds), cfg, ckpt)
    tables = CheckpointStore(ckpt).manifest(0)["tables"]
    out = _round_counters(spark.read.parquet(tables["frontier_ann"]),
                          spark.read.parquet(tables["extracted"]), 0)

    qe = out._jdf.queryExecution()
    nodes = [ln.lstrip(" :+-") for ln in
             qe.optimizedPlan().toString().splitlines()]
    assert sum(n.startswith("Aggregate ") for n in nodes) == 1, nodes
    assert not any(n.startswith("Join ") for n in nodes), nodes
    got = {(r.gen, r.domain, r.metric, r.n) for r in out.collect()}
    # executed (AQE final) plan: count only exchanges that actually ran
    shuffles = re.findall(r"ShuffleQueryStage \d+[^\n]*\n\s*\+- Exchange ",
                          qe.executedPlan().toString())
    assert len(shuffles) == 1, qe.executedPlan().toString()

    exp: Counter = Counter()
    for r in pq.read_table(tables["frontier_ann"],
                           columns=["domain", "status"]).to_pylist():
        exp[(r["domain"], _METRIC_OF_STATUS[r["status"]])] += 1
    pages: Counter = Counter()
    for r in pq.read_table(tables["extracted"],
                           columns=["domain", "kind"]).to_pylist():
        if r["kind"] == "page":
            pages[r["domain"]] += 1
        elif r["kind"] in ("error", "record"):
            exp[(r["domain"], r["kind"] + "s")] += 1
    for (d, m), n in list(exp.items()):
        if m == "fetched" and n > pages[d]:
            exp[(d, "missing")] = n - pages[d]
    assert got == {(0, d, m, n) for (d, m), n in exp.items()}
    assert {"fetched", "records"} <= {m for _, _, m, _ in got}


def test_resume_refuses_checkpoint_without_source_lists(spark, tmp_path,
                                                         monkeypatch):
    """A manifest without its incremental source lists (an older
    checkpoint format) is refused on resume with an error naming the
    key, before any table is staged — never silently re-read from
    every earlier round."""
    import dataclasses
    import json

    from siren_spark.operators.checkpoint import CheckpointStore

    site = build_site(SPEC)
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, max_rounds=1)
    ckpt = str(tmp_path / "ck_old")
    run_crawl(spark, pages_df(spark, site.pages),
              seeds_df(spark, site.seeds), cfg, ckpt)
    mp = CheckpointStore(ckpt)._manifest_path(0)
    with open(mp) as f:
        committed = json.load(f)

    def no_staging(*a, **k):
        raise AssertionError("a table was staged")

    monkeypatch.setattr(CheckpointStore, "stage_table", no_staging)
    for key in ("seen_sources", "hl_seen_sources"):
        m = json.loads(json.dumps(committed))
        del m["stats"][key]
        with open(mp, "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match=f"'{key}'"):
            run_crawl(spark, pages_df(spark, site.pages),
                      seeds_df(spark, site.seeds),
                      dataclasses.replace(cfg, max_rounds=3), ckpt,
                      resume=True)


def test_robots_auto_switches_to_cogroup(spark, site, tmp_path, monkeypatch):
    """The robots gate must not collect a rules table above the
    broadcast threshold: no RobotsMatcher is broadcast (the cogroup
    builds one per domain group inside its tasks instead); the cogroup
    gate produces the same blocked set."""
    from siren_spark.operators import robots as robots_mod

    real_broadcast = spark.sparkContext.broadcast

    def broadcast(value):
        if isinstance(value, robots_mod.RobotsMatcher):
            raise AssertionError("broadcast matcher built for a large table")
        return real_broadcast(value)

    monkeypatch.setattr(spark.sparkContext, "broadcast", broadcast)
    monkeypatch.setattr(robots_mod, "ROBOTS_BROADCAST_MAX", 2)
    robots = spark.createDataFrame(
        [("mirror-city.example", "User-agent: *\nDisallow: /\n"),
         ("a.example", ""), ("b.example", ""), ("c.example", "")],
        "domain string, rules string")
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, max_rounds=2)   # 4 rows > 2 -> cogroup
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, site.seeds), cfg,
                    str(tmp_path / "ck_auto"), robots=robots)
    blocked = res.counters.filter(
        (F.col("metric") == "robots_blocked") & (F.col("n") > 0)).collect()
    assert blocked and all(r.domain == "mirror-city.example" for r in blocked)


def test_bucketed_pipeline_resume_equals_uninterrupted(
        spark, site, revisit_seeds, revisit_sim, tmp_path, monkeypatch):
    """Round pipelining stays effective in bucketed-bloom mode (the
    10^10-scale configuration): the round's bitmap table is staged in
    the overlap window and next round's annotate reads it pre-commit. A
    kill mid-run must still resume to the oracle's result set on a site
    whose frontiers hold seen URLs — the next round's staged gen dir is
    uncommitted and rebuilt."""
    from siren_spark.operators import seen
    monkeypatch.setattr(seen, "BLOOM_BROADCAST_MAX_BYTES", 0)
    cfg = _bloom_cfg()
    ckpt = str(tmp_path / "ckbp")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(spark, pages_df(spark, site.pages),
                  seeds_df(spark, revisit_seeds), cfg, ckpt,
                  fail_after_round=1)
    resumed = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, revisit_seeds), cfg, ckpt,
                        resume=True)
    assert _crawl_results(resumed) == _sim_results(revisit_sim)
    assert {r.url_canon for r in resumed.seen.collect()} == revisit_sim.seen


def test_bucketed_resume_with_another_bloom_shape(spark, site, engine,
                                                 tmp_path, monkeypatch):
    """The committed bitmap table is probed with the run's shape, so a
    resume with other bloom bits or buckets must not read it: a table of
    another shape crashes the OR-reduce (bits) or answers 'definitely
    new' for seen keys (buckets). Resume rebuilds the filter instead and
    crawls identically to the uninterrupted run."""
    import dataclasses
    import shutil

    from siren_spark.operators import seen
    monkeypatch.setattr(seen, "BLOOM_BROADCAST_MAX_BYTES", 0)
    cfg = CrawlConfig(
        budget_per_host=BUDGET, window_start=WINDOW_START,
        window_end=WINDOW_END, keywords=SPEC.keywords,
        use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4, salt_buckets=4,
    )
    killed = str(tmp_path / "ck_killed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(spark, pages_df(spark, site.pages),
                  seeds_df(spark, site.seeds), cfg, killed,
                  fail_after_round=1)
    b = sorted(_result_key(r.asDict()) for r in engine.results.collect())
    sb = {r.url_canon for r in engine.seen.collect()}
    for name, shape in (("bits", {"bloom_bits": 1 << 12}),
                        ("buckets", {"bloom_buckets": 2})):
        ckpt = str(tmp_path / f"ck_{name}")
        shutil.copytree(killed, ckpt)
        resumed = run_crawl(spark, pages_df(spark, site.pages),
                            seeds_df(spark, site.seeds),
                            dataclasses.replace(cfg, **shape), ckpt,
                            resume=True)
        a = sorted(_result_key(r.asDict()) for r in resumed.results.collect())
        assert a == b, name
        assert {r.url_canon for r in resumed.seen.collect()} == sb, name


def test_completed_crawl_leaves_clean_checkpoint(spark, site, tmp_path):
    """A completed run must leave no uncommitted gen dir behind: no
    annotate is submitted once the observations prove the next frontier
    empty, and every one that is submitted is consumed and committed."""
    import os

    cfg = CrawlConfig(
        budget_per_host=BUDGET, window_start=WINDOW_START,
        window_end=WINDOW_END, keywords=SPEC.keywords,
        use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4, salt_buckets=4,
    )
    ckpt = str(tmp_path / "ckclean")
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, site.seeds), cfg, ckpt)
    committed = {f"gen={g}" for g in range(res.rounds)}
    on_disk = {d for d in os.listdir(ckpt) if d.startswith("gen=")}
    assert on_disk == committed


def test_annotate_failure_surfaces(spark, site, sim, tmp_path, monkeypatch):
    """A failing annotate raises from run_crawl — it is not swallowed and
    re-run — and a resume after the failure crawls like an
    uninterrupted run."""
    from siren_spark import crawl

    calls = []
    real = crawl._annotate_round

    def flaky(*a, **k):
        calls.append(1)
        if len(calls) == 2:                     # round 1's annotate
            raise RuntimeError("injected annotate failure")
        return real(*a, **k)

    monkeypatch.setattr(crawl, "_annotate_round", flaky)
    cfg = _bloom_cfg()
    ckpt = str(tmp_path / "ck_fail")
    with pytest.raises(RuntimeError, match="injected annotate failure"):
        run_crawl(spark, pages_df(spark, site.pages),
                  seeds_df(spark, site.seeds), cfg, ckpt)
    assert len(calls) == 2
    resumed = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, site.seeds), cfg, ckpt, resume=True)
    assert _crawl_results(resumed) == _sim_results(sim)
    assert {r.url_canon for r in resumed.seen.collect()} == sim.seen


def test_one_filter_update_per_round(spark, site, sim, tmp_path,
                                     monkeypatch):
    """Each round builds its Bloom delta and merges it once, and the last
    round — whose filter no round reads — skips the update: in bucketed
    mode its manifest carries no bitmap table, and a resume rebuilds
    the filter from the seen set."""
    from siren_spark import crawl
    from siren_spark.operators import seen
    from siren_spark.operators.checkpoint import CheckpointStore

    calls = {"build_bloom": 0, "merge_blooms": 0}
    for name in calls:
        def spy(*a, _real=getattr(crawl, name), _name=name, **k):
            calls[_name] += 1
            return _real(*a, **k)
        monkeypatch.setattr(crawl, name, spy)

    def _run(cfg, ckpt, **kw):
        for name in calls:
            calls[name] = 0
        return run_crawl(spark, pages_df(spark, site.pages),
                         seeds_df(spark, site.seeds), cfg,
                         str(tmp_path / ckpt), **kw)

    _run(_bloom_cfg(max_rounds=2), "ck_two")
    assert calls["build_bloom"] == 1 and calls["merge_blooms"] <= 1
    # ends on an empty frontier
    res = _run(_bloom_cfg(), "ck_all")
    assert res.rounds < 30
    assert calls["build_bloom"] <= res.rounds
    assert calls["merge_blooms"] <= res.rounds

    monkeypatch.setattr(seen, "BLOOM_BROADCAST_MAX_BYTES", 0)
    _run(_bloom_cfg(max_rounds=2), "ck_bucketed")
    store = CheckpointStore(str(tmp_path / "ck_bucketed"))
    assert store.latest_gen() == 1
    assert "bloom_table" in store.manifest(0)["stats"]
    assert "bloom_table" not in store.manifest(1)["stats"]
    resumed = _run(_bloom_cfg(), "ck_bucketed", resume=True)
    assert _crawl_results(resumed) == _sim_results(sim)
    assert {r.url_canon for r in resumed.seen.collect()} == sim.seen


def test_debug_invariants_catch_domain_corruption(spark, site, engine,
                                                  tmp_path):
    """cfg.debug_invariants pins domain == f(url_canon) — the invariant
    the fused (domain, __salt) dup window relies on. A clean crawl
    passes with the checks on; a corrupted frontier row fails loud
    instead of silently double-scheduling the URL."""
    from siren_spark.crawl import _annotate_round

    cfg = CrawlConfig(
        budget_per_host=BUDGET, window_start=WINDOW_START,
        window_end=WINDOW_END, keywords=SPEC.keywords,
        use_bloom=False, debug_invariants=True, max_rounds=2,
    )
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, site.seeds), cfg,
                    str(tmp_path / "ckdbg"))
    assert res.rounds >= 1   # checks on, crawl still runs

    bad = spark.createDataFrame(
        [("https://A.example/x", "https://a.example/x", "WRONG.example",
          1.0, 0, None, {})],
        "url string, url_canon string, domain string, priority double, "
        "depth int, via string, meta map<string,string>")
    # the corrupted row fails loud — either at plan time (the politeness
    # rank stats action inside _annotate_round) or at the first count
    with pytest.raises(Exception, match=r"domain != f\(url_canon\)"):
        _annotate_round(bad, cfg=cfg, bloom=None, seen_exact=None).count()


def test_politeness_rank_strategies_equivalent(spark, monkeypatch):
    """The two ranking tiers of the politeness operator — key-threshold
    broadcast (realistic budgets) and the at-scale distributed exact
    rank — must flag identical rows on a skewed frontier (one domain far
    over budget, several at the margin, cold tail, ineligible rows that
    must neither be scheduled nor consume budget). The cutover is a
    physical choice only; the scheduled set is defined by the same
    strict total order (domain, priority desc, url_canon)."""
    from siren_spark.operators import politeness

    rows = []
    # hot domain: 400 urls with colliding priorities (rank ties broken
    # by url_canon alone)
    for i in range(400):
        rows.append((f"https://hot.example/a/{i:04d}", "hot.example",
                     float(i % 7), True))
    # ineligible hot rows that would otherwise win every slot
    for i in range(20):
        rows.append((f"https://hot.example/b/{i:04d}", "hot.example",
                     99.0, False))
    # marginal domains: just over budget
    for d in range(5):
        for i in range(30):
            rows.append((f"https://m{d}.example/p/{i:03d}", f"m{d}.example",
                         1.0, True))
    # cold tail
    for i in range(50):
        rows.append((f"https://c{i}.example/only", f"c{i}.example", 1.0,
                     True))
    fr = (spark.createDataFrame(
        rows, "url_canon string, domain string, priority double, "
              "__eligible boolean")
          .withColumn("__salt", F.pmod(F.xxhash64("url_canon"), F.lit(16))))

    def flags(keys_max):
        monkeypatch.setattr(politeness, "THRESHOLD_KEYS_MAX", keys_max)
        caches: list = []
        out = politeness.politeness_flag(
            fr, budget_per_host=25, salt_buckets=16,
            frontier_rows=len(rows), cache_registry=caches)
        try:
            return {(r.url_canon, r["__sched"]) for r in out.collect()}
        finally:
            for c in caches:
                c.unpersist()

    threshold = flags(1 << 22)     # 16 * 25 keys fit: threshold tier
    distributed = flags(0)         # force the range-partition rank
    assert threshold == distributed
    assert len(threshold) == len(rows)
    sched = {u for u, s in threshold if s}
    assert sum(u.startswith("https://hot.") for u in sched) == 25
    # within the hot domain the kept set is the exact top-25 of the
    # total order over eligible rows: priority desc, then url_canon asc
    want = sorted((f"https://hot.example/a/{i:04d}" for i in range(400)),
                  key=lambda u: (-(int(u[-4:]) % 7), u))[:25]
    assert {u for u in sched if u.startswith("https://hot.")} == set(want)
    # marginal domains keep their first 25 urls, the cold tail all
    for d in range(5):
        assert {u for u in sched if u.startswith(f"https://m{d}.")} == {
            f"https://m{d}.example/p/{i:03d}" for i in range(25)}
    assert sum(u.startswith("https://c") for u in sched) == 50


def test_seen_split_confirm_equals_broadcast_confirm(spark, monkeypatch):
    """Every seen filter (none, a driver-side BloomFilter, its (bucket,
    bitmap) table) feeds the same exact confirm. Above
    BROADCAST_FETCH_MAX the confirm splits the frontier into
    definite-new and candidate rows and sort-merge-joins the candidates
    against the seen set; under it the candidate keys broadcast into
    the seen scan. Both must give every URL the status a pure-Python
    walk of the same frontier gives."""
    import siren_spark.crawl as crawl_mod
    from siren_spark.crawl import _annotate_round, _seeds_to_frontier
    from siren_spark.operators.seen import (
        build_bloom, build_bloom_partials, or_reduce_bitmaps,
    )
    from siren_spark.urls import canonicalize_url, registrable_domain

    urls = [f"https://d{i % 7}.example/p/{i}" for i in range(500)]
    seeds = spark.createDataFrame([(u,) for u in urls], "url string")
    fr = _seeds_to_frontier(seeds)
    seen_urls = {canonicalize_url(u) for u in urls[::3]}
    seen = spark.createDataFrame([(u,) for u in sorted(seen_urls)],
                                 "url_canon string")
    shape = dict(bits_per_bucket=1 << 14, buckets=4)
    filters = {
        "none": None,
        "driver": build_bloom(seen, "url_canon", **shape),
        "table": or_reduce_bitmaps(
            build_bloom_partials(seen, "url_canon", **shape)),
    }

    # pure Python: seen keys are deduped; each domain schedules its
    # first 20 unseen url_canons (equal priorities), defers the rest
    want, per_domain = {}, {}
    for c in sorted(canonicalize_url(u) for u in urls):
        if c in seen_urls:
            want[c] = "deduped"
            continue
        d = registrable_domain(c)
        per_domain[d] = per_domain.get(d, 0) + 1
        want[c] = "scheduled" if per_domain[d] <= 20 else "deferred"

    default_max = crawl_mod.BROADCAST_FETCH_MAX

    def statuses(bloom, fetch_max):
        monkeypatch.setattr(crawl_mod, "BROADCAST_FETCH_MAX", fetch_max)
        cfg = CrawlConfig(budget_per_host=20, bloom_bits=1 << 14,
                          bloom_buckets=4)
        caches: list = []
        ann = _annotate_round(fr, cfg=cfg, bloom=bloom, seen_exact=seen,
                              cache_registry=caches, frontier_rows=500)
        try:
            return {(r.url_canon, r.status) for r in ann.collect()}, caches
        finally:
            for c in caches:
                c.unpersist()

    for name, bloom in filters.items():
        split, split_caches = statuses(bloom, 0)
        bcast, bcast_caches = statuses(bloom, default_max)
        assert split == bcast == set(want.items()), name
        # the split path really ran: it caches the re-unioned frame too
        assert len(split_caches) == len(bcast_caches) + 1, name
    by = {s: sum(1 for x in want.values() if x == s)
          for s in ("deduped", "scheduled", "deferred")}
    assert by == {"deduped": 167, "scheduled": 140, "deferred": 193}


def test_frontier_reconstruction(spark, tmp_path):
    """There is no per-round frontier table: _next_frontier rebuilds
    the next frontier from the committed extracted + frontier_ann
    tables, as resume does."""
    from siren_spark.crawl import _next_frontier
    from siren_spark.operators.checkpoint import CheckpointStore

    site = build_site(SPEC)
    cfg = CrawlConfig(budget_per_host=BUDGET, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=SPEC.keywords,
                      use_bloom=False, max_rounds=2)
    ckpt = str(tmp_path / "ck_frontier")
    run_crawl(spark, pages_df(spark, site.pages),
              seeds_df(spark, site.seeds), cfg, ckpt)
    store = CheckpointStore(ckpt)
    m0 = store.manifest(0)
    assert "frontier" not in m0["tables"]
    ex = store.read(spark, 0, "extracted")
    ann = store.read(spark, 0, "frontier_ann")
    rebuilt = _next_frontier(ex, ann, 0)
    # reconstruction must equal the round-1 annotate's input: every
    # link of round 0 plus its deferred rows, with the loop's
    # deterministic priority/depth
    n_links = ex.filter("kind = 'link'").count()
    n_def = ann.filter("status = 'deferred'").count()
    assert rebuilt.count() == n_links + n_def > 0
    # link rows (depth = gen+1 = 1) carry the loop's deterministic
    # priority; deferred rows keep their original one
    link_prios = set(rebuilt.filter("depth = 1").select("priority")
                     .distinct().toPandas()["priority"])
    assert link_prios == {round(1.0 / 2, 6)} or n_links == 0
