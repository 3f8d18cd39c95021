"""Checkpoint commit-protocol edge cases (operators/checkpoint.py)."""

import json
import os

from siren_spark.operators.checkpoint import CheckpointStore


def _df(spark, n=3):
    return spark.range(n).selectExpr("id", "cast(id as string) as s")


def _commit(store, spark, gen, tables, stats=None):
    """Stage each ``name -> row count`` table of round ``gen``, then
    commit the staged paths."""
    store.write_round(gen, {name: store.stage_table(gen, name, _df(spark, n))
                            for name, n in tables.items()}, stats=stats)


def test_commit_then_read(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    _commit(store, spark, 0, {"t": 3}, stats={"x": 1})
    assert store.latest_gen() == 0
    assert store.manifest(0)["stats"] == {"x": 1}
    assert store.read(spark, 0, "t").count() == 3


def test_uncommitted_gen_invisible_and_cleaned(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    _commit(store, spark, 0, {"t": 3})
    # simulate a kill: staged table for gen 1 but no manifest
    store.stage_table(1, "t", _df(spark, 5))
    assert store.latest_gen() == 0            # uncommitted -> invisible
    # a new store (restart) must clear the stale dir before re-staging
    store2 = CheckpointStore(str(tmp_path))
    p = store2.stage_table(1, "other", _df(spark, 2))
    gd = os.path.dirname(p)
    assert sorted(os.listdir(gd)) == ["other"]  # stale 't' wiped
    store2.write_round(1, {"other": p})
    assert store2.latest_gen() == 1
    assert store2.read(spark, 1, "other").count() == 2


def test_restage_same_run_keeps_earlier_tables(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    pa = store.stage_table(0, "a", _df(spark, 1))
    pb = store.stage_table(0, "b", _df(spark, 2))  # must NOT wipe 'a'
    store.write_round(0, {"a": pa, "b": pb})
    assert store.read(spark, 0, "a").count() == 1
    assert store.read(spark, 0, "b").count() == 2


def test_manifest_commit_is_atomic_rename(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    _commit(store, spark, 0, {"t": 3})
    mdir = os.path.join(str(tmp_path), "_manifests")
    assert os.listdir(mdir) == ["0.json"]     # no .tmp leftovers
    with open(os.path.join(mdir, "0.json")) as f:
        m = json.load(f)
    assert m["gen"] == 0 and "t" in m["tables"]


def test_read_all_unions_rounds(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    _commit(store, spark, 0, {"r": 2})
    _commit(store, spark, 1, {"r": 3})
    assert store.read_all(spark, "r").count() == 5
    assert store.read(spark, 0, "r").count() == 2
    assert store.read_all(spark, "absent") is None


def test_seen_sources_compaction_bounds_inputs(spark, tmp_path):
    """Seen-set reconstruction must read O(1) tables per round, not
    O(rounds): with seen_compact_every=2 the recorded source list never
    exceeds 3 entries, and the final seen set still equals the union of
    every round's scheduled urls (the exact semantics)."""
    from pyspark.sql import functions as F

    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.operators.checkpoint import CheckpointStore
    from siren_spark.testing.sitegen import (
        SiteSpec, WINDOW_END, WINDOW_START, build_site,
    )
    from tests.conftest import pages_df, seeds_df

    spec = SiteSpec(mirror_seed_range=(10, 19))
    site = build_site(spec)
    cfg = CrawlConfig(budget_per_host=7, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=spec.keywords,
                      use_bloom=False, salt_buckets=2, seen_compact_every=2)
    ckpt = str(tmp_path / "ck")
    res = run_crawl(spark, pages_df(spark, site.pages),
                    seeds_df(spark, site.seeds), cfg, ckpt)
    assert res.rounds >= 3, "fixture must produce enough rounds to compact"

    store = CheckpointStore(ckpt)
    compacted_gens = 0
    for g in range(res.rounds):
        sources = store.manifest(g)["stats"]["seen_sources"]
        assert len(sources) <= cfg.seen_compact_every + 1, (g, sources)
        if any(s["kind"] == "compact" for s in sources):
            compacted_gens += 1
    assert compacted_gens >= 1, "compaction never triggered"

    exact = set()
    for g in range(res.rounds):
        exact |= {r.url_canon for r in
                  store.read(spark, g, "frontier_ann")
                  .filter(F.col("status") == "scheduled")
                  .select("url_canon").collect()}
    got = {r.url_canon for r in res.seen.collect()}
    assert got == exact
