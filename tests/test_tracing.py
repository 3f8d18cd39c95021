"""The crawl keeps the names ``perfbench/tracing.py`` wraps.

``--trace 1`` runs of the crawl benchmark install ``Tracer`` around a
crawl: it patches ``CheckpointStore.stage_table``/``write_round`` and the
seen-filter functions ``siren_spark.crawl`` calls through its module
globals. A crawl refactor that binds those functions elsewhere, or
renames them, silently drops phases from the per-layer split; this test
pins the contract on a small crawl.
"""

from siren_spark import crawl
from siren_spark.crawl import CrawlConfig, run_crawl
from siren_spark.operators.checkpoint import CheckpointStore
from siren_spark.testing.sitegen import (
    SiteSpec, WINDOW_END, WINDOW_START, build_site,
)
from tests.conftest import pages_df, seeds_df


def test_tracer_spans_every_crawl_phase(spark, tmp_path):
    from perfbench.tracing import SEEN_CALLS, Tracer

    site = build_site(SiteSpec(mirror_seed_range=(10, 14)))
    cfg = CrawlConfig(budget_per_host=10, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=["crisis", "rescue"],
                      max_rounds=2)
    patched = [(CheckpointStore, "stage_table"),
               (CheckpointStore, "write_round"),
               *[(crawl, name) for name in SEEN_CALLS]]
    before = [getattr(owner, attr) for owner, attr in patched]

    tracer = Tracer(spark)
    tracer.install()
    try:
        assert all(getattr(o, a) is not f
                   for (o, a), f in zip(patched, before))
        res = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, site.seeds), cfg,
                        str(tmp_path / "ck"))
    finally:
        tracer.uninstall()

    assert res.rounds == 2
    phases = {s.phase for s in tracer.spans}
    assert {"annotate", "fetch_extract", "bloom", "commit"} <= phases
    assert {s.name for s in tracer.spans if s.phase == "bloom"} >= {
        "build_bloom", "merge_blooms"}
    assert all(getattr(o, a) is f for (o, a), f in zip(patched, before))
