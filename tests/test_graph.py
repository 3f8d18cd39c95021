"""functions/graph.py: integer-exact PageRank frontier prioritization.

The 4-node expectations are worked by hand from the documented update
rule (scale 1e12, damping 85/100, floor division), so these tests pin
the spec — not the implementation against itself.
"""

import pytest
from pyspark.sql import Row, functions as F

from siren_spark.functions.graph import pagerank, synthetic_link_graph

S = 10**12
TELEPORT = (15 * S) // 100  # 150_000_000_000


def _ranks(df):
    return {r["node_id"]: r["pr_scaled"] for r in df.collect()}


@pytest.fixture()
def ring_edges(spark):
    # 0→1→2→0 ring plus dangling-in 3→0; node 3 has no in-links.
    return spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2),
         Row(src=2, dst=0), Row(src=3, dst=0)])


def test_pagerank_one_iteration_hand_computed(spark, ring_edges):
    got = _ranks(pagerank(ring_edges, iterations=1))
    # every outdeg is 1, r0 = S everywhere:
    #   in(0) = r(2) + r(3) = 2S;  in(1) = in(2) = S;  in(3) = 0
    assert got == {
        0: TELEPORT + (85 * 2 * S) // 100,   # 1_850_000_000_000
        1: TELEPORT + (85 * S) // 100,       # 1_000_000_000_000
        2: TELEPORT + (85 * S) // 100,
        3: TELEPORT,
    }


def test_pagerank_two_iterations_hand_computed(spark, ring_edges):
    got = _ranks(pagerank(ring_edges, iterations=2))
    r1 = {0: 1_850_000_000_000, 1: S, 2: S, 3: TELEPORT}
    expect = {
        0: TELEPORT + (85 * (r1[2] + r1[3])) // 100,
        1: TELEPORT + (85 * r1[0]) // 100,
        2: TELEPORT + (85 * r1[1]) // 100,
        3: TELEPORT,
    }
    assert got == expect


def test_pagerank_no_inlink_node_stays_at_teleport(spark, ring_edges):
    got = _ranks(pagerank(ring_edges, iterations=3))
    assert got[3] == TELEPORT
    assert all(v >= TELEPORT for v in got.values())


def test_pagerank_explicit_nodes_adds_isolated(spark, ring_edges):
    nodes = spark.range(6).select(F.col("id").alias("node_id"))
    got = _ranks(pagerank(ring_edges, nodes, iterations=2))
    assert set(got) == set(range(6))
    # isolated nodes 4, 5: no in-links and (being dangling) their own
    # mass is dropped — pure teleport.
    assert got[4] == got[5] == TELEPORT


def test_pagerank_partitioning_invariant(spark, ring_edges):
    # Bit-identical under a different physical layout: integer sums
    # commute, so partition count must not leak into results.
    base = _ranks(pagerank(ring_edges, iterations=3))
    scattered = _ranks(pagerank(ring_edges.repartition(7), iterations=3))
    assert base == scattered


def test_pagerank_validates_arguments(spark, ring_edges):
    with pytest.raises(ValueError, match="iterations"):
        pagerank(ring_edges, iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(ring_edges, damping_num=100, damping_den=100)


def test_synthetic_link_graph_shape(spark):
    docs = spark.range(50).select(F.col("id").alias("doc_id"))
    e = synthetic_link_graph(docs).collect()
    assert all(0 <= r["dst"] < 50 for r in e)
    assert all(r["src"] != r["dst"] for r in e)
    assert len({(r["src"], r["dst"]) for r in e}) == len(e)
    outdeg = {}
    for r in e:
        outdeg[r["src"]] = outdeg.get(r["src"], 0) + 1
    # id-dependent fan-out: 1 + i % 3 links before self-loop/dup drops
    assert max(outdeg.values()) == 3
    assert min(outdeg.values()) >= 1
    # quadratic mixing produces genuinely skewed in-degree
    indeg = {}
    for r in e:
        indeg[r["dst"]] = indeg.get(r["dst"], 0) + 1
    assert len(set(indeg.values())) > 1


def test_anchor_text_rollup_hand_values(spark):
    from siren_spark.functions.graph import anchor_text_rollup
    edges = spark.createDataFrame(
        [(1, 9, "home"), (2, 9, "home"), (3, 9, "news"),
         (4, 9, "blog"), (5, 9, "arts"),          # 4 distinct anchors
         (6, 8, "solo")],
        ["src", "dst", "anchor"])
    got = {r.dst: r for r in anchor_text_rollup(edges, k=2).collect()}
    assert got[9].n_inlinks == 5
    # home wins on count; arts/blog/news tie at 1 -> 'arts' by anchor asc
    assert got[9].top_anchors == "home|arts"
    assert got[8].n_inlinks == 1 and got[8].top_anchors == "solo"


def test_anchor_text_rollup_salted_phase_exact(spark):
    """The two-phase salted top-k must equal the naive global top-k
    even when distinct anchors per target far exceed salt_buckets."""
    from siren_spark.functions.graph import anchor_text_rollup
    rows = [(i, 0, f"a{i % 37:02d}") for i in range(500)]
    edges = spark.createDataFrame(rows, ["src", "dst", "anchor"])
    for buckets in (1, 2, 16):
        row = anchor_text_rollup(
            edges, k=3, salt_buckets=buckets).collect()[0]
        # counts: a00..a18 appear 14x, a19..a36 appear 13x (500 = 13*37+19)
        assert row.n_inlinks == 500
        assert row.top_anchors == "a00|a01|a02"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        anchor_text_rollup(edges, k=0)
