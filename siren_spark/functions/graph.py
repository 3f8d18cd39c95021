"""Link-graph operators: frontier prioritization via PageRank.

A production crawler schedules its frontier by link-graph centrality —
pages with many (weighted) in-links get fetched first (reference:
crawl scheduling around `siren/crawler` seed/priority handling; the
reference engine itself orders by discovery, this is the scale-path
upgrade a 100-TB frontier needs). PageRank here is the textbook
synchronous iteration, expressed as DataFrame joins so Catalyst plans
every round as one co-partitioned equi-join plus one aggregation:

- ``edges`` is repartitioned by ``src`` ONCE and persisted; every
  iteration re-joins the (small, one-row-per-node) rank frame against
  that fixed layout, so the big edge table never re-shuffles.
- per iteration: ranks ⋈ edges on src (shuffle of ranks only), then
  groupBy dst with a partial-aggregated SUM (map-side combine), then a
  right join back to the node set to re-seed nodes with no in-links.
  O(iterations) rounds, two rank-sized shuffles each — the same shape
  GraphX/Pregel lowers to, without the RDD detour.

**Integer-exact math.** All arithmetic is scaled BIGINT: ranks start
at ``scale``, a node's out-contribution is ``rank DIV outdeg`` (integer
division), and the update is

    rank' = ((den-num) * scale) DIV den  +  (num * sum(contribs)) DIV den

with damping ``num/den`` (default 85/100). Integer sums are
associative-commutative-exact, so the result is bit-identical across
partitionings, engines, and dialects — a DuckDB oracle reproduces it
exactly (no float-drift tolerance needed). Mass arriving at dangling
nodes is dropped rather than redistributed (documented spec choice;
both sides implement it). Pick ``scale`` so ``scale * max_indegree``
fits int64: the default 1e12 is safe to ~9M in-links on one page;
drop to 1e9 for hotter graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["synthetic_link_graph", "pagerank", "anchor_text_rollup"]


def synthetic_link_graph(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    n_links: int = 3,
    mult: int = 31,
    step: int = 17,
) -> DataFrame:
    """Deterministic (src, dst) edge frame over a corpus with contiguous
    integer ids 0..N-1: doc i links to ``(i*i + i*mult + j*step) % N``
    for j in 1..(1 + i % n_links), self-loops removed, duplicate edges
    collapsed. The quadratic term breaks the bijectivity a pure affine
    map mod N would have, and the id-dependent fan-out skews out-degree
    — so in-degree, out-degree, and hence ranks all genuinely vary
    (an affine regular graph converges to uniform PageRank, which
    verifies nothing). Requires (N-1)² to fit int64 (N < ~3e9).

    Used by tests and the correctness gate so the oracle SQL can build
    the identical graph with the same modular arithmetic. N is attached
    via a broadcast single-row aggregate (stays lazy — no driver
    collect, no action before the caller's).
    """
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    j = F.explode(F.array(*[F.lit(i) for i in range(1, n_links + 1)]))
    src = F.col("src")
    edges = (
        docs.select(F.col(id_col).cast("long").alias("src"))
        .crossJoin(F.broadcast(n))
        .select("src", "__n", j.alias("__j"))
        .where(F.col("__j") <= 1 + src % n_links)
        .select(
            "src",
            ((src * src + src * mult + F.col("__j") * step) % F.col("__n"))
            .alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return edges


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    *,
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "node_id",
) -> DataFrame:
    """(node_id, pr_scaled): fixed-iteration integer-exact PageRank.

    ``edges`` — (src, dst) long columns; ``nodes`` — optional one-column
    frame of node ids (defaults to src ∪ dst). Returns one row per node
    with ``pr_scaled`` BIGINT (rank × scale). See module docstring for
    the exact update rule, scale-path plan shape, and the dangling-mass
    spec. Raises ``ValueError`` on a non-positive iteration count or a
    degenerate damping fraction rather than looping forever / dividing
    by zero inside a task.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 < damping_num < damping_den):
        raise ValueError(
            f"damping must satisfy 0 < num < den, got {damping_num}/{damping_den}")

    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if nodes is None:
        node_ids = (
            e.select(F.col("src").alias("node_id"))
            .union(e.select(F.col("dst").alias("node_id")))
            .distinct()
        )
    else:
        node_ids = nodes.select(
            F.col(nodes.columns[0]).cast("long").alias("node_id")).distinct()

    # Edge layout fixed once: co-partition by src and fold the out-degree
    # in, so each iteration's join shuffles only the rank frame.
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    edges_deg = (
        e.join(outdeg, "src")
        .repartition("src")
        .persist()
    )
    node_ids = node_ids.persist()

    teleport = ((damping_den - damping_num) * scale) // damping_den
    ranks = node_ids.select(
        "node_id", F.lit(int(scale)).cast("long").alias("pr_scaled"))
    try:
        for _ in range(iterations):
            contribs = (
                edges_deg.join(
                    ranks.withColumnRenamed("node_id", "src"), "src")
                .select(
                    F.col("dst").alias("node_id"),
                    F.expr("pr_scaled DIV __deg").alias("__c"))
                .groupBy("node_id")
                .agg(F.sum("__c").alias("__m"))
            )
            ranks = (
                node_ids.join(contribs, "node_id", "left")
                .select(
                    "node_id",
                    (F.lit(int(teleport))
                     + F.expr(f"({damping_num} * coalesce(__m, 0L))"
                              f" DIV {damping_den}"))
                    .cast("long").alias("pr_scaled"),
                )
            )
            # Pin each round's result: stops the lazy plan from nesting
            # K joins deep (analysis blow-up) and makes round N+1 read a
            # materialized round N, same discipline as dedup_components.
            ranks = ranks.localCheckpoint(eager=True)
    finally:
        edges_deg.unpersist()
        node_ids.unpersist()
    return ranks


def anchor_text_rollup(
    edges: DataFrame,
    *,
    dst_col: str = "dst",
    anchor_col: str = "anchor",
    k: int = 3,
    salt_buckets: int = 16,
) -> DataFrame:
    """Aggregate link anchor texts onto their target pages.

    The classic web-corpus enrichment (search engines since the 90s;
    anchor text is an independent description of the target page and a
    quality/topicality signal for LLM-corpus filtering): per target,
    the in-link count and the top-``k`` anchor strings by frequency
    (count desc, anchor asc — a total order), joined with ``|`` into
    one flat, hashable column.

    Scale shape: phase 0 collapses the edge list with one
    combiner-friendly groupBy(dst, anchor) — the shuffle carries one
    row per distinct (target, anchor), not per link, so a
    billion-in-link homepage with a handful of anchor spellings costs
    a handful of rows. The per-target top-k then runs the politeness
    scheduler's salted two-phase window (operators/politeness.py:23):
    rank within (dst, hash(anchor) % salt_buckets) first and keep at
    most k per bucket, so even a target with millions of DISTINCT
    anchors never funnels its whole anchor set through one task.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = (edges
              .groupBy(F.col(dst_col).alias("dst"),
                       F.col(anchor_col).alias("anchor"))
              .agg(F.count(F.lit(1)).cast("long").alias("__n")))
    order = [F.desc("__n"), F.asc("anchor")]
    w1 = Window.partitionBy(
        "dst",
        F.pmod(F.xxhash64(F.col("anchor")), F.lit(salt_buckets))
    ).orderBy(*order)
    pre = (counts.withColumn("__rn", F.row_number().over(w1))
           .where(F.col("__rn") <= k).drop("__rn"))
    w2 = Window.partitionBy("dst").orderBy(*order)
    top = (pre.withColumn("__rn", F.row_number().over(w2))
           .where(F.col("__rn") <= k))
    inlinks = (edges.groupBy(F.col(dst_col).alias("dst"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_inlinks")))
    rolled = (top.groupBy("dst")
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(
                          F.struct(F.col("__rn"), F.col("anchor")))),
                      lambda s: s.anchor), "|").alias("top_anchors")))
    return inlinks.join(rolled, "dst")


def detect_mirror_hosts(
    df: DataFrame,
    *,
    host_col: str = "host",
    text_col: str = "text",
    min_shared: int = 2,
    min_overlap_milli: int = 200,
    fp_host_cap: int = 64,
) -> DataFrame:
    """Mirror-site detection: host pairs sharing duplicated content.

    The crawl-scheduling counterpart of document dedup (Bharat &
    Broder, "Mirror, mirror on the Web", WWW 1999): a crawler that
    detects mirrored hosts stops fetching the copy. Two hosts are a
    candidate mirror pair when they share >= ``min_shared`` distinct
    content fingerprints AND the shared count is >=
    ``min_overlap_milli``/1000 of the SMALLER host's distinct-content
    count (integer milli-fraction — `1000*shared div min(n_a,n_b)`,
    pure integer division, bit-exact in any engine). Output one row
    per unordered pair (host_a < host_b) with both sizes, the shared
    count, and the overlap.

    Scale: content collapses to md5 digests and (host, digest) pairs
    are made DISTINCT before anything wide — document bytes never
    shuffle. The quadratic hazard is a fingerprint present on MANY
    hosts (empty pages, parking templates): a fingerprint appearing on
    > ``fp_host_cap`` hosts generates cap^2 pairs and carries no
    mirror signal, so such fingerprints are dropped before the
    self-join (the high-frequency-shingle cutoff from the same paper).
    With the cap, the pair fan-out per fingerprint is bounded and the
    self-join is a plain digest equi-join — never host x host. Note
    the per-host sizes n_a/n_b COUNT capped fingerprints while
    n_shared EXCLUDES them, so overlap_milli is understated for hosts
    dominated by capped (template) content — deliberate: template
    overlap is not mirror signal, but host size is still host size.
    NULL documents are dropped up front: a NULL fingerprint can never
    equi-join, so counting it in n_a/n_b would only deflate overlap.
    """
    fp = (df.where(F.col(text_col).isNotNull())
          .select(F.col(host_col).alias("host"),
                  F.md5(F.col(text_col)).alias("__fp"))
          .distinct())
    sizes = (fp.groupBy("host")
             .agg(F.count("*").cast("long").alias("__n")))
    rare = (fp.groupBy("__fp")
            .agg(F.count("*").alias("__hosts"))
            .where(F.col("__hosts") <= fp_host_cap)
            .select("__fp"))
    trimmed = fp.join(rare, "__fp")
    a = trimmed.select("__fp", F.col("host").alias("host_a"))
    b = trimmed.select("__fp", F.col("host").alias("host_b"))
    shared = (a.join(b, "__fp")
              .where(F.col("host_a") < F.col("host_b"))
              .groupBy("host_a", "host_b")
              .agg(F.count("*").cast("long").alias("n_shared")))
    na = sizes.select(F.col("host").alias("host_a"),
                      F.col("__n").alias("n_a"))
    nb = sizes.select(F.col("host").alias("host_b"),
                      F.col("__n").alias("n_b"))
    return (shared.join(na, "host_a").join(nb, "host_b")
            .withColumn(
                "overlap_milli",
                F.expr("(1000 * n_shared) div least(n_a, n_b)")
                .cast("long"))
            .where((F.col("n_shared") >= min_shared)
                   & (F.col("overlap_milli") >= min_overlap_milli))
            .select("host_a", "host_b", "n_shared", "n_a", "n_b",
                    "overlap_milli"))
