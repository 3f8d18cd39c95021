"""Unit tests for the standalone public operators (SURVEY §2/§4 customs)."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from siren_spark.operators.politeness import politeness_schedule
from siren_spark.operators.robots import (
    RobotsGate, RobotsMatcher, parse_robots,
)
from siren_spark.operators.seen import build_bloom, filter_unseen, merge_blooms


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows, "url_canon string, domain string, priority double")


def test_politeness_budget_and_determinism(spark):
    rows = [(f"https://d{i % 3}.example/{j}", f"d{i % 3}.example", 1.0 / (j + 1))
            for i in range(3) for j in range(20)]
    df = _frontier(spark, rows)
    sched, deferred = politeness_schedule(df, budget_per_host=5, salt_buckets=4)
    per_dom = {r.domain: r.n for r in
               sched.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 5 for n in per_dom.values())
    assert sched.count() + deferred.count() == df.count()
    # deterministic: the same top-k regardless of partitioning
    a = sorted(r.url_canon for r in sched.collect())
    sched2, _ = politeness_schedule(df.repartition(7), budget_per_host=5,
                                    salt_buckets=2)
    assert sorted(r.url_canon for r in sched2.collect()) == a
    # highest-priority rows win
    top = sorted(r.url_canon for r in sched.filter("domain = 'd0.example'").collect())
    assert all("/0" in u or "/1" in u or "/2" in u or "/3" in u or "/4" in u
               for u in top)


def test_parse_robots_groups_and_wildcards():
    body = """
User-agent: googlebot
Disallow: /g/

User-agent: *
Disallow: /private/
Allow: /private/ok
Disallow: /*.pdf$

User-agent: other
Disallow: /
"""
    rules = parse_robots(body)
    assert (False, "/private/") in rules
    assert (True, "/private/ok") in rules
    assert (False, "/*.pdf$") in rules
    assert (False, "/g/") not in rules          # googlebot group ignored
    assert (False, "/") not in rules            # 'other' group ignored

    m = RobotsMatcher([("d.example", body)])
    assert not m.allowed("d.example", "https://d.example/private/x")
    assert m.allowed("d.example", "https://d.example/private/ok/y")  # longest match
    assert not m.allowed("d.example", "https://d.example/doc.pdf")
    assert m.allowed("d.example", "https://d.example/doc.pdfx")      # $ anchor
    assert m.allowed("d.example", "https://d.example/open")
    assert m.allowed("other.example", "https://other.example/private/x")  # no rules


def test_empty_disallow_allows_everything():
    assert parse_robots("User-agent: *\nDisallow:\n") == []


def test_robots_gate_split(spark, monkeypatch):
    """The crawl's robots gate flags the same rows whichever delivery
    its rules-table size picks (broadcast matcher or cogroup)."""
    from siren_spark.operators import robots as robots_mod

    robots = spark.createDataFrame(
        [("blocked.example", "User-agent: *\nDisallow: /\n")],
        "domain string, rules string")
    df = _frontier(spark, [
        ("https://blocked.example/a", "blocked.example", 1.0),
        ("https://open.example/a", "open.example", 1.0),
    ])
    for bound in (robots_mod.ROBOTS_BROADCAST_MAX, 0):
        monkeypatch.setattr(robots_mod, "ROBOTS_BROADCAST_MAX", bound)
        gate = RobotsGate(robots)
        try:
            gated = gate.annotate(df)
            allowed = gated.filter(F.col("__allowed")).drop("__allowed")
            blocked = gated.filter(~F.col("__allowed")).drop("__allowed")
            assert [r.domain for r in allowed.collect()] == ["open.example"]
            assert [r.domain for r in blocked.collect()] == [
                "blocked.example"]
        finally:
            gate.release()


def test_bloom_no_false_negatives_and_merge(spark):
    seen = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(500)], "url_canon string")
    bf = build_bloom(seen, "url_canon", bits_per_bucket=1 << 14, buckets=4)
    probe = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(1000)], "url_canon string")
    from pyspark.sql.functions import col, lit, xxhash64
    from siren_spark.operators.seen import _SEED2
    hashed = probe.select(
        "url_canon", xxhash64(col("url_canon")).alias("h1"),
        xxhash64(col("url_canon"), lit(_SEED2)).alias("h2")).collect()
    import numpy as np
    h1 = np.array([r.h1 for r in hashed], dtype=np.int64)
    h2 = np.array([r.h2 for r in hashed], dtype=np.int64)
    maybe = bf.might_contain_np(h1, h2)
    # no false negatives on the 500 seen keys
    assert all(maybe[i] for i, r in enumerate(hashed)
               if int(r.url_canon.rsplit("/", 1)[1]) < 500)

    other = spark.createDataFrame([("https://y.example/1",)], "url_canon string")
    merged = merge_blooms(bf, build_bloom(other, "url_canon",
                                          bits_per_bucket=1 << 14, buckets=4))
    h = spark.createDataFrame([("https://y.example/1",)], "url_canon string") \
        .select(xxhash64(col("url_canon")).alias("h1"),
                xxhash64(col("url_canon"), lit(_SEED2)).alias("h2")).collect()[0]
    assert merged.might_contain_np(np.array([h.h1], dtype=np.int64),
                                   np.array([h.h2], dtype=np.int64))[0]


def test_bloom_layout_matches_integer_reference():
    """The numpy layout equals the rule in plain Python integers: bucket
    = h1 floor-mod B (Spark's pmod), bit i = (h1 + i*h2) mod 2^64 mod m
    over the unsigned hash pair."""
    import numpy as np

    from siren_spark.operators.seen import BloomFilter, _bloom_layout

    rng = np.random.default_rng(7)
    h1 = rng.integers(-2**63, 2**63 - 1, 500, dtype=np.int64)
    h2 = rng.integers(-2**63, 2**63 - 1, 500, dtype=np.int64)
    m, k = 1 << 12, 5
    for buckets in (3, 4, 10):
        bucket_ids, pos = _bloom_layout(h1, h2, m, k, buckets)
        for a, b, got_b, got_pos in zip(h1.tolist(), h2.tolist(),
                                        bucket_ids.tolist(), pos.tolist()):
            assert got_b == a % buckets
            assert got_pos == [((a % 2**64) + i * (b % 2**64)) % 2**64 % m
                               for i in range(k)]
        bf = BloomFilter(m, k, buckets, {})
        bf.add_np(h1, h2)
        assert set(bf.bitmaps) <= set(range(buckets))
        assert bf.might_contain_np(h1, h2).all()


def test_filter_unseen_bloom_equals_exact(spark):
    """The Bloom path drops exactly the seen keys at any bucket count:
    the build and the cogroup probe bucket a key alike, also where B is
    not a power of two (a signed/unsigned split there reads seen keys
    as definitely new)."""
    frontier = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(300)], "url_canon string")
    seen = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(0, 300, 3)],
        "url_canon string")
    exact = sorted(r.url_canon for r in
                   filter_unseen(frontier, seen, bloom=False).collect())
    assert len(exact) == 200
    for buckets in (2, 3, 10):
        bloom = sorted(r.url_canon for r in
                       filter_unseen(frontier, seen, bloom=True,
                                     bits_per_bucket=1 << 12,
                                     buckets=buckets).collect())
        assert bloom == exact, buckets


def test_filter_unseen_holds_no_filter_broadcast(spark, monkeypatch):
    """filter_unseen returns a lazy frame: its filter stays a
    distributed (bucket, bitmap) table, so no BloomFilter broadcast is
    made that the caller could never release."""
    from siren_spark.operators.seen import BloomFilter

    bloom_broadcasts = []
    real_broadcast = spark.sparkContext.broadcast

    def broadcast(v):
        if isinstance(v, BloomFilter):
            bloom_broadcasts.append(v)
        return real_broadcast(v)

    monkeypatch.setattr(spark.sparkContext, "broadcast", broadcast)
    frontier = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(60)], "url_canon string")
    seen = spark.createDataFrame(
        [(f"https://x.example/{i}",) for i in range(0, 60, 4)],
        "url_canon string")
    out = filter_unseen(frontier, seen, bloom=True,
                        bits_per_bucket=1 << 12, buckets=2)
    assert out.count() == 45
    assert bloom_broadcasts == []


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab/", min_size=1, max_size=6), max_size=8))
def test_robots_matcher_never_crashes(paths):
    body = "User-agent: *\n" + "\n".join(f"Disallow: /{p}" for p in paths)
    m = RobotsMatcher([("d.example", body)])
    m.allowed("d.example", "https://d.example/abc")


def test_bucketed_probe_matches_broadcast_filter(spark):
    """probe_bloom_bucketed must agree with the driver-side BloomFilter
    on every row (same hashes, same bitmaps — only the delivery path
    differs: cogroup-per-bucket vs whole-filter broadcast)."""
    from pyspark.sql import functions as F

    from siren_spark.operators.seen import (
        build_bloom, build_bloom_partials, or_reduce_bitmaps,
        probe_bloom_bucketed,
    )

    seen = spark.createDataFrame(
        [(f"https://ex.com/a/{i}",) for i in range(300)], "url_canon string")
    frontier = spark.createDataFrame(
        [(f"https://ex.com/a/{i}",) for i in range(250, 400)]
        + [(f"https://other.org/{i}",) for i in range(50)],
        "url_canon string")
    kw = dict(bits_per_bucket=1 << 14, buckets=4)

    bf = build_bloom(seen, "url_canon", **kw)
    bitmaps = or_reduce_bitmaps(build_bloom_partials(seen, "url_canon", **kw))
    assert bitmaps.count() <= 4

    probed = probe_bloom_bucketed(frontier, bitmaps, "url_canon", **kw)
    got = {r["url_canon"]: r["__maybe"] for r in probed.collect()}
    assert len(got) == 200

    import numpy as np
    rows = frontier.select(
        "url_canon", F.xxhash64("url_canon").alias("h1"),
        F.xxhash64("url_canon", F.lit(0x9E3779B9)).alias("h2")).collect()
    h1 = np.array([r.h1 for r in rows], dtype=np.int64)
    h2 = np.array([r.h2 for r in rows], dtype=np.int64)
    exp = bf.might_contain_np(h1, h2)
    for r, e in zip(rows, exp):
        assert got[r.url_canon] == bool(e), r.url_canon
    # every truly-seen url must be maybe=True (no false negatives)
    for i in range(250, 300):
        assert got[f"https://ex.com/a/{i}"] is True


def test_or_reduce_matches_driver_merge(spark):
    """Distributed OR-reduce == driver-side partial merge, bucket by
    bucket (byte-identical bitmaps)."""
    import numpy as np

    from siren_spark.operators.seen import (
        build_bloom, build_bloom_partials, or_reduce_bitmaps,
    )

    df = spark.createDataFrame(
        [(f"u{i}",) for i in range(1000)], "url_canon string") \
        .repartition(7)  # many input partitions -> many partials pre-shuffle
    for buckets in (4, 3):
        kw = dict(bits_per_bucket=1 << 13, buckets=buckets)
        partials = build_bloom_partials(df, "url_canon", **kw)
        # the build shuffles rows by the bucket it sets bits in, so each
        # bucket's partial comes from exactly one task
        per_bucket = [r["count"] for r in
                      partials.groupBy("bucket").count().collect()]
        assert per_bucket and set(per_bucket) == {1}, (buckets, per_bucket)
        bf = build_bloom(df, "url_canon", **kw)
        reduced = {r.bucket: r.bitmap
                   for r in or_reduce_bitmaps(partials).collect()}
        assert set(reduced) == set(bf.bitmaps) <= set(range(buckets))
        for b, bm in bf.bitmaps.items():
            assert np.array_equal(np.frombuffer(reduced[b], dtype=np.uint8),
                                  bm)


def test_robots_cogroup_matches_broadcast(spark):
    """robots_annotate_cogroup must agree with the broadcast matcher on
    every row (same parse, same longest-match rule; only the delivery
    differs: per-domain cogroup vs whole-table broadcast)."""
    from siren_spark.operators.robots import (
        RobotsMatcher, robots_annotate_cogroup,
    )

    rules = [
        ("a.example", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
        ("b.example", "User-agent: *\nDisallow: /\n"),
        ("dup.example", "User-agent: x\nDisallow: /\n"),  # not for '*'
    ]
    robots = spark.createDataFrame(rules, "domain string, rules string")
    urls = [
        ("a.example", "https://a.example/private/x"),
        ("a.example", "https://a.example/private/ok/y"),
        ("a.example", "https://a.example/public"),
        ("b.example", "https://b.example/anything"),
        ("dup.example", "https://dup.example/z"),
        ("norules.example", "https://norules.example/z"),
    ]
    frontier = spark.createDataFrame(urls, "domain string, url_canon string")
    got = {r.url_canon: r["__allowed"] for r in
           robots_annotate_cogroup(frontier, robots).collect()}
    m = RobotsMatcher(rules)
    for d, u in urls:
        assert got[u] == m.allowed(d, u), (d, u)
    assert got["https://a.example/private/x"] is False
    assert got["https://a.example/private/ok/y"] is True
    assert got["https://norules.example/z"] is True

    # two rules rows for one domain: both deliveries refuse the table
    # instead of keeping whichever row came last
    twice = spark.createDataFrame(
        rules + [("b.example", "User-agent: *\nAllow: /\n")],
        "domain string, rules string")
    with pytest.raises(ValueError, match="b.example"):
        RobotsGate(twice)
    with pytest.raises(Exception, match="ValueError.*b.example"):
        robots_annotate_cogroup(frontier, twice).collect()


# ------------------------------------------------------------ sessionize

def _ev(spark, rows):
    from pyspark.sql import functions as F
    return (spark.createDataFrame(rows, ["user_id", "event_id", "ts_s",
                                         "value"])
            .select("user_id", "event_id",
                    F.timestamp_seconds("ts_s").cast("timestamp_ntz")
                    .alias("ts"), "value"))


def test_sessionize_gap_boundaries(spark):
    """Gap exactly == threshold stays in-session; gap+epsilon opens a
    new one. Session seq is 1-based per user."""
    from siren_spark.operators.sessionize import sessionize
    rows = [(1, 0, 0.0, 1.0),
            (1, 1, 100.0, 1.0),          # +100s   same session
            (1, 2, 200.0, 1.0),          # +100s   same session
            (1, 3, 500.0, 1.0),          # +300s   == gap, same session
            (1, 4, 800.000001, 1.0),     # just over gap -> new session
            (2, 5, 50.0, 2.5)]
    out = {(r.user_id, r.session_seq): (r.n_events, r.duration_s)
           for r in sessionize(_ev(spark, rows), gap_seconds=300,
                               value_col="value").collect()}
    assert out[(1, 1)] == (4, 500)
    assert out[(1, 2)] == (1, 0)
    assert out[(2, 1)] == (1, 0)


def test_sessionize_value_cents_and_bounds(spark):
    from siren_spark.operators.sessionize import sessionize
    rows = [(7, 1, 10.0, 1.23), (7, 2, 20.5, 4.56)]
    r = sessionize(_ev(spark, rows), gap_seconds=60,
                   value_col="value").first()
    assert r.n_events == 2 and r.value_sum_c == 579
    assert r.duration_s == 10  # 10.5s truncated to whole seconds
    assert (r.end_ts - r.start_ts).total_seconds() == 10.5


def test_sessionize_partition_independent_single_exchange(spark):
    """Same result at any input partitioning, and the whole plan runs
    off ONE exchange on the key (lag, running sum, and the final
    aggregate reuse the partitioning)."""
    from siren_spark.operators.sessionize import sessionize
    rows = [(u, u * 1000 + i, float(i * 200 + (i // 10) * 10000 + u), 1.0)
            for u in range(20) for i in range(30)]
    d = _ev(spark, rows)
    a = sorted(map(tuple, sessionize(d, gap_seconds=300).collect()))
    b = sorted(map(tuple, sessionize(d.repartition(13), gap_seconds=300)
                   .collect()))
    assert a == b and len(a) == 60  # 3 sessions per user
    plan = (sessionize(d, gap_seconds=300)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_sessionize_validates(spark):
    import pytest
    from siren_spark.operators.sessionize import sessionize
    with pytest.raises(ValueError):
        sessionize(_ev(spark, [(1, 1, 0.0, 1.0)]), gap_seconds=0)


def test_tumbling_rollup_hand_values(spark):
    from siren_spark.operators.sessionize import tumbling_rollup
    rows = [(1, 1, 10.0, 1.00), (1, 2, 3599.0, 2.00),   # hour 0
            (1, 3, 3600.0, 4.00),                       # hour 1
            (2, 4, 7200.5, 0.25)]                       # hour 2
    out = {r.window_start.hour: (r.n_events, r.value_sum_c)
           for r in tumbling_rollup(_ev(spark, rows), width_seconds=3600,
                                    value_col="value").collect()}
    assert out == {0: (2, 300), 1: (1, 400), 2: (1, 25)}


def test_tumbling_rollup_keyed_and_validates(spark):
    import pytest
    from pyspark.sql import functions as F
    from siren_spark.operators.sessionize import tumbling_rollup
    rows = [(u, u * 10 + i, float(i), 1.0)
            for u in range(3) for i in range(4)]
    d = _ev(spark, rows)
    out = tumbling_rollup(d, width_seconds=60, key_col="user_id")
    assert out.count() == 3 and out.agg(
        F.sum("n_events")).first()[0] == 12
    with pytest.raises(ValueError):
        tumbling_rollup(d, width_seconds=7)   # does not divide 86400


# -------------------------------------------------------------- as-of join

def test_asof_join_hand_values(spark):
    """Backward inclusive: same-ts right row matches; earlier rows
    carry forward; left rows before any right row get nulls."""
    from siren_spark.operators.asof import asof_join
    left = _ev(spark, [(1, 1, 5.0, 0.0), (1, 2, 10.0, 0.0),
                       (1, 3, 25.0, 0.0), (2, 4, 10.0, 0.0)]) \
        .drop("value")
    right = _ev(spark, [(1, 90, 10.0, 1.11), (1, 91, 20.0, 2.22)]) \
        .drop("event_id").withColumnRenamed("value", "px")
    out = {r.event_id: (r.asof_px, r.asof_ts)
           for r in asof_join(left, right, value_cols=["px"]).collect()}
    assert out[1] == (None, None)             # before first right row
    assert out[2][0] == 1.11                  # ts == right ts: inclusive
    assert out[3][0] == 2.22                  # latest prior carries
    assert out[4] == (None, None)             # other key never matches
    assert len(out) == 4                      # every left row survives


def test_asof_join_tolerance(spark):
    from siren_spark.operators.asof import asof_join
    left = _ev(spark, [(1, 1, 100.0, 0.0), (1, 2, 500.0, 0.0)]) \
        .drop("value")
    right = _ev(spark, [(1, 9, 90.0, 7.0)]) \
        .drop("event_id").withColumnRenamed("value", "px")
    out = {r.event_id: r.asof_px
           for r in asof_join(left, right, value_cols=["px"],
                              tolerance_seconds=60).collect()}
    assert out[1] == 7.0       # 10s old: in tolerance
    assert out[2] is None      # 410s old: nulled


def test_asof_join_partition_independent_single_exchange(spark):
    import re
    from siren_spark.operators.asof import asof_join
    left = _ev(spark, [(u, u * 1000 + i, float(i * 10 + u), 0.0)
                       for u in range(10) for i in range(20)]).drop("value")
    right = _ev(spark, [(u, u, float(i * 35 + 1), float(i))
                        for u in range(10) for i in range(5)]) \
        .drop("event_id").withColumnRenamed("value", "px")
    a = sorted(map(tuple, asof_join(left, right,
                                    value_cols=["px"]).collect()))
    b = sorted(map(tuple,
                   asof_join(left.repartition(17), right.repartition(3),
                             value_cols=["px"]).collect()))
    assert a == b and len(a) == 200
    plan = (asof_join(left, right, value_cols=["px"])
            ._jdf.queryExecution().executedPlan().toString())
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_asof_join_validates(spark):
    import pytest
    from siren_spark.operators.asof import asof_join
    left = _ev(spark, [(1, 1, 1.0, 0.0)]).drop("value")
    right = _ev(spark, [(1, 2, 1.0, 3.0)]) \
        .drop("event_id").withColumnRenamed("value", "px")
    with pytest.raises(ValueError, match="lacks columns"):
        asof_join(left, right, value_cols=["nope"])
    with pytest.raises(ValueError, match="tolerance_seconds"):
        asof_join(left, right, value_cols=["px"], tolerance_seconds=0)
    with pytest.raises(ValueError, match="already exist"):
        asof_join(left.withColumn("asof_px", F.lit(1)), right,
                  value_cols=["px"])


def test_asof_join_matches_pandas_merge_asof(spark):
    """Differential: 600 random left rows x 120 right rows across 12
    keys (duplicate left timestamps, keys missing on either side) must
    match pandas.merge_asof(direction='backward') exactly."""
    import numpy as np
    import pandas as pd

    from siren_spark.operators.asof import asof_join

    rng = np.random.RandomState(42)
    lp = pd.DataFrame({
        "user_id": rng.randint(0, 12, 600).astype("int64"),
        "event_id": np.arange(600, dtype="int64"),
        "ts": pd.to_datetime(rng.randint(0, 10 ** 6, 600), unit="s"),
    })
    # duplicate some left timestamps within a key
    lp.loc[1, ["user_id", "ts"]] = lp.loc[0, ["user_id", "ts"]]
    rp = pd.DataFrame({
        "user_id": rng.randint(2, 14, 120).astype("int64"),
        "ts": pd.to_datetime(rng.randint(0, 10 ** 6, 120), unit="s"),
        "px": rng.randint(1, 1000, 120).astype("int64"),
    }).drop_duplicates(["user_id", "ts"])

    exp = pd.merge_asof(
        lp.sort_values("ts", kind="stable"), rp.sort_values("ts"),
        on="ts", by="user_id", direction="backward")
    expected = {int(r.event_id): (None if pd.isna(r.px) else int(r.px))
                for r in exp.itertuples()}

    left = spark.createDataFrame(lp).select(
        "user_id", "event_id", F.col("ts").cast("timestamp_ntz")
        .alias("ts"))
    right = spark.createDataFrame(rp).select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "px")
    got = {r.event_id: r.asof_px
           for r in asof_join(left, right, value_cols=["px"]).collect()}
    assert got == expected and len(got) == 600
