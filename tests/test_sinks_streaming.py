"""CSV-sink byte identity, pages store, streaming drain, jobs CLI."""

import csv
import io
from datetime import datetime

from pyspark.sql import functions as F

from siren_spark.sources.csv_export import (
    NO_DATA, reference_csv_bytes, result_filename, transform,
)


def test_transform_reference_semantics():
    # core/scraper.py:15-25: datetime -> %Y-%m-%d, everything else str()
    assert transform(datetime(2022, 10, 5, 13, 30)) == "2022-10-05"
    assert transform(None) == "None"          # str(None) quirk preserved
    assert transform(3) == "3"
    assert transform("x,y") == "x,y"


def test_reference_csv_bytes(spark):
    df = spark.createDataFrame(
        [("a", datetime(2022, 10, 5), None),
         ('with,comma', datetime(2022, 12, 1), 'quote"inside')],
        "title string, published timestamp, author string",
    )
    got = reference_csv_bytes(df, ["title", "published", "author", "ghost"],
                              aliases={"published": "date"})
    # independent expectation via csv.writer directly
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(["title", "date", "author", "ghost"])
    w.writerow(["a", "2022-10-05", "None", NO_DATA])
    w.writerow(['with,comma', "2022-12-01", 'quote"inside', NO_DATA])
    assert got == buf.getvalue().encode()


def test_result_filename():
    # core/scraper.py:144-155
    s, e = datetime(2022, 10, 1), datetime(2022, 12, 31)
    assert result_filename("TOIScraper", s, e) == "TOIScraper_2022-10-01_2022-12-31.csv"
    assert result_filename("X", s, datetime(2022, 10, 2)) == "X_2022-10-02.csv"


def test_parquet_page_store_roundtrip(spark, tmp_path):
    from siren_spark.sources.pages import ParquetPageStore
    df = spark.createDataFrame(
        [("https://A.example/x?b=1&a=2", datetime(2022, 10, 1),
          b"<p>hi</p>", "hi", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    store = ParquetPageStore(str(tmp_path / "pages"))
    store.write(df)
    back = store.read(spark)
    row = back.collect()[0]
    assert row.url_canon == "https://a.example/x?a=2&b=1"  # canon at ingest


def test_streaming_drain(spark, tmp_path):
    from siren_spark.streaming import extract_stream
    from siren_spark.testing.sitegen import SiteSpec, build_site
    from tests.conftest import pages_df
    site = build_site(SiteSpec(articles_per_site=4, mirror_seed_range=(10, 12)))
    pages = pages_df(spark, site.pages).withColumn(
        "url_canon", F.col("url"))
    pdir = str(tmp_path / "pages_in")
    pages.select("url", "url_canon", "warc_ts", "html", "text", "lang") \
        .write.parquet(pdir)
    q = extract_stream(spark, pdir, str(tmp_path / "out"),
                       str(tmp_path / "ck"), available_now=True)
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() > 0
    assert {r.source for r in out.select("source").distinct().collect()} >= {
        "mirror", "newsminute"}


def test_jobs_cli_parse():
    from siren_spark.jobs.crawl import parse_args
    a = parse_args(["--pages", "/p", "--seeds", "/s", "--checkpoint", "/c",
                    "--keywords", "crisis", "rescue", "--budget", "7",
                    "--start", "2022-10-01", "--end", "2022-12-31"])
    assert a.budget == 7 and a.keywords == ["crisis", "rescue"]
    assert a.pages == "/p" and not a.resume


def test_compute_fields_semantics():
    """P8/P11 field-set math (core/scraper.py:117-128): include/exclude
    on the model field SET; declared FIELDS wins wholesale."""
    from siren_spark.sources.csv_export import compute_fields

    mf = ["url", "title", "text"]
    got = compute_fields(mf, include={"extra"}, exclude={"text"})
    assert set(got) == {"url", "title", "extra"}     # set semantics
    # FIELDS wins over include/exclude, and keeps declared order
    got = compute_fields(mf, include={"x"}, exclude={"url"},
                         class_fields=["url", "date", "edition", "text"])
    assert got == ["url", "date", "edition", "text"]


def test_clean_hook_applies_before_serialization(spark):
    """P11 (core/scraper.py:141-142): clean is a DataFrame->DataFrame
    hook between results and the CSV writer; default = identity."""
    from pyspark.sql import functions as F

    from siren_spark.sources.csv_export import reference_csv_bytes

    df = spark.createDataFrame(
        [("u1", "ok"), ("u2", "JUNK")], "url string, title string")
    plain = reference_csv_bytes(df, ["url", "title"])
    assert b"JUNK" in plain
    cleaned = reference_csv_bytes(
        df, ["url", "title"],
        clean=lambda d: d.filter(F.col("title") != "JUNK"))
    assert b"JUNK" not in cleaned and b"u1" in cleaned


def test_cli_config_and_date_window_resolution(tmp_path):
    """S12: TOML config fill-in + the reference's date-window defaulting
    (__main__.py:70-77): one-sided windows extend by --days."""
    from siren_spark.jobs.crawl import parse_args

    base = ["--pages", "p", "--seeds", "s", "--checkpoint", "c"]
    a = parse_args([*base, "--start", "2022-10-01", "--days", "3"])
    assert (a.start, a.end) == ("2022-10-01", "2022-10-04")
    a = parse_args([*base, "--end", "2022-10-10", "--days", "2"])
    assert (a.start, a.end) == ("2022-10-08", "2022-10-10")
    a = parse_args([*base, "--start", "2022-10-01", "--end", "2022-12-31"])
    assert (a.start, a.end) == ("2022-10-01", "2022-12-31")

    cfgp = tmp_path / "c.toml"
    cfgp.write_text(
        'scraper = "mirror"\nkeywords = ["crisis", "rescue"]\n'
        'ignore_keywords = ["bomb"]\nstart = 2022-10-01\nend = 2022-12-31\n'
        'max_concurrency = 7\n')
    a = parse_args([*base, "--config", str(cfgp)])
    assert a.scraper == "mirror" and a.keywords == ["crisis", "rescue"]
    assert a.ignore_keywords == ["bomb"]          # parsed, unused (P5)
    assert (a.start, a.end) == ("2022-10-01", "2022-12-31")
    assert a.budget == 7
    # reference semantics: --config wins wholesale (Config is built from
    # the TOML alone, __main__.py:58-66 — CLI scrape flags are not merged)
    a = parse_args([*base, "--config", str(cfgp), "--keywords", "flood",
                    "--budget", "9"])
    assert a.keywords == ["crisis", "rescue"] and a.budget == 7
    # and the date-window defaulting is skipped when the TOML has no window
    cfg2 = tmp_path / "c2.toml"
    cfg2.write_text('keywords = ["x"]\n')
    a = parse_args([*base, "--config", str(cfg2), "--start", "2022-10-01"])
    assert a.start is None and a.end is None and a.budget == 50


def test_stateful_politeness_throttle_across_batches(spark, tmp_path):
    """applyInPandasWithState politeness: per-host budget persists
    across micro-batches — a host cannot exceed its budget by spreading
    arrivals over many small batches."""
    import time

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from siren_spark.streaming.politeness_state import run_throttle_query

    schema = StructType([
        StructField("domain", StringType()),
        StructField("url_canon", StringType()),
        StructField("priority", DoubleType()),
    ])
    src = str(tmp_path / "src")
    # batch 1: 3 hot rows + 1 cold; batch 2: 4 hot + 1 cold
    b1 = [("hot.example", f"https://hot.example/{i}", 1.0 - i / 10)
          for i in range(3)] + [("cold.example", "https://cold.example/0", 1.0)]
    b2 = [("hot.example", f"https://hot.example/{i}", 1.0 - i / 10)
          for i in range(3, 7)] + [("cold.example", "https://cold.example/1", 1.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(src)

    links = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").format("parquet").load(src))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = run_throttle_query(links, out, ck, budget_per_host=5)
    q.awaitTermination(120)

    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = run_throttle_query(links, out, ck, budget_per_host=5)
    q.awaitTermination(120)
    time.sleep(0.5)

    rows = spark.read.parquet(out).collect()
    admitted = {r.url_canon for r in rows if r.admitted == 1}
    deferred = {r.url_canon for r in rows if r.admitted == 0}
    hot_admitted = {u for u in admitted if "hot" in u}
    assert len(hot_admitted) == 5                  # budget across batches
    # deterministic: highest-priority hot urls (lowest i) admitted
    assert hot_admitted == {f"https://hot.example/{i}" for i in range(5)}
    assert {u for u in deferred if "hot" in u} == {
        "https://hot.example/5", "https://hot.example/6"}
    assert {u for u in admitted if "cold" in u} == {
        "https://cold.example/0", "https://cold.example/1"}


def test_politeness_throttle_epoch_rollover(spark, tmp_path):
    """Per-EPOCH streaming budget (the batch engine's per-round semantic):
    the domain counter resets when a new epoch arrives, carries within an
    epoch across micro-batches, and late rows of a closed epoch defer."""
    import time

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from siren_spark.streaming.politeness_state import run_throttle_query

    schema = StructType([
        StructField("domain", StringType()),
        StructField("url_canon", StringType()),
        StructField("priority", DoubleType()),
        StructField("epoch", LongType()),
    ])
    src = str(tmp_path / "esrc")
    out, ck = str(tmp_path / "eout"), str(tmp_path / "eck")
    links = None
    batches = [
        # epoch 0: three rows, budget 2 -> a,b admitted, c deferred
        [("h.example", "a", 0.9, 0), ("h.example", "b", 0.8, 0),
         ("h.example", "c", 0.7, 0)],
        # epoch 0 is exhausted (state carried across batches) -> d defers;
        # epoch 1 resets -> e,f admitted, g deferred
        [("h.example", "d", 1.0, 0), ("h.example", "e", 0.9, 1),
         ("h.example", "f", 0.8, 1), ("h.example", "g", 0.7, 1)],
        # epoch 2 resets -> h admitted; late epoch-0 row i is deferred
        [("h.example", "h", 0.5, 2), ("h.example", "i", 1.0, 0)],
    ]
    for i, rows in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode(mode).parquet(src)
        if links is None:
            links = (spark.readStream.schema(schema)
                     .option("maxFilesPerTrigger", "1")
                     .format("parquet").load(src))
        q = run_throttle_query(links, out, ck, budget_per_host=2,
                               epoch_col="epoch")
        q.awaitTermination(120)
    time.sleep(0.5)

    rows = spark.read.parquet(out).collect()
    admitted = {r.url_canon for r in rows if r.admitted == 1}
    deferred = {r.url_canon for r in rows if r.admitted == 0}
    assert admitted == {"a", "b", "e", "f", "h"}
    assert deferred == {"c", "d", "g", "i"}
    # epoch column round-trips
    assert {(r.url_canon, r.epoch) for r in rows if r.url_canon in "ai"} \
        == {("a", 0), ("i", 0)}


def test_politeness_throttle_rejects_bad_epochs(spark, tmp_path):
    """A NULL or negative epoch must fail the stream with an actionable
    error (ADVICE r03): NULL would otherwise crash astype('int64') deep
    in the stateful UDF, and a negative epoch collides with the -1
    no-epoch sentinel and would be silently deferred forever."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from siren_spark.streaming.politeness_state import run_throttle_query

    schema = StructType([
        StructField("domain", StringType()),
        StructField("url_canon", StringType()),
        StructField("priority", DoubleType()),
        StructField("epoch", LongType()),
    ])
    for name, bad_epoch, frag in (("null", None, "NULL in epoch column"),
                                  ("neg", -3, "must be >= 0")):
        src = str(tmp_path / f"src_{name}")
        spark.createDataFrame(
            [("h.example", "a", 0.9, bad_epoch)], schema,
        ).coalesce(1).write.mode("overwrite").parquet(src)
        links = (spark.readStream.schema(schema)
                 .format("parquet").load(src))
        q = run_throttle_query(
            links, str(tmp_path / f"out_{name}"),
            str(tmp_path / f"ck_{name}"),
            budget_per_host=2, epoch_col="epoch")
        with pytest.raises(StreamingQueryException, match=frag):
            q.awaitTermination(120)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Closed sessions from the stateful streaming sessionizer ==
    the batch operator's sessions, minus each key's final (still
    open) one — even when a micro-batch boundary lands mid-session."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from siren_spark.operators.sessionize import sessionize
    from siren_spark.streaming.session_state import run_session_query

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_s", DoubleType()),
        StructField("value", DoubleType()),
    ])
    rows = [(u, u * 100 + s * 10 + i,
             float(s * 5000 + i * 60 + u), 1.0 + i)
            for u in range(6) for s in range(3) for i in range(4)]
    # split mid-session-2 so state must carry an open session across
    # the trigger boundary
    cut = 5000 + 2 * 60
    b1 = [r for r in rows if r[2] < cut]
    b2 = [r for r in rows if r[2] >= cut]

    def to_events(df):
        return df.select("user_id", "event_id",
                         F.timestamp_seconds("ts_s")
                         .cast("timestamp_ntz").alias("ts"), "value")

    src = str(tmp_path / "src")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = to_events(spark.readStream.schema(schema)
                       .option("maxFilesPerTrigger", "1")
                       .format("parquet").load(src))
    q = run_session_query(stream, out, ck, gap_seconds=300,
                          value_col="value")
    q.awaitTermination(120)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q = run_session_query(stream, out, ck, gap_seconds=300,
                          value_col="value")
    q.awaitTermination(120)
    time.sleep(0.5)

    got = sorted(
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us,
         r.duration_s, r.value_sum_c)
        for r in spark.read.parquet(out).collect())

    batch = sessionize(
        to_events(spark.createDataFrame(rows, schema)),
        gap_seconds=300, value_col="value")
    last_seq = {r.user_id: r.mx for r in
                batch.groupBy("user_id")
                .agg(F.max("session_seq").alias("mx")).collect()}

    def us(dt):
        import calendar
        return (calendar.timegm(dt.timetuple()) * 10 ** 6
                + dt.microsecond)

    want = sorted(
        (r.user_id, r.session_seq, r.n_events, us(r.start_ts),
         us(r.end_ts), r.duration_s, r.value_sum_c)
        for r in batch.collect()
        if r.session_seq != last_seq[r.user_id])
    assert got == want and len(got) == 12  # 6 users x 2 closed


def test_streaming_sessionize_late_row_merges_without_rewind(spark,
                                                             tmp_path):
    """A cross-batch late row joins the open session's counts but never
    moves its clock backwards or reopens an emitted session."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    from siren_spark.streaming.session_state import run_session_query

    schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_s", DoubleType()),
        StructField("value", DoubleType()),
    ])

    def to_events(df):
        return df.select("user_id", "event_id",
                         F.timestamp_seconds("ts_s")
                         .cast("timestamp_ntz").alias("ts"), "value")

    src = str(tmp_path / "src")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame([(1, 1, 100.0, 1.0)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = to_events(spark.readStream.schema(schema)
                       .option("maxFilesPerTrigger", "1")
                       .format("parquet").load(src))
    q = run_session_query(stream, out, ck, gap_seconds=300,
                          value_col="value")
    q.awaitTermination(120)
    # batch 2: one late row (ts 50 < 100) + one far-future row that
    # closes the session
    spark.createDataFrame([(1, 2, 50.0, 2.0), (1, 3, 99999.0, 4.0)],
                          schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q = run_session_query(stream, out, ck, gap_seconds=300,
                          value_col="value")
    q.awaitTermination(120)
    time.sleep(0.5)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    # late row counted (n=2, cents 100+200) but clock stays at ts=100
    assert (r.n_events, r.value_sum_c) == (2, 300)
    assert r.start_us == r.end_us == 100 * 10 ** 6
    assert r.duration_s == 0
