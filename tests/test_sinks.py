"""CSV-sink byte identity, pages store, jobs CLI."""

import csv
import io
from datetime import datetime

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
