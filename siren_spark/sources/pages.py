"""Pages-store interface: Iceberg when available, Parquet fallback.

The input table per BASELINE.json input_hint:
``url string, warc_ts timestamp, html binary, text string, lang string``
(+ optional precomputed ``url_canon`` — strongly recommended at ingest,
see crawl.prepare_pages).

This sandbox ships no Iceberg runtime jar (SURVEY.md §7.6), so the store
is an interface with a Parquet implementation; ``IcebergPageStore``
carries the exact configuration a cluster deployment uses and fails
loudly when the catalog is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from siren_spark.functions.udfs import canonicalize_udf

PAGES_SCHEMA = ("url string, url_canon string, warc_ts timestamp, "
                "html binary, text string, lang string")


class PageStore:
    def read(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def write(self, df: DataFrame) -> None:
        raise NotImplementedError


class ParquetPageStore(PageStore):
    """Plain parquet store. Its reads carry no partitioning, so a fetch
    join that cannot broadcast shuffles the corpus; a corpus that must
    stay in place is bucketed at ingest
    (:class:`BucketedParquetPageStore`)."""

    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def write(self, df: DataFrame) -> None:
        if "url_canon" not in df.columns:
            df = df.withColumn("url_canon", canonicalize_udf(F.col("url")))
        df.write.mode("overwrite").parquet(self.path)


class BucketedParquetPageStore(PageStore):
    """Catalog-registered bucketed pages table — the stock-Spark
    stand-in for :class:`IcebergPageStore`'s ``bucket(N, url_canon)``
    partition transform.

    ``bucketBy(N, url_canon) + sortBy(url_canon)`` records the
    bucketing in the session catalog, so a fetch join on url_canon
    plans with NO exchange on the pages side: with
    ``CrawlConfig(fetch_join='bucketed')`` the crawl round shuffles
    only the (small) scheduled side into the N buckets and streams the
    corpus through per-bucket hash maps — no per-round driver
    broadcast build, no corpus shuffle, no corpus sort. Write once at
    ingest (one corpus shuffle, amortized over every round of every
    crawl); read via ``spark.table`` so the bucketing metadata
    attaches to the scan.
    """

    def __init__(self, table: str, buckets: int = 64,
                 path: str | None = None):
        self.table = table
        self.buckets = buckets
        self.path = path

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the bucketed table, re-attaching catalog metadata when
        absent.

        Spark's default session catalog is in-memory: a table
        ``saveAsTable``-d by an ingest job exists on disk but a LATER
        session (the common case — ingest once, crawl for weeks) has no
        entry for it, and a plain ``spark.read.parquet`` of the files
        would silently DROP the bucketing metadata, downgrading every
        fetch join back to broadcast/SMJ. Re-register with the original
        bucket spec instead — pinned by the ``_bucketing.json`` sidecar
        the write leaves next to the data, because registering with the
        WRONG bucket count would make Spark co-locate join sides by a
        hash layout the files don't have (silently missing matches).
        Iceberg carries this metadata in the table itself
        (:class:`IcebergPageStore`); the sidecar is the stock-Spark
        stand-in.
        """
        if spark.catalog.tableExists(self.table):
            return spark.table(self.table)
        if not self.path:
            return spark.table(self.table)  # raises the standard error
        import json
        import os
        meta_path = os.path.join(self.path, "_bucketing.json")
        with open(meta_path) as f:
            meta = json.load(f)
        if int(meta["buckets"]) != self.buckets:
            raise ValueError(
                f"bucket count mismatch for {self.table!r}: table on disk "
                f"has {meta['buckets']} buckets, store configured with "
                f"{self.buckets} — registering the wrong spec would "
                "silently drop join matches")
        schema = spark.read.parquet(self.path).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)
        spark.sql(
            f"CREATE TABLE `{self.table}` ({cols}) USING parquet "
            f"CLUSTERED BY ({meta['col']}) SORTED BY ({meta['col']}) "
            f"INTO {self.buckets} BUCKETS LOCATION '{self.path}'")
        return spark.table(self.table)

    def write(self, df: DataFrame) -> None:
        if "url_canon" not in df.columns:
            df = df.withColumn("url_canon", canonicalize_udf(F.col("url")))
        # pre-shuffle into the bucket layout (same murmur3 pmod N hash)
        # so each write task holds exactly one bucket and every bucket
        # lands as ONE file — without this each task emits its own file
        # per bucket and the file count multiplies by write parallelism
        w = (df.repartition(self.buckets, "url_canon")
             .write.mode("overwrite")
             .bucketBy(self.buckets, "url_canon").sortBy("url_canon")
             .format("parquet"))
        if self.path:
            w = w.option("path", self.path)
        w.saveAsTable(self.table)
        if self.path:
            import json
            import os
            with open(os.path.join(self.path, "_bucketing.json"), "w") as f:
                json.dump({"buckets": self.buckets, "col": "url_canon"}, f)


class IcebergPageStore(PageStore):
    """Iceberg-backed store (cluster deployments).

    Requires the iceberg-spark-runtime jar and a catalog, e.g.::

        spark.sql.catalog.crawl = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.crawl.type = hadoop
        spark.sql.catalog.crawl.warehouse = <path>

    Table DDL (bucketed for co-located fetch joins)::

        CREATE TABLE crawl.pages (url string, url_canon string,
            warc_ts timestamp, html binary, text string, lang string)
        USING iceberg PARTITIONED BY (bucket(1024, url_canon))
    """

    def __init__(self, table: str):
        self.table = table

    def read(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.table(self.table)
        except Exception as e:  # catalog/jar absent in this sandbox
            raise RuntimeError(
                f"Iceberg table {self.table!r} unavailable — is the "
                "iceberg-spark-runtime jar on the classpath and the "
                "catalog configured? Use ParquetPageStore locally."
            ) from e

    def write(self, df: DataFrame) -> None:
        df.writeTo(self.table).createOrReplace()


__all__ = ["PageStore", "ParquetPageStore", "BucketedParquetPageStore",
           "IcebergPageStore", "PAGES_SCHEMA"]
