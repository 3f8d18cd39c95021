"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (the generic DataFrame operators the crawl engine composes)
plus the training-data-pipeline operators (dedup, similarity search,
text analysis) over the documents/embeddings tables. ``oracle_sql()``
gives the DuckDB-equivalent SQL for every query.

Determinism rules used throughout (so value-hash comparison is exact):
- money/value sums are computed on per-row scaled BIGINTs (deterministic
  regardless of aggregation order), divided back at the end;
- embedding math quantizes floats with floor(x*1000) to BIGINT, so dot
  products are exact integer sums; cosine = one IEEE-exact div/sqrt;
- every computed column is aliased identically in both dialects and
  integer outputs are cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

SF_DEFAULT = "/root/testdata/sf0.001"


_VIEWS_READY: set[tuple[str, str]] = set()


def _views(spark: SparkSession, sf_dir: str) -> None:
    """Register the input tables as temp views — once per (application,
    dir): each spark.read.parquet is a driver-side listing + footer
    read (~0.8 s for the 10 tables), pure metadata that is identical
    on every call. Memoizing PLAN SETUP only — every query execution
    still computes from the parquet inputs. The memo is keyed on the
    application id (a new session may reuse a stopped one's ``id()``)
    and trusted only while every view still exists."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _VIEWS_READY and all(spark.catalog.tableExists(t)
                                   for t in TABLES):
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    _VIEWS_READY.add(key)


def _q(spark_sql: str, duck_sql: str | None = None):
    """Build a (callable, oracle) pair from a Spark-dialect SQL string."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return spark.sql(spark_sql)
    return fn, (duck_sql if duck_sql is not None else spark_sql)


# ---------------------------------------------------------------------------
# flagship: TPC-H Q1-shaped pricing summary (scaled-int sums)
# ---------------------------------------------------------------------------
_Q1_SPARK = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT)                                   AS cnt,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
                                                                  AS sum_qty_c,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                                                                  AS sum_price_c,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
                                                                  AS sum_disc_price_c
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
_Q1_DUCK = _Q1_SPARK.replace(
    "CAST(ROUND(l_quantity * 100) AS BIGINT)",
    "CAST(ROUND(l_quantity * 100) AS BIGINT)"
)

# ---------------------------------------------------------------------------
# P-family: projections / filters / computed columns (SURVEY §2.2)
# ---------------------------------------------------------------------------
_P1 = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
"""

_P3 = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents
WHERE lower(text) LIKE '%spark%' OR lower(text) LIKE '%shuffle%'
"""

_P8 = """
SELECT CAST(c_custkey AS BIGINT) AS customer_id,
       c_name AS customer_name,
       c_mktsegment AS segment
FROM customer WHERE c_acctbal > 9000
"""

_P9_SPARK = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       COALESCE(o_orderstatus, '- no data -') AS status,
       date_format(o_orderdate, 'yyyy-MM-dd') AS order_day,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_c
FROM orders WHERE o_custkey % 100 = 7
"""
_P9_DUCK = _P9_SPARK.replace(
    "date_format(o_orderdate, 'yyyy-MM-dd')", "strftime(o_orderdate, '%Y-%m-%d')"
)

_P6 = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_valid
FROM documents
WHERE text IS NOT NULL AND length(text) > 0 AND lang IS NOT NULL
GROUP BY lang
"""

# ---------------------------------------------------------------------------
# A-family: dedup / aggregation (SURVEY §2.4)
# ---------------------------------------------------------------------------
_A1 = """
SELECT md5(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents GROUP BY md5(text)
"""

# the seen-set anti-join (A2): customers with no "urgent" order. The
# Spark side is the REAL operators/seen.filter_unseen (Bloom negatives
# skip the join; maybe-seen rows exact-confirm); this is its oracle.
_A2_DUCK = """
SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_name AS c_name
FROM customer c WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT')
"""

_A3 = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS latest_event,
       event_type AS latest_type
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

def _q_a3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user as ONE aggregation pass:
    max_by(struct(event_id, event_type), struct(ts, event_id)) — the
    struct ordering (ts, then event_id) is exactly the oracle's
    ROW_NUMBER ORDER BY ts DESC, event_id DESC tie rule, and the
    partial max_by reduces each task to one row per user before the
    exchange. The window formulation this replaced sorted every task's
    full row set by (user, ts, event_id); the aggregate sorts by user
    only (SortAggregate — max_by's struct buffer is not fixed-width)
    and carries 3 columns. Measured 1.09s -> 0.77s at sf1.0."""
    from pyspark.sql import functions as F
    _views(spark, sf_dir)
    ev = spark.table("events")
    return (ev.groupBy(F.col("user_id").cast("long").alias("user_id"))
            .agg(F.max_by(
                F.struct(F.col("event_id").cast("long").alias("latest_event"),
                         F.col("event_type").alias("latest_type")),
                F.struct("ts", "event_id")).alias("m"))
            .select("user_id", "m.latest_event", "m.latest_type"))


_A5 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events GROUP BY event_type
"""

_A6_SPARK = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       array_join(array_sort(collect_list(concat(event_type, ':',
           CAST(n AS STRING)))), ',') AS type_counts
FROM (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type)
GROUP BY user_id
"""
_A6_DUCK = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       string_agg(event_type || ':' || CAST(n AS VARCHAR), ','
                  ORDER BY event_type || ':' || CAST(n AS VARCHAR)) AS type_counts
FROM (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type)
GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# J-family: joins / enrichment (SURVEY §2.3)
# ---------------------------------------------------------------------------
_J1_SPARK = """
SELECT /*+ BROADCAST(p) */ p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""
_J1_DUCK = _J1_SPARK.replace("/*+ BROADCAST(p) */ ", "")

_J4 = """
SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       c.c_name AS c_name, c.c_mktsegment AS c_mktsegment,
       o.o_orderpriority AS o_orderpriority
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 50 = 0
"""

_J6 = """
SELECT r.r_name AS r_name, s.seg AS seg
FROM region r CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
"""

# ---------------------------------------------------------------------------
# F-family: pagination / fan-out arithmetic (SURVEY §2.5)
# ---------------------------------------------------------------------------
_F1 = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS total_docs,
       CAST(FLOOR(COUNT(*) / 50.0) + 2 AS BIGINT) AS pages_to_fetch
FROM events GROUP BY user_id
"""

_F2_SPARK = """
SELECT CAST(pageno AS BIGINT) AS pageno
FROM (SELECT explode(sequence(10, 49)) AS pageno)
"""
_F2_DUCK = """
SELECT CAST(pageno AS BIGINT) AS pageno
FROM (SELECT unnest(generate_series(10, 49)) AS pageno)
"""

_F3_SPARK = """
SELECT date_format(d, 'yyyy-MM-dd') AS day
FROM (SELECT explode(sequence(DATE '2022-10-01', DATE '2022-12-31',
                              INTERVAL 1 DAY)) AS d)
"""
_F3_DUCK = """
SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS day
FROM (SELECT unnest(generate_series(DATE '2022-10-01', DATE '2022-12-31',
                                    INTERVAL 1 DAY)) AS d)
"""

_TOPK = """
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_c
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) WHERE rn <= 5
"""

# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------
# word-3-gram shingles; 8 minhash permutations from 2 md5s per shingle
# (disjoint 8-hex slices of md5(s)||md5(s||'#')) — 4x cheaper than
# hashing per permutation. Spark side = the REAL engine function
# (siren_spark.functions.similarity.minhash_lsh_pairs); this DuckDB SQL
# replicates its math, including the band_cap=256 hot-band guard.
_MINHASH_DUCK = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([toks[(i+1)::INT] || ' ' || toks[(i+2)::INT] || ' ' || toks[(i+3)::INT]
                        for i in generate_series(0, len(toks)-3)]) AS shingles
  FROM tk WHERE len(toks) >= 3
), hh AS (
  SELECT doc_id,
         list_transform(shingles, s -> md5(s) || md5(s || '#')) AS hs
  FROM sh
), mh AS (
  SELECT doc_id,
         [list_min(list_transform(hs, h -> substring(h, (1 + 8*j)::INT, 8)))
          for j in generate_series(0, 7)] AS sig
  FROM hh
), bands AS (
  SELECT doc_id, b, sig[b*2+1] || sig[b*2+2] AS band_key
  FROM mh, generate_series(0, 3) t(b)
  QUALIFY COUNT(*) OVER (PARTITION BY b, sig[b*2+1] || sig[b*2+2]) <= 256
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b
FROM bands a JOIN bands b
  ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""

# near-dup cluster resolution: the MinHash pair frame -> connected
# components -> one canonical keeper per cluster (min doc id). Spark
# side = the REAL similarity.dedup_components (alternating large-star/
# small-star joins); the oracle walks reachability with a recursive CTE
# over the identical pair frame, so component boundaries must agree
# exactly. Docs in no pair are their own canonical component.
_COMPONENTS_DUCK = f"""
WITH RECURSIVE pr AS ({_MINHASH_DUCK}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pr
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pr
),
walk(node, comp) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node
),
comp AS (
  SELECT node AS doc_id, MIN(comp) AS component_id FROM walk GROUP BY node
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS component_id,
       CAST(CASE WHEN COALESCE(c.component_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""

# exact-Jaccard verification of the MinHash candidates (the verify
# stage after LSH blocking — two id equi-joins, never all-pairs)
_JACCARD_VERIFY_DUCK = f"""
WITH pairs AS ({_MINHASH_DUCK}),
t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents)
SELECT p.doc_a AS doc_a, p.doc_b AS doc_b,
       ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
             CAST(len(list_distinct(ta.toks || tb.toks)) AS DOUBLE), 4)
         AS jaccard
FROM pairs p
JOIN t ta ON ta.doc_id = p.doc_a
JOIN t tb ON tb.doc_id = p.doc_b
"""

# exact duplicate-span stats (fixed-window exact substring dedup):
# every 16-token sliding window fingerprinted with md5; an occurrence
# is duplicated when its fingerprint appears in >= 2 distinct docs
_SPAN_W = 16
_SPAN_DUCK = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')
           AS t
  FROM documents
),
wins AS (
  SELECT doc_id,
         md5(array_to_string(t[i:i+{_SPAN_W - 1}], ' ')) AS w
  FROM toks,
       unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 0) + 1)) AS u(i)
),
per AS (SELECT w, doc_id, count(*) AS c FROM wins GROUP BY w, doc_id),
dup AS (
  SELECT doc_id, SUM(c) AS n_dup FROM (
    SELECT w, doc_id, c, count(*) OVER (PARTITION BY w) AS nd FROM per
  ) WHERE nd > 1 GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         greatest(len(string_split(regexp_replace(trim(text), '\\s+',
                                                  ' ', 'g'), ' '))
                  - {_SPAN_W} + 1, 0) AS n_windows
  FROM documents
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(b.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_windows,
       ROUND(CASE WHEN b.n_windows = 0 THEN 0.0
                  ELSE coalesce(d.n_dup, 0) * 1.0 / b.n_windows
             END, 4) AS dup_frac
FROM base b LEFT JOIN dup d USING (doc_id)
"""

_SIMHASH_DUCK = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, i,
         SUM(CASE WHEN (CAST(FLOOR(h / POWER(2, i)) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM th, generate_series(0, 15) t(i)
  GROUP BY doc_id, i
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, i) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS simhash16
FROM bits GROUP BY doc_id
"""

# embedding math: quantize with floor(x*1000) -> exact integer dots
_ANN_SPARK = """
WITH q AS (
  SELECT vec_id AS q_id,
         transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 5
), e AS (
  SELECT vec_id,
         transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ev
  FROM embeddings
), s AS (
  SELECT q.q_id, e.vec_id,
         aggregate(zip_with(q.qv, e.ev, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS dot,
         aggregate(transform(q.qv, x -> x * x), 0L, (acc, v) -> acc + v) AS nq,
         aggregate(transform(e.ev, x -> x * x), 0L, (acc, v) -> acc + v) AS ne
  FROM q CROSS JOIN e WHERE q.q_id <> e.vec_id
)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ne AS DOUBLE)), 6)
         AS cosine
FROM s
"""
_ANN_DUCK = """
WITH q AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 5
), e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS ev
  FROM embeddings
), s AS (
  SELECT q.q_id, e.vec_id,
         CAST(list_sum(list_transform(list_zip(q.qv, e.ev), p -> p[1] * p[2])) AS BIGINT) AS dot,
         CAST(list_sum(list_transform(q.qv, x -> x * x)) AS BIGINT) AS nq,
         CAST(list_sum(list_transform(e.ev, x -> x * x)) AS BIGINT) AS ne
  FROM q CROSS JOIN e WHERE q.q_id <> e.vec_id
)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(nq AS DOUBLE) * CAST(ne AS DOUBLE)), 6)
         AS cosine
FROM s
"""

def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-3 cosine neighbors for queries vec_id < 5
    (similarity.ann_brute_topk): one NumPy int64 matmul per Arrow batch
    over the quantized corpus, JVM-side ROUND(dot/sqrt(nq*ne), 6) —
    bit-identical to the old cross-join SQL formulation this replaced
    (the interpreted per-pair array lambdas owned the query cost)."""
    from pyspark.sql import functions as F

    from siren_spark.functions.similarity import ann_brute_topk
    _views(spark, sf_dir)
    return ann_brute_topk(spark.table("embeddings"),
                          query_filter=F.col("vec_id") < 5, k=3)


_ANN_TOPK_DUCK = f"""
WITH sims AS ({_ANN_DUCK})
SELECT q_id, vec_id, cosine FROM (
  SELECT q_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM sims
) WHERE rn <= 3
"""

# LSH-bucketed ANN scale path: deterministic integer hyperplanes ->
# sign bucket. Spark side = siren_spark.functions.similarity
# .embedding_lsh_buckets (same 4 planes); at 10^10 rows the join
# happens per bucket.
_IVF_DUCK = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS ev
  FROM embeddings
), b AS (
  SELECT vec_id,
         CAST(list_sum([ev[i+1] * ((i * 1 + 7) % 13 - 6)
                        for i in generate_series(0, len(ev)-1)]) AS BIGINT) AS d0,
         CAST(list_sum([ev[i+1] * ((i * 2 + 7) % 13 - 6)
                        for i in generate_series(0, len(ev)-1)]) AS BIGINT) AS d1,
         CAST(list_sum([ev[i+1] * ((i * 3 + 7) % 13 - 6)
                        for i in generate_series(0, len(ev)-1)]) AS BIGINT) AS d2,
         CAST(list_sum([ev[i+1] * ((i * 5 + 7) % 13 - 6)
                        for i in generate_series(0, len(ev)-1)]) AS BIGINT) AS d3
  FROM e
)
SELECT CAST(CASE WHEN d0 > 0 THEN 8 ELSE 0 END
     + CASE WHEN d1 > 0 THEN 4 ELSE 0 END
     + CASE WHEN d2 > 0 THEN 2 ELSE 0 END
     + CASE WHEN d3 > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY 1
"""

# embedding near-dup: LSH sign-bucket blocking (same 4 hyperplanes as
# ann_lsh_buckets) -> exact cosine within bucket -> threshold. Spark
# side = siren_spark.functions.similarity.embedding_near_dups; the
# blocked self-join is the 10^10-scale shape (pairs only within
# buckets; raise n_planes toward 2*log2(N) as the corpus grows).
_EMB_DEDUP_DUCK = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS ev
  FROM embeddings
), bb AS (
  SELECT vec_id, ev,
         CASE WHEN CAST(list_sum([ev[i+1] * ((i * 1 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 8 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 2 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 4 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 3 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 2 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 5 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 1 ELSE 0 END AS bucket
  FROM e
  QUALIFY COUNT(*) OVER (PARTITION BY
         CASE WHEN CAST(list_sum([ev[i+1] * ((i * 1 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 8 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 2 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 4 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 3 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 2 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 5 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 1 ELSE 0 END) <= 4096
), p AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         CAST(list_sum(list_transform(list_zip(x.ev, y.ev), q -> q[1] * q[2])) AS BIGINT) AS dot,
         CAST(list_sum(list_transform(x.ev, u -> u * u)) AS BIGINT) AS nx,
         CAST(list_sum(list_transform(y.ev, u -> u * u)) AS BIGINT) AS ny
  FROM bb x JOIN bb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b,
       ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)), 6) AS cosine
FROM p
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)) >= 0.35
"""

# BPE-ish regex tokenizer: runs of letters | digits | single non-space
# symbol (the whitespace+symbol split a byte-level BPE pre-tokenizer
# does). Spark side = siren_spark.functions.text.with_bpe_token_count.
_TOK_BPE_DUCK = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""

# text analysis ------------------------------------------------------------
_LANGID = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN CAST((length(' ' || text || ' ')
                 - length(replace(' ' || text || ' ', ' the ', ''))) / 5
                 + (length(' ' || text || ' ')
                 - length(replace(' ' || text || ' ', ' a ', ''))) / 3
               AS BIGINT) >= 2
            THEN 'en' ELSE 'und' END AS predicted_lang
FROM documents
"""

_TOKCOUNT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
         AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""

_QUALITY = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE), 4)
         AS avg_word_len,
       ROUND(LEAST(CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS DOUBLE) / 100.0, 1.0), 4) AS length_score
FROM documents WHERE length(text) > 0
"""

_FINGERPRINT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(concat(substring(text, 1, 40), '|', CAST(length(text) AS STRING),
                  '|', substring(text, greatest(length(text) - 39, 1), 40)))
         AS fingerprint
FROM documents
"""
_FINGERPRINT_DUCK = _FINGERPRINT.replace("AS STRING", "AS VARCHAR")



# ---------------------------------------------------------------------------
# crawl-core UDFs oracle-checked: build a URL family from customer keys in
# SQL, canonicalize with the engine's real pandas UDF, and compare to the
# independently SQL-constructed canonical form.
# ---------------------------------------------------------------------------

def _q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from siren_spark.functions.udfs import canonicalize_udf, domain_udf
    _views(spark, sf_dir)
    raw = spark.sql("""
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
               concat('HTTP://News', CAST(c_nationkey AS STRING),
                      '.Example.COM:80/a/./b/../story-',
                      CAST(c_custkey AS STRING),
                      '?zeta=1&alpha=', CAST(c_nationkey AS STRING),
                      '#frag') AS url
        FROM customer
    """)
    return raw.select(
        "c_custkey",
        canonicalize_udf(F.col("url")).alias("url_canon"),
        domain_udf(canonicalize_udf(F.col("url"))).alias("domain"),
    )


_CANON_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       'http://news' || CAST(c_nationkey AS VARCHAR)
         || '.example.com/a/story-' || CAST(c_custkey AS VARCHAR)
         || '?alpha=' || CAST(c_nationkey AS VARCHAR) || '&zeta=1' AS url_canon,
       'example.com' AS domain
FROM customer
"""


# ---------------------------------------------------------------------------
# engine-API queries: each callable runs the REAL siren_spark function
# (functions/text.py, functions/similarity.py) and the oracle SQL
# replicates its math in DuckDB — the gate verifies engine code, not
# inline SQL (pattern: _q_canonicalize).
# ---------------------------------------------------------------------------

def _docs_q(engine_fn):
    """queries() entry running an engine function over `documents`."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return engine_fn(spark.table("documents"))
    return run


def _q_dedup_exact(docs):
    from siren_spark.functions.text import dedup_exact
    return dedup_exact(docs)


def _q_langid(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_langid
    return with_langid(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "predicted_lang")


def _q_tokcount(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_token_counts
    return with_token_counts(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_tokens", "n_chars")


def _q_tokbpe(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_bpe_token_count
    return with_bpe_token_count(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_bpe_tokens")


def _q_quality(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_quality_score
    return with_quality_score(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "avg_word_len", "length_score")


def _q_text_stats(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_text_stats
    return with_text_stats(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "stopword_ratio", "punct_ratio", "alpha_ratio")


def _text_stats_duck() -> str:
    from siren_spark.functions.text import STOPWORDS
    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> list_contains({sw}, x))) AS DOUBLE)
             / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4)
         AS stopword_ratio,
       ROUND(CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]', 0)) AS DOUBLE)
             / CAST(length(lower(text)) AS DOUBLE), 4) AS punct_ratio,
       ROUND(CAST(len(regexp_extract_all(lower(text), '[a-z]', 0)) AS DOUBLE)
             / CAST(length(lower(text)) AS DOUBLE), 4) AS alpha_ratio
FROM documents WHERE length(text) > 0
"""


_TEXT_STATS_DUCK = _text_stats_duck()


def _q_fingerprint(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_fingerprint
    return with_fingerprint(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "fingerprint")


def _q_repetition(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_repetition_stats
    return with_repetition_stats(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "dup_line_ratio", "dup_token_ratio")


_REPETITION_DUCK = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(1.0 - CAST(len(list_distinct(string_split(text, chr(10))))
                        AS DOUBLE)
                   / CAST(len(string_split(text, chr(10))) AS DOUBLE), 4)
         AS dup_line_ratio,
       ROUND(1.0 - CAST(len(list_distinct(string_split(lower(text), ' ')))
                        AS DOUBLE)
                   / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4)
         AS dup_token_ratio
FROM documents WHERE length(text) > 0
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents augmented with deterministic synthetic
    PII (the synthetic corpus carries none of its own — the injection
    makes the match counts and replacements non-trivial)."""
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_pii_scrubbed
    _views(spark, sf_dir)
    aug = spark.table("documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex-mail.example.com or 415-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                   4, "0")).alias("text"))
    return with_pii_scrubbed(aug).select(
        "doc_id", "n_emails", "n_phones", "text_scrubbed")


def _pii_duck() -> str:
    from siren_spark.functions.text import PII_EMAIL_RE, PII_PHONE_RE
    return f"""
WITH aug AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@ex-mail.example.com or 415-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}', 0)) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}', 0)) AS BIGINT)
         AS n_phones,
       regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PII_PHONE_RE}', '<PHONE>', 'g') AS text_scrubbed
FROM aug
"""


_PII_DUCK = _pii_duck()


def _q_minhash(docs):
    from siren_spark.functions.similarity import minhash_lsh_pairs
    return minhash_lsh_pairs(docs, perms=8, bands=4, band_cap=256)


def _q_dup_spans(docs):
    from siren_spark.functions.similarity import duplicate_span_stats
    return duplicate_span_stats(docs, window=_SPAN_W)


def _q_simhash(docs):
    from siren_spark.functions.similarity import simhash16
    return simhash16(docs)


def _q_simhash64(docs):
    from siren_spark.functions.similarity import simhash64
    return simhash64(docs)


def _q_simhash_near_dups(docs):
    from siren_spark.functions.similarity import simhash_near_dups
    return simhash_near_dups(docs, max_hamming=3)


def _simhash64_duck() -> str:
    """DuckDB replica of similarity.simhash64 (64 conditional sums over
    md5-slice halves; two u32 outputs, no signed overflow)."""
    bit = "SUM(CASE WHEN ({src} & ({one} << {i})) != 0 THEN 1 ELSE -1 END) AS s{n}"
    sums = ", ".join(
        [bit.format(src="hlo", one="1::BIGINT", i=i, n=i) for i in range(32)]
        + [bit.format(src="hhi", one="1::BIGINT", i=i, n=i + 32)
           for i in range(32)])
    half = lambda lo: " + ".join(  # noqa: E731
        f"CASE WHEN s{lo + i} > 0 THEN {1 << i}::BIGINT ELSE 0 END"
        for i in range(32))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hlo,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hhi
  FROM tok
), sums AS (
  SELECT doc_id, {sums} FROM th GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({half(32)} AS BIGINT) AS sim_hi,
       CAST({half(0)} AS BIGINT) AS sim_lo
FROM sums
"""


_SIMHASH64_DUCK = _simhash64_duck()

# Hamming-band near-dup oracle: 64-bit signature in 4x16-bit chunks;
# pigeonhole blocking (dist<=3 => >=1 chunk equal), verify via bit_count.
_SIMHASH_ND_DUCK = f"""
WITH sig AS ({_SIMHASH64_DUCK}),
blocked AS (
  SELECT doc_id, sim_hi, sim_lo, 0 AS c, sim_lo & 65535 AS ck FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 1, (sim_lo >> 16) & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 2, sim_hi & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 3, (sim_hi >> 16) & 65535 FROM sig
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         MIN(bit_count(xor(a.sim_hi, b.sim_hi))
             + bit_count(xor(a.sim_lo, b.sim_lo))) AS hamming
  FROM blocked a JOIN blocked b
    ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
) WHERE hamming <= 3
"""


def _q_dedup_components(docs):
    from siren_spark.functions.similarity import (
        dedup_components, minhash_lsh_pairs,
    )
    pairs = minhash_lsh_pairs(docs, perms=8, bands=4, band_cap=256)
    return dedup_components(pairs, ids=docs.select("doc_id"))


def _q_jaccard_verify(docs):
    from siren_spark.functions.similarity import (
        jaccard_verify, minhash_lsh_pairs,
    )
    pairs = minhash_lsh_pairs(docs, perms=8, bands=4, band_cap=256)
    return jaccard_verify(docs, pairs)


def _emb_q(engine_fn):
    """queries() entry running an engine function over `embeddings`."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return engine_fn(spark.table("embeddings"))
    return run


def _q_lsh_buckets(emb):
    from pyspark.sql import functions as F
    from siren_spark.functions.similarity import embedding_lsh_buckets
    return (embedding_lsh_buckets(emb, n_planes=4)
            .groupBy(F.col("bucket").cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def _q_emb_dedup(emb):
    from siren_spark.functions.similarity import embedding_near_dups
    return embedding_near_dups(emb, threshold=0.35, n_planes=4)


def _q_ann_lsh_topk(emb):
    from pyspark.sql import functions as F
    from siren_spark.functions.similarity import ann_lsh_topk
    # bucket_cap passed explicitly (the at-scale shape; default is None
    # so a cap-induced recall drop is always opt-in) — sf0.01 buckets
    # are far under the cap, so the DuckDB oracle needs no cap model
    return ann_lsh_topk(emb, query_filter=F.col("vec_id") < 5,
                        k=3, n_planes=4, multiprobe=True, bucket_cap=4096)


def _q_ann_ivf_topk(emb):
    from pyspark.sql import functions as F
    from siren_spark.functions.similarity import ann_ivf_topk
    return ann_ivf_topk(emb, query_filter=F.col("vec_id") < 5,
                        k=3, n_centroids=8, nprobe=2)


# IVF oracle: centroids = first 8 vectors (the deterministic quantizer
# the engine uses); assignment ranks ROUND(cos,6) DESC, cent_id ASC on
# both dialects so cell boundaries match bit-for-bit.
_ANN_IVF_TOPK_DUCK = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS ev
  FROM embeddings
), c AS (
  SELECT vec_id AS cent_id, ev AS cv FROM e WHERE vec_id < 8
), s AS (
  SELECT e.vec_id, e.ev, c.cent_id,
         ROUND(CAST(CAST(list_sum(list_transform(list_zip(e.ev, c.cv), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
               / sqrt(CAST(CAST(list_sum(list_transform(e.ev, x -> x * x)) AS BIGINT) AS DOUBLE)
                      * CAST(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS BIGINT) AS DOUBLE)), 6) AS ccos
  FROM e CROSS JOIN c
), r AS (
  SELECT vec_id, ev, cent_id, ccos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cent_id ASC) AS rn
  FROM s
), db AS (
  SELECT vec_id, ev, cent_id AS cell FROM r WHERE rn = 1
), q AS (
  SELECT vec_id AS q_id, ev AS qv, cent_id AS cell
  FROM r WHERE vec_id < 5 AND rn <= 2
), cand AS (
  SELECT q.q_id, q.qv, d.vec_id, d.ev
  FROM q JOIN db d USING (cell) WHERE q.q_id <> d.vec_id
), sc AS (
  SELECT q_id, vec_id,
         ROUND(CAST(CAST(list_sum(list_transform(list_zip(qv, ev), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
               / sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS DOUBLE)
                      * CAST(CAST(list_sum(list_transform(ev, x -> x * x)) AS BIGINT) AS DOUBLE)), 6) AS cosine
  FROM cand
)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM (SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM sc) WHERE rn <= 3
"""


# LSH-blocked top-k search oracle: same 4 planes as the engine, probe =
# own bucket + every 1-bit flip, exact cosine in-bucket, rank on the
# rounded cosine (ties on vec_id) — mirrors similarity.ann_lsh_topk.
_ANN_LSH_TOPK_DUCK = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS ev
  FROM embeddings
), b AS (
  SELECT vec_id, ev,
         CASE WHEN CAST(list_sum([ev[i+1] * ((i * 1 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 8 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 2 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 4 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 3 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 2 ELSE 0 END
       + CASE WHEN CAST(list_sum([ev[i+1] * ((i * 5 + 7) % 13 - 6) for i in generate_series(0, len(ev)-1)]) AS BIGINT) > 0 THEN 1 ELSE 0 END AS bucket
  FROM e
), q AS (
  SELECT vec_id AS q_id, ev AS qv,
         unnest([bucket, xor(bucket, 8), xor(bucket, 4),
                 xor(bucket, 2), xor(bucket, 1)]) AS bucket
  FROM b WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT q.q_id, q.qv, b.vec_id, b.ev
  FROM q JOIN b USING (bucket) WHERE q.q_id <> b.vec_id
), s AS (
  SELECT q_id, vec_id,
         ROUND(CAST(CAST(list_sum(list_transform(list_zip(qv, ev), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
               / sqrt(CAST(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS DOUBLE)
                      * CAST(CAST(list_sum(list_transform(ev, x -> x * x)) AS BIGINT) AS DOUBLE)), 6) AS cosine
  FROM cand
)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM (SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM s) WHERE rn <= 3
"""

def _q_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL politeness operator (operators/politeness.py) over a
    customers-as-frontier mapping (domain=nation, priority=acctbal;
    url_canon zero-padded so string order == numeric custkey order,
    matching the oracle's tie-break)."""
    from pyspark.sql import functions as F
    from siren_spark.operators.politeness import politeness_schedule
    _views(spark, sf_dir)
    frontier = spark.table("customer").select(
        F.col("c_nationkey").cast("string").alias("domain"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("url_canon"),
        F.col("c_acctbal").cast("double").alias("priority"))
    sched, _ = politeness_schedule(frontier, budget_per_host=5,
                                   salt_buckets=4)
    return sched.select(
        F.col("domain").cast("bigint").alias("c_nationkey"),
        F.col("url_canon").cast("bigint").alias("c_custkey"),
        F.round(F.col("priority") * 100).cast("bigint").alias("acctbal_c"))


def _q_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Bloom+exact-confirm seen filter (operators/seen.py):
    customers are the frontier, urgent-order custkeys the seen set."""
    from pyspark.sql import functions as F
    from siren_spark.operators.seen import filter_unseen
    _views(spark, sf_dir)
    frontier = spark.table("customer").select(
        F.col("c_custkey").cast("string").alias("url_canon"),
        F.col("c_custkey").alias("key"), F.col("c_name"))
    seen = spark.sql("""
        SELECT DISTINCT CAST(o_custkey AS STRING) AS url_canon
        FROM orders WHERE o_orderpriority = '1-URGENT'
    """)
    out = filter_unseen(frontier, seen, bloom=True,
                        bits_per_bucket=1 << 16, buckets=4)
    return out.select(F.col("key").cast("long").alias("c_custkey"),
                      F.col("c_name").alias("c_name"))


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL iterative frontier-prioritization operator
    (functions/graph.py): deterministic modular link graph over the
    documents corpus, 3 rounds of integer-exact PageRank."""
    from pyspark.sql import functions as F
    from siren_spark.functions.graph import pagerank, synthetic_link_graph
    _views(spark, sf_dir)
    docs = spark.table("documents")
    ranks = pagerank(
        synthetic_link_graph(docs),
        docs.select(F.col("doc_id").alias("node_id")),
        iterations=3)
    return ranks.select(
        F.col("node_id").cast("long").alias("node_id"),
        F.col("pr_scaled").cast("long").alias("pr_scaled"))


def _pagerank_duck(iterations: int = 3, scale: int = 10**12,
                   num: int = 85, den: int = 100,
                   mult: int = 31, step: int = 17,
                   n_links: int = 3) -> str:
    """Replicates graph.pagerank's integer math: same modular edge set,
    same ``rank DIV outdeg`` floor division (all values non-negative, so
    DuckDB // == Spark DIV), same teleport constant, unrolled to K
    chained CTEs."""
    teleport = ((den - num) * scale) // den
    links = ", ".join(str(i) for i in range(1, n_links + 1))
    parts = [f"""
WITH jj AS (SELECT UNNEST(ARRAY[{links}]) AS j),
nn AS (SELECT COUNT(*) AS n FROM documents),
e AS (
  SELECT DISTINCT d.doc_id AS src,
         (d.doc_id*d.doc_id + d.doc_id*{mult} + jj.j*{step}) % nn.n AS dst
  FROM documents d, jj, nn
  WHERE jj.j <= 1 + d.doc_id % {n_links}
    AND (d.doc_id*d.doc_id + d.doc_id*{mult} + jj.j*{step}) % nn.n
        <> d.doc_id
),
outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT doc_id AS node_id, CAST({scale} AS BIGINT) AS r
       FROM documents)"""]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(f""",
m{i} AS (SELECT e.dst AS node_id, SUM({prev}.r // o.deg) AS m
         FROM e JOIN outdeg o ON e.src = o.src
                JOIN {prev} ON {prev}.node_id = e.src
         GROUP BY e.dst),
r{i} AS (SELECT n0.node_id,
                CAST({teleport} + ({num} * COALESCE(m{i}.m, 0)) // {den}
                     AS BIGINT) AS r
         FROM r0 n0 LEFT JOIN m{i} ON m{i}.node_id = n0.node_id)""")
        prev = f"r{i}"
    parts.append(
        f"\nSELECT node_id, r AS pr_scaled FROM {prev}")
    return "".join(parts)


_PAGERANK_DUCK = _pagerank_duck()


def _q_crawl_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole engine, end to end: deterministic sitegen web -> full
    crawl (robots off, bloom on, politeness budget) -> extracted
    records. Stateful and multi-round, hence no SQL oracle (the driver
    records the rows-only check) — but the output is SELF-CHECKING:
    every row carries the xor-of-row-md5 digest of the engine's result
    set (``self_check_actual``, computed distributively) next to the
    same digest of the single-process oracle simulator's expected
    result set for the identical site spec (``self_check_expected``,
    testing/oracle.py), plus ``self_check_ok``. A rows-only gate entry
    therefore still pins content: actual == expected is visible in the
    recorded rows themselves."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from siren_spark.crawl import CrawlConfig, run_crawl
    from siren_spark.testing.frames import pages_df, seeds_df
    from siren_spark.testing.oracle import simulate_crawl
    from siren_spark.testing.sitegen import (
        SiteSpec, WINDOW_END, WINDOW_START, build_site,
    )
    spec = SiteSpec(mirror_seed_range=(10, 12))
    site = build_site(spec)
    cfg = CrawlConfig(budget_per_host=7, window_start=WINDOW_START,
                      window_end=WINDOW_END, keywords=spec.keywords,
                      use_bloom=True, bloom_bits=1 << 16, bloom_buckets=4,
                      salt_buckets=4)

    # expected digest from the oracle simulator (pure python, same
    # SiteSpec): xor over rows of the first 15 md5 hex chars of
    # source\x1furl\x1ftitle\x1fgen — xor is order-independent and
    # overflow-free, and 15 hex chars fit a signed 64-bit long so the
    # Spark side can mirror the math exactly (conv(hex, 16, 10))
    def _rowhash_py(source, url, title, gen) -> int:
        parts = [str(x) for x in (source, url, title, gen)
                 if x is not None]
        h = hashlib.md5("\x1f".join(parts).encode()).hexdigest()
        return int(h[:15], 16)

    sim = simulate_crawl(site.pages, site.seeds,
                         budget_per_host=cfg.budget_per_host,
                         window_start=WINDOW_START, window_end=WINDOW_END,
                         keywords=spec.keywords)
    expected = 0
    for r in sim.results:
        expected ^= _rowhash_py(r["source"], r["url"], r["title"], r["gen"])

    ckpt = tempfile.mkdtemp(prefix="entry_crawl_")
    try:
        res = run_crawl(spark, pages_df(spark, site.pages),
                        seeds_df(spark, site.seeds), cfg, ckpt)
        out = res.results.select(
            "source", "url", "title",
            F.col("gen").cast("long").alias("gen"))
        # materialize before the checkpoint dir is removed — the result
        # frame otherwise reads the deleted parquet lazily. Distributed
        # write + lazy read-back (never a collect of a result frame:
        # the same discipline the engine itself follows — a real crawl's
        # results would not fit on any driver). The stable dir must
        # outlive this call (the returned frame reads it lazily), so it
        # is reclaimed at interpreter exit, not here.
        stable = tempfile.mkdtemp(prefix="entry_crawl_out_")
        atexit.register(shutil.rmtree, stable, ignore_errors=True)
        out.write.mode("overwrite").parquet(f"{stable}/results")
        got = spark.read.parquet(f"{stable}/results")
        rowhash = F.conv(F.substring(F.md5(F.concat_ws(
            "\x1f", F.col("source"), F.col("url"), F.col("title"),
            F.col("gen").cast("string"))), 1, 15), 16, 10).cast("long")
        actual = (got.select(rowhash.alias("h"))
                  .agg(F.expr("bit_xor(h)").alias("self_check_actual")))
        return (got.crossJoin(F.broadcast(actual))
                .withColumn("self_check_expected",
                            F.lit(expected).cast("long"))
                .withColumn("self_check_ok",
                            F.col("self_check_actual")
                            == F.col("self_check_expected")))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


# ---------------------------------------------------------------------------
# corpus-curation gates (functions/curation.py): deterministic sampling,
# data-mixing quotas, benchmark decontamination, per-domain rollup, and
# domain-blocklist filtering — the pipeline stages between crawl and
# tokenizer. Oracles replicate the exact hash/window/n-gram math in DuckDB.
# ---------------------------------------------------------------------------

_SAMPLE_RATE = 0.25
_SAMPLE_SALT = "gate"
_SAMPLE_THR = format(int(_SAMPLE_RATE * 16 ** 8), "08x")


def _q_sample_hash(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import sample_hash
    return (sample_hash(docs, rate=_SAMPLE_RATE, salt=_SAMPLE_SALT)
            .select(F.col("doc_id").cast("long").alias("doc_id"), "source"))


_SAMPLE_HASH_DUCK = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents
WHERE substr(md5('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 8)
      < '{_SAMPLE_THR}'
"""


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
_SPLIT_T1 = format(int(0.8 * 16 ** 8), "08x")
_SPLIT_T2 = format(int(0.9 * 16 ** 8), "08x")


def _q_split_by_hash(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import split_by_hash
    return (split_by_hash(docs, splits=_SPLITS, salt=_SAMPLE_SALT)
            .select(F.col("doc_id").cast("long").alias("doc_id"), "split"))


_SPLIT_DUCK = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN substr(md5('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)),
                        1, 8) < '{_SPLIT_T1}' THEN 'train'
            WHEN substr(md5('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)),
                        1, 8) < '{_SPLIT_T2}' THEN 'val'
            ELSE 'test'
       END AS split
FROM documents
"""


def _q_token_freq(docs):
    from siren_spark.functions.curation import token_frequencies
    return token_frequencies(docs, top_k=20)


_TOKEN_FREQ_DUCK = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token
      FROM documents WHERE length(text) > 0)
WHERE length(token) > 0
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means on quantized integer vectors: exact
    BIGINT distances + exact floor-mean centroid updates, so one full
    iteration (assign -> update -> re-assign) is bit-reproducible in
    SQL. k=8, deterministic init = the 8 smallest vec_ids."""
    from siren_spark.functions.clustering import kmeans_fit
    _views(spark, sf_dir)
    _, assigned = kmeans_fit(spark.table("embeddings"), k=8, iters=1)
    return assigned


# oracle floor division: DuckDB // truncates while the engine floors,
# so subtract the positive remainder first (exact at any sign).
_KMEANS_DUCK = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ev
  FROM embeddings),
c0 AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS j, ev AS cv
  FROM e ORDER BY vec_id LIMIT 8),
d1 AS (
  SELECT e.vec_id, e.ev, c0.j,
         CAST(list_sum(list_transform(list_zip(e.ev, c0.cv),
              p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM e CROSS JOIN c0),
a1 AS (
  SELECT vec_id, ev, j, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
  FROM d1),
x AS (
  SELECT a1.j, u.i AS dim, a1.ev[u.i] AS val
  FROM a1 CROSS JOIN unnest(range(1, 65)) AS u(i)
  WHERE rn = 1),
m AS (
  SELECT j, dim,
         (SUM(val) - ((SUM(val) % COUNT(*)) + COUNT(*)) % COUNT(*))
           // COUNT(*) AS v
  FROM x GROUP BY j, dim),
c1 AS (SELECT j, list(CAST(v AS BIGINT) ORDER BY dim) AS cv
       FROM m GROUP BY j),
cf AS (SELECT c0.j, COALESCE(c1.cv, c0.cv) AS cv
       FROM c0 LEFT JOIN c1 USING (j)),
d2_ AS (
  SELECT e.vec_id, cf.j,
         CAST(list_sum(list_transform(list_zip(e.ev, cf.cv),
              p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM e CROSS JOIN cf),
a2 AS (
  SELECT vec_id, j, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
  FROM d2_)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(j AS INTEGER) AS cluster,
       d2 AS dist2
FROM a2 WHERE rn = 1
"""


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: for every non-purchase event, the user's
    most recent purchase at or before it (union-sort-carry as-of join,
    operators/asof.py) — oracle is DuckDB's native ASOF LEFT JOIN."""
    from pyspark.sql import functions as F
    from siren_spark.operators.asof import asof_join
    _views(spark, sf_dir)
    ev = spark.table("events")
    lhs = (ev.filter(F.col("event_type") != "purchase")
           .select(F.col("event_id").cast("long").alias("event_id"),
                   F.col("user_id").cast("long").alias("user_id"), "ts"))
    rhs = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts",
                   F.round(F.col("value") * 100).cast("long")
                   .alias("px_c")))
    return asof_join(lhs, rhs, on="ts", by="user_id",
                     value_cols=["px_c"])


_ASOF_DUCK = """
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       CAST(l.user_id AS BIGINT) AS user_id, l.ts,
       r.px_c AS asof_px_c,
       r.ts AS asof_ts
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type <> 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts,
                       CAST(ROUND(value * 100) AS BIGINT) AS px_c
                FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from siren_spark.operators.sessionize import tumbling_rollup
    _views(spark, sf_dir)
    return tumbling_rollup(spark.table("events"), width_seconds=3600,
                           key_col="event_type", value_col="value")


_TUMBLING_DUCK = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS value_sum_c
FROM events GROUP BY 1, 2
"""


def _q_warc_random_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-indexed random access: write `documents` as .warc.gz with
    offset sidecars, filter the (tiny) index to doc_id % 7 == 0, and
    seek-read ONLY those gzip members — the targeted re-extraction
    path (never a full-archive scan). Oracle = the same filter on
    `documents`, so offsets, member framing, and parse are all proven
    byte-exact."""
    import atexit
    import shutil
    import tempfile
    from pyspark.sql import functions as F
    from siren_spark.sources.warc import (fetch_warc_records, read_cdx,
                                          write_warc)
    _views(spark, sf_dir)
    staged = spark.table("documents").select(
        F.concat(F.lit("https://corpus.example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("text").cast("binary").alias("payload"))
    out = tempfile.mkdtemp(prefix="entry_warc_cdx_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    write_warc(staged, out, cdx=True, max_file_bytes=64 << 10)
    idx = read_cdx(spark, out)
    doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    sel = idx.filter(doc_id % 7 == 0)
    return fetch_warc_records(spark, out, sel).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("payload_text"),
        F.col("content_length").cast("long").alias("content_length"))


_WARC_RA_DUCK = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       text AS payload_text,
       CAST(strlen(text) AS BIGINT) AS content_length
FROM documents WHERE doc_id % 7 = 0
"""


_SESSION_GAP_S = 21600


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from siren_spark.operators.sessionize import sessionize
    _views(spark, sf_dir)
    return sessionize(spark.table("events"),
                      gap_seconds=_SESSION_GAP_S, value_col="value")


_SESSION_DUCK = f"""
WITH e AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w)
                      > {_SESSION_GAP_S} THEN 1 ELSE 0 END AS opens
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS seq
  FROM e)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       CAST(FLOOR(epoch(MAX(ts)) - epoch(MIN(ts))) AS BIGINT)
         AS duration_s,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS value_sum_c
FROM s GROUP BY user_id, seq
"""


def _q_lm_nll(docs):
    """CCNet-style quality bucketing: train a char-trigram LM on the
    doc_id%5==0 reference slice (integer milli-nat log-probs), score
    every doc's exact NLL, bucket into terciles."""
    from siren_spark.functions.lm import (score_char_trigram_nll,
                                          train_char_trigram_lm)
    from pyspark.sql import functions as F
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    weights, oov = train_char_trigram_lm(ref)
    out = score_char_trigram_nll(docs, weights, oov, buckets=3)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_grams", "nll_milli", "nll_per_gram",
                      F.col("bucket").cast("int").alias("bucket"))


_LM_NLL_DUCK = """
WITH refg AS (
  SELECT substr(text, i, 3) AS gram
  FROM documents
  CROSS JOIN unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS u(i)
  WHERE doc_id % 5 = 0 AND length(text) >= 3),
cnt AS (SELECT gram, COUNT(*) AS c FROM refg GROUP BY gram),
tv AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM cnt),
w AS (SELECT gram,
             CAST(FLOOR(1000.0 * LN(CAST(c + 1 AS DOUBLE)
                                    / (total + v))) AS BIGINT)
               AS logp_milli
      FROM cnt CROSS JOIN tv),
oov AS (SELECT CAST(FLOOR(1000.0 * LN(1.0 / (total + v))) AS BIGINT)
               AS lp FROM tv),
dg AS (
  SELECT doc_id, substr(text, i, 3) AS gram
  FROM documents
  CROSS JOIN unnest(range(1, greatest(length(text) - 2, 0) + 1)) AS u(i)
  WHERE length(text) >= 3),
sc AS (
  SELECT doc_id,
         -SUM(COALESCE(w.logp_milli, oov.lp)) AS nll_milli,
         COUNT(*) AS n_grams
  FROM dg LEFT JOIN w USING (gram) CROSS JOIN oov
  GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(nll_milli AS BIGINT) AS nll_milli,
       ROUND(CAST(nll_milli AS DOUBLE) / n_grams, 4) AS nll_per_gram,
       CAST(ntile(3) OVER (
             ORDER BY ROUND(CAST(nll_milli AS DOUBLE) / n_grams, 4),
                      doc_id) AS INTEGER) AS bucket
FROM sc
"""


_CHUNK_T, _CHUNK_OV = 40, 8


def _q_chunk(docs):
    from siren_spark.functions.curation import chunk_documents
    return chunk_documents(docs, chunk_tokens=_CHUNK_T,
                           overlap=_CHUNK_OV)


_CHUNK_DUCK = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(text) > 0),
c AS (
  SELECT doc_id, t, n,
         unnest(range(0, greatest((n - {_CHUNK_OV} + {_CHUNK_T - _CHUNK_OV}
                                   - 1) // {_CHUNK_T - _CHUNK_OV}, 1)))
           AS chunk_idx
  FROM d)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(
         t[chunk_idx * {_CHUNK_T - _CHUNK_OV} + 1 :
           chunk_idx * {_CHUNK_T - _CHUNK_OV}
             + least({_CHUNK_T}, n - chunk_idx * {_CHUNK_T - _CHUNK_OV})],
         ' ') AS chunk_text,
       CAST(least({_CHUNK_T}, n - chunk_idx * {_CHUNK_T - _CHUNK_OV})
            AS BIGINT) AS n_tokens
FROM c
"""


_CLF_BIAS_MILLI = 100


def _q_classifier(docs):
    """Model-based quality filtering (fastText shape): weights are
    synthesized deterministically from the corpus vocabulary (milli-
    weight = hash of the token), so the gate exercises the real scoring
    operator end to end with a weight table both engines can rebuild
    bit-identically."""
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import score_linear_classifier
    vocab = (docs.filter(F.length("text") > 0)
             .select(F.explode(F.split("text", " ")).alias("token"))
             .filter(F.length("token") > 0).distinct())
    weights = vocab.select(
        "token",
        (F.conv(F.substring(F.md5(F.concat(F.lit("w|"), F.col("token"))),
                            1, 6), 16, 10).cast("long") % 2001 - 1000)
        .alias("weight_milli"))
    out = score_linear_classifier(docs, weights,
                                  bias_milli=_CLF_BIAS_MILLI)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "logit", "label")


_CLF_DUCK = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents WHERE length(text) > 0),
tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
w AS (SELECT DISTINCT token,
             (('0x' || substr(md5('w|' || token), 1, 6))::BIGINT % 2001)
               - 1000 AS wm
      FROM tok2),
agg AS (SELECT doc_id, SUM(COALESCE(wm, 0)) AS s, COUNT(*) AS n
        FROM tok2 LEFT JOIN w USING (token) GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(({_CLF_BIAS_MILLI}::DOUBLE
              + CAST(s AS DOUBLE) / n) / 1000.0, 4) AS logit,
       (ROUND(({_CLF_BIAS_MILLI}::DOUBLE
               + CAST(s AS DOUBLE) / n) / 1000.0, 4) >= 0) AS label
FROM agg
"""


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family source/sink: serialize `documents` as .warc.gz (ISO
    28500, the CommonCrawl interchange layout — one gzip member per
    record), read it back with the WARC source, and surface the
    parsed records. The oracle is the identity on `documents`, so the
    gate proves byte-exact round-trip fidelity of both the writer and
    the parser (sources/warc.py)."""
    import atexit
    import shutil
    import tempfile
    from pyspark.sql import functions as F
    from siren_spark.sources.warc import read_warc, write_warc
    _views(spark, sf_dir)
    staged = spark.table("documents").select(
        F.concat(F.lit("https://corpus.example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("text").cast("binary").alias("payload"))
    out = tempfile.mkdtemp(prefix="entry_warc_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    write_warc(staged, out)
    return read_warc(spark, out).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "url",
        F.col("payload").cast("string").alias("payload_text"),
        F.col("content_length").cast("long").alias("content_length"))


_WARC_DUCK = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'https://corpus.example/doc/' || doc_id AS url,
       text AS payload_text,
       CAST(strlen(text) AS BIGINT) AS content_length
FROM documents
"""


def _q_normalize(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.text import with_normalized_text
    return (with_normalized_text(docs)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text_norm",
                    F.length("text_norm").cast("long")
                    .alias("n_chars_norm"),
                    "changed"))


_NORMALIZE_DUCK = r"""
WITH n AS (SELECT doc_id, text,
                  trim(regexp_replace(regexp_replace(
                           nfc_normalize(text),
                           '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'),
                       '[ \t\n\f\r\x0B]+', ' ', 'g')) AS text_norm
           FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, text_norm,
       CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
       (text_norm IS DISTINCT FROM text) AS changed
FROM n
"""


def _q_tfidf(docs):
    from siren_spark.functions.curation import tfidf_topk_terms
    return tfidf_topk_terms(docs, top_k=3)


_TFIDF_DUCK = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE length(text) > 0),
tf AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM tok WHERE length(term) > 0 GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents WHERE length(text) > 0),
scored AS (SELECT doc_id, term,
                  ROUND(tf * LN(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term) AS rank
           FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tfidf,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


def _q_sample_quota(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import sample_quota_per_group
    return (sample_quota_per_group(docs, quota=7, group_col="source",
                                   salt=_SAMPLE_SALT)
            .select("source", F.col("doc_id").cast("long").alias("doc_id")))


_SAMPLE_QUOTA_DUCK = f"""
SELECT source, CAST(doc_id AS BIGINT) AS doc_id
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY substr(md5('{_SAMPLE_SALT}|' || CAST(doc_id AS VARCHAR)),
                           1, 8), doc_id) AS rn
  FROM documents)
WHERE rn <= 7
"""


# n=4 on the synthetic vocab yields both self-matches (the benchmark
# rows) and true cross-document contamination; the engine default (13)
# only self-matches here because the generator's n-grams rarely repeat.
_DECONTAM_N = 4


def _q_decontaminate(docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import decontaminate_ngrams
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return (decontaminate_ngrams(docs, bench, n=_DECONTAM_N)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "contaminated"))


_DECONTAM_DUCK = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w) - {_DECONTAM_N} + 2),
                    i -> array_to_string(w[i:i + {_DECONTAM_N} - 1], ' ')))
               AS gram
      FROM d),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT DISTINCT doc_id FROM g JOIN b USING (gram))
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       (h.doc_id IS NOT NULL) AS contaminated
FROM d LEFT JOIN h USING (doc_id)
"""


def _q_quality_rollup(docs):
    from siren_spark.functions.curation import domain_quality_rollup
    return domain_quality_rollup(docs)


_ROLLUP_DUCK = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
            AS BIGINT) AS n_tokens,
       ROUND(AVG(CAST(length(text) AS DOUBLE)), 4) AS avg_chars,
       ROUND(AVG(CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                      < 50 THEN 1.0 ELSE 0.0 END), 4) AS short_doc_share
FROM documents WHERE length(text) > 0
GROUP BY source
"""


def _q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level blocklist filter over a host family built from customer
    keys (pattern: _q_canonicalize) — hosts on two TLD families, one
    blocked wholesale by registrable-domain suffix, one single host
    blocked exactly."""
    from pyspark.sql import functions as F
    from siren_spark.functions.curation import filter_domain_blocklist
    _views(spark, sf_dir)
    hosts = spark.sql("""
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
               CASE WHEN c_custkey % 2 = 0
                    THEN concat('news', CAST(c_nationkey % 7 AS STRING),
                                '.example.com')
                    ELSE concat('media', CAST(c_nationkey % 5 AS STRING),
                                '.sample.net')
               END AS host
        FROM customer
    """)
    blocklist = spark.createDataFrame(
        [("sample.net",), ("news3.example.com",)], ["blocked"])
    return filter_domain_blocklist(hosts, blocklist, domain_col="host")


_BLOCKLIST_DUCK = """
WITH hosts AS (
  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
         CASE WHEN c_custkey % 2 = 0
              THEN 'news' || CAST(c_nationkey % 7 AS VARCHAR)
                   || '.example.com'
              ELSE 'media' || CAST(c_nationkey % 5 AS VARCHAR)
                   || '.sample.net'
         END AS host
  FROM customer)
SELECT c_custkey, host FROM hosts
WHERE NOT (host = 'sample.net' OR host LIKE '%.sample.net'
           OR host = 'news3.example.com'
           OR host LIKE '%.news3.example.com')
"""


def _q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein pair verification (similarity.edit_distance_verify)
    over deterministic adjacent-id candidate pairs."""
    from siren_spark.functions.similarity import edit_distance_verify
    _views(spark, sf_dir)
    docs = spark.table("documents")
    pairs = spark.sql("""
        SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
               CAST(b.doc_id AS BIGINT) AS doc_b
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 3 = 0
    """)
    return edit_distance_verify(docs, pairs, prefix_chars=200)


_EDIT_VERIFY_DUCK = """
WITH p AS (
  SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
         CAST(b.doc_id AS BIGINT) AS doc_b,
         substr(a.text, 1, 200) AS pa,
         substr(b.text, 1, 200) AS pb
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 3 = 0)
SELECT doc_a, doc_b,
       CAST(levenshtein(pa, pb) AS BIGINT) AS lev,
       CAST(greatest(length(pa), length(pb)) AS BIGINT) AS max_len,
       CAST(CASE WHEN greatest(length(pa), length(pb)) = 0 THEN 1000
            ELSE (1000 * (greatest(length(pa), length(pb))
                          - levenshtein(pa, pb)))
                 // greatest(length(pa), length(pb)) END AS BIGINT)
         AS sim_milli
FROM p
"""


def _q_inverted_index(docs):
    from siren_spark.functions.curation import inverted_index
    return inverted_index(docs, min_df=2, max_df=400)


_INVIDX_DUCK = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
d AS (SELECT DISTINCT doc_id, term FROM t WHERE term <> '')
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(CAST(doc_id AS BIGINT))), ',')
         AS postings
FROM d GROUP BY term
HAVING COUNT(*) >= 2 AND COUNT(*) <= 400
"""


def _q_length_quantiles(docs):
    from siren_spark.functions.curation import length_quantiles
    return length_quantiles(docs, group_col="lang")


_LENQ_DUCK = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n, 0.25), 4) AS p25_tokens,
       ROUND(quantile_cont(n, 0.5), 4) AS p50_tokens,
       ROUND(quantile_cont(n, 0.75), 4) AS p75_tokens
FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n
      FROM documents WHERE length(text) > 0)
GROUP BY lang
"""


def _q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 longest-match robots gate over a synthetic host family —
    runs the PRODUCTION scale path (operators/robots.py
    robots_annotate_cogroup: no broadcast, rules cogrouped to the
    frontier's domain partitions). Rule patterns here are prefix-only
    with unique lengths per host, so the longest-match winner is
    SQL-expressible without wildcard or tie semantics."""
    from pyspark.sql import functions as F
    from siren_spark.operators.robots import robots_annotate_cogroup
    _views(spark, sf_dir)
    frontier = spark.sql("""
        SELECT CAST(o_orderkey AS BIGINT) AS okey,
               concat('h', CAST(o_custkey % 4 AS STRING),
                      '.example.com') AS domain,
               concat('https://h', CAST(o_custkey % 4 AS STRING),
                      '.example.com',
                      CASE CAST(o_orderkey % 5 AS INT)
                        WHEN 0 THEN concat('/private/p',
                                           CAST(o_orderkey AS STRING))
                        WHEN 1 THEN concat('/private/keep/p',
                                           CAST(o_orderkey AS STRING))
                        WHEN 2 THEN concat('/tmp/p',
                                           CAST(o_orderkey AS STRING))
                        WHEN 3 THEN concat('/public/p',
                                           CAST(o_orderkey AS STRING))
                        ELSE concat('/x', CAST(o_orderkey AS STRING))
                      END) AS url_canon
        FROM orders WHERE o_orderkey % 3 = 0
    """)
    robots = spark.createDataFrame(
        [("h0.example.com",
          "User-agent: *\nDisallow: /private/\nAllow: /private/keep/\n"
          "Disallow: /tmp\n"),
         ("h1.example.com",
          "User-agent: *\nDisallow: /\nAllow: /public/\n"),
         ("h2.example.com",
          "User-agent: otherbot\nDisallow: /\n")],  # no '*' group: allowed
        ["domain", "rules"])
    out = robots_annotate_cogroup(frontier, robots)
    return out.select("okey", "domain",
                      F.col("__allowed").alias("allowed"))


_ROBOTS_DUCK = """
WITH f AS (
  SELECT CAST(o_orderkey AS BIGINT) AS okey,
         'h' || CAST(o_custkey % 4 AS VARCHAR) || '.example.com' AS domain,
         CASE CAST(o_orderkey % 5 AS INT)
           WHEN 0 THEN '/private/p' || CAST(o_orderkey AS VARCHAR)
           WHEN 1 THEN '/private/keep/p' || CAST(o_orderkey AS VARCHAR)
           WHEN 2 THEN '/tmp/p' || CAST(o_orderkey AS VARCHAR)
           WHEN 3 THEN '/public/p' || CAST(o_orderkey AS VARCHAR)
           ELSE '/x' || CAST(o_orderkey AS VARCHAR)
         END AS path
  FROM orders WHERE o_orderkey % 3 = 0),
rules(domain, allow, pat) AS (VALUES
  ('h0.example.com', FALSE, '/private/'),
  ('h0.example.com', TRUE,  '/private/keep/'),
  ('h0.example.com', FALSE, '/tmp'),
  ('h1.example.com', FALSE, '/'),
  ('h1.example.com', TRUE,  '/public/')),
m AS (
  SELECT f.okey, r.allow,
         ROW_NUMBER() OVER (PARTITION BY f.okey
                            ORDER BY length(r.pat) DESC) AS rk
  FROM f JOIN rules r ON f.domain = r.domain
                     AND starts_with(f.path, r.pat))
SELECT f.okey, f.domain,
       COALESCE(m.allow, TRUE) AS allowed
FROM f LEFT JOIN (SELECT okey, allow FROM m WHERE rk = 1) m USING (okey)
"""


_MIX_BUDGET = 3000


def _q_mix_budget(docs):
    from siren_spark.functions.curation import mix_by_token_budget
    return mix_by_token_budget(docs, budget_tokens=_MIX_BUDGET)


_MIX_DUCK = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents WHERE length(text) > 0),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM d)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= {_MIX_BUDGET}
"""


_SEARCH_TERMS = ("spark", "merge", "window", "vector")
_SEARCH_K = 25


def _q_search_topk(docs):
    from siren_spark.functions.curation import search_topk
    return search_topk(docs, list(_SEARCH_TERMS), k=_SEARCH_K)


_SEARCH_DUCK = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE length(text) > 0),
n AS (SELECT COUNT(*) AS n_docs FROM corpus),
tf AS (
  SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus)
  WHERE t IN {_SEARCH_TERMS!r}
  GROUP BY doc_id, t),
idf AS (
  SELECT term,
         CAST(FLOOR(1000.0 * LN(CAST(n_docs AS DOUBLE) / COUNT(*)))
              AS BIGINT) AS idf_milli
  FROM tf CROSS JOIN n GROUP BY term, n_docs)
SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
       CAST(SUM(tf.tf * idf.idf_milli) AS BIGINT) AS score_milli,
       CAST(COUNT(*) AS BIGINT) AS n_terms_matched
FROM tf JOIN idf USING (term)
GROUP BY tf.doc_id
ORDER BY score_milli DESC, doc_id
LIMIT {_SEARCH_K}
"""


def _q_length_outliers(docs):
    from siren_spark.functions.curation import filter_length_outliers
    return filter_length_outliers(docs, group_col="lang")


_LEN_OUTLIER_DUCK = """
WITH d AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents WHERE length(text) > 0),
b AS (
  SELECT lang,
         quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS p25,
         quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) AS p75
  FROM d GROUP BY lang),
f AS (
  SELECT lang, p25 - 1.5 * (p75 - p25) AS lo,
               p75 + 1.5 * (p75 - p25) AS hi
  FROM b)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang, d.n_tokens,
       ROUND(f.lo, 4) AS lo, ROUND(f.hi, 4) AS hi
FROM d JOIN f USING (lang)
WHERE CAST(d.n_tokens AS DOUBLE) BETWEEN f.lo AND f.hi
"""


def _q_snapshot_diff(docs):
    from pyspark.sql import functions as F

    from siren_spark.functions.curation import snapshot_diff
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = (docs.where(F.col("doc_id") % 11 != 3)
           .withColumn(
               "text",
               F.when(F.col("doc_id") % 5 == 0,
                      F.concat(F.col("text"), F.lit(" v2")))
               .otherwise(F.col("text"))))
    return snapshot_diff(old, new)


_SNAPSHOT_DUCK = """
WITH o AS (SELECT doc_id, md5(text) AS old_md5
           FROM documents WHERE doc_id % 7 <> 0),
n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                      ELSE text END) AS new_md5
      FROM documents WHERE doc_id % 11 <> 3),
d AS (
  SELECT CAST(COALESCE(o.doc_id, n.doc_id) AS BIGINT) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.old_md5 <> n.new_md5 THEN 'changed'
              ELSE 'unchanged' END AS status,
         o.old_md5, n.new_md5
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT * FROM d WHERE status <> 'unchanged'
"""


def _q_anchor_rollup(docs):
    from pyspark.sql import functions as F

    from siren_spark.functions.graph import (anchor_text_rollup,
                                             synthetic_link_graph)
    anchors = docs.select(
        F.col("doc_id").cast("long").alias("src"),
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
        .alias("anchor"))
    edges = synthetic_link_graph(docs).join(anchors, "src")
    return anchor_text_rollup(edges, k=3)


_ANCHOR_DUCK = """
WITH jj AS (SELECT UNNEST(ARRAY[1, 2, 3]) AS j),
nn AS (SELECT COUNT(*) AS n FROM documents),
e AS (
  SELECT DISTINCT d.doc_id AS src,
         (d.doc_id*d.doc_id + d.doc_id*31 + jj.j*17) % nn.n AS dst
  FROM documents d, jj, nn
  WHERE jj.j <= 1 + d.doc_id % 3
    AND (d.doc_id*d.doc_id + d.doc_id*31 + jj.j*17) % nn.n <> d.doc_id),
a AS (SELECT doc_id AS src,
             array_to_string(string_split(text, ' ')[1:2], ' ') AS anchor
      FROM documents),
ea AS (SELECT e.dst, a.anchor FROM e JOIN a USING (src)),
c AS (SELECT dst, anchor, COUNT(*) AS cnt FROM ea GROUP BY dst, anchor),
rk AS (SELECT dst, anchor,
              ROW_NUMBER() OVER (PARTITION BY dst
                                 ORDER BY cnt DESC, anchor) AS rn
       FROM c),
top AS (SELECT dst, string_agg(anchor, '|' ORDER BY rn) AS top_anchors
        FROM rk WHERE rn <= 3 GROUP BY dst),
inl AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS n_inlinks
        FROM ea GROUP BY dst)
SELECT CAST(inl.dst AS BIGINT) AS dst, inl.n_inlinks, top.top_anchors
FROM inl JOIN top USING (dst)
"""


def _q_winnow(docs):
    from siren_spark.functions.text import winnow_fingerprints
    return winnow_fingerprints(docs, k=8, w=4)


def _q_winnow_pairs(docs):
    from siren_spark.functions.text import winnow_candidate_pairs
    # k=24 grams on this small-vocab corpus: rare enough that a shared
    # fingerprint is a genuine shared span, not vocabulary overlap
    return winnow_candidate_pairs(docs, k=24, w=8, min_shared=2,
                                  fp_doc_cap=16)


_WINNOW_PAIRS_DUCK = """
WITH g AS (SELECT doc_id, text, len(text) - 24 + 1 AS m
           FROM documents WHERE len(text) >= 24),
h AS (SELECT doc_id, m,
        list_transform(generate_series(1, m),
                       i -> substr(md5(substr(text, i, 24)), 1, 8)) AS hs
      FROM g),
w AS (SELECT doc_id, m, hs, least(8, m) AS we FROM h),
sel AS (SELECT DISTINCT doc_id, u AS fp
        FROM (SELECT doc_id,
                list_transform(generate_series(1, m - we + 1),
                               j -> list_aggregate(hs[j:j+we-1], 'min'))
                  AS fps
              FROM w), UNNEST(fps) AS t(u)),
rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 16),
t AS (SELECT s.doc_id, s.fp FROM sel s JOIN rare USING (fp))
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM t a JOIN t b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


_WINNOW_DUCK = """
WITH g AS (SELECT doc_id, text, len(text) - 8 + 1 AS m
           FROM documents WHERE len(text) >= 8),
h AS (SELECT doc_id, m,
        list_transform(generate_series(1, m),
                       i -> substr(md5(substr(text, i, 8)), 1, 8)) AS hs
      FROM g),
w AS (SELECT doc_id, m, hs, least(4, m) AS we FROM h),
sel AS (SELECT doc_id,
          list_transform(
            generate_series(1, m - we + 1),
            j -> {'pos': j - 1 + list_max(list_transform(
                      generate_series(1, we),
                      i -> CASE WHEN hs[j + i - 1] =
                             list_aggregate(hs[j:j+we-1], 'min')
                           THEN i ELSE 0 END)),
                  'fp': list_aggregate(hs[j:j+we-1], 'min')}) AS fps
        FROM w)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(u.pos AS BIGINT) AS pos, u.fp AS fp
FROM sel, UNNEST(fps) AS t(u)
"""


def _q_mirror_hosts(docs):
    from pyspark.sql import functions as F

    from siren_spark.functions.graph import detect_mirror_hosts
    # synthesize a hosted corpus: every doc on host h<doc_id%40>, and
    # every third doc ALSO on mirror host m<doc_id%40>
    host = (F.col("doc_id") % 40).cast("string")
    base = docs.select(F.concat(F.lit("h"), host).alias("host"), "text")
    mirror = (docs.where(F.col("doc_id") % 3 == 0)
              .select(F.concat(F.lit("m"), host).alias("host"), "text"))
    return detect_mirror_hosts(base.unionByName(mirror))


_MIRROR_DUCK = """
WITH hb AS (
  SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS host, text
  FROM documents
  UNION ALL
  SELECT 'm' || CAST(doc_id % 40 AS VARCHAR) AS host, text
  FROM documents WHERE doc_id % 3 = 0),
fp AS (SELECT DISTINCT host, md5(text) AS fp FROM hb),
sizes AS (SELECT host, CAST(count(*) AS BIGINT) AS n FROM fp
          GROUP BY host),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 64),
t AS (SELECT f.host, f.fp FROM fp f JOIN rare USING (fp)),
sh AS (SELECT a.host AS host_a, b.host AS host_b,
              CAST(count(*) AS BIGINT) AS n_shared
       FROM t a JOIN t b ON a.fp = b.fp AND a.host < b.host
       GROUP BY a.host, b.host)
SELECT sh.host_a, sh.host_b, sh.n_shared, sa.n AS n_a, sb.n AS n_b,
       CAST((1000 * sh.n_shared) // least(sa.n, sb.n) AS BIGINT)
         AS overlap_milli
FROM sh JOIN sizes sa ON sa.host = sh.host_a
        JOIN sizes sb ON sb.host = sh.host_b
WHERE sh.n_shared >= 2
  AND (1000 * sh.n_shared) // least(sa.n, sb.n) >= 200
"""


def _q_dedup_lines(docs):
    from pyspark.sql import functions as F

    from siren_spark.functions.curation import dedup_lines_global
    # the synthetic docs are single-line; word-per-line is the
    # deterministic multi-line rewrite (common words become the
    # recurring "boilerplate" lines removed corpus-wide)
    multi = docs.select(
        "doc_id", F.regexp_replace("text", " ", "\n").alias("text"))
    return dedup_lines_global(multi)


_DEDUP_LINES_DUCK = """
WITH d AS (SELECT doc_id, replace(text, ' ', chr(10)) AS text
           FROM documents),
l AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, chr(10)))))
           AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM d),
dup AS (
  SELECT line
  FROM (SELECT DISTINCT line, doc_id FROM l WHERE len(trim(line)) >= 1)
  GROUP BY line HAVING count(*) >= 2),
kept AS (
  SELECT doc_id, pos, line FROM l
  WHERE line NOT IN (SELECT line FROM dup)),
tot AS (SELECT doc_id, count(*) AS total FROM l GROUP BY doc_id),
agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       COALESCE(a.text, '') AS text,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.total - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


_REGISTRY: dict[str, tuple] = {
    "q1_pricing_summary": _q(_Q1_SPARK, _Q1_DUCK),
    "p1_date_window_filter": _q(_P1),
    "p3_keyword_filter": _q(_P3),
    "p8_projection_rename": _q(_P8),
    "p9_computed_coalesce": _q(_P9_SPARK, _P9_DUCK),
    "p6_validity_filter": _q(_P6),
    "a1_dedup_exact": (_docs_q(_q_dedup_exact), _A1),
    "a2_anti_join_unseen": (_q_unseen, _A2_DUCK),
    "a3_latest_per_key": (_q_a3, _A3),
    "a5_counters_rollup": _q(_A5),
    "a6_group_collect": _q(_A6_SPARK, _A6_DUCK),
    "j1_enrichment_join": _q(_J1_SPARK, _J1_DUCK),
    "j4_parent_fields_copy": _q(_J4),
    "j6_cross_join_fanout": _q(_J6),
    "f1_page_arithmetic": _q(_F1),
    "f2_fixed_range_fanout": _q(_F2_SPARK, _F2_DUCK),
    "f3_date_step_fanout": _q(_F3_SPARK, _F3_DUCK),
    "politeness_topk_per_host": (_q_politeness, _TOPK),
    "frontier_pagerank": (_q_pagerank, _PAGERANK_DUCK),
    "crawl_end_to_end": (_q_crawl_end_to_end, None),
    "dedup_minhash_lsh": (_docs_q(_q_minhash), _MINHASH_DUCK),
    "dedup_span_exact": (_docs_q(_q_dup_spans), _SPAN_DUCK),
    "dedup_simhash": (_docs_q(_q_simhash), _SIMHASH_DUCK),
    "dedup_simhash64": (_docs_q(_q_simhash64), _SIMHASH64_DUCK),
    "simhash_hamming_pairs": (_docs_q(_q_simhash_near_dups),
                              _SIMHASH_ND_DUCK),
    "ngram_jaccard_verify": (_docs_q(_q_jaccard_verify),
                             _JACCARD_VERIFY_DUCK),
    "dedup_components": (_docs_q(_q_dedup_components), _COMPONENTS_DUCK),
    "ann_cosine_brute": _q(_ANN_SPARK, _ANN_DUCK),
    "ann_cosine_topk": (_q_ann_topk, _ANN_TOPK_DUCK),
    "ann_lsh_buckets": (_emb_q(_q_lsh_buckets), _IVF_DUCK),
    "ann_lsh_topk": (_emb_q(_q_ann_lsh_topk), _ANN_LSH_TOPK_DUCK),
    "ann_ivf_topk": (_emb_q(_q_ann_ivf_topk), _ANN_IVF_TOPK_DUCK),
    "dedup_embedding_cosine": (_emb_q(_q_emb_dedup), _EMB_DEDUP_DUCK),
    "text_langid": (_docs_q(_q_langid), _LANGID),
    "text_token_count": (_docs_q(_q_tokcount), _TOKCOUNT),
    "text_token_bpe": (_docs_q(_q_tokbpe), _TOK_BPE_DUCK),
    "text_quality_score": (_docs_q(_q_quality), _QUALITY),
    "text_stats": (_docs_q(_q_text_stats), _TEXT_STATS_DUCK),
    "text_repetition_stats": (_docs_q(_q_repetition), _REPETITION_DUCK),
    "text_pii_scrub": (_q_pii_scrub, _PII_DUCK),
    "doc_fingerprint": (_docs_q(_q_fingerprint), _FINGERPRINT_DUCK),
    "k9_url_canonicalize": (_q_canonicalize, _CANON_ORACLE),
    "sample_hash_bernoulli": (_docs_q(_q_sample_hash), _SAMPLE_HASH_DUCK),
    "split_by_hash": (_docs_q(_q_split_by_hash), _SPLIT_DUCK),
    "token_frequencies_topk": (_docs_q(_q_token_freq), _TOKEN_FREQ_DUCK),
    "tfidf_topk_terms": (_docs_q(_q_tfidf), _TFIDF_DUCK),
    "text_normalize": (_docs_q(_q_normalize), _NORMALIZE_DUCK),
    "warc_roundtrip": (_q_warc_roundtrip, _WARC_DUCK),
    "classifier_score_linear": (_docs_q(_q_classifier), _CLF_DUCK),
    "sessionize_gap": (_q_sessionize, _SESSION_DUCK),
    "warc_random_access": (_q_warc_random_access, _WARC_RA_DUCK),
    "events_tumbling_rollup": (_q_tumbling, _TUMBLING_DUCK),
    "asof_join_backward": (_q_asof, _ASOF_DUCK),
    "kmeans_lloyd": (_q_kmeans, _KMEANS_DUCK),
    "chunk_documents": (_docs_q(_q_chunk), _CHUNK_DUCK),
    "lm_nll_buckets": (_docs_q(_q_lm_nll), _LM_NLL_DUCK),
    "sample_quota_per_group": (_docs_q(_q_sample_quota),
                               _SAMPLE_QUOTA_DUCK),
    "decontaminate_ngram": (_docs_q(_q_decontaminate), _DECONTAM_DUCK),
    "domain_quality_rollup": (_docs_q(_q_quality_rollup), _ROLLUP_DUCK),
    "filter_domain_blocklist": (_q_blocklist, _BLOCKLIST_DUCK),
    "edit_distance_verify": (_q_edit_verify, _EDIT_VERIFY_DUCK),
    "inverted_index": (_docs_q(_q_inverted_index), _INVIDX_DUCK),
    "length_quantiles": (_docs_q(_q_length_quantiles), _LENQ_DUCK),
    "robots_gate_prefix": (_q_robots_gate, _ROBOTS_DUCK),
    "mix_token_budget": (_docs_q(_q_mix_budget), _MIX_DUCK),
    "search_tfidf_topk": (_docs_q(_q_search_topk), _SEARCH_DUCK),
    "filter_length_outliers": (_docs_q(_q_length_outliers),
                               _LEN_OUTLIER_DUCK),
    "snapshot_diff": (_docs_q(_q_snapshot_diff), _SNAPSHOT_DUCK),
    "dedup_lines_global": (_docs_q(_q_dedup_lines), _DEDUP_LINES_DUCK),
    "mirror_hosts": (_docs_q(_q_mirror_hosts), _MIRROR_DUCK),
    "winnow_fingerprints": (_docs_q(_q_winnow), _WINNOW_DUCK),
    "winnow_candidate_pairs": (_docs_q(_q_winnow_pairs),
                               _WINNOW_PAIRS_DUCK),
    "anchor_text_rollup": (_docs_q(_q_anchor_rollup), _ANCHOR_DUCK),
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = _REGISTRY["q1_pricing_summary"]
    return fn(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql}
