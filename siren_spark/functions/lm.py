"""Language-model perplexity scoring for corpus quality bucketing —
the CCNet recipe (train a small LM on a trusted reference corpus,
score every candidate document, bucket head/middle/tail by score),
implemented as a character-trigram model with add-one smoothing.

CCNet uses a 5-gram KenLM; the trigram model keeps the identical
pipeline shape (train counts → per-doc NLL → percentile buckets)
while staying exactly expressible in SQL for the oracle gate. The
production swap-in is the same plumbing with a KenLM pandas UDF.

Determinism: log-probabilities are quantized to integer milli-nats
at training time (floor(1000·ln((c+1)/(total+V)))), so scoring sums
BIGINTs — per-doc NLL is exact under any aggregation order and
partitioning, unlike float log-prob sums which drift with summation
order at 1000 executors.

Scale: training is one trigram groupBy over the (small, trusted)
reference corpus; (total, V) are two scalars — the one driver-side
collect, i.e. the model artifact itself. Scoring is explode →
vocab join (broadcast by default: char-trigram vocab is bounded by
charset³, ~10⁵ for text; shuffle-join opt-out for byte-level or
CJK-heavy vocabs) → one per-doc combiner groupBy. Bucketing is an
EXACT distributed ntile: a no-partition ``Window.orderBy`` would
funnel every (doc_id, score) row through ONE task's sort, so the
global rank is computed with the same value-bucket prefix-sum trick
as ``curation.mix_by_token_budget`` — ``floor(nll_per_gram)`` is
monotone in the sort key, so per-bucket counts (a tiny combiner
groupBy) windowed into running offsets plus an in-bucket rank give
the exact global rank, and ntile's quotient arithmetic maps rank to
bucket. No stage touches more than one value-bucket's rows; the
offsets/total frames are broadcast (bounded by the distinct
floor(nll) values, itself bounded by the milli-nat range of the
smoothed model).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _trigrams(text: Column) -> Column:
    """All character trigrams (spaces included), [] when len < 3."""
    n = F.length(text)
    return F.when(n >= 3, F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: text.substr(i, F.lit(3)))).otherwise(F.array())


def train_char_trigram_lm(
    ref: DataFrame,
    *,
    text_col: str = "text",
) -> tuple[DataFrame, int]:
    """Train on a reference corpus; returns (weights, oov_logp_milli).

    ``weights`` is (gram, logp_milli BIGINT) with
    logp_milli = floor(1000·ln((count+1) / (total+V))); the int is the
    smoothed out-of-vocabulary log-prob floor(1000·ln(1/(total+V))).
    """
    import math
    grams = (ref.filter(F.length(text_col) >= 3)
             .select(F.explode(_trigrams(F.col(text_col)))
                     .alias("gram")))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    total, v = counts.agg(
        F.sum("c"), F.count(F.lit(1))).first()
    if not total:
        raise ValueError("reference corpus has no trigrams")
    denom = int(total) + int(v)
    weights = counts.select(
        "gram",
        F.floor(F.lit(1000.0)
                * F.log((F.col("c") + 1).cast("double") / denom))
        .cast("long").alias("logp_milli"))
    return weights, math.floor(1000.0 * math.log(1.0 / denom))


def score_char_trigram_nll(
    df: DataFrame,
    weights: DataFrame,
    oov_logp_milli: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 3,
    broadcast_weights: bool = True,
) -> DataFrame:
    """Score every document with >= 1 trigram: (id, n_grams,
    nll_milli — exact BIGINT sum of negated milli-nat log-probs,
    nll_per_gram ROUND 4, bucket 1..``buckets`` by ascending
    nll_per_gram with id tie-break — bucket 1 is CCNet's 'head')."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    g = (df.filter(F.length(text_col) >= 3)
         .select(F.col(id_col).alias("__doc"),
                 F.explode(_trigrams(F.col(text_col))).alias("gram")))
    w = weights.select("gram", "logp_milli")
    if broadcast_weights:
        w = F.broadcast(w)
    scored = (g.join(w, "gram", "left")
              .groupBy("__doc")
              .agg((-F.sum(F.coalesce(F.col("logp_milli"),
                                      F.lit(int(oov_logp_milli)))))
                   .alias("nll_milli"),
                   F.count(F.lit(1)).alias("n_grams")))
    per = F.round(F.col("nll_milli").cast("double")
                  / F.col("n_grams"), 4)
    scored = scored.select(F.col("__doc").alias(id_col),
                           F.col("n_grams"),
                           F.col("nll_milli"),
                           per.alias("nll_per_gram"))
    return _ntile_distributed(scored, buckets, order_cols=["nll_per_gram",
                                                           id_col])


def _ntile_distributed(df: DataFrame, buckets: int,
                       *, order_cols: list[str],
                       out_col: str = "bucket") -> DataFrame:
    """``ntile(buckets) OVER (ORDER BY order_cols)`` without the
    single-task global sort (bit-identical output).

    The leading order column must be numeric; ``floor`` of it is used
    as a coarse bucket that is monotone in the total order, so the
    exact global rank of a row = (rows in earlier value-buckets,
    via a running-offset window over the TINY per-bucket count frame)
    + (its rank within its own bucket, a per-bucket window). ntile's
    arithmetic — the first ``N % n`` tiles get ``ceil(N/n)`` rows, the
    rest ``floor(N/n)`` — then maps rank to tile exactly:
    rank <= (q+1)*r  ->  tile = ceil(rank / (q+1)),
    otherwise        ->  tile = r + ceil((rank - r*(q+1)) / q)
    with q = N div n, r = N mod n. Every stage is parallel: no
    no-partition window, no collect, no sampling pass.

    Rows whose leading value is NULL form their own value-bucket (NULL
    ``__vb``), which the ascending offset window sorts first — ntile's
    ascending NULLS FIRST — and which joins its offset null-safely (an
    equi-join on ``__vb`` would drop those rows).
    """
    lead = order_cols[0]
    b = df.withColumn("__vb", F.floor(F.col(lead)).cast("long"))
    per_bucket = b.groupBy("__vb").agg(F.count(F.lit(1)).alias("__c"))
    # running offset over the per-bucket COUNT frame only — a
    # no-partition window, but its input is the tiny aggregate (one row
    # per distinct floor(lead) value), never the corpus rows
    w_off = (Window.orderBy("__vb")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = per_bucket.withColumn(
        "__off", F.coalesce(F.sum("__c").over(w_off), F.lit(0))).select(
        F.col("__vb").alias("__ovb"), "__off")
    total = per_bucket.agg(F.sum("__c").alias("__N"))
    w_local = Window.partitionBy("__vb").orderBy(
        *[F.asc(c) for c in order_cols])
    # all-BIGINT tile arithmetic (a double ceil(rank/size) mis-rounds
    # once ranks pass ~2^40: 1/size slips below half an ulp):
    # ceil(a/b) == (a + b - 1) div b for positive ints
    tile = F.expr(
        f"CASE WHEN __rank <= (__q + 1) * __r"
        f" THEN (__rank + __q) DIV (__q + 1)"
        f" ELSE __r + (__rank - (__q + 1) * __r + __q - 1) DIV __q END")
    return (b.join(F.broadcast(offsets),
                   F.col("__vb").eqNullSafe(F.col("__ovb")))
            .drop("__ovb")
            .crossJoin(F.broadcast(total))
            .withColumn("__rank",
                        F.col("__off") + F.row_number().over(w_local))
            .withColumn("__q", F.expr(f"__N div {int(buckets)}"))
            .withColumn("__r", F.col("__N") % F.lit(int(buckets)))
            .withColumn(out_col, tile.cast("int"))
            .drop("__vb", "__off", "__N", "__rank", "__q", "__r"))


__all__ = ["train_char_trigram_lm", "score_char_trigram_nll"]
