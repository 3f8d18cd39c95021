"""Engine-API tests for functions/text.py and functions/similarity.py.

The driver's oracle gate checks these functions against DuckDB on the
testdata tables; here we pin their *semantics* on hand-built fixtures
(known duplicates, cap behavior, recall vs brute force, plan shape).
"""

import pytest
from pyspark.sql import functions as F

from siren_spark.functions.similarity import (
    ann_lsh_topk,
    duplicate_span_stats,
    embedding_lsh_buckets,
    embedding_near_dups,
    jaccard_verify,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash16,
    simhash64,
    simhash_near_dups,
)
from siren_spark.functions.text import (
    dedup_exact,
    with_bpe_token_count,
    with_fingerprint,
    with_langid,
    with_quality_score,
    with_token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),                                    # exact dup of 0
        (2, base.replace("lazy", "sleepy")),          # near dup of 0
        (3, "completely different text about spark shuffles and joins ok"),
        (4, "tiny doc"),                              # < 3 tokens: no shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_functions_basics(spark):
    df = spark.createDataFrame([(1, "aa bb cc")], "doc_id long, text string")
    r = with_token_counts(df).collect()[0]
    assert (r.n_tokens, r.n_chars) == (3, 8)
    r = with_bpe_token_count(
        spark.createDataFrame([(1, "hello, world 42!")],
                              "doc_id long, text string")).collect()[0]
    # [hello][,][world][42][!]
    assert r.n_bpe_tokens == 5
    r = with_quality_score(df).collect()[0]
    assert r.avg_word_len == 2.0 and r.length_score == 0.03
    r = with_fingerprint(df).collect()[0]
    assert len(r.fingerprint) == 32
    langs = {r.doc_id: r.predicted_lang for r in with_langid(
        spark.createDataFrame(
            [(1, "the cat sat on the mat with a hat"),
             (2, "vier katzen sitzen auf dem dach")],
            "doc_id long, text string")).collect()}
    assert langs == {1: "en", 2: "und"}


def test_dedup_exact_groups(docs):
    groups = {r.text_hash: (r.canonical_doc, r.dup_count)
              for r in dedup_exact(docs).collect()}
    assert len(groups) == 4                  # 0/1 collapse
    assert (0, 2) in groups.values()


def test_minhash_finds_dups_and_skips_short_docs(docs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(
        docs, band_cap=None).collect()}
    assert (0, 1) in pairs                   # exact dup always collides
    assert all(4 not in p for p in pairs)    # sub-3-token doc dropped
    assert all(3 not in p for p in pairs)    # unrelated doc: no band hit
    # signatures exist only for shingle-able docs
    assert minhash_signatures(docs).count() == 4


def test_minhash_band_cap_guards_hot_bands(spark):
    # 6 identical docs share every band -> band size 6 > cap 4 drops all
    rows = [(i, "same same same words all over the place") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert minhash_lsh_pairs(df, band_cap=None).count() == 15  # 6C2
    assert minhash_lsh_pairs(df, band_cap=4).count() == 0
    # cap only silences bands ABOVE it
    assert minhash_lsh_pairs(df, band_cap=6).count() == 15


def test_jaccard_verify_exact_values(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 3)],
                                  "doc_a long, doc_b long")
    j = {(r.doc_a, r.doc_b): r.jaccard
         for r in jaccard_verify(docs, pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] < 0.1
    confirmed = jaccard_verify(docs, pairs, min_jaccard=0.8).collect()
    assert [(r.doc_a, r.doc_b) for r in confirmed] == [(0, 1)]


def test_simhash_variants(docs):
    s16 = {r.doc_id: r.simhash16 for r in simhash16(docs).collect()}
    assert s16[0] == s16[1] and 0 <= s16[0] < (1 << 16)
    s64 = {r.doc_id: (r.sim_hi, r.sim_lo) for r in simhash64(docs).collect()}
    assert s64[0] == s64[1]
    for hi, lo in s64.values():
        assert 0 <= hi < (1 << 32) and 0 <= lo < (1 << 32)
    nd = {(r.doc_a, r.doc_b): r.hamming
          for r in simhash_near_dups(docs, max_hamming=3).collect()}
    assert nd[(0, 1)] == 0
    assert (0, 3) not in nd                   # unrelated text: far apart


def test_embedding_buckets_and_near_dups(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bb = embedding_lsh_buckets(emb, n_planes=6)
    assert bb.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count() == 0
    # more planes => no fewer buckets (strictly refines the partition)
    n4 = embedding_lsh_buckets(emb, n_planes=4).select("bucket").distinct().count()
    n6 = bb.select("bucket").distinct().count()
    assert n6 >= n4
    nd = embedding_near_dups(emb, threshold=0.35, n_planes=4)
    rows = nd.collect()
    assert all(r.vec_a < r.vec_b and r.cosine >= 0.35 for r in rows)


def _brute_topk(spark, emb, k=3):
    from siren_spark.functions.similarity import quantize_embedding, _cosine
    e = emb.select(F.col("vec_id"), quantize_embedding(
        F.col("embedding")).alias("ev"))
    q = (e.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"), F.col("ev").alias("qv")))
    from pyspark.sql import Window
    scored = (q.crossJoin(e).filter(F.col("q_id") != F.col("vec_id"))
              .select("q_id", "vec_id",
                      _cosine(F.col("qv"), F.col("ev")).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def test_ann_lsh_topk_recall_and_plan(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = ann_lsh_topk(emb, query_filter=F.col("vec_id") < 5,
                       k=3, n_planes=4, multiprobe=True)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    got_pairs = {(r.q_id, r.vec_id) for r in got.collect()}
    exp_pairs = {(r.q_id, r.vec_id) for r in _brute_topk(spark, emb).collect()}
    recall = len(got_pairs & exp_pairs) / len(exp_pairs)
    # 4 planes + 1-bit multi-probe over 500 vecs: deterministic fixture,
    # measured once; guard against regressions with head-room
    assert recall >= 0.5, recall
    assert all(len([p for p in got_pairs if p[0] == q]) <= 3
               for q in range(5))


def test_text_stats_values(spark):
    from siren_spark.functions.text import with_text_stats

    df = spark.createDataFrame(
        [(1, "the cat sat on a mat"), (2, "xyzzy, qwerty!!")],
        "doc_id long, text string")
    r = {x.doc_id: x for x in with_text_stats(df).collect()}
    # 'the', 'on', 'a' are stopwords: 3/6
    assert r[1].stopword_ratio == 0.5
    assert r[1].punct_ratio == 0.0
    assert r[2].stopword_ratio == 0.0
    assert r[2].punct_ratio == round(3 / 15, 4)   # , ! !
    assert r[2].alpha_ratio == round(11 / 15, 4)


def test_ann_ivf_topk_recall_and_cells(spark):
    """IVF: every db vector lands in exactly one cell; nprobe=2 search
    reaches decent recall vs brute force on the fixed fixture."""
    from pyspark.sql import functions as F

    from siren_spark.functions.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = ann_ivf_topk(emb, query_filter=F.col("vec_id") < 5,
                       k=3, n_centroids=8, nprobe=2)
    rows = got.collect()
    assert all(len([r for r in rows if r.q_id == q]) <= 3 for q in range(5))
    got_pairs = {(r.q_id, r.vec_id) for r in rows}
    exp_pairs = {(r.q_id, r.vec_id) for r in _brute_topk(spark, emb).collect()}
    recall = len(got_pairs & exp_pairs) / len(exp_pairs)
    assert recall >= 0.4, recall


def test_similarity_results_partition_invariant(spark, docs):
    """Dedup outputs are a pure function of the data, not of the
    physical partitioning (the determinism the N-vs-4N comparison and
    the value-hash oracle both rely on)."""
    from siren_spark.functions.similarity import minhash_lsh_pairs, simhash64

    a = sorted((r.doc_a, r.doc_b)
               for r in minhash_lsh_pairs(docs).collect())
    b = sorted((r.doc_a, r.doc_b)
               for r in minhash_lsh_pairs(docs.repartition(7)).collect())
    assert a == b
    sa = sorted(tuple(r) for r in simhash64(docs).collect())
    sb = sorted(tuple(r) for r in simhash64(docs.repartition(7)).collect())
    assert sa == sb


def test_embedding_bucket_cap(spark):
    """bucket_cap drops degenerate buckets instead of letting the
    within-bucket self-join go quadratic."""
    from siren_spark.functions.similarity import embedding_near_dups

    # 20 near-identical vectors -> one bucket of 20
    rows = [(i, [1.0 + i * 1e-6] * 8) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert embedding_near_dups(df, bucket_cap=None).count() == 190  # 20C2
    assert embedding_near_dups(df, bucket_cap=10).count() == 0
    assert embedding_near_dups(df, bucket_cap=20).count() == 190


def test_minhash_perms_beyond_8(spark, docs):
    """perms 9..16 draw slices from md5(s||'##')/md5(s||'###') — every
    permutation must be a real (distinct, non-empty) hash slice. The
    round-2 guard allowed perms<=16 with only two md5s, so m8..m15 were
    '' for every doc and every band built from them collided corpus-wide."""
    from siren_spark.functions.similarity import minhash_signatures

    sig = {r.id: tuple(r)[1:] for r in
           minhash_signatures(docs, perms=12).collect()}
    assert all(all(len(v) == 8 for v in s) for s in sig.values())
    assert sig[0] == sig[1] and sig[0] != sig[3]
    # bands over the high permutations must not collide unrelated docs
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(
        docs, perms=12, bands=6, band_cap=None).collect()}
    assert (0, 1) in pairs and all(3 not in p for p in pairs)


def test_simhash_near_dups_wide_hamming(spark):
    """The chunk count now derives from max_hamming (pigeonhole needs
    >= max_hamming+1 chunks): distances 4..7 use 8x8-bit blocking. A
    fixed 4x16 split can lose such pairs; verify against brute force."""
    base = "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp"
    rows = [
        (0, base),
        (1, base.replace("gg", "zz6")),   # measured simhash distance 4
        (2, base.replace("aa", "zz0")),   # measured simhash distance 6
        (3, "11 22 33 44 55 66 77 88 99 00 q1 q2 q3 q4 q5 q6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: (r.sim_hi, r.sim_lo) for r in simhash64(df).collect()}

    def ham(a, b):
        return (bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1"))

    brute = {(a, b): ham(sigs[a], sigs[b])
             for a in sigs for b in sigs if a < b}
    assert any(4 <= d <= 7 for d in brute.values())   # fixture is on point
    for mh in (3, 7, 11):
        got = {(r.doc_a, r.doc_b): r.hamming
               for r in simhash_near_dups(df, max_hamming=mh).collect()}
        want = {p: d for p, d in brute.items() if d <= mh}
        assert got == want, (mh, got, want)
    with pytest.raises(AssertionError):
        simhash_near_dups(df, max_hamming=64)


def test_ann_lsh_topk_bucket_cap(spark):
    """The corpus side of the probe join is capped like
    embedding_near_dups: a degenerate bucket never becomes every
    query's scan. Queries themselves keep probing."""
    # 30 near-identical vectors (one hot bucket) + 3 spread vectors
    rows = ([(i, [1.0 + i * 1e-6] * 8) for i in range(30)]
            + [(100, [-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0]),
               (101, [-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.1]),
               (102, [5.0, -4.0, 3.0, -2.0, 1.0, -1.0, 2.0, -3.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = ann_lsh_topk(df, query_filter=F.col("vec_id") == 0,
                            k=3, bucket_cap=None).count()
    assert uncapped == 3
    capped = ann_lsh_topk(df, query_filter=F.col("vec_id") == 0,
                          k=3, bucket_cap=10)
    # the 30-vector bucket is dropped from the candidate side; the query
    # still probes its flip-neighbor buckets (may or may not hit 100-102)
    got = {r.vec_id for r in capped.collect()}
    assert all(v >= 100 for v in got)


def test_dedup_components_vs_union_find(spark):
    """Keep-list == brute-force union-find, including a path graph
    (forces multiple large/small-star rounds) and singletons via ids."""
    from siren_spark.functions.similarity import dedup_components

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5),     # path: one component
             (10, 11), (11, 10),                  # dup edges, one comp
             (20, 21), (22, 21),                  # star at 21
             (7, 7)]                              # self-loop: ignored
    ids = list(range(1, 6)) + [7, 10, 11, 20, 21, 22, 30, 31]  # 30,31 single

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in ids}

    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    idf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: (r.component_id, r.is_canonical)
           for r in dedup_components(pdf, ids=idf).collect()}
    assert got == {i: (want[i], 1 if want[i] == i else 0) for i in ids}
    # without ids: only genuinely paired docs appear (a self-loop-only
    # doc like 7 is a singleton, same as 30/31)
    got2 = {r.doc_id for r in dedup_components(pdf).collect()}
    assert got2 == set(ids) - {7, 30, 31}


def test_repetition_stats(spark):
    from siren_spark.functions.text import with_repetition_stats
    df = spark.createDataFrame(
        [(1, "nav\nnav\nbody text here\nnav"),       # 4 lines, 2 distinct
         (2, "buy now buy now buy now"),             # 6 tokens, 2 distinct
         (3, "all distinct words here"),
         (4, "")],                                   # filtered out
        "doc_id long, text string")
    got = {r.doc_id: (r.dup_line_ratio, r.dup_token_ratio)
           for r in with_repetition_stats(df).collect()}
    assert 4 not in got
    assert got[1][0] == 0.5                          # 1 - 2/4
    assert got[2] == (0.0, round(1 - 2 / 6, 4))
    assert got[3] == (0.0, 0.0)


def test_pii_scrubbed(spark):
    from siren_spark.functions.text import with_pii_scrubbed
    df = spark.createDataFrame(
        [(1, "write to Jo.Smith+x@ex-mail.example.co.uk or 415-555-0137 now"),
         (2, "no pii in this one 12-34"),
         (3, "two mails a@b.io c@d.org and 555-123-4567")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in with_pii_scrubbed(df).collect()}
    assert (rows[1].n_emails, rows[1].n_phones) == (1, 1)
    assert rows[1].text_scrubbed == "write to <EMAIL> or <PHONE> now"
    assert (rows[2].n_emails, rows[2].n_phones) == (0, 0)
    assert rows[2].text_scrubbed == "no pii in this one 12-34"
    assert (rows[3].n_emails, rows[3].n_phones) == (2, 1)
    assert rows[3].text_scrubbed == "two mails <EMAIL> <EMAIL> and <PHONE>"


def test_duplicate_span_stats_hand_computed(spark):
    """Fixed-window exact-span dedup on a hand-computed fixture:
    cross-doc shared windows count, same-doc repeats do not, short
    docs get zero windows (never a truncated phantom window)."""
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"),            # windows: 3
         (2, "w3 w4 w5 w6 x"),                # windows: 2, shares 1 with d1
         (3, "a b c"),                        # < window tokens -> 0 windows
         (4, "p q r s p q r s")],             # repeat WITHIN one doc only
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in duplicate_span_stats(df, window=4).collect()}
    assert (out[1].n_windows, out[1].n_dup_windows) == (3, 1)
    assert out[1].dup_frac == 0.3333
    assert (out[2].n_windows, out[2].n_dup_windows) == (2, 1)
    assert out[2].dup_frac == 0.5
    assert (out[3].n_windows, out[3].n_dup_windows, out[3].dup_frac) \
        == (0, 0, 0.0)
    # "p q r s" occurs twice in doc 4 and nowhere else: not duplication
    assert (out[4].n_windows, out[4].n_dup_windows) == (5, 0)


def test_duplicate_span_stats_whitespace_and_window_edge(spark):
    """Tokenization is \\s+ on trimmed text (multi-space/tab parity
    with the DuckDB oracle) and a doc of exactly `window` tokens has
    exactly one window."""
    df = spark.createDataFrame(
        [(1, "  u1  u2\tu3 u4 "),             # exactly 4 tokens
         (2, "u1 u2 u3 u4")],                 # same 4 tokens, single-space
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in duplicate_span_stats(df, window=4).collect()}
    for d in (1, 2):
        assert (out[d].n_windows, out[d].n_dup_windows,
                out[d].dup_frac) == (1, 1, 1.0)


# ---------------------------------------------------------- normalization

def test_normalize_unicode_controls_whitespace(spark):
    """NFC composes combining marks; C0/DEL stripped; all five ASCII
    whitespace chars collapse to single spaces; edges trimmed."""
    from siren_spark.functions.text import with_normalized_text
    dirty = [
        (1, "e\u0301clair"),            # NFD input, explicit escape
        (2, "a\x00b\x07c"),                    # controls removed
        (3, "  x \t\n\x0b\f\r y  "),           # ws runs + trim
        (4, None),
        (5, "clean text"),
    ]
    d = spark.createDataFrame(dirty, ["doc_id", "text"])
    out = {r.doc_id: (r.text_norm, r.changed)
           for r in with_normalized_text(d).collect()}
    assert out[1] == ("\u00e9clair", True)   # composed NFC
    assert out[2] == ("abc", True)
    assert out[3] == ("x y", True)
    assert out[4] == (None, False)
    assert out[5] == ("clean text", False)


def test_normalize_form_none_is_pure_jvm(spark):
    """form=None drops the pandas UDF: no Python evaluation in the
    plan, and ASCII results match the form='NFC' path."""
    from siren_spark.functions.text import with_normalized_text
    d = spark.createDataFrame(
        [(i, f"  w{i}\tw{i + 1} ") for i in range(20)],
        ["doc_id", "text"])
    plan = (with_normalized_text(d, form=None)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    a = sorted(map(tuple,
                   with_normalized_text(d, form=None).collect()))
    b = sorted(map(tuple, with_normalized_text(d).collect()))
    assert a == b


def test_normalize_validates_form(spark):
    from siren_spark.functions.text import with_normalized_text
    d = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        with_normalized_text(d, form="NFX")


# ------------------------------------------------------------------ kmeans

def _blobs(spark, n_per=40, d=8, centers=((0.0,), (10.0,), (-10.0,))):
    """Well-separated 1-offset blobs in d dims, deterministic jitter."""
    rows = []
    vid = 0
    for ci, (off,) in enumerate(centers):
        for i in range(n_per):
            vec = [off + ((vid * 7 + j * 3) % 5) * 0.01
                   for j in range(d)]
            rows.append((vid, vec, ci))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, truth int")


def test_kmeans_recovers_separated_blobs(spark):
    from siren_spark.functions.clustering import kmeans_fit
    d = _blobs(spark)
    cents, assigned = kmeans_fit(d, k=3, iters=4)
    rows = assigned.join(d.select("vec_id", "truth"), "vec_id").collect()
    # cluster labels must be a bijection of truth labels
    mapping = {}
    for r in rows:
        mapping.setdefault(r.truth, set()).add(r.cluster)
    assert all(len(v) == 1 for v in mapping.values())
    assert len({next(iter(v)) for v in mapping.values()}) == 3
    # converged centroids sit at the blob offsets (quantized x1000)
    firsts = sorted(c[0] for c in cents)
    assert firsts[0] < -9000 and abs(firsts[1]) < 1000 \
        and firsts[2] > 9000


def test_kmeans_deterministic_across_partitionings(spark):
    from siren_spark.functions.clustering import kmeans_fit
    d = _blobs(spark)
    c1, a1 = kmeans_fit(d, k=3, iters=2)
    c2, a2 = kmeans_fit(d.repartition(13), k=3, iters=2)
    assert c1 == c2
    assert sorted(map(tuple, a1.collect())) == sorted(
        map(tuple, a2.collect()))


def test_kmeans_assign_tiebreak_and_validation(spark):
    import pytest
    from siren_spark.functions.clustering import kmeans_assign, kmeans_fit
    d = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id long, embedding array<float>")
    # two identical centroids: tie goes to the lower cluster id
    out = kmeans_assign(d, [[5, 5], [5, 5]]).first()
    assert out.cluster == 0 and out.dist2 == 50
    with pytest.raises(ValueError):
        kmeans_assign(d, [])
    with pytest.raises(ValueError):
        kmeans_assign(d, [[1, 2], [1]])
    with pytest.raises(ValueError, match="exceeds corpus"):
        kmeans_fit(d, k=5)


def test_kmeans_iter0_is_seed_assignment(spark):
    """iters=0 assigns straight to the deterministic seeds."""
    from siren_spark.functions.clustering import kmeans_fit
    d = _blobs(spark, n_per=5)
    cents, assigned = kmeans_fit(d, k=3, iters=0)
    seeds = {r.vec_id: list(r.ev) for r in d.orderBy("vec_id").limit(3)
             .selectExpr("vec_id",
                         "transform(embedding, x -> CAST(FLOOR("
                         "CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ev")
             .collect()}
    assert cents == [seeds[0], seeds[1], seeds[2]]
    # the seed vectors themselves sit at distance 0
    zero = {r.vec_id for r in assigned.filter("dist2 = 0").collect()}
    assert {0, 1, 2} <= zero


# ------------------------------------------------------------ trigram LM

def test_lm_train_hand_values(spark):
    """'abcd' reference: trigrams abc, bcd (total=2, V=2);
    logp_milli = floor(1000 ln((1+1)/4)) = -694; OOV = floor(1000
    ln(1/4)) = -1387."""
    from siren_spark.functions.lm import train_char_trigram_lm
    ref = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
    w, oov = train_char_trigram_lm(ref)
    got = {r.gram: r.logp_milli for r in w.collect()}
    assert got == {"abc": -694, "bcd": -694}
    assert oov == -1387


def test_lm_score_exact_and_oov(spark):
    from siren_spark.functions.lm import (score_char_trigram_nll,
                                          train_char_trigram_lm)
    ref = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
    w, oov = train_char_trigram_lm(ref)
    d = spark.createDataFrame(
        [(1, "abcd"),      # 2 in-vocab grams -> nll 1388
         (2, "zzzz"),      # 2 OOV grams      -> nll 2774
         (3, "ab")],       # too short: excluded
        ["doc_id", "text"])
    out = {r.doc_id: (r.n_grams, r.nll_milli, r.bucket)
           for r in score_char_trigram_nll(d, w, oov,
                                           buckets=2).collect()}
    assert out[1] == (2, 1388, 1)   # fluent doc -> head bucket
    assert out[2] == (2, 2774, 2)   # OOV soup  -> tail bucket
    assert 3 not in out


def test_lm_buckets_deterministic_and_join_modes(spark, docs):
    from pyspark.sql import functions as F
    from siren_spark.functions.lm import (score_char_trigram_nll,
                                          train_char_trigram_lm)
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    w, oov = train_char_trigram_lm(ref)
    a = sorted(map(tuple,
                   score_char_trigram_nll(docs, w, oov).collect()))
    b = sorted(map(tuple,
                   score_char_trigram_nll(
                       docs.repartition(11), w, oov,
                       broadcast_weights=False).collect()))
    assert a == b and len(a) == docs.filter("length(text) >= 3").count()
    # reference docs score better (lower tercile mean) than the rest
    sc = score_char_trigram_nll(docs, w, oov)
    ref_mean = sc.filter(F.col("doc_id") % 3 == 0) \
        .agg(F.avg("nll_per_gram")).first()[0]
    other_mean = sc.filter(F.col("doc_id") % 3 != 0) \
        .agg(F.avg("nll_per_gram")).first()[0]
    assert ref_mean <= other_mean


def test_lm_validates(spark):
    import pytest
    from siren_spark.functions.lm import (score_char_trigram_nll,
                                          train_char_trigram_lm)
    short = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="no trigrams"):
        train_char_trigram_lm(short)
    ok = spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
    w, oov = train_char_trigram_lm(ok)
    with pytest.raises(ValueError, match="buckets"):
        score_char_trigram_nll(ok, w, oov, buckets=0)


def test_lm_distributed_ntile_matches_window_ntile(spark):
    """_ntile_distributed is bit-identical to the no-partition
    ``ntile(n) OVER (ORDER BY v, id)`` it replaced, across bucket
    counts, tie runs, and N % n remainders — but with every stage
    parallel (the global single-task sort was the round-5 verdict's
    scale-killer #3)."""
    import random
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from siren_spark.functions.lm import _ntile_distributed
    rng = random.Random(7)
    # values straddle several floor() buckets and include tie runs
    rows = [(i, round(rng.uniform(0.0, 5.0), 1)) for i in range(97)]
    df = spark.createDataFrame(rows, ["doc_id", "nll_per_gram"])
    for n in (1, 2, 3, 7, 96, 97, 200):
        want = {r.doc_id: r.b for r in df.withColumn(
            "b", F.ntile(n).over(
                Window.orderBy(F.asc("nll_per_gram"),
                               F.asc("doc_id")))).collect()}
        got = {r.doc_id: r.bucket for r in _ntile_distributed(
            df.repartition(13), n,
            order_cols=["nll_per_gram", "doc_id"]).collect()}
        assert got == want, n


def test_lm_distributed_ntile_keeps_null_leads(spark):
    """Rows whose leading order value is NULL are kept and tiled like
    the window ``ntile`` tiles them: ascending order puts NULLs first,
    so they fill the first tiles (ordered among themselves by the next
    order column). An inner equi-join on floor(lead) would drop them."""
    import random
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from siren_spark.functions.lm import _ntile_distributed
    rng = random.Random(11)
    rows = [(i, None if i % 5 == 0 else round(rng.uniform(-2.0, 4.0), 1))
            for i in range(61)]
    df = spark.createDataFrame(rows, "doc_id long, nll_per_gram double")
    for n in (1, 3, 7, 12, 61, 80):
        want = {r.doc_id: r.b for r in df.withColumn(
            "b", F.ntile(n).over(
                Window.orderBy(F.asc("nll_per_gram"),
                               F.asc("doc_id")))).collect()}
        got = {r.doc_id: r.bucket for r in _ntile_distributed(
            df.repartition(5), n,
            order_cols=["nll_per_gram", "doc_id"]).collect()}
        assert len(got) == len(rows), n
        assert got == want, n


def test_lm_bucket_plan_has_no_bulk_global_window(spark, docs):
    """The scored (per-doc) rows must never pass through a
    no-partition Window: the only partition-less window allowed is the
    running-offset one over the tiny per-value-bucket COUNT frame
    (its subtree aggregates before the window). The bulk rank window
    is partitioned by the value bucket."""
    import re
    from pyspark.sql import functions as F
    from siren_spark.functions.lm import (score_char_trigram_nll,
                                          train_char_trigram_lm)
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    w, oov = train_char_trigram_lm(ref)
    plan = score_char_trigram_nll(docs, w, oov)._sc._jvm \
        .PythonSQLUtils.explainString(
            score_char_trigram_nll(docs, w, oov)._jdf.queryExecution(),
            "formatted")
    # formatted Window node prints Arguments: [fns], [partition],
    # [order] when partitioned and only [fns], [order] when not
    specs = []
    for m in re.finditer(r"\(\d+\) Window\n", plan):
        seg = plan[m.end():]
        arg_line = next(ln for ln in seg.splitlines()
                        if ln.startswith("Arguments:"))
        specs.append(arg_line.split("], ["))
    assert specs, plan
    partitionless = [s for s in specs if len(s) == 2]
    partitioned = [s for s in specs if len(s) == 3]
    # exactly one partition-less window (the per-bucket offsets) ...
    assert len(partitionless) == 1, plan
    # ... and the bulk rank window is partitioned (by the value bucket)
    assert any("__vb" in s[1] for s in partitioned), plan


# ------------------------------------------------------- edit-distance verify

def _lev(a: str, b: str) -> int:
    """Textbook DP Levenshtein — the independent oracle."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_verify_known_values(spark):
    from siren_spark.functions.similarity import edit_distance_verify
    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting"), (3, ""), (4, ""), (5, "abc")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (3, 5), (5, 5)], ["doc_a", "doc_b"])
    out = {(r.doc_a, r.doc_b): r for r in
           edit_distance_verify(docs, pairs).collect()}
    assert out[(1, 2)].lev == 3 and out[(1, 2)].max_len == 7
    assert out[(1, 2)].sim_milli == (1000 * (7 - 3)) // 7
    assert out[(3, 4)].lev == 0 and out[(3, 4)].sim_milli == 1000
    assert out[(3, 5)].lev == 3 and out[(3, 5)].sim_milli == 0
    assert out[(5, 5)].lev == 0 and out[(5, 5)].sim_milli == 1000


def test_edit_distance_verify_differential_and_prefix(spark):
    """Spark levenshtein == textbook DP on the truncated prefixes, and
    the prefix cap actually bounds what is compared."""
    from siren_spark.functions.similarity import edit_distance_verify
    texts = {i: " ".join(f"w{(i * 13 + j) % 11}" for j in range(30))
             for i in range(20)}
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, (i + 7) % 20) for i in range(20)], ["doc_a", "doc_b"])
    rows = edit_distance_verify(docs, pairs, prefix_chars=24).collect()
    assert len(rows) == 20
    for r in rows:
        pa, pb = texts[r.doc_a][:24], texts[r.doc_b][:24]
        want = _lev(pa, pb)
        assert r.lev == want, (r.doc_a, r.doc_b, r.lev, want)
        assert r.max_len == max(len(pa), len(pb))


def test_edit_distance_verify_threshold_filters(spark):
    from siren_spark.functions.similarity import edit_distance_verify
    docs = spark.createDataFrame(
        [(1, "aaaa bbbb"), (2, "aaaa bbbc"), (3, "zzzz yyyy")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    kept = edit_distance_verify(docs, pairs, min_sim_milli=800).collect()
    assert [(r.doc_a, r.doc_b) for r in kept] == [(1, 2)]
