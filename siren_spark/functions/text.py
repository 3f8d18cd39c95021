"""Text-analysis operators for training-data pipelines, as engine API.

DataFrame -> DataFrame functions over a text column: language ID,
token counting (whitespace + BPE-ish pre-tokenizer), quality scoring,
and document fingerprinting. Pure JVM column expressions so they stay
inside whole-stage codegen and scale as flat maps — no shuffle, no skew
surface, safe at any corpus size.

Determinism: integer outputs are BIGINT, float outputs are rounded at a
fixed scale, so results are independent of partitioning and execution
order (the driver's value-hash oracle gate relies on this).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ws_token_count(text: Column) -> Column:
    """Whitespace token count = spaces + 1 (single-space normalized
    corpora; matches the SQL oracle exactly)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
            + F.lit(1)).cast("long")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_tokens`` (whitespace tokens) and ``n_chars``."""
    t = F.col(text_col)
    return (df.withColumn("n_tokens", _ws_token_count(t))
            .withColumn("n_chars", F.length(t).cast("long")))


# Runs of letters | runs of digits | single non-alnum symbol: the
# whitespace+category split a byte-level BPE pre-tokenizer performs
# before merges (counts pre-tokens; merges only ever reduce the count).
BPE_PRETOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_bpe_tokens`` — BPE pre-tokenizer token count."""
    return df.withColumn(
        "n_bpe_tokens",
        F.size(F.regexp_extract_all(F.lower(F.col(text_col)),
                                    F.lit(BPE_PRETOKEN_RE), 0)).cast("long"))


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``predicted_lang`` ('en' | 'und').

    Deliberately tiny stopword-frequency heuristic (' the ', ' a ')
    kept SQL-expressible so the oracle gate can verify it exactly; a
    production pipeline swaps in an n-gram/fastText-class scorer as a
    pandas UDF with the same column contract.
    """
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))

    def occurrences(needle: str) -> Column:
        return (F.length(padded)
                - F.length(F.replace(padded, F.lit(needle), F.lit("")))) \
            / F.lit(len(needle))

    score = (occurrences(" the ") + occurrences(" a ")).cast("long")
    return df.withColumn(
        "predicted_lang",
        F.when(score >= 2, F.lit("en")).otherwise(F.lit("und")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``avg_word_len`` and ``length_score`` (both ROUND(...,4)).

    length_score saturates at 100 tokens — a crude "long enough to
    train on" signal; avg_word_len flags boilerplate/code blobs.
    """
    t = F.col(text_col)
    n_tok = _ws_token_count(t).cast("double")
    compact = F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double")
    return (df.filter(F.length(t) > 0)
            .withColumn("avg_word_len", F.round(compact / n_tok, 4))
            .withColumn("length_score",
                        F.round(F.least(n_tok / F.lit(100.0), F.lit(1.0)), 4)))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``fingerprint`` = md5(head(40) | length | tail(40)).

    A cheap locality-insensitive document identity: robust to mid-body
    edits being *detected* (length changes), constant-size, and
    computable in one pass — the pre-filter in front of exact dedup.
    """
    t = F.col(text_col)
    return df.withColumn(
        "fingerprint",
        F.md5(F.concat(
            F.substring(t, 1, 40), F.lit("|"),
            F.length(t).cast("string"), F.lit("|"),
            F.substring(t, F.greatest(F.length(t) - F.lit(39), F.lit(1)),
                        F.lit(40)))))


# the classic tiny English stopword core used by quality filters; kept
# short and fixed so the oracle gate can replicate it verbatim
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "that", "this")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the standard quality-filter signal columns (all ROUND(...,4)):

    - ``stopword_ratio``: stopword tokens / tokens — near-0 suggests
      non-English or keyword-stuffed pages, near-1 suggests boilerplate;
    - ``punct_ratio``: non-alphanumeric-non-space chars / chars — high
      values flag code, tables, navigation soup;
    - ``alpha_ratio``: alphabetic chars / chars.

    Gopher/C4-style heuristics as pure column math — one pass, no UDF.
    """
    t = F.lower(F.col(text_col))
    toks = F.split(t, " ")
    n_tok = F.size(toks).cast("double")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))) \
        .cast("double")
    n_chars = F.length(t).cast("double")
    n_punct = F.size(F.regexp_extract_all(t, F.lit("[^a-z0-9 ]"), 0)) \
        .cast("double")
    n_alpha = F.size(F.regexp_extract_all(t, F.lit("[a-z]"), 0)) \
        .cast("double")
    return (df.filter(F.length(t) > 0)
            .withColumn("stopword_ratio", F.round(n_sw / n_tok, 4))
            .withColumn("punct_ratio", F.round(n_punct / n_chars, 4))
            .withColumn("alpha_ratio", F.round(n_alpha / n_chars, 4)))


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add C4/Gopher-style repetition signals (both ROUND(...,4)):

    - ``dup_line_ratio``: 1 - distinct lines / lines — boilerplate pages
      (nav soup, cookie banners, SEO spam) repeat whole lines;
    - ``dup_token_ratio``: 1 - distinct tokens / tokens — keyword
      stuffing and template text repeat words far above natural prose.

    Pure column math (split + array_distinct), one pass, no shuffle —
    the same flat-map shape as with_text_stats, safe at any corpus size.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("double")
    d_lines = F.size(F.array_distinct(lines)).cast("double")
    toks = F.split(F.lower(t), " ")
    n_tok = F.size(toks).cast("double")
    d_tok = F.size(F.array_distinct(toks)).cast("double")
    return (df.filter(F.length(t) > 0)
            .withColumn("dup_line_ratio",
                        F.round(F.lit(1.0) - d_lines / n_lines, 4))
            .withColumn("dup_token_ratio",
                        F.round(F.lit(1.0) - d_tok / n_tok, 4)))


# Deliberately anchored, fixed-shape patterns: identical leftmost-match
# semantics under Java regex (Spark) and RE2 (DuckDB oracle), so the
# scrub is engine-independent. A production pipeline extends the table.
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def with_pii_scrubbed(df: DataFrame, text_col: str = "text",
                      out_col: str = "text_scrubbed") -> DataFrame:
    """Add ``n_emails`` / ``n_phones`` match counts and ``out_col`` with
    emails replaced by ``<EMAIL>`` then phones by ``<PHONE>`` (order
    fixed: an email is scrubbed before its digits can look like a
    phone). Pure JVM regex — no UDF, codegen-friendly, flat map."""
    t = F.col(text_col)
    return (df.withColumn(
                "n_emails",
                F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))
                       ).cast("long"))
            .withColumn(
                "n_phones",
                F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0))
                       ).cast("long"))
            .withColumn(
                out_col,
                F.regexp_replace(
                    F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
                    PII_PHONE_RE, "<PHONE>")))


# C0 control chars (minus \t \n \x0B \f \r, which are whitespace and
# handled by the collapse step) plus DEL. Hex escapes parse identically
# in Java regex (Spark) and RE2 (DuckDB oracle) — \s does NOT (\x0B is
# whitespace to Java but not to RE2), hence the explicit classes.
CONTROL_CHAR_RE = "[\\x00-\\x08\\x0E-\\x1F\\x7F]"
WHITESPACE_RUN_RE = "[ \\t\\n\\f\\r\\x0B]+"


def with_normalized_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    form: str | None = "NFC",
    out_col: str = "text_norm",
) -> DataFrame:
    """Pre-tokenization text cleanup — the first transform every
    web-text pipeline runs before counting, hashing, or deduping:
    unicode normalization (NFC by default, so 'é' composed and 'e'+
    combining-acute hash identically), C0/DEL control-char removal,
    whitespace-run collapse to single spaces, edge trim. Adds
    ``out_col`` and a ``changed`` flag; order of operations is fixed
    (normalize → strip controls → collapse → trim) and mirrored by the
    DuckDB oracle.

    Flat map, no shuffle. The regex steps are pure JVM; unicode
    normalization needs Python, so it runs as an Arrow-batched pandas
    UDF with an ASCII short-circuit — normalization is the identity on
    ASCII, so English-dominated web batches skip ``unicodedata``
    entirely and only genuinely non-ASCII strings pay the call. Pass
    ``form=None`` to drop the UDF from the plan altogether (whole-stage
    codegen end to end) when upstream already guarantees NFC.
    """
    if form not in (None, "NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown unicode form: {form!r}")
    t = F.col(text_col)
    if form is not None:
        _form = form

        @F.pandas_udf("string")
        def _unorm(s: pd.Series) -> pd.Series:
            import unicodedata

            def one(v: str | None) -> str | None:
                if v is None or v.isascii():
                    return v
                return unicodedata.normalize(_form, v)
            return s.map(one)

        t = _unorm(t)
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(t, CONTROL_CHAR_RE, ""),
        WHITESPACE_RUN_RE, " "))
    return (df.withColumn(out_col, cleaned)
            .withColumn("changed",
                        ~F.col(out_col).eqNullSafe(F.col(text_col))))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: (text_hash, canonical_doc, dup_count).

    Hash group-by — the one dedup that is embarrassingly scalable
    (one shuffle on md5(text), combiner-friendly aggregates).
    """
    return (df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
            .agg(F.min(id_col).cast("long").alias("canonical_doc"),
                 F.count(F.lit(1)).alias("dup_count")))


__all__ = ["with_token_counts", "with_bpe_token_count", "with_langid",
           "with_quality_score", "with_text_stats", "with_fingerprint",
           "with_repetition_stats", "with_pii_scrubbed",
           "with_normalized_text", "CONTROL_CHAR_RE", "WHITESPACE_RUN_RE",
           "dedup_exact", "BPE_PRETOKEN_RE", "STOPWORDS",
           "PII_EMAIL_RE", "PII_PHONE_RE"]


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    seg_hashes: int = 4096,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm).

    Local fingerprinting with a detection GUARANTEE: hash every
    ``k``-gram, slide a window of ``w`` consecutive hashes, select the
    window minimum (rightmost on ties), emit the distinct (pos, hash)
    selections. Any substring shared between two documents of length
    >= ``w + k - 1`` is then guaranteed to contribute at least one
    common fingerprint — the property plain "every n-th hash" sampling
    lacks — at an expected density of 2/(w+1) selections per position.
    The complement to dedup_span_exact's fixed-stride windows: use
    these fingerprints as join keys to find shared-span candidates of
    ANY alignment. Texts shorter than ``k`` yield no fingerprints; for
    texts shorter than ``w`` hashes the window shrinks to the hash
    count so every doc >= ``k`` chars gets at least one.

    Hashes are the first 8 hex chars of md5(k-gram) — kept as hex
    STRINGS so "minimum" is a lexicographic compare any engine
    reproduces bit-exactly (same trick as curation._hash8).

    Scale: the whole selection is per-row array math inside
    whole-stage codegen (one projection, no UDF, no shuffle, no
    explode until the final flat fan-out); cost O(len * w) per doc,
    output ~2/(w+1) rows per char. The fingerprint table is what
    shuffles — 8-char slices + position, never document bytes. The
    per-row TRANSIENT is bounded too: a naive formulation would
    materialize one 8-hex-char hash per text position in a single
    array (~20x blow-up on a 100 KB page); instead the window-start
    space is processed in segments of ``seg_hashes`` windows, each
    segment binding only its own hash slice (segment + w - 1 hashes,
    re-hashing the w-1 overlap) — EXACTLY the same selections, since
    every window's w hashes live inside its segment's slice and the
    final row-local array_distinct is global across segments. Docs
    within one segment take the identical single-segment path.
    """
    assert k >= 1 and w >= 1 and seg_hashes >= w
    s = int(seg_hashes)
    t, kk = text_col, int(k)
    # window count Wn = H - we + 1 where H = hash count, we = min(w, H)
    base = (df.where(F.length(text_col) >= k)
            .select(F.col(id_col), F.col(text_col))
            .withColumn("__H", (F.length(t) - kk + 1).cast("int"))
            .withColumn("__we", F.least(F.lit(int(w)), F.col("__H")))
            .withColumn("__Wn", F.col("__H") - F.col("__we") + 1))
    # per segment tseg: windows tseg*s+1 .. tseg*s+cnt (cnt <= s), which
    # only read hashes tseg*s+1 .. tseg*s+cnt+we-1 — that slice is bound
    # ONCE per segment via the single-element-transform trick (SQL
    # lambdas have no let); global pos/j arithmetic restores the
    # original coordinates, so the output is bit-identical at any s.
    # Selections are encoded 'pos:fp' STRINGS, not structs: Spark's
    # array_distinct hash-sets atomic types (linear) but falls back to
    # pairwise comparison for structs — O(windows^2) per row, measured
    # as the actual scale-killer on long docs. Each segment dedups its
    # own selections (bounding the flattened size to ~2/(w+1) density)
    # and the outer distinct removes only cross-segment repeats, which
    # composes to exactly one global set-distinct.
    # the segment's character span is ALSO bound once (st): substring
    # on a long string is O(offset) — a char-offset scan — so hashing
    # k-grams straight off the full text is O(len^2) per doc; off the
    # bounded segment string every k-gram substring is O(seg)
    sel = F.expr(f"""
        array_distinct(flatten(transform(
          sequence(0, CAST(ceil(__Wn / CAST({s} AS DOUBLE)) AS INT) - 1),
          tseg -> element_at(transform(
            array(substring({t}, tseg * {s} + 1,
                            least(tseg * {s} + {s}, __Wn) + __we - 1
                            - tseg * {s} + {kk} - 1)),
            st -> element_at(transform(
              array(transform(
                sequence(1, least(tseg * {s} + {s}, __Wn) + __we - 1
                            - tseg * {s}),
                i -> substring(md5(substring(st, i, {kk})), 1, 8))),
              hs -> array_distinct(transform(
                sequence(1, least({s}, __Wn - tseg * {s})),
                jl -> concat(
                  CAST(tseg * {s} + jl - 1 + array_max(transform(
                         sequence(1, __we),
                         i -> IF(element_at(hs, jl + i - 1) =
                                 array_min(slice(hs, jl, __we)), i, 0)))
                       AS STRING),
                  ':', array_min(slice(hs, jl, __we)))))), 1)), 1))))""")
    return (base.select(F.col(id_col), F.explode(sel).alias("__s"))
            .select(F.col(id_col),
                    F.split("__s", ":").getItem(0).cast("long")
                    .alias("pos"),
                    F.split("__s", ":").getItem(1).alias("fp")))


def winnow_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    fp_doc_cap: int = 64,
) -> DataFrame:
    """Any-alignment shared-span candidate pairs via winnowing.

    The join the fingerprints exist for (Schleimer/Wilkerson/Aiken
    SIGMOD 2003 §4 — MOSS runs exactly this over its fingerprint
    index): doc pairs sharing >= ``min_shared`` distinct winnow
    fingerprint hashes. By the winnowing guarantee every shared
    substring of length >= ``w + k - 1`` contributes at least one
    common fingerprint, so with ``min_shared=1`` this finds ALL pairs
    sharing a span that long, at ANY alignment — the recall property
    MinHash-LSH (probabilistic) and dedup_span_exact (fixed stride)
    each trade away. Output one row per unordered pair
    (id_a < id_b) with the shared-fingerprint count.

    Scale: same shape as graph.detect_mirror_hosts — selections
    collapse to DISTINCT (id, 8-char hash) before anything wide, so
    the equi-join carries slices, never text. The quadratic hazard is
    a fingerprint appearing in MANY docs (boilerplate: headers, empty
    strings — in MOSS terms, code every submission shares); a hash in
    > ``fp_doc_cap`` docs generates cap^2 pairs and carries no
    shared-SPAN signal, so it is dropped before the self-join. The
    fan-out per surviving hash is then <= cap^2 and the join is a
    plain digest equi-join — never doc x doc.
    """
    fps = (winnow_fingerprints(df, id_col=id_col, text_col=text_col,
                               k=k, w=w)
           .select(F.col(id_col), "fp").distinct())
    rare = (fps.groupBy("fp")
            .agg(F.count("*").alias("__docs"))
            .where(F.col("__docs") <= fp_doc_cap)
            .select("fp"))
    trimmed = fps.join(rare, "fp")
    a = trimmed.select("fp", F.col(id_col).alias("id_a"))
    b = trimmed.select("fp", F.col(id_col).alias("id_b"))
    return (a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))
