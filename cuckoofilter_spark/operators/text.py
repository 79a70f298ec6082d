"""Text-analysis operators for training-data pipelines over the
``documents`` table: tokenization, n-grams, quality scoring, language ID,
document fingerprinting.

All hot-path logic is built-in Spark SQL functions (JVM-side, whole-stage
codegen) — no Python UDFs.  Every operator is a narrow map over the scan
(no shuffle), so at 100 TB each is a single embarrassingly-parallel stage
whose cost is the parquet read itself; filters/projections push down to the
scan.

Ratios are emitted as integer-scaled values (``floor(x * 10_000)``) so the
results are exactly reproducible across engines (our DuckDB oracles compute
the identical integer arithmetic — no float-rounding drift).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: function words used by the language-ID and stopword-ratio heuristics.
#: (The synthetic corpus is English-ish; real deployments swap in per-language
#: stopword tables — the plan shape is identical.)
EN_STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "on", "for", "with")
DE_STOPWORDS = ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "von", "zu")
FR_STOPWORDS = ("le", "la", "les", "et", "un", "une", "est", "pas", "pour", "dans")


def words(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus convention)."""
    return F.split(text, " ")


def word_ngrams(ws: Column, n: int) -> Column:
    """Overlapping word n-grams (stride 1), the token analog of the
    reference's k-mer sliding window (``FASTA/fasta_reader.cpp:67-75``).
    Empty when the document has fewer than *n* words.

    SCALE HAZARD: pass *ws* as a bound column (``F.col``), never an
    inline expression like ``F.split(text)`` — the transform lambda
    indexes into *ws* via ``element_at`` once per position, and codegen
    re-evaluates an inline expression on every call: O(words²) per
    document (quadratic-split measurement in ``dedup.shingles``).

    Guarded for short documents: ``sequence(1, 0)`` in Spark DESCENDS to
    ``[1, 0]`` (it is not an empty range), which would push ``element_at``
    out of bounds — docs with fewer than *n* words take the empty-array
    branch instead."""
    idx = F.sequence(F.lit(1), F.size(ws) - (n - 1))
    parts = lambda i: [F.element_at(ws, i + j) for j in range(n)]  # noqa: E731
    grams = F.transform(idx, lambda i: F.concat_ws("\x01", *parts(i)))
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>"))


def _count_in(ws: Column, vocab: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(ws, lambda x: F.array_contains(arr, x)))


#: BPE-ish pre-tokenizer classes (GPT-2-style, simplified to a dialect
#: identical under Java regex and RE2 so oracles can reproduce it):
#: letter runs | digit runs | single non-alnum-non-space | space runs
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]|\s+"


def bpe_ish_tokens(text: Column) -> Column:
    """Regex pre-tokenization (the subword-tokenizer front half): splits
    into letter/digit/punct/space runs, the classes BPE merges operate
    within.  JVM-side `regexp_extract_all` — no Python."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def _token_stats_cols(text: Column) -> dict[str, Column]:
    ws = words(text)
    n_words = F.size(ws).cast("long")
    n_chars = F.length(text).cast("long")
    return {
        "n_words": n_words,
        "n_chars_m": n_chars,
        # average word length ×10000, integer-exact: total word chars =
        # n_chars - (n_words - 1) separators
        "avg_word_len_x1e4": F.floor((n_chars - n_words + 1) * 10000 / n_words).cast("long"),
        # BPE-ish pre-token count, whitespace runs excluded (what a
        # subword tokenizer's merge stage would consume)
        "n_bpe_ish": F.size(F.filter(bpe_ish_tokens(text),
                                     lambda t: ~t.rlike(r"^\s+$"))).cast("long"),
    }


def _quality_cols(text: Column) -> dict[str, Column]:
    ws = words(text)
    n_words = F.size(ws).cast("long")
    n_stop = _count_in(ws, EN_STOPWORDS).cast("long")
    return {
        "n_words": n_words,
        "n_stopwords": n_stop,
        "stop_ratio_x1e4": F.floor(n_stop * 10000 / n_words).cast("long"),
        "len_ok": n_words >= 20,
        "has_stopwords": n_stop > 0,
    }


def _lang_id_cols(text: Column) -> dict[str, Column]:
    ws = words(text)
    en, de, fr = (_count_in(ws, v) for v in (EN_STOPWORDS, DE_STOPWORDS, FR_STOPWORDS))
    pred = (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return {"lang": F.col("lang"), "lang_pred": pred,
            "lang_match": pred == F.col("lang")}


def _project(docs: DataFrame, cols: dict[str, Column]) -> DataFrame:
    return docs.select(F.col("doc_id"), *(c.alias(name) for name, c in cols.items()))


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics (exact, SQL-reproducible)."""
    return _project(docs, _token_stats_cols(F.col(text_col)))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: stopword ratio, short-doc flag, mean word
    length band.  Mirrors common pretraining-corpus filters (C4/Gopher-style
    rules) with exactly-reproducible integer arithmetic."""
    return _project(docs, _quality_cols(F.col(text_col)))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: count hits against per-language function
    word lists, argmax with deterministic tie order en > de > fr > und."""
    return _project(docs, _lang_id_cols(F.col(text_col)))


def text_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """token_stats + quality_score + lang_id fused into ONE narrow
    projection — one corpus scan, zero joins.  A doc_id join of the three
    individual operators is logically identical (1:1 on a unique key of
    the same relation) but Catalyst cannot prove it and would plan three
    scans plus two corpus-wide shuffles; at 100 TB the fused form is the
    only right plan.  The columns are the individual operators' own
    expressions, ``n_words`` once."""
    text = F.col(text_col)
    return _project(docs, {**_token_stats_cols(text), **_quality_cols(text),
                           **_lang_id_cols(text)})


def word_fingerprint(ws: Column, mult: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over the hash-codes of the words *ws*
    (Horner form, modular) — the order-sensitive document fingerprint
    (same words → same code; any reorder/edit → different).  Stays
    JVM-side via `aggregate`."""
    codes = F.transform(ws, lambda w: F.pmod(F.xxhash64(w), F.lit(mod)))
    return F.aggregate(codes, F.lit(0).cast("long"),
                       lambda acc, c: F.pmod(acc * mult + c, F.lit(mod)))


def rolling_fingerprint(docs: DataFrame, text_col: str = "text",
                        mult: int = 31, mod: int = (1 << 31) - 1) -> DataFrame:
    """``word_fingerprint`` of each document's words."""
    return docs.select(
        "doc_id", word_fingerprint(words(F.col(text_col)), mult, mod).alias("rolling_fp"))


def _max_group_size(arr: Column) -> Column:
    """Largest multiplicity of any value in a SORTED array — a single
    O(n) JVM ``aggregate`` pass (state: previous value, current run, best
    run).  No explode, no shuffle."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"), F.lit(0).alias("best"))
    def step(acc: Column, w: Column) -> Column:
        nr = F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(w.alias("prev"), nr.alias("run"),
                        F.greatest(acc["best"], nr).alias("best"))
    return F.aggregate(arr, init, step, lambda acc: acc["best"])


def _singleton_count(arr: Column) -> Column:
    """Number of values occurring EXACTLY once in a SORTED array (same
    single-pass aggregate shape as :func:`_max_group_size`)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"), F.lit(0).alias("singles"))
    def step(acc: Column, w: Column) -> Column:
        same = w == acc["prev"]
        closed = F.when(acc["run"] == 1, 1).otherwise(0)
        return F.struct(
            w.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["singles"])
            .otherwise(acc["singles"] + closed).alias("singles"))
    fin = lambda acc: acc["singles"] + F.when(acc["run"] == 1, 1).otherwise(0)  # noqa: E731
    return F.aggregate(arr, init, step, fin)


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    'Scaling Language Models', table A1 — the repetition-removal family of
    pretraining quality filters), word-count flavored so every ratio is
    integer-exact:

    - ``top_word_frac_x1e4`` — share of words taken by the single most
      frequent word;
    - ``dup_2gram_frac_x1e4`` / ``dup_3gram_frac_x1e4`` — share of n-gram
      positions whose n-gram occurs more than once in the document;
    - ``repetitive`` — the filter verdict (top word > 20 % or duplicate
      3-grams > 30 %).

    Plan shape: narrow map only.  Per-document multiplicities come from
    ``array_sort`` + one O(n) ``aggregate`` pass per signal — NOT from
    explode + groupBy, so a 100 TB corpus pays zero shuffle (the classic
    explode-on-shingles plan shuffles the whole corpus re-keyed by gram).
    Cost is O(words · log words) per row inside whole-stage codegen.
    Sorted arrays are bound behind a projection per the ``word_ngrams``
    re-evaluation hazard."""
    bound = docs.select(F.col("doc_id"), words(F.col(text_col)).alias("ws"))
    sorted_ = bound.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.array_sort("ws").alias("sw"),
        F.array_sort(word_ngrams(F.col("ws"), 2)).alias("s2"),
        F.array_sort(word_ngrams(F.col("ws"), 3)).alias("s3"),
    )
    def dup_frac(arr: str) -> Column:
        n = F.size(arr).cast("long")
        dup = n - _singleton_count(F.col(arr)).cast("long")
        return F.when(n > 0, F.floor(dup * 10000 / n)).otherwise(F.lit(0)).cast("long")
    out = sorted_.select(
        "doc_id", "n_words",
        F.floor(_max_group_size(F.col("sw")).cast("long") * 10000 / F.col("n_words"))
        .cast("long").alias("top_word_frac_x1e4"),
        dup_frac("s2").alias("dup_2gram_frac_x1e4"),
        dup_frac("s3").alias("dup_3gram_frac_x1e4"),
    )
    return out.withColumn(
        "repetitive",
        (F.col("top_word_frac_x1e4") > 2000) | (F.col("dup_3gram_frac_x1e4") > 3000))


def content_md5(text: Column) -> Column:
    """md5 of the lowercased, whitespace-normalized text."""
    return F.md5(F.encode(F.regexp_replace(F.lower(text), r"\s+", " "), "UTF-8"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonicalized exact-content fingerprint (``content_md5``): the
    grouping key for exact dedup."""
    return docs.select(F.col("doc_id"), content_md5(F.col(text_col)).alias("fingerprint"))


#: PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB,
#: the oracle engine) interpret identically: character classes, bounded
#: repetition, \b word boundaries — no backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4s to typed placeholders, with
    per-category match counts — the standard pre-training privacy pass.

    Pure JVM narrow map (chained `regexp_replace` + `regexp_count` inside
    whole-stage codegen): shuffle-free at any corpus size, no Python in
    the hot path.  Replacement order (email → phone → ip) matters: the
    email pattern consumes its host before the bare-IP pattern could
    match a numeric host.  The `n_<category>` columns are DETECTION
    counts on the raw text, each category independently — when patterns
    overlap (an email whose host is an IP), a category can be detected
    yet redacted under an earlier category's placeholder, so counts
    reconcile with raw-text matches, not with placeholder occurrences in
    `scrubbed`.  Adding a detector = one (name, regex, token) row in
    PII_PATTERNS, kept to the Java∩RE2 regex subset so external engines
    reproduce the redaction byte-for-byte.
    """
    out = docs
    scrubbed = F.col(text_col)
    for name, pat, _tok in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col),
                                                         F.lit(pat)))
    for _name, pat, tok in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, tok)
    return out.withColumn("scrubbed", scrubbed)
