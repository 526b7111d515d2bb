"""Text analysis operators (SURVEY.md §2.D): language ID, quality scoring,
token counting, fingerprinting, corpus stats — all built-in expressions over
``documents`` (no Python in the hot path; everything vectorizes in codegen).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_spark_spark.llmops.fixtures import map_rows
from dynamic_spark_spark.registry import query
from dynamic_spark_spark.sources.readers import load_table

#: tiny per-language stopword lists for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "es": ["el", "la", "los", "de", "que", "es", "una", "por"],
}

_TOKEN_RE = r"\s+"
#: BPE-ish word/number/punct splitter (public GPT-2-style pattern family)
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _marker_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def _lang_scores(text: Column) -> dict[str, Column]:
    lower = F.lower(text)
    return {
        lang: F.regexp_count(lower, F.lit(_marker_pattern(words)))
        for lang, words in LANG_MARKERS.items()
    }


@query(
    "text_stats",
    "SELECT lang, COUNT(*) AS n_docs,"
    " CAST(SUM(n_chars) AS BIGINT) AS total_chars,"
    " CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),"
    "   w -> w <> ''))) AS BIGINT) AS total_tokens"
    " FROM documents GROUP BY lang",
    tag="llm-text",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, characters, tokens."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.size(F.filter(F.split("text", _TOKEN_RE), lambda w: w != ""))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(tokens.cast("bigint")).alias("total_tokens"),
    )


@query(
    "text_tokens",
    "SELECT doc_id,"
    " CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''))"
    "   AS INT) AS ws_tokens,"
    " CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
    "   AS INT) AS bpe_ish_tokens,"
    " CAST(length(text) AS BIGINT) AS n_chars_computed"
    " FROM documents",
    tag="llm-text",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.filter(F.split("text", _TOKEN_RE), lambda w: w != "")).alias("ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_RE)).cast("int").alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


@query(
    "text_quality",
    "SELECT doc_id,"
    " CAST(length(text) AS BIGINT) AS n_chars_q,"
    " ROUND(CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)"
    "   / GREATEST(length(text), 1), 6) AS punct_ratio,"
    " ROUND(CAST(len(regexp_extract_all(lower(text),"
    "   '\\b(the|and|of|to|is|in|that|it)\\b')) AS DOUBLE)"
    "   / GREATEST(len(list_filter(regexp_split_to_array(text, '\\s+'),"
    "       w -> w <> '')), 1), 6) AS stopword_ratio,"
    " ROUND(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)"
    "   / GREATEST(length(text), 1), 6) AS upper_ratio"
    " FROM documents",
    tag="llm-text",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: punctuation / stopword / uppercase ratios. The ratio
    formula (count / max(denom, 1)) is identical on both sides; per-row
    division is IEEE-deterministic."""
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    ws_tokens = F.size(F.filter(F.split("text", _TOKEN_RE), lambda w: w != ""))
    stop_hits = F.regexp_count(F.lower("text"), F.lit(_marker_pattern(LANG_MARKERS["en"])))
    return d.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_q"),
        F.round(
            F.regexp_count("text", F.lit(r"[\p{Punct}]")).cast("double")
            / F.greatest(n_chars, F.lit(1)),
            6,
        ).alias("punct_ratio"),
        F.round(stop_hits.cast("double") / F.greatest(ws_tokens, F.lit(1)), 6).alias(
            "stopword_ratio"
        ),
        F.round(
            F.regexp_count("text", F.lit("[A-Z]")).cast("double") / F.greatest(n_chars, F.lit(1)),
            6,
        ).alias("upper_ratio"),
    )


def _langid_oracle() -> str:
    scores = {
        lang: (
            f"CAST(len(regexp_extract_all(lower(text),"
            f" '{_marker_pattern(words)}')) AS INT)"
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in scores) + ")"
    pred = (
        "CASE "
        + " ".join(
            f"WHEN s_{lang} = {best} AND {best} > 0 THEN '{lang}'"
            for lang in scores
        )
        + " ELSE 'und' END"
    )
    inner = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    outer = ", ".join(f"s_{lang} AS score_{lang}" for lang in scores)
    return (
        f"SELECT doc_id, lang, {outer}, {pred} AS lang_pred"
        f" FROM (SELECT doc_id, lang, text, {inner} FROM documents)"
    )


@query(
    "text_langid",
    _langid_oracle(),
    tag="llm-text",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts
    (zero hits → 'und'; ties break to the earlier language in LANG_MARKERS
    order, deterministically). Pure codegen regexp counts — the same
    marker patterns the oracle engine runs verbatim, so even the
    classifier's decisions hash-match."""
    d = load_table(spark, sf_dir, "documents")
    scores = _lang_scores(F.col("text"))
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed so earlier languages win ties deterministically
    for lang in reversed(list(scores)):
        pred = F.when((scores[lang] == best) & (best > 0), lang).otherwise(pred)
    return d.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in scores],
        pred.alias("lang_pred"),
    )


def fingerprint_sets(docs: DataFrame, k: int = 8, mod: int = 8) -> DataFrame:
    """Winnowing-style fingerprint SETS in their native ``array<bigint>``
    form: hash rolling character ``k``-grams, keep hashes ≡ 0 (mod ``mod``)
    — a deterministic ~1/mod content-defined sample, robust to small edits,
    joinable for overlap detection at corpus scale. Internal shape for
    pipeline composition; the registered key emits scalar digests of it
    (the driver harness canonicalizes every output via pandas and cannot
    hash array cells — the r1 ``agg_collect`` lesson)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))),
        lambda i: F.xxhash64(F.col("text").substr(i, F.lit(k))),
    )
    return docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.filter(grams, lambda h: F.pmod(h, F.lit(mod)) == 0))
        ).alias("fingerprints"),
    )


@query("text_fingerprint", tag="llm-text")  # rows-only: engine-hash-based
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (winnowing-style) via :func:`fingerprint_sets`,
    flattened to SCALAR outputs per the driver's output contract: the
    fingerprint count plus one ``xxhash64`` fold over the sorted set (the
    sort makes the digest partition-order-invariant — pinned by
    tests/test_operators_misc.py's shuffle-partition invariance sweep).
    The array form stays available to pipeline code via
    :func:`fingerprint_sets`."""
    fp = fingerprint_sets(load_table(spark, sf_dir, "documents"))
    return fp.select(
        "doc_id",
        F.size("fingerprints").alias("n_fingerprints"),
        F.xxhash64("fingerprints").alias("fp_digest"),
    )


_PII_DIGITS = "[0-9]{2,}"
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

_PII_ORACLE = f"""
SELECT event_id,
  regexp_replace(regexp_replace(props, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_DIGITS}', '<NUM>', 'g') AS scrubbed,
  len(regexp_extract_all(props, '{_PII_DIGITS}')) AS n_nums
FROM events
"""


@query("text_pii_scrub", _PII_ORACLE, tag="llm-text")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training-data hygiene: replace email addresses and
    multi-digit runs with typed placeholder tokens, and count redactions.
    Pure ``regexp_replace``/``regexp_count`` — JVM-side, whole-stage codegen,
    embarrassingly parallel (no shuffle at any scale). Patterns stay in the
    RE2/Java-regex common subset so the oracle runs them verbatim."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace("props", F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_DIGITS),
            F.lit("<NUM>"),
        ).alias("scrubbed"),
        F.regexp_count("props", F.lit(_PII_DIGITS)).cast("long").alias("n_nums"),
    )


_UNIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                    t -> t <> '')) AS tok
  FROM documents),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT COUNT(*) AS n_total FROM toks),
scored AS (
  SELECT t.doc_id,
         CAST(FLOOR((ln(v.cnt) - ln(total.n_total)) * 1000000 + 0.5) AS BIGINT)
           AS lp
  FROM toks t JOIN vocab v USING (tok) CROSS JOIN total)
SELECT doc_id,
       ROUND((CAST(SUM(lp) AS DOUBLE) / 1000000.0)
             / CAST(COUNT(*) AS DOUBLE), 4) AS avg_logprob,
       COUNT(*) AS n_tokens
FROM scored GROUP BY doc_id
"""


@query("text_unigram_logprob", _UNIGRAM_ORACLE, tag="llm-text")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: mean log-probability of a
    document's tokens under the corpus unigram distribution — the classic
    cheap fluency/outlier signal for training-data filtering (gibberish and
    boilerplate both score low). Two-pass corpus-statistics shape: build the
    vocabulary (one groupBy), broadcast-join it back onto the token stream,
    aggregate per document. Per-token log-probs are fixed-point-quantized so
    the per-document mean is order-independent (same scheme as
    ``functions.deterministic``)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != "")).alias(
            "tok"
        ),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    lp = F.floor((F.log("cnt") - F.log("n_total")) * 1_000_000 + F.lit(0.5))
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            (F.sum("lp").cast("double") / F.lit(1_000_000.0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


_REPETITION_ORACLE = r"""
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
  FROM documents
), wrd AS (
  SELECT doc_id, unnest(arr) AS w FROM arrs
), wc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM wrd GROUP BY doc_id, w
), topw AS (
  SELECT doc_id,
         ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_word_frac
  FROM wc GROUP BY doc_id
), bi AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(arr) - 1),
                        i -> arr[i] || ' ' || arr[i + 1]) AS bigrams
  FROM arrs
)
SELECT a.doc_id,
       CAST(len(a.arr) AS INT) AS n_words,
       t.top_word_frac,
       CASE WHEN len(b.bigrams) > 0
            THEN ROUND(1 - CAST(len(list_distinct(b.bigrams)) AS DOUBLE)
                         / CAST(len(b.bigrams) AS DOUBLE), 6)
       END AS dup_bigram_frac
FROM arrs a
JOIN bi b USING (doc_id)
JOIN topw t USING (doc_id)
"""


@query("text_repetition", _REPETITION_ORACLE, tag="llm-text")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filters):
    most-frequent-word mass fraction and duplicate-bigram fraction. Boilerplate
    and degenerate generations score high on both; real prose stays low.

    Scale posture: the bigram metric never leaves the per-row array tier —
    the bigram list is an array expression (``transform(sequence(...))``
    guarded for <2-word docs, since Spark's ``sequence(1, 0)`` descends),
    so it costs zero shuffles. The top-word metric is the standard explode
    → two-level agg: one shuffle keyed (doc_id, word), then a per-doc
    reduce that reuses the same hash partitioning prefix. The token array
    MUST be materialized as a column before the lambda touches it:
    higher-order-function lambdas re-evaluate any non-attribute child
    expression per element, so an inline split inside ``element_at`` makes
    bigram construction O(n²) per doc — measured 15× slower on sf0.1."""
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda w: w != "").alias("words"),
    )
    words = F.col("words")
    n_words = F.size(words)
    bigrams = F.when(
        n_words >= 2,
        F.transform(
            F.sequence(F.lit(1), n_words - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = dw.select(
        "doc_id",
        n_words.alias("n_words"),
        F.when(
            F.size(bigrams) > 0,
            F.round(
                1
                - F.size(F.array_distinct(bigrams)).cast("double")
                / F.size(bigrams).cast("double"),
                6,
            ),
        ).alias("dup_bigram_frac"),
    )
    wc = (
        dw.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topw = wc.groupBy("doc_id").agg(
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("top_word_frac")
    )
    return per_doc.join(topw, "doc_id").select(
        "doc_id", "n_words", "top_word_frac", "dup_bigram_frac"
    )


_VOCAB_ORACLE = r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                t -> t <> '')) AS tok
  FROM documents
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
)
SELECT tok, CAST(cnt AS BIGINT) AS cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT) AS vocab_id
FROM counts
QUALIFY vocab_id <= 100
"""


@query("text_vocab_topk", _VOCAB_ORACLE, tag="llm-text")
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: corpus token counts → deterministic id
    assignment for the top-100 tokens (count desc, token asc tiebreak) — the
    id-assignment step every tokenizer build runs. One explode + one count
    shuffle; the ranking window runs on the already-tiny counts table. At
    100 TB the counts table is the only thing that leaves the map side
    (partial aggregation), and the top-K cut bounds the window input."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != "")
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    return (
        counts.withColumn("vocab_id", F.row_number().over(w))
        .where(F.col("vocab_id") <= 100)
        .select("tok", "cnt", "vocab_id")
    )


_NGRAM_ORACLE = r"""
WITH arrs AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\W+'), t -> t <> '') AS arr
  FROM documents
), grams AS (
  SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                               i -> arr[i] || ' ' || arr[i + 1])) AS gram
  FROM arrs
), counts AS (
  SELECT gram, COUNT(*) AS cnt FROM grams GROUP BY gram
)
SELECT gram, CAST(cnt AS BIGINT) AS cnt
FROM counts
QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) <= 50
"""


@query("text_ngram_counts", _NGRAM_ORACLE, tag="llm-text")
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics (n-gram LM counts): per-row bigram arrays
    (no shuffle until the count), one count shuffle, top-50 cut with a
    deterministic tiebreak. The bigram construction guard matters: Spark's
    ``sequence(1, 0)`` DESCENDS, so sub-2-token docs must emit an empty
    array explicitly. The token array is materialized as a column before
    the ``transform`` lambda touches it — HOF lambdas re-evaluate
    non-attribute child expressions per element, so an inline split makes
    this O(n²) per doc (measured 15× on sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != "").alias(
            "words"
        )
    )
    words = F.col("words")
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        dw.select(F.explode(bigrams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "gram")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("gram", "cnt")
    )


_HOLDOUT_ORACLE = """
SELECT doc_id,
       CASE WHEN ((doc_id % 1000) * 761) % 1000 < 950 THEN 'train' ELSE 'val' END
         AS split
FROM documents
"""


@query("sample_holdout_split", _HOLDOUT_ORACLE, tag="llm-text")
def sample_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 95/5 train/validation split via the overflow-safe
    multiplicative hash gate (same arithmetic as ``sample_mixture``): the
    split of any document is a pure function of its id — reproducible on any
    engine, restartable at 100 TB, no RNG state to distribute. Map-only."""
    d = load_table(spark, sf_dir, "documents")
    gate = F.pmod(F.pmod(F.col("doc_id"), F.lit(1000)) * F.lit(761), F.lit(1000))
    return d.select(
        "doc_id",
        F.when(gate < 950, "train").otherwise("val").alias("split"),
    )


#: stopword list for the Gopher-style "natural language" signal
_GOPHER_STOPS = ("the", "and", "of", "to", "a", "in", "is", "that", "it")

_GOPHER_ORACLE = """
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS word_count,
       ROUND(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w), 6)
         AS mean_word_len,
       ROUND(CAST(len(list_filter(w, x -> x IN ({stops}))) AS DOUBLE) / len(w), 6)
         AS stop_ratio,
       (len(w) BETWEEN 50 AND 100000
        AND CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
              BETWEEN 2.0 AND 10.0
        AND len(list_filter(w, x -> x IN ({stops}))) >= 2) AS passes
FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      FROM documents)
""".format(stops=", ".join(f"'{s}'" for s in _GOPHER_STOPS))


@query("text_gopher_quality", _GOPHER_ORACLE, tag="llm-text")
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (public heuristics from the Gopher
    / MassiveText data pipeline papers): word-count bounds, mean word length
    band, and a minimum stopword count as a natural-language signal. Every
    rule is a codegen array expression over one ``split`` — map-only, no
    Python, no shuffle; at 100 TB this is a pure scan-side filter that
    composes with any downstream sampling or dedup stage. The boolean verdict
    is computed from the *raw* ratios (rounding only in the displayed
    columns) so the pass/fail set is bit-identical across engines — integer
    numerators and denominators make the IEEE division deterministic.
    The token array is materialized as a column first: the signal
    expressions reference it ~10× per row, the array HOFs are
    CodegenFallback (no codegen CSE), and an inline split would be
    re-evaluated at every occurrence."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda w: w != "").alias("words"),
    )
    words = F.col("words")
    wc = F.size(words)
    char_sum = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*_GOPHER_STOPS)))
    mean_wl = char_sum.cast("double") / wc
    passes = (
        (wc >= 50)
        & (wc <= 100000)
        & (mean_wl >= 2.0)
        & (mean_wl <= 10.0)
        & (stop_hits >= 2)
    )
    return d.select(
        "doc_id",
        wc.cast("bigint").alias("word_count"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(stop_hits.cast("double") / wc, 6).alias("stop_ratio"),
        passes.alias("passes"),
    )


_UTF8_ORACLE = r"""
SELECT doc_id,
       CAST(length(text) - length(regexp_replace(text, '[^\x20-\x7E]', '', 'g'))
            AS BIGINT) AS n_nonprint_ascii,
       CAST(length(regexp_replace(text, '[^\x{FFFD}]', '', 'g')) AS BIGINT)
         AS n_replacement,
       ROUND(CAST(length(regexp_replace(text, '[\x00-\x1F]', '', 'g'))
                  AS DOUBLE) / length(text), 6) AS printable_frac,
       length(regexp_replace(text, '[^\x{FFFD}]', '', 'g')) = 0
         AND length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '',
                                   'g')) = length(text) AS clean
FROM documents
WHERE length(text) > 0
"""


@query("text_utf8_quality", _UTF8_ORACLE, tag="llm-text")
def text_utf8_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health screen: counts of non-printable/non-ASCII code
    points, U+FFFD replacement characters (the classic mojibake tracer
    left by a lossy decode), the fraction of text that is not a C0 control
    character, and a single ``clean`` verdict (no U+FFFD, no control chars
    other than tab/newline/CR). Every measure is a codegen
    length/regexp_replace delta — a pure map pass, no shuffle at any
    scale, and each regex is anchored to a fixed character class so the
    scan cost is linear with no backtracking."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    ln = F.length("text")

    n_nonprint = ln - F.length(F.regexp_replace("text", r"[^\x20-\x7E]", ""))
    # keep-only form: strip every char that is NOT U+FFFD, count the rest
    n_repl = F.length(F.regexp_replace("text", "[^�]", ""))
    printable = F.length(F.regexp_replace("text", r"[\x00-\x1F]", ""))
    n_bad_ctrl = ln - F.length(
        F.regexp_replace("text", r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    return d.select(
        "doc_id",
        n_nonprint.cast("bigint").alias("n_nonprint_ascii"),
        n_repl.cast("bigint").alias("n_replacement"),
        F.round(printable.cast("double") / ln, 6).alias("printable_frac"),
        ((n_repl == 0) & (n_bad_ctrl == 0)).alias("clean"),
    )


# ---------------------------------------------------------------------------
# OOV rate vs a frozen vocabulary (round-2 fourth wave)
# ---------------------------------------------------------------------------

#: frozen-vocabulary size for the OOV screen.
OOV_VOCAB_K = 200

_OOV_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                t -> t <> '')) AS tok
  FROM documents
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
), vocab AS (
  SELECT tok FROM counts
  QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) <= {OOV_VOCAB_K}
)
SELECT t.doc_id,
       COUNT(*) AS n_tok,
       COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
       ROUND(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY t.doc_id
"""


@query("text_oov_rate", _OOV_ORACLE, tag="llm-text")
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-K
    vocabulary — the coverage metric that decides whether a tokenizer's
    vocab (or a frozen embedding table) fits a new data source. Two passes
    over the token stream: (1) corpus counts → deterministic top-K cut
    (count desc, token tiebreak; TakeOrdered moves K rows per partition),
    (2) per-doc counts with the K-row vocab **broadcast** to the probe side
    — the join never shuffles the corpus. Counts are exact ints; the rate is
    one rounded division."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != "")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tok"), 6).alias(
                "oov_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Per-document character-distribution entropy
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0
), c AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch
), t AS (
  SELECT doc_id, ch, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM c
)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS INT) AS n_distinct_chars,
       CAST(SUM(CAST(FLOOR(-(CAST(c AS DOUBLE) / n)
                           * LN(CAST(c AS DOUBLE) / n) * 1000000)
                     AS BIGINT)) AS BIGINT) AS entropy_micro_nats
FROM t GROUP BY doc_id
"""


@query("text_char_entropy", _ENTROPY_ORACLE, tag="llm-text")
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    gibberish/compression screen (too-low entropy = repeated padding,
    too-high = random bytes; natural text sits in a narrow band). Per-term
    contributions ``-(c/n)·ln(c/n)`` are computed from exact counts and
    **floored to integer micro-nats before the sum**, so the per-doc total
    is an order-independent integer — a float Σ would accumulate in
    engine-specific order and break the oracle hash. One (doc_id, char)
    count shuffle bounded by |doc|·|alphabet|, then a per-doc window on the
    counts table."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    chars = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", ""), lambda c: c != "")).alias("ch"),
    )
    c = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id")
    p = F.col("c").cast("double") / F.col("n")
    return (
        c.withColumn("n", F.sum("c").over(w))
        .withColumn("term", F.floor(-p * F.log(p) * 1000000).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("int").alias("n_distinct_chars"),
            F.sum("term").cast("long").alias("entropy_micro_nats"),
        )
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib, Arrow-batched)
# ---------------------------------------------------------------------------


@query("text_compression_ratio", tag="llm-text")  # rows-only: zlib output is not SQL-expressible
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate compression ratio per document — the Gopher-family quality
    signal that catches boilerplate and template spam (highly repetitive
    text compresses far below natural prose; random bytes barely compress).
    zlib runs in an **Arrow-batched pandas UDF** — the sanctioned Python
    tier for byte-level work no SQL function expresses — so text crosses
    the JVM/Python boundary once per column batch, not per row; the ratio
    arithmetic stays JVM-side codegen. Deterministic (zlib level 6, no RNG),
    pinned against direct zlib calls in pytest; rows-only here because the
    oracle engine has no deflate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def z_bytes(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)))

    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    raw = F.octet_length("text").cast("long")
    return d.select(
        "doc_id",
        raw.alias("raw_bytes"),
        z_bytes(F.col("text")).alias("zlib_bytes"),
    ).select(
        "doc_id",
        "raw_bytes",
        "zlib_bytes",
        F.round(F.col("zlib_bytes").cast("double") / F.col("raw_bytes"), 6).alias(
            "compression_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Fill-in-the-middle (FIM) transformation
# ---------------------------------------------------------------------------

#: split fractions in percent: prefix 40%, middle 30%, suffix rest.
_FIM_PREFIX_PCT = 40
_FIM_MIDDLE_PCT = 30

_FIM_ORACLE = f"""
WITH s AS (
  SELECT doc_id, text, length(text) AS n,
         length(text) * {_FIM_PREFIX_PCT} // 100 AS p_len,
         length(text) * {_FIM_MIDDLE_PCT} // 100 AS m_len
  FROM documents WHERE length(text) >= 10
)
SELECT doc_id,
       substr(text, 1, p_len) AS fim_prefix,
       substr(text, p_len + 1, m_len) AS fim_middle,
       substr(text, p_len + m_len + 1) AS fim_suffix,
       CAST(p_len AS INT) AS prefix_len,
       CAST(m_len AS INT) AS middle_len,
       CAST(n - p_len - m_len AS INT) AS suffix_len
FROM s
"""


@query("text_fim_split", _FIM_ORACLE, tag="llm-text")
def text_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) splitting: carve each document into
    prefix/middle/suffix spans so training can present
    ``<pre>prefix<suf>suffix<mid>middle`` sequences — the infilling
    objective code models train with. Deterministic character-fraction split
    points (40/30/30 via integer arithmetic) keep the transform
    oracle-exact and restartable; production swaps in a seeded per-doc hash
    for the split point, same map-only plan. Pure ``substring`` codegen —
    no shuffle, no Python, embarrassingly parallel at any corpus size."""
    d = load_table(spark, sf_dir, "documents").where(F.length("text") >= 10)
    n = F.length("text")
    p_len = F.floor(n * _FIM_PREFIX_PCT / 100).cast("int")
    m_len = F.floor(n * _FIM_MIDDLE_PCT / 100).cast("int")
    return d.select(
        "doc_id",
        F.expr(
            f"substring(text, 1, length(text) * {_FIM_PREFIX_PCT} div 100)"
        ).alias("fim_prefix"),
        F.expr(
            f"substring(text, length(text) * {_FIM_PREFIX_PCT} div 100 + 1,"
            f" length(text) * {_FIM_MIDDLE_PCT} div 100)"
        ).alias("fim_middle"),
        F.expr(
            f"substring(text, length(text) * {_FIM_PREFIX_PCT} div 100"
            f" + length(text) * {_FIM_MIDDLE_PCT} div 100 + 1)"
        ).alias("fim_suffix"),
        p_len.alias("prefix_len"),
        m_len.alias("middle_len"),
        (n - p_len - m_len).cast("int").alias("suffix_len"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity band filter
# ---------------------------------------------------------------------------

_PPL_BAND_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                            t -> t <> '')) AS tok
  FROM documents),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT COUNT(*) AS n_total FROM toks),
per_doc AS (
  SELECT t.doc_id, t.lang,
         CAST(FLOOR(CAST(SUM(CAST(FLOOR((ln(v.cnt) - ln(total.n_total))
                                        * 1000000 + 0.5) AS BIGINT))
                         AS DOUBLE) / COUNT(*)) AS BIGINT) AS score_micro
  FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
  GROUP BY t.doc_id, t.lang),
ranked AS (
  SELECT doc_id, lang, score_micro,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY score_micro, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM per_doc),
bounds AS (
  SELECT lang,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.10) AS BIGINT)
                  THEN score_micro END) AS lo,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.90) AS BIGINT)
                  THEN score_micro END) AS hi
  FROM ranked GROUP BY lang)
SELECT p.doc_id, p.lang, p.score_micro
FROM per_doc p JOIN bounds b USING (lang)
WHERE p.score_micro >= b.lo AND p.score_micro <= b.hi
"""


@query("text_ppl_band", _PPL_BAND_ORACLE, tag="llm-text")
def text_ppl_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-band filter: score each document by mean
    unigram log-probability, then per language keep only the [p10, p90]
    band — dropping both tails (too-predictable boilerplate AND
    too-surprising gibberish), the middle-bucket selection CCNet made
    standard for web-corpus curation. Determinism: per-token log-probs are
    fixed-point-quantized (``text_unigram_logprob``'s scheme), the per-doc
    mean is a floor-divided integer, and the band edges are DISCRETE
    rank-selected scores (``agg_winsorize``'s device — interpolated
    quantiles differ by 1 ulp across engines). Plan: two corpus passes
    (vocab build + broadcast-join scoring), one per-lang sort for the
    |langs|-row bounds table, broadcast filter."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != "")
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    lp = F.floor((F.log("cnt") - F.log("n_total")) * 1_000_000 + F.lit(0.5))
    per_doc = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(
                F.sum(lp.cast("long")).cast("double") / F.count(F.lit(1))
            )
            .cast("long")
            .alias("score_micro")
        )
    )
    w = Window.partitionBy("lang").orderBy("score_micro", "doc_id")
    wn = Window.partitionBy("lang")
    ranked = per_doc.select(
        "lang",
        "score_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.10).cast("long"),
                F.col("score_micro"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.90).cast("long"),
                F.col("score_micro"),
            )
        ).alias("hi"),
    )
    return (
        per_doc.join(F.broadcast(bounds), "lang")
        .where(
            (F.col("score_micro") >= F.col("lo"))
            & (F.col("score_micro") <= F.col("hi"))
        )
        .select("doc_id", "lang", "score_micro")
    )


# ---------------------------------------------------------------------------
# Smoothed bigram language model
# ---------------------------------------------------------------------------

#: minimum bigram count for the emitted table (keeps output model-sized).
_BIGRAM_MIN_COUNT = 3

_BIGRAM_LM_ORACLE = rf"""
WITH arrs AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\W+'),
                     t -> t <> '') AS words
  FROM documents),
bigrams AS (
  SELECT unnest(list_transform(
           generate_series(2, GREATEST(len(words), 1)),
           i -> struct_pack(w1 := words[i-1], w2 := words[i]))) AS bg
  FROM arrs),
pairs AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM bigrams),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT COUNT(DISTINCT unnest.t) AS vsize FROM (
        SELECT unnest(words) AS t FROM arrs) unnest)
SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
       ROUND(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.vsize), 6) AS p_smooth
FROM c12 JOIN c1 USING (w1) CROSS JOIN v
WHERE c12.c12 >= {_BIGRAM_MIN_COUNT}
"""


@query("text_bigram_lm", _BIGRAM_LM_ORACLE, tag="llm-text")
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram language model estimation: conditional
    probabilities ``P(w2|w1) = (c12+1)/(c1+|V|)`` from exact corpus counts
    — the classical n-gram LM build (the smoothing that backs perplexity
    filters when no external LM is available). Bigram generation is pure
    higher-order array ops (slice windows over the token array — zero
    Python); the counts tables are vocabulary-bounded, so everything after
    the first (w1, w2) count shuffle is model-sized, not corpus-sized.
    Emits bigrams seen >= 3 times."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), r"\W+"), lambda t: t != "")
    arrs = d.select(words.alias("words"))
    idx = F.when(
        F.size("words") >= 2, F.sequence(F.lit(2), F.size("words"))
    ).otherwise(F.array().cast("array<int>"))
    bg = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("words", i - 1).alias("w1"),
            F.element_at("words", i).alias("w2"),
        ),
    )
    pairs = arrs.select(F.explode(bg).alias("bg")).select("bg.w1", "bg.w2")
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vsize = (
        arrs.select(F.explode("words").alias("t"))
        .agg(F.count_distinct("t").alias("vsize"))
    )
    return (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vsize))
        .where(F.col("c12") >= _BIGRAM_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("vsize")),
                6,
            ).alias("p_smooth"),
        )
    )


#: fixed BPE merge table, applied IN RANK ORDER — valid bottom-up (each
#: rule's parts exist only after earlier rules), so ordered application
#: equals the tokenizer's min-rank-first loop. A production vocabulary has
#: thousands of ranked merges; the per-rule mechanics are identical.
BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def bpe_segment(text: str) -> list[str]:
    """True BPE merge application over the lowercased alphabetic symbol
    stream: for each ranked rule, one left-to-right pass merges every
    non-overlapping occurrence of the SYMBOL PAIR (list-level matching —
    never substring matching, which can merge across already-merged token
    boundaries: 'there' must segment as [the, re], not collapse to
    [there]). Pure Python on a per-document symbol list; pinned against
    hand-computed segmentations in pytest."""
    syms = [c for c in text.lower() if "a" <= c <= "z"]
    for a, b in BPE_MERGES:
        out = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@query("text_bpe_apply", tag="llm-text")  # rows-only: iterative pair merging is not SQL-expressible
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge application — the tokenizer's ranked greedy pair merging
    run as an Arrow-batched pandas UDF over the corpus (the symbol-PAIR
    loop is inherently iterative; an earlier replace-chain formulation was
    retired because substring replace merges across token boundaries and
    produces out-of-vocabulary symbols). Emits the segment count and an
    md5 of the joined segmentation per document; the algorithm itself is
    pinned in pytest against hand-computed segmentations ('there' →
    [the, re], 'other' → [o, the, r]) — cases where the boundary bug would
    differ. Map-only at any scale: one UDF pass, no shuffle; real
    tokenizers swap the merge table for the learned vocabulary and run in
    this exact position of the pipeline."""
    import hashlib

    import pandas as pd

    def seg(batch: pd.Series) -> pd.DataFrame:
        segs = [bpe_segment(t or "") for t in batch]
        return pd.DataFrame(
            {
                "n_symbols": [len(x) for x in segs],
                "bpe_md5": [
                    hashlib.md5(" ".join(x).encode()).hexdigest() for x in segs
                ],
            }
        )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_symbols bigint, bpe_md5 string")
    def seg_udf(batch: pd.Series) -> pd.DataFrame:
        return seg(batch)

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return d.select("doc_id", seg_udf("text").alias("s")).select(
        "doc_id", F.col("s.n_symbols").alias("n_symbols"), F.col("s.bpe_md5").alias("bpe_md5")
    )


_NFC_ORACLE = """
WITH injected AS (
  SELECT doc_id,
         replace(coalesce(text, ''), 'e', 'e' || chr(769)) AS raw
  FROM documents)
SELECT doc_id,
  nfc_normalize(raw) AS nfc_text,
  CAST(length(raw) AS BIGINT) AS raw_len,
  CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_len,
  CAST(length(raw) - length(nfc_normalize(raw)) AS BIGINT) AS n_composed
FROM injected
"""


@query("text_unicode_nfc", _NFC_ORACLE, tag="llm-text")
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization step multilingual
    corpora need before ANY exact or hash-keyed dedup (the same text in
    composed vs decomposed form hashes differently; CCNet normalizes
    first for exactly this reason). The corpus is ASCII, so a combining
    acute accent (U+0301) is deterministically injected after every 'e'
    on BOTH engines; Spark normalizes via ``unicodedata`` (the stdlib's
    Unicode database) in an Arrow-batched mapInPandas, DuckDB via its
    native ``nfc_normalize`` — two INDEPENDENT Unicode implementations
    that must agree on the composed string, its codepoint length, and
    the composition count, row by row. Per-row map work, no shuffle."""
    import unicodedata

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def normalize(doc_id, text):
        raw = (text or "").replace("e", "e\u0301")
        nfc = unicodedata.normalize("NFC", raw)
        return [(doc_id, nfc, len(raw), len(nfc), len(raw) - len(nfc))]

    return map_rows(
        d, "text_unicode_nfc",
        "doc_id long, nfc_text string, raw_len long, nfc_len long,"
        " n_composed long",
        normalize,
    )
