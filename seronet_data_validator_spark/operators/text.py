"""Text-analysis operators for training-data pipelines: language ID
(stopword-profile heuristic), quality scoring, token counting, and rolling
document fingerprints. All JVM-side Column expressions — the hot path has no
Python.
"""

from __future__ import annotations

import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.operators.arrow_rows import _decoded_map
from seronet_data_validator_spark.operators.dedup import _ensure_parallelism

# Tiny stopword profiles (public common-word lists, heavily truncated — this
# is a deterministic n-gram/stopword heuristic, not a trained model).
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por"],
    "zh": [],  # no-space script: detected by CJK character ratio instead
}


def _quoted(name: str) -> str:
    """Backtick-quote a column identifier (escaping embedded backticks) so
    names with spaces/dots/keywords resolve as a single column, not a
    struct path."""
    return "`" + name.replace("`", "``") + "`"


def _tokens(text_col: str) -> Column:
    return F.split(F.trim(F.lower(F.col(_quoted(text_col)))), r"\s+")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (chars/4 heuristic,
    the common rule-of-thumb for byte-pair tokenizers)."""
    toks = _tokens(text_col)
    return df.withColumn("n_tokens_ws", F.size(toks)).withColumn(
        "n_tokens_bpe_est", F.ceil(F.length(F.col(text_col)) / 4).cast("long")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0,1]:
    length band, mean token length band, punctuation ratio, stopword ratio,
    repetition (distinct/total tokens). Mirrors common pretraining-data
    quality filters (C4/Gopher-style rules, public)."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    toks = _tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^\.,;:!\?]", "")) / F.greatest(
        n_chars, F.lit(1)
    )
    stop_en = F.size(F.filter(toks, lambda t: t.isin(*STOPWORD_PROFILES["en"]))) / F.greatest(
        n_tok, F.lit(1)
    )
    mean_tok_len = (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))
    length_ok = n_tok.between(5, 100_000).cast("double")
    tok_len_ok = mean_tok_len.between(2.0, 12.0).cast("double")
    rep_ok = (distinct_ratio >= 0.2).cast("double")
    punct_ok = (punct <= 0.2).cast("double")
    score = (length_ok + tok_len_ok + rep_ok + punct_ok) / 4.0
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("distinct_token_ratio", F.round(distinct_ratio, 4))
        .withColumn("punct_ratio", F.round(punct, 4))
        .withColumn("stopword_ratio_en", F.round(stop_en, 4))
        .withColumn("mean_token_len", F.round(mean_tok_len, 4))
        .withColumn("quality_score", F.round(score, 4))
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic language ID: argmax of per-language stopword hit-ratio;
    CJK-character ratio handles no-space scripts. Adds `lang_pred` and
    `lang_score`.

    The token split and the argmax struct are each staged as a real column
    (not inlined): the split would otherwise repeat once per language filter
    and the argmax once per extracted field — both a per-row re-evaluation
    and a codegen-size blowup (first-execution latency is dominated by
    compiling the duplicated tree)."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    # Built as ONE SQL expression string: the per-language struct/filter
    # tree is ~500 Column-API calls, and each is a driver↔JVM roundtrip —
    # measured at >1s of pure plan-construction latency per invocation.
    # expr() parses the same Catalyst tree in a single roundtrip.
    scores = []
    for lang, words in STOPWORD_PROFILES.items():
        if words:
            lst = ", ".join(f"'{w}'" for w in words)
            ratio = (
                f"size(filter(_lid_toks, t -> t IN ({lst})))"
                f" / greatest(size(_lid_toks), 1)"
            )
        else:  # zh: CJK codepoint ratio — backtick-quote the identifier so
            # column names needing quoting (spaces, dots, keywords) parse
            ident = _quoted(text_col)
            ratio = (
                f"length(regexp_replace({ident}, '[^一-鿿]', ''))"
                f" / greatest(length({ident}), 1)"
            )
        scores.append(f"struct({ratio} AS score, '{lang}' AS lang)")
    best = f"array_max(array({', '.join(scores)}))"
    return (
        df.withColumn("_lid_toks", _tokens(text_col))
        .withColumn("_lid_best", F.expr(best))
        .withColumn("lang_pred", F.expr("_lid_best.lang"))
        .withColumn("lang_score", F.expr("round(_lid_best.score, 4)"))
        .drop("_lid_toks", "_lid_best")
    )


def fingerprint(df: DataFrame, text_col: str = "text", *, window: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style, public algorithm:
    Schleimer et al. '03): hash every `window`-gram of tokens, keep the
    minimum — a content-defined signature robust to local edits. Adds
    `fingerprint: long` plus the full md5 for exact identity."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    toks = _tokens(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0)))
    grams = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, window))))
    return df.withColumn("fingerprint", F.array_min(grams)).withColumn(
        "content_md5", F.md5(F.col(text_col))
    )


def portable_token_hash(t: Column, mod: int = 1_000_000_007) -> Column:
    """Karp-Rabin polynomial over a token's code points (base 31 mod `mod`):
    the engine-portable scalar hash — any engine with a list fold (DuckDB
    `list_reduce`, Flink/Trino lambda aggregates) reproduces it bit-for-bit."""
    return F.aggregate(
        F.filter(F.split(t, ""), lambda c: c != ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % mod,
    )


def portable_gram_hash(gram: Column, mod: int = 1_000_000_007) -> Column:
    """Polynomial fold of token hashes (base 131 mod `mod`) — the portable
    hash of a token n-gram (array<string> column)."""
    return F.aggregate(
        F.transform(gram, lambda t: portable_token_hash(t, mod)),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % mod,
    )


def fingerprint_portable(
    df: DataFrame, text_col: str = "text", *, window: int = 8, mod: int = 1_000_000_007
) -> DataFrame:
    """`fingerprint` with an engine-portable hash: a Karp-Rabin polynomial
    (base 31 over code points per token, base 131 over token hashes per
    gram, all mod `mod`) instead of xxhash64. Same winnowing semantics and
    plan shape (one projection, no shuffle); any engine with list fold
    operations reproduces it bit-for-bit — DuckDB's `list_reduce` oracle in
    the driver contract checks exactly that. Use `fingerprint` (xxhash64,
    whole-stage-codegen hash) on the hot path; use this variant when the
    signature must be recomputable outside Spark."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    # Hoist the per-token hash array to a projected column: inlined, the
    # token split + per-token fold would sit inside the per-gram lambda and
    # re-run for every gram — each token re-hashed `window` times (adjacent
    # grams overlap). Hoisted, each token hashes once and the grams fold
    # over slices of the hash array. Same values bit-for-bit.
    th = F.col("_fp_th")
    idx = F.sequence(F.lit(0), F.greatest(F.size(th) - window, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(th, i + 1, window),
            F.lit(0).cast("long"),
            lambda acc, h: (acc * 131 + h) % mod,
        ),
    )
    return (
        df.withColumn(
            "_fp_th",
            F.transform(_tokens(text_col), lambda t: portable_token_hash(t, mod)),
        )
        .withColumn("fingerprint", F.array_min(grams))
        .withColumn("content_md5", F.md5(F.col(text_col)))
        .drop("_fp_th")
    )


def vocabulary(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 1000,
) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` tokens by term frequency with
    term count and document frequency — the vocabulary-building /
    token-distribution primitive (BPE seeding, stopword discovery, corpus
    drift baselines).

    Shape: explode tokens → ONE aggregation (partial map-side combine on
    the token key; doc frequency via count_distinct inside the same agg) →
    global top-N. Token rows distribute evenly regardless of document
    length skew; the only data-size-dependent shuffle carries one row per
    distinct (token) per partition. Ties order by token so the result is
    deterministic."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("token")).where(
        F.col("token") != ""
    )
    counts = tok_rows.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_count"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    return counts.orderBy(F.col("term_count").desc(), F.col("token")).limit(top_n)


def tfidf(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 1,
) -> DataFrame:
    """Per-(document, token) TF-IDF scores (smoothed, sklearn-style:
    idf = ln((N+1)/(df+1)) + 1) — the retrieval / duplicate-boilerplate
    weighting primitive.

    Shape: one explode → per-(doc, token) count agg → per-token doc-freq
    agg → one shuffle join on the token key (token dimension is data-sized;
    never broadcast it blindly). N arrives as a broadcast scalar. All
    aggregations partial map-side; determinism: pure function of the data.
    Returns (id, token, tf, doc_freq, tfidf rounded to 4)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("token")).where(
        F.col("token") != ""
    )
    tf = tok_rows.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    if min_doc_freq > 1:
        df_t = df_t.where(F.col("doc_freq") >= min_doc_freq)
    n_docs = df.select(id_col).distinct().count()
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("doc_freq") + 1)) + 1.0
    return (
        tf.join(df_t, "token")
        .select(
            F.col(id_col),
            "token",
            "tf",
            "doc_freq",
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# PII scan / redaction
# ---------------------------------------------------------------------------
# Deterministic regex patterns for the classic structured-PII shapes a
# pretraining pipeline scrubs before training (public patterns; a heuristic
# scanner, not a trained NER model). Kept to syntax both Java regex (Spark)
# and RE2 (DuckDB oracle) interpret identically: character classes,
# bounded repetition, \b word boundaries — no lookaround, no backrefs.
# Order matters for redaction: SSN before phone (both are digit triplets),
# email before ipv4 (an email's host part may contain dotted digits).
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII hit counts (one column per pattern) plus the total.
    Pure JVM regexp_count expressions — narrow, zero shuffle; at corpus
    scale this is a single scan-side pass with nothing to re-partition."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    out = df
    for name, pat in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
    total = sum((F.col(f"n_{n}") for n, _ in PII_PATTERNS), F.lit(0))
    return out.withColumn("n_pii_total", total.cast("int"))


def pii_redact(df: DataFrame, text_col: str = "text", *, out_col: str | None = None) -> DataFrame:
    """Replace every PII match with a typed placeholder ([EMAIL], [SSN], ...),
    applying patterns in PII_PATTERNS order so overlapping digit shapes
    resolve deterministically. Chained regexp_replace stays inside
    whole-stage codegen — one projection, no Python."""
    col = F.col(text_col)
    for name, pat in PII_PATTERNS:
        col = F.regexp_replace(col, pat, f"[{name.upper()}]")
    return df.withColumn(out_col or f"{text_col}_redacted", col)


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition profile, entirely per-row (zero shuffle):

    - dup_token_ratio: 1 - distinct/total whitespace tokens
    - dup_2gram_ratio: 1 - distinct/total word 2-grams
    - top_token_ratio: share of the most frequent token (longest run in the
      sorted token array via a single F.aggregate fold)

    High values mark boilerplate/spam documents that repetition filters
    drop before training (public Gopher/C4 rule family)."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    toks = _tokens(text_col)
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    n_g = F.size(grams)
    run_state = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return df.select(
        id_col,
        n.alias("n_tokens"),
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1)), 4).alias(
            "dup_token_ratio"
        ),
        F.round(
            F.when(
                n_g > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / n_g
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_2gram_ratio"),
        F.round(run_state["best"] / F.greatest(n, F.lit(1)), 4).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Document filter composite (C4/Gopher-style keep/drop with reasons)
# ---------------------------------------------------------------------------
FILTER_DEFAULTS: dict = {
    "min_tokens": 20,
    "max_tokens": 10_000,
    "mean_tok_len": (2.0, 12.0),
    "max_punct_ratio": 0.2,
    "max_dup_2gram": 0.5,
    "max_top_token": 0.3,
    "lang_allow": ("en", "de", "fr", "es"),
    "max_pii": 0,
}


def document_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **overrides,
) -> DataFrame:
    """Pretraining-corpus keep/drop verdict per document, combining the
    public C4/Gopher rule families (length band, mean-token-length band,
    punctuation ratio, duplicate-2gram and top-token repetition, stopword
    language ID allowlist, structured-PII presence) into ONE fused
    projection. Mirrors the validator's violation-row idiom: every failed
    gate contributes a reason; `keep` = no reasons.

    Scale shape: zero shuffle — every signal is a per-row Column expression
    (array ops + regexp counts), so at corpus scale this is pure scan-side
    work that pipelines with the parquet read; thresholds fold to literals.
    Returns (id, lang_pred, n_tokens, keep, reasons) where `reasons` is the
    comma-joined, name-sorted failed-gate list ('' when kept)."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    cfg = {**FILTER_DEFAULTS, **overrides}
    # The token split feeds every signal below and codegen CSE does not
    # reach into HOF lambdas — stage it as a real column so the split runs
    # once per row, not once per signal (the signals projection then
    # references the attribute).
    df = df.select(id_col, text_col).withColumn("_df_toks", _tokens(text_col))
    toks = F.col("_df_toks")
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_tok_len = (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))
    punct = F.length(
        F.regexp_replace(F.col(text_col), r"[^\.,;:!\?]", "")
    ) / F.greatest(n_chars, F.lit(1))

    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(n_tok - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n_tok - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    n_g = F.size(grams)
    dup_2gram = F.when(
        n_g > 0, F.lit(1.0) - F.size(F.array_distinct(grams)) / n_g
    ).otherwise(F.lit(0.0))
    run_state = F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_token = run_state["best"] / F.greatest(n_tok, F.lit(1))

    def _hit(words: list[str]):
        return lambda t: t.isin(*words)

    lang_scores = []
    for lang, words in STOPWORD_PROFILES.items():
        if words:
            ratio = F.size(F.filter(toks, _hit(words))) / F.greatest(n_tok, F.lit(1))
        else:
            cjk = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))
            ratio = cjk / F.greatest(n_chars, F.lit(1))
        lang_scores.append(F.struct(ratio.alias("score"), F.lit(lang).alias("lang")))
    lang_pred = F.array_max(F.array(*lang_scores))["lang"]

    n_pii = sum(
        (F.regexp_count(F.col(text_col), F.lit(pat)) for _, pat in PII_PATTERNS),
        F.lit(0),
    )

    lo, hi = cfg["mean_tok_len"]
    # Stage the expensive signals as named columns FIRST: the gate
    # expressions below reference each signal (and `reasons` references all
    # of them, twice counting `keep`), and codegen's common-subexpression
    # elimination does not reach inside higher-order-function lambdas — one
    # fused projection re-evaluated the token fold / filters per reference
    # (measured 2.5x on this function). CollapseProject keeps the stage
    # boundary because the aliases are non-cheap and multiply-referenced;
    # both projections still pipeline inside one whole-stage-codegen scan.
    signals = df.select(
        id_col,
        lang_pred.alias("_lang"),
        n_tok.alias("_ntok"),
        mean_tok_len.alias("_mtl"),
        punct.alias("_punct"),
        dup_2gram.alias("_dup2"),
        top_token.alias("_top"),
        n_pii.alias("_pii"),
    )
    gates = [  # (name, failed-condition) — names listed pre-sorted
        ("lang", ~F.col("_lang").isin(*cfg["lang_allow"])),
        ("pii", F.col("_pii") > cfg["max_pii"]),
        ("punct", F.col("_punct") > cfg["max_punct_ratio"]),
        ("repetition_2gram", F.col("_dup2") > cfg["max_dup_2gram"]),
        ("repetition_top", F.col("_top") > cfg["max_top_token"]),
        ("token_len", (F.col("_mtl") < lo) | (F.col("_mtl") > hi)),
        ("too_long", F.col("_ntok") > cfg["max_tokens"]),
        ("too_short", F.col("_ntok") < cfg["min_tokens"]),
    ]
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in gates]),
            lambda x: x.isNotNull(),
        ),
    )
    return signals.select(
        id_col,
        F.col("_lang").alias("lang_pred"),
        F.col("_ntok").cast("int").alias("n_tokens"),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


# ---------------------------------------------------------------------------
# Unigram language-model quality score (CCNet-style)
# ---------------------------------------------------------------------------
def unigram_logprob(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style unigram LM quality score: train token frequencies on the
    corpus itself in one pass, then score every document by its mean token
    log-probability and the corresponding perplexity exp(-mean). Documents
    far from the corpus distribution (gibberish, boilerplate, wrong
    language) surface as high perplexity — the public LM-filtering recipe
    with the n-gram model reduced to its unigram term.

    Scale shape: one explode → token-count aggregation (partial map-side
    combine on the token key) → the corpus-total scalar broadcast onto the
    count table → one shuffle join of token rows back on the token key
    (high-cardinality key; document-length skew flattens at explode) →
    per-document avg. No driver-side model state: the "LM" lives in the
    token-count DataFrame, so the same plan holds when the vocabulary
    itself is data-sized.

    Returns (id, n_tokens, avg_logprob, perplexity), floats rounded to 4.
    """
    toks = _tokens(text_col)
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("token")).where(
        F.col("token") != ""
    )
    counts = tok_rows.groupBy("token").agg(F.count(F.lit(1)).alias("term_count"))
    total = counts.agg(F.sum("term_count").alias("_corpus_n"))
    logp = counts.crossJoin(F.broadcast(total)).select(
        "token", F.log(F.col("term_count") / F.col("_corpus_n")).alias("_logp")
    )
    return (
        tok_rows.join(logp, "token")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.avg("_logp").alias("_avg"))
        .select(
            id_col,
            "n_tokens",
            F.round("_avg", 4).alias("avg_logprob"),
            F.round(F.exp(-F.col("_avg")), 4).alias("perplexity"),
        )
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon character entropy per document (bits/char) — the classic
    gibberish/boilerplate screen: near-0 for repeated-character junk, ~4.1
    for natural English, ~log2(alphabet) for random noise. A standard
    pretraining quality gate next to `quality_score`'s ratio features.

    Plan: explode to (doc, char) — the blowup is bounded by doc length and
    collapses map-side, because groupBy(doc, char) partial-aggregates within
    the input partition before the ONE shuffle (alphabet ≤ a few hundred per
    doc survives, not the char stream). Second tiny agg per doc applies
    H = log2(n) - Σ c·log2(c) / n — algebraically identical to
    -Σ p·log2(p) but needs no per-row share column. All JVM-side; docs with
    zero characters are omitted (no distribution to score).
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("_ch")
    ).where(F.col("_ch") != "")
    counts = chars.groupBy(id_col, "_ch").agg(F.count(F.lit(1)).alias("_c"))
    n = F.sum("_c")
    h = F.log2(n) - F.sum(F.col("_c") * F.log2("_c")) / n
    return counts.groupBy(id_col).agg(F.round(h, 4).alias("char_entropy"))


# GPT-2-style pre-tokenizer regex (Radford et al. 2019, public BPE spec),
# restricted to constructs both Java regex (Spark) and RE2 (DuckDB) support:
# contractions, optional-space letter runs, digit runs, punctuation runs,
# whitespace runs. The original's trailing-space lookahead is dropped — RE2
# has no lookahead — which only re-buckets trailing whitespace, not counts.
BPE_PRETOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def token_count_bpe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count under a real BPE-style pre-tokenization (the build
    brief's "BPE-ish regex"), upgrading token_count's chars/4 estimate:
    counts GPT-2 pre-tokenizer segments — each segment is >= 1 BPE token,
    so this is the tight lower bound a byte-pair vocabulary can reach.
    Pure `regexp_extract_all` Column expression — JVM-side, one projection,
    no UDF; the pattern is engine-portable so DuckDB reproduces the counts
    bit-for-bit."""
    segs = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN), 0)
    return df.withColumn("n_tokens_bpe", F.size(segs).cast("long"))


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, level: int = 6
) -> DataFrame:
    """Compressibility quality signal: deflate(text)/len(text) — repetitive
    boilerplate and template spam compress far below natural prose (the
    signal behind "compression filtering" in public corpus-curation
    pipelines; complements char_entropy, which sees character FREQUENCIES
    but not repeated PHRASES). Low ratio → repetitive; ~1 → already-random
    (or encrypted/minified) content — both tails are suspect.

    zlib is C-speed and the pass is a narrow mapInArrow over zero-copy
    UTF-8 views (no shuffle, no Python-per-row overhead beyond the per-doc
    compress call, which is the operator's actual work). Empty docs are
    excluded (no ratio to compute). Output: (id, n_bytes, ratio)."""
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("ratio", T.DoubleType()),
        ]
    )

    def rows(doc_id, utf8, _):
        if utf8 is not None and len(utf8):
            raw = utf8.tobytes()
            yield (doc_id, len(raw), round(len(zlib.compress(raw, level)) / len(raw), 4))

    return _decoded_map(df, out_schema, rows, id_col=id_col,
                        decode=lambda view: (view, None), bytes_col=text_col)


def normalize_transcript(
    df: DataFrame,
    *,
    text_col: str = "transcript",
    id_col: str = "clip_id",
) -> DataFrame:
    """ASR-scoring text normalization: lowercase, strip everything outside
    ``[a-z0-9' ]`` to a space (keeping intra-word apostrophes: "don't"
    survives), collapse whitespace runs, trim. Emits the normalized text
    plus raw/normalized token counts — the preprocessing step WER/CER
    comparisons assume, and the reason two transcripts that differ only in
    punctuation or casing dedup to the same string downstream.

    Native Column code: one lower(), two regexp_replace passes, one
    split — whole-stage codegen end to end, and the regexes stay in the
    Java∩RE2-portable subset so external engines replay the values
    exactly (driver contract ``transcript_normalize``).
    """
    # single-file inputs serialize the scan stage on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    df = _ensure_parallelism(df)
    raw = F.trim(F.col(text_col))
    n_raw = (
        F.when(raw == "", F.lit(0))
        .otherwise(F.size(F.split(raw, r"\s+")))
        .cast("long")
    )
    stripped = F.regexp_replace(F.lower(raw), r"[^a-z0-9' ]+", " ")
    collapsed = F.trim(F.regexp_replace(stripped, r" +", " "))
    n_norm = (
        F.when(collapsed == "", F.lit(0))
        .otherwise(F.size(F.split(collapsed, " ")))
        .cast("long")
    )
    return df.select(
        id_col,
        collapsed.alias("norm_transcript"),
        n_raw.alias("n_raw_tokens"),
        n_norm.alias("n_norm_tokens"),
    )
