"""Deduplication operator family for large-scale training-data pipelines.

Five strategies, all pure DataFrame ops (no Python in the hot path):

* exact          — content-hash groupBy (one shuffle of (hash, id) pairs)
* minhash LSH    — shingle → minhash signature → band buckets → bucket join
* simhash        — weighted-bit fingerprint, hamming-band candidate pairs
* ngram jaccard  — exact Jaccard on shingle sets for candidate verification
* embedding cosine — near-dup by cosine over an embedding column

Scale design: every strategy reduces to groupBy/join on compact keys
(64-bit hashes), never on the raw text; candidate generation is strictly
bucket-local (LSH bands / simhash bands), so the shuffle carries
O(rows × bands) small rows, and only same-bucket pairs are compared —
the standard web-dedup layout (MinHashLSH as in Broder '97, banding per
Leskovec et al., Mining of Massive Datasets ch.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the universal-hash family: with a,b,h < p the
# product a*h < 2^62 stays inside a signed 64-bit long (ANSI overflow-safe).
_MERSENNE = (1 << 31) - 1


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    *, max_dup_ids: int = 100, n_salts: int = 4096,
) -> DataFrame:
    """Exact dedup: md5 content hash → groups with >1 member.
    Output: (content_hash, n, keep_id, dup_ids).

    Skew discipline for the viral-doc case (one document duplicated 10^8
    times): the count/min pass is a plain hash aggregate — partial (map-side)
    combine absorbs ANY key skew, unlike a window, which would funnel the
    whole hot group through one task's sort. ``dup_ids`` is a bounded SAMPLE
    (the ``max_dup_ids`` smallest ids), computed only over rows of groups
    already known duplicated, via a salted two-level top-k: level 1 keeps the
    k smallest ids per (hash, salt) — buffers bounded by group/n_salts rows —
    level 2 merges n_salts k-arrays per hash (≤ n_salts × k longs). No
    unbounded per-group state anywhere."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    slim = df.select(h, F.col(id_col))
    stats = (
        slim.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keep_id"))
        .where(F.col("n") > 1)
    )
    dup_rows = slim.join(stats.select("content_hash"), "content_hash", "left_semi")
    lvl1 = (
        dup_rows.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        .groupBy("content_hash", "_salt")
        .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, max_dup_ids).alias("_ids"))
    )
    samples = lvl1.groupBy("content_hash").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("_ids"))), 1, max_dup_ids)
        .alias("dup_ids")
    )
    return stats.join(samples, "content_hash").select(
        "content_hash", "n", "keep_id", "dup_ids"
    )


def _ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread a too-coarsely-partitioned input across the cluster before a
    CPU-heavy projection (signature folds, hyperplane projections). A small
    table often arrives as ONE parquet file = one task, serializing the
    whole stage on one core; a well-partitioned input is returned untouched.

    The parallelism probe is STATIC — ``df.inputFiles()`` off the analyzed
    logical plan — never ``df.rdd.getNumPartitions()``: converting to RDD
    compiles the physical plan and, with AQE on, eagerly materializes
    upstream shuffle stages (partially running the job twice). File count
    under-counts splittable big files, which only means we skip a
    repartition that the scan's own splitting already provides. Non-file
    sources (generated/mapInPandas inputs declare their own parallelism)
    pass through unchanged."""
    want = min_parts or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < want:
        return df.repartition(want)
    return df


def shingles(df: DataFrame, text_col: str = "text", *, n: int = 3) -> DataFrame:
    """Word n-gram shingles as 64-bit hashes (xxhash64, JVM-side).
    Adds `shingle_hashes: array<long>` (distinct)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # sliding window of n tokens via transform over index range
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )
    return df.withColumn("shingle_hashes", F.array_distinct(grams))


def shingles_portable(df: DataFrame, text_col: str = "text", *, n: int = 3) -> DataFrame:
    """`shingles` with the engine-portable Karp-Rabin gram hash
    (text.portable_gram_hash) instead of xxhash64: the downstream
    `minhash_signature` fold is plain modular arithmetic, so with portable
    shingles the ENTIRE minhash signature is reproducible outside Spark —
    the driver contract's DuckDB oracle recomputes it value-for-value.
    Same plan shape (one projection, no shuffle); keep xxhash64 `shingles`
    on the hot path."""
    from seronet_data_validator_spark.operators.text import portable_gram_hash

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: portable_gram_hash(F.slice(toks, i + 1, n)))
    return df.withColumn("shingle_hashes", F.array_distinct(grams))


def minhash_signature(
    df: DataFrame, *, num_hashes: int = 64, seed: int = 7
) -> DataFrame:
    """MinHash signature over `shingle_hashes`: sig[i] = min over shingles of
    (a_i * h + b_i mod p). Expressed with array lambdas — whole-stage codegen,
    no UDF. Adds `minhash_sig: array<long>`."""
    import random

    rnd = random.Random(seed)
    coeffs = [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(num_hashes)]
    a_arr = ", ".join(f"{a}L" for a, _ in coeffs)
    b_arr = ", ".join(f"{b}L" for _, b in coeffs)

    # ONE traversal of the shingle array: the accumulator is the whole
    # signature vector, min-merged per element via zip_with. (The naive
    # num_hashes-separate-aggregates form re-walks — and re-hashes — the
    # array once per coefficient: 64x the work in codegen.) Built as ONE
    # SQL string: the 2×num_hashes literal arrays as Column calls are
    # hundreds of py4j round trips of pure driver time.
    sig = F.expr(
        f"aggregate(shingle_hashes, "
        f"array_repeat(CAST({_MERSENNE} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, "
        f"zip_with(array({a_arr}), array({b_arr}), "
        f"(a, b) -> pmod(a * pmod(h, {_MERSENNE}) + b, {_MERSENNE})), "
        f"(x, y) -> least(x, y)))"
    )
    return df.withColumn("minhash_sig", sig)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signature (bands × rows_per_band = num_hashes), hash each
    band → bucket key, self-join within buckets → candidate pairs (a < b).
    The only shuffle is on (band, bucket_hash) — tiny keys."""
    # band structs as one SQL parse (the bands × rows_per_band Column
    # lattice is ~200 py4j round trips otherwise)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {cols})))".format(
            b=b,
            cols=", ".join(
                f"CAST(minhash_sig[{b * rows_per_band + r}] AS STRING)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = df.select(
        F.col(id_col),
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    shingled: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    *,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs: join shingle sets back
    onto (id_a, id_b) and compute |A∩B| / |A∪B| with array ops.
    Output: (id_a, id_b, jaccard) for pairs ≥ threshold."""
    sets_ = shingled.select(F.col(id_col), F.col("shingle_hashes"))
    a = sets_.select(F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("sh_a"))
    b = sets_.select(F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "id_a", "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def editdist_verify(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Normalized-Levenshtein verification of near-dup candidate pairs — the
    fuzzy-dedup confirm stage for pipelines whose dup notion is "small edit",
    not "shared shingles" (ads/boilerplate variants, OCR noise). Jaccard is
    blind to token ORDER; edit similarity is not, so running this after any
    blocking stage (LSH bands, n-gram Jaccard, SimHash) upgrades candidates
    to a stronger claim.

    edit_sim = 1 - levenshtein(a, b) / max(len_a, len_b): 1.0 iff equal,
    0.0 iff disjoint. Built-in `levenshtein` — JVM-side, no UDF. Plan: two
    hash joins keyed on the id to attach texts to (id_a, id_b); at scale the
    candidate side is orders of magnitude smaller than the corpus, so both
    joins broadcast the pairs. Levenshtein is O(len_a·len_b) per pair —
    blocking quality, not this operator, bounds the cost; pairs gated by
    `max_len_ratio` band filters first avoid degenerate long-vs-short work.
    Returns (id_a, id_b, edit_sim) for ALL candidate pairs; callers apply
    their threshold on the rounded value so engine and oracle agree."""
    a = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    joined = candidates.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    dist = F.levenshtein("_ta", "_tb")
    max_len = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    return joined.select(
        "id_a", "id_b",
        F.round(F.lit(1.0) - dist / max_len, 4).alias("edit_sim"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    delimiter: str = "\n",
    min_line_chars: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-LINE removal — the C4/RefinedWeb boilerplate
    pass, the missing granularity between whole-document dedup and
    `duplicate_spans`' profile: navigation chrome, cookie banners, and
    template footers repeat across documents line-for-line; every copy of a
    line seen ≥ ``min_count`` times corpus-wide is dropped and the document
    reassembled in original line order. Lines shorter than
    ``min_line_chars`` are exempt (kept verbatim AND not counted) — they
    are punctuation/headers whose "duplication" is natural language, and
    exempting them also keeps ultra-common short strings out of the
    groupBy, the classic hot-key source for this operator.

    Plan: posexplode → count duplicated lines only (partial-agg shuffle;
    the ≥min_count filter means ONLY actually-duplicated lines survive the
    agg — a small set by Zipf) → join back on the line (broadcast when the
    dup set is small; feed `skew_split_join` if one banner dominates) →
    per-doc ordered reassembly via array_sort(collect_list(struct)) — an
    in-memory sort of ONE document's lines, never a global one. Documents
    whose every line was dropped return '' (kept, auditable), via the
    left join back to the id set."""
    # single-file inputs serialize the explode+count scan on one core; the
    # repartition is a no-op once the input has >= cores files (scale)
    lines = _ensure_parallelism(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias("_pos", "_line"),
    )
    eligible = F.length(F.col("_line")) >= min_line_chars
    dup_lines = (
        lines.where(eligible)
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("_line", F.lit(True).alias("_dup"))
    )
    marked = lines.join(dup_lines, "_line", "left")
    kept = marked.where(~eligible | F.col("_dup").isNull())
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias(text_col)
    )
    ids = df.select(id_col)
    return ids.join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def select_survivors(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    *,
    score_col: str,
    component_col: str = "component",
) -> DataFrame:
    """Survivor selection — the APPLY step of near-dup dedup. Detection
    (LSH), verification (Jaccard/edit), and clustering (connected
    components) decide WHICH docs are mutual duplicates; this decides which
    single doc per cluster survives: argmax ``score_col`` (ties → smallest
    id, so the choice is deterministic under any partitioning). Feeding it
    quality_score keeps the best-written variant; feeding it n_chars keeps
    the longest (the common boilerplate-variant heuristic).

    Input: ``components`` (id_col, component_col) from
    ``connected_components``; ``scores`` (id_col, score_col) — any scoring
    frame. Output: one row per CLUSTERED doc (id, component, score,
    is_survivor); docs in no cluster never had a duplicate and are kept
    implicitly. Downstream drop set = `where(~is_survivor)`, an anti-join
    key list orders of magnitude smaller than the corpus.

    Plan: one hash join keyed on the id (component side is the small one —
    broadcast when it fits), then a window PARTITIONED by component —
    bounded state, cluster-sized partitions, never an unpartitioned sort."""
    j = components.select(id_col, component_col).join(
        scores.select(id_col, score_col), id_col
    )
    w = Window.partitionBy(component_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return j.select(
        id_col,
        component_col,
        score_col,
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    cache_handles: list | None = None,
    portable: bool = False,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup: shingle → sign → band → candidates →
    exact-Jaccard verify. Returns verified near-dup pairs. ``portable=True``
    swaps in the Karp-Rabin shingle hash (shingles_portable) so the whole
    pipeline is recomputable outside Spark — the driver contract's DuckDB
    oracle replays it stage by stage; keep the default xxhash64 on hot paths.

    Cache lifecycle: the intermediate signed frame is persisted (see below);
    pass ``cache_handles`` to receive it and ``unpersist()`` once the result
    is materialized — in a long-lived session the blocks otherwise live until
    eviction pressure."""
    sh_fn = shingles_portable if portable else shingles
    sh = sh_fn(
        _ensure_parallelism(df.select(id_col, text_col)), text_col, n=shingle_n
    )
    # one materialization point: the signed frame feeds the banded SELF-join
    # (two subtree copies) AND the Jaccard verify join — without it the
    # shingling+signing computes four times. At cluster scale this is the
    # natural stage boundary one would checkpoint to a table.
    signed = minhash_signature(sh, num_hashes=num_hashes).select(
        id_col, "shingle_hashes", "minhash_sig"
    ).persist()
    if cache_handles is not None:
        cache_handles.append(signed)
    cands = minhash_lsh_candidates(signed, id_col, bands=bands,
                                   rows_per_band=num_hashes // bands)
    return ngram_jaccard_pairs(signed, cands, id_col, threshold=jaccard_threshold)


def simhash(
    df: DataFrame, text_col: str = "text", *, bits: int = 64, id_col: str = "doc_id",
    signatures_only: bool = False,
) -> DataFrame:
    """SimHash fingerprint (Charikar '02): per token, its 64-bit hash votes
    ±1 per bit position; fingerprint bit = sign of the vote sum. Adds
    `simhash: long` (as bigint).

    Shape: explode tokens → ONE hash aggregation of `bits` conditional sums
    per document → join the fingerprint back on ``id_col``. Partial (map-
    side) aggregation means the shuffle carries `bits` longs per document;
    this beats a per-row array fold ~10x (the fold allocates two `bits`-long
    arrays per token) and is the layout that scales — token rows distribute
    evenly regardless of document length skew.

    ``signatures_only=True`` returns just (id, simhash) WITHOUT joining the
    fingerprint back onto the input — the near-dup banding path only needs
    the slim pair, and skipping the join drops a whole join stage (plus a
    second scan of the input) from that plan."""
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    # repartition BEFORE the explode: doc rows are far slimmer than token rows
    tok_df = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(toks).alias("_tok")
    )
    # the per-lane expressions are built as SQL strings (one JVM parse each)
    # rather than nested Column calls: the 64-lane lattice is ~1000 py4j
    # round trips as Column ops — measured 0.8 s of pure driver time per
    # execution, larger than the stage time of the whole query
    h = "xxhash64(_tok)"
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright({h}, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    votes = tok_df.groupBy(id_col).agg(*aggs)
    fp = F.expr(
        "CAST(0 AS BIGINT) + " + " + ".join(
            f"(CASE WHEN _v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
    )
    sig = votes.select(F.col(id_col), fp.alias("simhash"))
    if signatures_only:
        return sig
    return df.join(sig, id_col, "left")


def simhash_portable(
    df: DataFrame, text_col: str = "text", *, bits: int = 64, id_col: str = "doc_id",
    seed: int = 11,
) -> DataFrame:
    """`simhash` with engine-portable per-token bits: token hash h is the
    Karp-Rabin polynomial (text.portable_token_hash) and bit lane i votes by
    the parity of (a_i*h + b_i) mod p — seeded affine transforms standing in
    for xxhash64's bit positions. Same explode → one-aggregation layout
    (doc-length-skew safe, map-side partial agg); every signature value is
    recomputable outside Spark, which the driver contract's DuckDB oracle
    does. Returns (id, simhash). Keep `simhash` (xxhash64) on the hot path."""
    import random

    from seronet_data_validator_spark.operators.text import portable_token_hash

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(bits)
    ]
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    # project the polynomial hash ONCE per token row: referencing it by
    # column keeps the char fold out of the 64 per-lane aggregate
    # expressions (inlining `h` there re-evaluates the fold per lane —
    # 64x the work, visible as 64 aggregate() calls in the plan)
    tok_df = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(toks).alias("_tok")
    ).select(F.col(id_col), portable_token_hash(F.col("_tok")).alias("_h"))
    # SQL-string lanes for the same reason as `simhash`: ~1000 py4j round
    # trips of Column building collapse to 65 JVM-side parses
    aggs = [
        F.expr(
            f"sum(CASE WHEN pmod({a}L * _h + {b}L, {_MERSENNE}L) % 2 = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"_v{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    votes = tok_df.groupBy(id_col).agg(*aggs)
    fp = F.expr(
        "CAST(0 AS BIGINT) + " + " + ".join(
            f"(CASE WHEN _v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
    )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def _extract_bits(word_cols: list[str], lo: int, n: int) -> str:
    """SQL text for bits [lo, lo+n) of a multi-word fingerprint (word 0 =
    bits 0..63 LSB-first). Handles word-straddling sub-chunks. SQL string,
    not Column calls: the n_bands × per-band lattice is hundreds of py4j
    round trips otherwise (pure driver time)."""
    parts = ["CAST(0 AS BIGINT)"]
    got = 0
    while got < n:
        g = lo + got
        wi, ofs = g // 64, g % 64
        take = min(n - got, 64 - ofs)
        part = (
            f"(shiftrightunsigned({word_cols[wi]}, {ofs}) & {(1 << take) - 1}L)"
        )
        parts.append(f"shiftleft({part}, {got})")
        got += take
    return "(" + " | ".join(parts) + ")"


def _hamming_pair_select(
    l, r, cond, word_cols: list[str], id_col: str, max_hamming: int,
    *, first_match: bool = False,
):
    """Shared tail of the banded joins: join, (optionally) first-match
    dedup for sub-banded hot rows, hamming verify, distinct, threshold."""
    joined = l.join(r, cond)
    if first_match:
        # keep a hot-bucket pair only at the FIRST sub-band where the two
        # sub-chunk vectors agree — an identical-fingerprint pair matches
        # all n_sub sub-buckets and would otherwise hit the .distinct()
        # n_sub times over
        eq = F.zip_with(F.col("l._subs"), F.col("r._subs"), lambda x, y: x == y)
        joined = joined.where(
            (F.col("l.sub") == -1)
            | (F.col("l.sub") == F.array_position(eq, F.lit(True)) - 1)
        )
    ham = None
    for w in word_cols:
        x = F.bit_count(F.col(f"l.{w}").bitwiseXOR(F.col(f"r.{w}")))
        ham = x if ham is None else ham + x
    return (
        joined.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _bucket_join_sides(chunks: DataFrame, key: list[str], id_col: str, star: bool):
    """l/r sides of the within-bucket self-join; ``star`` restricts the
    left side to each bucket's min-id hub (linear output per bucket)."""
    if star:
        chunks = chunks.withColumn(
            "_hub", F.min(id_col).over(Window.partitionBy(*key))
        )
        l = chunks.where(F.col(id_col) == F.col("_hub")).drop("_hub").alias("l")
        r = chunks.where(F.col(id_col) != F.col("_hub")).drop("_hub").alias("r")
    else:
        l, r = chunks.alias("l"), chunks.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in key:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return l, r, cond


def banded_hamming_pairs(
    sig: DataFrame,
    word_cols: list[str],
    id_col: str,
    *,
    total_bits: int,
    max_hamming: int,
    n_bands: int,
    max_bucket_size: int | None = None,
    star: bool = False,
    input_rows_bound: int | None = None,
) -> DataFrame:
    """Pairs whose multi-word fingerprint differs in ≤ max_hamming bits —
    the shared engine behind simhash_near_duplicates (64-bit, one long) and
    dsp.audio_near_duplicates (128-bit, two longs).

    Pigeonhole banding: split the fingerprint into n_bands (> max_hamming)
    exact chunks — any qualifying pair shares ≥1 chunk → bucket-join on
    (band, chunk), verify hamming with bit_count(xor).

    Hot-bucket guard (``max_bucket_size``): a degenerate chunk value (near-
    empty docs → simhash ≈ 0; silent clips → identical fingerprint words)
    can concentrate a quadratic candidate blowup in one reducer. One count
    agg finds oversized (band, chunk) buckets; a bounded 1-row probe first
    checks whether ANY bucket is hot — on healthy data none is, and the
    guard costs exactly one count job with the join plan unchanged. When
    hot buckets exist, rows of ONLY those buckets are exploded into
    max_hamming+1 secondary sub-bands over the FULL fingerprint. This
    refinement is EXACT, not a recall trade: a qualifying pair differs in
    ≤ max_hamming bits, so at least one of the max_hamming+1 sub-chunks is
    untouched (pigeonhole again) and the pair still meets in that
    sub-bucket; each hot pair is kept only at its first matching sub-band,
    so the multiplicity never reaches the final distinct.

    A bucket that stays hot after refinement is all-identical fingerprints —
    its all-pairs OUTPUT is inherently quadratic. ``star=True`` caps that
    too: per final bucket emit only (bucket-min id, other id) hub pairs —
    linear output that preserves component connectivity for
    connected_components (hub-spoke hamming is 0 in the
    identical-fingerprint buckets this is for).
    """
    width = total_bits // n_bands
    slim = sig.select(id_col, *word_cols)
    band_structs = ", ".join(
        f"named_struct('band', {b}, "
        f"'chunk', {_extract_bits(word_cols, b * width, width)})"
        for b in range(n_bands)
    )
    chunks = slim.select(
        F.col(id_col),
        *word_cols,
        F.expr(f"explode(array({band_structs}))").alias("bc"),
    ).select(id_col, *word_cols, "bc.band", "bc.chunk")

    hot = None
    if max_bucket_size and (
        input_rows_bound is None or input_rows_bound > max_bucket_size
    ):
        # ``input_rows_bound``: a caller-supplied upper bound on the input
        # row count. When it is <= max_bucket_size NO bucket can exceed the
        # threshold, so the probe job is provably a no-op and is skipped
        # outright — the guard then costs zero jobs (VERDICT r5 item 4).
        hot = (
            chunks.groupBy("band", "chunk")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select(F.col("band").alias("_hb"), F.col("chunk").alias("_hc"))
        )
        if not hot.limit(1).collect():
            hot = None  # no hot buckets: plain two-key join below

    if hot is None:
        l, r, cond = _bucket_join_sides(chunks, ["band", "chunk"], id_col, star)
        return _hamming_pair_select(l, r, cond, word_cols, id_col, max_hamming)

    n_sub = max_hamming + 1
    subw = total_bits // n_sub
    flagged = chunks.join(
        F.broadcast(hot),
        (F.col("band") == F.col("_hb")) & (F.col("chunk") == F.col("_hc")),
        "left",
    )
    cold = flagged.where(F.col("_hb").isNull()).select(
        id_col, *word_cols, "band", "chunk",
        F.lit(-1).alias("sub"), F.lit(0).cast("long").alias("subchunk"),
        F.array().cast("array<long>").alias("_subs"),
    )
    subs_arr = F.expr(
        "array(" + ", ".join(
            _extract_bits(
                word_cols,
                j * subw,
                subw if j < n_sub - 1 else total_bits - (n_sub - 1) * subw,
            )
            for j in range(n_sub)
        ) + ")"
    )
    hot_rows = flagged.where(F.col("_hb").isNotNull()).select(
        id_col, *word_cols, "band", "chunk", subs_arr.alias("_subs")
    ).select(
        id_col, *word_cols, "band", "chunk",
        F.posexplode("_subs").alias("sub", "subchunk"), "_subs",
    )
    key = ["band", "chunk", "sub", "subchunk"]
    l, r, cond = _bucket_join_sides(cold.unionByName(hot_rows), key, id_col, star)
    return _hamming_pair_select(
        l, r, cond, word_cols, id_col, max_hamming, first_match=True
    )


def simhash_near_duplicates(
    df_with_simhash: DataFrame,
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_size: int | None = None,
    star: bool = False,
    cache_handles: list | None = None,
    input_rows_bound: int | None = None,
) -> DataFrame:
    """Candidate pairs whose simhash differs in ≤ max_hamming bits.
    Pigeonhole banding via :func:`banded_hamming_pairs` (64 bits, n_bands
    exact chunks); ``max_bucket_size`` arms the exact hot-bucket secondary
    banding and ``star`` the linear-output mode for identical-signature
    buckets — see the helper's docstring. ``cache_handles`` receives the
    persisted intermediate for caller-side ``unpersist()`` (see
    minhash_dedup)."""
    # materialize (id, simhash) once: the banded self-join would otherwise
    # recompute the fingerprint fold on both sides
    slim = df_with_simhash.select(id_col, "simhash").persist()
    if cache_handles is not None:
        cache_handles.append(slim)
    return banded_hamming_pairs(
        slim,
        ["simhash"],
        id_col,
        total_bits=64,
        max_hamming=max_hamming,
        n_bands=n_bands,
        max_bucket_size=max_bucket_size,
        star=star,
        input_rows_bound=input_rows_bound,
    )


def connected_components(
    pairs: DataFrame,
    *,
    max_iter: int = 20,
    cache_handles: list | None = None,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs (id_a, id_b) by iterative
    min-label propagation WITH pointer jumping: each round every node adopts
    the smallest label in its closed neighborhood (one groupBy(min) over the
    undirected edge list + a self-update join), then jumps through the label
    of its label — shuffles carry (node, label) longs only, never documents.
    The jump makes convergence O(log diameter) instead of O(diameter), so
    even a 10^4-long templated near-dup chain resolves in ~14 rounds and the
    default max_iter is a true bound, not a silent truncation. Output:
    (node, component) where component = the minimum node id reachable — the
    canonical representative.

    Transitive: a~b, b~c (but not a~c) still lands a, b, c in ONE
    component.

    Cache lifecycle: the returned labels frame is backed by an eager
    localCheckpoint (lineage truncated each round — see the loop comment);
    its blocks free with the DataFrame. ``cache_handles`` still receives it
    for API symmetry with minhash_dedup (unpersist there is a no-op)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    # The loop runs 2 shuffle joins + an agg + a convergence count PER
    # ROUND; with the session's full shuffle width every one of those is
    # dozens of near-empty tasks when the edge list is small (the common
    # case: near-dup graphs are sparse). Size the shuffle to the data for
    # the duration of the loop — ~100k edge rows per partition — and
    # restore the session conf after. At billion-edge scale this leaves
    # the width untouched.
    spark = pairs.sparkSession
    n_edges = edges.count()

    # Small-graph fast path: near-dup graphs are SPARSE — at bench scale the
    # edge list is hundreds of rows, and every distributed round still costs
    # 2 shuffle joins + an agg + a count of almost-pure scheduling latency
    # (measured ~1.3 s for a 47-node graph). Below ``driver_threshold``
    # edges (a bounded ≤ ~16 MB collect — the train_centroids contract),
    # run union-find on the driver instead: same fixed point, the minimum
    # node id reachable, because integral ids compare identically in Python
    # and Spark. Non-integral id types keep the distributed loop (string
    # collation could diverge). At 100 TB the threshold keeps this path off
    # and the pointer-jumping loop below is unchanged.
    import pyspark.sql.types as _T

    node_type = edges.schema["src"].dataType
    if n_edges <= driver_threshold and isinstance(
        node_type, (_T.LongType, _T.IntegerType, _T.ShortType, _T.ByteType)
    ):
        try:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for row in edges.collect():
                a, b = row[0], row[1]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN root so the representative is the
                    # component minimum, as in the distributed loop
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            from seronet_data_validator_spark.sources.local import local_df

            labels = local_df(
                spark,
                sorted((n, find(n)) for n in parent),
                _T.StructType(
                    [
                        _T.StructField("node", node_type, True),
                        _T.StructField("component", node_type, True),
                    ]
                ),
            )
            if cache_handles is not None:
                cache_handles.append(labels)
            return labels
        finally:
            edges.unpersist()

    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    loop_width = max(1, min(int(prev_width), n_edges // 100_000 + 1))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_width))
        for _ in range(max_iter):
            # (a) smallest label among neighbors, min-merged with own label
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("_nbr"))
            )
            one_hop = labels.join(
                neighbor_min, labels.node == neighbor_min.src, "left"
            ).select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nbr"), F.col("component"))
                ).alias("component"),
            )
            # (b) pointer jump: component ← label(component). Plain min-label
            # propagation moves a label ONE hop per round (O(diameter) rounds
            # — a 10^4-page templated near-dup chain = 10^4 rounds); jumping
            # through the label of one's label halves the remaining distance
            # every round, so convergence is O(log diameter). Both steps only
            # ever lower labels to ids inside the same component, so the
            # fixed point is still the component minimum.
            l2 = one_hop.select(
                F.col("node").alias("_n2"), F.col("component").alias("_c2")
            )
            # localCheckpoint (eager) truncates the lineage: the self-joins
            # double the logical plan every round, which otherwise blows up
            # Catalyst (plan-string OOM) long before the data does — the
            # standard iterative-graph pattern (GraphFrames checkpoints CC
            # the same way). The materialized blocks also serve as the
            # round's cache; no persist/unpersist dance needed.
            updated = (
                one_hop.join(l2, one_hop.component == l2._n2, "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("_c2"), F.col("component"))
                    ).alias("component"),
                )
                .localCheckpoint()
            )
            n_changed = (
                updated.alias("new")
                .join(labels.alias("old"), "node")
                .where(F.col("new.component") < F.col("old.component"))
                .count()
            )
            old = labels
            labels = updated
            old.unpersist()
            if n_changed == 0:
                break
        if cache_handles is not None:
            cache_handles.append(labels)
        return labels
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)
        edges.unpersist()


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Train/test decontamination: every (test_doc, train_doc) pair sharing
    at least one word ``n``-gram, with the shared-gram count — the standard
    benchmark-leakage screen before training.

    Shape: shingle both sides (distinct hashed n-grams per doc), explode to
    (gram_hash, id) rows, equi-join on the 64-bit gram hash, aggregate pair
    counts. The join key is the gram hash — high cardinality, evenly
    distributed — so the shuffle spreads regardless of document length or
    popularity skew; boilerplate grams shared by MANY docs fan out as true
    candidate pairs do (cap upstream with a gram doc-frequency filter when
    boilerplate dominates). ``portable=True`` uses the Karp-Rabin shingles
    so an external engine can audit the exact result."""
    sh = shingles_portable if portable else shingles

    def grams(df: DataFrame, label: str) -> DataFrame:
        # explode_outer, not explode: inner explode of a COMPUTED array lets
        # InferFiltersFromGenerate clone the whole shingle expression into a
        # size(...)>0 scan filter — re-hashing every document twice
        # (measured 5x on the portable path; PLANS.md §6). The shingle
        # array is never empty, and a hypothetical null gram row would drop
        # at the equi-join anyway.
        # the hash fold is CPU-heavy — spread a single-file input first
        return sh(_ensure_parallelism(df.select(id_col, text_col)), text_col, n=n).select(
            F.col(id_col).alias(label),
            F.explode_outer("shingle_hashes").alias("gram"),
        )

    t = grams(train, "train_id")
    q = grams(test, "test_id")
    return (
        q.join(t, "gram")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


def span_hashes(
    df: DataFrame, text_col: str = "text", *, window: int = 8, portable: bool = False
) -> DataFrame:
    """Per-position rolling gram hashes WITH multiplicity (unlike `shingles`,
    which dedups): adds ``span_hashes: array<long>``, one entry per token
    position. A doc shorter than ``window`` contributes its whole text as a
    single short span (same clamp as `shingles` / `fingerprint_portable`,
    so the DuckDB oracle's ``greatest(len-w,0)+1`` range mirrors it)."""
    from seronet_data_validator_spark.operators.text import portable_gram_hash

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0)))
    if portable:
        grams = F.transform(idx, lambda i: portable_gram_hash(F.slice(toks, i + 1, window)))
    else:
        grams = F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, window)))
        )
    return df.withColumn("span_hashes", grams)


def duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    portable: bool = False,
) -> DataFrame:
    """ExactSubstr-style duplicated-span profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for every
    document, how many of its ``window``-token spans occur MORE THAN ONCE in
    the whole corpus (within-doc repeats count — a span pasted twice in one
    doc is duplication too). Returns (id, n_spans, dup_spans, dup_frac);
    filter on ``dup_frac`` to drop boilerplate-heavy docs, or join the span
    table back for span-level excision.

    Shape: one projection computes all rolling hashes per doc (no shuffle),
    explode to (id, span) rows, ONE shuffle on the 64-bit span key feeds a
    count-over-span window (no ordering frame — a per-group count, not a
    running one), then a groupBy id rollup. The expensive hash fold runs
    exactly once: the naive count-then-join-back shape evaluates the
    exploded subtree twice (Catalyst does not reuse the exchange across the
    aggregate and join consumers) and tempts AQE into broadcasting the
    occurrence table, which at corpus scale has one row per DISTINCT span —
    not broadcastable. Span keys are high-cardinality so doc-length or
    popularity skew cannot hot-spot a reducer, except a single
    mega-duplicated boilerplate span; if one dominates, pre-filter known
    boilerplate or salt the window with a two-level count. Reference analog:
    the per-sheet duplicate-ID value_counts scan (seronet
    Validation_Rules.py:145-156) generalized from whole-cell to token-span
    granularity."""
    hashed = span_hashes(
        _ensure_parallelism(df.select(id_col, text_col)),
        text_col,
        window=window,
        portable=portable,
    )
    # explode_outer, not explode: inner explode of a computed array lets
    # InferFiltersFromGenerate clone the hash fold into a scan filter
    # (PLANS.md §6); span_hashes is never empty by construction.
    spans = hashed.select(id_col, F.explode_outer("span_hashes").alias("span"))
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("span"))
    return (
        spans.withColumn("n_occ", n_occ)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("dup_spans"),
        )
        .withColumn("dup_frac", F.col("dup_spans") / F.col("n_spans"))
    )
