"""Training-corpus preparation operators (round-2 LLM-data surface).

The reference has no analogue for any of these (its transform surface is
timestamp coercion, `/root/reference/pyopenetl/operations.py:120-128`);
they are the standard preparation passes of a large-scale LLM data
pipeline, stated Spark-first so each is one or two shuffles at 100 TB:

- :func:`repetition_stats` — Gopher-style within-document repetition
  quality signals (duplicate-token fraction, top-bigram coverage).
- :func:`contamination_check` — benchmark n-gram overlap: the standard
  train/test contamination test (the benchmark shingle set broadcasts;
  the corpus is never shuffled with its text).
- :func:`redact_pii` — regex PII redaction (emails/phones), pure
  codegen'd JVM expressions.
- :func:`pack_sequences` — concat-and-chunk sequence packing: assigns
  every document its token span in fixed-size context windows, one
  running-sum window per packing group.
- :func:`mixture_resample` — deterministic hash-based resampling to a
  target domain mixture (the curriculum/mixture pass).

Everything is JVM expressions (no Python in the hot path) and every
function has an exact DuckDB twin in ``workload/llm2.py`` — including
the float divisions, which both engines evaluate in the same IEEE
order, so results are value-hash identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from python_openetl_spark.functions.text import text_shingles, token_hash60, tokens
from python_openetl_spark.operators.sampling import SAMPLE_D, sample_bucket

#: PII patterns — valid in both Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def repetition_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_token_frac: float = 0.6,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """Per-document repetition quality signals + keep flag.

    ``dup_token_frac`` = fraction of token occurrences that are repeats
    of an earlier token; ``top_bigram_frac`` = share of all bigram slots
    taken by the single most common bigram (high values = boilerplate /
    degenerate repetition — the Gopher repetition filters, computed from
    word n-grams instead of its char n-grams).

    Plan: token stats are pure array expressions in the scan projection
    (no shuffle); the bigram mode needs one explode + two partial aggs
    keyed by (doc, bigram) then doc — both map-side combined.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        text_shingles(F.col(text_col), 2).alias("__bigrams"),
    )
    big = (
        base.select(id_col, F.explode("__bigrams").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    out = base.drop("__bigrams").join(big, id_col, "left")
    dup_frac = F.when(
        F.col("n_tokens") > 0,
        F.lit(1.0) - F.col("n_distinct_tokens") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
        F.col("top_bigram_n") / F.col("n_bigrams"),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        dup_frac.alias("dup_token_frac"),
        top_frac.alias("top_bigram_frac"),
        (
            (dup_frac <= F.lit(max_dup_token_frac))
            & (top_frac <= F.lit(max_top_bigram_frac))
        ).alias("keep"),
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination scan: for each corpus document, the
    fraction of its distinct word ``n``-grams that appear anywhere in
    the benchmark set; ``contaminated`` when ≥ ``threshold``.

    Plan shape for 100 TB: the benchmark's distinct shingle set is small
    (benchmarks are) and **broadcasts**; the corpus explodes its
    distinct shingles, probes the broadcast, and re-aggregates per doc —
    one corpus-side shuffle on (doc) with 16-ish-byte rows, the corpus
    text itself never moves.

    Documents shorter than ``n`` tokens have no shingles: they emit one
    row with ``n_shingles = 0, overlap_frac = 0.0, contaminated =
    false`` (nothing to overlap), via explode_outer — they are never
    silently dropped.
    """
    bench_sh = (
        benchmark.select(F.explode(text_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corp = corpus.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(text_shingles(F.col(text_col), n))).alias("sh"),
    )
    frac = F.when(
        F.col("n_shingles") > 0, F.col("n_overlap") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return (
        corp.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("sh").alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_overlap",
            frac.alias("overlap_frac"),
            (frac >= F.lit(threshold)).alias("contaminated"),
        )
    )


def exact_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_needle_chars: int = 20,
) -> DataFrame:
    """Exact-substring decontamination: flag corpus documents whose
    normalized text CONTAINS any benchmark document's normalized text
    verbatim — the strictest contamination tier (a benchmark item
    quoted wholesale inside a training document), complementing
    :func:`contamination_check`'s n-gram overlap.

    Benchmark needles shorter than ``min_needle_chars`` after
    normalization are dropped: tiny strings (and the empty string,
    which would match EVERYTHING) flag half the corpus with false
    positives; real benchmark items are sentences.

    Plan shape for 100 TB: benchmark sets are small, so the distinct
    normalized needles broadcast and each corpus document runs B
    substring tests in one codegen'd projection pass (broadcast
    nested-loop join — here that's the RIGHT plan: there is no
    equi-key, and the loop side is the broadcast one). The corpus text
    never shuffles; output rows are (id, count, flag).
    """
    from python_openetl_spark.functions.text import normalized_text

    needles = (
        benchmark.select(normalized_text(text_col).alias("__needle"))
        .filter(F.length("__needle") >= min_needle_chars)
        .distinct()
    )
    hay = corpus.select(F.col(id_col), normalized_text(text_col).alias("__hay"))
    hits = (
        hay.join(
            F.broadcast(needles),
            F.expr("instr(__hay, __needle) > 0"),
            "left",
        )
        .groupBy(id_col)
        .agg(F.count("__needle").alias("n_exact_hits"))
    )
    return hits.select(
        id_col,
        "n_exact_hits",
        (F.col("n_exact_hits") > 0).alias("contaminated"),
    )


def neardup_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Cross-corpus NEAR-duplicate decontamination: flag corpus
    documents that LSH-collide with any benchmark document — the tier
    between :func:`contamination_check` (n-gram overlap fraction) and
    :func:`exact_contamination` (verbatim quoting): it catches
    lightly-edited benchmark rewrites that share MinHash bands.

    Plan shape for 100 TB: both sides reduce to band keys (two packed
    longs per band per document — operators/dedup.minhash_band_keys);
    the benchmark's key set is tiny and broadcasts; the join output is
    distinct-counted per corpus doc. Corpus text never shuffles, and
    the corpus side is one scan.
    """
    from python_openetl_spark.operators.dedup import minhash_band_keys

    kw = dict(
        shingle_n=shingle_n, num_hashes=num_hashes, num_bands=num_bands
    )
    corp_keys = minhash_band_keys(corpus, text_col, id_col, **kw)
    bench_keys = (
        minhash_band_keys(benchmark, text_col, id_col, **kw)
        .select("band", "k1", "k2", F.col("doc").alias("__bench"))
    )
    hits = (
        corp_keys.join(F.broadcast(bench_keys), ["band", "k1", "k2"], "left")
        .groupBy("doc")
        .agg(F.count_distinct("__bench").alias("n_bench_neardups"))
    )
    # docs with no shingles emit no band keys; restore them as clean
    return (
        corpus.select(F.col(id_col))
        .join(hits.withColumnRenamed("doc", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bench_neardups", F.lit(0).cast("long")).alias(
                "n_bench_neardups"
            ),
            (F.coalesce("n_bench_neardups", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def redact_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    email_token: str = "[EMAIL]",
    phone_token: str = "[PHONE]",
) -> DataFrame:
    """Append ``{text_col}_redacted`` plus per-row match counts for the
    email/phone patterns. Pure scan-projection expressions — codegen'd,
    no shuffle, linear at any scale."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
            "n_phones": F.regexp_count(c, F.lit(PHONE_RE)),
            f"{text_col}_redacted": F.regexp_replace(
                F.regexp_replace(c, EMAIL_RE, email_token), PHONE_RE, phone_token
            ),
        }
    )


def pack_sequences(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ctx: int = 64,
    by: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    in ``id_col`` order (within each ``by`` group) and cut into
    ``ctx``-token context windows; returns each document's token span
    and the windows it lands in.

    This is the standard packing used to build LLM training batches
    (concatenate, then split at fixed boundaries). One running-sum
    window per group — at 100 TB you pack per shard/domain (``by``), so
    no global sort or single-partition window exists. Offsets are exact
    in double (corpus token counts ≪ 2^52).
    """
    n_tok = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(by) if by else Window.partitionBy()
    ).orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    sel = [F.col(id_col)] + ([F.col(by)] if by else [])
    out = docs.select(*sel, n_tok.alias("n_tokens")).withColumn("start_tok", start)
    return out.select(
        *sel,
        "n_tokens",
        "start_tok",
        F.floor(F.col("start_tok") / F.lit(float(ctx))).cast("long").alias("first_window"),
        # zero-token docs occupy a zero-width position at first_window
        # (greatest(n,1) keeps the inclusive span from inverting)
        F.floor(
            (F.col("start_tok") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
            / F.lit(float(ctx))
        )
        .cast("long")
        .alias("last_window"),
    )


def mixture_resample(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    target_fraction: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Resample to a target domain mixture: stratum ``s`` keeps
    ``min(1, weights[s] · target_fraction · N / count_s)`` of its rows,
    decided by the same deterministic content-hash bucket as
    ``hash_sample`` (membership is engine- and partitioning-stable).

    Strata absent from ``weights`` are dropped. Plan: one tiny count
    agg broadcasts back onto the corpus — the corpus itself is filtered
    in the scan projection, never shuffled.
    """
    wdf = docs.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in weights.items()], f"{strata_col} string, w double"
    )
    counts = (
        docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(docs.groupBy().agg(F.count(F.lit(1)).alias("total"))))
        .join(F.broadcast(wdf), strata_col)
        .select(
            strata_col,
            F.floor(
                F.lit(float(SAMPLE_D))
                * F.least(
                    F.lit(1.0),
                    F.col("w") * F.lit(float(target_fraction)) * F.col("total") / F.col("cnt"),
                )
            ).alias("accept_bp"),
        )
    )
    return (
        docs.join(F.broadcast(counts), strata_col)
        .filter(sample_bucket(F.col(id_col), salt) < F.col("accept_bp"))
        .drop("accept_bp")
    )


def temperature_mixture(
    docs: DataFrame,
    *,
    alpha: float = 0.5,
    strata_col: str = "source",
    id_col: str = "doc_id",
    target_fraction: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-weighted mixture resample: stratum weights are
    DERIVED from the corpus itself as ``count_s^alpha / Σ count^alpha``
    (the multilingual-LM "temperature sampling" rule — alpha < 1
    up-weights small sources, alpha = 1 is proportional, alpha = 0 is
    uniform), then applied exactly like :func:`mixture_resample`:
    stratum ``s`` keeps ``min(1, w_s · target_fraction · N / count_s)``
    of its rows by the deterministic content-hash bucket.

    Cross-engine exactness: for the default ``alpha = 0.5`` the weight
    uses ``SQRT`` (IEEE-correctly-rounded in every engine, unlike
    ``POWER`` which may differ by 1 ulp between libm builds), and the
    per-stratum sqrt is FLOOR-scaled to an exact decimal integer
    (``FLOOR(sqrt·1e12)`` — never ROUND, whose half-up-vs-binary tie
    behavior differs across engines) and summed as DECIMAL so the
    normalizing sum is order-independent; the 1e12 scale cancels in
    the weight ratio. The accept threshold is then bit-identical no
    matter how either engine partitions the count aggregate. Plan
    shape: one tiny count agg broadcasts onto the corpus; the corpus
    is filtered in the scan, never shuffled."""
    pw = F.sqrt(F.col("cnt")) if alpha == 0.5 else F.pow(F.col("cnt"), F.lit(alpha))
    counts = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("cnt"))
    weighted = counts.select(
        strata_col,
        "cnt",
        F.floor(pw * F.lit(1e12)).cast("decimal(28,0)").alias("pw"),
    )
    norm = weighted.groupBy().agg(
        F.sum("pw").alias("pw_sum"), F.sum("cnt").alias("total")
    )
    acc = weighted.crossJoin(F.broadcast(norm)).select(
        strata_col,
        F.floor(
            F.lit(float(SAMPLE_D))
            * F.least(
                F.lit(1.0),
                (F.col("pw").cast("double") / F.col("pw_sum").cast("double"))
                * F.lit(float(target_fraction))
                * F.col("total")
                / F.col("cnt"),
            )
        ).alias("accept_bp"),
    )
    return (
        docs.join(F.broadcast(acc), strata_col)
        .filter(sample_bucket(F.col(id_col), salt) < F.col("accept_bp"))
        .drop("accept_bp")
    )


def training_shuffle(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    num_shards: int = 32,
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle for training batches: every row gets
    a content-hash position — ``shard = hash(id) mod num_shards``, then
    rank within the shard by ``(hash, id)``.

    The resulting order is pseudo-random but fully reproducible under
    any partitioning, retry, or engine (the DuckDB oracle derives the
    identical md5 hash), unlike ``orderBy(rand())``. ``salt`` gives an
    independent permutation per epoch.

    Plan: no global sort — each shard sorts ~N/num_shards rows
    independently (one window per shard). At 100 TB pick num_shards ≈
    the number of output files so each shard sort fits an executor;
    readers then interleave shards round-robin.
    """
    h = token_hash60(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        docs.withColumn("h", h)
        .withColumn("shard", (F.col("h") % num_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w) - 1)
        .drop("h")
    )


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    contamination_threshold: float = 0.5,
    max_dup_token_frac: float = 0.6,
    max_top_bigram_frac: float = 0.2,
) -> DataFrame:
    """End-to-end corpus preparation: exact dedup (keep the smallest id
    per content) → repetition-quality gate → benchmark-contamination
    gate → PII redaction. The composite verb a training-data pipeline
    runs nightly, composed from the individual operators so each keeps
    its own scale shape (~4 key-hashed shuffles total; the document text
    crosses the wire only in the final projection).

    Returns one row per surviving document: ``(id, lang?, source?,
    n_tokens, overlap_frac, n_emails, n_phones, {text}_redacted)``.
    """
    from python_openetl_spark.operators.dedup import exact_dedup_keep

    # the deduped corpus feeds THREE downstream stages (quality gate,
    # contamination gate, PII redaction); materialize it once — exactly
    # what the nightly pipeline does by writing the deduped corpus out —
    # instead of re-running the dedup scan+hash+semi-join per stage.
    # Size-adaptive (operators/materialize): at fixture scale the three
    # recomputed scans are cheaper than the checkpoint barrier.
    from python_openetl_spark.operators.materialize import materialize

    kept = materialize(exact_dedup_keep(docs, text_col, id_col))
    quality = repetition_stats(
        kept,
        text_col=text_col,
        id_col=id_col,
        max_dup_token_frac=max_dup_token_frac,
        max_top_bigram_frac=max_top_bigram_frac,
    ).filter(F.col("keep"))
    contamination = contamination_check(
        kept, benchmark, text_col=text_col, id_col=id_col,
        n=shingle_n, threshold=contamination_threshold,
    ).filter(~F.col("contaminated"))
    redacted = redact_pii(kept, text_col=text_col)
    return (
        redacted.join(quality.select(id_col, "n_tokens"), id_col)
        .join(contamination.select(id_col, "overlap_frac"), id_col)
        .drop(text_col)
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 1000,
) -> DataFrame:
    """Top-``vocab_size`` corpus vocabulary with contiguous ids.

    ``(tok, tid)`` with tid 1..V assigned by (frequency desc, token) —
    deterministic across engines and partitionings. The id assignment
    is a window over the aggregated vocab (V rows, not the corpus), so
    the single-partition sort touches only the bounded vocabulary.
    """
    counts = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(vocab_size)
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    return counts.select("tok", F.row_number().over(w).cast("int").alias("tid"))


def vocab_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents to token-id sequences against a vocabulary
    (``build_vocab`` output; OOV tokens map to id 0).

    Returns ``(id_col, token_ids array<int>, n_tokens, n_oov)``. The
    per-position explode joins the broadcast vocab and reassembles the
    sequence with an array_sort over (pos, tid) structs — deterministic
    order without a per-document sort shuffle. The corpus text is
    tokenized once; the shuffle back to documents carries ints.
    """
    from python_openetl_spark.session import scan_parallelism

    ex = (
        df.repartition(scan_parallelism(df), F.col(id_col))
        .select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok"))
    )
    tagged = ex.join(F.broadcast(vocab), "tok", "left").select(
        id_col, "pos", F.coalesce(F.col("tid"), F.lit(0)).alias("tid")
    )
    enc = (
        tagged.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s.tid
            ).alias("token_ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tid") == 0, 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        df.select(id_col)
        .join(enc, id_col, "left")
        .select(
            id_col,
            F.coalesce("token_ids", F.array().cast("array<int>")).alias("token_ids"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
    )


def gopher_quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 10,
    max_words: int = 1000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public
    heuristics) as a named-reason gate — the document counterpart of
    quality.quarantine: per doc, which rules fail and whether it is
    kept.

    Rules (all engine-mirrorable closed forms, one scan, no UDF):

    - ``word_count``: token count in [min_words, max_words]; NULL/empty
      text counts 0 and fails here (not in the derived rules).
    - ``mean_word_len``: mean token length in
      [min_mean_word_len, max_mean_word_len], computed EXACTLY as
      ``(len(normalized_text) - (n-1)) / n`` — the normalized text is
      tokens joined by single spaces, so no per-token explode is
      needed.
    - ``symbol_ratio``: fraction of characters outside [A-Za-z0-9 ]
      at most ``max_symbol_ratio``.

    Derived rules are skipped (not failed) when the doc has no tokens —
    ``word_count`` already reports that. Output:
    ``(id, n_words, reasons, keep)`` with reasons comma-joined in rule
    order (deterministic).
    """
    from python_openetl_spark.functions.text import normalized_text, tokens

    txt = F.col(text_col)
    n = F.coalesce(F.size(tokens(text_col)), F.lit(0))
    norm_len = F.length(normalized_text(text_col))
    # try_divide, not /: under ANSI a zero denominator raises even when
    # the consuming predicate is gated (codegen hoists the division);
    # NULL ratios fall out of the gated comparisons as FALSE
    mean_len = F.try_divide(norm_len - (n - 1), n)
    stripped = F.regexp_replace(txt, "[^A-Za-z0-9 ]", "")
    sym_ratio = F.try_divide(F.length(txt) - F.length(stripped), F.length(txt))

    v_words = (n < min_words) | (n > max_words)
    v_mean = (n > 0) & (
        (mean_len < F.lit(float(min_mean_word_len)))
        | (mean_len > F.lit(float(max_mean_word_len)))
    )
    v_sym = (
        txt.isNotNull()
        & (F.length(txt) > 0)
        & (sym_ratio > F.lit(float(max_symbol_ratio)))
    )
    reasons = F.concat_ws(
        ",",
        F.when(v_words, F.lit("word_count")),
        F.when(v_mean, F.lit("mean_word_len")),
        F.when(v_sym, F.lit("symbol_ratio")),
    )
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.when(reasons == "", None).otherwise(reasons).alias("reasons"),
        (reasons == "").alias("keep"),
    )


def token_budget_selection(
    docs: DataFrame,
    budget: int,
    *,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy per-group corpus selection under a token budget: within
    each group, documents are ranked (token count DESC, id) and kept
    while the running token total stays within ``budget`` — the
    deterministic "fill each source's quota with its largest documents
    first" step of a training-mixture build (the knapsack relaxation
    every production pipeline actually ships). One partitioned window
    per group; no global sort, no collect.

    Returns the kept rows with ``n_tokens`` and the running
    ``cum_tokens`` (≤ budget by construction). A single document larger
    than the whole budget is excluded — the cumulative-sum-includes-
    current-row convention, identical in SQL."""
    from pyspark.sql import Window

    from python_openetl_spark.functions.text import token_count

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("n_tokens").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.withColumn("n_tokens", token_count(text_col).cast("long"))
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
    )


def epoch_mixture(
    docs: DataFrame,
    *,
    alpha: float = 0.5,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Epoch-style UP-sampling mixture — the other half of temperature
    sampling that :func:`temperature_mixture` cannot express: its
    accept-fraction is capped at 1, so a low-resource stratum can be
    kept whole but never repeated, while real pretraining recipes run
    small languages for MULTIPLE epochs (multiplier > 1) to hit the
    temperature-weighted target. Each stratum gets the real multiplier
    ``m_s = w_s · N / count_s`` (``w_s = count_s^alpha / Σ count^alpha``
    — total output size stays ≈ N, mass shifted toward small strata),
    realized deterministically: every row emits ``floor(m_s)`` full
    copies plus one extra copy iff its id-hash bucket falls under the
    fractional remainder — the same content-hash device as
    :func:`mixture_resample`, so the expansion is exact, reproducible
    under any partitioning, and engine-independent. Output carries
    ``copy_idx`` (0-based) so downstream shuffling/packing can treat
    copies as distinct examples.

    Cross-engine exactness: alpha = 0.5 uses SQRT + FLOOR-scaled
    decimal weights (the e08 rule); the per-stratum multiplier is
    materialized as integer basis points (``FLOOR(m_s · SAMPLE_D)``),
    so copy counts are integer arithmetic on both engines. Scale
    shape: one tiny count agg broadcasts onto the corpus; the 1→N
    expansion happens inside the scan (explode over a sequence), rows
    never shuffle.

    Rows with a NULL stratum are DROPPED (r9 advice): they are
    filtered before the count agg so they neither receive copies nor
    skew ``pw_sum``/``total`` — a mixture weight for "unknown source"
    is not meaningful; tag such rows upstream if they should
    participate. (``mixture_resample`` drops them the same way, via
    its weights join.)"""
    pw = F.sqrt(F.col("cnt")) if alpha == 0.5 else F.pow(F.col("cnt"), F.lit(alpha))
    docs = docs.filter(F.col(strata_col).isNotNull())
    counts = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("cnt"))
    weighted = counts.select(
        strata_col,
        "cnt",
        F.floor(pw * F.lit(1e12)).cast("decimal(28,0)").alias("pw"),
    )
    norm = weighted.groupBy().agg(
        F.sum("pw").alias("pw_sum"), F.sum("cnt").alias("total")
    )
    acc = weighted.crossJoin(F.broadcast(norm)).select(
        strata_col,
        F.floor(
            F.lit(float(SAMPLE_D))
            * (F.col("pw").cast("double") / F.col("pw_sum").cast("double"))
            * F.col("total").cast("double")
            / F.col("cnt").cast("double")
        ).cast("bigint").alias("mult_bp"),
    )
    n_full = F.expr(f"mult_bp DIV {SAMPLE_D}")
    extra = F.when(
        sample_bucket(F.col(id_col), salt) < F.pmod(F.col("mult_bp"), F.lit(SAMPLE_D)),
        F.lit(1),
    ).otherwise(F.lit(0))
    n_copies = (n_full + extra).cast("int")
    return (
        docs.join(F.broadcast(acc), strata_col)
        .withColumn("__n", n_copies)
        .filter(F.col("__n") >= 1)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(0), F.col("__n") - F.lit(1)))
        )
        .drop("mult_bp", "__n")
    )
