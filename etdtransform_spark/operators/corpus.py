"""Training-corpus preparation operators: document chunking, token-budget
packing, PII scrubbing, benchmark-contamination detection.

These are the operations a 100 TB pretraining-data pipeline runs after
dedup/quality filtering (operators/dedup.py, operators/text.py): split long
documents into model-window-sized chunks, pack short ones into budgeted
bins, redact PII spans, and flag documents that leak evaluation-benchmark
content. All pure Catalyst expressions (split/sequence/slice/regexp) — the
chunk explode is the only row-multiplying step and it is proportional to
output size; nothing touches Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    portable_hash64,
    positional_word_gram_hashes,
    positional_word_grams,
    word_shingle_hashes,
    word_shingles,
)
from ..sources.parquet import widen


def _toks(text_col: str) -> Column:
    return F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    Chunk c covers tokens [c*step, c*step + chunk_tokens) with
    ``step = chunk_tokens - overlap``; the last chunk is short rather than
    padded, and a document shorter than one chunk yields exactly one chunk
    (no silent drops). Chunk starts stay strictly below
    ``max(n_tokens - overlap, 1)`` so no chunk consists of overlap alone.

    Returns (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text); row
    count multiplies by ~n_tokens/step — the explode IS the output, there is
    no intermediate blowup.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = _toks(text_col)
    base = widen(df).select(F.col(id_col), toks.alias("_toks"))
    n = F.size("_toks")
    upper = F.greatest(n - F.lit(overlap), F.lit(1))
    # number of chunks: floor((upper-1)/step) + 1  (exact in doubles here)
    nc = F.floor((upper - F.lit(1)) / F.lit(step)).cast("long") + F.lit(1)
    exploded = base.select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), nc - F.lit(1))).alias("chunk_id"),
    )
    start = F.col("chunk_id") * F.lit(step)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("chunk_start"),
        F.least(F.lit(chunk_tokens), F.size("_toks") - start)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("_toks"), start + F.lit(1), F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_cols: Sequence[str] = ("source",),
) -> DataFrame:
    """Assign documents to token-budgeted bins: within each partition (e.g.
    source), documents are laid out in ``id_col`` order as one concatenated
    token stream cut every ``budget_tokens``; a document belongs to the bin
    where it STARTS (so a document may straddle its bin's end — the common
    sequence-packing semantics where the trainer crosses document
    boundaries).

    One window cumsum per partition — single shuffle, no iteration. Returns
    (part_cols..., id, n_tokens, bin_id, bin_offset).
    """
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = widen(df).select(
        *part_cols, F.col(id_col), F.size(_toks(text_col)).alias("n_tokens")
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        *part_cols,
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(cum_excl / F.lit(budget_tokens)).cast("bigint").alias("bin_id"),
        (cum_excl % F.lit(budget_tokens)).cast("bigint").alias("bin_offset"),
    )


# (pattern, replacement) in application order; RE2-portable (no lookaround,
# no backrefs) so the DuckDB oracle runs the identical expressions.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact URLs, emails, IPv4s and phone-like digit runs, in that order
    (URLs first so their path digits can't read as phones; each count is
    taken on the text as it stood when that pattern ran, so counts are
    well-defined under overlaps). Returns (id, n_url, n_email, n_ip,
    n_phone, text_scrubbed). Narrow map stage — no shuffle."""
    out = widen(df).select(F.col(id_col), F.col(text_col).alias("_t"))
    counts = []
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col("_t"), F.lit(pat), F.lit(0))).cast(
                "bigint"
            ),
        )
        out = out.withColumn("_t", F.regexp_replace(F.col("_t"), pat, repl))
        counts.append(f"n_{name}")
    return out.select(id_col, *counts, F.col("_t").alias("text_scrubbed"))


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with a benchmark
    set (eval-set leakage detection). Returns (id, n_shared) for
    contaminated documents only.

    Plan: distinct benchmark shingles (small side — a benchmark is thousands
    of docs, broadcastable at any corpus scale) hash-joined against the
    corpus shingle explode; group back to the document. Shingles are
    hashed to int64 INSIDE the shingle array (before the explode), the
    dedup.ngram_jaccard_pairs discipline: the join compares 8-byte longs,
    the broadcast table holds longs, and no ~n·5-word string ever
    materializes per corpus row — measured 9.3 → ~3 s executor CPU on the
    llm_pipeline_e2e decontamination stage at sf0.1. Collision odds are
    ~distinct-shingles²/2⁶⁴ (engine-internal; the oracle compares doc
    ids, never shingles).
    """
    # string-free shingle hashing (see word_shingle_hashes): the shingle
    # strings never materialize; each token hashes once and shingle keys
    # are xxhash64 over the n token hashes — same join/count semantics,
    # ~6x less per-shingle work than transform(word_shingles, xxhash64)
    hashed = lambda c: word_shingle_hashes(c, n)  # noqa: E731
    bench_sh = (
        widen(benchmark)
        .select(F.explode(hashed(text_col)).alias("sh"))
        .distinct()
    )
    corp_sh = widen(corpus).select(
        F.col(id_col), F.explode(hashed(text_col)).alias("sh")
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
    prefix_buckets: int | None = None,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve over the corpus in ``id_col``
    order: per document, its token and new-term counts plus the running
    vocabulary size and cumulative token count after ingesting it — the
    curve a tokenizer-training / corpus-sizing pass needs.

    Each distinct term attributes to its FIRST document (min-id aggregate
    over the exploded term stream — one shuffle on the term, dictionary-
    sized after combine); per-doc new-term counts then join the per-doc
    token totals and two running sums produce the curve. The running
    window is over #docs rows, never the token stream. Ties cannot occur
    (min is unique per term), so the curve is deterministic.

    CARDINALITY: the cumulative curve is intrinsically a global prefix —
    by default it runs as ONE unpartitioned window over #docs rows,
    fine to ~10⁷ docs. For larger corpora pass ``prefix_buckets`` (and a
    NUMERIC ``id_col``): the prefix is then computed with the exact
    two-pass range-bucketed offset pattern (stats._value_cumulatives) —
    per-bucket windows in parallel plus a broadcast ≤``prefix_buckets``-
    row offset table — identical values, no single-partition stage. The
    bucketed path is EAGER (one boundary-collection job at build time)
    and not streaming-safe, same trade as keyless ks_2samp.

    Returns (id, n_tokens, n_new_terms, cum_tokens, vocab_size,
    type_token_ratio).
    """
    from ..functions.scalars import qround

    toks = widen(df).select(F.col(id_col), F.explode(_toks(text_col)).alias("_term"))
    per_doc = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    news = (
        toks.groupBy("_term")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_new_terms"))
    )
    base = per_doc.join(news, id_col, "left").withColumn(
        "n_new_terms", F.coalesce(F.col("n_new_terms"), F.lit(0))
    )
    if prefix_buckets is None:
        w = Window.orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = base.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w)
        ).withColumn("vocab_size", F.sum("n_new_terms").over(w))
    else:
        if prefix_buckets < 2:
            raise ValueError(
                f"prefix_buckets must be >= 2, got {prefix_buckets}"
            )
        # REUSE the exactness-critical two-pass prefix machinery (literal
        # boundaries shared by both plan branches, empty-input fallback,
        # offset windows) instead of copying it — stats._value_cumulatives
        # is the single implementation ks_2samp/mann_whitney_u also ride.
        from .stats import _value_cumulatives

        staged = base.select(
            "*",
            F.col(id_col).cast("double").alias("_v"),
            F.col("n_tokens").alias("_ca"),
            F.col("n_new_terms").alias("_cb"),
        )
        cum = _value_cumulatives(staged, [], prefix_buckets)
        out = (
            cum.withColumn("cum_tokens", F.col("_cum_a"))
            .withColumn("vocab_size", F.col("_cum_b"))
            .drop("_v", "_ca", "_cb", "_cum_a", "_cum_b", "_na", "_nb")
        )
    return out.withColumn(
        "type_token_ratio",
        # a leading run of empty documents has cum_tokens = 0: NULL ratio
        # (undefined), not an ANSI DIVIDE_BY_ZERO abort
        qround(
            F.when(
                F.col("cum_tokens") > 0,
                F.col("vocab_size") / F.col("cum_tokens"),
            ),
            round_digits,
        ),
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Positional exact-substring duplication profile (the corpus-internal
    counterpart of :func:`contamination`, after Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): every word ``n``-gram
    *position* in every document, marked duplicated unless it is the
    canonical (first) occurrence of that n-gram in the corpus — canonical =
    lowest (doc_id, position).

    Per-span attribution needs positional (non-distinct) shingles, so this
    explodes every position, takes one ``min(struct(doc, pos))`` per
    shingle (hash agg, map-side combined), and joins ownership back on the
    shingle — shuffles carry (shingle, doc, pos), never document text.

    Returns (id, n_spans, n_dup_spans, dup_ratio) for every document with
    at least one full n-gram.
    """
    from ..functions.scalars import qround

    toks = _toks(text_col)
    # let-bound gram build (functions/hashing.py:positional_word_grams) —
    # the >= n filter keeps the helper's short-row guard unreachable, so
    # results are unchanged while tokenization runs once per row
    # The n-gram text matters only as an equality key (it never reaches the
    # output), so the shuffle carries a 64-bit hash instead of the string —
    # same grouping (collision odds ~distinct-shingles²/2⁶⁴, the
    # ngram_jaccard_pairs adjudication) — and the gram STRINGS never
    # materialize at all: positional_word_gram_hashes combines the per-token
    # xxhash64s in long arithmetic (r14; see word_shingle_hashes). Ownership
    # is a MIN window over that key, not a groupBy + join-back: the join
    # formulation re-ran the tokenize + posexplode from the scan for the
    # owner side (2 FileScans) and shuffled the exploded spans twice; one
    # window = one shuffle, one explode, identical marking.
    grams = positional_word_gram_hashes(toks, n)
    spans = (
        widen(df)
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), F.posexplode(grams).alias("_pos", "_sh"))
    )
    _own = F.min(
        F.struct(F.col(id_col).alias("_d"), F.col("_pos").alias("_p"))
    ).over(Window.partitionBy("_sh"))
    marked = spans.withColumn("_own", _own).withColumn(
        "_dup",
        (
            (F.col("_own._d") != F.col(id_col))
            | (F.col("_own._p") != F.col("_pos"))
        ).cast("int"),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("_dup").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_ratio",
            qround(F.col("n_dup_spans") / F.col("n_spans"), round_digits),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    empirical unigram LM — the classic cheap fluency/quality score (docs of
    rare-token soup score low, natural prose scores high). Two aggregates:
    corpus term frequencies (dictionary-sized), then a broadcast join back
    onto the token explode and a per-doc mean of ``ln(tf/total)``.

    The corpus total enters as a broadcast scalar subquery (cross join of a
    1-row aggregate) — never a driver-side ``collect``. At 100 TB the term
    frequency is a COUNT window keyed on the term (the dictionary never
    materializes and the token explode runs ONCE — the groupBy +
    broadcast-join formulation re-exploded the corpus for the probe side);
    the scalar total comes from a map-side size() aggregate that never
    explodes at all.
    """
    from ..functions.scalars import qround

    toks = df.select(F.col(id_col), F.explode(_toks(text_col)).alias("term"))
    total = df.select(F.sum(F.size(_toks(text_col))).alias("total"))
    tf = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = (
        toks.select(F.col(id_col), tf.alias("tf"))
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            qround(
                F.avg(F.log(F.col("tf").cast("double") / F.col("total"))),
                digits,
            ).alias("avg_logprob"),
        )
    )
    return scored


def repetition_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    digits: int = 6,
) -> DataFrame:
    """Duplicate word-``n``-gram fraction per document
    (``1 - distinct/total`` over positional n-grams) — the Gopher/MassiveText
    repetition quality gate: boilerplate and looping generations repeat
    n-grams, natural prose doesn't. Pure per-row array math (sequence/
    transform/size) — a projection, no shuffle at all; the engine never
    explodes the n-grams because only their counts matter.
    """
    from ..functions.scalars import qround

    # Stage tokens and grams behind projection boundaries: expression trees
    # are inlined per textual reference, so composing `toks`/`grams` inline
    # would re-split and re-build them several times per row (measured ~2x
    # on the bench corpus).
    toks = F.col("_t")
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    total = F.size(F.col("_g"))
    distinct = F.size(F.array_distinct(F.col("_g")))
    return (
        df.select(F.col(id_col), _toks(text_col).alias("_t"))
        .select(F.col(id_col), grams.alias("_g"))
        .select(
            F.col(id_col),
            total.alias("n_grams"),
            qround(
                (total - distinct).cast("double") / total.cast("double"),
                digits,
            ).alias("dup_gram_frac"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word ``n``-grams that appear in fewer than ``min_df`` documents
    corpus-wide. Low novelty marks templated/boilerplate-heavy documents
    whose content is mostly shared with the rest of the corpus — the
    corpus-level complement of :func:`repetition_ratio` (which is
    within-document) and the soft-scoring sibling of exact/MinHash dedup:
    instead of dropping near-duplicates it scores HOW derivative every
    document is, which is what a mixture-weighting stage consumes.

    Shape: per-doc distinct-shingle explode → document frequency as a
    COUNT window partitioned by the shingle hash → per-doc aggregate. One
    pass over the explode (a join-back formulation would rebuild the
    shingle arrays twice — measured ~2x on the bench corpus) and both
    shuffles key on the shingle hash / doc id; a boilerplate shingle
    shared by k documents contributes k rows to a windowed COUNT (never a
    pair join), so there is no quadratic term anywhere — this survives hot
    shingles that would blow up any candidate-pair approach. Returns
    (doc_id, n_shingles, n_shared, novelty) with novelty rounded to
    ``digits`` for cross-engine hash parity.
    """
    from ..functions.hashing import word_shingles
    from ..functions.scalars import qround

    sh = df.select(
        F.col(id_col),
        F.explode(
            F.transform(word_shingles(text_col, n), lambda s: F.xxhash64(s))
        ).alias("h"),
    )
    # word_shingles is already distinct per document, so count(*) per hash
    # IS the document frequency.
    shared = (
        F.count(F.lit(1)).over(Window.partitionBy("h")) >= F.lit(min_df)
    ).alias("_shared")
    return (
        sh.select(F.col(id_col), shared)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("_shared"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_shared"),
            qround(
                F.lit(1.0)
                - F.sum(
                    F.when(F.col("_shared"), F.lit(1.0)).otherwise(F.lit(0.0))
                )
                / F.count(F.lit(1)).cast("double"),
                digits,
            ).alias("novelty"),
        )
    )


def per_source_cap(
    df: DataFrame,
    max_docs: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    fast: bool = False,
) -> DataFrame:
    """Cap each source at ``max_docs`` documents, selected by a deterministic
    per-document hash rank — the crawl-curation guard that stops a dominant
    domain/source from swamping the mixture. Hash-rank selection (not "first
    N encountered") makes the kept subset reproducible, order-independent,
    and an unbiased sample of the source; ``fast=True`` switches the md5
    portable hash to xxhash64 for production.

    Scale: the rank filter compiles to Spark's WindowGroupLimit with a
    PARTIAL pass (plan-asserted in tests), so every map task prunes its own
    partition down to ``max_docs`` rows per source BEFORE the shuffle — a
    billion-document hot source moves only ``tasks × max_docs`` rows, not
    its full volume, and the final per-source pass sees a bounded stream.
    Returns the surviving rows with their ``sample_rank`` (1-based).
    """
    h = portable_hash64(F.col(id_col).cast("string"), seed="cap", fast=fast)
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        widen(df)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= F.lit(max_docs))
    )


def dsir_importance_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: int | str = "dsir",
    digits: int = 6,
    top_n: int | None = None,
    ngram: int = 1,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023): score every document by how target-domain-like its hashed
    n-gram feature counts are, then select the highest-weight documents.
    The standard recipe for skimming a web-scale crawl down to the slice
    that matches a small high-quality target sample.

    ``target`` is a boolean Column marking the target-domain sample inside
    ``df``. Features are word ``ngram``s (1 = unigrams; 2 = the paper's
    hashed-bigram generative model) hashed into ``n_buckets``; target
    distribution p and raw distribution q are Laplace-smoothed bucket
    frequencies, and the per-document log importance weight is
    Σ_features (ln p_b − ln q_b).

    100 TB shape: the two bucket dictionaries are ``n_buckets``-row
    aggregates (broadcast); scoring is one token explode + broadcast join
    + per-doc sum — two passes over the corpus, no shuffle wider than the
    doc key, dictionary never driver-side. Zero-token / NULL-text
    documents have no features and drop from the output (the declared
    no-content semantics shared with the shingle operators). Returns
    (id, n_tokens, logw) plus (rank, selected) when ``top_n`` is set —
    rank on the ROUNDED weight with id tie-break, so selection is
    deterministic cross-engine.

    ``exact=True`` ranks every document with one global row_number window
    (single-partition sort of all per-doc scores — oracle parity, test
    scale). ``exact=False`` is the 100 TB selection path: an
    ``approx_percentile`` threshold (with a 2× candidate-margin against
    sketch error) keeps only the boundary slice, which alone is ranked
    exactly — the global sort shrinks from |corpus| to ~2·top_n rows.
    Non-candidates get ``rank = NULL, selected = false`` (their exact
    global rank is unknowable without the full sort, and irrelevant —
    they are not selected). If the sketch margin ever under-covers
    (candidates < top_n, possible only under extreme weight ties), the
    call falls back to the exact path. The doc-key-sized score table is
    localCheckpoint-ed across the threshold/candidate passes so the
    corpus-wide scoring pipeline runs once; checkpoint storage is released
    by the ContextCleaner once the caller drops the result (a persist()
    entry would outlive the call)."""
    from ..functions.scalars import qround

    if ngram < 1:
        raise ValueError("ngram must be >= 1")
    if ngram == 1:
        feats = _toks(text_col)
    else:
        # n-grams built in-row from the token array; a document with fewer
        # than `ngram` tokens has NO features. Guarded explicitly:
        # sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty.
        feats = F.transform(
            F.array(_toks(text_col)),
            lambda ts: F.when(
                F.size(ts) >= ngram,
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - (ngram - 1)),
                    lambda i: F.array_join(F.slice(ts, i, ngram), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )[0]
    bucket = portable_hash64(F.col("term"), seed=seed) % n_buckets
    toks = (
        widen(df)
        .select(F.col(id_col), target.alias("_is_t"), F.explode(feats).alias("term"))
        .select(F.col(id_col), F.col("_is_t"), bucket.alias("b"))
    )
    # Collapse the token stream to the per-document bucket HISTOGRAM once
    # and checkpoint it: the bucket distributions, the totals, and the
    # per-document scoring all derive from (doc, is_target, bucket, count)
    # — without the cut, each consumer re-ran the explode + portable-md5
    # pass from the scan (measured 3 FileScans / ~3x the md5 cost of one
    # pass at sf0.1; Catalyst's ReuseExchange does not unify the
    # subtrees). The histogram is bounded by docs x n_buckets x 2 rows —
    # the same metadata-not-payload checkpoint scale as the per-round
    # labels of dedup.connected_components, and as there, storage is
    # released by the ContextCleaner once nothing references the frame.
    g = (
        toks.groupBy(id_col, "_is_t", "b")
        .agg(F.count(F.lit(1)).alias("_k"))
        .localCheckpoint(eager=False)
    )
    dists = g.groupBy("b").agg(
        F.sum("_k").alias("cq"),
        F.sum(F.when(F.col("_is_t"), F.col("_k")).otherwise(0)).alias("cp"),
    )
    # totals as an unpartitioned window over the n_buckets-row dists frame
    # (NOT a second aggregate + broadcast cross join): the single-partition
    # window is over <= n_buckets rows, and it removes one stage wave and
    # one broadcast from the critical path.
    from pyspark.sql import Window as _W

    _wall = _W.partitionBy()
    ratio = dists.select(
        "b",
        (
            F.log(
                (F.col("cp") + 1).cast("double")
                / (F.sum("cp").over(_wall) + n_buckets).cast("double")
            )
            - F.log(
                (F.col("cq") + 1).cast("double")
                / (F.sum("cq").over(_wall) + n_buckets).cast("double")
            )
        ).alias("lr"),
    )
    scored = (
        g.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.sum("_k").alias("n_tokens"),
            qround(F.sum(F.col("_k") * F.col("lr")), digits).alias("logw"),
        )
    )
    if top_n is None:
        return scored
    from pyspark.sql import Window

    w = Window.orderBy(F.col("logw").desc(), F.col(id_col).asc())
    if not exact:
        # localCheckpoint, not persist(): the threshold/candidate/rest
        # passes read one materialization either way, but checkpoint
        # storage is released by the ContextCleaner as soon as the caller
        # drops the returned frame — a persist() entry lives in the
        # CacheManager for the session (the old code only unpersisted on
        # the exception path, leaking executor cache per call).
        # NON-RECOVERABLE trade-off (same as dedup.connected_components):
        # localCheckpoint truncates lineage, so losing an executor that
        # held checkpoint blocks fails the job instead of recomputing.
        # On a 100 TB selection run where executor churn is expected,
        # prefer reliable checkpoint() (spark.sparkContext.setCheckpointDir
        # to durable storage) — same release semantics, HA blocks.
        scored = scored.localCheckpoint(eager=True)
        n_docs = scored.count()
        if n_docs > top_n:
            frac = min(1.0, 2.0 * top_n / n_docs)
            thr_row = scored.agg(
                F.percentile_approx(
                    "logw", F.lit(1.0 - frac), F.lit(accuracy)
                ).alias("_thr")
            )
            wc = scored.crossJoin(F.broadcast(thr_row))
            cand = wc.filter(F.col("logw") >= F.col("_thr"))
            if cand.count() >= top_n:
                ranked = (
                    cand.withColumn("rank", F.row_number().over(w))
                    .withColumn("selected", F.col("rank") <= top_n)
                    .drop("_thr")
                )
                rest = (
                    wc.filter(F.col("logw") < F.col("_thr"))
                    .withColumn("rank", F.lit(None).cast("int"))
                    .withColumn("selected", F.lit(False))
                    .drop("_thr")
                )
                return ranked.unionByName(rest)
        # corpus no bigger than top_n, or sketch under-covered:
        # the exact window below is small/unavoidable respectively
    return scored.withColumn("rank", F.row_number().over(w)).withColumn(
        "selected", F.col("rank") <= top_n
    )


def leakage_safe_split(
    df: DataFrame,
    ratios: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    id_col: str = "doc_id",
    group_col: str | None = None,
    seed: str = "split",
    fast: bool = False,
) -> DataFrame:
    """Deterministic train/val/test assignment that cannot leak duplicates
    across splits: every document is assigned by the portable hash of its
    GROUP representative (``group_col`` — e.g. a dedup cluster id; its own
    id when null/absent), so all members of a duplicate group land in the
    same split by construction. The eval-set hygiene step every pretraining
    pipeline needs after dedup: splitting by raw doc hash puts near-copies
    of one document on both sides of the train/test fence.

    Hash-range bucketing (not modulo-of-count): ranges come from cumulative
    ``ratios`` over the hash domain, so the split is stable under corpus
    growth — adding documents never reassigns existing ones. Pure
    projection over the (doc, group) frame; one broadcast-joinable group
    table when ``group_col`` is provided upstream.
    """
    from ..functions.hashing import portable_hash64

    if abs(sum(ratios) - 1.0) > 1e-9:
        raise ValueError(f"ratios must sum to 1, got {ratios}")
    if len(names) != len(ratios):
        raise ValueError(
            f"names/ratios length mismatch: {len(names)} names for "
            f"{len(ratios)} ratios (zip truncation would silently mislabel "
            f"splits)"
        )
    rep = (
        F.coalesce(F.col(group_col), F.col(id_col))
        if group_col
        else F.col(id_col)
    )
    m = 1 << 20
    u = (portable_hash64(rep.cast("string"), seed=seed, fast=fast) % m) / F.lit(
        float(m)
    )
    edges = []
    acc = 0.0
    for r in ratios[:-1]:
        acc += r
        edges.append(acc)
    expr = F.lit(names[-1])
    for name, edge in zip(reversed(names[:-1]), reversed(edges)):
        expr = F.when(u < edge, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def rebalance_mixture(
    df: DataFrame,
    group_col: str,
    id_col: str,
    targets: dict[str, float],
    seed: str = "mix",
    fast: bool = False,
) -> DataFrame:
    """Downsample a corpus to a target group mixture (the pretraining
    "data mixing" step: given target proportions per source/language/
    domain, keep the largest corpus whose composition matches them).

    Feasibility is exact, not heuristic: with group sizes ``n_g`` and
    target weights ``w_g``, the largest achievable total is
    ``T = min_g n_g / w_g`` (the binding group is kept whole, rate 1.0);
    every other group is thinned to ``rate_g = w_g * T / n_g``. Acceptance
    is decided by a deterministic hash-uniform on the document id — no
    RNG, so the kept set is identical across engines, reruns, and task
    retries, and is STABLE under re-partitioning (a ``rand()`` filter
    would sample a different corpus every run).

    Plan shape: one count aggregate over the fact (group cardinality is
    tiny), a 1-row min reduction, then a broadcast join of per-group rates
    back onto the fact — the fact itself is scanned twice (count + filter)
    but never shuffled. Groups absent from ``targets`` are dropped.
    Returns the kept rows with ``accept_rate`` attached.
    """
    from ..functions.hashing import portable_hash64
    from ..functions.scalars import qround

    total_w = sum(targets.values())
    if abs(total_w - 1.0) > 1e-9:
        raise ValueError(f"target weights must sum to 1, got {total_w}")
    if any(w <= 0 for w in targets.values()):
        raise ValueError("target weights must be strictly positive")

    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(g, float(w)) for g, w in sorted(targets.items())],
        f"{group_col} string, w double",
    )
    counts = (
        df.join(F.broadcast(tgt), group_col)
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    feasible = counts.agg(F.min(F.col("n") / F.col("w")).alias("t_max"))
    rates = counts.join(F.broadcast(feasible)).select(
        group_col,
        qround(
            F.least(F.col("w") * F.col("t_max") / F.col("n"), F.lit(1.0)), 9
        ).alias("accept_rate"),
    )
    m = 1 << 20
    u = (
        portable_hash64(
            F.col(id_col).cast("string"), seed=seed, fast=fast
        )
        % m
        + F.lit(0.5)
    ) / F.lit(float(m))
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("accept_rate"))
    )


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The surgery step completing :func:`duplicate_spans` (Lee et al.
    exact-substring dedup): rebuild each document with every NON-canonical
    word n-gram occurrence removed — a token is dropped when any duplicated
    n-gram span covers it; the corpus-wide first occurrence (lowest
    (doc, position)) keeps its text. Whitespace is normalized to single
    spaces by reconstruction.

    Same distributed skeleton as the profile: positional explode →
    min(struct) ownership agg → join-back; then the per-doc duplicated
    span-start list (collect_list — list length is the doc's own dup count)
    returns to the document row ONCE, and the token filter runs in-row with
    higher-order functions (no second explode, no Python). The in-row cost
    is O(tokens · dup_spans) per doc — fine for real documents; a
    pathological fully-duplicated giant doc is exactly what the upstream
    Gopher/repetition gates remove first.

    Returns (id, clean_text, n_tokens, n_removed).
    """
    toks = _toks(text_col)
    base = widen(df).select(F.col(id_col), F.col(text_col))
    grams = positional_word_gram_hashes(toks, n)
    spans = (
        base.filter(F.size(toks) >= n)
        .select(F.col(id_col), F.posexplode(grams).alias("_pos0", "_sh"))
        # 1-based span start so "span p covers tokens p..p+n-1"; the gram
        # text is only an equality key (never output) — it is a string-free
        # 64-bit hash (positional_word_gram_hashes, r14), and ownership is
        # a MIN window instead of the groupBy + join-back that re-ran the
        # explode from the scan (duplicate_spans rationale, same collision
        # adjudication)
        .select(
            F.col(id_col),
            (F.col("_pos0") + 1).alias("_pos"),
            F.col("_sh"),
        )
    )
    _own = F.min(
        F.struct(F.col(id_col).alias("_d"), F.col("_pos").alias("_p"))
    ).over(Window.partitionBy("_sh"))
    dups = (
        spans.withColumn("_own", _own)
        .filter(
            (F.col("_own._d") != F.col(id_col))
            | (F.col("_own._p") != F.col("_pos"))
        )
        .groupBy(id_col)
        .agg(F.collect_list("_pos").alias("_dups"))
    )
    joined = base.join(dups, id_col, "left")
    tk = _toks(text_col)
    dp = F.coalesce(F.col("_dups"), F.array().cast("array<int>"))
    kept = F.filter(
        tk,
        lambda x, i: ~F.exists(
            dp, lambda p: (p <= i + 1) & (p + F.lit(n - 1) >= i + 1)
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(tk).alias("n_tokens"),
        (F.size(tk) - F.size(kept)).alias("n_removed"),
    )


# BPE symbol-sequence framing: one string with EVERY symbol wrapped in
# chr(31) separators ("\x1fh\x1f\x1fe\x1f..."), the same representation the
# DuckDB oracle uses (__spark_entry__._sql_bpe). Applying one merge (l, r)
# is then ONE left-to-right non-overlapping literal `replace` of
# "\x1fl\x1f\x1fr\x1f" with "\x1flr\x1f" — exactly the greedy carry-fold
# semantics (verified: [a,a,a] -> [aa,a]; [a,a,b,a,b] -> [a,ab,ab]), at
# O(len) per merge. The previous array-struct fold rebuilt the accumulator
# array per element (O(len²) Catalyst eval per word PER MERGE) and was the
# single biggest CPU line in the registry (98.8 s executor CPU, 14 % of
# BENCH_DETAIL r11).
#
# LIMITATION (shared with the oracle, so the two engines always agree): a
# token CONTAINING chr(31) — possible, since \\x1f is not regex whitespace
# and survives the \\s+ split — corrupts its own framing and that word's
# merge/count behavior. Real corpora don't emit the C0 separator char in
# running text; pipelines that might should strip it upstream.
_BPE_SEP = "\x1f"


def _bpe_wrap(sym_arr: Column) -> Column:
    """symbol array → the chr(31)-framed string."""
    return F.concat(
        F.lit(_BPE_SEP),
        F.array_join(sym_arr, _BPE_SEP * 2),
        F.lit(_BPE_SEP),
    )


def _bpe_unwrap(s: Column) -> Column:
    """framed string → symbol array."""
    return F.split(F.btrim(s, F.lit(_BPE_SEP)), _BPE_SEP * 2)


def _bpe_replace_str(s: Column, left: str, right: str) -> Column:
    """ONE merge applied to a framed string: literal left-to-right
    non-overlapping replace (JVM String.replace, no regex)."""
    return F.replace(
        s,
        F.lit(f"{_BPE_SEP}{left}{_BPE_SEP}{_BPE_SEP}{right}{_BPE_SEP}"),
        F.lit(f"{_BPE_SEP}{left}{right}{_BPE_SEP}"),
    )


def _bpe_n_syms(s: Column) -> Column:
    """symbol count of a framed string: every wrapped symbol carries
    exactly two separator chars."""
    return (
        (F.length(s) - F.length(F.replace(s, F.lit(_BPE_SEP), F.lit(""))))
        / F.lit(2)
    ).cast("bigint")


def _bpe_apply_merge(sym_col: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping application of ONE merge (left, right)
    → left+right over a symbol array: frame → literal replace → unframe."""
    return F.when(F.size(sym_col) == 0, sym_col).otherwise(
        _bpe_unwrap(_bpe_replace_str(_bpe_wrap(sym_col), left, right))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Byte-pair-encoding merge induction (Sennrich et al. 2016) over the
    corpus: learn ``n_merges`` merge rules by repeatedly fusing the most
    frequent adjacent symbol pair (count-desc, then lexicographic — fully
    deterministic). Words carry an end-of-word marker ``</w>`` so merges
    cannot cross word boundaries.

    The scale property that makes this distributed-friendly: after ONE
    corpus-sized aggregate (word → frequency), training runs entirely on
    the WORD DICTIONARY (Heaps-law-bounded), kept as a cached DataFrame of
    chr(31)-framed symbol strings (see _bpe_wrap). Each iteration is a
    pair-explode + weighted count + 1-row argmax collect (model sync = one
    merge rule), then ONE literal string replace applying the merge.
    Returns [(left, right, freq)] in merge order — the tokenizer model."""
    words = (
        widen(df)
        .select(F.explode(_toks(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = words.select(
        "cnt",
        _bpe_wrap(
            F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>")))
        ).alias("s"),
    ).persist()
    merges: list[tuple[str, str, int]] = []
    cur = syms
    for _ in range(n_merges):
        # unframe ONCE per iteration for the pair explode (projection
        # boundary so the split isn't re-evaluated per reference)
        arr = cur.select("cnt", _bpe_unwrap(F.col("s")).alias("a"))
        pairs = arr.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("a"), 1, F.size("a") - 1),
                    F.slice(F.col("a"), 2, F.size("a") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("p.l"), F.col("p.r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["freq"] < 2:
            break
        left, right, freq = top[0]["p"]["l"], top[0]["p"]["r"], top[0]["freq"]
        merges.append((left, right, int(freq)))
        cur = cur.select(
            "cnt", _bpe_replace_str(F.col("s"), left, right).alias("s")
        ).localCheckpoint(eager=False)
    syms.unpersist()
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a trained BPE model: split to words, explode, apply
    the merge list in order (each ONE literal string replace over the
    chr(31)-framed symbol string — the model is literals in codegen,
    never joined), and count resulting subword tokens per doc via
    separator arithmetic (no array is ever materialized). Expression
    depth grows with the merge count — past a few hundred merges, chunk
    the application behind localCheckpoint projections (same replace)."""
    words = widen(df).select(
        F.col(id_col),
        F.explode(_toks(text_col)).alias("w"),
    )
    col = _bpe_wrap(
        F.concat(F.split(F.col("w"), ""), F.array(F.lit("</w>")))
    )
    for left, right, _f in merges:
        col = _bpe_replace_str(col, left, right)
    return (
        words.withColumn("_s", col)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(_bpe_n_syms(F.col("_s"))).alias("n_bpe_tokens"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Per-document mean CONDITIONAL bigram log-probability under the
    corpus's own add-one-smoothed bigram LM: mean over positions i ≥ 2 of
    ln((c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V)) — the next-step-up fluency
    score from :func:`unigram_logprob` (word-salad scores low even when
    every word is common, because the TRANSITIONS are rare). Documents
    with fewer than two tokens are excluded (no bigram support).

    Bigrams are built in-row (zip_with over the shifted token array — a
    narrow map, no self-join); the bigram dictionary and unigram-context
    counts are two aggregates broadcast back; V (vocabulary size) rides as
    a broadcast scalar. Zipf keeps both dictionaries broadcastable at
    corpus scale; the explode dominates and never shuffles text."""
    from ..functions.scalars import qround

    # stage the token array behind a projection boundary: the shifted-zip
    # bigram build references it five times (two slices, three sizes), and
    # inlined each reference would re-split the text
    staged = widen(df).select(F.col(id_col), _toks(text_col).alias("_t"))
    toks = F.col("_t")
    bi = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        staged.filter(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(bi).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        staged.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    lp = F.log(
        (F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v"))
    )
    return (
        pairs.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            qround(F.avg(lp), digits).alias("avg_bigram_logprob"),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Cross-document boilerplate LINE removal — the C4/RefinedWeb
    cleaning step :func:`duplicate_spans` measures but doesn't apply:
    a line (trimmed for matching, kept verbatim for output) occurring in
    at least ``max(min_docs, ceil(min_doc_frac · n_docs))`` DISTINCT
    documents is template furniture (navigation, cookie banners, license
    headers) and is dropped from every document; blank lines are
    structure, not content — never counted, always kept. Returns

        (``id_col``, text_clean, n_lines, n_removed, removed_ratio)

    one row per input document with non-NULL text (docs whose every line
    is boilerplate come back with empty text_clean, not dropped — the
    caller decides whether an emptied doc survives, e.g. via
    ``quality_features``).

    Scale shape: the honest cost of rewriting text is two data-sized
    shuffles — the line-frequency aggregate (distinct (line, doc) then
    one count per line, both map-side combined; shuffles carry hashed
    lines, never documents) and the reassembly groupBy(doc). The
    boilerplate decision joins on the line key; n_docs rides a broadcast
    1-row frame (lazy — the :func:`~.evaluation.label_noise_estimate`
    pattern). Reassembly keeps line order via sort-by-position inside
    the collected array, not a window re-sort.
    """
    # the trimmed line matters only as an equality key (it never reaches
    # the output), so every shuffle/join below carries its xxhash64
    # instead of the string — 8-byte keys, same grouping (collision odds
    # ~distinct-lines²/2⁶⁴, the ngram_jaccard_pairs adjudication)
    base = df.filter(F.col(text_col).isNotNull())
    # per-document DISTINCT line hashes built IN-ROW (array_distinct over
    # the trimmed nonblank lines): the previous explode → DISTINCT(_id,_lh)
    # shuffled every line occurrence before deduplicating; this ships one
    # row per distinct (doc, line) with the dedup done as a narrow map, and
    # the document-frequency groupBy is map-side combined. ndocs likewise
    # drops to a narrow existence test (a doc counts iff it has >= 1
    # nonblank line — identical to the old count_distinct over exploded
    # nonblank lines).
    _nb_hashes = F.array_distinct(
        F.transform(
            F.filter(
                F.transform(
                    F.split(F.col(text_col), "\n"), lambda l: F.trim(l)
                ),
                lambda t: t != F.lit(""),
            ),
            lambda t: F.xxhash64(t),
        )
    )
    ndocs = base.agg(
        F.sum(
            F.when(F.size(_nb_hashes) > 0, 1).otherwise(0)
        ).cast("double").alias("_nd")
    )
    freq = (
        base.select(F.explode(_nb_hashes).alias("_lh"))
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
        .crossJoin(F.broadcast(ndocs))
        .filter(
            F.col("_df")
            >= F.greatest(
                F.lit(int(min_docs)),
                F.ceil(F.lit(float(min_doc_frac)) * F.col("_nd")),
            )
        )
        .select(F.col("_lh").alias("_bh"))
    )
    # blank lines hash too, but freq only ever contains non-blank hashes,
    # so they can never be marked — same semantics as the string join.
    # freq is BROADCAST-SIZED BY CONSTRUCTION: a surviving line occurs in
    # >= min_doc_frac of documents, so |freq| <= avg distinct lines per
    # doc / min_doc_frac — a per-document bound independent of corpus
    # size. The rewrite itself is therefore IN-ROW: the boilerplate hash
    # set rides a broadcast 1-row array and each document filters its own
    # line array against it — no line explode, no per-line join, and no
    # data-sized collect_list + sort reassembly shuffle (the r13 form
    # exploded every line, broadcast-joined, and re-grouped per doc:
    # two data-sized passes the per-doc filter makes unnecessary; line
    # order is preserved for free). Same doubles, counts, and text:
    # array_contains(xxhash64(trim(line))) is the identical membership
    # test the join key computed.
    bset = freq.agg(F.collect_list("_bh").alias("_bs"))
    split_lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        split_lines,
        lambda l: ~F.array_contains(F.col("_bs"), F.xxhash64(F.trim(l))),
    )
    from ..functions.scalars import qround

    return (
        base.crossJoin(F.broadcast(bset))
        .select(
            F.col(id_col),
            F.concat_ws("\n", kept).alias("text_clean"),
            F.size(split_lines).cast("bigint").alias("n_lines"),
            (F.size(split_lines) - F.size(kept))
            .cast("bigint")
            .alias("n_removed"),
        )
        .withColumn(
            "removed_ratio",
            qround(
                F.col("n_removed").cast("double")
                / F.col("n_lines").cast("double"),
                digits,
            ),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
    digits: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency spectrum: OLS of
    ln(freq) on ln(rank) across the ``top_n`` most frequent terms —
    the companion corpus-health number to :func:`vocab_growth`'s Heaps
    curve (natural corpora fit slope ≈ −1 with r² near 1; template
    spam, boilerplate floods, or synthetic fill bend the spectrum and
    show up here before any per-document gate fires).

    Shape: ONE data-sized tokenize + (term) count aggregate; the rank
    table is top-n via TakeOrdered (freq desc, term asc — deterministic
    ties, no global sort); the regression is one aggregate over ≤ top_n
    rows. Returns ONE row: (n_terms, slope, intercept, r_squared) —
    n_terms = min(top_n, vocabulary); fits over < 3 distinct
    frequencies still return the OLS numbers (r² NULL when the ln-freq
    variance is 0: a flat spectrum has no Zipf slope to trust).
    """
    from ..functions.scalars import qround

    # widen(): a small single-file scan is one partition and the regex
    # tokenize would run single-threaded (same pattern as vocab_growth)
    toks = widen(df).select(F.explode(_toks(text_col)).alias("term"))
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    top = freqs.orderBy(
        F.col("freq").desc(), F.col("term").asc()
    ).limit(top_n)
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    pts = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("_lx"),
        F.log(F.col("freq").cast("double")).alias("_ly"),
    )
    g = pts.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
        F.sum(F.col("_ly") * F.col("_ly")).alias("_syy"),
    )
    n = F.col("n_terms").cast("double")
    sxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    slope = F.when((F.col("n_terms") > 1) & (sxx > 0), sxy / sxx)
    intercept = F.when(
        slope.isNotNull(), (F.col("_sy") - slope * F.col("_sx")) / n
    )
    r2 = F.when(
        slope.isNotNull() & (syy > 0), sxy * sxy / (sxx * syy)
    )
    return g.select(
        "n_terms",
        qround(slope, digits).alias("slope"),
        qround(intercept, digits).alias("intercept"),
        qround(r2, digits).alias("r_squared"),
    )


def vocabulary_richness(
    df: DataFrame,
    text_col: str = "text",
    digits: int = 6,
) -> DataFrame:
    """Unseen-vocabulary estimators from the term-frequency histogram —
    the numbers a tokenizer-sizing or corpus-coverage decision needs
    BEYOND the observed counts (:func:`vocab_growth` plots what was
    seen; this estimates what wasn't):

        Chao1        D̂ = D + f₁² / (2·f₂)      (bias-corrected form
                     D + f₁(f₁−1)/(2(f₂+1)) when f₂ = 0)
        Good-Turing  P₀ = f₁ / N                (probability mass of
                                                 UNSEEN types)

    with D the observed distinct terms, f₁/f₂ the singleton/doubleton
    type counts, N total tokens. A corpus whose Chao1 far exceeds D is
    still discovering vocabulary (keep crawling); a P₀ near 0 says the
    type inventory is saturated.

    Shape: tokenize-explode → ONE term-count aggregate (map-side
    combined, dictionary-sized output) → ONE histogram aggregate over
    the term dictionary. Estimators are NULL on an empty corpus.
    Returns ONE row: (n_tokens, n_types, f1, f2, chao1,
    good_turing_unseen).
    """
    from ..functions.scalars import qround

    toks = widen(df).select(F.explode(_toks(text_col)).alias("_term"))
    counts = toks.groupBy("_term").agg(F.count(F.lit(1)).alias("_c"))
    agg = counts.agg(
        F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.coalesce(F.sum((F.col("_c") == 1).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("f1"),
        F.coalesce(F.sum((F.col("_c") == 2).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("f2"),
    )
    d = F.col("n_types").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao1 = F.when(
        F.col("f2") > 0, d + f1 * f1 / (2.0 * f2)
    ).otherwise(d + f1 * (f1 - 1.0) / 2.0)
    return agg.select(
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        qround(F.when(F.col("n_types") > 0, chao1), digits).alias("chao1"),
        qround(
            F.when(
                F.col("n_tokens") > 0,
                f1 / F.col("n_tokens").cast("double"),
            ),
            digits,
        ).alias("good_turing_unseen"),
    )
