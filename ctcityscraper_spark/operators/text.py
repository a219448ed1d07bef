"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly) over a text column:
tokenization, token counting, quality scoring, language identification
(stopword/n-gram heuristic), and document fingerprinting. Designed so each
has an exact DuckDB-SQL twin for the oracle gate — integer counts and
single-division doubles only.

Scale: no UDFs, no shuffles beyond what the caller aggregates — these all
run inside the scan stage at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ctcityscraper_spark.functions.exprs import bind_once
from ctcityscraper_spark.functions.hashing import hash64
from ctcityscraper_spark.functions.localdf import local_rows_df

# Deliberately small, documented marker lists — language ID at pipeline scale
# is a heuristic scorer, not a model. Ordered: index is the deterministic
# tie-break (earlier wins).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "mit", "für"],
    "fr": ["le", "la", "les", "et", "est", "avec", "pour"],
    "es": ["el", "los", "las", "es", "con", "para", "una"],
    "zh": ["的", "是", "和", "在", "了", "不", "有"],
}

PUNCT_RE = r"[^\w\s]"
DIGIT_RE = r"[0-9]"


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count_col(text: Column | str) -> Column:
    """Whitespace token count == ``size(tokens_col(text))``, computed as
    separator-matches + 1 so the token array is never materialized
    (count-only use; ``split`` keeps every piece just to be counted).
    Exact equivalence incl. the empty-string quirk: ``split`` with its
    default ``limit=-1`` KEEPS leading/trailing empty pieces, so it
    yields exactly one piece more than its separator matches at any
    edge — edge separators just contribute empty pieces that ``size``
    still counts. That identity, not trim, is the correctness mechanism:
    Spark's ``trim`` strips only ASCII spaces (not ``\\t``/``\\n``/
    ``\\x0b``), so non-space edge whitespace survives it on both forms
    identically. Trim is retained for symmetry with :func:`tokens_col`,
    whose token VALUES it does affect. ``split("", ...)`` is ``[""]``
    (size 1) exactly as 0 matches + 1."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.trim(c), F.lit(r"\s+")) + F.lit(1)


def punct_ratio_col(text: Column | str) -> Column:
    """Fraction of characters that are punctuation (single exact division)."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_RE, ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def digit_ratio_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_digit = F.length(c) - F.length(F.regexp_replace(c, DIGIT_RE, ""))
    return n_digit / F.greatest(F.length(c), F.lit(1))


def stopword_ratio_col(text: Column | str, lang: str = "en") -> Column:
    """Distinct-marker hits / distinct tokens (both integer counts)."""
    toks = F.array_distinct(tokens_col(text))
    hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score_col(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, ~1].

    mean of: length signal (min(len,2000)/2000), non-punct signal
    (1 - punct_ratio), stopword signal (min(ratio*5, 1)). Mirrors the usual
    C4/Gopher-style cheap filters; every term is a single exact division so
    the DuckDB oracle is bit-identical.
    """
    c = F.col(text) if isinstance(text, str) else text
    len_sig = F.least(F.length(c), F.lit(2000)) / F.lit(2000.0)
    punct_sig = F.lit(1.0) - punct_ratio_col(c)
    stop_sig = F.least(stopword_ratio_col(c) * 5, F.lit(1.0))
    return (len_sig + punct_sig + stop_sig) / F.lit(3.0)


def lang_id_col(text: Column | str) -> Column:
    """Heuristic language ID: argmax of distinct marker-token hits.

    Deterministic tie-break: earlier language in LANG_MARKERS wins. Encoded
    as score*8 + (7 - index) so ``greatest`` resolves both score and order —
    the same arithmetic the SQL twin uses.

    NULL text -> NULL prediction (matching the SQL twin, where NULL
    propagates through regexp_split_to_array). Without the guard Spark's
    legacy ``size(NULL) = -1`` leaks through the argmax arithmetic and
    produces a garbage language for NULL rows — caught by the adversarial
    oracle gate (tests/test_adversarial_oracle.py).
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.array_distinct(tokens_col(text))
    langs = list(LANG_MARKERS)
    encoded = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])))
        * 8
        + (7 - i)
        for i, lang in enumerate(langs)
    ]
    best = F.greatest(*encoded)
    idx = 7 - (best % 8)  # back to the language index
    pred = F.element_at(F.array(*[F.lit(lang) for lang in langs]), idx + 1)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(pred)


def normalized_text_col(text: Column | str) -> Column:
    """lower-case, collapse whitespace, trim — canonical content form."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_col(text: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (cross-engine exact)."""
    return F.md5(normalized_text_col(text))


WINNOW_K = 12  # characters per rolling gram (MOSS-style: big enough to be discriminative)
WINNOW_WINDOW = 8  # gram hashes per selection window


def winnow_fingerprints(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
    seed: str = "winnow",
) -> DataFrame:
    """Winnowing fingerprint index (Schleimer et al., SIGMOD'03): (id, fp).

    Rolling character k-gram hashes over the normalized text, one selected
    fingerprint per sliding window of ``window`` consecutive gram hashes
    (the window minimum), distinct per document. Guarantee: two documents
    sharing any normalized substring of at least ``window + k - 1``
    characters share at least one fingerprint; no shared fingerprint arises
    from a common substring shorter than ``k``. Expected density is
    ~2/(window+1) fingerprints per character. Documents shorter than the
    guarantee threshold get a single whole-content hash instead.

    Pure Column expressions in the scan stage — no UDF, no shuffle before
    the explode, so at 100 TB the cost is the scan itself. The gram-hash
    array MUST be materialized in its own projection below the sliding-min:
    higher-order-function lambdas are interpreted and re-evaluate outer
    expressions per element, so inlining the array turns O(n) hashing into
    O(n*windows) — measured 15x slower. The lower projection survives
    CollapseProject because ``_grams`` is referenced more than once by
    non-cheap expressions above it.

    Extends the reference's whole-document hash-equality dedup
    (src/engine/database.py:139-149) to position-robust partial overlap;
    hashes use the cross-engine ``hash64`` primitive so a DuckDB oracle
    rebuilds the identical set.
    """
    c = normalized_text_col(text)

    # let-bind the normalized text (bind_once — the shingles_col lesson):
    # the per-position lambda substrings a bound variable instead of
    # re-running the regexp normalization once per character position
    def make_grams(cc):
        n_g = F.length(cc) - (k - 1)
        grams = F.transform(
            F.sequence(F.lit(1), n_g),
            lambda i: hash64(F.substring(cc, i, k), seed),
        )
        # guard: sequence(1, n) runs DESCENDING for n <= 0
        return F.when(n_g >= 1, grams).otherwise(
            F.array().cast("array<long>")
        )

    lower = df.select(
        F.col(id_col),
        c.alias("_c"),
        bind_once(c, make_grams).alias("_grams"),
    )
    n_wins = F.size("_grams") - (window - 1)
    minima = F.transform(
        F.sequence(F.lit(1), n_wins),
        lambda j: F.array_min(F.slice(F.col("_grams"), j, window)),
    )
    fps = F.when(n_wins >= 1, F.array_distinct(minima)).otherwise(
        F.array(hash64(F.col("_c"), seed))
    )
    return lower.select(F.col(id_col), F.explode(fps).alias("fp"))


# ------------------------------------------------------------------ SQL twins
def lang_id_sql(text_expr: str) -> str:
    """DuckDB expression mirroring lang_id_col exactly."""
    langs = list(LANG_MARKERS)
    toks = f"list_distinct(regexp_split_to_array(trim({text_expr}, ' '), '[ \t\n\v\f\r]+'))"
    encs = []
    for i, lang in enumerate(langs):
        markers = ", ".join("'" + w.replace("'", "''") + "'" for w in LANG_MARKERS[lang])
        encs.append(f"(len(list_intersect({toks}, [{markers}])) * 8 + {7 - i})")
    best = "greatest(" + ", ".join(encs) + ")"
    lang_list = ", ".join(f"'{lang}'" for lang in langs)
    return f"list_extract([{lang_list}], (7 - ({best} % 8)) + 1)"


def quality_score_sql(text_expr: str) -> str:
    """DuckDB expression mirroring quality_score_col exactly."""
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    toks = f"list_distinct(regexp_split_to_array(trim({text_expr}, ' '), '[ \t\n\v\f\r]+'))"
    length = f"length({text_expr})"
    punct_ratio = (
        f"({length} - length(regexp_replace({text_expr}, '[^\\w \t\n\v\f\r]', '', 'g')))"
        f" / greatest({length}, 1)"
    )
    stop_ratio = f"len(list_intersect({toks}, [{markers}])) / greatest(len({toks}), 1)"
    return (
        f"((least({length}, 2000) / 2000.0)"
        f" + (1.0 - {punct_ratio})"
        f" + least({stop_ratio} * 5, 1.0)) / 3.0"
    )


QCLF_FEATURES = ("len_sig", "tok_sig", "punct_ratio", "digit_ratio", "stop_ratio")


def quality_feature_cols(text: Column | str) -> list[Column]:
    """The trainable quality classifier's feature vector — five scan-stage
    scalars, every one a single exact division of integer counts (the
    module's cross-engine determinism rule: no transcendental functions),
    so a DuckDB oracle replays them bit-for-bit. Order is
    :data:`QCLF_FEATURES`; keep :func:`quality_feature_sqls` in lockstep."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.least(F.length(c), F.lit(2000)) / F.lit(2000.0),
        F.least(token_count_col(c), F.lit(400)) / F.lit(400.0),
        punct_ratio_col(c),
        digit_ratio_col(c),
        stopword_ratio_col(c),
    ]


def quality_feature_sqls(text_expr: str) -> list[str]:
    """DuckDB twins of :func:`quality_feature_cols`, same order."""
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    toks = f"list_distinct(regexp_split_to_array(trim({text_expr}, ' '), '[ \t\n\v\f\r]+'))"
    length = f"length({text_expr})"
    return [
        f"(least({length}, 2000) / 2000.0)",
        f"(least(len(regexp_split_to_array(trim({text_expr}, ' '), '[ \t\n\v\f\r]+')), 400)"
        " / 400.0)",
        f"(({length} - length(regexp_replace({text_expr}, '[^\\w \t\n\v\f\r]', '', 'g')))"
        f" / greatest({length}, 1))",
        f"(({length} - length(regexp_replace({text_expr}, '[0-9]', '', 'g')))"
        f" / greatest({length}, 1))",
        f"(len(list_intersect({toks}, [{markers}]))"
        f" / greatest(len({toks}), 1))",
    ]


def train_quality_classifier(
    df,
    text: str = "text",
    id_col: str = "doc_id",
    labels: Column | None = None,
    sample_n: int = 2000,
    seed: str = "qclf",
    lr: float = 1.0,
    iters: int = 500,
) -> list[float]:
    """Train a fastText-style linear quality classifier driver-side on a
    BOUNDED hash-picked sample; returns ``[w1..w5, b]`` (float64) over
    :func:`quality_feature_cols`.

    The bounded-fit pattern of ``similarity.pq_train_codebooks`` /
    ``hash_pick_centroids``: the sample is the ``sample_n`` rows with the
    smallest ``(hash64(id, seed), id)`` — a distributed
    TakeOrderedAndProject collects exactly sample_n feature rows, never
    the corpus — and the fit itself is full-batch logistic-regression
    gradient descent in numpy (fixed zero init / lr / iteration count, so
    the weights are a deterministic function of the sample; full-batch
    means sample ORDER doesn't matter). Persist the weights with
    ``similarity.save_vectors_json`` and apply them with
    :func:`quality_classifier_logit_col` — application is a literal-
    folded expression in the scan stage, zero Python at query time.

    ``labels`` is the supervision seam: any boolean Column over the input
    (human labels, an LLM judge's verdicts joined in, a held-out model's
    predictions). The default is weak supervision by the fixed heuristic
    (``quality_score_col >= 0.6``) — distillation of the hand-tuned
    filter into a calibrated linear form, the standard bootstrap when no
    labeled data exists yet (what CCNet did with a Wikipedia-vs-crawl
    classifier). At 100 TB the sample stays sample_n rows; retraining is
    the same bounded job on fresh labels.
    """
    import numpy as np

    from ctcityscraper_spark.functions.hashing import hash64

    if labels is None:
        labels = quality_score_col(text) >= 0.6
    feats = quality_feature_cols(text)
    rows = (
        df.filter(F.col(id_col).isNotNull() & F.col(text).isNotNull())
        .select(
            *[f.alias(n) for n, f in zip(QCLF_FEATURES, feats)],
            labels.cast("int").alias("y"),
            hash64(F.col(id_col), seed).alias("_h"),
            F.col(id_col).alias("_id"),
        )
        .orderBy("_h", "_id")
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("train_quality_classifier: empty training sample")
    X = np.array([[getattr(r, n) for n in QCLF_FEATURES] for r in rows])
    y = np.array([r.y for r in rows], dtype=np.float64)
    w = np.zeros(X.shape[1] + 1)
    Xb = np.hstack([X, np.ones((len(X), 1))])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Xb @ w)))
        w -= lr * (Xb.T @ (p - y)) / len(y)
    return [float(v) for v in w]


def quality_classifier_logit_col(
    text: Column | str, weights: list[float]
) -> Column:
    """Apply trained classifier weights as a literal-folded expression:
    ``b + w1*f1 + ... + w5*f5``, folded left-to-right so DuckDB's
    left-associative ``+`` reproduces the double bit-for-bit (the logit,
    NOT the sigmoid — exp() is not bit-portable across engines, and the
    logit is ranking-equivalent; threshold at 0 where the sigmoid would
    threshold at 0.5). Whole-stage-codegen scan-stage arithmetic: the
    weights ride as plan literals, nothing shuffles, no Python."""
    if len(weights) != len(QCLF_FEATURES) + 1:
        raise ValueError(
            f"expected {len(QCLF_FEATURES) + 1} weights (w1..w5, b), "
            f"got {len(weights)}"
        )
    feats = quality_feature_cols(text)
    z = F.lit(float(weights[-1]))
    for w, f in zip(weights[:-1], feats):
        z = z + F.lit(float(w)) * f
    return z


def tfidf_top_terms(
    df,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
):
    """Top-k characteristic terms per document by TF-IDF.

    Keyword extraction for corpus exploration / topic routing. The idf
    factor is the log-free surrogate ``N / df`` — monotone in rarity, so
    per-document ranking is unchanged for terms with equal tf, and every
    score stays a single exact division of integer counts (the module's
    cross-engine determinism rule: transcendental functions are not
    bit-portable between engines; integer ratios are).

    Shuffles: one groupBy on (doc, term) for tf, one on term for df (both
    partial-aggregated map-side), a broadcast-sized corpus count, then the
    per-document top-k window on the doc key. Nothing quadratic; term keys
    are capped by the df side being |vocabulary|.

    Returns (doc_id, term, tf, df, tfidf, rank), rank 1..k per doc, ties
    broken by term ascending.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", (F.col("tf") * F.col("n_docs")) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def bm25_topk(
    df,
    query_terms: list[str],
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Top-k documents for a bag-of-terms query by BM25 — the LEXICAL
    retrieval leg (the ANN operators are the semantic leg; production
    hybrid search unions both shortlists and re-ranks).

    Made transcendental-free so it is bit-portable across engines (the
    module rule): the idf is the QUANTIZED surrogate
    ``length(bin(n_docs div df_t))`` — the integer bit-width of the
    inverse document frequency, monotone in rarity like
    :func:`unigram_surprisal`'s quantized self-information — and the
    per-term saturation/length factor is the classic
    ``tf·(k1+1) / (tf + k1·((1−b) + b·dl/avgdl))`` computed as pure
    rational arithmetic over exact integer inputs (``dl/avgdl`` =
    ``dl·n_docs/total_tokens``, one exact division; ``1−b`` and
    ``k1+1`` fold to literals driver-side so both engines parse the
    same doubles). Each term's score is fixed-point-quantized
    (``floor(·10⁶)`` bigint) BEFORE the per-document SUM, so the score
    is aggregation-order-independent — the same rule as the flagship
    cents aggregation and the PQ SSE ledger.

    Shuffles: one (doc, term) groupBy restricted to the QUERY's terms
    (the scan filters to them — at 100 TB this is the inverted-index
    probe shape, cost ∝ matched postings, never the corpus vocabulary),
    one per-doc length groupBy, a broadcast term-stats attach, one
    per-doc sum, and a global top-k (TakeOrderedAndProject). Returns
    (doc_id, n_terms_matched, score_micros, rank), ties by doc_id."""
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    terms = sorted(set(query_terms))
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text)).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = toks.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tokens"),
    )
    hit = toks.filter(F.col("term").isin(terms))
    tf = hit.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = hit.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    scored = _bm25_score(
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats)),
        k1, b,
    )
    return _bm25_rank(scored, k)


def _bm25_score(frame: DataFrame, k1: float, b: float) -> DataFrame:
    """Attach ``idf_bits`` + fixed-point ``score_micros`` to a frame that
    carries (tf, df_t, dl, n_docs, total_tokens) — the ONE scoring
    expression both the rescan path (:func:`bm25_topk`) and the stored-
    index probe (:func:`bm25_topk_from_index`) share, so index-served
    scores are definitionally the rescan's (the incremental catalog
    query then hash-proves the INPUTS agree too)."""
    one_minus_b, k1_plus_1 = float(1.0 - b), float(k1 + 1.0)
    return frame.withColumn(
        "idf_bits",
        F.length(F.bin(F.expr("n_docs DIV df_t"))).cast("long"),
    ).withColumn(
        "score_micros",
        F.expr(
            f"CAST(floor(((idf_bits * (tf * {k1_plus_1!r})) / "
            f"(tf + {float(k1)!r} * ({one_minus_b!r} + {float(b)!r} * "
            f"((dl * n_docs) / total_tokens)))) * 1000000.0) AS BIGINT)"
        ),
    )


def _bm25_rank(scored: DataFrame, k: int) -> DataFrame:
    """Per-doc sum + global top-k (TakeOrderedAndProject) + dense 1..k
    rank — shared tail of both BM25 paths."""
    ranked = (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.sum("score_micros").alias("score_micros"),
        )
        .orderBy(F.col("score_micros").desc(), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.col("score_micros").desc(), "doc_id")
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_terms_matched", "score_micros", "rank"
    )


def bm25_index_delta(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build one batch's DELTA of the stored BM25 index — retrieval's
    entry into the stored-state pattern every other index family
    follows (Bloom words, LSH bands, IVF lists, DSIR buckets): persist
    once, probe per query, maintain per batch, never re-read the
    corpus at serve time.

    Returns three frames:

    - ``postings`` ``(term, doc_id, tf, dl)`` — the inverted index,
      denormalized with the doc's length so a probe needs NO join
      against a corpus-sized doc-length table (dl is immutable once
      the doc is tokenized, so carrying it per posting costs one long
      and kills the probe's only big join). Append-only.
    - ``term_stats`` ``(term, df_t)`` — per-term document frequency.
      SUM-mergeable delta rows (:func:`sum_bm25_term_stats`).
    - ``totals`` ``(n_docs, total_tokens)`` — one SUM-mergeable row.

    Append-only contract: each document must enter the index in
    EXACTLY one batch (the engine's append-only ingest invariant) —
    df_t/n_docs sum per-batch distinct counts, so a doc split across
    batches would double-count. Docs with zero nonempty tokens
    contribute nothing anywhere (same contract as :func:`bm25_topk`'s
    in-plan stats).

    100 TB shape: postings bucket/partition by ``term`` on write so a
    probe prunes to the query's terms; term_stats and totals are
    vocabulary- and 1-row-sized mergeable states; per-batch upkeep is
    one tokenize + three aggregations of the BATCH, independent of
    corpus size."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text)).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(dl, "doc_id")
        .select("term", "doc_id", "tf", "dl")
    )
    term_stats = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    totals = toks.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tokens"),
    )
    return postings, term_stats, totals


BM25_TERM_BUCKETS = 256


def bm25_bucket_of(term: str, n_buckets: int = BM25_TERM_BUCKETS) -> int:
    """Driver-side twin of the ``term_bucket`` column — delegates to
    :func:`functions.hashing.hash64_py` (ONE shared implementation of
    the md5-prefix rule, seed ``bm25bkt``) so the probe's partition
    filter can never drift from the stored layout."""
    from ctcityscraper_spark.functions.hashing import hash64_py

    return hash64_py(term, "bm25bkt") % n_buckets


def bm25_bucket_postings(
    postings: DataFrame, n_buckets: int = BM25_TERM_BUCKETS
) -> DataFrame:
    """Attach the ``term_bucket`` layout column. Write the result
    ``partitionBy("term_bucket")`` (bounded directory fan-out —
    ``n_buckets`` dirs, not |vocabulary|): a probe then reaches the
    scan as a partition filter and reads only the query terms' buckets
    — the inverted-index pruning that makes serve cost ∝ matched
    postings at 100 TB instead of ∝ corpus."""
    return postings.withColumn(
        "term_bucket", (hash64(F.col("term"), "bm25bkt") % n_buckets)
    )


def sum_bm25_term_stats(term_stats: DataFrame) -> DataFrame:
    """SUM-collapse delta ``(term, df_t)`` rows — exact under the
    append-only contract, idempotent on collapsed input."""
    return term_stats.groupBy("term").agg(F.sum("df_t").alias("df_t"))


def sum_bm25_totals(totals: DataFrame) -> DataFrame:
    """SUM-collapse delta totals rows to the one serving row, with the
    DSIR-style loud guard: an EMPTY stored totals table would make the
    sums NULL and every downstream score silently NULL — raise with
    the cause named instead (lazy, no job on the probe path)."""

    def _nonempty(name: str):
        return F.coalesce(
            F.col(name),
            F.assert_true(
                F.lit(False),
                F.lit(
                    "bm25 stored index: totals table has no rows — build "
                    "it with bm25_index_delta before probing"
                ),
            ).cast("long"),
        ).alias(name)

    return totals.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
    ).select(_nonempty("n_docs"), _nonempty("total_tokens"))


def bm25_index_health(
    postings: DataFrame,
    term_stats: DataFrame,
    totals: DataFrame,
    n_buckets: int = BM25_TERM_BUCKETS,
) -> DataFrame:
    """Stored-BM25-index health monitor — the retrieval member of the
    per-family monitor pattern (Bloom saturation, CMS saturation, IVF
    imbalance, PQ recon drift, k-means ledger): one row of EXACT
    integers off the stored zones, the corpus never re-read.

    - ``total_postings`` / ``buckets_used`` / ``max_bucket_postings``:
      the term_bucket layout's occupancy — a hot bucket (max far above
      total/n_buckets) means probe pruning degrades toward a full scan
      for queries hitting it; the re-bucket (raise ``n_term_buckets``,
      rebuild under a new ``_zone_meta``) trigger.
    - ``n_terms`` / ``max_df`` / ``n_docs``: vocabulary size and the
      hottest term's document frequency — ``max_df`` approaching
      ``n_docs`` is stopword drag (postings paid for terms whose idf
      contributes ~0), the add-a-df-cap trigger.

    Ratios (imbalance = max_bucket_postings * n_buckets /
    total_postings; drag = max_df / n_docs) are left to the caller —
    keeping integer numerators/denominators is the standing
    determinism rule. Cost: one ≤ n_buckets-row groupBy over postings,
    a vocabulary-row MAX over collapsed term_stats, the 1-row totals —
    then 1-row crossJoin attaches (the audit-summary shape)."""
    bucket = (
        F.col("term_bucket")
        if "term_bucket" in postings.columns
        else (hash64(F.col("term"), "bm25bkt") % n_buckets)
    )
    per_bucket = (
        postings.groupBy(bucket.alias("b"))
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").alias("total_postings"),
            F.count("*").alias("buckets_used"),
            F.max("n").alias("max_bucket_postings"),
        )
    )
    terms = sum_bm25_term_stats(term_stats).agg(
        F.count("*").alias("n_terms"), F.max("df_t").alias("max_df")
    )
    docs = sum_bm25_totals(totals).select("n_docs")
    return per_bucket.crossJoin(terms).crossJoin(docs)


def bm25_topk_from_index(
    postings: DataFrame,
    term_stats: DataFrame,
    totals: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_term_buckets: int = BM25_TERM_BUCKETS,
) -> DataFrame:
    """Serve a BM25 query as a PROBE against the stored index — the
    query never touches the corpus. Same output contract as
    :func:`bm25_topk` (``(doc_id, n_terms_matched, score_micros,
    rank)``), and bit-identical to it when the index deltas cover
    exactly the same corpus (the ``text_bm25_incremental`` catalog
    query hash-proves this cross-engine).

    Probe shape: filter postings to the query's terms — and, when the
    zone carries the :func:`bm25_bucket_postings` layout column, to the
    query terms' ``term_bucket`` values first, which a
    ``partitionBy("term_bucket")`` layout turns into PARTITION PRUNING
    at the scan (plan-asserted in tests): serve cost ∝ matched
    postings, never ∝ corpus. Then broadcast the ≤|query| summed term
    stats and the 1-row totals, score scan-side, TakeOrderedAndProject
    top-k. The only shuffle is the per-doc sum over matched postings.

    ``n_term_buckets``: the bucket count the postings were laid out
    with (only consulted when a ``term_bucket`` column is present)."""
    if not query_terms:
        raise ValueError("bm25_topk_from_index needs at least one query term")
    terms = sorted(set(query_terms))
    hit = postings
    if "term_bucket" in postings.columns:
        bkts = sorted({bm25_bucket_of(t, n_term_buckets) for t in terms})
        hit = hit.filter(F.col("term_bucket").isin(bkts)).drop("term_bucket")
    dfq = sum_bm25_term_stats(term_stats.filter(F.col("term").isin(terms)))
    tot = sum_bm25_totals(totals)
    scored = _bm25_score(
        hit.filter(F.col("term").isin(terms))
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(tot)),
        k1, b,
    )
    return _bm25_rank(scored, k)


def unigram_surprisal(
    df,
    text: str = "text",
    id_col: str = "doc_id",
):
    """Per-document quantized unigram surprisal — the CCNet-style LM
    quality signal (rank documents by how "surprising" their tokens are
    under a language model trained on the corpus itself), made
    transcendental-free so it is bit-portable across engines.

    CCNet (reference recipe for crawl filtering) buckets documents by
    KenLM perplexity: boilerplate scores low, rare-token-heavy text (both
    high-value fresh content AND noise) scores high. The honest
    reproducible core of that signal is unigram cross-entropy
    ``Σ c_dt · log2(T / c_t) / n_d`` — but ``log2`` is not bit-portable
    between Spark's JVM Math and DuckDB's libm (module determinism rule:
    no transcendentals across the oracle boundary). So the per-token
    surprisal is QUANTIZED to its integer bit-width::

        s(t) = length(bin(T div c_t)) = floor(log2(T div c_t)) + 1

    computed entirely in integer/string space (``bin`` exists with
    identical semantics in both engines). ``mean_surprisal`` is then one
    exact integer division per document — hash-exact cross-engine, and
    monotone in token rarity, which is all the downstream bucketing
    (quality gates, curriculum staging) consumes.

    Shuffles: one groupBy on term for the corpus counts (map-side
    partial), one on (doc, term), one broadcast of the scalar total, one
    per-doc aggregation — aggregation-shaped, nothing quadratic, no
    Python boundary. Documents with zero nonempty tokens emit no row
    (same contract as :func:`vocab_coverage`).

    Returns (doc_id, n_tokens, sum_bits, mean_surprisal).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text)).alias("term")
    ).filter(F.col("term") != "")
    term_counts = toks.groupBy("term").agg(F.count("*").alias("c_t"))
    total = term_counts.agg(F.sum("c_t").alias("t_total"))
    per_doc_term = toks.groupBy("doc_id", "term").agg(
        F.count("*").alias("c_dt")
    )
    scored = (
        per_doc_term.join(term_counts, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "s_bits",
            F.length(F.bin(F.expr("t_total DIV c_t"))).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c_dt").alias("n_tokens"),
        F.sum(F.col("c_dt") * F.col("s_bits")).alias("sum_bits"),
        (
            F.sum(F.col("c_dt") * F.col("s_bits")) / F.sum("c_dt")
        ).alias("mean_surprisal"),
    )


def vocab_coverage(
    df,
    vocab_size: int = 1000,
    text: str = "text",
    id_col: str = "doc_id",
):
    """Per-document coverage of the corpus top-``vocab_size`` vocabulary.

    The tokenizer-budget planning question: with a V-term vocabulary, what
    fraction of each document's tokens fall out-of-vocabulary? Vocabulary =
    the V corpus-wide most frequent terms (ties broken by term ascending,
    deterministic across engines).

    Shuffles: one term-frequency groupBy (map-side partial), then the
    vocabulary selection is a distributed top-K (sort+limit plans as
    TakeOrderedAndProject — every partition contributes its local top V,
    no single-partition global sort), broadcast-joined back to the token
    stream, and one per-doc aggregation. OOV fraction is a single exact
    division of integer counts (cross-engine determinism rule). Documents
    with zero nonempty tokens have no coverage row.

    Returns (doc_id, n_tokens, n_oov, oov_frac) per document.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text)).alias("term")
    ).filter(F.col("term") != "")
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), "term")
        .limit(vocab_size)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        (
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            / F.count("*")
        ).alias("oov_frac"),
    )


# Coordinate-derivation version for STORED Count-Min cell zones: bump
# whenever _cms_cell_cols' hash/seed/modulus derivation changes — a sketch
# probed under a different derivation estimates garbage (possibly below
# the true count, breaking the one-sided contract). Stamped next to
# persisted cell zones by streaming.events (ensure_zone_meta) alongside
# (width, depth, seed), and validated on every read.
CMS_FORMAT_VERSION = 1


def _cms_cell_cols(term_col, width: int, depth: int, seed: str):
    """The depth (row, column-expression) cell coordinates for one term —
    THE single definition shared by :func:`count_min_sketch` and
    :func:`cms_estimate`. If build and probe ever derived coordinates
    independently, a drift in seed format or modulus would make estimates
    silently wrong (possibly BELOW the true count, breaking the one-sided
    contract) — so both go through here."""
    from ctcityscraper_spark.functions.hashing import hash64

    return [(r, hash64(term_col, f"{seed}{r}") % width) for r in range(depth)]


def count_min_sketch(
    df,
    text: str = "text",
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
):
    """Count-Min sketch of the corpus token stream — bounded-state
    frequency estimation when the vocabulary itself is too big to hold.

    At 100 TB the raw term table has billions of distinct keys; a full
    groupBy materializes all of them just to find the hot ones. The CMS
    keeps ``depth × width`` integer cells regardless of vocabulary size:
    each token increments one cell per row r at column
    ``hash64(token, seed+r) % width``. Estimates are one-sided
    (``estimate >= true count``, with overestimate probability shrinking
    exponentially in ``depth``) — the right primitive for hot-token /
    hot-shingle guards like the Jaccard ``df_cap``, stop-list mining, or
    boilerplate detection, where false positives only cost a little
    pruning. Pure integer hashing + counting, so DuckDB reproduces the
    sketch bit-for-bit (catalog query ``text_cms_heavy_hitters``).

    Shuffles: the explode emits ``depth`` rows per token but the groupBy
    partially aggregates map-side into ≤ depth·width cells per partition
    — the shuffle carries ~partitions × depth × width rows, never the
    token stream. Returns (r, c, n) cell rows (only touched cells).
    """
    toks = df.select(F.explode(tokens_col(text)).alias("term")).filter(
        F.col("term") != ""
    )
    return count_min_sketch_terms(toks, "term", width=width, depth=depth, seed=seed)


def count_min_sketch_terms(
    terms,
    term_col: str = "term",
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
):
    """:func:`count_min_sketch` over a PRE-EXPLODED term stream — the
    entry point for sketching anything that is already one-row-per-
    occurrence (shingle inverted-index rows, winnow fingerprints, join
    keys), not just tokenized text. Same cell derivation
    (:func:`_cms_cell_cols`), same (r, c, n) output, same scale shape
    (map-side partials cap the shuffle at partitions × depth × width).
    NULL terms are excluded (they carry no frequency signal and would
    hash as a single hot key)."""
    cells = F.array(
        *[
            F.struct(F.lit(r).alias("r"), c.alias("c"))
            for r, c in _cms_cell_cols(F.col(term_col), width, depth, seed)
        ]
    )
    return (
        terms.filter(F.col(term_col).isNotNull())
        .select(F.explode(cells).alias("cell"))
        .select("cell.r", "cell.c")
        .groupBy("r", "c")
        .agg(F.count("*").alias("n"))
    )


def hot_terms(
    rows,
    term_col: str,
    cap: int,
    sketched: bool = False,
    width: int = 1 << 16,
    depth: int = 4,
    seed: str = "dfcap",
):
    """Terms occurring more than ``cap`` times in ``rows`` — the hot-key
    drop list behind every ``df_cap`` guard (Jaccard / winnowing inverted
    indexes). Returns a 1-column frame of hot terms; EXACT in both modes.

    ``sketched=False``: one groupBy over the full stream — the shuffle
    carries every distinct term (billions of shingles at 100 TB) just to
    find the handful of hot ones.

    ``sketched=True``: the two-tier shape (the Count-Min analogue of
    ``dedup.bloom_chased_duplicates``): a CMS pre-pass (shuffle bounded
    at partitions × depth × width) flags possibly-hot terms via the
    one-sided estimate (``estimate >= true`` ⇒ every truly-hot term IS
    flagged), then an exact count over ONLY the flagged rows confirms —
    collisions cost extra chased rows, never a wrong list. The result is
    row-identical to the exact mode (property-tested, including under a
    deliberately collision-heavy narrow sketch), so callers can switch on
    scale without a semantics change. Trade-off: the stream is consumed
    twice (sketch + chase) — wins when re-scanning the source is cheaper
    than shuffling the full distinct-term table, i.e. whenever the term
    universe is large and the hot tail is small (the 100 TB shape).
    """
    if not sketched:
        return (
            rows.groupBy(term_col)
            .agg(F.count("*").alias("df_count"))
            .filter(F.col("df_count") > cap)
            .select(term_col)
        )
    stream = rows.select(F.col(term_col).alias("term"))
    sketch = count_min_sketch_terms(
        stream, "term", width=width, depth=depth, seed=seed
    )
    flagged = cms_estimate(
        stream, sketch, term_col="term", width=width, depth=depth, seed=seed
    ).filter(F.col("estimate") > cap)
    return (
        flagged.groupBy("term")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") > cap)
        .select(F.col("term").alias(term_col))
    )


def cms_estimate(
    items,
    sketch,
    term_col: str = "term",
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
):
    """Point-estimate counts for ``items`` against a :func:`count_min_sketch`.

    The classic min-over-rows lookup, implemented as ``depth`` broadcast
    joins (one per sketch row, each against a ≤ width-row slice) + a
    ``least(...)`` — so the output has EXACTLY one row per input row:
    duplicate item rows each keep their own estimate, nothing is
    collapsed, and no grouping touches the caller's columns. Absent cells
    read 0 (an item never inserted estimates 0 unless every one of its
    cells collides). ``width``/``depth``/``seed`` must match the build
    (both derive coordinates from :func:`_cms_cell_cols`). Returns
    ``items`` + (estimate).
    """
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    reserved = {f"__cms_c{r}" for r in range(depth)} | {
        f"__cms_n{r}" for r in range(depth)
    } | {"estimate"}
    clash = reserved & set(items.columns)
    if clash:
        raise ValueError(f"items carries reserved column name(s): {sorted(clash)}")
    out = items
    ests = []
    for r, coord in _cms_cell_cols(F.col(term_col), width, depth, seed):
        skr = sketch.filter(F.col("r") == r).select(
            F.col("c").alias(f"__cms_c{r}"), F.col("n").alias(f"__cms_n{r}")
        )
        out = out.join(
            F.broadcast(skr), coord == F.col(f"__cms_c{r}"), "left"
        )
        ests.append(F.coalesce(F.col(f"__cms_n{r}"), F.lit(0)))
    # F.least requires >= 2 columns; a depth-1 sketch is legitimate (one
    # row, pure single-hash counting) and its estimate IS the single cell
    est = ests[0] if len(ests) == 1 else F.least(*ests)
    return out.select(*items.columns, est.alias("estimate"))


def merge_cms_cells(cells):
    """Sum-merge (r, c, n) Count-Min cell frames (any mix of full
    sketches, per-batch deltas, or partially-merged epochs built with the
    SAME (width, depth, seed)). Counts are additive, so the merge is
    EXACTLY a fresh build over the union — the CMS analogue of
    ``dedup.merge_bloom_words``, and the single definition shared by the
    batch path and the streaming sink's compaction ``transform``
    (idempotent over already-merged rows, as that contract requires)."""
    return (
        cells.select("r", "c", "n")
        .groupBy("r", "c")
        .agg(F.sum("n").alias("n"))
    )


def cms_health(cells, width: int, depth: int):
    """Saturation / accuracy health of a stored Count-Min sketch — the
    FREQUENCY member of the monitor family (the CMS analogue of
    ``dedup.bloom_saturation``): one row ``(width, depth, n_items,
    max_cell, nonzero_cells, fill, err_bound)``.

    ``n_items`` is the total stream count (row 0's cell sum — every item
    increments exactly one cell per row, so any row's sum is N, and row
    0 makes the rule deterministic). ``fill`` (nonzero cells over
    width·depth) and ``err_bound`` (the classic CMS overcount guarantee
    ``2·N/width``, here as an exact integer ``(2·n_items) div width``)
    both only ever RISE for an append-only sketch: when err_bound
    crosses the count scale you care about, estimates stop separating
    hot from cold and the fix is a wider rebuild. A nightly check of
    this one row is what keeps ``cms_estimate``-based df_cap chasing and
    ``cms_drift`` candidate screens honest as the corpus grows. Pure
    integer sums/counts + two exact divisions — DuckDB reproduces every
    field bit-for-bit. Accepts UNMERGED per-batch delta rows
    (:func:`merge_cms_cells` runs first, so overlapping cells are never
    double-counted; idempotent on merged tables). Cost: one aggregate
    over the ≤ depth·width-row cell table — nothing corpus-sized."""
    if width < 1 or depth < 1:
        raise ValueError(f"width and depth must be >= 1, got ({width}, {depth})")
    merged = merge_cms_cells(cells)
    agg = merged.agg(
        F.coalesce(
            F.sum(F.when(F.col("r") == 0, F.col("n"))), F.lit(0)
        ).alias("n_items"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_cell"),
        F.count(F.when(F.col("n") > 0, 1)).alias("nonzero_cells"),
    )
    return agg.select(
        F.lit(int(width)).alias("width"),
        F.lit(int(depth)).alias("depth"),
        "n_items",
        "max_cell",
        "nonzero_cells",
        (F.col("nonzero_cells") / F.lit(int(width * depth))).alias("fill"),
        F.expr(f"(2 * n_items) div {int(width)}").alias("err_bound"),
    )


def cms_drift(
    sketch_a,
    sketch_b,
    candidates,
    term_col: str = "term",
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
):
    """Per-term frequency drift from two Count-Min sketches built with
    the SAME (width, depth, seed): ``candidates`` + (est_a, est_b,
    drift = est_b − est_a) — the FREQUENCY member of the drift-monitor
    family (quantile_drift = distribution, ivf_imbalance_report = list
    occupancy, pq_recon_drift = quantization error). The nightly
    question it answers: which hot tokens/shingles surged or collapsed
    between epochs — a mixture shift, a crawler trap, a new boilerplate
    family — WITHOUT a billion-key vocabulary groupBy of either epoch:
    both estimate legs are broadcast lookups against ≤ depth×width cell
    frames (:func:`cms_estimate`), so the work is candidate-sized.

    ``candidates`` is any 1+-column frame carrying ``term_col`` — a
    stored hot-token list (:func:`hot_terms`), yesterday's heavy
    hitters, a watchlist. Estimates inherit the CMS one-sided contract
    (each leg ≥ its epoch's true count); drift is an exact integer
    subtraction of the two estimates. Output-name clashes fail loudly
    (the cms_estimate reserved-name pattern) — in particular a PRIOR
    cms_drift output is not a valid candidate frame (select just its
    term column)."""
    clash = {"est_a", "est_b", "drift"} & set(candidates.columns)
    if clash:
        raise ValueError(
            f"candidates carries reserved column name(s): {sorted(clash)}"
        )
    ea = cms_estimate(
        candidates, sketch_a, term_col, width, depth, seed
    ).withColumnRenamed("estimate", "est_a")
    eb = cms_estimate(
        ea, sketch_b, term_col, width, depth, seed
    ).withColumnRenamed("estimate", "est_b")
    return eb.select(
        *candidates.columns,
        "est_a",
        "est_b",
        (F.col("est_b") - F.col("est_a")).alias("drift"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------
# The third mergeable sketch family: Bloom answers membership, Count-Min
# answers frequency, KMV answers CARDINALITY — "how many distinct
# tokens/shingles/keys does this corpus hold" without materializing the
# distinct-key table (billions of rows at 100 TB). The sketch is simply the
# k smallest DISTINCT hash64 values of the stream: bounded at k rows, and
# min-k-of-distinct is associative + idempotent, so per-partition partials,
# per-batch deltas, and stored epochs all merge into EXACTLY the fresh-build
# sketch (unlike HLL there is no float register math — pure integer top-k —
# which is what makes the DuckDB oracle hash-exact).
#
# Estimator (Bar-Yossef et al., "Counting distinct elements in a data
# stream"): with h uniform on [0, 2^60) (functions/hashing.hash64), the
# k-th smallest distinct hash R estimates n ≈ (k-1) / (R / 2^60). When the
# stream holds fewer than k distinct values the sketch IS the distinct set
# and the count is exact. Both branches are reproducible cross-engine: the
# cast of the 60-bit integer R to double and the single IEEE division round
# identically in Spark and DuckDB.

# Bump when the hash derivation or row layout of persisted KMV zones
# changes — a stored sketch probed under different (k, seed) estimates
# garbage. Stamped next to persisted hash zones by streaming.events
# (ensure_zone_meta) and validated on every read.
KMV_FORMAT_VERSION = 1


def kmv_sketch_terms(
    terms: DataFrame,
    term_col: str = "term",
    k: int = 256,
    seed: str = "kmv",
) -> DataFrame:
    """KMV sketch of a pre-exploded term stream: the k smallest distinct
    ``hash64(term, seed)`` values, as a ≤ k-row (h) frame.

    Scale shape: a naive ``distinct().orderBy().limit(k)`` shuffles the
    FULL distinct-key table just to throw away all but k rows. Instead an
    Arrow ``mapInPandas`` pass keeps each partition's k smallest distinct
    hashes locally (bounded memory: the carried state never exceeds k
    values), so the only shuffle input is ≤ partitions × k rows, which
    :func:`merge_kmv` reduces to the global top-k. Min-k-of-distinct is
    insensitive to partitioning, so the result is bit-identical to the
    naive plan — the DuckDB oracle (``SELECT DISTINCT … ORDER BY h LIMIT
    k``) reproduces it exactly. NULL terms are excluded (they carry no
    cardinality signal)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    hashed = (
        terms.filter(F.col(term_col).isNotNull())
        .select(hash64(F.col(term_col), seed).alias("h"))
    )

    def _local_kmin(batches):
        import numpy as np
        import pandas as pd

        best = None
        for pdf in batches:
            vals = pdf["h"].to_numpy()
            best = vals if best is None else np.concatenate([best, vals])
            best = np.unique(best)  # sorted distinct
            if best.size > k:
                best = best[:k]
        if best is not None and best.size:
            yield pd.DataFrame({"h": best})

    return merge_kmv(hashed.mapInPandas(_local_kmin, "h long"), k)


def kmv_sketch(
    df: DataFrame,
    text: str = "text",
    k: int = 256,
    seed: str = "kmv",
) -> DataFrame:
    """:func:`kmv_sketch_terms` over the whitespace token stream of a
    document frame — distinct-vocabulary estimation without the
    billion-key vocabulary groupBy."""
    toks = df.select(F.explode(tokens_col(text)).alias("term")).filter(
        F.col("term") != ""
    )
    return kmv_sketch_terms(toks, "term", k=k, seed=seed)


def merge_kmv(frames: DataFrame, k: int) -> DataFrame:
    """Merge (h) KMV frames built with the SAME (k, seed): distinct union,
    keep the k smallest. Any mix of full sketches, per-partition partials,
    per-batch deltas, or stored epochs — min-k-of-distinct is associative
    and idempotent, so the merge EQUALS a fresh build over the union (the
    KMV analogue of ``merge_bloom_words`` / ``merge_cms_cells``, and the
    single definition shared by the batch path and the streaming sink's
    compaction ``transform``). Inputs are ≤ k rows each, so the
    distinct + ordered-limit here runs over ≤ frames × k rows — never the
    raw stream."""
    return frames.select("h").distinct().orderBy("h").limit(k)


def update_kmv_sketch(
    stored: DataFrame,
    batch_terms: DataFrame,
    term_col: str = "term",
    k: int = 256,
    seed: str = "kmv",
) -> DataFrame:
    """Incremental maintenance: fold one new batch into a stored KMV
    sketch — build the batch's own ≤ k-row delta, then
    :func:`merge_kmv`. Delta-sized: the stored corpus contributes its k
    rows, never its raw stream, so per-batch upkeep costs O(batch) +
    O(k log k) regardless of corpus size. Exact: merged state ≡ a fresh
    build over everything ingested (associativity — property-tested on
    arbitrary splits)."""
    delta = kmv_sketch_terms(batch_terms, term_col, k=k, seed=seed)
    return merge_kmv(stored.unionByName(delta), k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate from a ≤ k-row KMV sketch: one row with
    ``n_kept`` (sketch size), ``kth_h`` (largest kept hash) and
    ``distinct_est``. When the sketch holds fewer than k hashes it IS the
    distinct set (estimate exact); otherwise the classic
    ``(k-1) / (kth_h / 2^60)``. All driver-free: one aggregate over ≤ k
    rows. Cross-engine exact — (k-1)·2^60 has ≤ 53 significant bits for
    any practical k, and the int→double cast + IEEE division round
    identically in Spark and DuckDB."""
    agg = sketch.agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_h")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(1 << 60))
        / F.col("kth_h").cast("double")
    )
    return agg.select("n_kept", "kth_h", est.alias("distinct_est"))


def kmv_sketch_by(
    df: DataFrame,
    keys: list[str],
    term_col: str = "term",
    k: int = 64,
    seed: str = "kmv",
) -> DataFrame:
    """Per-group KMV sketches: for each distinct ``keys`` tuple, the k
    smallest distinct ``hash64(term, seed)`` values — (keys…, h) rows,
    ≤ k per group. The bounded-shuffle alternative to per-group
    COUNT(DISTINCT): that shuffle carries every distinct (group, term)
    pair, this one carries ≤ partitions × groups × k rows (each partition
    emits at most k per group via the same Arrow local-top-k kernel as
    :func:`kmv_sketch_terms`), and the final per-group top-k window runs
    over those bounded partials — keyed by group, never a single-partition
    window."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    in_schema = dict(zip(df.schema.names, df.schema.fields))
    key_schema = ", ".join(
        f"{n} {in_schema[n].dataType.simpleString()}" for n in keys
    )
    hashed = (
        df.filter(F.col(term_col).isNotNull())
        .select(*keys, hash64(F.col(term_col), seed).alias("h"))
    )

    def _local_kmin_by(batches):
        import pandas as pd

        state = None
        for pdf in batches:
            cur = pdf.drop_duplicates()
            both = cur if state is None else pd.concat([state, cur])
            both = both.drop_duplicates().sort_values([*keys, "h"])
            # dropna=False: a NULL group key is a real group (the window
            # merge below keeps it; dropping it here would silently lose
            # the group's sketch)
            state = both.groupby(list(keys), sort=False, dropna=False).head(k)
        if state is not None and len(state):
            yield state

    partial = hashed.mapInPandas(_local_kmin_by, f"{key_schema}, h long")
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy("h")
    return (
        partial.distinct()
        .withColumn("__kmv_rn", F.row_number().over(w))
        .filter(F.col("__kmv_rn") <= k)
        .drop("__kmv_rn")
    )


def kmv_estimate_by(sketches: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Per-group :func:`kmv_estimate` over :func:`kmv_sketch_by` output:
    one row per group with (keys…, n_kept, kth_h, distinct_est). One
    aggregation over ≤ groups × k rows."""
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(1 << 60))
        / F.col("kth_h").cast("double")
    )
    return (
        sketches.groupBy(*keys)
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("kth_h"))
        .select(*keys, "n_kept", "kth_h", est.alias("distinct_est"))
    )


def kmv_overlap(sk_a: DataFrame, sk_b: DataFrame, k: int) -> DataFrame:
    """Theta-sketch-style set-operation estimates from two KMV sketches
    built with the SAME (k, seed): one row with ``n_inter`` / ``n_union``
    (candidate hashes below theta), ``theta``, ``inter_est`` /
    ``union_est`` (distinct-count estimates for A∩B / A∪B) and
    ``jaccard_est`` — the 100 TB contamination question ("how many
    distinct shingles do train and test share") answered from two ≤ k-row
    sketches instead of a distinct-key join of both corpora.

    Theta is each sketch's inclusion threshold — its k-th smallest hash
    when full, 2^60 (everything) when the sketch holds the whole distinct
    set — and the shared theta is the min of the two: below it BOTH
    sketches are complete samples of their sets, so candidate counts are
    exact counts over a uniform 2^-60·theta sample and estimates divide
    by the sampled fraction. When neither sketch is full theta = 2^60,
    the fraction is 1.0 and every output is EXACT. All integer set ops +
    one IEEE division, so DuckDB reproduces every field bit-for-bit.

    Shape: two ≤ k-row inputs — the join, union and aggregates all run on
    sketch-sized data (the 1-row theta frame broadcasts); nothing here
    ever touches a corpus. The inputs are eagerly lineage-cut FIRST
    (``artifacts.checkpoint_tracked``): each sketch feeds the theta
    aggregate, the intersection, and the union — five subplan reuses
    total. The r11 persist fixed re-EXECUTION (82 s → 7 s on the composed
    corpus_e2e_prep at sf0.1), but persist leaves the full lineage in the
    analyzed plan of every reference, and when the input is the tail of a
    deep composed pipeline the DRIVER pays seconds of re-analysis per
    reference (r12: 12.6 s of planning for ~2 s of execution on the same
    query — data-size-independent, which is how it hid from the sf
    scaling tables). The eager checkpoint runs the ≤ k-row sketch build
    here and hands consumers a leaf plan: 12.6 s → 0.5 s measured."""
    from ctcityscraper_spark.operators.artifacts import checkpoint_tracked

    pow60 = 1 << 60
    sk_a = checkpoint_tracked(sk_a.select("h"))
    sk_b = checkpoint_tracked(sk_b.select("h"))
    th_a = sk_a.agg(
        F.count("*").alias("na"), F.max("h").alias("ma")
    ).select(
        F.when(F.col("na") < k, F.lit(pow60))
        .otherwise(F.col("ma"))
        .alias("theta_a")
    )
    th_b = sk_b.agg(
        F.count("*").alias("nb"), F.max("h").alias("mb")
    ).select(
        F.when(F.col("nb") < k, F.lit(pow60))
        .otherwise(F.col("mb"))
        .alias("theta_b")
    )
    theta = th_a.crossJoin(th_b).select(
        F.least("theta_a", "theta_b").alias("theta")
    )
    inter = sk_a.select("h").join(sk_b.select("h"), "h", "inner")
    union = sk_a.select("h").unionByName(sk_b.select("h")).distinct()
    n_inter = (
        inter.crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count("*").alias("n_inter"))
    )
    n_union = (
        union.crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count("*").alias("n_union"))
    )
    frac = F.col("theta").cast("double") / F.lit(float(pow60))
    jac = F.when(F.col("n_union") == 0, F.lit(0.0)).otherwise(
        F.col("n_inter").cast("double") / F.col("n_union").cast("double")
    )
    return (
        n_inter.crossJoin(n_union)
        .crossJoin(theta)
        .select(
            "n_inter",
            "n_union",
            "theta",
            (F.col("n_inter").cast("double") / frac).alias("inter_est"),
            (F.col("n_union").cast("double") / frac).alias("union_est"),
            jac.alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------- quantile
#
# Bounded-state quantile sketch — the FOURTH mergeable-sketch family
# (Bloom = membership / bit_or, Count-Min = frequency / SUM, KMV =
# cardinality / min-k-of-distinct, this = distribution / min-k-BY-HASH
# carrying values). The sketch is the k rows whose hash64(row_id, seed)
# is smallest, each carrying its value: a deterministic simple random
# sample without replacement (the hash is uniform on [0, 2^60), so
# bottom-k-by-hash IS uniform sampling — the KMV trick, keyed on ROW
# identity instead of value identity so duplicated values keep their
# true frequency weight). Min-k-by-hash is associative + idempotent
# (row ids are globally unique, so the same row contributes the same
# (h, val) pair wherever it appears), which gives the standard family
# contract for free: per-partition partials, per-batch deltas, and
# stored epochs all merge into EXACTLY the fresh-build sketch.
#
# Estimator: with the sample sorted by (val, h), the p-th percentile is
# the value at rank ceil(p·n/100) = (p·n + 99) // 100 — a pure-integer
# rank rule (no float multiply, no interpolation), so DuckDB reproduces
# every estimate bit-for-bit and a corpus with ≤ k valid rows gets its
# EXACT deterministic-rank percentiles (the sample is then the whole
# dataset). Unlike t-digest/KLL there is no float register math to
# diverge cross-engine — accuracy is the classic sample-quantile bound
# (±O(1/√k) in rank), the right trade for an oracle-exact monitor.

# Bump when the hash derivation or row layout of persisted quantile
# zones changes — a stored sample probed under a different (k, seed)
# estimates garbage. Stamped next to persisted sample zones by
# streaming.events (ensure_zone_meta) and validated on every read.
QUANTILE_FORMAT_VERSION = 1


def quantile_sketch(
    df: DataFrame,
    value_col: str = "val",
    id_col: str = "doc_id",
    k: int = 256,
    seed: str = "qsk",
) -> DataFrame:
    """Quantile sketch of (id, value) rows: the k rows with the smallest
    distinct ``hash64(id, seed)``, carrying their values — a ≤ k-row
    (h, val) frame that is a deterministic uniform sample.

    Scale shape (same as :func:`kmv_sketch_terms`): a naive
    ``orderBy(hash).limit(k)`` range-shuffles the full corpus to throw
    away all but k rows. Instead an Arrow ``mapInPandas`` pass keeps
    each partition's k smallest locally (bounded memory: carried state
    never exceeds k rows), so the only shuffle input is
    ≤ partitions × k rows, reduced by :func:`merge_quantile_sketches`.
    Min-k-by-hash is insensitive to partitioning, so the result is
    bit-identical to the naive plan — the DuckDB oracle
    (``ORDER BY h, val LIMIT k``) reproduces it exactly. NULL ids, NULL
    values and NaN values are excluded (NaN would poison the value
    ordering differently per engine; a NULL id has no stable identity
    to sample by)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    val = F.col(value_col).cast("double")
    hashed = (
        df.filter(
            F.col(id_col).isNotNull() & val.isNotNull() & ~F.isnan(val)
        )
        .select(hash64(F.col(id_col), seed).alias("h"), val.alias("val"))
    )

    def _local_kmin(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cur = pdf.drop_duplicates()
            both = cur if best is None else pd.concat([best, cur])
            best = both.drop_duplicates().sort_values(["h", "val"]).head(k)
        if best is not None and len(best):
            yield best

    return merge_quantile_sketches(
        hashed.mapInPandas(_local_kmin, "h long, val double"), k
    )


def merge_quantile_sketches(frames: DataFrame, k: int) -> DataFrame:
    """Merge (h, val) quantile sketches built with the SAME (k, seed):
    distinct union, keep the k smallest by (h, val). Any mix of full
    sketches, per-partition partials, per-batch deltas, or stored epochs
    — min-k-by-hash over globally-unique row ids is associative and
    idempotent, so the merge EQUALS a fresh build over the union (the
    quantile analogue of ``merge_kmv``, and the single definition shared
    by the batch path and the streaming sink's compaction transform).
    Inputs are ≤ k rows each, so this runs over ≤ frames × k rows —
    never the raw stream."""
    return frames.select("h", "val").distinct().orderBy("h", "val").limit(k)


def update_quantile_sketch(
    stored: DataFrame,
    batch: DataFrame,
    value_col: str = "val",
    id_col: str = "doc_id",
    k: int = 256,
    seed: str = "qsk",
) -> DataFrame:
    """Incremental maintenance: fold one new batch into a stored quantile
    sketch — build the batch's own ≤ k-row delta, then
    :func:`merge_quantile_sketches` over ≤ 2k rows. Delta-sized: the
    stored corpus contributes its k sample rows, never its raw stream,
    so per-batch upkeep costs O(batch) + O(k log k) regardless of corpus
    size. Exact: merged state ≡ a fresh build over everything ingested
    (associativity — property-tested on arbitrary splits). Row ids must
    be unique across batches (the same id re-ingested contributes its
    original (h, val) pair once — idempotent replay, but a MUTATED value
    under a reused id would sample both versions; version the id if
    values mutate)."""
    delta = quantile_sketch(batch, value_col, id_col, k=k, seed=seed)
    return merge_quantile_sketches(stored.unionByName(delta), k)


def quantile_estimate(
    sketch: DataFrame, percentiles: tuple = (25, 50, 75, 90, 99)
) -> DataFrame:
    """Percentile estimates from a ≤ k-row quantile sketch: one row per
    requested integer percentile with (pct, n_kept, est) where ``est``
    is the sample value at rank ``(pct·n_kept + 99) // 100`` under the
    total order (val, h). Pure integer rank arithmetic — cross-engine
    exact, no interpolation. All sketch-sized: one ≤ k-row window + a
    broadcast nested-loop join against the ≤ |percentiles|-row literal
    frame (the single-partition window is deliberate — the input is
    ≤ k rows by construction). Implemented as the keys=[] instance of
    :func:`quantile_estimate_by` so the validation and rank rule have
    exactly one definition."""
    return quantile_estimate_by(sketch.select("h", "val"), [], percentiles)


def quantile_drift(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    percentiles: tuple = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Epoch-over-epoch distribution drift from two quantile sketches
    built with the same (k, seed): one row per percentile with
    (pct, est_a, est_b, drift = est_b - est_a) plus both sample sizes.
    The monitoring join a nightly pipeline alerts on — "did this epoch's
    quality distribution move" — computed entirely from two ≤ k-row
    samples (sketch-sized work; the raw epochs are never re-read). The
    subtraction is over values both engines selected identically, so the
    drift column is IEEE-exact cross-engine.

    The percentile join is FULL OUTER: an epoch whose sketch is empty
    (no valid values — a stalled crawl, an all-NULL quality column)
    still yields one row per requested percentile, with NULL est/n_kept
    on the missing side and NULL drift. A nightly monitor alerting on
    this frame therefore sees a loud NULL signal instead of silently
    seeing "no data" (an inner join would return zero rows)."""
    ea = quantile_estimate(sketch_a, percentiles).select(
        "pct",
        F.col("n_kept").alias("n_kept_a"),
        F.col("est").alias("est_a"),
    )
    eb = quantile_estimate(sketch_b, percentiles).select(
        "pct",
        F.col("n_kept").alias("n_kept_b"),
        F.col("est").alias("est_b"),
    )
    return ea.join(eb, "pct", "full_outer").select(
        "pct",
        "n_kept_a",
        "n_kept_b",
        "est_a",
        "est_b",
        (F.col("est_b") - F.col("est_a")).alias("drift"),
    )


def quantile_sketch_by(
    df: DataFrame,
    keys: list[str],
    value_col: str = "val",
    id_col: str = "doc_id",
    k: int = 64,
    seed: str = "qsk",
) -> DataFrame:
    """Per-group quantile sketches: for each distinct ``keys`` tuple, the
    k rows with the smallest ``hash64(id, seed)`` carrying their values —
    (keys…, h, val) rows, ≤ k per group. The bounded-shuffle alternative
    to per-group exact percentiles: that needs a full shuffle of every
    (group, value) pair plus a per-group sort, this one carries
    ≤ partitions × groups × k rows (each partition emits at most k per
    group via the same local-bottom-k kernel) and the final per-group
    top-k window runs over those bounded partials — keyed by group,
    never single-partition. NULL group keys are real groups (kept, like
    :func:`kmv_sketch_by`)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    in_schema = dict(zip(df.schema.names, df.schema.fields))
    key_schema = ", ".join(
        f"{n} {in_schema[n].dataType.simpleString()}" for n in keys
    )
    val = F.col(value_col).cast("double")
    hashed = (
        df.filter(
            F.col(id_col).isNotNull() & val.isNotNull() & ~F.isnan(val)
        )
        .select(*keys, hash64(F.col(id_col), seed).alias("h"), val.alias("val"))
    )

    def _local_kmin_by(batches):
        import pandas as pd

        state = None
        for pdf in batches:
            cur = pdf.drop_duplicates()
            both = cur if state is None else pd.concat([state, cur])
            both = both.drop_duplicates().sort_values([*keys, "h", "val"])
            # dropna=False: a NULL group key is a real group
            state = both.groupby(list(keys), sort=False, dropna=False).head(k)
        if state is not None and len(state):
            yield state

    partial = hashed.mapInPandas(
        _local_kmin_by, f"{key_schema}, h long, val double"
    )
    w = Window.partitionBy(*keys).orderBy("h", "val")
    return (
        partial.distinct()
        .withColumn("__q_rn", F.row_number().over(w))
        .filter(F.col("__q_rn") <= k)
        .drop("__q_rn")
    )


def quantile_estimate_by(
    sketches: DataFrame,
    keys: list[str],
    percentiles: tuple = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Per-group :func:`quantile_estimate` over :func:`quantile_sketch_by`
    output: one row per (group, percentile) with (keys…, pct, n_kept,
    est). Group-keyed windows over ≤ groups × k rows + the broadcast
    percentile-literal join — never a corpus-sized shuffle."""
    for p in percentiles:
        if not (isinstance(p, int) and 1 <= p <= 100):
            raise ValueError(
                f"percentiles must be integers in [1, 100], got {p!r}"
            )
    w = Window.partitionBy(*keys).orderBy("val", "h")
    s = (
        sketches.withColumn("rn", F.row_number().over(w))
        .withColumn("n_kept", F.count("*").over(Window.partitionBy(*keys)))
    )
    spark = sketches.sparkSession
    ps = local_rows_df(spark, [(int(p),) for p in percentiles], ["pct"], "pct int")
    target = F.expr("(pct * n_kept + 99) div 100")
    return (
        s.join(F.broadcast(ps), F.col("rn") == target)
        .select(*keys, "pct", "n_kept", F.col("val").alias("est"))
    )
