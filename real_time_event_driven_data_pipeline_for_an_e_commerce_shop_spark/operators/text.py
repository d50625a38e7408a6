"""Text-analysis operators over the ``documents`` table.

The reference has no text surface (SURVEY.md §2.6 — no regex, no string
functions beyond S3 key manipulation); these are the training-data-
pipeline extensions mandated by BASELINE.json's north star, built
entirely from JVM-side ``pyspark.sql.functions`` so they stay inside
whole-stage codegen — no Python in the hot path.

Cross-engine determinism: only +,-,*,/ on doubles, integer counts, and
``floor``-based rounding (``functions/core.py``) in the hot paths; the
two transcendental exceptions (``exp`` in the quality-model sigmoid,
``ln`` in BM25's idf) are det-rounded before any comparison or decimal
sum, which absorbs any last-ulp libm divergence between Spark and the
DuckDB oracle (both hash-green every round).

At 100 TB: the scoring operators (quality, lang-id, fingerprints,
token stats) are narrow maps over ``documents`` — no shuffle, fully
pipelined with the parquet scan, scan-bound. The corpus-model
operators (BM25, LM perplexity, source drift, n-gram novelty) add
key-partitioned aggregates and one model join each — always a SHUFFLE
join on the model side (vocab/shingle tables are unbounded, never
broadcast), with map-side combine collapsing the token stream first.
``split`` on ``\\s+`` is the tokenizer everywhere so token counts
agree across operators and engines.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import det_round, md5_long, ratio

#: probes-DataFrame → row count, keyed by object identity (ADVICE r15:
#: ``decontaminate_spans`` must not re-run its broadcast-gate count job
#: every call when the SAME static probe table is passed per
#: micro-batch). Weak keys: entries die with the DataFrame.
_PROBE_COUNTS: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary()
)

# deterministic mini stoplists per language for the n-gram/stopword
# heuristic language classifier; ASCII-only on purpose (the heuristic
# must behave identically on any engine's collation).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "que", "es", "una"),
    "zh": ("de", "shi", "bu", "le", "zai"),
}

STOPWORDS = tuple(sorted({w for ws in LANG_MARKERS.values() for w in ws}))

PUNCT_CLASS = r"[^.,;:!?]"  # negated: replace non-punct away, count rest


def tokens(text: Column) -> Column:
    """Whitespace tokenizer — the shared token definition."""
    return F.split(F.trim(text), r"\s+")


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting: total, distinct, and mean token length."""
    t = tokens(F.col("text"))
    return documents.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_unique_tokens"),
        det_round(
            ratio(F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", "")), F.size(t)),
            4,
        ).alias("avg_token_len"),
    )


def quality_score(
    documents: DataFrame, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Heuristic quality scoring: length, punctuation density, stopword
    density, and a deterministic compound score in [0, ~1].
    ``keep_cols`` pass extra input columns through the projection so a
    composed pipeline (e.g. the curation funnel's fingerprint) shares
    THIS scan instead of re-reading the corpus."""
    t = tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(t)
    punct = F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    stop_hits = F.size(
        F.filter(t, lambda x: x.isin(*STOPWORDS))
    )
    punct_ratio = ratio(punct, F.greatest(n_chars, F.lit(1)))
    stop_ratio = ratio(stop_hits, F.greatest(n_tokens, F.lit(1)))
    # bounded length factor: min(n_chars, 500)/500 — favors non-trivial docs
    len_factor = ratio(F.least(n_chars, F.lit(500)), F.lit(500))
    return documents.select(
        "doc_id",
        *keep_cols,
        n_chars.cast("long").alias("n_chars_measured"),
        n_tokens.cast("long").alias("n_tokens"),
        det_round(punct_ratio, 4).alias("punct_ratio"),
        det_round(stop_ratio, 4).alias("stopword_ratio"),
        det_round(
            (len_factor + stop_ratio + (F.lit(1.0) - punct_ratio)) / F.lit(3.0), 4
        ).alias("quality_score"),
    )


#: Logistic quality-model coefficients. Weights are DATA, not code: a
#: coefficient vector trained offline (fastText / sklearn LR on labeled
#: quality judgments) drops into ``quality_model_score(weights=...)``
#: with zero plan change — the engine ships the deterministic scoring
#: half of the classifier, entirely JVM-side.
QUALITY_MODEL_WEIGHTS = {
    "bias": -1.5,
    "len_factor": 2.2,
    "stop_ratio": 1.8,
    "punct_ratio": -2.5,
    "ttr": 0.8,
}


def quality_model_score(
    documents: DataFrame,
    weights: dict[str, float] | None = None,
    threshold: float = 0.5,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Model-based quality scoring: a logistic layer over the heuristic
    feature vector (length factor, stopword ratio, punctuation ratio,
    type-token ratio) — ``sigmoid(w·x + b)`` as whole-stage-codegen
    expressions, no UDF.

    ``keep`` thresholds the ROUNDED score so the boolean is identical
    cross-engine (a raw-float threshold could flip on a last-ulp
    ``exp`` difference between libms). One scan, zero shuffles —
    scan-fused like ``pii_redaction``. ``keep_cols`` carries extra
    input columns through the projection (the ``quality_score``
    shared-scan discipline) so a composing caller never joins two
    projections of the same corpus scan back together.
    """
    w = {**QUALITY_MODEL_WEIGHTS, **(weights or {})}
    t = tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(t)
    punct = F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    stop_hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    punct_ratio = ratio(punct, F.greatest(n_chars, F.lit(1)))
    stop_ratio = ratio(stop_hits, F.greatest(n_tokens, F.lit(1)))
    len_factor = ratio(F.least(n_chars, F.lit(500)), F.lit(500))
    ttr = ratio(F.size(F.array_distinct(t)), F.greatest(n_tokens, F.lit(1)))
    z = (
        F.lit(float(w["bias"]))
        + F.lit(float(w["len_factor"])) * len_factor
        + F.lit(float(w["stop_ratio"])) * stop_ratio
        + F.lit(float(w["punct_ratio"])) * punct_ratio
        + F.lit(float(w["ttr"])) * ttr
    )
    score = det_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return documents.select(
        "doc_id",
        *keep_cols,
        score.alias("model_quality"),
        (score >= F.lit(threshold)).alias("keep"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-marker language heuristic.

    Scores each language by how many of its marker words occur in the
    distinct token set; argmax with a fixed precedence order
    (en>de>fr>es>zh) as the deterministic tie-break.
    """
    toks = F.array_distinct(tokens(F.lower(F.col("text"))))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in LANG_MARKERS.items()
    }
    order = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in order])
    pred = F.lit(None).cast("string")
    for lang in reversed(order):  # earlier langs win ties: build from the back
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    out = documents.select(
        "doc_id",
        "lang",
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in order],
        pred.alias("predicted_lang"),
    )
    return out


def top_terms(documents: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-wide top-k terms: explode tokens → hash-agg counts →
    global top-k window. The explode fans each doc into its tokens
    (narrow, pipelined with the scan); map-side partial aggregation
    collapses the shuffle to |vocabulary| rows, so the top-k window
    never sees raw token occurrences."""
    tok = documents.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    counts = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), F.asc("term"))
    return (
        counts.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
        .select("term_rank", "term", "n_occurrences")
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    — the exact-dedup key at scale (hash once, group on 32 bytes
    instead of shuffling full documents)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return documents.select(
        "doc_id", F.md5(norm.cast("binary")).alias("fingerprint")
    )


def winnowing_fingerprints(
    documents: DataFrame, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram
    of the normalized text, then keep the minimum hash of each sliding
    window of ``window`` consecutive k-gram hashes. Guarantees at least
    one fingerprint per ``window + k - 1`` characters, so partial
    overlaps between documents share fingerprints (unlike whole-doc
    hashing) while storing ~2/(window+1) of the k-gram hashes.

    Entirely JVM higher-order functions (sequence → substr → md5 →
    slice/array_min) — no UDF, no shuffle before the final explode; at
    100 TB this pipelines with the document scan and the fingerprint
    join for plagiarism/overlap detection shuffles only (doc_id,
    fingerprint) pairs. The k-gram hash is the first 8 hex chars of
    md5 as an integer, computable identically in the SQL oracle."""
    # Relational formulation: one row per k-gram (posexplode of the
    # position range), so each md5 is evaluated exactly once, then the
    # sliding-window minimum as a ROWS-frame window function and a
    # distinct. An array-lambda formulation (slice + array_min inside
    # transform) is O(n²): Catalyst re-inlines the hash-array
    # expression into every lambda element. Shuffles are narrow —
    # (doc_id, pos, hash8) triples — and partition by doc_id, so at
    # 100 TB this scales with corpus bytes, not corpus².
    from pyspark.sql import Window as W

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    grams = (
        documents.select("doc_id", norm.alias("_t"))
        .filter(F.length("_t") >= k + window - 1)
        # repartition by the window key BEFORE the k-gram explode: the
        # md5-per-gram map work spreads over the cluster even when the
        # corpus arrives as one input split, and the window's
        # hash(doc_id) requirement is already satisfied — no second
        # shuffle of the (much larger) exploded gram rows.
        .repartition(F.col("doc_id"))
        .select(
            "doc_id",
            (F.length("_t") - F.lit(k - 1)).alias("_n"),
            F.posexplode(F.sequence(F.lit(1), F.length("_t") - F.lit(k - 1))).alias(
                "_idx", "_pos"
            ),
            F.col("_t"),
        )
        .select(
            "doc_id",
            "_n",
            "_pos",
            F.conv(
                F.substring(
                    F.md5(F.substr(F.col("_t"), F.col("_pos"), F.lit(k)).cast("binary")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long").alias("_h"),
        )
    )
    win = (
        W.partitionBy("doc_id")
        .orderBy("_pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    return (
        grams.withColumn("_wmin", F.min("_h").over(win))
        .filter(F.col("_pos") <= F.col("_n") - F.lit(window - 1))
        .select("doc_id", F.col("_wmin").alias("fingerprint"))
        .distinct()
    )


def winnowing_fingerprints_arrow(
    documents: DataFrame, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing fingerprints, Arrow-batched formulation — bit-identical
    output to :func:`winnowing_fingerprints` (same normalization, same
    md5-8-hex k-gram hash, same window minimum, same per-doc distinct),
    with a fundamentally better distributed shape.

    Winnowing is embarrassingly per-document, but the relational
    formulation must materialize one row per k-gram (≈ |text| rows per
    doc) and push them through a per-doc window sort — at sf0.1 that is
    2.8M shuffled rows for 44k output fingerprints. Here each document
    never leaves its input partition: ``mapInPandas`` receives Arrow
    batches of (doc_id, text), computes the k-gram hashes and the
    sliding-window minimum as a numpy ``sliding_window_view`` reduction,
    and emits only the deduplicated fingerprints. Zero shuffles, output
    ≈ 2/(window+1) of the gram count — the shape that wins at 100 TB
    (ROADMAP r1 #2 / VERDICT r1 next-round #4).

    Cross-engine parity notes (why this is bit-identical, and tested):
    * normalization mirrors ``trim(regexp_replace(lower(text), '\\s+',
      ' '))`` — Python ``re.ASCII`` makes ``\\s`` = Java's default
      ``[ \\t\\n\\x0B\\f\\r]``, and the trim strips the same ≤ U+0020
      range as Java ``trim``;
    * the hash is ``int(md5(utf8(gram))[:8], 16)`` exactly as the JVM
      side's ``conv(substring(md5(...), 1, 8), 16, 10)``.
    """
    import numpy as np
    import pandas as pd

    trim_chars = "".join(chr(c) for c in range(0x21))

    def gen(batches):
        import hashlib
        import re

        ws = re.compile(r"\s+", re.ASCII)

        for pdf in batches:
            out_ids: list[np.ndarray] = []
            out_fps: list[np.ndarray] = []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                t = ws.sub(" ", txt.lower()).strip(trim_chars)
                if len(t) < k + window - 1:
                    continue
                n = len(t) - (k - 1)
                hs = np.fromiter(
                    (
                        int(
                            hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:8],
                            16,
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                mins = np.lib.stride_tricks.sliding_window_view(
                    hs, window
                ).min(axis=1)
                fps = np.unique(mins)
                out_ids.append(np.full(len(fps), doc_id, dtype=np.int64))
                out_fps.append(fps)
            if out_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_ids),
                        "fingerprint": np.concatenate(out_fps),
                    }
                )

    # repartition the (narrow) doc rows BEFORE the Python stage: a small
    # corpus arrives as one input split, which would serialize the
    # per-doc hashing onto one worker. The partition count is EXPLICIT:
    # an un-numbered repartition is AQE-coalescible, and AQE sizes by
    # shuffle bytes — a few MB of text coalesces to one partition even
    # though the downstream per-gram hashing is CPU-bound (measured:
    # 2.3 s serialized vs ~0.6 s spread). Explicit counts are exempt
    # from coalescing. At 100 TB the count equals cluster parallelism
    # and the texts-only shuffle is negligible next to the gram work.
    par = documents.sparkSession.sparkContext.defaultParallelism
    return (
        documents.select("doc_id", "text")
        .repartition(par, F.col("doc_id"))
        .mapInPandas(gen, "doc_id long, fingerprint long")
    )


def token_count_bpe(documents: DataFrame, chars_per_token: int = 4) -> DataFrame:
    """BPE-ish token count estimate — the cheap, model-free proxy a
    training-data pipeline uses for budget accounting before real
    tokenization: pre-tokenize like a BPE pretokenizer (letter runs,
    digit runs, single punctuation — the GPT-2 pattern family,
    ASCII-safe so Java and RE2 regex agree byte-for-byte), then charge
    ``ceil(len/chars_per_token)`` subwords per piece. Pure JVM
    (regexp_extract_all + an integer fold); the real tokenizer drops in
    as a Pandas UDF only where exact counts are worth the Python hop."""
    pattern = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    pieces = F.regexp_extract_all(F.col("text"), F.lit(pattern), 0)
    cpt = F.lit(chars_per_token)
    subwords = F.aggregate(
        F.transform(pieces, lambda p: (F.length(p) + cpt - 1).cast("long") / cpt),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )
    return documents.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        subwords.alias("n_subwords_est"),
    )


def curate_corpus(documents: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """End-to-end corpus curation in one pass: quality gate + language
    agreement + exact-dedup canonical selection.

    All per-doc signals (quality score, predicted language, content
    fingerprint) are computed in a single projection over one scan —
    no self-joins — then one shuffle on the fingerprint picks the
    lowest-doc_id copy per content group (``min_by``). Output: the
    surviving documents with their scores and duplicate counts — the
    shape a training-data pipeline feeds to tokenization."""
    t = tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(t)
    punct = F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    punct_ratio = ratio(punct, F.greatest(n_chars, F.lit(1)))
    stop_ratio = ratio(
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))),
        F.greatest(n_tokens, F.lit(1)),
    )
    len_factor = ratio(F.least(n_chars, F.lit(500)), F.lit(500))
    score = det_round(
        (len_factor + stop_ratio + (F.lit(1.0) - punct_ratio)) / F.lit(3.0), 4
    )

    toks_lower = F.array_distinct(tokens(F.lower(F.col("text"))))
    scores = {
        lang: F.size(F.array_intersect(toks_lower, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in LANG_MARKERS.items()
    }
    order = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in order])
    pred = F.lit(None).cast("string")
    for lang in reversed(order):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    scored = documents.select(
        "doc_id",
        "lang",
        score.alias("quality_score"),
        pred.alias("predicted_lang"),
        F.md5(norm.cast("binary")).alias("fingerprint"),
    )
    kept = scored.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("predicted_lang") == F.col("lang"))
    )
    return kept.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("quality_score", "doc_id").alias("quality_score"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def repetition_stats(
    documents: DataFrame, k: int = 3, threshold: float = 0.2
) -> DataFrame:
    """Gopher-style intra-document repetition filter: the fraction of
    duplicate word ``k``-grams INSIDE each document (Rae et al. 2021,
    "Scaling Language Models" §A1.1 drops docs whose duplicate-n-gram
    share is high; C4 similarly drops boilerplate-repeating pages).
    This is the within-doc complement of the cross-doc dedup tier —
    a templated or looping document has high ``dup_fraction`` even
    when no other document matches it.

    Everything stays JVM-side — tokenize, slide a ``k``-window with
    ``transform`` over a 1-based ``sequence`` (the same shingle
    definition the dedup tier and its DuckDB oracle share), count
    total vs distinct — so at 100 TB this is scan-bound with zero
    shuffles and full column pruning: only ``doc_id`` and ``text``
    are read. The gram array materializes in its own projection so
    the two counts don't each rebuild it (higher-order expressions
    get no codegen CSE), and ``repetitive`` compares the det-rounded
    fraction so the boundary decision is identical cross-engine.
    """
    from ..functions.core import spread_small_input

    t = tokens(F.lower(F.col("text")))
    n = F.size(t)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda s: F.array_join(F.slice(t, s, k), " "),
        ),
    ).otherwise(F.array(F.array_join(t, " ")))
    out = (
        spread_small_input(documents)
        .select("doc_id", grams.alias("_grams"))
        .select(
            "doc_id",
            F.size("_grams").cast("long").alias("n_grams"),
            F.size(F.array_distinct("_grams")).cast("long").alias(
                "n_distinct_grams"
            ),
        )
    )
    dup = det_round(
        F.lit(1.0) - ratio(F.col("n_distinct_grams"), F.col("n_grams")), 6
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        dup.alias("dup_fraction"),
        (dup > F.lit(threshold)).alias("repetitive"),
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval: rank documents against a bag of query
    terms with the Robertson/Sparck-Jones scoring the classic search
    stacks (Lucene, Elastic) default to —

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln((N − df + 0.5) / (df + 0.5) + 1)

    The retrieval half of a RAG data pipeline (keyword recall next to
    the ANN tier's vector recall), expressed as the inverted-index
    plan, not a scan-per-query:

    * tokens explode narrow and are filtered to the query vocabulary
      BEFORE any shuffle — the tf aggregation only ever carries
      |matched doc-term| rows, never the corpus token stream;
    * document length and corpus stats (N, avgdl) are one map-side
      aggregate; df-per-term and the two scalars broadcast (the query
      has a handful of terms — the canonical small side);
    * per-term contributions are det-rounded to 8 digits and summed
      as DECIMAL so the score is independent of term arrival order —
      the same determinism discipline as every money sum here;
    * the top-k is ``orderBy().limit(k)`` — Spark plans
      TakeOrderedAndProject (per-partition heap + driver merge of
      k·partitions rows), NOT a global single-task sort; the rank
      window then runs over k rows, not |matched docs|. A common term
      can match the whole corpus and the plan does not care.

    At 100 TB: two scans of the token stream (lengths, tf), both
    collapsing map-side; everything after the tf groupBy is bounded
    by |matched docs| rows of a few columns.
    """
    terms = sorted({t.lower() for t in query_terms})
    toks = documents.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    doc_len = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _bm25_rank(tf, doc_len, k, k1, b)


def _bm25_rank(
    tf: DataFrame, doc_len: DataFrame, k: int, k1: float, b: float
) -> DataFrame:
    """The scoring tail :func:`bm25_topk` and :func:`bm25_from_term_state`
    share: from the query-term ``(doc_id, term, tf)`` rows and every
    document's ``(doc_id, dl)`` length, the corpus stats, df, the
    det-rounded decimal score sum and the ranked top-k."""
    from pyspark.sql import Window

    stats = doc_len.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm_tf = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contrib = det_round(idf * norm_tf, 8).cast("decimal(18,8)")
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(contrib).cast("double").alias("_s"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    topk = per_doc.orderBy(F.desc("_s"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    return (
        topk.withColumn("bm25_rank", F.row_number().over(w).cast("long"))
        .select(
            "bm25_rank",
            "doc_id",
            det_round(F.col("_s"), 6).alias("bm25_score"),
            "n_terms_matched",
        )
    )


def feature_hash_vectors(
    documents: DataFrame, dim: int = 64
) -> DataFrame:
    """Hashing-trick text vectorizer (Weinberger et al.): every token
    maps to a bucket ``md5_48(term) mod dim`` with a ±1 sign drawn
    from the next hash bit, signed counts accumulate per bucket, and
    the bucket array L2-normalizes into a dense ``array<double>`` —
    a model-free, training-free embedding that turns the corpus's
    text into REAL vectors for the ANN / semantic-dedup tier (the
    engine's own text→vector path, no external embedding service).

    Determinism chain (the engine discipline): the md5-prefix hash is
    cross-engine recomputable (``functions.core.md5_long``), signed
    counts are exact integer sums, the squared norm is an exact
    integer-valued double (sum of squares of longs), and each
    component is one IEEE division by one correctly-rounded sqrt —
    reproducible bit-for-bit with no rounding step.

    Scale shape: explode → (doc, bucket) hash-agg (map-side combine
    collapses the token stream to ≤ dim rows per doc), one dense-map
    projection per doc — the same two-shuffle reduction as
    ``daily_activity_vectors``. Zero-signal docs (all buckets cancel;
    possible only for adversarial token sets) are dropped like
    zero-variance series.
    """
    h = md5_long(F.col("term"))
    per_bucket = (
        documents.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .select(
            "doc_id",
            F.pmod(h, F.lit(dim)).alias("_b"),
            F.when(
                F.pmod(F.floor(h / F.lit(dim)), F.lit(2)) == 0, F.lit(1)
            ).otherwise(F.lit(-1)).alias("_s"),
        )
        .groupBy("doc_id", "_b")
        .agg(F.sum("_s").alias("_c"))
    )
    per_doc = per_bucket.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_c"))).alias("_m"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("_m")[i], F.lit(0)).cast("double")
        / F.sqrt(F.col("_s2").cast("double")),
    )
    return per_doc.filter(F.col("_s2") > 0).select(
        "doc_id", vec.alias("feature_vec")
    )


def feature_hash_audit(documents: DataFrame, dim: int = 64) -> DataFrame:
    """Hash-checkable scalar audit of :func:`feature_hash_vectors` —
    arrays don't stringify identically across engines, so (like the
    int8-quantization audit) the correctness gate rides per-doc
    scalars computed from the SAME (doc, bucket) signed counts the
    vector path aggregates: token count, nonzero buckets, the exact
    pre-normalization L2 norm, and the position-weighted component
    checksum Σ(bucket+1)·c / ‖c‖ — any bucket, sign, count, or
    normalization divergence shifts at least one of them."""
    h = md5_long(F.col("term"))
    per_bucket = (
        documents.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .select(
            "doc_id",
            F.pmod(h, F.lit(dim)).alias("_b"),
            F.when(
                F.pmod(F.floor(h / F.lit(dim)), F.lit(2)) == 0, F.lit(1)
            ).otherwise(F.lit(-1)).alias("_s"),
        )
        .groupBy("doc_id", "_b")
        .agg(F.sum("_s").alias("_c"), F.count(F.lit(1)).alias("_n"))
    )
    return per_bucket.groupBy("doc_id").agg(
        F.sum("_n").cast("long").alias("n_terms"),
        F.sum((F.col("_c") != 0).cast("long")).alias("n_nonzero"),
        det_round(F.sqrt(F.sum(F.col("_c") * F.col("_c")).cast("double")), 6)
        .alias("l2_norm"),
        det_round(
            F.sum((F.col("_b") + 1) * F.col("_c")).cast("double")
            / F.sqrt(F.sum(F.col("_c") * F.col("_c")).cast("double")),
            6,
        ).alias("weighted_checksum"),
    ).filter(F.col("l2_norm") > 0)


def materialize_feature_hash_vectors(
    documents: DataFrame, path: str, dim: int = 64
) -> DataFrame:
    """Write :func:`feature_hash_vectors` to a parquet zone table ONCE
    and return the read-back DataFrame — the materialize-vectors seam
    (VERDICT r6 #1 / ROADMAP r6 #3).

    Why a zone write and not ``.persist()``: the semantic-dedup chain
    composes the vector subplan into several branches (per-table SRP
    bucketing plus the verify join-back attaches vectors twice), and a
    plan-pure composition re-derives the full tokenize→hash→normalize
    scan for EACH branch — measured ~6 derivations at sf0.1, i.e. ~6
    corpus scans where one would do, and at 100 TB six linear passes
    over the raw text. ``.persist()`` would pin the vectors to executor
    memory/disk for the session (cluster-state a registered query must
    not leak) and still re-derives on eviction; the zone write is the
    same discipline the BM25/LM term-state tables use
    (:func:`bm25_from_term_state`): compute the reusable state once,
    land it as columnar parquet, and let every consumer scan the
    narrow (doc_id, 64-double) table instead of the corpus. At 100 TB
    the vector table is ~n_docs × 520 B — .5% of a 100 KB/doc corpus —
    so each re-scan costs ~0.5% of a text pass.

    The read-back DataFrame is what callers compose from; results are
    bit-identical to the plan-pure path (parquet round-trips doubles
    losslessly), so oracles are unchanged.
    """
    feature_hash_vectors(documents, dim=dim).write.mode("overwrite").parquet(
        path
    )
    return documents.sparkSession.read.parquet(path)


def bm25_from_term_state(
    term_state: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k derived from the :func:`doc_term_counts` state table
    an incrementally-maintained inverted index holds — same scoring
    tail as :func:`bm25_topk` (``_bm25_rank``), so full-replay parity
    is row-exact. Document lengths are the state's per-doc tf sums;
    the query terms are a filter on it."""
    terms = sorted({t.lower() for t in query_terms})
    state = term_state.select("doc_id", "term", "tf")
    doc_len = (
        state.alias("len_side")
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
    )
    tf = (
        state.alias("tf_side")
        .filter(F.col("term").isin(terms))
        .select("doc_id", "term", "tf")
    )
    return _bm25_rank(tf, doc_len, k, k1, b)


def doc_term_counts(documents: DataFrame) -> DataFrame:
    """The ``(doc_id, term, tf)`` inverted-index grain over lowercased
    :func:`tokens`: :func:`lm_perplexity` scores from it and
    :func:`bm25_from_term_state` ranks from it. Counts are mergeable,
    so over a document stream it runs as an update-mode aggregate whose
    state is one row per distinct (doc, term) — the size of the
    inverted index itself — and each query is a batch derivation over
    that state with no reindex step."""
    toks = documents.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    return toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def lm_perplexity(
    documents: DataFrame, threshold: float = 800.0
) -> DataFrame:
    """Unigram language-model perplexity filter — the CCNet-style
    quality signal: train a maximum-likelihood unigram LM on the
    corpus ITSELF (one aggregate), score every document by its average
    negative log-likelihood under that model, and flag outliers. Docs
    whose token distribution diverges from the corpus (boilerplate,
    lorem-ipsum runs, wrong-language fragments, token soup) score HIGH
    perplexity; docs made of corpus-typical tokens score low. CCNet
    ranks Common Crawl with a 5-gram KenLM the same way; the unigram
    model is the deterministic, oracle-checkable core of that recipe
    with the same plan shape an n-gram upgrade would use (the n-gram
    table just gets a composite key).

    No smoothing is needed: every scored token exists in the training
    corpus by construction (the model trains on the same rows it
    scores), so p(t) = count(t) / N is never zero.

    Determinism: ln is the one transcendental; each per-term
    contribution ``tf · ln(ct/N)`` is det-rounded to 8 digits and
    summed as DECIMAL(28,8) (order-free), the same discipline as
    BM25's idf — and ``exp`` at the end is det-rounded to 4.

    At 100 TB: explode collapses map-side into the (doc, term) tf
    aggregate (shuffle 1, carries |distinct doc-term| not the token
    stream); term counts reduce from tf (shuffle 2, |vocab| rows); the
    scoring join re-keys tf by term (shuffle 3 — vocab is unbounded at
    corpus scale, so the model side is NOT broadcast; AQE picks the
    join strategy and splits hot-term skew); the per-doc roll-up is
    shuffle 4. Every stage is key-partitioned; the only scalar is the
    one-row token total, broadcast like every corpus stat here.
    """
    return lm_perplexity_from_term_state(
        doc_term_counts(documents), threshold=threshold
    )


def lm_perplexity_from_term_state(
    term_state: DataFrame, threshold: float = 800.0
) -> DataFrame:
    """:func:`lm_perplexity` scored from a :func:`doc_term_counts`
    state table instead of raw text — the grain that also feeds
    :func:`bm25_from_term_state`, so one update-mode aggregate serves
    both the retrieval tier AND the LM quality filter: stream keeps
    counts, each scoring run is a batch derivation over the state with
    zero re-tokenization."""
    tf = term_state.select("doc_id", "term", "tf")
    model = tf.groupBy("term").agg(F.sum("tf").alias("ct"))
    total = model.agg(F.sum("ct").cast("double").alias("n_total"))
    contrib = det_round(
        F.col("tf")
        * F.log(F.col("ct").cast("double") / F.col("n_total")),
        8,
    ).cast("decimal(28,8)")
    per_doc = (
        tf.join(model, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(contrib).cast("double").alias("_s"),
        )
    )
    avg_logp = F.col("_s") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        det_round(avg_logp, 6).alias("avg_logp"),
        det_round(F.exp(-avg_logp), 4).alias("perplexity"),
        (det_round(F.exp(-avg_logp), 4) > F.lit(threshold)).alias(
            "high_perplexity"
        ),
    )


def lm_perplexity_bigram(
    documents: DataFrame, threshold: float = 500.0
) -> DataFrame:
    """Bigram upgrade of :func:`lm_perplexity` — the composite-key
    claim that docstring makes, implemented: the model table's key
    grows from ``term`` to ``(w1, w2)``, the normalizer from one corpus
    scalar to the per-context marginal ``c(w1,·)`` (itself one more
    aggregate over the bigram counts), and the plan shape is otherwise
    IDENTICAL — tf aggregate, model join, decimal-summed det-rounded
    contributions, per-doc roll-up.

        score(d) = -1/|bigrams| · Σ ln( c(w1,w2) / c(w1,·) )

    No smoothing needed for the same reason as the unigram model: the
    model trains on the rows it scores, so every scored bigram has
    c ≥ 1. A conditional model is sharper than the unigram: a doc of
    corpus-common WORDS in corpus-unseen ORDER (shuffled text, word
    salad) scores near the unigram baseline under the unigram LM but
    high perplexity here — the signal Wenzek et al. use 5-grams for,
    at the 2-gram point of the same curve.

    Grain: docs with ≥ 2 tokens (a bigram model has nothing to say
    below that — mirrored by the oracle's WHERE). At 100 TB: same
    four key-partitioned stages as the unigram path; the (w1, w2)
    model key is higher-cardinality (good for shuffle balance), the
    ``c(w1,·)`` marginal join re-keys by w1 (Zipf-skewed — AQE
    skew-split handles the hot contexts, same as the unigram join).
    """
    arr = tokens(F.lower(F.col("text")))
    bg = (
        documents.select("doc_id", arr.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size("_t")),
                    lambda i: F.struct(
                        F.element_at("_t", i - F.lit(1)).alias("w1"),
                        F.element_at("_t", i).alias("w2"),
                    ),
                )
            ).alias("_b"),
        )
        .select("doc_id", F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    )
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    model2 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("ct2"))
    model1 = model2.groupBy("w1").agg(F.sum("ct2").alias("ct1"))
    contrib = det_round(
        F.col("tf")
        * F.log(F.col("ct2").cast("double") / F.col("ct1").cast("double")),
        8,
    ).cast("decimal(28,8)")
    per_doc = (
        tf.join(model2, ["w1", "w2"])
        .join(model1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(contrib).cast("double").alias("_s"),
        )
    )
    avg_logp = F.col("_s") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        det_round(avg_logp, 6).alias("avg_logp"),
        det_round(F.exp(-avg_logp), 4).alias("perplexity"),
        (det_round(F.exp(-avg_logp), 4) > F.lit(threshold)).alias(
            "high_perplexity"
        ),
    )


def bpe_learn_merges(
    documents: DataFrame,
    zone_dir: str,
    n_merges: int = 8,
    checkpoint_every: int = 64,
    return_vocab: bool = False,
    on_checkpoint=None,
) -> DataFrame:
    """In-engine BPE merge learning (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units") — the
    tokenizer-induction step of a training-data pipeline, run where
    the data lives instead of sampling a corpus out to a single
    machine. Returns the learned merge table
    ``(merge_rank, sym_left, sym_right, merged, pair_count)``.

    The classic algorithm on the classic state: ONE corpus scan
    reduces the text to the weighted word-type table (|vocab| rows —
    Heaps-law sublinear in corpus size; this is why Sennrich trains
    on the vocabulary, not the token stream), landed to ``zone_dir``
    (the materialize-vectors seam). Each word's symbol sequence is
    encoded as a sentinel-delimited string ``<l><o><w>`` — words are
    restricted to ``[a-z0-9]+`` so the sentinels are unambiguous.
    Then per merge:

    * one map-side-combined pair aggregate over the vocab (adjacent
      symbol pairs weighted by word count — exact integer sums);
    * the argmax pair as ONE bounded driver row (cnt DESC, then
      lexicographic (l, r) — the engine's deterministic tie-break
      discipline), mirroring the oracle's ``ORDER BY … LIMIT 1``;
    * a map-side ``replace('<l><r>' → '<lr>')`` over the sequences.
      String ``replace`` consumes occurrences left-to-right
      non-overlapping in BOTH engines, which is exactly greedy BPE
      merge application (``<a><a><a>`` under merge (a,a) →
      ``<aa><a>``), so the vocab state stays bit-identical to the
      DuckDB mirror's unrolled per-merge CTEs.

    Plan shape: the replace steps chain as narrow projections over
    the landed vocab (re-deriving nothing from text), and every
    ``checkpoint_every`` merges the merged vocab RE-LANDS to the zone
    and the chain restarts from the fresh read — the PageRank
    ping-pong discipline (``graph.py``), so plan depth (and codegen /
    analysis time) is bounded by ``checkpoint_every`` no matter how
    many merges a deployment runs (a realistic tokenizer is 32k
    merges; an unbounded chain is exactly the pre-checkpoint PageRank
    failure). Two vocab snapshots alternate (``bpe_vocab`` /
    ``bpe_vocab_alt``) so a re-land never overwrites the table it is
    reading. Stops early if the vocabulary runs out of adjacent pairs
    (every word fully merged).

    ``on_checkpoint(rank, seconds)``, if given, is called at every
    re-land (and once at the end) with the wall-clock seconds since
    the previous call — the per-block instrumentation the merge-depth
    scale measurements (scripts/bench_bpe_depth.py) read to show
    ms/merge stays flat under the re-land discipline."""
    words = (
        documents.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return bpe_learn_merges_from_words(
        words, zone_dir,
        n_merges=n_merges,
        checkpoint_every=checkpoint_every,
        return_vocab=return_vocab,
        on_checkpoint=on_checkpoint,
    )


def bpe_learn_merges_from_words(
    words: DataFrame,
    zone_dir: str,
    n_merges: int = 8,
    checkpoint_every: int = 64,
    return_vocab: bool = False,
    on_checkpoint=None,
) -> DataFrame:
    """:func:`bpe_learn_merges`' merge loop over an already-aggregated
    weighted word-type table ``(word, n)`` — the composition seam for
    corpora whose word counts already exist as maintained state: the
    unified token-event grain's 't' slice (same tokenizer, so
    ``term_state.groupBy(term).sum(tf)`` is bit-identical to the
    direct corpus scan) feeds this directly, making the BPE model
    land ZERO-text-scan when the shared corpus zone is live. The
    caller owns the ``[a-z0-9]+`` filter when deriving words from a
    grain that kept other tokens."""
    import os
    import time

    from ..sinks.files import write_zone_table

    spark = words.sparkSession
    vocab = words.select(
        F.regexp_replace("word", "(.)", "<$1>").alias("seq"), "n"
    )
    if checkpoint_every < 1:
        raise ValueError(
            f"bpe_learn_merges needs checkpoint_every >= 1, got "
            f"{checkpoint_every}"
        )
    write_zone_table(vocab, zone_dir, "bpe_vocab", layout="flat")
    v = spark.read.parquet(os.path.join(zone_dir, "bpe_vocab"))

    snapshots = ("bpe_vocab", "bpe_vocab_alt")  # ping-pong re-lands
    merges: list[tuple] = []
    t_block = time.perf_counter()
    for rank in range(1, n_merges + 1):
        arr = F.split(
            F.expr("substring(seq, 2, length(seq) - 2)"), "><"
        )
        pairs = (
            v.select(
                "n",
                F.explode(
                    F.zip_with(
                        arr,
                        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    )
                ).alias("_p"),
            )
            .filter(F.col("_p.r").isNotNull())
            .groupBy(
                F.col("_p.l").alias("l"), F.col("_p.r").alias("r")
            )
            .agg(F.sum("n").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # every word fully merged — nothing left to learn
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((rank, l, r, l + r, int(cnt)))
        v = v.select(
            F.replace(
                F.col("seq"), F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>")
            ).alias("seq"),
            "n",
        )
        if rank % checkpoint_every == 0 and rank < n_merges:
            # truncate the replace-projection lineage: land the
            # merged vocab into the OTHER snapshot and read back —
            # the next checkpoint_every merges chain over a fresh
            # 2-node plan instead of an ever-deeper one
            snap = snapshots[(rank // checkpoint_every) % 2]
            write_zone_table(v, zone_dir, snap, layout="flat")
            v = spark.read.parquet(os.path.join(zone_dir, snap))
            if on_checkpoint is not None:
                now = time.perf_counter()
                on_checkpoint(rank, now - t_block)
                t_block = now
    if on_checkpoint is not None and merges:
        on_checkpoint(merges[-1][0], time.perf_counter() - t_block)
    merges_df = spark.createDataFrame(
        merges,
        "merge_rank long, sym_left string, sym_right string, "
        "merged string, pair_count long",
    )
    if return_vocab:
        # the final merged vocab state (seq, n) — the APPLY half of
        # the tokenizer story composes from it (bpe_subword_stats)
        return merges_df, v
    return merges_df


def bpe_subword_stats(
    documents: DataFrame,
    zone_dir: str,
    n_merges: int = 8,
    top: int = 20,
    checkpoint_every: int = 64,
) -> DataFrame:
    """APPLY the in-engine-learned BPE merges: the corpus top-``top``
    SUBWORD tokens after ``n_merges`` merges — learn
    (:func:`bpe_learn_merges`) then tokenize-by-merge-table in one
    composition, the view a tokenizer-training pipeline inspects
    before freezing a vocab (which merges dominate, how much of the
    occurrence mass the learned units capture).

    The apply step is pure vocab-state arithmetic: the final merged
    symbol sequences (|vocab| rows, maintained by the learning loop —
    no corpus re-scan) explode to subwords, counts weight by word
    frequency, and the global top-k runs over the ≤|vocab|·avg_syms
    aggregate, never the token stream. Returns
    ``(subword_rank, subword, n_occurrences)``."""
    _merges, vocab = bpe_learn_merges(
        documents,
        zone_dir,
        n_merges=n_merges,
        checkpoint_every=checkpoint_every,
        return_vocab=True,
    )
    return bpe_subword_stats_from_vocab(vocab, top=top)


def bpe_subword_stats_from_vocab(vocab: DataFrame, top: int = 20) -> DataFrame:
    """The APPLY half of :func:`bpe_subword_stats` over an
    already-learned merged vocab state ``(seq, n)`` — the form the
    shared BPE model zone serves (learn once per corpus signature,
    inspect many times). Pure |vocab|-row arithmetic: no corpus scan,
    no merge loop, no driver round-trips."""
    arr = F.split(
        F.expr("substring(seq, 2, length(seq) - 2)"), "><"
    )
    counts = (
        vocab.select(F.explode(arr).alias("subword"), "n")
        .groupBy("subword")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), F.asc("subword"))
    return (
        counts.withColumn(
            "subword_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("subword_rank") <= top)
        .select("subword_rank", "subword", "n_occurrences")
    )


def _cms_cell_of(i: int, width: int) -> Column:
    """Cell index of ``term`` in sketch row ``i`` — md5-salted so the
    SQL oracle recomputes it."""
    return md5_long(F.concat(F.col("term"), F.lit(f":cms{i}"))) % width


def cms_cells_from_term_counts(
    term_counts: DataFrame, width: int = 1024, depth: int = 4
) -> DataFrame:
    """The Count-Min cell table ``(row_i, col, cell)`` from per-term
    counts ``(term, n_true)``. Cells are SUMS, so the table is
    mergeable by (row_i, col) addition — the property the streaming
    sketch gate relies on: per-epoch cell tables land append-only and
    a reader's groupBy-sum IS the corpus sketch (bit-exact vs the
    batch build, integer arithmetic throughout)."""
    return (
        term_counts.select(
            "n_true",
            F.posexplode(
                F.array(*[_cms_cell_of(i, width) for i in range(depth)])
            ).alias("row_i", "col"),
        )
        .groupBy("row_i", "col")
        .agg(F.sum("n_true").cast("long").alias("cell"))
    )


def cms_heavy_hitters(
    documents: DataFrame,
    width: int = 1024,
    depth: int = 4,
    top: int = 20,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Count-Min-sketch heavy hitters with an accuracy gate — the
    third member of the sketch tier (HLL distinct counts, GK
    quantiles, now CMS frequencies): estimate the top-``top`` terms'
    counts from a ``depth × width`` cell table and report each
    estimate against its exact count and the ε=2/width Markov bound.

    The sketch builds at VOCAB grain, not the token stream: exact
    per-term counts land first (one map-side-combined aggregate — the
    same shuffle the exact answer needs anyway at this corpus; at
    100 TB the sketch's point is that the d×w cell table is the ONLY
    thing retained/merged across corpus shards, a few KB regardless
    of vocabulary), then each term's count folds into ``depth``
    md5-salted cells. Estimates are min-over-depth cell sums — CMS
    never undercounts, and ``within_bound`` flags estimates inside
    ``n_true + ceil(2N/width)``. All-integer arithmetic: the oracle
    replays it bit-for-bit. Returns
    ``(hh_rank, term, n_true, cms_estimate, overcount, within_bound)``.
    """
    from pyspark.sql import Window

    tok = documents.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    exact = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )

    def cell_of(i: int) -> Column:
        return _cms_cell_of(i, width)

    if cells is None:
        cells = cms_cells_from_term_counts(exact, width=width, depth=depth)
    # else: a MAINTAINED cell table (the streaming sketch gate's
    # merged epochs) — bit-exact vs the inline build by construction
    w = Window.orderBy(F.desc("n_true"), F.asc("term"))
    topk = (
        exact.withColumn("hh_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("hh_rank") <= top)
    )
    probes = topk.select(
        "term",
        "n_true",
        "hh_rank",
        F.posexplode(
            F.array(*[cell_of(i) for i in range(depth)])
        ).alias("row_i", "col"),
    )
    est = (
        probes.join(cells, ["row_i", "col"])
        .groupBy("term", "n_true", "hh_rank")
        .agg(F.min("cell").cast("long").alias("cms_estimate"))
    )
    total = exact.agg(F.sum("n_true").cast("long").alias("_n"))
    bound = F.ceil(F.lit(2.0) * F.col("_n") / F.lit(width)).cast("long")
    return (
        est.crossJoin(F.broadcast(total))  # one-row total attach
        .select(
            "hh_rank",
            "term",
            "n_true",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("n_true"))
            .cast("long")
            .alias("overcount"),
            (
                (F.col("cms_estimate") >= F.col("n_true"))
                & (F.col("cms_estimate") <= F.col("n_true") + bound)
            ).alias("within_bound"),
        )
    )


def hll_registers_from_terms(terms: DataFrame, p: int = 10) -> DataFrame:
    """HyperLogLog register table ``(r_idx, rho)`` over a ``term``
    column — ALL-INTEGER and md5-based, so the SQL oracle recomputes
    it bit-exactly AND epochs merge by MAX (the fourth mergeable-state
    sketch beside the CMS cells, which merge by SUM): register index
    is a 48-bit md5 mod ``2^p``; ``rho`` is the classic
    first-one-bit position in a SECOND 48-bit hash, computed as
    ``49 - bitlength`` via ``bin()`` string length (identical
    semantics in Spark and DuckDB, verified) — occupied registers
    therefore hold rho ∈ [1, 49], and an unoccupied register is rho 0
    by omission. The register table is ≤ 2^p rows regardless of
    corpus size — the 100 TB distinct-count state."""
    m = 1 << p
    h_w = md5_long(F.concat(F.col("term"), F.lit(":hllw")))
    rho = (
        F.when(h_w == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.bin(h_w)))
        .cast("long")
    )
    return (
        terms.select(
            (
                md5_long(F.concat(F.col("term"), F.lit(":hllr"))) % m
            ).alias("r_idx"),
            rho.alias("rho"),
        )
        .groupBy("r_idx")
        .agg(F.max("rho").cast("long").alias("rho"))
    )


def hll_vocab_report(
    documents: DataFrame,
    p: int = 10,
    tolerance: float = 0.065,
    registers: DataFrame | None = None,
) -> DataFrame:
    """HLL distinct-VOCABULARY estimate with its accuracy gate — the
    custom register-table HLL (the builtin ``approx_count_distinct``
    tier is JVM-opaque; this one's state is an auditable zone table
    the streaming gate maintains by per-register MAX). One row:
    ``(m, n_occupied, max_rho, sum_scaled, exact_vocab,
    estimate_ok)`` where ``sum_scaled = Σ_occupied 2^(49-rho)`` is the
    integer-exact harmonic-sum numerator (dyadic powers ≤ 2^48 are
    exact doubles; the BIGINT sum ≤ m·2^49 < 2^63) — the oracle
    replays every integer column bit-for-bit and asserts the gate.
    The estimate itself (standard HLL: ``α_m·m²/Σ2^-rho`` with the
    linear-counting small-range correction ``m·ln(m/V)``) is computed
    Spark-side and reported only through the tolerance boolean, the
    ``approx_distinct_users`` accuracy-gate pattern — transcendental
    ln never enters the hash.

    ``tolerance`` defaults to 2σ for p=10 (σ ≈ 1.04/√m ≈ 3.25 %, so
    6.5 %) — ADVICE r11: the oracle mirrors ``estimate_ok`` as a
    constant TRUE, so a corpus whose estimate missed a tighter gate
    would surface as an opaque hash mismatch; at 2σ that's a ~5 %
    tail event rather than a coin flip near the boundary. If this
    entry ever hash-mismatches on estimate_ok alone, it means SKETCH
    ACCURACY at that corpus, not an engine bug (the measured error
    distribution at realistic vocabularies is in BASELINE.md)."""
    m = 1 << p
    terms = documents.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    if registers is None:
        registers = hll_registers_from_terms(terms, p=p)
    # else: a MAINTAINED register table (the streaming sketch gate's
    # max-merged epochs) — bit-exact vs the inline build by construction
    reg = registers.agg(
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        F.max("rho").cast("long").alias("max_rho"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(49) - F.col("rho")).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("sum_scaled"),
    )
    exact = terms.agg(
        F.countDistinct("term").cast("long").alias("exact_vocab")
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scale = float(2**49)
    raw_e = (F.lit(alpha) * m * m * F.lit(scale)) / (
        F.col("sum_scaled") + (F.lit(m) - F.col("n_occupied")) * F.lit(scale)
    )
    v = F.lit(m) - F.col("n_occupied")
    est = F.when(
        (raw_e <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw_e)
    return (
        reg.crossJoin(F.broadcast(exact))  # one-row exact attach
        .select(
            F.lit(m).cast("long").alias("m"),
            "n_occupied",
            "max_rho",
            "sum_scaled",
            "exact_vocab",
            (
                F.abs(est - F.col("exact_vocab"))
                <= F.col("exact_vocab") * F.lit(tolerance)
            ).alias("estimate_ok"),
        )
    )


def bpe_doc_token_count(
    documents: DataFrame,
    zone_dir: str,
    n_merges: int = 8,
    checkpoint_every: int = 64,
) -> DataFrame:
    """Tokenize the CORPUS with the learned BPE vocab: per-doc subword
    token counts under ``n_merges`` learned merges — the number that
    actually drives packing/chunking budgets once a tokenizer is
    trained (``token_count_bpe`` estimates with a fixed heuristic
    vocab; this uses the corpus's own learned one).

    Plan shape: the learned vocab maps word → subword count (|vocab|
    rows — ``length of split(seq)`` on the maintained symbol
    sequences); the corpus collapses to the (doc, word) DISTINCT
    grain first (map-side combined — the shuffle carries
    Σ|distinct words per doc|, never the token stream) and joins the
    vocab map by shuffle — the engine's unbounded-model discipline
    (the vocab is Heaps-sublinear but NOT bounded, so it is never
    broadcast, same as the LM model tables). Words outside the
    learned vocab (non-[a-z0-9]+ tokens, excluded from training)
    count 1 subword each, the single-unknown-token convention.
    Returns ``(doc_id, n_tokens, n_learned_words)``."""
    _merges, vocab = bpe_learn_merges(
        documents,
        zone_dir,
        n_merges=n_merges,
        checkpoint_every=checkpoint_every,
        return_vocab=True,
    )
    return bpe_doc_token_count_from_vocab(documents, vocab)


def bpe_doc_token_count_from_vocab(
    documents: DataFrame, vocab: DataFrame
) -> DataFrame:
    """The TOKENIZE half of :func:`bpe_doc_token_count` against an
    already-learned merged vocab state ``(seq, n)`` — the shared BPE
    model zone's serving form. One corpus scan (the (doc, word)
    distinct grain) plus a shuffle join against the |vocab|-row
    word→subword-count map; the merge loop never re-runs."""
    arr = F.split(
        F.expr("substring(seq, 2, length(seq) - 2)"), "><"
    )
    word_costs = vocab.select(
        F.regexp_replace("seq", "[<>]", "").alias("word"),
        F.size(arr).cast("long").alias("n_subwords"),
    )
    word_counts = (
        documents.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        word_counts.join(word_costs, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("c") * F.coalesce(F.col("n_subwords"), F.lit(1))
            )
            .cast("long")
            .alias("n_tokens"),
            F.sum(
                F.when(F.col("n_subwords").isNotNull(), F.col("c"))
                .otherwise(0)
            )
            .cast("long")
            .alias("n_learned_words"),
        )
    )


def lm_perplexity_bigram_from_state(
    events: DataFrame, threshold: float = 500.0
) -> DataFrame:
    """:func:`lm_perplexity_bigram` scored from the unified
    token-event grain's 'b' slice instead of raw text — the LAST text
    re-scan in the corpus-model tier closed (VERDICT r8 #3). The
    grain's bigram events are hash-keyed at event time (``h`` =
    md5_48 of the bigram, ``h2`` = md5_48 of the context word w1 —
    the field added for exactly this marginal), so the model tables
    key on 8-byte hashes instead of string pairs:

        ct2 keyed by (h, h2)   — the bigram count c(w1, w2)
        ct1 keyed by h2        — the context marginal c(w1, ·)

    and the per-doc roll-up is the identical det-round-8 +
    decimal-sum arithmetic as the scan-based operator. Equality with
    the string-keyed model is exact as long as md5_48 is injective on
    the observed bigrams and contexts — at 2^48 key space a
    billion-bigram vocabulary collides with probability ~2e-3 and a
    collision merges two RARE counts (a sub-ulp perturbation of one
    doc's average log-prob), the same accepted trade as the
    feature-state and shingle-state consumers of the grain. Runs
    under the scan-based entry's oracle unchanged (parity
    unit-tested)."""
    from ..functions.core import det_round

    bf = events.filter(F.col("kind") == "b").select(
        "doc_id", "h", "h2", F.col("c").alias("tf")
    )
    model2 = bf.groupBy("h", "h2").agg(F.sum("tf").alias("ct2"))
    model1 = model2.groupBy("h2").agg(F.sum("ct2").alias("ct1"))
    contrib = det_round(
        F.col("tf")
        * F.log(F.col("ct2").cast("double") / F.col("ct1").cast("double")),
        8,
    ).cast("decimal(28,8)")
    per_doc = (
        bf.join(model2, ["h", "h2"])
        .join(model1, "h2")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(contrib).cast("double").alias("_s"),
        )
    )
    avg_logp = F.col("_s") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        det_round(avg_logp, 6).alias("avg_logp"),
        det_round(F.exp(-avg_logp), 4).alias("perplexity"),
        (det_round(F.exp(-avg_logp), 4) > F.lit(threshold)).alias(
            "high_perplexity"
        ),
    )


def ngram_novelty(
    documents: DataFrame, n: int = 5, threshold: float = 0.5
) -> DataFrame:
    """Duplicated-n-gram audit — the memorization/duplication risk
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): for every document, the fraction of its
    n-gram OCCURRENCES that appear ≥ 2 times corpus-wide (counting
    self-repeats — intra-doc loops are memorization fuel too, and
    `repetition_stats` isolates that component). High
    ``dup_fraction`` docs are boilerplate/templates/near-copies that
    exact dedup missed and LSH hasn't paired yet; a corpus-level mean
    of this column is the standard before/after metric a dedup pass
    reports.

    Only docs with ≥ n tokens are scored (a shorter doc has no
    n-gram — mirrored by the oracle's WHERE).

    Scale shape: sliding shingles via the O(k)-evaluation ``zip_with``
    chain (``dedup.shingles``' trick, occurrences kept — no
    ``array_distinct``), one (doc, 48-bit-hash) map-side-combined
    count, corpus totals as ONE hash aggregate over it, and the
    totals join back by shuffle on the hash key (the corpus n-gram
    table is unbounded — the same never-broadcast rule as
    ``lm_perplexity``'s vocab). No pair join anywhere: cost is
    Σ n-grams, never n-grams².
    """
    return ngram_novelty_from_shingle_state(
        doc_shingle_counts(documents, n), threshold=threshold
    )


def doc_shingle_counts(documents: DataFrame, n: int = 5) -> DataFrame:
    """The ``(doc_id, _h, _tf)`` n-gram-hash count grain
    :func:`ngram_novelty_from_shingle_state` derives the audit from:
    :func:`lower_shingle_array` grams, hashed with ``md5_long``. Docs
    with < n tokens contribute no rows (mirrored by the oracle's
    WHERE). Counts are mergeable, so over a document stream it runs as
    an update-mode aggregate and the before/after dedup metric updates
    with ingest instead of re-shingling the corpus."""
    t = tokens(F.lower(F.col("text")))
    return (
        documents.select(
            "doc_id", t.alias("_t"), lower_shingle_array(n).alias("_sh")
        )
        .filter(F.size("_t") >= n)
        .select("doc_id", F.explode("_sh").alias("_sgl"))
        .select("doc_id", md5_long(F.col("_sgl")).alias("_h"))
        .groupBy("doc_id", "_h")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )


def lower_shingle_array(n: int) -> Column:
    """Lowercased n-gram array over ``text`` via the O(k) ``zip_with``
    chain — :func:`doc_shingle_counts`' shingle construction, factored
    (r17) so a composing caller (``curation.curation_funnel``'s fused
    one-scan path) derives the identical grams from a shared
    projection. A document with fewer than n tokens yields an EMPTY
    array (the slice length clamps to 0) — the same docs
    ``doc_shingle_counts``' ``size(_t) >= n`` filter excludes."""
    t = tokens(F.lower(F.col("text")))
    sz = F.size(t)
    sh = t
    for j in range(1, n):
        shifted = F.slice(t, j + 1, F.greatest(sz - j, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(sh, 1, F.greatest(sz - (n - 1), F.lit(0)))


def duplicate_span_removal(
    documents: DataFrame, n: int = 5, min_count: int = 2
) -> DataFrame:
    """Exact-substring deduplication at SPAN grain (the second half of
    Lee et al. 2022's recipe — ``ngram_novelty`` is the audit, this is
    the SURGERY): remove from every document the token positions
    covered by any n-gram occurring ≥ ``min_count`` times corpus-wide,
    and emit the cleaned text. Adjacent duplicated n-grams merge into
    maximal spans naturally (coverage is a union of [g, g+n-1]
    windows), so a 200-token boilerplate block shared by 50 docs
    disappears from all 50 in one pass while their unique prose
    survives — the dedup mode exact-doc and near-dup DOC dropping both
    miss.

    Dup detection hashes LOWERCASED grams (``ngram_novelty``'s
    convention); the emitted text keeps the original tokens,
    whitespace-normalized to single spaces (the tokenizer's grain —
    same contract as every text op built on :func:`tokens`).

    Scale shape: sliding shingles via the O(k) ``zip_with`` chain, one
    corpus-wide (hash → count) aggregate, dup starts rejoin by shuffle
    on the 48-bit hash (never broadcast — unbounded), coverage
    explodes only DUPLICATED gram starts ×n, and reassembly is one
    per-doc aggregate (``array_sort`` of (pos, token) structs — no
    collect_list order dependence). Windows partition by doc_id —
    bounded by document length. Cost is Σ n-grams + Σ duplicated
    positions, never pairs². The shingle state
    (:func:`doc_shingle_counts`) carries counts but not
    positions, so the span pass is deliberately scan-served; at 100 TB
    it runs as the periodic corpus-rewrite job it is in production.
    """
    base = _span_gram_base(documents, n)
    grams = base.select(
        "doc_id", F.posexplode("_sh").alias("g", "_sgl")
    ).select("doc_id", "g", md5_long(F.col("_sgl")).alias("_h"))
    # Corpus occurrence counts as a MAP-SIDE-COMBINED hash aggregate +
    # one semi-join (optimization r17, guide §2.5 — skew): the r16
    # window count over _h had no partial aggregation, so every
    # occurrence of a hot gram (stop-word boilerplate is Zipfian)
    # landed in ONE window partition — a single-task straggler and
    # spill risk at corpus scale that AQE cannot split (skew handling
    # applies to joins only, never windows). The groupBy partial-
    # aggregates hot keys on the map side (the counts shuffle carries
    # one row per distinct gram per map task), the ≥min_count
    # survivors join back as a left-semi SHUFFLE_HASH join (build =
    # the filtered hash set, one row per dup gram, evenly hashed;
    # probe = the gram stream, which AQE skew-join CAN split), and
    # the counting pass is column-pruned to scan→hash→count — the
    # classic two-pass exact-substring shape. Same surviving
    # (doc, g) rows bit-for-bit.
    dup_hashes = (
        grams.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_ct"))
        .filter(F.col("_ct") >= min_count)
        .select("_h")
    )
    dup_starts = grams.join(
        dup_hashes.hint("shuffle_hash"), "_h", "left_semi"
    ).select("doc_id", "g")
    return _strip_covered_positions(base, dup_starts, n)


def _span_gram_base(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, _t original tokens, _sh lowercased n-gram array) — the
    shared grain of the span-surgery pair (corpus-dup removal and
    benchmark decontamination)."""
    t_orig = tokens(F.col("text"))
    tl = tokens(F.lower(F.col("text")))
    sz = F.size(tl)
    sh = tl
    for j in range(1, n):
        shifted = F.slice(tl, j + 1, F.greatest(sz - j, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.slice(sh, 1, F.greatest(sz - (n - 1), F.lit(0)))
    return documents.select("doc_id", t_orig.alias("_t"), full.alias("_sh"))


def _strip_covered_positions(
    base: DataFrame, dup_starts: DataFrame, n: int
) -> DataFrame:
    """Shared surgery tail: union flagged gram starts into covered
    positions, drop covered tokens, count maximal removed spans, and
    reassemble the cleaned text deterministically.

    Optimization r16 (guide §2.4 — remove shuffles outright): the
    coverage/runs/reassembly used to run at exploded POSITION grain —
    a distinct over (doc, pos), an anti-join against the exploded
    token stream, a per-doc lag window, a collect_list re-aggregate,
    and a three-way join-back: ~6 exchanges, with ``base`` (the
    tokenize+shingle scan) re-derived per branch. Coverage is a
    per-document computation over that document's own flagged starts,
    so it collapses to array expressions: ONE collect_set aggregate
    of dup starts per doc, ONE doc-grain join back to ``base``, and
    the covered-position set, maximal-span count, and cleaned text
    all derive from a sorted in-row array — same outputs bit-for-bit
    (sequence-union ≡ the old explode+distinct; the sorted-array
    previous-element rule ≡ the old lag-window span counter; filter-
    by-index over the original tokens ≡ the old anti-join + pos-sorted
    reassembly, with no (doc, pos) shuffles at all)."""
    starts = dup_starts.groupBy("doc_id").agg(
        F.collect_set(F.col("g").cast("bigint")).alias("_gs")
    )
    joined = base.join(starts, "doc_id", "left")
    covered = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(
                        F.col("_gs"), F.array().cast("array<bigint>")
                    ),
                    lambda g: F.sequence(g, g + F.lit(n - 1)),
                )
            )
        )
    )
    with_cov = joined.select("doc_id", "_t", covered.alias("_cov"))
    n_spans = F.size(
        F.filter(
            F.col("_cov"),
            lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
                F.element_at(F.col("_cov"), i) != x - 1
            ),
        )
    )
    kept = F.filter(
        F.col("_t"),
        lambda tok, i: ~F.array_contains(F.col("_cov"), i.cast("bigint")),
    )
    return with_cov.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_tokens"),
        F.size("_cov").cast("long").alias("n_removed"),
        n_spans.cast("long").alias("n_spans"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def decontaminate_spans(
    documents: DataFrame,
    probes: DataFrame,
    n: int = 5,
    probe_col: str = "probe",
    broadcast_max_probes: int = 1_000_000,
    probe_count: int | None = None,
) -> DataFrame:
    """Benchmark DECONTAMINATION at span grain: strip from every
    document the token positions covered by an n-gram that appears
    verbatim in the eval-probe set — the surgical alternative to
    dropping whole contaminated documents (``contamination_check``
    reports them; this operator cleans them, keeping the uncontaminated
    prose). The standard pre-training hygiene pass: eval-suite n-grams
    must not survive into training text, but a 2,000-token document
    should not die for one leaked question.

    ``probes`` carries lowercase space-joined n-token strings
    (``curation.contamination_probes``' grain — in production the
    eval-suite shingles loaded from a file). Up to
    ``broadcast_max_probes`` rows it is broadcast, so corpus work is
    one gram explode + a broadcast equi-join on the gram STRING + the
    shared coverage/reassembly tail — linear in Σ n-grams,
    embarrassingly parallel, and the probe set never shuffles the
    corpus. The size gate (VERDICT r14 #5) is MEASURED, not guessed
    (scripts/bench_decontam_probes.py): a full 10⁶-probe eval-suite
    set (~35 MB of strings) broadcasts FINE — at a 50k-doc corpus it
    beats the shuffle fallback 4.0 s vs 5.7 s warm, because past the
    toy scale the corpus-gram shuffle costs more than shipping the
    probe set — so the default cap sits at 10⁶ (≈ a whole eval
    suite's shingles; per-executor cost is one ~35 MB map). Past the
    cap the SAME string equi-join runs as a shuffle join
    (``duplicate_span_removal``'s never-broadcast-the-unbounded-side
    rule), trading one corpus-gram shuffle for an executor-memory
    ceiling that no longer exists. Both paths are string-exact — no
    hash grain, no collision caveat — so the oracle is one.

    The gate's count job runs over the PROBE table only (bounded: the
    eval suite), never the corpus — and at most ONCE per probes
    DataFrame (memoized by object identity, ADVICE r15), so a
    per-micro-batch caller with a static probe table pays it on the
    first batch only. A caller that already knows the size (or wants
    the operator fully lazy) passes ``probe_count`` and no job runs.
    """
    base = _span_gram_base(documents, n)
    grams = base.select(
        "doc_id", F.posexplode("_sh").alias("g", "_sgl")
    )
    psel = probes.select(F.col(probe_col).alias("_sgl"))
    if probe_count is None:
        try:
            probe_count = _PROBE_COUNTS.get(probes)
        except TypeError:  # unweakrefable/unhashable stub — no memo
            probe_count = None
    if probe_count is None:
        probe_count = psel.count()
        try:
            _PROBE_COUNTS[probes] = probe_count
        except TypeError:  # unweakrefable stub in tests — skip memo
            pass
    if probe_count <= broadcast_max_probes:
        psel = F.broadcast(psel)
    dup_starts = grams.join(psel, "_sgl").select("doc_id", "g")
    return _strip_covered_positions(base, dup_starts, n)


def ngram_novelty_from_shingle_state(
    shingle_state: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """:func:`ngram_novelty` derived from the ``(doc_id, _h, _tf)``
    shingle-count STATE grain (:func:`doc_shingle_counts`) — the same
    state-table seam as ``bm25_from_term_state`` /
    ``dsir_from_feature_state``: a stream maintains n-gram-hash counts
    as an update-mode aggregate and the memorization audit becomes a
    derivation over live ingest state (corpus totals fall out with one
    hash aggregate)."""
    tf = shingle_state.select("doc_id", "_h", "_tf")
    # Corpus totals as a MAP-SIDE-COMBINED aggregate + one left join
    # (optimization r17, guide §2.5 — skew): the r16 window sum over
    # _h had no partial aggregation, so a hot n-gram hash put every
    # (doc, _h) row in ONE window partition — a single-task straggler
    # AQE cannot split (skew handling applies to joins only, never
    # windows). The groupBy partial-aggregates hot hashes on the map
    # side; only the ≥2-total survivors come back, via a SHUFFLE_HASH
    # left join (build = the aggregated dup-hash set, one row per
    # hash, evenly distributed; probe = the tf stream, which AQE
    # skew-join CAN split). A null ``_dup`` means the corpus total
    # was < 2 — the same per-row condition as the old ``_ct >= 2``.
    # Sums of longs — values unchanged.
    dup_hashes = (
        tf.groupBy("_h")
        .agg(F.sum("_tf").alias("_ct"))
        .filter(F.col("_ct") >= 2)
        .select("_h", F.lit(True).alias("_dup"))
    )
    per_doc = (
        tf.join(dup_hashes.hint("shuffle_hash"), "_h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("_tf").cast("long").alias("n_ngrams"),
            F.sum(F.when(F.col("_dup"), F.col("_tf")).otherwise(0))
            .cast("long")
            .alias("n_duplicated"),
        )
    )
    frac = det_round(
        F.col("n_duplicated").cast("double") / F.col("n_ngrams").cast("double"),
        6,
    )
    return per_doc.select(
        "doc_id",
        "n_ngrams",
        "n_duplicated",
        frac.alias("dup_fraction"),
        (frac > F.lit(threshold)).alias("memorization_risk"),
    )


def source_token_drift(
    documents: DataFrame,
    stratum_col: str = "source",
    threshold: float = 0.1,
) -> DataFrame:
    """Per-source token-distribution drift: KL(p_source ‖ p_corpus)
    over each source's unigram distribution against the whole-corpus
    distribution — the monitoring pass a continuously-ingesting
    training pipeline runs to catch a domain whose content shifted
    (spam flood, template rollout, scraper breakage) before it
    pollutes the mix. Complements :func:`~..operators.curation.
    mixture_weights` (which rebalances by VOLUME; this flags by
    CONTENT) and the daily z-score anomalies (numeric series; this is
    the token-distribution analogue).

        KL_s = Σ_t p(t|s) · ln( p(t|s) / p(t) )

    summed over terms PRESENT in the source (0·ln0 = 0 terms vanish;
    p(t) > 0 always — the corpus model is a superset of every source).
    KL ≥ 0, = 0 iff the source mirrors the corpus exactly.

    NULL-stratum rows are excluded BEFORE the corpus model is built
    (ADVICE r6): they can produce no output row (no stratum to score),
    so letting their tokens inflate p(t) and n_total would skew every
    scored source against a reference distribution no row represents.
    The sibling :func:`~..operators.curation.source_quota_sample`
    documents the same NULL-drop; here it is enforced at the scan.

    Determinism: each term's contribution is det-rounded to 9 and
    decimal-summed, the engine's transcendental discipline. Scale
    shape: (stratum, term) counts collapse map-side (shuffle 1), the
    corpus model reduces from them (shuffle 2, |vocab| rows), the
    scoring join re-keys by term (shuffle 3 — model NOT broadcast,
    vocab unbounded), the per-source roll-up is shuffle 4 — the exact
    plan of :func:`lm_perplexity` with ``doc_id`` swapped for the
    stratum.
    """
    toks = documents.filter(F.col(stratum_col).isNotNull()).select(
        F.col(stratum_col).alias("stratum"),
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    )
    st = toks.groupBy("stratum", "term").agg(F.count(F.lit(1)).alias("c_st"))
    model = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    s_tot = st.groupBy("stratum").agg(F.sum("c_st").alias("n_s"))
    total = model.agg(F.sum("c_t").cast("double").alias("n_total"))
    p_st = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    p_t = F.col("c_t").cast("double") / F.col("n_total")
    contrib = det_round(p_st * F.log(p_st / p_t), 9).cast("decimal(28,9)")
    per_source = (
        st.join(model, "term")
        .join(s_tot, "stratum")
        .crossJoin(F.broadcast(total))
        .groupBy("stratum")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(contrib).cast("double").alias("_kl"),
        )
    )
    return per_source.select(
        "stratum",
        "n_tokens",
        "n_terms",
        det_round(F.col("_kl"), 6).alias("kl_divergence"),
        (det_round(F.col("_kl"), 6) > F.lit(threshold)).alias("drifted"),
    )


def tfidf_cosine_pairs(
    documents: DataFrame,
    max_df: int = 1000,
    top_n: int = 50,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity over the whole corpus — the
    inverted-index ALL-PAIRS formulation (the classic DAAT
    term-at-a-time scoring, Zobel/Moffat), reporting the ``top_n``
    most-similar document pairs. Complements the tier's other
    similarity flavors: Jaccard sees set overlap, SimHash/MinHash see
    sketched overlap, the embedding tier sees dense vectors — TF-IDF
    cosine is the weighted LEXICAL similarity retrieval stacks use.

        w(d,t) = tf(d,t) · ln(N / df(t)),  sim = ⟨wa, wb⟩ / (‖wa‖‖wb‖)

    Plan (the ngram_jaccard discipline, term-weighted):

    * tokens explode narrow, tf is one map-side-combined aggregate;
    * **df cap is part of the operator contract**: only terms with
      ``df ≤ max_df`` participate — the postings self-join does
      Σ_term df² work, so the cap bounds per-term work at df² and
      drops only near-universal terms whose idf ≈ 0 anyway; weights
      AND norms use the surviving vocabulary on both sides of the
      ratio (self-consistent), and the oracle applies the same cap;
    * pair dots: postings ⋈ postings on the term key (``doc_a <
      doc_b``), per-term products det-rounded to 12 and summed as
      DECIMAL — order-free, bit-mirrorable; norms likewise;
    * zero-dot pairs (only idf-0 terms shared) are filtered — an
      inverted index never emits no-overlap pairs, and dot > 0
      guarantees both norms are positive (weights are ≥ 0);
    * final top-n is ``orderBy().limit`` — TakeOrderedAndProject,
      per-partition heaps, no global sort; the rank window then runs
      over ``top_n`` rows.

    At 100 TB: shuffles are keyed on term (df-capped, no skew) and on
    the pair key with map-side combine; nothing corpus² ever
    materializes. Returns (pair_rank, doc_a, doc_b, cosine_sim)."""
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    df_t = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
    )
    w = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            det_round(
                F.col("tf").cast("double")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("df").cast("double")
                ),
                8,
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(det_round(F.col("w") * F.col("w"), 12).cast("decimal(28,12)"))
            .cast("double")
        ).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                det_round(F.col("wa") * F.col("wb"), 12).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("dot")
        )
        .filter(F.col("dot") > 0)
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("_na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("_nb"))
    sims = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("dot") / (F.col("_na") * F.col("_nb"))).alias("_sim"),
        )
    )
    top = sims.orderBy(
        F.desc("_sim"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(top_n)
    wdw = Window.orderBy(F.desc("_sim"), F.asc("doc_a"), F.asc("doc_b"))
    return top.withColumn(
        "pair_rank", F.row_number().over(wdw).cast("long")
    ).select(
        "pair_rank",
        "doc_a",
        "doc_b",
        det_round(F.col("_sim"), 6).alias("cosine_sim"),
    )
