"""Training-data curation operators — the pre-tokenization passes a
large-scale LLM data pipeline runs between raw corpus and training
shards: PII redaction, chunk-level (C4-style line-level) dedup,
benchmark-contamination checks, deterministic stratified sampling,
token-budget packing, per-source quota sampling and mixture weights,
DSIR importance resampling (hashed-ngram models, broadcast-safe by
construction), and the end-to-end curation funnel report.

The reference pipeline has no text surface at all (SURVEY.md §2.6);
these extend the ``documents`` table tier mandated by BASELINE.json's
north star. Everything is JVM-side ``pyspark.sql.functions`` — no
Python in any hot path — and every randomized-looking decision
(sampling, packing) is a deterministic hash or prefix-sum so the DuckDB
oracle can recompute results bit-for-bit.

100 TB shapes, per operator:

* **PII redaction** — a narrow map fused with the parquet scan (regex
  replace + count); zero shuffles, scan-bound, identical to the text
  tier in ``text.py``.
* **chunk dedup** — one shuffle keyed by the chunk hash (narrow rows:
  hash + doc_id + index), then one shuffle back on doc_id to
  reassemble; both keys are high-cardinality and unskewed. This is the
  C4/RefinedWeb "drop duplicated lines across the corpus" pass, with
  fixed-width token chunks standing in for newline-delimited lines
  (the testdata corpus is single-line).
* **contamination check** — the probe set is tiny by construction
  (benchmark suites are KBs, corpora are TBs): broadcast the probes,
  hash-join against exploded document shingles; never a substring scan.
* **stratified sampling** — stateless hash-mod per row; no shuffle at
  all until the per-stratum audit aggregate.
* **token packing** — per-stratum prefix sum (one window shuffle on the
  stratum key). Global greedy packing is inherently sequential, so the
  scale path shards each stratum and packs per shard — bins never span
  shards, which only wastes ≤ 1 partial bin per shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import det_round, md5_long, ratio, spread_small_input
from .text import tokens

# --- PII redaction ------------------------------------------------------

#: Redaction patterns, applied IN THIS ORDER (emails before phones so a
#: digit-bearing local part is consumed as an email; IPv4 before the
#: generic phone digits so dotted quads never half-match a phone; SSN
#: last among the dashed-digit shapes — its 3-2-4 dash shape cannot
#: collide with the +-prefixed phone or dotted IPv4, so order is
#: cosmetic there; card numbers (4-4-4-4) are disjoint from all of the
#: above — the SSN's \b\d{3}- can never anchor inside a 4-digit group,
#: so card order is cosmetic too).
#: Common Java-regex / RE2 subset only — no backreferences, no
#: lookaround — so Spark and the DuckDB oracle match identically.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{3,10}\b", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ccard", r"\b\d{4}-\d{4}-\d{4}-\d{4}\b", "<CC>"),
)


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4 addresses / international-format phone
    numbers / SSN-shaped tokens, reporting per-type match counts
    alongside the scrubbed text. One projection, no shuffle; counts are
    taken BEFORE the rewrite so each pattern reports what it saw in the
    original text (the apply order only affects overlapping matches,
    which the pattern order above resolves deterministically)."""
    col = F.col(text_col)
    counts = [
        F.regexp_count(col, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = col
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    return documents.select(
        "doc_id", *counts, redacted.alias("redacted_text")
    )


# --- chunk-level (C4-style line-level) dedup ----------------------------


def _chunk_array(chunk_tokens: int) -> Column:
    """Per-row array of fixed-width token chunks of ``text`` (the last
    chunk may be short). Shared by both chunk-dedup variants so they
    agree on the chunk unit byte-for-byte."""
    c = chunk_tokens
    t = tokens(F.lower(F.col("text")))
    n_chunks = F.ceil(F.size(t) / F.lit(c)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(t, i * c + 1, c), " "),
    )


def chunk_dedup(documents: DataFrame, chunk_tokens: int = 4) -> DataFrame:
    """Corpus-wide chunk-level exact dedup (the C4 / RefinedWeb
    "deduplicate at the line level" pass, with fixed-width token chunks
    as the unit because the testdata corpus is single-line): every
    occurrence of a chunk except the first — ordered by (doc_id,
    position) — is dropped, and each document is reassembled from its
    surviving chunks.

    Returns one row per document: total chunk count, surviving chunk
    count, and the reassembled text (NULL when nothing survives).

    Two shuffles, both narrow: (1) first-occurrence selection, keyed by
    the chunk text — rows are (chunk, doc_id, idx) triples, and a
    ``row_number`` window picks the earliest occurrence (same shuffle
    shape as a groupBy+join-back, one pass instead of two); (2) doc
    reassembly keyed by doc_id. Chunk text is carried, not its hash,
    because the reassembly needs it anyway — acceptable when the corpus
    fits the shuffle tier, but the chunk-text window key means the FIRST
    shuffle moves the whole corpus text and a corpus-ubiquitous chunk
    lands its every occurrence in one window partition. At 100 TB use
    :func:`chunk_dedup_hashed`, whose dedup shuffle carries 16-byte
    ``md5(chunk)`` keys and whose hash aggregation absorbs ubiquitous
    chunks map-side.
    """
    chunks = spread_small_input(documents).select(
        "doc_id", F.posexplode(_chunk_array(chunk_tokens)).alias("idx", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    ranked = chunks.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("_rn") == 1).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct("idx", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("kept_text"),
        )
        .withColumn(
            "kept_text",
            F.when(F.col("n_kept") > 0, F.col("kept_text")),
        )
    )


def chunk_dedup_hashed(documents: DataFrame, chunk_tokens: int = 4) -> DataFrame:
    """:func:`chunk_dedup` with the 100 TB shuffle shape (VERDICT r3
    item #3): identical output, but the corpus-wide dedup shuffle
    carries 16-byte ``md5(chunk)`` keys instead of chunk text.

    Plan, shuffle by shuffle:

    1. **First-occurrence selection** — explode to ``(md5(chunk),
       doc_id, idx)`` triples (no text) and hash-aggregate
       ``min(struct(doc_id, idx))`` per hash. Rows are ~36 bytes
       regardless of chunk width, and map-side partial aggregation
       collapses a corpus-ubiquitous chunk to one row per map task —
       the skew a text-keyed ``row_number`` window cannot absorb
       (every occurrence of the hot chunk lands in one partition).
       ``min(struct(doc_id, idx))`` is lexicographic, so the winner is
       exactly the window's ``ORDER BY doc_id, idx`` first row.
    2. **Winning-position list** — group winners by ``doc_id`` into a
       sorted ``idx`` array (narrow: ids and ints only).
    3. **Join-back + reassembly** — one equi-join of the per-doc chunk
       arrays against their winning-position lists on ``doc_id``; text
       moves exactly once, in this join, then ``transform`` +
       ``array_join`` reassemble survivors in position order with no
       further shuffle.

    Within-doc repeats dedup globally exactly as in :func:`chunk_dedup`
    (one winner per distinct chunk, corpus-wide).
    """
    # tokenize/md5 are CPU-bound and BOTH plan branches (winner
    # selection and join-back) recompute the chunking — spread a
    # single-split scan across cores before paying that work twice
    docs_chunks = spread_small_input(documents).select(
        "doc_id", _chunk_array(chunk_tokens).alias("chunks")
    )
    keyed = docs_chunks.select(
        "doc_id", F.posexplode("chunks").alias("idx", "chunk")
    ).select("doc_id", "idx", F.md5(F.col("chunk").cast("binary")).alias("h"))
    winners = (
        keyed.groupBy("h")
        .agg(F.min(F.struct("doc_id", "idx")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.idx").alias("idx"))
    )
    kept = winners.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("idx")).alias("kept_idx")
    )
    return (
        docs_chunks.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.size("chunks").cast("long").alias("n_chunks"),
            F.coalesce(F.size("kept_idx"), F.lit(0)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.col("kept_idx"),
                    lambda i: F.element_at("chunks", i.cast("int") + 1),
                ),
                " ",
            ).alias("kept_text"),
        )
        .withColumn(
            "kept_text", F.when(F.col("n_kept") > 0, F.col("kept_text"))
        )
    )


# --- benchmark-contamination check --------------------------------------


def contamination_probes(
    documents: DataFrame, every: int = 50, probe_tokens: int = 5
) -> DataFrame:
    """Deterministic stand-in for a benchmark probe set: the first
    ``probe_tokens`` tokens of every ``every``-th document. In a real
    deployment this DataFrame is the eval-suite n-grams loaded from a
    file; it is tiny either way and always broadcast."""
    t = tokens(F.lower(F.col("text")))
    return documents.filter((F.col("doc_id") % every) == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.array_join(F.slice(t, 1, probe_tokens), " ").alias("probe"),
    )


def contamination_check(
    documents: DataFrame, probes: DataFrame, probe_tokens: int = 5
) -> DataFrame:
    """Which probe n-grams appear verbatim in the corpus, and how
    widely: per probe, the number of distinct documents containing it
    and the earliest such document.

    Exploded-shingle equality join — never ``contains()`` — so the plan
    is (scan → explode → hash join on the shingle string) with the
    probe side broadcast: corpus work is linear in shingle count and
    embarrassingly parallel. Documents shorter than ``probe_tokens``
    produce their single whole-text shingle, mirroring
    :func:`dedup.shingles` semantics."""
    from .dedup import shingles

    doc_shingles = documents.select(
        "doc_id",
        F.explode(shingles(F.col("text"), probe_tokens)).alias("shingle"),
    )
    return (
        doc_shingles.join(
            F.broadcast(probes), F.col("shingle") == F.col("probe")
        )
        .groupBy("probe_id", "probe")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_containing"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )


# --- deterministic stratified sampling ----------------------------------


def stratified_sample_flags(
    documents: DataFrame,
    rates_permille: dict[str, int],
    stratum_col: str = "lang",
    seed: str = "s42",
) -> DataFrame:
    """Tag every row with a deterministic keep/drop flag: keep iff
    ``md5(doc_id ':' stratum ':' seed) % 1000 < rate_permille[stratum]``.

    This is the sampling a training-data pipeline can re-run, audit,
    and incrementally extend (unlike ``df.sample``, whose output
    depends on partitioning): the decision is a pure function of the
    row key, so adding data or re-partitioning never resamples old
    rows, and the oracle recomputes the exact flag. Strata without a
    configured rate default to 0 (dropped). Stateless per-row map — no
    shuffle."""
    key = F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.col(stratum_col), F.lit(seed)
    )
    bucket = md5_long(key) % 1000
    rate = F.lit(0)
    for stratum, permille in sorted(rates_permille.items()):
        rate = F.when(
            F.col(stratum_col) == stratum, F.lit(permille)
        ).otherwise(rate)
    return documents.withColumn("_bucket", bucket).withColumn(
        "sampled", (F.col("_bucket") < rate).cast("boolean")
    )


def stratified_sample_audit(
    flagged: DataFrame, stratum_col: str = "lang"
) -> DataFrame:
    """Per-stratum audit of a stratified sample: totals, sampled
    counts, realized rate, and a doc_id checksum of the sampled set
    (sum of sampled ids — order-free, so the oracle gate covers WHICH
    rows were chosen, not just how many)."""
    return flagged.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
        det_round(
            ratio(
                F.sum(F.col("sampled").cast("long")), F.count(F.lit(1))
            ),
            4,
        ).alias("realized_rate"),
        F.sum(
            F.when(F.col("sampled"), F.col("doc_id")).otherwise(F.lit(0))
        ).alias("sampled_id_checksum"),
    )


# --- token-budget packing ------------------------------------------------


def token_pack(
    documents: DataFrame,
    budget: int = 512,
    stratum_col: str = "lang",
) -> DataFrame:
    """Concat-then-chunk context packing: within each stratum, documents
    are laid end-to-end in doc_id order and cut into ``budget``-token
    context windows; a document belongs to the bin where it STARTS
    (LLM pretraining's standard packing, attributed at doc granularity).

    Returns per (stratum, bin_id): document count, token sum, and the
    first/last doc_id — enough to rebuild shard manifests.

    One window shuffle on the stratum key computes the exclusive prefix
    sum. Packing is sequential BY DESIGN (bin boundaries depend on every
    earlier document), so cross-stratum parallelism is the scale axis:
    at 100 TB, shard each stratum (e.g. by hash(doc_id) into ~1k
    shards) and pack per (stratum, shard) — bins never span shards, at
    the cost of ≤ 1 under-filled bin per shard."""
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("stratum")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = documents.select(
        F.col(stratum_col).alias("stratum"), "doc_id", n_tok.alias("n_tokens")
    ).withColumn("_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        placed.withColumn(
            "bin_id", F.floor(F.col("_start") / budget).cast("long")
        )
        .groupBy("stratum", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


def token_pack_sharded(
    documents: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    stratum_col: str = "lang",
    seed: str = "p42",
) -> DataFrame:
    """:func:`token_pack`'s documented 100 TB scale path, delivered:
    each stratum hash-splits into ``n_shards`` independent packing
    domains and the prefix-sum window runs per ``(stratum, shard)``.

    ``shard = md5(doc_id ':' seed) % n_shards`` — a pure function of
    the row key, like :func:`stratified_sample_flags`, so sharding is
    deterministic, repartition-stable, incrementally extendable, and
    recomputable by the DuckDB oracle. Window parallelism becomes
    strata × shards (vs strata), which is the whole point: the
    sequential-by-design prefix sum is bounded by the largest SHARD,
    not the largest stratum. Bins never span shards; the cost is ≤ 1
    under-filled bin per (stratum, shard), exactly as the unsharded
    docstring promises. Output adds ``shard`` to the group key —
    shard manifests are per (stratum, shard, bin)."""
    shard = md5_long(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))
    ) % n_shards
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("stratum", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = documents.select(
        F.col(stratum_col).alias("stratum"),
        shard.alias("shard"),
        "doc_id",
        n_tok.alias("n_tokens"),
    ).withColumn("_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        placed.withColumn(
            "bin_id", F.floor(F.col("_start") / budget).cast("long")
        )
        .groupBy("stratum", "shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 32, overlap: int = 8
) -> DataFrame:
    """RAG-style sliding-window chunking: split each document into
    token windows of ``chunk_tokens`` advancing by ``chunk_tokens -
    overlap`` — the retrieval/embedding prep step every RAG corpus
    build runs (overlap keeps sentence fragments from being cut dead
    at chunk boundaries). Differs from :func:`_chunk_array` (disjoint
    chunks, the dedup unit) by the stride.

    Each output row is one chunk: ordinal within its doc, token
    count, the chunk's md5 (the downstream dedup/embedding key), and
    start offset in tokens. The LAST window starts at the final
    stride position that still covers a new token, so every token is
    in ≥ 1 chunk and no empty trailing window is emitted; documents
    shorter than one window yield exactly one chunk.

    Whole operator is one narrow JVM projection + explode — no
    shuffle, no Python; at 100 TB it is scan-bound and the explode
    fan-out is |tokens|/stride per doc, a data constant. The md5 is
    computed on the joined token string, so the oracle re-derives it
    byte-for-byte.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    t = tokens(F.lower(F.col("text")))
    n = F.size(t)
    # number of windows: 1 + ceil(max(0, n - chunk) / stride)
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    n_windows = (
        F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.struct(
            i.alias("chunk_index"),
            (i * stride).alias("start_token"),
            F.array_join(
                F.slice(t, i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    out = (
        spread_small_input(documents)
        .select("doc_id", F.explode(chunks).alias("_c"))
        .select(
            "doc_id",
            F.col("_c.chunk_index").cast("long").alias("chunk_index"),
            F.col("_c.start_token").cast("long").alias("start_token"),
            F.col("_c.chunk_text").alias("_text"),
        )
    )
    return out.select(
        "doc_id",
        "chunk_index",
        "start_token",
        F.size(F.split("_text", r"\s+")).cast("long").alias("n_tokens"),
        F.md5(F.col("_text").cast("binary")).alias("chunk_md5"),
    )


def source_quota_sample(
    documents: DataFrame,
    quota: int = 50,
    stratum_col: str = "source",
    seed: str = "q42",
    oversample: float = 4.0,
) -> DataFrame:
    """Exact per-source quota sampling — the domain-balancing pass a
    web-scale corpus runs so no single crawl domain dominates the
    training mix (the Common Crawl recipe caps documents per domain;
    here ``source`` is the domain column). Keeps AT MOST ``quota``
    docs per stratum, chosen by deterministic hash rank, so the result
    is reproducible, auditable, and stable under re-partitioning and
    incremental re-runs — the same discipline as
    :func:`stratified_sample_flags`, which answers "keep X‰ of each
    stratum"; this answers "keep at most N of each stratum".

    Scale shape (the naive plan — ``row_number`` over every stratum —
    single-task-sorts a hot domain's entire partition, exactly the
    skew this engine bans):

    1. per-stratum counts (one narrow aggregate) broadcast back;
    2. hash PRE-FILTER: keep a row as *candidate* iff its 48-bit key
       hash falls below ``min(1, oversample·quota/n)`` of the hash
       space — a stateless scan-fused map that cuts a hot stratum
       from |stratum| rows to ~``oversample·quota`` BEFORE any sort;
    3. exact trim: ``row_number`` per stratum over (hash, doc_id) on
       the surviving candidates only — every partition the window
       sorts is O(oversample·quota), independent of stratum size.

    The oversampling factor bounds the (astronomically small) chance a
    stratum with > quota rows yields < quota candidates: candidates ~
    Binomial(n, c·q/n) for factor c, and Chernoff gives
    P(< q) < exp(-q·(c-1)²/(2c)) — at the default c=4, q=50 that is
    e^-56; at c=2 it is e^-12.5 (~4e-6), and the bound VANISHES as
    c → 1 (the pre-filter keeps exactly-quota expected rows, so
    undershoot is a coin flip). ``oversample`` is therefore validated
    ≥ 1.5 (ADVICE r6) — below that the operator's at-most-quota
    contract silently degrades to usually-close-to-quota; callers
    trading a thinner window for a fatter shortfall tail must stay in
    the regime where the tail is still exponentially small. The
    DuckDB oracle mirrors the full pipeline including the pre-filter,
    so even a realized tail case stays hash-green.

    Rows with a NULL stratum are excluded (the count join-back is an
    equi-join, and SQL equi-joins drop null keys on both engines) —
    matching the null-group-drop rule the KPI tier inherits from the
    reference; pre-bucket nulls into a sentinel stratum upstream if
    they must be kept.
    """
    if oversample < 1.5:
        raise ValueError(
            f"oversample={oversample} < 1.5: the Chernoff shortfall "
            f"bound exp(-q(c-1)^2/2c) is no longer negligible; raise "
            f"the factor or accept < quota rows explicitly upstream"
        )
    max_hash = float(1 << 48)  # md5_long(hex_chars=12) upper bound
    key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))
    h = md5_long(key)
    counts = documents.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_stratum")
    )
    p = F.least(
        F.lit(1.0),
        F.lit(float(oversample * quota)) / F.col("n_stratum").cast("double"),
    )
    cand = (
        documents.select("doc_id", stratum_col)
        .withColumn("_h", h)
        .join(F.broadcast(counts), stratum_col)
        .filter(F.col("_h").cast("double") < p * F.lit(max_hash))
    )
    w = Window.partitionBy(stratum_col).orderBy(F.asc("_h"), F.asc("doc_id"))
    return (
        cand.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= quota)
        .select(
            F.col(stratum_col).alias("stratum"),
            "n_stratum",
            "sample_rank",
            "doc_id",
        )
    )


def mixture_weights(
    documents: DataFrame,
    alpha: float = 0.3,
    stratum_col: str = "source",
) -> DataFrame:
    """Temperature-scaled corpus mixture weights — the rebalancing
    recipe multilingual / multi-domain training mixes use (XLM-R's
    exponentiated-smoothing, α≈0.3): a stratum holding data fraction
    p_s trains with probability q_s ∝ p_s^α, which upweights rare
    strata and damps dominant ones (α=1 → sample as-is, α=0 →
    uniform). Emits, per stratum: the observed fraction ``p_data``,
    the target fraction ``p_sample``, the per-doc ``sample_weight``
    q/p a sampler or loss-weighting consumes, and ``target_docs`` at
    an N-doc budget.

    Pairs with :func:`source_quota_sample` / \
    :func:`stratified_sample_flags`: this operator decides HOW MUCH of
    each stratum the mix wants; those execute the per-row keep
    decisions.

    Determinism: ``pow`` is transcendental, so each p_s^α is
    det-rounded to 8 digits and the normalizer Σ p_t^α is summed as
    DECIMAL (strata summation order must not move the result — the
    same rule as every money sum). Scale shape: one stratum aggregate
    (strata can number millions of domains — stays distributed), two
    one-row scalar broadcasts (corpus total, normalizer); nothing else
    moves.
    """
    return mixture_weights_from_counts(
        stratum_counts(documents, stratum_col), alpha=alpha
    )


def stratum_counts(
    documents: DataFrame, stratum_col: str = "source"
) -> DataFrame:
    """The per-stratum ``(stratum, n_docs)`` document-count grain
    :func:`mixture_weights_from_counts` derives the mixture from.
    Counts are mergeable, so over a document stream it runs as an
    update-mode aggregate whose state never grows past |strata|."""
    return documents.groupBy(
        F.col(stratum_col).alias("stratum")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def mixture_weights_from_counts(
    counts: DataFrame, alpha: float = 0.3
) -> DataFrame:
    """:func:`mixture_weights` derived from a :func:`stratum_counts`
    table — the grain an update-mode streaming aggregate maintains for
    free, so a live ingest keeps stratum counts and the mixture
    rebalancing is a millisecond batch derivation over that state,
    never a corpus re-scan."""
    total = counts.agg(F.sum("n_docs").cast("double").alias("n_total"))
    pa = det_round(
        F.pow(F.col("n_docs").cast("double") / F.col("n_total"), F.lit(alpha)),
        8,
    ).cast("decimal(18,8)")
    with_pa = counts.crossJoin(F.broadcast(total)).withColumn("_pa", pa)
    z = with_pa.agg(F.sum("_pa").cast("double").alias("_z"))
    p_data = F.col("n_docs").cast("double") / F.col("n_total")
    p_sample = F.col("_pa").cast("double") / F.col("_z")
    q6 = det_round(p_sample, 6)
    return (
        with_pa.crossJoin(F.broadcast(z))
        .select(
            "stratum",
            "n_docs",
            det_round(p_data, 6).alias("p_data"),
            q6.alias("p_sample"),
            det_round(p_sample / p_data, 6).alias("sample_weight"),
            F.floor(q6 * F.col("n_total") + F.lit(0.5))
            .cast("long")
            .alias("target_docs"),
        )
    )


def mixture_epoch_plan(
    documents: DataFrame,
    budget_tokens: int = 50_000,
    alpha: float = 0.3,
    stratum_col: str = "source",
) -> DataFrame:
    """EPOCH COMPOSITION — the selection table a training run mounts
    when it has a TOKEN budget and a mixture policy: allocate
    ``budget_tokens`` across strata by the temperature-scaled mixture
    (q_s ∝ p_s^α over TOKEN mass — :func:`mixture_weights`' XLM-R
    rule, token-weighted because trainer budgets are tokens, not
    docs), then fill each stratum's allocation with its HIGHEST-
    QUALITY prose first (model score DESC, doc_id ASC — the
    curriculum ordering). A doc is selected iff it STARTS within its
    stratum's budget (``tokens_before < target_tokens`` — the same
    deterministic starts-within rule as the packing tier), so the
    plan over- or under-shoots by at most one document per stratum
    and is bit-reproducible.

    Emits EVERY doc with its ``selected`` flag (the
    ``stratified_sample_flags`` discipline: the negative space is
    auditable — what the mix left out and how far from the cut it
    was), plus the stratum's ``target_tokens`` so the table is
    self-describing about the policy that produced it.

    Sits between :func:`mixture_weights` (how much of each stratum)
    and :func:`curriculum_pack` (what order to train on): weights ×
    quality → the epoch's document set; feed the selected set to the
    curriculum packer for the full trainer contract.

    Determinism: pow det-rounds to 8 and the normalizer decimal-sums
    (the mixture_weights rule); quality is the round-4 model score;
    prefix sums are exact longs. Scale shape: ONE corpus scan (token
    count + quality ride the same projection via ``keep_cols``), one
    stratum aggregate, two one-row scalar broadcasts, one
    stratum-partitioned ranking window, and a stratum equi-join of
    the |strata|-row target table back onto the ranked rows —
    co-partitioned with the window's own shuffle, so nothing
    corpus-sized moves twice; strata can number millions of domains
    and everything stays distributed."""
    from .text import quality_model_score, tokens as _tok

    scored = quality_model_score(
        documents.withColumn(
            "n_tokens", F.size(_tok(F.col("text"))).cast("long")
        ),
        keep_cols=("n_tokens", stratum_col),
    ).select(
        "doc_id",
        F.col(stratum_col).alias("stratum"),
        "n_tokens",
        "model_quality",
    )
    counts = scored.groupBy("stratum").agg(
        F.sum("n_tokens").cast("long").alias("_stok")
    )
    total = counts.agg(F.sum("_stok").cast("double").alias("_tot"))
    pa = det_round(
        F.pow(
            F.col("_stok").cast("double") / F.col("_tot"), F.lit(alpha)
        ),
        8,
    ).cast("decimal(18,8)")
    with_pa = counts.crossJoin(F.broadcast(total)).withColumn("_pa", pa)
    z = with_pa.agg(F.sum("_pa").cast("double").alias("_z"))
    targets = with_pa.crossJoin(F.broadcast(z)).select(
        "stratum",
        F.floor(
            det_round(F.col("_pa").cast("double") / F.col("_z"), 6)
            * F.lit(float(budget_tokens))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("target_tokens"),
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy(F.desc("model_quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn(
        "tokens_before",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"),
    )
    return ranked.join(targets, "stratum").select(
        "stratum",
        "doc_id",
        "n_tokens",
        "model_quality",
        "tokens_before",
        "target_tokens",
        (F.col("tokens_before") < F.col("target_tokens")).alias(
            "selected"
        ),
    )


# --- DSIR importance resampling ----------------------------------------


def hashed_ngram_features(
    df: DataFrame, id_col: str = "doc_id", n_buckets: int = 4096
) -> DataFrame:
    """Hashed unigram + bigram feature stream (the DSIR feature space,
    Xie et al. 2023): every token and every adjacent token pair maps to
    ``md5_48(feature) mod n_buckets``. One JVM ``transform`` builds the
    bigrams from the token array (no self-join), the unigram and bigram
    arrays concatenate BEFORE the single explode — ONE corpus scan
    (a first cut unioned two exploded scans), scan-fused, no shuffle.
    Returns ``(id_col, bucket)`` rows, one per feature OCCURRENCE."""
    arr = tokens(F.lower(F.col("text")))
    bigrams = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("_t")),
            lambda i: F.concat_ws(
                " ",
                F.element_at("_t", i - F.lit(1)),
                F.element_at("_t", i),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), arr.alias("_t"))
        .select(id_col, F.explode(F.concat("_t", bigrams)).alias("_f"))
        .select(
            id_col,
            F.pmod(md5_long(F.col("_f")), F.lit(n_buckets)).alias("bucket"),
        )
    )


def dsir_importance_weights(
    documents: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    k: int = 100,
    id_col: str = "doc_id",
    small_threshold: int = 2_000_000,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) — the quality-targeting selection pass between a raw crawl
    and a training mix: fit bag-of-hashed-ngram models on a small
    TARGET corpus (the distribution you want more of) and on the RAW
    corpus, weight every raw document by how much more likely its
    features are under the target model,

        log w(d) = Σ_f c_d(f) · ln( p_target(f) / p_raw(f) ),

    and keep the top-k. Hashing collapses the unbounded n-gram space
    to ``n_buckets`` — the paper's trick, and also what makes BOTH
    model tables bounded by construction (≤ n_buckets rows), hence
    broadcast-SAFE at any corpus size, unlike a raw vocab model
    (:func:`~.text.lm_perplexity` must shuffle-join its unbounded
    vocab; this operator broadcasts because B is a constant).
    Add-one smoothing on both sides keeps target-unseen features
    finite: p(f) = (c(f)+1) / (N+B).

    Determinism: the log-ratio collapses to ONE ``ln`` of an exact
    integer ratio — (c_t+1)(N_r+B) and (c_r+1)(N_t+B) are integer
    products < 2^53, IEEE-exact as doubles — det-rounded to 8 and
    decimal-summed per doc; the final score rounds to 6 with doc_id
    ranking ties.

    Output: every scored doc with ``n_feats``, ``log_importance``,
    ``sel_rank`` (dense global ordering, ties broken by id) and
    ``selected`` = rank ≤ k. At 100 TB: feature streams are
    scan-fused, per-doc counts collapse map-side, the two model
    aggregates move ≤ B rows each, scoring is a broadcast join, and
    the top-k rank rides the same TakeOrdered-style bounded sort the
    retrieval tier uses — no stage keys on anything unbounded except
    the per-doc hash-agg.
    """
    doc_feats = doc_feature_counts(documents, n_buckets, id_col)
    tgt_model = (
        hashed_ngram_features(target, id_col, n_buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    # Route-pick count from the RAW corpus, not the feature table
    # (optimization r16, guide §1.2 "don't compute things you throw
    # away"): the scored-doc cardinality is ≤ count(documents) (a doc
    # yields features only if it has ≥ 1 n-gram), and the two rank
    # routes are bit-identical, so any upper bound routes safely —
    # counting the source table skips a full tokenize→hash→distinct
    # derivation whose only output was this scalar.
    route_count = (
        documents.count() if small_threshold else small_threshold
    )
    return dsir_from_feature_state(
        doc_feats,
        tgt_model,
        n_buckets=n_buckets,
        k=k,
        id_col=id_col,
        small_threshold=small_threshold,
        route_count=route_count,
    )


def doc_feature_counts(
    documents: DataFrame, n_buckets: int = 4096, id_col: str = "doc_id"
) -> DataFrame:
    """The ``(id_col, bucket, c_doc)`` hashed-ngram feature grain
    :func:`dsir_from_feature_state` scores from: one row per distinct
    (doc, bucket) of :func:`hashed_ngram_features`. Counts are
    mergeable, so over a document stream it runs as an update-mode
    aggregate whose state is capped at n_buckets rows per doc."""
    return (
        hashed_ngram_features(documents, id_col, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c_doc"))
    )


def dsir_from_feature_state(
    doc_feats: DataFrame,
    tgt_model: DataFrame,
    n_buckets: int = 4096,
    k: int = 100,
    id_col: str = "doc_id",
    small_threshold: int = 2_000_000,
    route_count: int | None = None,
) -> DataFrame:
    """:func:`dsir_importance_weights` derived from the
    ``(doc_id, bucket, c_doc)`` feature-count STATE grain — the same
    state-table seam as ``text.bm25_from_term_state``: a stream
    maintains :func:`doc_feature_counts` as an update-mode aggregate,
    and the selector becomes a millisecond batch derivation over live
    ingest state instead of a corpus re-scan. The raw model falls out
    of the state with one ≤ n_buckets-row aggregate; the target model
    is whatever (bucket, c_tgt) table the caller pins (a fixed target
    corpus scored once, or its own streamed state)."""
    raw_model = doc_feats.groupBy("bucket").agg(
        F.sum("c_doc").alias("c_raw")
    )
    tgt_model = tgt_model.select("bucket", "c_tgt")
    n_raw = raw_model.agg(F.sum("c_raw").alias("n_raw"))
    n_tgt = tgt_model.agg(F.sum("c_tgt").alias("n_tgt"))
    b = F.lit(n_buckets).cast("long")
    # numerator/denominator as exact LONG products (mirrors the
    # oracle's integer arithmetic bit-for-bit; < 2^63 up to ~10^12
    # target-corpus tokens x 10^6-count features — past that, move
    # both engines to double products, where det_round(ln, 8)
    # absorbs the last-ulp divergence)
    scored = (
        doc_feats.join(F.broadcast(raw_model), "bucket")
        .join(F.broadcast(tgt_model), "bucket", "left")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            id_col,
            "c_doc",
            det_round(
                F.log(
                    (
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(1))
                        * (F.col("n_raw") + b)
                    ).cast("double")
                    / (
                        (F.col("c_raw") + F.lit(1))
                        * (F.col("n_tgt") + b)
                    ).cast("double")
                ),
                8,
            # (18,8) not (28,8): Spark sizes a decimal product at
            # p1+p2+1 digits and TRUNCATES SCALE past 38 — a long
            # (20,0) times (28,8) silently became (38,6), shaving
            # every contribution to 6 decimals. (9,0)x(18,8) = (28,8)
            # stays exact; |ln ratio| < 10^10 and per-(doc,bucket)
            # counts < 10^9 by a huge margin.
            ).cast("decimal(18,8)").alias("_lr"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("c_doc").cast("long").alias("n_feats"),
        F.sum(F.col("c_doc").cast("decimal(9,0)") * F.col("_lr"))
        .cast("double")
        .alias("_s"),
    )
    # The selection ranks the WHOLE corpus; an unpartitioned
    # row_number window funnels every doc through one task — the
    # single-task sort the engine bans. Same measured gate as
    # rfm_segments: tiny populations take the plain window (the
    # distributed path's ~4 AQE stages of fixed overhead dominate
    # there — measured 9.8 s -> 16 s at sf0.01), everything else takes
    # global_rank's range-partitioned reconstruction. Both routes are
    # bit-identical to ROW_NUMBER (the oracle's mirror).
    from .olap_deep import global_rank

    scored_docs = per_doc.withColumn(
        "_score", det_round(F.col("_s"), 6)
    ).drop("_s")
    order = [F.desc("_score"), F.asc(id_col)]
    # Route-picking count on the PRE-JOIN grain (ADVICE r7 / VERDICT
    # #3): distinct doc ids in doc_feats equal the scored-doc
    # cardinality exactly (the bucket joins never drop a doc — every
    # bucket hits raw_model by construction), but counting here is a
    # narrow hash-agg over the state table instead of a full extra
    # execution of the two-broadcast-join scoring subplan.
    # ``route_count``: any UPPER BOUND on the scored-doc cardinality
    # (optimization r16) — both rank routes are bit-identical to
    # ROW_NUMBER, so routing on a cheaper bound (e.g. count of the raw
    # corpus) never changes a value, only which plan computes it.
    if route_count is None and small_threshold:
        route_count = doc_feats.select(id_col).distinct().count()
    if small_threshold and route_count <= small_threshold:
        ranked = scored_docs.withColumn(
            "sel_rank", F.row_number().over(Window.orderBy(*order)).cast("long")
        )
    else:
        ranked = global_rank(scored_docs, order, out_col="sel_rank")
    return ranked.select(
        id_col,
        "n_feats",
        F.col("_score").alias("log_importance"),
        "sel_rank",
        (F.col("sel_rank") <= k).alias("selected"),
    )


# --- end-to-end curation funnel ----------------------------------------


def quality_curriculum(documents: DataFrame, n_phases: int = 4) -> DataFrame:
    """Curriculum-ordering report: the corpus cut into ``n_phases``
    EXACT quality quantiles (phase 1 = the highest-scoring docs under
    the deterministic logistic quality model) with each phase's doc
    and token mass — the schedule table a quality-curriculum training
    run consumes (start on the cleanest quartile, anneal in the rest;
    the token column is the budget axis schedulers actually plan in).

    Built on :func:`~.olap_deep.global_ntile`, so the population
    ordering is range-partitioned — no single-task NTILE window even
    at corpus scale; the roll-up moves ``n_phases`` rows. Ordering is
    total (score DESC, doc_id ASC), so phases are deterministic and
    the oracle's SQL NTILE reproduces them bit-for-bit.
    """
    from .olap_deep import global_ntile
    from .text import quality_model_score, tokens

    # ONE corpus scan (r15): the token count rides the scoring
    # projection via keep_cols instead of a second documents scan
    # joined back on doc_id
    scored = quality_model_score(
        documents.withColumn(
            "n_tokens", F.size(tokens(F.col("text"))).cast("long")
        ),
        keep_cols=("n_tokens",),
    ).select("doc_id", "model_quality", "n_tokens")
    tiled = global_ntile(
        scored,
        n_phases,
        [F.desc("model_quality"), F.asc("doc_id")],
        "phase",
    )
    return tiled.groupBy("phase").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("phase_tokens"),
        F.min("model_quality").alias("floor_quality"),
        F.max("model_quality").alias("ceil_quality"),
    )


def curriculum_pack(
    documents: DataFrame,
    n_phases: int = 4,
    budget: int = 512,
    n_shards: int = 8,
    seed: str = "p42",
) -> DataFrame:
    """Curriculum-phase-ordered packed shards (VERDICT r14 #7) — the
    composition :func:`quality_curriculum` × :func:`token_pack_sharded`
    actually hands a trainer: every document takes its EXACT
    quality-quantile ``phase`` (``global_ntile`` over (score DESC,
    doc_id ASC) — the schedule axis), then packs into fixed-``budget``
    context windows inside a deterministic md5 shard WITHIN its phase,
    laid end-to-end in CURRICULUM order (score DESC, doc_id ASC — the
    cleanest prose packs first, so a run that stops mid-phase consumed
    the best of it). Output is the shard-manifest grain a data loader
    mounts: one row per (phase, shard, bin).

    Phases never share a bin (the schedule boundary is a hard shard
    boundary — annealing in phase 2 must not replay phase-1 windows),
    and bins never span shards (≤ 1 under-filled bin per (phase,
    shard), the :func:`token_pack_sharded` contract). Determinism:
    the phase ordering is total, the shard is a pure row-key function
    (``md5(doc_id ':' seed) % n_shards``), and the pack order is the
    same total order — so the whole manifest is reproducible by the
    DuckDB oracle bit-for-bit.

    Scale shape: one corpus scan scores + counts tokens, the
    range-partitioned exact NTILE assigns phases without a single-task
    sort, and the inherently sequential prefix sum parallelizes over
    phases × shards — the largest PACKING domain is a shard, not a
    phase, so raise ``n_shards`` with the corpus exactly as
    ``token_pack_sharded`` documents."""
    placed = _curriculum_placed(documents, n_phases, budget, n_shards, seed)
    return _curriculum_manifest(placed)


def _curriculum_manifest(placed: DataFrame) -> DataFrame:
    """The (phase, shard, bin) roll-up of a placement frame — ONE
    definition shared by :func:`curriculum_pack` and
    :func:`write_curriculum_zone` (ADVICE r15: the two copies invited
    drift between the computed manifest and the landed one)."""
    return placed.groupBy("phase", "shard", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


def curriculum_assignments(
    documents: DataFrame,
    n_phases: int = 4,
    budget: int = 512,
    n_shards: int = 8,
    seed: str = "p42",
) -> DataFrame:
    """:func:`curriculum_pack` at DOC grain — the placement table a
    data loader actually JOINS: for every document its curriculum
    phase, packing shard, the bin where it starts, and its token
    offset inside that bin (concat-then-chunk semantics: a doc belongs
    to the window it starts in; long docs overflow into the following
    windows of the same shard stream). ``curriculum_pack`` is exactly
    this frame rolled up to (phase, shard, bin) — the manifest — so
    the pair gives a training run both halves of the contract: the
    manifest to mount, the assignment to resolve any doc_id to its
    training position. Same determinism story (total order, pure
    row-key shard), same oracle CTEs minus the roll-up."""
    placed = _curriculum_placed(documents, n_phases, budget, n_shards, seed)
    return placed.select(
        "phase",
        "shard",
        "doc_id",
        "n_tokens",
        "bin_id",
        (F.col("_start") % budget).cast("long").alias("offset_in_bin"),
    )


def write_curriculum_zone(
    documents: DataFrame,
    zone_dir: str,
    n_phases: int = 4,
    budget: int = 512,
    n_shards: int = 8,
    seed: str = "p42",
) -> dict:
    """Land the corpus as a MOUNTABLE curriculum zone — the physical
    deliverable behind the :func:`curriculum_pack` /
    :func:`curriculum_assignments` pair: every document row carries
    its placement (phase, shard, bin_id, offset_in_bin) and the docs
    table is directory-partitioned by ``phase``/``shard``, so a
    trainer consuming phase 1 directory-prunes the rest of the corpus
    and each (phase, shard) stream mounts as one directory in
    curriculum order. The (phase, shard, bin) MANIFEST lands beside it
    — derived from the SAME placement frame in this one call (never a
    recompute that could drift), so landed docs re-aggregate to the
    landed manifest exactly (tested in tests/test_curriculum_zone.py).

    Returns ``{"curriculum_docs": spec, "curriculum_manifest": spec}``
    — the recorded :func:`~..sinks.files.write_zone_table` specs. At
    100 TB the docs write is one corpus pass + the placement window;
    the partition layout is the read-cost knob (phase dirs ≈ the
    training schedule, shard dirs ≈ loader parallelism)."""
    from ..sinks.files import write_zone_table

    placed = curriculum_assignments(
        documents, n_phases, budget, n_shards, seed
    )
    # the placement frame OWNS its column names in the landed table:
    # an input corpus that already carries n_tokens / phase / shard /
    # bin_id / offset_in_bin (e.g. a re-landed zone) must not produce
    # ambiguous duplicates (ADVICE r15)
    collide = [
        c for c in documents.columns
        if c != "doc_id" and c in placed.columns
    ]
    docs = documents.drop(*collide).join(placed, "doc_id")
    spec_docs = write_zone_table(
        docs, zone_dir, "curriculum_docs", layout="flat",
        partition_by=["phase", "shard"],
    )
    manifest = _curriculum_manifest(placed)
    spec_manifest = write_zone_table(
        manifest, zone_dir, "curriculum_manifest", layout="flat"
    )
    return {
        "curriculum_docs": spec_docs,
        "curriculum_manifest": spec_manifest,
    }


def _curriculum_placed(
    documents: DataFrame,
    n_phases: int,
    budget: int,
    n_shards: int,
    seed: str,
) -> DataFrame:
    """Shared placement grain of the curriculum-packing pair: scored +
    token-counted docs, exact-NTILE phase, md5 shard, per-(phase,
    shard) prefix-sum ``_start`` and the derived ``bin_id``."""
    from .olap_deep import global_ntile
    from .text import quality_model_score, tokens as _tok

    # ONE corpus scan: the token count rides the scoring projection
    # (keep_cols — the quality_score shared-scan discipline) instead
    # of a second documents scan joined back on doc_id
    scored = quality_model_score(
        documents.withColumn(
            "n_tokens", F.size(_tok(F.col("text"))).cast("long")
        ),
        keep_cols=("n_tokens",),
    ).select("doc_id", "model_quality", "n_tokens")
    tiled = global_ntile(
        scored,
        n_phases,
        [F.desc("model_quality"), F.asc("doc_id")],
        "phase",
    )
    shard = md5_long(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))
    ) % n_shards
    w = (
        Window.partitionBy("phase", "shard")
        .orderBy(F.desc("model_quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tiled.withColumn("shard", shard)
        .withColumn(
            "_start", F.sum("n_tokens").over(w) - F.col("n_tokens")
        )
        .withColumn(
            "bin_id", F.floor(F.col("_start") / budget).cast("long")
        )
    )


def curation_funnel(
    documents: DataFrame,
    quality_threshold: float = 0.5,
    novelty_threshold: float = 0.5,
    ngram_n: int = 5,
    shingle_state: DataFrame | None = None,
) -> DataFrame:
    """The curation pipeline's before/after report, one row per stage:
    ingested → quality-filtered (heuristic score ≥ threshold) →
    exact-dedup keeper (normalized-fingerprint min-id AMONG QUALITY
    SURVIVORS — standard quality-then-dedup semantics: a dup group
    whose min-id member failed the quality gate still keeps its
    best-id passing member, ADVICE r7) → n-gram-novel
    (duplicated-n-gram fraction ≤ threshold, `text.ngram_novelty`;
    short docs with no n-gram pass trivially). Stages are
    CUMULATIVE — each counts docs surviving every earlier gate — and
    ``dropped`` is the per-stage loss, so the table reads as the
    funnel a data-curation run logs.

    Scale shape: the quality predicate and the exact-dedup fingerprint
    share ONE corpus scan (``quality_score(keep_cols=...)`` carries
    the md5 through its projection) and the min-id keeper rides a
    narrow (doc_id, 16-byte-fp, flag) window on the fingerprint — no
    join-back. The novelty signal adds the shingle aggregation: its
    count table feeds two consumers (per-doc join + corpus totals),
    which the composed plan may derive as two scans (exchange reuse is
    best-effort under composition); pass ``shingle_state`` — the
    (doc_id, _h, _tf) table the streaming/zone tier already maintains
    (``text.doc_shingle_counts``) — and the funnel derives
    novelty from the state with ZERO extra corpus scans (the same
    state seam every corpus-model operator exposes). Then ONE
    aggregate collapses the corpus to four counters and a 4-row
    unpivot emits the funnel — output is O(stages), never O(docs).
    """
    from .text import (
        lower_shingle_array,
        ngram_novelty_from_shingle_state,
        quality_score,
    )

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    pre = documents.withColumn("_fp", F.md5(norm.cast("binary")))
    w = Window.partitionBy("_fp")
    if shingle_state is not None:
        # state path: quality/fingerprint from one scan, novelty from
        # the maintained (doc_id, _h, _tf) zone — zero extra scans
        qk = (
            quality_score(pre, keep_cols=("_fp",))
            .select(
                "doc_id",
                "_fp",
                (F.col("quality_score") >= F.lit(quality_threshold)).alias(
                    "_q"
                ),
            )
            .withColumn(
                "_k",
                F.coalesce(
                    F.col("doc_id")
                    == F.min(F.when(F.col("_q"), F.col("doc_id"))).over(w),
                    F.lit(False),
                ),
            )
        )
        nv = ngram_novelty_from_shingle_state(shingle_state).select(
            "doc_id",
            (F.col("dup_fraction") <= F.lit(novelty_threshold)).alias("_n"),
        )
        flags = qk.join(nv, "doc_id", "left").select(
            "_q", "_k", F.coalesce(F.col("_n"), F.lit(True)).alias("_n")
        )
        return _funnel_report(flags)
    # Scan path, fused (optimization r17, VERDICT r16 #5): the quality
    # flags, the dedup fingerprint AND the novelty shingles all derive
    # from ONE corpus scan/projection — the per-doc (_fp, _q) flags
    # ride the gram pipeline (first() through the two narrow
    # aggregates) instead of a second scan-and-tokenize branch joined
    # back by doc_id. explode_outer keeps gramless (< n tokens) docs
    # alive as one null-hash row, reproducing the old left join's
    # "no novelty row → passes trivially" semantics exactly; the
    # corpus totals use the skew-safe groupBy + SHUFFLE_HASH join
    # (never a bare window over _h — guide §2.5), and that counting
    # branch column-prunes to a scan→hash→count pass.
    base = quality_score(
        pre.withColumn("_sh", lower_shingle_array(ngram_n)),
        keep_cols=("_fp", "_sh"),
    ).select(
        "doc_id",
        "_fp",
        (F.col("quality_score") >= F.lit(quality_threshold)).alias("_q"),
        "_sh",
    )
    g = base.select(
        "doc_id", "_fp", "_q", F.explode_outer("_sh").alias("_sgl")
    ).select("doc_id", "_fp", "_q", md5_long(F.col("_sgl")).alias("_h"))
    tf = g.groupBy("doc_id", "_h").agg(
        F.count(F.lit(1)).alias("_tf"),
        F.first("_fp").alias("_fp"),
        F.first("_q").alias("_q"),
    )
    dup_hashes = (
        tf.groupBy("_h")
        .agg(F.sum("_tf").alias("_ct"))
        .filter(F.col("_h").isNotNull() & (F.col("_ct") >= 2))
        .select("_h", F.lit(True).alias("_dup"))
    )
    per_doc = (
        tf.join(dup_hashes.hint("shuffle_hash"), "_h", "left")
        .groupBy("doc_id")
        .agg(
            F.first("_fp").alias("_fp"),
            F.first("_q").alias("_q"),
            F.sum(
                F.when(F.col("_h").isNotNull(), F.col("_tf")).otherwise(0)
            )
            .cast("long")
            .alias("_nn"),
            F.sum(F.when(F.col("_dup"), F.col("_tf")).otherwise(0))
            .cast("long")
            .alias("_nd"),
        )
    )
    # dup_fraction exactly as ngram_novelty computes it; a gramless
    # doc has _nn = 0 and is never scored — the when() guard keeps the
    # ANSI division away from it (null fraction → passes trivially,
    # the old "no novelty row" left-join case)
    frac = F.when(
        F.col("_nn") > 0,
        det_round(
            F.col("_nd").cast("double") / F.col("_nn").cast("double"), 6
        ),
    )
    qk = (
        per_doc.select(
            "doc_id",
            "_fp",
            "_q",
            F.coalesce(frac <= F.lit(novelty_threshold), F.lit(True)).alias(
                "_n"
            ),
        )
        .withColumn(
            "_k",
            F.coalesce(
                F.col("doc_id")
                == F.min(F.when(F.col("_q"), F.col("doc_id"))).over(w),
                F.lit(False),
            ),
        )
    )
    return _funnel_report(qk.select("_q", "_k", "_n"))


def _funnel_report(flags: DataFrame) -> DataFrame:
    """The funnel's counters→report tail, shared by the scan-based
    funnel and the from-state twin: ONE 4-counter aggregate over the
    per-doc ``(_q, _k, _n)`` flag table, then the 4-row unpivot."""
    agg = flags.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum(F.col("_q").cast("long")).alias("c1"),
        F.sum((F.col("_q") & F.col("_k")).cast("long")).alias("c2"),
        F.sum((F.col("_q") & F.col("_k") & F.col("_n")).cast("long")).alias(
            "c3"
        ),
    )
    stages = F.array(
        F.struct(
            F.lit(1).cast("long").alias("stage_id"),
            F.lit("ingested").alias("stage"),
            F.col("c0").cast("long").alias("docs"),
            F.lit(0).cast("long").alias("dropped"),
        ),
        F.struct(
            F.lit(2).cast("long").alias("stage_id"),
            F.lit("quality").alias("stage"),
            F.col("c1").cast("long").alias("docs"),
            (F.col("c0") - F.col("c1")).cast("long").alias("dropped"),
        ),
        F.struct(
            F.lit(3).cast("long").alias("stage_id"),
            F.lit("exact_dedup").alias("stage"),
            F.col("c2").cast("long").alias("docs"),
            (F.col("c1") - F.col("c2")).cast("long").alias("dropped"),
        ),
        F.struct(
            F.lit(4).cast("long").alias("stage_id"),
            F.lit("ngram_novel").alias("stage"),
            F.col("c3").cast("long").alias("docs"),
            (F.col("c2") - F.col("c3")).cast("long").alias("dropped"),
        ),
    )
    return agg.select(F.explode(stages).alias("_s")).select(
        "_s.stage_id", "_s.stage", "_s.docs", "_s.dropped"
    )


def doc_curation_flags(
    documents: DataFrame, quality_threshold: float = 0.5
) -> DataFrame:
    """Per-doc curation flags ``(doc_id, _fp, _q)`` — normalized
    fingerprint + quality-gate boolean from ONE shared scan (the
    funnel's first two signals). A pure per-doc projection, so it
    runs unchanged over a STREAM (append mode, stateless) as the
    streaming funnel's flag feed."""
    from .text import quality_score

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    pre = documents.withColumn("_fp", F.md5(norm.cast("binary")))
    return quality_score(pre, keep_cols=("_fp",)).select(
        "doc_id",
        "_fp",
        (F.col("quality_score") >= F.lit(quality_threshold)).alias("_q"),
    )


def curation_funnel_from_state(
    doc_flags: DataFrame,
    keeper_state: DataFrame,
    shingle_state: DataFrame,
    novelty_threshold: float = 0.5,
) -> DataFrame:
    """:func:`curation_funnel` derived ENTIRELY from live state
    tables (VERDICT r7 #8) — the monitoring table an ingest pipeline
    actually watches, recomputed per micro-batch commit with ZERO
    corpus scans:

    * ``doc_flags`` — (doc_id, _fp, _q), the stateless per-doc flag
      stream (:func:`doc_curation_flags` over ingest);
    * ``keeper_state`` — (_fp, keep_id), the update-mode aggregate
      ``min(doc_id) among quality survivors`` per fingerprint
      (``streaming.windows.fingerprint_keeper_streaming``) — the
      survivor-scoped keeper rule, incrementally maintained (min is
      mergeable and monotone under inserts);
    * ``shingle_state`` — (doc_id, _h, _tf), the n-gram-hash counts
      the unified token-event state already carries.

    Full-replay parity vs the batch funnel is row-exact at stage
    grain (same flags, same shared :func:`_funnel_report` tail)."""
    from .text import ngram_novelty_from_shingle_state

    nv = ngram_novelty_from_shingle_state(shingle_state).select(
        "doc_id",
        (F.col("dup_fraction") <= F.lit(novelty_threshold)).alias("_n"),
    )
    flags = (
        doc_flags.join(keeper_state, "_fp", "left")
        .withColumn(
            "_k",
            F.coalesce(F.col("doc_id") == F.col("keep_id"), F.lit(False)),
        )
        .join(nv, "doc_id", "left")
        .select("_q", "_k", F.coalesce(F.col("_n"), F.lit(True)).alias("_n"))
    )
    return _funnel_report(flags)


# --- secret / credential scan ------------------------------------------

#: Assignment-style credential keywords (the detect-secrets-style
#: keyword heuristic): a sensitive identifier immediately followed by
#: ``=`` or ``:``. Java-regex / RE2 common subset, like PII_PATTERNS.
SECRET_KEYWORD_PATTERN = (
    r"(?i)(password|passwd|secret|api_key|apikey|auth_token"
    r"|access_key|private_key)\s*[:=]"
)

#: PEM private-key block header — the one secret shape that needs no
#: entropy test at all.
SECRET_PEM_PATTERN = r"-----BEGIN [A-Z ]*PRIVATE KEY-----"

#: Candidate-token shape: base64/hex/identifier runs. `=` excluded so
#: an assignment's glue never fuses key and value into one token.
_SECRET_TOKEN_CLASS = "[A-Za-z0-9+/_-]"


def _token_entropy(t: Column) -> Column:
    """Shannon entropy (bits/char) of one token, fully JVM-side: char
    histogram via sorted-distinct + per-char occurrence counts (nested
    higher-order functions, no shuffle, no UDF), each ``p·log2 p`` term
    det-rounded to 12 and summed exactly in DECIMAL — order-independent
    and bit-identical to the SQL oracle's ``list_sum`` mirror — then
    negated and det-rounded to 6."""
    chars = F.filter(F.split(t, ""), lambda c: c != F.lit(""))
    n = F.length(t).cast("double")
    dch = F.array_sort(F.array_distinct(chars))

    def term(d: Column) -> Column:
        p = F.size(F.filter(chars, lambda c: c == d)).cast("double") / n
        return det_round(p * F.log2(p), 12).cast("decimal(28,12)")

    fold = F.aggregate(
        F.transform(dch, term),
        F.lit(0).cast("decimal(28,12)"),
        lambda acc, v: (acc + v).cast("decimal(28,12)"),
    ).cast("double")
    return det_round(-fold, 6)


def secret_scan(
    documents: DataFrame,
    min_token_len: int = 6,
    secret_len: int = 24,
    entropy_threshold: float = 3.7,
    text_col: str = "text",
) -> DataFrame:
    """Credential/secret detection — the curation pass every public
    pre-training recipe runs beside PII redaction (a leaked API key in
    a training shard is a worse liability than an email address): flag
    documents carrying (a) assignment-style credential keywords, (b)
    PEM private-key headers, or (c) long high-entropy token runs — the
    detect-secrets/trufflehog heuristic pair, re-expressed as one
    JVM-side projection.

    Per doc: ``n_tokens`` candidate tokens (≥ ``min_token_len`` chars
    of the base64/hex shape), ``max_token_entropy`` — the per-doc
    entropy profile that pins the histogram math on natural text —
    ``n_long_tokens`` (≥ ``secret_len``), ``n_secret_tokens`` (long
    AND ≥ ``entropy_threshold`` bits/char; random 62-alphabet keys sit
    near 5.95, English words near 3), keyword/PEM hit counts, and the
    ``has_secret`` disjunction.

    100 TB shape: a narrow map fused with the scan — regex extraction
    plus nested array folds per row, zero shuffles, embarrassingly
    parallel; the entropy loop is O(len·distinct_chars) per token with
    a 64-symbol alphabet cap. Entropy terms are det-rounded and
    decimal-summed (order-independent), so the SQL oracle re-derives
    every value bit-for-bit.
    """
    col = F.col(text_col)
    toks = F.regexp_extract_all(
        col, F.lit(_SECRET_TOKEN_CLASS + "{%d,}" % min_token_len), F.lit(0)
    )
    longs = F.regexp_extract_all(
        col, F.lit(_SECRET_TOKEN_CLASS + "{%d,}" % secret_len), F.lit(0)
    )
    ents = F.transform(toks, _token_entropy)
    n_secret = F.size(
        F.filter(longs, lambda t: _token_entropy(t) >= F.lit(entropy_threshold))
    ).cast("long")
    out = documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(F.size(toks) > 0, F.array_max(ents))
        .otherwise(F.lit(0.0))
        .alias("max_token_entropy"),
        F.size(longs).cast("long").alias("n_long_tokens"),
        n_secret.alias("n_secret_tokens"),
        F.regexp_count(col, F.lit(SECRET_KEYWORD_PATTERN))
        .cast("long")
        .alias("n_keyword_hits"),
        F.regexp_count(col, F.lit(SECRET_PEM_PATTERN))
        .cast("long")
        .alias("n_pem_blocks"),
    )
    return out.withColumn(
        "has_secret",
        (F.col("n_secret_tokens") > 0)
        | (F.col("n_keyword_hits") > 0)
        | (F.col("n_pem_blocks") > 0),
    )


# --- leakage-safe train/val/test split ---------------------------------


def leakage_safe_split(
    docs_with_group: DataFrame,
    group_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment that can never leak a
    duplicate group across splits — the guard every training pipeline
    needs AT SPLIT TIME (deduplication reduces cross-split leakage;
    only group-keyed splitting eliminates it: if two near-identical
    docs straddle train and test, the eval set is contaminated no
    matter how the corpus was cleaned).

    The split is a pure function of the GROUP key, never the doc id:
    ``bucket = md5(group_key | salt) % 100`` (the engine's md5_long —
    48-bit, SQL-mirrorable), ``train`` below ``train_pct``, ``val``
    in the next ``val_pct``, ``test`` above. Every member of a group
    lands in the same split by construction; proportions converge at
    GROUP grain (a corpus dominated by one duplicated doc correctly
    puts all its copies on one side rather than faking an 80/10/10).

    Callers provide the group key because leakage is defined by the
    dedup notion in force: exact groups (normalized-text fingerprint),
    near-dup groups (SimHash signature), or cluster ids from a landed
    dedup state — one splitter serves all of them. Stateless per-row
    hash arithmetic after the group key exists: no shuffle, no join,
    repartition-stable, and re-running with the same salt reproduces
    the split bit-for-bit (the property that makes incremental corpus
    refreshes possible — new docs join splits, old docs never move).
    """
    if not (0 < train_pct and 0 <= val_pct and train_pct + val_pct < 100):
        raise ValueError(
            f"invalid split percentages: train={train_pct}, val={val_pct}"
        )
    gk = F.col(group_col).cast("string")
    bucket = md5_long(F.concat(gk, F.lit("|" + salt))) % 100
    return docs_with_group.select(
        "doc_id",
        gk.alias("group_key"),
        bucket.cast("long").alias("split_bucket"),
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def exact_fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc normalized-text md5 — the exact-dup group key at DOC
    grain (``dedup.exact_dedup`` aggregates the same fingerprint to
    groups; this keeps the doc rows for group-keyed splitting)."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    return documents.select(
        "doc_id", F.md5(norm.cast("binary")).alias("fingerprint")
    )
