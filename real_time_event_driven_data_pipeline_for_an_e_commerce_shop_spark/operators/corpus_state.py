"""Single-scan multi-state corpus ingest (VERDICT r7 #1).

The engine maintains four corpus state tables, each the narrow grain
one family of operators derives from:

* **term state** ``(doc_id, term, tf)`` — the inverted-index grain
  (:func:`~.text.bm25_from_term_state`,
  :func:`~.text.lm_perplexity_from_term_state`);
* **feature state** ``(doc_id, bucket, c_doc)`` — hashed uni+bigram
  counts (:func:`~.curation.dsir_from_feature_state`);
* **shingle state** ``(doc_id, _h, _tf)`` — n-gram-hash counts
  (:func:`~.text.ngram_novelty_from_shingle_state`);
* **feature-hash vectors** ``(doc_id, feature_vec)`` — the text→vector
  zone the ANN / semantic-dedup tier composes from
  (:func:`~.text.materialize_feature_hash_vectors`).

Maintained independently, a full curation+retrieval refresh scans the
raw corpus four times — and at 100 TB the corpus scan IS the cost
(every one of these states is a tiny fraction of the corpus bytes; the
text read dominates end to end). This module collapses the refresh to
ONE corpus scan:

1. one projection tokenizes each document ONCE and builds three
   derived arrays JVM-side — tokens, adjacent bigrams, n-gram
   shingles — exactly as the per-state operators do;
2. the arrays concatenate into a single TAGGED event array
   (``kind`` ∈ t/b/s) and explode once: one token-stream-shaped pass,
   ~3× the token count, instead of four separate explodes over four
   separate scans;
3. one map-side-combined hash aggregate collapses the stream to the
   ``(doc_id, kind, s, h, c)`` distinct-count grain — the ONLY shuffle
   that ever carries corpus-scale data;
4. every state table is then a cheap re-aggregation of that grain
   (re-key on the event-time hash, sum the already-collapsed counts)
   — bounded by Σ|distinct events per doc|, never the token stream —
   or, for the term and shingle states, a partition-pruned SLICE of
   the kind-partitioned grain with no re-aggregation at all.

The three event spaces cannot collide as strings (tokens contain no
whitespace; bigrams contain exactly one space; n≥3-gram shingles
contain n−1), but ``kind`` stays in the key anyway — the grain is a
contract, not a probabilistic fact.

Bit-parity with the independent operators is exact, not approximate:
grouping occurrences by string first and summing counts afterwards is
the same integer arithmetic the per-state aggregates run, and the
md5-prefix hashes (:func:`~..functions.core.md5_long`) are applied to
the same strings. ``tests/test_corpus_state.py`` asserts row-exact
equality for all four states and plan-asserts the one-scan property.

:func:`token_event_counts` is the grain's one definition on every
path: ``streaming.pipeline.run_corpus_ingest`` lands it per
micro-batch, and over a document stream it runs unchanged as ONE
update-mode aggregate, so live ingest feeds all four state families
through a single stateful operator instead of four parallel streams
over the same input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import md5_long

#: Version of the token-event grain's on-disk schema. Bumped when the
#: grain's columns or its streaming groupBy key change shape:
#:   v1 — (doc_id, kind, s, h, c)
#:   v2 — + h2 (context hash on the 'b' slice; bigram-LM marginal)
#: A zone landed under an older version CANNOT be extended or read as
#: if current — old 'b' rows would read h2=null and silently merge all
#: bigram contexts — and streaming checkpoints against the grain's
#: stateful aggregate must be rebuilt across a bump (the groupBy key
#: changed). ``check_grain_version`` enforces this at every read and
#: every streaming append (ADVICE r9).
GRAIN_SCHEMA_VERSION = 2

GRAIN_VERSION_FILE = "_grain_schema_version.json"


def _grain_version_path(zone_dir: str) -> str:
    import os

    return os.path.join(zone_dir, GRAIN_VERSION_FILE)


def record_grain_version(zone_dir: str) -> None:
    """Atomically publish the grain schema version beside the zone's
    epoch manifest (tmp+rename, same discipline as the layout file)."""
    import json
    import os
    import tempfile

    os.makedirs(zone_dir, exist_ok=True)
    doc = {
        "grain_schema_version": GRAIN_SCHEMA_VERSION,
        "columns": ["doc_id", "kind", "s", "h", "h2", "c"],
    }
    fd, tmp = tempfile.mkstemp(dir=zone_dir, suffix=".tmp")
    import io

    with io.open(fd, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, _grain_version_path(zone_dir))


def check_grain_version(zone_dir: str) -> None:
    """Fail fast — with a rebuild-required message — when a landed
    ``token_events`` zone predates the current grain schema (ADVICE
    r9: reading v1 rows as v2 merges all bigram contexts under
    h2=null; appending v2 epochs beside v1 files mixes schemas in one
    table). A zone with no grain data passes (nothing to mismatch);
    a pre-versioning zone whose parquet already carries every current
    column is adopted in place (the marker is back-filled)."""
    import json
    import os

    p = _grain_version_path(zone_dir)
    if os.path.isfile(p):
        with open(p) as f:
            v = json.load(f).get("grain_schema_version")
        if v != GRAIN_SCHEMA_VERSION:
            raise RuntimeError(
                f"corpus-state zone {zone_dir!r} holds a token-event "
                f"grain with schema v{v}, but this engine writes "
                f"v{GRAIN_SCHEMA_VERSION} — rebuild the zone (re-run "
                "the corpus refresh into a fresh directory) before "
                "reading or appending; any streaming checkpoint over "
                "the grain's stateful aggregate must be rebuilt too "
                "(the groupBy key changed shape)"
            )
        return
    grain_dir = os.path.join(zone_dir, "token_events")
    has_data = os.path.isdir(grain_dir) and any(
        f.endswith(".parquet")
        for _r, _d, files in os.walk(grain_dir)
        for f in files
    )
    if not has_data:
        return  # fresh zone: the writer will stamp the version
    import pyarrow.dataset as _ds

    names = set(
        _ds.dataset(
            grain_dir, format="parquet", partitioning="hive"
        ).schema.names
    )
    missing = {"doc_id", "kind", "s", "h", "h2", "c"} - names
    if missing:
        raise RuntimeError(
            f"corpus-state zone {zone_dir!r} holds a pre-v"
            f"{GRAIN_SCHEMA_VERSION} token-event grain (missing "
            f"columns: {sorted(missing)}) — rebuild the zone before "
            "reading or appending; any streaming checkpoint over the "
            "grain's stateful aggregate must be rebuilt too"
        )
    record_grain_version(zone_dir)  # adopt: schema already current


def _tagged_events(token_col: str, shingle_n: int) -> Column:
    """The tagged event array for one document: tokens (kind 't'),
    adjacent bigrams ('b'), and ``shingle_n``-gram shingles ('s'),
    each built with the SAME expressions the independent operators
    use (``text.tokens`` lowered; ``curation.hashed_ngram_features``'s
    sequence bigrams; ``dedup.shingles``' zip_with chain) so every
    derived state is bit-identical to its scan-based twin.

    Takes the NAME of an already-projected token-array column, never
    a raw-text expression: referencing ``tokens(lower(text))``
    directly here would inline the split into every ``element_at`` of
    the bigram transform and every ``zip_with`` level — whole-stage
    codegen re-evaluates unbound expressions per access, which made a
    first cut O(len²) per document (measured 110 s vs 12.6 s on
    6 KB docs). The two-step projection (materialize ``_t``, then
    build from the bound column) is the same discipline every
    shingle/bigram operator in the engine follows."""
    t = F.col(token_col)
    sz = F.size(t)
    sh = t
    for j in range(1, shingle_n):
        shifted = F.slice(t, j + 1, F.greatest(sz - j, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    shingles = F.slice(sh, 1, F.greatest(sz - (shingle_n - 1), F.lit(0)))

    # hash AT EVENT TIME, before anything shuffles: bigram and shingle
    # strings are long and mostly unique, so carrying them through the
    # grain shuffle/write costs ~10× their 8-byte md5 prefix — and no
    # downstream consumer ever needs those strings back (features key
    # on md5 mod B, the audit on md5_48). Only 't' events keep the raw
    # term, because the BM25/LM term state is keyed by STRING; their h
    # rides along so no derivation recomputes md5.
    def tag(arr: Column, kind: str, keep_string: bool) -> Column:
        return F.transform(
            arr,
            lambda x: F.struct(
                F.lit(kind).alias("kind"),
                (x if keep_string else F.lit(None).cast("string")).alias(
                    "s"
                ),
                md5_long(x).alias("h"),
                F.lit(None).cast("long").alias("h2"),
            ),
        )

    # 'b' events additionally carry the CONTEXT hash h2 = md5(w1):
    # the bigram-LM marginal c(w1,·) = Σ_w2 c(w1,w2) is only derivable
    # from the hashed grain if each bigram event knows which context
    # it belongs to (VERDICT r8 #3 — lm_perplexity_bigram_state); 8
    # more bytes on the 'b' slice only, null everywhere else.
    bigram_ev = F.when(
        sz >= 2,
        F.transform(
            F.sequence(F.lit(2), sz),
            lambda i: F.struct(
                F.lit("b").alias("kind"),
                F.lit(None).cast("string").alias("s"),
                md5_long(
                    F.concat_ws(
                        " ",
                        F.element_at(t, i - F.lit(1)),
                        F.element_at(t, i),
                    )
                ).alias("h"),
                md5_long(F.element_at(t, i - F.lit(1))).alias("h2"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<kind:string,s:string,h:bigint,h2:bigint>>"
        )
    )

    return F.concat(tag(t, "t", True), bigram_ev, tag(shingles, "s", False))


def token_event_counts(
    documents: DataFrame, shingle_n: int = 5
) -> DataFrame:
    """The unified ``(doc_id, kind, s, h, c)`` corpus grain: ONE
    scan, one explode of the tagged event array, one
    map-side-combined count. ``s`` (the raw string) is non-null only
    for 't' events — the term state's key; 'b'/'s' events carry only
    their 8-byte md5 prefix ``h``, which is all any consumer keys on,
    so the grain's shuffle and parquet bytes stay near the SMALLEST
    of the four independent states it replaces.

    Over a document stream it is one update-mode aggregate (counts
    are mergeable): state is Σ|distinct (doc, kind, string)| rows,
    paid once per arriving document instead of once per state family,
    and hash-sharded by the state store.

    COMPATIBILITY: the stateful groupBy key is the grain schema
    (:data:`GRAIN_SCHEMA_VERSION` — h2 joined the key in v2), so a
    streaming checkpoint taken under an older grain version CANNOT
    resume against this aggregate: rebuild the checkpoint (and any
    landed grain zone) together (ADVICE r9)."""
    from .text import tokens

    return (
        documents.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("_t")
        )
        .select(
            "doc_id",
            F.explode(_tagged_events("_t", shingle_n)).alias("_e"),
        )
        .select(
            "doc_id",
            F.col("_e.kind").alias("kind"),
            F.col("_e.s").alias("s"),
            F.col("_e.h").alias("h"),
            F.col("_e.h2").alias("h2"),
        )
        .groupBy("doc_id", "kind", "s", "h", "h2")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def term_state_from_event_counts(counts: DataFrame) -> DataFrame:
    """``(doc_id, term, tf)`` — the BM25/LM inverted-index grain: the
    't' slice of the event grain IS the term state (one filter +
    rename, no re-aggregation — (doc, 't', s) is already per-term)."""
    return counts.filter(F.col("kind") == "t").select(
        "doc_id", F.col("s").alias("term"), F.col("c").alias("tf")
    )


def feature_state_from_event_counts(
    counts: DataFrame, n_buckets: int = 4096
) -> DataFrame:
    """``(doc_id, bucket, c_doc)`` — the DSIR hashed uni+bigram grain:
    token and bigram hashes fold into ``n_buckets`` and their
    already-collapsed counts sum per bucket. The re-aggregation moves
    Σ|distinct (doc, feature)| rows, never the token stream."""
    return (
        counts.filter(F.col("kind").isin("t", "b"))
        .select(
            "doc_id",
            F.pmod(F.col("h"), F.lit(n_buckets)).alias("bucket"),
            "c",
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("c").cast("long").alias("c_doc"))
    )


def shingle_state_from_event_counts(counts: DataFrame) -> DataFrame:
    """``(doc_id, _h, _tf)`` — the memorization-audit grain: the 's'
    slice IS already hash-keyed (md5_48 applied at event time, so
    colliding shingle strings merged in the grain exactly as the
    scan-based ``ngram_novelty`` merges them); one rename-level
    re-aggregation keeps the contract."""
    return (
        counts.filter(F.col("kind") == "s")
        .select("doc_id", F.col("h").alias("_h"), "c")
        .groupBy("doc_id", "_h")
        .agg(F.sum("c").cast("long").alias("_tf"))
    )


def vectors_from_event_counts(
    counts: DataFrame, dim: int = 64
) -> DataFrame:
    """``(doc_id, feature_vec)`` — the hashing-trick unit vectors
    (:func:`~.text.feature_hash_vectors`) from the 't' slice: each
    distinct term contributes ``c × sign`` to its bucket (exact
    integer arithmetic — identical to summing per occurrence), then
    the same map-assembly and one-division-per-component
    normalization as the scan-based operator. Bit-identical doubles:
    integer sums, integer-valued squared norm, one IEEE division by
    one correctly-rounded sqrt."""
    h = F.col("h")
    per_bucket = (
        counts.filter(F.col("kind") == "t")
        .select(
            "doc_id",
            F.pmod(h, F.lit(dim)).alias("_b"),
            (
                F.col("c")
                * F.when(
                    F.pmod(F.floor(h / F.lit(dim)), F.lit(2)) == 0, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias("_sc"),
        )
        .groupBy("doc_id", "_b")
        .agg(F.sum("_sc").alias("_c"))
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


#: every state the refresh serves. token_events / feature_state /
#: fh_vectors are LANDED zone tables (manifest-recorded);
#: term_state / shingle_state are partition-pruned VIEWS over the
#: kind-partitioned grain — they are pure slices of it (a filter +
#: rename), so landing them would double-write ~the whole grain for
#: data a pruned scan already serves.
STATE_TABLES = (
    "token_events",
    "term_state",
    "feature_state",
    "shingle_state",
    "fh_vectors",
)
LANDED_TABLES = ("token_events", "feature_state", "fh_vectors")


def refresh_corpus_state(
    documents: DataFrame,
    zone_dir: str,
    n_buckets: int = 4096,
    dim: int = 64,
    shingle_n: int = 5,
    only: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Refresh ALL corpus state tables with ONE scan of the corpus.

    The event grain lands first, PARTITIONED BY ``kind`` — the only
    corpus-scale job (one text scan, one explode, one combined
    count). Then:

    * ``term_state`` / ``shingle_state`` are returned as
      partition-pruned reads of the grain ('t' / 's' directories
      only — plan-asserted): they are filter+rename slices, so
      duplicating them on disk would roughly double the refresh's
      write volume for zero read savings;
    * ``feature_state`` / ``fh_vectors`` genuinely re-aggregate, so
      they land as their own narrow tables.

    The raw corpus is read exactly once no matter how many states the
    refresh maintains; every landed table is recorded in the zone
    manifest (``sinks.files.record_zone_layout`` via
    ``write_zone_table``), making the state zone self-describing the
    same way ``pipeline_batch.run``'s validated zone is. Use
    :func:`read_corpus_state` to reconstruct the full dict (views
    included) in a later session from disk alone.

    Returns DataFrames keyed by :data:`STATE_TABLES` name — the exact
    inputs ``bm25_from_term_state`` / ``lm_perplexity_from_term_state``
    / ``dsir_from_feature_state`` / ``ngram_novelty_from_shingle_state``
    and the semantic-dedup chain consume, bit-identical to each
    operator's own scan-based derivation.

    ``only`` restricts which DERIVED tables land (the event grain
    always does — it IS the single-scan product, and the view states
    are free); a consumer that needs one state family skips the
    others' derivation cost while keeping the grain on disk for the
    rest of the refresh to pick up later.
    """
    import os

    from ..sinks.files import write_zone_table

    spark = documents.sparkSession
    write_zone_table(
        token_event_counts(documents, shingle_n=shingle_n),
        zone_dir,
        "token_events",
        layout="flat",
        partition_by="kind",
    )
    record_grain_version(zone_dir)
    events = spark.read.parquet(
        os.path.join(zone_dir, "token_events")
    ).select("doc_id", "kind", "s", "h", "h2", "c")
    out: dict[str, DataFrame] = {
        "token_events": events,
        "term_state": term_state_from_event_counts(events),
        "shingle_state": shingle_state_from_event_counts(events),
    }
    derived = {
        "feature_state": lambda: feature_state_from_event_counts(
            events, n_buckets=n_buckets
        ),
        "fh_vectors": lambda: vectors_from_event_counts(events, dim=dim),
    }
    for name, thunk in derived.items():
        if only is not None and name not in only:
            continue
        write_zone_table(thunk(), zone_dir, name, layout="flat")
        out[name] = spark.read.parquet(os.path.join(zone_dir, name))
    return out


def read_corpus_state(spark, zone_dir: str) -> dict[str, DataFrame]:
    """Reconstruct the corpus-state dict from a refreshed zone in a
    later session: landed tables come back as parquet reads, the view
    states as partition-pruned slices of the grain — no call-site
    knowledge beyond the zone path. Raises (rebuild-required) when the
    landed grain predates :data:`GRAIN_SCHEMA_VERSION` — an old
    5-column zone must never be read as current (ADVICE r9)."""
    import os

    check_grain_version(zone_dir)
    events = spark.read.parquet(
        os.path.join(zone_dir, "token_events")
    ).select("doc_id", "kind", "s", "h", "h2", "c")
    out = {
        "token_events": events,
        "term_state": term_state_from_event_counts(events),
        "shingle_state": shingle_state_from_event_counts(events),
    }
    for name in ("feature_state", "fh_vectors"):
        path = os.path.join(zone_dir, name)
        if os.path.isdir(path):
            out[name] = spark.read.parquet(path)
    return out
