"""Similarity search over the ``embeddings`` table (array<float> column).

Extension surface (BASELINE.json north star). Two tiers:

* **brute-force cosine top-k** — the exact baseline: broadcast the
  query vectors, one narrow pass over the corpus computing cosine via
  JVM higher-order functions (``zip_with`` + ``aggregate`` — no Python,
  no UDF), then a per-query top-k window. At 100 TB the corpus scan is
  embarrassingly parallel and the window shuffles only (query_id ×
  corpus) rows that survive; with ``prefilter_threshold`` the shuffle
  input can be cut before the window.
* **LSH-bucketed (random hyperplane / SRP)** — the scale path: sign of
  dot(v, r_i) for ``n_planes`` fixed pseudo-random hyperplanes gives a
  bucket key; candidates = same-bucket pairs, exact cosine only inside
  buckets. Hyperplanes are derived deterministically from xxhash64 so
  the operator needs no stored model and is reproducible run-to-run.
* **embedding near-dup pairs** — cosine > threshold within blocks, the
  embedding-space dedup flavor.

All float math is done in double (elements cast up) with sequential
left-to-right array folds — deterministic and mirrorable in the DuckDB
oracle; ``sqrt`` is IEEE-correctly-rounded in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import det_round, spread_small_input


def _dot(a: Column, b: Column) -> Column:
    """Sequential dot product of two double arrays (deterministic fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cells_array(
    cent: DataFrame, vec_col: str = "centroid_vec", group_cols: tuple = ()
) -> DataFrame:
    """Quantizer cells collapsed to ONE array row ``(_cents:
    array<struct<cid, cv>>)`` (or one row per ``group_cols``, e.g. per
    generation): the broadcast form the per-row argmax/probe folds
    read. k is a model constant (n_clusters ~10^3 at scale), so the
    array row is KB-sized at any corpus size; the bytes are identical
    to the old k-row broadcast, but the consumer becomes a projection
    instead of a xk row fan-out + struct-ordered aggregate (which
    plans as SortAggregate) + shuffle. The size>0 guard keeps the
    degenerate empty-quantizer case at zero output rows, exactly the
    old k-row join's semantics.

    INVARIANT (ADVICE r16): ``collect_list`` element order is
    UNSPECIFIED — every consumer of ``_cents`` (and of the PQ
    ``_cws`` arrays built the same way) must stay order-independent:
    ``array_min``/``array_max``/``sort_array`` over (score, ±id)
    structs, never positional indexing into the array."""
    agg = F.collect_list(
        F.struct(F.col("cid").alias("cid"), F.col(vec_col).alias("cv"))
    ).alias("_cents")
    # coalesce(1) BEFORE the aggregate (optimization r17, VERDICT r16
    # #4): the quantizer is KB-sized model data by contract, so a
    # single-partition input satisfies the aggregate's required
    # distribution and the planner inserts NO Exchange — the
    # ObjectHashAggregate pair collapses into one stage. This matters
    # because every DPP-pruned serve plan DUPLICATES this subtree
    # under the partition filter's subquery: with the exchange each
    # serve paid two extra 2-stage collect_list jobs of plan constant.
    one = cent.coalesce(1)
    if group_cols:
        return one.groupBy(*group_cols).agg(agg)
    return one.agg(agg).filter(F.size("_cents") > 0)


def _argmax_cell(vec: Column, cents: Column, with_cv: bool = False) -> Column:
    """Per-row coarse assignment: ``struct(s, nc[, cv])`` of the
    cosine-argmax cell (ties -> lowest cid) over the bounded ``_cents``
    array. ``array_max`` over (s, -cid) structs uses the SAME struct
    total order as the old ``F.max`` aggregate (NaN largest, ties to
    the next field), so the winner is bit-identical — but it runs
    inside one projection: no xk explode, no shuffle, no
    SortAggregate. ``with_cv`` carries the winning centroid vector for
    residual computation (cv is never compared: cid is unique, so the
    order is decided on (s, nc) alone)."""

    def cand(c):
        fields = [
            cosine(vec, c["cv"]).alias("s"),
            (-c["cid"]).alias("nc"),
        ]
        if with_cv:
            fields.append(c["cv"].alias("cv"))
        return F.struct(*fields)

    return F.array_max(F.transform(cents, cand))


def _top_cells(
    vec: Column, cents: Column, n_probe: int, with_qdotc: bool = False
) -> Column:
    """Per-row probe selection: the first ``n_probe`` cells of the
    ``_cents`` array ordered (cosine DESC, cid ASC) — the probe
    window (row_number <= n_probe over desc(_csim), asc(cid))
    collapsed to a sort+slice over the bounded cells array, removing
    the |q|xk exchange + Window from every serve plan. Descending
    ``sort_array`` over (s, -cid) structs is the window's exact total
    order (NaN-first under DESC, ties to the lowest cid).
    ``with_qdotc`` also carries dot(q, c) per probed cell (the ADC
    residual-score term) — computed per cell exactly as the old probe
    projection did, never compared (cid is unique)."""

    def cand(c):
        fields = [
            cosine(vec, c["cv"]).alias("s"),
            (-c["cid"]).alias("nc"),
        ]
        if with_qdotc:
            fields.append(
                _dec_fold(
                    F.zip_with(vec, c["cv"], lambda a, b: a * b)
                ).alias("qdotc")
            )
        return F.struct(*fields)

    return F.slice(F.sort_array(F.transform(cents, cand), False), 1, n_probe)


def _serve_quantizer(
    embeddings: DataFrame,
    centroids: DataFrame | None,
    n_clusters: int,
    stride: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF serve tier's ONE quantizer rule (ADVICE r16): a landed
    centroid table normalizes to ``(cid long, centroid_vec)``;
    otherwise the default strided-sample quantizer (``id % stride ==
    0``, first ``n_clusters`` by id — model-free and oracle-
    mirrorable). Factored so :func:`ivf_topk` and
    :func:`ivf_probe_tuning` can never drift: the tuning table must
    measure exactly the index the serve path uses."""
    if centroids is not None:
        return centroids.select(
            F.col("cid").cast("long").alias("cid"),
            F.col("centroid_vec").alias("centroid_vec"),
        )
    return (
        embeddings.filter(F.col(id_col) % stride == 0)
        .orderBy(F.col(id_col))
        .limit(n_clusters)
        .select(
            F.col(id_col).cast("long").alias("cid"),
            as_double(F.col(vec_col)).alias("centroid_vec"),
        )
    )


def _serve_corpus(
    embeddings: DataFrame,
    cent: DataFrame,
    lists: DataFrame | None,
    id_col: str,
    vec_col: str,
    corpus_filter: Column | None = None,
) -> DataFrame:
    """The serve tier's ONE corpus rule (ADVICE r16, shared with
    :func:`_serve_quantizer`): a landed lists zone normalizes to
    ``(neighbor_id, cluster_id, cvec_corpus)`` — ``cluster_id`` used
    AS-IS (no cast: wrapping the partition column can defeat DPP
    insertion) — otherwise the corpus assigns in-plan via the
    :func:`_ivf_corpus_lists` fold."""
    if lists is not None:
        src = lists if corpus_filter is None else lists.filter(
            corpus_filter
        )
        return src.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("cluster_id"),
            as_double(F.col(vec_col)).alias("cvec_corpus"),
        )
    src = (
        embeddings if corpus_filter is None
        else embeddings.filter(corpus_filter)
    )
    return _ivf_corpus_lists(src, cent, id_col, vec_col)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` is broadcast (the small side by construction); ties
    broken by neighbor id for determinism; self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
    )
    c = spread_small_input(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        )
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def _srp_plane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component weights in
    [-1, 1), derived from a splitmix-style integer mix — model-free and
    identical on every run/executor."""
    comps = []
    for j in range(dim):
        z = (plane * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        comps.append((z % 2_000_001) / 1_000_000.0 - 1.0)
    return comps


def srp_bucket(
    vec: Column, dim: int, n_planes: int = 16, plane_offset: int = 0
) -> Column:
    """Signed-random-projection bucket id: one bit per hyperplane.
    ``plane_offset`` selects a disjoint plane set per hash table (table
    t uses planes ``t*n_planes .. (t+1)*n_planes-1``)."""
    acc = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(w) for w in _srp_plane(dim, plane_offset + p)])
        bit = F.when(_dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc.bitwiseOR(bit)
    return acc


def srp_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine only among same-SRP-bucket
    candidates. Recall grows as ``n_planes`` shrinks (coarser buckets)
    and as ``n_tables`` grows: with T tables each vector gets T bucket
    ids from T disjoint plane sets, candidates are the UNION of
    same-bucket pairs across tables (a pair is a candidate if it
    collides in ANY table — the standard LSH OR-construction), and the
    exact-cosine re-rank runs once on the deduplicated union. More
    tables = linearly more bucketing work and candidate volume for
    strictly-no-worse recall; per-query top-k cosines are monotonically
    ≥ the single-table ones (candidate superset).

    Plan shape: the T bucket ids ride one ``explode`` (no per-table
    scan), the join key is ``(table, bucket)`` — still a single
    equi-join — and ``dropDuplicates`` on the pair precedes the cosine
    so each surviving pair is scored once. Deterministic and fully
    DuckDB-oracle-mirrorable like the single-table path."""
    if n_tables <= 1:
        c = embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        ).withColumn("bucket", srp_bucket(F.col("cvec"), dim, n_planes))
        q = queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qvec"),
        ).withColumn("bucket", srp_bucket(F.col("qvec"), dim, n_planes))
        scored = (
            c.join(F.broadcast(q), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                cosine(F.col("qvec"), F.col("cvec")).alias("_sim"),
            )
        )
    else:
        def tables_col(vec: Column) -> Column:
            return F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            srp_bucket(
                                vec, dim, n_planes, plane_offset=t * n_planes
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            )

        c = embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        ).select("neighbor_id", "cvec", tables_col(F.col("cvec")).alias("b"))
        q = queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qvec"),
        ).select("query_id", "qvec", tables_col(F.col("qvec")).alias("b"))
        scored = (
            c.select("neighbor_id", "cvec", "b.tbl", "b.bucket")
            .join(
                F.broadcast(q.select("query_id", "qvec", "b.tbl", "b.bucket")),
                ["tbl", "bucket"],
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "neighbor_id"])
            .select(
                "query_id",
                "neighbor_id",
                cosine(F.col("qvec"), F.col("cvec")).alias("_sim"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking column
    (at scale the block is an SRP bucket; ``label`` here keeps the
    oracle SQL-expressible)."""
    # narrow pairs first, repartition, then attach vectors — see
    # dedup.ngram_jaccard_pairs for why (blocked self-joins otherwise
    # run the quadratic explosion inside one map task).
    ids = embeddings.select(
        F.col(id_col).alias("vid"), F.col(block_col).alias("block")
    )
    pairs = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            on=[F.col("a.block") == F.col("b.block"), F.col("a.vid") < F.col("b.vid")],
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .repartition("vec_a", "vec_b")
    )
    v = embeddings.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("vec")
    )
    paired = pairs.join(
        v.select(F.col("vid").alias("vec_a"), F.col("vec").alias("va")), "vec_a"
    ).join(v.select(F.col("vid").alias("vec_b"), F.col("vec").alias("vb")), "vec_b")
    return (
        paired.select(
            "vec_a",
            "vec_b",
            det_round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def auto_plane_count(
    n: int, min_planes: int = 8, max_planes: int = 24
) -> int:
    """The r ≈ log2(n) SRP sizing rule as code: smallest r with
    2^r ≥ n (integer bit-length — no float log2, so the DuckDB
    mirror ``LENGTH(BIN(n-1))`` is bit-exact), clamped to
    [min_planes, max_planes]. 2^r buckets keep expected occupancy
    O(1) as the corpus grows, which is what keeps within-bucket pair
    work from going quadratic (measured: 8 planes at a ×30 corpus =
    912.7 s vs r=18 → 181.6 s, BASELINE.md)."""
    r = (n - 1).bit_length() if n > 1 else 1
    return max(min_planes, min(max_planes, r))


def embedding_near_dups_multitable(
    embeddings: DataFrame,
    threshold: float = 0.8,
    dim: int = 64,
    n_planes: int | None = 16,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_stride: int | None = None,
) -> DataFrame:
    """:func:`embedding_near_dups` with corpus-scale SRP blocking —
    the AND-OR construction (b disjoint-plane tables OR'd together).

    Why the single-table version stops scaling: r planes give 2^r
    buckets, so once the corpus outgrows 2^r, expected bucket
    occupancy rises LINEARLY with n and within-bucket pair work rises
    QUADRATICALLY — measured at the ×30 corpus (150k docs, 8 planes =
    256 buckets): 912 s, ~44M candidate pairs, nearly all false
    (BASELINE.md). The fix is information-theoretic, not code: size
    ``r ≈ log2(n)`` so occupancy stays O(1), and win back the recall
    the narrower buckets sacrifice by hashing ``n_tables`` times with
    DISJOINT plane sets — a pair is a candidate if it collides in ANY
    table (recall 1-(1-p^r)^b for per-plane agreement p; at
    cos ≥ 0.95 and r=16, b=2 that is ≈ 0.48 per table → 0.73 OR'd,
    rising steeply toward 1 for the ~0.99-cosine true duplicates this
    tier hunts).

    Plan shape: candidates are ID-ONLY rows unioned across tables and
    ``distinct``-ed BEFORE the single vector join-back, so a pair
    colliding in several tables is verified exactly once, and the
    bucket equi-joins carry (id, 8-byte bucket) — never vectors. Same
    verify tail as the single-table operator; the oracle mirrors every
    table's bucket expression and the OR-union exactly.

    Measured at the ×30 corpus (150k docs, ≈2.2M true near-dup
    pairs): 8-plane single table 912.7 s; r=12 ×2 tables 705.2 s
    (4096 buckets still saturate at this n); r=⌈log2 n⌉=18 ×2 tables
    181.6–187.0 s — inside ngram_jaccard's 98–220 s run-to-run band
    for verifying the same true-pair set (BASELINE.md). The sizing
    rule is the operator's contract — and since round 7 the operator
    can apply it ITSELF: pass ``n_planes=None`` and r derives from
    one ``count()`` of the corpus via :func:`auto_plane_count`
    (a bounded driver-side action — one scalar off an aggregate, the
    same discipline as the dedup tier's verified-edge gate), so
    callers at any sf get saturation-proof blocking without knowing
    the rule. Auto mode pins ``plane_stride=32`` so each table's
    plane set stays FIXED (table t = planes [32t, 32t+r)) no matter
    what r the corpus implies — the oracle can then compute the
    full-width bucket per table once and mask to r bits, with r
    derived in SQL from the same count (``LENGTH(BIN(n-1))`` =
    integer bit-length, bit-exact vs the Python side).
    """
    # the SPREAD frame feeds the heavy per-row SRP hashing only; the
    # verify join-backs read the RAW zone scan (r17: the spread
    # repartition under a broadcast/join side was a pure extra
    # Exchange of the vector zone — no per-row compute to spread)
    vr = embeddings.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("vec")
    )
    v = spread_small_input(vr)
    if n_planes is None:
        if plane_stride is None:
            plane_stride = 32
        n_planes = auto_plane_count(v.count())
    stride = plane_stride if plane_stride is not None else n_planes
    assert stride >= n_planes, "overlapping plane sets across tables"
    # ONE bucketed frame for ALL tables (optimization r16): each row
    # explodes to its n_tables (table, bucket) keys, and one self-join
    # on (table, bucket) IS the per-table OR-union — the same candidate
    # set the old per-table loop built from 2·n_tables corpus scans and
    # n_tables separate joins, now from 2 scans and one join. distinct
    # then dedups cross-table collisions exactly as before, and its
    # output is already hash-partitioned on (vec_a, vec_b), so the old
    # explicit repartition was a redundant full exchange of the
    # candidate set — dropped.
    bk = v.select(
        "vid",
        F.posexplode(
            F.array(
                *[
                    srp_bucket(
                        F.col("vec"), dim, n_planes, plane_offset=t * stride
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("t", "block"),
    )
    pairs = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            on=[
                F.col("a.t") == F.col("b.t"),
                F.col("a.block") == F.col("b.block"),
                F.col("a.vid") < F.col("b.vid"),
            ],
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    paired = pairs.join(
        vr.select(F.col("vid").alias("vec_a"), F.col("vec").alias("va")),
        "vec_a",
    ).join(
        vr.select(F.col("vid").alias("vec_b"), F.col("vec").alias("vb")),
        "vec_b",
    )
    return paired.select(
        "vec_a",
        "vec_b",
        det_round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)


def _ivf_corpus_lists(
    embeddings: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`ivf_topk`'s corpus inverted-list membership, factored
    out so the streaming IVF gate lands EXACTLY the rule the serving
    plan assigns with (cosine argmax — the search metric — with the
    lowest-cid tie-break): the k cells broadcast as ONE array row and
    each corpus row picks its cell in a per-row ``array_max`` fold —
    a pure projection, no xk fan-out, no shuffle, no SortAggregate
    (optimization r16; the argmax struct order (s, -cid) is the old
    aggregate's order, so winners are bit-identical). Returns
    ``(neighbor_id, cluster_id, cvec_corpus)``. ``keep_cols`` simply
    stay on the row (the fold never destroys it): metadata columns
    the serving tier filters on travel WITH the membership, never a
    join-back."""
    # spread_small_input: the argmax fold (and every consumer stage
    # up to the next exchange) runs IN the scan stage now that the
    # assignment needs no shuffle; a small input's one-file scan would
    # serialize all k cosines on one core (no-op at scale — guide
    # §2.5 / the house pattern for CPU-heavy per-row work)
    return (
        spread_small_input(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                as_double(F.col(vec_col)).alias("cvec_corpus"),
                *keep_cols,
            )
        )
        .join(F.broadcast(_cells_array(cent)))
        .select(
            "neighbor_id",
            _argmax_cell(F.col("cvec_corpus"), F.col("_cents")).alias(
                "_best"
            ),
            "cvec_corpus",
            *keep_cols,
        )
        .select(
            "neighbor_id",
            (-F.col("_best.nc")).alias("cluster_id"),
            "cvec_corpus",
            *keep_cols,
        )
    )


def ivf_list_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_dist: bool = False,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Search-metric inverted-list membership for an IVF index:
    assign every corpus vector to the centroid :func:`ivf_topk` would
    search it under (cosine argmax, lowest-cid ties) — the table a
    production IVF-Flat index STORES, vector alongside, so serving
    never rescans the embeddings table. The streaming embedding
    ingest's IVF gate lands exactly this (partitioned by
    ``cluster_id``, so the probe join file-prunes); pass the landed
    zone back through ``ivf_topk(lists=...)``. Returns
    ``(id_col, cluster_id, vec_col)`` with the vector as doubles.

    Membership MUST use the search metric, not the trainer's: Lloyd
    fits with L2, but a vector filed under its L2-nearest list while
    queries probe cosine-nearest lists is silently unreachable —
    assign-by-search-metric is what FAISS does for
    METRIC_INNER_PRODUCT IVF indexes.

    ``with_dist=True`` appends a ``dist`` column — the squared-L2
    distortion to the ASSIGNED centroid (det-round-12 decimal fold,
    det-round-8 out, the ``kmeans_assign`` arithmetic) — placed
    between ``cluster_id`` and the vector. The streaming IVF gate
    thresholds drift on it; squared-L2 (not cosine) on purpose, since
    cosine is scale-invariant and magnitude drift would be
    invisible to it.

    ``keep_cols`` land metadata columns (labels, source tags, dates)
    ALONGSIDE the membership — the filtered-ANN seam: a zone that
    carries its filter columns lets the serve push the predicate into
    the DPP-pruned scan (``ivf_topk(corpus_filter=…)``) instead of
    joining the corpus back."""
    cent = centroids.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("centroid_vec"),
    )
    lists = _ivf_corpus_lists(
        embeddings, cent, id_col, vec_col, keep_cols=keep_cols
    ).select(
        F.col("neighbor_id").alias(id_col),
        "cluster_id",
        F.col("cvec_corpus").alias(vec_col),
        *keep_cols,
    )
    if not with_dist:
        return lists
    cent_b = F.broadcast(
        cent.select(
            F.col("cid").alias("cluster_id"),
            F.col("centroid_vec").alias("_cvec"),
        )
    )
    return lists.join(cent_b, "cluster_id").select(
        id_col,
        "cluster_id",
        *keep_cols,
        det_round(
            _dec_fold(
                F.zip_with(
                    F.col(vec_col),
                    F.col("_cvec"),
                    lambda a, b: (a - b) * (a - b),
                )
            ),
            8,
        ).alias("dist"),
        vec_col,
    )


def ivf_cell_stats(
    embeddings: DataFrame,
    n_clusters: int = 16,
    stride: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lists: DataFrame | None = None,
) -> DataFrame:
    """IVF index-health report: per-cell occupancy of the inverted
    lists — the number every IVF deployment watches, because serving
    cost and recall both ride on it. ``imbalance`` is each cell's
    occupancy over the uniform expectation (total / n_clusters): a
    cell at 4.0 makes every query probing it pay 4× the expected scan,
    and a crowd of near-empty cells means the quantizer wastes probe
    budget — the signal to retrain (``ml.kmeans_fixed``) or re-size
    ``n_clusters``. Empty cells appear as explicit 0 rows (silently
    missing rows would hide exactly the pathology the report exists
    to catch).

    Membership is the SEARCH-metric assignment (:func:`ivf_list_assign`
    — the same rule the serving plan probes under); pass ``lists`` (a
    landed assignment zone) to score the report from the index itself
    with zero embedding scans, or ``centroids`` for a trained
    quantizer. All arithmetic is integer counts and exact ratios —
    cross-engine bit-stable.

    Cell universe (ADVICE r14): the explicit-0 empty-cell rows are
    only meaningful against the quantizer that PRODUCED the
    assignment, so when ``lists`` is given without ``centroids`` the
    universe is the lists' own distinct ``cluster_id`` set (truly zero
    embedding scans; empty cells are not representable — pass the
    index's ``centroids`` alongside to surface them). The strided
    default universe is never silently substituted for a landed zone's
    unknown quantizer.
    """
    if centroids is not None:
        cent = centroids.select(
            F.col("cid").cast("long").alias("cid"),
            F.col("centroid_vec"),
        )
    elif lists is None:
        cent = (
            embeddings.filter(F.col(id_col) % stride == 0)
            .orderBy(F.col(id_col))
            .limit(n_clusters)
            .select(
                F.col(id_col).cast("long").alias("cid"),
                as_double(F.col(vec_col)).alias("centroid_vec"),
            )
        )
    else:
        cent = None  # lists-only: universe derived from the index itself
    assign = (
        lists
        if lists is not None
        else ivf_list_assign(embeddings, cent, id_col, vec_col)
    )
    counts = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    cells = (
        cent.select(F.col("cid").alias("cluster_id"))
        if cent is not None
        else assign.select("cluster_id").distinct()
    )
    full = cells.join(counts, "cluster_id", "left").select(
        "cluster_id",
        F.coalesce(F.col("n_vectors"), F.lit(0))
        .cast("long")
        .alias("n_vectors"),
    )
    tot = full.agg(
        F.sum("n_vectors").cast("long").alias("_tot"),
        F.count(F.lit(1)).cast("long").alias("_ncells"),
    )
    return full.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n_vectors",
        det_round(
            F.col("n_vectors").cast("double") / F.col("_tot"), 6
        ).alias("cell_frac"),
        det_round(
            F.col("n_vectors").cast("double")
            * F.col("_ncells").cast("double")
            / F.col("_tot"),
            4,
        ).alias("imbalance"),
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_clusters: int = 16,
    n_probe: int = 4,
    k: int = 5,
    stride: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lists: DataFrame | None = None,
    corpus_filter: Column | None = None,
) -> DataFrame:
    """IVF-Flat approximate nearest neighbors: a deterministic coarse
    quantizer partitions the corpus into inverted lists; each query
    probes only its ``n_probe`` nearest lists.

    ``corpus_filter`` is FILTERED vector search — top-k among corpus
    rows satisfying a metadata predicate (the pre- vs post-filter
    problem every vector store has). Spark resolves it the cheap way
    for free: the predicate composes INTO the corpus scan (on a landed
    lists zone that carries its filter columns —
    ``ivf_list_assign(keep_cols=…)`` — it reaches PushedFilters and
    stacks with the probe join's DPP file pruning), so pre-filtering
    costs nothing extra and never under-fills k the way post-filtering
    an unfiltered top-k does. The quantizer is NOT filtered: centroids
    derive from (or were trained on) the full corpus, so one index
    serves every predicate — only the serving scan narrows. Recall
    caveat shared with unfiltered IVF: a filtered neighbor outside the
    probed cells is unreachable at any k; raise n_probe for highly
    selective predicates (the filtered cell population shrinks, so
    each probed cell yields fewer candidates).

    * **Centroids** default to a strided sample (``vec_id % stride ==
      0``, first ``n_clusters`` by id) — model-free, reproducible, and
      mirrorable in the SQL oracle. Pass ``centroids`` (``cid`` +
      ``centroid_vec``, e.g. ``ml.kmeans_fixed(...,
      return_centroids=True)``) to swap in a trained quantizer — the
      plan shape is identical, and the exact-sum Lloyd update keeps it
      oracle-mirrorable (``ann_ivf_trained``).
    * **Corpus assignment** is a per-row argmax fold (optimization
      r16): the centroid DataFrame collapses to ONE broadcast array
      row and each corpus row picks its cell via ``array_max`` over
      (sim, -cid) structs — a projection with NO shuffle and NO
      aggregate (the old broadcast-join + struct-max planned as
      SortAggregate and shuffled |corpus| rows). Centroids stay DATA,
      not expression: plan size and codegen time are constant in
      n_clusters (round 1 inlined them as an O(n_clusters × dim)
      literal tree, which was codegen-bound at n_clusters=16 and would
      fall over near 10³ — VERDICT r1 "What's wrong" #2); the array
      row is the same KB-sized broadcast, read per row instead of
      joined per cell.
    * **Probe + search**: queries fan out to their n_probe lists, then
      one equi-join on ``cluster_id`` co-locates each query with just
      its lists' vectors. Pass ``lists`` (a landed
      :func:`ivf_list_assign` table — e.g. the streamed ``ivf_assign``
      zone, partitioned by ``cluster_id``) to skip the corpus
      assignment entirely: the probe join then dynamic-partition-
      prunes the zone scan to the probed cells' FILES, which is the
      n_probe/n_clusters read-fraction lever at 100 TB.

    Ties (equal cosine) resolve to the lowest centroid id — the struct
    max orders by (sim, -cid), matching the oracle's
    ``ROW_NUMBER() ... ORDER BY sim DESC, cid ASC``.

    Batched-serving rule (VERDICT r12 #4): DPP admits the UNION of the
    batch's probed cells, so a many-query batch whose probes union to
    every cell reads the whole zone in one scan. That is the right
    plan for offline scoring; for an ONLINE batch that should keep the
    n_probe/n_clusters read fraction, keep batches cell-affine
    upstream — route queries to probe-group queues by coarse cell
    (:func:`cell_affine_groups`). Splitting a mixed batch after it
    arrives never reads fewer bytes than the union scan.
    """
    cent = _serve_quantizer(
        embeddings, centroids, n_clusters, stride, id_col, vec_col
    )
    # lists → serve from the LANDED inverted list (ivf_list_assign's
    # output, e.g. the streamed ivf_assign zone): membership and
    # vectors come from the zone scan — partitioned by cluster_id, the
    # probe join below dynamic-partition-prunes it to the probed
    # cells' files, and the embeddings table is never rescanned.
    corpus = _serve_corpus(
        embeddings, cent, lists, id_col, vec_col, corpus_filter
    )

    # queries × centroids is tiny (|q| × n_clusters) — join + window
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
    )
    probes = (
        q.join(F.broadcast(_cells_array(cent)))
        .select(
            "query_id",
            "qvec",
            F.explode(
                _top_cells(F.col("qvec"), F.col("_cents"), n_probe)
            ).alias("_p"),
        )
        .select(
            "query_id", "qvec", (-F.col("_p.nc")).alias("cluster_id")
        )
    )

    scored = (
        corpus.join(F.broadcast(probes), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec_corpus")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def ivf_probe_assignments(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(query_id, cluster_id)`` — the cells each query would probe,
    under :func:`ivf_topk`'s exact probe rule (cosine DESC, cid ASC,
    first ``n_probe``). |q| × n_probe rows; the batching seam
    :func:`cell_affine_groups` routes on."""
    cent = centroids.select(
        F.col("cid").cast("long").alias("cid"),
        as_double(F.col("centroid_vec")).alias("centroid_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    return (
        q.join(F.broadcast(_cells_array(cent)))
        .select(
            "query_id",
            F.explode(
                _top_cells(F.col("qvec"), F.col("_cents"), n_probe)
            ).alias("_p"),
        )
        .select("query_id", (-F.col("_p.nc")).alias("cluster_id"))
    )


def cell_affine_groups(
    probe_rows: list[tuple[int, int]], max_cells: int
) -> list[tuple[list[int], list[int]]]:
    """Greedy, deterministic grouping of a query batch by probed-cell
    affinity: queries are ordered by their sorted cell signature (so
    identical and near-identical probe sets are adjacent), then packed
    sequentially into groups whose cell UNION never exceeds
    ``max_cells``. Returns ``[(query_ids, cells), ...]`` with both
    lists sorted.

    This is the batched-serving rule for partitioned lists/codes
    zones (VERDICT r12 #4). The physics first: DPP admits the UNION
    of a batch's probed cells, and no post-hoc split of a batch can
    read fewer TOTAL bytes than that union (every union cell belongs
    to at least one group, so Σ_groups |cells| ≥ |union| always).
    The byte lever is therefore BATCH COMPOSITION: this grouping is
    the router's rule — queries sharing a probe signature belong in
    the same batch, and a signature-affine batch's single DPP scan
    reads ~the single-query n_probe/n_clusters fraction regardless of
    batch size (measured in scripts/bench_ivf_dpp.py). A MIXED batch
    that already arrived is served whole by plain ``ivf_topk``: split
    into groups it never read fewer bytes nor ran faster at any
    measured scale (BASELINE.md, round-15/16 affine routing).

    Pure driver-side: input is |q| × n_probe (query, cell) pairs — a
    bounded collect of the probe table, the same order as the
    centroid-table collects the engine already allows."""
    per_q: dict[int, set[int]] = {}
    for qid, cell in probe_rows:
        per_q.setdefault(qid, set()).add(cell)
    ordered = sorted(
        per_q.items(), key=lambda kv: (sorted(kv[1]), kv[0])
    )
    groups: list[tuple[list[int], set[int]]] = []
    for qid, cells in ordered:
        if len(cells) > max_cells:
            raise ValueError(
                f"query {qid} alone probes {len(cells)} cells > "
                f"max_cells={max_cells}; raise max_cells to at least "
                f"n_probe"
            )
        if groups and len(groups[-1][1] | cells) <= max_cells:
            groups[-1][0].append(qid)
            groups[-1][1].update(cells)
        else:
            groups.append(([qid], set(cells)))
    return [(sorted(qids), sorted(cells)) for qids, cells in groups]


def quantize_int8(embeddings: DataFrame, err_digits: int = 9) -> DataFrame:
    """Symmetric per-vector int8 quantization — the ANN tier's storage
    scale path (the compression every large-scale vector system applies
    before the index: a 64-dim float32 vector shrinks 256 B → 64 B + 1
    scale, a 4× cut in scan bytes AND in every downstream shuffle).

    ``scale = max|v| / 127``; ``q_i = clamp(floor(v_i/scale + 0.5),
    -127, 127)`` — the engine's half-up rounding discipline applied to
    quantization, so the codes are bit-identical cross-engine (all
    element math promotes float32 → double first; both engines then run
    the same IEEE ops). Zero vectors quantize to all-zero codes.

    Narrow staged projections, no shuffle, fully column-pruned: the
    promoted vector, the scale, and the code array each materialize
    ONCE in their own projection step — higher-order expressions get
    no codegen CSE, so a single-select version would rebuild the full
    quantization chain per output column. The audit row per vector
    pins the full code array through three lenses: the L1 mass, a
    position-weighted checksum (catches any element permutation a
    plain sum would miss), and the max absolute reconstruction error
    — which by construction is ≤ scale/2; the oracle re-deriving it
    exactly IS the proof the codes match.
    """
    from ..functions.core import spread_small_input

    staged = (
        spread_small_input(embeddings)
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "_v"
            ),
        )
        .select(
            "vec_id",
            "_v",
            (
                F.array_max(F.transform("_v", lambda x: F.abs(x)))
                / F.lit(127.0)
            ).alias("_scale"),
        )
        .select(
            "vec_id",
            "_v",
            "_scale",
            F.transform(
                "_v",
                lambda x: F.greatest(
                    F.lit(-127.0),
                    F.least(
                        F.lit(127.0),
                        F.when(
                            F.col("_scale") > 0,
                            F.floor(x / F.col("_scale") + F.lit(0.5)),
                        )
                        .otherwise(F.lit(0.0))
                        .cast("double"),
                    ),
                ),
            ).alias("_q"),
        )
    )
    q, v, scale = F.col("_q"), F.col("_v"), F.col("_scale")
    return staged.select(
        "vec_id",
        det_round(scale, err_digits).alias("scale"),
        F.aggregate(
            q, F.lit(0.0), lambda acc, qi: acc + F.abs(qi)
        ).cast("long").alias("q_l1"),
        F.aggregate(
            F.zip_with(
                q,
                F.sequence(F.lit(1), F.size(q)),
                lambda qi, i: qi * i.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("long").alias("q_poschecksum"),
        det_round(
            F.array_max(F.zip_with(q, v, lambda qi, xi: F.abs(qi * scale - xi))),
            err_digits,
        ).alias("max_err"),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col_a: str = "rank_a",
    rank_col_b: str = "rank_b",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    (Cormack et al.): given two independently-ranked candidate lists
    (here: BM25 lexical recall and ANN vector recall), score each id

        rrf(id) = Σ_lists 1 / (c + rank_in_list)

    with a list contributing 0 where the id is absent, and return the
    fused top-k. Rank-based (not score-based) fusion needs no
    cross-list score calibration — exactly why RAG stacks default
    to it.

    Scale shape: both inputs are top-k lists ALREADY bounded by their
    producers (the heavy lifting — inverted index, LSH/IVF buckets —
    happened upstream), so the full-outer join and the fused top-k
    run on k_a + k_b rows. Contributions are det-rounded and added in
    a fixed expression order (coalesce(a)+coalesce(b)), so the score
    is reproducible cross-engine; ties break by id; the final top-k
    is orderBy().limit() — TakeOrderedAndProject, no global sort.
    """
    a = ranked_a.select(F.col(id_col), F.col(rank_col_a).alias("_ra"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col_b).alias("_rb"))
    contrib_a = F.lit(1.0) / (F.lit(float(c)) + F.col("_ra").cast("double"))
    contrib_b = F.lit(1.0) / (F.lit(float(c)) + F.col("_rb").cast("double"))
    fused = a.join(b, id_col, "full_outer").select(
        id_col,
        det_round(
            F.coalesce(contrib_a, F.lit(0.0))
            + F.coalesce(contrib_b, F.lit(0.0)),
            8,
        ).alias("rrf_score"),
        F.col("_ra").alias("rank_a"),
        F.col("_rb").alias("rank_b"),
    )
    topk = fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return topk.withColumn(
        "rrf_rank", F.row_number().over(w).cast("long")
    ).select("rrf_rank", id_col, "rrf_score", "rank_a", "rank_b")


# --- product quantization (ADC) tier -----------------------------------
#
# The storage-compression step BEYOND int8 (quantize_int8 keeps one
# scalar per component — 4x; PQ keeps one CODE per subspace — dim*4B /
# n_subspaces*1B, 64x at the default geometry). Reference scope: the
# reference repo has no vector tier at all (task_1.py/task_2.py are
# CSV->KPI pandas jobs); this extends the engine's ANN surface
# (BASELINE.json north star) with the codebook quantizer every
# large-scale vector system (FAISS IVFPQ et al., Jegou2011 "Product
# Quantization for Nearest Neighbor Search") builds on.
#
# Determinism discipline (the oracle contract): every cross-component
# float sum is det-round-12 -> DECIMAL(28,12) accumulation (order-free,
# exactly mirrorable in DuckDB SQL) — the same arithmetic kmeans_fixed
# uses for its distances. Codebooks are a strided sample of real
# vectors (model-free, reproducible) with code id = sample vec_id, so
# argmin ties break identically cross-engine.


def _dec_fold(terms: Column) -> Column:
    """Order-free exact sum of an array of double terms: det-round each
    term to 12 decimals, accumulate in DECIMAL(28,12) (exact integer
    arithmetic — no float-order dependence), return double. Mirror:
    ``CAST(SUM(CAST(r12(term) AS DECIMAL(28,12))) AS DOUBLE)``."""
    return F.aggregate(
        terms,
        F.lit(0).cast("decimal(28,12)"),
        lambda acc, v: (
            acc + det_round(v, 12).cast("decimal(28,12)")
        ).cast("decimal(28,12)"),
    ).cast("double")


def pq_codebook(
    embeddings: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    stride: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace codebook ``(s, j, cw)`` from a strided sample of
    the corpus: the first ``n_codes`` vectors with ``id % stride == 0``
    (by id), each split into ``n_subspaces`` contiguous slices. Code
    id ``j`` IS the sample's vec_id — no row-number window, identical
    tie-breaks cross-engine (the ivf_topk strided-quantizer pattern).
    m*k rows total (64 at defaults) — broadcast-sized by construction."""
    sub = dim // n_subspaces
    sample = (
        embeddings.filter(F.col(id_col) % stride == 0)
        .orderBy(F.col(id_col))
        .limit(n_codes)
        .select(
            F.col(id_col).cast("long").alias("j"),
            as_double(F.col(vec_col)).alias("_vec"),
        )
    )
    return sample.select(
        "j",
        F.posexplode(
            F.array(
                *[F.slice("_vec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "cw"),
    ).select(F.col("s").cast("long").alias("s"), "j", "cw")


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_dist: bool = False,
) -> DataFrame:
    """Encode each vector as ``n_subspaces`` codes: per subspace, the
    codeword minimizing squared L2 (det-round-12 decimal partial sums;
    ties -> lowest code id). Returns ``(vec_id, s, code)`` — the
    corpus's PQ representation, m small ints per vector (the 100 TB
    storage story: 64-dim float32 = 256 B -> 4 codes = 4 B).

    Plan: corpus explodes to (vec_id, s, subvec) — a ×m row fan-out of
    slices, never ×(m·k) — then one broadcast hash join on ``s``
    against the m-row PER-SUBSPACE codeword-array table scores all k
    candidates in a per-row ``array_min`` fold (optimization r16):
    the argmin is a projection, one output row per (vec_id, s) with
    NO shuffle and NO aggregate (the old per-codeword join + struct-
    min planned as SortAggregate over |corpus|·m·k rows).

    With ``return_dist`` each row also carries the winning squared-L2
    distortion det-rounded to 8 digits — the drift statistic the
    streaming PQ gate monitors (a codebook that stops fitting arriving
    vectors shows up as a distortion jump, the cluster gate's
    mean-assignment-distance analog)."""
    sub = dim // n_subspaces
    sub_rows = spread_small_input(
        embeddings.select(
            F.col(id_col).cast("long").alias("vec_id"),
            as_double(F.col(vec_col)).alias("_dvec"),
        )
    ).select(
        F.col("vec_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("_dvec"), s * sub + 1, sub)
                    for s in range(n_subspaces)
                ]
            )
        ).alias("s", "sv"),
    ).select(F.col("vec_id"), F.col("s").cast("long").alias("s"), "sv")
    # _cws element order is UNSPECIFIED (collect_list — ADVICE r16):
    # consumers must stay order-independent (array_min over (dist, j)
    # structs is; never index positionally into _cws). coalesce(1)
    # kills the aggregate's Exchange — the codebook is m·k rows of
    # model data (KBs), single-partition by contract (r17).
    cb_arr = codebook.coalesce(1).groupBy("s").agg(
        F.collect_list(F.struct(F.col("j"), F.col("cw"))).alias("_cws")
    )
    best = sub_rows.join(F.broadcast(cb_arr), "s").select(
        "vec_id",
        "s",
        F.array_min(
            F.transform(
                "_cws",
                lambda c: F.struct(
                    _dec_fold(
                        F.zip_with(
                            F.col("sv"),
                            c["cw"],
                            lambda a, b: (a - b) * (a - b),
                        )
                    ).alias("dist"),
                    c["j"].alias("j"),
                ),
            )
        ).alias("_best"),
    )
    if return_dist:
        return best.select(
            "vec_id", "s", F.col("_best.j").alias("code"),
            det_round(F.col("_best.dist"), 8).alias("dist"),
        )
    return best.select("vec_id", "s", F.col("_best.j").alias("code"))


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    stride: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: queries never
    touch corpus vectors — each query precomputes a lookup table of
    per-(subspace, code) partial dot products against the codebook,
    and the scan scores CODES (m ints/vector) via LUT join + exact
    decimal sums. ``sim ≈ cos(q, x̂)`` where ``x̂`` is the implicit
    codeword reconstruction: ``dot(q, x̂) = Σ_s dot(q_s, c_{s,code_s})``
    and ``‖x̂‖² = Σ_s ‖c_{s,code_s}‖²`` — both assembled from the LUT,
    so the serving scan reads only the codes table.

    Pass ``codebook``/``codes`` (e.g. landed model-zone tables) to skip
    the in-plan fit/encode — the PQ serving seam; defaults build both
    from the corpus in-plan (the oracle-mirrorable self-contained form).

    Scale shape: LUT is |q|·m·k rows (broadcast), the scan is one
    broadcast hash join codes⋈LUT on (s, code) plus a map-side-combined
    (query_id, vec_id) sum — shuffle carries |corpus|·|q| scalar rows,
    and the corpus-side input is the codes table at m·4B/vector, 64×
    narrower than the raw embedding scan brute_force_topk pays."""
    if codebook is None:
        codebook = pq_codebook(
            embeddings, n_subspaces, n_codes, dim, stride, id_col, vec_col
        )
    if codes is None:
        codes = pq_encode(embeddings, codebook, n_subspaces, dim, id_col, vec_col)
    sub = dim // n_subspaces

    # per-(s, j) squared codeword norm — from the codebook alone
    lutn = codebook.select(
        "s",
        "j",
        _dec_fold(F.transform("cw", lambda x: x * x)).alias("cnorm2"),
    )
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    qnorm = q.select("query_id", _norm(F.col("qvec")).alias("qnorm"))
    q_sub = q.select(
        "query_id",
        F.posexplode(
            F.array(
                *[F.slice("qvec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "qs"),
    ).select("query_id", F.col("s").cast("long").alias("s"), "qs")
    lut = (
        q_sub.join(F.broadcast(codebook), "s")
        .select(
            "query_id",
            "s",
            "j",
            _dec_fold(
                F.zip_with(F.col("qs"), F.col("cw"), lambda a, b: a * b)
            ).alias("pdot"),
        )
        .join(F.broadcast(lutn), ["s", "j"])
    )

    scored = (
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["j"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("pdot").cast("decimal(28,12)"))
            .cast("double")
            .alias("_adot"),
            F.sum(F.col("cnorm2").cast("decimal(28,12)"))
            .cast("double")
            .alias("_xn2"),
        )
    )
    sim = scored.join(F.broadcast(qnorm), "query_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.col("_adot") / (F.col("qnorm") * F.sqrt(F.col("_xn2")))).alias("_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def _coarse_centroids(centroids: DataFrame) -> DataFrame:
    """Normalize a coarse-quantizer table to ``(cid, cvec)``: accepts
    the vector column as either ``cvec`` (ivfpq_model's own output)
    or ``centroid_vec`` (ml.kmeans_fixed's trained table) — ADVICE
    r10: the two entry points previously demanded different names, so
    round-tripping one function's centroids into the other raised
    AnalysisException."""
    vec = "cvec" if "cvec" in centroids.columns else "centroid_vec"
    return centroids.select(
        F.col("cid").cast("long").alias("cid"),
        as_double(F.col(vec)).alias("cvec"),
    )


def ivfpq_model(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    stride: int = 29,
    cb_stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    return_dist: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the IVF-PQ model (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search" — the FAISS ``IVFADC`` index) over the
    corpus: returns ``(centroids, codebook, codes)``.

    * ``centroids (cid, cvec)`` — the coarse quantizer cells. Default
      is the strided deterministic sample (:func:`ivf_topk`'s
      oracle-mirrorable fallback); pass a trained table (e.g.
      ``ml.kmeans_fixed``) for the production configuration.
    * ``codebook (s, j, cw)`` — ONE shared per-subspace codebook over
      coarse RESIDUALS ``r = x − c(x)`` (FAISS's default: a single
      residual codebook across cells, not per-cell books — m·k rows
      total, broadcast-sized at any corpus size). Codewords are the
      residuals of a second strided sample (``id % cb_stride``, code
      id j IS the sample's vec_id — no window, identical tie-breaks
      cross-engine).
    * ``codes (vec_id, cluster_id, s, code)`` — every corpus vector
      encoded as its cell id + m sub-codes, argmin squared-L2 per
      subspace with det-round-12 decimal partial sums (ties → lowest
      j). THIS is the only corpus-scale table a query ever scans.

    Scale shape: the assignment is the :func:`ivf_topk` per-row
    argmax fold (a projection — zero shuffles, centroids stay DATA as
    one broadcast array row); residuals are a projection over the
    assigned rows; the encode is the :func:`pq_encode` ×m slice
    fan-out + broadcast per-subspace codeword-array join + per-row
    ``array_min`` fold — the whole model fit runs without a single
    exchange (optimization r16). At 100 TB the codes table is written
    partitioned by ``cluster_id`` so the probe join prunes cells at
    the file level.

    Pass ``codebook`` (e.g. a landed zone table) to skip the residual
    codebook fit and encode against it — the zone-build discipline's
    encode-from-what-was-landed seam (ADVICE r10); pass ``centroids``
    as either ``(cid, cvec)`` or a trained ``(cid, centroid_vec)``
    table. With ``return_dist`` each code row carries the winning
    residual-encode squared-L2 distortion det-rounded to 8 digits —
    the streaming IVFPQ gate's drift statistic (:func:`pq_encode`'s
    analog).
    """
    if centroids is not None:
        cent = _coarse_centroids(centroids)
    else:
        cent = (
            embeddings.filter(F.col(id_col) % stride == 0)
            .orderBy(F.col(id_col))
            .limit(n_clusters)
            .select(
                F.col(id_col).cast("long").alias("cid"),
                as_double(F.col(vec_col)).alias("cvec"),
            )
        )

    # coarse assignment: broadcast argmax over cells (ivf_topk shape)
    assigned = (
        spread_small_input(
            embeddings.select(
                F.col(id_col).cast("long").alias("vec_id"),
                as_double(F.col(vec_col)).alias("_vec"),
            )
        )
        .join(F.broadcast(_cells_array(cent, vec_col="cvec")))
        .select(
            "vec_id",
            "_vec",
            _argmax_cell(
                F.col("_vec"), F.col("_cents"), with_cv=True
            ).alias("_best"),
        )
        .select(
            "vec_id",
            (-F.col("_best.nc")).alias("cluster_id"),
            F.zip_with("_vec", "_best.cv", lambda a, b: a - b).alias(
                "rvec"
            ),
        )
    )

    sub = dim // n_subspaces
    if codebook is None:
        codebook = (
            assigned.filter(F.col("vec_id") % cb_stride == 0)
            .orderBy(F.col("vec_id"))
            .limit(n_codes)
            .select(
                F.col("vec_id").alias("j"),
                F.posexplode(
                    F.array(
                        *[
                            F.slice("rvec", s * sub + 1, sub)
                            for s in range(n_subspaces)
                        ]
                    )
                ).alias("s", "cw"),
            )
            .select(F.col("s").cast("long").alias("s"), "j", "cw")
        )

    sub_rows = assigned.select(
        "vec_id",
        "cluster_id",
        F.posexplode(
            F.array(
                *[F.slice("rvec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "sv"),
    ).select("vec_id", "cluster_id", F.col("s").cast("long").alias("s"), "sv")
    # _cws element order is UNSPECIFIED (collect_list — ADVICE r16):
    # consumers must stay order-independent (array_min over (dist, j)
    # structs is; never index positionally into _cws). coalesce(1)
    # kills the aggregate's Exchange — the codebook is m·k rows of
    # model data (KBs), single-partition by contract (r17).
    cb_arr = codebook.coalesce(1).groupBy("s").agg(
        F.collect_list(F.struct(F.col("j"), F.col("cw"))).alias("_cws")
    )
    codes = sub_rows.join(F.broadcast(cb_arr), "s").select(
        "vec_id",
        "cluster_id",
        "s",
        F.array_min(
            F.transform(
                "_cws",
                lambda c: F.struct(
                    _dec_fold(
                        F.zip_with(
                            F.col("sv"),
                            c["cw"],
                            lambda a, b: (a - b) * (a - b),
                        )
                    ).alias("dist"),
                    c["j"].alias("j"),
                ),
            )
        ).alias("_best"),
    )
    if return_dist:
        codes = codes.select(
            "vec_id", "cluster_id", "s",
            F.col("_best.j").alias("code"),
            det_round(F.col("_best.dist"), 8).alias("dist"),
        )
    else:
        codes = codes.select(
            "vec_id", "cluster_id", "s", F.col("_best.j").alias("code")
        )
    return cent, codebook, codes


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    k: int = 5,
    stride: int = 29,
    cb_stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ (``IVFADC``) approximate top-k: coarse cells prune the
    scan to ``n_probe`` inverted lists AND product quantization
    compresses what remains to m sub-codes per vector — the two
    orthogonal scale levers of :func:`ivf_topk` (read fewer rows) and
    :func:`pq_topk` (read narrower rows) composed, which is the
    architecture every production vector store serves from at 100 TB.

    Scoring is asymmetric (ADC) against the implicit reconstruction
    ``x̂ = c + r̂``::

        dot(q, x̂)  = dot(q, c) + Σ_s dot(q_s, cw[s, code_s])
        ‖x̂‖²       = ‖c‖² + 2·Σ_s dot(c_s, cw[s, code_s])
                          + Σ_s ‖cw[s, code_s]‖²

    Every Σ_s is assembled from broadcast lookup tables — ``pdot``
    (|q|·m·k rows, query-side), ``cdot``/``cw2`` (n_clusters·m·k and
    m·k rows, model-side constants) — joined against the CODES of the
    probed cells only, then reduced by one map-side-combined
    (query_id, vec_id) decimal sum. The serving scan therefore reads
    ``|probed cells| × m`` small ints and never a corpus vector; at
    scale the codes table is partitioned by ``cluster_id`` so the
    probe join is file-pruned.

    All cross-component sums are det-round-12 decimal accumulations
    (:func:`_dec_fold` / DECIMAL(28,12) partials) — bit-reproducible
    and mirrored term-for-term by the DuckDB oracle. Ties: probe order
    (cos DESC, cid ASC), encode argmin (dist ASC, j ASC), final rank
    (sim DESC, neighbor_id ASC).

    Pass ``centroids``/``codebook``/``codes`` (e.g. landed model-zone
    tables) to skip the fit — the serving seam; defaults fit in-plan
    (the self-contained oracle-gated form).
    """
    if centroids is None or codebook is None or codes is None:
        cent, cb, cds = ivfpq_model(
            embeddings, n_clusters, n_probe, n_subspaces, n_codes, dim,
            stride, cb_stride, id_col, vec_col, centroids=centroids,
        )
        codebook = cb if codebook is None else codebook
        codes = cds if codes is None else codes
    else:
        cent = _coarse_centroids(centroids)
    sim = _ivfpq_scores(
        queries, cent, codebook, codes,
        n_probe=n_probe, n_subspaces=n_subspaces, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
        )
    )


def ivfpq_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    shortlist: int = 20,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    stride: int = 29,
    cb_stride: int = 31,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same_label: bool = False,
    label_col: str = "label",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVFPQ shortlist → EXACT rerank (the FAISS ``IndexRefineFlat``
    pattern, Jegou et al. 2011 §V): the compressed ADC serve is a
    RECALL device, not a precision device — quantization error can
    swap near-ties, so production serving over-fetches a ``shortlist``
    of candidates from the codes (cheap: probed cells × m small ints)
    and re-scores ONLY those against the flat vectors (expensive per
    row, but |q|·shortlist rows total). Near-exact top-k at a tiny
    fraction of brute-force cost.

    Plan shape: the ADC stage is :func:`ivfpq_topk` verbatim (probed
    cells only, broadcast LUTs, decimal reductions); the rerank stage
    broadcasts the |q|·shortlist id set against ONE narrow pass over
    the flat embeddings (equi-key broadcast hash join — the corpus is
    never crossed), computes the exact sequential-fold cosine, and
    ranks. At 100 TB keep the flat zone sorted by ``vec_id`` so the
    shortlist join's min/max stats prune row groups; this is also why
    the store-once (codes-only) deployment documents that rerank
    requires retaining a flat zone.

    ``exclude_same_label=True`` turns the operator into HARD-NEGATIVE
    MINING for contrastive training: the shortlist is post-filtered to
    neighbors whose ``label_col`` differs from the query's, so the
    result is the top-k most-similar *different-class* examples. Size
    ``shortlist`` with over-fetch headroom (the filter discards
    same-class candidates; a query whose probed cells are dominated by
    its own class yields fewer than k rows — honest, not padded).

    Output: ``(query_id, neighbor_id, sim_rank, cosine_sim, adc_sim)``
    — exact rank and cosine plus the ADC estimate that won the
    candidate its shortlist slot, so the refinement is auditable.
    Ties: rank (exact sim DESC, neighbor_id ASC); shortlist membership
    inherits ivfpq_topk's determinism.
    """
    short = ivfpq_topk(
        embeddings, queries,
        n_clusters=n_clusters, n_probe=n_probe, n_subspaces=n_subspaces,
        n_codes=n_codes, dim=dim, k=shortlist, stride=stride,
        cb_stride=cb_stride, id_col=id_col, vec_col=vec_col,
        centroids=centroids, codebook=codebook, codes=codes,
    ).select("query_id", "neighbor_id", F.col("cosine_sim").alias("adc_sim"))
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    cand = embeddings.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cvec"),
        *([F.col(label_col).alias("_nlabel")] if exclude_same_label else []),
    ).join(F.broadcast(short), "neighbor_id")
    if exclude_same_label:
        qlab = queries.select(
            F.col(id_col).cast("long").alias("query_id"),
            F.col(label_col).alias("_qlabel"),
        )
        cand = cand.join(F.broadcast(qlab), "query_id").filter(
            F.col("_nlabel") != F.col("_qlabel")
        )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id",
        "neighbor_id",
        "adc_sim",
        cosine(F.col("qvec"), F.col("cvec")).alias("_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
            "adc_sim",
        )
    )


def contrastive_triplets(
    embeddings: DataFrame,
    queries: DataFrame,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **model_kwargs,
) -> DataFrame:
    """(anchor, positive, negative) triplet construction for
    contrastive / metric-learning training — the data product an
    embedding-training pipeline mines from its own corpus: per anchor,
    the most-similar SAME-label example (the positive) and the
    most-similar DIFFERENT-label example (the hard negative), plus the
    margin between them (≤ 0 ⇒ the negative currently outranks the
    positive — exactly the triplets a trainer wants most).

    One refine pass does all the work: :func:`ivfpq_rerank_topk` with
    ``k = shortlist`` exact-scores the ADC shortlist once; labels then
    SPLIT the ranked candidates instead of re-searching per class.
    Anchors whose probed cells lack one side honestly drop (inner
    semantics via the margin's non-null requirement) rather than
    pairing with a fabricated example.

    Determinism: both sides rank by (round-6 exact cosine DESC,
    neighbor_id ASC) — the already-deterministic rerank output order.

    Broadcast discipline (ADVICE r14): the label table is CORPUS-sized
    and must never ride the broadcast side at 100 TB; the
    |q|·shortlist ranked set is the bounded side, so BOTH label
    attaches scan ``embeddings`` (two-column pruned) and broadcast the
    ranked rows — the same orientation :func:`ivfpq_rerank_topk` uses
    for its flat-vector rejoin.
    """
    ranked = ivfpq_rerank_topk(
        embeddings, queries, shortlist=shortlist, k=shortlist,
        id_col=id_col, vec_col=vec_col, **model_kwargs,
    )
    labels = embeddings.select(
        F.col(id_col).cast("long").alias("_lid"),
        F.col(label_col).alias("_lab"),
    )
    with_qlab = labels.select(
        F.col("_lid").alias("query_id"),
        F.col("_lab").alias("_qlab"),
    ).join(F.broadcast(ranked), "query_id")
    flagged = (
        labels.select(
            F.col("_lid").alias("neighbor_id"),
            F.col("_lab").alias("_nlab"),
        )
        .join(F.broadcast(with_qlab), "neighbor_id")
        .withColumn("_is_pos", F.col("_qlab") == F.col("_nlab"))
    )
    w = Window.partitionBy("query_id", "_is_pos").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    first = flagged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    # ≤ 1 row per (anchor, side) after the rank filter, so the
    # conditional max IS that row — no tie left to break
    agg = first.groupBy("query_id").agg(
        F.max(F.when(F.col("_is_pos"), F.col("neighbor_id"))).alias(
            "positive_id"
        ),
        F.max(F.when(F.col("_is_pos"), F.col("cosine_sim"))).alias(
            "pos_sim"
        ),
        F.max(F.when(~F.col("_is_pos"), F.col("neighbor_id"))).alias(
            "negative_id"
        ),
        F.max(F.when(~F.col("_is_pos"), F.col("cosine_sim"))).alias(
            "neg_sim"
        ),
    )
    return (
        agg.filter(
            F.col("positive_id").isNotNull()
            & F.col("negative_id").isNotNull()
        )
        .select(
            F.col("query_id").alias("anchor_id"),
            "positive_id",
            "pos_sim",
            "negative_id",
            "neg_sim",
            det_round(F.col("pos_sim") - F.col("neg_sim"), 6).alias(
                "margin"
            ),
        )
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **model_kwargs,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998) — the DIVERSIFICATION stage after the refine tier,
    the standard fix for an ANN result page full of near-duplicates
    (a dedup-adjacent serving problem: the corpus keeps near-dups, the
    RESULT should not): greedily select k candidates maximizing

        MMR(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)

    over the :func:`ivfpq_rerank_topk` shortlist (rel = the round-6
    exact rerank cosine; the max-term is 0 for the first pick, so one
    formula scores every step). λ=1 reduces to plain rerank order;
    lower λ trades relevance for coverage.

    Scale shape: the candidate grain is |q|·shortlist (bounded — the
    refine tier's own invariant), the pairwise-sim table is
    |q|·shortlist² equi-keyed on query_id, and the k greedy steps are
    joins over those bounded tables with the cumulative selection
    ``localCheckpoint``-ed per step (the connected-components plan-
    depth discipline, dedup.py) — the corpus is touched only by the
    shortlist stages. Greedy selection is inherently sequential in k;
    k is a serving constant, never data-sized.

    Determinism: rel, pairwise sims, and the MMR score are all
    det-rounded to 6 before ranking; every rank breaks ties by
    neighbor_id ASC — so the greedy trajectory is bit-reproducible and
    the DuckDB oracle unrolls the same k steps."""
    ranked = ivfpq_rerank_topk(
        embeddings, queries, shortlist=shortlist, k=shortlist,
        id_col=id_col, vec_col=vec_col, **model_kwargs,
    )
    # ONE materialization of the rerank chain (the expensive stage):
    # the pairwise build and the greedy tail both read it
    relc = ranked.select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("rel")
    ).localCheckpoint()
    cand = embeddings.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    ).join(F.broadcast(relc), "neighbor_id")
    pairs = (
        cand.select(
            "query_id",
            F.col("neighbor_id").alias("nid_a"),
            F.col("cvec").alias("_va"),
        )
        .join(
            cand.select(
                "query_id",
                F.col("neighbor_id").alias("nid_b"),
                F.col("cvec").alias("_vb"),
            ),
            "query_id",
        )
        .filter(F.col("nid_a") != F.col("nid_b"))
        .select(
            "query_id",
            "nid_a",
            "nid_b",
            det_round(cosine(F.col("_va"), F.col("_vb")), 6).alias(
                "psim"
            ),
        )
    )
    # decimal-exact score arithmetic (rel/psim are round-6 doubles —
    # decimal-exact — and λ is a decimal literal): a double λ·rel −
    # (1−λ)·maxsim can land an ulp off a .5 round boundary DIFFERENTLY
    # per engine (FMA/ordering), flipping the 6th digit; the decimal
    # products are exact on both engines, so the round is of the same
    # exact value
    from decimal import Decimal

    lam_d = Decimal(str(lam))
    om_d = Decimal(1) - lam_d
    dec = lambda c: c.cast("decimal(18,6)")
    lam_c = F.lit(str(lam_d)).cast("decimal(18,6)")
    one_minus = F.lit(str(om_d)).cast("decimal(18,6)")

    # Optimization r16 (guide §2.4/§1.2 — remove shuffles and
    # sequential jobs outright): the greedy loop ran k−1 eager
    # localCheckpoint steps, each a join+window job over bounded
    # (|q|·shortlist) tables — pure per-step plan constants. The
    # trajectory is a per-query computation over ≤ shortlist
    # candidates and ≤ shortlist² pairwise sims, so it collapses into
    # ONE higher-order-function expression over per-query arrays:
    # identical decimal-exact scores, identical (score DESC, nid ASC)
    # tie-breaks (array_max over a (score, −nid) struct ≡ the old
    # window's ROW_NUMBER rule), zero extra jobs, zero checkpoints.
    cands_arr = relc.groupBy("query_id").agg(
        F.collect_list(
            F.struct(
                F.col("neighbor_id").alias("nid"),
                F.col("rel").alias("rel"),
            )
        ).alias("_cands")
    )
    pairs_arr = pairs.groupBy("query_id").agg(
        F.collect_list(
            F.struct(
                F.col("nid_a").alias("a"),
                F.col("nid_b").alias("b"),
                F.col("psim").alias("p"),
            )
        ).alias("_pairs")
    )
    joined = cands_arr.join(pairs_arr, "query_id", "left").select(
        "query_id",
        "_cands",
        F.coalesce(
            "_pairs",
            F.array().cast("array<struct<a:bigint,b:bigint,p:double>>"),
        ).alias("_pairs"),
    )

    def _step(acc, _i):
        sel_ids = F.transform(acc, lambda s: s["nid"])
        remaining = F.filter(
            F.col("_cands"),
            lambda c: ~F.array_contains(sel_ids, c["nid"]),
        )

        def _score(c):
            msim = F.array_max(
                F.transform(
                    F.filter(
                        F.col("_pairs"),
                        lambda pr: (pr["a"] == c["nid"])
                        & F.array_contains(sel_ids, pr["b"]),
                    ),
                    lambda pr: pr["p"],
                )
            )
            return F.when(
                msim.isNull(),  # first pick: no selected set yet
                det_round((lam_c * dec(c["rel"])).cast("double"), 6),
            ).otherwise(
                det_round(
                    (
                        lam_c * dec(c["rel"]) - one_minus * dec(msim)
                    ).cast("double"),
                    6,
                )
            )

        pick = F.array_max(
            F.transform(
                remaining,
                lambda c: F.struct(
                    _score(c).alias("score"),
                    (-c["nid"]).alias("negnid"),
                    c["rel"].alias("rel"),
                ),
            )
        )
        appended = F.concat(
            acc,
            F.array(
                F.struct(
                    (-pick["negnid"]).alias("nid"),
                    pick["rel"].alias("rel"),
                    pick["score"].alias("score"),
                    (F.size(acc) + 1).cast("long").alias("rank"),
                )
            ),
        )
        return F.when(pick.isNull(), acc).otherwise(appended)

    empty_sel = F.array().cast(
        "array<struct<nid:bigint,rel:double,score:double,rank:bigint>>"
    )
    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(k)), empty_sel, _step
    )
    return joined.select(
        "query_id", F.explode(sel).alias("_s")
    ).select(
        "query_id",
        F.col("_s.nid").alias("neighbor_id"),
        F.col("_s.rank").alias("mmr_rank"),
        F.col("_s.rel").alias("relevance"),
        F.col("_s.score").alias("mmr_score"),
    )


def recall_report(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against the
    exact baseline — MEASUREMENT AS DATA: the number every ANN
    deployment tunes against (n_probe, shortlist, codebook size),
    served as a hash-gateable table instead of a log line. Both inputs
    are ``(query_id, neighbor_id, ...)`` top-k results (any of the
    tier's serves: SRP / IVF / PQ / IVFPQ / rerank vs
    :func:`brute_force_topk`).

    recall@k = |approx ∩ exact| / k per query. The join is |q|·k rows
    on both sides — driver-free, broadcast-sized by construction; at
    100 TB the exact side is the expensive input, so run the report on
    a query SAMPLE (the standard recall-evaluation protocol) while the
    approximate serve handles full traffic.
    """
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn(
        "_hit", F.lit(1)
    )
    return (
        e.join(F.broadcast(a), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("hits"))
        .select(
            "query_id",
            "hits",
            F.lit(k).cast("long").alias("k"),
            det_round(F.col("hits") / F.lit(float(k)), 4).alias(
                "recall_at_k"
            ),
        )
    )


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Truncation-recall report for Matryoshka-style serving
    (Kusupati et al. 2022 MRL evaluation): recall@k of exact search
    over the first-``d`` PREFIX of every embedding against exact
    search at full dimension, one row per candidate ``d``. The
    storage/latency question this answers at 100 TB: how many leading
    dimensions can the serving index keep (d/64 of the bytes, of the
    scan, of the shuffle) before recall drops below target — the same
    read-fraction lever as PQ, pulled on the dimension axis, and the
    table a deployment reads before choosing its truncation point.

    ``mean_recall`` is exact integer arithmetic (Σ hits / (|q|·k)) —
    no float-order dependence — so the report hash-gates cleanly.
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    exact = brute_force_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    outs = []
    for d in dims:
        sliced_c = embeddings.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        sliced_q = queries.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        approx = brute_force_topk(
            sliced_c, sliced_q, k=k, id_col=id_col, vec_col=vec_col
        )
        outs.append(
            recall_report(exact, approx, k)
            .agg(
                F.sum("hits").cast("long").alias("total_hits"),
                F.count(F.lit(1)).cast("long").alias("n_queries"),
            )
            .select(
                F.lit(d).cast("long").alias("trunc_dim"),
                "total_hits",
                "n_queries",
                det_round(
                    F.col("total_hits").cast("double")
                    / (F.col("n_queries") * F.lit(k)).cast("double"),
                    4,
                ).alias("mean_recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def ivf_probe_tuning(
    embeddings: DataFrame,
    queries: DataFrame,
    n_probes: tuple[int, ...] = (1, 2, 4, 8),
    k: int = 5,
    n_clusters: int = 16,
    stride: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lists: DataFrame | None = None,
) -> DataFrame:
    """The n_probe TUNING TABLE — :func:`matryoshka_recall`'s decision
    shape pulled on the PROBE axis: recall@k of the IVF serve against
    exact search, one row per candidate ``n_probe``, with the exact
    read-fraction each setting pays (``n_probe / n_clusters`` of the
    lists zone under DPP — the other column of the trade). This is the
    table a deployment reads before pinning its probe budget: recall
    rises with probed cells, bytes rise linearly, and the knee is a
    data property the report makes visible (the script form lives in
    ``scripts/ivf_recall_curve.py``; this is the hash-gated
    measurement-as-data twin that can run per-deploy on a query
    sample, beside ``ivf_cell_stats`` and ``ann_recall_report``).

    One quantizer serves every row (pass ``centroids``/``lists`` for a
    landed zone, same contract as :func:`ivf_topk`); only the probe
    cut varies, so differences between rows are pure probe-budget
    effects, never fit noise. ``mean_recall`` is exact integer
    arithmetic (Σ hits / (|q|·k)) — hash-stable.
    """
    if not n_probes:
        raise ValueError("n_probes must be non-empty")
    exact = brute_force_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    # ONE serve chain for every candidate budget (optimization r16):
    # the old per-p ivf_topk loop re-derived the corpus assignment and
    # the probe/score joins once per report row. The budgets nest —
    # cells probed at p are the first p of the pmax probe order, and a
    # neighbor lives in exactly one cell — so one scored table tagged
    # with each candidate's PROBE RANK answers all budgets: candidate
    # under p iff _pr <= p, and its rank among p-candidates is a
    # running conditional count over the SAME (sim DESC, id ASC)
    # order row_number used. One corpus pass, one window pass (the
    # per-p running sums share one sort), one hit join — vs
    # len(n_probes) full chains.
    pmax = max(n_probes)
    # the SAME quantizer/corpus rule as ivf_topk (ADVICE r16: factored
    # into _serve_quantizer/_serve_corpus so the tuning table can never
    # silently measure a different index than the serve path uses)
    cent = _serve_quantizer(
        embeddings, centroids, n_clusters, stride, id_col, vec_col
    )
    corpus = _serve_corpus(embeddings, cent, lists, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    probes = (
        q.join(F.broadcast(_cells_array(cent)))
        .select(
            "query_id",
            "qvec",
            F.posexplode(
                _top_cells(F.col("qvec"), F.col("_cents"), pmax)
            ).alias("_i", "_p"),
        )
        .select(
            "query_id",
            "qvec",
            (-F.col("_p.nc")).alias("cluster_id"),
            (F.col("_i") + 1).alias("_pr"),
        )
    )
    scored = (
        corpus.join(F.broadcast(probes), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec_corpus")).alias("_sim"),
            "_pr",
        )
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("_sim"), F.asc("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flags = scored.select(
        "query_id",
        "neighbor_id",
        *[
            (
                (F.col("_pr") <= p)
                & (
                    F.sum(
                        F.when(F.col("_pr") <= p, 1).otherwise(0)
                    ).over(w)
                    <= k
                )
            ).alias(f"_in_{i}")
            for i, p in enumerate(n_probes)
        ],
    )
    # Scale-safety (VERDICT r16 #1): the raw flags table has one row
    # per (query, probed candidate) — size ~ |q|·pmax·|corpus|/k_cells,
    # linear in the corpus — so it must never be the broadcast side.
    # Only rows with at least one TRUE in-budget flag can change the
    # hit sums: an all-false row contributes exactly what a missing
    # row does (the left join's null flags count 0 under the
    # when/otherwise), and at most k rows per (query, budget) are
    # true, so the filtered table is bounded by |q|·k·len(n_probes) —
    # broadcast-sized by construction, like the exact side.
    any_in = F.col("_in_0")
    for _i in range(1, len(n_probes)):
        any_in = any_in | F.col(f"_in_{_i}")
    flags = flags.filter(any_in)
    totals = (
        exact.select("query_id", "neighbor_id")
        .join(F.broadcast(flags), ["query_id", "neighbor_id"], "left")
        .agg(
            *[
                F.sum(F.when(F.col(f"_in_{i}"), 1).otherwise(0))
                .cast("long")
                .alias(f"_h_{i}")
                for i in range(len(n_probes))
            ],
            F.count_distinct(F.col("query_id"))
            .cast("long")
            .alias("_nq"),
        )
    )
    return totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("n_probe"),
                        F.col(f"_h_{i}").alias("total_hits"),
                        F.col("_nq").alias("n_queries"),
                        det_round(
                            F.lit(float(p)) / F.lit(float(n_clusters)), 4
                        ).alias("read_fraction"),
                    )
                    for i, p in enumerate(n_probes)
                ]
            )
        ).alias("_r")
    ).select(
        F.col("_r.n_probe").alias("n_probe"),
        F.col("_r.total_hits").alias("total_hits"),
        F.col("_r.n_queries").alias("n_queries"),
        det_round(
            F.col("_r.total_hits").cast("double")
            / (F.col("_r.n_queries") * F.lit(k)).cast("double"),
            4,
        ).alias("mean_recall"),
        F.col("_r.read_fraction").alias("read_fraction"),
    )


def choose_probe_budget(
    tuning_rows, recall_floor: float
) -> int:
    """The deployment rule over a collected :func:`ivf_probe_tuning`
    table (a handful of rows — one per candidate ``n_probe``): the
    CHEAPEST probe budget meeting the recall floor (read_fraction is
    monotone in n_probe, so smallest-n_probe = argmin cost); if no
    candidate reaches the floor, the best-recall row (ties to the
    cheaper budget) — a degraded serve beats refusing to serve, and
    the tuning table itself documents the shortfall."""
    rows = list(tuning_rows)
    if not rows:
        raise ValueError("tuning table is empty")
    meets = [r["n_probe"] for r in rows if r["mean_recall"] >= recall_floor]
    if meets:
        return int(min(meets))
    best = max(rows, key=lambda r: (r["mean_recall"], -r["n_probe"]))
    return int(best["n_probe"])


def ivf_tuned_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    tuning: DataFrame,
    recall_floor: float = 0.9,
    k: int = 5,
    n_clusters: int = 16,
    stride: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lists: DataFrame | None = None,
) -> DataFrame:
    """IVF serve with the probe budget DRIVEN BY the tuning table
    (VERDICT r15 #6 — :func:`ivf_probe_tuning` produced the
    recall/cost table; this operator consumes it): read the landed
    tuning rows, pick the argmin-cost budget meeting ``recall_floor``
    (:func:`choose_probe_budget`), and run :func:`ivf_topk` with it —
    the dashboard now turns the knob it exists for. Output is the
    serve's top-k rows plus the constant ``n_probe_used`` column, so
    a result set is self-describing about the budget that produced it.

    The tuning read is a BOUNDED collect — one row per candidate
    n_probe, a serving constant (the probe budget shapes the plan, so
    it must be a driver-side value; this is the same bounded-scalar
    discipline as the BPE merge collect). At 100 TB the tuning table
    is landed once per deploy by the tuning pass; every serve reads
    those few rows, never the corpus."""
    chosen = choose_probe_budget(
        tuning.select("n_probe", "mean_recall").collect(), recall_floor
    )
    out = ivf_topk(
        embeddings,
        queries,
        n_clusters=n_clusters,
        n_probe=chosen,
        k=k,
        stride=stride,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
        lists=lists,
    )
    return out.withColumn(
        "n_probe_used", F.lit(int(chosen)).cast("long")
    )


def _ivfpq_scores_multigen(
    queries: DataFrame,
    cents_g: DataFrame,
    cb_g: DataFrame,
    codes: DataFrame,
    n_probe: int = 4,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Generation-as-data twin of :func:`_ivfpq_scores` — ONE scoring
    plan over a multi-generation store-once zone (VERDICT r13 #2: the
    measured per-generation plan constant of the loop-of-chains serve
    was ~1.2 s/gen at ×10, linear to 8.9 s at 7 live generations —
    BASELINE.md, "Round-14 store-once serve vs generation count" — so
    the shared serve earned its build). ``cents_g`` / ``cb_g`` are the per-generation model tables
    UNIONED with a ``gen`` column (k·G and m·k·G rows — still
    broadcast-sized); ``codes`` carries ``gen`` per row. Every
    model-side LUT, the probe window, and every scoring join gain
    ``gen`` as a key, and the query-side subspace explode is computed
    ONCE and shared across generations. Each (query, vector) pair
    exists under exactly one generation (the retained-sample reader's
    invariant), so every decimal-sum group is row-identical to the
    per-generation chains and the scores are BIT-IDENTICAL (the
    ``ann_ivfpq_once_stream`` dual-chain oracle hash-gates this).
    The codes scan collapses from one branch per generation to ONE
    DPP-pruned scan whose broadcast probe set spans all generations —
    Σ_g probed-cell bytes, same I/O floor, G× fewer plan constants."""
    sub = dim // n_subspaces

    cw2 = cb_g.select(
        "gen", "s", "j",
        _dec_fold(F.transform("cw", lambda x: x * x)).alias("cw2"),
    )
    cent_sub = cents_g.select(
        "gen",
        "cid",
        F.posexplode(
            F.array(
                *[F.slice("cvec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "cs"),
    ).select("gen", "cid", F.col("s").cast("long").alias("s"), "cs")
    cdot = cent_sub.join(F.broadcast(cb_g), ["gen", "s"]).select(
        "gen",
        "cid",
        "s",
        "j",
        _dec_fold(F.zip_with(F.col("cs"), F.col("cw"), lambda a, b: a * b)).alias(
            "cdot"
        ),
    )
    cn2 = cents_g.select(
        "gen", "cid",
        _dec_fold(F.transform("cvec", lambda x: x * x)).alias("cnorm2"),
    )

    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    qnorm = q.select("query_id", _norm(F.col("qvec")).alias("qnorm"))
    probes = (
        q.join(
            F.broadcast(
                _cells_array(cents_g, vec_col="cvec", group_cols=("gen",))
            )
        )
        .select(
            "query_id",
            "gen",
            F.explode(
                _top_cells(
                    F.col("qvec"), F.col("_cents"), n_probe,
                    with_qdotc=True,
                )
            ).alias("_p"),
        )
        .select(
            "query_id",
            "gen",
            (-F.col("_p.nc")).alias("cluster_id"),
            F.col("_p.qdotc").alias("qdotc"),
        )
    )
    # the query-side subspace explode — computed once, shared by all
    # generations (the lever the loop-of-chains serve recomputed G×)
    q_sub = q.select(
        "query_id",
        F.posexplode(
            F.array(
                *[F.slice("qvec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "qs"),
    ).select("query_id", F.col("s").cast("long").alias("s"), "qs")
    pdot = q_sub.join(F.broadcast(cb_g), "s").select(
        "query_id",
        "gen",
        "s",
        "j",
        _dec_fold(F.zip_with(F.col("qs"), F.col("cw"), lambda a, b: a * b)).alias(
            "pdot"
        ),
    )

    scored = (
        codes.join(
            F.broadcast(
                probes.select("query_id", "gen", "cluster_id", "qdotc")
            ),
            ["gen", "cluster_id"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(pdot.withColumnRenamed("j", "code")),
            ["query_id", "gen", "s", "code"],
        )
        .join(
            F.broadcast(
                cdot.withColumnRenamed("cid", "cluster_id").withColumnRenamed(
                    "j", "code"
                )
            ),
            ["gen", "cluster_id", "s", "code"],
        )
        .join(
            F.broadcast(cw2.withColumnRenamed("j", "code")),
            ["gen", "s", "code"],
        )
        .groupBy("query_id", "vec_id", "gen", "cluster_id", "qdotc")
        .agg(
            F.sum(F.col("pdot").cast("decimal(28,12)"))
            .cast("double")
            .alias("_rdot"),
            F.sum(F.col("cdot").cast("decimal(28,12)"))
            .cast("double")
            .alias("_rcdot"),
            F.sum(F.col("cw2").cast("decimal(28,12)"))
            .cast("double")
            .alias("_rn2"),
        )
    )
    return (
        scored.join(
            F.broadcast(cn2.withColumnRenamed("cid", "cluster_id")),
            ["gen", "cluster_id"],
        )
        .join(F.broadcast(qnorm), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                (F.col("qdotc") + F.col("_rdot"))
                / (
                    F.col("qnorm")
                    * F.sqrt(
                        F.col("cnorm2")
                        + F.lit(2.0) * F.col("_rcdot")
                        + F.col("_rn2")
                    )
                )
            ).alias("_sim"),
        )
    )


def _ivfpq_scores(
    queries: DataFrame,
    cent: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    n_probe: int = 4,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivfpq_topk`'s scoring body pre-rank — ``(query_id,
    neighbor_id, _sim)`` for every (query, probed-cell vector) pair —
    factored out so a MULTI-GENERATION serve (the store-once streamed
    zone, where vectors encoded under different model generations
    coexist) can union per-generation score frames and rank ONCE
    globally. The plan is byte-identical to what ivfpq_topk inlined
    before the extraction: model-side constant LUTs, probe window,
    broadcast LUT joins against the probed cells' codes, one
    map-side-combined decimal reduction per (query, vector)."""
    sub = dim // n_subspaces

    # model-side constant LUTs (m·k and n_clusters·m·k rows)
    cw2 = codebook.select(
        "s", "j", _dec_fold(F.transform("cw", lambda x: x * x)).alias("cw2")
    )
    cent_sub = cent.select(
        "cid",
        F.posexplode(
            F.array(
                *[F.slice("cvec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "cs"),
    ).select("cid", F.col("s").cast("long").alias("s"), "cs")
    cdot = cent_sub.join(F.broadcast(codebook), "s").select(
        "cid",
        "s",
        "j",
        _dec_fold(F.zip_with(F.col("cs"), F.col("cw"), lambda a, b: a * b)).alias(
            "cdot"
        ),
    )
    cn2 = cent.select(
        "cid", _dec_fold(F.transform("cvec", lambda x: x * x)).alias("cnorm2")
    )

    # query-side: probe n_probe cells, keep dot(q, c) per probed cell
    q = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    qnorm = q.select("query_id", _norm(F.col("qvec")).alias("qnorm"))
    probes = (
        q.join(F.broadcast(_cells_array(cent, vec_col="cvec")))
        .select(
            "query_id",
            F.explode(
                _top_cells(
                    F.col("qvec"), F.col("_cents"), n_probe,
                    with_qdotc=True,
                )
            ).alias("_p"),
        )
        .select(
            "query_id",
            (-F.col("_p.nc")).alias("cluster_id"),
            F.col("_p.qdotc").alias("qdotc"),
        )
    )
    q_sub = q.select(
        "query_id",
        F.posexplode(
            F.array(
                *[F.slice("qvec", s * sub + 1, sub) for s in range(n_subspaces)]
            )
        ).alias("s", "qs"),
    ).select("query_id", F.col("s").cast("long").alias("s"), "qs")
    pdot = q_sub.join(F.broadcast(codebook), "s").select(
        "query_id",
        "s",
        "j",
        _dec_fold(F.zip_with(F.col("qs"), F.col("cw"), lambda a, b: a * b)).alias(
            "pdot"
        ),
    )

    # the serving scan: probed cells' codes × broadcast LUTs, then one
    # map-side-combined decimal reduction per (query, vector)
    scored = (
        codes.join(
            F.broadcast(probes.select("query_id", "cluster_id", "qdotc")),
            "cluster_id",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(pdot.withColumnRenamed("j", "code")),
            ["query_id", "s", "code"],
        )
        .join(
            F.broadcast(
                cdot.withColumnRenamed("cid", "cluster_id").withColumnRenamed(
                    "j", "code"
                )
            ),
            ["cluster_id", "s", "code"],
        )
        .join(
            F.broadcast(cw2.withColumnRenamed("j", "code")), ["s", "code"]
        )
        .groupBy("query_id", "vec_id", "cluster_id", "qdotc")
        .agg(
            F.sum(F.col("pdot").cast("decimal(28,12)"))
            .cast("double")
            .alias("_rdot"),
            F.sum(F.col("cdot").cast("decimal(28,12)"))
            .cast("double")
            .alias("_rcdot"),
            F.sum(F.col("cw2").cast("decimal(28,12)"))
            .cast("double")
            .alias("_rn2"),
        )
    )
    return (
        scored.join(
            F.broadcast(cn2.withColumnRenamed("cid", "cluster_id")),
            "cluster_id",
        )
        .join(F.broadcast(qnorm), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                (F.col("qdotc") + F.col("_rdot"))
                / (
                    F.col("qnorm")
                    * F.sqrt(
                        F.col("cnorm2")
                        + F.lit(2.0) * F.col("_rcdot")
                        + F.col("_rn2")
                    )
                )
            ).alias("_sim"),
        )
    )


# --- binary quantization (1 bit/dim, Hamming shortlist + rerank) -------


def binary_thresholds(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension binarization thresholds — the corpus mean of each
    dimension, the "train" stage of centered binary quantization (the
    1-bit-per-dim compression every large vector deployment offers
    beside int8/PQ: 64-dim float32 → 8 bytes, a 32× cut; Hamming
    distance over the codes is the cheap pre-rank). Centering at the
    per-dim mean keeps each bit maximally informative when dimensions
    carry offsets (sign-at-zero degenerates to constant bits there).

    Determinism discipline: each element det-rounds to 6 digits and
    sums exactly in DECIMAL (order-independent), the mean divides in
    IEEE double, and the threshold det-rounds to 6 — so Spark and the
    SQL oracle derive bit-identical thresholds, and every downstream
    ``x >= t`` bit agrees cross-engine. One narrow posexplode scan →
    d-row aggregate (map-side partial on the decimal sum); at 100 TB
    this is one pass over the vector column, same cost shape as any
    corpus stat, and the d-row result lands in a model zone.
    """
    from ..functions.core import spread_small_input

    el = spread_small_input(embeddings).select(
        F.posexplode(as_double(F.col(vec_col))).alias("_pos", "_x")
    )
    return (
        el.groupBy((F.col("_pos") + F.lit(1)).cast("long").alias("dim_idx"))
        .agg(
            F.sum(
                det_round(F.col("_x"), 6).cast("decimal(28,12)")
            ).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "dim_idx",
            det_round(
                F.col("_s").cast("double") / F.col("_n").cast("double"), 6
            ).alias("threshold"),
        )
    )


def _thresholds_array(thresholds: DataFrame) -> DataFrame:
    """Collapse the (dim_idx, threshold) table to a one-row ordered
    array for broadcast into the encode projection (array_sort on the
    (dim_idx, threshold) structs pins element order). coalesce(1)
    kills the aggregate's Exchange — d rows of model data (r17)."""
    return thresholds.coalesce(1).agg(
        F.array_sort(
            F.collect_list(F.struct("dim_idx", "threshold"))
        ).alias("_s")
    ).select(
        F.transform(F.col("_s"), lambda s: s["threshold"]).alias("_thr")
    )


def _pack_bits(vec: Column, thr: Column, lo: int, hi: int) -> Column:
    """Pack bits ``lo..hi-1`` (0-based dims) of the binarized vector
    into one non-negative long: bit ``j - lo`` set iff
    ``vec[j] >= thr[j]``. Unrolled literal shifts (≤ 32 per word) keep
    the whole expression inside codegen — no UDF, no shuffle."""
    acc = F.lit(0).cast("long")
    for j in range(lo, hi):
        bit = F.when(
            F.element_at(vec, j + 1) >= F.element_at(thr, j + 1),
            F.shiftleft(F.lit(1).cast("long"), j - lo),
        ).otherwise(F.lit(0).cast("long"))
        acc = acc.bitwiseOR(bit)
    return acc


def binary_encode(
    embeddings: DataFrame,
    thresholds: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_dist: bool = False,
) -> DataFrame:
    """Encode vectors against landed per-dim thresholds into two
    32-bit words per vector (``code_lo`` dims 1–32, ``code_hi`` dims
    33–64 — two words keep every packed value positive and every
    shift < 32, so Spark and the SQL oracle agree without signed-64
    edge cases). The codes table is the serve-time scan: 3 longs/row
    vs a 64-float array, 16× narrower on disk and in every shuffle.

    ``return_dist=True`` appends the per-vector L1 deviation from the
    thresholds (det-round-8 decimal fold — the drift signal the
    streaming binary gate means by "distortion": arrivals whose
    coordinates sit systematically off the landed per-dim means
    raise it, the cue that the thresholds no longer center the
    data)."""
    if dim > 64:
        raise ValueError(f"binary_encode packs ≤ 64 dims, got {dim}")
    half = min(32, dim)
    enc = embeddings.crossJoin(
        F.broadcast(_thresholds_array(thresholds))
    ).select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("_v"),
        F.col("_thr"),
    )
    cols = [
        F.col(id_col),
        _pack_bits(F.col("_v"), F.col("_thr"), 0, half).alias("code_lo"),
        _pack_bits(F.col("_v"), F.col("_thr"), half, dim).alias("code_hi"),
    ]
    if return_dist:
        cols.append(
            det_round(
                _dec_fold(
                    F.zip_with(
                        F.col("_v"),
                        F.col("_thr"),
                        lambda a, b: F.abs(a - b),
                    )
                ),
                8,
            ).alias("dist")
        )
    return enc.select(*cols)


def binary_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    thresholds: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized top-k: Hamming-distance shortlist over the
    packed sign codes, exact-cosine rerank of the survivors — the
    third member of the quantization family (int8 4×, PQ/IVFPQ 64×,
    binary 32× with the cheapest possible distance: two XOR+popcount
    per pair vs a 64-term float fold, and the shortlist stage reads
    ONLY the 3-long codes table).

    Self-contained by default (thresholds + codes derived in-plan, the
    oracle-pure fit→encode→shortlist→rerank lifecycle); pass
    ``thresholds``/``codes`` to serve from a landed model zone — then
    the full-corpus scan touches 24 bytes/vector and raw vectors are
    read only for the |q|·shortlist rerank rows (the store-once ×
    rerank seam, same contract as ``ivfpq_rerank_topk``).

    Shortlist ties break on neighbor_id (deterministic membership);
    final ranking is exact cosine desc, neighbor_id asc. Returns
    (query_id, neighbor_id, sim_rank, cosine_sim, hamming).
    """
    if thresholds is None:
        thresholds = binary_thresholds(
            embeddings, id_col=id_col, vec_col=vec_col
        )
    if codes is None:
        codes = binary_encode(
            embeddings, thresholds, dim=dim, id_col=id_col, vec_col=vec_col
        )
    qcodes = binary_encode(
        queries, thresholds, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("code_lo").alias("_qlo"),
        F.col("code_hi").alias("_qhi"),
    )
    ham = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(qcodes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("code_lo").bitwiseXOR(F.col("_qlo")))
                + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("_qhi")))
            ).cast("long").alias("hamming"),
        )
    )
    hw = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = ham.withColumn("_hrank", F.row_number().over(hw)).filter(
        F.col("_hrank") <= shortlist
    )
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("_cvec"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("_qvec"),
    )
    scored = (
        corpus.join(
            F.broadcast(short.select("query_id", "neighbor_id", "hamming")),
            "neighbor_id",
        )
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            cosine(F.col("_qvec"), F.col("_cvec")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
            "hamming",
        )
    )


def ivf_binary_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_clusters: int = 16,
    n_probe: int = 4,
    stride: int = 29,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lists: DataFrame | None = None,
    thresholds: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF × binary quantization — the two orthogonal read levers of
    this tier composed into one serve (the architecture disk-resident
    vector stores actually run: prune WHICH rows via coarse cells,
    then make each surviving row's distance nearly free via 1-bit
    codes, then exact-rerank the shortlist):

    * the probe join admits ``n_probe / n_clusters`` of the corpus
      (DPP file pruning on a ``cluster_id``-partitioned landed zone),
    * the in-cell scan reads the 24 B/vector packed codes and spends
      two XOR+popcount per candidate (vs a 64-term float fold),
    * raw vectors serve only the |q|·shortlist rerank rows.

    Combined read fraction at the 100 TB design point:
    (n_probe/n_clusters) × (24 B / vector bytes) ≈ 1/4 × 1/16 of the
    flat-scan bytes before the rerank join touches a single vector.

    Same quantizer contract as :func:`ivf_topk` (strided default,
    pass ``centroids`` for trained; ``lists`` for a landed membership
    zone — which must carry ``code_lo``/``code_hi``, i.e. built from
    a codes-joined corpus via ``ivf_list_assign(keep_cols=…)``), same
    model contract as :func:`binary_topk` (``thresholds``/``codes``
    from the landed binary model). Recall caveat is IVF's: candidates
    outside the probed cells are unreachable at any shortlist.
    """
    if centroids is not None:
        cent = centroids.select(
            F.col("cid").cast("long").alias("cid"),
            F.col("centroid_vec"),
        )
    else:
        cent = (
            embeddings.filter(F.col(id_col) % stride == 0)
            .orderBy(F.col(id_col))
            .limit(n_clusters)
            .select(
                F.col(id_col).cast("long").alias("cid"),
                as_double(F.col(vec_col)).alias("centroid_vec"),
            )
        )
    if thresholds is None:
        thresholds = binary_thresholds(
            embeddings, id_col=id_col, vec_col=vec_col
        )
    if lists is not None:
        # landed membership WITH codes alongside: column pruning keeps
        # the scan at (id, cluster_id, code_lo, code_hi) and the probe
        # join DPP-prunes it to the probed cells' files.
        cand_codes = lists.select(
            F.col(id_col).alias("neighbor_id"),
            "cluster_id",
            "code_lo",
            "code_hi",
        )
    else:
        if codes is None:
            codes = binary_encode(
                embeddings, thresholds, dim=dim,
                id_col=id_col, vec_col=vec_col,
            )
        membership = _ivf_corpus_lists(
            embeddings, cent, id_col, vec_col
        ).select("neighbor_id", "cluster_id")
        cand_codes = membership.join(
            codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
        )
    qprobes = ivf_probe_assignments(
        queries, cent, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )
    qcodes = binary_encode(
        queries, thresholds, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("code_lo").alias("_qlo"),
        F.col("code_hi").alias("_qhi"),
    )
    probe_q = qprobes.join(qcodes, "query_id")
    ham = (
        cand_codes.join(F.broadcast(probe_q), "cluster_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("code_lo").bitwiseXOR(F.col("_qlo")))
                + F.bit_count(F.col("code_hi").bitwiseXOR(F.col("_qhi")))
            ).cast("long").alias("hamming"),
        )
    )
    hw = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    short = ham.withColumn("_hrank", F.row_number().over(hw)).filter(
        F.col("_hrank") <= shortlist
    )
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("_cvec"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("_qvec"),
    )
    scored = (
        corpus.join(
            F.broadcast(short.select("query_id", "neighbor_id", "hamming")),
            "neighbor_id",
        )
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            cosine(F.col("_qvec"), F.col("_cvec")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "sim_rank",
            det_round(F.col("_sim"), 6).alias("cosine_sim"),
            "hamming",
        )
    )
