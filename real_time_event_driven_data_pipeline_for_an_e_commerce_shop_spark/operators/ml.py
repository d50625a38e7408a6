"""Distributed model TRAINING — the train-side sibling of the engine's
iterative tier (``graph.pagerank`` ranks, this fits weights).

``logistic_regression_train`` runs full-batch gradient descent as plain
DataFrame aggregates: one narrow scan + a (d+1)-scalar aggregate per
iteration, weights flowing between iterations as a one-row broadcast.
The quality-model tier already SCORES with fixed published
coefficients (``text.quality_model_score``); this closes the loop by
FITTING such coefficients in-engine — the shape a production pipeline
uses to refresh its quality classifier on fresh labels without leaving
the cluster.

Oracle discipline for iterative training (same as PageRank): FIXED
iteration count, every per-row term det-rounded then decimal-summed,
weights det-rounded after each update — so the DuckDB mirror unrolls to
one CTE per iteration replaying the identical arithmetic. Full-batch
(not SGD): mini-batch order is engine-dependent, full-batch sums are
order-independent, which is what makes the fit reproducible
bit-for-bit. A few fixed damped iterations is also how large-scale
linear probes are fit in practice (convex problem, geometric
convergence; ``grad_norm`` is the convergence signal a caller
monitors).

At 100 TB: the feature table should be MATERIALIZED once (the
materialize-vectors seam — ``featurize_quality`` emits the narrow
(doc_id, x…, y) table to land in a zone) so each iteration scans d+2
doubles per row instead of re-deriving text features; per-iteration
network cost is one partial-aggregate reduction of d+1 scalars — no
shuffle of data rows at all. Gradient descent's sequential dependency
means iterations cannot parallelize with each other; the parallelism
lives INSIDE the aggregate, which is exactly Spark's partial-agg tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import det_round, md5_long

#: feature order is part of the contract (weights report in this order)
QUALITY_FEATURES = ("len_factor", "stop_ratio", "punct_ratio", "ttr")


def featurize_quality(documents: DataFrame) -> DataFrame:
    """The quality-model feature vector as a narrow numeric table
    ``(doc_id, len_factor, stop_ratio, punct_ratio, ttr, y)`` with the
    label distilled from the heuristic quality score (≥ 0.5 ⇒ 1.0) —
    the distillation shape; production swaps in human/LLM labels.
    Features det-round to 6 so the (materializable) table is
    bit-stable across engines. One scan-fused projection + the
    quality-score join on doc_id."""
    from .text import STOPWORDS, quality_score, tokens

    # NOT lowercased: the shared token definition (text.tokens) is
    # case-preserving, and the feature table must agree byte-for-byte
    # with quality_score / quality_model_score and the DuckDB oracle —
    # a lowered tokenizer silently diverges stop_ratio/ttr on any
    # mixed-case doc (ADVICE r7, high).
    t = tokens(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(t)
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    punct_ratio = punct.cast("double") / F.greatest(
        n_chars, F.lit(1)
    ).cast("double")
    stop_hits = F.size(
        F.filter(t, lambda x: x.isin(*[F.lit(w) for w in STOPWORDS]))
    )
    stop_ratio = stop_hits.cast("double") / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    ttr = F.size(F.array_distinct(t)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    feats = documents.select(
        "doc_id",
        det_round(
            F.least(n_chars, F.lit(500)).cast("double") / F.lit(500.0), 6
        ).alias("len_factor"),
        det_round(stop_ratio, 6).alias("stop_ratio"),
        det_round(punct_ratio, 6).alias("punct_ratio"),
        det_round(ttr, 6).alias("ttr"),
    )
    label = quality_score(documents).select(
        "doc_id",
        F.when(F.col("quality_score") >= 0.5, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    return feats.join(label, "doc_id")


def logistic_regression_train(
    features: DataFrame,
    feature_cols: tuple[str, ...] = QUALITY_FEATURES,
    label_col: str = "y",
    lr: float = 2.0,
    iterations: int = 3,
    l2: float = 0.0,
    n_shards: int = 1,
) -> DataFrame:
    """Full-batch logistic-regression gradient descent, fixed
    iteration count, cross-engine deterministic — with optional L2
    (ridge, bias excluded) and deterministic hash-sharded mini-batch
    modes (see :func:`_fit`).

        p_i  = σ(b + Σ_j w_j·x_ij)      (det-round 8)
        g_j  = Σ_i (p_i − y_i)·x_ij     (per-term det-round 12,
                                         decimal-summed)
        w_j ← w_j − lr·g_j / n          (det-round 12)

    from w = 0 (σ = 0.5 everywhere, so iteration 1's gradient is the
    class-balance direction). Returns one row per coefficient
    (``bias`` first, then ``feature_cols`` order) with the fitted
    weight and ``grad_norm`` — the L2 norm of the LAST update's
    gradient, the convergence signal.

    Plan shape: weights live in a one-row DataFrame; each iteration
    cross-joins it onto the features (bounded broadcast — the
    engine's scalar-attach rule), reduces d+1 gradient scalars with
    one partial aggregate, and derives the next weight row. The whole
    fit is one lazy plan; n comes from one count (bounded driver
    scalar, the SRP auto-r discipline).
    """
    wdf = _fit(
        features, feature_cols, label_col, lr, iterations,
        l2=l2, n_shards=n_shards,
    )
    d = len(feature_cols)
    gn = None
    for j in range(d + 1):
        sq = F.col(f"_g{j}") * F.col(f"_g{j}")
        gn = sq if gn is None else gn + sq
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("coef_id"),
                F.lit(name).alias("coef"),
                F.col(f"_w{i}").alias("weight"),
                det_round(F.sqrt(gn), 9).alias("grad_norm"),
            )
            for i, name in enumerate(["bias", *feature_cols])
        ]
    )
    return wdf.select(F.explode(rows).alias("_r")).select(
        "_r.coef_id", "_r.coef", "_r.weight", "_r.grad_norm"
    )


def _fit(
    features: DataFrame,
    feature_cols: tuple[str, ...],
    label_col: str,
    lr: float,
    iterations: int,
    l2: float = 0.0,
    n_shards: int = 1,
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """The GD loop itself: returns the one-row weight DataFrame
    ``(_w0.._wd, _g0.._gd)`` — shared by the coefficient report
    (:func:`logistic_regression_train`) and the train-then-score
    composition (:func:`train_and_score`).

    ``materialize`` (optimization r16, guide §1.2/§5): each GD
    iteration's gradient aggregate hangs under the NEXT iteration's
    one-row broadcast, so the lazy chain re-derives the feature
    subplan once per iteration (plus once for the size count) —
    tokenize→score featurization ×(iterations+1) where one pass
    suffices. ``localCheckpoint`` lands the narrow (id, d+1 doubles)
    table once and every iteration reads the materialized blocks —
    exactly the module docstring's materialize-once 100 TB shape,
    bit-identical values (checkpointing changes no arithmetic). Pass
    ``False`` when the caller already materialized.

    ``l2`` adds ridge regularization (bias excluded, standard
    practice): w_j ← w_j − lr·g_j/n − lr·λ·w_j, one det-round around
    the whole update so the λ=0 expression tree is UNCHANGED (the
    original oracles replay bit-for-bit).

    ``n_shards`` > 1 enables DETERMINISTIC mini-batch GD (ROADMAP r7
    #2): shard = md5-hash bucket of ``id_col`` — a cross-engine
    recomputable partition, not a runtime-dependent sample — and
    iteration k trains on shard ``k mod n_shards`` in fixed order, so
    the DuckDB mirror unrolls with a WHERE per iteration and the fit
    stays reproducible bit-for-bit (the property plain SGD's
    arrival-order dependence destroys). Per-shard sizes come from one
    bounded aggregate (≤ n_shards rows)."""
    d = len(feature_cols)
    spark = features.sparkSession
    if materialize:
        features = features.localCheckpoint()
    shard = F.pmod(md5_long(F.col(id_col).cast("string")), F.lit(n_shards))
    if n_shards > 1:
        features = features.withColumn("_sh", shard)
        sizes = {
            r["_sh"]: r["n"]
            for r in features.groupBy("_sh").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
    else:
        sizes = {0: features.count()}
    wdf = spark.range(1).select(
        *[F.lit(0.0).alias(f"_w{j}") for j in range(d + 1)]
    )
    for it in range(iterations):
        if n_shards > 1:
            batch = features.filter(F.col("_sh") == it % n_shards)
            n = sizes.get(it % n_shards, 0)
            if n == 0:  # empty shard: weights unchanged this step
                continue
        else:
            batch = features
            n = sizes[0]
        scored = batch.crossJoin(F.broadcast(wdf))
        z = F.col("_w0")
        for j, c in enumerate(feature_cols):
            z = z + F.col(f"_w{j + 1}") * F.col(c)
        # sigmoid rounds at 8, not 12: the round must absorb the
        # one-ulp libm exp() divergence between engines, and at 12
        # decimals a ~1e-16 relative difference flips a boundary with
        # probability ~2e-4 per value (too hot for thousands of rows);
        # at 8 decimals the flip probability is ~2e-8 and the gradient
        # precision loss is irrelevant
        p = det_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 8)
        err = p - F.col(label_col)
        xs = [F.lit(1.0)] + [F.col(c) for c in feature_cols]
        aggs = [
            F.sum(det_round(err * xj, 12).cast("decimal(28,12)"))
            .cast("double")
            .alias(f"_g{j}")
            for j, xj in enumerate(xs)
        ]
        aggs += [F.first(F.col(f"_w{j}")).alias(f"_pw{j}") for j in range(d + 1)]
        g_row = scored.agg(*aggs)

        def _upd(j: int):
            step = (
                F.col(f"_pw{j}")
                - F.lit(lr) * F.col(f"_g{j}") / F.lit(float(n))
            )
            if l2 and j > 0:  # ridge term, bias excluded
                step = step - F.lit(lr * l2) * F.col(f"_pw{j}")
            return det_round(step, 12).alias(f"_w{j}")

        wdf = g_row.select(
            *[_upd(j) for j in range(d + 1)],
            *[F.col(f"_g{j}") for j in range(d + 1)],
        )
    return wdf


def train_and_score(
    features: DataFrame,
    feature_cols: tuple[str, ...] = QUALITY_FEATURES,
    label_col: str = "y",
    lr: float = 2.0,
    iterations: int = 3,
    keep_threshold: float = 0.5,
) -> DataFrame:
    """Fit the logistic model, then score every row with the FITTED
    weights — the train→score loop in one plan: the fitted one-row
    weight vector broadcasts back onto the feature table (the same
    scalar-attach as each GD iteration) and each doc gets its
    predicted keep-probability plus the keep decision. Output
    ``(doc_id, model_quality, keep, label_agrees)``;
    ``label_agrees`` compares the model's decision with the training
    label — the aggregate of that column is the training accuracy a
    fit report logs."""
    # materialize once HERE so the final scoring pass reads the same
    # landed feature blocks as the fit iterations (optimization r16)
    features = features.localCheckpoint()
    wdf = _fit(
        features, feature_cols, label_col, lr, iterations,
        materialize=False,
    )
    scored = features.crossJoin(F.broadcast(wdf))
    z = F.col("_w0")
    for j, c in enumerate(feature_cols):
        z = z + F.col(f"_w{j + 1}") * F.col(c)
    p = det_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 8)
    return scored.select(
        "doc_id",
        p.alias("model_quality"),
        (p >= F.lit(keep_threshold)).alias("keep"),
        ((p >= F.lit(keep_threshold)) == (F.col(label_col) >= F.lit(0.5))).alias(
            "label_agrees"
        ),
    )


def _assign_raw(
    vecs: DataFrame,
    cent_df,
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment — kmeans_fixed's per-iteration
    arithmetic (squared L2 as det-round-12 decimal partial sums, cid
    tie-break). Returns ``(id_col, cid, _dist)`` with the raw double
    distance (plus ``_vec`` when ``keep_vec``).

    Plan shape (optimization r16, guide §2.4 — remove shuffles
    outright): the k centroids are a DRIVER-SIDE model constant here
    (kmeans_fixed already round-trips them between iterations as
    bounded k×dim scalars; a landed centroid table is k rows by
    contract), so the assignment is a pure per-row PROJECTION: each
    vector computes its k distances as in-expression decimal folds
    (``similarity._dec_fold`` — the identical det-round-12 →
    DECIMAL(28,12) exact sum the oracle's ``SUM(CAST(... AS
    DECIMAL(28,12)))`` mirrors, order-free so fold ≡ sum) over
    CONSTANT-FOLDED centroid array literals, and ``array_min`` over
    ``(dist, cid)`` structs picks the argmin — lexicographic struct
    order IS the old window's ``ORDER BY dist ASC, cid ASC`` rule.

    This replaces the previous posexplode-to-(id, cid, dim) grain (an
    n·k·dim-row shuffle) + per-id window (a second shuffle) with ZERO
    exchanges and ZERO aggregation. (The intermediate r16 form — a
    ``min`` over a struct in a groupBy — planned as SortAggregate,
    i.e. a full sort by id; measured slower than this projection.)
    The centroid matrix enters as k CreateArray literals (folded to
    one Literal each by constant folding, never an O(k·dim) codegen
    tree — the round-1 trap; the fold itself is an interpreted
    higher-order function, outside codegen). ``keep_vec`` projects
    the member vector alongside so the Lloyd update reads it off the
    assignment row instead of joining the corpus back."""
    from .similarity import _dec_fold

    if isinstance(cent_df, DataFrame):
        cvec = (
            "centroid_vec" if "centroid_vec" in cent_df.columns
            else "_cvec"
        )
        cents = {
            int(r["cid"]): [float(x) for x in r[cvec]]
            for r in cent_df.select(
                F.col("cid").cast("long").alias("cid"), F.col(cvec)
            ).collect()
        }
    else:
        cents = cent_df
    cands = F.array(
        *[
            F.struct(
                _dec_fold(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in vec]),
                        lambda a, b: (a - b) * (a - b),
                    )
                ).alias("d"),
                F.lit(int(cid)).cast("long").alias("cid"),
            )
            for cid, vec in sorted(cents.items())
        ]
    )
    tail = [F.col(vec_col).alias("_vec")] if keep_vec else []
    # two-layer select: CollapseProject keeps the (non-cheap) fold
    # evaluated once, not once per extracted field
    staged = vecs.select(id_col, F.array_min(cands).alias("_b"), *tail)
    cols = [
        id_col,
        F.col("_b.cid").alias("cid"),
        F.col("_b.d").alias("_dist"),
    ]
    if keep_vec:
        cols.append(F.col("_vec"))
    return staged.select(*cols)


def kmeans_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "feature_vec",
) -> DataFrame:
    """Assign vectors to their nearest centroid from a LANDED model —
    the serving half of :func:`kmeans_fixed`, bit-identical to its
    per-iteration assignment (same det-round-12 decimal distance, same
    cid tie-break, same det-round-8 output dist). The streaming
    cluster gate scores arriving docs against the committed centroid
    table with this; refits only happen on drift.

    ``centroids``: ``(cid, centroid_vec)`` — e.g.
    ``kmeans_fixed(..., return_centroids=True)`` or the landed model
    zone table. Returns ``(id_col, cluster_id, dist)``."""
    a = _assign_raw(vectors, centroids, id_col, vec_col)
    return a.select(
        id_col,
        F.col("cid").alias("cluster_id"),
        det_round(F.col("_dist"), 8).alias("dist"),
    )


def kmeans_fixed(
    vectors: DataFrame,
    k: int = 4,
    iterations: int = 3,
    dim: int = 64,
    id_col: str = "doc_id",
    vec_col: str = "feature_vec",
    fit_fraction: float | None = None,
    fit_seed: str = "km1",
    return_centroids: bool = False,
    return_model: bool = False,
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means over a dense
    vector column — the CLUSTERING member of the iterative tier
    (PageRank ranks, logreg fits, this partitions), built for the
    cluster-balanced curation recipes (SemDeDup-style: cluster the
    corpus, then cap per-cluster representation).

    It is also the IVF tier's one trained quantizer. A float-summed
    Lloyd makes centroids engine-dependent, so it cannot be
    oracle-gated; this operator applies the engine's
    iterative-determinism discipline instead, trading a few ulps of
    arithmetic freedom for a bit-exact DuckDB mirror:

    * seed: the vectors of the ``k`` smallest ids (deterministic,
      SQL-mirrorable — not kmeans++ randomness);
    * assign: squared L2 distance as a per-dimension det-round-12 →
      DECIMAL(28,12) sum (order-free), argmin with cluster-id
      tie-break via a per-doc window (partitioned by doc — never a
      global sort);
    * update: per-(cluster, dim) mean of det-round-12 components,
      decimal-summed, the mean det-rounded to 12; empty clusters
      keep their previous centroid;
    * centroids round-trip through the driver between iterations —
      k×dim bounded scalars, the same documented discipline as the
      IVF centroid collect and the SRP auto-r count.

    Plan shape per iteration: one broadcast of k centroid rows onto
    the vector table, one (doc, cid, dim)-grain partial-agg distance
    reduction (n·k·dim narrow rows, map-side combined), one per-doc
    window, one (cluster, dim) aggregate of k·dim output rows.
    Returns the FINAL iteration's assignment
    ``(id_col, cluster_id, dist)`` with dist det-rounded to 8.

    ``fit_fraction`` is the 100 TB knob: the per-iteration
    (doc, cid, dim) distance grain costs n·k·dim rows, and Lloyd's
    centroids stabilize on a fraction of the corpus long before the
    full pass adds information — so production fits on a
    DETERMINISTIC md5-thresholded sample (doc kept for fitting iff
    ``md5_48(id:fit_seed) < fit_fraction·2^48`` — reproducible and
    re-partitioning-stable, unlike ``DataFrame.sample``) and pays the
    full n·k·dim grain exactly ONCE for the final assignment against
    the fitted centroids. With ``fit_fraction=None`` (default) the
    fit runs on the full corpus and the returned assignment is the
    final fit iteration's own — the oracle-mirrored path, expression
    tree unchanged.

    ``return_centroids=True`` returns the FINAL post-update centroids
    ``(cid, centroid_vec)`` instead of the assignment — the trained
    coarse quantizer the IVF tier plugs in (``similarity.ivf_topk``'s
    ``centroids`` parameter): det-round-12 decimal-summed means, so
    the values are bit-exact cross-engine and the composition stays
    oracle-gateable (the
    oracle's final ``c{iterations}`` CTE is exactly this table).
    ``return_model=True`` returns BOTH — ``(assignment, centroids)``
    in one fit, for callers that land the model and its fit-time
    assignment together (the streaming cluster gate). NOTE the
    standing Lloyd asymmetry: the returned assignment is the final
    ITERATION's (scored against the pre-update centroids, matching
    the oracle's ``a{n} from c{n-1}``), while the returned centroids
    are post-update — serving new docs against them via
    :func:`kmeans_assign` is model serving, not a replay of the fit.
    """
    if iterations < 1:
        # with no assignment pass the return value would be undefined
        # (and fit_fraction=None would leave `assigned` as None) —
        # fail fast like the zone writers do (ADVICE r8)
        raise ValueError(
            f"kmeans_fixed needs iterations >= 1, got {iterations}"
        )
    spark = vectors.sparkSession

    def assign(
        vecs: DataFrame,
        cents: dict[int, list[float]],
        keep_vec: bool = False,
    ) -> DataFrame:
        # the centroids are already driver-side between iterations —
        # hand them straight to the projection-form assignment
        return _assign_raw(vecs, cents, id_col, vec_col, keep_vec=keep_vec)

    # Every fit vector must carry exactly `dim` components, not just
    # the k seeds (ADVICE r9): a short non-seed vector silently
    # diverges from the oracle (the engine carries missing tail
    # components from the previous centroid while the SQL mirror
    # COALESCEs whole vectors), so raise IN-PLAN the first time such
    # a row is touched — assert_true is JVM-side and codegen-friendly,
    # and the guard column is pruned from every aggregate.
    vectors = vectors.filter(
        F.assert_true(
            F.size(F.col(vec_col)) == dim,
            F.concat(
                F.lit(f"kmeans_fixed: vector for {id_col}="),
                F.col(id_col).cast("string"),
                F.lit(" has "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" components, expected dim={dim}"),
            ),
        ).isNull()
    )
    fit_vecs = vectors
    if fit_fraction is not None:
        cut = F.lit(float(fit_fraction)) * F.lit(float(1 << 48))
        key = F.concat_ws(
            ":", F.col(id_col).cast("string"), F.lit(fit_seed)
        )
        fit_vecs = vectors.filter(md5_long(key).cast("double") < cut)
    seed = fit_vecs.orderBy(id_col).limit(k).collect()
    cents = {
        i: [float(x) for x in r[vec_col]] for i, r in enumerate(seed)
    }
    assigned = None
    for _ in range(iterations):
        # keep_vec: the Lloyd update reads each member's vector off
        # its own argmin row — no assigned⋈vectors join per iteration
        assigned = assign(fit_vecs, cents, keep_vec=True)
        # Update stays at posexplode (doc, dim) grain: an r17
        # experiment aggregated dim per-cluster decimal-sum COLUMNS
        # instead (no ×dim row fan-out) and measured ~1.5-1.9× SLOWER
        # (doc_kmeans 7.3→11.1 s, ann_ivf_trained 8.2→15.4 s paired
        # min-of-5) — 64 wide decimal buffers lose to the narrow
        # exploded hash aggregate. Guide §1.1: keep the measured
        # winner; values were bit-identical either way.
        upd = (
            assigned
            .select("cid", F.posexplode(F.col("_vec")).alias("_j", "_v"))
            .groupBy("cid", "_j")
            .agg(
                det_round(
                    F.sum(
                        det_round(F.col("_v"), 12).cast("decimal(28,12)")
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    12,
                ).alias("_m")
            )
        )
        new_cents = dict(cents)  # empty clusters keep old centroids
        rows = upd.collect()
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["cid"], {})[r["_j"]] = r["_m"]
        for cid, comps in by_cid.items():
            # the in-plan dim assert guarantees every member carries
            # all dims, so comps is dense; the .get fallback remains
            # as defense-in-depth only
            prev = cents[cid]
            new_cents[cid] = [comps.get(j, prev[j]) for j in range(dim)]
        cents = new_cents
    cent_df = spark.createDataFrame(
        sorted(cents.items()), "cid long, centroid_vec array<double>"
    )
    if return_centroids:
        return cent_df
    if fit_fraction is not None:
        # one full-corpus pass against the FITTED centroids — the
        # only n·k·dim-grain job in the sampled mode
        assigned = assign(vectors, cents)
    out = assigned.select(
        id_col,
        F.col("cid").alias("cluster_id"),
        det_round(F.col("_dist"), 8).alias("dist"),
    )
    if return_model:
        return out, cent_df
    return out
