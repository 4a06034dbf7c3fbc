"""Embedding-vector preparation operators: the transforms an ANN /
retrieval pipeline runs between the embedder and the index builder.

Scale shape: map-only higher-order-function projections over the
``array<float>`` column — no shuffle, no Python; 100 TB scales with
bytes scanned. Quantized output is serialized to CSV text because the
driver's canonicalizer cannot hash list cells (same convention as
fn_array_bank).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.vectors import to_double
from ..registry import query
from ..tables import Tables
from ._util import measured


@query(
    "embed_normalize_quantize",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    )
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS n_dims,
           CAST(floor(nrm * 10000 + 0.5) AS BIGINT) AS norm_fp,
           CASE WHEN nrm > 0
                THEN array_to_string(list_transform(v,
                    x -> CAST(floor(x / nrm * 127 + 0.5) AS BIGINT)), ',')
                ELSE array_to_string(list_transform(v, x -> 0), ',')
           END AS q8_csv
    FROM n
    """,
)
def embed_normalize_quantize(spark, sf_dir):
    """L2-normalize each embedding and symmetric-quantize to int8
    (scale 127) — the standard prep for a cosine ANN index: unit norm
    makes dot product == cosine, int8 cuts index memory 4x. Norm is
    serialized fixed-point and the int8 vector as CSV (half-up
    quantization is floor(x*127+0.5), identical in both engines; a
    unit vector cannot exceed |127| so no clamp is needed)."""
    t = Tables(spark, sf_dir)
    v = F.transform("embedding", lambda x: x.cast("double"))
    n = t.embeddings.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)).alias(
            "nrm"
        ),
    )
    nrm = F.col("nrm")
    q8 = F.when(
        nrm > 0,
        F.array_join(
            F.transform("v", lambda x: F.floor(x / nrm * 127 + 0.5).cast("bigint")),
            ",",
        ),
    ).otherwise(
        F.array_join(F.transform("v", lambda x: F.lit(0).cast("bigint")), ",")
    )
    return n.select(
        "vec_id",
        F.size("v").cast("bigint").alias("n_dims"),
        F.floor(nrm * 10000 + 0.5).cast("bigint").alias("norm_fp"),
        q8.alias("q8_csv"),
    )


def _maxsim_oracle() -> str:
    """DuckDB twin of the MaxSim reduction with BIT-IDENTICAL float
    order: each 8-dim dot product is an explicit left-associated
    8-term sum (matching Spark's ``aggregate`` left fold from 0D —
    0 + x == x exactly in IEEE), the per-query-sub max is variadic
    ``greatest`` (order-free), and the 8 maxes sum left-to-right like
    the generated ``+`` chain.  The query bag (vec_id 7) is fetched
    by subquery instead of literals so the oracle stays static SQL."""

    def dot(i: int, j: int) -> str:
        return " + ".join(
            f"(CAST(e.embedding[{j * 8 + k}] AS DOUBLE)"
            f" * CAST(q.qe[{i * 8 + k}] AS DOUBLE))"
            for k in range(1, 9)
        )

    maxsim = " + ".join(
        "greatest(" + ", ".join(f"({dot(i, j)})" for j in range(8)) + ")"
        for i in range(8)
    )
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7)
    SELECT e.vec_id,
           CAST(floor(({maxsim}) * 10000 + 0.5) AS BIGINT) AS maxsim_fp
    FROM embeddings e, q
    ORDER BY maxsim_fp DESC, e.vec_id
    LIMIT 10
    """


@query("sim_maxsim_multivector", oracle=_maxsim_oracle())
def sim_maxsim_multivector(spark, sf_dir):
    """Late-interaction (ColBERT-style MaxSim) retrieval: documents
    and the query are BAGS of sub-vectors; score = Σ_q max_d ⟨q, d⟩.
    The 64-dim embedding is reshaped into 8×8-dim sub-vectors (the
    multi-vector layout a token-level encoder would emit); the query
    is vec_id 7's bag, broadcast as literal arrays.

    Spark shape: everything is JVM higher-order functions — transform
    to slice sub-vectors, zip_with + aggregate for the dot products,
    array_max + sequential sum for the MaxSim reduction. No UDF, no
    shuffle except the final top-k (TakeOrderedAndProject). Scored
    against a numpy reference in tests/test_ann.py.
    """
    t = Tables(spark, sf_dir)
    q_emb = (
        t.embeddings.filter(F.col("vec_id") == 7)
        .select("embedding")
        .first()["embedding"]
    )
    q_subs = [[float(x) for x in q_emb[i * 8:(i + 1) * 8]] for i in range(8)]

    sub_d = (
        "transform(sequence(0, 7), i -> "
        "transform(slice(embedding, i * 8 + 1, 8), x -> CAST(x AS DOUBLE)))"
    )
    def dot(q):
        lit = "array(" + ", ".join(f"{v!r}D" for v in q) + ")"
        return (
            f"aggregate(zip_with(d, {lit}, (x, y) -> x * y), 0D, "
            "(acc, x) -> acc + x)"
        )

    maxsims = " + ".join(
        f"array_max(transform(subs, d -> {dot(q)}))" for q in q_subs
    )
    return (
        t.embeddings.withColumn("subs", F.expr(sub_d))
        .select(
            "vec_id",
            F.floor(F.expr(maxsims) * 10000 + 0.5).cast("long").alias(
                "maxsim_fp"
            ),
        )
        .orderBy(F.desc("maxsim_fp"), "vec_id")
        .limit(10)
    )


@query(
    "embed_centroid_by_label",
    oracle="""
    WITH d AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS v
        FROM embeddings
    ),
    m AS (
        SELECT label, dim,
               sum(CAST(floor(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT))
                   / 10000.0 / count(*) AS mv
        FROM d GROUP BY label, dim
    )
    SELECT CAST(label AS BIGINT) AS label,
           (SELECT count(*) FROM embeddings e
            WHERE e.label = m.label) AS n_vecs,
           array_to_string(
               list(CAST(CAST(floor(mv * 10000 + 0.5) AS BIGINT) AS VARCHAR)
                    ORDER BY dim), ',') AS centroid_fp
    FROM m GROUP BY label
    """,
)
def embed_centroid_by_label(spark, sf_dir):
    """Per-class embedding centroids — the prototype vectors behind
    nearest-centroid classification, IVF coarse quantizers, and
    SemDeDup's cluster stage, computed exactly: each dimension's mean
    is a fixed-point sum (merge-order-proof) divided by the class
    count, so the centroid is hash-identical across engines — this op
    is the oracle-checkable counterpart of the sampled/iterative
    k-means trainers.

    Scale shape: posexplode to (label, dim, value) triples — rows =
    n·d but each is 20 bytes — then ONE hash aggregate on the
    (label, dim) composite key (partial map-side combine does n/cores
    of the work before the shuffle); the |labels|·d mean table folds
    back to arrays with sort_array(collect_list) over ≤d-element
    groups. The driver never sees a vector; K×d lives distributed."""
    t = Tables(spark, sf_dir)
    d = t.embeddings.select(
        "label", F.posexplode(to_double(F.col("embedding"))).alias("dim", "v")
    )
    m = d.groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("v") * 10000 + 0.5).cast("long"))
            / 10000.0
            / F.count(F.lit(1))
        ).alias("mv"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        m.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.max("n").alias("n_vecs"),
            # serialized fixed-point (x10^4) ints: the driver's
            # canonicalizer rejects array cells, and int->string is
            # engine-identical where double->string is not (Spark
            # emits scientific notation below 1e-3)
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "dim",
                                F.floor(F.col("mv") * 10000 + 0.5)
                                .cast("long")
                                .alias("v"),
                            )
                        )
                    ),
                    lambda s: s["v"].cast("string"),
                ),
            ).alias("centroid_fp"),
        )
    )


def _centroid_dist_chain() -> str:
    """DuckDB left-associated squared-distance chain over 64 dims —
    bit-identical to Spark's ``aggregate(zip_with(...), 0D, +)`` left
    fold (0 + x == x exactly; the maxsim-oracle precedent)."""
    return " + ".join(
        f"((CAST(e.embedding[{k}] AS DOUBLE) - c.cent[{k}])"
        f" * (CAST(e.embedding[{k}] AS DOUBLE) - c.cent[{k}]))"
        for k in range(1, 65)
    )


@query(
    "cluster_nearest_centroid",
    oracle=f"""
    WITH d AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS v
        FROM embeddings
    ),
    m AS (
        SELECT label, dim,
               sum(CAST(floor(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT))
                   / 10000.0 / count(*) AS mv
        FROM d GROUP BY label, dim
    ),
    cent AS (
        SELECT label AS clabel, list(mv ORDER BY dim) AS cent
        FROM m GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label,
               min(CAST(floor(({_centroid_dist_chain()}) * 1000000 + 0.5)
                        AS BIGINT) * 100 + c.clabel) AS packed
        FROM embeddings e, cent c
        GROUP BY e.vec_id, e.label
    )
    SELECT CAST(label AS BIGINT) AS true_label,
           packed % 100 AS assigned_label,
           count(*) AS n,
           CAST(count(CASE WHEN packed % 100 = label THEN 1 END)
                AS BIGINT) AS n_correct
    FROM scored GROUP BY 1, 2
    """,
)
def cluster_nearest_centroid(spark, sf_dir):
    """Nearest-centroid classification — one EXACT, hash-verified
    k-means E-step: every embedding is assigned to the closest of the
    per-label centroids (the fixed-point means of
    embed_centroid_by_label), and the output is the label-vs-assigned
    confusion census. The cross-engine discipline stack: centroids
    from merge-order-proof fixed-point sums, squared distances as
    left-folded ``aggregate(zip_with(...), 0D, +)`` ≡ an explicit
    left-associated 64-term chain in DuckDB, and the argmin as an
    integer min over packed (dist_fp·100 + label) — ties broken by
    label, no float comparison anywhere in the decision.

    Scale shape: K centroids broadcast (K·d doubles); the scan
    computes K distances per row in one whole-stage-codegen pass and
    partial-aggregates the confusion cells map-side — the same plan
    k-means scoring runs at 100 TB, with no shuffle of vectors."""
    t = Tables(spark, sf_dir)
    d = t.embeddings.select(
        "label", F.posexplode(to_double(F.col("embedding"))).alias("dim", "v")
    )
    m = d.groupBy("label", "dim").agg(
        (
            F.sum(F.floor(F.col("v") * 10000 + 0.5).cast("long"))
            / 10000.0
            / F.count(F.lit(1))
        ).alias("mv")
    )
    cent = m.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mv"))),
            lambda s: s["mv"],
        ).alias("cent")
    )
    dist = F.aggregate(
        F.zip_with(
            to_double(F.col("embedding")),
            F.col("cent"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    packed = F.min(
        F.floor(dist * 1000000 + 0.5).cast("long") * 100 + F.col("clabel")
    )
    scored = (
        t.embeddings.crossJoin(F.broadcast(cent))
        .groupBy("vec_id", "label")
        .agg(packed.alias("packed"))
    )
    return scored.groupBy(
        F.col("label").cast("bigint").alias("true_label"),
        (F.col("packed") % 100).alias("assigned_label"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.col("packed") % 100 == F.col("label"), F.lit(1))
        ).cast("bigint").alias("n_correct"),
    )


KMX_K, KMX_ROUNDS = 8, 3  # exact-Lloyd exhibit geometry


def _kmx_oracle() -> str:
    """Unrolled exact-Lloyd oracle: KMX_ROUNDS alternations of
    (packed-argmin assignment over the 64-term left-assoc distance
    chain) and (fixed-point per-dim centroid means) — every arithmetic
    step bit-identical to the Spark loop, so the final assignment
    census hash-matches."""
    chain = " + ".join(
        f"((CAST(e.embedding[{k}] AS DOUBLE) - c.cent[{k}])"
        f" * (CAST(e.embedding[{k}] AS DOUBLE) - c.cent[{k}]))"
        for k in range(1, 65)
    )
    parts = [f"""
    WITH dmat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cl,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
        FROM embeddings WHERE vec_id < {KMX_K}
    )"""]
    for r in range(1, KMX_ROUNDS + 1):
        parts.append(f""",
    a{r} AS (
        SELECT e.vec_id,
               min(CAST(floor(({chain}) * 1000000 + 0.5) AS BIGINT)
                   * 100 + c.cl) AS packed
        FROM embeddings e, c{r - 1} c
        GROUP BY e.vec_id
    )""")
        if r < KMX_ROUNDS:
            parts.append(f""",
    m{r} AS (
        SELECT a{r}.packed % 100 AS cl, d.dim,
               sum(CAST(floor(CAST(d.v AS DOUBLE) * 10000 + 0.5)
                        AS BIGINT)) / 10000.0 / count(*) AS mv
        FROM a{r} JOIN dmat d USING (vec_id)
        GROUP BY 1, d.dim
    ),
    c{r} AS (SELECT cl, list(mv ORDER BY dim) AS cent
             FROM m{r} GROUP BY cl)""")
    return "".join(parts)


def _kmx_oracle_with(final_select: str) -> str:
    """Prefix the exact-Lloyd CTE chain onto ``final_select`` (which
    reads assignments from a{KMX_ROUNDS})."""
    return _kmx_oracle() + final_select


@query(
    "cluster_kmeans_exact",
    oracle=_kmx_oracle_with(f"""
    SELECT packed % 100 AS cluster,
           count(*) AS n_members,
           CAST(sum(packed // 100) AS BIGINT) AS inertia_fp
    FROM a{KMX_ROUNDS} GROUP BY 1
    """),
)
def cluster_kmeans_exact(spark, sf_dir):
    """Full Lloyd's k-means, hash-verified END-TO-END across engines —
    the capstone of the r7 exact-iteration discipline: {KMX_ROUNDS}
    alternations of E-step (nearest centroid via left-folded distance
    chains, integer-packed argmin) and M-step (fixed-point per-dim
    means), from a deterministic init (the first K vectors by id).
    The sampled/float sibling cluster_topics_kmeans remains the scale
    exhibit; this one proves the LOOP itself is reproducible — the
    property training-data pipelines need to re-run a clustering and
    get the same shards.

    Per round: one broadcast of K·d centroid doubles, one codegen
    scan computing K distances per row (no shuffle of vectors), one
    (cluster, dim)-keyed partial-combined aggregate for the update —
    the distributed Lloyd shape at any scale; localCheckpoint cuts
    lineage between rounds. Output: per-cluster member count and
    exact integer inertia."""
    assign = _kmx_assignments(spark, sf_dir)
    return assign.groupBy((F.col("packed") % 100).alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.expr("packed div 100")).cast("bigint").alias("inertia_fp"),
    )


def _kmx_assignments(spark, sf_dir):
    """The exact-Lloyd loop: returns the final (vec_id, packed)
    assignment table (packed = dist_fp·100 + cluster). Shared by
    cluster_kmeans_exact and dedup_semantic_exact."""
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", to_double(F.col("embedding")).alias("x")
    )
    cent = emb.filter(F.col("vec_id") < KMX_K).select(
        F.col("vec_id").alias("cl"), F.col("x").alias("cent")
    )
    return lloyd_exact_assign(
        emb,
        cent,
        KMX_ROUNDS,
        1000000,
        100,
        small=(("kmx", sf_dir), lambda n: KMX_K),
    )


#: below this measured row count the whole Lloyd ladder (rounds ×
#: (broadcast E-step + (cl,dim)-keyed M-step + eager checkpoint), each
#: a sequential Spark job) runs in ONE Arrow task — ≤100k × ≤256-dim
#: doubles is ≤200 MB of task memory, and the multi-job ladder pays
#: ~3·rounds fixed stage costs for work one task finishes in
#: milliseconds (clustering._kmeans_single_task / graph_pagerank r16
#: precedent). Above it, the wide path keeps the broadcast-E-step /
#: partial-combined-M-step shape that never materializes the corpus.
LLOYD_SINGLE_TASK_MAX_ROWS = 100_000


def _lloyd_assign_single_task(emb, rounds, dist_scale, pack_mod, init_k_fn):
    """(vec_id, packed) via ONE Arrow task: the full exact-Lloyd loop
    in numpy, replicating lloyd_exact_assign's arithmetic op-for-op
    (dim-by-dim squared-distance accumulation IS the left fold; means
    are integer sums of floor(v·1e4+0.5) divided in the same order;
    memberless cells drop exactly like the distributed groupBy) — so
    the output is bit-identical to the wide path
    (tests/test_vectors_single_task.py asserts equality)."""
    import numpy as np

    def run(batches):
        import pandas as pd

        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if not len(pdf):
            return
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        x = np.array(pdf["x"].tolist(), dtype=np.float64)
        k = init_k_fn(len(ids))
        cents = {
            int(vid): x[pos].copy()
            for pos, vid in enumerate(ids)
            if vid < k
        }
        if not cents:  # empty init ⇒ empty crossJoin ⇒ empty output
            return
        pbest = None
        for r in range(rounds):
            cl_list = sorted(cents)
            c = np.array([cents[cl] for cl in cl_list])
            acc = np.zeros((len(x), len(cl_list)))
            for d in range(x.shape[1]):
                acc += (x[:, d, None] - c[None, :, d]) ** 2
            # r17 advice: the wide path under ANSI mode raises on long
            # overflow; np.floor(...).astype(int64) would wrap
            # silently. Fail loudly on the same boundary instead.
            if acc.max() * dist_scale + 0.5 >= 2**62 / pack_mod:
                raise OverflowError(
                    "single-task Lloyd: dist*scale*pack_mod exceeds "
                    f"int64 (max dist² {acc.max():.3e}, "
                    f"scale {dist_scale}, pack {pack_mod})"
                )
            packed = (
                np.floor(acc * dist_scale + 0.5).astype(np.int64)
                * pack_mod
                + np.array(cl_list, dtype=np.int64)[None, :]
            )
            # packed values are distinct across cl (… + cl), so the
            # row min IS Spark's F.min over the packed longs
            pbest = packed.min(axis=1)
            if r < rounds - 1:
                assign = np.array(cl_list)[packed.argmin(axis=1)]
                cents = {}
                for cl in cl_list:
                    m = x[assign == cl]
                    if len(m):
                        cents[cl] = (
                            np.floor(m * 10000 + 0.5)
                            .astype(np.int64)
                            .sum(0)
                            / 10000.0
                        ) / len(m)
        yield pd.DataFrame({"vec_id": ids, "packed": pbest})

    return (
        emb.coalesce(1)
        .mapInPandas(run, "vec_id long, packed long")
        .localCheckpoint(eager=False)
    )


def lloyd_exact_assign(
    emb, cent, rounds, dist_scale, pack_mod, return_cent=False, small=None
):
    """The exact-Lloyd loop, parameterized (r11: factored out of
    _kmx_assignments so dedup_semantic_cluster can run it with a
    data-dependent cell count): ``rounds`` alternations of E-step
    (argmin over left-folded squared-distance chains, packed as
    floor(dist·dist_scale + 0.5)·pack_mod + cl — pick pack_mod above
    the max centroid id and dist_scale so the product stays inside
    int64 on the stress domain) and fixed-point M-step means.
    ``emb`` is (vec_id, x: array<double>), ``cent`` the initial
    (cl, cent) centroids. Returns the final (vec_id, packed)
    assignment. Per round: one broadcast of the centroid table, one
    codegen scan of K distances per row, one (cl, dim)-keyed
    partial-combined aggregate; localCheckpoint cuts lineage.
    ``return_cent=True`` additionally returns the FINAL centroid
    table (the one the last assignment ran against) — the coarse
    quantizer an IVF probe needs (r16, sim_knn_ivf's hash upgrade).

    ``small=((name, sf_dir), init_k_fn)`` opts in to the measured-small
    single-task regime (r16): when the row count of ``emb``, memoized
    through ``_util.measured``, is ≤ LLOYD_SINGLE_TASK_MAX_ROWS, the
    whole ladder runs in one Arrow task via
    ``_lloyd_assign_single_task`` (bit-identical; ``init_k_fn(n)``
    must reproduce the caller's ``cent`` init as "rows with
    vec_id < k"). Callers needing ``return_cent`` keep the
    wide path — the single-task branch emits assignments only."""
    if small is not None and not return_cent:
        (name, sf_dir), init_k_fn = small
        n = measured(f"lloyd_rows:{name}", sf_dir, emb.count)
        if n <= LLOYD_SINGLE_TASK_MAX_ROWS:
            return _lloyd_assign_single_task(
                emb, rounds, dist_scale, pack_mod, init_k_fn
            )
    assign = None
    for r in range(rounds):
        dist = F.aggregate(
            F.zip_with(
                F.col("x"), F.col("cent"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        assign = (
            emb.crossJoin(F.broadcast(cent))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.floor(dist * dist_scale + 0.5).cast("long") * pack_mod
                    + F.col("cl")
                ).alias("packed")
            )
        )
        if r < rounds - 1:
            m = (
                assign.join(emb, "vec_id")
                .select(
                    (F.col("packed") % pack_mod).alias("cl"),
                    F.posexplode("x").alias("dim", "v"),
                )
                .groupBy("cl", "dim")
                .agg(
                    (
                        F.sum(F.floor(F.col("v") * 10000 + 0.5).cast("long"))
                        / 10000.0
                        / F.count(F.lit(1))
                    ).alias("mv")
                )
            )
            cent = (
                m.groupBy("cl")
                .agg(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("dim", "mv"))),
                        lambda s: s["mv"],
                    ).alias("cent")
                )
                .localCheckpoint()
            )
    if return_cent:
        return assign, cent
    return assign


def lloyd_exact_py(
    rows, k, rounds, dist_scale=1000000, pack_mod=100
):
    """DRIVER-SIDE twin of lloyd_exact_assign for SAMPLE-trained
    quantizers (r16): identical arithmetic — the per-dim squared
    distance accumulates dim by dim (numpy elementwise adds ARE the
    left fold, one IEEE op per element per dim), packing is the same
    floor fixed-point argmin, means are integer sums of
    floor(v·1e4+0.5) divided exactly as the distributed M-step, and
    MEMBERLESS centroids are DROPPED exactly like the distributed
    groupBy loses empty cells — so the returned centroids are
    bit-identical to what lloyd_exact_assign / the unrolled DuckDB
    CTEs produce on the same rows. Training on a bounded deterministic
    sample is the production quantizer pattern (the index is tiny and
    built once); only the ASSIGNMENT pass stays distributed.

    ``rows`` = [(vec_id, [floats])]; init centroids are the rows with
    vec_id < k (the oracle's ``WHERE vec_id < k`` init, not
    positional). Returns [(cl, [cent floats])] sorted by cl, after
    ``rounds - 1`` mean updates (the final round's assignment is the
    caller's distributed job)."""
    import numpy as np

    ids = [int(r[0]) for r in rows]
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    cents = {
        vid: x[pos].copy() for pos, vid in enumerate(ids) if vid < k
    }
    for _ in range(rounds - 1):
        cl_list = sorted(cents)
        c = np.array([cents[cl] for cl in cl_list])
        acc = None
        for d in range(x.shape[1]):
            t = (x[:, d, None] - c[None, :, d]) ** 2
            acc = t if acc is None else acc + t
        packed = (
            np.floor(acc * dist_scale + 0.5).astype(np.int64)
            * pack_mod
            + np.array(cl_list, dtype=np.int64)[None, :]
        )
        assign = np.array(cl_list)[packed.argmin(axis=1)]
        cents = {}
        for cl in cl_list:
            m = x[assign == cl]
            if len(m):
                cents[cl] = (
                    np.floor(m * 10000 + 0.5).astype(np.int64).sum(0)
                    / 10000.0
                ) / len(m)
    return [(cl, cents[cl].tolist()) for cl in sorted(cents)]


SEMX_COS_THRESHOLD = 0.3  # same prune point as the float SemDeDup


def _semx_cos_chains() -> tuple[str, str, str]:
    """Left-associated dot / norm chains between embeddings x and y —
    term-for-term the Spark ``aggregate(zip_with(...), 0D, +)`` folds."""
    def chain(a: str, b: str) -> str:
        return " + ".join(
            f"(CAST({a}.embedding[{k}] AS DOUBLE)"
            f" * CAST({b}.embedding[{k}] AS DOUBLE))"
            for k in range(1, 65)
        )

    return chain("x", "y"), chain("x", "x"), chain("y", "y")


def _semx_oracle() -> str:
    dot, nx, ny = _semx_cos_chains()
    cos = f"({dot}) / (sqrt({nx}) * sqrt({ny}))"
    return _kmx_oracle_with(f""",
    fin AS (SELECT vec_id, packed % 100 AS cl FROM a{KMX_ROUNDS})
    SELECT fa.vec_id AS keep_id, fb.vec_id AS dup_id,
           CAST(fa.cl AS BIGINT) AS cluster,
           floor(({cos}) * 10000 + 0.5) / 10000.0 AS cos
    FROM fin fa
    JOIN fin fb ON fa.cl = fb.cl AND fa.vec_id < fb.vec_id
    JOIN embeddings x ON x.vec_id = fa.vec_id
    JOIN embeddings y ON y.vec_id = fb.vec_id
    WHERE {cos} >= {SEMX_COS_THRESHOLD}
    """)


@query("dedup_semantic_exact", oracle=_semx_oracle())
def dedup_semantic_exact(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) with every stage hash-verified:
    embeddings cluster through the exact-Lloyd loop, then ONLY
    within-cell pairs are cosine-scored and pairs above the prune
    threshold surface as (keep, dup) — the cluster-then-prune
    semantic dedup whose float/sampled sibling
    (dedup_semantic_cluster) stays rows-only. Cosines are left-folded
    dot/norm chains over IEEE-exact casts; sqrt is correctly rounded
    in both engines, so the score — and therefore the PRUNE DECISION —
    is bit-identical cross-engine.

    DIVISION OF LABOR (read before scaling this): this variant is the
    K-PINNED VERIFICATION TWIN — K=8 Lloyd cells are baked into the
    oracle so every stage stays cross-engine hash-checkable, which
    means its Σ|cell|² pair scan is bounded only at exhibit scale
    (|cell| ≈ n/8 → the scan is still O(n²/8)). Do NOT ship this
    variant at 100 TB. The scale path is its sibling
    ``dedup_semantic_cluster`` (dedup_extra.py), which grows the cell
    count with the corpus (√n cells → Σ|cell|² ≈ n·√n worst-case,
    ~n for balanced cells) at the price of a rows-only verdict
    (sampled float centroids). tests/test_r8_semantics.py asserts the
    Σ|cell|² bound this docstring claims."""
    t = Tables(spark, sf_dir)
    fin = _kmx_assignments(spark, sf_dir).select(
        "vec_id", (F.col("packed") % 100).alias("cl")
    )
    emb = t.embeddings.select(
        "vec_id", to_double(F.col("embedding")).alias("x")
    )
    def fold(pairs):
        return F.aggregate(pairs, F.lit(0.0), lambda acc, v: acc + v)

    # norms are per-VECTOR, not per-pair: precompute sqrt(Σx²) once in
    # the cell-assignment projection (|cells| · |vectors| work), so the
    # Σ|cell|² pair scan runs only the dot chain. sqrt of the same
    # left-folded sum is the same double, so the oracle — which inlines
    # the norm chain per pair — still hash-matches.
    side = fin.join(emb, "vec_id").withColumn(
        "nrm", F.sqrt(fold(F.zip_with("x", "x", lambda p, q: p * q)))
    )

    a, b = side.alias("a"), side.alias("b")
    dot = fold(F.zip_with("a.x", "b.x", lambda p, q: p * q))
    # try_divide: zero-norm vectors (r10 stress corpus) give cos NULL,
    # which the >= threshold filter drops — exactly matching the
    # oracle, where DuckDB's x/0.0 is NULL and NULL >= t is filtered
    cos = F.try_divide(dot, F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.cl") == F.col("b.cl"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= SEMX_COS_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("keep_id"),
            F.col("b.vec_id").alias("dup_id"),
            F.col("a.cl").cast("bigint").alias("cluster"),
            (F.floor(F.col("cos_raw") * 10000 + 0.5) / 10000.0).alias("cos"),
        )
    )
