"""§2.11 LLM-data-pipeline operators: dedup, similarity search,
multimodal join, text analysis.

Scale designs (SCALE.md has the full notes):

- Exact dedup: hash-groupBy — one shuffle on md5(text), map-side
  partial. At 100 TB, hash first so the shuffle carries 16-byte keys,
  never the documents.
- MinHash near-dup: shingle→minhash→band→bucket-join. The band join
  only pairs documents sharing a band signature — candidate count is
  ~linear for realistic corpora vs O(n²) all-pairs. Verification
  (exact Jaccard) runs only on candidates.
- Similarity: brute-force cosine against a *broadcast* query set is
  the exact baseline (linear scans scale fine when the query side is
  small); threshold all-pairs search is label-blocked (the provided
  cluster key) so comparisons stay within blocks — the same structure
  an IVF/LSH index gives.
- tf-idf: two hash aggregations + a broadcast join of the (tiny)
  document-frequency table + one per-doc window for top-k.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.vectors import NONZERO_EMB_SQL, cosine, norm, sq_norm, to_double
from ..registry import query
from ..tables import Tables
from ._util import fan_out, measured, r4

#: test-scale threshold: the synthetic 64-dim embeddings have
#: same-label cosines up to ~0.47 (probed at sf0.01); production
#: near-dup thresholds (0.8+) would be vacuous on this corpus.
COSINE_THRESHOLD = 0.3
JACCARD_THRESHOLD = 0.8


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup: groupBy(md5(text)) keeping min doc_id + copy count."""
    t = Tables(spark, sf_dir)
    return t.documents.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


#: 16-family minhash geometry for dedup_fuzzy_minhash: 4 bands × 4
#: rows (finer-grained than dedup_minhash_portable's 4×2 — stricter
#: band agreement, fewer false candidates at the same verify
#: threshold). Families are the same exact-int64 affine recipe over
#: the <2^30 prime (CLAUDE.md): every product stays under 2^60, so
#: the arithmetic is bit-identical ANSI int64 in BOTH engines.
FMH_FAMS, FMH_BANDS, FMH_ROWS = 16, 4, 4
FMH_P = 1073741789  # largest prime < 2^30 (== dedup_extra.MHP_P)
FMH_A = [(2 * i + 1) * 48271 % FMH_P for i in range(FMH_FAMS)]
FMH_B = [(i * 2654435761 + 1) % FMH_P for i in range(FMH_FAMS)]


@query(
    "dedup_fuzzy_minhash",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(tk) - 2, 0)),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
               )) AS sh
        FROM w
    ),
    hashes AS (
        SELECT doc_id,
               ('0x' || substr(md5(s.s), 1, 15))::BIGINT AS h
        FROM sh, LATERAL (SELECT unnest(sh.sh) AS s) s
    ),
    mh AS (
        SELECT doc_id, i.i AS fam,
               min((CAST([{", ".join(str(a) for a in FMH_A)}]
                         AS BIGINT[])[i.i + 1]
                    * (h % {FMH_P})
                    + CAST([{", ".join(str(b) for b in FMH_B)}]
                           AS BIGINT[])[i.i + 1])
                   % {FMH_P}) AS mh
        FROM hashes, (SELECT unnest(generate_series(0, {FMH_FAMS - 1}))
                      AS i) i
        GROUP BY doc_id, i.i
    ),
    bands AS (
        SELECT doc_id, b.b AS band,
               {" || '-' || ".join(
                   f"CAST(max(CASE WHEN fam = {FMH_ROWS} * b.b + {r} "
                   "THEN mh END) AS VARCHAR)"
                   for r in range(FMH_ROWS)
               )} AS key
        FROM mh, (SELECT unnest(generate_series(0, {FMH_BANDS - 1}))
                  AS b) b
        WHERE fam BETWEEN {FMH_ROWS} * b.b AND {FMH_ROWS} * b.b + {FMH_ROWS - 1}
        GROUP BY doc_id, b.b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM hashes
             GROUP BY doc_id)
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
    FROM cand
    JOIN sets sa ON sa.doc_id = doc_a
    JOIN sets sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_fuzzy_minhash(spark, sf_dir):
    """Near-duplicate detection: word 3-shingles → 16 minhashes →
    4 bands × 4 rows → band-bucket candidate pairs → exact-Jaccard
    verification ≥ 0.8. Returns verified pairs (a < b) with Jaccard.

    r12 (verdict item 2): the shingle hash is now the PORTABLE
    md5-conv 60-bit recipe with exact-int64 affine minhash families
    (one md5 per shingle total — the same pipeline that upgraded
    dedup_minhash_portable to hash-checked in r8), so the ENTIRE
    run — candidate generation included — is pinned by a DuckDB
    oracle. This was the last rows-only SURVEY §2 id with a portable
    twin; measured at census scale the md5 path is not slower than
    the retired seeded-xxhash64 Arrow pipeline (BENCH_FULL r11:
    portable 2.05 s vs seeded 2.58 s — the md5 is paid once per
    shingle and the band join dominates).

    Everything before the band join stays in the ARRAY domain
    (zip_with 3-gram build, transform/array_min over the shingle
    array) — a map-only pass with no explode and no shuffle. The band
    self-join shuffles only a (doc_id, band, key) projection, never
    the shingle arrays — those rejoin below for banded CANDIDATES
    only. That is the 100 TB shape: signature computation scales with
    bytes scanned, join traffic scales with near-duplicate density."""
    t = Tables(spark, sf_dir)
    tk = F.filter(F.split("text", " "), lambda x: x != "")
    # r13 (verdict #1): the documents table lands in ONE input split
    # at bench scale, serializing the md5-per-shingle + 16-family
    # minhash map stage through a single core — fan_out widens it to
    # the session's parallelism (no-op once the input has ≥cores
    # splits). Measured 2.2 s → 1.1 s at sf0.1.
    d = fan_out(
        t.documents.select("doc_id", "text"),
        cache_key=("documents", sf_dir),
    ).select("doc_id", tk.alias("tk"))
    n3 = F.greatest(F.size("tk") - 2, F.lit(0))
    # positional 3-grams via zip_with over slices — NEVER element_at
    # over a computed array inside a lambda (CollapseProject re-inline
    # O(n²), CLAUDE.md)
    tri = F.zip_with(
        F.zip_with(
            F.slice("tk", 1, n3),
            F.slice("tk", 2, n3),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice("tk", 3, n3),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    def _ph(s):
        # portable 60-bit hash (CLAUDE.md): bit-identical to DuckDB
        # ('0x'||substr(md5(x),1,15))::BIGINT
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    sh = d.select(
        "doc_id", F.array_distinct(F.transform(tri, _ph)).alias("s")
    )
    # lazy since r16: first consumer materializes it in-line
    sh = sh.localCheckpoint(eager=False)  # shingle hashing feeds minhash AND verify

    def _fam(i):
        # single-arg closure — the 2-arg lambda trap (CLAUDE.md)
        a, b = F.lit(FMH_A[i]), F.lit(FMH_B[i])
        return lambda h: (a * (h % F.lit(FMH_P)) + b) % F.lit(FMH_P)

    mh_cols = [
        F.array_min(F.transform("s", _fam(i))).alias(f"mh{i}")
        for i in range(FMH_FAMS)
    ]
    # <3-token docs have an empty shingle set: every minhash is NULL
    # and concat_ws would collapse them onto band key '' — a quadratic
    # clique the oracle never generates. Drop before the band explode.
    # r16: lazily checkpointed — both sides of the band self-join
    # build from sig, so without the barrier the 16-family affine
    # transform over every shingle set ran TWICE (1.24x at 8 cores,
    # 1.05x at 32 where the duplicate branch rode idle cores; the
    # materialized table is docs x 16 longs).
    sig = (
        sh.filter(F.size("s") > 0)
        .select("doc_id", *mh_cols)
        .localCheckpoint(eager=False)
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col(f"mh{FMH_ROWS * b + r}").cast("string")
                                for r in range(FMH_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for b in range(FMH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")

    pairs_ = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact-Jaccard verification on candidates only; `s` is already
    # distinct, so intersect/size are true set ops on both engines
    dsets = sh
    inter = F.size(F.array_intersect("sa.s", "sb.s"))
    jac = inter.cast("double") / (
        F.size("sa.s") + F.size("sb.s") - inter
    )
    return (
        pairs_.join(dsets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(dsets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("j", jac)
        .filter(F.col("j") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", r4(F.col("j")).alias("jaccard"))
    )


@query(
    "sim_knn_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 20 AND {NONZERO_EMB_SQL}),
    pairs AS (
        SELECT query_id, vec_id AS neighbor_id,
               round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 4) AS sim
        FROM (SELECT * FROM embeddings WHERE {NONZERO_EMB_SQL}) embeddings
        CROSS JOIN q
        WHERE vec_id <> query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM pairs
    )
    SELECT query_id, neighbor_id, sim, rn FROM ranked WHERE rn <= 5
    """,
)
def sim_knn_cosine_topk(spark, sf_dir):
    """Exact top-5 cosine neighbors for each query vector (vec_id<20).
    Query set broadcast; candidates streamed — one scan, no shuffle of
    the big side; per-query top-k via window on the (tiny) pair set.
    Ranking uses the ROUNDED sim (+ id tiebreak) so ordering is
    deterministic across engines."""
    t = Tables(spark, sf_dir)
    nz = t.embeddings.filter(sq_norm(to_double("embedding")) > 0)
    q = nz.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), to_double("embedding").alias("qe")
    )
    c = nz.select(
        F.col("vec_id").alias("neighbor_id"), to_double("embedding").alias("ce")
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            r4(cosine(F.col("qe"), F.col("ce"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint")).filter(F.col("rn") <= 5)
    )


#: nDCG@10 fixed-point machinery: C_i = floor(1e6/log2(i+1) + 0.5) is
#: precomputed in PYTHON and inlined as integer literals on BOTH
#: engine sides — log2 of the rank positions must never be evaluated
#: by either engine (correctly-rounded doubles are not guaranteed to
#: agree cross-engine), so every DCG is an exact integer dot product.
EVAL_K, EVAL_REL_K = 10, 5
_DCG_C = [1000000, 630930, 500000, 430677, 386853,
          356207, 333333, 315465, 301030, 289065]
_IDCG_PREFIX = [0, 1000000, 1630930, 2130930, 2561607, 2948460,
                3304667, 3638000, 3953465, 4254495, 4543560]


@query(
    "sim_eval_rank_metrics",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 20 AND {{nz}}),
    pairs AS (
        SELECT query_id, q_label, vec_id AS neighbor_id, label,
               round(list_cosine_similarity(qe,
                     CAST(embedding AS DOUBLE[])), 4) AS sim
        FROM (SELECT * FROM embeddings WHERE {{nz}}) embeddings
        CROSS JOIN q
        WHERE vec_id <> query_id
    ),
    ranked AS (
        SELECT query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn,
               CASE WHEN label = q_label THEN 1 ELSE 0 END AS rel
        FROM pairs
    ),
    top AS (SELECT * FROM ranked WHERE rn <= {EVAL_K}),
    agg AS (
        SELECT query_id,
               CAST(sum(rel) AS BIGINT) AS n_rel10,
               CAST(coalesce(min(CASE WHEN rel = 1 THEN rn END), 0)
                    AS BIGINT) AS first_rel_rank,
               CAST(sum(CASE WHEN rel = 1 AND rn <= {EVAL_REL_K}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rel5,
               CAST(sum(rel * [{{dcg}}][rn]) AS BIGINT) AS dcg_fp
        FROM top GROUP BY query_id
    )
    SELECT query_id, n_rel10, first_rel_rank,
           CASE WHEN first_rel_rank > 0
                THEN (2000000 + first_rel_rank) // (2 * first_rel_rank)
                ELSE 0 END AS mrr_fp,
           n_rel5 * 2000 AS p5_bp,
           dcg_fp,
           CASE WHEN n_rel10 > 0
                THEN (20000 * dcg_fp + [{{idcg}}][n_rel10])
                     // (2 * [{{idcg}}][n_rel10])
                ELSE 0 END AS ndcg_bp
    FROM agg
    """.format(
        nz=NONZERO_EMB_SQL,
        dcg=", ".join(str(c) for c in _DCG_C),
        idcg=", ".join(str(v) for v in _IDCG_PREFIX[1:]),
    ),
)
def sim_eval_rank_metrics(spark, sf_dir):
    """Retrieval-quality evaluation over the exact kNN results: per
    query (vec_id < 20, nonzero norm) the top-{EVAL_K} cosine
    neighbors are judged relevant iff they share the query's label,
    and the operator emits the ranking metrics an embedding/retrieval
    stack reports — MRR (reciprocal rank of the first relevant hit),
    precision@{EVAL_REL_K}, and nDCG@{EVAL_K} — all as exact
    fixed-point integers.

    Engine-exactness: ranks come from the rounded-sim + id tiebreak
    total order (the sim_knn_cosine_topk discipline); DCG divides by
    log2(rank+1), whose doubles are NOT guaranteed identical across
    engines, so the coefficients floor(1e6/log2(i+1)+0.5) are
    precomputed in Python and inlined as integer literals on BOTH
    sides — every metric is then integer arithmetic (half-up integer
    division for MRR and the nDCG ratio). Ideal DCG takes the n_rel
    relevant hits ranked first (prefix-sum literal table).

    Scale shape: identical to the kNN exhibit it evaluates —
    broadcast query set, one candidate scan, per-query window on the
    tiny pair set; the metrics rollup is one aggregate over
    {EVAL_K}·|queries| rows. Truncation-based (rank-cut) metrics need
    no global statistics, so evaluation cost is independent of corpus
    size once the shortlist exists."""
    t = Tables(spark, sf_dir)
    nz = t.embeddings.filter(sq_norm(to_double("embedding")) > 0)
    q = nz.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        to_double("embedding").alias("qe"),
    )
    c = nz.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        to_double("embedding").alias("ce"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            r4(cosine(F.col("qe"), F.col("ce"))).alias("sim"),
            F.when(F.col("label") == F.col("q_label"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    top = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= EVAL_K
    )
    dcg_arr = F.array(*[F.lit(c_) for c_ in _DCG_C])
    agg = top.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel10"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0)
        )
        .cast("bigint")
        .alias("first_rel_rank"),
        F.sum(
            F.when((F.col("rel") == 1) & (F.col("rn") <= EVAL_REL_K), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_rel5"),
        F.sum(F.col("rel") * F.element_at(dcg_arr, F.col("rn")))
        .cast("bigint")
        .alias("dcg_fp"),
    )
    # integer `div` throughout: a double quotient cast to bigint can
    # round across an integer boundary and diverge from the oracle's
    # `//`; the idcg lookup is inlined in the same expr for that reason
    idcg_sql = (
        "element_at(array("
        + ", ".join(str(v) + "L" for v in _IDCG_PREFIX[1:])
        + "), cast(n_rel10 as int))"
    )
    return agg.select(
        "query_id",
        "n_rel10",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank") > 0,
            F.expr(
                "(2000000 + first_rel_rank) div (2 * first_rel_rank)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mrr_fp"),
        (F.col("n_rel5") * 2000).cast("bigint").alias("p5_bp"),
        "dcg_fp",
        F.when(
            F.col("n_rel10") > 0,
            F.expr(
                f"(20000 * dcg_fp + {idcg_sql}) div (2 * {idcg_sql})"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ndcg_bp"),
    )


#: target rows per pair-scan tile side, PRODUCTION-sized (r11 verdict
#: item 1): 2 tiles of 4096 × 64-dim doubles ≈ 4 MB of Arrow per task —
#: comfortably inside an executor's batch budget, and fanout only
#: engages once a label block exceeds the tile, so bench-scale blocks
#: (~5k rows at sf0.1) run 2-3 tiles instead of the r11 setting's 64×
#: replication (the sole r11 bench regression, 0.298 s → 0.774 s).
#: Tests override per-call (tile_rows=32) so the multi-tile path stays
#: exercised on the 400-row stress corpus.
PAIR_TILE_ROWS = 4096
#: fanout ceiling: bounds the explode width (and the one driver-side
#: scalar below) at degenerate block sizes; a real deployment would
#: raise it with the tile size, keeping m = |block| / tile.
PAIR_TILE_MAX_FANOUT = 64


def _pair_tile_fanout(df, label_col="label", tile_rows=None, cache_key=None):
    """Measured max label-block size → chunk fanout m for the tiled
    all-pairs scan (one aggregate job returning ONE scalar — bounded
    driver metadata, same regime-measurement license as
    _util.compact_iter_state). ``cache_key=(name, sf_dir)`` memoizes
    the block size through ``_util.measured``: re-measuring the same
    input paid a full 2-stage job (~0.33 s at sf0.1) per call."""
    tile = PAIR_TILE_ROWS if tile_rows is None else tile_rows

    def max_block():
        mx = df.groupBy(label_col).count().agg(F.max("count")).first()[0]
        return mx or 0

    name, sf_dir = cache_key or (None, None)
    mx = measured(f"max_block:{label_col}:{name}", sf_dir, max_block)
    return max(1, min(PAIR_TILE_MAX_FANOUT, -(-mx // tile)))


def _tile_replicate(df, m):
    """Replicate each row into its m pair-scan tiles: row with chunk
    c = vec_id mod m lands in tile (min(c,t), max(c,t)) for every
    t < m, so each unordered row pair shares EXACTLY ONE (ti,tj) tile
    (its chunk pair) — no post-dedup needed."""
    return (
        df.withColumn("ch", (F.col("vec_id") % m).cast("int"))
        .withColumn(
            "t", F.explode(F.array(*[F.lit(i) for i in range(m)]))
        )
        .withColumn("ti", F.least("ch", "t"))
        .withColumn("tj", F.greatest("ch", "t"))
        .drop("t")
    )


@query(
    "sim_pairs_threshold",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))
                 * 10000 + 0.5) / 10000.0 AS sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[]))
          >= {COSINE_THRESHOLD}
    """,
)
def sim_pairs_threshold(spark, sf_dir):
    """All same-label pairs with cosine ≥ threshold, executed as a
    TILED block-matrix scan: each label block is split into
    m = ceil(|block| / PAIR_TILE_ROWS) chunks by vec_id mod m and one
    task scores one chunk-pair tile (rectangular BLAS matmul off the
    diagonal, triangular on it). Per-task memory is bounded by 2 tile
    sides regardless of corpus size and task count grows as
    labels · m(m+1)/2 — the r10 verdict's unbounded label-block /
    parallelism-capped-at-10 flaw, fixed without touching semantics.

    Why tiling and not quantizer-cell blocking (the other candidate
    fix): cells CHANGE the answer — measured on this corpus, √n
    Lloyd-seeded cells keep only 12-41% of the threshold pairs
    (cosine 0.3 pairs are spatially loose). The approximate
    cell-blocked scans are their own declared ops
    (dedup_semantic_exact / dedup_semantic_cluster); this op's
    contract is the exact within-label pair set, so only the physical
    decomposition changes and the oracle is untouched.

    Within a tile this stays the sanctioned Pandas-UDF case: one
    Arrow batch, one BLAS matmul (~10× interpreting a 64-element
    fold per pair). Sim is emitted half-up fixed-point
    (floor(s·1e4+0.5)/1e4 on BOTH engines) — np.round is half-to-even
    and hashes only by luck (r10 advice)."""
    return _sim_pairs_tiled(spark, sf_dir, tile_rows=None)


def _sim_pairs_tiled(spark, sf_dir, tile_rows=None):
    """Body of sim_pairs_threshold with an explicit tile size so tests
    can force the multi-tile path on tiny corpora (tile_rows=32) while
    the registered query runs the production PAIR_TILE_ROWS."""
    t = Tables(spark, sf_dir)
    threshold = COSINE_THRESHOLD
    # label-null rows can pair with nothing under the oracle's
    # equi-join; drop them up front so the Spark side is NULL-safe by
    # construction (r10 advice)
    emb = t.embeddings.filter(F.col("label").isNotNull())
    m = _pair_tile_fanout(
        emb, tile_rows=tile_rows, cache_key=("emb_notnull", sf_dir)
    )

    def tile_pairs(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        vec = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
        ti, tj = pdf["ti"].iloc[0], pdf["tj"].iloc[0]
        if ti == tj:  # diagonal tile: triangular self-scan
            sims = unit @ unit.T
            iu = np.triu_indices(len(ids), k=1)
            a, b, s = ids[iu[0]], ids[iu[1]], sims[iu]
        else:  # off-diagonal: rectangular chunk-i × chunk-j scan
            am = (pdf["ch"] == ti).to_numpy()
            sims = unit[am] @ unit[~am].T
            i, j = np.nonzero(sims >= threshold)
            a, b, s = ids[am][i], ids[~am][j], sims[i, j]
        keep = s >= threshold  # NaN (zero-norm) compares False
        a, b, s = a[keep], b[keep], s[keep]
        return pd.DataFrame(
            {
                "a_id": np.minimum(a, b),
                "b_id": np.maximum(a, b),
                "sim": np.floor(s * 1e4 + 0.5) / 1e4,
            }
        )

    return _tile_replicate(emb, m).groupBy("label", "ti", "tj").applyInPandas(
        tile_pairs, "a_id long, b_id long, sim double"
    )


@query(
    "multimodal_join_text_vec",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> x * x)))), 4) AS avg_norm,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang
    """,
)
def multimodal_join_text_vec(spark, sf_dir):
    """Text ⋈ vector modality join (doc_id = vec_id) with per-language
    embedding stats — the canonical multimodal columnar pattern."""
    t = Tables(spark, sf_dir)
    j = t.documents.join(
        t.embeddings, F.col("doc_id") == F.col("vec_id")
    )
    return j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        r4(F.avg(norm(to_double("embedding")))).alias("avg_norm"),
        r4(F.avg("n_chars")).alias("avg_chars"),
    )


@query(
    "text_tokenize_stats",
    oracle="""
    WITH tok AS (
        SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    SELECT lang,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_tokens,
           count(DISTINCT token) AS n_distinct_tokens,
           round(avg(length(token)), 4) AS avg_token_len
    FROM tok WHERE token <> '' GROUP BY lang
    """,
)
def text_tokenize_stats(spark, sf_dir):
    """Whitespace tokenization: per-language doc/token/distinct-token/length stats."""
    t = Tables(spark, sf_dir)
    tok = t.documents.select(
        "lang", "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    return tok.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct_tokens"),
        r4(F.avg(F.length("token"))).alias("avg_token_len"),
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE term <> '' GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS dfn FROM tf GROUP BY term),
    n AS (SELECT count(*) AS nd FROM documents),
    scored AS (
        SELECT doc_id, term,
               tf * (ln((nd + 1.0) / (dfn + 1.0)) + 1.0) AS s
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, s,
               row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, round(s, 4) AS tfidf, rn FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    """tf-idf with the pinned smooth-idf formula ln((N+1)/(df+1))+1;
    top-3 terms per doc, ties broken lexically. df table is tiny →
    broadcast join; at 100 TB swap explode+groupBy for HashingTF
    only if vocab explodes.

    Measured non-optimization: pre-repartitioning tokens by doc_id to
    make the aggregate and the ranking window share one exchange is
    ~2x SLOWER here — it ships the raw exploded token stream and
    forfeits the map-side partial aggregation that makes the
    (doc_id, term) shuffle carry compressed partials. Partition reuse
    only pays when the reused exchange is not cheaper to rebuild from
    combined partials.

    r16: document frequency now comes from a count window over term on
    ONE tf lineage instead of a dfreq self-aggregate + broadcast join —
    the old diamond tokenized and aggregated the corpus twice
    (DataFrame reuse is not plan reuse). 2 scans -> 1, and the window
    rides its own term exchange of (doc_id, term, tf) partials
    (measured 1.17x at sf0.1; guide §2.4)."""
    t = Tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = t.documents.count()  # scalar, parquet-metadata cheap
    scored = tf.withColumn(
        "dfn", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).select(
        "doc_id",
        "term",
        (
            F.col("tf")
            * (F.log((F.lit(n_docs) + 1.0) / (F.col("dfn") + 1.0)) + 1.0)
        ).alias("s"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", r4(F.col("s")).alias("tfidf"), "rn")
    )


@query(
    "text_lang_distribution",
    oracle="""
    WITH med AS (
        SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS median_chars
        FROM documents GROUP BY lang
    )
    SELECT d.lang, d.source, count(*) AS n_docs, m.median_chars
    FROM documents d JOIN med m ON d.lang = m.lang
    GROUP BY d.lang, d.source, m.median_chars
    """,
)
def text_lang_distribution(spark, sf_dir):
    """Docs per (lang, source) joined with per-language median length."""
    t = Tables(spark, sf_dir)
    med = t.documents.groupBy("lang").agg(
        r4(F.percentile("n_chars", 0.5)).alias("median_chars")
    )
    return (
        t.documents.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(med), "lang")
        .select("lang", "source", "n_docs", "median_chars")
    )


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 20 AND {NONZERO_EMB_SQL}),
    pairs AS (
        SELECT query_id, vec_id AS neg_id,
               round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])),
                     4) AS sim
        FROM (SELECT * FROM embeddings WHERE {NONZERO_EMB_SQL}) embeddings
        CROSS JOIN q
        WHERE label <> q_label
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neg_id) AS rn
        FROM pairs
    )
    SELECT query_id, neg_id, sim, rn FROM ranked WHERE rn <= 3
    """,
)
def sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each query
    vector (vec_id < 20), the top-3 most-similar vectors with a
    DIFFERENT label — the highest-value negatives for a triplet /
    InfoNCE batch (easy negatives teach nothing; false negatives are
    excluded by the label guard).

    Same scale shape as sim_knn_cosine_topk: the query set broadcasts,
    candidates stream through one scan, and the label inequality
    prunes before ranking. At 100 TB swap the exact scan for the IVF
    shortlist (sim_knn_ivf) and re-rank — the mining semantics
    (different-label top-k) stay this query."""
    t = Tables(spark, sf_dir)
    nz = t.embeddings.filter(sq_norm(to_double("embedding")) > 0)
    q = nz.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        to_double("embedding").alias("qe"),
    )
    c = nz.select(
        F.col("vec_id").alias("neg_id"),
        "label",
        to_double("embedding").alias("ce"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "neg_id",
            r4(cosine(F.col("qe"), F.col("ce"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neg_id")
    )
    return pairs.withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rn") <= 3)


#: MMR re-ranking: shortlist depth, output depth, relevance/diversity mix
MMR_SHORTLIST, MMR_K, MMR_LAMBDA = 50, 10, 0.5


def _mmr_oracle() -> str:
    """DuckDB twin of the MMR greedy with BIT-IDENTICAL arithmetic.

    Every cosine is an explicit left-associated 64-term dot chain
    divided by sqrt(n²a)·sqrt(n²b) — exactly Spark's ``aggregate``
    left fold from 0D (0 + x == x) and ``norm(a) * norm(b)`` shape
    (NOT sqrt(n²a·n²b), which differs in the last ulp).  Relevance
    and pairwise sims are then fixed-pointed (floor(x·1e4 + 0.5)) so
    the greedy loop is pure integer arithmetic: with λ = 0.5 the pick
    argmax(λ·rel − (1−λ)·ms) ≡ argmax(rel_fp − ms_fp).  The k = 10
    sequential picks are UNROLLED as p1/s1 … p10 CTE pairs (the
    PageRank unrolled-oracle precedent): p_i takes the argmax with
    the same tie order as np.argmax over rows sorted (rel desc, id
    asc); s_i folds the picked column into the running max-sim."""

    def chain(term: str) -> str:
        return " + ".join(term.format(k=k) for k in range(1, 65))

    dotq = chain("(CAST(e.embedding[{k}] AS DOUBLE) * q.qe[{k}])")
    n2e = chain(
        "(CAST(e.embedding[{k}] AS DOUBLE) * CAST(e.embedding[{k}] AS DOUBLE))"
    )
    n2q = chain("(q.qe[{k}] * q.qe[{k}])")
    pdot = chain("(a.ce[{k}] * b.ce[{k}])")

    parts = [
        f"""
    WITH qv AS MATERIALIZED (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE {NONZERO_EMB_SQL}
        ORDER BY vec_id LIMIT 1),
    q AS MATERIALIZED (SELECT qe FROM qv),
    qn AS MATERIALIZED (SELECT sqrt({n2q}) AS qnorm FROM q),
    short AS MATERIALIZED (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ce,
               sqrt({n2e}) AS cnorm,
               CAST(floor((({dotq}) / (sqrt({n2e}) * qn.qnorm))
                          * 10000 + 0.5) AS BIGINT) AS rel_fp
        FROM (SELECT * FROM embeddings WHERE {NONZERO_EMB_SQL}) e, q, qn
        WHERE e.vec_id <> (SELECT qid FROM qv)
        ORDER BY rel_fp DESC, e.vec_id LIMIT {MMR_SHORTLIST}),
    pr AS MATERIALIZED (
        SELECT a.vec_id AS av, b.vec_id AS bv,
               CAST(floor((({pdot}) / (a.cnorm * b.cnorm))
                          * 10000 + 0.5) AS BIGINT) AS sim_fp
        FROM short a, short b),
    s0 AS MATERIALIZED (SELECT vec_id, rel_fp, CAST(0 AS BIGINT) AS ms,
           FALSE AS picked FROM short)"""
    ]
    for i in range(1, MMR_K + 1):
        prev = f"s{i - 1}"
        parts.append(f"""
    p{i} AS MATERIALIZED (SELECT vec_id, rel_fp FROM {prev} WHERE NOT picked
             ORDER BY rel_fp - ms DESC, rel_fp DESC, vec_id LIMIT 1)""")
        if i < MMR_K:
            parts.append(f"""
    s{i} AS MATERIALIZED (SELECT s.vec_id, s.rel_fp,
                    greatest(s.ms, pr.sim_fp) AS ms,
                    s.picked OR s.vec_id = (SELECT vec_id FROM p{i}) AS picked
             FROM {prev} s JOIN pr ON pr.av = s.vec_id
                              AND pr.bv = (SELECT vec_id FROM p{i}))""")
    unions = "\n    UNION ALL ".join(
        f'SELECT CAST({i} AS BIGINT) AS "rank", vec_id, rel_fp FROM p{i}'
        for i in range(1, MMR_K + 1)
    )
    return ",".join(parts) + "\n    " + unions


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark, sf_dir):
    """Maximal-Marginal-Relevance re-ranking for query vec_id=0:
    greedily pick 10 results maximizing λ·sim(query, d) −
    (1−λ)·max_sim(d, already-picked) — the diversification pass
    between retrieval and an LLM context window (plain top-k returns
    ten near-copies of the best hit; MMR trades a little relevance
    for coverage).

    Two-stage shape: the DISTRIBUTED part is the exact cosine
    shortlist (broadcast query, one candidate scan, TakeOrdered 50)
    plus the 50×50 pairwise-sim table (both JVM higher-order-function
    folds); the greedy loop — inherently sequential, k·shortlist
    picks — runs in ONE Arrow batch over fixed-point longs only.
    That split is the point: never run the O(k·n) greedy against the
    corpus; run it against a shortlist whose size is a constant.

    Hash-checked (r8, upgraded from rows-only): relevance and the
    pairwise matrix are floor(cos·1e4 + 0.5) longs whose doubles are
    bit-identical to the oracle's explicit left-fold chains, so the
    integer greedy is engine-exact — see :func:`_mmr_oracle`.  The
    diversity win over plain top-k is asserted in tests/test_ann.py."""
    t = Tables(spark, sf_dir)
    # query = FIRST nonzero-norm vector (vec_id 0 on the driver corpus;
    # the r10 stress corpus makes vec_id 0 the zero vector, for which
    # cosine relevance is undefined)
    nz = t.embeddings.filter(sq_norm(to_double("embedding")) > 0)
    q = nz.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("qid"), to_double("embedding").alias("qe")
    )
    cand = (
        nz.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id",
            to_double("embedding").alias("ce"),
            F.floor(cosine(to_double("embedding"), F.col("qe")) * 10000 + 0.5)
            .cast("long")
            .alias("rel_fp"),
        )
        .orderBy(F.col("rel_fp").desc(), "vec_id")
        .limit(MMR_SHORTLIST)
    )
    a = cand.select(
        F.col("vec_id").alias("av"), F.col("ce").alias("ae"), "rel_fp"
    )
    b = cand.select(F.col("vec_id").alias("bv"), F.col("ce").alias("be"))
    pairs = a.crossJoin(F.broadcast(b)).select(
        "av",
        "rel_fp",
        "bv",
        F.floor(cosine(F.col("ae"), F.col("be")) * 10000 + 0.5)
        .cast("long")
        .alias("sim_fp"),
    )

    def mmr(pdf):
        import numpy as np
        import pandas as pd

        rel = (
            pdf[["av", "rel_fp"]]
            .drop_duplicates()
            .sort_values(["rel_fp", "av"], ascending=[False, True])
            .reset_index(drop=True)
        )
        ids = rel["av"].to_numpy()
        relv = rel["rel_fp"].to_numpy()
        idx = {v: i for i, v in enumerate(ids)}
        n = len(ids)
        mat = np.zeros((n, n), dtype=np.int64)
        for av, bv, s in zip(pdf["av"], pdf["bv"], pdf["sim_fp"]):
            mat[idx[av], idx[bv]] = s
        picked: list[int] = []
        ms = np.zeros(n, dtype=np.int64)
        for _ in range(min(MMR_K, n)):
            # λ = 0.5 ⇒ argmax(λ·rel − (1−λ)·ms) ≡ argmax(rel − ms);
            # all-int64, ties: first index of the (rel desc, id asc)
            # sorted layout — matches the oracle's ORDER BY.
            score = relv - ms
            score[picked] = np.iinfo(np.int64).min
            i = int(np.argmax(score))
            picked.append(i)
            ms = np.maximum(ms, mat[:, i])
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(picked) + 1, dtype=np.int64),
                "vec_id": ids[picked],
                "rel_fp": relv[picked],
            }
        )

    return (
        pairs.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(mmr, "rank long, vec_id long, rel_fp long")
    )
