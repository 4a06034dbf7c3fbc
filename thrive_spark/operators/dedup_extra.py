"""Additional dedup family members (task brief: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine) — complementing
``llm.dedup_exact_hash`` / ``llm.dedup_fuzzy_minhash``.

Scale shapes:
- SimHash: one signature per doc (map-only), banded self-join so
  candidate pairs share an 8-bit band (pigeonhole: Hamming ≤ 3 over 4
  bands ⇒ at least one identical band) — never all-pairs.
- n-gram Jaccard: blocked by (lang, length bucket); blocking bounds
  pair count at Σ|block|² and is the knob that keeps 100 TB linear-ish
  (boundary-straddling near-dups are the recall cost of blocking —
  use MinHash bands when that matters).
- Embedding cosine: same label-blocked pair scan as
  sim_pairs_threshold, emitting keep/dup verdicts.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from ._util import compact_iter_state, fan_out, ffix, measured, ofix, r4
from .llm import COSINE_THRESHOLD

SIMHASH_BITS = 32
SIMHASH_BANDS = 4
NGRAM_JACCARD_THRESHOLD = 0.8

#: dedup_ngram_jaccard verify regime (r17): when the MEASURED corpus
#: vocabulary fits the bit positions of one BIGINT, every token set
#: packs into a single mask and the verify stage runs on
#: bit_count(a & b) instead of array_intersect — 8-byte masks travel
#: through the candidate joins instead of token arrays (guide §2.3
#: "narrower types"/"shuffle keys instead of payloads"). 61 leaves the
#: sign bit and one slack bit untouched. The array path stays the
#: general-scale shape (open vocabularies).
NGRAM_MASK_MAX_VOCAB = 61


@query(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        FROM tok
    ),
    bits AS (
        SELECT doc_id, i.i,
               sum(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, (SELECT unnest(generate_series(0, 31)) AS i) i
        GROUP BY doc_id, i.i
    ),
    sig AS (
        SELECT doc_id,
               sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)
                   AS simhash
        FROM bits GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, simhash, b.b AS band,
               (simhash >> (b.b * 8)) & 255 AS key
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 32-bit signature (sign of per-bit vote sums
    over token hashes), banded candidate join (4 × 8-bit bands),
    Hamming ≤ 3 verdict. 16 bits collided far too often on this
    vocabulary (~14k candidate pairs at sf0.01); 32 bits keeps the
    signature cheap while the band join stays selective.

    The signature is computed MAP-ONLY with a JVM higher-order fold:
    tokens → portable 60-bit md5-conv hashes (bit-identical to the
    DuckDB oracle's '0x'||md5-prefix cast — what upgraded this op
    from rows-only to hash-checked in r7; xxhash64 is cheaper but
    Spark-only) → 32-counter vote accumulator → packed long, all
    inside one row. The previous explode + 32-column
    groupBy(doc_id) shape pushed |tokens| rows through a hash
    aggregate and a doc_id shuffle; the fold removes both (measured
    2.6× on the signature stage at sf0.01, identical signatures).
    At 100 TB the only shuffle left in this operator is the band
    candidate join itself."""
    t = Tables(spark, sf_dir)
    # token-less docs (empty/whitespace text) have NO signature: the
    # oracle's unnest drops them naturally, and without this filter the
    # fold gives them all simhash=0, pairing every empty doc with every
    # other (flushed by the r10 stress corpus)
    sig = fan_out(
        t.documents.select("doc_id", "text"),
        cache_key=("documents", sf_dir),
    ).filter(
        F.expr("size(filter(split(text, ' '), t -> t != '')) > 0")
    ).select(
        "doc_id",
        F.expr(
            f"""
            aggregate(
              transform(
                aggregate(
                  transform(filter(split(text, ' '), t -> t != ''),
                            t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)),
                  array_repeat(0, {SIMHASH_BITS}),
                  (acc, h) -> transform(
                      acc, (v, i) -> v + IF(((h >> i) & 1) = 1, 1, -1))
                ),
                (v, i) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), i),
                             CAST(0 AS BIGINT))
              ),
              CAST(0 AS BIGINT),
              (a, x) -> a + x
            )"""
        ).alias("simhash"),
    )

    # r12 (verdict item 4): SIGNATURE-DISTINCT banding. On a
    # duplicate-heavy corpus (the SCALE10 ×10 case) identical docs
    # share one signature, and banding DOCS makes the candidate join
    # emit copies² rows per near-dup cluster before dropDuplicates.
    # Band DISTINCT signatures instead: the self-join runs on
    # representative² candidates, Hamming verifies once per signature
    # pair, and doc pairs re-expand only at emit — the output's
    # inherent pair volume, with none of it passing through the band
    # join or the verify. sig is checkpointed: it feeds the distinct,
    # both expansion joins, and the within-group self-join.
    sig = sig.localCheckpoint()
    dsig = sig.select("simhash").distinct()
    bits_per_band = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits_per_band) - 1
    bands = dsig.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(simhash >> {b * bits_per_band}) & {mask}").alias(
                            "key"
                        ),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("simhash", "bk.band", "bk.key")

    sigpairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("s_a"),
            F.col("b.simhash").alias("s_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("bigint").alias("hamming"),
        )
        .dropDuplicates(["s_a", "s_b"])
        .filter(F.col("hamming") <= 3)
    )
    # expand verified signature pairs back to doc pairs (each doc has
    # exactly one signature, so the cross expansion is duplicate-free)
    cross = (
        sigpairs.join(sig.alias("da"), F.col("s_a") == F.col("da.simhash"))
        .join(sig.alias("db"), F.col("s_b") == F.col("db.simhash"))
        .select(
            F.least("da.doc_id", "db.doc_id").alias("doc_a"),
            F.greatest("da.doc_id", "db.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    # same-signature docs pair at Hamming 0 (they share every band)
    within = (
        sig.alias("x")
        .join(
            sig.alias("y"),
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    return cross.union(within)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars // 50 AS lb,
               list_distinct(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS toks
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS keep_id, b.doc_id AS dup_id,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))) AS j
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
        WHERE len(a.toks) * 4 <= len(b.toks) * 5
          AND len(b.toks) * 4 <= len(a.toks) * 5
    )
    SELECT keep_id, dup_id, round(j, 4) AS jaccard
    FROM pairs WHERE j >= {NGRAM_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard dedup via PPJoin-style prefix filtering
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08) on top of (lang, length-bucket) blocking;
    oracle-checked (portable set arithmetic, no seeded hashes).

    Three lossless prunes before any set intersection:
    - Blocking: candidates share (lang, length bucket).
    - Size ratio: J >= t forces min(|A|,|B|)/max >= t, checked in
      exact integer arithmetic (4|A| <= 5|B| and vice versa).
    - Prefix filter: under any fixed total token order, if J(A,B) >= t
      then the smallest common token lies in BOTH prefixes of length
      |x| - ceil(t*|x|) + 1 (if it didn't, one side would have
      > |x| - ceil(t*|x|) tokens outside the intersection, capping
      |A∩B| below t*|x| <= t*|A∪B|). So the self-join runs on
      EXPLODED PREFIX TOKENS — rows of (doc_id, lang, lb, sz, token),
      never the token arrays — and the arrays are fetched only for
      the deduplicated candidate pairs at verify time. At 100 TB the
      join shuffles ~0.2|x|+1 slim rows per doc instead of the block
      cross-product; lexicographic order is used here (tiny synthetic
      vocabulary); a production corpus would order tokens rarest-first
      from a frequency sketch to sharpen the prefix further."""
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 50).cast("long").alias("lb"),
        F.array_sort(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda x: x != "")
            )
        ).alias("toks"),
    ).withColumn("sz", F.size("toks")).localCheckpoint(eager=False)
    # ^ the token arrays feed the prefix explode AND the verify joins
    # with no shareable exchange between them — one materialization
    # replaces two corpus tokenization passes (measured 2.93→2.61 s at
    # sf0.1, and the CC query's pair generation inherits the win);
    # lazy since r16: the first consumer materializes it, so the
    # pipeline head doesn't pay a separate blocking job
    # prefix length sz - ceil(t*sz) + 1; ceil(4*sz/5) = (4*sz+4) div 5
    # explode_outer: plain explode triggers the inferred size()>0 scan
    # filter that re-inlines the token pipeline (see curation.py note)
    pre = d.select(
        "doc_id",
        "lang",
        "lb",
        "sz",
        F.explode_outer(
            F.expr("slice(toks, 1, sz - ((4 * sz + 4) div 5) + 1)")
        ).alias("ptok"),
    ).filter(F.col("ptok").isNotNull())
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * 4 <= F.col("b.sz") * 5)
            & (F.col("b.sz") * 4 <= F.col("a.sz") * 5),
        )
        .select(
            F.col("a.doc_id").alias("keep_id"),
            F.col("b.doc_id").alias("dup_id"),
        )
        .dropDuplicates()
    )
    # r17 verify regime switch (measured, memoized — never assumed):
    # rarest-first prefix ordering (VERDICT r16 item 5) was measured
    # first and REJECTED: this corpus is a closed 31-token vocabulary,
    # so no rare tokens exist and the candidate count moved 281 382 →
    # 281 067 (−0.1%) — and the true-positive floor is 116 837 pairs,
    # capping ANY candidate-pruning win at ~2.4×. The measured cost is
    # in verifying 281k pairs: two joins carrying ~30-element token
    # arrays + array_intersect per pair. With vocab ≤ 61 the sets pack
    # into one BIGINT mask: |A∩B| = bit_count(maskA & maskB), and the
    # verify joins move 8-byte masks instead of arrays.
    vocab = d.select(F.explode("toks").alias("tok")).distinct()
    n_vocab = measured("ngram_jaccard_vocab", sf_dir, vocab.count)
    if n_vocab <= NGRAM_MASK_MAX_VOCAB:
        vmap = vocab.select(
            "tok",
            (F.row_number().over(Window.orderBy("tok")) - 1).alias("bit"),
        ).agg(
            F.map_from_entries(
                F.collect_list(F.struct("tok", "bit"))
            ).alias("m")
        )
        sets = d.crossJoin(F.broadcast(vmap)).select(
            "doc_id",
            F.expr(
                "aggregate(toks, CAST(0 AS BIGINT),"
                " (acc, x) -> acc | shiftleft(CAST(1 AS BIGINT), m[x]))"
            ).alias("mk"),
            "sz",
        )
        inter = F.bit_count(F.col("sa.mk").bitwiseAND(F.col("sb.mk")))
    else:
        sets = d.select("doc_id", "toks", "sz")
        inter = F.size(F.array_intersect("sa.toks", "sb.toks"))
    j = inter.cast("double") / (F.col("sa.sz") + F.col("sb.sz") - inter)
    return (
        cand.join(sets.alias("sa"), cand.keep_id == F.col("sa.doc_id"))
        .join(sets.alias("sb"), cand.dup_id == F.col("sb.doc_id"))
        .withColumn("j", j)
        .filter(F.col("j") >= NGRAM_JACCARD_THRESHOLD)
        .select("keep_id", "dup_id", r4(F.col("j")).alias("jaccard"))
    )


CONTAIN_MIN_SHINGLES = 10


@query(
    "dedup_shingle_containment",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(tk) - 2, 0)),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
               )) AS sh
        FROM w
    ),
    s AS (
        SELECT doc_id, lang, sh, len(sh) AS sz FROM d
        WHERE len(sh) >= {CONTAIN_MIN_SHINGLES}
    ),
    pairs AS (
        SELECT a.doc_id AS sub_id, b.doc_id AS host_id,
               len(list_intersect(a.sh, b.sh)) AS isect, a.sz AS sub_sz
        FROM s a JOIN s b
          ON a.lang = b.lang
         AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
    )
    SELECT sub_id, host_id,
           {ofix('CAST(isect AS DOUBLE) / sub_sz')} AS containment
    FROM pairs WHERE 5 * isect >= 4 * sub_sz
    """,
)
def dedup_shingle_containment(spark, sf_dir):
    """Containment near-dup: C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8
    over word-3-shingle sets, A the smaller set — the asymmetric
    complement of :func:`dedup_ngram_jaccard`.  Jaccard misses the
    host/sub-document case (a doc quoted whole inside a much larger
    one scores J ≈ |A|/|B| → 0 but C = 1); containment is how
    training pipelines catch embedded-passage duplication between
    corpus documents (same notion as eval-set decontamination, applied
    train-train).

    Exact SSJoin-style prefix filtering (Chaudhuri et al. ICDE'06;
    Xiao et al. WWW'08), adapted to the asymmetric predicate:

    - C ≥ t forces ≥ ceil(t·|A|) of A's shingles into B, so a prefix
      of |A| - ceil(t·|A|) + 1 of A's shingles (fixed total order)
      must hit B — the candidate join runs PREFIX(A) ⋈ POSTINGS(B),
      slim exploded rows, never the shingle arrays.  No length upper
      bound exists (B may be arbitrarily large — that is the point),
      so unlike the Jaccard path there is no size-ratio prune; the
      inverted-index side is the FULL shingle postings, one shuffle,
      linear in corpus size.
    - Prefix length in exact integer arithmetic (t = 4/5):
      sz - ((4·sz + 4) div 5) + 1 — no float ceil at any scale.
    - Verify fetches the two sorted shingle arrays per DEDUPLICATED
      candidate pair and filters 5·isect ≥ 4·|A| in integers; the
      reported containment is ffix'd for cross-engine hash parity.

    Scale: shingle universes are Zipf-tailed, so prefix shingles
    (lexicographic here — tiny synthetic vocabulary; rarest-first via
    a df sketch in production) have short postings; the candidate
    row count is Σ_prefix-shingle df², not the lang-block
    cross-product.  3-shingles, not unigrams, keep the key space
    selective (measured: 27k distinct shingles / max df 25 at sf0.1
    vs a 31-word unigram vocabulary)."""
    t = Tables(spark, sf_dir)
    tk = F.filter(F.split("text", " "), lambda x: x != "")
    base = t.documents.select("doc_id", "lang", tk.alias("tk"))
    # zip_with over slices — never index a computed array inside a
    # per-element lambda (CollapseProject re-inlines it per element,
    # the O(tokens²) pitfall SCALE.md documents)
    n2 = F.greatest(F.size("tk") - 2, F.lit(0))
    shingles = F.zip_with(
        F.slice("tk", 1, n2),
        F.zip_with(
            F.slice("tk", 2, n2),
            F.slice("tk", 3, n2),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    d = (
        base.select(
            "doc_id",
            "lang",
            F.array_sort(F.array_distinct(shingles)).alias("sh"),
        )
        .withColumn("sz", F.size("sh"))
        .filter(F.col("sz") >= CONTAIN_MIN_SHINGLES)
        # three consumers (prefix explode, postings explode, verify
        # arrays) with no shareable exchange — checkpoint turns three
        # corpus-wide shingle passes into one (measured 3.17→2.28 s at
        # sf0.1; the q17/q21 shared-subtree pattern)
        .localCheckpoint()
    )
    postings = d.select(
        "doc_id",
        "lang",
        "sz",
        F.explode_outer("sh").alias("tok"),
    ).filter(F.col("tok").isNotNull())
    # RAREST-FIRST prefix (r10; was lexicographic slice(sh, 1, plen)):
    # any plen = sz - ceil(t*sz) + 1 shingles of A work as the
    # pigeonhole set because the postings side is FULL, so choose the
    # plen with the SHORTEST postings — global df ascending. On the
    # closed synthetic vocabulary this cut candidate rows 5,972 -> 534
    # at sf0.01 and 532k -> 308k at sf0.1 (the fixed 27k-shingle
    # universe saturates df at the top scale; an open real-corpus
    # vocabulary behaves like the sf0.01 regime, ~11x). The df table
    # reuses the postings explode, aggregates/joins co-partitioned on
    # (lang, tok); at 100 TB swap the exact df join for a broadcast
    # CM-sketch (agg_cms_frequency shows the sketch) to drop both
    # df shuffles.
    df_tbl = postings.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    w_rare = Window.partitionBy("doc_id").orderBy("df", "tok")
    pre = (
        postings.join(df_tbl, ["lang", "tok"])
        .withColumn("rn", F.row_number().over(w_rare))
        .filter(F.col("rn") <= F.expr("sz - ((4 * sz + 4) div 5) + 1"))
        .select("doc_id", "lang", "sz", F.col("tok").alias("psh"))
    )
    cand = (
        pre.alias("s")
        .join(
            postings.alias("h"),
            (F.col("s.lang") == F.col("h.lang"))
            & (F.col("s.psh") == F.col("h.tok"))
            & (
                (F.col("s.sz") < F.col("h.sz"))
                | (
                    (F.col("s.sz") == F.col("h.sz"))
                    & (F.col("s.doc_id") < F.col("h.doc_id"))
                )
            ),
        )
        .select(
            F.col("s.doc_id").alias("sub_id"),
            F.col("h.doc_id").alias("host_id"),
        )
        .dropDuplicates()
    )
    sets = d.select("doc_id", "sh", "sz")
    isect = F.size(F.array_intersect("sa.sh", "sb.sh"))
    return (
        cand.join(sets.alias("sa"), cand.sub_id == F.col("sa.doc_id"))
        .join(sets.alias("sb"), cand.host_id == F.col("sb.doc_id"))
        .withColumn("isect", isect)
        .filter(5 * F.col("isect") >= 4 * F.col("sa.sz"))
        .select(
            "sub_id",
            "host_id",
            ffix(F.col("isect").cast("double") / F.col("sa.sz")).alias(
                "containment"
            ),
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT least(a.vec_id, b.vec_id) AS keep_id,
           greatest(a.vec_id, b.vec_id) AS dup_id,
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
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-space near-dup: same TILED BLAS pair scan as
    sim_pairs_threshold (bounded per-task memory, task count grows
    with data), emitting (keep_id, dup_id) verdicts — the
    semantic-dedup stage of a training-data pipeline."""
    from .llm import sim_pairs_threshold

    pairs = sim_pairs_threshold(spark, sf_dir)
    return pairs.select(
        F.least("a_id", "b_id").alias("keep_id"),
        F.greatest("a_id", "b_id").alias("dup_id"),
        "sim",
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE d AS (
        SELECT doc_id, lang, n_chars // 50 AS lb,
               list_distinct(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS toks
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS keep_id, b.doc_id AS dup_id
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
        WHERE a.doc_id < b.doc_id
          AND len(a.toks) * 4 <= len(b.toks) * 5
          AND len(b.toks) * 4 <= len(a.toks) * 5
          AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)))
              >= {NGRAM_JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT keep_id AS src, dup_id AS nbr FROM pairs
        UNION ALL
        SELECT dup_id, keep_id FROM pairs
    ),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON e.nbr = r.node
    ),
    lab AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           node = cluster_id AS is_canonical
    FROM lab
    """,
)
def dedup_cluster_components(spark, sf_dir):
    """Connected components over the near-dup pair graph — the step a
    dedup pipeline runs AFTER pair generation: transitive near-dups
    (A~B, B~C) must collapse into ONE cluster with one canonical doc,
    or chained duplicates survive pairwise dedup. Edges are the
    oracle-checkable n-gram Jaccard pairs; the cluster id is the
    component's minimum doc_id.

    Scale shape: iterative min-label propagation (Pregel-style) —
    each round is one shuffle of the (tiny) edge list joined to the
    label table, and the round count is the component diameter, which
    for near-dup clusters is small (they are near-cliques: if A~B and
    B~C are 0.8-similar, A and C almost always share a band/block
    too). `localCheckpoint` after each round cuts the growing lineage
    so round N's plan doesn't replay rounds 1..N-1. For adversarial
    long-chain graphs, swap the loop body for large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce"), which
    converges in O(log n) rounds with the same per-round join shape.

    The convergence check is a driver-side count() — one scalar per
    round, not a collect of the data."""
    from . import _util

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("keep_id", "dup_id")
    # pair generation runs once (checkpoint), then the layout AND the
    # algorithm are picked by MEASURED edge count (r5 verdict flag,
    # same switch idiom as the kmeans partial-reduce path):
    # - small regime: single-partition min-label propagation — per-
    #   round fixed cost dominates, diameter is small for near-clique
    #   dup graphs, so 2-3 cheap rounds win;
    # - wide regime: large-star/small-star — O(log n) rounds even on
    #   adversarial chain graphs, no one-task serialization.
    edges, n_edges = compact_iter_state(
        pairs.union(pairs.select("dup_id", "keep_id")).toDF("src", "nbr"),
        cache_key=("dedup_cluster_components", sf_dir),
    )
    if n_edges <= _util.SMALL_ITER_STATE_MAX_ROWS:
        labels = _cc_union_find(edges)
    else:
        labels = cc_large_small_star(edges)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def _cc_union_find(edges):
    """Single-pass union-find over a small SYMMETRIC edge list →
    (node, label=min node id in component) — the small-regime engine
    of :func:`dedup_cluster_components` (r10; replaced the
    label-propagation loop there).

    When compact_iter_state has already measured the edge list under
    SMALL_ITER_STATE_MAX_ROWS (2M rows ≈ 32 MB), the right plan is
    NOT k propagation rounds of join+aggregate+checkpoint (each round
    costs ~0.5 s of fixed stage overhead in any cluster, times
    diameter) but ONE pass of path-compressed union-find inside a
    single Arrow task: coalesce(1) + mapInPandas, the iterator API
    folding every batch of the partition before emitting. O(E α(E))
    work, one stage, no shuffle. The wide regime keeps
    large-star/small-star (O(log n) rounds) — the switch is measured,
    never assumed. Output labels are identical to propagation's
    fixpoint: each node's minimum reachable node id."""

    def uf(batches):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["src"], pdf["nbr"]):
                a, b = int(a), int(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN id keeps the root the component min
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        nodes = sorted(parent.keys() | {r for r in parent.values()})
        yield pd.DataFrame(
            {"node": nodes, "label": [find(n) for n in nodes]}
        )

    return edges.coalesce(1).mapInPandas(uf, "node long, label long")


def _cc_label_propagation(edges):
    """Min-label propagation over a SYMMETRIC (src, nbr) edge list →
    (node, label). Round count = component diameter; the small-graph
    engine of :func:`dedup_cluster_components`.

    Seed labels with min(self, neighbors) — that IS round one of the
    propagation, fused into the init aggregate (saves one full
    join+checkpoint+count cycle; near-clique components then converge
    in 1-2 further rounds). The convergence flag is computed IN the
    propagation join, so the changed-count is a narrow scan of the
    checkpoint, not an extra join job per round."""
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("src"), F.min("nbr")).alias("label")
    )
    while True:
        prop = (
            edges.join(labels, edges.nbr == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new = (
            labels.join(prop, labels.node == prop.src)
            .select(
                "node",
                F.least("label", "nbr_min").alias("label"),
                (F.col("nbr_min") < F.col("label")).alias("_improved"),
            )
            .localCheckpoint()
        )
        changed = new.filter("_improved").count()
        labels = new.drop("_improved")
        if changed == 0:
            break
    return labels


def cc_large_small_star(edges, max_rounds: int = 64):
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) over a SYMMETRIC (src, nbr) edge list → (node, label).

    Converges in O(log n) alternations on ANY graph shape — including
    the adversarial long chains where label propagation needs
    diameter-many rounds — which is why it is the wide-regime engine
    of :func:`dedup_cluster_components`.  Per alternation:

    - large-star: every undirected edge {u,v}, u<v (picked once from
      its smaller endpoint via ``nbr > src``) re-points the larger end
      at m(u) = min(Γ(u) ∪ {u});
    - small-star: every edge, picked from its LARGER endpoint, plus
      the endpoint itself, re-points at the min of the smaller
      neighborhood.

    Both are one groupBy + one join of the edge list — the same
    shuffle shape as a propagation round, never a collect.  Edge sets
    shrink toward stars centered at component minima; convergence is
    detected by an order-independent (count, xxhash-sum) checksum, one
    scalar aggregate per alternation.  ``localCheckpoint`` per
    alternation cuts lineage exactly like the propagation loop.
    Nodes never drop out mid-iteration: an endpoint with no smaller
    neighbor is its own m(u), so every node keeps at least one
    incident edge until it lands in a star."""

    def _sym(und):
        return und.union(
            und.select(F.col("nbr").alias("src"), F.col("src").alias("nbr"))
        )

    def _checksum(e):
        # bit_xor, not sum: order-independent like sum, but can't hit
        # ANSI long overflow.  TWO independent accumulators (the second
        # re-hashes with a salt column, i.e. a different effective
        # seed) so that XOR cancellation between four edges
        # (h(a)^h(b) == h(c)^h(d)) would have to hold under BOTH hash
        # functions simultaneously — collision probability ~2^-128,
        # negligible even adversarially.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, nbr))").alias("h"),
            F.expr("bit_xor(xxhash64(nbr, src, 2654435769))").alias("h2"),
        ).collect()[0]
        return row["n"], row["h"], row["h2"]

    prev = None
    converged = False
    for _ in range(max_rounds):
        # large-star: m(u) over the FULL neighborhood of the smaller
        # endpoint; emissions (v, m(u)) for v > u
        m = (
            edges.groupBy("src")
            .agg(F.min("nbr").alias("mn"))
            .select("src", F.least("mn", F.col("src")).alias("m"))
        )
        und = (
            edges.join(m, "src")
            .filter(F.col("nbr") > F.col("src"))
            .select(F.col("nbr").alias("src"), F.col("m").alias("nbr"))
            .filter(F.col("src") != F.col("nbr"))
            .distinct()
        )
        # small-star: from the larger endpoint over smaller neighbors
        low = _sym(und).filter(F.col("nbr") < F.col("src"))
        ms = low.groupBy("src").agg(F.min("nbr").alias("m"))
        und = (
            low.join(ms, "src")
            .select(F.col("nbr").alias("src"), F.col("m").alias("nbr"))
            .union(ms.select(F.col("src"), F.col("m").alias("nbr")))
            .filter(F.col("src") != F.col("nbr"))
            .distinct()
            .localCheckpoint()
        )
        edges = _sym(und)
        cur = _checksum(und)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # An unconverged exit would silently return labels from a
        # non-star edge set (wrong cluster labels).  O(log n) rounds
        # suffice, so exhausting max_rounds means the input violated a
        # precondition (e.g. non-symmetric edges) — fail loudly.
        raise RuntimeError(
            f"cc_large_small_star: no convergence in {max_rounds} rounds; "
            "labels would be unreliable (is the edge list symmetric?)"
        )
    # converged: stars centered at component minima
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("src"), F.min("nbr")).alias("label")
    )


P_LEN = 20


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE text IS NOT NULL
    ),
    p AS (
        SELECT doc_id, s.start AS start,
               array_to_string(tk[s.start : s.start + {P_LEN - 1}], ' ')
                   AS ptxt
        FROM d, LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(tk), 1), {P_LEN})) AS start) s
    )
    SELECT md5(ptxt) AS phash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id * 100000 + start) // 100000 AS BIGINT)
               AS keep_doc,
           CAST(min(doc_id * 100000 + start) % 100000 AS BIGINT)
               AS keep_start
    FROM p GROUP BY md5(ptxt)
    """,
)
def dedup_paragraph_exact(spark, sf_dir):
    """Passage-level exact dedup (CCNet-style: boilerplate repeats
    across documents even when whole docs differ): split each doc into
    disjoint 20-token passages, hash each, keep the smallest
    (doc_id, offset) occurrence as canonical. The canonical pick is an
    argmin over a packed doc_id*1e5+offset bigint so both engines
    agree without struct-min support.

    Scale shape: passage construction is map-only in the array domain
    (explode_outer — see the scan-filter note above dedup_ngram's
    prefix explode); the only shuffle is the hash groupBy on the
    16-byte passage hash, same as dedup_exact_hash."""
    t = Tables(spark, sf_dir)
    # NULL text has no passages: the oracle's generate_series over a
    # NULL token list emits no rows, while explode_outer would emit a
    # NULL-phash group (r10 stress corpus)
    d = t.documents.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    p = (
        d.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"transform(sequence(1, greatest(size(tk), 1), {P_LEN}), "
                    f"s -> struct(s AS start, "
                    f"concat_ws(' ', slice(tk, s, {P_LEN})) AS ptxt))"
                )
            ).alias("p"),
        )
        .filter(F.col("p").isNotNull())
        .select("doc_id", F.col("p.start").alias("start"), F.col("p.ptxt").alias("ptxt"))
    )
    packed = F.min(F.col("doc_id") * 100000 + F.col("start"))
    return (
        p.groupBy(F.md5("ptxt").alias("phash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            packed.alias("packed"),
        )
        .select(
            "phash",
            "n_copies",
            F.expr("packed div 100000").alias("keep_doc"),
            (F.col("packed") % 100000).alias("keep_start"),
        )
    )


SEMC_TAU = 0.35  # prune threshold: non-vacuous on every test corpus
SEMC_ROUNDS = 3  # Lloyd alternations, mirrored in the oracle unroll
#: E-step packing for the data-dependent cell count: dist quantized at
#: 1e-4 (argmin portability only needs BOTH engines to compute the
#: same packed long), pack_mod 1e5 bounds the centroid id — together
#: dist ≤ ~9e9 stays inside int64, comfortably above the stress domain
SEMC_DIST_SCALE, SEMC_PACK_MOD = 10000, 100000


def _semc_oracle() -> str:
    """DuckDB twin of the √n-cell SemDeDup: the same Lloyd unroll as
    _kmx_oracle but over the nonzero-norm subset with a DATA-DEPENDENT
    K = max(8, floor(sqrt(n))) (the CTE chain is structurally
    K-independent — only the c0 seed filter reads it), then τ-graph
    edges via the left-folded cosine chains (_semx precedent) and
    min-label connected components via a recursive CTE (the
    dedup_cluster_components precedent)."""
    from .vectors import _centroid_dist_chain, _semx_cos_chains

    chain = _centroid_dist_chain()
    dot, nx, ny = _semx_cos_chains()
    cos = f"({dot}) / (sqrt({nx}) * sqrt({ny}))"
    parts = [f"""
    WITH RECURSIVE nz AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ),
    k AS (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT)) AS kk
          FROM nz),
    c0 AS (SELECT vec_id AS cl,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
           FROM nz, k WHERE vec_id < k.kk)"""]
    for r in range(1, SEMC_ROUNDS + 1):
        parts.append(f""",
    a{r} AS (
        SELECT e.vec_id,
               min(CAST(floor(({chain}) * {SEMC_DIST_SCALE} + 0.5) AS BIGINT)
                   * {SEMC_PACK_MOD} + c.cl) AS packed
        FROM nz e, c{r - 1} c GROUP BY e.vec_id
    )""")
        if r < SEMC_ROUNDS:
            parts.append(f""",
    dm{r} AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                     unnest(embedding) AS v FROM nz),
    m{r} AS (
        SELECT a{r}.packed % {SEMC_PACK_MOD} AS cl, d.dim,
               sum(CAST(floor(CAST(d.v AS DOUBLE) * 10000 + 0.5) AS BIGINT))
                   / 10000.0 / count(*) AS mv
        FROM a{r} JOIN dm{r} d USING (vec_id) GROUP BY 1, d.dim
    ),
    c{r} AS (SELECT cl, list(mv ORDER BY dim) AS cent FROM m{r} GROUP BY cl)""")
    parts.append(f""",
    fin AS (SELECT vec_id, packed % {SEMC_PACK_MOD} AS cell FROM a{SEMC_ROUNDS}),
    prs AS (
        SELECT fa.vec_id AS u, fb.vec_id AS v
        FROM fin fa JOIN fin fb ON fa.cell = fb.cell AND fa.vec_id < fb.vec_id
        JOIN nz x ON x.vec_id = fa.vec_id
        JOIN nz y ON y.vec_id = fb.vec_id
        WHERE {cos} > {SEMC_TAU}
    ),
    sym AS (SELECT u AS src, v AS nbr FROM prs
            UNION ALL SELECT v, u FROM prs),
    reach(node, label) AS (
        SELECT src, src FROM sym
        UNION
        SELECT e.src, r.label FROM sym e JOIN reach r ON e.nbr = r.node
    ),
    lab AS (SELECT node, min(label) AS root FROM reach GROUP BY node)
    SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell,
           coalesce(l.root, f.vec_id) = f.vec_id AS kept,
           CASE WHEN coalesce(l.root, f.vec_id) = f.vec_id THEN CAST(-1 AS BIGINT)
                ELSE l.root END AS dup_of
    FROM fin f LEFT JOIN lab l ON l.node = f.vec_id
    """)
    return "".join(parts)


@query("dedup_semantic_cluster", oracle=_semc_oracle())
def dedup_semantic_cluster(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) at the SCALE
    geometry — √n Lloyd cells, so cell count GROWS with the corpus and
    the within-cell pair scan stays Σ|cell|² ≈ n^1.5 worst-case (~n
    balanced) — now hash-verified end-to-end (r11; was the last
    rows-only op with a known portable recipe). Division of labor
    with its sibling: dedup_semantic_exact pins K=8 as the
    verification twin; THIS op proves the same cross-engine
    discipline survives a data-dependent K, because the Lloyd oracle
    unroll is structurally K-independent (only the seed filter reads
    K = max(8, floor(sqrt(n))), computed identically by both engines
    from one exact count).

    r11 semantics change (greedy → components): the old per-cell
    greedy scan was ORDER-dependent (inherently sequential, not
    SQL-expressible); pruning now collapses each within-cell
    τ-connected component to its min-vec_id keeper — deterministic,
    order-independent, and the same verdict set a pipeline acts on.
    Cosines are left-folded dot/norm chains (the _semx precedent);
    components run through the measured small/wide regime switch of
    dedup_cluster_components (single-pass Arrow union-find vs
    large-star/small-star). Zero-norm embeddings are excluded up
    front on both engines (sum of squares > 0 is order-independent
    in float: all terms ≥ 0).

    Output: every nonzero vector with its cell, kept flag, and the
    keeper it duplicated (-1 if kept)."""
    from . import _util
    from ..functions.vectors import to_double
    from .vectors import lloyd_exact_assign

    t = Tables(spark, sf_dir)
    nz = t.embeddings.filter(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x),
            F.lit(0.0), lambda a, x: a + x,
        ) > 0
    )
    emb = nz.select("vec_id", to_double(F.col("embedding")).alias("x"))
    kdf = emb.agg(
        F.greatest(
            F.lit(8).cast("long"),
            F.expr("cast(floor(sqrt(count(*))) as long)"),
        ).alias("kk")
    )
    cent = (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("kk"))
        .select(F.col("vec_id").alias("cl"), F.col("x").alias("cent"))
    )
    fin = lloyd_exact_assign(
        emb,
        cent,
        SEMC_ROUNDS,
        SEMC_DIST_SCALE,
        SEMC_PACK_MOD,
        # single-task init twin of the kdf/cent build above: the rows
        # with vec_id < max(8, floor(sqrt(n))) over the SAME nz-
        # filtered table the wide path counts
        small=(
            ("semc", sf_dir),
            lambda n: max(8, int(math.floor(math.sqrt(n)))),
        ),
    ).select("vec_id", (F.col("packed") % SEMC_PACK_MOD).alias("cell"))

    def fold(pairs):
        return F.aggregate(pairs, F.lit(0.0), lambda acc, v: acc + v)

    # per-vector norms once (the dedup_semantic_exact trick: sqrt of
    # the same left fold is the same double, so the oracle's inlined
    # per-pair norm chains still match)
    side = fin.join(emb, "vec_id").withColumn(
        "nrm", F.sqrt(fold(F.zip_with("x", "x", lambda p, q: p * q)))
    )
    a, b = side.alias("a"), side.alias("b")
    cos = fold(F.zip_with("a.x", "b.x", lambda p, q: p * q)) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    prs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos > SEMC_TAU)
        .select(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"))
    )
    edges, n_edges = compact_iter_state(
        prs.union(prs.select("v", "u")).toDF("src", "nbr"),
        cache_key=("dedup_semantic_cluster", sf_dir),
    )
    if n_edges <= _util.SMALL_ITER_STATE_MAX_ROWS:
        labels = _cc_union_find(edges)
    else:
        labels = cc_large_small_star(edges)
    root = F.coalesce(F.col("label"), F.col("vec_id"))
    return (
        fin.join(labels, fin.vec_id == labels.node, "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            (root == F.col("vec_id")).alias("kept"),
            F.when(root == F.col("vec_id"), F.lit(-1).cast("long"))
            .otherwise(F.col("label"))
            .alias("dup_of"),
        )
    )


@query(
    "dedup_canonical_url",
    oracle="""
    WITH truth AS (
        SELECT doc_id,
               'https://www.example.com/docs/'
                   || CAST(doc_id // 4 AS VARCHAR)
                   || CASE WHEN doc_id % 4 = 3 THEN '?ref=home'
                           ELSE '' END AS canonical
        FROM documents
    )
    SELECT canonical, count(*) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM truth GROUP BY canonical
    """,
)
def dedup_canonical_url(spark, sf_dir):
    """URL canonicalization ahead of dedup — the web-curation step
    that collapses scheme/case/trailing-slash/tracking-parameter
    variants of one page: four messy variants per page (http vs
    https, uppercased host, trailing slash, utm_* tracking params,
    one genuine ?ref param that must SURVIVE) are synthesized, then
    normalized with a regex pipeline (lowercase → https → strip
    utm_* → collapse '/?' → strip trailing slash) and grouped.

    The oracle is INDEPENDENT ground truth built from the page key —
    not a re-run of the regexes — so a canonicalization bug (eating
    the ref param, missing a trailing slash) breaks the hash, not
    just changes both sides. Map-only until the canonical-key
    aggregate; at web scale this replaces a raw-URL dedup that would
    miss ~¾ of these duplicates."""
    t = Tables(spark, sf_dir)
    m = F.col("doc_id") % 4
    page = F.expr("CAST(doc_id div 4 AS STRING)")
    messy = (
        F.when(
            m == 1,
            F.concat(
                F.lit("HTTP://WWW.EXAMPLE.COM/docs/"), page, F.lit("/")
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://www.example.com/docs/"),
                page,
                F.lit("?utm_source=feed&utm_campaign=x"),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("https://www.example.com/docs/"),
                page,
                F.lit("/?ref=home&utm_medium=em"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://www.example.com/docs/"), page)
        )
    )
    u = F.lower(messy)
    u = F.regexp_replace(u, "^http://", "https://")
    u = F.regexp_replace(u, "utm_[^&]*&", "")
    u = F.regexp_replace(u, "[?&]utm_[^&]*$", "")
    u = F.regexp_replace(u, "/\\?", "?")
    u = F.regexp_replace(u, "/$", "")
    return (
        t.documents.select("doc_id", u.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("keep_doc"),
        )
    )


SUBSTR_K = 8  # exact-match window length in tokens (Lee et al. use 50
# BPE tokens on web corpora; 8 word tokens keeps the check non-vacuous
# on this corpus's 10-99-token documents)


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(tk[i : i + {SUBSTR_K - 1}], ' ')) AS gh
        FROM w, LATERAL (SELECT unnest(generate_series(
                 1, len(tk) - {SUBSTR_K - 1})) AS i) s
    ),
    df AS (SELECT gh, count(*) AS n_docs FROM g GROUP BY gh)
    SELECT g.doc_id,
           count(*) AS n_windows,
           count(CASE WHEN df.n_docs > 1 THEN 1 END) AS n_shared,
           floor(CAST(count(CASE WHEN df.n_docs > 1 THEN 1 END) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000.0 AS shared_frac
    FROM g JOIN df USING (gh)
    GROUP BY g.doc_id
    """,
)
def dedup_exact_substring(spark, sf_dir):
    """Exact-substring contamination scan (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the ExactSubstr pass): every sliding K-token
    window is hashed, and a document is scored by the fraction of its
    distinct windows that also occur verbatim in some OTHER document —
    the doc-level summary a trim/drop policy consumes (the disjoint-
    window sibling dedup_paragraph_exact canonicalizes passages;
    this one measures cross-document verbatim overlap).

    The K-gram array is built in log2(K) linear zip_with passes over
    token-slice pairs (1→2→4→8 tokens), NEVER via per-element
    element_at over a computed array — the CollapseProject re-inline
    trap documented in SCALE.md; each pass doubles the window using
    two slices of the PREVIOUS pass's named column. Windows shuffle as
    8-byte xxhash64 longs, never as text (r13: was 32-char md5 hex —
    the hash is INTERNAL, any injective hash yields the same
    window/df counts, so the oracle keeps md5 and the output still
    hash-matches; measured ~1.2-1.5x on the two gram shuffles at
    sf0.1): the gram table groupBys on the hash
    (same shape as dedup_exact_hash), document-frequency is a second
    hash aggregate, and the join back to per-doc windows carries
    (hash, count) only. At 100 TB this is the suffix-array-free
    formulation: Σ doc_len gram rows, two hash shuffles, no sort."""
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("tk"),
    ).localCheckpoint()  # one tokenization; g2/g4/g8 each read it twice
    n = F.size("tk")
    # doubling passes: g2[i] = tk[i]+tk[i+1]; g4[i] = g2[i]+g2[i+2];
    # g8[i] = g4[i]+g4[i+4] — every slice length is max(n-k+1, 0)
    d2 = d.select(
        "doc_id",
        F.zip_with(
            F.slice("tk", 1, F.greatest(n - 1, F.lit(0))),
            F.slice("tk", 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ).alias("g2"),
    )
    n2 = F.size("g2")
    d4 = d2.select(
        "doc_id",
        F.zip_with(
            F.slice("g2", 1, F.greatest(n2 - 2, F.lit(0))),
            F.slice("g2", 3, F.greatest(n2 - 2, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ).alias("g4"),
    )
    n4 = F.size("g4")
    # r16: repartition by gh BEFORE the per-doc distinct — hash(gh)
    # satisfies the (gh, doc_id) clustering, so the distinct AND the
    # document-frequency count window both ride this single exchange.
    # The old df_ self-aggregate + join consumed `g` twice (the gram
    # lineage ran twice above the checkpoint); one lineage with 2
    # exchanges replaces 3 exchanges + a join (measured 1.44x at
    # sf0.1; guide §2.4).
    g = (
        d4.select(
            "doc_id",
            F.explode_outer(
                F.zip_with(
                    F.slice("g4", 1, F.greatest(n4 - 4, F.lit(0))),
                    F.slice("g4", 5, F.greatest(n4 - 4, F.lit(0))),
                    lambda a, b: F.xxhash64(F.concat_ws(" ", a, b)),
                )
            ).alias("gh"),
        )
        .filter(F.col("gh").isNotNull())
        .repartition("gh")
        .distinct()
    )
    ranked = g.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gh"))
    )
    shared = F.count(F.when(F.col("n_docs") > 1, F.lit(1)))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        shared.alias("n_shared"),
        (
            F.floor(shared.cast("double") / F.count(F.lit(1)) * 10000 + 0.5)
            / 10000.0
        ).alias("shared_frac"),
    )


@query(
    "dedup_canonical_mapping",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS th FROM documents),
    k AS (SELECT th, min(doc_id) AS keep_id, count(*) AS n_copies
          FROM h GROUP BY th)
    SELECT h.doc_id, k.keep_id, h.doc_id <> k.keep_id AS is_dup,
           k.n_copies
    FROM h JOIN k USING (th)
    """,
)
def dedup_canonical_mapping(spark, sf_dir):
    """The actionable form of exact dedup: a full doc_id → keeper
    mapping (smallest doc_id per content hash wins) with an is_dup
    flag — what a downstream filter or redirect table actually
    consumes, where dedup_exact_hash reports the group census.

    Shuffle discipline: documents travel as (doc_id, 16-byte md5)
    projections; the group table is |distinct contents| rows and joins
    back on the hash — with AQE this becomes a broadcast when the
    distinct side is small, and a plain hash join keyed by md5 (no
    skew: hashes are uniform) when it is not."""
    t = Tables(spark, sf_dir)
    h = t.documents.select("doc_id", F.md5("text").alias("th"))
    k = h.groupBy("th").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return h.join(k, "th").select(
        "doc_id",
        "keep_id",
        (F.col("doc_id") != F.col("keep_id")).alias("is_dup"),
        "n_copies",
    )


@query(
    "dedup_rate_by_source",
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           floor((count(*) - count(DISTINCT md5(text)))
                 * 10000.0 / count(*) + 0.5) / 10000.0 AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dedup_rate_by_source(spark, sf_dir):
    """Duplicate-rate scorecard per ingestion source — the triage view
    that decides WHERE dedup effort goes (a crawl source at 40 %
    exact-dup rate gets a pipeline fix; 2 % is background noise).

    count(DISTINCT md5) partial-aggregates per source; the shuffle
    carries (source, hash) pairs — never text. The rate divides two
    exact counts (one IEEE multiply+divide, identical both engines)
    before fixed-point presentation."""
    t = Tables(spark, sf_dir)
    dup = F.count(F.lit(1)) - F.countDistinct(F.md5("text"))
    return t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (
            F.floor(dup * 10000.0 / F.count(F.lit(1)) + 0.5) / 10000.0
        ).alias("dup_rate"),
    )


MHP_FAMS, MHP_BANDS, MHP_ROWS = 8, 4, 2  # 8 minhashes = 4 bands x 2 rows
#: affine minhash families over a <2^30 prime: fam_i(h) =
#: (A_i·(h mod P) + B_i) mod P.  All operands stay below 2^60, so the
#: arithmetic is exact ANSI int64 in BOTH engines — one md5 per
#: shingle total, instead of one PER FAMILY (was ~9 md5/shingle; the
#: md5 chain dominated this census's slowest query at 5.4 s/sf0.1).
#: 30-bit families collide ~2e-4 per shingle-pair per family — noise
#: for minhash ranking, and the oracle replays the identical mixing.
MHP_P = 1073741789  # largest prime < 2^30
MHP_A = [(2 * i + 1) * 48271 % MHP_P for i in range(MHP_FAMS)]
MHP_B = [(i * 2654435761 + 1) % MHP_P for i in range(MHP_FAMS)]


def _phash(col):
    """Portable 60-bit hash (see CLAUDE.md): conv(md5-prefix) — bit-
    identical to DuckDB ('0x'||substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


@query(
    "dedup_incremental_embedding",
    oracle=f"""
    WITH spl AS (SELECT (4 * max(vec_id)) // 5 AS v FROM embeddings)
    SELECT n.vec_id AS new_id, c.vec_id AS dup_of,
           floor(list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[]))
                 * 10000 + 0.5) / 10000.0 AS sim
    FROM embeddings n JOIN embeddings c ON n.label = c.label, spl
    WHERE n.vec_id >= spl.v AND c.vec_id < spl.v
      AND list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
                                 CAST(c.embedding AS DOUBLE[]))
          >= {COSINE_THRESHOLD}
    """,
)
def dedup_incremental_embedding(spark, sf_dir):
    """Semantic ingest probe — the embedding-space member of the
    incremental family: every new vector (top 20% of vec_ids, exact
    integer split) is scored against the already-ingested corpus
    WITHIN ITS LABEL BLOCK, emitting (new_id, dup_of, sim) for
    cosine ≥ threshold. Completes the ingest story: exact hash →
    MinHash LSH → embedding cosine, all probing a persistent index
    instead of recomputing the corpus self-join.

    Same TILED BLAS discipline as sim_pairs_threshold (r11: the r10
    verdict flagged the one-Arrow-group-per-label shape), but the
    tile grid is RECTANGULAR — new-chunk cn × corpus-chunk cc, both
    vec_id mod m — so per-ingest flops stay Σ|new|·|corpus| (linear
    in the batch at a fixed corpus), per-task memory is bounded by
    two tile sides, and parallelism is labels·m² instead of the
    label count. Sim is half-up fixed-point on both engines
    (np.round was half-to-even — r10 advice), and label-NULL rows
    are filtered up front to mirror the oracle's equi-join NULL
    semantics. The split scalar rides in as a broadcast column."""
    from .llm import _pair_tile_fanout

    t = Tables(spark, sf_dir)
    threshold = COSINE_THRESHOLD
    # split comes from the UNFILTERED table — the oracle's max(vec_id)
    # scans all rows, label-NULL or not
    split = t.embeddings.agg(
        F.expr("(4 * max(vec_id)) div 5").alias("v")
    )
    emb = t.embeddings.filter(F.col("label").isNotNull())
    m = _pair_tile_fanout(emb, cache_key=("emb_notnull", sf_dir))
    rng = F.array(*[F.lit(i) for i in range(m)])
    is_new = F.col("vec_id") >= F.col("v")
    e = (
        emb.select("vec_id", "label", "embedding")
        .crossJoin(F.broadcast(split))
        .withColumn("ch", (F.col("vec_id") % m).cast("int"))
        .withColumn("t", F.explode(rng))
        # a new row owns the cn slot (cc fans out), a corpus row owns
        # cc (cn fans out): every (new, corpus) pair meets in exactly
        # one (label, cn, cc) tile
        .withColumn("cn", F.when(is_new, F.col("ch")).otherwise(F.col("t")))
        .withColumn("cc", F.when(is_new, F.col("t")).otherwise(F.col("ch")))
        .drop("t")
    )

    def tile_probe(pdf):
        import numpy as np
        import pandas as pd

        v = pdf["v"].iloc[0]
        new = pdf[pdf["vec_id"] >= v]
        corp = pdf[pdf["vec_id"] < v]
        empty = pd.DataFrame(
            {"new_id": [], "dup_of": [], "sim": []}
        ).astype({"new_id": "int64", "dup_of": "int64", "sim": "float64"})
        if new.empty or corp.empty:
            return empty
        u = np.array(new["embedding"].tolist(), dtype=np.float64)
        c = np.array(corp["embedding"].tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            u = u / np.linalg.norm(u, axis=1, keepdims=True)
            c = c / np.linalg.norm(c, axis=1, keepdims=True)
        sims = u @ c.T
        ni, ci = np.nonzero(sims >= threshold)  # NaN compares False
        if not len(ni):
            return empty
        return pd.DataFrame(
            {
                "new_id": new["vec_id"].to_numpy()[ni],
                "dup_of": corp["vec_id"].to_numpy()[ci],
                "sim": np.floor(sims[ni, ci] * 1e4 + 0.5) / 1e4,
            }
        )

    return e.groupBy("label", "cn", "cc").applyInPandas(
        tile_probe, "new_id long, dup_of long, sim double"
    )


@query(
    "dedup_incremental_exact",
    oracle="""
    WITH spl AS (SELECT (4 * max(doc_id)) // 5 AS v FROM documents),
    h AS (
        SELECT doc_id, coalesce(md5(text), '') AS th FROM documents
    ),
    c AS (
        SELECT th, min(doc_id) AS dup_of, count(*) AS n_in_corpus
        FROM h, spl WHERE doc_id < spl.v GROUP BY th
    ),
    n AS (
        SELECT doc_id AS new_id, th FROM h, spl WHERE doc_id >= spl.v
    )
    SELECT new_id, dup_of IS NOT NULL AS is_dup, dup_of,
           CAST(coalesce(n_in_corpus, 0) AS BIGINT) AS n_in_corpus
    FROM n LEFT JOIN c USING (th)
    """,
)
def dedup_incremental_exact(spark, sf_dir):
    """Exact-dup ingest manifest — the most-run dedup query in any
    production pipeline: for EVERY doc in the new batch (top 20% of
    doc_ids, same exact integer split as dedup_incremental_minhash),
    is it a verbatim copy of something already ingested? Emits
    (new_id, is_dup, dup_of = the corpus group's canonical keeper or
    NULL, n_in_corpus). A left join, not a match-only filter — the
    downstream writer consumes the full batch manifest, and the
    match-only form would be vacuously empty on dup-free corpora.

    Scale shape: the corpus side reduces once to |distinct contents|
    rows of (16-byte md5, keeper, count) — at 100 TB a persistent
    append-only hash manifest — and the probe is one equi-join on a
    uniform hash key whose left side is batch-sized. NULL text
    coalesces to a sentinel group on both engines (same discipline as
    split_dedup_safe)."""
    t = Tables(spark, sf_dir)
    docs = t.documents
    split = docs.agg(F.expr("(4 * max(doc_id)) div 5").alias("v"))
    h = docs.select(
        "doc_id", F.coalesce(F.md5("text"), F.lit("")).alias("th")
    ).crossJoin(F.broadcast(split))
    corpus = (
        h.filter(F.col("doc_id") < F.col("v"))
        .groupBy("th")
        .agg(
            F.min("doc_id").alias("dup_of"),
            F.count(F.lit(1)).alias("n_in_corpus"),
        )
    )
    new = h.filter(F.col("doc_id") >= F.col("v")).select(
        F.col("doc_id").alias("new_id"), "th"
    )
    return new.join(corpus, "th", "left").select(
        "new_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
        F.coalesce("n_in_corpus", F.lit(0)).cast("bigint").alias(
            "n_in_corpus"
        ),
    )


# Shared by dedup_incremental_minhash and dedup_incremental_bucketed:
# the two Spark paths differ only in HOW the probe join executes
# (in-plan vs persisted bucketed index) — the result is identical.
_INC_MINHASH_ORACLE = f"""
    WITH spl AS (SELECT (4 * max(doc_id)) // 5 AS v FROM documents),
    w AS (
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
               min((CAST([{", ".join(str(a) for a in MHP_A)}]
                         AS BIGINT[])[i.i + 1]
                    * (h % {MHP_P})
                    + CAST([{", ".join(str(b) for b in MHP_B)}]
                           AS BIGINT[])[i.i + 1])
                   % {MHP_P}) AS mh
        FROM hashes, (SELECT unnest(generate_series(0, {MHP_FAMS - 1}))
                      AS i) i
        GROUP BY doc_id, i.i
    ),
    bands AS (
        SELECT doc_id, b.b AS band,
               CAST(max(CASE WHEN fam = {MHP_ROWS} * b.b THEN mh END)
                    AS VARCHAR)
               || '-' ||
               CAST(max(CASE WHEN fam = {MHP_ROWS} * b.b + 1 THEN mh END)
                    AS VARCHAR) AS key
        FROM mh, (SELECT unnest(generate_series(0, {MHP_BANDS - 1}))
                  AS b) b
        WHERE fam IN ({MHP_ROWS} * b.b, {MHP_ROWS} * b.b + 1)
        GROUP BY doc_id, b.b
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of
        FROM bands n JOIN bands c
          ON n.band = c.band AND n.key = c.key, spl
        WHERE n.doc_id >= spl.v AND c.doc_id < spl.v
    ),
    sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM hashes
             GROUP BY doc_id)
    SELECT new_id, dup_of,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
    FROM cand
    JOIN sets sa ON sa.doc_id = new_id
    JOIN sets sb ON sb.doc_id = dup_of
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
          >= {NGRAM_JACCARD_THRESHOLD}
    """


@query("dedup_incremental_minhash", oracle=_INC_MINHASH_ORACLE)
def dedup_incremental_minhash(spark, sf_dir):
    """INCREMENTAL near-dup dedup — the daily-ingest shape: a new
    batch (the top 20% of doc_ids; the split is exact integer
    arithmetic so both engines cut identically) is probed against the
    already-ingested corpus WITHOUT recomputing the corpus self-join.
    Emits (new_id, dup_of, jaccard) for every batch doc that is a
    verified ≥0.8 near-duplicate of a corpus doc.

    This is the shape production pipelines actually run: the corpus
    band table is a PERSISTENT LSH INDEX (append-only parquet
    bucketed by (band, key) at 100 TB), so per-batch cost is
    signature computation over the batch + one equi-join probe whose
    left side is batch-sized — corpus-sized work happens once at
    index build, never per ingest. Fully engine-portable (same
    md5-conv + affine-family pipeline as dedup_minhash_portable via
    the shared _mhp_sig_bands), so candidate generation AND verify
    hash-match the oracle."""
    t = Tables(spark, sf_dir)
    docs = t.documents
    split = (
        docs.agg(
            F.expr("(4 * max(doc_id)) div 5").alias("v")
        )
    )
    sh, bands = _mhp_sig_bands(docs, fan_key=("documents", sf_dir))
    b = bands.crossJoin(F.broadcast(split))
    new_b = b.filter(F.col("doc_id") >= F.col("v")).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    corp_b = b.filter(F.col("doc_id") < F.col("v")).select(
        F.col("doc_id").alias("dup_of"), "band", "key"
    )
    cand = (
        new_b.join(corp_b, ["band", "key"])
        .select("new_id", "dup_of")
        .dropDuplicates()
    )
    inter = F.size(F.array_intersect("sa.s", "sb.s"))
    j = inter.cast("double") / (F.size("sa.s") + F.size("sb.s") - inter)
    return (
        cand.join(sh.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("dup_of") == F.col("sb.doc_id"))
        .withColumn("j", j)
        .filter(F.col("j") >= NGRAM_JACCARD_THRESHOLD)
        .select("new_id", "dup_of", r4(F.col("j")).alias("jaccard"))
    )


#: bucket count for the persisted LSH index exhibit (small at test SF;
#: at 100 TB this is sized so one bucket ≈ one executor-core's scan)
LSH_INDEX_BUCKETS = 8


def _bucketed_probe(spark, sf_dir, prefix="thrive_lsh"):
    """Build the incremental probe against a PERSISTED bucketed LSH
    index; returns (result_df, probe_join_df, cleanup_fn). The
    probe_join_df is the raw candidate join for plan inspection."""
    import os
    import shutil
    import tempfile

    t = Tables(spark, sf_dir)
    docs = t.documents
    split = docs.agg(F.expr("(4 * max(doc_id)) div 5").alias("v"))
    sh, bands = _mhp_sig_bands(docs, fan_key=("documents", sf_dir))
    b = bands.crossJoin(F.broadcast(split))
    new_b = b.filter(F.col("doc_id") >= F.col("v")).select(
        F.col("doc_id").alias("new_id"), "band", "key"
    )
    corp_b = b.filter(F.col("doc_id") < F.col("v")).select(
        F.col("doc_id").alias("dup_of"), "band", "key"
    )
    out = tempfile.mkdtemp(prefix=f"{prefix}_")
    # catalog names carry mkdtemp's unique suffix (alphanumeric, so a
    # valid identifier): two concurrent invocations in one session get
    # disjoint tables instead of clobbering each other's index (r10
    # advice); fixed names also leaked on a mid-build failure
    token = os.path.basename(out)[len(prefix) + 1 :]
    idx, new = f"{prefix}_idx_{token}", f"{prefix}_new_{token}"

    def cleanup():
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
        spark.sql(f"DROP TABLE IF EXISTS {new}")
        shutil.rmtree(out, ignore_errors=True)

    try:
        for name, side in ((idx, corp_b), (new, new_b)):
            (
                # repartition on the bucket key first: one file per
                # bucket (the bucketed.py small-file discipline)
                side.repartition(
                    LSH_INDEX_BUCKETS, F.col("band"), F.col("key")
                )
                .write.mode("overwrite")
                .option("path", f"{out}/{name}")
                .bucketBy(LSH_INDEX_BUCKETS, "band", "key")
                .sortBy("band", "key")
                .saveAsTable(name)
            )
    except BaseException:
        cleanup()
        raise
    # hint MERGE: at test scale the planner would broadcast the batch
    # side; the exhibit is the big-batch case where neither side fits
    probe = spark.table(new).hint("merge").join(
        spark.table(idx), ["band", "key"]
    )
    cand = probe.select("new_id", "dup_of").dropDuplicates()
    inter = F.size(F.array_intersect("sa.s", "sb.s"))
    j = inter.cast("double") / (F.size("sa.s") + F.size("sb.s") - inter)
    result = (
        cand.join(sh.alias("sa"), F.col("new_id") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("dup_of") == F.col("sb.doc_id"))
        .withColumn("j", j)
        .filter(F.col("j") >= NGRAM_JACCARD_THRESHOLD)
        .select("new_id", "dup_of", r4(F.col("j")).alias("jaccard"))
    )
    return result, probe, cleanup


@query("dedup_incremental_bucketed", oracle=_INC_MINHASH_ORACLE)
def dedup_incremental_bucketed(spark, sf_dir):
    """dedup_incremental_minhash's result, with the LSH index
    MATERIALIZED the way the docstring claims it works at 100 TB: the
    corpus band table persists bucketed+sorted by (band, key), the
    new batch's bands write into the same bucket layout, and the
    probe runs as a bucket-aligned SortMergeJoin with NO Exchange on
    either side (asserted in tests/test_plans.py). Per-ingest
    corpus-side cost is a bucket SCAN, not a shuffle — the index is
    append-only across ingests. Result is identical to the in-plan
    probe, so both share one oracle."""
    result, _probe, cleanup = _bucketed_probe(spark, sf_dir)
    try:
        return result.localCheckpoint()  # materialize before DROP TABLE
    finally:
        cleanup()


def _mhp_sig_bands(documents, checkpoint=True, carry_sets=False,
                   fan_key=None):
    """Shared engine-portable MinHash pipeline: documents → (sh, bands).

    ``sh`` is (doc_id, s: array<long>) of distinct md5-conv 60-bit
    3-shingle hashes (checkpointed — it feeds both the minhash pass
    and the exact-Jaccard verify); ``bands`` is the (doc_id, band,
    key) LSH bucket projection from the affine minhash families
    (MHP_A/MHP_B mod MHP_P — one md5 per shingle total). Used by the
    self-join dedup (dedup_minhash_portable) and the corpus-probe
    incremental dedup (dedup_incremental_minhash).

    ``checkpoint=False`` skips the localCheckpoint (required when
    ``documents`` is a STREAMING DataFrame — streaming/ops.py);
    ``carry_sets=True`` keeps the shingle-set column ``s`` on the band
    rows so a streaming caller can verify candidates without the
    stream-stream self-join Spark would reject. That widens each band
    row from 3 longs to 3 longs + |s| — only ever paid on the
    NEW-batch side of the incremental probe, never the corpus."""
    tk = F.filter(F.split("text", " "), lambda x: x != "")
    # fan_out: a single-split documents scan would serialize the
    # md5-per-shingle map through one core (r13; no-op on streaming
    # DFs and on inputs that already arrive in ≥cores splits)
    d = fan_out(
        documents.select("doc_id", "text"), cache_key=fan_key
    ).select("doc_id", tk.alias("tk"))
    n3 = F.greatest(F.size("tk") - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("tk", 1, n3),
            F.slice("tk", 2, n3),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice("tk", 3, n3),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    sh = d.select(
        "doc_id",
        F.array_distinct(F.transform(tri, _phash)).alias("s"),
    )
    if checkpoint:
        sh = sh.localCheckpoint()  # shingle hashing feeds minhash AND verify

    def _fam(i):
        # single-arg closure: a 2-param lambda (even with a default)
        # makes F.transform pass the ARRAY INDEX as the second arg —
        # the 2-arg lambda trap (memory: spark-duckdb-parity-pitfalls)
        a, b = F.lit(MHP_A[i]), F.lit(MHP_B[i])
        return lambda h: (a * (h % F.lit(MHP_P)) + b) % F.lit(MHP_P)

    mh_cols = [
        F.array_min(F.transform("s", _fam(i))).alias(f"mh{i}")
        for i in range(MHP_FAMS)
    ]
    # Docs with <3 tokens have an empty shingle set: every minhash is
    # NULL and concat_ws would collapse them all onto band key '' —
    # a quadratic candidate clique the oracle never generates (its
    # hashes CTE simply has no rows for them). Drop them before the
    # band explode so the Spark candidate set matches structurally,
    # not just after the jaccard filter (ADVICE r7).
    extra = ["s"] if carry_sets else []
    sig = sh.filter(F.size("s") > 0).select("doc_id", *extra, *mh_cols)
    # r16: every batch caller consumes `bands` twice (self-join sides
    # or the new/corpus filter split), so without a barrier the
    # affine-family transform over every shingle set runs twice. The
    # materialized table is docs x 16 longs (+ the shingle sets only
    # when carry_sets). Illegal on streaming DFs, hence the gate.
    if checkpoint:
        sig = sig.localCheckpoint(eager=False)
    bands = sig.select(
        "doc_id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            F.col(f"mh{MHP_ROWS * b}").cast("string"),
                            F.col(f"mh{MHP_ROWS * b + 1}").cast("string"),
                        ).alias("key"),
                    )
                    for b in range(MHP_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *extra, "bk.band", "bk.key")
    return sh, bands


@query(
    "dedup_minhash_portable",
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
               min((CAST([{", ".join(str(a) for a in MHP_A)}]
                         AS BIGINT[])[i.i + 1]
                    * (h % {MHP_P})
                    + CAST([{", ".join(str(b) for b in MHP_B)}]
                           AS BIGINT[])[i.i + 1])
                   % {MHP_P}) AS mh
        FROM hashes, (SELECT unnest(generate_series(0, {MHP_FAMS - 1}))
                      AS i) i
        GROUP BY doc_id, i.i
    ),
    bands AS (
        SELECT doc_id, b.b AS band,
               CAST(max(CASE WHEN fam = {MHP_ROWS} * b.b THEN mh END)
                    AS VARCHAR)
               || '-' ||
               CAST(max(CASE WHEN fam = {MHP_ROWS} * b.b + 1 THEN mh END)
                    AS VARCHAR) AS key
        FROM mh, (SELECT unnest(generate_series(0, {MHP_BANDS - 1}))
                  AS b) b
        WHERE fam IN ({MHP_ROWS} * b.b, {MHP_ROWS} * b.b + 1)
        GROUP BY doc_id, b.b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS keep_id, b.doc_id AS dup_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM hashes
             GROUP BY doc_id)
    SELECT keep_id, dup_id,
           round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                 / (len(sa.s) + len(sb.s)
                    - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
    FROM cand
    JOIN sets sa ON sa.doc_id = keep_id
    JOIN sets sb ON sb.doc_id = dup_id
    WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
          >= {NGRAM_JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_portable(spark, sf_dir):
    """MinHash-LSH near-dup dedup with ENGINE-PORTABLE hashes — the
    same shingle → minhash → band-bucket → verify pipeline as
    dedup_fuzzy_minhash, but every hash is the md5-conv 60-bit family
    (CLAUDE.md), so the ENTIRE pipeline — candidate generation
    included — hash-matches a DuckDB oracle. The xxhash64/Arrow
    sibling stays the fast path (md5 costs ~3× per hash); this
    variant is the cross-engine-auditable one, and the first where
    the LSH bucketing itself (not just the verified output) is
    oracle-pinned.

    Scale shape is identical to the sibling: shingle sets stay in the
    ARRAY domain per row (zip_with 3-gram build, no explode before
    the band projection); the band join shuffles (doc_id, band, key)
    only; hashed-shingle sets travel only for banded candidates."""
    sh, bands = _mhp_sig_bands(
        Tables(spark, sf_dir).documents, fan_key=("documents", sf_dir)
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("keep_id"),
            F.col("b.doc_id").alias("dup_id"),
        )
        .dropDuplicates()
    )
    inter = F.size(F.array_intersect("sa.s", "sb.s"))
    j = inter.cast("double") / (
        F.size("sa.s") + F.size("sb.s") - inter
    )
    return (
        cand.join(sh.alias("sa"), F.col("keep_id") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("dup_id") == F.col("sb.doc_id"))
        .withColumn("j", j)
        .filter(F.col("j") >= NGRAM_JACCARD_THRESHOLD)
        .select("keep_id", "dup_id", r4(F.col("j")).alias("jaccard"))
    )
