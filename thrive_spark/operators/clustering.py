"""Distributed topic clustering over the embedding corpus (task
brief: LLM-data-pipeline family — corpus bucketing / domain discovery
before mixture balancing).

Spherical k-means with Lloyd iterations driven from the driver:
centroids are K×dim floats (bounded metadata, like the IVF coarse
quantizer in ivf.py), everything per-row is a vectorized Arrow pass,
and the per-iteration reduction is `groupBy(cell)` over *per-batch
partial sums* — each Arrow batch emits at most K rows (cell, Σvec, n),
so the shuffle per iteration carries O(K·batches) tiny rows no matter
the corpus size.  This is the canonical scale shape for iterative
refinement on Spark: state that fits the driver stays on the driver;
state proportional to the data never leaves the executors un-reduced.

Determinism: seeds are the first K unit vectors in vec_id order (the
same deterministic-sample trick as ivf.py:35), a fixed 3 Lloyd
iterations, and argmax tie-break by lowest cell index — identical
output on every run, no RNG.  Registered rows-only (iterative
refinement is not DuckDB-SQL-expressible); quality is gated in
tests/test_clustering.py (partition completeness + monotone inertia).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables
from ._util import measured

K = 8
ITERS = 3


def _seed_centroids(t):
    """First K of a 256-row deterministic sample, unit-normalized."""
    import numpy as np

    sample = t.embeddings.orderBy("vec_id").limit(256).toPandas()["embedding"]
    x = np.array(sample.tolist(), dtype=np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    x = x[nrm[:, 0] > 0] / nrm[nrm[:, 0] > 0]  # zero vectors can't seed
    return x[:K].copy()


#: above this partition count the per-iteration reduction goes through
#: a groupBy shuffle instead of a driver collect (K × partitions rows
#: stop being "bounded metadata" somewhere around here)
_DRIVER_REDUCE_MAX_PARTITIONS = 1024


def _lloyd(t, cents, iters=ITERS):
    """Run Lloyd iterations; returns the final centroid matrix.

    Each task accumulates its whole partition into ≤K (cell, Σvec, n)
    rows before emitting — so the reduction input is K × partitions
    rows regardless of corpus size. Below
    ``_DRIVER_REDUCE_MAX_PARTITIONS`` those rows collect straight to
    the driver and reduce in numpy (no shuffle, no wide agg — measured
    1.8× faster per iteration at sf0.1); above it, the same rows go
    through a groupBy(cell) shuffle and a per-dim JVM aggregate, which
    stays O(K) to the driver at any partition count.
    """
    import numpy as np

    dim = cents.shape[1]
    emb = t.embeddings.select("embedding")
    small = emb.rdd.getNumPartitions() <= _DRIVER_REDUCE_MAX_PARTITIONS

    for _ in range(iters):
        c = cents.copy()  # rebind per iteration for closure capture

        def partials(batches, c=c):
            import pandas as pd

            acc = np.zeros((c.shape[0], c.shape[1]))
            cnt = np.zeros(c.shape[0], dtype=np.int64)
            for pdf in batches:
                m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                m = m[nrm[:, 0] > 0] / nrm[nrm[:, 0] > 0]
                if not len(m):  # zero-norm rows have no direction:
                    continue    # one NaN here would poison a centroid
                cell = (m @ c.T).argmax(axis=1)
                np.add.at(acc, cell, m)
                np.add.at(cnt, cell, 1)
            rows = [
                (int(j), acc[j].tolist(), int(cnt[j]))
                for j in np.nonzero(cnt)[0]
            ]
            yield pd.DataFrame(rows, columns=["cell", "psum", "n"])

        mapped = emb.mapInPandas(
            partials, "cell long, psum array<double>, n long"
        )
        if small:
            # ≤ K × partitions tiny rows: skip the shuffle entirely
            acc = np.zeros((cents.shape[0], dim))
            for r in mapped.collect():
                acc[r["cell"]] += np.asarray(r["psum"])
            it = ((j, acc[j]) for j in range(cents.shape[0]))
        else:
            sums = (
                mapped.groupBy("cell")
                .agg(
                    F.sum("n").alias("n"),
                    *[
                        F.sum(F.col("psum")[i]).alias(f"s{i}")
                        for i in range(dim)
                    ],
                )
                .collect()  # K rows — bounded driver metadata
            )
            it = (
                (
                    row["cell"],
                    np.array(
                        [row[f"s{i}"] for i in range(dim)], dtype=np.float64
                    ),
                )
                for row in sums
            )
        for cell, vec in it:
            nrm = float(np.linalg.norm(vec))
            if nrm > 0:
                cents[cell] = vec / nrm
    return cents


#: below this row count the whole pipeline (seed + Lloyd + assign)
#: runs in ONE Arrow task — ≤100k × ≤256-dim doubles is ≤200 MB of
#: task memory, and the multi-job ladder (1 seed collect + ITERS
#: mapInPandas/collect rounds + the assign pass) pays ~5 sequential
#: fixed job costs for work one task finishes in milliseconds (the
#: graph_pagerank r16 precedent). Above it, the wide path keeps the
#: per-partition partial-sum reduction that never materializes the
#: corpus anywhere.
_KMEANS_SINGLE_TASK_MAX_ROWS = 100_000


def _kmeans_single_task(t):
    """(vec_id, cluster_id, sim_fp) via ONE Arrow task: seed + Lloyd +
    assign replicate the wide path's numpy ops in the SAME order, so
    the output is bit-identical to `_lloyd` + `assign` when the input
    fits one partition (tests/test_clustering.py asserts equality)."""
    import numpy as np

    k, iters = K, ITERS

    def run(batches):
        import pandas as pd

        frames = [b for b in batches]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if not len(pdf):
            return
        vid = pdf["vec_id"].to_numpy()
        m_all = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        # seeds: first K unit vectors among the first 256 by vec_id —
        # same values as _seed_centroids' orderBy(vec_id).limit(256)
        order = np.argsort(vid, kind="stable")
        samp = m_all[order[:256]]
        snrm = np.linalg.norm(samp, axis=1, keepdims=True)
        samp = samp[snrm[:, 0] > 0] / snrm[snrm[:, 0] > 0]
        cents = samp[:k].copy()
        # Lloyd: identical per-row ops to _lloyd's partials + the
        # driver re-center (np.add.at is element-sequential, so one
        # call over the whole partition == the per-batch accumulation)
        nrm = np.linalg.norm(m_all, axis=1, keepdims=True)
        m = m_all[nrm[:, 0] > 0] / nrm[nrm[:, 0] > 0]
        if len(m):
            for _ in range(iters):
                cell = (m @ cents.T).argmax(axis=1)
                acc = np.zeros_like(cents)
                np.add.at(acc, cell, m)
                for j in range(cents.shape[0]):
                    cn = float(np.linalg.norm(acc[j]))
                    if cn > 0:
                        cents[j] = acc[j] / cn
        # assignment: verbatim `assign` body
        ok = nrm[:, 0] > 0
        mm = np.where(
            ok[:, None], m_all / np.where(ok[:, None], nrm, 1.0), 0.0
        )
        sims = mm @ cents.T
        cell = sims.argmax(axis=1)
        best = sims[np.arange(len(mm)), cell]
        yield pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster_id": np.where(ok, cell, -1).astype("int64"),
                "sim_fp": np.where(
                    ok, np.floor(best * 10000 + 0.5), 0.0
                ).astype("int64"),
            }
        )

    return (
        t.embeddings.select("vec_id", "embedding")
        .coalesce(1)
        .mapInPandas(run, "vec_id long, cluster_id long, sim_fp long")
    )


@query("cluster_topics_kmeans")  # rows-only: iterative refinement
def cluster_topics_kmeans(spark, sf_dir):
    """K=8 spherical k-means over `embeddings`; per-cluster summary.

    Output: cluster_id, n_members, inertia_fp (Σ(1−cos) in 1e-4 fixed
    point — exact integer agg, order-insensitive), exemplar_min_id."""
    import numpy as np

    t = Tables(spark, sf_dir)
    n = measured("embeddings_rows", sf_dir, lambda: t.embeddings.count())
    if n <= _KMEANS_SINGLE_TASK_MAX_ROWS:
        assigned = _kmeans_single_task(t)
        return (
            assigned.groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.sum(F.lit(10000) - F.col("sim_fp")).alias("inertia_fp"),
                F.min("vec_id").alias("exemplar_min_id"),
            )
            .orderBy("cluster_id")
        )
    cents = _lloyd(t, _seed_centroids(t))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(m, axis=1, keepdims=True)
            ok = nrm[:, 0] > 0
            m = np.where(ok[:, None], m / np.where(ok[:, None], nrm, 1.0), 0.0)
            sims = m @ cents.T
            cell = sims.argmax(axis=1)
            best = sims[np.arange(len(m)), cell]
            # zero-norm vectors have no direction: cluster -1, sim 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": np.where(ok, cell, -1).astype("int64"),
                    "sim_fp": np.where(
                        ok, np.floor(best * 10000 + 0.5), 0.0
                    ).astype("int64"),
                }
            )

    assigned = t.embeddings.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, cluster_id long, sim_fp long"
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.lit(10000) - F.col("sim_fp")).alias("inertia_fp"),
            F.min("vec_id").alias("exemplar_min_id"),
        )
        .orderBy("cluster_id")
    )
