"""Digest-keyed IVF ANN index artifact (r14, r13 verdict task 8).

The ANN ladder (operators/similarity.py) trains its k-means/IVF
structures IN-PLAN, which is self-contained and oracle-checkable but
re-pays centroid training + cell assignment in every session that
retrieves. This store lands the trained structure bronze — exactly the
multi-session pattern the minhash dedup index established
(sinks/index_store.py), under the sinks/artifacts.py contract: the
artifact is keyed by an order-independent content digest of the exact
(id, vector) corpus it was built from plus its build parameters, and a
digest/parameter mismatch means rebuild, never silent reuse.

Layout under one artifact root::

    <root>/centroids/   parquet (cell_id, centv)        # dim-sized
    <root>/assign/      parquet (neighbor_id, cell_id, cv, cn),
                        repartitioned BY cell_id — the inverted lists,
                        co-located so a probe equi-join on cell_id
                        reads only its probed buckets
    <root>/_META.json   {kind: "ivf", digest, n_vecs, vec_col,
                         id_col, n_cells, iters, drift stats, format}

At 100 TB the assign table is the big artifact (|corpus| rows of
vector + norm); it is written once per corpus digest and every
retrieval session serves from it with zero training shuffles —
serve-vs-retrain numbers in PLANS.md r14/r15. New batches FOLD in
without a retrain or base re-read (``fold_ivf_index``, r15 — the
standard IVF insert: assign against the stored centroids, append to
the inverted lists, merge the digest); centroid staleness under
distribution drift is the documented tradeoff, fixed by a periodic
full rebuild.

Float determinism note: centroids come from the same deterministic
Lloyd chain the in-plan queries run (seeded from the first n_cells
vectors by id), but double summation order inside F.avg is
partitioning-dependent, so an artifact's centroids can differ from an
in-session retrain in the last ulp and flip a cell assignment at an
exact tie. The driver-facing oracle queries therefore run IN-PLAN by
default (no env var set), and the artifact path is the opt-in
production serve — the doc_pagerank / SC_SPARK_INDEX_DIR doctrine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifacts


def write_ivf_index(df: DataFrame, out: str, vec_col: str, id_col: str,
                    n_cells: int = 8, iters: int = 2) -> dict:
    """Train the IVF structure for ``df`` and land it at ``out``.

    Centroids are Lloyd-trained (operators/similarity.
    ivf_train_centroids — the deterministic seeded chain the in-plan
    queries share), and the assignment pass reads the STORED centroids
    so the landed inverted lists are exactly consistent with the
    landed centroids."""
    artifacts.begin(out)
    return _land_ivf(df, out, vec_col, id_col, n_cells, iters,
                     artifacts.corpus_digest(df, vec_col, id_col))


def _land_ivf(df: DataFrame, out: str, vec_col: str, id_col: str,
              n_cells: int, iters: int, digest: str) -> dict:
    """write_ivf_index's build after ``artifacts.begin``, committed
    under ``digest``."""
    from ..operators.similarity import (
        as_double, ivf_assign, ivf_train_centroids, norm)

    meta = {
        "digest": digest, "kind": "ivf",
        "vec_col": vec_col, "id_col": id_col,
        "n_cells": n_cells, "iters": iters,
        "n_vecs": df.count(),
    }
    spark = df.sparkSession
    cents = ivf_train_centroids(df, vec_col, id_col,
                                n_cells=n_cells, iters=iters)
    cents.write.mode("overwrite").parquet(os.path.join(out, "centroids"))

    cents_stored = spark.read.parquet(os.path.join(out, "centroids"))
    c = df.select(F.col(id_col).alias("neighbor_id"),
                  as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", norm(F.col("cv")))
    assigned = ivf_assign(c, cents_stored, "cv", "centv")
    # cell-clustered inverted lists: probes equi-join on cell_id and
    # touch only their buckets' files
    assigned.repartition("cell_id").write.mode("overwrite").parquet(
        os.path.join(out, "assign"))

    # build-time health baseline (one scan of the landed assign) —
    # the fold path compares its post-fold stats against these
    meta |= _drift_stats(
        spark.read.parquet(os.path.join(out, "assign")), cents_stored)
    return artifacts.commit(out, meta)


def _drift_stats(assigned: DataFrame, cents: DataFrame) -> dict:
    """Index-health stats over an assign table (r16, r15 verdict
    task 7 — the trip-wire for the fold path's documented centroid
    staleness): ``occupancy_imbalance`` = max/mean inverted-list size
    (1.0 = perfectly balanced; a drifting distribution piles new
    vectors into few cells, degrading probe pruning), and
    ``mean_cos_dist`` = mean (1 - cos(v, centroid)) — rises as
    vectors land farther from the centroids that never move under
    folds. One broadcast-join scan of the assign table; recorded in
    _META.json by both the builder (the baseline) and the fold (the
    current health), so `annindex --fold` can warn on the delta."""
    from ..functions.scalars import dround
    from ..operators.similarity import dot, norm

    cn = cents.select("cell_id", F.col("centv").alias("_ctv")) \
              .withColumn("_ctn", norm(F.col("_ctv")))
    joined = assigned.join(F.broadcast(cn), "cell_id")
    row = (joined
           .withColumn("_cd", F.lit(1.0) - dot(F.col("cv"), F.col("_ctv"))
                       / (F.col("cn") * F.col("_ctn")))
           .groupBy("cell_id")
           .agg(F.count("*").alias("_n"), F.sum("_cd").alias("_sd"))
           .agg((F.max("_n") / F.avg("_n")).alias("imb"),
                (F.sum("_sd") / F.sum("_n")).alias("mcd"))
           .select(dround(F.col("imb"), 4).alias("imb"),
                   dround(F.col("mcd"), 6).alias("mcd"))
           .first())
    return {"occupancy_imbalance": row["imb"],
            "mean_cos_dist": row["mcd"]}


def fold_ivf_index(spark: SparkSession, base_dir: str,
                   batch: DataFrame, out: str) -> dict:
    """Fold a new vector batch into a landed IVF artifact — the
    standard production IVF insert (r15): assign the batch against
    the STORED centroids (deterministic dot-product argmax — no
    retrain, no base re-read) and append to the inverted lists,
    producing a NEW artifact at ``out`` keyed by the merged union
    digest. The folded inverted lists are BIT-EQUAL to assigning the
    union corpus against the base centroids (pinned in tests), so
    probes over the folded artifact are exact with respect to those
    centroids.

    The documented tradeoff is centroid STALENESS, not correctness:
    inserts never move centroids, so cell balance degrades as the
    distribution drifts — the periodic fix is a full rebuild
    (write_ivf_index), exactly how production IVF systems cycle
    their indexes. Batch ids must be disjoint from the base corpus.
    ``out`` must be a new directory."""
    from ..operators.similarity import as_double, ivf_assign, norm

    meta = artifacts.base_meta(base_dir, "ivf")
    artifacts.begin(out, base_dir)
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    batch_digest = artifacts.corpus_digest(batch, vec_col, id_col)
    cents, base_assigned = load_ivf_index(spark, base_dir)
    c = batch.select(F.col(id_col).alias("neighbor_id"),
                     as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", norm(F.col("cv")))
    new_assigned = ivf_assign(c, cents, "cv", "centv")
    cents.write.mode("overwrite").parquet(
        os.path.join(out, "centroids"))
    (base_assigned.unionByName(new_assigned)
     .repartition("cell_id")
     .write.mode("overwrite").parquet(os.path.join(out, "assign")))
    folded = dict(meta,
                  digest=artifacts.merge_digests([meta["digest"],
                                                  batch_digest]),
                  n_vecs=meta["n_vecs"] + batch.count())
    # post-fold health over the FOLDED lists (r16 drift trip-wire):
    # baseline_* preserves the BUILD-time numbers the current stats
    # are judged against — a fold of a fold keeps the original
    # baseline; callers (cmd_ann_index_fold) warn when the fold
    # drifted past threshold and recommend a rebuild
    for k in ("occupancy_imbalance", "mean_cos_dist"):
        folded[f"baseline_{k}"] = meta.get(f"baseline_{k}", meta[k])
    folded |= _drift_stats(
        spark.read.parquet(os.path.join(out, "assign")),
        spark.read.parquet(os.path.join(out, "centroids")))
    return artifacts.commit(out, folded)


def rebuild_ivf_index(spark: SparkSession, base_dir: str,
                      batch: DataFrame, out: str,
                      union_digest: str) -> dict:
    """Full retrain over base-corpus ∪ batch at the base's stored
    spec — the documented fix for fold-induced centroid staleness
    (r17, closing the loop the r16 drift trip-wire opened). The base
    vectors come from its landed assign table (the inverted lists
    store the full as_double vectors), so no original lake re-read is
    needed; Lloyd retrains from scratch and the fresh build records a
    new drift baseline.

    ``union_digest`` (the fold's merge_digests result) is the one
    digest the rebuilt meta commits: the assign store holds
    as_double(vec), whose xxhash64 differs from the original float32
    lake's even though the VALUES are identical (exact widening), so
    the content-derived digest would spuriously mismatch consumers
    hashing the original corpus. The merged digest is the true union
    digest by construction."""
    from ..operators.similarity import as_double

    meta = artifacts.base_meta(base_dir, "ivf")
    artifacts.begin(out, base_dir)
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    _cents, base_assigned = load_ivf_index(spark, base_dir)
    union = (base_assigned
             .select(F.col("neighbor_id").alias(id_col),
                     F.col("cv").alias(vec_col))
             .unionByName(batch.select(
                 F.col(id_col),
                 as_double(F.col(vec_col)).alias(vec_col))))
    return _land_ivf(union, out, vec_col, id_col, meta["n_cells"],
                     meta["iters"], union_digest)


def load_ivf_index(spark: SparkSession,
                   out: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) — the landed IVF structure, in the shapes
    operators/similarity's probe tail consumes."""
    return (spark.read.parquet(os.path.join(out, "centroids")),
            spark.read.parquet(os.path.join(out, "assign")))


def cosine_topk_served(queries: DataFrame, spark: SparkSession,
                       out: str, vec_col: str, id_col: str,
                       k: int = 5, n_probe: int = 2) -> DataFrame:
    """IVF top-k served entirely FROM the landed artifact: zero
    training shuffles, zero corpus assignment pass — broadcast the
    dim-sized centroids, pick each query's n_probe cells, equi-join
    the stored inverted lists, rank exact cosine."""
    from ..operators.similarity import ivf_probe_topk

    cents, assigned = load_ivf_index(spark, out)
    return ivf_probe_topk(queries, cents, assigned, vec_col, id_col,
                          k=k, n_probe=n_probe)
