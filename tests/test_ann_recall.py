"""ANN quality gate: recall@5 of the approximate similarity tiers
(LSH, IVF) against the exact brute-force baseline on the embeddings
fixture. An approximate index that silently returns garbage would pass
row-count/schema checks — recall is the metric that grades it."""

from __future__ import annotations

from sc_crawler_spark.queries.pipeline import (
    embed_ann_ivf,
    embed_ann_ivf_pq,
    embed_ann_ivf_sq,
    embed_ann_lsh,
    embed_ann_pq,
    embed_ann_sq,
    embed_cosine_topk,
)

SF = "/root/testdata/sf0.01"


def _neighbors(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx: dict, exact: dict) -> float:
    per_q = [len(approx.get(q, set()) & nbrs) / len(nbrs)
             for q, nbrs in exact.items()]
    return sum(per_q) / len(per_q)


def test_ann_recall_at_5(spark):
    exact = _neighbors(embed_cosine_topk(spark, SF))
    assert exact and all(len(v) == 5 for v in exact.values())
    r_lsh = _recall(_neighbors(embed_ann_lsh(spark, SF)), exact)
    r_ivf = _recall(_neighbors(embed_ann_ivf(spark, SF)), exact)
    r_sq = _recall(_neighbors(embed_ann_sq(spark, SF)), exact)
    r_ivfsq = _recall(_neighbors(embed_ann_ivf_sq(spark, SF)), exact)
    # floors chosen below the measured values (documented in README) so
    # the gate catches regressions without flaking on fixture noise
    assert r_lsh >= 0.8, f"LSH recall@5 regressed: {r_lsh:.3f}"  # measured 0.88
    assert r_ivf >= 0.8, f"IVF recall@5 regressed: {r_ivf:.3f}"  # measured 0.82
    assert r_sq >= 0.9, f"SQ recall@5 regressed: {r_sq:.3f}"
    # composed IVF x SQ with Lloyd-trained cells: the scale path must
    # match trained-IVF recall at the same probe budget (measured 0.92)
    assert r_ivfsq >= 0.9, f"IVF-SQ recall@5 regressed: {r_ivfsq:.3f}"
    # PQ (4x16 subspaces, 16 cents, 5% shortlist re-rank): measured
    # 0.88 on this fixture — near-uniform embeddings are PQ's worst
    # case (no cluster structure), so the floor is set at 0.8
    r_pq = _recall(_neighbors(embed_ann_pq(spark, SF)), exact)
    assert r_pq >= 0.8, f"PQ recall@5 regressed: {r_pq:.3f}"
    # IVF x PQ with Lloyd-trained cells + RESIDUAL encoding (r8,
    # IVFADC): measured 0.90 at refine=10 / m=8 — raw encoding needed
    # refine=20 for 0.88, so residuals buy more recall from HALF the
    # shortlist (r8 verdict gate: >= 0.88 at the tighter refine)
    r_ivfpq = _recall(_neighbors(embed_ann_ivf_pq(spark, SF)), exact)
    assert r_ivfpq >= 0.88, f"IVF-PQ recall@5 regressed: {r_ivfpq:.3f}"
    print(f"recall@5 lsh={r_lsh:.3f} ivf={r_ivf:.3f} sq={r_sq:.3f} "
          f"ivf_sq={r_ivfsq:.3f} pq={r_pq:.3f} ivf_pq={r_ivfpq:.3f}")


def test_embed_near_dup_pair_recall(spark):
    """The LSH-bucketed near-dup tier must find every pair the exact
    all-pairs scan finds at the fixture threshold (14/14 measured)."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.dedup import embed_near_dup
    from sc_crawler_spark.tables import load

    emb = load(spark, SF, "embeddings")
    approx = {(r.id_a, r.id_b)
              for r in embed_near_dup(emb, "embedding", "vec_id",
                                      threshold=0.45).collect()}
    from sc_crawler_spark.functions.vectors import as_double, dot, norm
    v = emb.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
    v = v.withColumn("n", norm(F.col("v")))
    a = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
                 F.col("n").alias("na"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
                 F.col("n").alias("nb"))
    exact = {(r.id_a, r.id_b) for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cos", dot(F.col("va"), F.col("vb"))
                         / (F.col("na") * F.col("nb")))
             .filter(F.col("cos") >= 0.45).collect()}
    assert exact, "fixture has near-dup pairs at the test threshold"
    assert approx == exact  # full pair recall at fixture scale


def test_ivf_trained_centroids_recall(spark):
    """Lloyd-trained centroids must not regress recall vs the seeded
    first-N centroids (and typically improve it): same probe budget,
    better-balanced cells."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.similarity import (
        cosine_topk_ivf, ivf_train_centroids,
    )
    from sc_crawler_spark.tables import load

    emb = load(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _neighbors(embed_cosine_topk(spark, SF))

    cents = ivf_train_centroids(emb, "embedding", "vec_id",
                                n_cells=8, iters=2)
    assert cents.count() == 8               # no silent cell shrink
    r_seeded = _recall(_neighbors(cosine_topk_ivf(
        queries, emb, "embedding", "vec_id", k=5, n_cells=8,
        n_probe=3)), exact)
    r_trained = _recall(_neighbors(cosine_topk_ivf(
        queries, emb, "embedding", "vec_id", k=5, n_cells=8,
        n_probe=3, centroids=cents)), exact)
    print(f"ivf recall seeded={r_seeded:.3f} trained={r_trained:.3f}")
    assert r_trained >= r_seeded - 0.05     # never materially worse
    assert r_trained >= 0.8


def test_semantic_dedup_keeps_min_id_per_near_dup_set(spark):
    """r8 SemDeDup operator semantics on a constructed fixture: two
    identical vectors and one near-identical vector co-bucket (the
    centroid set contains their shared direction), the min id
    survives, and the orthogonal vector keeps regardless of bucket."""
    from sc_crawler_spark.operators.dedup import semantic_dedup
    from pyspark.sql import functions as F

    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 0.0, 0.0, 0.0]),      # exact dup of 10
        (12, [0.99, 0.14, 0.0, 0.0]),    # near dup of 10 (cos ~0.99)
        (20, [0.0, 0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "cell_id long, centv array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        df, "embedding", "vec_id", centroids=cents,
        threshold=0.9).collect()}
    assert out[10].keep and not out[11].keep and not out[12].keep
    assert out[20].keep
    assert out[10].cell_id == 0 and out[20].cell_id == 1


def test_ivf_artifact_serves_and_gates(spark, tmp_path):
    """sinks/ann_store e2e: the landed IVF artifact serves the same
    probe tail the in-plan query runs, a digest mismatch is ignored
    (never trusted), and the env-gated embed_ann_ivf consumes the
    artifact only when digest + params match.

    Served-vs-in-plan comparison is overlap >= 0.9 with bit-equal
    cos_sim on shared pairs, NOT full equality: double summation
    order inside the Lloyd re-center is partitioning-dependent, so
    artifact centroids can differ from an in-session retrain in the
    last ulp and flip a boundary vector's cell (ann_store.py's
    documented float-determinism caveat — measured here as one rank
    flip in 50)."""
    import os

    from pyspark.sql import functions as F

    from sc_crawler_spark.queries.pipeline import embed_ann_ivf
    from sc_crawler_spark.sinks import ann_store, artifacts
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "ivf_idx")
    emb = load(spark, sf, "embeddings")
    meta = ann_store.write_ivf_index(emb, out, "embedding", "vec_id",
                                    n_cells=8, iters=2)
    digest = artifacts.corpus_digest(emb, "embedding", "vec_id")
    assert meta["digest"] == digest
    assert artifacts.matches(out, "ivf", digest, n_cells=8, iters=2)
    assert not artifacts.matches(out, "ivf", digest, n_cells=16)
    assert not artifacts.matches(out, "ivf", "bogus_1", n_cells=8)

    inplan = {(r.query_id, r.neighbor_id): r.cos_sim
              for r in embed_ann_ivf(spark, sf).collect()}
    served_rows = ann_store.cosine_topk_served(
        emb.filter(F.col("vec_id") < 10), spark, out,
        "embedding", "vec_id", k=5, n_probe=3).collect()
    served = {(r.query_id, r.neighbor_id): r.cos_sim
              for r in served_rows}
    assert len(served) > 0
    shared = set(served) & set(inplan)
    assert len(shared) / len(inplan) >= 0.9
    for pair in shared:  # exact cosine on shared pairs is bit-equal
        assert served[pair] == inplan[pair]

    os.environ["SC_SPARK_ANN_INDEX_DIR"] = out
    try:
        gated = {(r.query_id, r.neighbor_id): r.cos_sim
                 for r in embed_ann_ivf(spark, sf).collect()}
        assert gated == served  # env gate routed to the artifact
        # a different corpus must NOT be served from this artifact
        other = sorted(
            (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
            for r in embed_ann_ivf(spark, "/root/testdata/sf0.01")
            .collect())
        assert other  # ran in-plan (digest mismatch), not from the index
    finally:
        os.environ.pop("SC_SPARK_ANN_INDEX_DIR", None)


def test_ivf_artifact_recall_at_production_spec(spark, tmp_path):
    """r16 (r15 verdict task 3a): the 64x bench grades the IVF
    artifact SERVE at the production spec — 64 Lloyd-trained cells —
    so the speed claim carries an explicit recall gate at the same
    spec. r17 (verdict task 3): probe depth 8 -> 12 after the A/B
    (scripts/ab_ivf_probe.py: recall@5 0.800/0.820/0.880/0.900 at
    n_probe 8/10/12/16, serve time flat at this sf) — the old spec
    sat EXACTLY at the 0.8 gate, one centroid-init flake from red
    (r16 ADVICE #3: centroid float sums are partitioning-dependent);
    12 probes buy 0.08 measured headroom for 18.75% of the corpus
    scanned per query (vs 12.5%). Gate stays 0.8."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.sinks import ann_store
    from sc_crawler_spark.tables import load

    sf = SF
    emb = load(spark, sf, "embeddings")
    out = str(tmp_path / "ivf64")
    ann_store.write_ivf_index(emb, out, "embedding", "vec_id",
                              n_cells=64, iters=2)
    exact = _neighbors(embed_cosine_topk(spark, sf))
    served = _neighbors(ann_store.cosine_topk_served(
        emb.filter(F.col("vec_id") < 10), spark, out,
        "embedding", "vec_id", k=5, n_probe=12))
    r = _recall(served, exact)
    print(f"64-cell/12-probe served recall@5 = {r:.3f}")
    # measured 0.880 at the r17 spec — 0.08 real headroom over the
    # 0.8 gate instead of the r16 epsilon-floored equality
    assert r >= 0.8, (
        f"production-spec served recall regressed: {r:.3f}")


def test_hybrid_served_fused_overlap(spark, tmp_path):
    """r16 (r15 verdict task 3b): the hybrid RRF serve swaps the dense
    arm onto the IVF artifact — approximate by design, so the fused
    top-5 can differ from the exact in-plan fusion. Gate the drift:
    fused (query, doc) overlap served-vs-in-plan >= 0.6 on the sf0.01
    fixture (r17: n_probe 3 -> 4 measured 0.72 -> 0.78 — the A/B knee,
    scripts/ab_hybrid_probe.py; the lexical arm is bit-equal, so all
    drift is the dense arm's cell pruning). The bench publishes the
    same overlap at 64x scale (scale.hybrid_fused_overlap)."""
    import os

    from sc_crawler_spark.queries.pipeline import hybrid_rrf_retrieval
    from sc_crawler_spark.sinks import ann_store, postings_store
    from sc_crawler_spark.tables import load

    sf = SF
    inplan = {(r.query_id, r.doc_id)
              for r in hybrid_rrf_retrieval(spark, sf).collect()}
    docs = load(spark, sf, "documents").select("doc_id", "text")
    emb = load(spark, sf, "embeddings")
    bidx = str(tmp_path / "bm25")
    aidx = str(tmp_path / "ivf8")
    postings_store.write_bm25_index(docs, bidx, "text", "doc_id",
                                    max_postings=256)
    ann_store.write_ivf_index(emb, aidx, "embedding", "vec_id",
                              n_cells=8, iters=2)
    os.environ["SC_SPARK_BM25_INDEX_DIR"] = bidx
    os.environ["SC_SPARK_ANN_INDEX_DIR"] = aidx
    try:
        served = {(r.query_id, r.doc_id)
                  for r in hybrid_rrf_retrieval(spark, sf).collect()}
    finally:
        os.environ.pop("SC_SPARK_BM25_INDEX_DIR", None)
        os.environ.pop("SC_SPARK_ANN_INDEX_DIR", None)
    ov = len(served & inplan) / len(inplan)
    print(f"hybrid fused-top5 served overlap = {ov:.3f}")
    assert ov >= 0.6, f"served hybrid fusion drifted too far: {ov:.3f}"


def test_ivf_fold_equals_union_assignment(spark, tmp_path):
    """r15: folding a vector batch into a landed IVF artifact (assign
    against the STORED centroids, no retrain) must be bit-equal to
    assigning the union corpus against the base centroids — identical
    inverted lists, merged digest == direct union digest, and served
    probes identical to the direct-union probe."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.similarity import (
        as_double, ivf_assign, ivf_probe_topk, norm)
    from sc_crawler_spark.sinks import ann_store, artifacts
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    batch = emb.filter(F.col("vec_id") >= 300)
    base_dir = str(tmp_path / "base")
    fold_dir = str(tmp_path / "folded")
    ann_store.write_ivf_index(base, base_dir, "embedding", "vec_id",
                              n_cells=4, iters=1)
    folded = ann_store.fold_ivf_index(spark, base_dir, batch, fold_dir)

    assert folded["digest"] == artifacts.corpus_digest(
        emb, "embedding", "vec_id")
    assert folded["n_vecs"] == emb.count()
    assert artifacts.matches(
        fold_dir, "ivf", folded["digest"], n_cells=4, iters=1)

    # folded inverted lists == union corpus assigned against the BASE
    # centroids (deterministic dot-product argmax -> bit-equal cells)
    cents, folded_assign = ann_store.load_ivf_index(spark, fold_dir)
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   as_double(F.col("embedding")).alias("cv"))
    direct = ivf_assign(c.withColumn("cn", norm(F.col("cv"))),
                        cents, "cv", "centv")
    got = sorted((r.neighbor_id, r.cell_id)
                 for r in folded_assign.collect())
    want = sorted((r.neighbor_id, r.cell_id) for r in direct.collect())
    assert got == want and len(got) == emb.count()

    # served probe over the folded artifact == direct-union probe
    queries = emb.filter(F.col("vec_id") < 10)
    a = sorted((r.query_id, r.neighbor_id, r.cos_sim, r.rank)
               for r in ann_store.cosine_topk_served(
                   queries, spark, fold_dir, "embedding", "vec_id",
                   k=5, n_probe=2).collect())
    b = sorted((r.query_id, r.neighbor_id, r.cos_sim, r.rank)
               for r in ivf_probe_topk(queries, cents, direct,
                                       "embedding", "vec_id",
                                       k=5, n_probe=2).collect())
    assert a == b and len(a) > 0

    # refusal paths
    with _pytest.raises(ValueError):
        ann_store.fold_ivf_index(spark, base_dir, batch, base_dir)
    with _pytest.raises(ValueError):
        ann_store.fold_ivf_index(spark, str(tmp_path / "nope"),
                                 batch, str(tmp_path / "f2"))
