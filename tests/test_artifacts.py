"""The artifact contract (sinks/artifacts.py) across every writer: a run
killed between its data write and its meta commit reads as absent to
every reader, and a meta of another format or a damaged meta reads as
absent too, so the artifact rebuilds."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sc_crawler_spark import cli
from sc_crawler_spark.queries import REGISTRY
from sc_crawler_spark.queries.pipeline import (
    _BM25_B, _BM25_K1, _docs_with_clones)
from sc_crawler_spark.sinks import (
    ann_store, artifacts, index_store, postings_store)
from sc_crawler_spark.tables import load

from .conftest import SF_SMOKE, assert_oracle_match

SF = SF_SMOKE
BM25_GATE = dict(max_postings=256, k1=_BM25_K1, b=_BM25_B,
                 query_stride=13)
IVF_GATE = dict(n_cells=8, iters=2)


def _minhash_setup(spark, tmp):
    """dedup_incremental_batch's standing corpus, split into a seed part
    and one streamed batch landed in stream_near_dedup's layout
    (shingles, signatures, digest partial, pairs) so that folding the
    batch into the seed covers the whole corpus."""
    from sc_crawler_spark.operators.dedup import (
        _signatures_from_shingles, doc_shingles, minhash_lsh_pairs)

    corpus = (_docs_with_clones(spark, SF)
              .filter(F.col("doc_id") % 7 != 0).select("doc_id", "text"))
    in_batch = F.col("doc_id") % 2 == 1
    batch = corpus.filter(in_batch)
    own, pairs = os.path.join(tmp, "own"), os.path.join(tmp, "pairs")
    sh = doc_shingles(batch, "text", "doc_id", 3)
    sh.write.parquet(os.path.join(own, "shingles", "batch=0"))
    _signatures_from_shingles(sh, "doc_id", 8).write.parquet(
        os.path.join(own, "signatures", "batch=0"))
    batch.agg(*artifacts.digest_agg("text", "doc_id")).write.parquet(
        os.path.join(own, "digest", "batch=0"))
    (minhash_lsh_pairs(corpus, "text", "doc_id")
     .filter((F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1))
     .select("id_a", "id_b", "jaccard")
     .write.parquet(os.path.join(pairs, "batch=0")))

    return ((lambda df, out: index_store.write_minhash_index(
                df, out, "text", "doc_id")),
            corpus, corpus.filter(~in_batch),
            lambda base, out: index_store.fold_minhash_index(
                spark, base, own, pairs, out),
            ("minhash", artifacts.corpus_digest(corpus, "text", "doc_id"),
             dict(k=3, n_hashes=8), "SC_SPARK_INDEX_DIR",
             "dedup_incremental_batch"))


def _bm25_setup(spark, tmp):
    docs = load(spark, SF, "documents").select("doc_id", "text")
    in_batch = F.col("doc_id") >= 250

    return ((lambda df, out: postings_store.write_bm25_index(
                df, out, "text", "doc_id")),
            docs, docs.filter(~in_batch),
            lambda base, out: postings_store.fold_bm25_index(
                spark, base, docs.filter(in_batch), out),
            ("bm25", artifacts.corpus_digest(docs, "text", "doc_id"),
             BM25_GATE, "SC_SPARK_BM25_INDEX_DIR", "bm25_pruned_retrieval"))


def _ivf_setup(spark, tmp):
    emb = load(spark, SF, "embeddings")
    in_batch = F.col("vec_id") >= 300

    return ((lambda df, out: ann_store.write_ivf_index(
                df, out, "embedding", "vec_id", **IVF_GATE)),
            emb, emb.filter(~in_batch),
            lambda base, out: ann_store.fold_ivf_index(
                spark, base, emb.filter(in_batch), out),
            ("ivf", artifacts.corpus_digest(emb, "embedding", "vec_id"),
             IVF_GATE, "SC_SPARK_ANN_INDEX_DIR", "embed_ann_ivf"))


# per kind: (write(df, out), whole corpus, seed part, fold(base, out),
# (kind, digest, params, env var, registry query)) — the registry query
# gates on the whole corpus's digest, which seed part + fold batch cover
SETUPS = {"minhash": _minhash_setup, "bm25": _bm25_setup,
          "ivf": _ivf_setup}


@pytest.mark.parametrize("case", [
    "corpus", "minhash", "bm25", "ivf",
    "minhash_fold", "bm25_fold", "ivf_fold"])
def test_crash_before_commit_reads_absent(spark, tmp_path, monkeypatch,
                                          case):
    """Every writer, killed after its data write and before its meta
    commit, over a dir that held a complete artifact: the stale meta
    is gone, the gate refuses, a fold from the dir refuses, and the
    env-gated registry query falls back in-plan, oracle-equal."""
    tmp = str(tmp_path)
    fold = None
    if case == "corpus":
        docs = load(spark, SF, "documents").select("doc_id", "text")
        write = lambda out: cli.cmd_corpus(spark, SF, out)  # noqa: E731
        kind, digest, params, env, query = (
            "corpus", None,
            {"input_digest": artifacts.corpus_digest(docs, "text",
                                                     "doc_id")},
            None, None)
    else:
        build, whole, seed_part, fold, gate = SETUPS[
            case.removesuffix("_fold")](spark, tmp)
        kind, digest, params, env, query = gate
        write = lambda out: build(whole, out)  # noqa: E731
        if case.endswith("_fold"):
            seed = os.path.join(tmp, "seed")
            build(seed_part, seed)
            write = lambda out: fold(seed, out)  # noqa: E731
    out = str(tmp_path / "out")
    write(out)
    assert artifacts.matches(out, kind, digest, **params)

    def _crash(*a, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(artifacts, "commit", _crash)
    with pytest.raises(RuntimeError, match="killed before commit"):
        write(out)
    monkeypatch.undo()
    assert set(os.listdir(out)) - {artifacts.META_NAME}  # data landed
    assert artifacts.read_meta(out) is None
    assert not artifacts.matches(out, kind, digest, **params)
    if fold is not None:
        with pytest.raises(ValueError, match="no complete"):
            fold(out, os.path.join(tmp, "refold"))
    if query is not None:
        monkeypatch.setenv(env, out)
        fn, sql = REGISTRY[query][:2]
        assert_oracle_match(spark, query, fn, sql, SF)


@pytest.mark.parametrize("kind", ["minhash", "bm25", "ivf", "corpus"])
def test_damaged_or_other_format_meta_reads_absent(tmp_path, kind):
    """A meta without the current ``format`` (every artifact written
    before the format stamp), a truncated meta, and a leftover
    ``_META.json.tmp`` all read as absent for every kind; none is
    listed for retention."""
    d = str(tmp_path / kind)
    os.makedirs(d)
    meta = artifacts.commit(d, {"kind": kind, "digest": "7_1"})
    assert artifacts.read_meta(d, kind) == meta
    assert artifacts.matches(d, kind, "7_1")
    assert len(artifacts.list_artifacts(d)) == (kind != "corpus")

    mp = os.path.join(d, artifacts.META_NAME)
    stripped = {k: v for k, v in meta.items() if k != "format"}
    with open(mp, "w") as f:
        json.dump(stripped, f)
    assert artifacts.read_meta(d) is None
    assert artifacts.read_meta(d, kind) is None
    assert not artifacts.matches(d, kind, "7_1")
    assert artifacts.list_artifacts(d) == []

    with open(mp, "w") as f:
        f.write(json.dumps(meta)[:-5])
    assert artifacts.read_meta(d, kind) is None

    os.remove(mp)
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f)
    assert artifacts.read_meta(d, kind) is None


def test_index_rebuilds_over_meta_without_format(spark, tmp_path,
                                                 capsys):
    """`index` over an artifact whose meta predates the format stamp
    rebuilds it once instead of reusing it."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    ).write.parquet(os.path.join(lake, "documents.parquet"))
    out = str(tmp_path / "idx")
    cli.cmd_index(spark, lake, out)
    assert "built" in capsys.readouterr().out

    mp = os.path.join(out, artifacts.META_NAME)
    with open(mp) as f:
        meta = json.load(f)
    del meta["format"]
    with open(mp, "w") as f:
        json.dump(meta, f)
    cli.cmd_index(spark, lake, out)
    assert "built" in capsys.readouterr().out
    assert artifacts.read_meta(out, "minhash")["format"] == \
        artifacts.FORMAT
    cli.cmd_index(spark, lake, out)
    assert "reuse" in capsys.readouterr().out
