"""The three perfbench workloads.

Each workload is one pass of a closed loop: a single client issues one
step, waits for it to finish, checks it, and issues the next. Steps go
through the library's public entry points only. Every workload records
its step timings on the ``Pass`` and returns the names of the steps the
end-to-end metrics are built from; ``run.py`` builds them.

- ``inventory_refresh``: the write path. A crawl is ``inventory`` for
  both vendors, then ``inspect`` and ``score``. A cold crawl into an
  empty lake, refresh crawls over a churning catalog, then ``sync`` of
  every keyed table to a replica, plain and ``--scd``, with a digest
  check. Most refreshes change few rows, so a delta writer shows here.
- ``fleet_analytics``: read-only. The relational and scoring registry
  queries, each built and executed cold, checked against its DuckDB
  oracle. It shares the upsert/hash-diff operators with the write path
  and never touches a sink.
- ``corpus_stream``: the text tier. ``corpus``, the minhash and BM25
  index builds, the next day's batch through the streaming ingest gate,
  and the folds of that batch into both indexes.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import statistics
import time
from decimal import Decimal

import gen

FLEET_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "top1_order_per_customer", "exact_median_price", "session_counts",
    "hash_diff_sync", "merge_upsert_lifecycle", "workload_scores",
    "workload_profiles_catalog",
]

# Sizes: "full" is what the benchmark measures; "tiny" is for smoke tests.
SIZES = {
    "inventory_refresh": {
        "full": dict(types=200, regions=6, zones=3, gcp_types=60,
                     refreshes=1),
        "tiny": dict(types=12, regions=2, zones=2, gcp_types=6,
                     inspected=3, refreshes=1),
    },
    "fleet_analytics": {"full": dict(sf=0.05), "tiny": dict(sf=0.002)},
    "corpus_stream": {"full": dict(docs=4000, batch=600),
                      "tiny": dict(docs=300, batch=60)},
}


class Pass:
    """State of one workload pass: the session, tracer, work dir, the
    timings of the steps and the outcome of every step and gate."""

    def __init__(self, spark, tracer, work: str, seed: int, size: str,
                 log, pids: list[int]):
        self.spark = spark
        self.pids = pids  # processes whose CPU time the steps are charged
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = size
        self.log = log
        self.timings: dict[str, float] = {}
        self.cpu: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.detail: dict[str, dict] = {}
        # rows the generator changed, and the steps that wrote them
        # (the denominator of sinks.rewrite_ratio)
        self.churn_rows = 0
        self.churn_steps: set[str] = set()
        self.streaming: dict[str, float] = {}

    def step(self, name: str, fn):
        """Run one timed step; a raising step counts as failed."""
        self.attempted += 1
        c0, t0 = cpu_seconds(self.pids), time.perf_counter()
        try:
            with self.tracer.step(name), _quiet():
                out = fn()
        except Exception as exc:  # a failed step must not end the run
            self.failed += 1
            self.log(f"step {name} failed: {exc!r}")
            out = None
        self.timings[name] = time.perf_counter() - t0
        self.cpu[name] = cpu_seconds(self.pids) - c0
        return out

    def gate(self, name: str, ok_fn) -> bool:
        """Run one untimed correctness gate."""
        self.attempted += 1
        try:
            with _quiet():
                ok, why = ok_fn()
        except Exception as exc:
            ok, why = False, repr(exc)
        if not ok:
            self.failed += 1
            self.log(f"gate {name} failed: {why}")
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.detail[name] = {"value": value, "unit": unit}


@contextlib.contextmanager
def _quiet():
    """The CLI steps print progress lines; keep stdout for the result."""
    with contextlib.redirect_stdout(io.StringIO()):
        yield


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU time consumed so far by ``pids`` (all threads)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -------------------------------------------------------- inventory_refresh

def inventory_refresh(p: Pass) -> list[str]:
    from pyspark.sql import functions as F

    from sc_crawler_spark import cli, schemas
    from sc_crawler_spark.sinks.snapshot import read_snapshot

    size = dict(SIZES["inventory_refresh"][p.size])
    refreshes = size.pop("refreshes")
    model = gen.InventoryModel(seed=p.seed, **size)
    lake = os.path.join(p.work, "lake")
    replica = os.path.join(p.work, "replica")
    bronze_bytes = 0
    changed = 0

    def check_lake(expect: dict) -> tuple[bool, str]:
        bad = []
        for table, want in expect.items():
            df = read_snapshot(p.spark, os.path.join(lake, table))
            live = F.col("status") == "active"
            aggs = [F.sum(live.cast("int")).alias("a"),
                    F.sum((~live).cast("int")).alias("i")]
            if want.active_price_sum is not None:
                aggs.append(F.sum(F.when(live, F.col("price")
                                         .cast("decimal(24,4)")))
                            .alias("p"))
            got = df.agg(*aggs).first()
            if (got["a"], got["i"]) != (want.active, want.inactive) or (
                    want.active_price_sum is not None
                    and Decimal(got["p"]) != want.active_price_sum):
                bad.append(f"{table}: got {got.asDict()} want {want}")
        return not bad, "; ".join(bad)

    def crawl(k: int, name: str) -> None:
        nonlocal bronze_bytes, changed
        model.advance()
        bronze = os.path.join(p.work, f"bronze{k}")
        bronze_bytes += model.write_bronze(bronze)
        expect = model.expect()
        if k > 0:
            changed += model.changed

        def run() -> None:
            for vendor in ("aws", "gcp"):
                cli.cmd_inventory(p.spark, bronze, lake, vendor=vendor)
            cli.cmd_inspect(p.spark, bronze, lake, "aws")
            cli.cmd_score(p.spark, lake)

        p.step(name, run)
        p.gate(f"{name}.lake", lambda: check_lake(expect))

    crawl(0, "cold_load")
    with _quiet():  # the replica starts as a copy of the cold lake
        cli.cmd_copy(p.spark, lake, replica)
    names = [f"refresh_{k}" for k in range(1, refreshes + 1)]
    for k, name in enumerate(names, start=1):
        crawl(k, name)

    keyed = sorted(t for t in os.listdir(lake)
                   if schemas.PRIMARY_KEYS.get(t)
                   and os.path.isdir(os.path.join(lake, t)))
    digests: dict[str, tuple[str, str]] = {}

    def sync() -> None:
        for table in keyed:
            cli.cmd_sync(p.spark, lake, replica, table)
            cli.cmd_sync(p.spark, lake, replica, table, scd=True)
            digests[table] = (cli.table_digest(p.spark, lake, table),
                              cli.table_digest(p.spark, replica, table))

    p.step("sync", sync)
    p.gate("sync.digests", lambda: (
        len(digests) == len(keyed)
        and all(a == b for a, b in digests.values()),
        f"mismatched: {[t for t, (a, b) in digests.items() if a != b]}"))

    p.metric("cold_load_s", p.timings["cold_load"], "s")
    p.metric("refresh_s", statistics.median(p.timings[n] for n in names), "s")
    p.metric("sync_s", p.timings["sync"], "s")
    p.metric("lake_bytes_ratio", gen.tree_bytes(lake) / bronze_bytes, "ratio")
    p.churn_rows, p.churn_steps = changed, set(names)
    p.metric("changed_rows", changed, "count")
    p.metric("synced_tables", len(keyed), "count")
    return ["cold_load", *names, "sync"]


# --------------------------------------------------------- fleet_analytics

def _canonical_hash(pdf) -> str:
    """Order-free value hash of a result: columns by name, floats to six
    decimals, rows sorted (the oracle comparison the registry tests use)."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6).map(lambda v: "NULL" if pd.isna(v)
                                         else f"{v:.6f}")
        else:
            pdf[c] = pdf[c].map(lambda v: "NULL" if v is None or (
                isinstance(v, float) and math.isnan(v)) else str(v))
    rows = sorted("\x1f".join(r) for r in pdf.itertuples(index=False))
    return hashlib.sha1("\x1e".join(rows).encode()).hexdigest()


def _oracle(data: str, cache: str) -> dict:
    """DuckDB oracle hashes and times for every fleet query, cached per
    generated dataset (the cache key is the dataset's path)."""
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    import duckdb

    from sc_crawler_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t)}.parquet'")
    out = {}
    for name in FLEET_QUERIES:
        t0 = time.perf_counter()
        pdf = con.execute(REGISTRY[name][1]).df()
        out[name] = {"hash": _canonical_hash(pdf), "rows": len(pdf),
                     "s": time.perf_counter() - t0}
    con.close()
    tmp = cache + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, cache)
    return out


def fleet_analytics(p: Pass) -> list[str]:
    from sc_crawler_spark.queries import REGISTRY
    from sc_crawler_spark.tables import clear_load_memo
    from sc_crawler_spark.workloads import release_scored_caches

    sf = SIZES["fleet_analytics"][p.size]["sf"]
    data = os.path.join(os.path.dirname(p.work), "data",
                        f"fleet-{p.seed}-{sf}")
    if not os.path.exists(os.path.join(data, "_READY")):
        shutil.rmtree(data, ignore_errors=True)
        gen.write_fleet(data, p.seed, sf)
        open(os.path.join(data, "_READY"), "w").close()
    oracle = _oracle(data, data + ".oracle.json")
    results = {}

    for name in FLEET_QUERIES:
        # cold: no memoized table frames or cached scoring frames
        clear_load_memo()
        release_scored_caches()
        p.spark.catalog.clearCache()

        def run(name=name):
            with p.tracer.span("queries", name):
                return REGISTRY[name][0](p.spark, data).toPandas()

        results[name] = p.step(name, run)
    for name in FLEET_QUERIES:
        got = results[name]
        p.gate(f"{name}.oracle", lambda got=got, name=name: (
            got is not None and _canonical_hash(got) == oracle[name]["hash"],
            f"{name}: result hash differs from the DuckDB oracle"))

    p.metric("geomean_query_s",
             geomean([p.timings[n] for n in FLEET_QUERIES]), "s")
    p.metric("control.duckdb_s", sum(o["s"] for o in oracle.values()), "s")
    for name in FLEET_QUERIES:
        p.metric(f"query.{name}_s", p.timings[name], "s")
    return list(FLEET_QUERIES)


# ----------------------------------------------------------- corpus_stream

def corpus_prepare(p: Pass) -> dict:
    """Offline model fit the ingest gate serves (part of set-up): the
    logistic quality weights and the DSIR log-ratio table, both fitted
    on the standing corpus."""
    from sc_crawler_spark.queries.curation import dsir_log_ratios
    from sc_crawler_spark.queries.pipeline import _lr_trained
    from sc_crawler_spark.tables import load

    size = SIZES["corpus_stream"][p.size]
    lake = os.path.join(p.work, "lake")
    batch = os.path.join(p.work, "batch")
    gen.write_documents(lake, batch, p.seed, size["docs"], size["batch"])
    t0 = time.perf_counter()
    with p.tracer.span("queries", "offline_fit"):
        feat, trained = _lr_trained(p.spark, lake)
        row = trained.first()
        weights = {k: row[k] for k in ("w_b", "w_l", "w_t", "w_p")}
        feat.unpersist()
        lr_buckets = [float(r.lr) for r in dsir_log_ratios(
            load(p.spark, lake, "documents")).orderBy("bucket").collect()]
    return {"lake": lake, "batch": batch, "weights": weights,
            "lr_buckets": lr_buckets, "fit_s": time.perf_counter() - t0}


def corpus_stream(p: Pass, prep: dict) -> list[str]:
    from sc_crawler_spark import cli
    from sc_crawler_spark.sinks import index_store, postings_store
    from sc_crawler_spark.streaming import (read_document_stream,
                                            stream_dsir_gate,
                                            stream_ingest_gate,
                                            stream_lr_quality_gate)

    lake, spark = prep["lake"], p.spark
    out = os.path.join(p.work, "out")
    idx, bm25 = os.path.join(out, "minhash"), os.path.join(out, "bm25")
    gate = {k: os.path.join(out, "gate_" + k)
            for k in ("accepted", "pairs", "index", "ckpt", "in")}
    batch_file = os.path.join(prep["batch"], "documents.parquet")
    os.makedirs(gate["in"])
    shutil.copy(batch_file, os.path.join(gate["in"], "part-0.parquet"))
    progress: list[dict] = []

    p.step("corpus", lambda: cli.cmd_corpus(spark, lake,
                                           os.path.join(out, "corpus")))
    p.step("index_minhash", lambda: cli.cmd_index(spark, lake, idx))
    p.step("index_bm25", lambda: cli.cmd_bm25_index(spark, lake, bm25))

    def ingest() -> None:
        with p.tracer.span("streaming", "stream_ingest_gate"):
            q = stream_ingest_gate(
                read_document_stream(spark, gate["in"]), gate["accepted"],
                gate["pairs"], gate["index"], gate["ckpt"], prep["weights"],
                prep["lr_buckets"], seed_index_dir=idx)
            q.awaitTermination()
            progress.extend(q.recentProgress)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

    p.step("ingest", ingest)

    def fold() -> None:
        index_store.fold_minhash_index(spark, idx, gate["index"],
                                       gate["pairs"], idx + "_folded")
        postings_store.fold_bm25_index(
            spark, bm25, spark.read.parquet(batch_file)
            .select("doc_id", "text"), bm25 + "_folded")

    p.step("fold", fold)

    def corpus_gate():
        with open(os.path.join(out, "corpus", "_META.json")) as fh:
            meta = json.load(fh)
        n = spark.read.parquet(os.path.join(out, "corpus", "corpus")).count()
        return meta["n_docs"] == n and n > 0, f"meta {meta['n_docs']} != {n}"

    def minhash_fold_gate():
        # only documents passing both row-local gates fold into the index
        docs = spark.read.parquet(batch_file).select("doc_id", "text")
        surv = (docs
                .join(stream_lr_quality_gate(docs, prep["weights"])
                      .select("doc_id"), "doc_id")
                .join(stream_dsir_gate(docs, prep["lr_buckets"], 0.0)
                      .select("doc_id"), "doc_id"))
        digests = [index_store.read_index_meta(idx)["digest"]]
        if surv.take(1):  # an empty frame digests to "None_0"
            digests.append(index_store.corpus_digest(surv, "text", "doc_id"))
        want = index_store.merge_digests(digests)
        got = index_store.read_index_meta(idx + "_folded")["digest"]
        return got == want, f"folded {got} != merged {want}"

    def bm25_fold_gate():
        batch = spark.read.parquet(batch_file)
        want = index_store.merge_digests([
            postings_store.read_bm25_meta(bm25)["digest"],
            index_store.corpus_digest(batch, "text", "doc_id")])
        got = postings_store.read_bm25_meta(bm25 + "_folded")["digest"]
        return got == want, f"folded {got} != merged {want}"

    p.gate("corpus.n_docs", corpus_gate)
    p.gate("fold.minhash_digest", minhash_fold_gate)
    p.gate("fold.bm25_digest", bm25_fold_gate)

    rows_in = sum(pr["numInputRows"] for pr in progress)
    accepted = (spark.read.parquet(gate["accepted"]).count()
                if os.path.exists(gate["accepted"]) else 0)
    p.streaming = {
        "batches": sum(1 for pr in progress if pr["numInputRows"] > 0),
        "batch_s": sum(pr["durationMs"].get("triggerExecution", 0)
                       for pr in progress) / 1000.0,
        "accept_ratio": accepted / rows_in if rows_in else 0.0,
    }
    p.churn_rows, p.churn_steps = rows_in, {"fold"}
    for book in (p.timings, p.cpu):
        book["index_build"] = book["index_minhash"] + book["index_bm25"]
    p.metric("corpus_s", p.timings["corpus"], "s")
    p.metric("index_build_s", p.timings["index_build"], "s")
    p.metric("ingest_s", p.timings["ingest"], "s")
    p.metric("fold_s", p.timings["fold"], "s")
    p.metric("offline_fit_s", prep["fit_s"], "s")
    return ["corpus", "index_build", "ingest", "fold"]
