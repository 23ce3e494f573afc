"""Property-based tests (hypothesis) for the lifecycle operators — laws
the reference's upsert/dedup semantics imply (insert.py:24-72,
tables.py:224-283), checked over generated tables.

Few examples, deadline off: each example round-trips through Spark, so
the budget goes to diverse shapes, not example count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sc_crawler_spark.operators.upsert import merge_upsert
from sc_crawler_spark.operators.windows import keep_last_dedup

KEYS = st.integers(min_value=0, max_value=5)
VALS = st.text(alphabet="abc", min_size=0, max_size=3)

ROWS = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=12)


def _df(spark, rows, with_pos=False):
    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, v string, pos int")
    return df if with_pos else df.drop("pos")


def _canon(df):
    return sorted(map(tuple, df.collect()))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(current=ROWS, incoming=ROWS)
def test_merge_upsert_idempotent(spark, current, incoming):
    """Applying the same batch twice equals applying it once."""
    cur = _df(spark, [(k, v) for k, v in current]).dropDuplicates(["k"])
    inc = _df(spark, [(k, v) for k, v in incoming]).dropDuplicates(["k"])
    once = merge_upsert(cur, inc, ["k"])
    twice = merge_upsert(once, inc, ["k"])
    assert _canon(once) == _canon(twice)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(current=ROWS, incoming=ROWS)
def test_merge_upsert_source_wins(spark, current, incoming):
    """Every incoming PK's value is the incoming value; PKs only in the
    target survive unchanged (K1 ON CONFLICT DO UPDATE semantics)."""
    cur = _df(spark, [(k, v) for k, v in current]).dropDuplicates(["k"])
    inc = _df(spark, [(k, v) for k, v in incoming]).dropDuplicates(["k"])
    out = {k: v for k, v in _canon(merge_upsert(cur, inc, ["k"]))}
    inc_map = {r["k"]: r["v"] for r in inc.collect()}
    cur_map = {r["k"]: r["v"] for r in cur.collect()}
    assert set(out) == set(cur_map) | set(inc_map)
    for k, v in out.items():
        assert v == inc_map.get(k, cur_map.get(k))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=ROWS)
def test_keep_last_dedup_is_python_dict_semantics(spark, rows):
    """keep_last over arrival position == the reference's
    `{row[pk]: row for row in rows}` dict comprehension (A4/A5)."""
    df = _df(spark, rows, with_pos=True)
    got = {r["k"]: r["v"]
           for r in keep_last_dedup(df, ["k"], "pos").collect()}
    want = {}
    for k, v in rows:
        want[k] = v
    assert got == want


def test_chunk_boilerplate_semantics(spark):
    """Exact-clone pairs lose every chunk; unique docs keep every chunk;
    kept + dropped always equals the doc's chunk count."""
    from sc_crawler_spark.operators.dedup import chunk_boilerplate_dedup

    uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lambda mu nu xi omicron pi rho sigma tau upsilon"
    boiler = "one two three four five six seven eight nine ten " \
             "cold unique tail words here only in doc three end stop"
    rows = [(1, boiler), (2, boiler),                 # exact clones
            (3, uniq)]                                # unique
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           chunk_boilerplate_dedup(df, "text", "doc_id",
                                   chunk_tokens=10, max_doc_freq=2).collect()}
    assert set(out) == {1, 2, 3}
    # both clones: every 10-token chunk appears in 2 docs -> all dropped
    for d in (1, 2):
        assert out[d].n_chunks_kept == 0
        assert out[d].n_chunks_dropped == 3   # 21 tokens -> 3 chunks
        assert out[d].clean_sha is None
    # unique doc: everything kept, reassembly is deterministic
    assert out[3].n_chunks_kept == 2 and out[3].n_chunks_dropped == 0
    again = {r.doc_id: r.clean_sha for r in
             chunk_boilerplate_dedup(df, "text", "doc_id",
                                     chunk_tokens=10,
                                     max_doc_freq=2).collect()}
    assert again[3] == out[3].clean_sha is not None


def test_as_of_join_semantics(spark):
    """Inclusive <= matching, pre-first-event NULLs, and latest-wins
    across keys (DuckDB ASOF semantics)."""
    from sc_crawler_spark.operators.windows import as_of_join

    right = spark.createDataFrame(
        [(1, 10, 1.5), (1, 20, 2.5), (2, 5, 9.0)], "k long, t long, v double")
    left = spark.createDataFrame(
        [(1, 15, 100), (1, 20, 101), (1, 3, 102), (2, 50, 103)],
        "k long, t long, row long")
    out = {r.row: (r.asof_v, r.asof_ts)
           for r in as_of_join(left, right, ["k"], "t", "t", ["v"]).collect()}
    assert out[100] == (1.5, 10)     # between events -> earlier one
    assert out[101] == (2.5, 20)     # equal timestamp matches (inclusive)
    assert out[102] == (None, None)  # before first event
    assert out[103] == (9.0, 5)      # other key unaffected


def test_range_join_buckets_semantics(spark):
    """Inclusive window bounds, cross-day coverage, key isolation."""
    from sc_crawler_spark.operators.windows import range_join_buckets

    right = spark.createDataFrame(
        [(1, "2024-01-01 23:00:00", 1.0),   # previous day, inside 24h
         (1, "2024-01-02 12:00:00", 2.0),   # same day, inside
         (1, "2024-01-01 11:59:00", 4.0),   # > 24h before -> out
         (1, "2024-01-02 12:00:01", 8.0),   # after left ts -> out
         (2, "2024-01-02 12:00:00", 16.0)], # other key -> out
        "k long, ts string, v double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
    left = spark.createDataFrame(
        [(1, "2024-01-02 12:00:00", 7)], "k long, ts string, row long"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS p_ts", "row")
    got = range_join_buckets(left, right, ["k"], "p_ts", "ts",
                             window_days=1).collect()
    assert sorted(r.v for r in got) == [1.0, 2.0]


def test_ngram_df_cap_blocks_hot_shingles(spark):
    """Adversarial boilerplate corpus: every doc shares the same tail, so
    uncapped pairing is quadratic (n*(n-1)/2 candidates). With the
    document-frequency cap the hot shingles never seed a candidate —
    candidate count stays bounded — while genuine near-dup pairs (which
    share RARE shingles too) are still found with their EXACT jaccard."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.dedup import (
        ngram_jaccard_pairs, rare_shingle_candidates, shingle_table,
    )

    n = 60
    boiler = "subscribe to our newsletter for updates every single day"
    rows = [(i, f"unique{i}a word{i}b token{i}c item{i}d thing{i}e " + boiler)
            for i in range(n)]
    # one genuine near-dup pair: doc 1000/1001 share a rare prefix
    rows += [(1000, "rare shared prefix words here alpha beta " + boiler),
             (1001, "rare shared prefix words here alpha gamma " + boiler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sh = shingle_table(df, "text", "doc_id", k=3).select("doc_id", "shingle")
    uncapped = (
        sh.alias("a").join(
            sh.alias("b"),
            [F.col("a.shingle") == F.col("b.shingle"),
             F.col("a.doc_id") < F.col("b.doc_id")])
        .select(F.col("a.doc_id"), F.col("b.doc_id")).distinct().count()
    )
    assert uncapped > n * (n - 1) / 2  # the quadratic blow-up is real

    capped = rare_shingle_candidates(sh, "doc_id", None, max_df=8).count()
    assert capped == 1  # only the genuine pair survives candidate gen

    pairs = ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.5,
                                max_df=8).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1000, 1001)]
    # jaccard is verified on the FULL shingle sets (boilerplate included)
    assert 0.5 <= pairs[0].jaccard < 1.0


def test_ngram_capped_matches_uncapped_on_benign_corpus(spark):
    """With no shingle hotter than the cap, the capped path must return
    byte-identical pairs to the exact uncapped join."""
    from sc_crawler_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different content with no overlap at all"),
            (4, "completely different content with no overlap at most")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple, ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.3).collect()))
    capped = sorted(map(tuple, ngram_jaccard_pairs(
        df, "text", "doc_id", k=3, threshold=0.3, max_df=10).collect()))
    assert base == capped and len(base) >= 2


# ---------------------------------------------------------------- curation


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.tuples(st.integers(0, 50),
              st.integers(0, 40)),   # (doc_id-ish, n_tokens)
    min_size=1, max_size=25),
    budget=st.integers(1, 30))
def test_pack_sequences_matches_greedy_reference(spark, docs, budget):
    """Distributed packing == the local greedy rule for ANY token
    profile and budget, including nt == budget (own truncated bin) and
    acc + nt == budget (exact fit) boundaries."""
    from sc_crawler_spark.operators.packing import pack_sequences

    rows = [(i, nt) for i, (_, nt) in enumerate(docs)]  # unique ids
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, "doc_id", "n_tokens", budget=budget,
                         n_shards=2)
    by_shard = {}
    for r in out.collect():
        by_shard.setdefault(r["shard"], []).append(r)
    assert sum(len(v) for v in by_shard.values()) == len(rows)
    for shard, srows in by_shard.items():
        seq, acc = 0, 0
        expect = {}
        for did, nt in sorted((r["doc_id"], r["n_tokens"]) for r in srows):
            if nt >= budget:
                if acc > 0:
                    seq += 1
                expect[did] = (seq, True)
                seq, acc = seq + 1, 0
            else:
                if acc + nt > budget:
                    seq, acc = seq + 1, 0
                expect[did] = (seq, False)
                acc += nt
        for r in srows:
            assert (r["seq_idx"], r["truncated"]) == expect[r["doc_id"]]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(toks=st.lists(st.text(alphabet="ab", min_size=1, max_size=2),
                     min_size=1, max_size=12),
       k=st.integers(2, 5))
def test_grams_match_python_reference(spark, toks, k):
    """_grams (zip-with chain + trim) == the naive positional k-gram
    list, including the n < k single-element edge."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.queries.curation import _grams

    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(_grams(F.col("toks"), k).alias("g")).collect()[0]["g"]
    n = len(toks)
    if n < k:
        # trimmed to one element; zip padding makes it NULL-joined
        assert len(got) == 1
    else:
        want = [" ".join(toks[i:i + k]) for i in range(n - k + 1)]
        assert got == want


EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=0, max_value=30)),
    min_size=0, max_size=40)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=EDGES)
def test_connected_components_matches_union_find(spark, edges):
    """Law: pointer-jumping label propagation equals classic union-find
    with min-id canonical labels, on any edge multiset (self-loops,
    duplicates, both orientations)."""
    from sc_crawler_spark.operators.graph import connected_components

    edges = edges or [(0, 0)]  # placeholder row feeds BOTH sides
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for a, b in edges:
        # r6 contract: EVERY endpoint appears, self-loop-only nodes as
        # singleton components (graph.py connected_components docstring)
        touched |= {a, b}
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for x in touched:
        comp.setdefault(find(x), []).append(x)
    want = {x: min(m) for m in comp.values() for x in m}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=st.lists(
    st.tuples(st.integers(0, 3),          # user
              st.integers(0, 40000)),     # epoch offset (seconds)
    min_size=0, max_size=20))
def test_session_flag_sum_equals_sessionize_max(spark, events):
    """The counts-only shape (sum of gap-break flags) must equal the
    generic sessionize's max(session_id) per user, and both must equal
    a plain python gap-scan — the r7 single-window-pass rewrite of
    session_counts is a pure plan change."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.operators.windows import session_flags, sessionize

    rows = [(u, ts, i) for i, (u, ts) in enumerate(events)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "user_id int, epoch long, event_id int") \
        .withColumn("ts", F.timestamp_seconds(F.col("epoch"))).drop("epoch")
    gap = 1800

    flagged = session_flags(df, "user_id", "ts", gap, tiebreak="event_id")
    by_flags = {r.user_id: r.n for r in
                flagged.groupBy("user_id")
                .agg(F.sum("_is_new").alias("n")).collect()}
    sess = sessionize(df, "user_id", "ts", gap, tiebreak="event_id")
    by_max = {r.user_id: r.n for r in
              sess.groupBy("user_id")
              .agg(F.max("session_id").alias("n")).collect()}

    # python reference: sort by (ts, event_id), count gap breaks
    import collections
    ref = collections.defaultdict(int)
    per_user = collections.defaultdict(list)
    for u, ts, i in rows:
        per_user[u].append((ts, i))
    for u, evs in per_user.items():
        evs.sort()
        prev = None
        for ts, _i in evs:
            if prev is None or ts - prev > gap:
                ref[u] += 1
            prev = ts
    assert by_flags == by_max == dict(ref)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(text=st.text(
    alphabet="ab c1.!\t\n", min_size=0, max_size=40))
def test_bpe_regex_counts_match_python_re(spark, text):
    """doc_bpe_token_stats' Java-regex piece counts must agree with
    Python's re module on the same pattern (and, by the oracle test,
    with DuckDB's RE2) — three engines, one leftmost-first alternation
    semantics."""
    import re as _re

    from pyspark.sql import functions as F

    from sc_crawler_spark.queries.pipeline import _BPE_PATTERN

    low = text.lower()
    want = len(_re.findall(_BPE_PATTERN, low))
    got = spark.createDataFrame([(low,)], "t string").select(
        F.regexp_count(F.col("t"), F.lit(_BPE_PATTERN)).alias("n")
    ).collect()[0].n
    assert got == want, (text, got, want)


def test_merge_upsert_updates_position_keeps_last(spark):
    """Duplicate update PKs with an arrival-position column: the LAST
    arrival wins (the reference's ON CONFLICT list-order semantics,
    insert.py:24-72) instead of fanning out into duplicate rows."""
    cur = _df(spark, [(1, "old")])
    dup = spark.createDataFrame(
        [(1, "first", 0), (1, "second", 1), (2, "only", 2)],
        "k int, v string, pos int")
    out = merge_upsert(cur, dup.drop("pos"), ["k"])  # no dedup: fans out
    assert sorted(r.k for r in out.collect()) == [1, 1, 2]
    out2 = merge_upsert(cur, keep_last_dedup(dup, ["k"], "pos"), ["k"])
    got = {r.k: r.v for r in out2.collect()}
    assert got == {1: "second", 2: "only"}


def test_row_hash_injective_for_separator_values(spark):
    """The r7 length-prefixed framing: values containing the \\x1f
    separator (or the old null tag) must not let distinct rows collide
    — a collision is a silent hash_diff 'no change' miss."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.functions.hashing import row_hash

    rows = [
        ("x\x1fb\x1fy", None),
        ("x", "y\x1fb\x1f\x00null"),
        ("x", None),
        ("x", ""),                      # NULL vs empty string
        ("x\x1f", "b"),
        ("x", "\x1fb"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    hashes = [r.h for r in
              df.select(row_hash(["a", "b"]).alias("h")).collect()]
    assert len(set(hashes)) == len(rows), "distinct rows collided"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet=st.characters(codec="ascii",
                                   exclude_characters="\x00"),
            min_size=0, max_size=700),
    min_size=1, max_size=4))
def test_chunk_docs_reconstruction_invariants(spark, texts):
    """chunk_docs against a local reimplementation: every chunk hash is
    the md5 of the text slice at (start, size); stride-aligned starts
    cover the whole text (last chunk ends at or past len); each doc
    emits exactly ceil-based floor((len-1)/stride)+1 chunks (one empty
    chunk for empty text)."""
    import hashlib

    from sc_crawler_spark.operators.chunking import (
        CHUNK_SIZE, CHUNK_STRIDE, chunk_docs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = chunk_docs(docs).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        rows = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        want_n = max((len(t) - 1), 0) // CHUNK_STRIDE + 1
        assert len(rows) == want_n, (t, len(rows), want_n)
        for r in rows:
            sl = t[r.chunk_start - 1: r.chunk_start - 1 + CHUNK_SIZE]
            assert r.chunk_hash == hashlib.md5(sl.encode()).hexdigest()
            assert r.chunk_len == len(sl)
        # coverage: the last chunk reaches the end of the text
        last = rows[-1]
        assert last.chunk_start - 1 + last.chunk_len >= len(t)


def test_containment_flags_subset_where_jaccard_cannot(spark):
    """The operator's reason to exist: a short doc fully contained in a
    much longer one scores containment 1.0 while its Jaccard sits far
    below any dedup threshold."""
    from sc_crawler_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon"
    digest = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame([(1, quote), (2, digest)],
                               "doc_id long, text string")
    cont = containment_pairs(df, "text", "doc_id", k=3, threshold=0.9)
    rows = cont.collect()
    assert len(rows) == 1 and rows[0].containment == 1.0
    jac = ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.5)
    assert jac.count() == 0  # Jaccard ~ 3/62 — invisible to Jaccard dedup


def test_anomaly_zscore_survives_degenerate_variance(spark, tmp_path):
    """The pre-sqrt variance guard's contract: a user whose tiny
    constant daily sums quantize to a NEGATIVE computed variance must
    be excluded — not crash DuckDB's sqrt, not leak NaN rows through
    Spark (NaN passes a std > 0 filter in both engines)."""
    import datetime

    import duckdb

    from sc_crawler_spark.queries.lifecycle import (
        ANOMALY_SQL, event_anomaly_zscore,
    )

    rows = []
    eid = 0
    for day in (1, 2):
        ts = datetime.datetime(2024, 1, day, 12, 0, 0)
        # user 1: constant 0.0005/day -> dsum^2 = 2.5e-7 quantizes to 0
        # under DECIMAL(28,6) while (sum)^2/n stays positive -> var < 0
        rows.append((eid, ts, 1, "view", 0.0005, None)); eid += 1
        # user 2: constant large value -> var == 0 exactly
        rows.append((eid, ts, 2, "view", 100.0, None)); eid += 1
        # user 3: genuinely varying (kept only if |z| >= 2; n=2 gives
        # |z| = 0.707 each side, so it is filtered — just must not err)
        rows.append((eid, ts, 3, "view", float(day * 50), None)); eid += 1
    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(f"{lake}/events.parquet")

    got = event_anomaly_zscore(spark, lake).collect()
    assert got == []  # nothing crashes, nothing NaN-leaks
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{lake}/events.parquet/*.parquet'")
    assert con.execute(ANOMALY_SQL).fetchall() == []  # sqrt never sees <0
    con.close()


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1,
    max_size=5))
def test_duplicate_spans_matches_python_reference(spark, texts):
    """r8 duplicate_spans vs a brute-force Python reference over tiny
    random corpora: same flagged docs, same merged-coverage totals.
    Small width (4) so the 30-char texts exercise multi-island cases."""
    from sc_crawler_spark.operators.dedup import duplicate_spans

    width = 4
    docs = list(enumerate(texts))
    # Python reference: positions whose window appears in another doc
    windows: dict = {}
    for i, t in docs:
        for p in range(len(t) - width + 1):
            windows.setdefault(t[p:p + width], set()).add(i)
    expect = {}
    for i, t in docs:
        marked = [p for p in range(len(t) - width + 1)
                  if len(windows[t[p:p + width]]) > 1]
        if not marked:
            continue
        covered = set()
        for p in marked:
            covered.update(range(p, p + width))
        # islands = maximal runs of covered positions
        spans, start, prev = [], None, None
        for c in sorted(covered):
            if start is None:
                start = prev = c
            elif c == prev + 1:
                prev = c
            else:
                spans.append(prev - start + 1)
                start = prev = c
        spans.append(prev - start + 1)
        expect[i] = (len(spans), sum(spans), max(spans))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_dup_spans, r.dup_chars, r.max_span_chars)
           for r in duplicate_spans(df, "text", "doc_id",
                                    width=width).collect()}
    assert got == expect


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1,
    max_size=5))
def test_remove_duplicate_spans_matches_python_reference(spark, texts):
    """r10 remove_duplicate_spans vs brute force (r9 verdict task 4):
    the cleaned text must equal the original minus exactly the covered
    positions, removed_chars must equal duplicate_spans' dup_chars, and
    no cleaned doc may retain any originally-flagged cross-doc
    window."""
    from sc_crawler_spark.operators.dedup import (
        duplicate_spans, remove_duplicate_spans)

    width = 4
    docs = list(enumerate(texts))
    windows: dict = {}
    for i, t in docs:
        for p in range(len(t) - width + 1):
            windows.setdefault(t[p:p + width], set()).add(i)
    dup_windows = {w for w, ids in windows.items() if len(ids) > 1}
    expect = {}
    for i, t in docs:
        covered = set()
        for p in range(len(t) - width + 1):
            if t[p:p + width] in dup_windows:
                covered.update(range(p, p + width))
        expect[i] = "".join(c for p, c in enumerate(t) if p not in covered)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {r.doc_id: r.dup_chars
             for r in duplicate_spans(df, "text", "doc_id",
                                      width=width).collect()}
    got = remove_duplicate_spans(df, "text", "doc_id",
                                 width=width).collect()
    assert len(got) == len(docs)  # every input doc comes back
    for r in got:
        t = dict(docs)[r.doc_id]
        assert r.clean_text == expect[r.doc_id]
        assert r.removed_chars == stats.get(r.doc_id, 0)
        assert len(t) - len(r.clean_text) == r.removed_chars


def test_containment_band_prefilter_recall(spark):
    """The adversarial-scale knob's contract (r11 verdict task 4):
    ``band_prefilter=True`` replaces the rare-shingle candidate join
    with MinHash band buckets but keeps the EXACT full-set verify, so
    (a) every emitted pair is a true pair (banded ⊆ exact — no false
    positives by construction) and (b) on a ciphered-clone corpus —
    near-size near-dups, the shape the knob exists for — recall vs the
    unblocked exact arm is >= 0.95 at the defaults (16 hashes x bands
    of 2: P[candidate] ≈ 1-(1-j²)^8 ≈ 0.99 at the jaccard ≈ 0.67 that
    containment 0.8 implies for near-size pairs)."""
    import random

    from sc_crawler_spark.operators.dedup import containment_pairs

    rng = random.Random(7)
    words = [f"tok{i}" for i in range(50)]
    rows = []
    doc_id = 0
    for base in range(40):
        text = " ".join(rng.choice(words) for _ in range(60))
        # bijective "cipher" per copy: rename the token universe so
        # copies share no shingles ACROSS copies (like bench's
        # _copy_cipher) while each copy keeps its internal near-dup —
        # the original plus a drop-last-3-tokens truncation.
        for copy in range(3):
            ciphered = " ".join(f"c{copy}b{base}{w}" for w in text.split())
            # Alternate near-dup shapes so the fixture exercises BOTH
            # aligned and SHIFTED shingle positions (the r12 advice bug:
            # position-seeded pseudo-signatures pass a truncation-only
            # fixture because truncation keeps array positions aligned;
            # a mid-document insertion/substitution shifts every later
            # shingle's position and exposes them):
            toks = ciphered.split()
            if copy == 0:            # prefix truncation (aligned)
                near = toks[:-3]
            elif copy == 1:          # mid-document insertion (shifts)
                near = toks[:20] + [f"ins{base}"] + toks[20:]
            else:                    # mid-document substitution (local)
                near = toks[:30] + [f"sub{base}"] + toks[31:]
            rows.append((doc_id, ciphered))
            rows.append((doc_id + 1, " ".join(near)))
            doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.id_a, r.id_b): r.containment
             for r in containment_pairs(
                 df, "text", "doc_id", k=3, threshold=0.8).collect()}
    banded = {(r.id_a, r.id_b): r.containment
              for r in containment_pairs(
                  df, "text", "doc_id", k=3, threshold=0.8,
                  band_prefilter=True).collect()}
    assert exact, "fixture must produce true pairs"
    # no false positives: every banded pair is an exact pair with the
    # identical (exact-verified) score
    for pair, score in banded.items():
        assert exact[pair] == score
    recall = len(banded) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} over {len(exact)} pairs"


def test_containment_size_partitioned_subset_recall(spark):
    """The LSH-Ensemble arm's contract (r12 verdict task 4): HIGHLY
    asymmetric subset pairs — short doc ⊆ long doc, jaccard ≈
    |A|/|B| ≈ 0.15, far below any 2-row jaccard banding's reach — must
    be recalled >= 0.95 by ``size_partitioned=True`` at the DEFAULTS
    (64 single-row bands, min_bands=2, max_ratio=8: predicted
    per-pair P[>=2 colliding bands] ≈ 0.999 at j=0.15), with every
    emitted pair exact-verified (banded ⊆ exact, identical scores).
    The 2-row banded arm misses these by design — its documented
    blind spot."""
    import random

    from sc_crawler_spark.operators.dedup import containment_pairs

    rng = random.Random(21)
    words = [f"tok{i}" for i in range(80)]
    rows, doc_id = [], 0
    for base in range(40):
        toks = [rng.choice(words) for _ in range(80)]
        for copy in range(3):
            long_doc = [f"c{copy}b{base}{w}" for w in toks]
            short_doc = long_doc[:14]       # ~12 shingles ⊂ ~78: ratio ~6.5
            rows.append((doc_id, " ".join(long_doc)))
            rows.append((doc_id + 1, " ".join(short_doc)))
            doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.id_a, r.id_b): r.containment
             for r in containment_pairs(
                 df, "text", "doc_id", k=3, threshold=0.9).collect()}
    sized = {(r.id_a, r.id_b): r.containment
             for r in containment_pairs(
                 df, "text", "doc_id", k=3, threshold=0.9,
                 size_partitioned=True, n_hashes=64,
                 band_rows=1).collect()}
    assert len(exact) >= 120, "every subset pair is a true pair"
    for pair, score in sized.items():
        assert exact[pair] == score      # exact verify = same score
    recall = len(set(sized) & set(exact)) / len(exact)
    assert recall >= 0.95, f"asymmetric recall {recall:.3f}"


def test_containment_size_partitioned_ratio_gate(spark):
    """Pairs more asymmetric than ``max_ratio`` are out of the
    declared envelope: with max_ratio=2 the ratio-10 subset pairs are
    gated out at the exact verify, and band_rows != 1 is a loud
    error, not silently-wrong math."""
    import pytest

    from sc_crawler_spark.operators.dedup import containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(80))
    short_doc = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc)], "doc_id long, text string")
    got = containment_pairs(df, "text", "doc_id", k=3, threshold=0.9,
                            size_partitioned=True, n_hashes=64,
                            band_rows=1, max_ratio=2.0).collect()
    assert got == []
    with pytest.raises(ValueError, match="band_rows=1"):
        containment_pairs(df, "text", "doc_id",
                          size_partitioned=True, band_rows=2)


def test_lr_train_actually_learns(spark):
    """The distributed GD must LEARN, not just run: on the sf0.001
    corpus the trained model beats the majority-class floor by a wide
    margin, the signal weight dominates the uninformative ones, and
    the apply query's per-doc flags reproduce the train query's
    accuracy exactly (same chain, same weights)."""
    from pyspark.sql import functions as F

    from sc_crawler_spark.queries.pipeline import (doc_quality_lr_apply,
                                                   doc_quality_lr_train)

    sf = "/root/testdata/sf0.001"
    row = doc_quality_lr_train(spark, sf).first()
    assert row.accuracy >= 0.9, row
    assert abs(row.w_len) > 5 * abs(row.w_mwl), row
    assert abs(row.w_len) > 5 * abs(row.w_marker), row
    applied = doc_quality_lr_apply(spark, sf).agg(
        F.sum("is_correct").alias("c"), F.count("*").alias("n")).first()
    assert round(applied.c / applied.n, 6) == row.accuracy
    assert applied.n == row.n_docs


def test_bpe_greedy_fold_matches_reference(spark):
    """The zero-shuffle F.aggregate merge application must reproduce
    Sennrich's leftmost-greedy scan exactly — including overlapping
    runs ('aaaa' under (a,a) -> [aa, aa]; 'aaa' -> [aa, a]) and the
    skip of a match consumed by the previous merge."""
    import random

    from pyspark.sql import functions as F

    from sc_crawler_spark.queries.pipeline import bpe_greedy_merge

    def ref_apply(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    rng = random.Random(3)
    cases = ["aaaa", "aaa", "abab", "banana", "ab", "a", "bbaabb",
             "aabbaabb"] + [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 12)))
        for _ in range(40)]
    df = spark.createDataFrame([(c,) for c in cases], "w string")
    got = {r["w"]: r["m"] for r in df.select(
        "w", bpe_greedy_merge(F.split("w", ""), F.lit("a"),
                              F.lit("b")).alias("m")).collect()}
    for c in cases:
        assert got[c] == ref_apply(list(c), "a", "b"), c


def test_fast_signatures_are_independent_minhashes(spark):
    """Regression for the r12 advice bug: the zero-explode xxhash64
    signature columns must be INDEPENDENT per-seed minhashes, not one
    position-seeded hash repeated n times. On a multi-shingle doc the
    odds of 8 true minhashes all colliding are ~0; the broken
    two-parameter-lambda form made them identical by construction."""
    from sc_crawler_spark.operators.dedup import (
        _fast_signatures_from_shingles, doc_shingles)

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40)))],
        "doc_id long, text string")
    sh = doc_shingles(df, "text", "doc_id", 3)
    row = _fast_signatures_from_shingles(sh, "doc_id", 8).first()
    vals = [row[f"mh_{i}"] for i in range(8)]
    assert len(set(vals)) >= 6, f"signatures not independent: {vals}"


def test_minhash_lsh_fast_signatures_recall(spark):
    """``fast_signatures=True`` must reproduce the md5 path's verified
    pair set on a position-shifting near-dup corpus: both arms EXACT-
    verify candidates, so any emitted pair carries the identical
    jaccard; recall of fast vs default must be >= 0.95 (same s-curve
    family, different hash convention)."""
    import random

    from sc_crawler_spark.operators.dedup import minhash_lsh_pairs

    rng = random.Random(13)
    words = [f"tok{i}" for i in range(60)]
    rows, doc_id = [], 0
    for base in range(30):
        toks = [rng.choice(words) for _ in range(50)]
        ciphered = [f"b{base}{w}" for w in toks]
        near = ciphered[:15] + [f"x{base}"] + ciphered[15:]  # shifts
        rows.append((doc_id, " ".join(ciphered)))
        rows.append((doc_id + 1, " ".join(near)))
        doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(k=3, n_hashes=8, band_rows=2, threshold=0.6)
    md5 = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(
        df, "text", "doc_id", **kw).collect()}
    fast = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(
        df, "text", "doc_id", fast_signatures=True, **kw).collect()}
    assert md5, "fixture must produce true pairs"
    for pair, jac in fast.items():
        assert md5.get(pair, jac) == jac  # exact verify = same score
    recall = len(set(fast) & set(md5)) / len(md5)
    assert recall >= 0.95, f"fast-signature recall {recall:.3f}"


def test_containment_band_prefilter_block_col(spark):
    """block_col folds into the band bucket key: same-text docs in
    DIFFERENT blocks never pair, same-block near-dups still do."""
    from sc_crawler_spark.operators.dedup import containment_pairs

    text = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, text, "en"), (2, text, "en"), (3, text, "de")],
        "doc_id long, text string, lang string")
    got = {(r.id_a, r.id_b) for r in containment_pairs(
        df, "text", "doc_id", k=3, threshold=0.8, block_col="lang",
        band_prefilter=True).collect()}
    assert got == {(1, 2)}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.integers(0, 6),           # pk
              st.integers(0, 100),         # observed_at
              st.integers(-50, 50)),       # value
    min_size=1, max_size=25),
    ts=st.integers(-5, 105))
def test_as_of_snapshot_is_python_filter_semantics(spark, rows, ts):
    """r16 SCD2 time-travel property: as_of(ts) == the reference
    semantics computed locally — for each pk, the max-observed_at row
    among versions with observed_at <= ts (value as tiebreak to make
    duplicate (pk, observed_at) fixtures deterministic); and
    as_of(max_ts) == latest_snapshot exactly."""
    from sc_crawler_spark.operators.windows import (
        as_of_snapshot, latest_snapshot)

    df = spark.createDataFrame(rows, "k int, observed_at int, v int")
    got = {r["k"]: (r["observed_at"], r["v"])
           for r in as_of_snapshot(df, ["k"], F.lit(ts),
                                   tiebreak="v").collect()}
    want = {}
    for k, oa, v in rows:
        if oa <= ts and (k not in want or (oa, v) > want[k]):
            want[k] = (oa, v)
    assert got == want
    max_ts = max(oa for _, oa, _ in rows)
    a = sorted(map(tuple, as_of_snapshot(
        df, ["k"], F.lit(max_ts), tiebreak="v").collect()))
    b = sorted(map(tuple, latest_snapshot(df, ["k"], tiebreak="v").collect()))
    assert a == b


def test_weighted_sample_is_topk_of_key_order(spark):
    """r16 A-ES property: the emitted sample is EXACTLY the top-k of
    the deterministic key ordering recomputed locally (md5-uniform,
    ln(u)/w, doc_id tiebreak), i.e. selection is a pure function of
    (doc_id, weight) — no rand(), no partitioning dependence."""
    import hashlib as _h
    import math

    from sc_crawler_spark.queries.curation import (
        _WRS_K, weighted_sample_docs)
    from sc_crawler_spark.tables import load

    sf = "/root/testdata/sf0.001"
    got = [(r.doc_id, r.weight)
           for r in weighted_sample_docs(spark, sf).collect()]
    docs = load(spark, sf, "documents").select("doc_id", "text").collect()
    keyed = []
    for r in docs:
        m = int(_h.md5(str(r.doc_id).encode()).hexdigest()[:6], 16)
        u = (m + 0.5) / 16 ** 6
        k = round(math.log(u) / len(r.text), 12)
        keyed.append((-k, r.doc_id, len(r.text)))
    keyed.sort()
    want = [(d, w) for _, d, w in keyed[:_WRS_K]]
    assert got == want and len(got) == _WRS_K
