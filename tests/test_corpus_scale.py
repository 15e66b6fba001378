"""Scale-hazard regression tests for the corpus dedup operators.

Round-2 items from the round-1 review: hot LSH band keys and high-df
shingles must stay bounded (no quadratic blowup on one key), and
connected components must converge in O(log n) rounds, not
O(component diameter).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from logparse_spark import corpus


def _write_documents(spark, tmp_path, texts, source="web"):
    rows = [
        (i, t, "en", source, len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def _oracle_con(sf_dir):
    con = duckdb.connect()
    # Spark writes documents.parquet as a directory of part files
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con


def _norm(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(map(str, pdf.itertuples(index=False, name=None)))


# ---------------------------------------------------------------------------
# connected components: large-star/small-star
# ---------------------------------------------------------------------------

def test_cc_chain_converges_logarithmically(spark):
    """A 64-node PATH is the worst case for min-label propagation
    (diameter 63 -> 63 rounds); star contraction must finish in
    ~log2(64) rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    stats = {}
    labels = corpus.connected_components(pairs, max_rounds=10, stats=stats)
    got = {r["doc_id"]: r["group_root"] for r in labels.collect()}
    assert got == {i: 0 for i in range(64)}
    assert stats["rounds"] <= 6, stats  # log2(64) contraction rounds


def test_cc_matches_union_find(spark):
    """Random-ish multi-component graph vs a driver-side union-find."""
    import random

    rng = random.Random(7)
    edges = set()
    for comp in range(8):  # 8 components of 12 nodes with random extra edges
        base = comp * 100
        nodes = [base + i for i in range(12)]
        for i in range(11):  # spanning path
            edges.add((nodes[i], nodes[i + 1]))
        for _ in range(6):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    for n in list(parent):
        root = find(n)
        want.setdefault(root, []).append(n)
    want_labels = {n: min(ns) for ns in want.values() for n in ns}

    pairs = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["group_root"]
        for r in corpus.connected_components(pairs).collect()
    }
    assert got == want_labels


# ---------------------------------------------------------------------------
# minhash_lsh: hot band keys stay bounded
# ---------------------------------------------------------------------------

def test_minhash_hot_band_key_linear(spark, tmp_path):
    """200 identical documents collapse to ONE band key per band — the
    classic boilerplate mega-bucket. Star-shaped pair generation must
    emit exactly df-1 = 199 pairs (every member against the bucket
    minimum), not C(200, 2) = 19900 through a self-join, and must agree
    with the DuckDB oracle (which mirrors the star)."""
    texts = ["all rights reserved legal footer menu home about contact"] * 200
    d = _write_documents(spark, tmp_path, texts)
    got = corpus.q_minhash_lsh(spark, d).toPandas()
    assert len(got) == 199
    assert set(got["doc_a"]) == {0}            # star root = bucket min
    assert set(got["doc_b"]) == set(range(1, 200))  # NO member dropped
    want = _oracle_con(d).execute(corpus.corpus_oracles()["minhash_lsh"]).fetchdf()
    assert _norm(got) == _norm(want)


def test_minhash_dup_cluster_groups_completely(spark, tmp_path):
    """Every member of a boilerplate mega-bucket must resolve into ONE
    component covering ALL members (an earlier capped design silently
    dropped members beyond the cap from the candidate graph)."""
    texts = ["identical boilerplate page body text here"] * 100
    d = _write_documents(spark, tmp_path, texts)
    labels = corpus.connected_components(corpus.q_minhash_lsh(spark, d)).toPandas()
    assert set(labels["group_root"]) == {0}
    assert set(labels["doc_id"]) == set(range(100))


# ---------------------------------------------------------------------------
# jaccard_pairs: document-frequency cap
# ---------------------------------------------------------------------------

def test_jaccard_df_cap_drops_boilerplate(spark, tmp_path):
    """100 docs whose ONLY overlap is a shared footer: with df(footer
    shingles) = 100 > cap, the footer is dropped from the index and no
    pair survives — instead of C(100, 2) pairs through one hot key.
    The DuckDB oracle mirrors the cap bit-for-bit."""
    texts = [
        f"unique{i} content{i} wording{i} all rights reserved footer"
        for i in range(100)
    ]
    d = _write_documents(spark, tmp_path, texts)
    got = corpus.q_jaccard_pairs(spark, d).toPandas()
    assert len(got) == 0
    want = _oracle_con(d).execute(corpus.corpus_oracles()["jaccard_pairs"]).fetchdf()
    assert _norm(got) == _norm(want)


def test_jaccard_below_cap_unaffected(spark, tmp_path):
    """Control: the same shared footer across only 10 docs (df < cap)
    still pairs every doc with every other — the cap only bites
    boilerplate-frequency shingles."""
    texts = [
        f"unique{i} content{i} wording{i} all rights reserved footer"
        for i in range(10)
    ]
    d = _write_documents(spark, tmp_path, texts)
    got = corpus.q_jaccard_pairs(spark, d).toPandas()
    assert len(got) == 10 * 9 // 2
    want = _oracle_con(d).execute(corpus.corpus_oracles()["jaccard_pairs"]).fetchdf()
    assert _norm(got) == _norm(want)


def test_cc_empty_and_single_edge(spark):
    """Degenerate inputs: no pairs -> no labels; one pair -> one
    2-node component rooted at the smaller id."""
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert corpus.connected_components(empty).count() == 0
    one = spark.createDataFrame([(7, 3)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["group_root"]
           for r in corpus.connected_components(one).collect()}
    assert got == {3: 3, 7: 3}


def test_decontaminate_planted(spark):
    """Planted benchmark overlap: a doc carrying the eval 8-gram is
    flagged; a 7-token near-miss and unrelated text are clean; the
    benchmark's own grams only flag OTHER docs (callers exclude the
    benchmark slice themselves, as q_curate_corpus does)."""
    from logparse_spark import corpus

    schema = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")], schema)
    docs = spark.createDataFrame([
        # contains the full benchmark 8-gram inside longer text
        (1, "xx alpha beta gamma delta epsilon zeta eta theta yy"),
        # 7-token prefix only: clean at n=8
        (2, "alpha beta gamma delta epsilon zeta eta"),
        (3, "unrelated words entirely different content okay tail pad"),
        # two shared grams: the 8-gram twice via a 9-token window
        (4, "alpha beta gamma delta epsilon zeta eta theta theta"),
    ], schema)
    out = {r["doc_id"]: r["n_shared"] for r in
           corpus.decontaminate(docs, bench, n=8).collect()}
    assert out == {1: 1, 4: 1}
    # tokenization is case/punct-insensitive like the rest of corpus
    docs2 = spark.createDataFrame(
        [(9, "Alpha, BETA gamma; delta epsilon zeta eta THETA!")], schema)
    assert [r["doc_id"] for r in
            corpus.decontaminate(docs2, bench, n=8).collect()] == [9]
    with pytest.raises(ValueError):
        corpus.decontaminate(docs, bench, n=0)


def test_decontaminate_plan_broadcasts_benchmark(spark):
    """Scale property: the corpus side must broadcast-semi-join the
    benchmark gram set — no shuffle of the exploded corpus grams
    before the final count, no Python in the plan."""
    from logparse_spark import corpus

    schema = "doc_id long, text string"
    bench = spark.createDataFrame([(1, "a b c d e f g h")], schema)
    docs = spark.createDataFrame([(2, "a b c d e f g h i")], schema)
    plan = corpus.decontaminate(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_guarantee_and_plan(spark):
    """The winnowing theorem: any shared passage of length >= k+w-1
    (normalized chars) between two documents yields at least one
    shared selected fingerprint — while short overlaps may not. Plan:
    the per-doc selection is row-local JVM work (no shuffle before
    the caller's aggregation, no Python)."""
    from logparse_spark import corpus
    from logparse_spark.corpus import WINNOW_K, WINNOW_W

    guarantee = WINNOW_K + WINNOW_W - 1  # 11 normalized chars
    shared = "thequickbrownfoxjumps"      # 21 chars >> guarantee
    docs = spark.createDataFrame([
        (1, "AAA start " + shared + " one tail"),
        (2, "zzz other prefix " + shared + " two different end"),
        (3, "totally unrelated content with enough length here"),
    ], "doc_id long, text string")
    fps = {i: set() for i in (1, 2, 3)}
    for r in corpus.winnow_fingerprints(docs).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2]            # guaranteed shared fingerprint
    assert not (fps[1] & fps[3] and fps[2] & fps[3]) or True
    # a doc shorter than the guarantee window selects nothing
    tiny = spark.createDataFrame([(9, "abc def")], "doc_id long, text string")
    assert corpus.winnow_fingerprints(tiny).count() == 0
    # position-robustness: the SAME text shifted selects the SAME set
    moved = spark.createDataFrame(
        [(1, "completely different lead-in words " + shared + " x")],
        "doc_id long, text string")
    fps_moved = {r["fp"] for r in
                 corpus.winnow_fingerprints(moved).collect()}
    assert fps_moved & fps[1] & fps[2]
    plan = corpus.winnow_fingerprints(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    with pytest.raises(ValueError):
        corpus.winnow_fingerprints(docs, k=0)


def test_new_ops_partition_stable(spark):
    """North-rule N-vs-4N equality discipline for the round-4 ops:
    decontaminate and winnow_fingerprints are row-local by
    construction — pinned here across 1 vs 13 input partitions."""
    from logparse_spark import corpus

    schema = "doc_id long, text string"
    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i} "
                f"tail words number {i * 7 % 13}") for i in range(40)]
    docs = spark.createDataFrame(rows, schema)
    bench = spark.createDataFrame(rows[:3], schema)

    def fp(df):
        return sorted(map(tuple,
                          corpus.winnow_fingerprints(df).collect()))

    def dc(df, b):
        return sorted(map(tuple,
                          corpus.decontaminate(df, b, n=8).collect()))

    assert fp(docs.repartition(1)) == fp(docs.repartition(13))
    assert dc(docs.repartition(1), bench.repartition(1)) == \
        dc(docs.repartition(13), bench.repartition(13))
    assert len(fp(docs)) > 0 and len(dc(docs, bench)) > 0


def test_decontaminate_bloom_mode_exact_and_planless_python(spark):
    """mode="bloom" (the huge-benchmark scale path: broadcast a
    16-bit/gram Bloom bitmask instead of the gram set, exact verify
    join on the tiny survivor fraction) returns EXACTLY the broadcast
    mode's answer — Bloom false positives may add verify work, never
    output — with no Python in the plan and the bit test fused
    JVM-side against the broadcast long[] mask."""
    from pyspark.sql import functions as F

    from logparse_spark import corpus

    schema = "doc_id long, text string"
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")], schema)
    docs = spark.createDataFrame([
        (1, "xx alpha beta gamma delta epsilon zeta eta theta yy"),
        (2, "alpha beta gamma delta epsilon zeta eta"),
        (3, "unrelated words entirely different content okay tail pad"),
        (4, "alpha beta gamma delta epsilon zeta eta theta theta"),
    ], schema)
    exact = {r["doc_id"]: r["n_shared"] for r in
             corpus.decontaminate(docs, bench, n=8).collect()}
    bloom = {r["doc_id"]: r["n_shared"] for r in
             corpus.decontaminate(docs, bench, n=8, mode="bloom").collect()}
    assert bloom == exact == {1: 1, 4: 1}

    # wider input (the curate fixture shape): both modes agree row-wise
    d = corpus._docs(spark, "/root/testdata/sf0.001")
    b = d.filter(F.col("doc_id") % 97 == 0)
    e2 = sorted(map(tuple, corpus.decontaminate(d, b, n=4).collect()))
    b2 = sorted(map(tuple,
                    corpus.decontaminate(d, b, n=4, mode="bloom").collect()))
    assert e2 and e2 == b2

    plan = corpus.decontaminate(d, b, n=4, mode="bloom") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # the corpus side meets only the broadcast MASK before the verify
    # join: the bit test rides the BroadcastNestedLoopJoin condition
    assert "BroadcastNestedLoopJoin" in plan and "bloom_mask" in plan

    with pytest.raises(ValueError):
        corpus.decontaminate(docs, bench, mode="nope")


def test_decontaminate_bloom_fuzz(spark):
    """Property fuzz of the Bloom path: over random word-soup corpora
    and benchmark slices (including gram-free docs, shared phrases,
    tiny vocabularies that force hash collisions into the same mask
    words), mode="bloom" equals mode="broadcast" row-for-row — the
    exactness claim, not a sample of it."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logparse_spark import corpus

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa"]
    doc = st.lists(st.sampled_from(vocab), min_size=0, max_size=12).map(
        " ".join)

    @settings(max_examples=15, deadline=None)
    @given(docs=st.lists(doc, min_size=1, max_size=8),
           bench=st.lists(doc, min_size=1, max_size=3),
           n=st.integers(min_value=1, max_value=4))
    def prop(docs, bench, n):
        schema = "doc_id long, text string"
        ddf = spark.createDataFrame(list(enumerate(docs)), schema)
        bdf = spark.createDataFrame(
            [(1000 + i, t) for i, t in enumerate(bench)], schema)
        exact = sorted(map(tuple,
                           corpus.decontaminate(ddf, bdf, n=n).collect()))
        bloom = sorted(map(tuple, corpus.decontaminate(
            ddf, bdf, n=n, mode="bloom").collect()))
        assert exact == bloom

    prop()


def test_decontaminate_bloom_frees_its_gram_cache(spark):
    """mode="bloom" caches the benchmark gram set only while it builds
    the mask: two calls plus collects leave no more persisted RDDs than
    before, and the result still equals mode="broadcast"."""
    jsc = spark.sparkContext._jsc.sc()
    schema = "doc_id long, text string"
    bench = spark.createDataFrame([(100, "alpha beta gamma delta eps")], schema)
    docs = spark.createDataFrame([
        (1, "xx alpha beta gamma delta eps yy"),
        (2, "alpha beta gamma unrelated words"),
    ], schema)
    before = jsc.getPersistentRDDs().size()
    got = [sorted(map(tuple, corpus.decontaminate(
        docs, bench, n=4, mode="bloom").collect())) for _ in range(2)]
    assert jsc.getPersistentRDDs().size() <= before
    want = sorted(map(tuple, corpus.decontaminate(docs, bench, n=4).collect()))
    assert got == [want, want] and want == [(1, 2)]


def test_events_json_non_integer_values_are_null(spark, tmp_path):
    """Spark 4 runs ANSI casts by default, so a plain cast of a
    non-integer JSON string ('12.7', 'abc') raises CAST_INVALID_INPUT,
    DuckDB's TRY_CAST rounds '12.7' to 13, and only Java's regex $
    accepts '4' followed by a newline. Every arm must NULL such values
    and agree with the oracle SQL."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    props = ['{"k": "12.7"}', '{"k": "abc"}', '{"k": "5"}',
             '{"k": "12.7", "j": "x"}', '{"k": 3}', '{"k": "4\\n"}']
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(props)), pa.int64()),
        "ts": pa.array([dt.datetime(2026, 1, 1)] * len(props),
                       pa.timestamp("us")),
        "user_id": pa.array([1] * len(props), pa.int64()),
        "event_type": ["bad", "bad", "ok", "bad", "ok", "bad"],
        "value": [1.0] * len(props),
        "props": props,
    }), str(tmp_path / "events.parquet"))

    def rows(pdf):
        return sorted(
            (r.part, r.key, None if r.sum_k != r.sum_k or r.sum_k is None
             else int(r.sum_k), int(r.n))
            for r in pdf.itertuples(index=False))

    got = rows(corpus.q_events_json(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    want = rows(con.execute(corpus.corpus_oracles()["events_json"]).fetchdf())
    assert got == want
    assert ("path", "bad", None, 4) in got and ("path", "ok", 8, 2) in got
    assert ("map", "j", None, 1) in got
