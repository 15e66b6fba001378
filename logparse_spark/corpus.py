"""Training-data / corpus operators over the driver tables.

Large-scale training-data pipeline ops (dedup, similarity search,
text analysis, event analytics) expressed Spark-first over the
driver's ``documents`` / ``embeddings`` / ``events`` parquet tables,
each paired with a DuckDB oracle that reproduces the computation
bit-for-bit (md5-based hashing, integer counts, double-precision
arithmetic with identical evaluation order).

Design notes for 100 TB scale are in each docstring; everything here
is shuffle-aware: dedup is hash-groupBy (map-side partial), MinHash
LSH banding turns all-pairs O(n^2) into an equi-join on band keys,
and brute-force ANN is the verifiable baseline for the bucketed
variant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DIM = 64  # embedding dimensionality of the driver's embeddings table

# Shared k-means hyperparameters: semantic dedup (dedup_embed) and the
# trained IVF quantizer use the SAME (k, n_iter, md5-order init), so
# ONE oracle-side numpy replication (_sem_oracle_centroids) serves both
# — the centroid literals it inlines replay either assignment in DuckDB.
_SEM_K, _SEM_ITER, _SEM_THRESH = 8, 3, 0.35

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


_WORDS = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"          # spark
_WORDS_DUCK = "regexp_extract_all(lower(text), '[a-z0-9]+')"        # duckdb

# train/val/test weights for the deterministic hash split
SPLIT_WEIGHTS = (("train", 0.90), ("val", 0.05), ("test", 0.05))


def _split_hex_bounds(weights=SPLIT_WEIGHTS) -> list[tuple[str, str]]:
    """(name, exclusive upper bound as 8 lowercase hex chars) per
    split, cumulative. md5's hex digest is uniform, so comparing its
    first 8 chars LEXICOGRAPHICALLY against these bounds partitions
    keys in the requested proportions — identically in every engine
    that has md5 (Spark, DuckDB), with no integer-parse dialect
    differences."""
    total = sum(w for _, w in weights)
    out, cum = [], 0.0
    for name, w in weights:
        cum += w / total
        hi = min(int(cum * 16**8), 16**8 - 1) if cum < 1.0 else 16**8
        out.append((name, format(hi, "08x") if hi < 16**8 else "g" * 8))
    return out


def split_column(key_col: str = "doc_id", weights=SPLIT_WEIGHTS):
    """Deterministic train/val/test assignment from a content-stable
    key: ``substr(md5(key), 1, 8)`` against cumulative hex bounds.

    Why not rand(seed)/randomSplit: their output depends on partition
    layout and row order, so the same document can change split
    between runs, cluster sizes, or after a compaction — leakage
    between train and eval. A key hash is reproducible everywhere,
    append-stable (new docs don't reshuffle old assignments), and
    portable to any other engine touching the same corpus."""
    probe = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    expr = None
    for name, hi in _split_hex_bounds(weights):
        cond = probe < F.lit(hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr


def split_case_sql(key_col: str = "doc_id", weights=SPLIT_WEIGHTS) -> str:
    """DuckDB twin of :func:`split_column` (md5/substr agree)."""
    probe = f"substr(md5(CAST({key_col} AS VARCHAR)), 1, 8)"
    branches = " ".join(
        f"WHEN {probe} < '{hi}' THEN '{name}'"
        for name, hi in _split_hex_bounds(weights))
    return f"CASE {branches} END"


def hash_sample(df: DataFrame, fraction: float, key_col: str = "doc_id",
                salt: str = "") -> DataFrame:
    """Deterministic reproducible sampling: keep rows whose salted key
    hash falls below ``fraction`` of the hex space. Same contract as
    split_column — stable under repartition/append/engine change,
    which `df.sample()` is not; ``salt`` yields independent samples
    from the same corpus."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1]: {fraction}")
    hi = min(int(fraction * 16**8), 16**8 - 1) if fraction < 1.0 else 16**8
    bound = format(hi, "08x") if hi < 16**8 else "g" * 8
    probe = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8)
    return df.filter(probe < F.lit(bound))


def _with_words(df: DataFrame) -> DataFrame:
    return df.withColumn("ws", F.expr(_WORDS))


def _with_bigrams(df: DataFrame) -> DataFrame:
    """Distinct word-2-gram shingles per doc (empty when <2 words).

    Implementation note: slice+zip_with, NOT transform(sequence(i),
    element_at(ws, i)). Higher-order-function lambdas are interpreted
    (no codegen subexpression elimination), so an `element_at(ws, i)`
    lambda re-evaluates the inlined regexp_extract_all that produced
    `ws` once PER ELEMENT — O(words^2) regex work per document.
    slice/zip_with evaluate `ws` a constant number of times per row."""
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    big = F.zip_with(
        F.slice(F.col("ws"), 1, n1),
        F.slice(F.col("ws"), 2, n1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    return df.withColumn("shingles", F.array_distinct(big))


_BIGRAMS_DUCK = (
    "list_distinct(list_transform(range(1, len(ws)), "
    "i -> ws[i] || ' ' || ws[i+1]))"
)


def _dot64(a: str, b: str, dialect: str) -> str:
    """64-term double-precision dot product with identical left-assoc
    evaluation order in both engines (arrays are 1-indexed in both
    DuckDB subscripts and Spark element_at)."""
    if dialect == "duckdb":
        terms = [f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, DIM + 1)]
    else:
        terms = [
            f"(CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({b}, {i}) AS DOUBLE))"
            for i in range(1, DIM + 1)
        ]
    return "(" + " + ".join(terms) + ")"


def _dot_col(a, b):
    """Spark-side dot product as zip_with + left-fold aggregate.

    Bit-identical to the 64-term literal sum `_dot64` emits for the
    DuckDB oracle (verified exact on all pairs): aggregate folds
    left-assoc, 0.0 + t1 + ... + t64, and per-element multiply order
    is IEEE-commutative. The literal form costs ~10s of driver-side
    analysis/codegen for the ~600-node tree per 3-dot query — this
    tree is 3 nodes, so cold-start planning cost vanishes; at 2k rows
    the interpreted higher-order fold is noise, and at scale the dot
    product is memory-bound either way."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine_col(a: str, b: str):
    """round(cos_sim, 6) as a Column, oracle-exact (see _dot_col)."""
    sim = _dot_col(a, b) / (F.sqrt(_dot_col(a, a)) * F.sqrt(_dot_col(b, b)))
    return F.round(sim, 6)


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keeper = min doc_id.

    Scale: one shuffle on the 32-hex-char hash (never the full text);
    partial aggregation map-side; at 100 TB add an xxhash64 pre-pass
    and only md5 on colliding buckets."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
    )


def _lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b, k): the 4 LSH band keys per document.

    Lane construction: the 8 minhash lanes are 32-bit (8-hex-char)
    slices of just TWO md5 digests per shingle (plain + salted)
    instead of 8 independent digests — md5 bits are independent, so
    the slices are valid minhash permutations at a quarter of the
    hashing cost, which dominates (hashing runs per exploded shingle
    row). md5 hex is identical in both engines, so the oracle slices
    the same digests."""
    sh = (
        _with_bigrams(_with_words(_docs(spark, sf_dir)))
        .select("doc_id", F.explode("shingles").alias("s"))
    )
    h_plain = F.md5(F.col("s"))
    h_salt = F.md5(F.concat(F.lit("x:"), F.col("s")))
    lanes = [F.substring(h_plain, 1 + 8 * j, 8) for j in range(4)] + [
        F.substring(h_salt, 1 + 8 * j, 8) for j in range(4)
    ]
    sig = sh.select(
        "doc_id", *[ln.alias(f"l{j}") for j, ln in enumerate(lanes)]
    ).groupBy("doc_id").agg(
        *[F.min(f"l{j}").alias(f"h{j}") for j in range(8)]
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.concat(F.col(f"h{2*b}"), F.lit("|"), F.col(f"h{2*b+1}")).alias("k"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.b", "band.k")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash + LSH banding, hot-key safe.

    shingle(word 2-grams) -> 8 minhash lanes -> 4 bands of 2 -> docs
    sharing any band key are candidates.

    Pair generation is STAR-SHAPED per band bucket: every member pairs
    with the bucket MINIMUM doc_id, i.e. a bucket of df docs yields
    df-1 pairs — linear in bucket size, never the O(df^2) of all-pairs
    (the classic hot-key hazard: boilerplate near-identical docs
    collapse to ONE band key; a naive self-join puts df^2 rows on that
    single key). The star preserves exactly what dedup needs: EVERY
    bucket member stays connected to the bucket representative, so
    dedup_groups resolves the whole mega-cluster to one component —
    no member is ever silently dropped (an earlier capped-truncation
    design lost members 33+ of a hot bucket from the candidate graph
    entirely).

    Plan shape: the bucket minimum is one partial+final min aggregate
    on (b, k); attaching it back is an equi-join whose output is
    linear in the input (AQE's skew-join splits the one hot key's
    input if needed). No quadratic operator exists in the plan."""
    bands = _lsh_bands(spark, sf_dir)
    mins = bands.groupBy("b", "k").agg(F.min("doc_id").alias("doc_a"))
    return (
        bands.join(mins, ["b", "k"])
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )


_SHINGLE_DF_CAP = 64  # shingles in more docs than this are boilerplate


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard overlap for same-source doc pairs, with a
    document-frequency cap on the inverted index.

    Inverted-index join on the shingle (never a cartesian product):
    pairs sharing >=1 shingle only. A single high-df shingle (menu
    boilerplate, legal footer) would make one join key quadratic —
    O(df^2) pairs on one task — so shingles present in more than
    _SHINGLE_DF_CAP documents of a source are dropped from BOTH the
    index and the per-doc sizes before the join (the standard
    stop-shingle filter: ultra-common shingles carry ~zero Jaccard
    signal, exactly like stopwords in retrieval). The hot-shingle set
    is tiny by construction (few keys can exceed the cap), so the
    anti join broadcasts. Integer outputs (n_shared, sizes) so
    jaccard = n_shared/(n_a+n_b-n_shared) is reader-side."""
    sh = (
        _with_bigrams(_with_words(_docs(spark, sf_dir)))
        .select("doc_id", "source", F.explode("shingles").alias("s"))
    )
    hot = (
        sh.groupBy("source", "s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _SHINGLE_DF_CAP)
        .select("source", "s")
    )
    sh = sh.join(F.broadcast(hot), ["source", "s"], "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.source") == F.col("b.source"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b")
    )


# winnowing parameters for the oracle-checked arm (small so the
# guarantee window k+w-1 is visible on short synthetic docs;
# production plagiarism/contamination setups use e.g. k=50, w=100)
WINNOW_K, WINNOW_W = 7, 5


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K,
                        w: int = WINNOW_W, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003; the MOSS method): hash every char k-gram of the
    normalized text, slide a window of ``w`` hashes, keep each
    window's minimum — the selected set is a position-robust
    fingerprint with the winnowing GUARANTEE: any match of length
    >= k + w - 1 between two documents shares at least one selected
    fingerprint. The local rolling-hash complement to SimHash
    (global similarity) and MinHash (set similarity): it finds
    CONTIGUOUS shared passages, the plagiarism/contamination shape.

    Spark-first: the whole per-doc pipeline is ONE row-local JVM
    expression chain (transform over sequence -> substring k-grams ->
    md5 window minima -> array_distinct -> explode) — no shuffle at
    all until whatever aggregation the caller adds, no Python. The
    hash is the first 8 md5 hex chars kept as a STRING: fixed-width
    lowercase hex compares lexicographically exactly like its numeric
    value, so min-selection is engine-identical (Spark array_min /
    DuckDB list_aggregate 'min').

    Returns (id_col, fp) — distinct selected fingerprints per doc."""
    if k < 1 or w < 1:
        raise ValueError(f"bad k={k} / w={w}")
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    d = docs.select(id_col, norm.alias("t")) \
        .filter(F.length("t") >= k + w - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("t") - (k - 1)),
        lambda i: F.substring(F.md5(F.substring(F.col("t"), i, k)), 1, 8))
    d = d.select(id_col, grams.alias("h"))
    mins = F.transform(
        F.sequence(F.lit(1), F.size("h") - (w - 1)),
        lambda j: F.array_min(F.slice("h", j, w)))
    return d.select(id_col, F.explode(F.array_distinct(mins)).alias("fp"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints, tagged union (part='simhash'|'winnow').

    part='simhash': 16-bit SimHash from distinct word tokens. Bit i
    of each word's md5 is read from hex nibble i (>=8 -> 1); per-doc
    weight_i = sum(+1/-1); fingerprint = sum(2^i * [w_i>0]). Pure
    integer arithmetic -> engine-exact (fp carries the decimal string
    so both arms share one column).

    part='winnow': rolling-hash winnowing fingerprints
    (winnow_fingerprints) — the local-match complement; fp is the
    8-hex-char selected hash. The arm runs on the deterministic
    doc_id % 5 == 0 fifth of the corpus: it exists to pin the
    operator's cross-engine exactness in the driver gate (the md5 of
    EVERY char k-gram is the honest cost of winnowing, ~4x this
    entry's simhash arm at full width), while the operator itself and
    the winnowing-guarantee/plan properties are pinned unsampled in
    tests/test_corpus_scale.py."""
    words = (
        _with_words(_docs(spark, sf_dir))
        .select("doc_id", F.explode(F.array_distinct("ws")).alias("w"))
        .withColumn("h", F.md5("w"))
    )
    bit_sums = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("h", i + 1, 1).isin(*_HEX_HIGH), 1).otherwise(-1)
            ).alias(f"w{i}")
            for i in range(16)
        ]
    )
    fp = None
    for i in range(16):
        term = F.when(F.col(f"w{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    sim = bit_sums.select(
        F.lit("simhash").alias("part"), "doc_id",
        fp.cast("long").cast("string").alias("fp"))
    win = winnow_fingerprints(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)).select(
        F.lit("winnow").alias("part"), "doc_id", "fp")
    return sim.unionByName(win)


def connected_components(pairs: DataFrame, max_rounds: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm, vs O(component diameter) for naive
    min-label propagation (a 1M-doc duplicate CHAIN would need 1M
    rounds under propagation; star contraction needs ~20).

    pairs: (doc_a, doc_b) undirected candidate edges, doc_a != doc_b.
    Returns (doc_id, group_root) with group_root = component minimum.

    Per round, over the symmetric edge list:
      large-star(u): every strictly-larger neighbor of u re-attaches
        to m(u) = min(N(u) + {u});
      small-star(u): every smaller-or-equal neighbor, and u itself,
        re-attaches to m(u).
    Both are one groupBy (min per src) + one join — shuffle cost
    O(|edges|) per round, no collect_list of neighborhoods (hot
    high-degree nodes never materialize their adjacency in one task).
    ``localCheckpoint`` truncates the growing lineage each round (the
    standard Spark iterative pattern). Convergence = edge-set
    fixpoint, detected by (count, xxhash64 checksum) — both stars map
    a star graph to itself."""
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(edges: DataFrame, large: bool) -> DataFrame:
        mins = (
            edges.groupBy("src").agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", F.col("src")).alias("m"))
        )
        j = edges.join(mins, "src")
        if large:
            new = j.filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            )
        else:
            new = j.filter(F.col("dst") <= F.col("src")).select(
                F.col("dst").alias("a"), F.col("m").alias("b")
            ).union(mins.select(F.col("src").alias("a"), F.col("m").alias("b")))
        new = new.filter(F.col("a") != F.col("b"))
        return (
            new.union(new.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )

    def fingerprint(edges: DataFrame) -> tuple:
        # bit_xor (not sum) of the row hashes: order-independent,
        # distinct edges, and immune to ANSI long-overflow
        row = edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(sym)
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        sym = star(sym, large=True).localCheckpoint(eager=True)
        sym = star(sym, large=False).localCheckpoint(eager=True)
        rounds += 1
        nfp = fingerprint(sym)
        if nfp == fp:
            converged = True
            break
        fp = nfp
    if stats is not None:
        # productive rounds: the last iteration only VERIFIES the
        # fixpoint (edge set unchanged), so it isn't contraction work
        stats["rounds"] = rounds - 1 if converged else rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach an edge fixpoint in "
            f"{max_rounds} large/small-star rounds"
        )
    labels = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    return labels.select(
        F.col("src").alias("doc_id"),
        F.least("mn", F.col("src")).alias("group_root"),
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS from the MinHash candidate pairs: connected
    components via alternating large-star/small-star contraction (see
    ``connected_components``). The step real dedup pipelines need
    after candidate generation — pairs alone over-remove (A~B, B~C
    but A!~C must still resolve to one keeper per component)."""
    return connected_components(q_minhash_lsh(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency (the BPE-prep histogram): explode + count."""
    return (
        _with_words(_docs(spark, sf_dir))
        .select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def q_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentiles (corpus length-filter
    calibration). Exact ``percentile`` matches DuckDB's quantile_cont
    bit-for-bit (both linear interpolation); at 100 TB swap for
    ``approx_percentile(col, p, accuracy)`` — same plan shape, bounded
    memory, no per-group sort."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95"),
            F.count("*").alias("n"),
        )
    )


_TRIGRAMS = ["the", "ing", "and", "ent"]


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k WITHOUT a global single-partition window.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — every
    partition keeps its local top-k, the driver merges k*n_partitions
    rows — then the rank window runs over only those k rows (a
    single-partition window over k rows is free; over the whole table
    it is the classic scale killer Spark itself warns about)."""
    top = scored.orderBy(F.desc("sim_r"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("sim_r"), F.asc("vec_id"))
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long"))
        .select("rk", "vec_id", "sim_r")
    )


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 around vec_id=0 (the ANN baseline).

    Dot products in double precision with the same left-assoc term
    order as the oracle -> bit-identical similarities. Scale path:
    broadcast the query vector(s); per-partition partial top-k then a
    single global merge (orderBy+limit) — no global sort of all rows."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    scored = joined.select("vec_id", _cosine_col("embedding", "qe").alias("sim_r"))
    return _ranked_topk(scored, 10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path): 6-bit random-hyperplane
    signature; candidates = vectors in the query's bucket; exact
    cosine re-rank inside the bucket only.

    At 100 TB the signature is the shuffle/partition key: each query
    touches one bucket (~n/64 of the data) instead of everything."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _lsh_bucket_col())
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    cand = emb.filter(F.col("vec_id") != 0).join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    )
    scored = cand.select("vec_id", _cosine_col("embedding", "qe").alias("sim_r"))
    return _ranked_topk(scored, 5)


def _hyperplane(j: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane: md5-derived in [-0.5, 0.5].

    Python-side constants embedded as literals in BOTH engines' SQL,
    so there is no cross-engine RNG to disagree. ``table`` selects an
    independent hyperplane family for multi-table LSH; table 0 keeps
    the original seeds so every existing oracle stays bit-identical."""
    import hashlib

    out = []
    for i in range(DIM):
        seed = f"hp{j}_{i}" if table == 0 else f"hp{table}t{j}_{i}"
        h = hashlib.md5(seed.encode()).hexdigest()
        out.append((int(h[:8], 16) % 10_000) / 10_000.0 - 0.5)
    return out


def _lsh_bucket_sql(col: str, dialect: str, table: int = 0) -> str:
    """The 6-bit signature as a SQL expression over array column `col`."""
    parts = []
    for j in range(6):
        hp = _hyperplane(j, table)
        if dialect == "duckdb":
            terms = [f"(CAST({col}[{i+1}] AS DOUBLE) * {hp[i]!r})" for i in range(DIM)]
        else:
            terms = [f"(CAST(element_at({col}, {i+1}) AS DOUBLE) * {hp[i]!r})" for i in range(DIM)]
        dot = "(" + " + ".join(terms) + ")"
        parts.append(f"(CASE WHEN {dot} > 0 THEN {2**j} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def _lsh_bucket_col(col: str = "embedding", table: int = 0):
    """Spark side of the 6-bit signature: per-bit hyperplane dot via
    zip_with+aggregate against an array literal of the same constants
    the oracle SQL inlines — identical term order, tiny expression
    tree (the literal form is a ~2400-node tree that costs ~10s of
    driver-side planning cold)."""
    bits = []
    for j in range(6):
        hp = F.array(*[F.lit(c) for c in _hyperplane(j, table)])
        dot = _dot_col(F.col(col), hp)
        bits.append(F.when(dot > 0, F.lit(2**j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN, FIXED-quantizer baseline (the registry's 'ivf'
    arm; the TRAINED Lloyd-k-means production path is the 'ivft' arm
    via ann_search/build_ann_index): K=4 positional centroids (the
    vectors with vec_id 0..3), every vector assigned to its max-cosine
    cell, query probes its nprobe=2 nearest cells, exact top-5 re-rank
    inside the probed cells only. Kept alongside the trained path as
    the recall baseline BENCH/RECALL.md compares against.

    At 100 TB the cell id is the partition key: the index build is one
    broadcast (centroids) + narrow map to tag each vector with its
    cell, written `partitionBy(cell)`; a query then reads nprobe
    partitions (~nprobe/K of the data) instead of everything. The
    assignment here uses exact doubles (no rounding) so both engines
    rank cells bit-identically."""
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    csim = _dot_col("embedding", "ce") / (
        F.sqrt(_dot_col("embedding", "embedding")) * F.sqrt(_dot_col("ce", "ce"))
    )
    assigned = emb.crossJoin(F.broadcast(cents)).withColumn("csim", csim)
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    cells = (
        assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cid").alias("cell"), "embedding")
    )
    probe = (
        assigned.filter(F.col("vec_id") == 0)
        .orderBy(F.desc("csim"), F.asc("cid"))
        .limit(2)
        .select(F.col("cid").alias("pcell"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cand = cells.filter(F.col("vec_id") != 0).join(
        F.broadcast(probe), F.col("cell") == F.col("pcell")
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        "vec_id", _cosine_col("embedding", "qe").alias("sim_r")
    )
    return _ranked_topk(scored, 5)


def build_ann_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_tables: int = 2,
    k_cells: int = _SEM_K,
    ivf_iters: int = _SEM_ITER,
    emb: DataFrame | None = None,
    centroids: list | None = None,
) -> str:
    """Materialize the ANN index ONCE so query workloads never re-derive
    it (round-2 gap: ann_search recomputed signatures per call while its
    docstring claimed a persisted layout).

    Two layouts, both laid out so a probe workload is answered by
    PARTITION PRUNING at the scan (asserted in tests/test_plans.py):
      - ``<index_dir>/lsh``: the (t, bucket)-exploded hyperplane
        signatures, written ``partitionBy("t", "bucket")`` — a probe
        touches n_tables x |masks| / 64 of the directories, never a
        full scan.
      - ``<index_dir>/ivf``: every vector tagged with its nearest
        TRAINED centroid cell (Lloyd k-means via kmeans_fit_assign,
        min squared-L2, ties to lowest cell id), written
        ``partitionBy("cell")`` — a query reads its nprobe cells,
        ~nprobe/K of the data.

    Build cost shape at 100 TB: the signature explode is a narrow map;
    the single ``repartition(t, bucket)`` (resp. ``cell``) exchange
    exists purely for file locality — each output partition is then
    written by the tasks that own it, one file per partition per task,
    instead of every task spraying a file into all n_tables x 64 dirs.
    A one-time cost amortized over every probe thereafter (the same
    trade Iceberg bucket-partitioning makes for the transcripts table).

    The index is SELF-CONTAINED for growth: the IVF centroids are
    persisted (``<index_dir>/centroids``) so newly arrived vectors can
    be added with :func:`append_ann_index` — assigned against the SAME
    quantizer, never a re-derivation that could drift — and the LSH
    hyperplanes are md5-seeded constants, identical in every process.

    ``emb`` overrides the indexed frame (default: the sf_dir embeddings
    table) — the hook the append test uses to build a partial index.
    """
    emb = _emb(spark, sf_dir) if emb is None else emb
    sigs = F.array(*[_lsh_bucket_col(table=t) for t in range(n_tables)])
    (
        emb.select("vec_id", "embedding", F.posexplode(sigs).alias("t", "bucket"))
        .repartition("t", "bucket")
        .write.mode("overwrite").partitionBy("t", "bucket")
        .parquet(os.path.join(index_dir, "lsh"))
    )
    # IVF quantizer: TRAINED Lloyd k-means cells (kmeans_fit_assign —
    # deterministic md5-order init, quantized centroid updates), not
    # positional sample vectors; pass ``centroids`` to reuse an
    # existing quantizer (e.g. trained on a sample, or copied from
    # another index so two indexes stay probe-compatible).
    if centroids is None:
        _, centroids = kmeans_fit_assign(emb, k=k_cells, n_iter=ivf_iters)
    cells = assign_cells(emb, centroids).select(
        "vec_id", "cell", "embedding")
    (
        cells.repartition("cell")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(os.path.join(index_dir, "ivf"))
    )
    # persist the quantizer itself: append_ann_index / ann_search must
    # assign against the centroids this build used, not re-derive them
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, ce array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids"))
    return index_dir


def _read_centroids(spark: SparkSession, index_dir: str) -> list[list[float]]:
    """The persisted quantizer as a cid-ordered list of centroid
    vectors — a k x dim driver-side literal (the same bounded shape
    kmeans keeps), inlined into assignment expressions."""
    rows = spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    return [list(map(float, r["ce"]))
            for r in sorted(rows, key=lambda r: r["cid"])]


def append_ann_index(
    spark: SparkSession,
    new_emb: DataFrame,
    index_dir: str,
    n_tables: int = 2,
) -> dict:
    """Incremental index maintenance: add newly arrived vectors to a
    materialized ANN index WITHOUT rebuilding it — the growth path a
    production index needs (at 100 TB a rebuild per ingest batch is a
    full-corpus pass; an append is one narrow map over the batch).

    ``new_emb`` is a (vec_id, embedding) frame of the new vectors.
    LSH: the hyperplanes are seeded constants, so the batch's exploded
    signatures drop into the existing ``(t, bucket)`` partition dirs
    with ``mode("append")`` — probes prune exactly as before and see
    old + new candidates in one scan. IVF: the batch is assigned
    against the PERSISTED centroids (``<index_dir>/centroids``, written
    at build time), never a re-derivation — re-deriving from a grown
    corpus would silently shift cell boundaries and orphan the existing
    assignments. Cell sizes drift as the corpus grows; when probe cost
    shows it, rebuild with a larger K (the standard IVF re-train),
    which ``build_ann_index``'s overwrite does in place.

    Returns {"lsh_rows": n, "ivf_rows": n}.
    """
    sigs = F.array(*[_lsh_bucket_col(table=t) for t in range(n_tables)])
    lsh = new_emb.select(
        "vec_id", "embedding", F.posexplode(sigs).alias("t", "bucket")
    ).repartition("t", "bucket")
    lsh.write.mode("append").partitionBy("t", "bucket").parquet(
        os.path.join(index_dir, "lsh"))

    cents = _read_centroids(spark, index_dir)
    cells = assign_cells(new_emb, cents).select(
        "vec_id", "cell", "embedding")
    cells.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_dir, "ivf"))
    n = new_emb.count()
    return {"lsh_rows": n * n_tables, "ivf_rows": n}


# (sf_dir, n_tables) -> materialized index dir, built once per process;
# registry queries route through this so the driver's hash check covers
# the persisted-index read path, not just the on-the-fly derivation
_ANN_INDEX_CACHE: dict[tuple, str] = {}


def ensure_ann_index(spark: SparkSession, sf_dir: str, n_tables: int = 2) -> str:
    key = (os.path.abspath(sf_dir), n_tables)
    path = _ANN_INDEX_CACHE.get(key)
    # validate EVERY layout the index serves (lsh + ivf + the
    # persisted quantizer) — the dirs live under /tmp, which this
    # sandbox is known to purge mid-session; a partial survival must
    # trigger a rebuild, not a crash in whichever arm reads the
    # missing piece
    if path is None or not all(
            os.path.isdir(os.path.join(path, d))
            for d in ("lsh", "ivf", "centroids")):
        import tempfile

        path = build_ann_index(
            spark, sf_dir, tempfile.mkdtemp(prefix="logparse_ann_index_"),
            n_tables=n_tables,
        )
        _ANN_INDEX_CACHE[key] = path
    return path


def ann_search(
    spark: SparkSession,
    sf_dir: str,
    method: str = "brute",
    query_ids=(0,),
    k: int = 5,
    nprobe: int = 2,
    n_tables: int = 2,
    probe_radius: int = 1,
    k_cells: int = _SEM_K,
    ivf_iters: int = _SEM_ITER,
    index_dir: str | None = None,
) -> DataFrame:
    """Batched ANN: ONE pass over the embeddings table answers EVERY
    query at once — the realistic 100 TB shape (a query workload is a
    small broadcast relation; re-scanning 100 TB per query is not an
    option). Returns (qid, rk, vec_id, sim_r), top-k per query.

    - ``brute``: every (vector, query) pair scored; the exact baseline.
    - ``lsh``:   multi-table multi-probe random-hyperplane LSH. Each of
      ``n_tables`` independent hyperplane families gives every vector a
      6-bit signature; a query probes, per table, every bucket within
      Hamming distance ``probe_radius`` of its own signature (the
      standard recall levers — see BENCH/RECALL.md for the measured
      recall/candidate-fraction grid on the fixture, whose true
      neighbors sit near cosine 0.3 so single-probe recall is
      p_agree^6 ≈ 0.05 by the hyperplane collision bound). Candidates
      dedup via map-side-combinable max(sim) agg, never a distinct of
      raw vectors.
    - ``ivf``:   vectors assigned to their nearest TRAINED centroid
      cell (Lloyd k-means via kmeans_fit_assign — deterministic
      md5-order init, ``k_cells`` cells, ``ivf_iters`` iterations,
      min squared-L2 assignment with ties to the lowest cell); each
      query probes its ``nprobe`` nearest cells by the same metric
      (equi-join on cell id). With ``index_dir`` the persisted
      quantizer is reused — never re-derived, so probes stay
      consistent across index growth.

    Scale shape: pass ``index_dir`` (from :func:`build_ann_index`) and
    the data side READS the materialized index — written
    ``partitionBy(t, bucket)`` (resp. ``cell``) — with the probe
    workload's (t, bucket) pairs pushed as a STATIC partition filter,
    so the scan prunes to n_tables×|masks|/64 of the index directories
    and never full-scans (PartitionFilters + inputFiles asserted in
    tests/test_plans.py). Deriving the pair list is a driver-side
    collect of the PROBE relation only — queries × tables × masks
    rows, the same small relation that gets broadcast anyway, never
    the data side. Without ``index_dir`` the signatures are derived on
    the fly (the verifiable-oracle path). Per-query top-k is a rank
    window partitioned by qid — Spark >=3.5 plans the rank filter as
    WindowGroupLimit (partial per-partition top-k BEFORE the shuffle,
    asserted in tests/test_plans.py), so the exchange carries <= k
    rows per (query, input partition), never the full scored set."""
    ids = [int(i) for i in query_ids]
    emb = _emb(spark, sf_dir)
    if method == "brute":
        qs = emb.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
        cand = emb.crossJoin(F.broadcast(qs))
    elif method == "lsh":
        sigs = F.array(*[_lsh_bucket_col(table=t) for t in range(n_tables)])
        if index_dir is not None:
            indexed = spark.read.parquet(os.path.join(index_dir, "lsh"))
        else:
            indexed = emb.select(
                "vec_id", "embedding", F.posexplode(sigs).alias("t", "bucket")
            )
        # probe masks: all 6-bit masks with popcount <= probe_radius
        masks = [m for m in range(64) if bin(m).count("1") <= probe_radius]
        qsig = emb.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.posexplode(sigs).alias("qt", "qsig"),
        )
        probes = qsig.select(
            "qid",
            "qe",
            "qt",
            F.explode(
                F.array(*[F.col("qsig").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("qbucket"),
        )
        if index_dir is not None:
            # static partition pruning: collect the tiny probe relation
            # (queries x tables x masks rows — the side that is
            # broadcast anyway) and push its (t, bucket) pairs as a
            # literal filter, so the scan plans PartitionFilters and
            # lists/reads only the probed index directories
            by_t: dict[int, set] = {}
            for r in probes.select("qt", "qbucket").distinct().collect():
                by_t.setdefault(int(r["qt"]), set()).add(int(r["qbucket"]))
            cond = None
            for t, bs in sorted(by_t.items()):
                c = (F.col("t") == t) & F.col("bucket").isin(sorted(bs))
                cond = c if cond is None else (cond | c)
            indexed = indexed.filter(cond)
        cand = indexed.join(
            F.broadcast(probes),
            (F.col("t") == F.col("qt")) & (F.col("bucket") == F.col("qbucket")),
        )
        scored = cand.filter(F.col("vec_id") != F.col("qid")).select(
            "qid", "vec_id", _cosine_col("embedding", "qe").alias("sim_r")
        )
        # same (qid, vec_id) can arrive via several tables/probes: exact
        # dedup by max (scores are identical), partial-agg map-side
        deduped = scored.groupBy("qid", "vec_id").agg(
            F.max("sim_r").alias("sim_r")
        )
        wq = Window.partitionBy("qid").orderBy(F.desc("sim_r"), F.asc("vec_id"))
        return (
            deduped.withColumn("rk", F.row_number().over(wq).cast("long"))
            .filter(F.col("rk") <= k)
            .select("qid", "rk", "vec_id", "sim_r")
        )
    elif method == "ivf":
        # TRAINED coarse quantizer: centroids come from the persisted
        # index (build-time Lloyd k-means) or are trained on the fly
        # with the same deterministic algorithm — identical either way
        # on identical data, so the indexed and index-less paths agree.
        if index_dir is not None:
            cells = spark.read.parquet(os.path.join(index_dir, "ivf"))
            cents = _read_centroids(spark, index_dir)
        else:
            assigned, cents = kmeans_fit_assign(
                emb, k=k_cells, n_iter=ivf_iters)
            cells = assigned.select(
                "vec_id", F.col("cluster").alias("cell"), "embedding")
        # nprobe nearest cells per query, by the TRAINING metric
        # (squared L2 to each centroid literal, ties to lowest cell) —
        # a queries x k relation derived from the query vectors alone
        dist_arr = F.array(*[_l2_dist_col("embedding", c) for c in cents])
        wq_cells = Window.partitionBy("qid").orderBy(
            F.asc("d"), F.asc("pcell"))
        probes = (
            emb.filter(F.col("vec_id").isin(ids))
            .select(F.col("vec_id").alias("qid"),
                    F.col("embedding").alias("qe"),
                    F.posexplode(dist_arr).alias("pcell", "d"))
            .withColumn("crk", F.row_number().over(wq_cells))
            .filter(F.col("crk") <= nprobe)
            .select("qid", "pcell", "qe")
        )
        if index_dir is not None:
            # static pruning on the cell partition column (see lsh arm)
            pcells = sorted(
                {int(r["pcell"]) for r in probes.select("pcell").distinct().collect()}
            )
            cells = cells.filter(F.col("cell").isin(pcells))
        cand = cells.join(F.broadcast(probes), F.col("cell") == F.col("pcell"))
    else:
        raise ValueError(f"unknown ANN method {method!r}")
    scored = cand.filter(F.col("vec_id") != F.col("qid")).select(
        "qid", "vec_id", _cosine_col("embedding", "qe").alias("sim_r")
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("sim_r"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(wq).cast("long"))
        .filter(F.col("rk") <= k)
        .select("qid", "rk", "vec_id", "sim_r")
    )


def _l2_dist_col(vec_col, cent: list) -> "F.Column":
    """Squared L2 distance of an array column to a centroid literal —
    zip_with + left-fold aggregate, the same term order as the
    oracle's termwise left-assoc sum (_sem_dist_sql), so distances are
    bit-identical cross-engine."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    lit = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(col, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def assign_cells(frame: DataFrame, cents: list,
                 vec_col: str = "embedding",
                 out_col: str = "cell") -> DataFrame:
    """Tag every row with its nearest centroid (min squared-L2, ties
    to the lowest index) — pure codegen expression, no UDF. The
    assignment primitive shared by kmeans_fit_assign and the trained
    IVF quantizer (build_ann_index / ann_search / append_ann_index):
    one narrow map, k x dim flops per row, no shuffle."""
    arr = F.array(*[_l2_dist_col(vec_col, c) for c in cents])
    return frame.withColumn(
        out_col,
        (F.array_position(arr, F.array_min(arr)) - 1).cast("int"))


def kmeans_fit_assign(emb: DataFrame, k: int = 8, n_iter: int = 5,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> tuple[DataFrame, list]:
    """Distributed Lloyd k-means over an embedding column — the
    clustering primitive of semantic curation pipelines (cluster, then
    dedup/subsample within clusters, SemDeDup-style).

    Iterative-algorithm shape done Spark-first: centroids are the ONLY
    driver-side state (k x dim floats). Each iteration is one scan —
    assignment is a pure codegen expression (k per-centroid squared-L2
    aggregates over zip_with, argmin via array_position; no Python, no
    UDF) and the update is posexplode -> groupBy(cluster, dim) ->
    avg, whose map-side partial aggregation bounds the shuffle at
    k x dim rows PER TASK regardless of input size. No lineage growth
    trap: each iteration re-derives from the source frame with new
    centroid literals rather than stacking transformations on the
    previous iteration's plan.

    Deterministic and engine-portable by construction: init picks the
    k rows with the smallest md5(id) (content-stable, same everywhere
    — rand() init would change with partitioning), ties in argmin
    break to the lowest centroid index, and empty clusters keep their
    previous centroid. Returns (assigned frame with a ``cluster``
    column, final centroids as lists)."""
    if k < 1 or n_iter < 0:
        raise ValueError(f"bad k={k} / n_iter={n_iter}")
    probe = F.md5(F.col(id_col).cast("string"))
    cents = [list(map(float, r[vec_col]))
             for r in emb.orderBy(probe, id_col).limit(k).collect()]
    if len(cents) < k:
        raise ValueError(f"k={k} but only {len(cents)} rows")

    def assign(frame: DataFrame) -> DataFrame:
        return assign_cells(frame, cents, vec_col=vec_col,
                            out_col="cluster")

    for _ in range(n_iter):
        upd = (
            assign(emb)
            .select("cluster", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cluster", "pos").agg(F.avg("v").alias("m"))
            .collect()
        )
        new = {c: list(old) for c, old in enumerate(cents)}
        for r in upd:
            # quantized so the independent oracle replication (numpy
            # sequential mean vs this avg()'s partition-merge order)
            # lands on bit-identical centroid literals — see
            # _quantize_cent
            new[r["cluster"]][r["pos"]] = _quantize_cent(r["m"])
        cents = [new[c] for c in range(k)]
    return assign(emb), cents


def semantic_dedup(emb: DataFrame, k: int = 16, n_iter: int = 3,
                   threshold: float = 0.9,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   assignment: DataFrame | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public method): k-means-cluster the embeddings, find cosine
    near-duplicate PAIRS only within each cluster, contract them to
    duplicate groups, keep the minimum id per group.

    The composition is the scale story: clustering turns the O(n^2)
    all-pairs similarity into sum(c_i^2) within-cluster work — at
    100 TB you pick k so clusters stay bounded (n/k docs each), the
    within-cluster self-join shuffles ONCE on the cluster key, and
    groups contract via the existing O(log n)-round alternating-star
    connected components (duplicate chains that cross pair-threshold
    transitivity collapse correctly — naive keep-first scans do not).
    Known SemDeDup caveat, inherited deliberately: near-dups assigned
    to different clusters are not compared (recall traded for the
    quadratic bound, tunable via k).

    ``assignment`` (an (id_col, cluster) frame) skips the k-means and
    blocks on a PRECOMPUTED partitioning instead — e.g. the persisted
    ANN index's IVF cells, so a corpus that already paid for an index
    dedups without a second clustering pass.

    Returns (id_col, keep) — keep=false rows are semantic duplicates
    of a kept representative."""
    if assignment is not None:
        assigned = emb.join(
            assignment.select(id_col, "cluster"), id_col, "inner")
    else:
        assigned, _ = kmeans_fit_assign(emb, k=k, n_iter=n_iter,
                                        vec_col=vec_col, id_col=id_col)
    a = assigned.select(F.col(id_col).alias("doc_a"), "cluster",
                        F.col(vec_col).alias("va"))
    b = assigned.select(F.col(id_col).alias("doc_b"), "cluster",
                        F.col(vec_col).alias("vb"))
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(_cosine_col("va", "vb") >= F.lit(float(threshold)))
        .select("doc_a", "doc_b")
    )
    groups = connected_components(pairs)  # (doc_id, group_root)
    return (
        emb.select(id_col)
        .join(groups.withColumnRenamed("doc_id", id_col), id_col, "left")
        .select(
            id_col,
            (F.col("group_root").isNull()
             | (F.col("group_root") == F.col(id_col))).alias("keep"),
        )
    )


def shard_column(key_col: str = "doc_id", n_shards: int = 8):
    """Content-stable, ENGINE-PORTABLE shard id from a key column:
    ``conv(substr(md5(key), 1, 15), 16, 10) % n_shards``.

    Same rationale as :func:`split_column` (hash of content, never
    rand/partition-dependent functions), chosen over xxhash64 because
    md5's hex is identical in every engine in play — DuckDB computes
    the same id via ``CAST('0x' || substr(md5(k), 1, 15) AS BIGINT)``
    — so shard placement sits inside the driver's oracle hard signal.
    15 hex chars = 60 bits, safely inside BIGINT, ample for modulo
    uniformity at any practical shard count."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15),
               16, 10).cast("long")
    return F.pmod(h, F.lit(n_shards)).cast("int")


def export_jsonl(df: DataFrame, out_dir: str, n_shards: int = 8,
                 key_col: str = "doc_id",
                 order_by: tuple = ("doc_id",),
                 max_records_per_file: int | None = None) -> dict:
    """Dataloader-ready sharded JSONL export — the handoff from the
    curated table to tokenizer/training jobs, deterministic end to
    end: shard membership is :func:`shard_column`'s md5-prefix hash
    (content-stable — re-exports and different cluster sizes place
    every document in the same shard, so downstream shard-level
    caching/resume holds — and engine-portable, so the placement
    function itself is oracle-checked via doc_features' ``shard``
    column), rows within a shard are written in
    ``order_by`` order, and the layout is ``shard=N/part-*.json``
    (dynamic partition write; ``max_records_per_file`` rolls files to
    a dataloader-friendly size). One hash shuffle total. Returns
    {"rows": n, "shards": n_shards} where ``rows`` is the count the
    write action itself observed (a CollectMetrics Observation riding
    the write — NOT a second execution of the upstream plan, which
    for an expensive or nondeterministic upstream could both double
    the cost and report a different number than was written)."""
    from pyspark.sql import Observation

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    obs = Observation()
    out = (
        df.withColumn("shard", shard_column(key_col, n_shards))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", *order_by)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    writer = out.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("shard").json(out_dir)
    return {"rows": obs.get["rows"], "shards": n_shards}


def q_users_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join breadth: per-(user, day) activity on days with no
    purchase. The purchase-day set is broadcast (distinct keys, small
    relative to the event stream), so the anti join is a broadcast
    hash join — no shuffle of the big side; the groupBy is the only
    exchange."""
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "day")
        .distinct()
    )
    return (
        ev.join(F.broadcast(buyers), ["user_id", "day"], "left_anti")
        .groupBy("user_id", F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )


# semantic-curation arm parameters: _SEM_K/_SEM_ITER/_SEM_THRESH are
# defined at the top of the module (shared with the trained IVF
# quantizer) and mirrored EXACTLY in the oracle — the centroid
# literals there are a sequential numpy replication of
# kmeans_fit_assign's deterministic md5-order algorithm at these
# values.


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding curation tagged union (part='pairs' | 'kmeans' |
    'keep') — the three embedding-space dedup primitives in one
    oracle-checked entry.

    part='pairs': cosine near-dup pairs via a blocked self-join.
    Blocking key = the 6-bit random-hyperplane LSH bucket (the SAME
    signature the ann_lsh index uses) — derived from the vectors
    alone, so the block works on a real unlabeled corpus. Cosine-
    similar vectors land in the same bucket with high probability,
    the bucket bounds the quadratic self-join at ~n/64 per block, and
    the exact double-precision cosine + threshold runs inside each
    block only. One shuffle on the blocking key.

    part='kmeans': the deterministic distributed Lloyd assignment
    (kmeans_fit_assign, md5-order init — vec_b carries the cluster
    id). The DuckDB oracle recomputes the assignment from centroid
    literals produced by an INDEPENDENT sequential numpy replication
    of the same algorithm (tie-break to lowest index in both).

    part='keep': SemDeDup-style semantic dedup keeper flags (vec_b =
    0/1) — within-cluster near-dup pairs contracted to duplicate
    groups via connected components, min id kept per group; the
    oracle mirrors it with a recursive-CTE min-label reach over the
    same within-cluster pair set."""
    emb = _emb(spark, sf_dir)
    bemb = emb.withColumn("bucket", _lsh_bucket_col())
    a = bemb.select(F.col("vec_id").alias("vec_a"), F.col("bucket"),
                    F.col("embedding").alias("ea"))
    b = bemb.select(F.col("vec_id").alias("vec_b"), F.col("bucket"),
                    F.col("embedding").alias("eb"))
    j = a.join(b, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    pairs = (
        j.withColumn("sim_r", _cosine_col("ea", "eb"))
        .filter(F.col("sim_r") >= 0.35)
        .select(F.lit("pairs").alias("part"),
                "vec_a", "vec_b",
                F.col("bucket").cast("int").alias("bucket"), "sim_r")
    )
    assigned, _ = kmeans_fit_assign(emb, k=_SEM_K, n_iter=_SEM_ITER)
    km = assigned.select(
        F.lit("kmeans").alias("part"),
        F.col("vec_id").alias("vec_a"),
        F.col("cluster").cast("long").alias("vec_b"),
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("double").alias("sim_r"),
    )
    kept = semantic_dedup(
        emb, threshold=_SEM_THRESH,
        assignment=assigned.select("vec_id", "cluster"))
    kp = kept.select(
        F.lit("keep").alias("part"),
        F.col("vec_id").alias("vec_a"),
        F.col("keep").cast("long").alias("vec_b"),
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("double").alias("sim_r"),
    )
    return pairs.unionByName(km).unionByName(kp)


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns + Arrow-batched feature extraction)
# ---------------------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction via mapInPandas.

    Real pipeline shape for image/audio payloads: a binary column +
    typed metadata flows through an Arrow-batched Python stage. The
    "decode" here is a deterministic stand-in (byte length + first
    byte) because media libs aren't in this container — the Spark
    plumbing (schema, batching, column pruning) is the real thing."""
    import pandas as pd

    from .packaging import ensure_shipped

    ensure_shipped(spark)
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "UTF-8").alias("blob")
    )

    def extract(batches):
        for pdf in batches:
            blobs = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "head_byte": blobs.map(lambda b: int(b[0]) if len(b) else -1).astype("int64"),
                }
            )

    return docs.mapInPandas(extract, "doc_id long, n_bytes long, head_byte long")


# ---------------------------------------------------------------------------
# Event analytics (streaming-analog batch queries)
# ---------------------------------------------------------------------------

def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute windows per event_type (batch analog of a
    streaming windowed count; same groupBy runs under readStream)."""
    df = _events(spark, sf_dir).withColumn(
        "minute", F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm")
    )
    return df.groupBy("minute", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload breadth, tagged union (part='path' | 'map' |
    'variant').

    part='path': scalar extraction + aggregate (get_json_object,
    JVM-side) — the point-path read.

    part='map': the structured-payload shape SURVEY §2.3 reserved —
    ``from_json`` to ``map<string,string>`` + ``explode`` (the
    MapType + generator surface), aggregated per JSON KEY: the query
    you run when payload schemas are open-ended and you need the key
    census before committing to columns. The DuckDB twin walks
    ``json_keys``/``json_extract_string``.

    part='variant': the Spark 4 VARIANT surface — ``parse_json`` to
    a VARIANT column once, then ``try_variant_get`` point reads. At
    100 TB this is the ingestion shape for open-schema payloads:
    VARIANT stores a parsed binary encoding, so N downstream path
    reads decode the binary instead of re-parsing JSON text N times
    (get_json_object re-parses per call). n counts rows with an
    integer value.

    Every arm reads a value through ``_int_or_null``: casts disagree
    on non-integer strings (variant 'long' truncates '12.7' to 12,
    DuckDB's TRY_CAST rounds it to 13, Spark's try_cast NULLs it, and
    a plain Spark cast raises CAST_INVALID_INPUT under the default
    ANSI mode), so both engines NULL anything but an integer literal.

    All arms are one scan + one partial+final aggregate."""

    def _int_or_null(s):
        # \z, not $: Java's $ also matches before a trailing newline
        # (which try_cast then trims away); RE2's $ does not. try_cast,
        # not cast: a 20-digit literal still overflows.
        return F.when(s.rlike(r"^-?[0-9]+\z"), s.try_cast("long"))

    ev = _events(spark, sf_dir)
    path = ev.withColumn(
        "k", _int_or_null(F.get_json_object("props", "$.k"))
    ).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"), F.count("*").alias("n")
    ).select(F.lit("path").alias("part"),
             F.col("event_type").alias("key"), "sum_k", "n")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>"))
        .alias("key", "val"))
    mp = kv.groupBy("key").agg(
        F.sum(_int_or_null(F.col("val"))).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.lit("map").alias("part"), "key", "sum_k", "n")
    ks = F.expr("try_variant_get(parse_json(props), '$.k', 'string')")
    vr = (
        ev.select("event_type", _int_or_null(ks).alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"),
             F.count("k").alias("n"))
        .select(F.lit("variant").alias("part"),
                F.col("event_type").alias("key"), "sum_k", "n")
    )
    return path.unionByName(mp).unionByName(vr)


def _sessionize_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via lag window.

    Exact wall-clock microsecond arithmetic: the parquet ts is
    TIMESTAMP_NTZ in Spark 4 (inferTimestampNTZ), so timestampdiff is
    tz-independent and matches DuckDB's naive epoch_us exactly."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = (
        _events(spark, sf_dir)
        .withColumn("pts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("pts").isNull()
                | (F.expr("timestampdiff(MICROSECOND, pts, ts)") > 1_800_000_000),
                1,
            ).otherwise(0),
        )
    )
    return df.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


def _funnel_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel view -> click -> purchase: a
    user reaches step k only via an event STRICTLY AFTER their step
    k-1 time (the ordered-funnel semantics dashboards mean, not mere
    per-type existence). One exchange: all three step times are
    whole-partition window minima over the same user partitioning, so
    Catalyst plans a single hash exchange with stacked Window nodes —
    no self-joins, no O(steps) shuffles."""
    w = Window.partitionBy("user_id")
    x = _events(spark, sf_dir).withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view",
                           F.col("ts"))).over(w))
    x = x.withColumn(
        "t2", F.min(F.when((F.col("event_type") == "click")
                           & (F.col("ts") > F.col("t1")),
                           F.col("ts"))).over(w))
    x = x.withColumn(
        "t3", F.min(F.when((F.col("event_type") == "purchase")
                           & (F.col("ts") > F.col("t2")),
                           F.col("ts"))).over(w))
    per_user = x.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"),
        F.max("t3").alias("t3"))
    return per_user.agg(
        F.count("t1").alias("view"), F.count("t2").alias("click"),
        F.count("t3").alias("purchase")
    ).selectExpr(
        "stack(3, '1_view', view, '2_click', click, "
        "'3_purchase', purchase) AS (step, n_users)")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization + ordered conversion funnel, tagged union
    (part='sessions' | 'funnel')."""
    s = _sessionize_base(spark, sf_dir).select(
        F.lit("sessions").alias("part"), "user_id", "n_sessions",
        "n_events", F.lit(None).cast("string").alias("step"),
        F.lit(None).cast("long").alias("n_users"))
    f = _funnel_base(spark, sf_dir).select(
        F.lit("funnel").alias("part"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("n_sessions"),
        F.lit(None).cast("long").alias("n_events"), "step", "n_users")
    return s.unionByName(f)


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

# star-pair mirror of q_minhash_lsh: every band-bucket member pairs
# with the bucket minimum (linear per bucket, every member retained)
_BAND_STAR_PAIRS = """
    SELECT DISTINCT m.doc_a, bb.doc_id AS doc_b
    FROM bands bb
    JOIN (SELECT b, k, min(doc_id) AS doc_a FROM bands GROUP BY b, k) m
      ON bb.b = m.b AND bb.k = m.k
    WHERE bb.doc_id <> m.doc_a
"""


_SEM_CENTS_CACHE: list[list[float]] | None = None

# Centroid quantization (both engines): Spark's avg() sums partition
# merges in a nondeterministic order, the numpy replication sums
# sequentially — last-ulp centroid differences could flip an argmin on
# a near-tie. Rounding every UPDATED centroid coordinate to the same
# fixed decimal width on both sides (Python round(), not np.round,
# whose scaled-rint halves differ from decimal-correct rounding)
# removes the fragility: a flip now needs the true coordinate within
# ~5e-10 of a rounding boundary AND the engines on opposite sides.
_CENT_DECIMALS = 9


def _quantize_cent(x: float) -> float:
    return round(float(x), _CENT_DECIMALS)


def _sem_oracle_centroids() -> list[list[float]]:
    """Centroids for the dedup_embed kmeans/keep oracle arms: an
    INDEPENDENT sequential numpy replication of kmeans_fit_assign's
    deterministic algorithm (md5-order init, argmin ties to lowest
    index, empty clusters keep their centroid) over the driver's
    sf0.01 embeddings table — the same cross-engine check
    tests/test_kmeans.py pins, inlined as double literals so DuckDB
    can recompute the assignment itself."""
    global _SEM_CENTS_CACHE
    if _SEM_CENTS_CACHE is None:
        import hashlib

        import numpy as np
        import pyarrow.parquet as pq

        # derive from ORACLE_SF so a future sf change cannot silently
        # leave the centroid literals pinned to a different scale than
        # the rest of the oracle (function-level import: corpus is
        # imported by queries, not vice versa)
        from .queries import ORACLE_SF

        path = f"/root/testdata/sf{ORACLE_SF}/embeddings.parquet"
        try:
            t = pq.read_table(path, columns=["vec_id", "embedding"])
        except FileNotFoundError as e:
            raise RuntimeError(
                f"dedup_embed oracle needs the driver testdata at "
                f"{path} (the kmeans/keep arms inline centroids "
                f"replicated from it)") from e
        ids = t.column("vec_id").to_pylist()
        vecs = np.array(t.column("embedding").to_pylist(),
                        dtype=np.float64)
        order = sorted(
            range(len(ids)),
            key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(),
                           str(ids[i])))
        cents = np.stack([vecs[i] for i in order[:_SEM_K]])
        for _ in range(_SEM_ITER):
            d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(_SEM_K):
                if (a == c).any():
                    cents[c] = [_quantize_cent(v)
                                for v in vecs[a == c].mean(axis=0)]
        _SEM_CENTS_CACHE = [[float(x) for x in c] for c in cents]
    return _SEM_CENTS_CACHE


def _sem_dist_sql(cent: list[float], col: str = "e.embedding") -> str:
    """Squared-L2 distance to a centroid literal, termwise left-assoc
    (same evaluation order as kmeans_fit_assign's aggregate fold)."""
    terms = [
        f"((CAST({col}[{i + 1}] AS DOUBLE) - {cent[i]!r}) * "
        f"(CAST({col}[{i + 1}] AS DOUBLE) - {cent[i]!r}))"
        for i in range(DIM)
    ]
    return "(" + " + ".join(terms) + ")"


def corpus_oracles() -> dict[str, str]:
    words_cte = f"SELECT doc_id, source, lang, text, {_WORDS_DUCK} AS ws FROM documents"
    sh_cte = (
        f"SELECT doc_id, source, unnest({_BIGRAMS_DUCK}) AS s "
        f"FROM ({words_cte}) WHERE len(ws) >= 2"
    )
    sig_cols = ", ".join(
        f"min(substr(md5({'s' if j < 4 else chr(39) + 'x:' + chr(39) + ' || s'}), "
        f"{1 + 8 * (j % 4)}, 8)) AS h{j}"
        for j in range(8)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS b, h{2*b} || '|' || h{2*b+1} AS k FROM sig"
        for b in range(4)
    )
    dot = _dot64("e.embedding", "q.qe", "duckdb")
    na = _dot64("e.embedding", "e.embedding", "duckdb")
    nq = _dot64("q.qe", "q.qe", "duckdb")
    sim = f"({dot} / (sqrt({na}) * sqrt({nq})))"
    bucket_e = _lsh_bucket_sql("e.embedding", "duckdb")
    bucket_e_t1 = _lsh_bucket_sql("e.embedding", "duckdb", table=1)
    dot_bp = _dot64("b.embedding", "p.qe", "duckdb")
    nb_bp = _dot64("b.embedding", "b.embedding", "duckdb")
    np_bp = _dot64("p.qe", "p.qe", "duckdb")
    sim_bp = f"({dot_bp} / (sqrt({nb_bp}) * sqrt({np_bp})))"
    # multi-probe masks for the batched-ANN arm: Hamming radius 2 over
    # 6 bits (must mirror q_ann_bucketed's probe_radius=2 exactly)
    masks_r2 = ", ".join(f"({m})" for m in range(64) if bin(m).count("1") <= 2)
    dot_ab = _dot64("a.embedding", "b.embedding", "duckdb")
    na_a = _dot64("a.embedding", "a.embedding", "duckdb")
    nb_b = _dot64("b.embedding", "b.embedding", "duckdb")
    sim_ab = f"({dot_ab} / (sqrt({na_a}) * sqrt({nb_b})))"

    # The dedup_embed kmeans/keep arms inline centroid literals
    # replicated from the driver's embeddings parquet. On a host
    # without that testdata the replication cannot run — degrade to
    # omitting ONLY the centroid-dependent entry (with a loud
    # warning) instead of failing the whole 50-entry catalog build
    # (the Spark twin of that entry needs the same data anyway).
    try:
        cents = _sem_oracle_centroids()
    except RuntimeError as e:
        import warnings

        warnings.warn(
            f"omitting the dedup_embed and ann_bucketed oracles "
            f"(centroid replication unavailable): {e}", stacklevel=2)
        cents = None
    if cents is not None:
        dist_cols = ", ".join(
            f"{_sem_dist_sql(c)} AS d{i}" for i, c in enumerate(cents))
        least_all = "least(" + ", ".join(
            f"d{i}" for i in range(len(cents))) + ")"
        argmin_case = "CASE " + " ".join(
            f"WHEN d{i} = m THEN {i}" for i in range(len(cents))) + " END"
    else:
        dist_cols = least_all = argmin_case = "NULL"

    # trained-IVF (ivft) arm fragments: cosine of assigned vectors vs
    # the query, and the query's per-centroid distance unpivot used to
    # rank probe cells — all from the same replicated centroid
    # literals (d0..d{k-1} in dist_cols)
    dot_aq = _dot64("a.embedding", "q.qe", "duckdb")
    na_aa = _dot64("a.embedding", "a.embedding", "duckdb")
    nq_qq = _dot64("q.qe", "q.qe", "duckdb")
    sim_aq = f"({dot_aq} / (sqrt({na_aa}) * sqrt({nq_qq})))"
    qd_unpivot = " UNION ALL ".join(
        f"SELECT {i} AS i, d{i} AS d FROM dist WHERE vec_id = 0"
        for i in range(_SEM_K))

    out = {
        "dedup_embed": f"""
            WITH RECURSIVE bkt AS (
              SELECT e.vec_id, e.embedding, {bucket_e} AS bucket
              FROM embeddings e
            ),
            parm AS (
              SELECT 'pairs' AS part, vec_a, vec_b, bucket, sim_r FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       CAST(a.bucket AS INTEGER) AS bucket,
                       round({sim_ab}, 6) AS sim_r
                FROM bkt a JOIN bkt b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              ) WHERE sim_r >= {_SEM_THRESH}
            ),
            dist AS (
              SELECT e.vec_id, e.embedding, {dist_cols}
              FROM embeddings e
            ),
            asg AS (
              SELECT vec_id, embedding, {argmin_case} AS cluster
              FROM (SELECT *, {least_all} AS m FROM dist)
            ),
            karm AS (
              SELECT 'kmeans' AS part, vec_id AS vec_a,
                     CAST(cluster AS BIGINT) AS vec_b,
                     CAST(NULL AS INTEGER) AS bucket,
                     CAST(NULL AS DOUBLE) AS sim_r
              FROM asg
            ),
            sp AS (
              SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
              FROM asg a JOIN asg b
                ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              WHERE round({sim_ab}, 6) >= {_SEM_THRESH}
            ),
            sedges AS (
              SELECT doc_a AS src, doc_b AS dst FROM sp
              UNION
              SELECT doc_b AS src, doc_a AS dst FROM sp
            ),
            sreach AS (
              SELECT src AS doc, src AS lab FROM sedges
              UNION
              SELECT e2.src AS doc, r.lab
              FROM sedges e2 JOIN sreach r ON e2.dst = r.doc
            ),
            sroots AS (
              SELECT doc AS vec_id, min(lab) AS root
              FROM sreach GROUP BY doc
            ),
            keeparm AS (
              SELECT 'keep' AS part, e.vec_id AS vec_a,
                     CAST(CASE WHEN r.root IS NULL OR r.root = e.vec_id
                               THEN 1 ELSE 0 END AS BIGINT) AS vec_b,
                     CAST(NULL AS INTEGER) AS bucket,
                     CAST(NULL AS DOUBLE) AS sim_r
              FROM embeddings e
              LEFT JOIN sroots r ON e.vec_id = r.vec_id
            )
            SELECT * FROM parm
            UNION ALL SELECT * FROM karm
            UNION ALL SELECT * FROM keeparm
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "minhash_lsh": f"""
            WITH sh AS ({sh_cte}),
            sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
            bands AS ({band_selects})
            {_BAND_STAR_PAIRS}
        """,
        "dedup_groups": f"""
            WITH RECURSIVE sh AS ({sh_cte}),
            sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
            bands AS ({band_selects}),
            pairs AS ({_BAND_STAR_PAIRS}),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION
              SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            reach AS (
              SELECT src AS doc, src AS lab FROM edges
              UNION
              SELECT e.src AS doc, r.lab
              FROM edges e JOIN reach r ON e.dst = r.doc
            )
            SELECT doc AS doc_id, min(lab) AS group_root
            FROM reach GROUP BY doc
        """,
        "jaccard_pairs": f"""
            WITH sh0 AS ({sh_cte}),
            sh AS (
              SELECT sh0.* FROM sh0
              JOIN (
                SELECT source, s FROM sh0 GROUP BY source, s
                HAVING count(*) <= {_SHINGLE_DF_CAP}
              ) ok USING (source, s)
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
              FROM sh a JOIN sh b
                ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT p.doc_a, p.doc_b, p.n_shared,
                   sa.n AS n_a, sb.n AS n_b
            FROM pairs p
            JOIN sizes sa ON p.doc_a = sa.doc_id
            JOIN sizes sb ON p.doc_b = sb.doc_id
        """,
        "simhash": f"""
            WITH w AS (
              SELECT doc_id, unnest(list_distinct(ws)) AS wd
              FROM ({words_cte})
            ),
            h AS (SELECT doc_id, md5(wd) AS h FROM w),
            bits AS (
              SELECT doc_id,
                {", ".join(
                    "sum(CASE WHEN substr(h, %d, 1) IN ('8','9','a','b','c','d','e','f') "
                    "THEN 1 ELSE -1 END) AS w%d" % (i + 1, i) for i in range(16)
                )}
              FROM h GROUP BY doc_id
            ),
            nm AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
              FROM documents WHERE doc_id % 5 = 0
            ),
            hh AS (
              SELECT doc_id,
                     list_transform(range(1, length(t) - {WINNOW_K - 1} + 1),
                       i -> substr(md5(substr(t, i, {WINNOW_K})), 1, 8)) AS h
              FROM nm WHERE length(t) >= {WINNOW_K + WINNOW_W - 1}
            )
            SELECT 'simhash' AS part, doc_id,
              CAST(CAST({" + ".join(f"(CASE WHEN w{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(16))} AS BIGINT) AS VARCHAR) AS fp
            FROM bits
            UNION ALL
            SELECT 'winnow' AS part, doc_id,
                   unnest(list_distinct(list_transform(
                     range(1, len(h) - {WINNOW_W - 1} + 1),
                     j -> list_aggregate(list_slice(h, j, j + {WINNOW_W - 1}), 'min')))) AS fp
            FROM hh
        """,
        "doc_features": f"""
            SELECT doc_id,
                   len(ws) AS n_tokens,
                   length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS n_alnum,
                   length(text) AS text_len,
                   CAST(COALESCE(list_sum(list_transform(
                          range(1, len(ws) + 1),
                          i -> i * (131 * length(ws[i])
                                    + 31 * ascii(ws[i][1])
                                    + ascii(ws[i][-1])))), 0)
                        % 2147483647 AS BIGINT) AS fp,
                   len(regexp_extract_all(lower(text), '[a-z]+')) AS n_alpha,
                   len(regexp_extract_all(text, '[0-9]+')) AS n_num,
                   len(regexp_extract_all(lower(text), '[^a-z0-9 ]+')) AS n_other,
                   len(regexp_extract_all(lower(text), '[a-z]+'))
                   + len(regexp_extract_all(text, '[0-9]+'))
                   + len(regexp_extract_all(lower(text), '[^a-z0-9 ]+')) AS n_bpe,
                   {split_case_sql()} AS split,
                   CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT) % 8 AS INTEGER) AS shard
            FROM ({words_cte})
        """,
        "lang_id": f"""
            WITH x AS (
              SELECT doc_id, lang, text, lower(text) AS lt, ws
              FROM ({words_cte})
            )
            SELECT doc_id, lang,
                   len(list_filter(ws, w -> w IN ('the','a','of','and'))) AS n_en_stop,
                   len(ws) AS n_tokens,
                   CASE WHEN len(list_filter(ws, w -> w IN ('the','a','of','and'))) * 12
                             >= len(ws) THEN 1 ELSE 0 END AS guess_sw,
                   CAST({" + ".join(f"(length(lt) - length(replace(lt, '{g}', ''))) / 3" for g in _TRIGRAMS)} AS BIGINT) AS n_tri_hits,
                   length(text) AS text_len,
                   CASE WHEN CAST({" + ".join(f"(length(lt) - length(replace(lt, '{g}', ''))) / 3" for g in _TRIGRAMS)} AS BIGINT) * 50
                             >= length(text) THEN 1 ELSE 0 END AS guess_ng
            FROM x
        """,
        "token_freq": f"""
            SELECT word, count(*) AS n FROM (
              SELECT unnest(ws) AS word FROM ({words_cte})
            ) GROUP BY word
        """,
        "len_quantiles": """
            SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.95), 4) AS p95,
                   count(*) AS n
            FROM documents GROUP BY lang
        """,
        "ann_cosine": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id, round({sim}, 6) AS sim_r
              FROM embeddings e, q WHERE e.vec_id <> 0
            )
            SELECT rk, vec_id, sim_r FROM (
              SELECT *, row_number() OVER (ORDER BY sim_r DESC, vec_id) AS rk
              FROM scored
            ) WHERE rk <= 10
        """,
        "ann_bucketed": f"""
            SELECT 'lsh' AS method, rk, vec_id, sim_r FROM (
            WITH b AS (SELECT e.vec_id, e.embedding, {bucket_e} AS bucket
                       FROM embeddings e),
            q AS (SELECT e.embedding AS qe, {bucket_e} AS qbucket
                  FROM embeddings e WHERE e.vec_id = 0),
            scored AS (
              SELECT e.vec_id, round({sim}, 6) AS sim_r
              FROM b e JOIN q ON e.bucket = q.qbucket
              WHERE e.vec_id <> 0
            )
            SELECT rk, vec_id, sim_r FROM (
              SELECT *, row_number() OVER (ORDER BY sim_r DESC, vec_id) AS rk
              FROM scored
            ) WHERE rk <= 5
            )
            UNION ALL
            SELECT 'ivf' AS method, rk, vec_id, sim_r FROM (
            WITH cents AS (
              SELECT vec_id AS cid, embedding AS ce FROM embeddings
              WHERE vec_id < 4
            ),
            a AS (
              SELECT e.vec_id, e.embedding, c.cid,
                     ({_dot64("e.embedding", "c.ce", "duckdb")}
                      / (sqrt({_dot64("e.embedding", "e.embedding", "duckdb")})
                         * sqrt({_dot64("c.ce", "c.ce", "duckdb")}))) AS csim
              FROM embeddings e CROSS JOIN cents c
            ),
            cells AS (
              SELECT vec_id, embedding, cid AS cell FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
                FROM a
              ) WHERE rk = 1
            ),
            probe AS (
              SELECT cid AS pcell FROM a WHERE vec_id = 0
              ORDER BY csim DESC, cid LIMIT 2
            ),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT cl.vec_id,
                     round(({_dot64("cl.embedding", "q.qe", "duckdb")}
                      / (sqrt({_dot64("cl.embedding", "cl.embedding", "duckdb")})
                         * sqrt({_dot64("q.qe", "q.qe", "duckdb")}))), 6) AS sim_r
              FROM cells cl JOIN probe p ON cl.cell = p.pcell CROSS JOIN q
              WHERE cl.vec_id <> 0
            )
            SELECT rk, vec_id, sim_r FROM (
              SELECT *, row_number() OVER (ORDER BY sim_r DESC, vec_id) AS rk
              FROM scored
            ) WHERE rk <= 5
            )
            UNION ALL
            SELECT 'batch' || CAST(qid AS VARCHAR) AS method, rk, vec_id, sim_r FROM (
            WITH b AS (
              SELECT e.vec_id, e.embedding, 0 AS t, {bucket_e} AS bucket
              FROM embeddings e
              UNION ALL
              SELECT e.vec_id, e.embedding, 1 AS t, {bucket_e_t1} AS bucket
              FROM embeddings e
            ),
            q AS (
              SELECT e.vec_id AS qid, e.embedding AS qe, 0 AS qt,
                     {bucket_e} AS qsig
              FROM embeddings e WHERE e.vec_id IN (1, 2, 3)
              UNION ALL
              SELECT e.vec_id, e.embedding, 1, {bucket_e_t1}
              FROM embeddings e WHERE e.vec_id IN (1, 2, 3)
            ),
            p AS (
              SELECT q.qid, q.qe, q.qt, xor(q.qsig, m.m) AS qbucket
              FROM q, (VALUES {masks_r2}) m(m)
            ),
            scored AS (
              SELECT p.qid, b.vec_id, round({sim_bp}, 6) AS sim_r
              FROM b JOIN p ON b.t = p.qt AND b.bucket = p.qbucket
              WHERE b.vec_id <> p.qid
            ),
            d AS (
              SELECT qid, vec_id, max(sim_r) AS sim_r
              FROM scored GROUP BY qid, vec_id
            )
            SELECT qid, rk, vec_id, sim_r FROM (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY sim_r DESC, vec_id) AS rk
              FROM d
            ) WHERE rk <= 5
            )
            UNION ALL
            SELECT 'ivft' AS method, rk, vec_id, sim_r FROM (
            WITH dist AS (
              SELECT e.vec_id, e.embedding, {dist_cols}
              FROM embeddings e
            ),
            asg AS (
              SELECT vec_id, embedding, {argmin_case} AS cell
              FROM (SELECT *, {least_all} AS m FROM dist)
            ),
            qd AS ({qd_unpivot}),
            probe AS (
              SELECT i AS pcell FROM (
                SELECT i, d, row_number() OVER (ORDER BY d ASC, i ASC)
                  AS prk
                FROM qd
              ) WHERE prk <= 2
            ),
            q AS (SELECT embedding AS qe FROM embeddings
                  WHERE vec_id = 0),
            scored AS (
              SELECT a.vec_id, round({sim_aq}, 6) AS sim_r
              FROM asg a JOIN probe p ON a.cell = p.pcell CROSS JOIN q
              WHERE a.vec_id <> 0
            )
            SELECT rk, vec_id, sim_r FROM (
              SELECT *, row_number() OVER (ORDER BY sim_r DESC, vec_id)
                AS rk
              FROM scored
            ) WHERE rk <= 5
            )
        """,
        "users_no_purchase": """
            WITH e AS (
              SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events
            )
            SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
                   count(*) AS n_events
            FROM e a
            WHERE NOT EXISTS (
              SELECT 1 FROM e b
              WHERE b.event_type = 'purchase'
                AND b.user_id = a.user_id AND b.day = a.day
            )
            GROUP BY user_id, day
        """,
        "multimodal_features": """
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte
            FROM documents
        """,
        "events_windowed": """
            SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_json": """
            WITH k AS (
              SELECT event_type,
                     CASE WHEN regexp_matches(v, '^-?[0-9]+\\z')
                          THEN TRY_CAST(v AS BIGINT) END AS vk
              FROM (SELECT event_type,
                           json_extract_string(props, '$.k') AS v
                    FROM events)
            )
            SELECT 'path' AS part, event_type AS key,
                   CAST(sum(vk) AS BIGINT) AS sum_k, count(*) AS n
            FROM k GROUP BY 2
            UNION ALL
            SELECT 'map' AS part, key,
                   CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+\\z')
                                 THEN TRY_CAST(v AS BIGINT) END)
                        AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM (SELECT key, json_extract_string(props, '$.' || key) AS v
                  FROM (SELECT props, unnest(json_keys(props)) AS key
                        FROM events))
            GROUP BY 2
            UNION ALL
            SELECT 'variant' AS part, event_type AS key,
                   CAST(sum(vk) AS BIGINT) AS sum_k,
                   CAST(count(vk) AS BIGINT) AS n
            FROM k GROUP BY 2
        """,
        "sessionize": """
            WITH x AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS pus
              FROM events
            ),
            sess AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN pus IS NULL OR us - pus > 1800000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                     count(*) AS n_events
              FROM x GROUP BY user_id
            ),
            t1 AS (SELECT user_id, min(ts) AS t FROM events
                   WHERE event_type = 'view' GROUP BY 1),
            t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t
                   WHERE e.event_type = 'click' GROUP BY 1),
            t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t
                   WHERE e.event_type = 'purchase' GROUP BY 1)
            SELECT 'sessions' AS part, user_id, n_sessions, n_events,
                   CAST(NULL AS VARCHAR) AS step,
                   CAST(NULL AS BIGINT) AS n_users
            FROM sess
            UNION ALL
            SELECT 'funnel', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), s.step, s.n
            FROM (
              SELECT '1_view' AS step, count(*) AS n FROM t1
              UNION ALL SELECT '2_click', count(*) FROM t2
              UNION ALL SELECT '3_purchase', count(*) FROM t3
            ) s
        """,
        "tfidf_terms": _TFIDF_ORACLE,
        "revenue_by_nation": _REVENUE_ORACLE,
        "curate_corpus": _CURATE_ORACLE,
        "asof_clicks": _ASOF_ORACLE,
        "range_join_events": _RANGE_JOIN_ORACLE,
    }
    if cents is None:
        # ann_bucketed's ivft arm shares the centroid literals
        out.pop("dedup_embed")
        out.pop("ann_bucketed")
    return out


# ---------------------------------------------------------------------------
# Merged registry entries (driver checks the first 50 registry entries;
# same-shape per-doc queries widen into one projection, the bucketed ANN
# variants union under a method tag — identical operator plans, fewer
# registry slots; see queries.py for the pipeline-side merges).
# ---------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: BOTH heuristics in one narrow projection — English
    stopword density over tokens (guess_sw) and character-trigram hit
    density (guess_ng). One pass over text, all JVM-side."""
    df = _with_words(_docs(spark, sf_dir)).withColumn("lt", F.lower("text"))
    n_stop = F.size(F.filter(F.col("ws"), lambda w: w.isin("the", "a", "of", "and")))
    hit_terms = [
        (F.length("lt") - F.length(F.expr(f"replace(lt, '{g}', '')"))) / 3
        for g in _TRIGRAMS
    ]
    n_hits = hit_terms[0]
    for term in hit_terms[1:]:
        n_hits = n_hits + term
    return df.select(
        "doc_id", "lang",
        n_stop.cast("long").alias("n_en_stop"),
        F.size("ws").cast("long").alias("n_tokens"),
        F.when(n_stop * 12 >= F.size("ws"), F.lit(1)).otherwise(F.lit(0))
        .alias("guess_sw"),
        n_hits.cast("long").alias("n_tri_hits"),
        F.length("text").cast("long").alias("text_len"),
        F.when(n_hits.cast("long") * 50 >= F.length("text"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("guess_ng"),
    )


def q_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document feature vector in ONE narrow map stage: quality
    signals (token count, alnum mass, raw length), the rolling-hash
    fingerprint, and the BPE-ish pre-tokenizer run counts. The merged
    projection is the realistic shape anyway — a curation pipeline
    materializes one feature table, not five."""
    df = _with_words(_docs(spark, sf_dir))
    contrib = F.transform(
        F.col("ws"),
        lambda w, i: (i + F.lit(1)).cast("long")
        * (
            F.length(w).cast("long") * 131
            + F.ascii(F.substring(w, 1, 1)).cast("long") * 31
            + F.ascii(F.substring(w, -1, 1)).cast("long")
        ),
    )
    fp = F.aggregate(contrib, F.lit(0).cast("long"), lambda a, x: a + x)
    n_alpha = F.expr("size(regexp_extract_all(lower(text), '[a-z]+', 0))")
    n_num = F.expr("size(regexp_extract_all(text, '[0-9]+', 0))")
    n_other = F.expr("size(regexp_extract_all(lower(text), '[^a-z0-9 ]+', 0))")
    return df.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""))
        .cast("long").alias("n_alnum"),
        F.length("text").cast("long").alias("text_len"),
        (fp % F.lit(2147483647)).cast("long").alias("fp"),
        n_alpha.cast("long").alias("n_alpha"),
        n_num.cast("long").alias("n_num"),
        n_other.cast("long").alias("n_other"),
        (n_alpha + n_num + n_other).cast("long").alias("n_bpe"),
        # deterministic hash split + export shard placement ride the
        # same feature table — the columns a curation pipeline
        # partitions its exports by; surfacing shard here puts
        # export_jsonl's placement function inside the oracle gate
        split_column().alias("split"),
        shard_column("doc_id", 8).alias("shard"),
    )


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed ANN scale paths, tagged union: 6-bit hyperplane
    LSH (method='lsh') and the fixed-quantizer IVF baseline
    (method='ivf'), each an exact top-5 re-rank inside its probed
    bucket(s) only — plus the batched multi-table multi-probe form
    (method='batchN' for query N): ONE pass answers queries 1..3
    through the PERSISTED partitionBy(t, bucket) index
    (build_ann_index — partition pruning asserted in
    tests/test_plans.py) with 2 independent hyperplane tables and
    Hamming probe radius 2 — the production-grade config
    BENCH/RECALL.md measures at recall 0.828 scanning ~69% of this
    64-bucket fixture (at a production bit-width the probed fraction
    shrinks geometrically; radius-2/tables-2 is the shipping recall
    point, radius 1 the cheap one) — plus the TRAINED IVF production
    path (method='ivft'): Lloyd-k-means cells through the persisted
    partitionBy(cell) index, nprobe=2 of 8 trained cells (~25%
    scanned; beats the fixed quantizer at equal scan fraction,
    BENCH/RECALL.md)."""
    lsh = q_ann_lsh(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "rk", "vec_id", "sim_r"
    )
    ivf = q_ann_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "rk", "vec_id", "sim_r"
    )
    batch = ann_search(
        spark, sf_dir, "lsh", query_ids=[1, 2, 3], k=5, n_tables=2,
        probe_radius=2, index_dir=ensure_ann_index(spark, sf_dir, n_tables=2),
    ).select(
        F.concat(F.lit("batch"), F.col("qid").cast("string")).alias("method"),
        "rk",
        "vec_id",
        "sim_r",
    )
    # method='ivft': the TRAINED coarse quantizer (Lloyd k-means cells
    # via kmeans_fit_assign, k=_SEM_K) through the persisted
    # partitionBy(cell) index, nprobe=2 of 8 cells — the production
    # IVF path; the oracle recomputes assignment + probe ranking from
    # the independently-replicated centroid literals (same literals
    # the dedup_embed kmeans arm pins).
    ivft = ann_search(
        spark, sf_dir, "ivf", query_ids=[0], k=5, nprobe=2,
        index_dir=ensure_ann_index(spark, sf_dir, n_tables=2),
    ).select(F.lit("ivft").alias("method"), "rk", "vec_id", "sim_r")
    return lsh.unionByName(ivf).unionByName(batch).unionByName(ivft)


def q_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN as a composition (the operator Spark lacks natively):
    for every error event, the same user's most recent click at or
    before it.

    Pattern: ordered window CARRY-FORWARD — last(click_id, ignorenulls)
    over (user ORDER BY ts ROWS UNBOUNDED PRECEDING) — instead of the
    naive range self-join. One partition-local sort per user key,
    O(n log n), no quadratic candidate explosion; at 100 TB the window
    partitions by the same user/conv bucket key the table is already
    laid out on, so the sort is partition-local with no extra
    exchange. Exact integer/id outputs -> exact oracle compare."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = ev.withColumn(
        "last_click_id",
        F.last(
            F.when(F.col("event_type") == "click", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "last_click_id"
    )


_ASOF_ORACLE = """
    SELECT event_id AS err_id, user_id, last_click_id FROM (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click_id
      FROM events
    )
    WHERE event_type = 'error'
"""


_RANGE_US = 300_000_000  # 5 minutes


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN as a banded composition: (error, click) pairs by the
    same user within 5 minutes of each other.

    The naive form is a theta join (|t_e - t_c| <= B) — a per-user
    cartesian at scale. Banding makes it an EQUI join: with buckets of
    width B, |dt| <= B implies the two buckets differ by at most 1, so
    one side explodes to its 3 neighbouring buckets, the join runs on
    (user_id, bucket), and an exact |dt| filter trims band edges. 3x
    fan-out on the smaller side buys a shuffle hash join instead of a
    quadratic range scan. Bucket time is NAIVE wall microseconds
    (timestampdiff from a fixed NTZ epoch — no tz/DST nonlinearity),
    matching DuckDB's epoch_us exactly."""
    ev = _events(spark, sf_dir).withColumn(
        "t_us",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"),
    ).withColumn("bucket", F.floor(F.col("t_us") / _RANGE_US))
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id"), F.col("event_id").alias("err_id"),
            F.col("t_us").alias("t_err"),
            F.explode(
                F.array(
                    F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
                )
            ).alias("bucket"),
        )
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("t_us").alias("t_clk"), "bucket",
    )
    return (
        err.join(clk, ["user_id", "bucket"])
        .filter(F.abs(F.col("t_err") - F.col("t_clk")) <= _RANGE_US)
        .select(
            "err_id", "click_id", "user_id",
            (F.col("t_err") - F.col("t_clk")).alias("dt_us"),
        )
    )


_RANGE_JOIN_ORACLE = f"""
    SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS dt_us
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND abs(epoch_us(e.ts) - epoch_us(c.ts)) <= {_RANGE_US}
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join breadth (TPC-H-Q5 shape): lineitem x orders x
    customer x nation -> revenue per nation.

    lineitem x orders is big-x-big: at scale it is a shuffle join on
    the order key (Catalyst/AQE picks sort-merge, or broadcast when
    runtime stats show one side small — both are the right answer at
    their respective sizes, so the plan is left to the optimizer).
    nation is dimension-tiny and explicitly broadcast. Revenue is
    summed in INTEGER CENTS — per-item round(price*(1-disc)*100) is
    the identical double expression in both engines, and the integer
    sum is order-independent, so the oracle compare is exact (a raw
    double sum would be order-dependent across engines)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long")
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_items"), F.sum(cents).alias("revenue_cents")
    )


_REVENUE_ORACLE = """
    SELECT n_name AS nation, count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1
"""


_BLOOM_BITS_PER_GRAM = 16  # k=3 hashes -> FP rate ~0.5% per probe
_BLOOM_K = 3


def _bloom_positions(m_bits: int):
    """The k Bloom bit positions of a ``gram`` column as JVM exprs —
    double hashing over two independent xxhash64 seeds (pmod BEFORE
    the combine keeps every intermediate < k*m, no ANSI long
    overflow). Used identically on the build side (benchmark) and the
    probe side (corpus), so there is no cross-language hash to
    replicate: the driver only ORs collected bit positions into the
    mask, it never recomputes a hash."""
    h1 = F.pmod(F.xxhash64("gram"), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64("gram", F.lit(1)), F.lit(m_bits))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
            for i in range(_BLOOM_K)]


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  id_col: str = "doc_id",
                  mode: str = "broadcast") -> DataFrame:
    """Benchmark decontamination: documents sharing ANY word n-gram
    with an eval/benchmark set — the training-data hygiene pass that
    keeps eval questions out of the training corpus (n-gram overlap is
    the standard public method, e.g. GPT-3 App. C / PaLM-style 8-13
    gram checks).

    Two scale modes, SAME exact result (asserted equal in pytest):

    - ``mode="broadcast"`` (default): the benchmark's distinct gram
      set broadcasts and the corpus side never shuffles — each doc
      explodes its n-grams (a JVM transform over the token array, no
      Python) and broadcast-semi-joins; the only exchange is the final
      per-doc count aggregation, map-side combined. Right whenever the
      gram set fits a broadcast (typical eval suites: MBs).

    - ``mode="bloom"``: for HUGE benchmark suites whose gram set is an
      uncomfortable broadcast (the set is unbounded in principle). A
      Bloom bitmask (16 bits/gram, k=3 — ~0.5% false-positive rate) is
      built from the benchmark grams' xxhash64 bit positions and
      broadcast instead — 4x smaller than a 64-bit hash set and ~30x
      smaller than raw gram strings, with the bits/gram knob bounding
      it regardless of gram length. The corpus pass tests the k bits
      JVM-side (element_at + shiftleft on a long[] mask — no Python)
      and only the surviving ~FP fraction of (id, gram) rows reaches
      the exact verify semi-join, which Spark plans between two now-
      SMALL relations. False positives therefore cost duplicate work,
      never wrong output: the result is exact in both modes.

    The driver-side footprint of the bloom build is the collected
    distinct BIT POSITIONS (<= k x distinct grams ints) — bounded by
    the benchmark, never the corpus; the corpus side stays one scan in
    both modes.

    Returns (id_col, n_shared) — flagged docs only, n_shared = how
    many DISTINCT benchmark n-grams the document contains."""
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if mode not in ("broadcast", "bloom"):
        raise ValueError(f"unknown mode {mode!r}")

    def grams(df: DataFrame) -> DataFrame:
        d = _with_words(df).filter(F.size("ws") >= n)
        g = F.transform(
            F.sequence(F.lit(1), F.size("ws") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("ws", i, n)))
        return d.select(id_col, F.explode(g).alias("gram"))

    bench = grams(benchmark).select("gram").distinct()
    doc_grams = grams(docs)
    if mode == "bloom":
        spark = docs.sparkSession
        # the gram set feeds the count and the mask build back to back
        # — cache it for those two jobs only; it is unpersisted once the
        # mask is on the driver, so repeated calls leak no cached frame
        # (the lazy verify join below recomputes the small gram set)
        bench = bench.persist()
        n_grams = bench.count()
        m_bits = max(1024, _BLOOM_BITS_PER_GRAM * n_grams)
        m_bits += (-m_bits) % 64
        pos_exprs = _bloom_positions(m_bits)
        # fold bit positions into 64-bit mask WORDS distributed-side
        # (bit_or partial-aggregates map-side): the driver collects at
        # most m_bits/64 longs — never k x n_grams position rows,
        # which for a 100M-gram suite would out-weigh the very gram
        # broadcast this mode exists to avoid
        word_rows = (
            bench.select(F.explode(F.array(*pos_exprs)).alias("p"))
            .groupBy(F.shiftright("p", 6).cast("int").alias("w"))
            .agg(F.bit_or(F.call_function(
                "shiftleft", F.lit(1).cast("long"),
                F.col("p").bitwiseAND(F.lit(63)).cast("int")))
                .alias("bits"))
            .collect()
        )
        words = [0] * (m_bits // 64)
        for r in word_rows:
            words[int(r["w"])] = int(r["bits"])
        bench.unpersist()
        mask = spark.createDataFrame([(words,)], "bloom_mask array<bigint>")
        hit_all = None
        for pos in pos_exprs:
            word = F.element_at(
                "bloom_mask", F.shiftright(pos, 6).cast("int") + F.lit(1))
            # call_function: the SQL shiftleft takes a column bit
            # count; the python wrapper F.shiftleft only a literal
            bit = F.call_function(
                "shiftleft", F.lit(1).cast("long"),
                pos.bitwiseAND(F.lit(63)).cast("int"))
            hit = word.bitwiseAND(bit) != F.lit(0)
            hit_all = hit if hit_all is None else (hit_all & hit)
        doc_grams = (
            doc_grams.join(F.broadcast(mask))
            .filter(hit_all)
            .select(id_col, "gram")
        )
    matched = doc_grams.join(
        F.broadcast(bench) if mode == "broadcast" else bench,
        "gram", "left_semi")
    return (
        matched.groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_shared"))
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation capstone, tagged union (part='kept' |
    'contaminated').

    part='kept': the composed filter -> dedup pass a training-data
    pipeline runs before tokenization. Gates: token count >= 5,
    English stopword density (the lang_stopword heuristic), alnum
    mass >= half the raw length; then exact near-dup removal on
    whitespace-normalized text, keeping the lowest doc_id per group.

    part='contaminated': benchmark decontamination (decontaminate()) —
    docs sharing any word n-gram with the held-out benchmark subset
    (here the deterministic doc_id % 97 == 0 slice stands in for the
    eval set; n=4 keeps the arm non-trivial on the synthetic fixture,
    production uses 8-13). n_dups carries the distinct shared-gram
    count for this arm.

    Scale shape: all gates are narrow JVM-side map work; the kept
    arm's ONE shuffle groups by md5(norm_text) — a 32-byte key instead
    of the full document, so the exchange carries hashes + ids, never
    text (same trick as dedup_exact; md5 is identical hex in both
    engines) — and the contamination arm broadcasts the benchmark
    grams, so the corpus side never shuffles before its count."""
    raw = _docs(spark, sf_dir)
    bench = raw.filter(F.col("doc_id") % 97 == 0)
    contam = (
        decontaminate(raw.filter(F.col("doc_id") % 97 != 0), bench, n=4)
        .select(F.lit("contaminated").alias("part"), "doc_id",
                F.col("n_shared").alias("n_dups"))
    )
    docs = _with_words(raw)
    # explicit whitespace class: Java \s matches \x0b, RE2 \s does not —
    # the same literal class keeps the md5 keys engine-identical
    norm = F.lower(F.trim(F.regexp_replace("text", "[ \\t\\n\\f\\r]+", " ")))
    n_stop = F.size(F.filter(F.col("ws"), lambda w: w.isin("the", "a", "of", "and")))
    cand = docs.select(
        "doc_id",
        F.md5(norm).alias("key"),
        F.size("ws").alias("n_tokens"),
        n_stop.alias("n_stop"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")).alias("n_alnum"),
        F.length("text").alias("text_len"),
    ).filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_stop") * 12 >= F.col("n_tokens"))
        & (F.col("n_alnum") * 2 >= F.col("text_len"))
    )
    kept = cand.groupBy("key").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups")
    ).select(F.lit("kept").alias("part"), "doc_id", "n_dups")
    return kept.unionByName(contam)


_CURATE_ORACLE = f"""
    WITH c AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g')))) AS key,
             len(ws) AS n_tokens,
             len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and'))) AS n_stop,
             length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS n_alnum,
             length(text) AS text_len
      FROM (SELECT doc_id, text, {_WORDS_DUCK} AS ws FROM documents)
    ),
    w AS (SELECT doc_id, {_WORDS_DUCK} AS ws FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 4 + 2),
                    i -> array_to_string(ws[i:i+3], ' '))) AS gram
      FROM w WHERE len(ws) >= 4
    ),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
    SELECT 'kept' AS part, min(doc_id) AS doc_id, count(*) AS n_dups
    FROM c
    WHERE n_tokens >= 5 AND n_stop * 12 >= n_tokens
      AND n_alnum * 2 >= text_len
    GROUP BY key
    UNION ALL
    SELECT 'contaminated' AS part, g.doc_id,
           count(DISTINCT g.gram) AS n_dups
    FROM g JOIN bg USING (gram)
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global TF-IDF top-30 terms over documents (text-analysis
    breadth: the term-weighting primitive a training-data curation
    pipeline uses for topic filtering / quality lexicons).

    Float determinism: all aggregation is INTEGER (sum_tf = total term
    count, df = doc frequency) and the only float op is one
    sum_tf * ln(n_docs/df) multiply per term, rounded to 4 — identical
    in both engines; never an order-dependent float sum. Top-30 is
    orderBy(desc, term).limit — TakeOrderedAndProject, per-partition
    top-k then a driver merge, no global sort at scale."""
    words = (
        _with_words(_docs(spark, sf_dir))
        .select("doc_id", F.explode("ws").alias("term"))
        .filter(F.length("term") >= 3)
    )
    tf = words.groupBy("term").agg(
        F.count("*").alias("sum_tf"), F.countDistinct("doc_id").alias("df")
    )
    total = _docs(spark, sf_dir).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        tf.crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(F.col("sum_tf") * F.log(F.col("n_docs") / F.col("df")), 4),
        )
        .select("term", "sum_tf", "df", "tfidf")
        .orderBy(F.desc("tfidf"), F.asc("term"))
        .limit(30)
    )


_TFIDF_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, unnest({_WORDS_DUCK}) AS term FROM documents
    ),
    f AS (
      SELECT term, count(*) AS sum_tf, count(DISTINCT doc_id) AS df
      FROM w WHERE len(term) >= 3 GROUP BY term
    ),
    t AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT term, sum_tf, df,
           round(sum_tf * ln(n_docs / df), 4) AS tfidf
    FROM f, t
    ORDER BY tfidf DESC, term ASC LIMIT 30
"""


CORPUS_QUERIES = {
    "tfidf_terms": q_tfidf_terms,
    "revenue_by_nation": q_revenue_by_nation,
    "curate_corpus": q_curate_corpus,
    "asof_clicks": q_asof_clicks,
    "range_join_events": q_range_join_events,
    "dedup_embed": q_dedup_embed,
    "dedup_exact": q_dedup_exact,
    "minhash_lsh": q_minhash_lsh,
    "dedup_groups": q_dedup_groups,
    "jaccard_pairs": q_jaccard_pairs,
    "simhash": q_simhash,
    "doc_features": q_doc_features,
    "lang_id": q_lang_id,
    "token_freq": q_token_freq,
    "len_quantiles": q_len_quantiles,
    "ann_cosine": q_ann_cosine,
    "ann_bucketed": q_ann_bucketed,
    "users_no_purchase": q_users_no_purchase,
    "multimodal_features": q_multimodal_features,
    "events_windowed": q_events_windowed,
    "events_json": q_events_json,
    "sessionize": q_sessionize,
}
