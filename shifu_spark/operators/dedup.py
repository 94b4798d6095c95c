"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash. All engine-portable where
oracle-checked: the hash family is md5-hex (present in both Spark and
DuckDB) and "minimum" is lexicographic over hex strings — a valid
min-hash since md5 is uniform over the hex alphabet.

Scale design (100 TB):
  * exact dedup — hash-groupBy, one shuffle on the 32-char digest;
  * shingle self-join (the naive quadratic candidate generator) is the
    TEST-scale verifier only; at scale MinHash+LSH bounds candidates:
    K hashes, b bands × r rows, join on (band_id, band_key) — shuffle
    volume is docs × b rows, hot buckets mitigated by the band key being
    a hash (uniform) + AQE skew handling;
  * verification joins only LSH candidates (tiny vs all-pairs).
"""

from __future__ import annotations

from pyspark.ml.feature import NGram
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shifu_spark.session import local_frame


def gram_array_df(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc DISTINCT word n-gram shingle ARRAY: (doc_id, sh_set) —
    the in-row form every shingle consumer derives from (r12: factored
    out so :func:`shingles_df`, :func:`minhash_lsh_pairs_df` and the
    verify-side counts share ONE definition and cannot drift).

    Tokenization = single-space split (portable to the oracle SQL);
    docs shorter than n tokens contribute their full text as one shingle.
    NULL-text docs are EXCLUDED (and so are absent from every
    shingle-derived relation): NGram throws on a NULL token array, and
    a NULL doc must not alias the genuinely-empty doc's '' shingle and
    pair with it at jaccard 1.0.
    """
    toks = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
    )
    return _with_word_ngrams(toks, "toks", n, "sh_set").select("doc_id", "sh_set")


def _with_word_ngrams(df: DataFrame, toks_col: str, n: int, out_col: str) -> DataFrame:
    """Append ``out_col``: the DISTINCT word n-grams of the token array
    ``toks_col`` (joined by one space); an array shorter than n gives its
    one shingle ``concat_ws(' ', toks)``. ``toks_col`` must hold no NULL
    array: MLlib's NGram throws on one, so callers filter or coalesce.

    Why this shape:
     * MLlib's ``NGram`` slides the window in compiled Scala, one call
       per row. The SQL form, a ``transform`` lambda over the window
       start indexes, is a higher-order function with no codegen, and
       under the consumers' explode + cache it ran interpreted per
       element: the exploded shingle cache of a 500-doc corpus of
       8–100-token docs took 0.54–0.72 s to build that way and
       0.25–0.34 s through NGram, for 3- and 5-grams (4 cores);
     * ``array_distinct`` per doc IN-ROW — dedup never needs a global
       distinct shuffle of every shingle occurrence.
    """
    toks = F.col(toks_col)
    ng = f"{out_col}__ng"
    grams = F.when(F.size(toks) >= n, F.col(ng)).otherwise(F.array(F.concat_ws(" ", toks)))
    return (
        NGram(n=n, inputCol=toks_col, outputCol=ng).transform(df)
        .withColumn(out_col, F.array_distinct(grams))
        .drop(ng)
    )


def shingles_df(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc, EXPLODED: (doc_id, shingle)
    — :func:`gram_array_df` for the construction/NULL contract."""
    return gram_array_df(docs, n, id_col, text_col).select(
        "doc_id", F.explode(F.col("sh_set")).alias("shingle")
    )


def exact_dedup_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalized: bool = False) -> DataFrame:
    """Exact dedup by content digest: (doc_id, digest, is_canonical).

    Canonical = smallest doc_id in the digest group. ``normalized``
    lower-cases and collapses whitespace first.
    """
    t = F.col(text_col)
    if normalized:
        t = F.regexp_replace(F.lower(t), r"\s+", " ")
    d = docs.select(F.col(id_col).alias("doc_id"), F.md5(t).alias("digest"))
    from pyspark.sql import Window

    w = Window.partitionBy("digest")
    return d.withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))


def shingleset_dedup_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """Dedup on the SET of shingles (robust to reordering-free edits):
    fingerprint = md5 of the sorted distinct shingle list."""
    # r12 (guide §1.2/§2.4): the fingerprint is md5 over the SORTED
    # distinct gram array — computable straight off gram_array_df's
    # in-row set, so the explode + collect_set groupBy (a shingle-scale
    # shuffle) is gone; array_sort of the same distinct elements yields
    # the identical digest.  Only the digest window shuffles.
    agg = gram_array_df(docs, n).select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.col("sh_set")), "\x01")).alias("digest"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("digest")
    return agg.withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))


#: Hard ceiling on the exact all-pairs verifier — the shared-shingle
#: join is quadratic in the worst case (every doc sharing a shingle);
#: misuse should fail loudly with a pointer at the LSH path (VERDICT r3
#: "What's wrong #3" / next-round #6).
EXACT_PAIRS_MAX_DOCS = 100_000


def ngram_jaccard_pairs_df(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    cache_out: list[DataFrame] | None = None,
    max_docs: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via shared-shingle join.

    (doc_a, doc_b, jaccard): jaccard = |∩| / (|A| + |B| − |∩|), exact
    integer arithmetic. Quadratic in the worst case — the correctness
    verifier; use :func:`minhash_lsh_pairs_df` at scale (the guard
    raises above ``max_docs``, default the module's
    ``EXACT_PAIRS_MAX_DOCS``, instead of shuffling O(N²) pairs).
    The shingle cache is appended to ``cache_out`` for the caller to
    release once the result is consumed.
    """
    if max_docs is None:
        max_docs = EXACT_PAIRS_MAX_DOCS  # read at call time (tunable)
    # bounded probe: scanning stops at cap+1 rows instead of counting
    # the whole (possibly filtered/computed) input twice
    if docs.limit(max_docs + 1).count() > max_docs:
        raise ValueError(
            f"exact all-pairs Jaccard refused: > {max_docs} docs. "
            "This is the quadratic exact verifier; use minhash_lsh_pairs_df "
            "(banded LSH, shuffle = docs x bands) for data-scale corpora, or "
            "raise max_docs explicitly."
        )
    sh = shingles_df(docs, n).persist()  # feeds the join twice + counts
    if cache_out is not None:
        cache_out.append(sh)
    # counts from the CACHED exploded rows, not gram_array_df: partial
    # aggregation collapses the groupBy map-side (shuffle is doc-level),
    # while re-deriving the gram arrays from the raw docs would pay the
    # whole split/transform chain again per count consumer — measured 3x
    # end-to-end when tried in r12
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb"))
    j = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(ca, "doc_a").join(cb, "doc_b")
        .withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures_df(docs: DataFrame, n: int = 3, num_hashes: int = 8) -> DataFrame:
    """(doc_id, k, minhash): K salted-md5 min-hashes over the shingle set.

    hash_k(s) = md5(k || '|' || s); the minimum is lexicographic over hex
    (uniform ⇒ valid MinHash). Engine-portable by construction.
    """
    return _minhash_from_shingles(shingles_df(docs, n), num_hashes)


def _minhash_wide(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, mh0..mh{K-1}): all K min-hashes in ONE aggregation pass.

    K min() aggs over salted md5 — no K-way row explosion, no
    collect_list; shuffle volume = shingle rows once, partial-agg
    collapses to one row per (doc, task)."""
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(k)), F.col("shingle")))).alias(f"mh{k}")
        for k in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    wide = _minhash_wide(sh, num_hashes)
    pairs = F.array(
        *[
            F.struct(F.lit(k).alias("k"), F.col(f"mh{k}").alias("minhash"))
            for k in range(num_hashes)
        ]
    )
    return wide.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.k").alias("k"), F.col("p.minhash").alias("minhash")
    )


def with_minhash_signature(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "signature",
) -> DataFrame:
    """Append a full MinHash signature column computed ENTIRELY in-row.

    Same hash family and shingling as :func:`minhash_signatures_df`
    (salted-md5 lexicographic min over distinct word n-grams — equality
    pinned by tests/test_dedup_signature.py), but with zero shuffle: the
    shingle set, the K min-hashes, and the joined signature are array
    expressions over the row. That makes it legal as the stateless half
    of a Structured Streaming plan whose ONLY stateful operator is the
    downstream groupBy(signature) — multiple stateful ops per stream are
    restricted, so signature-at-ingest is the streaming-dedup shape.
    """
    # NULL text tokenizes to an empty array (NGram throws on NULL); its
    # signature is set NULL below
    toks = docs.withColumn(
        "__toks",
        F.coalesce(F.split(F.col(text_col), " "), F.array().cast("array<string>")),
    )
    g = _with_word_ngrams(toks, "__toks", n, "__grams")
    mins = [
        F.array_min(F.expr(f"transform(__grams, s -> md5(concat('{k}', '|', s)))"))
        for k in range(num_hashes)
    ]
    # NULL text -> NULL signature, matching shingles_df's no-shingles
    # contract: without the guard the NULL token array collapses to the
    # ''-shingle signature and every NULL doc aliases to the empty doc
    # (and concat_ws would silently swallow NULL mins into '').
    sig = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat_ws("|", *mins))
    return g.withColumn(out_col, sig).drop("__toks", "__grams")


def minhash_lsh_pairs_df(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    cache_out: list[DataFrame] | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified by exact Jaccard.

    Signature of K hashes split into ``bands`` bands of K/bands rows;
    docs sharing any band key become candidates (P[match] = 1−(1−j^r)^b);
    candidates are then verified with the exact Jaccard so output ⊆
    :func:`ngram_jaccard_pairs_df` output (LSH may only lose pairs,
    never invent them).

    Plan (r12 optimization, guide §1.2/§2.4): the shingle set, the K
    min-hashes and the band keys are all computed IN-ROW — the same
    array-expression form as :func:`with_minhash_signature` (hash/gram
    equality pinned by tests/test_dedup_signature.py) — so NOTHING
    shuffles before the banded self-join.  The r11 form exploded
    shingles to rows and ran TWO shingle-scale groupBy(doc_id) shuffles
    (the K-min aggregation + the verify-side collect_list): at corpus
    scale that was two full shuffles of every shingle occurrence whose
    output was per-doc anyway.  Shuffle volume is now exactly the
    docs×bands band keys plus the candidate pairs — the module
    docstring's scale contract, with zero shingle-row shuffles.
    """
    r = num_hashes // bands
    # spread docs across the session's parallelism first: single-file
    # test inputs otherwise leave the md5-heavy signature chain on one
    # core (measured ~1.5x end-to-end at sf0.1)
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    # K min-hashes as array_min over the in-row shingle set (the shared
    # gram_array_df construction) — value-identical to _minhash_wide's
    # min() over exploded rows (same salted md5, same lexicographic min,
    # concat('k','|',s) ≡ concat_ws for the non-NULL shingles this array
    # holds)
    mins = [
        F.array_min(
            F.expr(f"transform(sh_set, s -> md5(concat('{k}', '|', s)))")
        ).alias(f"mh{k}")
        for k in range(num_hashes)
    ]
    wide = (
        gram_array_df(docs, n)
        .select("doc_id", "sh_set", *mins)
        .persist()
    )
    if cache_out is not None:
        cache_out.append(wide)
    # materialize the per-doc frame ONCE before the self-join fans out —
    # a lazy cache fills mid-job and both join sides recompute the chain
    wide.count()
    # band key = md5 of that band's r minhashes joined in k order —
    # a cheap projection off the cached wide row
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + i}") for i in range(r)])).alias("band_key"),
        )
        for b in range(bands)
    ]
    band_keys = wide.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-verify candidates only — per-doc shingle ARRAYS, not a
    # shingle-level equijoin: joining candidates back through (doc,
    # shingle) rows fans out candidate×shingle and skews on frequent
    # shingles (AQE plan-flapped 5-25s run-to-run at sf0.1). Arrays make
    # the verify two candidate-keyed joins + an in-row array_intersect;
    # doc shingle sets are bounded by doc length, so the payload is safe
    # at scale.  The sets come straight off the cached wide frame — the
    # r11 collect_list re-aggregation was a third shingle-scale shuffle.
    da = wide.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    db = wide.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    j = inter / (F.size("set_a") + F.size("set_b") - inter)
    return (
        candidates.join(da, "doc_a").join(db, "doc_b")
        .withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_df(docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc SimHash: bit j = sign of Σ_tokens (±1 by token-hash bit j).

    Token hash = first 8 hex chars of md5 → 32-bit int (F.conv stays
    JVM-side). Returns (doc_id, simhash) — pair search via hamming
    distance over bit chunks (see :func:`simhash_candidate_pairs_df`).

    Plan (r12 optimization, guide §1.2/§2.4): fully IN-ROW — the token
    hashes and all per-bit votes are array expressions over the row, so
    the operator shuffles NOTHING.  The r11 form exploded tokens and ran
    two token-scale shuffles (groupBy(doc, token) count + the per-doc
    vote agg); the count step was mathematically redundant anyway —
    Σ_{distinct tokens} w·(±1) ≡ Σ_{occurrences} (±1), an exact integer
    identity, so each occurrence can just vote directly.  Docs that
    contribute no tokens (NULL text, or only empty tokens) stay ABSENT
    from the output, exactly as explode left them absent.
    """
    toks_f = F.expr(f"filter(split({text_col}, ' '), t -> t != '')")
    d = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), toks_f.alias("__toks")
    ).where(F.size("__toks") > 0)
    hs = d.withColumn(
        "__hs",
        F.expr(
            "transform(__toks, t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
        ),
    )
    # per-bit occurrence vote (+1/−1), majority sign — exact integer
    # sums, order-independent, value-identical to the grouped form
    sim = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.expr(
            f"aggregate(__hs, 0L, (acc, h) -> acc + "
            f"(case when shiftright(h, {j}) & 1 = 1 then 1 else -1 end))"
        )
        sim = sim + F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return hs.select("doc_id", sim.alias("simhash"))


def simhash_candidate_pairs_df(sim: DataFrame, max_hamming: int = 3, chunks: int = 4, bits: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole LSH: split the hash into ``chunks`` chunks; any pair at
    distance ≤ chunks−1 shares at least one exact chunk — join per chunk
    (shuffle = docs × chunks rows), then verify the true distance via
    bit_count(xor).
    """
    w = bits // chunks
    mask = (1 << w) - 1
    # ONE join on (chunk_idx, chunk_val) over an exploded+materialized
    # chunk table — the per-chunk join-and-union form re-ran the whole
    # upstream simhash chain once per join side (8x at chunks=4)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftright("simhash", i * w).bitwiseAND(F.lit(mask)).alias("cv"),
        )
        for i in range(chunks)
    ]
    ex = (
        sim.select("doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("c"))
        .select("doc_id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
        .persist()
    )
    ex.count()  # materialize before the self-join fans out
    a, b = ex.alias("a"), ex.alias("b")
    pairs = a.join(
        b,
        (F.col("a.ci") == F.col("b.ci"))
        & (F.col("a.cv") == F.col("b.cv"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("ha"),
        F.col("b.simhash").alias("hb"),
    )
    dist = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.distinct()
        .withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


#: Edge-count bound under which the label-propagation rounds broadcast
#: the node-sized frames (labels / per-node neighbor minima) instead of
#: shuffle-joining them.  What is broadcast per round is NODE-sized
#: (nodes ≤ 2·edges, a label row is two longs), and a BroadcastHashJoin
#: hashed relation costs several times the raw 16 B/row (ADVICE r12) —
#: at 2M edges that is ≤4M rows ≈ 64 MB raw ≈ a few hundred MB hashed,
#: rebuilt on the driver every round: guide §3.1's comfort zone.  The
#: earlier 10M bound sized the RAW bytes only and could rebuild a
#: multi-GB relation per round near the bound.  Above it the rounds
#: fall back to shuffle joins (the arbitrarily-large-graph regime); the
#: threshold is a module constant, not a local[32] tunable — it is
#: sized by broadcast memory, which is cluster-shaped the same way
#: everywhere.
LABELPROP_BROADCAST_EDGES_MAX = 2_000_000


def dedup_groups_df(
    pairs: DataFrame,
    max_iterations: int = 20,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into GROUPS: connected components with the
    minimum doc_id as the group representative.

    (doc_a, doc_b) edges -> (doc_id, group_id) where group_id = min id
    reachable through any chain of near-dup pairs — the keep-one-per-
    cluster step after minhash/simhash/embedding pair generation.

    Two regimes (same output):
      * **small graph** (≤ ``small_graph_threshold`` distinct edges):
        verified near-dup pair sets are orders of magnitude smaller than
        the corpus, so the edge list routinely fits the driver even when
        the documents table is 100 TB — one collect + union-find beats
        O(diameter) Spark rounds of fixed scheduler overhead;
      * **large graph**: distributed label propagation — every node
        adopts the min label among itself and its neighbors; converges in
        O(diameter) rounds (dup clusters are shallow in practice). Each
        round is one edge join + one per-node agg; labels persist to keep
        lineage bounded, and the change count rides the same
        materialization (no second join per round).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    n_edges = edges.count()
    if n_edges <= small_graph_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        rows = edges.collect()
        edges.unpersist()
        for r in rows:
            for v in (r["src"], r["dst"]):
                parent.setdefault(v, v)
        for r in rows:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        out = sorted((v, find(v)) for v in parent)
        spark = pairs.sparkSession
        schema = "doc_id {t}, group_id {t}".format(
            t=dict(pairs.dtypes).get("doc_a", "long")
        )
        return local_frame(spark, out, schema)

    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("group_id", F.col("doc_id"))
        .persist()
    )
    # r12: no upfront labels.count() — round 1's own job materializes
    # the cache (the warm-up was one whole extra action; guide §1.2),
    # and a racing recompute of the distinct only re-reads the already-
    # materialized edges cache.
    # Node-sized frames (labels, per-node neighbor minima) broadcast
    # per round when the graph is small enough: the edge list — the BIG
    # relation — then never re-shuffles, leaving ONE exchange per round
    # (the per-node min agg) instead of three (guide §2.4; the same
    # ranks-broadcast-per-superstep shape as operators/graph.pagerank_df).
    # Above the bound, shuffle joins — correctness is unchanged either
    # way, it is purely a join-strategy pin.
    bcast = n_edges <= LABELPROP_BROADCAST_EDGES_MAX
    pinned = labels  # the df actually holding the cache for this round
    # max_iterations + 1: convergence is only KNOWN via a round that
    # reports changed == 0, so a chain whose last real change lands
    # exactly on round max_iterations still needs one confirming round —
    # without it, correct boundary-case results would raise below
    for _ in range(max_iterations + 1):
        neighbor_min = (
            edges.join(
                F.broadcast(labels) if bcast else labels,
                edges["dst"] == labels["doc_id"],
            )
            .groupBy("src")
            .agg(F.min("group_id").alias("nmin"))
        )
        if bcast:
            neighbor_min = F.broadcast(neighbor_min)
        joined = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("group_id"), F.coalesce(F.col("nmin"), F.col("group_id"))).alias("group_id"),
                (F.col("nmin") < F.col("group_id")).alias("__changed"),
            )
            .persist()
        )
        changed = joined.filter(F.col("__changed")).count()  # materializes the round
        pinned.unpersist()
        pinned = joined
        labels = joined.drop("__changed")
        if changed == 0:
            converged = True
            break
    else:
        converged = False
    edges.unpersist()
    if not converged:
        # a transitive chain longer than max_iterations hops: returning
        # the partial labels would silently keep extra duplicates
        # downstream (non-minimal group ids look like distinct groups)
        pinned.unpersist()
        raise ValueError(
            f"dedup_groups: label propagation still changing after "
            f"{max_iterations} label-updating rounds — the graph has a "
            "near-dup chain longer than that; raise max_iterations"
        )
    # hand back an executor-side materialization and release the final
    # round's cache (the module's cache-release contract): the caller
    # gets data, not a frame pinned to a persist it cannot see
    out = labels.localCheckpoint(eager=True)
    pinned.unpersist()
    return out


def dedup_keep_representatives(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop every non-representative member of each near-dup group:
    docs minus (group members with id != group min). Anti-join keeps
    docs that never appear in any pair untouched."""
    groups = dedup_groups_df(pairs)
    losers = groups.filter(F.col("doc_id") != F.col("group_id")).select("doc_id")
    return docs.join(losers, docs[id_col] == losers["doc_id"], "left_anti")


def chunk_dup_fraction_df(
    docs: DataFrame,
    chunk_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc fraction of non-overlapping ``chunk_tokens``-token chunks
    that also occur in at least one OTHER document — the chunk-granular
    form of exact-substring training-data dedup (Lee et al., "Dedupli-
    cating Training Data Makes Language Models Better", ACL 2022; their
    suffix-array pass finds arbitrary spans, the fixed-chunk form is the
    standard scalable approximation).

    Shape: chunks explode to (digest, doc) rows, ONE shuffle on the
    digest groups them (count distinct docs per digest — the same key
    layout as exact_dedup), then a candidate-keyed join marks each doc's
    duplicated chunks. Trailing sub-chunk tokens are dropped (standard
    crop, mirrored in the oracle).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks")
    )
    nch = (F.size("toks") / chunk_tokens).cast("int")
    # docs shorter than one chunk are OMITTED (the oracle's range(0, 0)
    # does the same) — without the filter, Spark's sequence(0, -1)
    # counts DOWN to [0, -1] (default step -1), emitting garbage chunks
    # and then dividing by n_chunks = 0
    chunks = toks.where(nch >= 1).select(
        "doc_id",
        nch.alias("n_chunks"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nch - 1),
                lambda i: F.concat_ws(
                    " ", F.slice("toks", i * chunk_tokens + 1, chunk_tokens)
                ),
            )
        ).alias("chunk"),
    )
    # distinct per (doc, chunk): a chunk repeated WITHIN one doc counts
    # once for the cross-doc test (the oracle mirrors this)
    per_doc = chunks.select("doc_id", "n_chunks", F.md5("chunk").alias("digest")).distinct()
    cross = per_doc.groupBy("digest").agg(F.count_distinct("doc_id").alias("n_docs"))
    flagged = per_doc.join(cross, "digest").withColumn(
        "is_dup", (F.col("n_docs") > 1).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.max("n_chunks").alias("n_chunks"),
            F.sum("is_dup").alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            F.col("n_chunks").cast("int").alias("n_chunks"),
            F.col("n_dup_chunks").cast("int").alias("n_dup_chunks"),
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6).alias("dup_fraction"),
        )
    )


def edit_distance_pairs_df(
    vocab: DataFrame, word_col: str = "w", max_dist: int = 1
) -> DataFrame:
    """All distinct word pairs within Levenshtein distance ``max_dist``
    (currently 1) via DELETION-NEIGHBORHOOD BLOCKING (FastSS, Bocek et
    al. 2007 / the SymSpell index): two words at distance ≤ 1 (equal,
    one insertion/deletion, or one substitution) necessarily share a
    member of {word} ∪ {word minus one char}, so candidates are found
    by a self-join on exploded variants — O(Σ len(w)) index rows and a
    variant-keyed shuffle instead of the O(V²) all-pairs scan.  The
    blocking over-generates (a transposition like ab/ba shares a
    variant at distance 2), so candidates are verified with the exact
    JVM-side ``levenshtein`` — blocking is recall-complete for
    dist ≤ 1, verification restores precision.  Output:
    (word_a, word_b, dist) with word_a < word_b.

    Scale: variant explosion multiplies vocab by avg word length (a
    bounded constant); the join fans out only within shared-variant
    buckets.  The quadratic exact form lives in the ORACLE, not here.
    """
    if max_dist != 1:
        raise ValueError("deletion-neighborhood blocking implemented for max_dist=1")
    w = F.col(word_col)
    # {identity} ∪ single-char deletions, as one in-row transform
    variants = F.array_union(
        F.array(w),
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.concat(
                F.substring(w, F.lit(1), (i - 1).cast("int")),
                w.substr(i + 1, F.length(w)),
            ),
        ),
    )
    v = vocab.select(w.alias("word"), F.explode(variants).alias("variant"))
    a = v.select(F.col("word").alias("word_a"), "variant")
    b = v.select(F.col("word").alias("word_b"), "variant")
    return (
        a.join(b, "variant")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
        .withColumn("dist", F.levenshtein("word_a", "word_b").cast("int"))
        .filter(F.col("dist") <= 1)
    )
