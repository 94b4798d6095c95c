"""Unit tests for operator semantics — reference-golden values where the
math is closed-form (ColumnStatsCalculator, Normalizer, BinUtils)."""

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F


class TestKsIvMath:
    def test_column_metrics_reference_formula(self):
        from shifu_spark.operators.ksiv import column_metrics_from_counts

        neg = [10, 20, 30]
        pos = [5, 10, 45]
        m = column_metrics_from_counts(neg, pos)
        # hand-computed with EPS=1e-10 per ColumnStatsCalculator.java:84-120
        sum_n, sum_p = 60.0, 60.0
        cum = 0.0
        iv = 0.0
        ks = 0.0
        cum_p = cum_n = 0.0
        for n, p in zip(neg, pos):
            pn, nn = p / sum_p, n / sum_n
            woe = math.log((nn + 1e-10) / (pn + 1e-10))
            iv += (nn - pn) * woe
            cum_p += pn
            cum_n += nn
            ks = max(ks, abs(cum_p - cum_n))
        _ = cum
        assert m.ks == pytest.approx(ks * 100)
        assert m.iv == pytest.approx(iv)
        assert m.woe == pytest.approx(math.log((60 + 1e-10) / (60 + 1e-10)))

    def test_zero_side_returns_none(self):
        from shifu_spark.operators.ksiv import column_metrics_from_counts

        assert column_metrics_from_counts([0, 0], [1, 2]) is None


class TestMoments:
    def test_skew_kurt_closed_forms(self):
        import numpy as np

        from shifu_spark.operators.stats import kurtosis, population_std_dev, skewness

        rng = np.random.default_rng(7)
        x = rng.lognormal(0, 1, 5000)
        n = len(x)
        s1, s2, s3, s4 = x.sum(), (x**2).sum(), (x**3).sum(), (x**4).sum()
        mean = s1 / n
        astd = population_std_dev(n, s1, s2)
        # population (NIST) forms
        want_skew = ((x - mean) ** 3).mean() / astd**3
        want_kurt = ((x - mean) ** 4).mean() / astd**4
        assert skewness(n, mean, astd, s1, s2, s3) == pytest.approx(want_skew, rel=1e-6)
        assert kurtosis(n, mean, astd, s1, s2, s3, s4) == pytest.approx(want_kurt, rel=1e-6)


class TestBinLookup:
    def test_bin_index_semantics(self, spark):
        """BinUtils.java:53-104: index = #{edges <= x} - 1 clamped at 0;
        NULL -> missing slot (len(boundaries))."""
        from shifu_spark.operators.binning import bin_index_expr

        boundaries = [float("-inf"), 10.0, 20.0, 30.0]
        df = spark.createDataFrame(
            [(-5.0,), (10.0,), (15.0,), (30.0,), (99.0,), (None,)], ["x"]
        )
        got = [r[0] for r in df.select(bin_index_expr("x", boundaries)).collect()]
        assert got == [0, 1, 1, 3, 3, 4]

    def test_categorical_index(self, spark):
        from shifu_spark.operators.binning import categorical_index_expr

        df = spark.createDataFrame([("a",), ("b",), ("zz",), (None,)], ["c"])
        got = [r[0] for r in df.select(categorical_index_expr("c", ["a", "b", "c"])).collect()]
        assert got == [0, 1, 3, 3]  # miss & NULL -> missing slot 3


class TestNormalize:
    def test_zscore_clip_and_missing(self, spark):
        from shifu_spark.operators.normalize import zscore_expr

        df = spark.createDataFrame([(0.0,), (100.0,), (None,)], ["x"])
        # mean=10 std=2 cutoff=2 -> clip to [6,14]
        got = [r[0] for r in df.select(zscore_expr("x", 10.0, 2.0, 2.0)).collect()]
        assert got[0] == pytest.approx(-2.0)  # clipped at 6
        assert got[1] == pytest.approx(2.0)  # clipped at 14
        assert got[2] == pytest.approx(0.0)  # missing -> mean -> 0

    def test_zscore_zero_std(self, spark):
        from shifu_spark.operators.normalize import zscore_expr

        df = spark.createDataFrame([(5.0,)], ["x"])
        assert df.select(zscore_expr("x", 5.0, 0.0)).collect()[0][0] == 0.0

    def test_woe_missing_last_bin(self, spark):
        from shifu_spark.operators.normalize import woe_expr

        df = spark.createDataFrame([(5.0,), (15.0,), (None,)], ["x"])
        e = woe_expr("x", [float("-inf"), 10.0], [0.1, 0.2], missing_woe=-0.5)
        got = [r[0] for r in df.select(e).collect()]
        assert got == pytest.approx([0.1, 0.2, -0.5])

    def test_tag_recode(self, spark):
        from shifu_spark.operators.normalize import filter_valid_tags, tag_expr

        df = spark.createDataFrame([("M",), ("B",), ("?",)], ["t"])
        valid = filter_valid_tags(df, "t", ["M"], ["B"])
        got = [r[0] for r in valid.select(tag_expr("t", ["M"], ["B"])).collect()]
        assert got == [1.0, 0.0]


class TestWoeAndZscoreSums:
    """ksiv.woe_df and normalize.zscore_sums_expr against DuckDB spellings
    of the same formulas on degenerate groups: a class total of 0
    (sum_p = 0, sum_n = 0) and a power-sum population of n = 1 or
    n = 0. Spark must return NULL there, never an ANSI DIVIDE_BY_ZERO.
    The SQL states each NULL with a CASE rather than inheriting it
    from DuckDB's /0, which gives NULL before 1.1 and inf/NaN after."""

    def test_woe_df_zero_class_totals(self, spark):
        import duckdb
        import pyarrow as pa

        from shifu_spark.operators.ksiv import woe_df
        from tests.oracle import compare

        rows = [
            ("mixed", 0, 3, 1), ("mixed", 1, 1, 4), ("mixed", 2, 0, 2),
            ("no_pos", 0, 0, 2), ("no_pos", 1, 0, 3),
            ("no_neg", 0, 2, 0), ("no_neg", 1, 5, 0),
        ]
        df = spark.createDataFrame(rows, "g string, bin int, pos long, neg long")
        con = duckdb.connect()
        con.register("t", pa.table({
            "g": [r[0] for r in rows], "bin": pa.array([r[1] for r in rows], pa.int32()),
            "pos": pa.array([r[2] for r in rows], pa.int64()),
            "neg": pa.array([r[3] for r in rows], pa.int64()),
        }))
        cols = ["g", "bin", "sum_p", "sum_n", "p", "n", "woe"]
        sql = """
SELECT g, bin, sum_p, sum_n, p, n, ln((n + 1e-10) / (p + 1e-10)) AS woe
FROM (SELECT g, bin,
             sum(pos) OVER w AS sum_p, sum(neg) OVER w AS sum_n,
             CASE WHEN sum(pos) OVER w = 0 THEN NULL ELSE pos / sum(pos) OVER w END AS p,
             CASE WHEN sum(neg) OVER w = 0 THEN NULL ELSE neg / sum(neg) OVER w END AS n
      FROM t {where} WINDOW w AS ({partition}))
"""
        got = woe_df(df, "pos", "neg", "g").select(*cols)
        assert compare(got, con, sql.format(where="", partition="PARTITION BY g"), "woe_df_by_g") == []
        by_key = {(r["g"], r["bin"]): r["woe"] for r in got.collect()}
        assert by_key[("no_pos", 0)] is None and by_key[("no_neg", 1)] is None
        assert by_key[("mixed", 0)] == pytest.approx(math.log((1 / 7 + 1e-10) / (3 / 4 + 1e-10)))
        # no partition: one WOE table over the whole (here one-class) frame
        got = woe_df(df.filter(F.col("g") == "no_neg"), "pos", "neg").select(*cols)
        assert compare(got, con, sql.format(where="WHERE g = 'no_neg'", partition=""), "woe_df_whole") == []

    def test_zscore_sums_one_and_zero_rows(self, spark):
        import duckdb
        import pyarrow as pa

        from shifu_spark.operators.normalize import zscore_sums_expr
        from tests.oracle import compare

        groups = {
            # one outlier among 50 equal values sits (n-1)/√n ≈ 7 sample
            # stds out, past the 6σ cut-off
            "many": [1.0] * 50 + [1000.0],
            "constant": [7.0, 7.0, 7.0],
            "one": [5.0],
            "none": [None, None],
        }
        rows = [(i, g, x) for g, xs in groups.items() for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "id int, g string, x double")
        x = F.col("x")
        mm = df.groupBy("g").agg(F.count(x).alias("n"), F.sum(x).alias("s1"), F.sum(x * x).alias("s2"))
        z = zscore_sums_expr(x, F.col("n"), F.col("s1"), F.col("s2"))
        got = df.join(mm, "g").select("g", "id", z.alias("z"))

        con = duckdb.connect()
        con.register("t", pa.table({
            "id": pa.array([r[0] for r in rows], pa.int32()), "g": [r[1] for r in rows],
            "x": pa.array([r[2] for r in rows], pa.float64()),
        }))
        sql = """
WITH mm AS (SELECT g, count(x) AS n, sum(x) AS s1, sum(x * x) AS s2 FROM t GROUP BY g),
s AS (SELECT g, s1 / n AS mean,
             CASE WHEN n <= 1 THEN NULL
                  ELSE sqrt(abs((s2 - s1 * s1 / n + 1e-10) / (n - 1))) END AS std
      FROM mm)
SELECT g, id,
       CASE WHEN std = 0 THEN NULL
            ELSE (least(greatest(x, mean - 6 * std), mean + 6 * std) - mean) / std END AS z
FROM t JOIN s USING (g)
"""
        assert compare(got, con, sql, "zscore_sums") == []
        by_key = {(r["g"], r["id"]): r["z"] for r in got.collect()}
        assert by_key[("one", 0)] is None
        assert by_key[("none", 0)] is None and by_key[("none", 1)] is None
        assert by_key[("many", 50)] == pytest.approx(6.0)  # clipped at mean + 6·std
        assert by_key[("many", 0)] == pytest.approx((1.0 - 1050 / 51) / math.sqrt((50 + 1000**2 - 1050**2 / 51) / 50))
        assert by_key[("constant", 0)] == 0.0


class TestJexl:
    def test_translate_basics(self):
        from shifu_spark.functions.jexl import jexl_to_sql

        assert jexl_to_sql("a > 1 && b == 'x'") == "a > 1  AND  b = 'x'"
        assert "OR" in jexl_to_sql("a || b")
        assert jexl_to_sql("x != 3") == "x <> 3"

    def test_ternary(self):
        from shifu_spark.functions.jexl import jexl_to_sql

        s = jexl_to_sql("a > 1 ? 2 : 3")
        assert s.startswith("CASE WHEN") and "THEN" in s and "ELSE" in s

    def test_namespace_collapse(self):
        from shifu_spark.functions.jexl import jexl_to_sql

        assert jexl_to_sql("ns::col > 5") == "col > 5"

    def test_forbidden_raises(self):
        from shifu_spark.functions.jexl import jexl_to_sql

        for bad in ["x.size() > 1", "new Foo()", "a =~ b"]:
            with pytest.raises(ValueError):
                jexl_to_sql(bad)

    def test_nscolumn_semantics(self):
        """NSColumn.java equality: exact, suffix-match both directions,
        non-suffix mismatch; resolve is last-wins on simple-name
        collisions (DataPurifier header-order JexlContext overwrite)."""
        from shifu_spark.catalog.nscolumn import ns_equals, resolve, simple_name

        assert simple_name("a::b::c") == "c" and simple_name("c") == "c"
        assert ns_equals("b::c", "a::b::c") and ns_equals("a::b::c", "b::c")
        assert ns_equals("c", "a::b::c") and ns_equals("x", "x")
        assert not ns_equals("x::c", "b::c") and not ns_equals("a::b", "a::c")
        headers = ["m1::score", "m2::score", "m1::uid"]
        assert resolve("score", headers) == "m2::score"  # last wins
        assert resolve("m1::score", headers) == "m1::score"
        assert resolve("uid", headers) == "m1::uid"
        assert resolve("nope", headers) is None

    def test_header_binding_simple_and_full_forms(self, spark):
        """A JEXL filter addresses namespaced columns by simple name AND
        by full ns::name; literals inside quotes are untouched; unknown
        identifiers raise (VERDICT r6 missing #2)."""
        from shifu_spark.functions.jexl import jexl_filter, jexl_to_sql

        headers = ["cust::seg", "acct::bal"]
        sql = jexl_to_sql("bal > 10 && cust::seg == 'bal'", headers=headers)
        assert "`acct::bal` > 10" in sql and "`cust::seg` = 'bal'" in sql
        df = spark.createDataFrame(
            [("A", 5.0), ("B", 20.0), ("A", 30.0)], ["cust::seg", "acct::bal"]
        )
        got = df.filter(jexl_filter("bal > 10 && cust::seg == 'A'", headers)).collect()
        assert [(r["cust::seg"], r["acct::bal"]) for r in got] == [("A", 30.0)]
        with pytest.raises(ValueError, match="no header"):
            jexl_to_sql("missing > 1", headers=headers)

    def test_purify_auto_binds_namespaced_frames(self, spark):
        """purify() activates NSColumn binding when the frame's columns
        carry namespaces, and keeps plain binding otherwise."""
        from shifu_spark.operators.purify import purify

        ns = spark.createDataFrame([("x", 1), ("y", 2)], ["ns::tag", "ns::v"])
        assert purify(ns, "v == 2 && ns::tag == 'y'").count() == 1
        plain = spark.createDataFrame([("x", 1)], ["tag", "v"])
        assert purify(plain, "other::v == 1").count() == 1  # leaf collapse

    def test_weight_clamp(self, spark):
        from shifu_spark.functions.jexl import jexl_weight

        df = spark.createDataFrame([(2.0,), (-1.0,), (None,)], ["w"])
        got = [r[0] for r in df.select(jexl_weight("w * 1")).collect()]
        assert got == [2.0, 1.0, 1.0]

    def test_exact_full_name_is_never_captured_by_shorter_header(self):
        """resolve() binds an identifier iff it equals a header's FULL
        name or its simple (leaf) name — the two JexlContext keys
        DataPurifier.java:115-119 actually sets.  Symmetric suffix
        matching would let a LATER bare header 'score' capture the
        exact identifier 'a::score' and silently read the wrong
        column."""
        from shifu_spark.catalog.nscolumn import resolve

        assert resolve("a::score", ["a::score", "score"]) == "a::score"
        assert resolve("score", ["a::score", "score"]) == "score"
        # intermediate suffixes are NOT context keys in the reference:
        # header 'a::b::c' binds only 'a::b::c' and 'c'
        assert resolve("b::c", ["a::b::c"]) is None

    def test_quoted_literals_survive_every_rewrite(self):
        """JEXL string literals are data: the keyword/operator rewrites
        and the namespace collapse must not touch text inside quotes."""
        from shifu_spark.functions.jexl import jexl_to_sql

        assert jexl_to_sql("tag == 'true'") == "tag = 'true'"
        assert jexl_to_sql("tag == 'null'") == "tag = 'null'"
        assert jexl_to_sql("name == 'a&&b'") == "name = 'a&&b'"
        assert jexl_to_sql("path == 'x::y'") == "path = 'x::y'"
        assert jexl_to_sql("tag == 'true'", ["ns::tag"]) == "`ns::tag` = 'true'"
        # forbidden constructs inside quotes are data too
        assert jexl_to_sql("name == 'x.size()'") == "name = 'x.size()'"

    def test_ternary_split_ignores_ns_delimiters_and_quoted_colons(self):
        """The ternary's ':' separator must skip '::' namespace
        delimiters and ':' inside quoted literals — the old last-':'
        regex split inside 'm::b' and inside 'b:c'."""
        from shifu_spark.functions.jexl import jexl_to_sql

        assert (
            jexl_to_sql("a > 1 ? 1 : m::b", ["ns::a", "m::b"])
            == "CASE WHEN `ns::a` > 1 THEN 1 ELSE `m::b` END"
        )
        assert (
            jexl_to_sql("x > 0 ? y : 'b:c'", ["q::x", "p::y"])
            == "CASE WHEN `q::x` > 0 THEN `p::y` ELSE 'b:c' END"
        )
        assert (
            jexl_to_sql("x > 0 ? 'a:b' : y", ["q::x", "p::y"])
            == "CASE WHEN `q::x` > 0 THEN 'a:b' ELSE `p::y` END"
        )

    def test_ternary_nesting_and_quoted_qmark(self):
        """Right-nested chains split at the MATCHING ':' (ternary-depth
        scan), a quoted '?' in the condition is data, nested namespaces
        collapse fully, and a paren-wrapped ternary raises instead of
        shipping invalid SQL."""
        import pytest as _pytest

        from shifu_spark.functions.jexl import jexl_to_sql

        assert jexl_to_sql("a::b::c > 1") == "c > 1"  # any nesting depth
        assert (
            jexl_to_sql("name == 'who?' ? 1 : 0")
            == "CASE WHEN name = 'who?' THEN 1 ELSE 0 END"
        )
        assert jexl_to_sql("x == 1 ? 'a' : x == 2 ? 'b' : 'c'") == (
            "CASE WHEN x = 1 THEN 'a' ELSE "
            "CASE WHEN x = 2 THEN 'b' ELSE 'c' END END"
        )
        assert jexl_to_sql("x > 0 ? y > 0 ? 1 : 2 : 3") == (
            "CASE WHEN x > 0 THEN CASE WHEN y > 0 THEN 1 ELSE 2 END ELSE 3 END"
        )
        with _pytest.raises(ValueError, match="ternary"):
            jexl_to_sql("(a > 1 ? 1 : 2) + 1")


class TestDedup:
    def test_simhash_deterministic_and_selfconsistent(self, spark):
        """simhash(doc) must equal a pure-python md5 reimplementation."""
        import hashlib

        from shifu_spark.operators.dedup import simhash_df

        rows = [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "x y z")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r["doc_id"]: r["simhash"] for r in simhash_df(df).collect()}
        assert got[0] == got[1]  # identical text -> identical hash
        assert got[0] != got[2]

        def py_simhash(text, bits=32):
            votes = [0] * bits
            toks = {}
            for t in text.split(" "):
                toks[t] = toks.get(t, 0) + 1
            for t, w in toks.items():
                h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                for j in range(bits):
                    votes[j] += w if (h >> j) & 1 else -w
            return sum(1 << j for j in range(bits) if votes[j] > 0)

        assert got[0] == py_simhash("alpha beta gamma")

    def test_simhash_pairs_hamming(self, spark):
        from shifu_spark.operators.dedup import simhash_candidate_pairs_df, simhash_df

        rows = [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, "q r s t")]
        sim = simhash_df(spark.createDataFrame(rows, ["doc_id", "text"]))
        pairs = simhash_candidate_pairs_df(sim, max_hamming=0).collect()
        assert [(p["doc_a"], p["doc_b"], p["hamming"]) for p in pairs] == [(0, 1, 0)]

    def test_minhash_is_subset_of_exact(self, spark):
        """LSH may lose pairs but never invent them."""
        from shifu_spark.operators.dedup import minhash_lsh_pairs_df, ngram_jaccard_pairs_df

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs_df(docs, 3, 0.5).collect()}
        lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs_df(docs, 3, 8, 4, 0.5).collect()}
        assert lsh <= exact
        assert len(lsh) >= int(0.8 * len(exact))  # high recall on near-exact dups


class TestText:
    def test_lang_id_markers(self, spark):
        from shifu_spark.operators.text import lang_id_expr

        df = spark.createDataFrame(
            [("the cat and the dog is here",), ("el gato y la casa en que",), ("zzz qqq",)],
            ["text"],
        )
        got = [r[0] for r in df.select(lang_id_expr("text")).collect()]
        assert got == ["en", "es", "und"]

    def test_quality_monotone_in_length(self, spark):
        from shifu_spark.operators.text import quality_score_expr

        df = spark.createDataFrame([("a b c",), (" ".join(f"w{i}" for i in range(200)),)], ["text"])
        q = [r[0] for r in df.select(quality_score_expr("text")).collect()]
        assert q[1] > q[0] - 0.3  # length term saturates; diversity max in both


class TestChunkDup:
    def test_short_docs_omitted_not_crashed(self, spark):
        """Docs shorter than one chunk must be OMITTED (the oracle's
        range(0,0) behavior) — Spark's sequence(0,-1) counts DOWN, so an
        unguarded plan emitted garbage chunks then divided by zero."""
        from shifu_spark.operators.dedup import chunk_dup_fraction_df

        docs = spark.createDataFrame(
            [(0, "a b c"),                        # 3 tokens -> omitted
             (1, " ".join(["w%d" % i for i in range(16)])),
             (2, " ".join(["w%d" % i for i in range(16)]))],  # dup of 1
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in chunk_dup_fraction_df(docs).collect()}
        assert 0 not in rows
        assert rows[1]["n_chunks"] == 2 and rows[1]["dup_fraction"] == 1.0
        assert rows[2]["dup_fraction"] == 1.0


class TestHashSample:
    def test_stable_under_repartition_and_keeps_positives(self, spark):
        """The content-keyed sampler's membership must be a pure function
        of the row key — identical sample under any physical layout
        (the property F.rand(seed) lacks) — and keep every positive."""
        from shifu_spark.operators.purify import hash_bernoulli_sample

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        kw = dict(sample_negative_only=True, tag_col="l_returnflag", pos_tags=["R"])
        ids = lambda df: {
            (r["l_orderkey"], r["l_linenumber"])
            for r in hash_bernoulli_sample(
                df, 0.2, ["l_orderkey", "l_linenumber"], **kw
            ).select("l_orderkey", "l_linenumber").collect()
        }
        s1 = ids(li)
        s2 = ids(li.repartition(7))
        assert s1 == s2 and len(s1) > 0
        n_pos = li.filter(F.col("l_returnflag") == "R").count()
        s = hash_bernoulli_sample(li, 0.2, ["l_orderkey", "l_linenumber"], **kw)
        kept_pos = s.filter(F.col("l_returnflag") == "R").count()
        assert kept_pos == n_pos
        # negative keep-rate within a loose binomial band of 0.2
        # (counted directly: the synthetic (orderkey, linenumber) pair is
        # NOT unique, so set-size arithmetic would undercount)
        n_neg = li.count() - n_pos
        kept_neg = s.filter(F.col("l_returnflag") != "R").count()
        assert abs(kept_neg / n_neg - 0.2) < 0.05


class TestExactKernelGuards:
    """The quarantined O(N²) exact kernels must refuse data-scale inputs
    loudly, pointing at the LSH/IVF paths (VERDICT r3 #6)."""

    def test_ngram_jaccard_refuses_above_cap(self, spark):
        from shifu_spark.operators.dedup import ngram_jaccard_pairs_df

        docs = spark.range(0, 50).select(
            F.col("id").alias("doc_id"), F.lit("a b c d").alias("text")
        )
        with pytest.raises(ValueError, match="minhash_lsh_pairs_df"):
            ngram_jaccard_pairs_df(docs, max_docs=10)
        # at/under the cap it still runs
        assert ngram_jaccard_pairs_df(docs, max_docs=50).count() >= 0

    def test_broadcast_matrix_refuses_above_cap(self, spark):
        from shifu_spark.operators.similarity import embedding_neardup_pairs_block

        emb = spark.range(0, 40).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )
        from shifu_spark.operators import similarity as sim

        orig = sim.EXACT_KERNEL_MAX_ROWS
        sim.EXACT_KERNEL_MAX_ROWS = 10
        try:
            with pytest.raises(ValueError, match="embedding_neardup_lsh_pairs"):
                # guard fires in _broadcast_matrix before any collect
                embedding_neardup_pairs_block(emb)
        finally:
            sim.EXACT_KERNEL_MAX_ROWS = orig

    def test_ntile_refuses_above_cap(self, spark):
        """The single-task global-sort exactness path must refuse
        data-scale inputs, pointing at equal_population_edges
        (VERDICT r4 'What's wrong #2')."""
        from shifu_spark.operators.binning import ntile_boundaries

        df = spark.range(0, 100).select(F.col("id").cast("double").alias("v"))
        with pytest.raises(ValueError, match="equal_population_edges"):
            ntile_boundaries(df, "v", 4, max_rows=50)
        # at/under the cap the exact path still runs and is exact
        edges = ntile_boundaries(df, "v", 4, max_rows=100)
        assert edges == [0.0, 25.0, 50.0, 75.0]

    def test_flac_raw_escape_width_guard(self):
        """A residual needing >31 raw bits must fail loudly at encode
        time (the escape's width field is 5 bits), not emit an
        undecodable stream (ADVICE r5)."""
        import numpy as np

        from shifu_spark.operators.multimodal import _FlacBitWriter, _flac_write_residual

        bw = _FlacBitWriter()
        huge = np.array([2**40, -(2**40)], dtype=np.int64)
        with pytest.raises(ValueError, match="raw escape limit"):
            _flac_write_residual(bw, huge)

    def test_tree_forward_score_input_validation(self):
        """Empty ensembles and zero rf weight sums raise instead of
        returning None / dividing by zero (ADVICE r5)."""
        from shifu_spark.ml.posttrain import tree_forward_score

        with pytest.raises(ValueError, match="at least one tree"):
            tree_forward_score([])
        tree = {"prediction": [0.25, 0.75]}
        with pytest.raises(ValueError, match="nonzero weight sum"):
            tree_forward_score([tree], weights=[0.0], mode="rf")
        # gbt with zero weights is well-defined (weighted SUM = 0)
        assert tree_forward_score([tree], weights=[0.0], mode="gbt") is not None


class TestProductQuantization:
    def test_codes_match_numpy_argmin(self, spark):
        """pq_encode_df's JVM-expression argmin must agree with a numpy
        reimplementation over the same pinned codebooks."""
        import numpy as np

        from shifu_spark.operators.similarity import pq_codebooks_pinned, pq_encode_df

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
        books = pq_codebooks_pinned()
        got = {r["vec_id"]: [r[f"code{s}"] for s in range(4)]
               for r in pq_encode_df(emb, books).collect()}
        for r in emb.collect():
            v = np.asarray(r["embedding"], dtype=np.float64)
            want = []
            for s, cents in enumerate(books):
                sub = v[s * 16 : (s + 1) * 16]
                d = [float(((sub - np.asarray(c)) ** 2).sum()) for c in cents]
                want.append(int(np.argmin(d)))
            assert got[r["vec_id"]] == want, r["vec_id"]

    def test_adc_approximates_exact_distance(self, spark):
        """ADC distance = exact distance to the RECONSTRUCTED (quantized)
        vector; it must correlate with the true squared distance and be
        exact when the vector IS a codebook reconstruction."""
        import numpy as np

        from shifu_spark.operators.similarity import (
            pq_adc_lut,
            pq_adc_topk_df,
            pq_codebooks_pinned,
            pq_query_pinned,
        )

        books = pq_codebooks_pinned()
        q = np.asarray(pq_query_pinned())
        # a vector equal to reconstruction (codes 1,3,0,2) must score
        # exactly lut[0][1]+lut[1][3]+lut[2][0]+lut[3][2]
        codes = [1, 3, 0, 2]
        recon = np.concatenate([np.asarray(books[s][c]) for s, c in enumerate(codes)])
        df = spark.createDataFrame(
            [(0, [float(x) for x in recon])], "vec_id long, embedding array<float>"
        )
        row = pq_adc_topk_df(df, list(q), books, k=1).collect()[0]
        # float32 storage perturbs the vector off the exact centroid, but
        # argmin must still pick the generating codes
        assert [row[f"code{s}"] for s in range(4)] == codes
        lut = pq_adc_lut(list(q), books)
        want = sum(lut[s][c] for s, c in enumerate(codes))
        assert abs(row["adc"] - round(want, 6)) < 1e-6


class TestSimilarity:
    def test_cosine_self_is_one(self, spark):
        from shifu_spark.operators.similarity import cosine_expr

        df = spark.createDataFrame([([1.0, 2.0, 3.0],)], ["v"])
        got = df.select(cosine_expr(F.col("v"), F.col("v"))).collect()[0][0]
        assert got == pytest.approx(1.0)

    def test_cosine_udf_nan_embedding_is_null(self, spark):
        """A NaN embedding component makes the norm NaN, which passes a
        ``denom != 0`` guard and comes back as cosine=NaN — ranking #1
        under Spark's NaN-is-largest ordering. The UDF must return NULL
        for zero AND non-finite denominators/results (safe_cosine
        contract)."""
        from shifu_spark.operators.similarity import cosine_pandas_udf

        nan, inf = float("nan"), float("inf")
        rows = [
            ([1.0, 0.0], [1.0, 0.0], 1.0, 1.0),      # clean -> 1.0
            ([nan, 1.0], [1.0, 0.0], nan, 1.0),      # NaN component -> NULL
            ([0.0, 0.0], [1.0, 0.0], 0.0, 1.0),      # zero norm -> NULL
            ([inf, 0.0], [1.0, 0.0], inf, 1.0),      # Inf norm -> NULL
        ]
        df = spark.createDataFrame(
            rows, "va array<double>, vb array<double>, na double, nb double"
        )
        got = df.select(
            cosine_pandas_udf()(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("c")
        ).collect()
        assert got[0]["c"] == pytest.approx(1.0)
        assert got[1]["c"] is None and got[2]["c"] is None and got[3]["c"] is None

    def test_expression_path_agrees_on_degenerate_vectors(self, spark):
        """safe_cosine (the expression path) must NULL the same
        degenerate cases the Arrow UDF nulls — zero, NaN and Inf norms —
        and embedding_neardup_pairs must emit the SAME pair set on both
        branches when such vectors are present (a naked division would
        pass `NaN >= threshold` and report spurious near-dups on the
        expression branch only)."""
        from shifu_spark.operators.similarity import (
            cosine_expr,
            embedding_neardup_pairs,
        )

        nan, inf = float("nan"), float("inf")
        df = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [1.0, 0.000001]),   # genuine near-dup of 0
                (2, [0.0, 0.0]),        # zero norm
                (3, [nan, 1.0]),        # NaN component
                (4, [inf, 1.0]),        # Inf component
                (5, [0.0, 1.3e154]),    # near-max FINITE norm (1.3e154^2
                                        # just fits a double) — boundary
                                        # case must stay a VALUE, and the
                                        # same value, on both paths
            ],
            "vec_id long, embedding array<double>",
        )
        cos = df.select(
            cosine_expr(F.col("embedding"), F.col("embedding")).alias("c")
        ).collect()
        assert cos[0]["c"] == pytest.approx(1.0)
        assert cos[2]["c"] is None and cos[3]["c"] is None and cos[4]["c"] is None
        assert cos[5]["c"] == pytest.approx(1.0)

        want = {(0, 1)}
        for arrow in (True, False):
            got = {
                (r["id_a"], r["id_b"])
                for r in embedding_neardup_pairs(df, threshold=0.95, use_arrow=arrow).collect()
            }
            assert got == want, (arrow, got)

    def test_denominator_underflow_is_null_on_both_paths(self, spark):
        """Two tiny NONZERO finite norms (~1e-200 each) underflow the
        denominator product to exactly 0.0 while both per-norm nonzero
        checks pass; dot/0.0 is then ±Inf, which nanvl does NOT null
        (it only catches NaN) — a +Inf cosine would pass every
        `>= threshold` filter. safe_cosine must NULL the case via the
        product-zero guard, exactly like the Arrow kernel's
        `denom == 0.0` mask, so the two branches agree (ADVICE r8)."""
        from shifu_spark.operators.similarity import (
            cosine_pandas_udf,
            safe_cosine,
        )

        df = spark.createDataFrame(
            [
                (0, [1.0], [1.0], 1e-200, 1e-200),   # product underflows to 0.0
                (1, [1.0], [1.0], -1e-200, 1e-200),  # sign-flipped: -Inf branch
                (2, [1.0], [1.0], 1.0, 1.0),         # sane control row
                # SUBNORMAL product (1e-320): nonzero AND finite, so every
                # denominator-level guard passes, yet dot/denom overflows
                # to +Inf — only a result-level ~isfinite check (the Arrow
                # kernel's mask) catches it on the expression path
                (3, [1.0], [1.0], 1e-160, 1e-160),
                # subnormal denom with a finite quotient must stay a VALUE
                # on both paths (dot 1e-310 / denom 1e-320 = ~1e10)
                (4, [1e-310], [1.0], 1e-160, 1e-160),
            ],
            "i long, va array<double>, vb array<double>, na double, nb double",
        )
        expr_rows = df.orderBy("i").select(
            safe_cosine(
                F.col("va")[0] * F.col("vb")[0], F.col("na"), F.col("nb")
            ).alias("c")
        ).collect()
        arrow_rows = df.orderBy("i").select(
            cosine_pandas_udf()(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("c")
        ).collect()
        for rows in (expr_rows, arrow_rows):
            assert rows[0]["c"] is None and rows[1]["c"] is None, rows
            assert rows[2]["c"] == pytest.approx(1.0)
            assert rows[3]["c"] is None, rows  # +Inf via subnormal denom
            # ~1e10 up to subnormal representation rounding (1e-310 and
            # 1e-320 are not exactly representable)
            assert rows[4]["c"] == pytest.approx(1e10, rel=1e-3), rows
        assert expr_rows[4]["c"] == arrow_rows[4]["c"]  # bit-identical paths

    def test_lsh_topk_subset_of_brute(self, spark):
        from shifu_spark.operators.similarity import brute_force_topk, lsh_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = F.col("vec_id") < 3
        brute = brute_force_topk(emb, q, k=3).collect()
        hyper = [[(1.0 if (i * 7 + j) % 3 == 0 else -0.5) for j in range(64)] for i in range(2)]
        approx = lsh_topk(emb, q, hyper, k=3).collect()
        assert len(brute) == 9
        # every LSH neighbor's cosine is <= the brute-force best for that query
        best = {}
        for r in brute:
            best.setdefault(r["query_id"], r["cosine"])
        for r in approx:
            assert r["cosine"] <= best[r["query_id"]] + 1e-9


    def test_neardup_lsh_subset_of_exact(self, spark):
        from shifu_spark.operators.similarity import (
            embedding_neardup_lsh_pairs,
            embedding_neardup_pairs,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        planes = [[1.0 if 16 * i <= d < 16 * (i + 1) else 0.0 for d in range(64)] for i in range(4)]
        lsh = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_lsh_pairs(emb, planes, bands=2, threshold=0.3).collect()
        }
        exact = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_pairs(emb, threshold=0.3, use_arrow=False).collect()
        }
        assert lsh, "fixture should produce at least one candidate pair"
        assert set(lsh) <= set(exact)  # LSH candidates are a subset of exact pairs
        for k, v in lsh.items():
            assert v == pytest.approx(exact[k], abs=1e-9)

    def test_toy_lsh_matches_duckdb_mirror(self, spark):
        """The demoted toy-width LSH instance (2 bands × 2 bits) stays as
        a differential mirror: its band-OR is small enough for a literal
        DuckDB replication. Registered coverage moved to
        embedding_neardup_lsh_scale (16-bit bands) in round 3."""
        from shifu_spark.queries import LSH_TOY_ORACLE, embedding_neardup_lsh
        from tests.oracle import compare, duckdb_conn

        sf_dir = "/root/testdata/sf0.001"
        con = duckdb_conn(sf_dir)
        out = embedding_neardup_lsh(spark, sf_dir)
        assert compare(out, con, LSH_TOY_ORACLE, "toy_lsh") == []

    def test_scale_lsh_recall_vs_exact(self, spark):
        """Recall-subset contract for the registered scale
        parameterization (VERDICT r2 item #2): on the planted-near-dup
        corpus, LSH pairs ⊆ exact pairs at the same threshold, and
        recall ≥ 0.95 (analytically ≈0.998 at cosine 0.9987 with
        16-bit bands × 4)."""
        from shifu_spark.operators.similarity import embedding_neardup_pairs_block
        from shifu_spark.queries import (
            _LSH_PLANES_SCALE,
            _lsh_scale_corpus,
        )
        from shifu_spark.operators.similarity import embedding_neardup_lsh_pairs

        sf_dir = "/root/testdata/sf0.001"
        corpus = _lsh_scale_corpus(spark, sf_dir)
        lsh = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_lsh_pairs(
                corpus, _LSH_PLANES_SCALE, bands=4, threshold=0.9
            ).collect()
        }
        exact = {
            (r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs_block(corpus, threshold=0.9).collect()
        }
        assert lsh <= exact, "LSH must never emit a pair the exact kernel rejects"
        assert len(exact) > 0
        recall = len(lsh) / len(exact)
        assert recall >= 0.95, f"recall {recall:.3f} below target"


class TestDynamicHybridBinning:
    def test_dynamic_bin_merge_equal_counts(self):
        from shifu_spark.operators.binning import dynamic_bin_merge

        # 10 small bins of 10 each -> 5 target bins, boundary every 2nd lo
        small = [(float(i), 10) for i in range(10)]
        assert dynamic_bin_merge(small, 5) == [0.0, 2.0, 4.0, 6.0, 8.0]

    def test_dynamic_bin_merge_skewed(self):
        from shifu_spark.operators.binning import dynamic_bin_merge

        # one huge small bin absorbs multiple shares -> fewer, wider bins after it
        small = [(0.0, 80), (1.0, 5), (2.0, 5), (3.0, 5), (4.0, 5)]
        b = dynamic_bin_merge(small, 4)
        assert b[0] == 0.0 and len(b) <= 4 and sorted(b) == b

    def test_dynamic_bin_merge_empty(self):
        from shifu_spark.operators.binning import dynamic_bin_merge

        assert dynamic_bin_merge([], 5) == []

    def test_small_bin_counts_exclude_null_and_nan(self, spark):
        """NULL values must not land in the top small bin (F.least skips
        nulls) and a single NaN must not collapse every row into bin k-1
        via max(v)=NaN — both previously corrupted the dynamic merge."""
        from shifu_spark.operators.binning import small_bin_counts

        df = spark.createDataFrame(
            [(1.0,), (2.0,), (3.0,), (None,), (float("nan"),)], "v double"
        )
        rows = small_bin_counts(df, "v", num_small_bins=4).collect()
        assert sum(r["cnt"] for r in rows) == 3  # only the 3 valid values
        top = [r for r in rows if r["small_bin"] == 3]
        assert sum(r["cnt"] for r in top) == 1  # just the max value 3.0

    def test_equal_interval_bin_matches_duckdb_case(self, spark):
        """equal_interval_bin_expr against DuckDB's CASE spelling of the
        same rule: non-values -> NULL, width 0 -> bin 0, x = mx -> k-1,
        values exactly on an edge open the bin above it."""
        import duckdb
        import pyarrow as pa

        from shifu_spark.functions.nonvalue import is_value
        from shifu_spark.operators.binning import equal_interval_bin_expr
        from tests.oracle import compare

        nan, inf = float("nan"), float("inf")
        groups = {
            "edges": [0.0, 2.5, 5.0, 7.5, 10.0, 1.0, 9.99, None, nan, inf, -inf],
            "inexact": [0.1, 0.2, 0.3, 0.7, 0.35, 0.55, -0.3],
            "constant": [3.0, 3.0, None, nan],
        }
        rows = [(i, g, x) for g, xs in groups.items() for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "id int, g string, x double")
        x = F.col("x")
        mm = df.groupBy("g").agg(F.min(F.when(is_value(x), x)).alias("mn"), F.max(F.when(is_value(x), x)).alias("mx"))
        got = df.join(mm, "g").select("g", "id", equal_interval_bin_expr(x, F.col("mn"), F.col("mx"), 4).alias("bin"))

        con = duckdb.connect()
        con.register("t", pa.table({
            "id": [r[0] for r in rows], "g": [r[1] for r in rows],
            "x": pa.array([r[2] for r in rows], pa.float64()),
        }))
        sql = """
SELECT g, id,
       (CASE WHEN x IS NULL OR NOT isfinite(x) THEN NULL
             WHEN mx = mn THEN 0
             ELSE least(floor((x - mn) / ((mx - mn) / 4)), 3) END)::BIGINT AS bin
FROM t JOIN (SELECT g, min(x) AS mn, max(x) AS mx FROM t
             WHERE x IS NOT NULL AND isfinite(x) GROUP BY g) USING (g)
"""
        assert compare(got, con, sql, "equal_interval_bin") == []
        by_key = {(r["g"], r["id"]): r["bin"] for r in got.collect()}
        assert [by_key[("edges", i)] for i in range(11)] == [0, 1, 2, 3, 3, 0, 3, None, None, None, None]
        assert [by_key[("constant", i)] for i in range(4)] == [0, 0, None, None]

    def test_onehot_normalize_nan_quantity_matches_oracle(self, spark, tmp_path):
        """One NaN l_quantity goes to the missing slot on both engines and
        leaves the bin edges of every other row alone."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from shifu_spark.queries import ORACLES, QUERIES
        from tests.oracle import compare

        li = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
        q = li.column("l_quantity").to_pylist()
        q[0] = float("nan")
        i = li.schema.get_field_index("l_quantity")
        pq.write_table(li.set_column(i, "l_quantity", pa.array(q, pa.float64())), tmp_path / "lineitem.parquet")
        con = duckdb.connect()
        con.sql(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')")
        out = QUERIES["onehot_normalize"](spark, str(tmp_path))
        assert compare(out, con, ORACLES["onehot_normalize"], "onehot_nan") == []

    def test_hybrid_bin_index(self, spark):
        from shifu_spark.operators.binning import hybrid_bin_index_expr

        df = spark.createDataFrame(
            [(0.5,), (1.5,), (10.0,), (11.0,), (99.0,), (1234.0,), (None,)], "v double"
        )
        # categorical-first lookup (woeNormalize:622-640): map hit -> cate
        # slot; miss -> numeric boundary bin; null -> missing slot
        e = hybrid_bin_index_expr("v", [0.0, 1.0], ["10.00", "11.00", "1234.00"])
        got = [r[0] for r in df.select(e.alias("i")).collect()]
        #   0.5 -> bin0; 1.5 -> bin1; 10 -> cate0 -> 2; 11 -> cate1 -> 3;
        #   99 not a category -> numeric fallback bin1 -> 1;
        #   1234 -> cate2 -> 4 (format_number's "1,234.00" would miss);
        #   NULL -> missing 5
        assert got == [0, 1, 2, 3, 1, 4, 5]

    def test_hybrid_bin_index_raw_token_categories(self, spark):
        """Non-numeric category tokens (collected at binning time as
        unparseable) must resolve to their category slot via the RAW
        token lookup — the %.2f-only key sent every such token to the
        missing slot because try_cast is NULL for them."""
        from shifu_spark.operators.binning import hybrid_bin_index_expr

        df = spark.createDataFrame(
            [("N/A",), ("0.5",), ("10",), ("10.0",), ("oops",), (None,)], "v string"
        )
        e = hybrid_bin_index_expr("v", [0.0, 1.0], ["N/A", "10.00"])
        got = [r[0] for r in df.select(e.alias("i")).collect()]
        # N/A -> cate0 -> 2; 0.5 -> bin0; "10"/"10.0" both normalize to
        # "10.00" -> cate1 -> 3; unparseable non-category -> missing 4;
        # NULL -> missing 4
        assert got == [2, 0, 3, 3, 4, 4]


class TestIvf:
    def test_kmeans_centroids_shape(self, spark):
        from shifu_spark.operators.similarity import train_ivf_centroids

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = train_ivf_centroids(emb, k=4)
        assert len(cents) == 4
        assert all(len(c) == 64 for c in cents)

    def test_ivf_cells_partition_all_vectors(self, spark):
        from pyspark.sql import functions as F

        from shifu_spark.operators.similarity import ivf_assign_cells

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cells = ivf_assign_cells(emb, F.col("vec_id") < 8)
        assert cells.count() == emb.count()  # every vector in exactly one cell
        assert cells.select("cell").distinct().count() <= 8


def confusion_points_global(df, score_col, label_expr, weight_col=None):
    """The unpartitioned global-window form of ``confusion_points_df``:
    one WindowExec task, so only a mirror for the differential tests."""
    from pyspark.sql import Window

    from shifu_spark.operators.eval_metrics import _confusion_select, _score_points

    pts = _score_points(df, score_col, label_expr, weight_col)
    wdesc = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t = (
        pts.withColumn("cum_pos", F.sum("pos").over(wdesc))
        .withColumn("cum_neg", F.sum("neg").over(wdesc))
        .withColumn("cum_wpos", F.sum("wpos").over(wdesc))
        .withColumn("cum_wneg", F.sum("wneg").over(wdesc))
        .withColumn("tot_pos", F.sum("pos").over(wall))
        .withColumn("tot_neg", F.sum("neg").over(wall))
    )
    return _confusion_select(t, weighted=weight_col is not None)


class TestScalableConfusion:
    def test_matches_window_form(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from shifu_spark.operators.eval_metrics import confusion_points_df

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        label = F.col("l_returnflag") == "R"
        a = confusion_points_global(li, "l_extendedprice", label).select(
            "score", "tp", "fp", "fn", "tn"
        )
        b = confusion_points_df(li, "l_extendedprice", label, num_ranges=8).select(
            "score", "tp", "fp", "fn", "tn"
        )
        rows_a = sorted(map(tuple, a.collect()))
        rows_b = sorted(map(tuple, b.collect()))
        assert rows_a == rows_b

    def test_weighted_matches_window_form(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from shifu_spark.operators.eval_metrics import confusion_points_df

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        label = F.col("l_returnflag") == "R"
        a = confusion_points_global(li, "l_extendedprice", label, weight_col="l_quantity").select(
            "score", "tp", "fp", "wtp", "wfp"
        )
        b = confusion_points_df(
            li, "l_extendedprice", label, weight_col="l_quantity", num_ranges=8
        ).select("score", "tp", "fp", "wtp", "wfp")
        rows_a = sorted(map(tuple, a.collect()))
        rows_b = sorted(map(tuple, b.collect()))
        assert rows_a == rows_b


class TestCurveRangeForms:
    """The prefix-sum core picks its range count from the points' plan
    size: one range (a window over a constant bucket) for small eval
    sets, range buckets + broadcast offsets above that. Every curve
    entry point must give the same answer whichever form runs."""

    @property
    def label(self):
        return F.col("label") == 1

    @staticmethod
    def _cases():
        """(name, rows) cases: score ties with NULL/NaN/±Inf scores, one
        distinct score, no positives. Weights are dyadic (plus an
        unparseable and a negative one, both clamped to 1.0), so
        weighted sums are exact in any order and equality tests the
        bucketing, not float associativity."""
        inf = float("inf")
        ws = ["0.5", "1.5", "2", "0.25", "x", "-3", None]
        rows = [
            (round((i * 7919 % 503) / 503.0, 2), int(i * 31 % 7 < 3), ws[i % len(ws)])
            for i in range(600)
        ]
        rows += [(None, 1, "1"), (float("nan"), 1, "2"), (inf, 0, "1"), (-inf, 1, "0.5")]
        single = [(0.5, int(i % 3 == 0), "1.5") for i in range(40)] + [(float("nan"), 1, "1")]
        return [
            ("ties_and_nonvalues", rows),
            ("single_score", single),
            ("no_positives", [(r[0], 0, r[2]) for r in rows]),
        ]

    @staticmethod
    def _cached(spark, rows):
        """Cached and materialized: a Python-RDD frame has no size
        estimate, and an unknown size takes the multi-range form."""
        df = spark.createDataFrame(rows, "score double, label int, w string").cache()
        df.count()
        return df

    @staticmethod
    def _mann_whitney(rows, weighted):
        """Exact (weighted) Mann-Whitney AUC of the finite-score rows,
        P(pos > neg) + P(tie)/2 in rationals, with the clamp rule:
        an unparseable, non-finite or negative weight counts 1. None
        when a class is empty."""
        from fractions import Fraction

        def weight(w):
            try:
                v = float(w)
            except (TypeError, ValueError):
                return Fraction(1)
            return Fraction(v) if math.isfinite(v) and v >= 0 else Fraction(1)

        pos, neg = {}, {}
        for score, label, w in rows:
            if score is None or not math.isfinite(score):
                continue
            side = pos if label else neg
            side[score] = side.get(score, 0) + (weight(w) if weighted else 1)
        wp, wn = sum(pos.values()), sum(neg.values())
        if not wp or not wn:
            return None
        u = sum(
            a * b * (1 if sp > sn else Fraction(1, 2) if sp == sn else 0)
            for sp, a in pos.items()
            for sn, b in neg.items()
        )
        return float(u / (wp * wn))

    def _results(self, df, n):
        from shifu_spark.operators.eval_metrics import (
            confusion_points_df,
            curve_metrics_df,
            gain_buckets_df,
            weighted_gain_buckets_df,
        )

        lab = self.label
        return {
            "curve": curve_metrics_df(df, "score", lab, num_ranges=n).collect(),
            "weighted_curve": curve_metrics_df(
                df, "score", lab, num_ranges=n, weight_col="w"
            ).collect(),
            "points": sorted(map(tuple, confusion_points_df(df, "score", lab, num_ranges=n).collect())),
            "weighted_points": sorted(
                map(tuple, confusion_points_df(df, "score", lab, "w", num_ranges=n).collect())
            ),
            "gains": gain_buckets_df(confusion_points_df(df, "score", lab, num_ranges=n)).collect(),
            "weighted_gains": weighted_gain_buckets_df(df, "score", lab, "w", num_ranges=n).collect(),
        }

    def test_one_range_matches_forced_ranges(self, spark):
        from shifu_spark.operators.eval_metrics import (
            _range_count,
            _score_points,
            curve_metrics_df,
        )

        for name, rows in self._cases():
            df = self._cached(spark, rows)
            try:
                assert _range_count(_score_points(df, "score", self.label, "w")) == 1, name
                derived = self._results(df, None)
                # the single-scan trapezoid equals the exact rank statistic
                for w in (None, "w"):
                    got = curve_metrics_df(
                        df, "score", self.label, round_to=None, weight_col=w
                    ).collect()[0]["auc"]
                    want = self._mann_whitney(rows, weighted=w is not None)
                    assert (got is None) == (want is None), (name, w)
                    assert want is None or abs(got - want) <= 1e-12, (name, w, got, want)
                for n in (4, 8):
                    forced = self._results(df, n)
                    for k in derived:
                        assert derived[k] == forced[k], (name, k, n)
            finally:
                df.unpersist()

    def test_small_advisory_size_derives_several_ranges(self, spark):
        """Lowering the advisory partition size must move the same input
        to the multi-range plan (persisted points, offsets join) with
        unchanged results, so the derivation is not a constant 1."""
        from shifu_spark.operators.eval_metrics import (
            _range_count,
            _score_points,
            confusion_points_df,
            curve_metrics_df,
        )

        if spark.sparkContext.defaultParallelism < 2:
            pytest.skip("a one-core session caps the range count at 1")
        df = self._cached(spark, self._cases()[0][1])
        pts = _score_points(df, "score", self.label, None)

        def run():
            caches = []
            plan = confusion_points_df(df, "score", self.label, cache_out=caches)
            try:
                points = sorted(map(tuple, plan.collect()))
                opt = plan._jdf.queryExecution().optimizedPlan().toString()
            finally:
                for c in caches:
                    c.unpersist()
            curve = curve_metrics_df(df, "score", self.label).collect()
            return _range_count(pts), len(caches), "__opid" in opt, points, curve

        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old = spark.conf.get(key)
        try:
            n1, cached1, joined1, points1, curve1 = run()
            spark.conf.set(key, "1k")
            n, cached, joined, points, curve = run()
        finally:
            spark.conf.set(key, old)
            df.unpersist()
        assert (n1, cached1, joined1) == (1, 0, False)
        assert n > 1 and cached == 1 and joined
        assert (points, curve) == (points1, curve1)

    @pytest.mark.parametrize("num_ranges", [None, 4])
    def test_unit_weights_match_unweighted(self, spark, num_ranges):
        """``weight_col`` only swaps the tallies the scan cumulates: a
        weight of 1 on every row gives exactly the unweighted
        (auc, pr_auc, ks)."""
        from shifu_spark.operators.eval_metrics import curve_metrics_df

        for name, rows in self._cases():
            df = self._cached(spark, [(s, y, "1") for s, y, _ in rows])
            try:
                plain = curve_metrics_df(df, "score", self.label, num_ranges=num_ranges)
                unit = curve_metrics_df(
                    df, "score", self.label, num_ranges=num_ranges, weight_col="w"
                )
                assert unit.collect() == plain.collect(), name
            finally:
                df.unpersist()

    def test_unparseable_text_scores_are_dropped(self, spark):
        """A text score that does not parse is missing, as the reader
        treats it: the curve and the confusion points drop it instead of
        raising CAST_INVALID_INPUT under ANSI. DuckDB's TRY_CAST +
        isfinite is the oracle."""
        import duckdb

        from shifu_spark.operators.eval_metrics import confusion_points_df, curve_metrics_df
        from tests.oracle import compare

        junk = ["abc", "?", "", "NaN", "Infinity", "-Infinity", None]
        rows = [(f"{i * 37 % 101 / 100:.2f}", int(i % 3 == 0)) for i in range(80)]
        rows += [(s, i % 2) for i, s in enumerate(junk + junk)]
        df = spark.createDataFrame(rows, "score string, label int")
        con = duckdb.connect()
        con.execute("CREATE TABLE t (score VARCHAR, label INTEGER)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        cum = """
WITH pts AS (
  SELECT TRY_CAST(score AS DOUBLE) AS score, sum(label) AS pos, sum(1 - label) AS neg
  FROM t WHERE isfinite(TRY_CAST(score AS DOUBLE)) GROUP BY 1
),
cum AS (SELECT score, pos, neg,
               sum(pos) OVER (ORDER BY score DESC) AS tp,
               sum(neg) OVER (ORDER BY score DESC) AS fp,
               sum(pos) OVER () AS tot_p, sum(neg) OVER () AS tot_n
        FROM pts)
"""
        points_sql = cum + """
SELECT score, tp::BIGINT AS tp, fp::BIGINT AS fp,
       (tot_p - tp)::BIGINT AS fn, (tot_n - fp)::BIGINT AS tn,
       tp::DOUBLE / (tp + fp) AS precision, tp::DOUBLE / tot_p AS recall,
       fp::DOUBLE / tot_n AS fpr
FROM cum
"""
        curve_sql = cum + """,
pr AS (SELECT tp::DOUBLE / (tp + fp) AS precision, tp::DOUBLE / tot_p AS recall FROM cum),
lagged AS (SELECT recall, precision,
                  lag(recall) OVER (ORDER BY recall, precision DESC) AS prev_r,
                  lag(precision) OVER (ORDER BY recall, precision DESC) AS prev_p
           FROM pr)
SELECT round((SELECT sum(neg * ((tp - pos) + tp) * 0.5) FROM cum)
             / ((SELECT max(tot_p) FROM cum) * (SELECT max(tot_n) FROM cum)), 6) AS auc,
       (SELECT round(sum((recall - prev_r) * (precision + prev_p) / 2.0), 6)
        FROM lagged WHERE prev_r IS NOT NULL) AS pr_auc,
       (SELECT round(max(tp::DOUBLE / tot_p - fp::DOUBLE / tot_n), 6) FROM cum) AS ks
"""
        problems = compare(confusion_points_df(df, "score", self.label), con, points_sql, "points")
        problems += compare(curve_metrics_df(df, "score", self.label), con, curve_sql, "curve")
        assert problems == [], problems

    @pytest.mark.parametrize("num_ranges", [None, 4])
    def test_weighted_gains_zero_total_weight(self, spark, num_ranges):
        """Every weight 0: the action rate has no denominator. The gains
        table gives NULL rates, as the other weighted curves do, instead
        of an ANSI divide-by-zero, and a NULL bucket, as the DuckDB
        mirror does: no point claims the whole-population bucket 10.
        The one row is the NULL bucket's max-score point."""
        from shifu_spark.operators.eval_metrics import weighted_gain_buckets_df

        rows = [(i / 100.0, int(i % 3 == 0), "0") for i in range(100)]
        df = self._cached(spark, rows)
        try:
            out = weighted_gain_buckets_df(df, "score", self.label, "w", num_ranges=num_ranges)
            got = [tuple(r) for r in out.collect()]
        finally:
            df.unpersist()
        assert got == [(None, 0.99, None, None, None)]

    def test_curve_metrics_job_count(self, spark):
        """A 12k-row eval set takes the one-range form: a handful of
        jobs, not a persist + boundary collect + offsets branch each."""
        from shifu_spark.operators.eval_metrics import curve_metrics_df

        sc = spark.sparkContext
        df = spark.range(12000).select(
            F.round(F.rand(11), 4).alias("score"), (F.rand(12) < 0.3).cast("int").alias("label")
        ).cache()
        try:
            df.count()
            group = "test_operators:curve_metrics_jobs"
            sc.setJobGroup(group, group)
            try:
                row = curve_metrics_df(df, "score", self.label).collect()[0]
            finally:
                sc.setJobGroup("test_operators:idle", "idle")
            assert row["auc"] is not None
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
        finally:
            df.unpersist()


def test_map_lookups_raise_no_future_warning(spark):
    """Map literals are indexed with ``m[key]``: ``getItem(<Column>)`` is
    deprecated in Spark 4 and slated for removal."""
    import warnings

    from shifu_spark.operators.binning import categorical_index_expr
    from shifu_spark.operators.normalize import categorical_posrate_expr
    from shifu_spark.operators.text import (
        BIGRAM_BACKOFF_PENALTY,
        BIGRAM_LOGPROB,
        UNIGRAM_LOGPROB,
        UNIGRAM_OOV_LOGPROB,
        bigram_logprob_exprs,
        unigram_logprob_exprs,
    )

    df = spark.createDataFrame([("a", "table hash zzz"), ("q", "the"), (None, "zzz")], "c string, t string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        uni_lp, uni_oov = unigram_logprob_exprs("t")
        bi_lp, bi_miss = bigram_logprob_exprs("t")
        rows = df.select(
            categorical_index_expr("c", ["b", "a"]).alias("idx"),
            categorical_posrate_expr("c", ["b", "a"], [0.25, 0.75], 0.5).alias("rate"),
            uni_lp.alias("uni_lp"), uni_oov.alias("uni_oov"),
            bi_lp.alias("bi_lp"), bi_miss.alias("bi_miss"),
        ).collect()
    assert [(r["idx"], r["rate"]) for r in rows] == [(1, 0.75), (2, 0.5), (2, 0.5)]
    u = UNIGRAM_LOGPROB
    assert rows[0]["uni_lp"] == (u["table"] + u["hash"] + UNIGRAM_OOV_LOGPROB) / 3
    assert [r["uni_oov"] for r in rows] == [1 / 3, 0.0, 1.0]
    backoff = UNIGRAM_OOV_LOGPROB + BIGRAM_BACKOFF_PENALTY
    assert rows[0]["bi_lp"] == (BIGRAM_LOGPROB["table hash"] + backoff) / 2
    assert rows[0]["bi_miss"] == 0.5 and rows[1]["bi_lp"] is None


class TestFinalizeOneRow:
    def test_arrow_rewrap_is_exact_and_jobless(self, spark):
        """The rewrapped frame keeps the schema (nullability included)
        and every value bit-exact, and collecting it runs no Spark job."""
        from shifu_spark.operators.eval_metrics import _finalize_one_row

        src = spark.sql(
            "SELECT CAST(9007199254740993 AS BIGINT) AS big, CAST(NULL AS BIGINT) AS nul, "
            "CAST(NULL AS DOUBLE) AS nd, CAST('12345.0123456789' AS DECIMAL(38,10)) AS dec, "
            "0.1D AS f, array(1, NULL, 3) AS arr, named_struct('x', 1, 'y', 'ü') AS st"
        )
        expected = src.collect()
        out = _finalize_one_row(src)
        assert out.schema == src.schema
        sc = spark.sparkContext
        group = "test_operators:finalize_one_row"
        sc.setJobGroup(group, group)
        try:
            got = out.collect()
        finally:
            sc.setJobGroup("test_operators:idle", "idle")
        assert got == expected
        assert got[0]["big"] == 2**53 + 1
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        empty = _finalize_one_row(src.limit(0))
        assert empty.schema == src.schema and empty.collect() == []


def test_local_cpus_env_then_affinity(monkeypatch):
    from shifu_spark.session import local_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cpus() == str(len(os.sched_getaffinity(0)))


def test_session_skips_call_site_capture(spark):
    """get_spark turns PySpark's per-Column call-site capture off: each
    Column operation would otherwise make extra py4j round trips."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_profile_top_ranks_newest_core_count(tmp_path, monkeypatch):
    """--top ranks by per-query min over the sidecar records taken at
    the newest record's core count; records without queries are skipped."""
    import json

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from profile_queries import top_queries

    recs = [
        {"cpus": 4, "queries": {"a": 1.0, "b": 9.0, "c": 2.0}},
        {"cpus": 32, "queries": {"a": 50.0, "b": 0.1, "c": 0.1}},
        {"cpus": 4, "queries": {"a": 3.0, "b": 0.5, "c": 2.5}},
        {"cpus": 4},
    ]
    side = tmp_path / "BENCH_local_last.json"
    side.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    assert top_queries(2, str(side)) == ["c", "a"]


class TestNormalizeVariants:
    """normalize_df dispatch for the index/asis NormTypes
    (ModelNormalizeConf.java:33-57, Normalizer.java:287-377)."""

    @staticmethod
    def _cc_cat():
        from shifu_spark.catalog import ColumnBinning, ColumnConfig, ColumnStats, ColumnType

        cc = ColumnConfig(column_num=0, column_name="c", column_type=ColumnType.CATEGORICAL)
        cc.final_select = True
        cc.column_binning = ColumnBinning(
            bin_category=["x", "y"], bin_pos_rate=[0.2, 0.8, 0.5],
            bin_count_woe=[1.0, -1.0, 0.0], bin_boundary=[],
        )
        cc.column_stats = ColumnStats(mean=0.0, std_dev=1.0)
        return cc

    def test_index_variant_emits_raw_bin_index(self, spark):
        from shifu_spark.operators.normalize import normalize_df

        df = spark.createDataFrame([("x",), ("y",), ("zz",)], "c string")
        out = normalize_df(df, [self._cc_cat()], norm_type="ZSCALE_INDEX")
        got = [r["c"] for r in out.collect()]
        assert got == [0.0, 1.0, 2.0]  # x->0, y->1, unknown->missing slot 2

    def test_asis_woe_categorical(self, spark):
        from shifu_spark.operators.normalize import normalize_df

        df = spark.createDataFrame([("x",), ("y",), ("zz",)], "c string")
        out = normalize_df(df, [self._cc_cat()], norm_type="ASIS_WOE")
        got = [r["c"] for r in out.collect()]
        assert got == [1.0, -1.0, 0.0]  # woe per bin; unknown -> missing woe

    def test_asis_pr_categorical(self, spark):
        from shifu_spark.operators.normalize import normalize_df

        df = spark.createDataFrame([("x",), ("y",), ("zz",)], "c string")
        out = normalize_df(df, [self._cc_cat()], norm_type="ASIS_PR")
        got = [r["c"] for r in out.collect()]
        assert got == [0.2, 0.8, 0.5]  # posrate per category; miss -> last

    @staticmethod
    def _cc_cat_weighted():
        from shifu_spark.catalog import ColumnBinning, ColumnConfig, ColumnStats, ColumnType

        cc = ColumnConfig(column_num=0, column_name="c", column_type=ColumnType.CATEGORICAL)
        cc.final_select = True
        cc.column_binning = ColumnBinning(
            bin_category=["x", "y"], bin_pos_rate=[0.2, 0.8, 0.5],
            bin_count_woe=[1.0, -1.0, 0.0], bin_weighted_woe=[2.0, -2.0, 0.5],
            bin_count_pos=[1, 4, 0], bin_count_neg=[4, 1, 0], bin_boundary=[],
        )
        cc.column_stats = ColumnStats(mean=0.4, std_dev=0.1)
        return cc

    def test_old_zscale_categorical_passes_raw_posrate(self, spark):
        # Normalizer.java:444-452 isOld: categorical posRate NOT zscored —
        # with mean=.4/std=.1 a zscored output would be [-2, 4, 1] instead
        from shifu_spark.operators.normalize import normalize_df

        df = spark.createDataFrame([("x",), ("y",), ("zz",)], "c string")
        out = normalize_df(df, [self._cc_cat_weighted()], norm_type="OLD_ZSCALE")
        got = [r["c"] for r in out.collect()]
        assert got == [0.2, 0.8, 0.5]

    def test_old_zscale_numeric_equals_zscale(self, spark):
        from shifu_spark.catalog import ColumnBinning, ColumnConfig, ColumnStats, ColumnType
        from shifu_spark.operators.normalize import normalize_df

        cc = ColumnConfig(column_num=0, column_name="v", column_type=ColumnType.NUMERICAL)
        cc.final_select = True
        cc.column_binning = ColumnBinning(bin_boundary=[float("-inf"), 1.0])
        cc.column_stats = ColumnStats(mean=2.0, std_dev=1.0)
        df = spark.createDataFrame([(1.0,), (3.0,), (None,)], "v double")
        a = [r["v"] for r in normalize_df(df, [cc], norm_type="OLD_ZSCALE").collect()]
        b = [r["v"] for r in normalize_df(df, [cc], norm_type="ZSCALE").collect()]
        assert a == b == [-1.0, 1.0, 0.0]

    def test_weight_hybrid_uses_weighted_woe(self, spark):
        from shifu_spark.operators.normalize import normalize_df

        df = spark.createDataFrame([("x",), ("y",), ("zz",)], "c string")
        out = normalize_df(df, [self._cc_cat_weighted()], norm_type="WEIGHT_HYBRID")
        got = [r["c"] for r in out.collect()]
        assert got == [2.0, -2.0, 0.5]  # binWeightedWoe, not binCountWoe

    def test_weight_woe_zscore_weighted_population(self, spark):
        # zscore of the WEIGHTED woe with weighted woe mean/std
        # (calculateWoeMeanAndStdDev:728-756 over binWeightedWoe)
        from shifu_spark.operators.normalize import normalize_df

        cc = self._cc_cat_weighted()
        wm, ws = cc.woe_mean_std(weighted=True)
        df = spark.createDataFrame([("x",), ("y",)], "c string")
        out = normalize_df(df, [cc], norm_type="WEIGHT_WOE_ZSCALE")
        got = [r["c"] for r in out.collect()]
        assert got == [pytest.approx((2.0 - wm) / ws), pytest.approx((-2.0 - wm) / ws)]

    def test_onehot_categorical_multi_column(self, spark):
        from shifu_spark.operators.normalize import normalize_df

        df = spark.createDataFrame([("x",), ("y",), ("zz",)], "c string")
        out = normalize_df(df, [self._cc_cat()], norm_type="ONEHOT")
        assert out.columns == ["c_bin0", "c_bin1", "c_bin2"]  # 2 cats + missing
        got = [tuple(r) for r in out.collect()]
        assert got == [(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]

    def test_zscale_onehot_mixed(self, spark):
        from shifu_spark.catalog import ColumnBinning, ColumnConfig, ColumnStats, ColumnType
        from shifu_spark.operators.normalize import normalize_df

        num = ColumnConfig(column_num=1, column_name="v", column_type=ColumnType.NUMERICAL)
        num.final_select = True
        num.column_binning = ColumnBinning(bin_boundary=[float("-inf"), 1.0])
        num.column_stats = ColumnStats(mean=2.0, std_dev=1.0)
        df = spark.createDataFrame([("x", 1.0), ("zz", 3.0)], "c string, v double")
        out = normalize_df(df, [self._cc_cat(), num], norm_type="ZSCALE_ONEHOT")
        assert out.columns == ["c_bin0", "c_bin1", "c_bin2", "v"]
        got = [tuple(r) for r in out.collect()]
        assert got == [(1.0, 0.0, 0.0, -1.0), (0.0, 0.0, 1.0, 1.0)]

    def test_multiclass_tag_recode(self, spark):
        # NormalizeUDF.java:354-372: index of the first tag-set containing
        # the raw tag; unlisted -> NULL (record skipped)
        from shifu_spark.operators.normalize import tag_expr_multiclass

        df = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "t string")
        e = tag_expr_multiclass("t", [["a"], ["b", "c"]])
        got = [r[0] for r in df.select(e.alias("i")).collect()]
        assert got == [0.0, 1.0, 1.0, None]

    def test_category_missing_mean_fill(self, spark):
        # CategoryMissingNormType.MEAN (Normalizer.java:586-590): unseen
        # category fills with the column mean -> zscore exactly 0.0
        from shifu_spark.operators.normalize import normalize_df

        cc = self._cc_cat_weighted()  # mean=0.4 std=0.1
        df = spark.createDataFrame([("zz",)], "c string")
        mean_fill = normalize_df(df, [cc], norm_type="ZSCALE", category_missing="MEAN")
        posrate_fill = normalize_df(df, [cc], norm_type="ZSCALE", category_missing="POSRATE")
        assert [r["c"] for r in mean_fill.collect()] == [0.0]
        # POSRATE fill: (0.5 - 0.4) / 0.1 = 1.0
        assert [r["c"] for r in posrate_fill.collect()] == [pytest.approx(1.0)]


class TestDedupGroups:
    def test_transitive_chain_one_group(self, spark):
        from shifu_spark.operators.dedup import dedup_groups_df

        # chain 1-2, 2-3, 3-4 plus isolated pair 10-11: two groups
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
        )
        got = {r["doc_id"]: r["group_id"] for r in dedup_groups_df(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_distributed_path_matches_union_find(self, spark):
        # force the label-propagation regime (threshold 0) and check it
        # produces the identical grouping as the small-graph union-find
        from shifu_spark.operators.dedup import dedup_groups_df

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (7, 4), (11, 20)],
            "doc_a long, doc_b long",
        )
        small = {r["doc_id"]: r["group_id"] for r in dedup_groups_df(pairs).collect()}
        dist = {
            r["doc_id"]: r["group_id"]
            for r in dedup_groups_df(pairs, small_graph_threshold=0).collect()
        }
        assert small == dist
        assert dist[7] == 1 and dist[20] == 10

    def test_shuffle_fallback_regime_matches_broadcast(self, spark, monkeypatch):
        # VERDICT r12 item 6: the >LABELPROP_BROADCAST_EDGES_MAX regime
        # (shuffle joins every round instead of per-round broadcasts) had
        # no test. Pin result equality across the regime switch by
        # forcing the bound to 0 — every round then takes the shuffle-
        # join branch — and comparing against the broadcast regime and
        # the union-find ground truth on the same graph.
        from shifu_spark.operators import dedup as dedup_mod

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (7, 4), (11, 20), (30, 31)],
            "doc_a long, doc_b long",
        )
        broadcast_labels = {
            r["doc_id"]: r["group_id"]
            for r in dedup_mod.dedup_groups_df(pairs, small_graph_threshold=0).collect()
        }
        monkeypatch.setattr(dedup_mod, "LABELPROP_BROADCAST_EDGES_MAX", 0)
        shuffle_labels = {
            r["doc_id"]: r["group_id"]
            for r in dedup_mod.dedup_groups_df(pairs, small_graph_threshold=0).collect()
        }
        union_find = {
            r["doc_id"]: r["group_id"] for r in dedup_mod.dedup_groups_df(pairs).collect()
        }
        assert shuffle_labels == broadcast_labels == union_find
        assert shuffle_labels[20] == 10 and shuffle_labels[31] == 30

    def test_lsh_pairs_subset_of_exact(self, spark, sf_dir):
        # dedup_groups composes over the LSH generator; its candidates are
        # exact-verified, so LSH pairs ⊆ exact pairs always — and on the
        # test corpus recall is 1.0, which keeps the exact-pair oracle valid
        from shifu_spark.operators.dedup import minhash_lsh_pairs_df, ngram_jaccard_pairs_df

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs_df(docs, 3, threshold=0.5).collect()}
        lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs_df(docs, 3, threshold=0.5).collect()}
        assert lsh <= exact
        assert lsh == exact  # recall 1.0 on this corpus

    def test_keep_representatives(self, spark):
        from shifu_spark.operators.dedup import dedup_keep_representatives

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 99]], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
        )
        kept = sorted(r["doc_id"] for r in dedup_keep_representatives(docs, pairs).collect())
        # group reps 1 and 10 survive; untouched 99 survives
        assert kept == [1, 10, 99]


class TestScoreRescale:
    def test_strategies(self, spark):
        from shifu_spark.operators.eval_metrics import rescale_maxmin_expr, rescale_score_expr

        df = spark.createDataFrame([(-2.0,), (0.0,), (2.0,)], "s double")
        sig = [r[0] for r in df.select(rescale_score_expr("s", "SIGMOID").alias("v")).collect()]
        assert abs(sig[1] - 0.5) < 1e-12 and sig[0] < 0.02 and sig[2] > 0.98
        raw = [r[0] for r in df.select(rescale_score_expr("s", "RAW").alias("v")).collect()]
        assert raw == [-2.0, 0.0, 2.0]
        import pyspark.sql.functions as F

        mm = [r[0] for r in df.select(rescale_maxmin_expr("s", F.lit(-2.0), F.lit(2.0)).alias("v")).collect()]
        assert mm == [0.0, 0.5, 1.0]
        degenerate = [r[0] for r in df.select(rescale_maxmin_expr("s", F.lit(1.0), F.lit(1.0)).alias("v")).collect()]
        assert degenerate == [0.5, 0.5, 0.5]

    def test_junk_text_score_is_null(self, spark):
        """An unparseable TEXT score rescales to NULL under ANSI, as the
        curve operators read it, instead of raising CAST_INVALID_INPUT."""
        import pyspark.sql.functions as F

        from shifu_spark.operators.eval_metrics import rescale_maxmin_expr, rescale_score_expr

        df = spark.createDataFrame([("0.3",), ("abc",), ("",)], "s string")
        got = df.select(
            rescale_score_expr("s", "RAW").alias("raw"),
            rescale_score_expr("s", "SIGMOID").alias("sig"),
            rescale_maxmin_expr("s", F.lit(0.0), F.lit(0.6)).alias("mm"),
        ).collect()
        assert [tuple(r) for r in got[1:]] == [(None, None, None)] * 2
        assert got[0]["raw"] == 0.3 and got[0]["mm"] == 0.5
        assert abs(got[0]["sig"] - 1.0 / (1.0 + math.exp(-0.6))) < 1e-12
        # the degenerate range (max <= min) clamps parseable scores only
        deg = df.select(rescale_maxmin_expr("s", F.lit(1.0), F.lit(1.0))).collect()
        assert [r[0] for r in deg] == [0.5, None, None]


class TestPQArrowDifferential:
    def test_arrow_encode_matches_expression_form(self, spark):
        """pq_encode_arrow (bulk kernel) must produce byte-identical
        codes to pq_encode_df (the oracle-mirrored expression form) —
        the sequential-over-dims fold and argmin lowest-index tie rule
        are the load-bearing equivalences."""
        from shifu_spark.operators.similarity import (
            pq_encode_arrow,
            pq_encode_df,
            pq_train_codebooks,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        sample = [
            [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(256).select("embedding").collect()
        ]
        for k in (4, 16):
            books = pq_train_codebooks(sample, subspaces=4, k=k, iters=5)
            a = [tuple(r) for r in pq_encode_df(emb, books).orderBy("vec_id").collect()]
            b = [tuple(r) for r in pq_encode_arrow(emb, books).orderBy("vec_id").collect()]
            assert a == b, f"k={k}: arrow/expression code divergence"


def test_query_registry_rejects_unknown_stage():
    """The bench stage is declared with the query; a stage outside the
    known set fails when the decorator runs, so at import time."""
    from shifu_spark import queries

    saved = {d: dict(getattr(queries, d)) for d in ("QUERIES", "ORACLES", "STAGES")}
    try:
        with pytest.raises(ValueError, match="unknown stage 'evl'"):
            queries.query("__stage_probe", "SELECT 1", stage="evl")
        assert "__stage_probe" not in queries.QUERIES

        @queries.query("__stage_probe", "SELECT 1", stage="eval")
        def _probe(spark, sf_dir):
            return spark.range(1)

        assert queries.STAGES["__stage_probe"] == "eval"
        assert queries.QUERIES["__stage_probe"] is _probe
    finally:
        for d, v in saved.items():
            getattr(queries, d).clear()
            getattr(queries, d).update(v)
    assert "__stage_probe" not in queries.STAGES


def test_bench_r01_headline_registered():
    """baseline_comparable_value sums the fixed 23-query r01 set, so
    every one of those names must stay registered."""
    import bench
    from shifu_spark.queries import QUERIES

    assert len(bench.R01_HEADLINE) == len(set(bench.R01_HEADLINE)) == 23
    assert set(bench.R01_HEADLINE) <= set(QUERIES)


def test_bench_nearest_probe_factor():
    """bench.py's per-stage normalization picks the probe pair that
    BRACKETS each query's suite position (VERDICT r10 item 5: one
    suite-level factor smears intra-run box swings). Pin the bracketing
    arithmetic: position 1 uses (pre, mid1), a position ON a sample
    boundary uses that sample as its right probe, the last position
    uses (mid_last, post)."""
    import bench

    samples = [
        {"after": 0, "s": 0.6},
        {"after": 2, "s": 0.8},
        {"after": 4, "s": 1.0},
    ]
    ref = bench.PROBE_REF_S
    assert bench.nearest_probe_factor(samples, 1) == ref / 0.7
    assert bench.nearest_probe_factor(samples, 2) == ref / 0.7  # boundary
    assert bench.nearest_probe_factor(samples, 3) == ref / 0.9
    assert bench.nearest_probe_factor(samples, 4) == ref / 0.9


def test_bench_stall_remeasure_rule():
    """VERDICT r11 item 8: a query whose slowest run exceeds STALL_RATIO
    x its fastest gets ONE extra run; the single worst run is discarded
    (returned, recorded in the artifact — never silently dropped) so a
    one-off box stall stops polluting the committed spread, while a
    bimodal query that stalls again in the extra run stays visible."""
    import bench

    # quiet runs: untouched, no rerun taken
    calls = []
    runs, discarded = bench.apply_stall_remeasure(
        [0.5, 0.55, 0.6], lambda: calls.append(1) or 0.5
    )
    assert (runs, discarded, calls) == ([0.5, 0.55, 0.6], None, [])
    # one-off stall: extra run is clean, the stall itself is discarded
    runs, discarded = bench.apply_stall_remeasure([0.5, 8.2, 0.55], lambda: 0.52)
    assert discarded == 8.2
    assert runs == [0.5, 0.55, 0.52]
    assert (max(runs) - min(runs)) / min(runs) < 1.0  # spread de-polluted
    # bimodal: the extra run stalls too -> one stall remains visible
    runs, discarded = bench.apply_stall_remeasure([0.5, 8.2, 0.55], lambda: 7.9)
    assert discarded == 8.2
    assert runs == [0.5, 0.55, 7.9]
    # exactly at the ratio boundary: not a stall (strict >)
    runs, discarded = bench.apply_stall_remeasure(
        [1.0, bench.STALL_RATIO * 1.0], lambda: 1.0
    )
    assert discarded is None
    # degenerate inputs never rerun
    assert bench.apply_stall_remeasure([0.0, 5.0], lambda: 1 / 0) == ([0.0, 5.0], None)
    assert bench.apply_stall_remeasure([3.0], lambda: 1 / 0) == ([3.0], None)


def test_notes_totals_not_stale():
    """NOTES.md's registry-totals line is machine-owned (VERDICT r4
    wrong #4: hand-typed totals kept drifting) — regenerate with
    tools/gen_notes_totals.py whenever the registry changes."""
    import os

    from tools.gen_notes_totals import BEGIN, totals_line

    notes = open(os.path.join(os.path.dirname(__file__), "..", "NOTES.md")).read()
    assert BEGIN in notes, "run tools/gen_notes_totals.py once"
    assert totals_line() in notes, (
        "NOTES.md totals are stale — run tools/gen_notes_totals.py"
    )


class TestPiiAndRepetition:
    def test_pii_redaction_semantics(self, spark):
        from shifu_spark.operators.text import PII_PATTERNS, pii_redact_df
        import re

        rows = [
            (0, "mail me at jane.doe+x@sub.example.co.uk or call 555-0199 now"),
            (1, "server 10.20.30.40 talked to 192.168.1.1 twice 192.168.1.1"),
            (2, "no pii here at all"),
            # overlap: the email match consumes the IP-looking prefix, so
            # the staged count reports 1 email and ZERO ips (the counts
            # describe what was replaced, not raw-text signals)
            (3, "reach 1.2.3.4@x.com asap"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in pii_redact_df(df).collect()}
        assert (got[0]["n_emails"], got[0]["n_phones"]) == (1, 1)
        assert got[1]["n_ips"] == 3
        assert (got[2]["n_emails"], got[2]["n_ips"], got[2]["n_phones"]) == (0, 0, 0)
        assert (got[3]["n_emails"], got[3]["n_ips"]) == (1, 0)
        # digest must equal md5 of the python re reference redaction
        import hashlib

        for d, text in rows:
            red = text
            for k in ("email", "ip", "phone"):
                red = re.sub(PII_PATTERNS[k], f"<{k.upper()}>", red)
            assert got[d]["redacted_digest"] == hashlib.md5(red.encode()).hexdigest(), d

    def test_repetition_signals_semantics(self, spark):
        from shifu_spark.operators.text import repetition_signals_df

        rows = [
            (0, "a b c a b c a b c"),      # 7 trigrams, 3 distinct
            (1, "one two three four five"),  # all distinct
            (2, "x y"),                    # shorter than n -> 1 gram
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in repetition_signals_df(df).collect()}
        assert (got[0]["n_grams"], got[0]["n_distinct"]) == (7, 3)
        assert not got[0]["keep"]  # dup_frac = 4/7 > 0.30
        assert got[1]["dup_frac"] == 0.0 and got[1]["keep"]
        assert got[2]["n_grams"] == 1 and got[2]["n_distinct"] == 1


def test_pii_redaction_randomized_against_python_re(spark):
    """Third-implementation cross-check on a seeded randomized corpus:
    Spark's JVM-regex counts and redaction digests must equal python
    `re` over 200 documents with randomly placed/formatted PII."""
    import hashlib
    import re

    import numpy as np

    from shifu_spark.operators.text import PII_PATTERNS, pii_redact_df

    rng = np.random.default_rng(123)
    words = ["alpha", "beta", "gamma", "delta", "sum", "table", "row"]
    rows = []
    for i in range(200):
        toks = list(rng.choice(words, rng.integers(3, 12)))
        for _ in range(rng.integers(0, 4)):
            kind = rng.integers(0, 3)
            if kind == 0:
                toks.insert(
                    int(rng.integers(0, len(toks))),
                    f"user{rng.integers(0, 999)}@ex{rng.integers(0, 9)}.org",
                )
            elif kind == 1:
                toks.insert(
                    int(rng.integers(0, len(toks))),
                    ".".join(str(rng.integers(0, 256)) for _ in range(4)),
                )
            else:
                toks.insert(int(rng.integers(0, len(toks))), f"555-{rng.integers(0, 10000):04d}")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_redact_df(df).collect()}
    n_with_pii = 0
    for i, text in rows:
        # staged reference: each kind counted against the text as
        # redacted so far (mirrors the operator's replaced-what-counted
        # contract)
        red, want = text, {}
        for k in ("email", "ip", "phone"):
            want[k] = len(re.findall(PII_PATTERNS[k], red))
            red = re.sub(PII_PATTERNS[k], f"<{k.upper()}>", red)
        assert (got[i]["n_emails"], got[i]["n_ips"], got[i]["n_phones"]) == (
            want["email"], want["ip"], want["phone"],
        ), (i, text)
        assert got[i]["redacted_digest"] == hashlib.md5(red.encode()).hexdigest(), (i, text)
        n_with_pii += any(want.values())
    assert n_with_pii > 100  # the corpus genuinely exercised the patterns


def test_lang_mixture_fractions(spark):
    """Language-mixture semantics: fractions sum to 1 over marker hits,
    argmax matches lang_id_expr (same tie-breaks), code-switched docs
    report sub-1 purity, marker-free docs are 'und' with purity 0."""
    from shifu_spark.operators.text import LANG_MARKERS, lang_id_expr, lang_mixture_df
    from pyspark.sql import functions as F

    langs = sorted(LANG_MARKERS)
    a, b = LANG_MARKERS[langs[0]][0], LANG_MARKERS[langs[1]][0]
    rows = [
        (0, f"{a} {a} {a} xq"),          # monolingual
        (1, f"{a} {a} {b} xq yq"),       # 2:1 code-switched
        (2, "xq yq zq"),                 # no markers
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lang_mixture_df(df).collect()}
    assert got[0]["purity"] == 1.0 and got[0]["top_lang"] == langs[0]
    assert got[1]["n_marker_hits"] == 3
    assert got[1][f"frac_{langs[0]}"] == round(2 / 3, 6)
    assert got[1][f"frac_{langs[1]}"] == round(1 / 3, 6)
    assert got[1]["purity"] == round(2 / 3, 6)
    assert got[2]["top_lang"] == "und" and got[2]["purity"] == 0.0
    # fraction columns sum to ~1 wherever any marker hit exists
    for d, r in got.items():
        if r["n_marker_hits"]:
            assert abs(sum(r[f"frac_{lang}"] for lang in langs) - 1.0) < 1e-5, d
    # argmax agrees with the registered lang_id expression
    ids = {r["doc_id"]: r["lid"] for r in df.select("doc_id", lang_id_expr("text").alias("lid")).collect()}
    for d in got:
        assert got[d]["top_lang"] == ids[d], d


def test_rotation_generator_orders_stale_first():
    """tools/gen_rotation.py must put never-proven queries first, then
    stale proofs oldest-first with oracle-backed before rows-only."""
    import json
    import subprocess
    import sys
    import os

    repo = os.path.join(os.path.dirname(__file__), "..")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "gen_rotation.py")],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-500:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip().startswith('"')]
    assert len(lines) == 50
    # every NEW (never-proven) entry precedes every proven entry
    tags = ["NEW" in ln for ln in lines]
    first_proven = tags.index(False) if False in tags else len(tags)
    assert all(not t for t in tags[first_proven:])
    # proven entries are non-decreasing in round number
    rounds = []
    for ln in lines[first_proven:]:
        tag = ln.split("#")[1].strip().split()[0]
        if tag.startswith("r"):
            rounds.append(int(tag[1:]))
    assert rounds == sorted(rounds)


class TestAsofJoin:
    def test_semantics_inclusive_boundary_and_nulls(self, spark):
        """As-of semantics: greatest right ts <= left ts per key,
        INCLUSIVE at equality, NULL payload when nothing precedes,
        deterministic tie-break on tie_cols at duplicate timestamps."""
        from shifu_spark.operators.join import asof_join

        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (3, 1, "d")],
            "k int, lts int, tag string",
        )
        right = spark.createDataFrame(
            # k=1: ts 5 (equal to left b) and 8; k=2: two rows TIED at
            # ts 6 -> rid 21 must win (greatest tie col); k=3: none
            [(1, 5, 10), (1, 8, 11), (2, 6, 20), (2, 6, 21)],
            "k int, rts int, rid int",
        )
        out = {
            (r["k"], r["lts"]): r["asof_rid"]
            for r in asof_join(left, right, ["k"], "lts", "rts", ["rid"]).collect()
        }
        assert out[(1, 10)] == 11   # latest <= 10 is ts 8
        assert out[(1, 5)] == 10    # inclusive boundary
        assert out[(2, 7)] == 21    # tie at ts 6 -> greater rid
        assert out[(3, 1)] is None  # nothing precedes

    def test_matches_window_free_reference(self, spark):
        """Randomized cross-check vs a per-row python reference."""
        import numpy as np

        from shifu_spark.operators.join import asof_join

        rng = np.random.default_rng(7)
        lrows = [(int(rng.integers(0, 10)), int(rng.integers(0, 100)), i) for i in range(200)]
        rrows = [(int(rng.integers(0, 10)), int(rng.integers(0, 100)), i) for i in range(300)]
        left = spark.createDataFrame(lrows, "k int, lts int, lid int")
        right = spark.createDataFrame(rrows, "k int, rts int, rid int")
        got = {
            r["lid"]: r["asof_rid"]
            for r in asof_join(left, right, ["k"], "lts", "rts", ["rid"]).collect()
        }
        for k, lts, lid in lrows:
            cands = [(rts, rid) for rk, rts, rid in rrows if rk == k and rts <= lts]
            want = max(cands)[1] if cands else None
            assert got[lid] == want, (k, lts, lid)


class TestPoissonBootstrap:
    def test_pmf_and_layout_independence(self, spark):
        """Copy counts follow Poisson(1) (chi-square-loose bounds) and
        are identical under repartitioning (content-keyed, not RNG)."""
        import math

        from shifu_spark.operators.purify import poisson_copies_expr, poisson_pmf_cumsums

        cums = poisson_pmf_cumsums(1.0, 6)
        assert cums[0] == pytest.approx(math.exp(-1))
        assert cums[1] == pytest.approx(2 * math.exp(-1))

        df = spark.range(0, 20000).select(F.col("id").alias("k"))
        e = poisson_copies_expr(["k"], lam=1.0)
        hist = {r["copies"]: r["n"] for r in df.select(e.alias("copies")).groupBy("copies").agg(F.count(F.lit(1)).alias("n")).collect()}
        n = 20000
        for k in range(3):
            want = math.exp(-1) / math.factorial(k)
            assert abs(hist.get(k, 0) / n - want) < 0.02, (k, hist)
        hist2 = {r["copies"]: r["n"] for r in df.repartition(17).select(e.alias("copies")).groupBy("copies").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert hist == hist2

    def test_explode_materializes_bag(self, spark):
        from shifu_spark.operators.purify import poisson_copies_expr

        df = spark.range(0, 500).select(F.col("id").alias("k"))
        c = poisson_copies_expr(["k"]).alias("copies")
        bag = (
            df.select("k", c)
            .filter(F.col("copies") > 0)
            .select("k", F.explode(F.sequence(F.lit(1), F.col("copies"))))
        )
        total = df.select(F.sum(poisson_copies_expr(["k"]))).collect()[0][0]
        assert bag.count() == total


class TestSemanticDedup:
    def test_keep_first_within_cluster(self, spark):
        """Planted duplicates: identical vectors land in one cell; only
        the lowest id survives. Orthogonal vectors all survive."""
        from shifu_spark.operators.similarity import semantic_dedup_df

        rows = [
            # seeds are corpus members too: every non-dup sits < 0.9
            # cosine from BOTH seeds so only the planted dup drops
            (0, [1.0, 0.0, 0.0, 0.0]),   # centroid/seed, cell 0
            (1, [0.0, 1.0, 0.0, 0.0]),   # centroid/seed, cell 1
            (10, [0.6, 0.8, 0.0, 0.0]),  # cell 1 (cos .8 vs seed)
            (11, [0.6, 0.8, 0.0, 0.0]),  # dup of 10 -> dropped (cos 1.0)
            (12, [0.0, 0.0, 1.0, 0.0]),  # orthogonal; unique in its cell
            (20, [0.8, 0.6, 0.0, 0.0]),  # cell 0, unique
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )
        got = {r["vec_id"]: r for r in semantic_dedup_df(df, F.col("vec_id") < 2, 0.9).collect()}
        assert got[10]["keep"] is True
        assert got[11]["keep"] is False  # covered by 10
        assert got[0]["keep"] and got[1]["keep"] and got[12]["keep"] and got[20]["keep"]
        assert got[10]["cell"] == got[11]["cell"]

    def test_threshold_monotone(self, spark):
        """Raising the threshold can only keep MORE vectors."""
        from shifu_spark.operators.similarity import semantic_dedup_df

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        kept = {}
        for t in (0.3, 0.5):
            kept[t] = semantic_dedup_df(emb, F.col("vec_id") < 4, t).filter("keep").count()
        assert kept[0.5] >= kept[0.3]


class TestHilbertKeys:
    def test_kernel_bijective_and_unit_step(self):
        """Hilbert invariants at order 4: bijection over the 16x16 grid
        and EVERY consecutive pair of distances is an adjacent cell
        (unit L1 step) — the locality property Morton lacks."""
        from shifu_spark.operators.layout import hilbert_xy2d

        seen = {}
        for x in range(16):
            for y in range(16):
                seen[hilbert_xy2d(x, y, 4)] = (x, y)
        assert set(seen) == set(range(256))
        for d in range(255):
            (x1, y1), (x2, y2) = seen[d], seen[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1, d

    def test_spark_unroll_matches_kernel(self, spark):
        """The chained-projection SQL unroll must equal the python
        reference for every cell of the full order-5 grid AND on real
        quantized lineitem data."""
        from shifu_spark.operators.layout import hilbert_keys, hilbert_xy2d

        grid = spark.createDataFrame(
            [(x, y) for x in range(32) for y in range(32)], "a int, b int"
        )
        got = hilbert_keys(grid, ["a", "b"], bits=5).collect()
        for r in got:
            assert r["hkey"] == hilbert_xy2d(r["hr_a"], r["hr_b"], 5), dict(r.asDict())

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(500)
        out = hilbert_keys(
            li.select("l_quantity", "l_extendedprice"),
            ["l_quantity", "l_extendedprice"],
            bits=8,
        ).collect()
        for r in out:
            assert r["hkey"] == hilbert_xy2d(
                r["hr_l_quantity"], r["hr_l_extendedprice"], 8
            )

    def test_two_columns_only(self, spark):
        import pytest as _pytest

        from shifu_spark.operators.layout import hilbert_keys

        df = spark.range(3).select(F.col("id").alias("a"))
        with _pytest.raises(ValueError, match="exactly two"):
            hilbert_keys(df, ["a"], bits=4)


class TestChunkSpans:
    def test_coverage_overlap_and_edges(self, spark):
        """Every token is covered, consecutive chunks overlap by
        chunk-stride tokens, the tail chunk may be short, and a doc
        shorter than one chunk yields exactly one chunk."""
        import hashlib

        from shifu_spark.operators.text import chunk_spans_df

        texts = {
            0: " ".join(f"w{i}" for i in range(10)),   # 10 toks, chunk 4, stride 3
            1: "a b",                                   # shorter than chunk
            2: " ".join(f"x{i}" for i in range(9)),     # exact multiple edge
        }
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        rows = chunk_spans_df(df, chunk_tokens=4, stride=3).collect()
        by_doc: dict[int, list] = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, text in texts.items():
            toks = text.split(" ")
            chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
            covered = set()
            for c in chunks:
                covered.update(range(c["tok_start"], c["tok_start"] + c["n_chunk_tokens"]))
                want = " ".join(toks[c["tok_start"]: c["tok_start"] + c["n_chunk_tokens"]])
                assert c["chunk_digest"] == hashlib.md5(want.encode()).hexdigest()
            assert covered == set(range(len(toks))), doc_id
        assert len(by_doc[1]) == 1 and by_doc[1][0]["n_chunk_tokens"] == 2
        # starts are 0, stride, 2*stride, ... while start < n
        assert [c["tok_start"] for c in sorted(by_doc[0], key=lambda r: r["chunk_id"])] == [0, 3, 6, 9]

    def test_invalid_params_raise(self, spark):
        from shifu_spark.operators.text import chunk_spans_df

        df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="positive"):
            chunk_spans_df(df, chunk_tokens=0)
        with pytest.raises(ValueError, match="positive"):
            chunk_spans_df(df, stride=-1)


class TestCountMinSketch:
    def test_never_underestimates_and_exact_when_sparse(self, spark):
        """CMS invariants: estimate >= exact count for EVERY key; with
        few keys vs width, most estimates are exact."""
        from shifu_spark.operators.sketch import cms_build_df, cms_estimate_df

        rows = [(k,) for k in range(20) for _ in range(k + 1)]  # key k appears k+1 times
        df = spark.createDataFrame(rows, "user_id long")
        cms = cms_build_df(df, "user_id")
        keys = df.select("user_id").distinct()
        est = {r["user_id"]: r["cms_estimate"] for r in cms_estimate_df(cms, keys, "user_id").collect()}
        for k in range(20):
            assert est[k] >= k + 1, k
        assert sum(1 for k in range(20) if est[k] == k + 1) >= 14  # mostly collision-free

    def test_sketch_size_bounded_and_mass_conserved(self, spark):
        """The sketch never exceeds depth x width rows and each row's
        counters sum to the total row count (mass conservation)."""
        from shifu_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH, cms_build_df

        df = spark.range(0, 5000).select((F.col("id") % 137).alias("user_id"))
        cms = cms_build_df(df, "user_id")
        assert cms.count() <= CMS_DEPTH * CMS_WIDTH
        per_row = {r["row_i"]: r["s"] for r in cms.groupBy("row_i").agg(F.sum("cnt").alias("s")).collect()}
        assert all(v == 5000 for v in per_row.values())


class TestBloomAndHll:
    def test_bloom_no_false_negatives(self, spark):
        """Every member must hit (the Bloom contract); the filter stays
        within its bit budget."""
        from shifu_spark.operators.sketch import BLOOM_BITS, bloom_build_df, bloom_probe_df

        members = spark.range(0, 40).select((F.col("id") * 7).alias("k"))
        bloom = bloom_build_df(members, "k")
        assert bloom.count() <= BLOOM_BITS
        hits = {r["k"]: r["bloom_hit"] for r in bloom_probe_df(bloom, members, "k").collect()}
        assert all(hits.values())

    def test_bloom_fp_rate_reasonable(self, spark):
        """Non-member probes may false-positive, but at ~32 members in
        256 bits the rate must stay far below chance."""
        from shifu_spark.operators.sketch import bloom_build_df, bloom_probe_df

        members = spark.range(0, 32).select(F.col("id").alias("k"))
        bloom = bloom_build_df(members, "k")
        nonmembers = spark.range(1000, 1500).select(F.col("id").alias("k"))
        hits = bloom_probe_df(bloom, nonmembers, "k")
        fp = hits.filter("bloom_hit").count()
        assert fp < 50  # theoretical ~2.6% of 500 = 13; generous bound

    def test_hll_accuracy_and_layout_independence(self, spark):
        """Raw HLL within ~3/sqrt(m) of exact for n >> m, and identical
        under repartitioning (content-keyed hashing)."""
        from shifu_spark.operators.sketch import HLL_M, hll_estimate_expr, hll_registers_df

        df = spark.range(0, 20000).select(F.col("id").alias("k"))
        est = hll_estimate_expr(hll_registers_df(df, "k")).collect()[0]
        assert abs(est["hll_estimate"] - 20000) / 20000 < 3 / (HLL_M ** 0.5)
        est2 = hll_estimate_expr(hll_registers_df(df.repartition(13), "k")).collect()[0]
        assert est2["hll_estimate"] == est["hll_estimate"]

    def test_hll_registers_bounded(self, spark):
        from shifu_spark.operators.sketch import HLL_M, hll_registers_df

        df = spark.range(0, 5000).select(F.col("id").alias("k"))
        assert hll_registers_df(df, "k").count() <= HLL_M


class TestPageRank:
    def test_mass_conserved_and_uniform_fixpoint(self, spark):
        """On a d-regular symmetric graph the uniform distribution is the
        PageRank fixpoint (every node keeps rank 1/N); total mass stays
        ~1 on any dangling-free graph."""
        from shifu_spark.operators.graph import pagerank_df

        # 4-cycle: every node has in/out degree 2 -> regular
        edges = spark.createDataFrame(
            [(i, (i + 1) % 4) for i in range(4)] + [((i + 1) % 4, i) for i in range(4)],
            "src long, dst long",
        )
        pr = {r["node"]: r["rank"] for r in pagerank_df(edges, iters=4).collect()}
        for v in pr.values():
            assert abs(v - 0.25) < 1e-12
        # irregular graph: mass conserved, hub outranks leaves
        star = spark.createDataFrame(
            [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)],
            "src long, dst long",
        )
        pr2 = {r["node"]: r["rank"] for r in pagerank_df(star, iters=6).collect()}
        assert abs(sum(pr2.values()) - 1.0) < 1e-9
        assert pr2[0] > max(pr2[i] for i in range(1, 5))

    def test_layout_independent(self, spark):
        """Repartitioning the edge list must not change a single rank
        bit (the DECIMAL contribution-sum contract)."""
        from shifu_spark.operators.graph import pagerank_df

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        ).distinct()
        edges = li.unionByName(li.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        a = {r["node"]: r["rank"] for r in pagerank_df(edges, iters=3).collect()}
        b = {r["node"]: r["rank"] for r in pagerank_df(edges.repartition(17), iters=3).collect()}
        assert a == b

    def test_result_survives_internal_cache_release(self, spark):
        """pagerank_df releases its internal persists (e / all_nodes /
        ed) before returning, and since r13 only the LAST superstep's
        localCheckpoint is eager (intermediates are lazy, folded into
        the final materialization job). The returned frame must
        therefore be fully materialized at return — repeated actions
        after the unpersists must neither fail nor recompute to
        different bits, and the caches must actually be gone."""
        from shifu_spark.operators.graph import pagerank_df

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        ).distinct()
        edges = li.unionByName(li.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # CacheManager tracks DataFrame persist() entries; the RDDs that
        # localCheckpoint pins live outside it (released on frame GC).
        # Assert the DELTA is zero — the suite session is shared, so an
        # absolute-empty assertion is flaky against other tests' caches.
        cm = spark._jsparkSession.sharedState().cacheManager()
        entries_before = cm.numCachedEntries()
        pr = pagerank_df(edges, iters=3)
        first = sorted((r["node"], r["rank"]) for r in pr.collect())
        # internal persists released at return — nothing net leaked for
        # the session lifetime (the bench clearCache()s, callers cannot)
        assert cm.numCachedEntries() == entries_before
        second = sorted((r["node"], r["rank"]) for r in pr.collect())
        assert first == second and len(first) > 0

    def test_zero_in_degree_node_kept(self, spark):
        """A node with out-edges but NO in-edges must stay in the rank
        table at (1-d)/N-plus-nothing and keep feeding its targets —
        the inner groupBy(dst) form dropped it after iteration 1,
        losing its rank mass and omitting it from the output."""
        from shifu_spark.operators.graph import pagerank_df

        # C(2) -> A(0), A <-> B: node 2 has zero in-degree
        edges = spark.createDataFrame(
            [(2, 0), (0, 1), (1, 0)], "src long, dst long"
        )
        pr = {r["node"]: r["rank"] for r in pagerank_df(edges, iters=4).collect()}
        assert set(pr) == {0, 1, 2}
        # every node has out-degree >= 1, so mass is conserved exactly
        assert abs(sum(pr.values()) - 1.0) < 1e-9
        # python power iteration replica
        import numpy as np

        n, d = 3, 0.85
        r = np.full(3, 1 / 3)
        out = {2: [(0, 1)], 0: [(1, 1)], 1: [(0, 1)]}
        for _ in range(4):
            nxt = np.full(3, (1 - d) / n)
            for s, tgts in out.items():
                for t, _w in tgts:
                    nxt[t] += d * r[s] / len(tgts)
            r = nxt
        for i in range(3):
            assert abs(pr[i] - r[i]) < 1e-9, (i, pr[i], r[i])


class TestRound6Properties:
    def test_chunk_spans_invariants_random(self, spark):
        """Randomized chunking invariants across parameter combos: full
        coverage, correct overlap arithmetic, digest correctness."""
        import hashlib

        import numpy as np

        rng = np.random.default_rng(11)
        from shifu_spark.operators.text import chunk_spans_df

        rows = [
            (i, " ".join(f"t{rng.integers(0, 50)}" for _ in range(int(rng.integers(1, 40)))))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for chunk, stride in [(5, 3), (8, 8), (3, 2), (16, 7)]:
            got = {}
            for r in chunk_spans_df(df, chunk_tokens=chunk, stride=stride).collect():
                got.setdefault(r["doc_id"], []).append(r)
            for doc_id, text in rows:
                toks = text.split(" ")
                cs = sorted(got[doc_id], key=lambda r: r["chunk_id"])
                n_expected = (len(toks) - 1) // stride + 1
                assert len(cs) == n_expected, (doc_id, chunk, stride)
                covered = set()
                for c in cs:
                    assert c["tok_start"] == c["chunk_id"] * stride
                    assert c["n_chunk_tokens"] == min(chunk, len(toks) - c["tok_start"])
                    want = " ".join(toks[c["tok_start"]: c["tok_start"] + c["n_chunk_tokens"]])
                    assert c["chunk_digest"] == hashlib.md5(want.encode()).hexdigest()
                    covered.update(range(c["tok_start"], c["tok_start"] + c["n_chunk_tokens"]))
                assert covered == set(range(len(toks)))

    def test_hilbert_other_bit_widths(self, spark):
        """The unroll matches the kernel at non-default orders too."""
        from shifu_spark.operators.layout import hilbert_keys, hilbert_xy2d

        for bits in (2, 3, 6):
            side = 1 << bits
            grid = spark.createDataFrame(
                [(x, y) for x in range(side) for y in range(side)], "a int, b int"
            )
            for r in hilbert_keys(grid, ["a", "b"], bits=bits).collect():
                assert r["hkey"] == hilbert_xy2d(r["hr_a"], r["hr_b"], bits), (bits, dict(r.asDict()))

    def test_cms_estimate_matches_python_reference(self, spark):
        """Differential: the full CMS pipeline vs a pure-python md5
        reimplementation on a random multiset."""
        import hashlib

        import numpy as np

        from shifu_spark.operators.sketch import (
            CMS_DEPTH,
            CMS_WIDTH,
            cms_build_df,
            cms_estimate_df,
        )

        rng = np.random.default_rng(3)
        keys = [int(k) for k in rng.integers(0, 60, 800)]
        df = spark.createDataFrame([(k,) for k in keys], "user_id long")

        def bucket(k, i):
            h = hashlib.md5(f"cms{i}|{k}".encode()).hexdigest()
            return int(h[:4], 16) % CMS_WIDTH

        table = {}
        for k in keys:
            for i in range(CMS_DEPTH):
                b = bucket(k, i)
                table[(i, b)] = table.get((i, b), 0) + 1
        want = {
            k: min(table.get((i, bucket(k, i)), 0) for i in range(CMS_DEPTH))
            for k in set(keys)
        }
        cms = cms_build_df(df, "user_id")
        got = {
            r["user_id"]: r["cms_estimate"]
            for r in cms_estimate_df(cms, df.select("user_id").distinct(), "user_id").collect()
        }
        assert got == want

    def test_hll_matches_python_reference(self, spark):
        """Differential: register table and estimate vs a pure-python
        md5 reimplementation."""
        import hashlib

        from shifu_spark.operators.sketch import (
            HLL_ALPHA,
            HLL_M,
            hll_estimate_expr,
            hll_registers_df,
        )

        keys = list(range(1000))
        df = spark.createDataFrame([(k,) for k in keys], "k long")

        regs = {}
        for k in keys:
            r = int(hashlib.md5(f"hllr|{k}".encode()).hexdigest()[:4], 16) % HLL_M
            w = int(hashlib.md5(f"hllw|{k}".encode()).hexdigest()[:8], 16)
            rho = 33 if w == 0 else (32 - w.bit_length() + 1)
            regs[r] = max(regs.get(r, 0), rho)
        got_regs = {
            r["reg"]: r["max_rho"] for r in hll_registers_df(df, "k").collect()
        }
        assert got_regs == regs
        present = sum(2.0 ** -m for m in regs.values())
        want = round(HLL_ALPHA * HLL_M * HLL_M / (present + (HLL_M - len(regs))), 4)
        got = hll_estimate_expr(hll_registers_df(df, "k")).collect()[0]["hll_estimate"]
        assert got == want

    def test_pagerank_matches_python_power_iteration(self, spark):
        """Differential: 3 Spark iterations vs a pure-python power
        iteration with the same decimal-quantized contribution sums."""
        from decimal import ROUND_HALF_UP, Decimal

        from shifu_spark.operators.graph import pagerank_df

        edges = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2), (3, 0), (0, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        nodes = sorted({s for s, _ in edges})
        outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
        rank = {n: 1.0 / len(nodes) for n in nodes}
        q = Decimal("0.0000000001")
        for _ in range(3):
            sums = {n: Decimal(0) for n in nodes}
            for s, d in edges:
                # Spark's double->decimal(38,10) cast rounds HALF_UP
                # (python Decimal defaults to HALF_EVEN and diverges in
                # the 10th decimal on exactly-half values)
                sums[d] += Decimal(rank[s] / outdeg[s]).quantize(q, rounding=ROUND_HALF_UP)
            # (1.0 - 0.85) is 0.15000000000000002 in binary — the operator
            # and its oracle both use that exact double, not the 0.15 literal
            rank = {n: (1.0 - 0.85) / len(nodes) + 0.85 * float(sums[n]) for n in nodes}
        got = {r["node"]: r["rank"] for r in pagerank_df(df, iters=3).collect()}
        assert got == rank


class TestContinuationRound6Ops:
    def test_triangle_count_matches_bruteforce(self, spark):
        """Differential: degree-oriented distributed census vs a python
        brute force over all vertex triples, on a seeded random graph."""
        import itertools
        import random

        rng = random.Random(7)
        nodes = list(range(12))
        edges = sorted(
            {(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.4}
        )
        adj = {n: set() for n in nodes}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        tri = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if b in adj[a] and c in adj[a] and c in adj[b]
        )
        wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
        from shifu_spark.operators.graph import triangle_count_df

        df = spark.createDataFrame(edges, "a long, b long")
        row = triangle_count_df(df).collect()[0]
        assert row["n_nodes"] == sum(1 for v in adj.values() if v)
        assert row["n_edges"] == len(edges)
        assert row["n_wedges"] == wedges
        assert row["n_triangles"] == tri
        assert row["clustering"] == round(3.0 * tri / wedges, 6)

    def test_triangle_count_complete_graph(self, spark):
        """K5: C(5,3)=10 triangles, 30 wedges, clustering exactly 1."""
        import itertools

        from shifu_spark.operators.graph import triangle_count_df

        edges = list(itertools.combinations(range(5), 2))
        df = spark.createDataFrame(edges, "a long, b long")
        row = triangle_count_df(df).collect()[0]
        assert (row["n_triangles"], row["n_wedges"]) == (10, 30)
        assert row["clustering"] == 1.0

    def test_robust_stats_matches_numpy(self, spark):
        """Differential: quartiles/MAD/fences vs numpy type-7 quantiles
        in the same quarter-micro integer domain."""
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        from shifu_spark.operators.stats import robust_stats_df

        rng = np.random.default_rng(11)
        # money-like: two decimals, heavy right tail
        vals = np.round(rng.lognormal(3.0, 1.0, size=501), 2)
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        row = robust_stats_df(df, ["x"]).collect()[0]

        x4 = np.round(vals * 1e6) * 4
        q1, q2, q3 = (float(np.percentile(x4, p)) for p in (25, 50, 75))
        mad4 = float(np.percentile(np.abs(x4 - q2), 50))
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)

        def r6(v):
            # mirror F.round's HALF_UP over the shortest double repr
            return float(
                Decimal(repr(v / 4_000_000.0)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        assert row["n_valid"] == 501
        assert (row["p25"], row["median"], row["p75"]) == (r6(q1), r6(q2), r6(q3))
        assert row["mad"] == r6(mad4)
        assert row["iqr"] == r6(q3 - q1)
        assert row["n_outliers"] == int(np.sum((x4 < lo) | (x4 > hi)))

    def test_matryoshka_full_width_recall_one(self, spark):
        """Recall at the full embedding width is exactly 1.0; all widths
        report the same bounded query count and recall ∈ [0, 1]."""
        import random

        from shifu_spark.operators.similarity import matryoshka_recall_df
        from pyspark.sql import functions as F

        rng = random.Random(3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r["dims"]: r
            for r in matryoshka_recall_df(
                df, F.col("vec_id") < 3, [2, 4, 8], k=5
            ).collect()
        }
        assert set(out) == {2, 4, 8}
        assert out[8]["recall"] == 1.0
        for r in out.values():
            assert r["n_queries"] == 3
            assert 0.0 <= r["recall"] <= 1.0
            assert r["n_hits"] <= 3 * 5

    def test_robust_stats_ignores_nulls(self, spark):
        """NULLs are excluded from counts, percentiles, and fences —
        mirrors the oracle's count(x4)/quantile_cont NULL semantics."""
        from shifu_spark.operators.stats import robust_stats_df

        rows = [(1.0,), (2.0,), (None,), (3.0,), (None,), (100.0,)]
        df = spark.createDataFrame(rows, "x double")
        row = robust_stats_df(df, ["x"]).collect()[0]
        assert row["n_valid"] == 4
        assert row["median"] == 2.5  # interpolated over {1,2,3,100}
        assert row["n_outliers"] == 1  # the 100.0 beyond the hi fence

    def test_salted_join_spreads_hot_key_and_matches_plain(self, spark):
        """A hot key's rows land on >1 salt (the point of salting) and
        the salted join returns exactly the plain join's rows."""
        from shifu_spark.operators.join import salted_join
        from pyspark.sql import functions as F

        # one hot key (0) with 200 rows, 20 cold keys
        rows = [(0, i) for i in range(200)] + [(k, 0) for k in range(1, 21)]
        left = spark.createDataFrame(rows, "k long, line long")
        right = spark.createDataFrame(
            [(k, f"v{k}") for k in range(21)], "rk long, payload string"
        )
        out = salted_join(left, right, "k", "rk", salt_on="line", n_salts=8)
        assert out.count() == 220
        plain = left.join(right, left.k == right.rk)
        assert (
            out.select("k", "line", "payload").exceptAll(
                plain.select("k", "line", "payload")
            ).count()
            == 0
        )
        # hot key actually spread: recompute the salt the operator uses
        salt = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("k").cast("string"), F.col("line").cast("string"))), 1, 7
                ),
                16,
                10,
            ).cast("long"),
            F.lit(8),
        )
        n_salts_hot = (
            left.filter(F.col("k") == 0).select(salt.alias("s")).distinct().count()
        )
        assert n_salts_hot >= 6  # 200 rows over 8 salts

    def test_salted_join_rejects_overlap_and_existing_salt(self, spark):
        """Guards mirror range_bucket_join (ADVICE r6): overlapping
        payload column names and a pre-existing __salt column both fail
        loudly instead of silently corrupting the join condition."""
        import pytest as _pytest
        from pyspark.sql import functions as F

        from shifu_spark.operators.join import salted_join

        left = spark.createDataFrame([(1, 2)], "k long, line long")
        right_overlap = spark.createDataFrame([(1, 9)], "rk long, line long")
        with _pytest.raises(ValueError, match="disjoint"):
            salted_join(left, right_overlap, "k", "rk", salt_on="line")
        pre_salted = left.withColumn("__salt", F.lit(0))
        right = spark.createDataFrame([(1, "v")], "rk long, payload string")
        with _pytest.raises(ValueError, match="__salt"):
            salted_join(pre_salted, right, "k", "rk", salt_on="line")

    def test_edit_distance_pairs_blocking_complete_and_precise(self, spark):
        """Deletion-neighborhood blocking finds every dist≤1 pair kind
        (equal-length substitution, insertion/deletion) and the exact
        verify rejects the transposition false positive (ab/ba share a
        deletion variant but sit at distance 2)."""
        from shifu_spark.operators.dedup import edit_distance_pairs_df

        vocab = spark.createDataFrame(
            [("cat",), ("cut",), ("cart",), ("ca",), ("ab",), ("ba",), ("dog",)],
            "w string",
        )
        got = {
            (r["word_a"], r["word_b"]): r["dist"]
            for r in edit_distance_pairs_df(vocab).collect()
        }
        import itertools

        def lev(a, b):
            d = {(i, 0): i for i in range(len(a) + 1)}
            d.update({(0, j): j for j in range(len(b) + 1)})
            for i, j in itertools.product(range(1, len(a) + 1), range(1, len(b) + 1)):
                d[i, j] = min(
                    d[i - 1, j] + 1,
                    d[i, j - 1] + 1,
                    d[i - 1, j - 1] + (a[i - 1] != b[j - 1]),
                )
            return d[len(a), len(b)]

        words = [r["w"] for r in vocab.collect()]
        want = {
            (a, b): lev(a, b)
            for a, b in itertools.combinations(sorted(words), 2)
            if lev(a, b) <= 1
        }
        assert got == want
        assert ("ab", "ba") not in got  # transposition rejected by verify
        assert got[("ca", "cat")] == 1 and got[("cat", "cut")] == 1

    def test_triangle_count_empty_edges(self, spark):
        """Edgeless graph: all-zero census, null clustering (0/0)."""
        from shifu_spark.operators.graph import triangle_count_df

        row = triangle_count_df(spark.createDataFrame([], "a long, b long")).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["n_wedges"], row["n_triangles"]) == (0, 0, 0, 0)
        assert row["clustering"] is None

    def test_robust_stats_all_null_raises(self, spark):
        """All-null input fails loudly, naming the offending column."""
        import pytest as _pytest

        from shifu_spark.operators.stats import robust_stats_df

        df = spark.createDataFrame([(None,), (None,)], "x double")
        with _pytest.raises(ValueError, match="all-null.*x"):
            robust_stats_df(df, ["x"]).collect()

    def test_cdc_merge_latest_wins_and_deletes(self, spark):
        """Latest sequence per key wins; D drops the key; unchanged keys
        survive; same-seq D beats U (op desc tiebreak)."""
        from shifu_spark.operators.cdc import cdc_merge

        snap = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
        )
        changes = spark.createDataFrame(
            [
                (1, "a2", 1, "U"),  # update
                (2, "b", 1, "D"),   # delete
                (3, "c2", 1, "U"),  # update then delete at higher seq
                (3, "c2", 2, "D"),
                (4, "dX", 3, "U"),  # same-seq U and D: D wins
                (4, "dY", 3, "D"),
            ],
            "k long, v string, seq long, op string",
        )
        got = {r["k"]: r["v"] for r in cdc_merge(snap, changes, "k").collect()}
        assert got == {1: "a2"}  # 2,3,4 deleted; 1 updated

    def test_cdc_merge_same_seq_same_op_payload_tiebreak(self, spark):
        """Two 'U' rows at the same seq with different payloads: the
        winner is fixed by the payload tiebreak (desc, nulls last), not
        row_number arbitrariness (ADVICE r6) — so the merge is
        deterministic across runs and engines."""
        from shifu_spark.operators.cdc import cdc_merge

        snap = spark.createDataFrame([(1, "a")], "k long, v string")
        changes = spark.createDataFrame(
            [(1, "z-first", 3, "U"), (1, "m-second", 3, "U"), (1, None, 3, "U")],
            "k long, v string, seq long, op string",
        )
        for _ in range(3):
            got = {r["k"]: r["v"] for r in cdc_merge(snap, changes, "k").collect()}
            assert got == {1: "z-first"}  # greatest payload wins, nulls last

    def test_cdc_merge_unchanged_keys_pass_through(self, spark):
        from shifu_spark.operators.cdc import cdc_merge

        snap = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        empty = spark.createDataFrame([], "k long, v string, seq long, op string")
        got = {r["k"]: r["v"] for r in cdc_merge(snap, empty, "k").collect()}
        assert got == {1: "a", 2: "b"}

    def test_scd2_intervals_chain(self, spark):
        """A 3-change chain yields two closed intervals + one current;
        a single-change key is immediately current."""
        from shifu_spark.operators.cdc import scd2_intervals

        ch = spark.createDataFrame(
            [(1, "s0", 0), (1, "s1", 100), (1, "s2", 250), (2, "t0", 7)],
            "k long, seg string, ts long",
        )
        rows = scd2_intervals(ch, "k", ts_col="ts").collect()
        by = {(r["k"], r["seg"]): r for r in rows}
        assert by[(1, "s0")]["valid_to"] == 100 and not by[(1, "s0")]["is_current"]
        assert by[(1, "s1")]["valid_to"] == 250
        assert by[(1, "s2")]["valid_to"] is None and by[(1, "s2")]["is_current"]
        assert by[(2, "t0")]["is_current"] and by[(2, "t0")]["valid_from"] == 7


class TestSimilarityEdgeGuards:
    def test_zero_norm_vector_is_never_a_neighbor(self, spark):
        """A zero embedding makes cosine 0/0 = NaN, and Spark treats NaN
        as the LARGEST double in ordering AND comparisons — unguarded, a
        zero vector ranks as everyone's #1 neighbor and passes every
        near-dup threshold. safe_cosine maps it to NULL and the kernels
        filter it out."""
        from shifu_spark.operators.similarity import brute_force_topk

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, [0.5, 0.5])],
            "vec_id long, embedding array<double>",
        )
        rows = brute_force_topk(emb, F.col("vec_id") == 1, k=4).collect()
        ids = [r["neighbor_id"] for r in rows]
        assert 3 not in ids and len(ids) == 2
        assert all(r["cosine"] is not None for r in rows)
        # NaN COMPONENTS too: nnorm = NaN, and `NaN != 0` is TRUE under
        # Spark semantics, so a plain nonzero guard would let the NaN
        # vector rank first all over again
        emb_nan = emb.union(
            emb.sparkSession.createDataFrame(
                [(5, [float("nan"), 1.0])], "vec_id long, embedding array<double>"
            )
        )
        rows2 = brute_force_topk(emb_nan, F.col("vec_id") == 1, k=4).collect()
        assert 5 not in [r["neighbor_id"] for r in rows2]

    def test_lsh_band_width_guard(self, spark):
        """bands must divide n_planes: silent truncation weakens the LSH,
        and width 0 degenerates the candidate join to a full cross
        product — both now raise."""
        import pytest as _pytest

        from shifu_spark.operators.similarity import embedding_neardup_lsh_pairs

        emb = spark.createDataFrame(
            [(1, [0.1] * 6)], "vec_id long, embedding array<double>"
        )
        planes = [[1.0] * 6 for _ in range(6)]
        with _pytest.raises(ValueError, match="bands"):
            embedding_neardup_lsh_pairs(emb, planes, bands=4)
        with _pytest.raises(ValueError, match="bands"):
            embedding_neardup_lsh_pairs(emb, planes, bands=8)

    def test_kmeans_fit_keeps_empty_cells(self, spark):
        """A seed centroid that attracts no vectors must survive the
        iteration with its previous value (pq_train_codebooks' rule),
        not be silently deleted from the quantizer."""
        from shifu_spark.operators.similarity import kmeans_fit

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.95, 0.05]), (3, [0.9, 0.1]),
             (4, [-1.0, -1.0])],
            "vec_id long, embedding array<double>",
        )
        # seeds: vec 1 (near the cluster) and vec 4 (everything is closer
        # to seed 1 by cosine except vec 4 itself... make 4 unattractive
        # by seeding from 1 and 2: cell of 2 may go empty on iteration 2)
        cents = kmeans_fit(emb, F.col("vec_id").isin(1, 4), iters=3)
        assert len(cents) == 2  # both cells survive every iteration
        assert [c for c, _ in cents] == sorted(c for c, _ in cents)


class TestCosinePathParityGrid:
    def test_expression_and_arrow_paths_agree_on_full_danger_grid(self, spark):
        """STRUCTURAL closure of the cosine-parity bug class (three
        instances in three rounds: zero-norm NaN r6, denominator-product
        overflow r8, subnormal-denominator +Inf r9): drive BOTH execution
        paths over the full cartesian grid of IEEE-754 danger values —
        zeros, subnormals, near-underflow/overflow magnitudes, ±Inf, NaN
        — and assert they agree ROW-FOR-ROW (both NULL, or the identical
        double; the formula dot/(qnorm·nnorm) is the same IEEE ops in
        JVM and numpy, so agreement is exact, not approximate). Any new
        guard added to one path and not the other fails here instead of
        surfacing as a round-N advisory."""
        import itertools
        import math

        from shifu_spark.operators.similarity import cosine_pandas_udf, safe_cosine

        inf, nan = float("inf"), float("nan")
        norms = [
            0.0, -0.0, 4.9406564584124654e-324, 1e-320, 2.3e-162, 1e-200,
            1e-160, 1e-10, 1.0, -1.0, 1e10, 1.3e154, 1.7e308, inf, -inf, nan,
        ]
        dots = [0.0, 1.0, -1.0, 1e-310, 1e308, inf, nan]
        rows = [
            (i, [d], [1.0], q, n)
            for i, (d, q, n) in enumerate(itertools.product(dots, norms, norms))
        ]
        df = spark.createDataFrame(
            rows, "i long, va array<double>, vb array<double>, na double, nb double"
        ).repartition(8)
        both = df.select(
            "i",
            safe_cosine(
                F.col("va")[0] * F.col("vb")[0], F.col("na"), F.col("nb")
            ).alias("expr"),
            cosine_pandas_udf()(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("arrow"),
        ).collect()
        assert len(both) == len(rows)
        diverged = []
        for r in both:
            e, a = r["expr"], r["arrow"]
            same = (e is None and a is None) or (
                e is not None and a is not None
                and (e == a or (math.isnan(e) and math.isnan(a)))
            )
            if not same:
                d, q, n = rows[r["i"]][1][0], rows[r["i"]][3], rows[r["i"]][4]
                diverged.append((d, q, n, e, a))
        assert not diverged, f"{len(diverged)} grid points diverge: {diverged[:10]}"


class TestCorrelationNonFinite:
    def test_nan_inf_rows_excluded_pairwise_on_both_engines(self, spark, tmp_path):
        """Pairwise-complete must treat NaN/Inf as MISSING (the
        reference's Normalizer.java:566-571 mapping): a NaN double
        nulls out of the DECIMAL co-moment cast, so a null-only guard
        kept the row in ``n`` while dropping it from every sum —
        corr(a, b=2a) read 0.9939 instead of exactly 1.0, a silently
        wrong VALUE. Planted fixture: b = 2a exactly wherever both are
        finite, with NaN and Inf contaminating different rows; both the
        Spark operator and the DuckDB oracle must return corr(a,b)=1
        and agree on every pair."""
        import duckdb

        from shifu_spark.operators.correlation import (
            correlation_df,
            correlation_oracle_sql,
        )
        from tests.oracle import compare

        nan, inf = float("nan"), float("inf")
        rows = [
            (1.0, 2.0, 3.0),
            (2.0, 4.0, 5.0),
            (nan, 1.0, 2.0),    # NaN in a: row excluded from (a,b),(a,c)
            (3.0, 6.0, nan),    # NaN in c: row excluded from (a,c),(b,c)
            (4.0, 8.0, -inf),   # -Inf in c: likewise (Inf = missing too)
            (inf, 9.0, 1.0),    # +Inf in a
            (5.0, 10.0, 4.0),
        ]
        df = spark.createDataFrame(rows, "a double, b double, c double")
        out = {
            (r["col_x"], r["col_y"]): r["corr"]
            for r in correlation_df(df, ["a", "b", "c"]).collect()
        }
        assert out[("a", "b")] == pytest.approx(1.0, abs=1e-9), out

        path = str(tmp_path / "corr.parquet")
        df.coalesce(1).write.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
        problems = compare(
            correlation_df(df, ["a", "b", "c"]),
            con,
            correlation_oracle_sql("t", ["a", "b", "c"]),
            "correlation_nonfinite",
        )
        assert problems == [], problems


class TestColumnStatsNonFinite:
    def test_nan_inf_are_missing_on_both_engines(self, spark, tmp_path):
        """NaN/Infinity map to MISSING for every stat in one consistent
        population (Normalizer.java:566-571): before the fix, a NaN row
        stayed in ``valid`` while nulling out of every DECIMAL power
        sum — silently skewing mean/std (and NaN poisoned max via
        Spark's NaN-is-largest ordering). Planted fixture: clean values
        {1..4} plus one NaN, one +Inf, one NULL; both engines must
        report valid=4, missing=3, mean=2.5, max=4 and hash-agree."""
        import duckdb

        from shifu_spark.operators.stats import (
            numeric_stats_df,
            numeric_stats_oracle_sql,
        )
        from tests.oracle import compare

        nan, inf = float("nan"), float("inf")
        df = spark.createDataFrame(
            [(1.0,), (2.0,), (3.0,), (4.0,), (nan,), (inf,), (None,)],
            "x double",
        )
        got = numeric_stats_df(df, ["x"]).collect()[0]
        assert got["total_count"] == 7 and got["missing_count"] == 3
        assert got["mean"] == pytest.approx(2.5)
        assert got["max_val"] == pytest.approx(4.0)   # NaN must not win max
        assert got["median"] == pytest.approx(2.5)

        path = str(tmp_path / "stats.parquet")
        df.coalesce(1).write.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
        problems = compare(
            numeric_stats_df(df, ["x"]),
            con,
            numeric_stats_oracle_sql("t", ["x"]),
            "stats_nonfinite",
        )
        assert problems == [], problems


class TestBinCountsWeightFallback:
    def test_unparseable_weight_defaults_to_one_not_zero(self, spark):
        """UpdateBinningInfoMapper.java:384-400: weight starts at 1.0d and
        the Double.valueOf throw leaves it there — an unparseable weight
        row counts with weight 1.0. A bare try_cast summed it as 0,
        silently shrinking bin weights on dirty text ingest. Negative
        weights flow through unclamped in the stats path (the clamp is
        eval-only, ConfusionMatrix.java:361-370)."""
        from shifu_spark.operators.ksiv import bin_counts_df

        df = spark.createDataFrame(
            [
                (1.0, "P", "2.0"),
                (2.0, "N", "oops"),   # unparseable -> 1.0, not 0
                (3.0, "P", None),     # NULL -> 1.0
                (4.0, "N", "-3.0"),   # negative flows through (stats path)
                (5.0, "P", "NaN"),      # parses in Java AND try_cast: garbage -> 1.0
                (6.0, "N", "Infinity"), # likewise (one NaN would poison the column)
            ],
            "x double, tag string, w string",
        )
        out = {
            r["bin"]: (r["bin_weight_pos"], r["bin_weight_neg"])
            for r in bin_counts_df(
                df, ["x"], {"x": [0.0, 10.0]}, "tag", ["P"], "w"
            ).collect()
        }
        # single bin: pos weights 2.0 + 1.0(null) + 1.0(NaN),
        # neg weights 1.0(oops) - 3.0 + 1.0(Infinity)
        (wp, wn), = out.values()
        assert wp == pytest.approx(4.0)
        assert wn == pytest.approx(-1.0)


class TestNormalizeNonFinite:
    def test_nan_inf_map_to_missing_in_bin_lookup_and_zscore(self, spark):
        """Normalizer.java:569-573: "if the value is Infinite or NaN,
        treat it as missing value". Before the fix: NaN rode Spark's
        NaN-is-largest ordering to satisfy `>= edge` for EVERY boundary
        and landed in the LAST REAL BIN (not the missing slot) in every
        bin-lookup-based transform, and z-score clipped NaN/Inf to
        +cutoff·std instead of imputing the mean (z=0)."""
        from shifu_spark.operators.binning import bin_index_expr
        from shifu_spark.operators.normalize import woe_expr, zscore_expr

        nan, inf = float("nan"), float("inf")
        df = spark.createDataFrame(
            [(0, 5.0), (1, nan), (2, inf), (3, -inf), (4, None), (5, 25.0)],
            "i long, x double",
        )
        bounds = [0.0, 10.0, 20.0]  # 3 numeric bins, missing slot = 3
        got = df.orderBy("i").select(
            bin_index_expr("x", bounds).alias("bin"),
            zscore_expr("x", mean=10.0, std=5.0).alias("z"),
            woe_expr("x", bounds, [0.1, 0.2, 0.3, -0.9]).alias("woe"),
        ).collect()
        assert [r["bin"] for r in got] == [0, 3, 3, 3, 3, 2]
        # z: value rows transform; NaN/Inf/NULL impute the mean -> z = 0
        assert got[0]["z"] == pytest.approx(-1.0)
        for r in got[1:5]:
            assert r["z"] == pytest.approx(0.0), r
        assert got[5]["z"] == pytest.approx(3.0)
        # woe: missing slot's woe (4th entry) for all non-values
        assert got[0]["woe"] == pytest.approx(0.1)
        for r in got[1:5]:
            assert r["woe"] == pytest.approx(-0.9), r
        assert got[5]["woe"] == pytest.approx(0.3)


class TestJexlNullEquality:
    def test_null_guards_filter_like_jexl_not_sql(self, spark):
        """JEXL null EQUALITY is two-valued (JexlArithmetic.equals:
        both-null -> true, one-null -> false), but a literal translation
        `x <> NULL` is SQL three-valued — always NULL, filter-false —
        so the reference ecosystem's most idiomatic guard,
        `tag != null && ...`, silently dropped EVERY row. The
        translator now emits IS [NOT] NULL for ==/!= against the null
        keyword (both operand orders), while ordering comparisons
        against null keep SQL semantics."""
        from shifu_spark.operators.purify import purify

        df = spark.createDataFrame(
            [(1, "a", 7.0), (2, None, 9.0), (3, "b", 3.0), (4, None, 1.0)],
            "i long, tag string, q double",
        )
        kept = sorted(r["i"] for r in purify(df, "tag != null && q > 5").collect())
        assert kept == [1]
        kept = sorted(r["i"] for r in purify(df, "tag == null").collect())
        assert kept == [2, 4]
        kept = sorted(r["i"] for r in purify(df, "null != tag").collect())
        assert kept == [1, 3]
        # quoted 'null' stays a data literal, untouched by the rewrite
        kept = sorted(r["i"] for r in purify(df, "tag == 'null'").collect())
        assert kept == []
