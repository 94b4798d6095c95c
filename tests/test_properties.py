"""Property-based tests (hypothesis) for the pure-python kernels —
randomized coverage the reference's deterministic-golden style misses
(SURVEY §5 notes it has none)."""

import math
import os
import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


counts = st.lists(
    st.tuples(st.integers(0, 10**6), st.integers(0, 10**4)), min_size=1, max_size=60
).map(lambda xs: [(float(i), c) for i, (_, c) in enumerate(xs)])


class TestDynamicBinMerge:
    @given(counts, st.integers(1, 12))
    @settings(max_examples=200, deadline=None)
    def test_invariants(self, small, k):
        from shifu_spark.operators.binning import dynamic_bin_merge

        b = dynamic_bin_merge(small, k)
        total = sum(c for _, c in small)
        if total == 0:
            assert b == []
            return
        # boundaries strictly ascending, start at first lo, never exceed k
        assert b[0] == small[0][0]
        assert all(x < y for x, y in zip(b, b[1:]))
        assert 1 <= len(b) <= k
        # every boundary is an existing small-bin lo (never invented)
        los = {lo for lo, _ in small}
        assert all(x in los for x in b)


class TestWelfordMerge:
    @given(
        st.lists(
            st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=0, max_size=50),
            min_size=1,
            max_size=6,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_chunked_merge_equals_global_moments(self, chunks):
        """Merging per-chunk moments Chan-style == numpy over the concat."""
        from shifu_spark.streaming.ops import _welford_fn

        class FakeState:
            exists = False
            get = None

            def update(self, v):
                self.get = v
                self.exists = True

        import pandas as pd

        state = FakeState()
        out = None
        for out in _welford_fn(("k",), (pd.DataFrame({"value": c}) for c in chunks), state):
            pass
        allv = np.concatenate([np.array(c, dtype=float) for c in chunks]) if any(len(c) for c in chunks) else np.array([])
        n = len(allv)
        assert out is not None
        row = out.iloc[0]
        assert row["n"] == n
        if n > 0:
            assert math.isclose(row["mean"], float(allv.mean()), rel_tol=1e-9, abs_tol=1e-9)
        if n > 1:
            assert math.isclose(row["std"], float(allv.std(ddof=1)), rel_tol=1e-6, abs_tol=1e-6)


class TestJexlTranslation:
    @given(st.sampled_from(["a", "b_1", "ns::col"]), st.integers(-100, 100), st.sampled_from(["<", ">", "<=", ">=", "==", "!="]))
    @settings(max_examples=100, deadline=None)
    def test_comparison_translation_shape(self, name, num, op):
        from shifu_spark.functions.jexl import jexl_to_sql

        sql = jexl_to_sql(f"{name} {op} {num}")
        assert "::" not in sql  # namespaces collapsed
        assert str(num) in sql
        if op == "==":
            assert "=" in sql and "==" not in sql
        if op == "!=":
            assert "<>" in sql

    @given(st.sampled_from(["new java.util.Date()", "a.size()", "x =~ y", "empty(x)"]))
    @settings(max_examples=20, deadline=None)
    def test_forbidden_constructs_raise(self, expr):
        import pytest

        from shifu_spark.functions.jexl import jexl_to_sql

        with pytest.raises(ValueError):
            jexl_to_sql(expr)


class TestNsColumnProperties:
    _seg = st.text(
        alphabet="abcxyz_", min_size=1, max_size=4
    )

    @given(st.lists(_seg, min_size=1, max_size=4), st.lists(_seg, min_size=1, max_size=4))
    @settings(max_examples=200, deadline=None)
    def test_equality_is_suffix_match_and_symmetric(self, pa, pb):
        from shifu_spark.catalog.nscolumn import ns_equals

        a, b = "::".join(pa), "::".join(pb)
        n = min(len(pa), len(pb))
        expected = pa[-n:] == pb[-n:]
        assert ns_equals(a, b) == expected
        assert ns_equals(a, b) == ns_equals(b, a)  # NSColumn.equals symmetry

    @given(st.lists(st.lists(_seg, min_size=1, max_size=3), min_size=1, max_size=6))
    @settings(max_examples=200, deadline=None)
    def test_resolve_simple_name_is_last_leaf_match(self, paths):
        """resolve(leaf) == the LAST header whose leaf matches — the
        DataPurifier.java:115-119 JexlContext.set overwrite order."""
        from shifu_spark.catalog.nscolumn import resolve, simple_name

        headers = ["::".join(p) for p in paths]
        leaf = simple_name(headers[0])
        want = [h for h in headers if simple_name(h) == leaf][-1]
        assert resolve(leaf, headers) == want


class TestRangeBucketFloorDiv:
    @given(
        st.integers(-(2**62), 2**62),
        st.integers(1, 10**12),
    )
    @settings(max_examples=150, deadline=None)
    def test_fdiv_matches_python_floordiv_all_magnitudes(self, v, bucket):
        """ALGEBRAIC IDENTITY ONLY: (v - nonneg_mod)/bucket computed in
        exact decimal equals Python's // over the full long domain —
        this pins the FORMULA the operator uses, not the operator
        itself (a local mirror cannot catch a product regression).
        The PRODUCT path past 2^53 is pinned by
        tests/test_range_join.py's 2^53-straddling differential, which
        drives range_bucket_join end-to-end."""
        from decimal import Decimal

        # replicate the operator's arithmetic: (v - nonneg_mod) / bucket
        # in exact decimal, then integer cast
        nonneg_mod = ((v % bucket) + bucket) % bucket
        q = int(Decimal(v - nonneg_mod) / Decimal(bucket))
        assert q == v // bucket


class TestSeqDotExactness:
    @given(
        st.integers(1, 40),
        st.integers(1, 8),
    )
    @settings(max_examples=50, deadline=None)
    def test_seq_dot_equals_python_fold(self, dim, rows):
        """The vectorized kernel must be bit-identical to the scalar
        sequential fold it replaces (the oracle-parity contract)."""
        rng = np.random.default_rng(dim * 1000 + rows)
        a = rng.normal(size=(rows, dim))
        b = rng.normal(size=(rows, dim))
        from shifu_spark.operators.similarity import _seq_dot

        got = _seq_dot(a, b)
        for r in range(rows):
            acc = 0.0
            for d in range(dim):
                acc = acc + a[r, d] * b[r, d]
            assert got[r] == acc  # bitwise equality, not isclose


class TestMulawProperties:
    @given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=500))
    @settings(max_examples=200, deadline=None)
    def test_companding_laws(self, xs):
        """∀ int16 inputs: (1) idempotence — decode is a fixed point of
        the codec; (2) bounded error — |x - dec(x)| ≤ half the widest
        quantization cell (512) + the clip loss (132); (3) sign and
        order preservation on the decoded magnitudes."""
        import numpy as np
        from shifu_spark.operators.multimodal import mulaw_compress, mulaw_expand

        x = np.array(xs, dtype=np.int64)
        dec = mulaw_expand(mulaw_compress(x))
        # idempotence: decoded values re-encode to the same code
        assert (mulaw_compress(dec) == mulaw_compress(x)).all()
        assert int(np.abs(dec - x).max()) <= 512 + 132
        assert ((dec == 0) | (np.sign(dec) == np.sign(x)) | (np.abs(x) < 4)).all()

    @given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=300),
           st.sampled_from([8000, 16000, 44100]))
    @settings(max_examples=50, deadline=None)
    def test_container_roundtrip(self, xs, rate):
        import numpy as np
        from shifu_spark.operators.multimodal import (
            decode_wav_compressed,
            encode_wav_mulaw,
            mulaw_compress,
            mulaw_expand,
        )

        x = np.array(xs, dtype=np.int64)
        s, r, nch, codec = decode_wav_compressed(encode_wav_mulaw(x, rate))
        assert (codec, r, nch, len(s)) == ("mulaw", rate, 1, len(x))
        assert (s == mulaw_expand(mulaw_compress(x))).all()


class TestImaAdpcmProperties:
    @given(
        st.integers(-32768, 32767),
        st.integers(0, 88),
        st.lists(st.integers(0, 15), min_size=2, max_size=200).map(
            lambda n: n if len(n) % 2 == 0 else n + [0]
        ),
    )
    @settings(max_examples=200, deadline=None)
    def test_container_bit_exact_for_any_state(self, pred0, idx0, nibs):
        """∀ (predictor, index, nibble stream): container pack/unpack is
        bit-exact (low-nibble-first layout, header predictor = sample 0)
        and decoded samples stay inside int16."""
        from shifu_spark.operators.multimodal import (
            decode_wav_compressed,
            encode_wav_ima_adpcm_state,
            ima_adpcm_decode_nibbles,
        )

        ref = ima_adpcm_decode_nibbles(pred0, idx0, nibs)
        s, _r, _nch, codec = decode_wav_compressed(
            encode_wav_ima_adpcm_state(pred0, idx0, nibs)
        )
        assert codec == "ima_adpcm"
        assert s.tolist() == ref
        assert all(-32768 <= v <= 32767 for v in ref)

    @given(st.lists(st.integers(-30000, 30000), min_size=2, max_size=300))
    @settings(max_examples=100, deadline=None)
    def test_encoder_decoded_signals_are_fixed_points(self, xs):
        """encode(decode(encode(x))) == encode(x): once a signal has
        passed through the codec, re-encoding is lossless."""
        import numpy as np
        from shifu_spark.operators.multimodal import (
            decode_wav_compressed,
            encode_wav_ima_adpcm,
        )

        x = np.array(xs, dtype=np.int64)
        d1, *_ = decode_wav_compressed(encode_wav_ima_adpcm(x))
        d2, *_ = decode_wav_compressed(encode_wav_ima_adpcm(d1))
        # d2 may carry one extra sample (odd nibble counts pad with a
        # zero-delta code); the original span must be reproduced exactly
        assert (d2[: len(d1)] == d1).all()


class TestGifLzwProperties:
    @given(
        st.integers(1, 3),
        st.integers(2, 24),
        st.integers(2, 24),
        st.integers(0, 2**32 - 1),
    )
    @settings(max_examples=100, deadline=None)
    def test_lossless_roundtrip_any_frames(self, nf, h, w, seed):
        """∀ frame shapes and pixel contents: GIF encode/decode is the
        identity on indices and palette (LZW is lossless)."""
        import numpy as np
        from shifu_spark.operators.multimodal import decode_gif, encode_gif

        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, (64, 3)).astype(np.uint8)
        frames = rng.integers(0, 64, (nf, h, w)).astype(np.uint8)
        dec, dpal = decode_gif(encode_gif(frames, pal))
        assert (dec == frames).all() and (dpal == pal).all()

    @given(st.binary(min_size=1, max_size=2000))
    @settings(max_examples=100, deadline=None)
    def test_lzw_stream_roundtrip_any_bytes(self, raw):
        """The LZW kernel itself round-trips arbitrary 8-bit data
        (min_code_size=8, the GIF maximum)."""
        from shifu_spark.operators.multimodal import _gif_lzw_decode, _gif_lzw_encode

        enc = _gif_lzw_encode(raw, 8)
        assert _gif_lzw_decode(enc, 8, len(raw)) == raw


class TestFlacProperties:
    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
        st.sampled_from([8000, 16000, 44100]),
    )
    @settings(max_examples=100, deadline=None)
    def test_lossless_roundtrip_mono(self, xs, rate):
        """∀ sample contents: FLAC encode/decode is the identity
        (fixed-predictor + Rice coding is lossless; verbatim fallback
        covers incompressible noise)."""
        import numpy as np
        from shifu_spark.operators.multimodal import decode_flac, encode_flac

        x = np.asarray(xs, dtype=np.int64)
        dec, drate, nch = decode_flac(encode_flac(x, rate))
        assert drate == rate and nch == 1
        assert (dec[:, 0] == x).all()

    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
        st.integers(0, 2**32 - 1),
    )
    @settings(max_examples=50, deadline=None)
    def test_lossless_roundtrip_stereo_and_multiframe(self, xs, seed):
        """Stereo independent channels and multi-frame streams (length
        crossing the 4096-sample block boundary) round-trip exactly."""
        import numpy as np
        from shifu_spark.operators.multimodal import FLAC_BLOCK, decode_flac, encode_flac

        rng = np.random.default_rng(seed)
        base = np.asarray(xs, dtype=np.int64)
        # tile past one block boundary so at least two frames are cut
        reps = FLAC_BLOCK // len(base) + 2
        left = np.tile(base, reps)
        right = rng.integers(-32768, 32768, len(left))
        x = np.stack([left, right], axis=1)
        dec, _rate, nch = decode_flac(encode_flac(x))
        assert nch == 2 and (dec == x).all()

    @given(st.lists(st.integers(-32768, 32767), min_size=4, max_size=200),
           st.integers(0, 10_000))
    @settings(max_examples=60, deadline=None)
    def test_any_single_byte_corruption_detected(self, xs, pos_seed):
        """Flipping any payload byte is caught by one of the integrity
        layers (sync / CRC-8 / CRC-16 / MD5 / structural checks) — never
        a silent wrong decode."""
        import numpy as np
        from shifu_spark.operators.multimodal import decode_flac, encode_flac

        x = np.asarray(xs, dtype=np.int64)
        blob = bytearray(encode_flac(x))
        pos = pos_seed % len(blob)
        blob[pos] ^= 0x55
        try:
            dec, _r, _n = decode_flac(bytes(blob))
        except (ValueError, NotImplementedError):
            return  # loud rejection is the contract
        # the only acceptable silent outcome is a decode identical to
        # the original (the flipped byte was outside any checked field —
        # cannot happen in this layout, so assert equality to fail loudly)
        assert (dec[:, 0] == x).all()


class TestZorderProperties:
    @given(st.integers(2, 3), st.integers(2, 6), st.integers(0, 2**32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_interleave_bijective_and_bounded(self, ndims, bits, seed):
        """The Morton interleave is a bijection [0,2^bits)^d -> [0,2^(d*bits))
        — evaluated here through the same python semantics the SQL terms
        encode (shift/mask/or), over random rank tuples."""
        import numpy as np

        rng = np.random.default_rng(seed)

        def interleave(ranks):
            out = 0
            for b in range(bits):
                for d, r in enumerate(ranks):
                    out |= ((r >> b) & 1) << (b * ndims + d)
            return out

        tuples = {tuple(rng.integers(0, 1 << bits, ndims)) for _ in range(100)}
        keys = {interleave(t) for t in tuples}
        assert len(keys) == len(tuples)  # injective on the sample
        assert all(0 <= k < (1 << (ndims * bits)) for k in keys)

    @given(
        st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=2, max_size=50),
        st.integers(2, 10),
    )
    @settings(max_examples=40, deadline=None)
    def test_quantize_rank_properties(self, xs, bits):
        """Quantized ranks stay in [0, 2^bits); the min maps to 0 and the
        max to 2^bits - 1 (degenerate constant columns map to 0) —
        python mirror of layout.quantize_expr's formula."""
        import math

        lo, hi = min(xs), max(xs)
        levels = (1 << bits) - 1

        def rank(c):
            if hi == lo:
                return 0
            return min(max(math.floor((c - lo) / (hi - lo) * levels + 0.5), 0), levels)

        rs = [rank(c) for c in xs]
        assert all(0 <= r <= levels for r in rs)
        assert rank(lo) == 0
        assert rank(hi) == (0 if hi == lo else levels)

    def test_product_exprs_match_python_mirror(self, spark):
        """The two hypothesis properties above exercise PYTHON MIRRORS of
        the rank/interleave formulas — this differential drives the
        PRODUCT expressions (layout.quantize_expr +
        morton_interleave_sql) against those mirrors, so a corrupted
        product formula (dropped +0.5 rounding, missing clamp, shifted
        bit position) fails HERE instead of being self-consistently
        wrong."""
        import math

        from pyspark.sql import functions as F

        from shifu_spark.operators.layout import (
            morton_interleave_sql,
            quantize_expr,
        )

        bits = 6
        vals = [(i, float((i * 37) % 101) - 50.0, float((i * 53) % 97)) for i in range(200)]
        df = spark.createDataFrame(vals, "id long, a double, b double")
        mm = df.agg(
            F.min("a").alias("amn"), F.max("a").alias("amx"),
            F.min("b").alias("bmn"), F.max("b").alias("bmx"),
        )
        got = (
            df.crossJoin(F.broadcast(mm))
            .select(
                "id",
                quantize_expr("a", "amn", "amx", bits).alias("ra"),
                quantize_expr("b", "bmn", "bmx", bits).alias("rb"),
            )
            .withColumn("zkey", F.expr(morton_interleave_sql(["ra", "rb"], bits)))
            .collect()
        )
        levels = (1 << bits) - 1
        amn, amx = min(v[1] for v in vals), max(v[1] for v in vals)
        bmn, bmx = min(v[2] for v in vals), max(v[2] for v in vals)

        def rank(c, lo, hi):
            if hi == lo:
                return 0
            return min(max(math.floor((c - lo) / (hi - lo) * levels + 0.5), 0), levels)

        def interleave(ranks):
            out = 0
            for b in range(bits):
                for d, r in enumerate(ranks):
                    out |= ((r >> b) & 1) << (b * 2 + d)
            return out

        by_id = {v[0]: v for v in vals}
        for r in got:
            _, a, b = by_id[r["id"]]
            ra, rb = rank(a, amn, amx), rank(b, bmn, bmx)
            assert (r["ra"], r["rb"]) == (ra, rb), (r["id"], a, b)
            assert r["zkey"] == interleave((ra, rb)), r["id"]


class TestFlacStereoModes:
    @given(
        st.lists(st.integers(-16000, 16000), min_size=2, max_size=300),
        st.integers(0, 2**32 - 1),
    )
    @settings(max_examples=60, deadline=None)
    def test_mid_side_roundtrip_exact(self, xs, seed):
        """Mid/side decorrelation is exactly invertible for ANY stereo
        content (odd sums included — the side parity bit restores them)."""
        import numpy as np
        from shifu_spark.operators.multimodal import decode_flac, encode_flac

        rng = np.random.default_rng(seed)
        left = np.asarray(xs, dtype=np.int64)
        right = (left + rng.integers(-7, 8, len(left))).clip(-32768, 32767)
        x = np.stack([left, right], axis=1)
        dec, _r, nch = decode_flac(encode_flac(x, stereo_mode="ms"))
        assert nch == 2 and (dec == x).all()


class TestJexlBindingDifferential:
    """Differential fuzz of the NSColumn expression binding: a python
    reference evaluator (dict lookup with DataPurifier's last-wins
    simple-name binding) vs the translated Spark filter, over random
    namespaced frames and a small comparison/boolean grammar."""

    @given(
        st.lists(st.integers(-5, 5), min_size=1, max_size=8),
        st.lists(st.integers(-5, 5), min_size=1, max_size=8),
        st.sampled_from(["a", "ns::a"]),
        st.sampled_from(["b", "m::b"]),
        st.sampled_from(["<", ">", "<=", ">=", "==", "!="]),
        st.sampled_from(["&&", "||"]),
        st.integers(-4, 4),
        st.integers(-4, 4),
    )
    @settings(max_examples=30, deadline=None)
    def test_filter_matches_python_reference(
        self, spark, avals, bvals, aref, bref, op, conj, lit_a, lit_b
    ):
        import operator as pyop

        from shifu_spark.functions.jexl import jexl_filter

        n = min(len(avals), len(bvals))
        rows = [(avals[i], bvals[i]) for i in range(n)]
        headers = ["ns::a", "m::b"]
        df = spark.createDataFrame(rows, "`ns::a` int, `m::b` int")
        expr = f"{aref} {op} {lit_a} {conj} {bref} > {lit_b}"
        got = sorted(
            (r["ns::a"], r["m::b"])
            for r in df.filter(jexl_filter(expr, headers)).collect()
        )
        ops = {"<": pyop.lt, ">": pyop.gt, "<=": pyop.le,
               ">=": pyop.ge, "==": pyop.eq, "!=": pyop.ne}
        if conj == "&&":
            want = [(a, b) for a, b in rows if ops[op](a, lit_a) and b > lit_b]
        else:
            want = [(a, b) for a, b in rows if ops[op](a, lit_a) or b > lit_b]
        assert got == sorted(want)


class TestJexlTernaryQuoteFuzz:
    """Differential fuzz of the quote-aware / ternary-depth JEXL paths
    (the round-7 hardening): a python reference evaluator vs the
    translated Spark expression over random string frames whose VALUES
    collide with JEXL keywords and operators ('true', 'null', 'a&&b',
    'who?', 'x:y', 'ns::v') — exactly the literals the old quote-blind
    rewrites corrupted."""

    _LITS = ["true", "null", "false", "a&&b", "who?", "x:y", "ns::v", "plain"]

    @given(
        st.lists(st.sampled_from(_LITS), min_size=1, max_size=8),
        st.sampled_from(_LITS),
        st.integers(-3, 3),
        st.integers(-3, 3),
        st.integers(-3, 3),
    )
    @settings(max_examples=40, deadline=None)
    def test_quoted_literal_compare_matches_python(self, tags, lit, x0, t1, t2):
        from shifu_spark.functions.jexl import jexl_filter
        from shifu_spark.session import get_spark

        spark = get_spark("shifu_spark_tests", shuffle_partitions="8")
        rows = [(t, x0 + i) for i, t in enumerate(tags)]
        df = spark.createDataFrame(rows, "tag string, v int")
        expr = f"tag == '{lit}' ? v > {t1} : v <= {t2}"
        got = sorted(
            (r["tag"], r["v"]) for r in df.filter(jexl_filter(expr)).collect()
        )
        want = sorted(
            (t, v)
            for t, v in rows
            if ((v > t1) if t == lit else (v <= t2))
        )
        assert got == want, (expr, rows)

    @given(
        st.lists(st.integers(-4, 4), min_size=1, max_size=10),
        st.integers(-3, 3),
        st.integers(-3, 3),
        st.integers(-9, 9),
        st.integers(-9, 9),
        st.integers(-9, 9),
    )
    @settings(max_examples=40, deadline=None)
    def test_chained_ternary_matches_python(self, vs, c1, c2, r1, r2, r3):
        """Right-nested chains `v > c1 ? r1 : v > c2 ? r2 : r3` must
        translate to nested CASE with JEXL's right associativity."""
        from shifu_spark.functions.jexl import jexl_to_sql
        from shifu_spark.session import get_spark

        spark = get_spark("shifu_spark_tests", shuffle_partitions="8")
        df = spark.createDataFrame([(v,) for v in vs], "v int")
        sql = jexl_to_sql(f"v > {c1} ? {r1} : v > {c2} ? {r2} : {r3}")
        got = [r[0] for r in df.selectExpr(f"{sql} AS o").collect()]
        want = [r1 if v > c1 else (r2 if v > c2 else r3) for v in vs]
        assert got == want, sql


class TestSeedStreamIndependence:
    def test_bag_and_epoch_sample_streams_are_pairwise_independent(self, spark):
        """GENERIC guard for the seed-aliasing bug class (two instances
        found in two rounds — VERDICT r8 #4): every Bernoulli sample
        stream the bagged trainers draw — the bag sampler's ``seed+bag``
        streams AND each bag's per-epoch ``mixed_sample_seed(seed+bag,
        epoch)`` streams — must be pairwise statistically independent,
        asserted via sample-overlap against binomial bounds rather than
        per-discovered-collision.

        With fraction p, two INDEPENDENT samples of N rows overlap
        Binomial(N, p²); a shared seed makes the streams identical
        (overlap ≈ N·p — the old ``seed+epoch`` derivation collided
        with the bag sampler at epoch 0 and across bags wherever
        bag+epoch sums coincide, e.g. (b=0,e=1) vs (b=1,e=0)). The 6σ
        band makes a false failure ~1e-9 per pair while a collision
        overshoots by ~25σ. Reverting mixed_sample_seed to seed+epoch
        fails BOTH the distinctness and the overlap assertions."""
        import itertools
        import math

        from shifu_spark.ml.sgd import mixed_sample_seed

        N, p, base = 4000, 0.5, 42
        df = spark.range(N).persist()
        try:
            streams = {}
            for b in range(3):
                streams[("bag", b)] = base + b  # the bag sampler's stream
                for e in range(3):
                    streams[("epoch", b, e)] = mixed_sample_seed(base + b, e)
            # any two streams sharing a seed are IDENTICAL, not merely
            # correlated — distinctness is the cheap first line
            assert len(set(streams.values())) == len(streams), streams

            sets = {
                k: frozenset(
                    r["id"] for r in df.sample(False, p, seed=s).collect()
                )
                for k, s in streams.items()
            }
            mu = N * p * p
            sigma = math.sqrt(N * p * p * (1 - p * p))
            for (ka, sa), (kb, sb) in itertools.combinations(sets.items(), 2):
                ov = len(sa & sb)
                assert abs(ov - mu) < 6 * sigma, (ka, kb, ov, mu)
        finally:
            df.unpersist()


class TestJexlNullGuardFuzz:
    """Differential fuzz of the null-EQUALITY rewrite (round-9 find:
    `tag != null && ...` translated to SQL three-valued `<> NULL` and
    dropped every row). Expression forms are restricted to the ones
    whose JEXL semantics are unambiguous offline: equality guards
    (JexlArithmetic.equals is two-valued) and comparisons the guard
    short-circuits away from null operands — null ORDERING comparisons
    are deliberately not generated (JEXL2's compare() null/NaN coercion
    can't be verified offline; see the jexl module header)."""

    @given(
        st.lists(st.one_of(st.none(), st.integers(-5, 5)), min_size=1, max_size=10),
        st.sampled_from(["<", ">", "<=", ">=", "==", "!="]),
        st.integers(-4, 4),
        st.sampled_from(["!= null &&", "== null ||"]),
    )
    @settings(max_examples=60, deadline=None)
    def test_guarded_filters_match_jexl_semantics(self, spark, vals, op, lit, guard):
        import operator as pyop
        from collections import Counter

        from shifu_spark.functions.jexl import jexl_filter

        df = spark.createDataFrame([(v,) for v in vals], "a int")
        expr = f"a {guard} a {op} {lit}"
        got = Counter(r["a"] for r in df.filter(jexl_filter(expr)).collect())
        ops = {"<": pyop.lt, ">": pyop.gt, "<=": pyop.le,
               ">=": pyop.ge, "==": pyop.eq, "!=": pyop.ne}
        if guard == "!= null &&":
            want = Counter(v for v in vals if v is not None and ops[op](v, lit))
        else:  # == null || — null rows kept by the guard, others compared
            want = Counter(v for v in vals if v is None or ops[op](v, lit))
        assert got == want, (expr, got, want)

    @given(
        st.sampled_from(["+", "-", "*", "/", "%"]),
        st.integers(-4, 4),
        st.sampled_from(["==", "!="]),
        st.booleans(),  # null on the left vs right of the equality
        st.booleans(),  # arithmetic on the left vs right of the operand
    )
    @settings(max_examples=40, deadline=None)
    def test_arithmetic_next_to_null_equality_raises(
        self, arith, k, eq, null_left, arith_left
    ):
        """JEXL null-coercing arithmetic (`x + 1` is never null) has no
        SQL equivalent, and the old suffix rewrite turned
        `x + 1 == null` into `x + 1 IS NULL` (true when x IS NULL —
        wrong-valued) while `null == x + 1` emitted malformed SQL.
        Compound operands adjacent to null equality must raise
        (ADVICE r9: restrict the rewrite to simple operands)."""
        import pytest as _pytest

        from shifu_spark.functions.jexl import jexl_to_sql

        operand = f"a {arith} {k}" if arith_left else f"{k} {arith} a"
        expr = f"{operand} {eq} null" if not null_left else f"null {eq} {operand}"
        with _pytest.raises(ValueError, match="null equality"):
            jexl_to_sql(expr)

    def test_simple_null_equality_still_rewrites_in_every_context(self):
        """The compound-operand guard must not regress the simple
        forms: segment edge, parentheses, and AND/OR/NOT contexts all
        still rewrite, and ordering-against-null keeps SQL semantics."""
        from shifu_spark.functions.jexl import jexl_to_sql

        assert jexl_to_sql("tag == null") == "tag IS NULL"
        assert jexl_to_sql("(tag != null)") == "(tag IS NOT NULL)"
        assert "b IS NULL" in jexl_to_sql("a > 1 && (b == null || c != null)")
        assert jexl_to_sql("null == null") == "NULL IS NULL"
        assert jexl_to_sql("x >= null") == "x >= NULL"  # ordering untouched

    def test_word_operators_and_wrapped_operands(self, spark):
        """JEXL 2 word-operator synonyms (and/or/not) and a
        paren-wrapped simple operand are boolean contexts the guard
        must accept (r10 review: `tag != null and q > 5` raised while
        the &&-spelling rewrote) — pinned end-to-end through purify."""
        from shifu_spark.functions.jexl import jexl_to_sql
        from shifu_spark.operators.purify import purify

        assert "IS NOT NULL" in jexl_to_sql("tag != null and q > 5")
        assert "IS NULL" in jexl_to_sql("a > 1 or b == null")
        assert jexl_to_sql("(a) == null") == "(a) IS NULL"
        # function-call adjacency still raises (not a boolean edge)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="null equality"):
            jexl_to_sql("f(a) == null")
        df = spark.createDataFrame(
            [(1, "a", 7.0), (2, None, 9.0), (3, "b", 3.0)],
            "i long, tag string, q double",
        )
        kept = sorted(r["i"] for r in purify(df, "tag != null and q > 5").collect())
        assert kept == [1]


class TestNonFiniteDirtyFrame:
    """r10 structural closure of the r9 'non-finite double splits the
    population' bug class, extended past stats/correlation/binning to
    the remaining aggregate families VERDICT r9 named: PSI, eval-metric
    weighted sums, PCA, and sketch inputs. ONE dirty fixture
    ({v, NaN, +Inf, -Inf, NULL} in both the value and the weight
    column) runs through each family with Spark<->DuckDB value parity
    asserted via the driver-hash replica (tests.oracle.compare) — any
    future one-sided guard change fails here instead of in a driver
    round."""

    import pytest as _pt

    NAN, INF = float("nan"), float("inf")
    ROWS = [
        (1, "d1", "P", 1.0, 2.0),
        (2, "d1", "N", 2.0, 1.0),
        (3, "d1", "P", 3.0, NAN),     # dirty weight: clamp -> 1.0
        (4, "d1", "N", 4.0, INF),     # dirty weight: clamp -> 1.0
        (5, "d2", "P", NAN, 3.0),     # dirty score: excluded / missing slot
        (6, "d2", "N", INF, -1.0),    # dirty score + negative weight
        (7, "d2", "P", -INF, None),   # dirty score + NULL weight
        (8, "d2", "N", None, 0.5),    # NULL score
        (9, "d2", "P", 2.5, -INF),    # -Inf weight: clamp -> 1.0
        (10, "d1", "N", 0.5, 1.5),
        (11, "d2", "N", 3.5, 2.5),
    ]
    BINS = [0.0, 2.5, 10.0]
    # reference weight clamp + r10 non-finite extension, SQL side
    WCLAMP = "(CASE WHEN w IS NULL OR NOT isfinite(w) OR w < 0 THEN 1.0 ELSE w END)"

    @_pt.fixture(scope="class")
    def dirty(self, spark, tmp_path_factory):
        import duckdb

        df = spark.createDataFrame(
            self.ROWS, "id long, unit string, tag string, x double, w double"
        )
        path = str(tmp_path_factory.mktemp("dirty") / "t.parquet")
        df.coalesce(1).write.parquet(path)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{path}/*.parquet')")
        return df, con

    def _check(self, spark_df, con, sql, name):
        from tests.oracle import compare

        problems = compare(spark_df, con, sql, name)
        assert problems == [], problems

    def test_bin_index_expr_matches_bin_index_sql(self, spark, dirty):
        """The lookup pair itself: NaN/±Inf route to the missing slot on
        BOTH engines (ADVICE r9: bin_index_sql only handled NULL —
        DuckDB's NaN-is-greatest would land NaN in the last real bin)."""
        from shifu_spark.operators.binning import bin_index_expr, bin_index_sql

        df, con = dirty
        got = df.select("id", bin_index_expr("x", self.BINS).alias("bin"))
        self._check(
            got, con,
            f"SELECT id, {bin_index_sql('x', self.BINS)} AS bin FROM t ORDER BY id",
            "bin_index_dirty",
        )

    def test_psi_population_parity(self, spark, dirty):
        """PSI end-to-end from the dirty raw frame: bin assignment
        (missing slot for non-values) -> per-unit counts -> psi_df; the
        oracle replays the same pipeline on bin_index_sql. One
        population on both engines — no count-vs-sum split."""
        from pyspark.sql import functions as F

        from shifu_spark.operators.binning import bin_index_expr, bin_index_sql
        from shifu_spark.operators.psi import psi_df

        df, con = dirty
        binned = df.select("unit", bin_index_expr("x", self.BINS).alias("bin"))
        actual = (
            binned.groupBy("unit", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("column_name", F.lit("x"))
        )
        total = float(df.count())
        expected = (
            binned.groupBy("bin")
            .agg((F.count(F.lit(1)) / F.lit(total)).alias("expected_frac"))
            .withColumn("column_name", F.lit("x"))
        )
        bsql = bin_index_sql("x", self.BINS)
        self._check(
            psi_df(actual, expected), con,
            f"""
WITH binned AS (SELECT unit, {bsql} AS bin FROM t),
actual AS (SELECT 'x' AS column_name, unit, bin, count(*) AS cnt FROM binned GROUP BY unit, bin),
expected AS (SELECT bin, count(*) * 1.0 / (SELECT count(*) FROM t) AS expected_frac FROM binned GROUP BY bin),
a AS (SELECT column_name, unit, bin,
             cnt * 1.0 / sum(cnt) OVER (PARTITION BY column_name, unit) AS actual_frac
      FROM actual),
j AS (SELECT a.column_name, a.unit,
             CASE WHEN e.expected_frac > 0 AND a.actual_frac > 0
                  THEN (a.actual_frac - e.expected_frac) * ln(a.actual_frac / e.expected_frac)
                  ELSE 0.0 END AS term
      FROM a JOIN expected e ON a.bin = e.bin)
SELECT column_name, unit, round(sum(term), 6) AS psi
FROM j GROUP BY column_name, unit ORDER BY column_name, unit
""",
            "psi_dirty",
        )

    def test_weighted_roc_auc_parity(self, spark, dirty):
        """Dirty scores AND dirty weights, no caller-side pre-filter:
        non-finite scores are excluded by _score_points, non-finite
        weights clamp to 1.0 — the oracle states both rules explicitly.
        Before the r10 fix a NaN weight NULLed out of the DECIMAL
        trapezoid sum while its row stayed in the tallies (the exact
        population-split signature)."""
        from pyspark.sql import functions as F

        from shifu_spark.operators.eval_metrics import curve_metrics_df

        df, con = dirty
        got = curve_metrics_df(df, "x", F.col("tag") == "P", weight_col="w").select(
            F.col("auc").alias("weighted_auc")
        )
        self._check(
            got, con,
            f"""
WITH pts AS (
  SELECT x AS score,
         sum(CASE WHEN tag = 'P' THEN {self.WCLAMP} ELSE 0 END) AS wpos,
         sum(CASE WHEN tag = 'P' THEN 0 ELSE {self.WCLAMP} END) AS wneg
  FROM t WHERE x IS NOT NULL AND isfinite(x) GROUP BY 1
),
cum AS (SELECT wpos, wneg, sum(wpos) OVER (ORDER BY score DESC) AS cwp FROM pts)
SELECT round(sum(wneg * ((cwp - wpos) + cwp) / 2.0)
             / ((SELECT sum(wpos) FROM pts) * (SELECT sum(wneg) FROM pts)), 6)
       AS weighted_auc
FROM cum
""",
            "wauc_dirty",
        )

    def test_weighted_curve_metrics_parity(self, spark, dirty):
        """The DECIMAL(38,10) trapezoid path (curve_metrics_df with
        weight_col) on dirty scores + dirty weights: weighted AUC / PR AUC
        / KS all agree with the DuckDB replay of the same clamp +
        exclusion."""
        from pyspark.sql import functions as F

        from shifu_spark.operators.eval_metrics import curve_metrics_df

        df, con = dirty
        got = curve_metrics_df(df, "x", F.col("tag") == "P", weight_col="w").select(
            F.col("auc").alias("weighted_auc"),
            F.col("pr_auc").alias("weighted_pr_auc"),
            F.col("ks").alias("weighted_ks"),
        )
        self._check(
            got, con,
            f"""
WITH pts AS (
  SELECT x AS score,
         sum(CASE WHEN tag = 'P' THEN {self.WCLAMP} ELSE 0 END) AS wpos,
         sum(CASE WHEN tag = 'P' THEN 0 ELSE {self.WCLAMP} END) AS wneg
  FROM t WHERE x IS NOT NULL AND isfinite(x) GROUP BY 1
),
cum AS (SELECT wpos, wneg,
               sum(wpos) OVER (ORDER BY score DESC) AS wtp,
               sum(wneg) OVER (ORDER BY score DESC) AS wfp,
               sum(wpos) OVER () AS tot_p, sum(wneg) OVER () AS tot_n
        FROM pts),
pr AS (SELECT wtp / (wtp + wfp) AS precision, wtp / tot_p AS recall FROM cum),
lagged AS (SELECT recall, precision,
                  lag(recall) OVER (ORDER BY recall, precision DESC) AS prev_r,
                  lag(precision) OVER (ORDER BY recall, precision DESC) AS prev_p
           FROM pr)
SELECT round((SELECT sum(wneg * ((wtp - wpos) + wtp) / 2.0) FROM cum)
             / ((SELECT max(tot_p) FROM cum) * (SELECT max(tot_n) FROM cum)), 6) AS weighted_auc,
       (SELECT round(sum((recall - prev_r) * (precision + prev_p) / 2.0), 6)
        FROM lagged WHERE prev_r IS NOT NULL) AS weighted_pr_auc,
       (SELECT round(max(wtp / tot_p - wfp / tot_n), 6) FROM cum) AS weighted_ks
""",
            "wcurve_dirty",
        )

    def test_unweighted_curve_metrics_parity(self, spark, dirty):
        """curve_metrics_df (integer DECIMAL(38,0) path) on dirty scores:
        same exclusion rule, exact-count arithmetic on both engines."""
        from pyspark.sql import functions as F

        from shifu_spark.operators.eval_metrics import curve_metrics_df

        df, con = dirty
        got = curve_metrics_df(df, "x", F.col("tag") == "P")
        self._check(
            got, con,
            """
WITH pts AS (
  SELECT x AS score,
         sum(CASE WHEN tag = 'P' THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN tag = 'P' THEN 0 ELSE 1 END) AS neg
  FROM t WHERE x IS NOT NULL AND isfinite(x) GROUP BY 1
),
cum AS (SELECT pos, neg,
               sum(pos) OVER (ORDER BY score DESC) AS tp,
               sum(neg) OVER (ORDER BY score DESC) AS fp,
               sum(pos) OVER () AS tot_p, sum(neg) OVER () AS tot_n
        FROM pts),
pr AS (SELECT tp * 1.0 / (tp + fp) AS precision, tp * 1.0 / tot_p AS recall FROM cum),
lagged AS (SELECT recall, precision,
                  lag(recall) OVER (ORDER BY recall, precision DESC) AS prev_r,
                  lag(precision) OVER (ORDER BY recall, precision DESC) AS prev_p
           FROM pr)
SELECT round((SELECT sum(neg * ((tp - pos) + tp) * 0.5) FROM cum)
             / ((SELECT max(tot_p) FROM cum) * (SELECT max(tot_n) FROM cum)), 6) AS auc,
       (SELECT round(sum((recall - prev_r) * (precision + prev_p) / 2.0), 6)
        FROM lagged WHERE prev_r IS NOT NULL) AS pr_auc,
       (SELECT round(max(tp * 1.0 / tot_p - fp * 1.0 / tot_n), 6) FROM cum) AS ks
""",
            "curve_dirty",
        )

    def test_pca_excludes_dirty_vectors_on_both_engines(self, spark, tmp_path):
        """A NULL vector or any NULL/NaN/±Inf component excludes the
        whole row from the Gram (the quantizing CAST would raise
        CAST_OVERFLOW under ANSI otherwise); the oracle replays the
        filter. Clean rows alone determine the dominant direction."""
        import duckdb

        from shifu_spark.operators.pca import pca_top_component_df

        nan, inf = float("nan"), float("inf")
        vecs = spark.createDataFrame(
            [
                ([1.0, 2.0],), ([2.0, 1.0],), ([3.0, 3.0],), ([0.5, 4.0],),
                ([nan, 1.0],), ([1.0, inf],), ([None, 2.0],), (None,),
                ([-inf, -1.0],),
            ],
            "embedding array<double>",
        )
        path = str(tmp_path / "emb.parquet")
        vecs.coalesce(1).write.parquet(path)
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW q0 AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        oracle = """
WITH q AS (
  SELECT list_transform(embedding::DOUBLE[],
                        e -> CAST(round(e * 1000000.0) AS BIGINT)) AS qv
  FROM q0
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding::DOUBLE[], e -> e IS NULL OR NOT isfinite(e))) = 0
),
cells AS MATERIALIZED (
  SELECT ti.i AS i, tj.j AS j, sum(qv[ti.i] * qv[tj.j]) AS g
  FROM q, range(1, 3) AS ti(i), range(1, 3) AS tj(j) GROUP BY 1, 2
),
gmat AS MATERIALIZED (SELECT i, list(g::DOUBLE ORDER BY j) AS gl FROM cells GROUP BY i),
v0 AS (SELECT [1.0, 1.0] AS vl),
it1 AS MATERIALIZED (SELECT i, list_dot_product(gl, (SELECT vl FROM v0)) AS gv FROM gmat),
n1 AS MATERIALIZED (SELECT max(abs(gv)) AS mx FROM it1),
v1 AS MATERIALIZED (SELECT list(gv / (SELECT mx FROM n1) ORDER BY i) AS vl FROM it1),
it2 AS MATERIALIZED (SELECT i, list_dot_product(gl, (SELECT vl FROM v1)) AS gv FROM gmat),
n2 AS MATERIALIZED (SELECT max(abs(gv)) AS mx FROM it2),
it3 AS MATERIALIZED (
  SELECT i, list_dot_product(gl, (SELECT list(gv / (SELECT mx FROM n2) ORDER BY i) FROM it2)) AS gv
  FROM gmat),
n3 AS MATERIALIZED (SELECT max(abs(gv)) AS mx FROM it3)
SELECT i::INT AS dim, round(gv / (SELECT mx FROM n3), 6) AS loading
FROM it3 ORDER BY dim
"""
        got = pca_top_component_df(vecs, "embedding", 2, iters=3)
        self._check(got, con, oracle, "pca_dirty")

    def test_sketch_rejects_float_keys_loudly(self, spark):
        """cast(double AS string) is NOT cross-engine canonical (Spark
        '1.50000005E7'/'NaN'/'Infinity' vs DuckDB '15000000.5'/'nan'/
        'inf') — every sketch builder must refuse a float/double key
        instead of silently hashing into different buckets per engine."""
        import pytest as _pytest

        from shifu_spark.operators.sketch import (
            bloom_build_df,
            bloom_probe_df,
            cms_build_df,
            cms_estimate_df,
            hll_registers_df,
        )

        dbl = spark.createDataFrame([(1.5,), (2.5,)], "k double")
        ok = spark.createDataFrame([("a",), ("b",)], "k string")
        for fn in (cms_build_df, bloom_build_df, hll_registers_df):
            with _pytest.raises(ValueError, match="canonical"):
                fn(dbl, "k")
        with _pytest.raises(ValueError, match="canonical"):
            cms_estimate_df(cms_build_df(ok, "k"), dbl, "k")
        with _pytest.raises(ValueError, match="canonical"):
            bloom_probe_df(bloom_build_df(ok, "k"), dbl, "k")
        # string keys still build fine (the guard must not over-reject)
        assert cms_build_df(ok, "k").count() > 0

    def test_hash_sample_rejects_float_keys_loudly(self, spark):
        """Same canonicalization contract for the content-keyed sampler
        (functions/keys.py is the one shared guard): a double sample
        key would pick DIFFERENT rows per engine."""
        import pytest as _pytest

        from shifu_spark.operators.purify import hash_bernoulli_sample

        dbl = spark.createDataFrame([(1.5,), (2.5,)], "k double")
        with _pytest.raises(ValueError, match="canonical"):
            hash_bernoulli_sample(dbl, 0.5, key_cols=["k"])

    def test_jexl_weight_clamps_nonfinite_to_one(self, spark):
        """jexl_weight shares clamp_weight's rule: NULL/negative AND
        non-finite -> 1.0 (a NaN weight passes `< 0` under
        NaN-is-largest and would poison weighted sums)."""
        from pyspark.sql import functions as F

        from shifu_spark.functions.jexl import jexl_weight

        nan, inf = float("nan"), float("inf")
        df = spark.createDataFrame(
            [(2.0,), (nan,), (inf,), (-inf,), (None,), (-3.0,)], "w double"
        )
        got = [r["jw"] for r in df.select(jexl_weight("w").alias("jw")).collect()]
        assert got == [2.0, 1.0, 1.0, 1.0, 1.0, 1.0], got


class TestJexlNaNOrderingPin:
    """VERDICT r9 stretch: the jexl.py header DOCUMENTS the decision to
    keep Spark's NaN-is-largest total order for ordering comparisons
    against NaN values (JEXL2's JexlArithmetic.compare NaN branch is
    unverifiable offline; Java's Double.compare uses the same
    NaN-greatest total order). This pin makes the decision executable:
    a future 'fix' that flips NaN comparison semantics fails here
    instead of silently changing which rows a filter keeps. Cited from
    the jexl.py module header."""

    import pytest as _pt

    @_pt.mark.parametrize(
        ("op", "keep_nan"),
        [
            # NaN is LARGER than any finite value under the documented
            # total order: > and >= keep the NaN row, < and <= drop it
            (">", True),
            (">=", True),
            ("<", False),
            ("<=", False),
        ],
    )
    def test_nan_comparisons_follow_documented_total_order(self, spark, op, keep_nan):
        from shifu_spark.operators.purify import purify

        nan = float("nan")
        df = spark.createDataFrame(
            [(1, 5.0), (2, nan), (3, 99.0), (4, -99.0), (5, None)],
            "i long, v double",
        )
        kept = sorted(r["i"] for r in purify(df, f"v {op} 50").collect())
        finite = {">": [3], ">=": [3], "<": [1, 4], "<=": [1, 4]}[op]
        want = sorted(finite + ([2] if keep_nan else []))
        # NULL (row 5) never passes an ordering comparison (SQL-NULL
        # semantics, also documented in the header)
        assert kept == want, (op, kept, want)

    def test_nan_equality_is_reflexive_under_spark_total_order(self, spark):
        """NaN == NaN is TRUE under the same total order (Spark's
        equality on NaN matches Java Double.compare == 0) — pinned so
        the equality and ordering decisions can't drift apart."""
        from shifu_spark.operators.purify import purify

        nan = float("nan")
        df = spark.createDataFrame(
            [(1, nan, nan), (2, 1.0, nan), (3, 2.0, 2.0)],
            "i long, a double, b double",
        )
        kept = sorted(r["i"] for r in purify(df, "a == b").collect())
        assert kept == [1, 3]


class TestDegeneratePopulations:
    """DEGENERATE populations — empty frames, all-null columns, single
    rows, one-class labels. The class's signature is a division whose
    denominator only goes to zero on degenerate input: under ANSI mode a
    bare `/` crashes the job (numeric_stats_df's (valid-1) and ksiv_df's
    class totals are such divisions; one empty evaluation segment would
    kill the whole pipeline), and where Spark survives, the DuckDB
    oracle's /0->NULL must agree. Every family below runs all four
    degenerate frames with value parity asserted."""

    import pytest as _pt

    SCHEMA = "i long, tag string, x double, w double"
    FRAMES = {
        "empty": [],
        "allnull": [(1, "P", None, None), (2, "N", None, None)],
        "onerow": [(1, "P", 3.0, 1.0)],
        "oneclass": [(1, "P", 1.0, 1.0), (2, "P", 2.0, 1.0), (3, "P", 3.0, 2.0)],
    }

    @_pt.fixture(scope="class")
    def degen(self, spark, tmp_path_factory):
        import duckdb

        out = {}
        con = duckdb.connect()
        base = tmp_path_factory.mktemp("degen")
        for name, rows in self.FRAMES.items():
            df = spark.createDataFrame(rows, self.SCHEMA)
            path = str(base / f"{name}.parquet")
            df.coalesce(1).write.parquet(path)
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
            out[name] = df
        return out, con

    def _check(self, spark_df, con, sql, name):
        from tests.oracle import compare

        problems = compare(spark_df, con, sql, name)
        assert problems == [], problems

    @_pt.mark.parametrize("frame", ["empty", "allnull", "onerow", "oneclass"])
    def test_numeric_stats_parity(self, spark, degen, frame):
        from shifu_spark.operators.stats import (
            numeric_stats_df,
            numeric_stats_oracle_sql,
        )

        dfs, con = degen
        self._check(
            numeric_stats_df(dfs[frame], ["x"]), con,
            numeric_stats_oracle_sql(frame, ["x"]),
            f"stats_{frame}",
        )

    @_pt.mark.parametrize("frame", ["empty", "allnull", "onerow", "oneclass"])
    def test_correlation_parity(self, spark, degen, frame):
        from pyspark.sql import functions as F

        from shifu_spark.operators.correlation import (
            correlation_df,
            correlation_oracle_sql,
        )

        dfs, con = degen
        got = correlation_df(dfs[frame].withColumn("y", F.col("x") * 2), ["x", "y"])
        con.sql(f"CREATE OR REPLACE VIEW c_{frame} AS SELECT *, x * 2 AS y FROM {frame}")
        self._check(got, con, correlation_oracle_sql(f"c_{frame}", ["x", "y"]), f"corr_{frame}")

    @_pt.mark.parametrize("frame", ["empty", "allnull", "onerow", "oneclass"])
    def test_ksiv_parity(self, spark, degen, frame):
        """One-class totals (sum_n == 0) give NULL ratios on both
        engines (try_divide), not a DIVIDE_BY_ZERO crash."""
        from shifu_spark.operators.binning import bin_index_sql
        from shifu_spark.operators.ksiv import bin_counts_df, ksiv_df, ksiv_oracle_sql

        dfs, con = degen
        bins = {"x": [0.0, 2.0]}
        got = ksiv_df(bin_counts_df(dfs[frame], ["x"], bins, "tag", ["P"]))
        bsql = bin_index_sql("x", bins["x"])
        counts_sql = f"""
SELECT 'x' AS column_name, {bsql} AS bin,
       sum(CASE WHEN tag = 'P' THEN 1 ELSE 0 END) AS bin_count_pos,
       sum(CASE WHEN tag = 'P' THEN 0 ELSE 1 END) AS bin_count_neg
FROM {frame} GROUP BY 2
"""
        self._check(got, con, ksiv_oracle_sql(counts_sql), f"ksiv_{frame}")

    @_pt.mark.parametrize("frame", ["empty", "allnull", "onerow", "oneclass"])
    def test_curve_metrics_survive(self, spark, degen, frame):
        """AUC/KS on a population missing one class is UNDEFINED -> NULL
        (try_divide), never a crash; PR AUC of nothing is 0.0. Pinned
        values, both weighted and unweighted paths."""
        from pyspark.sql import functions as F

        from shifu_spark.operators.eval_metrics import curve_metrics_df

        dfs, con = degen
        row = curve_metrics_df(dfs[frame], "x", F.col("tag") == "P").collect()[0]
        assert row["auc"] is None and row["ks"] is None, row
        assert row["pr_auc"] is not None
        wrow = curve_metrics_df(
            dfs[frame], "x", F.col("tag") == "P", weight_col="w"
        ).collect()[0]
        assert wrow["auc"] is None and wrow["ks"] is None, wrow

    def test_psi_empty_unit_and_boundary_builders(self, spark, degen):
        """Boundary builders return [] on empty/all-null input (never a
        crash), and psi_df over an empty counts frame yields no rows on
        both engines."""
        from pyspark.sql import functions as F

        from shifu_spark.operators.binning import ntile_boundaries
        from shifu_spark.operators.psi import psi_df
        from shifu_spark.operators.stats import moments_and_boundaries

        dfs, con = degen
        for frame in ("empty", "allnull"):
            assert moments_and_boundaries(dfs[frame], ["x"], F.lit(True), 4)[1] == {"x": []}
            assert ntile_boundaries(dfs[frame], "x", 4) == []
        actual = spark.createDataFrame([], "column_name string, unit string, bin int, cnt long")
        expected = spark.createDataFrame([], "column_name string, bin int, expected_frac double")
        assert psi_df(actual, expected).collect() == []

    def test_psi_zero_count_unit_is_null_not_crash(self, spark, degen):
        """A unit whose bins are ALL cnt=0 (zero-filled counts from an
        outer-join producer) must not DIVIDE_BY_ZERO the job; its terms
        contribute nothing and parity holds with the CASE-spelled
        oracle (r10 review pass 2)."""
        from shifu_spark.operators.psi import psi_df

        dfs, con = degen
        actual = spark.createDataFrame(
            [("x", "d1", 0, 4), ("x", "d1", 1, 6), ("x", "d2", 0, 0), ("x", "d2", 1, 0)],
            "column_name string, unit string, bin int, cnt long",
        )
        expected = spark.createDataFrame(
            [("x", 0, 0.4), ("x", 1, 0.6)],
            "column_name string, bin int, expected_frac double",
        )
        got = psi_df(actual, expected)
        con.sql("CREATE OR REPLACE VIEW psi_actual AS SELECT * FROM (VALUES "
                "('x','d1',0,4),('x','d1',1,6),('x','d2',0,0),('x','d2',1,0)"
                ") t(column_name, unit, bin, cnt)")
        self._check(
            got, con,
            """
WITH a AS (SELECT column_name, unit, bin, cnt,
                  CASE WHEN sum(cnt) OVER (PARTITION BY column_name, unit) = 0 THEN NULL
                       ELSE cnt * 1.0 / sum(cnt) OVER (PARTITION BY column_name, unit) END AS actual_frac
           FROM psi_actual),
e AS (SELECT * FROM (VALUES ('x', 0, 0.4), ('x', 1, 0.6)) t(column_name, bin, expected_frac)),
j AS (SELECT a.column_name, a.unit,
             CASE WHEN e.expected_frac > 0 AND a.actual_frac > 0
                  THEN (a.actual_frac - e.expected_frac) * ln(a.actual_frac / e.expected_frac)
                  ELSE 0.0 END AS term
      FROM a JOIN e ON a.column_name = e.column_name AND a.bin = e.bin)
SELECT column_name, unit, round(sum(term), 6) AS psi
FROM j GROUP BY column_name, unit ORDER BY column_name, unit
""",
            "psi_zero_unit",
        )

    def test_canonical_key_guard_resolves_nested_fields(self, spark):
        """A struct's DOUBLE field must not slip past the guard via the
        top-level dtypes lookup, and a misspelled key fails at the
        guard (analysis) instead of deep in the hash plan."""
        import pytest as _pytest
        from pyspark.sql import functions as F

        from shifu_spark.functions.keys import require_canonical_key

        df = spark.range(3).select(
            F.struct(F.col("id").cast("double").alias("d"),
                     F.col("id").cast("string").alias("s")).alias("st")
        )
        with _pytest.raises(ValueError, match="canonical"):
            require_canonical_key(df, "st.d", what="sample key")
        require_canonical_key(df, "st.s")  # nested string key is fine
        from pyspark.errors import AnalysisException

        with _pytest.raises(AnalysisException):
            require_canonical_key(df, "no_such_col")


class TestDirtyCorpus:
    """r10 bug-class audit #2: DIRTY TEXT — empty strings, whitespace-only,
    NULL text, NULL source, multi-byte/astral unicode, control chars,
    heavy repetition. One adversarial `documents` table driven through
    every documents-only registry query against its PRODUCTION oracle.

    The class's live finds (all fixed, each pinned by this suite):
      * quality_score_expr DIVIDE_BY_ZERO'd the whole corpus scan on one
        length-0 doc (ANSI 0/0 punct ratio);
      * fuzzy_vocab_pairs REMAINDER_BY_ZERO'd on an empty first token;
      * shingles_df aliased NULL text to the EMPTY doc ('' shingle via
        concat_ws-over-NULLs), pairing them at jaccard 1.0 across the
        whole dedup family (+streaming twins via with_minhash_signature);
      * bpe_encode_df literally tokenized str(None) == "None";
      * fingerprint_df handed NULL docs the empty doc's blocking key;
      * hll_by_source counted an md5(NULL) register;
      * five oracles (lang CASEs, list_distinct-drops-NULL grams, inner
        JOIN dec, byte-based levenshtein) diverged from Spark on NULLs.
    """

    import pytest as _pt

    ROWS = [
        (0, "the fast key order sort table scan merge part window small hash", "en", "src0"),
        (1, "the fast key order sort table scan merge part window small hash", "en", "src1"),
        (2, "value data row the a of and to in is that batch stream spark", "en", "src0"),
        (3, "", "en", "src0"),                      # empty text
        (4, "", "es", "src1"),                      # duplicate empty, other source
        (5, "   ", "en", "src0"),                   # whitespace-only
        (6, None, None, "src0"),                    # NULL text + NULL lang
        (7, "x", "en", None),                       # single token, NULL source
        (8, "!!! ??? ...", "en", "src0"),           # all-punct tokens
        (9, "café über straße 中文 \U0001f600", "de", "src1"),  # multibyte + astral
        (10, "a\x01b c\x01d", "en", "src0"),        # control char = shingle join sep
        (11, "tab\there\nnewline", "en", "src1"),   # non-space whitespace
        (12, ("dup " * 50).strip(), "en", "src0"),  # heavy repetition
        (None, "null id doc the a of", "en", "src0"),  # NULL PRIMARY KEY (excluded by _docs)
    ]

    # every documents-only registry query that actually reads the text
    # column (multimodal/warc/wds synthesize payloads from doc_id and are
    # exercised by their own suites)
    QUERY_NAMES = [
        "exact_dedup", "shingleset_dedup", "ngram_jaccard_pairs",
        "minhash_lsh_pairs", "simhash_neardup_pairs", "text_stats",
        "doc_fingerprint", "token_count_by_source", "chunk_dup_fraction",
        "unigram_logprob_quality", "dedup_groups", "bm25_topk",
        "decontamination_overlap", "corpus_report_by_source",
        "pii_redaction", "repetition_signals", "gopher_quality_flags",
        "quality_classifier_score", "sequence_packing",
        "source_mixture_sample", "dedup_rep_by_quality",
        "corpus_curation_funnel", "lang_mixture", "doc_length_histogram",
        "mixture_weights_by_source", "bpe_tokenize", "rag_chunk_spans",
        "dedup_groups_distributed", "hll_by_source",
        "bpe_fertility_by_source", "bigram_logprob_quality",
        "fuzzy_vocab_pairs", "compaction_bin_packing",
        # streaming twins over the same corpus (need the file-shaped
        # documents.parquet the stream readers glob for)
        "streaming_minhash_dedup", "streaming_source_mixture",
        "streaming_decontamination", "streaming_sequence_packing",
    ]

    @_pt.fixture(scope="class")
    def dirty_corpus(self, spark, tmp_path_factory):
        import glob
        import os
        import shutil

        import duckdb

        base = str(tmp_path_factory.mktemp("dirty_corpus"))
        docs = spark.createDataFrame(
            [
                (i, t, l, s, len(t) if t is not None else None)
                for (i, t, l, s) in self.ROWS
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        # single FILE named documents.parquet (the driver testdata shape:
        # the streaming twins glob for it at file level)
        tmp = f"{base}/_d"
        docs.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{base}/documents.parquet")
        shutil.rmtree(tmp)
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{base}/{t}.parquet")
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{base}/documents.parquet')"
        )
        return base, con

    @_pt.mark.parametrize("name", QUERY_NAMES)
    def test_query_oracle_parity_on_dirty_corpus(self, spark, dirty_corpus, name):
        from shifu_spark.queries import ORACLES, QUERIES
        from tests.oracle import compare

        base, con = dirty_corpus
        problems = compare(QUERIES[name](spark, base), con, ORACLES[name], name)
        assert problems == [], problems


class TestDirtyEvents:
    """r10 bug-class audit #3: DIRTY EVENTS — NULL ts / user / type /
    value, NaN and ±Inf values, empty types, malformed JSON props,
    duplicate (user, ts) pairs, epoch timestamps, an all-invalid-value
    user. One adversarial `events` table driven through every
    events-reading registry query (16 batch + 8 streaming twins)
    against its PRODUCTION oracle.

    The class's live finds (all fixed, each pinned by this suite):
      * fuzzy_vocab_pairs REMAINDER_BY_ZERO (batch, covered above);
      * streaming_running_stats: ±Inf passed the NaN-only kernel mask
        into astype(int64) (undefined, observed INT64_MIN), and a
        single-valued or all-invalid key DIVIDE_BY_ZERO'd the finalize;
      * streaming_asof_attribution: a NULL-user group crashed int(NaN)
        in the stateful kernel; a NULL-ts purchase would have taken the
        latest click instead of none;
      * streaming_eval_metrics: floor() silently scored NaN as 0 and
        +Inf as Long.MAX — unrankable scores now excluded (batch rule);
      * psi_events_by_day: a NaN max poisoned every bin edge;
      * countmin_heavy_hitters: a NULL key could consume an exact-top-10
        slot then vanish in the estimate join (9-row result);
      * sketch builders (cms/bloom/hll) counted md5(NULL) insertions;
      * oracle-side: NaN->DECIMAL/INT128 hard errors vs Spark's silent
        NULL casts, strict JSON parse vs get_json_object's NULL,
        NULLS-LAST window default vs Spark's NULLS FIRST, expected=0.25
        applied to the PSI missing bin, NULL-ts rows windowing to a
        phantom NULL day.
    """

    import pytest as _pt

    BATCH_NAMES = [
        "psi_events_by_day", "date_to_unix", "events_sessionize",
        "invalid_tag_filter", "events_props_json", "asof_attribution_join",
        "countmin_heavy_hitters", "bloom_membership_report",
        "streaming_countmin", "hll_union_report", "session_window_batch",
        "events_moving_avg", "cohort_retention", "event_funnel_analysis",
        "busy_window_range_join", "events_anomaly_zscore",
    ]
    STREAM_NAMES = [
        "streaming_drift_psi", "streaming_sessionize",
        "streaming_running_stats", "streaming_eval_metrics",
        "streaming_dim_enrichment", "streaming_attribution_join",
        "streaming_heavy_hitters", "streaming_asof_attribution",
    ]

    @_pt.fixture(scope="class")
    def dirty_events(self, spark, tmp_path_factory):
        import datetime as dtm
        import glob
        import os
        import shutil

        import duckdb

        D = dtm.datetime
        rows = [
            (0, D(2024, 1, 1, 0, 10), 13, "error", 185.22, '{"k": 87}'),
            (1, D(2024, 1, 1, 0, 16), 12, "signup", 106.03, '{"k": 0}'),
            (2, D(2024, 1, 1, 1, 0), 12, "click", 50.0, '{"k": 1}'),
            (3, D(2024, 1, 1, 1, 5), 12, "purchase", 20.0, '{"k": 2}'),
            (4, None, 12, "click", 10.0, '{"k": 3}'),              # NULL ts
            (5, D(2024, 1, 1, 2, 0), None, "click", 5.0, '{"k": 4}'),   # NULL user
            (6, D(2024, 1, 1, 2, 1), 14, None, 7.0, '{"k": 5}'),   # NULL type
            (7, D(2024, 1, 1, 2, 2), 14, "", 8.0, '{"k": 6}'),     # empty type
            (8, D(2024, 1, 1, 2, 3), 14, "click", None, '{"k": 7}'),    # NULL value
            (9, D(2024, 1, 1, 2, 4), 14, "purchase", float("nan"), '{"k": 8}'),
            (10, D(2024, 1, 1, 2, 5), 15, "click", float("inf"), '{"k": 9}'),
            (11, D(2024, 1, 1, 2, 5), 15, "click", -1.0, None),    # NULL props, dup (user,ts)
            (12, D(2024, 1, 1, 2, 6), 15, "purchase", 3.0, "not json"),
            (13, D(1970, 1, 1, 0, 0), 16, "click", 1.0, '{"k": 10}'),   # epoch
            (14, D(2024, 1, 1, 2, 7), 15, "purchase", 4.0, '{"k": 11}'),
            (15, D(2024, 1, 1, 2, 8), 17, "click", float("nan"), '{"k": 12}'),  # all-invalid user
            # user 18: a purchase whose ONLY candidate click is NULL-ts —
            # the phantom-asof-match case (a NULL-ts right row sorted
            # NULLS-FIRST into the carry window and "matched" where the
            # right_ts <= left_ts predicate says UNKNOWN; asof_join now
            # excludes NULL-ts right rows up front)
            (16, None, 18, "click", 2.0, '{"k": 13}'),
            (17, D(2024, 1, 1, 3, 0), 18, "purchase", 6.0, '{"k": 14}'),
            # users 90001/90002 exist ONLY as DIRTY customer rows below
            # (NULL / empty mktsegment) — the dim-enrichment join's
            # NULL-segment and empty-segment groups become observable
            (18, D(2024, 1, 1, 3, 5), 90001, "click", 9.0, '{"k": 15}'),
            (19, D(2024, 1, 1, 3, 6), 90002, "purchase", 2.5, '{"k": 16}'),
        ]
        base = str(tmp_path_factory.mktemp("dirty_events"))
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        # the streaming readers glob for a FILE named events.parquet
        # (the driver testdata shape) — move the single part file up
        tmp = f"{base}/_ev_dir"
        ev.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{base}/events.parquet")
        shutil.rmtree(tmp)
        # r12 extension: the dim-enrichment join read a CLEAN customer —
        # dirty its dimension half too (NULL key never matches; NULL /
        # empty mktsegment become observable groups via events 18/19)
        cu = spark.read.parquet(f"/root/testdata/sf0.001/customer.parquet")
        cu_dirty = spark.createDataFrame([
            (None, "Customer#NULLKEY", 2, 100.0, "BUILDING"),
            (90001, None, None, float("nan"), None),
            (90002, "", 3, None, ""),
        ], cu.schema)
        tmp = f"{base}/_cu"
        cu.unionAll(cu_dirty).coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{base}/customer.parquet")
        shutil.rmtree(tmp)
        sf_src = "/root/testdata/sf0.001"
        for t in [
            "region", "nation", "supplier", "part",
            "orders", "lineitem", "documents", "embeddings",
        ]:
            os.symlink(f"{sf_src}/{t}.parquet", f"{base}/{t}.parquet")
        con = duckdb.connect()
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')"
            )
        return base, con

    @_pt.mark.parametrize("name", BATCH_NAMES + STREAM_NAMES)
    def test_query_oracle_parity_on_dirty_events(self, spark, dirty_events, name):
        from shifu_spark.queries import ORACLES, QUERIES
        from tests.oracle import compare

        base, con = dirty_events
        problems = compare(QUERIES[name](spark, base), con, ORACLES[name], name)
        assert problems == [], problems


class TestDirtyEmbeddings:
    """r10 bug-class audit #4: DIRTY EMBEDDINGS — NULL vectors, ragged
    dimensionality (32/128 vs the corpus's 64), NaN/±Inf components,
    the all-zero vector, tiny-norm vectors, NULL labels. One adversarial
    `embeddings` table driven through all 14 embedding registry queries
    against their PRODUCTION oracles.

    Before the fix, EVERY query in the family crashed on a single
    malformed row (ragged numpy shapes in the Arrow kernels,
    INVALID_ARRAY_INDEX under ANSI, NaN-poisoned norms, 0/0
    DIVIDE_BY_ZERO in the IVF/LSH cosine paths, a driver-side
    ZeroDivisionError in the multiprobe cell ranker). Fixes:
    similarity.valid_vector_expr/_sql ingest validation applied at the
    scan on BOTH engines (queries._emb + the oracle post-pass), and
    safe_cosine replacing the three remaining bare cosine divisions —
    the valid-but-ZERO vector is in-population and must rank/filter
    identically (NULL cosine: nobody's neighbor, lowest-cell tiebreak).
    """

    import pytest as _pt

    NAMES = [
        "embedding_topk", "embedding_neardup_pairs", "embedding_lsh_topk",
        "embedding_ivf_topk", "embedding_ivf_multiprobe", "pq_encode",
        "pq_adc_topk", "kmeans_step_centroids", "embedding_ivfpq_topk",
        "ann_recall_report", "semantic_dedup", "matryoshka_recall",
        "pca_power_iteration", "embedding_neardup_lsh_scale",
    ]

    @_pt.fixture(scope="class")
    def dirty_embeddings(self, spark, tmp_path_factory):
        import glob
        import os
        import random
        import shutil

        import duckdb

        def vec(seed, dim=64):
            rnd = random.Random(seed)
            return [rnd.uniform(-1, 1) for _ in range(dim)]

        rows = [(i, vec(i), i % 10) for i in range(40)]  # enough for IVF/kmeans
        rows += [
            (100, None, 3),                                # NULL embedding
            (101, vec(101)[:63] + [float("nan")], 4),      # NaN component
            (102, vec(102)[:63] + [float("inf")], 5),      # +Inf component
            (103, [0.0] * 64, 6),                          # zero vector (VALID)
            (104, vec(104)[:32], 7),                       # ragged: short
            (105, vec(105) + vec(1051), 8),                # ragged: long
            (106, [], 9),                                  # empty array
            (107, vec(107), None),                         # NULL label
            (108, [1e-30] * 64, 0),                        # tiny norm (VALID)
        ]
        base = str(tmp_path_factory.mktemp("dirty_emb"))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        tmp = f"{base}/_e"
        emb.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{base}/embeddings.parquet")
        shutil.rmtree(tmp)
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents",
        ]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{base}/{t}.parquet")
        con = duckdb.connect()
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')"
            )
        return base, con

    @_pt.mark.parametrize("name", NAMES)
    def test_query_oracle_parity_on_dirty_embeddings(self, spark, dirty_embeddings, name):
        from shifu_spark.queries import ORACLES, QUERIES
        from tests.oracle import compare

        base, con = dirty_embeddings
        problems = compare(QUERIES[name](spark, base), con, ORACLES[name], name)
        assert problems == [], problems


class TestDirtyTpch:
    """r10 bug-class audit #5: DIRTY RELATIONAL TABLES — NULL join keys,
    NULL/NaN/±Inf measures, NULL dates, NULL/empty tag columns, orphan
    keys appended to the real sf0.001 lineitem/orders/customer. Every
    TPC-H-table registry query (minus the slow rows-only fits) against
    its PRODUCTION oracle.

    The class's live finds (all fixed, each pinned by this suite):
      * DuckDB's strict NaN->DECIMAL cast killed ~16 oracles where
        Spark's double->decimal cast silently NULLs — closed by the
        _try_cast_decimal_oracles import-time pass (isfinite CASE);
      * eval oracles kept unrankable scores the operator excludes, and
        the weight clamp lacked the non-finite->1.0 branch;
      * equal-interval bin edges (ksiv/weighted/bin_avg/dynamic/zorder/
        hilbert/robust quartiles) were poisoned by one NaN/Inf in
        min-max on one or both engines — non-finite now routes to the
        NULL bin / NULL layout key / out of the quantile walk, same on
        both;
      * NULL-tag rows: Spark's ~pos counted them in NEITHER class while
        oracle CASEs counted NEG (the reference filters invalid tags);
      * ksiv's cumulative KS ordered the missing bin FIRST on Spark and
        LAST on DuckDB (NULLS LAST pinned, matching the reference's
        missing-slot-after-real-bins layout);
      * the text sink wrote '' as literal double quotes and the reader
        kept '' as a value — both now follow PigStorage's lossy
        '' ≡ NULL field encoding; a bare != in the header-drop filter
        silently ate every NULL-key data row;
      * reason codes ranked an Inf feature first everywhere and flipped
        NULL order across engines (missing contributes 0, never a
        reason); hybrid slots sent NULL quantity to bin 0 instead of
        the missing slot; MLlib vectors hard-reject NaN so the tree fit
        now mean-imputes like the production normalize step.
    """

    import pytest as _pt

    SKIP = {
        "stratified_sample", "kfold_cv", "grid_search", "rf_train",
        "ga_varselect", "wdl_train", "wdl_train_minibatch", "nn_train",
        "sgd_lr_train", "streaming_dim_enrichment",  # covered by TestDirtyEvents
    }

    @classmethod
    def _names(cls):
        import os
        import re

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        src = open(os.path.join(root, "shifu_spark", "queries.py")).read()
        out = []
        for b in re.split(r"@query\(", src)[1:]:
            m = re.match(r"\s*\"([^\"]+)\"", b)
            if not m:
                continue
            tables = set(re.findall(r'_t\(spark, sf_dir, "(\w+)"\)', b))
            if tables and tables <= {
                "lineitem", "orders", "customer", "nation", "region",
                "supplier", "part",
            } and m.group(1) not in cls.SKIP:
                out.append(m.group(1))
        return out

    @_pt.fixture(scope="class")
    def dirty_tpch(self, spark, tmp_path_factory):
        import datetime as dtm
        import glob
        import os
        import shutil

        import duckdb

        D = dtm.datetime
        NAN, INF = float("nan"), float("inf")
        base = str(tmp_path_factory.mktemp("dirty_tpch"))

        def write_single(df, name):
            tmp = f"{base}/_t"
            df.coalesce(1).write.parquet(tmp)
            shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{base}/{name}.parquet")
            shutil.rmtree(tmp)

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        li_dirty = spark.createDataFrame([
            (None, 101, 9, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", D(1997, 5, 1)),
            (90001, None, None, 2, 5.0, 500.0, 0.01, 0.01, "R", "F", D(1996, 3, 2)),
            (90002, 102, 9, None, 7.0, 700.0, 0.02, 0.03, "A", "F", D(1995, 7, 3)),
            (90003, 103, 9, 3, None, NAN, INF, -0.5, "N", "O", D(1997, 9, 4)),
            (90004, 104, 9, 4, -3.0, -100.0, 1.5, 0.0, None, "", D(1998, 1, 5)),
            (90005, 105, 9, 5, 12.0, 1200.0, 0.03, 0.04, "N", "O", None),
            (123456789, 106, 9, 6, 9.0, 900.0, 0.04, 0.05, "R", "F", D(1994, 2, 6)),
        ], li.schema)
        write_single(li.unionAll(li_dirty), "lineitem")

        od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        od_dirty = spark.createDataFrame([
            (None, 85, "F", 1000.0, D(1997, 1, 1), "3-MEDIUM"),
            (90001, None, "O", 2000.0, D(1996, 2, 2), "1-URGENT"),
            (90002, 86, None, NAN, D(1995, 3, 3), None),
            (90003, 87, "F", 3000.0, None, ""),
            (90004, 999999, "O", INF, D(1998, 4, 4), "5-LOW"),
            (90005, 88, "P", None, D(1994, 5, 5), "2-HIGH"),
        ], od.schema)
        write_single(od.unionAll(od_dirty), "orders")

        cu = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        cu_dirty = spark.createDataFrame([
            (None, "Customer#NULLKEY", 2, 100.0, "BUILDING"),
            # NULL key + a value tuple that PASSES ns_purify_filter's
            # predicate (acctbal > 1000 && BUILDING) — makes a bare !=
            # header-drop observable: three-valued != eats this row,
            # ~eqNullSafe keeps it flowing (r11 verdict's latent defect)
            (None, "Customer#NULLKEY-PASS", 4, 2000.0, "BUILDING"),
            (90001, None, None, NAN, None),
            (90002, "", 3, None, ""),
        ], cu.schema)
        write_single(cu.unionAll(cu_dirty), "customer")

        # r12 extension: the DIMENSION side of every join was still
        # clean — a NULL/orphan key in nation/region/supplier/part
        # exercises the other half of each equi-join (and the graph
        # queries built on part x supplier). NULL dimension keys must
        # never match (standard three-valued =), orphan foreign keys
        # must fall out of inner joins identically on both engines.
        na = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        na_dirty = spark.createDataFrame([
            (None, "NULLKEY NATION", 1),
            (77, None, None),        # NULL name + NULL regionkey
            (78, "", 99),            # empty name + ORPHAN regionkey
        ], na.schema)
        write_single(na.unionAll(na_dirty), "nation")

        rg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        rg_dirty = spark.createDataFrame([
            (None, "NULLKEY REGION"),
            (9, None),
        ], rg.schema)
        write_single(rg.unionAll(rg_dirty), "region")

        su = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
        su_dirty = spark.createDataFrame([
            (None, "Supplier#NULLKEY", 1, 100.0),
            (90001, None, None, NAN),
            (90002, "", 99, None),   # ORPHAN nationkey, NULL acctbal
            (90003, "Supplier#INF", 2, INF),
        ], su.schema)
        write_single(su.unionAll(su_dirty), "supplier")

        pa = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        pa_dirty = spark.createDataFrame([
            (None, "NULLKEY PART", "Brand#00", "STANDARD NULLKEY", 5, 100.0),
            (90001, None, None, None, None, NAN),
            (90002, "", "", "", 0, None),
            (90003, "inf part", "Brand#99", "ODD TYPE", -1, INF),
        ], pa.schema)
        write_single(pa.unionAll(pa_dirty), "part")

        for t in ["events", "documents", "embeddings"]:
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{base}/{t}.parquet")
        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')"
            )
        return base, con

    def test_query_oracle_parity_on_dirty_tpch(self, spark, dirty_tpch):
        from shifu_spark.queries import ORACLES, QUERIES
        from tests.oracle import compare

        base, con = dirty_tpch
        failures = []
        for name in self._names():
            try:
                df = QUERIES[name](spark, base)
                if name in ORACLES:
                    probs = compare(df, con, ORACLES[name], name)
                    if probs:
                        failures.append((name, probs[:1]))
                else:
                    assert df.count() >= 0
            except Exception as e:  # noqa: BLE001 — collect, report all
                failures.append((name, str(e).splitlines()[0][:200]))
        assert failures == [], failures


class TestConstantColumns:
    """DEGENERATE LINEITEM COPIES against the unchanged production oracles.

    constant: ALL-EQUAL COLUMNS — (mx - mn) = 0 makes the equal-interval
    bin width zero, and Spark 4's ANSI mode raises DIVIDE_BY_ZERO for
    DOUBLE division too. Convention (binning.equal_interval_bin_expr):
    width 0 => the whole population is bin 0 on both engines, not the
    top bin. Every query binning by equal interval is listed, plus the
    moments, correlation and quantile families that divide by a spread.

    oneclass / onerow: every row is l_returnflag 'R' and l_linestatus
    'F', or the table is one row. A WOE class total is then 0 and a
    sample std divides by n - 1 = 0; ksiv.woe_df and
    normalize.zscore_sums_expr return NULL there, as DuckDB's /0 does.
    Every WOE and power-sum z-score query is listed.
    """

    import pytest as _pt

    NAMES = [
        "psi_events_by_day", "ksiv_equal_interval", "ksiv_weighted",
        "bin_avg_score", "dynamic_binning", "woe_normalize", "onehot_normalize",
        "discrete_zscore_normalize", "woe_zscore_normalize", "zorder_skipping_stats",
        "hilbert_skipping_stats", "column_stats", "zscore_normalize",
        "correlation_matrix", "robust_column_stats", "events_anomaly_zscore",
        "streaming_drift_psi", "events_moving_avg", "ksiv_equal_positive",
        "native_ntile_binning", "hybrid_column_woe",
    ]
    DEGENERATE_NAMES = [
        "ksiv_equal_interval", "ksiv_categorical", "ksiv_equal_population",
        "ksiv_equal_positive", "ksiv_equal_negative", "ksiv_weighted",
        "woe_normalize", "hybrid_column_woe", "woe_zscore_normalize",
        "hybrid_normalize", "weight_hybrid_normalize", "asis_woe_normalize",
        "zscore_normalize", "discrete_zscore_normalize", "old_zscale_normalize",
        "zscale_onehot_normalize",
    ]

    @staticmethod
    def _lineitem(li, variant):
        from pyspark.sql import functions as F

        if variant == "constant":
            return li.select(
                "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                F.lit(7.0).alias("l_quantity"), F.lit(100.0).alias("l_extendedprice"),
                F.lit(0.05).alias("l_discount"), F.lit(0.02).alias("l_tax"),
                "l_returnflag", "l_linestatus", "l_shipdate",
            )
        if variant == "oneclass":
            return li.withColumns({"l_returnflag": F.lit("R"), "l_linestatus": F.lit("F")})
        return li.orderBy("l_orderkey", "l_linenumber").limit(1)

    @_pt.fixture(scope="class")
    def tables(self, spark, sf_dir, tmp_path_factory):
        """variant -> (sf_dir, duckdb connection), each built on first use."""
        import glob
        import os
        import shutil

        import duckdb
        from pyspark.sql import functions as F

        built: dict = {}

        def get(variant):
            if variant in built:
                return built[variant]
            base = str(tmp_path_factory.mktemp(f"{variant}_tables"))

            def write_single(df, name):
                tmp = f"{base}/_t"
                df.coalesce(1).write.parquet(tmp)
                shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{base}/{name}.parquet")
                shutil.rmtree(tmp)

            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            write_single(self._lineitem(li, variant), "lineitem")
            if variant == "constant":
                ev = spark.read.parquet(f"{sf_dir}/events.parquet")
                write_single(ev.withColumn("value", F.lit(42.0)), "events")
            con = duckdb.connect()
            for t in ["region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"]:
                if not os.path.exists(f"{base}/{t}.parquet"):
                    os.symlink(f"{sf_dir}/{t}.parquet", f"{base}/{t}.parquet")
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')"
                )
            built[variant] = (base, con)
            return built[variant]

        return get

    @staticmethod
    def _check(spark, base, con, name):
        from shifu_spark.queries import ORACLES, QUERIES
        from tests.oracle import compare

        problems = compare(QUERIES[name](spark, base), con, ORACLES[name], name)
        assert problems == [], problems

    @_pt.mark.parametrize("name", NAMES)
    def test_query_oracle_parity_on_constant_columns(self, spark, tables, name):
        self._check(spark, *tables("constant"), name)

    @_pt.mark.parametrize("variant", ["oneclass", "onerow"])
    @_pt.mark.parametrize("name", DEGENERATE_NAMES)
    def test_query_oracle_parity_on_degenerate_population(self, spark, tables, name, variant):
        self._check(spark, *tables(variant), name)


class TestDirtyBinaries:
    """r10 bug-class audit #7: DIRTY BINARY PAYLOADS — corrupt media
    blobs, torn archives, NULL payloads. Before this round every media
    extractor decoded per-row with NO catch: at 100 TB one flipped bit
    in one blob killed the whole mapInPandas stage hours into a job.
    The ``on_error='skip'`` quarantine policy (multimodal._media_row_loop,
    warc.parse_warc resync, webdataset.parse_wds_shard prefix recovery)
    closes the class; driver proofs: audio_corrupt_skip,
    warc_corrupt_recovery."""

    import pytest as _pt

    @staticmethod
    def _codec_table():
        from shifu_spark.operators import multimodal as mm

        img = ((np.arange(6 * 8 * 3) * 7) % 256).astype(np.uint8).reshape(6, 8, 3)
        frames = ((np.arange(2 * 4 * 4 * 3) * 5) % 256).astype(np.uint8).reshape(2, 4, 4, 3)
        gif_frames = ((np.arange(2 * 4 * 4)) % 16).astype(np.uint8).reshape(2, 4, 4)
        palette = ((np.arange(16 * 3) * 3) % 256).astype(np.uint8).reshape(16, 3)
        samples = ((np.arange(200) * 37) % 2003 - 1001).astype(np.int16)
        jf = [mm.encode_jpeg(img), mm.encode_jpeg(img // 2 + 1)]
        return {
            "wav": (mm.encode_wav_pcm16(samples), mm.extract_audio_features),
            "ppm": (mm.encode_ppm(img), mm.extract_ppm_features),
            "png": (mm.encode_png(img), mm.extract_png_features),
            "jpeg": (mm.encode_jpeg(img), mm.extract_jpeg_features),
            "y4m": (mm.encode_y4m(frames), mm.extract_video_features),
            "mjpeg": (mm.encode_avi_mjpeg(jf, 8, 6), mm.extract_mjpeg_video_features),
            "gif": (mm.encode_gif(gif_frames, palette, min_code_size=4), mm.extract_gif_features),
            "mulaw": (mm.encode_wav_mulaw(samples), mm.extract_compressed_audio_features),
            "adpcm": (mm.encode_wav_ima_adpcm(samples), mm.extract_compressed_audio_features),
            "flac": (mm.encode_flac(samples), mm.extract_flac_features),
        }

    @_pt.mark.parametrize("codec", [
        "wav", "ppm", "png", "jpeg", "y4m", "mjpeg", "gif",
        "mulaw", "adpcm", "flac",
    ])
    def test_skip_quarantines_exactly_the_corrupt_rows(self, spark, codec):
        """Per codec: header-truncated, magic-flipped and NULL payloads
        are quarantined under on_error='skip'; the pristine rows'
        features are bit-identical to the clean (default) path; the
        default path still raises on the first corrupt row."""
        payload, extract = self._codec_table()[codec]
        flipped = bytes([payload[0] ^ 0xFF]) + payload[1:]
        rows = [
            (1, payload),
            (2, payload[:8]),   # torn shorter than any container header
            (3, flipped),       # smashed magic
            (4, None),          # NULL payload
            (5, payload),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = sorted(
            extract(df, on_error="skip").collect(), key=lambda r: r.doc_id
        )
        assert [r.doc_id for r in got] == [1, 5]
        clean = sorted(
            extract(
                spark.createDataFrame([rows[0], rows[4]], "doc_id long, payload binary")
            ).collect(),
            key=lambda r: r.doc_id,
        )
        assert [r.asDict() for r in got] == [r.asDict() for r in clean]
        with self._pt.raises(Exception):
            extract(df).collect()

    def test_skip_counter_observes_quarantine_rate(self, spark):
        """ADVICE r10: the skip path must be OBSERVABLE — a job that
        monitors its corruption rate can tell expected corpus dirt from
        an extractor regression that starts shedding healthy rows. The
        accumulator counts exactly the quarantined rows and stays at
        zero over a clean corpus."""
        payload, extract = self._codec_table()["wav"]
        rows = [
            (1, payload),
            (2, payload[:8]),
            (3, bytes([payload[0] ^ 0xFF]) + payload[1:]),
            (4, None),
            (5, payload),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        acc = spark.sparkContext.accumulator(0)
        got = extract(df, on_error="skip", skip_counter=acc).collect()
        assert len(got) == 2
        assert acc.value == 3
        clean_acc = spark.sparkContext.accumulator(0)
        clean = spark.createDataFrame(
            [rows[0], rows[4]], "doc_id long, payload binary"
        )
        assert len(extract(clean, on_error="skip", skip_counter=clean_acc).collect()) == 2
        assert clean_acc.value == 0

    def test_on_error_validated_eagerly(self):
        from shifu_spark.operators.multimodal import extract_audio_features

        with self._pt.raises(ValueError, match="on_error"):
            extract_audio_features(None, on_error="ignore")

    def test_strict_stub_not_skippable(self, spark):
        """A missing codec is a CONFIGURATION error, not data corruption:
        decode='strict' must raise even under on_error='skip' (silently
        skipping every row would fake an empty-but-successful decode)."""
        from shifu_spark.operators.multimodal import extract_image_features

        df = spark.createDataFrame([(1, b"payload")], "doc_id long, payload binary")
        with self._pt.raises(Exception, match="NotImplementedError|PIL"):
            extract_image_features(df, decode="strict", on_error="skip").collect()

    def test_seeded_mutation_fuzz_never_kills_the_stage(self, spark):
        """60 seeded random mutations (truncations + byte flips) of wav
        and png payloads in ONE batch with interleaved pristine controls:
        the skip stage completes, survivors are a subset of the input
        ids, every control id survives with clean-path features, and any
        surviving mutant decoded to SOMETHING (schema-valid row)."""
        import random

        from shifu_spark.operators import multimodal as mm

        rng = random.Random(0xD1E7)
        tbl = self._codec_table()
        rows, control_ids = [], set()
        i = 0
        for codec in ("wav", "png"):
            payload, _ = tbl[codec]
            for _ in range(30):
                i += 1
                b = bytearray(payload)
                if rng.random() < 0.5:
                    b = b[: rng.randrange(len(b))]
                for _ in range(rng.randrange(1, 4)):
                    if b:
                        p = rng.randrange(len(b))
                        b[p] ^= 1 << rng.randrange(8)
                rows.append((i, bytes(b)))
            i += 1
            control_ids.add(i)
            rows.append((i, payload))
        for codec in ("wav", "png"):
            payload, extract = tbl[codec]
            df = spark.createDataFrame(rows, "doc_id long, payload binary")
            got = {r.doc_id: r for r in extract(df, on_error="skip").collect()}
            assert set(got) <= {r[0] for r in rows}
            # the OTHER codec's control is a corrupt payload for this
            # extractor; only this codec's own control must survive
            own_control = max(
                cid for cid in control_ids
                if rows[cid - 1][1] == payload
            )
            assert own_control in got
            clean = extract(
                spark.createDataFrame(
                    [(own_control, payload)], "doc_id long, payload binary"
                )
            ).collect()[0]
            assert got[own_control].asDict() == clean.asDict()

    # -- WARC member resync ------------------------------------------------

    @staticmethod
    def _warc_members():
        import gzip

        from shifu_spark.sources.warc import write_warc_record

        g1 = gzip.compress(
            write_warc_record("response", "http://h/1", b"hello body", None), mtime=0
        )
        g2 = gzip.compress(
            write_warc_record("metadata", "http://h/1", b"lang: en\r\n", None), mtime=0
        )
        junk = b"\x1f\x8b\x08\x00" + b"\x00" * 16
        return g1, g2, junk

    def test_warc_skip_resyncs_at_next_member(self):
        from shifu_spark.sources.warc import parse_warc

        g1, g2, junk = self._warc_members()
        types = lambda rs: [r["headers"]["WARC-Type"] for r in rs]  # noqa: E731
        assert types(parse_warc(g1 + g2, on_error="skip")) == ["response", "metadata"]
        assert types(parse_warc(junk + g2, on_error="skip")) == ["metadata"]
        assert types(parse_warc(g1 + g2[: len(g2) // 2], on_error="skip")) == ["response"]
        assert types(parse_warc(junk + g1 + junk + g2, on_error="skip")) == [
            "response", "metadata",
        ]
        assert parse_warc(junk + junk, on_error="skip") == []
        # the recovered record's payload is INTACT, not just typed right
        rec = parse_warc(junk + g2, on_error="skip")[0]
        assert rec["body"] == b"lang: en\r\n"

    def test_warc_raise_contract_unchanged(self):
        from shifu_spark.sources.warc import parse_warc

        g1, g2, junk = self._warc_members()
        for bad in (junk + g2, g1 + g2[: len(g2) // 2]):
            with self._pt.raises(ValueError):
                parse_warc(bad)
        with self._pt.raises(ValueError, match="on_error"):
            parse_warc(g1, on_error="ignore")

    def test_warc_plain_prefix_recovery(self):
        from shifu_spark.sources.warc import parse_warc, write_warc_record

        r1 = write_warc_record("response", "http://h/1", b"ok", None)
        r2 = write_warc_record("metadata", "http://h/1", b"m", None)
        torn = r1 + r2[: len(r2) - 3]
        assert [r["body"] for r in parse_warc(torn, on_error="skip")] == [b"ok"]
        with self._pt.raises(ValueError):
            parse_warc(torn)

    # -- WebDataset shard recovery ----------------------------------------

    def test_wds_skip_drops_contract_violations(self):
        import io
        import tarfile

        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        shard = encode_wds_shard(
            [("a", [("txt", b"x"), ("json", b"{}")]), ("b", [("txt", b"y")])]
        )
        # hand-build a shard with a no-extension member and a stray
        # non-contiguous member of an earlier key
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for name, data in [
                ("a.txt", b"x"), ("noext", b"?"), ("b.txt", b"y"), ("a.json", b"stray"),
            ]:
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        dirty = buf.getvalue()
        assert parse_wds_shard(dirty, on_error="skip") == [
            ("a", {"txt": b"x"}), ("b", {"txt": b"y"}),
        ]
        with self._pt.raises(ValueError):
            parse_wds_shard(dirty)
        # torn framing: complete prefix survives, partial sample dropped
        out = parse_wds_shard(shard, on_error="skip")
        assert out == [("a", {"txt": b"x", "json": b"{}"}), ("b", {"txt": b"y"})]
        torn = parse_wds_shard(shard[:700], on_error="skip")
        assert torn == out[: len(torn)]
        with self._pt.raises(ValueError, match="on_error"):
            parse_wds_shard(shard, on_error="ignore")

    # -- source-level skip_counter (VERDICT r11 item 4) --------------------

    class _Counter:
        """Any object with .add(n) satisfies the skip_counter contract;
        the Spark-accumulator path is pinned separately below."""

        def __init__(self):
            self.value = 0

        def add(self, n):
            self.value += n

    def test_warc_skip_counter_counts_damage_regions(self):
        """VERDICT r11 item 4: parse_warc's quarantine must be
        OBSERVABLE — same monitoring-rate argument as the media
        extractors (a parser regression looks exactly like corruption
        to a silent skip). Unit = damage EVENTS: one per contiguous
        corrupt gzip region (however many failed resync attempts the
        garbage causes), one per plain-file tear."""
        from shifu_spark.sources.warc import parse_warc, write_warc_record

        g1, g2, junk = self._warc_members()
        # two separated corrupt regions = 2 events, even though the
        # double-junk region fails resync twice inside one region
        c = self._Counter()
        got = parse_warc(
            junk + g1 + junk + junk + g2, on_error="skip", skip_counter=c
        )
        assert (c.value, len(got)) == (2, 2)
        # clean archive: counter stays at zero
        c = self._Counter()
        assert len(parse_warc(g1 + g2, on_error="skip", skip_counter=c)) == 2
        assert c.value == 0
        # truncated final member: one event
        c = self._Counter()
        parse_warc(g1 + g2[: len(g2) // 2], on_error="skip", skip_counter=c)
        assert c.value == 1
        # plain (uncompressed) tear: ONE event — the torn remainder's
        # record count is unknowable, so the unit is the tear itself
        r1 = write_warc_record("response", "http://h/1", b"ok", None)
        r2 = write_warc_record("metadata", "http://h/1", b"m", None)
        c = self._Counter()
        assert len(parse_warc(r1 + r2[:-3], on_error="skip", skip_counter=c)) == 1
        assert c.value == 1

    def test_warc_skip_counter_spark_accumulator(self, spark):
        """The intended production plumbing: a Spark accumulator
        threaded through a mapInPandas ingest closure (shard-per-row
        scan), aggregating the corruption rate across the whole stage —
        the parse_warc twin of tests above pinning multimodal's
        extractor accumulator."""
        import pandas as pd

        from shifu_spark.sources.warc import parse_warc

        g1, g2, junk = self._warc_members()
        rows = [(1, junk + g2), (2, g1 + g2), (3, junk + junk)]
        df = spark.createDataFrame(rows, "sid long, payload binary")
        acc = spark.sparkContext.accumulator(0)

        def run(batches):
            for pdf in batches:
                n = [
                    len(parse_warc(bytes(p), on_error="skip", skip_counter=acc))
                    for p in pdf["payload"]
                ]
                yield pd.DataFrame({"sid": pdf["sid"], "n_records": n})

        out = df.mapInPandas(run, "sid long, n_records long").collect()
        assert {r.sid: r.n_records for r in out} == {1: 1, 2: 2, 3: 0}
        assert acc.value == 2  # one region in shard 1, one in shard 3

    def test_wds_skip_counter_counts_quarantine_events(self):
        """parse_wds_shard twin: +1 per dropped contract-violating
        member (extensionless, stray), +1 per unsealed sample a torn
        frame drops; zero over a clean shard."""
        import io
        import tarfile

        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        shard = encode_wds_shard(
            [("a", [("txt", b"x"), ("json", b"{}")]), ("b", [("txt", b"y")])]
        )
        c = self._Counter()
        assert len(parse_wds_shard(shard, on_error="skip", skip_counter=c)) == 2
        assert c.value == 0
        # noext member + stray member of an earlier key = 2 events
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for name, data in [
                ("a.txt", b"x"), ("noext", b"?"), ("b.txt", b"y"), ("a.json", b"stray"),
            ]:
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        c = self._Counter()
        parse_wds_shard(buf.getvalue(), on_error="skip", skip_counter=c)
        assert c.value == 2
        # mid-walk tear at byte 700 (inside a.txt's data block): the
        # one unsealed sample parsed so far ('a') is dropped = 1 event
        c = self._Counter()
        assert parse_wds_shard(shard[:700], on_error="skip", skip_counter=c) == []
        assert c.value == 1

    def test_wds_expected_exts_closes_forged_eof_subset(self, spark):
        """ADVICE r11: damage that MIMICS a clean end of archive (here a
        truncation landing exactly on the member-block boundary at 1024,
        between a.txt's data and a.json's header) seals the walk, so the
        last sample silently returns as a PARTS-SUBSET — unobservable
        even with skip_counter (tar carries no sample count to reconcile
        against). expected_exts is the opt-in completeness contract that
        closes it: the incomplete sample is dropped AND counted under
        skip, raises under raise-mode, uniformly for mid-shard
        incompleteness too."""
        import pandas as pd

        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        shard = encode_wds_shard(
            [("a", [("txt", b"x"), ("json", b"{}")]), ("b", [("txt", b"y")])]
        )
        forged = shard[:1024]
        # the documented hole: without the check the subset sails through
        c = self._Counter()
        assert parse_wds_shard(forged, on_error="skip", skip_counter=c) == [
            ("a", {"txt": b"x"})
        ]
        assert c.value == 0
        # with it: dropped and counted
        c = self._Counter()
        assert (
            parse_wds_shard(
                forged, on_error="skip", skip_counter=c, expected_exts={"txt", "json"}
            )
            == []
        )
        assert c.value == 1
        with self._pt.raises(ValueError, match="missing required parts"):
            parse_wds_shard(forged, expected_exts={"txt", "json"})
        # mid-shard incompleteness is the same violation: sample b has
        # no json even in the intact shard
        with self._pt.raises(ValueError, match="'b' missing required parts"):
            parse_wds_shard(shard, expected_exts={"txt", "json"})
        c = self._Counter()
        assert parse_wds_shard(
            shard, on_error="skip", skip_counter=c, expected_exts={"txt", "json"}
        ) == [("a", {"txt": b"x", "json": b"{}"})]
        assert c.value == 1
        # extra extensions are fine; empty requirement set is loud
        assert parse_wds_shard(shard, expected_exts={"txt"}) == parse_wds_shard(shard)
        with self._pt.raises(ValueError, match="non-empty"):
            parse_wds_shard(shard, expected_exts=set())
        # a bare string would silently become per-CHARACTER requirements
        with self._pt.raises(ValueError, match="bare string"):
            parse_wds_shard(shard, expected_exts="txt")
        # accumulator plumbing through a mapInPandas stage, as WARC above
        acc = spark.sparkContext.accumulator(0)
        df = spark.createDataFrame(
            [(1, forged), (2, shard)], "sid long, payload binary"
        )

        def run(batches):
            for pdf in batches:
                n = [
                    len(
                        parse_wds_shard(
                            bytes(p),
                            on_error="skip",
                            skip_counter=acc,
                            expected_exts={"txt", "json"},
                        )
                    )
                    for p in pdf["payload"]
                ]
                yield pd.DataFrame({"sid": pdf["sid"], "n_samples": n})

        out = df.mapInPandas(run, "sid long, n_samples long").collect()
        assert {r.sid: r.n_samples for r in out} == {1: 0, 2: 1}
        assert acc.value == 2  # forged subset 'a' + intact-but-json-less 'b'

    # -- decode bombs --------------------------------------------------------

    def test_decode_bombs_rejected_cheaply(self, monkeypatch):
        """A hostile header claiming huge output must die in a cheap
        ValueError at parse time (quarantinable under on_error='skip'),
        never in a giant allocation: numpy zero-pages lazily, so the
        alternative is the Linux OOM killer — which no except clause
        catches (MAX_DECODE_PIXELS / MAX_DECODE_SAMPLES guards)."""
        import zlib

        from shifu_spark.operators import multimodal as mm

        big = (60000).to_bytes(4, "big")
        ihdr = big + big + bytes([8, 2, 0, 0, 0])
        png_bomb = (
            mm.PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"x"))
            + mm._png_chunk(b"IEND", b"")
        )
        with self._pt.raises(ValueError, match="MAX_DECODE_PIXELS"):
            mm.decode_png(png_bomb)

        img = np.zeros((8, 8, 3), np.uint8)
        j = bytearray(mm.encode_jpeg(img))
        k = j.index(b"\xff\xc0")
        # SOF0 layout: marker(2) len(2) precision(1) height(2) width(2)
        j[k + 5 : k + 9] = (60000).to_bytes(2, "big") * 2
        with self._pt.raises(ValueError, match="MAX_DECODE_PIXELS"):
            mm.decode_jpeg(bytes(j))
        # under the pixel cap but far beyond the payload's entropy bits:
        # the >=2-bits-per-block necessary condition rejects it up front
        j[k + 5 : k + 9] = (9000).to_bytes(2, "big") * 2
        with self._pt.raises(ValueError, match="entropy stream too short"):
            mm.decode_jpeg(bytes(j))

        frames = np.zeros((1, 4, 4), np.uint8)
        palette = np.zeros((16, 3), np.uint8)
        g = bytearray(mm.encode_gif(frames, palette, min_code_size=4))
        g[6:10] = (60000).to_bytes(2, "little") * 2
        with self._pt.raises(ValueError, match="MAX_DECODE_PIXELS"):
            mm.decode_gif(bytes(g))

        samples = np.arange(200, dtype=np.int16)
        flac = mm.encode_flac(samples)
        assert mm.decode_flac(flac)[0].shape[0] == 200  # healthy under cap
        monkeypatch.setattr(mm, "MAX_DECODE_SAMPLES", 100)
        with self._pt.raises(ValueError, match="MAX_DECODE_SAMPLES"):
            mm.decode_flac(flac)

    def test_bomb_row_is_quarantined_not_fatal(self, spark):
        """End-to-end: a bomb payload rides the skip path like any other
        corrupt row — the stage completes and the healthy rows survive."""
        import zlib

        from shifu_spark.operators import multimodal as mm

        img = ((np.arange(6 * 8 * 3) * 7) % 256).astype(np.uint8).reshape(6, 8, 3)
        good = mm.encode_png(img)
        big = (60000).to_bytes(4, "big")
        ihdr = big + big + bytes([8, 2, 0, 0, 0])
        bomb = (
            mm.PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"x"))
            + mm._png_chunk(b"IEND", b"")
        )
        df = spark.createDataFrame(
            [(1, good), (2, bomb), (3, good)], "doc_id long, payload binary"
        )
        got = mm.extract_png_features(df, on_error="skip").collect()
        assert sorted(r.doc_id for r in got) == [1, 3]

    def test_png_overlong_idat_bounded(self):
        """An IDAT stream longer than the IHDR-implied scanlines is
        rejected by the bounded inflate (never fully materialized)."""
        import zlib

        from shifu_spark.operators import multimodal as mm

        img = np.zeros((2, 2, 3), np.uint8)
        good = mm.encode_png(img)
        # rebuild with the correct scanline bytes plus a huge tail
        raw = b"\x00" * (2 * (2 * 3 + 1))
        evil = (
            mm.PNG_SIG
            + mm._png_chunk(b"IHDR", good[16:29])
            + mm._png_chunk(b"IDAT", zlib.compress(raw + b"\x00" * 10_000_000))
            + mm._png_chunk(b"IEND", b"")
        )
        with self._pt.raises(ValueError, match="scanline data size mismatch"):
            mm.decode_png(evil)


class TestBinLookupTriDifferential:
    """The bin lookup is the engine's most load-bearing primitive (WOE,
    ONEHOT, HYBRID, *_INDEX, discrete zscore, streaming drift all sit on
    it). Tri-differential: Spark bin_index_expr vs DuckDB bin_index_sql
    vs an independent pure-python restatement of BinUtils.java:53-104
    (#edges <= x - 1, clamped at 0; non-values to the missing slot) over
    seeded adversarial boundary sets — duplicate edges, +-0.0 edges,
    subnormals, 2^53-adjacent magnitudes, a -inf first edge — probed AT
    every edge, one ulp either side, midpoints, and the non-value class."""

    import pytest as _pt

    BOUNDARY_SETS = [
        [0.0],
        [-1.5, 0.0, 1.5],
        [0.0, 0.0, 1.0],                      # duplicate low edges
        [-2.0, -1.0, -1.0, -1.0, 3.0],        # triple duplicate
        [-0.0, 0.0],                          # signed-zero pair (equal)
        [5e-324, 1e-308, 1.0],                # subnormal / min-normal
        [float("-inf"), 0.25, 0.5, 1.0],      # streaming-drift shape
        [-9007199254740993.0, 0.0, 9007199254740993.0],  # beyond 2^53
        [1.0, 1.0000000000000002, 2.0],       # adjacent representables
    ]

    @staticmethod
    def _probes(bs):
        import math

        out = set()
        for b in bs:
            if math.isfinite(b):
                out.update([b, math.nextafter(b, -math.inf), math.nextafter(b, math.inf)])
        fin = [b for b in bs if math.isfinite(b)]
        for a, b in zip(fin, fin[1:]):
            out.add((a + b) / 2.0)
        out.update([-0.0, 0.0, -1e300, 1e300])
        return sorted(out)

    @staticmethod
    def _ref(x, bs, missing):
        import math

        if x is None or math.isnan(x) or math.isinf(x):
            return missing
        return max(sum(1 for b in bs if x >= b) - 1, 0)

    def test_spark_duckdb_python_agree(self, spark):
        import duckdb

        from shifu_spark.operators.binning import bin_index_expr, bin_index_sql

        con = duckdb.connect()
        for bs in self.BOUNDARY_SETS:
            missing = len(bs)
            probes = self._probes(bs) + [None, float("nan"), float("inf"), float("-inf")]
            rows = [(i, x) for i, x in enumerate(probes)]
            df = spark.createDataFrame(rows, "i long, x double")
            got_spark = {
                r["i"]: r["b"]
                for r in df.select("i", bin_index_expr("x", bs).alias("b")).collect()
            }
            con.execute("CREATE OR REPLACE TABLE probes(i BIGINT, x DOUBLE)")
            con.executemany("INSERT INTO probes VALUES (?, ?)", rows)
            got_duck = dict(
                con.sql(f"SELECT i, {bin_index_sql('x', bs)} FROM probes").fetchall()
            )
            for i, x in rows:
                want = self._ref(x, bs, missing)
                assert got_spark[i] == want, (bs, x, got_spark[i], want, "spark")
                assert got_duck[i] == want, (bs, x, got_duck[i], want, "duckdb")


class TestWarcResyncProperty:
    """Property fuzz of the parse_warc(on_error='skip') recovery
    contract over randomized archives and corruption: damaging ONE gzip
    member loses AT MOST that member's record — never a neighbor, never
    a fabricated record — and every survivor's body is byte-intact.

    Bodies are compressible ASCII on purpose: DEFLATE then never emits
    STORED blocks, so a valid gzip member can't ride verbatim inside
    another member's compressed bytes and fool the magic-scan resync (a
    limitation intrinsic to magic-scan recovery, shared by real
    crawl-archive readers; the corruption queries' synth has the same
    property)."""

    @given(
        st.integers(1, 6),
        st.integers(0, 10**6),
        st.sampled_from(["flip", "trunc", "junk"]),
        st.integers(0, 10**6),
    )
    @settings(max_examples=150, deadline=None)
    def test_one_damaged_member_costs_at_most_one_record(self, n, which, kind, pos):
        import gzip

        from shifu_spark.sources.warc import parse_warc, write_warc_record

        bodies = [f"body-{i}-".encode() + b"a" * (7 + i * 13 % 50) for i in range(n)]
        members = [
            gzip.compress(
                write_warc_record("response", f"http://h/{i}", b, None), mtime=0
            )
            for i, b in enumerate(bodies)
        ]
        bad = which % n
        m = members[bad]
        if kind == "flip":
            # flip past the 10-byte header: mtime/XFL/OS are not
            # CRC-protected, so a header flip can leave a VALID member
            p = 10 + pos % (len(m) - 10)
            m = m[:p] + bytes([m[p] ^ 0xFF]) + m[p + 1 :]
        elif kind == "trunc":
            m = m[: len(m) - 1 - pos % (len(m) // 2)]
        else:
            m = b"\x1f\x8b\x08\x00" + b"\x00" * 16
        damaged = members[:bad] + [m] + members[bad + 1 :]

        class Counter:
            n = 0

            def add(self, v):
                self.n += v

        ctr = Counter()
        got = parse_warc(b"".join(damaged), on_error="skip", skip_counter=ctr)
        got_bodies = [r["body"] for r in got]
        expected_surviving = [b for i, b in enumerate(bodies) if i != bad]
        # no fabricated records, no duplicate pickup
        assert all(b in bodies for b in got_bodies)
        assert len(got_bodies) == len(set(got_bodies))
        # no collateral loss: every undamaged member's record survives intact
        for b in expected_surviving:
            assert b in got_bodies
        # order of survivors preserved
        surv_in_order = [b for b in bodies if b in got_bodies]
        assert got_bodies == surv_in_order
        # counter accounting: ONE damage site is ONE contiguous corrupt
        # region, so exactly one quarantine event iff the damaged
        # member's record was lost — zero when the flip left a valid
        # member (mtime/XFL/OS bytes are not CRC-protected)
        lost = bodies[bad] not in got_bodies
        assert ctr.n == (1 if lost else 0), (ctr.n, lost, kind)

    @given(
        st.integers(2, 7),
        st.integers(0, 10**6),
        st.integers(0, 10**6),
        st.sampled_from(["flip", "junk"]),
        st.sampled_from(["flip", "junk"]),
        st.integers(0, 10**6),
        st.integers(0, 10**6),
    )
    @settings(max_examples=100, deadline=None)
    def test_two_damaged_members_cost_at_most_those_records(
        self, n, which1, which2, kind1, kind2, pos1, pos2
    ):
        """Multi-point extension: LOCALIZED damage to TWO distinct
        members (byte flips / whole-member junk — truncation is
        excluded here because it removes everything after the cut, the
        single-point prefix case above) loses at most those two
        records; every other record survives byte-intact in order, with
        no fabrication — the magic-scan resync must recover between and
        after BOTH damage sites, including when they are adjacent."""
        import gzip

        from shifu_spark.sources.warc import parse_warc, write_warc_record

        bodies = [f"body-{i}-".encode() + b"a" * (7 + i * 13 % 50) for i in range(n)]
        members = [
            gzip.compress(
                write_warc_record("response", f"http://h/{i}", b, None), mtime=0
            )
            for i, b in enumerate(bodies)
        ]
        bad1 = which1 % n
        bad2 = (bad1 + 1 + which2 % (n - 1)) % n  # distinct, may be adjacent
        for bad, kind, pos in ((bad1, kind1, pos1), (bad2, kind2, pos2)):
            m = members[bad]
            if kind == "flip":
                p = 10 + pos % (len(m) - 10)
                m = m[:p] + bytes([m[p] ^ 0xFF]) + m[p + 1 :]
            else:
                m = b"\x1f\x8b\x08\x00" + b"\x00" * 16
            members[bad] = m
        got = parse_warc(b"".join(members), on_error="skip")
        got_bodies = [r["body"] for r in got]
        expected_surviving = [
            b for i, b in enumerate(bodies) if i not in (bad1, bad2)
        ]
        assert all(b in bodies for b in got_bodies)
        assert len(got_bodies) == len(set(got_bodies))
        for b in expected_surviving:
            assert b in got_bodies
        surv_in_order = [b for b in bodies if b in got_bodies]
        assert got_bodies == surv_in_order


class TestWdsResyncProperty:
    """Property fuzz of the parse_wds_shard(on_error='skip') recovery
    contract over randomized tar framing and single-point damage:
    damaging ONE member loses at most the unsealed suffix — never a
    fabricated sample, never a reordered one — and every survivor's
    parts are byte-intact.

    Tar has no member magic to resync on (unlike WARC's gzip members),
    so the contract is PREFIX recovery with sealing: a sample whose
    contiguous run is provably over (a different-key member header was
    parsed entirely before the damage point) MUST survive.  Two
    asymmetries are intrinsic to tar framing and asserted as such:
    the final pre-tear sample may be dropped even when its read parts
    were intact (no end-of-sample marker), and damage that mimics a
    clean end of archive (zeroed header block, boundary truncation —
    stdlib tarfile treats both as EOF) can leave the LAST survivor a
    parts-subset of the original; all earlier survivors are complete."""

    @staticmethod
    def _build(n, nparts, sizes):
        samples = []
        s = 0
        for i in range(n):
            parts = []
            for j in range(nparts[i]):
                parts.append((f"e{j}", f"s{i}p{j}-".encode() + b"x" * sizes[s % len(sizes)]))
                s += 1
            samples.append((f"k{i:03d}", parts))
        return samples

    @given(
        st.integers(1, 6),
        st.lists(st.integers(1, 3), min_size=6, max_size=6),
        st.lists(st.integers(0, 1200), min_size=6, max_size=18),
    )
    @settings(max_examples=50, deadline=None)
    def test_clean_roundtrip_both_modes(self, n, nparts, sizes):
        """Undamaged shards round-trip exactly in BOTH error modes over
        the same randomized framing the damage property uses — pins that
        the seal-aware recovery rewrite cannot alter the clean path."""
        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        samples = self._build(n, nparts, sizes)
        shard = encode_wds_shard(samples)
        want = [(k, dict(parts)) for k, parts in samples]
        assert parse_wds_shard(shard) == want
        assert parse_wds_shard(shard, on_error="skip") == want

    def test_skipped_stray_does_not_seal_the_resumed_sample(self):
        """Review-pass regression: member order x.a, y.a, x.b (stray of
        the earlier key x — skipped), y.b (y RESUMES through the
        continuation branch), then torn framing. y's run was therefore
        never provably over, so the tear must drop y entirely — a seal
        taken at the stray's header would instead keep a y missing the
        parts the tear ate. x stays sealed (y.a started a new sample)."""
        import io
        import tarfile

        from shifu_spark.sources.webdataset import parse_wds_shard

        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            for name, payload in [
                ("x.a", b"XA"), ("y.a", b"YA"), ("x.b", b"stray"), ("y.b", b"YB"),
            ]:
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(payload))
        shard = buf.getvalue()
        with tarfile.open(fileobj=io.BytesIO(shard)) as tf:
            last = [m for m in tf][-1]
        torn = shard[: last.offset_data + 1]  # tear inside y.b's payload
        got = parse_wds_shard(torn, on_error="skip")
        assert got == [("x", {"a": b"XA"})]
        # sanity: undamaged shard in skip mode keeps y complete
        assert parse_wds_shard(shard, on_error="skip") == [
            ("x", {"a": b"XA"}),
            ("y", {"a": b"YA", "b": b"YB"}),
        ]

    @given(
        st.integers(1, 6),
        st.lists(st.integers(1, 3), min_size=6, max_size=6),
        # sizes straddle the 512-byte tar block: 0, sub-block, multi-block
        st.lists(st.integers(0, 1200), min_size=6, max_size=18),
        st.integers(0, 10**6),
        st.sampled_from(["trunc", "hdrflip", "zeroblock"]),
        st.integers(0, 10**6),
    )
    @settings(max_examples=150, deadline=None)
    def test_single_point_damage_keeps_sealed_prefix(
        self, n, nparts, sizes, which, kind, pos
    ):
        import io
        import tarfile

        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        samples = self._build(n, nparts, sizes)
        shard = encode_wds_shard(samples)
        with tarfile.open(fileobj=io.BytesIO(shard)) as tf:
            members = [(m.name, m.offset) for m in tf]
        # first member offset of each sample (member names are key.ext)
        first_off = {}
        for name, off in members:
            key = name.partition(".")[0]
            first_off.setdefault(key, off)

        if kind == "trunc":
            damage_at = 1 + pos % (len(shard) - 1)
            damaged = shard[:damage_at]
        elif kind == "hdrflip":
            # any single-byte flip inside a header block breaks its
            # checksum (which covers the whole block)
            off = members[which % len(members)][1]
            damage_at = off + pos % 512
            damaged = (
                shard[:damage_at]
                + bytes([shard[damage_at] ^ 0xFF])
                + shard[damage_at + 1 :]
            )
        else:  # zeroblock — forges tar's end-of-archive marker
            off = members[which % len(members)][1]
            damage_at = off
            damaged = shard[:off] + b"\0" * 512 + shard[off + 512 :]

        got = parse_wds_shard(damaged, on_error="skip")
        orig = {k: dict(parts) for k, parts in samples}
        keys = [k for k, _ in samples]

        # survivors are an exact prefix of the original sample order
        got_keys = [k for k, _ in got]
        assert got_keys == keys[: len(got_keys)]
        # no fabrication, byte-intact parts; all but the last complete
        for idx, (k, parts) in enumerate(got):
            assert set(parts) <= set(orig[k]), (k, sorted(parts))
            for ext, payload in parts.items():
                assert payload == orig[k][ext], (k, ext)
            if idx < len(got) - 1:
                assert parts == orig[k], (k, "non-final survivor incomplete")
        # sealing lower bound: every sample whose successor's first
        # member HEADER lies entirely before the damage point survives
        guaranteed = sum(
            1
            for i in range(n - 1)
            if first_off[keys[i + 1]] + 512 <= damage_at
        )
        assert len(got) >= guaranteed, (len(got), guaranteed, kind, damage_at)

    @given(
        st.integers(1, 6),
        st.integers(1, 3),
        st.lists(st.integers(0, 1200), min_size=6, max_size=18),
        st.integers(0, 10**6),
        st.sampled_from(["trunc", "hdrflip", "zeroblock"]),
        st.integers(0, 10**6),
    )
    @settings(max_examples=150, deadline=None)
    def test_expected_exts_survivors_always_complete(
        self, n, k, sizes, which, kind, pos
    ):
        """Fuzz twin of the targeted forged-EOF test (ADVICE r11 #3):
        with a UNIFORM parts contract (every sample carries exts
        e0..e{k-1}) and ``expected_exts`` naming it, NO single-point
        damage of any kind may yield an incomplete survivor — every
        returned sample is byte-identical to its original, survivors
        stay an order-preserving prefix, the checked parse equals the
        unchecked parse minus its incomplete samples, and every drop
        the completeness check performs lands in ``skip_counter``."""
        import io
        import tarfile

        from shifu_spark.sources.webdataset import encode_wds_shard, parse_wds_shard

        samples = self._build(n, [k] * 6, sizes)
        shard = encode_wds_shard(samples)
        with tarfile.open(fileobj=io.BytesIO(shard)) as tf:
            members = [(m.name, m.offset) for m in tf]

        if kind == "trunc":
            damage_at = 1 + pos % (len(shard) - 1)
            damaged = shard[:damage_at]
        elif kind == "hdrflip":
            off = members[which % len(members)][1]
            damage_at = off + pos % 512
            damaged = (
                shard[:damage_at]
                + bytes([shard[damage_at] ^ 0xFF])
                + shard[damage_at + 1 :]
            )
        else:  # zeroblock — forges tar's end-of-archive marker
            off = members[which % len(members)][1]
            damaged = shard[:off] + b"\0" * 512 + shard[off + 512 :]

        class Counter:
            n = 0

            def add(self, v):
                self.n += v

        required = {f"e{j}" for j in range(k)}
        ctr = Counter()
        got = parse_wds_shard(
            damaged, on_error="skip", expected_exts=required, skip_counter=ctr
        )
        orig = {key: dict(parts) for key, parts in samples}
        keys = [key for key, _ in samples]
        got_keys = [key for key, _ in got]
        assert got_keys == keys[: len(got_keys)]
        for key, parts in got:
            assert parts == orig[key], (key, sorted(parts))
        unchecked = parse_wds_shard(damaged, on_error="skip")
        want_checked = [
            (key, p) for key, p in unchecked if set(p) == set(orig[key])
        ]
        assert got == want_checked
        # every incomplete sample the check dropped was counted (the
        # counter also carries tear/stray events, hence >=)
        assert ctr.n >= len(unchecked) - len(got)
