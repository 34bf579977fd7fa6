"""Operator unit tests: as-of join edge cases, keep-last, SimHash
properties, similarity vs numpy, multimodal plumbing.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from e2e_stock_data_pipeline_spark.sources import tables

from e2e_stock_data_pipeline_spark.operators.asof import asof_join, asof_join_filtered
from e2e_stock_data_pipeline_spark.operators.dedup import (
    base_hash28,
    exploded_shingles,
    jaccard_verify_arrays,
    minhash_signatures_from_wide,
    minhash_wide,
    shingle_sets,
    simhash16,
    universal_hash_v2,
)
from e2e_stock_data_pipeline_spark.operators.multimodal import (
    extract_features,
    frame_sample,
)
from e2e_stock_data_pipeline_spark.operators.similarity import (
    banded_hyperplane_buckets,
    brute_force_topk,
    embed_band_params,
    hyperplane_lsh_buckets,
    with_quantized_norm,
)
from e2e_stock_data_pipeline_spark.operators.windows import keep_last


def ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute)


class TestAsofJoin:
    def frames(self, spark):
        left = spark.createDataFrame(
            [("A", ts(10), "p1"), ("A", ts(20), "p2"), ("B", ts(5), "p3"), ("C", ts(9), "p4")],
            ["k", "t", "pid"],
        )
        right = spark.createDataFrame(
            [("A", ts(10), 1.0), ("A", ts(15), 2.0), ("B", ts(6), 3.0)],
            ["k", "rt", "val"],
        )
        return left, right

    def test_backward_inner(self, spark):
        left, right = self.frames(spark)
        out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                        value_cols=["val"], how="inner")
        got = {r.pid: (r.asof_rt, r.asof_val) for r in out.collect()}
        assert got == {
            "p1": (ts(10), 1.0),  # tie: right at SAME time matches (<=)
            "p2": (ts(15), 2.0),  # newest right before left
        }
        # p3: right exists but at ts(6) > ts(5) -> no match; p4: no right rows

    def test_left_keeps_unmatched(self, spark):
        left, right = self.frames(spark)
        out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                        value_cols=["val"], how="left")
        got = {r.pid: r.asof_val for r in out.collect()}
        assert got == {"p1": 1.0, "p2": 2.0, "p3": None, "p4": None}

    def test_duplicate_right_times_resolve_deterministically(self, spark):
        """Multiple right rows sharing (key, time): the greatest value
        tuple must win, independent of input partitioning/order."""
        left = spark.createDataFrame([("A", ts(12), "p1")], ["k", "t", "pid"])
        dup_rows = [("A", ts(10), v) for v in (5.0, 9.0, 1.0, 7.0)]
        for arrange in (
            lambda df: df,
            lambda df: df.repartition(7),
            lambda df: df.orderBy(F.col("val").desc()).coalesce(1),
        ):
            right = arrange(spark.createDataFrame(dup_rows, ["k", "rt", "val"]))
            [r] = asof_join(
                left, right, on="k", left_time="t", right_time="rt",
                value_cols=["val"], how="inner",
            ).collect()
            assert (r.asof_rt, r.asof_val) == (ts(10), 9.0)


class TestAsofJoinFiltered:
    """Same-source variant must be bit-equal to asof_join on the two
    filtered frames (disjoint predicates, one scan)."""

    def source(self, spark):
        rows = [
            ("A", ts(10), "L", 10.0, 1),
            ("A", ts(10), "R", 1.0, 2),  # right at SAME time: <= matches
            ("A", ts(15), "R", 2.0, 3),
            ("A", ts(20), "L", 20.0, 4),
            ("B", ts(5), "L", 30.0, 5),
            ("B", ts(6), "R", 3.0, 6),   # right AFTER left: no match
            ("C", ts(9), "L", 40.0, 7),  # no right rows for C
        ]
        return spark.createDataFrame(rows, ["k", "t", "side", "v", "rid"])

    def _both(self, spark, how):
        import pyspark.sql.functions as F

        src = self.source(spark)
        filt = asof_join_filtered(
            src,
            on="k",
            time_col="t",
            left_filter=F.col("side") == "L",
            right_filter=F.col("side") == "R",
            left_cols=["k", "t", "v", "rid"],
            value_cols=["v"],
            how=how,
        )
        left = src.filter(F.col("side") == "L").select("k", "t", "v", "rid")
        right = src.filter(F.col("side") == "R").select(
            "k", F.col("t").alias("rt"), F.col("v").alias("rv")
        )
        ref = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            value_cols=["rv"], how=how,
        ).select(
            "k", "t", "v", "rid",
            F.col("asof_rt").alias("asof_t"),
            F.col("asof_rv").alias("asof_v"),
        )
        return filt, ref

    def test_inner_matches_asof_join(self, spark):
        filt, ref = self._both(spark, "inner")
        got = sorted(tuple(r) for r in filt.collect())
        want = sorted(tuple(r) for r in ref.collect())
        assert got == want
        assert len(got) == 2  # A's two left rows match; B late, C empty

    def test_left_matches_asof_join(self, spark):
        filt, ref = self._both(spark, "left")
        got = sorted((r.rid, r.asof_t, r.asof_v) for r in filt.collect())
        want = sorted(
            (r.rid, r.asof_t, r.asof_v) for r in ref.collect()
        )
        assert got == want
        assert len(got) == 4  # every left row kept

    def test_duplicate_right_times_resolve_deterministically(self, spark):
        """Right-side duplicates at one (key, time) instant — possible
        over raw event data (the q26 shape) — must fill with the
        greatest value tuple regardless of partitioning."""
        rows = [("A", ts(12), "L", 0.0, 1)] + [
            ("A", ts(10), "R", v, 10 + i) for i, v in enumerate((5.0, 9.0, 1.0, 7.0))
        ]
        for arrange in (
            lambda df: df,
            lambda df: df.repartition(7),
            lambda df: df.orderBy(F.col("v").desc()).coalesce(1),
        ):
            src = arrange(spark.createDataFrame(rows, ["k", "t", "side", "v", "rid"]))
            [r] = asof_join_filtered(
                src,
                on="k",
                time_col="t",
                left_filter=F.col("side") == "L",
                right_filter=F.col("side") == "R",
                left_cols=["k", "t", "rid"],
                value_cols=["v"],
                how="inner",
            ).collect()
            assert (r.asof_t, r.asof_v) == (ts(10), 9.0)


class TestKeepLast:
    def test_ties_broken_by_order_cols(self, spark):
        df = spark.createDataFrame(
            [("A", 1, "old"), ("A", 2, "new"), ("B", 7, "only")], ["k", "v", "tag"]
        )
        out = {r.k: r.tag for r in keep_last(df, ["k"], ["v"]).collect()}
        assert out == {"A": "new", "B": "only"}


class TestSimHash:
    def test_identical_docs_equal_similar_docs_close(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),
                (3, "the quick brown fox jumps over the lazy cat"),
                (4, "entirely different words about database query engines"),
            ],
            ["doc_id", "text"],
        )
        sh = {r.doc_id: r.simhash16 for r in simhash16(docs).collect()}
        assert sh[1] == sh[2]
        ham = lambda a, b: bin(a ^ b).count("1")
        assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])
        assert all(0 <= v < 2**16 for v in sh.values())

    def test_shingles(self, spark):
        docs = spark.createDataFrame([(1, "a b c d"), (2, "x y")], ["doc_id", "text"])
        got = {(r.doc_id, r.shingle) for r in exploded_shingles(docs, n=3).collect()}
        assert got == {(1, "a b c"), (1, "b c d")}  # doc 2 too short -> dropped


class TestArrayLandVerify:
    """r17: the exploded-shingle verify moved into array land
    (shingle_sets + jaccard_verify_arrays) and q155's signature-match
    count moved onto wide sketch rows — these pin the equivalences the
    rewrites rely on."""

    _DOCS = [
        (1, "a b c d a b c"),      # repeated shingles -> distinct matters
        (2, "a b c d"),            # subset of 1
        (3, "x y z w"),            # disjoint from 1/2
        (4, "x y"),                # too short: no shingles
        (5, "q r s a b c"),        # partial overlap with 1/2
    ]

    def _docs(self, spark):
        return spark.createDataFrame(self._DOCS, ["doc_id", "text"])

    def test_shingle_sets_match_exploded_distinct(self, spark):
        docs = self._docs(spark)
        exploded = {}
        for r in exploded_shingles(docs, distinct=True).collect():
            exploded.setdefault(r.doc_id, set()).add(r.shingle)
        for r in shingle_sets(docs).collect():
            arr = r.sset
            assert len(arr) == len(set(arr))  # arrays are distinct
            assert set(arr) == exploded.get(r.doc_id, set())
        # the short doc is PRESENT with an empty array (vs absent when
        # exploded) — candidate-keyed inner joins see identical rows
        sets = {r.doc_id: r.sset for r in shingle_sets(docs).collect()}
        assert sets[4] == []
        assert 4 not in exploded

    def test_jaccard_verify_matches_exploded_form(self, spark):
        docs = self._docs(spark)
        # candidate list includes a zero-overlap pair (2, 3) and an
        # extra pass-through column
        cands = spark.createDataFrame(
            [(1, 2, "k12"), (1, 5, "k15"), (2, 3, "k23")],
            ["doc_a", "doc_b", "tag"],
        )
        got = {
            (r.doc_a, r.doc_b): (r.tag, r.n_common, r.n_a, r.n_b)
            for r in jaccard_verify_arrays(cands, shingle_sets(docs)).collect()
        }
        # exploded-form reference (the pre-r17 shape)
        shd = exploded_shingles(docs, distinct=True)
        sa = {}
        for r in shd.collect():
            sa.setdefault(r.doc_id, set()).add(r.shingle)
        for (a, b), (tag, n_common, n_a, n_b) in got.items():
            assert n_common == len(sa[a] & sa[b])
            assert n_a == len(sa[a])
            assert n_b == len(sa[b])
        assert got[(2, 3)][1] == 0  # zero-overlap pair kept, n_common 0
        assert {v[0] for v in got.values()} == {"k12", "k15", "k23"}

    def test_wide_match_count_equals_sig_join(self, spark):
        docs = self._docs(spark)
        sh = exploded_shingles(docs, distinct=False)
        wide = minhash_wide(sh)
        # the unpivoted wide row equals the explode-then-group form: per
        # (doc, seed), the min of that seed's family member over shingles
        seeds = spark.range(12).select(F.col("id").alias("seed"))
        per_seed = universal_hash_v2(base_hash28(F.col("shingle")), F.col("seed"))
        a = {
            (r.doc_id, r.seed): r.sig
            for r in sh.crossJoin(seeds)
            .groupBy("doc_id", "seed")
            .agg(F.min(per_seed).alias("sig"))
            .collect()
        }
        b = {
            (r.doc_id, r.seed): r.sig
            for r in minhash_signatures_from_wide(wide).collect()
        }
        assert a == b
        # wide-row equality count == (seed, sig)-join row count per pair
        k = 12
        sig_by_doc = {}
        for (d, s), v in a.items():
            sig_by_doc.setdefault(d, {})[s] = v
        cands = spark.createDataFrame(
            [(1, 2), (1, 5), (2, 3)], ["doc_a", "doc_b"]
        )
        wa = wide.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"_s{s}").alias(f"_a{s}") for s in range(k)],
        )
        wb = wide.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"_s{s}").alias(f"_b{s}") for s in range(k)],
        )
        n_match = sum(
            (F.col(f"_a{s}") == F.col(f"_b{s}")).cast("bigint") for s in range(k)
        )
        got = {
            (r.doc_a, r.doc_b): r.n
            for r in cands.join(wa, "doc_a")
            .join(wb, "doc_b")
            .select("doc_a", "doc_b", n_match.alias("n"))
            .collect()
        }
        for (x, y), n in got.items():
            expect = sum(
                1
                for s in range(k)
                if sig_by_doc[x][s] == sig_by_doc[y][s]
            )
            assert n == expect


class TestSimilarity:
    def test_topk_matches_numpy(self, spark):
        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(30, 8)).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(30)], ["vec_id", "embedding"]
        )
        out = brute_force_topk(
            df.filter(F.col("vec_id") < 2), df.filter(F.col("vec_id") >= 2), k=3
        ).collect()
        # numpy reference on the same quantization
        q = np.floor(vecs.astype("float64") * 10000)
        for qid in (0, 1):
            sims = {}
            for cid in range(2, 30):
                dot = float(np.dot(q[qid], q[cid]))
                sims[cid] = dot / (np.sqrt(np.dot(q[qid], q[qid])) * np.sqrt(np.dot(q[cid], q[cid])))
            expect = sorted(sims, key=lambda c: (-sims[c], c))[:3]
            got = [r.cand_id for r in sorted(out, key=lambda r: r.rnk) if r.query_id == qid]
            assert got == expect

    def test_nonnull_fences_survive(self, spark):
        """r17: _nn and the banded _bucket are coalesce-fenced to be
        NON-NULLABLE so join/filter constraint inference cannot add an
        isnotnull(<full fold>) filter that predicate pushdown inlines
        below the projection (measured ~2x the banding leg's cost at
        sf10). A regression to a nullable schema silently reintroduces
        the recompute — pin the nullability, and pin that the fence is
        a no-op on values (the folds are never null)."""
        df = spark.createDataFrame(
            [(1, [1.0] * 8), (2, [-0.5] * 8)], ["vec_id", "embedding"]
        )
        n = with_quantized_norm(df)
        assert not n.schema["_nn"].nullable
        got = {r.vec_id: r._nn for r in n.collect()}
        assert got == {1: 8 * 10000 * 10000, 2: 8 * 5000 * 5000}
        b = banded_hyperplane_buckets(df, embed_band_params(df), dim=8)
        assert not b.schema["_bucket"].nullable
        assert all(r._bucket >= 0 for r in b.collect())  # fence never fires

    def test_lsh_buckets_deterministic_and_discriminative(self, spark):
        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0, 0.0]),
                (2, [1.0, 0.001, 0.0, 0.0]),   # nearly identical to 1
                (3, [-1.0, 0.0, 0.0, 0.0]),    # opposite
            ],
            ["vec_id", "embedding"],
        )
        b1 = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(df, n_planes=8).collect()}
        b2 = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(df, n_planes=8).collect()}
        assert b1 == b2                       # deterministic
        assert b1[1] == b1[2]                 # near-identical vectors collide
        assert b1[1] != b1[3]                 # opposite vectors split

    def test_lsh_buckets_long_vectors_no_collapse(self, spark):
        # ADVICE r2 (medium): vectors longer than MAX_PLANE_DIM collapsed into
        # bucket 0 — zip_with null-padded the 256-coeff plane against the full
        # vector, turning every plane dot product NULL. The lazy-dim signature
        # must hash the first MAX_PLANE_DIM components, exactly like an
        # explicit-prefix input.
        import numpy as np

        from e2e_stock_data_pipeline_spark.operators.similarity import MAX_PLANE_DIM

        rng = np.random.default_rng(11)
        n = 12
        vecs = rng.normal(size=(n, MAX_PLANE_DIM + 128))
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)], ["vec_id", "embedding"]
        )
        long_b = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(df, n_planes=8).collect()}
        assert len(set(long_b.values())) > 1  # not all collapsed into one bucket
        pref = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i][:MAX_PLANE_DIM]]) for i in range(n)],
            ["vec_id", "embedding"],
        )
        pref_b = {r.vec_id: r.bucket for r in hyperplane_lsh_buckets(pref, n_planes=8).collect()}
        assert long_b == pref_b


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _encode_png(width: int, height: int, channels: int, pixels: bytes, filters) -> bytes:
    """Spec-conformant PNG encoder for test fixtures: applies the given
    per-row filter types (0-4) before deflate, so the decoder's unfilter
    path is exercised on every filter. Independent re-derivation of the
    filter formulas (RFC 2083 §6) — written forward (encode) here,
    inverted (decode) in the operator."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    for y, f in zip(range(height), filters):
        row = pixels[y * stride : (y + 1) * stride]
        prev = pixels[(y - 1) * stride : y * stride] if y else bytes(stride)
        raw.append(f)
        for j in range(stride):
            a = row[j - channels] if j >= channels else 0
            b = prev[j]
            c = prev[j - channels] if (y and j >= channels) else 0
            if f == 0:
                enc = row[j]
            elif f == 1:
                enc = row[j] - a
            elif f == 2:
                enc = row[j] - b
            elif f == 3:
                enc = row[j] - (a + b) // 2
            else:  # paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc = row[j] - pred
            raw.append(enc & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _encode_wav(samples, bits: int = 16, rate: int = 8000, channels: int = 1) -> bytes:
    import struct

    if bits == 8:
        data = bytes(samples)
    else:
        data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * bits // 8, channels * bits // 8, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestMultimodal:
    # 2x2 grayscale, pixels 10/20/30/40 -> mean 25.0; rows filtered
    # Sub then Up to exercise both inversions
    GRAY_PX = bytes([10, 20, 30, 40])
    # 2x2 RGB with every remaining filter type (None, Average) plus a
    # third Paeth row on a 2x3 image
    RGB_PX = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18])

    def media(self, spark):
        gray = _encode_png(2, 2, 1, self.GRAY_PX, [1, 2])
        rgb = _encode_png(2, 3, 3, self.RGB_PX, [0, 3, 4])
        wav = _encode_wav([-100, 100, 300], bits=16)
        return spark.createDataFrame(
            [
                (1, bytearray(gray), "png", 2, 2),
                (2, None, "png", None, None),
                (3, bytearray(b"\xff" * 8), None, None, None),
                (4, bytearray(rgb), "png", 2, 3),
                (5, bytearray(wav), "wav", None, None),
                (6, bytearray(b"\x00\x02\x04\x06"), "png", 2, 2),  # not a real PNG
                (7, bytearray(b"\x00\x02\x04\x06"), "jpg", None, None),
            ],
            "media_id long, content binary, format string, width int, height int",
        )

    def test_fixture_encoder_matches_spec_bytes(self):
        """Pin the test encoder itself against hand-computed RFC 2083
        filter bytes, so encoder/decoder can't share a mirrored bug:
        gray row [10,20,30,40] as 2x2, row0 Sub, row1 Up ->
        row0: f=1, 10-0=10, 20-10=10 ; row1: f=2, 30-10=20, 40-20=20."""
        import zlib

        png = _encode_png(2, 2, 1, self.GRAY_PX, [1, 2])
        # IDAT payload starts after sig(8) + IHDR chunk(12+13) + IDAT hdr(8)
        idat = png[8 + 25 + 8 : -12 - 4]  # strip IEND chunk and IDAT crc
        assert zlib.decompress(idat) == bytes([1, 10, 10, 2, 20, 20])

    def test_extract_features_decodes_real_pixels(self, spark):
        rows = {r.media_id: r for r in extract_features(self.media(spark)).collect()}
        g = rows[1]
        assert g.decoded_ok and g.decode_err is None
        assert (g.px_width, g.px_height, g.n_channels, g.n_values) == (2, 2, 1, 4)
        assert g.value_mean == 25.0  # (10+20+30+40)/4, hand-computed
        r = rows[4]
        assert r.decoded_ok
        assert (r.px_width, r.px_height, r.n_channels, r.n_values) == (2, 3, 3, 18)
        assert r.value_mean == 9.5  # mean(1..18)
        w = rows[5]
        assert w.decoded_ok and w.n_values == 3
        assert w.value_mean == 100.0  # (-100+100+300)/3, signed 16-bit LE
        assert not rows[2].decoded_ok and rows[2].n_bytes is None
        assert not rows[3].decoded_ok and rows[3].decode_err == "missing format"
        bad = rows[6]
        assert not bad.decoded_ok and "signature" in bad.decode_err
        assert bad.n_bytes == 4 and bad.byte_mean == 3.0  # byte stats still flow
        assert rows[7].decode_err == "unsupported format"

    def test_png_decode_rejects_unsupported_shapes(self):
        import struct

        import pytest

        from e2e_stock_data_pipeline_spark.operators.multimodal import png_decode

        # palette color type (3): refuse, don't fabricate
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
        png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="color type"):
            png_decode(png)
        # 16-bit depth: refuse
        ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
        png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="bit depth"):
            png_decode(png)
        # interlaced: refuse
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
        png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="interlaced"):
            png_decode(png)

    def test_png_decode_bounds_memory_before_allocating(self):
        """Hostile blobs must be refused BEFORE any dimension-sized
        allocation: a crafted IHDR claiming 2^31 x 2^31 pixels, and a
        deflate bomb whose IDAT inflates far past the declared size."""
        import struct
        import zlib

        import pytest

        from e2e_stock_data_pipeline_spark.operators.multimodal import png_decode

        # huge claimed dimensions: rejected by the pixel cap, no inflate run
        ihdr = struct.pack(">IIBBBBB", 2**31, 2**31, 8, 0, 0, 0, 0)
        png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="refusing image dimensions"):
            png_decode(png)
        # zero dimension: also refused (stride-0 scanline math is nonsense)
        ihdr = struct.pack(">IIBBBBB", 0, 1, 8, 0, 0, 0, 0)
        png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="refusing image dimensions"):
            png_decode(png)
        # deflate bomb: 1x1 gray declares 2 raw bytes but IDAT inflates to
        # 10 MB — max_length caps the output at `expected`, and the leftover
        # compressed tail is detected as a size mismatch (never inflated)
        bomb = zlib.compress(b"\x00" * 10_000_000, 9)  # ~10 KB compressed
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", bomb)
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="size mismatch"):
            png_decode(png)
        # truncated stream (inflates to LESS than declared): same refusal
        short = zlib.compress(b"\x00")  # 1 byte where 1x1 gray needs 2
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", short)
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="size mismatch"):
            png_decode(png)

    def test_png_roundtrip_property(self):
        """Roundtrip across shapes/filter mixes: decode(encode(px)) == px
        for gray/gray+alpha/RGB/RGBA with pseudo-random pixels and all
        five filters cycling per row."""
        import random

        from e2e_stock_data_pipeline_spark.operators.multimodal import png_decode

        rng = random.Random(7)
        for channels in (1, 2, 3, 4):
            for w, h in ((1, 1), (3, 2), (5, 7)):
                px = bytes(rng.randrange(256) for _ in range(w * h * channels))
                filters = [rng.choice([0, 1, 2, 3, 4]) for _ in range(h)]
                got = png_decode(_encode_png(w, h, channels, px, filters))
                assert got == (w, h, channels, bytearray(px)), (channels, w, h, filters)

    def test_wav_decode_8bit_and_alignment(self):
        from e2e_stock_data_pipeline_spark.operators.multimodal import wav_decode

        wav = _encode_wav([0, 128, 255], bits=8)
        assert wav_decode(wav) == [0.0, 128.0, 255.0]

    def test_frame_sample(self, spark):
        media = spark.createDataFrame(
            [(1, bytearray(b"\x00\x02\x04\x06")), (3, bytearray(b"\xff" * 8))],
            "media_id long, content binary",
        )
        out = {r.media_id: r.sampled_bytes for r in frame_sample(media, 4).collect()}
        assert [bytes(b) for b in out[1]] == [b"\x00"]
        assert len(out[3]) == 2  # bytes 1 and 5 of 8


class TestSkewOperators:
    def test_salted_join_equals_plain_join(self, spark):
        from e2e_stock_data_pipeline_spark.operators.skew import salted_join

        big = spark.createDataFrame(
            [(i, "hot" if i % 10 else "cold") for i in range(2000)], ["id", "k"]
        )
        small = spark.createDataFrame([("hot", 1), ("cold", 2), ("never", 3)], ["k", "tag"])
        plain = {(r.id, r.tag) for r in big.join(small, "k").collect()}
        salted = {(r.id, r.tag) for r in salted_join(big, small, "k", num_salts=4).collect()}
        assert salted == plain

    def test_two_phase_agg_equals_plain(self, spark):
        from e2e_stock_data_pipeline_spark.operators.skew import two_phase_agg

        df = spark.createDataFrame(
            [("hot" if i % 100 else f"k{i}", float(i)) for i in range(5000)], ["k", "v"]
        )
        plain = {
            (r.k, r.n, r.total, r.mx)
            for r in df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"), F.max("v").alias("mx"))
            .collect()
        }
        two = {
            (r.k, r.n, r.total, r.mx)
            for r in two_phase_agg(
                df, "k", {"n": "count:*", "total": "sum:v", "mx": "max:v"}, num_salts=8
            ).collect()
        }
        assert two == plain


class TestProductQuantization:
    def test_pq_rerank_recall_bound_and_shortlist_knob(self, spark, sf_dir):
        """q123's shortlist->rerank chain: recall vs exact brute force.

        The synthetic embeddings are near-uniform — the hard PQ regime
        (quantization error rivals the neighbor gap, see pq.py module
        doc), so the registered 32-wide shortlist catches ~half the true
        top-5 and widening the shortlist is the recall knob. A shortlist
        covering all candidates makes the chain EXACT (the rerank sees
        everything), which pins the truth set to the same code path.
        """
        from e2e_stock_data_pipeline_spark.operators.pq import pq_rerank_topk_seeded
        from e2e_stock_data_pipeline_spark.sources import tables

        e = tables.load(spark, sf_dir, "embeddings")
        q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)

        def pairs(shortlist):
            df = pq_rerank_topk_seeded(q, c, shortlist=shortlist, k_top=5)
            return {(r.query_id, r.cand_id) for r in df.collect()}

        truth = pairs(10_000)  # covers every candidate -> exact top-5
        assert len(truth) == 25
        narrow, wide = pairs(32), pairs(128)
        r_narrow = len(narrow & truth) / len(truth)
        r_wide = len(wide & truth) / len(truth)
        assert r_narrow >= 0.4  # measured 0.52-0.56 at sf0.001/sf0.01
        assert r_wide >= 0.8  # measured 0.88 — the knob works
        assert r_wide >= r_narrow


class TestBloom:
    def test_no_false_negatives_vs_exact_join(self, spark, sf_dir):
        """The Bloom contract: flagged set is a SUPERSET of the exact
        join (false negatives impossible by construction), with a
        measured false-positive rate far under the design bound."""
        from e2e_stock_data_pipeline_spark.operators.bloom import (
            bloom_build,
            bloom_probe,
        )
        from e2e_stock_data_pipeline_spark.operators.dedup import exploded_shingles
        from e2e_stock_data_pipeline_spark.sources import tables

        sh = exploded_shingles(
            tables.load(spark, sf_dir, "documents"), distinct=True
        )
        ev = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
        tr = sh.filter(F.col("doc_id") % 97 != 0).select("doc_id", "shingle")
        bloom = bloom_build(ev, "shingle")
        flagged = {
            (r.doc_id, r.shingle) for r in bloom_probe(tr, "shingle", bloom).collect()
        }
        exact = {
            (r.doc_id, r.shingle)
            for r in tr.join(ev, "shingle").select("doc_id", "shingle").collect()
        }
        assert exact and exact <= flagged
        assert len(flagged - exact) / tr.count() < 0.01

    def test_membership_on_known_set(self, spark):
        """Deterministic membership: present values always flagged; with
        m=65536 and 3 members, a false positive needs all 3 probe bits
        of an absent value set by chance (~1e-11) — assert absent."""
        from e2e_stock_data_pipeline_spark.operators.bloom import (
            bloom_build,
            bloom_probe,
        )

        members = spark.createDataFrame([("a",), ("b",), ("c",)], ["v"])
        probe = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("d",), ("e",)], ["v"]
        )
        bloom = bloom_build(members, "v")
        got = {r.v for r in bloom_probe(probe, "v", bloom).collect()}
        assert got == {"a", "b", "c"}


class TestCountMin:
    def test_one_sided_error_corpus_wide(self, spark, sf_dir):
        """est >= exact for EVERY word (collisions only add), and the
        mean overcount stays under the 2N/m design bound."""
        from e2e_stock_data_pipeline_spark.operators.countmin import (
            countmin_build,
            countmin_estimate,
        )
        from e2e_stock_data_pipeline_spark.sources import tables

        tok = tables.load(spark, sf_dir, "documents").select(
            F.explode(F.split(F.trim(F.col("text")), " +")).alias("word")
        )
        sketch = countmin_build(tok, "word")
        exact = tok.groupBy("word").agg(F.count(F.lit(1)).alias("exact_c"))
        est = countmin_estimate(exact, "word", sketch)
        n_total = tok.count()
        rows = est.collect()
        assert rows and all(r.cm_est >= r.exact_c for r in rows)
        mean_over = sum(r.cm_est - r.exact_c for r in rows) / len(rows)
        assert mean_over <= 2 * n_total / 4096

    def test_absent_value_estimates_zero_or_tiny(self, spark):
        from e2e_stock_data_pipeline_spark.operators.countmin import (
            countmin_build,
            countmin_estimate,
        )

        items = spark.createDataFrame([("x",)] * 5 + [("y",)] * 3, ["v"])
        sketch = countmin_build(items, "v")
        got = {
            r.v: r.cm_est
            for r in countmin_estimate(
                spark.createDataFrame([("x",), ("y",), ("zzz",)], ["v"]),
                "v",
                sketch,
            ).collect()
        }
        assert got["x"] >= 5 and got["y"] >= 3
        # 8 occurrences over 3x4096 cells: an absent value colliding on
        # all 3 rows is ~(8/4096)^3 — assert the exact-zero path works
        assert got["zzz"] == 0


class TestVectorLengthGuards:
    @pytest.mark.parametrize("which", ["pq", "ivf"])
    def test_short_embedding_raises_instead_of_truncating(self, spark, which):
        """ADVICE r7: zip_with truncates to the shorter array and
        slice() past the end returns short arrays, so a malformed
        embedding used to yield silently wrong distances. Both seeded
        ANN operators now raise from inside the plan."""
        from e2e_stock_data_pipeline_spark.operators.pq import pq_rerank_topk_seeded
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            ivf_rerank_topk_seeded,
        )

        good = [(i, [float((i * 13 + d) % 7) for d in range(16)]) for i in range(40)]
        bad = [(99, [1.0, 2.0])]  # length 2 != dim 16
        df = spark.createDataFrame(good + bad, ["vec_id", "embedding"])
        q, c = df.filter(F.col("vec_id") < 3), df.filter(F.col("vec_id") >= 3)
        # the USER_RAISED_EXCEPTION may fire on an executor task or
        # inside a broadcast-exchange thread depending on which stage
        # evaluates the bad row first, and Spark wraps the two
        # differently — assert on the message, not the wrapper class.
        # Construction sits INSIDE the raises block because the IVF
        # arrow path (r18) is eager like the iterative operators: its
        # seed/centroid collects evaluate the guard at build time.
        with pytest.raises(Exception, match="embedding length"):
            if which == "pq":
                res = pq_rerank_topk_seeded(
                    q, c, m=4, dim=16, n_seeds=8, shortlist=8, k_top=3
                )
            else:
                res = ivf_rerank_topk_seeded(q, c, dim=16, n_cells=8, n_probe=4, k_top=3)
            res.collect()


class TestEmaAlphaContract:
    def test_unvalidated_alpha_rejected(self, spark):
        """ADVICE r7: pandas ewm only matches q118's Catalyst fold
        bit-for-bit when alpha and 1-alpha are exact and sum to 1.0;
        an arbitrary alpha would silently break the hash-verified
        parity, so per_key_ema rejects values outside the dyadic set."""
        from e2e_stock_data_pipeline_spark.operators.grouped import per_key_ema

        df = spark.createDataFrame(
            [(1, 1, 1.0)], ["user_id", "event_id", "value"]
        ).withColumn("ts", F.current_timestamp())
        with pytest.raises(ValueError, match="bit-equality"):
            per_key_ema(df, alpha=0.3)
        per_key_ema(df, alpha=0.5)  # validated dyadic alpha constructs fine


class TestIvfSeeded:
    def test_ivf_rerank_recall_bound_and_probe_knob(self, spark, sf_dir):
        """q128's probe->rerank chain: recall vs exact brute force.

        Probing ALL cells makes the chain exact (the rerank sees every
        candidate), pinning the truth set to the same code path — the
        q123 convention. The synthetic embeddings are near-uniform (no
        cluster structure for the Lloyd step to exploit), the hard IVF
        regime. Below 1024 candidates the geometry is 16 cells with a
        probe floor of 16 DIV IVF_PROBE_DIV = 8 (q128's ring), so the
        narrow call is that floor and widening n_probe past it is the
        recall knob.
        """
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            ivf_rerank_topk_seeded,
        )
        from e2e_stock_data_pipeline_spark.sources import tables

        e = tables.load(spark, sf_dir, "embeddings")
        q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)

        def pairs(n_probe):
            df = ivf_rerank_topk_seeded(q, c, n_probe=n_probe, k_top=5)
            return {(r.query_id, r.cand_id) for r in df.collect()}

        truth = pairs(16)  # every cell probed -> exact top-5
        assert len(truth) == 25
        narrow, wide = pairs(8), pairs(12)
        r_narrow = len(narrow & truth) / len(truth)
        r_wide = len(wide & truth) / len(truth)
        assert r_narrow >= 0.4  # measured 0.68-0.84 at sf0.01/sf0.001
        assert r_wide >= 0.6  # measured 0.96 at both — the knob works
        assert r_wide >= r_narrow

    def test_ivf_clusters_recover_planted_structure(self, spark):
        """On genuinely clustered data (the regime IVF exists for) the
        seeded-Lloyd index recovers nearly all of exact top-3 with
        4/8 probes, the probe floor at 8 cells."""
        import numpy as np

        from e2e_stock_data_pipeline_spark.operators.similarity import (
            ivf_rerank_topk_seeded,
        )

        rng = np.random.default_rng(11)
        centers = rng.normal(scale=5.0, size=(8, 16))
        vecs = [centers[i % 8] + rng.normal(scale=0.3, size=16) for i in range(200)]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            ["vec_id", "embedding"],
        )
        q, c = df.filter(F.col("vec_id") < 4), df.filter(F.col("vec_id") >= 4)

        def pairs(n_probe):
            res = ivf_rerank_topk_seeded(q, c, dim=16, n_cells=8, n_probe=n_probe, k_top=3)
            return {(r.query_id, r.cand_id) for r in res.collect()}

        truth = pairs(8)
        assert len(truth) == 12
        got = pairs(4)
        assert len(got & truth) >= int(0.8 * len(truth))

    def test_ivf_arrow_empty_candidates_return_empty_frame(self, spark, sf_dir):
        """No candidates: the operator returns an empty result frame with
        the columns and types of a non-empty call instead of dying on a
        0-row centroid matrix."""
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            ivf_rerank_topk_seeded,
        )
        from e2e_stock_data_pipeline_spark.sources import tables

        e = tables.load(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 5)
        empty = ivf_rerank_topk_seeded(q, e.filter(F.col("vec_id") < 0))
        full = ivf_rerank_topk_seeded(q, e.filter(F.col("vec_id") >= 5))
        assert empty.collect() == []
        assert full.collect()
        assert empty.dtypes == full.dtypes

    def test_ivf_arrow_assign_rejects_null_elements(self, spark):
        """A NULL inside a quantized vector must fail loudly, not become
        NaN and then an arbitrary int64 that picks a wrong cell."""
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            _assign_cells,
        )

        cn = spark.createDataFrame(
            [(1, [1, 2]), (2, [3, None])], "cand_id int, _q array<bigint>"
        )
        cents = np.asarray([[0, 0], [4, 4]], dtype=np.int64)
        assigned = _assign_cells(cn, [0, 1], cents, 2, "int")
        with pytest.raises(Exception, match="NULL _q elements"):
            assigned.collect()


class TestIncrementalNearDup:
    def test_equals_cross_boundary_slice_of_full_pipeline(self, spark, sf_dir):
        """The incremental (new-vs-corpus) check must find EXACTLY the
        full pipeline's verified pairs that straddle the boundary —
        same banding family, same verify threshold, so restricting the
        candidate join to new x old loses nothing and adds nothing."""
        from e2e_stock_data_pipeline_spark.operators import dedup as D
        from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules
        from e2e_stock_data_pipeline_spark.sources import tables

        docs = tables.load(spark, sf_dir, "documents")
        inc = {
            (r.doc_new, r.doc_old)
            for r in D.incremental_neardup(
                docs, F.col("doc_id") % 5 == 0, threshold=0.5
            ).collect()
        }
        assert inc  # non-degenerate at this sf
        full = load_all_query_modules()["q86_neardup_pipeline"].spark(spark, sf_dir)
        cross = set()
        for r in full.collect():
            a_new, b_new = r.doc_a % 5 == 0, r.doc_b % 5 == 0
            if a_new != b_new:  # exactly one side in the new batch
                cross.add((r.doc_a, r.doc_b) if a_new else (r.doc_b, r.doc_a))
        assert inc == cross

    def test_bucket_cap_nonbinding_then_binding(self, spark, sf_dir):
        """filter_hot_buckets semantics via incremental_neardup: a cap
        above the max bucket size changes NOTHING (the sf<=1 guarantee
        behind the q126/q155 density guard), while cap=0 drops every
        bucket and yields no candidates."""
        from e2e_stock_data_pipeline_spark.operators import dedup as D
        from e2e_stock_data_pipeline_spark.sources import tables

        docs = tables.load(spark, sf_dir, "documents")
        flag = F.col("doc_id") % 5 == 0
        uncapped = {
            tuple(r)
            for r in D.incremental_neardup(docs, flag, threshold=0.5).collect()
        }
        assert uncapped
        loose = {
            tuple(r)
            for r in D.incremental_neardup(
                docs, flag, threshold=0.5, max_bucket=10**9
            ).collect()
        }
        assert loose == uncapped
        assert (
            D.incremental_neardup(docs, flag, threshold=0.5, max_bucket=0).count()
            == 0
        )

    def test_filter_hot_buckets_drops_only_hot(self, spark):
        from e2e_stock_data_pipeline_spark.operators.dedup import filter_hot_buckets

        rows = [(i, 0, 7, 8) for i in range(5)] + [(90, 1, 3, 5), (91, 1, 4, 5)]
        bands = spark.createDataFrame(rows, ["doc_id", "band", "s0", "s1"])
        kept = filter_hot_buckets(bands, max_bucket=4).collect()
        # the 5-member (0, 7, 8) bucket is dropped; singletons survive
        assert sorted((r.doc_id, r.band, r.s0, r.s1) for r in kept) == [
            (90, 1, 3, 5),
            (91, 1, 4, 5),
        ]


def _finish_bounds(monkeypatch):
    """Yield each graph tail in turn: ``LOCAL_FINISH_ROWS`` = 0 keeps
    every round distributed, the default finishes small graphs on the
    driver. The bound is a module constant read at call time."""
    from e2e_stock_data_pipeline_spark.operators import materialize as mat

    default = mat.LOCAL_FINISH_ROWS
    for bound in (0, default):
        monkeypatch.setattr(mat, "LOCAL_FINISH_ROWS", bound)
        yield bound


class TestConnectedComponents:
    def test_known_clusters(self, spark, monkeypatch):
        from e2e_stock_data_pipeline_spark.operators.dedup import connected_components

        nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
        # components: {0,1,2,3} (chain), {4,5}, {6}, {7}
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"]
        )
        for bound in _finish_bounds(monkeypatch):
            got = {
                r.doc_id: r.cluster_id
                for r in connected_components(nodes, edges).collect()
            }
            assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7}, bound

    @staticmethod
    def _union_find(n, pairs):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label: min node id in the component
        labels = {}
        for x in range(n):
            r = find(x)
            labels.setdefault(r, x)  # first x hitting r is the min (ascending scan)
        return {x: labels[find(x)] for x in range(n)}

    def test_random_graphs_match_union_find(self, spark, monkeypatch):
        """Property: on arbitrary random graphs, given as a set or as a
        lazy multigraph, the min-label fixpoint, distributed or finished
        on the driver, equals a sequential union-find reference."""
        import random

        from e2e_stock_data_pipeline_spark.operators import dedup
        from e2e_stock_data_pipeline_spark.operators.dedup import connected_components

        for bound in _finish_bounds(monkeypatch):
            for seed in range(5):
                rng = random.Random(seed)
                n = rng.randint(5, 40)
                m = rng.randint(0, 2 * n)
                pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
                pairs = [(a, b) for a, b in pairs if a != b]
                expect = self._union_find(n, pairs)
                nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
                edges = spark.createDataFrame(pairs or [(0, 0)], ["doc_a", "doc_b"])
                if not pairs:
                    edges = edges.limit(0)
                # the same graph as a lazy multigraph: every edge again,
                # reversed, and a self-loop on every node
                multi = (
                    edges.unionByName(edges)
                    .unionByName(
                        edges.select(
                            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
                        )
                    )
                    .unionByName(
                        nodes.select(
                            F.col("doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
                        )
                    )
                )
                monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", n + 1)
                for shape, e in (("set", edges), ("multigraph", multi)):
                    got = {
                        r.doc_id: r.cluster_id
                        for r in connected_components(nodes, e).collect()
                    }
                    assert got == expect, (
                        f"bound={bound} seed={seed} n={n} m={len(pairs)} {shape}"
                    )

    def test_driver_finish_at_the_bound_matches_union_find(self, spark, monkeypatch):
        """Old-vs-new equivalence right at the switch: with the bound set
        to the edge count round 0's checkpoint observes (n), and to n - 1
        and n + 1, the labels equal the union-find reference, and the
        driver finish runs right after round 0 exactly when n <= bound.
        Round 0's checkpoint is the first one observed: the input edge
        set is not checkpointed."""
        import random

        from e2e_stock_data_pipeline_spark.operators import dedup
        from e2e_stock_data_pipeline_spark.operators import materialize as mat

        observed, finished = [], []
        real_materialize, real_finish = dedup.materialize, dedup._driver_labels

        def spy_materialize(df, *cols, **kw):
            out, st = real_materialize(df, *cols, **kw)
            if kw.get("observe"):  # each round's edge set
                observed.append(st["n"])
            return out, st

        def spy_finish(e):
            finished.append(len(observed))
            return real_finish(e)

        monkeypatch.setattr(dedup, "materialize", spy_materialize)
        monkeypatch.setattr(dedup, "_driver_labels", spy_finish)
        for seed in range(3):
            rng = random.Random(100 + seed)
            n = rng.randint(30, 60)
            # a shuffled chain does not contract in one round; random
            # chords on top vary the shape
            order = rng.sample(range(n), n)
            pairs = list(zip(order, order[1:]))
            pairs += [tuple(rng.sample(range(n), 2)) for _ in range(n // 3)]
            expect = self._union_find(n, pairs)
            nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id: long")
            edges = spark.createDataFrame(pairs, "doc_a: long, doc_b: long")

            def run(bound):
                observed.clear()
                finished.clear()
                monkeypatch.setattr(mat, "LOCAL_FINISH_ROWS", bound)
                got = {
                    r.doc_id: r.cluster_id
                    for r in dedup.connected_components(nodes, edges).collect()
                }
                assert got == expect, f"seed={seed} bound={bound}"

            run(0)
            assert not finished and len(observed) > 1, "round 0 converged"
            round0 = observed[0]
            for bound, finish_after_round0 in (
                (round0 - 1, False),
                (round0, True),
                (round0 + 1, True),
            ):
                run(bound)
                assert (finished[:1] == [1]) == finish_after_round0, (seed, bound)
                assert len(finished) <= 1

    def test_chain_graph_fast_convergence_and_budget_surfaces(self, spark, monkeypatch):
        """Large-star/small-star contracts a chain in O(log^2 n) rounds,
        NOT O(diameter): a 120-node chain (which min-label propagation
        would need ~119 rounds for) must solve well inside the default
        20-round budget. An absurdly small budget must still RAISE
        (partial labels are wrong labels). Run with every round
        distributed: the budget only binds there."""
        import pytest

        from e2e_stock_data_pipeline_spark.operators import dedup
        from e2e_stock_data_pipeline_spark.operators import materialize as mat
        from e2e_stock_data_pipeline_spark.operators.dedup import connected_components

        monkeypatch.setattr(mat, "LOCAL_FINISH_ROWS", 0)
        n = 120
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
        assert dedup.CC_MAX_ROUNDS == 20
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(nodes, edges).collect()
        }
        assert got == {i: 0 for i in range(n)}
        monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(nodes, edges)

    def test_chain_finishes_exactly_on_the_driver_within_one_round(self, spark, monkeypatch):
        """At the default bound the 120-node chain's first round leaves
        a small edge set, which the driver labels exactly: a budget of
        one round is enough."""
        from e2e_stock_data_pipeline_spark.operators import dedup
        from e2e_stock_data_pipeline_spark.operators.dedup import connected_components

        monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
        n = 120
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"])
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(nodes, edges).collect()
        }
        assert got == {i: 0 for i in range(n)}

    def test_min_labels_is_the_component_minimum(self):
        from e2e_stock_data_pipeline_spark.operators.dedup import _min_labels

        # {3, 9, 40} via a path through the largest id, {7, 8}; ids are
        # sparse and unsorted so index order must be id order
        u = np.array([40, 9, 8], np.int64)
        v = np.array([3, 40, 7], np.int64)
        nodes, labels = _min_labels(u, v)
        assert dict(zip(nodes.tolist(), labels.tolist())) == {
            3: 3, 9: 3, 40: 3, 7: 7, 8: 7
        }


class TestAsofForward:
    def test_forward_direction(self, spark):
        left = spark.createDataFrame(
            [("A", ts(10), "p1"), ("A", ts(16), "p2"), ("B", ts(50), "p3")], ["k", "t", "pid"]
        )
        right = spark.createDataFrame(
            [("A", ts(10), 1.0), ("A", ts(15), 2.0), ("A", ts(30), 3.0)], ["k", "rt", "val"]
        )
        out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                        value_cols=["val"], how="left", direction="forward")
        got = {r.pid: (r.asof_rt, r.asof_val) for r in out.collect()}
        assert got == {
            "p1": (ts(10), 1.0),   # equality still matches
            "p2": (ts(30), 3.0),   # earliest right AT OR AFTER t=16
            "p3": (None, None),    # no right rows for B
        }


class TestIntervalJoin:
    def test_equals_naive_theta_join(self, spark):
        from e2e_stock_data_pipeline_spark.operators.interval import interval_join

        points = spark.createDataFrame(
            [(i, float(i * 7 % 1000)) for i in range(500)], ["pid", "t"]
        )
        intervals = spark.createDataFrame(
            [(j, float(j * 50), float(j * 50 + (j % 5) * 37 + 1)) for j in range(40)],
            ["iid", "s", "e"],
        )
        fast = {
            (r.pid, r.iid)
            for r in interval_join(points, intervals, "t", "s", "e", chunk=64).collect()
        }
        naive = {
            (r.pid, r.iid)
            for r in points.join(
                intervals, (points.t >= intervals.s) & (points.t < intervals.e)
            ).collect()
        }
        assert fast == naive and len(fast) > 0

    def test_plan_is_equi_join_not_bnlj(self, spark):
        from e2e_stock_data_pipeline_spark.operators.interval import interval_join

        points = spark.range(100000).select((F.col("id") % 100000).cast("double").alias("t"))
        intervals = spark.range(1000).select(
            (F.col("id") * 100.0).alias("s"), (F.col("id") * 100.0 + 250).alias("e")
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = interval_join(points, intervals, "t", "s", "e", chunk=100)._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoopJoin" not in plan
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestDistributedGlobalRanking:
    def test_global_rank_matches_single_partition_window(self, spark):
        from e2e_stock_data_pipeline_spark.operators.ranking import global_rank
        from pyspark.sql import Window

        df = spark.range(10000).select(
            (F.xxhash64("id") % 100000).alias("v"), F.col("id")
        ).repartition(16)
        fast = {(r.id): r.rank for r in global_rank(df, [F.col("v"), F.col("id")]).collect()}
        w = Window.orderBy(F.col("v"), F.col("id"))
        slow = {(r.id): r.rank for r in df.select("id", F.row_number().over(w).alias("rank")).collect()}
        assert fast == slow

    def test_global_ntile_matches_sql_ntile(self, spark):
        from e2e_stock_data_pipeline_spark.operators.ranking import global_ntile
        from pyspark.sql import Window

        df = spark.range(1003).select((F.xxhash64("id") % 997).alias("v"), "id").repartition(8)
        fast = {r.id: r.tile for r in global_ntile(df, [F.col("v"), F.col("id")], 7).collect()}
        w = Window.orderBy(F.col("v"), F.col("id"))
        slow = {r.id: r.tile for r in df.select("id", F.ntile(7).over(w).alias("tile")).collect()}
        assert fast == slow

    def test_no_single_partition_window_in_plan(self, spark):
        from e2e_stock_data_pipeline_spark.operators.ranking import global_rank

        df = spark.range(100000).select((F.col("id") % 9999).alias("v"), "id")
        out = global_rank(df, [F.col("v"), F.col("id")])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_tile_sizes_exact_at_scale(self, spark):
        """Regression: range-partition boundary sampling must not shift
        between the count pass and the output pass (tiles were garbage at
        1M rows before the partitioning was pinned)."""
        from e2e_stock_data_pipeline_spark.operators.ranking import global_ntile

        df = spark.range(300_001).select((F.xxhash64("id") % 10_000_000).alias("v"), "id")
        tiles = global_ntile(df, [F.col("v"), F.col("id")], 10)
        sizes = {r.tile: r.cnt for r in tiles.groupBy("tile").count().withColumnRenamed("count", "cnt").collect()}
        assert set(sizes) == set(range(1, 11))
        assert sizes[1] == 30001 and all(sizes[t] == 30000 for t in range(2, 11))


def _ivf_reference(queries, candidates, n_cells, n_probe, k_top, dim=64):
    """Sorted (query_id, cand_id, cell, exact_d2, rnk) rows of the seeded
    IVF, replayed in numpy over the Spark-quantized vectors: seeds are
    the n_cells smallest-id candidates, one Lloyd step sets each
    non-empty cell's centroid to its members' component-wise sum
    divided by their count, truncated toward zero; assignment and
    probes order cells by (full d2, cell), the rerank orders candidates
    by (exact_d2, cand_id)."""
    from e2e_stock_data_pipeline_spark.operators.similarity import quantized

    def vectors(df):
        rows = df.select("vec_id", quantized("embedding").alias("_q")).collect()
        assert all(len(r["_q"]) == dim for r in rows)
        return dict(sorted((r["vec_id"], r["_q"]) for r in rows))

    qs, cs = vectors(queries), vectors(candidates)
    if not cs:
        return []
    ids = list(cs)
    x = np.asarray(list(cs.values()), dtype=np.int64)

    def nearest(cells, cents):
        d2 = np.stack([((x - cent) ** 2).sum(axis=1) for cent in cents], axis=1)
        tied = d2 == d2.min(axis=1, keepdims=True)
        big = np.iinfo(np.int64).max
        return np.where(tied, np.asarray(cells)[None, :], big).min(axis=1)

    seeds = x[:n_cells]
    first = nearest(list(range(len(seeds))), seeds)
    cells = sorted(set(first.tolist()))
    cents = []
    for cell in cells:
        members = x[first == cell]
        total, n = members.sum(axis=0).tolist(), len(members)
        cents.append([abs(t) // n * (1 if t >= 0 else -1) for t in total])
    cents = np.asarray(cents, dtype=np.int64)
    indexed = nearest(cells, cents)

    rows = []
    for qid, qv in qs.items():
        qv = np.asarray(qv, dtype=np.int64)
        ranked = sorted(
            (int(((cent - qv) ** 2).sum()), cell) for cell, cent in zip(cells, cents)
        )
        probed = {cell for _d2, cell in ranked[:n_probe]}
        hits = sorted(
            (int(((x[i] - qv) ** 2).sum()), cid, int(indexed[i]))
            for i, cid in enumerate(ids)
            if indexed[i] in probed
        )
        rows += [
            (qid, cid, cell, d2, rnk)
            for rnk, (d2, cid, cell) in enumerate(hits[:k_top], 1)
        ]
    return sorted(rows)


class TestDensityScaledGeometry:
    """r16 (VERDICT r15 items 1-2): the similarity tier's two remaining
    fixed geometries became density-scaled — banded hyperplane LSH for
    the incremental embedding near-dup and sqrt-scaled IVF cells/probes.
    These tests pin (a) Spark/SQL ladder agreement, (b) bit-equivalence
    with the legacy geometry below the density thresholds, and (c) the
    banding invariants (exact duplicates always collide; output is a
    subset of true pairs) at a density that engages the scaling."""

    def test_embed_r_ladder_spark_matches_sql(self, spark):
        import duckdb

        from e2e_stock_data_pipeline_spark.operators.similarity import (
            EMBED_R_MAX,
            embed_r_col,
            embed_r_sql,
        )

        counts = [0, 1, 40, 640, 641, 1280, 1281, 159_999, 163_840,
                  163_841, 40 * (1 << 15), 40 * (1 << 15) + 1, 10**9]
        df = spark.createDataFrame([(c,) for c in counts], ["n"])
        got = {
            r.n: r.r
            for r in df.select("n", embed_r_col(F.col("n")).alias("r")).collect()
        }
        con = duckdb.connect()
        for c in counts:
            assert got[c] == con.execute(f"SELECT {embed_r_sql(str(c))}").fetchone()[0]
        # the thresholds that matter: gate density stays at the legacy 4
        # planes; sf10's 160k old corpus lands on r=12; the cap holds
        assert got[640] == 4 and got[641] == 5
        assert got[159_999] == 12 and got[163_841] == 13
        assert got[10**9] == EMBED_R_MAX

    def test_banded_neardup_finds_duplicates_and_stays_sound(self, spark):
        """At a density that engages banding (n_old=2000 -> r=6, B=2):
        planted EXACT duplicates must always surface (identical vectors
        give identical sign bits in every band — collision probability
        1, not probabilistic), and every emitted pair must be a true
        quantized-cosine >= threshold pair (the verify is exact)."""
        import math
        import random

        from e2e_stock_data_pipeline_spark.operators.similarity import (
            incremental_embed_neardup,
        )

        rng = random.Random(7)
        dim = 8
        rows = [
            (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)])
            for i in range(2500)
        ]
        # plant 5 exact duplicates: new ids (% 5 == 0) copying old vectors
        planted = []
        for k, old_id in enumerate([2499, 2497, 2493, 2491, 2489]):  # % 5 != 0
            new_id = 5 * k
            rows[new_id] = (new_id, list(rows[old_id][1]))
            planted.append((new_id, old_id))
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = incremental_embed_neardup(
            df, F.col("vec_id") % 5 == 0, threshold=0.9, dim=dim
        )
        got = {(r.vec_new, r.vec_old): r.cos_sim for r in out.collect()}
        for p in planted:
            assert p in got, f"exact duplicate {p} missed by banding"
            assert abs(got[p] - 1.0) < 1e-12
        # soundness: every emitted pair really clears the threshold on
        # the quantized-integer cosine (exact recompute in python)
        vec = {i: [math.floor(x * 10000) for x in v] for i, v in rows}
        for (a, b), cs in got.items():
            qa, qb = vec[a], vec[b]
            dot = sum(x * y for x, y in zip(qa, qb))
            na = math.sqrt(sum(x * x for x in qa))
            nb = math.sqrt(sum(x * x for x in qb))
            assert a % 5 == 0 and b % 5 != 0
            assert dot / (na * nb) >= 0.9
            assert abs(dot / (na * nb) - cs) < 1e-12

    def test_ivf_above_threshold_geometry_matches_reference(self, spark):
        """Above the threshold the candidate count picks the geometry:
        n_cand=1595 -> cells = floor(sqrt(1595 DIV 4)) = 19, probes =
        max(4, 19 DIV 2) = 9 (r17 probe fraction), and the operator
        equals the numpy reference at exactly that geometry."""
        import random

        from e2e_stock_data_pipeline_spark.operators.similarity import (
            ivf_rerank_topk_seeded,
        )

        rng = random.Random(11)
        dim = 16
        df = spark.createDataFrame(
            [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(1600)],
            ["vec_id", "embedding"],
        )
        q, c = df.filter(F.col("vec_id") < 5), df.filter(F.col("vec_id") >= 5)
        got = sorted(
            map(tuple, ivf_rerank_topk_seeded(q, c, dim=dim, k_top=3).collect())
        )
        assert got == _ivf_reference(q, c, 19, 9, k_top=3, dim=dim)

    def test_ivf_matches_numpy_reference_bitwise(self, spark, sf_dir):
        """q128's operator must be BIT-IDENTICAL to an independent numpy
        replay of the algorithm its oracle states — smallest-id seeds,
        one truncating Lloyd step, explicit (d2, cell) and
        (exact_d2, cand_id) tie order — at q128's floors and at lower
        floors the candidate count scales past. This is the parity row
        that licenses the only registered mapInArrow site outside the
        sanctioned q125 boundary."""
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            IVF_CELLS_MAX,
            IVF_CELLS_SCALE_DIV,
            IVF_PROBE_DIV,
            ivf_rerank_topk_seeded,
        )

        e = tables.load(spark, sf_dir, "embeddings")
        q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
        n_cand = c.count()
        for n_cells, n_probe in ((16, 4), (8, 4)):
            cells = min(
                IVF_CELLS_MAX, max(n_cells, math.isqrt(n_cand // IVF_CELLS_SCALE_DIV))
            )
            probes = max(n_probe, cells // IVF_PROBE_DIV)
            got = sorted(
                map(
                    tuple,
                    ivf_rerank_topk_seeded(
                        q, c, n_cells=n_cells, n_probe=n_probe, k_top=5
                    ).collect(),
                )
            )
            assert got == _ivf_reference(q, c, cells, probes, k_top=5), n_cells

    def test_ivf_reference_tie_order_on_duplicate_vectors(self, spark):
        """Duplicate vectors make every tie real: duplicate seeds tie
        each assignment (the smaller cell wins and the other cell
        empties), symmetric clusters tie a query's probe ranking
        between cells, and duplicate candidates tie exact_d2 (the
        smaller cand_id ranks first). The negative clusters' centroid
        sums do not divide evenly, so a floor division instead of
        truncation breaks the symmetry the probe ties rest on."""
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            ivf_rerank_topk_seeded,
        )

        a, b = 1.0, 1.25  # exact in binary, so quantizing is exact too
        cand = [
            (0, [a, 0.0]), (1, [a, 0.0]), (2, [-a, 0.0]), (3, [0.0, a]),
            (4, [0.0, -a]), (5, [0.0, -a]), (6, [b, 0.0]), (7, [-a, 0.0]),
            (8, [-b, 0.0]), (9, [0.0, b]), (10, [0.0, a]), (11, [0.0, -b]),
        ]
        qry = [(100, [0.0, 0.0]), (101, [0.5, 0.5]), (102, [a, 0.0])]
        c = spark.createDataFrame(cand, "vec_id long, embedding array<double>")
        q = spark.createDataFrame(qry, "vec_id long, embedding array<double>")
        got = sorted(
            map(
                tuple,
                ivf_rerank_topk_seeded(
                    q, c, dim=2, n_cells=6, n_probe=2, k_top=3
                ).collect(),
            )
        )
        # 6 cells floor the probe ring at 6 DIV IVF_PROBE_DIV = 3
        want = _ivf_reference(q, c, 6, 3, k_top=3, dim=2)
        assert got == want
        # the ties resolved as described: cells 1 and 5 emptied, the
        # origin query probed cells 0, 2 and 3 of four equidistant ones
        # and ranked the tied candidates 0, 1, 2 by id
        assert {r[2] for r in want} <= {0, 2, 3, 4}
        assert [(r[1], r[2], r[4]) for r in want if r[0] == 100] == [
            (0, 0, 1), (1, 0, 2), (2, 2, 3)
        ]

    def test_pq_shortlist_div_zero_rejected(self, spark, sf_dir):
        """ADVICE r15: shortlist_scale_div=0 used to silently disable
        the density guard (falsy), diverging from the documented
        None-to-disable contract — now it raises."""
        import pytest

        from e2e_stock_data_pipeline_spark.operators.pq import pq_rerank_topk_seeded
        from e2e_stock_data_pipeline_spark.sources import tables

        e = tables.load(spark, sf_dir, "embeddings")
        q, c = e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5)
        with pytest.raises(ValueError, match="shortlist_scale_div"):
            pq_rerank_topk_seeded(q, c, shortlist_scale_div=0)


class TestAsofTolerance:
    def frames(self, spark):
        left = spark.createDataFrame(
            [("A", ts(30), "p1"), ("A", ts(59), "p2")], ["k", "t", "pid"]
        )
        right = spark.createDataFrame(
            [("A", ts(0), 1.0), ("A", ts(55), 2.0)], ["k", "rt", "val"]
        )
        return left, right

    def test_inner_drops_stale_matches(self, spark):
        left, right = self.frames(spark)
        out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                        value_cols=["val"], how="inner", tolerance="10 MINUTES")
        got = {r.pid: r.asof_val for r in out.collect()}
        # p1's only candidate (ts 0) is 30min stale -> dropped; p2 matches ts 55
        assert got == {"p2": 2.0}

    def test_left_nulls_stale_matches(self, spark):
        left, right = self.frames(spark)
        out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                        value_cols=["val"], how="left", tolerance="10 MINUTES")
        got = {r.pid: (r.asof_rt, r.asof_val) for r in out.collect()}
        assert got == {"p1": (None, None), "p2": (ts(55), 2.0)}


class TestSaltedJoinOuterGuard:
    def test_rejects_right_and_full_outer(self, spark):
        from e2e_stock_data_pipeline_spark.operators.skew import salted_join

        big = spark.createDataFrame([(1, "a")], ["id", "k"])
        small = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "tag"])
        for how in ("right", "full", "full_outer", "left_anti"):
            with pytest.raises(ValueError):
                salted_join(big, small, "k", how=how)

    def test_left_outer_keeps_unmatched_big_rows_once(self, spark):
        from e2e_stock_data_pipeline_spark.operators.skew import salted_join

        big = spark.createDataFrame(
            [(i, "hot" if i % 3 else "miss") for i in range(300)], ["id", "k"]
        )
        small = spark.createDataFrame([("hot", 1)], ["k", "tag"])
        plain = sorted((r.id, r.tag) for r in big.join(small, "k", "left").collect())
        salted = sorted(
            (r.id, r.tag) for r in salted_join(big, small, "k", how="left").collect()
        )
        assert salted == plain

    def test_salt_deterministic_across_runs(self, spark):
        from e2e_stock_data_pipeline_spark.operators.skew import salted_join

        big = spark.createDataFrame([(i, "k0") for i in range(100)], ["id", "k"])
        small = spark.createDataFrame([("k0", 1)], ["k", "tag"])
        a = salted_join(big, small, "k", num_salts=4)
        b = salted_join(big, small, "k", num_salts=4)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestIntervalJoinLeft:
    def test_left_keeps_uncontained_points(self, spark):
        from e2e_stock_data_pipeline_spark.operators.interval import interval_join

        points = spark.createDataFrame(
            [(1, 5.0), (2, 55.0), (3, 999.0)], ["pid", "t"]
        )
        intervals = spark.createDataFrame(
            [(10, 0.0, 10.0), (11, 50.0, 60.0)], ["iid", "s", "e"]
        )
        out = interval_join(points, intervals, "t", "s", "e", chunk=16, how="left")
        got = {r.pid: r.iid for r in out.collect()}
        assert got == {1: 10, 2: 11, 3: None}
        assert out.count() == 3  # no duplicate left rows from chunk replicas

    def test_rejects_right_outer(self, spark):
        from e2e_stock_data_pipeline_spark.operators.interval import interval_join

        df = spark.createDataFrame([(1, 1.0)], ["pid", "t"])
        iv = spark.createDataFrame([(1, 0.0, 2.0)], ["iid", "s", "e"])
        with pytest.raises(ValueError):
            interval_join(df, iv, "t", "s", "e", chunk=4, how="right")


class TestJaccardPostingCap:
    def corpus(self, spark):
        # 30 docs share one viral shingle ("the same boiler plate" trigrams);
        # two docs are genuine near-dups of each other.
        boiler = "common viral boilerplate phrase here"
        rows = [(i, f"{boiler} unique{i} tail{i} words{i} extra{i}") for i in range(30)]
        rows += [(100, "alpha beta gamma delta epsilon zeta"),
                 (101, "alpha beta gamma delta epsilon different")]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_cap_bounds_candidate_pairs(self, spark):
        from e2e_stock_data_pipeline_spark.operators.dedup import (
            exploded_shingles,
            ngram_jaccard_pairs,
        )

        sh = exploded_shingles(self.corpus(spark))
        uncapped = ngram_jaccard_pairs(sh, threshold=0.0)
        capped = ngram_jaccard_pairs(sh, threshold=0.0, max_doc_freq=5)
        # viral shingles pair all 30 boilerplate docs: ~30*29/2 pairs
        assert uncapped.count() > 400
        # cap drops the viral shingles; only genuinely-overlapping docs pair
        capped_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
        assert (100, 101) in capped_pairs
        assert len(capped_pairs) < 10

    def test_capped_jaccard_exact_on_surviving_shingles(self, spark):
        from e2e_stock_data_pipeline_spark.operators.dedup import (
            exploded_shingles,
            ngram_jaccard_pairs,
        )

        sh = exploded_shingles(self.corpus(spark))
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(sh, threshold=0.0, max_doc_freq=5).collect()
        }
        # docs 100/101: 4 shingles each (6 words), 3 shared, none viral
        # jaccard = 3 / (4 + 4 - 3) = 0.6
        assert abs(got[(100, 101)] - 0.6) < 1e-12


class TestLshBlockedNearDup:
    def test_subset_of_exact_and_nonempty(self, spark, sf_dir):
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            lsh_blocked_neardup_pairs,
        )
        from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

        reg = load_all_query_modules()
        exact = {
            (r.vec_a, r.vec_b)
            for r in reg["q50_cosine_neardup_pairs"].spark(spark, sf_dir).collect()
        }
        emb = tables.load(spark, sf_dir, "embeddings")
        blocked_df = lsh_blocked_neardup_pairs(
            emb, label_col="label", threshold=0.2, n_planes=4, seed=13
        )
        blocked = {(r.vec_a, r.vec_b) for r in blocked_df.collect()}
        assert blocked <= exact          # precision 1 at equal threshold
        assert len(blocked) > 0          # recall > 0 at this sf
        # multi-probe (union over seeds) strictly improves recall
        probe2 = blocked | {
            (r.vec_a, r.vec_b)
            for r in lsh_blocked_neardup_pairs(
                emb, label_col="label", threshold=0.2, n_planes=4, seed=99
            ).collect()
        }
        assert probe2 <= exact and len(probe2) >= len(blocked)

    def test_banded_path_is_label_bucket_blocking_on_the_gate_corpus(self, spark, sf_dir):
        """Old-vs-new equivalence: below the 640-row density floor the
        banded geometry is one 4-plane table, so the pairs and their
        cosines equal the single-table (bucket, label) blocking written
        out here. Above the floor the two differ by design (2000 rows:
        1256 single-table pairs, 822 banded)."""
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            cosine_q,
            hyperplane_lsh_buckets,
            lsh_blocked_neardup_pairs,
            with_quantized_norm,
        )

        emb = tables.load(spark, sf_dir, "embeddings")
        assert emb.count() < 640
        e = with_quantized_norm(emb).join(
            hyperplane_lsh_buckets(emb, n_planes=4, seed=13), "vec_id"
        )
        a = e.select(
            F.col("vec_id").alias("vec_a"), "bucket", "label",
            F.col("_q").alias("_qa"), F.col("_nn").alias("_na"),
        )
        b = e.select(
            F.col("vec_id").alias("vec_b"), "bucket", "label",
            F.col("_q").alias("_qb"), F.col("_nn").alias("_nb"),
        )
        cos = cosine_q(F.col("_qa"), F.col("_qb"), F.col("_na"), F.col("_nb"))
        legacy = [
            (r.vec_a, r.vec_b, r.cos_sim)
            for r in a.join(b, ["bucket", "label"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", cos.alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.2)
            .collect()
        ]
        banded = [
            (r.vec_a, r.vec_b, r.cos_sim)
            for r in lsh_blocked_neardup_pairs(
                emb, label_col="label", threshold=0.2, n_planes=4, seed=13
            ).collect()
        ]
        assert legacy
        assert sorted(banded) == sorted(legacy)

    def test_empty_input_yields_empty_buckets(self, spark):
        from e2e_stock_data_pipeline_spark.operators.similarity import (
            hyperplane_lsh_buckets,
        )

        empty = spark.createDataFrame(
            [], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
        assert hyperplane_lsh_buckets(empty).count() == 0


class TestMultimodalHeaderParse:
    """PNG/WAV container headers parsed by pure Catalyst binary math —
    the non-stubbed half of the multimodal surface. Test bytes are
    handcrafted per the public container specs (no media libs)."""

    def _png(self, w: int, h: int) -> bytes:
        import struct

        sig = bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])
        ihdr_body = struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 0])
        return sig + struct.pack(">I", len(ihdr_body)) + b"IHDR" + ihdr_body

    def _wav(self, channels: int, rate: int, bits: int) -> bytes:
        import struct

        fmt_body = struct.pack("<HHIIHH", 1, channels, rate,
                               rate * channels * bits // 8,
                               channels * bits // 8, bits)
        return (
            b"RIFF" + struct.pack("<I", 36) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
        )

    def test_png_dimensions(self, spark):
        from e2e_stock_data_pipeline_spark.operators.multimodal import png_metadata

        rows = [
            (1, self._png(640, 480)),
            (2, self._png(1920, 1080)),
            (3, b"not a png at all, just bytes"),
            (4, None),
        ]
        media = spark.createDataFrame(rows, "media_id LONG, content BINARY")
        got = {r.media_id: (r.is_png, r.png_width, r.png_height)
               for r in png_metadata(media).collect()}
        assert got[1] == (True, 640, 480)
        assert got[2] == (True, 1920, 1080)
        assert got[3] == (False, None, None)
        assert got[4][0] in (False, None) and got[4][1] is None

    def test_wav_format(self, spark):
        from e2e_stock_data_pipeline_spark.operators.multimodal import wav_metadata

        rows = [
            (1, self._wav(2, 44100, 16)),
            (2, self._wav(1, 16000, 24)),
            (3, b"RIFFxxxxJUNK" + b"\x00" * 40),
        ]
        media = spark.createDataFrame(rows, "media_id LONG, content BINARY")
        got = {r.media_id: (r.is_wav, r.n_channels, r.sample_rate, r.bits_per_sample)
               for r in wav_metadata(media).collect()}
        assert got[1] == (True, 2, 44100, 16)
        assert got[2] == (True, 1, 16000, 24)
        assert got[3] == (False, None, None, None)

    def test_header_parse_is_codegen_not_udf(self, spark):
        from e2e_stock_data_pipeline_spark.operators.multimodal import png_metadata

        media = spark.createDataFrame([(1, self._png(2, 2))],
                                      "media_id LONG, content BINARY")
        plan = png_metadata(media)._jdf.queryExecution().optimizedPlan().toString()
        assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


class TestRandomizedEquivalences:
    """Property-style checks in bulk: one seeded random dataset, many
    cases per Spark job, operator result compared against the naive
    definition (the hypothesis-per-example pattern would pay a Spark
    job per case; this gets the same coverage in one)."""

    def test_interval_join_random_cases_all_chunk_widths(self, spark):
        from e2e_stock_data_pipeline_spark.operators.interval import interval_join

        rng = np.random.default_rng(11)
        points = spark.createDataFrame(
            [(i, float(rng.integers(0, 2000))) for i in range(400)], ["pid", "t"]
        )
        ivs = []
        for j in range(60):
            s = float(rng.integers(0, 1900))
            ivs.append((j, s, s + float(rng.integers(1, 300))))
        intervals = spark.createDataFrame(ivs, ["iid", "s", "e"])
        naive = {
            (r.pid, r.iid)
            for r in points.join(
                intervals, (points.t >= intervals.s) & (points.t < intervals.e)
            ).collect()
        }
        for chunk in (7, 64, 500, 5000):
            fast = {
                (r.pid, r.iid)
                for r in interval_join(
                    points, intervals, "t", "s", "e", chunk=chunk
                ).collect()
            }
            assert fast == naive, f"chunk={chunk}"

    def test_salted_join_random_keys_and_salts(self, spark):
        from e2e_stock_data_pipeline_spark.operators.skew import salted_join

        rng = np.random.default_rng(5)
        big = spark.createDataFrame(
            [(i, f"k{rng.integers(0, 12)}") for i in range(1500)], ["id", "k"]
        )
        small = spark.createDataFrame(
            [(f"k{j}", j) for j in range(0, 16, 2)], ["k", "tag"]
        )
        for how in ("inner", "left"):
            plain = sorted(
                (r.id, r.tag) for r in big.join(small, "k", how).collect()
            )
            for num_salts in (1, 3, 16):
                salted = sorted(
                    (r.id, r.tag)
                    for r in salted_join(big, small, "k", num_salts, how).collect()
                )
                assert salted == plain, f"{how}/{num_salts}"

    def test_capped_jaccard_equals_jaccard_on_filtered_shingles(self, spark):
        from e2e_stock_data_pipeline_spark.operators.dedup import (
            exploded_shingles,
            ngram_jaccard_pairs,
        )

        rng = np.random.default_rng(3)
        vocab = [f"w{v}" for v in range(30)]
        docs = spark.createDataFrame(
            [(i, " ".join(rng.choice(vocab, size=8))) for i in range(60)],
            ["doc_id", "text"],
        )
        sh = exploded_shingles(docs)
        k = 4
        capped = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(sh, threshold=0.0, max_doc_freq=k).collect()
        }
        # naive: drop shingles with doc-freq > k FIRST, then plain jaccard
        df_counts = sh.groupBy("shingle").count()
        kept = sh.join(
            df_counts.filter(F.col("count") <= k).select("shingle"), "shingle"
        )
        naive = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(kept, threshold=0.0).collect()
        }
        assert capped == naive


class TestHeavyHitters:
    def test_guarantee_on_skewed_stream(self, spark):
        """All true heavy hitters are found with exact counts, even when
        the column cardinality dwarfs the sketch size and data is spread
        over many partitions."""
        from e2e_stock_data_pipeline_spark.operators.heavyhitters import heavy_hitters

        # 3 hot keys (8%, 5%, 2%) drowned in 30k near-unique keys
        rows = (
            [("hot_a",)] * 4000 + [("hot_b",)] * 2500 + [("hot_c",)] * 1000
            + [(f"u{i}",) for i in range(30000)]
        )
        df = spark.createDataFrame(rows, ["k"]).repartition(16)
        got = {r.k: r.n for r in heavy_hitters(df, "k", theta=0.02).collect()}
        assert got == {"hot_a": 4000, "hot_b": 2500, "hot_c": 1000}

    def test_matches_plain_groupby(self, spark, sf_dir):
        from e2e_stock_data_pipeline_spark.operators.heavyhitters import heavy_hitters

        e = tables.load(spark, sf_dir, "events")
        total = e.count()
        theta = 0.004
        exact = {
            (r.user_id, r.n)
            for r in e.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > theta * total)
            .collect()
        }
        sk = {(r.user_id, r.n) for r in heavy_hitters(e, "user_id", theta).collect()}
        assert sk == exact and len(exact) > 0

    def test_rejects_bad_theta(self, spark):
        from e2e_stock_data_pipeline_spark.operators.heavyhitters import heavy_hitters

        df = spark.createDataFrame([("a",)], ["k"])
        for theta in (0.0, 1.0, -1.0):
            with pytest.raises(ValueError):
                heavy_hitters(df, "k", theta)


class TestGraphPagerank:
    def test_operator_bit_equal_to_lazy_unroll(self, spark, monkeypatch):
        """operators/graph.pagerank (materialized per round, production
        form) must reproduce plans/queries_ext8.pagerank_plan (lazy
        3-round unroll, oracle form) bit-for-bit at the same round count."""
        from pyspark.sql import functions as F

        from e2e_stock_data_pipeline_spark.operators.graph import pagerank
        from e2e_stock_data_pipeline_spark.plans.queries_ext8 import (
            _PR_ITERS,
            copurchase_sym_edges,
            pagerank_plan,
        )
        from e2e_stock_data_pipeline_spark.sources import tables

        li = tables.load(spark, "/root/testdata/sf0.001", "lineitem")
        want = [tuple(r) for r in pagerank_plan(li).collect()]

        # build edges via the SAME helper call the registry query uses
        # (distinct=False since r17: pagerank's collect_set adjacency
        # dedups identically, the pair-level DISTINCT was a redundant
        # exchange), so this bit-equality pin covers the exact
        # registered path, distributed and finished on the driver...
        edges = copurchase_sym_edges(li, distinct=False)

        def top(edge_frame):
            return [
                tuple(r)
                for r in pagerank(edge_frame, n_iters=_PR_ITERS)
                .select(F.col("node").alias("part_id"), F.col("rank").alias("pagerank"))
                .orderBy(F.col("pagerank").desc(), "part_id")
                .limit(100)
                .collect()
            ]

        for bound in _finish_bounds(monkeypatch):
            assert top(edges) == want, bound
            # the distinct and non-distinct inputs must yield the same
            # ranks (the set-equality argument behind the r17 change)
            assert top(copurchase_sym_edges(li)) == want, bound

        # ...which makes the helper itself a shared blind spot (a bug in
        # it would hit both sides identically). Cross-check the edge SET
        # against an INDEPENDENT construction: the order-key self-join
        # with != + distinct, symmetrized by construction.
        lp = li.select("l_orderkey", "l_partkey").distinct()
        indep = {
            (r.u, r.v)
            for r in lp.alias("x")
            .join(lp.alias("y"), "l_orderkey")
            .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
            .select(
                F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v")
            )
            .distinct()
            .collect()
        }
        assert {(r.u, r.v) for r in edges.collect()} == indep

    def test_rejects_zero_iters(self, spark):
        """n_iters=0 would return a frame whose only backing blocks were
        just unpersisted (ADVICE r14) — must refuse, not crash later."""
        from e2e_stock_data_pipeline_spark.operators.graph import pagerank

        edges = spark.createDataFrame([(1, 2), (2, 1)], ["u", "v"])
        with pytest.raises(ValueError):
            pagerank(edges, n_iters=0)

    @staticmethod
    def _reference(pairs, n_iters):
        """{node: rank} by the recursion's definition, in plain Python:
        edges are a set, round 1 ranks every source, later rounds rank
        the targets of the sources ranked before."""
        from e2e_stock_data_pipeline_spark.operators.graph import PR_BASE, PR_SCALE

        out = {}
        for a, b in set(pairs):
            if a is not None:  # a NULL source never joins a rank
                out.setdefault(a, set()).add(b)
        rank = {a: PR_SCALE for a in out}
        for _ in range(n_iters):
            total = {}
            for a, r in rank.items():
                for b in out.get(a, ()):
                    total[b] = total.get(b, 0) + r // len(out[a])
            rank = {b: PR_BASE + (85 * t) // 100 for b, t in total.items()}
        return rank

    def _both_paths(self, spark, monkeypatch, edges, n_iters):
        from e2e_stock_data_pipeline_spark.operators.graph import pagerank

        got = {}
        for bound in _finish_bounds(monkeypatch):
            out = pagerank(edges, n_iters=n_iters)
            got[bound] = (out.dtypes, {r.node: r.rank for r in out.collect()})
        return list(got.values())

    def test_wide_ids_rank_on_both_paths(self, spark, monkeypatch):
        """Ids at and above 2^31 keep their bigint type and rank exactly
        on both paths: nothing narrows them."""
        base = 2**31
        pairs = [(base, base + 7), (base + 7, 1), (1, base), (2**40, base),
                 (base + 7, 2**40)]
        edges = spark.createDataFrame(pairs, "u bigint, v bigint")
        want = self._reference(pairs, 3)
        assert max(want) >= 2**31
        for dtypes, got in self._both_paths(spark, monkeypatch, edges, 3):
            assert dtypes == [("node", "bigint"), ("rank", "bigint")]
            assert got == want

    def test_random_directed_graphs_match_on_both_paths(self, spark, monkeypatch):
        """Old-vs-new equivalence on directed multigraphs with sources
        that have no in-edges (they stop contributing after round 1),
        sinks, nodes that drop out of later rounds and a NULL source;
        plus the empty graph."""
        import random

        for seed in range(4):
            rng = random.Random(seed)
            n = rng.randint(6, 30)
            pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(2 * n)]
            pairs = [(a, b) for a, b in pairs if a != b]
            pairs += [(n, 0), (n + 1, n)]  # a source chain into the graph
            pairs += pairs[:3]  # parallel edges carry no weight
            pairs += [(None, 0)]
            edges = spark.createDataFrame(pairs, "u int, v int")
            n_iters = rng.randint(1, 5)
            want = self._reference(pairs, n_iters)
            for dtypes, got in self._both_paths(spark, monkeypatch, edges, n_iters):
                assert dtypes == [("node", "int"), ("rank", "bigint")]
                assert got == want, f"seed={seed}"
        empty = spark.createDataFrame([], "u bigint, v bigint")
        for _dtypes, got in self._both_paths(spark, monkeypatch, empty, 2):
            assert got == {}

    def test_rank_rounds_refuse_to_wrap_int64(self, monkeypatch):
        """numpy would wrap 85 * sum silently: the driver rounds check
        the exact rank total before each round and raise instead."""
        from e2e_stock_data_pipeline_spark.operators import graph

        limit = (2**63 - 1) // 85
        u = np.array([1, 2], np.int64)
        offsets = np.array([0, 1, 2], np.int64)
        dst = np.array([3, 3], np.int64)
        monkeypatch.setattr(graph, "PR_SCALE", limit // 2)  # total <= limit
        node, rank = graph._pagerank_rounds(u, offsets, dst, 1)
        assert node.tolist() == [3]
        assert rank.tolist() == [graph.PR_BASE + (85 * 2 * (limit // 2)) // 100]
        monkeypatch.setattr(graph, "PR_SCALE", limit // 2 + 1)  # total > limit
        with pytest.raises(ArithmeticError):
            graph._pagerank_rounds(u, offsets, dst, 1)

    def test_copurchase_part_key_overflow_raises(self, spark):
        """The int narrowing in copurchase_sym_edges(distinct=False) is
        q144's only one, so its guard must raise on a wide part key."""
        from e2e_stock_data_pipeline_spark.plans.queries_ext8 import copurchase_sym_edges

        li = spark.createDataFrame(
            [(1, 5), (1, 2**31), (2, 5)], "l_orderkey bigint, l_partkey bigint"
        )
        with pytest.raises(Exception, match="copurchase_sym_edges: part key overflows int"):
            copurchase_sym_edges(li, distinct=False).collect()


class TestSaltedGroupTopk:
    def test_matches_naive_window_on_skewed_groups(self, spark):
        """90%-head-group skew: the salted two-phase keep must be bit-equal
        to the naive per-group row_number keep for every group."""
        from pyspark.sql import Window

        from e2e_stock_data_pipeline_spark.operators.ranking import salted_group_topk

        df = spark.range(20000).select(
            F.when(F.col("id") % 10 < 9, F.lit("head")).otherwise(
                (F.col("id") % 7).cast("string")
            ).alias("g"),
            (F.xxhash64("id") % 100003).alias("v"),
            "id",
        )
        fast = {
            (r.g, r.id, r.rnk)
            for r in salted_group_topk(df, ["g"], [F.col("v"), F.col("id")], k=10).collect()
        }
        w = Window.partitionBy("g").orderBy(F.col("v"), F.col("id"))
        slow = {
            (r.g, r.id, r.rnk)
            for r in df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .collect()
        }
        assert fast == slow

    def test_desc_order_cols_match_naive_window(self, spark):
        """Pin the SortOrder-unwrap path in the default salt: with
        F.col(...).desc() in order_cols, the salted keep must still be
        bit-equal to the naive window. If the private-node unwrap in
        _sort_child drifts on a future Spark, xxhash64 over the raw
        SortOrder fails analysis and this test fails loudly instead of
        the regression going unnoticed."""
        from pyspark.sql import Window

        from e2e_stock_data_pipeline_spark.operators.ranking import salted_group_topk

        df = spark.range(20000).select(
            F.when(F.col("id") % 10 < 9, F.lit("head")).otherwise(
                (F.col("id") % 7).cast("string")
            ).alias("g"),
            (F.xxhash64("id") % 100003).alias("v"),
            "id",
        )
        order = [F.col("v").desc(), F.col("id").desc()]
        fast = {
            (r.g, r.id, r.rnk)
            for r in salted_group_topk(df, ["g"], order, k=10).collect()
        }
        w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").desc())
        slow = {
            (r.g, r.id, r.rnk)
            for r in df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .collect()
        }
        assert fast == slow

    def test_sort_child_unwraps_to_evaluable_column(self, spark):
        """_sort_child(F.col('v').desc()) must yield a column xxhash64 can
        evaluate (a raw SortOrder cannot be hashed)."""
        from e2e_stock_data_pipeline_spark.operators.ranking import _sort_child

        df = spark.range(3).select(F.col("id").alias("v"))
        unwrapped = _sort_child(F.col("v").desc())
        hashes = [r[0] for r in df.select(F.xxhash64(unwrapped)).collect()]
        plain = [r[0] for r in df.select(F.xxhash64(F.col("v"))).collect()]
        assert hashes == plain

    def test_k_larger_than_group(self, spark):
        from e2e_stock_data_pipeline_spark.operators.ranking import salted_group_topk

        df = spark.range(5).select(F.lit("only").alias("g"), F.col("id").alias("v"), "id")
        rows = salted_group_topk(df, ["g"], [F.col("v"), F.col("id")], k=10).collect()
        assert sorted(r.rnk for r in rows) == [1, 2, 3, 4, 5]

    def test_no_unsalted_data_sized_sort(self, spark):
        """The first (data-sized) window must partition on (keys, salt);
        only the reduced survivor set may window on the bare group key."""
        from e2e_stock_data_pipeline_spark.operators.ranking import salted_group_topk

        df = spark.range(1000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            (F.xxhash64("id") % 997).alias("v"),
            "id",
        )
        out = salted_group_topk(df, ["g"], [F.col("v"), F.col("id")], k=5)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        specs = [
            line for line in plan.splitlines() if "windowspecdefinition" in line
        ]
        assert len(specs) == 2
        # plan prints top-down: specs[0] is the final per-group window over
        # the <= k*n_salts survivors, specs[1] the data-sized salted one
        assert "_salt" not in specs[0]
        assert "_salt" in specs[1]


class TestContainmentPairs:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_short_doc_inside_long_doc(self, spark):
        """A doc pasted verbatim inside a longer one: containment(short in
        long) = 1.0 while the reverse direction stays below threshold."""
        from e2e_stock_data_pipeline_spark.operators.dedup import (
            containment_pairs,
            exploded_shingles,
        )

        short = "alpha beta gamma delta epsilon"
        long_ = short + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
        docs = self._docs(spark, [(1, short), (2, long_), (3, "unrelated words only here")])
        sh = exploded_shingles(docs, distinct=True)
        got = {(r.doc_a, r.doc_b): r.containment for r in containment_pairs(sh, threshold=0.6).collect()}
        assert got == {(1, 2): 1.0}

    def test_cap_drops_viral_shingles_consistently(self, spark):
        """With a doc-freq cap, both |A∩B| and |A| use the capped sets —
        a shingle present in every doc contributes to neither."""
        from e2e_stock_data_pipeline_spark.operators.dedup import (
            containment_pairs,
            exploded_shingles,
        )

        viral = "click here now"
        rows = [(i, f"{viral} unique{i} token{i} word{i}") for i in range(1, 8)]
        rows.append((100, viral))  # nothing but the viral shingle
        docs = self._docs(spark, rows)
        sh = exploded_shingles(docs, distinct=True)
        out = containment_pairs(sh, threshold=0.1, max_doc_freq=3).collect()
        assert out == []  # viral shingle capped away; nothing else shared


class TestPPJoinLossless:
    """r13 q184 upgrade: the PPJoin length + positional candidate
    filters must be LOSSLESS — the returned pair set equals a
    brute-force all-pairs Jaccard scan at the same threshold."""

    def test_q184_matches_bruteforce_allpairs(self, spark):
        import pyarrow.parquet as pq

        from e2e_stock_data_pipeline_spark.plans.registry import (
            load_all_query_modules,
        )

        sf_dir = "/root/testdata/sf0.001"
        tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        docs = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
        assert 10 <= len(docs) <= 5000  # brute-forceable scale

        def sset(text):
            ws = [w for w in text.strip().split() if w]
            if len(ws) < 3:
                return frozenset()
            return frozenset(
                " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
            )

        sets = {d: sset(t) for d, t in docs}
        expect = {}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                common = len(sets[a] & sets[b])
                union = len(sets[a]) + len(sets[b]) - common
                if union and 5 * common >= 4 * union:
                    expect[(a, b)] = (common, (1_000_000 * common) // union)

        got = {
            (r.doc_a, r.doc_b): (r.n_common, r.jaccard_fp)
            for r in load_all_query_modules()["q184_set_similarity_join"]
            .spark(spark, sf_dir)
            .collect()
        }
        assert got == expect


class TestNodeGatedBroadcastHint:
    def test_under_limit_is_broadcast(self, spark):
        from e2e_stock_data_pipeline_spark.operators.dedup import (
            node_gated_broadcast_hint,
        )

        nodes = spark.range(10)
        assert node_gated_broadcast_hint(nodes) is F.broadcast

    def test_over_limit_is_identity(self, spark, monkeypatch):
        from e2e_stock_data_pipeline_spark.operators import dedup as D

        monkeypatch.setattr(D, "_BCAST_NODE_LIMIT", 5)
        nodes = spark.range(10)
        hint = D.node_gated_broadcast_hint(nodes)
        assert hint is not F.broadcast
        df = spark.range(3)
        assert hint(df) is df  # identity: no hint node injected


class TestLshV2Primitives:
    """r14 staging for the r15 LSH tier migration: the v2 hash family
    must restore seed independence (the v1 small-multiplier family's
    argmin agreement measured 6.5x over chance), and multi-row banding
    must deliver the 1-(1-J^r)^b recall the math promises — proven on
    planted truth BEFORE any registered query moves."""

    def _sigs(self, spark, member):
        """(doc_id, seed, sig) over 6 seeds of the family ``member``
        builds from (base hash, seed) Columns."""
        from e2e_stock_data_pipeline_spark.operators import dedup as D
        from e2e_stock_data_pipeline_spark.sources import tables

        docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
        h = D.exploded_shingles(docs, distinct=False).select(
            "doc_id", D.base_hash28(F.col("shingle")).alias("h")
        )
        seeds = spark.range(6).select(F.col("id").alias("seed"))
        return (
            h.crossJoin(seeds)
            .groupBy("doc_id", "seed")
            .agg(F.min(member(F.col("h"), F.col("seed"))).alias("sig"))
        )

    def test_v2_seeds_are_independent_v1_are_not(self, spark):
        """Fraction of (doc, seed>0) rows whose sig equals the seed's
        closed form over the doc's MIN BASE HASH — i.e. the seed picked
        seed-0's argmin shingle. Ideal ~ 1/#shingles (~3% here); v1
        measured ~20%."""
        from e2e_stock_data_pipeline_spark.operators import dedup as D
        from e2e_stock_data_pipeline_spark.sources import tables

        docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
        sh = D.exploded_shingles(docs, distinct=False)
        minh = (
            sh.select("doc_id", D.base_hash28(F.col("shingle")).alias("h"))
            .groupBy("doc_id")
            .agg(F.min("h").alias("mh"))
        )
        P = D.MINHASH_P

        def agreement(sigs, pred_sql):
            j = sigs.filter(F.col("seed") > 0).join(minh, "doc_id")
            tot = j.count()
            hit = j.filter(F.col("sig") == F.expr(pred_sql)).count()
            return hit / tot

        # v1, the retired family: (2s+1)*h + (7919s+13) mod P
        v1 = agreement(
            self._sigs(spark, lambda h, s: ((s * 2 + 1) * h + (s * 7919 + 13)) % P),
            f"((seed * 2 + 1) * mh + (seed * 7919 + 13)) % {P}",
        )
        v2 = agreement(
            self._sigs(spark, D.universal_hash_v2),
            D.UNIVERSAL_HASH_V2_SQL.format(seed="seed", base="mh"),
        )
        assert v1 > 0.12, f"v1 correlation vanished ({v1:.3f}) — family changed?"
        assert v2 < 0.08, f"v2 seeds still correlated: {v2:.3f}"

    def test_v2_sql_template_mirrors_column_form(self, spark):
        """UNIVERSAL_HASH_V2_SQL (the oracle-mirror template) must equal
        universal_hash_v2 on every (h, seed)."""
        from e2e_stock_data_pipeline_spark.operators import dedup as D

        df = spark.range(2000).select(
            (F.xxhash64("id") % D.MINHASH_P).cast("bigint").alias("h"),
            (F.col("id") % 12).cast("bigint").alias("seed"),
        ).filter(F.col("h") >= 0)
        bad = df.filter(
            D.universal_hash_v2(F.col("h"), F.col("seed"))
            != F.expr(D.UNIVERSAL_HASH_V2_SQL.format(seed="seed", base="h"))
        ).count()
        assert bad == 0

    def test_band_signatures_layout_and_recall(self, spark, tmp_path):
        """b=6 x r=2 banding over v2 signatures recovers every planted
        J >= 0.9 pair ((1-0.81)^6 ~ 5e-8 miss probability — and the
        hashes are fixed, so this is deterministic once green), while
        the band table carries exactly b rows per doc with both sig
        columns non-null."""
        import pandas as pd

        from e2e_stock_data_pipeline_spark.operators import dedup as D
        from e2e_stock_data_pipeline_spark.sources import tables

        rng = __import__("random").Random(7)
        vocab = [f"w{i}" for i in range(60)]
        rows, want = [], set()
        for i in range(40):
            ws = rng.choices(vocab, k=40)
            rows.append((2 * i + 1, " ".join(ws)))
            copy = list(ws)
            copy[rng.randrange(2, 38)] = rng.choice(vocab)  # J >= ~0.87
            rows.append((2 * i + 2, " ".join(copy)))
            want.add((2 * i + 1, 2 * i + 2))
        pd.DataFrame(
            [dict(doc_id=d, text=t, lang="en", source="s", n_chars=len(t))
             for d, t in rows]
        ).to_parquet(f"{tmp_path}/documents.parquet")
        docs = tables.load(spark, str(tmp_path), "documents")
        bands = D.minhash_bands(D.exploded_shingles(docs, distinct=False))
        per_doc = bands.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.col("s0").isNull().cast("int") + F.col("s1").isNull().cast("int")).alias("nulls"),
        ).collect()
        assert all(r.nb == 6 and r.nulls == 0 for r in per_doc)
        cands = {
            (r.doc_a, r.doc_b)
            for r in D.lsh_candidate_pairs(bands).collect()
        }
        missed = {p for p in want if p not in cands}
        assert not missed, f"banding missed planted high-J pairs: {sorted(missed)[:5]}"
