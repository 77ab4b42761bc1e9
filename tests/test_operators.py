"""Operator tests: dedup / similarity / text analysis / multimodal plumbing /
reassembly aggregations — verified against straightforward Python references
on small data."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from scientific_papers_ocr_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text_analysis,
    turns as turnops,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and looked at the dog"),
        (1, "the cat sat on the mat and looked at the dog"),   # exact dup of 0
        (2, "the cat sat on the mat and stared at the dog"),   # near dup
        (3, "completely different content about spark engines here"),
        (4, "ZZ top !!! 123 ???"),                              # low quality
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestTextAnalysis:
    def test_token_count(self, docs):
        got = {r["doc_id"]: r["n"] for r in docs.select(
            "doc_id", text_analysis.token_count(F.col("text")).alias("n")).collect()}
        assert got[0] == 11
        assert got[4] == 5

    def test_profile_columns(self, docs):
        prof = text_analysis.profile_documents(docs).collect()
        by_id = {r["doc_id"]: r for r in prof}
        assert by_id[0]["lang_pred"] == "en"
        assert by_id[4]["lang_pred"] == "other"
        assert by_id[0]["quality"] > by_id[4]["quality"]
        assert by_id[0]["fingerprint"] == by_id[1]["fingerprint"]

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello  World"), (1, "hello world "), (2, "hello world!")],
            ["doc_id", "text"],
        )
        fps = [r["f"] for r in df.select(
            text_analysis.normalized_fingerprint(F.col("text")).alias("f")).collect()]
        assert fps[0] == fps[1]
        assert fps[0] != fps[2]


class TestDedup:
    def test_exact_duplicates(self, docs):
        groups = dedup.exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0]["keep_id"] == 0
        assert groups[0]["group_size"] == 2

    def test_word_shingles_match_python(self, docs):
        got = {
            (r["doc_id"], r["shingle"])
            for r in dedup.word_shingles(docs.where(F.col("doc_id") == 0), k=3).collect()
        }
        words = "the cat sat on the mat and looked at the dog".split()
        want = {(0, " ".join(words[i:i + 3])) for i in range(len(words) - 2)}
        assert got == want

    def test_minhash_lsh_finds_near_dups(self, docs):
        arrs = dedup.word_shingle_arrays(docs)
        pairs = {(r["id_a"], r["id_b"]) for r in
                 dedup.lsh_candidate_pairs(dedup.minhash_signatures_arrays(arrs)).collect()}
        assert (0, 1) in pairs          # exact dups share all bands
        assert (0, 2) in pairs or (1, 2) in pairs  # near dup shares some band
        assert (0, 3) not in pairs      # unrelated

    def test_banded_lsh_shrinks_candidates(self, spark):
        """(b=4, r=2) candidates are a subset of single-hash (b=8, r=1)
        candidates (sharing a 2-min band implies sharing each min), and the
        sharper S-curve drops weakly-similar pairs on a near-dup corpus."""
        base = "the quick brown fox jumps over the lazy dog near the river bank"
        rows = [(0, base), (1, base)]                       # exact dup pair
        words = base.split()
        for i in range(2, 12):                               # weak overlaps
            rows.append((i, " ".join(words[i % 5:] + [f"tail{i} w{j}" for j in range(6)])))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        arrs = dedup.word_shingle_arrays(docs)
        loose = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(
            dedup.lsh_band_values_arrays(arrs, n_bands=8, rows_per_band=1), n_bands=8
        ).collect()}
        tight = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(
            dedup.lsh_band_values_arrays(arrs, n_bands=4, rows_per_band=2), n_bands=4
        ).collect()}
        assert tight <= loose
        assert len(tight) < len(loose)
        assert (0, 1) in tight          # exact dups always survive

    def test_winnowing_guarantee(self, spark):
        """Schleimer et al. guarantee: two docs sharing a run of >= k+w-1
        words share at least one fingerprint; disjoint docs share none."""
        shared = "alpha beta gamma delta epsilon zeta"          # 6 = k+w-1
        rows = [
            (0, f"one two {shared} three four five six"),
            (1, f"nine ten eleven {shared} twelve thirteen fourteen"),
            (2, "wholly unrelated words only here nothing common present"),
        ]
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        fp = dedup.winnow_fingerprints(d, k=3, w=4)
        by_doc = {}
        for r in fp.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        assert by_doc[0] & by_doc[1], "shared 6-word run must share a fingerprint"
        assert not (by_doc[0] & by_doc[2])
        assert not (by_doc[1] & by_doc[2])

    def test_dedup_filter_keeps_one_per_group(self, spark):
        rows = [
            (0, "same text here"), (5, "Same   TEXT here"),   # normalize-equal
            (2, "different entirely"), (9, "same text here"),
        ]
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        keyed = d.select(
            "doc_id", text_analysis.normalized_fingerprint(F.col("text")).alias("fp")
        )
        keep = keyed.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        kept = sorted(
            r["doc_id"]
            for r in keyed.join(keep, on=["fp", "doc_id"], how="left_semi").collect()
        )
        assert kept == [0, 2]

    def test_remove_unknown_words_preserves_order(self, spark):
        # F7 analog (static_method_classes.py:135-143): out-of-dictionary
        # words drop, order preserved
        docs = spark.createDataFrame(
            [(0, "alpha zz9 beta gamma qq8 alpha")], ["doc_id", "text"]
        )
        vocab = spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",)], ["word"]
        )
        got = text_analysis.remove_unknown_words(docs, vocab).first()
        assert got["filtered_text"] == "alpha beta gamma alpha"

    def test_corpus_vocabulary_threshold(self, spark):
        docs = spark.createDataFrame(
            [(0, "a a b"), (1, "a c")], ["doc_id", "text"]
        )
        vocab = {r["word"] for r in
                 text_analysis.corpus_vocabulary(docs, min_count=2).collect()}
        assert vocab == {"a"}

    def test_most_similar_segment_argmax(self, spark):
        # O3 analog (static_method_classes.py:52-73): first strict maximum
        df = spark.createDataFrame(
            [(0, ["cat dog fish", "red blue green", "cat dog bird"], "cat dog fish")],
            ["doc_id", "segments", "query"],
        )
        got = similarity.most_similar_segment(df).first()
        assert got["best_seg_idx"] == 0
        assert got["best_cosine"] == 1.0
        # tie between identical segments -> earliest wins
        df2 = spark.createDataFrame(
            [(1, ["x y", "x y"], "x y")], ["doc_id", "segments", "query"]
        )
        assert similarity.most_similar_segment(df2).first()["best_seg_idx"] == 0

    def test_bpe_ish_tokens(self, spark):
        d = spark.createDataFrame(
            [(0, "hello world42, x=y;")], ["doc_id", "text"]
        )
        n = d.select(
            text_analysis.bpe_ish_token_count(F.col("text")).alias("n")
        ).first()["n"]
        # hello | world | 42 | , | x | = | y | ;
        assert n == 8

    def test_jaccard_exact_value(self, docs):
        sh = dedup.word_shingles(docs)
        arrs = dedup.word_shingle_arrays(docs)
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.jaccard_pairs(sh, arrs, threshold=0.1).collect()}
        assert pairs[(0, 1)] == 1.0
        assert 0.3 < pairs[(0, 2)] < 1.0

    def test_simhash_close_for_near_dups(self, docs):
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=16).collect()}
        assert sh[0] == sh[1]
        ham_near = bin(sh[0] ^ sh[2]).count("1")
        ham_far = bin(sh[0] ^ sh[3]).count("1")
        assert ham_near < ham_far


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rows = []
        for i in range(40):
            vec = [math.sin(i * 0.1 + d) for d in range(8)]
            rows.append((i, vec))
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_brute_force_topk_matches_python(self, emb):
        rows = emb.collect()
        q = rows[0]["embedding"]

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

        want = sorted(
            ((round(cos(r["embedding"], q), 4), r["vec_id"]) for r in rows),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got = [(r["cosine"], r["vec_id"]) for r in
               similarity.brute_force_topk(emb, q, k=5).collect()]
        assert got == want

    def test_bucket_expr_matches_hashed_fallback(self, emb, spark):
        """The literal-weight hot path must be bit-identical to the original
        per-element hash expression — on normal dims AND across the
        ``_PRE_DIM`` boundary where the fallback branch takes over."""

        def bucket_hashed(vec, n_planes):
            pairs = F.transform(
                vec, lambda x, i: F.struct(x.cast("double").alias("x"), i.alias("i"))
            )

            def update(acc, e):
                fields = [
                    (acc[f"d{p}"] + e["x"] * similarity._plane_weight(p, e["i"])).alias(f"d{p}")
                    for p in range(n_planes)
                ]
                return F.struct(*fields)

            init = F.struct(*[F.lit(0.0).alias(f"d{p}") for p in range(n_planes)])
            dots = F.aggregate(pairs, init, update)
            b = F.lit(0)
            for p in range(n_planes):
                b = b + F.when(dots[f"d{p}"] >= 0, F.lit(1)).otherwise(F.lit(0)) * (2 ** p)
            return b.cast("int")

        both = emb.select(
            bucket_hashed(F.col("embedding"), 6).alias("old"),
            similarity.bucket_expr(F.col("embedding"), 6).alias("new"),
        )
        assert both.where(F.col("old") != F.col("new")).count() == 0

        long_dim = similarity._PRE_DIM + 40
        long_df = spark.range(10).select(
            F.expr(
                f"transform(sequence(0, {long_dim - 1}),"
                " i -> cast(pmod(hash(id, i), 1000) as double) / 500.0 - 1.0)"
            ).alias("v")
        )
        both_long = long_df.select(
            bucket_hashed(F.col("v"), 6).alias("old"),
            similarity.bucket_expr(F.col("v"), 6).alias("new"),
        )
        assert both_long.where(F.col("old") != F.col("new")).count() == 0

    def test_plane_weights_fold_to_one_literal(self, spark):
        """Every plane's weight array must reach the plan as ONE resolved
        Literal holding the exact ``_plane_weights_py`` doubles — an
        unfolded ``array(...)`` tree is re-analysed on every query build."""
        for p in range(8):
            col = similarity._plane_weights_lit(p)
            df = spark.range(1).select(col.alias("w"))
            expr = df._jdf.queryExecution().analyzed().expressions().apply(0).child()
            assert expr.getClass().getSimpleName() == "Literal", expr.toString()[:200]
            assert df.first()["w"] == similarity._plane_weights_py(p)

    def test_ann_contains_query_itself(self, emb):
        q = emb.where(F.col("vec_id") == 0).first()["embedding"]
        got = similarity.ann_topk(emb, list(q), k=5, n_planes=4)
        ids = [r["vec_id"] for r in got.collect()]
        assert 0 in ids  # the query vector's own row lands in its bucket

    def test_ivf_topk_full_probe_equals_brute_force(self, emb, spark):
        # probing ALL cells must recover the exact top-k
        centroids = emb.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
        )
        query = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec")
        )
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        exact = [r["vec_id"] for r in
                 similarity.brute_force_topk(emb, qvec, k=5).collect()]
        ivf = [r["vec_id"] for r in
               similarity.ivf_topk(emb, centroids, query, k=5, n_probe=4).collect()]
        assert ivf == exact

    def test_ivf_topk_probe_contains_query(self, emb, spark):
        centroids = emb.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
        )
        query = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec")
        )
        got = similarity.ivf_topk(emb, centroids, query, k=5, n_probe=1).collect()
        # the query vector itself lives in its own nearest cell
        assert got and got[0]["vec_id"] == 0 and got[0]["cosine"] == 1.0

    def test_ann_recall_on_planted_near_duplicates(self, spark):
        """The recall property that matters for dedup: vectors that ARE
        near-duplicates of the query (cosine ≈ 1 ≫ background) co-bucket
        with it under both LSH and IVF routing, so the approximate probes
        recover the planted cluster.  (On uniform-random data recall is
        bounded by the probed fraction of the table by design — measured
        numbers in the module docstring.)"""
        import numpy as np

        rng = np.random.default_rng(17)
        dim = 12
        q = rng.normal(size=dim)
        rows = [(0, [float(x) for x in q])]
        for i in range(1, 11):  # planted near-duplicates of q
            rows.append((i, [float(x) for x in q + 0.05 * rng.normal(size=dim)]))
        for i in range(11, 251):  # unclustered background
            rows.append((i, [float(x) for x in rng.normal(size=dim)]))
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        planted = set(range(11))

        brute = {
            r["vec_id"]
            for r in similarity.brute_force_topk(emb, rows[0][1], k=11).collect()
        }
        assert brute == planted  # ground truth: the cluster IS the top-11

        ann = {
            r["vec_id"]
            for r in similarity.ann_topk(emb, rows[0][1], k=11, n_planes=6).collect()
        }
        assert len(ann & planted) / 11 >= 0.8

        centroids = emb.where(F.col("vec_id").between(11, 18)).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
        )
        query = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec")
        )
        ivf = {
            r["vec_id"]
            for r in similarity.ivf_topk(emb, centroids, query, k=11, n_probe=2).collect()
        }
        assert len(ivf & planted) / 11 >= 0.8

    def test_train_ivf_centroids_recovers_planted_clusters(self, spark):
        """Distributed Lloyd's k-means (the FAISS train() analog): on data
        with 3 well-separated planted clusters, the trained quantizer's
        cells partition the points cluster-pure, and every trained centroid
        sits close (cosine > 0.99) to a true cluster mean — regardless of
        the deterministic smallest-id seeding."""
        import numpy as np

        rng = np.random.default_rng(29)
        dim = 10
        means = [rng.normal(size=dim) * 4 for _ in range(3)]
        rows, truth = [], {}
        vid = 0
        for ci, m in enumerate(means):
            for _ in range(40):
                rows.append((vid, [float(x) for x in m + 0.3 * rng.normal(size=dim)]))
                truth[vid] = ci
                vid += 1
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

        trained = similarity.train_ivf_centroids(emb, k=3, iters=6)
        cents = {r["centroid_id"]: np.asarray(r["centroid"]) for r in trained.collect()}
        assert len(cents) == 3

        def cos(a, b):
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        # every trained centroid aligns with exactly one true mean
        matched = {
            cid: max(range(3), key=lambda ci: cos(v, means[ci]))
            for cid, v in cents.items()
        }
        assert sorted(matched.values()) == [0, 1, 2]
        for cid, ci in matched.items():
            assert cos(cents[cid], means[ci]) > 0.99

        # assignments are cluster-pure
        assigned = similarity.ivf_assign(emb, trained).collect()
        for r in assigned:
            assert matched[r["ivf_cell"]] == truth[r["vec_id"]], r["vec_id"]

    def test_knn_pairs_shape(self, emb):
        got = similarity.pairwise_cosine_knn(emb, k=2, bucket_planes=2).collect()
        assert all(r["rank"] <= 2 for r in got)
        assert all(r["id_a"] != r["id_b"] for r in got)


class TestEmissionModes:
    def test_repaired_only_page_text_reconstructs(self, spark):
        """page_text_mode='repaired_only' emits page_text only where repair
        changed it; coalesce(page_text, input text) rebuilds the full column
        (the reference's write-once page contract)."""
        from scientific_papers_ocr_spark import fixtures

        df = fixtures.spark_corpus(spark, 12, seed=7).cache()
        full = turnops.extract_turns(df, num_buckets=8).select(
            "conv_id", "turn_idx", F.col("page_text").alias("page_full"), "status"
        )
        slim = turnops.extract_turns(
            df, num_buckets=8, page_text_mode="repaired_only", with_clean_text=False
        ).select(
            "conv_id", "turn_idx",
            F.col("page_text").alias("page_slim"), "clean_text",
        )
        joined = (
            full.join(slim, on=["conv_id", "turn_idx"])
            .join(df.select("conv_id", "turn_idx", "text"), on=["conv_id", "turn_idx"])
            .collect()
        )
        assert len(joined) == df.count()
        n_emitted = 0
        for r in joined:
            assert r["clean_text"] is None
            rebuilt = r["page_slim"] if r["page_slim"] is not None else r["text"]
            assert rebuilt == r["page_full"]
            if r["page_slim"] is not None:
                n_emitted += 1
                assert r["status"] == "incomplete"
                assert r["page_slim"] != r["text"]  # repair changed the text
        assert 0 < n_emitted < len(joined)

    def test_knn_bucket_cap_bounds_pairs(self, spark):
        import random

        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        capped = similarity.pairwise_cosine_knn(
            emb, k=3, bucket_planes=1, max_bucket_size=5
        ).collect()
        # 2 buckets x <=5 rows -> <=4 neighbours each, rank<=3 enforced
        assert len(capped) <= 2 * 5 * 3
        assert all(r["rank"] <= 3 for r in capped)
        assert len({r["id_a"] for r in capped}) <= 10


class TestMultimodal:
    def test_feature_extraction_roundtrip(self, spark):
        media = multimodal.synthetic_media(spark, n=12)
        feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
        assert len(feats) == 12
        one = media.where(F.col("media_id") == "m00003").first()
        payload = bytes(one["payload"])
        assert feats["m00003"]["content_hash"] == hashlib.md5(payload).hexdigest()
        assert feats["m00003"]["n_bytes"] == len(payload)
        want = multimodal._fake_decode_features(payload)
        assert feats["m00003"]["features"] == pytest.approx(want, abs=1e-6)

    def test_write_media_files_roundtrip(self, spark, tmp_path):
        import os

        media = multimodal.synthetic_media(spark, n=9, seed=5)
        out = str(tmp_path / "media")
        multimodal.write_media_files(media, out, ext="png")
        want = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
        got = {
            f[: -len(".png")]: open(os.path.join(out, f), "rb").read()
            for f in os.listdir(out)
        }
        assert got == want

    def test_resize_bilinear_kernel_math(self):
        """The REAL resample kernel: identity resize is exact, a constant
        image stays constant at any size, and a horizontal linear ramp
        stays (near-)linear under upsampling."""
        import numpy as np

        img = multimodal._fake_decode_pixels(b"seed", 8, 6)
        assert img.shape == (6, 8, 3)
        assert np.array_equal(multimodal.resize_bilinear(img, 8, 6), img)

        const = np.full((5, 7, 3), 123, dtype=np.uint8)
        out = multimodal.resize_bilinear(const, 13, 3)
        assert out.shape == (3, 13, 3)
        assert np.all(out == 123)

        ramp = np.tile(
            np.arange(0, 160, 10, dtype=np.uint8)[None, :, None], (4, 1, 3)
        )
        up = multimodal.resize_bilinear(ramp, 32, 4).astype(int)
        diffs = np.diff(up[0, :, 0])
        assert np.all(diffs >= 0)  # monotone along the ramp
        assert up[0, 0, 0] == 0 and up[0, -1, 0] == 150

    def test_resize_images_distributed_matches_local_kernel(self, spark):
        media = multimodal.synthetic_media(spark, n=10, seed=3)
        out = {r["media_id"]: r for r in multimodal.resize_images(media, 12, 9).collect()}
        assert len(out) == 10
        one = media.where(F.col("media_id") == "m00004").first()
        img = multimodal._fake_decode_pixels(
            bytes(one["payload"]), one["meta"]["width"], one["meta"]["height"]
        )
        want = multimodal.resize_bilinear(img, 12, 9).tobytes()
        got = out["m00004"]
        assert bytes(got["payload"]) == want
        assert (got["width"], got["height"]) == (12, 9)
        assert len(bytes(got["payload"])) == 12 * 9 * 3

    def test_sample_frames_arithmetic_and_determinism(self, spark):
        media = multimodal.synthetic_media(spark, n=12, seed=3)
        frames = multimodal.sample_frames(media, every_ms=700).collect()
        # only video rows fan out; frames at t = 0, 700, 1400, ... < duration
        vids = {
            r["media_id"]: r["meta"]["duration_ms"]
            for r in media.where(F.col("meta.kind") == "video").collect()
        }
        want_counts = {m: len(range(0, d, 700)) for m, d in vids.items()}
        got_counts: dict[str, int] = {}
        for r in frames:
            got_counts[r["media_id"]] = got_counts.get(r["media_id"], 0) + 1
        assert got_counts == {m: c for m, c in want_counts.items() if c > 0}
        by_key = {(r["media_id"], r["frame_idx"]): r for r in frames}
        for (mid, idx), r in by_key.items():
            assert r["ts_ms"] == idx * 700
            assert len(bytes(r["frame"])) == r["width"] * r["height"] * 3
        # deterministic across runs
        again = {
            (r["media_id"], r["frame_idx"]): bytes(r["frame"])
            for r in multimodal.sample_frames(media, every_ms=700).collect()
        }
        assert {k: bytes(v["frame"]) for k, v in by_key.items()} == again

    def test_sample_frames_rejects_nonpositive_interval(self, spark):
        media = multimodal.synthetic_media(spark, n=2, seed=3)
        # must fail at plan time with a clear driver-side error, not as an
        # opaque range() failure inside the mapInPandas task
        with pytest.raises(ValueError, match="every_ms"):
            multimodal.sample_frames(media, every_ms=0)
        with pytest.raises(ValueError, match="every_ms"):
            multimodal.sample_frames(media, every_ms=-100)


class TestReassembly:
    def test_flatten_parts_df_order(self, spark):
        parts = spark.createDataFrame(
            [("c", 0, 1, "b"), ("c", 0, 0, "a"), ("c", 0, 2, "c")],
            ["conv_id", "turn_idx", "part_idx", "text"],
        )
        got = turnops.flatten_parts_df(parts).collect()
        assert got[0]["text"] == "a b c"

    def test_explode_layout_blocks(self, spark):
        import json
        tool = json.dumps([
            {"level": 1, "block_num": 0, "x": 0, "y": 0, "w": 100, "h": 200, "text": ""},
            {"level": 2, "block_num": 1, "x": 1, "y": 2, "w": 30, "h": 40, "text": "w"},
        ])
        df = spark.createDataFrame([("c", 0, tool)], ["conv_id", "turn_idx", "tool"])
        got = turnops.explode_layout_blocks(df).collect()
        assert len(got) == 2
        lvl2 = [r for r in got if r["level"] == 2][0]
        assert (lvl2["x"], lvl2["y"], lvl2["w"], lvl2["h"]) == (1, 2, 30, 40)


class TestFixtureGenerators:
    def test_spark_corpus_equals_driver_corpus(self, spark):
        """The distributed generator must be row-identical to the driver-side
        one for the same seed (bench corpora are reproducible across rounds)."""
        from scientific_papers_ocr_spark import fixtures

        driver_rows = {
            (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
            for r in fixtures.generate_corpus(num_convs=11, seed=5)
        }
        spark_rows = {
            (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
            for r in fixtures.spark_corpus(spark, 11, seed=5).collect()
        }
        assert spark_rows == driver_rows

    def test_spark_corpus_rerun_is_identical(self, spark):
        a = sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in fixtures_mod().spark_corpus(spark, 7, seed=9, zipf_max_turns=30).collect()
        )
        b = sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in fixtures_mod().spark_corpus(spark, 7, seed=9, zipf_max_turns=30).collect()
        )
        assert a == b


def fixtures_mod():
    from scientific_papers_ocr_spark import fixtures

    return fixtures


class TestReferences:
    def test_parse_citation_ieee(self):
        from scientific_papers_ocr_spark.operators.references import parse_citation

        raw = ('[3] Z. Yu, J. A. Mix, and J. Fan, "An improved dipole-moment '
               'model," _IEEE Trans. Electromagn. Comput._, vol. 55, no. 1, '
               "pp. 97-108, Feb. 2013.")
        got = parse_citation(raw)
        assert got["title"] == "An improved dipole-moment model"
        assert got["year"] == 2013
        assert got["venue"] == "IEEE Trans. Electromagn. Comput."
        assert got["authors"] == ["Z. Yu", "J. A. Mix", "J. Fan"]

    def test_parse_citation_degenerate(self):
        from scientific_papers_ocr_spark.operators.references import parse_citation

        got = parse_citation("just some raw text with no structure")
        assert got["title"] is None and got["year"] is None

    def test_parse_citation_unquoted_title(self):
        # refextract-path fallback: leading name-shaped parts → authors,
        # first following non-name part → title (elaborator_class.py:205-212)
        from scientific_papers_ocr_spark.operators.references import parse_citation

        got = parse_citation(
            "[7] J. Smith, A. Jones-Lee, and K. Lee, Deep learning methods "
            "for OCR, _Nature Methods_, vol. 3, pp. 1-9, 2019."
        )
        assert got["authors"] == ["J. Smith", "A. Jones-Lee", "K. Lee"]
        assert got["title"] == "Deep learning methods for OCR"
        assert got["venue"] == "Nature Methods"
        assert got["year"] == 2019

        # authors followed directly by numbering: no title hallucinated
        got = parse_citation("[8] B. Author, vol. 2, pp. 3-4, 2020.")
        assert got["authors"] == ["B. Author"]
        assert got["title"] is None
        assert got["year"] == 2020

    def test_enriched_references_complexity_level(self, spark):
        # paper_sections.py:99-105 promotes elaborated refs to level 2
        from scientific_papers_ocr_spark.operators.references import enrich_references

        df = spark.createDataFrame(
            [("c1", 1, '[1] A. One, "t one," _V._, vol. 1, no. 1, pp. 1-2, 2001.')],
            ["conv_id", "ref_number", "raw"],
        )
        assert enrich_references(df).first()["reference_complexity_level"] == 2

    def test_enrich_references_df(self, spark):
        from scientific_papers_ocr_spark.operators.references import enrich_references

        df = spark.createDataFrame(
            [("c1", 1, '[1] A. One, "t one," _V._, vol. 1, no. 1, pp. 1-2, 2001.'),
             ("c1", 2, "unparseable")],
            ["conv_id", "ref_number", "raw"],
        )
        rows = {r["ref_number"]: r for r in enrich_references(df).collect()}
        assert rows[1]["title"] == "t one"
        assert rows[1]["year"] == 2001
        assert rows[1]["doi"] is None  # enrichment seam stays null
        assert rows[2]["title"] is None

    def test_enrich_references_offline(self, spark):
        """Every branch of the elaborator's match rule
        (elaborator_class.py:83-174): exact title+year match, null year
        matching any catalog year, null title never enriched, lowest-doi
        tie-break among ambiguous exact-title rows, and creation-date year
        override."""
        from scientific_papers_ocr_spark.operators.references import (
            enrich_references_offline,
        )

        null_seam = [None, None, None, None, None]
        refs = spark.createDataFrame(
            [
                (1, "Alpha Paper", 2001, *null_seam),      # exact title+year
                (2, " alpha paper ", None, *null_seam),    # null year: any year, tie-break
                (3, None, 2005, *null_seam),               # null title: untouched
                (4, "Dated Paper", 1999, *null_seam),      # date overrides year
                (5, "No Such Paper", 2001, *null_seam),    # no catalog row
            ],
            "ref_id int, title string, year int, doi string, url string, "
            "publisher string, publication_type string, date double",
        )
        catalog = spark.createDataFrame(
            [
                ("ALPHA PAPER", 2001, "10.1/b", "u1", "P1", "journal-article", None),
                ("Alpha Paper", 2003, "10.1/a", "u2", "P2", "journal-article", None),
                # 1.6e9 s ≈ 2020-09-13 — mid-year, timezone-safe
                ("Dated Paper", 1999, "10.1/c", "u3", "P3", "book", 1.6e9),
            ],
            "title string, year int, doi string, url string, publisher string, "
            "publication_type string, date double",
        )
        out = {r["ref_id"]: r for r in enrich_references_offline(refs, catalog).collect()}
        assert out[1]["doi"] == "10.1/b" and out[1]["year"] == 2001
        assert out[2]["doi"] == "10.1/a"  # lowest doi across both years
        assert out[3]["doi"] is None and out[3]["year"] == 2005
        assert out[4]["doi"] == "10.1/c" and out[4]["year"] == 2020
        assert out[4]["publication_type"] == "book"
        assert out[5]["doi"] is None and out[5]["publisher"] is None
        assert len(out) == 5
