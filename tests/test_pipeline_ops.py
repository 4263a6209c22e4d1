"""Tests for the training-data pipeline operators: dedup (exact /
MinHash-LSH / SimHash), text analysis (tokens, langid, winnowing),
similarity search (brute force + hyperplane LSH), multimodal
plumbing, and the lineage/resume snapshot machinery."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from gdal_spark.dedup import (
    exact_dedup,
    hamming_pairs,
    lsh_pairs,
    simhash,
    tokens_col,
    with_minhash,
)
from gdal_spark.media import extract_media_table, image_features, sample_frames
from gdal_spark.metrics import anti_join_done, read_lineage, resume_done_keys, write_snapshot
from gdal_spark.similarity import QUANT, ann_topk, cosine_topk, plane_sign
from gdal_spark.text import lang_id, winnow_fingerprints


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


class TestDedup:
    def test_exact_dedup(self, spark):
        df = _docs(spark, ["a b c", "a b c", "x y", "a b c"])
        out = {r.kept_id: r.dup_n for r in exact_dedup(df, id_col="doc_id").collect()}
        assert out == {0: 3, 2: 1}

    def test_minhash_finds_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base + " ok"  # one extra token -> high jaccard
        far = "completely different words in this one nothing shared at all here"
        df = _docs(spark, [base, near, far])
        sigs = with_minhash(df, text_col="text")
        pairs = lsh_pairs(sigs, id_col="doc_id", threshold=0.5).collect()
        assert [(r.a, r.b) for r in pairs] == [(0, 1)]
        assert pairs[0].jaccard > 0.7

    def test_minhash_identical_docs_jaccard_1(self, spark):
        df = _docs(spark, ["same text tokens here ok fine", "same text tokens here ok fine"])
        pairs = lsh_pairs(with_minhash(df), id_col="doc_id", threshold=0.9).collect()
        assert len(pairs) == 1 and pairs[0].jaccard == 1.0

    def test_lsh_band_join_carries_ids_only(self, spark):
        """Shuffle-diet property (round-2 verdict): the band-hash
        self-join subplan must never reference the shingle arrays —
        they re-join by id after candidate dedup."""
        from gdal_spark.dedup import lsh_candidates

        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = _docs(spark, [base, base + " ok", "unrelated words entirely here"])
        sigs = with_minhash(df, text_col="text")
        # materialize so the signature derivation doesn't appear in the
        # plan; candidate generation must then prune _shingles entirely
        mat = spark.createDataFrame(sigs.collect(), sigs.schema)
        cand = lsh_candidates(mat, id_col="doc_id")
        assert cand.columns == ["a", "b"]
        plan = cand._jdf.queryExecution().optimizedPlan().toString()
        # the source relation line lists the full schema; every Project
        # (what actually flows into the join) must have pruned the
        # shingle payload
        project_lines = [ln for ln in plan.splitlines() if "Project" in ln]
        assert project_lines and all("_shingles" not in ln for ln in project_lines)
        # and the full pipeline still verifies with exact jaccard
        pairs = lsh_pairs(sigs, id_col="doc_id", threshold=0.5).collect()
        assert [(r.a, r.b) for r in pairs] == [(0, 1)]

    def test_simhash_near_docs_close(self, spark):
        base = " ".join(f"tok{i}" for i in range(40))
        near = " ".join(f"tok{i}" for i in range(39))
        far = " ".join(f"other{i}" for i in range(40))
        df = _docs(spark, [base, near, far])
        sigs = df.select("doc_id", simhash(tokens_col(F.col("text"))).alias("simhash"))
        vals = {r.doc_id: r.simhash for r in sigs.collect()}
        d_near = bin(vals[0] ^ vals[1]).count("1")
        d_far = bin(vals[0] ^ vals[2]).count("1")
        assert d_near < d_far

    def test_hamming_pairs_blocking_is_lossless(self, spark):
        # pairs within max_dist must be found despite chunk blocking
        sigs = spark.createDataFrame(
            [Row(doc_id=0, simhash=0b1010), Row(doc_id=1, simhash=0b1011), Row(doc_id=2, simhash=0xFFFF00)]
        )
        out = hamming_pairs(sigs, max_dist=3).collect()
        assert [(r.a, r.b, r.hamming) for r in out] == [(0, 1, 1)]


class TestText:
    def test_winnow_matches_python_reference(self, spark):
        text = "abcdefghijklmnopqrstuvwxyz0123456789"
        k, w = 8, 4

        def h(g):
            return int(hashlib.md5(f"win:{g}".encode()).hexdigest()[:15], 16)

        grams = [text[i : i + k] for i in range(len(text) - k + 1)]
        hs = [h(g) for g in grams]
        expected = sorted({min(hs[j : j + w]) for j in range(len(hs) - w + 1)})
        df = _docs(spark, [text])
        got = sorted(r.fp for r in winnow_fingerprints(df, id_col="doc_id").collect())
        assert got == expected

    def test_lang_id_markers(self, spark):
        df = _docs(spark, ["the cat sat on the mat", "la casa de la abuela", "der hund und die katze"])
        out = [r.pred_lang for r in df.select(lang_id(F.col("text")).alias("pred_lang")).collect()]
        assert out == ["en", "es", "de"]


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark):
        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(50, 8)).astype(np.float32)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(50)]
        )
        q = vecs[3]
        cs = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        expected = list(np.lexsort((np.arange(50), -cs))[:5])
        got = [r.vec_id for r in cosine_topk(df, [float(v) for v in q], 5).orderBy("rank").collect()]
        assert got == expected

    def test_ann_lsh_query_bucket_contains_query(self, spark):
        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(80, 8)).astype(np.float32)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(80)]
        )
        q = [float(v) for v in vecs[5]]
        got = ann_topk(df, q, k=3, dims=8, planes=2).orderBy("rank").collect()
        assert got[0].vec_id == 5  # the query's own row shares its bucket

    def test_plane_sign_deterministic(self):
        assert plane_sign(0, 0) in (-1, 1)
        assert plane_sign(0, 0) == plane_sign(0, 0)
        assert QUANT == 1_000_000

    def test_ann_multiprobe_recall(self, spark):
        """Clustered corpus: multi-probe LSH (8 planes, hamming-1)
        must reach recall@10 >= 0.9 vs exact brute force."""
        rng = np.random.default_rng(19)
        centers = rng.normal(size=(20, 16))
        vecs = np.concatenate(
            [c + 0.02 * rng.normal(size=(10, 16)) for c in centers], axis=0
        ).astype(np.float32)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(len(vecs))]
        )
        q = vecs[5]  # member of cluster 0
        cs = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        exact = set(np.lexsort((np.arange(len(vecs)), -cs))[:10].tolist())
        got = {
            r.vec_id
            for r in ann_topk(
                df, [float(v) for v in q], k=10, dims=16, planes=8, probe_hamming=1
            ).collect()
        }
        assert len(got & exact) / 10 >= 0.9

    def test_with_bucket_layout(self, spark):
        from gdal_spark.similarity import probe_buckets, query_bits, with_bucket

        rng = np.random.default_rng(23)
        vecs = rng.normal(size=(40, 8)).astype(np.float32)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(40)]
        )
        b = with_bucket(df, dims=8, planes=8)
        assert "lsh_bucket" in b.columns
        # probing via the persisted column equals on-the-fly buckets
        q = [float(v) for v in vecs[3]]
        via_col = ann_topk(b, q, k=5, dims=8, planes=8, probe_hamming=1, bucket_col="lsh_bucket")
        via_fly = ann_topk(df, q, k=5, dims=8, planes=8, probe_hamming=1)
        assert [r.vec_id for r in via_col.orderBy("rank").collect()] == [
            r.vec_id for r in via_fly.orderBy("rank").collect()
        ]
        # hamming-1 probe set has planes+1 buckets
        assert len(probe_buckets(query_bits(q, 8, 8), 8, 1)) == 9

    def test_topk_plan_is_take_ordered(self, spark):
        """The top-k must compile to TakeOrderedAndProject (per-partition
        partial top-k), never a global-window single-partition sort of
        all scored rows (the round-1 scale bug)."""
        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(20, 8)).astype(np.float32)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(20)]
        )
        plan = cosine_topk(df, [float(v) for v in vecs[0]], 5)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestIVF:
    """IVF coarse-quantizer ANN (similarity.ivf_*): deterministic
    k-means training, cell layout, probe recall."""

    @staticmethod
    def _corpus(spark, n_clusters=6, per=15, dims=16, seed=23):
        rng = np.random.default_rng(seed)
        centers = 3.0 * rng.normal(size=(n_clusters, dims))
        vecs = np.concatenate(
            [c + 0.05 * rng.normal(size=(per, dims)) for c in centers], axis=0
        ).astype(np.float32)
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(len(vecs))]
        )
        return df, vecs

    def test_train_deterministic_and_partitions_all_rows(self, spark):
        from gdal_spark.similarity import ivf_train, with_ivf_cell

        df, vecs = self._corpus(spark)
        c1 = ivf_train(df, dims=16, n_cells=4, iters=2)
        c2 = ivf_train(df, dims=16, n_cells=4, iters=2)
        assert c1 == c2  # fully deterministic, no RNG anywhere
        laid = with_ivf_cell(df, c1, "embedding")
        cells = {r.ivf_cell for r in laid.select("ivf_cell").distinct().collect()}
        assert cells <= set(range(4))
        assert laid.count() == len(vecs)  # assignment is total

    def test_probe_recall_on_clustered_corpus(self, spark):
        from gdal_spark.similarity import ivf_topk

        df, vecs = self._corpus(spark)
        q = vecs[3]  # member of cluster 0
        cs = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        exact = set(np.lexsort((np.arange(len(vecs)), -cs))[:10].tolist())
        got = {
            r.vec_id
            for r in ivf_topk(df, [float(v) for v in q], k=10, dims=16,
                              n_cells=6, iters=2, nprobe=2).collect()
        }
        assert len(got & exact) / 10 >= 0.9
        # the query's own row is rank 1 in its probed cell
        rows = ivf_topk(df, [float(v) for v in q], k=1, dims=16,
                        n_cells=6, iters=2, nprobe=2).collect()
        assert rows[0].vec_id == 3

    def test_lloyd_iteration_reduces_inertia(self, spark):
        from gdal_spark.similarity import QUANT, ivf_train

        df, vecs = self._corpus(spark)
        qv = np.round(vecs.astype(np.float64) * QUANT)

        def inertia(cents):
            cmat = np.array([[si / n for si in s] for s, n in cents])
            d = ((qv[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            return float(d.min(axis=1).sum())

        i0 = inertia(ivf_train(df, dims=16, n_cells=4, iters=0))
        i2 = inertia(ivf_train(df, dims=16, n_cells=4, iters=2))
        assert i2 < i0  # Lloyd steps strictly improve on this corpus


class TestMedia:
    def test_image_features_shapes(self, spark):
        from gdal_spark.datagen import docs_table

        d = docs_table(spark, n=30)
        feats = image_features(extract_media_table(d)).collect()
        assert len(feats) == len([i for i in range(30) if i % 3 == 0])
        for r in feats:
            assert 16 <= r.width <= 32 and 16 <= r.height <= 32 and r.channels == 3
            assert 0 <= r.mean_luma_x1000 <= 255_000

    def test_image_features_normalize_png_channels(self, spark):
        # gray, gray+alpha and RGBA PNGs must read as the RGB image with
        # the gray repeated and the alpha dropped, as JPEG payloads do
        from gdal_spark.png import encode_png

        rng = np.random.default_rng(7)
        gray = rng.integers(0, 256, (20, 24), dtype=np.uint8)
        alpha = rng.integers(0, 256, (20, 24, 1), dtype=np.uint8)
        rgb = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
        cases = {
            "g": (gray, np.repeat(gray[:, :, None], 3, axis=2)),
            "ga": (np.concatenate([gray[:, :, None], alpha], axis=2), np.repeat(gray[:, :, None], 3, axis=2)),
            "rgba": (np.concatenate([rgb, alpha], axis=2), rgb),
        }
        rows = []
        for name, (img, want) in cases.items():
            rows.append((name, name, bytearray(encode_png(img))))
            rows.append((name + "_rgb", name, bytearray(encode_png(want))))
        media = spark.createDataFrame(rows, "doc_id string, media_ref string, payload binary")
        feats = {r.doc_id: r for r in image_features(media).collect()}
        for name in cases:
            got, want = feats[name], feats[name + "_rgb"]
            assert (got.width, got.height, got.channels) == (24, 20, 3)
            assert (got.mean_luma_x1000, got.phash) == (want.mean_luma_x1000, want.phash)

    def test_features_deterministic(self, spark):
        from gdal_spark.datagen import docs_table

        d = docs_table(spark, n=12)
        a = sorted((r.doc_id, r.phash) for r in image_features(extract_media_table(d)).collect())
        b = sorted((r.doc_id, r.phash) for r in image_features(extract_media_table(d)).collect())
        assert a == b

    def test_sample_frames_explodes(self, spark):
        from gdal_spark.datagen import docs_table

        d = docs_table(spark, n=9)
        frames = sample_frames(extract_media_table(d), every_n=4, n_frames=16).collect()
        per_doc = {}
        for r in frames:
            per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert all(sorted(v) == [0, 4, 8, 12] for v in per_doc.values())


class TestSnapshots:
    def test_write_read_lineage(self, spark, tmp_path):
        df = spark.range(100).withColumn("k", F.col("id") % 7)
        rec = write_snapshot(df, str(tmp_path / "snap"), "job1", inputs=["memory"], params={"n": 100})
        assert rec["row_count"] == 100
        assert read_lineage(str(tmp_path / "snap"))["job_id"] == "job1"

    def test_resume_anti_join(self, spark, tmp_path):
        path = str(tmp_path / "snap")
        work = spark.range(50).select(F.col("id").alias("k"))
        first = work.filter(F.col("k") < 20)
        write_snapshot(first, path, "job2")
        done = resume_done_keys(spark, path, ["k"])
        rest = anti_join_done(work, done, ["k"])
        assert sorted(r.k for r in rest.collect()) == list(range(20, 50))

    def test_incomplete_snapshot_ignored(self, spark, tmp_path):
        path = str(tmp_path / "snap")
        spark.range(10).write.parquet(path)  # no lineage sidecar
        assert resume_done_keys(spark, path, ["id"]) is None


class TestEmbeddingNearDup:
    def test_engineered_dups_found(self, spark):
        from gdal_spark.similarity import embedding_near_dup_pairs

        rng = np.random.default_rng(31)
        vecs = rng.normal(size=(60, 16)).astype(np.float32)
        rows = [Row(vec_id=i, embedding=[float(v) for v in vecs[i]]) for i in range(60)]
        # near-dups: copy with tiny perturbation
        rows += [
            Row(vec_id=i + 1000, embedding=[float(v + 0.001) for v in vecs[i]])
            for i in range(10)
        ]
        df = spark.createDataFrame(rows)
        pairs = {
            (r.a, r.b)
            for r in embedding_near_dup_pairs(df, dims=16, threshold=0.99, planes=6).collect()
        }
        # most engineered pairs share their bucket (tiny perturbation)
        found = sum((i, i + 1000) in pairs for i in range(10))
        assert found >= 8
        # no spurious pairs among the random base vectors
        assert not any(a < 1000 and b < 1000 for a, b in pairs)


class TestJaccardPairs:
    """Exact n-gram Jaccard similarity join (prefix-filtered AllPairs,
    dedup.jaccard_pairs): the prefix + length filters must be LOSSLESS
    — output == brute-force all-pairs — at every threshold."""

    def _corpus(self):
        # deterministic pseudo-corpus with engineered near/partial dups
        words = [f"w{i}" for i in range(30)]
        rows = []
        for d in range(20):
            toks = [words[(d * 7 + j * 3) % 30] for j in range(12)]
            rows.append(" ".join(toks))
        rows.append(rows[0] + " extra tail")        # near dup of 0
        rows.append(" ".join(rows[3].split()[:8]))  # prefix dup of 3
        rows.append(rows[5])                        # exact dup of 5
        return rows

    def _brute(self, rows, t, k=3):
        def shingles(text):
            toks = text.split()
            if len(toks) < k:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

        sets = [shingles(r) for r in rows]
        out = {}
        for a in range(len(rows)):
            for b in range(a + 1, len(rows)):
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= t:
                    out[(a, b)] = j
        return out

    @pytest.mark.parametrize("t", [0.3, 0.5, 0.8, 1.0])
    def test_lossless_vs_brute_force(self, spark, t):
        from gdal_spark.dedup import jaccard_pairs

        rows = self._corpus()
        df = _docs(spark, rows)
        got = {(r.a, r.b): r.jaccard for r in jaccard_pairs(df, threshold=t).collect()}
        want = self._brute(rows, t)
        assert set(got) == set(want)
        for pair, j in want.items():
            assert got[pair] == pytest.approx(j, abs=1e-12)

    def test_prefix_join_carries_ids_only(self, spark):
        """Same shuffle-diet property as lsh_pairs: the inverted-index
        prefix join must not carry the shingle arrays; full sets
        re-join by id only for the exact-verify stage."""
        from gdal_spark.dedup import jaccard_pairs

        df = _docs(spark, self._corpus())
        pairs = jaccard_pairs(df, threshold=0.5)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        # the candidate branch joins on the exploded shingle 's' with
        # (id, n) only; the arrays appear solely in the verify joins
        assert "array_intersect" in plan and "array_union" in plan

    def test_exact_dup_is_jaccard_1(self, spark):
        from gdal_spark.dedup import jaccard_pairs

        df = _docs(spark, ["same tokens in here fine ok", "same tokens in here fine ok"])
        got = jaccard_pairs(df, threshold=0.9).collect()
        assert len(got) == 1 and got[0].jaccard == 1.0


class TestSemanticDedup:
    """SemDeDup (similarity.semantic_dedup — Abbas et al. 2023): the
    upper-triangular within-cluster max-cosine drop rule, verified
    against a literal numpy replay of the paper's rule."""

    def test_matches_brute_force_replay(self, spark):
        from gdal_spark.similarity import ivf_assign, ivf_train, _quantized, semantic_dedup

        df, vecs = TestIVF._corpus(spark, n_clusters=4, per=10, dims=16, seed=5)
        tau = 0.6
        out = {r.vec_id: (r.cell, r.dropped)
               for r in semantic_dedup(df, dims=16, n_cells=4, iters=2, tau=tau).collect()}
        # independent replay: same clustering (via the operator's own
        # deterministic assignment), numpy quantized cosines
        cents = ivf_train(df, dims=16, n_cells=4, iters=2)
        cells = {r.vec_id: r.c for r in df.select(
            "vec_id", ivf_assign(cents, _quantized("embedding")).alias("c")).collect()}
        q = np.round(vecs.astype(np.float64) * 1e6)
        want = {}
        for i in range(len(vecs)):
            dropped = False
            for j in range(i):
                if cells[j] != cells[i]:
                    continue
                cos = float(q[i] @ q[j]) / (np.sqrt(q[i] @ q[i]) * np.sqrt(q[j] @ q[j]))
                if cos > tau:
                    dropped = True
                    break
            want[i] = (cells[i], dropped)
        assert out == want
        # tight clusters at tau=0.6: every cluster keeps at least its
        # lowest-id member and drops at least one near-duplicate
        assert any(d for _, d in out.values())
        for cell in {c for c, _ in out.values()}:
            kept = [v for v, (c, d) in out.items() if c == cell and not d]
            members = [v for v, (c, _) in out.items() if c == cell]
            assert min(members) in kept

    def test_tau_monotonicity(self, spark):
        from gdal_spark.similarity import semantic_dedup

        df, _ = TestIVF._corpus(spark, n_clusters=3, per=8, dims=16, seed=9)
        drops = {}
        for tau in (0.2, 0.6, 0.95):
            out = semantic_dedup(df, dims=16, n_cells=3, iters=2, tau=tau)
            drops[tau] = {r.vec_id for r in out.collect() if r.dropped}
        assert drops[0.95] <= drops[0.6] <= drops[0.2]
