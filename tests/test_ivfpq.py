"""Pins for the persisted IVF×PQ index (llm/ann_index.py:IvfPqIndex —
round-9 verdict item 8): lifecycle determinism, O(batch) appends,
probe-driven file pruning, and MEASURED recall with n_probe as the
monotone lever (rows-only catalog entry — these pins are its
correctness gate, the tests/test_pq.py pattern)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from interop_datalake_spark.llm.ann_index import IvfPqIndex
from interop_datalake_spark.llm.similarity import brute_force_topk
from interop_datalake_spark.session import DatalakeSession


@pytest.fixture()
def lake(spark):
    root = tempfile.mkdtemp(prefix="ivfpq_")
    yield DatalakeSession(lake_root=root, spark=spark)
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact_top10(spark, emb):
    ex = brute_force_topk(
        emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding"),
        emb.select("vec_id", "embedding"),
        "embedding",
        "vec_id",
        k=10,
    )
    return {(r.query_id, r.neighbor_id) for r in ex.collect()}


def _queries(emb):
    return emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding")


class TestLifecycle:
    def test_build_append_query_deterministic(self, spark, lake, emb):
        idx = IvfPqIndex(lake, "pqx")
        idx.build(
            emb.filter(F.col("vec_id") < 400), "embedding", "vec_id"
        )
        idx.append(
            emb.filter(F.col("vec_id") >= 400), "embedding", "vec_id"
        )
        r1 = sorted(
            map(
                tuple,
                idx.query(
                    _queries(emb), "embedding", "vec_id", k=5
                ).collect(),
            )
        )
        r2 = sorted(
            map(
                tuple,
                idx.query(
                    _queries(emb), "embedding", "vec_id", k=5
                ).collect(),
            )
        )
        assert r1 == r2 and r1
        qids = {t[0] for t in r1}
        assert qids == set(range(20))
        assert all(t[0] != t[1] for t in r1)  # self excluded

    def test_append_never_touches_indexed_segments(
        self, spark, lake, emb
    ):
        idx = IvfPqIndex(lake, "pqx2")
        idx.build(
            emb.filter(F.col("vec_id") < 300), "embedding", "vec_id"
        )
        before = set(
            idx.codes.manifest(idx.codes.current_version())["files"]
        )
        idx.append(
            emb.filter(F.col("vec_id") >= 300), "embedding", "vec_id"
        )
        after = set(
            idx.codes.manifest(idx.codes.current_version())["files"]
        )
        assert before and before <= after  # strictly additive

    def test_fresh_handle_attaches_to_persisted_model(
        self, spark, lake, emb
    ):
        idx = IvfPqIndex(lake, "pqx3")
        idx.build(emb, "embedding", "vec_id")
        got1 = sorted(
            map(
                tuple,
                idx.query(
                    _queries(emb), "embedding", "vec_id", k=3
                ).collect(),
            )
        )
        fresh = IvfPqIndex(lake, "pqx3")  # no constructor state
        got2 = sorted(
            map(
                tuple,
                fresh.query(
                    _queries(emb), "embedding", "vec_id", k=3
                ).collect(),
            )
        )
        assert got1 == got2

    def test_probe_prunes_code_files(self, spark, lake, emb):
        idx = IvfPqIndex(lake, "pqx4")
        idx.build(emb, "embedding", "vec_id", n_cells=8)
        n_files = len(
            idx.codes.manifest(idx.codes.current_version())["files"]
        )
        assert n_files >= idx.shards  # cell-disjoint segments exist
        one = emb.filter(F.col("vec_id") == 0).select(
            "vec_id", "embedding"
        )
        idx.query(one, "embedding", "vec_id", k=3, n_probe=1)
        assert idx.last_query_scan_files is not None
        assert 0 < len(idx.last_query_scan_files) < n_files


class TestRecall:
    """Measured on the sf0.01 corpus (near-uniform unit sphere — the
    hardest regime). Round-11 RESIDUAL encoding (anchor = per-cell
    mean of normalized vectors): recall@10 vs exact float top-10 is
    0.30/0.325/0.36 at n_probe 2/4/8 of 8 cells, up from
    0.265/0.265/0.29 raw at the identical code budget. Floors pinned
    below the measured values; n_probe pinned as a monotone
    (non-strict) lever. The residual win is structurally larger on
    clustered corpora — pinned separately below."""

    def _recall(self, idx, emb, exact, n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in idx.query(
                _queries(emb), "embedding", "vec_id", k=10,
                n_probe=n_probe,
            ).collect()
        }
        return len(got & exact) / len(exact)

    def test_recall_floor_and_probe_lever(
        self, spark, lake, emb, exact_top10
    ):
        idx = IvfPqIndex(lake, "pqr")
        idx.build(emb, "embedding", "vec_id", n_cells=8)
        r2 = self._recall(idx, emb, exact_top10, 2)
        r4 = self._recall(idx, emb, exact_top10, 4)
        r8 = self._recall(idx, emb, exact_top10, 8)
        # round-11 floors (was 0.15/0.2 raw): residual measured
        # 0.30/0.325/0.36 — pinned with margin
        assert r2 >= 0.25, (r2, r4, r8)
        assert r4 >= r2 - 0.02 and r8 >= r4 - 0.02, (r2, r4, r8)
        assert r8 >= 0.3, (r2, r4, r8)

    def test_residual_beats_raw_on_clustered_corpus(
        self, spark, lake
    ):
        """The FAISS argument made concrete: on a corpus with real
        cluster structure (8 planted directions + noise — the shape
        actual embedding spaces have, unlike the uniform testdata),
        residual encoding must beat raw at the identical budget.
        Deterministic: seeded generator, seeded KMeans, RNG-free
        Lloyd."""
        import numpy as np

        from interop_datalake_spark.llm.similarity import (
            brute_force_topk,
        )

        rng = np.random.RandomState(7)
        centers = rng.randn(8, 64)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        X = centers[rng.randint(0, 8, 600)] + 0.25 * rng.randn(600, 64)
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(X)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )
        qs = df.filter(F.col("vec_id") < 20)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(
                qs, df, "embedding", "vec_id", k=10
            ).collect()
        }

        def recall(enc):
            idx = IvfPqIndex(lake, f"pqc_{enc}")
            idx.build(
                df, "embedding", "vec_id", n_cells=8, encoding=enc
            )
            got = {
                (r.query_id, r.neighbor_id)
                for r in idx.query(
                    qs, "embedding", "vec_id", k=10, n_probe=4
                ).collect()
            }
            return len(got & exact) / len(exact)

        r_raw, r_res = recall("raw"), recall("residual")
        assert r_res > r_raw, (r_raw, r_res)
        assert r_res >= r_raw + 0.05, (r_raw, r_res)

    def test_raw_encoding_still_supported_and_marked(
        self, spark, lake, emb
    ):
        """encoding='raw' still builds/queries (pre-round-11 indexes
        replay through the same path), and a books table with NO
        pq_encoding prop — the pre-round-11 layout — is treated as
        raw, so a fresh handle never mis-scores an old index."""
        idx = IvfPqIndex(lake, "pqraw")
        idx.build(
            emb.filter(F.col("vec_id") < 300),
            "embedding",
            "vec_id",
            encoding="raw",
        )
        assert idx._encoding() == "raw"
        out = idx.query(_queries(emb), "embedding", "vec_id", k=5)
        assert out.count() > 0
        # strip the marker column (simulate an old index): still raw
        from interop_datalake_spark.llm.pq import books_frame

        idx.books.overwrite(
            books_frame(spark, idx._stored_books())
        )
        assert idx._encoding() == "raw"

    def test_encoding_survives_maintenance_commits(
        self, spark, lake, emb
    ):
        """Round-11 review: the encoding is stored AS DATA (an _enc
        books column), not as a commit prop — a props-less maintenance
        commit (compact/restore) on the books table must NOT silently
        flip a residual index to raw scoring."""
        idx = IvfPqIndex(lake, "pqm")
        idx.build(
            emb.filter(F.col("vec_id") < 300), "embedding", "vec_id"
        )
        assert idx._encoding() == "residual"
        r1 = sorted(
            map(
                tuple,
                idx.query(
                    _queries(emb), "embedding", "vec_id", k=5
                ).collect(),
            )
        )
        idx.books.compact()  # props-less maintenance commit
        assert idx._encoding() == "residual"
        # a FRESH handle (no cache) attaching to the maintained index
        fresh = IvfPqIndex(lake, "pqm")
        assert fresh._encoding() == "residual"
        r2 = sorted(
            map(
                tuple,
                fresh.query(
                    _queries(emb), "embedding", "vec_id", k=5
                ).collect(),
            )
        )
        assert r1 == r2 and r1
