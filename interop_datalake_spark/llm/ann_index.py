"""Persisted, incrementally-maintained IVF index over TxnTables — the
ANN counterpart of the LSH signature store (llm/dedup.py's
round-4 architecture): train once, then serve queries and absorb new
vectors WITHOUT ever re-touching the already-indexed corpus.

Two lake tables per index:

- ``{name}_centroids`` — the coarse quantizer in long form
  (cluster_id, dim, cx): the model artifact, k·d rows, always
  broadcastable;
- ``{name}_vectors``  — (id, cell, vec): every indexed vector stored
  IN its cell assignment, so a query's candidate fetch is an
  equi-join on ``cell`` against exactly this table.

Incremental append: a new batch is assigned against the STORED
centroids (one broadcast join over the batch — O(new batch), zero
reads of indexed vectors) and appended in one ACID commit. Queries
read only the two store tables. Centroid drift under sustained
appends is the documented operational tradeoff (same as every IVF
deployment): retrain with :func:`build_ivf_index` when recall decays.

Determinism: the quantizer is the RNG-free Lloyd trajectory
(llm/clustering.py:kmeans_fit), so build → append → append → query is
a pure function of the inputs and the DuckDB oracle replays the WHOLE
index lifecycle, not just one query.

:class:`IvfPqIndex` (round 10) composes the two retrieval
compressions into the standard billion-scale layout (FAISS IVFPQ;
Jégou et al. 2011): the coarse quantizer routes each vector to one
cell, the cell stores only the vector's m-byte PQ code, and a query
ADC-scores the codes of its ``n_probe`` nearest cells only — scan
bandwidth shrinks twice (n_probe/n_cells of the rows × 64× smaller
rows). Codes are range-partitioned by cell at every write, so the
per-file cell stats prune the probe's file set exactly like BM25's
term-sorted postings segments (``last_query_scan_files``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from interop_datalake_spark.functions.vectors import cosine_similarity
from interop_datalake_spark.lake.txn import TxnTable
from interop_datalake_spark.llm.clustering import kmeans_assign, kmeans_fit


class IvfIndex:
    def __init__(self, session, name: str):
        self.centroids = TxnTable(session, f"{name}_centroids")
        self.vectors = TxnTable(session, f"{name}_vectors")

    def _assign(self, df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
        cents = self.centroids.read()
        return kmeans_assign(df, vec_col, id_col, cents).select(
            id_col, F.col("cluster_id").alias("cell")
        )

    def build(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        k: int = 8,
        iters: int = 2,
    ) -> None:
        """Train the quantizer on ``df`` and index it: centroid table
        + cell-assigned vector table, each one ACID overwrite."""
        self.centroids.overwrite(
            kmeans_fit(df, vec_col, id_col, k=k, iters=iters)
        )
        assigned = self._assign(df, vec_col, id_col)
        self.vectors.overwrite(
            assigned.join(df.select(id_col, vec_col), id_col).select(
                F.col(id_col).alias("id"), "cell", F.col(vec_col).alias("vec")
            )
        )

    def append(self, df: DataFrame, vec_col: str, id_col: str) -> int:
        """Index a new batch against the STORED centroids: O(batch),
        one atomic commit, indexed vectors never rescanned."""
        assigned = self._assign(df, vec_col, id_col)
        return self.vectors.append(
            assigned.join(df.select(id_col, vec_col), id_col).select(
                F.col(id_col).alias("id"), "cell", F.col(vec_col).alias("vec")
            )
        )

    def query(
        self, queries: DataFrame, vec_col: str, id_col: str, k: int = 3
    ) -> DataFrame:
        """(query_id, neighbor_id, rn, cos): per query, the local
        top-k by cosine among the vectors of its nearest cell (probe
        widening = the multiprobe lever of llm/similarity.py; single
        probe here keeps the oracle one CTE shorter). Candidates come
        ONLY from the store."""
        probes = self._assign(queries, vec_col, id_col)
        q = probes.join(queries.select(id_col, vec_col), id_col).select(
            F.col(id_col).alias("query_id"), "cell",
            F.col(vec_col).alias("_qv"),
        )
        c = self.vectors.read().select(
            F.col("id").alias("neighbor_id"), "cell", F.col("vec").alias("_cv")
        )
        scored = (
            q.join(c, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cos", cosine_similarity("_qv", "_cv"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "rn", "cos")
        )


class IvfPqIndex:
    """Persisted IVF×PQ index — three lake tables:

    - ``{name}_centroids`` (cell, _cent_vec): the coarse quantizer
      (trained seeded KMeans, similarity.py:train_ivf_centroids);
    - ``{name}_books`` (s, code, cent): the PQ codebooks (driver-side
      bounded Lloyd, pq.py:train_pq_codebooks) — model state a fresh
      process re-attaches to;
    - ``{name}_codes`` (id, cell, codes): per vector ONE cell id and
      m code bytes — the only per-document data a query reads.

    Vectors are PQ-encoded as RESIDUALS (round-11 verdict item 4; the
    FAISS-IVFPQ standard): code(x) quantizes x̂ − ĉ(cell(x̂)), and a
    query scores dot(q̂, ĉ) + Σ_s dot(q̂_sub, book[s][code_s]) — the
    exact identity dot(q̂, x̂) = dot(q̂, ĉ) + dot(q̂, r). Residuals
    concentrate near zero, so the same 8-byte code budget quantizes
    them with far less error than raw unit vectors (recall floors
    re-pinned in tests/test_ivfpq.py: probe-restricted recall@10 rose
    from ~0.24/0.28 raw to ~2× that residual at identical budget).
    The encoding rides the books table's commit props
    (``pq_encoding``), so a fresh process attaching to a pre-residual
    index still scores it correctly as raw. Appends assign + encode
    against the STORED model — O(batch), indexed codes never
    rescanned. Queries must be BOUNDED frames (the ADC LUT broadcast
    contract of pq.py:pq_adc_topk)."""

    def __init__(self, session, name: str):
        self.centroids = TxnTable(session, f"{name}_centroids")
        self.books = TxnTable(session, f"{name}_books")
        self.codes = TxnTable(
            session, f"{name}_codes", stats_cols=["cell"]
        )
        self.shards = 4
        #: code files the last query's probed cells resolved — the
        #: BM25 last_query_scan_files pattern
        self.last_query_scan_files: list[str] | None = None

    def build(
        self,
        df: DataFrame,
        vec_col: str,
        id_col: str,
        n_cells: int = 8,
        m: int = 8,
        n_codes: int = 16,
        seed: int = 42,
        encoding: str = "residual",
    ) -> None:
        from interop_datalake_spark.llm.pq import (
            books_frame,
            train_pq_codebooks,
            train_pq_residual_model,
        )
        from interop_datalake_spark.llm.similarity import (
            train_ivf_centroids,
        )

        if encoding not in ("residual", "raw"):
            raise ValueError(f"unknown pq encoding {encoding!r}")
        cents = train_ivf_centroids(df, vec_col, n_cells, seed)
        if encoding == "residual":
            # ONE bounded sample collect yields codebooks AND anchors
            # (pq.py:train_pq_residual_model) — the stored anchors are
            # the exact arrays the codebooks trained against (round-11
            # review: a distributed F.avg anchor was partial-agg-order
            # nondeterministic and re-aggregated the corpus twice).
            # Anchors persist as an extra centroids-table column: one
            # broadcastable model table, re-read by appends + queries.
            cent_rows = [
                (r.cell, list(r._cent_vec)) for r in cents.collect()
            ]  # bounded: the coarse codebook
            books, anchor_rows = train_pq_residual_model(
                df, vec_col, id_col, cent_rows, m=m, n_codes=n_codes
            )
            anchors = df.sparkSession.createDataFrame(
                anchor_rows, "cell INT, _anchor ARRAY<DOUBLE>"
            )
            self.centroids.overwrite(cents.join(anchors, "cell"))
        else:
            self.centroids.overwrite(cents)
            books = train_pq_codebooks(
                df, vec_col, id_col, m=m, n_codes=n_codes
            )
        # the encoding is MODEL STATE stored AS DATA (an _enc column
        # on the books table), not as a commit prop: props live on one
        # commit record, so any props-less maintenance commit
        # (compact/restore/clone) would have silently flipped a
        # residual index to raw scoring (round-11 review); a data
        # column follows the table state through every maintenance op
        self.books.overwrite(
            books_frame(df.sparkSession, books).withColumn(
                "_enc", F.lit(encoding)
            )
        )
        self._enc_cache = None
        self._index_batch(df, vec_col, id_col, overwrite=True)

    def _encoding(self) -> str:
        """The index's PQ encoding, read from the books table's _enc
        column (pre-round-11 indexes have no such column → raw).
        Cached per (handle, books-version) — one tiny first() job
        would otherwise ride every query/append."""
        v = self.books.current_version()
        if v == 0:
            return "raw"
        cached = getattr(self, "_enc_cache", None)
        if cached and cached[0] == v:
            return cached[1]
        bf = self.books.read()
        enc = (
            bf.select("_enc").first()["_enc"]
            if "_enc" in bf.columns
            else "raw"
        )
        self._enc_cache = (v, enc)
        return enc

    def append(self, df: DataFrame, vec_col: str, id_col: str) -> int:
        """O(batch): assign + encode against the STORED model, one
        ACID commit; pre-append code segments stay untouched."""
        return self._index_batch(df, vec_col, id_col)

    def _stored_books(self) -> list[list[list[float]]]:
        # m×n_codes rows — the codebook is model state, not data
        # (bounded collect, same posture as train_ivf_centroids)
        rows = self.books.read().collect()
        m = 1 + max(r.s for r in rows)
        k = 1 + max(r.code for r in rows)
        out: list = [[None] * k for _ in range(m)]
        for r in rows:
            out[r.s][r.code] = [float(v) for v in r.cent]
        return out

    def _index_batch(
        self, df: DataFrame, vec_col: str, id_col: str,
        overwrite: bool = False,
    ) -> int:
        from interop_datalake_spark.llm.pq import (
            pq_encode,
            pq_encode_residual,
        )
        from interop_datalake_spark.llm.similarity import (
            ivf_assign_cells,
        )

        cents = self.centroids.read()
        assigned = ivf_assign_cells(
            df, vec_col, id_col, cents, n_probe=1
        )
        if self._encoding() == "residual":
            # encode x̂ − a against the SAME assignment that is stored
            # — encode and query must agree on each vector's anchor
            codes = pq_encode_residual(
                df,
                assigned,
                cents.select("cell", "_anchor"),
                vec_col,
                id_col,
                self._stored_books(),
            )
        else:
            codes = pq_encode(
                df, vec_col, id_col, self._stored_books()
            )
        rows = (
            assigned.join(codes, id_col)
            .select(F.col(id_col).alias("id"), "cell", "codes")
            # cell-disjoint segments: per-file cell stats make the
            # probe-time file resolution prune (the BM25 term-segment
            # layout, pinned in tests/test_ivfpq.py)
            .repartitionByRange(self.shards, "cell")
            .sortWithinPartitions("cell")
        )
        write = self.codes.overwrite if overwrite else self.codes.append
        return write(rows)

    def query(
        self,
        queries: DataFrame,
        vec_col: str,
        id_col: str,
        k: int = 3,
        n_probe: int = 2,
    ) -> DataFrame:
        """(query_id, neighbor_id, rn, score_pq): ADC top-k restricted
        to each query's ``n_probe`` nearest cells. The probe list
        resolves the code files to open (cell-range stats), candidates
        come from an equi-join on cell, and the per-(query, s, code)
        LUT weights broadcast — no float corpus vector is ever read."""
        from interop_datalake_spark.lake.ivm import resolve_key_files
        from interop_datalake_spark.llm.pq import (
            _dot,
            _subvectors,
            books_frame,
        )
        from interop_datalake_spark.llm.similarity import (
            ivf_assign_cells,
        )

        books = self._stored_books()
        m, d = len(books), len(books[0][0])
        cents = self.centroids.read()
        probes = ivf_assign_cells(
            queries, vec_col, id_col, cents, n_probe=n_probe
        ).select(F.col(id_col).alias("query_id"), "cell")
        if self._encoding() == "residual":
            # the coarse half of the residual identity:
            # dot(q̂, x̂) = dot(q̂, a_cell) + dot(q̂, r) — one bounded
            # (|Q|·n_probe)-row frame, same fixed-order fold as the
            # fine terms (bit-deterministic)
            qx = F.col(vec_col).cast("array<double>")
            qn = F.sqrt(
                F.aggregate(qx, F.lit(0.0), lambda a, v: a + v * v)
            )
            safe = F.when(qn == F.lit(0.0), F.lit(1.0)).otherwise(qn)
            qv = queries.select(
                F.col(id_col).alias("query_id"),
                qx.alias("_qx"),
                safe.alias("_qnrm"),
            )
            probes = (
                probes.join(qv, "query_id")
                .join(
                    F.broadcast(
                        cents.select("cell", "_anchor")
                    ),
                    "cell",
                )
                .select(
                    "query_id",
                    "cell",
                    (_dot("_qx", "_anchor") / F.col("_qnrm")).alias(
                        "_coarse"
                    ),
                )
            )
        else:
            probes = probes.withColumn("_coarse", F.lit(0.0))
        # probed cells are bounded by the centroid count — driver list
        cells = sorted(r.cell for r in probes.select("cell").distinct().collect())
        mf = self.codes.manifest(self.codes.current_version())
        files = resolve_key_files(self.codes, None, "cell", cells)
        self.last_query_scan_files = files
        spark = queries.sparkSession
        if not files:
            # type the empty frame from the CALLER's id column — a
            # hardcoded BIGINT diverges from the non-empty path for
            # string-id corpora (round-10 review)
            id_t = dict(queries.dtypes)[id_col]
            return spark.createDataFrame(
                [],
                f"query_id {id_t}, neighbor_id {id_t}, rn INT, "
                f"score_pq DOUBLE",
            )
        bframe = books_frame(spark, books)
        qsub = _subvectors(queries, vec_col, id_col, m, d).select(
            F.col(id_col).alias("query_id"), "s", "sub"
        )
        lut = qsub.join(F.broadcast(bframe), "s").select(
            "query_id", "s", "code", _dot("sub", "cent").alias("w")
        )
        cand = (
            self.codes._load_files(files, mf)
            .filter(F.col("cell").isin(cells))
            .join(probes, "cell")
            .filter(F.col("query_id") != F.col("id"))
            .select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                "_coarse",
                F.posexplode("codes").alias("s", "code"),
            )
            .withColumn("s", F.col("s").cast("int"))
        )
        scored = (
            cand.join(F.broadcast(lut), ["query_id", "s", "code"])
            .groupBy("query_id", "neighbor_id")
            # subspace-ordered fold: bit-deterministic scores on any
            # executor count (the pq_adc_topk convention). A neighbor
            # lives in exactly ONE cell (storage n_probe=1), so its m
            # rows share one _coarse — min() is just the deterministic
            # way to pick it up through the groupBy
            .agg(
                (
                    F.min("_coarse")
                    + F.aggregate(
                        F.array_sort(
                            F.collect_list(F.struct("s", "w"))
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x["w"],
                    )
                ).alias("score_pq")
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score_pq"), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "rn", "score_pq")
        )
