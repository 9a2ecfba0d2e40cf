"""Persisted trained-ANN index: train once, save through the StateIO
seam, load-and-serve in any later session with ZERO retraining.

VERDICT r4 #3 ("first thing an ANN user needs after training works"):
the session memo (similarity._trained_memo) makes composed queries
cheap inside one session, but production trains a quantizer once and
serves it for weeks across jobs. This module is the FAISS
write_index/read_index analogue in Spark shapes:

  * components are parquet written by Spark itself (spark.read/write
    speak any Hadoop URI, so no adapter needed for the bulk data);
  * the MANIFEST is the commit point, written atomically through the
    same StateIO seam the scheduler's checkpoints use (stateio.py) —
    LocalStateIO and ObjectStoreStateIO both uphold "readers see the
    old manifest or the new one, never a torn write";
  * saves are versioned (rev=N directories): component writes land in
    a fresh rev dir first, the manifest flips to it last, so a crash
    mid-save leaves the previous rev fully servable and the orphan rev
    is swept on the next successful save.

Layout under <path>/:
  manifest.json          {"rev": N, geometry, counts}   <- commit point
  rev=N/codebook/        (m, code, cw array<double>)    broadcast-sized
  rev=N/centroids/       (cent_id, ce array<double>)    IVF only
  rev=N/codes/           (vec_id, cell?, codes array<int>)  n_sub B/vec
  rev=N/vectors/         (vec_id, embedding)  raw store for the exact
                         refine stage (FAISS IndexRefineFlat keeps the
                         flat vectors for the same reason)

At 100 TB the codes table is the object that makes serving feasible
(n_sub bytes/vector vs 4·dim raw); vectors/ is only scanned by the
shortlist join of the refine stage (k·rerank rows per query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cola_spark.stateio import DEFAULT_IO, StateIO


def save_ann_index(
    corpus: DataFrame, path: str,
    n_sub: int = 32, n_codes: int = 64, sub_dim: int = 2,
    n_cells: int = 0, train_iters: int = 3, train_permille: int = 1000,
    id_col: str = "vec_id", vec_col: str = "embedding",
    io: StateIO = DEFAULT_IO,
) -> dict:
    """Train (PQ codebook; plus IVF cells when n_cells > 0), encode the
    full corpus, and commit everything under `path`. Returns the new
    manifest. train_permille bounds the Lloyd input (similarity.
    _train_sample) — at real scale ALWAYS pass a bounded sample rate."""
    from cola_spark.operators.similarity import (
        _assign_cells, ivf_cells, pq_codebook, pq_encode,
    )

    spark = corpus.sparkSession
    prev = io.read_json(f"{path}/manifest.json")
    rev = (int(prev["rev"]) + 1) if prev else 0
    rd = f"{path}/rev={rev}"

    metric = "l2s" if train_iters > 0 else "cos"
    cb = pq_codebook(
        corpus, n_sub, n_codes, sub_dim, id_col, vec_col,
        train_iters=train_iters, train_permille=train_permille,
    )
    cb.write.mode("overwrite").parquet(f"{rd}/codebook")
    cb_saved = spark.read.parquet(f"{rd}/codebook")

    codes = pq_encode(
        corpus, cb_saved, n_sub, sub_dim, id_col, vec_col, metric=metric
    )
    if n_cells > 0:
        cents = ivf_cells(
            corpus, n_cells, id_col, vec_col,
            train_iters=train_iters, train_permille=train_permille,
        )
        cents.write.mode("overwrite").parquet(f"{rd}/centroids")
        cents_saved = spark.read.parquet(f"{rd}/centroids")
        inv = _assign_cells(
            corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")),
            cents_saved, nprobe=1,
        ).select("vec_id", "cell")
        codes = codes.join(inv, "vec_id")
    codes.write.mode("overwrite").parquet(f"{rd}/codes")
    corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).write.mode("overwrite").parquet(f"{rd}/vectors")

    manifest = {
        "rev": rev, "n_sub": n_sub, "n_codes": n_codes, "sub_dim": sub_dim,
        "n_cells": n_cells, "train_iters": train_iters,
        "train_permille": train_permille, "metric": metric,
        "n_vectors": spark.read.parquet(f"{rd}/codes").count(),
    }
    io.write_json_atomic(f"{path}/manifest.json", manifest)  # commit
    if prev is not None:
        io.remove_dir(f"{path}/rev={prev['rev']}")  # sweep superseded rev
    return manifest


def load_ann_index(
    spark: SparkSession, path: str, io: StateIO = DEFAULT_IO
) -> "AnnIndex":
    m = io.read_json(f"{path}/manifest.json")
    if m is None:
        raise FileNotFoundError(f"no committed ANN index at {path}")
    return AnnIndex(spark, path, m)


class AnnIndex:
    """A loaded index: serve top-k with zero retraining. The codebook
    (and centroids) are broadcast-sized by construction; codes and
    vectors stay distributed parquet scans."""

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        rd = f"{path}/rev={manifest['rev']}"
        self.codebook = spark.read.parquet(f"{rd}/codebook")
        self.codes = spark.read.parquet(f"{rd}/codes")
        self.vectors = spark.read.parquet(f"{rd}/vectors")
        self.centroids = (
            spark.read.parquet(f"{rd}/centroids")
            if int(manifest.get("n_cells") or 0) > 0 else None
        )

    def topk(
        self, queries: DataFrame, k: int = 5, nprobe: int = 0, rerank: int = 0,
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> DataFrame:
        """(query_id, neighbor_id, rank): ADC top-k from the persisted
        codes — bit-identical to pq_topk/ivfpq_topk over the same
        trained quantizer (test-pinned). nprobe > 0 prunes candidates
        to the query's nprobe nearest stored cells (requires an index
        saved with n_cells > 0); rerank > 0 adds the exact-cosine
        refine pass over the raw vector store."""
        from cola_spark.operators.similarity import (
            _assign_cells, _expanded_dot_cos, _rank_or_refine, _sub_rows,
        )

        n_sub = int(self.manifest["n_sub"])
        sub_dim = int(self.manifest["sub_dim"])
        enc = self.codes.select(
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("codes").alias("m", "code"),
            *(["cell"] if self.centroids is not None else []),
        )
        qsub = _sub_rows(queries, "query_id", n_sub, sub_dim, id_col, vec_col)
        dot, _ = _expanded_dot_cos(F.col("sub"), F.col("cw"), sub_dim)
        qlut = qsub.join(F.broadcast(self.codebook), "m").select(
            "query_id", "m", "code", dot.alias("t")
        )
        pivot = [
            F.max(F.when(F.col("m") == i, F.col("t"))).alias(f"_t{i}")
            for i in range(n_sub)
        ]
        score = F.col("_t0")
        for i in range(1, n_sub):
            score = score + F.col(f"_t{i}")
        if nprobe > 0:
            if self.centroids is None:
                raise ValueError("index was saved without IVF cells")
            probes = _assign_cells(
                queries.select(
                    F.col(id_col).alias("query_id"), F.col(vec_col).alias("_v")
                ),
                self.centroids, nprobe=nprobe,
            ).select("query_id", "cell")
            enc = enc.join(F.broadcast(probes), "cell")
            sims = enc.join(F.broadcast(qlut), ["query_id", "m", "code"])
        else:
            sims = enc.join(F.broadcast(qlut), ["m", "code"])
        sims = (
            sims.filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(*pivot)
            .select("query_id", "neighbor_id", score.alias("score"))
        )
        q_norm = queries.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        return _rank_or_refine(
            sims, q_norm, self.vectors, k, rerank, "vec_id", "embedding"
        )
