"""Parquet-backed vector store — the engine's vector-persistence tier.

Spark-first port of the reference's file-based vector store
(/root/reference/src/core/rag/json_vector_store.py:42-520: documents.json
+ embeddings.npy + index.json, add/persist/load/similarity_search/delete/
export/import). Same capability set, re-expressed as a columnar table:

* one parquet table ``(id, text, metadata map<string,string>,
  embedding array<float>, version bigint)`` + an ``index.json`` sidecar
  (count, dim, format_version) — columnar beats the reference's
  JSON+npy pair at any scale and stays queryable in place;
* ``search`` is the engine's JVM cosine fold + rank window (no numpy on
  the driver, no collect of the corpus);
* ``upsert`` gives the Qdrant-style id-keyed overwrite the reference's
  remote tier provides (src/core/rag/vector_store.py) — latest version
  of an id wins, resolved with one window, no read-modify-write races;
* the external Qdrant *client* stays out of scope (network service;
  SURVEY §7.2) — this module is the store semantics the pipeline needs.

Embeddings are supplied by the caller (an embedding column produced by a
real model); ``fake_embedding_col`` provides the deterministic stand-in
for tests, mirroring the multimodal fake-decode pattern.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ragstudio_spark.operators.ranking import top_k
from ragstudio_spark.operators.similarity import dot
from ragstudio_spark.session import literal_table

FORMAT_VERSION = 1


def fake_embedding_col(text: Column, dim: int = 8) -> Column:
    """Deterministic hash-derived embedding (test stand-in for a model):
    dim floats in [0,1) from md5(text || :i)."""
    comps = [
        (F.conv(F.substring(F.md5(F.concat(text, F.lit(f":{i}"))), 1, 8), 16, 10)
         .cast("double") / F.lit(float(2 ** 32))).cast("float")
        for i in range(dim)
    ]
    return F.array(*comps)


def write_store(df: DataFrame, path: str, mode: str = "overwrite") -> dict:
    """Persist (id, text, metadata, embedding[, version]) + index sidecar.
    Returns the index dict (reference persist + index.json:279-348)."""
    if "version" not in df.columns:
        df = df.withColumn("version", F.lit(0).cast("bigint"))
    df.select("id", "text", "metadata", "embedding", "version").write.mode(
        mode).parquet(os.path.join(path, "vectors"))
    spark = df.sparkSession
    stored = spark.read.parquet(os.path.join(path, "vectors"))
    first = stored.select(F.size("embedding").alias("d")).first()
    index = {
        "format_version": FORMAT_VERSION,
        "count": stored.count(),
        "dim": int(first["d"]) if first else 0,
    }
    with open(os.path.join(path, "index.json"), "w") as f:
        json.dump(index, f)
    return index


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted store (latest version per id)."""
    df = spark.read.parquet(os.path.join(path, "vectors"))
    return _latest(df)


def store_info(path: str) -> dict:
    """get_collection_info analogue (json_vector_store.py:412-421)."""
    with open(os.path.join(path, "index.json")) as f:
        return json.load(f)


def _latest(df: DataFrame) -> DataFrame:
    # content-hash tie-break: duplicate ids WITHIN one version (a batch
    # that carried the same id twice) must still resolve deterministically,
    # never by shuffle order
    return top_k(df, 1, [F.desc("version"), F.asc(
        F.md5(F.to_json(F.struct("text", "embedding"))))], by=["id"])


def upsert(store: DataFrame, new: DataFrame) -> DataFrame:
    """Id-keyed overwrite: rows in ``new`` replace same-id rows in
    ``store`` (Qdrant upsert semantics). Resolved with one version window
    — append-friendly, no read-modify-write. Fully lazy: the version bump
    is a single-row aggregate inside the plan, not a driver
    action, so building an upsert never scans the store at call time."""
    if "version" not in store.columns:
        store = store.withColumn("version", F.lit(0).cast("bigint"))
    bump = store.agg(
        (F.coalesce(F.max("version"), F.lit(0)) + 1).alias("_newv"))
    new = (
        new.crossJoin(bump)
        .withColumn("version", F.col("_newv").cast("bigint"))
        .drop("_newv")
    )
    return _latest(store.unionByName(new.select(*store.columns)))


def delete(store: DataFrame, ids: list[str]) -> DataFrame:
    """Drop the given ids (delete(), json_vector_store.py:374-410)."""
    ids_df = literal_table(store.sparkSession, [(i,) for i in ids],
                           "id string")
    return store.join(ids_df, on="id", how="left_anti")


def search(store: DataFrame, query_embedding: list[float], k: int = 4) -> DataFrame:
    """Cosine top-k over the store (similarity_search_with_score,
    json_vector_store.py:225-277) — JVM fold, distributed partial top-k,
    deterministic id tie-break. Returns (id, text, metadata, score, rank).

    Norms get the reference's +1e-10 epsilon (json_vector_store.py:
    279-284): embeddings are caller-supplied, and one zero-norm row would
    otherwise kill the whole query under ANSI-mode division."""
    q = F.array(*[F.lit(float(x)).cast("float") for x in query_embedding])
    e = F.col("embedding")
    score = dot(e, q) / ((F.sqrt(dot(e, e)) + 1e-10) * (F.sqrt(dot(q, q)) + 1e-10))
    scored = store.withColumn("score", score)
    return top_k(scored, k, [F.desc("score"), F.asc("id")],
                 rank="rank").select("id", "text", "metadata", "score", "rank")


def ingest_chunks(chunks: DataFrame, path: str,
                  embedding: Column | None = None,
                  mode: str = "overwrite") -> dict:
    """The lifecycle's final step (reference: chunk → embed → vector-store
    ingest): shape the pipeline's chunk table into store rows and persist.
    ``embedding`` is the embedding column from a real model; defaults to
    the deterministic fake embedder (documented test stand-in). Chunk ids
    are the pipeline's deterministic chunk_id; metadata carries the
    provenance keys a retriever filters on."""
    emb = embedding if embedding is not None else fake_embedding_col(F.col("text"))
    rows = chunks.select(
        F.col("chunk_id").alias("id"),
        "text",
        F.create_map(
            F.lit("conv_id"), F.col("conv_id"),
            F.lit("turn_idx"), F.col("turn_idx").cast("string"),
            F.lit("chunk_index"), F.col("chunk_index").cast("string"),
            F.lit("strategy"), F.col("chunking_strategy"),
        ).alias("metadata"),
        emb.alias("embedding"),
    )
    return write_store(rows, path, mode=mode)


def export_jsonl(store: DataFrame, path: str) -> None:
    """Portable JSONL export (export_to_json, json_vector_store.py:478-507;
    line-oriented instead of one array so export stays distributed)."""
    store.select(F.to_json(F.struct("id", "text", "metadata", "embedding"))
                 .alias("value")).write.mode("overwrite").text(path)


def import_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Inverse of export_jsonl (import_from_json:509-520)."""
    return (
        spark.read.text(path)
        .select(F.from_json("value",
                            "id string, text string, metadata map<string,string>, "
                            "embedding array<float>").alias("r"))
        .select("r.*")
        .withColumn("version", F.lit(0).cast("bigint"))
    )
