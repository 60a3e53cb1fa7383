"""Streaming incremental dedup ingest: the full production shape for a
continuously-growing training corpus —

    new docs stream -> per-batch self-dedup (exact + MinHash)
                    -> probe the PERSISTED index (everything ingested
                       before this batch; corpus text never re-read)
                    -> clean docs land atomically, ledger marks the
                       batch (exactly-once against replays)
                    -> the clean docs' OWN index rows append to the
                       index, so later batches dedup against them

Built on ``foreachBatch`` like ``loader.stream_load`` (same ledger
guard), with ``operators/dedup.py::minhash_index/minhash_probe`` doing
the heavy lifting. The index is two parquet dirs (``bands/``,
``verify/``); at cluster scale write them bucketed by (band_idx,
band_hash) / id so the probe joins are co-located.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ledger import once_per_batch
from ..operators.dedup import minhash_dedup, minhash_index, minhash_probe
from ..sources.writers import write_atomic


def _self_dedup(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    min_jaccard: float,
) -> DataFrame:
    """In-batch dedup: smallest id per exact normalized text, then drop
    the higher-id side of every verified near-dup pair (micro-batches
    are bounded, so the pairwise rule is exact enough; chains across
    batches are caught by the index probe)."""
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col(text_col))))).orderBy(
        F.col(id_col).asc()
    )
    exact = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    near_drops = (
        minhash_dedup(
            exact, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands, min_jaccard=min_jaccard,
        )
        .select(F.col("doc_id_b").alias(id_col))
        .distinct()
    )
    return exact.join(near_drops, on=id_col, how="left_anti")


def stream_dedup_load(
    docs,
    index_dir: str,
    dest_dir: str,
    ledger_path: str,
    table_name: str = "docs_stream",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    min_jaccard: float = 0.8,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the deduplicating ingest stream; returns the StreamingQuery.

    Exactly-once: the ledger records each batch id before its effects
    are considered durable — a replayed batch (checkpoint recovery)
    whose id is already complete is skipped wholesale, so neither the
    output dir nor the index double-appends. Within a batch the order
    is write-output -> append-index -> mark-complete; a crash between
    steps re-runs the whole batch, and the atomic-rename output commit
    plus the replay guard keep the result identical."""
    bands_path = os.path.join(index_dir, "bands")
    verify_path = os.path.join(index_dir, "verify")

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        clean = _self_dedup(
            batch_df, text_col, id_col, num_hashes, bands, min_jaccard
        )
        if os.path.exists(bands_path) and any(
            f.endswith(".parquet") for f in os.listdir(bands_path)
        ):
            idx_bands = spark.read.parquet(bands_path)
            idx_verify = spark.read.parquet(verify_path)
            hits = (
                minhash_probe(
                    idx_bands, idx_verify, clean,
                    text_col=text_col, id_col=id_col,
                    num_hashes=num_hashes, bands=bands,
                    min_jaccard=min_jaccard,
                )
                .select(F.col("new_id").alias(id_col))
                .distinct()
            )
            clean = clean.join(hits, on=id_col, how="left_anti")
        # docs can evaporate between plan reuses (lazy recompute), so pin
        # the clean set before writing it to BOTH the output and the index
        clean = clean.localCheckpoint()
        write_atomic(clean, os.path.join(dest_dir, f"batch={key}"))
        new_bands, new_verify = minhash_index(
            clean, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands,
        )
        new_bands.write.mode("append").parquet(bands_path)
        new_verify.write.mode("append").parquet(verify_path)

    writer = docs.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_chunk_dedup_load(
    docs,
    index_dir: str,
    dest_dir: str,
    ledger_path: str,
    table_name: str = "chunks_stream",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 20,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    chunker: str = "fixed",
    boundary_mod: int = 16,
):
    """Streaming C4-style paragraph dedup: each batch's docs are chunked,
    chunks already seen — in the persisted index OR earlier in this
    batch (by doc_id, chunk_idx) — are dropped, survivors are
    reassembled into documents and landed, and the surviving chunk
    hashes append to the index so later batches dedup against them.
    Matches the batch corpus_paragraph_dedup exactly when batches arrive
    in doc_id order.

    ``chunker='fixed'`` (operators/corpus.py::chunk_fixed) keeps the C4
    fixed-width unit; ``chunker='cdc'`` (corpus.cdc_chunks,
    normalize=False so reassembly is faithful) uses content-defined
    hash-residue boundaries — an INSERTION in a later near-copy shifts
    fixed-width boundaries everywhere (nothing dedups), while CDC
    boundaries resynchronize and the copy's shared chunks still hit the
    index (pytest-demonstrated).

    The index stores md5 hashes only (16 bytes/chunk), never chunk text
    — at 100 TB the index is ~1% of corpus size and the probe is a hash
    equi-join. Same ledger exactly-once contract as stream_dedup_load."""
    from ..operators.corpus import cdc_chunks, chunk_fixed, reassemble_chunks

    if chunker not in ("fixed", "cdc"):
        raise ValueError(f"unknown chunker: {chunker!r}")
    hash_path = os.path.join(index_dir, "chunk_hashes")

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key = str(batch_id)
        if chunker == "cdc":
            chunks = cdc_chunks(
                batch_df,
                text_col=text_col,
                id_col=id_col,
                boundary_mod=boundary_mod,
                normalize=False,
            )
        else:
            chunks = chunk_fixed(
                batch_df, text_col=text_col, id_col=id_col,
                chunk_size=chunk_size,
            )
        chunks = chunks.withColumn("_h", F.md5(F.col("chunk")))
        # in-batch first-occurrence wins (global order = doc, position)
        w = Window.partitionBy("_h").orderBy(id_col, "chunk_idx")
        kept = chunks.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        # drop chunks whose hash is already in the persisted index
        if os.path.exists(hash_path) and any(
            f.endswith(".parquet") for f in os.listdir(hash_path)
        ):
            seen = spark.read.parquet(hash_path)
            kept = kept.join(seen, kept._h == seen.chunk_hash, "left_anti")
        kept = kept.localCheckpoint()  # pin: lands in output AND index
        out = reassemble_chunks(kept, id_col=id_col)
        write_atomic(out, os.path.join(dest_dir, f"batch={key}"))
        kept.select(F.col("_h").alias("chunk_hash")).write.mode(
            "append"
        ).parquet(hash_path)

    writer = docs.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
