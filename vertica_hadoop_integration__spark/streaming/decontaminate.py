"""Streaming benchmark decontamination: drop training docs that share
any word n-gram with a (fixed, small) evaluation suite AS THEY ARRIVE,
instead of re-scanning the full corpus after every benchmark release.

Same production shape as ``streaming/dedup.py::stream_dedup_load`` —
``foreachBatch`` + ledger-guarded exactly-once + atomic batch commits —
with ``operators/corpus.py::decontaminate`` as the per-batch filter.
The eval shingle set is loaded ONCE at stream start and broadcast into
every micro-batch (benchmarks are MBs, corpora are TBs), so each batch
is a map-side semi-join over the new docs only: no shuffle of corpus
data, no state store, nothing grows with stream lifetime.

Reference tie-in: the reference's incremental loop moves one ledger
partition per iteration (sqoop_etl.py:77-83); this is the same contract
for the decontamination gate of a continuously-ingested corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..ledger import once_per_batch
from ..operators.corpus import decontaminate
from ..sources.writers import write_atomic
from .sink import start_stream


def stream_decontaminate_load(
    docs,
    eval_shingles: DataFrame,
    dest_dir: str,
    ledger_path: str,
    table_name: str = "docs_decon",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    checkpoint_dir: str | None = None,
):
    """Start the decontaminating ingest stream; returns the
    StreamingQuery.

    ``eval_shingles`` is the one-column (``shingle``) frame from
    ``operators/corpus.py::eval_shingle_set`` — pass the DataFrame, not
    a path, so the caller controls its storage (and it is read once,
    not per batch). Exactly-once follows the dedup loader: a replayed
    batch id already marked complete in the ledger is skipped wholesale,
    and output lands via atomic rename, so checkpoint recovery never
    double-writes a batch directory."""
    import os

    @once_per_batch(ledger_path, table_name)
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        key = str(batch_id)
        clean = decontaminate(
            batch_df, eval_shingles,
            text_col=text_col, id_col=id_col,
            shingle_n=shingle_n, mode="drop",
        )
        write_atomic(clean, os.path.join(dest_dir, f"batch={key}"))

    return start_stream(docs, _sink, checkpoint_dir)
