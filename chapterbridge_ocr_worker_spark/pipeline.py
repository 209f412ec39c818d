"""The flagship batch job: interleaved documents -> OCR'd documents.

One declarative DataFrame job replacing the reference's poll/claim/process
daemon (workers/ocr/main.py:220-255). Stages (SURVEY.md §3.1):

    documents ──anti-join lineage──> pending
    pending ──explode spans──> span rows
        ├─ kind='text'  ──────────────────────────┐
        └─ kind='media' ─join media blobs─ repartition(xxhash64(doc_id,offset))
                          ─mapInPandas OCR─ split ok/failures
                                              │            └─> failures
    text ∪ OCR'd media ──groupBy doc_id, array_sort(collect_list)──> output
    output ─anti-join failed docs─> committed ──> ocr_output, lineage
    ok spans of committed docs ──> ocr_json;  ok spans ──> checkpoint

Plan properties to preserve at 100 TB (verify with .explain("formatted")):
- the media-blob join is a plain shuffled join on media_ref (both sides
  big); if the media table is bucketed by media_ref the shuffle disappears;
- filters on span.kind reach the scan via generator pushdown after explode;
- image bytes cross TWO wide shuffles: the media side of the blob join and
  the xxhash64(doc_id, offset) repartition before the UDF (see
  run_extraction for why the second one pays); the reassembly groupBy
  shuffles text-only rows — 4 exchanges in all over pre-materialized input
  (run_extraction's DAG, the 4 that test_extraction_shuffle_budget pins);
- a write_run commit the planner sizes under 1 MB per core adds one
  rebalance exchange (tables.append_snapshot writes it as one right-sized
  file); `content` never reaches a commit, so these move OCR text and
  ids, not images;
- AQE handles post-UDF partition coalescing and skew-join splitting.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .operators.metrics import checkpoint_rows
from .operators.ocr_udf import ocr_media_spans
from .operators.output_doc import build_output_documents, serialize_output_documents
from .operators.reassemble import explode_spans, reassemble, split_media_text
from .operators.resume import build_lineage, pending_documents, split_failures
from .operators.skew import repartition_spans
from .sources import tables


@dataclass
class PipelineResult:
    output: DataFrame  # every pending doc; dead-lettered spans keep text=null
    committed: DataFrame  # output minus the docs with >=1 failed span
    failures: DataFrame  # dead-letter rows (schemas.FAILURES)
    failed_docs: DataFrame  # distinct doc_id of failures
    lineage: DataFrame  # one row per committed doc: the resume marker
    ocr_all: DataFrame  # every OCR'd media span, ok or failed


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    lineage: DataFrame | None = None,
    num_partitions: int | None = None,
) -> PipelineResult:
    """Build (lazily) the full extraction DAG. Caller materializes via
    write_run / collect. ``lineage`` (previous runs' done docs) enables
    resume."""
    # 4 tasks per slot: per-image cost varies 10-20x (NO_TILE page vs a
    # 30k-px webtoon), so 1 task/slot lets one slow partition gate the whole
    # stage (measured 2.3x run-to-run variance at local[32]); finer tasks
    # let the scheduler rebalance.
    n = num_partitions or spark.sparkContext.defaultParallelism * 4
    pending = pending_documents(documents, lineage)

    spans = explode_spans(pending)
    media_spans, text_spans = split_media_text(spans)

    # join span -> blob bytes on media_ref. Media side carries the bytes, so
    # it is the big side; span side is narrow. Equi-join; at scale bucket
    # both by media_ref to make it shuffle-free (sources/tables.py note).
    with_bytes = media_spans.select("doc_id", "offset", "media_ref").join(
        media.select("media_ref", "content"), "media_ref", "left"
    )

    # AQE sizes post-shuffle partitions by BYTES (64 MB advisory), but the
    # OCR UDF is COMPUTE-bound: on a corpus of small images AQE coalesces the
    # media-join output to a handful of partitions and strangles the UDF.
    # Pinning the partition count here measured 42 s -> 18 s at local[32]
    # with a calibrated compute-bound stub.
    ocr_results = ocr_media_spans(repartition_spans(with_bytes, n))
    _, failures = split_failures(ocr_results)

    # ALL media spans (failed ones keep text=null) re-enter the document so
    # the span sequence stays complete; failures additionally dead-letter.
    assembled = reassemble(
        text_spans, ocr_results.select("doc_id", "offset", "media_ref", "text")
    )
    # Only fully-successful docs are committed: output-exists <=> lineage-row,
    # exactly the reference's skip rule (main.py:107-120 skips iff the output
    # object exists; failed jobs stay retryable, main.py:236-242). Docs with
    # >=1 dead-lettered span stay out of lineage, so the next run's anti-join
    # retries them.
    failed_docs = failures.select("doc_id").distinct()
    committed = assembled.join(failed_docs, "doc_id", "left_anti")
    return PipelineResult(
        output=assembled,
        committed=committed,
        failures=failures,
        failed_docs=failed_docs,
        lineage=build_lineage(committed),
        ocr_all=ocr_results,
    )


def write_run(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    warehouse: str,
    num_partitions: int | None = None,
    force: bool = False,
) -> dict:
    """Materialize one (resumable) run into the warehouse directory.

    Reads existing lineage for the anti-join, then appends the committed
    docs, the dead-letter rows, per-partition checkpoint rows, the
    reference-shaped JSON output docs and, last, their lineage rows, each
    as an immutable snapshot. Returns run stats.

    lineage goes last because it is the resume marker: a crash before it
    leaves the run's docs pending, and the rerun writes every table for
    them again. The rows both attempts appended resolve latest-wins by key
    (doc_id for ocr_output), as after force=True below.

    force=True skips the lineage anti-join and reprocesses everything —
    the reference's `--force` reprocess flag (enqueue.py / main.py:107:
    "if not force: skip when output exists"). Output/lineage append new
    snapshots, so reprocessed doc_ids exist in MULTIPLE snapshots
    afterwards: plain tables.read_table surfaces the duplicates (union
    semantics); readers that want latest-wins use
    tables.read_table_latest(spark, wh, "ocr_output", keys=["doc_id"]),
    and compaction of such a table must pass the same keys
    (tables.compact_table(..., keys=["doc_id"]) resolves the per-key
    winners during the rewrite; a plain compact merges the snapshots and
    forfeits latest-wins, which read_table_latest then refuses).
    """
    prior = None if force else tables.read_table(spark, warehouse, "lineage")
    res = run_extraction(
        spark, documents, media, lineage=prior, num_partitions=num_partitions
    )

    # Cache the OCR stage (the expensive part). Every table below derives
    # from res.ocr_all, and Spark's cache manager substitutes the cached
    # plan into each of them, so the UDF runs once.
    t0 = time.time()
    res.ocr_all.persist().count()  # materialize the OCR work under the timer
    wall = time.time() - t0

    n_docs = res.committed.persist().count()  # feeds ocr_output and lineage
    n_failed = res.failed_docs.count()
    ok, _ = split_failures(res.ocr_all)
    # ocr_json: the per-page upload payload the reference puts to R2 per job
    # (F13), restricted to committed docs so a failed doc's pages are written
    # only by the run that commits it.
    ok_committed = ok.join(res.failed_docs, "doc_id", "left_anti")

    tables.append_snapshot(res.committed, warehouse, "ocr_output")
    tables.append_snapshot(res.failures, warehouse, "failures")
    tables.append_snapshot(checkpoint_rows(ok, wall), warehouse, "checkpoint")
    tables.append_snapshot(
        serialize_output_documents(build_output_documents(ok_committed)),
        warehouse,
        "ocr_json",
    )
    tables.append_snapshot(res.lineage, warehouse, "lineage")
    res.committed.unpersist()
    res.ocr_all.unpersist()
    return {"docs": n_docs, "failed_docs": n_failed, "wall_seconds": wall}
