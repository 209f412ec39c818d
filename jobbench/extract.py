"""``extract_resume``: ``pipeline.write_run`` resuming over a warehouse that
three earlier runs filled with 90% of the corpus.

The timed call reads the committed lineage, anti-joins the corpus against
it, OCRs the pending tenth plus the documents whose planted corrupt blobs
failed before, and commits all five tables beside a warehouse that already
holds three snapshots each. Every layer of the extraction job runs, and the
read side of ``sources.tables`` and the resume anti-join carry real data.
"""

from __future__ import annotations

import os
import shutil

# documents in the corpus and the cumulative share each earlier run covers
N_DOCS = 1500
PRIOR_SHARES = (0.3, 0.6, 0.9)
COMMIT_TABLES = ("ocr_output", "lineage", "failures", "checkpoint", "ocr_json")
# the prefix datagen gives every planted corrupt blob
CORRUPT_PREFIX = b"\x89PNG corrupt"


def _write_parquet(rows: list[dict], schema, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
        os.path.join(path, "part-0.parquet"),
    )


class ExtractResume:
    name = "extract_resume"
    commit_tables = COMMIT_TABLES
    timed_calls = 2  # the least a timed run makes: its median is over two calls

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.wh = os.path.join(work, "warehouse")
        self.pristine = os.path.join(work, "warehouse_prior")
        self.spark = None

    def _session(self) -> None:
        from chapterbridge_ocr_worker_spark.conf import get_spark

        self.spark = get_spark("jobbench-extract", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")

    def _frames(self, docs_path: str):
        from chapterbridge_ocr_worker_spark import schemas

        read = self.spark.read
        return (
            read.schema(schemas.DOCUMENTS).parquet(docs_path),
            read.schema(schemas.MEDIA).parquet(self.media_path),
        )

    def setup(self) -> None:
        from chapterbridge_ocr_worker_spark import datagen, golden, schemas
        from chapterbridge_ocr_worker_spark.engine.stub import StubEngine
        from chapterbridge_ocr_worker_spark.pipeline import write_run

        self._session()
        docs, media = datagen.generate_corpus(N_DOCS, seed=self.seed)
        blob = {m["media_ref"]: m["content"] for m in media}
        self.corrupt = {
            d["doc_id"]
            for d in docs
            if any(
                s["kind"] == "media" and blob[s["media_ref"]].startswith(CORRUPT_PREFIX)
                for s in d["spans"]
            )
        }
        self.expected, _ = golden.golden_output(docs, media, StubEngine())
        self.media_path = os.path.join(self.work, "input", "media")
        self.docs_path = os.path.join(self.work, "input", "documents")
        _write_parquet(media, schemas.MEDIA, self.media_path)
        _write_parquet(docs, schemas.DOCUMENTS, self.docs_path)

        # three earlier runs over growing prefixes of the corpus, the first
        # being the cold call
        for k, share in enumerate(PRIOR_SHARES):
            path = os.path.join(self.work, "input", f"documents_prior{k}")
            _write_parquet(docs[: int(share * N_DOCS)], schemas.DOCUMENTS, path)
            write_run(self.spark, *self._frames(path), self.wh)
        prior = {d["doc_id"] for d in docs[: int(PRIOR_SHARES[-1] * N_DOCS)]}
        self.prior_committed = len(prior - self.corrupt)
        self.pending_blobs = [
            blob[s["media_ref"]]
            for d in docs
            if d["doc_id"] in self.corrupt or d["doc_id"] not in prior
            for s in d["spans"]
            if s["kind"] == "media"
        ]
        shutil.copytree(self.wh, self.pristine)
        # one untimed call of the timed shape: the JIT is still compiling
        # through the fourth call of a session (~20% slower than the fifth)
        self.prepare()
        self.call(None)

    def prepare(self) -> None:
        from chapterbridge_ocr_worker_spark.operators.cache import release_caches

        shutil.rmtree(self.wh)
        shutil.copytree(self.pristine, self.wh)
        self.spark.catalog.clearCache()
        release_caches()

    def call(self, group: str | None) -> dict:
        from chapterbridge_ocr_worker_spark.pipeline import write_run

        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        try:
            return write_run(self.spark, *self._frames(self.docs_path), self.wh)
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def docs(stats: dict) -> tuple[int, int]:
        """(docs committed, docs dead-lettered)."""
        return stats["docs"], stats["failed_docs"]

    def write_root(self) -> list[str]:
        return [self.wh]

    def check(self, stats: dict) -> list[str]:
        from chapterbridge_ocr_worker_spark.sources import tables

        errors = []
        want = set(self.expected) - self.corrupt
        out = tables.read_table(self.spark, self.wh, "ocr_output").collect()
        ids = [r["doc_id"] for r in out]
        if len(ids) != len(set(ids)):
            errors.append(f"{len(ids) - len(set(ids))} doc_ids committed twice")
        if set(ids) != want:
            errors.append(
                f"committed docs differ from the non-corrupt corpus: "
                f"{len(set(ids) - want)} extra, {len(want - set(ids))} missing"
            )
        wrong = sum(
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            != self.expected.get(r["doc_id"])
            for r in out
        )
        if wrong:
            errors.append(f"{wrong} committed docs differ from golden_output")
        lineage = [
            r["doc_id"]
            for r in tables.read_table(self.spark, self.wh, "lineage").select("doc_id").collect()
        ]
        if sorted(lineage) != sorted(ids):
            errors.append("lineage rows differ from committed docs")
        failed = {
            r["doc_id"]
            for r in tables.read_table(self.spark, self.wh, "failures").select("doc_id").collect()
        }
        if failed != self.corrupt or stats["failed_docs"] != len(self.corrupt):
            errors.append(
                f"failed docs {len(failed)} (run stats {stats['failed_docs']}) "
                f"differ from the {len(self.corrupt)} docs with corrupt blobs"
            )
        if stats["docs"] != len(want) - self.prior_committed:
            errors.append(
                f"run committed {stats['docs']} docs, "
                f"expected {len(want) - self.prior_committed}"
            )
        return errors

    def enable_trace(self, event_dir: str) -> None:
        """Restart the session with the event log on, then make one
        untimed call so the new session's Python workers are warm."""
        from pyspark import SparkContext

        from tracing import enable_event_log

        enable_event_log(SparkContext._jvm, event_dir)
        self.spark.stop()
        self._session()
        self.prepare()
        self.call(None)

    def layer_inputs(self) -> list[bytes]:
        """The blobs the timed call OCRs, for the inner-loop replay."""
        return self.pending_blobs

    def stats_layers(self, stats: dict) -> dict:
        return {
            "resume.pending_frac": (stats["docs"] + stats["failed_docs"]) / N_DOCS,
        }
