"""``dedup_weekly``: one weekly run of ``jobs/dedup_job.py`` against the
state its bootstrap run left.

The corpus is generated to the measured shape of the documents the repo's
dedup tools run on (the sf0.1 ``documents.parquet`` test table; figures and
method in ``jobbench/README.md``): a 30-word vocabulary drawn uniformly,
10-100 words a doc, 5% near copies (an earlier doc plus the token ``dup``)
and 0.16% exact copies. Two unrelated docs of that corpus share a median
token-set Jaccard of 0.63, so most band buckets collide without any planted
pair and the band join, the verification and the CC rounds carry real load.
Ids are numbered in slice order, which is the job's crawl-order contract.
The timed call hashes the new slice, band-joins it against the bucket
state, runs the connected-components rounds and appends four state tables;
it is the only workload that runs the dedup, CC and fastpath layers.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import random
import shutil

# the new slice is a tenth of the corpus, as 500 new docs against 4,500
BOOT_DOCS = 900
WEEK_DOCS = 100
# measured on the sf0.1 documents table (5,000 docs): every word is one of
# these 30, each 3.3% of tokens (the rarest 8,829, the commonest 9,182
# occurrences); lengths spread evenly over 10-100 words (quartiles 32, 54,
# 76); 250 docs are another doc plus " dup" and 8 are exact copies
VOCAB = tuple(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.0016
THRESHOLD = 0.6  # the job's default near-duplicate Jaccard
COMMIT_TABLES = ("clusters", "buckets", "bucket_counts", "signatures")


def generate(seed: int) -> list[str]:
    """Texts by doc id; each planted copy is of a uniformly chosen earlier
    doc."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(BOOT_DOCS + WEEK_DOCS):
        r = rng.random()
        if i and r < EXACT_DUP_FRAC:
            texts.append(texts[rng.randrange(i)])
        elif i and r < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS))))
    return texts


def _write_slice(texts: list[str], ids: range, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": [texts[i] for i in ids]}),
        os.path.join(path, "part-0.parquet"),
    )


class DedupWeekly:
    name = "dedup_weekly"
    commit_tables = COMMIT_TABLES
    # one 12-14 s call after a 45 s set-up: a second call would take a run
    # to 75 s, and the benchmark's runs must fit in under an hour
    timed_calls = 1

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.state = os.path.join(work, "state")
        self.pristine = os.path.join(work, "state_prior")
        self.out = os.path.join(work, "out")
        self.group: str | None = None

    def _main(self, slice_path: str, out: str) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = self.job.main(
                ["--documents", slice_path, "--state", self.state,
                 "--out", out, "--cores", str(self.cores)]
            )
        if code != 0:
            raise RuntimeError(f"dedup_job exited {code}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def setup(self) -> None:
        spec = importlib.util.spec_from_file_location(
            "dedup_job", os.path.join("jobs", "dedup_job.py")
        )
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        get_spark = self.job.get_spark

        def labelled_session(*args, **kwargs):
            # each main() builds and stops its own session, so the traced
            # run labels the call's jobs once the session exists
            spark = get_spark(*args, **kwargs)
            spark.sparkContext.setLogLevel("ERROR")
            if self.group:
                spark.sparkContext.setJobGroup(self.group, self.group)
            return spark

        self.job.get_spark = labelled_session

        self.texts = generate(self.seed)
        boot = os.path.join(self.work, "input", "boot")
        self.week = os.path.join(self.work, "input", "week")
        self.week_ids = range(BOOT_DOCS, BOOT_DOCS + WEEK_DOCS)
        _write_slice(self.texts, range(BOOT_DOCS), boot)
        _write_slice(self.texts, self.week_ids, self.week)
        # the bootstrap run starts the JVM; one untimed weekly call then
        # compiles the incremental path, whose first call costs about half
        # again as much CPU as the next
        self._main(boot, os.path.join(self.work, "out_boot"))
        shutil.copytree(self.state, self.pristine)
        self.prepare()
        self.call(None)

    def prepare(self) -> None:
        from chapterbridge_ocr_worker_spark.operators.cache import release_caches

        shutil.rmtree(self.state)
        shutil.copytree(self.pristine, self.state)
        shutil.rmtree(self.out, ignore_errors=True)
        release_caches()  # each main() stops its session, dropping Spark's cache

    def call(self, group: str | None) -> dict:
        self.group = group
        try:
            return self._main(self.week, self.out)
        finally:
            self.group = None

    @staticmethod
    def docs(stats: dict) -> tuple[int, int]:
        """(docs judged, docs dead-lettered): the dedup job has no dead letters."""
        return stats["docs_in"], 0

    def write_root(self) -> list[str]:
        return [self.state, self.out]

    def check(self, stats: dict) -> list[str]:
        import pyarrow.parquet as pq

        errors = []
        if stats.get("mode") != "incremental" or stats.get("skipped_done") != 0:
            errors.append(f"unexpected run mode {stats.get('mode')!r}")
        if stats.get("corpus_total") != BOOT_DOCS + WEEK_DOCS:
            errors.append(f"corpus_total {stats.get('corpus_total')} != {BOOT_DOCS + WEEK_DOCS}")
        dec = pq.read_table(os.path.join(self.out, "decisions")).to_pydict()
        keep = dict(zip(dec["id"], dec["keep"]))
        if len(dec["id"]) != len(keep) or set(keep) != set(self.week_ids):
            errors.append("decisions do not cover exactly the new slice")
        if stats.get("docs_in") != WEEK_DOCS:
            errors.append(f"docs_in {stats.get('docs_in')} != {WEEK_DOCS}")
        if sum(keep.values()) != stats.get("kept"):
            errors.append(f"{sum(keep.values())} docs kept in decisions, stats say {stats.get('kept')}")
        # the job drops a new doc iff a verified pair joins it to a prior
        # doc or a new doc with a smaller id, so a dropped doc must have
        # such a partner at the threshold. Recall is not checked: a pair
        # whose band buckets all exceed the job's population cap is never
        # a candidate, and in this corpus some planted copies are kept
        sets = [frozenset(t.split()) for t in self.texts]
        false_drops = [
            i for i in self.week_ids
            if keep.get(i) == 0
            and not any(len(sets[i] & sets[j]) >= THRESHOLD * len(sets[i] | sets[j])
                        for j in range(i))
        ]
        if false_drops:
            errors.append(f"{len(false_drops)} dropped docs have no near duplicate, e.g. {false_drops[:3]}")
        return errors

    def enable_trace(self, event_dir: str) -> None:
        from pyspark import SparkContext

        from tracing import enable_event_log

        enable_event_log(SparkContext._jvm, event_dir)

    def layer_inputs(self) -> list[bytes]:
        return []

    def stats_layers(self, stats: dict) -> dict:
        return {
            "resume.pending_frac": stats["docs_in"] / (stats["docs_in"] + stats["skipped_done"]),
            "dedup.cc_rounds": stats.get("cc_rounds", 0),
            "dedup.new_pairs": stats.get("n_new_pairs", 0),
            "dedup.keep_ratio": stats["kept"] / max(stats["docs_in"], 1),
        }
