"""Seeded workload inputs, the single-node oracle rows, and the row check.

Every input is built from ``--seed`` with the public functions of
``coa_ocr_simple_spark.fixtures.generate`` and cached per (workload, seed)
under the checkout's cache directory, so the program only ever receives
the generated parquet files.  The expected rows come from
``core.pipeline.extract_document`` + ``core.convert.result_to_row`` — the
functions the extraction UDF calls — run one document at a time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

# Sizes are chosen so one warm execution at local[4] takes ~1.5-3 s: short
# enough for several timed executions per run, long enough that Spark's
# fixed per-job cost (~0.3 s) is a minority of the wall.
THIN_DOCS = 1500  # thin_onefile: one parquet file -> one input split
# job_resume: bench mix, first half already extracted; a multiple of 40, so
# each half holds whole groups of 20 docs (see _mixed_corpus)
RESUME_DOCS = 600
MULTI_FILES = 8  # files per table for the multi-file corpus (>= 2 x cores)
PRIOR_RUN_ID = "prior"

WORKLOADS = ("thin_onefile", "job_resume")


def _thin_corpus(n_docs: int, seed: int):
    """Single-span docs: 7 of 8 text (COA/SDS/TDS templates), 1 of 8 html."""
    from coa_ocr_simple_spark.fixtures import generate as G

    rng = random.Random(seed)
    makers = [G.template_coa, G.template_sds, G.template_tds]
    b = G.SpanBuilder()
    for i in range(n_docs):
        if i % 8 == 7:
            b.add(f"doc-{i:08d}", [("html", G.template_html(rng), {})])
        else:
            b.add(f"doc-{i:08d}", [("text", makers[i % 3](rng), {})])
    return b


def _mixed_corpus(n_docs: int, seed: int):
    """The FIXTURES §4 bench mix with exact shares: of every 20 docs, 14
    text, 2 html, 3 pdf with 2-5 spans (every other one scanned, so the
    OCR path runs) and 1 fat doc with 20-200 image spans.

    ``build_bench_corpus`` draws each doc's kind and span count from the
    seed; at this corpus size that moves the total text by +-30% between
    seeds, so the seed here drives the text of every span and which fat
    doc gets which span count, and the shares and span counts stay fixed.
    Both halves of the corpus (``split_done``) hold the same multiset of
    fat-span counts, so the work of the docs a job_resume execution
    extracts does not depend on the seed either."""
    from coa_ocr_simple_spark.fixtures import generate as G

    rng = random.Random(seed)
    makers = [G.template_coa, G.template_sds, G.template_tds]
    n_fat = n_docs // 20
    per_half = (n_fat + 1) // 2
    counts = [20 + (180 * k) // max(per_half - 1, 1) for k in range(per_half)]
    fat_spans = []
    for _ in range(2):
        half = list(counts)
        rng.shuffle(half)
        fat_spans += half
    b = G.SpanBuilder()
    for i in range(n_docs):
        doc_id, slot, group = f"doc-{i:08d}", i % 20, i // 20
        if slot < 14:
            b.add(doc_id, [("text", makers[i % 3](rng), {})])
        elif slot < 16:
            b.add(doc_id, [("html", G.template_html(rng), {})])
        elif slot < 19:
            n = 2 + (group + slot) % 4
            b.add(doc_id, [
                ("pdf", makers[(i + k) % 3](rng), {"n_pages": 2, "scanned": k % 2 == 0})
                for k in range(n)
            ])
        else:
            b.add(doc_id, [("image", G.template_coa(rng), {}) for _ in range(fat_spans[group])])
    return b


def build_corpus(workload: str, seed: int):
    """The workload's in-memory corpus (a fixtures ``SpanBuilder``)."""
    if workload == "thin_onefile":
        return _thin_corpus(THIN_DOCS, seed)
    if workload == "job_resume":
        return _mixed_corpus(RESUME_DOCS, seed)
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def split_done(docs: list) -> tuple[list, list]:
    """(already extracted, to do) for job_resume: the first half of the
    corpus is in the prior run's output table."""
    return docs[: len(docs) // 2], docs[len(docs) // 2 :]


def corpus_digest(corpus) -> str:
    """sha256 over the canonical JSON of the documents and media rows."""
    h = hashlib.sha256()
    h.update(json.dumps(corpus.docs, sort_keys=True).encode())
    h.update(json.dumps(corpus.media, sort_keys=True).encode())
    return h.hexdigest()


def expected_row(doc: dict, media_lookup) -> dict:
    """The oracle's output row for one input document."""
    from coa_ocr_simple_spark.core.convert import result_to_row
    from coa_ocr_simple_spark.core.pipeline import extract_document

    out = extract_document(doc["doc_id"], doc["spans"], media_lookup)
    row = result_to_row(out)
    row["doc_id"] = doc["doc_id"]
    row["out_spans"] = out["out_spans"]
    row["n_spans"] = len(out["out_spans"])
    return row


def canonical(row: dict) -> str:
    """One output row as a comparable string.

    Covers ``(kind, text, media_ref, order)`` of every out-span plus every
    result column.  Accepts both oracle dicts and Spark/Arrow rows, whose
    maps arrive as dicts or as lists of (key, value) pairs."""

    def as_items(m):
        if m is None:
            return []
        items = m.items() if isinstance(m, dict) else m
        return sorted((k, v) for k, v in items)

    spans = [
        [s["kind"], s["text"], s["media_ref"], s["offset"]]
        for s in row["out_spans"] or []
    ]
    sections = [
        [name, s["title"], s["content"]] for name, s in as_items(row["sections"])
    ]
    return json.dumps(
        [
            spans,
            row["doc_type"],
            row["confidence"],
            as_items(row["entities"]),
            list(row["hazard_codes"] or []),
            list(row["cas_numbers"] or []),
            [[t["test"], t["specification"], t["result"]] for t in row["test_results"] or []],
            sections,
            row["fingerprint"],
            row["n_spans"],
        ],
        ensure_ascii=False,
    )


def count_failed(expected: dict[str, str], actual: list[tuple[str, str]]) -> int:
    """Docs that are missing, duplicated or differ from the oracle, plus
    doc_ids the oracle does not know.  ``expected``: doc_id -> canonical;
    ``actual``: (doc_id, canonical) per output row."""
    seen: dict[str, list[str]] = {}
    for doc_id, value in actual:
        seen.setdefault(doc_id, []).append(value)
    failed = sum(1 for doc_id in seen if doc_id not in expected)
    for doc_id, want in expected.items():
        got = seen.get(doc_id, [])
        if len(got) != 1 or got[0] != want:
            failed += 1
    return failed


class Inputs:
    """The generated files of one (workload, seed), built on first use."""

    def __init__(self, cache_root: str, workload: str, seed: int):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
        self.workload = workload
        self.seed = seed
        self.dir = os.path.join(cache_root, "inputs", f"{workload}-{seed}")
        self.docs = os.path.join(self.dir, "docs")
        self.media = os.path.join(self.dir, "media")
        self.prior = os.path.join(self.dir, "prior_output")
        self.expected_path = os.path.join(self.dir, "expected.json")
        self.meta_path = os.path.join(self.dir, "meta.json")

    def ensure(self) -> dict:
        """Generate (or reuse) the inputs; returns the metadata record."""
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                meta = json.load(f)
            meta["cached"] = True
            return meta
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        t0 = time.perf_counter()
        meta = self._generate()
        meta["generate_s"] = time.perf_counter() - t0
        with open(self.meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(self.meta_path + ".tmp", self.meta_path)
        meta["cached"] = False
        return meta

    def _generate(self) -> dict:
        from coa_ocr_simple_spark.fixtures import generate as G

        corpus = build_corpus(self.workload, self.seed)
        lookup = G.media_lookup(corpus)
        if self.workload == "thin_onefile":
            os.makedirs(self.docs)
            G.write_corpus(
                corpus,
                os.path.join(self.docs, "part-00000.parquet"),
                os.path.join(self.dir, "unused_media.parquet"),
            )
            os.remove(os.path.join(self.dir, "unused_media.parquet"))
        else:
            G.write_corpus(corpus, self.docs, self.media, n_files=MULTI_FILES)
        rows = {d["doc_id"]: expected_row(d, lookup) for d in corpus.docs}
        expected = {doc_id: canonical(r) for doc_id, r in rows.items()}
        todo = list(rows)
        if self.workload == "job_resume":
            done, todo = split_done(todo)
            write_prior_output([rows[d] for d in done], self.prior)
        with open(self.expected_path, "w") as f:
            json.dump(expected, f)
        return {
            "workload": self.workload,
            "seed": self.seed,
            "digest": corpus_digest(corpus),
            "n_docs": len(corpus.docs),
            "n_todo": len(todo),
            "n_todo_chars": sum(
                len(s["text"] or "") for d in todo for s in rows[d]["out_spans"]
            ),
        }

    def expected(self) -> dict[str, str]:
        with open(self.expected_path) as f:
            return json.load(f)

    def fresh_job_state(self, work_dir: str) -> tuple[str, str]:
        """A fresh copy of the prior run's output table for one job_resume
        execution; returns (output path, checkpoint path)."""
        shutil.rmtree(work_dir, ignore_errors=True)
        os.makedirs(work_dir)
        output = os.path.join(work_dir, "output")
        shutil.copytree(self.prior, output)
        return output, os.path.join(work_dir, "checkpoint")


def write_prior_output(rows: list[dict], path: str, n_files: int = 4) -> None:
    """Write ``rows`` as the extraction job's output table (same schema as
    ``jobs.extract`` appends), tagged with run id ``prior``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

    from coa_ocr_simple_spark.functions.schemas import EXTRACT_RESULT, SPAN

    schema = to_arrow_schema(
        StructType(
            [StructField("doc_id", StringType()), StructField("out_spans", ArrayType(SPAN))]
            + list(EXTRACT_RESULT.fields)
            + [
                StructField("n_spans", IntegerType()),
                StructField("_run_id", StringType()),
                StructField("_partition_id", IntegerType()),
            ]
        )
    )
    os.makedirs(path)
    per = (len(rows) + n_files - 1) // n_files
    for part in range(n_files):
        chunk = [
            {
                **r,
                "entities": list(r["entities"].items()),
                "sections": list(r["sections"].items()),
                "_run_id": PRIOR_RUN_ID,
                "_partition_id": part,
            }
            for r in rows[part * per : (part + 1) * per]
        ]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
