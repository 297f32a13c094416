"""Seeded benchmark inputs, built only through ``curator_spark.datagen``.

The seed documents are a copy of the sf0.1 ``documents.parquet`` of the
repository's test data (TESTDATA.md; 5000 synthetic docs), kept in
``perfbench/data`` so a run reads nothing outside its checkout. A seed picks:

- the replica indices handed to ``datagen.make_page`` (urls, hosts,
  timestamps and gibberish pages all derive from them);
- the row order across the parquet files;
- the docs sampled for the smaller workloads and the contaminant texts.

The oracle (``curator_spark.oracle.golden_labels``) runs once per input,
untimed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DOCS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

# Workload sizes. "full" is what BENCHMARK.json runs; "smoke" keeps every
# code path but shrinks the inputs so the smoke test finishes in minutes.
SIZES = {
    "full": {
        "filter_docs": 5000, "filter_reps": 2, "filter_files_per_cpu": 4,
        "resume_docs": 3000, "resume_files_per_cpu": 2,
        "curate_docs": 400, "curate_variants": 40, "contaminants": 3,
    },
    "smoke": {
        "filter_docs": 250, "filter_reps": 2, "filter_files_per_cpu": 2,
        "resume_docs": 300, "resume_files_per_cpu": 1,
        "curate_docs": 200, "curate_variants": 10, "contaminants": 2,
    },
}


@dataclass
class Pages:
    path: str  # parquet directory handed to the program
    pdf: pd.DataFrame  # the same rows, for the oracle and the checks
    files: list[str]
    n_bytes: int


def _load_docs() -> pd.DataFrame:
    return pq.read_table(DOCS_PATH).to_pandas()


def _write(pdf: pd.DataFrame, out_dir: str, n_files: int) -> Pages:
    from curator_spark.datagen import PAGES_SCHEMA

    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False)
    per_file = max(1, -(-table.num_rows // n_files))
    files = []
    for i in range(0, table.num_rows, per_file):
        f = os.path.join(out_dir, f"part-{i // per_file:05d}.parquet")
        pq.write_table(table.slice(i, per_file), f, row_group_size=4096)
        files.append(f)
    return Pages(out_dir, pdf, files, sum(os.path.getsize(f) for f in files))


def _pages(docs: pd.DataFrame, reps: list[int], rng: random.Random) -> pd.DataFrame:
    from curator_spark.datagen import make_page

    recs = [
        make_page(int(r.doc_id), rep, r.text, r.lang, r.source)
        for rep in reps
        for r in docs.itertuples(index=False)
    ]
    rng.shuffle(recs)
    return pd.DataFrame.from_records(recs)


def _reps(rng: random.Random, k: int) -> list[int]:
    base = rng.randrange(1, 1_000_000)
    return [base + 7919 * i for i in range(k)]


def filter_pages(seed: int, out_dir: str, cpus: int, size: str) -> Pages:
    z = SIZES[size]
    rng = random.Random(f"filter-{seed}")
    docs = _load_docs().head(z["filter_docs"])
    pdf = _pages(docs, _reps(rng, z["filter_reps"]), rng)
    return _write(pdf, out_dir, z["filter_files_per_cpu"] * cpus)


def resume_pages(seed: int, out_dir: str, cpus: int, size: str) -> Pages:
    z = SIZES[size]
    rng = random.Random(f"resume-{seed}")
    docs = _load_docs().sample(n=z["resume_docs"], random_state=rng.randrange(2**31))
    pdf = _pages(docs, _reps(rng, 1), rng)
    return _write(pdf, out_dir, z["resume_files_per_cpu"] * cpus)


def curate_pages(seed: int, out_dir: str, size: str) -> Pages:
    """Curate input: sampled pages plus tracking-decorated, older re-crawl
    variants of some of them, so ``url_dedup`` has real work."""
    z = SIZES[size]
    rng = random.Random(f"curate-{seed}")
    docs = _load_docs().sample(n=z["curate_docs"], random_state=rng.randrange(2**31))
    pdf = _pages(docs, _reps(rng, 1), rng)
    var = pdf.sample(n=z["curate_variants"], random_state=rng.randrange(2**31)).copy()
    var["url"] = var["url"] + "?utm_source=feed&utm_medium=rss#frag"
    var["warc_ts"] = var["warc_ts"] - pd.Timedelta(days=10)
    pdf = pd.concat([pdf, var], ignore_index=True).sample(
        frac=1.0, random_state=rng.randrange(2**31)
    ).reset_index(drop=True)
    return _write(pdf, out_dir, 2)


def contaminants(seed: int, golden: pd.DataFrame, out_dir: str, size: str) -> str:
    """A seeded "eval suite": verbatim scrubbed text of kept pages long
    enough to hold 13-grams, written as parquet (column ``text``)."""
    rng = random.Random(f"contaminants-{seed}")
    pool = golden[golden["keep"] & (golden["scrubbed_text"].str.split().str.len() >= 13)]
    picks = sorted(pool["scrubbed_text"].tolist())
    texts = rng.sample(picks, min(SIZES[size]["contaminants"], len(picks)))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"text": texts}), os.path.join(out_dir, "part-0.parquet"))
    return out_dir


def golden(pdf: pd.DataFrame) -> pd.DataFrame:
    """``oracle.golden_labels`` over ``pdf`` (single-threaded: ~2.5 s for
    10k pages, about what a process pool costs to start)."""
    from curator_spark.oracle import golden_labels

    return golden_labels(pdf)
