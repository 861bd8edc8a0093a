"""Seeded workload inputs and the truth the checker compares against.

Every input is a pure function of (workload, size, seed). The pages come
from the corpus generator of ``sources.pages``, unchanged, so every
generator stratum (PDF statements and reports, encrypted and Type0 PDFs,
HTML articles, cp1252, UTF-16, tag soup, corrupt and empty rows) keeps its
corpus share. Inputs are cached on disk under ``.perfbench/inputs`` keyed
by (corpus version, workload, size, seed).
"""

from __future__ import annotations

import json
import random
import shutil
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from b_pdf_parser_spark.sources.pages import (
    CORPUS_VERSION,
    make_page_row,
    page_kind_expected,
)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

# the documents table's stated duplicate shares: a row copies an earlier
# row's text exactly, or copies it with one word replaced and " dup"
# appended (the near-duplicate marker of the testdata table)
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.04
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
_N_SOURCES = 20
_KEEP_CACHED = 8  # input sets kept on disk; older ones are pruned


def _write_pages(n: int, seed: int, d: Path) -> None:
    """The first ``n`` corpus rows, and per url the truth they are checked
    against."""
    rows, truth = [], []
    for i in range(n):
        row = make_page_row(i, seed)
        kind, has_error = page_kind_expected(i, seed)
        rows.append(row)
        truth.append(
            {"url": row["url"], "kind": kind, "has_error": has_error,
             # the crawler-provided text column is the golden main text
             "text": row["text"] if kind == "html" else None}
        )
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), d / "pages.parquet")
    (d / "truth.json").write_text(json.dumps(truth))


def documents_rows(n: int, seed: int) -> list[dict]:
    """A ``documents(doc_id, text, lang, source, n_chars)`` table shaped like
    the testdata one (30-word vocabulary, 8-100 words per row, five
    languages, 20 sources) with the stated duplicate shares."""
    rng = random.Random(seed)
    texts: list[str] = []
    rows = []
    for doc_id in range(n):
        r = rng.random()
        if texts and r < EXACT_DUP_SHARE:
            text = rng.choice(texts)
        elif texts and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words) + " dup"
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 100)))
        texts.append(text)
        rows.append({"doc_id": doc_id, "text": text, "lang": rng.choice(_LANGS),
                     "source": f"src{rng.randrange(_N_SOURCES)}",
                     "n_chars": len(text)})
    return rows


def _write_documents(n: int, seed: int, d: Path) -> None:
    table = pa.Table.from_pylist(documents_rows(n, seed), schema=DOCUMENTS_SCHEMA)
    pq.write_table(table, d / "documents.parquet")


def prepare(root: Path, workload: str, n: int, seed: int) -> Path:
    """Directory holding the workload's inputs (and ``truth.json`` for
    ``crawl_job``), generated on first use."""
    base = root / ".perfbench" / "inputs"
    d = base / f"v{CORPUS_VERSION}-{workload}-{n}-{seed}"
    if (d / "_SUCCESS").exists():
        return d
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    if workload == "doc_ops":
        _write_documents(n, seed, d)
    else:
        _write_pages(n, seed, d)
    (d / "_SUCCESS").write_text(datetime.now().isoformat())
    done = sorted(base.glob("*/_SUCCESS"), key=lambda p: p.stat().st_mtime)
    for old in done[:-_KEEP_CACHED]:
        shutil.rmtree(old.parent, ignore_errors=True)
    return d


def load_truth(d: Path) -> list[dict]:
    return json.loads((d / "truth.json").read_text())
