"""Seeded inputs for the benchmark: the pages tables each workload reads,
the cache that keeps one materialised table (and its reference digest)
per seed, and the fixed canary page set whose digest is pinned.

Every table is written with pyarrow as PAGE_FILES parquet files in the
pages schema (url, warc_ts, html, text, lang), so the program reads it
through ``sources.read_pages`` exactly as the shipped job reads its input.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

SYNTH_PAGES = 1500
SHORT_PAGES = 3000
PAGE_FILES = 8
CANARY_PAGES = 48

# the sf0.1 `documents` table's shape: 10-100 words drawn uniformly from a
# 30-word vocabulary, English for ~41% of rows, 20 sources keyed on doc_id
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_LANGS = ["en", "zh", "es", "fr", "de"]
_DOC_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]

PAGES_ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def synth_rows(seed: int, n: int = SYNTH_PAGES) -> list[dict]:
    """The program's own skew mix (30% of pages on one host, 10% tiny
    pages, a 3% tail of 150-400 paragraphs), generated in this process."""
    from go_readability_spark.sources import synth_corpus_rows

    return synth_corpus_rows(n, seed=seed, skew=True)


def documents_table(seed: int, n: int = SHORT_PAGES) -> pa.Table:
    """A `documents` table (doc_id, text, lang, source, n_chars) shaped
    like the sf0.1 one; the seed picks the doc ids, hence the urls."""
    rng = random.Random(f"perfbench-documents:{seed}")
    ids = sorted(rng.sample(range(10_000_000), n))
    texts = [" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100)))
             for _ in ids]
    langs = rng.choices(_DOC_LANGS, weights=_DOC_LANG_WEIGHTS, k=n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def pages_table(rows: list[dict]) -> pa.Table:
    return pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": [_utc(r["warc_ts"]) for r in rows],
        "html": [r["html"] for r in rows],
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    }, schema=PAGES_ARROW_SCHEMA)


def write_pages(table: pa.Table, out_dir: str) -> None:
    """Write a pages table as PAGE_FILES parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-table.num_rows // PAGE_FILES)
    for i in range(PAGE_FILES):
        pq.write_table(table.slice(i * per_file, per_file),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def read_rows(pages_dir: str, expected: int) -> list[dict]:
    """(url, html) rows of a pages table, in file order. A table without
    exactly the expected rows is an error, never a run over less input."""
    table = pq.read_table(pages_dir, columns=["url", "html"])
    if table.num_rows != expected:
        raise RuntimeError(f"pages table {pages_dir} has {table.num_rows} "
                           f"rows, expected {expected}")
    return table.to_pylist()


def _utc(ts):
    if ts is None:
        return None
    return ts.replace(tzinfo=timezone.utc) if ts.tzinfo is None else ts


def source_hash(root: str) -> str:
    """Digest of the program's Python sources and of this generator, so a
    cached table or reference never outlives the code that made it."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "go_readability_spark")
    files = [os.path.abspath(__file__)]
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, f) for f in sorted(filenames)
                  if f.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class Cache:
    """One directory per (workload, seed, size, source hash) holding the
    materialised pages table and the reference digest. Entries are
    published with an atomic rename, so a killed run leaves no half entry."""

    def __init__(self, base: str, workload: str, seed: int, n: int, src: str):
        self.dir = os.path.join(base, f"{workload}-s{seed}-n{n}-{src}")

    @property
    def pages(self) -> str:
        return os.path.join(self.dir, "pages")

    def has_pages(self) -> bool:
        return os.path.isdir(self.pages)

    def publish_pages(self, table: pa.Table) -> None:
        tmp = self.dir + f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_pages(table, os.path.join(tmp, "pages"))
        os.makedirs(os.path.dirname(self.dir), exist_ok=True)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def load_reference(self) -> dict | None:
        path = os.path.join(self.dir, "reference.json")
        if not os.path.isfile(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def save_reference(self, ref: dict) -> None:
        path = os.path.join(self.dir, "reference.json")
        with open(path + ".tmp", "w") as fh:
            json.dump(ref, fh)
        os.replace(path + ".tmp", path)


def short_page_html(doc_id: int, text: str, source: str) -> bytes:
    """The page ``sources.pages_from_documents`` builds for one document
    (used only for the canary set, which must not need Spark)."""
    body = text.replace(". ", ".</p><p>")
    return (
        f"<html><head><title>doc {doc_id} | {source}</title></head><body>"
        f'<div class="article-content"><h1>Document {doc_id}</h1><p>{body}'
        "</p></div></body></html>"
    ).encode()


def _weighted_page(i: int) -> dict:
    """An article whose kept parts depend on class weights: a positive
    class on the article and a short block with a negative class inside
    it, which the conditional cleaning removes only while its weight is
    negative."""
    rng = random.Random(f"perfbench-weighted:{i}")

    def para():
        return " ".join(rng.choice(_DOC_WORDS) for _ in range(60)) + "."

    def note():
        return " ".join(rng.choice(_DOC_WORDS) for _ in range(12)) + "."

    html = (f"<html><head><title>weighted {i}</title></head><body>"
            f'<div class="story"><p>{para()}</p><p>{para()}</p><p>{para()}</p>'
            f'<div class="toolbar"><p>{note()}</p><p>{note()}</p></div>'
            "</div></body></html>")
    return {"url": f"https://weighted.example.org/{i}.html",
            "html": html.encode()}


def canary_rows() -> list[dict]:
    """Fixed pages (seed 0) of both workload shapes, plus pages where the
    class weights pick the article. Their digest is pinned in pins.json, so
    a change to extraction output fails every run even though the
    per-seed reference is recomputed by the changed code."""
    rows = [{"url": r["url"], "html": r["html"]}
            for r in synth_rows(0, CANARY_PAGES)]
    rows += [_weighted_page(i) for i in range(4)]
    docs = documents_table(0, CANARY_PAGES).to_pylist()
    rows += [{"url": f"https://docs.example.org/{d['doc_id']}.html",
              "html": short_page_html(d["doc_id"], d["text"], d["source"])}
             for d in docs]
    return rows
