"""Seeded workload inputs and their single-process oracle.

Every workload is built from ``--seed`` alone: the same seed gives the same
documents, byte for byte. Inputs are written once per (workload, seed) under
the benchmark's work directory and reused by later runs in the same checkout.

The oracle runs in this process with no Spark: ``corpus.oracle_extract`` for
span workloads, and ``spans_from_bytes`` -> ``corpus.explode_archives`` ->
``extract_document`` for raw files. Its result is kept as an order-free
digest of ``(doc_id, status, spans)`` rows, which the output check compares
with what each timed job wrote.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import NamedTuple

import extract_text_spark.corpus as corpus_mod
from extract_text_spark import bytecorpus as bc
from extract_text_spark.extractors import extract_document
from extract_text_spark.ingest import get_file_extension, spans_from_bytes

SIZE_MULT = 20          # the headline's per-document volume (bench.py)
NUM_BUCKETS = 16        # submit_extract --buckets 16
INPUT_VERSION = "3"     # bump when a generator changes its output
WHALE_PAGES, MID_PAGES = 400, 60


# Workload sizes. The mixes follow the engine's own generators; the counts
# and order are fixed per family (not drawn per document) so that every
# seed gives inputs of the same shape and cost, and only the content varies.
class Sizes(NamedTuple):
    resume_units: int       # spans_resume docs per FAMILIES weight unit
    files_per_ext: int      # raw files per format (files_small)


FULL = Sizes(resume_units=9, files_per_ext=30)
SMOKE = Sizes(resume_units=1, files_per_ext=4)
FILE_EXTS = ("txt", "html", "md", "docx", "xlsx", "pptx", "pdf", "zip",
             "tar.gz", "eml", "epub", "json")

# Output-kind buckets for the per-format kernel cost (input span kinds,
# with "source:<ext>" folded into "source" and unknown kinds into "other").
KERNEL_KINDS = (
    "plain", "source", "html", "html_page", "html_main", "markdown", "json",
    "xml", "yaml", "csv", "rtf", "sheet_part", "docx_part", "pptx_part",
    "odt_part", "pdf_page", "eml", "msg", "epub_member", "media", "other",
)


@dataclass
class Corpus:
    """One workload's generated input plus everything the checks need."""

    workload: str
    seed: int
    kind: str                     # "spans" (parquet) or "files" (raw bytes)
    input_path: str               # parquet file or directory of raw files
    docs_in: int
    payload_bytes: int            # span text chars, or raw file bytes
    docs_out: int = 0             # rows the oracle produces
    digest: str = ""              # order-free digest of the oracle rows
    # input doc_id -> rows the oracle's fan-out makes of it, minus one
    fan_net: dict = field(default_factory=dict, repr=False)
    resume: bool = False          # output starts with even buckets done
    docs: list = field(default_factory=list, repr=False)
    files: list = field(default_factory=list, repr=False)  # (name, bytes)

    def describe(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed, "kind": self.kind,
            "docs_in": self.docs_in, "payload_mb": self.payload_bytes / 1e6,
            "docs_out": self.docs_out,
            "fanout_net_rows": sum(self.fan_net.values()),
            "resume": self.resume,
        }


# ---------------------------------------------------------------------------
# Digest of (doc_id, status, spans) rows
# ---------------------------------------------------------------------------

def row_hash(doc_id: str, status: str | None, spans) -> bytes:
    payload = json.dumps(
        [doc_id, status,
         [[s["kind"], s["text"], s["media_ref"], s["offset"]]
          for s in (spans or [])]],
        ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(payload.encode("utf-8", "surrogatepass")).digest()


def digest_rows(hashes) -> str:
    h = hashlib.sha256()
    for one in sorted(hashes):
        h.update(one)
    return h.hexdigest()


def file_uri_prefix(input_dir: str) -> str:
    """The doc_id prefix ``binaryFile`` gives files in ``input_dir``;
    digests strip it so they do not depend on where the checkout lives."""
    return "file:" + os.path.abspath(input_dir) + "/"


def local_id(doc_id: str, prefix: str) -> str:
    return doc_id[len(prefix):] if doc_id.startswith(prefix) else doc_id


# ---------------------------------------------------------------------------
# Generators
# ---------------------------------------------------------------------------

def _family(name: str):
    for fam, builder, _w in corpus_mod.FAMILIES:
        if fam == name:
            return builder
    raise KeyError(name)


def _mixed_docs(seed: int, units: int) -> list[dict]:
    """The FAMILIES mix at a fixed count per family: weight x units docs.

    The "skew" family draws its whale/non-whale split per document in the
    engine's generator; here exactly one in ten is a 400-page whale so the
    skew route sees the same load on every seed. The family order (hence
    every doc_id, hence every bucket) is the same for all seeds."""
    corpus_mod.SIZE_MULT = SIZE_MULT
    order = random.Random("order")
    plan = []
    for name, _builder, weight in corpus_mod.FAMILIES:
        plan += [name] * (weight * units)
    order.shuffle(plan)
    pdf = _family("pdf")
    n_skew = plan.count("skew")
    whales = set(order.sample(
        [i for i, n in enumerate(plan) if n == "skew"], max(1, n_skew // 10)))
    docs = []
    for i, name in enumerate(plan):
        rng = random.Random(f"{seed}:{i}")
        doc_id = f"d{i:09d}-{name}"
        if name == "skew":
            spans = pdf(rng, doc_id,
                        n_pages=WHALE_PAGES if i in whales else MID_PAGES)
        else:
            spans = _family(name)(rng, doc_id)
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


_VOCAB = (
    "report data table page cluster stream batch value schema column text "
    "document archive header summary quarter revenue market figure note"
).split()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_VOCAB, k=n))


def _make_file(ext: str, shape: random.Random, rng: random.Random) -> bytes:
    """One file: ``shape`` draws its structure (counts of lines, pages,
    slides...), ``rng`` its words."""
    def sent(n=10):
        return _words(rng, n).capitalize() + "."

    if ext == "txt":
        return "\n".join(sent(12) for _ in range(shape.randint(3, 12))).encode()
    if ext == "html":
        body = "".join(f"<p>{sent()}</p>\n" for _ in range(shape.randint(3, 10)))
        return (f"<html><head><title>{sent(3)}</title></head><body>\n"
                f"<h1>{sent(4)}</h1>\n{body}</body></html>").encode()
    if ext == "md":
        return "\n\n".join(
            f"# {_words(rng, 3).title()}\n\n{sent(14)} **{_words(rng, 1)}**"
            f"\n\n- {_words(rng, 4)}\n- {_words(rng, 4)}"
            for _ in range(shape.randint(2, 5))).encode()
    if ext == "docx":
        return bc.make_docx([sent() for _ in range(shape.randint(2, 8))],
                            table=[[_words(rng, 1), _words(rng, 2)]
                                   for _ in range(3)])
    if ext == "xlsx":
        return bc.make_xlsx({"Sheet1": [[_words(rng, 1), rng.randint(1, 999),
                                         _words(rng, 2)]
                                        for _ in range(shape.randint(3, 12))]})
    if ext == "pptx":
        return bc.make_pptx([{"shapes": [sent(4), sent(8)], "notes": [sent(5)]}
                             for _ in range(shape.randint(1, 4))])
    if ext == "pdf":
        return bc.make_pdf([[sent(8) for _ in range(shape.randint(2, 6))]
                            for _ in range(shape.randint(1, 3))])
    if ext == "zip":
        return bc.make_zip({
            "a.txt": sent(12).encode(),
            "web/page.html": f"<p>{sent()}</p>".encode(),
            "__MACOSX/._a.txt": b"junk",
            "inner.zip": bc.make_zip({"deep.md": f"# T\n\n{sent()}".encode()}),
        })
    if ext == "tar.gz":
        return bc.make_tar({"notes.txt": sent(15).encode(),
                            "data/b.json": json.dumps({"k": sent(5)}).encode()})
    if ext == "eml":
        return ("From: alice@example.com\nTo: bob@example.com\n"
                f"Subject: {sent(4)}\nDate: Mon, 1 Jan 2024 10:00:00 +0000\n"
                "Content-Type: text/plain; charset=utf-8\n\n"
                + "\n".join(sent(12) for _ in range(shape.randint(2, 6)))
                + "\n").encode()
    if ext == "epub":
        return bc.make_epub({f"ch{i}.xhtml": sent(20)
                             for i in range(shape.randint(2, 4))})
    if ext == "json":
        return json.dumps({"title": sent(5), "n": rng.randint(1, 99),
                           "items": [_words(rng, 3) for _ in range(5)]}).encode()
    raise ValueError(ext)


def _small_files(seed: int, per_ext: int) -> list[tuple[str, bytes]]:
    """``per_ext`` files of each format; names and structure fixed, words
    from the seed."""
    plan = [ext for ext in FILE_EXTS for _ in range(per_ext)]
    random.Random("order").shuffle(plan)
    return [(f"f{i:05d}.{ext}",
             _make_file(ext, random.Random(f"shape:{i}"),
                        random.Random(f"{seed}:{i}")))
            for i, ext in enumerate(plan)]


# ---------------------------------------------------------------------------
# Writing inputs (once per workload and seed)
# ---------------------------------------------------------------------------

def _write_spans_parquet(docs: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        pa.field("spans", pa.list_(span))])
    table = pa.table({"doc_id": [d["doc_id"] for d in docs],
                      "spans": [d["spans"] for d in docs]}, schema=schema)
    # Several row groups so the scan splits across cores like a real table.
    pq.write_table(table, path, row_group_size=max(1, len(docs) // 16))


def _materialize(target: str, stamp: str, write) -> None:
    """Write an input into ``target`` once (tmp dir, rename, then a marker
    beside it: a file inside would be read as input)."""
    marker = target + ".ready"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    with open(marker, "w") as fh:
        fh.write(stamp)


# ---------------------------------------------------------------------------
# Per-format kernel cost
# ---------------------------------------------------------------------------

def kernel_kind(doc: dict) -> str:
    spans = doc["spans"]
    if not spans:
        return "other"
    kind = min(spans, key=lambda s: s["offset"])["kind"].split(":", 1)[0]
    return kind if kind in KERNEL_KINDS else "other"


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

WORKLOADS = ("files_small", "spans_resume")


def _write_files(files: list[tuple[str, bytes]]):
    def write(tmp):
        for name, data in files:
            with open(os.path.join(tmp, name), "wb") as fh:
                fh.write(data)
    return write


def build(workload: str, seed: int, work_dir: str,
          sizes: Sizes = FULL) -> Corpus:
    """Generate (or reuse) the workload's input and run the oracle on it."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    tag = "" if sizes == FULL else "-smoke"
    inputs = os.path.join(work_dir, "inputs", f"{workload}-s{seed}{tag}")
    stamp = f"{INPUT_VERSION} {sizes}"
    if workload == "files_small":
        files = _small_files(seed, sizes.files_per_ext)
        _materialize(inputs, stamp, _write_files(files))
        prefix = file_uri_prefix(inputs)
        docs = []
        for name, data in files:
            status, spans = spans_from_bytes(data, name)
            doc = {"doc_id": prefix + name, "spans": spans}
            if status is not None:
                doc["status"] = status
            docs.append(doc)
        c = Corpus(workload, seed, "files", inputs, len(files),
                   sum(len(d) for _, d in files), docs=docs, files=files)
    else:
        docs = _mixed_docs(seed, sizes.resume_units)
        _materialize(inputs, stamp, lambda tmp: _write_spans_parquet(
            docs, os.path.join(tmp, "docs.parquet")))
        c = Corpus(workload, seed, "spans",
                   os.path.join(inputs, "docs.parquet"), len(docs),
                   sum(len(s["text"] or "") for d in docs for s in d["spans"]),
                   docs=docs)
        if workload == "spans_resume":
            c.resume = True

    prefix = file_uri_prefix(inputs) if c.kind == "files" else ""
    result = corpus_mod.oracle_extract(docs)
    c.digest = digest_rows(row_hash(local_id(doc_id, prefix), status, spans)
                           for doc_id, (status, spans) in result.items())
    c.docs_out = len(result)
    c.fan_net = {d["doc_id"]: len(corpus_mod.explode_archives([d])) - 1
                 for d in docs}
    return c


def format_costs(c: Corpus) -> tuple[dict, dict]:
    """Single-process CPU ms per call: spans_from_bytes by file extension
    and extract_document by the document's leading span kind."""
    ingest: dict[str, list[float]] = {}
    for name, data in c.files:
        ext = ("tar.gz" if name.endswith(".tar.gz")
               else get_file_extension(name))
        t0 = time.thread_time_ns()
        spans_from_bytes(data, name)
        ingest.setdefault(ext, []).append((time.thread_time_ns() - t0) / 1e6)
    kernel: dict[str, list[float]] = {}
    for doc in corpus_mod.explode_archives(c.docs):
        if doc.get("status") is not None:
            continue
        t0 = time.thread_time_ns()
        extract_document(doc["doc_id"], doc["spans"])
        kernel.setdefault(kernel_kind(doc), []).append(
            (time.thread_time_ns() - t0) / 1e6)
    return ingest, kernel
