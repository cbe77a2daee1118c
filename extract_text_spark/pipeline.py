"""The distributed extraction pipeline.

Stages (all declarative except the extraction kernel itself):

1. **Archive fan-out** — ≤3 bounded rounds of pure Catalyst ops
   (``from_json`` + ``explode`` + regexp path sanitation + guard filters),
   reproducing A1-A8 of SURVEY.md §2.3 JVM-side with no Python.
2. **Span chunks** — every fanned row becomes an array of span chunks,
   built in-row with higher-order functions: the whole doc is one chunk
   unless it is above ``SKEW_SPLIT_BYTES`` and all its spans are
   page-independent (``pdf_page``/``media``); such a doc gets
   ``SKEW_CHUNK_SPANS`` pages per chunk, each media span glued to its
   preceding page. ``posexplode`` turns chunks into rows — the
   oversized-PDF skew rule of the north star, with no shuffle.
3. **Salted repartition** — ``repartition(pmod(xxhash64(doc_id,
   chunk_id), P))`` spreads hot doc_ids and a whale's chunks across
   tasks; with AQE on, post-shuffle coalescing keeps small runs tight.
4. **Extraction kernel** — ONE Arrow-batched ``mapInPandas`` (iterator
   form) running ``extractors.extract_document`` once per chunk row;
   never per-row Python UDFs, no driver-side collects.
5. **Reassembly** — one ``groupBy(doc_id)`` over the kernel output:
   single-chunk entries pass through, a split doc's chunks merge back
   order-preserving. The input is consumed exactly once, so nothing is
   persisted.

The output schema is
``(doc_id, status, spans array<struct<kind,text,media_ref,offset>>,
n_spans, n_chars, bytes_in)``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from .config import (
    MAX_ARCHIVE_NESTING,
    MAX_EXTRACTED_SIZE,
    SKEW_CHUNK_SPANS,
    SKEW_SPLIT_BYTES,
)
from .extractors.archive import SYSTEM_FILE_MARKERS

if TYPE_CHECKING:
    import pandas as pd

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])
SPANS_TYPE = ArrayType(SPAN_TYPE)
DOC_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", SPANS_TYPE),
])
OUT_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("status", StringType()),
    StructField("spans", SPANS_TYPE),
    StructField("n_spans", IntegerType()),
    StructField("n_chars", LongType()),
    StructField("bytes_in", LongType()),
])

_MEMBER_TYPE = StructType([
    StructField("path", StringType()),
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("is_archive", BooleanType()),
    StructField("members", StringType()),
])


def _sanitize_path_col(path: Column) -> Column:
    """A7 path sanitation as a regexp chain (app/extractors.py:1996-2014)."""
    p = F.regexp_replace(path, r"\.\.", "")
    p = F.regexp_replace(p, r"\\", "/")
    p = F.regexp_replace(p, r"^/+|/+$", "")
    parts = F.filter(F.split(p, "/"), lambda x: (x != "") & (x != F.lit(".")))
    return F.array_join(parts, "/")


def _is_system_file_col(path: Column) -> Column:
    """A8 substring blacklist (app/extractors.py:2016-2035)."""
    lowered = F.lower(path)
    cond = F.lit(False)
    for marker in SYSTEM_FILE_MARKERS:
        cond = cond | lowered.contains(marker)
    return cond


_DOC_STRUCT = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", SPANS_TYPE),
    StructField("status", StringType()),
])
_DOCS_TYPE = ArrayType(_DOC_STRUCT)
ARCHIVE_TOO_LARGE = "error: Archive content too large"


def _empty_docs() -> Column:
    return F.array().cast(_DOCS_TYPE.simpleString())


def _doc_struct(doc_id: Column, spans: Column, status: Column | None = None) -> Column:
    return F.struct(
        doc_id.alias("doc_id"),
        spans.cast(SPANS_TYPE.simpleString()).alias("spans"),
        (status if status is not None
         else F.lit(None).cast(StringType())).alias("status"),
    )


def _member_budget(members: Column) -> Column:
    """Zip-bomb guard sum (A2, app/extractors.py:1668-1677)."""
    return F.aggregate(
        members, F.lit(0).cast(LongType()),
        lambda acc, m: acc + F.coalesce(F.length(m.text), F.lit(0))
        + F.coalesce(F.length(m.members), F.lit(0)),
    )


def _with_paths(members: Column) -> Column:
    """Bind each member to its sanitized path ONCE. Catalyst does not CSE
    inside lambdas, so referencing _sanitize_path_col(m.path) repeatedly
    (empty-check, 9 system-file Contains, child id) would inline the whole
    regexp chain ~11x per member."""
    return F.transform(
        members,
        lambda m: F.struct(m.alias("m"), _sanitize_path_col(m.path).alias("path")),
    )


def _expand_member(parent_id: Column, mp: Column, depth: int) -> Column:
    """One (member, path) pair -> array<doc> (recursively inlined)."""
    m, path = mp.m, mp.path
    child_id = F.concat_ws("/", parent_id, path)
    leaf = F.array(_doc_struct(
        child_id,
        F.array(F.struct(
            m.kind.alias("kind"), m.text.alias("text"),
            m.media_ref.alias("media_ref"), F.lit(0).alias("offset"),
        )),
    ))
    is_nested = F.coalesce(m.is_archive, F.lit(False)) & m.members.isNotNull()
    if depth < MAX_ARCHIVE_NESTING:
        nested = _expand_archive(
            child_id, F.from_json(m.members, ArrayType(_MEMBER_TYPE)), depth + 1
        )
    else:
        # Past the nesting cap: keep the child with unexpanded
        # archive_member spans (the kernel drops them — the reference's
        # skip-on-depth, app/extractors.py:1580-1584).
        nested = F.array(_doc_struct(
            child_id,
            F.transform(
                F.from_json(m.members, ArrayType(_MEMBER_TYPE)),
                lambda mm, i: F.struct(
                    F.lit("archive_member").alias("kind"),
                    F.to_json(mm).alias("text"),
                    F.lit(None).cast(StringType()).alias("media_ref"),
                    i.cast(IntegerType()).alias("offset"),
                ),
            ),
        ))
    return (
        F.when((path == "") | _is_system_file_col(path), _empty_docs())
        .when(is_nested, nested)
        .otherwise(leaf)
    )


def _expand_archive(doc_id: Column, members: Column, depth: int) -> Column:
    """Parsed member list -> array<doc>, with the bomb guard per archive."""
    expanded = F.flatten(
        F.transform(_with_paths(members),
                    lambda mp: _expand_member(doc_id, mp, depth))
    )
    return F.when(
        _member_budget(members) > MAX_EXTRACTED_SIZE,
        F.array(_doc_struct(doc_id, F.array().cast(SPANS_TYPE.simpleString()),
                            F.lit(ARCHIVE_TOO_LARGE))),
    ).otherwise(expanded)


def explode_archives_df(df: DataFrame, with_root: bool = False) -> DataFrame:
    """A1-A6 archive fan-out in ONE scan: a single nested-transform
    expression computes every fan-out level (bounded depth 3) per row, then
    one ``posexplode`` emits the documents — no unions, no repeated scans.
    Path sanitation (A7), system-file filter (A8) and the 100 MB bomb guard
    (A2) are inlined as column predicates; guard-rejected rows surface with
    a non-null ``status``.

    ``with_root=True`` adds a ``root_id`` column carrying the pre-fan-out
    input doc_id (null when unchanged — i.e. for non-archive rows — so the
    mostly-null column shuffles for free). Checkpointing buckets by root so
    fan-out children land in their parent's bucket even when input doc_ids
    themselves contain ``/``.
    """
    if "status" not in df.columns:
        df = df.withColumn("status", F.lit(None).cast(StringType()))
    # Fail-closed on malformed rows: a null spans array would null-propagate
    # through the fan-out expression and the document would vanish from the
    # output silently; coalesce to empty so it surfaces as status='empty'.
    df = df.withColumn(
        "spans", F.coalesce("spans", F.array().cast(SPANS_TYPE.simpleString()))
    )

    arch = F.array_sort(
        F.filter("spans", lambda s: s.kind == F.lit("archive_member")),
        lambda a, b: F.when(a.offset < b.offset, -1)
                     .when(a.offset > b.offset, 1).otherwise(0),
    )
    rest = F.filter("spans", lambda s: s.kind != F.lit("archive_member"))
    members = F.transform(arch, lambda s: F.from_json(s.text, _MEMBER_TYPE))

    doc_id, status = F.col("doc_id"), F.col("status")
    passthrough = F.array(_doc_struct(doc_id, F.col("spans"), status))
    parent_part = F.when(
        F.size(rest) > 0, F.array(_doc_struct(doc_id, rest))
    ).otherwise(_empty_docs())
    fanned = F.when(
        _member_budget(members) > MAX_EXTRACTED_SIZE,
        F.array(_doc_struct(doc_id, F.array().cast(SPANS_TYPE.simpleString()),
                            F.lit(ARCHIVE_TOO_LARGE))),
    ).otherwise(
        F.concat(
            parent_part,
            F.flatten(F.transform(_with_paths(members),
                                  lambda mp: _expand_member(doc_id, mp, 1))),
        )
    )
    out_docs = F.when(
        (F.size(arch) == 0) | status.isNotNull(), passthrough
    ).otherwise(fanned)

    out = (
        df.select(F.col("doc_id").alias("_root"), F.explode(out_docs).alias("d"))
        .select(
            "d.doc_id", "d.spans", "d.status",
            F.when(F.col("d.doc_id") != F.col("_root"), F.col("_root"))
            .alias("root_id"),
        )
    )
    return out if with_root else out.drop("root_id")


# ---------------------------------------------------------------------------
# Extraction kernel as Arrow-batched mapInPandas
# ---------------------------------------------------------------------------


_KERNEL_IN = ("doc_id", "spans", "status")


def _extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Extract every row of every batch. Columns beyond (doc_id, spans,
    status) — root_id, chunk_id, n_chunks — ride through unchanged."""
    import pandas as pd

    from .extractors import extract_document

    for batch in batches:
        rows = []
        for doc_id, spans, status in zip(*(batch[c] for c in _KERNEL_IN)):
            if status is not None and not (isinstance(status, float)):
                rows.append((doc_id, status, [], 0, 0, 0))
                continue
            span_dicts = [dict(s) for s in (spans if spans is not None else [])]
            bytes_in = sum(len(s.get("text") or "") for s in span_dicts)
            st, out = extract_document(doc_id, span_dicts)
            n_chars = sum(len(s["text"] or "") for s in out if s["text"])
            rows.append((doc_id, st, out, len(out), n_chars, bytes_in))
        out = pd.DataFrame(rows, columns=OUT_SCHEMA.fieldNames())
        extra = batch.drop(columns=list(_KERNEL_IN)).reset_index(drop=True)
        yield pd.concat([out, extra], axis=1)


def _splittable_col(threshold: int):
    """Oversized page-independent docs are eligible for span chunking.

    Only docs whose every span is pdf_page/media (doc-level semantics like
    the EPUB size budget must see the whole doc). Media spans inherit the
    chunk of their preceding page so the page-then-images interleaving
    survives chunk boundaries.
    """
    doc_bytes = F.aggregate(
        "spans", F.lit(0).cast(LongType()),
        lambda acc, s: acc + F.coalesce(F.length(s.text), F.lit(0)),
    )
    return (doc_bytes > threshold) & F.forall(
        "spans", lambda s: s.kind.isin("pdf_page", "media")
    )


def _chunk_rows(fanned: DataFrame, threshold: int) -> DataFrame:
    """One row per span chunk, adding ``(chunk_id, n_chunks)``.

    A doc is one chunk unless ``_splittable_col`` holds. A split doc gets
    ``SKEW_CHUNK_SPANS`` payload spans per chunk, each media span staying
    with the page before it: chunk c starts at the (c*K)-th non-media span
    (chunk 0 at position 0) and ends where chunk c+1 starts. Built in-row
    with higher-order functions — no shuffle. The anchor positions and
    chunk count are real columns because Catalyst does not CSE inside
    lambdas."""
    k = SKEW_CHUNK_SPANS
    anchors = F.filter(
        F.transform("spans", lambda s, i: F.when(s.kind != "media", i)),
        lambda i: i.isNotNull(),
    )
    a, n = F.col("_anchors"), F.col("n_chunks")

    def start(c):  # 1-based position of chunk c's first span
        return F.when(c == 0, 1).otherwise(F.element_at(a, c * k + 1) + 1)

    chunks = F.when(n == 1, F.array("spans")).otherwise(F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda c: F.slice("spans", start(c), F.when(
            c == n - 1, F.size("spans") + 1).otherwise(start(c + 1)) - start(c)),
    ))
    keep = [c for c in fanned.columns if c != "spans"]
    return (
        fanned.withColumn("_anchors", F.when(_splittable_col(threshold), anchors))
        .withColumn("n_chunks", F.when(a.isNull(), 1).otherwise(
            F.greatest(F.ceil(F.size(a) / k), F.lit(1))).cast(IntegerType()))
        .select(*keep, "n_chunks", F.posexplode(chunks).alias("chunk_id", "spans"))
    )


def _reassemble(out: DataFrame) -> DataFrame:
    """One ``groupBy(doc_id)`` over the kernel output: single-chunk entries
    pass through unchanged, the chunks of split docs merge back into one
    document, order-preserving.

    Error contract matches the unsplit kernel (extract_document): any
    erroring chunk poisons the whole document — empty spans, zero
    n_spans/n_chars — so split and unsplit paths are indistinguishable
    (bytes_in stays the summed input size, as in the unsplit error row).
    """
    fields = [c for c in out.columns if c not in ("doc_id", "chunk_id", "n_chunks")]
    zero = F.lit(0).cast(LongType())

    def total(name, init=zero):
        return F.aggregate("parts", init, lambda acc, c: acc + c[name])

    err = F.col("err")
    flat = F.when(err.isNotNull(), F.array().cast(SPANS_TYPE.simpleString())) \
        .otherwise(F.flatten(F.transform("parts", lambda c: c.spans)))
    merged = {
        "status": F.when(err.isNotNull(), err)
        .when(F.exists("parts", lambda c: c.status == "ok"), F.lit("ok"))
        .otherwise(F.lit("empty")),
        "spans": F.transform(flat, lambda s, i: F.struct(
            s.kind.alias("kind"), s.text.alias("text"),
            s.media_ref.alias("media_ref"), i.alias("offset"))),
        "n_spans": F.when(err.isNotNull(), 0).otherwise(total("n_spans", F.lit(0))),
        "n_chars": F.when(err.isNotNull(), zero).otherwise(total("n_chars")),
        "bytes_in": total("bytes_in"),
        "root_id": F.element_at("parts", 1).root_id,
    }
    whole = F.transform(F.filter("cs", lambda c: c.n_chunks == 1),
                        lambda c: F.struct(*[c[f].alias(f) for f in fields]))
    split = F.when(F.size("parts") > 0,
                   F.struct(*[merged[f].alias(f) for f in fields]))
    return (
        out.groupBy("doc_id")
        .agg(F.collect_list(F.struct("chunk_id", "n_chunks", *fields)).alias("cs"))
        .withColumn("parts", F.array_sort(F.filter("cs", lambda c: c.n_chunks > 1)))
        .withColumn("err", F.array_max(F.transform(
            "parts", lambda c: F.when(c.status.startswith("error"), c.status))))
        .select("doc_id", F.explode(F.filter(
            F.concat(whole, F.array(split)), lambda d: d.isNotNull())).alias("d"))
        .select("doc_id", *[f"d.{f}" for f in fields])
    )


def extract_spans_df(
    df: DataFrame,
    salt_partitions: int | None = None,
    skew_split: bool = True,
    skew_threshold: int = SKEW_SPLIT_BYTES,
    keep_root: bool = False,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted spans DataFrame (OUT_SCHEMA).

    One stream: fan-out -> span chunks per row -> (salt shuffle) -> ONE
    kernel call per chunk row -> reassembly. Every row pays the Arrow /
    Python cost exactly once and the input is consumed exactly once, so
    nothing is persisted. Splitting after the kernel instead (filter into
    two branches) would re-run the kernel per branch.

    ``skew_split=False`` skips chunking and reassembly: scan -> (salt) ->
    kernel. ``keep_root=True`` appends a ``root_id`` column: the
    pre-fan-out input doc_id (== doc_id for non-archive rows).
    """
    rows = explode_archives_df(df, with_root=keep_root)
    if skew_split:
        rows = _chunk_rows(rows, skew_threshold)
    if salt_partitions:
        # (doc_id, chunk_id): a whale's chunks spread across tasks
        key = F.xxhash64("doc_id", *(["chunk_id"] if skew_split else []))
        rows = rows.repartition(salt_partitions,
                                F.pmod(key, F.lit(salt_partitions)))
    extra = [f for f in rows.schema.fields if f.name not in _KERNEL_IN]
    out = rows.mapInPandas(_extract_batches,
                           schema=StructType(OUT_SCHEMA.fields + extra))
    if skew_split:
        out = _reassemble(out)
    if keep_root:
        out = out.withColumn("root_id", F.coalesce("root_id", "doc_id"))
    return out
