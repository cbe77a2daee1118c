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
3. **Salt rebalance** — ``REBALANCE(P, doc_id, chunk_id)`` hashes rows
   into P shuffle partitions, spreading hot doc_ids and a whale's chunks
   across tasks; AQE then coalesces small partitions and splits skewed
   ones, so the kernel runs in as many tasks as its input bytes need (a
   fixed-count ``repartition`` is never coalesced, and every Python task
   pays its worker set-up).
4. **Extraction kernel** — ONE Arrow-batched ``mapInPandas`` (iterator
   form) running ``extractors.extract_document`` once per chunk row;
   never per-row Python UDFs, no driver-side collects.
5. **Reassembly** — one ``groupBy(doc_id)`` over the kernel output:
   single-chunk entries pass through, a split doc's chunks merge back
   order-preserving. The input is consumed exactly once, so nothing is
   persisted.

The static expressions of stages 1, 2 and 5 are SQL text built by
pure-Python helpers (at import, except the chunk predicate's threshold and
the reassembled field list) and parsed once per DataFrame op
(``selectExpr``/``F.expr``). A Column-DSL chain would cost one py4j round
trip per expression node, ~8,000 per plan, paid again by every
``run_extraction`` and every streaming micro-batch. Only constants are
interpolated: strings through ``_q``, numbers through ``int``.

The output schema is
``(doc_id, status, spans array<struct<kind,text,media_ref,offset>>,
n_spans, n_chars, bytes_in)``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F
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
_DOC_STRUCT = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", SPANS_TYPE),
    StructField("status", StringType()),
])
_DOCS_TYPE = ArrayType(_DOC_STRUCT)
ARCHIVE_TOO_LARGE = "error: Archive content too large"


def _q(text: str) -> str:
    """``text`` as a SQL string literal. Only module constants pass through
    here (markers, statuses, regexes, schema DDL), never row data."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


_SPANS_DDL = SPANS_TYPE.simpleString()
_EMPTY_SPANS = f"CAST(array() AS {_SPANS_DDL})"
_EMPTY_DOCS = f"CAST(array() AS {_DOCS_TYPE.simpleString()})"
_NULL_STR = "CAST(NULL AS STRING)"
_MEMBER_DDL = _q(_MEMBER_TYPE.simpleString())
_MEMBERS_DDL = _q(ArrayType(_MEMBER_TYPE).simpleString())
_DOTDOT, _BACKSLASH, _EDGE_SLASHES = _q(r"\.\."), _q(r"\\"), _q("^/+|/+$")


def _sanitize_path_sql(path: str, v: str = "seg") -> str:
    """A7 path sanitation as a regexp chain (app/extractors.py:1996-2014).
    ``v`` names the segment lambda's variable."""
    p = f"regexp_replace({path}, {_DOTDOT}, '')"
    p = f"regexp_replace({p}, {_BACKSLASH}, '/')"
    p = f"regexp_replace({p}, {_EDGE_SLASHES}, '')"
    return (f"array_join(filter(split({p}, '/', -1), "
            f"{v} -> ({v} != '') AND ({v} != '.')), '/')")


def _is_system_file_sql(path: str) -> str:
    """A8 substring blacklist (app/extractors.py:2016-2035). Parenthesized
    left-deep: the SQL parser would balance a flat OR chain."""
    cond = "false"
    for marker in SYSTEM_FILE_MARKERS:
        cond = f"({cond} OR contains(lower({path}), {_q(marker)}))"
    return cond


def _doc_struct_sql(doc_id: str, spans: str, status: str = _NULL_STR) -> str:
    return (f"struct({doc_id} AS doc_id, CAST({spans} AS {_SPANS_DDL}) AS spans,"
            f" {status} AS status)")


def _too_large_sql(doc_id: str) -> str:
    """The bomb guard's single error row for a rejected archive."""
    return f"array({_doc_struct_sql(doc_id, _EMPTY_SPANS, _q(ARCHIVE_TOO_LARGE))})"


def _member_budget_sql(members: str, v: int) -> str:
    """Zip-bomb guard sum (A2, app/extractors.py:1668-1677)."""
    acc, b = f"acc{v}", f"b{v}"
    return (f"aggregate({members}, CAST(0 AS BIGINT), ({acc}, {b}) -> {acc}"
            f" + coalesce(length({b}.text), 0)"
            f" + coalesce(length({b}.members), 0))")


def _with_paths_sql(members: str, v: int) -> str:
    """Bind each member to its sanitized path ONCE. Catalyst does not CSE
    inside lambdas, so referencing the sanitized m.path repeatedly
    (empty-check, 9 system-file Contains, child id) would inline the whole
    regexp chain ~11x per member. A null path sanitizes to '' as in the
    oracle's sanitize_archive_filename(None), so the member is dropped
    rather than emitted under its parent's doc_id."""
    w = f"w{v}"
    path = _sanitize_path_sql(f"{w}.path", f"seg{v}")
    return f"transform({members}, {w} -> struct({w} AS m, coalesce({path}, '') AS path))"


def _expand_member_sql(parent_id: str, mp: str, depth: int) -> str:
    """One (member, path) pair -> array<doc> (recursively inlined). Lambda
    variables carry the depth: inner levels refer to outer ones."""
    m, path = f"{mp}.m", f"{mp}.path"
    child_id = f"concat_ws('/', {parent_id}, {path})"
    leaf = "array({})".format(_doc_struct_sql(
        child_id,
        f"array(struct({m}.kind AS kind, {m}.text AS text,"
        f" {m}.media_ref AS media_ref, 0 AS `offset`))",
    ))
    # A non-empty member list, the oracle's truthiness test: from_json('')
    # is null, and one null in the flattened array drops the whole archive.
    is_nested = f"coalesce({m}.is_archive, false) AND {m}.members != ''"
    sub = f"from_json({m}.members, {_MEMBERS_DDL})"
    if depth < MAX_ARCHIVE_NESTING:
        nested = _expand_archive_sql(child_id, sub, depth + 1)
    else:
        # Past the nesting cap: keep the child with unexpanded
        # archive_member spans (the kernel drops them — the reference's
        # skip-on-depth, app/extractors.py:1580-1584).
        mm, i = f"mm{depth}", f"i{depth}"
        nested = "array({})".format(_doc_struct_sql(
            child_id,
            f"transform({sub}, ({mm}, {i}) -> struct('archive_member' AS kind,"
            f" to_json({mm}) AS text, {_NULL_STR} AS media_ref,"
            f" CAST({i} AS INT) AS `offset`))",
        ))
    return (f"CASE WHEN ({path} = '') OR {_is_system_file_sql(path)}"
            f" THEN {_EMPTY_DOCS} WHEN {is_nested} THEN {nested} ELSE {leaf} END")


def _expand_archive_sql(doc_id: str, members: str, depth: int) -> str:
    """Parsed member list -> array<doc>, with the bomb guard per archive.
    An empty list keeps the archive as one doc without spans, as the
    oracle's next round passes a doc with no archive spans through."""
    mp = f"mp{depth}"
    expanded = (f"flatten(transform({_with_paths_sql(members, depth)},"
                f" {mp} -> {_expand_member_sql(doc_id, mp, depth)}))")
    return (f"CASE WHEN size({members}) = 0"
            f" THEN array({_doc_struct_sql(doc_id, _EMPTY_SPANS)})"
            f" WHEN {_member_budget_sql(members, depth)} > {MAX_EXTRACTED_SIZE}"
            f" THEN {_too_large_sql(doc_id)} ELSE {expanded} END")


def _fanout_sql() -> str:
    """Every fanned document of one input row, as one array<doc>."""
    arch = ("array_sort(filter(spans, s -> s.kind = 'archive_member'),"
            " (a, b) -> CASE WHEN a.`offset` < b.`offset` THEN -1"
            " WHEN a.`offset` > b.`offset` THEN 1 ELSE 0 END)")
    rest = "filter(spans, r -> r.kind != 'archive_member')"
    members = f"transform({arch}, j -> from_json(j.text, {_MEMBER_DDL}))"
    passthrough = f"array({_doc_struct_sql('doc_id', 'spans', 'status')})"
    parent_part = (f"CASE WHEN size({rest}) > 0"
                   f" THEN array({_doc_struct_sql('doc_id', rest)})"
                   f" ELSE {_EMPTY_DOCS} END")
    fanned = (
        f"CASE WHEN {_member_budget_sql(members, 1)} > {MAX_EXTRACTED_SIZE}"
        f" THEN {_too_large_sql('doc_id')} ELSE concat({parent_part},"
        f" flatten(transform({_with_paths_sql(members, 1)},"
        f" mp1 -> {_expand_member_sql('doc_id', 'mp1', 1)}))) END"
    )
    return (f"CASE WHEN (size({arch}) = 0) OR status IS NOT NULL"
            f" THEN {passthrough} ELSE {fanned} END")


_OUT_DOCS = _fanout_sql()


def explode_archives_df(df: DataFrame, with_root: bool = False) -> DataFrame:
    """A1-A6 archive fan-out in ONE scan: a single nested-transform
    expression computes every fan-out level (bounded depth 3) per row, then
    one ``explode`` emits the documents — no unions, no repeated scans.
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
        df = df.withColumn("status", F.expr(_NULL_STR))
    # Fail-closed on malformed rows: a null spans array would null-propagate
    # through the fan-out expression and the document would vanish from the
    # output silently; coalesce to empty so it surfaces as status='empty'.
    df = df.withColumn("spans", F.expr(f"coalesce(spans, {_EMPTY_SPANS})"))
    out = (
        df.selectExpr("doc_id AS _root", f"explode({_OUT_DOCS}) AS d")
        .selectExpr("d.doc_id", "d.spans", "d.status",
                    "CASE WHEN d.doc_id != _root THEN _root END AS root_id")
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


def _splittable_sql(threshold: int) -> str:
    """Oversized page-independent docs are eligible for span chunking.

    Only docs whose every span is pdf_page/media (doc-level semantics like
    the EPUB size budget must see the whole doc). Media spans inherit the
    chunk of their preceding page so the page-then-images interleaving
    survives chunk boundaries.
    """
    return ("aggregate(spans, CAST(0 AS BIGINT),"
            " (acc, s) -> acc + coalesce(length(s.text), 0))"
            f" > {int(threshold)}"
            " AND forall(spans, s -> s.kind IN ('pdf_page', 'media'))")


def _chunk_start_sql(c: str) -> str:
    """1-based position of chunk c's first span."""
    return (f"(CASE WHEN {c} = 0 THEN 1"
            f" ELSE element_at(_anchors, {c} * {SKEW_CHUNK_SPANS} + 1) + 1 END)")


_ANCHORS = ("filter(transform(spans, (s, i) -> CASE WHEN s.kind != 'media'"
            " THEN i END), i -> i IS NOT NULL)")
_N_CHUNKS = ("CAST(CASE WHEN _anchors IS NULL THEN 1 ELSE"
             f" greatest(ceil(size(_anchors) / {SKEW_CHUNK_SPANS}), 1) END AS INT)")
_CHUNKS = (
    "CASE WHEN n_chunks = 1 THEN array(spans) ELSE"
    " transform(sequence(0, n_chunks - 1), c -> slice(spans,"
    f" {_chunk_start_sql('c')}, CASE WHEN c = n_chunks - 1 THEN size(spans) + 1"
    f" ELSE {_chunk_start_sql('(c + 1)')} END - {_chunk_start_sql('c')})) END"
)


def _chunk_rows(fanned: DataFrame, threshold: int) -> DataFrame:
    """One row per span chunk, adding ``(chunk_id, n_chunks)``.

    A doc is one chunk unless ``_splittable_sql`` holds. A split doc gets
    ``SKEW_CHUNK_SPANS`` payload spans per chunk, each media span staying
    with the page before it: chunk c starts at the (c*K)-th non-media span
    (chunk 0 at position 0) and ends where chunk c+1 starts. Built in-row
    with higher-order functions — no shuffle. The anchor positions and
    chunk count are real columns because Catalyst does not CSE inside
    lambdas."""
    keep = [c for c in fanned.columns if c != "spans"]
    return (
        fanned.withColumn("_anchors", F.expr(
            f"CASE WHEN {_splittable_sql(threshold)} THEN {_ANCHORS} END"))
        .withColumn("n_chunks", F.expr(_N_CHUNKS))
        .selectExpr(*keep, "n_chunks",
                    f"posexplode({_CHUNKS}) AS (chunk_id, spans)")
    )


def _parts_total_sql(name: str, init: str = "CAST(0 AS BIGINT)") -> str:
    return f"aggregate(parts, {init}, (acc, c) -> acc + c.{name})"


# A split doc's merged fields, over its sorted chunk rows ``parts`` and
# their first error status ``err``.
_MERGED = {
    "status": "CASE WHEN err IS NOT NULL THEN err"
              " WHEN exists(parts, c -> c.status = 'ok') THEN 'ok' ELSE 'empty' END",
    "spans": f"transform(CASE WHEN err IS NOT NULL THEN {_EMPTY_SPANS}"
             " ELSE flatten(transform(parts, c -> c.spans)) END,"
             " (s, i) -> struct(s.kind AS kind, s.text AS text,"
             " s.media_ref AS media_ref, i AS `offset`))",
    "n_spans": "CASE WHEN err IS NOT NULL THEN 0"
               f" ELSE {_parts_total_sql('n_spans', '0')} END",
    "n_chars": "CASE WHEN err IS NOT NULL THEN CAST(0 AS BIGINT)"
               f" ELSE {_parts_total_sql('n_chars')} END",
    "bytes_in": _parts_total_sql("bytes_in"),
    "root_id": "element_at(parts, 1).root_id",
}


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
    whole = ("transform(filter(cs, c -> c.n_chunks = 1), c -> struct("
             + ", ".join(f"c.{f} AS {f}" for f in fields) + "))")
    split = ("CASE WHEN size(parts) > 0 THEN struct("
             + ", ".join(f"{_MERGED[f]} AS {f}" for f in fields) + ") END")
    return (
        out.groupBy("doc_id")
        .agg(F.expr(f"collect_list(struct(chunk_id, n_chunks, {', '.join(fields)}))"
                    " AS cs"))
        .withColumn("parts", F.expr("array_sort(filter(cs, c -> c.n_chunks > 1))"))
        .withColumn("err", F.expr(
            "array_max(transform(parts, c -> CASE WHEN startswith(c.status, 'error')"
            " THEN c.status END))"))
        .selectExpr("doc_id", f"explode(filter(concat({whole}, array({split})),"
                              " x -> x IS NOT NULL)) AS d")
        .selectExpr("doc_id", *[f"d.{f}" for f in fields])
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
        # (doc_id, chunk_id): a whale's chunks spread across tasks; AQE
        # sizes the kernel's Python task count by bytes (docstring stage 3)
        keys = ("doc_id", "chunk_id") if skew_split else ("doc_id",)
        rows = rows.hint("rebalance", int(salt_partitions), *keys)
    extra = [f for f in rows.schema.fields if f.name not in _KERNEL_IN]
    out = rows.mapInPandas(_extract_batches,
                           schema=StructType(OUT_SCHEMA.fields + extra))
    if skew_split:
        out = _reassemble(out)
    if keep_root:
        out = out.withColumn("root_id", F.expr("coalesce(root_id, doc_id)"))
    return out
