"""The correctness gate: distributed pipeline == single-process oracle on
span-sequence equality (kind, text, media_ref, order) per document, plus
skew-split equivalence and plan-shape checks."""

import json

import pytest

from extract_text_spark.corpus import corpus_to_df, gen_corpus, oracle_extract
from extract_text_spark.pipeline import extract_spans_df


def _spanify(rows):
    return {
        r["doc_id"]: (
            r["status"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for r in rows
    }


def _oracle(docs):
    return {
        k: (st, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp])
        for k, (st, sp) in oracle_extract(docs).items()
    }


@pytest.fixture(scope="module")
def corpus():
    return gen_corpus(120, seed=42)


def test_span_sequence_equality(spark, corpus):
    got = _spanify(extract_spans_df(corpus_to_df(spark, corpus),
                                    salt_partitions=8).collect())
    exp = _oracle(corpus)
    assert set(got) == set(exp)
    mismatched = [k for k in exp if got[k] != exp[k]]
    assert mismatched == [], f"first mismatch: {mismatched[0]}: " \
                             f"{got[mismatched[0]]} != {exp[mismatched[0]]}"


def test_statuses_cover_negative_families(spark, corpus):
    negatives = [
        {"doc_id": "neg-empty", "spans": [
            {"kind": "plain", "text": "", "media_ref": None, "offset": 0}]},
        {"doc_id": "neg-unsupported", "spans": [
            {"kind": "xyz", "text": "payload", "media_ref": None, "offset": 0}]},
    ]
    docs = corpus[:20] + negatives
    got = _spanify(extract_spans_df(corpus_to_df(spark, docs)).collect())
    exp = _oracle(docs)
    assert got == exp
    assert got["neg-empty"][0] == "empty"
    assert got["neg-unsupported"][0] == "error: Unsupported file format: xyz"
    assert any(st == "ok" for st, _ in got.values())


def test_skew_split_equivalence(spark):
    # A 60-page interleaved PDF doc must extract identically whether the
    # skew splitter is on or off (media spans glued to their pages).
    docs = [d for d in gen_corpus(400, seed=7) if d["doc_id"].endswith("-skew")]
    assert docs, "corpus must contain a skew doc"
    df = corpus_to_df(spark, docs)
    split = _spanify(
        extract_spans_df(df, skew_split=True, skew_threshold=1).collect())
    unsplit = _spanify(extract_spans_df(df, skew_split=False).collect())
    assert split == unsplit
    for st, spans in split.values():
        assert st == "ok"
        kinds = [k for k, *_ in spans]
        assert "media" in kinds and "text" in kinds


def test_skew_split_salted_persist_path_equivalence(spark):
    """salt_partitions + skew_split salts by (doc_id, chunk_id), so a
    whale's chunks land in different tasks before reassembly: with a
    forced-big threshold the output must still equal the unsplit and the
    unsalted-split runs exactly."""
    corpus = gen_corpus(400, seed=7)
    docs = ([d for d in corpus if d["doc_id"].endswith("-skew")]
            + [d for d in corpus if not d["doc_id"].endswith("-skew")][:40])
    assert any(d["doc_id"].endswith("-skew") for d in docs)
    df = corpus_to_df(spark, docs)
    salted_split = _spanify(
        extract_spans_df(df, salt_partitions=8, skew_split=True,
                         skew_threshold=1).collect())
    plain_split = _spanify(
        extract_spans_df(df, skew_split=True, skew_threshold=1).collect())
    unsplit = _spanify(extract_spans_df(df, skew_split=False).collect())
    assert salted_split == plain_split == unsplit


def test_skew_split_equivalence_with_erroring_chunk(spark):
    """An erroring chunk must poison the whole document exactly like the
    unsplit kernel does (empty spans, zero counts) — split and unsplit
    outputs stay indistinguishable even on error rows."""
    pages = [
        {"kind": "pdf_page",
         "text": '{"page_no": %d, "blocks": [{"bbox": [0, %d, 10, %d], '
                 '"text": "line %d"}]}' % (i + 1, i * 10, i * 10 + 5, i + 1),
         "media_ref": None, "offset": i}
        for i in range(40)
    ]
    bad = dict(pages[25])
    bad["text"] = "{not valid json"
    pages[25] = bad
    docs = [{"doc_id": "err-skew", "spans": pages}]
    df = corpus_to_df(spark, docs)
    split = _spanify(
        extract_spans_df(df, skew_split=True, skew_threshold=1).collect())
    unsplit = _spanify(extract_spans_df(df, skew_split=False).collect())
    assert split == unsplit
    st, spans = split["err-skew"]
    assert st.startswith("error:") and spans == []
    row = extract_spans_df(df, skew_split=True, skew_threshold=1).collect()[0]
    assert row["n_spans"] == 0 and row["n_chars"] == 0


def test_duplicate_doc_ids_stay_separate_rows_on_every_route(spark):
    """Input rows sharing a doc_id that are not split (plain docs, and a
    one-chunk PDF even under a forced-big threshold) come out as separate
    rows on every route: the reassembly groupBy over all rows must pass
    single-chunk entries through, never merge them."""
    def page(i, text):
        return {"kind": "pdf_page", "media_ref": None, "offset": i,
                "text": '{"page_no": %d, "blocks": [{"bbox": [0, 0, 10, 5], '
                        '"text": "%s"}]}' % (i + 1, text)}

    def plain(text):
        return {"kind": "plain", "text": text, "media_ref": None, "offset": 0}

    docs = [{"doc_id": "dup", "spans": [plain("first body")]},
            {"doc_id": "dup", "spans": [plain("second body")]},
            {"doc_id": "pdf", "spans": [page(0, "one"), page(1, "two")]},
            {"doc_id": "pdf", "spans": [page(0, "three")]},
            {"doc_id": "solo", "spans": [plain("alone")]}]
    df = corpus_to_df(spark, docs)

    def rows(**kwargs):
        return sorted(
            (r["doc_id"], r["status"], tuple(s["text"] for s in r["spans"]))
            for r in extract_spans_df(df, **kwargs).collect())

    ref = rows(skew_split=False)
    assert [r[0] for r in ref] == ["dup", "dup", "pdf", "pdf", "solo"]
    for kwargs in ({"skew_split": True}, {"skew_threshold": 1},
                   {"salt_partitions": 4},
                   {"salt_partitions": 4, "skew_threshold": 1}):
        assert rows(**kwargs) == ref, kwargs


def test_archive_fanout_matches_oracle(spark):
    docs = [d for d in gen_corpus(600, seed=9) if "-archive" in d["doc_id"]]
    assert docs
    got = _spanify(extract_spans_df(corpus_to_df(spark, docs)).collect())
    exp = _oracle(docs)
    assert got == exp
    # fan-out actually produced children with path-suffixed doc_ids
    assert any("/" in k for k in got)


def test_no_python_in_fanout_plan(spark):
    """Archive fan-out must be Catalyst-only (no BatchEvalPython/ArrowEval
    before the single mapInPandas kernel)."""
    from extract_text_spark.pipeline import explode_archives_df
    docs = gen_corpus(30, seed=3)
    plan = explode_archives_df(
        corpus_to_df(spark, docs)
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_null_spans_surface_as_empty_not_dropped(spark):
    """Fail-closed: malformed rows (null spans) must surface with a status,
    never vanish from the output (found by a verification probe)."""
    from extract_text_spark.pipeline import DOC_SCHEMA
    bad = spark.createDataFrame([("nullspans", None), ("nospans", [])],
                                schema=DOC_SCHEMA)
    res = {r["doc_id"]: r["status"] for r in extract_spans_df(bad).collect()}
    assert res == {"nullspans": "empty", "nospans": "empty"}


def _member(path, text="body", kind="plain", members=None):
    return {"path": path, "kind": kind, "text": text, "media_ref": None,
            "is_archive": members is not None, "members": members}


def _archive(doc_id, members, rest=()):
    return {"doc_id": doc_id, "spans": list(rest) + [
        {"kind": "archive_member", "text": json.dumps(m), "media_ref": None,
         "offset": i} for i, m in enumerate(members)]}


def _nest(depth, leaf):
    """``depth`` nested archives l1.zip/.../l{depth}.zip around ``leaf``,
    each level with a plain sibling."""
    members = [leaf]
    for d in range(depth, 0, -1):
        members = [_member(f"l{d}.zip", None, "archive", json.dumps(members)),
                   _member(f"side{d}.txt", f"level {d}")]
    return members


_PLAIN = {"kind": "plain", "text": "parent body", "media_ref": None,
          "offset": 0}
_HOSTILE = {
    "paths": [_archive("p.zip", [
        _member(p, f"from {p!r}") for p in
        ("a\\b.txt", "../up.txt", "/lead.txt", "trail.txt/", "./dot.txt",
         "c//d.txt", ".", "", "..")])],
    "system_markers": [_archive("s.zip", [
        _member(p) for p in
        ("Thumbs.DB", "dir/.Git/config", "__MACOSX/x.txt", "Desktop.INI",
         "keep.txt")])],
    "depth_past_cap": [_archive("deep.zip", _nest(4, _member("bottom.txt")))],
    "archive_with_spans": [_archive("mix.zip", [_member("in.txt")], [_PLAIN])],
    "preset_status": [
        _archive("st.zip", [_member("in.txt")]),
        {"doc_id": "bad.bin", "spans": [_PLAIN],
         "status": "error: Unsupported file format: bin"}],
    "null_member_path": [_archive("null_path", [
        _member(None), _member("ok.txt")], [_PLAIN])],
    "empty_nested_members": [_archive("nes", [
        _member("n.zip", None, "archive", ""), _member("ok.txt")])],
    "empty_nested_list": [_archive("lst", [
        _member("n.zip", None, "archive", "[]"), _member("ok.txt")])],
}


@pytest.mark.parametrize("keep_root", [False, True])
@pytest.mark.parametrize("case", sorted(_HOSTILE))
def test_hostile_fanout_matches_oracle(spark, case, keep_root):
    """Archive fan-out edge cases (path sanitation, system-file markers in
    any case, nesting one past the cap, archives with their own spans,
    pre-set statuses, null paths, empty or blank nested member lists)
    against the single-process oracle, row for row."""
    from pyspark.sql.types import StringType, StructField, StructType

    from extract_text_spark.pipeline import DOC_SCHEMA
    docs = _HOSTILE[case]
    schema = StructType(DOC_SCHEMA.fields + [StructField("status", StringType())])
    df = spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in d["spans"]], d.get("status")) for d in docs],
        schema=schema)
    rows = extract_spans_df(df, keep_root=keep_root).collect()
    assert len(rows) == len({r["doc_id"] for r in rows})
    assert _spanify(rows) == _oracle(docs)
    if keep_root:
        roots = {d["doc_id"] for d in docs}
        for r in rows:
            assert r["root_id"] in roots
            assert r["doc_id"] == r["root_id"] or \
                r["doc_id"].startswith(r["root_id"] + "/")


def test_plan_construction_round_trips(spark, corpus):
    """Building the extraction plan is a few hundred py4j round trips: its
    static expressions are SQL text, parsed once per DataFrame op (a
    Column-DSL chain costs one round trip per node, ~8,000 for this plan)."""
    import gc
    docs = corpus_to_df(spark, corpus[:40])
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    gc.disable()   # no py4j object finalizers inside the count
    client.send_command = counting
    try:
        extract_spans_df(docs, salt_partitions=8, keep_root=True)
    finally:
        del client.send_command
        gc.enable()
    assert 0 < calls <= 500, calls


@pytest.mark.parametrize("salt", [16, 64])
def test_salt_reaches_most_partitions(spark, kernel_tasks, sql_conf, salt):
    """The salt spreads N >> P rows over (nearly) all P kernel partitions.
    Keying a shuffle on ``pmod(hash, P)`` hashes only P distinct values a
    second time and left many partitions empty (P=64 reached 41), each
    still a Python task; AQE coalescing is off here so every partition
    shows."""
    sql_conf("spark.sql.adaptive.coalescePartitions.enabled", "false")
    started, fed = kernel_tasks
    docs = corpus_to_df(spark, gen_corpus(400, seed=13))
    extract_spans_df(docs, salt_partitions=salt).collect()
    assert started.value == salt
    assert fed.value >= 0.9 * salt, (fed.value, salt)
