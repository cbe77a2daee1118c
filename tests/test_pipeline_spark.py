"""The correctness gate: distributed pipeline == single-process oracle on
span-sequence equality (kind, text, media_ref, order) per document, plus
skew-split equivalence and plan-shape checks."""

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
