"""Checkpointed runs: idempotent resume via bucket manifests.

Simulates a killed run (only a subset of buckets processed), then resumes:
the final output must equal a one-shot run — no duplicates, no gaps — and
already-done buckets must not be reprocessed."""

import pyspark.sql.functions as F

from extract_text_spark.checkpoint import (
    _summary, completed_buckets, run_extraction,
)
from extract_text_spark.corpus import corpus_to_df, gen_corpus, oracle_extract
from extract_text_spark.pipeline import extract_spans_df


def _span_map(rows):
    return {
        r["doc_id"]: (r["status"],
                      [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]])
        for r in rows
    }


def _result_map(spark, out_dir):
    return _span_map(spark.read.parquet(f"{out_dir}/data").collect())


def _partial_then_resume(spark, tmp_path, salt):
    docs = corpus_to_df(spark, gen_corpus(80, seed=5))
    one, two = str(tmp_path / "oneshot"), str(tmp_path / "resumed")

    run_extraction(spark, docs, one, num_buckets=8, salt_partitions=salt)

    # "Killed" run: only even buckets complete.
    m1 = run_extraction(spark, docs, two, num_buckets=8, salt_partitions=salt,
                        bucket_filter=lambda b: b % 2 == 0)
    assert m1["buckets"] <= 4
    done = completed_buckets(spark, two)
    assert done is not None and done.count() == m1["buckets"]
    done = [r.bucket for r in done.collect()]

    # Resume: processes only the remaining buckets, and its summary counts
    # exactly the increment it wrote.
    m2 = run_extraction(spark, docs, two, num_buckets=8, salt_partitions=salt)
    assert m2["buckets"] == 8 - m1["buckets"]
    inc = spark.read.parquet(f"{two}/data").filter(~F.col("bucket").isin(done))
    got = inc.agg(F.countDistinct("bucket").alias("buckets"),
                  F.count("*").alias("docs"),
                  F.sum("n_spans").alias("spans")).first()
    assert (m2["buckets"], m2["docs"], m2["spans"]) == tuple(got)

    assert _result_map(spark, two) == _result_map(spark, one)

    # Third run: everything checkpointed -> no work, no duplicates.
    m3 = run_extraction(spark, docs, two, num_buckets=8, salt_partitions=salt)
    assert m3["buckets"] == 0 and m3["docs"] == 0
    assert _result_map(spark, two) == _result_map(spark, one)


def test_partial_then_resume_equals_oneshot(spark, tmp_path):
    _partial_then_resume(spark, tmp_path, salt=None)


def test_partial_then_resume_equals_oneshot_salted(spark, tmp_path):
    _partial_then_resume(spark, tmp_path, salt=4)


def test_ingest_error_status_survives_run_extraction(spark, tmp_path):
    """An ingest error (a corrupt PDF off the byte-ingest kernel) reaches
    the output as its error status, not as 'empty', and counts in the
    manifest's n_errors."""
    from extract_text_spark.ingest import ingest_bytes_df
    files = spark.createDataFrame(
        [("bad.pdf", "bad.pdf", b"%PDF-1.4 garbage"),
         ("good.txt", "good.txt", b"plain words")],
        "doc_id string, filename string, content binary")
    out = str(tmp_path / "out")
    run_extraction(spark, ingest_bytes_df(files), out, num_buckets=4)
    got = {r.doc_id: r.status
           for r in spark.read.parquet(f"{out}/data").collect()}
    assert got == {
        "bad.pdf": "error: Error processing PDF: no PDF objects found",
        "good.txt": "ok"}
    m = spark.read.parquet(f"{out}/_manifest")
    assert m.agg(F.sum("n_errors")).first()[0] == 1


def test_rerun_overwrites_not_duplicates(spark, tmp_path):
    """resume=False re-runs everything; dynamic partition overwrite must
    replace bucket partitions, not append to them — via the WRITE-LOCAL
    option, proven here under a session forced to the static default (a
    session-wide static mode must not truncate other buckets either)."""
    docs = corpus_to_df(spark, gen_corpus(40, seed=6))
    out = str(tmp_path / "out")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        run_extraction(spark, docs, out, num_buckets=4)
        n1 = spark.read.parquet(f"{out}/data").count()
        # partial rewrite under static session mode: only bucket-0/1 rows
        # are rewritten; buckets 2/3 must survive (write-local dynamic)
        run_extraction(spark, docs, out, num_buckets=4, resume=False,
                       bucket_filter=lambda b: b < 2)
        assert spark.read.parquet(f"{out}/data").count() == n1
        run_extraction(spark, docs, out, num_buckets=4, resume=False)
        assert spark.read.parquet(f"{out}/data").count() == n1
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # manifest keeps lineage of all three attempts (4 + 2 + 4 buckets)
    m = spark.read.parquet(f"{out}/_manifest")
    assert m.count() == 10
    assert m.select("app_id").distinct().count() == 1


def test_slash_in_input_doc_id_buckets_consistently(spark, tmp_path):
    """Input doc_ids containing '/' (file paths) must bucket by the FULL
    root id, not a split prefix — resume after a partial run must converge
    to the one-shot result with no lost or doubled docs."""
    docs = gen_corpus(60, seed=11)
    for d in docs:
        d["doc_id"] = f"s3://bucket/prefix/{d['doc_id']}"
    df = corpus_to_df(spark, docs)
    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    run_extraction(spark, df, one, num_buckets=8)

    m1 = run_extraction(spark, df, two, num_buckets=8,
                        bucket_filter=lambda b: b % 2 == 0)
    m2 = run_extraction(spark, df, two, num_buckets=8)
    assert m1["buckets"] + m2["buckets"] == 8
    assert _result_map(spark, two) == _result_map(spark, one)
    # fan-out children (doc_id extended with member path) stay in their
    # parent's bucket: every child row shares the parent's partition value
    data = spark.read.parquet(f"{two}/data")
    n_children = data.filter(~F.col("doc_id").startswith("s3://")).count()
    assert n_children == 0  # all ids keep the root prefix
    # a third run is a no-op
    m3 = run_extraction(spark, df, two, num_buckets=8)
    assert m3["buckets"] == 0


def test_manifest_metrics(spark, tmp_path):
    docs = corpus_to_df(spark, gen_corpus(30, seed=7))
    out = str(tmp_path / "out")
    stats = run_extraction(spark, docs, out, num_buckets=4)
    m = spark.read.parquet(f"{out}/_manifest")
    row = m.agg(F.sum("n_docs").alias("d"), F.sum("n_spans").alias("s"),
                F.sum("bytes_in").alias("b")).collect()[0]
    assert row["d"] == stats["docs"] and row["d"] >= 30
    assert row["s"] == stats["spans"]
    assert row["b"] == stats["bytes_in"] and row["b"] > 0
    assert {r["status"] for r in m.collect()} == {"done"}


def test_completed_buckets_is_one_spark_job(spark, tmp_path):
    """The done-set read infers no schema and shuffles nothing: reading
    and collecting it is exactly one Spark job."""
    out = str(tmp_path / "out")
    docs = corpus_to_df(spark, gen_corpus(20, seed=7))
    run_extraction(spark, docs, out, num_buckets=4)
    sc = spark.sparkContext
    group = "completed-buckets-read"
    sc.setJobGroup(group, "done-set read")
    try:
        done = {r.bucket for r in completed_buckets(spark, out).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    written = spark.read.parquet(f"{out}/data").select("bucket").distinct()
    assert done == {r.bucket for r in written.collect()}
    assert completed_buckets(spark, str(tmp_path / "missing")) is None


def test_aqe_split_and_coalesce_are_invisible(spark, tmp_path, sql_conf):
    """Tiny AQE partition sizes make the salt rebalance split big partitions
    by map output and coalesce small ones, so a whale's chunks and a doc's
    rows land in arbitrary kernel tasks: the output must not change."""
    sql_conf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2k")
    sql_conf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    corpus = gen_corpus(400, seed=7)
    docs = ([d for d in corpus if d["doc_id"].endswith("-skew")]
            + [d for d in corpus if not d["doc_id"].endswith("-skew")][:40])
    df = corpus_to_df(spark, docs)
    salted = extract_spans_df(df, salt_partitions=16, skew_threshold=1)
    got = _span_map(salted.collect())
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced and skewed" in plan
    assert got == _span_map(extract_spans_df(df, skew_split=False).collect())
    exp = {k: (st, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in sp])
           for k, (st, sp) in oracle_extract(docs).items()}
    assert got == exp
    _partial_then_resume(spark, tmp_path, salt=16)


def test_python_task_budget(spark, tmp_path, kernel_tasks):
    """A small salted run starts Python tasks by its data, not by its salt:
    the kernel runs in at most defaultParallelism tasks however wide the
    salt, and the manifest is written from the JVM aggregate (no Python
    worker), one file per run whose rows are the returned summary."""
    import glob

    started, _ = kernel_tasks
    docs = corpus_to_df(spark, gen_corpus(60, seed=3))
    out = str(tmp_path / "out")
    store = spark._jsparkSession.sharedState().statusStore()

    def plans():
        xs = store.executionsList()
        return {xs.apply(i).executionId(): xs.apply(i).physicalPlanDescription()
                for i in range(xs.size())}

    runs = ({"bucket_filter": lambda b: b < 3}, {})
    for n, kwargs in enumerate(runs, 1):
        before, calls = set(plans()), started.value
        stats = run_extraction(spark, docs, out, num_buckets=8,
                               salt_partitions=64, **kwargs)
        assert 0 < started.value - calls <= spark.sparkContext.defaultParallelism
        writes = [p for k, p in plans().items()
                  if k not in before and "_manifest" in p
                  and "InsertIntoHadoopFsRelationCommand" in p]
        assert len(writes) == 1
        assert not any(op in writes[0] for op in
                       ("ExistingRDD", "Python", "MapInPandas"))
        assert len(glob.glob(f"{out}/_manifest/part-*.parquet")) == n
        manifest = spark.read.parquet(f"{out}/_manifest")
        newest = manifest.filter(
            F.col("run_ts") == manifest.agg(F.max("run_ts")).first()[0])
        assert stats == _summary(newest.collect(), stats["wall_ms"])
        assert stats["buckets"] > 0
