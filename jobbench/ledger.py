"""The traced run: a per-layer ledger of one workload's job.

Layer time is a telescoping prefix difference. Each prefix is the workload's
input run through one more public call and drained (its executed plan run to
the end, rows discarded: the work of a ``noop`` write, with the plan's SQL
metrics left readable), with ``clearCache()`` before each:

    scan     read (parquet / binaryFile)
    ingest   + ingest_bytes_df(named_binary_df(...))       raw files only
    fanout   + pipeline.explode_archives_df
    kernel   extract_spans_df(salt_partitions=None, skew_split=False)
    salt     extract_spans_df(salt_partitions=P, skew_split=False)
    skew     extract_spans_df(salt_partitions=P, skew_split=True)
    root     extract_spans_df(..., keep_root=True)
    job      checkpoint.run_extraction (timed inside the traced job)

The parts telescope to the traced job's ``run_extraction`` span, so
``ledger.residual_s`` = traced ``job_s`` - sum(parts) is the job time outside
the public calls the chain models, plus sampling noise between medians.
Row counts and SQL metrics of the drained prefixes give the fan-out's
conservation check and the skew route's traffic. Spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import gc
import json
import os
import time
from contextlib import contextmanager

from corpora import FILE_EXTS, KERNEL_KINDS, NUM_BUCKETS, Corpus, format_costs
from job import (
    cached_storage,
    check_output,
    input_docs,
    median,
    prepare_output,
    resumed_bucket,
    run_job,
)

MIN_ROUNDS = 1


class Tracer:
    """In-memory spans: (name, start, end, parent, workload, run id)."""

    def __init__(self, workload: str, run_id: str):
        self.workload, self.run_id = workload, run_id
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "workload": self.workload, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Prefix DataFrames and the draining sink
# ---------------------------------------------------------------------------

def prefix_frames(spark, c: Corpus, salt: int) -> tuple:
    """(builder of the job's input docs, prefix name -> zero-argument
    builder of the prefix's DataFrame)."""
    from pyspark.sql import functions as F

    from extract_text_spark.checkpoint import with_bucket
    from extract_text_spark.ingest import named_binary_df
    from extract_text_spark.pipeline import explode_archives_df, extract_spans_df

    def src():
        if c.kind == "files":
            return spark.read.format("binaryFile").load(c.input_path)
        return spark.read.parquet(c.input_path)

    def docs():
        d = input_docs(spark, c, persist=False)
        if c.resume:
            # the increment a resumed run processes (run_extraction's
            # bucket anti-join against the manifested even buckets)
            d = with_bucket(d, NUM_BUCKETS) \
                .filter(resumed_bucket(F.col("bucket"))).drop("bucket")
        return d

    frames = {"scan": src}
    if c.kind == "files":
        frames["ingest"] = docs

        def boundary():
            def _identity(batches):   # nested: pickled by value
                yield from batches
            named = named_binary_df(src())
            return named.mapInPandas(_identity, schema=named.schema)
        frames["boundary"] = boundary
    frames.update({
        "fanout": lambda: explode_archives_df(docs()),
        "kernel": lambda: extract_spans_df(docs(), salt_partitions=None,
                                           skew_split=False),
        "salt": lambda: extract_spans_df(docs(), salt_partitions=salt,
                                         skew_split=False),
        "skew": lambda: extract_spans_df(docs(), salt_partitions=salt,
                                         skew_split=True),
        "root": lambda: extract_spans_df(docs(), salt_partitions=salt,
                                         skew_split=True, keep_root=True),
    })
    return docs, frames


def _plan_nodes(node, seen: set | None = None):
    """Every physical node once, through AQE wrappers, query stages and
    caches (a cached plan read by two branches is visited once)."""
    seen = set() if seen is None else seen
    if node.id() in seen:
        return
    seen.add(node.id())
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan(), seen)
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan(), seen)
        return
    if cls == "InMemoryTableScanExec":
        yield from _plan_nodes(node.relation().cachedPlan(), seen)
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), seen)


def _metric(node, name: str) -> int:
    metrics = node.metrics()
    return metrics.apply(name).value() if metrics.contains(name) else 0


def _outputs(node) -> set:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def plan_counts(plan) -> dict:
    """SQL metrics of an executed plan: bytes to and from the Python
    workers, and the skew route's traffic. Routed docs are the rows of the
    reassembly aggregate (the one that outputs the collected chunk list
    ``cs``); chunks are the rows the Python kernel returned with a
    ``chunk_id``. Both read 0 when the plan has no skew route."""
    out = {"python_sent": 0, "python_received": 0, "skew_docs": 0,
           "skew_chunks": 0}
    for node in _plan_nodes(plan):
        out["python_sent"] += _metric(node, "pythonDataSent")
        out["python_received"] += _metric(node, "pythonDataReceived")
        names = _outputs(node)
        if "cs" in names and "Aggregate" in node.getClass().getSimpleName():
            out["skew_docs"] += _metric(node, "numOutputRows")
        if "chunk_id" in names:
            out["skew_chunks"] += _metric(node, "pythonNumRowsReceived")
    return out


def drain(df) -> tuple[float, int, dict]:
    """Run ``df`` to the end, discarding rows: (seconds, rows, the plan's
    counts from ``plan_counts``)."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    rows = plan.execute().count()
    dt = time.perf_counter() - t0
    return dt, rows, plan_counts(plan)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran, and tasks completed under a job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            st = tracker.getStageInfo(stage_id)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def fanout_problems(docs_in: int, oracle_net: int, rows_out: int) -> list:
    """Conservation at the fan-out: the rows it emits are its input docs
    plus the rows the oracle's fan-out adds for them (archive members kept,
    less members the guards drop and archive rows replaced by members)."""
    if docs_in + oracle_net == rows_out:
        return []
    return [f"conservation: {docs_in} docs in + {oracle_net} oracle fan-out "
            f"rows != {rows_out} rows out of explode_archives_df"]


# ---------------------------------------------------------------------------
# The traced run
# ---------------------------------------------------------------------------

def traced_run(spark, c: Corpus, out_dir: str, template: str | None,
               salt: int, seconds: float, tracer: Tracer, setups: list,
               outcomes: list) -> dict:
    """Rounds of (every prefix, untraced job, traced job) until ``seconds``
    have passed and at least MIN_ROUNDS ran; returns the per-layer metrics.
    Each job's check result is appended to ``outcomes``."""
    from extract_text_spark.checkpoint import run_extraction

    sc = spark.sparkContext
    docs_frame, frames = prefix_frames(spark, c, salt)
    plans: dict[str, dict] = {}
    counts: list[dict] = []
    untraced: list[float] = []
    # The input docs the job processes (for spans_resume, the odd buckets'),
    # and the rows the oracle's fan-out makes of them; read untimed.
    ids = ([r.doc_id for r in docs_frame().select("doc_id").collect()]
           if c.resume else list(c.fan_net))
    oracle_net = sum(c.fan_net[i] for i in ids)

    def fresh():
        prepare_output(c, out_dir, template)
        spark.catalog.clearCache()
        gc.collect()

    start, rnd = time.perf_counter(), 0
    while rnd < MIN_ROUNDS or time.perf_counter() - start < seconds:
        with tracer.span("round") as round_id:
            # prefixes first, so both jobs below run equally warm
            for name, build in frames.items():
                spark.catalog.clearCache()
                with tracer.span(f"prefix.{name}", round_id) as pid:
                    _dt, rows, plan = drain(build())
                plans[name] = dict(plan, rows=rows)
                tracer.spans[pid].update(plans[name])
            fan_problems = fanout_problems(len(ids), oracle_net,
                                           plans["fanout"]["rows"])

            fresh()
            t0 = time.perf_counter()
            try:
                m = run_job(spark, c, out_dir, salt)
                untraced.append(time.perf_counter() - t0)
                outcomes.append(check_output(c, out_dir, m))
            except Exception as exc:  # a failed job is counted, not fatal
                outcomes.append(
                    {"problems": [f"job raised {type(exc).__name__}: {exc}"]})

            fresh()
            group = f"jobbench-{tracer.run_id}-{rnd}"
            sc.setJobGroup(group, f"jobbench traced job {rnd}")
            try:
                with tracer.span("job", round_id) as job_id:
                    with tracer.span("job.input", job_id):
                        docs = input_docs(spark, c)
                    with tracer.span("job.run_extraction", job_id):
                        m = run_extraction(spark, docs, out_dir,
                                           num_buckets=NUM_BUCKETS,
                                           salt_partitions=salt, resume=True)
                sc.setLocalProperty("spark.jobGroup.id", None)
                rdds, mb = cached_storage(spark)
                counts.append({**job_counts(sc, group), "rdds_after": rdds,
                               "mb_after": mb})
                checked = check_output(c, out_dir, m)
                checked["problems"] += fan_problems
                if checked["rows_written"] != plans["fanout"]["rows"]:
                    checked["problems"].append(
                        f"conservation: the fan-out gave "
                        f"{plans['fanout']['rows']} rows, the job wrote "
                        f"{checked['rows_written']}")
                outcomes.append(checked)
            except Exception as exc:
                sc.setLocalProperty("spark.jobGroup.id", None)
                outcomes.append(
                    {"problems": [f"job raised {type(exc).__name__}: {exc}"]})
        rnd += 1

    P = {name: median(tracer.durations(f"prefix.{name}")) for name in frames}
    files = c.kind == "files"
    docs_prefix = "ingest" if files else "scan"
    parts = {
        "scan.s": P["scan"],
        "ingest.s": P["ingest"] - P["scan"] if files else 0.0,
        "fanout.s": P["fanout"] - P[docs_prefix],
        "kernel.s": P["kernel"] - P["fanout"],
        "salt.s": P["salt"] - P["kernel"],
        "skew.s": P["skew"] - P["salt"],
        "checkpoint.root_carry_s": P["root"] - P["skew"],
        "checkpoint.s": median(tracer.durations("job.run_extraction"))
        - P["root"],
    }
    job_s = median(tracer.durations("job"))
    ingest = plans["ingest"] if files else {"python_sent": 0,
                                             "python_received": 0}
    ingest_ms, kernel_ms = format_costs(c)

    m = dict(parts)
    m["ledger.residual_s"] = job_s - sum(parts.values())
    m["traced.job_s"] = job_s
    m["untraced.job_s"] = median(untraced)
    m["session.s"] = median([s["session_s"] for s in setups])
    m["session.warmup_s"] = median([s["warmup_s"] for s in setups])
    m["ingest.tasks"] = (frames["scan"]().rdd.getNumPartitions()
                         if files else 0)
    m["ingest.boundary_s"] = P["boundary"] - P["scan"] if files else 0.0
    m["ingest.kernel_s"] = sum(sum(v) for v in ingest_ms.values()) / 1e3
    for ext in FILE_EXTS:
        m[f"ingest.kernel_ms.{ext}"] = median(ingest_ms.get(ext, []))
    m["fanout.net_rows"] = plans["fanout"]["rows"] - len(ids)
    m["skew.docs_routed"] = plans["skew"]["skew_docs"]
    m["skew.chunks"] = plans["skew"]["skew_chunks"]
    m["kernel.arrow_mb_in"] = (plans["kernel"]["python_sent"]
                               - ingest["python_sent"]) / 1e6
    m["kernel.arrow_mb_out"] = (plans["kernel"]["python_received"]
                                - ingest["python_received"]) / 1e6
    m["kernel.cpu_s"] = sum(sum(v) for v in kernel_ms.values()) / 1e3
    for kind in KERNEL_KINDS:
        m[f"kernel.cpu_ms.{kind}"] = median(kernel_ms.get(kind, []))
    for key in ("jobs", "stages", "tasks"):
        m[key] = median([cnt[key] for cnt in counts])
    m["cache.rdds_after"] = median([cnt["rdds_after"] for cnt in counts])
    m["cache.mb_after"] = median([cnt["mb_after"] for cnt in counts])
    m["checkpoint.summary_mismatches"] = sum(
        1 for o in outcomes if o.get("summary_mismatch"))
    return m
