#!/usr/bin/env python3
"""Extraction-job benchmark: one submit-shaped job at a time, end to end.

Usage (from the repository root):

    python3 jobbench/run.py --workload files_small --seed 1 --seconds 4 \
        --trace 0

Each run builds the workload's input from ``--seed`` (cached under
``.jobbench_work/``), computes the single-process oracle digest, starts one
``local[nproc]`` session (set-up repeated ``SETUPS`` times; ``setup_s`` is
the median), runs one untimed warm-up job, then timed jobs, one at a time,
until ``--seconds`` have passed (at least ``MIN_JOBS``). Each timed job runs
between two runs of an engine-free reference job; ``job_rel`` is the job's
wall time over theirs. Every job's output is checked against the oracle
outside its timed window. ``--trace 1`` replaces the timed jobs by the layer
ledger (ledger.py). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; wall-clock figures go to
stderr, and the full record (the environment, every job, the corpus) to
``.jobbench_work/results/``.
See jobbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".jobbench_work")
MIN_JOBS = 1


def _environ() -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    the executors' Python workers import the engine from it."""
    tmp = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path[:0] = [ROOT, HERE]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _result(outcomes: list[dict], metrics: dict, units: dict) -> dict:
    failed = sum(1 for o in outcomes if o["problems"])
    return {
        "correct": failed == 0 and bool(outcomes),
        "attempted": len(outcomes), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def _timed_job(spark, c, out_dir, template, salt, probe, job) -> dict:
    """One job between two reference jobs (its ``ref_s`` is their mean),
    with untimed set-up before it and probes and the check after it."""
    def reference() -> float:
        spark.catalog.clearCache()
        return job.reference_job(spark, c, out_dir + "-ref", salt)

    rec: dict = {}
    ref_before = reference()
    job.prepare_output(c, out_dir, template)
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    gc.collect()
    host = probe.start()
    try:
        t = time.perf_counter()
        m = job.run_job(spark, c, out_dir, salt)
        rec["job_s"] = time.perf_counter() - t
        rec.update(probe.stop(host))
        rec["rdds_after"], rec["cached_mb_after"] = job.cached_storage(spark)
        rec["out_bytes"] = (job.disk_bytes(f"{out_dir}/data")
                            + job.disk_bytes(f"{out_dir}/_manifest"))
        rec.update(job.check_output(c, out_dir, m))
    except Exception as exc:  # a failed job is counted, not fatal
        rec["problems"] = [f"job raised {type(exc).__name__}: {exc}"]
    rec["ref_s"] = (ref_before + reference()) / 2
    return rec


def _end_to_end(c, setups: list, jobs: list, med) -> tuple[dict, dict]:
    """(the bounded metrics, the wall-clock ones for the record)."""
    timed = [r for r in jobs if "rows_written" in r]   # ran and was read
    job_s = med([r["job_s"] for r in timed]) if timed else float("nan")
    bounded = {
        "job_rel": med([r["job_s"] / r["ref_s"] for r in timed])
        if timed else float("nan"),
        "setup_s": med([s["setup_s"] for s in setups]),
        "ok_frac": 1 - sum(1 for r in jobs if r["problems"]) / len(jobs),
        "out_bytes_per_in_byte":
            med([r["out_bytes"] for r in timed]) / c.payload_bytes
            if timed else float("nan"),
    }
    wall = {
        "job_s": job_s,
        "ref_s": med([r["ref_s"] for r in timed]) if timed else float("nan"),
        "docs_per_s": med([r["rows_written"] for r in timed]) / job_s
        if timed else float("nan"),
        "input_mb_per_s": c.payload_bytes / 1e6 / job_s,
    }
    return bounded, wall


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environ()
    try:
        import corpora
        import job
        import ledger
    except ImportError as exc:
        print(f"jobbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads:
        print(f"jobbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads)}", file=sys.stderr)
        return 2
    e2e_units, layer_units = ({m["name"]: m["unit"] for m in spec[key]}
                              for key in ("end_to_end", "per_layer"))
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    t0 = time.perf_counter()
    c = corpora.build(args.workload, args.seed, WORK)
    prep_s = time.perf_counter() - t0
    cores = _cores()
    salt = job.salt_partitions(cores)
    out_dir = os.path.join(WORK, "out", run_id)
    template = out_dir + "-template" if c.resume else None

    jvm_s = job.launch_jvm()
    spark = None
    try:
        # Memory is sampled over the whole run: its peak is the run's.
        with job.MemorySampler(job.jvm_pid()) as mem:
            setups = []
            for _ in range(job.SETUPS):
                if spark is not None:
                    spark.stop()
                spark, timing = job.setup_once(cores, c)
                setups.append(timing)
            # in the last session, so its Python workers are warm too
            t = time.perf_counter()
            job.warm_up(spark, c, out_dir, template, salt, out_dir + "-ref")
            warm_s = time.perf_counter() - t
            env = job.environment(spark, ROOT, cores, salt)

            jobs: list[dict] = []
            if args.trace:
                tracer = ledger.Tracer(args.workload, run_id)
                metrics = ledger.traced_run(spark, c, out_dir, template, salt,
                                            args.seconds, tracer, setups, jobs)
                tracer.write(os.path.join(WORK, "traces", run_id + ".json"))
                units = layer_units
            else:
                probe = job.HostProbe()
                start = time.perf_counter()
                while (time.perf_counter() - start < args.seconds
                       or len(jobs) < MIN_JOBS):
                    jobs.append(_timed_job(spark, c, out_dir, template, salt,
                                           probe, job))
                units = e2e_units
        wall: dict = {}
        if not args.trace:
            metrics, wall = _end_to_end(c, setups, jobs, job.median)
        else:
            metrics.update({f"mem.peak_{k}_mb": v / 1e6
                            for k, v in mem.peak.items()})
        result = _result(jobs, metrics, units)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", run_id + ".json"), "w") as fh:
            json.dump({"result": result, "environment": env,
                       "corpus": c.describe(), "prep_s": prep_s,
                       "wall": wall,
                       "jvm_launch_s": jvm_s, "warm_job_s": warm_s,
                       "peak_mb": {k: v / 1e6 for k, v in mem.peak.items()},
                       "setups": setups,
                       "jobs": jobs}, fh, indent=1)
    finally:
        if spark is not None:
            job.stop_session(spark)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(out_dir + "-ref", ignore_errors=True)
        if template is not None:
            shutil.rmtree(template, ignore_errors=True)

    for rec in jobs:
        for problem in rec["problems"]:
            print(f"jobbench: {run_id}: {problem}", file=sys.stderr)
        if rec.get("summary_mismatch"):
            print(f"jobbench: {run_id}: run_extraction returned "
                  f"{rec['summary']} for {rec['rows_written']} rows written",
                  file=sys.stderr)
    if wall:
        print(f"jobbench: {run_id}: wall " + ", ".join(
            f"{k}={v:.4g}" for k, v in wall.items()), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
