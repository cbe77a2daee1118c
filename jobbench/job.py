"""The submit-shaped extraction job, its output check and its probes.

``run_job`` is ``tools/submit_extract.py``'s body without the session and
the print: input -> (``binaryFile`` -> ``named_binary_df`` ->
``ingest_bytes_df`` + the same persist, for raw files) ->
``checkpoint.run_extraction``. Everything else here runs outside the timed
window: the output check, the storage and RSS probes, and the environment
record.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

from corpora import (
    NUM_BUCKETS,
    Corpus,
    digest_rows,
    file_uri_prefix,
    local_id,
    row_hash,
)

SETUPS = 3              # set-up repeats per run; setup_s is their median


def salt_partitions(cores: int) -> int:
    return 4 * cores    # as the headline (bench.py) salts


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def launch_jvm() -> float:
    """Start the Py4J gateway JVM before any timed set-up, so every set-up
    repeat measures the same thing: a fresh SparkContext in a live JVM."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    SparkContext._ensure_initialized()
    return time.perf_counter() - t0


def new_session(cores: int):
    from extract_text_spark.session import get_spark

    spark = get_spark(app_name="jobbench", master=f"local[{cores}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_once(cores: int, c: Corpus) -> tuple[object, dict]:
    """Session start + Python-worker warm-up + corpus check, timed apart."""
    # Defined here so cloudpickle ships it by value: the workers cannot
    # import this benchmark's modules.
    def _warm_workers(batches):
        # Import what the kernels import, so the first timed task does not.
        import extract_text_spark.extractors  # noqa: F401
        import extract_text_spark.ingest  # noqa: F401
        yield from batches

    t0 = time.perf_counter()
    spark = new_session(cores)
    t1 = time.perf_counter()
    spark.range(0, cores, 1, cores).mapInPandas(
        _warm_workers, "id long").count()
    t2 = time.perf_counter()
    check_corpus(spark, c)
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "warmup_s": t2 - t1,
                   "corpus_check_s": t3 - t2, "setup_s": t3 - t0}


def check_corpus(spark, c: Corpus) -> None:
    """The input Spark sees is the input the oracle saw."""
    if c.kind == "files":
        n = spark.read.format("binaryFile").load(c.input_path) \
            .select("length").count()
    else:
        n = spark.read.parquet(c.input_path).count()
    if n != c.docs_in:
        raise RuntimeError(f"corpus check: {n} input rows, expected {c.docs_in}")


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway JVM exits at stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# The job
# ---------------------------------------------------------------------------

def input_docs(spark, c: Corpus, persist: bool = True):
    """The job's input DataFrame, built the way submit_extract builds it."""
    if c.kind == "files":
        from pyspark import StorageLevel

        from extract_text_spark.ingest import ingest_bytes_df, named_binary_df
        docs = ingest_bytes_df(named_binary_df(
            spark.read.format("binaryFile").load(c.input_path)))
        return docs.persist(StorageLevel.MEMORY_AND_DISK) if persist else docs
    return spark.read.parquet(c.input_path)


def run_job(spark, c: Corpus, out_dir: str, salt: int) -> dict:
    from extract_text_spark.checkpoint import run_extraction

    docs = input_docs(spark, c)
    return run_extraction(spark, docs, out_dir, num_buckets=NUM_BUCKETS,
                          salt_partitions=salt, resume=True)


# The runtime SQL confs the reference job depends on, pinned to literals so
# that a change to the engine's session (session.py, config.py) moves the
# job and not the reference.
REFERENCE_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "static",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
}


@contextmanager
def pinned_conf(spark, conf: dict):
    """Set runtime SQL confs for the block, then restore the session's
    values (each key is a registered conf, so ``get`` always has one)."""
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def reference_job(spark, c: Corpus, ref_dir: str, salt: int) -> float:
    """Seconds of an engine-free job of the same shape over the same input:
    scan, an Arrow round trip through Python workers, a salt shuffle and a
    bucket-partitioned parquet write, under REFERENCE_CONF. Timed beside
    each job, it measures how fast this host runs Spark at that moment (see
    README.md)."""
    from pyspark.sql import functions as F

    key, payload = (("path", "content") if c.kind == "files"
                    else ("doc_id", "spans"))

    def sizes(batches):     # nested: pickled by value
        for b in batches:
            yield b[[key]].assign(n=b[payload].map(len))

    shutil.rmtree(ref_dir, ignore_errors=True)
    with pinned_conf(spark, REFERENCE_CONF):
        t0 = time.perf_counter()
        src = (spark.read.format("binaryFile").load(c.input_path)
               if c.kind == "files" else spark.read.parquet(c.input_path))
        hashed = F.pmod(F.xxhash64(key), F.lit(salt))
        (src.select(key, payload)
         .mapInPandas(sizes, f"{key} string, n long")
         .repartition(salt, hashed)
         .withColumn("bucket", F.pmod(F.xxhash64(key), F.lit(NUM_BUCKETS)))
         .write.partitionBy("bucket").parquet(ref_dir))
        return time.perf_counter() - t0


def warm_up(spark, c: Corpus, out_dir: str, template: str | None,
            salt: int, ref_dir: str) -> None:
    """Untimed, so the JIT, codegen caches and Python workers are warm
    before timing: for the resume workload, the killed run that writes its
    half-done output (the same pipeline over half the input), else one job
    as timed; then one reference job."""
    if template is not None:
        build_resume_template(spark, c, template, salt)
    else:
        prepare_output(c, out_dir, None)
        run_job(spark, c, out_dir, salt)
    spark.catalog.clearCache()
    reference_job(spark, c, ref_dir, salt)


def prepare_output(c: Corpus, out_dir: str, template: str | None) -> None:
    """Untimed per-job set-up: an empty output dir, or for the resume
    workload a copy of the half-manifested template."""
    shutil.rmtree(out_dir, ignore_errors=True)
    if template is not None:
        shutil.copytree(template, out_dir)


def resumed_bucket(bucket):
    """The buckets a resumed run still has to do: the odd ones. The killed
    run finished the even ones; spans_resume's one whale hashes to bucket
    5, so the timed half takes the skew route."""
    return bucket % 2 == 1


def build_resume_template(spark, c: Corpus, template: str, salt: int) -> None:
    """The output of a run killed after finishing the even buckets."""
    from extract_text_spark.checkpoint import run_extraction

    shutil.rmtree(template, ignore_errors=True)
    run_extraction(spark, input_docs(spark, c), template,
                   num_buckets=NUM_BUCKETS, salt_partitions=salt,
                   bucket_filter=lambda b: ~resumed_bucket(b))


# ---------------------------------------------------------------------------
# Output check (outside the timed window)
# ---------------------------------------------------------------------------

def _read_dir(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def read_output(c: Corpus, out_dir: str) -> tuple[dict, dict, str]:
    """(data columns, manifest columns, order-free data digest)."""
    data = _read_dir(os.path.join(out_dir, "data"))
    cols = data.select(["doc_id", "status", "spans", "n_spans", "bucket"]) \
        .to_pydict()
    prefix = file_uri_prefix(c.input_path) if c.kind == "files" else ""
    digest = digest_rows(
        row_hash(local_id(d, prefix), s, sp)
        for d, s, sp in zip(cols["doc_id"], cols["status"], cols["spans"]))
    man = _read_dir(os.path.join(out_dir, "_manifest")).to_pydict()
    return cols, man, digest


def check_output(c: Corpus, out_dir: str, metrics: dict) -> dict:
    """Check what the job wrote. ``problems`` is empty when it is right:

    * data digest == oracle digest (order-free, over doc_id/status/spans);
    * manifest: one done row per bucket, its sums equal the written data.

    The fan-out's row conservation is checked by the traced run, which
    counts the rows going into and out of the fan-out (ledger.py).

    ``rows_written`` counts the rows of the buckets this job processed.
    ``summary_mismatch`` records, without failing the job, whether the
    summary ``run_extraction`` returned disagrees with those rows (a known
    defect on resumed salted runs: see README.md)."""
    problems = []
    cols, man, digest = read_output(c, out_dir)
    if digest != c.digest:
        problems.append("data digest differs from the oracle")
    n_rows = len(cols["doc_id"])

    buckets = [int(b) for b in man["bucket"]]
    if len(set(buckets)) != len(buckets) or set(man["status"]) != {"done"}:
        problems.append("manifest: duplicate or unfinished bucket rows")
    if set(buckets) != {int(b) for b in cols["bucket"]}:
        problems.append("manifest buckets differ from data buckets")
    if sum(man["n_docs"]) != n_rows:
        problems.append(f"manifest n_docs {sum(man['n_docs'])} != {n_rows} rows")
    if sum(man["n_spans"]) != sum(cols["n_spans"]):
        problems.append("manifest n_spans differs from the data")

    written = sum(1 for b in cols["bucket"]
                  if not c.resume or resumed_bucket(int(b)))
    return {"problems": problems, "rows_written": written,
            "summary_mismatch": metrics.get("docs") != written,
            "summary": {k: metrics.get(k) for k in ("buckets", "docs", "spans")}}


def disk_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def cached_storage(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory + on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return spark.sparkContext._jsc.getPersistentRDDs().size(), mb


# ---------------------------------------------------------------------------
# Memory of the JVM and its Python workers
# ---------------------------------------------------------------------------

def _process_tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss(pid: int) -> int:
    """Resident bytes of one process (0 once it has gone). statm is a
    counter read; smaps would walk the page tables and stall the JVM."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class MemorySampler:
    """Peak summed RSS of the JVM and its Python workers, sampled on a
    thread for as long as the context is open."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root, self.interval = root_pid, interval
        self.peak = {"rss": 0, "jvm_rss": 0, "workers_rss": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm = _rss(self.root)
        workers = sum(_rss(p) for p in _process_tree(self.root)[1:])
        for key, value in (("rss", jvm + workers), ("jvm_rss", jvm),
                           ("workers_rss", workers)):
            self.peak[key] = max(self.peak[key], value)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ---------------------------------------------------------------------------
# Environment record
# ---------------------------------------------------------------------------

def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _source_digest(root: str) -> str:
    """Digest of the engine sources, for checkouts that are not git trees."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "extract_text_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


def environment(spark, root: str, cores: int, salt: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(), "cores_used": cores,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "salt_partitions": salt, "num_buckets": NUM_BUCKETS,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "arrow_max_records_per_batch":
            conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "arrow_max_bytes_per_batch":
            conf.get("spark.sql.execution.arrow.maxBytesPerBatch"),
        "driver_memory": conf.get("spark.driver.memory"),
        "git_commit": _git_commit(root), "source_digest": _source_digest(root),
    }


class HostProbe:
    """Steal and loadavg over a window, with bench.py's counters."""

    def __init__(self):
        from bench import _HZ, _steal_jiffies

        self._hz, self._steal = _HZ, _steal_jiffies

    def start(self) -> tuple:
        return os.getloadavg()[0], self._steal(), time.monotonic()

    def stop(self, started: tuple) -> dict:
        load0, st0, t0 = started
        dt = max(time.monotonic() - t0, 1e-9)
        return {"load_start": round(load0, 2),
                "load_end": round(os.getloadavg()[0], 2),
                "stolen_cores": round((self._steal() - st0) / (self._hz * dt), 3)}


def median(values) -> float:
    return statistics.median(values) if values else 0.0
