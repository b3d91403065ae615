"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: every knob here is
one that transfers (AQE, shuffle partitions, Arrow batching); nothing relies
on single-JVM behavior.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# reduce width of an interactive top-k's chunk exchange — Spark's one
# kernel shape (query/wand.py _run_chunks), taken by a filtered query and
# a slice larger than one file open; a narrow unfiltered slice runs on
# the driver and starts no job. Each chunk
# emits at most n_keep rows, so a handful of reduce tasks carries the whole
# result, while a 32-partition reduce costs 32 task launches PER QUERY that
# fight each other under concurrency. Measured (local[32]): sp=4 vs session
# default 32 is seq p50 0.89->0.72 s AND 8-thread qps 2.5->4.3 at 200k
# docs; at 2M docs qps 2.2->3.4 for ~0.1 s of sequential p50.
INTERACTIVE_SHUFFLE_PARTITIONS = 4

# scan-split shape for interactive top-k jobs: a query reads a PRUNED slice
# of the postings (its terms' blocks), so forcing the scan to cluster-width
# parallelism (spark.sql.files.minPartitionNum defaults to the session's
# default parallelism) just pays tens of task launches per query. Interactive
# scans split by BYTES instead (large maxPartitionBytes, guide §6) with a
# small data-independent parallelism floor — derived from the slice size,
# not the core count, so the same values hold on a 4-core laptop and a
# 1000-core cluster. Measured at 200k docs / local[32]: p50 0.49-0.72 s ->
# 0.33-0.51 s.
INTERACTIVE_SCAN_MIN_SPLITS = "8"
INTERACTIVE_SCAN_MAX_PARTITION_BYTES = "512m"

_CONF_LOCK = threading.Lock()
# id(spark) -> {"q": depth, "b": depth, "aqe": saved, "sp": saved, ...}
_CONF_STATE: dict[int, dict] = {}


def _apply_conf(spark, st: dict) -> None:
    """Effective SQL conf under the priority rule: BATCH WORK WINS.

    Interactive settings (AQE off, narrow reduces, byte-sized scan splits)
    apply only while queries are in flight AND no batch job is — a
    concurrent build's terabyte shuffles must never run with 4 reduce
    partitions and no AQE skew handling just because a top-k overlapped
    it. When both are active, or neither, the session's own values hold."""
    interactive = st["q"] > 0 and st["b"] == 0
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        "false" if interactive else (st["aqe"] or "true"),
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(INTERACTIVE_SHUFFLE_PARTITIONS) if interactive else (st["sp"] or "200"),
    )
    if interactive:
        spark.conf.set(
            "spark.sql.files.minPartitionNum", INTERACTIVE_SCAN_MIN_SPLITS
        )
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            INTERACTIVE_SCAN_MAX_PARTITION_BYTES,
        )
    else:
        if st.get("mpn") is not None:
            spark.conf.set("spark.sql.files.minPartitionNum", st["mpn"])
        else:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", st.get("mpb") or "128m"
        )


class _scoped_conf:
    """Base: refcounted enter/exit on one of the two depth counters."""

    _key: str

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        with _CONF_LOCK:
            st = _CONF_STATE.setdefault(
                id(self.spark), {"q": 0, "b": 0, "aqe": None, "sp": None}
            )
            if st["q"] + st["b"] == 0:  # first guard in: snapshot session
                st["aqe"] = self.spark.conf.get(
                    "spark.sql.adaptive.enabled", "true"
                )
                st["sp"] = self.spark.conf.get(
                    "spark.sql.shuffle.partitions", "200"
                )
                st["mpn"] = self.spark.conf.get(
                    "spark.sql.files.minPartitionNum", None
                )
                st["mpb"] = self.spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", "128m"
                )
            st[self._key] += 1
            _apply_conf(self.spark, st)
        return self

    def __exit__(self, *exc):
        with _CONF_LOCK:
            st = _CONF_STATE[id(self.spark)]
            st[self._key] -= 1
            _apply_conf(self.spark, st)
        return False


class interactive_sql_conf(_scoped_conf):
    """Scope for an interactive top-k's own actions: AQE off + narrow
    reduces (see INTERACTIVE_SHUFFLE_PARTITIONS), measured ~2x on both
    p95 and concurrent qps. Yields to batch_sql_conf when both overlap."""

    _key = "q"


class batch_sql_conf(_scoped_conf):
    """Scope for batch jobs (index builds, compaction): asserts the
    session's own AQE/shuffle settings even if interactive queries are
    concurrently holding their narrow conf — batch shuffles sized for
    terabytes must win the shared-session conf."""

    _key = "b"


def get_spark(
    app_name: str = "share_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # UDF worker processes must be single-threaded: Spark already runs one
    # worker per core, so per-worker thread pools (pyarrow compute, BLAS,
    # OpenMP) oversubscribe the box N_workers * N_threads and *slow down*
    # wide stages. Exported here so local-mode workers inherit them.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "ARROW_NUM_THREADS",
        "POLARS_MAX_THREADS",
    ):
        os.environ.setdefault(var, "1")
    # make share_spark importable in Python UDF worker processes (the
    # local-mode analog of `spark-submit --py-files share_spark.zip`)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE skew-join handling: free mitigation for join-side skew; the
        # groupBy(term) head-term skew is handled explicitly in index/build.py
        # via range partitioning (see SURVEY.md §4).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python workers fork from share_spark.daemon (importable: the repo
        # root is on PYTHONPATH above). Stock workers call
        # importlib.invalidate_caches() on every task, and before Python
        # 3.13 that re-reads pyspark.zip's 1,328-entry directory once per
        # zipimporter on it, 16 of them: 0.13-0.32 s of each 0.26-0.44 s
        # top-k task whose kernel ran 9-36 ms. The daemon re-reads an
        # archive only when it changed on disk.
        .config("spark.python.daemon.module", "share_spark.daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd parquet output: 27% smaller index files than snappy (257 vs
        # 353 MB at 500k docs) at identical build wall and identical query
        # latency (wand p50/p95 and serve-tier percentiles measured
        # unchanged; fewer bytes through the page cache). At 100 TB this is
        # the difference between the index fitting hot storage or not.
        # Read side is codec-agnostic (per-column-chunk footer metadata),
        # so existing snappy indexes stay readable.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        # zstd shuffle/broadcast compression: the posting shuffle moves
        # highly-compressible (term, doc_id, tf, dl, pos_bin) rows, and the
        # build is memory-bandwidth-bound long before it is CPU-bound —
        # fewer bytes through the shuffle is a >2x build-wall win measured
        # A/B vs lz4 (500k docs, local[32], interleaved best-of: 31s vs
        # 73s). Same tradeoff holds on network shuffle at cluster scale.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        # ...but zstd's default 32k stream buffer wrecks the QUERY tail:
        # an interactive top-k opens thousands of tiny shuffle streams and
        # pays per-stream setup each time (measured p95 4.3s vs lz4 1.3s on
        # the same index). 512k buffers + the buffer pool restore p95 to
        # 1.4s while keeping the build-side win.
        .config("spark.io.compression.zstd.bufferSize", "512k")
        .config("spark.io.compression.zstd.bufferPool.enabled", "true")
        # FAIR lets concurrent queries' stages interleave (a search tier
        # serves many queries at once; FIFO would serialize whole jobs)
        .config("spark.scheduler.mode", "FAIR")
        # ParallelGC beats G1 ~4x on this batch workload at high thread
        # counts (measured: 500k-doc index build at local[32] 117s -> 30s):
        # G1's concurrent marking burns cores the tasks need. Throughput
        # collector is the right default for non-latency-sensitive batch.
        # ...but cap the young generation: with a 48g heap the default eden
        # grows to ~16g and SINGLE young collections take 2.2-7.5 s
        # (gc-logged), landing randomly on interactive queries — the r3
        # query_p95 regression to 4.4 s. MaxNewSize=3g keeps young pauses
        # sub-100ms (measured p95 4.4s -> 1.1-1.4s, max 1.6s) and the
        # build got slightly FASTER (23.3s -> 20.5s; less survivor copying
        # per collection). A/B'd against G1 (build +33%, p95 1.7s) and ZGC
        # (build +130%): ParallelGC+MaxNewSize wins on both axes.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:MaxNewSize=3g",
            ),
        )
    )
    # shuffle/spill scratch: prefer tmpfs when present — local-mode shuffles
    # are disk-bound otherwise and stop scaling with cores (on a real
    # cluster this is the per-node NVMe scratch, configured by the platform)
    scratch = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if scratch is None and os.path.isdir("/dev/shm"):
        scratch = "/dev/shm/spark_local"
        os.makedirs(scratch, exist_ok=True)
        _sweep_orphaned_scratch(scratch)
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _sweep_orphaned_scratch(scratch: str) -> None:
    """Delete shuffle scratch left by DEAD JVMs.

    The tmpfs scratch is RAM: a SIGKILLed driver (test timeout, OOM
    killer) leaks its spark-*/blockmgr-* dirs there, and across runs the
    leaks accumulate until the box has no memory left — observed 93 GB of
    dead scratch starving live jobs. Spark only cleans its OWN dirs on
    graceful shutdown, so sweep at session start: when no java process is
    alive, every entry is orphaned. With ANY java alive we leave
    everything (cannot attribute dirs to pids) — the sweep is a
    best-effort janitor, not a correctness mechanism."""
    import shutil
    import subprocess

    try:
        alive = subprocess.run(
            ["pgrep", "-c", "java"], capture_output=True, text=True
        )
        if alive.stdout.strip() not in ("", "0"):
            return
        for name in os.listdir(scratch):
            shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    except Exception:
        pass  # never let the janitor break session startup
