"""Shared plumbing for the perfbench workloads: session sizing, the
closed-loop timer, peak-RSS sampling of the driver process tree and the
summary statistics every workload reports.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
current directory (the checkout root): Spark local dirs, the warehouse,
JVM temp files, generated inputs and op outputs. The directory is wiped
at the start of every run, so no input is reused across runs.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from geodiff_spark.changeset import TableInfo, bit_defined

WORK_DIR_NAME = ".perfbench_work"

#: The crawl pages table every workload derives its inputs from.
PAGES_COLS = ("url", "warc_ts", "html", "text", "lang", "lat", "lon")
PAGES_INFO = TableInfo(name="pages", columns=PAGES_COLS, pk=("url",),
                       timestamp_cols=("warc_ts",))

#: Driver heap for the single driver JVM. Override with PERFBENCH_DRIVER_MEM.
DEFAULT_DRIVER_MEM = "2g"


def total_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def local_cores() -> int:
    """local[N] with N = nproc, capped at 4 (the box this benchmark is
    sized for has 4 cores)."""
    return max(1, min(4, os.cpu_count() or 1))


def fresh_work_dir(root: str) -> str:
    work = os.path.join(root, WORK_DIR_NAME)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "data", "out"):
        os.makedirs(os.path.join(work, sub))
    return work


def session_confs(work: str, cores: int) -> dict[str, str]:
    """Confs layered on top of geodiff_spark.session.ENGINE_CONFS."""
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.default.parallelism": str(cores),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.python.worker.reuse": "true",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str, cores: int):
    """Start the one driver process for this run on local[cores].

    Returns (spark, seconds, confs). The driver heap comes from
    PERFBENCH_DRIVER_MEM (default 2g), never from geodiff_spark's 48g
    default."""
    from geodiff_spark.session import get_spark

    mem = os.environ.get("PERFBENCH_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = mem
    os.environ["SPARK_MASTER"] = f"local[{cores}]"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too) keeps its temp files and
    # perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    confs = session_confs(work, cores)
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=2 * cores, extra_confs=confs
    )
    spark.range(1).count()  # first job: executors + Python worker up
    secs = time.perf_counter() - t0
    recorded = {"spark.master": f"local[{cores}]", "spark.driver.memory": mem,
                "JAVA_TOOL_OPTIONS": os.environ["JAVA_TOOL_OPTIONS"]}
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.memory.fraction",
        "spark.memory.storageFraction",
    ):
        recorded[k] = spark.conf.get(k, None)
    recorded.update(confs)
    return spark, secs, recorded


def storage_memory_bytes(spark) -> int:
    """Unified (execution + storage) memory of the driver's block
    manager: the pool persisted relations can occupy."""
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getExecutorMemoryStatus()
    it = infos.values().iterator()
    total = 0
    while it.hasNext():
        total += int(it.next()._1())
    return total


def persisted_bytes(spark) -> int:
    """Memory + disk bytes of every currently persisted RDD/relation."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += int(info.memSize()) + int(info.diskSize())
    return total


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


# --------------------------------------------------------------------------
# peak memory of the driver process tree (python driver + JVM + python workers)
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # pid (comm) state ppid ... ; comm may hold spaces/parens
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    """Proportional set size: a page shared by n processes counts 1/n,
    so the Python workers forked from pyspark's daemon are not counted
    once per worker for the pages they share with it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_bytes(pid)
        stack.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Samples the summed resident memory (PSS) of this process's tree
    every ``period`` seconds on a daemon thread; ``peak`` is the largest
    sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# closed loop + statistics
# --------------------------------------------------------------------------

@dataclass
class LoopResult:
    durations: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    wall: float = 0.0


def closed_loop(op, seconds: float, *, round_len: int = 1) -> LoopResult:
    """One client: issue the next op only after the previous returned.
    ``op(i)`` returns the op's kind label. There is no untimed warm-up
    (the run budget has no room for one), so the first round pays JIT
    compilation and codegen, the same way on every run. The loop stops
    at the first multiple of ``round_len`` ops after ``seconds``, so
    every op kind of a rotating mix is sampled equally often."""
    res = LoopResult()
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < seconds or i % round_len:
        t0 = time.perf_counter()
        kind = op(i)
        res.durations.append(time.perf_counter() - t0)
        res.kinds.append(kind)
        i += 1
    res.wall = time.perf_counter() - start
    return res


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n_samples). With n sorted samples the
    value is the (n-10)-th smallest, i.e. percentile 100*(n-10)/n. With
    fewer than eleven samples no percentile qualifies: the maximum is
    returned with percentile 100 so the record shows the shortfall."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def fmt_bytes(n: float) -> str:
    if n <= 0:
        return "0 B"
    units = ("B", "KiB", "MiB", "GiB")
    i = min(int(math.log(n, 1024)), len(units) - 1)
    return f"{n / 1024 ** i:.1f} {units[i]}"


# --------------------------------------------------------------------------
# checks and per-op aggregation
# --------------------------------------------------------------------------

def same(a, b, cols) -> tuple[bool, str]:
    """Multiset equality of ``a`` and ``b`` over ``cols``, in one job:
    rows of ``a`` count +1, rows of ``b`` -1, and every group of equal
    rows must sum to 0."""
    n = F.col("_n")
    diff = (a.select(*cols, F.lit(1).alias("_n"))
            .unionByName(b.select(*cols, F.lit(-1).alias("_n")))
            .groupBy(*cols).agg(F.sum(n).alias("_n")))
    extra, missing = diff.agg(F.sum(F.when(n > 0, n)), F.sum(F.when(n < 0, -n))).first()
    extra, missing = extra or 0, missing or 0
    return extra == 0 and missing == 0, f"{extra} unexpected rows, {missing} missing rows"


def guard(name, fn) -> tuple[str, bool, str]:
    """Run one check; an exception fails the check with its message."""
    try:
        ok, detail = fn()
    except Exception as e:  # the check's verdict, not a harness crash
        first = str(e).strip().splitlines()[0] if str(e).strip() else ""
        return name, False, f"{type(e).__name__}: {first}"[:300]
    return name, ok, detail


def med(per_op: dict[int, float], ops: list[int]) -> float:
    return median([per_op.get(i, 0.0) for i in ops]) if ops else 0.0


def med_count(tr, metric: str, ops: list[int]) -> float:
    return median([tr.counts.get((i, metric), 0.0) for i in ops]) if ops else 0.0


def changed_user_bytes(cs) -> int:
    """Bytes of changed user data in a changeset table: every defined new
    value of inserts and updates (strings and blobs by length, numbers
    and timestamps 8 bytes), the PK of deletes."""
    def size(side: str, c: str):
        if cs.df.schema[f"{side}_{c}"].dataType.typeName() in ("string", "binary"):
            return F.coalesce(F.octet_length(F.col(f"{side}_{c}")), F.lit(0))
        return F.lit(8)

    cols = cs.info.columns
    new = [F.when(bit_defined(F.col("new_bits"), i), size("new", c)).otherwise(F.lit(0))
           for i, c in enumerate(cols)]
    pk = [size("old", c) for c in cs.info.pk]
    row = F.when(F.col("op") == "delete", sum(pk[1:], pk[0])).otherwise(sum(new[1:], new[0]))
    return int(cs.df.select(F.sum(row)).first()[0] or 0)
