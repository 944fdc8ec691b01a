"""Shared pieces: session start, percentiles, RSS sampling, run identity."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: local cores Spark may use; fixed so a run means the same on any host
CORES = 4
DRIVER_MEM = "2g"


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """Benchmark-only session settings: every file Spark, the JVM and the
    Python workers write stays under ``run_dir``. Traced runs also keep
    Spark's event log, the source of the per-stage metrics."""
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = os.path.join(run_dir, "eventlog")
    return conf


def prepare_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Environment the engine reads, set before the first session."""
    for sub in ("spark-local", "warehouse", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Python workers import the engine package from the checkout
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    return session_conf(run_dir, trace)


def start_session(conf: dict[str, str]):
    from amazon_kinesis_analytics_streaming_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the session is usable, not just created
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM
    (and with it the Python workers it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def percentile(values: list[float], q: int) -> float | None:
    """The median, or a higher ``q``-th percentile only when at least ten
    samples lie beyond it (a tail figure resting on fewer says nothing)."""
    if not values:
        return None
    if q == 50:
        return statistics.median(values)
    v = statistics.quantiles(values, n=100, method="inclusive")[q - 1]
    return v if sum(1 for x in values if x > v) >= 10 else None


def median(values: list[float]) -> float:
    return statistics.median(values)


def bench_sha() -> str:
    """Content hash of the benchmark's own files (the checkout it runs in
    is not a git repository): git-style blob hashes of every file under
    the benchmark directory plus BENCHMARK.json, hashed in path order."""
    files = [os.path.join(ROOT, "BENCHMARK.json")]
    for d, subdirs, names in os.walk(BENCH_DIR):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        files += [os.path.join(d, n) for n in names if not n.endswith(".pyc")]
    outer = hashlib.sha1()
    for fp in sorted(files):
        if not os.path.isfile(fp):
            continue
        with open(fp, "rb") as f:
            data = f.read()
        blob = hashlib.sha1(b"blob %d\0" % len(data) + data).hexdigest()
        outer.update(f"{os.path.relpath(fp, ROOT)} {blob}\n".encode())
    return outer.hexdigest()[:12]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    JVM and the Python workers) every ``interval`` seconds while entered,
    leaving out the subtrees of ``exclude`` pids (the benchmark's load
    generator). Keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = _children()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)

