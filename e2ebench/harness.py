"""Shared machinery of the end-to-end benchmark.

One closed-loop client (this process) drives the package's public
functions on ``local[nproc]``. This module owns what every workload
shares: the Spark session the harness configures, the spans it wraps
around each public call, the JVM JIT probe read through py4j, the
peak-RSS sampler over the process tree, and the summary statistics.

Nothing here starts a thread or a JVM at import time.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

#: cores the benchmark runs on — the master is ``local[NPROC]``
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

#: C1-only JIT. With the default tiered C2 compiler a fresh JVM spends
#: 40-55 JIT seconds in the first iteration after set-up (4 cores), and
#: call times keep falling for several iterations, so a minute-long run
#: would time a warm-up slope. C1 levels off within the set-up. C1 alone
#: gets a 48 MB code cache by default, which these workloads fill (the
#: JVM then stops compiling), hence the larger cache.
JVM_JIT_FLAGS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


# ------------------------------------------------------------- RSS probe


def _children_map():
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _exists(pid: int) -> bool:
    """True until ``pid`` has exited and been reaped by its parent."""
    return os.path.exists(f"/proc/{pid}")


def end_processes(pids, grace: float) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to exit and be reaped,
    then SIGKILL what is left and wait as long again. Children of this
    process are reaped here; the others by their own parent."""
    deadline = time.time() + grace
    left = list(pids)
    killed = False
    while left:
        for pid in left:
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, os.WNOHANG)
        left = [p for p in left if _exists(p)]
        if not left:
            break
        if time.time() > deadline and not killed:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            killed, deadline = True, time.time() + grace
        elif time.time() > deadline:
            break
        time.sleep(0.05)


def rss_hwm_bytes(pid: int) -> int:
    """The kernel's high-water mark of ``pid``'s resident set (VmHWM),
    0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak memory of the process tree (driver Python, the JVM,
    pyspark.daemon and its workers): the sum over every process seen of
    its own peak resident set. Each process's peak is the kernel's
    high-water mark, so the sampling interval only has to be shorter
    than a process's life, and the probe reads two small /proc files
    per process instead of walking page tables, which would take CPU
    from the timed calls."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def _sample(self):
        for pid in tree_pids(os.getpid()):
            self._hwm[pid] = max(self._hwm.get(pid, 0), rss_hwm_bytes(pid))

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        """Stop polling and take a last sample; call it while the
        session's processes are still alive."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()


# --------------------------------------------------------- storage probe


def dir_listing(paths) -> dict[str, int]:
    """{file path: size} under every directory in ``paths``."""
    out = {}
    for base in paths:
        for root, _dirs, files in os.walk(base):
            for f in files:
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    continue
    return out


def dir_bytes(paths) -> int:
    return sum(dir_listing(paths).values())


def listing_delta(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes written, files written): files that are new or changed
    size between two listings."""
    new = [p for p, s in after.items() if before.get(p) != s]
    return sum(after[p] for p in new), len(new)


# ----------------------------------------------------------------- bench


class Bench:
    """One benchmark run: the session, the spans and the gate tally.

    ``work`` is a scratch directory inside the checkout; everything the
    run writes (inputs, run dirs, indexes, Spark local dirs, the event
    log) lives under it; the caller removes it when the run ends.
    """

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.nproc = NPROC
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.spans: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self._jvm_mx = None

    # -------------------------------------------------------- session

    def start_session(self):
        """Start Spark through the package's own session factory. The
        harness adds resource placement (local and temp dirs under the
        work dir, a 1 GB heap), the JIT mode and, when tracing, the
        event log."""
        os.makedirs(self.work, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # executors fork Python workers that must import the package
        # from this checkout; temp files stay inside the work dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        # the package's CPU knob: sizes shuffle partitions for NPROC cores
        os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
        from pytod_spark.session import get_spark

        # JVM flags the package leaves alone: the temp dir, no perf-data
        # file in the system temp dir, and the JIT mode (JVM_JIT_FLAGS)
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_JIT_FLAGS}"
        )
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "e2ebench", master=f"local[{NPROC}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        self._jvm_mx = mf
        return self.spark

    def jit_s(self) -> float:
        """Total JVM JIT compile seconds so far (all compiler threads)."""
        return self._jvm_mx.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def close(self):
        """Stop Spark and end every process the session started: the
        Python workers, then the JVM, which is waited for (reaped) here
        rather than left to notice the closed pipe after this process
        has exited. Safe to call when the session never started."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            jvm = getattr(gateway, "proc", None)
            workers = [p for p in tree_pids(jvm.pid) if p != jvm.pid] if jvm else []
            # the stopped context has told its workers to exit; give them
            # time before the JVM goes, so that they are not orphaned
            end_processes(workers, grace=10.0)
            if gateway is not None:
                with contextlib.suppress(Exception):
                    gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if jvm is not None:
                # the JVM exits when its stdin (a pipe from this process) closes
                with contextlib.suppress(OSError):
                    jvm.stdin.close()
                try:
                    jvm.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
            end_processes([p for p in tree_pids(os.getpid()) if p != os.getpid()], grace=10.0)

    # ---------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one public call. With tracing on, the call's jobs are
        tagged with ``name``; the span is kept in memory for the
        event-log reader until the run ends."""
        tag = self.trace and self.spark is not None
        if tag:
            self.spark.sparkContext.setJobDescription(name)
        rec = {"name": name}
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            if tag:
                self.spark.sparkContext.setJobDescription(None)
            rec["start_ms"] = t0 * 1e3
            rec["end_ms"] = t1 * 1e3
            rec["wall_s"] = t1 - t0
            self.spans.append(rec)

    # ---------------------------------------------------------- gates

    def gate(self, what: str, problems: list[str]) -> bool:
        """Count one checked operation; ``problems`` empty means it
        passed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.append(f"{what}: {'; '.join(problems[:5])}")
            return False
        return True


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def write_parquet_files(pdf, path: str, n_files: int) -> str:
    """Write a pandas frame as ``n_files`` parquet files under ``path``
    (an input the package reads with ``n_files`` splits)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fresh_dir(path)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[i * step:(i + 1) * step],
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path
