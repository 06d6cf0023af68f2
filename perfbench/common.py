"""Run lifecycle shared by the workloads: one temp root inside the checkout,
the Spark session, a teardown that cannot leave a process behind, and the
statistics and output format of a run."""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
JVM_EXIT_DEADLINE_S = 20.0


class Terminated(Exception):
    """Raised in the main thread when the run receives SIGTERM."""


def _on_sigterm(signum, frame):
    raise Terminated(f"signal {signum}")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_stat() -> list[int]:
    """The host's cumulative CPU time counters (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_stat() readings; the host-contention figure a timing depends on."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def count_parquet(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


HEAP = "2g"  # driver heap, pinned (-Xms = -Xmx) and pre-touched so peak RSS is steady


def children(pid: int) -> list[int]:
    """All live descendants of ``pid``, from /proc."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent_of[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent_of.items():
            if pp == p:
                found.append(c)
                frontier.append(c)
    return found


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a live process (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99), interpolated between the closest
    ranks of the samples (statistics.quantiles' inclusive method)."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    """Owns everything a run starts. ``close`` stops streaming queries,
    joins registered threads, stops Spark, waits on the gateway JVM (and
    kills it and every other descendant after a deadline) and deletes the
    temp root. It runs on normal exit, on an exception and on SIGTERM."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.t_start = time.perf_counter()
        self.tmp = os.path.join(TMP_PARENT, f"run-{os.getpid()}")
        self.spark = None
        self.threads: list[tuple[threading.Thread, threading.Event]] = []
        self.jvm_pid: int | None = None
        self.jvm_peak_mb = 0.0
        self.spark_version = None
        self.heap: dict[str, str] = {}
        self.phases: dict[str, float] = {}
        self.steal: dict[str, float] = {}
        self._mark = self.t_start
        self._stat = cpu_stat()

    def __enter__(self) -> "Run":
        signal.signal(signal.SIGTERM, _on_sigterm)
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        for d in ("local", "jvmtmp", "pytmp", "warehouse"):
            os.makedirs(self.path(d))
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_spark(self):
        """Start the package's session on local[nproc] with the heap set
        through the package's SPARK_DRIVER_MEMORY / SPARK_DRIVER_JAVA_OPTS
        overrides (local mode runs driver and executors in this one JVM; the
        package's stock 16 GiB pin does not start on small hosts). Every
        file Spark, the JVM or Python workers write lands under the temp
        root."""
        env = {
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_DRIVER_MEMORY": HEAP,
            "SPARK_DRIVER_JAVA_OPTS": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseG1GC"
                f" -XX:ErrorFile={self.path('jvmtmp', 'hs_err_pid%p.log')}"
                f" -Djava.io.tmpdir={self.path('jvmtmp')}"
            ),
            "SPARK_LOCAL_DIRS": self.path("local"),
            "SPARK_UI_ENABLED": "true" if self.trace else "false",
            "TMPDIR": self.path("pytmp"),
        }
        os.environ.update(env)
        os.environ.pop("SPARK_MASTER", None)
        os.environ.pop("SPARK_SQL_SHUFFLE_PARTITIONS", None)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        from pyspark import SparkContext

        from streaming_feature_store_spark.session import get_spark

        configs = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(f"perfbench-{self.workload}", configs=configs)
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        self.spark_version = self.spark.version
        self.heap = {k: env[k] for k in ("SPARK_DRIVER_MEMORY", "SPARK_DRIVER_JAVA_OPTS")}
        return self.spark

    def mark(self, phase: str) -> float:
        """Record the seconds since the previous mark, and the host's steal
        share over them, as ``phase``; returns the seconds since the run
        started."""
        now, stat = time.perf_counter(), cpu_stat()
        self.phases[phase] = now - self._mark
        self.steal[phase] = steal_pct(self._stat, stat)
        self._mark, self._stat = now, stat
        return now - self.t_start

    def add_thread(self, thread: threading.Thread, stop: threading.Event) -> None:
        self.threads.append((thread, stop))

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        if self.jvm_pid is not None:
            self.jvm_peak_mb = max(self.jvm_peak_mb, vm_hwm_mb(self.jvm_pid))
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return self.jvm_peak_mb + own

    def close(self) -> None:
        # teardown runs to the end even if a second SIGTERM arrives
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            self._stop_everything()
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)
            try:
                os.rmdir(TMP_PARENT)
            except OSError:
                pass
            signal.signal(signal.SIGTERM, signal.SIG_DFL)

    def _stop_everything(self) -> None:
        for _thread, stop in self.threads:
            stop.set()
        spark, self.spark = self.spark, None
        stopped = 0
        if spark is not None:
            try:
                for q in spark.streams.active:
                    q.stop()
                    stopped += 1
            except Exception as e:  # keep tearing down; report the cause
                print(f"perfbench: stopping streams failed: {e!r}", file=sys.stderr)
        for thread, _stop in self.threads:
            thread.join(timeout=JVM_EXIT_DEADLINE_S)
        threads_alive = sum(t.is_alive() for t, _ in self.threads)
        if spark is not None:
            self.peak_rss_mb()
            try:
                spark.stop()
            except Exception as e:
                print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr)
        killed = self._stop_jvm()
        print(
            f"perfbench: teardown: streams_stopped={stopped} threads_alive={threads_alive}"
            f" processes_killed={killed} processes_alive={len([p for p in children(os.getpid()) if alive(p)])}",
            file=sys.stderr,
        )

    def _stop_jvm(self) -> int:
        """Shut the gateway, close the JVM's stdin (it exits on EOF), wait,
        then kill whatever descendant is still alive. Returns the number of
        processes that had to be killed."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        doomed = children(os.getpid())
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin pipe closes
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=JVM_EXIT_DEADLINE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=JVM_EXIT_DEADLINE_S)
        deadline = time.monotonic() + 5.0
        while doomed and time.monotonic() < deadline:
            doomed = [p for p in doomed if alive(p)]
            time.sleep(0.1)
        for p in doomed:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for p in doomed:
            _reap(p)
        return len(doomed)


def _reap(pid: int) -> None:
    """Wait for a killed process: reap it if it is our child, else poll
    until it is gone."""
    try:
        os.waitpid(pid, 0)
    except ChildProcessError:
        deadline = time.monotonic() + 5.0
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def metric(value: float, unit: str) -> dict:
    if not isinstance(value, (int, float)) or math.isnan(value) or math.isinf(value):
        raise ValueError(f"metric value {value!r} is not a finite number")
    return {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def save_record(record: dict) -> None:
    """Keep the run record next to the checkout so a traced run can state
    its overhead against the untraced run of the same workload and seed."""
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-trace{int(record['trace'])}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def load_record(workload: str, seed: int, trace: bool) -> dict | None:
    path = os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{int(trace)}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None
