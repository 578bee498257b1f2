"""Host pinning and process-tree accounting read from ``/proc``.

Everything here runs in the benchmark's own process. ``pin_environment``
must run before pyspark is imported: the Spark JVM and its Python workers
inherit this process's environment when the JVM is launched.
"""

from __future__ import annotations

import os
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
RESULTS_DIR = os.path.join(BENCH_DIR, ".results")

# Driver heap for every run. The library default (48g) does not fit a
# 15 GB host shared with other jobs; 3g holds the benchmark's corpora.
DRIVER_MEM = "3g"
BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict:
    """Fix every knob that changes what a run measures; return them."""
    local_dirs = os.path.join(WORK_DIR, "spark-local")
    tmp = os.path.join(WORK_DIR, "tmp")
    for d in (local_dirs, tmp, CACHE_DIR, RESULTS_DIR):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = tmp
    # every JVM pyspark starts (launcher and driver): temp files into the
    # checkout, and no /tmp/hsperfdata_<user>; JIT compiler threads live as
    # long as the JVM, so /proc can account their CPU (ProcessTree.cpu)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    for v in BLAS_VARS:
        os.environ[v] = "1"
    # Python workers import sparklink from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "master": f"local[{nproc()}]",
        "nproc": nproc(),
        "driver_mem": DRIVER_MEM,
        "spark_local_dirs": local_dirs,
        "tmpdir": tmp,
        "blas_threads": {v: os.environ[v] for v in BLAS_VARS},
        "warm_workers": os.environ.get("SPARKLINK_WARM_WORKERS", "1"),
    }


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


# The calibration loop: a fixed piece of pure-Python work, independent of
# sparklink, Spark and their configuration, whose CPU time reads how fast
# the host runs code at the moment. CALIBRATION_REF_S is what it took on
# the 4-vCPU host the benchmark was defined on; op_ref_cpu_s scales the
# measured CPU by CALIBRATION_REF_S / (the run's median reading).
CALIBRATION_ITERS = 2_000_000
CALIBRATION_REF_S = 0.12


def calibration_loop_s(_=None) -> float:
    """CPU-seconds of this thread for one calibration loop."""
    t = time.thread_time()
    acc = 0
    for i in range(CALIBRATION_ITERS):
        acc = (acc * 31 + i) % 1000003
    return time.thread_time() - t


class Calibrator:
    """One worker process per CPU, each running the loop at the same time,
    so that a reading covers every CPU the operations run on (the host
    slows its CPUs unevenly). Create it before the JVM starts: the
    workers are forked from this process."""

    def __init__(self):
        import multiprocessing

        self.n = nproc()
        self.pool = multiprocessing.get_context("fork").Pool(self.n)

    def reading_s(self) -> float:
        """Mean CPU-seconds of the loop over the CPUs."""
        times = self.pool.map(calibration_loop_s, range(self.n), chunksize=1)
        return sum(times) / len(times)

    def close(self) -> None:
        self.pool.close()
        self.pool.join()


def host_steal_s() -> float:
    """CPU-seconds the hypervisor has taken from this machine's CPUs since
    boot (steal time, summed over CPUs); 0 where the kernel does not
    account it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _proc_table() -> dict[int, tuple[str, int, int, int]]:
    """pid -> (comm, ppid, cpu jiffies incl. reaped children, rss pages)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw.split("(", 1)[1].rsplit(")", 1)[0]
        parts = raw.rsplit(")", 1)[1].split()
        # after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
        cpu = int(parts[11]) + int(parts[12]) + int(parts[13]) + int(parts[14])
        out[int(p)] = (comm, int(parts[1]), cpu, int(parts[21]))
    return out


def _subtree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(children.get(pid, ()))
    return out


class ProcessTree:
    """CPU and RSS of the Spark JVM plus its Python daemon and workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._clk = os.sysconf("SC_CLK_TCK")
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20

    def _split(self, field: int, scale: float) -> dict[str, float]:
        """A /proc field summed over the JVM and over its descendants."""
        table = _proc_table()
        jvm = python = 0
        for pid in _subtree(table, self.jvm_pid):
            if pid == self.jvm_pid:
                jvm += table[pid][field]
            else:
                python += table[pid][field]
        return {"jvm": jvm * scale, "python": python * scale}

    def cpu(self) -> dict[str, float]:
        """{"jvm": CPU-s, "python": CPU-s, "jit": CPU-s} accumulated so
        far; "jit" is the part of "jvm" spent in the JIT compiler threads."""
        out = self._split(2, 1 / self._clk)
        out["jit"] = self._jit_ticks() / self._clk
        return out

    def _jit_ticks(self) -> int:
        ticks = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task_dir)
        except OSError:
            return 0
        for tid in tids:
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            # HotSpot names them "C1 CompilerThread<n>" / "C2 ..." (cut to 15)
            if raw.split("(", 1)[1].rsplit(")", 1)[0].startswith(("C1 Compiler", "C2 Compiler")):
                parts = raw.rsplit(")", 1)[1].split()
                ticks += int(parts[11]) + int(parts[12])
        return ticks

    def rss_mb(self) -> dict[str, float]:
        """{"jvm": MB, "python": MB} resident now."""
        return self._split(3, self._page_mb)


class RssSampler:
    """Background thread keeping the peak RSS of a ProcessTree."""

    def __init__(self, tree: ProcessTree, interval: float = 0.1):
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_python_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        rss = self.tree.rss_mb()
        self.peak_mb = max(self.peak_mb, rss["jvm"] + rss["python"])
        self.peak_jvm_mb = max(self.peak_jvm_mb, rss["jvm"])
        self.peak_python_mb = max(self.peak_python_mb, rss["python"])

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
