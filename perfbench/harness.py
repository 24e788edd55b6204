"""Process-level plumbing for the benchmark: the checkout-local work
directory, the host-fit Spark session and its timed set-up, span tracing
around the benchmark's own calls, RSS sampling and run provenance.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``,
so a run reads and writes nothing outside the checkout it runs in.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
NPROC = os.cpu_count() or 1


def program_present() -> bool:
    return (ROOT / "ccnet_spark_spark" / "__init__.py").is_file() and (ROOT / "__spark_entry__.py").is_file()


def total_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def driver_mem() -> str:
    """A driver heap that fits the host: a quarter of RAM, 1-4 GB. The
    program's own default (48g) exceeds small hosts."""
    return f"{max(1, min(4, int(total_ram_gb() // 4)))}g"


def configure_env() -> None:
    """Point every scratch location at the work dir and size the session to
    the host. Must run before pyspark or the program is imported: the
    program reads SPARK_GRAFT_DRIVER_MEM at import time and tempfile caches
    its directory on first use."""
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def base_conf() -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def trace_conf(log_dir: Path) -> dict[str, str]:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
    }


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- session
class Session:
    """Owns the driver JVM. ``launch`` times one set-up (JVM launch and
    get_spark, then the package ship); ``restart`` swaps the SparkContext
    inside the running JVM (used to turn the event log on); ``close`` stops
    the JVM and waits for it and its Python workers to exit."""

    def __init__(self) -> None:
        self.spark = None
        # stopped contexts stay referenced: the program keys its
        # shipped-package registry by id(SparkContext), and a recycled id
        # would skip shipping to a new context
        self._stopped: list = []

    def launch(self, extra_conf: dict[str, str] | None = None) -> dict[str, float]:
        from ccnet_spark_spark.session import get_spark

        import __spark_entry__ as entry

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=NPROC, extra_conf={**base_conf(), **(extra_conf or {})})
        t1 = time.perf_counter()
        entry._ensure_pkg(self.spark)
        t2 = time.perf_counter()
        return {"start_s": t1 - t0, "ship_pkg_s": t2 - t1, "setup_s": t2 - t0}

    def restart(self, extra_conf: dict[str, str]) -> dict[str, float]:
        self._stopped.append(self.spark.sparkContext)
        self.spark.stop()
        return self.launch(extra_conf)

    @property
    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self._stopped.append(self.spark.sparkContext)
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def setup_samples(session: Session, n: int) -> list[dict[str, float]]:
    """n full set-ups, each in a fresh JVM; the last one stays open."""
    samples = []
    for i in range(n):
        if i:
            session.close()
        samples.append(session.launch())
    return samples


def median_of(samples: list[dict[str, float]], key: str) -> float:
    return statistics.median(s[key] for s in samples)


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans around the benchmark's calls into the program. Each span sets
    the Spark job description to ``<name>#<id>`` before the call, so the
    event log attributes every job it triggers to the innermost open span."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(f"{name}#{rec['id']}")
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(f"{parent['name']}#{parent['id']}" if parent else None)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


class NullTracer:
    """Untraced runs: the same call sites, no job descriptions."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


# -------------------------------------------------------------------- RSS
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root_pid: int) -> list[int]:
    kids = _children()
    todo, pids = [root_pid], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, ()))
    return pids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root_pid: int) -> float:
    """RSS of the root (the driver JVM) plus its descendant Python
    processes (the worker daemon and its workers). Other descendants are
    left out: a helper the JVM spawns (Hadoop's local file system shells
    out to chmod) shares the JVM's memory until it execs, so counting it
    would count the JVM twice."""
    pids = [pid for pid in _tree(root_pid) if pid == root_pid or _comm(pid).startswith("python")]
    return sum(_rss_kb(pid) for pid in pids) / 1024


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU of the driver JVM, its Python workers, and the
    children they have already reaped."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak RSS of the driver JVM plus its Python workers, polled from /proc
    on a background thread while the timed region runs."""

    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_mb(self.root_pid)
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(self.interval)

    def take(self) -> float:
        """The peak since the last take (or the start), then reset it."""
        rss = tree_rss_mb(self.root_pid)
        with self._lock:
            peak, self.peak_mb = max(self.peak_mb, rss), 0.0
        return peak

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen from this VM by the hypervisor so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def retained_storage_mb(spark) -> float:
    """Storage blocks the block manager still lists (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# ------------------------------------------------------------- provenance
def program_digest() -> str:
    """sha256 over the program's sources: the checkout is not a git
    repository, so this is what identifies the code that ran."""
    h = hashlib.sha256()
    files = sorted((ROOT / "ccnet_spark_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if shutil.which("git") is None or not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def provenance(spark) -> dict:
    import pyspark

    return {
        "nproc": NPROC,
        "ram_gb": round(total_ram_gb(), 1),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "program_digest": program_digest(),
    }
