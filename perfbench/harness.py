"""Process and session lifecycle for one benchmark invocation.

One ``Invocation`` owns everything the run creates:

* a private scratch root under ``<checkout>/.perfbench_work/`` (Spark local
  dirs, temp files, event log, every table and materialize dir), removed
  at exit;
* the SparkSession, its py4j gateway JVM (``SparkContext._gateway.proc``)
  and the ``pyspark.daemon`` workers the JVM forks.

Teardown runs on every exit path (normal return, a workload exception,
SIGTERM, and the invocation deadline, delivered as SIGALRM): stop Spark,
close the gateway's stdin and wait for the JVM (kill after a timeout),
then wait for, and if needed kill, every process that carries this
invocation's marker environment variable. The invocation makes itself a
child subreaper, so workers orphaned by the JVM's exit are re-parented to
it and reaped here instead of lingering. ``survivors()`` is the final
check: anything still alive fails the invocation.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import sys
import tempfile
import threading
import time
import uuid

MARKER = "PERFBENCH_RUN_TOKEN"
PR_SET_CHILD_SUBREAPER = 36
JVM_EXIT_TIMEOUT_S = 20.0
CHILD_EXIT_TIMEOUT_S = 10.0


class Deadline(Exception):
    """Raised in the main thread when the invocation runs out of time."""


class Terminated(Exception):
    """Raised in the main thread on SIGTERM."""


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# -- /proc helpers -----------------------------------------------------------

def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _stat(pid: int) -> tuple[int, str] | None:
    """(ppid, state) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2:].split()
    return int(rest[1]), rest[0]


def _has_marker(pid: int, token: str) -> bool:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            env = f.read()
    except OSError:
        return False
    return f"{MARKER}={token}".encode() in env.split(b"\0")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace").strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def marked_processes(token: str) -> list[int]:
    """Live (non-zombie) processes other than this one that inherited the
    invocation's marker: the JVM, the Python daemon and its workers, and
    anything they started, wherever they were re-parented."""
    me = os.getpid()
    out = []
    for pid in _pids():
        if pid == me:
            continue
        st = _stat(pid)
        if st is None or st[1] == "Z":
            continue
        if _has_marker(pid, token):
            out.append(pid)
    return out


def _reap(pid: int) -> None:
    """Collect the exit status of a child (or re-parented orphan)."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


# -- the invocation ------------------------------------------------------------

class Invocation:
    """Context manager for one benchmark invocation (see module docstring).

    ``deadline_s`` bounds the whole invocation: SIGALRM fires
    :class:`Deadline` in the main thread, which unwinds into teardown.
    """

    def __init__(self, checkout: str, deadline_s: int, log=None):
        self.checkout = checkout
        self.deadline_s = deadline_s
        self.token = uuid.uuid4().hex
        self.root = ""
        self.spark = None
        self.log = log or (lambda msg: print(f"perfbench: {msg}", file=sys.stderr))
        self.killed: list[str] = []
        self.interrupted: Exception | None = None
        self._old_handlers: dict[int, object] = {}

    # -- signals -----------------------------------------------------------

    # py4j re-raises an exception that interrupts a gateway call as its own
    # network error, so the reason is also kept here for the exit code
    def _on_term(self, signum, frame):
        self.interrupted = Terminated(f"signal {signum}")
        raise self.interrupted

    def _on_alarm(self, signum, frame):
        self.interrupted = Deadline(f"invocation exceeded {self.deadline_s} s")
        raise self.interrupted

    def __enter__(self) -> "Invocation":
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
        for sig, handler in ((signal.SIGTERM, self._on_term), (signal.SIGALRM, self._on_alarm)):
            self._old_handlers[sig] = signal.signal(sig, handler)
        signal.alarm(self.deadline_s)
        work = os.path.join(self.checkout, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="run-", dir=work)
        tmp = self.path("tmp")
        # everything the JVM, py4j and the workers write goes under the
        # root: temp files, shuffle/spill dirs, the event log
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ[MARKER] = self.token
        # the Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.checkout, os.environ.get("PYTHONPATH")) if p
        )
        return self

    def path(self, *parts: str) -> str:
        """A directory under the invocation root (created on first use)."""
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # -- Spark -------------------------------------------------------------

    def start_spark(self, app_name: str, event_log: bool = False):
        """Start the session; ``event_log`` writes Spark's JSON event log
        (one uncompressed file) under the root for :meth:`event_log_path`."""
        from ocr_endpoint_project_spark.session import build_session

        n = cores()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # 512-row Arrow batches: bench.py's measured optimum for ~10 KB
        # pages, kept so both harnesses run the same session shape
        self.spark = build_session(
            app_name=app_name,
            master=f"local[{n}]",
            shuffle_partitions=n,
            arrow_batch_rows=512,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def event_log_path(self) -> str:
        """The finished event log (valid after :meth:`teardown`)."""
        (name,) = os.listdir(self.path("events"))
        return os.path.join(self.path("events"), name)

    def _stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark, self.spark = self.spark, None

        def stop() -> None:
            try:
                spark.stop()
                gateway.shutdown()
            except Exception as e:  # noqa: BLE001 — teardown must go on
                self.log(f"spark stop failed: {type(e).__name__}: {e}")

        # a gateway call cut off by a signal can leave py4j unable to
        # answer; never wait on it longer than on the JVM itself
        stopper = threading.Thread(target=stop, daemon=True)
        stopper.start()
        stopper.join(JVM_EXIT_TIMEOUT_S)
        if stopper.is_alive():
            self.log("spark.stop() did not return; killing the JVM")
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
        except Exception:  # noqa: BLE001 — TimeoutExpired, or a signal
            self.killed.append(f"jvm {proc.pid}")
            proc.kill()
            proc.wait(timeout=JVM_EXIT_TIMEOUT_S)

    def _drain_children(self, pids: set[int]) -> None:
        """Wait for every process in ``pids`` and every marked process to
        exit; SIGKILL whatever is left after the timeout."""
        give_up = time.monotonic() + CHILD_EXIT_TIMEOUT_S
        while True:
            for pid in list(pids):
                _reap(pid)
            live = {p for p in pids if (st := _stat(p)) is not None and st[1] != "Z"}
            live |= set(marked_processes(self.token))
            if not live:
                return
            if time.monotonic() > give_up:
                break
            time.sleep(0.05)
        for pid in live:
            self.killed.append(f"{pid} {_cmdline(pid)[:120]}")
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        give_up = time.monotonic() + 5.0
        while time.monotonic() < give_up:
            for pid in live:
                _reap(pid)
            if all((st := _stat(p)) is None or st[1] == "Z" for p in live):
                return
            time.sleep(0.05)

    def teardown(self) -> None:
        """Stop Spark and every process it started; idempotent."""
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the teardown
        signal.alarm(0)
        before = set(descendants(os.getpid()))
        self._stop_spark()
        self._drain_children(before)
        for pid in before:
            _reap(pid)

    def survivors(self) -> list[str]:
        """Processes started by this invocation that are still alive."""
        me = os.getpid()
        live = set(marked_processes(self.token))
        live |= {p for p in descendants(me) if (st := _stat(p)) and st[1] != "Z"}
        return [f"{p} {_cmdline(p)[:120]}" for p in sorted(live)]

    def __exit__(self, *exc) -> None:
        try:
            self.teardown()
        finally:
            if self.root:
                shutil.rmtree(self.root, ignore_errors=True)
            for sig, handler in self._old_handlers.items():
                signal.signal(sig, handler)
