"""Count the Python daemons and workers each benchmark op forks.

Runs the ``codec_udf`` op list of the benchmark (``perfbench/workloads.py``,
imported read-only) for N passes on ``local[4]`` over seeded inputs, with
the benchmark's driver JVM options (C1 only, serial collector). A thread
polls ``/proc`` under this process while the ops run. A process whose
command line runs ``pyspark.daemon`` is a daemon when its parent is not
one, and a reused worker when its parent is a daemon (workers are forked,
not exec'd, so they keep the daemon's command line).

Prints one line per op run: the pass (pass 0 is the untimed warm-up pass
of the benchmark), the op, and its CPU seconds: of the whole process tree
(reaped children included, the poller's own CPU taken out), of the JVM
itself, of the children the JVM reaped (simple workers such as the
transformWithState pre-init process, and helper forks), and of the
daemons with their workers. Then the daemons alive after the op, the
daemons and workers first seen during it, and the JVM's direct child
processes first seen during it, by command name (``chmod``, ``readlink``
and ``rm`` from Hadoop's local file system, ``python`` for the workers
and daemons it starts, ``pre-exec`` for a fork that exited before the
census saw which command it ran). Ends with the number of daemons seen
in the whole run.

The JVM's helper forks live for a millisecond or two. The census looks
for new processes every 5 ms, one ``/proc`` listing per look, so it
misses some of them: the fork counts are a lower bound. Their CPU is
not lost: it is in the JVM's reaped column.

Usage, from the root of the checkout (the workers resolve the package
from their working directory before ``PYTHONPATH``):
  python scripts/worker_pool_census.py [--passes N] [--seed N]
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import gen  # noqa: E402
import procstat  # noqa: E402
from workloads import build_workloads  # noqa: E402


def _is_daemon_cmd(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _cpu_split(root: int) -> tuple[float, float, float]:
    """CPU seconds of the JVM itself, of the JVM's reaped children (the
    simple workers it spawns and its helper forks), and of the daemons
    with their workers (a daemon's reaped workers included)."""
    ticks = [0, 0, 0]
    for pid in procstat.tree_pids(root):
        fields = procstat._stat_fields(pid)
        if fields is None:
            continue
        if _is_daemon_cmd(pid):
            ticks[2] += sum(int(x) for x in fields[11:15])
        else:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    is_jvm = f.read().strip() == "java"
            except OSError:
                continue
            if is_jvm:
                ticks[0] += int(fields[11]) + int(fields[12])
                ticks[1] += int(fields[13]) + int(fields[14])
    return tuple(t / procstat._TICK for t in ticks)


#: executables a JVM child runs between its fork and the ``exec`` of its
#: command (the JVM itself, its spawn helper), or before a wrapper script
#: or shim ``exec``s the interpreter
_PRE_EXEC = {"java", "jspawnhelper", "sh", "bash", "dash", "pyenv"}
#: how often the census lists ``/proc`` for new JVM children, and how
#: long it then watches a new one for its ``exec``
_FORK_INTERVAL_S = 0.005
_SETTLE_S = 0.01


def _comm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
    except OSError:
        return None
    return "python" if name.startswith("python") else name


def _command(pid: int) -> str | None:
    """The command a JVM child runs once it has ``exec``'d it; None
    before that, or once it has exited."""
    try:
        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return None
    return None if exe in _PRE_EXEC else _comm(pid)


class Census:
    """Polls the process tree under ``root``; ``seen`` maps every daemon
    or worker pid ever seen to its kind and the op it was first seen in,
    and ``forks`` maps every direct child of the JVM first seen while
    the census runs to ``[command name, op]``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.op = "set-up"
        self.seen: dict[int, tuple[str, str]] = {}
        self.live: dict[int, str] = {}
        self.forks: dict[int, list[str]] = {}
        self.cpu_s = 0.0  # the poller thread's own CPU
        self._jvm = next((p for p in procstat.tree_pids(root) if _comm(p) == "java"), None)
        self._known = {int(n) for n in os.listdir("/proc") if n.isdigit()}
        self._settling: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def scan_forks(self) -> None:
        """Record the JVM's children that were not there at the last
        look (one ``/proc`` listing, and a stat read of new pids only),
        then watch the new ones for up to ``_SETTLE_S`` until each has
        ``exec``'d its command. One that exits first stays "pre-exec"."""
        live = {int(n) for n in os.listdir("/proc") if n.isdigit()}
        with self._lock:
            for pid in live - self._known:
                fields = procstat._stat_fields(pid)
                if fields is not None and int(fields[1]) == self._jvm:
                    self.forks[pid] = ["pre-exec", self.op]
                    self._settling.add(pid)
            self._known = live
            deadline = time.monotonic() + _SETTLE_S
            while self._settling:
                for pid in list(self._settling):
                    name = _command(pid)
                    if name is not None:
                        self.forks[pid][0] = name
                    if name is not None or not os.path.exists(f"/proc/{pid}"):
                        self._settling.discard(pid)
                if time.monotonic() >= deadline:
                    break
                time.sleep(0.0002)

    def poll(self) -> None:
        daemons = {p for p in procstat.tree_pids(self.root) if _is_daemon_cmd(p)}
        live = {}
        for pid in daemons:
            fields = procstat._stat_fields(pid)
            if fields is None:
                continue
            live[pid] = "worker" if int(fields[1]) in daemons else "daemon"
        with self._lock:
            self.live = live
            for pid, kind in live.items():
                self.seen.setdefault(pid, (kind, self.op))

    def _run(self) -> None:
        t0 = time.thread_time()
        next_poll = 0.0
        while not self._stop.is_set():
            self.scan_forks()
            if time.monotonic() >= next_poll:
                self.poll()
                next_poll = time.monotonic() + self.interval_s
            self.cpu_s = time.thread_time() - t0
            self._stop.wait(_FORK_INTERVAL_S)

    def start_op(self, op: str) -> None:
        self.poll()
        self.scan_forks()
        with self._lock:
            self.op = op

    def jvm_forks_in(self, op: str) -> dict[str, int]:
        """Command name -> JVM children first seen during ``op``."""
        self.scan_forks()
        counts: dict[str, int] = {}
        with self._lock:
            for name, o in self.forks.values():
                if o == op:
                    counts[name] = counts.get(name, 0) + 1
        return dict(sorted(counts.items()))

    def forked_in(self, op: str) -> tuple[list[int], list[int]]:
        self.poll()
        with self._lock:
            mine = [(p, k) for p, (k, o) in self.seen.items() if o == op]
        return ([p for p, k in mine if k == "daemon"],
                [p for p, k in mine if k == "worker"])

    def live_daemons(self) -> list[int]:
        with self._lock:
            return sorted(p for p, k in self.live.items() if k == "daemon")

    def __enter__(self) -> "Census":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="worker-pool-census-")
    os.environ.setdefault("PYTHONPATH", REPO)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", shlex.join([
        "--conf", "spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ]))
    from datafusion_functions_variant_spark.vendor import ensure_protobuf

    ensure_protobuf()  # before the JVM starts, so workers inherit it
    from datafusion_functions_variant_spark.plans.session import get_session

    wl = build_workloads()["codec_udf"]
    spark = get_session(app_name="worker_pool_census", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(work, "checkpoints"))
    sf_dir = os.path.join(work, "inputs")
    gen.write_inputs(sf_dir, args.seed, **wl.sizes)
    pid = os.getpid()
    print(f"{'pass':>4}  {'op':<28}  {'cpu_s':>6}  {'jvm':>5}  {'reaped':>6}  "
          f"{'python':>6}  {'live daemons':<20}  new daemons  new workers  jvm forks")
    try:
        with Census(pid) as census:
            for n in range(args.passes):
                for op in wl.ops:
                    label = f"{n}:{op.name}"
                    census.start_op(label)
                    c0 = procstat.tree_cpu_seconds(pid) - census.cpu_s
                    s0 = _cpu_split(pid)
                    op.build(spark, sf_dir).toArrow()
                    cpu = procstat.tree_cpu_seconds(pid) - census.cpu_s - c0
                    jvm, reaped, python = (b - a for a, b in zip(s0, _cpu_split(pid)))
                    daemons, workers = census.forked_in(label)
                    forks = " ".join(f"{k}={v}" for k, v in census.jvm_forks_in(label).items())
                    live = ",".join(map(str, census.live_daemons()))
                    print(f"{n:>4}  {op.name:<28}  {cpu:>6.2f}  {jvm:>5.2f}  {reaped:>6.2f}  "
                          f"{python:>6.2f}  {live:<20}  {len(daemons):>11}  "
                          f"{len(workers):>11}  {forks or '-'}", flush=True)
            total = sorted(p for p, (k, _) in census.seen.items() if k == "daemon")
        print(f"daemons seen: {len(total)} ({', '.join(map(str, total))})")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
