"""Process-tree CPU and memory accounting from ``/proc``, plus the host
contention guard (``psutil`` is not available, so this reads procfs
directly).

CPU of the tree is the sum, over the live processes of the tree, of
``utime + stime + cutime + cstime``. A child that exits and is reaped by a
parent inside the tree (a PySpark worker reaped by ``pyspark.daemon``, a
launcher reaped by the JVM) moves its CPU into that parent's
``cutime``/``cstime``, so the sum stays exact across exits between two
readings. A child reaped by a process outside the tree (reparented to
init) is lost; PySpark does not do that.

Resident memory is the sum of PSS (``/proc/<pid>/smaps_rollup``) over the
live processes, sampled by a background thread. Summed RSS would count a
shared page once per process: PySpark workers are forks of one daemon, and
every short-lived child the JVM forks briefly shows the JVM's whole RSS, so
summed RSS jumped by ~1 GB whenever a sample caught such a fork. PSS splits
each shared page among its sharers, so the sum counts it once. Reading PSS
walks page tables (~20 ms per tree sample with a 1 GB JVM), so the sampler
runs every 0.2 s and its own CPU is left out of ``cpu_seconds()``.
"""
import os
import threading
import time

_TICKS = os.sysconf('SC_CLK_TCK')


def _stat_fields(pid):
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process is gone."""
    try:
        with open('/proc/{}/stat'.format(pid), 'rb') as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces and parentheses: split after the
    # last ')'
    return data[data.rindex(b')') + 2:].split()


def _children_map():
    """{ppid: [pid, ...]} over every process visible in /proc."""
    children = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    return children


def tree_pids():
    """This process and all its live descendants."""
    children = _children_map()
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(pids):
    """CPU seconds used so far by the given processes and every child
    they have reaped (fields 14-17 of /proc/<pid>/stat)."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # after the name: state=0, ppid=1, ... utime=11 .. cstime=14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def tree_pss_bytes(pids):
    """Proportional set size of the processes: each resident page counts
    once, split among the processes sharing it (PySpark workers are forks
    of one daemon and share most of their pages)."""
    pss = 0
    for pid in pids:
        try:
            with open('/proc/{}/smaps_rollup'.format(pid), 'rb') as f:
                for line in f:
                    if line.startswith(b'Pss:'):
                        pss += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return pss


class TreeSampler:
    """Samples the process tree of this process in a background thread.

    ``cpu_seconds()`` is exact at the moment it is called (see the module
    docstring), minus the sampler thread's own CPU; ``take_peak_pss()``
    returns the highest tree PSS seen since the previous call and starts a
    new window.
    """

    def __init__(self, interval=0.2):
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._own_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _sample(self):
        pss = tree_pss_bytes(tree_pids())
        with self._lock:
            self._peak = max(self._peak, pss)

    def _run(self):
        while not self._stop.wait(self.interval):
            self._sample()
            with self._lock:
                self._own_cpu = time.thread_time()

    def cpu_seconds(self):
        with self._lock:
            own = self._own_cpu
        return tree_cpu_seconds(tree_pids()) - own

    def take_peak_pss(self):
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak


def cpu_totals():
    """(total jiffies, steal jiffies) from the first line of /proc/stat."""
    with open('/proc/stat') as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def calibration_ms(loops=5):
    """Best-of-``loops`` time of a fixed pure-Python loop, in ms. Hypervisor
    steal does not show the host slowing a vCPU through a shared core or
    clock throttling; this does. On one 4-vCPU VM it read 37-76 ms
    across runs an hour apart."""
    best = float('inf')
    for _ in range(loops):
        t0 = time.perf_counter()
        x = 0
        for i in range(1000000):
            x += i
        best = min(best, time.perf_counter() - t0)
    return 1000.0 * best


class HostGuard:
    """Host-contention guard: load average and a CPU-speed calibration at
    start and end, and the hypervisor steal share over the run. A run taken
    on a busy host flags itself as ``contended`` instead of silently
    skewing a comparison. The load average is reported but does not set
    the flag: back-to-back runs on 4 cores start at a load of 4-5 left by
    the previous run's own JVM."""

    #: thresholds: more than 2% of CPU time stolen, or the calibration loop
    #: more than 25% slower at one end of the run than at the other
    STEAL_PCT_LIMIT = 2.0
    CALIBRATION_DRIFT = 1.25

    def __init__(self):
        self.load1_start = os.getloadavg()[0]
        self.calib_start = calibration_ms()
        self._total0, self._steal0 = cpu_totals()

    def report(self):
        total1, steal1 = cpu_totals()
        calib_end = calibration_ms()
        dt = total1 - self._total0
        steal_pct = 100.0 * (steal1 - self._steal0) / dt if dt > 0 else 0.0
        drift = max(calib_end, self.calib_start) / min(calib_end,
                                                        self.calib_start)
        return {
            'load1_start': round(self.load1_start, 2),
            'load1_end': round(os.getloadavg()[0], 2),
            'steal_pct': round(steal_pct, 2),
            'calib_ms_start': round(self.calib_start, 1),
            'calib_ms_end': round(calib_end, 1),
            'contended': bool(steal_pct > self.STEAL_PCT_LIMIT
                              or drift > self.CALIBRATION_DRIFT),
        }
