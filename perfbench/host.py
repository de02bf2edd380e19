"""Host stamps: CPU count and load, taken at the start and end of a run
and sampled while it runs, so a run that met contention says so."""

import os
import threading
import time


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _loadavg():
    with open("/proc/loadavg") as f:
        parts = f.read().split()
    running, total = parts[3].split("/")
    return float(parts[0]), float(parts[1]), float(parts[2]), int(running), int(total)


def _procs_running():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("procs_running"):
                return int(line.split()[1])
    return -1


def stamp():
    """One stamp: load averages, runnable processes and CPU count."""
    try:
        l1, l5, l15, _, _ = _loadavg()
        running = _procs_running()
    except OSError:
        l1 = l5 = l15 = float("nan")
        running = -1
    return {"time": time.time(), "load1": l1, "load5": l5, "load15": l15,
            "procs_running": running, "nproc": nproc()}


class LoadWatch:
    """Samples the 1-minute load every `period` seconds in a daemon
    thread until stopped; reports the peak."""

    def __init__(self, period=1.0):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            try:
                self.peak = max(self.peak, _loadavg()[0])
            except OSError:
                pass
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def contention(start, end, peak):
    """The host summary of one run: both stamps, the mid-run peak load,
    and whether the load rose past the CPU count while it ran."""
    n = start["nproc"]
    return {"start": start, "end": end, "peak_load1": peak,
            "load_rose_past_nproc": start["load1"] <= n and max(peak, end["load1"]) > n}
