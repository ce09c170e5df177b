"""Host provenance recorded beside every run: CPU steal, load average and
CPU pressure — the contention a run's timings should be read against."""

import os


def _read(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_jiffies():
    """(busy, steal) jiffies from /proc/stat's aggregate cpu line."""
    line = _read("/proc/stat").splitlines()[:1]
    if not line:
        return 0, 0
    v = [int(x) for x in line[0].split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    busy = sum(v[:8]) - v[3] - (v[4] if len(v) > 4 else 0) - steal
    return busy, steal


class Provenance:
    """Snapshot at start; `finish()` gives the window's figures."""

    def __init__(self):
        self.load_start = _read("/proc/loadavg")
        self.jiffies = cpu_jiffies()

    def finish(self):
        busy0, steal0 = self.jiffies
        busy1, steal1 = cpu_jiffies()
        total = (busy1 - busy0) + (steal1 - steal0)
        return {
            "cpus": os.cpu_count(),
            "steal_pct": round(100.0 * (steal1 - steal0) / total, 2) if total else 0.0,
            "loadavg_start": self.load_start,
            "loadavg_end": _read("/proc/loadavg"),
            "cpu_pressure": _read("/proc/pressure/cpu").replace("\n", " | "),
        }
