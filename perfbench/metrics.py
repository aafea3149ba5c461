"""Pure measurement helpers of the benchmark: percentiles, spans and their
self time, the Spark event-log parser, process-tree memory and the host
noise probes. Nothing here imports Spark or the engine, so the unit tests
in perfbench/tests run without a session.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def tail_index(n: int, beyond: int = TAIL_BEYOND) -> "int | None":
    """Index into an ascending sample of size n of the highest percentile
    that still has `beyond` samples above it, or None when n is too small
    for any percentile to qualify."""
    if n <= beyond:
        return None
    return n - beyond - 1


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> "tuple[float, float] | None":
    """(value, percentile) of the tail rule, or None below beyond + 1 samples."""
    i = tail_index(len(values), beyond)
    if i is None:
        return None
    return sorted(values)[i], 100.0 * (i + 1) / len(values)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, batch);
    parent is the index of the enclosing span. Disabled tracers record
    nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, batch: "int | None" = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "batch": batch,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s["end"] - s["start"]) - covered)
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, tuple[float, int]]:
    """name -> (total self seconds, number of spans)."""
    out: dict[str, tuple[float, int]] = {}
    for s, t in zip(spans, self_times(spans)):
        tot, n = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (tot + t, n + 1)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _acc(info: dict, name: str) -> int:
    total = 0
    for a in info.get("Accumulables", []):
        if a.get("Name") == name and "Update" in a:
            try:
                total += int(a["Update"])
            except (TypeError, ValueError):
                pass
    return total


def parse_event_log(lines) -> dict[str, dict]:
    """Job-group id -> totals over the jobs that ran under it:
    jobs, stages, tasks, shuffle bytes, executor run/cpu/GC seconds and the
    bytes that crossed the Arrow boundary to and from Python workers.
    Jobs without a group are reported under the empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": set(), "tasks": 0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                "bytes_to_worker": 0, "bytes_from_worker": 0,
            },
        )

    events = [json.loads(line) for line in lines if line.strip()]
    for ev in events:  # stages map to groups first: files need not be in order
        if ev.get("Event") == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            g(grp)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = grp
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = int(ev["Stage Info"]["Stage ID"])
            g(stage_group.get(sid, ""))["stages"].add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = int(ev["Stage ID"])
            rec = g(stage_group.get(sid, ""))
            rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            info = ev.get("Task Info") or {}
            rec["bytes_to_worker"] += _acc(info, PY_SENT)
            rec["bytes_from_worker"] += _acc(info, PY_RECEIVED)
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return groups


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """parse_event_log over every event file under `log_dir`: single-file
    logs and the rolling eventlog_v2_* directories (events_<n>_* parts)."""
    paths = []
    for base, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(base, f) for f in files
                  if not f.startswith((".", "appstatus"))]
    lines: list[str] = []
    for p in sorted(paths):
        with open(p) as f:
            lines.extend(f)
    return parse_event_log(lines)


# ---------------------------------------------------------------------------
# process-tree memory and host probes
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory on a daemon thread and
    keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed diagnostic that,
    unlike loadavg, sees a co-tenant that slows this core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def host_probe() -> dict:
    return {"loadavg_1m": os.getloadavg()[0], "cpu_probe_s": round(cpu_probe(), 4)}
