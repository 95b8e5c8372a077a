"""Per-layer measurement from outside the package.

Nothing in ``osmi_water_spark`` is edited. The traced run:

* counts py4j round-trips by wrapping the gateway client's
  ``send_command`` (``Py4jCounter``);
* wraps module-level public functions for the length of a ``with`` block,
  recording calls, driver wall, py4j calls and Spark jobs inside each call,
  and each call's arguments and result (``FunctionTaps``);
* reads job, stage and task counters from the driver JVM's status store
  by id range (``SparkCounters``). Job groups are not used: jobs submitted
  from the pipeline's leaf thread pool do not inherit the caller's group.
"""

from __future__ import annotations

import importlib
import threading
import time
from contextlib import contextmanager


class Py4jCounter:
    """Counts ``send_command`` calls from every driver thread. Calls made by
    the benchmark's own status queries (``quiet()``) are not counted."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self._local = threading.local()
        self.count = 0
        self.overhead_s = 0.0  # time spent counting

        def send_command(*a, **kw):
            t0 = time.perf_counter()
            if not getattr(self._local, "quiet", False):
                with self._lock:
                    self.count += 1
                    self.overhead_s += time.perf_counter() - t0
            return self._orig(*a, **kw)

        self._client.send_command = send_command

    @contextmanager
    def quiet(self):
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def close(self):
        self._client.send_command = self._orig


class SparkCounters:
    """Job/stage ids come from the DAG scheduler's id counters, stage
    metrics from the app status store (the UI is disabled, so there is no
    REST API)."""

    STAGE_FIELDS = ("tasks", "cpu_s", "gc_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes")

    def __init__(self, sc, py4j: Py4jCounter):
        self._sc = sc
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self._py4j = py4j
        self.overhead_s = 0.0  # time spent in mark() during traced work

    def mark(self) -> tuple[int, int]:
        t0 = time.perf_counter()
        with self._py4j.quiet():
            ids = int(self._dag.nextJobId()), int(self._dag.nextStageId())
        self.overhead_s += time.perf_counter() - t0
        return ids

    def persisted_rdds(self) -> int:
        with self._py4j.quiet():
            return int(self._sc._jsc.getPersistentRDDs().size())

    def stages(self, start: tuple[int, int], end: tuple[int, int], timeout: float = 10.0) -> dict:
        """Totals over stages with ids in [start, end): jobs, completed
        stages and their metrics. Waits for the listener bus to deliver the
        final stage metrics."""
        out = dict.fromkeys(("jobs", "stages") + self.STAGE_FIELDS, 0)
        out["jobs"] = end[0] - start[0]
        deadline = time.time() + timeout
        with self._py4j.quiet():
            for sid in range(start[1], end[1]):
                while True:
                    try:
                        d = self._store.lastStageAttempt(sid)
                        status = d.status().toString()
                    except Exception:  # noqa: BLE001 - stage not yet in the store
                        d, status = None, "MISSING"
                    if status in ("COMPLETE", "SKIPPED", "FAILED") or time.time() > deadline:
                        break
                    time.sleep(0.05)
                if status != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numTasks()
                out["cpu_s"] += d.executorCpuTime() / 1e9
                out["gc_s"] += d.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out


def dataframes(value) -> list:
    """The DataFrames in a function's return value (single, tuple, dict)."""
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (list, tuple)):
        return [v for v in value if isinstance(v, DataFrame)]
    return []


class FunctionTaps:
    """Replace ``module.name`` attributes with recording wrappers while the
    ``with`` block runs. A name missing from the package is skipped, so a
    renamed function reads as zero rather than breaking the run.

    ``stats`` holds per-function totals and ``calls`` every call's
    arguments and result since the last ``reset()``."""

    def __init__(self, targets: list[str], py4j: Py4jCounter, counters: SparkCounters):
        self.targets = targets
        self.py4j, self.counters = py4j, counters
        self.originals: dict[str, object] = {}
        self._saved: list[tuple[object, str, object]] = []
        self.reset()

    def reset(self) -> None:
        self.stats: dict[str, dict] = {
            k: {"call_s": 0.0, "py4j": 0, "jobs": 0} for k in self.targets
        }
        self.calls: dict[str, list] = {k: [] for k in self.targets}

    def _wrap(self, key: str, fn):
        def wrapper(*args, **kw):
            j0 = self.counters.mark()[0]
            p0, t0 = self.py4j.count, time.perf_counter()
            try:
                res = fn(*args, **kw)
            finally:
                st = self.stats[key]
                st["call_s"] += time.perf_counter() - t0
                st["py4j"] += self.py4j.count - p0
                st["jobs"] += self.counters.mark()[0] - j0
            self.calls[key].append((args, kw, res))
            return res

        wrapper.__wrapped__ = fn
        return wrapper

    def __enter__(self):
        for key in self.targets:
            mod_name, attr = key.rsplit(".", 1)
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is None:
                continue
            self.originals[key] = fn
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(key, fn))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()
        return False


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS (Linux clear_refs)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
