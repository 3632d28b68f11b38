"""Measurement helpers shared by every workload of the benchmark.

Nothing here imports Spark or the engine at module level, so the pure
helpers (span self time, the tail-percentile rule, metric-name validity)
are unit-testable without a JVM.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import re
import statistics
import threading
import time

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
# percentiles considered for the tail figure, highest last
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """A metric name is 1..64 of ``[A-Za-z0-9_.-]`` starting with a letter or digit."""
    return (
        isinstance(name, str)
        and 0 < len(name) <= 64
        and NAME_RE.fullmatch(name) is not None
        and name[0].isalnum()
    )


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank of percentile ``pct`` among ``n`` samples
    (rounded first, so 99.9 % of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an already sorted list."""
    return sorted_values[_rank(pct, len(sorted_values)) - 1]


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest percentile of ``TAIL_LADDER`` that still has at least
    ``MIN_BEYOND`` samples above its rank, as ``{"pct", "value", "n"}``;
    None when there are too few samples for any of them."""
    n = len(samples)
    best = None
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= MIN_BEYOND:
            best = pct
    if best is None:
        return None
    return {"pct": best, "value": nearest_rank(sorted(samples), best), "n": n}


def timing_summary(samples: list[float]) -> dict:
    """Median, tail percentile (or why it is absent) and sample count."""
    tail = tail_percentile(samples)
    out = {"median": statistics.median(samples), "n": len(samples)}
    if tail is None:
        out["tail"] = None
        out["tail_absent"] = f"n={len(samples)}: no percentile >= p{TAIL_LADDER[0]:g} has {MIN_BEYOND} samples beyond it"
    else:
        out["tail"] = tail
    return out


def bracketed_overhead(passes: list[tuple[float, bool] | None]) -> tuple[float | None, int]:
    """Tracing overhead from interleaved passes, given in run order as
    ``(wall_s, traced)`` (None for a pass that failed): the median, over
    traced passes whose both neighbours are untraced, of the traced wall
    minus the mean of the two neighbours' walls. A drift of pass times
    through the run (warm-up, a change in box load) cancels to first order.
    Returns the overhead (None without such a pass) and the number of them."""
    diffs = [
        passes[i][0] - (passes[i - 1][0] + passes[i + 1][0]) / 2
        for i in range(1, len(passes) - 1)
        if passes[i] is not None and passes[i][1]
        and passes[i - 1] is not None and not passes[i - 1][1]
        and passes[i + 1] is not None and not passes[i + 1][1]
    ]
    return (statistics.median(diffs) if diffs else None), len(diffs)


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans: (id, name, start, end, parent id, run id). Spans nest
    by call order on one thread; nothing is written until ``spans`` is read."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # entered around every engine-call region while set (the plan
        # metrics reader of a traced pass)
        self.plans = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@contextlib.contextmanager
def engine_calls(tracer: Tracer | None, targets: list[tuple[object, str, str]] = ()):
    """The timed region of a pass, yielding ``measured()``'s record. Traced,
    it also wraps ``targets`` in spans and reads the plan metrics of the
    actions run inside (after the timer has stopped)."""
    plans = tracer.plans if tracer is not None and tracer.plans is not None else contextlib.nullcontext()
    with plans, patched(tracer, targets), measured() as m:
        yield m


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op context without a tracer."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed self time, i.e. each span's duration minus the
    part of its interval covered by its direct children (clipped to it)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["name"]] = out.get(s["name"], 0.0) + dur - _covered(kids)
    return out


def outer_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration of spans with no ancestor of the same
    name (a recursive call is not counted twice)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        p = s["parent"]
        nested = False
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


@contextlib.contextmanager
def patched(tracer: Tracer | None, targets: list[tuple[object, str, str]]):
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each target
    while the block runs; a no-op without a tracer."""
    if tracer is None:
        yield
        return
    saved = []
    try:
        for owner, attr, name in targets:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ------------------------------------------------------------------- box


def box_record(seed: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "seed": seed,
    }


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, CPU ticks of the process and its reaped
    children) for every readable process."""
    out: dict[int, tuple[int, str, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name
        end = stat.rfind(b")")
        rest = stat[end + 2 :].split()
        comm = stat[stat.find(b"(") + 1 : end].decode(errors="replace")
        # utime, stime, cutime, cstime
        out[int(d)] = (int(rest[1]), comm, sum(int(x) for x in rest[11:15]))
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page split
    among the processes mapping it (0 if the process is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and all its descendants, by command name.
    Summed as PSS, not RSS: a forked child (the JVM spawning the Python
    daemon, the daemon forking workers) shares its parent's pages, and an
    RSS sum would count them twice."""
    out: dict[str, int] = {}
    table = _proc_table()
    for pid in [root] + descendants(root, table):
        comm = table[pid][1] if pid in table else "?"
        out[comm] = out.get(comm, 0) + _pss(pid)
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in (table or _proc_table()).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; SIGKILL and reap what is left
    after ``timeout_s``. Returns the pids that had to be killed."""
    import signal

    def alive():
        return [p for p in pids if os.path.exists(f"/proc/{p}") and _state(p) != "Z"]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = alive()
    for p in killed:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
    deadline = time.monotonic() + 5
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    return killed


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return "X"
    return stat[stat.rfind(b")") + 2 :].split()[0].decode()


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``, its live descendants and the
    children they have reaped (a worker that exits lands in its parent's
    count, so the sum only grows)."""
    table = _proc_table()
    ticks = sum(table[p][2] for p in [root] + descendants(root, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


@contextlib.contextmanager
def measured():
    """Time a block: its wall seconds and the CPU seconds this process tree
    (driver, JVM, Python workers) spent in it, as ``{"wall_s", "cpu_s"}``."""
    root = os.getpid()
    rec: dict = {}
    c0 = tree_cpu_s(root)
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s(root) - c0


class MemorySampler:
    """Background thread sampling the peak resident memory (PSS) of this
    process tree (driver, JVM, Python workers) from /proc: of the whole
    tree, of its Python processes, and per command name."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._generation = 0
        self.reset()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            generation = self._generation
            by_comm = tree_memory(root)
            python = sum(v for k, v in by_comm.items() if k.startswith("python"))
            with self._lock:
                if generation == self._generation:  # not taken before a reset
                    self.peak = max(self.peak, sum(by_comm.values()))
                    self.peak_python = max(self.peak_python, python)
                    for comm, pss in by_comm.items():
                        self.peak_by_command[comm] = max(self.peak_by_command.get(comm, 0), pss)
            self._stop.wait(self.interval_s)

    def reset(self):
        """Start new peaks from the next sample on."""
        with self._lock:
            self._generation += 1
            self.peak = 0
            self.peak_python = 0
            self.peak_by_command: dict[str, int] = {}

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
