"""Measurement helpers that need no extra packages: a /proc peak-RSS
sampler for the Python workers, spans with Spark job attribution, and a
plain-JSON reader for Spark's event log."""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import time


def wipe(path: str) -> None:
    """Remove ``path`` so the next job writes into a fresh root."""
    shutil.rmtree(path, ignore_errors=True)


def du_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
    return total


# ------------------------------------------------------------- timing


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies over all CPUs from /proc/stat; busy counts
    every non-idle state, steal included."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq + steal, steal


class Stopwatch:
    """Times a block. ``wall`` is the raw wall time; ``s`` takes out the
    share of CPU time the hypervisor stole from this VM while the block
    wanted to run: s = wall * (1 - steal / busy). On a shared host that
    share moves from run to run and is no property of the program."""

    def __enter__(self):
        self._j0 = _cpu_jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._j0, _cpu_jiffies()))
        self.steal_frac = steal / busy if busy > 0 else 0.0
        self.s = self.wall * (1.0 - self.steal_frac)


# ---------------------------------------------------------------- RSS


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_workers(root: int) -> list[int]:
    """Descendants of ``root`` running pyspark's Python daemon/workers."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and b"python" in cmd:
            out.append(pid)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the highest VmHWM of any Python worker descended from this
    process while active (``with sampler:``); ``peak_mb`` keeps the max."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in python_workers(os.getpid()):
            self.peak_kb = max(self.peak_kb, _vm_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent). While a span is open,
    Spark jobs started from this thread carry ``span:<id>`` as their job
    description, which is how the event log attributes jobs to spans."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _describe(self) -> None:
        self.sc.setJobDescription(f"span:{self._stack[-1]}" if self._stack else None)

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self_inner):
                rec = {
                    "id": len(tracer.spans),
                    "name": name,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "start": time.perf_counter(),
                    "end": None,
                }
                tracer.spans.append(rec)
                tracer._stack.append(rec["id"])
                tracer._describe()
                self_inner.rec = rec
                return rec

            def __exit__(self_inner, *exc):
                self_inner.rec["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer._describe()

        return _Span()

    def wrap(self, module, attr: str):
        """Replace ``module.attr`` by a span-recording wrapper; returns an
        undo callable. The wrapper stores the call's return value on the
        span, so counts a function returns can be read afterwards."""
        orig = getattr(module, attr)
        label = f"{module.__name__}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label) as rec:
                rec["result"] = orig(*args, **kwargs)
                return rec["result"]

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, orig)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span_id: int) -> set[int]:
        ids = {span_id}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_time(self, span_id: int) -> float:
        """Span duration minus the union of its direct children."""
        s = self.spans[span_id]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{k: v for k, v in s.items() if k != "result"} for s in self.spans], f
            )


# ---------------------------------------------------------- event log


class EventLog:
    """The parts of an uncompressed, non-rolling Spark event log that the
    per-layer metrics need: jobs with their description, and every task
    end with its timing, GC, shuffle-write and failure fields."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"desc": props.get("spark.job.description")}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    self.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "job": stage_job.get(ev["Stage ID"]),
                            "duration_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "failed": bool(info.get("Failed")) or reason != "Success",
                        }
                    )

    def jobs_in(self, span_ids: set[int]) -> set[int]:
        want = {f"span:{i}" for i in span_ids}
        return {j for j, rec in self.jobs.items() if rec["desc"] in want}

    def task_stats(self, jobs: set[int]) -> dict:
        tasks = [t for t in self.tasks if t["job"] in jobs]
        ok = [t for t in tasks if not t["failed"]]
        by_stage: dict[int, list[dict]] = {}
        for t in ok:
            by_stage.setdefault(t["stage"], []).append(t)
        # the stage running the batch loop is the one with most task time
        heavy = max(by_stage.values(), key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
        durs = sorted(t["duration_ms"] for t in heavy)
        run_ms = sum(t["run_ms"] for t in ok)
        return {
            "n_jobs": len(jobs),
            "run_ms": run_ms,
            "gc_ms": sum(t["gc_ms"] for t in ok),
            "shuffle_write": sum(t["shuffle_write"] for t in ok),
            "retries": len(tasks) - len(ok),
            "p99_over_p50": (
                _quantile(durs, 0.99) / max(_quantile(durs, 0.5), 1) if durs else 0.0
            ),
        }


def _quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile of sorted ``xs``."""
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))]
