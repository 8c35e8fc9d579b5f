"""Measurement helpers: percentiles, the machine sampler (peak RSS and
hypervisor steal), the recording publish callback, the span tracer and the
Spark progress / REST readers.

Nothing here reaches into the program: spans are recorded around calls into
its public functions, and the remaining numbers come from what Spark itself
reports (``StreamingQuery.recentProgress``, the status tracker and, in the
traced run only, the UI's REST API).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import uuid

from perfbench.gen import MASK64, Digest, value_hash


def pctl(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    vs = sorted(values)
    if not vs:
        return 0.0
    return float(vs[min(len(vs) - 1, max(0, math.ceil(q / 100.0 * len(vs)) - 1))])


def weighted_pctl(pairs, q: float) -> float:
    """Nearest-rank percentile over (value, weight) pairs."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if not total:
        return 0.0
    rank, seen = max(1, math.ceil(q / 100.0 * total)), 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return float(v)
    return float(pairs[-1][0])


def median(values) -> float:
    vs = sorted(values)
    if not vs:
        return 0.0
    mid = len(vs) // 2
    return float(vs[mid]) if len(vs) % 2 else (vs[mid - 1] + vs[mid]) / 2.0


# --------------------------------------------------------------------------
# resident memory of this process and everything it started


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class MachineSampler:
    """While open: samples the summed RSS of the driver process tree (the
    driver JVM and its Python workers are descendants) every ``interval``
    seconds, ``peak_mb`` being the highest sample; ``steal_share`` is the
    share of CPU time the hypervisor gave to other guests."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> MachineSampler:
        self._cpu0 = _cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        cpu1 = _cpu_times()
        total = sum(cpu1) - sum(self._cpu0)
        # /proc/stat's eighth field is time the hypervisor gave to others
        self.steal_share = (cpu1[7] - self._cpu0[7]) / total if total else 0.0

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# --------------------------------------------------------------------------
# the publish callback: counts, digests and timing per call

BATCH_PROPERTY = "perfbench.batch"


class PublishRecorder:
    """A ``publish(topic, values)`` callback for ``PipelineConfig.publish``.
    It runs on the executors, so every call writes one small JSON record
    into ``out_dir``: topic, message count, digest sum, the wall-clock end
    of the call and, with ``due_field``, each message's latency in ms from
    the ``due`` epoch-ms the generator put into the payload."""

    def __init__(self, out_dir: str, due_field: bool = False):
        self.out_dir = out_dir
        self.due_field = due_field

    def __call__(self, topic: str, values: list[str]) -> None:
        from pyspark import TaskContext

        s = 0
        for v in values:
            s += value_hash(v)
        tc = TaskContext.get()
        rec = {
            "topic": topic,
            "n": len(values),
            "sum": s & MASK64,
            "batch": tc.getLocalProperty(BATCH_PROPERTY) if tc else None,
            "t_end": time.time(),
        }
        if self.due_field:
            key, now_ms = '"due":"', int(rec["t_end"] * 1000)
            lat = []
            for v in values:
                i = v.index(key) + len(key)
                lat.append(now_ms - int(v[i : v.index('"', i)]))
            rec["lat_ms"] = lat
        os.makedirs(self.out_dir, exist_ok=True)
        name = os.path.join(self.out_dir, uuid.uuid4().hex)
        with open(name + ".tmp", "w") as f:
            json.dump(rec, f)
        os.rename(name + ".tmp", name + ".json")


def read_publishes(out_dir: str) -> list[dict]:
    if not os.path.isdir(out_dir):
        return []
    out = []
    for name in os.listdir(out_dir):
        if name.endswith(".json"):
            with open(os.path.join(out_dir, name)) as f:
                out.append(json.load(f))
    return out


def published_count(out_dir: str) -> int:
    return sum(r["n"] for r in read_publishes(out_dir))


def digest_of(records: list[dict]) -> Digest:
    d = Digest()
    for r in records:
        d.add_partial(r["topic"], r["n"], r["sum"])
    return d


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans: name, start, end, parent and the micro-batch id
    they belong to. ``enabled=False`` records nothing, so untraced runs
    pay no cost. ``dump`` writes them out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, batch=None):
        return _Span(self, name, batch)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, batch):
        self.tracer, self.name, self.batch = tracer, name, batch

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({
                "name": self.name,
                "start": time.time(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "batch": self.batch,
            })
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.time()
            t._stack.pop()


# --------------------------------------------------------------------------
# Spark's own numbers


def progress_rows(progress) -> list[dict]:
    """Progress entries of micro-batches that read at least one row."""
    return [p for p in progress if int(p.get("numInputRows") or 0) > 0]


def phase_ms(progress: list[dict], phase: str) -> list[float]:
    return [
        float((p.get("durationMs") or {}).get(phase, 0.0)) for p in progress
    ]


def rest_stages(spark) -> list[dict]:
    """Completed stages from the UI REST API (needs SPARK_GRAFT_UI=true)."""
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
