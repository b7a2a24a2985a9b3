"""Measurement plumbing that sits outside the engine.

- ``ProgressLog``: a ``StreamingQueryListener`` that keys progress events by
  query ``runId``, so a late event from an earlier query is never counted
  for the query being measured. Registered in every run: the batch
  latencies come from it.
- ``Tracer``: in-memory spans (name, start, end, parent id, thread) for the
  traced run, installed by wrapping engine functions at their call sites.
  Nothing here is installed in an untraced run.
- ``Py4JCounter``: counts Py4J client sends (Python -> JVM round trips).
- ``SparkRest``: reads jobs and stages from the Spark monitoring REST API.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def parse_ts(s: str) -> float:
    """Epoch seconds from a Spark timestamp: progress uses ``...Z``, the
    REST API ``...GMT``."""
    s = s.replace("GMT", "").replace("Z", "")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


class ProgressLog(StreamingQueryListener):
    def __init__(self):
        self._lock = threading.Lock()
        self.by_run: dict[str, list] = {}
        self.source_of: dict[str, str] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            run = str(p.runId)
            self.by_run.setdefault(run, []).append(p)
            if p.sources:
                self.source_of.setdefault(run, p.sources[0].description)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def runs_reading(self, source_dir: str) -> list[str]:
        """RunIds of queries whose file source is ``source_dir``."""
        with self._lock:
            return [r for r, d in self.source_of.items() if d.rstrip("]").endswith(source_dir)]

    def wait_batches(self, source_dir: str, n: int, timeout: float = 60.0) -> list:
        """Progress of the one query that read ``source_dir``, once ``n``
        batches with input have arrived (the listener is asynchronous)."""
        deadline = time.monotonic() + timeout
        while True:
            runs = self.runs_reading(source_dir)
            with self._lock:
                got = [p for r in runs for p in self.by_run[r] if p.numInputRows > 0]
            if len(runs) == 1 and len(got) >= n:
                return sorted(got, key=lambda p: p.batchId)
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"{len(got)} of {n} batches from {len(runs)} queries on {source_dir}"
                )
            time.sleep(0.05)


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "thread": threading.get_ident(),
            "t0": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, result=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``result(span, value)``
        may record facts about the return value."""
        fn = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if result is not None:
                    result(rec, out)
                return out

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (c["t0"], c["t1"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, end = 0.0, span["t0"]
        for t0, t1 in kids:
            t0 = max(t0, end)
            if t1 > t0:
                covered += t1 - t0
                end = t1
        return (span["t1"] - span["t0"] - covered) * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Py4JCounter:
    """Counts calls of the Py4J client's ``send_command`` (one per round trip)."""

    def __init__(self, spark):
        self.n = 0
        self._cls = type(spark.sparkContext._gateway._gateway_client)
        self._orig = self._cls.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            counter.n += 1
            return counter._orig(client, *args, **kwargs)

        self._cls.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


class SparkRest:
    """Jobs and stages of this application from the monitoring REST API."""

    def __init__(self, spark):
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        """Latest attempt of each stage, by stage id."""
        out: dict[int, dict] = {}
        for s in self._get("/stages"):
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out
