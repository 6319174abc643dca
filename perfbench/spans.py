"""Spans for the traced run, and Spark's own metrics read back over its
monitoring REST API.

A span is one call into a layer: name, start, end, parent span and run
id. Spans are kept in memory and written once when the run ends. A
layer's self time is its span's duration minus the part of that
interval its child spans cover. Spark stages of a traced action are
added as child spans of the action, timed by Spark.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import time
import urllib.request
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None, **attrs) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "start": start,
               "end": end, "parent": parent, "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur = 0.0, lo
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cur), min(b, hi)
                if b > a:
                    covered += b - a
                    cur = b
            out[s["name"]] += (hi - lo) - covered
        return dict(out)

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark monitoring REST API
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_STAGE = re.compile(r"\(stage (\d+)\.\d+")


def parse_metric(text: str) -> float:
    """An SQL metric as the UI formats it -> bytes, seconds or a count.
    Accumulated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value of the second line."""
    line = text.split("\n", 1)[-1].strip()
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def metric_stage(text: str) -> int | None:
    """Stage id named in an accumulated metric's max entry."""
    m = _STAGE.search(text)
    return int(m.group(1)) if m else None


def spark_time(s: str | None) -> float | None:
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class SparkRest:
    """Reads the Spark UI's ``/api/v1`` endpoints on the loopback address."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def executions(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false&length=100000")

    def last_execution_id(self) -> int:
        return max((e["id"] for e in self.executions()), default=-1)

    def stages(self, executions: list[dict]) -> list[dict]:
        """Completed stage attempts of the executions' jobs."""
        out = []
        for e in executions:
            for job in e["successJobIds"] + e["failedJobIds"]:
                for sid in self.get(f"/jobs/{job}")["stageIds"]:
                    out.extend(
                        a for a in self.get(f"/stages/{sid}")
                        if a["status"] == "COMPLETE"
                    )
        return out

    def task_list(self, stage: dict) -> list[dict]:
        return self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList"
            "?length=100000"
        )


def nodes(executions: list[dict], name: str) -> list[dict]:
    return [n for e in executions for n in e["nodes"] if n["nodeName"] == name]


def node_metric(executions: list[dict], node_name: str, metric: str) -> float:
    """Sum of one SQL metric over every node of that name."""
    return sum(
        parse_metric(m["value"])
        for n in nodes(executions, node_name)
        for m in n["metrics"] if m["name"] == metric
    )
