"""Traced-run tooling: spans at layer boundaries plus Spark's stage metrics.

A span records name, start, end, parent, run id and the bytes the driver
JVM read while it was open.  While a span is open its Spark jobs carry the
job group ``<run id>/<span name>``, so after the run the Spark UI's REST
status API (``/api/v1``) attributes every stage to the span that launched
it.  Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.parse
import urllib.request

STAGE_SUMS = ("numTasks", "numFailedTasks", "numKilledTasks", "executorRunTime",
              "jvmGcTime", "inputBytes", "inputRecords", "outputBytes",
              "shuffleReadBytes", "shuffleWriteBytes", "shuffleFetchWaitTime",
              "memoryBytesSpilled", "diskBytesSpilled")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        # the UI binds SPARK_LOCAL_IP, else every interface: ask over loopback
        host = os.environ.get("SPARK_LOCAL_IP", "127.0.0.1")
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self.url = f"http://{host}:{port}"
        self.app = self.sc.applicationId
        from pyspark import SparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.spans: list[dict] = []
        self._open: list[str] = []

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as span ``name`` (child of the innermost open span)
        and tag the Spark jobs it launches with the span's job group."""
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self.sc.setJobGroup(self.group(name), name)
        read0 = self.jvm_rchar()
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            read = self.jvm_rchar() - read0
            self._open.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.group(parent), parent)
            self.spans.append({"name": name, "parent": parent,
                               "run_id": self.run_id, "start": start,
                               "end": end, "jvm_read_bytes": read})

    def jvm_rchar(self) -> int:
        """Bytes the driver JVM has read through read() calls so far
        (``rchar`` of /proc/<pid>/io): file scans, shuffle and spill reads."""
        with open(f"/proc/{self.jvm_pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
        return 0

    def read_bytes(self, name: str) -> int:
        return sum(s["jvm_read_bytes"] for s in self.spans if s["name"] == name)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Span duration minus the part of it covered by its child spans."""
        total = 0.0
        for s in (s for s in self.spans if s["name"] == name):
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == name
                          and s["start"] <= c["start"] < s["end"])
            covered, reach = 0.0, s["start"]
            for a, b in kids:
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            total += (s["end"] - s["start"]) - covered
        return total

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.url}/api/v1/applications/"
                                    f"{self.app}/{path}", timeout=30) as r:
            return json.load(r)

    def stage_metrics(self, timeout_s: float = 20.0) -> dict[str, dict]:
        """Per span name: summed stage counters, job count, and task skew
        (max / median task run time of the span's longest stage).  Waits for
        the status store to record every job of this run as finished."""
        deadline = time.monotonic() + timeout_s
        prefix = self.run_id + "/"
        while True:
            jobs = [j for j in self._get("jobs")
                    if (j.get("jobGroup") or "").startswith(prefix)]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) \
                    or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("stages")}
        out: dict[str, dict] = {}
        owned: set[int] = set()  # a reused stage counts for its first job only
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            m = out.setdefault(j["jobGroup"][len(prefix):],
                               {"jobs": 0, "stages": [], **{k: 0 for k in STAGE_SUMS}})
            m["jobs"] += 1
            for sid in set(j["stageIds"]) - owned:
                owned.add(sid)
                m["stages"] += [s for key, s in stages.items()
                                if key[0] == sid and s["status"] == "COMPLETE"]
        for m in out.values():
            done = m.pop("stages")
            for s in done:
                for k in STAGE_SUMS:
                    m[k] += s.get(k, 0) or 0
            m["task_skew"] = self._skew(done)
        return out

    def _skew(self, stages: list[dict]) -> float:
        multi = [s for s in stages if s["numTasks"] > 1]
        if not multi:
            return 1.0
        big = max(multi, key=lambda s: s["executorRunTime"])
        q = self._get(f"stages/{big['stageId']}/{big['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f,
                      indent=1, default=str)
