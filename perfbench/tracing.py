"""Tracing for the traced benchmark run (``--trace 1``).

Two sources, both kept outside the program:

* spans recorded in memory around the public calls of the ``sources``,
  ``checkpoint`` and ``pipeline`` layers (the methods are wrapped from
  here at run time, nothing in ``ves_spark`` changes) and around the
  benchmark's own operations, written out as JSON when the run ends;
* Spark's own event log (``spark.eventLog.enabled``), parsed after the
  session stops, for job, stage and task counts, executor time,
  shuffle bytes and spill, per job group.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, cls, method: str, name) -> None:
        """Record a span around every call of ``cls.method``; ``name`` is
        a string or a function of the call's arguments."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)

        setattr(cls, method, traced)

    def install_program_wrappers(self) -> None:
        from ves_spark.checkpoint import LineageStore
        from ves_spark.pipeline import Pipeline
        from ves_spark.sources.catalog import ParquetCatalog

        self.wrap(
            ParquetCatalog,
            "overwrite_partitions",
            lambda self_, df, name, *a, **k: f"sources.write.{name}",
        )
        self.wrap(ParquetCatalog, "read", "sources.read")
        self.wrap(ParquetCatalog, "read_files", "sources.read")
        self.wrap(ParquetCatalog, "delete_partitions", "sources.delete")
        for m in ("append", "read", "pending_work", "discovery_delta"):
            self.wrap(LineageStore, m, f"checkpoint.{m}")
        self.wrap(Pipeline, "discover", "pipeline.discover")
        self.wrap(Pipeline, "run", "pipeline.run")

    # ------------------------------------------------ sums over the spans
    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def _under(self, s: dict, root: int | None) -> bool:
        p = s["id"]
        while p is not None:
            if p == root:
                return True
            p = self.spans[p]["parent"]
        return False

    def total(self, name: str, under: int | None = None) -> float:
        """Summed duration of the spans called ``name``, optionally only
        those inside span ``under``."""
        return sum(
            self.dur(s)
            for s in self.spans
            if s["name"] == name and (under is None or self._under(s, under))
        )

    def unattributed(self, name: str) -> tuple[float, float]:
        """(wall, wall not covered by direct child spans) summed over
        every span called ``name``."""
        wall = cover = 0.0
        for s in (s for s in self.spans if s["name"] == name):
            wall += self.dur(s)
            cover += sum(self.dur(c) for c in self.spans if c["parent"] == s["id"])
        return wall, wall - cover

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def parse_event_log(log_dir: str) -> dict:
    """Totals and per-job-group job counts from a Spark event log dir."""
    files = sorted(glob.glob(f"{log_dir}/*"))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    tot = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0,
        "shuffle_read_b": 0,
        "shuffle_write_b": 0,
        "spill_b": 0,
    }
    jobs_by_group: dict[str, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tot["jobs"] += 1
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        jobs_by_group[grp] = jobs_by_group.get(grp, 0) + 1
                elif kind == "SparkListenerStageCompleted":
                    tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tot["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tot["executor_run_ms"] += m.get("Executor Run Time", 0)
                    tot["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    tot["shuffle_write_b"] += wr.get("Shuffle Bytes Written", 0)
                    tot["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["executor_run_ms"] / 1000.0,
        "spark.shuffle_read_mb": tot["shuffle_read_b"] / mb,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / mb,
        "spark.spill_mb": tot["spill_b"] / mb,
        "jobs_by_group": jobs_by_group,
    }
