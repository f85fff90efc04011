"""Reader for Spark's local event log that attributes work to the
extraction pipeline's layers.

The benchmark enables ``spark.eventLog.enabled`` (uncompressed, not
rolled) for its traced runs and tags every phase it drives with a job
group (``SparkContext.setJobGroup``). This module reads the finished log
and reports, per job group:

- task totals: executor run time, JVM GC time, shuffle bytes;
- the SQL metrics of the ``MapInPandas`` nodes, told apart by the
  function name in their plan string: ``extract_text_pages`` (text
  parse), ``extract_vision_pages`` (vision and retry), ``_merge_partition``
  (per-document merge);
- the rows those nodes read, from the shuffle exchanges that feed them;
- pages produced by the page explode (``Generate explode(spans…)``).

A task belongs to a layer by the SQL metrics it updated: a task that ran
a merge node is a merge task, else one that ran a vision node is a vision
task, else a text task, else an explode task when it ran the ``Generate``
node. Tasks of a union stage run one child each, so this splits stages
that hold several layers.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

#: MapInPandas function name -> layer
UDF_LAYERS = {
    "extract_text_pages": "text",
    "extract_vision_pages": "vision",
    "_merge_partition": "merge",
}
_MIB = 2**20


@dataclass
class Task:
    stage: int
    run_ms: int
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    updates: dict[int, int]


@dataclass
class EventLog:
    #: accumulator id -> (node kind, metric name); node kind is a layer
    #: name from UDF_LAYERS, "generate", or "exchange"
    acc_kind: dict[int, tuple[str, str]] = field(default_factory=dict)
    #: "records read" accumulator ids of exchanges feeding each layer's UDF
    feeding_reads: dict[str, set[int]] = field(
        default_factory=lambda: defaultdict(set)
    )
    tasks: list[Task] = field(default_factory=list)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    jobs_per_group: dict[str | None, int] = field(
        default_factory=lambda: defaultdict(int)
    )

    # -- parsing ----------------------------------------------------------

    @classmethod
    def read(cls, path: str) -> "EventLog":
        """Parse one application's log: a file, or the single file in a
        directory (Spark names it after the application id)."""
        if os.path.isdir(path):
            names = [n for n in os.listdir(path) if not n.startswith(".")]
            if len(names) != 1:
                raise ValueError(f"expected one event log in {path}, got {names}")
            path = os.path.join(path, names[0])
        log = cls()
        with open(path) as f:
            for line in f:
                log._event(json.loads(line))
        return log

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs_per_group[group] += 1
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _plan(self, node: dict, parent_udf: str | None = None) -> None:
        name = node["nodeName"]
        text = node["simpleString"]
        metrics = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
        layer = None
        if name == "MapInPandas":
            fn = text.split(" ", 1)[1].split("(", 1)[0]
            layer = UDF_LAYERS.get(fn)
            if layer:
                for m, acc in metrics.items():
                    self.acc_kind[acc] = (layer, m)
        elif name == "Generate" and "explode(spans" in text:
            for m, acc in metrics.items():
                self.acc_kind[acc] = ("generate", m)
        elif name == "Exchange" and parent_udf and "records read" in metrics:
            self.feeding_reads[parent_udf].add(metrics["records read"])
        # the UDF's input is the first exchange below it, through query
        # stage / shuffle-read / reuse wrappers and nothing else
        passthrough = name.startswith("WholeStageCodegen") or name in (
            "ShuffleQueryStage", "AQEShuffleRead", "ReusedExchange",
            "InputAdapter", "Sort",
        )
        below = layer if layer else (parent_udf if passthrough else None)
        for child in node["children"]:
            self._plan(child, below)

    def _task(self, e: dict) -> None:
        if e["Task End Reason"]["Reason"] != "Success":
            return
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        updates = {}
        for a in e["Task Info"].get("Accumulables", []):
            try:
                updates[int(a["ID"])] = int(a["Update"])
            except (TypeError, ValueError):
                continue
        self.tasks.append(
            Task(
                stage=e["Stage ID"],
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                updates=updates,
            )
        )

    # -- attribution ------------------------------------------------------

    def _tasks_of(self, groups: tuple[str, ...]) -> list[Task]:
        return [t for t in self.tasks if self.stage_group.get(t.stage) in groups]

    def task_layer(self, t: Task) -> str:
        kinds = {self.acc_kind[a][0] for a in t.updates if a in self.acc_kind}
        for layer in ("merge", "vision", "text"):
            if layer in kinds:
                return layer
        return "explode" if "generate" in kinds else "other"

    def _sql_sum(self, tasks: list[Task], kind: str, metric: str) -> int:
        return sum(
            v
            for t in tasks
            for a, v in t.updates.items()
            if self.acc_kind.get(a) == (kind, metric)
        )

    def udf_input_rows(self, groups: tuple[str, ...], layer: str) -> int:
        """Rows the ``layer`` UDF nodes read from their input exchanges."""
        accs = self.feeding_reads.get(layer, set())
        return sum(
            v for t in self._tasks_of(groups) for a, v in t.updates.items()
            if a in accs
        )

    def jobs(self, groups: tuple[str, ...]) -> int:
        return sum(self.jobs_per_group.get(g, 0) for g in groups)

    def layer_report(self, groups: tuple[str, ...]) -> dict[str, float]:
        """Per-layer figures over every task of the given job groups."""
        tasks = self._tasks_of(groups)
        by_layer: dict[str, list[Task]] = defaultdict(list)
        for t in tasks:
            by_layer[self.task_layer(t)].append(t)

        def py(layer: str, metric: str) -> int:
            return self._sql_sum(tasks, layer, metric)

        text_runs = [t.run_ms for t in by_layer["text"]]
        skew = (
            max(text_runs) / statistics.median(text_runs)
            if text_runs and statistics.median(text_runs) > 0
            else 0.0
        )
        explode = by_layer["explode"]
        return {
            "explode.pages": float(self._sql_sum(tasks, "generate", "number of output rows")),
            "explode.exec_s": sum(t.run_ms for t in explode) / 1e3,
            "explode.shuffle_write_mib": sum(t.shuffle_write_bytes for t in explode) / _MIB,
            "text.py_run_s": py("text", "time to run Python workers") / 1e3,
            "text.py_sent_mib": py("text", "data sent to Python workers") / _MIB,
            "text.py_recv_mib": py("text", "data returned from Python workers") / _MIB,
            "text.task_skew": skew,
            "vision.py_run_s": py("vision", "time to run Python workers") / 1e3,
            "merge.py_run_s": py("merge", "time to run Python workers") / 1e3,
            "merge.py_sent_mib": py("merge", "data sent to Python workers") / _MIB,
            "merge.py_recv_mib": py("merge", "data returned from Python workers") / _MIB,
            "merge.shuffle_read_mib": sum(
                t.shuffle_read_bytes for t in by_layer["merge"]
            ) / _MIB,
            "pipeline.exec_s": sum(t.run_ms for t in tasks) / 1e3,
            "pipeline.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "pipeline.stages": float(len({t.stage for t in tasks})),
            "pipeline.shuffle_mib": sum(t.shuffle_write_bytes for t in tasks) / _MIB,
        }
