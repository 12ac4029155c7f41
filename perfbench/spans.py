"""Spans around the engine's layer entry points, for the traced run.

``Tracer.install()`` wraps the public entry points of each layer from
here, outside the program. Each span records (name, start, end,
parent) in memory and sets the Spark job group to the span's id, so
every job issued while the span is innermost -- including the jobs
Spark starts from its own executor threads, which inherit the group --
is attributed to it. After the run, ``harvest()`` reads job and stage
metrics from Spark's status store (reachable with the UI disabled) and
``layer_metrics()`` folds spans and stages into per-layer numbers.

Operators whose ``run`` only builds a lazy plan (drift, the histogram
frames, the resume skip list) would otherwise show no work:
the traced run persists and counts what they return inside their span,
so their jobs run there instead of later in the suite. The work moves,
it is not repeated; the tracing overhead (traced minus untraced run
wall) bounds the distortion.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

NS = 1e-9
MS = 1e-3


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    count: int | None = None  # rows the forced result held
    files: int = 0  # files a write left behind

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    stages: int = 0
    jobs: int = 0

    def add(self, other: "StageStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _force(result) -> int | None:
    """Persist and count every DataFrame in an operator's result."""
    if isinstance(result, DataFrame):
        return result.persist().count()
    if isinstance(result, (tuple, list)):
        counts = [_force(x) for x in result]
        counts = [c for c in counts if c is not None]
        return sum(counts) if counts else None
    return None


def _data_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    stage_by_span: dict[int, StageStats] = field(default_factory=dict)
    _undo: list = field(default_factory=list)

    # ------------------------------------------------------------ spans

    def _set_group(self) -> None:
        sid = self.stack[-1]
        self.spark.sparkContext.setJobGroup(f"perfbench-{sid}", self.spans[sid].name)

    def open(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, parent, time.monotonic())
        self.spans.append(span)
        self.stack.append(span.id)
        self._set_group()
        return span

    def close(self, span: Span) -> None:
        span.end = time.monotonic()
        self.stack.pop()
        if self.stack:
            self._set_group()
        else:
            self.spark.sparkContext._jsc.clearJobGroup()  # noqa: SLF001

    def wrap(self, owner, attr: str, name: str, force: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned version. For module-level
        functions, every loaded engine module holding the same object by
        a ``from ... import`` binding is patched too."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            span = self.open(name)
            try:
                out = orig(*args, **kwargs)
                if force:
                    span.count = _force(out)
                if name == "sources.write":
                    ref = args[1] if len(args) > 1 else kwargs["ref"]
                    if os.path.isdir(ref):
                        span.files = _data_files(ref)
                return out
            finally:
                self.close(span)

        holders = [owner]
        if not isinstance(owner, type):
            holders += [
                m
                for n, m in list(sys.modules.items())
                if n.startswith("bigdime_spark") and m is not owner and getattr(m, attr, None) is orig
            ]
        for h in holders:
            setattr(h, attr, spanned)
            self._undo.append((h, attr, orig))

    def install(self) -> None:
        from bigdime_spark.operators import stats
        from bigdime_spark.operators.decode import DecodeIntegrity
        from bigdime_spark.operators.drift import DriftCheck
        from bigdime_spark.operators.keyed import KeyedSnapshotPass
        from bigdime_spark.plans.lineage import LineageStore
        from bigdime_spark.plans.suite import ValidationSuite
        from bigdime_spark.sources import tables

        self.wrap(ValidationSuite, "run", "plans.suite")
        self.wrap(DecodeIntegrity, "run", "operators.decode", force=True)
        self.wrap(KeyedSnapshotPass, "run", "operators.keyed", force=True)
        self.wrap(DriftCheck, "run", "operators.drift", force=True)
        self.wrap(stats, "histogram_frames", "operators.stats", force=True)
        self.wrap(LineageStore, "validated_parts", "plans.lineage.resume", force=True)
        self.wrap(LineageStore, "append", "plans.lineage.append")
        self.wrap(tables, "read_table", "sources.read")
        self.wrap(tables, "write_table", "sources.write")

    def uninstall(self) -> None:
        for h, attr, orig in reversed(self._undo):
            setattr(h, attr, orig)
        self._undo.clear()

    # ---------------------------------------------------- status store

    def harvest(self) -> None:
        """Attribute every completed stage to the span whose job group
        issued the first job that ran it."""
        sc = self.spark.sparkContext
        jvm = sc._jvm  # noqa: SLF001
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        jobs = store.jobsList(None)
        stage_span: dict[int, int] = {}
        jobs_per_span: dict[int, int] = {}
        for i in sorted(range(jobs.size()), key=lambda i: jobs.apply(i).jobId()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith("perfbench-"):
                continue
            sid = int(str(group.get()).split("-", 1)[1])
            jobs_per_span[sid] = jobs_per_span.get(sid, 0) + 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_span.setdefault(int(ids.apply(k)), sid)
        no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = stage_span.get(int(st.stageId()))
            if sid is None or str(st.status().toString()) != "COMPLETE":
                continue
            acc = self.stage_by_span.setdefault(sid, StageStats())
            acc.add(
                StageStats(
                    run_s=st.executorRunTime() * MS,
                    cpu_s=st.executorCpuTime() * NS,
                    gc_s=st.jvmGcTime() * MS,
                    input_records=st.inputRecords(),
                    output_bytes=st.outputBytes(),
                    shuffle_write_bytes=st.shuffleWriteBytes(),
                    spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    tasks=st.numCompleteTasks(),
                    stages=1,
                )
            )
        for sid, n in jobs_per_span.items():
            self.stage_by_span.setdefault(sid, StageStats()).jobs += n

    # ----------------------------------------------------------- layers

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.id)
        return kids

    def inclusive(self, sid: int) -> StageStats:
        kids = self._children()
        acc = StageStats()
        todo = [sid]
        while todo:
            cur = todo.pop()
            acc.add(self.stage_by_span.get(cur, StageStats()))
            todo += kids.get(cur, [])
        return acc

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def wall(self, name: str) -> float:
        return sum(s.wall for s in self.named(name))

    def stats(self, name: str) -> StageStats:
        acc = StageStats()
        for s in self.named(name):
            acc.add(self.inclusive(s.id))
        return acc

    def self_wall(self, name: str, minus: tuple[str, ...]) -> float:
        """Span wall minus its child spans named in ``minus``."""
        kids = self._children()
        total = 0.0
        for s in self.named(name):
            total += s.wall - sum(
                self.spans[k].wall
                for k in kids.get(s.id, [])
                if self.spans[k].name in minus
            )
        return total


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(t: Tracer, read_bytes: int, payload_bytes: int, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced run, keyed ``<module>.<metric>``.

    ``read_bytes`` is what the driver JVM read during the run;
    ``payload_bytes`` is the on-disk size of the snapshot partitions the
    run validates (the denominator of ``read_bytes_per_payload_byte``)."""
    run = t.stats("cli")
    suite = t.stats("plans.suite")
    decode = t.stats("operators.decode")
    resume = t.named("plans.lineage.resume")
    operators = ("operators.decode", "operators.keyed", "operators.drift", "operators.stats")
    return {
        "sources.read_bytes": read_bytes,
        "sources.read_bytes_per_payload_byte": _ratio(read_bytes, payload_bytes),
        "sources.write_s": t.wall("sources.write"),
        "sources.write_bytes": t.stats("sources.write").output_bytes,
        "sources.write_files": sum(s.files for s in t.named("sources.write")),
        "plans.lineage.resume_s": t.wall("plans.lineage.resume"),
        "plans.lineage.append_s": t.wall("plans.lineage.append"),
        "plans.lineage.parts_skipped": sum(s.count or 0 for s in resume),
        "plans.suite.run_s": t.wall("plans.suite"),
        "plans.suite.self_s": t.self_wall("plans.suite", minus=operators + ("plans.lineage.resume", "plans.lineage.append")),
        "plans.suite.spark_jobs": suite.jobs,
        "plans.suite.spark_stages": suite.stages,
        "plans.suite.spark_tasks": suite.tasks,
        "operators.decode.s": t.wall("operators.decode"),
        "operators.decode.executor_cpu_s": decode.cpu_s,
        "operators.decode.task_s": decode.run_s,
        "operators.decode.images": decode.input_records,
        "operators.decode.images_per_task_s": _ratio(decode.input_records, decode.run_s),
        "operators.keyed.s": t.wall("operators.keyed"),
        "operators.keyed.shuffle_write_bytes": t.stats("operators.keyed").shuffle_write_bytes,
        "operators.drift.s": t.wall("operators.drift"),
        "operators.drift.shuffle_write_bytes": t.stats("operators.drift").shuffle_write_bytes,
        "operators.stats.s": t.wall("operators.stats"),
        "cli.self_s": t.self_wall("cli", minus=("plans.suite", "sources.write")),
        "spark.executor_cpu_s": run.cpu_s,
        "spark.core_busy_ratio": _ratio(run.run_s, t.wall("cli") * cores),
        "spark.gc_s": run.gc_s,
        "spark.spill_bytes": run.spill_bytes,
        "spark.shuffle_write_bytes": run.shuffle_write_bytes,
        "spark.jobs": run.jobs,
        "spark.stages": run.stages,
        "trace.run_s": t.wall("cli"),
    }
