"""Spans around the calls into each layer, with per-span runtime
statistics read back from Spark's status store.

A span tags every Spark job it triggers with the job group
``<workload>.<span>``.  Spans nest: a job belongs to the innermost open
span, and leaving a span restores its parent's group.  A span may also
name *inputs*: spans whose layers it re-executed because Spark is lazy.
A span's self time is its wall time minus its children's wall time and
minus its inputs' self times, so the self times of one traced pass add
up to the pass's wall time.

Spans are kept in memory; ``Tracer.report`` reads the status store once,
after the traced pass, and returns the spans and their metrics.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# Per-span quantities, in the order BENCHMARK.json lists them.
QUANTITIES = ("self_s", "jobs", "stages", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb")

# Every span any workload records; a workload reports 0 for the others.
SPANS = (
    "sources.read",
    "sources.write",
    "branch_a",
    "cleaning",
    "features",
    "assembly",
    "submission.build",
    "dedup.band",
    "dedup.verify",
    "execution",
)

# Per-layer counts; a workload reports 0 for those it has no layer for.
COUNTS = (
    "inference.rows_scored",
    "dedup.candidates",
    "dedup.pairs",
    "dedup.useful_ratio",
    "features.codegen_fallbacks",
    "trace.overhead_s",
)

# Spark's codegen fallback messages (logged once per compiled plan).
CODEGEN_FALLBACK_MARKERS = ("grows beyond 64 KB", "Whole-stage codegen disabled")


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def group(self, name: str) -> str:
        return f"{self.workload}.{name}"

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(name), self.group(name))

    @contextmanager
    def span(self, name: str, inputs: tuple[str, ...] = ()):
        parent = self._stack[-1] if self._stack else None
        self._set_group(name)
        self._stack.append(name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(
                {"name": name, "parent": parent, "inputs": list(inputs), "start": start, "end": end}
            )

    @contextmanager
    def counting(self):
        """Jobs that only count outputs: tagged ``<workload>.counts``,
        outside every span."""
        self._set_group("counts")
        try:
            yield
        finally:
            self._set_group(None)

    def probe(self, probes) -> None:
        """Run each ``(name, build, inputs)`` probe to the noop sink twice.
        The first round, tagged ``<workload>.warmup`` and not recorded,
        compiles the probes' plans, so the measured round is as warm as
        the executions it is compared with.  ``build()`` makes the
        DataFrame inside the span because building can run jobs too: with
        adaptive execution, a lazy ``localCheckpoint`` runs its input's
        shuffle stages when it is created."""
        self._set_group("warmup")
        try:
            for _, build, _ in probes:
                _noop(build())
        finally:
            self._set_group(None)
        for name, build, inputs in probes:
            with self.span(name, inputs):
                _noop(build())

    def self_times(self) -> dict[str, float]:
        """Self wall time per span name (summed over a name's spans)."""
        out: dict[str, float] = {}

        def resolve(name: str) -> float:
            if name not in out:
                own = [s for s in self.spans if s["name"] == name]
                t = sum(s["end"] - s["start"] for s in own)
                t -= sum(c["end"] - c["start"] for c in self.spans if c["parent"] == name)
                t -= sum(resolve(i) for s in own for i in s["inputs"])
                out[name] = t
            return out[name]

        for s in self.spans:
            resolve(s["name"])
        return out

    def group_stats(self) -> dict[str, dict[str, float]]:
        """Jobs, stages, tasks, executor run time, shuffle write and disk
        spill per span, from the status store's job-group tags."""
        store = self.sc._jsc.sc().statusStore()
        groups = {self.group(s["name"]): s["name"] for s in self.spans}
        stats = {n: {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                     "shuffle_write_mb": 0.0, "spill_mb": 0.0} for n in groups.values()}
        stage_span: dict[int, str] = {}
        for job in _seq(store.jobsList(None)):
            g = job.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            name = groups[g.get()]
            stats[name]["jobs"] += 1
            for sid in _seq(job.stageIds()):
                stage_span[sid] = name
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
            name = stage_span.get(st.stageId())
            if name is None or str(st.status()) != "COMPLETE":
                continue
            s = stats[name]
            s["stages"] += 1
            s["tasks"] += st.numCompleteTasks()
            s["executor_run_s"] += st.executorRunTime() / 1000.0
            s["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            s["spill_mb"] += st.diskBytesSpilled() / 2**20
        return stats

    def report(self) -> tuple[dict[str, float], list[dict]]:
        """(flat per-layer metrics for every span in SPANS, span records)."""
        selfs = self.self_times()
        stats = self.group_stats()
        metrics: dict[str, float] = {}
        for name in SPANS:
            metrics[f"{name}.self_s"] = selfs.get(name, 0.0)
            for q in QUANTITIES[1:]:
                metrics[f"{name}.{q}"] = stats.get(name, {}).get(q, 0)
        return metrics, list(self.spans)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _seq(obj):
    """Iterate a Scala ``Seq`` or Java ``List`` returned through py4j."""
    n = obj.size()
    return (obj.apply(i) if hasattr(obj, "apply") else obj.get(i) for i in range(n))


def count_log_lines(path: str, markers: tuple[str, ...]) -> int:
    """Lines of the driver log holding any of ``markers``."""
    with open(path, "rb") as f:
        text = f.read().decode("utf-8", "replace")
    return sum(1 for line in text.splitlines() if any(m in line for m in markers))
