"""Spark job and stage counters read from Spark's status store.

The collector never runs a Spark action: it drains the listener bus and reads
``AppStatusStore``, which Spark keeps with the UI disabled too. A mark is
the newest job id and stage id the store has seen; the work between two
marks is every job and stage whose id lies between them. Job and stage ids
are handed out in submission order, so diffing by id stays exact when the
store evicts old entries (``spark.ui.retainedStages``), where diffing list
lengths would not.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

MB = 1024 * 1024

# stages that ran; SKIPPED stages reuse an earlier shuffle and PENDING ones
# never started
_RAN = {"COMPLETE", "FAILED", "ACTIVE"}


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int


@dataclass
class Counters:
    """Sums over the stages of one interval (bytes reported in MB)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_ms: int = 0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


@dataclass(frozen=True)
class StageRow:
    stage_id: int
    status: str
    tasks: int
    exec_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    input: int
    output: int


class SparkCounters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        # stageList(statuses, details, withSummaries, unsortedQuantiles,
        # taskStatus) -- Spark 4.x; every argument must be passed from py4j
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage_list(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> Mark:
        """Newest job and stage id after every posted event is processed.
        Both lists come newest first."""
        self._drain()
        jobs = self._store.jobsList(None)
        stages = self._stage_list()
        return Mark(
            job=jobs.apply(0).jobId() if jobs.size() else -1,
            stage=stages.apply(0).stageId() if stages.size() else -1,
        )

    def stages_between(self, a: Mark, b: Mark) -> list[StageRow]:
        """Every stage attempt with ``a.stage < id <= b.stage``."""
        self._drain()
        seq = self._stage_list()
        rows = []
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= a.stage:
                break  # newest first: everything after is older
            if sid > b.stage:
                continue
            rows.append(
                StageRow(
                    stage_id=sid,
                    status=s.status().toString(),
                    tasks=s.numCompleteTasks(),
                    exec_ms=s.executorRunTime(),
                    shuffle_write=s.shuffleWriteBytes(),
                    shuffle_read=s.shuffleReadBytes(),
                    spill=s.diskBytesSpilled(),
                    input=s.inputBytes(),
                    output=s.outputBytes(),
                )
            )
        return rows


def summarize(rows: list[StageRow], a: Mark, b: Mark) -> Counters:
    ran = [r for r in rows if r.status in _RAN and a.stage < r.stage_id <= b.stage]
    return Counters(
        jobs=b.job - a.job,
        stages=len({r.stage_id for r in ran}),
        tasks=sum(r.tasks for r in ran),
        exec_ms=sum(r.exec_ms for r in ran),
        shuffle_write_mb=sum(r.shuffle_write for r in ran) / MB,
        shuffle_read_mb=sum(r.shuffle_read for r in ran) / MB,
        spill_mb=sum(r.spill for r in ran) / MB,
        input_mb=sum(r.input for r in ran) / MB,
        output_mb=sum(r.output for r in ran) / MB,
    )
