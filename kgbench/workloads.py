"""The benchmark's workloads: inputs, set-up and one fresh pipeline per run.

Each workload generates its inputs from the seed, warms the JVM with an
untimed run, and fixes the checksum every timed run must reproduce. The
program sees only the generated parquet files.
"""

from __future__ import annotations

import os
import shutil
import time

from importtoneo4j_spark.datagen import TranscriptGenerator
from importtoneo4j_spark.plans.pipeline import KGPipeline

from kgbench.wide_vocab import WideVocabGenerator


class Workload:
    name = ""
    generator: TranscriptGenerator
    input: str  # the transcripts a timed run reads
    n_convs: int  # conversations in that input
    expected: str  # checksum every timed run must produce
    warmup_s: float  # the cold first pipeline run

    def __init__(self, spark, workdir: str, seed: int) -> None:
        self.spark = spark
        self.workdir = workdir
        self.seed = seed

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _build(self, inp: str, name: str, run_id: str) -> dict:
        """An untimed rebuild into a fresh store."""
        return KGPipeline(self.spark, inp, self.path(name), run_id=run_id).run(
            resume=False
        )

    def set_up(self) -> None:
        raise NotImplementedError

    def pipeline(self, workdir: str) -> KGPipeline:
        """Untimed preparation of one timed run."""
        raise NotImplementedError

    def new_triples(self, metrics: dict) -> int:
        """Triples the run added to the graph."""
        return metrics["materialize"]["triples"]


class Append(Workload):
    """A store seeded with ``BASE_CONVS`` conversations, then an append of
    the superset with ten percent more. The generator's streams are
    prefix-stable, so the larger corpus is a strict superset."""

    name = "append"
    BASE_CONVS = 1_200
    N_ENTITIES = 1_500

    def set_up(self) -> None:
        self.generator = TranscriptGenerator(seed=self.seed, n_entities=self.N_ENTITIES)
        self.n_convs = self.BASE_CONVS * 11 // 10
        self.base_input = self.path("in_base")
        self.input = self.path("in_superset")
        self.generator.write_parquet(self.base_input, n_convs=self.BASE_CONVS, workers=1)
        self.generator.write_parquet(self.input, n_convs=self.n_convs, workers=1)
        t0 = time.perf_counter()
        base = self._build(self.base_input, "seeded", "base")
        self.warmup_s = time.perf_counter() - t0
        self.base_triples = base["materialize"]["triples"]
        # the reference answer: a rebuild of the same superset
        self.expected = self._build(self.input, "expected", "expect")["materialize"][
            "checksum"
        ]
        shutil.rmtree(self.path("expected"))

    def pipeline(self, workdir: str) -> KGPipeline:
        shutil.copytree(self.path("seeded"), workdir)
        return KGPipeline(self.spark, self.input, workdir, run_id="incr", mode="append")

    def new_triples(self, metrics: dict) -> int:
        return metrics["materialize"]["triples"] - self.base_triples


class WideVocab(Workload):
    """A rebuild over ``N_ENTITIES`` entities with two-token names, so the
    mention vocabulary is large and linking is data-bound."""

    name = "wide_vocab"
    N_CONVS = 300
    N_ENTITIES = 3_500

    def set_up(self) -> None:
        self.generator = WideVocabGenerator(seed=self.seed, n_entities=self.N_ENTITIES)
        self.n_convs = self.N_CONVS
        self.input = self.path("in_wide")
        self.generator.write_parquet(self.input, n_convs=self.n_convs, workers=1)
        t0 = time.perf_counter()
        warm = self._build(self.input, "warmup", "wide")
        self.warmup_s = time.perf_counter() - t0
        # every timed rebuild of the same input must reproduce it
        self.expected = warm["materialize"]["checksum"]
        shutil.rmtree(self.path("warmup"))

    def pipeline(self, workdir: str) -> KGPipeline:
        return KGPipeline(self.spark, self.input, workdir, run_id="wide")


WORKLOADS = {w.name: w for w in (Append, WideVocab)}
