"""KG pipeline benchmark.

    python3 kgbench/run.py --workload append --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. One process is one closed-loop client:
after set-up it runs ``KGPipeline.run(resume=False)`` on a fresh store, back
to back, until ``--seconds`` of runs have been measured (at least one), on
``local[<usable cores>]`` with no other work in the process. Every run's
checksum must equal the workload's expected value, and precision and recall
of the output against the pure-Python oracle must both be at least 0.95.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of traced runs, interleaved with untraced runs so the tracing
overhead can be read off. Progress goes to stderr; the last stdout line is
the result, a JSON object with ``correct``, ``attempted`` (timed pipeline
runs), ``failed`` (runs that raised or produced another checksum, so
``failed / attempted`` is the error rate) and ``metrics``. The exit code is
0 only if every check passed.

Everything the benchmark writes stays under ``.kgbench_work/`` in the
checkout and is removed on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from kgbench.collector import Counters, SparkCounters, summarize  # noqa: E402
from kgbench.spec import END_TO_END, PER_LAYER, UNITS  # noqa: E402

# pinned run settings (kgbench/README.md)
DRIVER_MEM = "3g"  # the pipeline's 24g default exceeds a 15 GB box
MIN_QUALITY = 0.95


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["append", "wide_vocab"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(scratch: str, cores: int) -> dict[str, str]:
    """Point every temporary file of Python, the JVMs and Spark into
    ``scratch``; return the Spark settings the session is built with."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # every JVM the launcher starts: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway JVM ends when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


@dataclass
class Run:
    pipe: object
    metrics: dict
    run_s: float
    totals: Counters  # over the whole run
    new_triples: int

    @property
    def checksum(self) -> str:
        return self.metrics["materialize"]["checksum"]


class Bench:
    def __init__(self, spark, args, scratch: str, cores: int) -> None:
        from kgbench.workloads import WORKLOADS

        self.spark = spark
        self.args = args
        self.scratch = scratch
        self.cores = cores
        self.counters = SparkCounters(spark)
        self.workload = WORKLOADS[args.workload](spark, scratch, args.seed)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._n = 0
        self.last: Run | None = None  # the newest run; only its store is kept

    def timed_run(self, tracer=None) -> Run | None:
        """One pipeline run on a fresh store. Only ``run()`` is timed;
        preparing the store and reading the status store are not."""
        self._n += 1
        self.attempted += 1
        workdir = os.path.join(self.scratch, f"run{self._n}")
        try:
            pipe = self.workload.pipeline(workdir)
            if tracer is not None:
                tracer.attach(pipe)
            # start every run from a collected heap on both sides of py4j
            gc.collect()
            self.spark._jvm.System.gc()
            m0 = self.counters.mark()
            t0 = time.perf_counter()
            metrics = pipe.run(resume=False)
            run_s = time.perf_counter() - t0
            m1 = self.counters.mark()
        except Exception:  # a failed run is counted, and the loop goes on
            traceback.print_exc()
            self.failed += 1
            self.notes.append(f"run {self._n} raised")
            return None
        totals = summarize(self.counters.stages_between(m0, m1), m0, m1)
        run = Run(pipe, metrics, run_s, totals, self.workload.new_triples(metrics))
        if run.checksum != self.workload.expected:
            self.failed += 1
            self.notes.append(
                f"run {self._n}: checksum {run.checksum} != {self.workload.expected}"
            )
        # keep only the newest store: it is the output P/R is read from
        if self.last is not None:
            shutil.rmtree(self.last.pipe.workdir, ignore_errors=True)
        self.last = run
        log(
            f"run {self._n}{' traced' if tracer else ''}: {run_s:.3f} s, "
            f"{totals.jobs} jobs, checksum {run.checksum}"
        )
        return run

    def quality(self, run: Run) -> tuple[float, float]:
        """Precision and recall of the output triple set against the oracle,
        computed once, outside any timed region."""
        import pandas as pd

        from importtoneo4j_spark.oracle import Oracle, precision_recall

        engine = {
            (r["subj"], r["pred"], r["obj"])
            for r in run.pipe.triples().select("subj", "pred", "obj").collect()
        }
        # the oracle reads the same files the pipeline was given
        turns = pd.read_parquet(self.workload.input)
        oracle = Oracle(turns, self.workload.generator.alias_truth())
        p, r = precision_recall(engine, oracle.triple_set())
        if p < MIN_QUALITY or r < MIN_QUALITY:
            self.notes.append(f"precision {p:.4f} / recall {r:.4f} below {MIN_QUALITY}")
        return p, r

    def domain_counters(self, run: Run) -> dict[str, float]:
        """Counters the stages record, read after the run; the hot-bucket
        count runs Spark jobs, so it comes after the run's last mark."""
        from importtoneo4j_spark.operators.link import lsh_dropped_buckets

        m = run.metrics
        return {
            "ingest.valid": m["ingest"]["valid"],
            "ingest.rejected": m["ingest"]["rejected"],
            "extract.assertions": m["extract"]["assertions"],
            "link.vocab": m["link"]["vocab"],
            "link.edges": m["link"]["edges"],
            "link.hot_buckets_dropped": lsh_dropped_buckets(
                run.pipe.store.read("link_sig")
            ).count(),
            "canonicalize.entities": m["canonicalize"]["entities"],
            "canonicalize.stale_surfaces": m["canonicalize"].get("stale_surfaces", 0),
            "materialize.triples": m["materialize"]["triples"],
            "materialize.nodes": m["materialize"]["nodes"],
        }

    def measure(self, start_s: float) -> tuple[bool, dict[str, float]]:
        from kgbench.tracing import Tracer

        wl = self.workload
        log(f"set-up: {wl.name}, seed {self.args.seed}, {self.cores} cores")
        wl.set_up()
        setup_s = time.perf_counter() - T_START
        log(f"set-up done in {setup_s:.1f} s (warm-up {wl.warmup_s:.1f} s)")

        plain: list[Run] = []
        traced: list[tuple[Run, dict]] = []
        t_loop = time.perf_counter()
        # a traced process needs one run of each kind; a failed run is
        # retried a few times, then the result reports the failure
        while time.perf_counter() - t_loop < self.args.seconds or (
            self.args.trace and not (plain and traced) and self.attempted < 4
        ):
            # traced first: its run takes the slot the untraced mode times
            if self.args.trace and len(traced) <= len(plain):
                tracer = Tracer(self.counters)
                run = self.timed_run(tracer)
                if run is not None:
                    layers = tracer.layer_metrics(self.cores)
                    layers.update(self.domain_counters(run))
                    traced.append((run, layers))
            else:
                run = self.timed_run()
                if run is not None:
                    plain.append(run)
        if not plain or (self.args.trace and not traced):
            return False, {}
        t_quality = time.perf_counter()
        precision, recall = self.quality(self.last)
        log(f"quality check took {time.perf_counter() - t_quality:.1f} s")

        if not self.args.trace:
            run_s = statistics.median(r.run_s for r in plain)
            metrics = {
                "setup_s": setup_s,
                "run_s": run_s,
                "triples_per_s": statistics.median(r.new_triples for r in plain) / run_s,
                "spark_jobs": statistics.median(r.totals.jobs for r in plain),
                "shuffle_mb": statistics.median(r.totals.shuffle_write_mb for r in plain),
                "written_mb": statistics.median(r.totals.output_mb for r in plain),
                "triple_precision": precision,
                "triple_recall": recall,
            }
        else:
            metrics = {
                name: statistics.median(layers[name] for _, layers in traced)
                for name in traced[0][1]
            }
            t_run = statistics.median(r.run_s for r, _ in traced)
            u_run = statistics.median(r.run_s for r in plain)
            t_jobs = statistics.median(r.totals.jobs for r, _ in traced)
            u_jobs = statistics.median(r.totals.jobs for r in plain)
            if t_jobs != u_jobs:
                self.notes.append(f"tracing changed the job count: {t_jobs} != {u_jobs}")
            metrics.update(
                {
                    "session.start_s": start_s,
                    "session.warmup_s": wl.warmup_s,
                    "trace.overhead_s": t_run - u_run,
                    "trace.traced_run_s": t_run,
                    "trace.untraced_run_s": u_run,
                    "trace.traced_jobs": t_jobs,
                    "trace.untraced_jobs": u_jobs,
                }
            )
        log(f"precision {precision:.4f}, recall {recall:.4f}")
        return not self.notes, metrics


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "importtoneo4j_spark")):
        log(f"no importtoneo4j_spark package under {ROOT}: nothing to benchmark")
        return 2
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".kgbench_work")
    scratch = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    conf = pin_environment(scratch, cores)
    spark = None
    try:
        from importtoneo4j_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "kgbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
        )
        start_s = time.perf_counter() - t0
        bench = Bench(spark, args, scratch, cores)
        correct, metrics = bench.measure(start_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another benchmark process still uses it
    if args.trace:
        # the JVM has exited and been waited for, so its peak RSS is in
        # the children's usage
        rss_kb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
        metrics["session.jvm_peak_rss_mb"] = rss_kb / 1024.0
    wanted = [n for n, *_ in (PER_LAYER if args.trace else END_TO_END)]
    missing = [n for n in wanted if n not in metrics]
    if missing:
        bench.notes.append(f"metrics missing: {missing}")
        correct = False
    for note in bench.notes:
        log(f"FAILED CHECK: {note}")
    result = {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            n: {"value": metrics[n], "unit": UNITS[n]} for n in wanted if n in metrics
        },
    }
    for n, m in result["metrics"].items():
        log(f"{n} = {m['value']} {m['unit']} (samples: {bench.attempted})")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
