"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the full KG pipeline
on deterministic synthetic transcripts sized to the scale factor, and prints
ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query timing excludes the sink: results are written to the "noop" format so
the measured cost is scan + shuffle + compute, not parquet encoding.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from importtoneo4j_spark.datagen import TranscriptGenerator
from importtoneo4j_spark.plans.pipeline import KGPipeline
from importtoneo4j_spark.session import get_spark

HEADLINE = [
    "kg_flagship",
    "q1_pricing_summary",
    "q3_unshipped_revenue",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "j7_first_wins_merge",
    "w1_stable_order_topk",
    "text_token_stats",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
]

REPO = os.path.dirname(os.path.abspath(__file__))


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_convs_for_sf(sf: float) -> int:
    # ~27.5 turns/conv; sf0.1 -> ~330k turns, sf0.01 -> ~33k
    return max(200, int(120_000 * sf))


def transcripts_path(n_convs: int) -> str:
    path = os.path.join(REPO, ".bench_data", f"convs_{n_convs}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        gen = TranscriptGenerator(seed=42, n_entities=1500)
        gen.write_parquet(path, n_convs=n_convs)
        with open(done, "w") as fh:
            fh.write("ok")
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_from_dir(sf_dir)
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (plan + JIT)
        t0 = time.time()
        df2 = queries[name](spark, sf_dir)
        df2.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        print(f"[bench] {name}: {timings[name]}s", file=sys.stderr)

    # KG pipeline end-to-end on synthetic transcripts — min-of-2 with a
    # fresh workdir per repeat (VERDICT r3 #2): the headline queries above
    # get a warm pass before their timed pass, but the pipeline used to get
    # one cold shot, which is exactly where this VM's 2-3x I/O-writeback
    # swing bites. min() of independent repeats is the noise-robust
    # estimator BENCH_SCALING.json already justifies (deterministic 1-core
    # legs => all variance is additive host noise).
    n_convs = bench_convs_for_sf(sf)
    data = transcripts_path(n_convs)
    import shutil
    import tempfile

    # tmpfs scratch (same rationale as bench_scaling.py: the sandbox's single
    # shared disk is not the per-node storage a cluster would have)
    shm_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    kg_repeats = int(os.environ.get("SPARK_GRAFT_KG_REPEATS", "2"))
    kg_sec, m = None, None
    for rep in range(kg_repeats):
        work = tempfile.mkdtemp(prefix="kg_bench_", dir=shm_root)
        pipe = KGPipeline(spark, data, work, run_id="bench")
        m_rep = pipe.run(resume=False)
        shutil.rmtree(work, ignore_errors=True)
        sec = round(m_rep["wall_sec"], 3)
        print(f"[bench] kg_pipeline rep {rep}: {sec}s", file=sys.stderr)
        if kg_sec is None or sec < kg_sec:
            kg_sec, m = sec, m_rep
    n_turns = m["ingest"]["valid"] + m["ingest"]["rejected"]
    n_triples = m["materialize"]["triples"]
    n_assertions = m["extract"]["assertions"]
    timings["kg_pipeline"] = kg_sec
    print(
        f"[bench] kg_pipeline: {kg_sec}s turns={n_turns} "
        f"assertions={n_assertions} triples={n_triples}",
        file=sys.stderr,
    )

    # Append-at-scale leg (VERDICT r4 #8): the incremental story's selling
    # point, measured at bench scale. Seed a store with the full corpus
    # (untimed), then run mode='append' with a ~10% larger input — the
    # deterministic generator's rng streams are prefix-stable, so the
    # larger corpus is a strict superset (the documented append contract:
    # re-export + new data). Reported OUTSIDE the headline total so
    # round-over-round totals stay comparable.
    n_convs_app = int(n_convs * 1.1)
    data_app = transcripts_path(n_convs_app)
    # seed the base store ONCE (untimed) and copy it per repeat — the
    # store is plain parquet dirs + JSON markers, so a file copy
    # reproduces the state at a fraction of a full pipeline build
    # (code-review round 5)
    seed = tempfile.mkdtemp(prefix="kg_append_seed_", dir=shm_root)
    KGPipeline(spark, data, seed, run_id="base").run(resume=False)
    append_sec, ma = None, None
    for rep in range(kg_repeats):  # min-of-N, like the rebuild leg
        work = tempfile.mkdtemp(prefix="kg_append_", dir=shm_root)
        shutil.rmtree(work, ignore_errors=True)
        shutil.copytree(seed, work)
        pa = KGPipeline(spark, data_app, work, run_id="incr", mode="append")
        ma_rep = pa.run(resume=False)
        shutil.rmtree(work, ignore_errors=True)
        sec = round(ma_rep["wall_sec"], 3)
        print(f"[bench] kg_append rep {rep}: {sec}s", file=sys.stderr)
        if append_sec is None or sec < append_sec:
            append_sec, ma = sec, ma_rep
    shutil.rmtree(seed, ignore_errors=True)
    # an append's ingest counters count the turns it imported
    new_turns = ma["ingest"]["valid"] + ma["ingest"]["rejected"]
    print(
        f"[bench] kg_append(+10%): {append_sec}s vs full rebuild {kg_sec}s "
        f"(new_turns~{new_turns})",
        file=sys.stderr,
    )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "kg_turns": n_turns,
        "kg_triples": n_triples,
        "kg_turns_per_sec": round(n_turns / kg_sec, 1) if kg_sec else None,
        "kg_assertions_per_sec": round(n_assertions / kg_sec, 1) if kg_sec else None,
        "kg_append_sec": append_sec,
        "kg_append_new_turns": new_turns,
        "kg_rebuild_sec": kg_sec,
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
