"""Round-6 optimization measurement harness (bench.py is FROZEN — this file
carries the extra instrumentation the optimization guide §1 asks for).

Usage:
  python bench_extra.py queries [name ...]   — per-query noop-sink timing,
      min-of-N (default 3), plus .explain("formatted") captured to
      plans/r06/<name>_<tag>.txt (tag via --tag, default 'cur').

Pipeline and append timings come from bench.py and kgbench/run.py.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
Prints one JSON line at the end; progress on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from importtoneo4j_spark.session import get_spark

REPO = os.path.dirname(os.path.abspath(__file__))
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


def _spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)


def run_queries(names: list[str], tag: str, repeats: int, explain: bool) -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    queries = entry_mod.queries()
    plan_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)
    out: dict[str, dict] = {}
    for name in names:
        df = queries[name](spark, sf_dir)
        if explain:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(f"{name} warm")
        df.write.format("noop").mode("overwrite").save()  # warm (plan + JIT)
        samples = []
        for rep in range(repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            # construction INSIDE the timed region — identical methodology to
            # the frozen bench.py (eager stage_persist checkpoints run at
            # construction time and must be charged to the query)
            t0 = time.time()
            d2 = queries[name](spark, sf_dir)
            d2.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(f"[extra] {name}: min={min(samples)} {samples}", file=sys.stderr)
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["queries"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="cur")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--no-explain", action="store_true")
    args = ap.parse_args()
    out = run_queries(args.names or HEADLINE, args.tag, args.repeats, not args.no_explain)
    print(json.dumps({"mode": args.mode, "result": out}))


if __name__ == "__main__":
    main()
