"""Single scaling-protocol measurement for the FUSED corpus-prep job:
run the whole pipeline (extract -> clean -> gate -> paragraph dedup ->
document dedup -> split -> pack) in THIS process at a given parallelism
and print one JSON line.

Same methodology as tools/scale_run.py (BASELINE.md sandbox protocol):
caller pins cores via taskset, a small warm-up pipeline run spawns the
Python workers before timing, and stage partition counts are FIXED
across parallelism levels (input splits are data-determined on a real
cluster, not cluster-size-determined). The extraction-only proxy
(scale_run.py) stresses the narrow decode path; this one adds the
shuffle-heavy dedup/split/pack stages, which scale differently — the
dedup exchanges are bandwidth-bound where decode is CPU-bound.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--parts", type=int, default=128)
    # Like --parts, shuffle granularity is data-determined on a real
    # cluster, not cluster-size-determined: fixing it across parallelism
    # levels keeps per-partition shuffle volume (and spill behavior)
    # identical on both legs. AQE still coalesces small exchanges below
    # this ceiling the same way at either level. 0 = legacy cpus-matched.
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    args = ap.parse_args()

    from pdf_extract_spark.plans.corpus import run_corpus_prep
    from pdf_extract_spark.session import get_spark
    from pdf_extract_spark.sources.synth_pages import synth_pages

    spark = get_spark(master=f"local[{args.cpus}]",
                      app_name=f"corpus-scale-{args.cpus}",
                      shuffle_partitions=(args.shuffle_partitions
                                          or args.cpus))
    try:
        if not args.no_warmup:
            warm_dir = f"{args.out}_warm"
            shutil.rmtree(warm_dir, ignore_errors=True)
            run_corpus_prep(spark, warm_dir,
                            pages=synth_pages(spark, 1000,
                                              partitions=args.cpus))
            shutil.rmtree(warm_dir, ignore_errors=True)

        pages = spark.read.parquet(args.pages)
        shutil.rmtree(args.out, ignore_errors=True)
        t0 = time.monotonic()
        stats = run_corpus_prep(spark, args.out, pages=pages,
                                num_partitions=args.parts)
        wall = time.monotonic() - t0
        n_in = stats["stages"]["extract"]["n_in"]
        print(json.dumps({
            "cpus": args.cpus, "docs": n_in,
            "wall_s": round(wall, 2),
            "docs_per_s": round(n_in / wall, 1),
            "stage_walls": {s: round(v.get("wall_s", 0.0), 2)
                            for s, v in stats["stages"].items()},
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
