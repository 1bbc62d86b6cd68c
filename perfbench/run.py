"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload retention_lsm --seed 1 --seconds 10 --trace 0

Run from the repository root.  Human-readable lines (environment stamp,
workload properties, every end-to-end metric with its unit, tails with
their percentile and sample count, check verdicts) come first; the last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the gated end-to-end set of BENCHMARK.json; with
``--trace 1`` they are the per-layer set, and the span file is written
under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import os
import sys

WORKLOADS = ("retention_lsm", "crawl_drain", "corpus_batch")

# the gated end-to-end metrics (BENCHMARK.json "end_to_end"), every workload
GATED = ("setup_s", "rows_per_s", "peak_rss_mb")


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cassandra_util_spark")):
        print("perfbench: run from the repository root (no cassandra_util_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from perfbench import report
    from perfbench.harness import Ctx, env_stamp, result_line

    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), root)
    module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
    try:
        out = module.run(ctx)
        out["e2e"]["setup_s"] = (ctx.setup_s, "s")
        out["e2e"]["peak_rss_mb"] = (ctx.peak_rss_mb, "MB")
    finally:
        ctx.stop_spark()
        ctx.cleanup()

    print(env_stamp(ctx))
    if ctx.traced:
        spans = os.path.join(root, ".perfbench", f"spans-{ctx.workload}-{ctx.seed}-{os.getpid()}.jsonl")
        ctx.tracer.dump(spans, ctx.jobs)
        print(f"spans: {spans}")
    for line in report.lines(ctx, out):
        print(line)
    if ctx.traced:
        metrics = report.per_layer(ctx, out)
    else:
        metrics = {k: out["e2e"][k] for k in GATED}
    print(result_line(ctx, metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
