"""Human-readable report lines and the per-layer metric set."""

from __future__ import annotations

from perfbench.trace import median, tail

_DRAIN = [
    (f"streaming.corpus.{d}.{m}", u)
    for d in ("ingest", "encode", "windows")
    for m, u in (
        ("trigger_p50_s", "s"),
        ("jobs_per_trigger", "count"),
        ("engine_s_per_trigger", "s"),
        ("shuffle_bytes_per_trigger", "bytes"),
    )
]

# BENCHMARK.json "per_layer", in order.  A layer idle on a workload
# reports 0 there (its busy time and job count really are 0).
# streaming.corpus.ingest.late_over_early is left out: the crawl has too
# few ingest triggers without compaction for it (crawl_drain prints n/a).
PER_LAYER: list[tuple[str, str]] = [
    ("core.session.get_spark.busy_s", "s"),
    ("plans.batch.to_df.busy_s", "s"),
    ("sources.runs.append_run.busy_s", "s"),
    ("sources.runs.append_run.jobs", "count"),
    ("sources.runs.append_run.driver_s", "s"),
    ("sources.runs.maintain.busy_s", "s"),
    ("sources.runs.maintain.jobs", "count"),
    ("sources.runs.maintain.bytes_rewritten", "bytes"),
    ("sources.runs.write_amp", "ratio"),
    ("sources.runs.space_amp", "ratio"),
    ("sources.runs.read_merged.busy_s", "s"),
    ("sources.runs.read_merged.jobs", "count"),
    ("sources.runs.read_merged.driver_s", "s"),
    ("sources.runs.read_merged.shuffle_read_bytes", "bytes"),
    ("sources.runs.read_merged.runs_read_share", "ratio"),
    ("sources.runs.read_merged.rows_scanned_per_row", "ratio"),
    ("operators.convictors.create_convictor.busy_s", "s"),
    ("operators.convictors.convicted_share", "ratio"),
    ("operators.retention.run.busy_s", "s"),
    ("operators.retention.run.jobs", "count"),
    *_DRAIN,
    ("streaming.corpus.ingest.admitted_share", "ratio"),
    ("streaming.corpus.windows.storage_blocks_end", "count"),
    ("streaming.corpus.windows.storage_bytes_end", "bytes"),
    ("operators.text.gopher_quality.busy_s", "s"),
    ("operators.text.gopher_quality.jobs", "count"),
    ("operators.dedup.ngram_jaccard_pairs.busy_s", "s"),
    ("operators.dedup.ngram_jaccard_pairs.shuffle_write_bytes", "bytes"),
    ("operators.dedup.minhash_lsh_pairs.busy_s", "s"),
    ("operators.dedup.minhash_lsh_pairs.shuffle_write_bytes", "bytes"),
    ("operators.cluster.connected_components.busy_s", "s"),
    ("operators.cluster.connected_components.jobs", "count"),
    ("operators.bpe.bpe_train.busy_s", "s"),
    ("operators.bpe.bpe_train.jobs", "count"),
    ("operators.bpe.bpe_encode_ids.busy_s", "s"),
    ("operators.bpe.bpe_encode_ids.jobs", "count"),
    ("operators.packing.materialize_packed_windows.busy_s", "s"),
    ("operators.packing.materialize_packed_windows.jobs", "count"),
    ("trace.rows_per_s", "rows/s"),
]


def per_layer(ctx, out: dict) -> dict[str, tuple[float, str]]:
    got = dict(out["layer"])
    got["core.session.get_spark.busy_s"] = ctx.tracer.named("core.session.get_spark")[0].busy_s
    got["trace.rows_per_s"] = out["e2e"]["rows_per_s"][0]
    return {name: (float(got.get(name, 0.0)), unit) for name, unit in PER_LAYER}


def lines(ctx, out: dict) -> list[str]:
    res = []
    for k, v in ctx.props.items():
        res.append(f"property {k} = {v}")
    for k, (v, u) in sorted(out["e2e"].items()):
        res.append(f"metric {k} = {v:.6g} {u}")
    for k, xs in sorted(out.get("tails", {}).items()):
        p, v, n = tail(xs)
        if p is None:
            res.append(f"metric {k} = n/a (only {n} samples; a tail needs 11) s")
        else:
            res.append(f"metric {k} = {v:.6g} s (p{p:g}, n={n})")
    res.append(
        f"metric failed_share = {ctx.failed / max(1, ctx.attempted):.6g} fraction "
        f"({ctx.failed} of {ctx.attempted} operations and checks)"
    )
    names = dict.fromkeys(s.name for s in ctx.tracer.spans if s.parent is None)
    for name in names:
        t = [s.busy_s for s in ctx.tracer.named(name)]
        res.append(f"op {name}: n={len(t)} p50={median(t):.4g} s sum={sum(t):.4g} s")
    res += ctx.lines
    res += [f"problem: {p}" for p in ctx.problems]
    if ctx.traced:
        for k, (v, u) in per_layer(ctx, out).items():
            res.append(f"layer {k} = {v:.6g} {u}")
    res.append(f"verdict: {'correct' if ctx.failed == 0 else 'FAILED'}")
    return res
