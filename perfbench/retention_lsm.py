"""retention_lsm: the deleting-compaction loop on a keyed events table.

One client, closed loop.  Each cycle appends a client write batch as a
run (``WriteBatch(...).using_timestamp(...).to_df`` then
``RunStore.append_run``) and issues bounded key-range reads
(``read_merged`` written to the ``noop`` sink).  Every ``PERIOD`` cycles
a ``RetentionJob`` commits a snapshot with a backup (first cycle of the
period) and a leveled compaction runs with the rules' keep filter (last
cycle).  Set-up loads the base table as two runs, compacts them (without
rules) into the first leveled L1, and warms the append and read paths.
"""

from __future__ import annotations

import os

import pyarrow as pa

from perfbench import checks, gen
from perfbench.harness import Ctx
from perfbench.trace import job_busy_s, median, span_jobs

READS_PER_CYCLE = 2
PERIOD = 2  # cycles per period
CYCLES = 2 * PERIOD  # fixed work per run, whatever --seconds asks
READ_SPAN = 0.05  # share of the user-id range one bounded read covers
RUN_TARGET_BYTES = 96 << 10  # small, so L1 holds several runs
MIN_THRESHOLD = 2  # L0 runs that trigger an L0 -> L1 merge
SAMPLED_READS = 2  # bounded reads whose results are checked

RULES_DDL = "rulename string, column string, range struct<lo:string,hi:string>"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


class Loop:
    """The client: one method per operation, each run through ``ctx.op``
    (a span, a latency, failures counted)."""

    def __init__(self, ctx: Ctx) -> None:
        from cassandra_util_spark.core.table import TableMeta
        from cassandra_util_spark.sources.runs import RunStore
        from cassandra_util_spark.sources.snapshots import SnapshotStore

        self.ctx, self.spark = ctx, ctx.spark
        self.gen = gen.EventsGen(ctx.seed)
        self.base = self.gen.base
        self.rules = gen.rules_rows(ctx.seed, self.gen.n_users)
        self.ranges = gen.convicted_users(self.rules)
        self.rules_df = self.spark.createDataFrame(self.rules, RULES_DDL)
        self.meta = TableMeta(("user_id",), ("event_id",), "writetime")
        self.store = RunStore(ctx.path("stores", "events"), self.meta)
        self.snap = SnapshotStore(ctx.path("stores", "snapshots"))
        self.read_rnd = gen.rng_for(ctx.seed, "reads")
        self.span_users = int(self.gen.n_users * READ_SPAN)
        self.client_rows: list[dict] = []  # every client row, with its writetime
        self.wt = 0
        self.append_s: list[float] = []
        self.read_s: list[float] = []
        self.append_bytes = self.maintain_bytes = 0
        self.read_stats: list[tuple[int, int]] = []  # (runs kept by pruning, live runs)
        self.read_samples: list[tuple] = []  # (lo, hi, writetime, pandas result)
        self.retention = None  # (writetime, stats, backup path, version) of the last job

    def load(self) -> None:
        """Set-up: the base table lands as two runs, compacted (without
        rules) into the first leveled L1.  Then one client batch goes
        through ``to_df`` and ``append_run`` into a scratch store, and one
        bounded read runs, so their first-call costs fall in set-up and
        not in the first timed append and read."""
        from cassandra_util_spark.core.table import KeyedTable
        from cassandra_util_spark.plans.batch import WriteBatch
        from cassandra_util_spark.sources.runs import RunStore, maintain

        path = self.ctx.path("input", "events_base.parquet")
        self.base_bytes = gen.write_table(path, self.base, gen.EVENTS_SCHEMA)
        base_df = self.spark.read.parquet(path)
        self.schema_table = KeyedTable(base_df, self.meta)
        mid = self.base[len(self.base) // 2]["event_id"]
        self.store.append_run(base_df.filter(base_df.event_id < mid))
        self.store.append_run(base_df.filter(base_df.event_id >= mid))
        maintain(self.store, self.spark, strategy="leveled",
                 run_target_bytes=RUN_TARGET_BYTES, min_threshold=MIN_THRESHOLD)

        rows = [{k: r[k] for k in gen.EVENTS_SCHEMA.names if k != "writetime"}
                for r in self.base[:self.gen.batch_rows]]
        batch = WriteBatch(self.meta, rows=rows).using_timestamp(self.gen.batch_writetime(0))
        scratch = RunStore(self.ctx.path("stores", "warm-up"), self.meta)
        scratch.append_run(batch.to_df(self.spark, schema=gen.EVENTS_DDL))
        (self.store.read_merged(self.spark, key_lower=0, key_upper=self.span_users - 1)
         .write.format("noop").mode("overwrite").save())

    def append(self) -> None:
        from cassandra_util_spark.plans.batch import WriteBatch

        self.wt, rows = self.gen.next_batch()
        batch = WriteBatch(self.meta, rows=rows).using_timestamp(self.wt)
        before = set(self.store.live_runs())
        s1, df = self.ctx.op("plans.batch.to_df",
                           lambda: batch.to_df(self.spark, schema=gen.EVENTS_DDL))
        s2, _ = self.ctx.op("sources.runs.append_run", lambda: self.store.append_run(df))
        self.client_rows += [{**r, "writetime": self.wt} for r in rows]
        new = [r for r in self.store.live_runs() if r not in before]
        s2.attrs.update(rows=len(rows), bytes=sum(
            _dir_bytes(os.path.join(self.store.root, r)) for r in new))
        self.append_bytes += s2.attrs["bytes"]
        self.append_s.append(s1.busy_s + s2.busy_s)

    def read(self, sample: bool) -> None:
        lo = self.read_rnd.randrange(self.gen.n_users - self.span_users)
        hi = lo + self.span_users - 1
        if self.ctx.traced:
            self.read_stats.append((len(self.store.prune_runs(lo, hi)), len(self.store.live_runs())))

        def bounded():
            return self.store.read_merged(self.spark, key_lower=lo, key_upper=hi)

        s, _ = self.ctx.op("sources.runs.read_merged",
                         lambda: bounded().write.format("noop").mode("overwrite").save(),
                         lo=lo, hi=hi)
        self.read_s.append(s.busy_s)
        if sample:
            got = bounded().toPandas()
            self.read_samples.append((lo, hi, self.wt, got))
            s.attrs["rows"] = len(got)
        elif self.ctx.traced:
            s.attrs["rows"] = bounded().count()

    def compact(self) -> None:
        from cassandra_util_spark.operators.convictors import create_convictor
        from cassandra_util_spark.sources.runs import maintain

        def go():
            with self.ctx.tracer.span("operators.convictors.create_convictor"):
                conv = create_convictor("rule_based_deletion", self.schema_table,
                                        rules=self.rules_df)
            keep = conv.keep_expr()
            return maintain(self.store, self.spark, strategy="leveled",
                            run_target_bytes=RUN_TARGET_BYTES, min_threshold=MIN_THRESHOLD,
                            keep_expr=lambda d: d.filter(keep))

        s, out = self.ctx.op("sources.runs.maintain", go)
        if out:
            b = sum(_dir_bytes(os.path.join(self.store.root, r)) for r in out["merged_runs"])
            self.maintain_bytes += b
            s.attrs["bytes_rewritten"] = b

    def retain(self, tag: str) -> None:
        from cassandra_util_spark.core.table import KeyedTable
        from cassandra_util_spark.operators.convictors import create_convictor
        from cassandra_util_spark.operators.retention import RetentionJob

        backup = self.ctx.path("stores", f"backup-{tag}")

        def go():
            table = KeyedTable(self.store.read_merged(self.spark), self.meta)
            with self.ctx.tracer.span("operators.convictors.create_convictor"):
                conv = create_convictor("rule_based_deletion", table, rules=self.rules_df)
            return RetentionJob(table, conv, backup_path=backup, store=self.snap).run()

        _, stats = self.ctx.op("operators.retention.run", go)
        if stats is not None:
            self.retention = (self.wt, stats, backup, self.snap.current_version())

    def median_cycle_s(self) -> float:
        """One cycle's time from per-operation medians: an append, the
        bounded reads, and a period's retention job and compaction spread
        over its cycles.  Medians keep a burst of host load that slows a
        few calls from moving the figure."""
        def med(name):
            return median([s.busy_s for s in self.ctx.tracer.named(name)])

        return (med("plans.batch.to_df") + med("sources.runs.append_run")
                + READS_PER_CYCLE * med("sources.runs.read_merged")
                + (med("operators.retention.run") + med("sources.runs.maintain")) / PERIOD)

    def cycle(self, c: int, sampled: set[int]) -> None:
        self.append()
        for r in range(READS_PER_CYCLE):
            self.read(sample=c * READS_PER_CYCLE + r in sampled)
        # retention opens a period, compaction closes it: the retention job
        # then finds the convicted rows that reached the view since the last
        # compaction (on the first period, the base table's)
        if c % PERIOD == 0:
            self.retain(str(c))
        if c % PERIOD == PERIOD - 1:
            self.compact()


def run(ctx: Ctx) -> dict:
    ctx.start_spark()
    loop = Loop(ctx)
    loop.load()
    # sampled reads come from the first period, which every run reaches
    sampled = set(loop.read_rnd.sample(range(READS_PER_CYCLE * PERIOD), SAMPLED_READS))
    ctx.props.update({
        "base_rows": len(loop.base), "base_bytes": loop.base_bytes,
        "event_ids": f"{loop.base[0]['event_id']}..{loop.base[-1]['event_id']}",
        "batch_rows": loop.gen.batch_rows, "rules": len(loop.rules),
    })

    # a fixed number of whole periods, so every commit does the same work
    for cycle in range(CYCLES):
        loop.cycle(cycle, sampled)
    ctx.end_timed()

    # ---- output checks (untimed) -------------------------------------------
    spark, store = ctx.spark, loop.store
    rows_tbl = pa.Table.from_pylist(loop.base + loop.client_rows, schema=gen.EVENTS_SCHEMA)
    con = checks.connect()
    view_path = ctx.path("check", "view")
    store.read_merged(spark).write.parquet(view_path)
    view = spark.read.parquet(view_path).toPandas()
    ranges = loop.ranges
    ctx.guarded_check("final view vs LWW oracle", lambda: checks.lww_problems(
        con, rows_tbl, view, loop.wt, ranges))
    for lo, hi, at_wt, got in loop.read_samples:
        ctx.guarded_check(f"bounded read [{lo},{hi}]", lambda lo=lo, hi=hi, at_wt=at_wt, got=got:
                          checks.lww_problems(con, rows_tbl, got, at_wt, ranges, lo, hi))
    if loop.retention is not None:
        at_wt, stats, backup, version = loop.retention
        kept = loop.snap.read(spark, version).toPandas()
        backed = spark.read.parquet(backup).toPandas()
        counts = [] if (stats.kept, stats.convicted) == (len(kept), len(backed)) else [
            f"stats {stats.kept}/{stats.convicted} != {len(kept)}/{len(backed)}"]
        ctx.guarded_check("retention snapshot", lambda: checks.lww_problems(
            con, rows_tbl, kept, at_wt, ranges, convicted_absent=True) + counts)
        ctx.guarded_check("retention backup", lambda: checks.backup_problems(
            con, rows_tbl, backed, kept, at_wt, ranges))
    else:
        ctx.check("retention ran", ["no retention job completed"])

    # ---- workload properties and metrics -------------------------------------
    keys = {(r["user_id"], r["event_id"]) for r in loop.base}
    n_over = 0
    for r in loop.client_rows:
        key = (r["user_id"], r["event_id"])
        n_over += key in keys
        keys.add(key)
    convicted = sum(1 for u, _ in keys if any(a <= u <= b for a, b in ranges))
    ctx.props.update({
        "cycles": CYCLES, "client_rows": len(loop.client_rows),
        "overwrite_share": round(n_over / max(1, len(loop.client_rows)), 4),
        "convicted_share": round(convicted / max(1, len(keys)), 4),
        "reads": len(loop.read_s), "live_runs_end": len(store.live_runs()),
    })
    ctx.mark("checks")
    e2e = {
        "rows_per_s": (loop.gen.batch_rows / loop.median_cycle_s(), "rows/s"),
        "append_p50_s": (median(loop.append_s), "s"),
        "read_p50_s": (median(loop.read_s), "s"),
    }
    tails = {"append_tail_s": loop.append_s, "read_tail_s": loop.read_s}
    layer = _layers(ctx, loop, view_path) if ctx.traced else {}
    return {"e2e": e2e, "tails": tails, "layer": layer}


def _layers(ctx: Ctx, loop: Loop, view_path: str) -> dict:
    tr, jobs = ctx.tracer, ctx.harvest()

    def agg(name, parts=("busy_s", "jobs")):
        spans = tr.named(name)
        js = [span_jobs(s, jobs) for s in spans]
        out = {}
        if "busy_s" in parts:
            out[f"{name}.busy_s"] = median([s.busy_s for s in spans])
        if "jobs" in parts:
            out[f"{name}.jobs"] = median([len(j) for j in js])
        if "driver_s" in parts:
            out[f"{name}.driver_s"] = median(
                [max(0.0, s.busy_s - job_busy_s(j)) for s, j in zip(spans, js)])
        return out

    m = {}
    m.update(agg("plans.batch.to_df", ("busy_s",)))
    m.update(agg("sources.runs.append_run", ("busy_s", "jobs", "driver_s")))
    m.update(agg("sources.runs.maintain"))
    m["sources.runs.maintain.bytes_rewritten"] = median(
        [s.attrs.get("bytes_rewritten", 0) for s in tr.named("sources.runs.maintain")])
    m["sources.runs.write_amp"] = (
        (loop.append_bytes + loop.maintain_bytes) / max(1, loop.append_bytes))
    m["sources.runs.space_amp"] = (
        sum(loop.store.run_sizes().values()) / max(1, _dir_bytes(view_path)))
    m.update(agg("sources.runs.read_merged", ("busy_s", "jobs", "driver_s")))
    reads = tr.named("sources.runs.read_merged")
    m["sources.runs.read_merged.shuffle_read_bytes"] = median(
        [sum(j.shuffle_read_bytes for j in span_jobs(s, jobs)) for s in reads])
    m["sources.runs.read_merged.runs_read_share"] = median(
        [k / n for k, n in loop.read_stats if n])
    m["sources.runs.read_merged.rows_scanned_per_row"] = median([
        sum(j.input_records for j in span_jobs(s, jobs)) / s.attrs["rows"]
        for s in reads if s.attrs.get("rows")])
    m.update(agg("operators.convictors.create_convictor", ("busy_s",)))
    if loop.retention is not None:
        stats = loop.retention[1]
        m["operators.convictors.convicted_share"] = stats.convicted / max(1, stats.total)
    m.update(agg("operators.retention.run"))
    return m
