"""Shared run context: the Spark session, the work directory, the tracer,
the timed-operation ledger and the result line."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import traceback
from dataclasses import dataclass, field
from typing import Callable, Optional

from perfbench.trace import Tracer, harvest_jobs, peak_rss_mb

CPUS = 4  # the benchmark's fixed local[4] executor


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    traced: bool
    root: str  # checkout root
    work: str = ""
    spark: object = None
    tracer: Tracer = None
    setup_s: Optional[float] = None
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    props: dict = field(default_factory=dict)
    lines: list = field(default_factory=list)
    graft_cpus: Optional[str] = None  # SPARK_GRAFT_CPUS as the run found it
    jobs: dict = field(default_factory=dict)  # job id -> JobInfo (traced runs)
    ticks0: tuple = (0, 0)  # cpu_ticks() at start, for the host-steal share
    peak_rss_mb: Optional[float] = None  # at the end of the timed phase

    def __post_init__(self) -> None:
        self.work = os.path.join(self.root, ".perfbench", f"{self.workload}-{self.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "input", "stores", "check"):
            os.makedirs(os.path.join(self.work, d))
        self.graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        self.ticks0 = cpu_ticks()
        self.tracer = Tracer(self.traced)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session -----------------------------------------------------------

    def start_spark(self):
        # every temp file the library or Spark makes stays in the work dir
        os.environ["TMPDIR"] = self.path("tmp")
        import tempfile

        tempfile.tempdir = None
        from cassandra_util_spark.core.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            # a fixed young generation keeps peak RSS reproducible; G1's
            # adaptive sizing moved it by up to 40% between runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:+UseParallelGC -Xmn256m"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # the per-layer harvest reads every job of the run back from
            # the status store, so it must retain them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        with self.tracer.span("core.session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                master=f"local[{CPUS}]",
                shuffle_partitions=2 * CPUS,
                extra_conf=conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        return self.spark

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM child to exit (it exits on
        EOF of its stdin)."""
        if self.spark is None:
            return
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()

    # -- timed operations --------------------------------------------------

    def start_timed(self) -> None:
        if self.setup_s is None:
            self.setup_s = process_age_s()
            self.mark("set-up")

    def end_timed(self) -> None:
        """End the timed phase.  Peak RSS is a high-water mark, so it is
        read here: it then covers set-up and the timed phase, not the
        output checks that follow."""
        self.peak_rss_mb = peak_rss_mb(self.spark)
        self.mark("timed")

    def mark(self, phase: str) -> None:
        """Note the process age at the end of a phase (for the report)."""
        self.lines.append(f"phase {phase} ends at {process_age_s():.1f} s")

    def op(self, name: str, fn: Callable, **attrs):
        """Run one timed library call inside a span.  Returns (span, value);
        value is None and a failure is counted if the call raised."""
        self.start_timed()
        self.attempted += 1
        with self.tracer.span(name, **attrs) as s:
            try:
                value = fn()
            except Exception as exc:  # one failed operation, the run goes on
                self.failed += 1
                self.problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                traceback.print_exc()
                value = None
                s.attrs["failed"] = True
        return s, value

    def check(self, name: str, problems: list[str]) -> None:
        """Record one output check (outside the timed phase)."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"check {name}: {p}" for p in problems[:5]]
        self.lines.append(f"check {name}: {'FAIL' if problems else 'ok'}")

    def guarded_check(self, name: str, fn: Callable[[], list[str]]) -> None:
        try:
            problems = fn()
        except Exception as exc:  # a check that cannot run is a failed check
            traceback.print_exc()
            problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        self.check(name, problems)

    def harvest(self):
        """Job/stage details of the whole run (traced runs only)."""
        if self.traced:
            hi = int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
            self.jobs = harvest_jobs(self.spark, 0, hi)
        return self.jobs


def env_stamp(ctx: Ctx) -> str:
    import pyspark

    steal, total = (b - a for a, b in zip(ctx.ticks0, cpu_ticks()))
    return (
        f"env: nproc={os.cpu_count()} SPARK_GRAFT_CPUS={ctx.graft_cpus} "
        f"master=local[{CPUS}] spark={pyspark.__version__} seed={ctx.seed} "
        f"workload={ctx.workload} seconds={ctx.seconds:g} trace={int(ctx.traced)} "
        f"host_steal={steal / max(1, total):.1%}"
    )


def result_line(ctx: Ctx, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })

