"""Set-up, timed loops and end-to-end metrics of one benchmark run."""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zipfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import checks
import inputs
from spans import RssSampler, SpanRecorder

from language_identification_spark.checkpoint import run_checkpointed
from language_identification_spark.models.registry import get_models
from language_identification_spark.plans.pipeline import quality_filter
from language_identification_spark.session import get_spark
from language_identification_spark.sources.tableio import ParquetTableIO

N_BUCKETS = 8  # the crash comes after half of them
# Pass times fall steeply over the first passes (cold workers, JIT, worker
# arenas), so the warm-up runs input-sized passes until one is within
# STEADY_SHARE of the one before, MIN_WARM to MAX_WARM of them in all.
STEADY_SHARE = 0.10
MIN_WARM = 3
MAX_WARM = 5


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


@dataclass
class Result:
    recorder: SpanRecorder
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def count(self, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failed += 1
            self.notes.extend(f"FAILED run {self.attempted}: {f}" for f in failures)

    def summary(self) -> dict:
        return {
            "correct": self.attempted > 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()
            },
        }


def package_zip(package_dir: str, out_dir: str) -> str:
    """Zip the package's sources for ``addPyFile``: the Python workers do
    not share the driver's ``sys.path``."""
    root = os.path.dirname(package_dir)
    path = os.path.join(out_dir, os.path.basename(package_dir) + ".zip")
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, dirs, files in os.walk(package_dir):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, root))
    return path


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — it did not exit: force it
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Cycle:
    wall_s: float  # crash phase + resume
    resume_s: float  # restart call until every bucket is committed
    root: str
    buckets_recomputed: int


class Bench:
    """One workload's inputs, expectations and Spark session."""

    def __init__(self, workload: str, seed: int, run_dir: str, rec: SpanRecorder):
        self.workload = workload
        self.seed = seed
        self.run_dir = run_dir
        self.rec = rec
        self.nproc = len(os.sched_getaffinity(0))
        self.input_dir = os.path.join(run_dir, "input")
        self.sink = os.path.join(run_dir, "sink")
        self.spark = None
        self.warmup_walls: list[float] = []

    # -- set-up ---------------------------------------------------------

    def setup(self, package_dir: str) -> float:
        t0 = time.perf_counter()
        with self.rec.span("setup"):
            with self.rec.span("models.get_models"):
                get_models()  # cold: TMPDIR is fresh, so this trains
            # the JVM starts while this thread makes the inputs
            with ThreadPoolExecutor(1) as pool:
                started = pool.submit(self._start_spark)
                try:
                    self.src = inputs.WORKLOADS[self.workload](self.seed)
                    self.exp = inputs.expectations(self.src)
                    inputs.stage(self.src, self.input_dir)
                    inputs_done = time.perf_counter()
                finally:  # so that a failed set-up still stops the JVM
                    self.spark, start, end = started.result()
            self.rec.add("session.get_spark", start, end)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.sparkContext.addPyFile(package_zip(package_dir, self.run_dir))
            with self.rec.paused():
                self.warm_up()
        self.setup_notes = (
            f"inputs {inputs_done - t0:.1f} s, spark {end - start:.1f} s, warm-up "
            + " ".join(f"{w:.2f}" for w in self.warmup_walls)
        )
        return time.perf_counter() - t0

    def _start_spark(self):
        start = time.perf_counter()
        spark = get_spark(f"perfbench-{self.workload}", cores=self.nproc)
        return spark, start, time.perf_counter()

    def warm_up(self) -> None:
        """Read passes until steady (see MIN_WARM). The checkpointed path
        gets no warm-up of its own: a first crash-and-resume cycle after
        these passes measured no slower than the next ones."""
        prev = None
        for k in range(1, MAX_WARM + 1):
            t = self.read_job()
            self.warmup_walls.append(t)
            if k >= MIN_WARM and abs(t - prev) <= STEADY_SHARE * prev:
                break
            prev = t

    # -- jobs -------------------------------------------------------------

    def read_job(self, scrub: bool = True) -> float:
        """Parquet input → quality_filter → parquet sink; returns wall s."""
        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.input_dir)
        quality_filter(df, scrub_enabled=scrub).write.mode("overwrite").parquet(self.sink)
        return time.perf_counter() - t0

    def resume_cycle(self) -> Cycle:
        """Checkpointed run crashed after half the buckets, then resumed."""
        root = os.path.join(self.run_dir, "ckpt")
        t0 = time.perf_counter()
        try:
            with self.rec.span("checkpoint.run_checkpointed"):
                run_checkpointed(
                    self.spark, self.spark.read.parquet(self.input_dir), root,
                    quality_filter, n_buckets=N_BUCKETS, fail_after=N_BUCKETS // 2,
                )
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected crash did not happen")
        results = ParquetTableIO(os.path.join(root, "results"))
        before = len(results.snapshots())
        t1 = time.perf_counter()
        with self.rec.span("checkpoint.run_checkpointed"):
            run_checkpointed(
                self.spark, self.spark.read.parquet(self.input_dir), root,
                quality_filter, n_buckets=N_BUCKETS,
            )
        t2 = time.perf_counter()
        # one results snapshot per bucket the resume computed
        return Cycle(t2 - t0, t2 - t1, root, len(results.snapshots()) - before)

    # -- checks -------------------------------------------------------------

    def check_sink(self) -> tuple[float, list[str]]:
        return checks.check_verdicts(checks.read_parquet_dirs([self.sink]), self.exp)

    def check_checkpoint(self, root: str) -> tuple[float, list[str]]:
        out, fails = checks.check_checkpoint(root, self.exp)
        f1, more = checks.check_verdicts(out, self.exp)
        return f1, fails + more


def timed(bench: Bench, seconds: float, res: Result) -> None:
    """Repeat the read job until ``seconds`` have passed, then run one
    crash-and-resume cycle. Each output is checked after its timing stops.
    Fills the end-to-end metrics."""
    n = len(bench.src)
    walls, f1s = [], []
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while not walls or time.perf_counter() < deadline:
            with rss.sampling():
                walls.append(bench.read_job())
            f1, fails = bench.check_sink()
            res.count(fails)
            f1s.append(f1)
        with rss.sampling():
            cycle = bench.resume_cycle()
        f1, fails = bench.check_checkpoint(cycle.root)
        shutil.rmtree(cycle.root)
        res.count(fails)
        f1s.append(f1)
    res.metrics["files_per_s"] = (n / median(walls), "files/s")
    res.metrics["checkpointed_files_per_s"] = (n / cycle.wall_s, "files/s")
    res.metrics["resume_s"] = (cycle.resume_s, "s")
    res.metrics["worker_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    res.metrics["keep_f1"] = (min(f1s), "ratio")  # the worst run
    res.notes.append(
        f"{bench.workload} seed={bench.seed}: {len(walls)} timed read jobs of {n} "
        f"files, walls " + " ".join(f"{w:.3f}" for w in walls)
        + f", crash+resume {cycle.wall_s:.3f} s"
        + f"; set-up ({bench.setup_notes}); failed_share="
        f"{res.failed / res.attempted:.4f}"
    )


def run(workload: str, seed: int, seconds: float, traced: bool,
        run_dir: str, package_dir: str) -> Result:
    rec = SpanRecorder(run_id=os.path.basename(run_dir), enabled=traced)
    res = Result(recorder=rec)
    bench = Bench(workload, seed, run_dir, rec)
    try:
        setup_s = bench.setup(package_dir)
        if traced:
            import layers

            layers.measure(bench, res)
        else:
            timed(bench, seconds, res)
            res.metrics["setup_s"] = (setup_s, "s")
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
    return res
