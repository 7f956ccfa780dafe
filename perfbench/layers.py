"""Per-layer measurements of a traced run.

Every number comes from a span the benchmark records around a call into a
layer's public functions, or from a count taken at that call; nothing here
reaches inside the package. Timings are medians of REPS repetitions taken
after the set-up warm-up.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import inputs
from bench import Bench, Result, median
from spans import RssSampler, self_times

from language_identification_spark import checkpoint
from language_identification_spark.config import DEFAULT_CONFIG
from language_identification_spark.functions.heuristics import (
    cheap_drop_reason,
    with_heuristics,
)
from language_identification_spark.models.registry import get_models
from language_identification_spark.plans.pipeline import quality_filter
from language_identification_spark.scrub.patterns import TRIGGER_REGEX
from language_identification_spark.scrub.scrubber import scrub_series
from language_identification_spark.sources.tableio import ParquetTableIO

REPS = 3
# what one Arrow batch and one model call carry inside the pipeline
# (spark.sql.execution.arrow.maxRecordsPerBatch, pipeline._CHUNK); the
# models only ever see the first SAMPLE_CHARS characters of a row
ARROW_BATCH = 4096
MODEL_CHUNK = 512
SAMPLE_CHARS = 4096

LAYERS = (
    "functions", "models", "scrub", "plans.pipeline",
    "checkpoint", "sources.tableio", "session",
)


def _layer(span_name: str) -> str | None:
    return next((l for l in LAYERS if span_name.startswith(l + ".")), None)


def _timed(rec, name: str, fn) -> float:
    with rec.span(name):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure_functions(b: Bench, m: dict) -> pd.Series:
    """Heuristics + cheap rules as a noop job; returns the clipped content
    of the rows that survive them, i.e. what the model UDF receives."""

    def frame():
        df = with_heuristics(b.spark.read.parquet(b.input_dir))
        return df.withColumn("cheap_reason", cheap_drop_reason(DEFAULT_CONFIG))

    times = [_timed(b.rec, "functions.heuristics", lambda: _noop(frame()))
             for _ in range(REPS)]
    active = (
        frame()
        .filter(F.col("cheap_reason").isNull() & F.col("content").isNotNull())
        .select(F.substring("content", 1, SAMPLE_CHARS).alias("text"))
        .toPandas()["text"]
    )
    m["functions.heuristics_s"] = (median(times), "s")
    m["functions.cheap_drop_share"] = (1 - len(active) / len(b.src), "ratio")
    return active


def measure_models(b: Bench, m: dict, active: pd.Series) -> None:
    """Single-process busy time of the two model kernels on the rows and
    bytes the pipeline sends them, in the pipeline's chunk size."""
    m["models.get_models_s"] = (b.rec.durations("models.get_models")[0], "s")
    lid, lm = get_models()
    texts = [t.lower().encode("utf-8") for t in active]
    chunks = [texts[i : i + MODEL_CHUNK] for i in range(0, len(texts), MODEL_CHUNK)]
    with b.rec.paused():  # first touch of fresh buffers is not steady state
        for c in chunks:
            lm.score_batch(c, lid.predict_batch(c)[0])
    lid_s, ppl_s = [], []
    for _ in range(REPS):
        t_lid = t_ppl = 0.0
        for c in chunks:
            with b.rec.span("models.langid_predict"):
                t0 = time.perf_counter()
                label_idx = lid.predict_batch(c)[0]
                t_lid += time.perf_counter() - t0
            t_ppl += _timed(b.rec, "models.perplexity_score",
                            lambda: lm.score_batch(c, label_idx))
        lid_s.append(t_lid)
        ppl_s.append(t_ppl)
    m["models.langid_predict_s"] = (median(lid_s), "s")
    m["models.perplexity_score_s"] = (median(ppl_s), "s")
    m["models.rows_scored"] = (len(texts), "count")
    m["models.bytes_scored"] = (sum(len(t) for t in texts), "B")


def measure_scrub(b: Bench, m: dict) -> pd.Series:
    """The JVM trigger over the kept rows as a Spark job, then the Python
    scrub kernel on the rows it selects; returns those rows' content."""
    kept = set(checks.read_parquet_dirs([b.sink]).query("keep")["commit"])
    kept_dir = os.path.join(b.run_dir, "kept")
    inputs.stage(b.src[b.src["commit"].isin(kept)], kept_dir)
    trigger = F.col("content").rlike(TRIGGER_REGEX)
    counts, times = [], []
    for _ in range(REPS):
        with b.rec.span("scrub.trigger"):
            t0 = time.perf_counter()
            df = b.spark.read.parquet(kept_dir)
            counts.append(df.select(F.sum(trigger.cast("long"))).first()[0] or 0)
            times.append(time.perf_counter() - t0)
    triggered = (
        b.spark.read.parquet(kept_dir).filter(trigger).select("content")
        .toPandas()["content"]
    )
    batches = [triggered.iloc[i : i + ARROW_BATCH]
               for i in range(0, len(triggered), ARROW_BATCH)]
    with b.rec.paused():
        n_sub = pd.concat(
            [scrub_series(s, pretriggered=True)[1] for s in batches]
        ) if batches else pd.Series([], dtype=np.int64)
    series_s = []
    for _ in range(REPS):
        t = 0.0
        for s in batches:
            t += _timed(b.rec, "scrub.scrub_series",
                        lambda: scrub_series(s, pretriggered=True))
        series_s.append(t)
    m["scrub.trigger_s"] = (median(times), "s")
    m["scrub.scrub_series_s"] = (median(series_s), "s")
    m["scrub.rows_triggered"] = (int(counts[0]), "count")
    m["scrub.redactions"] = (int(n_sub.sum()), "count")
    m["scrub.hit_ratio"] = (
        float((n_sub > 0).sum() / len(triggered)) if len(triggered) else 0.0,
        "ratio",
    )
    if len(triggered) != counts[0]:
        raise RuntimeError(f"trigger counted {counts[0]} rows, selected {len(triggered)}")
    return triggered


def measure_pipeline(b: Bench, res: Result, active: pd.Series,
                     triggered: pd.Series) -> None:
    m = res.metrics
    # untraced passes run as in the untraced benchmark, interleaved with
    # the traced ones so that drift does not read as tracing overhead
    untraced, job = [], []
    with RssSampler() as rss:
        for _ in range(REPS):
            with b.rec.paused(), rss.sampling():
                untraced.append(b.read_job())
            res.count(b.check_sink()[1])
            job.append(_timed(b.rec, "plans.pipeline.job", b.read_job))
            res.count(b.check_sink()[1])
    noscrub = [_timed(b.rec, "plans.pipeline.noscrub_job",
                      lambda: b.read_job(scrub=False)) for _ in range(REPS)]
    plan = []
    for _ in range(REPS):
        df = b.spark.read.parquet(b.input_dir)
        plan.append(_timed(b.rec, "plans.pipeline.plan",
                           lambda: quality_filter(df)._jdf.queryExecution().executedPlan()))
    job_s = median(job)
    python_busy = (
        m["models.langid_predict_s"][0] + m["models.perplexity_score_s"][0]
        + m["scrub.scrub_series_s"][0]
    )
    m["plans.pipeline.job_s"] = (job_s, "s")
    m["plans.pipeline.noscrub_job_s"] = (median(noscrub), "s")
    m["plans.pipeline.plan_s"] = (median(plan), "s")
    m["plans.pipeline.python_bytes"] = (
        sum(len(t.encode()) for t in pd.concat([active, triggered])), "B")
    m["plans.pipeline.udf_overhead_s"] = (
        job_s - m["functions.heuristics_s"][0] - python_busy / b.nproc, "s"
    )
    m["trace.overhead"] = (job_s / median(untraced), "ratio")


def measure_session(b: Bench, m: dict) -> None:
    """Throughput of half the input run as one task against all slots."""
    half = os.path.join(b.run_dir, "half")
    inputs.stage(b.src.iloc[: len(b.src) // 2], half)
    one = _timed(b.rec, "session.one_slot_job",
                 lambda: _noop(quality_filter(b.spark.read.parquet(half).coalesce(1))))
    alls = _timed(b.rec, "session.all_slots_job",
                  lambda: _noop(quality_filter(b.spark.read.parquet(half))))
    m["session.get_spark_s"] = (b.rec.durations("session.get_spark")[0], "s")
    m["session.slot_scaling_eff"] = (one / alls / b.nproc, "ratio")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def measure_checkpoint(b: Bench, res: Result) -> None:
    """One traced crash-and-resume cycle, with spans around the staging and
    table-commit calls it makes; then one cached bucket result appended
    and the committed results read back."""
    m = res.metrics
    rec = b.rec
    stage_source, append = checkpoint.stage_source, ParquetTableIO.append

    def traced_stage(*a, **k):
        with rec.span("checkpoint.stage_source"):
            return stage_source(*a, **k)

    def traced_append(self, *a, **k):
        with rec.span("sources.tableio.append"):
            return append(self, *a, **k)

    checkpoint.stage_source, ParquetTableIO.append = traced_stage, traced_append
    try:
        cycle = b.resume_cycle()
    finally:
        checkpoint.stage_source, ParquetTableIO.append = stage_source, append
    res.count(b.check_checkpoint(cycle.root)[1])

    bm = checkpoint.read_metrics(b.spark, cycle.root).toPandas()
    results = ParquetTableIO(os.path.join(cycle.root, "results"))
    staged = b.spark.read.parquet(os.path.join(cycle.root, "staging"))
    one_bucket = quality_filter(
        staged.filter(F.col("_bucket") == 0).drop("_bucket")
    ).cache()
    one_bucket.count()
    appends = [
        _timed(rec, "sources.tableio.append",
               lambda: ParquetTableIO(os.path.join(b.run_dir, f"append-{k}"))
               .append(one_bucket, {"bucket": 0}))
        for k in range(REPS)
    ]
    one_bucket.unpersist()
    reads = [_timed(rec, "sources.tableio.read",
                    lambda: _noop(results.read(b.spark))) for _ in range(REPS)]
    content_bytes = int(sum(len(c.encode()) for c in b.src["content"]))

    m["checkpoint.stage_source_s"] = (rec.durations("checkpoint.stage_source")[0], "s")
    m["checkpoint.bucket_rows_skew"] = (
        float(bm["rows_in"].max() / bm["rows_in"].median()), "ratio")
    m["checkpoint.bucket_wall_ms.p50"] = (float(bm["wall_ms"].median()), "ms")
    m["checkpoint.bucket_wall_ms.max"] = (float(bm["wall_ms"].max()), "ms")
    m["checkpoint.buckets_recomputed"] = (cycle.buckets_recomputed, "count")
    m["sources.tableio.append_s"] = (median(appends), "s")
    m["sources.tableio.read_s"] = (median(reads), "s")
    m["sources.tableio.write_amplification"] = (
        _dir_bytes(cycle.root) / content_bytes, "ratio")
    shutil.rmtree(cycle.root)


def measure(b: Bench, res: Result) -> None:
    m = res.metrics
    with b.rec.span("traced"):
        active = measure_functions(b, m)
        measure_models(b, m, active)
        triggered = measure_scrub(b, m)
        measure_pipeline(b, res, active, triggered)
        measure_session(b, m)
        measure_checkpoint(b, res)
    per_layer = dict.fromkeys(LAYERS, 0.0)
    for name, t in self_times(b.rec.spans).items():
        layer = _layer(name)
        if layer is not None:
            per_layer[layer] += t
    total = sum(per_layer.values())
    for layer, t in per_layer.items():
        m[f"self.{layer}_s"] = (t, "s")
        m[f"share.{layer}"] = (t / total, "ratio")
    res.notes.append(
        f"{b.workload} seed={b.seed}: traced, set-up ({b.setup_notes})"
    )
