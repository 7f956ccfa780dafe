"""The flagship plan: keep/drop + scrub over a source-code table.

Single-pass Catalyst plan (contrast with the reference's thread-per-stage
push pipeline, ``/root/reference/disconnected_language_detector.py:961-1240``;
lifecycle mapping in SURVEY.md §3.4):

1. pure expressions: lang canon/collapse, heuristic features, cheap verdict
   (whole-stage codegen; Catalyst pushes column pruning into the scan)
2. ONE Arrow pandas UDF (``_filter_batch``) for langid + perplexity + the
   regex scrub, masked so rows already dropped by cheap rules ship as ``""``
   and skip all Python work (early-filter craft rule, SURVEY.md §4.1) —
   content crosses the JVM↔Python boundary once, and scrubbed text comes
   back only for rows the scrub changed.  The models read the first
   SAMPLE_BYTES code points; the scrub's own Python prefilter (the
   exact union of the patterns, ``re.ASCII``) gates its per-pattern passes
   in the same regex engine that does the redaction
3. pure-expression verdict assembly (single F.when tree, config.py order)
4. final projection: kept rows take the scrubbed text (or the untouched
   content when the scrub changed nothing), incl. sha256 invariants
   (built-in ``F.sha2`` — no UDF)

Rows that pass the cheap rules but are then dropped by langid or perplexity
are scrubbed too and the result is discarded: the verdict is not known until
the models have run, and a second Python crossing costs more than that waste.

Scale notes (100 TB / 1000 executors): no shuffle anywhere in this plan —
it is embarrassingly parallel per input split; partition sizing and skew
salting happen in the checkpointed runner (``checkpoint.py``), not here.
Arrow batch size is capped via ``spark.sql.execution.arrow.maxRecordsPerBatch``
(set in ``session.py``) so wide ``content`` values don't blow worker memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import DEFAULT_CONFIG, FilterConfig
from ..functions.heuristics import cheap_drop_reason, with_heuristics
from ..functions.lang import canon_lang_col, primary_lang_col
from ..hashing import SAMPLE_BYTES

# explicit StructTypes (not DDL strings) so the UDFs can be defined at import
# time without an active SparkContext
_ANALYZE_SCHEMA = StructType(
    [
        StructField("detected_lang", StringType()),
        StructField("confidence", DoubleType()),
        StructField("mean_ll", DoubleType()),
        StructField("ppl", DoubleType()),
    ]
)
_SCRUB_SCHEMA = StructType(
    [StructField("text", StringType()), StructField("n_sub", LongType())]
)
_FILTER_SCHEMA = StructType(
    _ANALYZE_SCHEMA.fields
    + [StructField("scrubbed", StringType()), StructField("n_sub", LongType())]
)


# rows per model sub-chunk: bounds the numpy working set per call so the
# allocator's (reused) arena stays small — this host pays a very high cost
# for first-touch of fresh pages, so a bounded, recycled footprint beats one
# giant per-batch allocation (see session.py MALLOC_* settings)
_CHUNK = 512


def _analyze_batch(content: pd.Series, active: pd.Series) -> pd.DataFrame:
    """langid + perplexity for one Arrow batch (runs on executors)."""
    from ..models.registry import get_models

    lid, lm = get_models()
    n = len(content)
    out = pd.DataFrame(
        {
            "detected_lang": [""] * n,
            "confidence": np.zeros(n),
            "mean_ll": np.full(n, -100.0),
            "ppl": np.zeros(n),
        },
        index=content.index,
    )
    mask = active.fillna(False).to_numpy(dtype=bool) & content.notna().to_numpy()
    if not mask.any():
        return out
    texts_all = content.to_numpy(dtype=object)
    idx_all = np.flatnonzero(mask)
    labels_arr = np.array([""] + list(lid.langs))
    det = np.empty(len(idx_all), dtype=object)
    conf_a = np.empty(len(idx_all))
    ll_a = np.empty(len(idx_all))
    ppl_a = np.empty(len(idx_all))
    for s in range(0, len(idx_all), _CHUNK):
        part = idx_all[s : s + _CHUNK]
        texts = [texts_all[i].lower().encode("utf-8") for i in part]
        label_idx, conf, mean_ll = lid.predict_batch(texts)
        ppl = lm.score_batch(texts, label_idx)
        det[s : s + len(part)] = labels_arr[label_idx + 1]
        conf_a[s : s + len(part)] = conf
        ll_a[s : s + len(part)] = mean_ll
        ppl_a[s : s + len(part)] = ppl
    out.iloc[idx_all, out.columns.get_loc("detected_lang")] = det
    out.iloc[idx_all, out.columns.get_loc("confidence")] = conf_a
    out.iloc[idx_all, out.columns.get_loc("mean_ll")] = ll_a
    out.iloc[idx_all, out.columns.get_loc("ppl")] = ppl_a
    return out


def _scrub_batch(content: pd.Series, keep: pd.Series) -> pd.DataFrame:
    from ..scrub.scrubber import scrub_series

    scrubbed, n_sub = scrub_series(content, keep)
    return pd.DataFrame({"text": scrubbed, "n_sub": n_sub}, index=content.index)


def _filter_batch(
    content: pd.Series, active: pd.Series, scrub: pd.Series
) -> pd.DataFrame:
    """Models + scrub for one Arrow batch: the whole Python side of
    ``quality_filter`` in a single crossing.

    ``content`` is the full text of rows the cheap rules kept (``""`` for
    the rest); the models see its first SAMPLE_BYTES code points (every
    code point is at least one UTF-8 byte, so that covers the SAMPLE_BYTES
    bytes ``hashing.py`` reads).  ``scrubbed`` is NULL where the scrub
    made no substitution, so unchanged text is not shipped back.
    """
    from ..scrub.scrubber import scrub_series

    out = _analyze_batch(content.str.slice(0, SAMPLE_BYTES), active)
    scrubbed, n_sub = scrub_series(content, active & scrub)
    out["scrubbed"] = scrubbed.where(n_sub > 0, None)
    out["n_sub"] = n_sub
    return out


analyze_udf = pandas_udf(_analyze_batch, _ANALYZE_SCHEMA)
scrub_udf = pandas_udf(_scrub_batch, _SCRUB_SCHEMA)
filter_udf = pandas_udf(_filter_batch, _FILTER_SCHEMA)


def quality_filter(
    df: DataFrame,
    cfg: FilterConfig = DEFAULT_CONFIG,
    scrub_enabled: bool = True,
) -> DataFrame:
    """(repo, path, commit, lang, content) → verdict + scrubbed output.

    Output schema: repo, path, commit, lang, lang_canon, lang_primary,
    detected_lang, confidence, ppl, keep:boolean, drop_reason:string,
    n_redactions:long, scrubbed_content:string (NULL when dropped),
    content_sha256, scrubbed_sha256.

    ``scrub_enabled=False`` is the negative-fixture mode (SURVEY §5.2,
    mirroring the reference's preserved failed-STT golden
    ``fixed_module_transcript.json`` — empty transcripts, intact segment
    structure): verdicts and lineage are produced unchanged, but
    scrubbed_content/scrubbed_sha256 are NULL and n_redactions is 0.
    """
    df = (
        df.withColumn("lang_canon", canon_lang_col(F.col("lang")))
        .withColumn("lang_primary", primary_lang_col(F.col("lang")))
    )
    df = with_heuristics(df)
    df = df.withColumn("cheap_reason", cheap_drop_reason(cfg))
    # cheap-dropped rows ship as "" so a 5 MB minified blob never crosses
    # the JVM→Python boundary; the rest cross once, whole, for both the
    # models (which clip Python-side) and the scrub — or clipped JVM-side
    # when there is no scrub to read past the models' sample
    text = (
        F.col("content")
        if scrub_enabled
        else F.substring(F.col("content"), 1, SAMPLE_BYTES)
    )
    udf_input = F.when(F.col("cheap_reason").isNull(), text).otherwise(F.lit(""))
    df = df.withColumn(
        "nlp",
        filter_udf(udf_input, F.col("cheap_reason").isNull(), F.lit(scrub_enabled)),
    )
    reason = F.coalesce(
        F.col("cheap_reason"),
        F.when(
            (F.col("nlp.confidence") < F.lit(cfg.conf_tau))
            | (F.col("nlp.mean_ll") < F.lit(cfg.ll_floor)),
            "langid_low_confidence",
        ),
        F.when(
            (F.col("lang_primary") != "")
            & (F.col("nlp.detected_lang") != F.col("lang_primary")),
            "langid_mismatch",
        ),
        F.when(F.col("nlp.ppl") > F.lit(cfg.ppl_tau), "perplexity"),
    )
    df = df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )
    emit = F.lit(scrub_enabled) & F.col("keep")
    scrubbed = F.when(emit, F.coalesce(F.col("nlp.scrubbed"), F.col("content")))
    return df.select(
        "repo",
        "path",
        "commit",
        "lang",
        "lang_canon",
        "lang_primary",
        F.col("nlp.detected_lang").alias("detected_lang"),
        F.round(F.col("nlp.confidence"), 6).alias("confidence"),
        F.round(F.col("nlp.ppl"), 6).alias("ppl"),
        "keep",
        "drop_reason",
        F.when(emit, F.col("nlp.n_sub")).otherwise(F.lit(0)).alias("n_redactions"),
        scrubbed.alias("scrubbed_content"),
        F.sha2(F.encode(F.col("content"), "UTF-8"), 256).alias("content_sha256"),
        F.sha2(F.encode(scrubbed, "UTF-8"), 256).alias("scrubbed_sha256"),
    )
