"""Seeded workload inputs, their parquet staging and labeler expectations.

The program under test only ever sees the staged parquet tables; the
expectations come from the frozen single-process labeler
(``datagen.labeler.label_frame``) and stay in the benchmark.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from language_identification_spark.datagen.corpus import generate_source_files
from language_identification_spark.datagen.labeler import label_frame

# fixed so the scan layout does not depend on the host
N_INPUT_FILES = 8

MIXED_ROWS = 12000
LARGE_FILES = 256
# ~40 generator files of ~0.6 KB joined per large file gives ~24 KB
LARGE_PARTS = 40


def mixed_corpus(seed: int) -> pd.DataFrame:
    """The FIXTURES F1 class mix, about 1.2 KB per file."""
    src, _truth = generate_source_files(MIXED_ROWS, seed)
    return src


def large_pii_files(seed: int) -> pd.DataFrame:
    """Files of ~24 KB, each the concatenation of ~40 same-language clean
    and PII generator files; all keep, most carry PII."""
    need = LARGE_FILES * LARGE_PARTS
    # clean + pii are ~58% of the class mix: over-generate, then take them
    src, truth = generate_source_files(int(need / 0.5), seed)
    sel = truth["true_class"].isin(["clean", "pii"]).to_numpy()
    src, truth = src[sel].reset_index(drop=True), truth[sel].reset_index(drop=True)
    rows = []
    for lang, group in src.groupby(truth["content_lang"], sort=True):
        # declared lang of each joined file = the group's plain tag
        contents = group["content"].tolist()
        for start in range(0, len(contents) - LARGE_PARTS + 1, LARGE_PARTS):
            rows.append((lang, "\n".join(contents[start : start + LARGE_PARTS])))
    rows = rows[:LARGE_FILES]
    if len(rows) < LARGE_FILES:
        raise RuntimeError(f"generator gave only {len(rows)} large files")
    out = []
    for i, (lang, content) in enumerate(rows):
        repo = f"big{i % 5}/repo{i % 13}"
        path = f"src/module{i}/all{i}.py"
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
        out.append((repo, path, commit, lang, content))
    return pd.DataFrame(out, columns=["repo", "path", "commit", "lang", "content"])


WORKLOADS = {"mixed_corpus": mixed_corpus, "large_pii_files": large_pii_files}


def sha256_of(content: pd.Series) -> pd.Series:
    return content.map(
        lambda c: None if c is None else hashlib.sha256(c.encode()).hexdigest()
    )


def stage(src: pd.DataFrame, out_dir: str) -> None:
    """Write ``src`` as N_INPUT_FILES parquet files, round-robin by row."""
    os.makedirs(out_dir)
    for i in range(N_INPUT_FILES):
        part = pa.Table.from_pandas(src.iloc[i::N_INPUT_FILES], preserve_index=False)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def expectations(src: pd.DataFrame) -> pd.DataFrame:
    """Labeler verdicts keyed by commit, plus the input content sha256."""
    exp = label_frame(src)[["commit", "keep", "drop_reason", "scrubbed_content"]]
    exp = exp.assign(content_sha256=sha256_of(src["content"]).to_numpy())
    return exp.set_index("commit")
