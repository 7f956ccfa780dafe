"""Correctness checks on one timed run's output, made after timing stops.

Each check returns a list of failure messages; an empty list means the run
is correct.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd

MIN_KEEP_F1 = 0.99
MAX_REASON_MISMATCH = 0.01


def read_parquet_dirs(dirs: list[str]) -> pd.DataFrame:
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def keep_f1(got: pd.Series, want: pd.Series) -> float:
    tp = int((got & want).sum())
    fp = int((got & ~want).sum())
    fn = int((~got & want).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


def check_verdicts(out: pd.DataFrame, exp: pd.DataFrame) -> tuple[float, list[str]]:
    """Pipeline output vs labeler expectations; returns ``(keep_f1, failures)``."""
    fails = []
    if len(out) != len(exp) or out["commit"].duplicated().any():
        fails.append(f"{len(out)} output rows for {len(exp)} input rows")
    out = out.drop_duplicates("commit").set_index("commit")
    missing = exp.index.difference(out.index)
    if len(missing):
        fails.append(f"{len(missing)} input rows missing from the output")
    both = exp.join(out, how="inner", lsuffix="_exp")
    keep, keep_exp = both["keep"].astype(bool), both["keep_exp"].astype(bool)
    f1 = keep_f1(keep, keep_exp)
    if f1 < MIN_KEEP_F1:
        fails.append(f"keep F1 {f1:.4f} < {MIN_KEEP_F1}")
    reason = both["drop_reason"].fillna("keep")
    mismatch = float((reason != both["drop_reason_exp"].fillna("keep")).mean())
    if mismatch > MAX_REASON_MISMATCH:
        fails.append(f"drop-reason mismatch {mismatch:.4f} > {MAX_REASON_MISMATCH}")
    kept = both[keep & keep_exp]
    bad_text = int((kept["scrubbed_content"] != kept["scrubbed_content_exp"]).sum())
    if bad_text:
        fails.append(f"{bad_text} kept rows scrub differently from the labeler")
    bad_sha = int((both["content_sha256"] != both["content_sha256_exp"]).sum())
    if bad_sha:
        fails.append(f"{bad_sha} rows report a content sha256 that is not the input's")
    clean = both[keep & (both["n_redactions"] == 0)]
    bad_pass = int((clean["scrubbed_sha256"] != clean["content_sha256"]).sum())
    if bad_pass:
        fails.append(f"{bad_pass} unredacted kept rows changed their sha256")
    return f1, fails


def check_checkpoint(out_root: str, exp: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
    """Committed results of a checkpointed run: each input commit exactly
    once, and the metrics' ``rows_in`` summing to the input count."""
    fails = []

    def committed(table: str) -> list[str]:
        with open(os.path.join(out_root, table, "_manifest.json")) as f:
            snaps = json.load(f)["snapshots"]
        return [os.path.join(out_root, table, s["dir"]) for s in snaps]

    out = read_parquet_dirs(committed("results"))
    counts = out["commit"].value_counts()
    if len(counts) != len(exp) or (counts != 1).any():
        fails.append(
            f"{int((counts != 1).sum())} commits committed more than once, "
            f"{len(exp.index.difference(counts.index))} never"
        )
    rows_in = int(read_parquet_dirs(committed("metrics"))["rows_in"].sum())
    if rows_in != len(exp):
        fails.append(f"metrics rows_in sums to {rows_in}, input has {len(exp)}")
    return out, fails
