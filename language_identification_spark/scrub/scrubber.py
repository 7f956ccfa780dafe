"""Batch scrub pass (the Spark-side implementation).

Used inside the pipeline's Arrow pandas UDF on whole ``pandas.Series``
batches — no per-row Python at the Spark level; per row, each pattern is
one compiled ``re`` ``subn`` call (C speed).  A ``mask``
lets the caller skip rows already marked for drop (single-pass plan: the
scrub cost is only paid for kept rows, without re-scanning the source —
SURVEY.md §4.1 "early filter before downstream work").
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .patterns import COMPILED, PATTERN_FLAGS, TRIGGER_REGEX

# one cheap combined pass decides which rows need the 6 expensive
# substitution passes; in realistic corpora only a few % do.  The union of
# the real patterns is exact, so the prefilter can never change results.
_PREFILTER = re.compile(TRIGGER_REGEX, PATTERN_FLAGS)


def _scrub_one(text: str) -> tuple[str, int]:
    n = 0
    for _name, rx, repl in COMPILED:
        text, k = rx.subn(repl, text)
        n += k
    return text, n


def scrub_series(
    content: pd.Series,
    mask: pd.Series | None = None,
    pretriggered: bool = False,
) -> tuple[pd.Series, pd.Series]:
    """Returns ``(scrubbed, n_sub)`` aligned with ``content``.

    Rows where ``mask`` is False are passed through untouched with n_sub=0.
    ``pretriggered=True`` means every masked row is already known to contain
    a candidate match (e.g. selected by a JVM ``rlike`` on ``TRIGGER_REGEX``),
    so the Python prefilter pass is skipped.  Each pattern makes one
    ``subn`` pass per row: its substitution count is taken on the text the
    earlier patterns left, so a match consumed by an earlier pattern (an
    email inside a PEM block) is not counted again.
    """
    if mask is None:
        mask = pd.Series(True, index=content.index)
    active = content[mask.fillna(False) & content.notna()]
    out = content.copy()
    n_sub = pd.Series(np.zeros(len(content), dtype=np.int64), index=content.index)
    if len(active) and not pretriggered:
        # re.Pattern.search per row (C speed) — pandas str.contains warns on
        # patterns with capture groups and is no faster
        hit = np.fromiter(
            (_PREFILTER.search(x) is not None for x in active),
            dtype=bool,
            count=len(active),
        )
        active = active[hit]
    if len(active):
        texts, counts = zip(*map(_scrub_one, active))
        out.loc[active.index] = list(texts)
        n_sub.loc[active.index] = np.fromiter(counts, dtype=np.int64)
    return out, n_sub
