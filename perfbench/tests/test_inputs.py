import hashlib

import pytest

import inputs


def input_digest(src):
    """One sha256 over every input row, in order."""
    h = hashlib.sha256()
    for row in src.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


@pytest.mark.parametrize("make", [inputs.mixed_corpus, inputs.large_pii_files])
def test_same_seed_same_input(make):
    assert input_digest(make(7)) == input_digest(make(7))
    assert input_digest(make(7)) != input_digest(make(8))


def test_large_pii_files_shape():
    src = inputs.large_pii_files(3)
    assert len(src) == inputs.LARGE_FILES
    assert src["commit"].is_unique
    assert 15_000 < src["content"].str.len().mean() < 35_000


def test_stage_round_trips(tmp_path):
    import pandas as pd

    src = inputs.mixed_corpus(5).head(50)
    inputs.stage(src, str(tmp_path / "in"))
    files = sorted((tmp_path / "in").iterdir())
    assert len(files) == inputs.N_INPUT_FILES
    back = pd.concat([pd.read_parquet(f) for f in files])
    assert input_digest(back.sort_values("commit")) == input_digest(
        src.sort_values("commit")
    )
