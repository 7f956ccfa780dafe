import json
import os

import pandas as pd

import checks


def expected():
    return pd.DataFrame(
        {
            "commit": ["a", "b", "c"],
            "keep": [True, True, False],
            "drop_reason": [None, None, "minified"],
            "scrubbed_content": ["x <EMAIL>", "y", None],
            "content_sha256": ["ha", "hb", "hc"],
        }
    ).set_index("commit")


def output():
    return pd.DataFrame(
        {
            "commit": ["a", "b", "c"],
            "keep": [True, True, False],
            "drop_reason": [None, None, "minified"],
            "n_redactions": [1, 0, 0],
            "scrubbed_content": ["x <EMAIL>", "y", None],
            "content_sha256": ["ha", "hb", "hc"],
            "scrubbed_sha256": ["hx", "hb", None],
        }
    )


def test_correct_output_passes():
    f1, fails = checks.check_verdicts(output(), expected())
    assert f1 == 1.0 and fails == []


def test_each_defect_is_caught():
    flipped = output().assign(keep=[True, False, False], drop_reason=[None, "perplexity", "minified"])
    assert any("F1" in f for f in checks.check_verdicts(flipped, expected())[1])
    text = output().assign(scrubbed_content=["x", "y", None])
    assert any("scrub" in f for f in checks.check_verdicts(text, expected())[1])
    sha = output().assign(content_sha256=["ha", "zz", "hc"])
    assert any("content sha256" in f for f in checks.check_verdicts(sha, expected())[1])
    passthrough = output().assign(scrubbed_sha256=["hx", "changed", None])
    assert any("unredacted" in f for f in checks.check_verdicts(passthrough, expected())[1])
    missing = output().head(2)
    assert checks.check_verdicts(missing, expected())[1]
    doubled = pd.concat([output(), output().head(1)])
    assert checks.check_verdicts(doubled, expected())[1]


def _table(root, name, frames):
    os.makedirs(os.path.join(root, name))
    snaps = []
    for i, df in enumerate(frames):
        d = os.path.join(root, name, f"snap-{i}")
        os.makedirs(d)
        df.to_parquet(os.path.join(d, "part-0.parquet"))
        snaps.append({"id": str(i), "dir": f"snap-{i}", "meta": {"bucket": i}})
    # an uncommitted snapshot directory must be ignored
    os.makedirs(os.path.join(root, name, "snap-orphan"))
    output().to_parquet(os.path.join(root, name, "snap-orphan", "part-0.parquet"))
    with open(os.path.join(root, name, "_manifest.json"), "w") as f:
        json.dump({"snapshots": snaps}, f)


def test_checkpoint_commits_each_row_once(tmp_path):
    root = str(tmp_path / "ok")
    _table(root, "results", [output().head(2), output().tail(1)])
    _table(root, "metrics", [pd.DataFrame({"rows_in": [2]}), pd.DataFrame({"rows_in": [1]})])
    out, fails = checks.check_checkpoint(root, expected())
    assert fails == [] and len(out) == 3


def test_checkpoint_double_commit_is_caught(tmp_path):
    root = str(tmp_path / "dup")
    _table(root, "results", [output(), output().tail(1)])
    _table(root, "metrics", [pd.DataFrame({"rows_in": [3]}), pd.DataFrame({"rows_in": [1]})])
    fails = checks.check_checkpoint(root, expected())[1]
    assert len(fails) == 2
