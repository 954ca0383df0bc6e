"""Host-independent inputs: the fixture data root follows the checkout,
and the benchmark's scaling-pair env vars are validated before any run."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import bench
import fixtures.gen as gen
from ner_spark.deploy import build_pyfiles_zip
from ner_spark.sources import conll


def test_fixture_root_is_under_this_checkout():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(gen.__file__)))
    assert gen.DATA_ROOT == os.path.join(repo, "data")
    for fn in (gen.ensure_fixture_dir, gen.ensure_stream_dir):
        assert fn.__defaults__[0] == gen.DATA_ROOT


def test_fixture_root_from_shipped_zip_is_the_working_directory(tmp_path):
    """A driver whose ``fixtures`` resolves from the --py-files zip (the
    zip lands ahead of the checkout on sys.path) must not aim the data
    root inside the zip."""
    zip_path = build_pyfiles_zip(str(tmp_path / "pkgs.zip"))
    code = (
        f"import sys; sys.path.insert(0, {zip_path!r}); "
        "import fixtures.gen as g; print(g.__file__); print(g.DATA_ROOT)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True,
        text=True, check=True,
    ).stdout.splitlines()
    assert out[0].startswith(zip_path)
    assert out[1] == os.path.join(str(tmp_path), "data")


def test_conll_fixture_shares_the_data_root(monkeypatch, tmp_path):
    monkeypatch.setattr(gen, "DATA_ROOT", str(tmp_path))
    monkeypatch.setattr(conll, "write_conll_fixture", lambda path, size: path)
    assert conll.ensure_conll_fixture("tiny") == os.path.join(
        str(tmp_path), "tiny", "conll", "eval.conll"
    )


@pytest.mark.parametrize(
    "raw, want", [("2,8", (2, 8)), ("1,4", (1, 4)), (" 2 , 8 ", (2, 8))]
)
def test_env_pair_accepts_ascending_positive_pairs(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_PAIR", raw)
    assert bench.env_pair("SPARK_GRAFT_CLUSTER_PAIR", "9,99") == want


def test_env_pair_default_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CLUSTER_PAIR", raising=False)
    assert bench.env_pair("SPARK_GRAFT_CLUSTER_PAIR", "2,8") == (2, 8)


@pytest.mark.parametrize(
    "raw", ["8", "2,8,32", "8,2", "4,4", "0,4", "-1,4", "2,x", "", "2;8"]
)
def test_env_pair_rejects_bad_values_by_name(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CLUSTER_PAIR", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CLUSTER_PAIR"):
        bench.env_pair("SPARK_GRAFT_CLUSTER_PAIR", "2,8")
