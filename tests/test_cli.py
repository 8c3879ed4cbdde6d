"""The featurization CLI (`python -m mimic2ts_spark SRC DST`), run
in-process through `mimic2ts_spark.__main__.main` on the test session."""

from __future__ import annotations

import os

import pytest

from mimic2ts_spark.__main__ import main

SOURCES = ("chartevents", "inputevents", "outputevents", "procedureevents")


def _tree(dst: str) -> dict[str, bytes]:
    """Every output file but the run manifest, by path relative to DST."""
    out = {}
    for d, _, names in os.walk(dst):
        for n in names:
            rel = os.path.relpath(os.path.join(d, n), dst)
            if rel != "readme.txt":
                with open(os.path.join(d, n), "rb") as f:
                    out[rel] = f.read()
    return out


@pytest.fixture(scope="module")
def run_cli(spark, mimic_dir, tmp_path_factory):
    """Run the CLI and return its DST. `get_spark` re-applies the CLI's
    session conf to the shared session; restore what it resets."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    def run(*args: str) -> str:
        dst = str(tmp_path_factory.mktemp("cli") / "out")
        main([mimic_dir, dst, *args])
        assert os.path.exists(f"{dst}/readme.txt")
        return dst

    yield run
    spark.conf.set(key, before)


@pytest.fixture(scope="module")
def full_tree(run_cli) -> dict[str, bytes]:
    tree = _tree(run_cli())
    assert set(tree) == {f"{s}/{src}_features.csv" for s in (1, 2, 3) for src in SOURCES}
    return tree


def test_cli_exclude_writes_remaining_sources_byte_equal(run_cli, full_tree):
    got = _tree(run_cli("--exclude", "inputevents,procedureevents"))
    kept = tuple(f"/{s}_features.csv" for s in ("chartevents", "outputevents"))
    assert got == {k: v for k, v in full_tree.items() if k.endswith(kept)}


def test_cli_stay_ids_restrict_stays(run_cli, full_tree, tmp_path):
    ids = tmp_path / "stays.csv"
    ids.write_text("stay_id\n2\n3\n")
    got = _tree(run_cli("--stay-ids", str(ids)))
    assert got == {k: v for k, v in full_tree.items() if k.split("/")[0] in ("2", "3")}


def test_cli_exclude_every_source_writes_only_manifest(run_cli):
    dst = run_cli("--exclude", ",".join(SOURCES))
    assert os.listdir(dst) == ["readme.txt"]


def test_cli_rejects_unknown_exclude_source(capsys, tmp_path):
    """A misspelt source is an input error, not a silent full run."""
    with pytest.raises(SystemExit) as exit_info:
        main(["src", str(tmp_path / "out"), "--exclude", "chartevent,inputevents"])
    assert exit_info.value.code == 2
    err = capsys.readouterr().err
    assert "argument --exclude" in err and "chartevent;" in err
    assert all(source in err for source in SOURCES)
    assert not (tmp_path / "out").exists()


@pytest.mark.parametrize("timestep", ["-3600", "0", "1.5"])
def test_cli_rejects_non_positive_timestep(capsys, tmp_path, timestep):
    with pytest.raises(SystemExit) as exit_info:
        main(["src", str(tmp_path / "out"), "--timestep", timestep])
    assert exit_info.value.code == 2
    assert "argument --timestep: must be a positive number of seconds" in capsys.readouterr().err
    assert not (tmp_path / "out").exists()


@pytest.fixture
def no_session(monkeypatch):
    """Fail the test if the CLI starts a session."""

    def fail(*args, **kwargs):
        raise AssertionError("get_spark called")

    monkeypatch.setattr("mimic2ts_spark.__main__.get_spark", fail)


def test_cli_rejects_missing_id_file_before_session(capsys, tmp_path, no_session):
    missing = str(tmp_path / "no_such_stays.csv")
    with pytest.raises(SystemExit) as exit_info:
        main(["src", str(tmp_path / "out"), "--stay-ids", missing])
    assert exit_info.value.code == 2
    err = capsys.readouterr().err
    assert "argument --stay-ids" in err and missing in err
    assert not (tmp_path / "out").exists()


def test_cli_rejects_id_file_without_its_column_before_session(capsys, tmp_path, no_session):
    ids = tmp_path / "features.csv"
    ids.write_text("itemid\n220045\n")
    with pytest.raises(SystemExit) as exit_info:
        main(["src", str(tmp_path / "out"), "--feature-ids", str(ids)])
    assert exit_info.value.code == 2
    err = capsys.readouterr().err
    assert "argument --feature-ids" in err and str(ids) in err and "no feature_id column" in err
    assert not (tmp_path / "out").exists()


def test_failed_rerun_leaves_no_completion_marker(spark, mimic_dir, tmp_path, monkeypatch):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    dst = tmp_path / "out"
    dst.mkdir()
    (dst / "readme.txt").write_text("runtime seconds: 1.0\n")

    def fail(*args, **kwargs):
        raise RuntimeError("sink failed")

    monkeypatch.setattr("mimic2ts_spark.pipeline.write_stay_matrices", fail)
    try:
        with pytest.raises(RuntimeError, match="sink failed"):
            main([mimic_dir, str(dst)])
    finally:
        spark.conf.set(key, before)
    assert not (dst / "readme.txt").exists()
