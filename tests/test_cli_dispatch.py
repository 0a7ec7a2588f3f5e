"""CLI dispatch contract: every subcommand carries its handler, and the
commands that need no Spark session never ask for one."""

import argparse
import json

import pytest

from harness_aws_etl_pipeline_spark import cli, session


def _subparsers() -> dict[str, argparse.ArgumentParser]:
    p = cli.build_parser()
    sub = next(a for a in p._actions if isinstance(a, argparse._SubParsersAction))
    return sub.choices


@pytest.fixture
def no_spark(monkeypatch):
    def _refuse(*_a, **_k):
        raise AssertionError("this command must not start a Spark session")

    monkeypatch.setattr(session, "get_spark", _refuse)


@pytest.mark.parametrize("name", sorted(_subparsers()))
def test_every_subcommand_registers_a_handler(name, no_spark, capsys):
    assert callable(_subparsers()[name].get_default("func"))
    with pytest.raises(SystemExit) as exc:
        cli.main([name, "--help"])
    assert exc.value.code == 0
    assert "usage:" in capsys.readouterr().out


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_clean_dry_run_needs_no_spark(tmp_path, no_spark, capsys):
    target = tmp_path / "out"
    target.mkdir()
    (target / "f.txt").write_text("x")
    assert cli.main(["clean", "--path", str(target)]) == 1
    assert _last_json(capsys)["status"] == "would_delete"
    assert target.exists()


def test_clean_expired_needs_no_spark(tmp_path, no_spark, capsys):
    assert cli.main(
        ["clean", "--expired", "--path", str(tmp_path), "--days", "7"]
    ) == 0
    assert _last_json(capsys)["files_expired"] == 0


def test_video_needs_no_spark(tmp_path, no_spark, capsys):
    import numpy as np

    from harness_aws_etl_pipeline_spark.operators.video import (
        encode_avi_mjpeg,
    )

    clip = tmp_path / "clip.avi"
    clip.write_bytes(
        encode_avi_mjpeg([np.full((6, 10, 3), 10, np.uint8)] * 2, fps=2)
    )
    assert cli.main(["video", "--input", str(clip)]) == 0
    assert _last_json(capsys)["probe"]["frames"] == 2


def test_delta_update_rejects_empty_set_expression(spark, tmp_path):
    from harness_aws_etl_pipeline_spark.sinks.deltawrite import write_delta
    from harness_aws_etl_pipeline_spark.sources.deltaread import (
        delta_snapshot,
    )

    path = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame([(1, "a")], "id int, v string"), path)
    before = delta_snapshot(spark, path)["version"]
    with pytest.raises(SystemExit):
        cli.main(["delta", "--path", path, "--update-where", "id = 1",
                  "--set", "v="])
    assert delta_snapshot(spark, path)["version"] == before
