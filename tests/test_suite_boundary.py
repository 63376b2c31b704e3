"""The line between the ``pipz_spark`` library and its conformance
suite (``oracle_suite``): the library never imports the suite, and
the suite's stream starts put back the session conf they set."""

from __future__ import annotations

import ast
import pathlib

import pytest

import pipz_spark
from pipz_spark import P

LIBRARY = pathlib.Path(pipz_spark.__file__).parent


def _imported_modules(path: pathlib.Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module


def test_library_never_imports_the_suite():
    offenders = [
        f"{path.relative_to(LIBRARY.parent)}: {mod}"
        for path in sorted(LIBRARY.rglob("*.py"))
        for mod in _imported_modules(path)
        if mod.split(".")[0] == "oracle_suite"
    ]
    assert offenders == []


def test_drain_stream_restores_conf_after_a_failed_start(spark, monkeypatch):
    from oracle_suite import streams

    parts = "spark.sql.shuffle.partitions"
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(parts), spark.conf.get(no_data, "true")
    seen = []

    def failing_start(stream, *args, **kwargs):
        seen.append((spark.conf.get(parts), spark.conf.get(no_data)))
        raise RuntimeError("start failed")

    monkeypatch.setattr(streams, "run_step_stream", failing_start)
    stream = spark.readStream.format("rate").load()
    with pytest.raises(RuntimeError, match="start failed"):
        streams.drain_stream(
            stream, P.transform("noop", {}), lambda df, b: None, "pipz-failed-start",
            state_partitions=3, no_data_batches=False,
        )
    assert seen == [("3", "false")]
    assert (spark.conf.get(parts), spark.conf.get(no_data, "true")) == before
