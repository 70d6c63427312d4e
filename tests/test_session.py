"""Session factory behaviour that needs no query of its own."""

import logging

import pytest


@pytest.mark.spark
def test_failed_warm_up_is_logged_and_session_returned(spark, monkeypatch,
                                                        caplog):
    """A warm-up that raises (e.g. a Python worker daemon that cannot
    start) is logged at WARNING on the library logger, and the caller
    still gets the session."""
    from rsoup_spark import session

    def boom(_spark):
        raise RuntimeError("warm-up exploded")

    monkeypatch.setattr(session, "_warm_session", boom)
    monkeypatch.setattr(session, "_WARMED", set())
    monkeypatch.delenv("SPARK_GRAFT_NO_WARM", raising=False)
    with caplog.at_level(logging.WARNING, logger="rsoup_spark"):
        got = session.get_spark("pytest", master="local[4]",
                                shuffle_partitions=8)
    assert got is spark
    rec = [r for r in caplog.records if r.name == "rsoup_spark"]
    assert rec and rec[0].levelno == logging.WARNING
    assert "warm-up exploded" in str(rec[0].exc_info[1])


def test_library_logger_is_silent_by_default():
    import rsoup_spark  # noqa: F401

    handlers = logging.getLogger("rsoup_spark").handlers
    assert any(isinstance(h, logging.NullHandler) for h in handlers)


def test_only_the_session_reads_the_environment():
    """Library behaviour is chosen by arguments, not by environment
    switches: under rsoup_spark/, only session.py reads the environment
    (deployment settings: CPUs, master, driver memory and the warm-up
    opt-out)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "rsoup_spark"
    reads = re.compile(
        r"\bos\.environ\b|\bgetenv\b|\bfrom os import\b.*\benviron\b"
    )
    offenders = []
    for py in root.rglob("*.py"):
        if py == root / "session.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if reads.search(line):
                offenders.append(f"{py.relative_to(root)}:{i}")
    assert not offenders, offenders
