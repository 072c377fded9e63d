"""catalog.fixture_cache: render once, publish whole by one rename."""

from __future__ import annotations

import os
import tempfile

import pytest

from database_syncer_spark.catalog import fixture_cache


@pytest.fixture()
def tmpdir_root(tmp_path, monkeypatch):
    """Point the temp dir (where fixture_cache keeps its paths) at an
    empty per-test dir."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _write_file(text):
    def build(tmp):
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text)
    return build


def test_fixture_cache_builds_once(tmpdir_root):
    calls = []

    def build(tmp):
        calls.append(tmp)
        _write_file("rendered")(tmp)

    path = fixture_cache("/data/sf0.01", "dump.sql", build)
    assert open(path, encoding="utf-8").read() == "rendered"
    assert fixture_cache("/data/sf0.01", "dump.sql", build) == path
    assert len(calls) == 1
    assert os.listdir(tmpdir_root) == [os.path.basename(path)]


def test_fixture_cache_concurrent_winner_survives(tmpdir_root):
    """A directory another process publishes while ``build`` runs stays
    as that process wrote it; the local tmp is removed."""
    seen = {}

    def build(tmp):
        seen["tmp"] = tmp
        os.makedirs(tmp)
        open(os.path.join(tmp, "loser"), "w").close()
        # the concurrent writer's publish lands first
        winner = tmp.rsplit(".", 3)[0]  # <path>.<pid>.<hex>.tmp
        os.makedirs(winner)
        open(os.path.join(winner, "winner"), "w").close()

    path = fixture_cache("/data/sf0.01", "files", build)
    assert os.listdir(path) == ["winner"]
    assert not os.path.exists(seen["tmp"])
    assert os.listdir(tmpdir_root) == [os.path.basename(path)]


def test_fixture_cache_failed_build_leaves_nothing(tmpdir_root):
    def fail(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "half"), "w").close()
        raise RuntimeError("render failed")

    with pytest.raises(RuntimeError, match="render failed"):
        fixture_cache("/data/sf0.01", "files", fail)
    assert os.listdir(tmpdir_root) == []

    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)

    path = fixture_cache("/data/sf0.01", "files", build)
    assert calls and os.path.isdir(path)


def test_fixture_cache_paths_differ_for_same_basename(tmpdir_root):
    a = fixture_cache("/a/sf0.1", "dump.sql", _write_file("a"))
    b = fixture_cache("/b/sf0.1", "dump.sql", _write_file("b"))
    assert a != b
    assert open(a, encoding="utf-8").read() == "a"
    assert open(b, encoding="utf-8").read() == "b"
