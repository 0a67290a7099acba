"""The persisted index artifacts of the bench entries are keyed by the
code that builds them as well as by the data they index."""

import importlib.util
import os
import tempfile

import __spark_entry__ as entry


def test_persisted_artifact_keyed_by_builder_code(tmp_path, monkeypatch):
    """Same data and code reuse one directory; a changed ``build`` or a
    changed library module it calls gets a different directory, so one
    checkout never reads an index another checkout's code wrote."""
    sf = tmp_path / "sf"
    (sf / "t.parquet").mkdir(parents=True)
    (sf / "t.parquet" / "part-0.parquet").write_bytes(b"rows")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    lib = tmp_path / "artifact_lib.py"
    lib.write_text("def index(d):\n    return 1\n")
    spec = importlib.util.spec_from_file_location("artifact_lib", lib)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    built = []

    def build_a(d):
        built.append("a")

    def build_b(d):
        built.append("b")

    def art(build):
        return entry._persisted_artifact(str(sf), "t", "tag", build, (mod,))

    first = art(build_a)
    assert os.path.isdir(first)
    assert art(build_a) == first and built == ["a"]  # reused, not rebuilt
    assert art(build_b) != first
    lib.write_text("def index(d):\n    return 2  # changed\n")
    changed = art(build_a)
    assert changed != first and built == ["a", "b", "a"]
