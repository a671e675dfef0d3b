"""session.artifact: the one build-once directory store — marker
re-validation, clean rebuilds, removal of the whole per-process root at
exit (failed builds included), the stream-replay timeout and the shipped
package zip it backs, and a guard against a hand-kept copy of the store
reappearing elsewhere in the package or the driver entry point."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import textwrap
import zipfile

import pytest

import __spark_entry__ as entry

from bloomy_etl_spark import session
from bloomy_etl_spark.operators.engine_queries import _replay_state

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "bloomy_etl_spark"


@pytest.fixture
def root(tmp_path, monkeypatch):
    """A fresh, empty store rooted in ``tmp_path``."""
    monkeypatch.setattr(session, "_ARTIFACT_ROOT", str(tmp_path / "root"))
    return tmp_path / "root"


def test_artifact_revalidates_partial_builds(root):
    """artifact must rebuild when the _BUILD_OK marker is missing — for
    a /tmp-cleaner-reaped directory and for a build that raised — must
    reuse a marked build, and must hand every rebuild an empty
    directory."""
    calls = []

    def build(d):
        assert os.listdir(d) == []
        calls.append(d)

    d1 = session.artifact(("k",), build)
    assert len(calls) == 1 and os.path.isfile(os.path.join(d1, "_BUILD_OK"))
    # live marker → no rebuild
    assert session.artifact(("k",), build) == d1 and len(calls) == 1
    # a file-at-a-time cleaner reaped the contents (marker included)
    # but left the directory: isdir alone would hand out the stub; a
    # stray file left behind must not survive into the rebuild
    os.remove(os.path.join(d1, "_BUILD_OK"))
    (pathlib.Path(d1) / "stray").write_text("stale")
    d2 = session.artifact(("k",), build)
    assert len(calls) == 2 and os.path.isfile(os.path.join(d2, "_BUILD_OK"))
    assert not os.path.exists(os.path.join(d2, "stray"))

    def crash(d):
        (pathlib.Path(d) / "half").write_text("partial")
        raise RuntimeError("build died half-way")

    with pytest.raises(RuntimeError, match="half-way"):
        session.artifact(("c",), crash)
    (d3,) = [d for d in root.iterdir() if d.name.startswith("c-")]
    assert not (d3 / "_BUILD_OK").exists()
    assert session.artifact(("c",), build) == str(d3) and len(calls) == 3
    assert (d3 / "_BUILD_OK").is_file() and not (d3 / "half").exists()


def test_root_and_failed_builds_are_removed_at_exit(tmp_path):
    """A finished and a failed build both live under the process's root;
    the whole root is gone once the process exits."""
    child = textwrap.dedent("""
        import os
        from bloomy_etl_spark import session

        def boom(d):
            open(os.path.join(d, "half"), "w").close()
            raise RuntimeError("boom")

        session.artifact(("done",), lambda d: None)
        try:
            session.artifact(("failed",), boom)
        except RuntimeError:
            pass
        root = session._ARTIFACT_ROOT
        for name in sorted(os.listdir(root)):
            assert os.path.isdir(os.path.join(root, name))
            print(os.path.join(root, name))
        print(root)
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [str(REPO), os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", child], env=env, cwd=REPO,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    *subdirs, root = out.stdout.split()
    assert [os.path.basename(d).split("-")[0] for d in subdirs] == [
        "done", "failed"]
    assert os.path.dirname(root) == str(tmp_path)
    left = [p for p in (root, *subdirs) if os.path.exists(p)]
    assert not left, f"left behind after exit: {left}"


class _StalledQuery:
    """A StreamingQuery stand-in whose availableNow run never finishes."""

    stopped = False

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self.stopped = True


def test_replay_timeout_stops_the_query_and_names_it(root):
    q = _StalledQuery()
    with pytest.raises(RuntimeError, match="q999_stalled"):
        _replay_state(object(), ("q999_stalled", "sf", 0), lambda base: q)
    assert q.stopped
    assert not list(root.glob("*/_BUILD_OK"))


class _FakeContext:
    """A SparkContext stand-in that records ``addPyFile`` paths."""

    def __init__(self):
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_shipped_zip_is_an_artifact(root, monkeypatch):
    monkeypatch.setattr(entry, "_SHIPPED", set())
    spark = _FakeSession()
    entry._ship_package(spark)
    entry._ship_package(spark)  # once per SparkContext
    (path,) = spark.sparkContext.py_files
    assert pathlib.Path(path).parent.parent == root
    with zipfile.ZipFile(path) as z:
        assert "bloomy_etl_spark/__init__.py" in z.namelist()


def test_shipped_zip_is_removed_at_exit(tmp_path):
    child = textwrap.dedent("""
        import __spark_entry__ as entry

        class Context:
            def addPyFile(self, path):
                print(path)

        class Session:
            sparkContext = Context()

        entry._ship_package(Session())
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [str(REPO), os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", child], env=env, cwd=REPO,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    path = out.stdout.strip()
    assert path.startswith(str(tmp_path)) and path.endswith(".zip")
    assert not os.path.exists(path)
    assert not list(tmp_path.iterdir()), "left behind after exit"


# the store's three ingredients; a copy of any of them outside session.py
# is a hand-kept memo directory coming back
_STORE_RULE = re.compile(
    r"_BUILD_OK|atexit\.register|tempfile\.gettempdir\(\)")


def _copies(path: pathlib.Path) -> list[str]:
    return [f"{path.name}:{n}: {m.group(0)}"
            for n, line in enumerate(path.read_text().splitlines(), 1)
            for m in _STORE_RULE.finditer(line)]


def test_guard_flags_a_copy(tmp_path):
    p = tmp_path / "m.py"
    p.write_text('import atexit, tempfile\n'
                 'd = os.path.join(tempfile.gettempdir(), "x")\n'
                 'open(os.path.join(d, "_BUILD_OK"), "w")\n'
                 'atexit.register(cleanup)\n'
                 'tempfile.mkdtemp()\n')
    assert _copies(p) == ["m.py:2: tempfile.gettempdir()",
                          "m.py:3: _BUILD_OK",
                          "m.py:4: atexit.register"]


def test_build_once_store_lives_only_in_session():
    home = PKG / "session.py"
    assert "_BUILD_OK" in home.read_text()
    scanned = [*sorted(PKG.rglob("*.py")), REPO / "__spark_entry__.py"]
    found = [hit for p in scanned if p != home for hit in _copies(p)]
    assert not found, (
        f"build-once directories and files go through session.artifact: "
        f"{found}"
    )
