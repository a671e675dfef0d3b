"""The conftest slow-test gate matches on file basename + test name."""

from __future__ import annotations

from tests import conftest


class _Item:
    def __init__(self, nodeid: str) -> None:
        self.nodeid = nodeid
        self.keywords: dict[str, object] = {}
        self.markers: list = []

    def add_marker(self, marker) -> None:
        self.markers.append(marker)


def test_slow_key_strips_path_and_parameter_id():
    assert conftest._slow_key("tests/test_cli.py::test_x[a/b]") == "test_cli.py::test_x"
    assert conftest._slow_key("test_cli.py::TestC::test_x") == "test_cli.py::TestC::test_x"
    assert conftest._slow_key("/abs/tests/test_cli.py::test_x[p::q]") == "test_cli.py::test_x"


def test_parameter_id_with_slash_does_not_escape_the_gate(monkeypatch):
    monkeypatch.setattr(conftest, "_RUN_SLOW", False)
    slow = _Item("tests/test_cli.py::test_cli_date_range_and_flags[2024/06/01-x/y]")
    fast = _Item("tests/test_cli.py::test_other[2024/06/01]")
    conftest.pytest_collection_modifyitems(None, [slow, fast])
    assert len(slow.markers) == 1 and slow.markers[0].kwargs["reason"].startswith("slow")
    assert fast.markers == []
