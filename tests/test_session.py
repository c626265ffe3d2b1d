"""session.ensure_package_on_executors: the package ships once per
SparkContext object, tracked by the object itself (not its id())."""

from __future__ import annotations

import os
import shutil
import zipfile


class _StubContext:
    """Stands in for a SparkContext: records every addPyFile call."""

    def __init__(self):
        self.shipped: list[str] = []

    def addPyFile(self, path: str) -> None:
        self.shipped.append(path)


class _StubSession:
    def __init__(self, sc: _StubContext):
        self.sparkContext = sc


def test_package_ships_once_per_context_object(monkeypatch):
    from go_mapreduce_spark import session

    # a dead context's id() can be reused by a new one; make every id()
    # collide outright, so only object identity can tell contexts apart
    monkeypatch.setattr(session, "id", lambda _obj: 0, raising=False)

    a = _StubContext()
    session.ensure_package_on_executors(_StubSession(a))
    session.ensure_package_on_executors(_StubSession(a))
    assert len(a.shipped) == 1
    with zipfile.ZipFile(a.shipped[0]) as z:
        assert "go_mapreduce_spark/session.py" in z.namelist()

    # a new context object gets the package shipped again
    b = _StubContext()
    session.ensure_package_on_executors(_StubSession(b))
    assert len(b.shipped) == 1

    for path in a.shipped + b.shipped:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
