"""go_mapreduce_spark.scratch: reuse of derived data (``build_once``)
and per-call working dirs (``fresh_dir``).  All but the last test are
JVM-free."""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import pytest

from go_mapreduce_spark import scratch


@pytest.fixture
def tmp(tmp_path, monkeypatch):
    """Point the temp dir at an empty dir of the test's own."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return str(d)


def _sf(tmp_path, parent: str) -> str:
    d = tmp_path / parent / "sf0.001"
    d.mkdir(parents=True)
    (d / "orders.parquet").write_bytes(b"orders")
    return str(d)


def _slot_entries(tmp: str, name: str) -> list[str]:
    """The slot's versions and build dirs (not its inputs record)."""
    (slot,) = [s for s in os.listdir(tmp) if s.startswith(f"gms_{name}_")]
    return sorted(e for e in os.listdir(os.path.join(tmp, slot)) if e != scratch._INPUTS)


def _writer(log: list):
    def build(path: str) -> None:
        log.append(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write("done")

    return build


def test_failed_build_publishes_nothing(tmp, tmp_path):
    sf = _sf(tmp_path, "a")

    def boom(path: str) -> None:
        open(os.path.join(path, "part-0"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        scratch.build_once("t", boom, sf)
    assert _slot_entries(tmp, "t") == []
    log: list = []
    path = scratch.build_once("t", _writer(log), sf)
    assert len(log) == 1 and _slot_entries(tmp, "t") == [os.path.basename(path)]


def test_racing_builders_publish_one_complete_copy(tmp, tmp_path):
    sf = _sf(tmp_path, "a")
    both_building = threading.Barrier(2, timeout=30)
    log: list = []
    write = _writer(log)

    def build(path: str) -> None:
        both_building.wait()  # neither publishes before both have built
        write(path)

    got: list = []
    threads = [
        threading.Thread(target=lambda: got.append(scratch.build_once("t", build, sf)))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(log) == 2 and len(got) == 2 and got[0] == got[1]
    assert _slot_entries(tmp, "t") == [os.path.basename(got[0])]
    assert os.listdir(got[0]) == ["part-0"]
    with open(os.path.join(got[0], "part-0")) as fh:
        assert fh.read() == "done"


def test_changed_input_or_code_rebuilds_and_drops_the_old_version(tmp, tmp_path, monkeypatch):
    sf_a, sf_b = _sf(tmp_path, "a"), _sf(tmp_path, "b")
    log: list = []
    p1 = scratch.build_once("t", _writer(log), sf_a)
    other = scratch.build_once("t", _writer(log), sf_b)
    assert other != p1  # same basename, different slot
    assert scratch.build_once("t", _writer(log), sf_a) == p1 and len(log) == 2

    st = os.stat(os.path.join(sf_a, "orders.parquet"))
    os.utime(os.path.join(sf_a, "orders.parquet"), ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    p2 = scratch.build_once("t", _writer(log), sf_a)
    assert p2 != p1 and len(log) == 3
    assert not os.path.exists(p1) and os.path.isfile(os.path.join(p2, "part-0"))

    monkeypatch.setattr(scratch, "_source_digest", lambda: "other code")
    p3 = scratch.build_once("t", _writer(log), sf_a)
    assert p3 != p2 and len(log) == 4 and not os.path.exists(p2)
    assert os.path.isfile(os.path.join(other, "part-0"))  # the other sf is untouched


def test_new_bytecode_under_an_input_does_not_rebuild(tmp, tmp_path):
    # the package zip's input is the package dir, where every first
    # import writes a .pyc; that must not re-zip or drop the zip in use
    sf = _sf(tmp_path, "a")
    log: list = []
    p1 = scratch.build_once("t", _writer(log), sf)
    os.makedirs(os.path.join(sf, "__pycache__"))
    with open(os.path.join(sf, "__pycache__", "m.cpython-311.pyc"), "wb") as fh:
        fh.write(b"pyc")
    assert scratch.build_once("t", _writer(log), sf) == p1 and len(log) == 1


def test_a_build_prunes_slots_whose_inputs_are_gone(tmp, tmp_path):
    gone, live = _sf(tmp_path, "a"), _sf(tmp_path, "b")
    log: list = []
    p_gone = scratch.build_once("t", _writer(log), gone)
    p_live = scratch.build_once("t", _writer(log), live)
    unrecorded = os.path.join(tmp, "gms_run_x")  # not a slot: no inputs record
    os.makedirs(unrecorded)
    shutil.rmtree(gone)
    assert scratch.build_once("t", _writer(log), live) == p_live  # a hit prunes nothing
    assert os.path.isdir(p_gone) and len(log) == 2

    scratch.build_once("u", _writer(log), live)
    assert not os.path.exists(os.path.dirname(p_gone))
    assert os.path.isfile(os.path.join(p_live, "part-0")) and os.path.isdir(unrecorded)
    assert len(os.listdir(tmp)) == 3  # live t slot, u slot, gms_run_x


def test_fresh_dir_is_empty_and_keyed_on_name_and_sf(tmp_path):
    sf_a, sf_b = _sf(tmp_path, "a"), _sf(tmp_path, "b")
    d = scratch.fresh_dir("t", sf_a)
    assert os.path.isdir(d) and os.listdir(d) == []
    with open(os.path.join(d, "out"), "w") as fh:
        fh.write("left over")
    assert scratch.fresh_dir("t", sf_a) == d and os.listdir(d) == []
    assert scratch.fresh_dir("t", sf_b) != d
    assert scratch.fresh_dir("u", sf_a) != d


def test_same_basename_sf_dirs_do_not_share_scratch_state(spark, sf_dir, tmp, tmp_path):
    """Two input dirs both named sf0.001: x149 on the second must answer
    for its own data, not reuse the demo table built from the first."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from go_mapreduce_spark.queries import ORACLE_SQL, QUERIES
    from tests.conftest import canon_rows

    a = tmp_path / "a" / "sf0.001"
    b = tmp_path / "b" / "sf0.001"
    for d in (a, b):
        d.mkdir(parents=True)
        for f in os.listdir(sf_dir):
            if f != "orders.parquet" or d == a:
                shutil.copyfile(os.path.join(sf_dir, f), d / f)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    even = pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0)
    pq.write_table(orders.filter(even), b / "orders.parquet")

    name = "x149_lakehouse_merge"
    for d in (a, b):
        sdf = QUERIES[name](spark, str(d))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet'")
        ores = con.execute(ORACLE_SQL[name])
        want = canon_rows([c[0] for c in ores.description], ores.fetchall())
        con.close()
        assert canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()]) == want, d
