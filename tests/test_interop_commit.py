"""formats.interop commit atomicity: a writer killed mid-commit.

Each format commits through one publish step (serialize, write a
same-directory temp file, hard-link it to the final name). A writer
killed part-way is modeled by making the JSON serializer raise a
``BaseException`` subclass, which skips every ``except Exception``
cleanup the way a real kill would. After the "crash" the table must
read exactly as before and accept the next commit; a stray temp file
(what a SIGKILL between write and link leaves) must change no read.
"""

import json
import os

import pytest

from automation_of_building_a_transactional_data_lake_spark.formats import (
    interop,
)


class _Killed(BaseException):
    """Stands in for the process dying: not an ``Exception``."""


def _kill_json(monkeypatch):
    def _die(*_a, **_k):
        raise _Killed()

    monkeypatch.setattr(interop.json, "dump", _die)
    monkeypatch.setattr(interop.json, "dumps", _die)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _stray_tmp(directory, final_name, body):
    """The file a writer killed between temp write and link leaves."""
    with open(
        os.path.join(directory, f".{final_name}.0000-dead.tmp"), "w",
        encoding="utf-8",
    ) as f:
        f.write(body)


def test_iceberg_killed_commit_leaves_table_committable(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "ice")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    interop.write_iceberg(df, path, mode="error")
    before = _rows(interop.read_iceberg(spark, path))

    with monkeypatch.context() as m:
        _kill_json(m)
        with pytest.raises(_Killed):
            interop.alter_iceberg_table(path, add_columns=[("x", "string")])

    assert _rows(interop.read_iceberg(spark, path)) == before
    # The next commit takes the version the killed writer never
    # published (a half-created v2 would wedge it on FileExistsError).
    assert interop.alter_iceberg_table(path, add_columns=[("x", "string")]) == 2
    after = interop.read_iceberg(spark, path)
    assert after.columns == ["id", "val", "x"]
    assert _rows(after) == [(1, "a", None), (2, "b", None)]

    mdir = os.path.join(path, "metadata")
    _stray_tmp(mdir, "v3.metadata.json", '{"format-version": 2, "sna')
    _stray_tmp(mdir, "version-hint.text", "")
    assert _rows(interop.read_iceberg(spark, path)) == _rows(after)
    interop.write_iceberg(
        spark.createDataFrame([(3, "c", "z")], "id long, val string, x string"),
        path, mode="append",
    )
    assert _rows(interop.read_iceberg(spark, path)) == [
        (1, "a", None), (2, "b", None), (3, "c", "z"),
    ]


def test_iceberg_empty_version_hint_falls_back_to_listing(spark, tmp_path):
    path = str(tmp_path / "ice_hint")
    interop.write_iceberg(
        spark.createDataFrame([(1, "a")], "id long, val string"), path,
        mode="error",
    )
    interop.write_iceberg(
        spark.createDataFrame([(2, "b")], "id long, val string"), path,
        mode="append",
    )
    hint = os.path.join(path, "metadata", "version-hint.text")
    for torn in ("", "\n", "v2"):
        with open(hint, "w", encoding="ascii") as f:
            f.write(torn)
        assert _rows(interop.read_iceberg(spark, path)) == [(1, "a"), (2, "b")]
    # The next commit derives its version from the listing and
    # rewrites a usable hint.
    interop.write_iceberg(
        spark.createDataFrame([(3, "c")], "id long, val string"), path,
        mode="append",
    )
    with open(hint, encoding="ascii") as f:
        assert f.read() == "3"
    assert interop.read_iceberg(spark, path).count() == 3


def test_hudi_killed_replacecommit_leaves_snapshot_readable(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "hudi")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    interop.write_hudi(df, path, record_key="id", mode="bulk_insert")
    before = _rows(interop.read_hudi(spark, path))
    assert before == [(1, "a"), (2, "b"), (3, "c")]

    instant = interop._hudi_new_instant(path)
    with monkeypatch.context() as m:
        _kill_json(m)
        with pytest.raises(_Killed):
            interop._hudi_complete(
                path, instant, "DELETE", {},
                replaced_fids=interop._hudi_visible_groups(path),
            )

    assert _rows(interop.read_hudi(spark, path)) == before
    hdir = os.path.join(path, ".hoodie")
    _stray_tmp(hdir, f"{instant}.replacecommit", "")
    _stray_tmp(hdir, f"{instant}.commit", '{"partitionToWriteStats": {')
    assert _rows(interop.read_hudi(spark, path)) == before
    assert interop.truncate_hudi(path)[1] == 3
    assert interop.read_hudi(spark, path).count() == 0


def test_delta_killed_commit_replays_previous_version(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "delta")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    interop.write_delta(
        df, path, configuration={"delta.constraints.pos": "id > 0"}
    )

    with monkeypatch.context() as m:
        _kill_json(m)
        with pytest.raises(_Killed):
            interop.drop_delta_constraint(path, "pos")

    state = interop._delta_replay(path, None)
    assert state["version"] == 0
    assert "delta.constraints.pos" in state["metaData"]["configuration"]
    log = os.path.join(path, "_delta_log")
    _stray_tmp(
        log, f"{1:020d}.json",
        json.dumps({"remove": {"path": next(iter(state["files"]))}}) + "\n",
    )
    assert _rows(interop.read_delta(spark, path)) == [(1, "a"), (2, "b")]
    assert interop.drop_delta_constraint(path, "pos") == 1
    assert interop.write_delta(
        spark.createDataFrame([(-3, "c")], "id long, val string"), path,
        mode="append",
    ) == 2
    assert _rows(interop.read_delta(spark, path)) == [
        (-3, "c"), (1, "a"), (2, "b"),
    ]
