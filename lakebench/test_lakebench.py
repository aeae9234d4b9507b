"""Self-tests of the benchmark: generator, oracle and metric names.

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from datetime import datetime

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import cdc_oracle  # noqa: E402
import gamegen  # noqa: E402
import run  # noqa: E402
import speedprobe  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


# -- generator ----------------------------------------------------------------


def _write_stream(seed: int, root: str, batches: int = 3) -> dict[str, bytes]:
    stream = gamegen.GameStream(seed, gamegen.Sizes(scale=0.05, batch_rows=100))
    out = {}
    for table, data in stream.initial().items():
        p = gamegen.raw_path(root, "initial-load", table, "part-00000.parquet")
        gamegen.write_parquet(data, p)
        out[p[len(root):]] = open(p, "rb").read()
    for i in range(1, batches + 1):
        for table, data in stream.batch(i).items():
            p = gamegen.raw_path(root, "cdc-load", table, f"batch-{i:05d}.parquet")
            gamegen.write_parquet(data, p)
            out[p[len(root):]] = open(p, "rb").read()
    return out


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _write_stream(7, str(tmp_path / "a"))
    b = _write_stream(7, str(tmp_path / "b"))
    c = _write_stream(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_generator_follows_the_fixture_shapes():
    stream = gamegen.GameStream(3)
    initial = stream.initial()
    assert {t: initial[t].num_rows for t in gamegen.TABLES} == {
        "user_data": 10_000, "item_data": 140, "play_data": 30_000, "purchase_data": 30_000}
    seen_users = set(initial["user_data"].column("user_id").to_pylist())
    deleted_earlier = set()
    for i in range(1, 4):
        batch = {t: b.to_pandas() for t, b in stream.batch(i).items()}
        users, items = batch["user_data"], batch["item_data"]
        assert users["Op"].value_counts().to_dict() == {"I": 46, "U": 52, "D": 2}
        assert items["item_id"].duplicated().sum() == 13
        dup_keys = items.loc[items["item_id"].duplicated(keep=False)]
        assert dup_keys.groupby("item_id")["timestamp"].nunique().eq(
            dup_keys.groupby("item_id").size()).all()
        assert (items["category"] == gamegen._category_of(items["item_id"].to_numpy())).all()
        for t in ("play_data", "purchase_data"):
            assert set(batch[t]["Op"]) == {"I"}
        # Updates and deletes hit keys that exist and were not deleted.
        touched = set(users.loc[users["Op"] != "I", "user_id"])
        assert touched <= seen_users and not touched & deleted_earlier
        deleted_earlier |= set(users.loc[users["Op"] == "D", "user_id"])
        seen_users |= set(users.loc[users["Op"] == "I", "user_id"])
    assert len(deleted_earlier) == 6


def test_batches_are_generated_in_order():
    stream = gamegen.GameStream(1)
    with pytest.raises(ValueError):
        stream.batch(2)


# -- oracle -------------------------------------------------------------------


def _state(rows):
    return cdc_oracle.OracleState(pd.DataFrame(rows, columns=["k", "v"]), "k")


def _batch(rows):
    return pd.DataFrame(
        [(op, datetime(2023, 9, 1, 0, 0, ts), k, v) for op, ts, k, v in rows],
        columns=["Op", "timestamp", "k", "v"],
    )


def _as_dict(state):
    return dict(zip(state.rows()["k"], state.rows()["v"]))


def test_oracle_timestamp_tie_goes_to_the_higher_op_rank():
    s = _state([(1, "a"), (2, "b")])
    s.apply(_batch([("U", 5, 1, "x"), ("D", 5, 1, "x"), ("U", 5, 2, "y"), ("I", 5, 2, "z")]))
    assert _as_dict(s) == {2: "y"}


def test_oracle_insert_update_delete_in_one_batch_removes_the_key():
    s = _state([])
    s.apply(_batch([("I", 1, 9, "a"), ("U", 2, 9, "b"), ("D", 3, 9, "b")]))
    assert _as_dict(s) == {}


def test_oracle_delete_then_update_keeps_the_update():
    s = _state([(4, "old")])
    s.apply(_batch([("D", 1, 4, "old"), ("U", 2, 4, "new")]))
    assert _as_dict(s) == {4: "new"}


def test_oracle_keeps_the_latest_of_13_duplicate_keys():
    rows = [("I", i, 100 + i, "first") for i in range(20)]
    rows += [("U", 30 + i, 100 + i, f"late{i}") for i in range(13)]
    s = _state([])
    s.apply(_batch(rows))
    want = {100 + i: (f"late{i}" if i < 13 else "first") for i in range(20)}
    assert _as_dict(s) == want


def test_oracle_empty_batch_is_a_no_op():
    s = _state([(1, "a")])
    s.apply(_batch([]))
    assert _as_dict(s) == {1: "a"}


def test_oracle_delete_across_batches():
    s = _state([(1, "a"), (2, "b")])
    s.apply(_batch([("D", 1, 1, "a")]))
    s.apply(_batch([("U", 2, 2, "c")]))
    assert _as_dict(s) == {2: "c"}


def test_state_hash_ignores_order_but_not_values():
    f = pd.DataFrame({"k": [1, 2, 3], "t": pd.to_datetime(["2023-01-01"] * 3), "s": list("abc")})
    cols = ["k", "t", "s"]
    assert cdc_oracle.state_hash(f, cols) == cdc_oracle.state_hash(f.iloc[::-1], cols)
    g = f.assign(s=list("abd"))
    assert cdc_oracle.state_hash(f, cols) != cdc_oracle.state_hash(g, cols)


# -- accounting and metric names ----------------------------------------------


def test_diff_counts_hard_links_as_carried_forward(tmp_path):
    a = tmp_path / "a.parquet"
    a.write_bytes(b"x" * 10)
    before = tracing.snapshot([str(tmp_path)])
    os.link(a, tmp_path / "b.parquet")
    (tmp_path / "c.parquet").write_bytes(b"y" * 5)
    (tmp_path / "deletion_vector_1.bin").write_bytes(b"z")
    a.unlink()
    d = tracing.diff(before, tracing.snapshot([str(tmp_path)]))
    assert (d.files_linked, d.files_added, d.bytes_written, d.files_removed,
            d.delete_files) == (1, 2, 6, 1, 1)


def test_every_metric_name_is_valid_and_declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == {n: run.per_layer_unit(n) for n in run.PER_LAYER}
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    for name in list(e2e) + list(layers):
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_every_metric_is_printed_by_every_workload():
    layer = run.per_layer(tracing.Tracer(False), {}, lambda t0, t1: t1 - t0)
    assert list(layer) == list(run.PER_LAYER)
    r = run.Run.__new__(run.Run)
    r.t = {"setup": [(0.0, 1.0)], "initial": [(1.0, 2.0)], "cycle": [(2.0, 4.0)],
           "read": [(4.0, 5.0)], "maintain": [(5.0, 6.0)], "query": [(6.0, 6.5), (6.5, 8.0)]}
    r.cdc_rows, r.cdc_bytes_written, r.raw_cdc_bytes, r.space_amp = 400, 10, 5, 1.5
    r.failures, r.attempted = [], 10
    e2e = r.end_to_end(lambda t0, t1: t1 - t0)
    assert list(e2e) == list(run.END_TO_END) + list(run.RECORD_ONLY)
    assert e2e["cdc_cycle_s"] == 2.0 and e2e["queries_total_s"] == 1.0


def test_each_backend_comparison_is_one_attempt():
    """A wrong read on every backend can never make failed exceed attempted."""

    class Lake:
        read_sql = "SELECT COUNT(*) AS n FROM t"

    r = run.Run.__new__(run.Run)
    r.failures, r.attempted = [], 0
    r.state = {"t": cdc_oracle.OracleState(pd.DataFrame({"k": [1, 2]}), "k")}
    assert r.attempt("fresh_read", lambda: {b: [(5,)] for b in run.OPEN_FORMATS})
    r.check_read("1.0", Lake(), {b: [(5,)] for b in run.OPEN_FORMATS})
    assert r.attempted == 1 + len(run.OPEN_FORMATS)
    assert len(r.failures) == len(run.OPEN_FORMATS)


def test_probe_scales_wall_time_to_the_reference_speed():
    p = speedprobe.Probe("unused")
    p.t = [float(i) for i in range(20)]
    p.loop_s = [speedprobe.REF_LOOP_S * (2 if i < 10 else 1) for i in range(20)]
    p.steal = [0] * 20
    p.busy = [100 * i for i in range(20)]
    assert p.scale(0.0, 9.0) == pytest.approx(4.5)  # at half the speed
    assert p.scale(12.0, 19.0) == pytest.approx(7.0)  # at the reference speed
    # A short interval is judged by the samples around it.
    assert p.slowness(15.2, 15.3) == pytest.approx(1.0)
    assert p.slowness(9.9, 10.0) == pytest.approx(1.4)


def test_probe_takes_stolen_time_out():
    p = speedprobe.Probe("unused")
    p.t = [float(i) for i in range(20)]
    p.loop_s = [speedprobe.REF_LOOP_S] * 20
    p.steal = [10 * i for i in range(20)]  # a tenth of busy time stolen
    p.busy = [100 * i for i in range(20)]
    assert p.steal_share(2.0, 12.0) == pytest.approx(0.1)
    assert p.scale(2.0, 12.0) == pytest.approx(9.0)


def test_probe_process_samples_and_stops(tmp_path):
    p = speedprobe.Probe(str(tmp_path / "speed.txt"))
    p.start()
    time.sleep(0.5)
    p.stop()
    assert p.proc is None and len(p.loop_s) >= 3
    assert all(x > 0 for x in p.loop_s) and p.t == sorted(p.t)
    assert p.busy == sorted(p.busy) and 0 <= p.steal_share(p.t[0], p.t[-1]) < 1
