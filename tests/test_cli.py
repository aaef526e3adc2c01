"""CLI surface tests (python -m etl_spark) — in-process via main(argv).

The full gen→replay→kill/resume→oracle drive runs in the /verify recipe;
here we pin the CLI behaviors with contracts an orchestrator scripts
against: exit codes and the JSON line protocol.
"""

import json

from etl_spark.__main__ import main


def _json_lines(out: str) -> list[dict]:
    return [json.loads(l) for l in out.strip().splitlines() if l.strip()]


def test_replay_cli_mandatory_lag_breach_exit_code(spark, tmp_path, capsys):
    """--max-lag-s with --lag-level mandatory: the breaching epoch's
    commit is durable and reported, the breach line is printed, and the
    exit code is 3 (distinct from argparse's 2) so an orchestrator can
    tell 'data applied but stale — page someone' from 'failed'.
    Reference analogue: the DeadlineSensor failing the DAG run while the
    completed tasks' data stays
    (/root/reference/etl/dags/user_history/DAG_user_history.py:98-105)."""
    log = str(tmp_path / "log")
    assert main(["gen", "--out", log, "--events", "2000",
                 "--convs", "20", "--epochs", "2"]) == 0
    capsys.readouterr()

    tbl = str(tmp_path / "tbl")
    rc = main(["replay", "--log", log, "--table", tbl, "--buckets", "2",
               "--max-lag-s", "60", "--lag-level", "mandatory"])
    lines = _json_lines(capsys.readouterr().out)
    assert rc == 3
    # fixture op_ts are historical → epoch 0 breaches; it COMMITTED first
    assert [d["epoch"] for d in lines if "epoch" in d] == [0]
    assert any(d.get("committed_epoch") == 0 for d in lines)
    assert any("slo_violation" in d for d in lines)

    # resumable: a second run without the SLO applies only epoch 1
    rc = main(["replay", "--log", log, "--table", tbl, "--buckets", "2"])
    lines = _json_lines(capsys.readouterr().out)
    assert rc == 0
    assert [d["epoch"] for d in lines if "epoch" in d] == [1]
    assert any(d.get("committed_epoch") == 1 for d in lines)

    # optional level: breaches alert but the replay completes, rc 0
    tbl2 = str(tmp_path / "tbl2")
    rc = main(["replay", "--log", log, "--table", tbl2, "--buckets", "2",
               "--max-lag-s", "60", "--lag-level", "optional"])
    lines = _json_lines(capsys.readouterr().out)
    assert rc == 0
    assert [d["epoch"] for d in lines if "epoch" in d] == [0, 1]

def test_route_view_cli_pins_to_complete_epoch(spark, tmp_path, capsys):
    """`route-view` exposes route_epochs.consistent_view at the CLI: one
    JSON line with the newest COMPLETE epoch and per-table counts. After
    a full route run it reflects the final epoch; the torn-fan-out
    guarantee itself is pinned in tests/test_router.py."""
    log = str(tmp_path / "log")
    assert main(["gen", "--out", log, "--events", "2000",
                 "--convs", "20", "--epochs", "2"]) == 0
    capsys.readouterr()

    base = str(tmp_path / "routed")
    assert main(["route", "--log", log, "--base", base, "--buckets", "2"]) == 0
    route_lines = _json_lines(capsys.readouterr().out)
    last_epoch = route_lines[-1]["epoch"]

    assert main(["route-view", "--base", base]) == 0
    (view,) = _json_lines(capsys.readouterr().out)
    assert view["epoch"] == last_epoch
    assert view["tables"] and all(n >= 0 for n in view["tables"].values())
    # pinned union == spine replay row count
    from etl_spark.cdc.engine import CdcEngine

    eng = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=2)
    eng.replay(log)
    assert sum(view["tables"].values()) == eng.table.snapshot_df().count()


def test_route_view_cli_before_any_epoch_is_json_error(spark, tmp_path, capsys):
    """No router epoch has completed under --base yet: `route-view` keeps
    the JSON-line contract — one error object on stdout and a nonzero
    exit code — instead of escaping with a FileNotFoundError traceback."""
    rc = main(["route-view", "--base", str(tmp_path / "routed")])
    (line,) = _json_lines(capsys.readouterr().out)
    assert rc != 0
    assert line["error"] == "no_complete_epoch"
    assert "no complete router epoch" in line["detail"]
