"""Close-merge and plan-diff tool contracts (r13 ADVICE + judge #4/#5).

No SparkSession needed — the tools operate on run-detail JSON files.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_file(tmp_path, idx, *, runs=2, cpus=32, sf=0.1, queries=None, pm=None):
    d = {
        "metric": "suite_sec",
        "value": round(sum((queries or {}).values()), 4),
        "unit": "sec",
        "runs": runs,
        "per_query_repeat": runs,
        "queries": queries or {},
        "plan_metrics": pm or {},
        "spread_pct": {},
        "spread_median_pct": 0.0,
        "sf": sf,
        "n_queries": len(queries or {}),
        "cpus": cpus,
    }
    p = os.path.join(str(tmp_path), f"run{idx}.json")
    with open(p, "w") as f:
        json.dump(d, f)
    return p


def test_merge_rejects_mismatched_measurement_config(tmp_path):
    """r13 ADVICE (low): runs/per_query_repeat/cpus are copied from
    runs[0] into the close provenance, so inputs measured under a
    different BENCH_REPEAT or CPU count must be rejected like an sf
    mismatch — a silently mixed close would misdescribe its mins."""
    merge = _load("merge_bench_close")
    q = {"a": 1.0}
    p1 = _run_file(tmp_path, 1, runs=2, queries=q)
    p2 = _run_file(tmp_path, 2, runs=3, queries=q)
    with pytest.raises(SystemExit, match="runs mismatch"):
        merge.main([p1, p2, "--out", os.path.join(str(tmp_path), "o.json")])
    p3 = _run_file(tmp_path, 3, cpus=16, queries=q)
    with pytest.raises(SystemExit, match="cpus mismatch"):
        merge.main([p1, p3, "--out", os.path.join(str(tmp_path), "o.json")])


def test_merge_records_run1_cold_cache_provenance(tmp_path):
    """r13 judge item #4: a query whose run-1 plan_metrics carry
    `cache: build` is recorded in run1_cold_queries with the summed
    delta vs the close min, so a cold-build outlier is mechanically
    distinguishable from a regression."""
    merge = _load("merge_bench_close")
    pm_cold = {"q1": {"n_stages": 3, "shuffle_write_mb": 1.0, "cache": "build"}}
    pm_warm = {"q1": {"n_stages": 3, "shuffle_write_mb": 1.0, "cache": "hit"}}
    p1 = _run_file(tmp_path, 1, queries={"q1": 5.0, "q2": 1.0}, pm=pm_cold)
    p2 = _run_file(tmp_path, 2, queries={"q1": 2.0, "q2": 1.0}, pm=pm_warm)
    out = os.path.join(str(tmp_path), "close.json")
    assert merge.main([p1, p2, "--out", out, "--label", "test"]) == 0
    close = json.load(open(out))
    assert close["run1_cold_queries"] == ["q1"]
    assert close["run1_cold_delta_sec"] == pytest.approx(3.0)
    # the min itself still comes from the warm run
    assert close["queries"]["q1"] == 2.0
    assert close["plan_metrics"]["q1"]["cache"] == "hit"
    # no cold queries -> fields absent
    p3 = _run_file(tmp_path, 3, queries={"q2": 1.0})
    out2 = os.path.join(str(tmp_path), "close2.json")
    merge.main([p3, _run_file(tmp_path, 4, queries={"q2": 0.9}), "--out", out2])
    assert "run1_cold_queries" not in json.load(open(out2))


def test_bench_diff_ack_list_suppresses_stage_only_flags(tmp_path, capsys, monkeypatch):
    """r13 judge item #5: an ACKNOWLEDGED stage-count-only delta (flat
    shuffle) prints ACK and does not flag; a shuffle growth on the same
    query still flags regardless of the list."""
    bd = _load("bench_diff")
    old = {
        "value": 10.0,
        "n_queries": 2,
        "queries": {"a": 1.0, "b": 1.0},
        "plan_metrics": {
            "a": {"n_stages": 10, "shuffle_write_mb": 2.0},
            "b": {"n_stages": 10, "shuffle_write_mb": 2.0},
        },
    }
    new = {
        "value": 10.0,
        "n_queries": 2,
        "queries": {"a": 1.0, "b": 1.0},
        "plan_metrics": {
            # a: stage growth only (flat shuffle) — acknowledged
            "a": {"n_stages": 20, "shuffle_write_mb": 2.0, "cache": "hit"},
            # b: stage growth AND shuffle growth — must still flag
            "b": {"n_stages": 20, "shuffle_write_mb": 9.0},
        },
    }
    po, pn = (os.path.join(str(tmp_path), n) for n in ("old.json", "new.json"))
    json.dump(old, open(po, "w"))
    json.dump(new, open(pn, "w"))
    monkeypatch.setattr(
        bd, "ACKNOWLEDGED_STAGE_DELTAS", {"a": "test justification", "b": "x"}
    )
    monkeypatch.setattr("sys.argv", ["bench_diff.py", po, pn])
    rc = bd.main()
    out = capsys.readouterr().out
    assert rc == 1  # b still flagged
    assert "ACK   a:" in out and "test justification" in out
    assert "[cache: hit]" in out
    assert "FLAG  b:" in out and "FLAG  a:" not in out


def test_bench_diff_auto_acks_flat_byte_stage_growth(tmp_path, capsys, monkeypatch):
    """r14: a stage-only growth with flat shuffle W+R and input bytes is
    auto-ACKed as the exchange-reuse counting artifact even when the
    query is NOT in the explicit list; growth in input bytes (an added
    scan) still flags."""
    bd = _load("bench_diff")
    old = {
        "value": 2.0, "n_queries": 2, "queries": {"c": 1.0, "d": 1.0},
        "plan_metrics": {
            "c": {"n_stages": 10, "shuffle_write_mb": 2.0, "shuffle_read_mb": 3.0, "input_mb": 40.0},
            "d": {"n_stages": 10, "shuffle_write_mb": 2.0, "shuffle_read_mb": 3.0, "input_mb": 40.0},
        },
    }
    new = {
        "value": 2.0, "n_queries": 2, "queries": {"c": 1.0, "d": 1.0},
        "plan_metrics": {
            # c: stage growth only, all bytes flat -> auto-ACK
            "c": {"n_stages": 25, "shuffle_write_mb": 2.0, "shuffle_read_mb": 3.0, "input_mb": 40.1},
            # d: stage growth AND a new 80 MB scan -> must still flag
            "d": {"n_stages": 25, "shuffle_write_mb": 2.0, "shuffle_read_mb": 3.0, "input_mb": 120.0},
        },
    }
    po, pn = (os.path.join(str(tmp_path), x) for x in ("o.json", "n.json"))
    json.dump(old, open(po, "w")); json.dump(new, open(pn, "w"))
    monkeypatch.setattr(bd, "ACKNOWLEDGED_STAGE_DELTAS", {})
    monkeypatch.setattr("sys.argv", ["bench_diff.py", po, pn])
    rc = bd.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "ACK   c:" in out and "exchange-reuse" in out
    assert "FLAG  d:" in out


def test_plan_digest_masks_per_process_tokens_but_not_widths():
    """``plan_audit.plan_digest`` is equal across processes (ids,
    lambda-variable suffixes, plan_ids, stage ids, the run_dir root, the
    in-line order of a distinct-aggregate Expand) and changes with a
    repartition width."""
    import tempfile

    pa = _load("plan_audit")
    tmp = tempfile.gettempdir()

    def plan(ids, width, order, root):
        a, b = ids
        cols = [f"x#{a}L", f"y#{b}"] if order else [f"y#{b}", f"x#{a}L"]
        return "\n".join([
            f"Expand [[{cols[0]}, null, 1], [null, {cols[1]}, 2]]",
            f"+- Exchange hashpartitioning(x#{a}L, {width}), "
            f"REPARTITION_BY_NUM, [plan_id={a + b}]",
            f"   +- ShuffleQueryStage {b}",
            f"      +- Filter (size(filter(v#{a}, lambdafunction((lambda "
            f"x_{b}#{a} > 0), lambda x_{b}#{a}, false)), false) > 1)",
            f"         +- FileScan [file:{tmp}/smss_run_{root}/store/{a}]",
        ])

    base = pa.plan_digest(plan((12, 40), 4, True, "ab"))
    assert pa.plan_digest(plan((97, 3), 4, False, "zq")) == base
    assert pa.plan_digest(plan((12, 40), 2, True, "ab")) != base
