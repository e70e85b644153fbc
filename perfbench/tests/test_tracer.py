"""In-memory spans and timed operations of the child process (no Spark).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from perfbench.child import Tracer, record_op


def test_spans_record_parent_ids_in_memory():
    tr = Tracer("run-1")
    with tr.span("op", k=0):
        with tr.span("kept_write"):
            pass
        with tr.span("kept_write"):
            pass
    by_id = {s["id"]: s for s in tr.spans}
    (op,) = [s for s in tr.spans if s["name"] == "op"]
    writes = [s for s in tr.spans if s["name"] == "kept_write"]
    assert op["parent"] is None and op["k"] == 0
    assert [w["parent"] for w in writes] == [op["id"], op["id"]]
    assert len(by_id) == 3 and all(s["run_id"] == "run-1" for s in tr.spans)
    assert all(op["start"] <= w["start"] <= w["end"] <= op["end"] for w in writes)


def test_failed_op_is_recorded_not_raised():
    tr, out = Tracer("run-1"), {"ops": []}

    def boom(rec):
        raise RuntimeError("engine failed")

    record_op(out, tr, 0, boom, kind="job")
    record_op(out, tr, 1, lambda rec: None, kind="job")
    first, second = out["ops"]
    assert not first["ok"] and "engine failed" in first["error"]
    assert second["ok"] and second["wall_s"] >= 0


def test_skipped_step_fails_the_run():
    import time

    from perfbench.child import skip_op
    from perfbench.run import verify

    out = {"ops": [], "errors": []}
    skip_op(out, "prefix_cuts", time.time() + 20)
    assert not out["ops"][0]["ok"] and "not started" in out["ops"][0]["error"]
    attempted, failed, problems = verify(out, {})
    assert (attempted, failed) == (1, 1) and problems[0].startswith("prefix_cuts:")
