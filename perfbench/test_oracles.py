"""Each output check accepts the right answer and rejects a perturbed one;
the span ledger attributes jobs as documented. No Spark session is needed:

    python3 -m pytest perfbench/test_oracles.py -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import oracles  # noqa: E402
from spans import Ledger, read_event_log, spark_totals, union_length  # noqa: E402

HOURS = list(range(2026010100, 2026010124))


def _ingest_case(batches: int = 7):
    flow = oracles.predict_flow([set(HOURS)] * batches, 50, 100, 4, 10)
    per_hour = {h: (batches * 1000, batches * 123_456 + h % 7) for h in HOURS}
    got = {
        "per_hour": dict(per_hour),
        "metrics": {
            "InsertedRows": batches * 24_000,
            "DelayedInserts": flow["delayed"],
            "PartsActive": flow["active_parts"],
        },
        "flow_active_parts": flow["active_parts"],
        "rejected": 0,
        "parts_report": {h: (flow["parts_per_hour"][h], per_hour[h][0]) for h in HOURS[:20]},
        "parts_report_len": 20,
        "insert_rows": [24_000] * batches,
    }
    want = {"per_hour": per_hour, "rows_per_batch": 24_000, "flow": flow}
    return got, want


def test_predict_flow_cycles_through_the_reference_operating_point():
    flow = oracles.predict_flow([set(HOURS)] * 8, 50, 100, 4, 10)
    # admission sees 0, 24, 48, 72 (delayed, then merged back to 24), 24, 48, 72 (delayed), 24
    assert flow["delayed"] == 2
    assert flow["rejected"] == 0
    assert flow["active_parts"] == 48
    assert all(flow["admitted"])


def test_predict_flow_rejects_at_the_throw_threshold():
    # without merges (min parts never reached) the fifth insert sees 96 < 100,
    # the sixth sees 120 >= 100 and is rejected
    flow = oracles.predict_flow([set(HOURS)] * 6, 50, 100, 1000, 10)
    assert flow["admitted"] == [True] * 5 + [False]
    assert flow["delayed"] == 2 and flow["rejected"] == 1


def test_check_ingest_accepts_consistent_output():
    got, want = _ingest_case()
    assert oracles.check_ingest(got, want) == []


@pytest.mark.parametrize(
    "perturb",
    [
        lambda g: g["per_hour"].__setitem__(HOURS[3], (g["per_hour"][HOURS[3]][0] - 1, g["per_hour"][HOURS[3]][1])),
        lambda g: g["per_hour"].__setitem__(HOURS[3], (g["per_hour"][HOURS[3]][0], g["per_hour"][HOURS[3]][1] + 1)),
        lambda g: g["per_hour"].pop(HOURS[0]),
        lambda g: g["metrics"].__setitem__("InsertedRows", g["metrics"]["InsertedRows"] - 24_000),
        lambda g: g["metrics"].__setitem__("DelayedInserts", g["metrics"]["DelayedInserts"] + 1),
        lambda g: g["metrics"].__setitem__("PartsActive", g["metrics"]["PartsActive"] + 1),
        lambda g: g.__setitem__("flow_active_parts", g["flow_active_parts"] - 1),
        lambda g: g.__setitem__("rejected", 1),
        lambda g: g["parts_report"].__setitem__(HOURS[5], (9, g["parts_report"][HOURS[5]][1])),
        lambda g: g.__setitem__("parts_report_len", 19),
        lambda g: g["insert_rows"].__setitem__(2, 23_999),
    ],
)
def test_check_ingest_rejects_perturbed_output(perturb):
    got, want = _ingest_case()
    got = copy.deepcopy(got)
    perturb(got)
    assert oracles.check_ingest(got, want)


def test_generated_rows_sql_numbers_batches_like_the_generator():
    duckdb = pytest.importorskip("duckdb")
    from clickhousedatamocker_spark.sources.generator import gen_oracle_sql

    con = duckdb.connect()
    whole = con.execute(f"SELECT * FROM ({gen_oracle_sql(20, 3)}) ORDER BY id").fetchall()
    numbered = con.execute(
        f"SELECT * FROM ({oracles.generated_rows_sql(gen_oracle_sql(20, 3), 10)}) ORDER BY id"
    ).fetchall()
    assert [r[1:] for r in numbered] == whole
    assert sorted({r[0] for r in numbered}) == [0, 1]
    with pytest.raises(ValueError):
        oracles.generated_rows_sql("SELECT 1 AS id", 10)


def _topk_rows():
    # two queries, k=3: (query_id, rank, neighbor_id, cosine)
    return [
        (1, 1, 7, 0.9), (1, 2, 4, 0.8), (1, 3, 9, 0.8),
        (2, 1, 1, 0.95), (2, 2, 3, 0.5), (2, 3, 8, 0.25),
    ]


def test_check_topk_shape_accepts_and_rejects():
    rows = _topk_rows()
    assert oracles.check_topk_shape(rows, [1, 2], 3) == []
    assert oracles.check_topk_shape(rows[:5], [1, 2], 3)  # a rank missing
    assert oracles.check_topk_shape(rows[:3], [1, 2], 3)  # a query missing
    assert oracles.check_topk_shape([r if r[:2] != (2, 2) else (2, 2, 2, 0.5) for r in rows], [1, 2], 3)
    assert oracles.check_topk_shape([r if r[:2] != (1, 3) else (1, 3, 9, 0.85) for r in rows], [1, 2], 3)
    assert oracles.check_topk_shape([r if r[:2] != (1, 2) else (1, 2, 10, 0.8) for r in rows], [1, 2], 3)


def test_check_same_rows_and_cosines_reject_a_changed_row():
    rows = _topk_rows()
    assert oracles.check_same_rows("x", rows, list(reversed(rows))) == []
    assert oracles.check_same_rows("x", rows, rows[:-1] + [(2, 3, 8, 0.250001)])
    exact = {(q, n): c for q, _, n, c in rows}
    assert oracles.check_cosines(rows, exact) == []
    assert oracles.check_cosines(rows, {**exact, (1, 4): 0.800001})
    del exact[(2, 3)]
    assert oracles.check_cosines(rows, exact)


# ---------------------------------------------------------------------------
# ledger


def _span(i, name, parent, start, end, main=True):
    return {"id": i, "name": name, "parent": parent, "main": main, "start": start, "end": end, "attrs": {}}


def _job(i, group, submit, end, task_s=(1.0,)):
    stage = {"id": i, "tasks": len(task_s), "run_s": sum(task_s), "task_s": list(task_s),
             "shuffle_write": 10, "shuffle_read": 5, "records_read": 3}
    return {"id": i, "group": group, "submit": submit, "end": end, "stages": [stage]}


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_ledger_attributes_by_group_then_by_submission_time():
    spans = [
        _span(1, "loop.merge", None, 0.0, 10.0),
        _span(2, "engine.merge_once", 1, 0.5, 9.5),
        _span(3, "plans.record_commit", 2, 4.0, 4.5, main=False),
    ]
    jobs = [
        _job(1, "2", 1.0, 2.0),  # grouped: its own span
        _job(2, None, 4.2, 5.0),  # pool thread, no group: innermost main-thread span
        _job(3, None, 20.0, 21.0),  # outside every span
    ]
    led = Ledger(spans, jobs)
    assert [j["id"] for j in led.own_jobs[2]] == [1, 2]
    assert all(j["id"] != 3 for jobs in led.own_jobs.values() for j in jobs)
    outer = led.spans[1]
    assert len(led.jobs_under(outer)) == 2
    assert led.self_s(outer) == pytest.approx(1.0)
    assert led.driver_gap_s(outer) == pytest.approx(10.0 - 1.0 - 0.8)
    assert led.has_ancestor(led.spans[3], "engine.merge_once")


def test_spark_totals_skew_is_max_over_median_on_the_longest_stage():
    totals = spark_totals([_job(1, None, 0, 1, (1.0, 1.0, 4.0)), _job(2, None, 0, 1, (0.5,))])
    assert totals["jobs"] == 2 and totals["stages"] == 2 and totals["tasks"] == 4
    assert totals["task_skew"] == pytest.approx(4.0)


def test_read_event_log_ties_stages_to_the_first_job_listing_them(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "5"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500},
         "Task Metrics": {"Executor Run Time": 400,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Input Metrics": {"Records Read": 7}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 3000, "Finish Time": 3100},
         "Task Metrics": {"Executor Run Time": 90,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 63}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3200},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    j0, j1 = read_event_log(str(path))
    assert (j0["group"], j0["submit"], j0["end"]) == ("5", 1.0, 2.0)
    assert [st["id"] for st in j0["stages"]] == [0]
    assert [st["id"] for st in j1["stages"]] == [2]
    t0, t1 = spark_totals([j0]), spark_totals([j1])
    assert (t0["shuffle_write_bytes"], t0["records_read"], t0["executor_run_s"]) == (64, 7, 0.4)
    assert t1["shuffle_read_bytes"] == 64
