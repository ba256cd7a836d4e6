"""Growth accounting: hostile-fixture differential for events_user_lifecycle.

The nasty case is a GLOBALLY EMPTY week: no user active at all in week 3.
A lag() over the weekly frame would silently compare week 4 against week 2
(calling week-2 actives "churn candidates" a week late and misclassifying
nothing as churned for week 3); the self-join-on-week-minus-one must
instead report week-4 actives vs a zero week-3 base. This fixture builds
that gap plus every lifecycle arm, asserts semantics independently, then
runs the registered DuckDB oracle on the same files.
"""

from __future__ import annotations

import datetime as dt
import os

from bigdatatiler_spark.registry import load_all
from tools.check_oracle import oracle_connection, table_hash

# Monday anchors (date_trunc('week') is Monday-aligned in both engines)
W = [dt.datetime(2025, 3, 3) + dt.timedelta(weeks=k, days=2) for k in range(5)]


def _write_fixture(spark, path):
    rows = []
    eid = 0

    def ev(user, when):
        nonlocal eid
        eid += 1
        rows.append((eid, when, user, "click", 1.0, "{}"))

    # user 1: active weeks 0,1 → retained in week 1; gone after (no week-2
    #   data from anyone, so their churn lands on the empty week's report)
    ev(1, W[0]); ev(1, W[0] + dt.timedelta(hours=2)); ev(1, W[1])
    # user 2: active weeks 0, 4 → resurrected at week 4
    ev(2, W[0]); ev(2, W[4])
    # user 3: first seen week 1 (new), also 4 (resurrected)
    ev(3, W[1]); ev(3, W[4])
    # user 4: only week 4 (new late)
    ev(4, W[4])
    # NOTE: week 2 and 3 have no events at all — the global gap.
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "events.parquet")
    )


def test_lifecycle_global_week_gap(spark, tmp_path):
    path = str(tmp_path)
    _write_fixture(spark, path)
    spec = load_all()["events_user_lifecycle"]
    sdf = spec.fn(spark, path)
    srows = [tuple(r) for r in sdf.collect()]
    by_week = {r[0]: r[1:] for r in srows}  # week_ms -> (act, new, ret, res, churn)
    wk_ms = sorted(by_week)
    assert len(wk_ms) == 3  # weeks 0, 1, 4 — empty weeks produce no row
    w0, w1, w4 = wk_ms
    assert by_week[w0] == (2, 2, 0, 0, 0)          # users 1,2 new
    assert by_week[w1] == (2, 1, 1, 0, 1)          # 3 new, 1 retained; 2 churned
    # week 4 follows a GLOBALLY empty week: nobody can be retained, and
    # the week-3 base is zero so churned must be 0 - not lag()'s week-1
    assert by_week[w4] == (3, 1, 0, 2, 0)          # 4 new; 2,3 resurrected
    for act, new, ret, res, _ in by_week.values():
        assert act == new + ret + res
    # full differential vs the registered oracle on the same files
    con = oracle_connection(path)
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert table_hash(list(sdf.columns), srows) == table_hash(
        ocols, res.fetchall()
    )
