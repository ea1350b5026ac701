"""Executor shuffle metrics read from the AppStatusStore, not from
plan text (works with spark.ui.enabled=false — the AppStatusListener
always populates it): ``all_stages`` lists every stage the session has
seen and ``stage_totals`` sums their shuffle bytes, records and run
time, so a caller diffs two snapshots around the work it measures
(tools/fetch_audit.py does).
"""

from __future__ import annotations


def all_stages(spark):
    """Every stage the AppStatusStore has seen (works with the UI off)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    return [seq.apply(i) for i in range(seq.size())]


def stage_totals(spark) -> dict[str, int]:
    """Sum shuffle metrics over every completed stage so far."""
    tot = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_records": 0, "executor_run_ms": 0, "stages": 0}
    for st in all_stages(spark):
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_write_records"] += st.shuffleWriteRecords()
        tot["executor_run_ms"] += st.executorRunTime()
        tot["stages"] += 1
    return tot
