"""Status-store lookups shared by the pipeline tests and
``tools/dedupe_ab.py``."""

from __future__ import annotations


def enrich_map_stage(sc, group: str):
    """The first stage in job group ``group`` that ran the enrich map
    (the plan's ArrowEvalPython node), as the status store's stage data;
    later stages over the persisted output show the node too but read
    cached blocks. Stages the store has already evicted (past
    ``spark.ui.retainedStages``, skipped stages first) are passed over:
    the map stage has just completed and is kept."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    stages = sorted(
        sid
        for job in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(job).stageIds
    )
    for sid in stages:
        if tracker.getStageInfo(sid) is None:
            continue
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() != "COMPLETE":
            continue
        if 'label="ArrowEvalPython"' in dot(store.operationGraphForStage(sid)):
            return stage
    raise AssertionError(f"no enrich stage in job group {group!r}")
