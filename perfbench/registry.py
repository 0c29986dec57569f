"""Registry probe: one oracle-backed query per ``operators/`` module.

Run once per traced run, on seeded tables from ``datagen.py``. For each
query it records the time to build the DataFrame (``build_s``), the time
to execute and collect it (``exec_s``), and the Spark jobs, stages and
tasks it ran (status tracker, one job group per query). Outside the
timed region each query is checked against its registered DuckDB oracle
by ``tools/verify_queries.py``'s ``compare``: column names, row count,
and the multiset of rows with doubles rounded.

The repository's fixture tables are not part of a checkout, so the probe
runs on tables ``datagen.py`` writes from the run's seed.
"""

from __future__ import annotations

import os
import time

#: module -> query. From ``bench.py``'s HEADLINE list where it has one for
#: the module, preferring the cheaper ones; ``q_mm_meta`` and
#: ``q_layout_zorder`` cover the two modules HEADLINE lacks.
QUERIES = {
    "relational": "q_flagship_pricing_summary",
    "scalar_functions": "q_fn_json",
    "windows": "q_win_session",
    "dedup": "q_dedup_exact",
    "similarity": "q_sim_topk",
    "text_analysis": "q_text_quality",
    "multimodal": "q_mm_meta",
    "udfs": "q_udf_scalar",
    "analytics_ext": "q_join_asof",
    "tpch_suite": "q_sql_market_share",
    "pipeline_ops": "q_text_tfidf",
    "quality": "q_profile_orders",
    "timeseries": "q_rollup_multires",
    "graph": "q_graph_degrees",
    "layout": "q_layout_zorder",
}


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def probe_registry(spark, seed: int, out_dir: str, tracer) -> tuple[dict, int, int, list]:
    """(per-layer metrics, attempted, failed, notes)."""
    from datagen import generate
    from tools.verify_queries import compare, duck_connection
    from ws_to_kafka_spark.operators import QUERIES as REGISTRY
    from ws_to_kafka_spark.operators import distributed

    data = generate(os.path.join(out_dir, f"data-{seed}"), seed)
    sc = spark.sparkContext
    layer, errors = {}, {}
    with tracer.span("operators"):
        for module, name in QUERIES.items():
            group = f"perfbench-{name}-{tracer.run_id}"
            sc.setJobGroup(group, name)
            try:
                with distributed.persist_scope(), tracer.span(f"operators.{module}", query=name):
                    t0 = time.perf_counter()
                    df = REGISTRY[name].fn(spark, data)
                    t1 = time.perf_counter()
                    df.collect()
                    t2 = time.perf_counter()
                errors[name] = None
            except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                t1 = t2 = time.perf_counter()
                t0 = t1
                errors[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs, stages, tasks = _job_counts(sc, group)
            layer[f"operators.{module}.build_s"] = t1 - t0
            layer[f"operators.{module}.exec_s"] = t2 - t1
            layer[f"operators.{module}.jobs"] = float(jobs)
            layer[f"operators.{module}.stages"] = float(stages)
            layer[f"operators.{module}.tasks"] = float(tasks)

    notes, failed = [], 0
    with tracer.span("operators.oracle_check"):
        con = duck_connection(data)
        try:
            for name, error in errors.items():
                if error is None:
                    try:
                        with distributed.persist_scope():
                            status = compare(spark, con, name, data)
                    except Exception as exc:  # noqa: BLE001 - counted below
                        status = f"{type(exc).__name__}: {str(exc)[:200]}"
                    error = None if status.startswith("match") else status
                if error is not None:
                    failed += 1
                    notes.append(f"{name}: {error}")
        finally:
            con.close()
    return layer, len(QUERIES), failed, notes
