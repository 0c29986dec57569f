"""Run EVERY registered query at sf0.001 against its DuckDB oracle —
the in-repo mirror of the driver's correctness gate (row count + column
set + order-insensitive value multiset; rows-only for oracle-less ops)."""

from __future__ import annotations

import pytest

from tools.verify_queries import compare
from ws_to_kafka_spark.operators import QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    status = compare(spark, duck, name, sf_dir)
    assert status.startswith(("match", "rows-only")), status


def test_verify_artifact_covers_registry():
    """The committed REGISTRY_VERIFY.json must carry one entry per
    registered query — round 4 shipped an artifact that was silently one
    key short because a query was registered after the last regeneration.
    This makes regeneration un-skippable: adding or renaming a registry
    key turns the suite red until
    ``python tools/verify_queries.py /root/testdata/sf0.01 --json REGISTRY_VERIFY.json``
    is re-run (verify_queries itself also warns when a --json artifact is
    written from a subset run). The file name is the repo's own: the
    r-numbered ``VERIFY_r{N}.json`` files are round summaries in another
    schema.
    """
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = os.path.join(repo, "REGISTRY_VERIFY.json")
    assert os.path.exists(latest), "no REGISTRY_VERIFY.json artifact committed"
    with open(latest) as fh:
        artifact = json.load(fh)
    keys = set(artifact["results"])
    missing = sorted(set(QUERIES) - keys)
    stale = sorted(keys - set(QUERIES))
    assert not missing and not stale, (
        f"{os.path.basename(latest)} out of sync with the registry: "
        f"missing={missing} stale={stale} — regenerate it"
    )
    bad = sorted(k for k, v in artifact["results"].items() if not v["ok"])
    assert not bad, f"{os.path.basename(latest)} records failures: {bad}"


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(QUERIES)
