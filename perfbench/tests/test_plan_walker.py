"""Self-test of the benchmark's plan-metric walker.

    python3 -m pytest perfbench/tests -q

Runs one reference-parity ``ts_*`` query over a small generated events
table and asserts the walker reaches the scan, aggregate and exchange
nodes that AQE hides below ``AdaptiveSparkPlanExec`` and the shuffle
query stages, with their SQL metrics filled in.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import df_plan_nodes, plan_counts  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_spark, stop_spark

    session = start_spark(str(tmp_path_factory.mktemp("run")))
    yield session
    stop_spark(session)


def test_walker_reaches_nodes_below_query_stages(spark, tmp_path):
    from hbase_taggregator_spark import TimeseriesAggregator
    from hbase_taggregator_spark.sources import load_table

    events = gen.events_table().slice(0, 5_000)
    gen.write_parquet(events, str(tmp_path / "events.parquet"))
    t0 = gen.EVENTS_T0
    df = (
        TimeseriesAggregator(spark)
        .table(load_table(spark, str(tmp_path), "events"))
        .range(t0, t0 + 86_400).interval(3_600).group_by("event_type")
        .agg(max="mx", count="ct")
    )
    rows = df.collect()
    nodes = df_plan_nodes(df)
    classes = {n.cls for n in nodes}

    assert "FileSourceScanExec" in classes
    assert "HashAggregateExec" in classes
    assert "ShuffleExchangeExec" in classes
    exchanges = [n for n in nodes if n.cls == "ShuffleExchangeExec"]
    assert all("ShuffleQueryStageExec" in n.under for n in exchanges)
    assert all("AdaptiveSparkPlanExec" in n.under for n in nodes)

    c = plan_counts(nodes)
    assert c["files_read"] == 1
    assert c["rows_scanned"] == events.num_rows
    assert c["exchange_records"] > 0 and c["exchange_bytes"] > 0
    final = [n for n in nodes if n.cls == "HashAggregateExec"]
    assert len(rows) in {n.metrics.get("numOutputRows") for n in final}
