"""No Python UDF chain runs twice per row under a range exchange.

Spark's ``RangePartitioner`` samples its input by running the child
plan once before the shuffle's map stage runs it again, so a Python
node (``ArrowEvalPython`` and kin) in the same stage as a
``rangepartitioning`` exchange evaluates every row twice. The Track C
queries therefore sort on the source column before their UDFs, not on
the result after them.

``range_sampled_python_nodes`` walks the executed plan and names each
Python node inside such a stage. The registry-wide sweep is gated like
``test_registry_plan_audit.py``:

    REGISTRY_PLAN_AUDIT=1 python -m pytest tests/test_python_plan_guard.py -q
"""

from __future__ import annotations

import os
import re

import pytest

from datafusion_functions_variant_spark.queries import load_all_queries

from .conftest import SF_DIR

#: Physical nodes that hand rows to a Python worker: ArrowEvalPython,
#: BatchEvalPython, the UDTF evaluators, the pandas window and
#: aggregate nodes, MapInPandas/MapInArrow and the grouped/cogrouped
#: pandas and Arrow maps.
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

#: Queries whose Python node sits in a range exchange's stage because
#: the sorted rows come from the Python side (a UDTF, a grouped map, or
#: a mapInPandas over the document text, which a sort below would carry
#: through the exchange); ROADMAP lists them as an open item.
KNOWN_RANGE_SAMPLED = frozenset(
    {
        "cogroup_order_event_coverage",
        "grouped_map_top2_per_type",
        "multimodal_audio_framing",
        "multimodal_binary_meta",
        "multimodal_frame_sample",
        "udtf_table_partitioned",
    }
)

#: The Track C queries sorted on ``event_id`` before their UDFs.
SORTED_BEFORE_UDFS = ("variant_explicit_codec", "variant_merge_patch", "sql_codec_surface")

#: Queries sorted on an input column below their Python node, which
#: hands the rows on in the sort key's order: name -> the output
#: columns that come back sorted.
SORTED_BELOW_PYTHON = {
    "udtf_json_explode": ("event_id", "prop_key"),
    "udaf_weighted_avg": ("l_returnflag",),
    "multimodal_png_decode": ("asset_id",),
    "multimodal_wav_decode": ("asset_id",),
    "multimodal_registry_dispatch": ("asset_id",),
    "multimodal_y4m_frames": ("asset_id", "frame_idx"),
    "multimodal_png_thumbnail": ("asset_id",),
    "multimodal_wav_resample": ("asset_id",),
    "multimodal_y4m_downsample": ("asset_id",),
}


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _python_nodes_in_stage(node) -> list[str]:
    """Python node names in ``node``'s stage, stopping at exchanges."""
    found = []
    for child in _children(node):
        name = child.getClass().getSimpleName()
        if "Exchange" in name:
            continue
        if _PYTHON_NODE.search(name):
            found.append(name)
        found.extend(_python_nodes_in_stage(child))
    return found


def range_sampled_python_nodes(df) -> list[str]:
    """Names of the Python nodes that share a stage with the child of a
    ``rangepartitioning`` exchange in ``df``'s executed plan, i.e. that
    the range partitioner's sample job runs a second time."""
    found = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "ShuffleExchangeExec"
            and node.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
        ):
            found.extend(_python_nodes_in_stage(node))
        stack.extend(_children(node))
    return found


@pytest.mark.parametrize("name", SORTED_BEFORE_UDFS)
def test_track_c_udfs_run_once_per_row_and_rows_come_back_sorted(spark, name):
    df = load_all_queries()[name].build(spark, SF_DIR)
    rows = df.collect()
    assert range_sampled_python_nodes(df) == []
    ids = [r.event_id for r in rows]
    assert ids == sorted(ids) and len(ids) > 1


@pytest.mark.parametrize("name", sorted(SORTED_BELOW_PYTHON))
def test_python_node_above_its_input_sort_runs_once_and_rows_come_back_sorted(spark, name):
    df = load_all_queries()[name].build(spark, SF_DIR)
    rows = df.collect()
    assert range_sampled_python_nodes(df) == []
    keys = [tuple(r[c] for c in SORTED_BELOW_PYTHON[name]) for r in rows]
    assert keys == sorted(keys) and len(keys) > 1


def test_synthesizer_runs_once_per_asset_with_its_ids_sorted_below(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.operators import multimodal
    from datafusion_functions_variant_spark.sources.tables import load_table

    n = 50
    calls = spark.sparkContext.accumulator(0)

    def payload(i: int) -> bytes:
        calls.add(1)
        return multimodal.png_gray(i)

    ids = load_table(spark, SF_DIR, "documents").where(F.col("doc_id") < n).select("doc_id")
    rows = multimodal.synthesize_assets(ids.orderBy("doc_id"), "doc_id", payload).collect()
    assert calls.value == n
    assert [r.asset_id for r in rows] == list(range(n))
    assert rows[7].payload == multimodal.png_gray(7)

    # the accumulator sees the sample job: sorted above, the chain runs again
    calls.value = 0
    multimodal.synthesize_assets(ids, "doc_id", payload).orderBy("asset_id").collect()
    assert calls.value > n


def test_guard_sees_a_python_node_under_a_range_exchange(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.functions import explicit
    from datafusion_functions_variant_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    df = ev.select(
        "event_id", explicit.variant_to_json(explicit.variant_from_json(F.col("props"))).alias("j")
    ).orderBy("event_id")
    df.collect()
    assert "ArrowEvalPythonExec" in range_sampled_python_nodes(df)


@pytest.mark.skipif(
    os.environ.get("REGISTRY_PLAN_AUDIT") != "1",
    reason="set REGISTRY_PLAN_AUDIT=1 (round-battery sweep)",
)
def test_no_new_range_sampled_python_node_in_the_registry(spark):
    """Every batch query's executed plan; the known offenders are
    allowed, any other one fails."""
    reg = load_all_queries()
    offenders = []
    for name in sorted(n for n in reg if not n.startswith("stream_")):
        df = reg[name].build(spark, SF_DIR)
        df.collect()
        if range_sampled_python_nodes(df):
            offenders.append(name)
    new = sorted(set(offenders) - KNOWN_RANGE_SAMPLED)
    assert not new, "a Python node under a range exchange in: " + ", ".join(new)
