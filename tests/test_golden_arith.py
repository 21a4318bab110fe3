"""Phase-1 end-to-end slice: the reference's only network-free pipeline
(project.xml:9-13) — RangeGE(1..20) ⊕Merge RangeGE(1..40 step 2) →
PythonTF temp+temp2 → result — compiled to a Spark plan, checked against
the reference engine run on the same XML (FIXTURES.md F7)."""

from __future__ import annotations

import os

import pytest

from etlpy_spark.plans.compiler import CompileContext, compile_module, finalize
from etlpy_spark.plans.spec import load_project_xml

from tests.conftest import rows_as_dicts, run_reference_tools

PROJECT_XML = "/root/reference/project.xml"
MODULE = "数据清洗ETL-python"


@pytest.fixture(scope="module")
def golden(reference):
    # The reference's Project_LoadXml crashes on its own crawler modules
    # (etl.py:879 assumes a RootXPath attribute project.xml doesn't carry),
    # so build just the ETL module's tool chain via the same SetAttr path.
    import xml.etree.ElementTree as ET

    etl = reference.etl
    doc = ET.parse(PROJECT_XML).getroot().find("Doc")
    node = next(c for c in doc if c.get("Name") == MODULE)
    tools = []
    for m in node:
        if m.tag != "Children":
            continue
        tool = eval(f"etl.{m.attrib['Type']}()")
        for k, v in m.attrib.items():
            etl.SetAttr(tool, k, v)
        tools.append(tool)
    return run_reference_tools(reference, tools)


def test_reference_golden_shape(golden):
    # zip length = min(19, 20) = 19
    assert len(golden) == 19
    assert golden[0] == {"temp": 1, "temp2": 1, "result": 2}
    assert golden[-1] == {"temp": 19, "temp2": 37, "result": 56}


def test_spark_matches_reference(spark, golden):
    proj = load_project_xml(PROJECT_XML)
    ctx = CompileContext(spark=spark, project=proj, parallelism=4)
    df = finalize(compile_module(ctx, MODULE), ordered=True)
    got = rows_as_dicts(df)
    assert got == golden


@pytest.mark.skipif(not os.path.exists(PROJECT_XML),
                    reason=f"reference checkout absent: {PROJECT_XML} not found")
def test_order_parity_and_schema(spark):
    proj = load_project_xml(PROJECT_XML)
    ctx = CompileContext(spark=spark, project=proj, parallelism=4)
    df = finalize(compile_module(ctx, MODULE), ordered=True)
    assert df.columns == ["temp", "temp2", "result"]
    rows = df.collect()
    assert [r.temp for r in rows] == list(range(1, 20))
    assert [r.temp2 for r in rows] == list(range(1, 39, 2))
    assert all(r.result == r.temp + r.temp2 for r in rows)
