"""The JIT-by-origin split of tools/profile_query.py: how a compiled
method's class maps to an origin, and how ``jfr print`` output is summed."""

from __future__ import annotations

import importlib.util
import os
import sys
import textwrap

import pytest

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "profile_query.py")
spec = importlib.util.spec_from_file_location("profile_query", TOOL)
PQ = importlib.util.module_from_spec(spec)
sys.modules["profile_query"] = PQ
spec.loader.exec_module(PQ)


@pytest.mark.parametrize("cls, origin", [
    ("org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIterator", "generated"),
    ("org.apache.spark.sql.catalyst.expressions.GeneratedClass", "generated"),
    ("org.apache.spark.sql.catalyst.trees.TreeNode", "catalyst"),
    ("org.codehaus.janino.UnitCompiler", "janino"),
    ("java.io.ObjectOutputStream", "serialization"),
    ("java.io.File", "jdk_scala"),
    ("scala.collection.immutable.List", "jdk_scala"),
    ("py4j.commands.CallCommand", "py4j"),
    ("org.antlr.v4.runtime.Parser", "antlr"),
    ("org.apache.parquet.hadoop.ParquetFileReader", "parquet_hadoop"),
    ("org.apache.spark.scheduler.DAGScheduler", "other"),
])
def test_origin_by_class_prefix(cls, origin):
    assert PQ.origin(cls) == origin


def test_compile_seconds_sums_each_event_by_origin(tmp_path):
    events = textwrap.dedent("""\
        jdk.Compilation {
          startTime = 22:52:52.103
          duration = 0.500 ms
          compileId = 1
          method = java.util.concurrent.TimeUnit.toNanos(long)
          eventThread = "C1 CompilerThread0" (javaThreadId = 9)
        }

        jdk.Compilation {
          duration = 1.25 s
          method = org.codehaus.janino.UnitCompiler.compileGet2(org.codehaus.janino.Java$Rvalue)
        }

        jdk.Compilation {
          duration = 250 us
          method = org.apache.spark.sql.catalyst.expressions.GeneratedClass$GeneratedIterator.processNext()
        }
    """)
    fake = tmp_path / "jfr"
    fake.write_text(f"#!{sys.executable}\nimport sys\nsys.stdout.write({events!r})\n")
    fake.chmod(0o755)
    out = PQ.compile_seconds(str(fake), "unused.jfr")
    assert out["jdk_scala"] == pytest.approx(0.0005)
    assert out["janino"] == pytest.approx(1.25)
    assert out["generated"] == pytest.approx(0.00025)
    assert out["all"] == pytest.approx(1.25075)
    assert out["catalyst"] == out["other"] == 0
