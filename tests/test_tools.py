"""The tools harness, checked without Spark: every script under
``tools/`` compiles, builds its session through ``bench.spark_session``
(the one ``SparkSession.builder`` in the scripts), and every
``tools/...py`` the README and the skill notes name exists."""

import ast
import glob
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))


def _source(path):
    with open(path) as f:
        return f.read()


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_compiles_and_uses_the_shared_session(path):
    src = _source(path)
    compile(src, path, "exec")
    assert "SparkSession.builder" not in src


def test_bench_builds_the_one_session():
    tree = ast.parse(_source(os.path.join(ROOT, "bench.py")))
    owners = [
        fn.name for fn in ast.walk(tree) if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr == "builder"
    ]
    assert owners == ["spark_session"]


def test_session_puts_the_root_on_the_workers_path():
    """Python workers import seqspark from their own environment: a
    script started outside the repo finds it only through this conf."""
    import bench

    conf = bench.session_conf(4, {"spark.driver.memory": "2g"})
    assert conf["spark.executorEnv.PYTHONPATH"] == ROOT
    assert conf["spark.driver.memory"] == "2g"


#: the README and the repo's skill notes (hidden ``skills/*/SKILL.md``)
DOCS = ["README.md"] + sorted(
    os.path.relpath(p, ROOT)
    for p in glob.glob(os.path.join(ROOT, ".*", "skills", "*", "SKILL.md")))


@pytest.mark.parametrize("doc", DOCS)
def test_tools_named_in_docs_exist(doc):
    named = set(re.findall(r"tools/[\w/]+\.py", _source(os.path.join(ROOT, doc))))
    assert [p for p in sorted(named)
            if not os.path.exists(os.path.join(ROOT, p))] == []
