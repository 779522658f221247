"""Driver-contract guards: the query order must name every registry
entry exactly once (an entry lost or overwritten in a module move, or
a typo, would silently drop it from the driver's verification order),
the generated QUERIES.md must list every name in that order, oracles
must be a subset of queries, every oracle must mention only
pre-registered tables, importing the checkpoint operators must not
import the registry, every function perfbench wraps by name exists,
dispatching an entry tunes the caller's session, and an entry that
starts Python workers runs from outside the repo."""

from __future__ import annotations

import ast
import inspect
import os
import re
import subprocess
import sys

import pytest

import __spark_entry__ as ent
from machine_telemetry_etl_ml_pipeline_spark.ml import refmodels
from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY
from machine_telemetry_etl_ml_pipeline_spark.session import _sql_conf

TABLES = set(
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def test_query_order_has_no_duplicates():
    assert len(ent.QUERY_ORDER) == len(set(ent.QUERY_ORDER))


def test_query_order_names_every_entry():
    # ml_model_exact_scoring registers only where the reference model
    # blobs exist; everywhere else the order must still name it
    gated = set() if refmodels.available() else {"ml_model_exact_scoring"}
    assert not gated & set(REGISTRY)
    assert set(ent.QUERY_ORDER) == set(REGISTRY) | gated


def test_query_index_lists_every_query_order_name():
    """QUERIES.md is generated from QUERY_ORDER, so an entry that does
    not register in this process keeps its row and the count."""
    from tools import gen_query_index

    lines = gen_query_index.build_lines()
    names = [m.group(1) for m in map(gen_query_index.ROW.match, lines) if m]
    assert sorted(names) == sorted(ent.QUERY_ORDER)
    assert lines[2].startswith(f"{len(ent.QUERY_ORDER)} registered entries")


def test_ckpt_import_does_not_load_registry():
    """perfbench/suite.py wraps the ckpt functions before it imports
    __spark_entry__; the registry modules bind ``from ..operators.ckpt
    import ...`` at import time, so a registry import pulled in by a
    package ``__init__`` would bind the unwrapped functions."""
    code = (
        "import sys\n"
        "import machine_telemetry_etl_ml_pipeline_spark.operators.ckpt\n"
        "import machine_telemetry_etl_ml_pipeline_spark\n"
        "print([m for m in sys.modules if m.split('.')[-2:-1] == ['registry']"
        " or m.endswith('.registry')])\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout


def test_perfbench_wrap_targets_exist():
    """perfbench/serve.py and perfbench/suite.py wrap package functions
    by name in traced runs only; read their targets from the source, so
    a rename breaks this test instead of the next ``--trace 1`` run."""
    from machine_telemetry_etl_ml_pipeline_spark import ingest
    from machine_telemetry_etl_ml_pipeline_spark.operators import ckpt
    from machine_telemetry_etl_ml_pipeline_spark.plans import telemetry as plans

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def tree(name):
        with open(os.path.join(root, "perfbench", name)) as f:
            return ast.parse(f.read())

    wrapped = {
        call.args[1].value
        for call in ast.walk(tree("serve.py"))
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr == "wrap"
        and isinstance(call.args[0], ast.Name)
        and call.args[0].id == "ingest"
        and isinstance(call.args[1], ast.Constant)
    }
    (ckpt_funcs,) = [
        ast.literal_eval(node.value)
        for node in tree("suite.py").body
        if isinstance(node, ast.Assign) and [t.id for t in node.targets if isinstance(t, ast.Name)] == ["_CKPT_FUNCS"]
    ]
    assert len(wrapped) >= 5 and len(ckpt_funcs) >= 4
    assert not {n for n in wrapped if not callable(getattr(ingest, n, None))}
    assert not {n for n in ckpt_funcs if not callable(getattr(ckpt, n, None))}
    assert any(k.startswith("get_") and callable(getattr(plans, k)) for k in dir(plans))


def test_python_worker_entry_runs_outside_the_repo(tmp_path):
    """The driver imports ``__spark_entry__`` by path from its own
    working directory, with no PYTHONPATH; the Python workers that
    ``ext_python_datasource`` starts must still import the package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import importlib.util\n"
        f"spec = importlib.util.spec_from_file_location('__spark_entry__', {os.path.join(root, '__spark_entry__.py')!r})\n"
        "ent = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(ent)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').config('spark.ui.enabled', 'false').getOrCreate()\n"
        "rows = ent.queries()['ext_python_datasource'](spark, '/root/testdata/sf0.001').collect()\n"
        "print(sum(r.n for r in rows))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "5000"


def test_contract_shapes():
    qs = ent.queries()
    osql = ent.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) == len(REGISTRY)
    # r8: the last four rows-only entries were upgraded to exact
    # oracles (hash-threshold sampling, HLL error-bound verdicts, the
    # deterministic fake-codec decode) — every entry now carries one
    rows_only = sorted(set(qs) - set(osql))
    assert rows_only == [], rows_only


def test_oracles_reference_known_tables_only():
    """Every FROM/JOIN target in every oracle is a registered testdata
    view, a CTE defined in the same oracle, or a derived subquery —
    never a stray table the driver's DuckDB session won't have."""
    ident = r"[a-zA-Z_][a-zA-Z0-9_]*"
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        sql = q.oracle
        # strip expression-level FROMs (EXTRACT(x FROM y), IS [NOT]
        # DISTINCT FROM, substring(x FROM n)) before clause matching
        sql = re.sub(
            r"(?:DISTINCT|EPOCH|EPOCH_US|YEAR|MONTH|DAY|HOUR|MINUTE|SECOND|DOW|ISODOW|WEEK)\s+FROM\b",
            "FROM_EXPR",
            sql,
            flags=re.IGNORECASE,
        )
        # `AS MATERIALIZED (` is the DuckDB idiom the iterative-graph
        # oracles require (k-core/SSSP peel rounds explode under CTE
        # inlining) — match it alongside plain `AS (`.
        ctes = set(
            re.findall(
                rf"({ident})\s*(?:\([^)]*\))?\s+AS\s*(?:MATERIALIZED\s+)?\(",
                sql,
                flags=re.IGNORECASE,
            )
        )
        refs = set(
            re.findall(rf"(?<![a-zA-Z0-9_])(?:FROM|JOIN)\s+({ident})", sql, flags=re.IGNORECASE)
        )
        unknown = {
            r
            for r in refs
            if r.lower() not in {t.lower() for t in TABLES}
            and r not in ctes
            and r.lower() not in {"generate_series", "unnest", "values", "range"}
        }
        assert not unknown, f"{name}: oracle references unknown tables {unknown}"


def test_every_entry_dispatches_through_the_tuning_wrapper():
    assert all(inspect.unwrap(q.fn) is not q.fn for q in REGISTRY.values())


# None of these four sets conf or calls `_t` in its body, so dispatch
# is the only thing that can tune the session they plan on.
@pytest.mark.parametrize(
    "name", ["tpch_q4", "ext_in_subquery", "ext_sql_tvf", "ref_ddl_create_table"]
)
def test_dispatch_tunes_a_detuned_session(spark, name):
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    ent.queries()[name](s, "/root/testdata/sf0.001")
    for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"):
        assert s.conf.get(k) == _sql_conf()[k]
