"""The query registry as one table: QUERIES is bound once in
spark/queries.py and never mutated, only spark/oracles.py writes
ORACLES, and every oracled key passes the sf0.001 oracle gate."""

import ast
import glob
import os
import sys

import pytest

import test_staged_r8
import test_staged_r9
from packages_sgml_spark.spark.oracles import ORACLES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_PKG = os.path.join(REPO, "packages_sgml_spark", "spark")

# the r8 and r9 keys keep their gate ids in test_staged_r8.py and
# test_staged_r9.py; this module gates every other oracled key
BASE_GATED = tuple(k for k in ORACLES
                   if k not in test_staged_r8.GATED + test_staged_r9.GATED)

_MUTATORS = {"update", "setdefault", "pop", "popitem", "clear",
             "__setitem__", "__delitem__"}


@pytest.mark.parametrize("name", BASE_GATED)
def test_query_matches_oracle(oracle_gate, name):
    oracle_gate(name)


def test_oracle_gate_covers_registry():
    gated = BASE_GATED + test_staged_r8.GATED + test_staged_r9.GATED
    assert len(gated) == len(set(gated)) == len(ORACLES)
    assert set(gated) == set(ORACLES)
    assert {k for k, _ in test_staged_r9.UNREGISTERED.values()} <= \
        set(ORACLES)


def _writes(tree, name):
    """(number of plain bindings of `name`, [(line, how)] of the
    statements that mutate it); aliases from `import ... as` count."""
    aliases = {name} | {a.asname for n in ast.walk(tree)
                        if isinstance(n, ast.ImportFrom)
                        for a in n.names if a.name == name and a.asname}

    def is_ref(node):
        return ((isinstance(node, ast.Name) and node.id in aliases) or
                (isinstance(node, ast.Attribute) and node.attr in aliases))

    binds, mutations = 0, []
    for n in ast.walk(tree):
        if isinstance(n, (ast.Assign, ast.Delete)):
            targets = n.targets
        elif isinstance(n, (ast.AnnAssign, ast.AugAssign)):
            targets = [n.target]
        else:
            targets = []
        for t in targets:
            if is_ref(t) and isinstance(n, (ast.Assign, ast.AnnAssign)):
                binds += 1
            elif is_ref(t):
                mutations.append((n.lineno, type(n).__name__))
            elif isinstance(t, ast.Subscript) and is_ref(t.value):
                mutations.append((n.lineno, "setitem"))
        if (isinstance(n, ast.Call) and
                isinstance(n.func, ast.Attribute) and
                n.func.attr in _MUTATORS and is_ref(n.func.value)):
            mutations.append((n.lineno, n.func.attr))
    return binds, mutations


def _imports_at_top(tree):
    """True when no module-level import follows other code."""
    seen_code = False
    for i, n in enumerate(tree.body):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            if seen_code:
                return False
        elif not (i == 0 and isinstance(n, ast.Expr)):   # docstring
            seen_code = True
    return True


def test_registry_is_one_table():
    """86 keys, 84 oracles; QUERIES is bound once in queries.py and
    mutated nowhere in the package; ORACLES is written only in
    oracles.py (bound once, never update()d), which imports no query
    module; the registry modules import only at their top; and no
    staged-registry module is left."""
    import __spark_entry__ as E
    assert len(E.queries()) == 86 and len(E.oracle_sql()) == 84
    pkg = os.path.join(REPO, "packages_sgml_spark")
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path).read())
        base = os.path.relpath(path, SPARK_PKG)
        q_binds, q_mut = _writes(tree, "QUERIES")
        o_binds, o_mut = _writes(tree, "ORACLES")
        assert not q_mut, (base, "QUERIES mutated", q_mut)
        assert q_binds == (base == "queries.py"), (base, q_binds)
        assert o_binds == (base == "oracles.py"), (base, o_binds)
        allowed = {"setitem"} if base == "oracles.py" else set()
        assert {how for _, how in o_mut} <= allowed, (base, o_mut)
        assert "queries_staged" not in os.path.basename(path), base
    oracles = ast.parse(open(os.path.join(SPARK_PKG, "oracles.py")).read())
    assert not any(n.module and n.module.split(".")[-1] == "queries"
                   for n in ast.walk(oracles)
                   if isinstance(n, ast.ImportFrom))
    for mod in ("queries.py", "oracles.py", "pages.py"):
        tree = ast.parse(open(os.path.join(SPARK_PKG, mod)).read())
        assert _imports_at_top(tree), mod


def _headline(path):
    for n in ast.parse(open(os.path.join(REPO, path)).read()).body:
        if (isinstance(n, ast.Assign) and
                [t.id for t in n.targets] == ["HEADLINE"]):
            return ast.literal_eval(n.value)
    raise AssertionError("no HEADLINE in " + path)


def test_headline_lists_agree():
    """bench.py and perfbench/ keep their own copies of the headline
    leaves by design; the registry's HEADLINE must equal both."""
    from packages_sgml_spark.spark.queries import HEADLINE, QUERIES
    assert HEADLINE == tuple(_headline("bench.py")) == \
        _headline(os.path.join("perfbench", "layers.py"))
    assert len(HEADLINE) == 16 and set(HEADLINE) <= set(QUERIES)


def test_check_correctness_rejects_unknown_query(check_correctness,
                                                 monkeypatch, capsys):
    """A misspelt query name fails before any SparkSession is made,
    instead of running nothing and reporting `failures: none`."""
    from packages_sgml_spark.spark import session

    def no_session(*args, **kwargs):
        raise AssertionError("a SparkSession was requested")
    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", [
        "check_correctness.py", "/root/testdata/sf0.001",
        "dedup_component", "extract_text"])
    assert check_correctness.main() == 1
    assert "unknown query names: ['dedup_component']" in \
        capsys.readouterr().out


def test_check_correctness_gates_its_own_checkout(tmp_path, monkeypatch,
                                                  capsys):
    """The tool gates the registry of the checkout it runs from, so a
    second tree (an A/B copy) is checked against its own queries."""
    import importlib.util
    import json
    import shutil
    (tmp_path / "tools").mkdir()
    tool = tmp_path / "tools" / "check_correctness.py"
    shutil.copy(os.path.join(REPO, "tools", "check_correctness.py"), tool)
    (tmp_path / "__spark_entry__.py").write_text(
        "def queries():\n    return {'stub_only_query': None}\n\n\n"
        "def oracle_sql():\n    return {}\n")
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.delitem(sys.modules, "__spark_entry__", raising=False)
    spec = importlib.util.spec_from_file_location("cc_copy", tool)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    monkeypatch.setattr(sys, "argv", [
        str(tool), "/root/testdata/sf0.001", "stub_only_query",
        "not_a_query"])
    assert m.main() == 1                   # before any SparkSession
    assert "unknown query names: ['not_a_query']" in \
        capsys.readouterr().out
    verdicts = tmp_path / "CORRECTNESS.json"
    verdicts.write_text(json.dumps({"stub_only_query":
                                    {"err": "no_oracle"}}))
    assert m.reconcile(str(verdicts)) == 0
    assert "registry: 1 queries" in capsys.readouterr().out
