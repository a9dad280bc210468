"""Library code that only tests reach, kept as a list that can only shrink.

A top-level def in ``casf_spark`` is reached when its name is referenced
from a root (``__spark_entry__.py``, the registered queries in
``casf_spark/queries/*.py``, ``bench.py``, the non-test
``perfbench/*.py``, ``examples/*.py``, ``scripts/*.py``), from the
module-level code of ``casf_spark``, or from the body of a reached def.
The query modules are roots only: their own defs are not library code.
Names match by their last component, so the scan errs toward "reached".
Pure AST: no JVM is started.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# def (dotted path under casf_spark) -> why it stays although no root
# reaches it: paper = the reference's own input path or segmentation
# (KeyWordsDemo.scala:19-27, 43, 47-58); tests = a helper that exists for
# the tests; helper = private to another entry here. No other reason is
# accepted: a def that only the README or a future query would use is
# deleted, not listed.
REASONS = {"paper", "tests", "helper"}
ALLOWED_UNREACHED = {
    "functions.text._series_pandas_udf": "helper",
    "functions.text.dict_tokenizer": "paper",
    "functions.text.jieba_tokenizer": "paper",
    "plans.inspect.assert_no_cartesian": "tests",
    "plans.inspect.broadcast_join_count": "tests",
    "plans.inspect.explain_str": "tests",
    "plans.inspect.pushed_filters": "tests",
    "plans.inspect.scan_read_schema": "tests",
    "sources.text.read_stopwords": "paper",
    "sources.text.read_text_documents": "paper",
    "sources.text.read_text_lines": "paper",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _unreached() -> set[str]:
    pkg = REPO / "casf_spark"
    queries = sorted((pkg / "queries").glob("*.py"))
    defs, refs = {}, set()
    for path in sorted(set(pkg.rglob("*.py")) - set(queries)):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = node
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                refs |= _names(node)
    roots = [REPO / "__spark_entry__.py", *queries, REPO / "bench.py",
             *(p for p in (REPO / "perfbench").glob("*.py")
               if not p.name.startswith("test_")),
             *(REPO / "examples").glob("*.py"),
             *(REPO / "scripts").glob("*.py")]
    for path in roots:
        refs |= _names(ast.parse(path.read_text()))
    reached: set[str] = set()
    while True:
        new = {q for q, node in defs.items()
               if q not in reached and q.rsplit(".", 1)[1] in refs}
        if not new:
            return set(defs) - reached
        reached |= new
        for q in new:
            refs |= _names(defs[q])


def test_no_new_test_only_library_code():
    extra = sorted(_unreached() - set(ALLOWED_UNREACHED))
    assert not extra, (
        f"no query, benchmark, example or script reaches {extra}: call "
        f"them from one, or delete them with their tests")


def test_allowlist_only_shrinks():
    stale = sorted(set(ALLOWED_UNREACHED) - _unreached())
    assert not stale, (
        f"{stale} are reached now or gone: drop them from "
        f"ALLOWED_UNREACHED")


def test_allowlist_reasons_are_known():
    bad = {q: r for q, r in ALLOWED_UNREACHED.items() if r not in REASONS}
    assert not bad, f"{bad}: reason must be one of {sorted(REASONS)}"
