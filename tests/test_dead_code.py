"""Dead-code guard: every module-level function and class of the package is
referenced by the code that runs it, not only by its own tests.

The corpus is the package, ``jobs/``, ``scripts/``, ``__spark_entry__.py``
and ``perfbench/`` (its tests excluded). A reference is a ``Name``, an
``Attribute``, an import alias, or a string constant equal to the name
(perfbench wraps attributes by name). ``fixtures.py``, the test-data module,
is exempt, and so is :data:`REFERENCE_ONLY`. No Spark session is needed.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "automatedreclin_spark"
CORPUS = [PACKAGE, REPO / "jobs", REPO / "scripts", REPO / "__spark_entry__.py",
          REPO / "perfbench"]

#: Operators that reproduce a reference check or summary and that only the
#: tests call, with the reference each one reproduces.
REFERENCE_ONLY = {
    "operators.blocking.assert_disjoint_blocks": "internals.R:694-697",
    "operators.pairs.validate_pairs": "J2, comparison_vectors.R:95-130",
    "evaluation.blocking_diagnostics": "E4, internals.R:834-853",
    "evaluation.mec_selection_diagnostics": "E5, internals.R:856-881",
    "summaries.summarize_mec": "print.mec_rec_lin, methods.R:56-120",
    "models.bootstrap.est_se_bootstrap": "bootstrap.R:8-286",
}


def _corpus_files():
    for root in CORPUS:
        if root.is_file():
            yield root
            continue
        for path in sorted(root.rglob("*.py")):
            if "tests" not in path.relative_to(REPO).parts:
                yield path


def _references() -> set[str]:
    refs = set()
    for path in _corpus_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                refs.add(node.value)
    return refs


def _definitions() -> dict[str, str]:
    """``module.name`` → ``name`` for each module-level def and class."""
    defs = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "fixtures.py":
            continue
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{module}.{node.name}"] = node.name
    return defs


def test_every_definition_has_a_caller():
    refs, defs = _references(), _definitions()
    unreferenced = {qual for qual, name in defs.items() if name not in refs}
    uncalled = sorted(unreferenced - REFERENCE_ONLY.keys())
    assert not uncalled, f"defined but called only by tests, if at all: {uncalled}"
    gone = sorted(REFERENCE_ONLY.keys() - defs.keys())
    assert not gone, f"allow-listed but no longer defined: {gone}"
    called = sorted(REFERENCE_ONLY.keys() - unreferenced)
    assert not called, f"allow-listed but now called: drop from REFERENCE_ONLY: {called}"
