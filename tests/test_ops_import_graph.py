"""``ops.PRODUCT_MODULES`` is exactly what the jobs and their library
layers reach, and the query registry is built from those modules only.

Spark-free: the sources are parsed with ``ast``, nothing is imported
but ``pdf_parser_spark.ops`` itself.  The walk starts from every
``pdf_parser_spark.ops`` import in ``jobs/*.py`` and in the
``spark``, ``streaming``, ``sources``, ``html`` and ``engine``
packages, and closes over the imports between ``ops`` modules.  A
module the walk reaches belongs in ``PRODUCT_MODULES``.  An ``ops``
module that defines ``QUERIES`` but is not in ``PRODUCT_MODULES``
would be an op no job calls, so it fails here too.
"""

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pdf_parser_spark.ops import PRODUCT_MODULES  # noqa: E402

OPS = "pdf_parser_spark.ops"
ENTRY_DIRS = ["jobs"] + [
    f"pdf_parser_spark/{d}" for d in ("spark", "streaming", "sources", "html", "engine")
]


def _ops_imports(path: Path) -> set[str]:
    """Names of the ``ops`` modules one source file imports, at any
    nesting depth (the jobs import some of them inside functions)."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith(OPS + "."):
                out.add(node.module.split(".")[2])
            elif node.module == OPS:
                out.update(a.name for a in node.names)
        elif isinstance(node, ast.Import):
            out.update(
                a.name.split(".")[2] for a in node.names
                if a.name.startswith(OPS + ".")
            )
    return out


def test_product_modules_are_the_job_import_closure():
    reached = set()
    for d in ENTRY_DIRS:
        for path in sorted((ROOT / d).glob("*.py")):
            reached |= _ops_imports(path)
    frontier = set(reached)
    while frontier:
        mod = frontier.pop()
        new = _ops_imports(ROOT / "pdf_parser_spark" / "ops" / f"{mod}.py")
        frontier |= new - reached
        reached |= new
    assert reached == set(PRODUCT_MODULES) | {"common"}


def _assigns_queries(path: Path) -> bool:
    """True when the module assigns ``QUERIES`` at top level."""
    return any(
        isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "QUERIES" for t in node.targets)
        for node in ast.parse(path.read_text(), filename=str(path)).body
    )


def test_every_registry_module_is_a_product_module():
    registry = {
        path.stem
        for path in (ROOT / "pdf_parser_spark" / "ops").glob("*.py")
        if _assigns_queries(path)
    }
    assert registry, "no ops module defines QUERIES"
    assert registry <= set(PRODUCT_MODULES), sorted(registry - set(PRODUCT_MODULES))
