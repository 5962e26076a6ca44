"""Engine reach: every function in geotreehealth_spark/ is reached from a
non-test root, or is listed in ALLOWED with the reason it stays. A function
that only tests call is code that no query, benchmark or tool runs: no oracle
gates its results and no benchmark times it.

The scan is an AST source scan (no imports) that matches by name, as
tests/test_options.py does: a reference to a name reaches every engine
function of that name, wherever it is defined. A reference is an identifier,
an attribute name or an identifier string (a dotted string names each part,
so "Catalog.read" names both). Sources are read as tests/test_options.py
reads them: a multi-line string that parses as Python is scanned as code, so
a script run through `python -c` is a root too (and one in an engine module
counts as module-level code).

Roots are __spark_entry__.py, bench.py, tools/*.py, perfbench/*.py and the
module-level code of every engine module (decorators and defaults included).
An import statement is never a use, so an `__init__` re-export reaches
nothing. A reached function reaches every name its body references. A method
is a function named by its own name; a dunder method is reached with its
class.
"""

import ast
import re

from tests.test_options import ROOT, engine_sources, trees

_INVARIANT = "the BASELINE input_hint span invariant, run by test_docs on the live generator"
_FIXTURE = "fixture encoder for the tests of the live WKB decoders"
# "module:function" -> why the function stays although no root reaches it
ALLOWED = {
    "geotreehealth_spark.docs.spans:doc_fingerprint": _INVARIANT,
    "geotreehealth_spark.docs.spans:offsets_valid": _INVARIANT,
    "geotreehealth_spark.docs.spans:span_parity": _INVARIANT,
    "geotreehealth_spark.geo.wkb:encode_collection": _FIXTURE,
    "geotreehealth_spark.geo.wkb:encode_linestring": _FIXTURE,
    "geotreehealth_spark.geo.wkb:encode_point": _FIXTURE,
}

_IDENT = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _names(node: ast.AST) -> set[str]:
    """Every name the code under `node` references (imports excluded: their
    aliases are not Name nodes)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _split(tree: ast.Module) -> tuple[list[ast.AST], list[tuple[str, str, str | None, ast.AST]]]:
    """(module-level nodes, defs) of an engine module; a def is
    (qualified name, name, enclosing class or None, node)."""
    top: list[ast.AST] = []
    defs = []

    def header(fn: ast.AST) -> list[ast.AST]:
        return [*fn.decorator_list, *fn.args.defaults, *filter(None, fn.args.kw_defaults)]

    for stmt in tree.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.append((stmt.name, stmt.name, None, stmt))
            top += header(stmt)
        elif isinstance(stmt, ast.ClassDef):
            top += [*stmt.decorator_list, *stmt.bases, *stmt.keywords]
            for m in stmt.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs.append((f"{stmt.name}.{m.name}", m.name, stmt.name, m))
                    top += header(m)
                else:
                    top.append(m)
        else:
            top.append(stmt)
    return top, defs


def unreached(engine: dict[str, str], roots: list[str]) -> list[str]:
    """``module:function`` of every function in the engine sources
    {module: source} that no root source in `roots` reaches."""
    reached: set[str] = set()
    for src in roots:
        for tree in trees(src):
            reached |= _names(tree)
    pending = []
    for mod, src in engine.items():
        module, *scripts = trees(src)
        top, defs = _split(module)
        top += scripts
        for node in top:
            reached |= _names(node)
        pending += [(f"{mod}:{q}", name, cls, node) for q, name, cls, node in defs]
    grew = True
    while grew:
        grew = False
        for d in list(pending):
            _, name, cls, node = d
            dunder = name.startswith("__") and name.endswith("__")
            if (cls if cls and dunder else name) in reached:
                reached |= _names(node)
                pending.remove(d)
                grew = True
    return sorted(key for key, *_ in pending)


def _repo_unreached() -> list[str]:
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    roots += sorted((ROOT / "tools").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py"))
    return unreached(engine_sources(), [p.read_text() for p in roots])


def test_every_engine_function_is_reached_from_a_root():
    found = [f for f in _repo_unreached() if f not in ALLOWED]
    assert not found, found


def test_allowlist_entries_are_live_and_reasoned():
    dead = set(_repo_unreached())
    assert all(reason.strip() for reason in ALLOWED.values())
    # an entry whose function is gone, or is now reached from a root, is stale
    assert not set(ALLOWED) - dead, sorted(set(ALLOWED) - dead)


def test_scan_self_check():
    engine = {
        "pkg.__init__": "from pkg.m import exported\n",
        "pkg.m": (
            "def exported():\n    pass\n"
            "def by_script():\n    return helper()\n"
            "def helper():\n    pass\n"
            "def by_string():\n    pass\n"
            "def by_method():\n    pass\n"
            "TABLE = {'k': by_table}\n"
            "def by_table():\n    pass\n"
            "class K:\n"
            "    def __init__(self):\n        pass\n"
            "    def run(self):\n        by_method()\n"
            "    def idle(self):\n        pass\n"
            "def _unused():\n    pass\n"
        ),
    }
    roots = [
        # an embedded `python -c` script is a root; a one-line string is not code
        'WORKER = r"""\nfrom pkg import m\nm.by_script()\n"""\n'
        'NOTE = "not code: exported()"\n'
        # identifier strings name functions, dotted ones each part
        'LAYERS = [("pkg.m", "by_string")]\n'
        # a method is reached by its own name, without its class
        "def go(k):\n    k.run()\n"
    ]
    assert unreached(engine, roots) == [
        "pkg.m:K.__init__", "pkg.m:K.idle", "pkg.m:_unused", "pkg.m:exported",
    ]
    # a reached class reaches its dunder methods
    assert unreached(engine, roots + ['TARGET = "pkg.m.K"\n']) == [
        "pkg.m:K.idle", "pkg.m:_unused", "pkg.m:exported",
    ]
