"""Operator options: every defaulted parameter of a function in
geotreehealth_spark/ is set by some call in the repository, or is listed in
ALLOWED with the reason it stays. Each option doubles the configurations that
tests and benchmarks must cover, so one that no caller sets is dead weight.

The scan is an AST source scan (no imports). A call counts against every
engine function of the same name, wherever it is defined — so a name shared
by two functions can hide an unset option, never invent one. A parameter is
set by a call that passes it by keyword or by position; a `*args` argument
sets every positional parameter; a `**kw` argument sets the keys of the dict
literal (or `dict(...)` call) that `kw` is bound to in the same scope, and
every parameter when it is bound to anything else.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "geotreehealth_spark"

_ORACLE = "an oracle builder: its default is the query the oracle text pins"
# "module:function(param)" -> why the option stays although no call sets it
ALLOWED = {
    "geotreehealth_spark.operators.nms:greedy_nms_box_oracle_sql(bounds)": _ORACLE,
    "geotreehealth_spark.operators.nms:weighted_nms_box_oracle_sql(bounds)": _ORACLE,
    "geotreehealth_spark.text.dedup:minhash_lsh_pairs_oracle_sql(docs_sql)": _ORACLE,
    "geotreehealth_spark.text.dedup:simhash_pairs_oracle_sql(docs_sql)": _ORACLE,
    "geotreehealth_spark.text.similarity:rp_lsh_pairs_oracle_sql(src_sql)": _ORACLE,
}


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], list[str]]:
    """(positional parameter names without self/cls, defaulted names)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
    defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    if pos and pos[0] in ("self", "cls"):
        pos = pos[1:]
    return pos, defaulted


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _dict_keys(value: ast.expr) -> set[str] | None:
    """Keys of a dict literal or a keyword-only dict(...) call, else None."""
    if isinstance(value, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in value.keys
    ):
        return {k.value for k in value.keys}
    if (
        isinstance(value, ast.Call)
        and getattr(value.func, "id", None) == "dict"
        and not value.args
        and all(k.arg is not None for k in value.keywords)
    ):
        return {k.arg for k in value.keywords}
    return None


def _calls(tree: ast.AST) -> list[tuple[ast.Call, dict[str, set[str] | None]]]:
    """Every call with the `**` bindings of its innermost enclosing scope:
    name -> dict keys, or None when some binding is not a dict display."""
    out = []

    def visit(scope: ast.AST) -> None:
        bound: dict[str, set[str] | None] = {}
        inner = []
        todo = list(ast.iter_child_nodes(scope))
        while todo:
            node = todo.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                inner.append(node)
                continue
            if isinstance(node, ast.Assign):
                keys = _dict_keys(node.value)
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        old = bound.get(t.id, set())
                        bound[t.id] = None if keys is None or old is None else old | keys
            if isinstance(node, ast.Call):
                out.append((node, bound))
            todo.extend(ast.iter_child_nodes(node))
        for fn in inner:
            visit(fn)

    visit(tree)
    return out


def _sets(call: ast.Call, bound: dict, pos: list[str], param: str) -> bool:
    for k in call.keywords:
        if k.arg == param:
            return True
        if k.arg is None:
            keys = bound.get(k.value.id) if isinstance(k.value, ast.Name) else None
            if keys is None or param in keys:
                return True
    if param in pos:
        if any(isinstance(a, ast.Starred) for a in call.args):
            return True
        return pos.index(param) < len(call.args)
    return False


def unset_options(engine: dict[str, str], callers: list[str]) -> list[str]:
    """``module:function(param)`` of every defaulted parameter of a function
    in the engine sources {module: source} that no call in `callers` sets."""
    by_name: dict[str, list] = {}
    for src in callers:
        for call, bound in _calls(ast.parse(src)):
            name = _callee(call)
            if name:
                by_name.setdefault(name, []).append((call, bound))
    found = []
    for mod, src in engine.items():
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            pos, defaulted = _defaulted(fn)
            for param in defaulted:
                if not any(_sets(c, b, pos, param) for c, b in by_name.get(fn.name, ())):
                    found.append(f"{mod}:{fn.name}({param})")
    return found


def _module(path: pathlib.Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def _repo_unset() -> list[str]:
    engine = {_module(p): p.read_text() for p in sorted(ENGINE.rglob("*.py"))}
    callers = [
        p.read_text() for p in sorted(ROOT.rglob("*.py"))
        if ".git" not in p.relative_to(ROOT).parts
    ]
    return unset_options(engine, callers)


def test_every_option_is_set_by_a_caller():
    found = [o for o in _repo_unset() if o not in ALLOWED]
    assert not found, found


def test_allowlist_entries_are_live_and_reasoned():
    unset = set(_repo_unset())
    assert all(reason.strip() for reason in ALLOWED.values())
    # an entry whose option is gone, or is now set by a caller, is stale
    assert not set(ALLOWED) - unset, sorted(set(ALLOWED) - unset)


def test_scan_self_check():
    engine = {"m": (
        "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
        "class K:\n    def g(self, x=1, y=2):\n        pass\n"
        "def h(p=1, q=2):\n    pass\n"
        "def u(s=1, t=2):\n    pass\n"
    )}
    callers = [
        "f(0, 5, d=1)\n"
        "K().g(9)\n"
        "def w(*xs):\n    h(*xs)\n"
        "def v(**kw):\n    kw2 = dict(s=1)\n    u(**kw2)\n"
    ]
    assert sorted(unset_options(engine, callers)) == ["m:f(c)", "m:f(e)", "m:g(y)", "m:u(t)"]
    # a `**kw` not bound to a dict display sets every parameter
    assert sorted(unset_options(engine, callers + ["def z(**kw):\n    f(**kw)\n"])) == [
        "m:g(y)", "m:u(t)",
    ]
