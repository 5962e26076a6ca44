"""Operator options: every defaulted parameter of a function in
geotreehealth_spark/ takes at least two values across the calls in the
repository, or is listed in ALLOWED with the reason it stays. An option that
every caller gives the same value is a constant spelled as a knob: each one
doubles the configurations that tests and benchmarks must cover, and an
option no caller sets at all is the special case with only its default.

The scan is an AST source scan (no imports). It reads every .py file in the
repository and every multi-line string in one that parses as Python, so a
script run through `python -c` counts as a caller. A call counts against every
engine function of the same name, wherever it is defined — so a name shared
by two functions can hide a constant, never invent one. For each defaulted
parameter it collects the value each call passes: the argument passed by
keyword or by position, else the default. Equal literals are one value
(`25` and `25.0`). A non-literal argument varies, and so do a `*args`
argument at or before the parameter's position and any `**kw` argument.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "geotreehealth_spark"

# "module:function(param)" -> why the option stays although it takes one value
ALLOWED: dict[str, str] = {}

VARIES = object()  # the value of an argument the scan cannot pin down


def trees(src: str) -> list[ast.Module]:
    """The module's tree, then the tree of every multi-line string in it that
    parses as Python (an embedded script), recursively."""
    out = [ast.parse(src)]
    for tree in out:
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and "\n" in n.value:
                try:
                    out.append(ast.parse(n.value))
                except SyntaxError:
                    pass
    return out


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names without self/cls, defaulted name -> default)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    defaulted = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults)) if a.defaults else {}
    defaulted |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
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


def _hashable(v):
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    if isinstance(v, set):
        return frozenset(_hashable(x) for x in v)
    return v


def _value(expr: ast.expr, default: bool = False):
    """A literal's value (equal numbers are one value), else VARIES — or, for
    a non-literal default, its source text: every call that omits the
    parameter passes that same expression."""
    try:
        return _hashable(ast.literal_eval(expr))
    except ValueError:
        return ("default", ast.unparse(expr)) if default else VARIES


def _passed(call: ast.Call, pos: list[str], param: str, default: ast.expr):
    """The value `call` passes for `param`."""
    for k in call.keywords:
        if k.arg == param:
            return _value(k.value)
        if k.arg is None:  # **kw
            return VARIES
    if param in pos:
        i = pos.index(param)
        for j, a in enumerate(call.args):
            if isinstance(a, ast.Starred):
                return VARIES
            if j == i:
                return _value(a)
    return _value(default, True)


def single_valued(engine: dict[str, str], callers: list[str]) -> list[str]:
    """``module:function(param)`` of every defaulted parameter of a function
    in the engine sources {module: source} that takes fewer than two values
    across the calls in `callers` (a parameter of a function nobody calls
    takes none)."""
    by_name: dict[str, list] = {}
    for src in callers:
        for tree in trees(src):
            for call in ast.walk(tree):
                if isinstance(call, ast.Call) and _callee(call):
                    by_name.setdefault(_callee(call), []).append(call)
    found = []
    for mod, src in engine.items():
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            pos, defaulted = _defaulted(fn)
            for param, default in defaulted.items():
                values = set()
                for call in by_name.get(fn.name, ()):
                    values.add(_passed(call, pos, param, default))
                    if VARIES in values or len(values) > 1:
                        break
                else:
                    found.append(f"{mod}:{fn.name}({param})")
    return found


def _module(path: pathlib.Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def engine_sources() -> dict[str, str]:
    return {_module(p): p.read_text() for p in sorted(ENGINE.rglob("*.py"))}


def _repo_single_valued() -> list[str]:
    callers = [
        p.read_text() for p in sorted(ROOT.rglob("*.py"))
        if ".git" not in p.relative_to(ROOT).parts
    ]
    return single_valued(engine_sources(), callers)


def test_every_option_takes_two_values():
    found = [o for o in _repo_single_valued() if o not in ALLOWED]
    assert not found, found


def test_allowlist_entries_are_live_and_reasoned():
    single = set(_repo_single_valued())
    assert all(reason.strip() for reason in ALLOWED.values())
    # an entry whose option is gone, or now takes two values, is stale
    assert not set(ALLOWED) - single, sorted(set(ALLOWED) - single)


def test_scan_self_check():
    engine = {"m": (
        "def f(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
        "class K:\n    def g(self, x=1, y=2):\n        pass\n"
        "def h(p=1, q=2):\n    pass\n"
        "def u(s=1, t=2):\n    pass\n"
        "def never(z=0):\n    pass\n"
    )}

    def scan(*callers: str) -> list[str]:
        return sorted(single_valued(engine, list(callers)))

    everything = [
        "m:f(b)", "m:f(c)", "m:f(d)", "m:f(e)", "m:g(x)", "m:g(y)",
        "m:h(p)", "m:h(q)", "m:never(z)", "m:u(s)", "m:u(t)",
    ]
    # one call: every parameter has one value, whether passed or defaulted
    assert scan("f(0, 5, d=1)\n") == everything
    # an omitted parameter passes its default: b takes 5 and 1, d 1 and 3
    assert scan("f(0, 5, d=1)\n", "f(0)\n") == [
        o for o in everything if o not in ("m:f(b)", "m:f(d)")
    ]
    # 25 and 25.0 are one value; a passed default is the default
    assert "m:f(b)" in scan("f(0, 25)\n", "f(0, 25.0)\n", "f(0, b=25)\n")
    assert "m:f(c)" in scan("f(0, 0, 2)\n", "f(0)\n")
    # a non-literal argument varies, by keyword or by position
    assert "m:g(x)" not in scan("K().g(n)\n")
    assert "m:f(e)" not in scan("f(0, e=-n)\n")
    # `*args` varies every positional parameter at or after it
    assert scan("def w(*xs):\n    h(*xs)\n    f(0, 1, *xs)\n") == [
        "m:f(b)", "m:f(d)", "m:f(e)", "m:g(x)", "m:g(y)", "m:never(z)", "m:u(s)", "m:u(t)",
    ]
    # a `**kw` argument varies every parameter, even a dict display's
    assert [o for o in scan("kw = dict(s=9)\nu(**kw)\n") if o.startswith("m:u")] == []
    # a call inside an embedded `python -c` script counts
    script = 'WORKER = r"""\nimport m\nm.h(p=7)\n"""\n'
    assert "m:h(p)" not in scan(script, "h()\n")
    assert "m:h(p)" in scan('NOTE = "h(p=7)"\n', "h()\n")
