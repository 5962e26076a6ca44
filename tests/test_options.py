"""Operator options: every defaulted parameter of a function in
geotreehealth_spark/ takes at least two values across the calls outside
tests/, or is listed in ALLOWED with the reason it stays. An option that
every caller gives the same value is a constant spelled as a knob: each one
doubles the configurations that tests and benchmarks must cover, and an
option no caller sets at all is the special case with only its default.

Tests are not callers. A test that needs another value patches the module
constant or function the operator reads (``knn.MIN_DIST``,
``nms.WEIGHTED_THRESHOLD``, ``knn._cell_size``); an option that only tests
vary is a code path that only tests run.

The scan is an AST source scan (no imports). It reads every .py file in the
repository outside tests/ and every multi-line string in one that parses as
Python, so a script run through `python -c` counts as a caller. A call
counts against every engine function of the same name, wherever it is
defined — so a name shared by two functions can hide a constant, never
invent one. For each defaulted parameter it collects the value each call
passes: the argument passed by keyword or by position, else the default.
Equal literals are one value (`25` and `25.0`). A non-literal argument
varies, and so does a `*args` argument at or before the parameter's
position. A `**kw` argument passes the keywords of the dict display or
`dict(...)` call that `kw` is bound to, when that is its one binding in the
enclosing function body and the body reads `kw` only to unpack it; any other
`**kw` argument, such as a `**` parameter passed on, varies every parameter.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "geotreehealth_spark"

# "module:function(param)" -> why the option stays although it takes one value
_WKB_PATH = (
    "selects the WKB path for the reference's irregular crowns, which no DuckDB "
    "oracle can check; tests/test_spatial_parity.py and tests/test_vectorize.py "
    "compare it to numpy"
)
_OWNERSHIP = "gives exactly-once pixel ownership on overlapping tiles"
ALLOWED: dict[str, str] = {
    "geotreehealth_spark.operators.pip_join:pip_join(poly_wkb)": _WKB_PATH,
    "geotreehealth_spark.operators.nms:greedy_nms(wkb_col)": _WKB_PATH,
    "geotreehealth_spark.operators.vectorize:geometric_union(wkb_col)": _WKB_PATH,
    "geotreehealth_spark.operators.zonal:zonal_raster_stats(core_bounds)": _OWNERSHIP,
    "geotreehealth_spark.operators.tiling:tile_grid(overlap)": _OWNERSHIP,
}

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


def _own_nodes(fn: ast.AST):
    """The nodes of a function, without those of the functions and lambdas
    nested in it."""
    todo = list(ast.iter_child_nodes(fn))
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(n))


def _dict_keywords(value: ast.expr) -> list[ast.keyword] | None:
    """The keywords a dict display with string keys, or a `dict(k=v, ...)`
    call, passes as a `**` argument; None for any other value."""
    if isinstance(value, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in value.keys
    ):
        return [ast.keyword(arg=k.value, value=v) for k, v in zip(value.keys, value.values)]
    if (
        isinstance(value, ast.Call)
        and getattr(value.func, "id", None) == "dict"
        and not value.args
        and all(k.arg is not None for k in value.keywords)
    ):
        return value.keywords
    return None


def _calls(tree: ast.Module) -> list[ast.Call]:
    """Every call in the tree; in a function body, a `**name` argument is
    replaced by its keywords when `name` is bound there once, to a dict, and
    read only as `**name` arguments."""
    out = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        own = list(_own_nodes(fn))
        params = {a.arg for a in ast.walk(fn.args) if isinstance(a, ast.arg)}
        stores: dict[str, int] = {}
        reads: dict[str, int] = {}
        for n in ast.walk(fn):
            if isinstance(n, ast.Name):
                count = reads if isinstance(n.ctx, ast.Load) else stores
                count[n.id] = count.get(n.id, 0) + 1
            elif isinstance(n, ast.keyword) and n.arg is None and isinstance(n.value, ast.Name):
                reads[n.value.id] = reads.get(n.value.id, 0) - 1
        dicts = {
            n.targets[0].id: kws
            for n in own
            if isinstance(n, ast.Assign)
            and len(n.targets) == 1
            and isinstance(n.targets[0], ast.Name)
            and n.targets[0].id not in params
            and stores[n.targets[0].id] == 1
            and not reads.get(n.targets[0].id)
            and (kws := _dict_keywords(n.value)) is not None
        }
        for call in own:
            if not isinstance(call, ast.Call):
                continue
            kws = []
            for k in call.keywords:
                name = getattr(k.value, "id", None) if k.arg is None else None
                kws += dicts.get(name, [k])
            call.keywords = kws
    return out


def single_valued(engine: dict[str, str], callers: list[str]) -> list[str]:
    """``module:function(param)`` of every defaulted parameter of a function
    in the engine sources {module: source} that takes fewer than two values
    across the calls in `callers` (a parameter of a function nobody calls
    takes none)."""
    by_name: dict[str, list] = {}
    for src in callers:
        for tree in trees(src):
            for call in _calls(tree):
                if _callee(call):
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


def caller_sources(root: pathlib.Path) -> list[str]:
    """The source of every .py file under ``root`` whose calls count: all but
    those under tests/ (and .git/)."""
    return [
        p.read_text() for p in sorted(root.rglob("*.py"))
        if p.relative_to(root).parts[0] not in (".git", "tests")
    ]


def _repo_single_valued() -> list[str]:
    return single_valued(engine_sources(), caller_sources(ROOT))


def test_every_option_takes_two_values():
    found = [o for o in _repo_single_valued() if o not in ALLOWED]
    assert not found, found


def test_allowlist_entries_are_live_and_reasoned():
    single = set(_repo_single_valued())
    assert all(reason.strip() for reason in ALLOWED.values())
    # an entry whose option is gone, or now takes two values, is stale
    assert not set(ALLOWED) - single, sorted(set(ALLOWED) - single)


def test_scan_self_check(tmp_path):
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
    # in a function body, `**kw` passes the keywords of the dict it is bound
    # to once: s takes only 9 here, t its default and 5
    def u_opts(src: str) -> list[str]:
        return [o for o in scan(src, "u(s=9, t=5)\n") if o.startswith("m:u")]

    assert u_opts("def w():\n    kw = dict(s=9)\n    u(**kw)\n") == ["m:u(s)"]
    assert u_opts("def w():\n    kw = {'s': 9}\n    u(**kw)\n") == ["m:u(s)"]
    # ...but a `**` parameter passed on varies every parameter, even where the
    # caller's dict is known (a module-wide resolution would list s here)
    fwd = "def w():\n    kw = dict(s=9)\n    fwd(**kw)\ndef fwd(**kw):\n    u(**kw)\n"
    assert u_opts(fwd) == []
    # ...and so does a dict bound twice, changed after binding, or bound at
    # module level
    assert u_opts("def w():\n    kw = dict(s=9)\n    kw = dict(s=8)\n    u(**kw)\n") == []
    assert u_opts("def w():\n    kw = dict(s=9)\n    kw['s'] = 8\n    u(**kw)\n") == []
    assert u_opts("kw = dict(s=9)\nu(**kw)\n") == []
    # a call inside an embedded `python -c` script counts
    script = 'WORKER = r"""\nimport m\nm.h(p=7)\n"""\n'
    assert "m:h(p)" not in scan(script, "h()\n")
    assert "m:h(p)" in scan('NOTE = "h(p=7)"\n', "h()\n")
    # a call under tests/ is no caller: p takes 7 only there, so it still
    # has one value; a call anywhere else counts
    for rel, src in {"tests/test_h.py": "h(p=7)\n", "tools/run.py": "h()\n"}.items():
        (tmp_path / rel).parent.mkdir(exist_ok=True)
        (tmp_path / rel).write_text(src)
    assert "m:h(p)" in scan(*caller_sources(tmp_path))
    (tmp_path / "tools" / "other.py").write_text("h(p=7)\n")
    assert "m:h(p)" not in scan(*caller_sources(tmp_path))
