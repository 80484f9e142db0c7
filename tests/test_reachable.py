"""Reachability inventory: every top-level definition of the package and
of ``__spark_entry__.py`` is used by the program or by the benchmark,
not only by tests. A definition that only a test reaches fails here
until it is deleted with its test, or its test is re-pointed at the
code the program runs. Every defaulted parameter of a top-level
function is passed some other value by a caller: an option that no
caller sets is a constant.

The scan is static (``ast``, no Spark). A name counts as used when it
is loaded in its own module outside its own body, loaded in a module
that imports it from the defining module, or read as an attribute of
a name bound to the defining module."""
import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "console_log_parser_spark"
CALLERS = [PACKAGE, "__spark_entry__.py", "jobs", "tools", "bench.py",
           "perfbench"]

# Entry points that nothing in the repository calls, each with its reason.
ALLOWED = {
    ("__spark_entry__", "entry"): "the driver contract's flagship entry",
    (f"{PACKAGE}.streaming.jobs", "stream_pipeline"):
        "the streaming run report is to be built on it",
    (PACKAGE, "__version__"): "package metadata",
}

# the python a shell script feeds to `python - <<'EOF'`
_HEREDOC = re.compile(r"<<'EOF'\n(.*?)\nEOF\n", re.DOTALL)


def _sources(callers=CALLERS):
    """(module name, is a package, python source) for every file of
    ``callers``."""
    for entry in callers:
        path = os.path.join(REPO, entry)
        paths = [path] if os.path.isfile(path) else sorted(
            os.path.join(root, name)
            for root, _dirs, names in os.walk(path) for name in names)
        for p in paths:
            rel = os.path.relpath(p, REPO)
            if p.endswith(".py"):
                mod = rel[:-3].replace(os.sep, ".")
                is_pkg = mod.endswith(".__init__")
                with open(p, encoding="utf-8") as f:
                    yield mod.removesuffix(".__init__"), is_pkg, f.read()
            elif p.endswith(".sh"):
                with open(p, encoding="utf-8") as f:
                    for block in _HEREDOC.findall(f.read()):
                        yield rel, False, block


def _resolve(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module
    parts = mod.split(".")
    base = parts[: len(parts) - node.level + is_pkg]
    return ".".join(base + ([node.module] if node.module else []))


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id


def _uses(mod: str, is_pkg: bool, tree: ast.Module):
    """(defining module, name) pairs this module uses."""
    modules, names = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    modules[a.asname] = a.name
                else:
                    top = a.name.split(".")[0]
                    modules[top] = top
        elif isinstance(node, ast.ImportFrom):
            src = _resolve(mod, is_pkg, node)
            for a in node.names:
                local = a.asname or a.name
                names[local] = (src, a.name)
                modules[local] = f"{src}.{a.name}"
    for top in tree.body:
        own = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                if node.id in names:
                    yield names[node.id]
                elif node.id != own:
                    yield mod, node.id
            elif isinstance(node, ast.Attribute):
                chain, v = [node.attr], node.value
                while isinstance(v, ast.Attribute):
                    chain.append(v.attr)
                    v = v.value
                if isinstance(v, ast.Name) and v.id in modules:
                    path = [modules[v.id]] + chain[:0:-1]
                    yield ".".join(path), node.attr


def test_every_definition_is_reached_by_the_program():
    trees = [(mod, is_pkg, ast.parse(src))
             for mod, is_pkg, src in _sources()]
    defined = {(mod, name) for mod, _, t in trees
               if mod.split(".")[0] in (PACKAGE, "__spark_entry__")
               for name in _definitions(t)}
    used = {u for mod, is_pkg, t in trees for u in _uses(mod, is_pkg, t)}
    assert set(ALLOWED) <= defined
    assert sorted(defined - used - set(ALLOWED)) == []


def _unused_imports(tree: ast.Module) -> list[str]:
    """Names an import binds in this module that the module never
    loads."""
    bound = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            bound.update(a.asname or a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound.update(a.asname or a.name for a in node.names)
    loaded = {n.id for n in ast.walk(tree)
              if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    return sorted(bound - loaded)


def test_every_import_is_used():
    """The repository runs no linter, so this stands in for an
    unused-import rule over the program (perfbench excluded)."""
    unused = [(mod, name) for mod, _, src in _sources()
              if not mod.startswith("perfbench")
              for name in _unused_imports(ast.parse(src))]
    assert unused == []


# Defaulted parameters that no caller varies, each with its reason.
_DATAGEN = f"{PACKAGE}.datagen"
ALLOWED_DEFAULTS = {
    (_DATAGEN, fn, p): "perfbench's input generator"
    for fn, p in [("_zipf_weights", "s"), ("build_batch", "n_sources"),
                  ("chapter_rows", "n_sources"), ("chapter_rows", "seed"),
                  ("doc_source", "n_sources"), ("generate", "n_sources"),
                  ("generate", "rows_per_group"),
                  ("route_metadata_rows", "n_sources"),
                  ("route_metadata_rows", "unmatched_frac")]}


def _defaults(fn: ast.FunctionDef) -> dict[str, str]:
    """Parameter name -> source text of its default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: ast.unparse(d)
           for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update((p.arg, ast.unparse(d))
               for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return out


def _passed(fn: ast.FunctionDef, call: ast.Call) -> dict:
    """Parameter name -> the expression a call passes it; None for
    whatever a ``*args`` or ``**kwargs`` splat may reach."""
    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    out = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            out.update(dict.fromkeys(pos[i:]))
            break
        if i < len(pos):
            out[pos[i]] = arg
    for kw in call.keywords:
        if kw.arg is None:
            out.update(dict.fromkeys(_defaults(fn)))
        else:
            out[kw.arg] = kw.value
    return out


def _rebound(fn: ast.FunctionDef) -> set[str]:
    """Names that a function body assigns or that a nested function,
    lambda or comprehension binds as its own parameter."""
    own = {p.arg for p in ast.walk(fn.args) if isinstance(p, ast.arg)}
    out = set()
    for n in ast.walk(fn):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.arg) and n.arg not in own:
            out.add(n.arg)
    return out


def unvaried_defaults() -> dict[tuple[str, str, str], str]:
    """(module, function, parameter) -> default text, for each defaulted
    parameter of a top-level function of the package or of
    ``__spark_entry__.py`` that no call by the function's name, in the
    program, the benchmark or the tests, passes an expression whose
    source text differs from the default's. A caller forwarding one of
    its own unvaried parameters passes that parameter's default, so
    the scan iterates to a fixed point."""
    trees = [(mod, ast.parse(src))
             for mod, _, src in _sources(CALLERS + ["tests"])]
    funcs, params = {}, {}
    for mod, tree in trees:
        if mod.split(".")[0] not in (PACKAGE, "__spark_entry__"):
            continue
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                funcs.setdefault(fn.name, []).append((mod, fn))
                for p, d in _defaults(fn).items():
                    params[(mod, fn.name, p)] = d
    calls = []
    for mod, tree in trees:
        for top in tree.body:
            enclosing = top if isinstance(top, ast.FunctionDef) else None
            rebound = _rebound(top) if enclosing else set()
            for c in ast.walk(top):
                if not isinstance(c, ast.Call):
                    continue
                name = getattr(c.func, "id", getattr(c.func, "attr", None))
                for fmod, fn in funcs.get(name, []):
                    calls.append((mod, enclosing, rebound, fmod, fn, c))
    varied = set()
    while True:
        now = set(varied)
        for mod, enclosing, rebound, fmod, fn, call in calls:
            defaults = _defaults(fn)
            for p, value in _passed(fn, call).items():
                if p not in defaults:
                    continue
                key = (fmod, fn.name, p)
                if value is None:
                    now.add(key)
                    continue
                text = ast.unparse(value)
                fwd = (mod, getattr(enclosing, "name", None),
                       getattr(value, "id", None))
                if (isinstance(value, ast.Name) and fwd in params
                        and fwd not in varied
                        and value.id not in rebound):
                    text = params[fwd]
                if text != defaults[p]:
                    now.add(key)
        if now == varied:
            break
        varied = now
    return {k: d for k, d in params.items() if k not in varied}


def test_every_default_is_varied_by_a_caller():
    """A defaulted parameter that every caller leaves at its default (or
    passes the default's own text) is an option nothing sets: make it a
    constant, or list it in ALLOWED_DEFAULTS with its reason."""
    unvaried = unvaried_defaults()
    assert set(ALLOWED_DEFAULTS) <= set(unvaried)
    assert sorted(set(unvaried) - set(ALLOWED_DEFAULTS)) == []
