"""Reachability inventory: every top-level definition of the package and
of ``__spark_entry__.py`` is used by the program or by the benchmark,
not only by tests. A definition that only a test reaches fails here
until it is deleted with its test, or its test is re-pointed at the
code the program runs.

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


def _sources():
    """(module name, is a package, python source) for every file of
    CALLERS."""
    for entry in CALLERS:
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
