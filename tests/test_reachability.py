"""Every public definition in `operators/` has a caller outside tests.

A pure-AST scan (no Spark, nothing imported): each module-level
definition of `kassette_server_spark/operators/*.py` (function, class or
assigned name) is a node. Everything else in the repo that is not under
`tests/` is a root: the query specs, the server, streaming, sinks and
sources, the `functions` facade, `examples/`, `bench.py`, `perfbench/`,
`tools/` and the other scripts. A root or a reached definition reaches
every operator name it references, by a bare name, an import (aliases
followed, lazy imports inside functions included) or an attribute of an
imported module. Top-level statements of an operator module other than
definitions and imports (a registry loop, say) run on import, so they
are roots too. The scan is transitive, so a family of definitions that
only call one another is unreached as a whole.

Run: `python -m pytest tests/test_reachability.py -q`.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "kassette_server_spark"
OPS = f"{PKG}.operators"

# Public operator definitions kept without a caller outside tests.
ALLOWED_UNREACHED = {
    # Builds the Adam7 test inputs for the interlaced decode branch that
    # q245 reaches; tests/test_codec_digests.py pins its bytes.
    f"{OPS}.multimodal.encode_png_interlaced",
    # The reference's Postgres upsert (integrations/postgres/main.go);
    # not yet wired to a sink.
    f"{OPS}.merge.upsert",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _sources() -> dict[str, tuple[ast.Module, bool]]:
    """module name -> (tree, is_package) for every .py outside tests/
    and hidden directories (.git, benchmark work dirs)."""
    out = {}
    for top, dirs, files in os.walk(ROOT):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and not (Path(top) == ROOT and d == "tests")
        ]
        for f in files:
            if f.endswith(".py"):
                path = Path(top) / f
                out[_module_name(path)] = (ast.parse(path.read_text(), str(path)), f == "__init__.py")
    return out


def _resolve(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = module.split(".")
    base = base[: len(base) - node.level + int(is_pkg)]
    return ".".join(base + ([node.module] if node.module else []))


class _Refs(ast.NodeVisitor):
    """Collect the (module, name) pairs one code body references."""

    def __init__(self, module, is_pkg, local_defs, aliases, modules):
        self.module, self.is_pkg = module, is_pkg
        self.local_defs, self.modules = local_defs, modules
        self.aliases = dict(aliases)  # local name -> (module, name) or (module, None)
        self.refs: set[tuple[str, str]] = set()

    def _bind_imports(self, node):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    self.aliases[a.asname] = (a.name, None)
                else:
                    self.aliases[a.name.split(".")[0]] = (a.name.split(".")[0], None)
        else:
            src = _resolve(self.module, self.is_pkg, node)
            for a in node.names:
                sub = f"{src}.{a.name}"
                target = (sub, None) if sub in self.modules else (src, a.name)
                self.aliases[a.asname or a.name] = target
                if target[1] is not None:
                    self.refs.add(target)

    visit_Import = visit_ImportFrom = _bind_imports

    def _base(self, node):
        """The module an expression names, if any."""
        if isinstance(node, ast.Name):
            t = self.aliases.get(node.id)
            return t[0] if t and t[1] is None else None
        if isinstance(node, ast.Attribute):
            base = self._base(node.value)
            if base and f"{base}.{node.attr}" in self.modules:
                return f"{base}.{node.attr}"
            return None
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "__import__"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            return node.args[0].value
        return None

    def visit_Name(self, node):
        if node.id in self.local_defs:
            self.refs.add((self.module, node.id))
        elif node.id in self.aliases and self.aliases[node.id][1] is not None:
            self.refs.add(self.aliases[node.id])

    def visit_Attribute(self, node):
        base = self._base(node.value)
        if base is not None:
            self.refs.add((base, node.attr))
        self.generic_visit(node)


def _defined_names(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def unreached_operator_defs() -> set[str]:
    sources = _sources()
    modules = set(sources)
    defs: dict[tuple[str, str], list[ast.AST]] = {}
    roots: list[tuple[str, ast.AST]] = []
    aliases: dict[str, dict] = {}
    for module, (tree, is_pkg) in sources.items():
        local = {n for stmt in tree.body for n in _defined_names(stmt)}
        scan = _Refs(module, is_pkg, local, {}, modules)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                scan.visit(stmt)
        aliases[module] = (is_pkg, local, scan.aliases)
        for stmt in tree.body:
            names = _defined_names(stmt)
            if module.startswith(f"{OPS}.") and names:
                for n in names:
                    defs.setdefault((module, n), []).append(stmt)
            elif module.startswith(f"{OPS}.") and isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue  # an import inside operators only names; use reaches
            else:
                roots.append((module, stmt))

    def refs_of(module, stmt):
        is_pkg, local, al = aliases[module]
        v = _Refs(module, is_pkg, local, al, modules)
        v.visit(stmt)
        out = set()
        for mod, name in v.refs:
            # follow re-exports: a name an operator module only imports
            seen = set()
            while (mod, name) not in defs and mod in aliases and (mod, name) not in seen:
                seen.add((mod, name))
                nxt = aliases[mod][2].get(name)
                if not nxt or nxt[1] is None:
                    break
                mod, name = nxt
            out.add((mod, name))
        return out

    reached: set[tuple[str, str]] = set()
    todo = [r for m, s in roots for r in refs_of(m, s)]
    while todo:
        key = todo.pop()
        if key in reached or key not in defs:
            continue
        reached.add(key)
        for stmt in defs[key]:
            todo.extend(refs_of(key[0], stmt))
    return {f"{m}.{n}" for (m, n) in defs if not n.startswith("_") and (m, n) not in reached}


def test_every_public_operator_has_a_caller_outside_tests():
    assert sorted(unreached_operator_defs()) == sorted(ALLOWED_UNREACHED)
