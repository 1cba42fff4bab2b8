"""Every top-level definition in ocr_wrapper_spark/ is reached from a
product root, so code that nothing calls cannot grow back unnoticed.

An AST fixed point over the source, no imports and no Spark. The roots
are every ``@register`` query, each package module's top-level
statements that define nothing (``_ORACLES[...] = ...``, ``if __name__``
blocks), and everything in ``__spark_entry__.py``, ``bench*.py``,
``scripts/`` and ``perfbench/``. A reached definition reaches every
package definition its body names: a plain name resolves in its own
module or through an import, and ``module.name`` through a module
binding. Tests are not roots. A definition is a top-level function,
class or name assignment; it counts as reached if any name in a reached
body resolves to it, so a local that shadows it keeps it too (the scan
errs toward keeping code).
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "ocr_wrapper_spark"

# Unreached by the product, kept on purpose: each is a test oracle or
# builds test input.
ALLOWED_UNREACHED = {
    # the xywh → corners constructor; tests build boxes with it
    ("ocr_wrapper_spark.kernels.bbox_core", "from_xywh"),
    # the canonical-corner invariant that the property tests assert
    ("ocr_wrapper_spark.kernels.bbox_core", "check_canonical"),
    # the inverse of to_normalized, for its round-trip test
    ("ocr_wrapper_spark.kernels.bbox_core", "to_pixels"),
    # builds the rotated rasters that the tilt tests estimate
    ("ocr_wrapper_spark.kernels.raster_tilt", "rotate_raster"),
}


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _assigned_names(stmt: ast.stmt) -> list[str] | None:
    """Names a top-level assignment defines, or None when it is not a
    plain name (or name-tuple) assignment; a dunder such as ``__all__``
    is module metadata, not a definition."""
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) and not e.id.startswith("__") for e in elts):
            return None
        names += [e.id for e in elts]
    return names


def _is_register(fn: ast.FunctionDef) -> bool:
    for d in fn.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "register") or (
            isinstance(f, ast.Attribute) and f.attr == "register"
        ):
            return True
    return False


class _Scan:
    def __init__(self) -> None:
        pkg_files = sorted(p for p in (REPO / PKG).rglob("*.py") if "__pycache__" not in p.parts)
        root_files = [REPO / "__spark_entry__.py", *sorted(REPO.glob("bench*.py"))]
        for d in ("scripts", "perfbench"):
            root_files += sorted((REPO / d).rglob("*.py"))
        self.trees = {_module_name(p): (p, ast.parse(p.read_text())) for p in pkg_files + root_files}
        self.modules = set(self.trees)
        self.package = {_module_name(p) for p in pkg_files}
        self.imports = {m: self._imports(m, p, t) for m, (p, t) in self.trees.items()}
        # (module, name) -> AST nodes whose references it carries
        self.defs: dict[tuple[str, str], list[ast.AST]] = {}
        self.roots: list[tuple[str, ast.AST]] = []
        self.registered: list[tuple[str, str]] = []
        for m, (_, tree) in self.trees.items():
            if m not in self.package:
                self.roots.append((m, tree))
                continue
            for stmt in tree.body:
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    self.defs.setdefault((m, stmt.name), []).append(stmt)
                    if isinstance(stmt, ast.FunctionDef) and _is_register(stmt):
                        self.registered.append((m, stmt.name))
                elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    continue
                elif isinstance(stmt, (ast.Assign, ast.AnnAssign)) and (names := _assigned_names(stmt)):
                    for name in names:
                        self.defs.setdefault((m, name), []).append(stmt)
                else:
                    self.roots.append((m, stmt))

    def _imports(self, mod: str, path: pathlib.Path, tree: ast.Module) -> dict[str, list[tuple]]:
        """name -> [("mod", module)] or [("def", module, name)], from every
        import in the file, function-local ones included."""
        package = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        out: dict[str, list[tuple]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out.setdefault(a.asname, []).append(("mod", a.name))
                    else:
                        head = a.name.split(".")[0]
                        out.setdefault(head, []).append(("mod", head))
            elif isinstance(node, ast.ImportFrom):
                if node.level == 0:
                    base = node.module
                else:
                    base = package
                    for _ in range(node.level - 1):
                        base = base.rpartition(".")[0]
                    if node.module:
                        base = f"{base}.{node.module}"
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    target = ("mod", sub) if sub in self.modules else ("def", base, a.name)
                    out.setdefault(a.asname or a.name, []).append(target)
        return out

    def _resolve_in(self, mod: str, name: str, seen: frozenset = frozenset()) -> list:
        """Definitions that `mod.name` denotes, following re-exports."""
        if (mod, name) in self.defs:
            return [(mod, name)]
        if (mod, name) in seen or mod not in self.imports:
            return []
        out = []
        for t in self.imports[mod].get(name, []):
            if t[0] == "def":
                out += self._resolve_in(t[1], t[2], seen | {(mod, name)})
        return out

    def _refs(self, mod: str, node: ast.AST) -> list:
        out = []
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out += self._resolve_in(mod, n.id)
            elif isinstance(n, ast.Attribute):
                chain, v = [], n
                while isinstance(v, ast.Attribute):
                    chain.append(v.attr)
                    v = v.value
                if not isinstance(v, ast.Name):
                    continue
                chain = [v.id, *reversed(chain)]
                # module bindings of the head, then walk down submodules
                for t in self.imports[mod].get(v.id, []):
                    if t[0] != "mod":
                        continue
                    cur = t[1]
                    for part in chain[1:]:
                        if f"{cur}.{part}" in self.modules:
                            cur = f"{cur}.{part}"
                        else:
                            out += self._resolve_in(cur, part)
                            break
        return out

    def unreached(self) -> set[tuple[str, str]]:
        reached: set[tuple[str, str]] = set()
        work = self.registered + [d for m, node in self.roots for d in self._refs(m, node)]
        while work:
            d = work.pop()
            if d in reached:
                continue
            reached.add(d)
            for node in self.defs[d]:
                work += self._refs(d[0], node)
        return set(self.defs) - reached


def test_only_the_test_oracles_are_unreached():
    scan = _Scan()
    unreached = scan.unreached()
    assert unreached == ALLOWED_UNREACHED, (
        f"unreached by any product root: {sorted(unreached - ALLOWED_UNREACHED)}; "
        f"allowed but now reached (drop from the list): {sorted(ALLOWED_UNREACHED - unreached)}"
    )
    # both root kinds reach through: a registered query's helper, and
    # get_spark, which only the scripts and benches call
    reached = set(scan.defs) - unreached
    assert ("ocr_wrapper_spark.sources.pages", "_host_idx_col") in reached
    assert ("ocr_wrapper_spark.session", "get_spark") in reached
