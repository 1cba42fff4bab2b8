"""Every top-level definition in ocr_wrapper_spark/ is reached from a
product root, and every parameter takes more than one value from the
product, so neither code that nothing calls nor an option with one value
in use can grow back unnoticed.

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

The second scan binds the arguments of every call that the package and
the roots make to a top-level package function, plus the registry's
``(spark, sf_dir)`` call of each ``@register`` query. A parameter has one
value when every such call binds it to the same scalar literal, leaves it
at its default, or forwards a parameter of the calling function that has
one value itself. A call with ``*args`` / ``**kwargs`` may set any
parameter, so it binds each one to a value the scan cannot name; functions
used only as values bind nothing. The scan errs toward keeping options.
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

# Parameters with one value in product use, kept on purpose, with why.
ALLOWED_ONE_VALUE = {
    ("ocr_wrapper_spark.kernels.extract_doc", "extract_documents", "texts"):
        "the EXTRACTORS calling contract: every mode kernel takes (payloads, langs, texts)",
    ("ocr_wrapper_spark.plans.pipeline", "run_extraction", "extractor"):
        "test seam: tests select every extraction mode",
    ("ocr_wrapper_spark.operators.autoselect", "autoselect_extractor", "name"):
        "run_extraction's extractor seam, forwarded; None reads the env default",
    ("ocr_wrapper_spark.session", "get_spark", "shuffle_partitions"):
        "test seam: the test session sets 8",
    ("ocr_wrapper_spark.kernels.layout", "layout_words", "page_width"):
        "test seam: tests lay words out at other widths",
    ("ocr_wrapper_spark.session", "worker_daemon_conf", "package_file"):
        "test seam for a zipped package",
    ("ocr_wrapper_spark.worker_daemon", "install", "version_info"):
        "test seam for the CPython version gate",
    ("ocr_wrapper_spark.sources.pages", "materialize_pages", "base_dir"):
        "deployment setting: where the page table is materialized",
    ("ocr_wrapper_spark.sources.warc", "materialize_warc", "base_dir"):
        "deployment setting: where the WARC shards are written",
    ("ocr_wrapper_spark.sources.warc", "materialize_warc", "n_files"):
        "deployment setting: how many WARC shards are written",
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

    def _resolve_attr(self, mod: str, n: ast.Attribute, whole: bool) -> list:
        """Definitions that a ``module.name`` chain reaches through the
        module bindings of its head; with ``whole``, only one that the
        entire chain denotes (a callee), else any prefix (a reference)."""
        chain, v = [], n
        while isinstance(v, ast.Attribute):
            chain.append(v.attr)
            v = v.value
        if not isinstance(v, ast.Name):
            return []
        chain = [v.id, *reversed(chain)]
        out = []
        for t in self.imports[mod].get(v.id, []):
            if t[0] != "mod":
                continue
            cur = t[1]
            for i, part in enumerate(chain[1:], start=2):
                if f"{cur}.{part}" in self.modules:
                    cur = f"{cur}.{part}"
                else:
                    if not whole or i == len(chain):
                        out += self._resolve_in(cur, part)
                    break
        return out

    def _refs(self, mod: str, node: ast.AST) -> list:
        out = []
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out += self._resolve_in(mod, n.id)
            elif isinstance(n, ast.Attribute):
                out += self._resolve_attr(mod, n, whole=False)
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

    def _callee(self, mod: str, func: ast.AST) -> tuple[tuple[str, str], ast.FunctionDef] | None:
        if isinstance(func, ast.Name):
            found = self._resolve_in(mod, func.id)
        elif isinstance(func, ast.Attribute):
            found = self._resolve_attr(mod, func, whole=True)
        else:
            return None
        for d in found:
            node = self.defs[d][0]
            if isinstance(node, ast.FunctionDef):
                return d, node
        return None

    def one_value_params(self) -> dict[tuple[str, str, str], str]:
        """(module, function, parameter) -> the one value that every
        product call gives it."""
        opaque = _OPAQUE
        bindings: dict[tuple[str, str, str], list] = {}

        def bind(key, fn: ast.FunctionDef, args: list | None, keywords: dict, caller) -> None:
            """args None: a starred call, which may set any parameter."""
            a = fn.args
            params = a.posonlyargs + a.args + a.kwonlyargs
            positional = a.posonlyargs + a.args
            defaults = dict(zip([p.arg for p in positional][len(positional) - len(a.defaults):], a.defaults))
            defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
            bound = {p.arg: x for p, x in zip(positional, args or ())}
            bound.update(keywords)
            for p in params:
                if args is None:
                    v = opaque
                elif p.arg in bound:
                    v = bound[p.arg]
                    v = opaque if v is opaque else _value(v, caller)
                elif p.arg in defaults:
                    v = ("lit", _literal(defaults[p.arg]) or ast.unparse(defaults[p.arg]))
                else:
                    v = opaque
                bindings.setdefault((*key, p.arg), []).append(v)

        sources = [(m, node, None) for m, node in self.roots]
        sources += [(d[0], node, d) for d, nodes in self.defs.items() for node in nodes]
        for mod, root, enclosing in sources:
            caller = _Caller(enclosing, root) if isinstance(root, ast.FunctionDef) else None
            for call in ast.walk(root):
                if not isinstance(call, ast.Call) or not (hit := self._callee(mod, call.func)):
                    continue
                if any(isinstance(x, ast.Starred) for x in call.args) or any(k.arg is None for k in call.keywords):
                    args, keywords = None, {}
                else:
                    args, keywords = call.args, {k.arg: k.value for k in call.keywords}
                bind(hit[0], hit[1], args, keywords, caller)
        for d in self.registered:
            bind(d, self.defs[d][0], [opaque, opaque], {}, None)

        # fixed point: a forwarded parameter takes its caller's one value
        found: dict[tuple[str, str, str], str] = {}
        while True:
            new = {}
            for key, vs in bindings.items():
                vals = set()
                for v in vs:
                    if v is not opaque and v[0] == "fwd":
                        v = ("lit", found[v[1]]) if v[1] in found else opaque
                    vals.add(v if v is opaque else v[1])
                if len(vals) == 1 and opaque not in vals:
                    new[key] = vals.pop()
            if new == found:
                return found
            found = new


_OPAQUE = object()  # a value the scan cannot name


class _Caller:
    """The top-level function a call sits in: which of its parameters a
    bare name forwards (one it never rebinds)."""

    def __init__(self, key: tuple[str, str], fn: ast.FunctionDef) -> None:
        a = fn.args
        own = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        rebound = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load)}
        rebound |= {n.arg for n in ast.walk(fn) if isinstance(n, ast.arg)} - own
        for n in ast.walk(fn):
            if n is not fn and isinstance(n, (ast.FunctionDef, ast.Lambda)):
                rebound |= {p.arg for p in ast.walk(n.args) if isinstance(p, ast.arg)}
        self.key = key
        self.params = own - rebound


def _literal(node: ast.AST) -> str | None:
    """repr of a scalar literal (a constant, or a signed number)."""
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.USub, ast.UAdd)):
        inner = _literal(node.operand)
        return None if inner is None else f"{'-' if isinstance(node.op, ast.USub) else ''}{inner}"
    if isinstance(node, ast.Constant):
        return repr(node.value)
    return None


def _value(node: ast.AST, caller: _Caller | None):
    if (lit := _literal(node)) is not None:
        return ("lit", lit)
    if caller and isinstance(node, ast.Name) and node.id in caller.params:
        return ("fwd", (*caller.key, node.id))
    return _OPAQUE


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


def test_every_option_takes_more_than_one_value():
    """An option that every product caller sets alike is a constant; the
    ones kept have their reason in ALLOWED_ONE_VALUE."""
    found = _Scan().one_value_params()
    extra = {k: v for k, v in found.items() if k not in ALLOWED_ONE_VALUE}
    assert not extra, f"parameters with one value in product use (make them constants): {extra}"
    stale = sorted(set(ALLOWED_ONE_VALUE) - set(found))
    assert not stale, f"allowed but no longer one-valued (drop from the list): {stale}"
    # the fixed point follows a forwarded parameter: run_extraction passes
    # its extractor on, so autoselect_extractor's name takes its one value
    assert found[("ocr_wrapper_spark.operators.autoselect", "autoselect_extractor", "name")] == "None"
