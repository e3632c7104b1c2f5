"""Transitive source hashing for registry governance.

:func:`governed_source_hash` covers what a registered query computes:
the registered function plus every package-level function/class it
transitively references (via ``co_names`` / ``co_freevars`` of its code
objects, nested lambdas included, and function-local package imports),
the ``repr`` of every referenced package-level constant, and the
expanded oracle SQL string. Editing a shared helper therefore drifts the
hash of every dependent query, and only of those.

Each def/class is hashed as the docstring-free AST of its source
(:func:`_governed_text`): comments, docstrings, formatting and the
``@query(...)`` registration call never reach the hash. The oracle that
call registers is hashed by value, its name is the registry key, and
``scale_path`` is registry metadata checked by
``tests/test_registry.py``.

Known edges: classes are hashed by their own source without recursing
into what their methods reference, and dynamic references
(``getattr``-by-string) are invisible. Neither pattern carries query
behavior in this package; ``tests/test_srchash.py`` pins the patterns
that do.

A behavior change to a helper shared by more than a window's worth of
queries (e.g. ``dec_sum``) makes ``tools/make_driver_order.py`` refuse to
write, because more than 50 driver rows really would be stale; such an
edit must defer the dependents it cannot window.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib.util
import inspect
import sys
import textwrap
import types
from pathlib import Path

PACKAGE = "lakehouse_workshop_spark"
# Oracle SQL may embed absolute fixture paths (the CLV golden parquet);
# the repo root is replaced by a fixed token so the hash does not depend
# on where the repo is checked out.
REPO_ROOT = str(Path(__file__).resolve().parents[1])

_MISSING = object()
_SIMPLE = (int, float, complex, bool, str, bytes, type(None))

# Module-level runtime state (worker scratch buffers, driver-side memo
# caches): mutable containers whose contents change as queries execute
# in-process, so hashing their repr would make the hash depend on what
# ran earlier. Every such cache must be listed here; the invariance pin
# in tests/test_srchash.py fails if a listed cache leaks into a hash.
# Keyed on (referencing module, name), so a behavior-carrying constant
# that shares a cache's name in another module still governs.
RUNTIME_STATE = {
    (f"{PACKAGE}.kernels", "_WORKER_BUFS"),
    (f"{PACKAGE}.clv.pipeline", "_SCORED_CACHE"),
}


def _in_package(obj) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    return mod == PACKAGE or mod.startswith(PACKAGE + ".")


def _code_names(fn) -> set[str]:
    """Every global/free name referenced by fn's code, nested code included."""
    names: set[str] = set()
    stack = [fn.__code__]
    while stack:
        code = stack.pop()
        names.update(code.co_names)
        names.update(code.co_freevars)
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
    return names


def _unwrap(obj):
    """Follow decorator wrappers to the underlying python function.

    Covers ``functools.wraps`` chains (``__wrapped__``) and pyspark UDF
    objects (``.func``) so a module-level ``@pandas_udf`` helper hashes by
    the code it runs, not the wrapper's repr. ``functools.partial`` is
    not unwrapped here: its bound arguments carry behavior, so
    :func:`_govern_object` hashes them before recursing into ``.func``."""
    if isinstance(obj, functools.partial):
        return obj
    for attr in ("__wrapped__", "func"):
        inner = getattr(obj, attr, None)
        if isinstance(inner, types.FunctionType):
            return inner
    return obj


def _const_repr(v) -> str:
    """Process-stable repr for a compile-time constant: frozenset/set
    literals iterate in string-hash order (randomized per process), so
    sets sort by element repr and tuples recurse to cover nested set
    literals."""
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_const_repr(x) for x in v)) + "}"
    if isinstance(v, tuple):
        return "(" + ", ".join(_const_repr(x) for x in v) + ",)"
    return repr(v)


def _bytecode_digest(code) -> str:
    """Process-stable digest of a code object's behavior-carrying parts.

    ``co_code`` alone is not enough: literal constants live in
    ``co_consts`` and referenced names in ``co_names``, so
    ``lambda x: x + 1`` and ``lambda x: x + 2`` share identical
    ``co_code``. Nested code objects (whose ``repr`` embeds a ``0x``
    address) recurse; every other const goes through :func:`_const_repr`."""
    h = hashlib.sha256()
    stack = [code]
    while stack:
        c = stack.pop()
        h.update(c.co_code)
        h.update(repr(c.co_names).encode())
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
            else:
                h.update(_const_repr(const).encode())
    return h.hexdigest()[:16]


def _stable_identity(obj, key: tuple[str, str]) -> str:
    """Source-free fallback that never embeds a memory address: module-
    qualified name plus the bytecode digest when available (``repr()`` of
    a function/class contains ``0x...``, which differs per process)."""
    ident = f"{key[0]}.{key[1]}"
    code = getattr(obj, "__code__", None)
    if code is not None:
        ident += f" code:{_bytecode_digest(code)}"
    return ident


def _is_registration(node: ast.expr) -> bool:
    """A ``@query(...)`` decorator call."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "query"
    )


def _governed_text(src: str) -> tuple[str, ast.AST | None]:
    """The hashed text of a def/class source, and its parsed tree.

    The text is ``ast.unparse`` of the dedented source with the leading
    docstring of every def/class body and every ``@query(...)`` decorator
    removed, so comments, docstrings and formatting never reach the hash.
    Source that does not parse hashes as raw text (tree ``None``)."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return src, None
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            continue
        node.decorator_list = [
            d for d in node.decorator_list if not _is_registration(d)
        ]
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            node.body = node.body[1:] or [ast.Pass()]
    return ast.unparse(tree), tree


def collect_sources(fn) -> dict[str, str]:
    """Map of identifier -> hashed text for fn and its package-level closure."""
    out: dict[str, str] = {}
    _collect(fn, out, set())
    return out


def _collect(fn, out: dict[str, str], seen: set) -> None:
    key = (getattr(fn, "__module__", "?"), getattr(fn, "__qualname__", repr(fn)))
    if key in seen:
        return
    seen.add(key)
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        # No retrievable source (REPL/exec-defined): pin a stable
        # identity (+bytecode digest); nothing to recurse into.
        out[f"def {key[0]}.{key[1]}"] = _stable_identity(fn, key)
        return
    out[f"def {key[0]}.{key[1]}"], tree = _governed_text(src)
    g = getattr(fn, "__globals__", {})
    gmod = g.get("__name__", key[0])
    closure: dict[str, object] = {}
    if getattr(fn, "__closure__", None):
        for name, cell in zip(fn.__code__.co_freevars, fn.__closure__):
            try:
                closure[name] = cell.cell_contents
            except ValueError:  # empty cell (recursive def)
                pass
    for name in sorted(_code_names(fn)):
        if (gmod, name) in RUNTIME_STATE:
            continue  # runtime-mutated caches — see RUNTIME_STATE above
        obj = closure.get(name, g.get(name, _MISSING))
        if obj is _MISSING or isinstance(obj, types.ModuleType):
            continue  # builtins, attribute names, module refs
        _govern_object(obj, name, gmod, out, seen)
    if tree is not None:
        _collect_local_imports(tree, out, seen, key[0])


def _govern_object(obj, name: str, gmod: str, out: dict[str, str], seen: set) -> None:
    """Fold one referenced object into the governed closure — shared by
    the ``co_names`` loop and the function-local-import resolver."""
    obj = _unwrap(obj)
    if isinstance(obj, functools.partial):
        # Bound arguments carry behavior: hash them (callables by
        # stable identity, never repr — addresses differ per
        # process), then govern the wrapped callable like any other
        # reference.
        def _arg_repr(v):
            if callable(v):
                return _stable_identity(
                    v,
                    (
                        getattr(v, "__module__", "?") or "?",
                        getattr(v, "__qualname__", type(v).__name__),
                    ),
                )
            # repr() only for values with deterministic reprs: simple
            # scalars, plain containers thereof, and objects with a
            # custom __repr__ (value-carrying by authorial intent,
            # np.ndarray included, so a value-only edit to a bound array
            # still drifts). Only the default object.__repr__ embeds a
            # 0x address; those pin by module-qualified type.
            if isinstance(v, _SIMPLE):
                return repr(v)
            if isinstance(v, (set, frozenset)):
                return "{" + ", ".join(sorted(_arg_repr(x) for x in v)) + "}"
            if isinstance(v, (tuple, list)):
                return "[" + ", ".join(_arg_repr(x) for x in v) + "]"
            if isinstance(v, dict):
                # mixed-type keys are unorderable — sort by key repr
                return (
                    "{"
                    + ", ".join(
                        f"{k!r}: {_arg_repr(x)}"
                        for k, x in sorted(
                            v.items(), key=lambda kv: repr(kv[0])
                        )
                    )
                    + "}"
                )
            if type(v).__repr__ is not object.__repr__:
                return repr(v)
            return f"<{type(v).__module__}.{type(v).__qualname__}>"

        out[f"partial {gmod}.{name}"] = (
            "args=(" + ", ".join(_arg_repr(a) for a in obj.args) + ") "
            "keywords=["
            + ", ".join(
                f"({k!r}, {_arg_repr(v)})"
                for k, v in sorted(obj.keywords.items())
            )
            + "]"
        )
        inner = _unwrap(obj.func)
        if isinstance(inner, types.FunctionType) and _in_package(inner):
            _collect(inner, out, seen)
        return
    if isinstance(obj, types.FunctionType) and _in_package(obj):
        _collect(obj, out, seen)
    elif inspect.isclass(obj) and _in_package(obj):
        ckey = f"class {obj.__module__}.{obj.__qualname__}"
        if ckey not in out:
            try:
                out[ckey] = _governed_text(inspect.getsource(obj))[0]
            except (OSError, TypeError):
                out[ckey] = _stable_identity(
                    obj, (obj.__module__, obj.__qualname__)
                )
    elif isinstance(obj, (_SIMPLE, tuple, list, dict, set, frozenset)):
        # Module-level constants (SQL template strings, knob ints,
        # lookup dicts). repr of source-defined containers is
        # deterministic (insertion order). Sets are sorted by repr
        # of elements so the hash does not depend on iteration order.
        if isinstance(obj, (set, frozenset)):
            rep = "{" + ", ".join(sorted(repr(x) for x in obj)) + "}"
        else:
            rep = repr(obj)
        out[f"const {gmod}.{name}"] = rep
    # anything else (np arrays, sessions, third-party objects) is not
    # a source-governed value; skipped deliberately.


def _collect_local_imports(
    tree: ast.AST, out: dict[str, str], seen: set, module: str = "?"
) -> None:
    """Govern function-local package imports.

    ``from lakehouse_workshop_spark.x import y`` inside a function body
    binds ``y`` as a local, so it is absent from ``fn.__globals__`` and
    the ``co_names`` loop skips it. Each package ``ImportFrom`` target in
    the function's tree is governed exactly like a global reference,
    keyed by its home module (which is also what ``RUNTIME_STATE``
    exclusion keys mean)."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        target = node.module or ""
        if node.level > 0:
            # The AST carries a relative import's module without the
            # package prefix: resolve it against the defining module's
            # package first.
            base_mod = sys.modules.get(module)
            base = getattr(base_mod, "__package__", None)
            if not base:
                # Unknown defining module: guessing a base would resolve
                # a plain module's level-1 import one level too deep and
                # silently govern a nonexistent name. Pin loudly.
                target = ""
            else:
                try:
                    target = importlib.util.resolve_name(
                        "." * node.level + target, base
                    )
                except (ImportError, ValueError):
                    target = ""
            if target != PACKAGE and not target.startswith(PACKAGE + "."):
                # A relative import inside governed package source must
                # resolve into the package — if it didn't, the base was
                # unknown: pin loudly rather than silently skip.
                for alias in node.names:
                    out[
                        f"import {module}:{'.' * node.level}"
                        f"{node.module or ''}.{alias.name}"
                    ] = "unresolvable relative import"
                continue
        if target != PACKAGE and not target.startswith(PACKAGE + "."):
            continue
        try:
            mod = importlib.import_module(target)
        except ImportError:
            # A guarded or missing import must not crash registry_hash:
            # fold a stable module+name pin instead — edits to the
            # import line still drift the hash via the function source.
            for alias in node.names:
                out[f"import {target}.{alias.name}"] = (
                    f"unimportable: {target}.{alias.name}"
                )
            continue
        for alias in node.names:
            if (target, alias.name) in RUNTIME_STATE:
                continue
            obj = getattr(mod, alias.name, _MISSING)
            if obj is _MISSING or isinstance(obj, types.ModuleType):
                continue
            _govern_object(obj, alias.name, target, out, seen)


def governed_source_hash(fn, oracle: str | None = None) -> str:
    """The governance hash: transitive package closure + oracle SQL."""
    parts = collect_sources(fn)
    blob = "\n".join(f"{k}\n{v}" for k, v in sorted(parts.items()))
    if oracle is not None:
        blob += "\n-- oracle --\n" + oracle.replace(REPO_ROOT, "<repo>")
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def registry_hash(name: str) -> str:
    """Governance hash for a registered query by name."""
    from lakehouse_workshop_spark.operators import all_oracles, all_queries

    return governed_source_hash(all_queries()[name], all_oracles().get(name))
