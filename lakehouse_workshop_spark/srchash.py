"""Transitive source hashing for registry governance.

Round 10 drove through a blind spot in the changed-source rule: the rule
hashed only ``inspect.getsource(fn)`` of the registered query function,
so editing a shared module helper (``_pq_knobs``, the ``exact_topk`` BLAS
norm move, ``_assign_encode_fn``) changed the behavior of out-of-window
registered queries with zero hash drift — their old driver rows kept
vouching for code that no longer ran (r10 verdict, "What's wrong #1").

:func:`governed_source_hash` closes that hole: the hash covers the
registered function's source PLUS the source of every package-level
function/class it transitively references (via ``co_names`` /
``co_freevars`` of its code objects, nested lambdas included) and the
``repr`` of every referenced package-level constant, PLUS the expanded
oracle SQL string (the old function-body hash only saw the oracle
*builder call* in the decorator text, so oracle-helper edits were
equally invisible). A helper rewrite now drifts the hash of every
dependent query, forcing each one back into the driver window.

Granularity note: hashing the *referenced closure* (not the whole
defining module, the r10 verdict's minimum ask) keeps the slot economics
workable — editing one helper drifts its dependents only, not every
query that happens to share a file. The trade-off is approximation at
two edges, both conservative-enough in this codebase: (a) classes are
hashed by their own source without recursing into what their methods
reference, and (b) dynamic references (``getattr``-by-string) are
invisible — neither pattern is used for behavior-carrying query helpers
here (enforced culturally; the pin tests in ``tests/test_srchash.py``
cover the patterns that ARE used).

Policy corollary: a behavior change to a helper shared by more than a
window's worth of queries (e.g. ``dec_sum``) will make
``tools/make_driver_order.py`` refuse to write — which is honest: more
than 50 driver rows really would be stale. Such an edit must ship in a
round that windows the biggest dependents and explicitly documents the
rest as pending re-verification over the following rounds.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import types
from pathlib import Path

PACKAGE = "lakehouse_workshop_spark"
# Oracle SQL may embed absolute fixture paths (the CLV golden parquet);
# hashing them verbatim would make the governed hash depend on where the
# repo is checked out, so the root is replaced by a fixed token first.
REPO_ROOT = str(Path(__file__).resolve().parents[1])

_MISSING = object()
_SIMPLE = (int, float, complex, bool, str, bytes, type(None))

# Module-level RUNTIME state (worker scratch buffers, driver-side memo
# caches) — mutable containers whose contents change as queries execute
# in-process. Hashing their repr would make the governed hash depend on
# what ran earlier in the same process (the full pytest session measured
# exactly that: test_plans_md_current flaked after the CLV tests filled
# _SCORED_CACHE). Every such cache MUST be listed here; the invariance
# pin in tests/test_srchash.py fails if a listed cache still leaks into
# a hash, and a future unlisted cache will resurface as that same
# in-suite flake pointing here. Keyed on (referencing module, name) —
# not bare name (r11 ADVICE) — so a genuine behavior-carrying constant
# that happens to share a cache's name in ANOTHER module still governs.
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
    NOT unwrapped here — its bound arguments carry behavior, so
    :func:`_collect` hashes them explicitly before recursing into
    ``.func`` (r11 ADVICE: blind ``.func`` unwrapping made an
    args-only partial edit invisible to the hash)."""
    if isinstance(obj, functools.partial):
        return obj
    for attr in ("__wrapped__", "func"):
        inner = getattr(obj, attr, None)
        if isinstance(inner, types.FunctionType):
            return inner
    return obj


def _const_repr(v) -> str:
    """Process-stable repr for a compile-time constant: frozenset/set
    literals iterate in string-hash order (randomized per process —
    ``lambda x: x in {'a', 'b'}`` stores a frozenset in co_consts and
    its repr differs across PYTHONHASHSEEDs), so sets sort by element
    repr and tuples recurse to cover nested set literals."""
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_const_repr(x) for x in v)) + "}"
    if isinstance(v, tuple):
        return "(" + ", ".join(_const_repr(x) for x in v) + ",)"
    return repr(v)


def _bytecode_digest(code) -> str:
    """Process-stable digest of a code object's behavior-carrying parts.

    ``co_code`` alone is NOT enough (r12 ADVICE): CPython stores literal
    constants in ``co_consts`` and referenced names in ``co_names``, so
    ``lambda x: x + 1`` and ``lambda x: x + 2`` share identical
    ``co_code`` and a constants-only edit to an exec-defined callable
    would be invisible. Nested code objects (whose ``repr`` embeds a
    ``0x`` address) recurse; every other const goes through
    :func:`_const_repr` (set literals are hash-order-iterated and need
    element sorting to stay process-stable)."""
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
    qualified name plus the bytecode digest when available (repr() of a
    function/class contains ``0x...`` — id()s differ per process, which
    would make registry_hash nondeterministic across runs; r11 ADVICE)."""
    ident = f"{key[0]}.{key[1]}"
    code = getattr(obj, "__code__", None)
    if code is not None:
        ident += f" code:{_bytecode_digest(code)}"
    return ident


def collect_sources(fn) -> dict[str, str]:
    """Map of identifier -> source/repr for fn and its package-level closure."""
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
    out[f"def {key[0]}.{key[1]}"] = src
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
    _collect_local_imports(src, out, seen, key[0])


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
            # CUSTOM __repr__ (value-carrying by authorial intent —
            # np.ndarray included; dropping these to a type-name pin
            # would make a value-only edit to a bound array invisible,
            # the r11 partial defect class). Only the DEFAULT
            # object.__repr__ embeds a 0x address (r12 ADVICE — the
            # per-process nondeterminism this function exists to
            # avoid); those pin by module-qualified type.
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
                out[ckey] = inspect.getsource(obj)
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
    src: str, out: dict[str, str], seen: set, module: str = "?"
) -> None:
    """Govern function-LOCAL package imports (r13 review finding #2).

    ``from lakehouse_workshop_spark.x import y`` inside a function body
    binds ``y`` as a local, so it is absent from ``fn.__globals__`` and
    the ``co_names`` loop skips it — the 125-line streaming job behind
    ``streaming_semantic_dedup`` (and the LSH twin before it) was
    invisible to changed-source governance: an edit to the gate logic
    would have shipped with zero hash drift, the exact r10 ``_pq_knobs``
    defect class. Resolving the AST's package-ImportFrom targets closes
    it: each imported object is governed exactly like a global
    reference, keyed by its HOME module (which is also what
    ``RUNTIME_STATE`` exclusion keys mean)."""
    import ast
    import importlib.util
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:  # pragma: no cover - getsource quirk safety net
        return
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        target = node.module or ""
        if node.level > 0:
            # Relative package import (``from .jobs import x``): the AST
            # carries the module WITHOUT the package prefix, so the
            # prefix check below would silently skip it — reopening the
            # exact hole this resolver closes (r13 ADVICE #1). Resolve
            # against the defining module's package first; if the base
            # module is unknown, pin loudly rather than skip.
            import sys as _sys

            base_mod = _sys.modules.get(module)
            base = getattr(base_mod, "__package__", None)
            if not base:
                # Unknown defining module (not in sys.modules, or no
                # __package__): guessing a base here resolves a plain
                # module's level-1 import one level too deep
                # (pkg.mod + '.x' -> pkg.mod.x instead of pkg.x), which
                # would pin a NONEXISTENT name and silently stop
                # governing the real import target — the silent-skip
                # class this resolver exists to close. Pin loudly.
                target = ""
            else:
                try:
                    target = importlib.util.resolve_name(
                        "." * node.level + target, base
                    )
                except (ImportError, ValueError):
                    target = ""
            if target != PACKAGE and not target.startswith(PACKAGE + "."):
                # A relative import inside governed package source MUST
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
            # A function-local import guarded by try/except ImportError
            # (or a module missing in a stripped environment) must not
            # turn every registry_hash call into a crash (r13 ADVICE
            # #2): fold a stable module+name pin instead — edits to the
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
