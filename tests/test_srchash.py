"""Pins for the transitive governance hash (srchash.py, round 11).

Round 10's helper edits (``_pq_knobs``, the exact_topk BLAS norm move,
``_assign_encode_fn``) changed registered-query behavior with zero hash
drift because governance hashed only ``inspect.getsource(fn)``. These
tests pin the closed hole two ways: the real registry closures must
contain the exact helpers that slipped through, and a synthetic
helper-only edit must drift the new hash while provably NOT drifting the
old function-body hash.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import inspect
import sys
from pathlib import Path

from lakehouse_workshop_spark.srchash import (
    collect_sources,
    governed_source_hash,
)
from lakehouse_workshop_spark.operators import all_oracles, all_queries


def _closure_keys(name: str) -> set[str]:
    return set(collect_sources(all_queries()[name]))


def test_r10_blind_spot_helpers_are_in_the_closures():
    """The exact r10 escapes: each dependent query's governed closure must
    include the shared helper whose edit changed its behavior."""
    pq = _closure_keys("ivf_pq_topk")
    assert any(k.endswith("._pq_knobs") for k in pq)
    assert any(k.endswith(".ivf_pq_search") for k in pq)
    pqk = _closure_keys("ivf_pq_topk_kmeans")
    assert any(k.endswith("._pq_knobs") for k in pqk)
    ex = _closure_keys("exact_topk")
    assert any(k.endswith(".exact_topk_blas") for k in ex)
    # constants referenced from function bodies are governed too (the
    # r11 in-query knob derivation is itself a governed constant)
    ivf = _closure_keys("ivf_topk")
    assert any(k.endswith("._IVF_NPROBE_SQL") for k in ivf)


def test_oracle_string_is_governed():
    fn = all_queries()["ivf_topk"]
    assert governed_source_hash(fn, "SELECT 1") != governed_source_hash(
        fn, "SELECT 2"
    )
    # and the registered oracle participates (hash with vs without differs)
    oracle = all_oracles()["ivf_topk"]
    assert governed_source_hash(fn, oracle) != governed_source_hash(fn, None)


_MOD_V1 = '''
KNOB = 8

def helper(x):
    return x + KNOB

def query_fn(y):
    return helper(y)
'''

# helper body and a constant change; query_fn's own source is IDENTICAL
_MOD_V2 = '''
KNOB = 64

def helper(x):
    return x * KNOB

def query_fn(y):
    return helper(y)
'''


def _load_scratch(tmp_path, text: str, stamp: str):
    """Import scratch source as a module inside the package namespace
    (the hasher only follows package-level objects)."""
    mod_name = f"lakehouse_workshop_spark._scratch_srchash_{stamp}"
    path = tmp_path / f"scratch_{stamp}.py"
    path.write_text(text)
    spec = importlib.util.spec_from_file_location(mod_name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[mod_name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_helper_only_edit_drifts_new_hash_but_not_old(tmp_path):
    """The scratch mutation the r10 verdict asked for, pinned forever:
    editing ONLY a shared helper (and a module constant) drifts the
    governed hash, while the pre-r11 function-body hash stays identical —
    i.e. the old rule really was blind and the new one really isn't."""
    # Same module name for both versions: the module name is part of every
    # closure key, so distinct names would drift the hash on their own.
    (tmp_path / "v1").mkdir()
    (tmp_path / "v2").mkdir()
    m1 = _load_scratch(tmp_path / "v1", _MOD_V1, "edit")
    m2 = _load_scratch(tmp_path / "v2", _MOD_V2, "edit")
    try:
        old_style = lambda fn: hashlib.sha256(  # noqa: E731
            inspect.getsource(fn).encode()
        ).hexdigest()[:16]
        assert old_style(m1.query_fn) == old_style(m2.query_fn)
        assert governed_source_hash(m1.query_fn) != governed_source_hash(
            m2.query_fn
        )
        # the closure names both the helper source and the constant value
        keys = collect_sources(m1.query_fn)
        assert any(k.endswith(".helper") for k in keys)
        assert any(k.endswith(".KNOB") for k in keys)
    finally:
        sys.modules.pop("lakehouse_workshop_spark._scratch_srchash_edit", None)


_PIN_BASE = '''
def query(name, oracle=None, scale_path=None):
    return lambda fn: fn


KNOB = 8


def helper(x):
    """Add the knob."""
    return x + KNOB * 2


@query("pin_q", oracle="SELECT 1")
def query_fn(y):
    """Scaled helper output."""
    return helper(y) * 3 + len("abc")
'''

# Edits to how the source reads, not to what it computes.
_PIN_SAME = {
    "docstring": _PIN_BASE.replace("Scaled helper output.", "Reworded."),
    "helper_docstring": _PIN_BASE.replace(
        "Add the knob.", "Add\n    the knob twice."
    ),
    "comment": _PIN_BASE.replace(
        '    return helper(y) * 3 + len("abc")',
        '    # a new comment\n    return helper(y) * 3 + len("abc")  # why',
    ),
    "reflow": _PIN_BASE.replace(
        'return helper(y) * 3 + len("abc")',
        "return (\n        helper(y) * 3\n        + len('abc')\n    )",
    ),
    "query_keyword": _PIN_BASE.replace(
        '@query("pin_q", oracle="SELECT 1")',
        '@query(\n    "pin_q",\n    oracle="SELECT 1",\n    scale_path="pin_twin",\n)',
    ),
}
# One-token edits to a literal the query computes with.
_PIN_DRIFT = {
    "body_literal": _PIN_BASE.replace("* 3 +", "* 4 +"),
    "helper_literal": _PIN_BASE.replace("KNOB * 2", "KNOB * 5"),
    "string_literal": _PIN_BASE.replace('len("abc")', 'len("abcd")'),
}


def test_hash_covers_computation_not_presentation(tmp_path):
    """Docstrings, comments, line layout and the ``@query(...)`` call
    never reach the governed hash; a one-token literal edit in the query
    or in a helper it calls always does. Every variant loads under the
    same module name (from its own file), so only the text differs."""
    name = "lakehouse_workshop_spark._scratch_srchash_pin"

    def load_hash(variant: str, text: str) -> str:
        d = tmp_path / variant
        d.mkdir()
        return governed_source_hash(_load_scratch(d, text, "pin").query_fn)

    variants = {**_PIN_SAME, **_PIN_DRIFT}
    assert all(text != _PIN_BASE for text in variants.values())
    try:
        base = load_hash("base", _PIN_BASE)
        hashes = {k: load_hash(k, text) for k, text in variants.items()}
    finally:
        sys.modules.pop(name, None)
    assert {k: hashes[k] for k in _PIN_SAME} == {k: base for k in _PIN_SAME}
    assert all(hashes[k] != base for k in _PIN_DRIFT), hashes


_DIGEST_SNIPPET = '''
    @query("q", oracle=f"SELECT {N}")
    def q(spark, sf_dir: str, *, k=(1, 2.5, -3), **kw) -> "DataFrame":
        """Docstring."""
        sql = f"""
        SELECT a, {k[0]!r:>4} -- kept: part of the string
        FROM t WHERE b IN ('x', "y")
        """
        xs = [v ** 2 for v in range(10) if v % 2 == 0 or not v]
        m = {key: val for key, val in kw.items()}
        g = lambda a, b=1: (a @ b, a // b, -a, a if b else None)

        async def inner():
            """Nested docstring."""
            async with lock as held:
                return await held

        try:
            x = {*xs, 1j}
        except (ValueError, KeyError) as e:
            raise RuntimeError("bad") from e
        finally:
            del m
        return spark.sql(sql).where(x[1:-1:2] is not None and (y := 3))
'''
_DIGEST_PIN = "bed98c9ceba53eb3"  # Python 3.11


def test_governed_text_digest_is_pinned():
    """The governed hash is ``ast.unparse`` of the docstring-free tree, so
    its exact text belongs to the interpreter. This pin fails on its own
    when an interpreter change moves that text, instead of every
    registry hash drifting at once."""
    from lakehouse_workshop_spark.srchash import _governed_text

    text, tree = _governed_text(_DIGEST_SNIPPET)
    assert tree is not None
    digest = hashlib.sha256(text.encode()).hexdigest()[:16]
    assert digest == _DIGEST_PIN, (
        f"ast.unparse output moved with the interpreter (Python "
        f"{sys.version.split()[0]}): digest {digest} != pinned "
        f"{_DIGEST_PIN}. Every governed hash moves with it: restamp the "
        "driver manifest and PLANS.md footers from unchanged source, then "
        "update this pin."
    )


def test_registry_hashes_are_deterministic_and_distinct():
    from lakehouse_workshop_spark.srchash import registry_hash

    names = list(all_queries())
    h1 = {n: registry_hash(n) for n in names}
    h2 = {n: registry_hash(n) for n in names}
    assert h1 == h2
    assert len(set(h1.values())) == len(names)


def test_hash_invariant_under_runtime_cache_mutation():
    """The governed hash must depend on SOURCE only — never on what ran
    earlier in the process. The full pytest session caught exactly this:
    after the CLV tests filled _SCORED_CACHE (and ANN paths touched
    _WORKER_BUFS), test_plans_md_current flaked because repr() of the
    mutated caches had leaked into dependent queries' hashes. Pins the
    RUNTIME_STATE exclusion."""
    import lakehouse_workshop_spark.clv.pipeline as P
    import lakehouse_workshop_spark.kernels as K
    from lakehouse_workshop_spark.srchash import registry_hash

    names = ("ivf_topk", "clv_distributed", "exact_topk")
    before = {n: registry_hash(n) for n in names}
    K._WORKER_BUFS["__scratch__"] = object()
    P._SCORED_CACHE[("__scratch__",)] = object()
    try:
        after = {n: registry_hash(n) for n in names}
    finally:
        K._WORKER_BUFS.pop("__scratch__", None)
        P._SCORED_CACHE.pop(("__scratch__",), None)
    assert before == after


def test_hash_does_not_depend_on_the_checkout_path(monkeypatch):
    """The CLV oracles embed the absolute path of their golden parquet;
    the governed hash must not change when the repo is checked out
    elsewhere, or every copy at another path sees them as drifted."""
    from lakehouse_workshop_spark import srchash

    root = str(Path(srchash.__file__).resolve().parents[1])
    fn, oracle = all_queries()["clv_distributed"], all_oracles()["clv_distributed"]
    assert root in oracle
    here = governed_source_hash(fn, oracle)
    # the rest of the oracle text is still governed
    edited = oracle.replace("read_parquet", "read_csv")
    assert governed_source_hash(fn, edited) != here
    # the same oracle as a checkout at another directory builds it
    moved = oracle.replace(root, "/elsewhere/checkout")
    monkeypatch.setattr(srchash, "REPO_ROOT", "/elsewhere/checkout", raising=False)
    assert governed_source_hash(fn, moved) == here


def test_partial_bound_args_are_governed():
    """r11 ADVICE: blind `.func` unwrapping made a bound-args-only edit
    to a module-level functools.partial invisible to the hash. The
    collector must fold the partial's args/keywords in, so two partials
    over the same function with different bindings hash differently."""
    import functools
    import types

    from lakehouse_workshop_spark import srchash
    from lakehouse_workshop_spark.srchash import governed_source_hash

    mod = types.ModuleType(f"{srchash.PACKAGE}._fake_partial_mod")
    mod.__name__ = f"{srchash.PACKAGE}._fake_partial_mod"

    src = (
        "def _base(x, k=1):\n"
        "    return x * k\n"
        "def query(spark, sf):\n"
        "    return _bound(2)\n"
    )
    path = "/tmp/_srchash_partial_fixture.py"
    open(path, "w").write(src)
    spec = importlib.util.spec_from_file_location(mod.__name__, path)
    m = importlib.util.module_from_spec(spec)
    sys.modules[mod.__name__] = m
    try:
        spec.loader.exec_module(m)
        m._bound = functools.partial(m._base, k=3)
        h1 = governed_source_hash(m.query)
        m._bound = functools.partial(m._base, k=4)
        h2 = governed_source_hash(m.query)
        assert h1 != h2, "bound-keyword edit did not drift the hash"
        # and the wrapped function's source is still in the closure
        parts = srchash.collect_sources(m.query)
        assert any("_base" in k for k in parts), parts.keys()
    finally:
        sys.modules.pop(mod.__name__, None)


def test_sourceless_fallback_is_process_stable():
    """r11 ADVICE: the getsource-failure fallback hashed repr(fn), which
    embeds a memory address — registry_hash would differ across
    processes if a sourceless callable ever entered a closure. The
    stable-identity fallback must not contain an address."""
    from lakehouse_workshop_spark.srchash import _stable_identity

    fn = eval("lambda x: x + 1")  # exec-defined: inspect.getsource fails
    ident = _stable_identity(fn, ("m", "q"))
    assert "0x" not in ident
    ident2 = _stable_identity(eval("lambda x: x + 1"), ("m", "q"))
    assert ident == ident2, "same bytecode must give the same identity"


def test_sourceless_constant_edit_drifts_identity():
    """r12 ADVICE: co_code alone misses co_consts — `lambda x: x + 1`
    and `lambda x: x + 2` share identical bytecode in CPython, so a
    constant-only edit to an exec-defined callable was invisible to
    governance. The digest must fold constants and names in."""
    from lakehouse_workshop_spark.srchash import _stable_identity

    a = _stable_identity(eval("lambda x: x + 1"), ("m", "q"))
    b = _stable_identity(eval("lambda x: x + 2"), ("m", "q"))
    assert a != b, "constant-only edit did not drift the identity"
    # name-only edit drifts too (co_names)
    c = _stable_identity(eval("lambda x: abs(x)"), ("m", "q"))
    d = _stable_identity(eval("lambda x: len(x)"), ("m", "q"))
    assert c != d, "referenced-name edit did not drift the identity"


def test_partial_instance_arg_never_embeds_address():
    """r12 ADVICE: repr() fallback for a partial's non-callable bound
    args embeds a 0x address for instances without a custom __repr__ —
    per-process registry_hash nondeterminism, the exact defect class the
    stable-identity fallback fixed for functions."""
    import functools
    import types as _t

    from lakehouse_workshop_spark import srchash
    from lakehouse_workshop_spark.srchash import governed_source_hash

    src = (
        "class _Knob:\n"
        "    pass\n"
        "def _base(x, cfg=None):\n"
        "    return x\n"
        "def query(spark, sf):\n"
        "    return _bound(2)\n"
    )
    path = "/tmp/_srchash_instancearg_fixture.py"
    name = f"{srchash.PACKAGE}._fake_instancearg_mod"
    open(path, "w").write(src)
    spec = importlib.util.spec_from_file_location(name, path)
    m = importlib.util.module_from_spec(spec)
    sys.modules[name] = m
    try:
        spec.loader.exec_module(m)
        m._bound = functools.partial(m._base, cfg=m._Knob())
        parts1 = srchash.collect_sources(m.query)
        h1 = governed_source_hash(m.query)
        assert not any(
            "0x" in v for v in parts1.values()
        ), {k: v for k, v in parts1.items() if "0x" in v}
        # a fresh instance of the same type must hash identically
        m._bound = functools.partial(m._base, cfg=m._Knob())
        assert governed_source_hash(m.query) == h1
        # nested inside a plain container too
        m._bound = functools.partial(m._base, cfg=[m._Knob(), {"k": m._Knob()}])
        parts2 = srchash.collect_sources(m.query)
        assert not any("0x" in v for v in parts2.values())
    finally:
        sys.modules.pop(name, None)


def test_runtime_state_exclusion_is_module_scoped():
    """r11 ADVICE: RUNTIME_STATE keyed on bare name silently ungoverns
    any module-level object named _WORKER_BUFS anywhere. Keyed on
    (module, name), a behavior-carrying constant with a cache's name in
    ANOTHER module still drifts the hash."""
    from lakehouse_workshop_spark import srchash
    from lakehouse_workshop_spark.srchash import governed_source_hash

    src = (
        "_WORKER_BUFS = {'knob': 1}\n"
        "def query(spark, sf):\n"
        "    return _WORKER_BUFS['knob']\n"
    )
    path = "/tmp/_srchash_scope_fixture.py"
    name = f"{srchash.PACKAGE}._fake_scope_mod"
    open(path, "w").write(src)
    spec = importlib.util.spec_from_file_location(name, path)
    m = importlib.util.module_from_spec(spec)
    sys.modules[name] = m
    try:
        spec.loader.exec_module(m)
        h1 = governed_source_hash(m.query)
        m._WORKER_BUFS = {"knob": 2}
        h2 = governed_source_hash(m.query)
        assert h1 != h2, (
            "same-named constant in a different module was silently "
            "excluded from governance"
        )
    finally:
        sys.modules.pop(name, None)


def test_set_constant_digest_is_hashseed_stable():
    """r13 review: repr() of a frozenset constant in co_consts iterates
    in randomized string-hash order, so the bytecode digest differed per
    process for `lambda x: x in {'a', 'b'}` — the exact nondeterminism
    the fallback exists to avoid. Pin: the digest is computed from
    sorted element reprs (verified stable across PYTHONHASHSEEDs by
    construction: subprocess with a different seed gives the same
    identity), and a membership-set edit still drifts it."""
    import subprocess
    import sys as _sys

    from lakehouse_workshop_spark.srchash import _stable_identity

    src = "lambda x: x in {'alpha', 'beta', 'gamma'}"
    here = _stable_identity(eval(src), ("m", "q"))
    prog = (
        "import sys; sys.path.insert(0, '.');"
        "from lakehouse_workshop_spark.srchash import _stable_identity;"
        f"print(_stable_identity(eval({src!r}), ('m', 'q')))"
    )
    for seed in ("1", "7"):
        out = subprocess.run(
            [_sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            env={"PYTHONHASHSEED": seed, "PATH": "/usr/bin:/bin"},
            cwd="/root/repo",
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == here, (seed, out.stdout, here)
    # and the set edit drifts
    other = _stable_identity(eval("lambda x: x in {'alpha', 'DELTA', 'gamma'}"), ("m", "q"))
    assert other != here


def test_partial_custom_repr_arg_stays_value_governed():
    """r13 review: pinning every non-simple bound arg by type name made
    a value-only edit to e.g. a bound np.ndarray invisible (the r11
    partial defect class, reintroduced). Objects with a CUSTOM __repr__
    keep value-carrying repr; only default-object-repr instances (whose
    repr embeds an address) pin by type. Mixed-key dicts must hash, not
    raise."""
    import functools

    import numpy as np

    from lakehouse_workshop_spark import srchash
    from lakehouse_workshop_spark.srchash import governed_source_hash

    src = (
        "def _base(x, w=None):\n"
        "    return x\n"
        "def query(spark, sf):\n"
        "    return _bound(2)\n"
    )
    path = "/tmp/_srchash_ndarray_fixture.py"
    name = f"{srchash.PACKAGE}._fake_ndarray_mod"
    spec = importlib.util.spec_from_file_location(name, path)
    open(path, "w").write(src)
    m = importlib.util.module_from_spec(spec)
    sys.modules[name] = m
    try:
        spec.loader.exec_module(m)
        m._bound = functools.partial(m._base, w=np.array([1.0, 2.0]))
        h1 = governed_source_hash(m.query)
        m._bound = functools.partial(m._base, w=np.array([9.0, 9.0]))
        h2 = governed_source_hash(m.query)
        assert h1 != h2, "ndarray value edit did not drift the hash"
        # mixed-type dict keys: must hash without raising
        m._bound = functools.partial(m._base, w={"a": 1, 0: 2})
        governed_source_hash(m.query)
    finally:
        sys.modules.pop(name, None)


def test_function_local_package_imports_are_governed(tmp_path):
    """r13 review finding #2: `from lakehouse_workshop_spark.x import y`
    INSIDE a function body binds y as a local — absent from
    __globals__, so the co_names loop skipped it and the whole streaming
    job behind a registered wrapper was invisible to changed-source
    governance (an edit to the gate logic would ship with zero hash
    drift — the r10 _pq_knobs defect class, on a 125-line body). The
    AST ImportFrom resolver must fold the imported object's source in,
    transitively."""
    from lakehouse_workshop_spark import srchash
    from lakehouse_workshop_spark.srchash import (
        collect_sources,
        governed_source_hash,
    )

    def _load(stamp, text):
        name = f"{srchash.PACKAGE}._scratch_localimp_{stamp}"
        path = tmp_path / f"localimp_{stamp}.py"
        path.write_text(text)
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
        return name, mod

    jobs_name, jobs = _load(
        "jobs", "GATE = 1\ndef run_job(x):\n    return x + GATE\n"
    )
    try:
        wrap_src = (
            "def query(spark, sf):\n"
            f"    from {jobs_name} import run_job\n"
            "    return run_job(2)\n"
        )
        _, wrap = _load("wrap", wrap_src)
        parts = collect_sources(wrap.query)
        assert any(k.endswith(".run_job") for k in parts), parts.keys()
        assert any(k.endswith(".GATE") for k in parts), parts.keys()
        h1 = governed_source_hash(wrap.query)
        # edit ONLY the locally-imported job body: hash must drift
        jobs.run_job = _load(
            "jobs2", "GATE = 1\ndef run_job(x):\n    return x - GATE\n"
        )[1].run_job
        sys.modules[jobs_name].run_job = jobs.run_job
        h2 = governed_source_hash(wrap.query)
        assert h1 != h2, "locally-imported job edit did not drift the hash"
    finally:
        for stamp in ("jobs", "jobs2", "wrap"):
            sys.modules.pop(f"{srchash.PACKAGE}._scratch_localimp_{stamp}", None)


def test_streaming_wrappers_govern_their_jobs():
    """The real-registry pin for the same finding: every streaming
    wrapper whose body is a function-local import of a streaming job
    must carry that job (and its gate machinery) in its governed
    closure."""
    from lakehouse_workshop_spark.srchash import collect_sources

    q = all_queries()
    sem = set(collect_sources(q["streaming_semantic_dedup"]))
    assert any(k.endswith(".run_streaming_semantic_dedup") for k in sem)
    assert any(k.endswith("._sem_incr_gate") for k in sem)
    assert any(k.endswith("._centroid_assign_fn") for k in sem)
    lsh = set(collect_sources(q["streaming_lsh_ingest"]))
    assert any(k.endswith(".run_streaming_lsh_ingest") for k in lsh)


def test_relative_local_import_resolves_into_package():
    """r13 ADVICE #1: ``from .jobs import x`` inside a function body has
    node.module without the package prefix — the resolver must resolve
    it against the defining module's package instead of silently
    skipping (which would reopen the exact hole the r13 import
    governance closed)."""
    from lakehouse_workshop_spark import srchash

    out: dict[str, str] = {}
    src = (
        "def f():\n"
        "    from .jobs import run_streaming_semantic_dedup\n"
        "    return run_streaming_semantic_dedup\n"
    )
    srchash._collect_local_imports(
        ast.parse(src), out, set(), f"{srchash.PACKAGE}.streaming"
    )
    assert any(
        k.endswith(".run_streaming_semantic_dedup") for k in out
    ), f"relative import not governed: {sorted(out)}"

    # and from a plain module (base = its parent package)
    out2: dict[str, str] = {}
    src2 = (
        "def g():\n"
        "    from .llm_similarity import ivf_rebalance\n"
        "    return ivf_rebalance\n"
    )
    srchash._collect_local_imports(
        ast.parse(src2), out2, set(), f"{srchash.PACKAGE}.operators.llm_dedup"
    )
    assert any(k.endswith(".ivf_rebalance") for k in out2)


def test_relative_local_import_unknown_base_pins_loudly():
    """A relative import whose base module is unknown must leave a loud
    pin in the governed closure, never a silent skip."""
    from lakehouse_workshop_spark import srchash

    out: dict[str, str] = {}
    src = "def f():\n    from .mystery import thing\n"
    srchash._collect_local_imports(ast.parse(src), out, set(), "?")
    assert out, "unresolvable relative import was silently skipped"
    assert any("unresolvable relative import" in v for v in out.values())


def test_unimportable_local_import_pins_instead_of_crashing():
    """r13 ADVICE #2: a guarded function-local import of a missing
    package module must fold a stable pin into the hash, not crash
    every registry_hash call."""
    from lakehouse_workshop_spark import srchash

    out: dict[str, str] = {}
    src = (
        "def f():\n"
        "    try:\n"
        f"        from {srchash.PACKAGE}.does_not_exist import gadget\n"
        "    except ImportError:\n"
        "        gadget = None\n"
        "    return gadget\n"
    )
    srchash._collect_local_imports(ast.parse(src), out, set(), srchash.PACKAGE)
    key = f"import {srchash.PACKAGE}.does_not_exist.gadget"
    assert out.get(key, "").startswith("unimportable:")
