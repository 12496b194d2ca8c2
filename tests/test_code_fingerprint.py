"""Contracts for the transitive code-object fingerprint that drives
grade tainting (r9 verdict item 2): deterministic, path-independent,
sensitive to executed-code and oracle changes, insensitive to
registry ordering. The same walk also proves that every package
function is reached from an entry point. No Spark session."""

import ast
import dis
import glob
import importlib
import inspect
import os
import pkgutil
import sys
import types

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
)

from code_fingerprint import (  # noqa: E402
    PKG,
    _class_functions,
    closure_items,
    fingerprint,
    reached_codes,
    registry_fingerprints,
)

import aws_lakehouse_spark.layout as layout  # noqa: E402
from aws_lakehouse_spark.operators import joins  # noqa: E402


def test_deterministic_across_calls():
    def q(spark, sf):
        return joins.widen_if_underparallel(spark)

    assert fingerprint(q, "SELECT 1") == fingerprint(q, "SELECT 1")


def test_oracle_change_taints():
    def q(spark, sf):
        return None

    assert fingerprint(q, "SELECT 1") != fingerprint(q, "SELECT 2")


def test_reaches_function_scoped_import():
    """`from pkg.mod import fn` inside a body binds a LOCAL — the
    walker must resolve it off the bytecode, not __globals__."""

    def q(spark, sf):
        from aws_lakehouse_spark.operators.joins import (
            widen_if_underparallel,
        )

        return widen_if_underparallel(spark)

    codes, consts = closure_items(q)
    names = {c.split(b"\x1f", 1)[0].decode() for c in codes}
    assert "widen_if_underparallel" in names
    # the classifier regex is a module-level constant the closure
    # references by name — an edit to it must change the fingerprint
    assert any("_SHUFFLING_NODES" in t for t in consts)


def test_reaches_package_helpers_transitively():
    """A real registry builder: its in-package call chain (helpers of
    helpers) must land in the closure. dedup_exact -> llm.dedup
    helpers -> widen_if_underparallel -> layout.widen_if_narrow."""
    from aws_lakehouse_spark.plans import REGISTRY

    codes, _ = closure_items(REGISTRY["dedup_minhash_lsh_pairs"].fn)
    names = {c.split(b"\x1f", 1)[0].decode() for c in codes}
    assert {"widen_if_underparallel", "widen_if_narrow"} <= names


def test_module_attr_reference_reaches_module_functions():
    def q(spark, sf):
        return layout.widen_if_narrow(spark)

    codes, _ = closure_items(q)
    names = {c.split(b"\x1f", 1)[0].decode() for c in codes}
    assert "widen_if_narrow" in names


def test_local_rename_may_taint_but_logic_change_must():
    def q1(spark, sf):
        x = 1
        return x + 2

    def q2(spark, sf):
        x = 1
        return x + 3

    assert fingerprint(q1, None) != fingerprint(q2, None)


def test_registry_fingerprints_cover_every_query():
    fps = registry_fingerprints()
    from aws_lakehouse_spark.plans import REGISTRY

    assert set(fps) == set(REGISTRY)
    assert all(len(v) == 64 for v in fps.values())


def test_noncallable_default_change_taints():
    """r10 advice (medium): a `k=3`-style default knob is semantics —
    the old walker hashed only callable defaults, so flipping one
    silently escaped the taint."""

    def q1(spark, sf, k=3):
        return k

    def q2(spark, sf, k=4):
        return k

    assert fingerprint(q1, None) != fingerprint(q2, None)


def test_kwonly_default_change_taints():
    def q1(spark, sf, *, bands=16):
        return bands

    def q2(spark, sf, *, bands=8):
        return bands

    assert fingerprint(q1, None) != fingerprint(q2, None)


def test_helper_default_in_closure_taints():
    """The advice's probe: a default on a package HELPER reached
    transitively must contribute a value token."""
    from aws_lakehouse_spark.plans import REGISTRY

    _, consts = closure_items(REGISTRY["dedup_minhash_signature"].fn)
    assert any(".default[" in t for t in consts)


def test_module_walk_hashes_upper_constants():
    """r10 advice: `mod.CONST` access reads a module attribute the
    name walk can't resolve — walking a referenced package module
    must emit value tokens for its UPPER_CASE non-callable globals
    (and never path-dependent dunders like __file__)."""

    def q(spark, sf):
        return layout.widen_if_narrow(spark)

    _, consts = closure_items(q)
    mod_tokens = [t for t in consts if t.startswith("aws_lakehouse_spark.layout.")]
    assert any("_BYTE_SUFFIXES" in t for t in mod_tokens)
    assert not any("__file__" in t for t in consts)
    assert not any("__doc__" in t for t in consts)


def test_function_scoped_import_module_as_alias():
    """r10 advice (low): function-scoped `import pkg.mod as alias`
    compiles to IMPORT_NAME pkg.mod + IMPORT_FROM mod; the submodule
    is often not yet an attribute of the parent, so the walker must
    fall back to importing it."""

    # exec in an EMPTY namespace: this test-module's own top-level
    # `import aws_lakehouse_spark.layout as layout` would otherwise
    # let the __globals__ name walk mask a broken bytecode path
    ns: dict = {}
    exec(
        "def q(spark, sf):\n"
        "    import aws_lakehouse_spark.layout as lay\n"
        "    return lay.widen_if_narrow(spark)\n",
        ns,
    )
    codes, _ = closure_items(ns["q"])
    names = {c.split(b"\x1f", 1)[0].decode() for c in codes}
    assert "widen_if_narrow" in names


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_STREAM_FACE = (
    "readStream face of a registry batch query; tests/test_streaming.py "
    "and tests/test_cep.py hold the two equal"
)

# Package functions no entry point calls, each with the reason it
# stays (its module docstring repeats it). What a kept function calls
# (``stream_stream_attribution_outer`` runs ``stream_stream_attribution``)
# is reached through it and not listed.
KEEP = {
    "aws_lakehouse_spark.operators.joins.asof_join_pandas": (
        "cogroup reference tests/test_properties.py compares asof_join "
        "against"
    ),
    "aws_lakehouse_spark.llm.pca.principal_components": (
        "generator of the frozen basis in llm/pca_fixture.py"
    ),
    "aws_lakehouse_spark.llm.bpe.bpe_train": (
        "training half whose merge table text_bpe_encode ships"
    ),
    "aws_lakehouse_spark.streaming.windows.streaming_tumbling_counts": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.windows.streaming_dedup": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.windows.stream_enrich_static": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.windows.stream_stream_attribution_outer": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.stateful.running_totals_per_key": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.stateful.sessionize_per_key": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.stateful.detect_pattern_per_key": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.stateful.running_profile_per_key": _STREAM_FACE,
    "aws_lakehouse_spark.streaming.protoshim.enable_protobuf_shim": (
        "makes google.protobuf importable for the "
        "transformWithStateInPandas streaming faces"
    ),
}


def _modules() -> list:
    import aws_lakehouse_spark

    return [aws_lakehouse_spark] + [
        importlib.import_module(info.name)
        for info in pkgutil.walk_packages(aws_lakehouse_spark.__path__, PKG + ".")
    ]


def _package_functions(modules) -> dict:
    """Qualified name -> code of every function and method defined in
    a package file. Dataclass-generated methods are compiled from a
    string, not a package file, so they are not listed."""
    pkg_dir = os.path.dirname(modules[0].__file__)
    out = {}
    for mod in modules:
        for v in vars(mod).values():
            if getattr(v, "__module__", None) != mod.__name__:
                continue
            for fn in _class_functions(v) if isinstance(v, type) else [v]:
                code = getattr(inspect.unwrap(fn), "__code__", None)
                if code is not None and code.co_filename.startswith(pkg_dir):
                    out[f"{mod.__name__}.{fn.__qualname__}"] = code
    return out


def _import_time_names(modules):
    """What each module's body loads while it is imported: decorators
    and their arguments (an ``oracle=`` string built by a helper) and
    module-level calls. Read off the body's own bytecode, so names
    used only inside a function body do not count."""
    for mod in modules:
        with open(mod.__file__) as fh:
            body = compile(fh.read(), mod.__file__, "exec")
        g = vars(mod)
        for ins in dis.get_instructions(body):
            if ins.opname == "LOAD_NAME" and ins.argval in g:
                yield g[ins.argval]


def _tool_imports():
    """Every package object bench.py, lakebench/ and tools/ import. A
    module import contributes only the attributes the file reads off
    its name (``pipeline.run_pipeline``); a bare ``import pkg.mod``
    without ``as`` is not read."""
    paths = [os.path.join(REPO, "bench.py")]
    for d in ("lakebench", "tools"):
        paths += sorted(glob.glob(os.path.join(REPO, d, "*.py")))
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        read = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                read.setdefault(node.value.id, set()).add(node.attr)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
                mod = importlib.import_module(node.module)
                bound = [
                    (a.asname or a.name, getattr(mod, a.name)
                     if hasattr(mod, a.name)
                     else importlib.import_module(f"{node.module}.{a.name}"))
                    for a in node.names
                ]
            elif isinstance(node, ast.Import):
                bound = [
                    (a.asname, importlib.import_module(a.name))
                    for a in node.names
                    if a.name.startswith(PKG) and a.asname
                ]
            else:
                continue
            for alias, obj in bound:
                if isinstance(obj, types.ModuleType):
                    yield from (
                        getattr(obj, a) for a in read.get(alias, ()) if hasattr(obj, a)
                    )
                else:
                    yield obj


def _reached(roots) -> set:
    codes: set = set()
    for obj in {id(r): r for r in roots}.values():
        for fn in _class_functions(obj) if isinstance(obj, type) else [obj]:
            codes |= reached_codes(fn)
    return codes


def test_every_package_function_is_reached_from_an_entry_point():
    """Roots: the registry builders, the driver contract, the pipeline
    entry points, what the benchmark and tools import, and what each
    module runs while it is imported. A function none of them reaches
    is deleted, or kept in ``KEEP`` with its reason. The walk cannot
    see dynamic calls (``getattr`` on a computed name), so grep a name
    before deleting it."""
    import __spark_entry__
    from aws_lakehouse_spark.plans import REGISTRY
    from aws_lakehouse_spark.sources import pipeline

    modules = _modules()
    reached = _reached([
        *(spec.fn for spec in REGISTRY.values()),
        __spark_entry__.entry,
        __spark_entry__.queries,
        __spark_entry__.oracle_sql,
        pipeline.run_pipeline,
        pipeline.run_scheduled,
        pipeline.run_backfill,
        *_tool_imports(),
        *_import_time_names(modules),
    ])
    functions = _package_functions(modules)
    unreached = {n for n, code in functions.items() if code not in reached}
    kept = _reached(
        getattr(importlib.import_module(mod), attr)
        for mod, _, attr in (n.rpartition(".") for n in KEEP)
    )
    assert sorted(n for n in unreached if functions[n] not in kept) == []
    # a name an entry point reaches needs no reason to stay
    assert sorted(set(KEEP) - unreached) == []
