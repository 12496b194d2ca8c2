#!/usr/bin/env python
"""Transitive code-object fingerprints for every registry query.

The driver-grade taint rule needs to answer ONE question per query:
"did anything this query actually EXECUTES change since its last
green grade?" File-level import-closure taint (the r7–r9 rule)
over-approximates so badly it cannot converge — one edit to
``operators/joins.py`` re-taints essentially the whole registry, so
the 50-slot window drains 50 grades while the next edit re-taints 328
(r9 verdict item 2: the backlog sat at 278/328 two rounds running).

This tool computes, for each ``QuerySpec``, a sha256 over the
TRANSITIVE CODE CLOSURE of its builder callable plus its oracle SQL:

- the builder's ``__code__`` (bytecode, names, const values) and every
  nested code object (lambdas, comprehensions, inner ``def``s);
- every package-internal function / class reachable through the
  code's global name references (``co_names`` resolved against
  ``__globals__``), closures, and default-argument values — classes
  contribute all their methods, and a reference to a package MODULE
  conservatively contributes every function/class in it plus its
  UPPER_CASE non-callable globals (the ``mod.CONST`` access pattern
  the name walk can't see);
- module-level non-callable globals the code references by name
  (regex patterns, band widths, lookup dicts) as stable value tokens;
- non-callable default-argument values of every package function in
  the closure (``k=3``-style knobs are semantics too — r10 advice:
  the old walker hashed only callable defaults, so a default change
  silently escaped the taint).

Everything hashed is PATH- and LINE-NUMBER-INDEPENDENT (3.11 bytecode
carries no line table in ``co_code``; filenames are never hashed), so
the same source at two different checkouts fingerprints identically —
that is what lets ``rotate_window.py --changed`` compare the head
fingerprint against the fingerprint AT THE LAST-GRADE COMMIT computed
in a throwaway worktree, with no state file to maintain.

Direction of error: a fingerprint CHANGE on untouched semantics
(docstring edit, local-variable rename) wastes one re-verify slot —
safe. A MISS (semantic change with an unchanged fingerprint) is only
possible through dynamic dispatch the walker cannot see (getattr on a
computed name, data-driven imports); the per-round 328/328 parity
artifacts are the standing backstop for exactly that class.

CLI (run with sys.path[0] pointed at any checkout of the package):

    python tools/code_fingerprint.py              # current repo
    python tools/code_fingerprint.py --tree PATH  # that checkout

Prints one JSON object {query_name: fingerprint_hex}.
"""

from __future__ import annotations

import dis
import hashlib
import importlib
import inspect
import json
import os
import sys
import types

PKG = "aws_lakehouse_spark"


def _is_pkg_obj(obj) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    return mod == PKG or mod.startswith(PKG + ".")


def _value_token(v, depth: int = 0) -> str:
    """Stable, address-free token for a module-level constant."""
    if depth > 4:
        return "<deep>"
    if v is None or isinstance(v, (bool, int, float, complex, str, bytes)):
        return repr(v)
    # compiled regex: the pattern IS the semantics
    pat = getattr(v, "pattern", None)
    if pat is not None and type(v).__module__ == "re":
        return f"re({pat!r},{getattr(v, 'flags', 0)})"
    if isinstance(v, (tuple, list)):
        inner = ",".join(_value_token(x, depth + 1) for x in v)
        return f"{type(v).__name__}({inner})"
    if isinstance(v, (set, frozenset)):
        inner = ",".join(sorted(_value_token(x, depth + 1) for x in v))
        return f"{type(v).__name__}({inner})"
    if isinstance(v, dict):
        inner = ",".join(
            f"{_value_token(k, depth + 1)}:{_value_token(x, depth + 1)}"
            for k, x in sorted(v.items(), key=lambda kv: repr(kv[0]))
        )
        return f"dict({inner})"
    # anything else: type identity only — NEVER default repr (addresses)
    t = type(v)
    return f"<{t.__module__}.{t.__qualname__}>"


def _iter_nested_codes(code: types.CodeType):
    stack = [code]
    while stack:
        c = stack.pop()
        yield c
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)


def _code_bytes(code: types.CodeType) -> bytes:
    """Hash-stable serialization of ONE code object (no filename, no
    line numbers; nested code objects contribute a placeholder — they
    are serialized separately by the closure walk)."""
    consts = ",".join(
        "<code>" if isinstance(c, types.CodeType) else _value_token(c)
        for c in code.co_consts
    )
    parts = (
        code.co_name,
        code.co_code.hex(),
        consts,
        ",".join(code.co_names),
        ",".join(code.co_varnames),
        ",".join(code.co_freevars),
        ",".join(code.co_cellvars),
        str(code.co_flags),
        str(code.co_argcount),
        str(code.co_kwonlyargcount),
    )
    return "\x1f".join(parts).encode("utf-8", "surrogatepass")


def _import_targets(code: types.CodeType):
    """(module_name, attr_or_None) pairs for every import statement in
    ``code``. Function-scoped ``from pkg.mod import fn`` binds LOCALS —
    invisible to a ``__globals__`` walk — so imports are read straight
    off the bytecode: IMPORT_NAME carries the dotted module, each
    following IMPORT_FROM one imported attribute. The package uses
    absolute imports only (no level handling needed)."""
    module = None
    had_from = False
    for ins in dis.get_instructions(code):
        if ins.opname == "IMPORT_NAME":
            if module is not None and not had_from:
                yield module, None
            module = ins.argval
            had_from = False
        elif ins.opname == "IMPORT_FROM" and module is not None:
            had_from = True
            yield module, ins.argval
    if module is not None and not had_from:
        yield module, None


def _class_functions(cls):
    for v in vars(cls).values():
        if isinstance(v, (staticmethod, classmethod)):
            v = v.__func__
        if isinstance(v, property):
            for f in (v.fget, v.fset, v.fdel):
                if f is not None:
                    yield f
        elif callable(v) or isinstance(v, types.FunctionType):
            yield v


def closure_items(root_fn) -> tuple[list[bytes], list[str]]:
    """(code-object serializations, global-constant tokens) for the
    transitive package-internal closure of ``root_fn``."""
    codes, const_items = _walk(root_fn, whole_modules=True)
    return [_code_bytes(c) for c in codes], const_items


def reached_codes(root_fn) -> set[types.CodeType]:
    """Code objects ``root_fn`` can run: the same walk, except that a
    module reference adds only the attributes its referrer names."""
    return _walk(root_fn, whole_modules=False)[0]


def _walk(root_fn, whole_modules: bool):
    seen_fns: set[int] = set()
    seen_codes: set[types.CodeType] = set()
    seen_classes: set[int] = set()
    seen_modules: set[str] = set()
    const_items: list[str] = []
    fn_stack = [root_fn]

    def consider(v, via_module: bool = False, name: str | None = None):
        if isinstance(v, (staticmethod, classmethod)):
            v = v.__func__
        if isinstance(v, types.FunctionType):
            if _is_pkg_obj(v) and id(v) not in seen_fns:
                seen_fns.add(id(v))
                fn_stack.append(v)
        elif isinstance(v, type):
            if _is_pkg_obj(v) and id(v) not in seen_classes:
                seen_classes.add(id(v))
                for f in _class_functions(v):
                    consider(f)
        elif isinstance(v, types.ModuleType):
            mn = getattr(v, "__name__", "")
            if (
                (mn == PKG or mn.startswith(PKG + "."))
                and mn not in seen_modules
            ):
                seen_modules.add(mn)
                for attr_name, attr in list(vars(v).items()):
                    if whole_modules or attr_name in names:
                        consider(
                            attr, via_module=True, name=f"{mn}.{attr_name}"
                        )
        elif name is not None and not callable(v):
            # a non-callable global referenced BY NAME from hashed
            # code: its value is part of the semantics. Via a module
            # walk only UPPER_CASE constants are hashed (the
            # ``mod.CONST`` convention; lowercase module attrs are
            # loop temporaries / re-exports and dunders like
            # __file__ are path-dependent)
            if via_module and not name.rsplit(".", 1)[-1].isupper():
                return
            const_items.append(f"{name}={_value_token(v)}")

    while fn_stack:
        fn = fn_stack.pop()
        try:
            fn = inspect.unwrap(fn)
        except Exception:
            pass
        code = getattr(fn, "__code__", None)
        if code is None or code in seen_codes:
            continue
        g = getattr(fn, "__globals__", {})
        names = {n for c in _iter_nested_codes(code) for n in c.co_names}
        if not whole_modules:
            seen_modules.clear()
        for c in _iter_nested_codes(code):
            if c in seen_codes:
                continue
            seen_codes.add(c)
            for mod_name, attr in _import_targets(c):
                if not (
                    mod_name == PKG or mod_name.startswith(PKG + ".")
                ):
                    continue
                mod = sys.modules.get(mod_name)
                if mod is None:
                    try:
                        mod = importlib.import_module(mod_name)
                    except Exception:
                        continue
                if attr is None:
                    consider(mod)
                else:
                    target = getattr(mod, attr, None)
                    if target is None:
                        # two submodule shapes getattr can't resolve
                        # (r10 advice): `import pkg.mod as alias`
                        # compiles to IMPORT_NAME pkg.mod +
                        # IMPORT_FROM mod — the target IS pkg.mod
                        # itself; `from pkg import mod` where mod is
                        # a not-yet-imported SUBMODULE needs an
                        # explicit import of pkg.mod
                        if mod_name.rsplit(".", 1)[-1] == attr:
                            target = mod
                        else:
                            try:
                                target = importlib.import_module(
                                    f"{mod_name}.{attr}"
                                )
                            except Exception:
                                target = None
                    if target is not None:
                        consider(target, name=attr)
        for cell in getattr(fn, "__closure__", None) or ():
            try:
                consider(cell.cell_contents)
            except ValueError:
                pass
        for i, d in enumerate(fn.__defaults__ or ()):
            if callable(d):
                consider(d)
            else:
                # non-callable defaults (k=3-style knobs) are
                # semantics; keyed by position so a (3, 3) -> (3,)
                # arity change still reads as a change (r10 advice)
                const_items.append(
                    f"{fn.__qualname__}.default[{i}]={_value_token(d)}"
                )
        for k, d in (fn.__kwdefaults__ or {}).items():
            if callable(d):
                consider(d)
            else:
                const_items.append(
                    f"{fn.__qualname__}.default[{k}]={_value_token(d)}"
                )
        only_pkg_defined = _is_pkg_obj(fn)
        for name in sorted(names):
            if name not in g:
                continue
            v = g[name]
            # non-callable constants only matter when the REFERRING
            # code is package code (stdlib/pyspark globals are stable)
            if callable(v) or isinstance(v, (type, types.ModuleType)):
                consider(v, name=name)
            elif only_pkg_defined:
                consider(v, name=name)
    return seen_codes, const_items


def fingerprint(fn, oracle: str | None) -> str:
    code_items, const_items = closure_items(fn)
    h = hashlib.sha256()
    h.update((oracle or "").encode("utf-8", "surrogatepass"))
    h.update(b"\x00")
    for item in sorted(code_items):
        h.update(item)
        h.update(b"\x00")
    for item in sorted(set(const_items)):
        h.update(item.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return h.hexdigest()


def registry_fingerprints(tree: str | None = None) -> dict[str, str]:
    if tree is not None:
        tree = os.path.abspath(tree)
        sys.path = [
            p
            for p in sys.path
            if os.path.abspath(p or os.getcwd()) != tree
        ]
        sys.path.insert(0, tree)
        for m in [m for m in sys.modules if m.startswith(PKG)]:
            del sys.modules[m]
    from aws_lakehouse_spark.plans import REGISTRY

    return {
        name: fingerprint(spec.fn, spec.oracle)
        for name, spec in REGISTRY.items()
    }


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--tree", default=None)
    args = ap.parse_args()
    tree = args.tree or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    # scrub cwd-relative entries so the requested tree wins
    sys.path = [p for p in sys.path if p not in ("", os.getcwd())]
    print(json.dumps(registry_fingerprints(tree), indent=0))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
