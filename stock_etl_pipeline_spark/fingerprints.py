"""Per-query code fingerprints for round-over-round bench comparison.

Two complementary fingerprints (consumed by scripts/round_compare.py to
auto-derive the UNTOUCHED query set for the median ruler — BASELINE.md):

- ``plan_fingerprint(df)`` — md5 of the ANALYZED logical plan with
  session-varying tokens stripped (exprIds, plan ids, object addresses).
  Stable across sessions on identical code+data; moves when the PLAN
  changes. Blind spot: a Python-kernel BODY edit inside an identically
  shaped mapInPandas node does not move the plan (VERDICT r9 item 3).

  Analyzed, NOT optimized (fp_version 2, found in round 10): the
  optimizer embeds SESSION-HISTORY-dependent tokens token-stripping
  cannot fix — the common-subexpression-elimination counter is
  session-global (``_common_expr_N`` numbering depends on what planned
  earlier), and RewriteDistinctAggregates orders its Expand arms / gid
  assignment by exprId allocation history (measured: quality_suite
  hashed THREE ways across three session states on byte-identical
  code; the round-10 close-out snapshot disagreed with a fresh bench
  for 2 of 32 queries). The analyzed plan is pure query construction —
  verified byte-stable fresh-vs-post-sweep and across processes for
  all 32 bench queries. Optimizer-level changes arrive via Spark
  version (fixed) or session confs; conf coverage comes from the
  kernel hash folding session.py into every closure.

- ``kernel_fingerprint(fn)`` — fp_version 3: md5 over the PER-FUNCTION
  source closure of ``fn`` — the source segments of every in-package
  function/class actually reachable from it (through global references,
  module-attribute calls, dispatch containers, closure cells) plus the
  assignment source of every module-level constant it reads. Moves when
  any function the query can CALL is edited; stays put when an unrelated
  function in the same module changes. fp_version 2 hashed the whole
  module-source closure instead (``module_closure``) — and since
  ``operators/dedup.py`` gets edited nearly every round, the module
  scheme marked the entire doc family touched every round, permanently
  halving the untouched-median ruler basis (VERDICT r10 item 3).

  The v3 resolver stays deliberately FAIL-SAFE: anything it cannot
  resolve precisely (dynamic getattr, unresolvable names, unparseable
  sources, module objects flowing as values) degrades to the WHOLE
  defining module's source hash for that entity — over-approximation
  marks extra queries touched (shrinks the ruler basis, safe); a missed
  touch would silently bias the ruler (unsafe).

Together: a query is UNTOUCHED for the ruler only when BOTH hashes are
stable, which closes the kernel-body blind spot without losing
per-function granularity.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import re
import sys
from collections.abc import Callable

_PKG = __name__.rsplit(".", 1)[0]  # "stock_etl_pipeline_spark"

# Bump when the HASHING SCHEME changes (not when code changes): hashes from
# different versions are incomparable, and round_compare must not derive a
# touched set across a version boundary. On a bump, re-emit the previous
# scheme for ONE round as a "compat" block in the PLANHASH.json sidecar
# (kernel hashes only — compat PLAN hashes are not comparable across
# bench-set membership changes, ADVICE r11) so the first post-bump round
# keeps its touched derivation; round_compare consumes it. The v2 compat
# emission was removed in round 12 after the r10→r11 pair ran (committed
# historical sidecars keep their compat maps as data).
# 2 = analyzed-plan hashing + module-source-closure kernels (round 10).
# 3 = per-function source closures (round 11; plan hashing unchanged).
FP_VERSION = 3

# module source hashes memoized per process (files do not change mid-run)
_SRC_HASH: dict[str, str] = {}


def _module_src_hash(mod) -> str | None:
    name = mod.__name__
    if name not in _SRC_HASH:
        f = getattr(mod, "__file__", None)
        if not f or not f.endswith(".py"):
            return None
        with open(f, "rb") as fh:
            _SRC_HASH[name] = hashlib.md5(fh.read()).hexdigest()
    return _SRC_HASH[name]


def module_closure(mod, pkg_prefix: str = _PKG) -> dict[str, str]:
    """``{module_name: src_md5}`` for every in-package module reachable from
    ``mod`` via module-level globals (modules, functions, classes).

    A PACKAGE module's attributes include every submodule ever imported —
    the import machinery binds ``pkg.child`` onto ``pkg`` — which are
    import-order artifacts, not code references: following them makes
    every closure swallow the whole package (measured: all 32 bench
    kernel hashes collapsed to ONE value, so any edit anywhere would mark
    every query touched and empty the untouched-median ruler basis). So a
    module's OWN-subtree module attributes are skipped; genuine
    references survive because ``from .sibling import fn`` binds the
    function (whose ``getmodule`` IS the sibling) and cross-package
    ``from ..operators import dedup`` binds a module that is not in the
    referencing module's own subtree.
    """
    out: dict[str, str] = {}
    stack = [mod]
    while stack:
        m = stack.pop()
        name = getattr(m, "__name__", "")
        if name in out or not name.startswith(pkg_prefix):
            continue
        h = _module_src_hash(m)
        if h is None:
            continue
        out[name] = h
        for v in vars(m).values():
            mm = v if inspect.ismodule(v) else inspect.getmodule(v)
            mm_name = getattr(mm, "__name__", "")
            if (
                mm is not None
                and mm_name.startswith(pkg_prefix)
                and not mm_name.startswith(name + ".")
            ):
                stack.append(mm)
        stack.extend(_static_imports(m, pkg_prefix))
    return out


def _static_imports(mod, pkg_prefix: str):
    """In-package modules named by IMPORT STATEMENTS anywhere in ``mod``'s
    source — including function bodies, which the globals walk cannot see
    (e.g. a query fn's ``from ..quality import quality_metrics_agg``).
    Package ``__init__`` bodies are deliberately NOT scanned: their
    function-body imports are registration fan-outs (``load_all`` imports
    every workload module), and following those re-collapses every
    closure onto the whole package; their module-level imports are
    already covered by the globals walk."""
    if getattr(mod, "__path__", None) is not None:  # package __init__
        return []
    f = getattr(mod, "__file__", None)
    if not f or not f.endswith(".py"):
        return []
    try:
        with open(f) as fh:
            tree = ast.parse(fh.read())
    except (OSError, SyntaxError):
        return []
    names: set[str] = set()
    parts = mod.__name__.split(".")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(pkg_prefix):
                    names.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = ".".join(parts[: len(parts) - node.level])
                base = anchor + ("." + node.module if node.module else "")
            else:
                base = node.module or ""
            if base.startswith(pkg_prefix):
                names.add(base)
                # an imported NAME may itself be a module (from ..operators
                # import similarity); non-module names fail the import
                # below and drop out
                for a in node.names:
                    names.add(base + "." + a.name)
    mods = []
    for n in sorted(names):
        m = sys.modules.get(n)
        if m is None:
            try:
                m = importlib.import_module(n)
            except Exception:
                continue
        mods.append(m)
    return mods


# --- fp_version 3: per-function source closures ------------------------------
#
# Entity keys in a closure:
#   fn:<module>.<qualname>    — md5 of the function's source segment
#   cls:<module>.<qualname>   — md5 of the class's source segment
#   const:<module>.<name>     — md5 of the module-level assignment source
#   mod:<module>              — whole-module source md5 (fail-safe degrade)
#
# Per-function hashes are LOCATION-independent (source segment bytes, not
# line numbers): inserting an unrelated function above an existing one in
# the same module does not flip any query that uses only the existing one.

# module -> {name: assignment-source md5} for top-level assignments
_MOD_ASSIGN: dict[str, dict[str, str]] = {}
# module -> {local_name: origin_module_name} from top-level `from X import n`
_MOD_IMPORT_ORIGIN: dict[str, dict[str, str]] = {}


def clear_fingerprint_caches() -> None:
    """Drop every file-content-derived memo (module source hashes and
    per-module assignment/import tables) — tests that rewrite package
    files on disk call this between edits. Function source segments are
    re-read on every walk (inspect.findsource checkcaches linecache), so
    they need no explicit invalidation."""
    _SRC_HASH.clear()
    _MOD_ASSIGN.clear()
    _MOD_IMPORT_ORIGIN.clear()


def _entity_src_hash(obj) -> str | None:
    """md5 of a function/class source segment (dedented), None if the
    source cannot be recovered (dynamically built code)."""
    try:
        src = inspect.getsource(obj)
    except (OSError, TypeError):
        return None
    import textwrap

    return hashlib.md5(textwrap.dedent(src).encode()).hexdigest()


def _module_tables(mod) -> tuple[dict[str, str], dict[str, str]]:
    """(assignment-source hashes, import origins) for a module, memoized.
    Assignment hashes cover top-level Assign/AnnAssign targets — editing a
    module constant's DEFINITION flips them, runtime mutation does not
    (hashing live reprs of mutable caches would be nondeterministic)."""
    name = getattr(mod, "__name__", "")
    if name in _MOD_ASSIGN:
        return _MOD_ASSIGN[name], _MOD_IMPORT_ORIGIN[name]
    assigns: dict[str, str] = {}
    origins: dict[str, str] = {}
    f = getattr(mod, "__file__", None)
    if f and f.endswith(".py"):
        try:
            with open(f) as fh:
                src = fh.read()
            tree = ast.parse(src)
        except (OSError, SyntaxError):
            tree = None
        if tree is not None:
            parts = name.split(".")
            for node in tree.body:
                if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                    seg = ast.get_source_segment(src, node) or ""
                    h = hashlib.md5(seg.encode()).hexdigest()
                    targets = (
                        node.targets
                        if isinstance(node, ast.Assign)
                        else [node.target]
                    )
                    for t in targets:
                        if isinstance(t, ast.Name):
                            # AugAssign folds into any prior hash so both
                            # definitions feed the constant's identity
                            prev = assigns.get(t.id, "")
                            assigns[t.id] = hashlib.md5(
                                (prev + h).encode()
                            ).hexdigest()
                elif isinstance(node, ast.ImportFrom):
                    if node.level:
                        anchor = ".".join(parts[: len(parts) - node.level])
                        base = anchor + (
                            "." + node.module if node.module else ""
                        )
                    else:
                        base = node.module or ""
                    for a in node.names:
                        origins[a.asname or a.name] = base
    _MOD_ASSIGN[name] = assigns
    _MOD_IMPORT_ORIGIN[name] = origins
    return assigns, origins


def _code_global_names(code) -> set[str]:
    """Names a code object (and every nested code object) loads/stores as
    GLOBALS — scope-exact, unlike co_names (which mixes in attribute
    names)."""
    import dis

    out: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        for ins in dis.get_instructions(c):
            if ins.opname in (
                "LOAD_GLOBAL",
                "STORE_GLOBAL",
                "DELETE_GLOBAL",
                "LOAD_NAME",
            ):
                out.add(ins.argval)
        for const in c.co_consts:
            if inspect.iscode(const):
                stack.append(const)
    return out


def _fn_ast_refs(
    fn,
) -> (
    tuple[set[str], dict[str, set[str]], set[str], list[tuple[str, list[str]]]]
    | None
):
    """(decorator/default-scope names, attribute pairs base->attrs, bases
    that also occur BARE, body-import targets) from the function's source
    AST. Body imports are (absolute_module, [names]) — ``from ..quality
    import quality_metrics_agg`` inside a query fn binds a LOCAL, invisible
    to the LOAD_GLOBAL walk, so they must be resolved explicitly (the v2
    scheme's _static_imports lesson). None when the source cannot be
    parsed (caller degrades to module hash)."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return None
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return None
    pairs: dict[str, set[str]] = {}
    attr_base_ids: set[int] = set()
    bare: set[str] = set()
    outer_names: set[str] = set()
    # decorators / defaults / annotations of the top-level def evaluate in
    # the ENCLOSING scope at def time — not in the function's bytecode
    top = tree.body[0] if tree.body else None
    if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
        outer_nodes: list[ast.AST] = list(top.decorator_list)
        a = top.args
        outer_nodes += [d for d in a.defaults if d is not None]
        outer_nodes += [d for d in a.kw_defaults if d is not None]
        for n in outer_nodes:
            for sub in ast.walk(n):
                if isinstance(sub, ast.Name):
                    outer_names.add(sub.id)
    # body imports resolve against the DEFINING module's package position
    mod = inspect.getmodule(fn)
    mod_name = getattr(mod, "__name__", "")
    parts = mod_name.split(".")
    if getattr(mod, "__path__", None) is None:
        parts = parts[:-1]  # plain module: relative level 1 = its package
    imports: list[tuple[str, list[str]]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            pairs.setdefault(node.value.id, set()).add(node.attr)
            attr_base_ids.add(id(node.value))
        elif isinstance(node, ast.Import):
            for a in node.names:
                imports.append((a.name, []))
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = ".".join(parts[: len(parts) - (node.level - 1)])
                base = anchor + ("." + node.module if node.module else "")
            else:
                base = node.module or ""
            imports.append((base, [a.name for a in node.names]))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and id(node) not in attr_base_ids:
            bare.add(node.id)
    return outer_names, pairs, bare, imports


def _is_safe_const(v) -> bool:
    if v is None or isinstance(v, (str, bytes, int, float, bool, complex)):
        return True
    if isinstance(v, (tuple, frozenset)):
        return all(_is_safe_const(x) for x in v)
    return False


def _container_callables(v, depth: int = 0):
    """In-package functions/classes reachable SHALLOWLY inside a constant
    container (dispatch dicts like {'arrow': fn_a}); bounded depth."""
    if depth > 2:
        return
    if isinstance(v, dict):
        for x in v.values():
            yield from _container_callables(x, depth + 1)
    elif isinstance(v, (list, tuple, set, frozenset)):
        for x in v:
            yield from _container_callables(x, depth + 1)
    elif inspect.isfunction(v) or inspect.isclass(v):
        yield v


def function_closure(fn: Callable, pkg_prefix: str = _PKG) -> dict[str, str]:
    """``{entity_key: hash}`` for everything in-package reachable from
    ``fn``: the function itself, every in-package function/class it can
    call (global refs, module-attribute refs, dispatch containers, closure
    cells, decorator/default expressions), and the assignment sources of
    module-level constants it reads. Degrades to ``mod:<name>`` whole-module
    entries whenever resolution is imprecise."""
    out: dict[str, str] = {}
    seen: set[int] = set()
    work: list = [fn]

    def add_module(mod) -> None:
        name = getattr(mod, "__name__", "")
        if not name.startswith(pkg_prefix):
            return
        h = _module_src_hash(mod)
        if h is not None:
            out.setdefault("mod:" + name, h)

    def add_value(v, owner_mod) -> None:
        """Route a resolved value: callable/class → walk; module → whole
        hash; plain value → handled by caller (constants need the NAME)."""
        if inspect.isfunction(v) or inspect.ismethod(v):
            work.append(inspect.unwrap(v))
        elif inspect.isclass(v):
            m = inspect.getmodule(v)
            if m is not None and getattr(m, "__name__", "").startswith(
                pkg_prefix
            ):
                key = f"cls:{m.__name__}.{v.__qualname__}"
                if key not in out:
                    h = _entity_src_hash(v)
                    if h is None:
                        add_module(m)
                    else:
                        out[key] = h
                        for mv in vars(v).values():
                            if inspect.isfunction(mv):
                                work.append(mv)
                            elif isinstance(mv, (staticmethod, classmethod)):
                                work.append(mv.__func__)
                            elif isinstance(mv, property) and mv.fget:
                                work.append(mv.fget)
                        # inherited behavior: in-package BASE classes are
                        # part of the closure (editing Base.run changes a
                        # Derived().run() caller whose own source is
                        # untouched — a missed touch, the unsafe direction)
                        for base in v.__mro__[1:]:
                            if base is object:
                                continue
                            bm = inspect.getmodule(base)
                            if bm is not None and getattr(
                                bm, "__name__", ""
                            ).startswith(pkg_prefix):
                                add_value(base, bm)
        elif inspect.ismodule(v):
            add_module(v)
        else:
            for c in _container_callables(v):
                add_value(c, owner_mod)

    def add_const(name: str, v, mod) -> None:
        """A plain-valued global: hash its top-level assignment source in
        its defining module (one import hop followed); degrade to repr for
        safe immutables, then to the whole module."""
        for _hop in range(3):
            assigns, origins = _module_tables(mod)
            if name in assigns:
                out.setdefault(
                    f"const:{mod.__name__}.{name}", assigns[name]
                )
                add_value(v, mod)  # dispatch containers inside the constant
                return
            origin = origins.get(name)
            nxt = sys.modules.get(origin) if origin else None
            if nxt is None or not getattr(nxt, "__name__", "").startswith(
                pkg_prefix
            ):
                break
            mod = nxt
        if _is_safe_const(v):
            out.setdefault(
                f"const:{mod.__name__}.{name}",
                hashlib.md5(repr(v).encode()).hexdigest(),
            )
        else:
            add_module(mod)

    while work:
        f = work.pop()
        f = inspect.unwrap(f)
        if not inspect.isfunction(f):
            continue
        if id(f) in seen:
            continue
        seen.add(id(f))
        mod = inspect.getmodule(f)
        mod_name = getattr(mod, "__name__", "")
        if mod is None or not mod_name.startswith(pkg_prefix):
            continue
        if not f.__code__.co_filename.endswith(".py"):
            # exec-generated (dataclass __init__/__eq__/...): behavior is a
            # pure function of the class SOURCE, already hashed as cls:<...>
            continue
        key = f"fn:{mod_name}.{f.__qualname__}"
        h = _entity_src_hash(f)
        refs = _fn_ast_refs(f)
        if h is None or refs is None:
            add_module(mod)  # cannot parse → whole module, stop here
            continue
        out[key] = h
        outer_names, pairs, bare, body_imports = refs
        for base, names in body_imports:
            if not base.startswith(pkg_prefix):
                continue
            try:
                im = sys.modules.get(base) or importlib.import_module(base)
            except Exception:
                add_module(mod)  # unresolvable body import → degrade
                continue
            if not names:
                add_module(im)  # plain `import pkg.mod` → whole module
                continue
            for n in names:
                if n == "*":
                    add_module(im)
                    continue
                try:
                    av = getattr(im, n)
                except AttributeError:
                    add_module(im)
                    continue
                if (
                    inspect.isfunction(av)
                    or inspect.isclass(av)
                    or inspect.ismodule(av)
                ):
                    add_value(av, im)
                else:
                    add_const(n, av, im)
        gnames = _code_global_names(f.__code__) | outer_names
        # closure cells (decorator-captured state, nested defs)
        if f.__closure__:
            for cell in f.__closure__:
                try:
                    cv = cell.cell_contents
                except ValueError:
                    continue
                add_value(cv, mod)
        g = f.__globals__
        import builtins

        for name in sorted(gnames):
            if name.startswith("__"):
                continue
            if name not in g:
                if not hasattr(builtins, name):
                    add_module(mod)  # unresolvable non-builtin → degrade
                continue
            v = g[name]
            if inspect.ismodule(v):
                vname = getattr(v, "__name__", "")
                if not vname.startswith(pkg_prefix):
                    continue
                attrs = pairs.get(name, set())
                if name in bare or not attrs:
                    add_module(v)  # module flows as a value → whole hash
                    continue
                for attr in sorted(attrs):
                    try:
                        av = getattr(v, attr)
                    except AttributeError:
                        add_module(v)
                        continue
                    if (
                        inspect.isfunction(av)
                        or inspect.isclass(av)
                        or inspect.ismodule(av)
                    ):
                        add_value(av, v)
                    else:
                        add_const(attr, av, v)
            elif inspect.isfunction(v) or inspect.isclass(v):
                add_value(v, mod)
            else:
                # non-module, non-callable global: a constant — hash its
                # assignment source (or degrade inside add_const)
                add_const(name, v, mod)
    return out


def kernel_fingerprint(fn: Callable, pkg_prefix: str = _PKG) -> str | None:
    """fp_version-3 kernel hash: md5 over the sorted per-function source
    closure of ``fn`` (see :func:`function_closure`), with ``session.py``
    folded into every real-package closure exactly as in v2 — confs shape
    every query's runtime and the analyzed-plan hash cannot see them."""
    closure = dict(function_closure(fn, pkg_prefix))
    if not closure:
        return None
    if pkg_prefix == _PKG:
        sess = sys.modules.get(f"{_PKG}.session") or importlib.import_module(
            f"{_PKG}.session"
        )
        h = _module_src_hash(sess)
        if h is not None:
            closure["mod:" + sess.__name__] = h
    acc = hashlib.md5()
    for name in sorted(closure):
        acc.update(name.encode())
        acc.update(closure[name].encode())
    return acc.hexdigest()[:12]


def _analyzed_plan_string(df) -> str:
    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+L?", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"0x[0-9a-f]+", "0x", s)
    s = re.sub(r"at [^>]*>", ">", s)
    return s


def plan_fingerprint(df) -> str:
    """md5 of the analyzed logical plan, session-varying tokens stripped
    (see module docstring for why analyzed, not optimized).

    fp_version 3 also strips LAMBDA VARIABLE ordinals (found round 11):
    higher-order functions name their variables from a SESSION-GLOBAL
    counter — ``transform(..., lambda x_3#)`` in one session is
    ``lambda x_7#`` in another depending on how many lambda-bearing plans
    were constructed earlier — so doc_text_stats hashed differently in
    bench.py (which times 2 reps of every query before fingerprinting)
    vs a fingerprint-only sweep on byte-identical code. The ``lambda ``
    prefix scopes the strip: genuine column names like ``minh_0`` never
    carry it, so their ordinals survive.

    Round 14 (VERDICT r13 item 1) also masks PARTITION-WIDTH literals:
    ``Repartition <n>`` / ``RepartitionByExpression [...], <n>`` nodes
    carry numPartitions, and the dedup spread derives that number from
    ``defaultParallelism`` — an ENVIRONMENT value, not code. The driver
    benches the same code at 32 and 8 cores, and the 8-core run flipped
    five dedup-family plan hashes (PLANHASH d9eaf54 vs 001187f on
    byte-identical code), misfiring round_compare's touched-set
    detection. Width edits that ARE code changes still move the kernel
    hash (the source closure sees the literal)."""
    s = _analyzed_plan_string(df)
    s = re.sub(r"lambda (\w+?)_\d+#", r"lambda \1#", s)
    s = re.sub(r"\b(Repartition) \d+", r"\1 N", s)
    # anchored on the line's trailing "], <n>": a key expression may hold
    # "]" itself (an array index such as a#[0])
    s = re.sub(
        r"\b(RepartitionByExpression \[.*\]), \d+$", r"\1, N", s, flags=re.M
    )
    return hashlib.md5(s.encode()).hexdigest()[:12]
