"""Repo-wide static sanity: no module may reference an unresolvable
top-level name. Round 3's official bench artifact was a NameError
traceback from exactly this failure class (an undefined helper shipped
uncalled-in-tests); this sweeps every Python file in the repo in ~1 s.

Scope limits (kept deliberately simple): only module-level name
resolution is checked — attribute access, star-imports, and names
injected by decorators/metaclasses are out of scope, and any name
defined ANYWHERE in the file counts as defined (no flow analysis). That
still catches the real-world case: calling a helper that was never
written.
"""

from __future__ import annotations

import ast
import builtins
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _unresolved(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    defined = set(dir(builtins)) | {"__file__", "__name__", "__doc__", "__package__"}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                defined.add((a.asname or a.name).split(".")[0])
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defined.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign, ast.NamedExpr)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        defined.add(n.id)
        elif isinstance(node, (ast.For, ast.comprehension)):
            for n in ast.walk(node.target):
                if isinstance(n, ast.Name):
                    defined.add(n.id)
        elif isinstance(node, ast.arg):
            defined.add(node.arg)
        elif isinstance(node, ast.withitem) and node.optional_vars is not None:
            for n in ast.walk(node.optional_vars):
                if isinstance(n, ast.Name):
                    defined.add(n.id)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            defined.add(node.name)
        elif isinstance(node, ast.Global):
            defined.update(node.names)
    loaded = {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    return sorted(loaded - defined)


def test_no_duplicate_dict_literal_keys():
    """A duplicate key in a dict LITERAL silently keeps only the last
    value — r7 found exactly this in queries._FORCE_REGRADE, where an
    old r5 entry overwrote the newer r7 round number and would have
    skipped a pending re-grade. Python doesn't warn; this does."""
    paths = glob.glob(
        os.path.join(REPO, "chronobase_spark/**/*.py"), recursive=True
    ) + [os.path.join(REPO, "__spark_entry__.py")]
    bad: dict[str, list[str]] = {}
    for p in paths:
        for node in ast.walk(ast.parse(open(p).read())):
            if not isinstance(node, ast.Dict):
                continue
            seen: set[object] = set()
            for k in node.keys:
                if k is None or not isinstance(k, ast.Constant):
                    continue  # **spread / computed keys: out of scope
                if k.value in seen:
                    bad.setdefault(os.path.relpath(p, REPO), []).append(
                        f"line {k.lineno}: {k.value!r}"
                    )
                seen.add(k.value)
    assert not bad, f"duplicate dict-literal keys: {bad}"


def test_no_unresolved_names_anywhere():
    paths = (
        glob.glob(os.path.join(REPO, "chronobase_spark/**/*.py"), recursive=True)
        + glob.glob(os.path.join(REPO, "scripts/*.py"))
        + glob.glob(os.path.join(REPO, "tests/*.py"))
        + [os.path.join(REPO, "__spark_entry__.py")]
    )
    assert len(paths) > 20  # the glob actually found the repo
    bad = {os.path.relpath(p, REPO): m for p in paths if (m := _unresolved(p))}
    assert not bad, f"unresolved names: {bad}"


# --- broadcast-hint gate -------------------------------------------------

# Tables whose row count grows linearly with scale factor. Broadcasting
# one of these UNFILTERED overrides Spark's size-based autoBroadcast
# check: fine at sf0.1 (customer ~15k rows), fatal at 100 TB where the
# driver must materialize a multi-GB relation (the exact OOM the r1
# scaling probe recorded — SCALING.md). Rule established in commit
# 2e89033, retro-applied to the whole registry in r10; this gate keeps
# the class from recurring. nation/region (constant 25/5 rows) and
# aggregated/limited frames (.agg/.limit bound the output) are
# legitimately broadcastable and are NOT flagged. A `.filter`, `.join`
# or `.distinct` does NOT clear the flag (r10 tightening): a
# constant-fraction subset of a linear table is still linear —
# `customer ⋈ nation` is the full customer table, and an
# `isNotNull()` filter has selectivity ~1 — so those chains keep the
# SF-proportional class and the hint must come out.
_SF_PROPORTIONAL = {
    "customer",
    "part",
    "supplier",
    "orders",
    "lineitem",
    "partsupp",
    "events",
    "documents",
    "embeddings",
}

# Chained methods that do NOT bound the size of an SF-proportional
# frame: the result is at most one row per input row but still grows
# linearly with SF (filters/joins/distinct only scale by a constant
# factor). Only aggregation and limit actually bound the size.
_SIZE_PRESERVING = {
    "select",
    "alias",
    "hint",
    "drop",
    "withColumnRenamed",
    "selectExpr",
    "withColumn",
    "filter",
    "where",
    "distinct",
    "dropDuplicates",
    "join",
    "crossJoin",
    "repartition",
    "sortWithinPartitions",
    "cache",
    "persist",
}


def _broadcast_base_table(expr: ast.expr, env: dict[str, ast.expr], depth: int = 0):
    """If `expr` resolves to an UNFILTERED scan of an SF-proportional
    table (a `_t(spark, sf_dir, "<table>")` call chained only through
    size-preserving methods), return the table name; else None. Any
    filter/groupBy/agg/limit/join/distinct in the chain returns None —
    those either bound the size or at least record a deliberate
    selectivity decision."""
    if depth > 8:
        return None
    if isinstance(expr, ast.Call):
        f = expr.func
        if isinstance(f, ast.Name) and f.id == "_t" and len(expr.args) >= 3:
            tbl = expr.args[2]
            if isinstance(tbl, ast.Constant) and tbl.value in _SF_PROPORTIONAL:
                return tbl.value
            return None
        if isinstance(f, ast.Attribute):
            if f.attr in _SIZE_PRESERVING:
                got = _broadcast_base_table(f.value, env, depth + 1)
                if got is not None:
                    return got
                # a join is linear if EITHER side is (nation.join(
                # customer) is still the full customer table)
                if f.attr in ("join", "crossJoin") and expr.args:
                    return _broadcast_base_table(expr.args[0], env, depth + 1)
                return None
            return None
        return None
    if isinstance(expr, ast.Name):
        bound = env.get(expr.id)
        if bound is not None:
            return _broadcast_base_table(bound, env, depth + 1)
    return None


def test_no_broadcast_of_unfiltered_sf_proportional_tables():
    """r9 verdict item 1: six queries forced F.broadcast on full
    part/customer — invisible at sf0.1, OOM at 100×. The hints are
    deleted; this gate statically bans the whole class across the
    package (queries, operators, dedup, functions, entry)."""
    paths = glob.glob(
        os.path.join(REPO, "chronobase_spark/**/*.py"), recursive=True
    ) + [os.path.join(REPO, "__spark_entry__.py")]
    bad: list[str] = []
    for p in paths:
        tree = ast.parse(open(p).read())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            env: dict[str, ast.expr] = {}
            calls: list[ast.Call] = []
            for node in ast.walk(fn):
                if isinstance(node, ast.Assign) and len(node.targets) == 1:
                    t = node.targets[0]
                    if isinstance(t, ast.Name):
                        # straight-line query bodies: reassignment keeps
                        # the LAST binding, matching runtime order
                        env[t.id] = node.value
                if isinstance(node, ast.Call):
                    f = node.func
                    is_bcast = (isinstance(f, ast.Name) and f.id == "broadcast") or (
                        isinstance(f, ast.Attribute) and f.attr == "broadcast"
                    )
                    if is_bcast and node.args:
                        calls.append(node)
            for node in ast.walk(fn):
                # the string-hint spelling of the same scale-killer:
                # df.hint("broadcast") on an unfiltered base table
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "hint"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == "broadcast"
                ):
                    calls.append(
                        ast.copy_location(
                            ast.Call(
                                func=node.func,
                                args=[node.func.value],
                                keywords=[],
                            ),
                            node,
                        )
                    )
            for node in calls:
                tbl = _broadcast_base_table(node.args[0], env)
                if tbl is not None:
                    bad.append(
                        f"{os.path.relpath(p, REPO)}:{node.lineno} in "
                        f"{fn.name}: broadcast of unfiltered '{tbl}'"
                    )
    assert not bad, (
        "explicit broadcast of an unfiltered SF-proportional table "
        "(forces driver materialization at 100 TB; let size-based "
        "autoBroadcast decide — rule per commit 2e89033):\n"
        + "\n".join(bad)
    )


def test_apply_in_pandas_with_state_has_one_caller():
    """Every custom stateful streaming operator goes through the one
    per-key state fold (streaming/_fold.py), which owns the call, its
    imports and the whole-batch (ts, event_id) ordering contract. A
    second caller would fork that idiom again."""
    callers = []
    for p in glob.glob(os.path.join(REPO, "chronobase_spark/**/*.py"), recursive=True):
        for node in ast.walk(ast.parse(open(p).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "applyInPandasWithState"
            ):
                callers.append(f"{os.path.relpath(p, REPO)}:{node.lineno}")
    assert len(callers) == 1, callers
    assert callers[0].startswith("chronobase_spark/streaming/_fold.py:"), callers


def test_near_dup_idioms_live_in_bands():
    """The near-dup family's building blocks each have one definition,
    in dedup/_bands.py: the popcount Hamming (``F.bit_count``), the
    exact-Jaccard intersection size (``F.array_intersect``) and the
    never-broadcast band join (``.hint("shuffle_hash").alias("b")``).
    The batch finders, the batch admission reports and the streaming
    admit stages agree only because they share them. DuckDB oracle SQL
    strings are references and are not checked."""

    def const_arg(node: ast.Call, value: str) -> bool:
        return bool(node.args) and isinstance(node.args[0], ast.Constant) and (
            node.args[0].value == value
        )

    bad = []
    pkg = os.path.join(REPO, "chronobase_spark/**/*.py")
    for p in glob.glob(pkg, recursive=True):
        rel = os.path.relpath(p, REPO)
        if rel == "chronobase_spark/dedup/_bands.py":
            continue
        for node in ast.walk(ast.parse(open(p).read())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, inner = node.func.attr, node.func.value
            if attr in ("bit_count", "array_intersect") or (
                attr == "alias"
                and const_arg(node, "b")
                and isinstance(inner, ast.Call)
                and isinstance(inner.func, ast.Attribute)
                and inner.func.attr == "hint"
                and const_arg(inner, "shuffle_hash")
            ):
                bad.append(f"{rel}:{node.lineno} {attr}")
    assert not bad, bad


# --- knob gate -----------------------------------------------------------

#: The only functions whose defaulted parameters need no caller: the
#: ``ChronoSpark`` facade mirrors the reference's ``pkg/db`` API,
#: ``get_spark`` is the session factory, and Spark itself calls the
#: ``DataSource`` classes' methods. Deployment settings (paths,
#: directories, stored table names, checkpoint locations) all have
#: callers; a name pattern to exempt them would also exempt unrelated
#: knobs, so there is none.
_KNOB_CLASSES = ("ChronoSpark", "DataSource")
_KNOB_FUNCTIONS = {"get_spark"}


def test_every_defaulted_parameter_is_set_by_a_caller():
    """A defaulted parameter that no call sets is a constant with extra
    configurations nothing tests. Each one in the package must be set
    by at least one call in the package, scripts/, chronobench/, tests/
    or __spark_entry__.py: by keyword, by a positional argument at or
    after its index, or through a ``*``/``**`` splat. Calls are matched
    to definitions by name only, so a same-named function elsewhere
    can hide a hit but never invent one."""
    callers = (
        glob.glob(os.path.join(REPO, "chronobase_spark/**/*.py"), recursive=True)
        + glob.glob(os.path.join(REPO, "scripts/*.py"))
        + glob.glob(os.path.join(REPO, "chronobench/**/*.py"), recursive=True)
        + glob.glob(os.path.join(REPO, "tests/**/*.py"), recursive=True)
        + [os.path.join(REPO, "__spark_entry__.py")]
    )
    # name -> [(keywords, n positional, index of the first *splat, **splat)]
    calls: dict[str, list[tuple[set[str], int, int | None, bool]]] = {}
    for p in callers:
        for c in ast.walk(ast.parse(open(p).read())):
            if not isinstance(c, ast.Call):
                continue
            f = c.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            star = next((i for i, a in enumerate(c.args) if isinstance(a, ast.Starred)), None)
            calls.setdefault(name, []).append(
                (
                    {k.arg for k in c.keywords if k.arg},
                    len(c.args),
                    star,
                    any(k.arg is None for k in c.keywords),
                )
            )

    def is_set(fn: str, param: str, idx: int | None) -> bool:
        for kws, npos, star, splat in calls.get(fn, []):
            if param in kws or splat:
                return True
            if idx is not None and (npos > idx or (star is not None and star <= idx)):
                return True
        return False

    unset = []
    for p in glob.glob(os.path.join(REPO, "chronobase_spark/**/*.py"), recursive=True):
        rel = os.path.relpath(p, REPO)

        def visit(node: ast.AST, cls: ast.ClassDef | None) -> None:
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, ast.ClassDef):
                    visit(ch, ch)
                    continue
                if not isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(ch, cls)
                    continue
                visit(ch, None)
                bases = [getattr(b, "id", getattr(b, "attr", "")) for b in cls.bases] if cls else []
                if ch.name in _KNOB_FUNCTIONS or (
                    cls is not None
                    and any(n.startswith(_KNOB_CLASSES) for n in [cls.name, *bases])
                ):
                    continue
                a = ch.args
                pos = a.posonlyargs + a.args
                # a method's callers do not pass self/cls positionally
                shift = 1 if cls is not None and pos and pos[0].arg in ("self", "cls") else 0
                first = len(pos) - len(a.defaults)
                dflt = [(x.arg, i - shift) for i, x in enumerate(pos) if i >= first]
                dflt += [(x.arg, None) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                for param, idx in dflt:
                    if not is_set(ch.name, param, idx):
                        unset.append(f"{rel}:{ch.lineno} {ch.name}({param}=...)")

        visit(ast.parse(open(p).read()), None)
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call sets — fold each "
        "into its value:\n" + "\n".join(unset)
    )
