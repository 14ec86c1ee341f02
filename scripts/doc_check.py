"""Doc-integrity check: COVERAGE.md×registry cross-reference.

Asserts every backticked `name` in COVERAGE.md that looks like a registry
query actually exists in ``queries()``, and that every registry query is
mentioned somewhere in COVERAGE.md — so the operator inventory the judge
reads can't silently drift from the code.  Run: python scripts/doc_check.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def main() -> int:
    qs = set(entrymod.queries())
    # bench-only load-profile twins are legitimate doc references even
    # though they are not registry queries (correctness rides on their
    # registry form's oracle)
    extras = set(getattr(entrymod, "bench_extras", dict)())
    osql = set(entrymod.oracle_sql())
    cov = open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")).read()
    ticked = set(re.findall(r"`([a-z][a-z0-9_]+)`", cov))

    # backticked names that LOOK like query ids (match a registry prefix)
    prefixes = tuple(
        {q.split("_")[0] + "_" for q in qs}
    )
    doc_queries = {t for t in ticked if t in qs}
    phantom = {
        t for t in ticked
        if t.startswith(prefixes) and t not in qs and t not in extras
        and not t.endswith((".py", ".md"))
        # operator/function names legitimately share prefixes; only flag
        # things that appear after 'query:'/'queries:' markers
        and re.search(rf"quer(?:y|ies):[^|]*`{re.escape(t)}`", cov)
    }
    unmentioned = {q for q in qs if q not in ticked}

    bad = False
    if phantom:
        print(f"COVERAGE.md references nonexistent queries: {sorted(phantom)}")
        bad = True
    if unmentioned:
        print(f"registry queries not documented in COVERAGE.md ({len(unmentioned)}):")
        for q in sorted(unmentioned):
            print(f"  {q}")
        bad = True
    bad = shadow_lint() or bad
    bad = plans_lint(qs) or bad
    bad = id_magnitude_lint() or bad
    bad = reach_lint() or bad
    rows_only = qs - osql
    print(f"registry: {len(qs)} queries, {len(osql)} full oracles, "
          f"rows-only: {sorted(rows_only)}")
    print(f"COVERAGE.md mentions {len(doc_queries)} of {len(qs)} queries")

    if "--schemas" in sys.argv:
        bad = scalar_schema_lint() or bad
    return 1 if bad else 0


def plans_lint(qs: set[str]) -> bool:
    """PLANS.md × registry cross-reference (VERDICT r9 item 8): every
    ``queries()`` entry must have a ``## <name>`` audit section in
    PLANS.md, and every section must name a live query — so the plan
    audit the judge reads can't silently lag new queries."""
    plans = open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md")).read()
    sections = set(re.findall(r"^## ([a-z][a-z0-9_]+)$", plans, re.M))
    missing = qs - sections
    phantom = sections - qs
    bad = False
    if missing:
        print(f"registry queries with no PLANS.md audit ({len(missing)}):")
        for q in sorted(missing):
            print(f"  {q}")
        bad = True
    if phantom:
        print(f"PLANS.md audits nonexistent queries: {sorted(phantom)}")
        bad = True
    print(f"PLANS.md audits {len(sections & qs)} of {len(qs)} queries")
    return bad


def id_magnitude_lint() -> bool:
    """Flag absolute-magnitude predicates on id columns (VERDICT r12 item
    1): a filter like ``doc_id < 100000`` or ``node >= 1000000`` encodes a
    side-split / namespace band in the ABSOLUTE value of an id — valid
    only on unshifted driver corpora, silently wrong the moment ids are
    strided (probe corpora shift by 10M; at 100 TB ids are never
    magnitude-banded).  The r12 sweep class had two members
    (ngram_jaccard_pairs, graph_connected_components), both since
    migrated to ``pmod(id, SHIFT)`` / parity encodings; this lint keeps
    the class retired.

    Scope: ``__spark_entry__.py`` — (a) every ``ast.Compare`` whose one
    side is an int literal >= 1000 and whose other side mentions an
    id-like column (``*_id``/``*_key``/``node``) without a ``pmod``
    wrapper; (b) every SQL-ish string constant (contains SELECT), line by
    line with ``--`` comments stripped, same regex with ``% <stride>``
    exclusion.  Escape hatch: ``id-magnitude-ok`` on the match line or
    the line above (code) / same line before the comment strip (SQL).
    Small literals (< 1000, e.g. fixed top-k query budgets) are out of
    scope by design.
    """
    import ast

    path = os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    return _id_magnitude_scan(open(path).read())


def _id_magnitude_scan(src: str) -> bool:
    import ast
    lines = src.splitlines()
    idcol = re.compile(r"\b(\w*_(?:id|key)|node)\b")
    sql_pat = re.compile(
        r'\b(\w*_(?:id|key)|node)\b\s*(<=|>=|<|>)\s*(\d{4,})'
    )
    hits: list[str] = []

    def annotated(lineno: int) -> bool:
        for ln in (lineno - 1, lineno - 2):
            if 0 <= ln < len(lines) and "id-magnitude-ok" in lines[ln]:
                return True
        return False

    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            ops = [type(o) for o in node.ops]
            if not any(o in (ast.Lt, ast.LtE, ast.Gt, ast.GtE) for o in ops):
                continue
            sides = [node.left] + list(node.comparators)
            lits = [s for s in sides
                    if isinstance(s, ast.Constant)
                    and isinstance(s.value, int) and s.value >= 1000]
            others = [s for s in sides if s not in lits]
            if not lits:
                continue
            seg = " ".join(ast.unparse(s) for s in others)
            if idcol.search(seg) and "pmod" not in seg and "%" not in seg:
                if not annotated(node.lineno):
                    hits.append(f"  line {node.lineno}: {ast.unparse(node)}")
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and "SELECT" in node.value):
            base = node.lineno  # line of the string's opening quote
            for off, sline in enumerate(node.value.splitlines()):
                if "id-magnitude-ok" in sline:
                    continue
                code = sline.split("--", 1)[0]
                m = sql_pat.search(code)
                # exclude `expr % stride < k` bands: '%' anywhere left of
                # the comparator means the operand is already modular
                if m and "%" not in code[: m.start(2)]:
                    hits.append(f"  line ~{base + off} (SQL): {sline.strip()[:90]}")

    if hits:
        print(f"id-magnitude lint: {len(hits)} absolute-magnitude id "
              "predicate(s) — use pmod(id, SHIFT) / parity encoding, or "
              "annotate with id-magnitude-ok:")
        seen = set()
        for h in hits:
            if h not in seen:
                seen.add(h)
                print(h)
        return True
    print("id-magnitude lint: no absolute-magnitude id predicates")
    return False


# Top-level package definitions that nothing outside tests/ references,
# kept on purpose.  Reach is followed from listed names too, so a helper
# only they call needs no entry of its own.
REACH_ALLOW = frozenset({
    # tests compare the registry's SQL-string/Arrow path against this form:
    "cdc_chunk_expr",  # Column form of functions.text.cdc_chunks
    "calibration_join",  # join form calibration_group_mean must match
    "encode_fixed_point",  # column arithmetic to_netcdf's int32 bytes must match
    # paper workflows not wired into SiteEngine or the CLI yet:
    "load_position_csv",  # S7: EC sensor position CSV
    "to_netcdf_long",  # K3: 2-D (time, sensor) NetCDF export
    "load_netcdf",  # S11: the reference plot_L2.py reading an L2 .nc
    "load_netcdf_long",  # S11: a 2-D (time, sensor) .nc as long rows
    "render_depth_scatter",  # K4: depth-vs-time scatter plot
})


def _ref_names(node, alias: dict[str, str]) -> set[str]:
    """Identifiers a node uses: names and attribute names, with a name
    bound by ``import ... as`` mapped back to the imported one.  Imports,
    ``__all__`` and other strings, docstrings included, are not uses."""
    import ast

    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(alias.get(n.id, n.id))
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _unreached(root: str, allow: frozenset[str] = frozenset()):
    """Top-level definitions (def, class, module constant) of the
    ``cassandra_fs_pp_spark`` package under ``root`` that no code outside
    tests reaches.

    Roots are every Python file outside the package that is not a test
    (``tests/``, ``test_*.py``, ``conftest.py``), the package's own
    module-level statements other than imports, and the names in
    ``allow``.  An import, an ``__init__`` re-export included, is not a
    use: only a name or attribute in code is.  Reach then follows the
    names each reached definition uses.  Names are matched by
    identifier, not by module, so a name defined twice stays reached if
    either copy is.  Returns ``[(relpath, line, name)]``."""
    import ast

    pkg = os.path.join(root, "cassandra_fs_pp_spark") + os.sep
    defs: dict[str, tuple[str, int]] = {}
    uses: dict[str, set[str]] = {}
    live: set[str] = set(allow)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames if d != "tests" and not d.startswith((".", "__"))
        ]
        for f in filenames:
            if not f.endswith(".py") or f.startswith("test_") or f == "conftest.py":
                continue
            path = os.path.join(dirpath, f)
            in_pkg = path.startswith(pkg)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            alias = {
                a.asname: a.name.split(".")[-1]
                for n in ast.walk(tree)
                if isinstance(n, (ast.Import, ast.ImportFrom))
                for a in n.names
                if a.asname
            }
            for node in tree.body:
                names: list[str] = []
                if in_pkg and isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    names = [node.name]
                elif in_pkg and isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    names = [
                        t.id for t in targets
                        if isinstance(t, ast.Name) and not t.id.startswith("__")
                    ]
                if not names:
                    live |= _ref_names(node, alias)
                for n in names:
                    defs[n] = (os.path.relpath(path, root), node.lineno)
                    uses.setdefault(n, set()).update(_ref_names(node, alias))
    reached: set[str] = set()
    todo = [n for n in live if n in defs]
    while todo:
        n = todo.pop()
        if n not in reached:
            reached.add(n)
            todo.extend(uses[n] & defs.keys())
    return sorted((*defs[n], n) for n in defs.keys() - reached)


def reach_lint(root: str | None = None) -> bool:
    """Fail on package code that only tests reach: every top-level
    definition in ``cassandra_fs_pp_spark/`` must be used by the
    pipelines, the CLI, the registry, ``bench.py``, ``scripts/`` or
    ``perfbench/`` (see :func:`_unreached`), or be listed with its reason
    in ``REACH_ALLOW`` or used by a listed name.  A listed name that is
    reached without the list, or is gone, fails too, so the list cannot
    go stale."""
    root = root or os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    flagged = _unreached(root, REACH_ALLOW)
    stale = REACH_ALLOW - {d[2] for d in _unreached(root)}
    for path, line, name in flagged:
        print(f"reach lint: {path}:{line} {name} is not reached outside tests")
    if stale:
        print(f"reach lint: REACH_ALLOW names reached or undefined: {sorted(stale)}")
    if flagged or stale:
        return True
    print(f"reach lint: every package definition is reached outside tests "
          f"({len(REACH_ALLOW)} allow-listed)")
    return False


def shadow_lint() -> bool:
    """Fail on DUPLICATE top-level assignments in __spark_entry__.py —
    module constants (oracle SQL strings) and def names alike.  Python
    silently rebinds, so a later ``X_ORACLE = ...`` shadows an earlier
    one and every dict entry referencing the name gets the LAST value
    (the r14 TEXT_REPETITION_ORACLE collision: a new query's oracle
    constant silently replaced an existing query's oracle and the sweep
    caught it as a schema mismatch)."""
    import ast
    import collections

    path = os.path.join(
        os.path.dirname(__file__), "..", "__spark_entry__.py"
    )
    tree = ast.parse(open(path).read())
    names: collections.Counter = collections.Counter()
    for node in tree.body:  # top level only
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names[node.name] += 1
        elif isinstance(node, ast.Assign):
            # also unpack tuple/list targets: `A, B = ...` rebinds both
            # names just as silently as a plain assignment (ADVICE r14)
            stack = list(node.targets)
            while stack:
                t = stack.pop()
                if isinstance(t, ast.Name):
                    names[t.id] += 1
                elif isinstance(t, (ast.Tuple, ast.List)):
                    stack.extend(t.elts)
                elif isinstance(t, ast.Starred):
                    # `A, *B = ...` rebinds B just as silently (ADVICE r15)
                    stack.append(t.value)
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            # annotated top-level assignment (X_ORACLE: str = ...) would
            # otherwise evade the lint entirely (ADVICE r14)
            names[node.target.id] += 1
    dupes = sorted(n for n, c in names.items() if c > 1)
    if dupes:
        print(f"shadowed top-level names in __spark_entry__.py: {dupes}")
        return True
    print(f"shadow lint: {len(names)} top-level names, all bound once")
    return False


def scalar_schema_lint() -> bool:
    """Assert every registry query's output schema is scalar-only.

    The driver canonicalizer sorts rows by every column and dies on
    ArrayType/MapType/StructType cells (`unhashable type: numpy.ndarray` —
    the r1 f_higher_order / r3 f_collections failure class).  Analyzes each
    query's plan (no execution for lazy queries) at sf0.001.
    """
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from cassandra_fs_pp_spark.session import get_spark
    from oracle_check import complex_output_cols  # noqa: F401 (sibling script)

    spark = get_spark("schema_lint", shuffle_partitions=4)
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    bad = False
    for name, fn in entrymod.queries().items():
        try:
            cols = complex_output_cols(fn(spark, sf_dir).schema)
        except Exception as e:
            print(f"schema-lint ERROR {name}: {e}")
            bad = True
            continue
        if cols:
            print(f"schema-lint FAIL {name}: non-scalar output columns {cols}")
            bad = True
    print("schema-lint: " + ("FAIL" if bad else f"all {len(entrymod.queries())} scalar-only"))
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
