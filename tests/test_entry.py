"""Driver-contract smoke tests: entry() + queries()/oracle_sql() shape."""

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_queries_and_oracles_aligned(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_registry_names_are_unique():
    """One ``_registry()`` row per query, named by its function."""
    names = [fn.__name__ for fn, _ in entrymod._registry()]
    assert len(names) == len(set(names)) == len(entrymod.queries())


def test_registry_duplicate_row_raises():
    import pytest

    rows = entrymod._registry()
    name = rows[0][0].__name__
    with pytest.raises(ValueError, match=name):
        entrymod._index([*rows, rows[0]])


def test_sample_query_runs_at_sf0001(spark, sf_dir):
    qs = entrymod.queries()
    df = qs["tpch_q1"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_coverage_doc_query_names_exist(spark):
    """Every `query: name` claim in COVERAGE.md must be a real queries()
    entry (docs can't drift from the contract)."""
    import os
    import re

    qs = set(entrymod.queries())
    doc = open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "COVERAGE.md")
    ).read()
    claimed = set(re.findall(r"query: `([a-z0-9_]+)`", doc))
    missing = claimed - qs
    assert not missing, f"COVERAGE.md references unknown queries: {sorted(missing)}"


def test_bench_headline_names_exist(spark):
    from bench import HEADLINE

    qs = (
        set(entrymod.queries())
        | set(entrymod.bench_extras())
        | {"flagship_events_hourly"}
    )
    missing = [n for n in HEADLINE if n not in qs]
    assert not missing, missing


def test_bench_json_contract():
    """bench.py must print exactly one parseable JSON line with the
    driver's expected keys — including the r11 `calib` drift canary
    and the r15 `calib_io` scan-leg canary
    (positive, and small relative to any real suite wall), and the
    additive `codegen_compiles` count. Runs a
    1-query subset at sf0.001 in a fresh process, like the driver."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_QUERIES="tpch_q6",
    )
    p = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        env=env,
        cwd=root,
        timeout=300,
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"metric"')]
    assert len(lines) == 1, (p.stdout[-2000:], p.stderr[-2000:])
    r = json.loads(lines[0])
    assert set(r) == {
        "metric", "value", "unit", "queries", "sf", "calib", "calib_io",
        "codegen_compiles",
    }
    assert r["metric"] == "headline_suite_wall" and r["unit"] == "sec"
    assert r["sf"] == 0.001
    assert list(r["queries"]) == ["tpch_q6"]
    assert r["value"] == round(sum(r["queries"].values()), 3)
    assert 0 < r["calib"] < 30
    assert 0 < r["calib_io"] < 30
    # the warm pass compiled the query's classes and the cache kept them
    assert 0 <= r["codegen_compiles"] <= 5


def test_bench_output_keeps_diagnostics_inside_queries():
    """Contract pin (r17): the diagnostics split must be ADDITIVE — the
    stress-twin rows stay inside ``queries`` and ``value`` (the driver's
    per-query series may gain entries but never lose one, and ``value``
    must sum the same query set as prior rounds), with ``headline`` /
    ``diagnostics`` as derived annotations only."""
    from bench import assemble_output

    out = assemble_output(
        {"q_a": 1.0, "q_b": 2.5}, {"q_twin": 4.0}, 0.1, 0.1, 0.2
    )
    assert set(out["queries"]) == {"q_a", "q_b", "q_twin"}
    assert out["value"] == round(sum(out["queries"].values()), 3) == 7.5
    assert out["headline"] == 3.5
    assert out["diagnostics"] == {"q_twin": 4.0}
    # explicit-list mode (no diagnostics leg): no annotation keys at all
    out2 = assemble_output({"q_a": 1.0}, {}, 0.001, 0.1, 0.2)
    assert "headline" not in out2 and "diagnostics" not in out2
    assert out2["value"] == 1.0


def test_local_table_plans_jvm_local_scan(spark):
    """local_table (r17): driver-resident dimension tables must plan as a
    JVM LocalTableScan (the Arrow/pandas route), not a pickled-row
    ExistingRDD whose every materialization launches a
    defaultParallelism-wide Python-worker job — with values bit-equal to
    the plain createDataFrame path, and a safe fallback for empty rows."""
    from cassandra_fs_pp_spark.session import local_table

    rows = [(c, [float(c) + i / 7.0 for i in range(8)], f"s{c}") for c in range(5)]
    schema = "cell int, centroid array<double>, tag string"
    df = local_table(spark, rows, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    old = spark.createDataFrame(rows, schema)
    assert df.exceptAll(old).count() == 0 and old.exceptAll(df).count() == 0
    assert local_table(spark, [], "a int, b string").count() == 0


def test_oracle_check_comparator_catches_failure_classes():
    """The oracle comparator is load-bearing (perfbench's registry
    digests are written only after it passes): pin that it flags each
    failure class the r11 sweeps actually hit — row-count drift, float
    value drift (the round-tie class), dtype-kind drift (int vs float),
    column-set drift — and passes identical frames, including NaN==NaN."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "scripts"
        ),
    )
    from oracle_check import compare

    base = pd.DataFrame({"k": [1, 2], "v": [0.25, float("nan")]})
    assert compare("same", base, base.copy()) == []
    assert compare("rows", base, base.iloc[:1])  # row-count drift
    shifted = base.copy()
    shifted.loc[0, "v"] = 0.250001  # the 1e-6 round-tie class
    assert any("max|diff|" in p for p in compare("tie", base, shifted))
    kinds = base.copy()
    kinds["k"] = kinds["k"].astype("float64")  # BIGINT-vs-DOUBLE drift
    assert any("dtype kind" in p for p in compare("kind", base, kinds))
    cols = base.rename(columns={"v": "w"})
    assert any("columns" in p for p in compare("cols", base, cols))


def test_oracle_check_rejects_unknown_names_before_spark(monkeypatch, capsys):
    """A misspelt query name or an unknown option selects no query; it
    must fail instead of printing ALL GREEN, and before Spark starts."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "scripts"
        ),
    )
    import oracle_check

    def no_spark(*a, **k):
        raise AssertionError("oracle_check started Spark")

    monkeypatch.setattr(oracle_check, "get_spark", no_spark)
    assert oracle_check.main(["tpch_q1_typo"]) != 0
    assert oracle_check.main(["--variants", "tpch_q1"]) != 0
    err = capsys.readouterr().err
    assert "tpch_q1_typo" in err and "--variants" in err


def test_id_magnitude_lint_scanner():
    """The r13 lint keeps the shift-unsafe id-band class retired (two r12
    members: ngram_jaccard_pairs `doc_id < 100000`,
    graph_connected_components `node < 1000000`): pin that the scanner
    flags both retired patterns, in Spark expressions AND SQL strings,
    while passing the sanctioned forms (pmod/modular bands, annotated
    sites, sub-1000 fixed budgets, non-id columns)."""
    import contextlib
    import io
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "scripts"
        ),
    )
    from doc_check import _id_magnitude_scan

    def scan(src: str) -> bool:
        with contextlib.redirect_stdout(io.StringIO()):
            return _id_magnitude_scan(src)

    # the two retired r12 patterns must flag
    assert scan('a = g.filter(F.col("doc_id") < 100000)')
    assert scan('x = F.when(F.col("node") >= 1000000, 1)')
    assert scan('Q = """SELECT 1 FROM g WHERE doc_id < 100000"""')
    # sanctioned forms must pass
    assert not scan('a = g.filter(F.pmod(F.col("doc_id"), F.lit(S)) < 100000)')
    assert not scan('Q = """SELECT 1 FROM g WHERE doc_id % 10000000 < 100000"""')
    assert not scan('Q = """SELECT 1 FROM t -- (doc_id >= 100000) old note"""')
    assert not scan(
        '# id-magnitude-ok: fixed fixture band\n'
        'x = df.filter(F.col("event_id") < 5000)'
    )
    assert not scan('q = emb.filter(F.col("vec_id") < 162)')  # fixed budget
    assert not scan('li = t.filter(F.col("l_quantity") >= 1000)')  # not an id
    # and the live registry file itself is clean
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    assert not scan(open(os.path.join(root, "__spark_entry__.py")).read())


def test_doc_check_passes(monkeypatch):
    """``scripts/doc_check.py``'s docs-vs-registry lints (COVERAGE/PLANS/
    SWEEP/VARIANTS cross-references, shadowed names, calib history,
    id-magnitude bands) all pass; the Spark-backed ``--schemas`` lint is
    left to its own run."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "scripts"
        ),
    )
    import doc_check

    monkeypatch.setattr(sys, "argv", ["doc_check.py"])
    assert doc_check.main() == 0


def test_reach_lint_flags_test_only_definition(tmp_path, monkeypatch):
    """``doc_check.reach_lint`` fails on a package definition that only a
    test uses, follows uses transitively (a helper of a dead function is
    dead too), does not count an import as a use (an ``__init__``
    re-export, or a non-test file importing a function it never calls),
    follows ``import ... as`` aliases, passes once the unreached names
    are allow-listed (their helpers need no entry) and fails on a stale
    entry."""
    import contextlib
    import io
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "scripts"
        ),
    )
    import doc_check

    pkg = tmp_path / "cassandra_fs_pp_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        'from .mod import exported\n\n__all__ = ["exported"]\n'
    )
    (pkg / "mod.py").write_text(
        "LIMIT = 3\n\n"
        "def _helper():\n    return LIMIT\n\n"
        "def used():\n    return _helper()\n\n"
        "def exported():\n    pass\n\n"
        "def imported_only():\n    pass\n\n"
        "def aliased():\n    pass\n\n"
        "def _dead_helper():\n    pass\n\n"
        "def test_only():\n"
        '    """Mentions used() in a docstring only."""\n'
        "    return _dead_helper()\n"
    )
    (tmp_path / "bench.py").write_text(
        "from cassandra_fs_pp_spark.mod import aliased as _aliased\n"
        "from cassandra_fs_pp_spark.mod import imported_only, used\n"
        "used()\n_aliased()\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from cassandra_fs_pp_spark.mod import test_only\ntest_only()\n"
    )

    assert [d[2] for d in doc_check._unreached(str(tmp_path))] == [
        "exported", "imported_only", "_dead_helper", "test_only",
    ]
    with contextlib.redirect_stdout(io.StringIO()) as out:
        assert doc_check.reach_lint(str(tmp_path))
    for name in ("test_only", "exported", "imported_only"):
        assert f"{name} is not reached outside tests" in out.getvalue()

    allow = frozenset({"exported", "imported_only", "test_only"})
    monkeypatch.setattr(doc_check, "REACH_ALLOW", allow)
    with contextlib.redirect_stdout(io.StringIO()):
        assert not doc_check.reach_lint(str(tmp_path))
    monkeypatch.setattr(doc_check, "REACH_ALLOW", allow | {"used"})
    with contextlib.redirect_stdout(io.StringIO()):
        assert doc_check.reach_lint(str(tmp_path))


def test_footer_row_counts_warn_on_missing_and_raise_on_corrupt(
    tmp_path, monkeypatch, caplog
):
    """The LSH query and its oracle size the corpus from the parquet
    footer. A missing file logs a warning naming the path and falls back
    (``None`` -> a Spark count; the oracle assumes 200 rows); a corrupt
    footer raises instead of silently changing the oracle's bit count."""
    import logging

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    monkeypatch.setenv("SF_DIR", str(tmp_path))
    path = str(tmp_path / "embeddings.parquet")
    with caplog.at_level(logging.WARNING, logger=entrymod.__name__):
        assert entrymod._parquet_num_rows(str(tmp_path), "embeddings") is None
        assert entrymod._gate_embeddings_count() == 200
    assert sum(path in r.getMessage() for r in caplog.records) == 2

    pq.write_table(pa.table({"x": list(range(7))}), path)
    assert entrymod._parquet_num_rows(str(tmp_path), "embeddings") == 7
    assert entrymod._gate_embeddings_count() == 7

    with open(path, "wb") as f:
        f.write(b"PAR1 not a parquet footer PAR1")
    with pytest.raises(pa.ArrowInvalid):
        entrymod._parquet_num_rows(str(tmp_path), "embeddings")
    with pytest.raises(pa.ArrowInvalid):
        entrymod._gate_embeddings_count()
