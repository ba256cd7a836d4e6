"""Driver-contract tests: entry smoke, registry consistency."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["event_id", "ts_ms", "user_id", "event_type", "value"]


def test_registry_consistency(spark):
    mod = _load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert len(qs) >= 40
    assert set(osql) <= set(qs)
    # every callable is (spark, sf_dir) -> DataFrame; building it is not
    # free: queries with eager ``_util.stage(df, "shared")`` sites run
    # Spark jobs here, before any action
    for name, fn in qs.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name


def test_driver_window_covers_every_family():
    """The driver cross-checks only the first 50 entries of queries()
    (round-1 evidence). Assert the derived order puts at least one query
    from every operator module inside that window."""
    from bigdatatiler_spark.registry import load_all

    specs = load_all()
    window = set(list(specs)[:50])
    families = {spec.fn.__module__ for spec in specs.values()}
    uncovered = [
        fam
        for fam in sorted(families)
        if not any(s.fn.__module__ == fam for n, s in specs.items() if n in window)
    ]
    assert not uncovered, f"families with no driver-window query: {uncovered}"


def test_window_rotates_fresh_names():
    """Certification-breadth gate (r6 verdict item 2): while any registered
    query has NEVER held a driver-window slot in any round's
    CORRECTNESS_r*.json, the window must contain at least one such
    never-certified name — the window may not stop rotating."""
    from bigdatatiler_spark.driver_window import build_ledger, correctness_files
    from bigdatatiler_spark.registry import load_all

    files = correctness_files()
    if not files:
        return  # round 1: no driver files yet, nothing to rotate against
    specs = load_all()
    never = build_ledger(specs, files)["never_certified"]
    if never:
        assert set(never) & set(list(specs)[:50]), (
            f"{len(never)} registered queries have never held a "
            "driver-window slot, but the window rotates none of them in"
        )


def test_load_all_raises_on_missing_module(monkeypatch):
    """A query module that fails to import must fail loudly, not silently
    drop its whole family from queries()."""
    import pytest

    from bigdatatiler_spark import registry

    monkeypatch.setattr(
        registry,
        "_QUERY_MODULES",
        registry._QUERY_MODULES + ("bigdatatiler_spark.operators.no_such_module",),
    )
    with pytest.raises(ModuleNotFoundError):
        registry.load_all()


def test_window_stays_valid_after_new_round(tmp_path):
    """A committed driver round rotates the window with no code edit: with
    a new round that marks the current window all green, the derived
    window moves on and keeps its invariants."""
    import json
    import re
    import shutil

    from bigdatatiler_spark.driver_window import correctness_files, next_window
    from bigdatatiler_spark.registry import load_all

    specs = load_all()
    window = list(specs)[:50]
    files = [shutil.copy(p, tmp_path) for p in correctness_files()]
    assert next_window(specs, files) == window

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    last_round = max(
        (int(re.search(r"r(\d+)", os.path.basename(p)).group(1)) for p in files),
        default=0,
    )
    new_round = tmp_path / f"CORRECTNESS_r{last_round + 1:02d}.json"
    new_round.write_text(json.dumps({n: green for n in window}))
    rotated = next_window(specs, files + [str(new_round)])

    assert rotated != window
    assert len(rotated) == len(set(rotated)) == 50
    assert {specs[n].fn.__module__ for n in rotated} == {
        s.fn.__module__ for s in specs.values()
    }
    assert not {n for n in rotated if specs[n].oracle is None}


def test_no_bare_epoch_ms_in_oracles():
    """Fuzz-7 class 26 lint: DuckDB's epoch_ms() TRUNCATES sub-ms
    pre-epoch instants toward zero while Spark's unix_millis() FLOORS
    them, so every oracle must use epoch_ms(date_trunc('milliseconds',
    x)) — the single-argument floor formulation. A bare epoch_ms( in any
    registered oracle is a latent divergence."""
    from bigdatatiler_spark.registry import load_all

    bad = []
    for name, spec in load_all().items():
        sql = spec.oracle or ""
        idx = 0
        while True:
            j = sql.find("epoch_ms(", idx)
            if j < 0:
                break
            rest = sql[j + len("epoch_ms(") :].lstrip()
            if not rest.startswith("date_trunc('milliseconds'"):
                bad.append(name)
                break
            idx = j + len("epoch_ms(")
    assert not bad, f"oracles with bare (truncating) epoch_ms: {sorted(set(bad))}"


def test_all_queries_execute_smoke(spark, sf_dir):
    """Every registered query runs end-to-end at sf0.001 (values checked
    against DuckDB separately in test_oracle.py at the same SF)."""
    mod = _load_entry()
    for name, fn in mod.queries().items():
        n = fn(spark, sf_dir).count()
        assert n >= 0, name


def test_no_hash_hostile_output_types(spark):
    """Registry determinism lint: no registered query may emit raw
    TIMESTAMP/DATE (stringification and tz semantics differ between
    engines — the rules demand epoch-ms longs) or FLOAT32 (repr drifts
    through float→double widening) columns. DOUBLE is permitted only
    because every emitting query derives it from exact decimal sums +
    explicit rounding (registry.py rules) — verified conf-invariant by
    the env sweep."""
    from pyspark.sql.types import (
        DateType,
        FloatType,
        TimestampNTZType,
        TimestampType,
    )

    from bigdatatiler_spark.registry import load_all

    bad = []
    for name, spec in load_all().items():
        df = spec.fn(spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            if isinstance(
                f.dataType, (TimestampType, TimestampNTZType, DateType, FloatType)
            ):
                bad.append((name, f.name, str(f.dataType)))
    assert not bad, f"hash-hostile output columns: {bad}"


def test_no_oracle_names_stay_out_of_window():
    """Terminal adjudication of oracle-less queries (r9 verdict item 3):
    the driver's checker has no rows-only mode — a registered query with
    ``oracle=None`` in the window is a GUARANTEED non-green board row
    (sketch_hll_native r9: ``err: no_oracle``). Such names stay
    registered and locally rows-only-checked, but may never occupy a
    window slot, never count as rotation backlog, and never re-enter via
    sentinel/fill (policy lives in bigdatatiler_spark/driver_window.py)."""
    from bigdatatiler_spark.driver_window import build_ledger, correctness_files
    from bigdatatiler_spark.registry import load_all

    specs = load_all()
    no_oracle = {n for n, s in specs.items() if s.oracle is None}
    # the set may be EMPTY (sketch_hll_native gained an exact-bound
    # oracle in r11); the policy still gates any future oracle-less name
    leaked = no_oracle & set(list(specs)[:50])
    assert not leaked, f"oracle-less names hold window slots: {leaked}"
    ledger = build_ledger(specs, correctness_files())
    assert sorted(no_oracle) == ledger["no_oracle_excluded"]
    assert not no_oracle & set(ledger["never_certified"])


def _package_code():
    """(rel path, line number, code, enclosing top-level def) for every
    line of the package, with ``#`` comments stripped."""
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "bigdatatiler_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        scope = "<module>"
        with open(path) as f:
            for i, line in enumerate(f, 1):
                code = line.split("#")[0]
                m = re.match(r"(?:def|class) (\w+)", code)
                if m:
                    scope = m.group(1)
                elif re.match(r"[A-Za-z_]", code):
                    scope = "<module>"
                yield rel, i, code, scope


def test_no_bare_persist_in_package():
    """r11 verdict item 3: a bare ``.persist()`` accumulates CacheManager
    entries across queries in a long-lived session with no unpersist
    hook. Shared intermediates are staged through ``_util.stage`` instead
    (an eager ``localCheckpoint``: same reuse, plus a lineage cut, plus
    block release when the RDD is dereferenced) — pin that the pattern
    stays out, and that ``stage`` stays the package's ONE staging call:
    no ``.localCheckpoint(`` or ``.checkpoint(`` anywhere else."""
    offenders = []
    for rel, i, code, _ in _package_code():
        banned = [".persist()"]
        if rel != "operators/_util.py":
            banned += [".localCheckpoint(", ".checkpoint("]
        offenders += [f"{rel}:{i} {b}" for b in banned if b in code]
    assert not offenders, f"staging outside _util.stage: {offenders}"


def test_shared_kernels_have_one_home():
    """The LSH candidate self-join predicate lives in ``dedup.band_pairs``
    (plus streaming parity's documented non-distinct join) and the 30-min
    session gap rule in ``windows._sessions``; a hand-written copy
    elsewhere is a second way to do the same thing. The oracle side
    likewise: the SQL band-equality join lives in ``dedup.band_pairs_sql``
    (plus the incremental oracle's new x old join) and the component
    recursion in ``graph.components_sql``."""
    import re

    band = re.compile(r'"a\.band_key"\)\s*==\s*F\.col\("b\.band_key"')
    band_sql = re.compile(r"\w+\.band_key\s*=\s*\w+\.band_key")
    homes = {"band": [], "gap": [], "band_sql": [], "reach": []}
    for rel, _, code, scope in _package_code():
        if band.search(code):
            homes["band"].append(f"{rel}::{scope}")
        if "30 * 60 * 1_000_000" in code:
            homes["gap"].append(f"{rel}::{scope}")
        if band_sql.search(code):
            homes["band_sql"].append(f"{rel}::{scope}")
        if "reach(node, label)" in code:
            homes["reach"].append(f"{rel}::{scope}")
    assert homes == {
        "band": [
            "operators/dedup.py::band_pairs",
            "streaming/parity.py::neardedup_apply_batch",
        ],
        "gap": ["operators/windows.py::_sessions"],
        "band_sql": [
            "operators/dedup.py::band_pairs_sql",
            "operators/dedup.py::_incremental_oracle",
        ],
        "reach": ["operators/graph.py::components_sql"],
    }


#: Package definitions kept although no root reaches them, with the reason.
_UNREACHED_ALLOWED = {
    "write_payload_files": "O7 byte sink: the reference's writeDocumentTofile "
    "(BigDataLogControl.cs:354-361, README row O7)",
}


def _names(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def test_every_package_definition_is_reached():
    """Every top-level def, class and assigned name in the package is
    reached, transitively, from a root: the registered queries and their
    oracles, ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
    ``perfbench/*.py``. Tests are not roots — code only a test calls is
    a second surface nothing runs. Matching is by name, so a name clash
    counts as a caller; module-level statements other than imports count
    as roots (they run on import)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "bigdatatiler_spark", "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            tree = ast.parse(f.read())
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                bound = {stmt.name}
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                bound = {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            else:
                roots |= _names(stmt)
                continue
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in getattr(stmt, "decorator_list", ())
            )
            for name in bound:
                if registered or (name.startswith("__") and name.endswith("__")):
                    roots |= _names(stmt) | {name}
                else:
                    defs.setdefault(name, []).append((rel, stmt))
    for pattern in ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py"):
        for path in glob.glob(os.path.join(REPO, pattern)):
            with open(path) as f:
                tree = ast.parse(f.read())
            roots |= _names(tree) | {
                a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
                for a in n.names
            }

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, stmt in defs.get(name, ()):
                todo.extend(_names(stmt) - reached)
    assert set(_UNREACHED_ALLOWED) <= set(defs), "stale allowance"
    unreached = sorted(
        f"{rel}:{stmt.lineno} {name}"
        for name, found in defs.items()
        if name not in reached and name not in _UNREACHED_ALLOWED
        for rel, stmt in found
    )
    assert not unreached, (
        f"{len(unreached)} package definitions no query, tool or workload "
        "reaches:\n" + "\n".join(unreached)
    )
