"""Contract-surface ledger (round-5 judge task #3).

The driver correctness gate snapshots at most 50 ``queries()`` keys, so
coverage rides on composite rows — which means nothing STRUCTURALLY
prevented a new public operator from landing without joining a contract
row, at which point it would be formally unverified, silently.

This test closes that hole mechanically: every public function in the
package must be evidenced by at least one of

  1. the driver contract surface — its name appears in
     ``__spark_entry__.py`` (a ``queries()``/``oracle_sql()`` row or a
     composite leg exercises it end-to-end against DuckDB), or
  2. the pytest suite — its name appears in some ``tests/test_*.py``, or
  3. the HELPERS exemption map below — an explicit row naming the
     covered public function it is a building block of (the target must
     itself pass 1 or 2, transitively).

Adding a public operator without a contract row, a test, or a
deliberate HELPERS row fails this test with the offending name.
Word-boundary matching keeps substring aliases (``tokens`` vs
``token_stats``) from cross-crediting.
"""

import importlib
import inspect
import pathlib
import pkgutil
import re

REPO = pathlib.Path(__file__).resolve().parent.parent

SUBPACKAGES = [
    "operators", "sources", "streaming", "kernel", "functions", "plans",
]
TOP_MODULES = ["pipelines", "api"]

# name -> covered public function it is a building block of. Keep this
# SHORT — it is for genuine internal helpers that happen to be public,
# not an escape hatch for new operators.
HELPERS = {
    # dedup/decontaminate building blocks (consumed in-module)
    "operators.dedup.content_key_cols": "exact_dedup",
    # closed-form fixture oracle kept with its datagen twin
    "operators.docpages.expected_source_cell": "documents_as_pages",
    # skew plumbing behind skew_aware_repartition
    "operators.extract.salted_repartition": "skew_aware_repartition",
    # normalize_text stages, exported for composability
    "operators.normalize.strip_control_chars": "normalize_text",
    "operators.normalize.collapse_whitespace": "normalize_text",
    # shared member-file sink internals behind write_wet/write_wat
    "sources.wet.warc_ts_str": "write_wet",
    "sources.wet.write_member_files": "write_wet",
    # expression-library primitives behind cosine()/the ANN operators
    "functions.sqlfuncs.as_double_array": "cosine",
    "functions.sqlfuncs.l2norm": "cosine",
}


def _public_functions():
    names = {}
    for pkg in SUBPACKAGES:
        p = importlib.import_module(f"table_ocr_spark.{pkg}")
        for m in pkgutil.iter_modules(p.__path__):
            mod = importlib.import_module(f"table_ocr_spark.{pkg}.{m.name}")
            for n, f in vars(mod).items():
                if (
                    inspect.isfunction(f)
                    and not n.startswith("_")
                    and f.__module__ == mod.__name__
                ):
                    names[f"{pkg}.{m.name}.{n}"] = n
    for mn in TOP_MODULES:
        mod = importlib.import_module(f"table_ocr_spark.{mn}")
        for n, f in vars(mod).items():
            if (
                inspect.isfunction(f)
                and not n.startswith("_")
                and f.__module__ == mod.__name__
            ):
                names[f"{mn}.{n}"] = n
    return names


def _haystacks():
    entry = (REPO / "__spark_entry__.py").read_text()
    tests = "\n".join(
        p.read_text()
        for p in (REPO / "tests").glob("test_*.py")
        if p.name != "test_contract_ledger.py"
    )
    return entry, tests


def test_every_public_function_is_evidenced():
    funcs = _public_functions()
    entry, tests = _haystacks()
    covered = set()
    for qual, name in funcs.items():
        pat = re.compile(rf"\b{re.escape(name)}\b")
        if pat.search(entry) or pat.search(tests):
            covered.add(qual)
    missing = []
    for qual, name in funcs.items():
        if qual in covered:
            continue
        target = HELPERS.get(qual)
        if target is None:
            missing.append(qual)
            continue
        # the helper's target must itself be a covered public function
        tq = [q for q in covered if q.rsplit(".", 1)[1] == target]
        assert tq, f"HELPERS target {target!r} for {qual} is not covered"
    assert not missing, (
        "public functions with NO contract row, NO test, and NO HELPERS "
        f"row: {sorted(missing)} — add a queries()/oracle_sql() entry "
        "(compose into an existing row if the gate is at 50 keys), a "
        "pytest, or a deliberate HELPERS exemption"
    )


def test_helpers_map_is_fresh():
    """Every HELPERS row must still name an existing public function —
    stale exemptions get deleted, not accumulated."""
    funcs = _public_functions()
    for qual, target in HELPERS.items():
        assert qual in funcs, f"stale HELPERS row: {qual} no longer exists"
        assert any(
            q.rsplit(".", 1)[1] == target for q in funcs
        ), f"HELPERS target {target!r} for {qual} no longer exists"


def test_helpers_rows_are_not_contract_covered():
    """A HELPERS row whose function gains real evidence should be
    promoted out of the exemption map (keeps the map minimal)."""
    funcs = _public_functions()
    entry, tests = _haystacks()
    for qual in HELPERS:
        name = funcs[qual]
        pat = re.compile(rf"\b{re.escape(name)}\b")
        assert not (pat.search(entry) or pat.search(tests)), (
            f"{qual} now has direct evidence — remove its HELPERS row"
        )
