"""Registration-order contract: the driver hash-checks only the FIRST 50
entries of ``queries()``. These tests pin the curated window so a refactor
can't silently push a family back out of driver visibility (the round-1
failure mode — see VERDICT.md). Since round 3 the window ROTATES to
never-driver-checked queries each round, so family coverage is asserted
over the union of past CORRECTNESS rounds plus the current window."""

from __future__ import annotations

import ast
import json
from pathlib import Path

from bigdatainfinance1_spark.registry import (
    DRIVER_WINDOW_ORDER,
    ROWS_ONLY_BY_DESIGN,
    load_all_queries,
)
from tests.conftest import SF_DIR

DRIVER_CAP = 50
REPO = Path(__file__).resolve().parent.parent

# One representative query per SURVEY §2 family that MUST have driver
# evidence — either a row in a past CORRECTNESS_r{N}.json or a slot in the
# current window.
FAMILY_REPRESENTATIVES = {
    "S": "q_csv_roundtrip",
    "P": "q_null_handling",
    "J": "q_star_join",
    "A": "q_pricing_summary",
    "W": "q_sessionization",
    "O": "q_union_all",
    "F": "q_string_funcs",
    "ST": "q_stream_tumbling",
    "L": "q_cosine_topk",
    "U": "q_udf_pandas_revenue",
}


def _driver_evidenced() -> set[str]:
    names: set[str] = set(list(load_all_queries())[:DRIVER_CAP])
    for f in REPO.glob("CORRECTNESS_r*.json"):
        names |= set(json.loads(f.read_text()))
    return names


def test_window_order_names_are_registered():
    specs = load_all_queries()
    missing = [n for n in DRIVER_WINDOW_ORDER if n not in specs]
    assert not missing, f"DRIVER_WINDOW_ORDER names not in registry: {missing}"


def test_window_order_has_no_duplicates():
    assert len(set(DRIVER_WINDOW_ORDER)) == len(DRIVER_WINDOW_ORDER)


def test_window_rotation_spends_no_slot_on_checked_queries():
    """Every one of the 50 slots should earn a FIRST driver row — a slot
    spent re-checking an already-green query is an evidence slot wasted
    (round-2 verdict: 202/288 queries had zero driver rows).

    Round-aware (round-3 verdict defect 4): the driver writes a
    CORRECTNESS artifact *for the current window* at the round boundary,
    which would trivially make every slot look "already checked". An
    artifact whose name-set is a subset of the current window IS the
    current window's own evidence — exclude it; only rows from *prior*
    windows count as wasted slots.

    Retry-aware (round-5 verdict tasks 1 + 3): a slot on an
    already-checked query is LEGITIMATE when that query's most recent
    driver row is non-green (err, or any match flag false) — re-greening
    a red is exactly what a slot is for. Only green re-checks waste."""
    window = set(list(load_all_queries())[:DRIVER_CAP])
    latest: dict[str, tuple[int, dict]] = {}
    for f in REPO.glob("CORRECTNESS_r*.json"):
        names = json.loads(f.read_text())
        if set(names) <= window:  # the artifact this window itself produced
            continue
        rnd = int(f.stem.split("_r")[1])
        for n, row in names.items():
            if n not in latest or rnd > latest[n][0]:
                latest[n] = (rnd, row)

    def green(row: dict) -> bool:
        return (
            row.get("err") is None
            and row.get("rows_match") is True
            and row.get("schema_match") is True
            and row.get("hash_match") is True
        )

    rechecks = sorted(n for n in window if n in latest and green(latest[n][1]))
    assert not rechecks, f"window slots wasted on already-GREEN queries: {rechecks}"


def test_every_family_has_driver_evidence():
    evidenced = _driver_evidenced()
    for family, name in FAMILY_REPRESENTATIVES.items():
        assert name in evidenced, (
            f"family {family} rep {name} has neither a past CORRECTNESS row "
            "nor a current window slot"
        )


def test_first_50_are_mostly_hash_checkable():
    specs = load_all_queries()
    window = list(specs)[:DRIVER_CAP]
    with_oracle = [n for n in window if specs[n].oracle is not None]
    # VERDICT round-1 target: >=45 of the 50 slots hash-checked.
    assert len(with_oracle) >= 45, (
        f"only {len(with_oracle)}/{DRIVER_CAP} window queries have oracles: "
        f"rows-only = {sorted(set(window) - set(with_oracle))}"
    )


def test_rows_only_set_is_exactly_the_declared_four():
    """Rows-only is a DECLARED tier, not a drift direction: the set of
    oracle-less registrations must equal ROWS_ONLY_BY_DESIGN (round-6
    verdict task 6), each twin must itself carry a full oracle, and none
    of the four may occupy a driver-window slot (the row would read
    `err: no_oracle` forever — a wasted slot)."""
    specs = load_all_queries()
    rows_only = {n for n, s in specs.items() if s.oracle is None}
    assert rows_only == set(ROWS_ONLY_BY_DESIGN)
    for name, twin in ROWS_ONLY_BY_DESIGN.items():
        assert specs[twin].oracle is not None, f"{name}'s twin {twin} lacks an oracle"
    assert not rows_only & set(DRIVER_WINDOW_ORDER)


def test_registry_still_contains_everything():
    # Reordering must not drop registrations: full surface stays >= 109.
    assert len(load_all_queries()) >= 109


def _is_call(node: ast.AST, name: str) -> bool:
    func = node.func if isinstance(node, ast.Call) else None
    return (isinstance(func, ast.Name) and func.id == name) or (
        isinstance(func, ast.Attribute) and func.attr == name
    )


def _one_text_query_functions() -> list[str]:
    """Names of ``@query`` functions that only register the views and
    return ``spark.sql(X)`` where X is the decorator's own oracle
    expression (imports and the docstring aside)."""
    found = []
    for pkg in ("operators", "streaming"):
        for path in sorted((REPO / "bigdatainfinance1_spark" / pkg).glob("*.py")):
            for fn in ast.parse(path.read_text()).body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                for deco in fn.decorator_list:
                    if not _is_call(deco, "query"):
                        continue
                    kw = {k.arg: k.value for k in deco.keywords}
                    oracle = kw.get("oracle", deco.args[1] if len(deco.args) > 1 else None)
                    body = [
                        s
                        for s in fn.body
                        if not isinstance(s, (ast.Import, ast.ImportFrom))
                        and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))
                    ]
                    if (
                        oracle is not None
                        and len(body) == 2
                        and isinstance(body[0], ast.Expr)
                        and _is_call(body[0].value, "register_views")
                        and isinstance(body[1], ast.Return)
                        and _is_call(body[1].value, "sql")
                        and len(body[1].value.args) == 1
                        and not body[1].value.keywords
                        and ast.dump(body[1].value.args[0]) == ast.dump(oracle)
                    ):
                        found.append(ast.literal_eval(deco.args[0]))
    return found


def test_one_text_queries_are_sql_query_declarations():
    """A query whose Spark side is ``spark.sql`` over its own oracle text is
    declared with ``registry.sql_query``, which shares the text by
    construction; a hand-written function of that form must not grow back."""
    found = _one_text_query_functions()
    assert not found, f"declare these with sql_query(name, text, ...): {found}"


def test_only_the_catalog_spells_a_tmp_path():
    """Every path the package writes is named by ``catalog.scratch_dir``
    under the catalog's one scratch root, so no other module carries a
    string constant starting with ``/tmp`` (f-string parts included)."""
    pkg = REPO / "bigdatainfinance1_spark"
    found = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "sources" / "catalog.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("/tmp")
    ]
    assert not found, f"name these paths with catalog.scratch_dir: {found}"


def test_sql_query_oracle_is_the_spark_text(spark):
    """``sql_query`` registers the views and runs its text; the oracle is
    that same text object."""
    from bigdatainfinance1_spark.registry import QUERIES, sql_query

    text = "SELECT CAST(count(*) AS BIGINT) AS n FROM region"
    name = "q_test_sql_query_declaration"
    sql_query(name, text, tags=("test",), doc="one row: the region count")
    try:
        spec = QUERIES[name]
        assert spec.oracle is text
        assert (spec.doc, spec.tags) == ("one row: the region count", ("test",))
        assert spec.fn(spark, SF_DIR).collect()[0]["n"] == 5
    finally:
        del QUERIES[name]
