"""Local mirror of the driver's t2 correctness gate (SURVEY.md §5.3).

``test_oracle_parity`` is parametrized over every registered query key and
runs in the default suite: a key with oracle SQL must hash-match DuckDB,
and a key without one gets a rows-only smoke run, exactly like the driver.
Runs at sf0.001 by default (fast); set TRIREME_TEST_SF=/root/testdata/sf0.01
for the pre-commit full pass.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, assert_matches_oracle
from trireme_spark import registry


def _keys():
    return sorted(registry.QUERIES)


@pytest.mark.parametrize("key", _keys())
def test_oracle_parity(spark, key):
    fn = registry.QUERIES[key]
    oracle = registry.ORACLES.get(key)
    df = fn(spark, SF_SMOKE)
    if oracle is None:
        # rows-only check, mirroring the driver's degraded mode
        assert df.count() >= 0
        assert len(df.schema.fields) > 0
    else:
        assert_matches_oracle(df, oracle, SF_SMOKE)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_sweep_priority_covers_registry_exactly():
    """_apply_sweep_order silently SKIPS priority entries missing from
    the registry and silently APPENDS registered keys missing from the
    list — safe behaviors at runtime, but either one after a rotation
    means a typo is quietly wasting a driver sweep slot or burying a
    key's evidence. Pin exact set equality (and no duplicates) so a bad
    rotation fails the suite instead."""
    from trireme_spark.queries import _SWEEP_PRIORITY

    assert len(_SWEEP_PRIORITY) == len(set(_SWEEP_PRIORITY)), (
        "duplicate keys in _SWEEP_PRIORITY"
    )
    missing = set(_SWEEP_PRIORITY) - set(registry.QUERIES)
    extra = set(registry.QUERIES) - set(_SWEEP_PRIORITY)
    assert not missing, f"priority entries not in registry: {missing}"
    assert not extra, f"registered keys not in the priority list: {extra}"


# The parked lot: 35 query functions built for the staging cadence and
# never registered. Each still carries its own staging tests
# (tests/test_staged_r15*.py, tests/test_staged_r16*.py). The set may only
# shrink: deleting a parked key (with its tests) or registering it removes
# its name here.
_PARKED = frozenset(
    {
        "agg_cochran_q",
        "orders_rank_biserial",
        "agg_youden_j_threshold",
        "sample_kish_design_effect",
        "agg_wilcoxon_signed_rank",
        "agg_bartlett_test",
        "agg_welch_anova",
        "agg_mood_median_test",
        "agg_partial_correlation",
        "graph_rich_club_coefficient",
        "graph_katz_truncated",
        "sim_ann_recall_eval",
        "embed_cka_linear",
        "text_mattr_diversity",
        "text_kneser_ney_bigram",
        "ts_variance_ratio_test",
        "ts_turning_points_test",
        "orders_page_hinkley",
        "ts_hurst_exponent",
        "events_littles_law_check",
        "sample_bottomk_hash",
        "orders_expected_shortfall",
        "events_spc_p_chart",
        "ts_arch_lm_test",
        "events_slo_burn_rate",
        "events_cmh_test",
        "events_cochran_armitage_trend",
        "events_burstiness_goh",
        "sample_horvitz_thompson",
        "orders_theil_u2_forecast",
        "ts_cointegration_engle_granger",
        "ts_forecast_theta_method",
        "events_brier_decomposition",
        "orders_zero_inflation_score",
        "lineitem_bullwhip_ratio",
    }
)


def test_no_unregistered_query_functions():
    """A public top-level ``fn(spark, sf_dir)`` in ``queries/`` is a query
    key. Unless ``@register`` puts it in the registry (or other package
    code calls it as a helper), the driver never sees it and it is dead
    weight: build, review and test cost with no graded behaviour. Only
    the parked lot in ``_PARKED`` is exempt, and no new name may join it."""
    import ast
    import pathlib

    pkg = pathlib.Path(registry.__file__).parent

    def name_of(node):
        if isinstance(node, ast.Call):
            node = node.func
        if isinstance(node, ast.Attribute):
            return node.attr
        return node.id if isinstance(node, ast.Name) else None

    candidates = {}
    callers: dict[str, set[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            scope = f"{path}:{getattr(top, 'name', top.lineno)}"
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    callers.setdefault(name_of(node), set()).add(scope)
            if (
                path.parent.name == "queries"
                and isinstance(top, ast.FunctionDef)
                and not top.name.startswith("_")
                and [a.arg for a in top.args.args[:2]] == ["spark", "sf_dir"]
                and "register" not in map(name_of, top.decorator_list)
            ):
                candidates[top.name] = scope
    unused = {
        name: scope
        for name, scope in candidates.items()
        if not callers.get(name, set()) - {scope}
    }
    orphans = sorted(
        scope.rsplit("/", 1)[-1]
        for name, scope in unused.items()
        if name not in _PARKED
    )
    assert not orphans, (
        f"query functions neither registered nor called: {orphans} — "
        "register them with @register(key, oracle=...) or delete them"
    )
    stale = sorted(_PARKED - set(unused))
    assert not stale, f"no longer parked, drop from _PARKED: {stale}"


def test_no_unused_imports():
    """An import, at module level or inside a function, whose name the
    module never uses is dead weight that deleting code tends to leave
    behind. ``from __future__``, ``__init__.py`` re-exports and lines
    marked ``# noqa`` are exempt."""
    import ast
    import pathlib

    pkg = pathlib.Path(registry.__file__).parent
    unused = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            stmt = lines[node.lineno - 1 : node.end_lineno]
            if any("# noqa" in line for line in stmt):
                continue
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                if alias.name != "*" and bound not in used:
                    rel = path.relative_to(pkg.parent)
                    unused.append(f"{rel}:{node.lineno} {bound}")
    assert not unused, f"imported but never used: {unused}"


# Every key that legitimately has no DuckDB oracle lives in the declared
# manifest (trireme_spark/rows_only.py, rendered to ROWS_ONLY.json by
# scripts/gen_rows_only.py), with the reason it cannot be SQL-mirrored
# and the pytest node(s) carrying its contract instead.
from trireme_spark.rows_only import ROWS_ONLY

ROWS_ONLY_BY_DESIGN = set(ROWS_ONLY)


def test_no_oracle_set_is_exactly_the_by_design_list():
    """A key silently losing its oracle (a typo'd @register(...,
    oracle=...) during a refactor) degrades the driver's gate for that
    key to rows-only without anyone deciding that — and the judge
    audits precisely this set. Pin it exactly, both directions."""
    no_oracle = {k for k in registry.QUERIES if k not in registry.ORACLES}
    lost = no_oracle - ROWS_ONLY_BY_DESIGN
    assert not lost, f"keys LOST their oracle without a design note: {lost}"
    gained = ROWS_ONLY_BY_DESIGN - no_oracle
    assert not gained, (
        f"keys now HAVE oracles but are still pinned rows-only: {gained} "
        "— remove them from ROWS_ONLY_BY_DESIGN"
    )


def test_rows_only_manifest_committed_and_fresh():
    """ROWS_ONLY.json is the driver-facing copy of the manifest; the
    judge computes a window's expected-green count from it, so a stale
    committed copy (rotation or registry change without re-running
    scripts/gen_rows_only.py) silently breaks that accounting."""
    import json
    import os

    from trireme_spark.rows_only import manifest

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "ROWS_ONLY.json")
    assert os.path.exists(path), "run scripts/gen_rows_only.py"
    committed = json.load(open(path))
    assert committed == manifest(), (
        "ROWS_ONLY.json is stale — re-run scripts/gen_rows_only.py"
    )


def test_rows_only_pytest_nodes_exist():
    """Each manifest entry points at the pytest node(s) that carry the
    key's correctness contract; a renamed/deleted test must break the
    manifest, not silently orphan the key's verification story."""
    import ast
    import os

    from trireme_spark.rows_only import ROWS_ONLY, WHY

    repo = os.path.dirname(os.path.dirname(__file__))
    defs_by_file: dict[str, set[str]] = {}
    for wc, nodes in ROWS_ONLY.values():
        assert wc in WHY
        assert nodes, "every rows-only key needs at least one pytest node"
        for node in nodes:
            fname, _, func = node.partition("::")
            assert func, f"malformed node {node!r}"
            if fname not in defs_by_file:
                tree = ast.parse(open(os.path.join(repo, fname)).read())
                defs_by_file[fname] = {
                    n.name for n in ast.walk(tree)
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
            assert func in defs_by_file[fname], (
                f"{node}: test function not found — manifest is stale"
            )
