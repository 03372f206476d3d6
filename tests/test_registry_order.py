"""The driver's correctness gate verifies only a capped prefix (50)
of the ``queries()`` dict, in the order ``verify_order`` computes from
the committed CORRECTNESS_r*.json history. These tests pin the verify
discipline on that real history and on small synthetic ones:

1. every query red / hash-failed / errored in the LATEST round leads,
2. a query with no row on its current implementation comes next,
3. then oldest-verified first, so nothing goes more than 3 rounds
   without a fresh driver row, this round or in simulated later ones,
4. the order is a deterministic permutation whose mandatory set is a
   prefix that fits the window.

When a new round's CORRECTNESS file lands, every check recomputes."""

from __future__ import annotations

import ast
import glob
import os
import random
import subprocess
import sys
import textwrap

import __spark_entry__
from hz_csv2parquet_spark.queries import (
    REGISTRY,
    Query,
    correctness_history,
    ordered_registry,
    row_failed,
    verify_order,
)

DRIVER_WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _q(name: str, since: int = 0) -> Query:
    return Query(name, fn=None, sql=None, since=since)


#: A 9-query catalog over rounds 1-5 with a 6-row window: two latest-round
#: failures, a rows-only ``no_oracle`` row (not a failure), a changed and
#: a never-verified implementation, and green rows of every age.
SYNTH_REGISTRY = {
    q.name: q
    for q in [
        _q("a_failed"),
        _q("b_errored"),
        _q("c_changed", since=6),
        _q("d_no_oracle"),
        _q("e_old"),
        _q("f_old"),
        _q("g_mid"),
        _q("h_fresh"),
        _q("i_new", since=4),
    ]
}
SYNTH_HISTORY = {
    "a_failed": {3: GREEN, 5: {**GREEN, "hash_match": False}},
    "b_errored": {5: {**GREEN, "err": "AnalysisException"}},
    "c_changed": {5: GREEN},
    "d_no_oracle": {5: {**GREEN, "hash_match": None, "err": "no_oracle"}},
    "e_old": {1: GREEN, 2: GREEN},
    "f_old": {2: GREEN},
    "g_mid": {3: GREEN},
    "h_fresh": {4: GREEN},
    "retired": {1: GREEN},  # a history row for a query no longer registered
}
SYNTH_WINDOW = 6
SYNTH_ORDER = [
    "a_failed",
    "b_errored",
    "i_new",
    "c_changed",
    "e_old",
    "f_old",
    "g_mid",
    "h_fresh",
    "d_no_oracle",
]


def _cases():
    """(registry, history, window) for the real catalog and the synthetic one."""
    return [
        (REGISTRY, correctness_history(), DRIVER_WINDOW),
        (SYNTH_REGISTRY, SYNTH_HISTORY, SYNTH_WINDOW),
    ]


def _latest(hist) -> int:
    return max((r for rounds in hist.values() for r in rounds), default=0)


def _window(registry, hist, size) -> set[str]:
    return set(verify_order(registry, hist)[:size])


def _failed_latest(registry, hist) -> set[str]:
    latest = _latest(hist)
    return {
        name
        for name, rounds in hist.items()
        if name in registry and latest in rounds and row_failed(rounds[latest])
    }


def _mandatory(registry, hist) -> set[str]:
    """Queries the next driver round must verify: latest-round failures,
    implementations without a row since they landed, and the 3-round
    staleness tail."""
    latest = _latest(hist)
    return (
        _failed_latest(registry, hist)
        | {n for n, q in registry.items() if not any(r >= q.since for r in hist.get(n, {}))}
        | {n for n in registry if n in hist and max(hist[n]) <= latest - 3}
    )


def _ages(registry, hist) -> dict[str, int]:
    """Rounds since each query's current implementation was last verified
    (never-verified ones tick from ``since``)."""
    latest = _latest(hist)
    return {
        n: latest - max([r for r in hist.get(n, {}) if r >= q.since] or [q.since])
        for n, q in registry.items()
    }


def test_verify_order_on_a_synthetic_history():
    """Failures lead, then implementations with no row since ``since``
    (oldest ``since`` first), then oldest-verified first, ties by name."""
    assert verify_order(SYNTH_REGISTRY, SYNTH_HISTORY) == SYNTH_ORDER
    # with no history every query is unverified: ordered by since, then name
    assert verify_order(SYNTH_REGISTRY, {}) == sorted(
        SYNTH_REGISTRY, key=lambda n: (SYNTH_REGISTRY[n].since, n)
    )


def test_latest_round_failures_are_rotated_in():
    for registry, hist, size in _cases():
        failed = _failed_latest(registry, hist)
        missing = failed - _window(registry, hist, size)
        assert not missing, f"round-{_latest(hist)} failures outside the window: {missing}"
    assert _failed_latest(SYNTH_REGISTRY, SYNTH_HISTORY) == {"a_failed", "b_errored"}


def test_no_query_goes_three_rounds_unverified():
    """Verify-cadence forcing rule. The threshold is 3 rounds: a K-round
    rule needs a window slot for every query every K+1 rounds, i.e.
    |catalog|/(K+1) slots per round. K=2 at 166 queries demanded 55.3,
    more than the 50-slot window; K=3 leaves slack for re-verifying
    failures and changed implementations. Never-verified queries tick
    from ``Query.since``."""
    for registry, hist, size in _cases():
        latest = _latest(hist)
        stale = {n for n in registry if n in hist and max(hist[n]) <= latest - 3} | {
            n for n in registry if n not in hist and registry[n].since <= latest - 3
        }
        missing = stale - _window(registry, hist, size)
        assert not missing, f"queries ≥3 rounds unverified but outside the window: {missing}"
    assert {"e_old", "f_old"} <= _mandatory(SYNTH_REGISTRY, SYNTH_HISTORY)


def test_rotation_set_names_real_queries_and_fits_the_window():
    """Everything the next round must verify is a registered query, and
    all of it fits the window."""
    for registry, hist, size in _cases():
        mandatory = _mandatory(registry, hist)
        assert mandatory <= set(registry), f"unknown queries: {mandatory - set(registry)}"
        assert len(mandatory) <= size, (
            f"{len(mandatory)} mandatory queries exceed the {size}-row verify cap"
        )


def test_priority_block_is_a_stable_prefix():
    """Everything the next round must verify sorts ahead of everything
    it may skip, and the order is the same on every call."""
    for registry, hist, _ in _cases():
        order = verify_order(registry, hist)
        mandatory = _mandatory(registry, hist)
        assert set(order[: len(mandatory)]) == mandatory, (
            f"mandatory queries outside the prefix: {mandatory - set(order[: len(mandatory)])}"
        )
        assert verify_order(registry, hist) == order


def test_catalog_growth_frozen_while_backlog_exceeds_window():
    """While a verification backlog persists, new or changed
    implementations (``since`` past the latest round) are capped at the
    window slack left after the backlog is scheduled. Backlog = queries
    with no row on an implementation that landed by the latest round,
    plus the 3-round staleness tail."""
    for registry, hist, size in _cases():
        latest = _latest(hist)
        backlog = {
            n
            for n, q in registry.items()
            if (n in hist and max(hist[n]) <= latest - 3)
            or (q.since <= latest and not any(r >= q.since for r in hist.get(n, {})))
        }
        slack = max(0, size - len(backlog))
        new = {n for n, q in registry.items() if q.since > latest}
        assert len(new) <= slack, (
            f"{len(new)} new implementations ({sorted(new)}) but only {slack} window "
            f"slots remain after the {len(backlog)}-query verification backlog — "
            "freeze catalog changes until driver coverage catches up"
        )


def test_hard_staleness_ceiling():
    """No query's latest driver row (or, for never-verified queries,
    ``since``) is more than 3 rounds old. The 3-round rule forces age-3
    queries into the window; this catches a query the driver kept
    deferring anyway."""
    for registry, hist, _ in _cases():
        latest = _latest(hist)
        over_ceiling = {
            n
            for n in registry
            if (n in hist and max(hist[n]) < latest - 3)
            or (n not in hist and registry[n].since < latest - 3)
        }
        assert not over_ceiling, (
            f"queries >3 rounds without a driver CORRECTNESS row: {over_ceiling}"
        )


def test_catalog_size_fits_the_verify_cadence():
    """A catalog of N queries on a W-slot window needs N/4 ≤ W
    steady-state slots (every query revisited within 4 rounds); real
    rounds also spend slots on failures and changed implementations,
    so keep ≥15% slack. Shrink the catalog or raise the window before
    registering past that."""
    for registry, _, size in _cases():
        demand = len(registry) / 4
        assert demand <= 0.85 * size, (
            f"{len(registry)} queries need {demand:.1f} steady-state verify slots "
            f"per round; the {size}-row window leaves too little slack"
        )


def _verify_window(registry, hist, size) -> dict:
    """The history after a driver round that verifies the window green."""
    nxt = _latest(hist) + 1
    out = {n: dict(rounds) for n, rounds in hist.items()}
    for n in verify_order(registry, hist)[:size]:
        out.setdefault(n, {})[nxt] = GREEN
    return out


def test_next_round_window_is_feasible():
    """Don't just satisfy this round's window — simulate the next one:
    the driver verifies exactly the current window at round latest+1,
    then round latest+2's mandatory set must still fit."""
    for registry, hist, size in _cases():
        projected = _verify_window(registry, hist, size)
        mandatory = _mandatory(registry, projected)
        assert len(mandatory) <= size, (
            f"round-{_latest(hist) + 2} would be infeasible: {len(mandatory)} "
            f"mandatory queries > {size}-row window"
        )


def test_forward_simulation_keeps_the_cadence():
    """Five further driver rounds that each verify the window green: every
    round's mandatory set fits, and no query ages past 3 rounds."""
    for registry, hist, size in _cases():
        for _ in range(5):
            mandatory = _mandatory(registry, hist)
            assert len(mandatory) <= size, (
                f"round {_latest(hist) + 1}: {len(mandatory)} mandatory > {size}"
            )
            oldest = max(_ages(registry, hist).values())
            assert oldest <= 3, f"round {_latest(hist) + 1}: a query aged {oldest} rounds"
            hist = _verify_window(registry, hist, size)


def test_ordering_is_a_permutation_of_the_registry():
    for registry, hist, _ in _cases():
        order = verify_order(registry, hist)
        assert sorted(order) == sorted(registry)
        # deterministic: independent of registration order
        names = list(registry)
        random.Random(0).shuffle(names)
        assert verify_order({n: registry[n] for n in names}, hist) == order
    assert list(ordered_registry()) == verify_order(REGISTRY, correctness_history())
    assert list(__spark_entry__.queries()) == list(ordered_registry())


def test_history_is_read_on_call_not_at_import():
    """Importing the catalog opens no CORRECTNESS file; ordering does."""
    probe = textwrap.dedent(
        """
        import sys
        opened = []
        sys.addaudithook(
            lambda ev, args: ev == "open" and "CORRECTNESS_r" in str(args[0])
            and opened.append(args[0])
        )
        from hz_csv2parquet_spark import queries
        print(len(opened))
        queries.ordered_registry()
        print(len(opened))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    assert out[0] == "0" and int(out[1]) > 0, out


def _test_imports() -> set[tuple[str, str]]:
    """``(module, name)`` for every ``from <module> import <name>`` in ``tests/``."""
    found = set()
    for path in glob.glob(os.path.join(REPO, "tests", "*.py")):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                found |= {(node.module, alias.name) for alias in node.names}
    return found


def test_every_query_function_is_registered_or_imported_by_a_test():
    """A public top-level ``(spark, sf_dir)`` function in a query module is
    either a registered query or a retired one that a test still imports;
    a retired function nothing imports is dead code and goes. Private
    ``_`` helpers with the same signature are left to their callers."""
    registered = {(q.fn.__module__, q.fn.__name__) for q in REGISTRY.values()}
    reachable = registered | _test_imports()
    unreachable = []
    for path in sorted(glob.glob(os.path.join(REPO, "hz_csv2parquet_spark", "queries*.py"))):
        module = "hz_csv2parquet_spark." + os.path.basename(path)[: -len(".py")]
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if (
                isinstance(node, ast.FunctionDef)
                and not node.name.startswith("_")
                and [a.arg for a in node.args.args] == ["spark", "sf_dir"]
                and (module, node.name) not in reachable
            ):
                unreachable.append(f"{module}.{node.name}")
    assert not unreachable, f"query functions nothing registers or imports: {unreachable}"
