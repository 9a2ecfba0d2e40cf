"""Re-expression of cola's budget-accounting tests (BudgetApplyServer:
apply never over-grants, finish accumulates to ALLFINISHED, error
returns budget) — BASELINE.json:6."""

from pyspark.sql import functions as F

from cola_spark.operators.budget import (
    all_finished,
    budget_caps,
    init_budget_state,
    update_budget_state_outcomes,
)


def _budgets(spark, rows):
    return spark.createDataFrame(rows, "host string, budget long, rate_per_round long")


def _outcomes(spark, rows):
    """One round's (host, n_granted, n_finished, n_errored) frame."""
    return spark.createDataFrame(
        rows, "host string, n_granted long, n_finished long, n_errored long"
    )


def test_apply_never_over_grants(spark):
    st = init_budget_state(_budgets(spark, [("h1", 5, 3), ("h2", 10, 100)]))
    caps = {r.host: r.cap for r in budget_caps(st).collect()}
    assert caps == {"h1": 3, "h2": 10}  # min(remaining, rate)
    # grant 3 to h1 twice → remaining 2 then cap 2; never exceeds budget
    st = update_budget_state_outcomes(st, _outcomes(spark, [("h1", 3, 0, 0)]))
    caps = {r.host: r.cap for r in budget_caps(st).collect()}
    assert caps["h1"] == 2
    st = update_budget_state_outcomes(st, _outcomes(spark, [("h1", 2, 0, 0)]))
    assert "h1" not in {r.host for r in budget_caps(st).collect()}  # exhausted


def test_error_returns_budget(spark):
    st = init_budget_state(_budgets(spark, [("h1", 5, 5)]))
    st = update_budget_state_outcomes(st, _outcomes(spark, [("h1", 5, 3, 2)]))
    row = st.first()
    assert row.applied == 3 and row.finished == 3 and row.errored == 2
    caps = {r.host: r.cap for r in budget_caps(st).collect()}
    assert caps["h1"] == 2  # the 2 errored grants came back


def test_allfinished_transition(spark):
    st = init_budget_state(_budgets(spark, [("h1", 2, 9), ("h2", 1, 9)]))
    assert not all_finished(st)
    st = update_budget_state_outcomes(
        st, _outcomes(spark, [("h1", 2, 2, 0), ("h2", 1, 1, 0)])
    )
    assert all_finished(st)


def test_aimd_hand_replay_and_bounds(spark):
    """AIMD recurrence replayed sequentially in Python; cap and floor
    trajectories pinned."""
    from cola_spark.operators.budget import aimd_rates
    import pyspark.sql.functions as F

    # h_up: 8 successes -> climbs 5..12 capped at 16? r0=4: 5,6,..12
    # h_down: 8 errors -> 2,1,1,1,...
    # h_mix: alternating
    rows = []
    for t in range(1, 9):
        rows += [("h_up", t, True), ("h_down", t, False),
                 ("h_mix", t, t % 2 == 1)]
    out = spark.createDataFrame(rows, "host string, round long, ok boolean")
    got = {}
    for r in aimd_rates(out, rounds=8, r0=4, cap=8).collect():
        got[(r.host, r.round)] = r.rate
    exp = {}
    for h in ("h_up", "h_down", "h_mix"):
        rate = 4
        for t in range(1, 9):
            ok = {"h_up": True, "h_down": False, "h_mix": t % 2 == 1}[h]
            rate = min(8, rate + 1) if ok else max(1, rate // 2)
            exp[(h, t)] = rate
    assert got == exp
    assert got[("h_up", 8)] == 8      # cap reached and held
    assert got[("h_down", 8)] == 1    # floor reached and held


def test_waterfill_hand_cases_and_properties(spark):
    """Known allocations on a hand case, plus the defining properties:
    exact conservation, demand cap, and max-min fairness (capped
    allocations within +-1 of each other, all >= any full grant that
    is below the level)."""
    from cola_spark.operators.budget import waterfill_alloc

    df = spark.createDataFrame(
        [("a", 2), ("b", 50), ("c", 7), ("d", 50), ("e", 1)],
        "host string, demand long",
    )
    got = {r.host: r for r in waterfill_alloc(df, 60).collect()}
    assert {h: r.alloc for h, r in got.items()} == {
        "a": 2, "b": 25, "c": 7, "d": 25, "e": 1
    }
    # C=10: level 2, remainder 1 -> first capped host in host order (+1)
    got10 = {r.host: r for r in waterfill_alloc(df, 10).collect()}
    assert {h: r.alloc for h, r in got10.items()} == {
        "a": 2, "b": 3, "c": 2, "d": 2, "e": 1
    }
    for C in (0, 10, 60, 200):
        rows = waterfill_alloc(df, C).collect()
        total_d = sum(r.demand for r in rows)
        assert sum(r.alloc for r in rows) == min(C, total_d)
        assert all(r.alloc <= r.demand for r in rows)
        capped = [r.alloc for r in rows if r.capped]
        if capped:
            assert max(capped) - min(capped) <= 1
            full = [r.alloc for r in rows if not r.capped]
            assert all(f <= max(capped) for f in full) or not full
