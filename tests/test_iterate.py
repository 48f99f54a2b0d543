"""The shared superstep loop (``functions.iterate.converge``) without Spark:
the bound, the quiet/patience streak, the resume from committed metrics and
the records."""

from graftlouvain.functions.iterate import converge, settle


def _counting_step(metrics):
    """A step that adds 1 to the state and reports ``metrics[i]``."""
    return lambda state, i: (state + 1, metrics[i])


def test_converge_yields_each_state_with_its_record():
    out = list(converge(0, _counting_step([5, 6, 7]), 3))
    assert [state for state, _ in out] == [1, 2, 3]
    assert [(r.step, r.metric) for _, r in out] == [(0, 5), (1, 6), (2, 7)]
    assert all(r.wall_ms >= 0 for _, r in out)


def test_non_quiet_metric_resets_streak():
    # quiet, loud, quiet, quiet: the loud superstep restarts the count, so
    # patience 2 ends the loop after superstep 3, not after superstep 2
    metrics = [0, 1, 0, 0, 0, 0]
    state, records = settle(
        0, _counting_step(metrics), 6, quiet=lambda m: m == 0, patience=2
    )
    assert [r.step for r in records] == [0, 1, 2, 3]
    assert state == 4


def test_start_streak_at_patience_runs_nothing():
    def step(state, i):
        raise AssertionError("no superstep may run")

    # the committed supersteps end in a quiet run as long as the patience
    state, records = settle("s", step, 10, quiet=lambda m: m == 0, patience=2, done=[3, 0, 0])
    assert (state, records) == ("s", [])


def test_records_numbered_from_start():
    state, records = settle(0, _counting_step(list(range(10))), 7, done=[0, 1, 2, 3])
    assert [(r.step, r.metric) for r in records] == [(4, 4), (5, 5), (6, 6)]
    assert state == 3


def test_max_iter_caps_loop():
    # never quiet: the bound alone stops it
    state, records = settle(0, _counting_step([1] * 10), 5, quiet=lambda m: m == 0)
    assert len(records) == 5 and state == 5
    state, records = settle(0, _counting_step([]), 0)
    assert (state, records) == (0, [])


def test_resumed_streak_counts_toward_patience():
    # the committed run ends in one quiet superstep (the earlier one is
    # broken off by a loud one): one more ends it
    state, records = settle(
        0, _counting_step([0] * 10), 10, quiet=lambda m: m == 0, patience=2,
        done=[0, 1, 0],
    )
    assert [r.step for r in records] == [3]
