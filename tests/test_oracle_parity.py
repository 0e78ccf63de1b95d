"""The primary correctness gate, run locally: every registered query
with an oracle must value-match DuckDB at sf0.001 (fast) — mirroring
the driver's sf0.01 check.
"""

import pytest

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
    REGISTRY,
)

from conftest import SF_SMOKE, assert_matches_oracle

ORACLED = sorted(name for name, (_, sql) in REGISTRY.items() if sql is not None)
ROWS_ONLY = sorted(name for name, (_, sql) in REGISTRY.items() if sql is None)

#: r13 verify-window fix: the sf0.001 oracle check for these queries is
#: dominated by fixed-round TRAINING loops (pca: 80 power iterations =
#: 82 s; ann_ivf/ann_lsh/ann_quantized: k-means/LSH index builds;
#: python_datasource_sim: a subprocess datasource), not by operator
#: logic. Each keeps faster default-set contract coverage —
#: test_models.test_pca_top_component_matches_numpy_eigenvector,
#: test_dedup_similarity's ivf/ann recall+index tests,
#: test_python_datasource's full suite — and the driver's own
#: CORRECTNESS window samples them at sf0.01 every round.
_SLOW_ORACLE = {
    "pca_top_component",
    "ann_ivf_topk",
    "ann_quantized_topk",
    "ann_lsh_topk",
    "python_datasource_sim",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLE else n
        for n in ORACLED
    ],
)
def test_query_matches_oracle(spark, duck, name):
    fn, sql = REGISTRY[name]
    df = fn(spark, SF_SMOKE)
    assert_matches_oracle(df, duck, sql, SF_SMOKE)


def test_registry_fully_oracled():
    """r9 closed the rows-only set (the 5 approximate/iterative queries
    now emit oracle-predictable invariant certificates) — pin that no
    future registration quietly reopens it: every registry entry must
    carry an oracle."""
    assert ROWS_ONLY == [], f"rows-only queries reappeared: {ROWS_ONLY}"


def test_register_rejects_duplicate_name():
    """A duplicate @register name used to silently overwrite the earlier
    query AND its oracle in REGISTRY (dict assignment): it shadowed an
    earlier query twice during r9, the one demonstrated way a green
    board can lose a query without any gate firing. register() must
    raise, and the original entry must stay untouched."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        register,
    )

    existing = next(iter(REGISTRY))
    before = REGISTRY[existing]
    with pytest.raises(ValueError, match="already registered"):

        @register(existing, "SELECT 1")
        def _dup(spark, sf_dir):  # pragma: no cover - must not register
            raise AssertionError

    assert REGISTRY[existing] is before
    assert REGISTRY[existing][0].__name__ != "_dup"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"email", "birthYear", "customer", "score"}


def test_contract_alignment():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)


def test_unchecked_queries_inside_driver_window():
    """The driver's CORRECTNESS gate samples only the FIRST 50 entries
    of queries(). Any registry entry that has never appeared in a
    CORRECTNESS_r*.json must therefore sit inside that window, or it
    will never get a driver row (the round-2 verdict's top finding).
    plans/queries._driver_order now computes this (never-checked names
    first), so this guard can only fire if that computation regresses
    or >50 unchecked queries queue while a checked one holds a slot."""
    import glob
    import json
    import os

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        all_queries,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = set()
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        try:
            seen |= set(json.load(open(f)))
        except Exception:
            pass
    order = list(all_queries())
    outside = [n for i, n in enumerate(order) if i >= 50 and n not in seen]
    if outside:
        # More never-checked queries than window slots is allowed (they
        # queue for the next round) — but only if no slot is wasted on a
        # query that already has a driver row.
        wasted = [n for n in order[:50] if n in seen]
        assert not wasted, (
            f"already-driver-checked queries occupy window slots {wasted} "
            f"while never-checked queries wait outside: {outside}"
        )


def test_register_rejects_duplicate_names():
    """Re-registering a known name with a None oracle must also fail
    loudly: a second winnowing_fingerprints once shadowed the original
    this way before review caught it."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        register,
    )

    with pytest.raises(ValueError, match="already registered"):

        @register("dedup_exact", None)
        def _shadow(spark, sf_dir):  # pragma: no cover - never runs
            return None


def test_driver_window_rotates_oldest_checked_first():
    """r11 (VERDICT r10 #3): once the never-checked queue is empty,
    green names must sort OLDEST latest-round first so the 50-slot
    window re-samples stale names instead of freezing on registration
    order — window staleness is bounded at ~ceil(383/50) rounds."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        _LATEST_ROUND,
        _ROWS_ONLY_LATEST,
        _driver_order,
        _driver_status,
    )

    order = _driver_order()
    status = _driver_status()
    greens = [
        n
        for n in order
        if status.get(n) and n not in _ROWS_ONLY_LATEST
    ]
    rounds = [_LATEST_ROUND.get(n, 0) for n in greens]
    assert rounds == sorted(rounds), (
        "green tier must be ordered by staleness (oldest round first)"
    )
