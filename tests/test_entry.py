"""Driver-contract smoke: entry() runs and every query executes at sf0.001."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_every_query_has_runnable_plan(query_frames):
    # frames built once per session (conftest.query_frames — r13: the
    # four registry sweeps no longer rebuild all ~412 plans each)
    assert query_frames, "query registry is empty"
    for name, df in query_frames.items():
        # schema resolution + a cheap action on the smoke scale
        assert df.columns, name
        df.limit(1).collect()


def test_oracles_reference_known_queries():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)


def test_proof_rounds_come_from_committed_correctness_files():
    """Rounds 1-12 rank every oracle query exactly as the hand-kept
    per-round lists did (pinned by digest over ``name:round`` lines);
    round 13 registers from its file alone."""
    import hashlib

    from projectdatalake_spark import queries as Q

    rounds = entry_mod._VERIFIED_BY_ROUND
    assert len(rounds) >= 13 and rounds[12]
    latest = {n: r for r, names in enumerate(rounds[:12], 1) for n in names}
    pin = "\n".join(
        f"{n}:{r}" for n, r in sorted(latest.items()) if n in Q.ORACLES
    )
    assert hashlib.sha256(pin.encode()).hexdigest() == (
        "13200db983122525e9a4b7df749a2259affeb29b4bb19482f871f7e038d72921"
    )
    # the one name the hand lists carried without a hash proof has no
    # oracle, so its rank never depended on the lists
    assert "agg_approx_distinct" not in Q.ORACLES
    assert all(entry_mod._LATEST_PROOF_ROUND[n] == 13 for n in rounds[12])
