"""Static locks on bench.py's measurement structure (no Spark session).

VERDICT r12 #2: the once-key repeat pass replays ONCE_CHAIN in fresh
sessions, so the chain must stay a faithful mirror of the main pass —
same keys, same order — or the repeat samples measure different
preconditions than the main reading they're medianed with.
"""

import re

import bench
from databricks_incremental_lakehouse_spark.registry import ORACLE, QUERIES


def _main_pass_once_keys():
    """The once["once.*"] assignment keys in bench.py source order,
    excluding the stream drains (deliberately outside ONCE_CHAIN)."""
    src = open(bench.__file__).read()
    # only the main() body assigns into once[...]; ONCE_CHAIN itself is a
    # list of tuples, so the bracket-assignment pattern can't match it
    keys = re.findall(r'once\["(once\.[a-z0-9_]+)"\]\s*=', src)
    return [k for k in keys if not k.startswith("once.stream_")]


def test_once_chain_mirrors_main_pass_order():
    assert [k for k, _ in bench.ONCE_CHAIN] == _main_pass_once_keys()


def test_once_chain_queries_registered():
    names = [n for _, n in bench.ONCE_CHAIN]
    assert len(set(names)) == len(names)
    for n in names:
        assert n in QUERIES, n
        assert n in ORACLE, n
    for n in bench._ONCE_WARMERS:
        assert n in QUERIES, n


def test_timed_query_lists_registered():
    for n in bench.EXT_QUERIES + bench.OTHER_TIMED_QUERIES:
        assert n in QUERIES, n


def test_headline_band_runs_in_second_session(spark, sf_smoke):
    """The contamination self-repeat runs the band in the FRESH end-probe
    session after the main session stopped — the band must be session-
    agnostic (it builds its whole warehouse from scratch in a tmp dir).
    Exercises that path directly: two band calls against the live test
    session accumulate independent totals and per-key samples."""
    samples = {}

    def record(key, sec):
        samples.setdefault(key, []).append(sec)

    totals = []
    bench.run_headline_band(spark, sf_smoke, record, totals, reps=1)
    bench.run_headline_band(spark, sf_smoke, record, totals, reps=1)
    assert len(totals) == 2 and all(t > 0 for t in totals)
    assert len(samples["pipeline_sales"]) == 2
    assert len(samples["bi_monthly_trend_series"]) == 2
