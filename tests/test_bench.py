"""bench.py failure isolation: one failing query never stops the run."""

from __future__ import annotations


class _Query:
    def __init__(self, fn):
        self.fn = fn


def test_measure_records_errors_and_keeps_going(spark, sf_dir, capsys):
    import bench

    runs = {"flaky": 0}

    def flaky(s, sf):
        runs["flaky"] += 1
        if runs["flaky"] == 1:
            raise RuntimeError("warm-up only")
        return s.range(3)

    registry = {
        "bad": _Query(lambda s, sf: s.range(3).select("missing")),
        "good": _Query(lambda s, sf: s.range(5)),
        "flaky": _Query(flaky),
    }
    timings, errors = bench.measure(spark, registry, sf_dir)
    # every query ran in all three passes, whatever failed before it
    assert runs["flaky"] == 3
    assert set(timings) == {"good", "flaky"}
    assert all(t >= 0 for t in timings.values())
    # warm-up errors count too: the first error per query is kept
    assert errors["flaky"] == "warmup: RuntimeError: warm-up only"
    assert errors["bad"].startswith("warmup: AnalysisException: ")
    assert set(errors) == {"bad", "flaky"}
    err = capsys.readouterr().err
    assert "[bench] bad failed" in err and "[bench] flaky failed" in err


def test_summary_withholds_partial_total():
    import bench

    timings = {"good": 0.5, "flaky": 1.25}
    full = bench.summary(timings, {})
    assert full["value"] == 1.75 and full["n_failed"] == 0
    partial = bench.summary(timings, {"bad": "measured: RuntimeError: x"})
    # a run that lost a query reports no total, only the count that failed
    assert partial["value"] is None
    assert partial["n_failed"] == 1
    assert partial["n_queries"] == 2 and partial["max_sec"] == 1.25
    assert set(partial) == set(full)
